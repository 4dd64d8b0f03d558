"""Seeded offline shop site and a fetcher that synthesizes its pages.

The site has five shops, like the reference's five stores. The seed
deals each shop its last catalog page, shadow-card share and
missing-field share from fixed sets of five values, so shops differ but
every seed's site has the same total size; cards per page keep about
CARDS_PER_SHOP cards in each shop. Which cards are shadows, which
products miss a field, every name, price and page size are drawn per
page from the seed. A page is built from the package's own fixture
templates (``plans.fixtures.catalog_html`` and ``product_html``) and
padded with filler markup to a size drawn from a log-normal
distribution, so DOM extraction sees realistic bytes.

The fetcher never holds a url -> html map: it keeps only the small
``Site`` description and rebuilds any page from its URL, so the task
closures Spark ships stay a few hundred bytes. Fetch latency is zero;
the workload measures the program's CPU path, not a network.
"""

from __future__ import annotations

import math
import random
import time
from dataclasses import dataclass

from unilever_scraping_etl_spark.plans.fixtures import catalog_html, product_html
from unilever_scraping_etl_spark.sources.fetcher import FetchResult

HOST = "https://www.tokopedia.com/"

#: Values the seed deals to the five shops (reasons in README.md).
LAST_PAGES = (6, 14, 23, 31, 40)
CARDS_PER_SHOP = 90
SHADOW_SHARES = (0.05, 0.10, 0.15, 0.20, 0.25)
MISSING_SHARES = (0.03, 0.05, 0.07, 0.09, 0.11)
N_SHOPS = len(LAST_PAGES)
PAGE_KB_MEDIAN = 6.0
PAGE_KB_SIGMA = 0.5
PAGE_KB_RANGE = (2.0, 24.0)

_WORDS = ("soap shampoo lotion tea detergent fresh gentle clean pack bottle "
          "refill herbal lemon extra care daily family value size original").split()
_FILLER = "".join(
    f'<div class="css-{i}"><p>{" ".join(_WORDS[i:] + _WORDS[:i])}</p></div>'
    for i in range(len(_WORDS)))


@dataclass(frozen=True)
class Shop:
    slug: str
    last_page: int
    cards_per_page: int
    shadow_share: float
    missing_share: float


@dataclass(frozen=True)
class Product:
    """One active card's product page and the row it must produce."""
    url: str
    name: str | None
    detail: str | None
    price: int | None
    originalprice: int | None
    discountpercentage: float | None

    @property
    def quarantined(self) -> bool:
        return self.name is None or self.price is None

    def row(self) -> tuple:
        return (self.name, self.detail, self.price, self.originalprice,
                self.discountpercentage)


@dataclass(frozen=True)
class Site:
    seed: int
    shops: tuple[Shop, ...]

    @property
    def slugs(self) -> list[str]:
        return [s.slug for s in self.shops]

    def shop(self, slug: str) -> Shop:
        for s in self.shops:
            if s.slug == slug:
                return s
        raise KeyError(slug)

    # -- page content, a pure function of (seed, url) ------------------
    def _rng(self, *key) -> random.Random:
        return random.Random("/".join(map(str, (self.seed,) + key)))

    def _pad(self, html: str, rng: random.Random) -> str:
        kb = math.exp(math.log(PAGE_KB_MEDIAN) + PAGE_KB_SIGMA * rng.gauss(0, 1))
        target = int(1024 * min(max(kb, PAGE_KB_RANGE[0]), PAGE_KB_RANGE[1]))
        need = target - len(html)
        if need <= 0:
            return html
        pad = (_FILLER * (need // len(_FILLER) + 1))[:need]
        # cut at a tag boundary so the filler stays well-formed
        pad = pad[:pad.rfind("</div>") + 6] if "</div>" in pad else ""
        return html.replace("</body>", f"<footer>{pad}</footer></body>")

    def cards(self, shop: Shop, page: int) -> list[tuple[str, bool]]:
        """(href, is_shadow) for every card on a catalog page. The first
        card is never a shadow card, so every page up to ``last_page``
        has at least one valid card and the boundary search is exact."""
        if not 1 <= page <= shop.last_page:
            return []
        rng = self._rng(shop.slug, "cards", page)
        return [(f"{shop.slug}/item-{page}-{j}",
                 j > 0 and rng.random() < shop.shadow_share)
                for j in range(shop.cards_per_page)]

    def catalog_page(self, shop: Shop, page: int) -> str:
        rng = self._rng(shop.slug, "catalog", page)
        if 1 <= page <= shop.last_page:
            html = catalog_html(self.cards(shop, page),
                                next_button=page < shop.last_page)
        else:
            html = catalog_html([], empty_state=True, next_button=False)
        return self._pad(html, rng)

    def product(self, shop: Shop, href: str) -> Product:
        rng = self._rng(href)
        missing = rng.random() < shop.missing_share
        drop = rng.choice(("name", "price")) if missing else None
        base = rng.randrange(5, 500) * 1000
        name = None if drop == "name" else (
            f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS)} "
            f"{href.rsplit('/item-', 1)[1]}")
        detail = (" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(3, 12)))
                  if rng.random() < 0.7 else None)
        if rng.random() < 0.5:
            pct = rng.randrange(5, 60)
            original, price = base, base * (100 - pct) // 100
            discount = pct / 100.0
        else:
            original, price, pct, discount = None, base, None, None
        return Product(HOST + href, name, detail,
                       None if drop == "price" else price, original, discount)

    def product_page(self, shop: Shop, href: str) -> str:
        p = self.product(shop, href)
        html = product_html(
            p.name,
            None if p.price is None else _rupiah(p.price),
            p.detail,
            None if p.originalprice is None else _rupiah(p.originalprice),
            None if p.discountpercentage is None
            else f"{round(p.discountpercentage * 100)}%")
        return self._pad(html, self._rng(href, "pad"))

    def page(self, url: str) -> str | None:
        """The page at ``url``, or None for a URL the site does not have."""
        if not url.startswith(HOST):
            return None
        parts = url[len(HOST):].split("/")
        try:
            shop = self.shop(parts[0])
        except KeyError:
            return None
        if len(parts) == 1:
            return self.catalog_page(shop, 1)
        if len(parts) == 3 and parts[1] == "page" and parts[2].isdigit():
            return self.catalog_page(shop, int(parts[2]))
        if len(parts) == 2 and parts[1].startswith("item-"):
            return self.product_page(shop, url[len(HOST):])
        return None

    # -- what a correct pipeline must produce ---------------------------
    def expected_last_pages(self) -> dict[str, int]:
        return {s.slug: s.last_page for s in self.shops}

    def expected_products(self) -> list[Product]:
        return [self.product(s, href)
                for s in self.shops
                for page in range(1, s.last_page + 1)
                for href, shadow in self.cards(s, page) if not shadow]

    def catalog_pages(self) -> int:
        return sum(s.last_page for s in self.shops)


def _rupiah(n: int) -> str:
    return "Rp" + f"{n:,}".replace(",", ".")


def make_site(seed: int) -> Site:
    rng = random.Random(f"site/{seed}")
    deal = [rng.sample(values, len(values))
            for values in (LAST_PAGES, SHADOW_SHARES, MISSING_SHARES)]
    shops = tuple(
        Shop(slug=f"shop{i}-{rng.randrange(16**6):06x}",
             last_page=last,
             cards_per_page=round(CARDS_PER_SHOP / last),
             shadow_share=shadow,
             missing_share=missing)
        for i, (last, shadow, missing) in enumerate(zip(*deal)))
    return Site(seed, shops)


class SiteFetcher:
    """``url -> FetchResult`` over a ``Site``; unknown URLs are 404.

    With ``calls``/``seconds`` accumulators (the traced run), each call
    adds 1 and its own wall time, so the benchmark can read how many pages
    the pipeline fetched and what the synthetic fetch itself cost."""

    def __init__(self, site: Site, calls=None, seconds=None):
        self.site = site
        self._calls = calls
        self._seconds = seconds

    def __call__(self, url: str) -> FetchResult:
        t0 = time.perf_counter()
        html = self.site.page(url)
        if self._calls is not None:
            self._calls.add(1)
            self._seconds.add(time.perf_counter() - t0)
        if html is None:
            return FetchResult(url, 404, None, "site")
        return FetchResult(url, 200, html, "site")
