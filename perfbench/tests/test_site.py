"""The generated scrape site: determinism and self-consistency."""

import hashlib

from perfbench.scrape_site import (HOST, LAST_PAGES, N_SHOPS, PAGE_KB_RANGE,
                                   SHADOW_SHARES, SiteFetcher, make_site)
from unilever_scraping_etl_spark.sources.extraction import (
    extract_links, extract_product_raw, page_stats)


def _site_bytes(site) -> str:
    h = hashlib.sha256()
    for shop in site.shops:
        for page in range(1, shop.last_page + 3):
            h.update(site.catalog_page(shop, page).encode())
    for p in site.expected_products():
        h.update(site.page(p.url).encode())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_site():
    a, b, c = make_site(7), make_site(7), make_site(8)
    assert a == b and _site_bytes(a) == _site_bytes(b)
    assert a.shops != c.shops
    assert _site_bytes(a) != _site_bytes(c)


def test_site_shape_within_stated_ranges():
    site = make_site(3)
    assert len(site.shops) == N_SHOPS
    assert sorted(s.last_page for s in site.shops) == sorted(LAST_PAGES)
    assert sorted(s.shadow_share for s in site.shops) == sorted(SHADOW_SHARES)
    totals = [len(make_site(seed).expected_products()) for seed in range(20)]
    assert max(totals) - min(totals) < 0.1 * min(totals)
    sizes = [len(site.catalog_page(s, 1)) for s in site.shops]
    assert all(PAGE_KB_RANGE[0] * 1024 * 0.9 <= n <= PAGE_KB_RANGE[1] * 1024
               for n in sizes)


def test_pages_agree_with_expected_rows():
    site = make_site(11)
    fetch = SiteFetcher(site)
    shop = site.shops[0]
    links = []
    for page in range(1, shop.last_page + 1):
        res = fetch(f"{HOST}{shop.slug}" + ("" if page == 1 else f"/page/{page}"))
        valid, invalid, ok = page_stats(res.html)
        assert ok and valid >= 1 and valid + invalid == shop.cards_per_page
        links += extract_links(res.html)
    beyond = fetch(f"{HOST}{shop.slug}/page/{shop.last_page + 1}")
    assert page_stats(beyond.html) == (0, 0, False)
    assert fetch(f"{HOST}no-such-shop").status == 404
    want = [p for p in site.expected_products() if p.url.startswith(HOST + shop.slug + "/")]
    assert [HOST + link for link in links] == [p.url for p in want]
    for p in want:
        raw = extract_product_raw(fetch(p.url).html)
        assert raw["name_raw"] == p.name
        assert (raw["price_raw"] is None) == (p.price is None)
        assert raw["detail_raw"] == p.detail
    assert site.expected_last_pages()[shop.slug] == shop.last_page


def test_fetcher_ships_no_page_map():
    import pickle
    assert len(pickle.dumps(SiteFetcher(make_site(1)))) < 2048
