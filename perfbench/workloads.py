"""The two workloads, the session they share, and their output checks.

``iterative_long`` runs registry queries at sf0.1: one operation is the
registry build call (``QUERIES[name].spark``) plus a noop-sink write,
exactly what ``bench.py`` times. Its queries come from the graph,
hostgraph, dedup, curation and centrality operators and each runs at
least 5 Spark jobs inside its build call (measured on these tables with
``local[4]``), because their iteration loops run eagerly, one or more
jobs per round, before the build call returns.

``scrape_etl`` runs the reference dataflow (probe -> scrape -> snapshot
write -> quarantine write -> read-back) over a generated offline site.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd

SF = 0.1
#: Of generator seeds 0-59, the one whose embedding pair graph is closest
#: to the package's own sf0.1 test tables (README.md, "The generated tables").
TABLE_SEED = 16

ITERATIVE_LONG = [
    "semdedup_prune",            # curation: semantic dedup per cluster
    "dedup_embedding_clusters",  # dedup: connected components
    "host_rank",                 # hostgraph + graph: PageRank iterations
    "host_centrality_profile",   # centrality: harmonic / closeness rounds
]

#: Python execution lanes each workload's plans use, warmed in set-up.
LANES = {
    "iterative_long": ("map", "grouped"),
    "scrape_etl": ("scalar", "map"),
}

#: Operator modules the traced run wraps, one layer each.
OPERATOR_MODULES = ("graph", "hostgraph", "dedup", "curation", "centrality")

#: Columns of one snapshot row, in the order the site's expected rows use.
PRODUCT_COLS = ["name", "detail", "price", "originalprice", "discountpercentage"]


@dataclass
class Paths:
    """Directories under the checkout: ``cache`` survives between runs
    (generated tables, oracle digests); ``run`` holds this run's
    temporary files and is removed when the run ends."""
    cache: str
    run: str

    def sub(self, name: str) -> str:
        path = os.path.join(self.run, name)
        os.makedirs(path, exist_ok=True)
        return path


@dataclass
class PassResult:
    """One pass: its wall time, each operation's (name, seconds), and the
    result rows the pass produced."""
    wall: float = 0.0
    ops: list[tuple[str, float]] = field(default_factory=list)
    rows: int = 0

    @contextmanager
    def op(self, name: str, tracer=None, layer: str = "", op_id: str = ""):
        """Time one operation; with a tracer, also run it as a traced call."""
        t0 = time.perf_counter()
        try:
            if tracer is None:
                yield
            else:
                with tracer.call(layer, op_id, name):
                    yield
        finally:
            self.ops.append((name, time.perf_counter() - t0))


def start_session(paths: Paths, event_log: str | None):
    """The package's own session factory, with Spark's temporary files
    (``SPARK_LOCAL_DIRS`` is set by the caller) and, for the traced run,
    the uncompressed event log in the run dir."""
    from unilever_scraping_etl_spark.session import get_session

    conf = {
        "spark.sql.warehouse.dir": paths.sub("warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp; the
        # launcher JVM gets the same flag through SPARK_LAUNCHER_OPTS
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={paths.sub('tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    return get_session("perfbench", extra_conf=conf)


def warm_lanes(spark, lanes) -> None:
    """Start each named Python execution lane (scalar pandas UDF,
    mapInPandas, grouped applyInPandas) once, so the first query to
    touch it does not pay its worker start-up."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    ten = spark.range(10).withColumn("g", F.col("id") % 2)
    if "scalar" in lanes:  # noop sink: count() would prune the UDF column
        ten.select(ident("id").alias("x")).write.format("noop").mode("overwrite").save()
    if "map" in lanes:
        ten.mapInPandas(lambda it: it, "id long, g long").count()
    if "grouped" in lanes:
        ten.groupBy("g").applyInPandas(lambda pdf: pdf, "id long, g long").count()


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------

def digest(pdf) -> tuple[int, str]:
    """(rows, sha256) of a result in ``tools/sim_driver.py``'s canonical
    form: columns sorted by name, every value rendered at full precision,
    rows sorted — so the check is insensitive to row order only."""
    from tools.sim_driver import canon

    rows = canon(pdf)
    cols = ",".join(sorted(pdf.columns))
    return len(rows), hashlib.sha256("\n".join([cols] + rows).encode()).hexdigest()


class OracleDigests:
    """DuckDB oracle results at sf0.1, as digests cached on disk keyed by
    the oracle SQL, so only the first run in a checkout pays DuckDB."""

    def __init__(self, cache_dir: str, tables_dir: str, tmp_dir: str):
        self._tables = tables_dir
        self._tmp = tmp_dir
        self._file = os.path.join(cache_dir, "oracle-digests.json")
        self._memo = {}
        if os.path.exists(self._file):
            with open(self._file) as fh:
                self._memo = json.load(fh)
        self._con = None

    def get(self, sql: str) -> tuple[int, str]:
        key = hashlib.sha256((self._tables + "\n" + sql).encode()).hexdigest()
        if key not in self._memo:
            if self._con is None:
                import duckdb

                from perfbench.tables import TABLES
                self._con = duckdb.connect()
                self._con.execute(f"SET temp_directory='{self._tmp}'")
                for t in TABLES:
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                      f"'{self._tables}/{t}.parquet'")
            self._memo[key] = list(digest(self._con.execute(sql).fetchdf()))
            tmp = f"{self._file}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self._memo, fh)
            os.replace(tmp, self._file)
        return tuple(self._memo[key])

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


class QueryWorkload:
    """A fixed list of registry queries, run in a seeded order per pass."""

    def __init__(self, names: list[str], spark, tables_dir: str,
                 oracles: OracleDigests, seed: int):
        from unilever_scraping_etl_spark.plans.registry import QUERIES

        self.names = names
        self.specs = {n: QUERIES[n] for n in names}
        self.spark = spark
        self.tables = tables_dir
        self.oracles = oracles
        self.rng = random.Random(seed)
        self.rows = {}

    def order(self) -> list[str]:
        return self.rng.sample(self.names, len(self.names))

    def warm_and_check(self, tally) -> float:
        """One untimed-for-metrics pass that collects every result and
        compares it with its oracle. Returns the seconds spent in Spark
        (the warm pass of ``setup_s``); oracle time is excluded."""
        spark_s = 0.0
        for name in self.order():
            spec = self.specs[name]
            t0 = time.perf_counter()
            try:
                pdf = spec.spark(self.spark, self.tables).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                spark_s += time.perf_counter() - t0
                tally.record(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            spark_s += time.perf_counter() - t0
            self.rows[name] = len(pdf)
            if spec.oracle is None:
                tally.record(len(pdf) > 0, f"{name}: no rows")
                continue
            got = digest(pdf)
            want = self.oracles.get(spec.oracle)
            tally.record(got == want, f"{name}: {got[0]} rows vs oracle {want[0]}, "
                                      f"digest {'equal' if got[1] == want[1] else 'differs'}")
        return spark_s

    def run_op(self, name: str, tracer=None, op: str = "") -> None:
        """Registry build call, then a noop-sink write that evaluates every
        output column without collecting; traced, each is its own call."""
        spec = self.specs[name]
        if tracer is None:
            spec.spark(self.spark, self.tables).write.format("noop") \
                .mode("overwrite").save()
            return
        with tracer.call("registry.build", op, name):
            df = spec.spark(self.spark, self.tables)
        with tracer.call("exec", op, name):
            df.write.format("noop").mode("overwrite").save()

    def run_pass(self, tally, tracer=None, label: str = "") -> PassResult:
        res = PassResult()
        t_pass = time.perf_counter()
        for name in self.order():
            try:
                with res.op(name):
                    self.run_op(name, tracer, f"{name}#{label}")
                tally.record(True)
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                tally.record(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
            res.rows += self.rows.get(name, 0)
        res.wall = time.perf_counter() - t_pass
        return res


# ---------------------------------------------------------------------------
# Scrape ETL workload
# ---------------------------------------------------------------------------

class ScrapeWorkload:
    """The reference dataflow over a generated site. Each pass writes a
    fresh snapshot and quarantine directory, so the read-back and the
    check see exactly what that pass produced."""

    def __init__(self, spark, site, out_dir: str):
        from perfbench.scrape_site import SiteFetcher

        self.spark = spark
        self.site = site
        self.fetcher = SiteFetcher(site)
        self.out = out_dir
        self.n = 0
        products = site.expected_products()
        self.want_valid = sorted((p.row() for p in products if not p.quarantined),
                                 key=repr)
        self.want_rejected = sorted(p.url for p in products if p.quarantined)
        self.last_dirs = None

    def _dirs(self) -> tuple[str, str]:
        self.n += 1
        return (os.path.join(self.out, f"snapshot-{self.n}"),
                os.path.join(self.out, f"quarantine-{self.n}"))

    def run_pass(self, tally, tracer=None, label: str = "", fetcher=None
                 ) -> PassResult:
        from pyspark.sql import functions as F

        from perfbench.scrape_site import HOST
        from unilever_scraping_etl_spark.sources.ingest import (
            find_last_valid_page, scrape_to_snapshot, write_snapshot)

        fetcher = fetcher or self.fetcher
        snap, rej = self._dirs()
        res = PassResult()
        t_pass = time.perf_counter()
        try:
            last = {}
            for slug in self.site.slugs:
                shop = slug.split("-")[0]
                with res.op(f"probe:{shop}", tracer, "ingest.probe", f"{shop}#{label}"):
                    last[slug] = find_last_valid_page(self.spark, HOST + slug, fetcher)
            active = [s for s in self.site.slugs if last[s] > 0]
            with res.op("scrape_write", tracer, "ingest.scrape_write", f"scrape#{label}"):
                valid, rejected = scrape_to_snapshot(
                    self.spark, active, fetcher, last, persist=True)
                write_snapshot(valid, snap)
            with res.op("quarantine_write", tracer, "ingest.quarantine_write",
                        f"quarantine#{label}"):
                rejected.write.mode("append").parquet(rej)
            with res.op("readback", tracer, "ingest.readback", f"readback#{label}"):
                summary = (self.spark.read.parquet(snap)
                           .groupBy("platform")
                           .agg(F.count(F.lit(1)).alias("rows"),
                                F.sum("price").alias("revenue"))
                           .collect())
        except Exception as exc:  # noqa: BLE001 - a failed pass is a result
            tally.record(False, f"scrape pass: {type(exc).__name__}: {exc}"[:300])
            return res
        finally:
            res.wall = time.perf_counter() - t_pass
            self.spark.catalog.clearCache()
        res.rows = self.check(tally, last, snap, rej, summary)
        self.last_dirs = (snap, rej)
        return res

    def check(self, tally, last, snap, rej, summary) -> int:
        """Outside the timed pass: last pages, every snapshot row, the
        quarantined URLs and the read-back aggregate against the site.
        Returns the rows the pass wrote, valid plus quarantined."""
        want_last = self.site.expected_last_pages()
        tally.record(last == want_last, f"last pages {last} != {want_last}")
        got = sorted((tuple(r) for r in
                      self.spark.read.parquet(snap).select(*PRODUCT_COLS).collect()),
                     key=repr)
        tally.record(got == self.want_valid,
                     f"snapshot {len(got)} rows != expected {len(self.want_valid)}")
        got_rej = sorted(r.url for r in self.spark.read.parquet(rej).select("url").collect())
        tally.record(got_rej == self.want_rejected,
                     f"quarantine {len(got_rej)} rows != expected {len(self.want_rejected)}")
        want_rev = sum(r[2] for r in self.want_valid)
        ok = (len(summary) == 1 and summary[0]["rows"] == len(self.want_valid)
              and summary[0]["revenue"] == want_rev)
        tally.record(ok, f"read-back aggregate {summary} != ({len(self.want_valid)}, {want_rev})")
        return len(got) + len(got_rej)
