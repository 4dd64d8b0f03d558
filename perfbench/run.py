"""spark-graft benchmark: end-to-end and per-layer metrics on two workloads.

Usage (from any working directory):

    python3 perfbench/run.py --workload iterative_long --seed 1 --seconds 20 --trace 0

Workloads: ``iterative_long`` and ``scrape_etl`` (see README.md). One
process drives the engine as a closed loop with one client on
``local[<cores>]``; the seed sets the per-pass query order and the
generated scrape site.

Each run sets up (session start, Python-lane warm-up, one warm pass
whose outputs are checked), then runs at least ``MIN_PASSES`` whole
passes, and more while another still fits in ``--seconds``. With ``--trace 0`` it
reports the end-to-end metrics. With ``--trace 1`` it runs
one settling pass, then untraced and traced passes in an ABBA cycle, and
reports the per-layer metrics, including the tracing overhead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Generated tables and oracle digests are cached under ``.perfbench/``
at the checkout root; each run's temporary files live under
``.perfbench/run-<pid>/`` and are removed when it ends. Before it exits,
a run ends every process it started (the JVM, PySpark's worker daemon
and its workers) and waits for each (``procs.py``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("iterative_long", "scrape_etl")
#: Timed passes a run makes at least, so that each operation's median
#: over the passes drops a pass slowed by a burst of host load. A
#: scrape_etl run makes two, the most that keeps a full measurement
#: (4 + 22 runs per workload) inside its time limit on a loaded host.
MIN_PASSES = {"iterative_long": 3, "scrape_etl": 2}


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env():
    """Point Python workers at the checkout (they import the package by
    name when they unpickle a UDF) and keep every temporary file inside
    the checkout. Must run before pyspark starts its JVM."""
    from perfbench.workloads import Paths

    base = os.path.join(ROOT, ".perfbench")
    paths = Paths(os.path.join(base, "cache"), os.path.join(base, f"run-{os.getpid()}"))
    os.makedirs(paths.cache, exist_ok=True)
    for entry in os.listdir(base):  # left behind by a run that was killed
        pid = entry[len("run-"):]
        if entry.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = paths.sub("tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = paths.sub("spark-local")
    # no hsperfdata file in the system /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return paths


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def run(args, paths) -> dict:
    from perfbench import measure, tables, workloads
    from perfbench.trace import Tracer

    trace = bool(args.trace)
    tally = measure.Tally()

    # Inputs first: they are the benchmark's, not the program's set-up.
    scrape = args.workload == "scrape_etl"
    if scrape:
        from perfbench.scrape_site import SiteFetcher, make_site
        site = make_site(args.seed)
    else:
        tables_dir = tables.ensure(os.path.join(paths.cache, "data"),
                                   workloads.SF, workloads.TABLE_SEED)
        oracles = workloads.OracleDigests(paths.cache, tables_dir, paths.sub("duckdb"))

    event_log = paths.sub("eventlog") if trace else None
    t0 = time.perf_counter()
    spark = workloads.start_session(paths, event_log)
    try:
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workloads.warm_lanes(spark, workloads.LANES[args.workload])
        warm_s = time.perf_counter() - t0
        if scrape:
            wl = workloads.ScrapeWorkload(spark, site, paths.sub("scrape"))
            warm_pass_s = wl.run_pass(tally, label="warm").wall
        else:
            wl = workloads.QueryWorkload(workloads.ITERATIVE_LONG, spark, tables_dir,
                                         oracles, args.seed)
            warm_pass_s = wl.warm_and_check(tally)
            oracles.close()
        setup_s = start_s + warm_s + warm_pass_s
        print(f"# setup: session {start_s:.2f} s, lanes {warm_s:.2f} s, "
              f"warm pass {warm_pass_s:.2f} s")

        # Whole passes: at least MIN_PASSES, and another while it would
        # still end within --seconds. The traced run makes one settling
        # pass it does not count, then untraced, traced, traced, untraced
        # passes (more in that cycle if time allows), so the difference
        # of their medians, the tracing overhead, is not biased by the
        # JVM still speeding up pass after pass.
        tracer = Tracer(spark.sparkContext) if trace else None
        fetch_acc, traced_fetcher = None, None
        if trace and scrape:
            sc = spark.sparkContext
            fetch_acc = (sc.accumulator(0), sc.accumulator(0.0))
            traced_fetcher = SiteFetcher(site, *fetch_acc)
        plain, traced = [], []
        deadline = time.perf_counter() + args.seconds
        i, last_wall = 0, 0.0
        min_passes = 5 if trace else MIN_PASSES[args.workload]
        while i < min_passes or time.perf_counter() + last_wall <= deadline:
            if trace and i % 4 in (2, 3):
                res = _traced_pass(wl, tally, tracer, str(i), traced_fetcher)
                traced.append(res)
            else:
                res = wl.run_pass(tally, label=str(i))
                if not (trace and i == 0):
                    plain.append(res)
            last_wall = res.wall
            i += 1

        if trace:
            metrics = _layer_metrics(spark, wl, tracer, plain, traced, start_s,
                                     warm_s, event_log, fetch_acc)
            tracer.dump(os.path.join(paths.cache, f"spans-{args.workload}.json"))
        else:
            metrics = _end_to_end(args.workload, setup_s, plain)
    finally:
        spark.stop()

    print(f"# failed_frac {tally.failed_frac:.6f} ({tally.failed}/{tally.attempted})")
    for reason in tally.reasons[:20]:
        print(f"# FAIL {reason}")
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _end_to_end(workload, setup_s, plain) -> dict:
    """End-to-end metrics over the run's untraced timed passes."""
    from perfbench import measure

    per_op: dict[str, list[float]] = {}
    for p in plain:
        for name, sec in p.ops:
            per_op.setdefault(name, []).append(sec)
    op_median = {name: statistics.median(secs) for name, secs in per_op.items()}
    n_ops = sum(len(secs) for secs in per_op.values())
    tail = measure.tail_percentile(n_ops)
    print(f"# {workload}: {len(plain)} passes, {n_ops} operations; highest "
          f"percentile with >= {measure.MIN_BEYOND} samples beyond: "
          f"{'none' if tail is None else f'p{tail:g}'}")
    for name, sec in sorted(op_median.items(), key=lambda kv: -kv[1]):
        print(f"#   {name:28s} median {sec:.3f} s over {len(per_op[name])}")
    print("# pass walls: " + ", ".join(f"{p.wall:.3f}" for p in plain))
    # A steady pass, assembled from each operation's median over the
    # passes: a burst of host load that slows one operation in one pass
    # moves the median pass wall, but not this sum.
    wall_s = sum(op_median.values())
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        # each operation's median over the passes, then the median of those
        "query_p50_s": (statistics.median(op_median.values()), "s"),
        "rows_per_s": (statistics.median(p.rows for p in plain) / wall_s, "rows/s"),
    }


def _traced_pass(wl, tally, tracer, label, fetcher):
    """One pass with every public function of the operator modules
    wrapped in a span; the wrappers are removed afterwards."""
    from perfbench.workloads import OPERATOR_MODULES

    restore = [tracer.wrap_module(
        importlib.import_module(f"unilever_scraping_etl_spark.operators.{m}"),
        f"operators.{m}") for m in OPERATOR_MODULES]
    try:
        if fetcher is not None:
            return wl.run_pass(tally, tracer, label, fetcher=fetcher)
        return wl.run_pass(tally, tracer, label)
    finally:
        for undo in restore:
            undo()


def _layer_metrics(spark, wl, tracer, plain, traced, start_s, warm_s,
                   event_log, fetch_acc) -> dict:
    """Per-layer metrics, per traced pass."""
    from perfbench.trace import fold_event_log
    from perfbench.workloads import OPERATOR_MODULES, ScrapeWorkload

    n = len(traced)
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (start_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "session.peak_rss_mb": (_peak_rss_mb(spark), "MB"),
    }
    tracer.drain()
    counts = {gid: tracer.group_jobs(gid) for gid in tracer.groups}
    scrape = isinstance(wl, ScrapeWorkload)
    if scrape:
        snap, rej = wl.last_dirs
        valid_rows = spark.read.parquet(snap).count()
        rejected_rows = spark.read.parquet(rej).count()
        files = [os.path.join(d, f) for d, _, fs in os.walk(snap)
                 for f in fs if f.endswith(".parquet")]
    spark.stop()  # flushes and closes the event log
    folded = fold_event_log(event_log)

    def jobs(layers, key="jobs"):
        return sum(c[key] for gid, c in counts.items() if tracer.groups[gid] in layers)

    span_s: dict[str, float] = {}
    for s in tracer.spans:
        span_s[s.name] = span_s.get(s.name, 0.0) + s.seconds
    build = {"registry.build"}
    execs = set(tracer.groups.values()) - build
    m["registry.build_s"] = (span_s.get("registry.build", 0.0) / n, "s")
    m["registry.build_jobs"] = (jobs(build) / n, "count")
    m["exec.s"] = (sum(span_s.get(layer, 0.0) for layer in execs) / n, "s")
    m["exec.jobs"] = (jobs(execs) / n, "count")
    for key in ("stages", "tasks", "tasks_failed"):
        m[f"exec.{key}"] = (jobs(execs, key) / n, "count")

    mine = [t for gid, t in folded.items() if gid in tracer.groups]
    run_s = sum(t.run_ms for t in mine) / 1e3
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["exec.run_s"] = (run_s / n, "s")
    m["exec.cpu_s"] = (sum(t.cpu_ns for t in mine) / 1e9 / n, "s")
    m["exec.gc_s"] = (sum(t.gc_ms for t in mine) / 1e3 / n, "s")
    m["exec.slot_busy_frac"] = (run_s / (sum(p.wall for p in traced) * cores), "ratio")
    m["shuffle.read_bytes"] = (sum(t.shuffle_read_bytes for t in mine) / n, "bytes")
    m["shuffle.write_bytes"] = (sum(t.shuffle_write_bytes for t in mine) / n, "bytes")
    m["spill.bytes"] = (sum(t.spill_bytes for t in mine) / n, "bytes")

    self_s = tracer.self_seconds("operators.")
    op_jobs: dict[str, int] = {}
    for t in mine:
        for ms in t.submit_ms:
            s = tracer.innermost(ms / 1000.0, lambda s: s.name.startswith("operators."))
            if s is not None:
                op_jobs[s.name] = op_jobs.get(s.name, 0) + 1
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        m[f"{layer}.build_s"] = (self_s.get(layer, 0.0) / n, "s")
        m[f"{layer}.jobs"] = (op_jobs.get(layer, 0) / n, "count")

    if scrape:
        calls, fetch_s = fetch_acc[0].value, fetch_acc[1].value
        useful = wl.site.catalog_pages() + len(wl.want_valid) + len(wl.want_rejected)
        ext_prod, ext_cat = _extraction_rates(wl.site)
        snap_bytes = sum(os.path.getsize(f) for f in files)
        m.update({
            "fetcher.calls": (calls / n, "count"),
            "fetcher.useful_frac": (useful * n / calls, "ratio"),
            "fetcher.s": (fetch_s / n, "s"),
            "extraction.product_pages_per_s": (ext_prod, "pages/s"),
            "extraction.catalog_pages_per_s": (ext_cat, "pages/s"),
            "ingest.probe_s": (span_s.get("ingest.probe", 0.0) / n, "s"),
            "ingest.probe_jobs": (jobs({"ingest.probe"}) / n, "count"),
            "ingest.scrape_write_s": (span_s.get("ingest.scrape_write", 0.0) / n, "s"),
            "ingest.quarantine_write_s": (span_s.get("ingest.quarantine_write", 0.0) / n, "s"),
            "ingest.readback_s": (span_s.get("ingest.readback", 0.0) / n, "s"),
            "quarantine.valid_rows": (valid_rows, "count"),
            "quarantine.rejected_rows": (rejected_rows, "count"),
            "snapshot.files": (len(files), "count"),
            "snapshot.bytes_per_row": (snap_bytes / max(valid_rows, 1), "bytes"),
        })
    else:
        m.update({name: (0.0, unit) for name, unit in SCRAPE_LAYER_UNITS.items()})

    m["trace.overhead_s"] = (statistics.median(p.wall for p in traced)
                             - statistics.median(p.wall for p in plain), "s")
    return m


#: Scrape-path layers read 0 on iterative_long, which never reaches them.
SCRAPE_LAYER_UNITS = {
    "fetcher.calls": "count", "fetcher.useful_frac": "ratio", "fetcher.s": "s",
    "extraction.product_pages_per_s": "pages/s",
    "extraction.catalog_pages_per_s": "pages/s",
    "ingest.probe_s": "s", "ingest.probe_jobs": "count",
    "ingest.scrape_write_s": "s", "ingest.quarantine_write_s": "s",
    "ingest.readback_s": "s",
    "quarantine.valid_rows": "count", "quarantine.rejected_rows": "count",
    "snapshot.files": "count", "snapshot.bytes_per_row": "bytes",
}


def _extraction_rates(site) -> tuple[float, float]:
    """Single-core, in-process DOM extraction speed on the site's own
    product and catalog pages (pages/s)."""
    from unilever_scraping_etl_spark.sources.extraction import (
        extract_product_raw, page_stats)

    products = [site.page(p.url) for p in site.expected_products()]
    catalogs = [site.catalog_page(s, p) for s in site.shops
                for p in range(1, s.last_page + 1)]
    t0 = time.perf_counter()
    for html in products:
        extract_product_raw(html)
    t1 = time.perf_counter()
    for html in catalogs:
        page_stats(html)
    t2 = time.perf_counter()
    return len(products) / (t1 - t0), len(catalogs) / (t2 - t1)


def main(argv=None) -> int:
    args = _parse(argv)
    # SIGTERM unwinds like an exception, so the session stops and the
    # run's work directory is removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    import unilever_scraping_etl_spark  # noqa: F401 - fail fast without the package
    from perfbench import procs

    procs.adopt_orphans()
    paths = _prepare_env()
    try:
        result = run(args, paths)
    finally:
        # The JVM and the Python workers it started outlive the session;
        # end them (a SIGTERM now must not cut this short) before the
        # work directory they write to is removed.
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        procs.close_jvm()
        print(f"# stopped {procs.stop_all()} processes; "
              f"{len(procs.descendants())} still running")
        shutil.rmtree(paths.run, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
