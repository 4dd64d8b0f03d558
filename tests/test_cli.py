"""E2E test for the thin orchestration entry point (SURVEY.md §3.1):
``python -m unilever_scraping_etl_spark run`` wiring probe -> scrape ->
quarantine -> snapshot against a fixture fetcher — the engine's analog
of the reference's DAG (unilever_scraping_pipeline.py:92-110), with
zero network.
"""

from __future__ import annotations

import json

import pytest

from unilever_scraping_etl_spark.__main__ import build_fetcher, main
from unilever_scraping_etl_spark.plans.fixtures import shop_pipeline_pages


def test_cli_run_end_to_end(spark, tmp_path, capsys):
    pages_file = tmp_path / "pages.json"
    pages_file.write_text(json.dumps(shop_pipeline_pages()))
    out = tmp_path / "snap"
    qout = tmp_path / "rejects"

    rc = main(["run", "--shops", "shopx",
               "--fetcher", f"fixture:{pages_file}",
               "--out", str(out), "--quarantine-out", str(qout),
               "--probe-step", "10", "--max-pages", "20"])
    assert rc == 0

    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["last_pages"] == {"shopx": 2}   # probe found page 2
    assert summary["valid_rows"] == 2
    assert summary["quarantined_rows"] == 1

    snap = spark.read.parquet(str(out))
    assert {r["name"] for r in snap.collect()} == {"Item One", "Item Three"}
    assert "createdate" in snap.columns            # partition column survives
    assert spark.read.parquet(str(qout)).count() == 1


def test_cli_dead_shop_writes_nothing(spark, tmp_path, capsys):
    pages_file = tmp_path / "pages.json"
    pages_file.write_text(json.dumps({}))          # every URL 404s
    out = tmp_path / "snap"
    rc = main(["run", "--shops", "ghost", "--fetcher", f"fixture:{pages_file}",
               "--out", str(out), "--probe-step", "10", "--max-pages", "20"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["last_pages"] == {"ghost": 0}
    assert summary["valid_rows"] == 0
    assert not out.exists()                        # no empty-snapshot litter


@pytest.mark.parametrize("flag", ["--probe-step", "--max-pages"])
@pytest.mark.parametrize("value", ["0", "-5"])
def test_cli_rejects_probe_bounds_below_one(tmp_path, capsys, flag, value):
    with pytest.raises(SystemExit) as exc:
        main(["run", "--shops", "shopx", "--fetcher", "fixture:unused.json",
              "--out", str(tmp_path / "snap"), flag, value])
    assert exc.value.code == 2
    assert f"argument {flag}: must be >= 1" in capsys.readouterr().err


def test_build_fetcher_specs(tmp_path):
    from unilever_scraping_etl_spark.sources.fetcher import (BrowserFetcher,
                                                             FallbackFetcher,
                                                             FixtureFetcher,
                                                             HttpFetcher)
    p = tmp_path / "p.json"
    p.write_text(json.dumps({"u": "<html></html>"}))
    assert isinstance(build_fetcher(f"fixture:{p}"), FixtureFetcher)
    assert isinstance(build_fetcher("http"), HttpFetcher)
    assert isinstance(build_fetcher("browser"), BrowserFetcher)
    assert isinstance(build_fetcher("auto"), FallbackFetcher)


def test_cli_compact_zorder_roundtrip(spark, tmp_path, capsys):
    """compact subcommand: rewrite a table z-ordered; row count survives
    and the output carries the zorder column for later incremental
    maintenance."""
    import json

    from unilever_scraping_etl_spark.__main__ import main
    from unilever_scraping_etl_spark.schemas import load_table

    from .conftest import SF_SMOKE

    src = str(tmp_path / "src")
    load_table(spark, SF_SMOKE, "lineitem") \
        .select("l_partkey", "l_suppkey", "l_quantity") \
        .write.parquet(src)
    out = str(tmp_path / "opt")
    rc = main(["compact", "--in", src, "--out", out,
               "--cluster-by", "l_partkey,l_suppkey", "--zorder",
               "--files", "4"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["zorder"] is True
    back = spark.read.parquet(out)
    assert back.count() == spark.read.parquet(src).count()
    assert "zorder" in back.columns


def test_round_report_tool_runs_and_tiers_the_window():
    """tools/round_report.py is the round-start gate: it must run
    without a Spark session, print the four window tiers, and account
    for exactly 50 window slots."""
    import pathlib
    import re
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "round_report.py")],
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    text = out.stdout
    assert "window (50 of" in text
    sizes = [int(m) for m in re.findall(
        r"(?:never-verified|wrapper-rewritten|dep-evicted|"
        r"certified-refresh) \((\d+)\)", text)]
    assert len(sizes) == 4 and sum(sizes) == 50, text


def _fake_clock(step=1.0):
    t = {"now": 0.0}

    def clock():
        t["now"] += step
        return t["now"]

    return clock


def test_bench_flaky_failure_is_disjoint_from_failures():
    """r6 ADVICE: a query that succeeds on pass 1 and raises on pass 2
    must land in flaky_failures (timing kept) — never in BOTH timings
    and failures — while a pass-1 raise is a hard failure with no
    timing."""
    from bench import collect_timings

    calls = {"flaky": 0}

    def run_one(name):
        if name == "hard":
            raise RuntimeError("always")
        if name == "flaky":
            calls["flaky"] += 1
            if calls["flaky"] > 1:
                raise RuntimeError("second pass only")

    runs, failures, flaky = collect_timings(
        ["good", "flaky", "hard"], run_one, n_runs=3, budget=1e9,
        clock=_fake_clock())
    assert list(failures) == ["hard"] and not runs["hard"]
    assert list(flaky) == ["flaky"] and len(runs["flaky"]) == 1
    assert len(runs["good"]) == 3
    assert set(failures) & set(flaky) == set()


def test_bench_budget_stops_extra_passes_only():
    """Pass 1 always completes; once the wall budget is spent, later
    passes stop and every query keeps its pass-1 timing."""
    from bench import collect_timings

    runs, failures, flaky = collect_timings(
        ["a", "b"], lambda name: None, n_runs=5, budget=3.0,
        clock=_fake_clock(step=1.0))
    assert not failures and not flaky
    assert len(runs["a"]) >= 1 and len(runs["b"]) == 1
    assert sum(len(v) for v in runs.values()) < 10  # budget cut passes
