"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench``
from the repository root."""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from perfbench import trace  # noqa: E402
from perfbench.inputs import Market  # noqa: E402
from perfbench.workloads import TPCH_DIR, Outcome, matches_oracle, oracle_connection  # noqa: E402


def test_metric_names_are_legal():
    assert trace.metric_name("pipeline", "silver", "weekly+monthly_s") == (
        "pipeline.silver.weekly_monthly_s"
    )
    assert trace.metric_name("pipeline", "gold", "extract+hvc_parallel_s") == (
        "pipeline.gold.extract_hvc_parallel_s"
    )


def test_overlapping_job_spans_are_not_double_counted():
    assert trace._union_s([(0, 1000), (500, 1500), (3000, 3500)]) == pytest.approx(2.0)


def test_market_spikes_and_fixed_calendar():
    days = [dt.date(2025, 1, 2) + dt.timedelta(days=i) for i in range(300)]
    m1, m2 = Market(1, 200, days), Market(2, 200, days)
    h1, h2 = m1.history(days), m2.history(days)
    assert len(h1) == len(h2) == 200 * 300
    assert list(h1["date"].unique()) == list(h2["date"].unique()) == days
    assert not h1["close"].equals(h2["close"])
    base = h1.groupby("ticker")["volume"].transform("median")
    spikes = (h1["volume"] > 3 * base).mean()
    assert 0.01 < spikes < 0.03
    assert (h1["low"] <= h1[["open", "close"]].min(axis=1)).all()
    assert (h1["high"] >= h1[["open", "close"]].max(axis=1)).all()


def test_corrupted_result_counts_as_failure():
    from tickerlake_spark.plans import QUERIES
    from tickerlake_spark.plans.catalog import _ensure_loaded

    _ensure_loaded()
    duck = oracle_connection(TPCH_DIR)
    spec = QUERIES["q01_pricing_summary"]
    good = duck.execute(spec.oracle).fetchdf()
    bad = good.copy()
    bad.loc[0, "count_order"] += 1

    out = Outcome()
    out.check(matches_oracle(duck, spec, good), "good")
    out.check(matches_oracle(duck, spec, bad), "bad")
    out.check(matches_oracle(duck, spec, good.iloc[1:]), "missing row")
    assert (out.attempted, out.failed) == (3, 2)
    assert out.result({})["correct"] is False


def test_exception_counts_as_failure():
    out = Outcome()
    assert out.guard("set-up", lambda: 1 / 0) is None
    assert (out.attempted, out.failed) == (1, 1)
    assert "ZeroDivisionError" in out.messages[0]


def test_refuses_to_run_outside_a_checkout(tmp_path, monkeypatch, capsys):
    from perfbench import run

    monkeypatch.chdir(tmp_path)
    code = run.main(["--workload", "split_rebuild", "--seed", "1", "--seconds", "1"])
    assert code == 2
    assert capsys.readouterr().out == ""


def test_job_counts_agree_for_one_pipeline_call(tmp_path, monkeypatch):
    """Jobs counted by the scheduler's id range and jobs counted from the
    event log by start time are the same set, for a pipeline call whose
    jobs run on the pipeline's own thread pools."""
    from tickerlake_spark.pipeline import run_bronze, run_silver
    from tickerlake_spark.session import get_spark
    from tickerlake_spark.sources.demo import demo_source
    from tickerlake_spark.storage import Catalog, Checkpoints

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        app_name="perfbench-test",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    lake = str(tmp_path / "lake")
    catalog = Catalog(root=lake)
    checkpoints = Checkpoints(path=os.path.join(lake, "checkpoints.json"))
    start, end = dt.date(2025, 1, 2), dt.date(2025, 3, 31)
    try:
        run_bronze(spark, demo_source(start, end), catalog, checkpoints, start, end)
        tracer = trace.Tracer(spark, enabled=True)
        with tracer.call("silver", lake) as call:
            summary = run_silver(spark, catalog, checkpoints)
    finally:
        spark.stop()
    assert summary["mode"] == "full"
    log = trace.parse_event_log(trace.find_event_log(str(log_dir)))
    stats = trace.attribute(call, log, cores=2)
    assert stats["jobs"] > 10
    assert stats["jobs"] == stats["jobs_by_start_time"]
    assert stats["tasks"] >= stats["jobs"]
    assert stats["files_written"] > 0 and stats["bytes_written"] > 0
