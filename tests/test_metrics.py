"""CounterRegistry: TaskCounter-parity metrics via df.observe()."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdp_tez_spark.metrics import CounterRegistry
from hdp_tez_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def test_observed_counters(spark):
    reg = CounterRegistry()
    li = load_table(spark, SF_SMOKE, "lineitem")
    observed = reg.observed(
        li,
        "scan",
        input_records=F.count(F.lit(1)),
        total_qty=F.round(F.sum("l_quantity"), 2),
    )
    out = observed.groupBy("l_returnflag").count()
    out.collect()
    got = reg.get("scan")
    assert got["input_records"] == li.count()
    assert got["total_qty"] > 0


def test_unknown_counter(spark):
    reg = CounterRegistry()
    with pytest.raises(KeyError):
        reg.get("nope")


def test_requires_metrics(spark):
    reg = CounterRegistry()
    li = load_table(spark, SF_SMOKE, "lineitem")
    with pytest.raises(ValueError):
        reg.observed(li, "empty")


def test_task_metrics_shuffle_bytes(spark):
    """A groupBy over lineitem must show nonzero SHUFFLE_BYTES-parity
    counters (TaskCounter.java:154) through the collector."""
    from hdp_tez_spark.metrics import TaskMetricsCollector

    reg = CounterRegistry()
    tm = TaskMetricsCollector(spark, registry=reg)
    li = load_table(spark, SF_SMOKE, "lineitem")
    q = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
    rows = tm.measure("group_scan", lambda: q.collect())
    assert len(rows) > 0
    got = reg.get("group_scan")
    assert got["shuffle_write_bytes"] > 0, got
    assert got["shuffle_read_bytes"] > 0, got
    assert got["tasks_completed"] > 0, got
    # registry merge: record() values coexist with observations
    assert tm.counters["group_scan"] == {
        k: got[k] for k in tm.counters["group_scan"]
    }


def test_task_metrics_no_shuffle_for_narrow_scan(spark):
    """A pure filter+project action moves zero shuffle bytes."""
    from hdp_tez_spark.metrics import TaskMetricsCollector

    tm = TaskMetricsCollector(spark)
    li = load_table(spark, SF_SMOKE, "lineitem")
    q = li.where(F.col("l_quantity") > 49).select("l_orderkey")
    tm.measure("narrow", lambda: q.collect())
    assert tm.counters["narrow"]["shuffle_write_bytes"] == 0
    assert tm.counters["narrow"]["tasks_completed"] > 0


def test_stage_timeline_profile_and_dump(spark, tmp_path):
    """Swimlane parity: measure() attributes terminal stages to the query,
    with timestamps, durations, and byte counters; dump_query_profile
    writes the whole thing as a JSON sidecar."""
    import json

    from hdp_tez_spark.metrics import TaskMetricsCollector, dump_query_profile

    tm = TaskMetricsCollector(spark)
    li = load_table(spark, SF_SMOKE, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    tm.measure("prof_q", lambda: q.collect())

    rows = tm.profile()["prof_q"]
    assert rows, "no stages attributed to the measured query"
    # a groupBy has >= 2 stages (map + reduce); every row carries the
    # timeline + counter fields
    assert len(rows) >= 2
    for r in rows:
        assert r["status"] in ("COMPLETE", "SKIPPED", "FAILED")
        assert "shuffle_read_bytes" in r and "executor_run_ms" in r
        assert "executor_cpu_ns" in r and "jvm_gc_ms" in r
    assert tm.counters["prof_q"]["executor_cpu_ns"] > 0
    # a SKIPPED stage legitimately has no timestamps; COMPLETE ones must
    complete = [r for r in rows if r["status"] == "COMPLETE"]
    assert len(complete) >= 2
    for r in complete:
        assert r["num_tasks"] >= 1
        assert r["submitted_ms"] is not None and r["completed_ms"] is not None
        assert r["duration_ms"] is not None and r["duration_ms"] >= 0
    # rows are timeline-ordered (SKIPPED rows have no timestamp and sort
    # to the front)
    subs = [r["submitted_ms"] for r in complete]
    assert subs == sorted(subs)
    # at least one stage shuffled (the reduce side read bytes)
    assert any(r["shuffle_read_bytes"] > 0 for r in rows)

    out = tmp_path / "profile.json"
    dump_query_profile(tm, str(out))
    loaded = json.loads(out.read_text())
    assert set(loaded) == {"prof_q"}
    assert loaded["prof_q"][0]["stage_id"] == rows[0]["stage_id"]


def test_measure_run_splits_phases(spark):
    """tools/measure.run: wall_s is exactly construct + action, executor
    CPU is counted, and jobs launched while the DataFrame is built (the
    k_core lineage cuts) land in the construct phase. The collector keeps
    each run under its query name."""
    import __spark_entry__ as entry_mod
    from hdp_tez_spark.metrics import TaskMetricsCollector
    from tools.measure import run

    qs = entry_mod.queries()
    tm = TaskMetricsCollector(spark)
    wc = run(spark, tm, "wordcount", lambda: qs["wordcount"](spark, SF_SMOKE))
    assert wc["wall_s"] == wc["construct_s"] + wc["action_s"]
    assert wc["cpu_ms"] > 0 and wc["plan_s"] > 0
    kc = run(spark, tm, "k_core", lambda: qs["k_core"](spark, SF_SMOKE))
    assert kc["construct_jobs"] > 0
    assert set(tm.counters) == set(tm.profile()) == {"wordcount", "k_core"}


def test_write_artifact_keeps_other_settings(tmp_path):
    """A bench sidecar records cores/sf/HEAD, overwrites a file from the
    same settings, and never overwrites one from other (or unrecorded)
    settings: it writes <stem>_c{cores}_sf{sf}.json beside it."""
    import json

    from tools.measure import write_artifact

    path = str(tmp_path / "BENCH_TIMINGS.json")
    assert write_artifact(path, {"total_sec": 1.0}, cores=32, sf=0.1) == path
    assert write_artifact(path, {"total_sec": 2.0}, cores=32, sf=0.1) == path
    doc = json.loads(open(path).read())
    assert (doc["cores"], doc["sf"], doc["total_sec"]) == (32, 0.1, 2.0)
    assert doc["head"]

    other = write_artifact(path, {"total_sec": 3.0}, cores=8, sf=0.1)
    assert other == str(tmp_path / "BENCH_TIMINGS_c8_sf0.1.json")
    assert json.loads(open(path).read())["total_sec"] == 2.0
    assert json.loads(open(other).read())["cores"] == 8

    legacy = tmp_path / "BENCH_PROFILE.json"
    legacy.write_text('{"q": []}')
    written = write_artifact(str(legacy), {"q": [1]}, cores=4, sf=0.01)
    assert written == str(tmp_path / "BENCH_PROFILE_c4_sf0.01.json")
    assert json.loads(legacy.read_text()) == {"q": []}
