"""Counters / observability: TaskCounter parity via df.observe().

Reference parity: Tez exposes per-task counters
(`tez-api/.../common/counters/TaskCounter.java:28-202` — INPUT_RECORDS_PROCESSED,
OUTPUT_RECORDS :93, SPILLED_RECORDS :57, SHUFFLE_BYTES :154 ...) aggregated
per vertex/DAG. The Spark equivalents:

- record-level counters -> `df.observe(Observation, exprs...)`, computed
  inline with the plan (CollectMetricsExec — zero extra passes over the
  data) and pulled after the action completes;
- byte/spill/shuffle counters -> `TaskMetricsCollector`, which reads
  Spark's app-status store (the same store the UI renders) around an
  action and records the per-action deltas — SHUFFLE_BYTES
  (`TaskCounter.java:154`) and SPILLED_RECORDS-class byte counters
  (`TaskCounter.java:57`) without re-implementing Spark's metric plumbing.

Usage:
    reg = CounterRegistry()
    df = reg.observed(df, "load", input_records=F.count(F.lit(1)))
    df....collect()            # any action
    reg.get("load")["input_records"]

    tm = TaskMetricsCollector(spark, registry=reg)
    rows = tm.measure("q1", lambda: df.collect())
    reg.get("q1")["shuffle_read_bytes"]
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import Column, DataFrame, Observation, SparkSession

T = TypeVar("T")


class CounterRegistry:
    """Collects named df.observe() metrics across actions."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._observations: dict[str, Observation] = {}
        self._recorded: dict[str, dict[str, Any]] = {}

    def observed(self, df: DataFrame, name: str, **metrics: Column) -> DataFrame:
        """Attach named metric expressions to a DataFrame. They are computed
        by whichever action next executes the returned DataFrame."""
        if not metrics:
            raise ValueError("at least one metric expression is required")
        obs = Observation(name)
        out = df.observe(obs, *[m.alias(k) for k, m in metrics.items()])
        with self._lock:
            self._observations[name] = obs
        return out

    def record(self, name: str, **values: Any) -> None:
        """Store externally-computed counters (e.g. TaskMetricsCollector
        byte deltas) under a name, merged with any same-name observation."""
        with self._lock:
            self._recorded.setdefault(name, {}).update(values)

    def get(self, name: str) -> dict[str, Any]:
        """Metric values for a name: observe() metrics (blocks until the
        observed DataFrame's action completes) merged with record()ed ones."""
        with self._lock:
            obs = self._observations.get(name)
            rec = dict(self._recorded.get(name, {}))
        if obs is None and not rec:
            raise KeyError(f"no observation or recording named {name!r}")
        out = dict(obs.get) if obs is not None else {}
        out.update(rec)
        return out


class TaskMetricsCollector:
    """Byte-level counter parity with Tez's `TaskCounter` (SHUFFLE_BYTES
    `TaskCounter.java:154`, SPILLED_RECORDS-class spill metrics `:57`):
    snapshots the driver's app-status store (`AppStatusStore.stageList`,
    the exact data the Spark UI renders) before and after an action and
    records the stage-metric deltas.

    Works identically on local mode and a 1000-executor cluster — the
    status store lives on the driver and aggregates executor heartbeats,
    so no extra listener traffic or executor-side plumbing is added.
    Caveat: deltas are computed over the store's retained stages
    (`spark.ui.retainedStages`, default 1000); an eviction between the two
    snapshots of one short action is effectively impossible, but counters
    are clamped at >= 0 anyway.
    """

    #: status-store field -> engine counter name (Tez analogue in comment)
    FIELDS = {
        "inputBytes": "input_bytes",               # INPUT bytes read
        "outputBytes": "output_bytes",             # OUTPUT_BYTES
        "shuffleReadBytes": "shuffle_read_bytes",  # SHUFFLE_BYTES (:154)
        "shuffleWriteBytes": "shuffle_write_bytes",  # OUTPUT_BYTES_PHYSICAL
        "memoryBytesSpilled": "memory_spill_bytes",  # SPILLED_RECORDS (:57)
        "diskBytesSpilled": "disk_spill_bytes",    # ADDITIONAL_SPILLS_BYTES_*
        "executorRunTime": "executor_run_ms",
        "executorCpuTime": "executor_cpu_ns",      # CPU_MILLISECONDS
        "jvmGcTime": "jvm_gc_ms",                  # GC_TIME_MILLIS
        "numCompleteTasks": "tasks_completed",
    }

    def __init__(self, spark: SparkSession, registry: CounterRegistry | None = None):
        self._spark = spark
        self._registry = registry
        self.counters: dict[str, dict[str, int]] = {}
        # metrics of COMPLETE stages are immutable — cache them so repeated
        # snapshots pay py4j round-trips only for stages created since the
        # last call, keeping measure() overhead flat across a long run
        self._done_stages: dict[tuple[int, int], dict[str, int]] = {}
        # swimlane rows (stage timeline + bytes) per terminal stage, same
        # keys as _done_stages — the UI/ATS history parity data
        self._stage_meta: dict[tuple[int, int], dict[str, Any]] = {}
        #: per-measured-query stage timeline rows (see `profile()`)
        self.stage_rows: dict[str, list[dict[str, Any]]] = {}
        # the previous measure()'s after-snapshot doubles as the next
        # before-snapshot when measurements run back-to-back (bench loop):
        # halves the py4j/status-store work per query
        self._last_totals: dict[str, int] | None = None

    @staticmethod
    def _opt_ms(opt: Any) -> int | None:
        """scala Option[java.util.Date] -> epoch millis (None if empty)."""
        try:
            return int(opt.get().getTime()) if opt.isDefined() else None
        except Exception:
            return None

    def _snapshot(self) -> dict[str, int]:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        try:  # flush pending listener events so the store is consistent
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            pass
        gw = sc._gateway
        store = jsc.statusStore()
        empty_quantiles = gw.new_array(gw.jvm.double, 0)
        empty_list = gw.jvm.java.util.ArrayList()
        stages = store.stageList(empty_list, False, False, empty_quantiles, empty_list)
        # Totals = every terminal stage ever cached + the live stages not
        # yet cached. Terminal means COMPLETE, FAILED, or SKIPPED — all of
        # them have immutable metrics and all of them are eviction
        # candidates (a failed attempt still shuffled real bytes). Keeping
        # evicted stages in the cache makes the totals MONOTONE even when
        # the status store drops old stages under its spark.ui.retained*
        # caps (the session profile caps them so a long bench run doesn't
        # grow the driver heap) — otherwise an eviction between two
        # snapshots would make a query's delta go negative.
        live: list[dict[str, int]] = []
        for i in range(stages.size()):
            sd = stages.apply(i)
            key = (sd.stageId(), sd.attemptId())
            if key in self._done_stages:
                continue
            vals = {field: getattr(sd, field)() for field in self.FIELDS}
            if sd.status().toString() in ("COMPLETE", "FAILED", "SKIPPED"):
                self._done_stages[key] = vals
                sub = self._opt_ms(sd.submissionTime())
                launch = self._opt_ms(sd.firstTaskLaunchedTime())
                done = self._opt_ms(sd.completionTime())
                self._stage_meta[key] = {
                    "stage_id": int(sd.stageId()),
                    "attempt": int(sd.attemptId()),
                    "status": sd.status().toString(),
                    "name": str(sd.name()),
                    "num_tasks": int(sd.numTasks()),
                    "submitted_ms": sub,
                    "first_task_ms": launch,
                    "completed_ms": done,
                    "duration_ms": (done - sub)
                    if (done is not None and sub is not None)
                    else None,
                    **{out: int(vals[f]) for f, out in self.FIELDS.items()},
                }
            else:
                live.append(vals)
        totals = dict.fromkeys(self.FIELDS, 0)
        for vals in list(self._done_stages.values()) + live:
            for field in self.FIELDS:
                totals[field] += vals[field]
        return totals

    def measure(self, name: str, action: Callable[[], T]) -> T:
        """Run `action` (any Spark action) and record the byte/spill/shuffle
        deltas it caused under `name`. Only jobs run through measure() may
        touch the session between calls — anything else is attributed to
        the next measured action."""
        before = self._last_totals if self._last_totals is not None else self._snapshot()
        # Captured AFTER any before-snapshot so a fresh snapshot's newly
        # cached stages (un-measured session activity) are excluded. On
        # the reused-snapshot fast path no snapshot runs here, so stages
        # finished by un-measured activity since the previous measure()
        # WILL be attributed to this query — the docstring's "only
        # measured jobs may touch the session between calls" contract is
        # what makes the fast path sound.
        before_keys = set(self._done_stages)
        result = action()
        after = self._snapshot()
        self._last_totals = after
        delta = {
            out: max(0, after[field] - before[field])
            for field, out in self.FIELDS.items()
        }
        self.counters[name] = delta
        # stages that became terminal during this action ARE this query's
        # stages (measure() runs actions to completion, one at a time) —
        # the swimlane attribution Tez gets from per-DAG vertex events
        rows = [
            self._stage_meta[k]
            for k in self._stage_meta
            if k not in before_keys
        ]
        rows.sort(key=lambda r: (r["submitted_ms"] or 0, r["stage_id"]))
        self.stage_rows[name] = rows
        if self._registry is not None:
            self._registry.record(name, **delta)
        return result

    def profile(self) -> dict[str, list[dict[str, Any]]]:
        """Per-query stage timeline — the reference's swimlane/timeline
        view (`tez-tools/swimlanes/`, ATS stage events) as plain data:
        for every measured query, its stages with submission /
        first-task / completion timestamps, duration, task count, and
        the byte counters. Queryable as a table
        (`spark.createDataFrame(flatten(profile()))`) or dumped as a
        JSON sidecar via `dump_query_profile`."""
        return self.stage_rows


def dump_query_profile(collector: TaskMetricsCollector, path: str) -> None:
    """Write the collector's per-query stage-timeline profile as JSON —
    history/ATS observability parity (`tez-plugins/tez-yarn-timeline-*`,
    `tez-tools/swimlanes/` render the same per-vertex timeline from YARN
    ATS events; here it is a file any engine can re-load and query)."""
    import json

    with open(path, "w") as f:
        json.dump(collector.profile(), f, indent=1)


# Mapping of the reference's TaskCounter names (TaskCounter.java:28-202) to
# engine-level equivalents, for documentation and dashboard parity.
TASK_COUNTER_MAP = {
    "INPUT_RECORDS_PROCESSED": "observe(count) on the source DataFrame",
    "OUTPUT_RECORDS": "observe(count) on the sink DataFrame",
    "SPILLED_RECORDS": "TaskMetricsCollector: memory/disk_spill_bytes",
    "SHUFFLE_BYTES": "TaskMetricsCollector: shuffle_read/write_bytes",
    "COMBINE_INPUT_RECORDS": "partial-aggregation rows (Spark SQL metrics)",
    "REDUCE_INPUT_GROUPS": "post-shuffle groups (Spark SQL metrics)",
}
