"""One measurement core: the session opener and the timed run that
bench.py, tools/stress.py and this CLI share.

A timed run builds a query's DataFrame and writes it to the noop sink
(the whole distributed plan runs, nothing is collected to the driver).
The two phases are measured back-to-back under their own
`TaskMetricsCollector.measure`, so each query splits into:

- construct_s: the builder call — py4j plan construction, Catalyst
  analysis, and any jobs run while the DataFrame is built (lineage
  cuts, scalar `first()` reads);
- action_s: the noop-sink write — planning, AQE re-plans, codegen,
  scheduling and the tasks;
- wall_s = construct_s + action_s, the window bench.py times;
- plan_s: `executedPlan()` taken after the action, outside wall_s —
  optimization plus physical planning, which the write also paid;
- per phase: jobs, executor run/CPU/GC ms, shuffle and spill bytes.

Usage:
    python tools/measure.py [--reps N] [--plans DIR] [--standing] query ...

Prints one JSON line per query: rep-0 wall (first execution, with its
codegen cost) and the median of every field over the later reps (the
steady state). --standing adds bench.py's standing medians set;
--plans DIR writes each query's final formatted plan to DIR/<query>.txt.
Data comes from $SPARK_GRAFT_SF_DIR, cores from $SPARK_GRAFT_CPUS (default
all); point SPARK_GRAFT_SF_DIR at a tools/make_sf.py output to probe a
larger scale.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import warnings
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession

import __spark_entry__ as entry_mod
from hdp_tez_spark.metrics import TaskMetricsCollector
from hdp_tez_spark.session import get_session, warm_up
from tools.check_correctness import _git_head


def sf_dir() -> str:
    """The input tables: $SPARK_GRAFT_SF_DIR, default the sf0.1 set."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def open_session(app: str) -> SparkSession:
    """The measurement session: tuned, quiet, warmed up."""
    # The pandas FutureWarning about all-NA concat fires inside PySpark's
    # Arrow serializers in the PYTHON WORKER processes, so a driver-side
    # filter alone can't catch it — workers inherit PYTHONWARNINGS from
    # the driver env, which must be set BEFORE the JVM starts. Keeps the
    # driver's stdout/stderr capture free of warning spam ahead of
    # bench.py's one JSON metric line.
    warnings.filterwarnings("ignore", category=FutureWarning)
    pw = os.environ.get("PYTHONWARNINGS", "")
    if "ignore::FutureWarning" not in pw:
        os.environ["PYTHONWARNINGS"] = (
            pw + ("," if pw else "") + "ignore::FutureWarning"
        )
    # every core unless told otherwise: get_session maps this to local[N]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    spark = get_session(app)
    spark.sparkContext.setLogLevel("ERROR")
    return warm_up(spark)


def _timed(fn: Callable[[], object]) -> Callable[[], tuple[object, float]]:
    def go() -> tuple[object, float]:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0

    return go


def run(
    spark: SparkSession,
    collector: TaskMetricsCollector,
    name: str,
    build: Callable[[], DataFrame],
) -> dict[str, float]:
    """Build a DataFrame and write it to the noop sink, timing and counting
    each phase. The collector keeps the whole run's counters and stage
    rows under `name`, as one measure() around both phases would."""
    # jobs from the scheduler's id counter: the status store's job list
    # is capped by spark.ui.retainedJobs, so its length stops moving
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    rec: dict[str, float] = {}
    phases = (f"{name}:construct", f"{name}:action")
    jobs0 = sched.numTotalJobs()
    df, rec["construct_s"] = collector.measure(phases[0], _timed(build))
    jobs1 = sched.numTotalJobs()
    write = _timed(lambda: df.write.format("noop").mode("overwrite").save())
    _, rec["action_s"] = collector.measure(phases[1], write)
    jobs2 = sched.numTotalJobs()
    rec["wall_s"] = rec["construct_s"] + rec["action_s"]
    _, rec["plan_s"] = _timed(df._jdf.queryExecution().executedPlan)()

    counters = [collector.counters.pop(p) for p in phases]
    collector.counters[name] = {
        k: counters[0][k] + counters[1][k] for k in counters[0]
    }
    collector.stage_rows[name] = (
        collector.stage_rows.pop(phases[0]) + collector.stage_rows.pop(phases[1])
    )
    per_phase = [
        {
            "jobs": jobs,
            "exec_ms": c["executor_run_ms"],
            "cpu_ms": round(c["executor_cpu_ns"] / 1e6),
            "gc_ms": c["jvm_gc_ms"],
            "shuffle_read_bytes": c["shuffle_read_bytes"],
            "shuffle_write_bytes": c["shuffle_write_bytes"],
            "spill_bytes": c["memory_spill_bytes"] + c["disk_spill_bytes"],
        }
        for jobs, c in zip((jobs1 - jobs0, jobs2 - jobs1), counters)
    ]
    for k in per_phase[0]:
        rec[k] = per_phase[0][k] + per_phase[1][k]
    for phase, vals in zip(("construct", "action"), per_phase):
        rec.update({f"{phase}_{k}": v for k, v in vals.items()})
    return rec


def write_artifact(path: str, payload: dict, *, cores: int, sf: float) -> str:
    """Write a bench artifact stamped with its run settings (cores, sf,
    HEAD). A file already at `path` from other settings (or with none
    recorded) is kept: the artifact goes to `<stem>_c{cores}_sf{sf}.json`
    beside it. Returns the path written."""
    doc = {"cores": cores, "sf": sf, "head": _git_head(), **payload}
    try:
        with open(path) as f:
            old = json.load(f)
        if (old.get("cores"), old.get("sf")) != (cores, sf):
            path = f"{os.path.splitext(path)[0]}_c{cores}_sf{sf}.json"
    except FileNotFoundError:
        pass
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    return path


def main() -> None:
    from bench import standing_set

    args = sys.argv[1:]
    reps, plans = 3, None
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--plans" in args:
        i = args.index("--plans")
        plans = args[i + 1]
        del args[i : i + 2]
        os.makedirs(plans, exist_ok=True)
    if "--standing" in args:
        args.remove("--standing")
        args += standing_set()
    if not args or reps < 1:
        raise SystemExit(
            "usage: python tools/measure.py [--reps N] [--plans DIR] "
            "[--standing] query ..."
        )

    data = sf_dir()
    spark = open_session("hdp-tez-measure")
    collector = TaskMetricsCollector(spark)
    qs = entry_mod.queries()
    for name in args:
        if name not in qs:
            print(json.dumps({"query": name, "error": "not in registry"}))
            continue
        last: dict[str, DataFrame] = {}

        def build(q: str = name) -> DataFrame:
            last["df"] = qs[q](spark, data)
            return last["df"]

        rows = [
            run(spark, collector, f"{name}#rep{r}", build) for r in range(reps)
        ]
        steady = rows[1:] or rows
        out = {"query": name, "sf_dir": data}
        out["first_wall_s"] = round(rows[0]["wall_s"], 3)
        for k in rows[0]:
            out[k] = round(statistics.median(r[k] for r in steady), 3)
        print(json.dumps(out), flush=True)
        if plans:
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
            text = last["df"]._jdf.queryExecution().explainString(
                mode.fromString("formatted")
            )
            with open(os.path.join(plans, f"{name}.txt"), "w") as f:
                f.write(text)
        # outside every timed window: release the query's Python-side
        # references and let the JVM ContextCleaner drop its checkpoint and
        # broadcast blocks before the next query runs
        last.clear()
        gc.collect()
        spark.sparkContext._jvm.System.gc()


if __name__ == "__main__":
    main()
