"""Seeded end-to-end benchmark with a per-phase, per-module cost ledger.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. starts the tuned session (`get_session` + `warm_up`, local[nproc]);
2. generates the workload's input from the seed (untimed, reported);
3. sets the session up again several times and reports the median;
4. runs every query once, untimed, and checks its output against the
   registry's DuckDB oracle SQL (exact canonical cell strings), then runs
   the workload's untimed warm-up passes while the JIT settles;
5. runs the queries as a closed loop with one client: a fixed number of
   whole passes sized to take about S seconds (see Workload.passes), each
   query built, planned and run through the `noop` sink.

With `--trace 1` the loop alternates untraced and traced passes and the
run reports the per-layer ledger instead of the end-to-end metrics; spans
are written to `.perfbench/traces/` when the run ends. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3


def _args() -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(run_dir: str) -> None:
    """Keep every file Spark and the queries write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell"
    )
    # pandas FutureWarnings from the Arrow path would otherwise flood the
    # output of the Python workers
    pw = os.environ.get("PYTHONWARNINGS", "")
    os.environ["PYTHONWARNINGS"] = (pw + "," if pw else "") + "ignore::FutureWarning"


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it and every other
    process this run started has ended."""
    import subprocess

    import procstat
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while procstat.tree()[1:] and time.time() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _describe(e: Exception) -> str:
    first = (str(e).splitlines() or [""])[0]
    return f"raised {type(e).__name__}: {first[:300]}"


def slowest_query(by_query: dict[str, list[float]]) -> tuple[str, float]:
    """(query, median latency) of the query with the highest median: the
    tail of a closed loop's latency mix. A run has too few query runs (9 to
    15) for a percentile with ten samples above it to lie above the median,
    and the maximum of so few samples measures the host, not the program."""
    medians = {q: statistics.median(xs) for q, xs in by_query.items()}
    slowest = max(medians, key=medians.get)
    return slowest, medians[slowest]


class Bench:
    def __init__(self, args: argparse.Namespace, cores: int, run_dir: str) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.cores = cores
        self.data_dir = os.path.join(run_dir, "input")
        self.spark = None
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0
        self.failed = 0

    # -- session -----------------------------------------------------------
    def _setup(self) -> tuple[float, float]:
        from hdp_tez_spark.session import get_session, warm_up

        t0 = time.perf_counter()
        self.spark = get_session("perfbench", master=f"local[{self.cores}]")
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        warm_up(self.spark)
        return t1 - t0, time.perf_counter() - t1

    # -- one query run -----------------------------------------------------
    def run_query(self, name: str, tracer=None, collect: bool = False):
        """Build, plan and run one query; returns (seconds, pandas or None)."""
        import contextlib

        fn = self.queries[name]

        def phase(p):
            return tracer.span(p, "phase") if tracer else contextlib.nullcontext()

        t0 = time.perf_counter()
        with phase("construct"):
            df = fn(self.spark, self.data_dir)
        with phase("plan"):
            df._jdf.queryExecution().executedPlan()
        with phase("action"):
            if collect:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        return time.perf_counter() - t0, out

    def _record_failure(self, name: str, msg: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, []).append(msg)

    # -- phases of a run ---------------------------------------------------
    def check_pass(self) -> None:
        """Untimed first pass: every query's output against its oracle."""
        from oracle import Oracle

        oracle = Oracle(self.data_dir)
        self.wrong: set[str] = set()
        for name in self.wl.queries:
            self.attempted += 1
            try:
                _, pdf = self.run_query(name, collect=True)
                problems = oracle.check(name, pdf)
            except Exception as e:  # a failing query is reported, not fatal
                problems = [_describe(e)]
                traceback.print_exc(file=sys.stderr)
            if problems:
                self.wrong.add(name)
                self._record_failure(name, "oracle: " + "; ".join(problems)[:500])

    def one_pass(self, tracer=None, pass_no: int = 0) -> tuple[float, list[tuple[str, float]], set[str]]:
        lat, runs = [], set()
        t0 = time.perf_counter()
        for name in self.wl.queries:
            self.attempted += 1
            if tracer is not None:
                tracer.run = f"{name}#{pass_no}"
                runs.add(tracer.run)
            try:
                dt, _ = self.run_query(name, tracer)
                lat.append((name, dt))
                if name in self.wrong:  # every run of a wrong query is wrong
                    self._record_failure(name, "output failed the oracle check")
            except Exception as e:
                self._record_failure(name, _describe(e))
                traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, lat, runs

    def main(self) -> dict:
        import __spark_entry__
        import gen
        import procstat
        import stamp

        self.queries = __spark_entry__.queries()
        missing = [q for q in self.wl.queries if q not in self.queries]
        if missing:
            raise SystemExit(f"queries not in the registry: {missing}")
        a = self.args
        res: dict = {
            "stamp": stamp.make_stamp(ROOT, a.workload, self.wl.scale, a.seed, self.cores, int(a.seconds), bool(a.trace))
        }
        clock = [time.perf_counter()]

        def lap(label: str) -> None:
            clock.append(time.perf_counter())
            res["timeline"][label] = clock[-1] - clock[-2]

        res["timeline"] = {}
        cold = self._setup()
        lap("cold_setup")
        res["inputs"] = gen.generate(self.spark, self.data_dir, self.wl.scale, a.seed, gen.tables_used(self.wl.queries))
        lap("generate")
        setups = []
        for _ in range(SETUP_REPEATS):
            self.spark.stop()
            setups.append(self._setup())
        res["setup"] = {"cold_start_s": sum(cold), "runs": setups}
        lap("setups")
        self.check_pass()
        lap("check")
        # untimed passes: the JIT keeps compiling for several passes, and
        # timing it would measure how fast the host lets it finish
        res["warm_walls"] = [self.one_pass()[0] for _ in range(self.wl.warm_passes)]
        lap("warm_pass")

        mon = procstat.TreeMonitor()
        passes: list[float] = []
        pass_cpu: list[float] = []
        traced: list[tuple[float, set[str]]] = []
        by_query: dict[str, list[float]] = {}
        tracer = instr = None
        if a.trace:
            import ledger

            tracer = ledger.Tracer(self.spark.sparkContext)
            instr = ledger.Instrumentation(tracer)
        mon.start()
        n = self.wl.passes(a.seconds)
        # with tracing, untraced and traced passes alternate
        for k in range(max(n, 2) if a.trace else n):
            if a.trace and k % 2 == 1:
                instr.install()
                try:
                    wall, lat, runs = self.one_pass(tracer, k)
                finally:
                    instr.remove()
                traced.append((wall, runs))
            else:
                cpu0 = procstat.tree_cpu()
                wall, lat, _ = self.one_pass()
                pass_cpu.append(procstat.tree_cpu() - cpu0)
                passes.append(wall)
                for name, dt in lat:
                    by_query.setdefault(name, []).append(dt)
        mon.stop()
        lap("timed")
        lats = [dt for xs in by_query.values() for dt in xs]
        slowest, tail = slowest_query(by_query)
        res["samples"] = {"passes": len(passes), "query_runs": len(lats), "slowest_query": slowest}
        res["end_to_end"] = {
            "setup_s": statistics.median(s + w for s, w in setups),
            "cpu_s": statistics.median(pass_cpu),
            "peak_rss_mb": mon.peak_rss_mb,
            "ok_frac": 1 - self.failed / self.attempted,
        }
        # wall clock, reported but not a BENCHMARK.json metric: on a shared
        # host it follows the CPU share the hypervisor grants (see README)
        res["wall"] = {
            "pass_s": statistics.median(passes),
            "query_s.p50": statistics.median(lats),
            "query_s.tail": tail,
        }
        res["pass_walls"] = passes
        res["query_latencies"] = by_query
        res["pass_cpu"] = pass_cpu
        if a.trace:
            res["per_layer"] = self._ledger(tracer, traced, passes, setups, cold)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            span_path = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
            tracer.dump(span_path)
            res["span_file"] = os.path.relpath(span_path, ROOT)
        res["failures"] = self.failures
        res["attempted"], res["failed"] = self.attempted, self.failed
        return res

    def _ledger(self, tracer, traced, passes, setups, cold) -> dict:
        import ledger

        tracer.attribute_jobs()
        per_pass = [ledger.pass_ledger(tracer, runs, self.cores) for _, runs in traced]
        m = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        traced_walls = [w for w, _ in traced]
        phase_sum = [p["construct.s"] + p["plan.s"] + p["action.s"] for p in per_pass]
        m["session.start_s"] = statistics.median(s for s, _ in setups)
        m["session.warm_up_s"] = statistics.median(w for _, w in setups)
        m["session.cold_start_s"] = sum(cold)
        m["trace.pass_s"] = statistics.median(traced_walls)
        m["trace.gap_s"] = statistics.median(w - s for w, s in zip(traced_walls, phase_sum))
        m["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(passes)
        return m


def report(res: dict, units: dict[str, str], per_layer_names: list[str], trace: bool) -> None:
    """Human-readable summary ahead of the JSON line."""
    st = res["stamp"]
    print(
        f"perfbench {st['workload']} seed={st['seed']} scale=x{st['scale']} cores={st['cores']} "
        f"trace={int(trace)} spark={st['spark']} python={st['python']} {st['java']} "
        f"git={st['git_head'][:12]} src={st['source_sha']}"
    )
    rows = sum(v["rows"] for v in res["inputs"].values())
    mb = sum(v["bytes"] for v in res["inputs"].values()) / 2**20
    print(f"input: {rows} rows, {mb:.1f} MB parquet, generated in {res['timeline']['generate']:.2f} s (not in setup_s)")
    for name, v in res["inputs"].items():
        print(f"  {name:<11} {v['rows']:>8} rows {v['bytes'] / 2**20:7.2f} MB {v['files']} files")
    s = res["samples"]
    print(
        f"closed loop, 1 client: {s['passes']} untraced passes, {s['query_runs']} query runs; "
        f"query_s.tail is the median of the slowest query, {s['slowest_query']}"
    )
    print("timeline: " + ", ".join(f"{k} {v:.1f} s" for k, v in res["timeline"].items()))
    for q, xs in res["query_latencies"].items():
        print(f"  {q:<22} median {statistics.median(xs):7.3f} s over {len(xs)} runs")
    fail_frac = res["failed"] / res["attempted"]
    print(f"fail_frac = {fail_frac:.4f} ({res['failed']} of {res['attempted']} query runs)")
    for q, msgs in res["failures"].items():
        print(f"  FAIL {q}: {len(msgs)} runs; {msgs[0]}")
    print("end-to-end:")
    for k, v in res["end_to_end"].items():
        print(f"  {k:<14} {v:12.4f} {units[k]}")
    print("wall clock (not gated: it follows the host's CPU share):")
    for k, v in res["wall"].items():
        print(f"  {k:<14} {v:12.4f} s")
    if trace:
        pl = res["per_layer"]
        pass_s = res["wall"]["pass_s"]
        print(f"ledger (traced passes, median per pass; share of untraced pass_s={pass_s:.3f} s):")
        print(f"  {'phase/module':<12} {'time_s':>8} {'share':>7} {'jobs':>6} {'MB':>8} {'calls':>6}")
        for p in ("construct", "plan", "action"):
            jobs = pl[p + ".jobs"]
            print(f"  {p:<12} {pl[p + '.s']:8.3f} {pl[p + '.s'] / pass_s:7.1%} {jobs:6.0f} {pl[p + '.moved_mb']:8.1f}")
        for layer in ("sources", "operators", "functions", "extensions", "plans", "streaming"):
            print(
                f"  {layer:<12} {pl[layer + '.self_s']:8.3f} {pl[layer + '.self_s'] / pass_s:7.1%} "
                f"{pl[layer + '.jobs']:6.0f} {pl[layer + '.moved_mb']:8.1f} {pl[layer + '.calls']:6.0f}"
            )
        print(
            "  (phases: whole phase time and every job inside it; modules: self time, without nested "
            "module calls, and their own jobs; MB = bytes read, written and shuffle-written)"
        )
        print(
            f"  bytes: input {pl['sources.input_mb']:.1f} MB, output {pl['sources.output_mb']:.1f} MB, "
            f"shuffle read {pl['action.shuffle_read_mb']:.1f} MB, write {pl['action.shuffle_write_mb']:.1f} MB, "
            f"spill {pl['action.spill_mem_mb']:.1f}/{pl['action.spill_disk_mb']:.1f} MB (mem/disk)"
        )
        print(
            f"  gap (traced pass wall - summed phases): {pl['trace.gap_s']:.3f} s; "
            f"tracing overhead vs untraced pass: {pl['trace.overhead_s']:+.3f} s"
        )
        print("per-layer:")
        for k in per_layer_names:
            print(f"  {k:<22} {pl[k]:12.4f} {units[k]}")


def main() -> int:
    # fail fast, before any work, when the program is not in this checkout
    sys.path.insert(0, ROOT)
    try:
        import hdp_tez_spark.session  # noqa: F401
        import tools.check_correctness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    args = _args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # a fixed hash seed keeps set and dict order, and so the plans the
        # program builds from them, the same in every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _isolate(run_dir)
    bench = Bench(args, cores, run_dir)
    try:
        res = bench.main()
    finally:
        shutdown(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    report(res, units, names, bool(args.trace))
    src = res["per_layer"] if args.trace else res["end_to_end"]
    line = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(src[k]), "unit": units[k]} for k in names},
    }
    sys.stdout.flush()
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
