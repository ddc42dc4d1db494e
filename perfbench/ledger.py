"""Span tracer and per-phase, per-module cost ledger.

A traced query run records three phase spans (`construct`, `plan`,
`action`) and, nested under them, one span per call into the public
functions of the package modules in `LAYERS`. The calls are wrapped from
outside: `Instrumentation` rebinds the module attributes (and every name
the registry or the package imported from them) to tracing wrappers, and
puts the originals back afterwards. The package itself is not edited.

Every span gets its own Spark job group, set as a local property while the
span is the innermost one, so each job is attributed to exactly one span
("self" jobs). Job and stage counters come from Spark's app-status store,
read when each query run's action span ends.

Spans stay in memory; `Tracer.dump` writes them out when the run ends.
"""

from __future__ import annotations

import copy
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
import types
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("sources", "operators", "functions", "extensions", "plans", "streaming")
PHASES = ("construct", "plan", "action")

# sources functions split into the read and the write side by name
_LOAD_PREFIXES = ("load_", "read_")
_WRITE_PREFIXES = ("write_", "insert_", "compact_")

# app-status store StageData field -> ledger counter
STAGE_FIELDS = {
    "executorRunTime": "exec_run_ms",
    "executorCpuTime": "exec_cpu_ns",
    "executorDeserializeTime": "deser_ms",
    "jvmGcTime": "gc_ms",
    "numCompleteTasks": "tasks",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}
_TERMINAL = ("COMPLETE", "FAILED", "SKIPPED", "SUCCEEDED")
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


class StatusReader:
    """Reads jobs and stage metrics from the driver's app-status store.

    Terminal jobs and stages are cached, so each read pays py4j calls only
    for what is new since the last one, and entries the store evicts under
    its retention caps are not lost."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self.job_group: dict[int, str | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stages: dict[int, dict[str, int]] = {}
        self._done_jobs: set[int] = set()
        self._done_stages: set[tuple[int, int]] = set()

    def read(self) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        gw = self._sc._gateway
        store = jsc.statusStore()
        empty = gw.jvm.java.util.ArrayList()
        jobs = store.jobsList(empty)
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            jid = int(jd.jobId())
            if jid in self._done_jobs:
                continue
            grp = jd.jobGroup()
            self.job_group[jid] = str(grp.get()) if grp.isDefined() else None
            ids = jd.stageIds()
            self.job_stages[jid] = [int(ids.apply(k)) for k in range(ids.size())]
            if jd.status().toString() in _TERMINAL:
                self._done_jobs.add(jid)
        quantiles = gw.new_array(gw.jvm.double, 0)
        stages = store.stageList(empty, False, False, quantiles, empty)
        for i in range(stages.size()):
            sd = stages.apply(i)
            key = (int(sd.stageId()), int(sd.attemptId()))
            if key in self._done_stages:
                continue
            vals = {out: int(getattr(sd, f)()) for f, out in STAGE_FIELDS.items()}
            # attempts of one stage add up: a failed attempt did real work
            prev = self.stages.get(key[0], {}) if key[1] > 0 else {}
            self.stages[key[0]] = {k: v + prev.get(k, 0) for k, v in vals.items()}
            if sd.status().toString() in _TERMINAL:
                self._done_stages.add(key)

    def stage_owner(self) -> dict[int, int]:
        """Each stage belongs to the first job that lists it; later jobs
        that reuse its shuffle output only skip it."""
        owner: dict[int, int] = {}
        for jid in sorted(self.job_stages):
            for sid in self.job_stages[jid]:
                owner.setdefault(sid, jid)
        return owner


class Tracer:
    """Collects spans for one run. `span()` nests on the calling thread."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run = ""
        self.status = StatusReader(sc)

    def _set_group(self, span: Span | None) -> None:
        self._sc.setLocalProperty(_GROUP_KEY, span.group if span else None)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.id if parent else None, self.run, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            # one status-store read per query run: job groups already tie
            # every job to its span, so reading later loses nothing
            if name == "action" and layer == "phase":
                self.status.read()

    def attribute_jobs(self) -> None:
        """Give every span the ids of the jobs that ran while it was the
        innermost span."""
        self.status.read()
        by_group = {s.group: s for s in self.spans}
        for s in self.spans:
            s.jobs = []
        for jid, grp in sorted(self.status.job_group.items()):
            if grp in by_group:
                by_group[grp].jobs.append(jid)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _Traced:
    """Callable stand-in for a package function that records a span per
    call. Pickles as the original function, so a wrapped function shipped
    to executors runs untraced there."""

    def __init__(self, fn, name: str, layer: str, tracer: Tracer) -> None:
        functools.update_wrapper(self, fn)
        self.fn, self.name, self.layer, self.tracer = fn, name, layer, tracer

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name, self.layer):
            return self.fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (copy.copy, (self.fn,))


def _layer_modules() -> list[types.ModuleType]:
    mods = []
    for layer in LAYERS:
        pkg = importlib.import_module(f"hdp_tez_spark.{layer}")
        for info in pkgutil.iter_modules(pkg.__path__):
            mods.append(importlib.import_module(f"{pkg.__name__}.{info.name}"))
    return mods


def _public_functions(mod: types.ModuleType):
    """(owner, attribute, function) for the module's public functions and
    the public plain methods of its public classes."""
    for name, obj in list(vars(mod).items()):
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
            yield mod, name, obj
        elif inspect.isclass(obj):
            for attr, member in list(vars(obj).items()):
                if not attr.startswith("_") and inspect.isfunction(member):
                    yield obj, attr, member


class Instrumentation:
    """Rebinds the public functions of the `LAYERS` modules to tracing
    wrappers while installed."""

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        wrapped: dict[int, _Traced] = {}
        for mod in _layer_modules():
            layer = mod.__name__.split(".")[1]
            short = mod.__name__.split(".", 1)[1]
            for owner, attr, fn in _public_functions(mod):
                qual = attr if owner is mod else f"{owner.__name__}.{attr}"
                w = _Traced(fn, f"{short}.{qual}", layer, self._tracer)
                wrapped[id(fn)] = w
                self._rebind(owner, attr, w)
        # names the registry and the package imported from those modules
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == "__spark_entry__" or name.startswith("hdp_tez_spark")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and w.fn is obj:
                    self._rebind(mod, attr, w)

    def _rebind(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def remove(self) -> None:
        for owner, attr, old in reversed(self._saved):
            setattr(owner, attr, old)
        self._saved.clear()


def layer_of_source_call(name: str) -> str | None:
    """'load' or 'write' for a sources span name, else None."""
    fn = name.rsplit(".", 1)[-1]
    if fn.startswith(_LOAD_PREFIXES):
        return "load"
    if fn.startswith(_WRITE_PREFIXES):
        return "write"
    return None


def pass_ledger(tracer: Tracer, runs: set[str], cores: int) -> dict[str, float]:
    """Per-layer totals over the spans of the given query runs (one pass)."""
    spans = [s for s in tracer.spans if s.run in runs]
    selft = self_times(spans)
    st = tracer.status
    owner = st.stage_owner()
    job_stage = {}
    for sid, jid in owner.items():
        job_stage.setdefault(jid, []).append(sid)

    def counters(jobs: list[int]) -> dict[str, int]:
        tot = dict.fromkeys(STAGE_FIELDS.values(), 0)
        for jid in jobs:
            for sid in job_stage.get(jid, []):
                for k, v in st.stages.get(sid, {}).items():
                    tot[k] += v
        return tot

    by_id = {s.id: s for s in spans}

    def phase_of(s: Span) -> Span:
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    def moved_mb(jobs: list[int]) -> float:
        t = counters(jobs)
        return sum(t[k] for k in ("input_bytes", "output_bytes", "shuffle_write_bytes")) / (1024 * 1024)

    phase_jobs: dict[str, list[int]] = {p: [] for p in PHASES}
    layer_jobs: dict[str, list[int]] = {layer: [] for layer in LAYERS}
    phase_s = dict.fromkeys(PHASES, 0.0)
    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.calls"] = 0
        m[f"{layer}.self_s"] = 0.0
        m[f"{layer}.jobs"] = 0
    for side in ("load", "write"):
        m[f"sources.{side}_s"] = 0.0
        m[f"sources.{side}_jobs"] = 0
    for s in spans:
        if s.layer == "phase":
            phase_s[s.name] += s.end - s.start
        else:
            m[f"{s.layer}.calls"] += 1
            m[f"{s.layer}.self_s"] += selft[s.id]
            m[f"{s.layer}.jobs"] += len(s.jobs)
            layer_jobs[s.layer].extend(s.jobs)
            side = layer_of_source_call(s.name) if s.layer == "sources" else None
            if side:
                m[f"sources.{side}_s"] += selft[s.id]
                m[f"sources.{side}_jobs"] += len(s.jobs)
        phase_jobs[phase_of(s).name].extend(s.jobs)
    c = {p: counters(j) for p, j in phase_jobs.items()}
    # bytes read, written and shuffled by the jobs of each phase and module
    # (for the ledger table; not a named metric)
    for key, jobs in [*phase_jobs.items(), *layer_jobs.items()]:
        m[f"{key}.moved_mb"] = moved_mb(jobs)
    all_c = counters([j for js in phase_jobs.values() for j in js])
    mb = 1 / (1024 * 1024)
    a = c["action"]
    n_jobs = sum(len(j) for j in phase_jobs.values())
    m.update(
        {
            "sources.input_mb": all_c["input_bytes"] * mb,
            "sources.output_mb": all_c["output_bytes"] * mb,
            "construct.s": phase_s["construct"],
            "construct.jobs": len(phase_jobs["construct"]),
            "construct.cpu_ms": c["construct"]["exec_cpu_ns"] / 1e6,
            "plan.s": phase_s["plan"],
            "plan.jobs": len(phase_jobs["plan"]),
            "action.s": phase_s["action"],
            "action.jobs": len(phase_jobs["action"]),
            "action.tasks": a["tasks"],
            "action.exec_run_ms": a["exec_run_ms"],
            "action.exec_cpu_ms": a["exec_cpu_ns"] / 1e6,
            "action.deser_ms": a["deser_ms"],
            "action.gc_ms": a["gc_ms"],
            "action.shuffle_read_mb": a["shuffle_read_bytes"] * mb,
            "action.shuffle_write_mb": a["shuffle_write_bytes"] * mb,
            "action.spill_mem_mb": a["spill_mem_bytes"] * mb,
            "action.spill_disk_mb": a["spill_disk_bytes"] * mb,
            "action.cpu_frac": (a["exec_cpu_ns"] / 1e6) / a["exec_run_ms"] if a["exec_run_ms"] else 0.0,
            "action.core_busy": (a["exec_run_ms"] / 1000) / (phase_s["action"] * cores) if phase_s["action"] else 0.0,
            "construct.job_share": len(phase_jobs["construct"]) / n_jobs if n_jobs else 0.0,
        }
    )
    return m
