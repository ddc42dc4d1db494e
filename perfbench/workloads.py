"""Workload definitions: which registry queries run, on which input scale.

Each workload is a closed loop with one client: its queries run one after
another, each built and then run to completion, pass after pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: int  # inflation factor over the vendored base tables
    queries: tuple[str, ...]
    why: str
    nominal_pass_s: float  # warm pass time on 4 cores, sizes the timed loop
    warm_passes: int  # untimed passes after the check pass, while the JIT settles

    def passes(self, seconds: float) -> int:
        """Whole passes that fill about `seconds`. The count is fixed by the
        arguments, not by the clock, so every run (and both sides of an A/B)
        measures the same sequence of work at the same JIT warmth."""
        return max(3, round(seconds / self.nominal_pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_sf0.1",
            10,
            ("tpch_q3", "sortmerge_join", "window_rank", "wordcount", "quality_score"),
            "relational joins, sorts and windows plus corpus text queries on "
            "the x10 input: the most executor time per query",
            3.3,
            3,
        ),
        Workload(
            "dag_small",
            1,
            ("k_core", "partition_overwrite", "stream_tumbling"),
            "iterative graph, partitioned write and a stream on the x1 input: "
            "many small jobs, so fixed per-job cost dominates",
            3.0,
            5,
        ),
    )
}
