"""Deep-graph convergence contract (VERDICT r08 task #4).

Pins the two scale properties the sf1.0 rounds keep re-discovering by
hand, at sf0.01 cost:

1. `connected_components` converges in O(log n) rounds on WORST-CASE
   topologies — shuffled chains (diameter n-1) and sparse random
   graphs. The r08 min-label + pointer-jump variant looked O(log d) on
   the shallow sf1.0 similarity graph but was superlinear on chains (40
   rounds at n=100, >60 at n=256 — found by this test's calibration);
   the alternating large-star/small-star replacement (Kiveris et al.
   SoCC'14) measures ~= ceil(log2 n) - 1 rounds (5/6/7/8 at
   n=48/100/256/1024). The `max_iter` budget here IS the assertion: an
   O(diameter) regression blows the log-sized budget and raises.

2. Every loop operator's per-round cut keeps its size estimate growing
   by a bounded number of digits per round. Chained cuts carry Spark's
   size-only join estimate forward (a product of the children's
   sizes), so a round that joins the cut state with itself doubles the
   estimate's digit count per round and its BigInteger arithmetic
   turns round ~20 into minutes (plans/checkpoints.py). The gate reads
   the estimate, not the wall clock, so it is deterministic and fails
   on the third cut instead of timing out around round 20.

Reference analogue: the deep-DAG fault topologies the reference tests
iterate (tez-tests/.../dag/SixLevelsFailingDAG.java).
"""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hdp_tez_spark.extensions.dedup import connected_components
from hdp_tez_spark.extensions.graph import (
    bfs_distances,
    hits_scores,
    k_core,
    label_propagation,
    pagerank,
)
from hdp_tez_spark.extensions.textstats import bpe_merges
from hdp_tez_spark.plans import checkpoints as CK
from tests.conftest import SETTINGS as BASE_SETTINGS

SETTINGS = {**BASE_SETTINGS, "max_examples": 4}


def _round_budget(n: int) -> int:
    # measured rounds ~= ceil(log2 n) - 1; +4 slack absorbs topology
    # variance while staying far below any O(diameter) trajectory
    # (n=100: budget 11 vs the old propagation's 40+)
    return math.ceil(math.log2(max(n, 2))) + 4


def _union_find_labels(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # every union keeps the smaller root, so a root is its component's min
    return {x: find(x) for e in edges for x in e}


def _chain(spark, n, seed=None):
    ids = list(range(n))
    if seed is not None:
        random.Random(seed).shuffle(ids)
    return spark.createDataFrame(list(zip(ids, ids[1:])), "src long, dst long")


@given(n=st.integers(32, 300), seed=st.integers(0, 2**16))
@settings(**SETTINGS)
def test_cc_chain_converges_in_log_rounds(spark, n, seed):
    """A shuffled chain is the deepest topology per node count
    (diameter n-1) with label values uncorrelated to positions — the
    case that exposed the r08 pointer-jump as superlinear."""
    rounds: list[int] = []
    got = {
        r["node"]: r["label"]
        for r in connected_components(
            _chain(spark, n, seed),
            "src",
            "dst",
            max_iter=_round_budget(n),  # raises on an O(diameter) regression
            on_round=lambda i, p: rounds.append(p),
        ).collect()
    }
    assert len(rounds) <= _round_budget(n)
    assert got == {x: 0 for x in range(n)}  # one component, min id 0


@given(n=st.integers(50, 250), seed=st.integers(0, 2**16))
@settings(**SETTINGS)
def test_cc_random_graph_matches_union_find(spark, n, seed):
    """Sparse random graphs (|E| ~ |V|): many components of mixed
    shapes, labels checked against a plain-Python union-find."""
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(n)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    if not edges:
        return
    rounds: list[int] = []
    got = {
        r["node"]: r["label"]
        for r in connected_components(
            spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT"),
            max_iter=_round_budget(n),
            on_round=lambda i, p: rounds.append(p),
        ).collect()
    }
    assert got == _union_find_labels(n, edges)
    assert len(rounds) <= _round_budget(n)


# Every loop operator on a tiny input, at least 6 cuts per loop state.
_LOOPS = {
    # a shuffled 256-node chain takes ~7 star rounds (docstring above)
    "connected_components": lambda s: connected_components(
        _chain(s, 256, seed=7), "src", "dst"
    ),
    "pagerank": lambda s: pagerank(_chain(s, 8), iters=6),
    "bfs_distances": lambda s: bfs_distances(_chain(s, 8), s.range(1), max_hops=6),
    "label_propagation": lambda s: label_propagation(_chain(s, 8), "src", "dst", 6),
    # a path peels its two endpoints per round: 7 cuts on 14 nodes
    "k_core": lambda s: k_core(_chain(s, 14), 2, "src", "dst"),
    "hits_scores": lambda s: hits_scores(_chain(s, 8), iters=6),
    "bpe_merges": lambda s: bpe_merges(s.createDataFrame([("abcdefgh",)], ["t"]), "t", 6),
}


@pytest.mark.parametrize("op", sorted(_LOOPS))
def test_loop_cut_size_estimate_grows_linearly(spark, monkeypatch, op):
    """Chained cuts stay cheap only while a round's size estimate grows
    by a bounded number of digits: a round that joins the cut state
    with itself multiplies the estimate by itself, doubling its digit
    count per round, and the BigInteger arithmetic then turns round ~20
    into minutes (plans/checkpoints.py). Record the digit count of every
    cut's `sizeInBytes` estimate and require the per-round increase not
    to grow; healthy loops add a constant number of digits per round."""
    digits: dict[CK.LoopCheckpointer, list[int]] = {}
    cut = CK.LoopCheckpointer.cut

    def recording_cut(self, df):
        out = cut(self, df)
        # py4j hands the BigInt over as a Python int, whose conversion
        # raises past 4300 digits: a squaring loop fails either way
        size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        digits.setdefault(self, []).append(len(str(size)))
        return out

    monkeypatch.setattr(CK.LoopCheckpointer, "cut", recording_cut)
    _LOOPS[op](spark)
    assert digits and all(len(seq) >= 6 for seq in digits.values()), digits
    for seq in digits.values():
        steps = [b - a for a, b in zip(seq, seq[1:])]
        # a squaring round doubles its step every round
        assert max(steps[1:]) <= 1.5 * max(steps[0], 0) + 2, (
            f"{op}: size-estimate digits {seq} grow faster every round — "
            "does a round join the cut state with itself?"
        )
