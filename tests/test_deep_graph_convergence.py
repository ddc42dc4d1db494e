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

2. `LoopCheckpointer.cut` stays WALL-FLAT with round depth. Chained
   Dataset checkpoints slow down geometrically past depth ~14
   (~2.5x/round — plans/checkpoints.py); a reintroduction turns round
   20 into minutes. The guard fails FAST inside the loop on the first
   pathological round instead of timing out the suite.

Reference analogue: the deep-DAG fault topologies the reference tests
iterate (tez-tests/.../dag/SixLevelsFailingDAG.java).
"""

from __future__ import annotations

import math
import random
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from hdp_tez_spark.extensions.dedup import connected_components
from hdp_tez_spark.plans.checkpoints import LoopCheckpointer
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
    members: dict[int, set[int]] = {}
    for a, b in edges:
        for x in (a, b):
            members.setdefault(find(x), set()).add(x)
    want: dict[int, int] = {}
    for grp in members.values():
        m = min(grp)
        for x in grp:
            want[x] = m
    return want


@given(n=st.integers(32, 300), seed=st.integers(0, 2**16))
@settings(**SETTINGS)
def test_cc_chain_converges_in_log_rounds(spark, n, seed):
    """A shuffled chain is the deepest topology per node count
    (diameter n-1) with label values uncorrelated to positions — the
    case that exposed the r08 pointer-jump as superlinear."""
    rng = random.Random(seed)
    perm = list(range(n))
    rng.shuffle(perm)
    edges = [(perm[i], perm[i + 1]) for i in range(n - 1)]
    rounds: list[int] = []
    got = {
        r["node"]: r["label"]
        for r in connected_components(
            spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT"),
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


def test_loop_checkpointer_cuts_stay_wall_flat(spark):
    """Drive 26 rounds of cut() on a constant small table and fail fast
    on the first geometrically-slow round. Healthy cuts are ~0.1-0.5s
    flat (parquet reset rounds slightly above); the chained-checkpoint
    pathology reaches 2.5x-per-round growth past depth ~14, so round
    ~17 already exceeds the 10x-median + 2s absolute guard — the test
    fails in seconds instead of timing out the suite."""
    df = spark.range(0, 5000).selectExpr("id", "id % 97 AS k")
    times: list[float] = []
    with LoopCheckpointer(spark, "flat-test") as lc:
        state = df
        for i in range(26):
            state = state.selectExpr("id", "(k * 31 + 7) % 97 AS k")
            t0 = time.time()
            state = lc.cut(state)
            took = time.time() - t0
            times.append(took)
            if i >= 10:
                baseline = max(0.2, sorted(times[2:10])[len(times[2:10]) // 2])
                assert took < 10 * baseline + 2.0, (
                    f"round {i} cut took {took:.2f}s vs baseline "
                    f"{baseline:.2f}s — geometric checkpoint-chain "
                    f"slowdown reintroduced? times={['%.2f' % t for t in times]}"
                )
