"""Property-based operator tests (hypothesis): randomized inputs checked
against independent in-Python references — the engine's counterpart of the
reference's randomized testing (`TestFaultTolerance.java:735-744` random
failure injection; SURVEY §5.4). Example counts are small because every
example runs Spark jobs."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hdp_tez_spark.extensions.dedup import connected_components
from hdp_tez_spark.operators.joins import asof_join, salted_join
from tests.conftest import SETTINGS, py_shingles, py_tokens


events = st.lists(
    st.tuples(
        st.integers(0, 3),          # key
        st.integers(0, 50),         # ts
        st.integers(0, 999),        # payload
    ),
    min_size=1,
    max_size=25,
)


@given(left=events, right=events)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    lpdf = pd.DataFrame(left, columns=["k", "ts", "lv"]).drop_duplicates(
        ["k", "ts"]
    )
    rpdf = pd.DataFrame(right, columns=["k", "ts", "rv"]).drop_duplicates(
        ["k", "ts"]
    )
    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(
        rpdf.rename(columns={"ts": "rts"})[["k", "rts", "rv"]]
    )
    got = (
        asof_join(ldf, rdf, on=["k"], left_ts="ts", right_ts="rts", values=["rv"])
        .toPandas()
        .sort_values(["k", "ts"], ignore_index=True)
    )
    want = pd.merge_asof(
        lpdf.sort_values("ts", kind="mergesort"),
        rpdf.sort_values("ts", kind="mergesort"),
        on="ts",
        by="k",
        direction="backward",
        suffixes=("", "_r"),
    ).sort_values(["k", "ts"], ignore_index=True)
    assert list(got["ts"]) == list(want["ts"])
    assert got["rv"].astype("float").fillna(-1).tolist() == want["rv"].astype(
        "float"
    ).fillna(-1).tolist()


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # reference: classic union-find
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
    got = {r.node: r.label for r in connected_components(edf).collect()}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["hot", "a", "b"]), st.integers(0, 99)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_salted_join_equals_plain_join(spark, rows):
    big = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v"]))
    dim = spark.createDataFrame(
        pd.DataFrame({"k": ["hot", "a", "b"], "label": ["H", "A", "B"]})
    )
    plain = (
        big.join(dim, "k").groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(big, dim, on=["k"], salt_buckets=4)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {tuple(r) for r in plain.collect()} == {
        tuple(r) for r in salted.collect()
    }


docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 10_000),  # id (deduped below)
        st.lists(
            st.sampled_from("alpha bravo charlie delta echo fox".split()),
            min_size=0,
            max_size=12,
        ),
    ),
    min_size=1,
    max_size=16,
)


@given(train=docs_strategy, test=docs_strategy)
@settings(**SETTINGS)
def test_decontaminate_matches_python_ngram_intersection(spark, train, test):
    """decontaminate == brute-force distinct-3-gram intersection."""
    from hdp_tez_spark.extensions.curation import decontaminate

    def dedup_ids(rows):
        seen, out = set(), []
        for i, toks in rows:
            if i not in seen:
                seen.add(i)
                out.append((i, " ".join(toks)))
        return out

    tr, te = dedup_ids(train), dedup_ids(test)

    def shingles(text):
        toks = [t for t in text.lower().split() if t]
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    te_sh = set().union(*(shingles(t) for _, t in te)) if te else set()
    expected = {
        i: len(shingles(t) & te_sh) for i, t in tr
    }
    tdf = spark.createDataFrame(tr, "id long, text string")
    edf = spark.createDataFrame(te, "id long, text string")
    got = {
        r.id: r.n_hits for r in decontaminate(tdf, edf, "id", "text").collect()
    }
    assert got == expected


@given(rows=st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(0, 40)),
    min_size=1, max_size=30,
))
@settings(**SETTINGS)
def test_pack_sequences_conserves_layout(spark, rows):
    """Every doc is assigned once; within each bucket the offsets are the
    exact running token sum in md5 order (no gaps, no overlaps)."""
    import hashlib

    from hdp_tez_spark.extensions.curation import pack_sequences

    uniq = {}
    for i, n in rows:
        uniq.setdefault(i, n)
    data = sorted(uniq.items())
    df = spark.createDataFrame(data, "id long, n long")
    budget, buckets = 17, 4
    got = pack_sequences(df, "id", "n", budget, num_buckets=buckets).collect()
    assert len(got) == len(data)
    by_bucket = {}
    for r in got:
        by_bucket.setdefault(r.bucket, []).append(r)
    for b, rs in by_bucket.items():
        # reference order: md5 of the id string, then id
        rs_ref = sorted(rs, key=lambda r: (hashlib.md5(str(r.id).encode()).hexdigest(), r.id))
        pos = 0
        for r in rs_ref:
            assert r.pack_idx == pos // budget
            assert r.pack_offset == pos % budget
            pos += r.n


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 100), st.integers(1, 50)),  # (id, weight)
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    n=st.integers(1, 10),
)
@settings(**SETTINGS)
def test_weighted_sample_matches_python_aes(spark, rows, n):
    """weighted_sample must select exactly the ids a pure-Python
    Efraimidis-Spirakis draw with the same md5 uniforms selects."""
    import hashlib

    from hdp_tez_spark.extensions.splits import weighted_sample

    def key(i: int, w: int) -> float:
        h = int(hashlib.md5(f"ws:{i}".encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        return u ** (1.0 / float(w))

    expect = sorted(rows, key=lambda t: (-key(*t), t[0]))[:n]
    df = spark.createDataFrame(rows, "id int, w int")
    got = weighted_sample(df, "id", "w", n).collect()
    assert sorted(r.id for r in got) == sorted(i for i, _ in expect)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_triangle_count_matches_bruteforce(spark, edges):
    from itertools import combinations

    from hdp_tez_spark.extensions.graph import triangle_count

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not und:
        return  # census of an empty graph is vacuous (no nodes survive)
    nodes = {x for e in und for x in e}
    tri = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    deg: dict[int, int] = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    df = spark.createDataFrame(list(und), "a int, b int")
    row = triangle_count(df).first()
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        len(nodes),
        len(und),
        wedges,
        tri,
    )


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(-5, 5)),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_gap_fill_grid_and_conservation(spark, rows):
    """Per key: contiguous bucket grid, non-gap buckets carry the exact
    bucket sums (conservation), gaps repeat the previous value."""
    from hdp_tez_spark.extensions.analytics import gap_fill

    step = 10
    pdf = pd.DataFrame(rows, columns=["k", "t", "v"])
    df = spark.createDataFrame(
        [(int(k), int(t), float(v)) for k, t, v in rows], "k int, t long, v double"
    ).select("k", F.timestamp_seconds("t").alias("ts"), "v")
    out = pd.DataFrame(
        [r.asDict() for r in gap_fill(df, "k", "ts", "v", step).collect()]
    )
    for k, grp in pdf.groupby("k"):
        sums = grp.assign(b=(grp.t // step) * step).groupby("b").v.sum().round(4)
        sub = out[out.k == k].sort_values("bucket")
        # grid is contiguous from min to max bucket
        assert list(sub.bucket) == list(
            range(int(sums.index.min()), int(sums.index.max()) + step, step)
        )
        last = None
        for _, r in sub.iterrows():
            if r.is_gap == 0:
                assert r.bucket in sums.index
                assert abs(r.val - sums[r.bucket]) < 1e-9
                last = r.val
            else:
                assert r.bucket not in sums.index
                assert abs(r.val - last) < 1e-9  # LOCF carries prior value


@given(
    old=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 3), st.integers(0, 3)),
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    new=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 3), st.integers(0, 3)),
        max_size=20,
        unique_by=lambda t: t[0],
    ),
)
@settings(**SETTINGS)
def test_dataset_diff_matches_dict_reference(spark, old, new):
    from hdp_tez_spark.extensions.cdc import dataset_diff

    od = {k: (a, b) for k, a, b in old}
    nd = {k: (a, b) for k, a, b in new}
    expect = {}
    for k in od.keys() | nd.keys():
        if k not in nd:
            expect[k] = "removed"
        elif k not in od:
            expect[k] = "added"
        elif od[k] != nd[k]:
            expect[k] = "changed"
    schema = "k int, a int, b int"
    odf = spark.createDataFrame(old, schema)
    ndf = spark.createDataFrame(new, schema)
    got = {
        r.k: r.status
        for r in dataset_diff(odf, ndf, ["k"], ["a", "b"]).collect()
    }
    assert got == expect


graphs = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=30,
)


@given(edges=graphs, n_sources=st.integers(1, 3), hops=st.integers(0, 4))
@settings(**SETTINGS)
def test_bfs_distances_matches_python_bfs(spark, edges, n_sources, hops):
    from collections import deque

    from hdp_tez_spark.extensions.graph import bfs_distances

    sources = sorted({a for a, _ in edges})[:n_sources]
    edf = spark.createDataFrame(edges, "src int, dst int")
    sdf = spark.createDataFrame([(s,) for s in sources], "node int")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edf, sdf, max_hops=hops).collect()
    }
    # reference BFS
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want = {s: 0 for s in sources}
    frontier = deque(sources)
    for d in range(1, hops + 1):
        nxt = set()
        while frontier:
            u = frontier.popleft()
            for v in adj.get(u, ()):
                if v not in want:
                    nxt.add(v)
        for v in nxt:
            want[v] = d
        frontier = deque(nxt)
        if not nxt:
            break
    assert got == want


seqs = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 30), st.sampled_from("abc")),
    min_size=1,
    max_size=25,
)


@given(rows=seqs)
@settings(**SETTINGS)
def test_transition_counts_matches_python_reference(spark, rows):
    from collections import Counter

    from hdp_tez_spark.extensions.analytics import transition_counts

    uniq = {(k, i): s for k, i, s in rows}  # dedupe (key, order) collisions
    data = [(k, i, s) for (k, i), s in uniq.items()]
    df = spark.createDataFrame(data, "k int, i int, s string")
    got = {
        (r["src_state"], r["dst_state"]): r["n_transitions"]
        for r in transition_counts(df, "k", ["i"], "s").collect()
    }
    want = Counter()
    bykey = {}
    for k, i, s in data:
        bykey.setdefault(k, []).append((i, s))
    for k, items in bykey.items():
        items.sort()
        for (_, a), (_, b) in zip(items, items[1:]):
            want[(a, b)] += 1
    assert got == dict(want)


ts_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40),
              st.floats(-50, 50, allow_nan=False, width=32)),
    min_size=1,
    max_size=25,
)


@given(rows=ts_rows, alpha=st.sampled_from([0.2, 0.5, 0.9]), k=st.integers(1, 6))
@settings(**SETTINGS)
def test_ewma_matches_python_reference(spark, rows, alpha, k):
    from hdp_tez_spark.extensions.analytics import ewma_smooth

    uniq = {(g, i): v for g, i, v in rows}
    data = [(g, i, float(v)) for (g, i), v in uniq.items()]
    df = spark.createDataFrame(data, "g int, i int, v double")
    got = {
        (r["g"], r["i"]): r["ewma"]
        for r in ewma_smooth(df, "g", "i", "v", alpha=alpha, k=k).collect()
    }
    bykey = {}
    for g, i, v in data:
        bykey.setdefault(g, []).append((i, v))
    for g, items in bykey.items():
        items.sort()
        for t in range(len(items)):
            window = [v for _, v in items[max(0, t - k + 1): t + 1]][::-1]
            ws = [(1 - alpha) ** j for j in range(len(window))]
            want = sum(w * x for w, x in zip(ws, window)) / sum(ws)
            assert got[(g, items[t][0])] == pytest.approx(want, abs=1e-6)


@given(rows=st.lists(
    st.tuples(st.floats(-5, 5, allow_nan=False, width=16), st.integers(0, 1)),
    min_size=2, max_size=40,
))
@settings(**SETTINGS)
def test_binary_auc_matches_pairwise_reference(spark, rows):
    from hdp_tez_spark.extensions.analytics import binary_auc

    if not any(y for _, y in rows) or all(y for _, y in rows):
        return  # single-class: operator returns NULL, covered elsewhere
    df = spark.createDataFrame(
        [(float(s), y) for s, y in rows], "s double, y int"
    )
    got = binary_auc(df, "s", "y").collect()[0]["auc"]
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    ref = sum(
        1.0 if a > b else 0.5 if a == b else 0.0 for a in pos for b in neg
    ) / (len(pos) * len(neg))
    assert got == pytest.approx(ref, abs=1e-6)


def test_hash_deterministic_queries_stable_across_partitioning(spark):
    """Operators documented as retry/repartition-stable must give
    bit-identical results when the physical partitioning changes — the
    property that makes task retries and cluster resizes safe. Probe by
    flipping spark.sql.shuffle.partitions around a few hash-derived
    queries."""
    import __spark_entry__ as E
    from tests.conftest import SF_SMOKE

    names = ["train_test_split", "kfold_split", "weighted_sample",
             "dedup_exact", "golden_record"]
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    results = {}
    try:
        for parts in ("7", "31"):
            spark.conf.set(key, parts)
            for n in names:
                rows = frozenset(
                    tuple(str(v) for v in r)
                    for r in E.queries()[n](spark, SF_SMOKE).collect()
                )
                results.setdefault(n, []).append(rows)
    finally:
        spark.conf.set(key, prev)
    for n, (a, b) in results.items():
        assert a == b, f"{n} changed under repartitioning"


ohlc_rows = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 7200),
              st.floats(-100, 100, allow_nan=False, width=16)),
    min_size=1, max_size=30,
)


@given(rows=ohlc_rows)
@settings(**SETTINGS)
def test_ohlc_matches_pandas_reference(spark, rows):
    import datetime

    from hdp_tez_spark.extensions.analytics import ohlc_downsample

    uniq = {(k, s): v for k, s, v in rows}  # unique (key, second) -> no ts ties
    base = datetime.datetime(2024, 1, 1)
    data = [
        (k, base + datetime.timedelta(seconds=s), i, float(v))
        for i, ((k, s), v) in enumerate(sorted(uniq.items()))
    ]
    df = spark.createDataFrame(data, "k int, ts timestamp, id int, v double")
    got = {
        (r["k"], str(r["bucket_start"])): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in ohlc_downsample(df, "k", "ts", "v", "1 hour", "id").collect()
    }
    ref = {}
    for k, ts, _, v in data:
        b = ts.replace(minute=0, second=0, microsecond=0)
        key = (k, str(b))
        if key not in ref:
            ref[key] = [v, v, v, v, 0]  # open, high, low, close, n
        r = ref[key]
        r[1] = max(r[1], v)
        r[2] = min(r[2], v)
        r[3] = v  # data sorted by ts: last write is close
        r[4] += 1
    assert set(got) == set(ref)
    for key in ref:
        o, h, l, c, n = ref[key]
        go, gh, gl, gc, gn = got[key]
        assert (go, gh, gl, gc, gn) == (pytest.approx(o), pytest.approx(h),
                                        pytest.approx(l), pytest.approx(c), n)


gr_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 9),
              st.one_of(st.none(), st.sampled_from("xyz"))),
    min_size=1, max_size=20,
)


@given(rows=gr_rows)
@settings(**SETTINGS)
def test_golden_record_matches_python_reference(spark, rows):
    from hdp_tez_spark.extensions.dedup import golden_record

    data = [(c, i, i, v) for i, (c, _, v) in enumerate(rows)]  # unique id
    df = spark.createDataFrame(data, "c int, id int, q int, attr string")
    got = {
        r["cluster"]: (r["n_members"], r["attr"])
        for r in golden_record(df, "c", "q", ["attr"], "id").collect()
    }
    ref = {}
    for c, i, q, v in data:
        m = ref.setdefault(c, [0, None, None])  # n, best_key, attr
        m[0] += 1
        if v is not None and (m[1] is None or (q, i) > m[1]):
            m[1], m[2] = (q, i), v
    assert got == {c: (n, attr) for c, (n, _, attr) in ref.items()}


ranked_lists = st.dictionaries(
    st.sampled_from(["a", "b", "c"]),
    st.lists(
        st.tuples(st.integers(0, 9), st.floats(0.0, 10.0, allow_nan=False)),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=3,
)


@given(lists=ranked_lists)
@settings(**SETTINGS)
def test_rrf_fuse_matches_python_reference(spark, lists):
    from hdp_tez_spark.extensions.ranking import rrf_fuse

    frames, expected = {}, {}
    for name, pairs in lists.items():
        # dedupe ids within a list (keep max score, like a retriever would)
        best: dict[int, float] = {}
        for i, s in pairs:
            best[i] = max(best.get(i, float("-inf")), s)
        frames[name] = spark.createDataFrame(
            list(best.items()), "id int, score double"
        )
        ranked = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, (i, _) in enumerate(ranked, start=1):
            expected[i] = expected.get(i, 0.0) + 1.0 / (60 + rank)
    got = {r.id: r.rrf for r in rrf_fuse(frames, "id", k=60, limit=100).collect()}
    assert set(got) == set(expected)
    for i, v in expected.items():
        assert got[i] == round(v, 6)


grouped_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1)),
    min_size=1,
    max_size=30,
)


@given(rows=grouped_rows, k=st.integers(1, 5))
@settings(**SETTINGS)
def test_k_anonymity_matches_python_reference(spark, rows, k):
    from collections import Counter

    from hdp_tez_spark.extensions.quality import k_anonymity

    df = spark.createDataFrame(rows, "q int, other int")
    sizes = Counter(q for q, _ in rows)
    row = k_anonymity(df, ["q"], k=k).collect()[0]
    assert row.n_rows == len(rows)
    assert row.n_groups == len(sizes)
    assert row.min_group_size == min(sizes.values())
    assert row.violating_groups == sum(1 for s in sizes.values() if s < k)
    assert row.violating_rows == sum(s for s in sizes.values() if s < k)


@given(rows=grouped_rows)
@settings(**SETTINGS)
def test_woe_iv_contributions_sum_to_nonnegative_iv(spark, rows):
    """IV = sum of contributions is >= 0 for ANY labeling (each term is
    (p-q)ln(p/q) with p,q > 0 after smoothing — always nonnegative)."""
    from hdp_tez_spark.extensions.analytics import woe_iv

    df = spark.createDataFrame(rows, "cat int, lab int")
    out = woe_iv(df, "cat", "lab", smooth=0.5).collect()
    iv = sum(r.iv_contrib for r in out)
    assert iv >= -1e-9
    assert sum(r.n for r in out) == len(rows)


# -- BPE merge: the separator-doubling replace must equal textbook BPE --

_BPE_SYMBOLS = st.sampled_from(["a", "b", "aa", "ab", "aab", "</w>"])


def _textbook_merge(seq: str, left: str, right: str) -> str:
    """Sennrich reference: left-to-right greedy single-pass pair merge."""
    syms = seq.split(" ")
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return " ".join(out)


def _doubling_merge(seq: str, left: str, right: str) -> str:
    """Python mirror of textstats._apply_merge's replace chain — same
    string ops, so Python/JVM/SQL agree by construction."""
    s = " " + seq.replace(" ", "  ") + " "
    s = s.replace(f" {left}  {right} ", f" {left}{right} ")
    return s.replace("  ", " ").strip()


@given(
    syms=st.lists(_BPE_SYMBOLS, min_size=1, max_size=12),
    left=_BPE_SYMBOLS,
    right=_BPE_SYMBOLS,
)
@settings(max_examples=3000, deadline=None)
def test_bpe_doubling_merge_equals_textbook(syms, left, right):
    """Pure-Python property (no Spark per example, so thousands of
    cases are cheap): the separator-doubling replace chain used by
    textstats._apply_merge is EXACTLY the textbook left-to-right greedy
    merge, including adjacent repeats ('a a a a a') and self-referencing
    rules like (a, aa). The Spark-side expression is the same string
    algebra (tested on samples in test_textstats_extra)."""
    seq = " ".join(syms)
    assert _doubling_merge(seq, left, right) == _textbook_merge(
        seq, left, right
    )


# ---------------------------------------------------------------------------
# r07: randomized-vs-reference-Python oracles for the dedup string-rewrite
# family (VERDICT r06 'Next round' #5) — the trickiest pure-SQL rewrites
# in the repo, hardened with the same harness that caught the BPE
# separator-doubling bug.
# ---------------------------------------------------------------------------

_VOCAB = "the cat sat mat dog log fog ran bat".split()

docs_texts = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=10,
)


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(texts=docs_texts, max_dist=st.integers(0, 3))
@settings(**SETTINGS)
def test_edit_distance_pairs_matches_python_reference(spark, texts, max_dist):
    """edit_distance_pairs == brute-force Levenshtein over every distinct
    string pair that shares >= 1 whole token (the documented blocking
    contract) — and every reported distance is the true DP distance."""
    from hdp_tez_spark.extensions.dedup import edit_distance_pairs

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {
        (r.text_a, r.text_b): r.dist
        for r in edit_distance_pairs(df, "s", max_dist=max_dist).collect()
    }
    vals = sorted(set(texts))
    want = {}
    for i, a in enumerate(vals):
        for b in vals[i + 1:]:
            if not (set(py_tokens(a)) & set(py_tokens(b))):
                continue  # token blocking: pair is outside the contract
            d = _py_levenshtein(a, b)
            if d <= max_dist:
                want[(a, b)] = d
    assert got == want


@given(texts=docs_texts, threshold=st.sampled_from([0.4, 0.6, 0.8]))
@settings(**SETTINGS)
def test_prefix_filter_join_matches_python_jaccard(spark, texts, threshold):
    """prefix_filter_join (k=1) == ALL distinct-id pairs with token-set
    Jaccard >= threshold: the prefix-filter theorem promises zero false
    negatives, and verification kills every false positive — so the
    result must equal the brute-force set-Jaccard join exactly,
    including the rounded jaccard value."""
    from hdp_tez_spark.extensions.dedup import prefix_filter_join

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_join(
            df, "doc_id", "text", threshold=threshold, k=1
        ).collect()
    }
    sets = {i: py_shingles(t, 1) for i, t in rows}
    want = {}
    for i in sets:
        for j in sets:
            if i >= j:
                continue
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            jac = round(inter / union, 6) if union else 0.0
            if jac >= threshold:
                want[(i, j)] = jac
    assert got == want


def _py_md5_long(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@given(texts=docs_texts)
@settings(**SETTINGS)
def test_simhash_fingerprints_match_python_reference(spark, texts):
    """simhash_fingerprints == pure-Python majority vote over 60 bits of
    the md5 token hashes WITH multiplicity (repeated tokens vote once
    per occurrence, not once per type)."""
    from hdp_tez_spark.extensions.dedup import (
        SIMHASH_BITS,
        simhash_fingerprints,
    )

    rows = [(i, t) for i, t in enumerate(texts) if py_tokens(t)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc: r.simhash
        for r in simhash_fingerprints(df, "doc_id", "text").collect()
    }
    want = {}
    for i, t in rows:
        votes = [0] * SIMHASH_BITS
        for tok in py_tokens(t):
            h = _py_md5_long(tok)
            for b in range(SIMHASH_BITS):
                votes[b] += 1 if (h >> b) & 1 else -1
        want[i] = sum(1 << b for b in range(SIMHASH_BITS) if votes[b] > 0)
    assert got == want


@given(texts=docs_texts)
@settings(**SETTINGS)
def test_minhash_signatures_match_python_reference(spark, texts):
    """minhash_signatures == pure-Python min over (a*x+b) mod P of the
    k=2 shingle-hash set, with the same md5-derived permutation
    coefficients — the full signature, every permutation."""
    from hdp_tez_spark.extensions.dedup import (
        MINHASH_P,
        _perm_coeffs,
        minhash_signatures,
    )

    num_perms, k = 4, 2
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc, r.perm): r.minhash
        for r in minhash_signatures(
            df, "doc_id", "text", num_perms=num_perms, k=k
        ).collect()
    }
    coeffs = _perm_coeffs(num_perms)
    want = {}
    for i, t in rows:
        xs = [_py_md5_long(s) % MINHASH_P for s in py_shingles(t, k)]
        for p, (a, b) in enumerate(coeffs):
            want[(i, p)] = min((a * x + b) % MINHASH_P for x in xs)
    assert got == want


# ---------------------------------------------------------------------------
# Text-analysis operators (textstats.py): the same randomized
# Python-reference harness, aimed at the pure column-expression ops whose
# oracles are SQL mirrors rather than independent recomputations.
# ---------------------------------------------------------------------------

_ML_VOCAB = sorted(
    {w for ws in __import__("hdp_tez_spark.extensions.textstats", fromlist=["LANG_STOPWORDS"]).LANG_STOPWORDS.values() for w in ws}
) + ["zz", "qqq", "42", "xylophone"]

ml_texts = st.lists(
    st.lists(st.sampled_from(_ML_VOCAB), min_size=0, max_size=10).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=ml_texts)
@settings(**SETTINGS)
def test_langid_matches_python_reference(spark, texts):
    """langid == pure-Python argmax over per-language stopword fractions
    with the exact (rounded score, lang-code) struct tiebreak that
    array_max applies — including the all-zero case, which must pick the
    lexicographically largest language code."""
    from hdp_tez_spark.extensions.textstats import LANG_STOPWORDS, langid

    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    got = {r.id: (r.pred_lang, r.pred_score) for r in langid(df, "id", "s").collect()}
    want = {}
    for i, t in enumerate(texts):
        toks = py_tokens(t)
        cands = []
        for lang in sorted(LANG_STOPWORDS):
            frac = (
                sum(tok in LANG_STOPWORDS[lang] for tok in toks) / len(toks)
                if toks
                else 0.0
            )
            cands.append((round(frac, 6), lang))
        score, lang = max(cands)
        want[i] = (lang, score)
    assert got == want


_PII_FRAGMENTS = [
    "hello",
    "order 1234567890 shipped",
    "alice.smith+tag@example.co",
    "bob@sub.domain.io",
    "a@b",                       # not an email (TLD < 2 alpha)
    "10.0.0.1",
    "999.999.1.1",               # matches: pattern is 1-3 digits, not <=255
    "1.2.3",                     # not an IP (3 octets)
    "+1 (555) 123-4567",
    "(02) 9999 1234",
    "+12",                       # too short for the phone pattern
    "v1.2.3.4beta",              # \b boundaries: digits flanked by letters
    "mail me: x_9%y@z.org now",
]

pii_texts = st.lists(
    st.lists(st.sampled_from(_PII_FRAGMENTS), min_size=0, max_size=5).map(", ".join),
    min_size=1,
    max_size=8,
)


@given(texts=pii_texts)
@settings(**SETTINGS)
def test_redact_pii_matches_python_re_reference(spark, texts):
    """redact_pii == Python `re` applied with the same three patterns in
    the same email -> ip -> phone order (counts on the ORIGINAL text,
    replacement sequential) — a third regex engine agreeing with Java
    keeps the 'POSIX-classes-only so Java and RE2 agree' contract honest."""
    import re

    from hdp_tez_spark.extensions.textstats import (
        PII_EMAIL_REGEX,
        PII_IPV4_REGEX,
        PII_PHONE_REGEX,
        redact_pii,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    got = {
        r.id: (r.redacted, r.n_emails, r.n_ips, r.n_phones)
        for r in redact_pii(df, "id", "s").collect()
    }
    want = {}
    for i, t in enumerate(texts):
        red = re.sub(PII_EMAIL_REGEX, "<EMAIL>", t)
        red = re.sub(PII_IPV4_REGEX, "<IP>", red)
        red = re.sub(PII_PHONE_REGEX, "<PHONE>", red)
        want[i] = (
            red,
            len(re.findall(PII_EMAIL_REGEX, t)),
            len(re.findall(PII_IPV4_REGEX, t)),
            len(re.findall(PII_PHONE_REGEX, t)),
        )
    assert got == want


ascii_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=ascii_texts)
@settings(**SETTINGS)
def test_fingerprint_matches_hashlib_reference(spark, texts):
    """fingerprint == hashlib.md5 over the whitespace-normalized
    lowercase form, and fp_int == the first 15 hex digits parsed base-16
    (60 bits, never overflows a long)."""
    import hashlib
    import re

    from hdp_tez_spark.extensions.textstats import fingerprint

    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    got = {r.id: (r.fp_md5, r.fp_int) for r in fingerprint(df, "id", "s").collect()}
    want = {}
    for i, t in enumerate(texts):
        norm = re.sub("[^a-z0-9]+", " ", t.lower()).strip()
        h = hashlib.md5(norm.encode("utf-8")).hexdigest()
        want[i] = (h, int(h[:15], 16))
    assert got == want


@given(texts=ascii_texts)
@settings(**SETTINGS)
def test_repetition_stats_matches_python_reference(spark, texts):
    """repetition_stats == exact Python token/distinct counts with the
    rounded duplicate ratio (empty docs -> ratio 0.0 by contract)."""
    from hdp_tez_spark.extensions.textstats import repetition_stats

    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    got = {
        r.id: (r.n_tokens, r.n_unique, r.rep_ratio)
        for r in repetition_stats(df, "id", "s").collect()
    }
    want = {}
    for i, t in enumerate(texts):
        toks = py_tokens(t)
        n, u = len(toks), len(set(toks))
        want[i] = (n, u, round(1 - u / n, 6) if n else 0.0)
    assert got == want


@given(texts=ascii_texts)
@settings(**SETTINGS)
def test_quality_score_matches_python_reference(spark, texts):
    """quality_score component formulas == a from-scratch Python
    recomputation: integer components exact; float ratios and the
    weighted combo within 1.5e-6 (one ulp of the 6-dp rounding — the
    two sides may legally disagree only on a rounding tie that the
    fixed strategies cannot produce, so this is belt-and-braces)."""
    from hdp_tez_spark.extensions.textstats import LANG_STOPWORDS, quality_score

    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    rows = {r.id: r for r in quality_score(df, "id", "s").collect()}
    for i, t in enumerate(texts):
        toks = py_tokens(t)
        n_chars = len(t)
        n_tokens = len(toks)
        n_punct = sum(not (c.isalnum() and c.isascii()) and c != " " for c in t)
        n_digits = sum(c.isdigit() and c.isascii() for c in t)
        n_stop = sum(tok in LANG_STOPWORDS["en"] for tok in toks)
        mean_tok_len = sum(map(len, toks)) / n_tokens if n_tokens else 0.0
        punct_ratio = n_punct / n_chars if n_chars else 0.0
        digit_ratio = n_digits / n_chars if n_chars else 0.0
        stop_ratio = n_stop / n_tokens if n_tokens else 0.0
        score = (
            0.3 * min(n_chars / 500.0, 1.0)
            + 0.3 * min(stop_ratio * 5, 1.0)
            + 0.2 * (1 - min(punct_ratio * 10, 1.0))
            + 0.2 * (1 - min(digit_ratio * 10, 1.0))
        )
        r = rows[i]
        assert r.n_tokens == n_tokens
        for gotv, wantv in (
            (r.punct_ratio, punct_ratio),
            (r.digit_ratio, digit_ratio),
            (r.stopword_ratio, stop_ratio),
            (r.mean_token_len, mean_tok_len),
            (r.quality, score),
        ):
            assert abs(gotv - round(wantv, 6)) <= 1.5e-6, (i, gotv, wantv)


intervals = st.lists(
    st.tuples(
        st.integers(0, 2),                      # key
        st.integers(0, 40),                     # start
        st.integers(-5, 30),                    # length (negative -> inverted, must drop)
    ),
    min_size=1,
    max_size=30,
)


@given(rows=intervals)
@settings(**SETTINGS)
def test_merge_intervals_matches_python_union(spark, rows):
    """merge_intervals == a from-scratch Python sweep-line union:
    n_raw counts the surviving (non-inverted) rows, n_merged the merged
    islands, covered_sec the union length — with touching intervals
    merged and inverted intervals dropped, per the documented contract."""
    from hdp_tez_spark.extensions.analytics import merge_intervals

    df = spark.createDataFrame(
        [(k, float(s), float(s + ln)) for k, s, ln in rows],
        "k int, s double, e double",
    )
    got = {
        r.key: (r.n_raw, r.n_merged, r.covered_sec)
        for r in merge_intervals(df, "k", "s", "e").collect()
    }
    by_key: dict[int, list[tuple[float, float]]] = {}
    for k, s, ln in rows:
        if ln >= 0:
            by_key.setdefault(k, []).append((float(s), float(s + ln)))
    want = {}
    for k, ivs in by_key.items():
        ivs.sort()
        islands: list[list[float]] = []
        for s, e in ivs:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        want[k] = (
            len(ivs),
            len(islands),
            round(sum(e - s for s, e in islands), 4),
        )
    assert got == want


@given(texts=ascii_texts)
@settings(**SETTINGS)
def test_token_stats_matches_python_reference(spark, texts):
    """token_stats == Python re: whitespace-ish token count on the
    lowered text, BPE-ish segment count on the ORIGINAL text (leftmost
    alternation, same in Java and Python re), char count."""
    import re

    from hdp_tez_spark.extensions.textstats import BPE_ISH_REGEX, token_stats

    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    got = {
        r.id: (r.n_tokens, r.n_bpeish, r.n_chars_seen)
        for r in token_stats(df, "id", "s").collect()
    }
    want = {
        i: (len(py_tokens(t)), len(re.findall(BPE_ISH_REGEX, t)), len(t))
        for i, t in enumerate(texts)
    }
    assert got == want


@given(texts=ml_texts)
@settings(**SETTINGS)
def test_lm_score_matches_python_reference(spark, texts):
    """lm_score == a from-scratch Python bigram LM with the same
    Laplace-0.5 smoothing: c2 from corpus bigrams, c1 = sum over w2 of
    c2, V = distinct words appearing in the bigram table (NOT the full
    unigram vocab — a single-token doc contributes no words), docs with
    < 2 tokens excluded."""
    import math
    from collections import Counter

    from hdp_tez_spark.extensions.textstats import lm_score

    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    got = {
        r.id: (r.n_bigrams, r.lm_score)
        for r in lm_score(df, "id", "s").collect()
    }
    c2: Counter = Counter()
    doc_bigrams = {}
    for i, t in enumerate(texts):
        toks = py_tokens(t)
        bgs = list(zip(toks, toks[1:]))
        doc_bigrams[i] = bgs
        c2.update(bgs)
    c1: Counter = Counter()
    words = set()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        words.update((w1, w2))
    V = len(words)
    want_ids = {i for i, bgs in doc_bigrams.items() if bgs}
    assert set(got) == want_ids
    for i in want_ids:
        bgs = doc_bigrams[i]
        lps = [math.log((c2[b] + 0.5) / (c1[b[0]] + 0.5 * V)) for b in bgs]
        n, score = got[i]
        assert n == len(bgs)
        assert abs(score - round(sum(lps) / len(lps), 6)) <= 1.5e-6, (i, score)


points2d = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 20)),
    min_size=1,
    max_size=40,
)


@given(pts=points2d)
@settings(**SETTINGS)
def test_skyline_matches_quadratic_reference(spark, pts):
    """skyline == the textbook O(n^2) strict-dominance filter, including
    duplicate frontier points (neither dominates the other) and ties on
    a single dimension."""
    from hdp_tez_spark.extensions.analytics import skyline

    pdf = pd.DataFrame(pts, columns=["x", "y"]).reset_index(names="id")
    want = sorted(
        r.id
        for r in pdf.itertuples()
        if not any(
            (o.x <= r.x and o.y >= r.y and (o.x < r.x or o.y > r.y))
            for o in pdf.itertuples()
        )
    )
    got = (
        skyline(spark.createDataFrame(pdf), "x", "y")
        .select("id")
        .toPandas()["id"]
        .sort_values()
        .tolist()
    )
    assert got == want


vecs3d = st.lists(
    st.tuples(
        st.integers(-4, 4), st.integers(-4, 4), st.integers(-4, 4)
    ).filter(lambda t: any(t)),
    min_size=2,
    max_size=15,
)


@given(vs=vecs3d, lam_num=st.integers(0, 4))
@settings(**SETTINGS)
def test_mmr_select_matches_greedy_reference(spark, vs, lam_num):
    """mmr_select == a plain-Python greedy MMR with the same 6-dp
    rounding and ascending-id tiebreak, across dyadic lambdas including
    the degenerate ends (1.0 = pure relevance ranking, 0.0 = pure
    diversity)."""
    import math

    from hdp_tez_spark.extensions.similarity import mmr_select

    lam = lam_num / 4.0
    query = [1.0, 0.0, 0.0]
    k = min(5, len(vs))

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    rel = {i: cos(v, query) for i, v in enumerate(vs)}
    picked, remaining = [], set(range(len(vs)))
    for _ in range(k):
        best = max(
            remaining,
            key=lambda i: (
                lam * rel[i]
                - (1 - lam)
                * (max(cos(vs[i], vs[j]) for j in picked) if picked else 0.0),
                -i,
            ),
        )
        picked.append(best)
        remaining.discard(best)

    pdf = pd.DataFrame(
        {"vec_id": range(len(vs)), "embedding": [list(map(float, v)) for v in vs]}
    )
    got = (
        mmr_select(spark.createDataFrame(pdf), query, k=k, lam=lam)
        .select("selected_id")
        .toPandas()["selected_id"]
        .tolist()
    )
    assert got == picked


baskets = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 8)),  # (basket, item)
    min_size=1,
    max_size=40,
)


@given(rows=baskets, min_n=st.integers(1, 3))
@settings(**SETTINGS)
def test_association_rules_matches_python_reference(spark, rows, min_n):
    """association_rules == a dict-based Apriori pairwise reference:
    same directed rules, same 6-dp support/confidence/lift."""
    from collections import defaultdict
    from itertools import combinations

    from hdp_tez_spark.extensions.analytics import association_rules

    by_basket = defaultdict(set)
    for b, i in rows:
        by_basket[b].add(i)
    n_total = len(by_basket)
    item_cnt: dict[int, int] = defaultdict(int)
    pair_cnt: dict[tuple[int, int], int] = defaultdict(int)
    for items in by_basket.values():
        for i in items:
            item_cnt[i] += 1
        for a, b in combinations(sorted(items), 2):
            pair_cnt[(a, b)] += 1
    want = set()
    for (a, b), n in pair_cnt.items():
        if n < min_n:
            continue
        for ant, con in ((a, b), (b, a)):
            want.add(
                (
                    ant,
                    con,
                    n,
                    round(n / n_total, 6),
                    round(n / item_cnt[ant], 6),
                    round(n * n_total / (item_cnt[ant] * item_cnt[con]), 6),
                )
            )

    pdf = pd.DataFrame(rows, columns=["b", "i"])
    got = set(
        tuple(r)
        for r in association_rules(
            spark.createDataFrame(pdf), "b", "i", min_pair_count=min_n
        )
        .toPandas()
        .itertuples(index=False)
    )
    assert got == want


series_rows = st.lists(
    st.tuples(
        st.integers(0, 3),        # key
        st.integers(0, 40),       # order position
        st.integers(-50, 50),     # value
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1]),
)


@given(rows=series_rows, k=st.integers(1, 8))
@settings(**SETTINGS)
def test_rolling_median_matches_reference(spark, rows, k):
    """rolling_median == plain-Python sorted-window median with
    percentile_cont interpolation (even counts average the two middle
    order statistics), per key, trailing k rows incl. current."""
    from hdp_tez_spark.extensions.analytics import rolling_median

    by_key: dict[int, list[tuple[int, int]]] = {}
    for key, t, v in rows:
        by_key.setdefault(key, []).append((t, v))
    want = {}
    for key, series in by_key.items():
        series.sort()
        for i, (t, _v) in enumerate(series):
            frame = sorted(v for _, v in series[max(0, i - k + 1) : i + 1])
            n = len(frame)
            if n % 2:
                med = float(frame[n // 2])
            else:
                med = (frame[n // 2 - 1] + frame[n // 2]) / 2.0
            want[(key, t)] = round(med, 6)
    got = {
        (r["key"], r["t"]): r["rolling_median"]
        for r in rolling_median(
            spark.createDataFrame(
                [(key, t, float(v)) for key, t, v in rows],
                "key INT, t INT, v DOUBLE",
            ),
            "key",
            ["t"],
            "v",
            k=k,
        ).collect()
    }
    assert got == want


@given(
    values=st.lists(st.integers(0, 1000), min_size=1, max_size=60),
    seed=st.integers(0, 99),
)
@settings(**SETTINGS)
def test_seasonal_decompose_matches_reference(spark, values, seed):
    """seasonal_decompose == plain-Python classical additive
    decomposition: centered 7-point trend (NULL-edged), re-centered
    per-weekday seasonal means, residual closure o = t + s + r."""
    import datetime as dt

    from hdp_tez_spark.extensions.analytics import seasonal_decompose

    start = dt.date(2024, 1, 1) + dt.timedelta(days=seed)
    days = [start + dt.timedelta(days=i) for i in range(len(values))]
    o = [float(v) for v in values]
    n = len(o)
    trend = [
        sum(o[i - 3 : i + 4]) / 7.0 if 3 <= i < n - 3 else None
        for i in range(n)
    ]
    detr: dict[int, list[float]] = {}
    for i in range(n):
        if trend[i] is not None:
            pos = (days[i].isoweekday()) % 7  # 0 = Sunday
            detr.setdefault(pos, []).append(o[i] - trend[i])
    raw = {p: sum(v) / len(v) for p, v in detr.items()}
    mean_raw = sum(raw.values()) / len(raw) if raw else 0.0
    seas = {p: v - mean_raw for p, v in raw.items()}
    want = {}
    for i in range(n):
        pos = (days[i].isoweekday()) % 7
        s = seas.get(pos)
        t = trend[i]
        want[days[i]] = (
            pos,
            round(o[i], 6),
            None if t is None else round(t, 6),
            None if s is None else round(s, 6),
            None if (t is None or s is None) else round(o[i] - t - s, 6),
        )
    df = spark.createDataFrame(list(zip(days, o)), "d DATE, v DOUBLE")
    got = {
        r["ts"]: (
            r["pos"],
            r["observed"],
            r["trend"],
            r["seasonal"],
            r["residual"],
        )
        for r in seasonal_decompose(df, "d", "v").collect()
    }
    assert got.keys() == want.keys()
    for day in want:
        gp, go, gt, gs, gr = got[day]
        wp, wo, wt, ws, wr = want[day]
        assert (gp, go) == (wp, wo), day
        for g, w in ((gt, wt), (gs, ws), (gr, wr)):
            if w is None:
                assert g is None, day
            else:
                # 2e-6: reference sums chronologically, Spark sums in
                # partition order — a last-ulp difference can flip the
                # 6-dp rounding by one step at an exact boundary
                assert g is not None and abs(g - w) < 2e-6, (day, g, w)


pareto_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),  # group
        st.integers(0, 30),           # key
        st.integers(1, 1000),         # positive exact value
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: (t[0], t[1]),
)


@given(rows=pareto_rows)
@settings(**SETTINGS)
def test_pareto_contributors_matches_reference(spark, rows):
    """pareto_contributors == plain-Python 80% cumulative-share prefix
    with the exact integer comparison (cum - v) * 5 < total * 4 —
    includes the crossing row, excludes everything after."""
    from hdp_tez_spark.extensions.analytics import pareto_contributors

    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:  # Spark round() is HALF_UP on the
        # shortest decimal repr; Python round() is banker's — they split
        # on exact half-millionth ratios like 1/640
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    groups: dict[str, list[tuple[int, int]]] = {}
    for g, key, v in rows:
        groups.setdefault(g, []).append((key, v))
    want = set()
    for g, members in groups.items():
        members.sort(key=lambda t: (-t[1], t[0]))
        total = sum(v for _, v in members)
        cum = 0
        for rank, (key, v) in enumerate(members, start=1):
            if cum * 5 < total * 4:  # (cum_before) / total < 0.8 exactly
                want.add(
                    (
                        g,
                        key,
                        v,
                        rank,
                        r6(v / total),
                        r6((cum + v) / total),
                    )
                )
            cum += v
    got = set(
        (
            r["g"],
            r["key"],
            r["value"],
            r["rank"],
            r["share"],
            r["cum_share"],
        )
        for r in pareto_contributors(
            spark.createDataFrame(rows, "g STRING, key INT, value LONG"),
            "g",
            "key",
            "value",
        ).collect()
    )
    assert got == want


interval_rows = st.lists(
    st.tuples(
        st.integers(0, 9),            # id
        st.integers(0, 80),           # start offset (hours)
        st.integers(0, 30),           # duration (hours)
    ),
    min_size=1,
    max_size=25,
)


@given(rows=interval_rows)
@settings(**SETTINGS)
def test_peak_concurrency_matches_sweep_reference(spark, rows):
    """peak_concurrency == a plain-Python per-bucket sweep with
    inclusive endpoints (starts before ends at equal instants),
    zero-length intervals, and intervals split at day boundaries so
    CARRIED concurrency is represented in every covered bucket
    (ADVICE r08): a day fully inside an interval reports a row with
    the carry re-registered at the bucket-start instant."""
    import datetime as dt

    from hdp_tez_spark.extensions.analytics import peak_concurrency

    base = dt.datetime(2024, 1, 1)
    ivs = [
        (i, base + dt.timedelta(hours=s), base + dt.timedelta(hours=s + d))
        for i, s, d in rows
    ]
    # reference: split each interval into per-day segments; within a
    # day, +1 at max(s, day start) (ord 0), -1 at e (ord 1) if the
    # interval ends today else at the next-day boundary (ord 2)
    pts = []
    for i, s, e in ivs:
        d = s.date()
        while d <= e.date():
            day0 = dt.datetime.combine(d, dt.time.min)
            pts.append((d, max(s, day0), 0, i, 1))
            if e.date() == d:
                pts.append((d, e, 1, i, -1))
            else:
                nxt = dt.datetime.combine(d + dt.timedelta(days=1), dt.time.min)
                pts.append((d, nxt, 2, i, -1))
            d += dt.timedelta(days=1)
    running, want = 0, {}
    for day, ts, _ord, _i, delta in sorted(pts):
        running += delta
        cur = want.get(day)
        if cur is None or running > cur[0]:
            want[day] = (running, ts)
    got = {
        r["bucket_start"]: (r["peak"], r["peak_ts"])
        for r in peak_concurrency(
            spark.createDataFrame(ivs, "id INT, s TIMESTAMP, e TIMESTAMP"),
            "s",
            "e",
            "id",
        ).collect()
    }
    assert got == want
