"""Driver contract for the spark-graft builder (PySpark target).

Each entry in `_REGISTRY` pairs a Spark query (built from the
`hdp_tez_spark` operator library) with the equivalent ANSI SQL the DuckDB
oracle runs on the same parquet tables. Column names and aliases match on
both sides; computed doubles are rounded identically on both sides so the
value-hash comparison is stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdp_tez_spark.functions import text as T
from hdp_tez_spark.operators import aggregates as agg
from hdp_tez_spark.operators import joins as J
from hdp_tez_spark.operators import setops as S
from hdp_tez_spark.operators import sort as SRT
from hdp_tez_spark.operators import window as W
from hdp_tez_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _scratch_dir(prefix: str) -> str:
    """Unique-per-invocation scratch dir, removed at interpreter exit.

    Every query that stages data in a temp dir uses this instead of a
    bare `tempfile.mkdtemp`: uniqueness preserves the contract that a
    DataFrame returned by an earlier invocation stays readable (a reused
    dir + mode=overwrite would delete the files that DataFrame pinned at
    read time, and a reused STREAMING source/checkpoint dir would replay
    stale files), while the atexit cleanup keeps /tmp from accumulating
    a table copy per bench/correctness invocation — the round-5 leak."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# ---------------------------------------------------------------------------
# Core relational queries (SURVEY §2 parity)
# ---------------------------------------------------------------------------


def q_mrr_group_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tez MRR pattern (GroupByOrderByMRRTest): GROUP BY then ORDER BY."""
    li = _t(spark, sf_dir, "lineitem")
    return agg.group_then_order(
        li,
        keys=["l_returnflag", "l_linestatus"],
        aggs=[
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
        ],
        order=[F.col("l_returnflag"), F.col("l_linestatus")],
    )


_SQL_MRR = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)      AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(avg(l_discount), 6)      AS avg_disc,
       count(*)                       AS cnt
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount.java parity over documents.text."""
    return T.word_count(_t(spark, sf_dir, "documents"), "text")


_SQL_WORDCOUNT = """
SELECT word, count(*) AS cnt
FROM (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS word
  FROM documents
)
GROUP BY word
"""


def q_ordered_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OrderedWordCount.java parity: counts desc, word asc, top 100."""
    return T.ordered_word_count(_t(spark, sf_dir, "documents"), "text", limit=100)


_SQL_ORDERED_WORDCOUNT = """
SELECT word, count(*) AS cnt
FROM (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS word
  FROM documents
)
GROUP BY word
ORDER BY cnt DESC, word ASC
LIMIT 100
"""


def q_broadcast_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashJoinExample broadcast path: fact joined to broadcast dims."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dim = J.broadcast_join(
        customer,
        nation.join(region, nation.n_regionkey == region.r_regionkey),
        on=customer.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "n_name", "r_name")
    joined = J.broadcast_join(orders, dim, on=orders.o_custkey == dim.c_custkey)
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("r_name", "n_name")
    )


_SQL_BROADCAST_JOIN = """
SELECT r_name, n_name, count(*) AS order_cnt,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_sortmerge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SortMergeJoinExample parity: big-big equi-join, MERGE strategy."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = J.equi_join(
        li, orders, on=li.l_orderkey == orders.o_orderkey, strategy="merge"
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


_SQL_SORTMERGE_JOIN = """
SELECT o_orderpriority, count(*) AS line_cnt,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashJoinExample shuffle-hash path (both sides hash-partitioned)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = J.equi_join(
        li, part, on=li.l_partkey == part.p_partkey, strategy="shuffle_hash"
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.round(F.sum(F.col("l_quantity")), 2).alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


_SQL_SHUFFLE_HASH_JOIN = """
SELECT p_brand, count(*) AS line_cnt, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join emit (HashJoinProcessor probe-emit semantics)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    hot = orders.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return J.semi_join(customer, hot, on="c_custkey").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_SQL_SEMI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no orders, counted per segment."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").alias("c_custkey"))
    return (
        J.anti_join(customer, keys, on="c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("no_order_customers"))
        .orderBy("c_mktsegment")
    )


_SQL_ANTI_JOIN = """
SELECT c_mktsegment, count(*) AS no_order_customers
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_join_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoinValidate.java parity: symmetric-difference counts of join keys."""
    orders = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("key"))
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("key"))
    return J.join_validate(orders, li, on=["key"]).orderBy("side")


_SQL_JOIN_VALIDATE = """
WITH lo AS (SELECT DISTINCT o_orderkey AS key FROM orders),
     ro AS (SELECT DISTINCT l_orderkey AS key FROM lineitem)
SELECT 'left_only' AS side, count(*) AS missing
FROM lo WHERE key NOT IN (SELECT key FROM ro)
UNION ALL
SELECT 'right_only' AS side, count(*) AS missing
FROM ro WHERE key NOT IN (SELECT key FROM lo)
ORDER BY side
"""


def q_union_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VertexGroup UNION + grouped agg (UnionExample.java parity)."""
    orders = _t(spark, sf_dir, "orders")
    even = orders.where(F.col("o_orderkey") % 2 == 0)
    odd = orders.where(F.col("o_orderkey") % 2 == 1)
    return S.union_grouped(
        [even, odd],
        keys=["o_orderpriority"],
        aggs=[
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ],
    ).orderBy("o_orderpriority")


_SQL_UNION_GROUPED = """
SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
FROM (
  SELECT * FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT * FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SecondarySort.java parity: rank within group under secondary order.

    rank() (not row_number) because (l_linenumber, l_orderkey) is not unique
    in the synthetic data — rank is deterministic under ties.
    """
    li = _t(spark, sf_dir, "lineitem")
    return SRT.secondary_sort_ranked(
        li.select("l_suppkey", "l_linenumber", "l_orderkey", "l_quantity"),
        partition_key="l_suppkey",
        secondary=["l_linenumber", "l_orderkey"],
        rank_name="rn",
    ).select("l_suppkey", "rn", "l_linenumber", "l_orderkey", "l_quantity")


_SQL_SECONDARY_SORT = """
SELECT l_suppkey,
       rank() OVER (PARTITION BY l_suppkey
                    ORDER BY l_linenumber, l_orderkey) AS rn,
       l_linenumber, l_orderkey, l_quantity
FROM lineitem
"""


def q_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort.java parity: total order via range partitioning, with a global
    rank making sortedness observable. No single-task funnel (see
    sort.global_sort_ranked)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return SRT.global_sort_ranked(
        li,
        order=[F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        rank_name="rn",
    )


_SQL_GLOBAL_SORT = """
SELECT l_extendedprice, l_orderkey, l_linenumber,
       rank() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
FROM lineitem
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT k == TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    return SRT.top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        order=[
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        k=100,
    )


_SQL_TOPK = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return agg.distinct_rows(li, ["l_returnflag", "l_linestatus"]).orderBy(
        "l_returnflag", "l_linestatus"
    )


_SQL_DISTINCT = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return agg.rollup_agg(
        li,
        keys=["l_returnflag", "l_linestatus"],
        aggs=[
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        ],
    ).orderBy("l_returnflag", "l_linestatus")


_SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return agg.cube_agg(
        orders,
        keys=["o_orderstatus", "o_orderpriority"],
        aggs=[
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("cnt"),
        ],
    ).orderBy("o_orderstatus", "o_orderpriority")


_SQL_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS total, count(*) AS cnt
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority
"""


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return S.intersect_rows(c, s).orderBy("nationkey")


_SQL_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return S.except_rows(c, s).orderBy("nationkey")


_SQL_EXCEPT = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    return J.cross_join(region.select("r_name"), nation.select("n_name")).orderBy(
        "r_name", "n_name"
    )


_SQL_CROSS_JOIN = """
SELECT r_name, n_name FROM region CROSS JOIN nation
ORDER BY r_name, n_name
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/banded join (beyond-reference surface): nation pairs whose keys
    differ by at most 2."""
    n1 = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("a"))
    n2 = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("b"))
    cond = (F.col("a") < F.col("b")) & (F.col("b") - F.col("a") <= 2)
    return J.range_join(n1, n2, cond).orderBy("a", "b")


_SQL_RANGE_JOIN = """
SELECT a, b
FROM (SELECT n_nationkey AS a FROM nation),
     (SELECT n_nationkey AS b FROM nation)
WHERE a < b AND b - a <= 2
ORDER BY a, b
"""


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 orders per customer by price."""
    orders = _t(spark, sf_dir, "orders")
    return SRT.top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        group="o_custkey",
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
        rank_name="rn",
    )


_SQL_WINDOW_RANK = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per user over event time."""
    ev = _t(spark, sf_dir, "events")
    out = W.with_running(
        ev.select("user_id", "event_id", "ts", "value"),
        agg=F.sum("value"),
        partition_by=["user_id"],
        order_by=[F.col("ts"), F.col("event_id")],
        name="running_value",
    )
    return out.select(
        "user_id", "event_id", F.round("running_value", 4).alias("running_value")
    )


_SQL_WINDOW_RUNNING = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS running_value
FROM events
"""


def q_window_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over the 3 preceding + current rows per user."""
    ev = _t(spark, sf_dir, "events")
    out = W.with_moving(
        ev.select("user_id", "event_id", "ts", "value"),
        agg=F.avg("value"),
        partition_by=["user_id"],
        order_by=[F.col("ts"), F.col("event_id")],
        preceding=3,
        following=0,
        name="moving_avg",
    )
    return out.select("user_id", "event_id", F.round("moving_avg", 4).alias("moving_avg"))


_SQL_WINDOW_MOVING = """
SELECT user_id, event_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)
         AS moving_avg
FROM events
"""


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = W.with_lag_lead(
        ev.select("user_id", "event_id", "ts", "value"),
        col="value",
        partition_by=["user_id"],
        order_by=[F.col("ts"), F.col("event_id")],
        lag_name="prev_value",
        lead_name="next_value",
    )
    return out.select(
        "user_id",
        "event_id",
        F.round("prev_value", 4).alias("prev_value"),
        F.round("next_value", 4).alias("next_value"),
    )


_SQL_LAG_LEAD = """
SELECT user_id, event_id,
       round(lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_value,
       round(lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS next_value
FROM events
"""


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar expression surface (replaces Hive-on-Tez's expression layer;
    Tez itself has none — SURVEY §2.8). String/date/math/conditional, all
    JVM-side codegen."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat_ws("-", F.col("o_orderstatus"), F.col("o_orderpriority")).alias(
            "status_prio"
        ),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.round(F.col("o_totalprice") * 0.1, 4).alias("commission"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.when(F.col("o_totalprice") > 200000, F.lit("big"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
        F.length("o_orderpriority").alias("prio_len"),
    ).orderBy("o_orderkey")


_SQL_SCALAR_FUNCTIONS = """
SELECT o_orderkey,
       upper(o_orderstatus)                          AS status_upper,
       substring(o_orderpriority, 1, 1)              AS prio_code,
       concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
       year(o_orderdate)                             AS order_year,
       month(o_orderdate)                            AS order_month,
       round(o_totalprice * 0.1, 4)                  AS commission,
       o_orderkey % 7                                AS key_mod,
       CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_class,
       length(o_orderpriority)                       AS prio_len
FROM orders
ORDER BY o_orderkey
"""


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FilterByWordInputProcessor parity: predicate filter + projection,
    pushed into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01"))
            & (F.col("l_discount") > 0.05)
            & (F.col("l_returnflag") == "R")
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    )


_SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_discount > 0.05 AND l_returnflag = 'R'
ORDER BY l_orderkey, l_linenumber
"""


# ---------------------------------------------------------------------------
# TPC-H-adapted headline queries (bench set)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Money sums run in EXACT decimal arithmetic (the data is 2-dp money;
    # discounts/taxes are 2-dp rates), presented as double. A measured
    # sf1.0 probe (r07, BENCH_NOTES) put partition-order noise on these
    # double sums at 0.0049 against the 0.005 threshold of round(x, 2) —
    # a 1.0x margin, i.e. the rounded cent was nondeterministic across
    # layouts. Decimal sums are order-independent and engine-exact (real
    # TPC-H types are DECIMAL for the same reason); the final double cast
    # of an exact decimal is deterministic in any IEEE engine. Precisions
    # stay narrow so products never hit Spark's 38-digit cap (which would
    # reintroduce rounding): (12,2)*(5,2)->(18,4), *(5,2)->(24,6).
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc1 = F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    tax1 = F.lit(1).cast("decimal(4,2)") + F.col("l_tax").cast("decimal(4,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantity is integer-valued: a double sum below 2^53 is
            # already exact and order-independent — no decimal needed
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            # round the EXACT decimal to 2 dp before the double cast:
            # deterministic (no float noise reaches the round), and it
            # keeps the scaled integer under 2^53 so the decimal->double
            # conversion is a single correct rounding in both engines (a
            # scale-6 sum overflows 2^53 and DuckDB's two-step
            # int->double->divide landed 1 ulp off Spark's BigDecimal
            # conversion at sf1.0)
            F.round(F.sum(price * disc1), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(price * disc1 * tax1), 2).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 6)       AS avg_qty,
       round(avg(l_extendedprice), 6)  AS avg_price,
       round(avg(l_discount), 6)       AS avg_disc,
       count(*)                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 adapted to available columns (o_orderpriority for shippriority)."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    # customer scales with the data (15M rows at sf100) — no broadcast
    # hint; AQE picks broadcast at small SF and shuffle join at scale.
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_SQL_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 adapted: local-supplier revenue per nation."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


_SQL_TPCH_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


_SQL_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions (BASELINE.json: dedup, similarity search,
# text analysis) — oracle-checked end to end, including MinHash/SimHash,
# which share an md5-derived hash with the SQL twin.
# ---------------------------------------------------------------------------

_SQL_TOKS_CTE = """
toks AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
sh0 AS (
  SELECT doc,
         CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
              ELSE [array_to_string(t, ' ')] END AS shl
  FROM toks
),
sh AS (SELECT DISTINCT doc, unnest(list_distinct(shl)) AS shingle FROM sh0),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
jaccard_pairs AS (
  SELECT a.doc AS id_a, b.doc AS id_b,
         round(count(*) * 1.0 /
               (any_value(sa.n) + any_value(sb.n) - count(*)), 6) AS jaccard
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  JOIN sizes sa ON a.doc = sa.doc
  JOIN sizes sb ON b.doc = sb.doc
  GROUP BY a.doc, b.doc
)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import dedup as D

    return D.exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import dedup as D

    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=3, threshold=0.1
    )


_SQL_NGRAM_JACCARD = f"""
WITH {_SQL_TOKS_CTE}
SELECT id_a, id_b, jaccard FROM jaccard_pairs WHERE jaccard >= 0.1
"""


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (extensions/experiments.py
    mann_whitney): exact tie-averaged U between two order-status groups
    plus the tie-corrected normal z. Raw rows collapse to distinct value
    cells; ranks come from the distributed prefix_sum (no single-task
    window); rank sums are multiples of 0.5 under 2^52 so the statistic
    is bit-stable across engines."""
    from hdp_tez_spark.extensions.experiments import mann_whitney

    orders = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    return mann_whitney(orders, "o_orderstatus", "o_totalprice", "F", "O")


_SQL_MANN_WHITNEY = """
WITH base AS (
  SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('F', 'O')
), cells AS (
  SELECT v,
         CAST(sum(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM base GROUP BY v
), cum AS (
  SELECT ca, cb, ca + cb AS t,
         CAST(sum(ca + cb) OVER (ORDER BY v) AS BIGINT) AS hi
  FROM cells
), s AS (
  -- every fractional literal is CAST to DOUBLE: DuckDB would otherwise
  -- run 2.0/12.0 arithmetic in DECIMAL, a different rounding chain
  -- than Spark's IEEE doubles
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
         sum(ca * (hi - (t - 1) / CAST(2.0 AS DOUBLE))) AS ra,
         sum(CAST(t AS DOUBLE) * t * t - t) AS tie
  FROM cum
), f AS (
  SELECT na, nb, ra - na * (na + 1) / CAST(2.0 AS DOUBLE) AS u,
         na * nb / CAST(12.0 AS DOUBLE)
           * ((na + nb + CAST(1.0 AS DOUBLE))
              - tie / ((na + nb) * (na + nb - CAST(1.0 AS DOUBLE)))) AS var
  FROM s
)
SELECT na AS n_a, nb AS n_b,
       round(u, 6) AS u_a,
       round(CASE WHEN var > 0
                  THEN (u - na * nb / CAST(2.0 AS DOUBLE)) / sqrt(var) END, 6)
         AS z
FROM f
"""


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic (extensions/
    experiments.py ks_test): max CDF gap between two order-status
    groups. CDF values are ratios of exact integer prefix counts from
    the distributed prefix_sum — bit-stable across engines."""
    from hdp_tez_spark.extensions.experiments import ks_test

    orders = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    return ks_test(orders, "o_orderstatus", "o_totalprice", "F", "O")


_SQL_KS_TEST = """
WITH base AS (
  SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('F', 'O')
), cells AS (
  SELECT v,
         CAST(sum(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM base GROUP BY v
), cum AS (
  SELECT CAST(sum(ca) OVER w AS BIGINT) AS cum_a,
         CAST(sum(ca + cb) OVER w AS BIGINT) AS cum_t
  FROM cells WINDOW w AS (ORDER BY v)
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM cells
)
SELECT na AS n_a, nb AS n_b,
       round(max(abs(cum_a / CAST(na AS DOUBLE)
                     - (cum_t - cum_a) / CAST(nb AS DOUBLE))), 6) AS d_stat,
       round(sqrt(na * nb / CAST(na + nb AS DOUBLE))
             * max(abs(cum_a / CAST(na AS DOUBLE)
                       - (cum_t - cum_a) / CAST(nb AS DOUBLE))), 6)
         AS ks_lambda
FROM cum, tot
GROUP BY na, nb
"""


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across all order-status groups (extensions/
    experiments.py kruskal_wallis): one-way ANOVA on ranks via distinct
    value cells + distributed prefix-sum ranks; per-group rank sums are
    exact, only the k-term reduction is float-ordered."""
    from hdp_tez_spark.extensions.experiments import kruskal_wallis

    orders = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    return kruskal_wallis(orders, "o_orderstatus", "o_totalprice")


_SQL_KRUSKAL_WALLIS = """
WITH base AS (
  SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
), vg AS (
  SELECT v, g, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY v, g
), vt AS (
  SELECT v, CAST(sum(c) AS BIGINT) AS t FROM vg GROUP BY v
), cum AS (
  SELECT v,
         CAST(sum(t) OVER (ORDER BY v) AS BIGINT)
           - (t - 1) / CAST(2.0 AS DOUBLE) AS avg_rank,
         t
  FROM vt
), per_group AS (
  SELECT vg.g, CAST(sum(vg.c) AS BIGINT) AS ng,
         sum(vg.c * cum.avg_rank) AS rg
  FROM vg JOIN cum ON vg.v = cum.v
  GROUP BY vg.g
), ties AS (
  SELECT sum(CAST(t AS DOUBLE) * t * t - t) AS tie FROM cum
), s AS (
  SELECT CAST(count(*) AS INT) AS n_groups,
         CAST(sum(ng) AS BIGINT) AS n,
         sum(rg * rg / ng) AS sq
  FROM per_group
), f AS (
  SELECT n_groups, n,
         CAST(12.0 AS DOUBLE) / (n * (n + CAST(1.0 AS DOUBLE))) * sq
           - CAST(3.0 AS DOUBLE) * (n + CAST(1.0 AS DOUBLE)) AS h,
         CAST(1.0 AS DOUBLE)
           - tie / (CAST(n AS DOUBLE) * n * n - n) AS correction
  FROM s, ties
)
SELECT n_groups, n, round(h, 6) AS h_stat,
       round(CASE WHEN correction > 0 THEN h / correction END, 6)
         AS h_tie_corrected
FROM f
"""


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order totalprice (extensions/analytics.py
    gini_coefficient): exact sorted-rank identity over distinct value
    cells with tie-exact arithmetic-series positions from the
    distributed prefix_sum."""
    from hdp_tez_spark.extensions.analytics import gini_coefficient

    orders = _t(spark, sf_dir, "orders").select("o_totalprice")
    return gini_coefficient(orders, "o_totalprice")


_SQL_GINI = """
WITH base AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
  WHERE o_totalprice IS NOT NULL
), cells AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY v
), cum AS (
  SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS hi
  FROM cells
), s AS (
  SELECT sum(v * cnt * ((hi - cnt + 1) + hi) / CAST(2.0 AS DOUBLE)) AS sr
  FROM cum
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, sum(v * cnt) AS total FROM cells
)
SELECT n,
       round(CASE WHEN total > 0
                  THEN CAST(2.0 AS DOUBLE) * sr / (n * total)
                       - (n + CAST(1.0 AS DOUBLE)) / n END, 6) AS gini
FROM s, tot
"""


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two order-status groups'
    priority distributions (extensions/experiments.py js_divergence):
    the categorical drift readout, bounded and symmetric, finite on
    one-sided categories. One raw pass to checkpointed category cells;
    O(|categories|) after."""
    from hdp_tez_spark.extensions.experiments import js_divergence

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    )
    return js_divergence(orders, "o_orderstatus", "o_orderpriority", "F", "O")


_SQL_JS_DIVERGENCE = """
WITH base AS (
  SELECT o_orderstatus AS g, o_orderpriority AS c
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IN ('F', 'O')
), cells AS (
  SELECT c,
         CAST(sum(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM base GROUP BY c
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM cells
), terms AS (
  SELECT na, nb,
         CASE WHEN ca > 0
              THEN (ca / CAST(na AS DOUBLE)) / CAST(2.0 AS DOUBLE)
                   * ln((ca / CAST(na AS DOUBLE))
                        / ((ca / CAST(na AS DOUBLE)
                            + cb / CAST(nb AS DOUBLE))
                           / CAST(2.0 AS DOUBLE)))
              ELSE 0.0 END
         + CASE WHEN cb > 0
                THEN (cb / CAST(nb AS DOUBLE)) / CAST(2.0 AS DOUBLE)
                     * ln((cb / CAST(nb AS DOUBLE))
                          / ((ca / CAST(na AS DOUBLE)
                              + cb / CAST(nb AS DOUBLE))
                             / CAST(2.0 AS DOUBLE)))
                ELSE 0.0 END AS term
  FROM cells CROSS JOIN tot
)
SELECT na AS n_a, nb AS n_b,
       round(greatest(sum(term), CAST(0.0 AS DOUBLE)), 6) AS js,
       round(sqrt(greatest(sum(term), CAST(0.0 AS DOUBLE))), 6) AS js_dist
FROM terms GROUP BY na, nb
"""


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order priority and status (extensions/
    experiments.py mutual_information): contingency cells checkpointed
    once, marginals/N/MI all O(r*c) after the single raw pass. Pairs
    with chi_square as the how-much-dependence readout."""
    from hdp_tez_spark.extensions.experiments import mutual_information

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    )
    return mutual_information(orders, "o_orderpriority", "o_orderstatus")


_SQL_MUTUAL_INFORMATION = """
WITH cells AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c,
         CAST(count(*) AS BIGINT) AS o
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2
), rt AS (
  SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY r
), ct AS (
  SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY c
), nn AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
), mi AS (
  SELECT sum((CAST(o AS DOUBLE) / n)
             * ln(CAST(o AS DOUBLE) * n / (CAST(rt AS DOUBLE) * ct))) AS mi,
         max(n) AS n
  FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN nn
), hr AS (
  SELECT -sum((CAST(rt AS DOUBLE) / n) * ln(CAST(rt AS DOUBLE) / n)) AS hr
  FROM rt CROSS JOIN nn
), hc AS (
  SELECT -sum((CAST(ct AS DOUBLE) / n) * ln(CAST(ct AS DOUBLE) / n)) AS hc
  FROM ct CROSS JOIN nn
)
SELECT n, round(mi, 6) AS mi,
       round(CASE WHEN sqrt(hr * hc) > 0 THEN mi / sqrt(hr * hc) END, 6)
         AS nmi,
       round(hr, 6) AS h_row,
       round(hc, 6) AS h_col
FROM mi CROSS JOIN hr CROSS JOIN hc
"""


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (extensions/experiments.py
    spearman_corr) between lineitem quantity and extended price: exact
    tie-averaged ranks per column from the distributed prefix_sum,
    Pearson corr of the rank pairs. Same corr-parity contract as acf."""
    from hdp_tez_spark.extensions.experiments import spearman_corr

    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    return spearman_corr(li, "l_quantity", "l_extendedprice")


_SQL_SPEARMAN_CORR = """
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), cx AS (
  SELECT x, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY x
), rx AS (
  SELECT x, CAST(sum(t) OVER (ORDER BY x) AS BIGINT)
              - (t - 1) / CAST(2.0 AS DOUBLE) AS r
  FROM cx
), cy AS (
  SELECT y, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY y
), ry AS (
  SELECT y, CAST(sum(t) OVER (ORDER BY y) AS BIGINT)
              - (t - 1) / CAST(2.0 AS DOUBLE) AS r
  FROM cy
)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(corr(rx.r, ry.r), 6) AS rho
FROM base JOIN rx USING (x) JOIN ry USING (y)
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (extensions/dedup.py ngram_novelty):
    fraction of each doc's distinct 3-gram shingles found in no other
    document — the corpus-diversity audit. Both shuffles carry (id,
    8-byte md5 hash) pairs, never text; Spark and the oracle count on
    the identical hash domain."""
    from hdp_tez_spark.extensions.dedup import ngram_novelty

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_novelty(docs, "doc_id", "text", k=3)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import dedup as D

    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.1
    )


# minhash signature/band/candidate chain, shared by the minhash_lsh
# oracle and the minhash_recall oracle (assumes jaccard_pairs + sh from
# _SQL_TOKS_CTE are in scope)
_SQL_MINHASH_CTES = """
xs AS (
  SELECT doc, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1000000007 AS x
  FROM sh
),
hs AS (
  SELECT doc, perm,
         ((('0x' || substr(md5('perm-a-' || perm), 1, 15))::BIGINT % 1000000006 + 1)
            * x
          + ('0x' || substr(md5('perm-b-' || perm), 1, 15))::BIGINT % 1000000007)
         % 1000000007 AS h
  FROM xs, range(16) r(perm)
),
sigs AS (SELECT doc, perm, min(h) AS minhash FROM hs GROUP BY doc, perm),
bands AS (
  SELECT doc, perm // 2 AS band,
         array_to_string(list_sort(list(perm || ':' || minhash)), '-') AS band_sig
  FROM sigs GROUP BY doc, perm // 2
),
candidates AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc < b.doc
)
"""

_SQL_MINHASH_LSH = f"""
WITH {_SQL_TOKS_CTE},
{_SQL_MINHASH_CTES}
SELECT c.id_a, c.id_b, j.jaccard
FROM candidates c JOIN jaccard_pairs j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= 0.1
"""


def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall readout of MinHash-LSH banding against exact n-gram-Jaccard
    ground truth at the same threshold — the acceptance metric the
    (num_perms, band_rows) trade-off is tuned by, mirroring ann_recall's
    role for the ANN family (similarity.py ann_recall composed over
    dedup.py ngram_jaccard_pairs / minhash_lsh_pairs). Output per left
    doc id: (query_id, n_exact, n_hit, recall). recall is an exact-int
    ratio with n_exact <= 3 on this corpus even at sf1.0 (measured), so
    round(x, 6) is tie-free (6-dp ties need a denominator divisible by
    128)."""
    from hdp_tez_spark.extensions import dedup as D
    from hdp_tez_spark.extensions.similarity import ann_recall

    docs = _t(spark, sf_dir, "documents")
    # ONE corpus tokenize+shingle cut shared by both sub-operators (r11):
    # the exact side's self-join, its size projections, the LSH band
    # frame and the LSH verification arrays all derive from this frame —
    # previously each sub-operator built its own cut (3 tokenize passes).
    base = D._hash_arrays(docs, "doc_id", "text", k=3)
    exact = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.1, _base=base
    )
    approx = D.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.1, _base=base
    )
    return ann_recall(exact, approx, query_col="id_a", neighbor_col="id_b")


_SQL_MINHASH_RECALL = f"""
WITH {_SQL_TOKS_CTE},
{_SQL_MINHASH_CTES},
approx AS (
  SELECT c.id_a, c.id_b
  FROM candidates c JOIN jaccard_pairs j
    ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= 0.1
),
exact_p AS (SELECT id_a, id_b FROM jaccard_pairs WHERE jaccard >= 0.1),
hits AS (
  SELECT e.id_a AS query_id, count(*) AS n_exact, count(a.id_b) AS n_hit
  FROM exact_p e
  LEFT JOIN approx a ON e.id_a = a.id_a AND e.id_b = a.id_b
  GROUP BY e.id_a
)
SELECT query_id, n_exact::BIGINT AS n_exact, n_hit::BIGINT AS n_hit,
       round(n_hit / n_exact, 6) AS recall
FROM hits ORDER BY query_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import dedup as D

    return D.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


_SQL_SIMHASH = """
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
),
hashes AS (
  SELECT doc, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
bits AS (
  SELECT doc, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
  FROM hashes, range(60) r(bit)
  GROUP BY doc, bit
),
fp AS (
  SELECT doc,
         sum(CASE WHEN votes > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS simhash
  FROM bits GROUP BY doc
)
SELECT a.doc AS id_a, b.doc AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a, fp b
WHERE a.doc < b.doc AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_bruteforce(
        emb.where(F.col("vec_id") < 10), emb, k=5
    )


_SQL_COSINE_TOPK = """
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
  )
) WHERE rn <= 5
"""


def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_lsh(
        emb.where(F.col("vec_id") < 10), emb, k=5, n_planes=8
    )


_SQL_COSINE_TOPK_LSH = """
WITH b AS (
  SELECT vec_id, embedding,
         list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1))
                        ELSE 0::BIGINT END FOR i IN range(1, 9)]) AS bucket
  FROM embeddings
)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]), 6) AS cosine
    FROM b q JOIN b c ON q.bucket = c.bucket
    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
  )
) WHERE rn <= 5
"""


def q_embedding_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-bucketed near-dup pairs — the SCALE path (bucket
    equi-join, never all-pairs); the oracle replicates the 4-plane sign
    bucket so recall trade-offs match exactly. n_planes=0 (exhaustive
    cross-join verification mode) remains available on the operator, and
    n_planes=None derives the plane count from corpus size (r08: fixed
    planes are quadratic across corpus growth — the production default;
    4 is pinned here only for oracle parity, and happens to equal the
    auto-derived count at this corpus size)."""
    from hdp_tez_spark.extensions import similarity as SIM

    return SIM.embedding_near_dupes(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=4
    )


_SQL_EMBEDDING_NEAR_DUPES = """
WITH b AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
        + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
        + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
        + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]), 6) AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   c.embedding::DOUBLE[]), 6) >= 0.4
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import textstats as TS

    return TS.token_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_TOKEN_STATS = """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS n_tokens,
       len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_ ]+')) AS n_bpeish,
       length(text) AS n_chars_seen
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import textstats as TS

    return TS.quality_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_QUALITY_SCORE = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
  FROM documents
),
stats AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_chars > 0 THEN n_digits * 1.0 / n_chars ELSE 0.0 END AS digit_ratio,
         CASE WHEN len(t) > 0 THEN
           len(list_filter(t, x -> list_contains(
             ['the','a','of','and','to','in','is','that','it','for'], x)))
           * 1.0 / len(t) ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(t) > 0 THEN
           list_sum(list_transform(t, x -> length(x)::DOUBLE)) / len(t)
         ELSE 0.0 END AS mean_tok_len,
         n_chars
  FROM base
)
SELECT doc_id, n_tokens,
       round(punct_ratio, 6) AS punct_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round(mean_tok_len, 6) AS mean_token_len,
       round(0.3 * least(n_chars / 500.0, 1.0)
           + 0.3 * least(stop_ratio * 5, 1.0)
           + 0.2 * (1 - least(punct_ratio * 10, 1.0))
           + 0.2 * (1 - least(digit_ratio * 10, 1.0)), 6) AS quality
FROM stats
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import textstats as TS

    return TS.langid(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_LANGID = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id,
    CASE WHEN len(toks) > 0 THEN round(len(list_filter(toks, x -> list_contains(
      ['der','die','das','und','ist','nicht','ein','mit','zu','den'], x))) * 1.0 / len(toks), 6)
      ELSE 0.0 END AS s_de,
    CASE WHEN len(toks) > 0 THEN round(len(list_filter(toks, x -> list_contains(
      ['the','a','of','and','to','in','is','that','it','for'], x))) * 1.0 / len(toks), 6)
      ELSE 0.0 END AS s_en,
    CASE WHEN len(toks) > 0 THEN round(len(list_filter(toks, x -> list_contains(
      ['el','la','de','que','y','en','un','es','se','no'], x))) * 1.0 / len(toks), 6)
      ELSE 0.0 END AS s_es,
    CASE WHEN len(toks) > 0 THEN round(len(list_filter(toks, x -> list_contains(
      ['le','la','les','de','et','un','une','est','que','pour'], x))) * 1.0 / len(toks), 6)
      ELSE 0.0 END AS s_fr
  FROM t
)
SELECT doc_id,
       CASE WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
            ELSE 'de' END AS pred_lang,
       greatest(s_de, s_en, s_es, s_fr) AS pred_score
FROM scores
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import textstats as TS

    return TS.fingerprint(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5,
       ('0x' || substr(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))),
                       1, 15))::BIGINT AS fp_int
FROM documents
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import textstats as TS

    return TS.redact_pii(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_REDACT_PII = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
         '[+(][0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
       len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(text,
         '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ips,
       len(regexp_extract_all(text,
         '[+(][0-9][0-9()\\- ]{6,}[0-9]')) AS n_phones
FROM documents
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import textstats as TS

    return TS.repetition_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_REPETITION_STATS = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_unique,
       round(CASE WHEN len(t) > 0
                  THEN 1 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE)
                  ELSE 0.0 END, 6) AS rep_ratio
FROM base
"""


def q_cosine_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_quantized(
        emb.where(F.col("vec_id") < 10), emb, k=5
    )


_SQL_COSINE_TOPK_QUANTIZED = """
WITH quant AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 127 /
                greatest(list_max(list_transform(embedding,
                  y -> abs(CAST(y AS DOUBLE)))), 1e-30)) AS BIGINT)) AS qvec
  FROM embeddings
)
SELECT query_id, neighbor_id, qcosine, rn FROM (
  SELECT query_id, neighbor_id, qcosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qcosine DESC, neighbor_id) AS rn
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.qvec::DOUBLE[], c.qvec::DOUBLE[]) /
                 (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[])) *
                  sqrt(list_dot_product(c.qvec::DOUBLE[], c.qvec::DOUBLE[]))),
                 6) AS qcosine
    FROM quant q, quant c
    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
  )
) WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# Collection / JSON surface, cogroup, subqueries, skew-safe join
# ---------------------------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (events.props) + aggregation."""
    from hdp_tez_spark.functions import collections as C

    ev = _t(spark, sf_dir, "events")
    with_k = C.with_json_fields(ev, "props", {"k": "$.k"}).withColumn(
        "k", F.col("k").cast("int")
    )
    return (
        with_k.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_SQL_JSON_EXTRACT = """
SELECT event_type, count(*) AS cnt,
       sum(json_extract_string(props, '$.k')::INT)::BIGINT AS sum_k,
       min(json_extract_string(props, '$.k')::INT) AS min_k,
       max(json_extract_string(props, '$.k')::INT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""
# DuckDB sums integers into HUGEINT (rendered float64 in pandas) while Spark's
# sum(int) is BIGINT; the ::BIGINT cast above keeps both sides int64 so the
# driver's value hash agrees (r02 red-row root cause, same class as the r01
# DECIMAL-vs-DOUBLE sql_passthrough miss).


def q_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the embedding column."""
    from hdp_tez_spark.functions import collections as C

    emb = _t(spark, sf_dir, "embeddings")
    return C.array_stats(emb, "embedding", "vec_id")


_SQL_ARRAY_STATS = """
SELECT vec_id,
       len(embedding) AS n,
       round(list_min(embedding::DOUBLE[]), 6) AS amin,
       round(list_max(embedding::DOUBLE[]), 6) AS amax,
       round(list_sum(embedding::DOUBLE[]), 6) AS asum,
       round(embedding[1]::DOUBLE, 6) AS first_el,
       round(list_sum((embedding::DOUBLE[])[1:8]), 6) AS head_sum
FROM embeddings
"""


def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-comparator semantics as data: first 3 quantities per
    supplier in (linenumber, orderkey) order.

    The ordered list is serialized to a comma string for the driver
    compare — its canonicalizer sorts raw column values and cannot order
    list cells (r02: `TypeError: unhashable type: 'list'`). Quantities
    are integral doubles, so int-casting before join is exact.
    """
    from hdp_tez_spark.functions import collections as C

    li = _t(spark, sf_dir, "lineitem")
    lst = C.collect_sorted_list(
        li,
        keys=["l_suppkey"],
        sort_cols=["l_linenumber", "l_orderkey"],
        value_col="l_quantity",
        limit=3,
        out="first_qtys",
    )
    return lst.select(
        "l_suppkey",
        F.concat_ws(
            ",",
            F.transform("first_qtys", lambda x: x.cast("bigint").cast("string")),
        ).alias("first_qtys"),
    )


_SQL_COLLECT_SORTED = """
SELECT l_suppkey,
       array_to_string(
         list_transform(
           (list(l_quantity ORDER BY l_linenumber, l_orderkey, l_quantity))[1:3],
           x -> CAST(CAST(x AS BIGINT) AS VARCHAR)),
         ',') AS first_qtys
FROM lineitem
GROUP BY l_suppkey
"""


def q_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OrderedGroupedMergedKVInput parity: one co-located pass over both
    sides' groups via cogroup + applyInPandas.

    Scalable shape: cogroup on a coarse *bucket* of keys (not the raw key)
    so the Python function runs once per bucket over an Arrow batch and
    does a vectorized pandas groupby inside — thousands of keys per
    invocation instead of one call per key. This is the difference
    between 35s and ~2s at sf0.01, and between feasible and not at 100 TB.

    Bucket sizing rule: n_buckets ≈ rows / TARGET_ROWS_PER_BUCKET, so each
    applyInPandas group is a bounded Arrow batch (~500k rows × ~50 B/row ≈
    25 MB) regardless of input scale — a fixed bucket count would make each
    group grow linearly with the data (64 buckets over 100 TB ≈ 1.5 TB per
    group, which cannot fit an executor). The row count is a cheap
    parquet-metadata job. When the merge logic is SQL-expressible (as this
    one is — see the oracle), prefer the native full-outer-join form and
    keep cogroup_apply for genuinely imperative per-group code.
    """
    from hdp_tez_spark.operators.setops import cogroup_apply

    TARGET_ROWS_PER_BUCKET = 500_000
    n_buckets = max(32, -(-_t(spark, sf_dir, "lineitem").count() // TARGET_ROWS_PER_BUCKET))
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_orderkey") % n_buckets).alias("bucket"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"),
        (F.col("l_orderkey") % n_buckets).alias("bucket"),
        "l_quantity",
    )

    def merge(left, right):
        import pandas as pd

        lg = left.groupby("key").size().rename("n_orders")
        rg = right.groupby("key").agg(
            n_lines=("key", "size"), sum_qty=("l_quantity", "sum")
        )
        out = pd.concat([lg, rg], axis=1).fillna(0).reset_index()
        out["sum_qty"] = out["sum_qty"].astype(float).round(2)
        return out[["key", "n_orders", "n_lines", "sum_qty"]].astype(
            {"key": "int64", "n_orders": "int64", "n_lines": "int64"}
        )

    return cogroup_apply(
        orders,
        li,
        keys=["bucket"],
        func=merge,
        schema="key long, n_orders long, n_lines long, sum_qty double",
    )


_SQL_COGROUP = """
WITH o AS (SELECT o_orderkey AS key, count(*) AS n_orders FROM orders GROUP BY 1),
     l AS (SELECT l_orderkey AS key, count(*) AS n_lines,
                  round(sum(l_quantity), 2) AS sum_qty
           FROM lineitem GROUP BY 1)
SELECT coalesce(o.key, l.key) AS key,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(n_lines, 0) AS n_lines,
       coalesce(sum_qty, 0.0) AS sum_qty
FROM o FULL OUTER JOIN l ON o.key = l.key
"""


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style EXISTS: orders with a late line item, per priority."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey", "l_shipdate")
    matched = orders.join(
        late,
        (orders.o_orderkey == late.l_orderkey)
        & (late.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "leftsemi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SQL_EXISTS_SUBQUERY = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 30 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-style NOT IN: parts never shipped in large quantity, per brand."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    big = li.where(F.col("l_quantity") > 45).select(
        F.col("l_partkey").alias("p_partkey")
    )
    return (
        part.join(big, "p_partkey", "leftanti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("part_cnt"))
        .orderBy("p_brand")
    )


_SQL_NOT_IN_SUBQUERY = """
SELECT p_brand, count(*) AS part_cnt
FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
GROUP BY p_brand
ORDER BY p_brand
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-style correlated scalar subquery: revenue of small-quantity
    orders relative to each part's average.

    Scale note: ``avg_per_part`` has |part| rows (20M at sf100), so it is
    NOT force-broadcast — a forced broadcast of a fact-derived aggregate
    would bypass AQE's size check and OOM the driver at cluster scale.
    AQE picks broadcast at small SF on its own and falls back to a
    shuffle join once the agg exceeds autoBroadcastJoinThreshold."""
    li = _t(spark, sf_dir, "lineitem")
    avg_per_part = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(avg_per_part, "l_partkey")
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("small_qty_revenue"))
    )


_SQL_SCALAR_SUBQUERY = """
SELECT round(sum(l_extendedprice), 2) AS small_qty_revenue
FROM lineitem l
JOIN (SELECT l_partkey, avg(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey) a
  ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: l_returnflag is a 3-value hot key; the salt
    spreads each key over 8 reducers. Output equals the plain join, so the
    oracle is salt-free SQL."""
    li = _t(spark, sf_dir, "lineitem")
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("flag_label", F.concat(F.lit("flag-"), F.col("l_returnflag")))
    )
    joined = J.salted_join(li, dim, on=["l_returnflag"], salt_buckets=8)
    return (
        joined.groupBy("flag_label")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("flag_label")
    )


_SQL_SALTED_JOIN = """
SELECT 'flag-' || l_returnflag AS flag_label, count(*) AS cnt,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag_label
"""


# ---------------------------------------------------------------------------
# Time-window queries (batch twins of the Structured Streaming operators;
# streaming forms are exercised in tests/test_streaming.py)
# ---------------------------------------------------------------------------


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events")
    return WIN.tumbling_agg(
        ev,
        ts_col="ts",
        duration="1 hour",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("total"),
        ],
    )


_SQL_TUMBLING_WINDOW = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type, count(*) AS cnt, round(sum(value), 4) AS total
FROM events
GROUP BY 1, 2, 3
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events")
    return WIN.sliding_agg(
        ev,
        ts_col="ts",
        duration="2 hours",
        slide="1 hour",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("total"),
        ],
    )


_SQL_SLIDING_WINDOW = """
SELECT ws AS window_start, ws + INTERVAL '2 hours' AS window_end,
       event_type, count(*) AS cnt, round(sum(value), 4) AS total
FROM (
  SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS ws,
         event_type, value
  FROM events
)
GROUP BY 1, 2, 3
"""


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events")
    return WIN.session_agg(
        ev,
        ts_col="ts",
        gap="30 minutes",
        keys=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total"),
        ],
    )


_SQL_SESSION_WINDOW = """
WITH ev AS (
  -- truncate to microseconds: the engine stores microsecond timestamps
  -- (Spark has no nanos type), so the oracle must compare at the same
  -- precision
  SELECT user_id, event_id, value, date_trunc('microseconds', ts) AS ts
  FROM events
),
e AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM ev
),
m AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS new_s
  FROM e
),
i AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS island
  FROM m
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       user_id, count(*) AS n_events, round(sum(value), 4) AS total
FROM i
GROUP BY user_id, island
"""


def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming dropDuplicates: first event per
    (user_id, event_type)."""
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events")
    return WIN.first_event_dedup(
        ev, keys=["user_id", "event_type"], ts_col="ts", tiebreak=["event_id"]
    ).select("user_id", "event_type", "event_id", F.round("value", 4).alias("value"))


_SQL_EVENT_DEDUP = """
SELECT user_id, event_type, event_id, round(value, 4) AS value
FROM (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (decode is a deterministic fake — container has no
# media libs; the mapInPandas schema/batching is the real surface)
# ---------------------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    return MM.decode_meta(MM.attach_payload(docs, "text"))


_SQL_MULTIMODAL_META = """
WITH h AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         ('0x' || substr(md5(text), 1, 2))::INT AS h0,
         ('0x' || substr(md5(text), 3, 2))::INT AS h1,
         ('0x' || substr(md5(text), 5, 2))::INT AS h2
  FROM documents
)
SELECT doc_id, n_bytes,
       16 * (1 + h0 % 120) AS width,
       16 * (1 + h1 % 68)  AS height,
       1 + h2 % 240        AS n_frames,
       CASE h0 % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                   ELSE 'video' END AS modality
FROM h
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdp_tez_spark.extensions import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    return MM.sample_frames(MM.attach_payload(docs, "text"), every_nth=30)


_SQL_FRAME_SAMPLE = """
WITH meta AS (
  SELECT doc_id, text,
         1 + ('0x' || substr(md5(text), 5, 2))::INT % 240 AS n_frames
  FROM documents
)
SELECT doc_id, i AS frame_idx, md5(text || i) AS frame_md5
FROM meta, unnest(range(0, n_frames, 30)) t(i)
"""


# ---------------------------------------------------------------------------
# Round-1 widening: grouping sets, outer/as-of joins, UDAF surface, and
# additional TPC-H-ish queries (adapted to the available columns)
# ---------------------------------------------------------------------------


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over lineitem flags with grouping() markers
    (SURVEY §2.6 — absent in Tez; beyond-reference surface)."""
    li = _t(spark, sf_dir, "lineitem")
    return agg.grouping_sets_agg(
        li,
        sets=[["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        keys=["l_returnflag", "l_linestatus"],
        aggs=[
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        ],
    )


_SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS cnt
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-customer order counts vs per-user event counts
    (SURVEY §2.7 — Tez examples only build inner/semi joins)."""
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    o = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("order_cnt"))
    e = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("event_cnt"))
    j = J.full_outer_join(o, e, on=o.o_custkey == e.user_id)
    return j.select(
        F.coalesce(F.col("o_custkey"), F.col("user_id")).alias("custkey"),
        F.coalesce(F.col("order_cnt"), F.lit(0)).alias("order_cnt"),
        F.coalesce(F.col("event_cnt"), F.lit(0)).alias("event_cnt"),
    )


_SQL_FULL_OUTER_JOIN = """
SELECT coalesce(o.k, e.k) AS custkey,
       coalesce(o.order_cnt, 0) AS order_cnt,
       coalesce(e.event_cnt, 0) AS event_cnt
FROM (SELECT o_custkey AS k, count(*) AS order_cnt FROM orders GROUP BY 1) o
FULL OUTER JOIN
     (SELECT user_id AS k, count(*) AS event_cnt FROM events GROUP BY 1) e
ON o.k = e.k
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the latest purchase by the same user at
    or before the click, plus a running purchase count. Implemented as a
    single-shuffle union+window (operators/joins.py asof_join) — no
    quadratic range-join blowup at scale."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("ts").alias("last_purchase_ts")
    )
    return J.asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        values=["last_purchase_ts"],
        count_name="purchases_so_far",
    )


_SQL_ASOF_JOIN = """
SELECT e.event_id, e.user_id, e.ts,
       max(p.ts)   AS last_purchase_ts,
       count(p.ts) AS purchases_so_far
FROM events e
LEFT JOIN events p
  ON p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts <= e.ts
WHERE e.event_type = 'click'
GROUP BY e.event_id, e.user_id, e.ts
"""


def q_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF (SURVEY §2.10: the Spark twin of Tez's
    reduce-side user loops / Combiner). Exact per-group median."""
    from hdp_tez_spark.functions import udafs as U

    orders = _t(spark, sf_dir, "orders")
    med = U.group_median(
        orders, ["o_orderpriority"], "o_totalprice", out="median_price"
    )
    return med.select(
        "o_orderpriority", F.round("median_price", 2).alias("median_price")
    )


_SQL_MEDIAN_UDAF = """
SELECT o_orderpriority, round(median(o_totalprice), 2) AS median_price
FROM orders
GROUP BY o_orderpriority
"""


def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles via the built-in JVM `percentile`
    (preferred over any UDAF — stays in codegen)."""
    from hdp_tez_spark.functions import udafs as U

    li = _t(spark, sf_dir, "lineitem")
    # no rounding: both engines use the same percentile_cont interpolation,
    # and rounding would amplify sub-ulp differences across a .005 boundary
    return li.groupBy("l_returnflag").agg(
        U.percentile_exact("l_extendedprice", 0.5).alias("p50"),
        U.percentile_exact("l_extendedprice", 0.9).alias("p90"),
    )


_SQL_PERCENTILE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.9) AS p90
FROM lineitem
GROUP BY l_returnflag
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-ish volume shipping between two nations. Dims filtered before the
    fact join so only matching supplier/customer keys reach the big join;
    nation maps broadcast."""
    n1, n2 = "NATION_1", "NATION_2"
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(n1, n2))
    supplier = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sk"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sk"),
    )
    customer = _t(spark, sf_dir, "customer").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("ck"),
                                  F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("ck"),
    )
    # supplier/customer are fact-scaled even after the nation filter —
    # only the 25-row nation projections above carry broadcast hints;
    # AQE decides the rest by measured size. Join ORDER matters: reduce
    # BOTH facts by their 2-of-25-nation dims BEFORE the fact-fact
    # orderkey join, so it shuffles ~8% of each side — joining reduced
    # lineitem against unreduced orders (the r01-r04 shape) shuffled
    # 100% of orders and was the bench's worst query vs baseline (1.5x).
    orders_f = orders.join(customer, orders.o_custkey == customer.c_custkey)
    joined = (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_SQL_TPCH_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


def _cents(expr: F.Column) -> F.Column:
    """Sum-safe integer cents: exact, associative, engine-independent."""
    return F.round(expr * 100).cast("long")


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-ish national market share: NATION_3's share of STANDARD-part
    revenue into EUROPE customers, per order year. Both sums as integer
    cents so the ratio is engine-independent."""
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cust_n = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey")
    )
    supp_n = supplier.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("snk"),
                                  F.col("n_name").alias("supp_nation"))),
        supplier.s_nationkey == F.col("snk"),
    ).select("s_suppkey", "supp_nation")
    vol = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    # part and supplier scale with the data — leave those joins unhinted
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_n, orders.o_custkey == cust_n.c_custkey)
        .join(supp_n, li.l_suppkey == supp_n.s_suppkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume_c"),
            F.col("supp_nation"),
        )
    )
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume_c")).otherwise(0))
            / F.sum("volume_c"),
            6,
        ).alias("mkt_share")
    )


_SQL_TPCH_Q8 = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume_c ELSE 0 END)
             * 1.0 / sum(volume_c), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS volume_c,
         n2.n_name AS nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
) t
GROUP BY o_year
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-ish top supplier by quarterly revenue (revenue view + scalar
    max subquery, exact-cents arithmetic so the max comparison is exact)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supplier = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(supplier, rev.supplier_no == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_SQL_TPCH_Q15 = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-ish disjunctive brand/size/quantity predicates over the
    lineitem-part join (predicate pushdown across an OR of conjuncts)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.where(cond).agg(
        (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
        .alias("revenue")
    )


_SQL_TPCH_Q19 = """
SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-ish returned-item revenue: top 20 customers by revenue lost to
    returns in one quarter."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    # revenue summed as integer cents: order-independent exact arithmetic,
    # so Spark and the oracle agree bit-for-bit regardless of partitioning
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(cents) / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, n_name,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-ish customer order-count distribution (left outer join with an
    extra join predicate, double aggregation)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_outer"
    ).groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-ish promo revenue share for one month (conditional aggregation
    over a broadcast dimension join)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


_SQL_TPCH_Q14 = """
SELECT round(
         100.0 * sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END)
         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-ish small-quantity-order revenue: lineitems below 20% of their
    part's average quantity, for one brand. The correlated subquery is
    decorrelated by hand: pre-aggregate per-part averages once, broadcast
    them back — at 100 TB this is one scan + one broadcast instead of a
    per-row subquery."""
    part_keys = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    # part_keys (Brand#1 = ~4% of part) and the per-part avg both scale
    # with the data — no forced broadcast; AQE sizes the joins at runtime.
    li_b = li.join(part_keys, li.l_partkey == F.col("p_partkey"))
    avgs = li_b.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li_b.join(
            avgs.withColumnRenamed("l_partkey", "ak"),
            li_b.l_partkey == F.col("ak"),
        )
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


_SQL_TPCH_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-ish large-volume customers: orders whose lineitems sum past a
    quantity threshold (semi-join-by-aggregate pattern)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


_SQL_TPCH_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(t.s, 2) AS sum_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS s
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) t
  ON o_orderkey = t.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-ish: well-funded customers with no urgent orders, per nation.
    Scalar subquery (global avg) broadcast + anti join."""
    customer = _t(spark, sf_dir, "customer")
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("abal")
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("abal"))
        .join(urgent, customer.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


_SQL_TPCH_Q22 = """
WITH a AS (SELECT avg(c_acctbal) AS abal FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer, a
WHERE c_acctbal > a.abal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


# The same ANSI text runs verbatim on Spark SQL and the DuckDB oracle —
# the passthrough surface is Catalyst itself (hdp_tez_spark/sql.py).
# Per-customer spend is summed as integer cents so ranking ties cannot
# flip between engines.
_SQL_PASSTHROUGH_TEXT = """
WITH spend AS (
  SELECT c_custkey, c_mktsegment,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS total_spend
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey, c_mktsegment
)
SELECT c_mktsegment, c_custkey, total_spend, rnk FROM (
  SELECT c_custkey, c_mktsegment, total_spend,
         rank() OVER (PARTITION BY c_mktsegment
                      ORDER BY total_spend DESC, c_custkey) AS rnk
  FROM spend
) ranked
WHERE rnk <= 3
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases attributed to a click by the same user within the prior
    10 minutes — the batch twin of the watermarked stream-stream join
    (streaming/windows.py interval_join)."""
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "value"
    )
    j = WIN.interval_join(
        clicks, purchases, ["user_id"], "click_ts", "p_ts", "10 minutes"
    )
    return j.select("click_id", clicks["user_id"], "click_ts", "p_ts", "value")


_SQL_INTERVAL_JOIN = """
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       p.ts AS p_ts, p.value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 10 MINUTE
 AND p.ts <= c.ts
"""


def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN with IVF cells: map-side centroid assignment, probe 2 cells."""
    from hdp_tez_spark.extensions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_ivf(
        emb.where(F.col("vec_id") < 10), emb, k=5, n_centroids=16, n_probe=2
    )


_SQL_COSINE_TOPK_IVF = """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
scored_cells AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                 c.cvec::DOUBLE[]), 6) DESC,
                    c.cid) AS rn
  FROM embeddings e, cent c
),
cells AS (
  SELECT vec_id AS neighbor_id, embedding AS cvec, cid AS cell
  FROM scored_cells WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qvec, cid AS cell
  FROM scored_cells WHERE rn <= 2 AND vec_id < 10
)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT p.query_id, c.neighbor_id,
         round(list_cosine_similarity(p.qvec::DOUBLE[], c.cvec::DOUBLE[]), 6)
           AS cosine,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY round(list_cosine_similarity(p.qvec::DOUBLE[],
                                                 c.cvec::DOUBLE[]), 6) DESC,
                    c.neighbor_id) AS rn
  FROM probes p JOIN cells c ON p.cell = c.cell
  WHERE c.neighbor_id <> p.query_id
) t
WHERE rn <= 5
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF ANN path against exact brute force
    (extensions/similarity.py ann_recall): the acceptance readout that
    turns the LSH/IVF speed-for-recall trade into a measured number.
    Both inputs are k-bounded top-k tables, so the eval join is tiny by
    construction; the oracle recomputes both searches in SQL and the
    same intersection."""
    from hdp_tez_spark.extensions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = SIM.cosine_topk_bruteforce(q, emb, k=5)
    approx = SIM.cosine_topk_ivf(q, emb, k=5, n_centroids=16, n_probe=2)
    return SIM.ann_recall(exact, approx)


_SQL_ANN_RECALL = f"""
WITH exact_r AS ({_SQL_COSINE_TOPK}),
approx_r AS ({_SQL_COSINE_TOPK_IVF}),
hits AS (
  SELECT e.query_id, count(*) AS n_exact, count(a.neighbor_id) AS n_hit
  FROM exact_r e
  LEFT JOIN approx_r a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
SELECT query_id, n_exact::BIGINT AS n_exact, n_hit::BIGINT AS n_hit,
       round(n_hit / n_exact, 6) AS recall
FROM hits ORDER BY query_id
"""


def q_sorted_group_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User code over sorted groups (Tez grouping-comparator semantics):
    per customer, days since the previous order, computed imperatively in
    pandas over the date-ordered group."""
    import pandas as pd

    orders = _t(spark, sf_dir, "orders")

    def gaps(pdf: "pd.DataFrame") -> "pd.DataFrame":
        prev = pdf["o_orderdate"].shift(1)
        days = (pdf["o_orderdate"] - prev).dt.days
        return pd.DataFrame(
            {
                "o_custkey": pdf["o_custkey"],
                "o_orderkey": pdf["o_orderkey"],
                "gap_days": days.astype("Int64"),
            }
        )

    return SRT.sorted_group_apply(
        orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        "o_custkey",
        ["o_orderdate", "o_orderkey"],
        gaps,
        "o_custkey long, o_orderkey long, gap_days long",
    )


_SQL_SORTED_GROUP_APPLY = """
SELECT o_custkey, o_orderkey,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS gap_days
FROM orders
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: n-gram Jaccard pairs -> iterative connected
    components -> (doc, representative). The iterative half of every
    dedup pipeline; oracle is a recursive-CTE transitive closure."""
    from hdp_tez_spark.extensions import dedup as D

    docs = _t(spark, sf_dir, "documents")
    return D.dedup_clusters(docs, "doc_id", "text", threshold=0.1)


_SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SQL_TOKS_CTE},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jaccard_pairs WHERE jaccard >= 0.1
  UNION
  SELECT id_b, id_a FROM jaccard_pairs WHERE jaccard >= 0.1
),
reach AS (
  SELECT a AS src, b AS dst FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
rep AS (SELECT src AS doc, min(dst) AS m FROM reach GROUP BY src)
SELECT d.doc_id,
       CAST(least(coalesce(r.m, d.doc_id), d.doc_id) AS BIGINT) AS rep
FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc
"""


def q_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql entry point: top-3 spenders per market segment (CTE +
    join + window), same text the oracle runs."""
    from hdp_tez_spark import sql as SQL

    SQL.register_tables(spark, sf_dir, ["customer", "orders"])
    return SQL.sql(spark, _SQL_PASSTHROUGH_TEXT)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization: every event labeled with its per-user
    session index (30-minute inactivity gap). One shuffle on user_id;
    both window passes ride the same sorted run
    (operators/window.py sessionize)."""
    from hdp_tez_spark.operators.window import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(
        ev, keys=["user_id"], ts_col="ts", gap="30 minutes", tiebreak=["event_id"]
    ).select("event_id", "user_id", "event_type", "session_idx")


_SQL_SESSIONIZE = """
SELECT event_id, user_id, event_type,
       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS session_idx
FROM (
  SELECT event_id, user_id, event_type, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
) flagged
"""


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split of the document corpus: 90% train by
    md5-bucket of doc_id — retry-stable and engine-reproducible, unlike
    randomSplit (extensions/splits.py)."""
    from hdp_tez_spark.extensions.splits import train_test_split

    docs = _t(spark, sf_dir, "documents")
    return train_test_split(docs, "doc_id", train_frac=0.9).select(
        "doc_id", "bucket", "split"
    )


_SQL_TRAIN_TEST_SPLIT = """
SELECT doc_id,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         % 1000 AS bucket,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 1000 < 900
            THEN 'train' ELSE 'test' END AS split
FROM documents
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection: per near-dup cluster, keep the
    highest-quality member (extensions/dedup.py dedup_keep_best). Oracle
    composes the recursive-CTE transitive closure with the quality-score
    formula and ranks inside each cluster."""
    from hdp_tez_spark.extensions import dedup as D

    docs = _t(spark, sf_dir, "documents")
    return D.dedup_keep_best(docs, "doc_id", "text", threshold=0.1)


_SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_SQL_TOKS_CTE},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jaccard_pairs WHERE jaccard >= 0.1
  UNION
  SELECT id_b, id_a FROM jaccard_pairs WHERE jaccard >= 0.1
),
reach AS (
  SELECT a AS src, b AS dst FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
rep AS (SELECT src AS doc, min(dst) AS m FROM reach GROUP BY src),
clusters AS (
  SELECT d.doc_id,
         CAST(least(coalesce(r.m, d.doc_id), d.doc_id) AS BIGINT) AS rep
  FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc
),
qbase AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
  FROM documents
),
quality AS (
  SELECT doc_id,
         round(0.3 * least(n_chars / 500.0, 1.0)
             + 0.3 * least((CASE WHEN len(t) > 0 THEN
                 len(list_filter(t, x -> list_contains(
                   ['the','a','of','and','to','in','is','that','it','for'], x)))
                 * 1.0 / len(t) ELSE 0.0 END) * 5, 1.0)
             + 0.2 * (1 - least((CASE WHEN n_chars > 0
                 THEN n_punct * 1.0 / n_chars ELSE 0.0 END) * 10, 1.0))
             + 0.2 * (1 - least((CASE WHEN n_chars > 0
                 THEN n_digits * 1.0 / n_chars ELSE 0.0 END) * 10, 1.0)), 6)
           AS quality
  FROM qbase
)
SELECT rep AS cluster_rep, doc_id AS keep_id, quality
FROM (
  SELECT c.rep, c.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.rep
                            ORDER BY q.quality DESC, c.doc_id) AS rn
  FROM clusters c JOIN quality q ON c.doc_id = q.doc_id
) ranked
WHERE rn = 1
"""


# DuckDB twin of splits.hash_bucket — md5-derived 60-bit integer mod N.
def _sql_bucket(col: str, buckets: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15)) AS BIGINT)"
        f" % {buckets}"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs sharing any word 3-gram with
    the held-out split are flagged (extensions/curation.py decontaminate).
    Split is the deterministic md5 90/10; the join carries 8-byte shingle
    hashes, never text."""
    from hdp_tez_spark.extensions.curation import decontaminate
    from hdp_tez_spark.extensions.splits import train_test_split

    docs = _t(spark, sf_dir, "documents")
    s = train_test_split(docs, "doc_id", train_frac=0.9)
    train = s.where(F.col("split") == "train").select("doc_id", "text")
    test = s.where(F.col("split") == "test").select("doc_id", "text")
    return decontaminate(train, test, "doc_id", "text", k=3)


_SQL_NGRAM_NOVELTY = f"""
WITH {_SQL_TOKS_CTE},
hashed AS (
  SELECT doc, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM sh
),
cnt AS (SELECT h, count(*) AS nd FROM hashed GROUP BY 1),
per_doc AS (
  SELECT hashed.doc, count(*) AS n_shingles,
         CAST(sum(CASE WHEN cnt.nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unique
  FROM hashed JOIN cnt USING (h) GROUP BY hashed.doc
)
SELECT d.doc_id,
       coalesce(p.n_shingles, 0) AS n_shingles,
       coalesce(p.n_unique, 0) AS n_unique,
       round(CASE WHEN p.n_shingles > 0
                  THEN p.n_unique / CAST(p.n_shingles AS DOUBLE) END, 6)
         AS novelty
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc
"""


_SQL_DECONTAMINATE = f"""
WITH {_SQL_TOKS_CTE},
split AS (
  SELECT doc_id,
         CASE WHEN {_sql_bucket('doc_id', 1000)} < 900
              THEN 'train' ELSE 'test' END AS split
  FROM documents
),
te AS (
  SELECT DISTINCT shingle
  FROM sh JOIN split ON sh.doc = split.doc_id
  WHERE split.split = 'test'
),
hits AS (
  SELECT sh.doc, count(*) AS n_hits
  FROM sh
  JOIN split ON sh.doc = split.doc_id
  JOIN te USING (shingle)
  WHERE split.split = 'train'
  GROUP BY sh.doc
)
SELECT s.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS contaminated
FROM split s LEFT JOIN hits h ON s.doc_id = h.doc
WHERE s.split = 'train'
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 10 documents per language, picked by md5 order of doc_id —
    deterministic per-stratum sampling (curation.stratified_sample_exact)."""
    from hdp_tez_spark.extensions.curation import stratified_sample_exact

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_exact(docs, "doc_id", "lang", 10).select(
        "doc_id", "lang", "source"
    )


_SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) x WHERE rn <= 10
"""


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus re-mixing: per-language keep fractions applied as a pure
    map-side hash filter (curation.stratified_sample_fraction) — zero
    shuffle, retry-stable membership."""
    from hdp_tez_spark.extensions.curation import stratified_sample_fraction

    docs = _t(spark, sf_dir, "documents")
    fracs = {"en": 1.0, "de": 0.5, "es": 0.25, "fr": 0.5, "zh": 0.1}
    return stratified_sample_fraction(docs, "doc_id", "lang", fracs).select(
        "doc_id", "lang"
    )


_SQL_CORPUS_MIX = f"""
SELECT doc_id, lang FROM documents
WHERE {_sql_bucket('doc_id', 1000)} <
      CASE lang WHEN 'en' THEN 1000 WHEN 'de' THEN 500 WHEN 'es' THEN 250
                WHEN 'fr' THEN 500 WHEN 'zh' THEN 100 ELSE 0 END
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: documents laid end-to-end in md5 order
    within 8 hash buckets, cut every 256 tokens; each doc labeled with its
    (bucket, pack_idx, pack_offset) (curation.pack_sequences over
    textstats.token_stats)."""
    from hdp_tez_spark.extensions.curation import pack_sequences
    from hdp_tez_spark.extensions.textstats import token_stats

    docs = _t(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    return pack_sequences(toks, "doc_id", "n_tokens", budget=256, num_buckets=8)


_SQL_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
nt AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens FROM toks),
b AS (
  SELECT doc_id, n_tokens,
         CAST({_sql_bucket('doc_id', 8)} AS INTEGER) AS bucket
  FROM nt
),
c AS (
  SELECT doc_id, n_tokens, bucket,
         CAST(sum(n_tokens) OVER (
           PARTITION BY bucket
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS pos
  FROM b
)
SELECT doc_id, n_tokens, bucket,
       pos // 256 AS pack_idx, pos % 256 AS pack_offset
FROM c
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup check: the 10% 'new batch' (hash split) is
    banded and joined against the 90% corpus band index — no corpus
    self-pairing (extensions/dedup.py incremental_near_dupes)."""
    from hdp_tez_spark.extensions.dedup import incremental_near_dupes
    from hdp_tez_spark.extensions.splits import train_test_split

    docs = _t(spark, sf_dir, "documents")
    s = train_test_split(docs, "doc_id", train_frac=0.9)
    corpus = s.where(F.col("split") == "train").select("doc_id", "text")
    batch = s.where(F.col("split") == "test").select("doc_id", "text")
    return incremental_near_dupes(batch, corpus, "doc_id", "text", threshold=0.1)


_SQL_INCREMENTAL_DEDUP = f"""
WITH {_SQL_TOKS_CTE},
split AS (
  SELECT doc_id, CASE WHEN {_sql_bucket('doc_id', 1000)} < 900
                      THEN 'old' ELSE 'new' END AS side
  FROM documents
),
xs AS (
  SELECT doc, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1000000007 AS x
  FROM sh
),
hs AS (
  SELECT doc, perm,
         ((('0x' || substr(md5('perm-a-' || perm), 1, 15))::BIGINT % 1000000006 + 1)
            * x
          + ('0x' || substr(md5('perm-b-' || perm), 1, 15))::BIGINT % 1000000007)
         % 1000000007 AS h
  FROM xs, range(16) r(perm)
),
sigs AS (SELECT doc, perm, min(h) AS minhash FROM hs GROUP BY doc, perm),
bands AS (
  SELECT doc, perm // 2 AS band,
         array_to_string(list_sort(list(perm || ':' || minhash)), '-') AS band_sig
  FROM sigs GROUP BY doc, perm // 2
),
cand AS (
  SELECT a.doc AS id_a, b.doc AS id_b, 'new_old' AS pair_type
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
  JOIN split sa ON a.doc = sa.doc_id
  JOIN split sb ON b.doc = sb.doc_id
  WHERE sa.side = 'new' AND sb.side = 'old'
  UNION
  SELECT a.doc, b.doc, 'new_new'
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
              AND a.doc < b.doc
  JOIN split sa ON a.doc = sa.doc_id
  JOIN split sb ON b.doc = sb.doc_id
  WHERE sa.side = 'new' AND sb.side = 'new'
)
SELECT c.id_a, c.id_b, j.jaccard, c.pair_type
FROM cand c
JOIN jaccard_pairs j
  ON least(c.id_a, c.id_b) = j.id_a AND greatest(c.id_a, c.id_b) = j.id_b
WHERE j.jaccard >= 0.1
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (similarity.py label_centroids): scalar
    (label, pos) cells with map-side partial agg, array rebuilt ordered.

    The centroid array is re-exploded to scalar (label, pos, val) rows
    for the driver compare: its canonicalizer cannot sort list cells
    (r02 red row), and scalar doubles keep the driver's float-tolerant
    hashing in play — a stringified array would make ulp-level
    avg-summation-order differences fatal.
    """
    from hdp_tez_spark.extensions.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cent = label_centroids(emb, "label", "embedding")
    return cent.select(
        "label", "n_vectors", F.posexplode("centroid").alias("pos", "val")
    )


_SQL_LABEL_CENTROIDS = """
WITH e AS (
  SELECT label, unnest(embedding) AS val,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
  FROM embeddings
),
cell AS (SELECT label, pos, round(avg(val), 6) AS val, count(*) AS n
         FROM e GROUP BY label, pos),
nv AS (SELECT label, max(n) AS n_vectors FROM cell GROUP BY label)
SELECT c.label, nv.n_vectors, c.pos, c.val
FROM cell c JOIN nv ON c.label = nv.label
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of l_extendedprice
    (operators/aggregates.py numeric_histogram): 1-row min/max broadcast
    into a map-side bin expression, then a bins-wide count shuffle."""
    from hdp_tez_spark.operators.aggregates import numeric_histogram

    return numeric_histogram(_t(spark, sf_dir, "lineitem"), "l_extendedprice", 20)


_SQL_HISTOGRAM = """
WITH s AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
           FROM lineitem),
b AS (
  SELECT least(19, CAST(floor((l_extendedprice - lo) / ((hi - lo) / 20.0))
                        AS BIGINT)) AS bin,
         lo, hi
  FROM lineitem, s
)
SELECT bin,
       round(lo + bin * ((hi - lo) / 20.0), 6) AS bin_lo,
       round(lo + (bin + 1) * ((hi - lo) / 20.0), 6) AS bin_hi,
       count(*) AS cnt
FROM b GROUP BY bin, lo, hi
"""


def q_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming admission gate
    (streaming/sinks.py stream_corpus_gate): docs whose normalized
    fingerprint is already in the corpus index (here: doc_id < 250) are
    dropped via a left_anti join on the 16-byte fingerprint."""
    from hdp_tez_spark.extensions.textstats import fingerprint
    from hdp_tez_spark.streaming.sinks import stream_corpus_gate

    docs = _t(spark, sf_dir, "documents")
    idx = fingerprint(docs.where(F.col("doc_id") < 250), "doc_id", "text")
    return stream_corpus_gate(docs, idx).select("doc_id", "lang")


_SQL_CORPUS_GATE = """
WITH fp AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f
  FROM documents
)
SELECT d.doc_id, d.lang
FROM fp d
WHERE d.f NOT IN (SELECT f FROM fp WHERE doc_id < 250)
"""


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-centroid IVF path: Lloyd's k-means (similarity.py
    kmeans_fit, k=8, deterministic seeds/rounding) then map-side cell
    assignment; output is the cell occupancy table. tol=0 pins exactly
    max_iter Lloyd rounds (a converged round is a no-op anyway), so the
    unrolled-SQL oracle (_kmeans_unrolled_sql, the pagerank pattern)
    replays the identical computation."""
    from hdp_tez_spark.extensions.similarity import assign_cells, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, max_iter=5, tol=0.0)
    return (
        assign_cells(emb, cents)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
    )


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: assignment hashes the near-dup
    cluster representative so no cluster straddles the boundary
    (extensions/splits.py cluster_split)."""
    from hdp_tez_spark.extensions.splits import cluster_split

    docs = _t(spark, sf_dir, "documents")
    return cluster_split(docs, "doc_id", "text", train_frac=0.9, threshold=0.1)


_SQL_CLUSTER_SPLIT = f"""
WITH RECURSIVE {_SQL_TOKS_CTE},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jaccard_pairs WHERE jaccard >= 0.1
  UNION
  SELECT id_b, id_a FROM jaccard_pairs WHERE jaccard >= 0.1
),
reach AS (
  SELECT a AS src, b AS dst FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
rep AS (SELECT src AS doc, min(dst) AS m FROM reach GROUP BY src),
clusters AS (
  SELECT d.doc_id,
         CAST(least(coalesce(r.m, d.doc_id), d.doc_id) AS BIGINT) AS rep
  FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc
)
SELECT doc_id, rep,
       CASE WHEN {_sql_bucket('rep', 1000)} < 900
            THEN 'train' ELSE 'test' END AS split
FROM clusters
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# TPC-H completion set. The synthetic schema has no partsupp table, no
# l_shipmode, and no commit/receipt dates, so q2/q9/q11/q12/q16/q20/q21 are
# adapted: each preserves the official query's STRUCTURAL shape (correlated
# min subquery, HAVING over a scalar subquery, EXISTS/NOT-EXISTS self-join,
# distinct-count with NOT IN exclusion) on the columns that exist, with
# lineitem standing in for partsupp as the part<->supplier link.
# ---------------------------------------------------------------------------


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (minimum-cost supplier): for each STANDARD size-15 part,
    the EUROPE supplier(s) with the region-minimum account balance among
    those who shipped it. The correlated MIN subquery decorrelates into a
    per-part window min — one shuffle on p_partkey, no re-join of the agg."""
    from pyspark.sql import Window

    part = (
        _t(spark, sf_dir, "part")
        .where((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "l_suppkey")
        .distinct()
    )
    w = Window.partitionBy("p_partkey")
    return (
        pairs.join(sn, pairs.l_suppkey == sn.s_suppkey)
        .withColumn("min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_SQL_TPCH_Q2 = """
WITH pairs AS (
  SELECT DISTINCT p_partkey, p_name, l_suppkey
  FROM part JOIN lineitem ON l_partkey = p_partkey
  WHERE p_size = 15 AND p_type = 'STANDARD'
), sn AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM (SELECT pairs.*, sn.*, min(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
      FROM pairs JOIN sn ON l_suppkey = s_suppkey) t
WHERE s_acctbal = min_bal
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit by nation/year): 4-way join
    lineitem-part-supplier-nation(-orders for the year), profit summed in
    integer cents for engine-exact arithmetic. Cost proxy replaces
    ps_supplycost (no partsupp): 10% of p_retailprice per unit."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").contains("widget"))
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    profit_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        - F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity") * 100
    ).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            profit_cents.alias("profit_c"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("profit_c") / 100.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_SQL_TPCH_Q9 = """
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100
                      - p_retailprice * 0.1 * l_quantity * 100) AS BIGINT)) / 100.0
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (important stock): per-part shipped value from region-2
    suppliers, keeping parts above a fraction of the region total — the
    HAVING-over-scalar-subquery shape. The total is a second aggregation
    of the same pre-aggregated (small) per-part frame, then a broadcast-
    size single-row cross join — not a rescan of lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").where(F.col("n_regionkey") == 2)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    value_c = F.round(F.col("l_extendedprice") * F.col("l_quantity") / 1000).cast("long")
    per_part = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .select("l_partkey", value_c.alias("v"))
        .groupBy("l_partkey")
        .agg(F.sum("v").alias("value_k"))
    )
    total = per_part.agg(F.sum("value_k").alias("grand_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_k") > 0.001 * F.col("grand_total"))
        .select("l_partkey", "value_k")
        .orderBy(F.desc("value_k"), "l_partkey")
    )


_SQL_TPCH_Q11 = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * l_quantity / 1000) AS BIGINT))
              AS BIGINT) AS value_k
  FROM lineitem
  JOIN (SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey WHERE n_regionkey = 2) s
    ON l_suppkey = s_suppkey
  GROUP BY l_partkey
)
SELECT l_partkey, value_k
FROM per_part
WHERE value_k > 0.001 * (SELECT sum(value_k) FROM per_part)
ORDER BY value_k DESC, l_partkey
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (late shipments by mode -> by return flag): orders whose
    line shipped > 60 days after the order date, split into high/low
    priority counts per flag (conditional aggregation after an equi-join;
    l_returnflag stands in for the missing l_shipmode)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


_SQL_TPCH_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (supplier count by part descriptor): distinct suppliers
    per (brand, type, size) from the lineitem link, excluding one brand and
    excluding suppliers matched by a NOT IN subquery (low-balance stand-in
    for the official complaints filter)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 9, 14, 19, 23)
    )
    bad_supp = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 500).select(
        "s_suppkey"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_SQL_TPCH_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 4, 9, 14, 19, 23)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (excess-inventory suppliers): suppliers in region 1 who
    shipped more than 150 units of 'rod' parts during 1997 — the nested
    correlated-quantity subquery becomes a pre-aggregation, then a semi
    join carries only supplier keys back to the supplier table."""
    li = _t(spark, sf_dir, "lineitem")
    rods = _t(spark, sf_dir, "part").where(F.col("p_name").contains("rod")).select(
        "p_partkey"
    )
    shipped = (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(rods, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 150)
        .select("l_suppkey")
    )
    nation1 = _t(spark, sf_dir, "nation").where(F.col("n_regionkey") == 1)
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation1), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(shipped, F.col("s_suppkey") == shipped.l_suppkey, "leftsemi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


_SQL_TPCH_Q20 = """
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_regionkey = 1
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%rod%'
      AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 150)
ORDER BY s_name
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting): suppliers with a
    returned line in a multi-supplier order where NO other supplier's line
    was returned — the EXISTS / NOT-EXISTS pair of self-joins on lineitem,
    expressed as leftsemi + leftanti with a different-supplier predicate.
    Both self-joins are equi-joins on l_orderkey (one shuffle key)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    returned = li.where(F.col("l_returnflag") == "R")
    other = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    other_returned = returned.select(
        F.col("l_orderkey").alias("r_key"), F.col("l_suppkey").alias("r_supp")
    )
    waiting = (
        returned.join(
            other,
            (F.col("l_orderkey") == F.col("o_key"))
            & (F.col("l_suppkey") != F.col("o_supp")),
            "leftsemi",
        )
        .join(
            other_returned,
            (F.col("l_orderkey") == F.col("r_key"))
            & (F.col("l_suppkey") != F.col("r_supp")),
            "leftanti",
        )
    )
    supplier = _t(spark, sf_dir, "supplier")
    return (
        waiting.join(supplier, waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_SQL_TPCH_Q21 = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (order priority checking): orders placed in one quarter having
    at least one line shipped after the order date, counted per priority.
    EXISTS compiles to a leftsemi join — the equi-key (l_orderkey) drives
    the shuffle and the shipdate comparison rides along as a post-join
    filter, so there is exactly one shuffle on the order key and the date
    filter on orders is pushed to the parquet scan."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: return-flag quantities rotated into columns per line status.
    The explicit value list compiles to single-pass conditional
    aggregation — no distinct-discovery job (operators/aggregates.py
    pivot_agg)."""
    from hdp_tez_spark.operators.aggregates import pivot_agg

    li = _t(spark, sf_dir, "lineitem")
    out = pivot_agg(
        li,
        keys=["l_linestatus"],
        pivot_col="l_returnflag",
        pivot_values=["A", "N", "R"],
        agg=F.round(F.sum("l_quantity"), 2),
    )
    return out.select(
        "l_linestatus",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    ).orderBy("l_linestatus")


_SQL_PIVOT = """
SELECT l_linestatus,
       round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS qty_a,
       round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS qty_n,
       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS qty_r
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Ranking / retrieval / chunking / bloom (extensions/ranking.py, curation.py)
# ---------------------------------------------------------------------------

#: token-level CTE shared by the ranking oracles (same tokenizer regex as
#: hdp_tez_spark.functions.text.TOKEN_SPLIT_REGEX)
_SQL_TOK_CTE = """
tok0 AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
tok AS (SELECT doc, unnest(t) AS term FROM tok0)
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (extensions/ranking.py tfidf_top_terms). The df table is
    vocabulary-sized (AQE-broadcast); ranking windows partition by doc."""
    from hdp_tez_spark.extensions.ranking import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3).select(
        F.col("doc_id"), "term", "tf", "df", "score"
    )


_SQL_TFIDF_TOP_TERMS = f"""
WITH {_SQL_TOK_CTE},
tf AS (SELECT doc, term, count(*) AS tf FROM tok GROUP BY doc, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT doc, term, tf, df,
         round(tf * (ln((n + 1) / (df + 1)) + 1), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT doc AS doc_id, term, tf, df, score
FROM (SELECT *, row_number() OVER (PARTITION BY doc
                                   ORDER BY score DESC, term) AS rn
      FROM scored)
WHERE rn <= 3
"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of documents against a 4-term query
    (extensions/ranking.py bm25_score): tf filtered to query terms before
    any join, N/avgdl as 1-row cross joins, top-20 via
    TakeOrderedAndProject."""
    from hdp_tez_spark.extensions.ranking import bm25_score

    docs = _t(spark, sf_dir, "documents")
    return bm25_score(
        docs, "doc_id", "text", ["spark", "table", "sort", "window"], limit=20
    )


# Shared by _SQL_BM25 and _SQL_RRF_FUSION so the BM25 formula, query
# terms, and k1/b constants live in exactly one oracle string.
_SQL_BM25_TOP_CTE = f"""{_SQL_TOK_CTE},
dl AS (SELECT doc, len(t) AS dl FROM tok0),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'table', 'sort', 'window')
       GROUP BY doc, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc,
         ln(1 + (n - df + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc = dl.doc CROSS JOIN stats
),
bm_top AS (
  SELECT doc AS doc_id, round(sum(c), 6) AS score
  FROM contrib GROUP BY doc
  ORDER BY score DESC, doc_id LIMIT 20
)"""

_SQL_BM25 = f"""
WITH {_SQL_BM25_TOP_CTE}
SELECT doc_id, score FROM bm_top ORDER BY score DESC, doc_id
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> sorted posting list (extensions/ranking.py inverted_index),
    df-bounded so no posting list is corpus-sized; postings serialized to
    a comma string (array cells defeat external comparators)."""
    from hdp_tez_spark.extensions.ranking import inverted_index

    docs = _t(spark, sf_dir, "documents")
    return inverted_index(docs, "doc_id", "text", min_df=2, max_df=390)


_SQL_INVERTED_INDEX = f"""
WITH {_SQL_TOK_CTE},
pairs AS (SELECT DISTINCT doc, term FROM tok)
SELECT term, count(*) AS df,
       array_to_string(
         list(CAST(doc AS VARCHAR) ORDER BY CAST(doc AS VARCHAR)),
         ',') AS postings
FROM pairs GROUP BY term
HAVING count(*) BETWEEN 2 AND 390
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent terms (>= 1/32 of all tokens) via per-partition
    Misra-Gries candidates + exact recount (extensions/ranking.py
    heavy_hitters) — the tail never reaches the shuffle."""
    from hdp_tez_spark.extensions.ranking import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    return heavy_hitters(docs, "doc_id", "text", denom=32)


_SQL_HEAVY_HITTERS = f"""
WITH {_SQL_TOK_CTE}
SELECT term, count(*) AS cnt
FROM tok GROUP BY term
HAVING count(*) * 32 >= (SELECT count(*) FROM tok)
"""


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact output as `decontaminate` (same oracle!) through the
    Bloom-prefilter path (curation.py bloom_decontaminate): eval shingles
    become a broadcastable (word, bits) bitmap; only flagged documents'
    shingles reach the exact verification join."""
    from hdp_tez_spark.extensions.curation import bloom_decontaminate
    from hdp_tez_spark.extensions.splits import train_test_split

    docs = _t(spark, sf_dir, "documents")
    s = train_test_split(docs, "doc_id", train_frac=0.9)
    train = s.where(F.col("split") == "train").select("doc_id", "text")
    test = s.where(F.col("split") == "test").select("doc_id", "text")
    return bloom_decontaminate(train, test, "doc_id", "text", k=3)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking, 16-token windows with stride 12
    (curation.py chunk_documents) — pure map-side, zero shuffle."""
    from hdp_tez_spark.extensions.curation import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_size=16, stride=12)


_SQL_CHUNK_DOCUMENTS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
starts AS (SELECT doc_id, t, unnest(range(0, len(t), 12)) AS s FROM nz)
SELECT doc_id,
       s // 12 AS chunk_idx,
       least(16, len(t) - s) AS n_chunk_tokens,
       array_to_string(t[s + 1:s + 16], ' ') AS chunk
FROM starts
WHERE s = 0 OR s + 16 - 12 < len(t)
"""


def q_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile bucketing of documents by length without the NTILE
    single-task funnel (operators/sort.py ntile_exact: range-partitioned
    global rank + integer bucket formula), then per-bucket stats."""
    from hdp_tez_spark.operators.sort import ntile_exact

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = ntile_exact(docs, [F.col("n_chars"), F.col("doc_id")], 10)
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


_SQL_NTILE_BUCKETS = """
WITH r AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER () AS total
  FROM documents
)
SELECT CAST((rn - 1) * 10 // total AS INT) AS bucket,
       count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM r GROUP BY 1 ORDER BY bucket
"""


_SQL_LATERAL_TOPN_SPARK = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
WHERE c.c_custkey <= 20
"""


def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer) through
    spark.sql — Catalyst rewrites the per-row subquery into a
    DomainJoin + window, so it executes as ONE ranked join, not
    |customers| point lookups (the plan any engine needs at scale)."""
    from hdp_tez_spark import sql as SQL

    SQL.register_tables(spark, sf_dir, ["customer", "orders"])
    return SQL.sql(spark, _SQL_LATERAL_TOPN_SPARK)


_SQL_LATERAL_TOPN = _SQL_LATERAL_TOPN_SPARK.replace("JOIN LATERAL", ", LATERAL")


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (operators/joins.py null_safe_join): customer
    and nation keys both NULLified at value 3; `<=>` pairs the NULL
    stripes instead of dropping them, and Catalyst still plans a hash
    join (EqualNullSafe is an equi-key)."""
    from hdp_tez_spark.operators.joins import null_safe_join

    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", F.expr("nullif(c_nationkey, 3)").alias("ck"))
    )
    nat = (
        _t(spark, sf_dir, "nation")
        .select(F.expr("nullif(n_nationkey, 3)").alias("nk"), "n_name")
    )
    return (
        null_safe_join(cust, nat, "ck", "nk")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


_SQL_NULL_SAFE_JOIN = """
SELECT n_name, count(*) AS n_customers
FROM (SELECT c_custkey, nullif(c_nationkey, 3) AS ck FROM customer) c
JOIN (SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation) n
  ON c.ck IS NOT DISTINCT FROM n.nk
GROUP BY n_name ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# Distribution analytics / CDC / graph / time-range windows (round 3)
# ---------------------------------------------------------------------------


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile_cont over lineitem extended price without a global
    sort or single-task funnel (extensions/analytics.py exact_quantiles):
    distinct-value counts -> distributed prefix sum
    (operators/sort.prefix_sum) -> broadcast position probe. Shuffle is
    O(|distinct values|), not O(rows)."""
    from hdp_tez_spark.extensions.analytics import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(li, "l_extendedprice", [0.01, 0.25, 0.5, 0.75, 0.99])


_SQL_EXACT_QUANTILES = """
SELECT CAST(0.01 AS DOUBLE) AS p,
       round(quantile_cont(l_extendedprice, 0.01), 6) AS q FROM lineitem
UNION ALL SELECT 0.25, round(quantile_cont(l_extendedprice, 0.25), 6) FROM lineitem
UNION ALL SELECT 0.50, round(quantile_cont(l_extendedprice, 0.50), 6) FROM lineitem
UNION ALL SELECT 0.75, round(quantile_cont(l_extendedprice, 0.75), 6) FROM lineitem
UNION ALL SELECT 0.99, round(quantile_cont(l_extendedprice, 0.99), 6) FROM lineitem
ORDER BY p
"""


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier stats: median/MAD z-score
    (extensions/analytics.py robust_outliers) — grouped exact percentiles
    + broadcast stat-table joins, nothing global."""
    from hdp_tez_spark.extensions.analytics import robust_outliers

    ev = _t(spark, sf_dir, "events")
    return robust_outliers(ev, "event_type", "value", n_sigmas=3.0)


_SQL_ROBUST_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med
  FROM events e JOIN med m USING (event_type)
),
stats AS (
  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad,
         min(med) AS med
  FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*) AS n,
       CAST(sum(CASE WHEN abs(d.value - s.med) > 3.0 * 1.4826 * s.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(s.med, 6) AS med, round(s.mad, 6) AS mad
FROM dev d JOIN stats s USING (event_type)
GROUP BY d.event_type, s.med, s.mad
ORDER BY event_type
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins merge (extensions/cdc.py merge_upsert): a
    deterministic change batch derived from orders (updates at %7=0,
    higher-seq updates at %14=0, deletes at %7=1, inserts at %7=2 under
    shifted keys) applied to the orders snapshot. The base table never
    shuffles — only the change batch windows, then one anti-join."""
    from hdp_tez_spark.extensions.cdc import merge_upsert

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    upd1 = base.where(k % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        # x2.0 (exponent-only scaling) instead of round(x*1.1, 2): a
        # product at a .005 boundary double-rounds differently in Spark
        # (BigDecimal HALF_UP on the exact binary value) vs DuckDB
        # (scaled std::round) — 65 cells flipped at sf1.0 (r07 probe).
        # Dyadic multipliers keep every updated price bit-exact in both
        # engines with no rounding step at all.
        (F.col("o_totalprice") * 2.0).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    upd2 = base.where(k % 14 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 4.0).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(3).alias("seq"),
    )
    dels = base.where(k % 7 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    ins = base.where(k % 7 == 2).select(
        (k + 10000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    changes = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
    return merge_upsert(base, changes, ["o_orderkey"], "seq")


_SQL_MERGE_UPSERT = """
WITH changes AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         o_totalprice * 2.0 AS price, 'U' AS op, 2 AS seq
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice * 4.0, 'U', 3
  FROM orders WHERE o_orderkey % 14 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 2
  FROM orders WHERE o_orderkey % 7 = 1
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', o_totalprice, 'I', 1
  FROM orders WHERE o_orderkey % 7 = 2
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM changes) WHERE rn = 1
),
base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
  FROM orders
)
SELECT k AS o_orderkey, status AS o_orderstatus, price AS o_totalprice
FROM (
  SELECT b.k, b.status, b.price FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = b.k)
  UNION ALL
  SELECT k, status, price FROM latest WHERE op <> 'D'
)
"""


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history of each user's event_type stream
    (extensions/cdc.py scd2_build): consecutive equal values collapse to
    one validity interval; valid_to = next run's start, NULL on the
    current row. Both windows partition by user_id — one shuffle."""
    from hdp_tez_spark.extensions.cdc import scd2_build

    ev = _t(spark, sf_dir, "events")
    return scd2_build(
        ev, key_col="user_id", ts_col="ts", attr_col="event_type",
        tiebreak_col="event_id",
    ).select(
        "user_id", "event_type", "valid_from", "valid_to", "n_events",
        "is_current",
    )


_SQL_SCD2 = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR event_type <> lag(event_type) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS chg
  FROM events
),
runs AS (
  SELECT user_id, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run,
         ts
  FROM flagged
),
collapsed AS (
  SELECT user_id, run, min(event_type) AS event_type,
         min(ts) AS valid_from, count(*) AS n_events
  FROM runs GROUP BY user_id, run
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
         AS valid_to,
       n_events,
       CAST(CASE WHEN lead(valid_from) OVER
                        (PARTITION BY user_id ORDER BY valid_from) IS NULL
                 THEN 1 ELSE 0 END AS INT) AS is_current
FROM collapsed
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the symmetrized customer<->supplier
    trade graph (edges = distinct (o_custkey, l_suppkey) pairs from
    orders x lineitem; supplier ids shifted by 200000 into their own node
    range). Iterative keyed joins with per-round localCheckpoint
    (extensions/graph.py pagerank) — the second iterative operator next
    to dedup_clusters, oracle-checked against the 3x unrolled SQL."""
    from hdp_tez_spark.extensions.graph import pagerank
    from hdp_tez_spark.plans.checkpoints import truncate_lineage

    ords = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .select(
            F.col("o_custkey").alias("a"),
            (F.col("l_suppkey") + 200000).alias("b"),
        )
        .distinct()
        # cut before symmetrizing: both union branches read `pairs`, so
        # without this the orders x lineitem join runs twice inside
        # pagerank's edge-list materialization (r10)
        .transform(truncate_lineage)
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return pagerank(edges, iters=3, damping=0.85)


_SQL_PAGERANK = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS a, l_suppkey + 200000 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b, a FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM e),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
r0 AS (SELECT node, CAST(1 AS DOUBLE) / n.n AS r FROM nodes, n),
s1 AS (SELECT e.dst AS node, sum(r0.r / outdeg.od) AS s
       FROM e JOIN r0 ON e.src = r0.node JOIN outdeg ON e.src = outdeg.src
       GROUP BY e.dst),
r1 AS (SELECT nodes.node, (1 - 0.85) / n.n + 0.85 * coalesce(s1.s, 0) AS r
       FROM nodes LEFT JOIN s1 ON nodes.node = s1.node, n),
s2 AS (SELECT e.dst AS node, sum(r1.r / outdeg.od) AS s
       FROM e JOIN r1 ON e.src = r1.node JOIN outdeg ON e.src = outdeg.src
       GROUP BY e.dst),
r2 AS (SELECT nodes.node, (1 - 0.85) / n.n + 0.85 * coalesce(s2.s, 0) AS r
       FROM nodes LEFT JOIN s2 ON nodes.node = s2.node, n),
s3 AS (SELECT e.dst AS node, sum(r2.r / outdeg.od) AS s
       FROM e JOIN r2 ON e.src = r2.node JOIN outdeg ON e.src = outdeg.src
       GROUP BY e.dst),
r3 AS (SELECT nodes.node, (1 - 0.85) / n.n + 0.85 * coalesce(s3.s, 0) AS r
       FROM nodes LEFT JOIN s3 ON nodes.node = s3.node, n)
SELECT node, round(r, 6) AS rank FROM r3 ORDER BY node
"""


def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per-user 10-minute trailing sum/count over
    the event stream — a true time-range frame (peers by timestamp, not
    row position), deterministic under timestamp ties by construction.
    Partitions by user_id; no global window funnel."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("roll_sum_10m"),
        F.count(F.lit(1)).over(w).alias("n_10m"),
    )


_SQL_RANGE_FRAME_WINDOW = """
SELECT event_id, user_id,
       round(sum(value) OVER w, 6) AS roll_sum_10m,
       count(*) OVER w AS n_10m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Physical layout / bucketed tables / streaming / k-means oracle (round 4:
# driver evidence for the write-side operators and the streaming surface)
# ---------------------------------------------------------------------------


def _morton_sql_expr(cols: list[tuple[str, str, str]], bits: int) -> str:
    """DuckDB expression mirroring layout.zorder_value bit-for-bit: per
    column, scale to a 2^bits grid between lo/hi (same double op order as
    the Spark expression, so IEEE results are identical), then interleave
    the cell bits. cols = [(value_expr, lo_expr, hi_expr), ...]."""
    n = len(cols)
    cells = []
    top = (1 << bits) - 1
    for value, lo, hi in cols:
        scaled = (
            f"CASE WHEN ({hi}::DOUBLE - {lo}::DOUBLE) > 0 THEN "
            f"floor((({value}::DOUBLE - {lo}::DOUBLE) / ({hi}::DOUBLE - {lo}::DOUBLE)) * {1 << bits}) "
            f"ELSE 0 END"
        )
        cells.append(f"least(({scaled})::BIGINT, {top})")
    terms = []
    for i in range(bits):
        for j, cell in enumerate(cells):
            terms.append(f"((({cell} >> {i}) & 1) << {i * n + j})")
    return " + ".join(terms)  # bit positions are disjoint: sum == OR


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering round-trip: cluster `part` along a Morton curve
    over (p_size, p_retailprice) with layout.zorder_by, write the
    clustered copy, read it back, and return fixed-width Z-bucket
    occupancy and key spans. The Morton math is replayed bit-for-bit by
    the SQL oracle; file-level span pruning is pinned in
    tests/test_layout.py. Reference parity: Hive CLUSTERED BY layered on
    Tez's MROutput committer (tez-mapreduce/.../output/MROutput.java:81)."""

    from hdp_tez_spark.sources.layout import zorder_by

    part = _t(spark, sf_dir, "part")
    zdf = zorder_by(part, ["p_size", "p_retailprice"], bits=8, partitions=8)
    out = _scratch_dir("hdp_tez_zorder_")
    zdf.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(F.shiftright(F.col("__z"), 10).alias("zbucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("__z").alias("min_z"),
        F.max("__z").alias("max_z"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


_SQL_ZORDER_STATS = f"""
WITH stats AS (
  SELECT min(p_size) AS lo0, max(p_size) AS hi0,
         min(p_retailprice) AS lo1, max(p_retailprice) AS hi1
  FROM part
),
z AS (
  SELECT p_size, ({_morton_sql_expr(
      [("p_size", "lo0", "hi0"), ("p_retailprice", "lo1", "hi1")], 8
  )}) AS zval
  FROM part, stats
)
SELECT zval >> 10 AS zbucket, count(*) AS n_rows,
       min(zval) AS min_z, max(zval) AS max_z,
       min(p_size) AS min_size, max(p_size) AS max_size
FROM z GROUP BY 1
"""


def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: fragment `part` into 64 files,
    run layout.compact_small_files (Hive ALTER TABLE CONCATENATE parity,
    staged rewrite + swap), and return a full-table aggregate from the
    compacted copy — proving the rewrite is lossless — plus the
    file-count invariant. Exact target file count is size-dependent, so
    it is pinned in tests/test_layout.py, not here."""

    from hdp_tez_spark.sources.layout import compact_small_files

    part = _t(spark, sf_dir, "part")
    d = _scratch_dir("hdp_tez_compact_") + "/part"
    part.repartition(64).write.mode("overwrite").parquet(d)
    n_after = compact_small_files(spark, d, target_bytes=8 << 20)
    back = spark.read.parquet(d)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("p_retailprice"), 2).alias("total_price"),
        )
        .withColumn("compacted", F.lit(bool(n_after < 64)))
    )


_SQL_COMPACT_FILES = """
SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total_price,
       TRUE AS compacted
FROM part GROUP BY p_brand
"""


_BUCKETED_PENDING: list = []  # (spark, warehouse_dir, table_name)
_BUCKETED_CLEANUP_REGISTERED = False


def _drain_bucketed_pending() -> None:
    """Drop every bucketed table queued by earlier q_bucketed_join runs:
    best-effort catalog DROP (the owning session may already be stopped)
    plus rmtree of the physical table directory."""
    import shutil

    while _BUCKETED_PENDING:
        sp, wh, t = _BUCKETED_PENDING.pop()
        try:
            sp.sql(f"DROP TABLE IF EXISTS {t}")
        except Exception:
            pass
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)


def _register_bucketed_cleanup() -> None:
    global _BUCKETED_CLEANUP_REGISTERED
    if not _BUCKETED_CLEANUP_REGISTERED:
        import atexit

        atexit.register(_drain_bucketed_pending)
        _BUCKETED_CLEANUP_REGISTERED = True


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-map-join parity (Hive CLUSTERED BY ... INTO N BUCKETS on
    Tez, SURVEY §2.7): write both join sides bucketed on the join key
    with sources.buckets.write_bucketed, then join the bucketed tables —
    at read time the join needs NO exchange (zero-Exchange plan pinned in
    tests/test_buckets.py). Returns the joined revenue rollup."""
    import uuid

    from hdp_tez_spark.sources.buckets import read_bucketed, write_bucketed

    # unique-per-run names: the warehouse directory outlives the in-memory
    # catalog, so a fixed name from a previous session would collide with
    # its orphaned location (LOCATION_ALREADY_EXISTS)
    run = uuid.uuid4().hex[:8]
    t_orders, t_li = f"hdp_bkt_orders_{run}", f"hdp_bkt_lineitem_{run}"

    # cleanup: unique-per-run names stop collisions but would strand ~2
    # tables (~4 MB) per invocation. A SINGLE module-level atexit handler
    # drains a shared pending list (no handler accumulation under
    # repeat-run harnesses like tools/reps.py), and each new invocation
    # first drops the PREVIOUS run's tables — so a 5-rep loop carries at
    # most one run's tables on disk at a time. (Assumes the prior
    # invocation's result DataFrame was already materialized, which every
    # driver/bench/reps harness does before re-invoking.)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    _drain_bucketed_pending()
    _register_bucketed_cleanup()
    _BUCKETED_PENDING.append((spark, warehouse, t_orders))
    _BUCKETED_PENDING.append((spark, warehouse, t_li))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    write_bucketed(orders, t_orders, ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(li, t_li, ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    o = read_bucketed(spark, t_orders)
    l = read_bucketed(spark, t_li)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


_SQL_BUCKETED_JOIN = """
SELECT o_orderpriority, count(*) AS n_items,
       round(sum(l_extendedprice), 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


class _stream_state_partitions:
    """Bound the streaming state-store partition count for the duration of
    one availableNow run. A streaming query locks its state partitioning
    to `spark.sql.shuffle.partitions` at start; the session default (sized
    for batch scans) means one state store per shuffle partition, and
    store open/commit overhead dominates small micro-batches (measured
    5.8s -> 2.1s on the stream-stream join at sf0.1 going 32 -> 8). On a
    real cluster the same rule applies: size state partitions to stream
    volume, not to the batch default. Restores the caller's setting."""

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def _stage_single_file_stream(spark: SparkSession, df: DataFrame, prefix: str) -> DataFrame:
    """Stage `df` as a one-file parquet directory and return a file-source
    stream over it. One file -> one availableNow data batch, so no
    cross-batch watermark drops; the serial coalesce(1) is the staging
    cost, so prune `df` to the needed columns first."""

    src = _scratch_dir(prefix)
    df.coalesce(1).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def _drain_to_table(
    spark: SparkSession, res: DataFrame, prefix: str, mode: str
) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into a
    uniquely named memory table and return it — shared drain for every
    stream-parity query, with the state-store partition bound applied."""
    import uuid

    qname = f"{prefix}{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            res.writeStream.outputMode(mode)
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked Structured Streaming tumbling aggregation, driven to
    completion with an availableNow trigger against a single-file parquet
    copy of `events` — the unified-model guarantee makes the result equal
    to the batch twin (`tumbling_window`), which is exactly what the SQL
    oracle checks. Beyond-reference extension: streaming is unsupported
    in the reference (tez-api/.../EdgeProperty.java:71-102 EPHEMERAL /
    CONCURRENT are @Unstable; SURVEY §2.9)."""
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    sdf = _stage_single_file_stream(spark, ev, "hdp_tez_stream_src_")
    res = WIN.stream_tumbling_agg(
        sdf,
        ts_col="ts",
        duration="1 hour",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("total"),
        ],
        watermark="1 hour",
    )
    return _drain_to_table(spark, res, "stream_tumbling_", "complete").select(
        "window_start", "window_end", "event_type", "cnt", "total"
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment then windowed aggregation
    (streaming/windows.py stream_static_enrich): the event stream joins
    the broadcast customer dim — no state store, nothing to watermark on
    the static side — and aggregates per (hour, market segment). Driven
    to completion with availableNow; the unified model makes the result
    equal the batch twin, which is what the oracle checks."""
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    sdf = _stage_single_file_stream(spark, ev, "hdp_tez_stream_enr_")
    enriched = WIN.stream_static_enrich(sdf, dim, "user_id")
    res = WIN.stream_tumbling_agg(
        enriched,
        ts_col="ts",
        duration="1 hour",
        keys=["c_mktsegment"],
        aggs=[
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("total"),
        ],
        watermark="1 hour",
    )
    return _drain_to_table(spark, res, "stream_enrich_", "complete").select(
        "window_start", "window_end", "c_mktsegment", "cnt", "total"
    )


_SQL_STREAM_ENRICH = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       c_mktsegment, count(*) AS cnt, round(sum(value), 4) AS total
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2, 3
"""


def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: tumbling per-hour event-type histograms
    (streaming/windows.py stream_tumbling_agg over an availableNow
    drain) post-processed by extensions/experiments.py windowed_js_drift
    into one bounded JS number per window vs the pooled reference —
    the curation-monitoring composition (absent categories contribute
    their reference mass via the rebuilt grid)."""
    from hdp_tez_spark.extensions.experiments import windowed_js_drift
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    sdf = _stage_single_file_stream(spark, ev, "hdp_tez_stream_drift_")
    hist = WIN.stream_tumbling_agg(
        sdf,
        ts_col="ts",
        duration="1 hour",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("cnt")],
        watermark="1 hour",
    )
    sink = _drain_to_table(spark, hist, "stream_drift_", "complete")
    return windowed_js_drift(
        sink, ["window_start"], "event_type", "cnt"
    ).select("window_start", "n", "js")


_SQL_STREAM_DRIFT = """
WITH cells AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type AS cat,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
), ref AS (
  SELECT cat, CAST(sum(c) AS BIGINT) AS rc FROM cells GROUP BY cat
), rn AS (
  SELECT CAST(sum(c) AS BIGINT) AS rn FROM cells
), wt AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS wn FROM cells GROUP BY w
), grid AS (
  SELECT wt.w, wt.wn, ref.cat, ref.rc, COALESCE(cells.c, 0) AS c, rn.rn
  FROM wt CROSS JOIN ref
  LEFT JOIN cells ON cells.w = wt.w AND cells.cat = ref.cat
  CROSS JOIN rn
), terms AS (
  SELECT w, wn,
         CASE WHEN c > 0
              THEN (c / CAST(wn AS DOUBLE)) / CAST(2.0 AS DOUBLE)
                   * ln((c / CAST(wn AS DOUBLE))
                        / ((c / CAST(wn AS DOUBLE)
                            + rc / CAST(rn AS DOUBLE))
                           / CAST(2.0 AS DOUBLE)))
              ELSE 0.0 END
         + CASE WHEN rc > 0
                THEN (rc / CAST(rn AS DOUBLE)) / CAST(2.0 AS DOUBLE)
                     * ln((rc / CAST(rn AS DOUBLE))
                          / ((c / CAST(wn AS DOUBLE)
                              + rc / CAST(rn AS DOUBLE))
                             / CAST(2.0 AS DOUBLE)))
                ELSE 0.0 END AS term
  FROM grid
)
SELECT w AS window_start, wn AS n,
       round(greatest(sum(term), CAST(0.0 AS DOUBLE)), 6) AS js
FROM terms GROUP BY w, wn ORDER BY w
"""


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (clicks x purchases within
    the prior 10 minutes), driven to completion with availableNow over a
    single-file parquet copy so one micro-batch sees all data — result
    equals the batch twin `interval_join`, which is exactly what the SQL
    oracle checks. The time-bounded condition is what lets Spark evict
    join state at the watermark on a real stream (streaming/windows.py
    interval_join docstring)."""
    from hdp_tez_spark.streaming import windows as WIN

    # prune to the join's columns before the serial single-file stage
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    sdf = _stage_single_file_stream(spark, ev, "hdp_tez_stream_ij_")
    clicks = (
        sdf.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        sdf.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), "value")
        .withWatermark("p_ts", "1 hour")
    )
    j = WIN.interval_join(
        clicks, purchases, ["user_id"], "click_ts", "p_ts", "10 minutes"
    )
    res = j.select("click_id", clicks["user_id"], "click_ts", "p_ts", "value")
    return _drain_to_table(spark, res, "stream_interval_join_", "append")


def q_dag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tez DAG programming-model parity end-to-end (plans/pipeline.py):
    two source vertices, scatter-gather edges, two aggregation vertices,
    and TWO file sinks committed all-or-nothing by run_and_commit
    (DAGImpl.commitOrAbortOutputs parity; TestTezJobs.java:932,965 pins
    the two-MROutput case). The returned table is read back FROM THE
    COMMITTED SINKS, so a green row proves the staging+rename commit
    actually published both outputs."""

    from hdp_tez_spark.plans.pipeline import SCATTER_GATHER, Pipeline

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    base = _scratch_dir("hdp_tez_dag_")
    p1, p2 = f"{base}/rev_by_priority", f"{base}/rev_by_flag"
    p = Pipeline("dag_pipeline")
    p.source("orders", orders).source("lineitem", li)
    p.vertex(
        "rev_by_priority",
        lambda ins: ins["lineitem"]
        .join(
            ins["orders"],
            ins["lineitem"]["l_orderkey"] == ins["orders"]["o_orderkey"],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # revenue in MILLIONS at 3 dp, not dollars at 2 dp: the
            # cent digit of a multi-billion float sum is summation-order
            # noise (flipped at sf1.0, r07 probe) and gets worse with
            # scale; 5e-4 of a million = $500 threshold vs cent-scale
            # noise keeps >=100x headroom even at sf100
            F.round(F.sum("l_extendedprice") / 1.0e6, 3).alias("rev_musd"),
        )
        .select(
            F.col("o_orderpriority").alias("k"),
            "n",
            "rev_musd",
            F.lit("priority").alias("src"),
        ),
    )
    p.edge("orders", "rev_by_priority", SCATTER_GATHER, keys=["o_orderkey"])
    p.edge("lineitem", "rev_by_priority", SCATTER_GATHER, keys=["l_orderkey"])
    p.vertex(
        "rev_by_flag",
        lambda ins: ins["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # revenue in MILLIONS at 3 dp, not dollars at 2 dp: the
            # cent digit of a multi-billion float sum is summation-order
            # noise (flipped at sf1.0, r07 probe) and gets worse with
            # scale; 5e-4 of a million = $500 threshold vs cent-scale
            # noise keeps >=100x headroom even at sf100
            F.round(F.sum("l_extendedprice") / 1.0e6, 3).alias("rev_musd"),
        )
        .select(
            F.col("l_returnflag").alias("k"), "n", "rev_musd", F.lit("flag").alias("src")
        ),
    )
    p.edge("lineitem", "rev_by_flag", SCATTER_GATHER, keys=["l_returnflag"])
    p.sink("rev_by_priority", p1).sink("rev_by_flag", p2)
    p.run_and_commit()
    return spark.read.parquet(p1).unionByName(spark.read.parquet(p2))


_SQL_DAG_PIPELINE = """
SELECT o_orderpriority AS k, count(*) AS n,
       round(sum(l_extendedprice) / 1e6, 3) AS rev_musd, 'priority' AS src
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
UNION ALL
SELECT l_returnflag AS k, count(*) AS n,
       round(sum(l_extendedprice) / 1e6, 3) AS rev_musd, 'flag' AS src
FROM lineitem
GROUP BY l_returnflag
"""


def q_dag_edge_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver evidence for the three non-shuffle edge managers
    (plans/pipeline.py): a DAG whose vertices are connected by a RANGE
    edge (total-order routing — Sort.java's TotalOrderPartitioner,
    tez-tests/.../examples/Sort.java:43,164-169), a BROADCAST edge
    (BroadcastEdgeManager, tez-dag/.../Edge.java:142), and a CUSTOM edge
    (EdgeManagerPlugin parity, tez-api/.../EdgeManagerPlugin.java:36).
    Every movement only re-routes rows, so the aggregate result is
    partition-layout-independent — exactly what the oracle checks."""
    from hdp_tez_spark.plans.pipeline import (
        BROADCAST,
        CUSTOM,
        RANGE,
        SCATTER_GATHER,
        Pipeline,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = Pipeline("dag_edge_routing")
    p.source("lineitem", li).source("supplier", supp)
    # RANGE edge: lineitem rows arrive range-partitioned on the price
    p.vertex(
        "per_supplier",
        lambda ins: ins["lineitem"]
        .groupBy("l_suppkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev")),
    )
    p.edge("lineitem", "per_supplier", movement=RANGE, keys=["l_extendedprice"])
    # BROADCAST edge: the supplier dim reaches the join replicated
    p.vertex(
        "joined",
        lambda ins: ins["per_supplier"].join(
            ins["supplier"],
            ins["per_supplier"]["l_suppkey"] == ins["supplier"]["s_suppkey"],
        ),
    )
    p.edge("per_supplier", "joined", movement=SCATTER_GATHER, keys=["l_suppkey"])
    p.edge("supplier", "joined", movement=BROADCAST)
    # CUSTOM edge: user-defined routing (here: co-locate by nation)
    p.vertex(
        "by_nation",
        lambda ins: ins["joined"]
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("rev"), 2).alias("rev"),
        ),
    )
    p.edge(
        "joined",
        "by_nation",
        movement=CUSTOM,
        movement_fn=lambda df: df.repartition(5, "s_nationkey"),
    )
    return p.run()["by_nation"]


_SQL_DAG_EDGE_ROUTING = """
SELECT s_nationkey, count(*) AS n_suppliers, round(sum(rev), 2) AS rev
FROM (
  SELECT l_suppkey, round(sum(l_extendedprice), 2) AS rev
  FROM lineitem GROUP BY l_suppkey
) per_supp
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (streaming/sinks.py stream_merge_upsert):
    events arrive as a change stream (op 'U', seq = event_id) and are
    merged into a versioned snapshot table per micro-batch, published
    atomically via the _LATEST pointer rename; the returned table is
    read back THROUGH read_snapshot, so a green row proves the whole
    merge->version->point->read path. With availableNow over a
    single-file copy the snapshot equals the batch latest-wins result —
    the oracle's check. The micro-batch MERGE surface Hive-on-Tez users
    run as nightly batch (SURVEY §2.7), at streaming latency."""
    import uuid

    from hdp_tez_spark.streaming.sinks import read_snapshot, stream_merge_upsert

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.lit("U").alias("op"),
        F.col("event_id").alias("seq"),
    )
    src = _scratch_dir("hdp_tez_cdc_src_")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(ev.schema).parquet(src)
    base = _scratch_dir("hdp_tez_cdc_tbl_") + f"/t_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch_dir("hdp_tez_cdc_ckpt_")
    with _stream_state_partitions(spark):
        q = (
            stream_merge_upsert(sdf, base, ["user_id"], "seq", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return read_snapshot(spark, base)


_SQL_STREAM_CDC_UPSERT = """
SELECT user_id, event_type, round(value, 4) AS value
FROM (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TaskCounter parity end-to-end (metrics.py CounterRegistry):
    record-level counters ride the job via df.observe and are read back
    after the action completes — the returned 1-row table IS the counter
    values, so the oracle verifies the counter machinery itself
    (reference: TaskCounter INPUT_RECORDS_PROCESSED / OUTPUT_RECORDS,
    tez-api/.../common/counters/TaskCounter.java; zero extra jobs — the
    metrics are computed by the same action that runs the query)."""
    from hdp_tez_spark.metrics import CounterRegistry

    reg = CounterRegistry()
    li = _t(spark, sf_dir, "lineitem")
    observed = reg.observed(
        li.where(F.col("l_quantity") > 25),
        "scan",
        input_records=F.count(F.lit(1)),
        total_qty=F.round(F.sum("l_quantity"), 2),
    )
    observed.write.format("noop").mode("overwrite").save()
    vals = reg.get("scan")
    return spark.createDataFrame(
        [(int(vals["input_records"]), float(vals["total_qty"]))],
        "input_records bigint, total_qty double",
    )


_SQL_OBSERVED_METRICS = """
SELECT count(*) AS input_records, round(sum(l_quantity), 2) AS total_qty
FROM lineitem WHERE l_quantity > 25
"""


def q_object_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ObjectRegistry parity (plans/pipeline.py ObjectRegistry,
    tez-api/.../runtime/api/ObjectRegistry.java:37-61): a computed
    dimension is cached once under a DAG-scoped name and reused by two
    consumers — executor-resident blocks standing in for Tez's
    in-container object cache. The full-join rollup of both consumers is
    the oracle-checked result."""
    from hdp_tez_spark.plans.pipeline import ObjectRegistry

    reg = ObjectRegistry()
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    dim = reg.cache("nation_dim", nation.select("n_nationkey", "n_name"), scope="dag")
    a = (
        cust.join(dim, cust["c_nationkey"] == dim["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    b = (
        supp.join(
            reg.get("nation_dim"),
            supp["s_nationkey"] == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return a.join(b, "n_name", "full").select(
        "n_name",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


_SQL_OBJECT_REGISTRY = """
WITH a AS (
  SELECT n_name, count(*) AS n_customers
  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name
), b AS (
  SELECT n_name, count(*) AS n_suppliers
  FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name
)
SELECT coalesce(a.n_name, b.n_name) AS n_name,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM a FULL JOIN b ON a.n_name = b.n_name
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct with a driver-checked error-bound
    guarantee: the query computes BOTH the sketch estimate and the exact
    distinct, and returns the exact count plus a boolean asserting the
    estimate landed within 3x the requested rsd. The oracle expects TRUE
    for every group — if the sketch ever drifts out of bound, the row
    goes red. (The estimate itself is engine-specific and has no SQL
    twin; the bound is the portable contract.)"""
    li = _t(spark, sf_dir, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx_d"),
        F.countDistinct("l_orderkey").alias("exact_d"),
    )
    return both.select(
        "l_returnflag",
        "exact_d",
        (
            F.abs(F.col("approx_d") - F.col("exact_d"))
            / F.col("exact_d")
            < F.lit(0.15)
        ).alias("within_3rsd"),
    )


_SQL_APPROX_DISTINCT = """
SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_d, TRUE AS within_3rsd
FROM lineitem GROUP BY l_returnflag
"""


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: part's numeric columns rotated into (metric, value)
    rows — single map-side Expand, the dual of q_pivot
    (operators/aggregates.py unpivot_melt)."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return agg.unpivot_melt(part, ["p_partkey"], ["p_size", "p_retailprice"])


_SQL_UNPIVOT = """
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
"""


def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState,
    streaming/stateful.py running_totals): per-key state maintained in the
    state store across micro-batches. Driven with availableNow over a
    single-file copy so the one emitted row per key carries the final
    state — which must equal the batch groupBy aggregate, the oracle's
    check. Reference contrast: Tez's processor API has no managed state
    (SURVEY §2.10); this is the Spark-native stateful surface."""
    import uuid

    from hdp_tez_spark.streaming.stateful import running_totals

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    src = _scratch_dir("hdp_tez_stream_state_")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(ev.schema).parquet(src)
    res = running_totals(sdf, ["event_type"], "value", "event_type string")
    qname = f"stream_state_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            res.writeStream.outputMode("update")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname).select(
        "event_type", "cnt", F.round("total", 4).alias("total")
    )


_SQL_STREAM_STATEFUL_TOTALS = """
SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total
FROM events GROUP BY event_type
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence conversion funnel view -> click -> purchase over
    the event stream (extensions/analytics.py funnel): earliest-time
    chaining, per-user min aggs + equi-joins, no event-history windows."""
    from hdp_tez_spark.extensions.analytics import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


_SQL_FUNNEL = """
WITH s0 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s1 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id
)
SELECT 0 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s0
UNION ALL
SELECT 1 AS stage_idx, 'click' AS stage, count(*) AS n_users FROM s1
UNION ALL
SELECT 2 AS stage_idx, 'purchase' AS stage, count(*) AS n_users FROM s2
"""


def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (extensions/splits.py kfold_split):
    pure map-side md5 projection, retry/re-partition-stable."""
    from hdp_tez_spark.extensions.splits import kfold_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return kfold_split(docs, "doc_id", k=5)


_SQL_KFOLD_SPLIT = """
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 5 AS INT) AS fold
FROM documents
"""


def _kmeans_unrolled_sql(k: int, iters: int) -> str:
    """DuckDB replay of similarity.kmeans_fit: seeds are the k lowest-id
    vectors (elements rounded to 6dp), each Lloyd iteration assigns by
    cosine rounded to 6dp with cell-id tiebreak and recomputes per-cell
    means rounded to 6dp (empty cells keep their centroid via the LEFT
    JOIN coalesce) — the pagerank unrolled-iteration oracle pattern."""
    parts = [
        "WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),",
        f"""c0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cell,
         list_transform(embedding::DOUBLE[], x -> round(x, 6)) AS vec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", asg{t} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.vec), 6) DESC, c.cell
           ) AS rn
    FROM emb e CROSS JOIN c{t - 1} c
  ) WHERE rn = 1
), m{t} AS (
  SELECT cell, pos, avg(val) AS avg FROM (
    SELECT cell, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS val
    FROM asg{t}
  ) GROUP BY cell, pos
), c{t} AS (
  SELECT p.cell, coalesce(n.vec, p.vec) AS vec
  FROM c{t - 1} p
  LEFT JOIN (
    SELECT cell, list_transform(list(avg ORDER BY pos), x -> round(x, 6)) AS vec
    FROM m{t} GROUP BY cell
  ) n ON p.cell = n.cell
)"""
        )
    parts.append(
        f"""
SELECT cell::INT AS cell, count(*) AS n_assigned FROM (
  SELECT e.vec_id, c.cell,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(e.v, c.vec), 6) DESC, c.cell
         ) AS rn
  FROM emb e CROSS JOIN c{iters} c
) WHERE rn = 1 GROUP BY cell"""
    )
    return "\n".join(parts)


_SQL_KMEANS_CELLS = _kmeans_unrolled_sql(k=8, iters=5)


# ---------------------------------------------------------------------------
# Round-4 additions: graph census, weighted sampling, data quality, CMS,
# time-series gap fill, fuzzy matching, streaming dedup
# ---------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle/wedge census (extensions/graph.py triangle_count) of the
    parts-bought-together graph: parts are adjacent when some order
    contains both. The per-order self-join emits only same-basket pairs
    (baskets are small), never an all-pairs stage, and the basket
    projection keeps the graph sparse as data grows — the per-customer
    supplier projection goes COMPLETE at sf0.1 (every supplier pair
    shares a customer) and any triangle algorithm is cubic on a clique.
    Degree-oriented compact-forward counting then bounds the wedge join
    at O(m^1.5); third graph operator next to pagerank and
    connected_components. The census runs on the node-induced subgraph
    of the part-id % 4 == 0 stripe — deterministic node sampling, the
    standard sparsifier for triangle estimation (counts scale ~p^3 under
    induced sampling), which keeps the exact census affordable while the
    operator itself stays general."""
    from hdp_tez_spark.extensions.graph import cooccurrence_edges, triangle_count

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 4 == 0)
    )
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return triangle_count(edges, "a", "b")


_SQL_TRIANGLE_COUNT = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_partkey % 4 = 0),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       (SELECT CAST(sum(d * (d - 1)) / 2 AS BIGINT) FROM deg) AS n_wedges,
       (SELECT count(*)
        FROM e e1
        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (extensions/
    splits.py weighted_sample): Efraimidis-Spirakis order sampling with
    an md5-derived uniform, so the draw is reproducible in any SQL
    engine and stable across retries/repartitioning. Selection is
    TakeOrderedAndProject — per-task top-n heaps, no global sort."""
    from hdp_tez_spark.extensions.splits import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", 100)


_SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         pow((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) + 1) / 1152921504606846976.0,
             1.0 / CAST(n_chars AS DOUBLE)) AS k
  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
  ORDER BY k DESC, doc_id LIMIT 100
)
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing plan (extensions/curation.py mixture_weights): per
    source domain, the sampling rate / repeat epochs that realize a
    target token mixture under a budget — the Pile/Dolma-style planning
    step before stratified sampling executes the mix. One groupBy
    collapses the corpus to |domains| rows; every share is a ratio of
    exact integer sums (no float-summation noise)."""
    from hdp_tez_spark.extensions.curation import mixture_weights

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    return mixture_weights(
        docs, "source", "n_chars", {"src0": 0.5, "src1": 0.3, "src2": 0.2}, 20000
    )


_SQL_MIXTURE_WEIGHTS = """
WITH per_dom AS (
  SELECT source AS domain, count(*) AS docs,
         COALESCE(CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT), 0) AS tokens
  FROM documents GROUP BY 1
), shared AS (
  SELECT domain, docs, tokens,
         CAST(CASE domain WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                          WHEN 'src2' THEN 0.2 ELSE 0.0 END AS DOUBLE) AS ts,
         sum(tokens) OVER () AS tot
  FROM per_dom
)
SELECT domain, docs, tokens,
       round(tokens / CAST(tot AS DOUBLE), 6) AS corpus_share,
       round(ts, 6) AS target_share,
       round(CASE WHEN tokens > 0
                  THEN least(CAST(1.0 AS DOUBLE),
                             ts * 20000.0 / CAST(tokens AS DOUBLE)) END, 6)
         AS sample_rate,
       round(CASE WHEN tokens > 0
                  THEN ts * 20000.0 / CAST(tokens AS DOUBLE) END, 6) AS epochs
FROM shared ORDER BY domain
"""


def q_apply_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the planned domain mix (extensions/curation.py
    apply_mixture): the |domains|-row rate table from mixture_weights
    broadcasts onto the corpus and membership is a deterministic
    md5-bucket filter — plan and execution in one expression graph, no
    row-shaped shuffle, kept set stable across retries/repartitioning."""
    from hdp_tez_spark.extensions.curation import apply_mixture

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return apply_mixture(
        docs,
        "source",
        "n_chars",
        "doc_id",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        20000,
    ).select("doc_id", "source", "sample_rate", "epochs")


_SQL_APPLY_MIXTURE = """
WITH per_dom AS (
  SELECT source AS domain, count(*) AS docs,
         COALESCE(CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT), 0) AS tokens
  FROM documents GROUP BY 1
), shared AS (
  SELECT domain, tokens,
         CAST(CASE domain WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                          WHEN 'src2' THEN 0.2 ELSE 0.0 END AS DOUBLE) AS ts
  FROM per_dom
), rates AS (
  SELECT domain,
         round(CASE WHEN tokens > 0
                    THEN least(CAST(1.0 AS DOUBLE),
                               ts * 20000.0 / CAST(tokens AS DOUBLE)) END, 6)
           AS sample_rate,
         round(CASE WHEN tokens > 0
                    THEN ts * 20000.0 / CAST(tokens AS DOUBLE) END, 6)
           AS epochs
  FROM shared
)
SELECT d.doc_id, d.source, r.sample_rate, r.epochs
FROM documents d JOIN rates r ON d.source = r.domain
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        % 10000
      < CAST(floor(r.sample_rate * 10000.0 + 0.5) AS BIGINT)
"""


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled importance sampling (extensions/curation.py
    importance_sample): keep each document with probability proportional
    to score^(1/T) targeting an expected keep fraction, with an
    inverse-propensity weight on every kept row — the DSIR-style
    quality-weighted downsample. The md5(salt:id) draw makes the kept
    set identical across engines, retries, and repartitionings; the
    corpus collapses to one (n, Σw) row broadcast back, then membership
    is a map-side filter."""
    from hdp_tez_spark.extensions.curation import importance_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return importance_sample(
        docs, "doc_id", "n_chars", temperature=2.0, keep_frac=0.2
    ).select("doc_id", "p_keep", "ess_weight")


_SQL_IMPORTANCE_SAMPLE = """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s
  FROM documents
  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
), wt AS (
  SELECT doc_id, pow(s, 0.5) AS w FROM base
), tot AS (
  SELECT count(*) AS n, sum(w) AS sw FROM wt
)
SELECT doc_id, p_keep, round(CAST(1.0 AS DOUBLE) / p_keep, 6) AS ess_weight
FROM (
  SELECT doc_id,
         round(least(CAST(1.0 AS DOUBLE),
                     greatest(CAST(0.0001 AS DOUBLE),
                              CAST(0.2 AS DOUBLE) * n * w / sw)), 4)
           AS p_keep,
         (CAST(('0x' || substr(md5('is:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) + 1) / 1152921504606846976.0 AS u
  FROM wt, tot
) WHERE u < p_keep
"""


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile (extensions/quality.py profile_table):
    null/distinct/bounds for four lineitem columns via a single Expand +
    partial-agg pass — the ANALYZE TABLE surface Hive-on-Tez users get
    from their client layer (reference has no expression layer, SURVEY
    §2.8)."""
    from hdp_tez_spark.extensions.quality import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag"]
    )


_SQL_PROFILE_TABLE = """
SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
       count(*) - count(l_quantity) AS n_null,
       count(DISTINCT l_quantity) AS n_distinct,
       CAST(min(l_quantity) AS DOUBLE) AS min_val,
       CAST(max(l_quantity) AS DOUBLE) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
       count(DISTINCT l_extendedprice),
       CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_discount', count(*), count(*) - count(l_discount),
       count(DISTINCT l_discount),
       CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
       count(DISTINCT l_returnflag), NULL, NULL
FROM lineitem
"""


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (extensions/quality.py fk_violations)
    across three fact->dimension edges, one anti-join per direction,
    everything aggregated to counts before leaving the executors."""
    from hdp_tez_spark.extensions.quality import fk_violations

    ords = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    r1 = fk_violations(ords, "o_custkey", cust, "c_custkey", "orders->customer")
    r2 = fk_violations(li, "l_orderkey", ords, "o_orderkey", "lineitem->orders")
    r3 = fk_violations(li, "l_suppkey", supp, "s_suppkey", "lineitem->supplier")
    return r1.unionByName(r2).unionByName(r3)


_SQL_FK_INTEGRITY = """
SELECT 'orders->customer' AS relation,
       (SELECT count(*) FROM orders) AS n_child,
       (SELECT count(*) FROM customer) AS n_parent,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         AS orphan_children,
       (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
         AS childless_parents
UNION ALL
SELECT 'lineitem->orders',
       (SELECT count(*) FROM lineitem), (SELECT count(*) FROM orders),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT count(*) FROM lineitem), (SELECT count(*) FROM supplier),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
       (SELECT count(*) FROM supplier s
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))
"""


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample + LOCF forward fill of per-user event value sums
    (extensions/analytics.py gap_fill): grid generated map-side with
    sequence()+explode from the |users|-row span table, fill via one
    keyed window — the resample a feature pipeline runs before rolling
    computations."""
    from hdp_tez_spark.extensions.analytics import gap_fill

    ev = _t(spark, sf_dir, "events")
    return gap_fill(ev, "user_id", "ts", "value", 3600)


_SQL_GAP_FILL = """
WITH pb AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
         round(sum(value), 4) AS val
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM pb GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket FROM span)
SELECT g.user_id, g.bucket,
       last_value(pb.val IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val,
       CASE WHEN pb.val IS NULL THEN 1 ELSE 0 END AS is_gap
FROM grid g LEFT JOIN pb ON g.user_id = pb.user_id AND g.bucket = pb.bucket
"""


def q_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + probe (extensions/sketches.py): 4x256
    sketch over every document token, probed with the full vocabulary;
    output carries the estimate, the exact count, and the never-
    undercounts invariant. The md5 hash rows make the whole sketch
    reproducible in the DuckDB oracle."""
    from hdp_tez_spark.extensions.sketches import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokenize(F.col("text"))).alias("word"))
    sketch = cms_build(toks, "word", d=4, w=256)
    est = cms_estimate(sketch, toks.distinct(), "word", d=4, w=256)
    exact = toks.groupBy("word").agg(F.count(F.lit(1)).alias("exact"))
    return est.join(exact, "word").select(
        "word",
        "est",
        "exact",
        (F.col("est") >= F.col("exact")).cast("int").alias("no_undercount"),
    )


_SQL_CMS_FREQUENCY = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS word
  FROM documents
),
cells AS (
  SELECT word, i AS row,
         CAST(CAST(('0x' || substr(md5('cms' || i || ':' || word), 1, 15))
                   AS BIGINT) % 256 AS INT) AS bucket
  FROM toks, (SELECT unnest([0, 1, 2, 3]) AS i)
),
sketch AS (SELECT row, bucket, count(*) AS cnt FROM cells GROUP BY row, bucket),
pc AS (
  SELECT word, i AS row,
         CAST(CAST(('0x' || substr(md5('cms' || i || ':' || word), 1, 15))
                   AS BIGINT) % 256 AS INT) AS bucket
  FROM (SELECT DISTINCT word FROM toks), (SELECT unnest([0, 1, 2, 3]) AS i)
),
est AS (
  SELECT pc.word, min(coalesce(s.cnt, 0)) AS est
  FROM pc LEFT JOIN sketch s USING (row, bucket) GROUP BY pc.word
),
exact AS (SELECT word, count(*) AS exact FROM toks GROUP BY word)
SELECT e.word, est, exact, CAST(est >= exact AS INT) AS no_undercount
FROM est e JOIN exact USING (word)
"""


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching (extensions/dedup.py
    edit_distance_pairs): distinct part names within Levenshtein
    distance 4, candidates from a token equi-join (recall-oriented, like
    the LSH band joins) plus the exact length bound, verify on the
    survivors only."""
    from hdp_tez_spark.extensions.dedup import edit_distance_pairs

    part = _t(spark, sf_dir, "part")
    return edit_distance_pairs(part, "p_name", 4)


_SQL_EDIT_DISTANCE_PAIRS = """
WITH vals AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL),
toks AS (
  SELECT DISTINCT s,
         unnest(list_filter(string_split_regex(lower(s), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM vals
),
cand AS (
  SELECT DISTINCT a.s AS text_a, b.s AS text_b
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.s < b.s
)
SELECT text_a, text_b, levenshtein(text_a, text_b) AS dist
FROM cand
WHERE abs(length(text_a) - length(text_b)) <= 4
  AND levenshtein(text_a, text_b) <= 4
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication
    (streaming/windows.py stream_dedup — dropDuplicatesWithinWatermark)
    driven to completion with availableNow over a single-file copy of
    `events`; output is the distinct key set, which the unified model
    guarantees equals batch DISTINCT — exactly what the oracle checks.
    Beyond-reference extension (streaming unsupported in the reference,
    EdgeProperty.java:71-102; SURVEY §2.9)."""
    import uuid

    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    src = _scratch_dir("hdp_tez_stream_dedup_")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(ev.schema).parquet(src)
    res = WIN.stream_dedup(
        sdf,
        keys=["user_id", "event_type"],
        ts_col="ts",
        watermark="1 hour",
        within_watermark=True,  # the bounded-state dedup path
    ).select("user_id", "event_type")
    qname = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            res.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname)


_SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles with a driver-checked error-bound
    guarantee — the quantile counterpart of `approx_distinct`'s HLL row.
    `percentile_approx(accuracy=100)` (Greenwald-Khanna) guarantees rank
    error <= N/accuracy; the query recomputes each returned value's TRUE
    rank interval [count_lt + 1, count_le] with one conditional-agg pass
    (the 5 probe values ride a broadcast cross join — never collected)
    and asserts it overlaps [(p - eps)N, (p + eps)N]. The estimate itself
    is engine-specific and has no SQL twin; the bound is the portable
    contract the oracle expects TRUE for."""
    probs = [0.25, 0.5, 0.75, 0.9, 0.99]
    acc = 100  # eps = 1%: a bound tight enough to mean something
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    appx = li.agg(
        F.percentile_approx("v", F.array(*[F.lit(p) for p in probs]), F.lit(acc)).alias(
            "qs"
        ),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.posexplode("qs").alias("i", "q"), "n"
    ).select(
        F.element_at(F.array(*[F.lit(p) for p in probs]), F.col("i") + 1).alias("p"),
        "q",
        "n",
    )
    ranks = (
        li.crossJoin(F.broadcast(appx))
        .groupBy("p", "q", "n")
        .agg(
            F.sum((F.col("v") < F.col("q")).cast("long")).alias("__lt"),
            F.sum((F.col("v") <= F.col("q")).cast("long")).alias("__le"),
        )
    )
    eps = 1.0 / acc
    return ranks.select(
        "p",
        "n",
        (
            (F.col("__le") >= F.floor((F.col("p") - eps) * F.col("n")))
            & (F.col("__lt") + 1 <= F.ceil((F.col("p") + eps) * F.col("n")))
        ).alias("within_bound"),
    ).orderBy("p")


_SQL_APPROX_PERCENTILE_BOUND = """
SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS p,
       (SELECT count(*) FROM lineitem) AS n,
       TRUE AS within_bound
"""


def q_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-dataset diff (extensions/cdc.py dataset_diff): the new
    version is built in-plan from orders with deterministic removals
    (key % 100 = 0), price changes (% 100 = 1), and additions
    (% 100 = 2, shifted into a fresh key range); the diff must recover
    exactly those statuses. Payloads collapse to one md5 per side before
    the full-outer join, so only (key, hash) ever shuffles."""
    from hdp_tez_spark.extensions.cdc import dataset_diff

    old = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mod = F.col("o_orderkey") % 100
    new = (
        old.where(mod != 0)
        .withColumn(
            "o_totalprice",
            F.when(mod == 1, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.where(mod == 2).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    return dataset_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


_SQL_DATASET_DIFF = """
SELECT o_orderkey, 'removed' AS status FROM orders WHERE o_orderkey % 100 = 0
UNION ALL
SELECT o_orderkey, 'changed' FROM orders WHERE o_orderkey % 100 = 1
UNION ALL
SELECT o_orderkey + 100000000, 'added' FROM orders WHERE o_orderkey % 100 = 2
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over events
    (extensions/analytics.py cohort_retention): users bucketed by
    first-activity day, counted at each day offset. Activity collapses
    to distinct (user, day) in the only pass over raw events."""
    from hdp_tez_spark.extensions.analytics import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts")


_SQL_COHORT_RETENTION = """
WITH activity AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
firsts AS (SELECT u, min(d) AS cohort FROM activity GROUP BY u)
SELECT cohort AS cohort_day,
       (d - cohort) AS day_offset,
       count(*) AS n_users
FROM activity JOIN firsts USING (u)
GROUP BY 1, 2
"""


def q_exact_quantiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC twin of exact_quantiles
    (extensions/analytics.py exact_quantiles_disc): smallest actual
    value reaching each cumulative probability — distinct-collapse +
    prefix sum + one broadcast position probe per p."""
    from hdp_tez_spark.extensions.analytics import exact_quantiles_disc

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles_disc(li, "l_extendedprice", [0.01, 0.25, 0.5, 0.75, 0.99])


_SQL_EXACT_QUANTILES_DISC = """
SELECT p, round(q, 6) AS q FROM (
  SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS p,
         unnest(quantile_disc(l_extendedprice, [0.01, 0.25, 0.5, 0.75, 0.99])) AS q
  FROM lineitem
)
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of event values
    (extensions/analytics.py time_weighted_avg): each value holds until
    the user's next event; ties ordered by event_id so the carry-forward
    is deterministic. One keyed window + one partial-agg sum — the
    sessionize shuffle shape."""
    from hdp_tez_spark.extensions.analytics import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    return time_weighted_avg(ev, "user_id", "ts", "value", ["event_id"])


_SQL_TIME_WEIGHTED_AVG = """
WITH s AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v, epoch(ts) AS t,
         lead(epoch(ts)) OVER (PARTITION BY user_id ORDER BY epoch(ts), event_id)
           - epoch(ts) AS dt
  FROM events
)
SELECT user_id,
       round(sum(v * dt) / nullif(sum(dt), 0), 6) AS twap,
       CAST(floor(max(t) - min(t)) AS BIGINT) AS t_span_s
FROM s GROUP BY user_id
"""


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model counts (functions/text.py ngram_counts):
    the n-gram array is a map-side zip of shifted token slices
    (word_ngrams), so the only shuffle is the partially-aggregated count —
    WordCount's combiner shape (Combiner.java:39-41) at n-gram
    granularity."""
    from hdp_tez_spark.functions.text import ngram_counts

    docs = _t(spark, sf_dir, "documents")
    return ngram_counts(docs, "text", n=2, min_count=2)


_SQL_NGRAM_COUNTS = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents
),
grams AS (
  SELECT unnest(CASE WHEN len(l) >= 2
                     THEN list_transform(generate_series(1, len(l) - 1),
                                         i -> l[i] || ' ' || l[i + 1])
                     ELSE []::VARCHAR[] END) AS ngram
  FROM toks
)
SELECT ngram, count(*) AS cnt FROM grams GROUP BY 1 HAVING count(*) >= 2
"""


def q_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis (extensions/quality.py key_skew_stats):
    the 10 heaviest lineitem part keys with their share of all rows —
    the measurement behind the salt-or-not decision (salted_join) and
    AQE's skew threshold. One partial-agg groupBy + a TakeOrdered slice."""
    from hdp_tez_spark.extensions.quality import key_skew_stats

    li = _t(spark, sf_dir, "lineitem")
    return key_skew_stats(li, "l_partkey", top_n=10)


_SQL_KEY_SKEW_STATS = """
WITH counts AS (
  SELECT CAST(l_partkey AS VARCHAR) AS key_value, count(*) AS cnt
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys FROM counts)
SELECT key_value, cnt, round(cnt / n_rows, 6) AS share, n_rows, n_keys
FROM counts, tot
ORDER BY cnt DESC, key_value LIMIT 10
"""


# ---------------------------------------------------------------------------
# Round-4 third batch: BFS shortest hops, exact prefix-filtered similarity
# join, bounded EWMA smoothing
# ---------------------------------------------------------------------------


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the symmetrized customer<->supplier trade
    graph (same edge construction as pagerank): minimum hop distance
    from the 9 lowest customer keys, bounded at 3 hops. Frontier
    expansion with keyed joins + per-round checkpoint
    (extensions/graph.py bfs_distances); oracle = 3x unrolled min-union
    SQL, the pagerank pattern."""
    from hdp_tez_spark.extensions.graph import bfs_distances
    from hdp_tez_spark.plans.checkpoints import truncate_lineage

    ords = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .select(
            F.col("o_custkey").alias("a"),
            (F.col("l_suppkey") + 200000).alias("b"),
        )
        .distinct()
        # cut before symmetrizing — see q_pagerank (r10)
        .transform(truncate_lineage)
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    sources = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 10)
        .select(F.col("c_custkey").alias("node"))
    )
    return bfs_distances(edges, sources, max_hops=3)


_SQL_BFS_DISTANCES = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS a, l_suppkey + 200000 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b, a FROM pairs),
s AS (SELECT DISTINCT c_custkey AS node FROM customer WHERE c_custkey < 10),
d1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN s ON e.src = s.node),
d2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN d1 ON e.src = d1.node),
d3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN d2 ON e.src = d2.node),
lvls AS (
  SELECT node, 0 AS dist FROM s
  UNION ALL SELECT node, 1 FROM d1
  UNION ALL SELECT node, 2 FROM d2
  UNION ALL SELECT node, 3 FROM d3
)
SELECT node, CAST(min(dist) AS INT) AS dist FROM lvls GROUP BY node ORDER BY node
"""


def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard >= 0.5 pairs on documents via
    PPJoin-style prefix filtering (extensions/dedup.py
    prefix_filter_join): rare-first global shingle order, prefix
    equi-join candidates, length filter, verify-on-candidates-only. The
    oracle is the UNFILTERED exact all-shared-shingles join (the
    ngram_jaccard oracle at the same threshold) — equality proves the
    prefix filter loses no pairs (zero false negatives), the property
    that separates it from minhash; the two registry twins compute the
    same answer with different physical candidate strategies, exactly
    like the hash-join/sort-merge-join twin pair."""
    from hdp_tez_spark.extensions.dedup import prefix_filter_join

    return prefix_filter_join(
        _t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5, k=3
    )


_SQL_PREFIX_FILTER_JOIN = f"""
WITH {_SQL_TOKS_CTE}
SELECT id_a, id_b, jaccard FROM jaccard_pairs WHERE jaccard >= 0.5
"""


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-8 EWMA (alpha=0.3) of event values ordered by
    event_id (extensions/analytics.py ewma_smooth) — one window sort
    drives all 8 lag terms; the smoothing is a fixed JVM expression
    tree. Oracle = the identical lag formula in SQL; the weight
    constants are emitted with repr() from the SAME Python floats the
    Spark plan uses, so the arithmetic is bit-identical."""
    from hdp_tez_spark.extensions.analytics import ewma_smooth

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return ewma_smooth(ev, "user_id", "event_id", "value", alpha=0.3, k=8)


def _ewma_oracle_sql(alpha: float = 0.3, k: int = 8) -> str:
    ws = [repr((1.0 - alpha) ** j) for j in range(k)]
    lag_cols = ",\n         ".join(
        f"lag(value, {j}) OVER w AS l{j}" for j in range(1, k)
    )
    num = " + ".join(
        [f"(CASE WHEN value IS NOT NULL THEN value * {ws[0]} ELSE 0.0 END)"]
        + [
            f"(CASE WHEN l{j} IS NOT NULL THEN l{j} * {ws[j]} ELSE 0.0 END)"
            for j in range(1, k)
        ]
    )
    den = " + ".join(
        [f"(CASE WHEN value IS NOT NULL THEN {ws[0]} ELSE 0.0 END)"]
        + [
            f"(CASE WHEN l{j} IS NOT NULL THEN {ws[j]} ELSE 0.0 END)"
            for j in range(1, k)
        ]
    )
    return f"""
WITH s AS (
  SELECT user_id, event_id, value,
         {lag_cols}
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, event_id, value,
       round((0.0 + {num}) / (0.0 + {den}), 6) AS ewma
FROM s
"""


_SQL_EWMA = _ewma_oracle_sql()


def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every click,
    with its purchase within the prior 10 minutes or NULLs. Outer rows
    are emitted by watermark eviction, so the drain appends one sentinel
    event per side at a far-future timestamp (2030) to push both
    watermarks past all real data; availableNow's final no-data batch
    then flushes every unmatched click (verified semantics of
    streaming/windows.py interval_join how='left_outer'). Sentinels
    carry user_id -1 and are filtered from the result, so the table
    equals the batch LEFT JOIN the oracle computes."""
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    # Pure-literal sentinels (r11, guide §4): see q_stream_session — a
    # createDataFrame sentinel is a Python-serialized relation that drags
    # the single-task staging write onto the slow row path (13x measured).
    sentinels = spark.range(2).select(
        (F.lit(-98) - F.col("id")).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.when(F.col("id") == 0, F.lit("click"))
        .otherwise(F.lit("purchase"))
        .alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    sdf = _stage_single_file_stream(
        spark, ev.unionByName(sentinels), "hdp_tez_stream_loj_"
    )
    clicks = (
        sdf.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        sdf.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), "value")
        .withWatermark("p_ts", "1 hour")
    )
    j = WIN.interval_join(
        clicks, purchases, ["user_id"], "click_ts", "p_ts", "10 minutes",
        how="left_outer",
    )
    # sentinel rows are NOT filtered inside the streaming plan: a filter on
    # the preserved side's user_id would be pushed below the watermark
    # operators (and inferred onto the other side through the equi-join
    # constraint), silently removing the sentinels from watermark
    # accumulation — the watermark would then stall 1h before end-of-data
    # and the last unmatched clicks would never flush. Filter on the
    # drained (batch) table instead.
    res = j.select("click_id", clicks["user_id"], "click_ts", "p_ts", "value")
    return _drain_to_table(spark, res, "stream_left_join_", "append").where(
        F.col("user_id") >= 0
    )


_SQL_STREAM_LEFT_JOIN = """
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       p.ts AS p_ts, p.value
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 10 MINUTE
 AND p.ts <= c.ts
WHERE c.event_type = 'click'
"""


def q_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite round-trip (sources/catalog.py
    insert_overwrite_partitions — Hive-on-Tez dynamic partition insert /
    MROutput per-partition commit parity): write events partitioned by
    event_type, then overwrite ONLY the 'click' partition with its
    value>5 rows. Reading the table back proves partition isolation: the
    click partition holds the filtered subset, every other partition is
    untouched — a static overwrite would have truncated them all."""

    from hdp_tez_spark.sources.catalog import insert_overwrite_partitions

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = _scratch_dir("hdp_tez_dynpart_") + "/events_by_type"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    clicks_kept = ev.where(
        (F.col("event_type") == "click") & (F.col("value") > 5)
    )
    insert_overwrite_partitions(clicks_kept, path, ["event_type"])
    back = spark.read.parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("total"),
        )
        .orderBy("event_type")
    )


_SQL_PARTITION_OVERWRITE = """
SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total
FROM events
WHERE event_type <> 'click' OR value > 5
GROUP BY event_type
ORDER BY event_type
"""


def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal validity) join — the leakage-safe feature
    lookup (extensions/cdc.py point_in_time_join): build an SCD2 history
    of each user's signup `props.k` attribute, then join every purchase
    to the version valid AT THE PURCHASE'S event time
    (valid_from <= ts < valid_to). A purchase before the user's first
    signup has no version and drops out (inner). The equi-key drives one
    hash shuffle; at most one version survives per fact because SCD2
    intervals partition time."""
    from hdp_tez_spark.extensions.cdc import point_in_time_join, scd2_build
    from hdp_tez_spark.functions import collections as C

    ev = _t(spark, sf_dir, "events")
    signups = C.with_json_fields(
        ev.where(F.col("event_type") == "signup"), "props", {"k": "$.k"}
    ).withColumn("k", F.col("k").cast("int"))
    dim = scd2_build(
        signups, key_col="user_id", ts_col="ts", attr_col="k",
        tiebreak_col="event_id",
    ).select("user_id", "k", "valid_from", "valid_to")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return point_in_time_join(purchases, dim, "user_id", "ts").select(
        "event_id", "user_id", "value", F.col("k").alias("k_at_purchase"),
        "valid_from",
    )


_SQL_POINT_IN_TIME_JOIN = """
WITH sign AS (
  SELECT user_id, ts, event_id,
         json_extract_string(props, '$.k')::INT AS k
  FROM events WHERE event_type = 'signup'
),
flagged AS (
  SELECT user_id, k, ts,
         CASE WHEN lag(k) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR k <> lag(k) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS chg,
         event_id
  FROM sign
),
runs AS (
  SELECT user_id, k, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM flagged
),
collapsed AS (
  SELECT user_id, run, min(k) AS k, min(ts) AS valid_from
  FROM runs GROUP BY user_id, run
),
dim AS (
  SELECT user_id, k, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to
  FROM collapsed
)
SELECT p.event_id, p.user_id, p.value, d.k AS k_at_purchase, d.valid_from
FROM events p
JOIN dim d
  ON p.user_id = d.user_id
 AND p.ts >= d.valid_from
 AND (d.valid_to IS NULL OR p.ts < d.valid_to)
WHERE p.event_type = 'purchase'
"""


def q_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event_type
    sequence (extensions/analytics.py transition_counts): one lag()
    window keyed by user, then a partial-aggregated groupBy whose
    shuffle carries at most |event_types|^2 rows — the clickstream
    path-analysis primitive."""
    from hdp_tez_spark.extensions.analytics import transition_counts

    ev = _t(spark, sf_dir, "events")
    return transition_counts(
        ev, key_col="user_id", order_cols=["ts", "event_id"],
        state_col="event_type",
    )


_SQL_TRANSITION_COUNTS = """
WITH seq AS (
  SELECT lag(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS src_state,
         event_type AS dst_state
  FROM events
)
SELECT src_state, dst_state, count(*) AS n_transitions
FROM seq WHERE src_state IS NOT NULL
GROUP BY src_state, dst_state
ORDER BY src_state, dst_state
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance matrix of the embedding corpus
    (extensions/similarity.py embedding_covariance): per-partition
    numpy sufficient statistics (one X.T @ X per Arrow batch) merged by
    a |partitions|-bounded groupBy — the PCA/Mahalanobis input. Oracle
    recomputes every upper-triangle cell from first principles with the
    cell self-join."""
    from hdp_tez_spark.extensions.similarity import embedding_covariance

    return embedding_covariance(_t(spark, sf_dir, "embeddings"), "embedding")


_SQL_EMBEDDING_COVARIANCE = """
WITH cells AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
),
n AS (SELECT count(*) AS n FROM embeddings),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         sum(a.x * b.x) AS s_xy, sum(a.x) AS s_x, sum(b.x) AS s_y
  FROM cells a JOIN cells b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT i, j,
       round((s_xy - s_x * s_y / n.n) / n.n, 4) + CAST(0 AS DOUBLE) AS cov
FROM pairs, n
ORDER BY i, j
"""


def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(returnflag, linestatus) OLS fit of extendedprice against
    quantity (extensions/analytics.py grouped_ols): sufficient
    statistics in one partial-aggregated pass, slope/intercept as
    column arithmetic — |keys| independent model fits, one shuffle."""
    from hdp_tez_spark.extensions.analytics import grouped_ols

    li = _t(spark, sf_dir, "lineitem")
    return grouped_ols(
        li, ["l_returnflag", "l_linestatus"], "l_quantity", "l_extendedprice"
    )


_SQL_GROUPED_OLS = """
WITH s AS (
  SELECT l_returnflag, l_linestatus, count(*) AS n,
         sum(l_quantity::DOUBLE) AS sx,
         sum(l_extendedprice::DOUBLE) AS sy,
         sum(l_quantity::DOUBLE * l_extendedprice::DOUBLE) AS sxy,
         sum(l_quantity::DOUBLE * l_quantity::DOUBLE) AS sxx
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept
FROM s
ORDER BY l_returnflag, l_linestatus
"""


def q_binary_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC treating event value as the score for predicting
    purchases (extensions/analytics.py binary_auc): distinct-score
    collapse, distributed prefix-sum average ranks (tie-correct), and
    the Mann-Whitney identity — integer/half arithmetic end-to-end, so
    the oracle matches bit-for-bit."""
    from hdp_tez_spark.extensions.analytics import binary_auc

    ev = _t(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "purchase").cast("int").alias("y")
    )
    return binary_auc(ev, "value", "y")


_SQL_BINARY_AUC = """
WITH s AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
g AS (SELECT score, count(*) AS cnt, sum(y) AS pos FROM s GROUP BY score),
r AS (SELECT pos, cnt,
             sum(cnt) OVER (ORDER BY score
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM g),
a AS (SELECT sum(pos * (cum - cnt + (cnt + 1) / 2.0)) AS prs,
             sum(pos) AS p, sum(cnt) AS t
      FROM r)
SELECT p::BIGINT AS n_pos, (t - p)::BIGINT AS n_neg,
       round(CASE WHEN p > 0 AND t - p > 0
                  THEN (prs - p * (p + 1) / 2.0) / (p * (t - p)) END, 6)
         AS auc
FROM a
"""


def q_rollup_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance
    (extensions/matview.py): three refreshes against one persisted state
    table — first-half days merged into empty state, second-half days
    merged on top, then ONE day re-delivered in full with mode='replace'
    (idempotent backfill: dynamic partition overwrite recomputes exactly
    that day). The final state must equal a direct aggregation of the
    raw events — which is what the oracle computes. Hive-on-Tez daily
    INSERT OVERWRITE rollup parity (MROutput per-partition commit)."""

    from hdp_tez_spark.extensions.matview import apply_delta, read_rollup

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    state = _scratch_dir("hdp_tez_rollup_") + "/state"
    first = ev.where(F.col("day") < "2024-01-16")
    second = ev.where(F.col("day") >= "2024-01-16")
    redeliver = ev.where(F.col("day") == "2024-01-10")
    apply_delta(spark, state, first, "day", ["event_type"], "value", mode="merge")
    apply_delta(spark, state, second, "day", ["event_type"], "value", mode="merge")
    apply_delta(
        spark, state, redeliver, "day", ["event_type"], "value", mode="replace"
    )
    return read_rollup(spark, state).select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "cnt",
        F.round("total", 4).alias("total"),
        F.round("avg", 6).alias("avg"),
    ).orderBy("day", "event_type")


_SQL_ROLLUP_MAINTAIN = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS cnt,
       round(sum(value), 4) AS total,
       round(sum(value) / count(*), 6) AS avg
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (mergeSchema): two parquet generations of
    the orders table — an old one carrying (o_orderkey, o_custkey) for
    even keys and a new one carrying (o_orderkey, o_totalprice) for odd
    keys — scanned as ONE table with the union schema, missing columns
    NULL. The evolving-table reality of any long-lived 100 TB dataset;
    Tez reads such tables through per-split InputFormat schemas
    (MRInput / MultiMRInput, SURVEY §2.1)."""

    ords = _t(spark, sf_dir, "orders")
    base = _scratch_dir("hdp_tez_schevo_") + "/orders_evolved"
    ords.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    ).write.parquet(f"{base}/gen=1")
    ords.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice"
    ).write.parquet(f"{base}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_with_custkey"),
        F.count("o_totalprice").alias("n_with_price"),
        F.round(F.sum("o_totalprice"), 4).alias("price_total"),
    )


_SQL_SCHEMA_EVOLUTION = """
SELECT count(*) AS n_rows,
       count(CASE WHEN o_orderkey % 2 = 0 THEN o_custkey END) AS n_with_custkey,
       count(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS n_with_price,
       round(sum(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END), 4)
         AS price_total
FROM orders
"""


def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source surface (MRInput TextInputFormat parity, SURVEY §2.1):
    stage a lineitem projection as headered CSV, read it back with an
    explicit schema, aggregate. Proves the non-parquet reader end-to-end
    — the quantity column rides as integers so the text round-trip is
    exact."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("long").alias("qty")
    )
    path = _scratch_dir("hdp_tez_csv_") + "/lineitem_csv"
    li.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.option("header", "true")
        .schema("l_returnflag string, l_linestatus string, qty long")
        .csv(path)
    )
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("qty").alias("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_CSV_SCAN = """
SELECT l_returnflag, l_linestatus, count(*) AS cnt,
       sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source surface (MRInput reads any InputFormat —
    `tez-mapreduce/.../input/MRInput.java:84`): stage an orders
    projection as newline-delimited JSON via the catalog sink, read it
    back with an explicit schema (no sampling-inference job — at 100 TB
    schema inference is a full extra scan), aggregate. Integer/string
    columns only so the text round-trip is exact."""
    from hdp_tez_spark.sources.catalog import read_json, write_json

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", F.col("o_custkey").cast("long").alias("ck")
    )
    path = _scratch_dir("hdp_tez_json_") + "/orders_json"
    write_json(orders, path)
    back = read_json(
        spark, path, "o_orderstatus string, o_orderpriority string, ck long"
    )
    return (
        back.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("ck").alias("sum_ck"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


_SQL_JSON_SCAN = """
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       sum(o_custkey)::BIGINT AS sum_ck
FROM orders
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""


def q_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source surface (Hive-on-Tez's native columnar format; MRInput
    OrcInputFormat parity): stage a customer projection as ORC via the
    catalog sink, read it back, and aggregate with a pushed-down filter
    — the predicate reaches the ORC reader's stripe-level min/max
    skipping exactly like parquet row-group pruning."""
    from hdp_tez_spark.sources.catalog import read_orc, write_orc

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    path = _scratch_dir("hdp_tez_orc_") + "/customer_orc"
    write_orc(cust, path)
    back = read_orc(spark, path)
    return (
        back.where(F.col("c_nationkey") < 10)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("c_custkey").alias("sum_key"),
        )
        .orderBy("c_mktsegment")
    )


_SQL_ORC_SCAN = """
SELECT c_mktsegment, count(*) AS cnt,
       sum(c_custkey)::BIGINT AS sum_key
FROM customer
WHERE c_nationkey < 10
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling of each user's event-value series into
    6-hour buckets (extensions/analytics.py ohlc_downsample): open/close
    via min_by/max_by on (ts, event_id) — a SINGLE grouped aggregation
    with associative partials, no window sort. The oracle computes
    first/last with rank windows, proving the agg formulation equals the
    window formulation."""
    from hdp_tez_spark.extensions.analytics import ohlc_downsample

    ev = _t(spark, sf_dir, "events")
    out = ohlc_downsample(ev, "user_id", "ts", "value", "6 hours", "event_id")
    return out.select(
        "user_id", "bucket_start", "open", "high", "low", "close", "n", "mean"
    )


_SQL_OHLC_DOWNSAMPLE = """
WITH b AS (
  SELECT user_id, value, ts, event_id,
         time_bucket(INTERVAL '6 hours', ts) AS bucket_start
  FROM events
),
r AS (
  SELECT user_id, bucket_start, value,
         row_number() OVER (PARTITION BY user_id, bucket_start
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, bucket_start
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT user_id, bucket_start,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n,
       round(avg(value), 6) AS mean
FROM r
GROUP BY user_id, bucket_start
ORDER BY user_id, bucket_start
"""


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (extensions/dedup.py golden_record): cluster
    documents by exact content hash, then compose one record per
    cluster whose lang and source each come from the highest-
    (n_chars, doc_id) member with that attribute present — one grouped
    aggregation, |clusters|-row shuffle. Oracle recomputes each
    attribute with a rank window."""
    from hdp_tez_spark.extensions.dedup import golden_record

    docs = _t(spark, sf_dir, "documents").withColumn(
        "cluster_key", F.md5(F.col("text"))
    )
    return golden_record(
        docs, "cluster_key", "n_chars", ["lang", "source"], "doc_id"
    ).orderBy("cluster")


_SQL_GOLDEN_RECORD = """
WITH d AS (SELECT md5(text) AS cluster, lang, source, n_chars, doc_id
           FROM documents),
r AS (
  SELECT cluster, lang, source,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n_chars DESC, doc_id DESC) AS rn
  FROM d
)
SELECT cluster, count(*) AS n_members,
       max(CASE WHEN rn = 1 THEN lang END) AS lang,
       max(CASE WHEN rn = 1 THEN source END) AS source
FROM r
GROUP BY cluster
ORDER BY cluster
"""


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 control-chart z-scores of each user's event values
    (extensions/analytics.py rolling_zscore): baseline excludes the
    current row; one keyed window sort drives both frame aggregates.
    Returns only flagged rows (|z| > 2) so the result is the anomaly
    report, not the full stream."""
    from hdp_tez_spark.extensions.analytics import rolling_zscore

    ev = _t(spark, sf_dir, "events")
    z = rolling_zscore(
        ev, "user_id", ["ts", "event_id"], "value", k=20, min_periods=5
    )
    return z.where(F.abs(F.col("zscore")) > 2).select(
        "user_id", "event_id", "value", "zscore"
    )


_SQL_ROLLING_ZSCORE = """
WITH f AS (
  SELECT user_id, event_id, value,
         count(value) OVER w AS n,
         avg(value) OVER w AS m,
         greatest(avg(value * value) OVER w
                    - avg(value) OVER w * avg(value) OVER w, 0)
           AS var
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, value,
       round((value - m) / sqrt(var), 6) AS zscore
FROM f
WHERE n >= 5 AND var > 0 AND abs((value - m) / sqrt(var)) > 2
"""


def q_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day top-3 spenders: tumbling-day aggregation composed with a
    ranked window (the grouped-topk pattern over time buckets). Rank is
    row_number ordered by (total DESC, user) — deterministic under
    ties; the per-day window partitions by day, so no global funnel."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
        )
        .agg(F.round(F.sum("value"), 4).alias("total"))
    )
    w = Window.partitionBy("day").orderBy(F.col("total").desc(), F.col("user_id"))
    return (
        daily.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("day", "user_id", "total", "rnk")
        .orderBy("day", "rnk")
    )


_SQL_WINDOWED_TOPK = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
         round(sum(value), 4) AS total
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT day, user_id, total,
         row_number() OVER (PARTITION BY day
                            ORDER BY total DESC, user_id) AS rnk
  FROM daily
)
SELECT day, user_id, total, rnk FROM r WHERE rnk <= 3
ORDER BY day, rnk
"""


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set-overlap estimation (operators/aggregates.py
    hll_set_overlap): how many users both click AND purchase, from two
    single-sketch collapses + inclusion-exclusion — no key shuffle. Like
    approx_distinct, the driver-checkable contract is the ERROR BOUND:
    the query returns the exact counts plus booleans asserting each
    estimate landed within tolerance; the oracle expects all TRUE."""
    from hdp_tez_spark.operators.aggregates import hll_set_overlap

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    purch = ev.where(F.col("event_type") == "purchase").select("user_id")
    est = hll_set_overlap(clicks, purch, "user_id")
    exact = (
        clicks.agg(F.countDistinct("user_id").alias("exact_a"))
        .crossJoin(purch.agg(F.countDistinct("user_id").alias("exact_b")))
        .crossJoin(
            clicks.intersect(purch).agg(
                F.count(F.lit(1)).alias("exact_inter")
            )
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "exact_a",
        "exact_b",
        "exact_inter",
        (F.abs(F.col("est_a") - F.col("exact_a")) / F.col("exact_a") < 0.1).alias(
            "a_within_tol"
        ),
        (F.abs(F.col("est_b") - F.col("exact_b")) / F.col("exact_b") < 0.1).alias(
            "b_within_tol"
        ),
        (
            F.abs(F.col("est_intersection") - F.col("exact_inter"))
            / F.greatest(F.col("exact_inter"), F.lit(1))
            < 0.25
        ).alias("inter_within_tol"),
    )


_SQL_HLL_OVERLAP = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT count(*) FROM c) AS exact_a,
       (SELECT count(*) FROM p) AS exact_b,
       (SELECT count(*) FROM c WHERE user_id IN (SELECT user_id FROM p))
         AS exact_inter,
       TRUE AS a_within_tol, TRUE AS b_within_tol, TRUE AS inter_within_tol
"""


def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Welch t-test comparing click vs purchase event values
    (extensions/experiments.py ab_ttest): each day's n/Σx/Σx² for both
    arms ride ONE conditional-sum aggregation — an A/B readout over the
    raw event stream in a single |days|-row shuffle. The oracle rebuilds
    the identical closed-form arithmetic in SQL."""
    from hdp_tez_spark.extensions.experiments import ab_ttest

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return ab_ttest(ev, ["day"], "event_type", "value", "click", "purchase")


def _ab_ttest_oracle_sql() -> str:
    # mirror ab_ttest's expression tree operation-for-operation so the
    # float arithmetic is identical
    ma, mb = "(s_a / n_a)", "(s_b / n_b)"
    va = f"((ss_a - n_a * {ma} * {ma}) / (n_a - 1))"
    vb = f"((ss_b - n_b * {mb} * {mb}) / (n_b - 1))"
    sea, seb = f"({va} / n_a)", f"({vb} / n_b)"
    se2 = f"({sea} + {seb})"
    ok = f"(n_a >= 2 AND n_b >= 2 AND {se2} > 0)"
    t = f"CASE WHEN {ok} THEN ({ma} - {mb}) / sqrt({se2}) END"
    dof = (
        f"CASE WHEN {ok} THEN ({se2} * {se2}) / "
        f"({sea} * {sea} / (n_a - 1) + {seb} * {seb} / (n_b - 1)) END"
    )
    return f"""
WITH s AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS n_a,
         sum(CASE WHEN event_type = 'click' THEN value END) AS s_a,
         sum(CASE WHEN event_type = 'click' THEN value * value END) AS ss_a,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_b,
         sum(CASE WHEN event_type = 'purchase' THEN value END) AS s_b,
         sum(CASE WHEN event_type = 'purchase' THEN value * value END) AS ss_b
  FROM events GROUP BY 1
)
SELECT day, n_a, n_b,
       round({ma}, 6) AS mean_a, round({mb}, 6) AS mean_b,
       round({t}, 6) AS t_stat, round({dof}, 6) AS dof
FROM s ORDER BY day
"""


_SQL_AB_TTEST = _ab_ttest_oracle_sql()


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square for independence of event_type and user
    parity (extensions/experiments.py chi_square_independence):
    contingency cells from one partial-agg pass, marginals re-derived
    from the cells, ABSENT cells re-materialized from the marginal grid
    so their expected mass counts. Everything after the first pass is
    O(r x c)."""
    from hdp_tez_spark.extensions.experiments import chi_square_independence

    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).alias("cohort")
    )
    return chi_square_independence(ev, "event_type", "cohort")


_SQL_CHI_SQUARE = """
WITH cells AS (
  SELECT event_type AS r, user_id % 2 AS c, count(*) AS o
  FROM events GROUP BY 1, 2
),
rt AS (SELECT r, sum(o)::BIGINT AS rt FROM cells GROUP BY r),
ct AS (SELECT c, sum(o)::BIGINT AS ct FROM cells GROUP BY c),
n AS (SELECT sum(o)::BIGINT AS n FROM cells),
grid AS (
  SELECT rt.rt, ct.ct, coalesce(cells.o, 0) AS o
  FROM rt CROSS JOIN ct
  LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c
)
SELECT round(sum((o - rt::DOUBLE * ct::DOUBLE / n.n::DOUBLE)
                 * (o - rt::DOUBLE * ct::DOUBLE / n.n::DOUBLE)
                 / (rt::DOUBLE * ct::DOUBLE / n.n::DOUBLE)), 6) AS chi2,
       ((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1)
         AS dof,
       max(n.n) AS n
FROM grid, n
"""


def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over each user's ACTIVE DAYS
    (extensions/analytics.py gaps_and_islands): contiguous runs of
    days-since-epoch collapse via the seq - row_number() anchor — one
    window sort, one reusing aggregation, no self-join. The contiguity
    audit behind outage windows and engagement streaks."""
    from hdp_tez_spark.extensions.analytics import gaps_and_islands

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "active_day"
        ),
    )
    return gaps_and_islands(ev, "user_id", "active_day")


_SQL_GAPS_ISLANDS = """
WITH d AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS s
  FROM events
),
a AS (
  SELECT user_id, s,
         s - row_number() OVER (PARTITION BY user_id ORDER BY s) AS anchor
  FROM d
)
SELECT user_id, min(s) AS island_start, max(s) AS island_end,
       count(*) AS n_values
FROM a GROUP BY user_id, anchor
ORDER BY user_id, island_start
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag winsorization of extendedprice at [p05, p95]
    (extensions/analytics.py winsorize): exact grouped percentiles make
    a |keys|-row bounds table, broadcast back, clip as a column
    expression. Returns per-group stats of the clipped column —
    bounded means for heavy-tailed metrics."""
    from hdp_tez_spark.extensions.analytics import winsorize

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    w = winsorize(li, "l_returnflag", "l_extendedprice", 0.05, 0.95)
    return (
        w.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("clipped"), 6).alias("clipped_mean"),
            F.round(F.min("clipped"), 6).alias("clipped_min"),
            F.round(F.max("clipped"), 6).alias("clipped_max"),
        )
        .orderBy("l_returnflag")
    )


_SQL_WINSORIZE = """
WITH b AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
),
c AS (
  SELECT l.l_returnflag,
         least(greatest(l.l_extendedprice, b.lo), b.hi) AS clipped
  FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
)
SELECT l_returnflag, count(*) AS n,
       round(avg(clipped), 6) AS clipped_mean,
       round(min(clipped), 6) AS clipped_min,
       round(max(clipped), 6) AS clipped_max
FROM c GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day deltas of total event value: tumbling-day
    aggregation then lag() on the |days|-row result — the window is
    global but runs AFTER the data collapsed to one row per day, so the
    single-partition hop moves ~30 rows, not the stream (the legitimate
    use of an unpartitioned window)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("total"))
    w = Window.orderBy("day")
    return (
        daily.withColumn("prev_total", F.lag("total").over(w))
        .withColumn(
            "pct_change",
            F.round(
                (F.col("total") - F.col("prev_total")) / F.col("prev_total"),
                6,
            ),
        )
        .orderBy("day")
    )


_SQL_PERIOD_OVER_PERIOD = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, round(sum(value), 4) AS total
  FROM events GROUP BY 1
)
SELECT day, total,
       lag(total) OVER (ORDER BY day) AS prev_total,
       round((total - lag(total) OVER (ORDER BY day))
               / lag(total) OVER (ORDER BY day), 6) AS pct_change
FROM daily ORDER BY day
"""


def q_proportion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for each event type's
    high-value-event rate (value > 10), via extensions/experiments.py
    proportion_ci: one (n, successes) aggregation, closed-form interval
    on the |groups|-row result. Oracle mirrors the arithmetic with the
    identical z constants."""
    from hdp_tez_spark.extensions.experiments import proportion_ci

    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("value") > 10).cast("int").alias("hi")
    )
    return proportion_ci(ev, ["event_type"], "hi")


def _proportion_ci_oracle_sql(z: float = 1.959963984540054) -> str:
    z2 = z * z
    n, p = "CAST(n AS DOUBLE)", "(successes / CAST(n AS DOUBLE))"
    denom = f"(1.0 + {z2!r} / {n})"
    center = f"(({p} + {z2!r} / (2.0 * {n})) / {denom})"
    half = (
        f"({z!r} * sqrt({p} * (1.0 - {p}) / {n}"
        f" + {z2!r} / (4.0 * {n} * {n})) / {denom})"
    )
    return f"""
WITH s AS (
  SELECT event_type, count(*) AS n,
         sum(CASE WHEN value > 10 THEN 1 ELSE 0 END)::BIGINT AS successes
  FROM events GROUP BY event_type
)
SELECT event_type, n, successes,
       round({p}, 6) AS rate,
       round({center} - {half}, 6) AS ci_lo,
       round({center} + {half}, 6) AS ci_hi
FROM s ORDER BY event_type
"""


_SQL_PROPORTION_CI = _proportion_ci_oracle_sql()


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction per returnflag: extendedprice adjusted
    by the quantity covariate (extensions/experiments.py cuped_adjust)
    — theta, adjusted variance, and the achieved reduction from one
    sufficient-statistics pass, via var(y-θx) = var(y) − cov²/var(x)."""
    from hdp_tez_spark.extensions.experiments import cuped_adjust

    li = _t(spark, sf_dir, "lineitem")
    # var_dp=2: extendedprice variance is ~1e9, where 6 dp would print
    # 15+ significant digits and float summation noise flips the last
    return cuped_adjust(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", var_dp=2
    )


_SQL_CUPED = """
WITH s AS (
  SELECT l_returnflag, count(*) AS n,
         sum(l_quantity::DOUBLE) AS sx,
         sum(l_extendedprice::DOUBLE) AS sy,
         sum(l_quantity::DOUBLE * l_extendedprice::DOUBLE) AS sxy,
         sum(l_quantity::DOUBLE * l_quantity::DOUBLE) AS sxx,
         sum(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n,
         sx / CAST(n AS DOUBLE) AS mx, sy / CAST(n AS DOUBLE) AS my,
         sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)) AS var_x,
         syy / CAST(n AS DOUBLE) - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS var_y,
         sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS cov
  FROM s
)
SELECT l_returnflag, n,
       -- + CAST(0 AS DOUBLE) normalizes IEEE -0.0: DuckDB's round keeps
       -- the sign of a tiny negative, Spark's round does not, and these
       -- subtraction-derived quantities can sit a float ulp below zero
       round(CASE WHEN var_x > 0 THEN cov / var_x END, 6)
         + CAST(0 AS DOUBLE) AS theta,
       round(my, 6) + CAST(0 AS DOUBLE) AS mean_raw,
       round(var_y, 2) + CAST(0 AS DOUBLE) AS var_raw,
       round(CASE WHEN var_x > 0 THEN var_y - cov * cov / var_x
                  ELSE var_y END, 2) + CAST(0 AS DOUBLE) AS var_adj,
       round(CASE WHEN var_x > 0 AND var_y > 0
                  THEN 1.0 - (var_y - cov * cov / var_x) / var_y
                  ELSE 0.0 END, 6) + CAST(0 AS DOUBLE) AS var_reduction
FROM m ORDER BY l_returnflag
"""


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the composed pipeline the dedup
    operators exist for: shingle-Jaccard candidate pairs (>= 0.5) →
    transitive closure into clusters (iterative min-label
    connected_components) → golden-record survivorship per entity
    (best lang/source by (n_chars, doc_id)). Three operators, one lazy
    plan per stage, and the whole composition is still oracle-checkable:
    the SQL twin rebuilds it with a recursive CTE + rank windows."""
    from hdp_tez_spark.extensions.dedup import dedup_clusters, golden_record

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, "doc_id", "text", k=3, threshold=0.5)
    merged = docs.join(clusters, "doc_id")
    return golden_record(
        merged, "rep", "n_chars", ["lang", "source"], "doc_id"
    ).orderBy("cluster")


_SQL_ENTITY_RESOLUTION = f"""
WITH RECURSIVE {_SQL_TOKS_CTE},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jaccard_pairs WHERE jaccard >= 0.5
  UNION
  SELECT id_b, id_a FROM jaccard_pairs WHERE jaccard >= 0.5
),
reach AS (
  SELECT a AS src, b AS dst FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
rep AS (SELECT src AS doc, min(dst) AS m FROM reach GROUP BY src),
clustered AS (
  SELECT d.doc_id, d.lang, d.source, d.n_chars,
         CAST(least(coalesce(r.m, d.doc_id), d.doc_id) AS BIGINT) AS cluster
  FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc
),
rnk AS (
  SELECT cluster, lang, source,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n_chars DESC, doc_id DESC) AS rn
  FROM clustered
)
SELECT cluster, count(*) AS n_members,
       max(CASE WHEN rn = 1 THEN lang END) AS lang,
       max(CASE WHEN rn = 1 THEN source END) AS source
FROM rnk GROUP BY cluster ORDER BY cluster
"""


def q_incident_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join WITHOUT an equi key, at scale: every error
    event opens a 5-minute incident window; count all events (any user)
    inside each window — the blast-radius readout. Uses
    operators/joins.py bucketed_interval_join: intervals explode into
    300s buckets, the join is a bucket EQUI-join + exact post-filter,
    never a nested-loop over events x windows. Oracle is the direct
    range join (viable at oracle scale only)."""
    from hdp_tez_spark.operators.joins import bucketed_interval_join

    ev = _t(spark, sf_dir, "events")
    windows = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 5 minutes")).alias("w_end"),
    )
    points = ev.select("ts", "value")
    j = bucketed_interval_join(points, windows, "ts", "w_start", "w_end", 300)
    return (
        j.groupBy("error_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("error_id")
    )


_SQL_INCIDENT_WINDOW_JOIN = """
WITH w AS (
  SELECT event_id AS error_id, ts AS w_start,
         ts + INTERVAL 5 MINUTE AS w_end
  FROM events WHERE event_type = 'error'
)
SELECT w.error_id, count(*) AS n_events,
       round(sum(e.value), 4) AS total_value
FROM w JOIN events e ON e.ts >= w.w_start AND e.ts <= w.w_end
GROUP BY w.error_id
ORDER BY w.error_id
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming SESSION windows drained with availableNow —
    the last streaming form without driver evidence. Append mode emits a
    session only once the watermark passes its close, so one far-future
    sentinel row pushes the global watermark past all real data and the
    final no-data batch flushes every session; the sentinel's own
    session is filtered AFTER the drain (an in-plan key filter would be
    pushed below the watermark operator and stall it — same hazard
    pinned by stream_left_join). Result equals the batch twin
    `session_window`, which is exactly what the oracle computes."""
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    # Pure-literal sentinel (r11, guide §4): a createDataFrame sentinel
    # is a Python-serialized relation, and coalescing it into the staging
    # write's single task dragged the WHOLE serial stage onto the slow
    # row path — measured 4.6s vs 0.36s for the identical one-file write
    # with an in-plan literal row. Same far-future instant under any
    # session zone (both forms resolve in session time).
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(0.0).alias("value"),
    )
    sdf = _stage_single_file_stream(
        spark, ev.unionByName(sentinel), "hdp_tez_stream_sess_"
    )
    res = WIN.stream_session_agg(
        sdf,
        ts_col="ts",
        gap="30 minutes",
        keys=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total"),
        ],
        watermark="1 hour",
    )
    return (
        _drain_to_table(spark, res, "stream_session_", "append")
        .where(F.col("user_id") >= 0)
        .select("session_start", "session_end", "user_id", "n_events", "total")
    )


def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Python UDTF surface (Spark 4 @udtf + LATERAL join): a
    word-splitting table function explodes every document and the query
    aggregates the word-length histogram. API parity for the 1→N
    processor surface (SURVEY §2.10) — the docstring of
    functions/text.py register_split_words_udtf says when (not) to use
    it; the JVM twin of this exact workload is `wordcount`."""
    from hdp_tez_spark.functions.text import register_split_words_udtf

    name = register_split_words_udtf(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        f"""
        SELECT s.wlen, count(*) AS cnt
        FROM __udtf_docs d, LATERAL {name}(d.text) s
        GROUP BY s.wlen ORDER BY s.wlen
        """
    )


_SQL_PYTHON_UDTF = r"""
WITH w AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS word
  FROM documents
)
SELECT len(word)::INT AS wlen, count(*)::BIGINT AS cnt
FROM w GROUP BY 1 ORDER BY 1
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming SLIDING windows drained with availableNow
    (complete mode, one-file source — the stream_tumbling pattern with
    overlap): every event lands in 2 windows (2h window, 1h slide), so
    this exercises the state-card multiplication the batch twin
    `sliding_window` verifies logically. Same oracle as the batch twin."""
    from hdp_tez_spark.streaming import windows as WIN

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    sdf = _stage_single_file_stream(spark, ev, "hdp_tez_stream_slide_")
    res = WIN.stream_sliding_agg(
        sdf,
        ts_col="ts",
        duration="2 hours",
        slide="1 hour",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("total"),
        ],
        watermark="1 hour",
    )
    return _drain_to_table(spark, res, "stream_sliding_", "complete").select(
        "window_start", "window_end", "event_type", "cnt", "total"
    )


#: Registry order is evidence order: the correctness driver verifies the
#: FIRST 50 entries against the DuckDB oracle. Rotation policy (round 4):
#: the prefix always carries (a) every query added or whose implementation
#: changed this round, (b) anything touched by a shared-code change (the
#: r04 NTZ->LTZ catalog fix pulls in the event-time queries), and (c) the
#: operator-family representatives whose newest driver evidence is oldest —
#: so no SURVEY §2 family's latest green row ages more than ~one round.
#: Entries past 50 are twins of already-driver-verified families and stay
#: covered by the repo's own per-commit sf0.001 DuckDB oracle suite
#: (tests/test_entry_queries.py) plus the sf0.01 sweep
#: (tools/check_correctness.py).


def q_pca_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by 3 rounds of
    distributed power iteration (extensions/similarity.py
    pca_top_component): w = C v computed straight from the rows — per
    round ONE job aggregating d partial sums (map-side combined), only
    d floats to the driver, covariance never materialized. Deterministic
    via the kmeans_fit recipe (6-dp-rounded mean, start vector, and
    per-round iterates), which is what lets the oracle unroll the same
    3 rounds in SQL (the pagerank pattern)."""
    from hdp_tez_spark.extensions.similarity import pca_top_component

    return pca_top_component(_t(spark, sf_dir, "embeddings"), "embedding", iters=3)


def _pca_iter_sql(r: int) -> str:
    p = r - 1
    return f"""
d{r} AS (SELECT vec_id, sum(x * val) AS dot
         FROM cells JOIN v{p} USING (i) GROUP BY vec_id),
muv{r} AS (SELECT sum(m * val) AS muv FROM mu JOIN v{p} USING (i)),
s{r} AS (SELECT i, sum(x * dot) AS s
         FROM cells JOIN d{r} USING (vec_id) GROUP BY i),
w{r} AS (SELECT s{r}.i,
                s{r}.s / (SELECT n FROM nn)
                  - mu.m * (SELECT muv FROM muv{r}) AS w
         FROM s{r} JOIN mu ON s{r}.i = mu.i),
n{r} AS (SELECT sqrt(sum(w * w)) AS nrm FROM w{r}),
v{r} AS (SELECT i, round(w / (SELECT nrm FROM n{r}), 6) AS val FROM w{r})"""


_SQL_PCA_COMPONENT = f"""
WITH fit AS (
  -- mirrors pca_top_component's guard: only non-NULL length-64 vectors
  -- are fitted (64 = the corpus dim; v0's 0.125 literal = 1/sqrt(64))
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
cells AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
         unnest(embedding)::DOUBLE AS x
  FROM fit
),
nn AS (SELECT count(*)::DOUBLE AS n FROM fit),
mu AS (SELECT i, round(sum(x) / (SELECT n FROM nn), 6) AS m
       FROM cells GROUP BY i),
v0 AS (SELECT i, 0.125 AS val FROM mu),{_pca_iter_sql(1)},{_pca_iter_sql(2)},{_pca_iter_sql(3)}
SELECT i, val AS loading FROM v3 ORDER BY i
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy audit of customer quasi-identifiers
    (extensions/quality.py k_anonymity): one partial-agg groupBy over
    the (nation, segment) tuple, then a 1-row rollup of the
    |groups|-sized table — key_skew_stats cost profile."""
    from hdp_tez_spark.extensions.quality import k_anonymity

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=5)


_SQL_K_ANONYMITY = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS sz
  FROM customer GROUP BY 1, 2
)
SELECT CAST(5 AS BIGINT) AS k,
       sum(sz)::BIGINT AS n_rows,
       count(*) AS n_groups,
       min(sz) AS min_group_size,
       sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END)::BIGINT AS violating_groups,
       sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)::BIGINT AS violating_rows,
       round(sum(CASE WHEN sz >= 5 THEN sz ELSE 0 END)::DOUBLE / sum(sz), 6)
         AS anonymous_share
FROM g
"""


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (extensions/ranking.py
    rrf_fuse): the BM25 top-20 fused with a document-length prior
    top-20 — two bounded candidate lists, ranked per list and merged by
    sum 1/(60+rank); corpus-sized data never reaches the fusion."""
    from hdp_tez_spark.extensions.ranking import bm25_score, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    lex = bm25_score(
        docs, "doc_id", "text", ["spark", "table", "sort", "window"], limit=20
    )
    prior = (
        docs.select("doc_id", F.col("n_chars").cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )
    return rrf_fuse({"lex": lex, "prior": prior}, "doc_id", limit=20)


_SQL_RRF_FUSION = f"""
WITH {_SQL_BM25_TOP_CTE},
bm AS (SELECT doc_id,
              row_number() OVER (ORDER BY score DESC, doc_id) AS r
       FROM bm_top),
pr AS (SELECT doc_id,
              row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
       FROM documents
       QUALIFY r <= 20),
u AS (SELECT doc_id, r FROM bm UNION ALL SELECT doc_id, r FROM pr)
SELECT doc_id, round(sum(1.0 / (60 + r)), 6) AS rrf,
       count(*) AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf DESC, doc_id LIMIT 20
"""


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence + information value of o_orderpriority against
    the order-fulfilled target (extensions/analytics.py woe_iv): one
    partial-agg groupBy (shuffle ∝ |categories|) plus a broadcast 1-row
    totals cross join — the feature-screening pass."""
    from hdp_tez_spark.extensions.analytics import woe_iv

    orders = _t(spark, sf_dir, "orders")
    return woe_iv(
        orders, "o_orderpriority", F.col("o_orderstatus") == "F", smooth=0.5
    )


_SQL_WOE_IV = """
WITH cats AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS category, count(*) AS n,
         sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_pos
  FROM orders GROUP BY 1
),
cats2 AS (SELECT category, n, n_pos, n - n_pos AS n_neg FROM cats),
tot AS (SELECT sum(n_pos)::DOUBLE AS pt, sum(n_neg)::DOUBLE AS nt FROM cats2)
SELECT category, n, n_pos, n_neg,
       round(ln(((n_pos + 0.5) / (pt + 1.0)) / ((n_neg + 0.5) / (nt + 1.0))),
             6) AS woe,
       round((((n_pos + 0.5) / (pt + 1.0)) - ((n_neg + 0.5) / (nt + 1.0)))
               * ln(((n_pos + 0.5) / (pt + 1.0))
                    / ((n_neg + 0.5) / (nt + 1.0))),
             6) AS iv_contrib
FROM cats2 CROSS JOIN tot
ORDER BY category
"""




def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier reliability table (extensions/experiments.py
    calibration_bins): the cents-fraction of o_totalprice as a
    deterministic pseudo-score against the order-fulfilled label —
    one bin-keyed partial-agg groupBy, `bins` rows out."""
    from hdp_tez_spark.extensions.experiments import calibration_bins

    orders = _t(spark, sf_dir, "orders")
    return calibration_bins(
        orders.select(
            (F.col("o_totalprice") % 1.0).alias("score"),
            "o_orderstatus",
        ),
        "score",
        F.col("o_orderstatus") == "F",
        bins=10,
    )


_SQL_CALIBRATION_BINS = """
WITH rows_ AS (
  -- NULL scores dropped, mirroring calibration_bins' guard
  SELECT least(greatest(o_totalprice % 1.0, 0.0), 1.0) AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS p
  FROM orders
  WHERE o_totalprice IS NOT NULL
),
binned AS (
  SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin, s, p FROM rows_
)
SELECT bin, round(bin / 10.0, 6) AS lo, round((bin + 1) / 10.0, 6) AS hi,
       count(*) AS n, sum(p)::BIGINT AS n_pos,
       round(avg(s), 6) AS avg_score,
       round(avg(p::DOUBLE), 6) AS pos_rate
FROM binned GROUP BY bin
ORDER BY bin
"""




def q_random_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64 -> 16 dims (extensions/similarity.py
    random_project): md5-parity sign matrix broadcast as one row, the
    whole operator a zero-shuffle map; exploded to scalar cells here
    because the driver's hash cannot sort array cells."""
    from hdp_tez_spark.extensions.similarity import random_project

    emb = _t(spark, sf_dir, "embeddings")
    return (
        random_project(emb, out_dim=16, seed="jl")
        .select("vec_id", F.posexplode("proj").alias("j", "val"))
    )


_SQL_RANDOM_PROJECT = """
WITH cells AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
signs AS (
  SELECT j.j, i.i,
         CASE WHEN ('0x' || substr(md5('jl-' || j.j || '-' || i.i), 1, 15))::BIGINT % 2 = 1
              THEN 1.0 ELSE -1.0 END AS s
  FROM range(16) j(j) CROSS JOIN range(64) i(i)
)
SELECT c.vec_id, CAST(signs.j AS INT) AS j,
       round(sum(c.x * signs.s) / sqrt(16.0), 6) + CAST(0 AS DOUBLE) AS val
FROM cells c JOIN signs ON c.i = signs.i
GROUP BY c.vec_id, signs.j
ORDER BY c.vec_id, j
"""




def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution over the events stream
    (extensions/analytics.py attribute_conversions): one keyed window
    pass computes both models — no touches x conversions self-join."""
    from hdp_tez_spark.extensions.analytics import attribute_conversions

    ev = _t(spark, sf_dir, "events")
    return attribute_conversions(
        ev,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        id_col="event_id",
        conversion_type="purchase",
        touch_types=["click", "view"],
        value_col="value",
    )


_SQL_ATTRIBUTION = """
WITH marked AS (
  SELECT event_id, user_id, ts, event_type, value,
         first_value(CASE WHEN event_type IN ('click', 'view') THEN ts END
                     IGNORE NULLS)
           OVER w AS f_ts,
         first_value(CASE WHEN event_type IN ('click', 'view')
                          THEN event_type END IGNORE NULLS)
           OVER w AS f_tp,
         last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END
                    IGNORE NULLS)
           OVER w AS l_ts,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER w AS l_tp
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, round(epoch(ts), 6) AS conv_ts, value,
       f_tp AS first_touch, round(epoch(f_ts), 6) AS first_ts,
       l_tp AS last_touch, round(epoch(l_ts), 6) AS last_ts
FROM marked
WHERE event_type = 'purchase'
ORDER BY event_id
"""




def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift readout between two slices of the events stream
    (extensions/quality.py psi_drift): baseline min/max broadcast to
    both sides, one bins-row groupBy per side — drift costs two scans."""
    from hdp_tez_spark.extensions.quality import psi_drift

    ev = _t(spark, sf_dir, "events")
    return psi_drift(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "error"),
        "value",
        bins=10,
    )


_SQL_PSI_DRIFT = """
WITH b AS (SELECT value::DOUBLE AS x FROM events
           WHERE event_type = 'click' AND value IS NOT NULL),
c AS (SELECT value::DOUBLE AS x FROM events
      WHERE event_type = 'error' AND value IS NOT NULL),
s AS (SELECT min(x) AS mn, max(x) AS mx FROM b),
bin_b AS (
  SELECT CAST(least(greatest(CASE WHEN (mx - mn) / 10 > 0
                                  THEN floor((x - mn) / ((mx - mn) / 10))
                                  ELSE 0 END, 0), 9) AS INT) AS bin,
         count(*) AS n_base
  FROM b CROSS JOIN s GROUP BY 1
),
bin_c AS (
  SELECT CAST(least(greatest(CASE WHEN (mx - mn) / 10 > 0
                                  THEN floor((x - mn) / ((mx - mn) / 10))
                                  ELSE 0 END, 0), 9) AS INT) AS bin,
         count(*) AS n_cur
  FROM c CROSS JOIN s GROUP BY 1
),
j AS (
  SELECT sp.bin,
         coalesce(n_base, 0)::BIGINT AS n_base,
         coalesce(n_cur, 0)::BIGINT AS n_cur
  FROM (SELECT CAST(r AS INT) AS bin FROM range(10) t(r)) sp
  LEFT JOIN bin_b ON sp.bin = bin_b.bin
  LEFT JOIN bin_c ON sp.bin = bin_c.bin
),
t AS (SELECT sum(n_base)::DOUBLE AS tb, sum(n_cur)::DOUBLE AS tc FROM j)
SELECT bin,
       round(mn + bin * (mx - mn) / 10, 6) AS lo,
       round(mn + (bin + 1) * (mx - mn) / 10, 6) AS hi,
       n_base, n_cur,
       round((n_base + 0.5) / (tb + 5.0), 6) AS share_base,
       round((n_cur + 0.5) / (tc + 5.0), 6) AS share_cur,
       round(((n_cur + 0.5) / (tc + 5.0) - (n_base + 0.5) / (tb + 5.0))
               * ln(((n_cur + 0.5) / (tc + 5.0))
                    / ((n_base + 0.5) / (tb + 5.0))), 6) AS psi_contrib
FROM j CROSS JOIN t CROSS JOIN s
ORDER BY bin
"""




def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of overlapping exposure intervals (extensions/
    analytics.py merge_intervals): each event spans [ts, ts + value
    seconds]; one keyed window pass, no interval self-join."""
    from hdp_tez_spark.extensions.analytics import merge_intervals

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("double").alias("s"),
        (F.col("ts").cast("double") + F.col("value")).alias("e"),
    )
    return merge_intervals(ev, "user_id", "s", "e")


_SQL_MERGE_INTERVALS = """
WITH iv AS (
  SELECT user_id AS key, epoch(ts) AS s, epoch(ts) + value AS e
  FROM events
  -- value >= 0 mirrors merge_intervals' inverted-interval (e < s) drop
  WHERE ts IS NOT NULL AND value IS NOT NULL AND value >= 0
),
marked AS (
  SELECT key, s, e,
         CASE WHEN max(e) OVER (PARTITION BY key ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                   OR s > max(e) OVER (PARTITION BY key ORDER BY s, e
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
numbered AS (
  SELECT key, s, e,
         sum(new_island) OVER (PARTITION BY key ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
  FROM marked
),
islands AS (
  SELECT key, island, min(s) AS i_s, max(e) AS i_e, count(*) AS cnt
  FROM numbered GROUP BY key, island
)
SELECT key, sum(cnt)::BIGINT AS n_raw, count(*) AS n_merged,
       -- 4 dp, not 6: at sf1.0 a key's island-length sum carries enough
       -- summation-order noise to flip the 6th decimal (r07 probe);
       -- >=100x headroom rule from the verify skill
       round(sum(i_e - i_s), 4) AS covered_sec
FROM islands GROUP BY key
ORDER BY key
"""




def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram LM quality score per document
    (extensions/textstats.py lm_score): map-side bigram zip, corpus
    tables collapse to |bigram vocab| rows, keyed per-doc average —
    the model-free KenLM-filter slot of the curation pipeline."""
    from hdp_tez_spark.extensions.textstats import lm_score

    return lm_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_LM_SCORE = f"""
WITH {_SQL_TOK_CTE},
pos AS (SELECT doc, generate_subscripts(t, 1) AS i, unnest(t) AS w FROM tok0),
big AS (SELECT a.doc, a.w AS w1, b.w AS w2
        FROM pos a JOIN pos b ON a.doc = b.doc AND b.i = a.i + 1),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS vv
      FROM (SELECT w1 AS w FROM big UNION SELECT w2 FROM big)),
lp AS (
  SELECT big.doc, ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.vv)) AS lp
  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc AS id, count(*) AS n_bigrams, round(avg(lp), 6) AS lm_score
FROM lp GROUP BY doc
ORDER BY id
"""




def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling active users (extensions/analytics.py
    rolling_active_users): events collapse to distinct (day, user)
    first, then fan out <= 7x through a broadcast day-spine range join
    — the non-decomposable moving COUNT(DISTINCT) without a window
    funnel."""
    from hdp_tez_spark.extensions.analytics import rolling_active_users

    ev = _t(spark, sf_dir, "events")
    return rolling_active_users(ev, "user_id", "ts", window_days=7)


_SQL_ROLLING_ACTIVE_USERS = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events
  WHERE ts IS NOT NULL
),
days AS (SELECT DISTINCT day FROM du)
SELECT d.day AS day, count(DISTINCT x.u) AS active_users
FROM days d JOIN du x
  ON x.day <= d.day AND x.day >= d.day - 6
GROUP BY d.day
ORDER BY d.day
"""




def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (extensions/textstats.py collocations):
    one corpus pass to bigram/unigram tables, min-count prune BEFORE
    the vocab joins, TakeOrderedAndProject top-k."""
    from hdp_tez_spark.extensions.textstats import collocations

    return collocations(
        _t(spark, sf_dir, "documents"), "doc_id", "text", min_count=5, top_k=20
    )


_SQL_COLLOCATIONS = f"""
WITH {_SQL_TOK_CTE},
uni AS (SELECT term AS w, count(*) AS u FROM tok GROUP BY term),
nu AS (SELECT sum(u)::DOUBLE AS nu FROM uni),
pos AS (SELECT doc, generate_subscripts(t, 1) AS i, unnest(t) AS w FROM tok0),
big AS (SELECT a.w AS w1, b.w AS w2, count(*) AS n_pair
        FROM pos a JOIN pos b ON a.doc = b.doc AND b.i = a.i + 1
        GROUP BY 1, 2),
nb AS (SELECT sum(n_pair)::DOUBLE AS nb FROM big)
SELECT w1, w2, n_pair,
       round(ln((n_pair / nb.nb)
                / ((u1.u / nu.nu) * (u2.u / nu.nu))), 6) AS pmi
FROM big
JOIN uni u1 ON big.w1 = u1.w
JOIN uni u2 ON big.w2 = u2.w
CROSS JOIN nb CROSS JOIN nu
WHERE n_pair >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 20
"""




def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer merge training over the documents corpus
    (extensions/textstats.py bpe_merges): corpus collapses ONCE to the
    word-frequency table; each of the 6 greedy rounds counts adjacent
    symbol pairs over that vocab table (partial-agg, vocab-sized) and
    replaces the winner everywhere — only the winning pair reaches the
    driver per round. Oracle unrolls the same 6 rounds in SQL (the
    pca_component/kmeans pattern)."""
    from hdp_tez_spark.extensions.textstats import bpe_merges

    return bpe_merges(_t(spark, sf_dir, "documents"), "text", n_merges=6)


def _bpe_iter_sql(r: int) -> str:
    p = r - 1
    return f"""
pc{r} AS (
  SELECT pr AS pair, sum(cnt)::BIGINT AS pcnt
  FROM (SELECT cnt,
               unnest([s[i] || ' ' || s[i + 1] FOR i IN range(1, len(s))]) AS pr
        FROM (SELECT cnt, string_split(seq, ' ') AS s FROM v{p}))
  GROUP BY pr
),
b{r} AS (SELECT pair, pcnt FROM pc{r} ORDER BY pcnt DESC, pair LIMIT 1),
v{r} AS (SELECT word, cnt,
                -- separator-doubling replace = textbook left-to-right
                -- greedy merge (mirrors textstats._apply_merge): double
                -- every boundary space, match ' l  r ' (one space from
                -- each side survives for the next occurrence), collapse
                -- doubles back. coalesce guards the merges-exhausted
                -- case: an empty b{r} makes the scalar subquery NULL,
                -- and replace(seq, NULL, ...) would NULL every seq from
                -- this round on; the sentinel contains a space-free
                -- token that can never match a doubled pattern, so the
                -- round becomes the identity instead
                trim(replace(
                  replace(' ' || replace(seq, ' ', '  ') || ' ',
                          coalesce(' ' || replace((SELECT pair FROM b{r}),
                                                  ' ', '  ') || ' ',
                                   chr(1)),
                          coalesce(' ' || replace((SELECT pair FROM b{r}),
                                                  ' ', '') || ' ',
                                   chr(1))),
                  '  ', ' ')) AS seq
         FROM v{p})"""


def _bpe_rank_sql(r: int) -> str:
    return f"""
SELECT {r} AS rank, string_split(pair, ' ')[1] AS left,
       string_split(pair, ' ')[2] AS right,
       replace(pair, ' ', '') AS merged, pcnt AS pair_count
FROM b{r}"""


#: training CTE chain shared by the bpe_merges and bpe_encode oracles —
#: doc_words carries doc_id so the encode oracle can join the final
#: vocab back per document
_SQL_BPE_TRAIN_CTES = f"""doc_words AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS word
  FROM documents
),
v0 AS (
  SELECT word, count(*)::BIGINT AS cnt,
         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS seq
  FROM doc_words GROUP BY word
),{",".join(_bpe_iter_sql(r) for r in range(1, 7))}"""

_SQL_BPE_MERGES = f"""
WITH {_SQL_BPE_TRAIN_CTES}
SELECT * FROM ({" UNION ALL ".join(_bpe_rank_sql(r) for r in range(1, 7))})
ORDER BY rank
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization of the corpus with the 6 rules just trained on
    it (extensions/textstats.py bpe_encode): the rules collect to the
    driver (|merges| rows — the bounded trainer output, the kmeans
    centroid contract) and bake into a fixed chain of JVM replace()
    expressions, making the encoder a ZERO-SHUFFLE scan. Output per doc:
    word count and BPE token count — the compression readout. The
    oracle replays training in SQL and joins the final per-word symbol
    sequences back to the documents."""
    from hdp_tez_spark.extensions.textstats import bpe_encode, bpe_merges

    docs = _t(spark, sf_dir, "documents")
    rules = [
        (r["left"], r["right"])
        for r in bpe_merges(docs, "text", n_merges=6).collect()
    ]
    enc = bpe_encode(docs, "doc_id", "text", rules)
    return (
        enc.where(F.col("n_words") > 0)
        .select("doc_id", "n_words", "n_tokens")
        .orderBy("doc_id")
    )


_SQL_BPE_ENCODE = f"""
WITH {_SQL_BPE_TRAIN_CTES},
wl AS (SELECT word, len(string_split(seq, ' '))::INT AS ntok FROM v6)
SELECT doc_id, count(*)::INT AS n_words, sum(ntok)::INT AS n_tokens
FROM doc_words JOIN wl USING (word)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end tokenizer-to-context-window path: train 6 BPE
    rules on the corpus, tokenize every document with them (zero-shuffle
    encode), then lay the documents end-to-end and cut 256-token packs
    (curation.pack_sequences, 8 hash buckets) — what an LLM pretraining
    data job does between raw text and fixed-length training windows.
    Each stage keeps its own scale shape: one corpus pass to the vocab,
    vocab-sized merge rounds, map-side encode, one bucket-keyed window
    for packing."""
    from hdp_tez_spark.extensions.curation import pack_sequences
    from hdp_tez_spark.extensions.textstats import bpe_encode, bpe_merges

    docs = _t(spark, sf_dir, "documents")
    rules = [
        (r["left"], r["right"])
        for r in bpe_merges(docs, "text", n_merges=6).collect()
    ]
    enc = (
        bpe_encode(docs, "doc_id", "text", rules)
        .where(F.col("n_words") > 0)
        .select("doc_id", "n_tokens")
    )
    return pack_sequences(enc, "doc_id", "n_tokens", budget=256, num_buckets=8)


_SQL_BPE_PACK = f"""
WITH {_SQL_BPE_TRAIN_CTES},
wl AS (SELECT word, len(string_split(seq, ' '))::INT AS ntok FROM v6),
nt AS (SELECT doc_id, sum(ntok)::INT AS n_tokens
       FROM doc_words JOIN wl USING (word) GROUP BY doc_id),
b AS (
  SELECT doc_id, n_tokens,
         CAST({_sql_bucket('doc_id', 8)} AS INTEGER) AS bucket
  FROM nt
),
c AS (
  SELECT doc_id, n_tokens, bucket,
         CAST(sum(n_tokens) OVER (
           PARTITION BY bucket
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS pos
  FROM b
)
SELECT doc_id, n_tokens, bucket,
       pos // 256 AS pack_idx, pos % 256 AS pack_offset
FROM c
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over one keyed sort (operators/window.py
    with_distribution): customers' account-balance position within their
    market segment — both functions share a single Window operator (one
    exchange, one sort)."""
    from hdp_tez_spark.operators.window import with_distribution

    cust = _t(spark, sf_dir, "customer")
    return with_distribution(
        cust.select("c_custkey", "c_mktsegment", "c_acctbal"),
        ["c_mktsegment"],
        [F.col("c_acctbal"), F.col("c_custkey")],
    ).orderBy("c_custkey")


_SQL_WINDOW_DISTRIBUTION = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       round(percent_rank() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey), 6)
         AS pct_rank,
       round(cume_dist() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey), 6)
         AS cume_dist
FROM customer
ORDER BY c_custkey
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity privacy audit (extensions/quality.py l_diversity):
    the homogeneity-attack companion to the in-prefix k_anonymity —
    distinct o_orderpriority values within each (custkey-band, status)
    quasi-identifier group; two bounded partial-agg cascades."""
    from hdp_tez_spark.extensions.quality import l_diversity

    orders = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).alias("cust_band"),
        "o_orderstatus",
        "o_orderpriority",
    )
    return l_diversity(
        orders, ["cust_band", "o_orderstatus"], "o_orderpriority", l=3
    )


_SQL_L_DIVERSITY = """
WITH g AS (
  SELECT o_custkey % 100 AS cust_band, o_orderstatus,
         count(*) AS sz,
         (count(DISTINCT o_orderpriority)
            + max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END))
           AS nd
  FROM orders GROUP BY 1, 2
)
SELECT CAST(3 AS BIGINT) AS l,
       count(*) AS n_groups,
       min(nd)::BIGINT AS min_distinct_sensitive,
       sum(CASE WHEN nd < 3 THEN 1 ELSE 0 END)::BIGINT AS violating_groups,
       sum(CASE WHEN nd < 3 THEN sz ELSE 0 END)::BIGINT AS violating_rows,
       round(sum(CASE WHEN nd >= 3 THEN sz ELSE 0 END)::DOUBLE / sum(sz), 6)
         AS diverse_share
FROM g
"""


def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM mean-shift monitor per user over the event-value
    stream (extensions/analytics.py cusum_shift): the sequential
    recursion S_n = max(0, S_{n-1} + drift) computed via its closed form
    P_n - min(0, running-min P) — two frame aggregates on ONE keyed
    sort, no recursion, no Python."""
    from hdp_tez_spark.extensions.analytics import cusum_shift

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 50)
    return cusum_shift(
        ev, "user_id", "ts", "value",
        target=50.0, slack=5.0, threshold=200.0, tiebreak=["event_id"],
    )


_SQL_CUSUM_SHIFT = """
WITH s AS (
  SELECT user_id, ts, event_id, value::DOUBLE AS value,
         sum(value::DOUBLE - 50.0 - 5.0) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS p
  FROM events WHERE user_id < 50
),
c AS (
  SELECT user_id, ts, event_id, value,
         round(p - least(0.0, min(p) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING)), 6) AS cusum
  FROM s
)
SELECT user_id, ts, event_id, value, cusum, cusum > 200.0 AS alarm
FROM c
ORDER BY user_id, ts, event_id
"""


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (extensions/quality.py
    benford_audit): leading digit by pure column arithmetic, corpus
    collapses map-side to <= 9 groups, 9-row digit spine broadcast —
    the forensic fabricated-numbers screen."""
    from hdp_tez_spark.extensions.quality import benford_audit

    return benford_audit(_t(spark, sf_dir, "orders"), "o_totalprice")


_SQL_BENFORD_AUDIT = """
WITH v AS (
  SELECT abs(o_totalprice::DOUBLE) AS x FROM orders
  WHERE o_totalprice IS NOT NULL AND abs(o_totalprice::DOUBLE) > 0
    AND isfinite(o_totalprice::DOUBLE)
),
d AS (
  -- boundary repair mirrors benford_audit: libm log10 rounding UP at a
  -- power-of-ten boundary makes the raw digit 0 (a true leading 9);
  -- rounding DOWN makes it 10 (a true leading 1)
  SELECT CASE WHEN rd <= 0 THEN 9 WHEN rd >= 10 THEN 1 ELSE rd END AS digit,
         count(*) AS n
  FROM (SELECT CAST(floor(x / pow(10.0, floor(log10(x)))) AS INT) AS rd
        FROM v)
  GROUP BY 1
),
sp AS (SELECT CAST(r + 1 AS INT) AS digit FROM range(9) t(r)),
j AS (
  SELECT sp.digit, coalesce(n, 0)::BIGINT AS n
  FROM sp LEFT JOIN d ON sp.digit = d.digit
),
t AS (SELECT sum(n)::DOUBLE AS tot FROM j)
SELECT digit, n,
       round(n / tot, 6) AS share,
       round(log10(1.0 + 1.0 / digit), 6) AS expected,
       round(tot * (n / tot - log10(1.0 + 1.0 / digit))
                 * (n / tot - log10(1.0 + 1.0 / digit))
                 / log10(1.0 + 1.0 / digit), 6) AS chi2_term
FROM j CROSS JOIN t
ORDER BY digit
"""


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user autocorrelation of event values at lags 1-3
    (extensions/analytics.py acf): ONE keyed sort produces every lag
    column (all lag() calls share the window spec), one grouped agg
    computes all corr/count pairs — cost independent of how many lags,
    vs the naive one-self-join-per-lag."""
    from hdp_tez_spark.extensions.analytics import acf

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 30)
    return acf(ev, "user_id", "ts", "value", lags=[1, 2, 3], tiebreak=["event_id"])


_SQL_ACF = """
WITH s AS (
  SELECT user_id AS key, value::DOUBLE AS x,
         lag(value::DOUBLE, 1) OVER w AS l1,
         lag(value::DOUBLE, 2) OVER w AS l2,
         lag(value::DOUBLE, 3) OVER w AS l3
  FROM events WHERE user_id < 30
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  -- n_k counts pairwise-complete pairs (both ends non-NULL), mirroring
  -- the acf operator
  SELECT key,
         corr(x, l1) AS c1,
         count(CASE WHEN x IS NOT NULL AND l1 IS NOT NULL THEN 1 END) AS n1,
         corr(x, l2) AS c2,
         count(CASE WHEN x IS NOT NULL AND l2 IS NOT NULL THEN 1 END) AS n2,
         corr(x, l3) AS c3,
         count(CASE WHEN x IS NOT NULL AND l3 IS NOT NULL THEN 1 END) AS n3
  FROM s GROUP BY key
)
SELECT key, lag, n_pairs, acf FROM (
  SELECT key, 1 AS lag, n1 AS n_pairs, round(c1, 6) AS acf FROM g
  UNION ALL
  SELECT key, 2 AS lag, n2 AS n_pairs, round(c2, 6) AS acf FROM g
  UNION ALL
  SELECT key, 3 AS lag, n3 AS n_pairs, round(c3, 6) AS acf FROM g
)
ORDER BY key, lag
"""


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement between the real order status and a
    rule-based pseudo-rater (extensions/experiments.py cohens_kappa) —
    the labeling-QA readout for double-annotated data; one contingency
    groupBy, marginals from the cells."""
    from hdp_tez_spark.extensions.experiments import cohens_kappa

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("human"),
        F.when(F.col("o_totalprice") % 3 < 1, "F")
        .when(F.col("o_totalprice") % 3 < 2, "O")
        .otherwise("P")
        .alias("model"),
    )
    return cohens_kappa(orders, "human", "model")


_SQL_COHENS_KAPPA = """
WITH pairs AS (
  SELECT o_orderstatus AS a,
         CASE WHEN o_totalprice % 3 < 1 THEN 'F'
              WHEN o_totalprice % 3 < 2 THEN 'O'
              ELSE 'P' END AS b
  FROM orders
  WHERE o_orderstatus IS NOT NULL
),
n AS (SELECT count(*)::DOUBLE AS n FROM pairs),
po AS (SELECT sum(CASE WHEN a = b THEN 1 ELSE 0 END)::DOUBLE AS agree
       FROM pairs),
ka AS (SELECT a AS k, count(*)::DOUBLE AS ra FROM pairs GROUP BY a),
kb AS (SELECT b AS k, count(*)::DOUBLE AS rb FROM pairs GROUP BY b),
pe AS (
  SELECT sum(coalesce(ra, 0) * coalesce(rb, 0) / (n.n * n.n)) AS p_e
  FROM ka FULL JOIN kb USING (k) CROSS JOIN n
)
SELECT CAST(n.n AS BIGINT) AS n,
       round(po.agree / n.n, 6) AS p_observed,
       round(pe.p_e, 6) AS p_expected,
       round((po.agree / n.n - pe.p_e) / (1.0 - pe.p_e), 6) AS kappa
FROM n CROSS JOIN po CROSS JOIN pe
"""


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order total
    (extensions/experiments.py bootstrap_ci): 32 deterministic
    md5-seeded Poisson(1) replica weightings collapse map-side to 32
    replica means; the classic with-replacement bootstrap is
    undistributable, this one is a single data pass. The oracle replays
    every replica weight from the same hash ladder."""
    from hdp_tez_spark.extensions.experiments import bootstrap_ci

    orders = _t(spark, sf_dir, "orders")
    return bootstrap_ci(orders, "o_orderkey", "o_totalprice", b=32)


_SQL_BOOTSTRAP_CI = """
WITH base AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS id, o_totalprice::DOUBLE AS x
  FROM orders WHERE o_totalprice IS NOT NULL
),
reps AS (SELECT CAST(r AS INT) AS rep FROM range(32) t(r)),
-- replica r draws its 32-bit uniform from hash block r//4, hex slice
-- r%4 — the bootstrap_ci scheme (4 draws per md5, no row explosion on
-- the Spark side; the oracle's cross join is just the readable twin)
wtd AS (
  SELECT rep, x,
         ('0x' || substr(md5('boot-' || (rep // 4) || '-' || id),
                         1 + (rep % 4) * 8, 8))::BIGINT
           / 4294967296.0 AS u
  FROM base CROSS JOIN reps
),
wt AS (
  SELECT rep, x,
         CAST(CASE WHEN u < 0.36787944117144233 THEN 0
                   WHEN u < 0.7357588823428847  THEN 1
                   WHEN u < 0.9196986029286058  THEN 2
                   WHEN u < 0.9810118431238462  THEN 3
                   WHEN u < 0.9963401531726563  THEN 4
                   WHEN u < 0.9994058151824183  THEN 5
                   WHEN u < 0.9999167588507119  THEN 6
                   WHEN u < 0.9999897508637437  THEN 7
                   ELSE 8 END AS DOUBLE) AS w
  FROM wtd
),
m AS (SELECT rep, round(sum(w * x) / sum(w), 6) AS m FROM wt GROUP BY rep),
ci AS (SELECT round(quantile_cont(m, 0.025), 6) AS ci_lo,
              round(quantile_cont(m, 0.975), 6) AS ci_hi
       FROM m),
obs AS (SELECT count(*) AS n, round(avg(x), 6) AS mean FROM base)
SELECT n, mean, ci_lo, ci_hi, CAST(32 AS INT) AS b
FROM obs CROSS JOIN ci
"""


def q_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment exact ROC AUC (extensions/analytics.py grouped_auc):
    the cents-fraction pseudo-score against the order-fulfilled label,
    segmented by order priority — the fairness/segmented-eval readout.
    Distinct (group, score) collapse, ONE keyed window cumsum for
    within-group average ranks, rank-sum identity per group."""
    from hdp_tez_spark.extensions.analytics import grouped_auc

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice") % 1.0).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return grouped_auc(orders, ["o_orderpriority"], "score", "label")


_SQL_GROUPED_AUC = """
WITH cells AS (
  -- NULL scores AND NULL labels excluded, mirroring grouped_auc's guard
  SELECT o_orderpriority, o_totalprice % 1.0 AS s,
         count(*) AS cnt,
         sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2
),
ranked AS (
  SELECT o_orderpriority, cnt, pos,
         sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY s
                        ROWS UNBOUNDED PRECEDING)
           - cnt + (cnt + 1) / 2.0 AS avg_rank
  FROM cells
),
g AS (
  SELECT o_orderpriority,
         sum(pos * avg_rank) AS prs,
         sum(pos)::BIGINT AS n_pos,
         (sum(cnt) - sum(pos))::BIGINT AS n_neg
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_pos, n_neg,
       round(CASE WHEN n_pos > 0 AND n_neg > 0
                  THEN (prs - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
             END, 6) AS auc
FROM g
ORDER BY o_orderpriority
"""


def q_rendezvous_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) shard routing of customers into 8 shards
    (extensions/splits.py rendezvous_shard), reported as per-shard
    counts — pure map-side argmax of per-shard md5 scores; the router
    whose resharding movement is ~1/(N+1), not ~1."""
    from hdp_tez_spark.extensions.splits import rendezvous_shard

    cust = _t(spark, sf_dir, "customer")
    return (
        rendezvous_shard(cust, "c_custkey", shards=8)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("shard")
    )


_SQL_RENDEZVOUS_SHARD = """
WITH scored AS (
  SELECT c_custkey, s.s AS shard,
         ('0x' || substr(md5(s.s || '-' || CAST(c_custkey AS VARCHAR)),
                         1, 15))::BIGINT AS score
  FROM customer CROSS JOIN (SELECT CAST(r AS INT) AS s FROM range(8) t(r)) s
),
best AS (
  SELECT c_custkey, shard,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY score DESC, shard) AS rn
  FROM scored
)
SELECT shard, count(*) AS cnt FROM best WHERE rn = 1
GROUP BY shard ORDER BY shard
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate-span detection (Lee et al. 2022 suffix-
    array dedup, distributed shingle-window approximation): per-doc count
    and fraction of 20-token sliding windows that appear verbatim in >= 2
    distinct documents (extensions/dedup.py duplicated_spans). The span-
    level sibling of ngram_novelty — catches the shared-paragraph case
    document-level Jaccard/MinHash never reaches threshold on. Spark
    counts on 60-bit md5 window hashes (only (id, hash) leaves the map);
    the oracle counts the window strings themselves — equal absent a
    60-bit collision, the same contract every shingle-hash op here uses."""
    from hdp_tez_spark.extensions.dedup import duplicated_spans

    return duplicated_spans(
        _t(spark, sf_dir, "documents"), "doc_id", "text", window=20
    )


_SQL_DUP_SPANS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
wins AS (
  SELECT doc_id, array_to_string(t[i:i+19], ' ') AS w
  FROM toks,
       UNNEST(CASE WHEN len(t) >= 20 THEN range(1, len(t) - 18)
                   ELSE [] END) AS u(i)
),
duph AS (SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
dupc AS (
  SELECT doc_id, count(*) AS dup_windows
  FROM wins WHERE w IN (SELECT w FROM duph) GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(t.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(c.dup_windows, 0) AS BIGINT) AS dup_windows,
       round(coalesce(c.dup_windows, 0) * 1.0 / nullif(t.n_windows, 0), 6)
         AS dup_frac
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN dupc c ON d.doc_id = c.doc_id
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): embedding-
    cosine near-dup pairs (sign-LSH bucketed, threshold 0.4 — the
    embedding_near_dupes settings, 4 planes pinned for oracle parity)
    closed transitively; every vector labeled with its dup-group
    representative = min vec_id (extensions/similarity.py
    semantic_dedup). The embedding-space sibling of dedup_clusters;
    the oracle unrolls the transitive closure as a recursive CTE."""
    from hdp_tez_spark.extensions.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=4
    )


_SQL_SEMANTIC_DEDUP = """
WITH RECURSIVE b AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
        + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
        + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
        + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                     c.embedding::DOUBLE[]), 6) >= 0.4
),
edges AS (
  SELECT id_a AS a, id_b AS e FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a AS src, e AS dst FROM edges
  UNION
  SELECT r.src, g.e FROM reach r JOIN edges g ON r.dst = g.a
),
rep AS (SELECT src AS v, min(dst) AS m FROM reach GROUP BY src)
SELECT emb.vec_id,
       CAST(least(coalesce(r.m, emb.vec_id), emb.vec_id) AS BIGINT) AS rep
FROM embeddings emb LEFT JOIN rep r ON emb.vec_id = r.v
"""


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional skyline / Pareto frontier over `part`: the parts
    no other part beats on BOTH price (lower-or-equal) and size
    (greater-or-equal) with at least one strict win — the classic
    "cheapest yet largest" preference query (Borzsony et al., ICDE'01),
    the one canonical OLAP operator the registry still lacked. The
    oracle is the textbook quadratic NOT EXISTS; the engine plans the
    O(N log N) shape instead (extensions/analytics.py `skyline`):
    collapse to per-price max-size cells, a distributed exclusive
    prefix-max scan over the cells (range partition + per-partition
    window + broadcast per-PARTITION offsets — no single-task global
    window, no self-join), then one equi-join back. Comparisons only,
    no float arithmetic — layout-proof by construction."""
    from hdp_tez_spark.extensions.analytics import skyline

    return (
        skyline(
            _t(spark, sf_dir, "part").select(
                "p_partkey", "p_brand", "p_retailprice", "p_size"
            ),
            minimize_col="p_retailprice",
            maximize_col="p_size",
        )
        .orderBy("p_partkey")
    )


_SQL_SKYLINE = """
SELECT p_partkey, p_brand, p_retailprice, p_size
FROM part a
WHERE a.p_retailprice IS NOT NULL AND a.p_size IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM part b
    WHERE b.p_retailprice <= a.p_retailprice
      AND b.p_size >= a.p_size
      AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
ORDER BY p_partkey
"""


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversity selection (extensions/
    similarity.py mmr_select): greedily pick 8 embeddings maximizing
    0.5*rel - 0.5*max-sim-to-already-picked, rel = cosine to the
    vec_id=0 query vector — the diversity-aware counterpart of
    cosine_topk (top-k by relevance alone picks near-duplicates; MMR is
    the standard reranker/curation subset selector). The oracle replays
    the same greedy argmax as a DuckDB recursive CTE whose single
    accumulator row carries the picked (id, vector) lists. Both sides
    round every cosine to 6 dp before it enters a score and break ties
    on ascending id (the registry's ANN determinism contract), and the
    0.5 blend is dyadic-exact, so each round's argmax is engine-
    reproducible. The oracle unrolls the deepest accumulator row it
    reached (ORDER BY step DESC LIMIT 1) rather than demanding step = k,
    so on a sub-k corpus both sides agree on the partial 1..n picks
    (ADVICE r08)."""
    from hdp_tez_spark.extensions.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    return mmr_select(
        emb.where(F.col("vec_id") != 0),
        query_vec=qvec,
        k=8,
        lam=0.5,
    )


_SQL_MMR_SELECT = """
WITH RECURSIVE cand AS (
  SELECT c.vec_id AS id, c.embedding::DOUBLE[] AS v,
         round(list_cosine_similarity(c.embedding::DOUBLE[],
               (SELECT embedding::DOUBLE[] FROM embeddings
                WHERE vec_id = 0)), 6) AS rel
  FROM embeddings c WHERE c.vec_id <> 0
),
sel AS (
  (SELECT 1 AS step, [c.id] AS ids, [c.v] AS vs
   FROM cand c
   ORDER BY 0.5 * c.rel DESC, c.id
   LIMIT 1)
  UNION ALL
  SELECT s.step + 1, list_append(s.ids, c.id), list_append(s.vs, c.v)
  FROM sel s JOIN cand c ON NOT list_contains(s.ids, c.id)
  WHERE s.step < 8
  QUALIFY row_number() OVER (
    ORDER BY 0.5 * c.rel - 0.5 * list_max(list_transform(s.vs,
               w -> round(list_cosine_similarity(c.v, w), 6))) DESC,
             c.id) = 1
)
SELECT u.i::INT AS step, u.sid AS selected_id, c.rel AS rel
FROM (
  SELECT unnest(range(1, len(ids) + 1)) AS i, unnest(ids) AS sid
  FROM (SELECT ids FROM sel ORDER BY step DESC LIMIT 1)
) u
JOIN cand c ON c.id = u.sid
ORDER BY step
"""


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise market-basket association rules (extensions/analytics.py
    association_rules) on the parts-bought-together baskets (same
    l_partkey % 4 == 0 sparsifier stripe as triangle_count): directed
    (antecedent -> consequent) pairs in >= 2 distinct orders with
    support / confidence / lift — the Apriori readout for co-purchase
    and token-co-occurrence mining. Ratios are exact-int divisions
    rounded to 6 dp; top-50 by (lift, antecedent, consequent) keeps the
    output bounded and the ordering float-tie-free (ties broken by the
    integer pair)."""
    from hdp_tez_spark.extensions.analytics import association_rules

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 4 == 0)
    )
    return (
        association_rules(li, "l_orderkey", "l_partkey", min_pair_count=2)
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(50)
    )


_SQL_ASSOC_RULES = """
WITH bk AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
  FROM lineitem WHERE l_partkey % 4 = 0
),
total AS (SELECT count(DISTINCT b)::DOUBLE AS n FROM bk),
item_cnt AS (SELECT i, count(*) AS cnt FROM bk GROUP BY i),
pairs AS (
  SELECT l.i AS a, r.i AS b, count(*) AS pair_n
  FROM bk l JOIN bk r ON l.b = r.b AND l.i < r.i
  GROUP BY l.i, r.i
  HAVING count(*) >= 2
),
directed AS (
  SELECT a AS antecedent, b AS consequent, pair_n FROM pairs
  UNION ALL
  SELECT b AS antecedent, a AS consequent, pair_n FROM pairs
)
SELECT d.antecedent, d.consequent, d.pair_n,
       round(d.pair_n / t.n, 6) AS support,
       round(d.pair_n / ca.cnt, 6) AS confidence,
       round(d.pair_n * t.n / (ca.cnt * cc.cnt), 6) AS lift
FROM directed d
JOIN item_cnt ca ON ca.i = d.antecedent
JOIN item_cnt cc ON cc.i = d.consequent
CROSS JOIN total t
ORDER BY lift DESC, antecedent, consequent
LIMIT 50
"""


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency (extensions/analytics.py
    peak_concurrency): per-user daily activity spans [min ts, max ts]
    from events, then for each day the maximum number of simultaneously
    active users and the earliest instant the peak is hit — the classic
    capacity-planning overlap maximum (meeting-rooms problem),
    complementing merge_intervals' union/coverage. Integer counts and
    timestamps only — no float in the output; at equal instants starts
    order before ends (inclusive endpoints), ties broken by user id, so
    the sweep order is total and the answer engine-exact. The running
    count rides the distributed prefix_sum scan, not a single-task
    global window. Both sides split intervals at day boundaries so
    carried concurrency registers in every covered bucket (ADVICE r08;
    identity here — the registry spans are per-day by construction)."""
    from hdp_tez_spark.extensions.analytics import peak_concurrency

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    spans = ev.groupBy(
        "user_id", F.to_date("ts").alias("__d")
    ).agg(F.min("ts").alias("span_start"), F.max("ts").alias("span_end"))
    return peak_concurrency(
        spans, "span_start", "span_end", "user_id"
    ).orderBy("bucket_start")


_SQL_PEAK_CONCURRENCY = """
WITH spans AS (
  SELECT user_id, min(ts) AS s, max(ts) AS e
  FROM events WHERE ts IS NOT NULL
  GROUP BY user_id, CAST(ts AS DATE)
),
seg AS (  -- split at bucket boundaries so carried concurrency is
          -- represented in every covered bucket (ADVICE r08); the
          -- registry spans are single-day, where this is the identity
  SELECT user_id, s, e, unnest(generate_series(CAST(s AS DATE),
                                               CAST(e AS DATE),
                                               INTERVAL 1 DAY))::DATE AS b
  FROM spans
),
pts AS (
  SELECT b, greatest(s, CAST(b AS TIMESTAMP)) AS ts,
         1 AS delta, 0 AS ord, user_id AS id
  FROM seg
  UNION ALL
  SELECT b,
         CASE WHEN CAST(e AS DATE) = b THEN e
              ELSE CAST(b + INTERVAL 1 DAY AS TIMESTAMP) END AS ts,
         -1 AS delta,
         CASE WHEN CAST(e AS DATE) = b THEN 1 ELSE 2 END AS ord,
         user_id AS id
  FROM seg
),
cum AS (
  SELECT b AS bucket_start, ts,
         sum(delta) OVER (ORDER BY b, ts, ord, id
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM pts
),
daily AS (
  SELECT bucket_start, max(running) AS peak FROM cum GROUP BY bucket_start
)
SELECT d.bucket_start, CAST(d.peak AS BIGINT) AS peak,
       min(c.ts) AS peak_ts
FROM cum c
JOIN daily d ON c.bucket_start = d.bucket_start AND c.running = d.peak
GROUP BY d.bucket_start, d.peak
ORDER BY d.bucket_start
"""


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing 7-point rolling median (extensions/analytics.py
    rolling_median) of each user's daily event count — the robust
    moving smoother (one spike barely moves a window median, unlike a
    mean), percentile_cont interpolation at even counts. Counts are
    cast to double on BOTH sides so the interpolated midpoints and the
    string forms agree; medians of small-int windows are exact binary
    halves, so round(6) is decoration, not noise control."""
    from hdp_tez_spark.extensions.analytics import rolling_median

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    series = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("double").alias("n"))
    return rolling_median(series, "user_id", ["d"], "n", k=7)


_SQL_ROLLING_MEDIAN = """
WITH s AS (
  SELECT user_id, CAST(ts AS DATE) AS d, count(*)::DOUBLE AS n
  FROM events WHERE ts IS NOT NULL
  GROUP BY user_id, CAST(ts AS DATE)
)
SELECT user_id, d, n,
       round(median(n) OVER (PARTITION BY user_id ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
         AS rolling_median
FROM s
"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (extensions/analytics.py
    seasonal_decompose) of the daily event-count series: trend =
    centered 7-point moving average (NULL at the edges), seasonal =
    re-centered mean detrended value per day-of-week, residual = the
    rest. The capacity/anomaly baseline readout. The series is one row
    per day (calendar-bounded), so the global ORDER BY window is
    bounded by construction; `pos` is 0=Sunday on both sides (Spark
    dayofweek()-1 == DuckDB dayofweek())."""
    from hdp_tez_spark.extensions.analytics import seasonal_decompose

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    series = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("double").alias("n")
    )
    return seasonal_decompose(series, "d", "n", period=7)


_SQL_SEASONAL_DECOMPOSE = """
WITH s AS (
  SELECT CAST(ts AS DATE) AS d, count(*)::DOUBLE AS n
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
base AS (
  SELECT d AS ts, dayofweek(d)::INT AS pos, n AS observed,
         CASE WHEN count(n) OVER w = 7 THEN avg(n) OVER w END AS trend
  FROM s
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
season AS (
  SELECT pos, avg(observed - trend) AS raw_s
  FROM base WHERE trend IS NOT NULL GROUP BY pos
),
centered AS (
  SELECT pos, raw_s - (SELECT avg(raw_s) FROM season) AS sv FROM season
)
SELECT b.ts, b.pos, round(b.observed, 6) AS observed,
       round(b.trend, 6) AS trend, round(c.sv, 6) AS seasonal,
       round(b.observed - b.trend - c.sv, 6) AS residual
FROM base b LEFT JOIN centered c USING (pos)
"""


def q_pareto_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (extensions/analytics.py
    pareto_contributors): per market segment, the smallest
    highest-spend customer prefix covering 80% of segment order value —
    the 80/20 readout behind curation and account-coverage decisions.
    Spend is an exact DECIMAL sum and the 80% cut is the exact
    integer-scaled comparison (cum - v) * 5 < total * 4, so membership
    never flips at a float rounding boundary; only the display ratios
    are doubles (rounded 6 dp)."""
    from hdp_tez_spark.extensions.analytics import pareto_contributors

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        # parquet stores o_totalprice as DOUBLE; sum in DECIMAL(12,2) on
        # both sides (the r07 money-sum rule) so the value, the DESC
        # ranking, and the 80% membership cut are summation-order-exact
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias(
                "spend"
            )
        )
    )
    return pareto_contributors(
        spend, "c_mktsegment", "c_custkey", "spend"
    ).withColumn(
        # rank/cut ride the exact DECIMAL; the displayed value goes out
        # as DOUBLE so both sides print the same canonical string
        "value",
        F.col("value").cast("double"),
    )


_SQL_PARETO_CONTRIBUTORS = """
WITH spend AS (
  SELECT c.c_mktsegment, c.c_custkey,
         sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS v
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, c.c_custkey
),
ranked AS (
  SELECT c_mktsegment, c_custkey, v,
         row_number() OVER w AS "rank",
         sum(v) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
         sum(v) OVER (PARTITION BY c_mktsegment) AS total
  FROM spend
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY v DESC, c_custkey)
)
SELECT c_mktsegment, c_custkey, CAST(v AS DOUBLE) AS value, "rank",
       round(CAST(v AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
       round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
FROM ranked
WHERE (cum - v) * 5 < total * 4
"""


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pixel path end-to-end (extensions/multimodal.py
    resize_images + extensions/pngcodec.py): synthesize deterministic
    4x4 RGB PNG payloads for the first 64 doc ids (id-seeded pixels,
    identical bytes on every executor/retry), resize to 8x8 through the
    Arrow mapInPandas pipeline, return (doc_id, width, height). The
    oracle checks the row/id/dimension contract (SQL cannot decode
    PNG); pixel-level correctness — exact nearest-neighbor values,
    filter reconstruction, codec round-trips — is pinned by
    tests/test_pngcodec.py and tests/test_multimodal.py."""
    from hdp_tez_spark.extensions.multimodal import (
        resize_images,
        synthesize_png_payloads,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(64)
    )
    payloads = synthesize_png_payloads(docs, "doc_id", size=(4, 4))
    return resize_images(payloads, target=(8, 8)).select(
        "doc_id", "width", "height"
    )


_SQL_IMAGE_RESIZE = """
SELECT doc_id, 8 AS width, 8 AS height
FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 64)
"""


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day sample-ratio-mismatch gate (extensions/experiments.py
    srm_check) on a 50/50 user-parity split of the event stream: the
    chi-square goodness-of-fit of observed arm counts against the
    configured allocation — the first check every experiment platform
    runs before reading any metric. ONE conditional-count aggregation;
    the shuffle carries |days| rows. The oracle mirrors the closed-form
    chi2 arithmetic term-for-term in the engine's arm order."""
    from hdp_tez_spark.extensions.experiments import srm_check

    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("arm"),
    )
    return srm_check(ev, ["day"], "arm", {"control": 1.0, "treatment": 1.0})


_SQL_SRM_CHECK = """
WITH s AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         count(CASE WHEN arm = 'control' THEN 1 END) AS n_control,
         count(CASE WHEN arm = 'treatment' THEN 1 END) AS n_treatment
  FROM (SELECT ts,
               CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm
        FROM events)
  GROUP BY 1
)
SELECT day, n_control + n_treatment AS n, n_control, n_treatment,
       round(CASE WHEN n_control + n_treatment > 0 THEN
           power(n_control - CAST(n_control + n_treatment AS DOUBLE) * 0.5, 2)
             / (CAST(n_control + n_treatment AS DOUBLE) * 0.5)
         + power(n_treatment - CAST(n_control + n_treatment AS DOUBLE) * 0.5, 2)
             / (CAST(n_control + n_treatment AS DOUBLE) * 0.5)
       END, 6) AS chi2_stat,
       1 AS dof
FROM s ORDER BY day
"""


def q_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for the per-arm value-per-event RATIO metric
    (extensions/experiments.py ratio_metric_delta): one row per USER
    (the randomization unit) carrying that user's event count x and
    value total y; the arm metric is Sy/Sx whose variance needs the
    delta method because numerator and denominator are both random.
    Every number stays EXACT until the closed form: the per-user value
    total sums in DECIMAL(18,6) (the r07 money-sum rule), the unit
    columns enter as DECIMAL/BIGINT, and ratio_metric_delta sums its
    six sufficient statistics in the input types before its one
    decimal->double cast — so the statistics are bit-identical across
    engines and layouts by construction, and the oracle mirrors only
    the closed-form double arithmetic expression-for-expression."""
    from hdp_tez_spark.extensions.experiments import ratio_metric_delta

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy(
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("arm"),
        F.col("user_id"),
    ).agg(
        F.count(F.lit(1)).alias("x"),
        # re-cast after the sum so y*y keeps full precision inside
        # decimal(38,12) on both engines (sum widens to (28,6) which
        # would force Spark's product back to scale 6)
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("y"),
    )
    return ratio_metric_delta(units, ["arm"], "y", "x")


def _ratio_metric_delta_oracle_sql() -> str:
    # mirror ratio_metric_delta's expression tree operation-for-
    # operation so the float arithmetic is identical
    n = "CAST(n AS DOUBLE)"
    mx = f"(sx / {n})"
    ratio = "(sy / sx)"
    vx = f"((sxx - {n} * {mx} * {mx}) / ({n} - 1))"
    vy = f"((syy - sy * sy / {n}) / ({n} - 1))"
    cxy = f"((sxy - sx * sy / {n}) / ({n} - 1))"
    var_r = (
        f"(({vy} + {ratio} * {ratio} * {vx} - 2.0 * {ratio} * {cxy})"
        f" / ({n} * {mx} * {mx}))"
    )
    ok = f"(n >= 2 AND sx <> 0 AND {var_r} >= 0)"
    se = f"CASE WHEN {ok} THEN sqrt({var_r}) END"
    # ci bounds add the UNROUNDED ratio/se before their round(6), so
    # the rounded ratio column must not feed them
    r_raw = f"CASE WHEN sx <> 0 THEN {ratio} END"
    z = "1.959963984540054"
    return f"""
WITH u AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm,
         user_id,
         count(*) AS x,
         -- DECIMAL(19,6), not (18,6): same values, but the width-19
         -- declaration moves DuckDB's y*y onto the int128 path (a
         -- (18,6) square overflows its int64 representation); Spark
         -- keeps (18,6), where (37,12) products are exact
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(19,6)) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  -- sums stay in the exact input types (BIGINT / DECIMAL products);
  -- ONE cast to double afterward, mirroring ratio_metric_delta
  SELECT arm,
         count(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) AS n,
         CAST(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                       THEN x END) AS DOUBLE) AS sx,
         CAST(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                       THEN y END) AS DOUBLE) AS sy,
         CAST(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                       THEN x * x END) AS DOUBLE) AS sxx,
         CAST(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                       THEN y * y END) AS DOUBLE) AS syy,
         CAST(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                       THEN x * y END) AS DOUBLE) AS sxy
  FROM u GROUP BY arm
)
SELECT arm, n,
       round({r_raw}, 6) AS ratio,
       round({se}, 6) AS se,
       round(({r_raw}) - {z} * ({se}), 6) AS ci_lo,
       round(({r_raw}) + {z} * ({se}), 6) AS ci_hi
FROM s ORDER BY arm
"""


_SQL_RATIO_METRIC_DELTA = _ratio_metric_delta_oracle_sql()


def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (extensions/experiments.py
    fdr_bh) over the per-day Welch t-tests, family = calendar month:
    the multiple-comparisons step a metrics platform runs once a
    readout carries tens of tests. p-values come from the ROUNDED
    t_stat through the in-plan Zelen-Severo normal tail (experiments.py
    normal_sf) and are themselves rounded to 6 dp before ranking, so
    the BH rank order — float p ascending, ties by day — is
    engine-reproducible by construction. Windows partition by month
    (never global); m_tests rides a broadcast |families|-row join."""
    from hdp_tez_spark.extensions.experiments import ab_ttest, fdr_bh, normal_sf

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    tt = ab_ttest(ev, ["day"], "event_type", "value", "click", "purchase")
    tests = tt.where(F.col("t_stat").isNotNull()).select(
        F.substring("day", 1, 7).alias("month"),
        "day",
        F.round(2.0 * normal_sf(F.abs(F.col("t_stat"))), 6).alias("p"),
    )
    return fdr_bh(tests, ["month"], "day", "p", alpha=0.1)


def _fdr_bh_oracle_sql() -> str:
    import math as _math

    # Welch t (identical to _ab_ttest_oracle_sql's expression tree —
    # the engine consumes ab_ttest's ROUNDED t_stat, so the oracle
    # rounds at the same point before the normal tail)
    ma, mb = "(s_a / n_a)", "(s_b / n_b)"
    va = f"((ss_a - n_a * {ma} * {ma}) / (n_a - 1))"
    vb = f"((ss_b - n_b * {mb} * {mb}) / (n_b - 1))"
    sea, seb = f"({va} / n_a)", f"({vb} / n_b)"
    se2 = f"({sea} + {seb})"
    ok = f"(n_a >= 2 AND n_b >= 2 AND {se2} > 0)"
    t = f"CASE WHEN {ok} THEN round(({ma} - {mb}) / sqrt({se2}), 6) END"
    # Zelen-Severo polynomial tail, mirroring normal_sf term order
    sqrt_2pi = repr(_math.sqrt(2.0 * _math.pi))
    poly = (
        "(0.319381530 * u - 0.356563782 * power(u, 2)"
        " + 1.781477937 * power(u, 3) - 1.821255978 * power(u, 4)"
        " + 1.330274429 * power(u, 5))"
    )
    return f"""
WITH s AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS n_a,
         sum(CASE WHEN event_type = 'click' THEN value END) AS s_a,
         sum(CASE WHEN event_type = 'click' THEN value * value END) AS ss_a,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_b,
         sum(CASE WHEN event_type = 'purchase' THEN value END) AS s_b,
         sum(CASE WHEN event_type = 'purchase' THEN value * value END) AS ss_b
  FROM events GROUP BY 1
),
tstat AS (SELECT day, {t} AS t FROM s),
pv AS (
  SELECT substr(day, 1, 7) AS month, day,
         round(2.0 * ((exp(-abs(t) * abs(t) / 2.0) / {sqrt_2pi})
                      * {poly}), 6) AS p
  FROM (SELECT day, t, 1.0 / (1.0 + 0.2316419 * abs(t)) AS u
        FROM tstat WHERE t IS NOT NULL)
),
ranked AS (
  SELECT month, day AS test, p,
         row_number() OVER (PARTITION BY month ORDER BY p, day) AS p_rank,
         count(*) OVER (PARTITION BY month) AS m_tests
  FROM pv
),
adj AS (
  SELECT month, test, p, p_rank, m_tests,
         least(min(p * m_tests / p_rank) OVER (
                 PARTITION BY month ORDER BY p_rank DESC
                 ROWS UNBOUNDED PRECEDING), 1.0) AS a
  FROM ranked
)
SELECT month, test, round(p, 6) AS p_value, p_rank::INT AS p_rank, m_tests,
       round(a, 6) AS adj_p, a <= 0.1 AS reject
FROM adj ORDER BY month, p_rank
"""


_SQL_FDR_BH = _fdr_bh_oracle_sql()


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Adamic-Adar link prediction (extensions/
    graph.py link_prediction) on the triangle_count co-purchase stripe
    graph: the top-50 NON-adjacent part pairs ranked by shared-neighbor
    count — "parts that should be bought together but never were", the
    recommendation readout over the same wedge machinery the triangle
    census uses. max_degree=40 exercises the super-hub sparsifier (the
    wedge join is Sum deg(z)^2; a hub midpoint carries the least signal
    and the most cost). Ranking and the LIMIT boundary ride the INTEGER
    count with id tie-breaks, so selection never races a float;
    adamic_adar is reported, rounded 6 dp."""
    from hdp_tez_spark.extensions.graph import cooccurrence_edges, link_prediction

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 4 == 0)
    )
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return link_prediction(
        edges, "a", "b", min_common=2, top_n=50, max_degree=40
    )


_SQL_LINK_PREDICTION = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_partkey % 4 = 0),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
nb AS (SELECT u AS z, v AS x FROM e
       UNION ALL SELECT v AS z, u AS x FROM e),
deg AS (SELECT z, count(*) AS d FROM nb GROUP BY z
        HAVING count(*) <= 40),
mid AS (SELECT nb.z, nb.x, deg.d FROM nb JOIN deg USING (z)),
cand AS (
  SELECT m1.x AS a, m2.x AS b, count(*) AS common_neighbors,
         sum(1.0 / ln(CAST(m1.d AS DOUBLE))) AS aa
  FROM mid m1 JOIN mid m2 ON m1.z = m2.z AND m1.x < m2.x
  GROUP BY m1.x, m2.x
  HAVING count(*) >= 2
)
SELECT c.a, c.b, c.common_neighbors, round(c.aa, 6) AS adamic_adar
FROM cand c
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.a AND e.v = c.b)
ORDER BY c.common_neighbors DESC, c.a, c.b
LIMIT 50
"""


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 ranking-quality evaluation (extensions/ranking.py
    ndcg_eval) of the exact cosine retriever: queries = vec_id < 3,
    candidates ranked by cosine_topk_bruteforce's own deterministic
    rn (rounded-6 cosine, id tie-break — the registry's ANN
    determinism contract), graded judgments from embedding labels
    (same label rel=2, same label mod 3 rel=1, else unjudged). Both
    positions and relevances are integers, so every DCG term is a
    deterministic rational; the judged-but-unranked rows shape IDCG
    only, exactly the Jarvelin-Kekalainen contract."""
    from hdp_tez_spark.extensions.ranking import ndcg_eval
    from hdp_tez_spark.extensions.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    ranked = cosine_topk_bruteforce(q, emb, k=20)
    labels = (
        emb.select("vec_id", "label")
        .crossJoin(
            F.broadcast(
                q.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("qlabel"),
                )
            )
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.when(F.col("label") == F.col("qlabel"), 2)
            .when(F.col("label") % 3 == F.col("qlabel") % 3, 1)
            .otherwise(0)
            .alias("rel"),
        )
        .where(F.col("rel") > 0)
    )
    return ndcg_eval(
        ranked,
        labels,
        query_col="query_id",
        id_col="neighbor_id",
        rel_col="rel",
        score_col="cosine",
        rank_col="rn",
        k=10,
    )


_SQL_NDCG_EVAL = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS ql
           FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv, label AS cl
      FROM embeddings),
ranked AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS pos
  FROM (SELECT q.qid, c.cid,
               round(list_cosine_similarity(q.qv, c.cv), 6) AS cos
        FROM q JOIN c ON c.cid <> q.qid)
),
labels AS (
  SELECT qid, cid, rel FROM (
    SELECT q.qid, c.cid,
           CASE WHEN c.cl = q.ql THEN 2
                WHEN c.cl % 3 = q.ql % 3 THEN 1 ELSE 0 END AS rel
    FROM q JOIN c ON c.cid <> q.qid)
  WHERE rel > 0
),
dcg AS (
  SELECT r.qid,
         sum(CAST(coalesce(l.rel, 0) AS DOUBLE) / log2(r.pos + 1)) AS dcg
  FROM ranked r LEFT JOIN labels l ON l.qid = r.qid AND l.cid = r.cid
  WHERE r.pos <= 10 GROUP BY r.qid
),
idcg AS (
  SELECT qid, sum(CAST(rel AS DOUBLE) / log2(ipos + 1)) AS idcg
  FROM (SELECT qid, rel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, cid) AS ipos
        FROM labels)
  WHERE ipos <= 10 GROUP BY qid
)
SELECT d.qid AS query_id, round(d.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
       round(d.dcg / i.idcg, 6) AS ndcg
FROM dcg d LEFT JOIN idcg i USING (qid)
ORDER BY query_id
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency power-law fit (extensions/ranking.py
    zipf_fit) over the documents vocabulary, hapaxes dropped
    (min_count=2): OLS of ln(count) on ln(rank), the one-row corpus
    health audit (natural text slopes near -1; template floods bend
    the curve). The corpus collapses once to the vocab-sized count
    table; the global rank rides the distributed range-partition +
    broadcast-offset machinery (operators/sort.global_sort_ranked),
    never a single-task window; (cnt DESC, term ASC) is a total order
    so ranks are engine-exact."""
    from hdp_tez_spark.extensions.ranking import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), "text", min_count=2)


def _zipf_fit_oracle_sql() -> str:
    # mirror zipf_fit's OLS expression tree operation-for-operation
    n = "CAST(n AS DOUBLE)"
    cov_n = f"({n} * sxy - sx * sy)"
    varx_n = f"({n} * sxx - sx * sx)"
    vary_n = f"({n} * syy - sy * sy)"
    ok = f"(n >= 2 AND {varx_n} > 0)"
    slope = f"CASE WHEN {ok} THEN {cov_n} / {varx_n} END"
    return f"""
WITH {_SQL_TOK_CTE},
cnt AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term
        HAVING count(*) >= 2),
ranked AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt DESC, term) AS rank
  FROM cnt
),
s AS (
  SELECT count(*) AS n, sum(cnt)::BIGINT AS n_tokens,
         sum(ln(CAST(rank AS DOUBLE))) AS sx,
         sum(ln(CAST(cnt AS DOUBLE))) AS sy,
         sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx,
         sum(ln(CAST(cnt AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))) AS syy,
         sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))) AS sxy
  FROM ranked
)
SELECT n AS n_types, n_tokens,
       round({slope}, 6) AS slope,
       round((sy - ({slope}) * sx) / {n}, 6) AS intercept,
       round(CASE WHEN {ok} AND {vary_n} > 0
             THEN {cov_n} * {cov_n} / ({varx_n} * {vary_n}) END, 6) AS r2
FROM s
"""


_SQL_ZIPF_FIT = _zipf_fit_oracle_sql()


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (extensions/analytics.py
    kaplan_meier): per user, days from first activity to first
    purchase, administratively censored at day 5 (a purchase after day
    5 counts as "still unconverted when observation stopped" — the
    shape that makes naive drop-the-censored averages biased and KM
    the right answer); cohorts = user parity. The survival product
    rides exp(sum(ln(1 - d/n))) over the deterministic unique-t frame
    order, so the curve is engine-exact; risk sets and event counts
    are integers."""
    from hdp_tez_spark.extensions.analytics import kaplan_meier

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("f"),
        F.max(F.to_date("ts")).alias("l"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("p"),
    )
    tp = F.datediff(F.col("p"), F.col("f"))
    tl = F.datediff(F.col("l"), F.col("f"))
    converted = F.col("p").isNotNull() & (tp <= 5)
    subjects = per_user.select(
        (F.col("user_id") % 2).alias("cohort"),
        F.when(converted, tp).otherwise(F.least(tl, F.lit(5))).alias("t"),
        converted.cast("int").alias("ev"),
    )
    return kaplan_meier(subjects, ["cohort"], "t", "ev")


_SQL_KAPLAN_MEIER = """
WITH per_user AS (
  SELECT user_id,
         min(CAST(ts AS DATE)) AS f,
         max(CAST(ts AS DATE)) AS l,
         min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS p
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
),
subjects AS (
  SELECT user_id % 2 AS cohort,
         CASE WHEN p IS NOT NULL AND datediff('day', f, p) <= 5
              THEN datediff('day', f, p)
              ELSE least(datediff('day', f, l), 5) END AS t,
         CASE WHEN p IS NOT NULL AND datediff('day', f, p) <= 5
              THEN 1 ELSE 0 END AS ev
  FROM per_user
),
cells AS (
  SELECT cohort, t, sum(ev)::BIGINT AS n_event,
         sum(1 - ev)::BIGINT AS n_censored
  FROM subjects GROUP BY cohort, t
),
curve AS (
  SELECT cohort, t, n_event, n_censored,
         CAST(sum(n_event + n_censored) OVER (PARTITION BY cohort)
           - coalesce(sum(n_event + n_censored) OVER (
               PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM cells
),
surv AS (
  SELECT cohort, t, n_risk, n_event, n_censored,
         1.0 - CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
  FROM curve
),
acc AS (
  SELECT cohort, t, n_risk, n_event, n_censored,
         max(CASE WHEN factor = 0.0 THEN 1 ELSE 0 END) OVER w AS dead,
         exp(sum(CASE WHEN factor > 0 THEN ln(factor) END) OVER w) AS s
  FROM surv
  WINDOW w AS (PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT cohort, t, n_risk, n_event, n_censored,
       round(CASE WHEN dead = 1 THEN 0.0 ELSE s END, 6) AS survival
FROM acc WHERE n_event > 0
ORDER BY cohort, t
"""


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout (extensions/experiments.py
    diff_in_diff) per event type: treatment = even user ids, post =
    second half of the month — the causal estimate when the control's
    pre->post drift must be netted out. One conditional 12-sum
    aggregation (4 cells x n/sum/sumsq); the oracle mirrors the pooled
    SE arithmetic cell-for-cell in the same order."""
    from hdp_tez_spark.extensions.experiments import diff_in_diff

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("treat"),
        (F.dayofmonth("ts") >= 16).alias("post"),
        "value",
    )
    return diff_in_diff(ev, ["event_type"], "treat", "post", "value")


def _diff_in_diff_oracle_sql() -> str:
    # mirror diff_in_diff's expression tree operation-for-operation
    def mean(k: str) -> str:
        return f"(s_{k} / n_{k})"

    def von(k: str) -> str:
        n = f"CAST(n_{k} AS DOUBLE)"
        m = mean(k)
        return f"(((ss_{k} - {n} * {m} * {m}) / ({n} - 1)) / {n})"

    did = f"(({mean('tp')} - {mean('tq')}) - ({mean('cp')} - {mean('cq')}))"
    nonempty = "(n_tp >= 1 AND n_tq >= 1 AND n_cp >= 1 AND n_cq >= 1)"
    ok = "(n_tp >= 2 AND n_tq >= 2 AND n_cp >= 2 AND n_cq >= 2)"
    did_ok = f"CASE WHEN {nonempty} THEN {did} END"
    se = (
        f"CASE WHEN {ok} THEN sqrt({von('tp')} + {von('tq')}"
        f" + {von('cp')} + {von('cq')}) END"
    )
    z = "1.959963984540054"
    cells = {
        "tp": "user_id % 2 = 0 AND datepart('day', ts) >= 16",
        "tq": "user_id % 2 = 0 AND NOT datepart('day', ts) >= 16",
        "cp": "NOT user_id % 2 = 0 AND datepart('day', ts) >= 16",
        "cq": "NOT user_id % 2 = 0 AND NOT datepart('day', ts) >= 16",
    }
    sums = ",\n         ".join(
        f"count(CASE WHEN value IS NOT NULL AND user_id % 2 IS NOT NULL"
        f" AND ts IS NOT NULL AND {c} THEN 1 END) AS n_{k},\n         "
        f"sum(CASE WHEN value IS NOT NULL AND user_id % 2 IS NOT NULL"
        f" AND ts IS NOT NULL AND {c} THEN value END) AS s_{k},\n         "
        f"sum(CASE WHEN value IS NOT NULL AND user_id % 2 IS NOT NULL"
        f" AND ts IS NOT NULL AND {c} THEN value * value END) AS ss_{k}"
        for k, c in cells.items()
    )
    return f"""
WITH s AS (
  SELECT event_type,
         {sums}
  FROM events GROUP BY event_type
)
SELECT event_type, n_tp, n_tq, n_cp, n_cq,
       round({did_ok}, 6) + CAST(0 AS DOUBLE) AS did,
       round({se}, 6) AS se,
       round(({did_ok}) - {z} * ({se}), 6) + CAST(0 AS DOUBLE) AS ci_lo,
       round(({did_ok}) + {z} * ({se}), 6) + CAST(0 AS DOUBLE) AS ci_hi
FROM s ORDER BY event_type
"""


_SQL_DIFF_IN_DIFF = _diff_in_diff_oracle_sql()


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round synchronous label-propagation communities (extensions/
    graph.py label_propagation) on the triangle_count co-purchase
    stripe graph — the density-based community readout next to
    connected_components' pure reachability (CC merges everything
    touching; LPA splits a connected graph along dense cores). Fully
    deterministic variant: most-frequent neighbor label, ties to the
    smallest label, fixed round count — so the oracle is the 3x
    unrolled SQL with identical integer tie-breaks."""
    from hdp_tez_spark.extensions.graph import cooccurrence_edges, label_propagation

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 4 == 0)
    )
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return label_propagation(edges, "a", "b", iters=3)


def _label_propagation_oracle_sql() -> str:
    def lp_round(prev: str, cur: str) -> str:
        return f"""{cur} AS (
  SELECT n AS node, label FROM (
    SELECT nb.z AS n, p.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY nb.z
                              ORDER BY count(*) DESC, p.label) AS rn
    FROM nb JOIN {prev} p ON nb.x = p.node
    GROUP BY nb.z, p.label)
  WHERE rn = 1
)"""

    rounds = ",\n".join(
        lp_round(prev, cur) for prev, cur in [("l0", "l1"), ("l1", "l2"), ("l2", "l3")]
    )
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_partkey % 4 = 0),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
nb AS (SELECT u AS z, v AS x FROM e UNION ALL SELECT v AS z, u AS x FROM e),
l0 AS (SELECT DISTINCT z AS node, z AS label FROM nb),
{rounds}
SELECT node, label FROM l3 ORDER BY node
"""


_SQL_LABEL_PROPAGATION = _label_propagation_oracle_sql()


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (extensions/ranking.py rake_keywords)
    over the documents corpus: maximal non-stopword token runs scored
    by summed word degree/frequency — the corpus-level keyword audit
    next to tfidf_top_terms' per-doc view and collocations' bigram
    PMI. Integer deg/freq make per-word scores exact rationals;
    selection orders by the ROUNDED score with a phrase tie-break.
    Spark islands use 0-based posexplode and the oracle 1-based
    unnest ordinals — the gaps-islands anchor is translation-
    invariant, so the phrases agree."""
    from hdp_tez_spark.extensions.ranking import rake_keywords

    docs = _t(spark, sf_dir, "documents")
    return rake_keywords(docs, "doc_id", "text", top_n=20, max_phrase_len=4)


_SQL_RAKE_KEYWORDS = """
WITH tok0 AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc, unnest(t) AS term, unnest(range(1, len(t) + 1)) AS pos
  FROM tok0
),
ns AS (
  SELECT doc, term, pos,
         pos - row_number() OVER (PARTITION BY doc ORDER BY pos) AS isl
  FROM pos
  WHERE term NOT IN ('a','an','and','as','at','be','by','for','in','is',
                     'it','of','on','or','the','to','with')
),
ph AS (
  SELECT doc, isl, string_agg(term, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen
  FROM ns GROUP BY doc, isl HAVING count(*) <= 4
),
occ AS (
  SELECT ns.doc, ns.isl, ns.term, ph.phrase, ph.plen
  FROM ns JOIN ph USING (doc, isl)
),
ws AS (
  SELECT term, count(*) AS freq, sum(plen)::BIGINT AS deg
  FROM occ GROUP BY term
),
sc AS (
  SELECT occ.doc, occ.isl, occ.phrase,
         sum(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)) AS score
  FROM occ JOIN ws USING (term)
  GROUP BY occ.doc, occ.isl, occ.phrase
)
SELECT phrase, count(*) AS n, round(max(score), 6) AS score
FROM sc GROUP BY phrase
ORDER BY score DESC, phrase
LIMIT 20
"""


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve (extensions/analytics.py
    nelson_aalen) over the same subjects as q_kaplan_meier — per user,
    days from first activity to first purchase, administratively
    censored at day 5, cohorts = user parity. Where the KM query reads
    "what fraction is still unconverted at t", this reads "how much
    conversion hazard has accumulated by t" plus its Aalen variance —
    both running sums of integer ratios over the same per-(cohort, t)
    count table, so the curve is oracle-exact at 6 dp."""
    from hdp_tez_spark.extensions.analytics import nelson_aalen

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("f"),
        F.max(F.to_date("ts")).alias("l"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("p"),
    )
    tp = F.datediff(F.col("p"), F.col("f"))
    tl = F.datediff(F.col("l"), F.col("f"))
    converted = F.col("p").isNotNull() & (tp <= 5)
    subjects = per_user.select(
        (F.col("user_id") % 2).alias("cohort"),
        F.when(converted, tp).otherwise(F.least(tl, F.lit(5))).alias("t"),
        converted.cast("int").alias("ev"),
    )
    return nelson_aalen(subjects, ["cohort"], "t", "ev")


_SQL_NELSON_AALEN = """
WITH per_user AS (
  SELECT user_id,
         min(CAST(ts AS DATE)) AS f,
         max(CAST(ts AS DATE)) AS l,
         min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS p
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
),
subjects AS (
  SELECT user_id % 2 AS cohort,
         CASE WHEN p IS NOT NULL AND datediff('day', f, p) <= 5
              THEN datediff('day', f, p)
              ELSE least(datediff('day', f, l), 5) END AS t,
         CASE WHEN p IS NOT NULL AND datediff('day', f, p) <= 5
              THEN 1 ELSE 0 END AS ev
  FROM per_user
),
cells AS (
  SELECT cohort, t, sum(ev)::BIGINT AS n_event,
         sum(1 - ev)::BIGINT AS n_censored
  FROM subjects GROUP BY cohort, t
),
curve AS (
  SELECT cohort, t, n_event, n_censored,
         CAST(sum(n_event + n_censored) OVER (PARTITION BY cohort)
           - coalesce(sum(n_event + n_censored) OVER (
               PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM cells
),
acc AS (
  SELECT cohort, t, n_risk, n_event, n_censored,
         sum(CAST(n_event AS DOUBLE) / n_risk) OVER w AS h,
         sum(CAST(n_event AS DOUBLE)
             / (CAST(n_risk AS DOUBLE) * n_risk)) OVER w AS v
  FROM curve
  WINDOW w AS (PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT cohort, t, n_risk, n_event, n_censored,
       round(h, 6) AS cum_hazard, round(v, 6) AS var_hazard
FROM acc WHERE n_event > 0
ORDER BY cohort, t
"""


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend (extensions/analytics.py theil_sen_trend)
    of the daily event-value totals per event type: x = epoch day, y =
    sum(value) per day. The robust twin of the grouped_ols fit — a
    few outlier days bend the OLS slope but not the pairwise-slope
    median. The raw stream collapses once to the calendar-bounded
    per-(type, day) table; the pairwise join runs on that bounded
    table, never on events."""
    from hdp_tez_spark.extensions.analytics import theil_sen_trend

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(F.sum("value").alias("total"))
    return theil_sen_trend(daily, ["event_type"], "day", "total")


_SQL_THEIL_SEN = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         sum(value) AS total
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
),
cells AS (
  SELECT event_type, CAST(day AS DOUBLE) AS x, avg(CAST(total AS DOUBLE)) AS y
  FROM daily GROUP BY event_type, CAST(day AS DOUBLE)
),
pairs AS (
  SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS pair_slope
  FROM cells a JOIN cells b
    ON a.event_type = b.event_type AND a.x < b.x
),
slopes AS (
  SELECT event_type, count(*) AS n_pairs,
         median(pair_slope) AS slope
  FROM pairs GROUP BY event_type
),
fit AS (
  SELECT c.event_type, count(*) AS n_points,
         any_value(s.n_pairs) AS n_pairs,
         any_value(s.slope) AS slope,
         median(c.y - s.slope * c.x) AS intercept
  FROM cells c JOIN slopes s USING (event_type)
  GROUP BY c.event_type
)
SELECT event_type, n_points, n_pairs,
       round(slope, 6) AS slope, round(intercept, 6) AS intercept
FROM fit ORDER BY event_type
"""


def q_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary P@k / R@k / AP@k / RR@k retrieval evaluation
    (extensions/ranking.py ranking_eval) of the exact cosine
    retriever — the set-based companion readout to q_ndcg_eval over
    the SAME run and judgment set (queries = vec_id < 3, candidates
    ranked by cosine_topk_bruteforce's deterministic rn, positives =
    label-family judgments). Every metric is a ratio of small
    integers at k=10, so the readout is engine-exact."""
    from hdp_tez_spark.extensions.ranking import ranking_eval
    from hdp_tez_spark.extensions.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    ranked = cosine_topk_bruteforce(q, emb, k=20)
    labels = (
        emb.select("vec_id", "label")
        .crossJoin(
            F.broadcast(
                q.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("qlabel"),
                )
            )
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.when(F.col("label") == F.col("qlabel"), 2)
            .when(F.col("label") % 3 == F.col("qlabel") % 3, 1)
            .otherwise(0)
            .alias("rel"),
        )
        .where(F.col("rel") > 0)
    )
    return ranking_eval(
        ranked,
        labels,
        query_col="query_id",
        id_col="neighbor_id",
        rel_col="rel",
        score_col="cosine",
        rank_col="rn",
        k=10,
    )


_SQL_RANKING_EVAL = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS ql
           FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv, label AS cl
      FROM embeddings),
ranked AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS pos
  FROM (SELECT q.qid, c.cid,
               round(list_cosine_similarity(q.qv, c.cv), 6) AS cos
        FROM q JOIN c ON c.cid <> q.qid)
),
labels AS (
  SELECT qid, cid, rel FROM (
    SELECT q.qid, c.cid,
           CASE WHEN c.cl = q.ql THEN 2
                WHEN c.cl % 3 = q.ql % 3 THEN 1 ELSE 0 END AS rel
    FROM q JOIN c ON c.cid <> q.qid)
  WHERE rel > 0
),
topk AS (
  SELECT r.qid, r.pos,
         CASE WHEN l.rel IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM ranked r LEFT JOIN labels l ON l.qid = r.qid AND l.cid = r.cid
  WHERE r.pos <= 10
),
run AS (
  SELECT qid, pos, rel,
         sum(rel) OVER (PARTITION BY qid ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM topk
),
perq AS (
  SELECT qid, sum(rel)::BIGINT AS hits,
         sum(CASE WHEN rel = 1 THEN CAST(cum AS DOUBLE) / pos
                  ELSE CAST(0.0 AS DOUBLE) END) AS apnum,
         min(CASE WHEN rel = 1 THEN pos END) AS first
  FROM run GROUP BY qid
),
nrel AS (SELECT qid, count(*) AS n_rel FROM labels GROUP BY qid)
SELECT p.qid AS query_id,
       coalesce(n.n_rel, 0) AS n_rel,
       p.hits AS hits_at_k,
       round(p.hits / CAST(10.0 AS DOUBLE), 6) AS p_at_k,
       round(CAST(p.hits AS DOUBLE) / n.n_rel, 6) AS r_at_k,
       round(p.apnum / CAST(least(n.n_rel, 10) AS DOUBLE), 6) AS ap_at_k,
       round(coalesce(CAST(1.0 AS DOUBLE) / p.first,
                      CAST(0.0 AS DOUBLE)), 6) AS rr_at_k
FROM perq p LEFT JOIN nrel n USING (qid)
ORDER BY query_id
"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs (extensions/dedup.py
    containment_pairs) over documents at k=3, threshold 0.4 — the
    quote/subset-duplication detector Jaccard misses (a short document
    pasted inside a long one has tiny Jaccard but containment ~1).
    Directed output: (src_id, dst_id, n_inter, src_size, containment);
    candidates meet through the shingle-hash equi-join, never
    all-pairs."""
    from hdp_tez_spark.extensions import dedup as D

    return D.containment_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=3, threshold=0.4
    )


_SQL_CONTAINMENT = """
WITH toks AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
sh0 AS (
  SELECT doc,
         CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
              ELSE [array_to_string(t, ' ')] END AS shl
  FROM toks
),
sh AS (SELECT DISTINCT doc, unnest(list_distinct(shl)) AS shingle FROM sh0),
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
pairs AS (
  SELECT a.doc AS src_id, b.doc AS dst_id, count(*) AS n_inter,
         any_value(sa.n) AS src_size
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.doc <> b.doc
  JOIN sizes sa ON a.doc = sa.doc
  GROUP BY a.doc, b.doc
)
SELECT src_id, dst_id, n_inter, src_size,
       round(CAST(n_inter AS DOUBLE) / src_size, 6) AS containment
FROM pairs
WHERE round(CAST(n_inter AS DOUBLE) / src_size, 6) >= 0.4
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier screen (extensions/similarity.py
    embedding_outliers): top-20 vectors by RMS per-dimension z-score
    against the corpus per-dimension mean/population-stddev — the
    mis-embedded-row audit run before semantic dedup or ANN indexing.
    One posexplode collapse to the d-row stats table, broadcast back,
    one partial-agg score collapse; TakeOrdered(20) on the rounded
    score with id tie-break keeps the cut deterministic."""
    from hdp_tez_spark.extensions.similarity import embedding_outliers

    return embedding_outliers(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", top_n=20
    )


_SQL_EMBEDDING_OUTLIERS = """
WITH cells AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         unnest(embedding)::DOUBLE AS val
  FROM embeddings
),
stats AS (
  SELECT pos, avg(val) AS mu, stddev_pop(val) AS sigma
  FROM cells GROUP BY pos
),
z AS (
  SELECT c.vec_id,
         CASE WHEN s.sigma > 0 THEN (c.val - s.mu) / s.sigma
              ELSE CAST(0.0 AS DOUBLE) END AS zval
  FROM cells c JOIN stats s USING (pos)
)
SELECT vec_id, round(sqrt(avg(zval * zval)), 6) AS score
FROM z GROUP BY vec_id
ORDER BY score DESC, vec_id
LIMIT 20
"""


def q_charclass_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition audit (extensions/textstats.py
    charclass_mix) per document: letter / digit / whitespace / symbol /
    non-ASCII fractions — the C4/Gopher-style quality strata a
    curation pipeline thresholds on. Five regexp-strip length
    expressions per row, pure whole-stage-codegen column arithmetic,
    zero shuffle."""
    from hdp_tez_spark.extensions.textstats import charclass_mix

    return charclass_mix(_t(spark, sf_dir, "documents"), "doc_id", "text")


_SQL_CHARCLASS_MIX = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS txt,
         length(coalesce(text, '')) AS n
  FROM documents
),
cnt AS (
  SELECT doc_id, n,
         n - length(regexp_replace(txt, '[A-Za-z]', '', 'g')) AS letters,
         n - length(regexp_replace(txt, '[0-9]', '', 'g')) AS digits,
         n - length(regexp_replace(txt, '[ \\t\\n\\r]', '', 'g')) AS spaces,
         n - length(regexp_replace(txt, '[^\\x00-\\x7F]', '', 'g')) AS non_ascii
  FROM base
)
SELECT doc_id, n AS n_chars,
       round(CASE WHEN n > 0 THEN CAST(letters AS DOUBLE) / n
                  ELSE CAST(0.0 AS DOUBLE) END, 6) AS letter_ratio,
       round(CASE WHEN n > 0 THEN CAST(digits AS DOUBLE) / n
                  ELSE CAST(0.0 AS DOUBLE) END, 6) AS digit_ratio,
       round(CASE WHEN n > 0 THEN CAST(spaces AS DOUBLE) / n
                  ELSE CAST(0.0 AS DOUBLE) END, 6) AS space_ratio,
       round(CASE WHEN n > 0
                  THEN CAST(n - letters - digits - spaces - non_ascii
                            AS DOUBLE) / n
                  ELSE CAST(0.0 AS DOUBLE) END, 6) AS symbol_ratio,
       round(CASE WHEN n > 0 THEN CAST(non_ascii AS DOUBLE) / n
                  ELSE CAST(0.0 AS DOUBLE) END, 6) AS non_ascii_ratio
FROM cnt
"""


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """18-core of the co-purchase stripe graph (extensions/graph.py
    k_core) — the density screen next to label_propagation (same
    graph): iteratively peel every part with fewer than 18 co-purchase
    neighbors until the unique maximal min-degree-18 subgraph remains.
    Synchronized peeling is order-independent (the k-core is unique),
    so the oracle's recursive-CTE peel reaches the identical fixpoint;
    degrees are integers. Also exercises the all-peeled path at higher
    k (edge tests)."""
    from hdp_tez_spark.extensions.graph import cooccurrence_edges, k_core

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 4 == 0)
    )
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return k_core(edges, k=18, a="a", b="b")


_SQL_K_CORE = """
WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_partkey % 4 = 0),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
peel(round, u, v) AS (
  SELECT 0, u, v FROM e
  UNION ALL
  SELECT * FROM (
    WITH deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT round, u AS n FROM peel UNION ALL SELECT round, v FROM peel
      ) GROUP BY n
    ),
    dropped AS (SELECT n FROM deg WHERE d < 18)
    SELECT p.round + 1, p.u, p.v
    FROM peel p
    WHERE p.u NOT IN (SELECT n FROM dropped)
      AND p.v NOT IN (SELECT n FROM dropped)
      AND EXISTS (SELECT 1 FROM dropped)
  )
),
last AS (SELECT max(round) AS r FROM peel),
fin AS (SELECT u, v FROM peel, last WHERE round = last.r),
fdeg AS (SELECT n, count(*) AS d
         FROM (SELECT u AS n FROM fin UNION ALL SELECT v FROM fin)
         GROUP BY n),
fdrop AS (SELECT n FROM fdeg WHERE d < 18),
core AS (SELECT u, v FROM fin
         WHERE u NOT IN (SELECT n FROM fdrop)
           AND v NOT IN (SELECT n FROM fdrop))
SELECT n AS node, count(*) AS degree
FROM (SELECT u AS n FROM core UNION ALL SELECT v FROM core)
GROUP BY n ORDER BY node
"""


def q_sprt_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT monitor (extensions/experiments.py sprt_check) per
    event type: H1 "more than 31% of events exceed value 60" vs H0
    "29%" at alpha 0.05 / beta 0.2 — the always-valid interim gate a
    ship/abort monitor recomputes per batch where the fixed-horizon
    t-test would inflate alpha under peeking. LLR terms are integer
    counts times Python-double log constants embedded verbatim in the
    oracle, so the readout is engine-exact."""
    from hdp_tez_spark.extensions.experiments import sprt_check

    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("value") > 60).alias("succ")
    ).where(F.col("value").isNotNull())
    return sprt_check(ev, ["event_type"], "succ", p0=0.29, p1=0.31)


def _sprt_oracle_sql() -> str:
    import math as _m

    win = _m.log(0.31 / 0.29)
    lose = _m.log((1.0 - 0.31) / (1.0 - 0.29))
    lower = round(_m.log(0.2 / (1.0 - 0.05)), 6)
    upper = round(_m.log((1.0 - 0.2) / 0.05), 6)
    return f"""
WITH agg AS (
  SELECT event_type, count(*) AS n,
         sum(CASE WHEN value > 60 THEN 1 ELSE 0 END)::BIGINT AS successes
  FROM events WHERE value IS NOT NULL GROUP BY event_type
),
t AS (
  SELECT event_type, n, successes,
         round(CAST(successes AS DOUBLE) * CAST({win!r} AS DOUBLE)
               + CAST(n - successes AS DOUBLE) * CAST({lose!r} AS DOUBLE),
               6) AS llr
  FROM agg
)
SELECT event_type, n, successes, llr,
       CAST({lower!r} AS DOUBLE) AS lower,
       CAST({upper!r} AS DOUBLE) AS upper,
       CASE WHEN llr >= CAST({upper!r} AS DOUBLE) THEN 'accept_h1'
            WHEN llr <= CAST({lower!r} AS DOUBLE) THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM t ORDER BY event_type
"""


_SQL_SPRT_CHECK = _sprt_oracle_sql()


def q_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation change-point localization (extensions/
    analytics.py best_split) of the daily event-value totals per event
    type — WHERE the level shifted (cusum_shift's threshold gate says
    whether). One keyed window sort over the calendar-bounded daily
    table; the standardized mean-shift score is identical expression
    trees both engines."""
    from hdp_tez_spark.extensions.analytics import best_split

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(F.sum("value").alias("total"))
    return best_split(daily, ["event_type"], "day", "total")


_SQL_BEST_SPLIT = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         sum(value) AS total
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
),
cells AS (
  SELECT event_type, day AS t, avg(CAST(total AS DOUBLE)) AS y
  FROM daily GROUP BY event_type, day
),
scored AS (
  SELECT event_type, t,
         row_number() OVER (PARTITION BY event_type ORDER BY t) AS i,
         sum(y) OVER (PARTITION BY event_type ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(y) OVER (PARTITION BY event_type) AS tot
  FROM cells
),
cand AS (
  SELECT event_type, t, i, n,
         cum / i AS ml,
         (tot - cum) / (n - i) AS mr,
         sqrt(CAST(i AS DOUBLE) * (n - i) / n) * abs(cum / i - (tot - cum) / (n - i)) AS score
  FROM scored WHERE i < n
),
pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY score DESC, t ASC) AS rn
  FROM cand
)
SELECT event_type, t AS split_after, i AS n_left, n - i AS n_right,
       round(ml, 6) AS mean_left, round(mr, 6) AS mean_right,
       round(score, 6) AS score
FROM pick WHERE rn = 1 ORDER BY event_type
"""


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling Pearson correlation (extensions/
    analytics.py rolling_corr) between daily event value totals and
    daily event counts per event type — the co-movement monitor next
    to rolling_zscore's level monitor. Six frame sums on ONE keyed
    window sort; full frames only; identical closed form in the
    oracle."""
    from hdp_tez_spark.extensions.analytics import rolling_corr

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(
        F.sum("value").alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    return rolling_corr(daily, ["event_type"], "day", "x", "y", window=7)


_SQL_ROLLING_CORR = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         sum(value) AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
),
framed AS (
  SELECT event_type, day,
         CAST(count(x * y) OVER w AS DOUBLE) AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
         sum(x * y) OVER w AS sxy
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day,
       round(CASE WHEN n = 7 AND n * sxx - sx * sx > 0
                   AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END,
             6) AS r_xy
FROM framed ORDER BY event_type, day
"""


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate audit (extensions/textstats.py oov_rate):
    vocabulary = distinct tokens of the even-id documents, evaluated
    over the odd-id documents — the tokenizer/shard coverage readout a
    pipeline runs before committing a tokenizer. Per-occurrence
    counting; integer counts make every rate exact at 6 dp."""
    from hdp_tez_spark.extensions.textstats import oov_rate

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.explode(T.tokenize(F.col("text"))).alias("term"))
        .distinct()
    )
    return oov_rate(
        docs.where(F.col("doc_id") % 2 == 1), "doc_id", "text", vocab
    )


_SQL_OOV_RATE = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))
         AS term
  FROM documents
),
vocab AS (SELECT DISTINCT term FROM tok WHERE doc_id % 2 = 0),
cells AS (
  SELECT doc_id, term, count(*) AS cnt
  FROM tok WHERE doc_id % 2 = 1 GROUP BY doc_id, term
),
per_doc AS (
  SELECT c.doc_id,
         sum(c.cnt)::BIGINT AS n_tokens,
         sum(CASE WHEN v.term IS NULL THEN c.cnt ELSE 0 END)::BIGINT AS n_oov
  FROM cells c LEFT JOIN vocab v USING (term)
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_oov, 0) AS n_oov,
       round(CASE WHEN coalesce(p.n_tokens, 0) > 0
             THEN CAST(p.n_oov AS DOUBLE) / p.n_tokens
             ELSE CAST(0.0 AS DOUBLE) END, 6) AS oov_rate
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN per_doc p USING (doc_id)
ORDER BY doc_id
"""


def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted quantiles (extensions/analytics.py
    weighted_quantiles) of lineitem discount weighted by quantity per
    return flag — the weighted generalization of exact_quantiles
    (count-table / importance-weight data). Lower weighted quantile
    definition: smallest value whose cumulative weight reaches q*W —
    a value present in the data, exact under any arithmetic; both
    engines run the identical q*W threshold compares on
    integer-valued double weights."""
    from hdp_tez_spark.extensions.analytics import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_discount", "l_quantity"
    )
    return weighted_quantiles(
        li, ["l_returnflag"], "l_discount", "l_quantity",
        qs=(0.25, 0.5, 0.75, 0.9),
    )


_SQL_WEIGHTED_QUANTILES = """
WITH cells AS (
  SELECT l_returnflag, l_discount AS v,
         sum(CAST(l_quantity AS DOUBLE)) AS w
  FROM lineitem
  WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
    AND CAST(l_quantity AS DOUBLE) > 0
  GROUP BY l_returnflag, l_discount
),
cum AS (
  SELECT l_returnflag, v, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM cells
)
SELECT l_returnflag, q, v AS value
FROM cum, unnest(CAST([0.25, 0.5, 0.75, 0.9] AS DOUBLE[])) AS spine(q)
WHERE cumw - w < q * tot AND q * tot <= cumw
ORDER BY l_returnflag, q
"""


def q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction audit (extensions/experiments.py
    conformal_intervals) per event type: "model" = per-type mean value
    fit on the event_id%3==0 third, calibrated on the ==1 third
    (finite-sample 90% radius), coverage audited on the ==2 third —
    the distribution-free uncertainty wrapper for any regressor. The
    k-th order statistic rides one keyed window sort; residual
    compares run against a 6-dp-rounded yhat so both engines feed
    bit-identical residuals into the quantile and coverage compare
    (unrounded avg() ulp noise flipped 4 tied boundary rows at
    sf1.0)."""
    from hdp_tez_spark.extensions.experiments import conformal_intervals

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # yhat rounded to 6 dp so BOTH engines feed bit-identical residuals
    # into the quantile and the coverage compare: the unrounded avg()
    # differs between Spark and the oracle at the last ulp (summation
    # order), and with the 2-dp-quantized value grid ~56 test rows tie
    # the quantile residual exactly — found as a 4-row covered-count
    # flip in the r10 sf1.0 close sweep.
    means = (
        ev.where(F.col("event_id") % 3 == 0)
        .groupBy("event_type")
        .agg(F.round(F.avg("value"), 6).alias("yhat"))
    )
    cal = ev.where(F.col("event_id") % 3 == 1).join(
        F.broadcast(means), "event_type"
    )
    test = ev.where(F.col("event_id") % 3 == 2).join(
        F.broadcast(means), "event_type"
    )
    return conformal_intervals(
        cal, test, ["event_type"], "value", "yhat", alpha=0.1
    )


_SQL_CONFORMAL = """
WITH means AS (
  SELECT event_type, round(avg(value), 6) AS yhat
  FROM events WHERE event_id % 3 = 0 AND value IS NOT NULL
  GROUP BY event_type
),
cal AS (
  SELECT e.event_type, abs(e.value - m.yhat) AS r
  FROM events e JOIN means m USING (event_type)
  WHERE e.event_id % 3 = 1 AND e.value IS NOT NULL
),
ranked AS (
  SELECT event_type, r,
         row_number() OVER (PARTITION BY event_type ORDER BY r) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM cal
),
stats AS (
  SELECT event_type, any_value(n) AS n_cal,
         max(CASE WHEN rk = CAST(ceil((n + 1) * CAST(0.9 AS DOUBLE))
                                 AS BIGINT)
                  THEN r END) AS qhat,
         CASE WHEN any_value(CAST(ceil((n + 1) * CAST(0.9 AS DOUBLE))
                                  AS BIGINT)) > any_value(n)
              THEN 1 ELSE 0 END AS inf_iv
  FROM ranked GROUP BY event_type
),
test AS (
  SELECT e.event_type, abs(e.value - m.yhat) AS rt
  FROM events e JOIN means m USING (event_type)
  WHERE e.event_id % 3 = 2 AND e.value IS NOT NULL
)
SELECT s.event_type, s.n_cal, round(s.qhat, 6) AS qhat,
       count(*) AS n_test,
       sum(CASE WHEN s.inf_iv = 1 THEN 1
                WHEN t.rt <= s.qhat THEN 1 ELSE 0 END)::BIGINT AS covered,
       round(sum(CASE WHEN s.inf_iv = 1 THEN 1
                      WHEN t.rt <= s.qhat THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS coverage
FROM test t JOIN stats s USING (event_type)
GROUP BY s.event_type, s.n_cal, s.qhat
ORDER BY s.event_type
"""


def q_stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Wald SPRT ship/abort monitor (streaming/monitors.py
    sprt_monitor): cumulative (n, successes) per event type as an
    unwindowed streaming aggregate with the decision columns projected
    per update — the always-valid interim gate running ON the stream.
    Drained with availableNow over a single-file copy, so the one
    update per key carries the final state; the oracle is the batch
    SPRT over the same rows (streaming/batch parity contract)."""
    import uuid

    from hdp_tez_spark.streaming.monitors import sprt_monitor

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    src = _scratch_dir("hdp_tez_stream_sprt_")
    ev.select("event_type", (F.col("value") > 60).alias("succ")).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(
        "event_type string, succ boolean"
    ).parquet(src)
    res = sprt_monitor(sdf, ["event_type"], "succ", p0=0.29, p1=0.31)
    qname = f"stream_sprt_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            res.writeStream.outputMode("update")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname).select(
        "event_type", "n", "successes", "llr", "lower", "upper", "decision"
    )


_SQL_STREAM_SPRT = _sprt_oracle_sql()


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sample quantile normalization (extensions/analytics.py
    quantile_normalize) of the per-type daily value totals: every
    event type's daily distribution is forced onto the shared mean
    order-statistic reference — the batch-effect corrector for
    comparing shards whose scales drifted. One keyed rank window + a
    rank-keyed reference join."""
    from hdp_tez_spark.extensions.analytics import quantile_normalize

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(F.sum("value").alias("total"))
    return quantile_normalize(daily, ["event_type"], "day", "total")


_SQL_QUANTILE_NORMALIZE = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         sum(value) AS total
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
),
ranked AS (
  SELECT event_type, day, CAST(total AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(total AS DOUBLE), day) AS rk
  FROM daily WHERE total IS NOT NULL
),
ref AS (SELECT rk, avg(v) AS refv FROM ranked GROUP BY rk)
SELECT r.event_type, r.day, round(r.v, 6) AS value, round(f.refv, 6) AS qnorm
FROM ranked r JOIN ref f USING (rk)
ORDER BY r.event_type, r.day
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-per-side trimmed mean (extensions/analytics.py
    trimmed_mean) of order totals per order status — the robust center
    for fat-tailed spend metrics next to median_udaf (all magnitude
    kept inside the trim band). One keyed window sort; boundary
    duplicates are interchangeable so the trimmed multiset is
    deterministic."""
    from hdp_tez_spark.extensions.analytics import trimmed_mean

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    return trimmed_mean(orders, ["o_orderstatus"], "o_totalprice", trim=0.1)


_SQL_TRIMMED_MEAN = """
WITH ranked AS (
  SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY CAST(o_totalprice AS DOUBLE)) AS rk,
         count(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders WHERE o_totalprice IS NOT NULL
),
kept AS (
  SELECT g, v, n, CAST(floor(n * CAST(0.1 AS DOUBLE)) AS BIGINT) AS cut
  FROM ranked
  WHERE rk > CAST(floor(n * CAST(0.1 AS DOUBLE)) AS BIGINT)
    AND rk <= n - CAST(floor(n * CAST(0.1 AS DOUBLE)) AS BIGINT)
)
SELECT g AS o_orderstatus, any_value(n) AS n,
       any_value(cut) AS n_trimmed_each_side,
       round(avg(v), 6) AS trimmed_mean
FROM kept GROUP BY g ORDER BY g
"""


def q_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality readout (extensions/dedup.py blocking_eval):
    candidates = same-(lang, 100-char length bucket) document pairs
    (the classic cheap blocking key), truth = exact n-gram Jaccard
    pairs at 0.4 — pair completeness (blocking recall) vs reduction
    ratio (fraction of the quadratic pair space avoided), the two
    numbers that justify every banding knob in the dedup module."""
    from hdp_tez_spark.extensions import dedup as D

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.col("lang").alias("k1"),
        F.floor(F.col("n_chars") / 100).alias("k2"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    cand = a.join(
        b,
        (F.col("a.k1") == F.col("b.k1"))
        & (F.col("a.k2") == F.col("b.k2"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    truth = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.4
    ).select("id_a", "id_b")
    n_entities = docs.count()  # one bounded scalar job
    return D.blocking_eval(cand, truth, n_entities)


_SQL_BLOCKING_EVAL = f"""
WITH {_SQL_TOKS_CTE},
truth AS (
  SELECT id_a AS u, id_b AS v FROM jaccard_pairs WHERE jaccard >= 0.4
),
keyed AS (
  SELECT doc_id, lang AS k1, CAST(floor(n_chars / 100) AS BIGINT) AS k2
  FROM documents
),
cand AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM keyed a JOIN keyed b
    ON a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id
),
tr AS (SELECT DISTINCT u, v FROM truth),
m AS (SELECT count(*) AS n_matched FROM cand JOIN tr USING (u, v)),
c AS (SELECT count(*) AS n_candidates FROM cand),
t AS (SELECT count(*) AS n_truth FROM tr),
ents AS (SELECT count(*) AS ne FROM documents)
SELECT c.n_candidates, t.n_truth, m.n_matched,
       round(CASE WHEN t.n_truth > 0
             THEN CAST(m.n_matched AS DOUBLE) / t.n_truth END, 6)
         AS pair_completeness,
       round(CAST(1.0 AS DOUBLE)
             - c.n_candidates
               / CAST(ents.ne * (ents.ne - 1) // 2 AS DOUBLE), 6)
         AS reduction_ratio
FROM c, t, m, ents
"""


def q_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table (extensions/analytics.py
    lift_curve): decile targeting of purchase events by event value —
    how many positives the top score bands capture vs random, next to
    binary_auc (rank quality) and calibration_bins (probability
    honesty). Scores collapse to the bounded 6-dp value grid; tied
    cells straddling bucket boundaries attribute positives
    proportionally with the identical rational arithmetic in the
    oracle."""
    from hdp_tez_spark.extensions.analytics import lift_curve

    ev = _t(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return lift_curve(ev, "score", "label", n_buckets=10)


_SQL_LIFT_CURVE = """
WITH cells AS (
  SELECT round(CAST(value AS DOUBLE), 6) AS s, count(*) AS c,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
           AS p
  FROM events WHERE value IS NOT NULL
  GROUP BY round(CAST(value AS DOUBLE), 6)
),
pos AS (
  SELECT s, c, p,
         sum(c) OVER (ORDER BY s DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS hi,
         sum(c) OVER () AS n,
         sum(p) OVER () AS ptot
  FROM cells
),
exploded AS (
  SELECT *, unnest(range(bfirst, blast + 1)) AS bucket
  FROM (
    SELECT s, c, p, hi, n, ptot, hi - c AS lo,
           CAST(floor((hi - c) * 10 / n) AS BIGINT) + 1 AS bfirst,
           CAST(floor((hi - 1) * 10 / n) AS BIGINT) + 1 AS blast
    FROM pos
  )
),
sliced AS (
  SELECT bucket, c, p, n, ptot,
         CAST(least(hi, CAST(ceil(bucket * n / 10) AS BIGINT))
              - greatest(lo, CAST(ceil((bucket - 1) * n / 10) AS BIGINT))
              AS DOUBLE) AS rows_in
  FROM exploded
),
per_bucket AS (
  SELECT bucket,
         CAST(sum(rows_in) AS BIGINT) AS n_rows,
         sum(p * rows_in / CAST(c AS DOUBLE)) AS pos_f,
         any_value(n) AS tot, any_value(ptot) AS ptot
  FROM sliced WHERE rows_in > 0 GROUP BY bucket
),
cum AS (
  SELECT bucket, n_rows, pos_f, tot, ptot,
         CAST(sum(n_rows) OVER (
                ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_n,
         sum(pos_f) OVER (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_pos
  FROM per_bucket
)
SELECT bucket, n_rows AS n, round(pos_f, 6) AS n_pos, cum_n,
       round(cum_pos, 6) AS cum_pos,
       round(cum_pos / ptot, 6) AS capture_rate,
       round((cum_pos / cum_n) / (CAST(ptot AS DOUBLE) / tot), 6) AS lift
FROM cum ORDER BY bucket
"""


def q_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Brier / ECE / MCE readout (extensions/experiments.py
    calibration_error) over the same pseudo-score as q_calibration_bins
    (cents fraction of o_totalprice vs the order-fulfilled label) —
    the scalar gate whose diagnostic is the bins table. Squared-error
    sums ride the same bins-keyed partial-agg pass; every term is a
    ratio of sums over the identical binning, engine-exact at 6 dp."""
    from hdp_tez_spark.extensions.experiments import calibration_error

    orders = _t(spark, sf_dir, "orders")
    return calibration_error(
        orders.select(
            (F.col("o_totalprice") % 1.0).alias("score"),
            "o_orderstatus",
        ),
        "score",
        F.col("o_orderstatus") == "F",
        bins=10,
    )


_SQL_CALIBRATION_ERROR = """
WITH rows_ AS (
  SELECT least(greatest(o_totalprice % 1.0, 0.0), 1.0) AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS p
  FROM orders
  WHERE o_totalprice IS NOT NULL
),
cells AS (
  SELECT least(CAST(floor(s * 10) AS INT), 9) AS b,
         count(*) AS n, sum(p)::BIGINT AS np,
         sum(s) AS ss,
         sum((s - p) * (s - p)) AS sse
  FROM rows_ GROUP BY least(CAST(floor(s * 10) AS INT), 9)
),
g AS (
  SELECT b, n, np, sse,
         abs(ss / n - CAST(np AS DOUBLE) / n) AS gap
  FROM cells
)
SELECT sum(n)::BIGINT AS n, sum(np)::BIGINT AS n_pos,
       round(sum(sse) / sum(n), 6) AS brier,
       round(sum(gap * n) / sum(n), 6) AS ece,
       round(max(gap), 6) AS mce
FROM g
"""


def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distinct-n diversity audit (extensions/textstats.py
    distinct_ngrams) at n = 1, 2, 3 over documents — the
    memorization/degeneracy readout (template floods drive
    distinct-2/3 toward 0). N-grams hash to 60-bit md5 longs map-side;
    the oracle reproduces the hash recipe so both engines count the
    identical key space."""
    from hdp_tez_spark.extensions.textstats import distinct_ngrams

    return distinct_ngrams(
        _t(spark, sf_dir, "documents"), "doc_id", "text", ns=(1, 2, 3)
    )


def _distinct_ngrams_oracle_sql() -> str:
    def order_cte(n: int) -> str:
        if n == 1:
            grams = "t"
        else:
            grams = (
                f"CASE WHEN len(t) >= {n} THEN "
                f"[array_to_string(t[i:i+{n - 1}], ' ') "
                f"FOR i IN range(1, len(t) - {n - 2})] "
                "ELSE [] END"
            )
        return f"""
  SELECT {n} AS n, total_ngrams, distinct_ngrams,
         round(CASE WHEN total_ngrams > 0
               THEN CAST(distinct_ngrams AS DOUBLE) / total_ngrams END, 6)
           AS distinct_ratio
  FROM (
    SELECT count(*)::BIGINT AS total_ngrams,
           count(DISTINCT g)::BIGINT AS distinct_ngrams
    FROM (SELECT unnest({grams}) AS g FROM toks)
  )"""

    return f"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
)
{" UNION ALL ".join(order_cte(n) for n in (1, 2, 3))}
ORDER BY n
"""


_SQL_DISTINCT_NGRAMS = _distinct_ngrams_oracle_sql()


def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold assignment (extensions/splits.py
    stratified_kfold) of documents by language: every fold carries each
    language's count to within one row exactly (hash-mod kfold_split is
    only asymptotically balanced — minority strata skew). md5-ordered
    round-robin; one keyed window per stratum; the md5 recipe
    reproduces verbatim in the oracle."""
    from hdp_tez_spark.extensions.splits import stratified_kfold

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_kfold(docs, "doc_id", ["lang"], k=5)


_SQL_STRATIFIED_KFOLD = """
SELECT doc_id, lang,
       CAST((row_number() OVER (
              PARTITION BY lang
              ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                         ::BIGINT ASC,
                       doc_id ASC) - 1) % 5 AS INT) AS fold
FROM documents
"""


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-edge sampling (extensions/graph.py
    negative_sampling) on the co-purchase stripe graph, k=3 per node —
    the contrastive-pair generator for link-prediction / embedding
    training (same graph as link_prediction's positives). Candidate i
    of node u is the node at global index md5('neg':u:i) mod |V|;
    the oracle mirrors the md5 recipe, the id-ordered index, and the
    draw-order keep-3 exactly."""
    from hdp_tez_spark.extensions.graph import cooccurrence_edges, negative_sampling

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 4 == 0)
    )
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return negative_sampling(edges, k=3, a="a", b="b", oversample=4)


_SQL_NEGATIVE_SAMPLING = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_partkey % 4 = 0),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
idx AS (SELECT node, row_number() OVER (ORDER BY node) AS i_node,
               count(*) OVER () AS nn
        FROM nodes),
draws AS (
  SELECT n.node, d.i,
         ('0x' || substr(md5('neg:' || CAST(n.node AS VARCHAR)
                          || ':' || CAST(d.i AS VARCHAR)), 1, 15))::BIGINT
           % any_value(x.nn) OVER () + 1 AS cidx
  FROM nodes n, unnest(range(0, 12)) AS d(i), (SELECT nn FROM idx LIMIT 1) x
),
cand AS (
  SELECT dr.node AS s, dr.i, ix.node AS c
  FROM draws dr JOIN idx ix ON dr.cidx = ix.i_node
  WHERE dr.node <> ix.node
),
sym AS (SELECT u AS s, v AS c FROM e UNION ALL SELECT v, u FROM e),
surv AS (
  SELECT cand.s, cand.i, cand.c
  FROM cand LEFT JOIN sym ON cand.s = sym.s AND cand.c = sym.c
  WHERE sym.s IS NULL
),
ranked AS (
  SELECT s, c, row_number() OVER (PARTITION BY s ORDER BY i) AS rn
  FROM surv
)
SELECT s AS node, c AS neg, CAST(rn - 1 AS INT) AS draw
FROM ranked WHERE rn <= 3
ORDER BY node, draw
"""




def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding (extensions/experiments.py
    target_encoding, Micci-Barreca m-estimate): per-brand encoded mean
    of lineitem quantity with prior_weight=25 — the high-cardinality
    categorical encoder a feature pipeline runs before training.
    Integer quantity sums make every ratio exact; one cell collapse +
    a broadcast global mean."""
    from hdp_tez_spark.extensions.experiments import target_encoding

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(pt, li["l_partkey"] == pt["p_partkey"]).select(
        F.col("p_brand").alias("brand"), F.col("l_quantity").alias("qty")
    )
    return target_encoding(base, "brand", "qty", prior_weight=25.0)


_SQL_TARGET_ENCODING = """
WITH base AS (
  SELECT p.p_brand AS category, CAST(l.l_quantity AS DOUBLE) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_quantity IS NOT NULL
),
cells AS (
  SELECT category, count(*) AS n, sum(y) AS s FROM base GROUP BY category
),
g AS (SELECT sum(s) / sum(n) AS gmean FROM cells)
SELECT category, n,
       round(s / n, 6) AS raw_mean,
       round((n * (s / n) + 25.0 * gmean) / (n + 25.0), 6) AS encoded
FROM cells, g
ORDER BY category
"""


def q_propensity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 1-NN propensity matching (extensions/
    experiments.py propensity_match): treated = users with id % 5 = 0,
    score = event value, strata = (event_type, day) — the causal-
    inference control-selection step, expressed as the both-direction
    asof window trick (no self-join). The oracle mirrors the
    predecessor/successor pick with IGNORE NULLS window frames and the
    identical (score, is_treated, id) sort."""
    from hdp_tez_spark.extensions.experiments import propensity_match

    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.col("event_id"),
        (F.col("user_id") % 5 == 0).alias("treated"),
        F.col("value"),
    )
    return propensity_match(
        base, ["event_type", "day"], "event_id", "treated", "value"
    )


_SQL_PROPENSITY_MATCH = """
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS day, event_id AS id,
         (user_id % 5 = 0) AS t, CAST(value AS DOUBLE) AS s
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
w AS (
  SELECT *,
    last_value(CASE WHEN NOT t THEN s END IGNORE NULLS) OVER
      (PARTITION BY event_type, day ORDER BY s, t, id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pcs,
    last_value(CASE WHEN NOT t THEN id END IGNORE NULLS) OVER
      (PARTITION BY event_type, day ORDER BY s, t, id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pcid,
    first_value(CASE WHEN NOT t THEN s END IGNORE NULLS) OVER
      (PARTITION BY event_type, day ORDER BY s, t, id
       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ncs,
    first_value(CASE WHEN NOT t THEN id END IGNORE NULLS) OVER
      (PARTITION BY event_type, day ORDER BY s, t, id
       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ncid
  FROM base
),
picked AS (
  SELECT event_type, day, id AS treated_id, s,
         CASE WHEN ncs IS NULL OR (pcs IS NOT NULL AND abs(s - pcs) <= abs(s - ncs))
              THEN pcid ELSE ncid END AS control_id,
         CASE WHEN ncs IS NULL OR (pcs IS NOT NULL AND abs(s - pcs) <= abs(s - ncs))
              THEN pcs ELSE ncs END AS cs
  FROM w WHERE t
)
SELECT event_type, day, treated_id, control_id,
       round(s, 6) AS t_score, round(cs, 6) AS c_score,
       round(abs(s - cs), 6) AS score_diff
FROM picked WHERE control_id IS NOT NULL
ORDER BY event_type, day, treated_id
"""


def q_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 (extensions/dedup.py bcubed_eval)
    of a 32-char-prefix document clustering against exact-text gold
    clusters — the dedup-quality eval run before trusting a cheap
    blocking key as the cluster key. Pure integer cell algebra
    (sum n_pg^2/n_p), exact at 6 dp."""
    from hdp_tez_spark.extensions.dedup import bcubed_eval

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pred = docs.select(
        F.col("doc_id").alias("id"),
        F.md5(F.substring("text", 1, 32)).alias("cluster"),
    )
    gold = docs.select(
        F.col("doc_id").alias("id"), F.md5("text").alias("cluster")
    )
    return bcubed_eval(pred, gold, "id", "cluster", "cluster").select(
        "n_items",
        F.col("precision").alias("b3_precision"),
        F.col("recall").alias("b3_recall"),
        "f1",
    )


_SQL_BCUBED_EVAL = """
WITH b AS (
  SELECT md5(substr(text, 1, 32)) AS p, md5(text) AS g FROM documents
),
cells AS (SELECT p, g, count(*) AS npg FROM b GROUP BY p, g),
sp AS (SELECT p, sum(npg) AS np FROM cells GROUP BY p),
sg AS (SELECT g, sum(npg) AS ng FROM cells GROUP BY g),
j AS (SELECT cells.npg, sp.np, sg.ng
      FROM cells JOIN sp USING (p) JOIN sg USING (g)),
a AS (
  SELECT CAST(sum(npg) AS BIGINT) AS n_items,
         round(sum(npg * npg / np) / sum(npg), 6) AS b3_precision,
         round(sum(npg * npg / ng) / sum(npg), 6) AS b3_recall
  FROM j
)
SELECT n_items, b3_precision, b3_recall,
       round(2 * b3_precision * b3_recall
             / (b3_precision + b3_recall), 6) AS f1
FROM a
"""


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (extensions/graph.py modularity_score)
    of the BRAND partition over the co-purchase stripe graph — does
    brand structure explain co-purchase? — the community-quality
    readout that scores label_propagation / CC labelings. One edge
    collapse to community-pair cells; integer counts; the oracle is
    the same cell algebra."""
    from hdp_tez_spark.extensions.graph import cooccurrence_edges, modularity_score

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 4 == 0)
    )
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    labels = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("label")
    )
    return modularity_score(edges, labels, a="a", b="b")


_SQL_MODULARITY = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_partkey % 4 = 0),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
lab AS (SELECT p_partkey AS n, p_brand AS l FROM part),
led AS (
  SELECT coalesce(lu.l, CAST(e.u AS VARCHAR)) AS cu,
         coalesce(lv.l, CAST(e.v AS VARCHAR)) AS cv
  FROM e LEFT JOIN lab lu ON e.u = lu.n LEFT JOIN lab lv ON e.v = lv.n
),
pc AS (SELECT cu, cv, count(*) AS ec FROM led GROUP BY cu, cv),
intra AS (SELECT cu AS c, sum(ec) AS mc FROM pc WHERE cu = cv GROUP BY cu),
deg AS (
  SELECT c, sum(ec) AS dc FROM (
    SELECT cu AS c, ec FROM pc UNION ALL SELECT cv AS c, ec FROM pc
  ) GROUP BY c
),
m AS (SELECT sum(ec) AS me FROM pc)
SELECT CAST(any_value(m.me) AS BIGINT) AS m_edges,
       count(*) AS n_communities,
       round(sum(CAST(coalesce(intra.mc, 0) AS DOUBLE) / m.me
                 - (CAST(deg.dc AS DOUBLE) / (2.0 * m.me))
                   * (CAST(deg.dc AS DOUBLE) / (2.0 * m.me))), 6) AS q
FROM deg LEFT JOIN intra ON deg.c = intra.c, m
"""


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (extensions/analytics.py
    hill_tail_index) over lineitem extended price per return flag,
    k=100 — the heavy-tail diagnostic that says whether mean-based
    monitors are even valid on this metric. Top-(k+1) per group rides
    a keyed window; the oracle mirrors the order statistics and the
    k-term log sum exactly."""
    from hdp_tez_spark.extensions.analytics import hill_tail_index

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return hill_tail_index(li, ["l_returnflag"], "l_extendedprice", k=100)


_SQL_HILL_TAIL_INDEX = """
WITH pos AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
),
counts AS (SELECT l_returnflag, count(*) AS n_pos FROM pos GROUP BY l_returnflag),
top AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v DESC) AS rk
  FROM pos
),
st AS (
  SELECT l_returnflag,
         max(CASE WHEN rk = 101 THEN v END) AS xk1,
         sum(CASE WHEN rk <= 100 THEN ln(v) END) AS ls
  FROM top WHERE rk <= 101 GROUP BY l_returnflag
)
SELECT c.l_returnflag, c.n_pos,
       CAST(least(100, c.n_pos) AS INT) AS k_used,
       round(st.xk1, 6) AS x_k1,
       round(CASE WHEN st.xk1 IS NOT NULL
                   AND st.ls - 100.0 * ln(st.xk1) <> 0
             THEN 100.0 / (st.ls - 100.0 * ln(st.xk1)) END, 6) AS alpha
FROM counts c JOIN st USING (l_returnflag)
ORDER BY l_returnflag
"""


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival profile (extensions/analytics.py
    interarrival_stats): mean/sd/CV of whole-second gaps plus
    Goh-Barabasi burstiness — the bot-vs-human behavioral fingerprint
    per entity. Integer-second gap sums are exact; one keyed lag
    window + one cell collapse."""
    from hdp_tez_spark.extensions.analytics import interarrival_stats

    ev = _t(spark, sf_dir, "events")
    return interarrival_stats(ev, ["user_id"], "ts", min_events=3)


_SQL_INTERARRIVAL_STATS = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE ts IS NOT NULL
),
g AS (
  SELECT user_id,
         t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS gap
  FROM e
),
c AS (
  SELECT user_id, count(*) AS n_events, count(gap) AS n_gaps,
         sum(gap) AS s, sum(gap * gap) AS ss
  FROM g GROUP BY user_id
),
d AS (
  SELECT user_id, n_events, n_gaps,
         CAST(s AS DOUBLE) / n_gaps AS mu,
         sqrt(greatest(CAST(ss AS DOUBLE) / n_gaps
                       - (CAST(s AS DOUBLE) / n_gaps)
                         * (CAST(s AS DOUBLE) / n_gaps), 0)) AS sd
  FROM c WHERE n_events >= 3
)
SELECT user_id, n_events, n_gaps,
       round(mu, 6) AS mean_gap_s,
       round(sd, 6) AS sd_gap_s,
       round(CASE WHEN mu > 0 THEN sd / mu END, 6) AS cv,
       round(CASE WHEN sd + mu > 0 THEN (sd - mu) / (sd + mu) END, 6)
         AS burstiness
FROM d ORDER BY user_id
"""


def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer-value segmentation (extensions/analytics.py
    rfm_scores) over orders: per customer, recency/frequency/monetary
    each banded 1..5 by global rank, composite rfm = 100r+10f+m. One
    collapse to the |customers| cell table, then three range-partition
    global ranks (never a single-task window); monetary is rounded to
    2 dp BEFORE ranking so summation-order noise can't flip ranks."""
    from hdp_tez_spark.extensions.analytics import rfm_scores

    orders = _t(spark, sf_dir, "orders")
    return rfm_scores(
        orders, "o_custkey", "o_orderdate", "o_totalprice", buckets=5
    )


_SQL_RFM_SCORES = """
WITH cells AS (
  SELECT o_custkey AS key, max(o_orderdate) AS last_ts,
         count(*) AS frequency,
         round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS monetary
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_custkey
),
n AS (SELECT count(*) AS n FROM cells),
r AS (
  SELECT key, last_ts, frequency, monetary,
         row_number() OVER (ORDER BY last_ts, key) AS rr,
         row_number() OVER (ORDER BY frequency, key) AS rf,
         row_number() OVER (ORDER BY monetary, key) AS rm
  FROM cells
)
SELECT key, last_ts, frequency, monetary,
       CAST(floor((rr - 1) * 5.0 / n) + 1 AS INT) AS r_score,
       CAST(floor((rf - 1) * 5.0 / n) + 1 AS INT) AS f_score,
       CAST(floor((rm - 1) * 5.0 / n) + 1 AS INT) AS m_score,
       CAST((floor((rr - 1) * 5.0 / n) + 1) * 100
            + (floor((rf - 1) * 5.0 / n) + 1) * 10
            + (floor((rm - 1) * 5.0 / n) + 1) AS INT) AS rfm
FROM r, n ORDER BY key
"""


def q_rare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-tail vocabulary truncation (extensions/curation.py
    group_rare_categories): part names under 30 occurrences collapse
    to '__other__' — the cardinality guard before target encoding /
    one-hot. Output is the |categories|-row mapping table (one
    map-side-combined collapse; `kept` cast to int for the driver's
    string-hash compare)."""
    from hdp_tez_spark.extensions.curation import group_rare_categories

    part = _t(spark, sf_dir, "part")
    out = group_rare_categories(part, "p_name", min_count=30)
    return out.select(
        "category", "n", "mapped", F.col("kept").cast("int").alias("kept")
    )


_SQL_RARE_CATEGORIES = """
WITH cells AS (
  SELECT coalesce(CAST(p_name AS VARCHAR), '__null__') AS category,
         count(*) AS n
  FROM part GROUP BY 1
)
SELECT category, n,
       CASE WHEN n >= 30 THEN category ELSE '__other__' END AS mapped,
       CAST(n >= 30 AS INT) AS kept
FROM cells ORDER BY category
"""


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (extensions/dedup.py
    sorted_neighborhood_pairs, Hernandez-Stolfo '95) over part names,
    window=3: candidate pairs within 3 positions of the name-sorted
    order — the linear-budget third blocking method next to LSH
    banding and prefix filtering. Global position via the
    range-partitioned rank; neighbors meet through rank-offset
    EQUI-joins (never a range join)."""
    from hdp_tez_spark.extensions.dedup import sorted_neighborhood_pairs

    part = _t(spark, sf_dir, "part")
    return sorted_neighborhood_pairs(part, "p_partkey", "p_name", window=3)


_SQL_SORTED_NEIGHBORHOOD = """
WITH r AS (SELECT p_partkey AS id, p_name AS key FROM part),
rk AS (SELECT id, key, row_number() OVER (ORDER BY key, id) AS rn FROM r)
SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b,
       CAST(b.rn - a.rn AS INT) AS rank_gap
FROM rk a JOIN rk b ON b.rn >= a.rn + 1 AND b.rn <= a.rn + 3
ORDER BY id_a, rank_gap
"""


def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision / per-query MAP summand (extensions/
    experiments.py average_precision) per event type: value-ranked
    events scored against a deterministic label (event_id % 3 == 0) —
    the class-imbalance-honest ranking readout next to ROC-AUC. One
    keyed window drives rank and running positives; ratio-of-small-
    integers sum is exact well past the 6-dp readout."""
    from hdp_tez_spark.extensions.experiments import average_precision

    ev = _t(spark, sf_dir, "events").withColumn(
        "label", (F.col("event_id") % 3 == 0).cast("int")
    )
    return average_precision(
        ev, ["event_type"], "value", "label", "event_id"
    )


_SQL_AVERAGE_PRECISION = """
WITH b AS (
  SELECT event_type, value, event_id,
         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y
  FROM events
),
r AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS i,
         sum(y) OVER (PARTITION BY event_type
                      ORDER BY value DESC, event_id
                      ROWS UNBOUNDED PRECEDING) AS cp
  FROM b
)
SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
       round(CASE WHEN sum(y) > 0
             THEN sum(CASE WHEN y = 1 THEN CAST(cp AS DOUBLE) / i END)
                  / sum(y) END, 6) AS ap
FROM r GROUP BY event_type ORDER BY event_type
"""


def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote labeling (extensions/similarity.py
    knn_label): a FIXED 100-vector query panel (vec_id < 100 — bounded
    by contract like the cosine_topk family, so the |q| x |corpus|
    product stays linear in the corpus) against the remaining labeled
    train set, k=5 exact cosine neighbors, deterministic
    smallest-label tie-break — the weak-labeling consumer of the ANN
    family. Query side broadcast, per-group heap top-k, labels joined
    by id AFTER the distance math."""
    from hdp_tez_spark.extensions.similarity import knn_label

    emb = _t(spark, sf_dir, "embeddings")
    return knn_label(
        emb.where(F.col("vec_id") < 100),
        emb.where(F.col("vec_id") >= 100),
        k=5,
    )


_SQL_KNN_LABEL = """
WITH nn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]), 6) AS cosine
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 100 AND c.vec_id >= 100
    )
  ) WHERE rn <= 5
),
v AS (
  SELECT nn.query_id, e.label, count(*) AS votes
  FROM nn JOIN embeddings e ON nn.neighbor_id = e.vec_id
  GROUP BY nn.query_id, e.label
),
t AS (SELECT query_id, CAST(count(*) AS INT) AS k_used
      FROM nn GROUP BY query_id),
best AS (
  SELECT query_id, label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS rb
  FROM v
)
SELECT b.query_id, b.label, b.votes, t.k_used
FROM best b JOIN t USING (query_id) WHERE rb = 1 ORDER BY query_id
"""


def q_time_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal train/test split with a 1-hour embargo
    (extensions/splits.py time_embargo_split, de Prado '18) over
    events: earliest 80% train, the hour after the cutoff dropped as
    'embargo' so trailing-window features can't leak labels. The
    cutoff is a pure order statistic (count(ts<=t) >= ceil(0.8n)) —
    deterministic, tie-mass-into-train; the cumulative count rides the
    |distinct seconds| cell table (clock-bounded, never row-sized)."""
    from hdp_tez_spark.extensions.splits import time_embargo_split

    ev = _t(spark, sf_dir, "events")
    return time_embargo_split(
        ev, "event_id", "ts", train_frac=0.8, embargo_seconds=3600
    )


_SQL_TIME_EMBARGO_SPLIT = """
WITH b AS (
  SELECT event_id AS id, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE ts IS NOT NULL
),
n AS (SELECT count(*) AS n FROM b),
cells AS (SELECT t, count(*) AS c FROM b GROUP BY t),
cum AS (SELECT t, sum(c) OVER (ORDER BY t) AS cm FROM cells),
cut AS (
  SELECT min(t) AS cut FROM cum, n
  WHERE cm >= ceil(CAST(0.8 AS DOUBLE) * n)
)
SELECT id,
       CASE WHEN t <= cut THEN 'train'
            WHEN t <= cut + 3600 THEN 'embargo'
            ELSE 'test' END AS split
FROM b, cut ORDER BY id
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch / Flesch-Kincaid readability per document
    (extensions/textstats.py readability_scores): deterministic
    vowel-run syllable heuristic, terminator-run sentence count — the
    prose-vs-boilerplate curation signal. Pure map-side column
    expressions; the oracle mirrors the token split, the vowel-run
    regex, and the formula shape exactly."""
    from hdp_tez_spark.extensions.textstats import readability_scores

    docs = _t(spark, sf_dir, "documents")
    return readability_scores(docs, "doc_id", "text")


_SQL_READABILITY = """
WITH t AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks,
         len(regexp_extract_all(text, '[.!?]+')) AS sent_runs
  FROM documents
),
c AS (
  SELECT id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(greatest(1, sent_runs) AS BIGINT) AS n_sentences,
         CAST(list_sum(list_transform(toks,
              w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
              AS BIGINT) AS n_syllables
  FROM t WHERE len(toks) > 0
)
SELECT id, n_words, n_sentences, n_syllables,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch,
       round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 6)
         AS fk_grade
FROM c ORDER BY id
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (extensions/textstats.py
    vocab_growth): OLS on (ln cum_tokens, ln cum_vocab) over the
    per-document checkpoint series — the template-flood /
    garbage-token corpus diagnostic. First occurrences via one
    (token-hash -> min doc) collapse; both cumulative series share one
    prefix_sum; token identity travels as the md5 60-bit hash the
    oracle reproduces."""
    from hdp_tez_spark.extensions.textstats import vocab_growth

    docs = _t(spark, sf_dir, "documents")
    return vocab_growth(docs, "doc_id", "text")


_SQL_VOCAB_GROWTH = """
WITH t AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
per_doc AS (SELECT doc, len(toks) AS n_tok FROM t),
tok AS (
  SELECT doc, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h
  FROM t, unnest(toks) AS u(tk)
),
firsts AS (SELECT h, min(doc) AS doc FROM tok GROUP BY h),
newc AS (SELECT doc, count(*) AS n_new FROM firsts GROUP BY doc),
cells AS (
  SELECT p.doc, p.n_tok, coalesce(n.n_new, 0) AS n_new
  FROM per_doc p LEFT JOIN newc n USING (doc)
),
cum AS (
  SELECT doc,
         sum(n_tok) OVER (ORDER BY doc) AS cum_tokens,
         sum(n_new) OVER (ORDER BY doc) AS cum_vocab
  FROM cells
),
pts AS (
  SELECT ln(CAST(cum_tokens AS DOUBLE)) AS x,
         ln(CAST(cum_vocab AS DOUBLE)) AS y,
         cum_tokens, cum_vocab
  FROM cum WHERE cum_tokens > 0 AND cum_vocab > 0
),
s AS (
  SELECT count(*) AS n_docs, max(cum_tokens) AS total_tokens,
         max(cum_vocab) AS vocab_size,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(vocab_size AS BIGINT) AS vocab_size,
       round(exp((sy - ((n_docs * sxy - sx * sy)
                        / (n_docs * sxx - sx * sx)) * sx) / n_docs), 6)
         AS heaps_k,
       round((n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx), 6)
         AS heaps_beta
FROM s
"""


def q_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter field agreement weights (extensions/dedup.py
    linkage_weights) over sorted-neighborhood candidate pairs on part
    names: m from the blocked pair set, u EXACTLY from value
    frequencies (c*(c-1)/(n*(n-1)) integer arithmetic) — the scoring
    layer on top of blocking. Linear candidate budget by construction;
    the oracle rebuilds the same pairs, agreements, and frequency
    algebra."""
    from hdp_tez_spark.extensions.dedup import linkage_weights

    part = _t(spark, sf_dir, "part")
    return linkage_weights(
        part, "p_partkey", "p_name", ["p_brand", "p_type", "p_size"], window=3
    )


_SQL_LINKAGE_WEIGHTS = """
WITH r AS (
  SELECT p_partkey AS id, p_name AS key, p_brand, p_type, p_size FROM part
),
rk AS (SELECT id, key, row_number() OVER (ORDER BY key, id) AS rn FROM r),
pr AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM rk a JOIN rk b ON b.rn >= a.rn + 1 AND b.rn <= a.rn + 3
),
j AS (
  SELECT ra.p_brand AS a_brand, rb.p_brand AS b_brand,
         ra.p_type AS a_type, rb.p_type AS b_type,
         ra.p_size AS a_size, rb.p_size AS b_size
  FROM pr JOIN r ra ON pr.id_a = ra.id JOIN r rb ON pr.id_b = rb.id
),
m AS (
  SELECT 'p_brand' AS field, count(*) AS n_pairs,
         sum(CASE WHEN a_brand IS NOT NULL AND b_brand IS NOT NULL
                   AND a_brand = b_brand THEN 1 ELSE 0 END)::DOUBLE
           / count(*) AS m
  FROM j
  UNION ALL
  SELECT 'p_size', count(*),
         sum(CASE WHEN a_size IS NOT NULL AND b_size IS NOT NULL
                   AND a_size = b_size THEN 1 ELSE 0 END)::DOUBLE / count(*)
  FROM j
  UNION ALL
  SELECT 'p_type', count(*),
         sum(CASE WHEN a_type IS NOT NULL AND b_type IS NOT NULL
                   AND a_type = b_type THEN 1 ELSE 0 END)::DOUBLE / count(*)
  FROM j
),
n_t AS (SELECT count(*) AS n FROM part),
u AS (
  SELECT 'p_brand' AS field,
         sum(c * (c - 1))::DOUBLE / (any_value(n) * (any_value(n) - 1)) AS u
  FROM (SELECT count(*) AS c FROM part WHERE p_brand IS NOT NULL
        GROUP BY p_brand), n_t
  UNION ALL
  SELECT 'p_size',
         sum(c * (c - 1))::DOUBLE / (any_value(n) * (any_value(n) - 1))
  FROM (SELECT count(*) AS c FROM part WHERE p_size IS NOT NULL
        GROUP BY p_size), n_t
  UNION ALL
  SELECT 'p_type',
         sum(c * (c - 1))::DOUBLE / (any_value(n) * (any_value(n) - 1))
  FROM (SELECT count(*) AS c FROM part WHERE p_type IS NOT NULL
        GROUP BY p_type), n_t
)
SELECT m.field, CAST(m.n_pairs AS BIGINT) AS n_pairs,
       round(m.m, 6) AS m_prob, round(u.u, 6) AS u_prob,
       round(CASE WHEN m.m > 0 AND u.u > 0 AND u.u < 1
             THEN log2(m.m / u.u) END, 6) AS agree_weight,
       round(CASE WHEN m.m < 1 AND u.u < 1 AND u.u > 0
             THEN log2((1 - m.m) / (1 - u.u)) END, 6) AS disagree_weight
FROM m JOIN u USING (field) ORDER BY field
"""


def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-learning label-noise screen (extensions/experiments.py
    label_noise) over events with a deterministic score/label pair
    (score = (event_id %% 1000)/999, label = event_id %% 7 < 3): the
    2x2 confident joint whose off-diagonals estimate label noise.
    Thresholds are 9-dp-rounded class-mean probabilities so the >=
    comparisons bit-match across engines."""
    from hdp_tez_spark.extensions.experiments import label_noise

    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            ((F.col("event_id") % 1000) / 999.0).alias("score"),
            (F.col("event_id") % 7 < 3).cast("int").alias("label"),
        )
    )
    return label_noise(ev, "event_id", "score", "label")


_SQL_LABEL_NOISE = """
WITH b AS (
  SELECT event_id AS id,
         CAST(event_id % 1000 AS DOUBLE) / 999.0 AS p1,
         CASE WHEN event_id % 7 < 3 THEN 1 ELSE 0 END AS y
  FROM events
),
thr AS (
  SELECT round(avg(CASE WHEN y = 1 THEN p1 END), 9) AS t1,
         round(avg(CASE WHEN y = 0 THEN 1 - p1 END), 9) AS t0
  FROM b
),
cls AS (
  SELECT y,
         CASE WHEN p1 >= t1 AND (1 - p1) >= t0
                THEN CASE WHEN p1 >= 0.5 THEN 1 ELSE 0 END
              WHEN p1 >= t1 THEN 1
              WHEN (1 - p1) >= t0 THEN 0 END AS s
  FROM b, thr
),
cells AS (
  SELECT y AS given_label, s AS suggested_label, count(*) AS n
  FROM cls WHERE s IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT given_label, sum(n) AS t FROM cells GROUP BY 1)
SELECT c.given_label, c.suggested_label, CAST(c.n AS BIGINT) AS n,
       round(c.n::DOUBLE / t.t, 6) AS frac_of_given
FROM cells c JOIN tot t USING (given_label)
ORDER BY given_label, suggested_label
"""


def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment A/B sample-size calculation (extensions/
    experiments.py power_analysis): two-proportion normal-approximation
    n-per-arm at alpha=0.05 / power=80%%, 10%% relative MDE, baseline
    rate = the deterministic event_id %% 7 < 3 label per event type.
    One collapse to the |segments| cell table; every downstream float
    op has an identical expression shape in the oracle, so ceil() sees
    bit-identical inputs."""
    from hdp_tez_spark.extensions.experiments import power_analysis

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 7 < 3).cast("double").alias("label"),
    )
    return power_analysis(ev, ["event_type"], "label", mde_rel=0.1)


_SQL_POWER_ANALYSIS = """
WITH cells AS (
  SELECT event_type, count(*) AS n_obs,
         avg(CASE WHEN event_id % 7 < 3 THEN 1.0 ELSE 0.0 END) AS p1
  FROM events GROUP BY 1
),
c AS (
  SELECT event_type, n_obs, p1, least(p1 * 1.1, 1.0) AS p2 FROM cells
)
SELECT event_type, CAST(n_obs AS BIGINT) AS n_obs,
       round(p1, 6) AS p_base, round(p2, 6) AS p_target,
       CASE WHEN p1 > 0 AND p1 < 1 AND p2 > p1 THEN
         CAST(ceil(
           pow(1.9599639845400545
                 * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
               + 0.8416212335729143
                 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)), 2)
           / pow(p2 - p1, 2)) AS BIGINT) END AS n_per_arm
FROM c ORDER BY event_type
"""


def q_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral predictability (extensions/analytics.py
    behavior_entropy): Shannon entropy of the event-type mix plus
    conditional next-event entropy over the time-ordered stream — the
    bot-vs-human fingerprint next to interarrival_stats. One keyed lag
    window; entropies live on |types|- and |types|^2-bounded cell
    tables."""
    from hdp_tez_spark.extensions.analytics import behavior_entropy

    ev = _t(spark, sf_dir, "events")
    return behavior_entropy(ev, ["user_id"], "event_type", "ts", "event_id")


_SQL_BEHAVIOR_ENTROPY = """
WITH b AS (
  SELECT user_id, event_type AS t,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events WHERE ts IS NOT NULL
),
marg AS (SELECT user_id, t, count(*) AS c FROM b GROUP BY 1, 2),
tot AS (
  SELECT user_id, sum(c) AS n_events, count(*) AS n_types
  FROM marg GROUP BY 1
),
hm AS (
  SELECT m.user_id,
         -sum((m.c::DOUBLE / tot.n_events)
              * log2(m.c::DOUBLE / tot.n_events)) AS hm
  FROM marg m JOIN tot USING (user_id) GROUP BY m.user_id
),
tr AS (
  SELECT user_id, prev, t, count(*) AS c
  FROM b WHERE prev IS NOT NULL GROUP BY 1, 2, 3
),
pt AS (SELECT user_id, prev, sum(c) AS ca FROM tr GROUP BY 1, 2),
a_t AS (SELECT user_id, sum(c) AS n FROM tr GROUP BY 1),
hc AS (
  SELECT tr.user_id,
         -sum((tr.c::DOUBLE / a_t.n) * log2(tr.c::DOUBLE / pt.ca)) AS hc
  FROM tr
  JOIN pt ON tr.user_id = pt.user_id AND tr.prev = pt.prev
  JOIN a_t ON tr.user_id = a_t.user_id
  GROUP BY tr.user_id
)
SELECT t.user_id, CAST(t.n_events AS BIGINT) AS n_events,
       CAST(t.n_types AS BIGINT) AS n_types,
       round(hm.hm + CAST(0 AS DOUBLE), 6) AS h_marginal,
       round(coalesce(hc.hc, 0.0) + CAST(0 AS DOUBLE), 6) AS h_conditional
FROM tot t JOIN hm USING (user_id) LEFT JOIN hc USING (user_id)
WHERE t.n_events >= 2 ORDER BY t.user_id
"""


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa multi-rater agreement (extensions/experiments.py
    fleiss_kappa) treating each event_id %% 500 bucket as an item and
    its event types as ratings — the annotation-quality gate beyond
    the 2-rater cohens_kappa. One (item, category) cell collapse;
    integer sums until the final ratios."""
    from hdp_tez_spark.extensions.experiments import fleiss_kappa

    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 500).alias("item"),
        F.col("event_type").alias("cat"),
    )
    return fleiss_kappa(ev, "item", "cat")


_SQL_FLEISS_KAPPA = """
WITH cells AS (
  SELECT event_id % 500 AS i, event_type AS j, count(*) AS nij
  FROM events GROUP BY 1, 2
),
items AS (
  SELECT i, sum(nij) AS ni, sum(nij * nij) AS sq
  FROM cells GROUP BY i HAVING sum(nij) >= 2
),
pbar AS (
  SELECT count(*) AS n_items, sum(ni) AS n_ratings,
         avg((sq - ni)::DOUBLE / (ni * (ni - 1))) AS pb
  FROM items
),
pe AS (
  SELECT sum(cj::DOUBLE * cj) / (sum(cj) * sum(cj)) AS pe
  FROM (
    SELECT c.j, sum(c.nij) AS cj
    FROM cells c JOIN items USING (i) GROUP BY c.j
  )
)
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(n_ratings AS BIGINT) AS n_ratings,
       round(pb, 6) AS p_bar, round(pe, 6) AS p_e,
       round(CASE WHEN pe < 1 THEN (pb - pe) / (1 - pe) END, 6) AS kappa
FROM pbar, pe
"""


def q_qini_auuc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift AUUC / area under the Qini curve (extensions/
    experiments.py qini_auuc) over events with a deterministic
    treatment (user_id %% 2), outcome (event_id %% 5 = 0) and score
    ((event_id %% 997)/996) — the targeting-model eval ROC-AUC cannot
    replace. Global ranking + all four cumulative series ride one
    shared prefix_sum."""
    from hdp_tez_spark.extensions.experiments import qini_auuc

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 2).alias("tr"),
        (F.col("event_id") % 5 == 0).cast("int").alias("y"),
        ((F.col("event_id") % 997) / 996.0).alias("score"),
    )
    return qini_auuc(ev, "event_id", "tr", "y", "score")


_SQL_QINI_AUUC = """
WITH b AS (
  SELECT event_id AS id,
         CAST(event_id % 997 AS DOUBLE) / 996.0 AS s,
         CAST(user_id % 2 AS INT) AS t,
         CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS y
  FROM events
),
cum AS (
  SELECT sum(t * y) OVER w AS cyt, sum(t) OVER w AS cnt,
         sum((1 - t) * y) OVER w AS cyc, sum(1 - t) OVER w AS cnc,
         t
  FROM b WINDOW w AS (ORDER BY s DESC, id ROWS UNBOUNDED PRECEDING)
)
SELECT count(*) AS n,
       CAST(sum(t) AS BIGINT) AS n_treat,
       CAST(sum(1 - t) AS BIGINT) AS n_ctrl,
       round(avg(cyt::DOUBLE - CASE WHEN cnc > 0
                 THEN cyc::DOUBLE * cnt / cnc ELSE 0.0 END), 6) AS auuc
FROM cum
"""


def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired-classifier test (extensions/experiments.py
    mcnemar_test): model A = value > 50, model B = event_id %% 3 = 0,
    truth = event_id %% 5 = 0 — the discordant-cell significance test
    for comparing two models on the SAME eval rows. One conditional-
    count pass; integer arithmetic until the final ratio."""
    from hdp_tez_spark.extensions.experiments import mcnemar_test

    ev = _t(spark, sf_dir, "events")
    truth = F.col("event_id") % 5 == 0
    flags = ev.select(
        ((F.col("value") > 50) == truth).cast("int").alias("a_ok"),
        ((F.col("event_id") % 3 == 0) == truth).cast("int").alias("b_ok"),
    )
    return mcnemar_test(flags, "a_ok", "b_ok")


_SQL_MCNEMAR = """
WITH f AS (
  SELECT CASE WHEN (value > 50) = (event_id % 5 = 0) THEN 1 ELSE 0 END AS a,
         CASE WHEN (event_id % 3 = 0) = (event_id % 5 = 0) THEN 1 ELSE 0 END AS b
  FROM events
),
c AS (
  SELECT count(*) AS n,
         CAST(sum(a * b) AS BIGINT) AS both_right,
         CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS both_wrong,
         CAST(sum(a * (1 - b)) AS BIGINT) AS a_only,
         CAST(sum((1 - a) * b) AS BIGINT) AS b_only
  FROM f
)
SELECT n, both_right, both_wrong, a_only, b_only,
       round(CASE WHEN a_only + b_only > 0 THEN
         pow(abs(a_only - b_only) - 1, 2)::DOUBLE / (a_only + b_only) END, 6)
         AS statistic
FROM c
"""


def q_event_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise event-type lift/PMI within users (extensions/
    analytics.py event_affinity) on the 10%% event slice (event_id %%
    10 = 0, so per-user presence actually varies) — the co-engagement
    map. One collapse to the (user, type) presence table; pair join
    bounded by |types|^2 per user."""
    from hdp_tez_spark.extensions.analytics import event_affinity

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 10 == 0)
    return event_affinity(ev, ["user_id"], "event_type")


_SQL_EVENT_AFFINITY = """
WITH pres AS (
  SELECT DISTINCT user_id, event_type AS t
  FROM events WHERE event_id % 10 = 0 AND event_type IS NOT NULL
),
n_t AS (SELECT count(DISTINCT user_id) AS N FROM pres),
marg AS (SELECT t, count(*) AS n FROM pres GROUP BY t),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
  FROM pres a JOIN pres b
    ON a.user_id = b.user_id AND a.t < b.t
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_both,
       ma.n AS n_a, mb.n AS n_b,
       round(p.n_both::DOUBLE * n_t.N / (ma.n * mb.n), 6) AS lift,
       round(log2(p.n_both::DOUBLE * n_t.N / (ma.n * mb.n)), 6) AS pmi
FROM pairs p
JOIN marg ma ON p.type_a = ma.t
JOIN marg mb ON p.type_b = mb.t, n_t
ORDER BY type_a, type_b
"""


def q_embedding_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label separability of the embedding space (extensions/
    similarity.py embedding_separability): within/between scatter and
    the Calinski-Harabasz pseudo-F from one (label, dim) cell collapse
    — does the geometry know about the labeling? Exact
    sufficient-statistics identity, cells = k*d rows independent of
    corpus size."""
    from hdp_tez_spark.extensions.similarity import embedding_separability

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_separability(emb)


_SQL_EMBEDDING_SEPARABILITY = """
WITH e AS (
  SELECT label AS l,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
),
cells AS (
  SELECT l, pos, count(*) AS n, sum(v) AS s, sum(v * v) AS ss
  FROM e GROUP BY l, pos
),
gdim AS (SELECT pos, sum(s) / sum(n) AS gmu FROM cells GROUP BY pos),
per_cell AS (
  SELECT c.l, c.pos, c.n,
         c.ss - c.n * (c.s / c.n) * (c.s / c.n) AS w,
         c.n * (c.s / c.n - g.gmu) * (c.s / c.n - g.gmu) AS b
  FROM cells c JOIN gdim g USING (pos)
),
agg AS (
  SELECT CAST(sum(CASE WHEN pos = 0 THEN n END) AS BIGINT) AS n,
         count(DISTINCT l) AS k,
         sum(w) AS W, sum(b) AS B
  FROM per_cell
)
SELECT n, CAST(k AS BIGINT) AS k,
       round(W, 4) AS within_ss, round(B, 4) AS between_ss,
       round(CASE WHEN k > 1 AND W > 0 AND n > k
             THEN (B / (k - 1)) / (W / (n - k)) END, 4)
         AS calinski_harabasz
FROM agg
"""


def q_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (extensions/ranking.py rank_overlap, Webber
    et al. TOIS'10) between the revenue top-20 parts of two 2/3-
    overlapping order slices (l_orderkey %% 3 <> 0 vs <> 1) — the
    head-weighted retrieval-change monitor. Both inputs are LIMITed
    top-k lists; everything downstream is k-bounded."""
    from hdp_tez_spark.extensions.ranking import rank_overlap

    li = _t(spark, sf_dir, "lineitem")

    def top(sl: DataFrame) -> DataFrame:
        t = (
            sl.groupBy("l_partkey")
            .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
            .orderBy(F.desc("rev"), F.asc("l_partkey"))
            .limit(20)
        )
        return t.withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("rev"), F.asc("l_partkey"))
            ),
        )

    a = top(li.where(F.col("l_orderkey") % 3 != 0))
    b = top(li.where(F.col("l_orderkey") % 3 != 1))
    return rank_overlap(a, b, "l_partkey", "r", p=0.9, k=20)


_SQL_RANK_OVERLAP = """
WITH a AS (
  SELECT l_partkey, row_number() OVER (ORDER BY rev DESC, l_partkey) AS r
  FROM (SELECT l_partkey, round(sum(l_extendedprice), 2) AS rev
        FROM lineitem WHERE l_orderkey % 3 <> 0 GROUP BY l_partkey)
  ORDER BY rev DESC, l_partkey LIMIT 20
),
b AS (
  SELECT l_partkey, row_number() OVER (ORDER BY rev DESC, l_partkey) AS r
  FROM (SELECT l_partkey, round(sum(l_extendedprice), 2) AS rev
        FROM lineitem WHERE l_orderkey % 3 <> 1 GROUP BY l_partkey)
  ORDER BY rev DESC, l_partkey LIMIT 20
),
common AS (
  SELECT greatest(a.r, b.r) AS m FROM a JOIN b USING (l_partkey)
),
terms AS (
  SELECT pow(0.9, d - 1) / d AS w
  FROM common, unnest(generate_series(m, 20)) AS g(d)
)
SELECT 20 AS k,
       (SELECT count(*) FROM common) AS n_common,
       round(0.1 * coalesce(sum(w), 0.0), 6) AS rbo
FROM terms
"""




def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five event types on event value
    (extensions/experiments.py anova_oneway): the parametric twin of
    kruskal_wallis — one map-side-combined collapse to per-group
    (n, Σx, Σx²) sufficient statistics, then a 1-row reduce. Raw table
    scanned exactly once; integer/sufficient-stat arithmetic until the
    final ratios."""
    from hdp_tez_spark.extensions.experiments import anova_oneway

    return anova_oneway(_t(spark, sf_dir, "events"), "event_type", "value")


_SQL_ANOVA_F = """
WITH g AS (
  SELECT event_type AS grp, count(*) AS n,
         sum(value) AS s, sum(value * value) AS ss
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type
),
r AS (
  SELECT count(*) AS k, sum(n) AS nn, sum(s) AS ts,
         sum(s * s / n) AS bg, sum(ss - s * s / n) AS wg
  FROM g
)
SELECT k AS n_groups, nn::BIGINT AS n,
       round(bg - ts * ts / nn, 6) AS ss_between,
       round(wg, 6) AS ss_within,
       round(CASE WHEN k > 1 AND nn > k AND wg > 0 THEN
         ((bg - ts * ts / nn) / (k - 1)) / (wg / (nn - k)) END, 6)
         AS f_stat,
       round(CASE WHEN (bg - ts * ts / nn) + wg > 0 THEN
         (bg - ts * ts / nn) / ((bg - ts * ts / nn) + wg) END, 6)
         AS eta_sq
FROM r
"""


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between document language and source
    (extensions/experiments.py cramers_v): the [0,1]-normalized effect
    size over the observed contingency cells only — the zero-cell-free
    χ² identity means the dense lang×source grid never materializes.
    One cell collapse + two |levels|-row broadcast totals."""
    from hdp_tez_spark.extensions.experiments import cramers_v

    return cramers_v(_t(spark, sf_dir, "documents"), "lang", "source")


_SQL_CRAMERS_V = """
WITH base AS (
  SELECT lang AS a, source AS b FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
),
cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b),
rt AS (SELECT a, sum(o) AS rtot FROM cells GROUP BY a),
ct AS (SELECT b, sum(o) AS ctot FROM cells GROUP BY b),
r AS (
  SELECT sum(o) AS n, count(DISTINCT cells.a) AS ra,
         count(DISTINCT cells.b) AS cb,
         sum(o::DOUBLE * o / (rtot * ctot)) AS q
  FROM cells JOIN rt USING (a) JOIN ct USING (b)
)
SELECT n::BIGINT AS n, ra AS levels_a, cb AS levels_b,
       round(n * (q - 1), 6) AS chi2,
       round(CASE WHEN least(ra, cb) - 1 >= 1 THEN
         sqrt(n * (q - 1) / (n * (least(ra, cb) - 1))) END, 6) AS v
FROM r
"""


def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample 1-D Wasserstein-1 distance between click and purchase
    event values (extensions/experiments.py wasserstein_1d): the
    magnitude-aware drift readout next to ks_test — distinct-value
    cells, ONE multi-column prefix_sum pass (counts + segment index),
    consecutive segments paired by an idx+1 equi-join (never a global
    lead window), 1-row reduce."""
    from hdp_tez_spark.extensions.experiments import wasserstein_1d

    return wasserstein_1d(
        _t(spark, sf_dir, "events"), "event_type", "value", "click", "purchase"
    )


_SQL_WASSERSTEIN_1D = """
WITH s AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
),
c AS (
  SELECT v, sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
         count(*) AS t
  FROM s GROUP BY v
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
         sum(t)  OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_t,
         lead(v) OVER (ORDER BY v) AS nv
  FROM c
),
tot AS (SELECT sum(ca) AS na, sum(t) - sum(ca) AS nb FROM c)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round(sum((nv - v) * abs(cum_a::DOUBLE / na
                                - (cum_t - cum_a)::DOUBLE / nb)), 6)
         AS w1
FROM cum CROSS JOIN tot
WHERE nv IS NOT NULL
GROUP BY na, nb
"""


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good-Turing frequency-of-frequencies over the document
    corpus (extensions/textstats.py good_turing): N_r band sizes,
    adjusted counts r* = (r+1)N_{r+1}/N_r, and the per-band token mass
    whose r=1 row is the classic unseen-vocabulary estimate. One
    O(|vocab|) hash collapse; the r↔r+1 pairing is a tiny self
    equi-join; token identity travels as the md5 60-bit hash the
    oracle reproduces."""
    from hdp_tez_spark.extensions.textstats import good_turing

    return good_turing(_t(spark, sf_dir, "documents"), "text")


_SQL_GOOD_TURING = """
WITH t AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tok AS (
  SELECT ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h
  FROM t, unnest(toks) AS u(tk)
),
f AS (SELECT h, count(*) AS r FROM tok GROUP BY h),
nr AS (SELECT r, count(*) AS n_r FROM f GROUP BY r),
tot AS (SELECT sum(r * n_r) AS n FROM nr)
SELECT a.r, a.n_r::BIGINT AS n_r,
       round((a.r + 1) * b.n_r::DOUBLE / a.n_r, 6) AS r_star,
       round(a.r * a.n_r / n::DOUBLE, 6) AS p_mass
FROM nr a LEFT JOIN nr b ON b.r = a.r + 1 CROSS JOIN tot
ORDER BY a.r
"""


def q_keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness of the English sub-corpus vs the
    rest (extensions/textstats.py keyness_llr): top-25 most
    over/under-represented terms by G², sorted on the ROUNDED
    statistic so the top-k boundary is engine-stable. One (term, a, b)
    count collapse + a 1-row totals broadcast + a TakeOrdered."""
    from hdp_tez_spark.extensions.textstats import keyness_llr

    docs = _t(spark, sf_dir, "documents").select(
        "text", (F.col("lang") == "en").cast("int").alias("is_en")
    )
    return keyness_llr(docs, "text", "is_en", k=25)


_SQL_KEYNESS_LLR = """
WITH t AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
c AS (
  SELECT tk AS term, sum(f) AS count_a, sum(1 - f) AS count_b
  FROM t, unnest(toks) AS u(tk) GROUP BY tk
),
tot AS (SELECT sum(count_a) AS ta, sum(count_b) AS tb FROM c),
s AS (
  SELECT term, count_a, count_b,
         round(2 * (
           CASE WHEN count_a > 0 THEN count_a * ln(
             count_a / (ta * (count_a + count_b)::DOUBLE / (ta + tb)))
           ELSE 0 END
           + CASE WHEN count_b > 0 THEN count_b * ln(
             count_b / (tb * (count_a + count_b)::DOUBLE / (ta + tb)))
           ELSE 0 END), 6) AS g2,
         CASE WHEN count_a::DOUBLE / ta >= count_b::DOUBLE / tb
              THEN 1 ELSE -1 END AS direction
  FROM c CROSS JOIN tot
)
SELECT term, count_a::BIGINT AS count_a, count_b::BIGINT AS count_b,
       g2, direction
FROM s ORDER BY g2 DESC, term ASC LIMIT 25
"""


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority over the DIRECTED customer→supplier trade
    graph (extensions/graph.py hits_scores, iters=2): customers score
    as hubs, suppliers as authorities — the bipartite co-citation
    readout next to pagerank (which runs the symmetrized graph).
    Normalization deferred to the readout keeps every iterate exact
    LONG arithmetic; oracle is the 2-iteration unrolled SQL (the
    pagerank pattern)."""
    from hdp_tez_spark.extensions.graph import hits_scores

    ords = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 200000).alias("dst"),
        )
        .distinct()
    )
    return hits_scores(edges, iters=2)


_SQL_HITS_SCORES = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 200000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT src AS node FROM pairs UNION SELECT dst FROM pairs),
a1 AS (SELECT dst AS node, count(*) AS a FROM pairs GROUP BY dst),
h1 AS (SELECT p.src AS node, sum(a1.a) AS h
       FROM pairs p JOIN a1 ON p.dst = a1.node GROUP BY p.src),
a2 AS (SELECT p.dst AS node, sum(h1.h) AS a
       FROM pairs p JOIN h1 ON p.src = h1.node GROUP BY p.dst),
h2 AS (SELECT p.src AS node, sum(a2.a) AS h
       FROM pairs p JOIN a2 ON p.dst = a2.node GROUP BY p.src),
tot AS (SELECT (SELECT sum(h) FROM h2) AS sh,
               (SELECT sum(a) FROM a2) AS sa)
SELECT n.node,
       round(coalesce(h2.h, 0)::DOUBLE / sh, 6) AS hub,
       round(coalesce(a2.a, 0)::DOUBLE / sa, 6) AS auth
FROM nodes n LEFT JOIN h2 ON n.node = h2.node
             LEFT JOIN a2 ON n.node = a2.node
CROSS JOIN tot
ORDER BY n.node
"""




def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality test across event types
    (extensions/experiments.py levene_test): |x - group median|
    deviations through the anova_oneway sufficient-stat shape — the
    homoscedasticity gate in front of anova_f. One |groups|-row median
    aggregate broadcast back; nothing after the collapses exceeds
    |groups| rows."""
    from hdp_tez_spark.extensions.experiments import levene_test

    return levene_test(_t(spark, sf_dir, "events"), "event_type", "value")


_SQL_LEVENE_TEST = """
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
med AS (SELECT g, median(v) AS m FROM base GROUP BY g),
z AS (SELECT base.g AS g, abs(v - m) AS z FROM base JOIN med USING (g)),
gg AS (
  SELECT g, count(*) AS n, sum(z) AS s, sum(z * z) AS ss
  FROM z GROUP BY g
),
r AS (
  SELECT count(*) AS k, sum(n) AS nn, sum(s) AS ts,
         sum(s * s / n) AS bg, sum(ss - s * s / n) AS wg
  FROM gg
)
SELECT k AS n_groups, nn::BIGINT AS n,
       round(CASE WHEN k > 1 AND nn > k AND wg > 0 THEN
         ((bg - ts * ts / nn) / (k - 1)) / (wg / (nn - k)) END, 6)
         AS w_stat,
       round(CASE WHEN (bg - ts * ts / nn) + wg > 0 THEN
         (bg - ts * ts / nn) / ((bg - ts * ts / nn) + wg) END, 6)
         AS eta_sq
FROM r
"""


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test of event-type activity across user cohorts
    (extensions/experiments.py friedman_test): blocks = user_id %% 200,
    treatments = the five event types, response = per-cell event COUNT
    (integer, so within-block mid-ranks are bit-stable across engines).
    Complete blocks only; tie-corrected statistic."""
    from hdp_tez_spark.extensions.experiments import friedman_test

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 200).alias("cohort"), "event_type"
    )
    return friedman_test(ev, "cohort", "event_type")


_SQL_FRIEDMAN_TEST = """
WITH cells AS (
  SELECT user_id % 200 AS b, event_type AS t, count(*) AS x
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
k AS (SELECT count(DISTINCT t) AS k FROM cells),
complete AS (
  SELECT b FROM cells GROUP BY b
  HAVING count(*) = (SELECT k FROM k)
),
kept AS (SELECT cells.* FROM cells JOIN complete USING (b)),
ranked AS (
  SELECT b, t,
         rank() OVER (PARTITION BY b ORDER BY x)
           + (count(*) OVER (PARTITION BY b, x) - 1) / 2.0 AS r
  FROM kept
),
cs AS (SELECT t, sum(r) AS rj FROM ranked GROUP BY t),
tot AS (SELECT count(DISTINCT b) AS n, sum(r * r) AS ssr FROM ranked),
red AS (
  SELECT (SELECT sum(rj * rj) FROM cs) AS ssj, n, ssr,
         (SELECT k FROM k) AS k
  FROM tot
)
SELECT n::BIGINT AS n_blocks, k AS k_treatments,
       round(CASE WHEN ssr - n * k * (k + 1) * (k + 1) / 4.0 > 0 THEN
         (k - 1) * (ssj - n * n * k * (k + 1) * (k + 1) / 4.0)
           / (ssr - n * k * (k + 1) * (k + 1) / 4.0) END, 6) AS q_stat
FROM red
"""


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three binary per-cohort outcomes
    (extensions/experiments.py cochran_q): subjects = user_id %% 500,
    treatments = click/view/purchase, success = cohort had any such
    event with value > 50 — the k-arm extension of mcnemar on the same
    subjects. Integer marginals until the final ratio."""
    from hdp_tez_spark.extensions.experiments import cochran_q

    ev = (
        _t(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin("click", "view", "purchase")
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            (F.col("user_id") % 500).alias("subject"),
            F.col("event_type").alias("treatment"),
            (F.col("value") > 50).cast("int").alias("success"),
        )
    )
    return cochran_q(ev, "subject", "treatment", "success")


_SQL_COCHRAN_Q = """
WITH ev AS (
  SELECT user_id % 500 AS s, event_type AS t,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS ok
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase')
    AND value IS NOT NULL AND user_id IS NOT NULL
),
cells AS (SELECT s, t, max(ok) AS x FROM ev GROUP BY s, t),
k AS (SELECT count(DISTINCT t) AS k FROM cells),
complete AS (
  SELECT s FROM cells GROUP BY s
  HAVING count(*) = (SELECT k FROM k)
),
kept AS (SELECT cells.* FROM cells JOIN complete USING (s)),
rows_ AS (SELECT s, sum(x) AS ri FROM kept GROUP BY s),
rr AS (
  SELECT count(*) AS n, sum(ri) AS tt, sum(ri * ri) AS sr2 FROM rows_
),
cols AS (SELECT t, sum(x) AS cj FROM kept GROUP BY t),
red AS (
  SELECT (SELECT sum((cj - tt / k) * (cj - tt / k))
          FROM cols, rr, k) AS ssc,
         n, tt, sr2, (SELECT k FROM k) AS k
  FROM rr
)
SELECT n::BIGINT AS n_subjects, k AS k_treatments,
       round(CASE WHEN k * tt - sr2 > 0 THEN
         k * (k - 1) * ssc / (k * tt - sr2) END, 6) AS q_stat
FROM red
"""


def q_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way intraclass correlation of event values within users
    (extensions/experiments.py icc_oneway): how much value variance is
    BETWEEN users vs within — the cluster-randomization deflation
    readout, Searle's n0 correction for unbalanced users. Same
    sufficient-stat single-pass shape as anova_f."""
    from hdp_tez_spark.extensions.experiments import icc_oneway

    return icc_oneway(_t(spark, sf_dir, "events"), "user_id", "value")


_SQL_ICC = """
WITH g AS (
  SELECT user_id AS grp, count(*) AS n,
         sum(value) AS s, sum(value * value) AS ss
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id
),
r AS (
  SELECT count(*) AS k, sum(n) AS nn, sum(s) AS ts, sum(n * n) AS sn2,
         sum(s * s / n) AS bg, sum(ss - s * s / n) AS wg
  FROM g
)
SELECT k AS n_groups, nn::BIGINT AS n,
       round(CASE WHEN k > 1 THEN
         (nn - sn2 / CAST(nn AS DOUBLE)) / (k - 1) END, 6) AS n0,
       round(CASE WHEN k > 1 THEN
         (bg - ts * ts / nn) / (k - 1) END, 6) AS msb,
       round(CASE WHEN nn > k THEN wg / (nn - k) END, 6) AS msw,
       round(CASE WHEN k > 1 AND nn > k AND
         ((bg - ts * ts / nn) / (k - 1)
          + ((nn - sn2 / CAST(nn AS DOUBLE)) / (k - 1) - 1)
            * (wg / (nn - k))) <> 0 THEN
         ((bg - ts * ts / nn) / (k - 1) - wg / (nn - k))
           / ((bg - ts * ts / nn) / (k - 1)
              + ((nn - sn2 / CAST(nn AS DOUBLE)) / (k - 1) - 1)
                * (wg / (nn - k))) END, 6) AS icc
FROM r
"""


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type over the time-ordered
    value series (extensions/analytics.py runs_test): serial-randomness
    screen next to acf — above/below-median sign runs, z against the
    exact run-count moments. Lag window partitioned by type; (ts,
    event_id) total order."""
    from hdp_tez_spark.extensions.analytics import runs_test

    return runs_test(
        _t(spark, sf_dir, "events"),
        "event_type",
        ["ts", "event_id"],
        "value",
    )


_SQL_RUNS_TEST = """
WITH base AS (
  SELECT event_type AS g, ts, event_id, value AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
med AS (SELECT g, median(v) AS m FROM base GROUP BY g),
s AS (
  SELECT base.g AS g, ts, event_id,
         CASE WHEN v > m THEN 1 ELSE 0 END AS sign
  FROM base JOIN med USING (g)
  WHERE v <> m
),
runs AS (
  SELECT g, sign,
         CASE WHEN lag(sign) OVER w IS NULL
                OR lag(sign) OVER w <> sign THEN 1 ELSE 0 END AS new_run
  FROM s WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
),
red AS (
  SELECT g, sum(sign) AS n1, sum(1 - sign) AS n2, sum(new_run) AS r
  FROM runs GROUP BY g
)
SELECT g AS "group", n1::BIGINT AS n1, n2::BIGINT AS n2,
       r::BIGINT AS runs,
       round(CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                   AND 2.0 * n1 * n2 > n1 + n2 THEN
         (r - (2.0 * n1 * n2 / (n1 + n2) + 1))
           / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                  / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                     * (n1 + n2 - 1))) END, 6) AS z_stat
FROM red ORDER BY g
"""


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of value/100 as a purchase
    probability (extensions/experiments.py isotonic_calibration,
    bins=20): the monotone minimax fit over the binned reliability
    table — everything after the one corpus-sized bin collapse is
    triangular joins over <= 20 rows; every interval average is a ratio
    of exact integer prefix counts."""
    from hdp_tez_spark.extensions.experiments import isotonic_calibration

    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") / 100).alias("score"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    return isotonic_calibration(ev, "score", F.col("label"), bins=20)


_SQL_ISOTONIC_CALIBRATION = """
WITH cells AS (
  SELECT least(floor(least(greatest(value / 100.0, 0), 1) * 20), 19)::INT
           AS b,
         count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT c.b AS b, c.n AS n, c.y AS y,
         sum(l.n) AS cn, sum(l.y) AS cy
  FROM cells c JOIN cells l ON l.b <= c.b
  GROUP BY c.b, c.n, c.y
),
pairs AS (
  SELECT i.b AS i, j.b AS j,
         (j.cy - (i.cy - i.y))::DOUBLE / (j.cn - (i.cn - i.n)) AS a
  FROM cum i JOIN cum j ON i.b <= j.b
),
mids AS (SELECT b AS mid FROM cells),
inner_min AS (
  SELECT mid, i, min(a) AS m
  FROM pairs JOIN mids ON i <= mid AND mid <= j
  GROUP BY mid, i
),
fit AS (SELECT mid, max(m) AS f FROM inner_min GROUP BY mid)
SELECT c.b AS bin, round(c.b / 20.0, 6) AS lo,
       round((c.b + 1) / 20.0, 6) AS hi,
       c.n::BIGINT AS n, c.y::BIGINT AS n_pos,
       round(c.y / CAST(c.n AS DOUBLE), 6) AS pos_rate,
       round(f.f, 6) AS fitted
FROM cells c JOIN fit f ON c.b = f.mid
ORDER BY bin
"""




def q_phash_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate image pairs (extensions/
    multimodal.py phash_near_dupes): synthesize REAL PNG payloads for
    the first 96 doc ids with pixels seeded by doc_id %% 32 — PLANTING
    byte-identical duplicate images under distinct ids — then aHash +
    4x16-bit banding + popcount verify. The oracle enumerates exactly
    the planted pairs (same seed => hamming 0), so the dedup CONTRACT
    is value-checked end-to-end; the hash arithmetic itself is pinned
    against a plain-Python decode+aHash reference in
    tests/test_seventeenth_batch_ops.py (SQL cannot decode PNG)."""
    from hdp_tez_spark.extensions.multimodal import (
        phash_near_dupes,
        synthesize_png_payloads,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(96)
        .withColumn("seed", F.col("doc_id") % 32)
    )
    payloads = synthesize_png_payloads(
        docs, "doc_id", size=(4, 4), seed_col="seed"
    )
    return phash_near_dupes(payloads, max_hamming=3)


_SQL_PHASH_NEAR_DUPES = """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 96)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0::INT AS hamming
FROM ids a JOIN ids b
  ON a.doc_id < b.doc_id AND a.doc_id % 32 = b.doc_id % 32
ORDER BY id_a, id_b
"""


def q_dispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean dispersion of per-user event counts
    (extensions/experiments.py dispersion_test): the burstiness /
    Poisson-adequacy screen in front of poisson_rate_test. One
    per-user count collapse + a 1-row integer sufficient-stat
    reduce."""
    from hdp_tez_spark.extensions.experiments import dispersion_test

    return dispersion_test(_t(spark, sf_dir, "events"), "user_id")


_SQL_DISPERSION_TEST = """
WITH c AS (
  SELECT user_id, count(*) AS c FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
),
r AS (SELECT count(*) AS n, sum(c) AS s, sum(c * c) AS ss FROM c)
SELECT n::BIGINT AS n_units, s::BIGINT AS total,
       round(s / CAST(n AS DOUBLE), 6) AS mean_count,
       round(CASE WHEN n > 1 THEN
         (ss - CAST(s AS DOUBLE) * s / n) / (n - 1) END, 6) AS var_count,
       round(CASE WHEN n > 1 AND s > 0 THEN
         ((ss - CAST(s AS DOUBLE) * s / n) / (n - 1))
           / (s / CAST(n AS DOUBLE)) END, 6) AS dispersion
FROM r
"""


def q_poisson_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson event-rate z between even/odd user cohorts
    (extensions/experiments.py poisson_rate_test): per-entity exposure
    from DISTINCT units per arm, pooled-rate score test. One
    conditional-count pass; integer arithmetic until the ratios."""
    from hdp_tez_spark.extensions.experiments import poisson_rate_test

    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "even")
        .otherwise("odd")
        .alias("arm"),
        "user_id",
    )
    return poisson_rate_test(ev, "arm", "user_id", "even", "odd")


_SQL_POISSON_RATE = """
WITH e AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
         user_id
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT sum(CASE WHEN arm = 'even' THEN 1 ELSE 0 END) AS xa,
         sum(CASE WHEN arm = 'odd' THEN 1 ELSE 0 END) AS xb,
         count(DISTINCT CASE WHEN arm = 'even' THEN user_id END) AS ta,
         count(DISTINCT CASE WHEN arm = 'odd' THEN user_id END) AS tb
  FROM e
)
SELECT xa::BIGINT AS x_a, ta::BIGINT AS t_a,
       xb::BIGINT AS x_b, tb::BIGINT AS t_b,
       round(CASE WHEN ta > 0 THEN xa / CAST(ta AS DOUBLE) END, 6)
         AS rate_a,
       round(CASE WHEN tb > 0 THEN xb / CAST(tb AS DOUBLE) END, 6)
         AS rate_b,
       round(CASE WHEN ta > 0 AND tb > 0 AND xa + xb > 0 THEN
         (xa / CAST(ta AS DOUBLE) - xb / CAST(tb AS DOUBLE))
           / sqrt((xa + xb) / CAST(ta + tb AS DOUBLE)
                  * (1.0 / ta + 1.0 / tb)) END, 6) AS z_stat
FROM r
"""


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the active-user population
    from two sighting samples — users observed via even vs odd event
    ids (extensions/analytics.py capture_recapture): the "how many
    entities have we NOT seen" lower-bound sanity check. Two distinct
    collapses + one id equi-join."""
    from hdp_tez_spark.extensions.analytics import capture_recapture

    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_id") % 2 == 0).select("user_id")
    b = ev.where(F.col("event_id") % 2 == 1).select("user_id")
    return capture_recapture(a, b, "user_id")


_SQL_CAPTURE_RECAPTURE = """
WITH a AS (
  SELECT DISTINCT user_id AS id FROM events
  WHERE event_id % 2 = 0 AND user_id IS NOT NULL
),
b AS (
  SELECT DISTINCT user_id AS id FROM events
  WHERE event_id % 2 = 1 AND user_id IS NOT NULL
),
r AS (
  SELECT (SELECT count(*) FROM a) AS na,
         (SELECT count(*) FROM b) AS nb,
         (SELECT count(*) FROM a JOIN b USING (id)) AS m
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, m::BIGINT AS overlap,
       round(CAST(na + 1 AS DOUBLE) * (nb + 1) / (m + 1) - 1, 6)
         AS est_total,
       round(sqrt(CAST(na + 1 AS DOUBLE) * (nb + 1) * (na - m) * (nb - m)
                  / (CAST(m + 1 AS DOUBLE) * (m + 1) * (m + 2))), 6)
         AS se
FROM r
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility over the document corpus
    (extensions/textstats.py tokenizer_fertility): BPE-ish segments
    per word and chars per segment — the training-token cost
    forecaster per language slice. Pure column expressions + one
    |languages|-row collapse."""
    from hdp_tez_spark.extensions.textstats import tokenizer_fertility

    return tokenizer_fertility(
        _t(spark, sf_dir, "documents"), "lang", "text"
    )


_SQL_TOKENIZER_FERTILITY = """
WITH per AS (
  SELECT lang AS g,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS w,
         len(regexp_extract_all(text,
                                '[a-zA-Z0-9_]+|[^a-zA-Z0-9_ ]+')) AS s,
         length(text) AS c
  FROM documents WHERE lang IS NOT NULL
),
red AS (
  SELECT g, count(*) AS n_docs, sum(w) AS nw, sum(s) AS ns, sum(c) AS nc
  FROM per GROUP BY g
)
SELECT g AS "group", n_docs, nw::BIGINT AS n_words,
       ns::BIGINT AS n_segments, nc::BIGINT AS n_chars,
       round(CASE WHEN nw > 0 THEN ns / CAST(nw AS DOUBLE) END, 6)
         AS fertility,
       round(CASE WHEN ns > 0 THEN nc / CAST(ns AS DOUBLE) END, 6)
         AS chars_per_segment
FROM red ORDER BY g
"""


def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 odds/risk ratio of high-value events producing errors
    (extensions/experiments.py odds_ratio): exposure = value > 66,
    outcome = event_type = 'error', Woolf/Katz log-normal 95%%
    intervals — the directional effect size next to chi_square /
    cramers_v. One conditional-count pass to four cells."""
    from hdp_tez_spark.extensions.experiments import odds_ratio

    ev = _t(spark, sf_dir, "events")
    return odds_ratio(
        ev, F.col("value") > 66, F.col("event_type") == "error"
    )


_SQL_ODDS_RATIO = """
WITH f AS (
  SELECT (value > 66) AS e, (event_type = 'error') AS o FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
r AS (
  SELECT sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS d
  FROM f
)
SELECT a::BIGINT AS a, b::BIGINT AS b, c::BIGINT AS c, d::BIGINT AS d,
       round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c) END, 6)
         AS odds_ratio,
       round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
           * exp(-1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) END, 6)
         AS or_lo,
       round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
           * exp(1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) END, 6)
         AS or_hi,
       round(CASE WHEN a + b > 0 AND c + d > 0 AND c > 0 AND a > 0 THEN
         (a / CAST(a + b AS DOUBLE)) / (c / CAST(c + d AS DOUBLE))
         END, 6) AS risk_ratio,
       round(CASE WHEN a + b > 0 AND c + d > 0 AND c > 0 AND a > 0 THEN
         (a / CAST(a + b AS DOUBLE)) / (c / CAST(c + d AS DOUBLE))
           * exp(-1.96 * sqrt(1.0/a - 1.0/(a + b)
                              + 1.0/c - 1.0/(c + d))) END, 6) AS rr_lo,
       round(CASE WHEN a + b > 0 AND c + d > 0 AND c > 0 AND a > 0 THEN
         (a / CAST(a + b AS DOUBLE)) / (c / CAST(c + d AS DOUBLE))
           * exp(1.96 * sqrt(1.0/a - 1.0/(a + b)
                             + 1.0/c - 1.0/(c + d))) END, 6) AS rr_hi
FROM r
"""


# ---- driver-checked prefix (first 50 entries of _REGISTRY) ----
# r09 rotation (VERDICT r08 'Next round' #2): the 14 never-checked r09
# queries lead (three batches: image_resize/seasonal_decompose/
# pareto_contributors/rolling_median; srm_check/ratio_metric_delta/
# fdr_bh/link_prediction/ndcg_eval/zipf_fit; kaplan_meier/diff_in_diff/
# label_propagation/rake_keywords), then ALL 36 queries whose newest
# driver evidence is CORRECTNESS_r04 (the oldest tail in the freshness
# histogram: 36 r04 / 38 r05 / 48 r06 / 50 r07 / 50 r08 before this
# rotation). After r09 the oldest driver evidence anywhere becomes
# r05. All 50 pass the local sf0.01 --exact gate (driver-faithful
# string compare) before this rotation lands. The r08-checked prefix (skyline/mmr_select/... )
# demotes to body order below — dict-literal order is now HISTORY, the
# operative prefix is this list (rotations stay one-list edits).
_PREFIX_R10 = [
    # r10 rotation (VERDICT r09 "Next round" #2): evidence refresh —
    # ALL 22 queries whose newest driver evidence is CORRECTNESS_r04
    # (the oldest tail: 22 r04 / 38 r05 / 48 r06 / 50 r07/r08/r09
    # before this rotation), then the alphabetically-first 28 of the
    # 38 r05-evidence rows. After r10 the oldest driver evidence
    # anywhere becomes r05 (10 rows: stream_dedup..windowed_topk tail).
    # New never-checked operators added later this round splice at the
    # HEAD and demote the r05 tail (never-checked outranks refresh).
    # All 50 pass the local sf0.01 --exact gate before this lands.
    # --- never-checked (new this round, twelfth batch) — six more
    # r05-refresh rows (acf/ann_recall/apply_mixture/approx_distinct
    # from the tail below, plus attribution/bootstrap_ci already
    # demoted) demote below the boundary; never-checked outranks
    # refresh. ---
    # --- never-checked (new this round, thirteenth batch) — six more
    # r04-refresh rows (stream_left_join/stream_tumbling/
    # transition_counts/triangle_count/weighted_sample/winsorize)
    # demote below the boundary; never-checked outranks refresh. ---
    # --- never-checked (new this round, fourteenth batch) — six more
    # r04-refresh rows (rollup_maintain/rrf_fusion/scalar_functions/
    # schema_evolution/sorted_group_apply/stream_cdc_upsert) demote
    # below the boundary; never-checked outranks refresh. ---
    "phash_near_dupes",
    "dispersion_test",
    "poisson_rate",
    "capture_recapture",
    "tokenizer_fertility",
    "odds_ratio",
    # --- (thirteenth batch) ---
    "levene_test",
    "friedman_test",
    "cochran_q",
    "icc",
    "runs_test",
    "isotonic_calibration",
    # --- (twelfth batch) ---
    "anova_f",
    "cramers_v",
    "wasserstein_1d",
    "good_turing",
    "keyness_llr",
    "hits_scores",
    # --- never-checked (new this round, eleventh batch) — the last six
    # r05-refresh rows (attribution/bootstrap_ci/calibration_bins/
    # cms_frequency/cohort_retention + rolling_active_users) demote
    # below the boundary; never-checked outranks refresh. ---
    "fleiss_kappa",
    "qini_auuc",
    "mcnemar",
    "event_affinity",
    "embedding_separability",
    "rank_overlap",
    # --- never-checked (new this round, tenth batch) — six more
    # r05-refresh rows (collocations/cusum_shift/dataset_diff/
    # edit_distance_pairs/fk_integrity/gap_fill) demote below the
    # boundary; never-checked outranks refresh. ---
    "readability",
    "vocab_growth",
    "linkage_weights",
    "label_noise",
    "power_analysis",
    "behavior_entropy",
    # --- never-checked (new this round, ninth batch) — six more
    # r05-refresh rows (golden_record/importance_sample/key_skew_stats/
    # l_diversity/lm_score/rolling_active_users) demote below the
    # boundary; never-checked outranks refresh. ---
    "rfm_scores",
    "rare_categories",
    "sorted_neighborhood",
    "average_precision",
    "knn_label",
    "time_embargo_split",
    # --- never-checked (new this round, eighth batch) — the last 6
    # r05-refresh rows (mixture_weights/ngram_counts/pca_component/
    # period_over_period/psi_drift/rendezvous_shard/rolling_active_users
    # tail) demote below the boundary; never-checked outranks refresh. ---
    "target_encoding",
    "propensity_match",
    "bcubed_eval",
    "modularity",
    "hill_tail_index",
    "interarrival_stats",
    # --- r04-evidence refresh (20 of 22; woe_iv/zorder_stats demoted
    # by the twelfth batch, see tail note) ---
    "partition_overwrite",
    "point_in_time_join",
    "prefix_filter_join",
    "profile_table",
    "proportion_ci",
    "python_udtf",
    "range_frame_window",
    "rolling_zscore",
    # --- rollup_maintain..stream_cdc_upsert (r04), woe_iv +
    # zorder_stats (r04), and the r05-refresh block (acf/ann_recall/
    # apply_mixture/approx_distinct) all demoted (twelfth/fourteenth
    # batches) to keep len == 50 — never-checked outranks refresh;
    # first in line for the r11 rotation ---
]

_REGISTRY_BODY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # r10 additions (fourteenth batch)
    "phash_near_dupes": (q_phash_near_dupes, _SQL_PHASH_NEAR_DUPES),
    "dispersion_test": (q_dispersion_test, _SQL_DISPERSION_TEST),
    "poisson_rate": (q_poisson_rate, _SQL_POISSON_RATE),
    "capture_recapture": (q_capture_recapture, _SQL_CAPTURE_RECAPTURE),
    "tokenizer_fertility": (
        q_tokenizer_fertility,
        _SQL_TOKENIZER_FERTILITY,
    ),
    "odds_ratio": (q_odds_ratio, _SQL_ODDS_RATIO),
    # r10 additions (thirteenth batch)
    "levene_test": (q_levene_test, _SQL_LEVENE_TEST),
    "friedman_test": (q_friedman_test, _SQL_FRIEDMAN_TEST),
    "cochran_q": (q_cochran_q, _SQL_COCHRAN_Q),
    "icc": (q_icc, _SQL_ICC),
    "runs_test": (q_runs_test, _SQL_RUNS_TEST),
    "isotonic_calibration": (
        q_isotonic_calibration,
        _SQL_ISOTONIC_CALIBRATION,
    ),
    # r10 additions (twelfth batch)
    "anova_f": (q_anova_f, _SQL_ANOVA_F),
    "cramers_v": (q_cramers_v, _SQL_CRAMERS_V),
    "wasserstein_1d": (q_wasserstein_1d, _SQL_WASSERSTEIN_1D),
    "good_turing": (q_good_turing, _SQL_GOOD_TURING),
    "keyness_llr": (q_keyness_llr, _SQL_KEYNESS_LLR),
    "hits_scores": (q_hits_scores, _SQL_HITS_SCORES),
    # r10 additions (eleventh batch)
    "fleiss_kappa": (q_fleiss_kappa, _SQL_FLEISS_KAPPA),
    "qini_auuc": (q_qini_auuc, _SQL_QINI_AUUC),
    "mcnemar": (q_mcnemar, _SQL_MCNEMAR),
    "event_affinity": (q_event_affinity, _SQL_EVENT_AFFINITY),
    "embedding_separability": (
        q_embedding_separability,
        _SQL_EMBEDDING_SEPARABILITY,
    ),
    "rank_overlap": (q_rank_overlap, _SQL_RANK_OVERLAP),
    # r10 additions (tenth batch)
    "readability": (q_readability, _SQL_READABILITY),
    "vocab_growth": (q_vocab_growth, _SQL_VOCAB_GROWTH),
    "linkage_weights": (q_linkage_weights, _SQL_LINKAGE_WEIGHTS),
    "label_noise": (q_label_noise, _SQL_LABEL_NOISE),
    "power_analysis": (q_power_analysis, _SQL_POWER_ANALYSIS),
    "behavior_entropy": (q_behavior_entropy, _SQL_BEHAVIOR_ENTROPY),
    # r10 additions (ninth batch)
    "rfm_scores": (q_rfm_scores, _SQL_RFM_SCORES),
    "rare_categories": (q_rare_categories, _SQL_RARE_CATEGORIES),
    "sorted_neighborhood": (q_sorted_neighborhood, _SQL_SORTED_NEIGHBORHOOD),
    "average_precision": (q_average_precision, _SQL_AVERAGE_PRECISION),
    "knn_label": (q_knn_label, _SQL_KNN_LABEL),
    "time_embargo_split": (q_time_embargo_split, _SQL_TIME_EMBARGO_SPLIT),
    # r10 additions (eighth batch)
    "target_encoding": (q_target_encoding, _SQL_TARGET_ENCODING),
    "propensity_match": (q_propensity_match, _SQL_PROPENSITY_MATCH),
    "bcubed_eval": (q_bcubed_eval, _SQL_BCUBED_EVAL),
    "modularity": (q_modularity, _SQL_MODULARITY),
    "hill_tail_index": (q_hill_tail_index, _SQL_HILL_TAIL_INDEX),
    "interarrival_stats": (q_interarrival_stats, _SQL_INTERARRIVAL_STATS),
    # r09 additions (seventh batch)
    "calibration_error": (q_calibration_error, _SQL_CALIBRATION_ERROR),
    "distinct_ngrams": (q_distinct_ngrams, _SQL_DISTINCT_NGRAMS),
    "stratified_kfold": (q_stratified_kfold, _SQL_STRATIFIED_KFOLD),
    "negative_sampling": (q_negative_sampling, _SQL_NEGATIVE_SAMPLING),
    # r09 additions (sixth batch)
    "conformal": (q_conformal, _SQL_CONFORMAL),
    "stream_sprt": (q_stream_sprt, _SQL_STREAM_SPRT),
    "quantile_normalize": (q_quantile_normalize, _SQL_QUANTILE_NORMALIZE),
    "trimmed_mean": (q_trimmed_mean, _SQL_TRIMMED_MEAN),
    "blocking_eval": (q_blocking_eval, _SQL_BLOCKING_EVAL),
    "lift_curve": (q_lift_curve, _SQL_LIFT_CURVE),
    # r09 additions (fifth batch)
    "k_core": (q_k_core, _SQL_K_CORE),
    "sprt_check": (q_sprt_check, _SQL_SPRT_CHECK),
    "best_split": (q_best_split, _SQL_BEST_SPLIT),
    "rolling_corr": (q_rolling_corr, _SQL_ROLLING_CORR),
    "oov_rate": (q_oov_rate, _SQL_OOV_RATE),
    "weighted_quantiles": (q_weighted_quantiles, _SQL_WEIGHTED_QUANTILES),
    # r09 additions (fourth batch)
    "nelson_aalen": (q_nelson_aalen, _SQL_NELSON_AALEN),
    "theil_sen": (q_theil_sen, _SQL_THEIL_SEN),
    "ranking_eval": (q_ranking_eval, _SQL_RANKING_EVAL),
    "containment": (q_containment, _SQL_CONTAINMENT),
    "embedding_outliers": (q_embedding_outliers, _SQL_EMBEDDING_OUTLIERS),
    "charclass_mix": (q_charclass_mix, _SQL_CHARCLASS_MIX),
    # r09 additions
    "kaplan_meier": (q_kaplan_meier, _SQL_KAPLAN_MEIER),
    "diff_in_diff": (q_diff_in_diff, _SQL_DIFF_IN_DIFF),
    "label_propagation": (q_label_propagation, _SQL_LABEL_PROPAGATION),
    "rake_keywords": (q_rake_keywords, _SQL_RAKE_KEYWORDS),
    "srm_check": (q_srm_check, _SQL_SRM_CHECK),
    "ratio_metric_delta": (q_ratio_metric_delta, _SQL_RATIO_METRIC_DELTA),
    "fdr_bh": (q_fdr_bh, _SQL_FDR_BH),
    "link_prediction": (q_link_prediction, _SQL_LINK_PREDICTION),
    "ndcg_eval": (q_ndcg_eval, _SQL_NDCG_EVAL),
    "zipf_fit": (q_zipf_fit, _SQL_ZIPF_FIT),
    "image_resize": (q_image_resize, _SQL_IMAGE_RESIZE),
    "seasonal_decompose": (q_seasonal_decompose, _SQL_SEASONAL_DECOMPOSE),
    "pareto_contributors": (
        q_pareto_contributors,
        _SQL_PARETO_CONTRIBUTORS,
    ),
    "rolling_median": (q_rolling_median, _SQL_ROLLING_MEDIAN),
    # ---- r08 rotation history (the dict-literal prefix below was the
    # driver-checked prefix through r08; operative order now comes from
    # _PREFIX_R10 above) ----
    # r08 rotation (VERDICT r07 'Next round' #2): evidence refresh — the
    # prefix rotates to the 32 queries whose newest driver evidence is
    # CORRECTNESS_r03 (the oldest tail left in the freshness histogram:
    # mrr_group_order, shuffle_hash_join, union_grouped, secondary_sort,
    # topk, the tpch r03 batch, ...), plus cuped (mean_raw/var_raw -0.0
    # normalization landed this round — ADVICE r07 #2) and the
    # alphabetically-first 17 r04-checked queries, which include
    # bucketed_join (cleanup-path rework this round — ADVICE r07 #4).
    # All 50 pass the local sf0.01 --exact gate (driver-faithful string
    # compare) before this rotation landed; after it the oldest driver
    # evidence anywhere is r04. The three r08-NEW queries (dup_spans,
    # semantic_dedup, minhash_recall) lead the prefix — never-checked
    # queries take priority over evidence refresh; grouped_ols/
    # hll_overlap/incident_window_join (r04-green, code unchanged)
    # moved below the boundary to make room.
    "skyline": (q_skyline, _SQL_SKYLINE),
    "mmr_select": (q_mmr_select, _SQL_MMR_SELECT),
    "assoc_rules": (q_assoc_rules, _SQL_ASSOC_RULES),
    "peak_concurrency": (q_peak_concurrency, _SQL_PEAK_CONCURRENCY),
    "dup_spans": (q_dup_spans, _SQL_DUP_SPANS),
    "semantic_dedup": (q_semantic_dedup, _SQL_SEMANTIC_DEDUP),
    "minhash_recall": (q_minhash_recall, _SQL_MINHASH_RECALL),
    "inverted_index": (q_inverted_index, _SQL_INVERTED_INDEX),
    "json_extract": (q_json_extract, _SQL_JSON_EXTRACT),
    "label_centroids": (q_label_centroids, _SQL_LABEL_CENTROIDS),
    "lateral_topn": (q_lateral_topn, _SQL_LATERAL_TOPN),
    "median_udaf": (q_median_udaf, _SQL_MEDIAN_UDAF),
    "mrr_group_order": (q_mrr_group_order, _SQL_MRR),
    "ntile_buckets": (q_ntile_buckets, _SQL_NTILE_BUCKETS),
    "null_safe_join": (q_null_safe_join, _SQL_NULL_SAFE_JOIN),
    "ordered_wordcount": (q_ordered_wordcount, _SQL_ORDERED_WORDCOUNT),
    "pagerank": (q_pagerank, _SQL_PAGERANK),
    "range_join": (q_range_join, _SQL_RANGE_JOIN),
    "robust_outliers": (q_robust_outliers, _SQL_ROBUST_OUTLIERS),
    "rollup": (q_rollup, _SQL_ROLLUP),
    "scd2": (q_scd2, _SQL_SCD2),
    "secondary_sort": (q_secondary_sort, _SQL_SECONDARY_SORT),
    "semi_join": (q_semi_join, _SQL_SEMI_JOIN),
    "sessionize": (q_sessionize, _SQL_SESSIONIZE),
    "shuffle_hash_join": (q_shuffle_hash_join, _SQL_SHUFFLE_HASH_JOIN),
    "sortmerge_join": (q_sortmerge_join, _SQL_SORTMERGE_JOIN),
    "tfidf_top_terms": (q_tfidf_top_terms, _SQL_TFIDF_TOP_TERMS),
    "topk": (q_topk, _SQL_TOPK),
    "tpch_q11": (q_tpch_q11, _SQL_TPCH_Q11),
    "tpch_q12": (q_tpch_q12, _SQL_TPCH_Q12),
    "tpch_q16": (q_tpch_q16, _SQL_TPCH_Q16),
    "tpch_q2": (q_tpch_q2, _SQL_TPCH_Q2),
    "tpch_q20": (q_tpch_q20, _SQL_TPCH_Q20),
    "tpch_q21": (q_tpch_q21, _SQL_TPCH_Q21),
    "tpch_q4": (q_tpch_q4, _SQL_TPCH_Q4),
    "tpch_q9": (q_tpch_q9, _SQL_TPCH_Q9),
    "union_grouped": (q_union_grouped, _SQL_UNION_GROUPED),
    "window_rank": (q_window_rank, _SQL_WINDOW_RANK),
    "window_running": (q_window_running, _SQL_WINDOW_RUNNING),
    "cuped": (q_cuped, _SQL_CUPED),
    "ab_ttest": (q_ab_ttest, _SQL_AB_TTEST),
    "asof_join": (q_asof_join, _SQL_ASOF_JOIN),
    "bfs_distances": (q_bfs_distances, _SQL_BFS_DISTANCES),
    "binary_auc": (q_binary_auc, _SQL_BINARY_AUC),
    "bucketed_join": (q_bucketed_join, _SQL_BUCKETED_JOIN),
    "chi_square": (q_chi_square, _SQL_CHI_SQUARE),
    "cogroup": (q_cogroup, _SQL_COGROUP),
    "compact_files": (q_compact_files, _SQL_COMPACT_FILES),
    "dag_edge_routing": (q_dag_edge_routing, _SQL_DAG_EDGE_ROUTING),
    "entity_resolution": (q_entity_resolution, _SQL_ENTITY_RESOLUTION),
    # --------- r08 driver-checked prefix ended here (50) ---------
    # (historical marker — operative order now comes from _PREFIX_R10)
    # ewma, exact_quantiles_disc, gaps_islands and funnel (r04/r05-
    # green, code unchanged) moved below the boundary to make room for
    # the never-checked skyline / mmr_select / assoc_rules /
    # peak_concurrency at the prefix head.
    "ewma": (q_ewma, _SQL_EWMA),
    "exact_quantiles_disc": (
        q_exact_quantiles_disc,
        _SQL_EXACT_QUANTILES_DISC,
    ),
    "funnel": (q_funnel, _SQL_FUNNEL),
    "gaps_islands": (q_gaps_islands, _SQL_GAPS_ISLANDS),
    "grouped_ols": (q_grouped_ols, _SQL_GROUPED_OLS),
    # Entries below are driver-green in CORRECTNESS_r04-r07 (code
    # unchanged since their green round) and stay covered by the
    # repo's own per-commit sf0.001 + sweep sf0.01 --exact suites.
    "hll_overlap": (q_hll_overlap, _SQL_HLL_OVERLAP),
    "incident_window_join": (
        q_incident_window_join,
        _SQL_INCIDENT_WINDOW_JOIN,
    ),
    "array_stats": (q_array_stats, _SQL_ARRAY_STATS),
    "cluster_split": (q_cluster_split, _SQL_CLUSTER_SPLIT),
    "corpus_mix": (q_corpus_mix, _SQL_CORPUS_MIX),
    "cosine_topk_quantized": (
        q_cosine_topk_quantized,
        _SQL_COSINE_TOPK_QUANTIZED,
    ),
    "decontaminate": (q_decontaminate, _SQL_DECONTAMINATE),
    "dedup_clusters": (q_dedup_clusters, _SQL_DEDUP_CLUSTERS),
    "dedup_exact": (q_dedup_exact, _SQL_DEDUP_EXACT),
    "dedup_keep_best": (q_dedup_keep_best, _SQL_DEDUP_KEEP_BEST),
    "event_dedup": (q_event_dedup, _SQL_EVENT_DEDUP),
    "exists_subquery": (q_exists_subquery, _SQL_EXISTS_SUBQUERY),
    "fingerprint": (q_fingerprint, _SQL_FINGERPRINT),
    "frame_sample": (q_frame_sample, _SQL_FRAME_SAMPLE),
    "incremental_dedup": (q_incremental_dedup, _SQL_INCREMENTAL_DEDUP),
    "langid": (q_langid, _SQL_LANGID),
    "not_in_subquery": (q_not_in_subquery, _SQL_NOT_IN_SUBQUERY),
    "pack_sequences": (q_pack_sequences, _SQL_PACK_SEQUENCES),
    "pivot": (q_pivot, _SQL_PIVOT),
    "redact_pii": (q_redact_pii, _SQL_REDACT_PII),
    "repetition_stats": (q_repetition_stats, _SQL_REPETITION_STATS),
    "salted_join": (q_salted_join, _SQL_SALTED_JOIN),
    "scalar_subquery": (q_scalar_subquery, _SQL_SCALAR_SUBQUERY),
    "session_window": (q_session_window, _SQL_SESSION_WINDOW),
    "sliding_window": (q_sliding_window, _SQL_SLIDING_WINDOW),
    "sql_passthrough": (q_sql_passthrough, _SQL_PASSTHROUGH_TEXT),
    "stratified_sample": (q_stratified_sample, _SQL_STRATIFIED_SAMPLE),
    "tpch_q17": (q_tpch_q17, _SQL_TPCH_Q17),
    "tpch_q3": (q_tpch_q3, _SQL_TPCH_Q3),
    "train_test_split": (q_train_test_split, _SQL_TRAIN_TEST_SPLIT),
    "tumbling_window": (q_tumbling_window, _SQL_TUMBLING_WINDOW),
    "wordcount": (q_wordcount, _SQL_WORDCOUNT),
    "anti_join": (q_anti_join, _SQL_ANTI_JOIN),
    "bloom_decontaminate": (q_bloom_decontaminate, _SQL_DECONTAMINATE),
    "bm25": (q_bm25, _SQL_BM25),
    "chunk_documents": (q_chunk_documents, _SQL_CHUNK_DOCUMENTS),
    "collect_sorted": (q_collect_sorted, _SQL_COLLECT_SORTED),
    "corpus_gate": (q_corpus_gate, _SQL_CORPUS_GATE),
    "cube": (q_cube, _SQL_CUBE),
    "distinct": (q_distinct, _SQL_DISTINCT),
    "exact_quantiles": (q_exact_quantiles, _SQL_EXACT_QUANTILES),
    "filter_project": (q_filter_project, _SQL_FILTER_PROJECT),
    "full_outer_join": (q_full_outer_join, _SQL_FULL_OUTER_JOIN),
    "grouping_sets": (q_grouping_sets, _SQL_GROUPING_SETS),
    "heavy_hitters": (q_heavy_hitters, _SQL_HEAVY_HITTERS),
    "histogram": (q_histogram, _SQL_HISTOGRAM),
    "tpch_q1": (q_tpch_q1, _SQL_TPCH_Q1),
    "join_validate": (q_join_validate, _SQL_JOIN_VALIDATE),
    "merge_upsert": (q_merge_upsert, _SQL_MERGE_UPSERT),
    "dag_pipeline": (q_dag_pipeline, _SQL_DAG_PIPELINE),
    "merge_intervals": (q_merge_intervals, _SQL_MERGE_INTERVALS),
    "random_project": (q_random_project, _SQL_RANDOM_PROJECT),
    "embedding_covariance": (
        q_embedding_covariance,
        _SQL_EMBEDDING_COVARIANCE,
    ),
    "ngram_novelty": (q_ngram_novelty, _SQL_NGRAM_NOVELTY),
    "mann_whitney": (q_mann_whitney, _SQL_MANN_WHITNEY),
    "ks_test": (q_ks_test, _SQL_KS_TEST),
    "kruskal_wallis": (q_kruskal_wallis, _SQL_KRUSKAL_WALLIS),
    "spearman_corr": (q_spearman_corr, _SQL_SPEARMAN_CORR),
    "mutual_information": (q_mutual_information, _SQL_MUTUAL_INFORMATION),
    "js_divergence": (q_js_divergence, _SQL_JS_DIVERGENCE),
    "gini": (q_gini, _SQL_GINI),
    "stream_drift": (q_stream_drift, _SQL_STREAM_DRIFT),
    "bpe_merges": (q_bpe_merges, _SQL_BPE_MERGES),
    "bpe_encode": (q_bpe_encode, _SQL_BPE_ENCODE),
    "bpe_pack": (q_bpe_pack, _SQL_BPE_PACK),
    "benford_audit": (q_benford_audit, _SQL_BENFORD_AUDIT),
    "grouped_auc": (q_grouped_auc, _SQL_GROUPED_AUC),
    "cohens_kappa": (q_cohens_kappa, _SQL_COHENS_KAPPA),
    "json_scan": (q_json_scan, _SQL_JSON_SCAN),
    "orc_scan": (q_orc_scan, _SQL_ORC_SCAN),
    "csv_scan": (q_csv_scan, _SQL_CSV_SCAN),
    "cross_join": (q_cross_join, _SQL_CROSS_JOIN),
    "interval_join": (q_interval_join, _SQL_INTERVAL_JOIN),
    "intersect": (q_intersect, _SQL_INTERSECT),
    "except": (q_except, _SQL_EXCEPT),
    "window_moving": (q_window_moving, _SQL_WINDOW_MOVING),
    "lag_lead": (q_lag_lead, _SQL_LAG_LEAD),
    "percentile": (q_percentile, _SQL_PERCENTILE),
    "tpch_q5": (q_tpch_q5, _SQL_TPCH_Q5),
    "tpch_q6": (q_tpch_q6, _SQL_TPCH_Q6),
    "tpch_q8": (q_tpch_q8, _SQL_TPCH_Q8),
    "tpch_q10": (q_tpch_q10, _SQL_TPCH_Q10),
    "tpch_q13": (q_tpch_q13, _SQL_TPCH_Q13),
    "tpch_q14": (q_tpch_q14, _SQL_TPCH_Q14),
    "tpch_q15": (q_tpch_q15, _SQL_TPCH_Q15),
    "tpch_q18": (q_tpch_q18, _SQL_TPCH_Q18),
    "tpch_q19": (q_tpch_q19, _SQL_TPCH_Q19),
    "tpch_q22": (q_tpch_q22, _SQL_TPCH_Q22),
    "minhash_lsh": (q_minhash_lsh, _SQL_MINHASH_LSH),
    "simhash": (q_simhash, _SQL_SIMHASH),
    "global_sort": (q_global_sort, _SQL_GLOBAL_SORT),
    "broadcast_hash_join": (q_broadcast_hash_join, _SQL_BROADCAST_JOIN),
    "token_stats": (q_token_stats, _SQL_TOKEN_STATS),
    "ngram_jaccard": (q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    "cosine_topk": (q_cosine_topk, _SQL_COSINE_TOPK),
    "cosine_topk_lsh": (q_cosine_topk_lsh, _SQL_COSINE_TOPK_LSH),
    "cosine_topk_ivf": (q_cosine_topk_ivf, _SQL_COSINE_TOPK_IVF),
    "embedding_near_dupes": (
        q_embedding_near_dupes,
        _SQL_EMBEDDING_NEAR_DUPES,
    ),
    "quality_score": (q_quality_score, _SQL_QUALITY_SCORE),
    "tpch_q7": (q_tpch_q7, _SQL_TPCH_Q7),
    "attribution": (q_attribution, _SQL_ATTRIBUTION),
    "calibration_bins": (q_calibration_bins, _SQL_CALIBRATION_BINS),
    "psi_drift": (q_psi_drift, _SQL_PSI_DRIFT),
    "lm_score": (q_lm_score, _SQL_LM_SCORE),
    "rolling_active_users": (
        q_rolling_active_users,
        _SQL_ROLLING_ACTIVE_USERS,
    ),
    "collocations": (q_collocations, _SQL_COLLOCATIONS),
    "rendezvous_shard": (q_rendezvous_shard, _SQL_RENDEZVOUS_SHARD),
    "period_over_period": (q_period_over_period, _SQL_PERIOD_OVER_PERIOD),
    "windowed_topk": (q_windowed_topk, _SQL_WINDOWED_TOPK),
    "golden_record": (q_golden_record, _SQL_GOLDEN_RECORD),
    "approx_distinct": (q_approx_distinct, _SQL_APPROX_DISTINCT),
    "approx_percentile_bound": (
        q_approx_percentile_bound,
        _SQL_APPROX_PERCENTILE_BOUND,
    ),
    "cms_frequency": (q_cms_frequency, _SQL_CMS_FREQUENCY),
    "cohort_retention": (q_cohort_retention, _SQL_COHORT_RETENTION),
    "dataset_diff": (q_dataset_diff, _SQL_DATASET_DIFF),
    "edit_distance_pairs": (q_edit_distance_pairs, _SQL_EDIT_DISTANCE_PAIRS),
    "fk_integrity": (q_fk_integrity, _SQL_FK_INTEGRITY),
    "gap_fill": (q_gap_fill, _SQL_GAP_FILL),
    "key_skew_stats": (q_key_skew_stats, _SQL_KEY_SKEW_STATS),
    "ngram_counts": (q_ngram_counts, _SQL_NGRAM_COUNTS),
    "time_weighted_avg": (q_time_weighted_avg, _SQL_TIME_WEIGHTED_AVG),
    "unpivot": (q_unpivot, _SQL_UNPIVOT),
    "stream_session": (q_stream_session, _SQL_SESSION_WINDOW),
    "stream_interval_join": (q_stream_interval_join, _SQL_INTERVAL_JOIN),
    "stream_stateful_totals": (
        q_stream_stateful_totals,
        _SQL_STREAM_STATEFUL_TOTALS,
    ),
    "stream_dedup": (q_stream_dedup, _SQL_STREAM_DEDUP),
    "stream_sliding": (q_stream_sliding, _SQL_SLIDING_WINDOW),
    "pca_component": (q_pca_component, _SQL_PCA_COMPONENT),
    "mixture_weights": (q_mixture_weights, _SQL_MIXTURE_WEIGHTS),
    "importance_sample": (q_importance_sample, _SQL_IMPORTANCE_SAMPLE),
    "apply_mixture": (q_apply_mixture, _SQL_APPLY_MIXTURE),
    "window_distribution": (q_window_distribution, _SQL_WINDOW_DISTRIBUTION),
    "l_diversity": (q_l_diversity, _SQL_L_DIVERSITY),
    "stream_enrich": (q_stream_enrich, _SQL_STREAM_ENRICH),
    "cusum_shift": (q_cusum_shift, _SQL_CUSUM_SHIFT),
    "acf": (q_acf, _SQL_ACF),
    "bootstrap_ci": (q_bootstrap_ci, _SQL_BOOTSTRAP_CI),
    "ann_recall": (q_ann_recall, _SQL_ANN_RECALL),
    "prefix_filter_join": (q_prefix_filter_join, _SQL_PREFIX_FILTER_JOIN),
    "stream_left_join": (q_stream_left_join, _SQL_STREAM_LEFT_JOIN),
    "partition_overwrite": (q_partition_overwrite, _SQL_PARTITION_OVERWRITE),
    "point_in_time_join": (q_point_in_time_join, _SQL_POINT_IN_TIME_JOIN),
    "transition_counts": (q_transition_counts, _SQL_TRANSITION_COUNTS),
    "k_anonymity": (q_k_anonymity, _SQL_K_ANONYMITY),
    "rrf_fusion": (q_rrf_fusion, _SQL_RRF_FUSION),
    "woe_iv": (q_woe_iv, _SQL_WOE_IV),
    "python_udtf": (q_python_udtf, _SQL_PYTHON_UDTF),
    "kfold_split": (q_kfold_split, _SQL_KFOLD_SPLIT),
    "sorted_group_apply": (q_sorted_group_apply, _SQL_SORTED_GROUP_APPLY),
    "proportion_ci": (q_proportion_ci, _SQL_PROPORTION_CI),
    "winsorize": (q_winsorize, _SQL_WINSORIZE),
    "rolling_zscore": (q_rolling_zscore, _SQL_ROLLING_ZSCORE),
    "ohlc_downsample": (q_ohlc_downsample, _SQL_OHLC_DOWNSAMPLE),
    "rollup_maintain": (q_rollup_maintain, _SQL_ROLLUP_MAINTAIN),
    "schema_evolution": (q_schema_evolution, _SQL_SCHEMA_EVOLUTION),
    "triangle_count": (q_triangle_count, _SQL_TRIANGLE_COUNT),
    "weighted_sample": (q_weighted_sample, _SQL_WEIGHTED_SAMPLE),
    "profile_table": (q_profile_table, _SQL_PROFILE_TABLE),
    "stream_cdc_upsert": (q_stream_cdc_upsert, _SQL_STREAM_CDC_UPSERT),
    "zorder_stats": (q_zorder_stats, _SQL_ZORDER_STATS),
    "stream_tumbling": (q_stream_tumbling, _SQL_TUMBLING_WINDOW),
    "observed_metrics": (q_observed_metrics, _SQL_OBSERVED_METRICS),
    "object_registry": (q_object_registry, _SQL_OBJECT_REGISTRY),
    "kmeans_cells": (q_kmeans_cells, _SQL_KMEANS_CELLS),
    "range_frame_window": (q_range_frame_window, _SQL_RANGE_FRAME_WINDOW),
    "scalar_functions": (q_scalar_functions, _SQL_SCALAR_FUNCTIONS),
    "multimodal_meta": (q_multimodal_meta, _SQL_MULTIMODAL_META),
}

# Operative registry order: the documented rotation prefix first (the
# driver's correctness gate reads the first 50 entries), then every
# remaining query in body order. An unknown/missing prefix name is a
# hard error at import — a typo must not silently shrink the gate.
assert len(_PREFIX_R10) == 50, len(_PREFIX_R10)
_missing = [n for n in _PREFIX_R10 if n not in _REGISTRY_BODY]
assert not _missing, f"prefix names absent from registry body: {_missing}"
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    **{n: _REGISTRY_BODY[n] for n in _PREFIX_R10},
    **{k: v for k, v in _REGISTRY_BODY.items() if k not in set(_PREFIX_R10)},
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_mrr_group_order(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
