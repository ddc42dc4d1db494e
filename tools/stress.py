"""Scale-stress harness: run the heavy operator shapes on an input
inflated N-fold IN-PLAN (no extra data on disk) and report wall clock +
shuffle/spill bytes per operator.

The point is headroom evidence, not a benchmark: the sf0.1 tables are
small enough that every shuffle fits in memory, which hides the
behaviors that matter at 100 TB (map-side combine effectiveness,
spill-to-disk, AQE coalescing under real volume). Inflating 20x pushes
the local 2 GiB JVM into exactly those regimes, and an operator whose
wall clock scales ~linearly while spilling cleanly is an operator whose
plan shape survives the next 1000x on a real cluster.

Inflation keeps value DISTRIBUTIONS realistic:
- fact rows are replicated with a shifted join key (orderkey * F + r),
  so join fan-outs and group cardinalities grow with the factor instead
  of collapsing into F-fold duplicate groups;
- value columns are left untouched, so distinct-collapse operators
  (exact quantiles) see the real distinct-vs-rows ratio of duplicated
  domains.

Usage:
    python tools/stress.py                 # factor 20, ~3-6 min
    SPARK_GRAFT_STRESS_FACTOR=5 python tools/stress.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hdp_tez_spark.metrics import TaskMetricsCollector
from hdp_tez_spark.sources.catalog import load_table
from tools.measure import open_session, run, sf_dir

FACTOR = int(os.environ.get("SPARK_GRAFT_STRESS_FACTOR", "20"))


def inflate(df, key_cols: list[str], factor: int):
    """Replicate rows `factor`-fold with shifted integer keys so joins
    and group-bys scale in cardinality, not in duplication."""
    rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__r")
    out = df.select("*", rep)
    for k in key_cols:
        out = out.withColumn(k, F.col(k) * factor + F.col("__r"))
    return out.drop("__r")


def main() -> None:
    data = sf_dir()
    spark = open_session("hdp-tez-spark-stress")

    li = load_table(spark, data, "lineitem")
    orders = load_table(spark, data, "orders")
    big_li = inflate(li, ["l_orderkey"], FACTOR)
    big_orders = inflate(orders, ["o_orderkey"], FACTOR)

    collector = TaskMetricsCollector(spark)
    results: dict[str, dict] = {}

    def shape(name: str, build) -> None:
        rec = run(spark, collector, name, build)
        results[name] = {
            "sec": round(rec["wall_s"], 2),
            "shuffle_mb": round(rec["shuffle_read_bytes"] / 1e6, 1),
            "spill_mb": round(rec["spill_bytes"] / 1e6, 1),
        }
        print(json.dumps({"op": name, "factor": FACTOR, **results[name]}))

    n_rows = big_li.count()
    print(json.dumps({"op": "_rowcount", "factor": FACTOR, "rows": n_rows}))

    # 1. map-side-combined aggregation (tpch_q1 shape): shuffle must stay
    #    |groups|-sized however many rows go in
    shape(
        "group_agg_combine",
        lambda: big_li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity"),
            F.sum("l_extendedprice"),
            F.avg("l_discount"),
            F.count(F.lit(1)),
        ),
    )

    # 2. fact-fact sort-merge join at inflated key cardinality: the
    #    shuffle is row-shaped — this is the one that MUST spill cleanly.
    #    MERGE hint pinned: in-plan explode defeats Catalyst's size
    #    estimation (it would broadcast a 3M-row "dim"); on a real
    #    cluster AQE sizes from actual shuffle stats and picks SMJ itself
    shape(
        "fact_join",
        lambda: big_li.hint("merge").join(
            big_orders, big_li.l_orderkey == big_orders.o_orderkey
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1))),
    )

    # 3. exact quantiles: shuffle O(|distinct|) — inflation duplicates
    #    values, so distinct stays ~constant and so should the shuffle
    from hdp_tez_spark.extensions.analytics import exact_quantiles

    shape(
        "exact_quantiles",
        lambda: exact_quantiles(big_li, "l_extendedprice", [0.5, 0.95, 0.99]),
    )

    # 4. keyed window rank over the full fact table: the row-shaped hash
    #    shuffle + per-key sort that exercises the external sorter
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy(F.desc("l_extendedprice"))
    shape(
        "window_topk_per_key",
        lambda: big_li.select("l_partkey", "l_extendedprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3),
    )

    # 5. global top-k: must compile to per-task heaps, not a global sort
    shape(
        "topk",
        lambda: big_li.orderBy(F.desc("l_extendedprice"))
        .limit(100),
    )

    # 6. Poisson bootstrap: pure expression-heavy map + 1-row aggregate —
    #    wall clock must scale ~linearly in rows with ZERO spill and a
    #    constant-size shuffle (b partial rows per partition)
    from hdp_tez_spark.extensions.experiments import bootstrap_ci

    shape(
        "bootstrap_map",
        lambda: bootstrap_ci(big_orders, "o_orderkey", "o_totalprice", b=32),
    )

    # 7. BPE merge training on an inflated corpus: the corpus pass scales
    #    with rows, but every merge round is VOCAB-sized — inflation
    #    replicates documents, so the vocabulary (and thus per-round cost)
    #    stays constant; the factor shows up once, not once per round
    docs = load_table(spark, data, "documents")
    big_docs = docs.select("text").crossJoin(
        spark.range(FACTOR).select(F.col("id").alias("__r"))
    )
    from hdp_tez_spark.extensions.textstats import bpe_merges

    shape(
        "bpe_train",
        lambda: bpe_merges(big_docs, "text", n_merges=4),
    )

    # importance sampling at 20x: ONE md5 draw + one pow per row against
    # a broadcast (n, Σw) scalar — must scale linearly with zero
    # shuffle/spill (the 1-row aggregate is the only exchange)
    from hdp_tez_spark.extensions.curation import importance_sample

    big_scored = big_orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").cast("double").alias("score"),
    )
    shape(
        "importance_sample",
        lambda: importance_sample(big_scored, "id", "score", 2.0, 0.1),
    )

    total = round(sum(r["sec"] for r in results.values()), 2)
    print(
        json.dumps(
            {
                "metric": "stress_wall_clock",
                "factor": FACTOR,
                "rows": n_rows,
                "value": total,
                "unit": "sec",
                "ops": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
