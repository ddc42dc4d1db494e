"""Seeded input generator.

Builds one input directory per (scale factor, seed) from the base tables
vendored in `perfbench/base/` (a copy of the repo's sf0.01 test tables, so
the benchmark reads nothing outside its checkout):

1. Spark inflates each table with `tools/make_sf.py`'s `inflate_table`
   (keys k -> k*F + r, FK-consistent; per-replica document token suffixes
   and embedding rotations keep replicas disjoint).
2. The seed permutes the replica slot of every key: k*F + r becomes
   k*F + perm[r], applied to primary and foreign keys alike, so join
   fan-out and group sizes are unchanged.
3. pyarrow puts the rows in a canonical order, shuffles them with the
   seed, and splits each table at seed-chosen points into a fixed number of
   part files named `part-00000.parquet`, ... so one seed always yields
   byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

# Tables above this many rows are split into 4 part files, smaller ones into
# 2. The seed moves the cut points (each part holds 0.9-1.1x the mean) but
# not the file count, which sets the scan task count and so would change
# the work itself from seed to seed.
_BIG_TABLE_ROWS = 5000


def _replica_permutation(factor: int, seed: int) -> list[int]:
    if factor == 1:
        return [0]
    return [int(x) for x in np.random.default_rng([seed, 0]).permutation(factor)]


def inflate(spark, name: str, factor: int, seed: int) -> pa.Table:
    """Inflate one base table with the seed's replica permutation."""
    from pyspark.sql import functions as F

    from hdp_tez_spark.sources.catalog import load_table
    from tools.make_sf import KEY_COLS, inflate_table

    out = inflate_table(load_table(spark, BASE_DIR, name), name, factor)
    perm = _replica_permutation(factor, seed)
    if factor > 1 and name in KEY_COLS:
        slot = F.array(*[F.lit(p) for p in perm])
        for k in KEY_COLS[name]:
            r = F.pmod(F.col(k), F.lit(factor))
            out = out.withColumn(
                k, F.col(k) - r + F.element_at(slot, (r + 1).cast("int"))
            )
    return out.toArrow()


def _canonical_order(table: pa.Table) -> pa.Table:
    keys = [
        (f.name, "ascending")
        for f in table.schema
        if not pa.types.is_list(f.type) and not pa.types.is_large_list(f.type)
    ]
    return table.sort_by(keys)


def shuffle_and_split(table: pa.Table, seed: int, index: int, out_dir: str) -> None:
    """Shuffle rows with the seed and write them as seed-sized part files."""
    rng = np.random.default_rng([seed, 1, index])
    table = _canonical_order(table)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    n = table.num_rows
    parts = min(4 if n > _BIG_TABLE_ROWS else 2, n)
    weights = np.cumsum(rng.uniform(0.9, 1.1, parts))
    bounds = [0, *(int(n * w / weights[-1]) for w in weights[:-1]), n]
    os.makedirs(out_dir, exist_ok=True)
    for i in range(parts):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
            compression="snappy",
        )


def tables_used(queries) -> list[str]:
    """Tables the queries' oracle SQL names; the Spark side reads the same."""
    import re

    import __spark_entry__
    from hdp_tez_spark.sources.catalog import TABLES

    sql = " ".join(__spark_entry__.oracle_sql()[q] for q in queries)
    return [t for t in TABLES if re.search(rf"\b{t}\b", sql)]


def generate(spark, out_dir: str, factor: int, seed: int, tables=None) -> dict:
    """Write every table for (factor, seed) under `out_dir`; return per-table
    row and byte counts."""
    from hdp_tez_spark.sources.catalog import TABLES

    sizes = {}
    for index, name in enumerate(tables or TABLES):
        table_dir = os.path.join(out_dir, f"{name}.parquet")
        shuffle_and_split(inflate(spark, name, factor, seed), seed, index, table_dir)
        files = sorted(os.listdir(table_dir))
        sizes[name] = {
            "rows": pq.ParquetDataset(table_dir).read(columns=[]).num_rows,
            "bytes": sum(os.path.getsize(os.path.join(table_dir, f)) for f in files),
            "files": len(files),
        }
    return sizes

