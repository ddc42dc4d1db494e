"""Oracle check: a query's Spark output against its registry DuckDB SQL on
the same generated input, with `tools/check_correctness.py`'s exact
comparison (canonical row order, the driver's cell strings)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd


class Oracle:
    def __init__(self, data_dir: str) -> None:
        import __spark_entry__

        # one view per generated table (a workload generates only the
        # tables its queries read)
        self._con = duckdb.connect()
        for entry in sorted(os.listdir(data_dir)):
            table = entry.removesuffix(".parquet")
            self._con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data_dir}/{entry}/*.parquet')")
        self._sql = __spark_entry__.oracle_sql()

    def check(self, name: str, spark_pdf: pd.DataFrame) -> list[str]:
        """Problems found; empty when the outputs match exactly."""
        from tools.check_correctness import compare

        if name not in self._sql:
            return ["the registry has no oracle SQL for this query"]
        return compare(name, spark_pdf, self._con.sql(self._sql[name]).df(), exact=True)
