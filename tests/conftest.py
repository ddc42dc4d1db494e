from __future__ import annotations

import re
import sys
from pathlib import Path

import duckdb
import pytest
from hypothesis import HealthCheck, Phase

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hdp_tez_spark.session import get_session
from hdp_tez_spark.sources.catalog import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"

# Hypothesis settings shared by the Spark-backed property tests
# (`@settings(**SETTINGS)`; files wanting fewer examples override only
# max_examples). No shrink phase: every example runs Spark jobs, so a
# failing property shrank for minutes before reporting (121.6 s against
# 7.6 s passing) — the failing example is reported as drawn instead.
# Phase.explicit stays, so `@example` pins still run.
SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    phases=[Phase.explicit, Phase.reuse, Phase.generate, Phase.target],
)


def py_tokens(text: str) -> list[str]:
    """Python twin of functions.text.tokenize."""
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def py_word_ngrams(toks: list[str], n: int) -> list[str]:
    """Python twin of functions.text.word_ngrams."""
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def py_shingles(text: str, k: int) -> set[str]:
    """Python twin of dedup._shingles: distinct word k-grams; short or
    empty docs collapse to the single joined-token shingle (empty doc ->
    the empty string, exactly like concat_ws over an empty array)."""
    toks = py_tokens(text)
    return set(py_word_ngrams(toks, k)) if len(toks) >= k else {" ".join(toks)}


@pytest.fixture(scope="session")
def spark():
    s = get_session("hdp-tez-spark-tests", master="local[8]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
