"""Pin the local correctness gate's driver-fidelity semantics.

The gate (tools/check_correctness.py) must be a faithful replica of the
external driver's compare, or bug classes survive locally and surface as
red driver rows one round later (embedding_covariance: two rounds red
because float tolerance hid a -0.0 vs 0.0 string split). These tests pin
the --exact mode and the fidelity checks against exactly those classes.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np
import pandas as pd
import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "check_correctness.py",
)


@pytest.fixture(scope="module")
def tool():
    spec = importlib.util.spec_from_file_location("check_correctness", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["check_correctness"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_exact_mode_catches_negative_zero(tool):
    a = pd.DataFrame({"cov": [0.0, 1.5]})
    b = pd.DataFrame({"cov": [-0.0, 1.5]})
    # the floats compare equal (-0.0 == 0.0), but the driver's string
    # hash does not: BOTH modes must flag it — tolerance mode via the
    # driver_fidelity negative-zero count, exact mode via the cell diff
    tolerant = tool.compare("q", a, b)
    assert tolerant and "negative-zero" in tolerant[0]
    problems = tool.compare("q", a, b, exact=True)
    assert problems and any("-0.0" in p for p in problems)


def test_fidelity_flags_negative_zero_imbalance(tool):
    a = pd.DataFrame({"x": [0.0]})
    b = pd.DataFrame({"x": [-0.0]})
    probs = tool.negzero_mismatch(tool.canonical(a), tool.canonical(b))
    assert any("negative-zero" in p for p in probs)


def test_fidelity_flags_negative_zero_position_swap(tool):
    """Equal COUNTS of -0.0 on both sides but in different rows: the old
    count-based heuristic passed this silently (ADVICE r06); the
    element-wise signbit mask on canonical frames must flag it. The key
    column makes the two -0.0 cells land in different sorted rows."""
    a = pd.DataFrame({"k": ["a", "b"], "x": [-0.0, 0.0]})
    b = pd.DataFrame({"k": ["a", "b"], "x": [0.0, -0.0]})
    probs = tool.negzero_mismatch(tool.canonical(a), tool.canonical(b))
    assert any("negative-zero" in p for p in probs)
    # and tolerant-mode compare surfaces it end-to-end
    assert any("negative-zero" in p for p in tool.compare("q", a, b))


def test_exact_mode_matches_date_vs_midnight_datetime(tool):
    """Spark DATE comes back as datetime.date objects; DuckDB DATE as
    datetime64. The driver hashed these equal in r05, so --exact must
    too (column-level astype(str) prints both as '2024-01-01')."""
    import datetime

    a = pd.DataFrame({"d": [datetime.date(2024, 1, 1)]})
    b = pd.DataFrame({"d": pd.to_datetime(["2024-01-01"])})
    assert tool.exact_compare(tool.canonical(a), tool.canonical(b)) == []


def test_exact_mode_catches_int_float_split(tool):
    a = pd.DataFrame({"n": np.array([5], dtype="int64")})
    b = pd.DataFrame({"n": np.array([5.0], dtype="float64")})
    problems = tool.exact_compare(tool.canonical(a), tool.canonical(b))
    assert problems and "'5'" in problems[0] and "'5.0'" in problems[0]


def test_exact_mode_passes_identical_frames(tool):
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.25, -0.5]})
    b = pd.DataFrame({"k": ["y", "x"], "v": [-0.5, 1.25]})  # row order differs
    assert tool.compare("q", a, b, exact=True) == []


def test_tz_aware_timestamps_normalize_to_utc_naive(tool):
    """Spark-written parquet is UTC-adjusted, so DuckDB yields tz-aware
    cells while the driver's single-file testdata yields naive ones
    (surfaced by the sf1.0 probe, r07): canonical() must strip the zone
    after converting to UTC so the string compare sees one form."""
    aware = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-06-01 05:45:00"]).tz_localize("Asia/Kathmandu")}
    )
    naive = pd.DataFrame({"ts": pd.to_datetime(["2024-06-01 00:00:00"])})
    assert tool.exact_compare(tool.canonical(aware), tool.canonical(naive)) == []
    # fidelity must not crash on the extension dtype either (old
    # np.issubdtype raised TypeError on datetime64[us, Etc/UTC])
    assert tool.driver_fidelity(aware, naive) == []


def test_duck_con_reads_spark_written_table_dirs(tool, tmp_path):
    """duck_con must register both layouts: the driver's single-file
    tables and Spark-written DIRECTORIES of part files (local sf1.0)."""
    import duckdb

    from hdp_tez_spark.sources.catalog import TABLES

    # one table as a directory of parts, the rest as single files
    pdf = pd.DataFrame({"r_regionkey": [0, 1], "r_name": ["A", "B"]})
    d = tmp_path / "region.parquet"
    d.mkdir()
    pdf.iloc[:1].to_parquet(d / "part-0.parquet")
    pdf.iloc[1:].to_parquet(d / "part-1.parquet")
    for t in TABLES:
        if t != "region":
            pd.DataFrame({"x": [1]}).to_parquet(tmp_path / f"{t}.parquet")
    con = tool.duck_con(str(tmp_path))
    assert con.sql("SELECT count(*) FROM region").fetchone()[0] == 2


def test_git_head_outside_a_checkout_is_unknown(tool, monkeypatch):
    """Outside a git checkout `git rev-parse` exits non-zero WITHOUT
    raising and prints nothing; the stamp must still say "unknown", not
    an empty string."""
    import subprocess

    def no_repo(cmd, **kw):
        return subprocess.CompletedProcess(cmd, 128, stdout="", stderr="fatal")

    monkeypatch.setattr(subprocess, "run", no_repo)
    assert tool._git_head() == "unknown"
