"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on DuckDB
against the same parquet tables, compares row count, schema (column names),
and values (sorted columns + rows, float tolerance). Usage:

    python tools/check_correctness.py [--vanilla] [--exact] [sf_dir] [query ...]

--vanilla runs the queries on an untuned SparkSession (default-memory JVM,
no AQE profile) — the exact session the external driver uses.

--exact replaces the tolerance-based float comparison with the driver's
actual semantics: canonicalize (sort columns by name, rows by value),
stringify every cell, compare strings. This catches the classes of bug
tolerance hides — `-0.0` vs `0.0` (IEEE negative zero survives round()),
`5` vs `5.0` dtype splits, and float formatting drift — which is exactly
how `embedding_covariance` stayed red for two rounds while the tolerant
gate passed it (r05 verdict: 64/2080 cells differed only in zero sign).
"""

from __future__ import annotations

import gc
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from hdp_tez_spark.session import get_session
from hdp_tez_spark.sources.catalog import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver testdata ships single files; Spark-written tables (e.g.
        # the local make_sf.py sf1.0) are directories of part files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            # Spark-written parquet (e.g. the local sf1.0) is
            # UTC-adjusted, so DuckDB yields tz-aware cells while the
            # driver's single-file testdata yields naive ones; compare
            # in UTC-naive form on both sides
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if df[c].dtype == object:
            # normalize lists/arrays to tuples for sortability
            if df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
                df[c] = df[c].map(
                    lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
                )
    try:
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    except Exception:
        df = df.iloc[np.lexsort([df[c].astype(str) for c in reversed(df.columns)])]
        df = df.reset_index(drop=True)
    return df


def driver_fidelity(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Flag result shapes the external driver cannot hash even when values
    agree. The driver canonicalizes by sorting raw column values and
    hashing their string forms, so (a) list/array cells crash its sort
    (r02: collect_sorted, label_centroids) and (b) an int64-vs-float64
    dtype split hashes '5' vs '5.0' (r02: json_extract, sessionize —
    DuckDB HUGEINT sums land in pandas as float64)."""
    problems = []
    for pdf, side in ((spark_pdf, "spark"), (duck_pdf, "duck")):
        for c in pdf.columns:
            if pdf[c].dtype == object and pdf[c].map(
                lambda v: isinstance(v, (list, np.ndarray))
            ).any():
                problems.append(
                    f"col {c} ({side}): list-valued cells — driver canon "
                    "crashes on these; serialize or explode"
                )
    for c in spark_pdf.columns:
        if c not in duck_pdf.columns:
            continue
        sd, dd = spark_pdf[c].dtype, duck_pdf[c].dtype
        # pandas checkers, not np.issubdtype: extension dtypes like
        # datetime64[us, Etc/UTC] are not numpy dtypes and would raise
        s_int = pd.api.types.is_integer_dtype(sd)
        d_int = pd.api.types.is_integer_dtype(dd)
        s_flt = pd.api.types.is_float_dtype(sd)
        d_flt = pd.api.types.is_float_dtype(dd)
        if (s_int and d_flt) or (s_flt and d_int):
            problems.append(
                f"col {c}: dtype split spark={sd} duck={dd} — driver hash "
                "compares '5' vs '5.0'; align types (cast HUGEINT sums to "
                "BIGINT in the oracle)"
            )
    return problems


def negzero_mismatch(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """Element-wise IEEE negative-zero check on CANONICAL (sorted)
    frames: round(tiny_negative, k) -> -0.0, which str()s as '-0.0' and
    breaks the driver's string hash against a '+0.0' in the same
    position on the other side even though -0.0 == 0.0 as floats.
    Positional signbit masks (not per-column counts) so equal numbers
    of -0.0 cells in DIFFERENT rows still flag."""
    problems = []
    for c in a.columns:
        if not (
            pd.api.types.is_float_dtype(a[c].dtype)
            and pd.api.types.is_float_dtype(b[c].dtype)
        ):
            continue
        av = a[c].to_numpy(dtype=float)
        bv = b[c].to_numpy(dtype=float)
        am = np.signbit(av) & (av == 0.0)
        bm = np.signbit(bv) & (bv == 0.0)
        neq = am != bm
        if neq.any():
            i = int(np.argmax(neq))
            problems.append(
                f"col {c}: negative-zero at sorted-row {i} on "
                f"{'spark' if am[i] else 'duck'} side only — driver hashes "
                "'-0.0' != '0.0'; normalize with + 0.0 on both sides"
            )
    return problems


def _col_str(s: pd.Series) -> pd.Series:
    """Column-level astype(str) — the driver's canonical string form.
    This matters: per-cell str() prints a midnight datetime64 as
    '2024-01-01 00:00:00' while astype(str) prints '2024-01-01' (same as
    a datetime.date cell), and the r05 driver hashed Spark DATE vs
    DuckDB DATE-as-datetime64 columns equal — so astype(str) is the
    faithful form. NULLs: None -> 'None', NaN -> 'nan' on both sides."""
    return s.astype(str)


def exact_compare(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """Driver-faithful compare: stringify every canonical cell, demand
    byte equality. `a`/`b` must already be canonical()-ized."""
    problems = []
    for c in a.columns:
        av = _col_str(a[c]).to_numpy()
        bv = _col_str(b[c]).to_numpy()
        neq = av != bv
        if neq.any():
            i = int(np.argmax(neq))
            problems.append(
                f"col {c}: exact {av[i]!r} != {bv[i]!r} at sorted-row {i} "
                f"({int(neq.sum())} mismatched cells)"
            )
    return problems


def compare(
    name: str,
    spark_pdf: pd.DataFrame,
    duck_pdf: pd.DataFrame,
    exact: bool = False,
) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"schema spark={scols} duck={dcols}")
        return problems
    if problems:
        return problems
    problems.extend(driver_fidelity(spark_pdf, duck_pdf))
    a, b = canonical(spark_pdf), canonical(duck_pdf)
    problems.extend(negzero_mismatch(a, b))
    if exact:
        problems.extend(exact_compare(a, b))
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            af = av.astype(float).to_numpy()
            bf = bv.astype(float).to_numpy()
            ok = np.isclose(af, bf, rtol=1e-9, atol=1e-9, equal_nan=True)
            if not ok.all():
                i = int(np.argmin(ok))
                problems.append(f"col {c}: {af[i]} != {bf[i]} at sorted-row {i}")
        else:
            eq = (av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                problems.append(f"col {c}: {av.iloc[i]!r} != {bv.iloc[i]!r} at sorted-row {i}")
    return problems


def _git_head() -> str:
    """Current repo HEAD sha (+ '-dirty' when the worktree differs), so
    sweep artifacts are self-describing: the #1 drift class in past
    rounds was a close-the-round sweep that silently predated the final
    commit (VERDICT r09 task #7). Never raises — stamping must not be
    able to break a sweep."""
    import subprocess

    try:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        if not sha:  # not a git checkout: git exits non-zero, no raise
            return "unknown"
        dirty = subprocess.run(
            ["git", "status", "--porcelain"], cwd=root,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        return (sha + "-dirty") if dirty else sha
    except Exception:
        return "unknown"


def main() -> int:
    raw = sys.argv[1:]
    tz = None
    if "--tz" in raw:
        i = raw.index("--tz")
        tz = raw[i + 1]
        raw = raw[:i] + raw[i + 2 :]
    json_path = None
    if "--json" in raw:
        i = raw.index("--json")
        json_path = raw[i + 1]
        raw = raw[:i] + raw[i + 2 :]
    args = [a for a in raw if a not in ("--vanilla", "--exact")]
    vanilla = "--vanilla" in raw
    exact = "--exact" in raw
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if vanilla:
        # exact driver contract: an untuned session (default 1g JVM, no
        # AQE/partition profile) — what the external harness runs
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_session("correctness-check", master="local[8]")
    if tz:
        # TZ robustness probe (verify-skill gotcha): the catalog pins UTC
        # internally, so oracle matches must hold under any session zone.
        spark.conf.set("spark.sql.session.timeZone", tz)
    con = duck_con(sf_dir)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    head_at_start = _git_head()
    results: dict[str, str] = {}
    failures = 0
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            results[name] = f"spark raised {type(e).__name__}: {e}"
            failures += 1
            continue
        if name not in oracles:
            print(f"skip {name}: no oracle (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
            results[name] = f"skip: no oracle (rows={len(sdf)})"
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            results[name] = f"duckdb raised {type(e).__name__}: {e}"
            failures += 1
            continue
        problems = compare(name, sdf, ddf, exact=exact)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems) + f" [{time.time()-t0:.1f}s]")
            results[name] = "FAIL: " + "; ".join(problems)
        else:
            print(f"ok   {name} rows={len(sdf)} [{time.time()-t0:.1f}s]")
            results[name] = "ok"
        # Same JVM hygiene as bench.py's loop: drop the Python-side
        # DataFrame refs and nudge the JVM GC so ContextCleaner releases
        # broadcast + localCheckpoint blocks between queries. Without
        # this a 200+-query sweep starves the shared driver heap until
        # ANY later broadcast build fails ("not enough memory to build
        # and broadcast" — bloom_decontaminate in the r09 sf1.0 sweep
        # died this way while passing solo).
        gc.collect()
        n_run += 1
        if n_run % 8 == 0:
            spark.sparkContext._jvm.System.gc()
    print(f"\n{failures} failures")
    if json_path:
        # Self-describing sweep artifact (--at-head stamp): the HEAD sha
        # at start AND finish plus the live registry size, so "this
        # sweep covered the closing commit, whole registry" is a
        # mechanical check instead of a log-archaeology claim.
        import json as _json

        payload = {
            "git_head_at_start": head_at_start,
            "git_head_at_finish": _git_head(),
            "registry_count": len(qs),
            "queries_run": len(results),
            "failures": failures,
            "sf_dir": sf_dir,
            "exact": exact,
            "vanilla": vanilla,
            "tz": tz,
            # the reliable-checkpoint switch (plans/checkpoints.py), e.g.
            # from `--conf spark.checkpoint.dir=...`; None = local cuts
            "checkpoint_dir": spark.sparkContext.getCheckpointDir(),
            "results": results,
        }
        with open(json_path, "w") as fh:
            _json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_path} @ {payload['git_head_at_finish'][:12]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
