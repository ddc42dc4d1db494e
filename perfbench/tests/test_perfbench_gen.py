"""The seeded generator: one seed, one byte-identical input."""

import hashlib
import os

import pytest

import gen

TABLES = ["nation", "orders", "documents", "embeddings"]


@pytest.fixture(scope="module")
def spark():
    from hdp_tez_spark.session import get_session

    s = get_session("perfbench-test", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _digest(root):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_gives_identical_files(spark, tmp_path):
    a = gen.generate(spark, str(tmp_path / "a"), 2, 5, TABLES)
    b = gen.generate(spark, str(tmp_path / "b"), 2, 5, TABLES)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")


def test_other_seed_same_rows_other_files(spark, tmp_path):
    a = gen.generate(spark, str(tmp_path / "a"), 2, 5, TABLES)
    b = gen.generate(spark, str(tmp_path / "b"), 2, 6, TABLES)
    assert {t: v["rows"] for t, v in a.items()} == {t: v["rows"] for t, v in b.items()}
    assert _digest(tmp_path / "a") != _digest(tmp_path / "b")


def test_inflation_keeps_keys_consistent(spark, tmp_path):
    import pyarrow.dataset as ds

    gen.generate(spark, str(tmp_path), 3, 5, ["customer", "orders"])
    cust = set(ds.dataset(str(tmp_path / "customer.parquet")).to_table()["c_custkey"].to_pylist())
    orders = ds.dataset(str(tmp_path / "orders.parquet")).to_table()
    keys = orders["o_orderkey"].to_pylist()
    assert len(set(keys)) == len(keys)  # primary keys stay unique
    assert set(orders["o_custkey"].to_pylist()) <= cust  # every FK resolves
