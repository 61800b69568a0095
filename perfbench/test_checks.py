"""Each output check of the benchmark must be able to fail.

Run with ``python3 -m pytest perfbench/test_checks.py -q`` (no Spark
needed: the checks work on Arrow tables and DuckDB).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os

import duckdb
import pyarrow as pa
import pytest

import checks
import workloads


def base() -> pa.Table:
    return pa.table({
        "k": pa.array([1, 2, 3, 3], pa.int64()),
        "v": pa.array([0.5, 1.25, None, 2.0], pa.float64()),
        "s": ["a", "b", "c", "c"],
        "ts": pa.array([datetime.datetime(2024, 1, 1, 0, 0, i) for i in range(4)], pa.timestamp("us")),
    })


def test_equal_tables_in_any_row_and_column_order_match():
    t = base()
    shuffled = t.take([3, 1, 0, 2]).select(["s", "ts", "v", "k"])
    assert checks.compare_tables(shuffled, t) is None


def test_widths_and_time_zone_are_not_differences():
    t = base()
    other = t.set_column(0, "k", t.column("k").cast(pa.int32()))
    other = other.set_column(3, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))
    assert checks.compare_tables(other, t) is None


def test_changed_value_is_rejected():
    t = base()
    changed = t.set_column(1, "v", pa.array([0.5, 1.25, None, 2.0000001]))
    assert "values differ" in checks.compare_tables(changed, t)


def test_dropped_row_is_rejected():
    t = base()
    assert "row count" in checks.compare_tables(t.slice(0, 3), t)


def test_multiplicity_change_is_rejected():
    t = base()
    # same row count and same set of distinct rows, different multiset
    skewed = t.take([0, 0, 2, 3])
    assert checks.compare_tables(skewed, t) is not None


def test_null_versus_value_is_rejected():
    t = base()
    nulled = t.set_column(1, "v", pa.array([0.5, None, None, 2.0]))
    assert checks.compare_tables(nulled, t) is not None


def test_int_double_drift_is_rejected():
    t = base()
    drift = t.set_column(0, "k", t.column("k").cast(pa.float64()))
    assert "type int vs float" in checks.compare_tables(t, drift)
    assert "type float vs int" in checks.compare_tables(drift, t)


@pytest.mark.parametrize("other", [pa.int64(), pa.float64()])
def test_decimal_drift_is_rejected(other):
    dec = pa.table({"x": pa.array([decimal.Decimal("1.00"), decimal.Decimal("2.50")], pa.decimal128(10, 2))})
    num = pa.table({"x": pa.array([1, 2]).cast(other) if other == pa.int64() else pa.array([1.0, 2.5])})
    assert "decimal" in checks.compare_tables(num, dec)


def test_decimal_scale_is_not_a_difference():
    a = pa.table({"x": pa.array([decimal.Decimal("2.5")], pa.decimal128(10, 1))})
    b = pa.table({"x": pa.array([decimal.Decimal("2.50")], pa.decimal128(20, 2))})
    assert checks.compare_tables(a, b) is None


def test_renamed_column_is_rejected():
    t = base()
    assert "columns differ" in checks.compare_tables(t.rename_columns(["k", "v", "s", "t"]), t)


def test_nested_values_are_compared():
    a = pa.table({"l": pa.array([[1.0, 2.0], [3.0]], pa.list_(pa.float32()))})
    b = pa.table({"l": pa.array([[3.0], [1.0, 2.0]], pa.list_(pa.float64()))})
    assert checks.compare_tables(a, b) is None
    c = pa.table({"l": pa.array([[3.0], [2.0, 1.0]], pa.list_(pa.float64()))})
    assert checks.compare_tables(a, c) is not None


def test_conservation():
    assert checks.check_conservation(100, 97, 3, 3) is None
    assert "written" in checks.check_conservation(100, 96, 3, 3)
    assert "injected" in checks.check_conservation(100, 96, 4, 3)


def test_content_hash_matches_the_catalog_definition(tmp_path):
    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "part-1.parquet").write_bytes(b"one")
    (tmp_path / "d" / "part-0.parquet").write_bytes(b"zero!")
    (tmp_path / "d" / "_SUCCESS").write_bytes(b"")
    md5 = lambda b: hashlib.md5(b).hexdigest()  # noqa: E731
    lines = f"part-0.parquet:{md5(b'zero!')}\npart-1.parquet:{md5(b'one')}"
    assert checks.content_hash(str(tmp_path / "d")) == (8, md5(lines.encode()))
    assert checks.content_hash(str(tmp_path / "d" / "part-1.parquet")) == (3, md5(b"one"))


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(0, 'a b c d e'), (1, 'a b c d e'), (2, 'a b c d f'), (3, 'x y z w v')) t(doc_id, text)"
    )
    yield c
    c.close()


def pairs(rows):
    return pa.table({
        "id1": pa.array([r[0] for r in rows], pa.int64()),
        "id2": pa.array([r[1] for r in rows], pa.int64()),
        "jaccard_dist": pa.array([r[2] for r in rows], pa.float64()),
    })


def test_minhash_pairs(con):
    # docs 0/1 are identical; 0/2 and 1/2 share 2 of 4 shingles (dist 0.5)
    assert checks.check_minhash_pairs(pairs([(0, 1, 0.0)]), con) is None
    assert "missing" in checks.check_minhash_pairs(pairs([]), con)
    assert "threshold" in checks.check_minhash_pairs(pairs([(0, 1, 0.0), (0, 2, 0.5)]), con)
    assert "threshold" in checks.check_minhash_pairs(pairs([(0, 1, 0.1)]), con)
    assert "threshold" in checks.check_minhash_pairs(pairs([(1, 0, 0.0)]), con)


def test_search_expected():
    b = workloads.Batch("events_raw", "json", "e.json", "user_id long, value double",
                        [], {}, pa.table({}), 0, 0)
    staged = {"events_raw": os.path.join("x", "events_raw")}
    assert workloads.search_expected([b], staged, ["user_id", "l_tax"]) == {("events_raw", 1, "user_id")}
    assert workloads.search_expected([b], staged, ["l_tax"]) == set()


def test_hd_quantile():
    import run

    assert run.hd_quantile([5.0], 0.5) == 5.0
    assert run.hd_quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    xs = [0.2, 0.5, 0.9, 1.4, 6.0]
    assert min(xs) < run.hd_quantile(xs, 0.5) < run.hd_quantile(xs, 0.9) < max(xs)
