"""``tables.rows_df``: small driver-side tables through one Arrow table.

Same schema and rows as ``spark.createDataFrame(list, ddl)`` — nulls,
empty input and arrays included — but planned as a JVM local relation,
so evaluating it never starts a Python worker. Naive timestamps are
the one difference: rows_df reads them as session-zone wall time, the
list path in the Python process's local zone, so they are checked as
Spark renders them in the session zone (independent of the process's
TZ) and left out of the list-path comparison.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from adlspark.tables import rows_df

DDL = (
    "name string, n int, total long, ok boolean, score double, "
    "at timestamp, vec array<double>"
)
ROWS = [
    ("a", 1, 10, True, 0.5, datetime.datetime(2026, 1, 2, 3, 4, 5, 6), [1.0, None]),
    (None, None, None, None, None, None, None),
    ("ü", -2, 2**40, False, float("inf"), datetime.datetime(1969, 12, 31), []),
]


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_rows_df_matches_list_path(spark, rows):
    got = rows_df(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    assert got.drop("at").collect() == want.drop("at").collect()


@pytest.mark.parametrize("zone", ["UTC", "America/Lima"])
def test_rows_df_naive_timestamps_are_session_wall_time(spark, zone):
    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", zone)
    got = rows_df(caller, ROWS, DDL).select(
        F.date_format("at", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("at")
    )
    want = [r[5] and r[5].strftime("%Y-%m-%d %H:%M:%S.%f") for r in ROWS]
    assert [r.at for r in got.collect()] == want


def test_rows_df_is_a_local_relation(spark):
    plan = rows_df(spark, ROWS, DDL)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
