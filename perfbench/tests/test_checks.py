"""The output checks must fail on a hand-corrupted table."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import SparkSession

from perfbench import checks

DAY = dt.datetime(2023, 5, 30)
SCHEMA = ("station_id int, timestamp timestamp, qc double, filled double, "
          "filled_by smallint, corr double")


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[2]").appName("perfbench-checks")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    yield s
    s.stop()


def _rows():
    """Two stations x three 10-min slots; station 2 misses slot 1 and
    has it filled from station 1."""
    out = []
    for sid in (1, 2):
        for k in range(3):
            ts = DAY + dt.timedelta(minutes=10 * k)
            if sid == 2 and k == 1:
                out.append((sid, ts, None, 0.4, 1, 0.45))
            else:
                out.append((sid, ts, 0.1 * k, 0.1 * k, None, 0.1 * k * 1.08))
    return out


def _run(spark, rows) -> list[str]:
    c = checks.Checks()
    lo, hi = DAY, DAY + dt.timedelta(days=1)
    checks.check_new_days(c, spark.createDataFrame(rows, SCHEMA), "p", lo, hi, 6)
    return c.failures


def test_clean_table_passes(spark):
    assert _run(spark, _rows()) == []


@pytest.mark.parametrize("corrupt, expect", [
    (lambda r: r[:-1], "rows in the new days"),
    (lambda r: [r[0][:3] + (None,) + r[0][4:]] + r[1:], "filled rows"),
    (lambda r: [r[0][:4] + (2,) + r[0][5:]] + r[1:], "filled_by disagrees"),
    (lambda r: r[:4] + [r[4][:4] + (None,) + r[4][5:]] + r[5:], "filled_by disagrees"),
    (lambda r: [r[0][:5] + (None,)] + r[1:], "new rows with corr"),
    (lambda r: r[:2] + [r[2][:5] + (0.0,)] + r[3:], "corr < filled"),
])
def test_corrupted_table_fails(spark, corrupt, expect):
    fails = _run(spark, corrupt(_rows()))
    assert any(expect in f for f in fails), fails


def test_digest_ignores_order_and_sees_values(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, SCHEMA)
    cols = df.columns
    d, n = checks.digest(df, cols)
    assert n == len(rows)
    assert checks.digest(spark.createDataFrame(rows[::-1], SCHEMA), cols) == (d, n)
    changed = rows[:1] + [rows[1][:3] + (0.2,) + rows[1][4:]] + rows[2:]
    assert checks.digest(spark.createDataFrame(changed, SCHEMA), cols)[0] != d
