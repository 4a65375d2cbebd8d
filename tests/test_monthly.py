"""Unit tests for the monthly-series device (operators/monthly.py): the
engine `autocorrelations` and its DuckDB twin `autocorrelations_sql`
agree on hand-built series (a missing month, a constant series, one
month, more lags than months), and `monthly_revenue` gives the same
months under the month-index and (year, month) keys.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb
import pandas as pd
import pytest

from ocean_data_pipeline_spark.operators.monthly import (
    MONTH_INDEX,
    YEAR_MONTH,
    autocorrelations,
    autocorrelations_sql,
    month_index,
    monthly_revenue,
    monthly_revenue_sql,
    year_month,
)

# Revenue-sized values: Σx² at scale 4 is past 2^53, where DuckDB needs
# the VARCHAR hop to round its decimal->double cast once, as Spark does.
_SERIES = {
    1: "118273645.17",
    2: "120004512.93",
    3: "98765432.10",
    4: "131313131.31",
    5: "125000000.05",
    6: "99999999.99",
    7: "117171717.71",
    8: "108642097.53",
}


def _both(spark, series: dict[int, str], max_lag: int):
    """`autocorrelations` on Spark and its SQL twin on DuckDB over the same
    (t, x DECIMAL(18,2)) rows; both as (k, npairs, n, sx, r_k) sorted by k."""
    rows = [(t, Decimal(x)) for t, x in series.items()]
    m = spark.createDataFrame(rows, "t int, x decimal(18,2)")
    got = [tuple(r) for r in autocorrelations(m, max_lag).orderBy("k").collect()]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE m (t INTEGER, x DECIMAL(18,2))")
        con.executemany("INSERT INTO m VALUES (?, ?)", rows)
        want = con.execute(
            f"SELECT k, npairs, n, sx, r_k FROM ({autocorrelations_sql('m', max_lag)}) "
            "ORDER BY k"
        ).fetchall()
    finally:
        con.close()
    return got, [tuple(r) for r in want]


@pytest.fixture
def ansi(spark):
    """Spark under ANSI: a double divided by 0.0 raises DIVIDE_BY_ZERO."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", old)


def test_missing_month_counts_only_present_pairs(spark, ansi):
    series = {t: x for t, x in _SERIES.items() if t != 5}
    got, want = _both(spark, series, 3)
    assert got == want
    # lag 1 pairs: (1,2) (2,3) (3,4) (6,7) (7,8) -> 5 < n - k = 6
    assert [(k, npairs, n) for k, npairs, n, _, _ in got] == [
        (1, 5, 7), (2, 4, 7), (3, 3, 7)
    ]
    assert all(r is not None and -1.0 <= r <= 1.0 for *_, r in got)


def test_constant_series_gives_null_r_k_on_both_engines(spark, ansi):
    got, want = _both(spark, {t: "250.00" for t in range(1, 7)}, 2)
    assert got == want
    assert [(k, npairs, r) for k, npairs, _, _, r in got] == [(1, 5, None), (2, 4, None)]


def test_one_month_has_no_lag_rows(spark, ansi):
    got, want = _both(spark, {7: "4321.09"}, 3)
    assert got == want == []


def test_more_lags_than_months(spark, ansi):
    series = {t: _SERIES[t] for t in (1, 2, 3, 4)}
    got, want = _both(spark, series, 6)
    assert got == want
    assert [k for k, *_ in got] == [1, 2, 3]  # lag >= 4 has no pair


def test_monthly_revenue_same_months_under_both_keys(spark):
    orders = [
        (dt.date(1995, 11, 3), 1000.25),
        (dt.date(1995, 11, 30), 0.75),
        (dt.date(1995, 12, 31), 333.333),
        (dt.date(1996, 1, 1), 12.5),
        (dt.date(1996, 1, 15), 99999.99),
        (dt.date(1996, 3, 9), 42.0),
    ]
    o = spark.createDataFrame(orders, "o_orderdate date, o_totalprice double")
    by_t = {r["t"]: r["x"] for r in monthly_revenue(o, month_index()).collect()}
    by_ym = {
        r["y"] * 12 + r["mo"]: r["x"] for r in monthly_revenue(o, *year_month()).collect()
    }
    assert by_t == by_ym
    assert by_t[1995 * 12 + 11] == Decimal("1001.00")
    assert sorted(by_t) == [1995 * 12 + 11, 1995 * 12 + 12, 1996 * 12 + 1, 1996 * 12 + 3]

    con = duckdb.connect()
    try:
        con.register("orders", pd.DataFrame(orders, columns=["o_orderdate", "o_totalprice"]))
        sql_t = dict(con.execute(monthly_revenue_sql(MONTH_INDEX)).fetchall())
        sql_ym = {
            y * 12 + mo: x for y, mo, x in con.execute(monthly_revenue_sql(*YEAR_MONTH)).fetchall()
        }
    finally:
        con.close()
    assert sql_t == sql_ym == by_t
