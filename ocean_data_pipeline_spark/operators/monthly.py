"""The monthly revenue series and its lag-k autocorrelations.

The monthly-revenue time-series queries start from one relation: a row
per calendar month of `orders`, with ``x`` the month's revenue summed
exactly in DECIMAL(18,2) and re-quantized to (18,2). The month keys are
the caller's: the month index ``t = year*12 + month`` (consecutive
months differ by 1, so lag joins are ``t + k``), ``(y, mo)``, or both.

The ACF family (ACF, Ljung-Box, Yule-Walker, PACF) then needs r_k at
lags 1..K. It is computed WITHOUT centering the series first: r_k
expands algebraically into exact-DECIMAL sums (the global n, Σx, Σx²
and, per lag, the pair count, Σx·x₊ₖ and the head/tail sums), so one
aggregate per side gives the statistic with no per-element (x-μ) pass
whose accumulation order could drift. μ and the r_k chain are the same
IEEE tree on both engines, and r_k is NULL when the denominator is 0
(a constant series): Spark under ANSI raises on a double divided by
0.0, DuckDB returns NULL, and the guard makes both NULL.

The engine side (`monthly_revenue`, `autocorrelations`) and the DuckDB
oracle side (`monthly_revenue_sql`, `autocorrelations_sql`) sit side by
side, so the two engines run the identical sums. Callers own the
post-processing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.operators.portable import vh

#: SQL month keys: the month index, and the (year, month) pair.
MONTH_INDEX = "year(o_orderdate) * 12 + month(o_orderdate) AS t"
YEAR_MONTH = ("year(o_orderdate) AS y", "month(o_orderdate) AS mo")


def month_index() -> Column:
    """The engine twin of `MONTH_INDEX`."""
    return (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("t")


def year_month() -> tuple[Column, Column]:
    """The engine twin of `YEAR_MONTH`."""
    return F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("mo")


def monthly_revenue(orders: DataFrame, *keys: Column) -> DataFrame:
    """One row per month key: the keys and ``x``, the DECIMAL(18,2)
    revenue sum. The fact scan collapses map-side to calendar size."""
    return orders.groupBy(*keys).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("x")
    )


def monthly_revenue_sql(*keys: str) -> str:
    """The oracle twin of `monthly_revenue`: a SELECT over ``orders``
    grouped by the `keys` select items, for a ``WITH m AS (...)``."""
    group = ", ".join(str(i) for i in range(1, len(keys) + 1))
    return f"""
  SELECT {", ".join(keys)},
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM orders GROUP BY {group}
"""


def autocorrelations(m: DataFrame, max_lag: int) -> DataFrame:
    """r_k of the series `m` (columns ``t``, ``x``) at lags 1..max_lag.

    Returns one row per lag with at least one pair: ``k`` (int),
    ``npairs`` (the pairs ``(t, t+k)`` present, fewer than n-k when a
    month is missing), the global ``n`` and ``sx`` = Σx as double, and
    ``r_k``. The lag self-join runs on the calendar-sized relation.
    """
    g = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    lags = m.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("k")
    )
    a = m.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b = m.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("npairs"),
            F.sum(F.col("xa") * F.col("xb")).cast("double").alias("spk"),
            F.sum("xa").cast("double").alias("shead"),
            F.sum("xb").cast("double").alias("stail"),
        )
    )
    mu = F.col("sx") / F.col("n")
    den = F.col("sxx") - F.col("n") * mu * mu
    r_k = F.when(
        den != 0,
        (
            F.col("spk")
            - mu * F.col("shead")
            - mu * F.col("stail")
            + F.col("npairs") * mu * mu
        )
        / den,
    )
    return p.crossJoin(F.broadcast(g)).select(
        "k", "npairs", "n", "sx", r_k.alias("r_k")
    )


def autocorrelations_sql(m: str, max_lag: int) -> str:
    """The oracle twin of `autocorrelations` over the relation named `m`.

    The (19,2) casts force DuckDB's INT128 decimal kernel: monthly
    revenue squared overflows the int64 kernel that (18,2)x(18,2) binds
    to (Spark's (18,2) product is already exact at (37,4)); `vh` then
    crosses to double with one rounding.
    """
    lags = ",".join(f"({k})" for k in range(1, max_lag + 1))
    mu = "(g.sx / g.n)"
    den = f"(g.sxx - g.n * {mu} * {mu})"
    return f"""
  SELECT p.k, p.npairs, g.n, g.sx,
         CASE WHEN {den} <> 0 THEN
           (p.spk - {mu} * p.shead - {mu} * p.stail
            + p.npairs * {mu} * {mu}) / {den}
         END AS r_k
  FROM (
    SELECT l.k,
           count(*) AS npairs,
           {vh("sum(CAST(a.x AS DECIMAL(19,2)) * CAST(b.x AS DECIMAL(19,2)))")} AS spk,
           CAST(sum(a.x) AS DOUBLE) AS shead,
           CAST(sum(b.x) AS DOUBLE) AS stail
    FROM (VALUES {lags}) l(k)
    JOIN {m} a ON true
    JOIN {m} b ON b.t = a.t + l.k
    GROUP BY l.k
  ) p
  CROSS JOIN (
    SELECT count(*) AS n,
           CAST(sum(x) AS DOUBLE) AS sx,
           {vh("sum(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2)))")} AS sxx
    FROM {m}
  ) g
"""
