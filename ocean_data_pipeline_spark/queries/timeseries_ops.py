"""Time-series smoothing & anomaly queries (SURVEY.md §2-G width): the
ordered-series analytics the reference's dashboard computes globally
(`dashboard/app.py:222-290` time-series plots, §2 win-frame family),
generalized to exponentially-weighted smoothing and rolling-window
anomaly detection.

Both queries aggregate the fact table FIRST (per-month / per-day
partials), so the window functions run on the calendar-sized series,
never on raw facts — at 100 TB the windows see thousands of rows. The
single-partition window is therefore deliberate and safe: the series
is O(calendar), not O(corpus); a per-entity variant would partition by
the entity key.

Determinism: frame sums are exact DECIMAL; doubles appear only in the
final scalar expression, which is the identical IEEE tree on both
engines, then rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.monthly import (
    MONTH_INDEX,
    autocorrelations,
    autocorrelations_sql,
    month_index,
    monthly_revenue,
    monthly_revenue_sql,
)
from ocean_data_pipeline_spark.operators.portable import vd, vh
from ocean_data_pipeline_spark.queries import register

# --- exponentially-weighted moving average ----------------------------

_EWMA_ORACLE = f"""
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
t AS (
  SELECT month, rev,
         row_number() OVER (ORDER BY month) AS rn,
         rev * pow(0.7, -row_number() OVER (ORDER BY month)) AS term
  FROM m
),
s AS (
  SELECT month, rev, rn,
         sum(term) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING) AS prefix,
         first_value(rev) OVER (ORDER BY month) AS r1
  FROM t
)
SELECT month,
       round(rev, 2) AS revenue,
       round({vd("0.3 * pow(0.7, rn) * (prefix - r1 * pow(0.7, -1))"
                 " + pow(0.7, rn - 1) * r1", 38, 15)}, 2) AS ewma
FROM s ORDER BY month
"""
# ^ ewma rounds through `vd`, Spark's round(double) semantics: the
# exact-cents recursion makes early terms land exactly on .xx5 (e_2 has
# 3 decimals), where Spark rounds the repr ".225" up but a binary-value
# round sees .2249999... and rounds down. Revenue needs no such care —
# it is cents-exact, so round(2) is the identity.


@register("ewma_monthly_revenue", oracle=_EWMA_ORACLE)
def ewma_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.3) of monthly
    revenue: e_1 = r_1, e_n = alpha*r_n + (1-alpha)*e_{n-1} — the
    recursive smoother every monitoring dashboard runs. The recursion
    is rewritten as a closed-form PREFIX SUM so it needs no iterative
    loop and no stateful UDF:

        e_n = alpha * (1-a)^n * sum_{i<=n}( r_i * (1-a)^-i  - t_1 )
              + (1-a)^(n-1) * r_1

    i.e. one running sum of r_i*(1-a)^-i plus first_value — all
    built-in window functions. Numeric envelope: (1-a)^-n grows, so
    the rewrite is valid while n * ln(1/(1-a)) < ~700 (n <~ 1960
    months at alpha=0.3) — far beyond any calendar series; an
    unbounded per-key stream would switch to applyInPandasWithState,
    which carries e_{n-1} as O(1) state.

    Plan shape: partial agg onto ~80 month rows, then three window
    expressions over ONE sort of the tiny aggregated series."""
    o = table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-01").alias(
            "month"
        )
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev"))
    w = Window.orderBy("month")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = m.select(
        "month",
        "rev",
        F.row_number().over(w).alias("rn"),
        (F.col("rev") * F.pow(F.lit(0.7), -F.row_number().over(w))).alias("term"),
    )
    s = t.select(
        "month",
        "rev",
        "rn",
        F.sum("term").over(w_run).alias("prefix"),
        F.first("rev").over(w_run).alias("r1"),
    )
    return s.select(
        "month",
        F.round("rev", 2).alias("revenue"),
        F.round(
            F.lit(0.3)
            * F.pow(F.lit(0.7), F.col("rn"))
            * (F.col("prefix") - F.col("r1") * F.pow(F.lit(0.7), F.lit(-1)))
            + F.pow(F.lit(0.7), F.col("rn") - 1) * F.col("r1"),
            2,
        ).alias("ewma"),
    ).orderBy("month")


# --- rolling z-score anomaly detection --------------------------------

_ZSCORE_ORACLE = """
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
f AS (
  SELECT day, rev,
         count(*) OVER w AS n,
         sum(rev) OVER w AS s1,
         sum(rev * rev) OVER w AS s2
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT day, rev, n,
         CAST(s1 AS DOUBLE) / n AS mu,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
           / (n - 1) AS var
  FROM f WHERE n >= 8
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(rev AS DOUBLE) AS revenue,
       round(mu, 2) AS rolling_mean,
       round((CAST(rev AS DOUBLE) - mu) / sqrt(var), 3) AS zscore
FROM z
WHERE var > 0 AND abs((CAST(rev AS DOUBLE) - mu) / sqrt(var)) > 2
ORDER BY day
"""


@register("daily_zscore_anomalies", oracle=_ZSCORE_ORACLE)
def daily_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each day's revenue is scored
    against the trailing 28-day window (EXCLUDING the current day, so
    an anomaly cannot suppress its own detection); days with |z| > 2
    are flagged. The ops-monitoring shape behind every
    revenue/traffic alerting pipeline.

    Determinism at the filter boundary: the rolling mean and variance
    come from EXACT decimal frame sums (sum, sum-of-squares); the
    double math that follows is the same IEEE expression tree on both
    engines, so the |z| > 2 cut selects identical rows — no
    epsilon-straddling between engine and oracle. Variance uses the
    (n-1) sample form, guarded for n < 2 (warm-up requires n >= 8)
    and var <= 0 (constant window), the DIVIDE_BY_ZERO class the
    round-4 totality sweep flagged on climatology.

    Plan shape: partial agg onto ~2400 day rows, ONE sort serving all
    three frame aggregates, scalar filter. O(calendar), not O(rows)."""
    o = table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-28, -1)
    f = d.select(
        "day",
        "rev",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("rev").over(w).alias("s1"),
        F.sum(F.col("rev") * F.col("rev")).over(w).alias("s2"),
    ).filter(F.col("n") >= 8)
    mu = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("rev").cast("double") - mu) / F.sqrt(var)
    return (
        f.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("rev").cast("double").alias("revenue"),
            F.round(mu, 2).alias("rolling_mean"),
            F.round(z, 3).alias("zscore"),
            var.alias("_var"),
            z.alias("_z"),
        )
        .filter((F.col("_var") > 0) & (F.abs(F.col("_z")) > 2))
        .drop("_var", "_z")
        .orderBy("day")
    )


# --- streaming EWMA (stateful incremental smoother) -------------------

#: Recursive-CTE oracle mirroring the STREAMING recursion's exact IEEE
#: expression tree (0.3*rev + 0.7*e per step, doubles throughout) —
#: bit-identical to the pandas fold, where the batch twin's closed-form
#: prefix sum can land on the other side of a .xx5 rounding boundary
#: (observed: one cent at smoke scale). Same relation, different
#: but exactly-matched float associativity.
_STREAM_EWMA_ORACLE = f"""
WITH RECURSIVE m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
         row_number() OVER (
           ORDER BY strftime(date_trunc('month', o_orderdate), '%Y-%m-01')
         ) AS rn
  FROM orders GROUP BY 1
),
rec AS (
  SELECT month, rev, rn, rev AS e FROM m WHERE rn = 1
  UNION ALL
  SELECT m.month, m.rev, m.rn, 0.3 * m.rev + 0.7 * rec.e AS e
  FROM m JOIN rec ON m.rn = rec.rn + 1
)
SELECT month, round(rev, 2) AS revenue,
       round({vd("e", 38, 15)}, 2) AS ewma
FROM rec ORDER BY month
"""
# ^ the same `vd` rounding as the batch oracle (see above):
# with bit-identical recursion doubles on both sides, identical strings
# → identical decimals → identical half-up rounding at any scale.


@register("stream_ewma_monthly", oracle=_STREAM_EWMA_ORACLE)
def stream_ewma_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EWMA (SURVEY §2-H custom stateful operator): the
    monthly-revenue feed arrives as ordered micro-batches (one file of
    monthly partials per 6-month block, maxFilesPerTrigger=1) and an
    `applyInPandasWithState` smoother folds e_n = 0.3*r_n + 0.7*e_{n-1}
    across batches, carrying ONE double of state — the incremental
    form of `ewma_monthly_revenue`, with a FULL value oracle: a DuckDB
    recursive CTE that replays the identical IEEE expression tree per
    step (bit-exact with the pandas fold, where the batch twin's
    closed-form can differ by one ulp at a .xx5 rounding boundary).

    Why this shape scales: the stream consumes PRE-AGGREGATED partials
    (the upstream monthly rollup), so per-batch work is O(months in
    batch) and state is O(1) per series; a per-entity fleet of
    smoothers would key the state by the entity instead of the single
    calendar series here (documented single-partition posture, same as
    the batch twin). Unlike the closed-form rewrite, the recursion
    needs no (1-a)^-n term, so the streaming form has NO series-length
    envelope — the two formulations cross-check each other through the
    shared oracle."""
    import tempfile
    import uuid

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Upstream rollup: monthly partials, written as one file per
    # 6-month block in month order (the incremental feed).
    o = table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    m = (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-01").alias(
                "month"
            )
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        .orderBy("month")
        .collect()
    )
    workdir = tempfile.mkdtemp(prefix="stream_ewma_")
    indir = f"{workdir}/in"
    import os as _os

    _os.makedirs(indir, exist_ok=True)
    schema = "month string, rev double"
    for i in range(0, len(m), 6):
        block = [(r["month"], r["rev"]) for r in m[i : i + 6]]
        spark.createDataFrame(block, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{indir}/block_{i // 6:04d}")
    feed = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{indir}/block_*")
    )

    def fold(key, pdfs, state):
        rows = pd.concat(list(pdfs))
        if rows.empty:
            yield pd.DataFrame(columns=["month", "revenue", "ewma"])
            return
        rows = rows.sort_values("month")
        e = state.get[0] if state.exists else None
        out = []
        for r in rows.itertuples():
            e = r.rev if e is None else 0.3 * r.rev + 0.7 * e
            # raw doubles out; rounding happens ENGINE-side so the
            # half-up rule matches the oracle on identical bits
            out.append((r.month, r.rev, e))
        state.update((float(e),))
        yield pd.DataFrame(out, columns=["month", "revenue", "ewma"])

    smoothed = (
        feed.withColumn("series", F.lit(1))
        .groupBy("series")
        .applyInPandasWithState(
            fold,
            outputStructType="month string, revenue double, ewma double",
            stateStructType="e double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = f"stream_ewma_{uuid.uuid4().hex[:12]}"
    query = (
        smoothed.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(sink).select(
        "month",
        F.round("revenue", 2).alias("revenue"),
        F.round("ewma", 2).alias("ewma"),
    ).orderBy("month")


# --- autocorrelation function (ACF) -----------------------------------

_ACF_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(MONTH_INDEX)}),
ac AS ({autocorrelations_sql("m", 6)})
SELECT k, npairs, r_k AS acf
FROM ac
ORDER BY k
"""


@register("acf_monthly_revenue", oracle=_ACF_ORACLE)
def acf_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of monthly revenue at lags 1-6 — the
    seasonality/persistence diagnostic that decides whether a series
    needs differencing before forecasting. r_k is the no-centering
    exact-DECIMAL expansion of `operators/monthly.py`, emitted
    unrounded.

    Scale: the fact scan reduces to O(months) partials map-side; the
    lag self-join and all ACF arithmetic run on that calendar-sized
    relation (84 rows × 6 lags)."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), month_index())
    return autocorrelations(m, 6).select("k", "npairs", F.col("r_k").alias("acf")).orderBy("k")


# --- CUSUM changepoint scan -------------------------------------------

_CUSUM_ORACLE = """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(value AS DECIMAL(18,6))) AS x
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
g AS (
  SELECT count(*) AS n, CAST(sum(x) AS DOUBLE) AS sx FROM d
),
s AS (
  SELECT day,
         CAST(x AS DOUBLE) AS daily_total,
         row_number() OVER (ORDER BY day) AS rn,
         CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS DOUBLE) AS prefix
  FROM d
),
c AS (
  SELECT CAST(s.day AS TIMESTAMP) AS day,
         s.daily_total,
         s.prefix - s.rn * (g.sx / g.n) AS cusum,
         abs(s.prefix - s.rn * (g.sx / g.n)) AS abs_cusum
  FROM s CROSS JOIN g
)
SELECT day, daily_total, cusum, abs_cusum
FROM c
ORDER BY abs_cusum DESC, day
LIMIT 5
"""


@register("cusum_changepoint", oracle=_CUSUM_ORACLE)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift scan over the daily event-value series: the
    cumulative sum of deviations from the global mean peaks at the
    most likely changepoint (Page's CUSUM in its retrospective form);
    the top-5 |CUSUM| days localize the shift. The recursion
    S_t = S_{t-1} + (x_t - μ) is rewritten closed-form as
    S_t = P_t - t·μ with P_t an exact-DECIMAL prefix sum, so no
    stateful loop and no float accumulation.

    Scale: the fact scan reduces map-side to O(days) partials; the
    single-partition window runs on the calendar-sized series
    (deliberate and safe, see module docstring). Determinism: prefix
    sums are exact DECIMAL; the S_t chain is the identical IEEE tree
    on both engines; the top-5 ties break on day."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("x")
    )
    g = d.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").cast("double").alias("sx")
    )
    w = Window.orderBy("day")
    s = d.select(
        "day",
        F.col("x").cast("double").alias("daily_total"),
        F.row_number().over(w).alias("rn"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("prefix"),
    )
    mu = F.col("sx") / F.col("n")
    cusum = F.col("prefix") - F.col("rn") * mu
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "daily_total",
            cusum.alias("cusum"),
            F.abs(cusum).alias("abs_cusum"),
        )
        .orderBy(F.col("abs_cusum").desc(), "day")
        .limit(5)
    )


# --- Mann-Kendall trend test + Theil-Sen slope ------------------------

_MANN_KENDALL_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(MONTH_INDEX)}),
idx AS (
  SELECT x, row_number() OVER (ORDER BY t) AS i FROM m
),
pairs AS (
  SELECT a.i AS i, b.i AS j, a.x AS xa, b.x AS xb,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
         (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE)) / (b.i - a.i) AS slope
  FROM idx a JOIN idx b ON b.i > a.i
),
s AS (
  SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
         count(*) AS n_pairs,
         quantile_cont(slope, 0.5) AS theil_sen_slope
  FROM pairs
),
n1 AS (SELECT count(*) AS n FROM idx),
ties AS (
  SELECT CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT count(*) AS c FROM idx GROUP BY x HAVING count(*) > 1)
),
v AS (
  SELECT n1.n, s.s_stat, s.n_pairs, s.theil_sen_slope,
         (n1.n * (n1.n - 1.0) * (2.0 * n1.n + 5.0) - ties.tie_term) / 18.0 AS var_s
  FROM n1 CROSS JOIN s CROSS JOIN ties
)
SELECT CAST(n AS BIGINT) AS n_periods,
       s_stat,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       var_s,
       CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
            WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
            ELSE 0.0 END AS z_stat,
       theil_sen_slope
FROM v
"""


@register("mann_kendall_trend", oracle=_MANN_KENDALL_ORACLE)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test + Theil-Sen robust slope on
    monthly revenue — the nonparametric pair to the OLS trend: S =
    Σ_{i<j} sgn(x_j − x_i) is pure integer arithmetic over exact
    DECIMALs (like Mann-Whitney, a rank statistic in disguise), the
    tie-corrected variance is an integer identity, and the Theil-Sen
    slope is the exact median of pairwise slopes (`F.percentile` ↔
    quantile_cont). The continuity-corrected z needs no float care
    beyond one fixed chain.

    Scale: the fact table reduces to O(months) partials first; the
    O(n²) pair join runs on the calendar-sized relation (84 rows →
    3.5k pairs). For multi-decade daily series, swap the pair join
    for the O(n log n) inversion-count formulation."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), month_index())
    idx = m.select("x", F.row_number().over(Window.orderBy("t")).alias("i"))
    a = idx.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    pairs = a.join(b, F.col("ib") > F.col("ia")).select(
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("xb").cast("double") - F.col("xa").cast("double"))
            / (F.col("ib") - F.col("ia"))
        ).alias("slope"),
    )
    s = pairs.agg(
        F.sum("sgn").cast("bigint").alias("s_stat"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile("slope", F.lit(0.5)).alias("theil_sen_slope"),
    )
    n1 = idx.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        idx.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var_s = (
        F.col("n") * (F.col("n") - F.lit(1.0)) * (F.lit(2.0) * F.col("n") + F.lit(5.0))
        - F.col("tie_term")
    ) / F.lit(18.0)
    v = n1.crossJoin(s).crossJoin(ties).withColumn("var_s", var_s)
    return v.select(
        F.col("n").cast("bigint").alias("n_periods"),
        "s_stat",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        "var_s",
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
        "theil_sen_slope",
    )


# --- classical seasonal indices ---------------------------------------

_SEASONAL_ORACLE = f"""
WITH m AS ({monthly_revenue_sql("year(o_orderdate) AS yr", "month(o_orderdate) AS mo", MONTH_INDEX)}),
f AS (
  SELECT mo, x,
         count(*)  OVER w11 AS n11,
         sum(x)    OVER w11 AS s11,
         lag(x, 6)  OVER (ORDER BY t) AS x_m6,
         lead(x, 6) OVER (ORDER BY t) AS x_p6
  FROM m
  WINDOW w11 AS (ORDER BY t ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
),
r AS (
  -- classical 2x12 centered MA; FULL frames only (all 13 inputs
  -- present), the round-5 full-frame-only device
  SELECT mo,
         {vd("CAST(x AS DOUBLE) / ((CAST(s11 AS DOUBLE)"
             " + (CAST(x_m6 AS DOUBLE) + CAST(x_p6 AS DOUBLE)) / 2) / 12)", 18, 12)} AS ratio
  FROM f
  WHERE n11 = 11 AND x_m6 IS NOT NULL AND x_p6 IS NOT NULL
    AND (CAST(s11 AS DOUBLE)
         + (CAST(x_m6 AS DOUBLE) + CAST(x_p6 AS DOUBLE)) / 2) <> 0
),
idx AS (
  SELECT mo, count(*) AS n_obs,
         CAST(sum(ratio) AS DOUBLE) / count(*) AS raw_index
  FROM r GROUP BY mo
),
-- normalizer: each index rounds ONCE into DECIMAL(18,12) before the
-- sum, an order-free reduction
tot AS (SELECT CAST(sum({vd("raw_index", 18, 12)})
                    AS DOUBLE) AS s
        FROM idx)
SELECT idx.mo AS month,
       CAST(idx.n_obs AS BIGINT) AS n_obs,
       idx.raw_index,
       idx.raw_index * 12 / tot.s AS normalized_index
FROM idx CROSS JOIN tot
ORDER BY idx.mo
"""


@register("seasonal_indices_monthly", oracle=_SEASONAL_ORACLE)
def seasonal_indices_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal decomposition, index step:
    detrend monthly revenue by the 2x12 centered moving average
    (half-weight at ±6 months), average the detrended ratios per
    calendar month, and normalize the 12 indices to mean 1 — the
    seasonal-adjustment factor table behind every YoY dashboard.

    Determinism devices: the centered MA uses an 11-row exact-DECIMAL
    frame sum plus half-weighted lag6/lead6 (one fixed chain); FULL
    frames only (the round-5 full-frame-only rule) so no partial
    window enters the indices; each ratio is rounded ONCE into
    DECIMAL(18,12) so the per-month averages are order-free exact
    sums, not float reductions. Raw aggregation happens map-side onto
    O(months) rows before any window runs."""
    m = monthly_revenue(
        table(spark, sf_dir, "orders"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        month_index(),
    )
    w = Window.orderBy("t")
    w11 = w.rowsBetween(-5, 5)
    f = m.select(
        "mo",
        "x",
        F.count(F.lit(1)).over(w11).alias("n11"),
        F.sum("x").over(w11).alias("s11"),
        F.lag("x", 6).over(w).alias("x_m6"),
        F.lead("x", 6).over(w).alias("x_p6"),
    )
    ma = (
        F.col("s11").cast("double")
        + (F.col("x_m6").cast("double") + F.col("x_p6").cast("double")) / 2
    ) / 12
    r = (
        f.filter(
            (F.col("n11") == 11)
            & F.col("x_m6").isNotNull()
            & F.col("x_p6").isNotNull()
        )
        .filter(
            (
                F.col("s11").cast("double")
                + (F.col("x_m6").cast("double") + F.col("x_p6").cast("double")) / 2
            )
            != 0
        )
        .select(
            "mo",
            (F.col("x").cast("double") / ma)
            .cast("string")
            .cast("decimal(18,12)")
            .alias("ratio"),
        )
    )
    idx = r.groupBy("mo").agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.sum("ratio").cast("double") / F.count(F.lit(1))).alias("raw_index"),
    )
    tot = idx.agg(
        F.sum(F.col("raw_index").cast("string").cast("decimal(18,12)"))
        .cast("double")
        .alias("s")
    )
    return (
        idx.crossJoin(F.broadcast(tot))
        .select(
            F.col("mo").alias("month"),
            F.col("n_obs").cast("bigint").alias("n_obs"),
            "raw_index",
            (F.col("raw_index") * 12 / F.col("s")).alias("normalized_index"),
        )
        .orderBy("month")
    )


# --- lead-lag cross-correlation ---------------------------------------

_XCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS buys
  FROM events GROUP BY 1
),
lags AS (SELECT CAST(unnest(range(-7, 8)) AS INT) AS lag),
paired AS (
  SELECT l.lag, a.clicks AS x, b.buys AS y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
),
moments AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM paired GROUP BY lag
)
SELECT lag, n AS n_days,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN (CAST(n * sxy - sx * sy AS DOUBLE))
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS pearson_r
FROM moments
ORDER BY lag
"""


@register("leadlag_crosscorr_events", oracle=_XCORR_ORACLE)
def leadlag_crosscorr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the click and purchase daily
    series at lags -7..+7 (does click volume LEAD purchases?): daily
    partials first (the calendar-sized contraction), lag join as an
    equi-join on day+lag, Pearson r from exact BIGINT moments — the
    only doubles are the final closed-form expression, bit-identical
    across engines; zero-variance windows yield NULL (CASE guard, no
    division hazard under ANSI). The classic lead-lag attribution
    diagnostic; at 100 TB the daily contraction makes the lag join
    O(calendar × lags)."""
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "event_type"
    )
    daily = ev.groupBy("day").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).cast("bigint").alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("bigint").alias("buys"),
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.select("day", F.col("clicks").alias("x"))
    b = daily.select(F.col("day").alias("day_b"), F.col("buys").alias("y"))
    paired = (
        lags.crossJoin(a)
        .withColumn("day_b", F.date_add(F.col("day"), F.col("lag")))
        .join(b, "day_b")
    )
    m = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    cov = n * F.col("sxy") - sx * sy
    r = F.when(
        (vx > 0) & (vy > 0),
        cov.cast("double") / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return m.select("lag", n.alias("n_days"), r.alias("pearson_r")).orderBy("lag")


# --- Yule-Walker AR(2) one-step forecast ------------------------------

_YW_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(MONTH_INDEX)}),
ac AS ({autocorrelations_sql("m", 2)}),
r AS (
  SELECT n, sx / n AS mu,
         max(CASE WHEN k = 1 THEN r_k END) AS r1,
         max(CASE WHEN k = 2 THEN r_k END) AS r2
  FROM ac GROUP BY n, sx
),
lastv AS (
  SELECT max(CASE WHEN rn = 1 THEN CAST(x AS DOUBLE) END) AS x_last,
         max(CASE WHEN rn = 2 THEN CAST(x AS DOUBLE) END) AS x_prev
  FROM (SELECT x, row_number() OVER (ORDER BY t DESC) AS rn FROM m)
  WHERE rn <= 2
)
SELECT CAST(r.n AS BIGINT) AS n_months,
       r.mu, r.r1, r.r2,
       r.r1 * (1 - r.r2) / (1 - r.r1 * r.r1) AS phi1,
       (r.r2 - r.r1 * r.r1) / (1 - r.r1 * r.r1) AS phi2,
       lastv.x_last,
       r.mu + (r.r1 * (1 - r.r2) / (1 - r.r1 * r.r1)) * (lastv.x_last - r.mu)
            + ((r.r2 - r.r1 * r.r1) / (1 - r.r1 * r.r1)) * (lastv.x_prev - r.mu)
         AS forecast_next
FROM r, lastv
"""


@register("yule_walker_ar2_forecast", oracle=_YW_ORACLE)
def yule_walker_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit by the Yule-Walker equations over monthly revenue:
    phi1 = r1(1-r2)/(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2) from the exact
    lag-1/lag-2 autocorrelations (`operators/monthly.py`), then the
    one-step mean-reverting forecast mu + phi1(x_n - mu) +
    phi2(x_{n-1} - mu).

    Determinism: every input to the phi/forecast chain is either an
    exact DECIMAL sum cast to double once or a fixed IEEE expression of
    those — emitted unrounded.

    Plan shape: the fact scan collapses map-side to the month relation;
    lag joins, the rank-2 linear solve, and the forecast all run on
    calendar-sized data. At 100 TB only the first aggregate scales."""
    m = monthly_revenue(
        table(spark, sf_dir, "orders"), month_index()
    ).localCheckpoint()  # consumed by 3 subtrees (global sums, lag pairs, tail)
    r = autocorrelations(m, 2).groupBy("n", "sx").agg(
        F.max(F.when(F.col("k") == 1, F.col("r_k"))).alias("r1"),
        F.max(F.when(F.col("k") == 2, F.col("r_k"))).alias("r2"),
    )
    ranked = m.select(
        "x", F.row_number().over(Window.orderBy(F.desc("t"))).alias("rn")
    ).filter(F.col("rn") <= 2)
    lastv = ranked.agg(
        F.max(F.when(F.col("rn") == 1, F.col("x").cast("double"))).alias("x_last"),
        F.max(F.when(F.col("rn") == 2, F.col("x").cast("double"))).alias("x_prev"),
    )
    phi_den = 1 - F.col("r1") * F.col("r1")
    phi1 = F.col("r1") * (1 - F.col("r2")) / phi_den
    phi2 = (F.col("r2") - F.col("r1") * F.col("r1")) / phi_den
    mu2 = F.col("sx") / F.col("n")
    return r.crossJoin(F.broadcast(lastv)).select(
        F.col("n").cast("bigint").alias("n_months"),
        mu2.alias("mu"),
        "r1",
        "r2",
        phi1.alias("phi1"),
        phi2.alias("phi2"),
        "x_last",
        (
            mu2
            + phi1 * (F.col("x_last") - mu2)
            + phi2 * (F.col("x_prev") - mu2)
        ).alias("forecast_next"),
    )


# --- rolling OLS trend slope ------------------------------------------

_ROLL_OLS_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(MONTH_INDEX)}),
f AS (
  SELECT t, x,
         count(*) OVER w AS n,
         sum(CAST(t AS DECIMAL(19,0))) OVER w AS st,
         sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))) OVER w AS stt,
         sum(CAST(x AS DECIMAL(19,2))) OVER w AS sx,
         {vh("sum(CAST(t AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,2))) OVER w")} AS stx
  FROM m
  WINDOW w AS (ORDER BY t ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT t AS month_index,
       CAST(n AS BIGINT) AS frame_n,
       CAST(x AS DOUBLE) AS revenue,
       CASE WHEN n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) <> 0
            THEN (n * stx - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
       END AS trend_slope
FROM f
ORDER BY t
"""


@register("rolling_ols_trend", oracle=_ROLL_OLS_ORACLE)
def rolling_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 6-month OLS trend slope of monthly revenue — the local
    linear trend a monitoring dashboard plots next to the raw series
    (`ols_price_regression`'s closed form inside a window frame, the
    window sibling of `rolling_avg_monthly`). All five frame sums are
    exact DECIMALs over the month frame (month indices and cents-exact
    revenue), the slope is the fixed Cramer chain, and the Σt·x sum
    crosses to double through `vh` on the DuckDB side.

    Plan shape: the fact scan collapses map-side to the month relation;
    ONE month-ordered window pass computes every frame sum. At 100 TB
    only the first aggregate is row-scale — the window runs on the
    calendar."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), month_index())
    w = Window.orderBy("t").rowsBetween(-5, 0)
    td = F.col("t").cast("decimal(19,0)")
    xd = F.col("x").cast("decimal(19,2)")
    f = m.select(
        "t",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(td).over(w).alias("st"),
        F.sum(td * td).over(w).alias("stt"),
        F.sum(xd).over(w).alias("sx"),
        F.sum(td * xd).over(w).cast("double").alias("stx"),
    )
    n = F.col("n")
    st = F.col("st").cast("double")
    stt = F.col("stt").cast("double")
    sx = F.col("sx").cast("double")
    den = n * stt - st * st
    return f.select(
        F.col("t").alias("month_index"),
        n.cast("bigint").alias("frame_n"),
        F.col("x").cast("double").alias("revenue"),
        F.when(den != 0, (n * F.col("stx") - st * sx) / den).alias("trend_slope"),
    ).orderBy("month_index")


# --- Theil–Sen robust trend --------------------------------------------

_THEILSEN_ORACLE = """
WITH m AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS idx,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS rev
  FROM orders GROUP BY 1
),
slopes AS (
  SELECT a.idx AS i, b.idx AS j,
         CAST(b.rev - a.rev AS DOUBLE) / (b.idx - a.idx) AS slope
  FROM m a JOIN m b ON b.idx > a.idx
),
ranked AS (
  SELECT slope, row_number() OVER (ORDER BY slope, i, j) AS rn,
         count(*) OVER () AS n
  FROM slopes
)
SELECT CAST((SELECT count(*) FROM m) AS BIGINT) AS n_months,
       CAST(max(n) AS BIGINT) AS n_pairs,
       round((min(CASE WHEN rn = (n + 1) // 2 THEN slope END)
              + min(CASE WHEN rn = n // 2 + 1 THEN slope END)) / 2, 4)
         AS ts_slope,
       round(min(slope), 4) AS min_slope,
       round(max(slope), 4) AS max_slope
FROM ranked
"""


@register("theil_sen_monthly_trend", oracle=_THEILSEN_ORACLE)
def theil_sen_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator ('50/'68) of the monthly-revenue trend: the
    median of all pairwise slopes — the robust (29%-breakdown) twin of
    `rolling_ols_trend`'s least-squares slope, immune to the revenue
    spikes that drag OLS. Median = average of the two middle slopes
    selected by EXACT integer rank (rn == (n+1)//2 and n//2+1, which
    coincide for odd n), never by float quantile interpolation.

    Determinism: monthly revenues are exact DECIMAL partials; each
    slope is one double division; selection is integer arithmetic with
    a total (slope, i, j) order, and the two selected doubles average
    identically on both engines.

    Plan shape: facts collapse to ~80 month rows first, so the
    pairwise self-join is calendar²-bounded (~3k pairs at any corpus
    size) — the classic "aggregate first, then the O(k²) statistic is
    free" posture."""
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("idx")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("rev")
        )
    )
    a = m.select(F.col("idx").alias("i"), F.col("rev").alias("rev_a"))
    b = m.select(F.col("idx").alias("j"), F.col("rev").alias("rev_b"))
    slopes = a.join(b, F.col("j") > F.col("i")).select(
        "i",
        "j",
        (
            (F.col("rev_b") - F.col("rev_a")).cast("double")
            / (F.col("j") - F.col("i"))
        ).alias("slope"),
    )
    w = Window.orderBy("slope", "i", "j")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    n_months = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    return (
        ranked.agg(
            F.max("n").cast("bigint").alias("n_pairs"),
            F.round(
                (
                    F.min(
                        F.when(
                            F.col("rn") == F.floor((F.col("n") + 1) / 2),
                            F.col("slope"),
                        )
                    )
                    + F.min(
                        F.when(
                            F.col("rn") == F.floor(F.col("n") / 2) + 1,
                            F.col("slope"),
                        )
                    )
                )
                / 2,
                4,
            ).alias("ts_slope"),
            F.round(F.min("slope"), 4).alias("min_slope"),
            F.round(F.max("slope"), 4).alias("max_slope"),
        )
        .crossJoin(F.broadcast(n_months))
        .select("n_months", "n_pairs", "ts_slope", "min_slope", "max_slope")
    )


# --- Holt linear (double-exponential) smoothing ------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3

_HOLT_ORACLE = f"""
WITH RECURSIVE m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
              AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
idx AS (
  SELECT month, rev, row_number() OVER (ORDER BY month) AS t,
         count(*) OVER () AS n
  FROM m
),
hw AS (
  SELECT t, month, rev, rev AS lvl, CAST(0.0 AS DOUBLE) AS trd
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.t, i.month, i.rev,
         {_HOLT_ALPHA} * i.rev + {1 - _HOLT_ALPHA} * (hw.lvl + hw.trd) AS lvl,
         {_HOLT_BETA} * (({_HOLT_ALPHA} * i.rev
                          + {1 - _HOLT_ALPHA} * (hw.lvl + hw.trd)) - hw.lvl)
           + {1 - _HOLT_BETA} * hw.trd AS trd
  FROM hw JOIN idx i ON i.t = hw.t + 1
)
SELECT month,
       round(rev, 2) AS revenue,
       round(lvl, 4) AS level,
       round(trd, 4) AS trend,
       round(lvl + trd, 4) AS forecast_next
FROM hw ORDER BY month
"""


@register("holt_linear_smoothing", oracle=_HOLT_ORACLE)
def holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing of monthly revenue
    (alpha=0.5, beta=0.3, l_1=y_1, b_1=0): level l_t = a·y_t +
    (1-a)(l+b), trend b_t = B(l_t - l) + (1-B)b, forecast_next =
    l_t + b_t — the trend-aware sibling of `ewma_monthly_revenue`.
    Unlike EWMA there is NO closed-form prefix-sum rewrite (the two
    recursions are coupled), so this is the honest sequential-state
    case: an Arrow-batched applyInPandas over the aggregated series,
    the batch twin of applyInPandasWithState. Deliberate third
    execution path for the same recurrence family:
    `sql_recursive_holt_smoothing` steps it through Spark's recursive
    CTE engine (different alphas), this one through a grouped-map UDF —
    the pair pins Python-vs-engine float lockstep.

    Determinism: the Python loop and DuckDB's recursive CTE evaluate
    the IDENTICAL float chain in the identical order (alpha literals
    match textually), so doubles agree bit-for-bit before the display
    round.

    Plan shape: facts collapse to ~80 month rows first; the grouped-map
    UDF sees one calendar-sized group (documented single-group bound —
    a per-entity variant would group by the entity key). At 100 TB the
    recursion cost is invariant."""
    import pandas as pd

    m = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-01").alias(
                "month"
            )
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .cast("double")
            .alias("rev")
        )
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        a, b = _HOLT_ALPHA, _HOLT_BETA
        lvl, trd = [], []
        for i, y in enumerate(pdf.rev):
            if i == 0:
                l_new, t_new = y, 0.0
            else:
                l_prev, t_prev = lvl[-1], trd[-1]
                l_new = a * y + (1 - a) * (l_prev + t_prev)
                t_new = b * (l_new - l_prev) + (1 - b) * t_prev
            lvl.append(l_new)
            trd.append(t_new)
        # no rounding here: Python round() is half-even, the engines'
        # round() is half-away — display rounding happens Spark-side.
        return pd.DataFrame(
            {
                "month": pdf.month,
                "revenue": pdf.rev,
                "level": lvl,
                "trend": trd,
                "forecast_next": [l + t for l, t in zip(lvl, trd)],
            }
        )

    out = m.groupBy(F.lit(1).alias("g")).applyInPandas(
        holt,
        schema="month string, revenue double, level double, trend double, "
        "forecast_next double",
    )
    return out.select(
        "month",
        F.round("revenue", 2).alias("revenue"),
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("forecast_next", 4).alias("forecast_next"),
    ).orderBy("month")


# --- periodogram (DFT power spectrum) ------------------------------------

_PERIODOGRAM_ORACLE = """
WITH m AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS idx,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
              AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
t AS (
  SELECT rev, row_number() OVER (ORDER BY idx) AS t,
         count(*) OVER () AS n, avg(rev) OVER () AS mu
  FROM m
),
freqs AS (SELECT unnest(generate_series(1, 12)) AS k),
terms AS (
  SELECT f.k, t.n,
         CAST(round((t.rev - t.mu) * cos(2 * pi() * f.k * t.t / t.n), 4)
              AS DECIMAL(28,4)) AS c_term,
         CAST(round((t.rev - t.mu) * sin(2 * pi() * f.k * t.t / t.n), 4)
              AS DECIMAL(28,4)) AS s_term
  FROM t CROSS JOIN freqs f
),
spec AS (
  SELECT k, max(n) AS n,
         CAST(sum(c_term) AS DOUBLE) AS c_k,
         CAST(sum(s_term) AS DOUBLE) AS s_k
  FROM terms GROUP BY k
)
SELECT k AS harmonic,
       round(CAST(n AS DOUBLE) / k, 2) AS period_months,
       round(sqrt(c_k * c_k + s_k * s_k) / n, 2) AS amplitude,
       CAST(row_number() OVER (ORDER BY sqrt(c_k * c_k + s_k * s_k) DESC, k)
            AS BIGINT) AS power_rank
FROM spec ORDER BY harmonic
"""


@register("periodogram_monthly", oracle=_PERIODOGRAM_ORACLE)
def periodogram_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of monthly revenue: DFT power at harmonics k=1..12
    of the mean-centered series (amplitude_k = |Σ y_t e^{-2πikt/n}|/n),
    ranked so the dominant seasonal cycle reads off the power_rank=1
    row — the spectral twin of `seasonal_indices_monthly` and
    `acf_monthly_revenue`.

    Determinism: monthly revenues are exact DECIMAL partials cast to
    double once; each cos/sin term rounds ONCE into DECIMAL(28,4) so
    the per-harmonic sums are associative (cos/sin inputs are
    identical doubles on both engines; the term rounding absorbs any
    last-ulp libm divergence). Amplitude is a fixed IEEE chain on the
    exact sums.

    Plan shape: facts collapse to ~80 month rows, a 12-frequency
    expand makes ~960 term rows, one groupBy to 12 harmonics. At
    100 TB only the first aggregate is corpus-scale — the spectrum is
    calendar-sized arithmetic."""
    import math

    m = (
        table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("idx")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .cast("double")
            .alias("rev")
        )
    )
    w_all = Window.partitionBy()
    t = m.select(
        "rev",
        F.row_number().over(Window.orderBy("idx")).alias("t"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.avg("rev").over(w_all).alias("mu"),
    )
    freqs = spark.range(1, 13).select(F.col("id").cast("int").alias("k"))
    ang = 2 * F.lit(math.pi) * F.col("k") * F.col("t") / F.col("n")
    terms = t.crossJoin(F.broadcast(freqs)).select(
        "k",
        "n",
        F.round((F.col("rev") - F.col("mu")) * F.cos(ang), 4)
        .cast("decimal(28,4)")
        .alias("c_term"),
        F.round((F.col("rev") - F.col("mu")) * F.sin(ang), 4)
        .cast("decimal(28,4)")
        .alias("s_term"),
    )
    spec = terms.groupBy("k").agg(
        F.max("n").alias("n"),
        F.sum("c_term").cast("double").alias("c_k"),
        F.sum("s_term").cast("double").alias("s_k"),
    )
    amp = F.sqrt(F.col("c_k") * F.col("c_k") + F.col("s_k") * F.col("s_k"))
    return spec.select(
        F.col("k").alias("harmonic"),
        F.round(F.col("n").cast("double") / F.col("k"), 2).alias("period_months"),
        F.round(amp / F.col("n"), 2).alias("amplitude"),
        F.row_number()
        .over(Window.orderBy(amp.desc(), "k"))
        .cast("bigint")
        .alias("power_rank"),
    ).orderBy("harmonic")


# --- PACF via Durbin–Levinson -------------------------------------------

_PACF_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(MONTH_INDEX)}),
ac AS ({autocorrelations_sql("m", 3)}),
wide AS (
  SELECT max(n) AS n,
         max(CASE WHEN k = 1 THEN r_k END) AS r1,
         max(CASE WHEN k = 2 THEN r_k END) AS r2,
         max(CASE WHEN k = 3 THEN r_k END) AS r3
  FROM ac
),
dl AS (  -- Durbin-Levinson closed forms for levels 1..3
  SELECT n, r1, r2, r3,
         r1 AS phi11,
         (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
  FROM wide
),
dl2 AS (
  SELECT n, r1, r2, r3, phi11, phi22,
         phi11 - phi22 * phi11 AS phi21
  FROM dl
),
dl3 AS (
  SELECT n, r1, r2, r3, phi11, phi22,
         (r3 - phi21 * r2 - phi22 * r1)
           / (1 - phi21 * r1 - phi22 * r2) AS phi33
  FROM dl2
)
SELECT k AS lag,
       round(CASE k WHEN 1 THEN r1 WHEN 2 THEN r2 ELSE r3 END, 6) AS acf,
       round(CASE k WHEN 1 THEN phi11 WHEN 2 THEN phi22 ELSE phi33 END, 6)
         AS pacf,
       round(1.96 / sqrt(n), 6) AS conf_band
FROM dl3 CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)
ORDER BY lag
"""


@register("pacf_durbin_levinson", oracle=_PACF_ORACLE)
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of monthly revenue at lags 1-3 via the
    Durbin-Levinson recursion unrolled to closed forms (phi11 = r1,
    phi22 = (r2-r1^2)/(1-r1^2), phi33 from the level-2 coefficients) —
    the AR-order diagnostic beside `acf_monthly_revenue` and
    `yule_walker_ar2_forecast`, with the +/-1.96/sqrt(n) significance
    band.

    Determinism: the autocorrelations are `operators/monthly.py`'s
    exact-decimal sums; the DL chain is one fixed IEEE tree per lag
    over those three doubles.

    Plan shape: facts collapse to ~80 month rows; three self-joins on
    the month spine; everything after is 1-row algebra. At 100 TB the
    only corpus-scale work is the first aggregate."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), month_index())
    wide = autocorrelations(m, 3).groupBy().agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("k") == 1, F.col("r_k"))).alias("r1"),
        F.max(F.when(F.col("k") == 2, F.col("r_k"))).alias("r2"),
        F.max(F.when(F.col("k") == 3, F.col("r_k"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi11 = r1
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    dl2 = wide.select(
        "n", "r1", "r2", "r3",
        phi11.alias("phi11"),
        phi22.alias("phi22"),
        (phi11 - phi22 * phi11).alias("phi21"),
    )
    phi33 = (r3 - F.col("phi21") * r2 - F.col("phi22") * r1) / (
        1 - F.col("phi21") * r1 - F.col("phi22") * r2
    )
    dl3 = dl2.select("n", "r1", "r2", "r3", "phi11", "phi22", phi33.alias("phi33"))
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    return (
        dl3.crossJoin(F.broadcast(ks))
        .select(
            "lag",
            F.round(
                F.when(F.col("lag") == 1, r1)
                .when(F.col("lag") == 2, r2)
                .otherwise(r3),
                6,
            ).alias("acf"),
            F.round(
                F.when(F.col("lag") == 1, F.col("phi11"))
                .when(F.col("lag") == 2, F.col("phi22"))
                .otherwise(F.col("phi33")),
                6,
            ).alias("pacf"),
            F.round(F.lit(1.96) / F.sqrt(F.col("n")), 6).alias("conf_band"),
        )
        .orderBy("lag")
    )


# --- rolling-origin forecast backtest ------------------------------------

_BACKTEST_ORACLE = """
WITH m AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS idx,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
              AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
s AS (
  SELECT rev, row_number() OVER (ORDER BY idx) AS t,
         count(*) OVER () AS n,
         lag(rev, 1) OVER (ORDER BY idx) AS y_1,
         lag(rev, 12) OVER (ORDER BY idx) AS y_12,
         first_value(rev) OVER (ORDER BY idx) AS y_first
  FROM m
),
origins AS (  -- last 12 months, each forecast from info strictly before t
  SELECT t, rev,
         y_1 AS f_naive,
         y_12 AS f_seasonal,
         y_1 + (y_1 - y_first) / (t - 2.0) AS f_drift
  FROM s
  WHERE t > n - 12 AND y_12 IS NOT NULL AND t > 2
),
long AS (
  SELECT method, rev, f FROM origins
  UNPIVOT (f FOR method IN (f_naive AS 'naive', f_seasonal AS 'seasonal_naive',
                            f_drift AS 'drift'))
),
err AS (
  SELECT method,
         CAST(round(abs(rev - f) / abs(rev), 12) AS DECIMAL(28,12)) AS ape,
         CAST(round((rev - f) * (rev - f), 4) AS DECIMAL(38,4)) AS se
  FROM long
)
SELECT method,
       count(*) AS n_origins,
       round(CAST(sum(ape) AS DOUBLE) / count(*) * 100, 4) AS mape_pct,
       round(sqrt(CAST(sum(se) AS DOUBLE) / count(*)), 2) AS rmse
FROM err GROUP BY method ORDER BY method
"""


@register("forecast_backtest_mape", oracle=_BACKTEST_ORACLE)
def forecast_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest over the last 12 months of the
    monthly-revenue series: MAPE and RMSE for the three closed-form
    baselines every forecasting workflow must beat — naive (y_{t-1}),
    seasonal naive (y_{t-12}), and drift (y_{t-1} + average historical
    increment). Each origin's forecast uses only information strictly
    before t (lag windows), so the backtest is leakage-free by
    construction — the evaluation harness that grades
    `holt_linear_smoothing` / `yule_walker_ar2_forecast` outputs.

    Determinism: monthly revenues are exact DECIMAL partials; each
    origin's APE / squared error rounds ONCE into DECIMAL before the
    per-method mean; forecasts are fixed IEEE chains on lag values.

    Plan shape: facts collapse to ~80 month rows; three lag windows
    over ONE sort; a 3-method expand of 12 origin rows; one 3-row
    aggregate. At 100 TB only the first aggregate sees data."""
    m = (
        table(spark, sf_dir, "orders")
        .groupBy((F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .cast("double")
            .alias("rev")
        )
    )
    w = Window.orderBy("idx")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = m.select(
        "rev",
        F.row_number().over(w).alias("t"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.lag("rev", 1).over(w).alias("y_1"),
        F.lag("rev", 12).over(w).alias("y_12"),
        F.first("rev").over(w_run).alias("y_first"),
    )
    origins = s.filter(
        (F.col("t") > F.col("n") - 12) & F.col("y_12").isNotNull() & (F.col("t") > 2)
    ).select(
        "t",
        "rev",
        F.col("y_1").alias("f_naive"),
        F.col("y_12").alias("f_seasonal"),
        (F.col("y_1") + (F.col("y_1") - F.col("y_first")) / (F.col("t") - 2.0)).alias(
            "f_drift"
        ),
    )
    long = origins.selectExpr(
        "rev",
        "stack(3, 'naive', f_naive, 'seasonal_naive', f_seasonal, "
        "'drift', f_drift) AS (method, f)",
    )
    err = long.select(
        "method",
        F.round(F.abs(F.col("rev") - F.col("f")) / F.abs(F.col("rev")), 12)
        .cast("decimal(28,12)")
        .alias("ape"),
        F.round((F.col("rev") - F.col("f")) * (F.col("rev") - F.col("f")), 4)
        .cast("decimal(38,4)")
        .alias("se"),
    )
    return (
        err.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_origins"),
            F.round(F.sum("ape").cast("double") / F.count(F.lit(1)) * 100, 4).alias(
                "mape_pct"
            ),
            F.round(F.sqrt(F.sum("se").cast("double") / F.count(F.lit(1))), 2).alias(
                "rmse"
            ),
        )
        .orderBy("method")
    )


# --- Wald–Wolfowitz runs test ---------------------------------------------

# A&S 26.2.17 tail template shared with audits.bh_fdr_segment_tests —
# duplicated literally here to keep each module's oracle self-contained.
_RT_PHI_K = "(1 / (1 + 0.2316419 * ({z})))"
_RT_PHI_TAIL = (
    "(exp(-({z}) * ({z}) / 2) / sqrt(2 * pi()) * " + _RT_PHI_K + " * "
    "(0.319381530 + " + _RT_PHI_K + " * (-0.356563782 + " + _RT_PHI_K + " * "
    "(1.781477937 + " + _RT_PHI_K + " * (-1.821255978 + " + _RT_PHI_K
    + " * 1.330274429)))))"
)

_RUNS_ORACLE = f"""
WITH m AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS idx,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS rev
  FROM orders GROUP BY 1
),
med AS (  -- exact lower median by integer rank over the month series
  SELECT rev AS med FROM (
    SELECT rev, row_number() OVER (ORDER BY rev, idx) AS rn,
           count(*) OVER () AS n
    FROM m
  ) WHERE rn = (n + 1) // 2
),
s AS (
  SELECT idx, CASE WHEN m.rev > med.med THEN 1 ELSE 0 END AS above
  FROM m, med
),
flips AS (
  SELECT above,
         CASE WHEN lag(above) OVER (ORDER BY idx) IS NULL THEN 1
              WHEN lag(above) OVER (ORDER BY idx) <> above THEN 1
              ELSE 0 END AS new_run
  FROM s
),
agg AS (
  SELECT count(*) AS n,
         CAST(sum(above) AS BIGINT) AS n1,
         CAST(count(*) - sum(above) AS BIGINT) AS n2,
         CAST(sum(new_run) AS BIGINT) AS runs
  FROM flips
),
z AS (
  -- degenerate-series guard mirrors the engine: constant series (n1=0
  -- or n2=0) or a 1-point series yields NULL z/p, never NaN
  SELECT n, n1, n2, runs,
         1 + 2.0 * n1 * n2 / n AS e_runs,
         CASE WHEN n > 1 AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) > 0
              THEN (runs - (1 + 2.0 * n1 * n2 / n))
                / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                       / (CAST(n AS DOUBLE) * n * (n - 1)))
         END AS z
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n_months, n1 AS n_above, n2 AS n_below,
       runs AS n_runs,
       round(e_runs, 4) AS expected_runs,
       round(z, 6) AS z_score,
       round(2 * {_RT_PHI_TAIL.format(z="abs(z)")}, 9) AS p_value
FROM z
"""


@register("runs_test_monthly", oracle=_RUNS_ORACLE)
def runs_test_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test of the monthly-revenue series against
    its exact median: too FEW sign runs means trend/level shifts, too
    MANY means oscillation — the randomness diagnostic that complements
    `mann_kendall_trend` (monotonic trend) and `cusum_changepoint`
    (level shift). Normal approximation with the shared A&S 26.2.17
    tail template (bit-identical p-values on both engines).

    Determinism: the median is exact integer-rank selection over the
    decimal month series (ties broken by month index); signs, run
    boundaries (lag window), and counts are pure integers; z and p are
    fixed IEEE chains.

    Plan shape: facts collapse to ~80 month rows; one rank window, one
    lag window, a 1-row report. At 100 TB only the first aggregate
    sees data."""
    m = (
        table(spark, sf_dir, "orders")
        .groupBy((F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("rev")
        )
    )
    w = Window.orderBy("rev", "idx")
    med = (
        m.select(
            "rev",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("rev").alias("med"))
    )
    s = m.crossJoin(F.broadcast(med)).select(
        "idx", F.when(F.col("rev") > F.col("med"), 1).otherwise(0).alias("above")
    )
    lag = F.lag("above").over(Window.orderBy("idx"))
    flips = s.select(
        "above",
        F.when(lag.isNull(), 1).when(lag != F.col("above"), 1).otherwise(0).alias(
            "new_run"
        ),
    )
    agg = flips.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("above").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("above")).cast("bigint").alias("n2"),
        F.sum("new_run").cast("bigint").alias("runs"),
    )
    nD = F.col("n").cast("double")
    two_n1n2 = 2.0 * F.col("n1") * F.col("n2")
    e_runs = 1 + two_n1n2 / F.col("n")
    # Degenerate-series guard (ADVICE r06): a constant series (every
    # month equals the median) gives n1 = 0, the variance term becomes
    # 0, and z would be 0/0 = NaN. NULL out z (and hence p) instead —
    # the suite's usual den != 0 totality discipline.
    z = F.when(
        (F.col("n") > 1) & (two_n1n2 * (two_n1n2 - F.col("n")) > 0),
        (F.col("runs") - e_runs)
        / F.sqrt(
            two_n1n2 * (two_n1n2 - F.col("n")) / (nD * F.col("n") * (F.col("n") - 1))
        ),
    )
    out = agg.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("runs").alias("n_runs"),
        F.round(e_runs, 4).alias("expected_runs"),
        F.round(z, 6).alias("z_score"),
        z.alias("_z"),
    )
    return out.select(
        "n_months",
        "n_above",
        "n_below",
        "n_runs",
        "expected_runs",
        "z_score",
        F.round(F.expr("2 * " + _RT_PHI_TAIL.format(z="abs(_z)")), 9).alias(
            "p_value"
        ),
    )
