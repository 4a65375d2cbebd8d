"""Wave 29: econometric time-series depth + robust regression.

- `adf_unit_root_lite`: Dickey-Fuller unit-root t-statistic of the
  monthly revenue level (constant-only regression Δx_t = α + β·x_{t-1})
  — the stationarity gate run before fitting any AR/ETS forecaster.
- `ccf_lead_lag`: cross-correlation of monthly revenue vs monthly
  order count at lags −6..+6 — the lead/lag scan behind "does volume
  lead revenue?".
- `newey_west_se`: OLS trend slope with a HAC (Newey-West, Bartlett
  l≤3) standard error next to the iid one — the autocorrelation-robust
  inference a monthly series actually requires.
- `hurst_exponent_rs`: rescaled-range (R/S) Hurst exponent of daily
  revenue over block sizes {8,16,32} — long-memory vs mean-reversion.
- `quantile_regression_lad`: median (LAD) regression of extendedprice
  on quantity by 3 unrolled IRLS rounds — the outlier-robust twin of
  `ols_price_regression`.

Determinism strategy (the established wave-11+ devices): every moment
is an exact DECIMAL sum cast once to double (DuckDB side through the
VARCHAR hop where the int128 kernel is involved); double-valued terms
that must be SUMMED round once into DECIMAL first (accumulation-order
safety); everything after the casts is a fixed IEEE expression chain
identical on both engines. All censuses are calendar- or
domain-bounded (PLANS.md round-8 section).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.irls import irls_fit, irls_sql, null_fit
from ocean_data_pipeline_spark.operators.monthly import (
    MONTH_INDEX,
    month_index,
    monthly_revenue,
    monthly_revenue_sql,
)
from ocean_data_pipeline_spark.operators.portable import vh
from ocean_data_pipeline_spark.queries import register

# --- ADF (Dickey-Fuller) unit-root t-statistic ---------------------------

_ADF_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(MONTH_INDEX)}),
p AS (  -- lag-1 pairs: a = level at t, b = level at t+1
  SELECT count(*) AS n,
         CAST(sum(a.x) AS DOUBLE) AS sa,
         CAST(sum(b.x) AS DOUBLE) AS sb,
         {vh("sum(CAST(a.x AS DECIMAL(19,2)) * CAST(a.x AS DECIMAL(19,2)))")} AS saa,
         {vh("sum(CAST(b.x AS DECIMAL(19,2)) * CAST(b.x AS DECIMAL(19,2)))")} AS sbb,
         {vh("sum(CAST(a.x AS DECIMAL(19,2)) * CAST(b.x AS DECIMAL(19,2)))")} AS sab
  FROM m a JOIN m b ON b.t = a.t + 1
),
s AS (
  SELECT n, sa AS sz, sb - sa AS sy, saa AS szz,
         sab - saa AS szy,
         sbb - 2 * sab + saa AS syy
  FROM p
),
c AS (
  SELECT n,
         szz - sz * sz / n AS szz_c,
         szy - sz * sy / n AS szy_c,
         syy - sy * sy / n AS syy_c
  FROM s
),
f AS (
  SELECT n, szz_c, syy_c, szy_c,
         CASE WHEN szz_c <> 0 THEN szy_c / szz_c END AS beta
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(beta, 8) AS beta,
       round(beta / sqrt(((syy_c - beta * szy_c) / (n - 2)) / szz_c), 4)
         AS t_stat,
       CAST(CASE WHEN beta / sqrt(((syy_c - beta * szy_c) / (n - 2)) / szz_c)
                      < -2.89 THEN 1 ELSE 0 END AS INT) AS stationary_5pct
FROM f
WHERE n > 2 AND szz_c <> 0 AND (syy_c - beta * szy_c) > 0
"""


@register("adf_unit_root_lite", oracle=_ADF_ORACLE)
def adf_unit_root_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-only Dickey-Fuller test on monthly revenue:
    Δx_t = α + β·x_{t-1}; t(β) < −2.89 (the 5% DF critical value for
    n≈100) rejects a unit root — the stationarity gate before
    `yule_walker_ar2_forecast` / `holt_winters_additive` are trusted.

    Determinism: Σy², Σzy, Σy decompose into the three base pair sums
    (Σa², Σb², Σab, Σa, Σb) so every product stays inside the
    (19,2)×(19,2) int128 decimal kernel (no (19,2)-difference squares
    that would clamp at precision 38); the β/t chain is fixed IEEE
    over those five doubles. Degenerate inputs (n≤2, constant series,
    perfect fit) return an empty frame on both engines.

    Plan shape: one map-side-combining aggregate to the month census,
    one self-join at lag 1 on the ≤84-row census, one 1-row solve. At
    100 TB only the first aggregate scales."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), month_index())
    a = m.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b = m.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    p = a.join(b, F.col("tb") == F.col("ta") + 1).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").cast("double").alias("sa"),
        F.sum("xb").cast("double").alias("sb"),
        F.sum(F.col("xa") * F.col("xa")).cast("double").alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).cast("double").alias("sbb"),
        F.sum(F.col("xa") * F.col("xb")).cast("double").alias("sab"),
    )
    n = F.col("n")
    sz, sy = F.col("sa"), F.col("sb") - F.col("sa")
    szz, szy = F.col("saa"), F.col("sab") - F.col("saa")
    syy = F.col("sbb") - 2 * F.col("sab") + F.col("saa")
    c = p.select(
        "n",
        (szz - sz * sz / n).alias("szz_c"),
        (szy - sz * sy / n).alias("szy_c"),
        (syy - sy * sy / n).alias("syy_c"),
    )
    beta = F.when(F.col("szz_c") != 0, F.col("szy_c") / F.col("szz_c"))
    f = c.select("n", "szz_c", "syy_c", "szy_c", beta.alias("beta"))
    rss = F.col("syy_c") - F.col("beta") * F.col("szy_c")
    t_stat = F.col("beta") / F.sqrt((rss / (F.col("n") - 2)) / F.col("szz_c"))
    return f.filter(
        (F.col("n") > 2) & (F.col("szz_c") != 0) & (rss > 0)
    ).select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round("beta", 8).alias("beta"),
        F.round(t_stat, 4).alias("t_stat"),
        F.when(t_stat < -2.89, 1).otherwise(0).cast("int").alias(
            "stationary_5pct"
        ),
    )


# --- cross-correlation (lead/lag) -----------------------------------------

_CCF_ORACLE = f"""
WITH m AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS t,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
),
k AS (SELECT unnest(range(-6, 7)) AS lag),
p AS (  -- rev at t+lag vs cnt at t
  SELECT k.lag,
         count(*) AS n,
         CAST(sum(a.rev) AS DOUBLE) AS sx,
         CAST(sum(b.cnt) AS DOUBLE) AS sy,
         {vh("sum(CAST(a.rev AS DECIMAL(19,2)) * CAST(a.rev AS DECIMAL(19,2)))")} AS sxx,
         CAST(sum(b.cnt * b.cnt) AS DOUBLE) AS syy,
         {vh("sum(a.rev * CAST(b.cnt AS DECIMAL(19,0)))")} AS sxy
  FROM k JOIN m b ON true
  JOIN m a ON a.t = b.t + k.lag
  GROUP BY k.lag
)
SELECT lag AS lag_months,
       CAST(n AS BIGINT) AS n_pairs,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
         AS ccf
FROM p
WHERE n > 1 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
ORDER BY lag_months
"""


@register("ccf_lead_lag", oracle=_CCF_ORACLE)
def ccf_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between monthly revenue and monthly
    order count at lags −6..+6 (ccf(k) = corr(rev_{t+k}, cnt_t) over
    the overlapping months): the lead/lag scan behind "does volume
    lead revenue, and by how many months?" — `acf_monthly_revenue`'s
    bivariate sibling.

    Determinism: revenue moments are exact DECIMAL sums (int128
    products, VARCHAR hop); counts are exact integers; each per-lag
    Pearson is one fixed IEEE chain. Degenerate lags (n≤1 or a
    constant side) drop out identically on both engines.

    Plan shape: one aggregate to the month census, a 13-lag broadcast
    grid joined against the ≤84-row census (≤1.1k pair rows), one
    aggregate per lag. At 100 TB only the first aggregate scales."""
    orders = table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("t")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    lags = spark.range(-6, 7).select(F.col("id").cast("int").alias("lag"))
    a = m.select(F.col("t").alias("ta"), F.col("rev").alias("x"))
    b = m.select(F.col("t").alias("tb"), F.col("cnt").alias("y"))
    p = (
        b.crossJoin(F.broadcast(lags))
        .join(a, F.col("ta") == F.col("tb") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
            F.sum(F.col("x") * F.col("y").cast("decimal(19,0)"))
            .cast("double")
            .alias("sxy"),
        )
    )
    n = F.col("n")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    ccf = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(varx) * F.sqrt(vary)
    )
    return (
        p.filter((n > 1) & (varx > 0) & (vary > 0))
        .select(
            F.col("lag").alias("lag_months"),
            n.cast("bigint").alias("n_pairs"),
            F.round(ccf, 6).alias("ccf"),
        )
        .orderBy("lag_months")
    )


# --- Newey-West HAC standard error -----------------------------------------

_NW_L = 3  # Bartlett truncation

_NW_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(MONTH_INDEX)}),
g AS (
  SELECT count(*) AS n,
         CAST(sum(t) AS DOUBLE) AS sz,
         CAST(sum(CAST(t AS BIGINT) * CAST(t AS BIGINT)) AS DOUBLE) AS szz,
         CAST(sum(x) AS DOUBLE) AS sy,
         {vh("sum(CAST(t AS DECIMAL(19,0)) * x)")} AS szy,
         {vh("sum(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2)))")} AS syy
  FROM m
),
coef AS (
  SELECT n, sz, szz,
         szz - sz * sz / n AS szz_c,
         syy - sy * sy / n AS syy_c,
         szy - sz * sy / n AS szy_c,
         CASE WHEN n * szz - sz * sz <> 0
              THEN (n * szy - sz * sy) / (n * szz - sz * sz) END AS b,
         CASE WHEN n * szz - sz * sz <> 0
              THEN (sy - (n * szy - sz * sy) / (n * szz - sz * sz) * sz) / n
         END AS a
  FROM g
),
u AS (  -- u_t = (t - mean(t)) * residual_t
  SELECT m.t,
         (m.t - c.sz / c.n) * (CAST(m.x AS DOUBLE) - c.a - c.b * m.t) AS u
  FROM m, coef c
),
gam AS (  -- Bartlett autocovariances of u at lags 0..{_NW_L}
  SELECT l.l,
         CAST(sum(CAST(round(a.u * b.u, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS gamma_l
  FROM (SELECT unnest(range(0, {_NW_L + 1})) AS l) l
  JOIN u a ON true
  JOIN u b ON a.t = b.t + l.l
  GROUP BY l.l
),
s AS (
  SELECT sum(CASE WHEN l = 0 THEN gamma_l
                  ELSE 2 * (1 - l / {_NW_L + 1}.0) * gamma_l END) AS shac
  FROM gam
)
SELECT CAST(c.n AS BIGINT) AS n_months,
       round(c.b, 6) AS slope,
       round(sqrt(((c.syy_c - c.b * c.szy_c) / (c.n - 2)) / c.szz_c), 6)
         AS ols_se,
       round(sqrt(s.shac) / c.szz_c, 6) AS nw_se,
       round((sqrt(s.shac) / c.szz_c)
             / sqrt(((c.syy_c - c.b * c.szy_c) / (c.n - 2)) / c.szz_c), 4)
         AS nw_ols_ratio
FROM coef c, s
WHERE c.n > 2 AND c.szz_c <> 0 AND (c.syy_c - c.b * c.szy_c) > 0
      AND s.shac > 0
"""


@register("newey_west_se", oracle=_NW_ORACLE)
def newey_west_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend slope of monthly revenue on the month index with BOTH
    the iid standard error and the Newey-West HAC one (Bartlett kernel,
    3 lags): serial correlation in a monthly series makes the iid SE
    overconfident, and the nw/ols ratio is exactly the factor by which
    naive trend inference overstates certainty.

    Determinism: base moments are exact integer/DECIMAL sums; the u_t
    census (≤84 rows) carries fixed IEEE chains of those doubles; the
    lagged u·u products round ONCE into DECIMAL(38,6) before summing
    (accumulation-order safety); everything after is fixed-shape.

    Plan shape: one aggregate to the month census, the residual map
    rides a broadcast 1-row coefficient frame, a 4-lag grid joins the
    census to itself, a 1-row combine. At 100 TB only the first
    aggregate scales."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), month_index())
    g = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").cast("double").alias("sz"),
        F.sum(F.col("t").cast("bigint") * F.col("t").cast("bigint"))
        .cast("double")
        .alias("szz"),
        F.sum("x").cast("double").alias("sy"),
        F.sum(F.col("t").cast("decimal(19,0)") * F.col("x"))
        .cast("double")
        .alias("szy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("syy"),
    )
    n = F.col("n")
    # ANSI totality: one month (constant tables) makes the slope
    # denominator 0 — NULL b/a then flow to NULL shac/rss, and the
    # final filter drops the row on both engines
    denb = n * F.col("szz") - F.col("sz") * F.col("sz")
    b = F.when(
        denb != 0, (n * F.col("szy") - F.col("sz") * F.col("sy")) / denb
    )
    coef = g.select(
        "n",
        "sz",
        "szz",
        (F.col("szz") - F.col("sz") * F.col("sz") / n).alias("szz_c"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("syy_c"),
        (F.col("szy") - F.col("sz") * F.col("sy") / n).alias("szy_c"),
        b.alias("b"),
        ((F.col("sy") - b * F.col("sz")) / n).alias("a"),
    )
    u = m.crossJoin(F.broadcast(coef)).select(
        "t",
        (
            (F.col("t") - F.col("sz") / F.col("n"))
            * (F.col("x").cast("double") - F.col("a") - F.col("b") * F.col("t"))
        ).alias("u"),
    )
    lags = spark.range(0, _NW_L + 1).select(F.col("id").cast("int").alias("l"))
    ua = u.select(F.col("t").alias("ta"), F.col("u").alias("uu"))
    ub = u.select(F.col("t").alias("tb"), F.col("u").alias("uv"))
    gam = (
        ua.crossJoin(F.broadcast(lags))
        .join(ub, F.col("ta") == F.col("tb") + F.col("l"))
        .groupBy("l")
        .agg(
            F.sum(
                F.round(F.col("uu") * F.col("uv"), 6).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("gamma_l")
        )
    )
    shac = gam.agg(
        F.sum(
            F.when(F.col("l") == 0, F.col("gamma_l")).otherwise(
                2 * (1 - F.col("l") / float(_NW_L + 1)) * F.col("gamma_l")
            )
        ).alias("shac")
    )
    rss = F.col("syy_c") - F.col("b") * F.col("szy_c")
    ols_se = F.sqrt((rss / (F.col("n") - 2)) / F.col("szz_c"))
    nw_se = F.sqrt(F.col("shac")) / F.col("szz_c")
    return (
        coef.crossJoin(F.broadcast(shac))
        .filter(
            (F.col("n") > 2)
            & (F.col("szz_c") != 0)
            & (rss > 0)
            & (F.col("shac") > 0)
        )
        .select(
            F.col("n").cast("bigint").alias("n_months"),
            F.round("b", 6).alias("slope"),
            F.round(ols_se, 6).alias("ols_se"),
            F.round(nw_se, 6).alias("nw_se"),
            F.round(nw_se / ols_se, 4).alias("nw_ols_ratio"),
        )
    )


# --- Hurst exponent by rescaled range ---------------------------------------

_RS_SIZES = (8, 16, 32)

_HURST_ORACLE = f"""
WITH d AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM orders GROUP BY 1
),
idx AS (
  SELECT x, row_number() OVER (ORDER BY day) AS i FROM d
),
blocks AS (
  SELECT s.s, (i - 1) // s.s AS blk, ((i - 1) % s.s) + 1 AS j, x
  FROM (SELECT unnest([{", ".join(str(s) for s in _RS_SIZES)}]) AS s) s
  JOIN idx ON true
),
complete AS (
  SELECT s, blk FROM blocks GROUP BY s, blk HAVING count(*) = s
),
z AS (
  SELECT b.s, b.blk, b.j,
         CAST(sum(b.x) OVER (PARTITION BY b.s, b.blk ORDER BY b.j
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS cum
  FROM blocks b JOIN complete c ON c.s = b.s AND c.blk = b.blk
),
bs AS (  -- exact per-block moments straight from the DECIMAL levels
  SELECT b.s, b.blk,
         CAST(sum(b.x) AS DOUBLE) / b.s AS m,
         sqrt({vh("sum(CAST(b.x AS DECIMAL(19,2)) * CAST(b.x AS DECIMAL(19,2)))")} / b.s
              - (CAST(sum(b.x) AS DOUBLE) / b.s)
                * (CAST(sum(b.x) AS DOUBLE) / b.s)) AS sd
  FROM blocks b JOIN complete c ON c.s = b.s AND c.blk = b.blk
  GROUP BY b.s, b.blk
),
stats AS (
  SELECT z.s, z.blk,
         max(z.cum - z.j * bs.m) - min(z.cum - z.j * bs.m) AS r,
         max(bs.sd) AS sd
  FROM z JOIN bs ON bs.s = z.s AND bs.blk = z.blk
  GROUP BY z.s, z.blk
),
rs AS (
  SELECT s,
         CAST(sum(CAST(round(r / sd, 9) AS DECIMAL(38,9))) AS DOUBLE)
           / count(*) AS mean_rs
  FROM stats WHERE sd > 0
  GROUP BY s
),
pts AS (
  SELECT count(*) AS k,
         CAST(sum(CAST(round(ln(s), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sl,
         CAST(sum(CAST(round(ln(mean_rs), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sr,
         CAST(sum(CAST(round(ln(s) * ln(s), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sll,
         CAST(sum(CAST(round(ln(s) * ln(mean_rs), 12) AS DECIMAL(38,12))) AS DOUBLE) AS slr
  FROM rs
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
       round((SELECT mean_rs FROM rs WHERE s = 8), 6)  AS rs8,
       round((SELECT mean_rs FROM rs WHERE s = 16), 6) AS rs16,
       round((SELECT mean_rs FROM rs WHERE s = 32), 6) AS rs32,
       round((k * slr - sl * sr) / (k * sll - sl * sl), 4) AS hurst
FROM pts WHERE k > 1 AND (k * sll - sl * sl) <> 0
"""


@register("hurst_exponent_rs", oracle=_HURST_ORACLE)
def hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by classic rescaled-range
    analysis (Hurst '51): split the day-indexed series into complete
    blocks of {8,16,32}, compute R/S per block (range of demeaned
    cumulative deviations over the population std), average per size,
    and fit the log-log slope — H≈0.5 random walk, >0.5 persistent
    trending, <0.5 mean-reverting. The long-memory diagnostic that
    decides whether `rolling_avg_monthly`-style smoothing helps.

    Determinism: per-block cumulative sums are exact DECIMAL window
    sums cast once to double; R/S rounds once into DECIMAL(38,9)
    before the per-size mean; the 3-point log-log regression rounds
    its terms into DECIMAL(38,12) before summing. The day-index
    row_number runs over the CALENDAR-bounded day census (~2.5k cap —
    PLANS.md round-8 bound class).

    Plan shape: one aggregate to the day census, block windows
    partitioned by (size, block), a 3-row fit. At 100 TB only the
    first aggregate scales."""
    orders = table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("x")
    )
    idx = d.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("i")
    )
    sizes = spark.createDataFrame([(s,) for s in _RS_SIZES], "s int")
    blocks = idx.crossJoin(F.broadcast(sizes)).select(
        "s",
        ((F.col("i") - 1) / F.col("s")).cast("int").alias("blk"),
        ((F.col("i") - 1) % F.col("s") + 1).alias("j"),
        "x",
    )
    complete = (
        blocks.groupBy("s", "blk")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") == F.col("s"))
        .drop("_c")
    )
    wcum = (
        Window.partitionBy("s", "blk")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = blocks.join(complete, ["s", "blk"])
    z = kept.select(
        "s", "blk", "j", F.sum("x").over(wcum).cast("double").alias("cum")
    )
    m = F.sum("x").cast("double") / F.first("s")
    bs = kept.groupBy("s", "blk").agg(
        m.alias("m"),
        F.sqrt(
            F.sum(F.col("x") * F.col("x")).cast("double") / F.first("s")
            - m * m
        ).alias("sd"),
    )
    dev = F.col("cum") - F.col("j") * F.col("m")
    stats = (
        z.join(bs, ["s", "blk"])
        .groupBy("s", "blk")
        .agg((F.max(dev) - F.min(dev)).alias("r"), F.max("sd").alias("sd"))
    )
    rs = (
        stats.filter(F.col("sd") > 0)
        .groupBy("s")
        .agg(
            (
                F.sum(
                    F.round(F.col("r") / F.col("sd"), 9).cast("decimal(38,9)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_rs")
        )
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    pts = rs.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(d12(F.log("s"))).cast("double").alias("sl"),
        F.sum(d12(F.log("mean_rs"))).cast("double").alias("sr"),
        F.sum(d12(F.log("s") * F.log("s"))).cast("double").alias("sll"),
        F.sum(d12(F.log("s") * F.log("mean_rs"))).cast("double").alias("slr"),
    )
    k = F.col("k")
    hurst = (k * F.col("slr") - F.col("sl") * F.col("sr")) / (
        k * F.col("sll") - F.col("sl") * F.col("sl")
    )
    n_days = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    wide = rs.groupBy().pivot("s", list(_RS_SIZES)).agg(F.first("mean_rs"))
    return (
        pts.filter((k > 1) & ((k * F.col("sll") - F.col("sl") * F.col("sl")) != 0))
        .crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(wide))
        .select(
            "n_days",
            F.round(F.col("8"), 6).alias("rs8"),
            F.round(F.col("16"), 6).alias("rs16"),
            F.round(F.col("32"), 6).alias("rs32"),
            F.round(hurst, 4).alias("hurst"),
        )
    )


# --- robust line fits (LAD here, Huber in wave30_ops) by unrolled IRLS ------

_ROBUST_ROUNDS = 3
#: the oracle's per-row residual from the previous round's line `p`
_RESID_SQL = "y - p.b0 - p.b1 * x"


def robust_line_oracle(w_sql: str) -> str:
    """Oracle of a `robust_line_fit` query; `w_sql` is its weight with
    ``{r}`` standing for the residual."""
    rounds, prev = irls_sql(_ROBUST_ROUNDS, w=w_sql.format(r=_RESID_SQL), z="y")
    return f"""
WITH base AS MATERIALIZED (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem
),
b0r AS MATERIALIZED (
  SELECT CAST(sum(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) / count(*)
           AS b0,
         CAST(0.0 AS DOUBLE) AS b1
  FROM base
){rounds}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_rows,
       round(p.b0, 4) AS intercept,
       round(p.b1, 4) AS slope,
       round(CAST((SELECT sum(CAST(round(abs({_RESID_SQL}), 6)
                                   AS DECIMAL(38,6)))
                   FROM base) AS DOUBLE)
             / (SELECT count(*) FROM base), 4) AS mean_abs_resid
FROM {prev} p"""


def robust_line_fit(
    spark: SparkSession, sf_dir: str, weight: Callable[[Column], Column]
) -> DataFrame:
    """Robust regression of extendedprice on quantity: `_ROBUST_ROUNDS`
    IRLS rounds with z = y and w = `weight(residual)`, seeded at the
    mean price, read out as (n_rows, intercept, slope, mean_abs_resid).

    Plan shape: `_ROBUST_ROUNDS` aggregate-only passes over the fact
    scan, each a map-side-combining 5-sum reduce — no per-row state, no
    sort. At 100 TB this is a handful of scans, nothing else. The scan
    rides `spread=True`: DECIMAL(38,9) partial sums are CPU-bound, so a
    row-group-starved scan (3 tasks here) serializes each pass; the
    spread is a no-op on properly sized cluster files (catalog.table
    guard)."""
    li = table(spark, sf_dir, "lineitem", spread=True)
    # One materialization feeds all _ROBUST_ROUNDS+2 aggregate passes:
    # the projected relation is 2 doubles/row, so checkpointing it beats
    # re-running scan+spread per pass (same device as operators/ranks.py).
    base = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    ).localCheckpoint(eager=False)
    dec6 = lambda c: F.round(c, 6).cast("decimal(38,6)")  # noqa: E731
    seed = base.agg(
        (F.sum(dec6(F.col("y"))).cast("double") / F.count(F.lit(1))).alias("b0"),
    ).first()
    if seed["b0"] is None:
        return null_fit(base, "n_rows", ("intercept", "slope", "mean_abs_resid"))

    def step(b0: Column, b1: Column) -> tuple[Column, Column]:
        return weight(F.col("y") - b0 - b1 * F.col("x")), F.col("y")

    b0, b1 = irls_fit(base, float(seed["b0"]), _ROBUST_ROUNDS, step)
    resid = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (
            F.sum(
                dec6(F.abs(F.col("y") - F.lit(b0) - F.lit(b1) * F.col("x")))
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("mar"),
    )
    return resid.select(
        "n_rows",
        F.round(F.lit(b0), 4).alias("intercept"),
        F.round(F.lit(b1), 4).alias("slope"),
        F.round("mar", 4).alias("mean_abs_resid"),
    )


@register(
    "quantile_regression_lad",
    oracle=robust_line_oracle("1.0 / greatest(abs({r}), 1.0)"),
)
def quantile_regression_lad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (least-absolute-deviations) regression of extendedprice
    on quantity via 3 unrolled IRLS rounds (w = 1/max(|r|, 1) — the
    standard smoothed-LAD reweighting): the outlier-robust twin of
    `ols_price_regression`, converging to the conditional-median line
    the L2 fit gets dragged off by price spikes.

    Determinism: each round's five weighted moments round ONCE into
    DECIMAL(38,9) before summing (partitioning-invariant); the 2×2
    solve is a fixed IEEE chain on those doubles; the oracle unrolls
    the identical rounds as MATERIALIZED CTEs (the operators/irls.py
    device). Body and plan shape: `robust_line_fit`."""
    return robust_line_fit(
        spark, sf_dir, lambda r: 1.0 / F.greatest(F.abs(r), F.lit(1.0))
    )
