"""Wave 32: forecasting, multiresolution energy, least-squares
changepoints, agreement, and collinearity diagnostics.

- `theta_method_forecast`: the Theta method (M3-winning forecaster) on
  monthly revenue — SES on the theta=2 line in CLOSED FORM (the
  recursive level as an explicit power-weighted sum) averaged with the
  drift term.
- `haar_energy_monthly`: Haar multiresolution detail-energy split of
  the first 64 months of revenue — which time scale carries the
  variance?
- `binseg_changepoint_monthly`: single least-squares changepoint
  (binary segmentation step 1) over the month census — the best
  mean-shift breakpoint the CUSUM/Page-Hinkley alarms point at.
- `cohens_kappa_rules`: chance-corrected agreement between two
  document quality gates — the κ the McNemar test complements.
- `partial_correlation_lineitem`: corr(quantity, price | discount) —
  does the raw correlation survive controlling the discount?
- `vif_lineitem_regressors`: variance inflation factors of the three
  lineitem regressors in closed form from the 3x3 correlation matrix
  — the collinearity gate before trusting OLS coefficients.

Determinism strategy: exact decimal moment sums ((19,2) kernel /
round-once-into-DECIMAL for derived doubles), fixed IEEE chains after,
bounded censuses (months, 6 wavelet levels, 3x3 moments), integer or
name tiebreaks everywhere a row is selected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.monthly import (
    YEAR_MONTH,
    monthly_revenue,
    monthly_revenue_sql,
    year_month,
)
from ocean_data_pipeline_spark.operators.portable import vh
from ocean_data_pipeline_spark.queries import register

# --- Theta method forecast ---------------------------------------------------

_THETA_ALPHA = 0.5

_THETA_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
r AS (
  SELECT CAST(x AS DOUBLE) AS x,
         row_number() OVER (ORDER BY y, mo) AS t
  FROM m
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
ols AS (  -- linear trend fit x = a + b t
  SELECT (count(*) * sum(CAST(round(t * x, 6) AS DECIMAL(38,6)))
          - sum(t) * sum(CAST(round(x, 6) AS DECIMAL(38,6))))
         / (count(*) * sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
            - sum(t) * sum(t)) AS b,
         (CAST(sum(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE)
          - CAST((count(*) * sum(CAST(round(t * x, 6) AS DECIMAL(38,6)))
                  - sum(t) * sum(CAST(round(x, 6) AS DECIMAL(38,6))))
                 / (count(*) * sum(CAST(t AS DECIMAL(19,0))
                                   * CAST(t AS DECIMAL(19,0)))
                    - sum(t) * sum(t)) AS DOUBLE) * sum(t)) / count(*) AS a
  FROM r
),
theta AS (  -- theta=2 line: 2x_t - (a + b t)
  SELECT t, 2 * x - (CAST(o.a AS DOUBLE) + CAST(o.b AS DOUBLE) * t) AS z
  FROM r, ols o
),
ses AS (  -- closed-form SES level at T: a(1-a)^(T-t) weights, z_1 seeds
  SELECT CAST(sum(CAST(round(
           CASE WHEN th.t = 1
                THEN power(1 - {_THETA_ALPHA}, n.n - 1) * th.z
                ELSE {_THETA_ALPHA} * power(1 - {_THETA_ALPHA}, n.n - th.t)
                     * th.z END, 9) AS DECIMAL(38,9))) AS DOUBLE) AS level
  FROM theta th, n
),
drift AS (SELECT CAST(a AS DOUBLE) + CAST(b AS DOUBLE) * (n.n + 1) AS trend1
          FROM ols, n)
SELECT n.n AS n_months,
       round(s.level, 2) AS ses_theta_level,
       round(d.trend1, 2) AS trend_forecast,
       round((s.level + d.trend1) / 2, 2) AS theta_forecast
FROM ses s, drift d, n
WHERE n.n > 1
"""


@register("theta_method_forecast", oracle=_THETA_ORACLE)
def theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method one-step forecast of monthly revenue (Assimakopoulos
    & Nikolopoulos '00, the M3 competition winner): average of (a) the
    linear-trend extrapolation and (b) SES (α = 0.5) applied to the
    theta=2 line 2x_t − trend_t. The SES recursion is UNROLLED into its
    closed form — level_T = Σ_t w_t·z_t with w_t = α(1−α)^{T−t} (seed
    weight (1−α)^{T−1} on z_1) — so the "recursive" forecaster becomes
    one weighted aggregate: no applyInPandas, no recursive CTE.

    Determinism: the trend fit runs on exact decimal moment sums; each
    SES term (a pow-weighted double) rounds ONCE into DECIMAL(38,9)
    before the sum; the final average is a fixed chain.

    Plan shape: one fact aggregate to the ≤84-row month census, one
    trend aggregate, one weighted aggregate against the broadcast
    1-row (a, b, n) frame. Only the first aggregate scales."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month())
    r = m.select(
        F.col("x").cast("double").alias("x"),
        F.row_number().over(Window.orderBy("y", "mo")).alias("t"),
    )
    d6 = lambda c: F.round(c, 6).cast("decimal(38,6)")  # noqa: E731
    ols = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t").cast("decimal(19,0)") * F.col("t").cast("decimal(19,0)"))
        .alias("stt"),
        F.sum(d6(F.col("x"))).alias("sx"),
        F.sum(d6(F.col("t") * F.col("x"))).alias("stx"),
    )
    n, st, stt = F.col("n"), F.col("st"), F.col("stt")
    b = F.try_divide(n * F.col("stx") - st * F.col("sx"), n * stt - st * st)
    coef = ols.select(
        "n",
        b.cast("double").alias("b"),
        ((F.col("sx").cast("double") - b.cast("double") * st) / n).alias("a"),
    )
    z = 2 * F.col("x") - (F.col("a") + F.col("b") * F.col("t"))
    al = _THETA_ALPHA
    w = F.when(
        F.col("t") == 1, F.pow(F.lit(1 - al), F.col("n") - 1) * z
    ).otherwise(al * F.pow(F.lit(1 - al), F.col("n") - F.col("t")) * z)
    ses = (
        r.crossJoin(F.broadcast(coef))
        .agg(
            F.sum(F.round(w, 9).cast("decimal(38,9)")).cast("double").alias("level")
        )
    )
    return (
        ses.crossJoin(F.broadcast(coef))
        .filter(F.col("n") > 1)
        .select(
            F.col("n").cast("bigint").alias("n_months"),
            F.round("level", 2).alias("ses_theta_level"),
            F.round(F.col("a") + F.col("b") * (F.col("n") + 1), 2).alias(
                "trend_forecast"
            ),
            F.round(
                (F.col("level") + F.col("a") + F.col("b") * (F.col("n") + 1)) / 2,
                2,
            ).alias("theta_forecast"),
        )
    )


# --- Haar multiresolution energy ---------------------------------------------

_HAAR_N = 64  # first 64 months (6 dyadic levels)

_HAAR_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
r AS (  -- revenue in MILLIONS: keeps every later rounding digit far
        -- above the double's ulp (raw sums ~1e13 made round(.,4)
        -- a sub-ulp knife edge)
  SELECT CAST(x AS DOUBLE) / 1e6 AS x,
         row_number() OVER (ORDER BY y, mo) - 1 AS t
  FROM m QUALIFY row_number() OVER (ORDER BY y, mo) <= {_HAAR_N}
),
lv AS (SELECT unnest(generate_series(1, 6)) AS level),
blocks AS (  -- at each level: block mean of the left and right halves
  SELECT l.level,
         t // CAST(power(2, l.level) AS BIGINT) AS blk,
         CAST(sum(CASE WHEN (t % CAST(power(2, l.level) AS BIGINT))
                            < CAST(power(2, l.level - 1) AS BIGINT)
                       THEN CAST(round(x, 9) AS DECIMAL(38,9)) END) AS DOUBLE)
           / power(2, l.level - 1) AS lmean,
         CAST(sum(CASE WHEN (t % CAST(power(2, l.level) AS BIGINT))
                            >= CAST(power(2, l.level - 1) AS BIGINT)
                       THEN CAST(round(x, 9) AS DECIMAL(38,9)) END) AS DOUBLE)
           / power(2, l.level - 1) AS rmean
  FROM r CROSS JOIN lv l
  GROUP BY 1, 2
),
en AS (
  SELECT level, CAST(count(*) AS BIGINT) AS n_coeffs,
         CAST(sum(CAST(round(
           ((lmean - rmean) / 2) * ((lmean - rmean) / 2)
           * power(2, level), 9) AS DECIMAL(38,9))) AS DOUBLE) AS energy
  FROM blocks GROUP BY level
),
tot AS (SELECT sum(energy) AS te FROM en)
SELECT level AS scale_months_log2, n_coeffs,
       round(energy, 4) AS energy_msq,
       round(energy / te, 6) AS energy_share
FROM en, tot
ORDER BY level
"""


@register("haar_energy_monthly", oracle=_HAAR_ORACLE)
def haar_energy_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar multiresolution energy split of the first 64 months of
    revenue: at each dyadic level j (2, 4, ... 64-month blocks), the
    detail energy Σ_blocks ((left-half mean − right-half mean)/2)²·2^j
    — "which time scale carries the variance" (level 1 ≈ month-to-
    month noise, level 6 ≈ the 5-year trend), the multiresolution
    readout a periodogram can't localize.

    Determinism: block means are exact decimal sums over fixed integer
    block assignments (row_number over the total month order); each
    block's energy term rounds ONCE into DECIMAL(38,9) before the
    per-level sum; shares are fixed ratios.

    Plan shape: one fact aggregate to the month census, a 6-level
    broadcast grid, one (level, block)-keyed partial agg (≤126 cells),
    one 6-row total. The only partition-less window is the census
    row_number (calendar class)."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month())
    # revenue in MILLIONS — see the oracle comment on ulp headroom
    r = (
        m.select(
            (F.col("x").cast("double") / 1e6).alias("x"),
            (F.row_number().over(Window.orderBy("y", "mo")) - 1).alias("t"),
        )
        .filter(F.col("t") < _HAAR_N)
    )
    lv = spark.range(1, 7).select(F.col("id").cast("int").alias("level"))
    half = F.pow(F.lit(2.0), F.col("level") - 1)
    width = F.expr("CAST(1 AS BIGINT) << level")
    halfw = F.expr("CAST(1 AS BIGINT) << (level - 1)")
    d9 = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    blocks = (
        r.crossJoin(F.broadcast(lv))
        .groupBy("level", F.expr("t div (1 << level)").alias("blk"))
        .agg(
            (
                F.sum(
                    F.when((F.col("t") % width) < halfw, d9(F.col("x")))
                ).cast("double")
                / half
            ).alias("lmean"),
            (
                F.sum(
                    F.when((F.col("t") % width) >= halfw, d9(F.col("x")))
                ).cast("double")
                / half
            ).alias("rmean"),
        )
    )
    diff = (F.col("lmean") - F.col("rmean")) / 2
    en = blocks.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
        F.sum(
            F.round(diff * diff * F.pow(F.lit(2.0), F.col("level")), 9).cast(
                "decimal(38,9)"
            )
        )
        .cast("double")
        .alias("energy"),
    )
    tot = en.agg(F.sum("energy").alias("te"))
    return (
        en.crossJoin(F.broadcast(tot))
        .select(
            F.col("level").alias("scale_months_log2"),
            "n_coeffs",
            F.round("energy", 4).alias("energy_msq"),
            F.round(F.col("energy") / F.col("te"), 6).alias("energy_share"),
        )
        .orderBy("scale_months_log2")
    )


# --- binary-segmentation changepoint ----------------------------------------

_BINSEG_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
r AS (
  SELECT y, mo, CAST(x AS DOUBLE) AS x,
         row_number() OVER (ORDER BY y, mo) AS t,
         CAST(sum(CAST(x AS DECIMAL(28,2)))
              OVER (ORDER BY y, mo ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cx
  FROM m
),
n AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(CAST(x AS DECIMAL(28,2)))
         AS DOUBLE) AS sx
  FROM m
),
gain AS (  -- between-group SSE reduction of a split after t
  SELECT r.t, r.y, r.mo,
         r.cx * r.cx / r.t + (n.sx - r.cx) * (n.sx - r.cx) / (n.n - r.t)
           - n.sx * n.sx / n.n AS g,
         r.cx / r.t AS mean_left,
         (n.sx - r.cx) / (n.n - r.t) AS mean_right
  FROM r, n WHERE r.t < n.n
),
best AS (
  SELECT t, y, mo, g, mean_left, mean_right,
         row_number() OVER (ORDER BY g DESC, t) AS rk
  FROM gain
),
sst AS (
  SELECT CAST(sum(CAST(round((r.x - n.sx / n.n) * (r.x - n.sx / n.n), 4)
              AS DECIMAL(38,4))) AS DOUBLE) AS sst
  FROM r, n
)
SELECT (SELECT n FROM n) AS n_months,
       CAST(b.y * 100 + b.mo AS BIGINT) AS split_after_month,
       b.t AS split_after_t,
       round(b.mean_left, 2) AS mean_before,
       round(b.mean_right, 2) AS mean_after,
       round(b.g / s.sst, 6) AS var_reduction
FROM best b, sst s WHERE b.rk = 1 AND s.sst > 0
"""


@register("binseg_changepoint_monthly", oracle=_BINSEG_ORACLE)
def binseg_changepoint_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single least-squares changepoint of monthly revenue (binary
    segmentation, step 1): the split t maximizing the between-group
    SSE reduction cx²/t + (S−cx)²/(n−t) − S²/n — the BEST mean-shift
    breakpoint, where `cusum_changepoint` / `page_hinkley_revenue`
    only alarm that one exists. Reports the split month, both segment
    means, and the fraction of total variance the split removes.

    Determinism: prefix sums are exact decimals; per-split gains are
    fixed IEEE on those; the argmax tie-breaks on t; SST terms round
    ONCE into DECIMAL(38,4).

    Plan shape: one fact aggregate to the month census; candidate
    gains come from ONE cumulative window + a broadcast 1-row total
    (calendar-bounded); argmax is a census-sized rank."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month())
    w = Window.orderBy("y", "mo").rowsBetween(Window.unboundedPreceding, 0)
    r = m.select(
        "y", "mo",
        F.col("x").cast("double").alias("xd"),
        F.row_number().over(Window.orderBy("y", "mo")).alias("t"),
        F.sum(F.col("x").cast("decimal(28,2)")).over(w).cast("double").alias("cx"),
    ).localCheckpoint(eager=False)
    n = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(28,2)")).cast("double").alias("sx"),
    )
    g = (
        F.col("cx") * F.col("cx") / F.col("t")
        + (F.col("sx") - F.col("cx")) * (F.col("sx") - F.col("cx"))
        / (F.col("n") - F.col("t"))
        - F.col("sx") * F.col("sx") / F.col("n")
    )
    gain = (
        r.crossJoin(F.broadcast(n))
        .filter(F.col("t") < F.col("n"))
        .select(
            "t", "y", "mo",
            g.alias("g"),
            (F.col("cx") / F.col("t")).alias("mean_left"),
            ((F.col("sx") - F.col("cx")) / (F.col("n") - F.col("t"))).alias(
                "mean_right"
            ),
        )
    )
    best = gain.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("g"), "t"))
    ).filter(F.col("rk") == 1)
    sst = (
        r.crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                F.round(
                    (F.col("xd") - F.col("sx") / F.col("n"))
                    * (F.col("xd") - F.col("sx") / F.col("n")),
                    4,
                ).cast("decimal(38,4)")
            )
            .cast("double")
            .alias("sst")
        )
    )
    return (
        best.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(sst))
        .filter(F.col("sst") > 0)  # constant-series guard (ANSI div/0)
        .select(
            F.col("n").alias("n_months"),
            (F.col("y") * 100 + F.col("mo")).cast("bigint").alias(
                "split_after_month"
            ),
            F.col("t").alias("split_after_t"),
            F.round("mean_left", 2).alias("mean_before"),
            F.round("mean_right", 2).alias("mean_after"),
            F.round(F.col("g") / F.col("sst"), 6).alias("var_reduction"),
        )
    )


# --- Cohen's kappa between the two document gates -----------------------------

_KAPPA_LEN = 300
_KAPPA_TOK = 60

_KAPPA_ORACLE = f"""
WITH r AS (
  SELECT CASE WHEN length(text) >= {_KAPPA_LEN} THEN 1 ELSE 0 END AS ra,
         CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   >= {_KAPPA_TOK} THEN 1 ELSE 0 END AS rb
  FROM documents WHERE length(trim(text)) > 0
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ra * rb) AS BIGINT) AS a,
         CAST(sum(ra * (1 - rb)) AS BIGINT) AS b,
         CAST(sum((1 - ra) * rb) AS BIGINT) AS c,
         CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS d
  FROM r
),
k AS (
  SELECT n, a, b, c, d,
         CAST(a + d AS DOUBLE) / n AS po,
         (CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
           / (CAST(n AS DOUBLE) * n) AS pe
  FROM cells
)
SELECT n AS n_docs, a AS n_both, d AS n_neither,
       round(po, 6) AS observed_agreement,
       round(pe, 6) AS chance_agreement,
       CASE WHEN pe < 1 THEN round((po - pe) / (1 - pe), 6) END AS kappa
FROM k
"""


@register("cohens_kappa_rules", oracle=_KAPPA_ORACLE)
def cohens_kappa_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the same two document gates McNemar tests
    (`mcnemar_doc_rules`): κ = (p_o − p_e)/(1 − p_e), the CHANCE-
    CORRECTED agreement — two gates can agree 90% of the time and
    still be independent (κ ≈ 0) when both mostly pass; κ is the
    number to quote when claiming two filters are interchangeable.

    Determinism: the 2x2 is exact integers off one scan; κ is a fixed
    IEEE chain; the degenerate p_e = 1 case yields NULL on both
    engines.

    Plan shape: one scan, map-side rule evaluation, a 5-cell
    aggregate."""
    docs = table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    ra = (F.length("text") >= _KAPPA_LEN).cast("int")
    rb = (
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= _KAPPA_TOK
    ).cast("int")
    cells = docs.select(ra.alias("ra"), rb.alias("rb")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("a"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("bigint").alias("c"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).cast("bigint").alias("d"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("a") + F.col("d")).cast("double") / F.col("n")
    pe = (
        (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")).cast("double") * (F.col("b") + F.col("d"))
    ) / (nd * nd)
    k = cells.select(
        "n", "a", "b", "c", "d", po.alias("po"), pe.alias("pe")
    )
    return k.select(
        F.col("n").alias("n_docs"),
        F.col("a").alias("n_both"),
        F.col("d").alias("n_neither"),
        F.round("po", 6).alias("observed_agreement"),
        F.round("pe", 6).alias("chance_agreement"),
        F.when(
            F.col("pe") < 1,
            F.round((F.col("po") - F.col("pe")) / (1 - F.col("pe")), 6),
        ).alias("kappa"),
    )


# --- partial correlation + VIF (shared 3x3 moment pass) -----------------------

_MOM3_SQL = f"""
  SELECT count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         {vh("sum(CAST(round(CAST(l_extendedprice AS DOUBLE) / 10000, 9) AS DECIMAL(38,9)))")} AS sy,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sz,
         {vh("sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(19,2)))")} AS sxx,
         {vh("sum(CAST(round(CAST(l_extendedprice AS DOUBLE) / 10000 * (CAST(l_extendedprice AS DOUBLE) / 10000), 9) AS DECIMAL(38,9)))")} AS syy,
         {vh("sum(CAST(l_discount AS DECIMAL(19,2)) * CAST(l_discount AS DECIMAL(19,2)))")} AS szz,
         {vh("sum(CAST(round(CAST(l_quantity AS DOUBLE) * (CAST(l_extendedprice AS DOUBLE) / 10000), 9) AS DECIMAL(38,9)))")} AS sxy,
         {vh("sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_discount AS DECIMAL(19,2)))")} AS sxz,
         {vh("sum(CAST(round(CAST(l_discount AS DOUBLE) * (CAST(l_extendedprice AS DOUBLE) / 10000), 9) AS DECIMAL(38,9)))")} AS syz
  FROM lineitem
"""

_CORR3_SQL = """
  SELECT n,
         (sxy - sx * sy / n)
           / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS rxy,
         (sxz - sx * sz / n)
           / sqrt((sxx - sx * sx / n) * (szz - sz * sz / n)) AS rxz,
         (syz - sy * sz / n)
           / sqrt((syy - sy * sy / n) * (szz - sz * sz / n)) AS ryz
  FROM mom
  WHERE n > 2 AND (sxx - sx * sx / n) > 0 AND (syy - sy * sy / n) > 0
        AND (szz - sz * sz / n) > 0
"""

_PCORR_ORACLE = f"""
WITH mom AS ({_MOM3_SQL}),
c AS ({_CORR3_SQL})
SELECT CAST(n AS BIGINT) AS n_rows,
       round(rxy, 6) AS r_qty_price,
       round(rxz, 6) AS r_qty_discount,
       round(ryz, 6) AS r_price_discount,
       round((rxy - rxz * ryz)
             / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
         AS partial_r_qty_price
FROM c
WHERE abs(rxz) < 1 AND abs(ryz) < 1
"""


def _mom3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem", spread=True)
    ys = F.col("l_extendedprice").cast("double") / 10000
    d9 = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    dec2 = lambda c: F.col(c).cast("decimal(19,2)")  # noqa: E731
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(d9(ys)).cast("double").alias("sy"),
        F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double").alias("sz"),
        F.sum(dec2("l_quantity") * dec2("l_quantity")).cast("double").alias("sxx"),
        F.sum(d9(ys * ys)).cast("double").alias("syy"),
        F.sum(dec2("l_discount") * dec2("l_discount")).cast("double").alias("szz"),
        F.sum(d9(F.col("l_quantity").cast("double") * ys)).cast("double").alias("sxy"),
        F.sum(dec2("l_quantity") * dec2("l_discount")).cast("double").alias("sxz"),
        F.sum(d9(F.col("l_discount").cast("double") * ys)).cast("double").alias("syz"),
    )


def _corr3(mom: DataFrame) -> DataFrame:
    n = F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    cxz = F.col("sxz") - F.col("sx") * F.col("sz") / n
    cyz = F.col("syz") - F.col("sy") * F.col("sz") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    vz = F.col("szz") - F.col("sz") * F.col("sz") / n
    # constant-column guard: zero variance would divide by zero under
    # ANSI mode (empty result on both engines instead)
    return mom.filter((n > 2) & (vx > 0) & (vy > 0) & (vz > 0)).select(
        "n",
        (cxy / F.sqrt(vx * vy)).alias("rxy"),
        (cxz / F.sqrt(vx * vz)).alias("rxz"),
        (cyz / F.sqrt(vy * vz)).alias("ryz"),
    )


@register("partial_correlation_lineitem", oracle=_PCORR_ORACLE)
def partial_correlation_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation r(quantity, price | discount) = (r_xy −
    r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) next to the three raw Pearson
    correlations — does the quantity↔price relation survive
    controlling for the discount, or was it routed through it? (The
    conditioning question raw `lineitem_corr_stats` can't answer.)

    Determinism: all nine moments are exact decimal sums from ONE
    pass ((19,2) int128 kernel for the cents-exact columns, round-
    once DECIMAL(38,9) for the scaled-price products, VARCHAR hop on
    the DuckDB side); the correlation algebra is a fixed IEEE chain.

    Plan shape: ONE map-side-combining aggregate over the fact scan,
    then 1-row algebra."""
    c = _corr3(_mom3(spark, sf_dir))
    return c.filter(
        (F.abs(F.col("rxz")) < 1) & (F.abs(F.col("ryz")) < 1)
    ).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round("rxy", 6).alias("r_qty_price"),
        F.round("rxz", 6).alias("r_qty_discount"),
        F.round("ryz", 6).alias("r_price_discount"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("partial_r_qty_price"),
    )


_VIF_ORACLE = f"""
WITH mom AS ({_MOM3_SQL}),
c AS ({_CORR3_SQL}),
d AS (
  SELECT n, rxy, rxz, ryz,
         1 - rxy * rxy - rxz * rxz - ryz * ryz + 2 * rxy * rxz * ryz AS det_r
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(det_r, 6) AS corr_det,
       round((1 - ryz * ryz) / det_r, 4) AS vif_quantity,
       round((1 - rxz * rxz) / det_r, 4) AS vif_price,
       round((1 - rxy * rxy) / det_r, 4) AS vif_discount
FROM d WHERE det_r > 0
"""


@register("vif_lineitem_regressors", oracle=_VIF_ORACLE)
def vif_lineitem_regressors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors of the three lineitem regressors
    (quantity, price/10⁴, discount) in CLOSED FORM from the 3x3
    correlation matrix: VIF_i = R_ii⁻¹ = (1 − r_jk²)/det(R) with
    det(R) = 1 − r_xy² − r_xz² − r_yz² + 2·r_xy·r_xz·r_yz — the
    collinearity gate (VIF > 5-10 ⇒ the OLS coefficient on that
    regressor is unstable) run before trusting any multi-feature fit
    on these columns.

    Determinism: shares `partial_correlation_lineitem`'s single-pass
    exact moment discipline; the inverse-diagonal chain is fixed IEEE.

    Plan shape: ONE aggregate pass + 1-row algebra."""
    c = _corr3(_mom3(spark, sf_dir))
    det = (
        1
        - F.col("rxy") * F.col("rxy")
        - F.col("rxz") * F.col("rxz")
        - F.col("ryz") * F.col("ryz")
        + 2 * F.col("rxy") * F.col("rxz") * F.col("ryz")
    )
    d = c.select("n", "rxy", "rxz", "ryz", det.alias("det_r"))
    return d.filter(F.col("det_r") > 0).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round("det_r", 6).alias("corr_det"),
        F.round((1 - F.col("ryz") * F.col("ryz")) / F.col("det_r"), 4).alias(
            "vif_quantity"
        ),
        F.round((1 - F.col("rxz") * F.col("rxz")) / F.col("det_r"), 4).alias(
            "vif_price"
        ),
        F.round((1 - F.col("rxy") * F.col("rxy")) / F.col("det_r"), 4).alias(
            "vif_discount"
        ),
    )
