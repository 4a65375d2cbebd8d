"""Wave 31: nonparametric blocks, robust model search, extreme values,
SPC, and stylometry.

- `friedman_nations_monthly`: Friedman rank test over month blocks x
  the top-5 revenue nations — "do nations rank consistently month
  after month?" (the repeated-measures complement to Kruskal-Wallis).
- `ransac_line_fit`: deterministic RANSAC for extendedprice ~ quantity
  — hash-seeded 2-point models, fixed inlier tolerance, best model by
  consensus; the robust-fit idiom when outliers are gross, not heavy-
  tailed.
- `gumbel_block_maxima`: Gumbel (EV-I) fit to monthly maxima of daily
  revenue by method of moments + the 12-block return level — extreme-
  value sizing for capacity planning.
- `process_capability_cpk`: Cp / Cpk of l_quantity against its spec
  window — the SPC capability indices.
- `imr_control_chart`: individuals + moving-range control chart of
  monthly revenue (the 2.66·MR̄ Shewhart limits) with out-of-control
  counts — the SPC run chart next to `cusum_changepoint` /
  `page_hinkley_revenue`.
- `burrows_delta_sources`: Burrows' Delta stylometric distance between
  sources over the top-30 token relative frequencies — the authorship/
  provenance signal a corpus-mixing audit reads.

Determinism strategy (wave-11+ devices): cross-row float reductions
round ONCE into DECIMAL before summing; bounded censuses only
(months, nations, sources, token panel); fixed IEEE chains after the
exact sums; ranks tie-break on names/ids.
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

# --- Friedman test: month blocks x top-5 nations ----------------------------

_FRIEDMAN_K = 5

_FRIEDMAN_ORACLE = f"""
WITH rev AS (
  SELECT n.n_name AS nation,
         year(o.o_orderdate) AS y, month(o.o_orderdate) AS mo,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2, 3
),
top5 AS (
  SELECT nation FROM (
    SELECT nation, sum(x) AS tot,
           row_number() OVER (ORDER BY sum(x) DESC, nation) AS rk
    FROM rev GROUP BY nation
  ) WHERE rk <= {_FRIEDMAN_K}
),
months AS (SELECT DISTINCT y, mo FROM rev),
grid AS (
  SELECT m.y, m.mo, t.nation, coalesce(r.x, 0) AS x
  FROM months m CROSS JOIN top5 t
  LEFT JOIN rev r ON r.y = m.y AND r.mo = m.mo AND r.nation = t.nation
),
ranked AS (
  SELECT nation,
         row_number() OVER (PARTITION BY y, mo ORDER BY x, nation) AS rnk
  FROM grid
),
rsums AS (
  SELECT nation, CAST(sum(rnk) AS BIGINT) AS r_j
  FROM ranked GROUP BY nation
),
nblocks AS (SELECT CAST(count(*) AS BIGINT) AS n FROM months),
stat AS (
  SELECT n,
         12.0 / (n * {_FRIEDMAN_K} * ({_FRIEDMAN_K} + 1))
           * sum(CAST(r_j AS DOUBLE) * r_j)
           - 3.0 * n * ({_FRIEDMAN_K} + 1) AS chi2
  FROM rsums, nblocks GROUP BY n
)
SELECT n AS n_months, CAST({_FRIEDMAN_K} AS BIGINT) AS k_nations,
       round(chi2, 6) AS friedman_chi2,
       round(exp(-chi2 / 2) * (1 + chi2 / 2), 8) AS p_value
FROM stat
"""


@register("friedman_nations_monthly", oracle=_FRIEDMAN_ORACLE)
def friedman_nations_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test over month blocks: within every month, rank
    the top-5 revenue nations by that month's revenue (zero-filled
    grid so absent months rank lowest), then χ²_F = 12/(nk(k+1))·ΣR_j²
    − 3n(k+1) — the repeated-measures nonparametric ANOVA: "is the
    nation ordering stable across months, or noise?" p is the EXACT
    chi-square(4 df) survival exp(−x/2)(1 + x/2) — closed form for
    even df, no polynomial approximation needed.

    Determinism: ranks are row_number over (exact decimal revenue,
    nation) — total order; R_j sums are integers; the χ² chain is
    fixed IEEE on integers.

    Plan shape: one orders⋈customer⋈nation aggregate to the
    (nation, month) census; the ranking window partitions BY MONTH
    (≤k rows per partition — never global); everything after is
    nation-census-sized."""
    rev = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
        .localCheckpoint()  # consumed by top5 + months + grid subtrees
    )
    top5 = (
        rev.groupBy("nation")
        .agg(F.sum("x").alias("tot"))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("tot"), "nation"))
        )
        .filter(F.col("rk") <= _FRIEDMAN_K)
        .select("nation")
    )
    months = rev.select("y", "mo").distinct()
    grid = (
        months.crossJoin(F.broadcast(top5))
        .join(rev, ["y", "mo", "nation"], "left")
        .select("y", "mo", "nation", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    ranked = grid.select(
        "nation",
        F.row_number()
        .over(Window.partitionBy("y", "mo").orderBy("x", "nation"))
        .alias("rnk"),
    )
    rsums = ranked.groupBy("nation").agg(
        F.sum("rnk").cast("bigint").alias("r_j")
    )
    nblocks = months.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    k = _FRIEDMAN_K
    stat = (
        rsums.crossJoin(F.broadcast(nblocks))
        .groupBy("n")
        .agg(
            (
                12.0
                / (F.col("n") * k * (k + 1))
                * F.sum(F.col("r_j").cast("double") * F.col("r_j"))
                - 3.0 * F.col("n") * (k + 1)
            ).alias("chi2")
        )
    )
    return stat.select(
        F.col("n").alias("n_months"),
        F.lit(k).cast("bigint").alias("k_nations"),
        F.round("chi2", 6).alias("friedman_chi2"),
        F.round(
            F.exp(-F.col("chi2") / 2) * (1 + F.col("chi2") / 2), 8
        ).alias("p_value"),
    )


# --- deterministic RANSAC line fit ------------------------------------------

_RANSAC_SEEDS = 10
_RANSAC_TOL = 10000.0

_RANSAC_ORACLE = f"""
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y,
         sha256(CAST(l_orderkey AS VARCHAR) || '-'
                || CAST(l_linenumber AS VARCHAR)) AS h
  FROM lineitem
),
seeds AS (
  SELECT x, y, row_number() OVER (ORDER BY h) AS rn
  FROM base QUALIFY rn <= {_RANSAC_SEEDS}
),
models AS (
  SELECT a.rn AS i, b.rn AS j,
         (b.y - a.y) / (b.x - a.x) AS slope,
         a.y - (b.y - a.y) / (b.x - a.x) * a.x AS intercept
  FROM seeds a JOIN seeds b ON b.rn > a.rn AND b.x <> a.x
),
scored AS (
  SELECT m.i, m.j, m.slope, m.intercept,
         CAST(sum(CASE WHEN abs(b.y - (m.intercept + m.slope * b.x))
                            <= {_RANSAC_TOL} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_inliers,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM models m CROSS JOIN base b
  GROUP BY 1, 2, 3, 4
)
SELECT n_rows, n_inliers,
       round(CAST(n_inliers AS DOUBLE) / n_rows, 6) AS inlier_rate,
       round(slope, 6) AS slope,
       round(intercept, 4) AS intercept
FROM scored
ORDER BY n_inliers DESC, i, j
LIMIT 1
"""


@register("ransac_line_fit", oracle=_RANSAC_ORACLE)
def ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RANSAC for extendedprice ~ quantity: 10 seed rows
    chosen by smallest sha256(orderkey-linenumber) (a fixed pseudo-
    random draw both engines reproduce), all Δx≠0 seed PAIRS become
    2-point candidate lines, every candidate is scored by its inlier
    consensus (|residual| ≤ 10000), and the winner is the max-consensus
    model (ties by seed pair) — the gross-outlier-robust fit idiom
    (RANSAC, Fischler-Bolles '81) next to the IRLS family (Huber/LAD),
    which assumes outliers are merely heavy-tailed, not structured.

    Determinism: seed choice is a hash order; each candidate's slope/
    intercept is a fixed IEEE chain on two rows; inlier counts are
    exact integers (tolerance compares identical doubles).

    Plan shape: seeds = TakeOrderedAndProject(10) on the hash; the
    ≤45-model grid broadcasts into ONE scoring pass over the fact scan
    (map-side partial count per model — the scan is read once, fanout
    x45 stays in codegen); winner by a 45-row sort. At 100 TB: one
    scan, fixed-size everything else."""
    li = table(spark, sf_dir, "lineitem", spread=True)
    base = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
        F.sha2(
            F.concat_ws(
                "-",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ),
            256,
        ).alias("h"),
    )
    seeds = (
        base.orderBy("h")
        .limit(_RANSAC_SEEDS)
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .select("x", "y", "rn")
    )
    a = seeds.select(
        F.col("rn").alias("i"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = seeds.select(
        F.col("rn").alias("j"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    slope = (F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))
    models = (
        a.join(b, (F.col("j") > F.col("i")) & (F.col("xb") != F.col("xa")))
        .select(
            "i", "j",
            slope.alias("slope"),
            (F.col("ya") - slope * F.col("xa")).alias("intercept"),
        )
    )
    scored = (
        base.drop("h")
        .crossJoin(F.broadcast(models))
        .groupBy("i", "j", "slope", "intercept")
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x"))
                    )
                    <= _RANSAC_TOL,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_inliers"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )
    return (
        scored.orderBy(F.desc("n_inliers"), "i", "j")
        .limit(1)
        .select(
            "n_rows",
            "n_inliers",
            F.round(F.col("n_inliers").cast("double") / F.col("n_rows"), 6).alias(
                "inlier_rate"
            ),
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 4).alias("intercept"),
        )
    )


# --- Gumbel fit to monthly block maxima --------------------------------------

_EULER_GAMMA = 0.57721566490153286
_GUMBEL_T = 12

_GUMBEL_ORACLE = f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM orders GROUP BY 1
),
bm AS (
  SELECT year(d) AS y, month(d) AS mo, max(x) AS mx
  FROM daily GROUP BY 1, 2
),
s AS (
  SELECT count(*) AS n,
         CAST(sum(mx) AS DOUBLE) AS sx,
         {vh("sum(CAST(mx AS DECIMAL(19,2)) * CAST(mx AS DECIMAL(19,2)))")} AS sxx,
         CAST(max(mx) AS DOUBLE) AS obs_max
  FROM bm
),
f AS (
  SELECT n, obs_max, sx / n AS mean,
         sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
  FROM s WHERE n > 1
),
g AS (
  SELECT n, obs_max, mean, sd,
         sd * sqrt(6.0) / pi() AS beta
  FROM f WHERE sd > 0
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       round(mean - {_EULER_GAMMA} * beta, 2) AS gumbel_mu,
       round(beta, 2) AS gumbel_beta,
       round((mean - {_EULER_GAMMA} * beta)
             - beta * ln(-ln(1 - 1.0 / {_GUMBEL_T})), 2) AS return_level_12,
       round(obs_max, 2) AS observed_max
FROM g
"""


@register("gumbel_block_maxima", oracle=_GUMBEL_ORACLE)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV-I) fit to MONTHLY MAXIMA of daily revenue by method
    of moments — β = s·√6/π, μ = x̄ − γβ (Euler-Mascheroni γ) — plus
    the 12-block return level μ − β·ln(−ln(1−1/12)): "the daily
    revenue peak you should expect about once a year", the extreme-
    value sizing question mean/percentile stats cannot answer (the
    Fisher-Tippett domain of attraction for light-tailed daily sums
    is exactly Gumbel).

    Determinism: daily sums and block maxima are exact decimals; the
    two block moments ride the (19,2) int128 kernel (VARCHAR hop on
    the DuckDB side); the fit chain is fixed IEEE on those doubles.
    Degenerate inputs (≤1 block, zero spread) yield an empty frame on
    both engines.

    Plan shape: one fact aggregate to the ≤2.5k-day census, one
    calendar aggregate to ≤84 block maxima, one 1-row moment solve.
    Only the first aggregate scales."""
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
    )
    bm = daily.groupBy(F.year("d").alias("y"), F.month("d").alias("mo")).agg(
        F.max("x").alias("mx")
    )
    s = bm.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").cast("double").alias("sx"),
        F.sum(
            F.col("mx").cast("decimal(19,2)") * F.col("mx").cast("decimal(19,2)")
        )
        .cast("double")
        .alias("sxx"),
        F.max("mx").cast("double").alias("obs_max"),
    )
    n = F.col("n")
    f = s.filter(n > 1).select(
        "n", "obs_max",
        (F.col("sx") / n).alias("mean"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)).alias(
            "sd"
        ),
    )
    import math

    beta = F.col("sd") * math.sqrt(6.0) / math.pi
    g = f.filter(F.col("sd") > 0).select(
        "n", "obs_max", "mean", beta.alias("beta")
    )
    mu = F.col("mean") - _EULER_GAMMA * F.col("beta")
    rl = mu - F.col("beta") * F.log(-F.log(F.lit(1 - 1.0 / _GUMBEL_T)))
    return g.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.round(mu, 2).alias("gumbel_mu"),
        F.round("beta", 2).alias("gumbel_beta"),
        F.round(rl, 2).alias("return_level_12"),
        F.round("obs_max", 2).alias("observed_max"),
    )


# --- process capability Cp / Cpk ---------------------------------------------

_CPK_LSL, _CPK_USL = 1.0, 50.0

_CPK_ORACLE = f"""
WITH s AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         {vh("sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(19,2)))")} AS sxx,
         CAST(sum(CASE WHEN CAST(l_quantity AS DOUBLE) < {_CPK_LSL}
                         OR CAST(l_quantity AS DOUBLE) > {_CPK_USL}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_out
  FROM lineitem
),
f AS (
  SELECT n, n_out, sx / n AS mean,
         sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
  FROM s WHERE n > 1
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(mean, 4) AS mean_qty,
       round(sd, 4) AS sd_qty,
       round(({_CPK_USL} - {_CPK_LSL}) / (6 * sd), 4) AS cp,
       round(least({_CPK_USL} - mean, mean - {_CPK_LSL}) / (3 * sd), 4) AS cpk,
       round(CAST(n_out AS DOUBLE) / n, 6) AS frac_outside
FROM f WHERE sd > 0
"""


@register("process_capability_cpk", oracle=_CPK_ORACLE)
def process_capability_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability of l_quantity against the spec window
    [1, 50]: Cp = (USL−LSL)/6σ (potential), Cpk = min(USL−μ, μ−LSL)/3σ
    (actual, centering-penalized), and the observed out-of-spec
    fraction — the SPC indices that say whether a data-producing
    process fits its contract (here: does quantity ever escape its
    documented domain?).

    Determinism: both moments are exact (19,2)-kernel decimal sums;
    the index chain is fixed IEEE; the out-of-spec count is integer.

    Plan shape: ONE map-side-combining aggregate over the fact scan,
    then a 1-row expression chain."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(
            F.col("l_quantity").cast("decimal(19,2)")
            * F.col("l_quantity").cast("decimal(19,2)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(F.when((q < _CPK_LSL) | (q > _CPK_USL), 1).otherwise(0))
        .cast("bigint")
        .alias("n_out"),
    )
    n = F.col("n")
    f = s.filter(n > 1).select(
        "n", "n_out",
        (F.col("sx") / n).alias("mean"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)).alias(
            "sd"
        ),
    )
    return f.filter(F.col("sd") > 0).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round("mean", 4).alias("mean_qty"),
        F.round("sd", 4).alias("sd_qty"),
        F.round((_CPK_USL - _CPK_LSL) / (6 * F.col("sd")), 4).alias("cp"),
        F.round(
            F.least(
                F.lit(_CPK_USL) - F.col("mean"), F.col("mean") - _CPK_LSL
            )
            / (3 * F.col("sd")),
            4,
        ).alias("cpk"),
        F.round(F.col("n_out").cast("double") / n, 6).alias("frac_outside"),
    )


# --- individuals + moving-range control chart --------------------------------

_IMR_K = 2.66  # Shewhart individuals-chart constant (3/d2, d2 = 1.128)

_IMR_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
r AS (
  SELECT y, mo, CAST(x AS DOUBLE) AS x,
         abs(CAST(x AS DOUBLE)
             - lag(CAST(x AS DOUBLE)) OVER (ORDER BY y, mo)) AS mr
  FROM m
),
s AS (
  SELECT count(*) AS n,
         (SELECT CAST(sum(x) AS DOUBLE) / count(*) FROM m) AS xbar,
         CAST(sum(CAST(round(mr, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / count(mr) AS mrbar
  FROM r
),
lim AS (
  SELECT n, xbar, mrbar,
         xbar + {_IMR_K} * mrbar AS ucl,
         xbar - {_IMR_K} * mrbar AS lcl
  FROM s WHERE mrbar > 0
)
SELECT CAST(l.n AS BIGINT) AS n_months,
       round(l.xbar, 2) AS center,
       round(l.mrbar, 2) AS mr_bar,
       round(l.ucl, 2) AS ucl,
       round(l.lcl, 2) AS lcl,
       CAST((SELECT sum(CASE WHEN r.x > l.ucl OR r.x < l.lcl THEN 1 ELSE 0 END)
             FROM r) AS BIGINT) AS n_out_of_control
FROM lim l
"""


@register("imr_control_chart", oracle=_IMR_ORACLE)
def imr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individuals / moving-range (I-MR) Shewhart control chart of
    monthly revenue: center = x̄, limits = x̄ ± 2.66·MR̄ (2.66 = 3/d₂
    for n=2 moving ranges), and the count of out-of-control months —
    the SPC run chart whose alarms complement the sequential detectors
    (`cusum_changepoint`, `page_hinkley_revenue`).

    Determinism: x̄ is an exact decimal mean; each moving range rounds
    ONCE into DECIMAL(28,9) before MR̄ (order-free); limit comparisons
    are fixed IEEE on identical doubles.

    Plan shape: one fact aggregate to the ≤84-row month census; lag +
    the out-of-control recount run on that census (calendar-bounded
    window, PLANS.md class)."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month())
    r = m.select(
        "y", "mo",
        F.col("x").cast("double").alias("xd"),
        F.abs(
            F.col("x").cast("double")
            - F.lag(F.col("x").cast("double")).over(Window.orderBy("y", "mo"))
        ).alias("mr"),
    ).localCheckpoint(eager=False)
    xbar = m.agg((F.sum("x").cast("double") / F.count(F.lit(1))).alias("xbar"))
    s = (
        r.agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("mr"), 9).cast("decimal(28,9)")).cast("double")
                / F.count("mr")
            ).alias("mrbar"),
        )
        .crossJoin(F.broadcast(xbar))
    )
    lim = s.filter(F.col("mrbar") > 0).select(
        "n", "xbar", "mrbar",
        (F.col("xbar") + _IMR_K * F.col("mrbar")).alias("ucl"),
        (F.col("xbar") - _IMR_K * F.col("mrbar")).alias("lcl"),
    )
    out = (
        r.crossJoin(F.broadcast(lim))
        .agg(
            F.sum(
                F.when(
                    (F.col("xd") > F.col("ucl")) | (F.col("xd") < F.col("lcl")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_out_of_control")
        )
    )
    return (
        lim.join(F.broadcast(out), F.lit(True), "left")
        .select(
            F.col("n").cast("bigint").alias("n_months"),
            F.round("xbar", 2).alias("center"),
            F.round("mrbar", 2).alias("mr_bar"),
            F.round("ucl", 2).alias("ucl"),
            F.round("lcl", 2).alias("lcl"),
            "n_out_of_control",
        )
    )


# --- Burrows' Delta between sources ------------------------------------------

_DELTA_TOP = 30

_BURROWS_ORACLE = f"""
WITH toks AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
),
totals AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM toks GROUP BY 1
),
panel AS (
  SELECT token FROM (
    SELECT token, count(*) AS c,
           row_number() OVER (ORDER BY count(*) DESC, token) AS rk
    FROM toks GROUP BY token
  ) WHERE rk <= {_DELTA_TOP}
),
freq AS (
  SELECT t.source, p.token,
         CAST(count(*) AS DOUBLE) / max(tt.n_s) AS f
  FROM toks t
  JOIN panel p ON p.token = t.token
  JOIN totals tt ON tt.source = t.source
  GROUP BY t.source, p.token
),
grid AS (  -- zero-fill absent (source, token) cells
  SELECT s.source, p.token, coalesce(f.f, 0.0) AS f
  FROM (SELECT DISTINCT source FROM totals) s
  CROSS JOIN panel p
  LEFT JOIN freq f ON f.source = s.source AND f.token = p.token
),
tok_stats AS (
  SELECT token,
         CAST(sum(CAST(round(f, 12) AS DECIMAL(28,12))) AS DOUBLE)
           / count(*) AS mu,
         sqrt(CAST(sum(CAST(round(f * f, 15) AS DECIMAL(28,15))) AS DOUBLE)
              / count(*)
              - (CAST(sum(CAST(round(f, 12) AS DECIMAL(28,12))) AS DOUBLE)
                 / count(*))
                * (CAST(sum(CAST(round(f, 12) AS DECIMAL(28,12))) AS DOUBLE)
                   / count(*))) AS sd
  FROM grid GROUP BY token
),
z AS (
  SELECT g.source, g.token, (g.f - t.mu) / t.sd AS z
  FROM grid g JOIN tok_stats t ON t.token = g.token
  WHERE t.sd > 0
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(round(abs(a.z - b.z), 12) AS DECIMAL(28,12)))
              AS DOUBLE) / count(*) AS delta
  FROM z a JOIN z b ON b.token = a.token AND b.source > a.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_tokens, round(delta, 6) AS delta
FROM pairs
ORDER BY delta, source_a, source_b
LIMIT 10
"""


@register("burrows_delta_sources", oracle=_BURROWS_ORACLE)
def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between SOURCES: z-score
    each source's relative frequency of the 30 globally-commonest
    tokens (the function-word panel of authorship attribution), then
    Delta(a,b) = mean_t |z_a − z_b| — the 10 closest source pairs are
    the provenance-confusion candidates a corpus-mixing audit flags
    (two "different" sources writing identically are one source).

    Determinism: token counts are integers; relative frequencies are
    fixed ratios; the cross-SOURCE mean/sd per token and the per-pair
    |Δz| mean all round ONCE into DECIMAL before summing (source and
    token censuses are bounded: 20 sources, 30 tokens); zero-sd panel
    tokens drop on both engines.

    Plan shape: one tokenize+explode scan (spread — map-side CPU),
    token-keyed partial aggs to the panel and the (source, token)
    grid, then source²-sized pair algebra. At 100 TB only the explode
    pass scales; the stylometric grid is O(sources × panel)."""
    docs = (
        table(spark, sf_dir, "documents", spread=True)
        .filter(F.length(F.trim(F.col("text"))) > 0)
    )
    # Round 11: totals, the panel, and the per-source frequencies are
    # all marginals of ONE (source, token) count census — vocabulary ×
    # sources scale, safe to checkpoint (unlike the corpus-scale token
    # explode, which previously re-tokenized the corpus once per
    # consumer). Integer count sums are exact, so every downstream
    # number is unchanged: n_s = Σ_t c(s,t), panel counts = Σ_s c(s,t)
    # with the same (count desc, token) order, freq c = c(s,t).
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    )
    census = (
        toks.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    totals = census.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    panel = (
        # top-30 by (count desc, token) via TakeOrderedAndProject — a
        # row_number window here would drag the whole distinct-token
        # VOCABULARY census through one partition.
        census.groupBy("token")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(_DELTA_TOP)
        .select("token")
    )
    freq = (
        census.join(F.broadcast(panel), "token")
        .join(totals, "source")
        .select(
            "source", "token",
            (F.col("c").cast("double") / F.col("n_s")).alias("f"),
        )
    )
    grid = (
        totals.select("source")
        .crossJoin(F.broadcast(panel))
        .join(freq, ["source", "token"], "left")
        .select(
            "source", "token", F.coalesce(F.col("f"), F.lit(0.0)).alias("f")
        )
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(28,12)")  # noqa: E731
    d15 = lambda c: F.round(c, 15).cast("decimal(28,15)")  # noqa: E731
    mu = F.sum(d12(F.col("f"))).cast("double") / F.count(F.lit(1))
    tok_stats = grid.groupBy("token").agg(
        mu.alias("mu"),
        F.sqrt(
            F.sum(d15(F.col("f") * F.col("f"))).cast("double")
            / F.count(F.lit(1))
            - mu * mu
        ).alias("sd"),
    )
    z = (
        grid.join(F.broadcast(tok_stats), "token")
        .filter(F.col("sd") > 0)
        .select(
            "source", "token",
            ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z"),
        )
    )
    za = z.select(
        F.col("source").alias("source_a"), "token", F.col("z").alias("z_a")
    )
    zb = z.select(
        F.col("source").alias("source_b"), "token", F.col("z").alias("z_b")
    )
    pairs = (
        za.join(zb, "token")
        .filter(F.col("source_b") > F.col("source_a"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (
                F.sum(d12(F.abs(F.col("z_a") - F.col("z_b")))).cast("double")
                / F.count(F.lit(1))
            ).alias("delta"),
        )
    )
    # Order by the ROUNDED delta (then names): the oracle's ORDER BY
    # delta binds to its rounded output alias, so sorting the raw value
    # here could flip 6-dp ties and shift the LIMIT 10 boundary.
    return (
        pairs.select(
            "source_a", "source_b", "n_tokens",
            F.round("delta", 6).alias("delta"),
        )
        .orderBy("delta", "source_a", "source_b")
        .limit(10)
    )
