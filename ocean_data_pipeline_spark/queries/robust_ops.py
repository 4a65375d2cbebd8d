"""Robust statistics and survey-sampling design operators: exact
trimmed/winsorized means via the level-relation overlap algebra,
split-conformal prediction intervals with integer-exact quantile
selection, and Neyman optimal stratified-sample allocation with a
largest-remainder rounding that always hits the budget exactly.

Determinism strategy: order statistics are selected on cents-integer
level relations (never sorted doubles), allocation totals are summed
as round-6 DECIMALs (exact associativity), and every ratio runs
through a fixed IEEE chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.portable import uniform, uniform_sql, vh
from ocean_data_pipeline_spark.operators.ranks import cumulative, cumulative_sql, kth, kth_sql
from ocean_data_pipeline_spark.queries import register

# --- exact trimmed / winsorized means ---------------------------------

_TRIM_ORACLE = f"""
WITH lv AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
cum AS ({cumulative_sql("lv", "pc", "cnt", "flag")}),
k AS (SELECT flag, pc, cnt, cn, n, n // 20 AS k FROM cum),
kept AS (
  SELECT flag, n, k,
         greatest(0, least(cn, n - k) - greatest(cn - cnt + 1, k + 1) + 1)
           AS kc,
         pc
  FROM k
),
vals AS (
  SELECT flag,
         {kth_sql("pc", "k + 1")} AS lo_val,
         {kth_sql("pc", "n - k")} AS hi_val
  FROM k GROUP BY flag
),
sums AS (
  SELECT flag, max(n) AS n, max(k) AS k,
         sum(CAST(kc AS DECIMAL(19,0)) * CAST(pc AS DECIMAL(19,0))) AS trimmed_sum
  FROM kept GROUP BY flag
)
SELECT s.flag AS l_returnflag,
       CAST(s.n AS BIGINT) AS n,
       CAST(s.k AS BIGINT) AS k_trim,
       CAST(s.trimmed_sum AS DOUBLE) / (s.n - 2 * s.k) / 100.0
         AS trimmed_mean,
       CAST(s.trimmed_sum
            + CAST(s.k AS DECIMAL(19,0)) * CAST(v.lo_val AS DECIMAL(19,0))
            + CAST(s.k AS DECIMAL(19,0)) * CAST(v.hi_val AS DECIMAL(19,0)) AS DOUBLE)
         / s.n / 100.0 AS winsorized_mean
FROM sums s JOIN vals v ON v.flag = s.flag
ORDER BY s.flag
"""


@register("winsorized_trimmed_mean", oracle=_TRIM_ORACLE)
def winsorized_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-per-tail trimmed and winsorized price means per return flag
    (Tukey's robust location estimators), EXACTLY: the fact table
    collapses to cents-integer price levels; each level's rows occupy
    cumulative positions [cn-cnt+1, cn], so the trimmed contribution is
    the integer overlap with the kept window [k+1, n-k] — no per-row
    sort, no approximation. Winsorization adds k copies of the order
    statistics at positions k+1 and n-k, each the value-census `kth`
    of operators/ranks.py, min(level | cn >= position), in pure integer
    algebra.

    Plan shape: one map-side-combining shuffle to the level relation,
    one window pass over levels (value-domain-bounded), a 4-row join.
    The same 100 TB posture as `weighted_median_price`: exact order
    statistics become tractable because selection happens on the level
    census, not the row stream."""
    lv = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"),
        )
        .groupBy("flag", "pc")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = (
        cumulative(lv, "pc", "cnt", "flag")
        .withColumn("k", F.expr("n div 20"))
        .localCheckpoint()  # 2 consumers
    )
    kc = F.greatest(
        F.lit(0),
        F.least(F.col("cn"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cn") - F.col("cnt") + 1, F.col("k") + 1)
        + 1,
    )
    sums = cum.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(kc.cast("decimal(19,0)") * F.col("pc").cast("decimal(19,0)")).alias("trimmed_sum"),
    )
    vals = cum.groupBy("flag").agg(
        kth("pc", F.col("k") + 1).alias("lo_val"),
        kth("pc", F.col("n") - F.col("k")).alias("hi_val"),
    )
    kd = F.col("k").cast("decimal(19,0)")
    return (
        sums.join(vals, "flag")
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("n").cast("bigint").alias("n"),
            F.col("k").cast("bigint").alias("k_trim"),
            (
                F.col("trimmed_sum").cast("double")
                / (F.col("n") - 2 * F.col("k"))
                / 100.0
            ).alias("trimmed_mean"),
            (
                (
                    F.col("trimmed_sum")
                    + kd * F.col("lo_val").cast("decimal(19,0)")
                    + kd * F.col("hi_val").cast("decimal(19,0)")
                ).cast("double")
                / F.col("n")
                / 100.0
            ).alias("winsorized_mean"),
        )
        .orderBy("l_returnflag")
    )


# --- split-conformal prediction intervals -----------------------------

_CONF_U_SQL = uniform_sql("'conf_' || CAST(o_orderkey AS VARCHAR)")

_CONF_ORACLE = f"""
WITH folds AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS yc,
         CASE WHEN {_CONF_U_SQL} < 0.5 THEN 1 ELSE 0 END AS is_train
  FROM orders
),
pred AS (
  SELECT priority,
         CAST(round(CAST(sum(CAST(yc AS DECIMAL(28,0))) AS DOUBLE)
                    / count(*)) AS BIGINT) AS pred_c
  FROM folds WHERE is_train = 1 GROUP BY priority
),
resid AS (
  SELECT f.priority, abs(f.yc - p.pred_c) AS rc
  FROM folds f JOIN pred p USING (priority)
  WHERE f.is_train = 0
),
lv AS (
  SELECT priority, rc, count(*) AS cnt FROM resid GROUP BY 1, 2
),
cum AS ({cumulative_sql("lv", "rc", "cnt", "priority")}),
q AS (  -- split conformal: the ceil((n+1)*0.9)-th smallest residual
  SELECT priority, max(n) AS n_cal,
         {kth_sql("rc", "least(n, CAST(ceil((n + 1) * 0.9) AS BIGINT))")} AS q90_c
  FROM cum GROUP BY priority
)
SELECT q.priority,
       CAST(q.n_cal AS BIGINT) AS n_cal,
       p.pred_c / 100.0 AS prediction,
       q.q90_c / 100.0 AS q90_radius
FROM q JOIN pred p USING (priority)
ORDER BY q.priority
"""


@register("conformal_interval_calibration", oracle=_CONF_ORACLE)
def conformal_interval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Papadopoulos et al.,
    ECML'02; Lei et al., JASA'18) for a per-priority mean-value
    predictor: deterministic sha-salted 50/50 train/calibration fold;
    the train fold fits the predictor (group mean, rounded to an
    integer cent), the calibration fold's absolute residuals yield the
    distribution-free 90% radius — the ceil((n+1)·0.9)-th smallest
    residual, selected EXACTLY on an integer residual-level relation
    (the value-census `kth` of operators/ranks.py), giving the
    finite-sample coverage guarantee P(|y - pred| <= radius) >= 0.9.

    Determinism: residuals are integer cents (prediction rounded once
    from an exact-DECIMAL ratio), selection is pure integer algebra.

    Plan shape: two conditional aggregates over one scan (train fit +
    exact count), a broadcast join of the 5-row predictor, one
    level-relation window for selection. At 100 TB: one fact pass plus
    level-census selection — conformal calibration is cheap enough to
    run per release."""
    draw = uniform(F.concat(F.lit("conf_"), F.col("o_orderkey").cast("string")))
    folds = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        F.when(draw < 0.5, 1).otherwise(0).alias("is_train"),
    ).localCheckpoint()  # consumed by train fit + calibration residuals
    pred = (
        folds.filter(F.col("is_train") == 1)
        .groupBy("priority")
        .agg(
            F.round(
                F.sum(F.col("yc").cast("decimal(28,0)")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("pred_c")
        )
    )
    resid = (
        folds.filter(F.col("is_train") == 0)
        .join(F.broadcast(pred), "priority")
        .select("priority", F.abs(F.col("yc") - F.col("pred_c")).alias("rc"))
    )
    lv = resid.groupBy("priority", "rc").agg(F.count(F.lit(1)).alias("cnt"))
    pos = F.least(F.col("n"), F.ceil((F.col("n") + 1) * 0.9).cast("bigint"))
    q = (
        cumulative(lv, "rc", "cnt", "priority")
        .groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_cal"),
            kth("rc", pos).alias("q90_c"),
        )
    )
    return (
        q.join(pred, "priority")
        .select(
            "priority",
            "n_cal",
            (F.col("pred_c") / 100.0).alias("prediction"),
            (F.col("q90_c") / 100.0).alias("q90_radius"),
        )
        .orderBy("priority")
    )


# --- Neyman optimal stratified allocation -----------------------------

_NEYMAN_B = 1000

_NEYMAN_ORACLE = f"""
WITH s AS (
  SELECT c_mktsegment AS segment,
         count(*) AS nh,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) AS s1,
         {vh("sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DECIMAL(19,0))"
             " * CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DECIMAL(19,0)))")} AS s2
  FROM customer GROUP BY 1
),
w AS (  -- N_h * sigma_h, rounded ONCE into DECIMAL so the total is exact
  SELECT segment, nh,
         CAST(round(nh * sqrt(s2 / nh - (s1 / nh) * (s1 / nh)), 6)
              AS DECIMAL(28,6)) AS nh_sigma
  FROM s
),
t AS (SELECT sum(nh_sigma) AS tot FROM w),
alloc AS (
  SELECT w.segment, w.nh, w.nh_sigma,
         CAST(floor(CASE WHEN t.tot <> 0 THEN {_NEYMAN_B} * CAST(w.nh_sigma AS DOUBLE)
                    / CAST(t.tot AS DOUBLE) ELSE 0 END) AS BIGINT) AS base_n,
         CASE WHEN t.tot <> 0 THEN {_NEYMAN_B} * CAST(w.nh_sigma AS DOUBLE)
                / CAST(t.tot AS DOUBLE)
              - floor({_NEYMAN_B} * CAST(w.nh_sigma AS DOUBLE)
                      / CAST(t.tot AS DOUBLE)) ELSE 0 END AS frac
  FROM w, t
),
deficit AS (
  SELECT {_NEYMAN_B} - sum(base_n) AS missing FROM alloc
),
ranked AS (
  SELECT segment, nh, nh_sigma, base_n,
         row_number() OVER (ORDER BY frac DESC, segment) AS rk
  FROM alloc
)
SELECT r.segment,
       CAST(r.nh AS BIGINT) AS stratum_size,
       CAST(r.nh_sigma AS DOUBLE) / r.nh / 100.0 AS sigma,
       CAST(r.base_n + CASE WHEN r.rk <= s.missing THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_n
FROM ranked r, deficit s
ORDER BY r.segment
"""


@register("neyman_allocation", oracle=_NEYMAN_ORACLE)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation (Neyman, JRSS'34) of a B=1000 sample
    across market-segment strata: n_h ∝ N_h·σ_h minimizes the variance
    of the stratified mean at fixed budget. σ_h comes from exact
    cents-integer DECIMAL moments (the `skew_kurtosis_exact` device);
    each N_h·σ_h rounds ONCE into DECIMAL(28,6) so the denominator
    total is an exact associative sum, and the integer allocation uses
    largest-remainder rounding (rank by fractional part), which hits
    the budget exactly by construction.

    Plan shape: one map-side-combining shuffle to the 5-row stratum
    relation; the allocation algebra runs on 5 rows. At 100 TB this is
    the design step in front of `stratified_sample_events` — one pass
    to decide how many rows each stratum's sampler should keep."""
    cb = F.round(F.col("c_acctbal") * 100).cast("bigint")
    cbd = cb.cast("decimal(19,0)")
    s = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"), cb.alias("cb"), (cbd * cbd).alias("cb2"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("nh"),
            F.sum("cb").cast("double").alias("s1"),
            F.sum("cb2").cast("double").alias("s2"),
        )
    )
    nh = F.col("nh")
    sigma = F.sqrt(F.col("s2") / nh - (F.col("s1") / nh) * (F.col("s1") / nh))
    w = s.select(
        "segment", "nh", F.round(nh * sigma, 6).cast("decimal(28,6)").alias("nh_sigma")
    )
    t = w.agg(F.sum("nh_sigma").alias("tot"))
    share = F.when(
        F.col("tot") != 0,
        _NEYMAN_B * F.col("nh_sigma").cast("double") / F.col("tot").cast("double"),
    ).otherwise(F.lit(0.0))
    alloc = w.crossJoin(F.broadcast(t)).select(
        "segment", "nh", "nh_sigma",
        F.floor(share).cast("bigint").alias("base_n"),
        (share - F.floor(share)).alias("frac"),
    ).localCheckpoint()  # consumed by shortfall total + ranked rows
    short = alloc.agg((_NEYMAN_B - F.sum("base_n")).alias("missing"))
    ranked = alloc.select(
        "segment", "nh", "nh_sigma", "base_n",
        F.row_number().over(Window.orderBy(F.desc("frac"), "segment")).alias("rk"),
    )
    return (
        ranked.crossJoin(F.broadcast(short))
        .select(
            "segment",
            F.col("nh").cast("bigint").alias("stratum_size"),
            (F.col("nh_sigma").cast("double") / F.col("nh") / 100.0).alias("sigma"),
            (
                F.col("base_n")
                + F.when(F.col("rk") <= F.col("missing"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc_n"),
        )
        .orderBy("segment")
    )


# --- K-fold stability of a statistic ----------------------------------

_CV_U_SQL = uniform_sql("'cvf_' || CAST(o_orderkey AS VARCHAR)")

_CV_ORACLE = f"""
WITH folds AS (
  SELECT least(4, CAST(floor({_CV_U_SQL} * 5) AS INT)) AS fold,
         CAST(round(o_totalprice * 100) AS BIGINT) AS yc
  FROM orders
),
per_fold AS (
  SELECT fold, count(*) AS n,
         CAST(sum(yc) AS DOUBLE) / count(*) AS fold_mean_c
  FROM folds GROUP BY fold
),
dec AS (  -- fold means rounded ONCE into micro-unit INTEGERS: exact
          -- cross-fold moment sums with no decimal-width hazards
  SELECT fold, n, fold_mean_c,
         CAST(round(fold_mean_c * 1000000) AS BIGINT) AS md6
  FROM per_fold
),
tot AS (
  SELECT count(*) AS k,
         CAST(sum(md6) AS DOUBLE) AS sm,
         {vh("sum(CAST(md6 AS DECIMAL(19,0)) * CAST(md6 AS DECIMAL(19,0)))")} AS sm2
  FROM dec
)
SELECT d.fold,
       CAST(d.n AS BIGINT) AS n,
       d.fold_mean_c / 100 AS fold_mean,
       CASE WHEN t.k > 1 AND t.sm <> 0 THEN
         sqrt((t.sm2 - t.sm * t.sm / t.k) / (t.k - 1)) / (t.sm / t.k)
       END AS cv_of_fold_means
FROM dec d CROSS JOIN tot t
ORDER BY d.fold
"""


@register("cv_fold_stability", oracle=_CV_ORACLE)
def cv_fold_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold stability audit (k=5, deterministic sha folds): the mean
    order value per fold and the coefficient of variation ACROSS fold
    means — the cheap resampling check that a statistic (or a feature)
    is stable enough to trust before it enters a model, the k-fold
    cousin of `poisson_bootstrap_ci`. Fold means are exact integer
    ratios; each rounds ONCE into a micro-unit INTEGER (x1e6) so the
    cross-fold moment sums are exact integer/int128 arithmetic with no
    decimal-width hazards, and the CV chain is fixed IEEE (CV is
    scale-invariant, so micro-units need no rescaling).

    Plan shape: one conditional-agg shuffle to 5 fold rows; the
    stability algebra is 5-row arithmetic. At 100 TB: one pass."""
    draw = uniform(F.concat(F.lit("cvf_"), F.col("o_orderkey").cast("string")))
    folds = table(spark, sf_dir, "orders").select(
        F.least(F.lit(4), F.floor(draw * 5).cast("int")).alias("fold"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
    )
    per_fold = folds.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("yc").cast("double") / F.count(F.lit(1))).alias("fold_mean_c"),
    )
    dec = per_fold.select(
        "fold", "n", "fold_mean_c",
        F.round(F.col("fold_mean_c") * 1000000).cast("bigint").alias("md6"),
    )
    md6d = F.col("md6").cast("decimal(19,0)")
    tot = dec.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("md6").cast("double").alias("sm"),
        F.sum(md6d * md6d).cast("double").alias("sm2"),
    )
    k = F.col("k")
    sm = F.col("sm")
    sm2 = F.col("sm2")
    cv = F.when(
        (k > 1) & (sm != 0),
        F.sqrt((sm2 - sm * sm / k) / (k - 1)) / (sm / k),
    )
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            F.col("n").cast("bigint").alias("n"),
            (F.col("fold_mean_c") / 100).alias("fold_mean"),
            cv.alias("cv_of_fold_means"),
        )
        .orderBy("fold")
    )
