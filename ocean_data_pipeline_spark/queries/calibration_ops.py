"""Model-calibration / feature-encoding operators: isotonic (PAVA)
regression, leave-one-out target encoding, and reliability-diagram
binning (reference parity: the reference's QC layer fits monotone
sensor-drift corrections offline — pipeline/transform.py notes — this
family is the in-engine, oracle-backed formulation, plus the target-
encoding and calibration diagnostics an ML feature pipeline needs).

Determinism strategy: every statistic here is a ratio of exact
integer/DECIMAL aggregates pushed through a FIXED IEEE expression tree
(cast-to-double once, then the same chain on both engines), so outputs
are bit-identical without rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.portable import uniform, uniform_sql
from ocean_data_pipeline_spark.queries import register

# --- Isotonic regression via the minimax identity ---------------------

_ISO_ORACLE = """
WITH bins AS (
  SELECT CAST(round(l_discount * 100) AS INT) AS idx,
         count(*) AS n,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT idx, n, r,
         sum(n) OVER (ORDER BY idx) AS cn,
         sum(r) OVER (ORDER BY idx) AS cr
  FROM bins
),
pairs AS (  -- mean of y over the bin range [j..k]
  SELECT j.idx AS j, k.idx AS k,
         CAST(k.cr - j.cr + j.r AS DOUBLE) / CAST(k.cn - j.cn + j.n AS DOUBLE)
           AS mean_jk
  FROM cum j JOIN cum k ON j.idx <= k.idx
),
inner_min AS (  -- for each (i, j<=i): min over k>=i of mean(j..k)
  SELECT i.idx AS i, p.j, min(p.mean_jk) AS m
  FROM bins i JOIN pairs p ON p.j <= i.idx AND p.k >= i.idx
  GROUP BY i.idx, p.j
),
fitted AS (  -- max over j<=i
  SELECT i, max(m) AS iso_rate FROM inner_min GROUP BY i
)
SELECT b.idx AS discount_pct,
       CAST(b.n AS BIGINT) AS n,
       CAST(b.r AS DOUBLE) / CAST(b.n AS DOUBLE) AS raw_rate,
       f.iso_rate
FROM bins b JOIN fitted f ON f.i = b.idx
ORDER BY b.idx
"""


@register("isotonic_calibration_pava", oracle=_ISO_ORACLE)
def isotonic_calibration_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators) of the return rate
    on the discount level, computed via the exact minimax identity
    g(i) = max_{j<=i} min_{k>=i} mean(y[j..k]) (Robertson-Wright-Dykstra
    'Order Restricted Statistical Inference', Thm 1.4.4) — the closed
    form of PAVA, so both engines evaluate the SAME O(B^3)-pair algebra
    over B aggregated bins instead of a sequential pooling loop.

    Determinism: range means are ratios of exact integer prefix sums
    cast to double once; min/max over identical doubles are identical.

    Plan shape: ONE shuffle aggregates the fact table to B<=11 bins;
    everything after (cumsum window, non-equi pair joins, minimax aggs)
    runs on the bin relation — broadcast-sized regardless of fact-table
    scale, so the 100 TB cost is the first aggregate alone. The B^3
    pair algebra is the scale price of closed-form parity; for large B
    the sequential PAVA in applyInPandas over the bin relation is the
    practical path (same single-shuffle posture)."""
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("int").alias("idx"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    bins = li.groupBy("idx").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("r")
    )
    w = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "idx", "n", "r", F.sum("n").over(w).alias("cn"), F.sum("r").over(w).alias("cr")
    )
    j = cum.select(
        F.col("idx").alias("j"), F.col("n").alias("jn"), F.col("r").alias("jr"),
        F.col("cn").alias("jcn"), F.col("cr").alias("jcr"),
    )
    k = cum.select(
        F.col("idx").alias("k"), F.col("cn").alias("kcn"), F.col("cr").alias("kcr")
    )
    pairs = j.join(F.broadcast(k), F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("kcr") - F.col("jcr") + F.col("jr")).cast("double")
            / (F.col("kcn") - F.col("jcn") + F.col("jn")).cast("double")
        ).alias("mean_jk"),
    )
    idx = bins.select(F.col("idx").alias("i"))
    inner_min = (
        idx.join(
            F.broadcast(pairs),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("mean_jk").alias("m"))
    )
    fitted = inner_min.groupBy("i").agg(F.max("m").alias("iso_rate"))
    return (
        bins.join(fitted, bins["idx"] == fitted["i"])
        .select(
            F.col("idx").alias("discount_pct"),
            F.col("n").cast("bigint").alias("n"),
            (F.col("r").cast("double") / F.col("n").cast("double")).alias("raw_rate"),
            "iso_rate",
        )
        .orderBy("discount_pct")
    )


# --- Leave-one-out target encoding ------------------------------------

_TE_SMOOTH_M = 10.0

_TE_ORACLE = f"""
WITH grp AS (
  SELECT o_orderpriority AS priority,
         count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
         min(CAST(o_totalprice AS DECIMAL(18,2))) AS y_min,
         max(CAST(o_totalprice AS DECIMAL(18,2))) AS y_max
  FROM orders GROUP BY 1
),
gtot AS (
  SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) AS gs, count(*) AS gn
  FROM orders
)
SELECT priority,
       CAST(n AS BIGINT) AS n,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS te_mean,
       (CAST(s AS DOUBLE) + {_TE_SMOOTH_M} * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
         / (CAST(n AS DOUBLE) + {_TE_SMOOTH_M}) AS te_smooth,
       CASE WHEN n > 1 THEN CAST(s - y_max AS DOUBLE) / CAST(n - 1 AS DOUBLE) END
         AS loo_min,
       CASE WHEN n > 1 THEN CAST(s - y_min AS DOUBLE) / CAST(n - 1 AS DOUBLE) END
         AS loo_max
FROM grp, gtot
ORDER BY priority
"""


@register("target_encoding_loo", oracle=_TE_ORACLE)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value (Micci-Barreca, SIGKDD Expl.'01): per category the plain mean
    te = S/n, the m-estimate smoothed encoding (S + m*global_mean) /
    (n + m) with m=10, and the exact LOO envelope — the identity
    loo_i = (S - y_i)/(n-1) means min/max over rows reduce to
    (S - y_max)/(n-1) and (S - y_min)/(n-1): the per-row encoding never
    materializes, ONE aggregate carries everything.

    Plan shape: one shuffle on the category; the global mean is a 1-row
    aggregate broadcast-crossed in; DECIMAL(18,2) sums (totalprice is
    cents-exact) make every statistic an exact ratio → bit-identical
    doubles. At 100 TB: unchanged — this is the map-side-partial
    groupBy pattern, and LOO's aggregate-only formulation is exactly
    what makes the encoding feasible at that scale."""
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    grp = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("priority"), dec.alias("y"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("s"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )
    glob = (
        table(spark, sf_dir, "orders")
        .agg(F.sum(dec).alias("gs"), F.count(F.lit(1)).alias("gn"))
    )
    m = F.lit(_TE_SMOOTH_M)
    return (
        grp.crossJoin(F.broadcast(glob))
        .select(
            "priority",
            F.col("n").cast("bigint").alias("n"),
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("te_mean"),
            (
                (
                    F.col("s").cast("double")
                    + m * (F.col("gs").cast("double") / F.col("gn").cast("double"))
                )
                / (F.col("n").cast("double") + m)
            ).alias("te_smooth"),
            F.when(
                F.col("n") > 1,
                (F.col("s") - F.col("y_max")).cast("double")
                / (F.col("n") - 1).cast("double"),
            ).alias("loo_min"),
            F.when(
                F.col("n") > 1,
                (F.col("s") - F.col("y_min")).cast("double")
                / (F.col("n") - 1).cast("double"),
            ).alias("loo_max"),
        )
        .orderBy("priority")
    )


# --- Reliability-diagram binning --------------------------------------

#: u < 0.5 routes an order to the train fold.
_CAL_U_SQL = uniform_sql("'cal_' || CAST(o_orderkey AS VARCHAR)")

_CAL_BIN_SQL = "CAST(least(9, floor(o_totalprice / 40000.0)) AS INT)"

_CAL_ORACLE = f"""
WITH folds AS (
  SELECT {_CAL_BIN_SQL} AS bin,
         CASE WHEN {_CAL_U_SQL} < 0.5 THEN 1 ELSE 0 END AS is_train,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
train AS (
  SELECT bin, count(*) AS n_train, sum(y) AS f_train
  FROM folds WHERE is_train = 1 GROUP BY bin
),
test AS (
  SELECT bin, count(*) AS n_test, sum(y) AS f_test
  FROM folds WHERE is_train = 0 GROUP BY bin
)
SELECT t.bin,
       CAST(t.n_train AS BIGINT) AS n_train,
       CAST(e.n_test AS BIGINT) AS n_test,
       CAST(t.f_train AS DOUBLE) / CAST(t.n_train AS DOUBLE) AS p_train,
       CAST(e.f_test AS DOUBLE) / CAST(e.n_test AS DOUBLE) AS y_test,
       (CAST(t.f_train AS DOUBLE) / CAST(t.n_train AS DOUBLE)
        - CAST(e.f_test AS DOUBLE) / CAST(e.n_test AS DOUBLE))
       * (CAST(t.f_train AS DOUBLE) / CAST(t.n_train AS DOUBLE)
          - CAST(e.f_test AS DOUBLE) / CAST(e.n_test AS DOUBLE)) AS sq_gap
FROM train t JOIN test e ON t.bin = e.bin
ORDER BY t.bin
"""


@register("calibration_reliability_bins", oracle=_CAL_ORACLE)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a frequency 'model': deterministic
    sha-salted 50/50 train/test fold over orders; the model predicts
    P(status='F') per order-value bin from the train fold; the diagram
    compares that prediction with the held-out rate per bin, with the
    squared calibration gap (the per-bin reliability term of Murphy's
    Brier decomposition, J.Appl.Met.'73).

    Determinism: fold assignment is the salted-sha256 uniform (the
    engine-portable RNG of `kmv_distinct_estimate`); every statistic is
    an integer ratio through a fixed double chain.

    Plan shape: one scan computes fold+bin+outcome per row, two
    conditional partial aggs on the bin (map-side combine), tiny join.
    At 100 TB: a single fact pass, no per-row state — reliability
    monitoring at full-corpus scale."""
    draw = uniform(F.concat(F.lit("cal_"), F.col("o_orderkey").cast("string")))
    folds = table(spark, sf_dir, "orders").select(
        F.expr(_CAL_BIN_SQL).alias("bin"),
        F.when(draw < 0.5, 1).otherwise(0).alias("is_train"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    train = (
        folds.filter(F.col("is_train") == 1)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_train"), F.sum("y").alias("f_train"))
    )
    test = (
        folds.filter(F.col("is_train") == 0)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_test"), F.sum("y").alias("f_test"))
    )
    p = F.col("f_train").cast("double") / F.col("n_train").cast("double")
    yb = F.col("f_test").cast("double") / F.col("n_test").cast("double")
    return (
        train.join(test, "bin")
        .select(
            "bin",
            F.col("n_train").cast("bigint").alias("n_train"),
            F.col("n_test").cast("bigint").alias("n_test"),
            p.alias("p_train"),
            yb.alias("y_test"),
            ((p - yb) * (p - yb)).alias("sq_gap"),
        )
        .orderBy("bin")
    )


# --- grouped PAVA via applyInPandas (the practical path) --------------

_ISO_GRP_ORACLE = """
WITH bins AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_discount * 100) AS INT) AS idx,
         count(*) AS n,
         sum(CAST(round(l_quantity) AS BIGINT)) AS s
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT flag, idx, n, s,
         sum(n) OVER (PARTITION BY flag ORDER BY idx) AS cn,
         sum(s) OVER (PARTITION BY flag ORDER BY idx) AS cs
  FROM bins
),
pairs AS (
  SELECT j.flag, j.idx AS j, k.idx AS k,
         CAST(k.cs - j.cs + j.s AS DOUBLE) / CAST(k.cn - j.cn + j.n AS DOUBLE)
           AS mean_jk
  FROM cum j JOIN cum k ON k.flag = j.flag AND j.idx <= k.idx
),
inner_min AS (
  SELECT i.flag, i.idx AS i, p.j, min(p.mean_jk) AS m
  FROM bins i JOIN pairs p
    ON p.flag = i.flag AND p.j <= i.idx AND p.k >= i.idx
  GROUP BY i.flag, i.idx, p.j
),
fitted AS (
  SELECT flag, i, max(m) AS iso_qty FROM inner_min GROUP BY flag, i
)
SELECT b.flag AS l_returnflag,
       b.idx AS discount_pct,
       CAST(b.n AS BIGINT) AS n,
       CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS raw_qty,
       f.iso_qty
FROM bins b JOIN fitted f ON f.flag = b.flag AND f.i = b.idx
ORDER BY b.flag, b.idx
"""


@register("isotonic_pava_grouped", oracle=_ISO_GRP_ORACLE)
def isotonic_pava_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group isotonic regression by SEQUENTIAL pool-adjacent-
    violators inside an Arrow-batched applyInPandas — the practical
    O(B) formulation `isotonic_calibration_pava`'s docstring promises
    for large bin counts, here fitting mean quantity over discount
    levels independently per return flag. The DuckDB oracle recomputes
    every fit through the O(B^3) minimax identity, so parity is a
    machine-checked proof that the sequential pooling and the closed
    form agree (the isotonic solution is unique; each fitted value is
    the same single integer-ratio division on both paths — the UDF
    returns pooled-block integer sums, and the division to a double
    happens once, engine-side).

    Plan shape: one map-side-combining shuffle to the (flag, discount)
    bin relation, then applyInPandas over per-flag bin groups — the
    Arrow transfer moves B<=11 rows per group, NOT fact rows. At
    100 TB the UDF cost is invariant; only the first aggregate scales."""
    import pandas as pd

    bins = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_discount") * 100).cast("int").alias("idx"),
            F.round("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("flag", "idx")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("s"))
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx").reset_index(drop=True)
        stack = []  # [n, s, n_bins] merged blocks
        for n, s in zip(pdf.n, pdf.s):
            stack.append([int(n), int(s), 1])
            while len(stack) > 1 and (
                stack[-2][1] / stack[-2][0] > stack[-1][1] / stack[-1][0]
            ):
                n2, s2, b2 = stack.pop()
                stack[-1][0] += n2
                stack[-1][1] += s2
                stack[-1][2] += b2
        bn, bs = [], []
        for n_blk, s_blk, b_blk in stack:
            bn.extend([n_blk] * b_blk)
            bs.extend([s_blk] * b_blk)
        pdf["block_n"] = bn
        pdf["block_s"] = bs
        return pdf

    fitted = bins.groupBy("flag").applyInPandas(
        pava,
        schema="flag string, idx int, n bigint, s bigint, "
        "block_n bigint, block_s bigint",
    )
    return fitted.select(
        F.col("flag").alias("l_returnflag"),
        F.col("idx").alias("discount_pct"),
        F.col("n").cast("bigint").alias("n"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("raw_qty"),
        (F.col("block_s").cast("double") / F.col("block_n").cast("double")).alias(
            "iso_qty"
        ),
    ).orderBy("l_returnflag", "discount_pct")
