"""Data-governance audit queries (SURVEY.md §2-B width, extending the
reference's validator stack `run_pipeline.py:54-157` toward the
governance checks a shared 100 TB lakehouse runs before publishing a
dataset): Benford first-digit conformance (fraud / synthetic-data
screening), k-anonymity + l-diversity census over quasi-identifiers
(re-identification risk before data sharing), and closed-form
Mahalanobis multivariate outliers (the 2-D generalization of the
z-score anomaly scan in timeseries_ops.py).

All three are single-scan shapes: partial aggregates map-side-combine,
the census arithmetic runs on group-count-sized relations, and the
outlier scan is one broadcast of six moment scalars followed by a
TakeOrderedAndProject top-k — audit cost stays scan-bound at any
corpus size.

Determinism rules (established in audits.py): sums accumulate in exact
DECIMAL so accumulation order cannot change a double; every double
appears only inside a fixed-shape IEEE expression over those exact
scalars, written identically on both engines; doubles are emitted
UNROUNDED (rounding is what introduces knife-edge boundaries, see
ROUND_NOTES round-5 postmortem) — identical chains hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.portable import vh
from ocean_data_pipeline_spark.queries import register

# --- Benford first-digit census ---------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM orders
  WHERE o_totalprice >= 1
),
c AS (
  SELECT digit, count(*) AS n_obs FROM d GROUP BY digit
),
t AS (
  SELECT digit, n_obs, sum(n_obs) OVER () AS n_total FROM c
)
SELECT digit,
       n_obs,
       CAST(n_obs AS DOUBLE) / n_total AS p_obs,
       ln(1.0 + 1.0 / digit) / ln(10.0) AS p_benford,
       pow(n_obs - n_total * (ln(1.0 + 1.0 / digit) / ln(10.0)), 2)
         / (n_total * (ln(1.0 + 1.0 / digit) / ln(10.0))) AS chisq_term
FROM t
ORDER BY digit
"""


@register("benford_digit_census", oracle=_BENFORD_ORACLE)
def benford_digit_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit census over order totals:
    observed digit frequencies vs the log10(1+1/d) expectation, with
    the per-digit chi-square contribution — the classic screen for
    fabricated or synthetically generated monetary columns (TPC-H
    prices are uniform-ish, so the census *should* flag them; the
    value is the audit shape, not the verdict).

    Plan: one scan → 9-group partial-count agg; the total arrives via
    a window over the 9-row digit relation (integer sum, order-free),
    never a second scan. First digit is extracted through exact
    integer/string arithmetic (floor → BIGINT → first char), NOT
    log10-of-value, whose half-ulp behavior near powers of ten is
    engine-dependent. Expected probabilities and chi-square terms are
    fixed IEEE chains on (n_obs, n_total, digit) — identical on both
    engines, emitted unrounded."""
    d = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    t = c.withColumn("n_total", F.sum("n_obs").over(Window.partitionBy()))
    p_ben = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    return t.select(
        "digit",
        "n_obs",
        (F.col("n_obs").cast("double") / F.col("n_total")).alias("p_obs"),
        p_ben.alias("p_benford"),
        (
            F.pow(F.col("n_obs") - F.col("n_total") * p_ben, F.lit(2))
            / (F.col("n_total") * p_ben)
        ).alias("chisq_term"),
    ).orderBy("digit")


# --- Mahalanobis multivariate outliers --------------------------------

_MAHALANOBIS_ORACLE = f"""
WITH m AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         {vh("sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)))")} AS sxx,
         {vh("sum(CAST(l_extendedprice AS DECIMAL(18,2))"
             " * CAST(l_extendedprice AS DECIMAL(18,2)))")} AS syy,
         {vh("sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)))")} AS sxy
  FROM lineitem
),
cov AS (
  SELECT n,
         sx / n AS mx,
         sy / n AS my,
         (sxx - sx * sx / n) / (n - 1) AS cxx,
         (syy - sy * sy / n) / (n - 1) AS cyy,
         (sxy - sx * sy / n) / (n - 1) AS cxy
  FROM m WHERE n >= 2
),
scored AS (
  SELECT l.l_orderkey, l.l_linenumber,
         CAST(l.l_quantity AS BIGINT) AS quantity,
         l.l_extendedprice AS extendedprice,
         CASE WHEN c.cxx * c.cyy - c.cxy * c.cxy <> 0 THEN
           ((l.l_quantity - c.mx) * (l.l_quantity - c.mx) * c.cyy
            - 2 * (l.l_quantity - c.mx) * (l.l_extendedprice - c.my) * c.cxy
            + (l.l_extendedprice - c.my) * (l.l_extendedprice - c.my) * c.cxx)
           / (c.cxx * c.cyy - c.cxy * c.cxy)
         END AS d2
  FROM lineitem l CROSS JOIN cov c
)
SELECT l_orderkey, l_linenumber, quantity, extendedprice, d2
FROM scored
WHERE d2 IS NOT NULL
ORDER BY d2 DESC, l_orderkey, l_linenumber
LIMIT 20
"""


@register("mahalanobis_outliers", oracle=_MAHALANOBIS_ORACLE)
def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 multivariate outliers on (quantity, extendedprice) by
    squared Mahalanobis distance — the 2-D anomaly scan that catches
    points plausible on each axis alone but implausible jointly (a
    tiny quantity at a huge price). Closed form: six exact-DECIMAL
    moments (n, Σx, Σy, Σx², Σy², Σxy) in ONE map-side-combining
    scan, the 2×2 covariance inverse by adjugate, then a per-row
    fixed-IEEE quadratic form — no MLlib, no iteration, no second
    pass over the data.

    Scale: the moment relation is 1 row (broadcast cross join), the
    score is a codegen'd projection, and the top-k lowers to
    TakeOrderedAndProject (partial top-20 per partition → merge), so
    no full sort ever materializes. The singular-covariance guard
    (det=0 → NULL, filtered) and the n>=2 moment filter keep the
    ANSI divide-by-zero paths unreachable on degenerate inputs.

    Determinism: moment sums are exact DECIMAL (quantity and price are
    cents-exact), every double downstream is the identical expression
    tree on both engines, emitted unrounded; ties in d2 (duplicate
    value pairs) are broken by (l_orderkey, l_linenumber)."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    cov = m.filter(F.col("n") >= 2).select(
        "n",
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("cxx"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("cyy"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("cxy"),
    )
    dx = F.col("l_quantity") - F.col("mx")
    dy = F.col("l_extendedprice") - F.col("my")
    det = F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy")
    d2 = F.when(
        det != 0,
        (dx * dx * F.col("cyy") - F.lit(2) * dx * dy * F.col("cxy") + dy * dy * F.col("cxx"))
        / det,
    )
    return (
        li.crossJoin(F.broadcast(cov))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            d2.alias("d2"),
        )
        .filter(F.col("d2").isNotNull())
        .orderBy(F.col("d2").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
    )


# --- k-anonymity / l-diversity census ---------------------------------

_KANON_ORACLE = """
WITH g AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         count(*) AS k,
         count(DISTINCT c_mktsegment) AS l
  FROM customer
  GROUP BY 1, 2
),
banded AS (
  SELECT CASE WHEN k = 1 THEN '1:unique'
              WHEN k < 5 THEN '2:k<5'
              WHEN k < 10 THEN '3:k<10'
              ELSE '4:k>=10' END AS k_band,
         k, l
  FROM g
),
tot AS (
  SELECT CAST(sum(k) AS BIGINT) AS n_total FROM g
)
SELECT b.k_band,
       count(*) AS n_groups,
       CAST(sum(b.k) AS BIGINT) AS n_rows,
       CAST(min(b.k) AS BIGINT) AS min_k,
       CAST(max(b.k) AS BIGINT) AS max_k,
       CAST(min(b.l) AS BIGINT) AS min_l,
       CAST(count(CASE WHEN b.l < 3 THEN 1 END) AS BIGINT) AS n_low_diversity,
       CAST(sum(b.k) AS DOUBLE) / t.n_total AS row_share
FROM banded b CROSS JOIN tot t
GROUP BY b.k_band, t.n_total
ORDER BY b.k_band
"""


@register("k_anonymity_census", oracle=_KANON_ORACLE)
def k_anonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity census before data sharing: with
    quasi-identifiers (nation, $1000 account-balance band) and
    sensitive attribute mktsegment, every QI equivalence class gets
    its size k and sensitive-value diversity l; classes then roll up
    into risk bands (unique, k<5, k<10, safe) with row shares and a
    low-diversity count — the census a release-review runs to decide
    how much generalization a dataset needs.

    Plan: ONE groupBy over the QI pair computes k and l together
    (count + count-distinct in the same agg), then the band rollup
    runs on the O(#classes) relation — at 100 TB the only row-scale
    work is the first partial aggregate. The balance band uses
    identical double floor/division on both engines (cents-exact
    inputs, exact-power-of-ten divisor)."""
    g = (
        table(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct("c_mktsegment").alias("l"),
        )
    )
    banded = g.select(
        F.when(F.col("k") == 1, "1:unique")
        .when(F.col("k") < 5, "2:k<5")
        .when(F.col("k") < 10, "3:k<10")
        .otherwise("4:k>=10")
        .alias("k_band"),
        "k",
        "l",
    )
    tot = g.agg(F.sum("k").cast("bigint").alias("n_total"))
    return (
        banded.crossJoin(F.broadcast(tot))
        .groupBy("k_band", "n_total")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("k").cast("bigint").alias("n_rows"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.min("l").cast("bigint").alias("min_l"),
            F.count(F.when(F.col("l") < 3, 1)).cast("bigint").alias("n_low_diversity"),
        )
        .select(
            "k_band",
            "n_groups",
            "n_rows",
            "min_k",
            "max_k",
            "min_l",
            "n_low_diversity",
            (F.col("n_rows").cast("double") / F.col("n_total")).alias("row_share"),
        )
        .orderBy("k_band")
    )


# --- missing-value imputation census ----------------------------------

_IMPUTE_ORACLE = """
WITH g AS (
  SELECT event_type,
         count(*) AS n,
         count(*) - count(value) AS n_null,
         quantile_cont(value, 0.5) AS median_fill,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1
  FROM events
  GROUP BY event_type
)
SELECT event_type,
       n,
       CAST(n_null AS BIGINT) AS n_null,
       median_fill,
       CASE WHEN n - n_null > 0 THEN s1 / (n - n_null) END AS mean_before,
       CASE WHEN n > 0 AND n - n_null > 0
            THEN (s1 + n_null * median_fill) / n END AS mean_after
FROM g
ORDER BY event_type
"""


@register("impute_missing_values", oracle=_IMPUTE_ORACLE)
def impute_missing_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation census: per event type, the NULL count,
    the exact median that would fill them (the standard robust
    imputer), and the mean before/after imputation — the audit report
    a cleaning stage emits so the shift introduced by imputation is
    visible before anyone trains on the filled column. The imputed
    mean comes from the algebraic identity (Σx + n_null·median)/n, so
    no second pass materializes filled rows.

    `F.percentile` (exact interpolated) matches DuckDB quantile_cont
    — the `quartiles_exact` device, here per group. Σx accumulates in
    exact DECIMAL; the mean chains are fixed IEEE trees, guarded for
    the all-NULL group (ANSI divide-by-zero stays unreachable)."""
    g = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count("value")).cast("bigint").alias("n_null"),
            F.percentile("value", F.lit(0.5)).alias("median_fill"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s1"),
        )
    )
    nonnull = F.col("n") - F.col("n_null")
    return g.select(
        "event_type",
        "n",
        "n_null",
        "median_fill",
        F.when(nonnull > 0, F.col("s1") / nonnull).alias("mean_before"),
        F.when(
            (F.col("n") > 0) & (nonnull > 0),
            (F.col("s1") + F.col("n_null") * F.col("median_fill")) / F.col("n"),
        ).alias("mean_after"),
    ).orderBy("event_type")


# --- erasure propagation (right-to-be-forgotten audit) -----------------

_ERASURE_ORACLE = """
WITH subjects AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND user_id % 101 = 0
),
marked AS (
  SELECT e.*, (s.user_id IS NOT NULL) AS erase
  FROM events e LEFT JOIN subjects s ON e.user_id = s.user_id
),
survivors AS (SELECT * FROM marked WHERE NOT erase),
residual AS (
  SELECT count(*) AS n
  FROM survivors v SEMI JOIN subjects s ON v.user_id = s.user_id
)
SELECT (SELECT count(*) FROM subjects)                         AS n_subjects,
       CAST(count(CASE WHEN erase THEN 1 END) AS BIGINT)       AS n_erased,
       CAST(count(CASE WHEN NOT erase THEN 1 END) AS BIGINT)   AS n_kept,
       CAST(sum(CASE WHEN erase
                     THEN CAST(coalesce(value, 0) AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                                                               AS erased_value_total,
       (SELECT n FROM residual)                                AS residual_subject_rows
FROM marked
"""


@register("erasure_propagation_census", oracle=_ERASURE_ORACLE)
def erasure_propagation_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten audit: given a deterministic erasure
    cohort (user_id % 101 = 0), count the rows a GDPR delete would
    remove, the surviving rows, the value mass leaving the table, and
    — the part an auditor actually checks — `residual_subject_rows`,
    an INDEPENDENT semi-join of the survivor set against the subject
    list that must come back 0 (erasure proven by recomputation, not
    by construction).

    Plan shape: subject list is a distinct-project (tiny, broadcast);
    the mark pass is one broadcast left join + conditional aggregates;
    the residual check is a broadcast left-semi over survivors. At
    100 TB this is exactly the Delta/Iceberg DELETE planning scan plus
    its verification query."""
    ev = table(spark, sf_dir, "events")
    subjects = (
        ev.filter(F.col("user_id").isNotNull() & (F.col("user_id") % 101 == 0))
        .select("user_id")
        .distinct()
    )
    marked = ev.join(
        F.broadcast(subjects.withColumn("erase_flag", F.lit(True))), "user_id", "left"
    ).withColumn("erase", F.coalesce("erase_flag", F.lit(False)))
    survivors = marked.filter(~F.col("erase"))
    residual = (
        survivors.join(F.broadcast(subjects), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("residual_subject_rows"))
    )
    n_subj = subjects.agg(F.count(F.lit(1)).alias("n_subjects"))
    zero = F.lit(0).cast("decimal(18,6)")
    census = marked.agg(
        F.count(F.when(F.col("erase"), 1)).cast("bigint").alias("n_erased"),
        F.count(F.when(~F.col("erase"), 1)).cast("bigint").alias("n_kept"),
        F.sum(
            F.when(
                F.col("erase"),
                F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,6)"),
            ).otherwise(zero)
        )
        .cast("double")
        .alias("erased_value_total"),
    )
    return (
        n_subj.crossJoin(census)
        .crossJoin(residual)
        .select(
            "n_subjects", "n_erased", "n_kept",
            "erased_value_total", "residual_subject_rows",
        )
    )


# --- differential-privacy noise calibration ---------------------------

_DP_CLAMP = 100000.0  # per-order value clamp bound (dollars)

_DP_ORACLE = f"""
WITH s AS (
  SELECT o_orderpriority AS priority,
         count(*) AS n,
         sum(CAST(round(least(o_totalprice, {_DP_CLAMP}) * 100) AS BIGINT)) AS sc
  FROM orders GROUP BY 1
),
eps AS (SELECT unnest([0.1, 1.0, 10.0]) AS epsilon)
SELECT s.priority,
       e.epsilon,
       CAST(s.n AS BIGINT) AS true_count,
       CAST(s.sc AS DOUBLE) / 100 AS true_sum,
       1.0 / e.epsilon AS count_laplace_scale,
       {_DP_CLAMP} / e.epsilon AS sum_laplace_scale,
       ({_DP_CLAMP} / e.epsilon) / (CAST(s.sc AS DOUBLE) / 100)
         AS sum_expected_rel_error
FROM s CROSS JOIN eps e
ORDER BY s.priority, e.epsilon
"""


@register("dp_noise_calibration", oracle=_DP_ORACLE)
def dp_noise_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release calibration (Dwork-McSherry-Nissim-
    Smith '06): for per-priority COUNT and clamped SUM releases, the
    Laplace scale b = Δ/ε each ε in {0.1, 1, 10} requires (Δ_count = 1;
    Δ_sum = the clamp bound), and the expected relative error b/true —
    the privacy-utility table a data-release review reads BEFORE
    deciding ε. Deliberately deterministic: the CALIBRATION is the
    query; noise itself is drawn at release time (a seeded generator
    would be a contradiction in terms). Completes the governance family
    (k-anonymity risk, erasure proof, PII census) with the
    noise-addition leg.

    Plan shape: one conditional-agg shuffle to 5 rows, cross-joined
    with a 3-row ε grid. At 100 TB: one pass; clamping happens in the
    scan projection, which is exactly where a DP aggregation pipeline
    clamps contributions."""
    s = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.least(F.col("o_totalprice"), F.lit(_DP_CLAMP)) * 100)
                .cast("bigint")
            ).alias("sc"),
        )
    )
    eps = spark.createDataFrame(
        [(0.1,), (1.0,), (10.0,)], "epsilon double"
    )
    return (
        s.crossJoin(F.broadcast(eps))
        .select(
            "priority",
            "epsilon",
            F.col("n").cast("bigint").alias("true_count"),
            (F.col("sc").cast("double") / 100).alias("true_sum"),
            (1.0 / F.col("epsilon")).alias("count_laplace_scale"),
            (_DP_CLAMP / F.col("epsilon")).alias("sum_laplace_scale"),
            (
                (_DP_CLAMP / F.col("epsilon"))
                / (F.col("sc").cast("double") / 100)
            ).alias("sum_expected_rel_error"),
        )
        .orderBy("priority", "epsilon")
    )


# --- functional-dependency violation census --------------------------------

_FD_ORACLE = """
WITH fd1 AS (  -- customer: name -> nationkey (names are key-like: holds)
  SELECT 'customer: name -> nationkey' AS fd,
         c_name AS det, CAST(c_nationkey AS VARCHAR) AS dep
  FROM customer
),
fd2 AS (  -- lineitem: orderkey -> returnflag (lines of one order differ)
  SELECT 'lineitem: orderkey -> returnflag' AS fd,
         CAST(l_orderkey AS VARCHAR) AS det, l_returnflag AS dep
  FROM lineitem
),
fd3 AS (  -- orders: custkey -> orderpriority (false: customers vary)
  SELECT 'orders: custkey -> orderpriority' AS fd,
         CAST(o_custkey AS VARCHAR) AS det, o_orderpriority AS dep
  FROM orders
),
fd4 AS (  -- nation: name -> regionkey (holds: names unique)
  SELECT 'nation: name -> regionkey' AS fd,
         n_name AS det, CAST(n_regionkey AS VARCHAR) AS dep
  FROM nation
),
all_fds AS (
  SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
  UNION ALL SELECT * FROM fd3 UNION ALL SELECT * FROM fd4
),
cells AS (
  SELECT fd, det, dep, count(*) AS cnt FROM all_fds GROUP BY fd, det, dep
),
groups AS (
  SELECT fd, det, sum(cnt) AS n, count(*) AS n_dep, max(cnt) AS maj
  FROM cells GROUP BY fd, det
)
SELECT fd,
       count(*) AS n_groups,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(n - maj) AS BIGINT) AS min_repair_rows,
       round(1.0 - CAST(sum(n - maj) AS DOUBLE) / sum(n), 6) AS fd_support
FROM groups GROUP BY fd ORDER BY fd
"""


@register("fd_violation_census", oracle=_FD_ORACLE)
def fd_violation_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over four declared candidate FDs
    (two that hold — key-like names determine their row's attributes —
    and two deliberately violated): per FD, the determinant-group
    count, groups violating X -> Y (more than one distinct Y), the
    MINIMUM repair size (rows outside each group's majority value —
    the Holoclean-style repair cost), and the resulting FD support.
    This is the dependency-profiling sibling of
    `candidate_key_profile` / `dq_constraint_census`: keys are the
    FD's degenerate case.

    Determinism: pure integer counting end to end; the one double is
    the display support ratio.

    Plan shape: each FD is one (det, dep) cell census — map-side
    combining shuffles on value-domain-bounded cells — then a per-det
    rollup and a 4-row report. At 100 TB: four independent
    partial-agg scans, no joins, nothing row-scale past the first
    aggregate."""
    def fd(name, df, det, dep):
        return df.select(
            F.lit(name).alias("fd"),
            det.alias("det"),
            dep.cast("string").alias("dep"),
        )

    cust = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    nat = table(spark, sf_dir, "nation")
    all_fds = (
        fd(
            "customer: name -> nationkey",
            cust,
            F.col("c_name"),
            F.col("c_nationkey"),
        )
        .unionByName(
            fd(
                "lineitem: orderkey -> returnflag",
                li,
                F.col("l_orderkey").cast("string"),
                F.col("l_returnflag"),
            )
        )
        .unionByName(
            fd(
                "orders: custkey -> orderpriority",
                orders,
                F.col("o_custkey").cast("string"),
                F.col("o_orderpriority"),
            )
        )
        .unionByName(
            fd(
                "nation: name -> regionkey",
                nat,
                F.col("n_name"),
                F.col("n_regionkey"),
            )
        )
    )
    cells = all_fds.groupBy("fd", "det", "dep").agg(F.count(F.lit(1)).alias("cnt"))
    groups = cells.groupBy("fd", "det").agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("n_dep"),
        F.max("cnt").alias("maj"),
    )
    return (
        groups.groupBy("fd")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_groups"),
            F.sum(F.col("n") - F.col("maj")).cast("bigint").alias("min_repair_rows"),
            F.round(
                1.0
                - F.sum(F.col("n") - F.col("maj")).cast("double") / F.sum("n"),
                6,
            ).alias("fd_support"),
        )
        .orderBy("fd")
    )
