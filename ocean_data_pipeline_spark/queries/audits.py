"""Data-quality and statistical audit queries (SURVEY.md §2-B/D
width, generalizing the reference's validator stack
`run_pipeline.py:54-157` — schema/row-count/range checks — into the
expectation-suite census, independence testing, and latency-SLA
shapes a production pipeline runs per batch).

All three are single-digit-row reports computed from partial
aggregates, so audit cost is scan-bound at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.irls import (
    Step,
    dec9,
    irls_fit,
    irls_sql,
    null_fit,
)
from ocean_data_pipeline_spark.operators.portable import uniform, uniform_sql, vd, vh
from ocean_data_pipeline_spark.operators.ranks import midrank2, midrank2_sql
from ocean_data_pipeline_spark.queries import register

# --- constraint-violation census (expectation suite) ------------------

_DQ_ORACLE = """
WITH li AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS v_qty,
         sum(CASE WHEN l_discount < 0 OR l_discount > 1
                  THEN 1 ELSE 0 END) AS v_disc,
         sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS v_price,
         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_key
  FROM lineitem
),
joined AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
orphan AS (
  SELECT (SELECT count(*) FROM lineitem) AS n,
         count(*) AS v
  FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
),
rules AS (
  SELECT 'nonpositive_quantity' AS rule, n, CAST(v_qty AS BIGINT) AS n_violations FROM li
  UNION ALL
  SELECT 'discount_out_of_range', n, CAST(v_disc AS BIGINT) FROM li
  UNION ALL
  SELECT 'negative_price', n, CAST(v_price AS BIGINT) FROM li
  UNION ALL
  SELECT 'null_order_key', n, CAST(v_key AS BIGINT) FROM li
  UNION ALL
  SELECT 'ship_before_order', n, CAST(v AS BIGINT) FROM joined
  UNION ALL
  SELECT 'orphan_lineitem', n, CAST(v AS BIGINT) FROM orphan
)
SELECT rule, CAST(n AS BIGINT) AS n_checked, n_violations,
       CASE WHEN n > 0
            THEN round(CAST(n_violations AS DOUBLE) / n, 6) END
         AS violation_rate
FROM rules ORDER BY rule
"""


@register("dq_constraint_census", oracle=_DQ_ORACLE)
def dq_constraint_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-violation census (expectation suite): six data-
    quality rules — four column-level (non-positive quantity, discount
    outside [0,1], negative price, null key), one cross-table temporal
    (shipment before its order date), one referential (orphan
    lineitems) — each reported as checked/violations/rate. The
    generalization of the reference's per-stage validators
    (run_pipeline.py:77-157) to a declarative rule census.

    Plan shape: the four column rules are conditional aggregates over
    ONE lineitem scan (one 1-row partial agg); the temporal rule is a
    fact-fact equi-join reduced to a 1-row agg; the referential rule is
    a LEFT ANTI join (the absence probe). Nothing but 1-row relations
    ever reaches the driver-side union."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    col_rules = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("v_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(
                0
            )
        ).alias("v_disc"),
        F.sum(F.when(F.col("l_extendedprice") < 0, 1).otherwise(0)).alias("v_price"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("v_key"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("nonpositive_quantity").alias("rule"),
                    F.col("n"),
                    F.col("v_qty").alias("n_violations"),
                ),
                F.struct(
                    F.lit("discount_out_of_range").alias("rule"),
                    F.col("n"),
                    F.col("v_disc").alias("n_violations"),
                ),
                F.struct(
                    F.lit("negative_price").alias("rule"),
                    F.col("n"),
                    F.col("v_price").alias("n_violations"),
                ),
                F.struct(
                    F.lit("null_order_key").alias("rule"),
                    F.col("n"),
                    F.col("v_key").alias("n_violations"),
                ),
            )
        ).alias("r")
    ).select("r.rule", "r.n", "r.n_violations")
    temporal = (
        li.select("l_orderkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
            ).alias("n_violations"),
        )
        .select(F.lit("ship_before_order").alias("rule"), "n", "n_violations")
    )
    n_li = li.agg(F.count(F.lit(1)).alias("n"))
    orphan = (
        li.select("l_orderkey")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .crossJoin(F.broadcast(n_li))
        .select(F.lit("orphan_lineitem").alias("rule"), "n", "n_violations")
    )
    rules = col_rules.unionByName(temporal).unionByName(orphan)
    return rules.select(
        "rule",
        F.col("n").alias("n_checked"),
        # empty-table totality: conditional-agg sums are NULL on zero
        # rows — a rule that checked nothing has 0 violations
        F.coalesce(F.col("n_violations"), F.lit(0)).cast("bigint").alias(
            "n_violations"
        ),
        F.when(
            F.col("n") > 0,
            F.round(
                F.coalesce(F.col("n_violations"), F.lit(0)).cast("double")
                / F.col("n"),
                6,
            ),
        ).alias("violation_rate"),
    ).orderBy("rule")


# --- chi-square independence test -------------------------------------

_CHISQ_ORACLE = """
WITH base AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
obs AS (SELECT seg, pri, count(*) AS n FROM base GROUP BY seg, pri),
grid AS (
  SELECT s.seg, p.pri, coalesce(o.n, 0) AS n
  FROM (SELECT DISTINCT seg FROM base) s
  CROSS JOIN (SELECT DISTINCT pri FROM base) p
  LEFT JOIN obs o ON o.seg = s.seg AND o.pri = p.pri
),
tot AS (
  SELECT g.seg, g.pri, g.n,
         sum(g.n) OVER (PARTITION BY g.seg) AS row_tot,
         sum(g.n) OVER (PARTITION BY g.pri) AS col_tot,
         sum(g.n) OVER () AS grand
  FROM grid g
)
SELECT CAST(max(grand) AS BIGINT) AS n_obs,
       count(*) AS n_cells,
       (count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1) AS dof,
       round(sum(pow(n - CAST(row_tot AS DOUBLE) * col_tot / grand, 2)
                 / (CAST(row_tot AS DOUBLE) * col_tot / grand)), 4) AS chi2
FROM tot WHERE row_tot > 0 AND col_tot > 0
"""


@register("segment_priority_chisq", oracle=_CHISQ_ORACLE)
def segment_priority_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: is order priority independent of
    the customer's market segment? The full contingency grid (distinct
    segments x distinct priorities, INCLUDING zero cells — omitting
    them understates the statistic) with expected counts
    row_tot*col_tot/N and the summed (obs-exp)^2/exp.

    Plan shape: one equi-join + one partial agg onto the <=25-cell
    grid; the category cross join is bounded by the two distinct sets
    (the same bounded-pair-generator device as the contamination
    sweep). The three marginal windows run on grid-sized data.
    Cross-engine fp: 25 double terms of magnitude ~1, sum-order error
    ~1e-14 — round(4) is 10 orders of margin."""
    base = (
        table(spark, sf_dir, "orders")
        .select("o_custkey", F.col("o_orderpriority").alias("pri"))
        .join(
            table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_mktsegment").alias("seg"),
            ),
            "o_custkey",
        )
        .select("seg", "pri")
    )
    obs = base.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("n"))
    segs = base.select("seg").distinct()
    pris = base.select("pri").distinct()
    grid = (
        segs.crossJoin(F.broadcast(pris))
        .join(obs, ["seg", "pri"], "left")
        .select("seg", "pri", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    )
    from pyspark.sql import Window

    tot = grid.select(
        "seg",
        "pri",
        "n",
        F.sum("n").over(Window.partitionBy("seg")).alias("row_tot"),
        F.sum("n").over(Window.partitionBy("pri")).alias("col_tot"),
        F.sum("n").over(Window.partitionBy()).alias("grand"),
    ).filter((F.col("row_tot") > 0) & (F.col("col_tot") > 0))
    exp = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("grand")
    return tot.agg(
        F.max("grand").cast("bigint").alias("n_obs"),
        F.count(F.lit(1)).alias("n_cells"),
        ((F.countDistinct("seg") - 1) * (F.countDistinct("pri") - 1)).alias("dof"),
        F.round(F.sum(F.pow(F.col("n") - exp, 2) / exp), 4).alias("chi2"),
    )


# --- funnel conversion-latency percentiles ----------------------------

_LATENCY_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT e.user_id,
         (epoch_us(min(e.ts)) - epoch_us(min(v.t_view))) / 1e6 AS lat_s
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id
)
SELECT count(*) AS n_converted,
       round(quantile_cont(lat_s, 0.5), 3) AS p50_s,
       round(quantile_cont(lat_s, 0.9), 3) AS p90_s,
       round(quantile_cont(lat_s, 0.99), 3) AS p99_s,
       round(max(lat_s), 3) AS max_s
FROM p
"""


@register("conversion_latency_percentiles", oracle=_LATENCY_ORACLE)
def conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency SLA view: seconds from each user's first
    view to their first STRICTLY-LATER purchase (the same stage gating
    as `event_funnel_conversion`), summarized as exact p50/p90/p99/max
    — the product-analytics companion to `ship_latency_percentiles`.

    Determinism: latency is exact integer microseconds divided once by
    1e6; Spark's exact `percentile` and DuckDB's `quantile_cont` share
    linear interpolation. Exact percentiles sort per group — fine on
    the per-user relation (users << events); the documented scale
    cutover is approx_percentile when even the user relation is huge.

    Plan shape: two user-keyed partial aggs and one user equi-join
    (co-partitioned), then a single 1-row percentile aggregate."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(
            (
                (F.unix_micros(F.min("ts")) - F.unix_micros(F.min("t_view"))) / 1e6
            ).alias("lat_s")
        )
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(lat_s, 0.5)"), 3).alias("p50_s"),
        F.round(F.expr("percentile(lat_s, 0.9)"), 3).alias("p90_s"),
        F.round(F.expr("percentile(lat_s, 0.99)"), 3).alias("p99_s"),
        F.round(F.max("lat_s"), 3).alias("max_s"),
    )


# --- Welch two-sample t-test ------------------------------------------

_WELCH_ORACLE = """
WITH g AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              AS DOUBLE) AS s2
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
),
m AS (
  SELECT event_type, n,
         s1 / n AS mean,
         (s2 - s1 * s1 / n) / (n - 1) AS var
  FROM g WHERE n >= 2
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS n_a, b.n AS n_b,
         a.mean - b.mean AS mean_diff,
         (a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n) AS t_stat,
         (a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n)
           / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
              + (b.var / b.n) * (b.var / b.n) / (b.n - 1)) AS dof
  FROM m a JOIN m b ON a.event_type < b.event_type
)
SELECT type_a, type_b,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(mean_diff, 6) AS mean_diff,
       round(t_stat, 6) AS t_stat,
       round(dof, 2) AS dof
FROM pairs
ORDER BY type_a, type_b
"""


@register("welch_ttest_event_values", oracle=_WELCH_ORACLE)
def welch_ttest_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test for every pair of
    event types on `value` — the A/B-testing workhorse (difference of
    means, t statistic, Welch–Satterthwaite degrees of freedom),
    computed from single-pass moment aggregates: n, Σx, Σx² per group,
    then all C(5,2)=10 pairs from the 5-row moment relation. This is
    the experiment-analysis shape at 100 TB: ONE scan with map-side
    partial moments, and the quadratic pair enumeration happens on the
    group-count-sized relation, never on rows.

    Determinism: Σx and Σx² accumulate in exact DECIMAL (values are
    cents-exact), so each group's mean/var is the identical double on
    both engines; the t/dof expressions are fixed-shape IEEE chains on
    those doubles. The self-join pairs groups a < b, so output order
    and signs are pinned."""
    g = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(18,6)").alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("double").alias("s1"),
            F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    m = g.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias(
            "var"
        ),
    )
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    va, vb = F.col("var_a") / F.col("n_a"), F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(va + vb)
    dof = (va + vb) * (va + vb) / (
        va * va / (F.col("n_a") - 1) + vb * vb / (F.col("n_b") - 1)
    )
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
            F.round(t, 6).alias("t_stat"),
            F.round(dof, 2).alias("dof"),
        )
        .orderBy("type_a", "type_b")
    )


# --- one-way ANOVA -----------------------------------------------------

_ANOVA_ORACLE = """
WITH g AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              AS DOUBLE) AS s2
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
),
tot AS (
  SELECT count(*) AS k,
         CAST(sum(n) AS BIGINT) AS n_total,
         sum(s1) AS s1_all,
         sum(s1 * s1 / n) AS sum_group_sq,
         sum(s2) AS s2_all
  FROM g
),
f AS (
  SELECT k, n_total,
         (sum_group_sq - s1_all * s1_all / n_total) AS ss_between,
         (s2_all - sum_group_sq) AS ss_within
  FROM tot
)
SELECT CAST(k AS BIGINT) AS n_groups,
       n_total,
       round(ss_between, 4) AS ss_between,
       round(ss_within, 4) AS ss_within,
       round((ss_between / (k - 1)) / (ss_within / (n_total - k)), 6)
         AS f_stat
FROM f
"""


@register("anova_oneway_event_values", oracle=_ANOVA_ORACLE)
def anova_oneway_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five event types on `value`: between-
    and within-group sums of squares from the SAME single-pass moment
    relation the Welch test uses (n, Σx, Σx² per group), F = MSB/MSW.
    Completes the experiment-analysis trio (chi-square for categorical
    independence, Welch for two groups, ANOVA for k groups) — all three
    are one fact scan + arithmetic over a group-count-sized relation.

    Determinism: moments accumulate in exact DECIMAL; the SS identities
    (Σᵢ Sᵢ²/nᵢ − S²/N and Σx² − Σᵢ Sᵢ²/nᵢ) are fixed-shape IEEE chains
    over those exact sums, identical on both engines."""
    g = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(18,6)").alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("double").alias("s1"),
            F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"),
        )
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("s1").alias("s1_all"),
        F.sum(F.col("s1") * F.col("s1") / F.col("n")).alias("sum_group_sq"),
        F.sum("s2").alias("s2_all"),
    )
    ssb = F.col("sum_group_sq") - F.col("s1_all") * F.col("s1_all") / F.col("n_total")
    ssw = F.col("s2_all") - F.col("sum_group_sq")
    return tot.select(
        F.col("k").cast("bigint").alias("n_groups"),
        "n_total",
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            F.try_divide(
                F.try_divide(ssb, F.col("k") - 1),
                F.try_divide(ssw, F.col("n_total") - F.col("k")),
            ),
            6,
        ).alias("f_stat"),
    )


# --- Mann–Whitney U ----------------------------------------------------

#: The two samples under comparison (same pair the funnel analytics
#: track; 'click' vs 'error' values have visibly different shapes).
_MWU_A = "click"
_MWU_B = "error"

_MWU_ORACLE = f"""
WITH s AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('{_MWU_A}', '{_MWU_B}')
),
r AS (  -- midranks: ties share the average rank (exact .5 decimals)
  SELECT event_type, v,
         CAST(avg(CAST(rn AS DECIMAL(18,1))) OVER (PARTITION BY v)
              AS DOUBLE) AS midrank
  FROM (SELECT event_type, v, row_number() OVER (ORDER BY v) AS rn FROM s)
),
u AS (
  SELECT
    (SELECT count(*) FROM s WHERE event_type = '{_MWU_A}') AS n_a,
    (SELECT count(*) FROM s WHERE event_type = '{_MWU_B}') AS n_b,
    (SELECT sum(midrank) FROM r WHERE event_type = '{_MWU_A}') AS rank_sum_a
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(rank_sum_a, 1) AS rank_sum_a,
       round(rank_sum_a - n_a * (n_a + 1.0) / 2, 1) AS u_a,
       round((rank_sum_a - n_a * (n_a + 1.0) / 2) / (1.0 * n_a * n_b), 6)
         AS auc
FROM u
"""


@register("mannwhitney_u_event_values", oracle=_MWU_ORACLE)
def mannwhitney_u_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) comparing click vs error
    values — the nonparametric two-sample test, whose U/(n_a·n_b) is
    exactly the AUC of "a random click value exceeds a random error
    value" (the ranking-metric identity). Midranks handle ties as the
    test requires (average rank of the tied block).

    Determinism AND scale: a rank statistic is integer arithmetic in
    disguise — the tied block at value v has midrank cum_before(v) +
    (c(v)+1)/2, so the whole test needs only the VALUE CENSUS, never a
    per-row rank. The doubled midrank 2·cum_before + c + 1 (`midrank2`
    of operators/ranks.py) is a pure integer,
    rank sums accumulate in DECIMAL(38,0), and one halving at the end
    reproduces the exact .5 midranks — bitwise identical on both
    engines and partitioning-invariant by construction.

    Plan shape (the `ks_test_price_by_year` posture, VERDICT r06 item
    4): one filtered scan → per-distinct-value conditional aggregate →
    ONE cumulative window over the value-level relation (orders of
    magnitude smaller than the fact table — cents-quantized values,
    not rows) → a 1-row reduce. No row-scale global sort anywhere: the
    former row_number-over-all-events formulation moved every event
    row through a single task; this never ranks rows at all."""
    s = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin(_MWU_A, _MWU_B)
        )
        .select(
            F.col("value").cast("decimal(18,6)").alias("v"),
            F.when(F.col("event_type") == _MWU_A, 1).otherwise(0).alias("in_a"),
        )
    )
    lvl = s.groupBy("v").agg(
        F.sum("in_a").alias("a_here"),
        F.count(F.lit(1)).alias("c"),
    )
    mid2 = lvl.select("a_here", "c", midrank2("v", "c").alias("mid2"))
    agg = mid2.agg(
        F.coalesce(F.sum("a_here"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.sum("c") - F.sum("a_here"), F.lit(0)).cast("bigint").alias("n_b"),
        F.sum(F.col("a_here").cast("decimal(20,0)") * F.col("mid2"))
        .cast("decimal(38,0)")
        .alias("rs2"),
    )
    # with no 'a' row the rank sum is the oracle's sum over no rows: NULL
    rank_sum_a = F.when(F.col("n_a") > 0, F.col("rs2").cast("double") / 2)
    u_a = rank_sum_a - F.col("n_a") * (F.col("n_a") + 1.0) / 2
    return agg.select(
        "n_a",
        "n_b",
        F.round(rank_sum_a, 1).alias("rank_sum_a"),
        F.round(u_a, 1).alias("u_a"),
        F.round(F.try_divide(u_a, 1.0 * F.col("n_a") * F.col("n_b")), 6).alias("auc"),
    )


# --- OLS regression via normal equations ------------------------------

_OLS_ORACLE = """
WITH m AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s2,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s12,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s22,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
  FROM lineitem
),
d AS (
  SELECT n, s1, s2, s11, s12, s22, sy, s1y, s2y, syy,
         n * (s11 * s22 - s12 * s12)
           - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2) AS det,
         sy * (s11 * s22 - s12 * s12)
           - s1 * (s1y * s22 - s12 * s2y)
           + s2 * (s1y * s12 - s11 * s2y) AS det0,
         n * (s1y * s22 - s12 * s2y)
           - sy * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2) AS det1,
         n * (s11 * s2y - s1y * s12)
           - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - s11 * s2) AS det2
  FROM m
),
beta AS (
  SELECT n, sy, s1y, s2y, syy,
         det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
  FROM d
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(b0, 6) AS intercept,
       round(b1, 6) AS beta_quantity,
       round(b2, 6) AS beta_discount,
       round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                   / (syy - sy * sy / n), 6) AS r2
FROM beta
"""


@register("ols_price_regression", oracle=_OLS_ORACLE)
def ols_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression (extendedprice ~ quantity + discount
    + intercept) solved in closed form from the 3×3 normal equations —
    the moments-not-rows discipline that makes OLS a single scan at
    100 TB: ten exact-DECIMAL sums (n, Σx, Σxxᵀ, Σxy, Σy²) feed
    Cramer's-rule determinants, so no gradient loop, no second pass,
    and the fitted R² comes from the normal-equation identity
    SSE = Σy² − βᵀ(Xᵀy). The same shape extends to any small feature
    count via `operators/gram.py`'s covariance accumulation (d² partial
    sums); p³ solve cost is a driver-side scalar expression.

    Determinism: every moment is an exact DECIMAL sum cast once to
    double; determinants and R² are fixed-shape IEEE chains over those
    ten doubles — identical on both engines."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    m = table(spark, sf_dir, "lineitem").select(
        dec("l_quantity").alias("x1"),
        dec("l_discount").alias("x2"),
        dec("l_extendedprice").alias("y"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y, syy = F.col("sy"), F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    d = m.select(
        "n", "sy", "s1y", "s2y", "syy",
        F.try_divide(det0, det).alias("b0"),
        F.try_divide(det1, det).alias("b1"),
        F.try_divide(det2, det).alias("b2"),
    )
    b0, b1, b2 = F.col("b0"), F.col("b1"), F.col("b2")
    return d.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(b0, 6).alias("intercept"),
        F.round(b1, 6).alias("beta_quantity"),
        F.round(b2, 6).alias("beta_discount"),
        F.round(
            1.0
            - (F.col("syy") - b0 * F.col("sy") - b1 * F.col("s1y") - b2 * F.col("s2y"))
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            6,
        ).alias("r2"),
    )


# --- exact two-sample Kolmogorov–Smirnov -------------------------------

_KS_YEAR_A = "1995"
_KS_YEAR_B = "2000"

_KS_ORACLE = f"""
WITH s AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         CASE WHEN strftime(o_orderdate, '%Y') = '{_KS_YEAR_A}'
              THEN 1 ELSE 0 END AS in_a
  FROM orders
  WHERE strftime(o_orderdate, '%Y') IN ('{_KS_YEAR_A}', '{_KS_YEAR_B}')
),
n AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(1 - in_a) AS BIGINT) AS n_b
  FROM s
),
lvl AS (
  SELECT v, sum(in_a) AS a_here, sum(1 - in_a) AS b_here
  FROM s GROUP BY v
),
cum AS (
  SELECT v,
         sum(a_here) OVER (ORDER BY v) AS c_a,
         sum(b_here) OVER (ORDER BY v) AS c_b
  FROM lvl
),
d AS (
  SELECT max(abs(c_a * n.n_b - c_b * n.n_a)) AS d_num
  FROM cum CROSS JOIN n
)
SELECT n.n_a, n.n_b,
       round(CAST(d.d_num AS DOUBLE) / (n.n_a * n.n_b), 6) AS d_stat,
       round(sqrt((CAST(n.n_a AS DOUBLE) * n.n_b) / (n.n_a + n.n_b))
             * (CAST(d.d_num AS DOUBLE) / (n.n_a * n.n_b)), 6) AS ks_lambda
FROM d CROSS JOIN n
"""


@register("ks_test_price_by_year", oracle=_KS_ORACLE)
def ks_test_price_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic comparing the
    order-price distributions of two years — the standard drift
    detector between two corpus snapshots (the continuous-distribution
    sibling of `segment_priority_chisq`). D = max |F_A(x) − F_B(x)| is
    computed in PURE INTEGER arithmetic: at each distinct value the
    CDF gap is |c_a·n_b − c_b·n_a| / (n_a·n_b), so the max runs over
    exact integers and the statistic cannot epsilon-drift — no
    sampling, no binning, unlike the usual approximate KS at scale.
    ks_lambda = sqrt(n_a·n_b/(n_a+n_b))·D is the input to the
    asymptotic significance series.

    Plan shape: one filtered scan → per-distinct-value conditional
    agg → two running sums over the value-level relation (orders of
    magnitude smaller than the fact table) → one max. Ties are handled
    exactly by aggregating to value levels BEFORE the cumulative
    window (both samples' steps land atomically)."""
    s = (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
            F.date_format("o_orderdate", "yyyy").alias("y"),
        )
        .filter(F.col("y").isin(_KS_YEAR_A, _KS_YEAR_B))
        .select(
            "v", F.when(F.col("y") == _KS_YEAR_A, 1).otherwise(0).alias("in_a")
        )
    )
    lvl = s.groupBy("v").agg(
        F.sum("in_a").alias("a_here"),
        F.sum(1 - F.col("in_a")).alias("b_here"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = lvl.select(
        F.sum("a_here").over(w).alias("c_a"),
        F.sum("b_here").over(w).alias("c_b"),
    )
    n = s.agg(
        F.sum("in_a").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("n_b"),
    )
    d = cum.crossJoin(F.broadcast(n)).agg(
        F.max(
            F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))
        ).alias("d_num")
    )
    return (
        n.crossJoin(F.broadcast(d))
        .select(
            "n_a",
            "n_b",
            F.round(
                F.col("d_num").cast("double") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("d_stat"),
            F.round(
                F.sqrt(
                    (F.col("n_a").cast("double") * F.col("n_b"))
                    / (F.col("n_a") + F.col("n_b"))
                )
                * (F.col("d_num").cast("double") / (F.col("n_a") * F.col("n_b"))),
                6,
            ).alias("ks_lambda"),
        )
    )


# --- candidate-key / functional-dependency profile ---------------------

_KEY_PROFILE_ORACLE = """
WITH s AS (
  SELECT count(*) AS n,
         (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders))  AS ndv_ok,
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders))   AS ndv_ck,
         (SELECT count(*) FROM (SELECT DISTINCT o_orderdate FROM orders)) AS ndv_od,
         (SELECT count(*) FROM (SELECT DISTINCT o_orderkey, o_custkey
                                FROM orders))                             AS ndv_ok_ck,
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey, o_orderdate
                                FROM orders))                             AS ndv_ck_od
  FROM orders
)
SELECT * FROM (
  SELECT 'key' AS kind, 'o_orderkey' AS subject, n AS n_rows,
         ndv_ok AS ndv_lhs, ndv_ok AS ndv_rhs,
         ndv_ok = n AS holds, CAST(ndv_ok AS DOUBLE) / n AS uniqueness
  FROM s
  UNION ALL
  SELECT 'key', 'o_custkey', n, ndv_ck, ndv_ck,
         ndv_ck = n, CAST(ndv_ck AS DOUBLE) / n FROM s
  UNION ALL
  SELECT 'key', 'o_custkey,o_orderdate', n, ndv_ck_od, ndv_ck_od,
         ndv_ck_od = n, CAST(ndv_ck_od AS DOUBLE) / n FROM s
  UNION ALL
  SELECT 'fd', 'o_orderkey->o_custkey', n, ndv_ok, ndv_ok_ck,
         ndv_ok = ndv_ok_ck, CAST(ndv_ok AS DOUBLE) / n FROM s
  UNION ALL
  SELECT 'fd', 'o_custkey->o_orderdate', n, ndv_ck, ndv_ck_od,
         ndv_ck = ndv_ck_od, CAST(ndv_ck AS DOUBLE) / n FROM s
)
ORDER BY kind, subject
"""


@register("candidate_key_profile", oracle=_KEY_PROFILE_ORACLE)
def candidate_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema profiling (Metanome-style): candidate-key checks
    (NDV == row count) for three key hypotheses and functional-
    dependency checks (A→B holds iff NDV(A) == NDV(A,B)) for two
    dependency hypotheses over orders — the discovery pass that
    validates assumed constraints BEFORE a pipeline relies on them
    (`dq_constraint_census` enforces declared rules; this one tests
    whether the rules are even true).

    ONE scan: all six exact distinct counts come from a single
    aggregate (Catalyst's Expand lowers multi-countDistinct to one
    pass); the five report rows are projections of that 1-row
    relation. At 100 TB the same shape swaps approx_count_distinct
    in for the exact NDVs."""
    o = table(spark, sf_dir, "orders")
    s = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("ndv_ok"),
        F.countDistinct("o_custkey").alias("ndv_ck"),
        F.countDistinct("o_orderdate").alias("ndv_od"),
        F.countDistinct("o_orderkey", "o_custkey").alias("ndv_ok_ck"),
        F.countDistinct("o_custkey", "o_orderdate").alias("ndv_ck_od"),
    )

    def row(kind, subject, lhs, rhs, denom_is_n=True):
        return s.select(
            F.lit(kind).alias("kind"),
            F.lit(subject).alias("subject"),
            F.col("n").alias("n_rows"),
            F.col(lhs).alias("ndv_lhs"),
            F.col(rhs).alias("ndv_rhs"),
            (F.col(lhs) == F.col(rhs if kind == "fd" else "n")).alias("holds"),
            F.when(F.col("n") > 0, F.col(lhs).cast("double") / F.col("n")).alias(
                "uniqueness"
            ),
        )

    out = (
        row("key", "o_orderkey", "ndv_ok", "ndv_ok")
        .unionAll(row("key", "o_custkey", "ndv_ck", "ndv_ck"))
        .unionAll(row("key", "o_custkey,o_orderdate", "ndv_ck_od", "ndv_ck_od"))
        .unionAll(row("fd", "o_orderkey->o_custkey", "ndv_ok", "ndv_ok_ck"))
        .unionAll(row("fd", "o_custkey->o_orderdate", "ndv_ck", "ndv_ck_od"))
    )
    return out.orderBy("kind", "subject")


# --- decision stump (exact optimal 1-D split) --------------------------

_STUMP_ORACLE = """
WITH labeled AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
levels AS (
  SELECT x, count(*) AS n, sum(y) AS pos
  FROM labeled GROUP BY x
),
cum AS (
  SELECT x,
         sum(n)   OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS n_l,
         sum(pos) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS pos_l,
         sum(n)   OVER () AS n_tot,
         sum(pos) OVER () AS pos_tot,
         row_number() OVER (ORDER BY x) AS rn,
         count(*) OVER () AS n_levels
  FROM levels
),
scored AS (
  SELECT x AS threshold,
         n_l, n_tot - n_l AS n_r, pos_l, pos_tot - pos_l AS pos_r,
         (CAST(n_l AS DOUBLE)
            * (1.0 - (CAST(pos_l AS DOUBLE) / CAST(n_l AS DOUBLE))
                     * (CAST(pos_l AS DOUBLE) / CAST(n_l AS DOUBLE))
                   - (CAST(n_l - pos_l AS DOUBLE) / CAST(n_l AS DOUBLE))
                     * (CAST(n_l - pos_l AS DOUBLE) / CAST(n_l AS DOUBLE)))
          + CAST(n_tot - n_l AS DOUBLE)
            * (1.0 - (CAST(pos_tot - pos_l AS DOUBLE) / CAST(n_tot - n_l AS DOUBLE))
                     * (CAST(pos_tot - pos_l AS DOUBLE) / CAST(n_tot - n_l AS DOUBLE))
                   - (CAST((n_tot - n_l) - (pos_tot - pos_l) AS DOUBLE) / CAST(n_tot - n_l AS DOUBLE))
                     * (CAST((n_tot - n_l) - (pos_tot - pos_l) AS DOUBLE) / CAST(n_tot - n_l AS DOUBLE))))
         / CAST(n_tot AS DOUBLE) AS gini_split
  FROM cum
  WHERE rn < n_levels
)
SELECT threshold, gini_split,
       CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
       CAST(pos_l AS BIGINT) AS pos_left, CAST(pos_r AS BIGINT) AS pos_right
FROM scored
ORDER BY gini_split, threshold
LIMIT 5
"""


@register("decision_stump_totalprice", oracle=_STUMP_ORACLE)
def decision_stump_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact optimal decision stump: the split threshold on
    o_totalprice minimizing weighted Gini impurity for the
    urgent-priority label, evaluated at EVERY distinct feature value
    in one pass — distinct-level contraction, two running sums over
    the sorted levels, closed-form impurity per boundary (integer
    counts exact; doubles enter only in the final fixed expression
    tree, identical on both engines). Top-5 splits reported with the
    (gini, threshold) tiebreak making order total. The max level is
    excluded (empty right side). Scale: the prefix scan runs on
    distinct LEVELS (15k at sf0.01), not rows, and — because
    o_totalprice levels are near-unique — the running sums ride the
    fixed-width coarsening mode of the distributed running-sum device
    ($1000 buckets, operators/ranks.py) with the totals as a broadcast
    1-row aggregate: no single-partition window even at full level
    cardinality. 100 TB would additionally pre-bin to equi-depth
    quantiles first (approx_quartiles posture). This is the
    split-finding primitive of every tree ensemble."""
    labeled = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        ).otherwise(F.lit(0)).alias("y"),
    )
    levels = labeled.groupBy("x").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    from ocean_data_pipeline_spark.operators.ranks import with_running_aggs

    tot = levels.agg(
        F.sum("n").alias("n_tot"),
        F.sum("pos").alias("pos_tot"),
        F.count(F.lit(1)).alias("n_levels"),
    )
    cum = (
        with_running_aggs(
            levels,
            ["x"],
            "x",
            {
                "n_l": ("n", "sum", True),
                "pos_l": ("pos", "sum", True),
                # inclusive running count == row_number (x is unique)
                "rn": (None, "count", True),
            },
            bucket_width=1000.0,  # $1000 buckets: domain-bounded census
        )
        .crossJoin(F.broadcast(tot))
        .select("x", "n_l", "pos_l", "n_tot", "pos_tot", "rn", "n_levels")
    )

    def _d(c):
        return c.cast("double")

    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    n_r = F.col("n_tot") - n_l
    pos_r = F.col("pos_tot") - pos_l
    p_l, q_l = _d(pos_l) / _d(n_l), _d(n_l - pos_l) / _d(n_l)
    p_r, q_r = _d(pos_r) / _d(n_r), _d(n_r - pos_r) / _d(n_r)
    gini = (
        _d(n_l) * (F.lit(1.0) - p_l * p_l - q_l * q_l)
        + _d(n_r) * (F.lit(1.0) - p_r * p_r - q_r * q_r)
    ) / _d(F.col("n_tot"))
    return (
        cum.where(F.col("rn") < F.col("n_levels"))
        .select(
            F.col("x").alias("threshold"),
            gini.alias("gini_split"),
            n_l.alias("n_left"),
            n_r.alias("n_right"),
            pos_l.alias("pos_left"),
            pos_r.alias("pos_right"),
        )
        .orderBy("gini_split", "threshold")
        .limit(5)
    )


# --- Spearman rank correlation (level-based midranks) -----------------

_SPEARMAN_ORACLE = f"""
WITH cells AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_discount * 100) AS BIGINT) AS d,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
mq AS (
  SELECT q, sum(cnt) AS cq FROM cells GROUP BY q
),
md AS (
  SELECT d, sum(cnt) AS cd FROM cells GROUP BY d
),
rq AS (  -- doubled midrank: 2R = 2*(count below) + count equal + 1
  SELECT q, {midrank2_sql("q", "cq")} AS dq FROM mq
),
rd AS (
  SELECT d, {midrank2_sql("d", "cd")} AS dd FROM md
),
s AS (
  SELECT sum(c.cnt) AS n,
         sum(CAST(c.cnt AS DECIMAL(19,0)) * CAST(rq.dq AS DECIMAL(19,0))) AS sx,
         sum(CAST(c.cnt AS DECIMAL(19,0)) * CAST(rd.dd AS DECIMAL(19,0))) AS sy,
         {vh("sum(CAST(c.cnt * rq.dq AS DECIMAL(19,0)) * CAST(rq.dq AS DECIMAL(19,0)))")} AS sxx,
         {vh("sum(CAST(c.cnt * rd.dd AS DECIMAL(19,0)) * CAST(rd.dd AS DECIMAL(19,0)))")} AS syy,
         {vh("sum(CAST(c.cnt * rq.dq AS DECIMAL(19,0)) * CAST(rd.dd AS DECIMAL(19,0)))")} AS sxy
  FROM cells c JOIN rq USING (q) JOIN rd USING (d)
)
SELECT CAST(n AS BIGINT) AS n,
       CASE WHEN (n * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (n * syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <> 0 THEN
         (n * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(n * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(n * syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS rho_spearman
FROM s
"""


@register("spearman_rank_correlation", oracle=_SPEARMAN_ORACLE)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount level —
    the monotone-dependence screen that, unlike Pearson, is invariant
    to the marginal distributions. Midranks (average rank over ties)
    are carried DOUBLED so they stay integers: 2R = 2·count_below +
    count_equal + 1 (`midrank2` of operators/ranks.py on each margin);
    rho is then Pearson on the doubled ranks (the 2s
    cancel), with every sum an exact DECIMAL over the JOINT level
    census — rank statistics are integer arithmetic in disguise, the
    `mannwhitney_u_event_values` discipline extended to two variables.

    Plan shape: ONE shuffle to the (quantity, discount) cell census
    (value-domain-bounded: ~50x11 cells); margins, rank windows, and
    the correlation algebra run on the census. At 100 TB nothing but
    the first aggregate touches row-scale data — exact Spearman at
    full-corpus scale, no per-row global sort anywhere."""
    cells = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.round("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        )
        .groupBy("q", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # consumed by margins + the joint sum
    )
    mq = cells.groupBy("q").agg(F.sum("cnt").alias("cq"))
    md = cells.groupBy("d").agg(F.sum("cnt").alias("cd"))
    rq = mq.select("q", midrank2("q", "cq").alias("dq"))
    rd = md.select("d", midrank2("d", "cd").alias("dd"))
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = (
        cells.join(F.broadcast(rq), "q")
        .join(F.broadcast(rd), "d")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(dec("cnt") * dec("dq")).alias("sx"),
            F.sum(dec("cnt") * dec("dd")).alias("sy"),
            F.sum((F.col("cnt") * F.col("dq")).cast("decimal(19,0)") * dec("dq"))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("cnt") * F.col("dd")).cast("decimal(19,0)") * dec("dd"))
            .cast("double")
            .alias("syy"),
            F.sum((F.col("cnt") * F.col("dq")).cast("decimal(19,0)") * dec("dd"))
            .cast("double")
            .alias("sxy"),
        )
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy").cast("double")
    denx = F.sqrt(n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx").cast("double"))
    deny = F.sqrt(n * F.col("syy") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    vx = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy").cast("double")
    return s.select(
        n.cast("bigint").alias("n"),
        F.when(vx * vy != 0, num / (denx * deny)).alias("rho_spearman"),
    )


# --- CUPED variance reduction -----------------------------------------

_CUPED_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
         sum(CASE WHEN year(o_orderdate) < 1998
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS xc,
         sum(CASE WHEN year(o_orderdate) >= 1998
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS yc
  FROM orders GROUP BY o_custkey
),
tagged AS (
  SELECT c.c_mktsegment AS segment, p.xc, p.yc
  FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey
),
s AS (
  SELECT segment,
         count(*) AS n,
         CAST(sum(xc) AS DOUBLE) AS sx,
         CAST(sum(yc) AS DOUBLE) AS sy,
         {vh("sum(CAST(xc AS DECIMAL(19,0)) * CAST(xc AS DECIMAL(19,0)))")} AS sxx,
         {vh("sum(CAST(yc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))")} AS syy,
         {vh("sum(CAST(xc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))")} AS sxy
  FROM tagged GROUP BY segment
)
SELECT segment,
       CAST(n AS BIGINT) AS n_customers,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS theta,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <> 0
            THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END
         AS variance_reduction
FROM s
ORDER BY segment
"""


@register("cuped_variance_reduction", oracle=_CUPED_ORACLE)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED pre-experiment covariate adjustment (Deng-Xu-Kohavi-Walker,
    WSDM'13): per market segment, theta = cov(x,y)/var(x) for
    pre-period (pre-1998) vs experiment-period customer spend, and the
    achievable variance reduction rho² = cov²/(var_x·var_y) — the
    number that says how much smaller an A/B test gets by regressing
    out the pre-period covariate. Five exact-DECIMAL moments in ONE
    pass over the per-customer relation (cents-integer spend, int128
    products, VARCHAR-hop casts); theta and rho² are fixed Cramer-style
    chains with zero-variance guards.

    Plan shape: one shuffle to per-customer period spends (conditional
    aggregation — one scan for both periods), broadcast dim join, one
    moment agg per segment. At 100 TB: the standard two-aggregate
    experimentation pipeline, no per-row state."""
    yc = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.year("o_orderdate") < 1998, yc).otherwise(0)).alias("xc"),
            F.sum(F.when(F.year("o_orderdate") >= 1998, yc).otherwise(0)).alias("yc"),
        )
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = (
        per_cust.join(cust, per_cust["o_custkey"] == cust["c_custkey"])
        .select(F.col("c_mktsegment").alias("segment"), "xc", "yc")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xc").cast("double").alias("sx"),
            F.sum("yc").cast("double").alias("sy"),
            F.sum(dec("xc") * dec("xc")).cast("double").alias("sxx"),
            F.sum(dec("yc") * dec("yc")).cast("double").alias("syy"),
            F.sum(dec("xc") * dec("yc")).cast("double").alias("sxy"),
        )
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "segment",
        n.cast("bigint").alias("n_customers"),
        F.when(vx != 0, cov / vx).alias("theta"),
        F.when(vx * vy != 0, (cov * cov) / (vx * vy)).alias("variance_reduction"),
    ).orderBy("segment")


# --- Wilson score intervals -------------------------------------------

_WILSON_Z = 1.96

_WILSON_ORACLE = f"""
WITH s AS (
  SELECT o_orderpriority AS priority,
         count(*) AS n,
         sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS k
  FROM orders GROUP BY 1
)
SELECT priority,
       CAST(n AS BIGINT) AS n,
       CAST(k AS DOUBLE) / n AS p_hat,
       ((CAST(k AS DOUBLE) / n) + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
        - {_WILSON_Z} * sqrt((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n) / n
                             + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
         / (1 + {_WILSON_Z} * {_WILSON_Z} / n) AS wilson_lo,
       ((CAST(k AS DOUBLE) / n) + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
        + {_WILSON_Z} * sqrt((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n) / n
                             + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
         / (1 + {_WILSON_Z} * {_WILSON_Z} / n) AS wilson_hi
FROM s
ORDER BY priority
"""


@register("wilson_proportion_intervals", oracle=_WILSON_ORACLE)
def wilson_proportion_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% intervals (Wilson, JASA'27) for the completed-
    order rate per priority — the proportion interval that behaves at
    the 0/1 boundaries where the Wald interval collapses, and the
    standard output of an experimentation readout. Pure fixed IEEE
    chains over exact integer ratios (sqrt is correctly rounded), so
    both engines emit identical unrounded doubles.

    Plan shape: one map-side-combining conditional aggregate; the
    interval algebra runs on 5 rows."""
    s = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("k"),
        )
    )
    z = _WILSON_Z
    n = F.col("n")
    p = F.col("k").cast("double") / n
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    return s.select(
        "priority",
        n.cast("bigint").alias("n"),
        p.alias("p_hat"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    ).orderBy("priority")


# --- difference-in-differences ----------------------------------------

_DID_U_SQL = uniform_sql("'did_' || CAST(o_custkey AS VARCHAR)")

_DID_ORACLE = f"""
WITH cells AS (
  SELECT CASE WHEN {_DID_U_SQL} < 0.5 THEN 1 ELSE 0 END AS treated,
         CASE WHEN year(o_orderdate) >= 1997 THEN 1 ELSE 0 END AS post,
         count(*) AS n,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT
    max(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t_post,
    max(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t_pre,
    max(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c_post,
    max(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c_pre,
    CAST(sum(n) AS BIGINT) AS n_orders
  FROM cells
)
SELECT n_orders,
       t_pre / 100 AS treated_pre, t_post / 100 AS treated_post,
       c_pre / 100 AS control_pre, c_post / 100 AS control_post,
       ((t_post - t_pre) - (c_post - c_pre)) / 100 AS did_estimate
FROM m
"""


@register("diff_in_diff_estimator", oracle=_DID_ORACLE)
def diff_in_diff_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (Card & Krueger'94 design):
    deterministic sha-salted customer cohorts x pre/post-1997 periods;
    DiD = (T_post - T_pre) - (C_post - C_pre) over mean order value —
    the parallel-trends causal readout, here on a null treatment so the
    estimate doubles as an A/A sanity check (the honest expectation is
    ~0). The four cell means are exact cents-integer DECIMAL ratios
    from ONE conditional aggregate; the estimator is a fixed chain.

    Plan shape: one map-side-combining aggregate to 4 cells; at 100 TB
    this is the cheapest causal-inference primitive there is."""
    draw = uniform(F.concat(F.lit("did_"), F.col("o_custkey").cast("string")))
    cells = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.when(draw < 0.5, 1).otherwise(0).alias("treated"),
            F.when(F.year("o_orderdate") >= 1997, 1).otherwise(0).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("s"),
        )
    )
    def cell(t: int, p: int):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("s").cast("double") / F.col("n"),
            )
        )
    m = cells.agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
        F.sum("n").cast("bigint").alias("n_orders"),
    )
    return m.select(
        "n_orders",
        (F.col("t_pre") / 100).alias("treated_pre"),
        (F.col("t_post") / 100).alias("treated_post"),
        (F.col("c_pre") / 100).alias("control_pre"),
        (F.col("c_post") / 100).alias("control_post"),
        (
            ((F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")))
            / 100
        ).alias("did_estimate"),
    )


# --- power analysis / sample sizing -----------------------------------

#: z_{0.975} + z_{0.8}: the 5%-two-sided / 80%-power constants of the
#: standard two-sample sizing formula, squared once as a literal so both
#: engines multiply the same double.
_POWER_ZSUM_SQ = (1.959963984540054 + 0.8416212335729143) ** 2

_POWER_ORACLE = f"""
WITH s AS (
  SELECT o_orderpriority AS priority,
         count(*) AS n,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) AS s1,
         {vh("sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(19,0))"
             " * CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(19,0)))")} AS s2
  FROM orders GROUP BY 1
)
SELECT priority,
       CAST(n AS BIGINT) AS n_observed,
       (s1 / n) / 100 AS mean_value,
       CASE WHEN n > 1 THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100 END
         AS sd_value,
       CASE WHEN n > 1 THEN (s2 - s1 * s1 / n) / (n - 1) / (s1 / n) / 100 END
         AS dispersion_index,
       CASE WHEN n > 1 THEN
         CAST(ceil(2 * ((s2 - s1 * s1 / n) / (n - 1))
                   * {_POWER_ZSUM_SQ}
                   / ((0.02 * (s1 / n)) * (0.02 * (s1 / n)))) AS BIGINT)
       END AS n_per_arm_2pct_mde
FROM s
ORDER BY priority
"""


@register("power_sample_size", oracle=_POWER_ORACLE)
def power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test sizing per priority: n/arm = 2·s²·(z_{a/2}+z_b)²/Δ² for
    a 2%-of-mean minimum detectable effect at 5% size / 80% power —
    the pre-registration step in front of `welch_ttest_event_values`,
    plus the variance-to-mean dispersion index (overdispersion
    diagnostic). Sample variance from exact cents-integer DECIMAL
    moments; the z-constant sum is squared ONCE as a shared literal;
    everything after is a fixed IEEE chain (ceil of a far-from-integer
    double).

    Plan shape: one map-side-combining moment aggregate; sizing algebra
    on 5 rows."""
    cb = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cbd = cb.cast("decimal(19,0)")
    s = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("priority"), cb.alias("c"), (cbd * cbd).alias("c2"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").cast("double").alias("s1"),
            F.sum("c2").cast("double").alias("s2"),
        )
    )
    n = F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    mean = F.col("s1") / n
    mde = 0.02 * mean
    return s.select(
        "priority",
        n.cast("bigint").alias("n_observed"),
        (mean / 100).alias("mean_value"),
        F.when(n > 1, F.sqrt(var) / 100).alias("sd_value"),
        F.when(n > 1, var / mean / 100).alias("dispersion_index"),
        F.when(
            n > 1, F.ceil(2 * var * _POWER_ZSUM_SQ / (mde * mde)).cast("bigint")
        ).alias("n_per_arm_2pct_mde"),
    ).orderBy("priority")


# --- Cochran-Armitage trend test --------------------------------------

_CA_ORACLE = """
WITH g AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS w,
         count(*) AS n_i,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r_i
  FROM lineitem GROUP BY 1
),
s AS (
  SELECT sum(n_i) AS n, sum(r_i) AS r,
         sum(w * r_i) AS swr,
         sum(w * n_i) AS swn,
         sum(w * w * n_i) AS swwn
  FROM g
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(r AS BIGINT) AS n_positive,
       CAST(n AS DOUBLE) * swr - CAST(r AS DOUBLE) * swn AS trend_numerator,
       CASE WHEN r > 0 AND r < n
             AND CAST(n AS DOUBLE) * swwn - CAST(swn AS DOUBLE) * swn <> 0
       THEN (CAST(n AS DOUBLE) * swr - CAST(r AS DOUBLE) * swn)
            * (CAST(n AS DOUBLE) * swr - CAST(r AS DOUBLE) * swn)
            * n
            / (CAST(r AS DOUBLE) * (n - r)
               * (CAST(n AS DOUBLE) * swwn - CAST(swn AS DOUBLE) * swn))
       END AS z_squared
FROM s
"""


@register("cochran_armitage_trend", oracle=_CA_ORACLE)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for trend (Cochran '54, Armitage '55): is
    the return rate MONOTONICALLY associated with the ordered discount
    level? The ordered-alternative complement of the chi-square
    independence grid (`segment_priority_chisq`) — one degree of
    freedom aimed at dose-response, far more powerful than the
    unordered test when the trend is real. Scores w = discount level;
    every sum is exact integer arithmetic; the Z² chain is fixed IEEE
    with degenerate-margin guards.

    Plan shape: one map-side-combining shuffle to the <= 11-level
    relation; the statistic is 1-row algebra. At 100 TB: a single-pass
    dose-response monitor."""
    g = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_discount") * 100).cast("bigint").alias("w"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_i"), F.sum("y").alias("r_i"))
    )
    s = g.agg(
        F.sum("n_i").alias("n"),
        F.sum("r_i").alias("r"),
        F.sum(F.col("w") * F.col("r_i")).alias("swr"),
        F.sum(F.col("w") * F.col("n_i")).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i")).alias("swwn"),
    )
    n = F.col("n")
    r = F.col("r")
    num = n.cast("double") * F.col("swr") - r.cast("double") * F.col("swn")
    var_core = n.cast("double") * F.col("swwn") - F.col("swn").cast(
        "double"
    ) * F.col("swn")
    return s.select(
        n.cast("bigint").alias("n"),
        r.cast("bigint").alias("n_positive"),
        num.alias("trend_numerator"),
        F.when(
            (r > 0) & (r < n) & (var_core != 0),
            num * num * n / (r.cast("double") * (n - r) * var_core),
        ).alias("z_squared"),
    )


# --- Mantel-Haenszel pooled odds ratio --------------------------------

_MH_ORACLE = f"""
WITH t AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_totalprice > 200000 THEN 1 ELSE 0 END AS exposed,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS outcome
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
cells AS (
  SELECT segment,
         sum(exposed * outcome) AS a,
         sum(exposed * (1 - outcome)) AS b,
         sum((1 - exposed) * outcome) AS c,
         sum((1 - exposed) * (1 - outcome)) AS d
  FROM t GROUP BY segment
),
terms AS (  -- per-stratum rational terms quantized ONCE into DECIMAL
            -- (round(double, 12) splits across engines at boundary
            -- cases) so the cross-stratum sums are exactly associative
  SELECT segment, a, b, c, d, a + b + c + d AS n,
         {vd("CAST(a AS DOUBLE) * d / (a + b + c + d)", 28, 12)} AS ad_n,
         {vd("CAST(b AS DOUBLE) * c / (a + b + c + d)", 28, 12)} AS bc_n
  FROM cells
),
pooled AS (
  SELECT sum(ad_n) AS s_ad, sum(bc_n) AS s_bc,
         sum(a) AS ta, sum(b) AS tb, sum(c) AS tc, sum(d) AS td
  FROM terms
)
SELECT CAST(ta AS BIGINT) AS exposed_cases,
       CAST(tb AS BIGINT) AS exposed_noncases,
       CAST(tc AS BIGINT) AS unexposed_cases,
       CAST(td AS BIGINT) AS unexposed_noncases,
       CASE WHEN tb * tc <> 0
            THEN (CAST(ta AS DOUBLE) * td) / (CAST(tb AS DOUBLE) * tc) END
         AS crude_odds_ratio,
       CASE WHEN CAST(s_bc AS DOUBLE) <> 0
            THEN CAST({vd(f'{vh("s_ad")} / {vh("s_bc")}', 28, 12)} AS DOUBLE) END
         AS mh_odds_ratio
FROM pooled
"""


@register("mantel_haenszel_or", oracle=_MH_ORACLE)
def mantel_haenszel_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio (JNCI'59): association between
    high order value (>200k) and completed status, POOLED ACROSS
    market-segment strata — the confounding-adjusted estimate whose gap
    from the crude OR is the classic Simpson's-paradox detector.
    Per-stratum a·d/n and b·c/n terms round ONCE into DECIMAL(28,12) so
    the cross-stratum sums are exactly associative; both ratios are
    fixed IEEE chains with empty-margin guards.

    Plan shape: one conditional-agg shuffle to 5 strata x 4 cells;
    pooling is 5-row algebra. At 100 TB: the one-pass stratified 2x2
    analysis every observational readout needs."""
    t = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("o_totalprice") > 200000, 1).otherwise(0).alias("exposed"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("outcome"),
        )
    )
    cells = t.groupBy("segment").agg(
        F.sum(F.col("exposed") * F.col("outcome")).alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome"))).alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome")).alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome"))).alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.select(
        "a", "b", "c", "d",
        # quantize via the shortest-string hop, not round(double, 12):
        # the round implementations split across engines at 12dp
        # boundaries (ADVICE r10); the VARCHAR->DECIMAL parse is
        # bit-deterministic at every SF
        (F.col("a").cast("double") * F.col("d") / n)
        .cast("string")
        .cast("decimal(28,12)")
        .alias("ad_n"),
        (F.col("b").cast("double") * F.col("c") / n)
        .cast("string")
        .cast("decimal(28,12)")
        .alias("bc_n"),
    )
    pooled = terms.agg(
        F.sum("ad_n").alias("s_ad"),
        F.sum("bc_n").alias("s_bc"),
        F.sum("a").alias("ta"),
        F.sum("b").alias("tb"),
        F.sum("c").alias("tc"),
        F.sum("d").alias("td"),
    )
    return pooled.select(
        F.col("ta").cast("bigint").alias("exposed_cases"),
        F.col("tb").cast("bigint").alias("exposed_noncases"),
        F.col("tc").cast("bigint").alias("unexposed_cases"),
        F.col("td").cast("bigint").alias("unexposed_noncases"),
        F.when(
            F.col("tb") * F.col("tc") != 0,
            (F.col("ta").cast("double") * F.col("td"))
            / (F.col("tb").cast("double") * F.col("tc")),
        ).alias("crude_odds_ratio"),
        # TWO shortest-string hops (the ipf_survey_raking device): the
        # decimal(28,12) -> double CASTS differ by 1 ulp between
        # engines (Java BigDecimal.doubleValue is correctly rounded;
        # DuckDB divides the int128 payload by 1e12 in floating
        # point), so read each sum via VARCHAR; then re-quantize the
        # ratio at 12dp via VARCHAR->DECIMAL instead of
        # round(double, 12), whose implementations also split at
        # boundaries (observed at sf0.1, ADVICE r10)
        F.when(
            F.col("s_bc").cast("double") != 0,
            (
                F.col("s_ad").cast("string").cast("double")
                / F.col("s_bc").cast("string").cast("double")
            )
            .cast("string")
            .cast("decimal(28,12)")
            .cast("double"),
        ).alias("mh_odds_ratio"),
    )


# --- Kendall's tau-b ---------------------------------------------------

_KENDALL_ORACLE = f"""
WITH cells AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_discount * 100) AS BIGINT) AS d,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
pairs AS (  -- concordant/discordant pair mass over the cell census
  SELECT sum(CASE WHEN (a.q < b.q AND a.d < b.d) OR (a.q > b.q AND a.d > b.d)
                  THEN CAST(a.cnt AS DECIMAL(19,0)) * CAST(b.cnt AS DECIMAL(19,0))
                  ELSE CAST(0 AS DECIMAL(19,0)) END) AS conc2,
         sum(CASE WHEN (a.q < b.q AND a.d > b.d) OR (a.q > b.q AND a.d < b.d)
                  THEN CAST(a.cnt AS DECIMAL(19,0)) * CAST(b.cnt AS DECIMAL(19,0))
                  ELSE CAST(0 AS DECIMAL(19,0)) END) AS disc2
  FROM cells a JOIN cells b
    ON a.q <> b.q OR a.d <> b.d
),
ties AS (
  SELECT sum(cnt) AS n,
         {vh("sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0)))")} AS scell2
  FROM cells
),
tx AS (  -- pairs tied on q
  SELECT {vh("sum(CAST(cq AS DECIMAL(19,0)) * CAST(cq AS DECIMAL(19,0)))")} AS sq2
  FROM (SELECT q, sum(cnt) AS cq FROM cells GROUP BY q)
),
ty AS (
  SELECT {vh("sum(CAST(cd AS DECIMAL(19,0)) * CAST(cd AS DECIMAL(19,0)))")} AS sd2
  FROM (SELECT d, sum(cnt) AS cd FROM cells GROUP BY d)
)
SELECT CAST(t.n AS BIGINT) AS n,
       CAST(p.conc2 / 2 AS BIGINT) AS concordant,
       CAST(p.disc2 / 2 AS BIGINT) AS discordant,
       (CAST(p.conc2 AS DOUBLE) / 2 - CAST(p.disc2 AS DOUBLE) / 2)
         / (sqrt((CAST(t.n AS DOUBLE) * t.n - tx.sq2) / 2)
            * sqrt((CAST(t.n AS DOUBLE) * t.n - ty.sd2) / 2)) AS tau_b
FROM pairs p, ties t, tx, ty
"""


@register("kendall_tau_b", oracle=_KENDALL_ORACLE)
def kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between quantity and discount level (Kendall '38,
    tie-corrected '45) — the concordance-based rank correlation beside
    `spearman_rank_correlation` (tau is more robust to outlying ranks
    and directly interpretable as P(concordant) - P(discordant)).
    Concordant/discordant pair mass is computed EXACTLY over the joint
    value census (C(cells,2) algebra — never row pairs); tie
    corrections come from the marginal censuses; tau-b is a fixed IEEE
    chain over exact-integer inputs (VARCHAR-hop casts for the big
    squares).

    Plan shape: one shuffle to the ~550-cell census; the cell
    self-join is census²-bounded. At 100 TB only the first aggregate
    is row-scale — exact tau over any corpus whose value domains are
    bounded."""
    cells = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.round("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        )
        .groupBy("q", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # consumed by 4 subtrees (pair join ×2, margins)
    )
    a = cells.select(
        F.col("q").alias("qa"), F.col("d").alias("da"), F.col("cnt").alias("ca")
    )
    b = cells.select(
        F.col("q").alias("qb"), F.col("d").alias("db"), F.col("cnt").alias("cb")
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mass = dec("ca") * dec("cb")
    conc = (
        ((F.col("qa") < F.col("qb")) & (F.col("da") < F.col("db")))
        | ((F.col("qa") > F.col("qb")) & (F.col("da") > F.col("db")))
    )
    disc = (
        ((F.col("qa") < F.col("qb")) & (F.col("da") > F.col("db")))
        | ((F.col("qa") > F.col("qb")) & (F.col("da") < F.col("db")))
    )
    pairs = (
        a.join(b, (F.col("qa") != F.col("qb")) | (F.col("da") != F.col("db")))
        .agg(
            F.sum(F.when(conc, mass).otherwise(F.lit(0).cast("decimal(19,0)"))).alias(
                "conc2"
            ),
            F.sum(F.when(disc, mass).otherwise(F.lit(0).cast("decimal(19,0)"))).alias(
                "disc2"
            ),
        )
    )
    ties = cells.agg(F.sum("cnt").alias("n"))
    tx = (
        cells.groupBy("q")
        .agg(F.sum("cnt").alias("cq"))
        .agg(F.sum(dec("cq") * dec("cq")).cast("double").alias("sq2"))
    )
    ty = (
        cells.groupBy("d")
        .agg(F.sum("cnt").alias("cd"))
        .agg(F.sum(dec("cd") * dec("cd")).cast("double").alias("sd2"))
    )
    nD = F.col("n").cast("double")
    return (
        pairs.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.expr("CAST(conc2 / 2 AS BIGINT)").alias("concordant"),
            F.expr("CAST(disc2 / 2 AS BIGINT)").alias("discordant"),
            (
                (F.col("conc2").cast("double") / 2 - F.col("disc2").cast("double") / 2)
                / (
                    F.sqrt((nD * F.col("n") - F.col("sq2")) / 2)
                    * F.sqrt((nD * F.col("n") - F.col("sd2")) / 2)
                )
            ).alias("tau_b"),
        )
    )


# --- Kruskal–Wallis H --------------------------------------------------

_KW_ORACLE = """
WITH s AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL
),
r AS (  -- midranks: ties share the average rank (exact .5 decimals)
  SELECT event_type, v,
         avg(CAST(rn AS DECIMAL(18,1))) OVER (PARTITION BY v) AS midrank
  FROM (SELECT event_type, v, row_number() OVER (ORDER BY v) AS rn FROM s)
),
grp AS (
  SELECT event_type, count(*) AS n_j, sum(midrank) AS r_j FROM r
  GROUP BY event_type
),
terms AS (
  SELECT CAST(round(CAST(r_j AS DOUBLE) * CAST(r_j AS DOUBLE) / n_j, 6)
              AS DECIMAL(38,6)) AS term,
         n_j
  FROM grp
),
ties AS (
  SELECT sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie_mass,
         CAST(sum(t) AS BIGINT) AS n
  FROM (SELECT count(*) AS t FROM s GROUP BY v)
),
agg AS (
  SELECT (SELECT count(*) FROM grp) AS k,
         (SELECT CAST(sum(term) AS DOUBLE) FROM terms) AS sum_terms,
         n, CAST(tie_mass AS DOUBLE) AS tie_mass
  FROM ties
)
SELECT CAST(k AS BIGINT) AS n_groups,
       n AS n_total,
       round(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sum_terms - 3.0 * (n + 1), 6)
         AS h_stat,
       round(1.0 - tie_mass / (CAST(n AS DOUBLE) * n * n - n), 9)
         AS tie_correction,
       round((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sum_terms - 3.0 * (n + 1))
             / (1.0 - tie_mass / (CAST(n AS DOUBLE) * n * n - n)), 6)
         AS h_adj
FROM agg
"""


@register("kruskal_wallis_event_values", oracle=_KW_ORACLE)
def kruskal_wallis_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across ALL event types (the k-sample extension
    of `mannwhitney_u_event_values`; the nonparametric one-way ANOVA
    beside `anova_oneway_event_values`): H = 12/(N(N+1)) Σ R_j²/n_j −
    3(N+1), with the standard tie correction C = 1 − Σ(t³−t)/(N³−N)
    and H_adj = H/C.

    Determinism AND scale: midranks come from the VALUE CENSUS, never
    per-row ranks — the tie block at value v has doubled midrank
    2·cum_before(v) + t(v) + 1 (`midrank2` of operators/ranks.py), a
    pure integer, so per-group rank sums
    accumulate exactly in DECIMAL(38,0) and halve once at the end (the
    rewritten `mannwhitney_u_event_values` discipline). Each group's
    R_j²/n_j rounds ONCE into DECIMAL(38,6) before the cross-group sum;
    tie mass is pure integer arithmetic in DECIMAL(38,0).

    Plan shape (VERDICT r06 item 4): one scan → value census → ONE
    cumulative window over distinct values (orders of magnitude smaller
    than the fact table) → value-level join to the (value, group)
    census → k-row group aggregate. No row-scale global sort: the
    former row_number-over-all-events formulation is gone."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(18,6)").alias("v"))
    )
    vt = s.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    mid2 = vt.select("v", "t", midrank2("v", "t").alias("mid2"))
    lvl = s.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c_jv"))
    grp = (
        lvl.join(mid2.select("v", "mid2"), "v")
        .groupBy("event_type")
        .agg(
            F.sum("c_jv").alias("n_j"),
            F.sum(F.col("c_jv").cast("decimal(20,0)") * F.col("mid2"))
            .cast("decimal(38,0)")
            .alias("r2_j"),
        )
    )
    terms = grp.select(
        F.round(
            (F.col("r2_j").cast("double") / 2)
            * (F.col("r2_j").cast("double") / 2)
            / F.col("n_j"),
            6,
        )
        .cast("decimal(38,6)")
        .alias("term")
    ).agg(F.sum("term").cast("double").alias("sum_terms"))
    k_cnt = grp.agg(F.count(F.lit(1)).alias("k"))
    t3 = F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
    ties = vt.agg(
        F.sum(t3).cast("double").alias("tie_mass"),
        F.sum("t").cast("bigint").alias("n"),
    )
    nD = F.col("n").cast("double")
    h = 12.0 / (nD * (F.col("n") + 1)) * F.col("sum_terms") - 3.0 * (F.col("n") + 1)
    c = 1.0 - F.try_divide(F.col("tie_mass"), nD * F.col("n") * F.col("n") - F.col("n"))
    return (
        ties.crossJoin(F.broadcast(k_cnt))
        .crossJoin(F.broadcast(terms))
        .select(
            F.col("k").cast("bigint").alias("n_groups"),
            F.col("n").alias("n_total"),
            F.round(h, 6).alias("h_stat"),
            F.round(c, 9).alias("tie_correction"),
            F.round(F.try_divide(h, c), 6).alias("h_adj"),
        )
    )


# --- Benjamini–Hochberg FDR over a family of proportion tests ----------

# Abramowitz & Stegun 26.2.17 normal-CDF tail (|err| < 7.5e-8), written
# ONCE as a SQL expression template shared verbatim by both engines so
# the p-value chain is bit-identical. {z} must be a non-negative value.
_PHI_K = "(1 / (1 + 0.2316419 * ({z})))"
_PHI_TAIL = (
    "(exp(-({z}) * ({z}) / 2) / sqrt(2 * pi()) * " + _PHI_K + " * "
    "(0.319381530 + " + _PHI_K + " * (-0.356563782 + " + _PHI_K + " * "
    "(1.781477937 + " + _PHI_K + " * (-1.821255978 + " + _PHI_K
    + " * 1.330274429)))))"
)

_BH_ORACLE = f"""
WITH seg AS (
  SELECT c_mktsegment AS segment,
         count(*) AS n,
         CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
  FROM customer GROUP BY 1
),
pooled AS (
  SELECT CAST(sum(n) AS DOUBLE) AS n_all, CAST(sum(neg) AS DOUBLE) AS neg_all
  FROM seg
),
z AS (
  SELECT segment, n, neg,
         (CAST(neg AS DOUBLE) / n - neg_all / n_all)
           / sqrt((neg_all / n_all) * (1 - neg_all / n_all) / n) AS z
  FROM seg, pooled
),
p AS (
  SELECT segment, n, neg, z,
         2 * {_PHI_TAIL.format(z="abs(z)")} AS p_value,
         (SELECT count(*) FROM seg) AS m
  FROM z
),
q AS (
  SELECT segment, n, neg, z, p_value,
         row_number() OVER (ORDER BY p_value, segment) AS rnk, m
  FROM p
),
adj AS (
  SELECT segment, n, neg, z, p_value,
         least(min(p_value * m / rnk)
                 OVER (ORDER BY rnk DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               1.0) AS q_value
  FROM q
)
SELECT segment, CAST(n AS BIGINT) AS n_customers, neg AS n_negative,
       round(z, 6) AS z_score,
       round(p_value, 9) AS p_value,
       round(q_value, 9) AS bh_q_value,
       CASE WHEN q_value < 0.1 THEN 1 ELSE 0 END AS reject_fdr10
FROM adj ORDER BY segment
"""


@register("bh_fdr_segment_tests", oracle=_BH_ORACLE)
def bh_fdr_segment_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR adjustment over a family of per-segment
    two-sided proportion tests (is this segment's negative-balance
    rate different from the pooled rate?) — the multiple-comparisons
    control every per-slice dashboard needs before flagging segments.
    p-values come from the A&S 26.2.17 normal-tail polynomial (shared
    verbatim between engines via one expression template, so the
    doubles are bit-identical); the BH step-up q_i = min_{j>=i}
    (p_j·m/j) is the reverse-running-min window, capped at 1.

    Plan shape: one grouped aggregate to k segment rows, a broadcast
    1-row global, and two windows over k rows. At 100 TB only the
    first aggregate touches data — the test family is metadata-sized,
    which is exactly when FDR control (not Bonferroni-on-3-slices)
    becomes the right tool."""
    seg = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("neg"),
        )
    )
    glob = seg.agg(
        F.sum("n").cast("double").alias("n_all"),
        F.sum("neg").cast("double").alias("neg_all"),
    )
    m_cnt = seg.agg(F.count(F.lit(1)).alias("m"))
    p0 = F.col("neg_all") / F.col("n_all")
    z = F.try_divide(
        F.col("neg").cast("double") / F.col("n") - p0,
        F.sqrt(p0 * (1 - p0) / F.col("n")),
    )
    zd = (
        seg.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(m_cnt))
        .select("segment", "n", "neg", "m", z.alias("z"))
    )
    p = zd.withColumn(
        "p_value", F.expr("2 * " + _PHI_TAIL.format(z="abs(z)"))
    )
    w_rank = Window.orderBy("p_value", "segment")
    w_rev = Window.orderBy(F.col("rnk").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    q = (
        p.withColumn("rnk", F.row_number().over(w_rank))
        .withColumn(
            "q_value",
            F.least(
                F.min(F.col("p_value") * F.col("m") / F.col("rnk")).over(w_rev),
                F.lit(1.0),
            ),
        )
    )
    return q.select(
        "segment",
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("neg").alias("n_negative"),
        F.round("z", 6).alias("z_score"),
        F.round("p_value", 9).alias("p_value"),
        F.round("q_value", 9).alias("bh_q_value"),
        F.when(F.col("q_value") < 0.1, 1).otherwise(0).alias("reject_fdr10"),
    ).orderBy("segment")


# --- Poisson GLM via unrolled IRLS --------------------------------------

_IRLS_ROUNDS = 4


def _poisson_oracle() -> str:
    head = """
WITH base AS MATERIALIZED (
  SELECT c.c_custkey,
         CAST(coalesce(o.y, 0) AS DOUBLE) AS y,
         CAST(c.c_acctbal AS DOUBLE) / 10000 AS x
  FROM customer c
  LEFT JOIN (SELECT o_custkey, count(*) AS y FROM orders GROUP BY 1) o
    ON o.o_custkey = c.c_custkey
),
b0r AS MATERIALIZED (
  SELECT ln(CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE)
            / count(*)) AS b0,
         CAST(0.0 AS DOUBLE) AS b1
  FROM base
)"""
    rounds, prev = irls_sql(
        _IRLS_ROUNDS,
        w="exp(p.b0 + p.b1 * x)",
        z="""(p.b0 + p.b1 * x) + (y - exp(p.b0 + p.b1 * x))
             / exp(p.b0 + p.b1 * x)""",
    )
    return (
        head
        + rounds
        + f"""
SELECT (SELECT count(*) FROM base) AS n_customers,
       round(p.b0, 6) AS intercept,
       round(p.b1, 6) AS slope_per_10k,
       round(exp(p.b1), 6) AS rate_ratio_per_10k,
       round((SELECT 2 * CAST(sum(CAST(round(
                CASE WHEN y > 0 THEN y * ln(y / exp(p.b0 + p.b1 * x)) ELSE 0 END
                - (y - exp(p.b0 + p.b1 * x)), 9) AS DECIMAL(38,9))) AS DOUBLE)
              FROM base), 4) AS deviance
FROM {prev} p"""
    )


@register("poisson_glm_irls", oracle=_poisson_oracle())
def poisson_glm_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson regression of per-customer order counts on account
    balance (log link), fit by 4 unrolled IRLS rounds (w = mu,
    z = eta + (y-mu)/mu; the device is operators/irls.py) — the GLM
    the OLS family (`ols_price_regression`) can't express for count
    outcomes. Zero-order customers enter via the LEFT JOIN with y=0,
    exactly as the likelihood requires. Reports the fitted
    coefficients, the rate ratio per 10k balance, and the model
    deviance.

    Determinism: b0 seeds at ln(mean y) from an exact decimal sum;
    each round's per-row exp/z chains run on identical doubles because
    the previous round's coefficients come from exactly-associative
    decimal sums — the engines stay in lockstep round by round.

    Plan shape: orders collapse to per-customer counts once
    (localCheckpointed base, consumed by 4+2 subtrees), then 4 scans
    of the customer-sized relation each ending in a 5-cell aggregate
    whose coefficients come back as scalars. At 100 TB: IRLS cost is
    4 x (scan + tiny shuffle) — the aggregate-only GLM."""
    y_counts = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey"))
        .agg(F.count(F.lit(1)).alias("y0"))
    )
    base = (
        table(spark, sf_dir, "customer")
        .join(y_counts, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            F.coalesce(F.col("y0"), F.lit(0)).cast("double").alias("y"),
            (F.col("c_acctbal").cast("double") / 10000).alias("x"),
        )
        .localCheckpoint()
    )
    mean_y = F.sum(dec9(F.col("y"))).cast("double") / F.count(F.lit(1))
    # log seed guarded: an all-zero outcome column would hit ANSI
    # log(0); when() returns NULL and the degenerate branch below
    # takes over
    seed = base.agg(
        F.when(mean_y > 0, F.log(mean_y)).alias("b0"),
        F.count(F.lit(1)).alias("n_customers"),
    ).first()
    if seed["b0"] is None:
        return null_fit(
            base,
            "n_customers",
            ("intercept", "slope_per_10k", "rate_ratio_per_10k", "deviance"),
        )

    def step(b0: Column, b1: Column) -> tuple[Column, Column]:
        eta = b0 + b1 * F.col("x")
        mu = F.exp(eta)
        return mu, eta + (F.col("y") - mu) / mu

    b0, b1 = irls_fit(base, float(seed["b0"]), _IRLS_ROUNDS, step)
    eta_f = F.lit(b0) + F.lit(b1) * F.col("x")
    mu_f = F.exp(eta_f)
    dev_term = (
        F.when(F.col("y") > 0, F.col("y") * F.log(F.col("y") / mu_f)).otherwise(0.0)
        - (F.col("y") - mu_f)
    )
    return base.agg((2 * F.sum(dec9(dev_term)).cast("double")).alias("dev")).select(
        F.lit(int(seed["n_customers"])).cast("bigint").alias("n_customers"),
        F.round(F.lit(b0), 6).alias("intercept"),
        F.round(F.lit(b1), 6).alias("slope_per_10k"),
        F.round(F.exp(F.lit(b1)), 6).alias("rate_ratio_per_10k"),
        F.round("dev", 4).alias("deviance"),
    )


# --- logistic GLM via unrolled IRLS --------------------------------------

#: The logit-link round as `irls_sql` terms: eta and mu from the
#: previous coefficients, w = mu(1-mu), z = eta + (outcome - mu)/w.
_LOGIT_TERMS = """p.b0 + p.b1 * x AS eta,
                 1 / (1 + exp(-(p.b0 + p.b1 * x))) AS mu"""


def _logit_step(outcome: str) -> Step:
    """The engine twin of `_LOGIT_TERMS` for `irls_fit`."""

    def step(b0: Column, b1: Column) -> tuple[Column, Column]:
        eta = b0 + b1 * F.col("x")
        mu = 1 / (1 + F.exp(-eta))
        w = mu * (1 - mu)
        return w, eta + (F.col(outcome) - mu) / w

    return step


def _logit_seed(outcome: str) -> Column:
    """b0 at the exact-decimal log-odds of the outcome's base rate,
    guarded: a degenerate rate (p in {0, 1} — every row one class)
    would hit ANSI /0 or log(0), so it yields NULL instead."""
    p_base = F.sum(dec9(F.col(outcome))).cast("double") / F.count(F.lit(1))
    return F.when((p_base > 0) & (p_base < 1), F.log(p_base / (1 - p_base)))


def _logistic_oracle() -> str:
    head = """
WITH base AS MATERIALIZED (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
         CAST(o_totalprice AS DOUBLE) / 100000 AS x
  FROM orders
),
b0r AS MATERIALIZED (
  SELECT ln((CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE)
             / count(*))
            / (1 - CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE)
                   / count(*))) AS b0,
         CAST(0.0 AS DOUBLE) AS b1
  FROM base
)"""
    rounds, prev = irls_sql(
        _IRLS_ROUNDS,
        w="mu * (1 - mu)",
        z="eta + (y - mu) / (mu * (1 - mu))",
        terms=_LOGIT_TERMS,
    )
    return (
        head
        + rounds
        + f"""
SELECT (SELECT count(*) FROM base) AS n_orders,
       round(p.b0, 6) AS intercept,
       round(p.b1, 6) AS slope_per_100k,
       round(exp(p.b1), 6) AS odds_ratio_per_100k,
       round((SELECT -CAST(sum(CAST(round(
                y * ln(1 / (1 + exp(-(p.b0 + p.b1 * x))))
                + (1 - y) * ln(1 - 1 / (1 + exp(-(p.b0 + p.b1 * x)))), 9)
              AS DECIMAL(38,9))) AS DOUBLE) / count(*) FROM base), 6)
         AS mean_log_loss
FROM {prev} p"""
    )


@register("logistic_glm_irls", oracle=_logistic_oracle())
def logistic_glm_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of order completion (status = 'F') on total
    price, fit by 4 unrolled IRLS rounds (w = mu(1-mu); the device is
    operators/irls.py) — the logit-link sibling of `poisson_glm_irls`
    completing the GLM pair (OLS / Poisson / logistic) as
    aggregate-only passes. Reports coefficients, the odds ratio per
    100k price, and mean log-loss.

    Determinism: b0 seeds at the exact-decimal log-odds of the base
    rate; per-round weighted sums round once into DECIMAL(38,9);
    sigmoid chains run on identical doubles both engines.

    Plan shape: one scan to the (y, x) projection (localCheckpointed),
    then 4 scans each ending in a 5-cell aggregate — IRLS as
    map-reduce, nothing row-scale retained between rounds. The scan
    rides `spread=True`: DECIMAL(38,9) partials are CPU-bound and the
    checkpoint inherits the scan's partitioning, so a row-group-starved
    scan would serialize every pass (no-op on properly sized files)."""
    base = (
        table(spark, sf_dir, "orders", spread=True)
        .select(
            F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
            (F.col("o_totalprice").cast("double") / 100000).alias("x"),
        )
        .localCheckpoint()
    )
    seed = base.agg(
        _logit_seed("y").alias("b0"), F.count(F.lit(1)).alias("n_orders")
    ).first()
    if seed["b0"] is None:
        return null_fit(
            base,
            "n_orders",
            ("intercept", "slope_per_100k", "odds_ratio_per_100k", "mean_log_loss"),
        )
    b0, b1 = irls_fit(base, float(seed["b0"]), _IRLS_ROUNDS, _logit_step("y"))
    eta_f = F.lit(b0) + F.lit(b1) * F.col("x")
    mu_f = 1 / (1 + F.exp(-eta_f))
    ll_term = F.col("y") * F.log(mu_f) + (1 - F.col("y")) * F.log(1 - mu_f)
    return base.agg(
        (-F.sum(dec9(ll_term)).cast("double") / F.count(F.lit(1))).alias("mll")
    ).select(
        F.lit(int(seed["n_orders"])).cast("bigint").alias("n_orders"),
        F.round(F.lit(b0), 6).alias("intercept"),
        F.round(F.lit(b1), 6).alias("slope_per_100k"),
        F.round(F.exp(F.lit(b1)), 6).alias("odds_ratio_per_100k"),
        F.round("mll", 6).alias("mean_log_loss"),
    )


# --- empirical-Bayes shrinkage of segment means ----------------------------

_EB_ORACLE = f"""
WITH seg AS (
  SELECT c_mktsegment AS segment,
         count(*) AS n,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         {vh("sum(CAST(c_acctbal AS DECIMAL(19,2)) * CAST(c_acctbal AS DECIMAL(19,2)))")} AS s2
  FROM customer GROUP BY 1
),
stats AS (
  -- n>1 guard (ADVICE r06): a 1-customer segment has no within-segment
  -- variance estimate; NULL s2w keeps it out of tau2 instead of a
  -- divide-by-zero NaN contaminating every segment's eb_mean
  SELECT segment, n, s1 / n AS xbar,
         CASE WHEN n > 1 THEN (s2 - s1 * s1 / n) / (n - 1) END AS s2w
  FROM seg
),
grand AS (
  SELECT CAST(sum(CAST(round(xbar, 9) AS DECIMAL(38,9))) AS DOUBLE)
           / count(*) AS gmean,
         CAST(sum(CAST(round(xbar * xbar, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS sxb2,
         count(*) AS k,
         CAST(sum(CAST(round(s2w / n, 9) AS DECIMAL(38,9))) AS DOUBLE)
           / count(s2w) AS mean_se2
  FROM stats
),
tau AS (
  SELECT gmean, k, mean_se2,
         greatest((sxb2 - k * gmean * gmean) / (k - 1) - mean_se2, 0.0)
           AS tau2
  FROM grand
)
SELECT s.segment,
       CAST(s.n AS BIGINT) AS n_customers,
       round(s.xbar, 4) AS raw_mean,
       round(CASE WHEN t.tau2 + s.s2w / s.n = 0 THEN 1.0
                  ELSE (s.s2w / s.n) / (t.tau2 + s.s2w / s.n) END, 6)
         AS shrink_factor,
       round(CASE WHEN t.tau2 + s.s2w / s.n = 0 THEN t.gmean
                  ELSE (s.s2w / s.n) / (t.tau2 + s.s2w / s.n) * t.gmean
                       + (1 - (s.s2w / s.n) / (t.tau2 + s.s2w / s.n)) * s.xbar
             END, 4) AS eb_mean,
       round(t.gmean, 4) AS grand_mean
FROM stats s CROSS JOIN tau t
ORDER BY s.segment
"""


@register("eb_shrinkage_segments", oracle=_EB_ORACLE)
def eb_shrinkage_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (James-Stein-style) shrinkage of per-segment
    mean balances toward the grand mean: B_j = (s²_j/n_j) /
    (tau² + s²_j/n_j) with tau² from the method of moments
    (between-segment variance minus average squared standard error,
    floored at 0) — the partial-pooling estimator every per-slice
    dashboard should use before ranking small slices.

    Determinism: per-segment moments are exact decimal sums (int128
    products, VARCHAR-hop casts — the `skew_kurtosis_exact`
    discipline); cross-segment reductions round once into DECIMAL;
    the shrinkage algebra is a fixed chain per row.

    Plan shape: one grouped aggregate to k segment rows, two 1-row
    reductions, a broadcast cross join. Only the first aggregate sees
    data."""
    c19 = F.col("c_acctbal").cast("decimal(19,2)")
    seg = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("s1"),
            F.sum(c19 * c19).cast("string").cast("double").alias("s2"),
        )
    )
    # n>1 guard (ADVICE r06): a 1-customer segment cannot estimate its
    # within-segment variance — NULL s2w (and hence NULL shrink factor
    # for that segment) instead of a (n-1) divide-by-zero NaN silently
    # contaminating tau2 and every segment's eb_mean.
    stats = seg.select(
        "segment",
        "n",
        (F.col("s1") / F.col("n")).alias("xbar"),
        F.when(
            F.col("n") > 1,
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1),
        ).alias("s2w"),
    )
    grand = stats.agg(
        (
            F.sum(F.round(F.col("xbar"), 9).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("gmean"),
        F.sum(F.round(F.col("xbar") * F.col("xbar"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxb2"),
        F.count(F.lit(1)).alias("k"),
        (
            F.sum(F.round(F.col("s2w") / F.col("n"), 9).cast("decimal(38,9)")).cast(
                "double"
            )
            / F.count(F.col("s2w"))
        ).alias("mean_se2"),
    )
    tau = grand.select(
        "gmean",
        "k",
        "mean_se2",
        F.greatest(
            F.try_divide(
                F.col("sxb2") - F.col("k") * F.col("gmean") * F.col("gmean"),
                F.col("k") - 1,
            )
            - F.col("mean_se2"),
            F.lit(0.0),
        ).alias("tau2"),
    )
    se2 = F.col("s2w") / F.col("n")
    b = se2 / (F.col("tau2") + se2)
    return (
        stats.crossJoin(F.broadcast(tau))
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n_customers"),
            F.round("xbar", 4).alias("raw_mean"),
            F.round(
                F.when(F.col("tau2") + se2 == 0, F.lit(1.0)).otherwise(b), 6
            ).alias("shrink_factor"),
            F.round(
                F.when(F.col("tau2") + se2 == 0, F.col("gmean")).otherwise(
                    b * F.col("gmean") + (1 - b) * F.col("xbar")
                ),
                4,
            ).alias("eb_mean"),
            F.round("gmean", 4).alias("grand_mean"),
        )
        .orderBy("segment")
    )


# --- propensity-stratified ATE composite -----------------------------------


def _propensity_oracle() -> str:
    head = """
WITH base AS MATERIALIZED (
  SELECT c.c_custkey,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END AS t,
         CAST(c.c_acctbal AS DOUBLE) / 10000 AS x,
         CAST(coalesce(o.spend, 0) AS DOUBLE) AS y
  FROM customer c
  LEFT JOIN (SELECT o_custkey,
                    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(28,2)) AS spend
             FROM orders GROUP BY 1) o
    ON o.o_custkey = c.c_custkey
),
b0r AS MATERIALIZED (
  SELECT ln((CAST(sum(CAST(round(t, 9) AS DECIMAL(38,9))) AS DOUBLE)
             / count(*))
            / (1 - CAST(sum(CAST(round(t, 9) AS DECIMAL(38,9))) AS DOUBLE)
                   / count(*))) AS b0,
         CAST(0.0 AS DOUBLE) AS b1
  FROM base
)"""
    rounds, prev = irls_sql(
        _IRLS_ROUNDS,
        w="mu * (1 - mu)",
        z="eta + (t - mu) / (mu * (1 - mu))",
        terms=_LOGIT_TERMS,
    )
    return (
        head
        + rounds
        + f"""
, scored AS MATERIALIZED (
  SELECT c_custkey, t, y,
         1 / (1 + exp(-(p.b0 + p.b1 * x))) AS e
  FROM base, {prev} p
),
strata AS (
  SELECT ntile(5) OVER (ORDER BY e, c_custkey) AS q, t, y
  FROM scored
),
cells AS (
  SELECT q,
         count(*) AS n,
         CAST(sum(CAST(round(t, 0) AS DECIMAL(19,0))) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN t = 1 THEN CAST(round(y, 2) AS DECIMAL(28,2))
                       ELSE CAST(0 AS DECIMAL(28,2)) END) AS DOUBLE) AS sy_t,
         CAST(sum(CASE WHEN t = 0 THEN CAST(round(y, 2) AS DECIMAL(28,2))
                       ELSE CAST(0 AS DECIMAL(28,2)) END) AS DOUBLE) AS sy_c
  FROM strata GROUP BY q
),
diffs AS (
  SELECT q, n, n_t, n - n_t AS n_c,
         sy_t / n_t AS ybar_t, sy_c / (n - n_t) AS ybar_c,
         CASE WHEN n_t > 0 AND n - n_t > 0
              THEN sy_t / n_t - sy_c / (n - n_t) END AS diff
  FROM cells
),
pooled AS (
  SELECT CAST(sum(CASE WHEN diff IS NOT NULL
               THEN CAST(round(n * diff, 6) AS DECIMAL(38,6))
               ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
           / sum(CASE WHEN diff IS NOT NULL THEN n ELSE 0 END) AS ate
  FROM diffs
)
SELECT d.q AS propensity_quintile,
       CAST(d.n AS BIGINT) AS n_customers,
       d.n_t AS n_treated, CAST(d.n_c AS BIGINT) AS n_control,
       round(d.ybar_t, 2) AS mean_spend_treated,
       round(d.ybar_c, 2) AS mean_spend_control,
       round(d.diff, 2) AS stratum_diff,
       round(p.ate, 2) AS stratified_ate
FROM diffs d CROSS JOIN pooled p
ORDER BY propensity_quintile"""
    )


@register("propensity_stratified_ate", oracle=_propensity_oracle())
def propensity_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score stratification composite (Rosenbaum & Rubin
    '83): fit a logistic propensity of treatment (BUILDING segment) on
    account balance by 4 unrolled logit-link IRLS rounds (the
    operators/irls.py device, shared with `logistic_glm_irls`), cut
    the population into propensity quintiles, and report per-stratum
    treated/control spend means plus the weighted stratified ATE —
    the standard observational-causal pipeline as ONE lazy plan.
    (With a single covariate the quintiles
    coincide with balance quintiles — the point here is the composed
    machinery: GLM fit -> score -> stratify -> weighted contrast.)

    Determinism: propensity scores are sigmoid chains on coefficients
    from exactly-associative decimal sums; the quintile assignment is
    ANSI ntile(5) over the total (e, custkey) order, computed by the
    distributed exact-rank device (operators/ranks.py) — bit-identical
    to the oracle's ntile, never a single-partition window; spend sums
    are cents-exact DECIMAL; the ATE pools n*diff terms rounded once
    into DECIMAL(38,6), skipping (and renormalizing over) strata
    missing a group.

    Plan shape: orders collapse to per-customer spend once; the IRLS
    rounds are aggregate-only; scoring is one map-side expression (the
    scored relation is localCheckpointed so the rank device's bounds
    pass reads it, not the IRLS chain); quintiles via K-way bucketed
    rank; a 5-cell aggregate. No row-scale single-task sort remains."""
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("spend")
        )
    )
    base = (
        table(spark, sf_dir, "customer")
        .join(spend, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            "c_custkey",
            F.when(F.col("c_mktsegment") == "BUILDING", 1.0)
            .otherwise(0.0)
            .alias("t"),
            (F.col("c_acctbal").cast("double") / 10000).alias("x"),
            F.coalesce(F.col("spend"), F.lit(0)).cast("double").alias("y"),
        )
        .localCheckpoint()
    )
    seed = base.agg(_logit_seed("t").alias("b0")).first()
    # no seed means empty input: every downstream relation is then empty
    # whatever the coefficients, so any finite pair serves
    b0, b1 = 0.0, 0.0
    if seed["b0"] is not None:
        b0, b1 = irls_fit(base, float(seed["b0"]), _IRLS_ROUNDS, _logit_step("t"))
    scored = (
        base.select(
            "c_custkey",
            "t",
            "y",
            (1 / (1 + F.exp(-(F.lit(b0) + F.lit(b1) * F.col("x"))))).alias(
                "e"
            ),
        )
        .localCheckpoint()  # customer-scale; read 3× by the rank device
    )
    from ocean_data_pipeline_spark.operators.ranks import (
        ntile_from_rank,
        with_global_row_number,
    )

    n_all = scored.agg(F.count(F.lit(1)).alias("_n_all"))
    ranked = with_global_row_number(
        scored, ["e", "c_custkey"], "e", out="_rank"
    ).crossJoin(F.broadcast(n_all))
    strata = ranked.select(
        ntile_from_rank(F.col("_rank"), F.col("_n_all"), 5).alias("q"), "t", "y"
    )
    dec2 = lambda c: F.round(c, 2).cast("decimal(28,2)")  # noqa: E731
    cells = strata.groupBy("q").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("t"), 0).cast("decimal(19,0)"))
        .cast("bigint")
        .alias("n_t"),
        F.sum(
            F.when(F.col("t") == 1, dec2(F.col("y"))).otherwise(
                F.lit(0).cast("decimal(28,2)")
            )
        )
        .cast("double")
        .alias("sy_t"),
        F.sum(
            F.when(F.col("t") == 0, dec2(F.col("y"))).otherwise(
                F.lit(0).cast("decimal(28,2)")
            )
        )
        .cast("double")
        .alias("sy_c"),
    )
    n_c = F.col("n") - F.col("n_t")
    ybar_t = F.col("sy_t") / F.col("n_t")
    ybar_c = F.col("sy_c") / n_c
    diffs = cells.select(
        "q",
        "n",
        "n_t",
        n_c.alias("n_c"),
        ybar_t.alias("ybar_t"),
        ybar_c.alias("ybar_c"),
        F.when((F.col("n_t") > 0) & (n_c > 0), ybar_t - ybar_c).alias("diff"),
    )
    pooled = diffs.agg(
        (
            F.sum(
                F.when(
                    F.col("diff").isNotNull(),
                    F.round(F.col("n") * F.col("diff"), 6).cast("decimal(38,6)"),
                ).otherwise(F.lit(0).cast("decimal(38,6)"))
            ).cast("double")
            / F.sum(F.when(F.col("diff").isNotNull(), F.col("n")).otherwise(0))
        ).alias("ate")
    )
    return (
        diffs.crossJoin(F.broadcast(pooled))
        .select(
            F.col("q").alias("propensity_quintile"),
            F.col("n").cast("bigint").alias("n_customers"),
            F.col("n_t").alias("n_treated"),
            F.col("n_c").cast("bigint").alias("n_control"),
            F.round("ybar_t", 2).alias("mean_spend_treated"),
            F.round("ybar_c", 2).alias("mean_spend_control"),
            F.round("diff", 2).alias("stratum_diff"),
            F.round("ate", 2).alias("stratified_ate"),
        )
        .orderBy("propensity_quintile")
    )


# --- delete-one-group jackknife for a ratio estimator -----------------------

_JACKKNIFE_ORACLE = """
WITH g AS (
  SELECT n.n_name AS grp,
         count(*) AS n_g,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS s_g
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_all,
         CAST(sum(s_g) AS DECIMAL(38,2)) AS s_all,
         count(*) AS k
  FROM g
),
loo AS (  -- leave-one-group-out ratios from totals minus the group
  SELECT g.grp,
         CAST(t.s_all - g.s_g AS DOUBLE) / (t.n_all - g.n_g) AS theta_g
  FROM g CROSS JOIN tot t
),
jk AS (
  SELECT CAST(sum(CAST(round(theta_g, 9) AS DECIMAL(38,9))) AS DOUBLE)
           / count(*) AS theta_bar,
         count(*) AS k
  FROM loo
),
var_ AS (
  SELECT CAST(sum(CAST(round((l.theta_g - j.theta_bar)
                             * (l.theta_g - j.theta_bar), 9)
                       AS DECIMAL(38,9))) AS DOUBLE)
           * (j.k - 1.0) / j.k AS jk_var,
         max(j.theta_bar) AS theta_bar,
         max(j.k) AS k
  FROM loo l CROSS JOIN jk j
  GROUP BY j.k
)
SELECT CAST(t.k AS BIGINT) AS n_groups,
       t.n_all AS n_orders,
       round(CAST(t.s_all AS DOUBLE) / t.n_all, 6) AS ratio_estimate,
       round(sqrt(v.jk_var), 6) AS jackknife_se,
       round(CAST(t.s_all AS DOUBLE) / t.n_all - 1.96 * sqrt(v.jk_var), 4)
         AS ci_lo,
       round(CAST(t.s_all AS DOUBLE) / t.n_all + 1.96 * sqrt(v.jk_var), 4)
         AS ci_hi
FROM tot t CROSS JOIN var_ v
"""


@register("jackknife_ratio_variance", oracle=_JACKKNIFE_ORACLE)
def jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife (Quenouille/Tukey; the survey-
    statistics standard for clustered data) for the mean-order-value
    ratio estimator, with customer NATION as the resampling group:
    each leave-one-out ratio comes from group totals subtracted from
    the grand totals — no data is ever re-scanned per replicate — and
    SE² = (G-1)/G · Σ(θ₍₋g₎ − θ̄)². The variance machinery every ratio
    metric needs when observations cluster (bootstrap's deterministic
    cousin; cf `poisson_bootstrap_ci`).

    Determinism: group sums are cents-exact DECIMAL; leave-one-out
    ratios and squared deviations round ONCE into DECIMAL(38,9) before
    cross-group sums; the CI chain is fixed IEEE.

    Plan shape: one star-join aggregate to 25 nation rows, then pure
    1-row/25-row algebra. At 100 TB: the jackknife costs ONE grouped
    aggregate regardless of replicate count — the whole point of the
    totals-subtraction formulation."""
    g = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(F.col("n_name").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("s_g"),
        )
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n_all"),
        F.sum("s_g").cast("decimal(38,2)").alias("s_all"),
        F.count(F.lit(1)).alias("k"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        "grp",
        (
            (F.col("s_all") - F.col("s_g")).cast("double")
            / (F.col("n_all") - F.col("n_g"))
        ).alias("theta_g"),
    )
    jk = loo.agg(
        (F.sum(dec9(F.col("theta_g"))).cast("double") / F.count(F.lit(1))).alias(
            "theta_bar"
        ),
        F.count(F.lit(1)).alias("k"),
    )
    dev = F.col("theta_g") - F.col("theta_bar")
    var_ = (
        loo.crossJoin(F.broadcast(jk))
        .agg(
            (
                F.sum(dec9(dev * dev)).cast("double")
                * (F.max("k") - 1.0)
                / F.max("k")
            ).alias("jk_var")
        )
    )
    ratio = F.col("s_all").cast("double") / F.col("n_all")
    se = F.sqrt(F.col("jk_var"))
    return (
        tot.crossJoin(F.broadcast(var_))
        .select(
            F.col("k").cast("bigint").alias("n_groups"),
            F.col("n_all").alias("n_orders"),
            F.round(ratio, 6).alias("ratio_estimate"),
            F.round(se, 6).alias("jackknife_se"),
            F.round(ratio - 1.96 * se, 4).alias("ci_lo"),
            F.round(ratio + 1.96 * se, 4).alias("ci_hi"),
        )
    )
