"""Aggregation surface (SURVEY.md §2-D): grouped + global aggregates,
descriptive stats, null accounting, conditional aggregates, and the
reference's quality-metrics formula.

Float-determinism discipline: money sums are computed over DECIMAL
(exact, associative — safe under any partial-aggregation order), then
cast to double at the end, so Spark's map-side-combine shuffle order
cannot perturb the result vs the single-threaded DuckDB oracle. Means
are sum/count (one deterministic double division), stddev is computed
from exact decimal sums via the textbook formula — both sides evaluate
the identical double expression. This matters at 100 TB too: results
become independent of partitioning/AQE decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.queries import register

# --- q1_pricing: TPC-H-Q1-shaped pricing summary (agg-groupby + agg-sum/
# mean/count; reference's global describe() generalized to grouped form,
# dashboard/app.py:659-663). -------------------------------------------

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)            AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)       AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)    AS sum_disc_price,
  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,6))
           * (1 + CAST(l_tax AS DECIMAL(18,4)))), 3) AS DOUBLE)     AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
    / count(*)                                                      AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
    / count(*)                                                      AS avg_price,
  count(*)                                                          AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing", oracle=_Q1_ORACLE)
def q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: filter → hash-agg (map-side partial) → tiny sort.

    Scale: predicate + column pruning push to the parquet scan; the
    grouped state is 6 cells, so the shuffle carries only partial
    aggregates. Decimal sums keep the result partition-order-invariant.
    """
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    tax = F.col("l_tax").cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            # Re-bound the exact scale-6 product to decimal(18,6) before the
            # third factor so the final product stays within precision 38
            # (Spark would otherwise reduce scale lossily). Round the scale-10
            # sum to scale 3 BEFORE the double cast: a decimal whose scaled
            # integer exceeds 2^53 double-rounds in DuckDB's decimal→double.
            F.round(
                F.sum((price * (F.lit(1) - disc)).cast("decimal(18,6)") * (F.lit(1) + tax)),
                3,
            )
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- describe_lineitem: agg-describe (reference dashboard/app.py:659-663
# `df.describe()` → count/mean/std/min/max, rounded 3). Exact-percentile
# quartiles included via a dedicated query below. ----------------------

_DESCRIBE_ORACLE = """
WITH s AS (
  SELECT
    count(l_quantity)                                              AS cnt,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)         AS sm,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)       AS smsq,
    min(l_quantity)                                                AS mn,
    max(l_quantity)                                                AS mx
  FROM lineitem
)
SELECT
  'l_quantity'                                     AS column_name,
  cnt                                              AS count,
  round(sm / cnt, 3)                               AS mean,
  round(sqrt((smsq - sm * sm / cnt) / (cnt - 1)), 3) AS stddev,
  mn                                               AS min,
  mx                                               AS max
FROM s
"""


@register("describe_lineitem", oracle=_DESCRIBE_ORACLE)
def describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()-parity stats from exact decimal sums (one scan, no shuffle
    beyond a single-row partial-agg combine)."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    agg = li.agg(
        F.count("l_quantity").alias("cnt"),
        F.sum(q).cast("double").alias("sm"),
        F.sum(q * q).cast("double").alias("smsq"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
    )
    return agg.select(
        F.lit("l_quantity").alias("column_name"),
        F.col("cnt").alias("count"),
        F.round(F.col("sm") / F.col("cnt"), 3).alias("mean"),
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("smsq") - F.col("sm") * F.col("sm") / F.col("cnt"), F.col("cnt") - 1
                )
            ),
            3,
        ).alias("stddev"),
        F.col("mn").alias("min"),
        F.col("mx").alias("max"),
    )


# --- quartiles_exact: exact percentiles (reference describe() 25/50/75%;
# Spark `percentile` = exact interpolated, matches DuckDB quantile_cont).

_QUARTILES_ORACLE = """
SELECT
  quantile_cont(l_extendedprice, 0.25) AS p25,
  quantile_cont(l_extendedprice, 0.50) AS p50,
  quantile_cont(l_extendedprice, 0.75) AS p75
FROM lineitem
"""


@register("quartiles_exact", oracle=_QUARTILES_ORACLE)
def quartiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles. Note: `percentile` (exact) is a
    sort-based aggregate — fine at dashboard scale; at 100 TB swap to
    `percentile_approx` (declared separately so the oracle stays exact)."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25"),
        F.percentile("l_extendedprice", F.lit(0.50)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("p75"),
    )


# --- null_counts_events: agg-null-counts (reference run_pipeline.py:93
# `df.isnull().sum()`) + non-null completeness numerator
# (pipeline/extract.py:246-248). --------------------------------------

_NULLS_ORACLE = """
SELECT
  count(*)                                         AS n_rows,
  count(*) - count(value)                          AS value_nulls,
  count(*) - count(props)                          AS props_nulls,
  count(*) - count(user_id)                        AS user_id_nulls,
  count(value) + count(props) + count(user_id)     AS non_null_cells
FROM events
"""


@register("null_counts_events", oracle=_NULLS_ORACLE)
def null_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null accounting in ONE pass (no per-column jobs)."""
    ev = table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    return ev.agg(
        n.alias("n_rows"),
        (n - F.count("value")).alias("value_nulls"),
        (n - F.count("props")).alias("props_nulls"),
        (n - F.count("user_id")).alias("user_id_nulls"),
        (F.count("value") + F.count("props") + F.count("user_id")).alias("non_null_cells"),
    )


# --- events_type_profile: q1-shape aggregation over the largest table
# (events): multi-aggregate per group with a pushed time predicate —
# the same scan→partial-agg→final-agg contract as q1_pricing, proven
# on event-log data rather than lineitem. ------------------------------

_EVENTS_PROFILE_ORACLE = """
SELECT event_type,
       count(*)                                              AS n_events,
       count(DISTINCT user_id)                               AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)     AS sum_value,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
         / count(value)                                      AS avg_value,
       min(ts)                                               AS first_ts,
       max(ts)                                               AS last_ts
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
GROUP BY event_type
ORDER BY event_type
"""


@register("events_type_profile", oracle=_EVENTS_PROFILE_ORACLE)
def events_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event profile with a pushed event-time predicate: one
    scan, map-side partial aggregation, shuffle only on the 5-value
    event_type key. countDistinct(user_id) expands to a two-phase
    distinct-aggregate (partial dedup before the shuffle) — at 100 TB
    swap to approx_count_distinct (see approx_distinct_counts) unless
    exactness is contractual. Decimal-stabilized sum/avg so the result
    is order-independent and hash-matches the oracle."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp")
    )
    dec = F.col("value").cast("decimal(18,6)")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(dec).cast("double").alias("sum_value"),
            (F.sum(dec).cast("double") / F.count("value")).alias("avg_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


# --- conditional_agg_events: agg-conditional (reference cache stats:
# active vs expired split, cache_manager.py:203-227). ------------------

_COND_ORACLE = """
SELECT
  count(*)                                                        AS total_events,
  count(CASE WHEN event_type = 'error' THEN 1 END)                AS error_events,
  count(*) - count(CASE WHEN event_type = 'error' THEN 1 END)     AS ok_events,
  CAST(sum(CASE WHEN event_type = 'purchase'
           THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)      AS purchase_value
FROM events
"""


@register("conditional_agg_events", oracle=_COND_ORACLE)
def conditional_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates via count(when(...)) — one scan, no re-reads."""
    ev = table(spark, sf_dir, "events")
    is_err = F.when(F.col("event_type") == "error", F.lit(1))
    return ev.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.count(is_err).alias("error_events"),
        (F.count(F.lit(1)) - F.count(is_err)).alias("ok_events"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            )
        )
        .cast("double")
        .alias("purchase_value"),
    )


# --- value_ranges_quality: agg-value-ranges + agg-derived-quality (the
# reference's per-variable {min,max,mean,count} summary and quality-score
# formula: completeness = non-null/total; score = least(1, completeness
# × (1 − 0.1·issues)); pipeline/extract.py:246-295). Range bounds play
# the role of temp −5..35 / sal 0..45 (config.py:66-71). ---------------

_QUALITY_ORACLE = """
WITH s AS (
  SELECT
    count(*)  AS n_rows,
    count(value) AS n_value,
    min(value) AS min_value,
    max(value) AS max_value,
    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
    count(CASE WHEN value < 0 OR value > 1000 THEN 1 END) AS oob_value
  FROM events
)
SELECT
  n_rows, n_value, min_value, max_value,
  round(sum_value / n_value, 3)                        AS mean_value,
  oob_value,
  round(CAST(n_value AS DOUBLE) / n_rows, 3)           AS completeness,
  round(least(1.0, (CAST(n_value AS DOUBLE) / n_rows)
        * (1 - 0.1 * (CASE WHEN oob_value > 0 THEN 1 ELSE 0 END))), 3) AS quality_score
FROM s
"""


@register("value_ranges_quality", oracle=_QUALITY_ORACLE)
def value_ranges_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's data-quality report as a single-row aggregate."""
    ev = table(spark, sf_dir, "events")
    oob = F.when((F.col("value") < 0) | (F.col("value") > 1000), F.lit(1))
    s = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.count(oob).alias("oob_value"),
    )
    completeness = F.try_divide(F.col("n_value").cast("double"), F.col("n_rows"))
    has_issue = F.when(F.col("oob_value") > 0, F.lit(1)).otherwise(F.lit(0))
    return s.select(
        "n_rows",
        "n_value",
        "min_value",
        "max_value",
        F.round(F.try_divide(F.col("sum_value"), F.col("n_value")), 3).alias("mean_value"),
        "oob_value",
        F.round(completeness, 3).alias("completeness"),
        F.round(F.least(F.lit(1.0), completeness * (1 - 0.1 * has_issue)), 3).alias(
            "quality_score"
        ),
    )


# --- distinct_counts: agg-groupby capability row — exact distinct (the
# scale path `approx_count_distinct` is declared rows-only in llm_ops
# since approx results have no deterministic oracle). ------------------

_DISTINCT_ORACLE = """
SELECT
  count(DISTINCT o_custkey)    AS n_customers_with_orders,
  count(DISTINCT o_orderstatus) AS n_statuses
FROM orders
"""


@register("distinct_counts", oracle=_DISTINCT_ORACLE)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct; Catalyst expands to a two-stage partial-distinct
    aggregate (no full-row shuffle of the table)."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers_with_orders"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


# --- rollup_revenue: cube/rollup/grouping-sets capability (engine-level
# generalization of the reference's global+grouped stat split). --------

_ROLLUP_ORACLE = """
SELECT
  coalesce(o_orderstatus, 'ALL')    AS order_status,
  coalesce(o_orderpriority, 'ALL')  AS order_priority,
  count(*)                          AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY order_status, order_priority
"""


@register("rollup_revenue", oracle=_ROLLUP_ORACLE)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with the NULL grouping cells coalesced to 'ALL' so the
    subtotal rows are unambiguous (and hashable) on both sides."""
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("order_status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("order_priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("order_status", "order_priority")
    )


_GSETS_ORACLE = """
SELECT
  coalesce(o_orderstatus, 'ALL')    AS order_status,
  coalesce(o_orderpriority, 'ALL')  AS order_priority,
  count(*)                          AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY order_status, order_priority
"""


@register("grouping_sets_revenue", oracle=_GSETS_ORACLE)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — exactly two marginal slices (by status,
    by priority), NOT their cross products: the shape rollup/cube can't
    express. One scan, one Expand (2 replicas per row) — vs two
    separate groupBy jobs reading the table twice."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]], "o_orderstatus", "o_orderpriority"
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("order_status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("order_priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("order_status", "order_priority")
    )


_CUBE_ORACLE = """
SELECT
  coalesce(o_orderstatus, 'ALL')    AS order_status,
  coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS order_year,
  count(*)                          AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, CAST(year(o_orderdate) AS VARCHAR))
ORDER BY order_status, order_year
"""


@register("cube_revenue", oracle=_CUBE_ORACLE)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, year): all four grouping sets in ONE shuffle
    (Catalyst expands the cube map-side; no per-set rescans). The
    companion to rollup_revenue for the grouping-sets capability class.
    """
    o = table(spark, sf_dir, "orders")
    year_s = F.year("o_orderdate").cast("string")
    return (
        o.cube("o_orderstatus", year_s.alias("order_year_raw"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("order_status"),
            F.coalesce("order_year_raw", F.lit("ALL")).alias("order_year"),
            "n_orders",
            "total_price",
        )
        .orderBy("order_status", "order_year")
    )


_MAD_ORACLE = """
WITH m AS (
  SELECT c_nationkey,
         median(c_acctbal) OVER (PARTITION BY c_nationkey) AS med,
         c_acctbal
  FROM customer
)
SELECT CAST(c_nationkey AS INT) AS group_key,
       round(any_value(med), 6) AS med,
       round(median(abs(c_acctbal - med)), 6) AS mad,
       count(*) AS n
FROM m GROUP BY c_nationkey
ORDER BY group_key
"""


@register("grouped_mad_acctbal", oracle=_MAD_ORACLE)
def grouped_mad_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance MAD via the grouped-map Pandas UDAF
    (operators.grouped_udaf) — the §2-I applyInPandas surface with a
    real oracle: pandas' interpolated median matches DuckDB's exactly
    in binary float arithmetic. Group = nation (bounded cardinality);
    the module docstring documents why high-cardinality keys must not
    take this path."""
    from ocean_data_pipeline_spark.operators.grouped_udaf import grouped_mad

    cust = table(spark, sf_dir, "customer")
    return grouped_mad(cust, "c_nationkey", "c_acctbal").orderBy("group_key")


# --- fixed-range histogram -------------------------------------------

_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS bucket
  FROM events WHERE value IS NOT NULL
)
SELECT bucket,
       bucket * 50.0          AS lo,
       (bucket + 1) * 50.0    AS hi,
       count(*)               AS n
FROM b GROUP BY bucket ORDER BY bucket
"""


@register("value_histogram_events", oracle=_HISTOGRAM_ORACLE)
def value_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range histogram of events.value: 10 buckets of width 50
    over [0, 500), extremes clamped into the edge buckets. The bucket
    id is plain floor arithmetic (identical in any engine — no
    width_bucket dialect drift), so the whole histogram is one
    map-side projection + a 10-group aggregate: the shuffle carries at
    most nbins rows per map task regardless of input size."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 50.0), F.lit(0)), F.lit(9)
    ).cast("bigint")
    return (
        ev.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 50.0).alias("lo"),
            ((F.col("bucket") + 1) * 50.0).alias("hi"),
            "n",
        )
        .orderBy("bucket")
    )


# --- grouped linear-trend extraction (regr_slope per group) -----------

_TREND_ORACLE = """
WITH monthly AS (
  SELECT n_name AS nation,
         year(o_orderdate) * 12 + month(o_orderdate) AS month_idx,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation   ON n_nationkey = c_nationkey
  GROUP BY n_name, year(o_orderdate) * 12 + month(o_orderdate)
)
SELECT nation,
       count(*)                                  AS n_months,
       round(regr_slope(revenue, month_idx), 4)  AS trend_slope,
       round(regr_r2(revenue, month_idx), 4)     AS trend_r2,
       round(min(revenue), 2)                    AS min_month_revenue,
       round(max(revenue), 2)                    AS max_month_revenue
FROM monthly
GROUP BY nation
ORDER BY nation
"""


@register("revenue_trend_by_nation", oracle=_TREND_ORACLE)
def revenue_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group trend extraction: OLS slope/R² of monthly revenue
    against a month index, one regression per nation — the
    'is this segment growing?' analytic, kept entirely in JVM
    aggregates (regr_slope/regr_r2) instead of a grouped-map UDF.

    Plan shape: dims broadcast into the fact scan, monthly rollup from
    exact decimal sums (one shuffle), then the regression runs over
    calendar-bounded group sizes. Slope/R² round to 4 so the fit never
    hinges on float summation order."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("month_idx"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    return (
        monthly.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.round(F.regr_slope(F.col("revenue"), F.col("month_idx")), 4).alias(
                "trend_slope"
            ),
            F.round(F.regr_r2(F.col("revenue"), F.col("month_idx")), 4).alias(
                "trend_r2"
            ),
            F.round(F.min("revenue"), 2).alias("min_month_revenue"),
            F.round(F.max("revenue"), 2).alias("max_month_revenue"),
        )
        .orderBy("nation")
    )


# --- correlation / covariance stats -----------------------------------

_CORR_STATS_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_rows,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(corr(l_discount, l_extendedprice), 4) AS corr_disc_price,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
       round(stddev_samp(l_quantity), 4) AS std_qty
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _corr(x: str, y: str):
    """Pearson r from its moments, divided with `try_divide`: a zero
    variance gives NULL, as DuckDB's `corr` does. The built-in `corr`
    divides inside the aggregate and raises DIVIDE_BY_ZERO there under
    ANSI."""
    return F.try_divide(F.covar_pop(x, y), F.sqrt(F.var_pop(x) * F.var_pop(y)))


@register("lineitem_corr_stats", oracle=_CORR_STATS_ORACLE)
def lineitem_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped correlation / covariance profile — the bivariate
    descriptive-statistics family (corr from covar_pop and var_pop,
    covar_samp and stddev_samp as single-pass JVM aggregates; both
    engines use the numerically stable streaming formulation, and
    results round to 4/2 before compare). Quantity should correlate
    strongly with extended price (price ≈ qty × unit price); discount
    should not — the sanity profile a feature-engineering pass runs
    before model fitting. A zero-variance group gets a NULL r.

    Plan shape: ONE partial-agg shuffle onto the 3-row flag grid; all
    moments accumulate map-side."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(_corr("l_quantity", "l_extendedprice"), 4).alias(
                "corr_qty_price"
            ),
            F.round(_corr("l_discount", "l_extendedprice"), 4).alias(
                "corr_disc_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "covar_qty_price"
            ),
            F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        )
        .orderBy("l_returnflag")
    )


# --- sorted array aggregation -----------------------------------------

_TOP_BALANCES_ARRAY_ORACLE = """
WITH ranked AS (
  SELECT n.n_name AS nation_name, c.c_acctbal,
         row_number() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey) AS rk
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT nation_name,
       string_agg(CAST(c_acctbal AS VARCHAR), ',' ORDER BY rk)
         AS top_balances,
       CAST(count(*) AS BIGINT) AS n_listed
FROM ranked WHERE rk <= 3
GROUP BY nation_name ORDER BY nation_name
"""


@register("nation_top_balances_array", oracle=_TOP_BALANCES_ARRAY_ORACLE)
def nation_top_balances_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered ARRAY aggregation: each nation's top-3 customer balances
    as an array column in rank order — the collect-per-group shape that
    feeds report payloads and nested outputs. Determinism rules:
    membership AND order come from an explicit row_number (value desc,
    custkey tie-break), never from collect_list's arrival order, which
    is partition-nondeterministic.

    Plan shape: broadcast nation dim, one window per nation key, array
    agg on ≤3 rows per group. Arrays stay small by construction (top-k
    bounded), so the array column can't blow a row past the 2 GB
    record limit — the constraint unbounded collect_list would
    violate at corpus scale.

    Output contract: the ranked array is serialized to deterministic
    comma-joined text (engine concat_ws ↔ oracle string_agg ORDER BY rk)
    because the driver harness canonicalizes via pandas, which cannot
    sort/hash top-level ndarray cells (the one red row in
    CORRECTNESS_r06). The raw array<decimal> formulation stays covered
    by tests/test_aggregates.py."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation_name"), "c_acctbal", "c_custkey"
    )
    w = Window.partitionBy("nation_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    ranked = joined.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
    return (
        ranked.groupBy("nation_name")
        .agg(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(F.struct(F.col("rk"), F.col("c_acctbal")))
                ).getField("c_acctbal").cast("array<string>"),
            ).alias("top_balances"),
            F.count(F.lit(1)).cast("bigint").alias("n_listed"),
        )
        .orderBy("nation_name")
    )
