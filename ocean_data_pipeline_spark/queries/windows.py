"""Window-function surface (SURVEY.md §2-G) + sort/limit/top-k/dedup
(§2-E): ranking, lag/lead analytics, frames, sessionization.

Every orderBy that feeds a limit or a rank carries a unique tiebreak
key so results are total-ordered (deterministic hash under the oracle
compare, and stable under Spark's nondeterministic partition order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.events import sessions, sessions_sql
from ocean_data_pipeline_spark.queries import register

# --- top_orders: sort+limit → TakeOrderedAndProject (topk; reference
# sort-computed + LIMIT, cache_manager.py:302-311). --------------------

_TOP_ORACLE = """
SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_totalprice AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@register("top_orders", oracle=_TOP_ORACLE)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: per-partition heap + driver merge of k rows
    (TakeOrderedAndProject) — never a full sort at scale."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(10)
    )


# --- latest_order_per_customer: win-rank (generalizes dedup-key
# keep-latest, reference cache_manager.py:37+153-157). -----------------

_LATEST_ORACLE = """
SELECT custkey, orderkey, orderdate
FROM (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_orderdate AS orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
WHERE rn = 1
ORDER BY custkey
"""


@register("latest_order_per_customer", oracle=_LATEST_ORACLE)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number=1 per key: one shuffle on the key; AQE handles skew.
    (At scale prefer this over dropDuplicates — explicit ordering.)"""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
        )
        .orderBy("custkey")
    )


# --- monthly_revenue_delta: win-analytic lag (month-over-month delta on
# the ordered monthly series — the reference's sorted-series contract,
# pipeline/extract.py:223-225). ----------------------------------------

_DELTA_ORACLE = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       revenue - lag(revenue) OVER (ORDER BY month) AS revenue_delta
FROM monthly
ORDER BY month
"""


@register("monthly_revenue_delta", oracle=_DELTA_ORACLE)
def monthly_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate first (tiny result), window over the aggregate — the
    unpartitioned window runs over months, not raw rows."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue")
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("revenue_delta", F.col("revenue") - F.lag("revenue").over(w))
        .orderBy("month")
    )


# --- rolling_avg_monthly: win-frame rowsBetween(-2, 0) rolling mean. --

_ROLLING_ORACLE = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT month, n_orders,
       CAST(sum(n_orders) OVER w AS DOUBLE)
         / count(*) OVER w AS rolling_avg_orders
FROM monthly
WINDOW w AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY month
"""


@register("rolling_avg_monthly", oracle=_ROLLING_ORACLE)
def rolling_avg_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-month rolling average as exact sum/count over a row frame."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy("month").rowsBetween(-2, 0)
    return (
        monthly.withColumn(
            "rolling_avg_orders",
            F.sum("n_orders").over(w).cast("double") / F.count(F.lit(1)).over(w),
        )
        .orderBy("month")
    )


# --- running_total_per_customer: win-frame running aggregate. ---------

_RUNNING_ORACLE = """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_spend
FROM orders
ORDER BY custkey, orderkey
"""


@register("running_total_per_customer", oracle=_RUNNING_ORACLE)
def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running decimal sum per key (exact under any partition order)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("running_spend"),
        )
        .orderBy("custkey", "orderkey")
    )


# --- sessionize_events: lag + gap-flag + running count = session ids
# (batch sessionization; the streaming twin uses session_window in
# streaming/. Gap threshold 30 min on the events stream). --------------

_SESSION_ORACLE = f"""
WITH {sessions_sql()}
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, count(*) AS n_events
FROM sessions
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


@register("sessionize_events", oracle=_SESSION_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: the gap sessions of `operators/events.py` (two
    stacked windows on the same (user_id, ts, event_id) sort — Catalyst
    plans ONE exchange + one sort, reused by both), counted per session."""
    return (
        sessions(table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_seq")
    )


# --- ranking-family completion: ntile / percent_rank / first / last ---

_DECILE_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority AS priority,
         o_orderkey,
         o_totalprice,
         ntile(10) OVER w AS decile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         first_value(o_orderkey) OVER w AS cheapest_key,
         last_value(o_orderkey)
           OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
)
SELECT priority, decile,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS decile_value,
       round(min(pct_rank), 6) AS min_pct_rank,
       any_value(cheapest_key) AS cheapest_key,
       any_value(priciest_key) AS priciest_key
FROM ranked
GROUP BY priority, decile
ORDER BY priority, decile
"""


@register("order_value_deciles", oracle=_DECILE_ORACLE)
def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-family completion (§2-G win-rank beyond row_number):
    ntile deciles, percent_rank, first/last_value over one shared
    (priority, price) total order. Total tiebreak (price, orderkey)
    makes ntile assignment deterministic, hence oracle-hashable.

    Scale: a 5-way priority partition still sorts 1/5 of the fact
    table per task, so the ranks ride the distributed exact-rank
    device (operators/ranks.py — boundary-bucketed windows, broadcast
    prefix offsets); ntile/percent_rank become pure expressions of the
    exact rank and the broadcast per-priority census, and first/last
    value per priority are arg-min/arg-max struct aggregates on that
    same census — no per-row navigation window at all (VERDICT r06
    item 5)."""
    from ocean_data_pipeline_spark.operators.ranks import (
        ntile_from_rank,
        percent_rank_from_rank,
        with_global_row_number,
    )

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        "o_totalprice",
    )
    rn = with_global_row_number(
        o,
        ["o_totalprice", "o_orderkey"],
        "o_totalprice",
        out="rn",
        partition_by=["priority"],
        bucket_width=1000.0,  # $1000 buckets: lazy, domain-bounded
    )
    census = o.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.min(F.struct("o_totalprice", "o_orderkey"))
        .getField("o_orderkey")
        .alias("cheapest_key"),
        F.max(F.struct("o_totalprice", "o_orderkey"))
        .getField("o_orderkey")
        .alias("priciest_key"),
    )
    ranked = rn.join(F.broadcast(census), "priority").select(
        "priority",
        "o_orderkey",
        "o_totalprice",
        ntile_from_rank(F.col("rn"), F.col("n_p"), 10).alias("decile"),
        F.round(
            percent_rank_from_rank(F.col("rn"), F.col("n_p")), 6
        ).alias("pct_rank"),
        "cheapest_key",
        "priciest_key",
    )
    return (
        ranked.groupBy("priority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("decile_value"),
            F.round(F.min("pct_rank"), 6).alias("min_pct_rank"),
            F.first("cheapest_key").alias("cheapest_key"),
            F.first("priciest_key").alias("priciest_key"),
        )
        .orderBy("priority", "decile")
    )


# --- interval sweep-line: concurrent-session profile ------------------

_CONCURRENCY_ORACLE = f"""
WITH {sessions_sql()},
bounds AS (
  SELECT user_id, session_seq, min(ts) AS s, max(ts) AS e
  FROM sessions GROUP BY user_id, session_seq
),
deltas AS (
  SELECT s AS ts, 1 AS delta FROM bounds
  UNION ALL
  SELECT e AS ts, -1 AS delta FROM bounds
),
swept AS (
  SELECT ts, delta,
         sum(delta) OVER (ORDER BY ts, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS concur
  FROM deltas
)
SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP)     AS day,
       count(*)                                AS n_boundary_events,
       CAST(max(concur) AS BIGINT)             AS max_concurrent,
       round(CAST(sum(concur) AS DOUBLE) / count(*), 4) AS avg_concurrent
FROM swept
GROUP BY day
ORDER BY day
"""


@register("session_concurrency_profile", oracle=_CONCURRENCY_ORACLE)
def session_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-algebra sweep line: gap-sessionize each user (the
    30-min gap sessions of `operators/events.py`), reduce sessions
    to [start, end] intervals, then count concurrently-open sessions
    by running-summing +1/-1 boundary deltas in global (ts, start-
    before-end) order — inclusive overlap, O(n log n) where the naive
    pairwise interval join is O(n²). Reports the daily peak and mean
    concurrency profile.

    Tie policy: boundaries at the same instant apply starts before
    ends (ORDER BY ts, delta DESC), and equal-delta ties produce the
    same prefix-value multiset under any order, so per-day aggregates
    are engine-stable. Scale posture: sessionization and the bounds
    rollup shuffle on user_id; the sweep rides the fixed-width
    coarsening mode of the distributed running-sum device
    (operators/ranks.py: DAY buckets over the epoch-seconds order key
    — the offset census is calendar-bounded, each day's boundary
    stream sorts in its own task, and epoch micros stay exact in a
    double well past 2^53). No single-partition window at any scale;
    the boundary stream is already 2 rows/session, orders of magnitude
    smaller than events."""
    bounds = (
        sessions(table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    deltas = bounds.select(F.col("s").alias("ts"), F.lit(1).alias("delta")).unionAll(
        bounds.select(F.col("e").alias("ts"), F.lit(-1).alias("delta"))
    )
    from ocean_data_pipeline_spark.operators.ranks import with_running_aggs

    swept = with_running_aggs(
        deltas.withColumn("ts_sec", F.col("ts").cast("double")),
        ["ts_sec", F.desc("delta")],
        "ts_sec",
        {"concur": ("delta", "sum", True)},
        bucket_width=86_400.0,  # day buckets: calendar-bounded census
    )
    return (
        # timestamp, not date: DuckDB DATE lands in pandas as
        # datetime64 while Spark DateType lands as object(date) —
        # the driver's value-hash sees those as different.
        swept.groupBy(F.col("ts").cast("date").cast("timestamp").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_boundary_events"),
            F.max("concur").cast("bigint").alias("max_concurrent"),
            F.round(
                F.sum("concur").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_concurrent"),
        )
        .orderBy("day")
    )


# --- time-weighted average (irregular series) --------------------------

_TWA_ORACLE = """
WITH held AS (
  SELECT user_id, value, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events WHERE value IS NOT NULL
),
weighted AS (
  SELECT user_id,
         CAST(value AS DECIMAL(18,6))
           * (epoch_us(next_ts) - epoch_us(ts)) AS wv,
         epoch_us(next_ts) - epoch_us(ts)       AS dur_us
  FROM held WHERE next_ts IS NOT NULL
)
SELECT user_id,
       count(*)                             AS n_intervals,
       CAST(sum(dur_us) // 1000000 AS BIGINT) AS total_seconds,
       round(CAST(sum(wv) AS DOUBLE) / sum(dur_us), 4) AS twa_value
FROM weighted
GROUP BY user_id
HAVING sum(dur_us) > 0
ORDER BY user_id
"""


@register("time_weighted_avg", oracle=_TWA_ORACLE)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over an IRREGULAR series: each observation
    holds until the next one (zero-order hold), so the mean weights
    values by holding duration instead of treating samples as equal —
    the correct summary for event-driven sensor streams where plain
    avg() over-weights bursts.

    Determinism: durations are exact integer MICROSECONDS
    (unix_micros / epoch_us — per-endpoint second truncation would
    disagree between engines on sub-second timestamps); weights are
    decimal(value) × integer micros, summed exactly; one double
    division at the end, rounded to 4. Plan: one
    (user_id, ts) sorted exchange shared by the lead() window and the
    rollup — the same single-shuffle shape as sessionization."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    held = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_t"),
    ).filter(F.col("next_t").isNotNull())
    weighted = held.select(
        "user_id",
        (F.col("value").cast("decimal(18,6)") * (F.col("next_t") - F.col("t"))).alias("wv"),
        (F.col("next_t") - F.col("t")).alias("dur_us"),
    )
    return (
        weighted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.floor(F.sum("dur_us") / 1000000).cast("bigint").alias("total_seconds"),
            F.round(F.sum("wv").cast("double") / F.sum("dur_us"), 4).alias("twa_value"),
        )
        .filter(F.sum("dur_us") > 0)
        .orderBy("user_id")
    )


# --- percent_rank / cume_dist distribution ranks ----------------------

_PCT_RANK_ORACLE = """
WITH ranked AS (
  SELECT o_custkey, o_totalprice,
         round(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 6)
           AS pct_rank,
         round(cume_dist() OVER (ORDER BY o_totalprice, o_orderkey), 6)
           AS cume
  FROM orders
)
SELECT CAST(floor(pct_rank * 10) AS BIGINT) AS decile_bucket,
       count(*) AS n_orders,
       round(min(cume), 6) AS min_cume,
       round(max(cume), 6) AS max_cume
FROM ranked GROUP BY 1 ORDER BY 1
"""


@register("order_percentile_ranks", oracle=_PCT_RANK_ORACLE)
def order_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist over the order-value distribution
    (unique o_orderkey tie-break), bucketed to a decile histogram —
    the remaining ANSI distribution-rank grammar next to the
    row_number / rank / ntile family already covered. Both engines
    define percent_rank = (rank−1)/(N−1) and cume_dist = rank/N, and
    both sides round to 6 before the floor-bucket, so the histogram is
    engine-stable.

    Plan shape: the DISTRIBUTED exact-rank device (operators/ranks.py,
    VERDICT r06 item 5) — boundary-bucketed row_number runs the big
    window K-way parallel (each task sorts ~1/K of the orders), then
    percent_rank = (rn−1)/(N−1) and cume_dist = rn/N are pure
    expressions of the exact rank and the broadcast 1-row count. No
    single-partition sort of the fact table anywhere; the former
    global-window formulation is gone."""
    from ocean_data_pipeline_spark.operators.ranks import (
        cume_dist_from_rank,
        percent_rank_from_rank,
        with_global_row_number,
    )

    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    rn = with_global_row_number(
        o, ["o_totalprice", "o_orderkey"], "o_totalprice", out="rn",
        bucket_width=1000.0,  # $1000 buckets: lazy, domain-bounded
    )
    n = o.agg(F.count(F.lit(1)).alias("n_all"))
    ranked = rn.crossJoin(F.broadcast(n)).select(
        F.round(
            percent_rank_from_rank(F.col("rn"), F.col("n_all")), 6
        ).alias("pct_rank"),
        F.round(cume_dist_from_rank(F.col("rn"), F.col("n_all")), 6).alias(
            "cume"
        ),
    )
    return (
        ranked.groupBy(
            F.floor(F.col("pct_rank") * 10).cast("bigint").alias("decile_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("cume"), 6).alias("min_cume"),
            F.round(F.max("cume"), 6).alias("max_cume"),
        )
        .orderBy("decile_bucket")
    )


# --- first_value / nth_value frame grammar ----------------------------

_FRAME_VALUES_ORACLE = """
WITH hist AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         first_value(o_totalprice) OVER w AS first_order_price,
         nth_value(o_totalprice, 3) OVER w AS third_order_price,
         last_value(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS latest_order_price,
         count(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(sum(CASE WHEN latest_order_price > first_order_price
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_grew,
       CAST(sum(CASE WHEN latest_order_price < first_order_price
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_shrank,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN third_order_price IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_3plus
FROM hist WHERE o_orderkey IN (
  SELECT max(o_orderkey) FROM orders GROUP BY o_custkey
)
"""


@register("order_frame_values", oracle=_FRAME_VALUES_ORACLE)
def order_frame_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / nth_value / last_value with explicit ROW frames —
    the navigation-function grammar not yet exercised by the
    lag/lead/rank family: per customer, the first, third, and latest
    order price over their (orderdate, orderkey)-ordered history, then
    a census of whose latest order grew vs their first. last_value
    needs the UNBOUNDED FOLLOWING frame (the default frame stops at
    CURRENT ROW — the classic silent-wrong-answer trap, made explicit
    here on both engines).

    Plan shape: all three windows share the customer partition key →
    ONE exchange; the per-customer row is selected by a max-orderkey
    semi-join (aggregate relation, broadcastable)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    hist = o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_order_price"),
        F.nth_value("o_totalprice", 3).over(w).alias("third_order_price"),
        F.last("o_totalprice").over(w_full).alias("latest_order_price"),
    )
    last_keys = o.groupBy("o_custkey").agg(F.max("o_orderkey").alias("o_orderkey"))
    return (
        hist.join(F.broadcast(last_keys), ["o_custkey", "o_orderkey"], "leftsemi")
        .agg(
            F.sum(
                F.when(F.col("latest_order_price") > F.col("first_order_price"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_grew"),
            F.sum(
                F.when(F.col("latest_order_price") < F.col("first_order_price"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_shrank"),
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(
                F.when(F.col("third_order_price").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_with_3plus"),
        )
    )


# --- 2-D Pareto skyline ------------------------------------------------

_SKYLINE_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderdate
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM orders q
  WHERE q.o_totalprice >= o.o_totalprice
    AND q.o_orderdate <= o.o_orderdate
    AND (q.o_totalprice > o.o_totalprice OR q.o_orderdate < o.o_orderdate)
)
ORDER BY o.o_totalprice DESC, o.o_orderkey
"""


@register("pareto_skyline_orders", oracle=_SKYLINE_ORACLE)
def pareto_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline of orders (Börzsönyi et al., "The Skyline
    Operator", ICDE'01): orders not dominated on (totalprice higher-
    is-better, orderdate earlier-is-better) — "no other order was both
    at least as valuable and at least as early, and strictly better on
    one axis". Orders tying on BOTH axes are mutually non-dominating
    and all survive.

    The 2-D case needs no pairwise comparison: group to distinct price
    levels (each with its min date), then one running strictly-above
    min-date window in descending price order — a level survives iff
    its min date beats every higher level's, and an order survives iff
    it sits at its level's min date and the level survives. That is
    O(n log n) sort work vs the oracle's O(n²) NOT EXISTS — the same
    window-vs-naive asymmetry `copurchase_triangle_census` documents,
    and the reason a skyline over 100 TB of orders is one partial agg
    (distinct prices) + one tiny window, never a self-join.

    Plan shape: one partial agg onto distinct price levels, then the
    strictly-above running min rides the distributed running-agg
    device (operators/ranks.py — boundary-bucketed K-way windows +
    broadcast prefix offsets; VERDICT r06 item 5: near-unique price
    levels would otherwise sort in ONE task) over the localCheckpointed
    level census, one broadcast-join back."""
    from ocean_data_pipeline_spark.operators.ranks import with_running_aggs

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    levels = o.groupBy("o_totalprice").agg(
        F.min("o_orderdate").alias("lvl_min_date")
    ).localCheckpoint()
    surviving = with_running_aggs(
        levels,
        [F.desc("o_totalprice")],
        "o_totalprice",
        {"best_above": ("lvl_min_date", "min", False)},
        range_desc=True,
        bucket_width=1000.0,  # $1000 buckets: lazy, domain-bounded
    ).filter(
        F.col("best_above").isNull()
        | (F.col("lvl_min_date") < F.col("best_above"))
    )
    return (
        o.join(F.broadcast(surviving), "o_totalprice")
        .filter(F.col("o_orderdate") == F.col("lvl_min_date"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )
