"""Batch twins of the streaming window operators (SURVEY.md §2-H).

Spark's window/session_window functions are mode-agnostic: the exact
builder used under `writeStream` (streaming/windows.py) runs here on
the batch events table, giving the streaming semantics a DuckDB
oracle. The streaming execution path itself (watermarks, triggers,
state TTL) is covered by tests/test_streaming.py (rows-only class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.events import sessions_sql
from ocean_data_pipeline_spark.queries import register
from ocean_data_pipeline_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)

_TUMBLING_ORACLE = """
SELECT
  date_trunc('hour', ts)                          AS window_start,
  date_trunc('hour', ts) + INTERVAL 1 HOUR        AS window_end,
  event_type,
  count(*)                                        AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


@register("stream_tumbling_counts", oracle=_TUMBLING_ORACLE)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1 h windows (streaming builder, batch mode)."""
    ev = table(spark, sf_dir, "events")
    return tumbling_counts(ev).orderBy("window_start", "event_type")


_SLIDING_ORACLE = """
WITH expanded AS (
  SELECT e.ts, k
  FROM events e, unnest(generate_series(0, 3)) AS t(k)
)
SELECT
  CAST(to_timestamp((floor(epoch(ts) / 900) - k) * 900) AS TIMESTAMP) AS window_start,
  CAST(to_timestamp((floor(epoch(ts) / 900) - k) * 900 + 3600) AS TIMESTAMP) AS window_end,
  count(*) AS n_events
FROM expanded
GROUP BY 1, 2
ORDER BY window_start
"""


@register("stream_sliding_counts", oracle=_SLIDING_ORACLE)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1 h / 15 min windows — each event in 4 windows; the
    oracle expands the window set arithmetically."""
    ev = table(spark, sf_dir, "events")
    return sliding_counts(ev).orderBy("window_start")


_SESSION_ORACLE = f"""
WITH {sessions_sql()}
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_seq
ORDER BY user_id, session_start_s
"""


@register("stream_session_counts", oracle=_SESSION_ORACLE)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(gap=30 min) per user vs. the gap sessions of
    `operators/events.py` as the oracle — same merge semantics (a gap
    of exactly 30 min stays in one session), session identity =
    epoch-second of first event (precision-portable across ns/µs
    timestamp engines)."""
    ev = table(spark, sf_dir, "events")
    out = session_counts(ev)
    return out.select(
        "user_id",
        F.floor(F.col("session_start").cast("double")).cast("long").alias("session_start_s"),
        "n_events",
    ).orderBy("user_id", "session_start_s")


# --- stream-stream join twin ------------------------------------------

_CONVERSIONS_ORACLE = """
SELECT v.user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS delay_sec
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
ORDER BY v.user_id, view_ts, purchase_ts
"""


@register("stream_join_conversions", oracle=_CONVERSIONS_ORACLE)
def stream_join_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join twin (streaming/joins.view_purchase_
    conversions, batch mode): purchases attributed to same-user views
    within a 1 h horizon. The time-bound join condition is what makes
    the streaming version's state finite — the batch plan is a plain
    range-condition equi-join on user_id."""
    from ocean_data_pipeline_spark.streaming.joins import view_purchase_conversions

    ev = table(spark, sf_dir, "events")
    out = view_purchase_conversions(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    return out.orderBy("user_id", "view_ts", "purchase_ts")


# --- full-outer funnel twin ------------------------------------------

_FUNNEL_OUTER_ORACLE = """
SELECT coalesce(v.user_id, p.user_id) AS user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS delay_sec
FROM (SELECT * FROM events WHERE event_type = 'view') v
FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY user_id,
         view_ts NULLS FIRST,
         purchase_ts NULLS FIRST,
         purchase_value NULLS FIRST
"""


@register("stream_join_funnel_outer", oracle=_FUNNEL_OUTER_ORACLE)
def stream_join_funnel_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER funnel twin: conversions plus BOTH unmatched kinds —
    unconverted views (NULL purchase columns) and orphan purchases
    (NULL view columns). In streaming mode the same builder emits the
    unmatched rows exactly once past the watermark (gated in
    tests/test_streaming.py); the batch plan is a plain full-outer
    range-condition join. Explicit NULLS FIRST in the oracle matches
    Spark's ascending-null ordering."""
    from ocean_data_pipeline_spark.streaming.joins import view_purchase_conversions

    ev = table(spark, sf_dir, "events")
    out = view_purchase_conversions(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        how="full_outer",
    )
    return out.orderBy("user_id", "view_ts", "purchase_ts", "purchase_value")


# --- stream-static join (dimension enrichment) --------------------------

_STREAM_STATIC_ORACLE = """
SELECT n.n_name AS nation,
       count(*) AS n_events,
       count(e.value) AS n_valued,
       max(e.event_id) AS max_event_id
FROM events e
JOIN nation n ON n.n_nationkey = e.user_id % 25
GROUP BY n.n_name
ORDER BY nation
"""


@register("stream_static_enrich", oracle=_STREAM_STATIC_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the remaining §2-H join class next to the
    stream-stream inner/outer pair: the event stream enriched against
    the static nation dimension (joined per micro-batch; Spark plans
    the static side as a broadcast, re-resolved each batch, which is
    why dimension TABLES — not snapshots — are the join target at
    scale). The derived key user_id % 25 stands in for the FK an
    enriched event feed carries. Counts/max are slicing-invariant, so
    the complete-mode result carries a full batch oracle."""
    import uuid

    from ocean_data_pipeline_spark.queries.streaming_e2e import _event_stream

    events = _event_stream(spark, sf_dir).select(
        (F.col("user_id") % 25).alias("n_nationkey"), "event_id", "value"
    )
    dim = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = events.join(F.broadcast(dim), "n_nationkey")
    agg = joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("value").alias("n_valued"),
        F.max("event_id").alias("max_event_id"),
    )
    sink = f"stream_static_{uuid.uuid4().hex[:12]}"
    query = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(sink).orderBy("nation")


# --- watermark design census ------------------------------------------

_WM_ORACLE = """
WITH arr AS (  -- event_id is the arrival order; ts is event time
  SELECT ts,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS high_watermark
  FROM events
),
late AS (
  SELECT date_diff('microsecond', ts, high_watermark) AS late_us FROM arr
),
g AS (SELECT max(ts) AS max_ts, count(*) AS n FROM events),
grid AS (SELECT unnest([1, 6, 24]) AS w_hours)
SELECT w.w_hours,
       CAST(g.n AS BIGINT) AS n_events,
       CAST((SELECT count(*) FROM late l
             WHERE l.late_us > w.w_hours * 3600000000) AS BIGINT)
         AS n_dropped_late,
       CAST((SELECT count(*) FROM late l
             WHERE l.late_us > w.w_hours * 3600000000) AS DOUBLE) / g.n
         AS dropped_share,
       CAST((SELECT count(*) FROM events e, g
             WHERE e.ts > g.max_ts - to_microseconds(w.w_hours * 3600000000))
            AS BIGINT) AS final_state_rows
FROM grid w CROSS JOIN g
ORDER BY w.w_hours
"""


@register("watermark_design_census", oracle=_WM_ORACLE)
def watermark_design_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing table for the streaming queries: replay the
    event stream in arrival order (event_id), track the running
    event-time high watermark, and for candidate delays {1h, 6h, 24h}
    report how many events a `withWatermark` of that delay would DROP
    as too-late and how many rows a stream-stream join would still hold
    in state at stream end — the completeness-vs-state tradeoff read
    BEFORE picking the delay every `stream_*` query here hardcodes.
    Exact integer-microsecond arithmetic end to end.

    Plan shape: one arrival-ordered window pass (the replay), then
    three conditional counts; the candidate grid is a 3-row broadcast.
    At 100 TB the replay partitions by arrival shard — the census is a
    one-pass log-analytics job."""
    from ocean_data_pipeline_spark.operators.ranks import with_running_aggs

    ev = table(spark, sf_dir, "events").select("event_id", "ts")
    # the arrival-ordered high-watermark replay rides the distributed
    # running-max device (sampled event_id bounds — arrival ids grow
    # with the data, so no fixed width exists); never a row-scale
    # single-partition window
    late = with_running_aggs(
        ev.withColumn("ts_us", F.unix_micros("ts")),
        ["event_id"],
        "event_id",
        {"hwm_us": ("ts_us", "max", True)},
    ).select((F.col("hwm_us") - F.col("ts_us")).alias("late_us"))
    g = ev.agg(
        F.max(F.unix_micros("ts")).alias("max_us"), F.count(F.lit(1)).alias("n")
    )
    grid = spark.createDataFrame([(1,), (6,), (24,)], "w_hours int")
    joined = (
        late.crossJoin(F.broadcast(grid))
        .groupBy("w_hours")
        .agg(
            F.sum(
                F.when(
                    F.col("late_us") > F.col("w_hours").cast("bigint") * 3600000000,
                    1,
                ).otherwise(0)
            ).alias("n_dropped_late")
        )
    )
    state = (
        ev.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(g))
        .groupBy("w_hours")
        .agg(
            F.sum(
                F.when(
                    F.unix_micros("ts")
                    > F.col("max_us")
                    - F.col("w_hours").cast("bigint") * 3600000000,
                    1,
                ).otherwise(0)
            ).alias("final_state_rows")
        )
    )
    return (
        joined.join(state, "w_hours")
        .crossJoin(F.broadcast(g))
        .select(
            "w_hours",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("n_dropped_late").cast("bigint").alias("n_dropped_late"),
            (F.col("n_dropped_late").cast("double") / F.col("n")).alias(
                "dropped_share"
            ),
            F.col("final_state_rows").cast("bigint").alias("final_state_rows"),
        )
        .orderBy("w_hours")
    )
