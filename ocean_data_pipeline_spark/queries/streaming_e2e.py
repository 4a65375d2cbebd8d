"""End-to-end streaming pipeline (SURVEY.md §2-H, the full chain):
file stream → event-time session windows → foreachBatch keyed upsert
into the ResultCache table — the reference's fetch→cache refresh loop
(dashboard/app.py:93 memo cadence + cache_manager.py:123-177 upsert)
as one Structured Streaming job.

Registered ROWS-ONLY by necessity: the pipeline's output is the state
of a table it wrote via foreachBatch side effects, which no single SQL
statement reproduces. The correctness check lives in
tests/test_streaming_e2e.py: the final cache state must equal the
batch-computed "latest session per user" relation exactly (streaming ==
batch equivalence, the same law the stream_twins queries pin
per-operator, here pinned for the whole pipeline).

Scale posture: session state is bounded by the watermark; the cache
upsert rewrites only touched key-prefix buckets per micro-batch
(ResultCache commit protocol); nothing crosses to the driver but the
≤256-bucket metadata inside put().
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocean_data_pipeline_spark.operators.events import GAP_SQL, sessions_sql
from ocean_data_pipeline_spark.queries import register


def _sessions_to_cache_rows(sessions: DataFrame, ttl_hours: int = 24) -> DataFrame:
    """Map session-window rows onto CACHE_SCHEMA.

    Key = sha2 of the user id (the reference's normalized-params hash,
    cache_manager.py:63-77); version column = session_end so the
    keep-latest merge retains each user's most recent (and, for a
    growing session re-emitted across micro-batches, most complete)
    session. Per-user sessions are gap-disjoint, so session_end is
    unique per user and the merge is deterministic.
    """
    return sessions.select(
        F.substring(
            F.sha2(F.concat(F.lit("user_"), F.col("user_id").cast("string")), 256), 1, 16
        ).alias("query_hash"),
        F.lit(0.0).alias("latitude"),
        F.lit(0.0).alias("longitude"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_date"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_date"),
        F.lit('["sessions"]').alias("variables"),
        F.to_json(F.struct(F.col("n_events"))).alias("data_json"),
        F.col("n_events").cast("long").alias("row_count"),
        F.col("session_end").alias("fetched_at"),
        (F.col("session_end") + F.expr("INTERVAL 24 HOURS")).alias("expires_at"),
        F.col("n_events").cast("long").alias("file_size_bytes"),
    )


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same TIMESTAMP(NANOS)
    normalization catalog.table applies on the batch path."""
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    # The file source streams DIRECTORIES; the testdata table is a
    # single file, so stream the sf dir filtered down to that file.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
"""


@register("stream_dedup_keys", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING deduplication (SURVEY §2-H class: stateful
    dropDuplicates + watermark): the event stream is deduplicated on
    (user_id, event_type) with dedup state bounded by the watermark,
    collected through a memory sink, and the surviving KEY SET is
    returned. Which physical row survives per key is arrival-order
    dependent, but the key set itself is exactly the batch DISTINCT —
    so this streaming query carries a full DuckDB oracle (rare for
    stateful streaming). State posture: per-key dedup state is evicted
    once the watermark passes it, so an unbounded deployment holds a
    sliding window of keys, not the corpus."""
    import uuid

    dedup = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    sink = f"stream_dedup_{uuid.uuid4().hex[:12]}"
    query = (
        dedup.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(sink).orderBy("user_id", "event_type")


_SESSION_CACHE_ORACLE = f"""
WITH {sessions_sql()},
agg AS (
  SELECT user_id, session_seq,
         min(ts) AS s_start,
         max(ts) + {GAP_SQL} AS s_end,
         count(*) AS n
  FROM sessions GROUP BY user_id, session_seq
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY s_end DESC) AS rn
    FROM agg
  ) WHERE rn = 1
)
SELECT substr(sha256('user_' || CAST(user_id AS VARCHAR)), 1, 16)
         AS query_hash,
       strftime(s_start, '%Y-%m-%d %H:%M:%S') AS start_date,
       strftime(s_end, '%Y-%m-%d %H:%M:%S') AS end_date,
       CAST(n AS BIGINT) AS row_count
FROM latest ORDER BY query_hash
"""


@register("stream_file_session_cache", oracle=_SESSION_CACHE_ORACLE)
def stream_file_session_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full pipeline to completion, then return the cache table:
    one row per user = their latest session (keep-latest upsert). The
    returned relation is deterministic for a static input directory;
    tests/test_streaming_e2e.py pins it against the batch twin, and the
    DuckDB oracle above re-derives it from scratch — the gap sessions
    of `operators/events.py`, which match Spark's session_window
    exactly (a new session starts iff the gap exceeds 30 min, so a gap
    of exactly 30 min stays in one session; the window end is
    last-event + gap), latest session per user, and the same sha2 key
    and second-precision date formatting. Side-effectful streaming
    with a FULL value oracle."""
    from ocean_data_pipeline_spark.cache.result_cache import ResultCache
    from ocean_data_pipeline_spark.streaming.sink import stream_into_cache
    from ocean_data_pipeline_spark.streaming.windows import session_counts

    sessions = session_counts(
        _event_stream(spark, sf_dir), gap="30 minutes", watermark="10 minutes"
    )
    entries = _sessions_to_cache_rows(sessions)
    workdir = tempfile.mkdtemp(prefix="stream_session_cache_")
    cache = ResultCache(spark, os.path.join(workdir, "cache"))
    # Session windows reject update mode; over this bounded input,
    # complete mode re-emits all sessions each micro-batch and the
    # keep-latest upsert converges to the exact batch-equivalent table
    # (an unbounded deployment would use append mode and carry only
    # watermark-finalized sessions — see stream_into_cache docstring).
    query = stream_into_cache(
        entries,
        cache,
        os.path.join(workdir, "ckpt"),
        refresh_interval="0 seconds",
        output_mode="complete",
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return cache.read().select(
        "query_hash", "start_date", "end_date", "row_count"
    ).orderBy("query_hash")


_STREAM_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
),
stages AS (
  SELECT u.user_id,
         CASE WHEN p.user_id IS NOT NULL THEN 3
              WHEN c.user_id IS NOT NULL THEN 2
              WHEN v.user_id IS NOT NULL THEN 1
              ELSE 0 END AS stage
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN v ON v.user_id = u.user_id
  LEFT JOIN c ON c.user_id = u.user_id
  LEFT JOIN p ON p.user_id = u.user_id
)
SELECT user_id, stage FROM stages ORDER BY user_id
"""


@register("stream_funnel_stages", oracle=_STREAM_FUNNEL_ORACLE)
def stream_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING funnel (custom keyed state via applyInPandasWithState,
    streaming/funnel.py): each user's view→click→purchase stage machine
    advances across micro-batches; stage is monotone, so max(stage)
    over the update-mode emission log is the final stage, and for
    in-event-time-order arrival it equals the batch funnel EXACTLY —
    hence a full DuckDB oracle over the PER-USER stage relation (rare
    for custom stateful streaming; same posture as
    `stream_dedup_keys`). State: three int64 timestamps per user.
    Incremental in-order equivalence across multiple micro-batches is
    pinned separately in tests/test_streaming_e2e.py."""
    import uuid

    from ocean_data_pipeline_spark.streaming.funnel import funnel_stages

    staged = funnel_stages(_event_stream(spark, sf_dir))
    sink = f"stream_funnel_{uuid.uuid4().hex[:12]}"
    query = (
        staged.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.max("stage").alias("stage"))
        .orderBy("user_id")
    )


# --- streaming Count-Min sketch (mergeable-state proof) ---------------

#: Same mix/width constants as the batch CMS (queries/sketch_ops.py);
#: redeclared literally so this module stays import-light.
_CMS_MIXES = (2654435761, 2246822519, 3266489917)
_CMS_MOD = 4294967296
_CMS_W = 64

_STREAM_CMS_ORACLE = f"""
WITH b AS (
  SELECT i,
         ((user_id * CASE i WHEN 0 THEN {_CMS_MIXES[0]}
                            WHEN 1 THEN {_CMS_MIXES[1]}
                            ELSE {_CMS_MIXES[2]} END)
          % {_CMS_MOD}) % {_CMS_W} AS bucket
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
)
SELECT i AS hash_row, bucket, count(*) AS counter
FROM b GROUP BY i, bucket
ORDER BY hash_row, bucket
"""


@register("stream_countmin_user_events", oracle=_STREAM_CMS_ORACLE)
def stream_countmin_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Count-Min sketch over the event stream keyed by
    user_id: each event updates d=3 counters (one per hash row), the
    counter table IS the streaming aggregation state, and micro-batch
    merge is element-wise addition — the mergeable-sketch property
    (`cms_join_size_estimate`'s scale posture) demonstrated as a live
    Structured Streaming job rather than claimed in prose. Because the
    counters are exact counts of deterministic hash cells, the final
    state is INVARIANT to micro-batch slicing and arrival order, so
    this stateful streaming query carries a full DuckDB oracle (the
    batch-computed counter array) — tests additionally replay it under
    forced multi-batch execution and pin state == merge of per-batch
    partials.

    State posture: d·w = 192 counters TOTAL regardless of key
    cardinality or stream length — the sketch never grows, which is
    the entire point of sketching a 100 TB stream."""
    import uuid

    updates = _event_stream(spark, sf_dir).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("hash_row"),
                        ((F.col("user_id") * mix) % _CMS_MOD % _CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for i, mix in enumerate(_CMS_MIXES)
                ]
            )
        ).alias("u")
    ).select("u.hash_row", "u.bucket")
    counters = updates.groupBy("hash_row", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )
    sink = f"stream_cms_{uuid.uuid4().hex[:12]}"
    query = (
        counters.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(sink).orderBy("hash_row", "bucket")


# --- streaming HyperLogLog registers ----------------------------------

_SHLL_M = 64
_SHLL_HEX = "sha256('shll_' || CAST(user_id AS VARCHAR))"


def _shll_oracle() -> str:
    from ocean_data_pipeline_spark.queries.sketch_ops import _hll_rho_sql

    return f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr({_SHLL_HEX}, 1, 2)) AS INT) % {_SHLL_M} AS reg,
         {_hll_rho_sql(f"CAST(('0x' || substr({_SHLL_HEX}, 3, 10)) AS BIGINT)")} AS rho
  FROM events
)
SELECT event_type, reg, CAST(max(rho) AS INT) AS m_reg
FROM h GROUP BY event_type, reg
ORDER BY event_type, reg
"""


@register("stream_hll_registers", oracle=_shll_oracle())
def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HyperLogLog register table per event type: each event
    hashes its user_id into one of m=64 registers and the streaming
    aggregation state keeps max(rho) per (event_type, register) —
    the max-merge dual of `stream_countmin_user_events`' additive
    counters, covering the second of the two mergeable-sketch merge
    laws as a LIVE Structured Streaming job. max() is idempotent,
    commutative, and associative, so the register table is invariant
    to micro-batch slicing, arrival order, AND duplicate delivery
    (at-least-once safety for free — the property CMS counters lack),
    which is why this stateful streaming query carries a full DuckDB
    oracle. Distinct-count readout is `hll_portable_distinct`'s
    estimator over these registers.

    State posture: <= types x 64 registers TOTAL regardless of user
    cardinality or stream length — constant-state cardinality tracking
    for a 100 TB stream."""
    import uuid

    hexd = F.sha2(F.concat(F.lit("shll_"), F.col("user_id").cast("string")), 256)
    reg = (F.conv(F.substring(hexd, 1, 2), 16, 10).cast("int") % _SHLL_M).alias("reg")
    v40 = F.conv(F.substring(hexd, 3, 10), 16, 10).cast("bigint")
    rho = F.lit(41)
    for r in range(40, 0, -1):
        rho = F.when(v40 >= (1 << (40 - r)), F.lit(r)).otherwise(rho)
    updates = _event_stream(spark, sf_dir).select(
        "event_type", reg, rho.cast("int").alias("rho")
    )
    registers = updates.groupBy("event_type", "reg").agg(
        F.max("rho").alias("m_reg")
    )
    sink = f"stream_hll_{uuid.uuid4().hex[:12]}"
    query = (
        registers.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(sink).orderBy("event_type", "reg")
