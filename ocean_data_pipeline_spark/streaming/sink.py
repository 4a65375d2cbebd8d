"""Streaming → cache-table sink (SURVEY.md §2-H ◇stream-refresh).

The reference refreshes its dashboard memo every 300 s
(dashboard/app.py:93) and upserts fetch results into the SQLite cache
(cache_manager.py:123-177). The streaming generalization: a
`foreachBatch` writer that runs the keyed upsert once per micro-batch,
with the refresh cadence expressed as the trigger interval — state
lives in the cache table, not in the stream, so a restart resumes from
the checkpoint with no state migration.

`foreachBatch` is the right tool (vs a built-in sink) because the
upsert is a merge, not an append: keep-latest-per-key semantics need
the existing table as join input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ocean_data_pipeline_spark.cache.result_cache import ResultCache


def cache_upsert_writer(cache: ResultCache):
    """foreachBatch function: upsert each micro-batch into the cache."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        cache.put(batch_df)  # an empty batch is a no-op inside put

    return write_batch


def stream_into_cache(
    entries: DataFrame,
    cache: ResultCache,
    checkpoint_dir: str,
    refresh_interval: str = "5 minutes",
    output_mode: str = "update",
):
    """Start a micro-batch upsert stream into the cache table.

    `entries` must match CACHE_SCHEMA (the caller maps its source to
    cache rows first). `refresh_interval` is the reference's 300 s memo
    cadence as a processing-time trigger; tests pass "0 seconds" and
    drive with processAllAvailable().

    `output_mode`: "update" for keyed/tumbling aggregations (emit
    changed keys per batch; the keep-latest upsert absorbs re-emits).
    Session-window aggregations reject update mode — pass "append"
    (production: emit watermark-finalized sessions only, bounded state)
    or "complete" (re-emit all state per batch: exact final table over
    a bounded input, unbounded state over an unbounded one).
    """
    return (
        entries.writeStream.foreachBatch(cache_upsert_writer(cache))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(processingTime=refresh_interval)
        .start()
    )
