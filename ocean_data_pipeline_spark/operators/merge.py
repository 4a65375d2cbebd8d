"""Row-level MERGE INTO as a plain DataFrame transform (SURVEY.md §2-A
sink-cache; reference cache_manager.py:153-157 INSERT OR REPLACE
generalized to a Delta-style conditional update).

Spark's parquet sink has no MERGE. The one clause shape the result
cache needs (update a matched row only if the source row is newer,
insert an unmatched one) is a union of the two sides and a newest-row-
per-key window: one shuffle on the key, and no row is widened, where a
full outer join with per-column coalesce would rebuild every column.

At 100 TB the caller bounds `target` to the touched partitions first
(ResultCache.put does: key-prefix buckets of the incoming keys), so
MERGE cost scales with the write set, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def merge_keep_latest(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """WHEN MATCHED AND source.{order_col} > target.{order_col} UPDATE:
    the newest row per key wins across BOTH sides — an idempotent,
    replay-safe upsert (a stale retry cannot clobber a newer entry)."""
    merged = target.unionByName(source)
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return merged.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

