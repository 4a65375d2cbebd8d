"""AQE runtime re-planning gates (the 100 TB posture SURVEY.md §4
lists as "free" — these tests prove the engine actually gets it):
skewed shuffle-join partitions split at runtime, and post-shuffle
partitions coalesce down to the data's real size. Thresholds are
lowered to fire at test scale; production uses the defaults.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import confs


def _run_and_plan(df) -> str:
    """Execute the DataFrame's OWN plan tree — .count() and .write
    each build a DERIVED query execution, so only this DataFrame's
    collect() finalizes its adaptive plan — then return it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    return plan


def test_aqe_splits_skewed_join_partition(spark):
    """A 99%-one-key fact shuffled into a sort-merge join must come out
    of AQE with the skewed partition split (`skew=true` on the SMJ):
    at 100 TB this is what stops one straggler task from holding the
    stage; the salted-join operator covers the same risk for
    aggregations where AQE can't help."""
    skewed = spark.range(0, 20_000).select(
        F.when(F.col("id") % 100 < 99, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    other = spark.range(0, 2_000).select(
        (F.col("id") % 200).alias("k"), F.col("id").alias("rhs")
    )
    with confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.join.preferSortMergeJoin": "true",
        },
    ):
        joined = skewed.join(other, "k")
        plan = _run_and_plan(joined)
    assert "skew=true" in plan, plan
    assert "AQEShuffleRead skewed" in plan, plan


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """32 configured shuffle partitions over a few KB of data must
    coalesce to a handful at runtime (AQEShuffleRead coalesced) — the
    inverse scale problem: a plan tuned for 100 TB must not launch
    32 000 near-empty reducers on a 1 GB day-partition."""
    df = spark.range(0, 10_000).select((F.col("id") % 50).alias("k"))
    with confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.shuffle.partitions": "32",
        },
    ):
        agg = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        plan = _run_and_plan(agg)
    assert "AQEShuffleRead coalesced" in plan, plan


def test_aqe_splits_measured_skew_from_testdata(spark):
    """Skew-split demonstrated on a TESTDATA-derived join, with the
    skew MEASURED in-test rather than assumed. The raw tables are
    near-uniform (max event_type share ~20%; verified below), so the
    hot key is built by a realistic pipeline transformation: routing
    every 'error' event to one sentinel key — the "all failures join
    the same diagnostics row" pattern that produces one giant shuffle
    partition in production. The gate: AQE must split that partition
    (skew=true on the sort-merge join) instead of leaving one
    straggler task holding the stage.

    spread=True matters here for a reason worth pinning: AQE splits a
    skewed REDUCE partition along map-output boundaries, so a shuffle
    fed by a single map task (this testdata file is one parquet row
    group) is unsplittable no matter how skewed — precisely the
    degenerate-scan case catalog.table's spread flag repairs, and a
    non-issue on a real cluster where the scan has thousands of map
    tasks."""
    from ocean_data_pipeline_spark.catalog import table

    events = table(spark, "/root/testdata/sf0.1", "events", spread=True)
    # measure: raw keys are near-uniform, the sentinel key is not
    shares = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(shares.values())
    assert max(shares.values()) / total < 0.25  # raw data: no hot key
    skewed = events.select(
        F.when(F.col("event_type") == "error", F.lit(0))
        .otherwise(F.col("event_id"))
        .alias("k"),
        F.sha2(F.col("event_id").cast("string"), 256).alias("payload"),
    )
    hot_share = skewed.filter(F.col("k") == 0).count() / total
    assert hot_share > 0.15  # derived key: one partition dominates

    diag = spark.range(0, 5_000).select(F.col("id").alias("k"), F.col("id").alias("d"))
    with confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            # the test's own partition count: with fewer (e.g. 4 on a
            # 4-core host) the hot partition is under skewedPartitionFactor
            # times the median and AQE rightly declines to split it
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.join.preferSortMergeJoin": "true",
        },
    ):
        joined = skewed.join(diag, "k")
        plan = _run_and_plan(joined)
    assert "skew=true" in plan, plan
    assert "AQEShuffleRead skewed" in plan, plan
