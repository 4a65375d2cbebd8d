"""Invariant tests for the wave-9 families (recursive CTEs, VARIANT,
pipe syntax, Python DataSources). Two-scale oracle parity pins exact
values (tests/test_oracle_parity.py); these pin the semantic contracts
parity alone wouldn't explain if broken — recursion termination shape,
clamp bounds, connector partition planning, micro-batch invariance.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocean_data_pipeline_spark.queries import load_all
from tests.conftest import SF_ORACLE, SF_SMOKE

REGISTRY = load_all()


def test_month_spine_contiguous(spark):
    """The recursive spine has no holes and no duplicates."""
    rows = REGISTRY["sql_recursive_month_spine"].fn(spark, SF_SMOKE).collect()
    idx = [r.month_index for r in rows]
    assert idx == list(range(min(idx), max(idx) + 1))
    # gap months exist at the small scale and must be zero-filled
    assert all(r.n_orders >= 0 and r.revenue >= 0.0 for r in rows)


def test_capped_balance_clamp_bounds(spark):
    """0 <= balance; peak >= final; n_orders matches the orders table."""
    rows = REGISTRY["sql_recursive_capped_balance"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.final_balance <= r.peak_balance, r
    from ocean_data_pipeline_spark.catalog import table

    expected = {
        r.o_custkey: r.n
        for r in table(spark, SF_SMOKE, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.custkey: r.n_orders for r in rows} == expected


def test_supplier_chain_depth_is_digit_count(spark):
    """Digit-prefix walk depth == number of decimal digits of suppkey."""
    rows = REGISTRY["sql_recursive_supplier_chain"].fn(spark, SF_SMOKE).collect()
    for r in rows:
        # keys are dense from 0, so every digit-prefix INCLUDING the
        # root 0 is a real supplier: digits+1 ancestors, walk depth =
        # digit count (suppkey 0 anchors and stops immediately).
        digits = len(str(r.suppkey))
        if r.suppkey == 0:
            assert (r.chain_depth, r.n_ancestors) == (0, 1), r
        else:
            assert r.n_ancestors == digits + 1, r
            assert r.chain_depth == digits, r


def test_variant_missing_path_is_null(spark):
    """variant_get on an absent path yields NULL (count == 0), and the
    payload field stays in its generator range."""
    rows = REGISTRY["variant_props_profile"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_missing_path == 0, r
        assert 0 <= r.max_k <= 99, r
        assert r.vschema == "OBJECT<k: BIGINT>", r


def test_pyds_batch_partition_planning(spark):
    """The batch Python source plans exactly n_parts partitions and
    covers each row index once."""
    from ocean_data_pipeline_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("ocean_sensor_feed")
        .option("n_rows", 1003)  # non-divisible: tail partition is short
        .option("n_parts", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 1003
    # (sensor_id, tick) is the row index bijection: all distinct
    assert df.select("sensor_id", "tick").distinct().count() == 1003


def test_pyds_stream_equals_batch(spark):
    """Forced multi-batch streaming read == one-shot batch read of the
    same feed definition (micro-batch slicing invariance)."""
    from ocean_data_pipeline_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    streamed = (
        REGISTRY["pyds_stream_feed_rollup"].fn(spark, SF_SMOKE).collect()
    )
    batch = (
        spark.read.format("ocean_sensor_feed")
        .option("n_rows", 2000)
        .option("n_parts", 4)
        .load()
        .groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.sum("reading_centi").cast("bigint").alias("sum_centi"),
        )
        .orderBy("sensor_id")
        .collect()
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def test_pyds_feed_profile_scales_with_sf(spark):
    """Feed size is tied to the events row count (sf-proportional)."""
    from ocean_data_pipeline_spark.catalog import table

    rows = REGISTRY["pyds_sensor_feed_profile"].fn(spark, SF_ORACLE).collect()
    n_events = table(spark, SF_ORACLE, "events").count()
    assert sum(r.n_ticks for r in rows) == n_events


def test_tws_gate_or_equivalence(spark):
    """transformWithStateInPandas top-k: runs the streaming==batch
    equivalence when the runtime supports TWS (google.protobuf
    present), otherwise pins the honest NotImplementedError gate —
    the multimodal codec-gate pattern."""
    import pytest

    from ocean_data_pipeline_spark.streaming import tws

    ev_schema = "user_id BIGINT, event_id BIGINT, value DOUBLE"
    if not tws.tws_available():
        stream = (
            spark.readStream.format("rate").load()
            .selectExpr("value AS user_id", "value AS event_id",
                        "CAST(value AS DOUBLE) AS value")
        )
        with pytest.raises(NotImplementedError, match="protobuf"):
            tws.topk_per_user(stream)
        return

    import os
    import tempfile
    import uuid

    from ocean_data_pipeline_spark.catalog import table

    ev = (
        table(spark, SF_SMOKE, "events")
        .where("value IS NOT NULL AND user_id < 20")
        .select("user_id", "event_id", "value")
    )
    pdf = ev.toPandas().sort_values("event_id")
    src = tempfile.mkdtemp()
    half = len(pdf) // 2
    pdf.iloc[:half].to_json(os.path.join(src, "a.json"), orient="records", lines=True)
    pdf.iloc[half:].to_json(os.path.join(src, "b.json"), orient="records", lines=True)
    stream = (
        spark.readStream.schema(ev_schema).option("maxFilesPerTrigger", 1).json(src)
    )
    sink = f"tws_{uuid.uuid4().hex[:8]}"
    q = (
        tws.topk_per_user(stream)
        .writeStream.format("memory").queryName(sink).outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in spark.sql(
            f"""SELECT user_id, rank, value, event_id FROM (
                  SELECT *, max(n_seen) OVER (PARTITION BY user_id) AS mx
                  FROM {sink}) WHERE n_seen = mx
                ORDER BY user_id, rank"""
        ).collect()
    ]
    ev.createOrReplaceTempView("tws_batch_twin")
    want = [
        tuple(r)
        for r in spark.sql(
            """SELECT user_id, CAST(rn AS INT) AS rank, value, event_id FROM (
                 SELECT user_id, value, event_id,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY value DESC, event_id) AS rn
                 FROM tws_batch_twin) WHERE rn <= 3
               ORDER BY user_id, rank"""
        ).collect()
    ]
    assert got == want


def test_dtw_matches_python_reference(spark):
    """The shipped wavefront DTW (`dtw_nation_profiles`, unrolled
    diagonals) equals a classic nested-loop DP on the same extracted
    series (independent recompute, not the oracle)."""
    import math

    from ocean_data_pipeline_spark.catalog import register_views

    got = {
        (r.nation_a, r.nation_b): r.dtw_dist
        for r in REGISTRY["dtw_nation_profiles"].fn(spark, SF_SMOKE).collect()
    }
    register_views(spark, SF_SMOKE)
    # rebuild the gap-filled series independently
    rev = spark.sql(
        """SELECT n.n_name AS nation,
                  CAST(EXTRACT(MONTH FROM o.o_orderdate) AS INT) AS mo,
                  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN nation n ON n.n_nationkey = c.c_nationkey GROUP BY 1, 2"""
    ).collect()
    series: dict[str, list[float]] = {}
    for r in rev:
        series.setdefault(r.nation, [0.0] * 12)[r.mo - 1] = r.v

    def dtw(xs, ys):
        dp = [[math.inf] * 12 for _ in range(12)]
        for i in range(12):
            for j in range(12):
                c = abs(xs[i] - ys[j])
                if i == 0 and j == 0:
                    dp[i][j] = c
                else:
                    dp[i][j] = c + min(
                        dp[i - 1][j] if i > 0 else math.inf,
                        dp[i][j - 1] if j > 0 else math.inf,
                        dp[i - 1][j - 1] if i > 0 and j > 0 else math.inf,
                    )
        return dp[11][11]

    names = sorted(series)
    checked = 0
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            assert math.isclose(got[(a, b)], dtw(series[a], series[b]),
                                rel_tol=1e-12), (a, b)
            checked += 1
    assert checked == len(got) > 0


def test_bpe_merge_invariants(spark):
    """BPE merges: counts are non-increasing-compatible (a later merge
    can't beat an earlier one AT THE SAME ROUND — but counts may rise
    after symbol fusion, so the real invariants are structural):
    merged == pair without the space, pairs are over live symbols, and
    the corpus word-length bound assumed by the oracle holds."""
    from ocean_data_pipeline_spark.catalog import table

    rows = REGISTRY["bpe_learn_merges"].fn(spark, SF_ORACLE).collect()
    assert [r.merge_rank for r in rows] == list(range(1, 7))
    for r in rows:
        assert r.merged == r.pair.replace(" ", ""), r
        assert r.pair_count > 0, r
    # oracle bound: max word length + marker < _MAX_SYMS
    from ocean_data_pipeline_spark.operators.text import normalize_text

    max_len = (
        table(spark, SF_ORACLE, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w"))
        .agg(F.max(F.length("w")))
        .collect()[0][0]
    )
    from ocean_data_pipeline_spark.queries.bpe_ops import _MAX_SYMS

    assert max_len + 1 < _MAX_SYMS


def test_observe_metrics_match_aggregate(spark):
    """df.observe() accumulates metrics DURING a real write (noop sink)
    and must equal the standalone aggregate — the zero-extra-pass
    observability hook a 100 TB pipeline uses instead of re-scanning
    for row counts."""
    from pyspark.sql import Observation

    from ocean_data_pipeline_spark.catalog import table

    orders = table(spark, SF_ORACLE, "orders")
    obs = Observation("wave9_obs")
    df = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    ).collect()[0]
    assert got["n_rows"] == want.n_rows
    assert got["revenue"] == want.revenue


def test_fifo_allocates_min_of_supply_demand(spark):
    """FIFO with unconstrained band must allocate exactly
    min(total_supply, total_demand) per part — the conservation law of
    the cumulative-interval formulation."""
    rows = REGISTRY["fifo_lot_allocation"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.allocated_qty == min(r.supply_qty, r.demand_qty), r
        assert r.unmet_demand == r.demand_qty - r.allocated_qty, r
        assert r.leftover_supply == r.supply_qty - r.allocated_qty, r
