"""Runtime Bloom-filter join posture (the 100 TB shuffle-reduction
lever): with spark.sql.optimizer.runtime.bloomFilter.enabled, a
selective filter on the dim side of a shuffle join is turned into a
`might_contain(bloom_filter_agg(keys))` semi-filter injected on the
FACT scan — fact rows that cannot match are dropped before the
shuffle. At test scale the size thresholds must be lowered (the
application-side scan is nowhere near the 10 GB default floor); at
production scale the defaults fire on their own.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from tests.conftest import SF_ORACLE, confs


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _join(spark):
    li = table(spark, SF_ORACLE, "lineitem")
    orders = table(spark, SF_ORACLE, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


BLOOM_ON = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # bloom targets shuffle joins
}


def test_bloom_filter_injected_on_fact_scan(spark):
    with confs(spark, BLOOM_ON):
        plan = _plan(spark, _join(spark))
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan
    # the filter keys off the FACT side's join key
    assert "xxhash64(l_orderkey" in plan


def test_bloom_filter_preserves_results(spark):
    want = [tuple(r) for r in _join(spark).collect()]
    with confs(spark, BLOOM_ON):
        got = [tuple(r) for r in _join(spark).collect()]
    assert got == want and len(want) > 0
