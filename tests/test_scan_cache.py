"""The catalog scan-relation cache (round 11) must reuse the lazy
relation within ONE session and never across sessions: a DataFrame
binds to the SQLConf of the session that built it, so handing a
cached relation to an isolated `newSession()` (or vice versa) would
silently execute under the wrong plan-time confs — exactly the bug
the bloom_join_urgent_revenue plan gate caught during the round.
Entries of a stopped session are dropped on the next miss, so the cache
stays bounded by the live sessions.
"""

from __future__ import annotations

from types import SimpleNamespace

from tests.conftest import SF_ORACLE

from ocean_data_pipeline_spark import catalog
from ocean_data_pipeline_spark.catalog import table


def test_same_session_reuses_relation(spark):
    a = table(spark, SF_ORACLE, "orders")
    b = table(spark, SF_ORACLE, "orders")
    assert a is b


def test_spread_variant_cached_separately(spark):
    a = table(spark, SF_ORACLE, "orders")
    b = table(spark, SF_ORACLE, "orders", spread=True)
    assert a is not b
    assert table(spark, SF_ORACLE, "orders", spread=True) is b


def test_new_session_builds_fresh_relation(spark):
    parent = table(spark, SF_ORACLE, "lineitem")
    sub = spark.newSession()
    child = table(sub, SF_ORACLE, "lineitem")
    assert child is not parent
    # and the child's relation must belong to the child session
    assert child.sparkSession is sub
    # the parent keeps its own entry
    assert table(spark, SF_ORACLE, "lineitem") is parent


def test_miss_drops_stopped_session_entries(spark, monkeypatch):
    sub = spark.newSession()
    monkeypatch.setattr(catalog, "_SCAN_CACHE", {})
    shared = table(spark, SF_ORACLE, "orders")
    child = table(sub, SF_ORACLE, "orders")
    # A stopped SparkContext has `_jsc = None`: its relation can never
    # run again, so it must not outlive the next miss.
    dead_key = ("dead-session", SF_ORACLE, "orders", False)
    catalog._SCAN_CACHE[dead_key] = SimpleNamespace(
        sparkSession=SimpleNamespace(_sc=SimpleNamespace(_jsc=None))
    )
    table(spark, SF_ORACLE, "region")  # a miss
    assert dead_key not in catalog._SCAN_CACHE
    assert len(catalog._SCAN_CACHE) == 3
    assert table(spark, SF_ORACLE, "orders") is shared
    assert table(sub, SF_ORACLE, "orders") is child
