"""ResultCache.stats, nearby and cleanup's census: driver-side reads.

Each must equal the Spark formulation it replaces (written out below as
`_ref_*`): same rows, same order, same column types, in every cache
state the commit protocol produces, under a non-UTC session zone, and
for a NULL `now`. stats and nearby start no Spark job, and neither does
a cleanup whose expired buckets hold no survivors. A perfbench-shaped
serving block runs jobs only in its puts.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.cache.result_cache import CACHE_SCHEMA, ResultCache
from tests.conftest import confs, job_ids
from tests.test_cache_get import NOWS, _cleaned, _orphan, _puts, _ts
from tests.test_cache_merge import _entries_df, _entry

#: `now` values, as _ts() arguments; None is a NULL `now`
ALL_NOWS = NOWS + ["2040-01-01 00:00:00", None]

#: (lat, lon, radius) probes: the entries of test_cache_get all sit at
#: (30, -80), so they tie at l1 = 0; (10, 20, 1) meets the _spread
#: points; (-65.8, 20, 2.6) meets a point inside the exact test that
#: widened bounds (x - r < lat < x + r) would drop; (0, 0, 1) meets none.
PROBES = [(30.0, -80.0, 0.5), (10.0, 20.0, 1.0), (-65.8, 20.0, 2.6), (0.0, 0.0, 1.0)]
WIDENED_MISS = -68.39999999999999


def _at(h, lat, lon, expires="2100-01-01 00:00:00"):
    row = list(_entry(h, expires=expires))
    row[1], row[2] = lat, lon
    return tuple(row)


def _k(prefix, c="0"):
    return prefix + c * 14


def _empty(spark, cache):
    """No commit at all: no manifest on disk."""


def _spread(spark, cache):
    """Points around (10, 20) in two puts, so a cleanup also relinks."""
    cache.put(_entries_df(spark, [
        _at(_k("d0"), 11.0, 20.0),  # exactly radius 1 away in lat: excluded
        _at(_k("d1"), 10.0, 19.0),  # exactly radius 1 away in lon: excluded
        _at(_k("d2", "1"), 10.5, 20.25),  # l1 0.75, ties with the next two
        _at(_k("d2"), 10.5, 20.25),
        _at(_k("d3"), 9.75, 20.5),
        _at(_k("d4"), 10.0, 20.0, expires="2000-01-01 00:00:00"),  # expired
    ]))
    cache.put(_entries_df(spark, [
        _at(_k("d5"), WIDENED_MISS, 20.0),
        _at(_k("d6"), None, 20.0),  # NULL latitude: never within radius
        _at(_k("d7"), 10.9, 20.0, expires=None),  # NULL expiry: not live
    ]))


BUILDS = [_empty, _puts, _cleaned, _orphan, _spread]


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """Each cache state, built once; tests that write copy it first."""
    out = {}
    for build in BUILDS:
        cache = ResultCache(spark, str(tmp_path_factory.mktemp(build.__name__) / "cache"))
        build(spark, cache)
        out[build.__name__] = cache.path
    return out


@pytest.fixture(params=["UTC", "America/Los_Angeles"])
def zone(spark, request):
    with confs(spark, {"spark.sql.session.timeZone": request.param}):
        yield request.param


# -- the Spark formulations the driver-side reads replace ---------------


def _ref_stats(cache, now):
    active = F.when(F.col("expires_at") > now, F.lit(1))
    return cache.read().agg(
        F.count(F.lit(1)).alias("total_entries"),
        F.count(active).alias("active_entries"),
        (F.count(F.lit(1)) - F.count(active)).alias("expired_entries"),
        F.sum("file_size_bytes").alias("total_bytes"),
        F.min("fetched_at").alias("oldest_fetch"),
        F.max("fetched_at").alias("newest_fetch"),
    )


def _ref_nearby(cache, lat, lon, radius, now):
    d_lat = F.abs(F.col("latitude") - F.lit(lat))
    d_lon = F.abs(F.col("longitude") - F.lit(lon))
    return (
        cache.read().filter(F.col("expires_at") > now)
        .filter((d_lat < radius) & (d_lon < radius))
        .withColumn("l1_distance", d_lat + d_lon)
        .withColumn(
            "l2_distance",
            F.sqrt(F.pow(F.col("latitude") - F.lit(lat), 2) + F.pow(F.col("longitude") - F.lit(lon), 2)),
        )
        .orderBy("l1_distance", "query_hash")
    )


def _ref_census(cache, now):
    live = F.coalesce(F.col("expires_at") > now, F.lit(False))
    return (
        cache.read()
        .groupBy(F.substring("query_hash", 1, 2).alias("b"))
        .agg(F.count(F.lit(1)).alias("rows"), F.count(F.when(~live, F.lit(1))).alias("expired"))
        .collect()
    )


def _same(got, want):
    assert got.schema == want.schema
    assert got.collect() == want.collect()


# -- equality with the Spark formulations -------------------------------


@pytest.mark.parametrize("state", [b.__name__ for b in BUILDS])
def test_stats_and_nearby_equal_spark(spark, states, zone, state):
    cache = ResultCache(spark, states[state])
    for now in map(_ts, ALL_NOWS):
        _same(cache.stats(now), _ref_stats(cache, now))
        for lat, lon, radius in PROBES:
            _same(cache.nearby(lat, lon, radius, now), _ref_nearby(cache, lat, lon, radius, now))


@pytest.mark.parametrize("state", [b.__name__ for b in BUILDS])
def test_cleanup_equals_spark_census(spark, states, tmp_path, zone, state):
    for i, now in enumerate(map(_ts, ALL_NOWS)):
        cache = ResultCache(spark, str(tmp_path / f"c{i}"))
        if os.path.exists(states[state]):
            shutil.copytree(states[state], cache.path)
        census = _ref_census(cache, now)
        live = F.coalesce(F.col("expires_at") > now, F.lit(False))
        want = sorted(cache.read().filter(live).collect(), key=lambda r: r["query_hash"])
        assert cache.cleanup(now) == sum(r["expired"] for r in census), (state, i)
        assert sorted(cache.read().collect(), key=lambda r: r["query_hash"]) == want, (state, i)
        assert set(cache._read_manifest()) == {r["b"] for r in census if r["rows"] > r["expired"]}


def test_empty_cache_stats_are_zero_counts_and_null_aggregates(spark, states):
    row = ResultCache(spark, states["_empty"]).stats().collect()
    assert [tuple(r) for r in row] == [(0, 0, 0, None, None, None)]


def test_nearby_excludes_the_radius_and_breaks_l1_ties_by_key(spark, states):
    cache = ResultCache(spark, states["_spread"])
    now = _ts(NOWS[1])
    got = [r["query_hash"] for r in cache.nearby(10.0, 20.0, 1.0, now).collect()]
    assert got == [_k("d2"), _k("d2", "1"), _k("d3")]
    assert [r["query_hash"] for r in cache.nearby(-65.8, 20.0, 2.6, now).collect()] == [_k("d5")]
    assert not (-65.8 - 2.6 < WIDENED_MISS < -65.8 + 2.6)
    assert cache.nearby(10.0, 20.0, 1.0, _ts(None)).collect() == []


# -- job counts ----------------------------------------------------------


def test_stats_nearby_and_a_survivorless_cleanup_start_no_job(spark, states, tmp_path):
    cache = ResultCache(spark, str(tmp_path / "cache"))
    shutil.copytree(states["_spread"], cache.path)
    now = _ts("2040-01-01 00:00:00")
    with job_ids(spark) as jobs:
        assert cache.stats(now).collect()[0]["active_entries"] == 7
        assert len(cache.nearby(10.0, 20.0, 1.0, now).collect()) == 3
        assert cache.cleanup(now) == 2  # d4 and d7, each alone in its bucket
    assert jobs == []
    assert len(set(cache._read_manifest().values())) == 1


def test_a_serving_block_runs_jobs_only_in_its_puts(spark, tmp_path):
    """One block in perfbench ingest_serve's order: a new key, 10
    repeats, a refresh of an expired key, stats, nearby and a cleanup.
    A put is 3 jobs; a get, stats, nearby and this cleanup are 0."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    utc = dt.timezone.utc
    now = dt.datetime(2024, 6, 1, tzinfo=utc)
    now_col = F.lit(now.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
    popular, new, stale, gone = _k("a1"), _k("b2"), _k("c3"), _k("d4")

    def entry(key, fetched):
        return (key, 30.0, -80.0, "1955-01-01", "1955-12-31", '["temperature"]', "[]", 0,
                fetched, fetched + dt.timedelta(hours=24), 2)

    day_ago = now - dt.timedelta(hours=30)
    cache.put(spark.createDataFrame(
        [entry(popular, now - dt.timedelta(hours=1)), entry(stale, day_ago), entry(gone, day_ago)],
        CACHE_SCHEMA,
    ))

    def get(key):
        if not cache.get(key, now_col).collect():
            cache.put(spark.createDataFrame([entry(key, now)], CACHE_SCHEMA))
            return "put"
        return "hit"

    ops = {
        "new": lambda: get(new),
        "repeat": lambda: get(popular),
        "refresh": lambda: get(stale),
        "stats": lambda: cache.stats(now_col).collect()[0]["active_entries"],
        "nearby": lambda: len(cache.nearby(30.0, -80.0, 0.5, now_col).collect()),
        "cleanup": lambda: cache.cleanup(now_col),
    }
    block = ["new", "repeat", "repeat", "stats", "repeat", "repeat", "repeat", "refresh",
             "repeat", "repeat", "nearby", "repeat", "repeat", "repeat", "cleanup"]
    ran = []
    for kind in block:
        with job_ids(spark) as jobs:
            result = ops[kind]()
        ran.append((kind, result, len(jobs)))
    want = [(k, "put", 3) if k in ("new", "refresh") else (k, "hit", 0) for k in block]
    want[3] = ("stats", 2, 0)
    want[10] = ("nearby", 3, 0)
    want[14] = ("cleanup", 1, 0)
    assert ran == want
    assert sum(n for _, _, n in ran) == 6
