"""ResultCache.get: a driver-side point read of one bucket.

get() must return the same rows and schema as the Spark reference
`read().filter(query_hash == k).filter(expires_at > now)` in every cache
state the commit protocol produces, start no Spark job, and keep its
snapshot when a later commit vacuums the bucket it read.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.cache.result_cache import ResultCache
from tests.conftest import job_ids
from tests.test_cache_merge import _entries_df, _entry

AA = ["aa" + c * 14 for c in "0123"]  # live, expired, NULL expiry, micro
BB = "bb" + "0" * 14  # re-put with a newer fetched_at
CC = "cc" + "0" * 14  # expiry past 2262: INT96 overflows nanoseconds
KEYS = AA + [BB, CC, "aa" + "9" * 14, "zz" + "0" * 14]  # + absent key, absent bucket
NOWS = ["1999-01-01 00:00:00", "2050-01-01 00:00:00", "2050-01-01 00:00:00.000001"]


def _ts(s):
    return F.lit(s).cast("timestamp")


def _payload(h, fetched, expires, data):
    row = list(_entry(h, fetched, expires))
    row[6] = data
    return tuple(row)


def _puts(spark, cache):
    cache.put(_entries_df(spark, [
        _entry(AA[0], expires="2100-01-01 00:00:00"),
        _entry(AA[1], expires="2000-01-01 00:00:00"),
        _entry(AA[2], expires=None),
        _entry(AA[3], "2024-01-01 00:00:00.000001", "2050-01-01 00:00:00.000001"),
        _payload(BB, "2024-01-01 00:00:00", "2100-01-01 00:00:00", "old"),
        _entry(CC, expires="2300-01-01 00:00:00.000001"),
    ]))
    cache.put(_entries_df(spark, [_payload(BB, "2024-02-01 00:00:00", "2100-01-01 00:00:00", "new")]))
    # a stale retry of the first version loses to the newer fetched_at
    cache.put(_entries_df(spark, [_payload(BB, "2024-01-01 00:00:00", "2100-01-01 00:00:00", "old")]))


def _cleaned(spark, cache):
    """Cleanup rewrites bucket aa and hard-links bb and cc into its version."""
    _puts(spark, cache)
    assert cache.cleanup(now=_ts("2040-01-01")) == 2
    assert len(set(cache._read_manifest().values())) == 1


def _orphan(spark, cache):
    """A commit that crashed after its write and before the manifest flip
    leaves a version directory that no reader may see."""
    _puts(spark, cache)
    cache._write(_entries_df(spark, [
        _payload(AA[0], "2030-01-01 00:00:00", "2100-01-01 00:00:00", "orphan"),
        _payload(AA[3], "2030-01-01 00:00:00", "2100-01-01 00:00:00", "orphan"),
    ]), "v_000099")
    assert os.path.isdir(os.path.join(cache.path, "v_000099", "key_bucket=aa"))


@pytest.mark.parametrize("build", [_puts, _cleaned, _orphan])
def test_get_equals_spark_reference(spark, tmp_path, build):
    cache = ResultCache(spark, str(tmp_path / "cache"))
    build(spark, cache)
    for now in NOWS:
        ref = cache.read().filter(F.col("expires_at") > _ts(now))
        want = {}
        for r in ref.collect():
            want.setdefault(r["query_hash"], []).append(r)
        for k in KEYS:
            got = cache.get(k, _ts(now))
            assert got.schema == ref.schema, k
            assert got.collect() == want.get(k, []), (k, now)
    assert [r["data_json"] for r in cache.get(BB, _ts(NOWS[1])).collect()] == ["new"]


def test_get_keeps_instants_under_any_session_time_zone(spark, tmp_path):
    """The parquet INT96 values are UTC instants; the Arrow cast to the
    schema's UTC type keeps them when the session zone is not UTC."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    _puts(spark, cache)
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        for k in (AA[3], CC):
            for now in NOWS:
                want = cache.read().filter(F.col("query_hash") == k).filter(F.col("expires_at") > _ts(now))
                assert cache.get(k, _ts(now)).collect() == want.collect(), (k, now)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_get_starts_no_job(spark, tmp_path):
    cache = ResultCache(spark, str(tmp_path / "cache"))
    _puts(spark, cache)
    with job_ids(spark) as jobs:
        hit = cache.get(AA[0], _ts(NOWS[1]))
        miss = cache.get("zz" + "0" * 14, F.current_timestamp())
        assert len(hit.collect()) == 1 and miss.collect() == []
    assert jobs == []
    assert "PythonRDD" not in hit._jdf.queryExecution().toRdd().toDebugString()


def test_get_frame_is_a_snapshot(spark, tmp_path):
    """A put to the same bucket vacuums the directory get() read; the
    frame still returns the rows that were current when it was made."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    _puts(spark, cache)
    before = cache._read_manifest()["bb"]
    got = cache.get(BB, _ts(NOWS[1]))
    cache.put(_entries_df(spark, [_payload(BB, "2024-03-01 00:00:00", "2100-01-01 00:00:00", "newer")]))
    assert not os.path.exists(os.path.join(cache.path, before, "key_bucket=bb"))
    assert [r["data_json"] for r in got.collect()] == ["new"]
    assert [r["data_json"] for r in cache.get(BB, _ts(NOWS[1])).collect()] == ["newer"]
