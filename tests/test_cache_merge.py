"""MERGE semantics (operators.merge) and the cache's bucket-scoped
upsert: writes must rewrite ONLY the key-prefix buckets they touch.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from ocean_data_pipeline_spark.cache.result_cache import CACHE_SCHEMA, ResultCache
from ocean_data_pipeline_spark.operators.merge import merge_keep_latest
from tests.conftest import job_ids


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long, ver long")


def test_merge_keep_latest_is_replay_safe(spark):
    target = _df(spark, [("a", 1, 10), ("b", 2, 10)])
    stale_retry = _df(spark, [("b", 99, 5), ("c", 3, 5)])  # b stale -> loses
    got = {
        r["k"]: (r["v"], r["ver"])
        for r in merge_keep_latest(target, stale_retry, ["k"], "ver").collect()
    }
    assert got == {"a": (1, 10), "b": (2, 10), "c": (3, 5)}


def _entry(
    h: str, fetched: str = "2024-01-01 00:00:00", expires: str | None = "2100-01-01 00:00:00"
):
    return (
        h, 30.0, -80.0, "1955-01-01", "1955-12-31", '["temperature"]',
        "[]", 0, fetched, expires, 10,
    )


def _entries_df(spark, rows):
    df = spark.createDataFrame(
        [r[:8] + (r[8], r[9], r[10]) for r in rows],
        "query_hash string, latitude double, longitude double, start_date string, "
        "end_date string, variables string, data_json string, row_count long, "
        "fetched_s string, expires_s string, file_size_bytes long",
    )
    return df.select(
        "query_hash", "latitude", "longitude", "start_date", "end_date", "variables",
        "data_json", "row_count",
        F.col("fetched_s").cast("timestamp").alias("fetched_at"),
        F.col("expires_s").cast("timestamp").alias("expires_at"),
        "file_size_bytes",
    )


def _bucket_files(cache, bucket):
    return sorted(
        glob.glob(os.path.join(cache.path, "v_*", f"key_bucket={bucket}", "*.parquet"))
    )


def test_put_rewrites_only_touched_buckets(spark, tmp_path):
    cache = ResultCache(spark, str(tmp_path / "cache"))
    # seed two buckets: aa... and bb...
    cache.put(_entries_df(spark, [
        _entry("aa" + "0" * 14, "2024-01-01 00:00:00"),
        _entry("bb" + "0" * 14, "2024-01-01 00:00:00"),
    ]))
    aa_files = _bucket_files(cache, "aa")
    aa_mtimes = [os.path.getmtime(f) for f in aa_files]
    assert aa_files and _bucket_files(cache, "bb")

    # upsert into bb only: newer row must win; aa files must be untouched
    cache.put(_entries_df(spark, [_entry("bb" + "0" * 14, "2024-02-01 00:00:00")]))
    assert _bucket_files(cache, "aa") == aa_files
    assert [os.path.getmtime(f) for f in aa_files] == aa_mtimes

    rows = {r["query_hash"]: r for r in cache.read().collect()}
    assert len(rows) == 2
    assert rows["bb" + "0" * 14]["fetched_at"].isoformat() == "2024-02-01T00:00:00"


def test_put_empty_batch_is_noop(spark, tmp_path):
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(spark.createDataFrame([], CACHE_SCHEMA))
    assert not os.path.exists(cache.path)


def test_put_writes_touched_set_once_and_vacuums(spark, tmp_path):
    """The commit writes each touched bucket into exactly ONE live
    version directory (no staging double-write) and vacuums superseded
    bucket dirs, so disk holds one copy of every bucket."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [_entry("aa" + "0" * 14, "2024-01-01 00:00:00")]))
    cache.put(_entries_df(spark, [_entry("aa" + "0" * 14, "2024-02-01 00:00:00")]))
    aa_dirs = {
        os.path.dirname(f) for f in _bucket_files(cache, "aa")
    }
    assert len(aa_dirs) == 1  # superseded version vacuumed
    assert not glob.glob(os.path.join(cache.path, "*.tmp"))


def test_put_recovers_from_crashed_commit(spark, tmp_path):
    """A put that crashed AFTER writing its version dir but BEFORE the
    manifest flip leaves an unreferenced (orphan) version directory.
    Readers never see it; the next successful commit vacuums it."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [_entry("aa" + "0" * 14, "2024-01-01 00:00:00")]))
    # simulate the crash: orphan version dir + stale manifest sidecar
    orphan = os.path.join(cache.path, "v_000099", "key_bucket=zz")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "orphan"), "w") as f:
        f.write("crash leftovers")
    with open(os.path.join(cache.path, "_manifest.json.tmp"), "w") as f:
        f.write("{half-written")

    # the orphan is invisible to reads (manifest is authoritative)
    assert {r["query_hash"] for r in cache.read().collect()} == {"aa" + "0" * 14}

    cache.put(_entries_df(spark, [_entry("bb" + "0" * 14, "2024-02-01 00:00:00")]))
    assert not os.path.exists(os.path.join(cache.path, "v_000099"))
    rows = {r["query_hash"] for r in cache.read().collect()}
    assert rows == {"aa" + "0" * 14, "bb" + "0" * 14}


def test_cleanup_and_clear_reclaim_space(spark, tmp_path):
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [
        _entry("aa" + "0" * 14, "2024-01-01 00:00:00"),
        _entry("bb" + "0" * 14, "2024-01-01 00:00:00"),
    ]))
    # fixed "now" far in the future: everything expires
    removed = cache.cleanup(now=F.lit("2200-01-01").cast("timestamp"))
    assert removed == 2
    assert cache.read().count() == 0
    cache.clear()
    assert not glob.glob(os.path.join(cache.path, "v_*"))
    assert cache.read().count() == 0


def _now_2050():
    return F.lit("2050-01-01").cast("timestamp")


def _file_ids(cache, bucket):
    """basename -> (inode, mtime): equal before and after means the
    bucket's bytes were not rewritten, wherever its directory lives."""
    return {
        os.path.basename(f): (os.stat(f).st_ino, os.stat(f).st_mtime_ns)
        for f in _bucket_files(cache, bucket)
    }


def test_cleanup_rewrites_only_expired_buckets(spark, tmp_path):
    """Cleanup cost follows the expired set: a bucket with no expired
    rows keeps its files (same inodes, same mtimes), the partly expired
    bucket keeps its survivor, and the table ends in one version."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [_entry("aa" + "0" * 14, expires="2100-01-01 00:00:00")]))
    cache.put(_entries_df(spark, [
        _entry("bb" + "0" * 14, expires="2000-01-01 00:00:00"),
        _entry("bb" + "1" * 14, expires="2100-01-01 00:00:00"),
    ]))
    aa_files = _file_ids(cache, "aa")
    assert aa_files and len(glob.glob(os.path.join(cache.path, "v_*"))) == 2

    assert cache.cleanup(now=_now_2050()) == 1
    assert _file_ids(cache, "aa") == aa_files
    assert len(glob.glob(os.path.join(cache.path, "v_*"))) == 1
    assert {r["query_hash"] for r in cache.read().collect()} == {
        "aa" + "0" * 14, "bb" + "1" * 14,
    }


def test_cleanup_drops_fully_expired_bucket(spark, tmp_path):
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [
        _entry("aa" + "0" * 14, expires="2100-01-01 00:00:00"),
        _entry("bb" + "0" * 14, expires="2000-01-01 00:00:00"),
    ]))
    assert cache.cleanup(now=_now_2050()) == 1
    assert set(cache._read_manifest()) == {"aa"}
    assert not glob.glob(os.path.join(cache.path, "v_*", "key_bucket=bb"))
    # nothing left to expire: no commit, no new version directory
    versions = sorted(glob.glob(os.path.join(cache.path, "v_*")))
    assert cache.cleanup(now=_now_2050()) == 0
    assert sorted(glob.glob(os.path.join(cache.path, "v_*"))) == versions


def test_cleanup_counts_null_expiry_as_expired(spark, tmp_path):
    """`expires_at > now` is not true for a NULL expiry, so the row is
    dropped, and the returned count includes it."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [
        _entry("aa" + "0" * 14, expires=None),
        _entry("aa" + "1" * 14, expires="2100-01-01 00:00:00"),
        _entry("cc" + "0" * 14, expires=None),
    ]))
    assert cache.cleanup(now=_now_2050()) == 2
    assert [r["query_hash"] for r in cache.read().collect()] == ["aa" + "1" * 14]
    assert set(cache._read_manifest()) == {"aa"}


def test_cleanup_returns_rows_removed(spark, tmp_path):
    cache = ResultCache(spark, str(tmp_path / "cache"))
    rows = [
        _entry(f"{b}{i:014d}", expires=exp)
        for b in ("aa", "bb", "cc", "dd")
        for i, exp in enumerate(["2000-01-01 00:00:00", "2100-01-01 00:00:00", None])
    ]
    cache.put(_entries_df(spark, rows))
    before = cache.read().count()
    removed = cache.cleanup(now=_now_2050())
    assert removed == before - cache.read().count() == 8


def test_put_leaves_no_persistent_rdds(spark, tmp_path):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [_entry("aa" + "0" * 14, "2024-01-01 00:00:00")]))
    cache.put(spark.createDataFrame([], CACHE_SCHEMA))  # the early-return path
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_put_scans_its_input_once(spark, tmp_path):
    """The bucket probe and the merge write share one evaluation of the
    caller's frame: a counting UDF over the entries sees each row once."""
    seen = spark.sparkContext.accumulator(0)

    def count(h):
        seen.add(1)
        return h

    counted = F.udf(count, "string")
    rows = [_entry(f"{b}" + "0" * 14, "2024-01-01 00:00:00") for b in ("aa", "bb", "cc")]
    entries = _entries_df(spark, rows).withColumn("query_hash", counted("query_hash"))
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(entries)
    assert seen.value == len(rows)
    assert cache.read().count() == len(rows)


def test_empty_frame_has_no_python_rdd(spark, tmp_path):
    empty = ResultCache(spark, str(tmp_path / "cache"))._empty()
    assert empty.schema == spark.createDataFrame([], CACHE_SCHEMA).schema
    assert "PythonRDD" not in empty._jdf.queryExecution().toRdd().toDebugString()
    assert empty.count() == 0


def test_one_row_put_runs_three_jobs(spark, tmp_path):
    """A miss's put of a list-built one-row frame: one observed `noop`
    write, then the keep-latest merge's map job and write, whether its
    bucket is new or stored."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [_entry("aa" + "0" * 14)]))
    new_key = _entries_df(spark, [_entry("bb" + "0" * 14)])
    with job_ids(spark) as new_bucket:
        cache.put(new_key)
    refresh = _entries_df(spark, [_entry("bb" + "0" * 14, "2024-02-01 00:00:00")])
    with job_ids(spark) as stored_bucket:
        cache.put(refresh)
    assert len(new_bucket) <= 3 and len(stored_bucket) <= 3
    rows = {r["query_hash"]: r["fetched_at"].isoformat() for r in cache.read().collect()}
    assert rows == {"aa" + "0" * 14: "2024-01-01T00:00:00", "bb" + "0" * 14: "2024-02-01T00:00:00"}


def test_put_keeps_the_newest_row(spark, tmp_path):
    """Store an older row for key K, then put a batch holding two rows
    for K (neither the oldest) and one for a new key L in the same
    bucket: the newest row per key is kept."""
    k, l = "aa" + "0" * 14, "aa" + "1" * 14
    cache = ResultCache(spark, str(tmp_path / "cache"))
    cache.put(_entries_df(spark, [_entry(k, "2024-01-01 00:00:00")]))
    cache.put(_entries_df(spark, [
        _entry(k, "2024-03-01 00:00:00"),
        _entry(k, "2024-02-01 00:00:00"),
        _entry(l, "2024-02-15 00:00:00"),
    ]))
    fetched = {r["query_hash"]: r["fetched_at"].isoformat() for r in cache.read().collect()}
    assert fetched == {k: "2024-03-01T00:00:00", l: "2024-02-15T00:00:00"}
