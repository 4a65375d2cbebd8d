"""Keyed TTL result cache (SURVEY.md §2-A src-cache/sink-cache, §4;
reference cache_manager.py).

The reference caches query results in SQLite keyed by a SHA-256 of
normalized parameters, with 24 h TTL, a 100 MB admission guard, upsert
(INSERT OR REPLACE), expired-row cleanup, stats aggregates, and a
nearby-coordinates range lookup (cache_manager.py:34-337). Here the
cache is an ordinary parquet table. Reads are served on the driver:
one pyarrow reader (`_scan`) reads the manifest's current bucket
directories, and the result becomes a local relation, so no read
starts a Spark job:

- get      = the key's one bucket, key filter pushed into the scan;
             the TTL test is a Spark filter Catalyst folds into the rows
- stats    = the six aggregates over three columns, in pyarrow.compute
- nearby   = the radius test as a batch-wise scan filter, sorted by
             (l1, query_hash); TTL and distance columns stay Spark
             expressions, folded the same way
- cleanup  = its per-bucket census (rows, expired rows)

Writes are Spark jobs:

- upsert   = one observed `noop` write that persists the batch and
             returns its buckets, then unionByName + keep-latest window
             dedup + atomic bucket swap
- cleanup  = a liveness-filter rewrite of only the buckets that hold
             both expired rows and survivors; the other buckets are
             dropped or hard-linked

Storage layout — versioned buckets behind a manifest (a minimal
commit log, the pattern Delta/Iceberg generalize):

    <path>/_manifest.json        {"buckets": {"ab": "v_000007", ...}}
    <path>/v_000007/key_bucket=ab/part-*.parquet
    <path>/v_000007/key_bucket=cd/part-*.parquet

A commit writes the merged TOUCHED buckets into a fresh `v_NNNNNN`
directory (ONE write of the write set — no staging+overwrite double
write), then atomically flips the manifest via os.replace. A crash
before the flip leaves an unreferenced version directory (garbage,
removed by the next commit's vacuum) and the table stays authoritative
at the previous manifest — readers never observe a partial commit.

Scale posture: the key space is bucketed by a 2-hex-char prefix (256
buckets) so point lookups read exactly one bucket directory, upserts
rewrite only touched buckets and cleanup rewrites only buckets holding
expired rows — cost follows the WRITE SET, not the table size (the
parquet analog of the reference's B-tree index on query_hash,
cache_manager.py:51-53). Cleanup hard-links the untouched buckets'
files into its new version directory (no byte rewritten), so the
version directories that puts accumulate collapse back into one.
The whole-table reads (stats, nearby, the census) scan every live
bucket on the driver, but only the columns they use, and nearby keeps
only its matches.

Deployment contract: `path` must be a LOCAL filesystem path — the
manifest flip (os.replace), vacuum (os.listdir/shutil.rmtree),
cleanup's relink (os.link) and the driver-side reads are local-FS
operations. On an object store or HDFS, use a real table format with a
commit log (Delta/Iceberg) instead; this class is the single-node/NFS
twin of that design.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ocean_data_pipeline_spark.operators.merge import merge_keep_latest

#: Reference config.py:58-63: the TTL a writer stamps into `expires_at`
#: (the cache itself only compares `expires_at` with `now`).
DEFAULT_TTL_HOURS = 24
MAX_ENTRY_BYTES = 100 * 1024 * 1024  # admission guard, cache_manager.py:148-150

MANIFEST = "_manifest.json"

CACHE_SCHEMA = (
    "query_hash string, latitude double, longitude double, "
    "start_date string, end_date string, variables string, "
    "data_json string, row_count long, fetched_at timestamp, "
    "expires_at timestamp, file_size_bytes long"
)

#: stats(): the types of Spark's aggregates (a count is never NULL).
STATS_SCHEMA = (
    "total_entries long not null, active_entries long not null, "
    "expired_entries long not null, total_bytes long, "
    "oldest_fetch timestamp, newest_fetch timestamp"
)

#: Spark writes timestamps as INT96; read them as microseconds, since
#: nanoseconds overflow past 2262.
_PARQUET = pads.ParquetFileFormat(
    read_options=pads.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


@dataclass
class ResultCache:
    """Parquet-backed keyed TTL cache with atomic manifest commits."""

    spark: SparkSession
    path: str

    @functools.cached_property
    def _arrow_schema(self) -> pa.Schema:
        """CACHE_SCHEMA as Arrow; the DDL parse is a JVM call, so once."""
        return to_arrow_schema(StructType.fromDDL(CACHE_SCHEMA))

    @functools.cached_property
    def _stats_schema(self) -> pa.Schema:
        return to_arrow_schema(StructType.fromDDL(STATS_SCHEMA))

    def _empty(self) -> DataFrame:
        """Zero-row cache frame built from an empty Arrow table: a local
        relation, so a miss scans no Python RDD (no Python workers)."""
        return self.spark.createDataFrame(self._arrow_schema.empty_table())

    # -- manifest (the commit log) -------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _read_manifest(self) -> dict[str, str]:
        """bucket (2-hex prefix) -> version dir currently holding it."""
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)["buckets"]
        except FileNotFoundError:
            return {}

    def _write_manifest(self, buckets: dict[str, str]) -> None:
        """Atomic flip: write sidecar, fsync, os.replace (POSIX-atomic).
        Readers see either the old or the new manifest, never a blend."""
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"buckets": buckets}, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())

    def _next_version(self) -> str:
        """Monotonic version id; tolerates malformed/orphan dir names."""
        nums = []
        if os.path.exists(self.path):
            for d in os.listdir(self.path):
                if d.startswith("v_"):
                    try:
                        nums.append(int(d[2:]))
                    except ValueError:
                        pass
        return f"v_{max(nums, default=0) + 1:06d}"

    def _vacuum(self, manifest: dict[str, str]) -> None:
        """Remove bucket dirs (and whole version dirs) the manifest no
        longer references: superseded buckets and crash orphans. Safe to
        run any time — never touches referenced data."""
        live = {(v, f"key_bucket={b}") for b, v in manifest.items()}
        live_versions = {v for v, _ in live}
        for d in os.listdir(self.path):
            if not d.startswith("v_"):
                continue
            vdir = os.path.join(self.path, d)
            if d not in live_versions:
                shutil.rmtree(vdir, ignore_errors=True)
                continue
            for sub in os.listdir(vdir):
                if sub.startswith("key_bucket=") and (d, sub) not in live:
                    shutil.rmtree(os.path.join(vdir, sub), ignore_errors=True)

    def _dirs(self, manifest: dict[str, str], buckets) -> list[str]:
        """The requested buckets' current directories (absent ones skipped)."""
        return [
            os.path.join(self.path, manifest[b], f"key_bucket={b}")
            for b in sorted(set(buckets))
            if b in manifest
        ]

    def _read_buckets(self, manifest: dict[str, str], buckets) -> DataFrame:
        """Spark scan of exactly the requested buckets' current directories.

        The bucket id is directory metadata, not a data column, so no
        partition-column drop is needed; the explicit schema keeps the
        scan footer-merge-free."""
        dirs = self._dirs(manifest, buckets)
        if not dirs:
            return self._empty()
        return self.spark.read.schema(CACHE_SCHEMA).parquet(*dirs)

    def _scan(
        self, manifest: dict[str, str], buckets, columns, where: pc.Expression | None = None
    ) -> pa.Table:
        """Driver-side read of `columns` from the buckets' current files,
        keeping the rows that pass `where`. The filter is applied batch
        by batch, so only matches accumulate. Hidden files (`.crc`,
        `_SUCCESS`) are skipped, as Spark skips them.

        The INT96 timestamps come back as naive microsecond UTC instants
        and are cast to the schema's UTC type, which keeps their instant
        under any session time zone."""
        schema = pa.schema([self._arrow_schema.field(c) for c in columns])
        files = [
            os.path.join(d, name)
            for d in self._dirs(manifest, buckets)
            for name in sorted(os.listdir(d))
            if not name.startswith((".", "_"))
        ]
        if not files:
            return schema.empty_table()
        return pads.dataset(files, format=_PARQUET).to_table(columns, filter=where).cast(schema)

    def _micros(self, now: F.Column) -> int | None:
        """`now` as UTC microseconds (None for NULL), evaluated once. The
        select over a one-row local relation is folded by Catalyst, so
        it starts no Spark job."""
        one = self.spark.createDataFrame(pa.table({"one": [1]}))
        return one.select(F.unix_micros(now)).collect()[0][0]

    def _alive(self, expires_at: pa.ChunkedArray, now: int | None) -> pa.ChunkedArray:
        """`expires_at > now`, with a NULL on either side not live."""
        now = pa.scalar(now, self._arrow_schema.field("expires_at").type)
        return pc.fill_null(pc.greater(expires_at, now), False)

    # -- read path -----------------------------------------------------

    def read(self) -> DataFrame:
        manifest = self._read_manifest()
        if not manifest:
            return self._empty()
        return self._read_buckets(manifest, manifest.keys())

    def get(self, query_hash: str, now: F.Column | None = None) -> DataFrame:
        """Point lookup by key, served on the driver: the manifest names
        the key's one bucket directory, pyarrow reads the key's rows from
        it (the key filter is pushed into the parquet scan), and the rows
        become a local relation. The TTL test `expires_at > now` stays a
        Spark filter, so `now` may be any Column and a NULL expiry is not
        live; Catalyst folds it into the local relation, so get() plus
        collect() starts no Spark job.

        The frame is an eager snapshot: a later put or cleanup that
        vacuums the bucket's directory does not change what it returns
        (the same holds for nearby and stats)."""
        now = F.current_timestamp() if now is None else now
        rows = self._scan(
            self._read_manifest(),
            [query_hash[:2]],
            self._arrow_schema.names,
            pc.field("query_hash") == query_hash,
        )
        return self.spark.createDataFrame(rows).filter(F.col("expires_at") > now)

    def nearby(
        self, lat: float, lon: float, radius: float, now: F.Column | None = None
    ) -> DataFrame:
        """Live entries within `radius` on both axes, ordered nearest-first
        by (l1_distance, query_hash) (cache_manager.py:295-337).

        The radius test `abs(lat - x) < r AND abs(lon - y) < r` is the
        driver-side scan filter, and the matches are sorted there by the
        same l1 sum. The TTL filter and the distance columns are Spark
        expressions over the local relation, folded by Catalyst, so no
        job runs. IEEE subtraction, abs and + give the same bits on both
        sides, so the driver's order is the order of l1_distance."""
        now = F.current_timestamp() if now is None else now
        a_lat = pc.abs(pc.subtract(pc.field("latitude"), lat))
        a_lon = pc.abs(pc.subtract(pc.field("longitude"), lon))
        manifest = self._read_manifest()
        rows = self._scan(
            manifest, manifest, self._arrow_schema.names, (a_lat < radius) & (a_lon < radius)
        )
        l1 = pc.add(
            pc.abs(pc.subtract(rows["latitude"], lat)),
            pc.abs(pc.subtract(rows["longitude"], lon)),
        )
        order = pc.sort_indices(
            rows.append_column("l1", l1),
            [("l1", "ascending"), ("query_hash", "ascending")],
        )
        d_lat = F.abs(F.col("latitude") - F.lit(lat))
        d_lon = F.abs(F.col("longitude") - F.lit(lon))
        return (
            self.spark.createDataFrame(rows.take(order))
            .filter(F.col("expires_at") > now)
            .withColumn("l1_distance", d_lat + d_lon)
            .withColumn(
                "l2_distance",
                F.sqrt(
                    F.pow(F.col("latitude") - F.lit(lat), 2)
                    + F.pow(F.col("longitude") - F.lit(lon), 2)
                ),
            )
        )

    # -- write path ----------------------------------------------------

    def put(self, entries: DataFrame) -> None:
        """Upsert entries (keyed by query_hash), keeping the latest
        fetched_at per key — the distributed INSERT OR REPLACE
        (reference cache_manager.py:153-157), as a bucket-scoped MERGE
        (operators.merge.merge_keep_latest). Oversized payloads are
        admission-rejected (cache_manager.py:148-150).

        The input is read ONCE: the admitted rows are persisted for the
        commit. One write to Spark's `noop` sink fills the persisted
        blocks, and an Observation on that write returns the touched
        buckets from the same job. The merge write reads the persisted
        rows; they are released on the way out, so a caller's
        Python-backed frame or a streaming micro-batch is not
        recomputed per job.

        Commit protocol: merge the touched buckets' current data with
        the incoming rows, write the result ONCE into a fresh version
        directory, flip the manifest atomically, vacuum superseded
        dirs. Untouched buckets are never read or rewritten; a crash at
        any point leaves the previous manifest authoritative."""
        admitted = entries.filter(F.col("file_size_bytes") <= MAX_ENTRY_BYTES).persist()
        try:
            seen = Observation()
            admitted.observe(
                seen, F.collect_set(F.substring("query_hash", 1, 2)).alias("buckets")
            ).write.format("noop").mode("overwrite").save()
            buckets = seen.get["buckets"]
            if not buckets:
                return
            manifest = self._read_manifest()
            existing = self._read_buckets(manifest, buckets)
            deduped = merge_keep_latest(existing, admitted, ["query_hash"], "fetched_at")
            version = self._next_version()
            self._write(deduped, version)
        finally:
            admitted.unpersist()
        self._commit({**manifest, **{b: version for b in buckets}})

    def _write(self, rows: DataFrame, version: str) -> None:
        """Write rows, partitioned by key bucket, into a fresh version
        directory. Nothing references it until a manifest flip does."""
        rows.withColumn("key_bucket", F.substring("query_hash", 1, 2)).write.mode(
            "overwrite"
        ).partitionBy("key_bucket").parquet(os.path.join(self.path, version))

    def _link(self, manifest: dict[str, str], buckets, version: str) -> None:
        """Hard-link the buckets' current files into `version`: same
        inodes, no data rewritten. The old names stay until the vacuum,
        so a crash before the flip leaves the table intact."""
        for b in buckets:
            src = os.path.join(self.path, manifest[b], f"key_bucket={b}")
            dst = os.path.join(self.path, version, f"key_bucket={b}")
            os.makedirs(dst)
            for name in os.listdir(src):
                os.link(os.path.join(src, name), os.path.join(dst, name))

    def _commit(self, manifest: dict[str, str]) -> None:
        self._write_manifest(manifest)
        self._vacuum(manifest)

    # -- maintenance ---------------------------------------------------

    def cleanup(self, now: F.Column | None = None) -> int:
        """Drop expired rows; returns number removed
        (cache_manager.py:179-196).

        The census of expired and live rows per bucket is read on the
        driver. A row is expired unless `expires_at > now` holds, so a
        NULL expires_at counts as expired. Only buckets holding expired
        rows change: the survivors of such buckets are written once into
        a fresh version (the one Spark job), a bucket with none leaves
        the manifest, and the other buckets are hard-linked into the
        same version, so the table ends in one version directory.
        Then the same manifest flip and vacuum as put. `now` (default:
        the current time) is pinned once to an instant, so the census
        and the rewrite agree."""
        manifest = self._read_manifest()
        if not manifest:
            return 0
        now_us = self._micros(F.current_timestamp() if now is None else now)
        rows = self._scan(manifest, manifest, ["query_hash", "expires_at"])
        alive = self._alive(rows["expires_at"], now_us)
        bucket = pc.utf8_slice_codeunits(rows["query_hash"], 0, 2)
        dirty = set(pc.unique(bucket.filter(pc.invert(alive))).to_pylist())
        if not dirty and len(set(manifest.values())) == 1:
            return 0
        survivors = sorted(dirty & set(pc.unique(bucket.filter(alive)).to_pylist()))
        clean = [b for b in manifest if b not in dirty]
        version = self._next_version()
        if survivors:
            live = F.col("expires_at") > F.timestamp_micros(F.lit(now_us))
            self._write(self._read_buckets(manifest, survivors).filter(live), version)
        self._link(manifest, clean, version)
        self._commit({b: version for b in survivors + clean})
        return rows.num_rows - pc.sum(alive, min_count=0).as_py()

    def clear(self) -> None:
        """Full clear (cache_manager.py:283-293): empty manifest flip,
        vacuum reclaims every version directory."""
        os.makedirs(self.path, exist_ok=True)
        self._commit({})

    def stats(self, now: F.Column | None = None) -> DataFrame:
        """Cache stats: total/active/expired counts, bytes, age extremes
        (cache_manager.py:199-227), as a one-row local relation. The
        aggregates run in pyarrow.compute over three columns read on the
        driver; bytes and ages are NULL on an empty cache, as Spark's
        sum, min and max are."""
        now_us = self._micros(F.current_timestamp() if now is None else now)
        manifest = self._read_manifest()
        rows = self._scan(manifest, manifest, ["expires_at", "fetched_at", "file_size_bytes"])
        active = pc.sum(self._alive(rows["expires_at"], now_us), min_count=0).as_py()
        fetched = pc.min_max(rows["fetched_at"]).as_py()
        row = {
            "total_entries": rows.num_rows,
            "active_entries": active,
            "expired_entries": rows.num_rows - active,
            "total_bytes": pc.sum(rows["file_size_bytes"]).as_py(),
            "oldest_fetch": fetched["min"],
            "newest_fetch": fetched["max"],
        }
        return self.spark.createDataFrame(pa.Table.from_pylist([row], self._stats_schema))
