"""Table catalog over the driver's parquet testdata.

Central place that maps logical table names to parquet scans so every
query gets column pruning + predicate pushdown from the same reader
(`spark.read.parquet` → vectorized reader, PushedFilters visible in
.explain). Mirrors the reference's implicit catalog (a DuckDB file with
one table, pipeline/load.py:18-24) generalized to the star schema the
engine is exercised on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Per-session scan-relation cache (round 11, guide §1.2/§6). Building
#: a parquet relation (`spark.read.parquet`) costs ~100-150 ms even
#: warm — file listing, footer/schema read, py4j — and every query
#: calls `table()` 2-4 times, so the bench paid it hundreds of times
#: per run. The cache reuses the LAZY analyzed relation (plus the
#: events-ts/NTZ normalization and the one-time `spread` partition
#: probe) exactly as a metastore catalog would hold table metadata.
#: This is NOT result caching: no rows are persisted, no `.cache()` is
#: applied, and every action still scans the parquet inputs. Keyed on
#: the SESSION UUID (not just the applicationId): a DataFrame binds to
#: the SQLConf of the session that built it, so an isolated
#: `newSession()` with its own plan-time confs (bloom_join_urgent_
#: revenue) must never receive — or populate — another session's
#: relation. A new session therefore always builds fresh; conf changes
#: that alter scan behavior at plan time (e.g. nanosAsLong) must be
#: set before that session's first `table()` call, which
#: `session.tune_for_oracle` guarantees. Entries of a session whose
#: SparkContext has stopped are dropped on the next miss, so the cache
#: stays bounded by the live sessions.
_SCAN_CACHE: dict[tuple[str, str, str, bool], DataFrame] = {}


def _stopped(df: DataFrame) -> bool:
    """True once the SparkContext behind `df` has stopped
    (`SparkContext.stop` clears `_jsc`): the relation can never run again."""
    sc = getattr(df.sparkSession, "_sc", None)  # absent on Spark Connect
    return sc is not None and sc._jsc is None


def _session_key(spark: SparkSession) -> str:
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:  # Connect or API drift: fall back to no caching reuse
        return f"id:{id(spark)}"


def table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Scan one logical table. Column pruning/filter pushdown apply.

    `spread=True` redistributes a degenerate scan across the cluster:
    parquet parallelism is bounded by row groups, so a table written as
    one row group (or any unsplittable file) scans as ONE task and every
    downstream map/partial-agg stage runs on one core. For CPU-heavy
    pipelines (per-row hashing, decimal aggs over the fact table) the
    round-robin shuffle costs far less than it buys. Guarded: it's a
    no-op whenever the scan already has >= defaultParallelism partitions
    — on a real cluster with properly sized files this never fires, so
    the 100 TB plan is unchanged while degenerate inputs still use all
    cores.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (_session_key(spark), os.path.abspath(sf_dir), name, spread)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    for k in [k for k, v in _SCAN_CACHE.items() if _stopped(v)]:
        del _SCAN_CACHE[k]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # events.ts is parquet TIMESTAMP(NANOS) read as int64 (see
        # session._RUNTIME_CONF); convert to microsecond TimestampType.
        # Integer `div` — double division would corrupt ~1e18 nanos.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Defensive NTZ normalization: if the session couldn't apply
    # inferTimestampNTZ=false (immutable conf in some deployments),
    # tz-less parquet timestamps arrive as TIMESTAMP_NTZ. Cast them to
    # TimestampType — exact under the UTC session timezone. Only fires
    # when the conf path didn't (the cast would otherwise block filter
    # pushdown on these columns, so it stays a fallback, not the norm).
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    if ntz:
        # The cast is only instant-exact when the session renders NTZ
        # values in UTC; under a non-UTC immutable timezone it would
        # silently shift instants. Refuse rather than corrupt, and warn
        # about the side effect (cast blocks pushdown on these columns).
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
            raise RuntimeError(
                f"NTZ fallback for {name}.{ntz} requires a UTC session "
                f"timezone (got {tz!r}); set spark.sql.session.timeZone=UTC "
                "or allow spark.sql.parquet.inferTimestampNTZ.enabled=false"
            )
        import warnings

        warnings.warn(
            f"NTZ fallback cast fired for {name}.{ntz}: filter pushdown "
            "is disabled on these columns for this scan",
            stacklevel=2,
        )
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    if spread:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    _SCAN_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
