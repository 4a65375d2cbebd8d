"""SparkSession factory and runtime tuning.

The reference is a single-process Pandas/DuckDB app (SURVEY.md §3); our
engine's equivalent of its "process setup" is one well-configured
SparkSession. Everything here is plain public Spark configuration.

Scale posture: AQE enabled (runtime partition coalescing + skew-join
handling), shuffle partitions sized to the cluster (32 locally, set
higher on a real cluster), UTC session timezone so timestamp semantics
match the reference's tz-aware-UTC contract (pipeline/extract.py:207-208
in the reference) and the DuckDB oracle.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Runtime-settable confs (safe to apply to an externally provided session,
# e.g. the verification driver's).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The testdata `events` table stores ts as parquet TIMESTAMP(NANOS),
    # which Spark's vectorized reader rejects; read the raw int64 and
    # convert to TimestampType in the catalog (catalog.table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Testdata timestamps are tz-less parquet micros (isAdjustedToUTC =
    # false); Spark 4 would infer TIMESTAMP_NTZ, which breaks epoch
    # arithmetic (cast-to-double, unix_timestamp) and diverges from the
    # engine's tz-aware-UTC contract. Read them as TimestampType — with
    # the UTC session timezone the wall-clock values are identical.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    # Spark 4.1's checkpoint file-checksum manager deadlocks stateful
    # streaming commits on the local filesystem (awaitResult hangs in
    # ChecksumCancellableFSDataOutputStream.close → micro-batch retries
    # forever). Checksumming is an integrity feature for remote object
    # stores; disable it.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


#: Conf keys this process has already warned it could not apply.
_UNAPPLIED: set[str] = set()


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to any session (including driver-provided).

    Idempotent; only touches runtime-mutable keys. A key the session
    refuses (immutable in this deployment) is skipped with a warning
    that names the key and the error, once per key per process: the
    driver contract calls this for every query.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # immutable in this deployment — keep going
            if k not in _UNAPPLIED:
                _UNAPPLIED.add(k)
                warnings.warn(
                    f"tune_for_oracle could not set {k}={v}: "
                    f"{type(e).__name__}: {e}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


def get_spark(
    app_name: str = "ocean-data-pipeline-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    local[N] for tests/bench; on a real cluster, pass master=None and let
    spark-submit own the master/executor topology.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_for_oracle(spark)
