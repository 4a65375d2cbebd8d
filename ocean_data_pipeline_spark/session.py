"""SparkSession factory and runtime tuning.

The reference is a single-process Pandas/DuckDB app (SURVEY.md §3); our
engine's equivalent of its "process setup" is one well-configured
SparkSession. Everything here is plain public Spark configuration.

Scale posture: AQE enabled (runtime partition coalescing + skew-join
handling), shuffle partitions sized to the cluster (32 locally, set
higher on a real cluster), UTC session timezone so timestamp semantics
match the reference's tz-aware-UTC contract (pipeline/extract.py:207-208
in the reference) and the DuckDB oracle.

Python workers: a session `get_spark` builds on a local master runs its
Python workers under the engine's daemon (`worker_daemon`), which stops
each task from re-reading Spark's own archives (pyspark.zip, the py4j
zip, the spark-core jar) in `importlib.invalidate_caches()`: about
200 ms of setup per Python task. Only those archives are frozen,
because only they are known not to change while the daemon runs; the
SparkFiles directory and the zips `addPyFile` adds still invalidate.
The daemon module is a static conf and the workers must import it from
the package root, which is known only where they run beside the
driver. On a cluster the executors' Python environment is the
deployment's, so the stock daemon stays; a driver-provided session was
built before it reaches the engine, so it cannot take a static conf and
keeps the stock daemon too.
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
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
        if master.startswith("local"):
            builder = _engine_daemon(builder)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_for_oracle(spark)


def _engine_daemon(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Run Python workers under `worker_daemon`, importable from any
    working directory: `spark.executorEnv.PYTHONPATH` is the package
    root. This replaces any value configured elsewhere (spark-defaults,
    PYSPARK_SUBMIT_ARGS), which is not readable before the JVM starts;
    Spark still adds the driver's `PYTHONPATH` environment variable to
    the workers' path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return builder.config(
        "spark.python.daemon.module", "ocean_data_pipeline_spark.worker_daemon"
    ).config("spark.executorEnv.PYTHONPATH", root)
