from __future__ import annotations

import itertools
import os
import sys
from contextlib import contextmanager

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ocean_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Driver-budget default run (VERDICT r11 item 1): the full suite grew to
# ~2,600 tests / ~47 min, which overruns the verification driver's pytest
# window (VERIFY_r11 tests_ok=false was a TIMEOUT at ~77 %, zero failures).
# Tests marked `slow` — the second-scale parity sweep, the empty-input
# totality sweep, and the two full-registry smoke loops, ~28 min between
# them — are redundant with the driver's own entry/oracle checks and run
# on the builder cadence (SPARK_GRAFT_FULL_TESTS=1) plus at every round
# close. The default run keeps the sf0.01 oracle-parity gate, the plan/
# window-bound gates, and every unit suite: ~1,800 tests in ~15-19 min.
_FULL = os.environ.get("SPARK_GRAFT_FULL_TESTS", "").lower() in ("1", "true", "yes")


def pytest_collection_modifyitems(config, items):
    if _FULL:
        return
    skip = pytest.mark.skip(
        reason="slow cadence suite; SPARK_GRAFT_FULL_TESTS=1 runs it"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


def write_degenerate_tables(spark, out, kind, tables=None):
    """Write degenerate copies of the smoke tables (`tables`, default all)
    as ``<out>/<table>.parquet`` and return `out` as a string. `kind`:
    ``empty`` (zero rows, schema kept), ``single_row`` (the first row)
    or ``constant`` (fifty identical copies of the first row)."""
    from ocean_data_pipeline_spark.catalog import TABLES

    for t in tables or TABLES:
        src = os.path.join(SF_SMOKE, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        df = spark.read.parquet(src)
        dst = os.path.join(str(out), f"{t}.parquet")
        if kind == "empty":
            df.limit(0).write.mode("overwrite").parquet(dst)
        elif kind == "single_row":
            df.limit(1).write.mode("overwrite").parquet(dst)
        else:
            one = df.limit(1)
            dup = one
            for _ in range(49):
                dup = dup.unionByName(one)
            dup.coalesce(1).write.mode("overwrite").parquet(dst)
    return str(out)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from ocean_data_pipeline_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_ORACLE, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


_job_groups = itertools.count()


@contextmanager
def job_ids(spark):
    """The ids of the Spark jobs started inside the block: a list, filled
    when the block exits (each use runs under its own job group)."""
    sc = spark.sparkContext
    group = f"tests_job_ids_{next(_job_groups)}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@contextmanager
def confs(spark, kv: dict[str, str]):
    """Set session confs for the block; the previous values come back
    on exit."""
    orig = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in orig.items():
            spark.conf.set(k, v)
