"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.tracing import Span, Tracer, self_times, tail_percentile  # noqa: E402


# -- seeded inputs ---------------------------------------------------------


def test_same_seed_gives_identical_star_schema(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rows_a = gen.write_star_schema(7, 0.001, str(a))
    rows_b = gen.write_star_schema(7, 0.001, str(b))
    assert rows_a == rows_b
    names = sorted(os.listdir(a))
    assert names == sorted(f"{t}.parquet" for t in rows_a)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert (mismatch, errors) == ([], [])


def test_other_seed_gives_other_star_schema(tmp_path):
    gen.write_star_schema(7, 0.001, str(tmp_path / "a"))
    gen.write_star_schema(8, 0.001, str(tmp_path / "b"))
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet", tmp_path / "b" / "lineitem.parquet", shallow=False)


def test_same_seed_gives_identical_grid_csv(tmp_path):
    pa = gen.write_grid_csv(gen.ocean_grid(3), str(tmp_path / "a"))
    pb = gen.write_grid_csv(gen.ocean_grid(3), str(tmp_path / "b"))
    assert len(pa) == gen.GRID_MONTHS // 12
    for x, y in zip(pa, pb):
        assert filecmp.cmp(x, y, shallow=False)
    with open(pa[0]) as f:
        assert f.readline().strip() == gen.CSV_HEADER
        assert f.readline().strip() == gen.CSV_UNITS


def test_stub_rows_match_the_ingested_csv(tmp_path):
    grid = gen.ocean_grid(3)
    (first_year, *_rest) = gen.write_grid_csv(grid, str(tmp_path))
    with open(first_year) as f:
        lines = f.read().splitlines()[2:]
    per_month = gen.GRID_LAT * gen.GRID_LON
    for t, y, x in [(0, 0, 0), (5, 90, 60), (11, 45, 30)]:
        assert grid.csv_rows(t, t, y, x) == [lines[t * per_month + y * gen.GRID_LON + x]]


def test_hyperslab_parsing_and_stub_body():
    from perfbench.stub import GriddapStub, parse_hyperslab

    assert parse_hyperslab("Temperature[3:9][106][12][40],Salinity[3:9][106][12][40]") == (3, 9, 12, 40)
    with pytest.raises(ValueError):
        parse_hyperslab("Temperature")
    grid = gen.ocean_grid(3)
    with GriddapStub(grid) as stub:
        body = stub.body(3, 9, 12, 40).splitlines()
    assert body[:2] == [gen.CSV_HEADER, gen.CSV_UNITS]
    assert body[2:] == grid.csv_rows(3, 9, 12, 40)


def test_grid_has_missing_measures_and_dropped_rows():
    grid = gen.ocean_grid(3)
    kept = grid.kept()
    assert 0 < (~kept).sum() < 0.05 * kept.size  # some rows have both measures missing
    assert (np.isnan(grid.temperature) & kept).any()  # and some only one


def test_same_seed_gives_identical_request_trace():
    assert gen.request_trace(5, 30) == gen.request_trace(5, 30)
    assert gen.request_trace(5, 30) != gen.request_trace(6, 30)


def test_request_trace_blocks_share_one_mix():
    blocks = gen.request_trace(9, 20)
    want = tuple("get" if k in ("new", "repeat", "refresh") else k for k in gen.BLOCK)
    assert {tuple(r.kind for r in b) for b in blocks} == {want}
    keys = [(r.lat, r.lon, r.start, r.end) for b in blocks for r in b if r.kind == "get"]
    assert len(set(keys)) < len(keys)  # repeats exist, so the cache can hit


@pytest.mark.parametrize("seed", range(8))
def test_every_block_after_the_first_does_the_same_work(seed):
    """Replay six blocks against a model of the cache on the simulated
    clock: every block misses exactly twice (the new key and the
    refresh, which finds its key expired), every cleanup after the first
    removes exactly one entry, and the cache holds two entries after
    each cleanup, whatever the seed."""
    import datetime as dt

    from ocean_data_pipeline_spark.cache.result_cache import DEFAULT_TTL_HOURS
    from ocean_data_pipeline_spark.sources.erddap import lat_index, lon_index

    assert gen.TTL_MIN == DEFAULT_TTL_HOURS * 60
    ttl = dt.timedelta(hours=DEFAULT_TTL_HOURS)
    step = dt.timedelta(minutes=gen.SIM_STEP_MIN)
    expires: dict[tuple, dt.timedelta] = {}
    misses, expired_gets, removed, sizes = [], [], [], []
    for b, block in enumerate(gen.request_trace(seed, 6)):
        misses.append(0)
        expired_gets.append(0)
        for j, req in enumerate(block):
            now = (b * len(gen.BLOCK) + j) * step
            if req.kind == "get":
                key = (lat_index(req.lat), lon_index(req.lon), req.start, req.end)
                if key not in expires or expires[key] <= now:
                    misses[-1] += 1
                    expired_gets[-1] += key in expires
                    expires[key] = now + ttl
            elif req.kind == "cleanup":
                gone = [k for k, e in expires.items() if e <= now]
                removed.append(len(gone))
                for k in gone:
                    del expires[k]
                sizes.append(len(expires))
    assert misses == [2] * 6
    assert expired_gets == [0] + [1] * 5
    assert removed == [0] + [1] * 5
    assert sizes == [2] * 6


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(10)]
    assert sorted(gen.pass_order(names, 1, 1)) == names
    assert gen.pass_order(names, 1, 1) == gen.pass_order(names, 1, 1)
    assert gen.pass_order(names, 1, 1) != gen.pass_order(names, 2, 1)


# -- statistics ------------------------------------------------------------


@pytest.mark.parametrize(
    ("n", "want"),
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert round(n * (100 - want)) >= 1000


# -- spans -----------------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        Span(0, None, "op", 0, 0.0, 10.0),
        Span(1, 0, "fn", 0, 1.0, 4.0),
        Span(2, 1, "table", 0, 2.0, 3.0),
        Span(3, 0, "action", 0, 5.0, 9.0),
    ]
    assert self_times(spans) == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}


def test_tracer_records_nested_spans_and_summary():
    tr = Tracer(enabled=True)
    tr.op = 4
    with tr.span("op"):
        with tr.span("queries.fn"):
            pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("op", None, 4), ("queries.fn", 0, 4)]
    summary = tr.layer_summary()
    assert summary["queries.fn"]["calls"] == 1
    assert summary["op"]["self_s"] <= tr.spans[0].end - tr.spans[0].start
    assert tr.overhead_s > 0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == [] and tr.overhead_s == 0.0


# -- statusTracker accounting (starts a small local Spark) -----------------


@pytest.fixture(scope="module")
def harness():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from ocean_data_pipeline_spark.session import get_spark
    from perfbench.workloads import Harness

    h = Harness(Tracer(enabled=True))
    h.spark = get_spark("perfbench-tests")
    yield h
    h.stop()


def test_job_stats_for_a_known_query(harness):
    spark = harness.spark
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        harness.tracer.op = 0
        with harness.layer("spark.action"):
            # 3 input partitions -> partial aggregate, one exchange,
            # final aggregate in one partition: 1 job, 2 stages, 4 tasks.
            spark.range(0, 300, 1, 3).selectExpr("sum(id) AS s").collect()
        ((gid, _layer),) = harness._groups
        stats = harness.job_stats(gid)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert stats == {"jobs": 1, "stages": 2, "tasks": 4, "one_task_stages": 1, "failed_tasks": 0}


def test_release_counts_then_unpersists(harness):
    rdd = harness.spark.sparkContext.parallelize(range(100), 2).cache()
    rdd.count()
    n, n_bytes = harness.release_persisted()
    assert n >= 1 and n_bytes > 0
    assert harness.release_persisted() == (0, 0)
