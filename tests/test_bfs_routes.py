"""`bfs_reachability` routes: the single Arrow task below the caps and
the distributed frontier loop above them must give the oracle's census.

The generated scale factors reach the whole catalog within two hops, so
the fixture here is hand-built: a co-purchase chain four hops long from
a seed, isolated parts, a reached part missing from the catalog, and
NULL keys that the joins must drop.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.queries import graph_ops, load_all
from tests.conftest import SF_ORACLE, job_ids
from tools.verify_local import compare, duckdb_conn

REGISTRY = load_all()
BFS = REGISTRY["bfs_reachability"]

PARTS = [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 97, 194]  # seeds: 0, 97, 194
LINEITEM = [  # (l_orderkey, l_partkey)
    (10, 97), (10, 1),  # hop 1: 1
    (11, 1), (11, 2), (11, 2),  # hop 2: 2 (a repeated pair)
    (12, 2), (12, 3), (12, 500),  # hop 3: 3 and 500, which is not in `part`
    (13, 3), (13, 4),  # hop 4: 4, beyond the census
    (14, 4), (14, 5),
    (15, 0),  # a seed alone in its order
    (16, None), (16, 6),  # NULL part: 6 has no neighbour
    (None, 97), (None, 7),  # NULL order: 7 is not reached
]
#: dist -> n_nodes; -1 is 12 parts minus 3 + 1 + 1 + 2 reached
EXPECTED = {-1: 5, 0: 3, 1: 1, 2: 1, 3: 2}
#: a multiple of 97 above 2^32: keeps the seeds, breaks int32 keys
OFFSET = 97 * (2**32 // 97 + 1)


def _shift(key, offset):
    return None if key is None else key + offset


def _write_graph(sf_dir, offset=0, parts=PARTS, lineitem=LINEITEM):
    sf_dir.mkdir()
    pq.write_table(
        pa.table({"p_partkey": pa.array([p + offset for p in parts], pa.int64())}),
        sf_dir / "part.parquet",
    )
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([_shift(o, offset) for o, _ in lineitem], pa.int64()),
            "l_partkey": pa.array([_shift(p, offset) for _, p in lineitem], pa.int64()),
        }),
        sf_dir / "lineitem.parquet",
    )
    return str(sf_dir)


@pytest.fixture(params=[0, OFFSET], ids=["small_keys", "keys_above_2_32"])
def graph_dir(request, tmp_path):
    return _write_graph(tmp_path / "sf", offset=request.param)


@pytest.fixture
def empty_dir(tmp_path):
    return _write_graph(tmp_path / "sf_empty", parts=[], lineitem=[])


def _force_distributed(monkeypatch):
    # below every count, an empty table's 0 included
    monkeypatch.setattr(graph_ops, "_BCAST_NODES", -1)
    monkeypatch.setattr(graph_ops, "_CC_LOCAL_EDGE_CAP", -1)


def _oracle(sf_dir):
    con = duckdb_conn(sf_dir)
    try:
        return con.execute(BFS.oracle).df()
    finally:
        con.close()


@pytest.mark.parametrize("route", ["local", "distributed"])
def test_routes_match_oracle_past_hop_two(spark, monkeypatch, graph_dir, route):
    if route == "distributed":
        _force_distributed(monkeypatch)
    got = BFS.fn(spark, graph_dir).toPandas()
    assert not compare("bfs_reachability", got, _oracle(graph_dir))
    assert dict(zip(got["dist"], got["n_nodes"])) == EXPECTED


@pytest.mark.parametrize("route", ["local", "distributed"])
def test_routes_keep_spine_on_empty_tables(spark, monkeypatch, empty_dir, route):
    if route == "distributed":
        _force_distributed(monkeypatch)
    rows = BFS.fn(spark, empty_dir).collect()
    assert [(r.dist, r.n_nodes, r.node_share) for r in rows] == [
        (d, 0, None) for d in range(-1, 4)
    ]


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("cap", ["_BCAST_NODES", "_CC_LOCAL_EDGE_CAP"])
def test_route_flips_at_each_cap(spark, monkeypatch, tmp_path, cap):
    """At a cap the query stays on the local route (nothing persisted);
    one below, it takes the checkpointed frontier loop."""
    sf_dir = _write_graph(tmp_path / "sf")
    measured = {"_BCAST_NODES": len(PARTS), "_CC_LOCAL_EDGE_CAP": len(LINEITEM)}[cap]
    jsc = spark.sparkContext._jsc
    for value, leaves_blocks in ((measured, False), (measured - 1, True)):
        monkeypatch.setattr(graph_ops, cap, value)
        before = _persisted(spark)
        BFS.fn(spark, sf_dir).collect()
        left = _persisted(spark) - before
        assert bool(left) == leaves_blocks, (cap, value)
        for rdd_id in left:
            jsc.getPersistentRDDs().get(rdd_id).unpersist(True)


def test_local_route_job_budget_and_no_leak(spark):
    """At sf0.01 the local route is two counts and one Arrow task: at
    most 6 jobs for fn() + collect, and no persisted RDD left behind."""
    assert table(spark, SF_ORACLE, "lineitem").count() <= graph_ops._CC_LOCAL_EDGE_CAP
    before = _persisted(spark)
    with job_ids(spark) as jobs:
        BFS.fn(spark, SF_ORACLE).collect()
    assert 0 < len(jobs) <= 6
    assert _persisted(spark) <= before
