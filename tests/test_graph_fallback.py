"""The packed-BIGINT pair key of `operators/graph.py` requires node ids
< 2^32 (TPC-H partkey crosses that at SF~21500). `pair_key` must route
big-id graphs onto the struct key, and both forms must produce the
identical triangle relation and wedge census on either side of every
routing threshold: the 2^31 sign band, the 2^32 pack bound, and the
broadcast caps."""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.operators import graph
from ocean_data_pipeline_spark.operators.graph import (
    degree_census,
    oriented_triangles,
    pair_key,
    sorted_adjacency,
    wedge_pair_census,
)

# K5 minus one edge (1-5 removed): triangles = C(5,3)=10 minus the 3
# triangles through the removed edge = 7.
_SMALL_EDGES = [
    (a, b)
    for a in range(1, 6)
    for b in range(a + 1, 6)
    if not (a == 1 and b == 5)
]


def _edges(spark, shift=0):
    return spark.createDataFrame(
        [(a + shift, b + shift) for a, b in _SMALL_EDGES], "pa long, pb long"
    )


def _tri_set(spark, edges_rows):
    edges = spark.createDataFrame(edges_rows, "pa long, pb long")
    deg = degree_census(edges).localCheckpoint()
    tri = oriented_triangles(edges, deg)
    return {
        tuple(sorted((r.a, r.b, r.c))) for r in tri.collect()
    }, tri.count()


def test_packed_and_struct_paths_agree(spark):
    small, n_small = _tri_set(spark, _SMALL_EDGES)
    assert n_small == 7
    shift = 1 << 33  # push every id beyond the 32-bit pack bound
    big_rows = [(a + shift, b + shift) for a, b in _SMALL_EDGES]
    big, n_big = _tri_set(spark, big_rows)
    assert n_big == 7
    assert {
        tuple(x - shift for x in t) for t in big
    } == small


def test_packed_path_sign_band(spark):
    """Ids in [2^31, 2^32) pass the packed-path guard but land the high
    half's top bit in the long's sign bit; the decode must use a
    logical shift or b comes back as b - 2^32 (ADVICE r09)."""
    small, _ = _tri_set(spark, _SMALL_EDGES)
    shift = 1 << 31  # inside the packed path, top bit of the high half set
    band_rows = [(a + shift, b + shift) for a, b in _SMALL_EDGES]
    band, n_band = _tri_set(spark, band_rows)
    assert n_band == 7
    assert all(x > 0 for t in band for x in t)  # no sign-extended decode
    assert {tuple(x - shift for x in t) for t in band} == small


def test_wedge_pair_census_bands(spark):
    """The link-prediction census must produce identical (a, c, count)
    relations on the packed path (small ids and the [2^31, 2^32) sign
    band) and the struct fallback (ids >= 2^32)."""

    def census_set(shift):
        adj = sorted_adjacency(_edges(spark, shift))
        out = wedge_pair_census(adj, F.col("ids"), "cnt")
        return {(r.a - shift, r.c - shift, r.cnt) for r in out.collect()}

    base = census_set(0)
    assert base  # K5-minus-an-edge has wedges
    assert census_set(1 << 31) == base  # packed path, sign band
    assert census_set(1 << 33) == base  # struct fallback


# Max node id on each side of both bands; the test graph's ids run 1..5,
# so the shift is max_id - 5.
_BAND_EDGES = [
    ((1 << 31) - 1, True),
    (1 << 31, True),
    ((1 << 32) - 1, True),
    (1 << 32, False),
]


@pytest.fixture(params=["broadcast", "shuffled"])
def route(request, monkeypatch):
    if request.param == "shuffled":
        # below every count: the closing join, the degree joins and the
        # minus-edges anti-join all stay shuffled
        monkeypatch.setattr(graph, "_BCAST_EDGES", -1)
        monkeypatch.setattr(graph, "_BCAST_NODES", -1)
    return request.param


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("max_id, packed", _BAND_EDGES)
def test_triangles_at_band_edges(spark, route, max_id, packed):
    shift = max_id - 5
    assert pair_key(max_id).packed is packed
    edges = _edges(spark, shift)
    tri = oriented_triangles(edges, degree_census(edges).localCheckpoint())
    assert ("shiftrightunsigned" in _plan(tri)) is packed
    assert ("strategy=broadcast" in _plan(tri)) is (route == "broadcast")
    got = {tuple(sorted((r.a, r.b, r.c))) for r in tri.collect()}
    assert max(x for t in got for x in t) == max_id  # 4294967295, not -1
    assert {tuple(x - shift for x in t) for t in got} == {
        t for t in combinations(range(1, 6), 3) if not {1, 5} <= set(t)
    }


@pytest.mark.parametrize("max_id, packed", _BAND_EDGES)
@pytest.mark.parametrize("minus", [False, True], ids=["all_pairs", "non_edges"])
def test_wedge_census_at_band_edges(spark, route, max_id, packed, minus):
    shift = max_id - 5
    edges = _edges(spark, shift).localCheckpoint()
    census = wedge_pair_census(
        sorted_adjacency(edges).localCheckpoint(),
        F.col("ids"),
        "cn",
        minus_edges=edges if minus else None,
    )
    assert ("shiftrightunsigned" in _plan(census)) is packed
    assert ("strategy=broadcast" in _plan(census)) is (minus and route == "broadcast")
    got = {(r.a - shift, r.c - shift, r.cn) for r in census.collect()}
    nbrs = {n: set() for n in range(1, 6)}
    for a, b in _SMALL_EDGES:
        nbrs[a].add(b)
        nbrs[b].add(a)
    want = {
        (a, c, len(nbrs[a] & nbrs[c]))
        for a in range(1, 6)
        for c in range(a + 1, 6)
        if not (minus and c in nbrs[a])
    }
    assert got == want
