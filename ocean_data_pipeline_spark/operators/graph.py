"""The co-purchase graph device: edges, degrees, orientation, wedges.

Every graph query in the registry (`queries/graph_ops.py`, the link
prediction pair in `queries/wave27_ops.py`) and the graph probes in
`tools/scale_probe.py` build on the same few relations:

- the canonical edge list (pa < pb) of parts bought in the same order,
  from one self equi-join on l_orderkey (per-order fanout C(items, 2),
  linear in orders, never all-pairs);
- its symmetrized form, its degree census and its sorted adjacency
  lists;
- the degree-ordered orientation of Suri & Vassilvitskii ("Counting
  Triangles and the Curse of the Last Reducer", WWW'11): each edge
  points from its lower-(degree, id) end to its higher one, so every
  out-degree is O(sqrt m) and wedge generation is O(m^1.5) on any
  graph, however skewed its hubs;
- wedges emitted map-side from sorted id arrays as one key per pair,
  packed into a BIGINT when the ids fit 32 bits.

Functions take DataFrames with the canonical edge columns (pa, pb) and
return lazy frames; callers own any checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Probe→route broadcast ceilings. Checkpointed relations carry no
#: stats, so neither the tuned session nor a vanilla one ever
#: auto-broadcasts them: every broadcast of a graph relation is an
#: explicit hint gated on a MEASURED count, so the local plan gets
#: map-side joins while a 100-TB graph (counts above the cap) keeps the
#: shuffled join.
_BCAST_EDGES = 8_000_000
_BCAST_NODES = 4_000_000


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct canonical co-purchase edges (pa < pb) of a lineitem
    frame: two parts are adjacent when they appear in the same order."""
    pl = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = pl.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = pl.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Both directions of every canonical edge as (src, dst); any other
    column of `edges` (an edge weight) rides along on both rows."""
    rest = [c for c in edges.columns if c not in ("pa", "pb")]
    return edges.select(
        F.col("pa").alias(src), F.col("pb").alias(dst), *rest
    ).unionAll(edges.select(F.col("pb").alias(src), F.col("pa").alias(dst), *rest))


def degree_census(edges: DataFrame) -> DataFrame:
    """(node, degree) of every node with at least one canonical edge."""
    return (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def orient_by_degree(edges: DataFrame, deg: DataFrame, n_nodes: int | None) -> DataFrame:
    """Each canonical edge as (src, dst), directed from its lower
    (degree, id) end to its higher one.

    Two edge-scale equi-joins attach the endpoint degrees. `n_nodes` is
    the measured size of `deg`: at or under `_BCAST_NODES` both degree
    sides are broadcast; above it, or when nothing was measured (None),
    the joins stay shuffled."""
    dega = deg.select(F.col("node").alias("pa"), F.col("degree").alias("da"))
    degb = deg.select(F.col("node").alias("pb"), F.col("degree").alias("db"))
    if n_nodes is not None and n_nodes <= _BCAST_NODES:
        dega, degb = F.broadcast(dega), F.broadcast(degb)
    return (
        edges.join(dega, "pa")
        .join(degb, "pb")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))),
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
            )
            .otherwise(F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")))
            .alias("o")
        )
        .select("o.src", "o.dst")
    )


def sorted_adjacency(edges: DataFrame) -> DataFrame:
    """(w, ids): every node with its neighbour ids in ascending order.
    degree(w) == size(ids)."""
    return (
        symmetrize(edges)
        .groupBy(F.col("src").alias("w"))
        .agg(F.array_sort(F.collect_list("dst")).alias("ids"))
    )


@dataclass(frozen=True)
class PairKey:
    """One join/group key per ordered id pair (x, y).

    `packed` keys are ONE BIGINT, x << 32 | y: the wedge-mass joins and
    aggregates then run on a single long. The pack needs ids < 2^32
    (TPC-H partkey crosses that at SF~21500), so `pair_key` picks it
    from the measured max id and larger ids get a two-field struct key
    instead: same joins, slightly wider rows. Keys never collide in
    either form."""

    packed: bool

    def encode(self, x: Column, y: Column) -> Column:
        if self.packed:
            return F.shiftleft(x.cast("long"), 32) + y.cast("long")
        return F.struct(x.cast("bigint").alias("x"), y.cast("bigint").alias("y"))

    def decode(self, k: Column) -> tuple[Column, Column]:
        if self.packed:
            # LOGICAL shift: ids in [2^31, 2^32) put the high half's top
            # bit in the long's sign bit, and the arithmetic shiftright
            # would sign-extend them back as x - 2^32. The keys
            # themselves are unaffected (the pack is injective mod 2^64).
            return (
                F.shiftrightunsigned(k, 32).cast("bigint"),
                k.bitwiseAND(F.lit((1 << 32) - 1)).cast("bigint"),
            )
        return k.getField("x"), k.getField("y")


def pair_key(max_id: int | None) -> PairKey:
    """The key form for ids up to the measured `max_id` (None: no rows)."""
    return PairKey(max_id is not None and max_id < (1 << 32))


def wedge_keys(ids: Column, key: PairKey) -> Column:
    """Array of keys for every pair (ids[i], ids[j]), i < j, of a sorted
    id array: explode it to emit each wedge map-side."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)), lambda y: key.encode(x, y)
            ),
        )
    )


def oriented_triangles(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Exact triangle relation (a, b, c) of a canonical edge list, one
    row per triangle, via the degree-ordered orientation.

    Per-source SORTED out-adjacency lists generate each wedge map-side
    as one `PairKey` (no wedge-scale self-join shuffle); the close is a
    hash join against the same keys of the canonical edge list. The
    adjacency relation is node-scale and repartitioned to 3x cores
    before the explode so partial work spreads.

    a = wedge source (the triangle's min-(degree, id) corner), (b, c) =
    the closing canonical edge, b < c by id."""
    # One node-scale probe job: max id (key form), node count and
    # Σdeg = 2·|E| (broadcast routes).
    st = deg.agg(
        F.max("node").alias("max_id"),
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(F.sum("degree"), F.lit(0)).alias("two_m"),
    ).first()
    key = pair_key(st["max_id"])
    n_nodes, n_edges = int(st["n_nodes"]), int(st["two_m"]) // 2
    e = orient_by_degree(edges, deg, n_nodes)
    adj = e.groupBy("src").agg(F.array_sort(F.collect_list("dst")).alias("ds"))
    fanout = edges.sparkSession.sparkContext.defaultParallelism * 3
    wk = adj.repartition(fanout).select(
        F.col("src").alias("s"), F.explode(wedge_keys(F.col("ds"), key)).alias("k")
    )
    ek = edges.select(key.encode(F.col("pa"), F.col("pb")).alias("k"))
    if n_edges <= _BCAST_EDGES:
        # Broadcasting the edge keys keeps the wedge mass map-side: it
        # streams from the adjacency explode straight into the closing
        # hash join without a wedge-scale Exchange.
        ek = F.broadcast(ek)
    b, c = key.decode(F.col("k"))
    return wk.join(ek, "k").select(F.col("s").alias("a"), b.alias("b"), c.alias("c"))


def wedge_pair_census(
    adj: DataFrame, ids: Column, count_alias: str, minus_edges: DataFrame | None = None
) -> DataFrame:
    """Ordered-pair census over per-node sorted neighbour-id lists: one
    row per distinct wedge endpoint pair (a, c), a < c, with its
    common-neighbour count, columns (a, c, <count_alias>).

    `adj` must be node-scale with the node id in column `w` (every node
    with degree >= 1 appears); `ids` is the per-row array of neighbour
    ids to wedge over (full or capped prefix). Each pair is one
    `PairKey`, so the wedge-mass aggregate is a bare count on that key.

    `minus_edges` (optional): a CANONICAL (pa < pb) edge relation,
    ideally checkpointed, whose pairs are anti-joined away in key space
    before the decode. When its measured count fits `_BCAST_EDGES` the
    subtraction is map-side, before the census shuffle, so triangle
    wedges never cross the Exchange; removing rows whose key is an edge
    before the group-by removes exactly the groups a post-aggregate
    anti-join would, because the group key IS the pair. Above the cap
    the shuffled anti-join runs on the pair-scale census output, never
    on the raw wedge mass (the 100-TB path).

    Shuffle sizing: the node-scale probe job also measures the exact
    wedge mass (Σ C(|ids|, 2)) and sizes BOTH sides of the census to
    ~3 M pairs per task (measured at sf0.1: 9 M/task falls back to
    sort+spill, 3 M stays hash-resident). The reduce side repartitions
    BY KEY to that width instead of inheriting the fixed
    spark.sql.shuffle.partitions: the 10x scale probe measured 12.0x
    super-linear with 32 fixed reducers (~13 M near-unique keys each,
    all spilling); map-side combine loses nothing because pair
    multiplicity is tiny, and AQE coalesces the width back down when
    the mass is small."""
    sz = F.size(ids).cast("long")
    stats = adj.agg(
        F.max("w").alias("max_id"),
        F.sum(sz * (sz - 1) / 2).cast("long").alias("mass"),
    ).first()
    key, mass = pair_key(stats["max_id"]), int(stats["mass"] or 0)
    n_minus = minus_edges.count() if minus_edges is not None else None
    fanout = max(
        adj.sparkSession.sparkContext.defaultParallelism * 3, -(-mass // 3_000_000)
    )
    exploded = adj.repartition(fanout).select(F.explode(wedge_keys(ids, key)).alias("k"))
    post_anti = None
    if minus_edges is not None:
        ek = minus_edges.select(key.encode(F.col("pa"), F.col("pb")).alias("k"))
        if n_minus <= _BCAST_EDGES:
            exploded = exploded.join(F.broadcast(ek), "k", "left_anti")
        else:
            post_anti = ek
    census = (
        exploded.repartition(fanout, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias(count_alias))
    )
    if post_anti is not None:
        census = census.join(post_anti, "k", "left_anti")
    a, c = key.decode(F.col("k"))
    return census.select(a.alias("a"), c.alias("c"), count_alias)


def link_scores(
    adj: DataFrame, pairs: DataFrame, cn: Callable[[Column], Column]
) -> DataFrame:
    """Exact link-prediction scores for a small set of candidate pairs.

    `pairs` holds (a, c, ...) with a < c; its other columns ride along
    to the output. `adj` is `sorted_adjacency`. `cn(common)` gives the
    pair's common-neighbour count, named `cn`, from the intersected id
    array (or from a count `pairs` already carries). Output:
    part_a, part_b, <carried>, common_neighbors, jaccard
    (cn / (deg_a + deg_c − cn)) and adamic_adar (Σ_w 1/ln(deg_w)),
    unordered.

    Plan: the pairs broadcast against the adjacency lists and
    Σ 1/ln(deg_w) runs over the array intersection per pair, list
    algebra on as many rows as there are pairs. Each Adamic-Adar term
    rounds ONCE into DECIMAL(28,9) before the per-pair sum, so the sum
    is exactly associative."""
    carry = [x for x in pairs.columns if x not in ("a", "c", "cn")]
    na = adj.select(F.col("w").alias("a"), F.col("ids").alias("ids_a"))
    nc = adj.select(F.col("w").alias("c"), F.col("ids").alias("ids_c"))
    common = F.array_intersect("ids_a", "ids_c")
    base = (
        F.broadcast(na.join(F.broadcast(pairs), "a"))
        .join(nc, "c")
        .select(
            "a",
            "c",
            *carry,
            cn(common),
            F.size("ids_a").alias("da"),
            F.size("ids_c").alias("dc"),
            common.alias("common"),
        )
    )
    degs = adj.select(F.col("w").alias("wid"), F.size("ids").alias("wdeg"))
    aa_sum = F.coalesce(
        F.sum(
            F.round(1.0 / F.log(F.col("wdeg").cast("double")), 9).cast(
                "decimal(28,9)"
            )
        ),
        F.lit(0).cast("decimal(28,9)"),
    ).cast("double")
    keys = ["a", "c", *carry, "cn", "da", "dc"]
    return (
        base.select(*keys, F.explode_outer("common").alias("wid"))
        .join(F.broadcast(degs), "wid", "left")
        .groupBy(*keys)
        .agg(aa_sum.alias("aa"))
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            *carry,
            F.col("cn").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double") / (F.col("da") + F.col("dc") - F.col("cn")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa"), 6).alias("adamic_adar"),
        )
    )
