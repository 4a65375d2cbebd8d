"""Graph analytics over the part co-purchase graph (SURVEY.md §2-J
width: the relationship-mining shapes an LLM-data / recommendation
pipeline runs over entity co-occurrence — the same machinery as
document near-dup graphs, here on the star schema so the oracle is
pure SQL).

Graph construction: nodes are parts, an (undirected) edge connects two
parts that appear in the same order. The edge list, its symmetrized
form, the degree census, the degree-ordered orientation (Suri &
Vassilvitskii, WWW'11: out-degree O(sqrt m), wedges O(m^1.5) on any
graph) and the triangle relation are the shared device in
`operators/graph.py`. All stages are equi-joins (orderkey, node key,
canonical pair), so the whole pipeline shuffles on keys and AQE
handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.components import _CC_LOCAL_EDGE_CAP
from ocean_data_pipeline_spark.operators.graph import (
    _BCAST_EDGES,
    _BCAST_NODES,
    copurchase_edges,
    degree_census,
    orient_by_degree,
    oriented_triangles,
    symmetrize,
)
from ocean_data_pipeline_spark.operators.portable import vh
from ocean_data_pipeline_spark.queries import register


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, checkpoint: bool = False
) -> DataFrame:
    """Distinct canonical co-purchase edges (pa < pb) of the lineitem
    table (`operators/graph.py::copurchase_edges`).

    `checkpoint=True` materializes the edge list once (localCheckpoint,
    same device as `operators/components.py`): the census consumes the
    edges from FOUR subtrees (two degree joins, the wedge closing join,
    the edge count), and without a checkpoint Spark re-runs the
    self-join + distinct for each — at sf0.1 that re-derivation is most
    of the query's runtime. On a multi-executor cluster the same role
    is played by reliable checkpoint/cache; the edge list is O(orders ·
    C(order size, 2)), linear in the corpus."""
    edges = copurchase_edges(table(spark, sf_dir, "lineitem"))
    return edges.localCheckpoint() if checkpoint else edges


_EDGES_SQL = """
pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT pa AS node FROM edges
    UNION ALL
    SELECT pb AS node FROM edges
  ) GROUP BY node
)
"""

_TRIANGLE_ORACLE = f"""
WITH {_EDGES_SQL},
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN edges e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT CAST(coalesce(sum(degree * (degree - 1)), 0) AS BIGINT) // 2
        FROM deg) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       CASE WHEN (SELECT coalesce(sum(degree * (degree - 1)), 0) FROM deg) > 0
            THEN round(3.0 * (SELECT n_triangles FROM tri)
                       / ((SELECT sum(degree * (degree - 1)) FROM deg) // 2), 6)
       END AS global_clustering
"""


@register("copurchase_triangle_census", oracle=_TRIANGLE_ORACLE)
def copurchase_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph: node/edge/wedge
    counts, exact triangle count, and the global clustering coefficient
    3·triangles / wedges — the standard graph-cohesion readout (and the
    same computation that grades a near-dup candidate graph's density).

    Plan shape: edge census = one self equi-join on l_orderkey over the
    distinct (order, part) projection + one distinct shuffle on the
    canonical pair. Triangles use the DEGREE-ORDERED orientation (see
    module docstring): two equi-joins attach endpoint degrees, wedges
    come from a self equi-join of the oriented edge list on its source,
    and each wedge is closed by one hash join against the canonical
    edge list. Out-degree under this orientation is O(sqrt(m)), so the
    wedge relation is O(m^1.5) regardless of hub skew — the reason this
    formulation survives a power-law graph at 100 TB where the naive
    id-ordered join (which the small-data DuckDB oracle uses) blows up
    on the highest-degree node. Scalars combine via broadcast joins of
    1-row aggregates.
    """
    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    deg = degree_census(edges).localCheckpoint()
    # One node-scale probe over the checkpointed degree census yields
    # THREE of the output scalars (n_nodes, n_edges = Σdeg/2, the wedge
    # sum) plus the broadcast-route counts — replacing three separate
    # agg jobs + crossJoins with literals, and leaving the triangle
    # count as the only distributed action.
    st = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(F.sum("degree"), F.lit(0)).alias("two_m"),
        F.coalesce(
            F.sum(F.col("degree") * (F.col("degree") - 1)), F.lit(0)
        ).alias("deg_pairs2"),
    ).first()
    n_nodes, n_edges = int(st["n_nodes"]), int(st["two_m"]) // 2
    deg_pairs2 = int(st["deg_pairs2"])
    # Count-only consumer: the wedge self-join pipelines straight into
    # the closing join + count (partial aggs absorb map-side), so the
    # adjacency-list keyed explode of `oriented_triangles` buys nothing
    # here — it pays off only when per-node incidences are needed (see
    # `clustering_coefficient_census`).
    e = orient_by_degree(edges, deg, n_nodes)
    # Wedges from a common source; canonical closing pair is (min, max)
    # by id because the undirected edge list is canonical by id.
    w1 = e.select(F.col("src").alias("s"), F.col("dst").alias("x"))
    w2 = e.select(F.col("src").alias("s"), F.col("dst").alias("y"))
    wedges = (
        w1.join(w2, "s")
        .filter(F.col("x") < F.col("y"))
        .select(F.col("x").alias("pa"), F.col("y").alias("pb"))
    )
    # Closing join: broadcasting the (probe-counted) edge list keeps the
    # wedge mass map-side — it streams from the self-join straight into
    # the closing hash join and the partial count, never crossing a
    # wedge-scale Exchange. Above the cap: the unchanged shuffled join.
    close = F.broadcast(edges) if n_edges <= _BCAST_EDGES else edges
    tri = wedges.join(close, ["pa", "pb"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    n_wedges = deg_pairs2 // 2
    return tri.select(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.lit(n_wedges).cast("bigint").alias("n_wedges"),
        "n_triangles",
        (
            F.round(3.0 * F.col("n_triangles") / F.lit(n_wedges).cast("bigint"), 6)
            if deg_pairs2 > 0
            else F.lit(None).cast("double")
        ).alias("global_clustering"),
    )


_DEGREE_ORACLE = f"""
WITH {_EDGES_SQL}
SELECT degree, count(*) AS n_parts
FROM deg GROUP BY degree ORDER BY degree
"""


@register("part_degree_distribution", oracle=_DEGREE_ORACLE)
def part_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: how many parts
    have each co-purchase degree — the heavy-tail diagnostic that
    decides whether a downstream pairwise stage needs the degree-
    ordered treatment (`copurchase_triangle_census`) or a hub cap.

    Plan shape: the edge census (equi-join + distinct), one partial
    agg per endpoint onto node keys, one partial agg onto the ≤max-
    degree histogram grid. Linear in edges; integer-exact output."""
    deg = degree_census(_copurchase_edges(spark, sf_dir))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("degree")
    )


# --- fixed-iteration PageRank -----------------------------------------

_PR_ITERS = 3
_PR_DAMP = 0.85

_PAGERANK_ORACLE = f"""
WITH {_EDGES_SQL},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
r1 AS (
  SELECT s.dst AS node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * sum(r.pr / d.degree) AS pr
  FROM sym s JOIN r0 r ON r.node = s.src JOIN deg d ON d.node = s.src
  GROUP BY s.dst
),
r2 AS (
  SELECT s.dst AS node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * sum(r.pr / d.degree) AS pr
  FROM sym s JOIN r1 r ON r.node = s.src JOIN deg d ON d.node = s.src
  GROUP BY s.dst
),
r3 AS (
  SELECT s.dst AS node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * sum(r.pr / d.degree) AS pr
  FROM sym s JOIN r2 r ON r.node = s.src JOIN deg d ON d.node = s.src
  GROUP BY s.dst
)
SELECT node, round(pr, 10) AS pagerank
FROM r3 ORDER BY pagerank DESC, node LIMIT 20
"""


@register("pagerank_copurchase_top20", oracle=_PAGERANK_ORACLE)
def pagerank_copurchase_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 rounds, damping 0.85) over the
    symmetrized co-purchase graph; top-20 most central parts. The
    iterative-algorithm-as-composed-DataFrames pattern: the loop runs
    in the DRIVER building a lazy plan (contrast `near_dup_components`,
    whose data-dependent loop must execute per round — PageRank's
    iteration count is fixed, so nothing executes until the action).

    Determinism: every node has degree >= 1 (nodes come FROM edges), so
    there are no dangling-mass corrections and rank mass stays exactly
    conserved; per-neighbor contributions are ~1e-5 doubles whose sum
    order can differ between engines by ~1e-18 — round(10) is 8 orders
    of margin, and the top-20 cut orders by the ROUNDED rank with the
    node id as total tie-break.

    Plan shape: edge census + degrees checkpointed ONCE; each
    iteration is one equi-join (ranks are (node, pr) — shuffles
    O(nodes)) followed by a partial agg onto nodes; contributions
    combine map-side. 3 iterations = 3 shuffles of the rank relation,
    the edge relation partitioning reused. Top-20 is
    TakeOrderedAndProject, no global sort."""
    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    deg = degree_census(edges).localCheckpoint()
    sym = (
        symmetrize(edges)
        .join(deg.select(F.col("node").alias("src"), "degree"), "src")
        .localCheckpoint()
    )
    n_nodes = deg.count()  # one scalar; bounds every rank expression
    if n_nodes == 0:
        return deg.select(
            F.col("node"), F.lit(0.0).alias("pagerank")
        ).limit(20)
    ranks = deg.select("node", (F.lit(1.0) / n_nodes).alias("pr"))
    for _ in range(_PR_ITERS):
        ranks = (
            sym.join(ranks.select(F.col("node").alias("src"), "pr"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(1 - _PR_DAMP) / n_nodes
                    + F.lit(_PR_DAMP) * F.sum(F.col("pr") / F.col("degree"))
                ).alias("pr")
            )
        )
    return (
        ranks.select("node", F.round("pr", 10).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "node")
        .limit(20)
    )


# --- k-core decomposition ---------------------------------------------

#: Core parameter: high enough to peel non-trivially on the dense
#: co-purchase graph (min degree ~42 at sf0.01 — any k below that is a
#: no-op; k=80 peels 5 rounds to an 1857-node core at sf0.01 and peels
#: the sf0.001 graph to empty in 3, both legitimate fixpoints).
_KCORE_K = 80
#: Oracle peel rounds (unrolled). The Spark side iterates to the TRUE
#: fixpoint and raises if it hasn't converged within this bound, so
#: the two formulations cannot silently diverge.
_KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    """Unrolled simultaneous-peel: round i keeps edges whose BOTH
    endpoints have degree >= k within round i-1's edge set. Peeling
    converges in <= rounds-needed <= |V| rounds; extra rounds past the
    fixpoint are no-ops, so 12 unrolled rounds equal the fixpoint as
    long as convergence takes <= 12 (the Spark side asserts exactly
    that). A recursive CTE can't express this peel portably — the
    recursive term would need window/aggregate state — so the oracle
    is generated, not recursive."""
    rounds = "\n".join(
        f"""r{i} AS (
  SELECT u, v FROM (
    SELECT u, v,
           count(*) OVER (PARTITION BY u) AS du,
           count(*) OVER (PARTITION BY v) AS dv
    FROM r{i - 1}
  ) t WHERE du >= {_KCORE_K} AND dv >= {_KCORE_K}
),"""
        for i in range(1, _KCORE_ROUNDS + 1)
    )
    return f"""
WITH {_EDGES_SQL},
r0 AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL
  SELECT pb AS u, pa AS v FROM edges
),
{rounds}
core AS (SELECT u, count(*) AS core_degree FROM r{_KCORE_ROUNDS} GROUP BY u)
SELECT u AS partkey, CAST(core_degree AS BIGINT) AS core_degree
FROM core ORDER BY partkey
"""


@register("kcore_copurchase", oracle=_kcore_oracle())
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the co-purchase graph (k=80): the maximal subgraph in
    which every part still co-occurs with >= 80 other parts — the
    standard cohesive-subgraph extractor (and the classic preprocessing
    cut before community detection / dense-subgraph mining). Output is
    each core member with its within-core degree.

    Peeling is SIMULTANEOUS (all under-k nodes drop per round), the
    Matula–Beck discipline that converges in O(peel-depth) rounds
    rather than one-node-at-a-time O(|V|); this graph needs <= 5
    rounds at test scales. The loop is data-dependent, so like
    `operators/components.py` it runs driver-side with one bounded
    scalar action per round (the edge count doubles as the convergence
    test) and a localCheckpoint per round to keep the plan flat
    (ROUND_NOTES determinism lesson #2: un-materialized iteration
    chains grow the plan superlinearly).

    Per round: ONE degree agg keyed on node + two semi-joins keyed on
    each endpoint — all hash-partitioned on node/edge keys, nothing
    quadratic; at 100 TB each round is two shuffles of the surviving
    edge list, and the list only shrinks. Raises if the fixpoint takes
    more rounds than the oracle's unrolled bound (cannot silently
    diverge from the oracle)."""
    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    # sym stays a lazy union PROJECTION of the checkpointed edge list —
    # it is only ever scanned map-side below, so materializing it would
    # just double the edge bytes held in the block manager.
    sym = symmetrize(edges, "u", "v")
    n_edges = edges.count() * 2
    # Round-11 loop shape (guide §1.2 step 1): incremental simultaneous
    # peel. The former loop re-counted degrees from, and semi-filtered,
    # the FULL surviving edge list every round (2 edge-scale shuffles +
    # an edge-scale checkpoint per round). Degrees within the surviving
    # subgraph satisfy deg_r(u) = deg_{r-1}(u) − |nbrs(u) ∩ removed_r|,
    # all integers, so the loop instead keeps the NODE-scale degree
    # relation as state: each round drops the under-k nodes and
    # subtracts their incidence, measured by ONE map-side pass of the
    # static edge projection against the (broadcast-routed) removed
    # set. Same peel schedule, integer-exact degrees ⇒ identical
    # fixpoint and identical output; the convergence probe shrinks from
    # an edge count to the removed-set count. Above the broadcast cap
    # the same algebra runs with shuffled joins (the 100-TB path).
    deg = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    for _ in range(_KCORE_ROUNDS):
        removed = (
            deg.filter(F.col("deg") < _KCORE_K).select("u").localCheckpoint()
        )
        if removed.count() == 0:
            break
        ru, rv = removed, removed.select(F.col("u").alias("v"))
        if n_edges <= _BCAST_EDGES:
            ru, rv = F.broadcast(ru), F.broadcast(rv)
        delta = (
            sym.join(rv, "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        deg = (
            deg.join(ru, "u", "left_anti")
            .join(delta, "u", "left")
            .select(
                "u",
                (F.col("deg") - F.coalesce(F.col("d"), F.lit(0))).alias("deg"),
            )
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"k-core peel did not converge within {_KCORE_ROUNDS} rounds; "
            "raise _KCORE_ROUNDS (and the oracle bound with it)"
        )
    return (
        deg.select(
            F.col("u").alias("partkey"),
            F.col("deg").cast("bigint").alias("core_degree"),
        ).orderBy("partkey")
    )


# --- association rules (market basket) --------------------------------

#: Support floor: a pair must co-occur in at least this many orders.
_AR_MIN_COBUY = 3

_ASSOC_ORACLE = f"""
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM pl),
item AS (SELECT l_partkey, count(*) AS n_item FROM pl GROUP BY l_partkey),
pair AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons, count(*) AS n_pair
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_AR_MIN_COBUY}
),
rules AS (
  SELECT p.ante, p.cons, p.n_pair,
         ia.n_item AS n_ante, ic.n_item AS n_cons,
         round(CAST(p.n_pair AS DOUBLE) / n.n, 6) AS support,
         round(CAST(p.n_pair AS DOUBLE) / ia.n_item, 6) AS confidence,
         round(CAST(p.n_pair AS DOUBLE) * n.n
               / (CAST(ia.n_item AS DOUBLE) * ic.n_item), 6) AS lift
  FROM pair p
  JOIN item ia ON ia.l_partkey = p.ante
  JOIN item ic ON ic.l_partkey = p.cons
  CROSS JOIN n_orders n
)
SELECT ante, cons, CAST(n_pair AS BIGINT) AS n_pair,
       CAST(n_ante AS BIGINT) AS n_ante, CAST(n_cons AS BIGINT) AS n_cons,
       support, confidence, lift
FROM rules
ORDER BY lift DESC, ante, cons
LIMIT 20
"""


@register("association_rules_copurchase", oracle=_ASSOC_ORACLE)
def association_rules_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (Agrawal &
    Srikant's support/confidence framework + lift): pairwise rules
    ante→cons with support = P(both), confidence = P(cons|ante), and
    lift = P(both)/(P(ante)·P(cons)), support-floored and ranked by
    lift — the market-basket readout over the same basket self-join
    the co-purchase graph uses (fanout bounded by order size, never
    all-pairs). Top-20 by lift with the full count provenance so the
    ratios are auditable.

    Determinism: every ratio is exact integers pushed through one
    fixed-shape double expression; the lift sort tie-breaks on the
    pair. Plan shape: basket self-join on l_orderkey → pair partial
    agg; item counts and the scalar order count ride in as broadcasts;
    top-20 = TakeOrderedAndProject."""
    pl = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()  # consumed by 3 subtrees (pairs, items, scalar)
    )
    n_orders = pl.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    item = pl.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = pl.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("ante"))
    b = pl.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("cons"))
    pair = (
        a.join(b, "k")
        .filter(F.col("ante") < F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _AR_MIN_COBUY)
    )
    ia = F.broadcast(
        item.select(F.col("l_partkey").alias("ante"), F.col("n_item").alias("n_ante"))
    )
    ic = F.broadcast(
        item.select(F.col("l_partkey").alias("cons"), F.col("n_item").alias("n_cons"))
    )
    lift = (
        F.col("n_pair").cast("double")
        * F.col("n")
        / (F.col("n_ante").cast("double") * F.col("n_cons"))
    )
    return (
        pair.join(ia, "ante")
        .join(ic, "cons")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.col("n_ante").cast("bigint").alias("n_ante"),
            F.col("n_cons").cast("bigint").alias("n_cons"),
            F.round(F.col("n_pair").cast("double") / F.col("n"), 6).alias("support"),
            F.round(F.col("n_pair").cast("double") / F.col("n_ante"), 6).alias(
                "confidence"
            ),
            F.round(lift, 6).alias("lift"),
            lift.alias("_l"),
        )
        .orderBy(F.desc("_l"), F.asc("ante"), F.asc("cons"))
        .limit(20)
        .drop("_l")
    )


# --- multi-source BFS reachability (3 hops) ---------------------------

_BFS_ORACLE = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
canon AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e AS (
  SELECT pa AS src, pb AS dst FROM canon
  UNION ALL
  SELECT pb AS src, pa AS dst FROM canon
),
d0 AS (
  SELECT p_partkey AS node FROM part WHERE p_partkey % 97 = 0
),
d1 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN d0 ON e.src = d0.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
),
d2 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN d1 ON e.src = d1.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
    AND e.dst NOT IN (SELECT node FROM d1)
),
d3 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN d2 ON e.src = d2.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
    AND e.dst NOT IN (SELECT node FROM d1)
    AND e.dst NOT IN (SELECT node FROM d2)
),
census AS (
  SELECT 0 AS dist, count(*) AS n_nodes FROM d0
  UNION ALL SELECT 1, count(*) FROM d1
  UNION ALL SELECT 2, count(*) FROM d2
  UNION ALL SELECT 3, count(*) FROM d3
  UNION ALL
  SELECT -1, (SELECT count(*) FROM part)
             - (SELECT count(*) FROM d0) - (SELECT count(*) FROM d1)
             - (SELECT count(*) FROM d2) - (SELECT count(*) FROM d3)
)
SELECT c.dist,
       CAST(c.n_nodes AS BIGINT) AS n_nodes,
       CAST(c.n_nodes AS DOUBLE) / (SELECT count(*) FROM part) AS node_share
FROM census c
ORDER BY c.dist
"""


@register("bfs_reachability", oracle=_BFS_ORACLE)
def bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-purchase graph: from a
    deterministic seed set (part keys divisible by 97), how much of
    the catalog is within 1/2/3 hops — the blast-radius /
    related-items-expansion query a recommender or recall-expansion
    stage runs. Census rows per hop distance, -1 = unreachable in 3.

    Two routes, chosen from measured sizes (guide §3.1 probe→route):

    - Local: with at most `_BCAST_NODES` parts and at most
      `_CC_LOCAL_EDGE_CAP` lineitem rows, the non-null (orderkey,
      partkey) incidence and the tagged seed parts go to ONE Arrow
      task, which walks part → orders → parts three times with
      `searchsorted` over sorted copies of the incidence (each step
      keeps the unique keys it reaches, so repeated pairs need no
      distinct shuffle). A part's
      co-purchase neighbours are exactly the other parts of its
      orders, so this reaches the same node sets as the `pa < pb`
      edge list, with no self-join, edge distinct, per-hop broadcast
      or checkpoint. The lineitem row count bounds what the task
      holds (the same per-task bound as the union-find path in
      `operators/components.py`).
    - Distributed, above either cap: fixed-depth unrolled BFS (3
      frontier joins, each an equi-join on the node key + anti-join
      against the visited set, checkpointed per hop) — the standard
      Pregel-free formulation for bounded-hop queries. The frontier
      relation shrinks to O(reached nodes), so each hop shuffles at
      most the adjacency rows of the current frontier; the census
      output is O(1)."""
    part = table(spark, sf_dir, "part")
    # One parquet-metadata count: the node-domain size routes the
    # query and the per-hop broadcasts below AND supplies the output's
    # n_parts / node_share scalars as literals (the frontier and
    # visited sets are ≤ n_parts rows by construction, so one probe
    # certifies every hop; above the cap the unchanged shuffled joins
    # run).
    n_parts = part.count()
    seeds = part.filter(F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("node")
    )
    lineitem = table(spark, sf_dir, "lineitem")
    if n_parts <= _BCAST_NODES and lineitem.count() <= _CC_LOCAL_EDGE_CAP:
        incidence = lineitem.select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("node")
        ).dropna()
        tagged = incidence.withColumn("seed", F.lit(False)).unionByName(
            seeds.withColumn("seed", F.lit(True)), allowMissingColumns=True
        )

        def census(batches):
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            k, node, seed_rows = [], [], []
            for b in batches:
                tag = b.column("seed")
                inc, sd = b.filter(pc.invert(tag)), b.filter(tag)
                k.append(inc.column("k").to_numpy(zero_copy_only=False))
                node.append(inc.column("node").to_numpy(zero_copy_only=False))
                seed_rows.append(sd.column("node").to_numpy(zero_copy_only=False))
            k, node, seed_rows = (
                np.concatenate(c) if c else np.empty(0, np.int64)
                for c in (k, node, seed_rows)
            )
            by_part, by_order = np.argsort(node), np.argsort(k)
            part_sorted, order_of_part = node[by_part], k[by_part]
            order_sorted, part_of_order = k[by_order], node[by_order]

            def expand(keys, sorted_keys, values):
                # unique values of every sorted_keys slot equal to a key:
                # the [lo, lo + n) runs, gathered as one index vector
                lo = np.searchsorted(sorted_keys, keys, "left")
                n = np.searchsorted(sorted_keys, keys, "right") - lo
                start = np.repeat(lo - np.cumsum(n) + n, n)
                return np.unique(values[start + np.arange(n.sum())])

            visited = frontier = np.unique(seed_rows)
            counts = [len(seed_rows)]
            for _ in range(3):
                orders = expand(frontier, part_sorted, order_of_part)
                reached = expand(orders, order_sorted, part_of_order)
                frontier = np.setdiff1d(reached, visited, assume_unique=True)
                visited = np.union1d(visited, frontier)
                counts.append(len(frontier))
            n_nodes = [n_parts - sum(counts)] + counts
            yield pa.RecordBatch.from_pydict(
                {
                    "dist": pa.array(range(-1, 4), pa.int32()),
                    "n_nodes": pa.array(n_nodes, pa.int64()),
                    "node_share": pa.array(
                        [float(c) / float(n_parts) if n_parts > 0 else None
                         for c in n_nodes],
                        pa.float64(),
                    ),
                }
            )

        return tagged.coalesce(1).mapInArrow(
            census, "dist int, n_nodes bigint, node_share double"
        )
    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    sym = symmetrize(edges)
    bcast = n_parts <= _BCAST_NODES
    visited = seeds.withColumn("dist", F.lit(0))
    frontier = seeds
    for hop in (1, 2, 3):
        fr = frontier.withColumnRenamed("node", "src")
        vis = visited.select("node")
        if bcast:
            fr, vis = F.broadcast(fr), F.broadcast(vis)
        frontier = (
            sym.join(fr, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(vis, "node", "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionAll(frontier.withColumn("dist", F.lit(hop)))
    reached = visited.groupBy("dist").agg(F.count(F.lit(1)).alias("n_hop"))
    n_reached = visited.agg(F.count(F.lit(1)).alias("n_reached"))
    unreached = n_reached.select(
        F.lit(-1).alias("dist"),
        (F.lit(n_parts) - F.col("n_reached")).alias("n_hop"),
    )
    # static dist spine so an exhausted frontier still emits its 0 row
    # (the oracle's per-hop count(*) aggregates always produce a row)
    spine = spark.range(-1, 4).select(F.col("id").cast("int").alias("dist"))
    return (
        spine.join(reached.unionAll(unreached), "dist", "left")
        .select(
            "dist",
            F.coalesce("n_hop", F.lit(0)).cast("bigint").alias("n_nodes"),
            F.when(
                F.lit(n_parts) > 0,
                F.coalesce("n_hop", F.lit(0)).cast("double") / F.lit(n_parts),
            ).alias("node_share"),
        )
        .orderBy("dist")
    )


# --- item-item collaborative filtering (cosine top-k) ------------------

_ITEM_COSINE_ORACLE = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
c AS (
  SELECT l_partkey AS item, count(*) AS n_orders FROM op GROUP BY 1
),
canon AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c_ij
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
mirrored AS (
  SELECT pa AS item, pb AS neighbor, c_ij FROM canon
  UNION ALL
  SELECT pb AS item, pa AS neighbor, c_ij FROM canon
),
scored AS (
  SELECT m.item, m.neighbor, ci.n_orders AS c_i, cj.n_orders AS c_j, m.c_ij,
         m.c_ij / sqrt(CAST(ci.n_orders AS DOUBLE) * cj.n_orders) AS cosine
  FROM mirrored m
  JOIN c ci ON ci.item = m.item
  JOIN c cj ON cj.item = m.neighbor
  WHERE m.c_ij >= 2 AND ci.n_orders >= 5
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY item
                               ORDER BY cosine DESC, neighbor) AS rank
  FROM scored
)
SELECT item, neighbor, c_i, c_j, c_ij, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
ORDER BY item, rank
"""


@register("item_item_cosine_topk", oracle=_ITEM_COSINE_ORACLE)
def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 most-similar parts per
    part under binary cosine over order baskets — cos(i,j) =
    |orders with both| / sqrt(|orders with i|·|orders with j|) — the
    classic neighborhood recommender (Sarwar et al., WWW'01) computed
    as pure relational algebra. Support floors (c_ij >= 2, c_i >= 5)
    keep noise pairs out and bound the output.

    Scale: pair counts come from the same-order equi-join (per-order
    C(items,2) fanout, linear in orders — never an all-pairs join);
    pairs are counted CANONICALLY (pa < pb) then mirrored, halving the
    shuffle; item marginals broadcast into the scoring join; top-3 is
    one ranked window per item partition.

    Determinism: cosine = integer / sqrt(integer product) is a fixed
    IEEE chain from exact counts (emitted unrounded); ranking ties
    break on neighbor id."""
    # localCheckpoint: the distinct (order, part) projection feeds the
    # marginals AND both self-join sides (association_rules' device);
    # the item marginals really are broadcast now (node-scale — the
    # lazy subtrees carried no stats, so the scoring joins ran as two
    # pair-scale SortMergeJoins despite the docstring)
    op = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    c = op.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    canon = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c_ij"))
    )
    mirrored = canon.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "c_ij"
    ).unionAll(
        canon.select(F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "c_ij")
    )
    ci = F.broadcast(c.select(F.col("item"), F.col("n_orders").alias("c_i")))
    cj = F.broadcast(
        c.select(F.col("item").alias("neighbor"), F.col("n_orders").alias("c_j"))
    )
    scored = (
        mirrored.join(ci, "item")
        .join(cj, "neighbor")
        .filter((F.col("c_ij") >= 2) & (F.col("c_i") >= 5))
        .select(
            "item",
            "neighbor",
            "c_i",
            "c_j",
            "c_ij",
            (
                F.col("c_ij")
                / F.sqrt(F.col("c_i").cast("double") * F.col("c_j"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), "neighbor")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .orderBy("item", "rank")
    )


# --- Apriori frequent triples -----------------------------------------

_TRIPLES_ORACLE = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
items AS (
  SELECT l_partkey AS item, count(*) AS supp FROM op GROUP BY 1
  HAVING count(*) >= 2
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS supp
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_partkey IN (SELECT item FROM items)
    AND b.l_partkey IN (SELECT item FROM items)
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
cand AS (
  -- Apriori join step: (a,b) + (a,c) with b < c, pruned by (b,c) in L2
  SELECT p1.pa AS a, p1.pb AS b, p2.pb AS c
  FROM pairs p1
  JOIN pairs p2 ON p2.pa = p1.pa AND p2.pb > p1.pb
  JOIN pairs p3 ON p3.pa = p1.pb AND p3.pb = p2.pb
),
occ AS (
  SELECT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
counted AS (
  SELECT c.a, c.b, c.c, count(*) AS support
  FROM cand c
  JOIN occ o ON o.pa = c.a AND o.pb = c.b
  JOIN op  p ON p.l_orderkey = o.l_orderkey AND p.l_partkey = c.c
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
)
SELECT a AS part_a, b AS part_b, c AS part_c, support
FROM counted
ORDER BY support DESC, part_a, part_b, part_c
LIMIT 15
"""


@register("frequent_triples_apriori", oracle=_TRIPLES_ORACLE)
def frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-3 frequent itemsets by Apriori (Agrawal-Srikant): L2 =
    support-floored co-purchase pairs, C3 = the Apriori join (a,b)+
    (a,c) PRUNED by requiring the third sub-pair (b,c) ∈ L2 — the
    anti-monotonicity step that keeps candidate counting tractable —
    then support counting ONLY over candidates, top-15 reported.
    Extends `association_rules_copurchase` (pairs) one lattice level.

    Scale: pair occurrences come from the per-order C(items,2)
    equi-join (linear in orders); candidate generation runs on the
    L2 relation (support-floored, small); the counting join touches
    only (candidate × occurrence) matches, never the full triple
    cross of items. All joins are equi-joins on part/order keys."""
    # Round 11: the distinct (order, part) projection feeds FOUR
    # subtrees (items, both occ sides, the counting join) and the L2
    # pair relation feeds three — checkpoint each once instead of
    # re-deriving the scan+distinct / basket-join+agg per consumer;
    # the Apriori candidate set is support-floored tiny, so it
    # broadcasts into the occurrence-scale counting join.
    op = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    items = (
        op.groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
        .select("item")
    )
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    occ = a.join(b, "k").filter(F.col("pa") < F.col("pb"))
    pairs = (
        occ.join(F.broadcast(items.withColumnRenamed("item", "pa")), "pa")
        .join(F.broadcast(items.withColumnRenamed("item", "pb")), "pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
        .select("pa", "pb")
        .localCheckpoint()
    )
    p1 = pairs.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    p2 = pairs.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    p3 = pairs.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    cand = (
        p1.join(p2, "a")
        .filter(F.col("c") > F.col("b"))
        .join(p3, ["b", "c"], "left_semi")
    )
    counted = (
        F.broadcast(cand).join(
            occ.select("k", F.col("pa").alias("a"), F.col("pb").alias("b")),
            ["a", "b"],
        )
        .join(
            op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("c")),
            ["k", "c"],
        )
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    return (
        counted.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("c").alias("part_c"),
            "support",
        )
        .orderBy(F.col("support").desc(), "part_a", "part_b", "part_c")
        .limit(15)
    )


# --- weighted shortest paths (Bellman-Ford, fixed horizon) -------------

_BF_ROUNDS = 4

def _bf_oracle(k: int) -> str:
    parts = [
        f"""WITH {_EDGES_SQL},
wedges AS (
  SELECT pa, pb, 1 + (pa * 31 + pb * 17) % 9 AS w FROM edges
),
sym AS (
  SELECT pa AS src, pb AS dst, w FROM wedges
  UNION ALL
  SELECT pb AS src, pa AS dst, w FROM wedges
),
d0 AS (
  SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
  FROM part WHERE p_partkey % 97 = 0
)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""",
d{i} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{i-1}
    UNION ALL
    SELECT s.dst AS node, d.dist + s.w AS dist
    FROM d{i-1} d JOIN sym s ON s.src = d.node
  ) t GROUP BY node
)"""
        )
    parts.append(
        f"""
SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes, min(node) AS min_node
FROM d{k} GROUP BY dist ORDER BY dist"""
    )
    return "".join(parts)


_BF_ORACLE = _bf_oracle(_BF_ROUNDS)


@register("bellman_ford_distances", oracle=_BF_ORACLE)
def bellman_ford_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths from the BFS seed set over the
    co-purchase graph, Bellman-Ford with a FIXED 4-relaxation horizon
    (dist = cheapest path using ≤4 edges; edge weight = 1+(31·pa+17·pb)
    mod 9, a deterministic latency stand-in). Each round is one
    frontier equi-join + min-combine, localCheckpoint per round (the
    kcore/BFS loop device); the oracle is a GENERATED 4-round unrolled
    SQL, so any per-round divergence breaks the hash. Census output:
    one row per distinct distance. Unweighted reachability is
    `bfs_reachability`; this adds the relax-with-min semiring."""
    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    wedges = edges.select(
        "pa", "pb",
        (F.lit(1) + (F.col("pa") * 31 + F.col("pb") * 17) % 9).alias("w"),
    )
    sym = symmetrize(wedges)
    dist = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 97 == 0)
        .select(F.col("p_partkey").alias("node"), F.lit(0).cast("bigint").alias("dist"))
    )
    for _ in range(_BF_ROUNDS):
        relax = sym.join(dist.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionAll(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return (
        dist.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").alias("min_node"),
        )
        .orderBy("dist")
    )


# --- degree assortativity ---------------------------------------------

_ASSORT_ORACLE = f"""
WITH {_EDGES_SQL},
sym AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL
  SELECT pb, pa FROM edges
),
ends AS (
  SELECT du.degree AS ja, dv.degree AS jb
  FROM sym s
  JOIN deg du ON du.node = s.u
  JOIN deg dv ON dv.node = s.v
),
s AS (
  SELECT count(*) AS m,
         CAST(sum(ja) AS DOUBLE) AS sj,
         {vh("sum(CAST(ja AS DECIMAL(19,0)) * CAST(ja AS DECIMAL(19,0)))")} AS sjj,
         {vh("sum(CAST(ja AS DECIMAL(19,0)) * CAST(jb AS DECIMAL(19,0)))")} AS sjk
  FROM ends
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       CASE WHEN m * sjj - sj * sj <> 0
            THEN (m * sjk - sj * sj) / (m * sjj - sj * sj) END
         AS degree_assortativity
FROM s
"""


@register("degree_assortativity", oracle=_ASSORT_ORACLE)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman,
    PRL'02): the Pearson correlation of endpoint degrees across
    edges — do hub parts co-purchase with hubs (r>0, social-network
    shape) or with leaves (r<0, technological/dependency shape)? The
    structural readout that predicts whether hub-capping or
    degree-ordering (`copurchase_triangle_census`'s device) will pay.
    Computed over the symmetrized edge ends, where the assortativity
    collapses to plain Pearson; all sums are exact integers (int128
    products, VARCHAR-hop casts), the r chain fixed IEEE with a
    regular-graph guard.

    Plan shape: the edge list is built once (checkpointed) and joined
    twice against the degree relation (shuffles keyed on node);
    everything else is 1-row algebra. At 100 TB: same posture as the
    triangle census — edges are corpus-linear, degrees are a census."""
    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    sym = symmetrize(edges, "u", "v")
    deg = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ends = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("ja")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("jb")), "v")
        .select("ja", "jb")
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("ja").cast("double").alias("sj"),
        F.sum(dec("ja") * dec("ja")).cast("double").alias("sjj"),
        F.sum(dec("ja") * dec("jb")).cast("double").alias("sjk"),
    )
    m = F.col("m")
    num = m * F.col("sjk") - F.col("sj") * F.col("sj")
    den = m * F.col("sjj") - F.col("sj") * F.col("sj")
    return s.select(
        F.expr("CAST(m div 2 AS BIGINT)").alias("n_edges"),
        F.when(den != 0, num / den).alias("degree_assortativity"),
    )


# --- per-node clustering coefficient census -------------------------------

_LOCAL_CC_ORACLE = f"""
WITH {_EDGES_SQL},
tri AS (  -- id-ordered triangle enumeration (a < b < c)
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM edges e1
  JOIN edges e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN edges e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
),
tnode AS (
  SELECT node, count(*) AS t FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
cc AS (
  SELECT d.node, d.degree, coalesce(t.t, 0) AS t,
         CAST(round(2.0 * coalesce(t.t, 0)
                    / (d.degree * (d.degree - 1.0)), 12)
              AS DECIMAL(28,12)) AS cc
  FROM deg d LEFT JOIN tnode t ON t.node = d.node
  WHERE d.degree >= 2
),
banded AS (  -- degree quartiles: scale-invariant strata
  SELECT ntile(4) OVER (ORDER BY degree, node) AS degree_band,
         degree, t, cc
  FROM cc
)
SELECT degree_band,
       count(*) AS n_nodes,
       round(CAST(sum(degree) AS DOUBLE) / count(*), 4) AS avg_degree,
       CAST(sum(t) AS BIGINT) AS triangle_incidences,
       round(CAST(sum(cc) AS DOUBLE) / count(*), 6) AS avg_clustering,
       CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cc
FROM banded GROUP BY degree_band ORDER BY degree_band
"""


@register("clustering_coefficient_census", oracle=_LOCAL_CC_ORACLE)
def clustering_coefficient_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node (local) clustering coefficient census of the
    co-purchase graph, stratified into degree QUARTILES: cc_v =
    2·T_v / (d_v(d_v-1)) for nodes with degree >= 2, averaged per
    quartile (the Watts-Strogatz readout, stratified so hub vs leaf
    cohesion is visible — `copurchase_triangle_census` reports only
    the global transitivity ratio, which hubs dominate). Quartiles
    (not fixed cuts) keep the strata populated at any corpus scale.

    Determinism: triangle incidence and degrees are exact integers;
    the quartile assignment is ANSI ntile(4) over the total
    (degree, node) order, computed WITHOUT any row-scale global
    window: global rank = (broadcast prefix-count of smaller degrees
    from the degree census) + row_number within the node's degree
    group — exact, fully lazy, and the only unpartitioned window runs
    over the distinct-DEGREE census (O(sqrt m) values in any graph:
    Σ of d distinct degrees ≥ d(d+1)/2 ≤ 2m). Each node's cc rounds
    ONCE into DECIMAL(28,12) before the band mean.

    Plan shape: the shared edge census (localCheckpointed, consumed by
    degree + wedge subtrees), then the DEGREE-ORDERED wedge enumeration
    of `operators/graph.py::oriented_triangles` (out-degree O(sqrt m)
    under the orientation, so the wedge relation is O(m^1.5) regardless
    of hub skew — the id-ordered oracle form blows up on the hottest
    node at scale), wedges emitted map-side as packed BIGINTs from
    sorted adjacency lists and closed by one single-long hash join; each
    triangle is found exactly once under either orientation, so the
    per-node incidence counts match the id-ordered oracle row for
    row."""
    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    deg = degree_census(edges).localCheckpoint()
    tri = oriented_triangles(edges, deg)
    # ONE pass over the triangle relation: union-of-three-selects made
    # Spark build the whole wedge-explode + close subtree once per
    # branch (3x the wedge mass, verified in the AQE final plan);
    # exploding the corner array keeps it a single enumeration.
    tnode = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    cc = (
        deg.filter(F.col("degree") >= 2)
        .join(tnode, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
            F.round(
                2.0
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1.0)),
                12,
            )
            .cast("decimal(28,12)")
            .alias("cc"),
        )
    )
    from ocean_data_pipeline_spark.operators.ranks import ntile_from_rank

    dcensus = cc.groupBy("degree").agg(F.count(F.lit(1)).alias("_dn"))
    w_off = Window.orderBy("degree").rowsBetween(Window.unboundedPreceding, -1)
    offsets = dcensus.select(
        "degree",
        F.coalesce(F.sum("_dn").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_dn").over(Window.partitionBy()).alias("_n_all"),
    )
    ranked = cc.join(F.broadcast(offsets), "degree").withColumn(
        "_rank",
        F.col("_off")
        + F.row_number().over(Window.partitionBy("degree").orderBy("node")),
    )
    band = ntile_from_rank(F.col("_rank"), F.col("_n_all"), 4)
    return (
        ranked.select(band.alias("degree_band"), "degree", "t", "cc")
        .groupBy("degree_band")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.round(F.sum("degree").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_degree"
            ),
            F.sum("t").cast("bigint").alias("triangle_incidences"),
            F.round(F.sum("cc").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_clustering"
            ),
            F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero_cc"),
        )
        .orderBy("degree_band")
    )
