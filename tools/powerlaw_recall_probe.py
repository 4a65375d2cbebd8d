"""Hub-cap recall on the cap's DESIGN-TARGET topology (VERDICT r10
item 4).

PLANS.md round 10 measured capped-vs-exact link-prediction top-20
overlap on the TPC-H co-purchase graph — a near-uniform-degree graph
(median 119 vs cap 64 at sf0.1) that is the cap's worst case by
construction. This probe measures the same overlap on a deterministic
synthetic Chung-Lu power-law graph (`operators/synthetic.py`), where
min(deg, 64) truncates only hubs, turning the PLANS.md claim "recall
concentrates where it matters on power-law graphs" into a measured
row.

Methodology mirrors the registered query pair exactly
(`queries/wave27_ops.py`): same adjacency build, same
`operators/graph.py::wedge_pair_census` device for both the full and
the capped-prefix census, same anti-join + (cn desc, a, c) ranking, and the capped
top-20 re-ranks the top-100 survivors by EXACT common-neighbor count
(the confirm stage), identical tie-breaks. Survivor sets are
prefix-nested (one ordering), so the 100 / 2000 containment columns
come from one 2000-row collect.

Usage: python tools/powerlaw_recall_probe.py
Prints graph stats plus a PLANS.md-ready markdown row.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from ocean_data_pipeline_spark.operators.graph import (  # noqa: E402
    symmetrize,
    wedge_pair_census,
)
from ocean_data_pipeline_spark.operators.synthetic import powerlaw_edges  # noqa: E402
from ocean_data_pipeline_spark.queries.wave27_ops import (  # noqa: E402
    _LP_CAP,
    _LP_SURVIVORS,
)
from ocean_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("powerlaw-recall-probe")
    t0 = time.perf_counter()
    edges = powerlaw_edges(spark).localCheckpoint()

    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.max("degree").alias("max_deg"),
        F.expr("percentile(degree, 0.5)").alias("median_deg"),
        F.sum((F.col("degree") > _LP_CAP).cast("int")).alias("hubs"),
    ).first()
    n_edges = edges.count()

    adj = (
        sym.join(F.broadcast(deg), sym.dst == deg.node)
        .groupBy(F.col("src").alias("w"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("dst").alias("x"), "degree"))
            ).alias("nbrs")
        )
        .localCheckpoint()
    )
    ids = F.transform(F.col("nbrs"), lambda s: s["x"])

    def ranked(census, count_col: str, k: int):
        return (
            census.join(
                edges,
                (census.a == edges.pa) & (census.c == edges.pb),
                "left_anti",
            )
            .orderBy(F.desc(count_col), F.asc("a"), F.asc("c"))
            .limit(k)
        )

    census_exact = wedge_pair_census(adj, ids, "cn")
    exact20 = [
        (r["a"], r["c"]) for r in ranked(census_exact, "cn", 20).collect()
    ]

    capped_ids = F.slice(ids, 1, _LP_CAP)
    census_cap = wedge_pair_census(adj, capped_ids, "cn_capped")
    surv2000 = [
        (r["a"], r["c"])
        for r in ranked(census_cap, "cn_capped", 2000).collect()
    ]
    surv100 = surv2000[:_LP_SURVIVORS]

    # confirm stage: exact cn for the 100 survivors, identical final
    # tie-breaks (common_neighbors desc, a, c)
    sdf = spark.createDataFrame(surv100, "a long, c long")
    capped20 = [
        (r["a"], r["c"])
        for r in (
            sdf.join(census_exact, ["a", "c"])
            .orderBy(F.desc("cn"), F.asc("a"), F.asc("c"))
            .limit(20)
            .collect()
        )
    ]

    in20 = len(set(exact20) & set(capped20))
    in100 = len(set(exact20) & set(surv100))
    in2000 = len(set(exact20) & set(surv2000))
    dt = time.perf_counter() - t0

    print(
        f"graph: nodes={stats['nodes']} edges={n_edges} "
        f"median_deg={stats['median_deg']:.0f} max_deg={stats['max_deg']} "
        f"nodes_above_cap={stats['hubs']} "
        f"({100.0 * stats['hubs'] / stats['nodes']:.1f}%)  [{dt:.1f}s]"
    )
    print(
        "| powerlaw n=4000 (median "
        f"{stats['median_deg']:.0f}, max {stats['max_deg']}) "
        f"| {in20}/20 ({in20 / 20:.2f}) | {in100}/20 | {in2000}/20 |"
    )


if __name__ == "__main__":
    main()
