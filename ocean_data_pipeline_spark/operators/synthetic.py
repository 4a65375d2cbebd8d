"""Deterministic synthetic graph generators for fixtures and probes.

The link-prediction hub cap (`queries/wave27_ops.py:_LP_CAP`) targets
power-law graphs — min(deg, cap) truncates only hubs while the mass of
nodes keep full adjacency lists. The TPC-H co-purchase graph the
registry measures recall on is near-uniform-degree (median 119 vs cap
64 at sf0.1), i.e. the cap's WORST case by construction, so the
recall table in PLANS.md needed a fixture with the topology the cap is
designed for (VERDICT r10 item 4). This module provides it.

Chung–Lu model (Chung & Lu, PNAS 2002): node i gets target weight
w_i = dmax * (i+1)^(-exponent) and the undirected edge (i, j), i < j,
exists iff u(i, j) < min(1, w_i * w_j / sum(w)), which makes
E[deg_i] ~= w_i up to hub-pair clamping. Instead of an RNG stream,
u(i, j) is a HASH threshold — `xxhash64(i, j, seed)` mapped to [0, 1)
— so the graph is a pure function of (n, dmax, exponent, seed):
reproducible across runs, partitionings, and Spark versions, with no
driver-side state. The construction is fully Spark-side (range
self-join + hash filter), so the same generator scales to fixture
sizes well beyond what a driver-side edge list could hold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def powerlaw_edges(
    spark: SparkSession,
    n: int = 4000,
    dmax: float = 800.0,
    exponent: float = 0.45,
    seed: int = 42,
) -> DataFrame:
    """Deterministic Chung–Lu power-law edge list: (pa, pb), pa < pb.

    Defaults give a ~4000-node graph with expected max degree ~dmax,
    median degree well under the link-prediction cap of 64, and ~270
    hub nodes above it — the design-target topology for the hub cap.
    Column names match `operators/graph.py::copurchase_edges` so the
    graph devices consume it unchanged.
    """
    # sum(w) over i in [1, n]: driver-side scalar from the closed-form
    # weights (exact, no data pass needed)
    total_w = dmax * sum((i + 1) ** (-exponent) for i in range(n))
    a = spark.range(n).select(F.col("id").alias("pa"))
    b = spark.range(n).select(F.col("id").alias("pb"))
    wa = dmax * F.pow(F.col("pa") + 1, -exponent)
    wb = dmax * F.pow(F.col("pb") + 1, -exponent)
    # xxhash64 -> uniform [0, 1): pmod folds the signed 64-bit hash
    # onto [0, 2^32) and the divide normalizes; 2^32 buckets is far
    # finer than any edge probability gradient here
    u = F.pmod(
        F.xxhash64(F.col("pa"), F.col("pb"), F.lit(seed)), F.lit(1 << 32)
    ).cast("double") / float(1 << 32)
    return (
        a.crossJoin(b)
        .filter(F.col("pa") < F.col("pb"))
        .filter(u < F.least(F.lit(1.0), wa * wb / F.lit(total_w)))
        .select("pa", "pb")
    )
