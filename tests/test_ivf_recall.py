"""IVF multi-probe recall properties (operators.similarity).

Multi-probe (nearest-2 cells) probes a strict superset of single-probe
candidates, so its recall against the exact brute-force top-k can only
be >= single-probe's. Checked on the sf0.01 embeddings table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    ivf_topk_multiprobe,
)

SF = "/root/testdata/sf0.01"
K = 5
N_PROBES = 25


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["probe_id"], r["neighbor_id"]) for r in df.collect()}


def test_multiprobe_recall_dominates_single_probe(spark):
    emb = table(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    exact = _pairs(cosine_topk(emb, probes, k=K))
    single = _pairs(ivf_topk(emb, probes, k=K))
    multi = _pairs(ivf_topk_multiprobe(emb, probes, k=K))
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single, f"multi {r_multi:.3f} < single {r_single:.3f}"
    # isotropic 64-dim testdata: 2/64 cells probed; require a usable floor
    assert r_multi >= 0.05, f"multi-probe recall {r_multi:.3f} degenerate"


def test_multiprobe_candidates_superset(spark):
    """Every single-probe (probe, neighbor) score pair must also be
    scoreable under multi-probe: cell1 is always among the probed
    cells, so single-probe's top-k can only be displaced by BETTER
    candidates, never lost arbitrarily."""
    emb = table(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    single = ivf_topk(emb, probes, k=K)
    multi_all = ivf_topk_multiprobe(emb, probes, k=10_000)  # unbounded rank
    assert _pairs(single) <= _pairs(multi_all)


def test_frozen_codebook_recall_matches_live_training(spark):
    """The committed frozen codebook (operators.ivf_codebook, trained
    offline by tools/freeze_codebook.py) is the artifact the registered
    query ships: the trained centroids must deliver materially better
    recall than the argmax-dim quantizer at the same probe budget
    (measured ~0.49 vs ~0.02 here) — centroids adapt to the data
    distribution; dominant-axis cells don't."""
    from ocean_data_pipeline_spark.operators.similarity import ivf_topk_frozen

    emb = table(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    exact = _pairs(cosine_topk(emb, probes, k=K))
    frozen = _pairs(ivf_topk_frozen(emb, probes, k=K, n_probes=2))
    argmax = _pairs(ivf_topk_multiprobe(emb, probes, k=K))
    r_frozen = len(frozen & exact) / len(exact)
    r_argmax = len(argmax & exact) / len(exact)
    assert r_frozen >= 0.25, f"frozen IVF recall degenerate: {r_frozen:.3f}"
    assert r_frozen > r_argmax, f"frozen {r_frozen:.3f} <= argmax-dim {r_argmax:.3f}"
