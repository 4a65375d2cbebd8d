"""Regenerate the frozen IVF codebook
(ocean_data_pipeline_spark/operators/ivf_codebook.py).

Trains MLlib KMeans (k=16, seed=42, kmeans|| init) on the sf0.01
embeddings table and rewrites the module with the centroids as
full-repr literals. Run ONLY when the embeddings testdata changes —
the committed codebook is a build artifact, and churning it
invalidates the sim_topk_ivf_kmeans oracle history for no reason.

Usage: python tools/freeze_codebook.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from ocean_data_pipeline_spark.catalog import table  # noqa: E402
from ocean_data_pipeline_spark.session import get_spark  # noqa: E402

N_CELLS = 16
SEED = 42
OUT = os.path.join(REPO, "ocean_data_pipeline_spark", "operators", "ivf_codebook.py")

HEADER = '''"""Frozen IVF codebook (SURVEY.md §2-K sim-search).

16 centroids x 64 dims trained ONCE with MLlib KMeans (kmeans||
init, seed 42) on the sf0.01 embeddings table and committed as
literals -- the production IVF pattern: the codebook is a build
artifact shipped with the index, not something re-trained per
query. Freezing makes the whole sim_topk_ivf_kmeans pipeline
deterministic across engines, so it carries a DuckDB oracle (the
literals are inlined into the SQL) instead of a rows-only check.

Regenerate (only if the embeddings testdata changes):
    python tools/freeze_codebook.py
"""
'''


def main() -> None:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("freeze-codebook")
    emb = table(spark, sf_dir, "embeddings")
    feat = emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=N_CELLS, seed=SEED, featuresCol="features").fit(feat)
    cents = [[float(x) for x in c] for c in model.clusterCenters()]
    dim = len(cents[0])

    lines = [HEADER]
    lines.append(f"FROZEN_N_CELLS = {N_CELLS}")
    lines.append(f"FROZEN_DIM = {dim}")
    lines.append("")
    lines.append("#: cell id == list index; full repr precision (exact doubles).")
    lines.append("FROZEN_CENTROIDS: list[list[float]] = [")
    for c in cents:
        lines.append("    [")
        for i in range(0, dim, 4):
            lines.append("        " + ", ".join(repr(x) for x in c[i : i + 4]) + ",")
        lines.append("    ],")
    lines.append("]")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT}: {N_CELLS} x {dim}")


if __name__ == "__main__":
    main()
