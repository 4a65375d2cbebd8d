"""Embedding similarity search (SURVEY.md §2-J sim-search).

Every top-k operator here has one shape: generate candidate
(probe, neighbor) pairs, rerank them by exact cosine, keep the top k
per probe. Only the candidate step differs between operators:

- `cosine_topk`: every corpus vector (a broadcast nested-loop join);
- `ivf_topk`: the probe's argmax-|dim| cell;
- `ivf_topk_multiprobe`: the probe's two largest-|dim| cells;
- `ivf_topk_frozen`: the probe's nearest cells of a frozen k-means
  codebook;
- `lsh_topk`: random-projection LSH buckets (MLlib, rows-only);
- `pq_topk_frozen`: a full scan ranked by the product-quantized
  asymmetric distance instead of cosine.

The shared steps are written once: `side` projects a corpus or probe
frame (id alias, array<double> cast, precomputed norm), `rerank`
scores the pairs with `cosine_pre`, and `topk` is the per-probe
row_number tail. Dot products are JVM array expressions (zip_with +
left-fold aggregate), bit-identical to DuckDB's list_dot_product.

The DuckDB twins `norm_sql`, `cosine_sql` and `topk_sql` sit next to
their engine forms, so the oracles spell the same expressions once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential left fold (deterministic; portable).

    Measured note: this interpreted higher-order fold BEATS a fully
    unrolled element_at(1)·…+element_at(64)· expression tree by ~3.5×
    on pairwise workloads — the 127-node tree falls out of whole-stage
    codegen and pays per-element ANSI bounds checks, while the fold
    runs one tight specialized loop. Don't "optimize" this by
    unrolling."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """`cosine` with the two norms PRECOMPUTED per side (round 11,
    guide §4/§1.2-2): on a pairwise panel the plain form re-runs both
    norm folds for every pair — 3 interpreted 64-element folds per
    pair where 1 suffices. `na`/`nb` must be `norm(a)`/`norm(b)`
    computed on the join inputs; the division and the na*nb product
    keep the exact expression order of `cosine`, so values are
    bit-identical."""
    return dot(a, b) / (na * nb)


def norm_sql(v: str) -> str:
    """The DuckDB twin of `norm`."""
    return f"sqrt(list_dot_product({v}, {v}))"


def cosine_sql(a: str, b: str) -> str:
    """The DuckDB twin of `cosine`."""
    return f"list_dot_product({a}, {b}) / ({norm_sql(a)} * {norm_sql(b)})"


# --- the shared steps: side, rerank, top-k ----------------------------

#: Column names of a side: (id, vector, norm).
CORPUS = ("neighbor_id", "cv", "cn")
PROBES = ("probe_id", "pv", "pn")


def side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    names: tuple[str, str, str],
    cell: Callable[[Column], Column] | None = None,
    carry: tuple[Column, ...] = (),
) -> DataFrame:
    """One side of the search: `id_col` and `vec_col` (cast to
    array<double>) renamed to `names`, the `carry` select items, the
    optional ``cell`` column (a function of the vector) and the norm,
    folded once per row so each pair costs one dot product."""
    ident, v, n = names
    out = df.select(
        F.col(id_col).alias(ident), F.col(vec_col).cast("array<double>").alias(v), *carry
    )
    if cell is not None:
        out = out.withColumn("cell", cell(F.col(v)))
    return out.withColumn(n, norm(F.col(v)))


def cell_pairs(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """Candidates of an inverted file: the corpus rows in each probe's
    cells, by one broadcast equi-join on ``cell``, self-matches out."""
    return corpus.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("probe_id")
    )


def rerank(pairs: DataFrame) -> DataFrame:
    """Exact cosine over candidate pairs of a `CORPUS` and a `PROBES`
    side: (probe_id, neighbor_id, cosine_sim)."""
    return pairs.select(
        "probe_id",
        "neighbor_id",
        cosine_pre(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")).alias("cosine_sim"),
    )


def topk(scored: DataFrame, k: int, order: Column) -> DataFrame:
    """The per-probe top-k: a ``rank`` by `order` (ties to the lower
    neighbor_id) within each probe, rank <= k, sorted by probe and
    rank. The only wide step after the candidate join."""
    w = Window.partitionBy("probe_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("probe_id", "rank")
    )


def topk_sql(scored: str, k: int, order: str) -> str:
    """The DuckDB twin of `topk` for a ``WITH`` whose relation `scored`
    has (probe_id, neighbor_id, score): the ``ranked`` CTE and the final
    select, the score (the first word of `order`) rounded to 6."""
    col = order.split()[0]
    return f"""ranked AS (
  SELECT probe_id, neighbor_id, {col},
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY {order}, neighbor_id) AS rank
  FROM {scored}
)
SELECT probe_id, neighbor_id, round({col}, 6) AS {col}, rank
FROM ranked WHERE rank <= {k}
ORDER BY probe_id, rank
"""


# --- operators: candidate generation ----------------------------------


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors per probe (excluding self-matches).

    Candidates: every corpus row, probes broadcast against one corpus
    scan. Output: (probe_id, neighbor_id, cosine_sim, rank).
    """
    c = side(corpus, id_col, vec_col, CORPUS)
    p = side(probes, id_col, vec_col, PROBES)
    pairs = c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id"))
    return topk(rerank(pairs), k, F.desc("cosine_sim"))


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b,
    cosine ≥ threshold) — the confirm stage of embedding dedup.

    Pairwise self-join: quadratic by definition, so at corpus scale run
    it on CANDIDATES only (lsh_topk buckets / ivf_topk cells generate
    them); norms are precomputed once per side so each pair costs one
    dot product. Output: (id_a, id_b, cosine_sim).
    """
    base = side(vectors, id_col, vec_col, ("id", "v", "nrm"))
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def argmax_dim(v: Column) -> Column:
    """1-based index of the max-|component| dimension (first on ties)."""
    mags = F.transform(v, lambda x: F.abs(x))
    return F.array_position(mags, F.array_max(mags))


def top2_cells(v: Column) -> Column:
    """1-based indices of the two largest-|component| dims as a
    2-element array (first occurrence wins ties — mirrored exactly by
    the DuckDB oracle's list_position)."""
    mags = F.transform(v, lambda x: F.abs(x))
    p1 = F.array_position(mags, F.array_max(mags))
    masked = F.transform(mags, lambda x, i: F.when(i + 1 == p1, F.lit(-1.0)).otherwise(x))
    p2 = F.array_position(masked, F.array_max(masked))
    return F.array(p1, p2)


def ivf_topk_multiprobe(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with multi-probe (probe visits its nearest TWO cells): the
    standard recall lever for inverted-file ANN — candidate count
    doubles (still ~2·|corpus|/dims per probe, not |corpus|), recall
    strictly dominates single-probe since the probed set is a superset.

    Corpus stays single-cell (the inverted file); only the probe side
    fans out, so the explode is O(|probes|·n_probe) — negligible next
    to the corpus. Join remains a broadcast of the exploded probes.
    """
    c = side(corpus, id_col, vec_col, CORPUS, cell=argmax_dim)
    p = side(probes, id_col, vec_col, PROBES, cell=lambda v: F.explode(top2_cells(v)))
    return topk(rerank(cell_pairs(c, p)), k, F.desc("cosine_sim"))


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate neighbors with a deterministic coarse
    quantizer: cell = argmax-|dim| of the vector (an inverted file of
    dim-dominant cells; a trained codebook drops into the same plan as
    `ivf_topk_frozen` shows).

    Candidates shrink from |corpus| to one cell's occupancy (~|corpus|/
    dims for isotropic data); the cell equi-join shuffles on cell id,
    then exact cosine re-ranks within the cell. Fully SQL-expressible →
    DuckDB-oracle-checkable, unlike model-internal LSH buckets.
    """
    c = side(corpus, id_col, vec_col, CORPUS, cell=argmax_dim)
    p = side(probes, id_col, vec_col, PROBES, cell=argmax_dim)
    return topk(rerank(cell_pairs(c, p)), k, F.desc("cosine_sim"))


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a fold (same codegen posture as `dot`)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_tables: int = 4,
) -> DataFrame:
    """Approximate neighbors via random-projection LSH (MLlib).

    Euclidean-bucketed candidates, exact cosine re-rank on candidates.
    Rows-only correctness (approx recall checked in unit tests).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    features = (array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),)
    c = side(corpus, id_col, vec_col, CORPUS, carry=features)
    p = side(probes, id_col, vec_col, PROBES, carry=features)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=bucket_length,
        numHashTables=num_tables, seed=42,
    )
    if c.isEmpty():
        # MLlib fit() cannot infer the vector width from zero rows; an
        # empty corpus has a well-defined answer (no neighbors), so
        # return it with the normal output schema instead of raising.
        return p.limit(0).select(
            "probe_id",
            F.lit(None).cast("bigint").alias("neighbor_id"),
            F.lit(None).cast("double").alias("cosine_sim"),
            F.lit(None).cast("int").alias("rank"),
        )
    model = lsh.fit(c)
    pairs = (
        model.approxSimilarityJoin(p, c, float("inf"), distCol="l2")
        .filter(F.col("datasetA.probe_id") != F.col("datasetB.neighbor_id"))
        .select(
            *(F.col(f"datasetA.{x}").alias(x) for x in PROBES),
            *(F.col(f"datasetB.{x}").alias(x) for x in CORPUS),
        )
    )
    return topk(rerank(pairs), k, F.desc("cosine_sim"))


def _sql_double(x: float) -> str:
    """Exact SQL double literal: `repr` is the shortest round-trip
    representation and Spark's parser lands `<digits>D` in
    Double.parseDouble, which is correctly rounded — so the parsed
    Literal carries the identical IEEE-754 bits `F.lit` would."""
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite value {x!r} has no SQL double literal")
    return repr(x) + "D"


def lit_double_matrix(rows: list[list[float]]) -> Column:
    """array<array<double>> codebook literal built as ONE parsed SQL
    expression instead of ~n_rows x n_dims `F.lit` calls (round 11,
    guide §1.2-2): the Column-API construction of a 16x64 codebook
    costs ~1 s of driver-side py4j round-trips PER CALL SITE (~1.5 ms
    x ~1100 JVM calls) — pure plan-construction overhead, invisible in
    explain output. The parsed tree is the same array-of-array-of-
    double-Literal expression, so analyzed plans and values are
    bit-identical."""
    body = ",".join(
        "array(" + ",".join(_sql_double(x) for x in r) + ")" for r in rows
    )
    return F.expr("array(" + body + ")")


def _frozen_cell_distances(v: Column, centroids: list[list[float]]) -> Column:
    """array<double> of squared L2 distances from `v` to each frozen
    centroid — a literal-folded map expression, NO shuffle and NO
    centroid table: the codebook compiles into the plan."""
    cents = lit_double_matrix(centroids)
    return F.transform(cents, lambda c: l2_sq(v, c))


def ivf_topk_frozen(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k over a FROZEN k-means codebook
    (operators.ivf_codebook.FROZEN_CENTROIDS by default): the
    production posture — the codebook is a committed build artifact, so
    index assignment and probe routing are pure deterministic
    expressions and the whole pipeline is SQL-expressible (DuckDB
    oracle inlines the same literals).

    Plan shape: corpus assignment is a narrow map (argmin over the
    literal distance array — no centroid join, no shuffle); probes rank
    the same distance array and explode to their nearest `n_probes`
    cells; the candidate set shrinks to the probed cells' occupancy via
    one broadcast equi-join on cell id; exact cosine re-ranks. At
    100 TB the only wide op is the final per-probe top-k window over
    candidates.
    """
    if centroids is None:
        from ocean_data_pipeline_spark.operators.ivf_codebook import FROZEN_CENTROIDS

        centroids = FROZEN_CENTROIDS

    def assign(v: Column) -> Column:
        # argmin with lowest-cell tie-break: array_position finds the
        # FIRST occurrence of the minimum (1-based → -1)
        d2 = _frozen_cell_distances(v, centroids)
        return (F.array_position(d2, F.array_min(d2)) - 1).cast("int")

    def route(v: Column) -> Column:
        ranked_cells = F.array_sort(
            F.transform(
                _frozen_cell_distances(v, centroids),
                lambda d, i: F.struct(d.alias("d2"), i.alias("cell")),
            )
        )
        return F.explode(F.slice(ranked_cells, 1, n_probes).getField("cell"))

    c = side(corpus, id_col, vec_col, CORPUS, cell=assign)
    p = side(probes, id_col, vec_col, PROBES, cell=route)
    return topk(rerank(cell_pairs(c, p)), k, F.desc("cosine_sim"))


def pq_encode(v: Column, codebooks: list[list[list[float]]]) -> Column:
    """array<int> of PQ codes for `v`: per subspace, the index of the
    nearest sub-centroid (first-minimum = lowest-code tie-break).
    Codebook literals compile into the plan — encoding is a narrow map
    with NO join and NO shuffle, exactly what a 100 TB index build
    pass wants (one scan, 8 bytes out per vector)."""
    subdim = len(codebooks[0][0])
    codes = []
    for m, book in enumerate(codebooks):
        lits = lit_double_matrix(book)
        sub = F.slice(v, m * subdim + 1, subdim)
        d2s = F.transform(lits, lambda c: l2_sq(sub, c))  # noqa: B023
        codes.append((F.array_position(d2s, F.array_min(d2s)) - 1).cast("int"))
    return F.array(*codes)


def pq_reconstruct(codes: Column, codebooks: list[list[list[float]]]) -> Column:
    """array<double> decoded vector: concatenation of the chosen
    sub-centroids (the `x̂` of asymmetric distance computation)."""
    parts = []
    for m, book in enumerate(codebooks):
        lits = lit_double_matrix(book)
        parts.append(F.element_at(lits, F.element_at(codes, m + 1) + F.lit(1)))
    return F.flatten(F.array(*parts))


def pq_topk_frozen(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011) over FROZEN
    sub-codebooks (operators.pq_codebook by default): each 64-dim
    vector is encoded as 8 nibble codes (32x compression), and probes
    rank candidates by asymmetric distance d(q, x̂) — exact query
    vector against the quantized corpus vector.

    Plan shape: encode is a narrow literal-folded map (no shuffle);
    the ADC scan streams the encoded corpus past broadcast probes (8
    bytes/candidate instead of 256 — the reason PQ exists at 100 TB);
    the only wide op is the per-probe top-k window. At cluster scale
    the scan composes with IVF cell routing (encode once, route
    probes, ADC only the probed cells); here the full-scan posture
    keeps the query oracle-exact. Implementation reconstructs x̂ and
    folds (q-x̂)² — algebraically identical to the per-subspace
    lookup-table formulation, and SQL-expressible so the DuckDB twin
    inlines the same literals.

    Distances are rounded to 6 decimals BEFORE ranking on both engines
    so rank order never hinges on sub-ulp summation-order drift. The
    sides' norms go unused (no cosine here), so the optimizer prunes
    them.
    """
    if codebooks is None:
        from ocean_data_pipeline_spark.operators.pq_codebook import PQ_CODEBOOKS

        codebooks = PQ_CODEBOOKS
    encoded = side(corpus, id_col, vec_col, CORPUS).select(
        "neighbor_id", pq_encode(F.col("cv"), codebooks).alias("codes")
    ).withColumn("xhat", pq_reconstruct(F.col("codes"), codebooks))
    p = side(probes, id_col, vec_col, PROBES)
    scored = (
        encoded.crossJoin(F.broadcast(p))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(l2_sq(F.col("pv"), F.col("xhat")), 6).alias("approx_d2"),
        )
    )
    return topk(scored, k, F.asc("approx_d2"))
