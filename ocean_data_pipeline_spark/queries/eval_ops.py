"""Corpus / embedding evaluation queries (wave 16): the measurement
side of a training-data pipeline — benchmark contamination, embedding
compaction quality (Matryoshka prefixes, int8 quantization), and
retrieval-quality metrics (NDCG/MRR/P@k) over the ANN stack.

These generalize the reference's validation posture (run_pipeline.py's
post-load checks) from schema assertions to the corpus-level evals an
LLM-data pipeline runs before shipping a dataset: "is the test split
leaked into train?", "how much retrieval quality survives 4x embedding
compression?", "is the retriever actually good, measured properly?".

Float discipline (suite-wide pattern): every cross-row float sum
rounds ONCE into DECIMAL(28,12) per row first, so the aggregate is
exactly associative and partitioning-invariant on both engines; pair
scores rank on raw doubles whose fold order bit-matches DuckDB's
list_dot_product (see operators/similarity.dot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.portable import hash_int, hash_int_sql
from ocean_data_pipeline_spark.operators.similarity import (
    cosine,
    cosine_pre,
    cosine_sql,
    dot,
    norm,
)
from ocean_data_pipeline_spark.queries import register

# --- benchmark contamination census ------------------------------------

_CONTAMINATION_ORACLE = f"""
WITH grams AS (
  SELECT doc_id,
         {hash_int_sql("'split:' || CAST(doc_id AS VARCHAR)", 6)} % 100 < 10 AS is_test,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(1, length(text) - 7)),
           i -> substr(text, i, 8)))) AS gram
  FROM documents
),
train_grams AS (SELECT DISTINCT gram FROM grams WHERE NOT is_test),
test_hits AS (
  SELECT g.doc_id, count(DISTINCT g.gram) AS shared
  FROM grams g JOIN train_grams t USING (gram)
  WHERE g.is_test GROUP BY 1
),
tst AS (SELECT count(DISTINCT doc_id) AS n_test FROM grams WHERE is_test)
SELECT CAST(n_test AS BIGINT) AS n_test_docs,
       (SELECT count(*) FROM test_hits) AS n_contaminated_docs,
       round(CAST((SELECT count(*) FROM test_hits) AS DOUBLE)
             / nullif(n_test, 0), 6) AS contamination_rate,
       (SELECT CAST(coalesce(sum(shared), 0) AS BIGINT) FROM test_hits)
         AS shared_gram_doc_pairs
FROM tst
"""


@register("contamination_ngram_census", oracle=_CONTAMINATION_ORACLE)
def contamination_ngram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: does the held-out split share
    verbatim character 8-grams with the training split? (The
    train/test membership is the same sha2('split:'||id) bucket as
    `train_test_split_deterministic`, so this audits exactly the split
    the pipeline ships.) A test doc counts as contaminated if ANY of
    its distinct 8-grams occurs anywhere in train — the n-gram-overlap
    decontamination rule of GPT-3 appendix C / PaLM, scaled down to
    the synthetic corpus's 8-char shingles.

    Plan shape: one explode to distinct (doc, gram), a semi-joinable
    equi-join on the gram hash space, two scalar aggregates. At 100 TB
    the gram join is the standard bucketed-shuffle; nothing quadratic,
    no driver data. Dedup-by-doc first (list_distinct) bounds the join
    input by corpus gram mass. The scan rides spread=True: 8-gram
    shingling is map-side CPU and a single-row-group scan runs it on
    one task otherwise (cluster no-op)."""
    docs = table(spark, sf_dir, "documents", spread=True)
    is_test = (
        hash_int(F.concat(F.lit("split:"), F.col("doc_id").cast("string")), 6) % 100
        < 10
    )
    grams = docs.select(
        "doc_id",
        is_test.alias("is_test"),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1))),
                    lambda i: F.substring(F.col("text"), i, F.lit(8)),
                )
            )
        ).alias("gram"),
    )
    train_grams = grams.filter(~F.col("is_test")).select("gram").distinct()
    test_hits = (
        grams.filter(F.col("is_test"))
        .join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("shared"))
    )
    tst = grams.filter(F.col("is_test")).agg(
        F.countDistinct("doc_id").alias("n_test")
    )
    hits = test_hits.agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.coalesce(F.sum("shared"), F.lit(0)).cast("bigint").alias("pairs"),
    )
    return tst.crossJoin(F.broadcast(hits)).select(
        F.col("n_test").cast("bigint").alias("n_test_docs"),
        F.col("n_contaminated").cast("bigint").alias("n_contaminated_docs"),
        F.round(
            F.col("n_contaminated").cast("double")
            / F.nullif(F.col("n_test"), F.lit(0)).cast("double"),
            6,
        ).alias("contamination_rate"),
        F.col("pairs").alias("shared_gram_doc_pairs"),
    )


# --- Matryoshka prefix quality ------------------------------------------

_MATRYOSHKA_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
widths AS (SELECT unnest([8, 16, 32]) AS width),
energy AS (
  SELECT w.width,
         CAST(round(list_dot_product(list_slice(c.v, 1, w.width),
                                     list_slice(c.v, 1, w.width))
                    / list_dot_product(c.v, c.v), 12) AS DECIMAL(28,12)) AS frac
  FROM corpus c CROSS JOIN widths w
),
energy_agg AS (
  SELECT width, CAST(sum(frac) AS DOUBLE) / count(*) AS energy_frac_mean
  FROM energy GROUP BY width
),
probes AS (SELECT vec_id, v FROM corpus WHERE vec_id < 20),
full_top1 AS (
  SELECT probe_id, neighbor_id AS full_nb FROM (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY {cosine_sql("p.v", "c.v")} DESC, c.vec_id) AS rnk
    FROM probes p JOIN corpus c ON c.vec_id != p.vec_id
  ) WHERE rnk = 1
),
prefix_top1 AS (
  SELECT width, probe_id, neighbor_id AS pref_nb FROM (
    SELECT w.width, p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY w.width, p.vec_id
             ORDER BY {cosine_sql("list_slice(p.v, 1, w.width)",
                                  "list_slice(c.v, 1, w.width)")} DESC,
                      c.vec_id) AS rnk
    FROM probes p JOIN corpus c ON c.vec_id != p.vec_id
    CROSS JOIN widths w
  ) WHERE rnk = 1
),
agreement AS (
  SELECT pt.width,
         CAST(sum(CASE WHEN pt.pref_nb = ft.full_nb THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS top1_agreement
  FROM prefix_top1 pt JOIN full_top1 ft USING (probe_id)
  GROUP BY pt.width
)
SELECT e.width AS prefix_width,
       round(e.energy_frac_mean, 6) AS energy_frac_mean,
       round(a.top1_agreement, 6) AS top1_agreement
FROM energy_agg e JOIN agreement a ON e.width = a.width
ORDER BY prefix_width
"""


@register("matryoshka_prefix_quality", oracle=_MATRYOSHKA_ORACLE)
def matryoshka_prefix_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation quality (Kusupati et al. '22): how
    much of the embedding's energy and retrieval behavior survives
    truncation to a prefix of 8/16/32 of the 64 dims? Reports, per
    width, the mean fraction of squared norm captured by the prefix
    and the top-1-neighbor agreement (prefix-cosine top-1 == full-
    cosine top-1) over 20 probes — the go/no-go table for shipping a
    4x-cheaper ANN index.

    Plan shape: energy is one scan with a 3-width expand; agreement is
    the standard broadcast-probes x corpus scored scan (3 widths in
    the same pass) with a rank-1 window per (width, probe). At 100 TB
    the probe panel is fixed-size, so agreement cost is one corpus
    scan; energy stays scan-bound. Per-row energy fractions round once
    into DECIMAL(28,12) so the means are partitioning-invariant."""
    # spread=True: 3-width per-row energy + probe scoring are map-side
    # CPU on a single-row-group scan (cluster no-op).
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    widths = spark.range(1).select(
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("width")
    )
    pref = lambda c, w: F.slice(c, 1, w)  # noqa: E731

    energy = (
        # Round 11 (guide §1.2-2): the full-norm denominator is one
        # fold per ROW, not one per (row, width) — same expression,
        # evaluated before the 3-width fanout, so values are identical.
        emb.withColumn("den", dot(F.col("v"), F.col("v")))
        .crossJoin(F.broadcast(widths))
        .select(
            "width",
            F.round(
                dot(pref(F.col("v"), F.col("width")), pref(F.col("v"), F.col("width")))
                / F.col("den"),
                12,
            )
            .cast("decimal(28,12)")
            .alias("frac"),
        )
        .groupBy("width")
        .agg(
            (F.sum("frac").cast("double") / F.count(F.lit(1))).alias(
                "energy_frac_mean"
            )
        )
    )

    # Round 11 (guide §1.2-2, the cosine_pre device): full and 8/16/32-
    # prefix norms are folded ONCE PER SIDE before the pair fanout —
    # the inline cos() re-ran both norm folds for every (probe,
    # neighbor, width). Each precomputed column is the identical
    # sqrt-of-fold expression, and the division keeps cos's exact
    # na*nb order, so every similarity is bit-identical.
    def _pnorm(col: str, w: int | None):
        return norm(F.col(col) if w is None else F.slice(F.col(col), 1, w))

    probes = (
        emb.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"))
        .withColumn("pn", _pnorm("pv", None))
        .withColumn("pn8", _pnorm("pv", 8))
        .withColumn("pn16", _pnorm("pv", 16))
        .withColumn("pn32", _pnorm("pv", 32))
    )
    corp = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
        .withColumn("cn", _pnorm("cv", None))
        .withColumn("cn8", _pnorm("cv", 8))
        .withColumn("cn16", _pnorm("cv", 16))
        .withColumn("cn32", _pnorm("cv", 32))
    )
    scored = F.broadcast(probes).join(
        corp, F.col("neighbor_id") != F.col("probe_id")
    )

    def _pick(prefix: str):
        return (
            F.when(F.col("width") == 8, F.col(f"{prefix}8"))
            .when(F.col("width") == 16, F.col(f"{prefix}16"))
            .otherwise(F.col(f"{prefix}32"))
        )

    w_full = Window.partitionBy("probe_id").orderBy(
        F.col("full_sim").desc(), F.col("neighbor_id")
    )
    full_top1 = (
        scored.select(
            "probe_id",
            "neighbor_id",
            cosine_pre(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")).alias(
                "full_sim"
            ),
        )
        .withColumn("rnk", F.row_number().over(w_full))
        .filter(F.col("rnk") == 1)
        .select("probe_id", F.col("neighbor_id").alias("full_nb"))
    )
    w_pref = Window.partitionBy("width", "probe_id").orderBy(
        F.col("pref_sim").desc(), F.col("neighbor_id")
    )
    prefix_top1 = (
        scored.crossJoin(F.broadcast(widths))
        .select(
            "width",
            "probe_id",
            "neighbor_id",
            cosine_pre(
                pref(F.col("pv"), F.col("width")),
                pref(F.col("cv"), F.col("width")),
                _pick("pn"),
                _pick("cn"),
            ).alias("pref_sim"),
        )
        .withColumn("rnk", F.row_number().over(w_pref))
        .filter(F.col("rnk") == 1)
        .select("width", "probe_id", F.col("neighbor_id").alias("pref_nb"))
    )
    agreement = (
        prefix_top1.join(F.broadcast(full_top1), "probe_id")
        .groupBy("width")
        .agg(
            (
                F.sum(
                    F.when(F.col("pref_nb") == F.col("full_nb"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("top1_agreement")
        )
    )
    return (
        energy.join(agreement, "width")
        .select(
            F.col("width").alias("prefix_width"),
            F.round("energy_frac_mean", 6).alias("energy_frac_mean"),
            F.round("top1_agreement", 6).alias("top1_agreement"),
        )
        .orderBy("prefix_width")
    )


# --- int8 scalar quantization error ------------------------------------

_QUANT_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
dims AS (
  SELECT pos, max(abs(val)) AS scale FROM (
    SELECT unnest(v) AS val, unnest(generate_series(1, len(v))) AS pos FROM corpus
  ) GROUP BY pos
),
scales AS (
  SELECT list(scale ORDER BY pos) AS s FROM dims
),
deq AS (
  SELECT c.vec_id, c.label, c.v,
         list_transform(generate_series(1, len(c.v)),
           i -> CASE WHEN s.s[i] = 0 THEN 0.0
                     ELSE round(c.v[i] * 127.0 / s.s[i]) * s.s[i] / 127.0 END) AS d
  FROM corpus c CROSS JOIN scales s
),
per_row AS (
  SELECT label,
         CAST(round(list_dot_product(
                 list_transform(generate_series(1, len(v)), i -> v[i] - d[i]),
                 list_transform(generate_series(1, len(v)), i -> v[i] - d[i]))
               / len(v), 12) AS DECIMAL(28,12)) AS mse,
         CAST(round({cosine_sql("v", "d")}, 12) AS DECIMAL(28,12)) AS cos_sim
  FROM deq
)
SELECT label,
       count(*) AS n_vectors,
       round(CAST(sum(mse) AS DOUBLE) / count(*), 9) AS mse_mean,
       round(CAST(sum(cos_sim) AS DOUBLE) / count(*), 6) AS cosine_mean
FROM per_row GROUP BY label ORDER BY label
"""


@register("embedding_int8_quant_error", oracle=_QUANT_ORACLE)
def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric per-dimension quantization audit: scale each dim
    by its corpus max-|x|, quantize to round(127x/s), dequantize, and
    report per-label reconstruction MSE and cosine(original,
    dequantized) — the quality table behind a 4x-smaller vector store
    (FAISS SQ8 posture). Per-dim scales are a 64-float array computed
    in one aggregate and broadcast back; per-row MSE/cosine round once
    into DECIMAL(28,12) so label means are partitioning-invariant.

    Plan shape: posexplode -> 64-group aggregate -> 1-row array
    rebuild (sorted collect, never driver-side) -> broadcast join ->
    scan-bound zip_with arithmetic. At 100 TB: two corpus scans and a
    64-row shuffle; the quantization itself is embarrassingly
    parallel."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = (
        emb.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("val"))).alias("scale"))
    )
    scales = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "scale"))),
            lambda s: s["scale"],
        ).alias("s")
    )
    deq = emb.crossJoin(F.broadcast(scales)).select(
        "label",
        "v",
        F.zip_with(
            "v",
            "s",
            lambda x, s: F.when(s == 0, F.lit(0.0)).otherwise(
                F.round(x * 127.0 / s) * s / 127.0
            ),
        ).alias("d"),
    )
    diff = F.zip_with("v", "d", lambda x, y: x - y)
    per_row = deq.select(
        "label",
        F.round(dot(diff, diff) / F.size("v"), 12)
        .cast("decimal(28,12)")
        .alias("mse"),
        F.round(cosine(F.col("v"), F.col("d")), 12)
        .cast("decimal(28,12)")
        .alias("cos_sim"),
    )
    return (
        per_row.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.sum("mse").cast("double") / F.count(F.lit(1)), 9).alias(
                "mse_mean"
            ),
            F.round(F.sum("cos_sim").cast("double") / F.count(F.lit(1)), 6).alias(
                "cosine_mean"
            ),
        )
        .orderBy("label")
    )


# --- retrieval quality metrics (NDCG / MRR / P@10) ----------------------

# Cumulative ideal DCG for k relevant items in the top 10, with each
# term rounded once to 12 decimals (shared literal so both engines sum
# the exact same decimals): idcg[k] = sum_{i=1..k} round(1/log2(i+1), 12).
_IDCG_AT = [
    "1.0",
    "1.630929753571",
    "2.130929753571",
    "2.561606311644",
    "2.948459118879",
    "3.304666305987",
    "3.637999639320",
    "3.953464516106",
    "4.254494511770",
    "4.543559338088",
]

_IDCG_SQL_ARRAY = "[" + ", ".join(_IDCG_AT) + "]"

_RETRIEVAL_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
label_cnt AS (SELECT label, count(*) AS cnt FROM corpus GROUP BY label),
probes AS (
  SELECT c.vec_id, c.label, c.v, lc.cnt - 1 AS n_rel
  FROM corpus c JOIN label_cnt lc USING (label)
  WHERE c.vec_id < 20
),
ranked AS (
  SELECT p.vec_id AS probe_id, p.label AS probe_label, p.n_rel,
         CASE WHEN c.label = p.label THEN 1 ELSE 0 END AS rel,
         row_number() OVER (
           PARTITION BY p.vec_id
           ORDER BY {cosine_sql("p.v", "c.v")} DESC, c.vec_id) AS rnk
  FROM probes p JOIN corpus c ON c.vec_id != p.vec_id
),
top10 AS (SELECT * FROM ranked WHERE rnk <= 10),
per_probe AS (
  SELECT probe_id, probe_label, any_value(n_rel) AS n_rel,
         coalesce(sum(CASE WHEN rel = 1
             THEN CAST(round(1.0 / log2(rnk + 1.0), 12) AS DECIMAL(28,12))
             ELSE CAST(0 AS DECIMAL(28,12)) END),
           CAST(0 AS DECIMAL(28,12))) AS dcg,
         min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
         CAST(sum(rel) AS DOUBLE) / 10 AS p_at_10
  FROM top10 GROUP BY probe_id, probe_label
),
scored AS (
  SELECT probe_label,
         CAST(round(CAST(dcg AS DOUBLE)
              / CAST(({_IDCG_SQL_ARRAY})[least(greatest(n_rel, 1), 10)] AS DOUBLE), 12)
           AS DECIMAL(28,12)) AS ndcg,
         CASE WHEN first_rel IS NULL THEN CAST(0 AS DECIMAL(28,12))
              ELSE CAST(round(1.0 / first_rel, 12) AS DECIMAL(28,12)) END AS rr,
         CAST(round(p_at_10, 12) AS DECIMAL(28,12)) AS p10
  FROM per_probe
)
SELECT probe_label,
       count(*) AS n_probes,
       round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6) AS ndcg_at_10,
       round(CAST(sum(rr) AS DOUBLE) / count(*), 6) AS mrr_at_10,
       round(CAST(sum(p10) AS DOUBLE) / count(*), 6) AS precision_at_10
FROM scored GROUP BY probe_label ORDER BY probe_label
"""


@register("retrieval_metrics_eval", oracle=_RETRIEVAL_ORACLE)
def retrieval_metrics_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scorecard for the brute-force cosine retriever:
    NDCG@10, MRR@10, and precision@10 per probe label, with relevance =
    same-label (the standard labeled-ANN eval). IDCG comes from a
    shared 10-entry cumulative literal (each 1/log2(i+1) term rounded
    once to 12 decimals), so ideal normalization is bit-identical on
    both engines; per-probe DCG/RR/P@10 round once into
    DECIMAL(28,12) before label-mean aggregation.

    Plan shape: broadcast 20-probe panel x corpus scan -> rank window
    -> top-10 filter -> two small aggregates. At 100 TB the eval panel
    is fixed, so cost is one corpus scan regardless of corpus size —
    the eval you run after every index rebuild."""
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    label_cnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
    probes = (
        emb.filter(F.col("vec_id") < 20)
        .join(F.broadcast(label_cnt), "label")
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("label").alias("probe_label"),
            F.col("v").alias("pv"),
            (F.col("cnt") - 1).alias("n_rel"),
        )
    )
    cos = cosine(F.col("pv"), F.col("cv"))
    ranked = (
        F.broadcast(probes)
        .join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nb_label"),
                F.col("v").alias("cv"),
            ),
            F.col("neighbor_id") != F.col("probe_id"),
        )
        .select(
            "probe_id",
            "probe_label",
            "n_rel",
            "neighbor_id",
            F.when(F.col("nb_label") == F.col("probe_label"), 1).otherwise(0).alias(
                "rel"
            ),
            cos.alias("sim"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.col("sim").desc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("rnk") <= 10)
    )
    dec0 = F.lit(0).cast("decimal(28,12)")
    per_probe = ranked.groupBy("probe_id", "probe_label").agg(
        F.first("n_rel").alias("n_rel"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("rel") == 1,
                    F.round(1.0 / F.log2(F.col("rnk") + 1.0), 12).cast(
                        "decimal(28,12)"
                    ),
                ).otherwise(dec0)
            ),
            dec0,
        ).alias("dcg"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
        (F.sum("rel").cast("double") / 10).alias("p_at_10"),
    )
    idcg_arr = F.array(*[F.lit(s).cast("double") for s in _IDCG_AT])
    scored = per_probe.select(
        "probe_label",
        F.round(
            F.col("dcg").cast("double")
            / F.element_at(
                idcg_arr,
                F.least(F.greatest(F.col("n_rel"), F.lit(1)), F.lit(10)).cast("int"),
            ),
            12,
        )
        .cast("decimal(28,12)")
        .alias("ndcg"),
        F.when(F.col("first_rel").isNull(), dec0)
        .otherwise(F.round(1.0 / F.col("first_rel"), 12).cast("decimal(28,12)"))
        .alias("rr"),
        F.round("p_at_10", 12).cast("decimal(28,12)").alias("p10"),
    )
    return (
        scored.groupBy("probe_label")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.round(F.sum("ndcg").cast("double") / F.count(F.lit(1)), 6).alias(
                "ndcg_at_10"
            ),
            F.round(F.sum("rr").cast("double") / F.count(F.lit(1)), 6).alias(
                "mrr_at_10"
            ),
            F.round(F.sum("p10").cast("double") / F.count(F.lit(1)), 6).alias(
                "precision_at_10"
            ),
        )
        .orderBy("probe_label")
    )


# --- embedding isotropy audit --------------------------------------------

_ISOTROPY_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cells AS (  -- exact cross-moment sums over the 64x64 grid: each term
  -- rounds ONCE into a picounit BIGINT (round(x*y*1e12) — both engines
  -- round the identical double), so sums are exact integer arithmetic
  SELECT i, j,
         CAST(sum(CAST(round(v[i] * v[j] * 1000000000000.0) AS BIGINT))
              AS DOUBLE) / 1000000000000.0 AS s_ij,
         count(*) AS n
  FROM corpus
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j)
  GROUP BY i, j
),
mu AS (
  SELECT pos, CAST(sum(CAST(round(val, 12) AS DECIMAL(28,12))) AS DOUBLE)
                / max(n) AS m,
         min(val) = max(val) AS flat
  FROM (
    SELECT unnest(v) AS val, unnest(generate_series(1, len(v))) AS pos,
           (SELECT count(*) FROM corpus) AS n
    FROM corpus
  ) GROUP BY pos
),
cov AS (
  SELECT c.i, c.j, c.n,
         CASE WHEN mi.flat OR mj.flat THEN CAST(0 AS DOUBLE)
              ELSE c.s_ij / c.n - mi.m * mj.m END AS c_ij
  FROM cells c JOIN mu mi ON mi.pos = c.i JOIN mu mj ON mj.pos = c.j
),
diag AS (SELECT i, c_ij AS var_i FROM cov WHERE i = j),
corr AS (
  SELECT c.i, c.j, c.n, c.c_ij,
         CASE WHEN di.var_i > 0 AND dj.var_i > 0
              THEN c.c_ij / sqrt(di.var_i * dj.var_i) END AS rho
  FROM cov c JOIN diag di ON di.i = c.i JOIN diag dj ON dj.i = c.j
  WHERE c.i <> c.j
),
summary AS (
  SELECT max(n) AS n,
         (SELECT CAST(sum(CAST(round(var_i, 12) AS DECIMAL(28,12)))
                 AS DOUBLE) FROM diag) AS trace,
         (SELECT max(var_i) FROM diag) AS max_var,
         CAST(sum(CAST(round(c_ij * c_ij, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS off_frob2,
         (SELECT CAST(sum(CAST(round(var_i * var_i, 12) AS DECIMAL(38,12)))
                 AS DOUBLE) FROM diag) AS diag_frob2,
         CAST(sum(CAST(round(abs(rho), 9) AS DECIMAL(28,9))) AS DOUBLE)
           / count(*) AS mean_abs_corr
  FROM corr
),
top AS (
  SELECT i, j, rho FROM corr
  ORDER BY abs(rho) DESC, i, j LIMIT 1
)
SELECT CAST(s.n AS BIGINT) AS n_vectors,
       64 AS dims,
       round(s.trace, 6) AS total_variance,
       round(CASE WHEN s.trace > 0 THEN s.max_var / s.trace END, 6)
         AS max_dim_var_share,
       round(CASE WHEN s.off_frob2 + s.diag_frob2 > 0
                  THEN s.off_frob2 / (s.off_frob2 + s.diag_frob2) END, 6)
         AS offdiag_frob_share,
       round(s.mean_abs_corr, 6) AS mean_abs_corr_offdiag,
       t.i AS top_corr_i, t.j AS top_corr_j,
       round(t.rho, 6) AS top_corr
FROM summary s CROSS JOIN top t
"""


@register("embedding_isotropy_audit", oracle=_ISOTROPY_ORACLE)
def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding isotropy audit (Ethayarajh '19 / whitening-for-
    retrieval posture): exact covariance of the 64-dim embedding
    cloud, summarized as total variance (trace), the largest single
    dimension's variance share, the off-diagonal Frobenius share, the
    mean |correlation| off the diagonal, and the most-correlated
    dimension pair — anisotropy here predicts degraded cosine
    retrieval and motivates whitening before the ANN index is built.

    Determinism: every cross-row sum (cross-moments, means, Frobenius
    masses, |corr| mean) rounds ONCE into DECIMAL before aggregation;
    covariance/correlation are fixed IEEE chains on those exact sums;
    the top pair breaks ties by (i, j).

    Totality: a constant dimension (min = max, so every dimension of a
    single vector) has covariance exactly 0 rather than the rounding
    noise of its sums. A correlation needs both variances positive and
    a share a positive total, or it is NULL on both engines: never a
    division by zero (Spark, ANSI) nor the square root of a
    rounding-negative variance (DuckDB).

    Plan shape: one scan expands to the 64x64 cross-moment cells
    (map-side partial aggregate -> 4096-row shuffle), one 64-row mean
    aggregate, then cell-grid algebra. At 100 TB: a single pass with a
    4096-cell combine — the covariance never materializes row pairs."""
    # spread=True: the 64x64 outer-product expansion is map-side CPU on
    # a single-row-group scan (no-op on properly sized cluster files).
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    # Upper-triangle (i <= j) cross-moment cells via a flattened outer
    # product, each term rounded ONCE into a picounit BIGINT
    # (round(x*y*1e12) of the identical double on both engines); the
    # lower triangle is mirrored afterward — exactly equal because
    # multiplication commutes. Halves the expression work vs the full
    # grid; integer sums beat decimal aggregation. Scale note: long
    # partials hold to ~1e5 x |x*y|<=25; past that the scale path is
    # the same sums in DECIMAL(38,0).
    outer = F.flatten(
        F.transform(
            F.col("v"),
            lambda x, i: F.transform(
                F.slice(F.col("v"), i + 1, F.size(F.col("v"))),
                lambda y, j0: F.struct(
                    (i + 1).alias("i"),
                    (i + 1 + j0).alias("j"),
                    F.round(x * y * F.lit(1e12)).cast("long").alias("xy"),
                ),
            ),
        )
    )
    # localCheckpoint: this 2,080-row aggregate is consumed by the
    # mirror union (2 branches) and re-derived by every terminal
    # (diag_agg / summary / top) — lazily that rebuilt the 20 M-row
    # explode subtree 4-6x (visible as repeated Generate branches in
    # the committed plan snapshot); materializing the tiny cell grid
    # makes the heavy explode exactly one job.
    cells_tri = (
        emb.select(F.explode(outer).alias("c"))
        .select("c.i", "c.j", "c.xy")
        .groupBy("i", "j")
        .agg(
            (F.sum("xy").cast("double") / F.lit(1e12)).alias("s_ij"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    cells = cells_tri.unionByName(
        cells_tri.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "s_ij", "n"
        )
    )
    # same device: the 64-row mean relation feeds two broadcasts (mi,
    # mj), which would each rebuild the posexplode pass
    mu = (
        emb.select(F.posexplode("v").alias("pos0", "val"))
        .select((F.col("pos0") + 1).alias("pos"), "val")
        .groupBy("pos")
        .agg(
            (
                F.sum(F.round(F.col("val"), 12).cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m"),
            (F.min("val") == F.max("val")).alias("flat"),
        )
        .localCheckpoint(eager=True)
    )
    mi = mu.select(
        F.col("pos").alias("i"), F.col("m").alias("m_i"), F.col("flat").alias("flat_i")
    )
    mj = mu.select(
        F.col("pos").alias("j"), F.col("m").alias("m_j"), F.col("flat").alias("flat_j")
    )
    # a covariance with a constant dimension is exactly 0, not the
    # rounding noise of its picounit sums
    cov = (
        cells.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i", "j", "n",
            F.when(F.col("flat_i") | F.col("flat_j"), F.lit(0.0))
            .otherwise(F.col("s_ij") / F.col("n") - F.col("m_i") * F.col("m_j"))
            .alias("c_ij"),
        )
    )
    diag = cov.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("c_ij").alias("var_i")
    )
    di = diag.select(F.col("d").alias("i"), F.col("var_i").alias("var_a"))
    dj = diag.select(F.col("d").alias("j"), F.col("var_i").alias("var_b"))
    corr = (
        cov.filter(F.col("i") != F.col("j"))
        .join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "i", "j", "n", "c_ij",
            F.when(
                (F.col("var_a") > 0) & (F.col("var_b") > 0),
                F.col("c_ij") / F.sqrt(F.col("var_a") * F.col("var_b")),
            ).alias("rho"),
        )
    )
    diag_agg = diag.agg(
        F.sum(F.round(F.col("var_i"), 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("trace"),
        F.max("var_i").alias("max_var"),
        F.sum(F.round(F.col("var_i") * F.col("var_i"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("diag_frob2"),
    )
    summary = corr.agg(
        F.max("n").alias("n"),
        F.sum(F.round(F.col("c_ij") * F.col("c_ij"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("off_frob2"),
        (
            F.sum(F.round(F.abs(F.col("rho")), 9).cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_abs_corr"),
    )
    top = (
        corr.orderBy(F.abs(F.col("rho")).desc(), "i", "j")
        .limit(1)
        .select(
            F.col("i").alias("top_corr_i"),
            F.col("j").alias("top_corr_j"),
            F.col("rho").alias("top_rho"),
        )
    )
    frob2 = F.col("off_frob2") + F.col("diag_frob2")
    return (
        summary.crossJoin(F.broadcast(diag_agg))
        .crossJoin(F.broadcast(top))
        .select(
            F.col("n").cast("bigint").alias("n_vectors"),
            F.lit(64).alias("dims"),
            F.round("trace", 6).alias("total_variance"),
            F.round(
                F.when(F.col("trace") > 0, F.col("max_var") / F.col("trace")), 6
            ).alias("max_dim_var_share"),
            F.round(
                F.when(frob2 > 0, F.col("off_frob2") / frob2), 6
            ).alias("offdiag_frob_share"),
            F.round("mean_abs_corr", 6).alias("mean_abs_corr_offdiag"),
            "top_corr_i",
            "top_corr_j",
            F.round("top_rho", 6).alias("top_corr"),
        )
    )


# --- reciprocal nearest-neighbor pairs ------------------------------------

_RNN_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
top1 AS (
  SELECT vec_id, nb, sim FROM (
    SELECT a.vec_id, b.vec_id AS nb,
           {cosine_sql("a.v", "b.v")} AS sim,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {cosine_sql("a.v", "b.v")} DESC, b.vec_id) AS rnk
    FROM corpus a JOIN corpus b ON b.vec_id != a.vec_id
  ) WHERE rnk = 1
),
pairs AS (
  SELECT x.vec_id AS id_a, x.nb AS id_b, x.sim
  FROM top1 x JOIN top1 y ON y.vec_id = x.nb AND y.nb = x.vec_id
  WHERE x.vec_id < x.nb
),
lbl AS (
  SELECT p.id_a, p.id_b, p.sim,
         CASE WHEN la.label = lb.label THEN 1 ELSE 0 END AS same_label
  FROM pairs p
  JOIN corpus la ON la.vec_id = p.id_a
  JOIN corpus lb ON lb.vec_id = p.id_b
)
SELECT id_a, id_b, round(sim, 6) AS cosine_sim, same_label
FROM lbl ORDER BY id_a
"""


@register("reciprocal_nn_pairs", oracle=_RNN_ORACLE)
def reciprocal_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs: (a, b) where b is a's cosine
    top-1 AND a is b's — the high-precision mutual-match rule used for
    bitext mining and conservative near-dup confirmation (a one-sided
    top-1 is noisy; a mutual one rarely is). Emits each pair once with
    its similarity and a same-label flag (the label acting as ground
    truth for the precision claim).

    Determinism: top-1 per node ranks the shared sequential-fold
    cosine with a vec_id tie-break; the mutual join and label flags
    are exact.

    Plan shape: one all-pairs scored scan (n^2 bounded — the honest
    exact formulation at eval scale; at 100 TB the same mutual-match
    rule runs over ANN candidate lists from `sim_topk_ivf`). Norms are
    precomputed per vector (not per pair — 3x the fold work otherwise),
    and the per-node top-1 is a HASH-AGGREGATE argmax (max of a
    (sim, -ib) struct, partial-aggregated map-side) instead of a rank
    window — no n²-row sort ever happens. Then one self-join on the
    two top-1 relations and two broadcast label joins."""
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    vn = emb.select(
        "vec_id",
        "v",
        norm(F.col("v")).alias("nrm"),
    )
    a = vn.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = vn.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    # argmax by (sim desc, ib asc) == max of the (sim, -ib) struct:
    # struct comparison is lexicographic, so ties on sim pick the
    # larger -ib, i.e. the smaller neighbor id — same total order the
    # rank window used, without the n²-row sort.
    top1 = (
        a.join(b, F.col("ib") != F.col("ia"))
        .select(
            "ia",
            F.struct(
                cos.alias("sim"), (-F.col("ib")).alias("neg_ib")
            ).alias("cand"),
        )
        .groupBy("ia")
        .agg(F.max("cand").alias("best"))
        .select(
            "ia",
            (-F.col("best.neg_ib")).alias("ib"),
            F.col("best.sim").alias("sim"),
        )
    )
    x = top1.select(
        F.col("ia").alias("id_a"), F.col("ib").alias("id_b"), "sim"
    )
    y = top1.select(F.col("ia").alias("y_a"), F.col("ib").alias("y_b"))
    pairs = x.join(
        y, (F.col("y_a") == F.col("id_b")) & (F.col("y_b") == F.col("id_a"))
    ).filter(F.col("id_a") < F.col("id_b"))
    la = emb.select(F.col("vec_id").alias("id_a"), F.col("label").alias("l_a"))
    lb = emb.select(F.col("vec_id").alias("id_b"), F.col("label").alias("l_b"))
    return (
        pairs.join(F.broadcast(la), "id_a")
        .join(F.broadcast(lb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round("sim", 6).alias("cosine_sim"),
            F.when(F.col("l_a") == F.col("l_b"), 1).otherwise(0).alias("same_label"),
        )
        .orderBy("id_a")
    )
