"""Training-data pipeline operators (SURVEY.md §2-J extensions): the
ops a 100 TB pretraining-corpus build runs between dedup and the
tokenizer — sliding-window chunking, deterministic train/test
splitting, and sequential token-budget packing. All three are pure
built-in-expression pipelines (no UDFs) with exact DuckDB oracle
twins.

Reference parity: beyond-reference capability class; the reference's
corpus surface is a single climatology table (SURVEY.md §2-J).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.portable import (
    hash_int,
    hash_int_sql,
    uniform,
    uniform_sql,
)
from ocean_data_pipeline_spark.operators.similarity import norm_sql
from ocean_data_pipeline_spark.queries import register

# --- sliding-window chunking ------------------------------------------

_CHUNK_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents WHERE doc_id < 100
),
starts AS (
  SELECT doc_id, t, n, unnest(range(0, n, 20)) AS start FROM toks
)
SELECT doc_id,
       CAST(start / 20 AS INTEGER) AS chunk_id,
       least(30, n - start) AS n_tokens,
       array_to_string(t[start + 1 : start + 30], ' ') AS chunk_text
FROM starts
ORDER BY doc_id, chunk_id
"""


@register("chunk_documents", oracle=_CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 30-token windows, stride 20 (the
    context-window prep step; HF-style overlap keeps boundary context
    in both neighbors). Entirely split/sequence/explode/slice — one
    map-side pass, rows fan out ~n/stride per doc with no skew.

    Oracle note: DuckDB's list slice t[a:b] is inclusive-of-b, so
    [start+1 : start+30] is exactly Spark's slice(toks, start+1, 30)."""
    from ocean_data_pipeline_spark.operators.chunking import chunk_by_tokens

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return chunk_by_tokens(docs, window=30, stride=20).orderBy("doc_id", "chunk_id")


# --- deterministic split ----------------------------------------------

#: A document's split bucket in 0..99, test iff < 10: the 6-digit draw
#: of 'split:' || doc_id (`contamination_ngram_census` draws it too).
_SPLIT_BUCKET_SQL = hash_int_sql("'split:' || CAST(doc_id AS VARCHAR)", 6) + " % 100"


def _split_bucket() -> Column:
    """The engine twin of `_SPLIT_BUCKET_SQL`."""
    return hash_int(F.concat(F.lit("split:"), F.col("doc_id").cast("string")), 6) % 100


_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, source, n_chars,
         {_SPLIT_BUCKET_SQL} AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 10 THEN 'test' ELSE 'train' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM b GROUP BY 1 ORDER BY 1
"""


@register("train_test_split_deterministic", oracle=_SPLIT_ORACLE)
def train_test_split_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/test split: bucket = first 24 bits
    of sha256('split:' || doc_id) mod 100, test iff bucket < 10. The
    property that matters at corpus scale: membership is a pure
    function of the doc id — stable across reruns, cluster sizes, and
    partitionings (rand()-based splits are none of those), and
    leakage-auditable because anyone can recompute the bucket. The
    salt prefix decorrelates this split from any other sha2-keyed
    assignment of the same ids. Map-side expression + one tiny
    aggregate; no shuffle of the corpus itself."""
    docs = table(spark, sf_dir, "documents")
    bucket = _split_bucket()
    return (
        docs.withColumn("bucket", bucket)
        .select(
            F.when(F.col("bucket") < 10, "test").otherwise("train").alias("split"),
            "doc_id",
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


# --- sequential token-budget packing ----------------------------------

_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source,
       CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
FROM c
GROUP BY source, bin_id
ORDER BY source, bin_id
"""


@register("pack_token_budget", oracle=_PACK_ORACLE)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential token-budget packing: docs are laid out in doc_id
    order within each source shard and cut into ~256-token bins; a doc
    goes to the bin where its span STARTS (floor((cum - own)/budget) —
    the one-pass streaming rule, so bins can overfill by at most one
    doc rather than splitting documents). Per-source windows keep the
    running sum distributed — a single global ORDER BY would serialize
    the corpus through one partition, the classic 100 TB window
    mistake; sharding by source is the packing analog of per-file
    concatenation in real pretraining pipelines."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.select("doc_id", "source", n_tokens.alias("n_tokens")).withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    return (
        c.select(
            "source",
            F.floor((F.col("cum") - F.col("n_tokens")) / 256).cast("bigint").alias("bin_id"),
            "n_tokens",
        )
        .groupBy("source", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("bin_tokens"))
        .orderBy("source", "bin_id")
    )


# --- stratified sampling (class rebalancing) --------------------------

#: per-class keep rates (percent): the class-rebalance config a
#: training pipeline applies — keep every rare 'error' event,
#: down-sample the abundant classes.
SAMPLE_RATES = {"error": 100, "signup": 25, "purchase": 50, "view": 10, "click": 10}

_STRATIFIED_ORACLE = f"""
WITH b AS (
  SELECT event_type,
         {hash_int_sql("'sample:' || CAST(event_id AS VARCHAR)", 6)} % 100 AS bucket
  FROM events
)
SELECT event_type,
       count(*) AS n_total,
       CAST(sum(CASE WHEN bucket < CASE event_type
                  WHEN 'error' THEN 100 WHEN 'signup' THEN 25
                  WHEN 'purchase' THEN 50 ELSE 10 END
             THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM b GROUP BY event_type ORDER BY event_type
"""


@register("stratified_sample_events", oracle=_STRATIFIED_ORACLE)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-class) sampling census: keep-rate
    per event_type, membership = sha2-bucket of the event id under a
    'sample:' salt — same partition-invariance and auditability story
    as train_test_split_deterministic (sampleBy's rand() is neither),
    and decorrelated from the split because the salts differ. The
    census output verifies the exact per-class sampled counts; a real
    pipeline would keep the rows where sampled. Map-side expression +
    one tiny aggregate; the corpus itself never shuffles."""
    ev = table(spark, sf_dir, "events")
    bucket = (
        hash_int(F.concat(F.lit("sample:"), F.col("event_id").cast("string")), 6)
        % 100
    )
    rate = F.lit(10)
    for cls, r in SAMPLE_RATES.items():
        rate = F.when(F.col("event_type") == cls, F.lit(r)).otherwise(rate)
    return (
        ev.withColumn("sampled", bucket < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("sampled"), 1).otherwise(0)).alias("n_sampled"),
        )
        .orderBy("event_type")
    )


# --- split leakage audit ----------------------------------------------

_LEAKAGE_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text,
         CASE WHEN {_SPLIT_BUCKET_SQL} < 10
              THEN 'test' ELSE 'train' END AS split
  FROM documents WHERE length(trim(text)) > 0
),
shingled AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(1, length(text) - 7)),
                               i -> substr(text, i, 8))) AS shingle
  FROM docs
),
sig AS (
  SELECT doc_id,
         min(sha256('s0a_' || shingle)) || min(sha256('s0b_' || shingle)) AS band_s0,
         min(sha256('s1a_' || shingle)) || min(sha256('s1b_' || shingle)) AS band_s1,
         min(sha256('s2a_' || shingle)) || min(sha256('s2b_' || shingle)) AS band_s2
  FROM shingled GROUP BY doc_id
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id
   AND (a.band_s0 = b.band_s0 OR a.band_s1 = b.band_s1 OR a.band_s2 = b.band_s2)
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS gram
  FROM docs
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
shared AS (
  SELECT c.id_a, c.id_b, count(*) AS shared
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
  GROUP BY 1, 2
),
confirmed AS (
  SELECT s.id_a, s.id_b
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.id_a
  JOIN sizes sb ON sb.doc_id = s.id_b
  WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.8
),
tagged AS (
  SELECT p.id_a, p.id_b,
         CASE WHEN da.split = db.split THEN da.split || '-' || db.split
              ELSE 'cross-split' END AS category
  FROM confirmed p
  JOIN docs da ON da.doc_id = p.id_a
  JOIN docs db ON db.doc_id = p.id_b
)
SELECT category,
       count(*) AS n_pairs,
       min(id_a * 1000000 + id_b) AS example_pair_key
FROM tagged
GROUP BY category
ORDER BY category
"""


@register("split_leakage_audit", oracle=_LEAKAGE_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: near-duplicate pairs (banded-MinHash
    candidates → exact unigram-Jaccard ≥ 0.8 confirm, same stages as
    `dedup_pipeline_end2end` but corpus-wide) classified by whether
    they CROSS the deterministic 90/10 split boundary
    (`train_test_split_deterministic`'s sha2 bucket rule). A
    cross-split near-dup pair means the test set leaks into training —
    the audit every eval pipeline should run after splitting.

    Banding is tuned for this corpus-wide run: b=3 bands × r=2
    minhashes per band (collision prob J² per band → ≥95% detect at
    J=0.8, >99.9% at J=0.9). The r=1 banding the bounded dedup demo
    uses degenerates here — one hot band bucket held 1100 docs at
    sf0.1 (~600k useless pairs from a single bucket); squaring the
    per-band collision prob cut candidates 1.18M → ~180k at identical
    confirm output. The six minima fold over ONE shared shingle array
    (single projection, no re-shingling).

    Plan shape: candidate generation is bucket-bounded (never
    all-pairs), the confirm join touches candidates only, and the
    split tag is a map-side sha2 expression — two broadcast-able joins
    against the tiny doc→split relation. example_pair_key packs the
    lexicographically smallest pair as id_a*1e6+id_b (ids here are
    < 1e6; a struct-min carries the same contract at corpus scale)."""
    from ocean_data_pipeline_spark.operators.dedup import jaccard_pairs
    from ocean_data_pipeline_spark.operators.text import char_shingles

    # spread=True: six SHA-256 minima over ~len(text) shingles per row
    # dwarf one row exchange; a single-row-group scan would otherwise
    # hash the whole corpus on one core.
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    bucket = _split_bucket()
    split = docs.select(
        "doc_id", F.when(bucket < 10, "test").otherwise("train").alias("split")
    )

    def _minh(salt: str):
        return F.array_min(
            F.transform(
                F.col("sh"), lambda s: F.sha2(F.concat(F.lit(salt + "_"), s), 256)
            )
        )

    sh = docs.select("doc_id", char_shingles(F.col("text"), 8).alias("sh"))
    sig = sh.select(
        "doc_id",
        F.concat(_minh("s0a"), _minh("s0b")).alias("band_s0"),
        F.concat(_minh("s1a"), _minh("s1b")).alias("band_s1"),
        F.concat(_minh("s2a"), _minh("s2b")).alias("band_s2"),
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band_idx"), F.col("band_s0").alias("band_val")),
                F.struct(F.lit(1).alias("band_idx"), F.col("band_s1").alias("band_val")),
                F.struct(F.lit(2).alias("band_idx"), F.col("band_s2").alias("band_val")),
            )
        ).alias("band"),
    ).select("doc_id", F.col("band.band_idx").alias("band_idx"), F.col("band.band_val").alias("band_val"))
    cand = (
        bands.select(F.col("doc_id").alias("id_a"), "band_idx", "band_val")
        .join(bands.select(F.col("doc_id").alias("id_b"), "band_idx", "band_val"),
              ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    confirmed = (
        jaccard_pairs(docs, "text", "doc_id", cand, n=1)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
    )
    tagged = (
        confirmed.join(
            F.broadcast(split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))),
            "id_a",
        )
        .join(
            F.broadcast(split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.when(
                F.col("split_a") == F.col("split_b"),
                F.concat_ws("-", "split_a", "split_b"),
            )
            .otherwise("cross-split")
            .alias("category"),
        )
    )
    return (
        tagged.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.col("id_a") * 1000000 + F.col("id_b")).alias("example_pair_key"),
        )
        .orderBy("category")
    )


# --- end-to-end training-example pipeline ------------------------------

_TRAIN_E2E_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents WHERE length(trim(text)) > 0
),
chunks AS (
  SELECT doc_id,
         CAST(start / 32 AS INTEGER) AS chunk_id,
         least(32, n - start) AS n_tokens,
         array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text
  FROM (SELECT doc_id, t, n, unnest(range(0, n, 32)) AS start FROM toks)
),
tagged AS (
  SELECT *,
         CASE WHEN {_SPLIT_BUCKET_SQL} < 10
              THEN 'test' ELSE 'train' END AS split,
         row_number() OVER (PARTITION BY chunk_text
                            ORDER BY doc_id, chunk_id) AS dup_rn
  FROM chunks
),
survivors AS (SELECT * FROM tagged WHERE dup_rn = 1),
packed AS (
  SELECT split, n_tokens,
         sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id, chunk_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM survivors
)
SELECT t.split,
       count(*)                                   AS n_chunks_raw,
       CAST(sum(CASE WHEN dup_rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_chunks_unique,
       (SELECT count(DISTINCT CAST(floor((cum - n_tokens) / 256.0) AS BIGINT))
        FROM packed p WHERE p.split = t.split)    AS n_bins,
       CAST(sum(CASE WHEN dup_rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
                                                  AS packed_tokens
FROM tagged t
GROUP BY t.split
ORDER BY t.split
"""


@register("training_example_pipeline", oracle=_TRAIN_E2E_ORACLE)
def training_example_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-example manufacturing: documents → 32-token
    non-overlapping chunks → corpus-wide exact chunk dedup (lowest
    (doc_id, chunk_id) survives) → deterministic 90/10 split tag →
    sequential 256-token bin packing per split → per-split yield
    report (raw chunks, unique survivors, packed bins, packed token
    mass). The composite a pretraining data build runs nightly,
    assembled from the same verified stages registered individually
    (`chunk_documents`, `train_test_split_deterministic`,
    `pack_token_budget`).

    Plan shape: chunking is a map-side explode; dedup is ONE window
    over the chunk-text shuffle (at 100 TB: hash the chunk text into
    the partition key to cut shuffle bytes); the split tag is a
    map-side sha2; packing windows per split over the survivor
    ordering. No stage is all-pairs and nothing collects."""
    from ocean_data_pipeline_spark.operators.chunking import chunk_by_tokens

    docs = table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    chunks = chunk_by_tokens(docs, window=32, stride=32)
    bucket = _split_bucket()
    w_dup = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_id")
    tagged = chunks.withColumn(
        "split", F.when(bucket < 10, "test").otherwise("train")
    ).withColumn("dup_rn", F.row_number().over(w_dup))
    survivors = tagged.filter(F.col("dup_rn") == 1)
    w_pack = Window.partitionBy("split").orderBy("doc_id", "chunk_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bins = (
        survivors.withColumn("cum", F.sum("n_tokens").over(w_pack))
        .select(
            "split",
            F.floor((F.col("cum") - F.col("n_tokens")) / 256.0)
            .cast("bigint")
            .alias("bin_id"),
        )
        .groupBy("split")
        .agg(F.countDistinct("bin_id").alias("n_bins"))
    )
    summary = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_chunks_raw"),
        F.sum(F.when(F.col("dup_rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_chunks_unique"),
        F.sum(F.when(F.col("dup_rn") == 1, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("packed_tokens"),
    )
    return (
        summary.join(F.broadcast(bins), "split")
        .select("split", "n_chunks_raw", "n_chunks_unique", "n_bins", "packed_tokens")
        .orderBy("split")
    )


# --- leakage-safe (group-holdout) splitting ---------------------------

#: Train/val/test thresholds on the group's uniform.
_GSPLIT_TRAIN = 0.8
_GSPLIT_VAL = 0.9

_GSPLIT_ORACLE = f"""
WITH RECURSIVE
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {norm_sql("embedding::DOUBLE[]")} AS nrm
  FROM embeddings WHERE vec_id < 500
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM c a JOIN c b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(u, r) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
),
labels AS (SELECT u, min(r) AS component FROM reach GROUP BY u),
comp AS (
  SELECT n.vec_id, coalesce(l.component, n.vec_id) AS component
  FROM c n LEFT JOIN labels l ON l.u = n.vec_id
),
assign AS (
  SELECT vec_id, component,
         {uniform_sql("'gsplit_' || CAST(component AS VARCHAR)")} AS ug,
         {uniform_sql("'gsplit_' || CAST(vec_id AS VARCHAR)")} AS ud
  FROM comp
),
splits AS (
  SELECT vec_id, component,
         CASE WHEN ug <= {_GSPLIT_TRAIN} THEN 'train'
              WHEN ug <= {_GSPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN ud <= {_GSPLIT_TRAIN} THEN 'train'
              WHEN ud <= {_GSPLIT_VAL} THEN 'val'
              ELSE 'test' END AS naive_split
  FROM assign
),
leaky AS (
  SELECT count(*) AS n FROM (
    SELECT component FROM splits
    GROUP BY component HAVING count(DISTINCT naive_split) > 1
  )
)
SELECT split,
       count(*) AS n_docs,
       count(DISTINCT component) AS n_components,
       (SELECT CAST(n AS BIGINT) FROM leaky) AS naive_leaky_components
FROM splits GROUP BY split ORDER BY split
"""


@register("leakage_safe_group_split", oracle=_GSPLIT_ORACLE)
def leakage_safe_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-holdout train/val/test split: the split unit is the
    NEAR-DUPLICATE CLUSTER (connected component of the cosine >= 0.35
    pair graph), not the document — every member of a duplicate
    cluster lands in the same split because the salted-sha256 split
    uniform hashes the COMPONENT label. Splitting by document id
    instead leaks near-identical text across the train/eval boundary
    (the contamination `benchmark_decontamination` hunts after the
    fact; this op prevents it at split time — GroupKFold semantics at
    corpus scale). The census reports each split's doc and cluster
    counts plus `naive_leaky_components`: how many clusters a
    doc-id-hash split would have straddled across splits (the leak
    this op closes; 0 by construction for the group split).

    Plan shape: candidate pairs are the bounded near-dup generator
    (`operators/similarity.cosine_near_dup_pairs`), components iterate
    O(diameter) shuffles (`operators/components.py`), and the split
    assignment is scan-speed hash arithmetic — the whole pipeline adds
    ONE keyed join to the dedup chain it reuses. Deterministic across
    engines, retries, and partitionings (no RNG anywhere)."""
    from ocean_data_pipeline_spark.operators.components import connected_components
    from ocean_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs

    emb = table(spark, sf_dir, "embeddings", spread=True).filter(F.col("vec_id") < 500)
    pairs = cosine_near_dup_pairs(emb, threshold=0.35)
    labels = connected_components(pairs, src="id_a", dst="id_b")
    comp = (
        emb.select("vec_id")
        .join(labels, emb.vec_id == labels.id, "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("component"),
        )
    )

    def _split(u: F.Column) -> F.Column:
        return (
            F.when(u <= _GSPLIT_TRAIN, "train")
            .when(u <= _GSPLIT_VAL, "val")
            .otherwise("test")
        )

    splits = comp.select(
        "vec_id",
        "component",
        _split(
            uniform(F.concat(F.lit("gsplit_"), F.col("component").cast("string")))
        ).alias("split"),
        _split(
            uniform(F.concat(F.lit("gsplit_"), F.col("vec_id").cast("string")))
        ).alias("naive_split"),
    ).localCheckpoint()  # closes the components loop; reused by 2 aggs
    leaky = (
        splits.groupBy("component")
        .agg(F.countDistinct("naive_split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("naive_leaky_components"))
    )
    return (
        splits.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component").alias("n_components"),
        )
        .crossJoin(F.broadcast(leaky))
        .orderBy("split")
    )


# --- cross-source quantile normalization --------------------------------

_QNORM_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS r
  FROM documents
),
gq AS (
  SELECT n_chars AS g_chars,
         percent_rank() OVER (ORDER BY n_chars, doc_id) AS pct
  FROM documents
)
SELECT a.doc_id, a.source, a.n_chars,
       CAST(g.g_chars AS BIGINT) AS norm_chars
FROM ranked a
ASOF JOIN gq g ON g.pct <= a.r
ORDER BY a.doc_id
"""


@register("quantile_normalize_doclen", oracle=_QNORM_ORACLE)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across sources (the
    microarray-style distribution alignment used to remove per-source
    length bias before mixing): each doc's WITHIN-SOURCE percent rank
    is mapped onto the GLOBAL length distribution by an as-of
    (backward) join on the rank axis — the greatest global quantile
    ≤ the row's rank. The Spark side runs the engine's own asof_join
    operator; the oracle uses DuckDB's native ASOF JOIN, so the
    operator's contract is pinned against an independent built-in
    implementation. percent_rank is (k-1)/(n-1) over a total order —
    the identical double on both engines. Scale: one window per side
    over the (source-partitioned / global) length axis, one
    rank-partitioned as-of exchange."""
    from ocean_data_pipeline_spark.operators.joins import asof_join

    docs = table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.percent_rank()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("r"),
    )
    from ocean_data_pipeline_spark.operators.ranks import (
        percent_rank_from_rank,
        with_global_row_number,
    )

    # the GLOBAL length axis rides the rank device (1000-char buckets:
    # document length is value-domain-bounded), never a corpus-scale
    # single-partition window; (n_chars, doc_id) is a total order so
    # (rn-1)/(n-1) IS ANSI percent_rank
    n_all = docs.agg(F.count(F.lit(1)).alias("_n_all"))
    glob = (
        with_global_row_number(
            docs.select("n_chars", "doc_id"),
            ["n_chars", "doc_id"],
            "n_chars",
            out="_rn",
            bucket_width=1000.0,
        )
        .crossJoin(F.broadcast(n_all))
        .select(
            F.col("n_chars").alias("g_chars"),
            percent_rank_from_rank(F.col("_rn"), F.col("_n_all")).alias("pct"),
        )
    )
    joined = asof_join(
        ranked,
        glob,
        left_on="r",
        right_on="pct",
        value_cols=["g_chars"],
        direction="backward",
        bucket_width=1.0 / 32,  # rank axis lives in [0,1]: 32 buckets
    )
    return joined.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("g_chars").cast("bigint").alias("norm_chars"),
    ).orderBy("doc_id")


# --- sequence-length bucketing efficiency -------------------------------

_BUCKETING_ORACLE = """
WITH d AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         t -> t <> '')) AS n_tokens
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
b AS (  -- next power-of-2 capacity, floor 16
  SELECT doc_id, n_tokens,
         greatest(16, CAST(power(2, ceil(log2(n_tokens))) AS BIGINT)) AS cap
  FROM d WHERE n_tokens > 0
),
per_bucket AS (
  SELECT cap, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tokens,
         CAST(sum(cap - n_tokens) AS BIGINT) AS padding
  FROM b GROUP BY cap
),
tot AS (
  SELECT CAST(sum(tokens) AS DOUBLE) AS all_tokens,
         CAST(sum(padding) AS DOUBLE) AS all_padding,
         CAST(max(cap) AS DOUBLE) AS max_cap,
         CAST(sum(n_docs) AS DOUBLE) AS n
  FROM per_bucket
)
SELECT cap AS bucket_cap, n_docs, tokens, padding,
       round(CAST(tokens AS DOUBLE) / (tokens + padding), 6) AS bucket_efficiency,
       round((SELECT all_tokens / (all_tokens + all_padding) FROM tot), 6)
         AS bucketed_efficiency,
       round((SELECT all_tokens / (max_cap * n) FROM tot), 6)
         AS unbucketed_efficiency
FROM per_bucket ORDER BY bucket_cap
"""


@register("length_bucketing_efficiency", oracle=_BUCKETING_ORACLE)
def length_bucketing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing audit: assign each document to the
    next power-of-2 token capacity (floor 16) and report per-bucket
    padding waste, plus the corpus-level packing efficiency of the
    bucketed layout vs padding everything to the global max — the
    table that justifies length-bucketed batching in a training data
    loader (padding tokens are wasted FLOPs).

    Plan shape: one scan computes token counts (the suite's standard
    whitespace tokenizer), one small groupBy on ~8 capacity levels,
    one broadcast 1-row total. All integer arithmetic except the final
    display ratios. At 100 TB: scan-bound, shuffle of 8 rows."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    n_tokens = F.size(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != "",
        )
    )
    b = docs.select(n_tokens.alias("n_tokens")).filter(F.col("n_tokens") > 0)
    cap = F.greatest(
        F.lit(16),
        F.pow(F.lit(2.0), F.ceil(F.log2(F.col("n_tokens")))).cast("bigint"),
    )
    per_bucket = (
        b.select(cap.alias("cap"), "n_tokens")
        .groupBy("cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.sum(F.col("cap") - F.col("n_tokens")).cast("bigint").alias("padding"),
        )
    )
    tot = per_bucket.agg(
        F.sum("tokens").cast("double").alias("all_tokens"),
        F.sum("padding").cast("double").alias("all_padding"),
        F.max("cap").cast("double").alias("max_cap"),
        F.sum("n_docs").cast("double").alias("n"),
    )
    return (
        per_bucket.crossJoin(F.broadcast(tot))
        .select(
            F.col("cap").alias("bucket_cap"),
            "n_docs",
            "tokens",
            "padding",
            F.round(
                F.col("tokens").cast("double") / (F.col("tokens") + F.col("padding")),
                6,
            ).alias("bucket_efficiency"),
            F.round(
                F.col("all_tokens") / (F.col("all_tokens") + F.col("all_padding")), 6
            ).alias("bucketed_efficiency"),
            F.round(F.col("all_tokens") / (F.col("max_cap") * F.col("n")), 6).alias(
                "unbucketed_efficiency"
            ),
        )
        .orderBy("bucket_cap")
    )


# --- per-epoch hash-shuffle shard balance --------------------------------

_EPOCH_SHUFFLE_ORACLE = f"""
WITH assign AS (
  SELECT e.epoch, d.doc_id,
         {hash_int_sql("'epoch' || CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)", 6)}
           % 16 AS shard
  FROM documents d
  CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) e
),
per_shard AS (
  SELECT epoch, shard, count(*) AS n FROM assign GROUP BY epoch, shard
),
-- fixed 16-shard spine: an empty shard must contribute its (0-e)^2/e
-- term, otherwise chi-square understates non-uniformity on small corpora
spine AS (
  SELECT e.epoch, s.shard
  FROM (SELECT unnest([0, 1, 2]) AS epoch) e
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS shard) s
),
full_shards AS (
  SELECT sp.epoch, sp.shard, coalesce(p.n, 0) AS n
  FROM spine sp LEFT JOIN per_shard p
    ON p.epoch = sp.epoch AND p.shard = sp.shard
),
stats AS (
  SELECT epoch,
         count(*) AS n_shards,
         CAST(sum(n) AS BIGINT) AS n_docs,
         min(n) AS min_shard,
         max(n) AS max_shard,
         CAST(sum(CAST(n AS DECIMAL(38,0)) * n) AS DOUBLE) AS sum_sq
  FROM full_shards GROUP BY epoch
)
SELECT epoch, n_shards, n_docs, min_shard, max_shard,
       CASE WHEN min_shard > 0
            THEN round(CAST(max_shard AS DOUBLE) / min_shard, 6) END
         AS balance_ratio,
       round((sum_sq - CAST(n_docs AS DOUBLE) * n_docs / n_shards)
             / (CAST(n_docs AS DOUBLE) / n_shards), 6) AS chi_sq_uniform
FROM stats ORDER BY epoch
"""


@register("epoch_shuffle_balance", oracle=_EPOCH_SHUFFLE_ORACLE)
def epoch_shuffle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic shuffle audit: shard =
    sha256('epoch<e>:<doc_id>') % 16 gives every epoch an independent,
    reproducible permutation of the corpus into data-loader shards
    (the salted-sha2 discipline of `train_test_split_deterministic` —
    no rand(), no global sort, re-derivable by any worker). Reports
    per-epoch shard min/max, balance ratio, and the chi-square
    uniformity statistic Σ(o-e)²/e — the check that the "shuffle" is
    actually uniform and epochs are decorrelated.

    Plan shape: a 3-epoch expand on the scan, one groupBy to 48 cells,
    one 3-row aggregate. At 100 TB: one map-side-combining shuffle of
    48 rows; the epoch "reshuffle" costs zero data movement because
    membership is computed, not materialized."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    shard = (
        hash_int(
            F.concat(
                F.lit("epoch"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            ),
            6,
        )
        % 16
    )
    per_shard = (
        docs.crossJoin(F.broadcast(epochs))
        .select("epoch", shard.alias("shard"))
        .groupBy("epoch", "shard")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Fixed 16-shard spine (ADVICE r06): an empty shard must contribute
    # its (0-e)^2/e chi-square term and keep n_shards = 16 — otherwise
    # uniformity is understated exactly when shards go empty. 48-row
    # broadcast spine, so the left join is free at any corpus size.
    shards16 = spark.range(16).select(F.col("id").alias("shard"))
    spine = epochs.crossJoin(shards16)
    per_shard = spine.join(
        F.broadcast(per_shard), ["epoch", "shard"], "left"
    ).select("epoch", "shard", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    stats = per_shard.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("n").cast("bigint").alias("n_docs"),
        F.min("n").alias("min_shard"),
        F.max("n").alias("max_shard"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n"))
        .cast("double")
        .alias("sum_sq"),
    )
    nD = F.col("n_docs").cast("double")
    expected = nD / F.col("n_shards")
    return stats.select(
        "epoch",
        "n_shards",
        "n_docs",
        "min_shard",
        "max_shard",
        F.when(
            F.col("min_shard") > 0,
            F.round(F.col("max_shard").cast("double") / F.col("min_shard"), 6),
        ).alias("balance_ratio"),
        F.round(
            F.try_divide(F.col("sum_sq") - nD * F.col("n_docs") / F.col("n_shards"), expected),
            6,
        ).alias("chi_sq_uniform"),
    ).orderBy("epoch")
