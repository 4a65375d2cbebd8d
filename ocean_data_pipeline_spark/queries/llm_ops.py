"""LLM-data-pipeline queries (SURVEY.md §2-J): dedup, similarity
search, text analysis, multimodal columns — over documents/embeddings/
events.props.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.dedup import (
    jaccard_pairs,
    mllib_minhash_pairs,
)
from ocean_data_pipeline_spark.operators.portable import hash_int, hash_int_sql, vd
from ocean_data_pipeline_spark.operators.similarity import (
    cosine_sql,
    cosine_topk,
    lsh_topk,
    norm_sql,
    topk_sql,
)
from ocean_data_pipeline_spark.operators.text import (
    STOPWORDS,
    bpe_token_count,
    char_count,
    doc_fingerprint,
    minhash_band,
    predicted_lang,
    punct_count,
    quality_score,
    rolling_hashes,
    simhash16,
    stopword_hits,
    token_count,
    winnow_positional_robust,
    winnow_select,
)
from ocean_data_pipeline_spark.queries import register

# --- dedup-exact ------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
WITH hashed AS (
  SELECT doc_id, sha256(text) AS content_hash FROM documents
),
winners AS (
  SELECT content_hash, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
  FROM hashed GROUP BY content_hash
)
SELECT count(*)                                 AS n_unique,
       CAST(sum(n_copies) AS BIGINT)            AS n_total,
       CAST(sum(n_copies) - count(*) AS BIGINT) AS n_duplicates_removed,
       min(keeper_doc_id)                       AS first_keeper
FROM winners
"""


@register("dedup_exact_documents", oracle=_DEDUP_EXACT_ORACLE)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup report (operator: operators.dedup.exact_dedup).
    One shuffle on the 256-bit content hash; winner = lowest doc_id."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("content_hash", F.sha2(F.col("text"), 256))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum("n_copies").alias("n_total"),
            (F.sum("n_copies") - F.count(F.lit(1))).alias("n_duplicates_removed"),
            F.min("keeper_doc_id").alias("first_keeper"),
        )
    )


# --- text statistics --------------------------------------------------

_TEXT_STATS_ORACLE = """
WITH per_doc AS (
  SELECT lang,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS n_punct
  FROM documents
)
SELECT lang,
       count(*)                                        AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)                   AS total_tokens,
       CAST(sum(n_chars) AS BIGINT)                    AS total_chars,
       CAST(sum(n_punct) AS BIGINT)                    AS total_punct,
       round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 3) AS avg_tokens_per_doc
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@register("text_stats", oracle=_TEXT_STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/punctuation accounting per language — one projection
    + tiny hash-agg (operators.text featurizers)."""
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        char_count(F.col("text")).alias("n_chars"),
        token_count(F.col("text")).alias("n_tokens"),
        punct_count(F.col("text")).alias("n_punct"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_punct").alias("total_punct"),
            F.round(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 3).alias(
                "avg_tokens_per_doc"
            ),
        )
        .orderBy("lang")
    )


# --- top-k tokens (explode/UDTF surface §2-I) -------------------------

_TOP_TOKENS_ORACLE = """
SELECT token, count(*) AS n_occurrences
FROM (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
"""


@register("top_tokens", oracle=_TOP_TOKENS_ORACLE)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode → count → top-k (partial aggregation absorbs the token
    explosion before the shuffle)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(20)
    )


# --- language-ID heuristic -------------------------------------------


def _oracle_stopword_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        f" t -> t IN ({words})))"
    )


_LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT lang AS actual_lang,
         {_oracle_stopword_hits('en')} AS en_hits,
         {_oracle_stopword_hits('de')} AS de_hits,
         {_oracle_stopword_hits('fr')} AS fr_hits,
         {_oracle_stopword_hits('es')} AS es_hits
  FROM documents WHERE length(trim(text)) > 0
),
pred AS (
  SELECT actual_lang,
    CASE
      WHEN es_hits > greatest(en_hits, de_hits, fr_hits) THEN 'es'
      WHEN fr_hits > greatest(en_hits, de_hits) THEN 'fr'
      WHEN de_hits > en_hits THEN 'de'
      WHEN en_hits > 0 THEN 'en'
      ELSE 'und' END AS pred_lang
  FROM scored
)
SELECT actual_lang, pred_lang, count(*) AS n_docs
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("lang_id_heuristic", oracle=_LANG_ID_ORACLE)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID vs. labeled lang (confusion counts).

    Tie policy: later language wins only with a STRICT majority —
    mirrored exactly in the CASE cascade above.
    """
    docs = table(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return (
        docs.select(
            F.col("lang").alias("actual_lang"),
            predicted_lang(F.col("text")).alias("pred_lang"),
        )
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "pred_lang")
    )


# --- quality scoring --------------------------------------------------

_QUALITY_ORACLE = """
WITH per_doc AS (
  SELECT source,
    round(greatest(0.0,
      least(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) / 100.0)
      * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1))), 6) AS score
  FROM documents
)
SELECT source, count(*) AS n_docs,
       round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_quality
FROM per_doc GROUP BY source ORDER BY source
"""


@register("doc_quality_score", oracle=_QUALITY_ORACLE)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped quality formula per source (operators.text.
    quality_score); per-doc scores rounded before the decimal-exact avg."""
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select("source", quality_score(F.col("text")).alias("score"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


# --- MinHash banding (portable LSH core) ------------------------------

_MINHASH_ORACLE = """
WITH shingled AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(1, length(text) - 7)),
                               i -> substr(text, i, 8))) AS shingle
  FROM documents
),
sig AS (
  SELECT doc_id,
         min(sha256('s0_' || shingle)) AS band_s0,
         min(sha256('s1_' || shingle)) AS band_s1
  FROM shingled GROUP BY doc_id
),
buckets AS (
  SELECT band_s0 AS bucket, count(*) AS n_docs FROM sig GROUP BY 1
  UNION ALL
  SELECT band_s1 AS bucket, count(*) AS n_docs FROM sig GROUP BY 1
)
SELECT count(*)                                   AS n_buckets,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_collision_buckets,
       max(n_docs)                                AS max_bucket
FROM buckets
"""


@register("minhash_bands", oracle=_MINHASH_ORACLE)
def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-MinHash bucket census: the LSH candidate-generation core
    with a fully deterministic, SQL-portable hash (salted SHA-256 min).
    Array-expression shingling — no explode until the band agg.
    spread=True: ~2·len(text) SHA-256s per row dwarf one row-exchange,
    so a degenerate single-row-group scan must not serialize them."""
    docs = table(spark, sf_dir, "documents", spread=True)
    sig = docs.select(
        "doc_id",
        minhash_band(F.col("text"), "s0").alias("band_s0"),
        minhash_band(F.col("text"), "s1").alias("band_s1"),
    )
    b0 = sig.groupBy(F.col("band_s0").alias("bucket")).agg(F.count(F.lit(1)).alias("n_docs"))
    b1 = sig.groupBy(F.col("band_s1").alias("bucket")).agg(F.count(F.lit(1)).alias("n_docs"))
    buckets = b0.unionByName(b1)
    return buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_collision_buckets"),
        F.max("n_docs").alias("max_bucket"),
    )


# --- SimHash ----------------------------------------------------------


def _oracle_simhash() -> str:
    votes = []
    for bit in range(16):
        votes.append(
            f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h // {1 << bit}) % 2 = 1 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {1 << bit} ELSE 0 END)"
        )
    return " + ".join(votes)


_SIMHASH_ORACLE = f"""
WITH tokenized AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),
                        t -> CAST(('0x' || substr(sha256(t), 1, 4)) AS INT)) AS hs
  FROM documents WHERE length(trim(text)) > 0
),
sigs AS (
  SELECT doc_id, {_oracle_simhash()} AS simhash FROM tokenized
)
SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM sigs GROUP BY simhash
ORDER BY simhash
"""


@register("simhash_documents", oracle=_SIMHASH_ORACLE)
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature census (operators.text.simhash16):
    near-dup docs land on equal or hamming-close signatures; grouping
    by the signature is the candidate step. spread=True: per-token
    hashing dominates a row-exchange on degenerate scans."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    sigs = docs.select("doc_id", simhash16(F.col("text")).alias("simhash"))
    return (
        sigs.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("simhash")
    )


# --- n-gram Jaccard near-dup (exact confirm pass) ---------------------

_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE doc_id < 60 AND length(trim(text)) > 0
),
grams AS (
  SELECT DISTINCT doc_id, unnest(t) AS gram FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
ORDER BY id_a, id_b
"""


@register("ngram_jaccard_pairs", oracle=_JACCARD_ORACLE)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set (unigram) Jaccard ≥ 0.5 over a bounded doc
    subset (the confirm stage of near-dedup; candidate generation at
    scale is minhash_bands/candidate_pairs). Shared-shingle equi-join,
    not a cross join."""
    docs = table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 60) & (F.length(F.trim(F.col("text"))) > 0)
    )
    ids = docs.select(F.col("doc_id"))
    pairs = (
        ids.select(F.col("doc_id").alias("id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    out = jaccard_pairs(docs, "text", "doc_id", pairs, n=1)
    return (
        out.filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


# --- embedding similarity --------------------------------------------


def _sim_rows(out: DataFrame) -> DataFrame:
    """A cosine top-k operator's rows, the similarity rounded to 6
    decimals as `topk_sql` rounds it on the oracle side."""
    return out.select(
        "probe_id", "neighbor_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank"
    ).orderBy("probe_id", "rank")


_SIM_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
probes AS (SELECT vec_id, v FROM corpus WHERE vec_id < 3),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         {cosine_sql('p.v', 'c.v')} AS cosine_sim
  FROM probes p JOIN corpus c ON c.vec_id != p.vec_id
),
{topk_sql("scored", 5, "cosine_sim DESC")}"""


@register("sim_topk_bruteforce", oracle=_SIM_ORACLE)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 3 probes (operators.similarity.
    cosine_topk). Dot products bit-match DuckDB's list_dot_product
    (sequential fold, doubles); rounded to 6 for rank-boundary safety."""
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    return _sim_rows(cosine_topk(emb, probes, k=5))


# --- embeddings metadata / array ops ---------------------------------

_EMB_STATS_ORACLE = """
SELECT label,
       count(*) AS n_vectors,
       round(CAST(sum(CAST(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_sq_norm,
       min(len(embedding)) AS min_dims,
       max(len(embedding)) AS max_dims
FROM embeddings
GROUP BY label ORDER BY label
"""


@register("embedding_stats", oracle=_EMB_STATS_ORACLE)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column analytics: per-label norm stats (multimodal array
    plumbing — zip_with/aggregate on array<float> at scan speed)."""
    from ocean_data_pipeline_spark.operators.similarity import dot

    emb = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    per = emb.select("label", dot(v, v).alias("sq_norm"), F.size("embedding").alias("dims"))
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("sq_norm").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("avg_sq_norm"),
            F.min("dims").alias("min_dims"),
            F.max("dims").alias("max_dims"),
        )
        .orderBy("label")
    )


# --- multimodal: JSON props column -----------------------------------

_PROPS_ORACLE = """
SELECT event_type,
       count(json_extract_string(props, '$.k')) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type ORDER BY event_type
"""


@register("props_json_extract", oracle=_PROPS_ORACLE)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface: JSON path extraction + typed agg
    (events.props; MapType/StructType plumbing per SURVEY §1.2)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(k).alias("n_with_k"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# --- rows-only: MLlib LSH paths (nondeterministic internals) ----------


@register("minhash_lsh_near_dup", oracle=None)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH approx near-dup pairs (scale path; rows-only —
    engine-internal hash seeds have no SQL oracle)."""
    docs = table(spark, sf_dir, "documents")
    return mllib_minhash_pairs(docs, "text", "doc_id", threshold=0.8)


@register("sim_topk_lsh", oracle=None)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH candidate top-k (scale path; rows-only)."""
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    return lsh_topk(emb, probes, k=5)


# The synthetic payloads are VALID PNG/JPEG/GIF containers whose
# dimensions are arithmetic in doc_id (operators.multimodal.synth_media),
# so the oracle predicts — in SQL — exactly what the REAL byte-level
# header parser must recover: format from magic bytes, big-endian IHDR
# dims (PNG), SOF marker-walk dims (JPEG), little-endian screen
# descriptor (GIF), plus the exact container byte count.
_MULTIMODAL_ORACLE = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       ELSE 'image/gif' END                          AS media_type,
       CAST(16 + doc_id % 97 AS INT)                                 AS width,
       CAST(16 + (7 * doc_id) % 89 AS INT)                           AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 35 ELSE 14 END
            + doc_id % 32 AS BIGINT)                                 AS n_bytes
FROM documents
ORDER BY doc_id
"""


@register("multimodal_features", oracle=_MULTIMODAL_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns with REAL header decode: deterministic
    synthetic PNG/JPEG/GIF payloads flow as opaque binary through
    Arrow-batched mapInPandas; `parse_media_header` reads media_type /
    width / height back from the container bytes at spec offsets
    (operators/multimodal.py). The oracle recomputes the expected
    values arithmetically — a parser that misreads any offset or
    endianness hash-mismatches. Pixel decode remains codec-gated
    (decode_pixels); byte-stat features cover that plumbing in tests."""
    from ocean_data_pipeline_spark.operators.multimodal import (
        extract_features,
        pack_synthetic_media,
    )

    docs = table(spark, sf_dir, "documents")
    packed = pack_synthetic_media(docs, "doc_id")
    feats = extract_features(packed)
    return feats.select("doc_id", "media_type", "width", "height", "n_bytes").orderBy(
        "doc_id"
    )


# --- BPE-ish token counting ------------------------------------------

_BPE_TOKENS_ORACLE = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens
FROM documents
ORDER BY doc_id
"""


@register("token_counts_bpe", oracle=_BPE_TOKENS_ORACLE)
def token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts under whitespace + BPE-ish regex
    pre-tokenization (operators.text.bpe_token_count) — the unit every
    training-data budget is denominated in. Pure regexp projections at
    scan speed; no shuffle (output is per-row)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


# --- rolling-hash document fingerprint -------------------------------

_FINGERPRINT_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         list_min(list_transform(
           generate_series(1, greatest(1, length(text) - 15)),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list_transform(split(substr(text, i, 16), ''), c -> ascii(c))),
                  (a, b) -> (a * 31 + b) % 2147483647)
         )) AS fingerprint
  FROM documents WHERE length(trim(text)) > 0
)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM fp GROUP BY fingerprint
ORDER BY fingerprint
"""


@register("doc_fingerprint_rolling", oracle=_FINGERPRINT_ORACLE)
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint census: min polynomial rolling hash
    over 16-char windows (operators.text.doc_fingerprint); docs sharing
    a window collide. spread=True: O(len·16) hash arithmetic per row
    must not serialize on a degenerate one-row-group scan."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return (
        docs.select("doc_id", doc_fingerprint(F.col("text"), k=16).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("fingerprint")
    )


# --- winnowing: full fingerprint-set near-dup candidates --------------

_WINNOW_PAIRS_ORACLE = """
WITH fp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, greatest(1, length(text) - 15 - 7)),
    j -> list_min(list_transform(
           generate_series(j, least(j + 7, greatest(1, length(text) - 15))),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list_transform(split(substr(text, CAST(i AS INT), 16), ''), c -> ascii(c))),
                  (a, b) -> (a * 31 + b) % 2147483647)))
  ))) AS fp
  FROM documents WHERE length(trim(text)) > 0
),
capped AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_docs FROM fp
  ) WHERE n_docs <= 50
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY id_a, id_b
"""


@register("winnow_shared_pairs", oracle=_WINNOW_PAIRS_ORACLE)
def winnow_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via full winnowing fingerprints
    (operators.text.winnow_fingerprints, k=16, w=8): any shared
    substring ≥ 23 chars guarantees a shared fingerprint, so this is
    the scale-grade first pass (explode → equi-join on fingerprint),
    not the single-min heuristic. Stop-hash cap (fingerprints in > 50
    docs are dropped) bounds the worst-case pair blowup — on a 100 TB
    corpus a boilerplate window shared by 10^6 docs would otherwise
    emit 10^12 pairs from one hot key. spread=True: the O(len·k·w)
    hash selection must not serialize on a one-row-group scan."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    fp = (
        docs
        # stage the hash array: computed ONCE per row; inlining it into
        # the window transform re-evaluates it per window (O(len²·k) —
        # measured 30× slower on this query)
        .withColumn("h", rolling_hashes(F.col("text"), k=16))
        .select("doc_id", F.explode(winnow_select(F.col("h"), w=8)).alias("fp"))
    )
    capped = (
        fp.withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("n_docs") <= 50)
        .drop("n_docs")
    )
    a = capped.select(F.col("doc_id").alias("id_a"), "fp")
    b = capped.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("id_a", "id_b")
    )


# --- robust positional winnowing (Schleimer '03 §4) -------------------

# The sequential keep-previous-selection fold is replayed in DuckDB as
# a RECURSIVE CTE stepping one window per iteration, carrying
# (current selection, recorded fingerprints) — exact, and exactly the
# construct that does not scale, which is why the engine side is a
# single aggregate-fold projection instead. Bounded (40 docs, text
# truncated to 400 chars) to keep CTE depth ≤ ~385.
_ROBUST_WINNOW_ORACLE = """
WITH RECURSIVE
docs AS (
  SELECT doc_id, substr(text, 1, 400) AS t
  FROM documents WHERE doc_id < 40 AND length(trim(text)) > 0
),
hashes AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(1, length(t) - 15)),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list_transform(split(substr(t, i, 16), ''), c -> ascii(c))),
                  (a, b) -> (a * 31 + b) % 2147483647)
         ) AS hs
  FROM docs
),
st AS (
  SELECT doc_id, hs, greatest(1, len(hs) - 7) AS n_win,
         1 AS win, CAST(NULL AS BIGINT) AS cur_h, CAST(-1 AS BIGINT) AS cur_pos,
         CAST([] AS BIGINT[][]) AS rec
  FROM hashes
  UNION ALL
  SELECT doc_id, hs, n_win, win + 1, new_h, new_pos,
         CASE WHEN keep THEN rec ELSE list_append(rec, [new_h, new_pos]) END
  FROM (
    SELECT *,
           (cur_h IS NOT NULL AND cur_pos >= win AND cur_h = wm_h) AS keep,
           CASE WHEN (cur_h IS NOT NULL AND cur_pos >= win AND cur_h = wm_h)
                THEN cur_h ELSE wm_h END AS new_h,
           CASE WHEN (cur_h IS NOT NULL AND cur_pos >= win AND cur_h = wm_h)
                THEN cur_pos ELSE wm_pos END AS new_pos
    FROM (
      SELECT *,
        list_min(list_slice(hs, win, least(win + 7, len(hs)))) AS wm_h,
        win - 1 + len(list_slice(hs, win, least(win + 7, len(hs))))
          - list_position(list_reverse(list_slice(hs, win, least(win + 7, len(hs)))),
                          list_min(list_slice(hs, win, least(win + 7, len(hs))))) + 1 AS wm_pos
      FROM st WHERE win <= n_win
    )
  )
)
SELECT doc_id,
       CAST(f[1] AS BIGINT) AS fp_hash,
       CAST(f[2] AS INT)    AS fp_pos
FROM (SELECT doc_id, unnest(rec) AS f FROM st WHERE win = n_win + 1)
ORDER BY doc_id, fp_pos
"""


@register("winnow_robust_census", oracle=_ROBUST_WINNOW_ORACLE)
def winnow_robust_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust positional winnowing fingerprints, exploded to (doc_id,
    fp_hash, fp_pos) rows (operators.text.winnow_positional_robust:
    rightmost-min selection kept while it stays minimal — near-optimal
    record density, (t,k) guarantee intact). Hash array staged with
    withColumn (the 30× subexpression trap), fold is one codegen
    projection; the bound exists for the oracle's recursive CTE, not
    the engine."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        (F.col("doc_id") < 40) & (F.length(F.trim(F.col("text"))) > 0)
    )
    staged = docs.select(
        "doc_id", F.substring("text", 1, 400).alias("t")
    ).withColumn("h", rolling_hashes(F.col("t"), k=16))
    rec = staged.select(
        "doc_id", F.explode(winnow_positional_robust(F.col("h"), w=8)).alias("f")
    )
    return rec.select(
        "doc_id", F.col("f.h").alias("fp_hash"), F.col("f.pos").alias("fp_pos")
    ).orderBy("doc_id", "fp_pos")


# --- embedding-cosine near-dup ---------------------------------------

_EMB_NEAR_DUP_ORACLE = f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {norm_sql('embedding::DOUBLE[]')} AS nrm
  FROM embeddings WHERE vec_id < 500
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_sim
FROM c a JOIN c b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
ORDER BY id_a, id_b
"""


@register("embedding_near_dup", oracle=_EMB_NEAR_DUP_ORACLE)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.35 — testdata
    embeddings are isotropic, max pairwise ≈ 0.51; real-corpus dedup
    runs ≥ 0.9). Bounded to a 500-vector candidate set: this is the
    quadratic CONFIRM stage, which at scale runs on LSH/IVF/banding
    candidates, never all-pairs (cosine_near_dup_pairs docstring) —
    exactly as ngram_jaccard_pairs bounds its confirm pass.
    """
    from ocean_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs

    emb = table(spark, sf_dir, "embeddings", spread=True).filter(F.col("vec_id") < 500)
    out = cosine_near_dup_pairs(emb, threshold=0.35)
    return out.select(
        "id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim")
    ).orderBy("id_a", "id_b")


# --- IVF-style similarity (deterministic coarse quantizer) ------------

_SIM_IVF_ORACLE = f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_position(list_transform(embedding::DOUBLE[], x -> abs(x)),
                       list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))) AS cell
  FROM embeddings
),
probes AS (SELECT vec_id, v, cell FROM c WHERE vec_id < 3),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         {cosine_sql('p.v', 'c.v')} AS cosine_sim
  FROM probes p JOIN c ON c.cell = p.cell AND c.vec_id != p.vec_id
),
{topk_sql("scored", 3, "cosine_sim DESC")}"""


@register("sim_topk_ivf", oracle=_SIM_IVF_ORACLE)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell approximate top-3 (operators.similarity.ivf_topk):
    deterministic argmax-|dim| coarse quantizer → candidates are one
    cell, exact cosine re-rank inside it. The oracle-checkable ANN
    path (LSH buckets are model-internal; these cells are pure SQL)."""
    from ocean_data_pipeline_spark.operators.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    return _sim_rows(ivf_topk(emb, probes, k=3))


# --- IVF multi-probe (nearest-2 cells) --------------------------------

_SIM_IVF_MP_ORACLE = f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding::DOUBLE[], x -> abs(x)) AS mags
  FROM embeddings
),
cells AS (
  SELECT vec_id, v, mags, list_position(mags, list_max(mags)) AS cell1 FROM c
),
probe2 AS (
  SELECT vec_id, v, cell1,
         list_position(
           list_transform(generate_series(1, len(mags)),
                          i -> CASE WHEN i = cell1 THEN -1 ELSE mags[CAST(i AS INT)] END),
           list_max(list_transform(generate_series(1, len(mags)),
                          i -> CASE WHEN i = cell1 THEN -1 ELSE mags[CAST(i AS INT)] END))
         ) AS cell2
  FROM cells WHERE vec_id < 3
),
probe_cells AS (
  SELECT vec_id, v, unnest([cell1, cell2]) AS cell FROM probe2
),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         {cosine_sql('p.v', 'c.v')} AS cosine_sim
  FROM probe_cells p JOIN cells c ON c.cell1 = p.cell AND c.vec_id != p.vec_id
),
{topk_sql("scored", 3, "cosine_sim DESC")}"""


@register("sim_topk_ivf_multiprobe", oracle=_SIM_IVF_MP_ORACLE)
def sim_topk_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-3 with 2-cell multi-probe
    (operators.similarity.ivf_topk_multiprobe): each probe searches its
    argmax-|dim| cell AND the runner-up dim's cell — the standard
    recall lever (probed candidate set strictly contains single-probe's,
    so recall can only improve) at 2× the per-probe candidate cost."""
    from ocean_data_pipeline_spark.operators.similarity import ivf_topk_multiprobe

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    return _sim_rows(ivf_topk_multiprobe(emb, probes, k=3))


def _kmeans_frozen_oracle() -> str:
    """DuckDB twin of the frozen-codebook IVF: the SAME committed
    centroid literals (operators.ivf_codebook) are inlined as a VALUES
    list, assignment/probing replicate the argmin-with-lowest-cell
    tie-break, and the squared-distance fold uses the same sequential
    multiply-accumulate order as the Spark expression."""
    from ocean_data_pipeline_spark.operators.ivf_codebook import FROZEN_CENTROIDS

    rows = ",\n  ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(FROZEN_CENTROIDS)
    )
    return f"""
WITH cents(cell, center) AS (VALUES
  {rows}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (
  SELECT e.vec_id, e.v, c.cell,
         list_sum(list_transform(generate_series(1, len(e.v)),
                  i -> (e.v[i] - c.center[i]) * (e.v[i] - c.center[i]))) AS d2
  FROM emb e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, v, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
  FROM d
),
cells AS (SELECT vec_id, v, cell FROM assigned WHERE rn = 1),
probe_cells AS (SELECT vec_id, v, cell FROM assigned WHERE vec_id < 3 AND rn <= 2),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         {cosine_sql('p.v', 'c.v')} AS cosine_sim
  FROM probe_cells p
  JOIN cells c ON c.cell = p.cell AND c.vec_id != p.vec_id
),
{topk_sql("scored", 3, "cosine_sim DESC")}"""


@register("sim_topk_ivf_kmeans", oracle=_kmeans_frozen_oracle())
def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over a FROZEN trained k-means codebook
    (operators.similarity.ivf_topk_frozen + operators.ivf_codebook):
    centroids were trained once (MLlib KMeans, seed 42, sf0.01
    embeddings) and committed as literals — the production pattern
    where the codebook ships as a build artifact. Trained centroids
    adapt to the data, so 2-of-16 probed cells reach ~0.5 recall where
    the argmax-dim quantizer manages ~0.02 (gates in
    tests/test_ivf_recall.py). Freezing makes the pipeline
    deterministic across engines, so the query now carries a full
    DuckDB oracle (same literals inlined) instead of a rows-only
    check. Retraining is offline: tools/freeze_codebook.py rewrites
    the literals."""
    from ocean_data_pipeline_spark.operators.similarity import ivf_topk_frozen

    emb = table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 3)
    return _sim_rows(ivf_topk_frozen(emb, probes, k=3, n_probes=2))


# --- tf-idf (exact, SQL-expressible twin of MLlib HashingTF+IDF) ------

_TFIDF_ORACLE = """
WITH docs_nonempty AS (
  SELECT doc_id, trim(lower(text)) AS t FROM documents WHERE length(trim(text)) > 0
),
n_docs AS (SELECT count(*) AS n FROM docs_nonempty),
tokens AS (
  SELECT doc_id, unnest(regexp_split_to_array(t, '\\s+')) AS token FROM docs_nonempty
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tokens GROUP BY doc_id, token
),
df AS (
  SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tokens) GROUP BY token
),
scored AS (
  SELECT tf.token,
         sum(tf.tf * ln((n.n + 1.0) / (df.df + 1.0))) AS total_tfidf,
         any_value(df.df) AS doc_freq
  FROM tf JOIN df USING (token) CROSS JOIN n_docs n
  GROUP BY tf.token
)
SELECT token, CAST(doc_freq AS BIGINT) AS doc_freq, round(total_tfidf, 4) AS total_tfidf
FROM scored
ORDER BY total_tfidf DESC, token
LIMIT 15
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus tf-idf, top-15 terms by total weight.

    Plan: one explode pass → (doc, token) tf agg → token df agg (both
    map-side partial) → the (n_docs) scalar rides in as a broadcast
    1-row cross join, so the whole query is ONE lazy plan (no separate
    driver-side count job); idf = ln((N+1)/(df+1)) — the smoothed form
    MLlib's IDF uses, computed exactly so the DuckDB oracle
    hash-matches (the MLlib HashingTF path trades exactness for
    fixed-width features; this is its auditable twin)."""
    docs = table(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))  # 1-row frame, stays lazy
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        toks.distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
    )
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    return (
        tf.join(df_, "token")
        .groupBy("token")
        .agg(
            F.first("df").alias("doc_freq"),
            F.sum(F.col("tf") * idf).alias("raw_tfidf"),
        )
        .select("token", "doc_freq", F.round("raw_tfidf", 4).alias("total_tfidf"))
        .orderBy(F.desc("total_tfidf"), F.asc("token"))
        .limit(15)
    )


# --- near-dup clustering: connected components ------------------------

_COMPONENTS_ORACLE = f"""
WITH RECURSIVE
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {norm_sql('embedding::DOUBLE[]')} AS nrm
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
labels AS (SELECT u, min(r) AS component FROM reach GROUP BY u)
SELECT n.vec_id,
       coalesce(l.component, n.vec_id) AS component,
       count(*) OVER (PARTITION BY coalesce(l.component, n.vec_id)) AS n_members
FROM c n LEFT JOIN labels l ON l.u = n.vec_id
ORDER BY vec_id
"""


@register("near_dup_components", oracle=_COMPONENTS_ORACLE)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of embedding near-duplicate evidence: every
    vector gets the id of the smallest member of its duplicate CLUSTER
    (connected component of the cosine ≥ 0.35 pair graph), plus the
    cluster size. This is the step that turns pairwise dedup signals
    into keep-one-representative groups — dropping id_b of every pair
    over-deletes when A≈B≈C but A !≈ C.

    Engine side: operators.components.connected_components — iterative
    min-label propagation, one shuffle per round, O(cluster diameter)
    rounds (near-dup clusters are quasi-cliques, so a handful). The
    DuckDB oracle computes the same closure with a recursive CTE —
    feasible at sf0.01, exactly what does NOT scale, which is why the
    engine side iterates instead of recursing."""
    from ocean_data_pipeline_spark.operators.components import connected_components
    from ocean_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs

    emb = table(spark, sf_dir, "embeddings", spread=True).filter(F.col("vec_id") < 500)
    pairs = cosine_near_dup_pairs(emb, threshold=0.35)
    labels = connected_components(pairs, src="id_a", dst="id_b")
    out = (
        emb.select("vec_id")
        .join(labels, emb.vec_id == labels.id, "left")
        .select(
            "vec_id", F.coalesce("component", F.col("vec_id")).alias("component")
        )
    )
    w = Window.partitionBy("component")
    return (
        out.withColumn("n_members", F.count(F.lit(1)).over(w))
        .orderBy("vec_id")
    )


@register("near_dup_components_star", oracle=_COMPONENTS_ORACLE)
def near_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same closure as near_dup_components, computed by the
    worst-case-safe path: alternating large-star/small-star contraction
    (operators.components.connected_components_star, Kiveris et al.
    SoCC'14) — O(log n) rounds on ANY topology, vs min-label
    propagation's O(diameter). Sharing the recursive-CTE oracle proves
    the two engines' paths agree exactly; the property tests
    (tests/test_components.py) additionally pin the O(log n) round
    bound on an adversarial chain graph."""
    from ocean_data_pipeline_spark.operators.components import (
        connected_components_star,
    )
    from ocean_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs

    emb = table(spark, sf_dir, "embeddings", spread=True).filter(F.col("vec_id") < 500)
    pairs = cosine_near_dup_pairs(emb, threshold=0.35)
    labels = connected_components_star(pairs, src="id_a", dst="id_b")
    out = (
        emb.select("vec_id")
        .join(labels, emb.vec_id == labels.id, "left")
        .select(
            "vec_id", F.coalesce("component", F.col("vec_id")).alias("component")
        )
    )
    w = Window.partitionBy("component")
    return (
        out.withColumn("n_members", F.count(F.lit(1)).over(w))
        .orderBy("vec_id")
    )


# --- dedup on NORMALIZED text ----------------------------------------

_NORM_DEDUP_ORACLE = """
WITH h AS (
  SELECT sha256(text) AS raw_hash,
         sha256(trim(regexp_replace(
             regexp_replace(lower(trim(text)), '[^a-z0-9\\s]', '', 'g'),
             '\\s+', ' ', 'g'))) AS norm_hash
  FROM documents
)
SELECT count(*)                                        AS n_docs,
       count(DISTINCT raw_hash)                        AS n_unique_raw,
       count(DISTINCT norm_hash)                       AS n_unique_norm,
       count(DISTINCT raw_hash) - count(DISTINCT norm_hash) AS n_extra_dups_caught
FROM h
"""


@register("dedup_normalized_documents", oracle=_NORM_DEDUP_ORACLE)
def dedup_normalized_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on CANONICALIZED text (operators.text.normalize_text:
    lowercase, strip punctuation, collapse whitespace) vs raw text —
    the census shows how many trivially-variant copies raw hashing
    misses. Same one-shuffle shape as dedup_exact_documents; the
    normalization is a scan-speed regexp projection."""
    from ocean_data_pipeline_spark.operators.text import normalize_text

    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        F.sha2(F.col("text"), 256).alias("raw_hash"),
        F.sha2(normalize_text(F.col("text")), 256).alias("norm_hash"),
    )
    return h.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("raw_hash").alias("n_unique_raw"),
        F.countDistinct("norm_hash").alias("n_unique_norm"),
        (F.countDistinct("raw_hash") - F.countDistinct("norm_hash")).alias(
            "n_extra_dups_caught"
        ),
    )


# --- repeated n-grams (memorization / contamination metric) -----------

_REPEATED_NGRAMS_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id,
         list_aggregate(list_slice(t, i, i + 7), 'string_agg', ' ') AS gram
  FROM toks, unnest(generate_series(1, greatest(0, len(t) - 7))) AS g(i)
)
SELECT gram,
       count(*)                 AS n_occurrences,
       count(DISTINCT doc_id)   AS n_docs
FROM grams
GROUP BY gram
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occurrences DESC, gram
LIMIT 20
"""


@register("repeated_ngrams", oracle=_REPEATED_NGRAMS_ORACLE)
def repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top cross-document repeated 8-grams — the memorization /
    boilerplate signal a training pipeline monitors (passages repeated
    across many documents get memorized; Lee et al. '21 dedups them
    outright). Token windows come from one array projection (slice
    over a staged token array, no per-window re-split), explode feeds
    a partial-aggregated count: the shuffle carries (gram, partial
    counts), never raw text. spread=True for the degenerate
    one-row-group scan."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    # Guard sub-8-token docs: Spark's sequence(1, 0) DESCENDS ([1, 0])
    # where DuckDB's generate_series(1, 0) is empty — without the
    # filter, a short doc would explode a bogus slice(t, 0, 8).
    grams = toks.filter(F.size("t") >= 8).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - F.lit(7)),
                lambda i: F.array_join(F.slice(F.col("t"), i, 8), " "),
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(20)
    )


# --- corpus curation funnel (composite) -------------------------------

_FUNNEL_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, text,
         length(trim(text)) > 0 AS nonempty,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         {_oracle_stopword_hits('en')} AS en_hits,
         {_oracle_stopword_hits('de')} AS de_hits,
         {_oracle_stopword_hits('fr')} AS fr_hits,
         {_oracle_stopword_hits('es')} AS es_hits,
         round(greatest(0.0,
           least(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) / 100.0)
           * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS DOUBLE)
                  / greatest(length(text), 1))), 6) AS quality,
         sha256(trim(regexp_replace(
             regexp_replace(lower(trim(text)), '[^a-z0-9\\s]', '', 'g'),
             '\\s+', ' ', 'g'))) AS norm_hash
  FROM documents
),
staged AS (
  SELECT *,
         nonempty AND greatest(en_hits, de_hits, fr_hits, es_hits) > 0 AS lang_known,
         nonempty AND greatest(en_hits, de_hits, fr_hits, es_hits) > 0
           AND quality >= 0.3 AS quality_ok,
         nonempty AND greatest(en_hits, de_hits, fr_hits, es_hits) > 0
           AND quality >= 0.3 AND n_tokens BETWEEN 50 AND 10000 AS length_ok
  FROM feats
)
SELECT count(*)                                             AS n_total,
       CAST(sum(CASE WHEN nonempty THEN 1 ELSE 0 END) AS BIGINT)   AS n_nonempty,
       CAST(sum(CASE WHEN lang_known THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_known,
       CAST(sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
       CAST(sum(CASE WHEN length_ok THEN 1 ELSE 0 END) AS BIGINT)  AS n_length_ok,
       count(DISTINCT CASE WHEN length_ok THEN norm_hash END)      AS n_unique_kept
FROM staged
"""


@register("corpus_curation_funnel", oracle=_FUNNEL_ORACLE)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus CURATION funnel, as one query: raw docs →
    non-empty → language identified → quality-scored → length-bounded
    → normalized-dedup survivors. Composes the individually-verified
    featurizers (operators.text: predicted_lang via stopword argmax,
    quality_score, token_count, normalize_text) into the count-per-
    stage report every training-data pipeline publishes. One scan, all
    stages as conditional aggregates — no per-stage passes; the only
    non-trivial state is the distinct normalized hash among survivors,
    one shuffle on the hash."""
    from ocean_data_pipeline_spark.operators.text import normalize_text

    docs = table(spark, sf_dir, "documents")
    hits = [stopword_hits(F.lower(F.col("text")), lang) for lang in ("en", "de", "fr", "es")]
    feats = docs.select(
        F.length(F.trim(F.col("text"))).__gt__(0).alias("nonempty"),
        token_count(F.col("text")).alias("n_tokens"),
        F.greatest(*hits).alias("max_hits"),
        quality_score(F.col("text")).alias("quality"),
        F.sha2(normalize_text(F.col("text")), 256).alias("norm_hash"),
    )
    staged = feats.select(
        "nonempty",
        "norm_hash",
        (F.col("nonempty") & (F.col("max_hits") > 0)).alias("lang_known"),
        (F.col("nonempty") & (F.col("max_hits") > 0) & (F.col("quality") >= 0.3)).alias(
            "quality_ok"
        ),
        (
            F.col("nonempty")
            & (F.col("max_hits") > 0)
            & (F.col("quality") >= 0.3)
            & F.col("n_tokens").between(50, 10000)
        ).alias("length_ok"),
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("nonempty"), 1).otherwise(0)).alias("n_nonempty"),
        F.sum(F.when(F.col("lang_known"), 1).otherwise(0)).alias("n_lang_known"),
        F.sum(F.when(F.col("quality_ok"), 1).otherwise(0)).alias("n_quality_ok"),
        F.sum(F.when(F.col("length_ok"), 1).otherwise(0)).alias("n_length_ok"),
        F.countDistinct(F.when(F.col("length_ok"), F.col("norm_hash"))).alias(
            "n_unique_kept"
        ),
    )


# --- benchmark decontamination (probe-targeted n-gram overlap) --------

_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id,
         list_aggregate(list_slice(t, i, i + 7), 'string_agg', ' ') AS gram
  FROM toks, unnest(generate_series(1, greatest(0, len(t) - 7))) AS g(i)
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 10),
hits AS (
  SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_grams
  FROM grams g JOIN bench b USING (gram)
  WHERE g.doc_id >= 10
  GROUP BY g.doc_id
)
SELECT doc_id, n_shared_grams
FROM hits
ORDER BY n_shared_grams DESC, doc_id
LIMIT 50
"""


@register("benchmark_decontamination", oracle=_DECONTAM_ORACLE)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination against a benchmark probe set
    (GPT-3 appendix-C style: flag training docs sharing 8-grams with
    eval data; here docs 0-9 stand in as the "benchmark"). Differs
    from `repeated_ngrams` (corpus-wide census) in being PROBE-
    TARGETED: the benchmark's distinct 8-grams are a small relation,
    BROADCAST against the corpus gram stream, so the corpus side is
    one explode + hash-join + partial agg — no shuffle of raw text and
    no all-pairs stage at any scale; the probe set stays broadcastable
    because real benchmarks are tiny relative to a 100 TB corpus.
    Same tokenization as repeated_ngrams (incl. the sequence(1,0)
    descending-range guard)."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    grams = toks.filter(F.size("t") >= 8).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - F.lit(7)),
                lambda i: F.array_join(F.slice(F.col("t"), i, 8), " "),
            )
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") < 10).select("gram").distinct()
    return (
        grams.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
        .orderBy(F.desc("n_shared_grams"), F.asc("doc_id"))
        .limit(50)
    )


# --- corpus source-mixture report -------------------------------------

_MIXTURE_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, lang,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
),
grp AS (
  SELECT source, lang,
         count(DISTINCT doc_id) AS n_docs,
         count(*)               AS n_tokens,
         count(DISTINCT token)  AS n_distinct_tokens
  FROM toks GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens, n_distinct_tokens,
       round(n_tokens / n_docs, 4)                        AS avg_doc_tokens,
       round(n_tokens / sum(n_tokens) OVER (), 6)         AS token_share
FROM grp
ORDER BY source, lang
"""


@register("source_mixture_report", oracle=_MIXTURE_ORACLE)
def source_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, lang) corpus mixture profile — the report a
    training pipeline reads before assigning source sampling weights:
    document/token volumes, lexical diversity (distinct tokens), and
    each cell's share of total corpus tokens. All counts are exact
    integers; the two ratios are single bigint/bigint divisions
    (deterministic IEEE doubles on both engines) so the oracle
    hash-matches without float-sum ordering hazards. One explode + one
    partial-agged groupBy; the share denominator is a window over the
    99-row aggregate, not the data."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    )
    grp = toks.groupBy("source", "lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct_tokens"),
    )
    total = Window.partitionBy()
    return grp.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "n_distinct_tokens",
        F.round(F.col("n_tokens") / F.col("n_docs"), 4).alias("avg_doc_tokens"),
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(total), 6).alias(
            "token_share"
        ),
    ).orderBy("source", "lang")


# --- product-quantization ANN (frozen codebooks) ----------------------


def _pq_frozen_oracle() -> str:
    """DuckDB twin of the frozen-codebook PQ scan: the SAME committed
    sub-centroid literals (operators.pq_codebook) are inlined as a
    VALUES list; encode replicates the argmin-with-lowest-code
    tie-break, reconstruction concatenates the chosen sub-centroids in
    subspace order, and the asymmetric distance is rounded to 6
    decimals BEFORE ranking on both engines."""
    from ocean_data_pipeline_spark.operators.pq_codebook import (
        PQ_CODEBOOKS,
        PQ_SUBDIM,
    )

    rows = ",\n  ".join(
        "({}, {}, [{}]::DOUBLE[])".format(m, code, ", ".join(repr(x) for x in c))
        for m, book in enumerate(PQ_CODEBOOKS)
        for code, c in enumerate(book)
    )
    return f"""
WITH books(m, code, center) AS (VALUES
  {rows}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
subs AS (
  SELECT e.vec_id, t.m, list_slice(e.v, t.m * {PQ_SUBDIM} + 1, (t.m + 1) * {PQ_SUBDIM}) AS sv
  FROM emb e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) t
),
d AS (
  SELECT s.vec_id, s.m, b.code, b.center,
         list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),
                  i -> (s.sv[i] - b.center[i]) * (s.sv[i] - b.center[i]))) AS d2
  FROM subs s JOIN books b ON b.m = s.m
),
chosen AS (
  SELECT vec_id, m, center,
         row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
  FROM d
),
xhat AS (
  SELECT vec_id, flatten(list(center ORDER BY m)) AS xh
  FROM chosen WHERE rn = 1 GROUP BY vec_id
),
probes AS (SELECT vec_id AS probe_id, v AS pv FROM emb WHERE vec_id < 3),
scored AS (
  SELECT p.probe_id, x.vec_id AS neighbor_id,
         round(list_sum(list_transform(generate_series(1, 64),
               i -> (p.pv[i] - x.xh[i]) * (p.pv[i] - x.xh[i]))), 6) AS approx_d2
  FROM probes p CROSS JOIN xhat x
  WHERE x.vec_id != p.probe_id
),
{topk_sql("scored", 5, "approx_d2")}"""


@register("sim_topk_pq", oracle=_pq_frozen_oracle())
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN over FROZEN sub-codebooks
    (operators.similarity.pq_topk_frozen + operators.pq_codebook):
    64-dim vectors encode to 8 nibble codes (32x compression), probes
    rank the corpus by asymmetric distance against the reconstructed
    x̂. The scan reads 8 bytes/candidate instead of 256 — the memory
    math that makes exhaustive re-rank feasible at 100 TB; at cluster
    scale the same encode composes with IVF cell routing. Freezing the
    codebooks (numpy Lloyd, seed 42, committed literals) makes
    encode + ADC deterministic, so the query carries a full DuckDB
    oracle. Recall/compression gates: tests/test_pq.py."""
    from ocean_data_pipeline_spark.operators.similarity import pq_topk_frozen

    emb = table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 3)
    return pq_topk_frozen(emb, probes, k=5).select(
        "probe_id", "neighbor_id", "approx_d2", "rank"
    )


# --- span-level dedup census (line-dedup analog) ----------------------

_SPAN_DEDUP_ORACLE = """
WITH docs AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
),
idx AS (
  SELECT doc_id, source, toks,
         unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS i
  FROM docs
),
spans AS (
  SELECT doc_id, source,
         array_to_string(list_slice(toks, i * 16 + 1, i * 16 + 16), ' ') AS span
  FROM idx
),
census AS (
  SELECT span, count(DISTINCT doc_id) AS n_docs_span
  FROM spans GROUP BY span
),
tagged AS (
  SELECT s.doc_id, s.source, c.n_docs_span
  FROM spans s JOIN census c USING (span)
)
SELECT source,
       count(DISTINCT doc_id)                               AS n_docs,
       count(*)                                             AS n_spans,
       CAST(sum(CASE WHEN n_docs_span > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(CAST(sum(CASE WHEN n_docs_span > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6)                                 AS dup_fraction
FROM tagged
GROUP BY source
ORDER BY source
"""


@register("span_dedup_census", oracle=_SPAN_DEDUP_ORACLE)
def span_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup census — the line-dedup stage of CCNet /
    RefinedWeb-style curation re-expressed for flat word-stream docs:
    each document splits into non-overlapping 16-token spans, and a
    span occurring in more than one distinct document counts as
    duplicated mass. Reports per-source duplication pressure (the
    signal that decides which crawl sources need span-level rewriting
    rather than whole-doc dropping).

    Plan shape: one narrow map builds the span array (sequence +
    slice, no Python), one explode, one shuffle on the span string for
    the corpus-wide census, one shuffle equi-join back to occurrences,
    and a partial-agg rollup to sources. At 100 TB hash the span
    (sha2) into the join key instead of the raw string to cut shuffle
    bytes — semantics identical, documented here rather than applied
    so the oracle stays readable."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            "source",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
        )
    )
    n_spans = F.ceil(F.size("toks") / F.lit(16.0)).cast("int")
    spans = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(F.slice(F.col("toks"), i * 16 + 1, 16), " "),
            )
        ).alias("span"),
    )
    census = spans.groupBy("span").agg(
        F.countDistinct("doc_id").alias("n_docs_span")
    )
    tagged = spans.join(census, "span")
    dup = F.sum(F.when(F.col("n_docs_span") > 1, 1).otherwise(0))
    return (
        tagged.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
            dup.cast("bigint").alias("n_dup_spans"),
            F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias("dup_fraction"),
        )
        .orderBy("source")
    )


# --- quality-decile filtering -----------------------------------------

_QUALITY_DECILE_ORACLE = """
WITH per_doc AS (
  SELECT doc_id, lang,
    round(greatest(0.0,
      least(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) / 100.0)
      * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1))), 6) AS score
  FROM documents
),
ranked AS (
  SELECT lang, doc_id, score,
         ntile(10) OVER (PARTITION BY lang ORDER BY score, doc_id) AS decile
  FROM per_doc
)
SELECT lang,
       count(*)                                         AS n_docs,
       CAST(sum(CASE WHEN decile >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN decile >= 2
                           THEN CAST(score AS DECIMAL(18,6)) END) AS DOUBLE)
             / sum(CASE WHEN decile >= 2 THEN 1 ELSE 0 END), 4) AS avg_kept_score,
       min(CASE WHEN decile >= 2 THEN score END)        AS min_kept_score
FROM ranked
GROUP BY lang
ORDER BY lang
"""


@register("quality_decile_filter", oracle=_QUALITY_DECILE_ORACLE)
def quality_decile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based quality filtering: drop each language's bottom
    quality decile (the Gopher/FineWeb 'remove the worst X% per
    bucket' curation move, made deterministic by the (score, doc_id)
    ntile order). Reports retention + post-filter score profile per
    language.

    Plan shape: per-doc score is a narrow map; ntile shuffles once on
    lang (per-lang sorted window). At 100 TB replace the exact ntile
    with approx_percentile cutoffs per lang (one pass, no full sort) —
    same retention semantics to within sketch error; the exact window
    keeps the oracle value-exact here."""
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", "lang", quality_score(F.col("text")).alias("score")
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    ranked = per_doc.withColumn("decile", F.ntile(10).over(w))
    kept = F.when(F.col("decile") >= 2, F.lit(1)).otherwise(F.lit(0))
    kept_score = F.when(F.col("decile") >= 2, F.col("score").cast("decimal(18,6)"))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.round(
                F.sum(kept_score).cast("double") / F.sum(kept), 4
            ).alias("avg_kept_score"),
            F.min(F.when(F.col("decile") >= 2, F.col("score"))).alias("min_kept_score"),
        )
        .orderBy("lang")
    )


# --- Zipf rank-frequency slope ----------------------------------------

_ZIPF_ORACLE = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
),
freq AS (
  SELECT token, count(*) AS n FROM toks GROUP BY token
),
ranked AS (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token) AS rnk
  FROM freq
)
SELECT count(*)                                    AS n_tokens_fit,
       round(regr_slope(ln(n), ln(rnk)), 4)        AS zipf_slope,
       round(regr_r2(ln(n), ln(rnk)), 4)           AS fit_r2,
       max(n)                                      AS top_freq
FROM ranked WHERE rnk <= 200
"""


@register("zipf_token_slope", oracle=_ZIPF_ORACLE)
def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostics: fit ln(freq) ~ ln(rank) over
    the 200 most frequent tokens (row_number with a token tie-break so
    the ranking is engine-stable). A natural-language corpus sits near
    slope −1; synthetic or templated text drifts shallow — a cheap
    corpus-health signal for a training-data pipeline.

    Plan shape: token census (one shuffle, partial aggs), then the
    200-token head is taken with orderBy+limit — TakeOrderedAndProject,
    per-partition top-k merged at the driver-side reducer, never a
    global sort of the vocabulary — and only those 200 rows see a
    window. regr_slope/regr_r2 run as single JVM aggregates, rounded
    to 4 decimals so the fit never hinges on float summation order."""
    docs = table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    head = freq.orderBy(F.desc("n"), F.asc("token")).limit(200)
    w = Window.partitionBy().orderBy(F.desc("n"), F.asc("token"))
    ranked = head.withColumn("rnk", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_tokens_fit"),
        F.round(F.regr_slope(F.log(F.col("n")), F.log(F.col("rnk"))), 4).alias(
            "zipf_slope"
        ),
        F.round(F.regr_r2(F.log(F.col("n")), F.log(F.col("rnk"))), 4).alias("fit_r2"),
        F.max("n").alias("top_freq"),
    )


# --- unigram-LM perplexity filtering ----------------------------------

_PERPLEXITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
),
census AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
total AS (SELECT sum(c) AS t FROM census),
per_doc AS (
  SELECT doc_id, any_value(source) AS source,
         round(-sum(ln(CAST(c AS DOUBLE) / t)) / count(*), 6) AS nll
  FROM toks JOIN census USING (token) CROSS JOIN total
  GROUP BY doc_id
)
SELECT source,
       count(*)                                      AS n_docs,
       round(CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
                                                     AS avg_nll,
       max(nll)                                      AS max_nll,
       CAST(sum(CASE WHEN nll > 3.41 THEN 1 ELSE 0 END) AS BIGINT)
                                                     AS n_flagged
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register("perplexity_filter_unigram", oracle=_PERPLEXITY_ORACLE)
def perplexity_filter_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering with a corpus-trained unigram
    LM: score every document by its mean token negative-log-likelihood
    under the corpus unigram distribution and flag the high-NLL tail
    (here a fixed 3.41 cutoff ≈ the corpus p90; production swaps in a
    KenLM scored the same way). High-NLL docs are the off-distribution
    candidates a curation pipeline routes to review or drop.

    Plan shape: one token census shuffle builds the LM; the corpus
    total broadcasts as a 1-row frame (no driver collect); token→prob
    resolves through an equi-join on the census (broadcast-able —
    vocabulary scale, not corpus scale); per-doc NLL is one partial
    agg. Per-doc scores round to 6 decimals before the decimal-exact
    source rollup, so no cross-engine float-sum-order hazard."""
    docs = table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    )
    census = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = census.agg(F.sum("c").alias("t"))
    lm = census.crossJoin(F.broadcast(total))
    per_doc = (
        toks.join(lm, "token")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.round(
                -F.sum(F.log(F.col("c").cast("double") / F.col("t")))
                / F.count(F.lit(1)),
                6,
            ).alias("nll"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_nll"),
            F.max("nll").alias("max_nll"),
            F.sum(F.when(F.col("nll") > 3.41, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


# --- per-label centroids + nearest-centroid assignment ----------------

_CENTROID_CONFUSION_ORACLE = """
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT e.vec_id, e.label, t.i AS dim, e.v[t.i] AS val
  FROM emb e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
),
cent_dims AS (
  SELECT label, dim, round(avg(val), 6) AS cv
  FROM dims GROUP BY label, dim
),
cents AS (
  SELECT label AS c_label, list(cv ORDER BY dim) AS center
  FROM cent_dims GROUP BY label
),
assigned AS (
  SELECT e.vec_id, e.label, c.c_label,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                    i -> (e.v[i] - c.center[i]) * (e.v[i] - c.center[i]))), 6),
                    c.c_label) AS rn
  FROM emb e CROSS JOIN cents c
)
SELECT label AS true_label, c_label AS assigned_label, count(*) AS n_vecs
FROM assigned WHERE rn = 1
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("label_centroid_confusion", oracle=_CENTROID_CONFUSION_ORACLE)
def label_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-bucketing fidelity check: compute each label's mean
    embedding (the per-class centroid a mixture-balancing pipeline
    clusters against), assign every vector to its nearest centroid,
    and report the true-vs-assigned confusion counts. The diagonal
    mass tells you whether embedding-space clusters line up with the
    labels before you trust centroid routing at corpus scale.

    Plan shape: centroids come from ONE posexplode + (label, dim)
    partial agg — the distributed elementwise mean, no vectors ever
    collected; the 10-row centroid relation broadcasts, so assignment
    is a map-side argmin (distances and centroid components rounded to
    6 before comparison, ties to the lowest label — engine-stable).
    At 100 TB this is exactly the e-step of distributed k-means:
    linear, one shuffle of scalar (label, dim, val) triples."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = emb.select(
        "vec_id", "label", F.posexplode("v").alias("dim0", "val")
    ).select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "val")
    cent_dims = dims.groupBy("label", "dim").agg(F.round(F.avg("val"), 6).alias("cv"))
    cents = cent_dims.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
        ).alias("center")
    )
    from ocean_data_pipeline_spark.operators.similarity import l2_sq

    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "c_label",
        F.round(l2_sq(F.col("v"), F.col("center")), 6).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("label").alias("true_label"), F.col("c_label").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("true_label", "assigned_label")
    )


# --- character-bigram entropy (templated-text detector) ---------------

_CHAR_ENTROPY_ORACLE = """
WITH docs AS (
  SELECT doc_id, source, text FROM documents WHERE length(text) >= 2
),
bigrams AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, length(text) - 1),
                               i -> substr(text, i, 2))) AS bg
  FROM docs
),
counts AS (
  SELECT doc_id, any_value(source) AS source, bg, count(*) AS c
  FROM bigrams GROUP BY doc_id, bg
),
per_doc AS (
  SELECT doc_id, any_value(source) AS source,
         round(ln(sum(c)) - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
  FROM counts GROUP BY doc_id
)
SELECT source,
       count(*) AS n_docs,
       round(CAST(sum(CAST(entropy AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
                                           AS avg_entropy,
       min(entropy)                        AS min_entropy,
       max(entropy)                        AS max_entropy
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register("char_entropy_quality", oracle=_CHAR_ENTROPY_ORACLE)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram Shannon entropy per document, profiled per
    source — the templated/boilerplate-text detector (machine-
    generated and highly-repetitive docs sit far below natural-text
    entropy; a curation pipeline drops or down-weights the low tail).

    Uses the algebraic form H = ln(n) − Σc·ln(c)/n so the only
    non-integer inputs are ln of exact integers — one log per DISTINCT
    bigram, no probability divisions inside the sum. Per-doc entropies
    round to 6 before the decimal-exact source rollup. Plan: explode →
    (doc, bigram) census → per-doc partial agg — two shuffles, both on
    keys that grow with corpus size (no global state)."""
    # spread=True: ~len(text) substr calls per row before the census
    # shuffle; don't serialize them on a one-row-group scan.
    docs = table(spark, sf_dir, "documents", spread=True).filter(F.length("text") >= 2)
    bigrams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 1),
                lambda i: F.col("text").substr(i, F.lit(2)),
            )
        ).alias("bg"),
    )
    counts = bigrams.groupBy("doc_id", "bg").agg(
        F.first("source").alias("source"), F.count(F.lit(1)).alias("c")
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.round(
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c"),
            6,
        ).alias("entropy"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("entropy").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_entropy"),
            F.min("entropy").alias("min_entropy"),
            F.max("entropy").alias("max_entropy"),
        )
        .orderBy("source")
    )


# --- contamination n-gram sensitivity sweep ---------------------------


def _contam_block(n: int) -> str:
    return f"""
  SELECT {n} AS ngram_n,
         count(DISTINCT g.doc_id)  AS n_flagged_docs,
         count(DISTINCT g.gram)    AS n_shared_grams
  FROM (
    SELECT doc_id,
           list_aggregate(list_slice(t, i, i + {n - 1}), 'string_agg', ' ') AS gram
    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0) toks,
         unnest(generate_series(1, greatest(0, len(t) - {n - 1}))) AS gidx(i)
  ) g
  JOIN (
    SELECT DISTINCT gram FROM (
      SELECT list_aggregate(list_slice(t, i, i + {n - 1}), 'string_agg', ' ') AS gram
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
            FROM documents WHERE length(trim(text)) > 0 AND doc_id < 10) toks,
           unnest(generate_series(1, greatest(0, len(t) - {n - 1}))) AS gidx(i)
    )
  ) b USING (gram)
  WHERE g.doc_id >= 10
"""


_CONTAM_SWEEP_ORACLE = (
    _contam_block(4) + "UNION ALL" + _contam_block(8) + "UNION ALL" + _contam_block(13)
    + "ORDER BY ngram_n"
)


@register("contamination_ngram_sweep", oracle=_CONTAM_SWEEP_ORACLE)
def contamination_ngram_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination threshold sensitivity: re-run the benchmark-
    overlap check (`benchmark_decontamination`) at n = 4, 8, 13 —
    the WMDP/GPT-3 spectrum — and report how many corpus docs and
    distinct grams each n flags. Short n over-flags (common phrases),
    long n under-flags (paraphrase slips through); the sweep is how a
    pipeline picks its n before committing to a scrub.

    Plan shape per n: probe grams (doc_id < 10) are DISTINCT'd then
    BROADCAST against the corpus gram stream — the corpus is never
    shuffled for the join; the three sweeps union. At 100 TB the three
    passes share one tokenization via a multi-n gram explode; kept
    separate here so each stage mirrors the production single-n scrub
    exactly."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )

    def sweep(n: int) -> DataFrame:
        # docs shorter than n yield no grams: filter BEFORE sequence —
        # Spark's sequence(1, 0) is a DESCENDING range, not empty
        # (DuckDB's generate_series(1, 0) IS empty); see repeated_ngrams.
        grams = toks.filter(F.size("t") >= n).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (n - 1)),
                    lambda i: F.array_join(F.slice(F.col("t"), i, n), " "),
                )
            ).alias("gram"),
        )
        bench = grams.filter(F.col("doc_id") < 10).select("gram").distinct()
        return (
            grams.filter(F.col("doc_id") >= 10)
            .join(F.broadcast(bench), "gram")
            .agg(
                F.lit(n).alias("ngram_n"),
                F.countDistinct("doc_id").alias("n_flagged_docs"),
                F.countDistinct("gram").alias("n_shared_grams"),
            )
            .select("ngram_n", "n_flagged_docs", "n_shared_grams")
        )

    return sweep(4).unionByName(sweep(8)).unionByName(sweep(13)).orderBy("ngram_n")


# --- audio/video container metadata ----------------------------------

_AV_METADATA_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(8000 + 100 * (doc_id % 80) AS INT) END AS sample_rate,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(1 + ((doc_id // 2) % 2) AS INT) END AS channels,
       CASE WHEN doc_id % 2 = 0 THEN CAST(16 AS INT) END AS bit_depth,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(32 + doc_id % 64 AS BIGINT) END AS n_samples,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(floor((32 + doc_id % 64) * 1000.0
                            / (8000 + 100 * (doc_id % 80))) AS BIGINT)
            ELSE CAST(250 * (1 + doc_id % 40) AS BIGINT) END AS duration_ms
FROM documents ORDER BY doc_id
"""


@register("multimodal_av_metadata", oracle=_AV_METADATA_ORACLE)
def multimodal_av_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video metadata decode with REAL container parsing:
    deterministic synthetic WAV (RIFF chunk walk — fmt/data chunks,
    little-endian, odd-size padding) and MP4 (ISO-BMFF box walk —
    ftyp, moov→mvhd v0 timescale/duration, big-endian) payloads flow
    as opaque binary through Arrow-batched mapInPandas, and
    `parse_av_header` (operators/multimodal.py) reads sample rate /
    channels / bit depth / sample count / duration back from the
    bytes at spec offsets. The oracle recomputes every field
    arithmetically from doc_id — a parser that misreads an offset,
    endianness, or the RIFF padding rule hash-mismatches. Sample
    decode stays codec-gated exactly like pixels (`decode_pixels`).

    The filtering use-case this feeds: duration/sample-rate/channel
    censuses are how an audio-video curation pipeline drops
    out-of-spec media before the expensive decode stage."""
    from ocean_data_pipeline_spark.operators.multimodal import (
        extract_av_metadata,
        pack_synthetic_av,
    )

    docs = table(spark, sf_dir, "documents")
    packed = pack_synthetic_av(docs, "doc_id")
    return extract_av_metadata(packed).orderBy("doc_id")


# --- source-mixture distribution drift (Jensen-Shannon) ---------------

_JSD_ORACLE = f"""
WITH toks AS (
  SELECT source, tok
  FROM (
    SELECT source,
           unnest(regexp_split_to_array(trim(regexp_replace(
             regexp_replace(lower(trim(text)), '[^a-z0-9\\s]', '', 'g'),
             '\\s+', ' ', 'g')), ' ')) AS tok
    FROM documents WHERE length(trim(text)) > 0
  ) t
  WHERE length(tok) > 0
),
st AS (SELECT source, tok, count(*) AS n_st FROM toks GROUP BY 1, 2),
tt AS (SELECT tok, count(*) AS n_t FROM toks GROUP BY 1),
ss AS (SELECT source, count(*) AS n_s FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS n FROM toks),
grid AS (
  SELECT s.source, t.tok, coalesce(c.n_st, 0) AS n_st, t.n_t, s.n_s, g.n
  FROM ss s
  CROSS JOIN tt t
  LEFT JOIN st c ON c.source = s.source AND c.tok = t.tok
  CROSS JOIN tot g
),
terms AS (
  SELECT source, n_s,
         (CASE WHEN n_st > 0 THEN
            0.5 * (CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                * ln((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                     / (0.5 * (CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE)
                        + CAST(n_t - n_st AS DOUBLE) / CAST(n - n_s AS DOUBLE))))
          ELSE 0.0 END)
         +
         (CASE WHEN n_t - n_st > 0 THEN
            0.5 * (CAST(n_t - n_st AS DOUBLE) / CAST(n - n_s AS DOUBLE))
                * ln((CAST(n_t - n_st AS DOUBLE) / CAST(n - n_s AS DOUBLE))
                     / (0.5 * (CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE)
                        + CAST(n_t - n_st AS DOUBLE) / CAST(n - n_s AS DOUBLE))))
          ELSE 0.0 END) AS term
  FROM grid
)
SELECT source,
       CAST(min(n_s) AS BIGINT) AS n_tokens,
       CAST(sum({vd("term", 18, 12)}) AS DOUBLE)
         AS jsd_vs_rest
FROM terms
GROUP BY source
ORDER BY source
"""


@register("token_js_divergence", oracle=_JSD_ORACLE)
def token_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and the REST of the corpus — the corpus-mixing
    diagnostic (which source is distributionally distinct → reweight
    or investigate before training). Leave-one-out rest counts come
    from the token totals (n_t - n_st), so ONE token census serves all
    20 sources; the source×vocab grid is vocabulary-bounded (the same
    posture as the PMI collocation and Naive-Bayes models). Terms are
    fixed IEEE chains; the per-source total rounds each term through
    its shortest string repr into DECIMAL(18,12) (order-free reduction
    device, `psi_drift_price`), absorbing any sub-1e-12 libm drift."""
    from ocean_data_pipeline_spark.operators.text import (
        normalize_text as _norm_text,
    )

    docs = table(spark, sf_dir, "documents", spread=True).where(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = (
        docs.select(
            "source",
            F.explode(F.split(_norm_text(F.col("text")), " ")).alias("tok"),
        )
        .where(F.length("tok") > 0)
    )
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n_st"))
    tt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_t"))
    ss = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        ss.crossJoin(F.broadcast(tt))
        .join(st, ["source", "tok"], "left")
        .withColumn("n_st", F.coalesce(F.col("n_st"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    p_s = F.col("n_st").cast("double") / F.col("n_s").cast("double")
    p_r = F.try_divide(
        (F.col("n_t") - F.col("n_st")).cast("double"), (F.col("n") - F.col("n_s")).cast("double")
    )
    m = F.lit(0.5) * (p_s + p_r)
    term = (
        F.when(F.col("n_st") > 0, F.lit(0.5) * p_s * F.log(p_s / m)).otherwise(0.0)
        + F.when(
            (F.col("n_t") - F.col("n_st")) > 0, F.lit(0.5) * p_r * F.log(p_r / m)
        ).otherwise(0.0)
    )
    return (
        grid.select("source", "n_s", term.alias("term"))
        .groupBy("source")
        .agg(
            F.min("n_s").cast("bigint").alias("n_tokens"),
            F.sum(F.col("term").cast("string").cast("decimal(18,12)"))
            .cast("double")
            .alias("jsd_vs_rest"),
        )
        .orderBy("source")
    )


# --- deterministic hyperplane LSH (oracle-backed) ----------------------

_HPLSH_ORACLE = f"""
WITH dims AS (SELECT CAST(unnest(generate_series(1, 64)) AS INT) AS d),
planes AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS p),
weights AS (
  SELECT p.p, dm.d,
         {hash_int_sql("'hp:' || CAST(p.p AS VARCHAR) || ':' || CAST(dm.d AS VARCHAR)", 6)}
           - 8388608 AS w
  FROM planes p CROSS JOIN dims dm
),
comps AS (
  SELECT e.vec_id, dm.d,
         CAST(floor(CAST(list_extract(e.embedding, dm.d) AS DOUBLE)
                    * 1000000) AS BIGINT) AS q
  FROM embeddings e CROSS JOIN dims dm
),
dots AS (
  SELECT c.vec_id, w.p, CAST(sum(c.q * w.w) AS BIGINT) AS dot
  FROM comps c JOIN weights w ON w.d = c.d
  GROUP BY c.vec_id, w.p
),
sigs AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
              AS INT) AS bucket
  FROM dots GROUP BY vec_id
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
       min(vec_id) AS min_vec_id
FROM sigs
GROUP BY bucket
ORDER BY bucket
"""


@register("hyperplane_lsh_census", oracle=_HPLSH_ORACLE)
def hyperplane_lsh_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection (hyperplane) LSH over the embedding
    table with FULLY DETERMINISTIC arithmetic — the oracle-backed twin
    of the MLlib BucketedRandomProjectionLSH path (rows-only by
    nature): hyperplane weights come from the salted-sha256 portable
    RNG, embedding components are floor-quantized to 1e-6 (float →
    double is exact widening; floor rounds identically on both
    engines), so every 64-term dot product is PURE BIGINT arithmetic —
    order-free, no float-summation hazard at all. 8 sign bits pack
    into a bucket id; near-duplicate vectors collide (the candidate
    stage of cosine dedup). Scale: weights are a broadcast 512-row
    relation; the component explode is one narrow shuffle per vector
    batch, and the census is a partial agg."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = spark.range(1, 65).select(F.col("id").cast("int").alias("d"))
    planes = spark.range(0, 8).select(F.col("id").cast("int").alias("p"))
    weights = planes.crossJoin(dims).select(
        "p",
        "d",
        (
            hash_int(
                F.concat(
                    F.lit("hp:"),
                    F.col("p").cast("string"),
                    F.lit(":"),
                    F.col("d").cast("string"),
                ),
                6,
            )
            - F.lit(8388608)
        ).alias("w"),
    )
    comps = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("d0", "v"),
    ).select(
        "vec_id",
        (F.col("d0") + 1).cast("int").alias("d"),
        F.floor(F.col("v").cast("double") * 1000000).cast("bigint").alias("q"),
    )
    dots = (
        comps.join(F.broadcast(weights), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("q") * F.col("w")).cast("bigint").alias("dot"))
    )
    sigs = dots.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("dot") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)")
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .cast("int")
        .alias("bucket")
    )
    return (
        sigs.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("bucket")
    )


# --- hard-negative mining (contrastive training pairs) ----------------

_HARD_NEG_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
anchors AS (SELECT vec_id, label, v FROM corpus WHERE vec_id < 200),
scored AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         c.vec_id AS negative_id, c.label AS negative_label,
         {cosine_sql('a.v', 'c.v')} AS cosine_sim
  FROM anchors a JOIN corpus c ON c.label != a.label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cosine_sim DESC, negative_id) AS rank
  FROM scored
)
SELECT anchor_id, anchor_label, negative_id, negative_label,
       round(cosine_sim, 6) AS cosine_sim, rank
FROM ranked WHERE rank <= 3
ORDER BY anchor_id, rank
"""


@register("hard_negative_mining", oracle=_HARD_NEG_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch-
    negatives upgrade every embedding-model pipeline needs): for each
    anchor, the top-3 most-similar vectors carrying a DIFFERENT label —
    the pairs that teach a contrastive loss the most (highest-loss
    negatives). Bounded to a 200-anchor demo set: this is the scoring
    stage that at corpus scale runs on IVF/LSH candidate cells
    (`sim_topk_ivf`'s posture), never all-pairs; the label-mismatch
    predicate rides the join so same-label pairs are never scored.

    Plan shape: anchors broadcast against one corpus scan; per-anchor
    top-3 compiles to a rank window partitioned by anchor. Dot products
    are the sequential zip_with fold (operators.similarity.dot) that
    bit-matches DuckDB's list_dot_product."""
    from ocean_data_pipeline_spark.operators.similarity import cosine_pre, norm

    # norms precomputed per side (cosine_pre contract): one fold per
    # corpus row / anchor instead of three folds per scored pair
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nv", norm(F.col("v")))
    anchors = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    scored = (
        emb.join(
            F.broadcast(anchors), F.col("label") != F.col("anchor_label")
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            cosine_pre(
                F.col("va"), F.col("v"), F.col("na"), F.col("nv")
            ).alias("cosine_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.asc("negative_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 3)
        .select(
            "anchor_id", "anchor_label", "negative_id", "negative_label",
            F.round("cosine_sim", 6).alias("cosine_sim"), "rank",
        )
        .orderBy("anchor_id", "rank")
    )
