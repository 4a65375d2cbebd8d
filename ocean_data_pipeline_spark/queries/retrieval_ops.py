"""Retrieval / search operators over the documents corpus (SURVEY.md
§2 width — the lexical-search siblings of the embedding sim-search
family): BM25 ranking, reciprocal-rank-fusion hybrid retrieval,
inverted-index conjunctive lookup, PMI co-occurrence mining, and a
prefix-filtered set-similarity join (the PPJoin-style alternative to
MinHash candidate generation).

Tokenization contract is the corpus-wide one (`tfidf_top_terms`,
`top_tokens`): lowercase, trim, split on whitespace; non-empty docs
only. All scoring arithmetic is written as the IDENTICAL IEEE
expression on both engines, with cross-term sums carried in exact
DECIMAL so accumulation order can never flip a rank (the lesson from
ROUND_NOTES "hard-won determinism" #1).

Scale postures (per query, also in each docstring):
- bm25 / tfidf share the shape: one explode scan, map-side partial
  aggs, corpus scalars (N, avgdl) broadcast as a 1-row frame so the
  whole query stays ONE lazy plan.
- rrf ranks are global row_numbers over single-column sort keys —
  rank assignment is a sort, not a shuffle-per-key; the fusion join is
  keyed on doc id.
- the conjunctive lookup is the posting-list intersection done as
  groupBy(doc).count == |terms| — never a k-way self-join.
- PMI pairs are vocabulary-bounded (V² pairs at most), generated
  per-doc from distinct tokens — fanout C(tokens-per-doc, 2), linear
  in the corpus for bounded docs.
- the prefix filter generates candidates ONLY from each set's rarest
  (n - ceil(t·n) + 1) shingles (global-frequency order), which is the
  exact no-false-negative guarantee of Chaudhuri et al.'s SSJoin /
  Xiao et al.'s PPJoin; the quadratic confirm runs on candidates only.
  The DuckDB oracle is the NAIVE all-shared-shingle-pairs formulation
  — equality of the two IS the no-false-negative proof, run at two
  scale factors in CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.similarity import cosine, cosine_sql
from ocean_data_pipeline_spark.queries import register

#: BM25 free parameters (the Robertson/Okapi defaults).
_K1 = 1.2
_B = 0.75
#: Fixed query-term set: two common terms + the one rare corpus token,
#: so idf actually separates (df('dup') ~ 5% of docs, others ~80%).
_QUERY_TERMS = ("dup", "join", "vector")
_TERMS_SQL = "('dup', 'join', 'vector')"


def _docs_tokens(spark: SparkSession, sf_dir: str, spread: bool = False):
    """Shared scan: non-empty docs with their token arrays. `spread`
    redistributes the single-row-group testdata scan before CPU-heavy
    per-doc work (catalog.table's guarded round-robin; a no-op on
    properly sized files)."""
    docs = table(spark, sf_dir, "documents", spread=spread).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("arr"),
    )


# --- BM25 top-k --------------------------------------------------------

_BM25_ORACLE = f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
dl AS (SELECT doc_id, len(arr) AS dl FROM d),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
toks AS (SELECT doc_id, unnest(arr) AS token FROM d),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN {_TERMS_SQL} GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks
  WHERE token IN {_TERMS_SQL} GROUP BY token
),
scored AS (
  SELECT tf.doc_id,
         count(*) AS n_terms_hit,
         sum(CAST(
           ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({_K1} + 1.0))
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))
         AS DECIMAL(28,12))) AS score
  FROM tf
  JOIN df USING (token)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id,
       CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
       round(CAST(score AS DOUBLE), 4) AS bm25
FROM scored
ORDER BY score DESC, doc_id
LIMIT 10
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_terms_hit, score DECIMAL(28,12)) for the fixed query
    terms — shared by `bm25_topk` and `rrf_hybrid_retrieval`."""
    d = _docs_tokens(spark, sf_dir)
    dl = d.select("doc_id", F.size("arr").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )  # 1-row frame; broadcast below so the plan stays lazy
    toks = d.select("doc_id", F.explode("arr").alias("token")).filter(
        F.col("token").isin(*_QUERY_TERMS)
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        toks.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        idf
        * (F.col("tf") * (_K1 + 1.0))
        / (
            F.col("tf")
            + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum(term_score.cast("decimal(28,12)")).alias("score"),
        )
    )


@register("bm25_topk", oracle=_BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 documents for a fixed 3-term query
    — the standard lexical retrieval scorer (Robertson et al., Okapi at
    TREC-3), exact rather than approximated, so the DuckDB twin
    hash-matches. idf = ln(1 + (N - df + ½)/(df + ½)) is the
    Robertson–Sparck-Jones form (always positive).

    Determinism: each (doc, term) partial score is one fixed-shape IEEE
    double expression (identical on both engines); the cross-term sum is
    carried in DECIMAL(28,12) so addition order cannot perturb the rank
    boundary, and the ORDER BY sorts the exact decimal, not the rounded
    display value.

    Plan shape: one explode scan (the term filter prunes the exploded
    stream immediately), two map-side partial aggs (tf, df), df and the
    (N, avgdl) scalar ride in as broadcasts — no shuffle is keyed on
    anything wider than doc_id, and the top-10 compiles to
    TakeOrderedAndProject, never a global sort."""
    scored = _bm25_scored(spark, sf_dir)
    return (
        scored.select(
            "doc_id",
            "n_terms_hit",
            F.round(F.col("score").cast("double"), 4).alias("bm25"),
            F.col("score").alias("_k"),
        )
        .orderBy(F.desc("_k"), F.asc("doc_id"))
        .limit(10)
        .drop("_k")
    )


# --- reciprocal-rank-fusion hybrid retrieval ---------------------------

#: RRF dampening constant (Cormack et al., SIGIR'09 use 60).
_RRF_K = 60


_RRF_ORACLE = f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
dl AS (SELECT doc_id, len(arr) AS dl FROM d),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
toks AS (SELECT doc_id, unnest(arr) AS token FROM d),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN {_TERMS_SQL} GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks
  WHERE token IN {_TERMS_SQL} GROUP BY token
),
lex AS (
  SELECT tf.doc_id,
         sum(CAST(
           ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({_K1} + 1.0))
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))
         AS DECIMAL(28,12))) AS score
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
lex_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
  FROM lex
),
corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
probe AS (SELECT v FROM corpus WHERE vec_id = 0),
dense_ranked AS (
  SELECT c.vec_id,
         row_number() OVER (
           ORDER BY {cosine_sql("p.v", "c.v")} DESC, c.vec_id) AS r_dense
  FROM corpus c CROSS JOIN probe p
),
fused AS (
  SELECT coalesce(l.doc_id, e.vec_id) AS doc_id,
         coalesce(l.r_lex, 0) AS r_lex,
         coalesce(e.r_dense, 0) AS r_dense,
         coalesce(1.0 / ({_RRF_K} + l.r_lex), 0.0)
           + coalesce(1.0 / ({_RRF_K} + e.r_dense), 0.0) AS rrf
  FROM lex_ranked l FULL OUTER JOIN dense_ranked e ON e.vec_id = l.doc_id
)
SELECT doc_id, r_lex, r_dense, round(rrf, 6) AS rrf
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


@register("rrf_hybrid_retrieval", oracle=_RRF_ORACLE)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via reciprocal-rank fusion (Cormack et al.,
    SIGIR'09): the BM25 lexical ranking and a dense cosine ranking
    (probe = embedding 0, doc_id ≡ vec_id in the corpus) are fused as
    Σ 1/(60 + rank), full-outer so a doc missing from one ranking
    simply contributes nothing from that side — the standard
    first-stage retriever pair in a RAG stack. r_lex/r_dense report 0
    for "absent from that ranking".

    Determinism: both ranks are integers from exact-keyed sorts (the
    lexical key is the exact DECIMAL BM25 score, the dense key the
    bit-identical dot-product fold), and 1/(60+r) sums two doubles in
    fixed order.

    Plan shape: each ranking is one global single-column sort
    (row_number over a 1-partition window is fine at ranking sizes —
    at 100 TB the first-stage candidate set per query is ≤ O(10⁴), not
    the corpus); the fusion is one keyed join; probe vector rides in
    as a broadcast 1-row frame. Top-10 = TakeOrderedAndProject."""
    from ocean_data_pipeline_spark.operators.ranks import (
        with_global_row_number,
    )

    # both corpus-wide rankings ride the fixed-width rank device —
    # BM25 scores are log-bounded (unit buckets), cosines live in
    # [-1,1] (1/16 buckets) — so neither ranking ever sorts the corpus
    # in one task
    lex = with_global_row_number(
        _bm25_scored(spark, sf_dir).select(
            "doc_id", F.col("score").cast("double").alias("_s")
        ),
        [F.desc("_s"), F.asc("doc_id")],
        "_s",
        out="r_lex",
        range_desc=True,
        bucket_width=1.0,
    ).select("doc_id", F.col("r_lex").cast("int").alias("r_lex"))
    emb = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    probe = emb.filter(F.col("vec_id") == 0).select(v.alias("pv"))
    cos = cosine(F.col("pv"), F.col("cv"))
    dense = with_global_row_number(
        emb.select(F.col("vec_id"), v.alias("cv"))
        .crossJoin(F.broadcast(probe))
        .select("vec_id", cos.alias("_sim")),
        [F.desc("_sim"), F.asc("vec_id")],
        "_sim",
        out="r_dense",
        range_desc=True,
        bucket_width=0.0625,
    ).select("vec_id", F.col("r_dense").cast("int").alias("r_dense"))
    fused = lex.join(
        dense, lex["doc_id"] == dense["vec_id"], "full_outer"
    ).select(
        F.coalesce(lex["doc_id"], dense["vec_id"]).alias("doc_id"),
        F.coalesce("r_lex", F.lit(0)).alias("r_lex"),
        F.coalesce("r_dense", F.lit(0)).alias("r_dense"),
        (
            F.coalesce(1.0 / (_RRF_K + lex["r_lex"]), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + dense["r_dense"]), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.select(
            "doc_id", "r_lex", "r_dense", F.round("rrf", 6).alias("rrf"),
            F.col("rrf").alias("_k"),
        )
        .orderBy(F.desc("_k"), F.asc("doc_id"))
        .limit(10)
        .drop("_k")
    )


# --- inverted-index conjunctive lookup ---------------------------------

_CONJ_TERMS = ("dup", "merge", "stream")
_CONJ_TERMS_SQL = "('dup', 'merge', 'stream')"

_CONJ_ORACLE = f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
toks AS (SELECT doc_id, unnest(arr) AS token FROM d),
postings AS (
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN {_CONJ_TERMS_SQL} GROUP BY doc_id, token
),
hits AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
  FROM postings GROUP BY doc_id HAVING count(*) = 3
)
SELECT h.doc_id, h.total_tf, doc.n_chars, doc.source
FROM hits h JOIN documents doc USING (doc_id)
ORDER BY h.doc_id
"""


@register("inverted_index_conjunctive", oracle=_CONJ_ORACLE)
def inverted_index_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) query over an inverted index: documents
    containing ALL of {dup, merge, stream}, with their total term
    frequency and metadata — the boolean-retrieval primitive under
    every search engine's candidate stage.

    The posting-list intersection is groupBy(doc).count == |terms| on
    the term-filtered postings — ONE aggregation regardless of how many
    terms the query has, never a |terms|-way self-join; the term filter
    prunes the exploded token stream at the scan, so the shuffle
    carries only matching postings (df('dup') ≈ 5% of docs bounds the
    whole intersection). Metadata rejoin is keyed on doc_id.
    """
    d = _docs_tokens(spark, sf_dir)
    toks = d.select("doc_id", F.explode("arr").alias("token")).filter(
        F.col("token").isin(*_CONJ_TERMS)
    )
    postings = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    hits = (
        postings.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(_CONJ_TERMS))
        .drop("n_terms")
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "source"
    )
    return hits.join(docs, "doc_id").orderBy("doc_id")


# --- PMI token-pair mining ---------------------------------------------

#: Pairs must co-occur in at least this many docs to be reported
#: (kills noise PMI from singleton co-occurrences).
_PMI_MIN_CO = 5

_PMI_ORACLE = f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
n AS (SELECT count(*) AS n_docs FROM d),
toks AS (SELECT DISTINCT doc_id, unnest(arr) AS token FROM d),
df AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
co AS (
  SELECT a.token AS token_a, b.token AS token_b, count(*) AS co_df
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
),
scored AS (
  SELECT co.token_a, co.token_b, co.co_df,
         ln(CAST(co.co_df * n.n_docs AS DOUBLE) / (da.df * db.df)) AS pmi
  FROM co
  JOIN df da ON da.token = co.token_a
  JOIN df db ON db.token = co.token_b
  CROSS JOIN n
  WHERE co.co_df >= {_PMI_MIN_CO}
)
SELECT token_a, token_b, CAST(co_df AS BIGINT) AS co_df,
       round(pmi, 6) AS pmi
FROM scored
ORDER BY pmi DESC, token_a, token_b
LIMIT 15
"""


@register("token_pmi_pairs", oracle=_PMI_ORACLE)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 token pairs by pointwise mutual information over
    document-level co-occurrence: PMI = ln(P(a,b) / (P(a)·P(b))) with
    P estimated as document frequencies — the collocation-mining
    primitive (phrase detection, word2vec-style negative-sampling
    tables are all PMI censuses underneath). A min-co-occurrence floor
    of 5 removes singleton noise.

    Determinism: PMI's argument is the exact integer ratio
    co·N / (df_a·df_b) evaluated in one fixed-shape double expression;
    ties in the double sort break on the token pair.

    Plan shape: pair generation is a per-doc self-join on doc_id over
    DISTINCT (doc, token) — fanout C(distinct-tokens-per-doc, 2),
    linear in the corpus for bounded docs and bounded a-priori by
    C(V, 2) pairs; df and N are small side-aggs that broadcast into
    the scoring join. No stage is quadratic in the corpus."""
    d = _docs_tokens(spark, sf_dir)
    toks = d.select("doc_id", F.explode("arr").alias("token")).distinct()
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df_ = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    a = toks.select("doc_id", F.col("token").alias("token_a"))
    b = toks.select("doc_id", F.col("token").alias("token_b"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("co_df"))
        .filter(F.col("co_df") >= _PMI_MIN_CO)
    )
    da = F.broadcast(df_.select(F.col("token").alias("token_a"), F.col("df").alias("df_a")))
    db = F.broadcast(df_.select(F.col("token").alias("token_b"), F.col("df").alias("df_b")))
    pmi = F.log(
        (F.col("co_df") * F.col("n_docs")).cast("double")
        / (F.col("df_a") * F.col("df_b"))
    )
    return (
        co.join(da, "token_a")
        .join(db, "token_b")
        .crossJoin(F.broadcast(n))
        .select(
            "token_a",
            "token_b",
            F.col("co_df").cast("bigint").alias("co_df"),
            F.round(pmi, 6).alias("pmi"),
            pmi.alias("_k"),
        )
        .orderBy(F.desc("_k"), F.asc("token_a"), F.asc("token_b"))
        .limit(15)
        .drop("_k")
    )


# --- prefix-filtered set-similarity join -------------------------------

#: Jaccard threshold over 3-gram shingle sets.
_SSJ_T = 0.5
#: Confirm-side broadcast ceiling (docs in the checkpointed panel);
#: above it the confirm joins stay shuffled (the 100-TB path).
_SSJ_BROADCAST_DOCS = 500_000

_SSJ_ORACLE = f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(arr) - 2),
                i -> list_aggregate(arr[i : i + 2], 'string_agg', ' ')))
           AS shingle
  FROM d WHERE len(arr) >= 3
),
n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT id_a, id_b, n_common,
         CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
  FROM inter
  JOIN n na ON na.doc_id = id_a
  JOIN n nb ON nb.doc_id = id_b
)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
       round(jaccard, 6) AS jaccard
FROM j WHERE jaccard >= {_SSJ_T}
ORDER BY id_a, id_b
"""


@register("prefix_filter_jaccard_join", oracle=_SSJ_ORACLE)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (Jaccard ≥ 0.5 over 3-gram
    shingle sets) via PREFIX FILTERING (Chaudhuri et al. SSJoin,
    ICDE'06; Xiao et al. PPJoin, WWW'08): order every doc's shingles by
    global frequency (rarest first; ties lexicographic), take only the
    first n − ceil(t·n) + 1 as its prefix, and generate candidate pairs
    from shared PREFIX shingles — any pair with Jaccard ≥ t must share
    at least one prefix element, so the filter has zero false
    negatives. The exact Jaccard confirm (array_intersect on the two
    collected shingle arrays) runs on candidates only.

    This is the deterministic exact-answer alternative to MinHash/LSH
    candidate generation (`minhash_lsh_near_dup`): no probability of a
    missed pair, at the cost of skew sensitivity on the prefix buckets
    — which frequency-ascending prefix order minimizes by construction
    (rarest shingles index the fewest docs).

    The DuckDB oracle is the NAIVE formulation (all pairs sharing ANY
    shingle); equality at two scale factors is the no-false-negative
    proof. Per-doc shingle arrays are bounded (≤ a few hundred), so the
    collected-array confirm join is scan-sized; candidate generation is
    an equi-join on rare shingles, shuffling only prefix postings. The
    LENGTH filter (J ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|), Arasu et
    al.'s size bound) prunes candidates before the array confirm —
    also semantics-free.

    Internal representation (round 11, guide §2.3/§1.2-2): per-doc
    dedup is map-side `array_distinct` (the posting-scale DISTINCT
    shuffle it replaces carried the same rows), and every shingle is
    swapped for an injective BIGINT surrogate minted on the
    checkpointed frequency relation — candidate join keys and the
    per-pair `array_intersect` confirm run on packed ints instead of
    ~20-char strings (measured 3× on the confirm stage, which
    dominates this query). Any injective map leaves |A∩B|, the length
    bound, and Jaccard unchanged, so the result is bit-identical; the
    surrogate never reaches the output. The confirm side is
    broadcast when the checkpointed doc panel is small enough
    (`_SSJ_BROADCAST_DOCS`, 500k docs — the probe→route device of
    `operators/graph.py::wedge_pair_census`); above it, the unchanged
    shuffled join runs."""
    d = _docs_tokens(spark, sf_dir, spread=True).filter(F.size("arr") >= 3)
    doc_sh = d.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("arr") - 3),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("arr"), i + 1, 3)
                ),
            )
        ).alias("shs"),
    ).localCheckpoint()  # scan+shingle once; feeds freq AND postings
    sh = doc_sh.select("doc_id", F.explode("shs").alias("shingle"))
    # Global df per shingle + the injective surrogate. The checkpoint
    # pins the surrogate assignment (monotonically_increasing_id is
    # injective per execution; re-derivation could re-deal it).
    freq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("gdf"))
        .withColumn("sid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    # Per-doc surrogate array in global (gdf asc, shingle asc) order;
    # the struct sort key makes the order total and engine-independent.
    ordered = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("gdf", "shingle", "sid"))
                ),
                lambda s: s["sid"],
            ).alias("sids")
        )
        .select(
            "doc_id",
            "sids",
            F.size("sids").alias("n"),
            F.slice(
                F.col("sids"),
                1,
                F.size("sids")
                - F.ceil(F.lit(_SSJ_T) * F.size("sids")).cast("int")
                + 1,
            ).alias("prefix"),
        )
        .localCheckpoint()  # consumed by 3 subtrees (2 probe sides + confirm)
    )
    n_docs = ordered.count()
    pre = ordered.select("doc_id", F.explode("prefix").alias("sid"))
    cand = (
        pre.select(F.col("doc_id").alias("id_a"), "sid")
        .join(pre.select(F.col("doc_id").alias("id_b"), "sid"), "sid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = ordered.select(
        F.col("doc_id").alias("id_a"),
        F.col("sids").alias("sh_a"),
        F.col("n").alias("n_a"),
    )
    sb = ordered.select(
        F.col("doc_id").alias("id_b"),
        F.col("sids").alias("sh_b"),
        F.col("n").alias("n_b"),
    )
    if n_docs <= _SSJ_BROADCAST_DOCS:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.least("n_a", "n_b") >= F.lit(_SSJ_T) * F.greatest("n_a", "n_b")
        )
        .select(
            "id_a",
            "id_b",
            inter.cast("bigint").alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
            jac.alias("_j"),
        )
        .filter(F.col("_j") >= _SSJ_T)
        .drop("_j")
        .orderBy("id_a", "id_b")
    )


# --- MMR diversified top-k ----------------------------------------------

#: MMR trade-off: score = LAMBDA*sim(query,c) - (1-LAMBDA)*max sim(c,S).
_MMR_LAMBDA = 0.7
_MMR_POOL = 12
_MMR_K = 4

def _mmr_oracle() -> str:
    """Unrolled MMR selection: one MATERIALIZED CTE per round (the
    AS MATERIALIZED discipline from `ipf_survey_raking` — DuckDB
    inlines CTEs by default, which goes exponential on chained
    self-references)."""
    head = f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v FROM corpus WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT c.vec_id, c.v, {cosine_sql('q.v', 'c.v')} AS sim_q
  FROM corpus c, q WHERE c.vec_id != 0
  ORDER BY sim_q DESC, c.vec_id LIMIT {_MMR_POOL}
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         {cosine_sql('a.v', 'b.v')} AS sim_ab
  FROM cand a JOIN cand b ON a.vec_id != b.vec_id
),
s1 AS MATERIALIZED (
  SELECT vec_id, sim_q, 1 AS sel_round, sim_q AS mmr_score
  FROM cand ORDER BY sim_q DESC, vec_id LIMIT 1
)"""
    rounds = []
    for r in range(2, _MMR_K + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT vec_id FROM s{i}" for i in range(1, r)
        )
        rounds.append(f""",
s{r} AS MATERIALIZED (
  SELECT c.vec_id, c.sim_q, {r} AS sel_round,
         {_MMR_LAMBDA} * c.sim_q - {round(1 - _MMR_LAMBDA, 12)} * m.mx AS mmr_score
  FROM (SELECT p.ia AS vec_id, max(p.sim_ab) AS mx
        FROM pairs p JOIN ({prev_union}) s ON p.ib = s.vec_id
        GROUP BY p.ia) m
  JOIN cand c ON c.vec_id = m.vec_id
  WHERE c.vec_id NOT IN ({prev_union})
  ORDER BY mmr_score DESC, c.vec_id LIMIT 1
)""")
    tail_union = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, _MMR_K + 1)
    )
    return (
        head
        + "".join(rounds)
        + f"""
SELECT sel_round, vec_id,
       round(sim_q, 6) AS sim_to_query,
       round(mmr_score, 6) AS mmr_score
FROM ({tail_union}) ORDER BY sel_round"""
    )


@register("mmr_diversified_topk", oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    '98): greedily pick {k} of the top-{pool} cosine candidates for
    probe vec_id=0, each round maximizing lambda*sim(q,c) -
    (1-lambda)*max_s sim(c,selected) — the diversity-aware top-k every
    RAG retriever bolts onto plain ANN. Round 1 score = sim(q,c) (the
    standard convention: no selected set yet).

    Determinism: candidate/pair cosines are the shared sequential-fold
    dot products; each round's argmax breaks ties by vec_id; the MMR
    chain is one fixed IEEE expression over <= pool doubles; max over
    the selected set is order-independent.

    Plan shape: one corpus scan scores the probe (broadcast 1-row q),
    TakeOrdered caps the pool at {pool}; the pool and its pool^2 pair
    grid are localCheckpointed once; each greedy round is joins over
    <= {pool} rows. At 100 TB only the first scan is corpus-scale —
    the greedy loop runs on a fixed-size candidate relation (same
    bounded-iteration posture as `ipf_survey_raking`)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cos_q = cosine(F.col("qv"), F.col("v"))
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "v", cos_q.alias("sim_q"))
        .orderBy(F.col("sim_q").desc(), "vec_id")
        .limit(_MMR_POOL)
        .localCheckpoint()  # pool + pair grid feed every greedy round
    )
    a = cand.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = cand.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    cos_ab = cosine(F.col("va"), F.col("vb"))
    pairs = (
        a.join(b, F.col("ia") != F.col("ib"))
        .select("ia", "ib", cos_ab.alias("sim_ab"))
        .localCheckpoint()
    )
    sel = (
        cand.orderBy(F.col("sim_q").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "sim_q",
            F.lit(1).alias("sel_round"),
            F.col("sim_q").alias("mmr_score"),
        )
    )
    for r in range(2, _MMR_K + 1):
        chosen = sel.select("vec_id")
        mx = (
            pairs.join(F.broadcast(chosen), pairs.ib == chosen.vec_id)
            .groupBy("ia")
            .agg(F.max("sim_ab").alias("mx"))
        )
        pick = (
            cand.join(F.broadcast(chosen), "vec_id", "left_anti")
            .join(mx, cand.vec_id == mx.ia)
            .select(
                "vec_id",
                "sim_q",
                F.lit(r).alias("sel_round"),
                (
                    _MMR_LAMBDA * F.col("sim_q")
                    - round(1 - _MMR_LAMBDA, 12) * F.col("mx")
                ).alias("mmr_score"),
            )
            .orderBy(F.col("mmr_score").desc(), "vec_id")
            .limit(1)
        )
        sel = sel.unionByName(pick)
    return sel.select(
        "sel_round",
        "vec_id",
        F.round("sim_q", 6).alias("sim_to_query"),
        F.round("mmr_score", 6).alias("mmr_score"),
    ).orderBy("sel_round")


mmr_diversified_topk.__doc__ = mmr_diversified_topk.__doc__.format(
    k=_MMR_K, pool=_MMR_POOL
)
