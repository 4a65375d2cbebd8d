"""Corpus-quality and calibration queries (SURVEY.md §2-J width):
Gopher/MassiveText-style repetition + lexical filter rules, tokenizer
fertility, interpolated bigram-LM perplexity, temperature-scaled source
mixture weights, MinHash-vs-exact Jaccard calibration + LSH band
tuning, nucleus-vocab diversity, deterministic weighted sampling,
n-gram novelty, percentile length trimming, DSIR importance weighting,
and SemDeDup cell-bounded semantic dedup — documents/embeddings
tables, all with DuckDB oracle twins.

Design rules shared by every query here:
- per-doc metrics are ratios of integers computed as one double
  division (bit-identical across engines) and rounded BEFORE any
  cross-row aggregation;
- cross-row averages go through decimal sums (order-stable) and a
  final rounded double division;
- flags compare rounded metrics against constants chosen off the
  sf0.01 distribution so no document sits on a knife edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.portable import uniform, uniform_sql
from ocean_data_pipeline_spark.operators.similarity import cosine_sql
from ocean_data_pipeline_spark.operators.text import (
    bpe_token_count,
    token_count,
    tokens,
)
from ocean_data_pipeline_spark.queries import register

# --- Gopher-style repetition rules ------------------------------------

_GOPHER_REPETITION_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
g AS (
  SELECT doc_id, source,
         list_transform(generate_series(1, len(arr) - 1),
                        i -> arr[i] || ' ' || arr[i + 1]) AS g2
  FROM d WHERE len(arr) >= 2
),
m AS (
  SELECT doc_id, source,
         round(CAST(list_max(list_transform(list_distinct(g2),
                 x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE)
               / len(g2), 6) AS top2_frac,
         round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
           AS dup2_frac
  FROM g
)
SELECT source,
       count(*) AS n_docs,
       round(CAST(sum(CAST(top2_frac AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_top2_frac,
       round(CAST(sum(CAST(dup2_frac AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_dup2_frac,
       CAST(sum(CASE WHEN top2_frac > 0.06 OR dup2_frac > 0.05
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM m GROUP BY source ORDER BY source
"""


@register("gopher_repetition_filter", oracle=_GOPHER_REPETITION_ORACLE)
def gopher_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules (Rae et al. 2021 §A1.1,
    token-level adaptation): per document, the fraction of 2-grams
    occupied by the single most frequent 2-gram (`top2_frac`) and the
    fraction of duplicate 2-grams (`dup2_frac`); documents breaching
    either threshold are the boilerplate/loop-spam candidates a
    pretraining pipeline drops. Rolled up per source.

    Plan shape: pure array expressions per row — bigrams via
    transform(sequence), the most-frequent count via an O(d·n)
    filter-count over distinct grams (vectorized in codegen, no
    explode, no shuffle) — then ONE partial-agg shuffle on `source`.
    At 100 TB this is scan-speed map work; nothing but the 20-row
    source rollup moves."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    arr = tokens(F.lower(F.col("text")))
    d = docs.select("doc_id", "source", arr.alias("arr")).filter(F.size("arr") >= 2)
    g2 = F.transform(
        F.sequence(F.lit(0), F.size("arr") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("arr", i + 1), F.element_at("arr", i + 2)
        ),
    )
    g = d.select("doc_id", "source", g2.alias("g2"))
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("g2"),
            lambda x: F.size(F.filter("g2", lambda y: y == x)),
        )
    )
    m = g.select(
        "source",
        F.round(top_cnt.cast("double") / F.size("g2"), 6).alias("top2_frac"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("g2")).cast("double") / F.size("g2"),
            6,
        ).alias("dup2_frac"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("top2_frac").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_top2_frac"),
            F.round(
                F.sum(F.col("dup2_frac").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_dup2_frac"),
            F.sum(
                F.when((F.col("top2_frac") > 0.06) | (F.col("dup2_frac") > 0.05), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


# --- MassiveText lexical rules ----------------------------------------

_LEXICAL_RULES_ORACLE = """
WITH d AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
m AS (
  SELECT doc_id, lang,
         round(CAST(list_sum(list_transform(arr, t -> length(t))) AS DOUBLE)
               / len(arr), 6) AS mean_word_len,
         round(CAST(len(list_filter(arr, t -> length(t) <= 2)) AS DOUBLE)
               / len(arr), 6) AS short_word_frac,
         len(list_filter(arr, t -> t IN
             ('the','and','of','to','a','in','is','that'))) AS stop_hits
  FROM d
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      AND short_word_frac <= 0.05
                      AND stop_hits >= 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       round(CAST(sum(CAST(mean_word_len AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_word_len,
       round(CAST(sum(CAST(short_word_frac AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_short_frac
FROM m GROUP BY lang ORDER BY lang
"""


@register("lexical_quality_rules", oracle=_LEXICAL_RULES_ORACLE)
def lexical_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText lexical filter rules (Rae et al. 2021 §A1.1): mean
    word length within [3, 10], short-word (≤2 chars) fraction ≤ 0.05,
    and ≥2 hits against the English stop-list (the "contains common
    words" rule). Per-language pass counts expose which slices a
    rule-set built for one language unfairly drops — the standard
    multilingual-curation audit.

    Plan shape: per-row array folds (sum of lengths, filter counts) —
    no explode, no shuffle — then one partial agg on `lang`."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    d = docs.select("doc_id", "lang", tokens(F.lower(F.col("text"))).alias("arr"))
    mean_wl = F.round(
        F.aggregate(
            "arr", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / F.size("arr"),
        6,
    )
    short_frac = F.round(
        F.size(F.filter("arr", lambda t: F.length(t) <= 2)).cast("double")
        / F.size("arr"),
        6,
    )
    stop_hits = F.size(
        F.filter(
            "arr",
            lambda t: t.isin("the", "and", "of", "to", "a", "in", "is", "that"),
        )
    )
    m = d.select(
        "lang",
        mean_wl.alias("mean_word_len"),
        short_frac.alias("short_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    passes = (
        (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("short_word_frac") <= 0.05)
        & (F.col("stop_hits") >= 2)
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(passes, 1).otherwise(0)).cast("bigint").alias("n_pass"),
            F.round(
                F.sum(F.col("mean_word_len").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_word_len"),
            F.round(
                F.sum(F.col("short_word_frac").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_short_frac"),
        )
        .orderBy("lang")
    )


# --- tokenizer fertility ----------------------------------------------

_FERTILITY_ORACLE = r"""
WITH m AS (
  SELECT lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
           AS n_bpe,
         length(text) AS n_chars
  FROM documents
)
SELECT lang,
       CAST(sum(n_ws) AS BIGINT)    AS ws_tokens,
       CAST(sum(n_bpe) AS BIGINT)   AS bpe_tokens,
       CAST(sum(n_chars) AS BIGINT) AS chars,
       round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws), 4)    AS fertility,
       round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 4) AS chars_per_token
FROM m GROUP BY lang ORDER BY lang
"""


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: BPE-ish tokens per whitespace word
    and characters per token, by language. Fertility skew across
    languages is the standard signal that a tokenizer under-serves a
    script (high fertility → more tokens per word → higher effective
    cost and shorter effective context for that language).

    Plan shape: two regexp counts per row at scan speed, exact integer
    partial sums on `lang`, divisions only on the 5 aggregated rows."""
    docs = table(spark, sf_dir, "documents")
    m = docs.select(
        "lang",
        token_count(F.col("text")).alias("n_ws"),
        bpe_token_count(F.col("text")).alias("n_bpe"),
        F.length("text").alias("n_chars"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.sum("n_ws").cast("bigint").alias("ws_tokens"),
            F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_ws"), 4
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_bpe"), 4
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# --- interpolated bigram-LM perplexity --------------------------------

_BIGRAM_PPL_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
uni AS (
  SELECT t.w, count(*) AS c1
  FROM d, unnest(arr) AS t(w) GROUP BY t.w
),
tot AS (SELECT sum(c1) AS t FROM uni),
big AS (
  SELECT w1, w2, count(*) AS c2 FROM (
    SELECT unnest(list_transform(generate_series(1, len(arr) - 1),
                                 i -> arr[i])) AS w1,
           unnest(list_transform(generate_series(1, len(arr) - 1),
                                 i -> arr[i + 1])) AS w2
    FROM d WHERE len(arr) >= 2
  ) GROUP BY w1, w2
),
trans AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(arr) - 1),
                               i -> arr[i])) AS w1,
         unnest(list_transform(generate_series(1, len(arr) - 1),
                               i -> arr[i + 1])) AS w2
  FROM d WHERE len(arr) >= 2
),
scored AS (
  SELECT doc_id, any_value(source) AS source,
         round(-sum(ln(0.7 * (CAST(c2 AS DOUBLE) / u1.c1)
                       + 0.3 * (CAST(u2.c1 AS DOUBLE) / t)))
               / count(*), 6) AS nll
  FROM trans
  JOIN big USING (w1, w2)
  JOIN uni u1 ON u1.w = trans.w1
  JOIN uni u2 ON u2.w = trans.w2
  CROSS JOIN tot
  GROUP BY doc_id
)
SELECT source,
       count(*) AS n_docs,
       round(CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_nll,
       min(nll) AS min_nll,
       max(nll) AS max_nll,
       CAST(sum(CASE WHEN nll > 3.42 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM scored GROUP BY source ORDER BY source
"""


@register("bigram_perplexity_interp", oracle=_BIGRAM_PPL_ORACLE)
def bigram_perplexity_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM scoring (Jelinek–Mercer smoothing,
    λ=0.7): every document's mean transition NLL under
    P(w2|w1) = 0.7·c(w1,w2)/c(w1) + 0.3·c(w2)/T, the next step up from
    the unigram filter (`perplexity_filter_unigram`) toward a KenLM —
    sequence-aware, so shuffled-token spam that fools a unigram LM
    scores badly here.

    Plan shape: ONE bigram explode feeds both the corpus counts and
    the scoring stream; the bigram census is vocabulary²-bounded (not
    corpus-bounded) so both LM relations broadcast; the corpus total
    rides a broadcast 1-row frame. Per-doc NLL is one partial agg on
    doc_id; transitions never shuffle on anything wider."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    d = docs.select(
        "doc_id", "source", tokens(F.lower(F.col("text"))).alias("arr")
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("arr") - 2),
        lambda i: F.struct(
            F.element_at("arr", i + 1).alias("w1"),
            F.element_at("arr", i + 2).alias("w2"),
        ),
    )
    trans = (
        d.filter(F.size("arr") >= 2)
        .select("doc_id", "source", F.explode(pairs).alias("p"))
        .select("doc_id", "source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uni = (
        d.select(F.explode("arr").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = uni.agg(F.sum("c1").alias("t"))
    big = trans.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        trans.join(F.broadcast(big), ["w1", "w2"])
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1_w1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.round(
                -F.sum(
                    F.log(
                        0.7 * (F.col("c2").cast("double") / F.col("c1_w1"))
                        + 0.3 * (F.col("c1_w2").cast("double") / F.col("t"))
                    )
                )
                / F.count(F.lit(1)),
                6,
            ).alias("nll"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_nll"),
            F.min("nll").alias("min_nll"),
            F.max("nll").alias("max_nll"),
            F.sum(F.when(F.col("nll") > 3.42, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


# --- temperature-scaled source mixture weights ------------------------

_MIXTURE_TEMP_ORACLE = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                  END) AS BIGINT) AS tok_mass
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, tok_mass,
         round(CAST(tok_mass AS DOUBLE)
               / (SELECT sum(tok_mass) FROM per_src), 6) AS share,
         round(pow(CAST(tok_mass AS DOUBLE)
                   / (SELECT sum(tok_mass) FROM per_src), 0.3), 6) AS w_raw
  FROM per_src
)
SELECT source, n_docs, tok_mass, share,
       round(w_raw / (SELECT CAST(sum(CAST(w_raw AS DECIMAL(18,6)))
                                  AS DOUBLE) FROM w), 6) AS weight,
       round(round(w_raw / (SELECT CAST(sum(CAST(w_raw AS DECIMAL(18,6)))
                                        AS DOUBLE) FROM w), 6)
             / share, 4) AS upsample_factor
FROM w ORDER BY source
"""


@register("mixture_temperature_weights", oracle=_MIXTURE_TEMP_ORACLE)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (the multilingual /
    multi-source mixture rule of mC4 and XLM-R, α=0.3): each source's
    natural token share p_s is flattened to w_s ∝ p_s^0.3 and
    renormalized; `upsample_factor` = w_s / p_s says how many
    effective epochs of that source a sampler draws relative to
    natural frequency — the knob that keeps low-resource sources from
    vanishing in the mixture.

    Plan shape: one partial-agg shuffle to the per-source token
    census; everything after operates on the 20-row source relation
    (two tiny broadcast totals — corpus mass and Σw_raw, the latter
    decimal-summed over ROUNDED w_raw so no engine-order float-sum
    hazard). Scale-invariant by construction."""
    docs = table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("tok_mass"),
    )
    tot = per_src.agg(F.sum("tok_mass").cast("double").alias("t"))
    w = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tok_mass",
        F.round(F.col("tok_mass").cast("double") / F.col("t"), 6).alias("share"),
        F.round(
            F.pow(F.col("tok_mass").cast("double") / F.col("t"), F.lit(0.3)), 6
        ).alias("w_raw"),
    )
    sum_w = w.agg(
        F.sum(F.col("w_raw").cast("decimal(18,6)")).cast("double").alias("sw")
    )
    return (
        w.crossJoin(F.broadcast(sum_w))
        .select(
            "source",
            "n_docs",
            "tok_mass",
            "share",
            F.round(F.col("w_raw") / F.col("sw"), 6).alias("weight"),
            F.round(
                F.round(F.col("w_raw") / F.col("sw"), 6) / F.col("share"), 4
            ).alias("upsample_factor"),
        )
        .orderBy("source")
    )


# --- MinHash-vs-exact Jaccard calibration -----------------------------


def _mh_salts() -> list[str]:
    return [f"mh{k:02d}_" for k in range(16)]


def _oracle_minhash_sig() -> str:
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> sha256('{salt}' || s)))"
        for salt in _mh_salts()
    )
    return f"[{mins}]"


def _oracle_panel_cte() -> str:
    """Shared DuckDB CTE body for the bounded calibration panel
    (doc_id < 60): distinct 8-char shingles + the K=16 salted-SHA-256
    MinHash signature — the twin of `_panel_signatures`."""
    return f"""
d AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(1, length(text) - 7)),
           i -> substr(text, i, 8))) AS sh
  FROM documents WHERE doc_id < 60
),
sig AS (
  SELECT doc_id, sh, {_oracle_minhash_sig()} AS mh FROM d
)"""


def _panel_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh, mh) over the bounded panel (doc_id < 60): distinct
    8-char shingles plus the K=16 salted-SHA-256 MinHash signature.
    The shingle array is STAGED in its own projection so the 16
    component mins read a stored column instead of re-shingling (the
    documented 30× shared-subexpression trap in operators/text.py)."""
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text") - 7)),
            lambda i: F.col("text").substr(i, F.lit(8)),
        )
    )
    staged = docs.filter(F.col("doc_id") < 60).select("doc_id", sh.alias("sh"))

    def _mh_component(salt: str):
        # NB: the salt must be closed over, not passed as a defaulted
        # second lambda arg — a 2-ary lambda makes transform() bind the
        # array INDEX to it.
        return F.array_min(
            F.transform(F.col("sh"), lambda s: F.sha2(F.concat(F.lit(salt), s), 256))
        )

    return staged.select(
        "doc_id",
        "sh",
        F.array(*[_mh_component(salt) for salt in _mh_salts()]).alias("mh"),
    )


_MINHASH_CALIB_ORACLE = f"""
WITH {_oracle_panel_cte()},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_filter(generate_series(1, 16),
                 i -> a.mh[i] = b.mh[i])) AS DOUBLE) / 16, 6) AS est_j,
         round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)), 6) AS exact_j
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT count(*) AS n_pairs,
       round(CAST(sum(CAST(round(abs(est_j - exact_j), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
         AS mae,
       round(CAST(sum(CAST(round(est_j - exact_j, 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
         AS bias,
       round(max(round(abs(est_j - exact_j), 6)), 4) AS max_abs_err
FROM pairs
"""


@register("minhash_jaccard_calibration", oracle=_MINHASH_CALIB_ORACLE)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy calibration harness: on a bounded pair panel
    (doc_id < 60 → 1 770 pairs), compare the K=16 MinHash Jaccard
    estimate (fraction of agreeing salted-SHA-256 component minima)
    against exact 8-char-shingle Jaccard, reporting MAE / bias /
    worst-case error. This is the report that justifies the LSH
    banding thresholds used by the dedup pipeline — expected MAE for
    K independent permutations is ≈ sqrt(J(1−J)/K), and the measured
    numbers should sit at or below it.

    Plan shape: signatures are per-row array folds over a STAGED
    shingle column (computed once, 16 mins read it — the documented
    30× shared-subexpression trap in operators/text.py); the pair
    panel is an explicitly bounded self-join (≤60 ids, broadcast),
    the production-scale posture being calibration-on-a-sample."""
    sig = _panel_signatures(table(spark, sf_dir, "documents", spread=True))
    a = sig.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("mh").alias("mh_a")
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("mh").alias("mh_b")
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")).select(
        F.round(
            F.size(
                F.filter(
                    F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda eq: eq
                )
            ).cast("double")
            / 16,
            6,
        ).alias("est_j"),
        F.round(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
            6,
        ).alias("exact_j"),
    )
    err = F.round(F.col("est_j") - F.col("exact_j"), 6)
    abs_err = F.round(F.abs(F.col("est_j") - F.col("exact_j")), 6)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(abs_err.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("mae"),
        F.round(
            F.sum(err.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("bias"),
        F.round(F.max(abs_err), 4).alias("max_abs_err"),
    )


# --- nucleus vocabulary (lexical-diversity) census --------------------

_NUCLEUS_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
),
tc AS (
  SELECT doc_id, source, t, count(*) AS c
  FROM toks GROUP BY doc_id, source, t
),
r AS (
  SELECT doc_id, source, c,
         sum(c) OVER (PARTITION BY doc_id
                      ORDER BY c DESC, t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY doc_id) AS tot,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t) AS rn
  FROM tc
),
per_doc AS (
  SELECT doc_id, any_value(source) AS source,
         min(CASE WHEN cum >= 0.9 * tot THEN rn END) AS nucleus,
         max(rn) AS vocab,
         round(CAST(max(rn) AS DOUBLE) / max(tot), 6) AS ttr
  FROM r GROUP BY doc_id
)
SELECT source,
       count(*) AS n_docs,
       round(CAST(sum(CAST(nucleus AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_nucleus,
       max(nucleus) AS max_nucleus,
       round(CAST(sum(CAST(ttr AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_ttr
FROM per_doc GROUP BY source ORDER BY source
"""


@register("nucleus_vocab_census", oracle=_NUCLEUS_ORACLE)
def nucleus_vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity census: per document, the nucleus vocabulary
    size (how many distinct tokens, most-frequent first, cover 90% of
    the token mass — the top-p analogue for corpora) plus type-token
    ratio; averaged per source. Low nucleus + low TTR identifies
    template/boilerplate sources a mixture should down-weight.

    Plan shape: one explode → (doc, token) partial-agg shuffle, one
    doc-partitioned window (cumulative mass over a deterministic
    (count desc, token) order), one per-doc agg, one source rollup —
    every stage keyed on doc_id or narrower, so it scales linearly."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id", "source", F.explode(tokens(F.lower(F.col("text")))).alias("t")
    )
    tc = toks.groupBy("doc_id", "source", "t").agg(F.count(F.lit(1)).alias("c"))
    order = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("t"))
    part = Window.partitionBy("doc_id")
    r = tc.select(
        "doc_id",
        "source",
        "c",
        F.sum("c").over(order.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(part).alias("tot"),
        F.row_number().over(order).alias("rn"),
    )
    per_doc = r.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.min(F.when(F.col("cum") >= 0.9 * F.col("tot"), F.col("rn"))).alias("nucleus"),
        F.max("rn").alias("vocab"),
        F.round(F.max("rn").cast("double") / F.max("tot"), 6).alias("ttr"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("nucleus").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_nucleus"),
            F.max("nucleus").alias("max_nucleus"),
            F.round(
                F.sum(F.col("ttr").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_ttr"),
        )
        .orderBy("source")
    )


# --- deterministic weighted sampling (Efraimidis–Spirakis A-ES) -------

_WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         round(-ln({uniform_sql("'samp_' || CAST(doc_id AS VARCHAR)")})
               / n_chars, 12) AS es_key
  FROM documents
),
ranked AS (
  SELECT source, n_chars,
         row_number() OVER (ORDER BY es_key, doc_id) AS rn
  FROM keyed
)
SELECT source,
       count(*) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 2) AS avg_chars
FROM ranked WHERE rn <= 50
GROUP BY source ORDER BY source
"""


@register("weighted_sample_deterministic", oracle=_WEIGHTED_SAMPLE_ORACLE)
def weighted_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each document draws u ∈ (0,1] from a
    salted SHA-256 of its id and gets key −ln(u)/w with w = n_chars;
    the k smallest keys are an exact weight-proportional sample. The
    hash replaces the RNG, so the sample is reproducible across
    engines, retries, and partitionings — the property a training-data
    sampler actually needs. Census of the k=50 sample by source
    (longer docs oversampled ∝ length, as intended).

    Plan shape: key assignment is scan-speed map work; selection is
    sort-limit, which compiles to TakeOrderedAndProject — each
    partition keeps its local top-50 and only 50·P rows reach the
    final merge, never a global sort (same strategy `top_orders`
    pins). Keys round to 12 decimals and tie-break on doc_id, so the
    rank-50 boundary is engine-stable."""
    docs = table(spark, sf_dir, "documents")
    u = uniform(F.concat(F.lit("samp_"), F.col("doc_id").cast("string")))
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(-F.log(u) / F.col("n_chars"), 12).alias("es_key"),
    )
    sampled = keyed.orderBy(F.asc("es_key"), F.asc("doc_id")).limit(50)
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
            F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 2).alias(
                "avg_chars"
            ),
        )
        .orderBy("source")
    )


# --- n-gram novelty census --------------------------------------------

_NOVELTY_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(generate_series(1, len(arr) - 7),
                i -> list_aggregate(arr[i : i + 7], 'string_agg', ' ')))
           AS gram
  FROM d WHERE len(arr) >= 8
),
census AS (
  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
),
per_doc AS (
  SELECT g.doc_id, any_value(g.source) AS source,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN c.first_doc = g.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel,
         round(CAST(sum(CASE WHEN c.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*), 6) AS novel_frac
  FROM grams g JOIN census c USING (gram)
  GROUP BY g.doc_id
)
SELECT source,
       count(*) AS n_docs,
       round(CAST(sum(CAST(novel_frac AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_novel_frac,
       CAST(sum(CASE WHEN novel_frac = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fully_novel
FROM per_doc GROUP BY source ORDER BY source
"""


@register("ngram_novelty_census", oracle=_NOVELTY_ORACLE)
def ngram_novelty_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document novelty census: for every document (in doc_id
    order — the ingestion order), the fraction of its distinct token
    8-grams that first appear IN that document rather than in any
    earlier one. Sources whose documents introduce nothing new are
    recycled/boilerplate feeds; the metric is the streaming-corpus
    cousin of `repeated_ngrams` (which counts cross-doc repetition
    without direction).

    Plan shape: per-row gram arrays (slice + array_join, no quadratic
    work), ONE distinct-explode, a gram-keyed census shuffle
    (min doc_id = first introduction), an equi-join back on gram, and
    a doc rollup — all keys are gram or doc_id, so the whole thing is
    two linear shuffles at corpus scale; the census join must NOT be
    broadcast (gram cardinality grows with the corpus)."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    d = docs.select(
        "doc_id", "source", tokens(F.lower(F.col("text"))).alias("arr")
    ).filter(F.size("arr") >= 8)
    gram_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("arr") - 7),
            lambda i: F.array_join(F.slice("arr", i, 8), " "),
        )
    )
    grams = d.select("doc_id", "source", F.explode(gram_arr).alias("gram"))
    census = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(census, "gram")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novel_frac"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("novel_frac").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_novel_frac"),
            F.sum(F.when(F.col("novel_frac") == 1.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_fully_novel"),
        )
        .orderBy("source")
    )


# --- percentile length trimming ---------------------------------------

_LENGTH_TRIM_ORACLE = """
WITH cuts AS (
  SELECT quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_chars < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below,
       CAST(sum(CASE WHEN n_chars > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above,
       round(CAST(sum(CASE WHEN n_chars >= lo AND n_chars <= hi
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
         AS kept_frac
FROM documents CROSS JOIN cuts
GROUP BY lang ORDER BY lang
"""


@register("doc_length_percentile_trim", oracle=_LENGTH_TRIM_ORACLE)
def doc_length_percentile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile length trimming: compute the corpus p5/p95 of
    `n_chars` (exact interpolated percentiles — Spark `percentile` ==
    DuckDB `quantile_cont`, the `quartiles_exact` parity) and report
    how much of each language falls outside — the tails a curation
    pipeline clips as truncation/concatenation artifacts, and the
    per-language census that shows whether a single corpus-wide cut
    discriminates against a language's natural length profile.

    Plan shape: the cut points are a 1-row aggregate broadcast back
    over the scan (no driver collect, no second pass per row); the
    rollup is one partial agg on `lang`."""
    docs = table(spark, sf_dir, "documents")
    cuts = docs.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(cuts))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_chars") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
            F.sum(F.when(F.col("n_chars") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
            F.round(
                F.sum(
                    F.when(
                        (F.col("n_chars") >= F.col("lo"))
                        & (F.col("n_chars") <= F.col("hi")),
                        1,
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("kept_frac"),
        )
        .orderBy("lang")
    )


# --- LSH band-tuning curve (measured vs analytic S-curve) -------------

_BAND_CONFIGS = [(16, 1), (8, 2), (4, 4)]  # (bands, rows) over K=16


def _band_tuning_oracle() -> str:
    per_config = []
    for b, r in _BAND_CONFIGS:
        bands = " OR ".join(
            "("
            + " AND ".join(
                f"a.mh[{band * r + row + 1}] = b.mh[{band * r + row + 1}]"
                for row in range(r)
            )
            + ")"
            for band in range(b)
        )
        per_config.append(f"""
SELECT {b} AS n_bands, {r} AS rows_per_band,
       count(*) AS n_pairs,
       CAST(sum(CASE WHEN {bands} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_detected,
       round(CAST(sum(CAST(round(1.0 - pow(1.0 - pow(j.exact_j, {r}), {b}), 6)
                           AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS expected_detected
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
JOIN jac j ON j.id_a = a.doc_id AND j.id_b = b.doc_id""")
    body = "\nUNION ALL\n".join(per_config)
    return f"""
WITH {_oracle_panel_cte()},
jac AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)), 6) AS exact_j
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT * FROM ({body})
ORDER BY n_bands DESC
"""


@register("minhash_band_tuning_curve", oracle=_band_tuning_oracle())
def minhash_band_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design report: for each (bands b, rows r) split of
    the K=16 MinHash signature, the MEASURED candidate-pair count on
    the calibration panel next to the ANALYTIC expectation
    Σ 1−(1−J^r)^b from each pair's exact Jaccard — the S-curve table
    an engineer reads to pick the dedup pipeline's banding (r=1 fires
    on everything, r=4 only on strong overlap). Measured tracks
    expected to within the shared-signature correlation (all pairs
    ride the SAME K salts, so the corpus-wide count fluctuates beyond
    independent-pair noise — the per-pair estimator itself is
    unbiased; see tests/test_quality_ops.py).

    Plan shape: same bounded broadcast pair panel as
    `minhash_jaccard_calibration`; each config is a constant-folded
    boolean over the 16 signature slots, all three evaluated in one
    pass over the pairs and unioned (the union branches share the
    panel scan via plan reuse)."""
    sig = _panel_signatures(table(spark, sf_dir, "documents", spread=True))
    a = sig.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("mh").alias("mh_a")
    )
    b_side = sig.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("mh").alias("mh_b")
    )
    pairs = a.join(F.broadcast(b_side), F.col("id_a") < F.col("id_b")).select(
        "mh_a",
        "mh_b",
        F.round(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
            6,
        ).alias("exact_j"),
    )
    outs = []
    for b, r in _BAND_CONFIGS:
        detected = None
        for band in range(b):
            band_eq = None
            for row in range(r):
                i = band * r + row + 1
                eq = F.element_at("mh_a", i) == F.element_at("mh_b", i)
                band_eq = eq if band_eq is None else (band_eq & eq)
            detected = band_eq if detected is None else (detected | band_eq)
        expected = F.round(
            F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(F.col("exact_j"), F.lit(r)), F.lit(b)),
            6,
        )
        outs.append(
            pairs.agg(
                F.lit(b).alias("n_bands"),
                F.lit(r).alias("rows_per_band"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(F.when(detected, 1).otherwise(0)).cast("bigint").alias("n_detected"),
                F.round(
                    F.sum(expected.cast("decimal(18,6)")).cast("double"), 2
                ).alias("expected_detected"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy(F.desc("n_bands"))


# --- DSIR-style importance weights ------------------------------------

_DSIR_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, lang,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
),
census AS (
  SELECT w, count(*) AS c_raw,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS c_tgt
  FROM toks GROUP BY w
),
totals AS (
  SELECT CAST(sum(c_raw) AS DOUBLE) AS t_raw,
         CAST(sum(c_tgt) AS DOUBLE) AS t_tgt,
         CAST(count(*) AS DOUBLE) AS v
  FROM census
),
scored AS (
  SELECT doc_id, any_value(source) AS source,
         round(sum(ln(((c_tgt + 1) / (t_tgt + v))
                      / ((c_raw + 1) / (t_raw + v))))
               / count(*), 6) AS logw
  FROM toks JOIN census USING (w) CROSS JOIN totals
  GROUP BY doc_id
)
SELECT source,
       count(*) AS n_docs,
       round(CAST(sum(CAST(logw AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_log_weight,
       CAST(sum(CASE WHEN logw > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_target_like
FROM scored GROUP BY source ORDER BY source
"""


@register("dsir_importance_weights", oracle=_DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): score every raw
    document by the mean token log-likelihood ratio between a TARGET
    distribution (here the lang='en' slice, standing in for the
    high-quality target corpus) and the RAW distribution, both
    add-one-smoothed over the shared vocabulary. Documents with
    positive log-weight look more like the target than like the crawl
    — importance resampling selects ∝ exp(logw). Per-source averages
    show which feeds the selection would favor.

    Plan shape: ONE token census pass computes raw and target counts
    together (conditional partial aggs — no second scan of the
    corpus); the census and the 1-row totals broadcast
    (vocabulary-bounded); per-doc scores are one doc-keyed agg. Two
    linear shuffles total at any corpus size."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(tokens(F.lower(F.col("text")))).alias("w"),
    )
    census = toks.groupBy("w").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("c_tgt"),
    )
    totals = census.agg(
        F.sum("c_raw").cast("double").alias("t_raw"),
        F.sum("c_tgt").cast("double").alias("t_tgt"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    scored = (
        toks.join(F.broadcast(census), "w")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.round(
                F.sum(
                    F.log(
                        ((F.col("c_tgt") + 1) / (F.col("t_tgt") + F.col("v")))
                        / ((F.col("c_raw") + 1) / (F.col("t_raw") + F.col("v")))
                    )
                )
                / F.count(F.lit(1)),
                6,
            ).alias("logw"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("logw").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_log_weight"),
            F.sum(F.when(F.col("logw") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_target_like"),
        )
        .orderBy("source")
    )


# --- SemDeDup: within-cell semantic near-duplicate census -------------


def _semantic_dedup_oracle() -> str:
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
dups AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({cosine_sql("a.v", "b.v")}, 6) >= 0.30
),
dup_vecs AS (
  SELECT cell, id_a AS vec_id FROM dups
  UNION
  SELECT cell, id_b AS vec_id FROM dups
)
SELECT c.cell,
       count(*) AS n_vecs,
       coalesce(any_value(p.n_dup_pairs), 0) AS n_dup_pairs,
       coalesce(any_value(dv.n_dup_vecs), 0) AS n_dup_vecs
FROM cells c
LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs
           FROM dups GROUP BY cell) p ON p.cell = c.cell
LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_vecs
           FROM dup_vecs GROUP BY cell) dv ON dv.cell = c.cell
GROUP BY c.cell ORDER BY c.cell
"""


@register("semantic_dedup_cells", oracle=_semantic_dedup_oracle())
def semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) census: embeddings are bucketed by
    their nearest FROZEN k-means centroid (the committed
    operators.ivf_codebook literals — same assignment as
    `sim_topk_ivf_kmeans`), and near-duplicate pairs (cosine ≥ 0.30)
    are confirmed WITHIN cells only. Per cell: occupancy, duplicate
    pairs, and distinct vectors involved — the census that sizes how
    much a semantic dedup pass would remove.

    Plan shape: cell assignment is a literal-folded argmin (narrow
    map, no join); the pairwise confirm is an equi-join on cell id, so
    the quadratic work is bounded per cell — the whole point of
    SemDeDup: at corpus scale you raise the number of cells ∝ √N and
    cap cell occupancy, never all-pairs. Rollups are cell-keyed."""
    from ocean_data_pipeline_spark.operators.ivf_codebook import FROZEN_CENTROIDS
    from ocean_data_pipeline_spark.operators.similarity import _frozen_cell_distances

    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    d2 = _frozen_cell_distances(F.col("v"), FROZEN_CENTROIDS)
    # Materialize the assignment ONCE: three plan branches (both pair
    # sides + occupancy) would otherwise each re-run the literal-folded
    # argmin AND re-compile its 16x64-literal codegen (~2s apiece).
    # This is the index-build posture anyway: assignment is written
    # once, probed many times. Values are deterministic, so parity is
    # unaffected.
    cells = (
        emb.withColumn(
            "cell", (F.array_position(d2, F.array_min(d2)) - 1).cast("int")
        )
        # Precompute the norm ONCE per vector: the pairwise confirm
        # reads |cells|² /cell pairs, and cosine-from-scratch would
        # re-fold both norms per PAIR (2·pairs folds vs |cells| folds —
        # the cosine_near_dup_pairs rule). Materialize the assignment
        # too: three plan branches (both pair sides + occupancy) would
        # each re-run the literal-folded argmin otherwise.
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.zip_with("v", "v", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        .localCheckpoint(eager=True)
    )
    a = cells.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cells.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(dot / (F.col("na") * F.col("nb")), 6) >= 0.30)
        .select("cell", "id_a", "id_b")
    )
    occupancy = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    # ONE pass over the pairwise-confirm join: pair_counts + a
    # union-of-two-selects dup_vecs would build the |cells|²-per-cell
    # cosine subtree three times (the clustering_coefficient_census
    # lesson); exploding both endpoints gives exactly 2 rows per pair,
    # so pairs = count/2 and distinct endpoints in the same aggregate.
    dup_stats = (
        dups.select(
            "cell", F.explode(F.array("id_a", "id_b")).alias("vec_id")
        )
        .groupBy("cell")
        .agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_dup_pairs"),
            F.countDistinct("vec_id").cast("bigint").alias("n_dup_vecs"),
        )
    )
    return (
        occupancy.join(dup_stats, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce("n_dup_pairs", F.lit(0).cast("bigint")).alias("n_dup_pairs"),
            F.coalesce("n_dup_vecs", F.lit(0).cast("bigint")).alias("n_dup_vecs"),
        )
        .orderBy("cell")
    )


# --- cluster-balanced (diversity-preserving) sampling -----------------


def _cells_cte() -> str:
    """DuckDB CTE assigning every embedding to its nearest frozen
    centroid — shared by the SemDeDup census and the balanced sampler."""
    from ocean_data_pipeline_spark.operators.ivf_codebook import FROZEN_CENTROIDS

    rows = ",\n  ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(FROZEN_CENTROIDS)
    )
    return f"""cents(cell, center) AS (VALUES
  {rows}
),
emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dists AS (
  SELECT e.vec_id, e.label, e.v, c.cell,
         list_sum(list_transform(generate_series(1, len(e.v)),
                  i -> (e.v[i] - c.center[i]) * (e.v[i] - c.center[i]))) AS d2
  FROM emb e CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, label, v, cell FROM (
    SELECT vec_id, label, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dists
  ) WHERE rn = 1
)"""


_BALANCED_SAMPLE_ORACLE = f"""
WITH {_cells_cte()},
ranked AS (
  SELECT cell, vec_id,
         row_number() OVER (
           PARTITION BY cell
           ORDER BY sha256('bal_' || CAST(vec_id AS VARCHAR)), vec_id
         ) AS rk
  FROM cells
)
SELECT cell,
       CAST((SELECT count(*) FROM cells c2 WHERE c2.cell = ranked.cell)
            AS BIGINT) AS n_vecs,
       CAST(count(*) AS BIGINT) AS n_kept,
       min(vec_id) AS first_kept
FROM ranked WHERE rk <= 20
GROUP BY cell ORDER BY cell
"""


@register("cluster_balanced_sampling", oracle=_BALANCED_SAMPLE_ORACLE)
def cluster_balanced_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-preserving sampling: cap every frozen k-means cell at
    20 members, chosen by a salted-hash shuffle order (deterministic,
    partition-invariant) — the cluster-balanced downsampling that keeps
    a corpus's semantic spread while flattening over-represented modes
    (the sampling side of SemDeDup). Census per cell: occupancy vs
    kept.

    Plan shape: cell assignment is the literal-folded argmin; the cap
    is a cell-partitioned row_number window (per-cell top-k at scale —
    cells are the partition key, so no global sort); occupancy comes
    from the same assignment relation."""
    from ocean_data_pipeline_spark.operators.ivf_codebook import FROZEN_CENTROIDS
    from ocean_data_pipeline_spark.operators.similarity import _frozen_cell_distances

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    d2 = _frozen_cell_distances(F.col("v"), FROZEN_CENTROIDS)
    cells = emb.select(
        "vec_id", (F.array_position(d2, F.array_min(d2)) - 1).cast("int").alias("cell")
    )
    w = Window.partitionBy("cell").orderBy(
        F.sha2(F.concat(F.lit("bal_"), F.col("vec_id").cast("string")), 256),
        F.asc("vec_id"),
    )
    kept = cells.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 20)
    occupancy = cells.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    return (
        kept.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.min("vec_id").alias("first_kept"),
        )
        .join(occupancy, "cell")
        .select("cell", "n_vecs", "n_kept", "first_kept")
        .orderBy("cell")
    )


# --- cell label-purity entropy ----------------------------------------

_CELL_PURITY_ORACLE = f"""
WITH {_cells_cte()},
counts AS (
  SELECT cell, label, count(*) AS c FROM cells GROUP BY cell, label
),
tot AS (SELECT cell, sum(c) AS n FROM counts GROUP BY cell)
SELECT c.cell,
       CAST(any_value(t.n) AS BIGINT) AS n_vecs,
       CAST(count(*) AS BIGINT) AS n_labels,
       round(CAST(max(c.c) AS DOUBLE) / any_value(t.n), 6) AS purity,
       round(ln(CAST(any_value(t.n) AS DOUBLE))
             - sum(c.c * ln(CAST(c.c AS DOUBLE))) / any_value(t.n), 6)
         AS label_entropy
FROM counts c JOIN tot t ON t.cell = c.cell
GROUP BY c.cell ORDER BY c.cell
"""


@register("cell_label_purity", oracle=_CELL_PURITY_ORACLE)
def cell_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: per frozen cell, the label
    distribution's purity (majority-label share) and Shannon entropy
    via the exact-integer identity H = ln(n) − Σc·ln(c)/n (logs of
    integers only — the `char_entropy_quality` trick, so both engines
    compute identical doubles before rounding). High-entropy cells are
    where centroid routing mixes topics — the eval that gates using
    cells for mixture balancing.

    Plan shape: literal-folded assignment, one (cell,label) partial
    agg, one cell rollup. No joins against anything corpus-sized."""
    from ocean_data_pipeline_spark.operators.ivf_codebook import FROZEN_CENTROIDS
    from ocean_data_pipeline_spark.operators.similarity import _frozen_cell_distances

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    d2 = _frozen_cell_distances(F.col("v"), FROZEN_CENTROIDS)
    cells = emb.select(
        "label", (F.array_position(d2, F.array_min(d2)) - 1).cast("int").alias("cell")
    )
    counts = cells.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("cell")
        .agg(
            F.sum("c").cast("bigint").alias("n_vecs"),
            F.count(F.lit(1)).cast("bigint").alias("n_labels"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("purity"),
            F.round(
                F.log(F.sum("c").cast("double"))
                - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c"),
                6,
            ).alias("label_entropy"),
        )
        .orderBy("cell")
    )


# --- Naive Bayes lexical-signal probe ---------------------------------

_NB_ORACLE = """
WITH d AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
toks AS (SELECT doc_id, lang, unnest(arr) AS token FROM d),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
),
classes AS (
  SELECT lang, count(*) AS n_c FROM d GROUP BY lang
),
n_docs AS (SELECT count(*) AS n FROM d),
vocab AS (SELECT DISTINCT token FROM toks),
v_size AS (SELECT count(*) AS v FROM vocab),
tc AS (
  SELECT lang, token, count(*) AS cnt FROM toks GROUP BY lang, token
),
class_tokens AS (
  SELECT lang, count(*) AS tok_c FROM toks GROUP BY lang
),
model AS (
  SELECT c.lang, vb.token,
         ln((coalesce(tc.cnt, 0) + 1.0) / (ct.tok_c + vs.v)) AS lnp
  FROM classes c
  CROSS JOIN vocab vb
  CROSS JOIN v_size vs
  JOIN class_tokens ct ON ct.lang = c.lang
  LEFT JOIN tc ON tc.lang = c.lang AND tc.token = vb.token
),
scored AS (
  SELECT tf.doc_id, m.lang,
         sum(CAST(tf.tf * m.lnp AS DECIMAL(28,12)))
           + any_value(CAST(ln(CAST(c.n_c AS DOUBLE) / n.n)
                            AS DECIMAL(28,12))) AS score
  FROM tf
  JOIN model m ON m.token = tf.token
  JOIN classes c ON c.lang = m.lang
  CROSS JOIN n_docs n
  GROUP BY tf.doc_id, m.lang
),
pred AS (
  SELECT doc_id, lang AS predicted
  FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT d.lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN p.predicted = d.lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(sum(CASE WHEN p.predicted = d.lang THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 4) AS accuracy
FROM d JOIN pred p USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


@register("nb_lang_signal_probe", oracle=_NB_ORACLE)
def nb_lang_signal_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes resubstitution probe: train token
    likelihoods (Laplace α=1) and class priors on the corpus, score
    every doc, report per-class accuracy — the "is this metadata label
    predictable from content?" diagnostic a training pipeline runs
    before trusting a label for filtering or stratification. On this
    corpus the verdict is NEGATIVE by construction (lang labels are
    assigned independently of the shared synthetic vocabulary), so
    per-class accuracy hugs the prior-dominated baseline (the
    majority class scores high on prior mass alone, minority classes
    barely above chance) and the probe reports exactly that — the
    honest no-signal readout, same spirit as
    `label_centroid_confusion` for embeddings.

    Determinism: per-(doc, class) log-likelihoods accumulate as
    DECIMAL(28,12)-cast terms (the cross-term-sum device), so argmax
    ties are exact and break on the class name.

    Plan shape: the model is a V×C grid (a few hundred rows) built
    from two partial aggs and broadcast into the scoring join; scoring
    is one (doc, token) tf relation joined against it — fanout ×C,
    map-side — then a per-doc C-row window. One corpus scan for tf +
    one for the label join; nothing quadratic."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            "lang",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("arr"),
        )
    )
    toks = d.select("doc_id", "lang", F.explode("arr").alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    classes = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_c"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    vocab = toks.select("token").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).alias("v"))
    tc = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    class_tokens = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("tok_c"))
    model = (
        classes.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(v_size))
        .join(F.broadcast(class_tokens), "lang")
        .join(F.broadcast(tc), ["lang", "token"], "left")
        .select(
            "lang",
            "token",
            "n_c",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                / (F.col("tok_c") + F.col("v"))
            ).alias("lnp"),
        )
    )
    prior = F.log(F.col("n_c").cast("double") / F.col("n"))
    scored = (
        tf.join(F.broadcast(model), "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.sum((F.col("tf") * F.col("lnp")).cast("decimal(28,12)"))
                + F.first(prior.cast("decimal(28,12)"))
            ).alias("score")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    pred = (
        scored.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("predicted"))
    )
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


# --- Chao1 richness + Good-Turing coverage ----------------------------

_CHAO1_ORACLE = """
WITH tok AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
),
census AS (
  SELECT source, t, count(*) AS c FROM tok GROUP BY source, t
),
ff AS (
  SELECT source,
         count(*) AS d,
         sum(c) AS n,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM census GROUP BY source
)
SELECT source,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(d AS BIGINT) AS observed_vocab,
       CAST(f1 AS BIGINT) AS singletons,
       CAST(f2 AS BIGINT) AS doubletons,
       d + CAST(f1 AS DOUBLE) * (f1 - 1) / (2 * (f2 + 1)) AS chao1_richness,
       1 - CAST(f1 AS DOUBLE) / n AS good_turing_coverage
FROM ff
ORDER BY source
"""


@register("chao1_vocab_richness", oracle=_CHAO1_ORACLE)
def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per source via the Chao1 estimator (Chao,
    Scand.J.Stat'84, bias-corrected form D + f1(f1-1)/(2(f2+1))) plus
    Good-Turing sample coverage 1 - f1/N — how much unseen vocabulary a
    corpus slice still hides, the question a data-mixing pipeline asks
    before deciding a source is exhausted (`nucleus_vocab_census`'s
    forward-looking sibling). Both estimators are exact integer ratios
    of the frequency-of-frequencies — no libm at all.

    Plan shape: explode to tokens, one shuffle to the (source, token)
    census, one map-side-combining rollup to 4 counters per source.
    At 100 TB the token census is the only row-scale stage; the
    frequency-of-frequencies rollup is vocabulary-sized. spread=True:
    tokenization dominates a row exchange on degenerate scans."""
    from ocean_data_pipeline_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    census = (
        docs.select("source", F.explode(tokens(F.lower(F.col("text")))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ff = census.groupBy("source").agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
    )
    return ff.select(
        "source",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("d").cast("bigint").alias("observed_vocab"),
        F.col("f1").cast("bigint").alias("singletons"),
        F.col("f2").cast("bigint").alias("doubletons"),
        (
            F.col("d")
            + F.col("f1").cast("double") * (F.col("f1") - 1) / (2 * (F.col("f2") + 1))
        ).alias("chao1_richness"),
        (1 - F.col("f1").cast("double") / F.col("n")).alias("good_turing_coverage"),
    ).orderBy("source")


# --- Kneser-Ney smoothed bigram LM ------------------------------------

_KN_D = 0.75

_KN_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
big AS (
  SELECT w1, w2, count(*) AS c2 FROM (
    SELECT unnest(list_transform(generate_series(1, len(arr) - 1),
                                 i -> arr[i])) AS w1,
           unnest(list_transform(generate_series(1, len(arr) - 1),
                                 i -> arr[i + 1])) AS w2
    FROM d WHERE len(arr) >= 2
  ) GROUP BY w1, w2
),
-- history mass sum_w2 c(w1,w2), NOT the unigram count (they differ
-- where w1 ends a document) — the normalizer the KN closure requires
hist AS (SELECT w1, sum(c2) AS h1, count(*) AS np1 FROM big GROUP BY w1),
npre AS (SELECT w2, count(*) AS np2 FROM big GROUP BY w2),
btypes AS (SELECT count(*) AS b FROM big),
trans AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(arr) - 1),
                               i -> arr[i])) AS w1,
         unnest(list_transform(generate_series(1, len(arr) - 1),
                               i -> arr[i + 1])) AS w2
  FROM d WHERE len(arr) >= 2
),
scored AS (
  SELECT doc_id, any_value(source) AS source,
         round(-sum(ln(
             greatest(CAST(c2 AS DOUBLE) - {_KN_D}, 0) / np.h1
             + ({_KN_D} * np.np1 / np.h1)
               * (CAST(pr.np2 AS DOUBLE) / bt.b)))
               / count(*), 6) AS nll
  FROM trans
  JOIN big USING (w1, w2)
  JOIN hist np ON np.w1 = trans.w1
  JOIN npre pr ON pr.w2 = trans.w2
  CROSS JOIN btypes bt
  GROUP BY doc_id
)
SELECT source,
       count(*) AS n_docs,
       round(CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS avg_nll,
       min(nll) AS min_nll,
       max(nll) AS max_nll,
       CAST(sum(CASE WHEN nll > 3.42 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM scored GROUP BY source ORDER BY source
"""


@register("kneser_ney_bigram_ppl", oracle=_KN_ORACLE)
def kneser_ney_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram scoring (Kneser & Ney, ICASSP'95;
    the Chen-Goodman '99 benchmark winner and KenLM's default):
    P(w2|w1) = max(c(w1w2)-D,0)/c(w1) + D·N1+(w1·)/c(w1) ·
    N1+(·w2)/|bigram types| with D=0.75 — absolute discounting whose
    backoff weights CONTINUATION diversity, not raw frequency, so
    "francisco" (frequent but only after "san") stops outscoring
    genuinely versatile words — the failure `bigram_perplexity_interp`'s
    Jelinek-Mercer interpolation can't fix. Same per-doc NLL / per-
    source rollup shape as the JM query so the two smoothers are
    directly comparable.

    Plan shape: identical posture to the JM query — ONE bigram explode
    feeds the census and the scoring stream; the two continuation-count
    relations are projections of the vocabulary²-bounded bigram census
    and broadcast with it; per-doc NLL is one partial agg on doc_id."""
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    d = docs.select(
        "doc_id", "source", tokens(F.lower(F.col("text"))).alias("arr")
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("arr") - 2),
        lambda i: F.struct(
            F.element_at("arr", i + 1).alias("w1"),
            F.element_at("arr", i + 2).alias("w2"),
        ),
    )
    trans = (
        d.filter(F.size("arr") >= 2)
        .select("doc_id", "source", F.explode(pairs).alias("p"))
        .select("doc_id", "source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    big = trans.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")).localCheckpoint()
    # history mass sum_w2 c(w1,w2), NOT the unigram count (they differ
    # where w1 ends a document) — the normalizer the KN closure requires
    hist = big.groupBy("w1").agg(
        F.sum("c2").alias("h1"), F.count(F.lit(1)).alias("np1")
    )
    npre = big.groupBy("w2").agg(F.count(F.lit(1)).alias("np2"))
    btypes = big.agg(F.count(F.lit(1)).alias("b"))
    p_kn = (
        F.greatest(F.col("c2").cast("double") - _KN_D, F.lit(0.0)) / F.col("h1")
        + (_KN_D * F.col("np1") / F.col("h1"))
        * (F.col("np2").cast("double") / F.col("b"))
    )
    scored = (
        trans.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(hist), "w1")
        .join(F.broadcast(npre), "w2")
        .crossJoin(F.broadcast(btypes))
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.round(-F.sum(F.log(p_kn)) / F.count(F.lit(1)), 6).alias("nll"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_nll"),
            F.min("nll").alias("min_nll"),
            F.max("nll").alias("max_nll"),
            F.sum(F.when(F.col("nll") > 3.42, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


# --- Heaps' law vocabulary growth -------------------------------------

_HEAPS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
tok AS (
  SELECT doc_id, unnest(arr) AS t FROM d
),
firsts AS (  -- each type counts as new vocab in its FIRST document
  SELECT t, min(doc_id) AS first_doc FROM tok GROUP BY t
),
novel AS (
  SELECT first_doc AS doc_id, count(*) AS novel FROM firsts GROUP BY 1
),
per_doc AS (
  SELECT d.doc_id, len(d.arr) AS n_tok, coalesce(nv.novel, 0) AS novel
  FROM d LEFT JOIN novel nv ON nv.doc_id = d.doc_id
),
cumul AS (
  SELECT doc_id,
         sum(n_tok) OVER (ORDER BY doc_id) AS cum_tok,
         sum(novel) OVER (ORDER BY doc_id) AS cum_vocab
  FROM per_doc
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(cum_tok) AS BIGINT) AS total_tokens,
       CAST(max(cum_vocab) AS BIGINT) AS vocab,
       round(regr_slope(ln(CAST(cum_vocab AS DOUBLE)),
                        ln(CAST(cum_tok AS DOUBLE))), 4) AS heaps_beta,
       round(exp(regr_intercept(ln(CAST(cum_vocab AS DOUBLE)),
                                ln(CAST(cum_tok AS DOUBLE)))), 4) AS heaps_k
FROM cumul WHERE cum_tok > 0 AND cum_vocab > 0
"""


@register("heaps_law_fit", oracle=_HEAPS_ORACLE)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^beta of vocabulary growth over the
    corpus in doc-id order (Heaps '78; `zipf_token_slope`'s dual — the
    two exponents are linked by beta ≈ 1/zipf-alpha): each type counts
    as new vocabulary in its FIRST document, prefix sums give the
    (tokens-seen, vocab-seen) growth curve, and the log-log regression
    slope/intercept are the Heaps parameters — the forward-looking
    "how much new vocabulary will 10x more data buy?" readout that
    complements `chao1_vocab_richness`'s fixed-sample estimate.
    Regression via regr_slope/regr_intercept on both engines, rounded
    at 4 dp (the zipf device).

    Plan shape: one token explode feeds the first-occurrence census
    (shuffle on token) and per-doc counts; prefix sums run over the
    doc-count-sized curve; the regression is one aggregate over it.
    spread=True: tokenization dominates a row exchange."""
    from ocean_data_pipeline_spark.operators.text import tokens
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    d = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("arr"))
    tok = d.select("doc_id", F.explode("arr").alias("t"))
    firsts = tok.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("novel")
    )
    per_doc = d.select("doc_id", F.size("arr").alias("n_tok")).join(
        novel, "doc_id", "left"
    ).select(
        "doc_id", "n_tok", F.coalesce(F.col("novel"), F.lit(0)).alias("novel")
    )
    from ocean_data_pipeline_spark.operators.ranks import with_running_aggs

    # the growth curve's prefix sums ride the distributed running-sum
    # device (sampled doc_id bounds — ids grow with the corpus), never
    # a corpus-scale single-partition window
    cumul = with_running_aggs(
        per_doc,
        ["doc_id"],
        "doc_id",
        {"cum_tok": ("n_tok", "sum", True), "cum_vocab": ("novel", "sum", True)},
    ).filter((F.col("cum_tok") > 0) & (F.col("cum_vocab") > 0))
    lv = F.log(F.col("cum_vocab").cast("double"))
    lt = F.log(F.col("cum_tok").cast("double"))
    return cumul.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("cum_tok").cast("bigint").alias("total_tokens"),
        F.max("cum_vocab").cast("bigint").alias("vocab"),
        F.round(F.regr_slope(lv, lt), 4).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(lv, lt)), 4).alias("heaps_k"),
    )


# --- token burstiness (Fano factor) -----------------------------------

_BURST_ORACLE = """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
ndocs AS (SELECT count(*) AS nd FROM d),
percount AS (  -- per (token, doc) occurrence count
  SELECT t.w AS token, doc_id, count(*) AS c
  FROM d, unnest(arr) AS t(w)
  GROUP BY t.w, doc_id
),
tok AS (
  SELECT token,
         sum(c) AS total,
         count(*) AS doc_freq,
         sum(c * c) AS sc2
  FROM percount GROUP BY token
)
SELECT token,
       CAST(total AS BIGINT) AS total_count,
       CAST(doc_freq AS BIGINT) AS doc_freq,
       (CAST(sc2 AS DOUBLE) - CAST(total AS DOUBLE) * total / nd.nd)
         / nd.nd
         / (CAST(total AS DOUBLE) / nd.nd) AS fano_factor
FROM tok CROSS JOIN ndocs nd
ORDER BY total DESC, token
LIMIT 20
"""


@register("token_burstiness", oracle=_BURST_ORACLE)
def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness via the Fano factor (Church & Gale '95):
    variance-to-mean ratio of a token's per-document count over ALL
    documents (absences included via the algebraic expansion — no
    zero-row materialization): Fano ≈ 1 means Poisson scatter; >> 1
    means the token clumps into few documents — the content-word vs
    function-word separation a stopword-learning or keyword-extraction
    pass runs on, complementing frequency-only views
    (`top_tokens`, `zipf_token_slope`). Top-20 by total count; all
    inputs exact integer sums, the Fano chain fixed IEEE.

    Plan shape: one shuffle to the (token, doc) census, one rollup to
    the token relation, broadcast 1-row doc count; top-20 compiles to
    TakeOrderedAndProject. spread=True: tokenization dominates a row
    exchange on degenerate scans."""
    from ocean_data_pipeline_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    d = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("arr"))
    ndocs = d.agg(F.count(F.lit(1)).alias("nd"))
    percount = (
        d.select("doc_id", F.explode("arr").alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok = percount.groupBy("token").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
    )
    nd = F.col("nd")
    mean = F.col("total").cast("double") / nd
    var = (
        F.col("sc2").cast("double")
        - F.col("total").cast("double") * F.col("total") / nd
    ) / nd
    return (
        tok.crossJoin(F.broadcast(ndocs))
        .select(
            "token",
            F.col("total").cast("bigint").alias("total_count"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            (var / mean).alias("fano_factor"),
        )
        .orderBy(F.desc("total_count"), "token")
        .limit(20)
    )


# --- Zipf rank-frequency slope --------------------------------------------

_ZIPF_ORACLE = """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
census AS (
  SELECT token, count(*) AS freq FROM toks GROUP BY token
),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
  FROM census
),
top AS (SELECT * FROM ranked WHERE rank <= 1000),
terms AS (
  SELECT CAST(round(ln(rank), 9) AS DECIMAL(38,9)) AS lx,
         CAST(round(ln(freq), 9) AS DECIMAL(38,9)) AS ly,
         CAST(round(ln(rank) * ln(rank), 9) AS DECIMAL(38,9)) AS lxx,
         CAST(round(ln(rank) * ln(freq), 9) AS DECIMAL(38,9)) AS lxy,
         CAST(round(ln(freq) * ln(freq), 9) AS DECIMAL(38,9)) AS lyy
  FROM top
),
sums AS (
  SELECT count(*) AS n,
         CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
         CAST(sum(lxx) AS DOUBLE) AS sxx, CAST(sum(lxy) AS DOUBLE) AS sxy,
         CAST(sum(lyy) AS DOUBLE) AS syy
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_ranks,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS log_intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r_squared
FROM sums
"""


@register("zipf_slope_fit", oracle=_ZIPF_ORACLE)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token census: OLS of ln(freq) on
    ln(rank) for the top-1000 ranks — slope near -1 is the natural-
    language signature; a flat or broken slope flags synthetic or
    template-heavy corpora. The frequency-side companion of
    `heaps_law_fit` (vocabulary growth) and `token_burstiness`.

    Determinism: the census is exact; ranks come from a total
    (freq desc, token) order; each log term rounds ONCE into
    DECIMAL(38,9) so the regression sums are associative; the OLS
    chain is one fixed IEEE tree.

    Plan shape: one explode scan -> token census shuffle -> top-1000
    rank window -> 1-row regression sums. Census-bounded after the
    scan at any corpus size."""
    from ocean_data_pipeline_spark.operators.text import tokens

    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    census = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = census.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "token"))
        .alias("rank"),
    ).filter(F.col("rank") <= 1000)
    lx, ly = F.log(F.col("rank")), F.log(F.col("freq"))
    dec = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(lx)).cast("double").alias("sx"),
        F.sum(dec(ly)).cast("double").alias("sy"),
        F.sum(dec(lx * lx)).cast("double").alias("sxx"),
        F.sum(dec(lx * ly)).cast("double").alias("sxy"),
        F.sum(dec(ly * ly)).cast("double").alias("syy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        n.cast("bigint").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("log_intercept"),
        F.round(
            (
                (n * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / (
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r_squared"),
    )
