"""Wave 28 (round 7, continued): ridge regression from the same
single-pass moments as OLS, a Flesch-style readability census, and
t-closeness — the third leg of the privacy-risk triad beside
k-anonymity and l-diversity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.queries import register

# --- ridge regression vs OLS from one moment pass -----------------------------

_RIDGE_LAMBDA = "10000.0"

_RIDGE_ORACLE = f"""
WITH m AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s2,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s12,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s22,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y
  FROM lineitem
),
r AS (  -- ridge normal matrix: lambda added to the FEATURE diagonal only
  SELECT n, s1, s2, s11 + {_RIDGE_LAMBDA} AS a11, s12,
         s22 + {_RIDGE_LAMBDA} AS a22, sy, s1y, s2y,
         s11 AS o11, s22 AS o22
  FROM m
),
solved AS (
  SELECT n,
         (sy * (a11 * a22 - s12 * s12)
          - s1 * (s1y * a22 - s12 * s2y)
          + s2 * (s1y * s12 - a11 * s2y))
         / (n * (a11 * a22 - s12 * s12)
            - s1 * (s1 * a22 - s12 * s2)
            + s2 * (s1 * s12 - a11 * s2)) AS rb0,
         (n * (s1y * a22 - s12 * s2y)
          - sy * (s1 * a22 - s12 * s2)
          + s2 * (s1 * s2y - s1y * s2))
         / (n * (a11 * a22 - s12 * s12)
            - s1 * (s1 * a22 - s12 * s2)
            + s2 * (s1 * s12 - a11 * s2)) AS rb1,
         (n * (a11 * s2y - s1y * s12)
          - s1 * (s1 * s2y - s1y * s2)
          + sy * (s1 * s12 - a11 * s2))
         / (n * (a11 * a22 - s12 * s12)
            - s1 * (s1 * a22 - s12 * s2)
            + s2 * (s1 * s12 - a11 * s2)) AS rb2,
         (n * (s1y * o22 - s12 * s2y)
          - sy * (s1 * o22 - s12 * s2)
          + s2 * (s1 * s2y - s1y * s2))
         / (n * (o11 * o22 - s12 * s12)
            - s1 * (s1 * o22 - s12 * s2)
            + s2 * (s1 * s12 - o11 * s2)) AS ob1,
         (n * (o11 * s2y - s1y * s12)
          - s1 * (s1 * s2y - s1y * s2)
          + sy * (s1 * s12 - o11 * s2))
         / (n * (o11 * o22 - s12 * s12)
            - s1 * (s1 * o22 - s12 * s2)
            + s2 * (s1 * s12 - o11 * s2)) AS ob2
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(rb0, 6) AS ridge_intercept,
       round(rb1, 6) AS ridge_beta_quantity,
       round(rb2, 6) AS ridge_beta_discount,
       round(ob1, 6) AS ols_beta_quantity,
       round(ob2, 6) AS ols_beta_discount,
       round(sqrt((rb1 * rb1 + rb2 * rb2) / (ob1 * ob1 + ob2 * ob2)), 6)
         AS coef_shrinkage
FROM solved
"""


@register("ridge_price_regression", oracle=_RIDGE_ORACLE)
def ridge_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge (L2-regularized) regression next to OLS from the SAME ten
    single-pass moments: the normal matrix gains λ on the FEATURE
    diagonal only (the intercept is never penalized), so regularization
    costs zero extra passes — the moments-not-rows discipline of
    `ols_price_regression` extended to the estimator every
    multicollinear feature table actually needs. Reports both solutions
    plus the coefficient-norm shrinkage ratio ‖β_ridge‖/‖β_OLS‖ (< 1 by
    construction for λ > 0).

    Determinism: exact-DECIMAL moment sums cast once to double; both
    Cramer solves are fixed IEEE chains with the λ literal textually
    identical on both engines.

    Plan shape: ONE map-side-combining 1-row aggregate; everything
    after is scalar expressions."""
    lam = float(_RIDGE_LAMBDA)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    m = (
        table(spark, sf_dir, "lineitem")
        .select(
            dec("l_quantity").alias("x1"),
            dec("l_discount").alias("x2"),
            dec("l_extendedprice").alias("y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x1").cast("double").alias("s1"),
            F.sum("x2").cast("double").alias("s2"),
            F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
            F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
            F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
            F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        )
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s12, sy, s1y, s2y = F.col("s12"), F.col("sy"), F.col("s1y"), F.col("s2y")

    def solve(a11, a22):
        det = (
            n * (a11 * a22 - s12 * s12)
            - s1 * (s1 * a22 - s12 * s2)
            + s2 * (s1 * s12 - a11 * s2)
        )
        b0 = (
            sy * (a11 * a22 - s12 * s12)
            - s1 * (s1y * a22 - s12 * s2y)
            + s2 * (s1y * s12 - a11 * s2y)
        )
        b1 = (
            n * (s1y * a22 - s12 * s2y)
            - sy * (s1 * a22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)
        )
        b2 = (
            n * (a11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - a11 * s2)
        )
        return tuple(F.try_divide(b, det) for b in (b0, b1, b2))

    rb0, rb1, rb2 = solve(F.col("s11") + lam, F.col("s22") + lam)
    _, ob1, ob2 = solve(F.col("s11"), F.col("s22"))
    return m.select(
        n.cast("bigint").alias("n_rows"),
        F.round(rb0, 6).alias("ridge_intercept"),
        F.round(rb1, 6).alias("ridge_beta_quantity"),
        F.round(rb2, 6).alias("ridge_beta_discount"),
        F.round(ob1, 6).alias("ols_beta_quantity"),
        F.round(ob2, 6).alias("ols_beta_discount"),
        F.round(
            F.sqrt((rb1 * rb1 + rb2 * rb2) / (ob1 * ob1 + ob2 * ob2)), 6
        ).alias("coef_shrinkage"),
    )


# --- Flesch-style readability census -------------------------------------------

_READABILITY_ORACLE = """
WITH per_doc AS (
  SELECT source,
         greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1)
           AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS syl
  FROM documents WHERE length(trim(text)) > 0
),
fre AS (
  SELECT source,
         206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                 - 84.6 * (CAST(syl AS DOUBLE) / w) AS fre
  FROM per_doc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(fre, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS mean_fre,
       round(min(fre), 9) AS min_fre,
       CAST(sum(CASE WHEN fre < 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_very_difficult
FROM fre GROUP BY source ORDER BY source
"""


@register("readability_census", oracle=_READABILITY_ORACLE)
def readability_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease readability census per source: FRE =
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    syllables approximated as vowel-group counts ([aeiouy]+ runs — the
    standard fast heuristic) and sentences as terminal-punctuation
    runs. Readability is a stock pretraining quality signal (boilerplate
    and OCR noise score absurdly; very-difficult shares flag sources
    needing review) — this completes the quality panel next to the
    Gopher rules and `doc_repetition_census`.

    Determinism: all three per-doc counts are exact integers from the
    same regex semantics on both engines (RE2/ICU agree on these
    character-class patterns); FRE is a fixed chain; per-doc scores
    round ONCE into DECIMAL(28,9) before the source mean.

    Plan shape: one scan, regex counting fused per-row, a source-keyed
    partial agg. A single pass at any scale."""
    txt = F.col("text")
    w = F.greatest(
        F.size(F.split(F.trim(F.lower(txt)), r"\s+")), F.lit(1)
    )
    s = F.greatest(F.regexp_count(txt, F.lit(r"[.!?]+")), F.lit(1))
    syl = F.greatest(
        F.regexp_count(F.lower(txt), F.lit(r"[aeiouy]+")), F.lit(1)
    )
    fre = (
        F.lit(206.835)
        - 1.015 * (w.cast("double") / s)
        - 84.6 * (syl.cast("double") / w)
    )
    per_doc = (
        table(spark, sf_dir, "documents")
        .filter(F.length(F.trim(txt)) > 0)
        .select("source", fre.alias("fre"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.round(F.col("fre"), 9).cast("decimal(28,9)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_fre"),
            F.round(F.min("fre"), 9).alias("min_fre"),
            F.sum(F.when(F.col("fre") < 30, 1).otherwise(0))
            .cast("bigint")
            .alias("n_very_difficult"),
        )
        .orderBy("source")
    )


# --- t-closeness census ---------------------------------------------------------

_TCLOSE_BINS = 10

_TCLOSE_ORACLE = f"""
WITH rng AS (
  SELECT CAST(min(c_acctbal) AS DOUBLE) AS mn,
         CAST(max(c_acctbal) AS DOUBLE) AS mx
  FROM customer
),
binned AS (
  SELECT c_mktsegment AS segment,
         least({_TCLOSE_BINS} - 1,
               CAST(floor((CAST(c_acctbal AS DOUBLE) - r.mn)
                          * {_TCLOSE_BINS} / (r.mx - r.mn)) AS INT)) AS bin
  FROM customer, rng r WHERE r.mx > r.mn
),
spine AS (
  SELECT s.segment, b.bin
  FROM (SELECT DISTINCT segment FROM binned) s
  CROSS JOIN (SELECT unnest(generate_series(0, {_TCLOSE_BINS} - 1)) AS bin) b
),
cells AS (
  SELECT sp.segment, sp.bin, coalesce(c.cnt, 0) AS c_g
  FROM spine sp LEFT JOIN (
    SELECT segment, bin, count(*) AS cnt FROM binned GROUP BY segment, bin
  ) c ON c.segment = sp.segment AND c.bin = sp.bin
),
gbin AS (SELECT bin, CAST(sum(c_g) AS BIGINT) AS c_all FROM cells GROUP BY bin),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM binned),
seg AS (SELECT segment, CAST(sum(c_g) AS BIGINT) AS n_g FROM cells GROUP BY segment),
cum AS (  -- EMD over the ordered bins: sum of |cumulative p - q| gaps,
          -- in exact integer cross-multiplied numerators
  SELECT c.segment,
         abs(sum(c.c_g) OVER (PARTITION BY c.segment ORDER BY c.bin) * t.n
             - sum(g.c_all) OVER (PARTITION BY c.segment ORDER BY c.bin)
               * s.n_g) AS gap_num
  FROM cells c
  JOIN gbin g ON g.bin = c.bin
  JOIN seg s ON s.segment = c.segment
  CROSS JOIN tot t
),
emd AS (
  SELECT cum.segment, s.n_g, t.n,
         CAST(sum(gap_num) AS DOUBLE)
           / (CAST(s.n_g AS DOUBLE) * t.n * ({_TCLOSE_BINS} - 1)) AS t_close
  FROM cum JOIN seg s ON s.segment = cum.segment CROSS JOIN tot t
  GROUP BY cum.segment, s.n_g, t.n
)
SELECT segment,
       CAST(n_g AS BIGINT) AS n_customers,
       round(t_close, 9) AS t_closeness
FROM emd ORDER BY segment
"""


@register("t_closeness_census", oracle=_TCLOSE_ORACLE)
def t_closeness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li et al., ICDE'07) — the third leg of the
    privacy-risk triad beside `k_anonymity_census` and its l-diversity
    readout: per quasi-identifier group (market segment), the Earth
    Mover's Distance between the group's sensitive-attribute
    distribution (account-balance deciles over the global range) and
    the corpus-wide distribution. For an ordered attribute EMD is the
    normalized sum of cumulative-share gaps; a group with small t
    reveals nothing an attacker couldn't infer from the global table.

    Determinism: bins are a fixed chain on the broadcast global
    min/max; every cumulative gap is an EXACT INTEGER cross-multiplied
    numerator (c_g·n − c_all·n_g), divided once at the end — the
    `ks_test_price_by_year` device applied to EMD.

    Plan shape: one binned census (segment × 10 cells via a broadcast
    spine, so empty cells contribute their gap), cumulative windows
    over the 10-bin spine per segment, a segment-level reduce. One
    pass over the table."""
    c = table(spark, sf_dir, "customer")
    rng = c.agg(
        F.min("c_acctbal").cast("double").alias("mn"),
        F.max("c_acctbal").cast("double").alias("mx"),
    )
    binned = (
        c.crossJoin(F.broadcast(rng))
        .filter(F.col("mx") > F.col("mn"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.least(
                F.lit(_TCLOSE_BINS - 1),
                F.floor(
                    (F.col("c_acctbal").cast("double") - F.col("mn"))
                    * _TCLOSE_BINS
                    / (F.col("mx") - F.col("mn"))
                ).cast("int"),
            ).alias("bin"),
        )
    )
    counts = binned.groupBy("segment", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    segs = binned.select("segment").distinct()
    bins = spark.range(_TCLOSE_BINS).select(F.col("id").cast("int").alias("bin"))
    spine = segs.crossJoin(F.broadcast(bins))
    cells = spine.join(F.broadcast(counts), ["segment", "bin"], "left").select(
        "segment", "bin", F.coalesce("cnt", F.lit(0)).alias("c_g")
    )
    glob = cells.groupBy("bin").agg(F.sum("c_g").cast("bigint").alias("c_all"))
    tot = binned.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    seg = cells.groupBy("segment").agg(
        F.sum("c_g").cast("bigint").alias("n_g")
    )
    wo = (
        Window.partitionBy("segment")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        cells.join(F.broadcast(glob), "bin")
        .join(F.broadcast(seg), "segment")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n_g",
            "n",
            F.abs(
                F.sum("c_g").over(wo) * F.col("n")
                - F.sum("c_all").over(wo) * F.col("n_g")
            ).alias("gap_num"),
        )
    )
    return (
        cum.groupBy("segment", "n_g", "n")
        .agg(F.sum("gap_num").cast("double").alias("gap_sum"))
        .select(
            "segment",
            F.col("n_g").cast("bigint").alias("n_customers"),
            F.round(
                F.col("gap_sum")
                / (
                    F.col("n_g").cast("double")
                    * F.col("n")
                    * (_TCLOSE_BINS - 1)
                ),
                9,
            ).alias("t_closeness"),
        )
        .orderBy("segment")
    )
