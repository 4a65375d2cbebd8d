"""Wave 30: graph partition quality, exact small-sample inference,
robust + spectral regression depth, and symbolic/drift time-series.

- `modularity_brand_partition`: Newman modularity Q of the co-purchase
  graph under the part-brand partition — "is brand a real community
  structure?" (the readout that grades any clustering of a near-dup
  or co-occurrence graph).
- `fisher_exact_monthly`: Fisher's exact test (right tail) on the
  2x2 of (late era) x (above-mean revenue) over the month census —
  the small-n exact alternative to the chi-square family.
- `mcnemar_doc_rules`: McNemar's paired test for two document quality
  rules (length vs token-count gates) — do the rules disagree
  symmetrically?
- `huber_regression_irls`: Huber M-estimator regression (3 unrolled
  IRLS rounds, w = min(1, K/|r|)) — the bounded-influence middle
  ground between `ols_price_regression` and `quantile_regression_lad`.
- `sax_monthly_revenue`: SAX symbolization of monthly revenue (PAA to
  12 segments, 4-symbol Gaussian-breakpoint alphabet) — the discrete
  shape signature used for motif/novelty mining over series.
- `page_hinkley_revenue`: Page-Hinkley change detection on monthly
  revenue — the classic sequential drift alarm.
- `pca_axis_lineitem`: exact 2x2 PCA (closed-form eigendecomposition
  of the (quantity, price) covariance) — principal axis + explained
  variance from one aggregate pass.

Determinism strategy (wave-11+ devices): cross-row float reductions
round ONCE into DECIMAL before summing; per-row chains are fixed IEEE
expressions identical on both engines; inner log-sums for the exact
test accumulate in DECIMAL so list order is irrelevant. All windows
run over the bounded month census (PLANS.md round-8 table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.monthly import (
    YEAR_MONTH,
    monthly_revenue,
    monthly_revenue_sql,
    year_month,
)
from ocean_data_pipeline_spark.operators.portable import vh
from ocean_data_pipeline_spark.queries import register
from ocean_data_pipeline_spark.queries.graph_ops import (
    _EDGES_SQL,
    _copurchase_edges,
)
from ocean_data_pipeline_spark.queries.wave29_ops import (
    robust_line_fit,
    robust_line_oracle,
)

# --- Newman modularity of the brand partition ------------------------------

_MODULARITY_ORACLE = f"""
WITH {_EDGES_SQL},
bm AS (SELECT p_partkey, p_brand FROM part),
eb AS (
  SELECT ba.p_brand AS brand_a, bb.p_brand AS brand_b
  FROM edges e
  JOIN bm ba ON ba.p_partkey = e.pa
  JOIN bm bb ON bb.p_partkey = e.pb
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
dc AS (  -- community degree sums: each edge endpoint contributes 1
  SELECT brand, CAST(sum(cnt) AS BIGINT) AS d_c FROM (
    SELECT brand_a AS brand, count(*) AS cnt FROM eb GROUP BY 1
    UNION ALL
    SELECT brand_b AS brand, count(*) AS cnt FROM eb GROUP BY 1
  ) GROUP BY brand
),
ec AS (
  SELECT brand_a AS brand, CAST(count(*) AS BIGINT) AS e_c
  FROM eb WHERE brand_a = brand_b GROUP BY 1
),
terms AS (
  SELECT d.brand,
         CAST(round(
           CAST(coalesce(e.e_c, 0) AS DOUBLE) / m.m
           - (CAST(d.d_c AS DOUBLE) / (2 * m.m))
             * (CAST(d.d_c AS DOUBLE) / (2 * m.m)), 12)
         AS DECIMAL(28,12)) AS q_term,
         coalesce(e.e_c, 0) AS e_c
  FROM dc d LEFT JOIN ec e ON e.brand = d.brand, m
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM dc) AS n_communities,
       (SELECT m FROM m) AS n_edges,
       CAST(sum(e_c) AS BIGINT) AS n_within_edges,
       round(CAST(sum(q_term) AS DOUBLE), 6) AS modularity
FROM terms
"""


@register("modularity_brand_partition", oracle=_MODULARITY_ORACLE)
def modularity_brand_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q = Σ_c (e_c/m − (d_c/2m)²) of the co-purchase
    graph under the part-BRAND partition: Q near 0 says brands are not
    purchase communities; Q > ~0.3 would say they are. This is the
    partition-quality readout any graph clustering (near-dup
    components, co-purchase segments) is graded with.

    Determinism: e_c, d_c, m are exact integers; each community's Q
    term rounds ONCE into DECIMAL(28,12) before the Σ over the ≤25-
    brand census (TPC-H brands are 'Brand#ij', i,j ∈ 1..5).

    Plan shape: edge census (localCheckpointed) + two partkey equi-
    joins to attach brands, then brand-keyed partial aggs — everything
    shuffles on keys, censuses are brand-sized. At 100 TB the brand
    relation joins stay edge-linear; nothing is quadratic."""
    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    bm = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    eb = (
        edges.join(
            bm.select(
                F.col("p_partkey").alias("pa"), F.col("p_brand").alias("brand_a")
            ),
            "pa",
        )
        .join(
            bm.select(
                F.col("p_partkey").alias("pb"), F.col("p_brand").alias("brand_b")
            ),
            "pb",
        )
        .select("brand_a", "brand_b")
    )
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    dc = (
        eb.select(F.col("brand_a").alias("brand"))
        .unionAll(eb.select(F.col("brand_b").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    ec = (
        eb.filter(F.col("brand_a") == F.col("brand_b"))
        .groupBy(F.col("brand_a").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    half = F.col("d_c").cast("double") / (2 * F.col("m"))
    q_term = F.round(
        F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / F.col("m")
        - half * half,
        12,
    ).cast("decimal(28,12)")
    terms = (
        dc.join(ec, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            q_term.alias("q_term"),
            F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
        )
    )
    n_comm = dc.agg(F.count(F.lit(1)).cast("bigint").alias("n_communities"))
    return (
        terms.agg(
            F.sum("e_c").cast("bigint").alias("n_within_edges"),
            F.round(F.sum("q_term").cast("double"), 6).alias("modularity"),
        )
        .crossJoin(F.broadcast(n_comm))
        .crossJoin(F.broadcast(m))
        .select(
            "n_communities",
            F.col("m").alias("n_edges"),
            "n_within_edges",
            "modularity",
        )
    )


# --- Fisher's exact test on the month census -------------------------------

# ln C(n, k) as an EXACT-DECIMAL sum of per-i rounded log terms:
# Σ_{i=1..k} round(ln((n-k+i)/i), 12) :: DECIMAL(28,12). Rounding each
# term once makes the sum order-free (decimal addition is exact), so
# Spark's fold and DuckDB's list_aggregate agree bit-for-bit.
_LNC_SQL = """(
  CASE WHEN {k} > 0 THEN coalesce(list_aggregate(list_transform(
    generate_series(1, {k}),
    i -> CAST(round(ln((({n}) - ({k}) + i) * 1.0 / i), 12)
         AS DECIMAL(28,12))), 'sum'), CAST(0 AS DECIMAL(28,12)))
  ELSE CAST(0 AS DECIMAL(28,12)) END
)"""

_FISHER_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
mu AS (
  SELECT CAST(sum(x) AS DOUBLE) / count(*) AS mu FROM m
),
cells AS (
  SELECT
    CAST(sum(CASE WHEN y >= 1996 AND CAST(x AS DOUBLE) > mu THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN y >= 1996 AND CAST(x AS DOUBLE) <= mu THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN y < 1996 AND CAST(x AS DOUBLE) > mu THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN y < 1996 AND CAST(x AS DOUBLE) <= mu THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM m, mu
),
dims AS (
  SELECT a, b, c, d, a + b AS k1, a + c AS n1, a + b + c + d AS nn,
         least(a + b, a + c) AS kmax
  FROM cells
),
terms AS (
  SELECT d.a, d.b, d.c, d.d, d.nn,
         CAST(round(exp(CAST(
           {_LNC_SQL.format(n="d.k1", k="t.k")}
           + {_LNC_SQL.format(n="d.nn - d.k1", k="d.n1 - t.k")}
           - {_LNC_SQL.format(n="d.nn", k="d.n1")}
         AS DOUBLE)), 18) AS DECIMAL(38,18)) AS p_term
  FROM dims d, (SELECT unnest(generate_series(0, 200)) AS k) t
  WHERE t.k >= d.a AND t.k <= d.kmax
)
SELECT max(nn) AS n_months, max(a) AS n_late_high,
       round(CAST(sum(p_term) AS DOUBLE), 8) AS p_right_tail,
       CASE WHEN max(b) * max(c) > 0
            THEN round(CAST(max(a) AS DOUBLE) * max(d)
                       / (CAST(max(b) AS DOUBLE) * max(c)), 6)
       END AS odds_ratio
FROM terms
"""


@register("fisher_exact_monthly", oracle=_FISHER_ORACLE)
def fisher_exact_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test (right tail) for association between era
    (year ≥ 1996) and above-mean monthly revenue over the ≤84-month
    census — the exact hypergeometric inference that chi-square
    approximations replace only when n is large; on a month-sized
    table the exact test is the correct tool.

    Determinism: the 2x2 cells are integers off exact decimal sums;
    each ln C(n,k) is an exact-DECIMAL sum of per-i rounded log terms
    (order-free), the per-k hypergeometric probability is one exp over
    those decimals, rounded ONCE into DECIMAL(38,18) before the tail
    sum. The k grid is a bounded explode (≤ month count ≤ 84; the
    oracle enumerates k ≤ 200 and filters — same set).

    Plan shape: one fact-scan aggregate to the month census, a 1-row
    2x2, then a ≤84-element sequence explode with all combinatorics
    as per-row expression chains. Nothing beyond the first aggregate
    scales with data."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month())
    mu = m.agg((F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"))
    late = F.col("y") >= 1996
    high = F.col("x").cast("double") > F.col("mu")
    cells = m.crossJoin(F.broadcast(mu)).agg(
        F.sum(F.when(late & high, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(late & ~high, 1).otherwise(0)).cast("bigint").alias("b"),
        F.sum(F.when(~late & high, 1).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(~late & ~high, 1).otherwise(0)).cast("bigint").alias("d"),
    )
    dims = cells.select(
        "a", "b", "c", "d",
        (F.col("a") + F.col("b")).alias("k1"),
        (F.col("a") + F.col("c")).alias("n1"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("nn"),
        F.least(F.col("a") + F.col("b"), F.col("a") + F.col("c")).alias("kmax"),
    )

    dec0 = F.lit(0).cast("decimal(28,12)")

    def lnc(n, k):  # exact-decimal Σ ln((n-k+i)/i), guarded for k = 0
        return F.when(
            k > 0,
            F.aggregate(
                F.sequence(F.lit(1).cast("long"), k.cast("long")),
                dec0,
                lambda acc, i: (
                    acc
                    + F.round(
                        F.log((n - k + i).cast("double") / i.cast("double")), 12
                    ).cast("decimal(28,12)")
                ).cast("decimal(28,12)"),
            ),
        ).otherwise(dec0)

    ks = dims.select(
        "a", "b", "c", "d", "k1", "n1", "nn",
        F.explode(F.sequence(F.col("a"), F.col("kmax"))).alias("k"),
    )
    k = F.col("k")
    p_term = F.round(
        F.exp(
            (
                lnc(F.col("k1"), k)
                + lnc(F.col("nn") - F.col("k1"), F.col("n1") - k)
                - lnc(F.col("nn"), F.col("n1"))
            ).cast("double")
        ),
        18,
    ).cast("decimal(38,18)")
    return ks.select("a", "b", "c", "d", "nn", p_term.alias("p_term")).agg(
        F.max("nn").alias("n_months"),
        F.max("a").alias("n_late_high"),
        F.round(F.sum("p_term").cast("double"), 8).alias("p_right_tail"),
        F.when(
            F.max("b") * F.max("c") > 0,
            F.round(
                F.max("a").cast("double")
                * F.max("d")
                / (F.max("b").cast("double") * F.max("c")),
                6,
            ),
        ).alias("odds_ratio"),
    )


# --- McNemar's paired test over two document rules --------------------------

_MCN_LEN = 300
_MCN_TOK = 60

# Abramowitz-Stegun 26.2.17 normal tail (the audits._PHI_TAIL device,
# inlined so this module has no import-order coupling)
_PHI_K_MCN = "(1 / (1 + 0.2316419 * ({z})))"
_PHI_TAIL_MCN = (
    "(exp(-({z}) * ({z}) / 2) / sqrt(2 * pi()) * " + _PHI_K_MCN + " * "
    "(0.319381530 + " + _PHI_K_MCN + " * (-0.356563782 + " + _PHI_K_MCN + " * "
    "(1.781477937 + " + _PHI_K_MCN + " * (-1.821255978 + " + _PHI_K_MCN
    + " * 1.330274429)))))"
)

_MCNEMAR_ORACLE = f"""
WITH r AS (
  SELECT CASE WHEN length(text) >= {_MCN_LEN} THEN 1 ELSE 0 END AS ra,
         CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   >= {_MCN_TOK} THEN 1 ELSE 0 END AS rb
  FROM documents WHERE length(trim(text)) > 0
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM r
),
s AS (
  SELECT n_docs, b, c, agree,
         CASE WHEN b + c > 0
              THEN (abs(CAST(b AS DOUBLE) - c) - 1)
                   * (abs(CAST(b AS DOUBLE) - c) - 1) / (b + c) END AS stat
  FROM cells
)
SELECT n_docs, b AS n_a_only, c AS n_b_only,
       round(CAST(agree AS DOUBLE) / n_docs, 6) AS agree_rate,
       round(stat, 6) AS mcnemar_chi2,
       round(2 * {_PHI_TAIL_MCN.format(z="sqrt(stat)")}, 8) AS p_value
FROM s
"""


@register("mcnemar_doc_rules", oracle=_MCNEMAR_ORACLE)
def mcnemar_doc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (continuity-corrected) for two paired document
    quality rules — A: char length ≥ 300, B: whitespace-token count
    ≥ 60 — over the documents table: the b-vs-c discordance test that
    says whether one gate systematically passes docs the other fails
    (the right test when comparing two FILTERS on the SAME corpus;
    an unpaired chi-square would be wrong here).

    Determinism: b, c, agree are exact integers off one scan; the
    statistic and the chi-square(1df) tail p = 2·Φtail(√stat)
    (Abramowitz-Stegun 26.2.17, the repo-standard polynomial) are one
    fixed IEEE chain on those integers. Degenerate b+c = 0 yields NULL
    stat/p on both engines.

    Plan shape: one scan, all rule evaluation map-side in codegen, a
    single 4-cell aggregate. Embarrassingly scalable."""
    docs = table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    ra = (F.length("text") >= _MCN_LEN).cast("int")
    rb = (
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= _MCN_TOK
    ).cast("int")
    cells = docs.select(ra.alias("ra"), rb.alias("rb")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    bd = F.col("b").cast("double")
    stat = F.when(
        F.col("b") + F.col("c") > 0,
        (F.abs(bd - F.col("c")) - 1)
        * (F.abs(bd - F.col("c")) - 1)
        / (F.col("b") + F.col("c")),
    )
    s = cells.select("n_docs", "b", "c", "agree", stat.alias("stat"))
    return s.select(
        "n_docs",
        F.col("b").alias("n_a_only"),
        F.col("c").alias("n_b_only"),
        F.round(F.col("agree").cast("double") / F.col("n_docs"), 6).alias(
            "agree_rate"
        ),
        F.round("stat", 6).alias("mcnemar_chi2"),
        F.round(
            2 * F.expr(_PHI_TAIL_MCN.format(z="sqrt(stat)")), 8
        ).alias("p_value"),
    )


# --- Huber M-estimator regression by unrolled IRLS --------------------------

_HUBER_K = 20000.0  # fixed tuning constant on price residuals (docstring)


@register(
    "huber_regression_irls",
    oracle=robust_line_oracle(
        f"least(1.0, {_HUBER_K} / greatest(abs({{r}}), 1e-12))"
    ),
)
def huber_regression_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator regression of extendedprice on quantity via 3
    unrolled IRLS rounds with w = min(1, K/|r|), K = 20000 (a FIXED
    tuning constant — documented, not data-estimated, so both engines
    and any partitioning agree) — the bounded-influence compromise
    between `ols_price_regression` (L2, outlier-dragged) and
    `quantile_regression_lad` (L1): quadratic loss near the line,
    linear beyond K.

    Determinism, body and plan shape: `quantile_regression_lad` with
    another weight (`robust_line_fit`, queries/wave29_ops.py, on the
    operators/irls.py device)."""
    return robust_line_fit(
        spark,
        sf_dir,
        lambda r: F.least(
            F.lit(1.0), F.lit(_HUBER_K) / F.greatest(F.abs(r), F.lit(1e-12))
        ),
    )


# --- SAX symbolization of monthly revenue ----------------------------------

_SAX_SEGS = 12
#: Gaussian breakpoints for a 4-symbol alphabet (Lin et al., DMKD'07)
_SAX_BP = (-0.6745, 0.0, 0.6745)

_SAX_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
stats AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS DOUBLE) / count(*) AS mu,
         sqrt({vh("sum(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2)))")} / count(*)
              - (CAST(sum(x) AS DOUBLE) / count(*))
                * (CAST(sum(x) AS DOUBLE) / count(*))) AS sd
  FROM m
),
r AS (
  SELECT x, ((row_number() OVER (ORDER BY y, mo)) - 1) * {_SAX_SEGS}
             // (SELECT n FROM stats) AS seg
  FROM m
),
paa AS (
  SELECT seg, CAST(sum(x) AS DOUBLE) / count(*) AS paa_mean
  FROM r GROUP BY seg
),
sym AS (
  SELECT seg,
         CASE WHEN (paa_mean - mu) / sd < {_SAX_BP[0]} THEN 'a'
              WHEN (paa_mean - mu) / sd < {_SAX_BP[1]} THEN 'b'
              WHEN (paa_mean - mu) / sd < {_SAX_BP[2]} THEN 'c'
              ELSE 'd' END AS s
  FROM paa, stats
)
SELECT (SELECT CAST(n AS BIGINT) FROM stats) AS n_months,
       string_agg(s, '' ORDER BY seg) AS sax_word,
       CAST(sum(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN s = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_d
FROM sym
"""


@register("sax_monthly_revenue", oracle=_SAX_ORACLE)
def sax_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al.) of the
    monthly revenue series: z-normalize, PAA-compress the ≤84 months
    into 12 segments, and map each segment mean to a 4-symbol alphabet
    at the standard Gaussian breakpoints ±0.6745/0 — the discrete
    shape word that motif mining, novelty detection, and series
    indexing run on.

    Determinism: μ and σ come from exact decimal sums (the (19,2)
    square kernel with the VARCHAR hop); segment assignment is integer
    arithmetic on row_number over the total (y, mo) order; symbol cuts
    are fixed IEEE comparisons both engines evaluate identically.

    Plan shape: one fact aggregate to the month census; the only
    partition-less window is row_number over that ≤84-row census
    (PLANS.md bound class: calendar). The word assembles via an
    ordered in-group string agg on the 12-row PAA relation."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month())
    stats = m.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.sum(
                F.col("x").cast("decimal(19,2)") * F.col("x").cast("decimal(19,2)")
            ).cast("double")
            / F.count(F.lit(1))
            - (F.sum("x").cast("double") / F.count(F.lit(1)))
            * (F.sum("x").cast("double") / F.count(F.lit(1)))
        ).alias("sd"),
    )
    r = m.crossJoin(F.broadcast(stats)).select(
        "x", "n", "mu", "sd",
        (
            (F.row_number().over(Window.orderBy("y", "mo")) - 1)
            * _SAX_SEGS
            / F.col("n")
        ).cast("long").alias("seg"),
    )
    paa = r.groupBy("seg").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("paa_mean"),
        F.max("mu").alias("mu"),
        F.max("sd").alias("sd"),
        F.max("n").alias("n"),
    )
    z = F.try_divide(F.col("paa_mean") - F.col("mu"), F.col("sd"))
    sym = paa.select(
        "seg", "n",
        F.when(z < _SAX_BP[0], "a")
        .when(z < _SAX_BP[1], "b")
        .when(z < _SAX_BP[2], "c")
        .otherwise("d")
        .alias("s"),
    )
    return sym.agg(
        F.max("n").cast("bigint").alias("n_months"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "s"))),
                lambda t: t["s"],
            ),
            "",
        ).alias("sax_word"),
        F.sum(F.when(F.col("s") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("s") == "d", 1).otherwise(0))
        .cast("bigint")
        .alias("n_d"),
    )


# --- Page-Hinkley drift detection on monthly revenue ------------------------

_PH_DELTA = 0.0

_PH_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
r AS (
  SELECT row_number() OVER (ORDER BY y, mo) AS t, y, mo,
         CAST(x AS DOUBLE) AS x,
         CAST(sum(x) OVER (ORDER BY y, mo
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / (row_number() OVER (ORDER BY y, mo)) AS run_mean
  FROM m
),
dev AS (
  SELECT t, y, mo,
         sum(CAST(round(x - run_mean - {_PH_DELTA}, 9) AS DECIMAL(28,9)))
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS m_t
  FROM r
),
ph AS (
  SELECT t, y, mo,
         CAST(m_t AS DOUBLE)
           - CAST(min(m_t) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
             AS DOUBLE) AS ph_t
  FROM dev
),
lam AS (
  SELECT 2 * CAST(sum(x) AS DOUBLE) / count(*) AS lambda FROM m
),
best AS (
  SELECT t, y, mo, ph_t,
         row_number() OVER (ORDER BY ph_t DESC, t) AS rk
  FROM ph
),
alarm AS (
  SELECT min(t) AS alarm_t FROM ph, lam WHERE ph_t > lambda
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_months,
       round(b.ph_t, 2) AS ph_max,
       CAST(b.y * 100 + b.mo AS BIGINT) AS ph_max_month,
       CAST((SELECT p.y * 100 + p.mo FROM ph p, alarm a
             WHERE p.t = a.alarm_t) AS BIGINT) AS first_alarm_month,
       round((SELECT lambda FROM lam), 2) AS lambda
FROM best b WHERE b.rk = 1
"""


@register("page_hinkley_revenue", oracle=_PH_ORACLE)
def page_hinkley_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential change detection on monthly revenue:
    m_t = Σ_{i≤t}(x_i − x̄_i − δ) with the running mean x̄_i, alarm when
    PH_t = m_t − min_{s≤t} m_s exceeds λ (self-scaling λ = 2·overall
    mean; δ = 0) — the classic upward-drift alarm a data-quality
    monitor runs on a stream of batch metrics.

    Determinism: the running mean at each t is a fixed ratio of the
    exact decimal prefix sum and t; each deviation term rounds ONCE
    into DECIMAL(28,9) so the cumulative m_t is exact; PH and the
    argmax/alarm selection are integer-tie-broken.

    Plan shape: one fact aggregate to the ≤84-row month census; all
    windows (prefix sums, running min, argmax rank) are partition-less
    but census-bounded (PLANS.md: calendar class)."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month())
    w = Window.orderBy("y", "mo").rowsBetween(Window.unboundedPreceding, 0)
    t_rn = F.row_number().over(Window.orderBy("y", "mo"))
    r = m.select(
        "y", "mo",
        F.col("x").cast("double").alias("xd"),
        t_rn.alias("t"),
        (F.sum("x").over(w).cast("double") / t_rn).alias("run_mean"),
    )
    dev = r.select(
        "t", "y", "mo",
        F.sum(
            F.round(F.col("xd") - F.col("run_mean") - _PH_DELTA, 9).cast(
                "decimal(28,9)"
            )
        )
        .over(Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0))
        .alias("m_t"),
    )
    ph = dev.select(
        "t", "y", "mo",
        (
            F.col("m_t").cast("double")
            - F.min("m_t")
            .over(Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0))
            .cast("double")
        ).alias("ph_t"),
    )
    lam = m.agg(
        (2 * F.sum("x").cast("double") / F.count(F.lit(1))).alias("lambda")
    )
    n_m = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    best = (
        ph.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("ph_t"), F.asc("t")))
        )
        .filter(F.col("rk") == 1)
        .select(
            F.round("ph_t", 2).alias("ph_max"),
            (F.col("y") * 100 + F.col("mo")).cast("bigint").alias("ph_max_month"),
        )
    )
    alarm = (
        ph.crossJoin(F.broadcast(lam))
        .filter(F.col("ph_t") > F.col("lambda"))
        .agg(F.min("t").alias("alarm_t"))
    )
    first_alarm = (
        ph.join(F.broadcast(alarm), ph.t == alarm.alarm_t)
        .select(
            (F.col("y") * 100 + F.col("mo")).cast("bigint").alias(
                "first_alarm_month"
            )
        )
    )
    # left-join the (possibly empty) alarm row against the 1-row summary
    return (
        best.crossJoin(F.broadcast(n_m))
        .crossJoin(F.broadcast(lam))
        .join(F.broadcast(first_alarm), F.lit(True), "left")
        .select(
            "n_months",
            "ph_max",
            "ph_max_month",
            "first_alarm_month",
            F.round("lambda", 2).alias("lambda"),
        )
    )


# --- exact 2x2 PCA over (quantity, price) -----------------------------------

_PCA_ORACLE = f"""
WITH s AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         {vh("sum(CAST(round(CAST(l_extendedprice AS DOUBLE) / 10000, 9) AS DECIMAL(38,9)))")} AS sy,
         {vh("sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(19,2)))")} AS sxx,
         {vh("sum(CAST(round(CAST(l_extendedprice AS DOUBLE) / 10000"
             " * (CAST(l_extendedprice AS DOUBLE) / 10000), 9) AS DECIMAL(38,9)))")} AS syy,
         {vh("sum(CAST(round(CAST(l_quantity AS DOUBLE)"
             " * (CAST(l_extendedprice AS DOUBLE) / 10000), 9) AS DECIMAL(38,9)))")} AS sxy
  FROM lineitem
),
c AS (
  SELECT n,
         (sxx - sx * sx / n) / n AS cxx,
         (syy - sy * sy / n) / n AS cyy,
         (sxy - sx * sy / n) / n AS cxy
  FROM s
),
e AS (
  SELECT n, cxx, cyy, cxy,
         ((cxx + cyy) + sqrt((cxx - cyy) * (cxx - cyy) + 4 * cxy * cxy)) / 2
           AS l1,
         ((cxx + cyy) - sqrt((cxx - cyy) * (cxx - cyy) + 4 * cxy * cxy)) / 2
           AS l2
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(l1, 6) AS lambda1,
       round(l2, 6) AS lambda2,
       round(l1 / (l1 + l2), 6) AS var_explained_pc1,
       round(degrees(atan2(2 * cxy, cxx - cyy) / 2), 4) AS pc1_angle_deg
FROM e
WHERE l1 + l2 > 0
"""


@register("pca_axis_lineitem", oracle=_PCA_ORACLE)
def pca_axis_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2x2 PCA of (quantity, extendedprice/10⁴): closed-form
    eigendecomposition of the covariance matrix — λ± = (tr ±
    √((cxx−cyy)² + 4cxy²))/2, principal-axis angle ½·atan2(2cxy,
    cxx−cyy) — the one PCA that needs no iteration and therefore
    stays a single aggregate pass (the d×d generalization is a d²-cell
    Gramian aggregate + a driver-side eigensolve; for d = 2 even that
    collapses into the plan).

    Determinism: Σx, Σx² ride the exact (19,2) decimal kernel; the
    price-scaled moments round ONCE into DECIMAL(38,9) before summing
    (the DuckDB side crosses the int128→double boundary through the
    VARCHAR hop); the eigen chain is fixed IEEE on those five doubles.

    Plan shape: ONE map-side-combining aggregate over the fact scan,
    then a 1-row expression chain. The cheapest query in the wave."""
    li = table(spark, sf_dir, "lineitem", spread=True)
    ys = F.col("l_extendedprice").cast("double") / 10000
    dec9 = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(dec9(ys)).cast("double").alias("sy"),
        F.sum(
            F.col("l_quantity").cast("decimal(19,2)")
            * F.col("l_quantity").cast("decimal(19,2)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(dec9(ys * ys)).cast("double").alias("syy"),
        F.sum(dec9(F.col("l_quantity").cast("double") * ys)).cast("double").alias(
            "sxy"
        ),
    )
    n = F.col("n")
    c = s.select(
        "n",
        ((F.col("sxx") - F.col("sx") * F.col("sx") / n) / n).alias("cxx"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / n) / n).alias("cyy"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / n) / n).alias("cxy"),
    )
    disc = F.sqrt(
        (F.col("cxx") - F.col("cyy")) * (F.col("cxx") - F.col("cyy"))
        + 4 * F.col("cxy") * F.col("cxy")
    )
    e = c.select(
        "n", "cxx", "cyy", "cxy",
        ((F.col("cxx") + F.col("cyy") + disc) / 2).alias("l1"),
        ((F.col("cxx") + F.col("cyy") - disc) / 2).alias("l2"),
    )
    return e.filter(F.col("l1") + F.col("l2") > 0).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round("l1", 6).alias("lambda1"),
        F.round("l2", 6).alias("lambda2"),
        F.round(F.col("l1") / (F.col("l1") + F.col("l2")), 6).alias(
            "var_explained_pc1"
        ),
        F.round(
            F.degrees(
                F.atan2(2 * F.col("cxy"), F.col("cxx") - F.col("cyy")) / 2
            ),
            4,
        ).alias("pc1_angle_deg"),
    )
