"""Wave 25 (round 7): portmanteau / normality / variance-homogeneity
tests, bipartite HITS, exact percentile cut-points on the distributed
rank device, within-document repetition, seasonal Mann-Kendall,
dedup-savings economics, and an embedding-norm hygiene audit.

Every query follows the house determinism discipline: exact DECIMAL /
integer power sums (no per-row centering), one explicit round into
DECIMAL/BIGINT before any cross-row float reduction, closed-form
chi-square tails for even dof (exp polynomials — identical IEEE chains
on both engines), and value-census or boundary-bucketed formulations so
nothing sorts row-scale relations in a single task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.monthly import (
    MONTH_INDEX,
    YEAR_MONTH,
    autocorrelations,
    autocorrelations_sql,
    month_index,
    monthly_revenue,
    monthly_revenue_sql,
    year_month,
)
from ocean_data_pipeline_spark.operators.portable import vh
from ocean_data_pipeline_spark.operators.ranks import (
    cumulative,
    cumulative_sql,
    quantile,
    quantile_sql,
)
from ocean_data_pipeline_spark.queries import register

# --- Ljung-Box portmanteau test on monthly revenue ---------------------

_LB_LAGS = 6

_LJUNG_BOX_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(MONTH_INDEX)}),
ac AS ({autocorrelations_sql("m", _LB_LAGS)}),
q AS (
  SELECT max(n) AS n,
         CAST(n AS DOUBLE) * (n + 2)
           * CAST(sum(CAST(round(r_k * r_k / (n - k), 12) AS DECIMAL(28,12)))
                  AS DOUBLE) AS q_stat
  FROM ac GROUP BY n
)
SELECT CAST(n AS BIGINT) AS n_months,
       {_LB_LAGS} AS df,
       round(q_stat, 6) AS q_stat,
       round(exp(-q_stat / 2)
             * (1 + q_stat / 2 + q_stat * q_stat / 8), 9) AS p_value
FROM q
"""


@register("ljung_box_monthly", oracle=_LJUNG_BOX_ORACLE)
def ljung_box_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on monthly revenue: Q = n(n+2)
    Σ_{k=1..6} ρ_k²/(n−k) — "is this series white noise?", the
    diagnostic that gates residual checks after any forecast fit
    (completes the ACF / PACF / runs-test panel). The chi-square(6)
    tail has the closed even-dof form exp(−Q/2)(1 + Q/2 + Q²/8), a
    fixed IEEE chain on both engines — no gamma approximation.

    Determinism: ρ_k is `operators/monthly.py`'s no-centering algebra
    (exact DECIMAL pair/power sums); each ρ_k²/(n−k) term rounds ONCE
    into DECIMAL(28,12) before the 6-term sum.

    Plan shape: facts collapse to ~84 month rows map-side; the lag
    self-join, ρ algebra, and the 1-row Q reduce all run on the
    calendar-sized relation."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), month_index())
    r = F.col("r_k")
    q = autocorrelations(m, _LB_LAGS).groupBy("n").agg(
        (
            F.col("n").cast("double") * (F.col("n") + 2)
            * F.sum(
                F.round(r * r / (F.col("n") - F.col("k")), 12)
                .cast("decimal(28,12)")
            ).cast("double")
        ).alias("q_stat")
    )
    return q.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.lit(_LB_LAGS).cast("int").alias("df"),
        F.round("q_stat", 6).alias("q_stat"),
        F.round(
            F.exp(-F.col("q_stat") / 2)
            * (1 + F.col("q_stat") / 2 + F.col("q_stat") * F.col("q_stat") / 8),
            9,
        ).alias("p_value"),
    )


# --- Jarque-Bera normality test ----------------------------------------

_JB_ORACLE = f"""
WITH c AS (
  SELECT CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(19,0)) AS cw
  FROM orders
),
p AS (
  SELECT cw AS c, cw * cw AS c2,
         CAST(cw * cw AS DECIMAL(19,0)) * cw AS c3,
         CAST(cw * cw AS DECIMAL(19,0)) * CAST(cw * cw AS DECIMAL(19,0)) AS c4
  FROM c
),
s AS (
  SELECT count(*) AS n,
         CAST(sum(c) AS DOUBLE) AS s1,
         {vh("sum(c2)")} AS s2,
         {vh("sum(c3)")} AS s3,
         {vh("sum(c4)")} AS s4
  FROM p
),
mom AS (
  SELECT n,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n)
           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n)
           + 6 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM s
),
jb AS (
  SELECT n,
         CASE WHEN m2 <> 0 THEN m3 / (m2 * sqrt(m2)) END AS skew,
         CASE WHEN m2 <> 0 THEN m4 / (m2 * m2) - 3 END AS ex_kurt,
         CASE WHEN m2 <> 0 THEN
           n / 6.0 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                      + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4)
         END AS jb
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_orders,
       round(skew, 9) AS skewness,
       round(ex_kurt, 9) AS excess_kurtosis,
       round(jb, 6) AS jb_stat,
       round(exp(-jb / 2), 9) AS p_value
FROM jb
"""


@register("jarque_bera_price", oracle=_JB_ORACLE)
def jarque_bera_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of the order-value distribution:
    JB = n/6·(S² + K²/4) from exact skewness S and excess kurtosis K —
    the one-pass gate that decides whether moment-based models (t
    intervals, z-scores) are even applicable. χ²(2) has the exact tail
    exp(−JB/2): closed form, no approximation anywhere.

    Determinism: the `skew_kurtosis_exact` power-sum walk (cents as
    DECIMAL(19,0) operands → int128 products, square downcast once,
    VARCHAR-hop casts to correctly-rounded doubles); the moment chain
    is a fixed IEEE tree; m2 ≠ 0 guards the constant-input degenerate.

    Plan shape: ONE map-side-combining 1-row aggregate over the scan —
    the cheapest possible normality monitor at 100 TB."""
    c = F.round(F.col("o_totalprice") * 100).cast("bigint").cast("decimal(19,0)")
    c2w = (c * c).cast("decimal(19,0)")
    p = table(spark, sf_dir, "orders").select(
        c.alias("c"),
        (c * c).alias("c2"),
        (c2w * c).alias("c3"),
        (c2w * c2w).alias("c4"),
    )
    s = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum("c2").cast("string").cast("double").alias("s2"),
        F.sum("c3").cast("string").cast("double").alias("s3"),
        F.sum("c4").cast("string").cast("double").alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2 = F.col("s2") / n - m1 * m1
    m3 = F.col("s3") / n - 3 * m1 * (F.col("s2") / n) + 2 * m1 * m1 * m1
    m4 = (
        F.col("s4") / n
        - 4 * m1 * (F.col("s3") / n)
        + 6 * m1 * m1 * (F.col("s2") / n)
        - 3 * m1 * m1 * m1 * m1
    )
    skew = F.when(m2 != 0, m3 / (m2 * F.sqrt(m2)))
    ex_kurt = F.when(m2 != 0, m4 / (m2 * m2) - 3)
    jb = F.when(m2 != 0, n / F.lit(6.0) * (skew * skew + ex_kurt * ex_kurt / 4))
    return s.select(
        n.cast("bigint").alias("n_orders"),
        F.round(skew, 9).alias("skewness"),
        F.round(ex_kurt, 9).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        F.round(F.exp(-jb / 2), 9).alias("p_value"),
    )


# --- Brown-Forsythe variance-homogeneity test ---------------------------

_BF_ORACLE = f"""
WITH s AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL
),
lvl AS (  -- per-group value census for exact lower-median selection
  SELECT event_type, v, count(*) AS c FROM s GROUP BY event_type, v
),
cum AS ({cumulative_sql("lvl", "v", "c", "event_type")}),
med AS (
  SELECT event_type, {quantile_sql("v", 1, 2)} AS med
  FROM cum GROUP BY event_type
),
z AS (
  SELECT s.event_type, abs(CAST(s.v AS DOUBLE) - CAST(m.med AS DOUBLE)) AS z
  FROM s JOIN med m ON m.event_type = s.event_type
),
grp AS (
  SELECT event_type, count(*) AS n_g,
         CAST(sum(CAST(round(z, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sz,
         CAST(sum(CAST(round(z * z, 6) AS DECIMAL(38,6))) AS DOUBLE) AS szz
  FROM z GROUP BY event_type
),
tot AS (
  SELECT count(*) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(CAST(round(sz, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sz_all,
         CAST(sum(CAST(round(szz, 6) AS DECIMAL(38,6))) AS DOUBLE) AS szz_all,
         CAST(sum(CAST(round(sz * sz / n_g, 6) AS DECIMAL(38,6)))
              AS DOUBLE) AS sb_mass
  FROM grp
),
f AS (
  SELECT k, n,
         (sb_mass - sz_all * sz_all / n) / (k - 1) AS ms_between,
         (szz_all - sb_mass) / (n - k) AS ms_within
  FROM tot
)
SELECT CAST(k AS BIGINT) AS n_groups,
       n AS n_values,
       round(ms_between, 6) AS ms_between,
       round(ms_within, 6) AS ms_within,
       CASE WHEN ms_within <> 0 THEN round(ms_between / ms_within, 6) END
         AS f_stat
FROM f
"""


@register("brown_forsythe_event_values", oracle=_BF_ORACLE)
def brown_forsythe_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across event types —
    the robust Levene variant: one-way ANOVA on z = |x − median_g|.
    This is the assumption gate in front of `anova_oneway_event_values`
    and `welch_ttest_event_values` (equal-variance diagnostics), with
    the median center making it robust to the heavy tails the
    Jarque-Bera test flags.

    Determinism AND scale: each group's exact lower median is the
    value-census `quantile` of operators/ranks.py (smallest level with
    2·cn ≥ n; windows run over distinct values per group, never rows);
    the ANOVA sums round ONCE into DECIMAL per reduction level.

    Plan shape: one value-census aggregate + per-group level windows →
    k-row median relation broadcast back → one grouped moment
    aggregate → 1-row F. Two passes over the fact scan, everything
    between is census-sized."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(18,6)").alias("v"))
    )
    lvl = s.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    med = (
        cumulative(lvl, "v", "c", "event_type")
        .groupBy("event_type")
        .agg(quantile("v", 1, 2).alias("med"))
    )
    z = s.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("v").cast("double") - F.col("med").cast("double")).alias("z"),
    )
    grp = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(F.round(F.col("z"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sz"),
        F.sum(F.round(F.col("z") * F.col("z"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("szz"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(F.round(F.col("sz"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sz_all"),
        F.sum(F.round(F.col("szz"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("szz_all"),
        F.sum(
            F.round(F.col("sz") * F.col("sz") / F.col("n_g"), 6)
            .cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sb_mass"),
    )
    ms_b = F.try_divide(
        F.col("sb_mass") - F.col("sz_all") * F.col("sz_all") / F.col("n"), F.col("k") - 1
    )
    ms_w = F.try_divide(F.col("szz_all") - F.col("sb_mass"), F.col("n") - F.col("k"))
    return tot.select(
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("n").alias("n_values"),
        F.round(ms_b, 6).alias("ms_between"),
        F.round(ms_w, 6).alias("ms_within"),
        F.when(ms_w != 0, F.round(ms_b / ms_w, 6)).alias("f_stat"),
    )


# --- bipartite HITS: order hubs, part authorities ------------------------

_HITS_ORACLE = """
WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
a1 AS (  -- authority_1(p) = # orders containing p (h0 = 1)
  SELECT p, CAST(count(*) AS BIGINT) AS a FROM pl GROUP BY p
),
h1 AS (  -- hub_1(o) = sum of its parts' authorities
  SELECT pl.o, CAST(sum(a1.a) AS BIGINT) AS h
  FROM pl JOIN a1 ON a1.p = pl.p GROUP BY pl.o
),
a2 AS (  -- authority_2(p) = sum of its orders' hub scores
  SELECT pl.p, CAST(sum(h1.h) AS BIGINT) AS a
  FROM pl JOIN h1 ON h1.o = pl.o GROUP BY pl.p
),
mx AS (SELECT max(a) AS mx FROM a2)
SELECT a2.p AS partkey,
       a2.a AS authority_raw,
       round(CAST(a2.a AS DOUBLE) / mx.mx, 10) AS authority_score
FROM a2 CROSS JOIN mx
ORDER BY authority_raw DESC, partkey
LIMIT 20
"""


@register("hits_bipartite_authorities", oracle=_HITS_ORACLE)
def hits_bipartite_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) on the order-part bipartite graph, two unrolled
    half-iterations from h₀ = 1: authority(p) = Σ hub(o ∋ p), hub(o) =
    Σ authority(p ∈ o) — top-20 "authority" parts, the mutual-
    reinforcement centrality that PageRank's single-mode random walk
    doesn't express (a part is central when big DIVERSE orders carry
    it). Unnormalized iterates are PURE INTEGERS (sums of counts), so
    the whole fixpoint prefix is exact; the reported score divides by
    the max once at the end (max-normalization, closed under ordering).

    Plan shape: the distinct (order, part) incidence checkpointed once;
    each half-iteration is one equi-join + map-side-combining partial
    agg keyed on the other mode — exactly the
    `pagerank_copurchase_top20` loop shape on the bipartite incidence.
    Top-20 is TakeOrderedAndProject. At 100 TB the BIGINT iterates
    would widen to DECIMAL(38,0) after ~4 more unrolled rounds —
    documented, not needed at 2 half-steps."""
    pl = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    a1 = pl.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    h1 = (
        pl.join(a1, "p")
        .groupBy("o")
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    a2 = (
        pl.join(h1, "o")
        .groupBy("p")
        .agg(F.sum("h").cast("bigint").alias("a"))
    )
    mx = a2.agg(F.max("a").alias("mx"))
    return (
        a2.crossJoin(F.broadcast(mx))
        .select(
            F.col("p").alias("partkey"),
            F.col("a").alias("authority_raw"),
            F.round(F.col("a").cast("double") / F.col("mx"), 10).alias(
                "authority_score"
            ),
        )
        .orderBy(F.desc("authority_raw"), F.asc("partkey"))
        .limit(20)
    )


# --- exact percentile cut-points (distributed rank device) ---------------

_PCT_CUTS = [1, 5, 25, 50, 75, 95, 99]

_CUTPOINTS_ORACLE = f"""
WITH lv AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc, count(*) AS cnt
  FROM orders GROUP BY 1
),
cum AS ({cumulative_sql("lv", "pc", "cnt")})
SELECT CAST(max(n) AS BIGINT) AS n_orders,
       {", ".join(
           f"{quantile_sql('pc', p, 100)} / 100.0 AS p{p:02d}" for p in _PCT_CUTS
       )}
FROM cum
"""


@register("exact_percentile_cutpoints", oracle=_CUTPOINTS_ORACLE)
def exact_percentile_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p1/p5/p25/p50/p75/p95/p99 of order value by rank selection
    over the cents-level census — the EXACT sibling of
    `approx_quartiles` (KLL) and the quantile panel a data-quality SLA
    pins thresholds to. The type-1 (lower) quantile at p is the
    smallest level whose cumulative count reaches ⌈p·n/100⌉, selected
    in pure integer cross-multiplication (100·cum ≥ p·n) — no division,
    no interpolation, no doubles before the display scaling.

    Scale: `cumulative` and `quantile` of operators/ranks.py; the
    running count takes the distributed running-sum route
    (boundary-bucketed K-way windows + broadcast prefix offsets) over
    the localCheckpointed level census, so near-unique cents levels
    never sort in one task. One fact pass, level-sized everything
    after."""
    lv = (
        table(spark, sf_dir, "orders")
        .select(F.round(F.col("o_totalprice") * 100).cast("bigint").alias("pc"))
        .groupBy("pc")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    # fixed-width coarsening: o_totalprice cents are value-domain
    # bounded (~[9e4, 6e7]), so $1000 buckets give a few hundred
    # census rows and a FULLY LAZY plan (no approxQuantile job).
    cum = cumulative(lv, "pc", "cnt", bucket_width=100_000.0)
    aggs = [F.max("n").cast("bigint").alias("n_orders")] + [
        (quantile("pc", p, 100) / 100.0).alias(f"p{p:02d}") for p in _PCT_CUTS
    ]
    return cum.agg(*aggs)


# --- within-document repetition census -----------------------------------

_REP_ORACLE = """
WITH toks AS (
  SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT source, len(t) - 2 AS total,
         len(list_distinct(list_transform(
           generate_series(1, len(t) - 2),
           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS nd
  FROM toks WHERE len(t) >= 3
),
per_doc AS (
  SELECT source, 1.0 - CAST(nd AS DOUBLE) / total AS rep
  FROM grams
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(rep, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS mean_rep_ratio,
       round(max(rep), 9) AS max_rep_ratio,
       CAST(sum(CASE WHEN rep > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repetitive
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register("doc_repetition_census", oracle=_REP_ORACLE)
def doc_repetition_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (the Gopher "repetition" signal
    family): per document, the fraction of duplicate word 3-grams
    (1 − distinct/total) — boilerplate, keyboard-mash, and degenerate
    generations score high and are exactly what a pretraining filter
    drops; reported as a per-source census (mean/max/count over 0.1).

    Determinism: the 3-gram construction is a fixed per-row expression
    chain (1-based element_at mirrors DuckDB list indexing; same
    whitespace split as `top_tokens`); per-doc ratios are exact small-
    integer divisions; the only cross-row float reduction (the mean)
    rounds ONCE into DECIMAL(28,9).

    Plan shape: one scan with all n-gram work fused map-side into
    whole-stage codegen (array expressions, no explode — the gram list
    never leaves the row), then a source-keyed partial agg. At 100 TB:
    a single pass, zero shuffled n-grams."""
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n_t = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), n_t - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(t, i),
            F.element_at(t, i + 1),
            F.element_at(t, i + 2),
        ),
    )
    docs = (
        # spread=True: the whole n-gram chain is map-side CPU on a
        # single-row-group scan — one task without it (8.3 s -> 1.3 s
        # at sf0.1); no-op on properly sized cluster files.
        table(spark, sf_dir, "documents", spread=True)
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .filter(n_t >= 3)
        .select(
            "source",
            (
                1.0
                - F.size(F.array_distinct(grams)).cast("double")
                / (n_t - 2).cast("double")
            ).alias("rep"),
        )
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.round(F.col("rep"), 9).cast("decimal(28,9)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_rep_ratio"),
            F.round(F.max("rep"), 9).alias("max_rep_ratio"),
            F.sum(F.when(F.col("rep") > 0.1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repetitive"),
        )
        .orderBy("source")
    )


# --- seasonal Mann-Kendall trend test ------------------------------------

def _smk_oracle() -> str:
    from ocean_data_pipeline_spark.queries.audits import _PHI_TAIL

    return f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
pairs AS (  -- within each calendar month, all year pairs a.y < b.y
  SELECT a.mo,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
  FROM m a JOIN m b ON b.mo = a.mo AND b.y > a.y
),
per_mo AS (
  SELECT mo, CAST(sum(sgn) AS BIGINT) AS s_mo,
         (SELECT count(*) FROM m mm WHERE mm.mo = pairs.mo) AS n_mo
  FROM pairs GROUP BY mo
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_seasons,
         CAST(sum(s_mo) AS BIGINT) AS s,
         CAST(sum(n_mo * (n_mo - 1) * (2 * n_mo + 5)) AS DOUBLE) / 18
           AS var_s
  FROM (SELECT DISTINCT mo, s_mo, n_mo FROM per_mo)
),
z AS (
  SELECT n_seasons, s, var_s,
         CASE WHEN var_s > 0 AND s > 0 THEN (s - 1) / sqrt(var_s)
              WHEN var_s > 0 AND s < 0 THEN (s + 1) / sqrt(var_s)
              WHEN var_s > 0 THEN 0.0 END AS z
  FROM tot
)
SELECT n_seasons, s AS s_total, round(var_s, 6) AS var_s,
       round(z, 6) AS z_score,
       round(2 * {_PHI_TAIL.format(z="abs(z)")}, 9) AS p_value
FROM z
"""


@register("seasonal_mann_kendall", oracle=_smk_oracle())
def seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch-Slack): the MK pairwise
    sign statistic computed WITHIN each calendar month across years,
    then summed — detects a monotone multi-year trend without the
    seasonal cycle masking it (the seasonal completion of
    `mann_kendall_trend`). Var(S) = Σ_m n_m(n_m−1)(2n_m+5)/18 with the
    standard continuity correction; two-sided p through the shared
    Abramowitz-Stegun normal-tail template (bit-identical chain on
    both engines). Ties in revenue decimals are compared exactly; the
    no-tie variance form is standard for continuous series and
    identical on both sides either way.

    Plan shape: facts collapse to the (year, month) calendar census
    map-side (~84 rows); the within-month pairwise join, variance, and
    z are calendar-sized. At 100 TB only the first aggregate sees
    data."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month()).localCheckpoint()
    a = m.select(F.col("mo"), F.col("y").alias("ya"), F.col("x").alias("xa"))
    b = m.select(
        F.col("mo").alias("mob"), F.col("y").alias("yb"), F.col("x").alias("xb")
    )
    pairs = a.join(
        b, (F.col("mob") == F.col("mo")) & (F.col("yb") > F.col("ya"))
    ).select(
        "mo",
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    n_mo = m.groupBy("mo").agg(F.count(F.lit(1)).alias("n_mo"))
    per_mo = (
        pairs.groupBy("mo")
        .agg(F.sum("sgn").cast("bigint").alias("s_mo"))
        .join(F.broadcast(n_mo), "mo")
    )
    tot = per_mo.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
        F.sum("s_mo").cast("bigint").alias("s"),
        (
            F.sum(
                F.col("n_mo") * (F.col("n_mo") - 1) * (2 * F.col("n_mo") + 5)
            ).cast("double")
            / 18
        ).alias("var_s"),
    )
    z = (
        F.when(
            (F.col("var_s") > 0) & (F.col("s") > 0),
            (F.col("s") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            (F.col("var_s") > 0) & (F.col("s") < 0),
            (F.col("s") + 1) / F.sqrt(F.col("var_s")),
        )
        .when(F.col("var_s") > 0, F.lit(0.0))
    )
    from ocean_data_pipeline_spark.queries.audits import _PHI_TAIL

    out = tot.select(
        "n_seasons",
        F.col("s").alias("s_total"),
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("z_score"),
        z.alias("_z"),
    )
    return out.select(
        "n_seasons",
        "s_total",
        "var_s",
        "z_score",
        F.round(F.expr("2 * " + _PHI_TAIL.format(z="abs(_z)")), 9).alias(
            "p_value"
        ),
    )


# --- exact-dup cluster economics ------------------------------------------

_DEDUP_SAVINGS_ORACLE = """
WITH clusters AS (
  SELECT sha256(text) AS h, count(*) AS k,
         CAST(min(n_chars) AS BIGINT) AS chars_each
  FROM documents GROUP BY sha256(text)
)
SELECT CAST(k AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(k - 1) AS BIGINT) AS docs_removable,
       CAST(sum((k - 1) * chars_each) AS BIGINT) AS chars_removable
FROM clusters
GROUP BY k
ORDER BY cluster_size
"""


@register("dedup_savings_census", oracle=_DEDUP_SAVINGS_ORACLE)
def dedup_savings_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup economics: the exact-duplicate cluster-size histogram with
    per-size removable-document and removable-character mass — the
    report that justifies (or kills) a dedup pass before training:
    "how much of the corpus is copies, and in what shape?" (singleton
    clusters = unique docs; a heavy k=2 band = mirror pairs; a long
    tail = boilerplate). Members of a cluster share identical text, so
    chars_each = min(n_chars) is exact, not an estimate.

    Plan shape: ONE shuffle keyed on sha2(text) (map-side combined),
    then a k-keyed rollup over the cluster census. The same
    one-shuffle posture as `dedup_exact_documents`, extended with the
    size-distribution economics."""
    clusters = (
        table(spark, sf_dir, "documents")
        .groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.min("n_chars").cast("bigint").alias("chars_each"),
        )
    )
    return (
        clusters.groupBy(F.col("k").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum(F.col("k") - 1).cast("bigint").alias("docs_removable"),
            F.sum((F.col("k") - 1) * F.col("chars_each"))
            .cast("bigint")
            .alias("chars_removable"),
        )
        .orderBy("cluster_size")
    )


# --- embedding L2-norm hygiene audit ---------------------------------------

_NORM_ORACLE = """
WITH norms AS (
  SELECT sqrt(CAST(list_sum(list_transform(
           embedding::DOUBLE[],
           x -> CAST(round(x * x * 1000000000000.0) AS BIGINT)))
         AS DOUBLE) / 1000000000000.0) AS nrm
  FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(CAST(round(nrm, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS mean_norm,
       round(min(nrm), 9) AS min_norm,
       round(max(nrm), 9) AS max_norm,
       CAST(sum(CASE WHEN nrm < 0.1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_zero,
       CAST(sum(CASE WHEN abs(nrm - 1.0) <= 0.05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unit_band
FROM norms
"""


@register("embedding_norm_audit", oracle=_NORM_ORACLE)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm hygiene audit: norm distribution summary plus
    the two bands a retrieval stack cares about — near-zero vectors
    (dead encoder outputs that poison cosine math) and the unit band
    (is the corpus actually normalized?). The cheap pre-flight before
    the ANN index and the isotropy audit.

    Determinism: each squared component rounds ONCE into a picounit
    BIGINT (the `embedding_isotropy_audit` device), so the per-vector
    sum of squares is exact integer arithmetic regardless of list fold
    order; the only cross-row float reduction (mean) rounds norms into
    DECIMAL(28,9) first.

    Plan shape: one scan, all array math fused per-row (no explode),
    one 1-row aggregate. At 100 TB: a single pass."""
    sq = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * x * F.lit(1e12)).cast("long"),
    )
    nrm = F.sqrt(
        F.aggregate(sq, F.lit(0).cast("long"), lambda acc, x: acc + x).cast(
            "double"
        )
        / F.lit(1e12)
    )
    norms = table(spark, sf_dir, "embeddings").select(nrm.alias("nrm"))
    return norms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(
            F.sum(F.round(F.col("nrm"), 9).cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_norm"),
        F.round(F.min("nrm"), 9).alias("min_norm"),
        F.round(F.max("nrm"), 9).alias("max_norm"),
        F.sum(F.when(F.col("nrm") < 0.1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_near_zero"),
        F.sum(F.when(F.abs(F.col("nrm") - 1.0) <= 0.05, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unit_band"),
    )
