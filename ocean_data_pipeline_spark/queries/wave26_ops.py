"""Wave 26 (round 7, continued): BI / lifecycle analytics (order
backlog sweep, CLV cohort matrix, new-vs-returning split, grouped
percentile bands, Cramér's V effect sizes) and corpus-mixing
diagnostics (pairwise source n-gram overlap, per-source length drift,
mixed-language margin), plus the GROUP BY ALL / ORDER BY ALL SQL
surface.

House discipline throughout: calendar/value censuses before any
cumulative window (never a row-scale single-task sort), exact DECIMAL
sums with one explicit round before cross-row float reductions, pure
integer rank selection for quantiles, and per-row expression chains
identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import register_views, table
from ocean_data_pipeline_spark.operators.ranks import (
    cumulative,
    cumulative_sql,
    quantile,
    quantile_sql,
)
from ocean_data_pipeline_spark.queries import register

# --- open-order backlog at month ends -----------------------------------

_BACKLOG_ORACLE = """
WITH closes AS (  -- an order closes when its last lineitem ships
  SELECT o.o_orderkey,
         year(o.o_orderdate) * 12 + month(o.o_orderdate) AS open_m,
         year(max(l.l_shipdate)) * 12 + month(max(l.l_shipdate))
           AS close_m
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
),
opens AS (SELECT open_m AS m, count(*) AS c FROM closes GROUP BY open_m),
dones AS (SELECT close_m AS m, count(*) AS c FROM closes GROUP BY close_m),
spine AS (
  SELECT m, coalesce(o.c, 0) AS opened, coalesce(d.c, 0) AS closed
  FROM (SELECT m FROM opens UNION SELECT m FROM dones)
  LEFT JOIN opens o USING (m) LEFT JOIN dones d USING (m)
),
cum AS (
  SELECT m,
         opened, closed,
         sum(opened) OVER (ORDER BY m) AS cum_open,
         sum(closed) OVER (ORDER BY m) AS cum_closed
  FROM spine
)
SELECT m AS month_index,
       CAST(opened AS BIGINT) AS n_opened,
       CAST(closed AS BIGINT) AS n_closed,
       CAST(cum_open - cum_closed AS BIGINT) AS backlog_at_month_end
FROM cum ORDER BY month_index
"""


@register("open_order_backlog_monthly", oracle=_BACKLOG_ORACLE)
def open_order_backlog_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog at each month end — the operations dashboard
    number "how many orders are in flight?": an order is open from its
    order month until the month its LAST lineitem ships, and
    backlog(m) = cumulative opens − cumulative closes. The interval
    sweep collapses to two calendar censuses and one cumulative pass —
    the sweep-line discipline of `concurrent_sessions_profile` at
    month granularity (orders with no lineitems never open, by the
    inner join — matching the oracle exactly).

    Plan shape: one fact join aggregated per order map-side, two
    calendar censuses (~84 rows), cumulative windows over the calendar
    spine. At 100 TB only the order-close aggregate sees data."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    closes = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("open_m"),
            (F.year("last_ship") * 12 + F.month("last_ship")).alias(
                "close_m"
            ),
        )
    )
    opens = closes.groupBy(F.col("open_m").alias("m")).agg(
        F.count(F.lit(1)).alias("opened")
    )
    dones = closes.groupBy(F.col("close_m").alias("m")).agg(
        F.count(F.lit(1)).alias("closed")
    )
    spine = (
        opens.select("m")
        .union(dones.select("m"))
        .distinct()
        .join(opens, "m", "left")
        .join(dones, "m", "left")
        .select(
            "m",
            F.coalesce("opened", F.lit(0)).alias("opened"),
            F.coalesce("closed", F.lit(0)).alias("closed"),
        )
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.select(
            F.col("m").alias("month_index"),
            F.col("opened").cast("bigint").alias("n_opened"),
            F.col("closed").cast("bigint").alias("n_closed"),
            (F.sum("opened").over(w) - F.sum("closed").over(w))
            .cast("bigint")
            .alias("backlog_at_month_end"),
        )
        .orderBy("month_index")
    )


# --- CLV cohort matrix ----------------------------------------------------

_CLV_ORACLE = """
WITH first_q AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 4 + (month(o_orderdate) - 1) // 3)
           AS cohort_q
  FROM orders GROUP BY o_custkey
),
facts AS (
  SELECT f.cohort_q,
         (year(o.o_orderdate) * 4 + (month(o.o_orderdate) - 1) // 3)
           - f.cohort_q AS age_q,
         o.o_custkey,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS rev
  FROM orders o JOIN first_q f ON f.o_custkey = o.o_custkey
)
SELECT cohort_q,
       CAST(age_q AS BIGINT) AS age_q,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
       CAST(sum(rev) AS DOUBLE) AS revenue
FROM facts
WHERE age_q <= 7
GROUP BY cohort_q, age_q
ORDER BY cohort_q, age_q
"""


@register("clv_cohort_matrix", oracle=_CLV_ORACLE)
def clv_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value cohort matrix: customers grouped by
    first-purchase quarter, revenue and active-customer counts tracked
    by quarters-since-acquisition (ages 0-7) — the (cohort × age)
    triangle every CLV / retention model is fit on, the revenue-mass
    sibling of `weekly_retention_cohorts`.

    Plan shape: one aggregate to first-purchase quarters per customer,
    one shuffle join back to the fact (both keyed on custkey — a
    co-partitioned join at scale), one grouped aggregate with a
    distinct-count onto the ~(cohorts × 8) matrix. Exact DECIMAL
    revenue to the final cast."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        (F.year("o_orderdate") * 4 + (F.month("o_orderdate") - 1) / 3).cast(
            "int"
        ).alias("q"),
    )
    first_q = o.groupBy("o_custkey").agg(F.min("q").alias("cohort_q"))
    return (
        o.join(first_q, "o_custkey")
        .select(
            "cohort_q",
            (F.col("q") - F.col("cohort_q")).cast("bigint").alias("age_q"),
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
        )
        .filter(F.col("age_q") <= 7)
        .groupBy("cohort_q", "age_q")
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .orderBy("cohort_q", "age_q")
    )


# --- new vs returning revenue ----------------------------------------------

_NEW_RET_ORACLE = """
WITH first_m AS (
  SELECT o_custkey, min(year(o_orderdate) * 12 + month(o_orderdate)) AS m0
  FROM orders GROUP BY o_custkey
),
tagged AS (
  SELECT year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
         CASE WHEN year(o.o_orderdate) * 12 + month(o.o_orderdate) = f.m0
              THEN 1 ELSE 0 END AS is_new,
         o.o_custkey,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS rev
  FROM orders o JOIN first_m f ON f.o_custkey = o.o_custkey
)
SELECT m AS month_index,
       CAST(count(DISTINCT CASE WHEN is_new = 1 THEN o_custkey END)
            AS BIGINT) AS n_new_customers,
       CAST(sum(CASE WHEN is_new = 1 THEN rev ELSE 0 END) AS DOUBLE)
         AS revenue_new,
       CAST(sum(CASE WHEN is_new = 0 THEN rev ELSE 0 END) AS DOUBLE)
         AS revenue_returning,
       round(CAST(sum(CASE WHEN is_new = 1 THEN rev ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE), 6) AS new_share
FROM tagged GROUP BY m ORDER BY month_index
"""


@register("new_vs_returning_monthly", oracle=_NEW_RET_ORACLE)
def new_vs_returning_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split into new-customer months (a customer's
    acquisition month) vs returning — the growth-accounting panel next
    to `clv_cohort_matrix` ("is growth acquisition or retention?").
    A customer is "new" for every order in their first month, so the
    month's new-customer count is a distinct count, not a row count.

    Plan shape: first-month aggregate per customer, one custkey-keyed
    join back (co-partitioned at scale), one calendar-sized grouped
    aggregate. Exact DECIMAL revenue; the share divides two exact sums
    once."""
    m_col = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        m_col.alias("m"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    first_m = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    tagged = o.join(first_m, "o_custkey").select(
        "m",
        F.when(F.col("m") == F.col("m0"), 1).otherwise(0).alias("is_new"),
        "o_custkey",
        "rev",
    )
    rev_new = F.sum(F.when(F.col("is_new") == 1, F.col("rev")).otherwise(F.lit(0)))
    rev_ret = F.sum(F.when(F.col("is_new") == 0, F.col("rev")).otherwise(F.lit(0)))
    return (
        tagged.groupBy(F.col("m").alias("month_index"))
        .agg(
            F.countDistinct(
                F.when(F.col("is_new") == 1, F.col("o_custkey"))
            )
            .cast("bigint")
            .alias("n_new_customers"),
            rev_new.cast("double").alias("revenue_new"),
            rev_ret.cast("double").alias("revenue_returning"),
            F.round(
                rev_new.cast("double") / F.sum("rev").cast("double"), 6
            ).alias("new_share"),
        )
        .orderBy("month_index")
    )


# --- GROUP BY ALL / ORDER BY ALL SQL surface --------------------------------

_SQL_GBA = """
SELECT o_orderstatus                                        AS status,
       o_orderpriority                                      AS priority,
       count(*)                                             AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                                            AS revenue
FROM orders
WHERE o_orderdate >= DATE '1995-01-01'
GROUP BY ALL
ORDER BY ALL
"""


@register("sql_group_by_all", oracle=_SQL_GBA)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL — the modern SQL ergonomics surface
    (17th verbatim SQL string through both parsers): both engines must
    infer the same grouping keys (the non-aggregate select items, in
    select order) and the same total ordering. One string, two
    engines; the plan is the usual partial-agg + exchange, with the
    date filter pushed to the scan."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_GBA)


# --- grouped exact percentile bands ----------------------------------------

_BANDS = (10, 50, 90)

_BANDS_ORACLE = f"""
WITH lv AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
         count(*) AS cnt
  FROM orders GROUP BY 1, 2
),
cum AS ({cumulative_sql("lv", "pc", "cnt", "priority")})
SELECT priority,
       CAST(max(n) AS BIGINT) AS n_orders,
       {", ".join(
           f"{quantile_sql('pc', p, 100)} / 100.0 AS p{p}" for p in _BANDS
       )}
FROM cum GROUP BY priority ORDER BY priority
"""


@register("grouped_percentile_bands", oracle=_BANDS_ORACLE)
def grouped_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p10/p50/p90 order-value bands PER PRIORITY — the grouped
    sibling of `exact_percentile_cutpoints` (the per-slice SLA panel:
    "what does a typical vs tail order look like in each lane?").
    Type-1 quantiles by pure integer rank selection (100·cn ≥ p·n,
    `quantile` of operators/ranks.py) over the per-group cents-level
    census.

    Plan shape: one map-side-combining shuffle to (priority, level)
    cells; cumulative windows partitioned BY PRIORITY over the level
    census (parallel across groups, value-domain-bounded within); a
    5-row rollup. At 100 TB: one fact pass, census-sized after."""
    lv = (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("pc"),
        )
        .groupBy("priority", "pc")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cumulative(lv, "pc", "cnt", "priority")
        .groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            *[(quantile("pc", p, 100) / 100.0).alias(f"p{p}") for p in _BANDS],
        )
        .orderBy("priority")
    )


# --- Cramér's V effect-size matrix ------------------------------------------

_CRAMERS_ORACLE = """
WITH melted AS (
  SELECT 'priority_x_status' AS pair, o_orderpriority AS a,
         o_orderstatus AS b FROM orders
  UNION ALL
  SELECT 'priority_x_year', o_orderpriority,
         CAST(year(o_orderdate) AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'status_x_year', o_orderstatus,
         CAST(year(o_orderdate) AS VARCHAR) FROM orders
),
cells AS (
  SELECT pair, a, b, count(*) AS o FROM melted GROUP BY pair, a, b
),
ra AS (SELECT pair, a, CAST(sum(o) AS DOUBLE) AS ri FROM cells GROUP BY pair, a),
cb AS (SELECT pair, b, CAST(sum(o) AS DOUBLE) AS cj FROM cells GROUP BY pair, b),
tot AS (
  SELECT pair, CAST(sum(o) AS BIGINT) AS n,
         count(DISTINCT a) AS r, count(DISTINCT b) AS c
  FROM cells GROUP BY pair
),
terms AS (  -- chi2 = n * (sum o^2/(ri*cj) - 1); each term rounded once
  SELECT cells.pair,
         CAST(sum(CAST(round(CAST(cells.o AS DOUBLE) * cells.o
                             / (ra.ri * cb.cj), 12)
                       AS DECIMAL(28,12))) AS DOUBLE) AS mass
  FROM cells
  JOIN ra ON ra.pair = cells.pair AND ra.a = cells.a
  JOIN cb ON cb.pair = cells.pair AND cb.b = cells.b
  GROUP BY cells.pair
)
SELECT t.pair,
       t.n AS n_orders,
       CAST(t.r AS BIGINT) AS r_levels,
       CAST(t.c AS BIGINT) AS c_levels,
       round(t.n * (m.mass - 1), 6) AS chi_sq,
       round(sqrt(greatest(t.n * (m.mass - 1), 0)
                  / (t.n * least(t.r - 1, t.c - 1))), 6) AS cramers_v
FROM tot t JOIN terms m ON m.pair = t.pair
ORDER BY t.pair
"""


@register("cramers_v_matrix", oracle=_CRAMERS_ORACLE)
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect sizes for the three categorical pairs of the
    orders table (priority×status, priority×year, status×year) — the
    normalized [0,1] association strength that makes chi-square values
    comparable across tables of different shape (the effect-size
    completion of `segment_priority_chisq`, which tests ONE pair).
    χ² uses the identity n·(Σ o²/(rᵢcⱼ) − 1), so no expected-count
    subtraction per cell; each cell term rounds ONCE into
    DECIMAL(28,12) before the per-pair sum.

    Plan shape: one 3-way melted projection (map-side, single scan
    read 3x by union), cell census per pair, two margin censuses
    broadcast back onto the cells, a 3-row report. All post-scan
    relations are category-bounded."""
    o = table(spark, sf_dir, "orders")
    y = F.year("o_orderdate").cast("string")
    melted = (
        o.select(
            F.lit("priority_x_status").alias("pair"),
            F.col("o_orderpriority").alias("a"),
            F.col("o_orderstatus").alias("b"),
        )
        .unionByName(
            o.select(
                F.lit("priority_x_year").alias("pair"),
                F.col("o_orderpriority").alias("a"),
                y.alias("b"),
            )
        )
        .unionByName(
            o.select(
                F.lit("status_x_year").alias("pair"),
                F.col("o_orderstatus").alias("a"),
                y.alias("b"),
            )
        )
    )
    cells = melted.groupBy("pair", "a", "b").agg(F.count(F.lit(1)).alias("o"))
    ra = cells.groupBy("pair", "a").agg(F.sum("o").cast("double").alias("ri"))
    cb = cells.groupBy("pair", "b").agg(F.sum("o").cast("double").alias("cj"))
    tot = cells.groupBy("pair").agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
    )
    terms = (
        cells.join(F.broadcast(ra), ["pair", "a"])
        .join(F.broadcast(cb), ["pair", "b"])
        .groupBy("pair")
        .agg(
            F.sum(
                F.round(
                    F.col("o").cast("double") * F.col("o")
                    / (F.col("ri") * F.col("cj")),
                    12,
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("mass")
        )
    )
    chi = F.col("n") * (F.col("mass") - 1)
    return (
        tot.join(F.broadcast(terms), "pair")
        .select(
            "pair",
            F.col("n").alias("n_orders"),
            F.col("r").cast("bigint").alias("r_levels"),
            F.col("c").cast("bigint").alias("c_levels"),
            F.round(chi, 6).alias("chi_sq"),
            F.round(
                F.sqrt(
                    F.try_divide(
                        F.greatest(chi, F.lit(0.0)),
                        F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1),
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
        .orderBy("pair")
    )


# --- pairwise source n-gram overlap ------------------------------------------

_SRC_OVERLAP_ORACLE = """
WITH sg AS (
  SELECT DISTINCT source, gram FROM (
    SELECT source,
           unnest(list_transform(generate_series(1, length(text) - 7),
                                 i -> substr(text, i, 8))) AS gram
    FROM documents WHERE length(text) >= 8
  )
),
sizes AS (SELECT source, count(*) AS g FROM sg GROUP BY source),
inter AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS common
  FROM sg a JOIN sg b ON b.gram = a.gram AND b.source > a.source
  GROUP BY a.source, b.source
)
SELECT p.sa AS source_a, p.sb AS source_b,
       CAST(p.ga AS BIGINT) AS grams_a,
       CAST(p.gb AS BIGINT) AS grams_b,
       CAST(coalesce(i.common, 0) AS BIGINT) AS grams_common,
       round(CAST(coalesce(i.common, 0) AS DOUBLE)
             / (p.ga + p.gb - coalesce(i.common, 0)), 6) AS jaccard
FROM (
  SELECT x.source AS sa, y.source AS sb, x.g AS ga, y.g AS gb
  FROM sizes x JOIN sizes y ON y.source > x.source
) p
LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
ORDER BY source_a, source_b
"""


@register("source_ngram_overlap", oracle=_SRC_OVERLAP_ORACLE)
def source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level content overlap: Jaccard similarity of
    each source pair's DISTINCT char-8-gram vocabularies — the
    dataset-mixing diagnostic ("are these two crawls actually the same
    content?") that decides whether sources should be deduped against
    each other before mixture weights are fit. Char-8-grams are the
    `contamination_ngram_census` unit, so the two audits share a
    vocabulary definition.

    Plan shape: one scan explodes to (source, gram) distinct pairs
    (map-side partial DISTINCT absorbs within-doc repeats); the
    intersection is ONE gram-keyed equi-join producing source-pair
    counts (pairs of sources are few; grams are the join key, never
    enumerated per pair); sizes broadcast onto the pair grid so
    zero-overlap pairs still report. At 100 TB the gram join is the
    same bucketed-candidates posture as the dedup family."""
    # spread=True: 8-gram shingling is map-side CPU on a single-row-
    # group scan (cluster no-op).
    docs = table(spark, sf_dir, "documents", spread=True).filter(
        F.length("text") >= 8
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: F.col("text").substr(i, F.lit(8)),
    )
    sg = (
        docs.select("source", F.explode(grams).alias("gram"))
        .distinct()
        .localCheckpoint()
    )
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("g"))
    a = sg.select(F.col("source").alias("sa"), "gram")
    b = sg.select(F.col("source").alias("sb"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("sb") > F.col("sa"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    x = sizes.select(F.col("source").alias("sa"), F.col("g").alias("ga"))
    yy = sizes.select(F.col("source").alias("sb"), F.col("g").alias("gb"))
    pairs = x.crossJoin(yy).filter(F.col("sb") > F.col("sa"))
    return (
        pairs.join(F.broadcast(inter), ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("ga").cast("bigint").alias("grams_a"),
            F.col("gb").cast("bigint").alias("grams_b"),
            F.coalesce("common", F.lit(0)).cast("bigint").alias("grams_common"),
            F.round(
                F.coalesce("common", F.lit(0)).cast("double")
                / (F.col("ga") + F.col("gb") - F.coalesce("common", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --- per-source length drift (integer-exact KS) ------------------------------

_LEN_DRIFT_ORACLE = """
WITH lv AS (
  SELECT source, n_chars AS v, count(*) AS c
  FROM documents GROUP BY source, n_chars
),
levels AS (SELECT DISTINCT v FROM lv),
srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM lv GROUP BY source),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM lv),
grid AS (
  SELECT s.source, l.v, coalesce(x.c, 0) AS c_s
  FROM srcs s CROSS JOIN levels l
  LEFT JOIN lv x ON x.source = s.source AND x.v = l.v
),
alllv AS (SELECT v, CAST(sum(c) AS BIGINT) AS c_all FROM lv GROUP BY v),
cum AS (
  SELECT g.source,
         sum(g.c_s) OVER (PARTITION BY g.source ORDER BY g.v) AS cs,
         sum(a.c_all) OVER (PARTITION BY g.source ORDER BY g.v) AS ct
  FROM grid g JOIN alllv a ON a.v = g.v
),
d AS (
  SELECT c.source, s.n_s, t.n - s.n_s AS n_r,
         max(abs(c.cs * (t.n - s.n_s) - (c.ct - c.cs) * s.n_s)) AS d_num
  FROM cum c
  JOIN srcs s ON s.source = c.source CROSS JOIN tot t
  GROUP BY c.source, s.n_s, t.n
)
SELECT source,
       CAST(n_s AS BIGINT) AS n_source,
       CAST(n_r AS BIGINT) AS n_rest,
       round(CAST(d_num AS DOUBLE) / (n_s * n_r), 6) AS d_stat
FROM d ORDER BY source
"""


@register("length_drift_by_source", oracle=_LEN_DRIFT_ORACLE)
def length_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length drift: for each source, the EXACT
    two-sample Kolmogorov-Smirnov statistic between its n_chars
    distribution and the rest of the corpus — the one-vs-rest drift
    panel that flags a source whose length profile diverges (truncated
    crawl, boilerplate floods) before it skews batch packing. Pure
    integer arithmetic: D = max |c_s·n_r − c_r·n_s| / (n_s·n_r) over
    the value census, the `ks_test_price_by_year` device applied
    one-vs-rest.

    Plan shape: one (source, length) census, a (sources × levels) grid
    (sources are few — the grid is census-sized), per-source cumulative
    windows over levels (parallel across sources), a per-source max.
    Only the census aggregate sees the corpus."""
    lv = (
        table(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    levels = lv.select("v").distinct()
    srcs = lv.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    tot = lv.agg(F.sum("c").cast("bigint").alias("n"))
    alllv = lv.groupBy("v").agg(F.sum("c").cast("bigint").alias("c_all"))
    grid = (
        srcs.select("source", "n_s")
        .crossJoin(levels)
        .join(lv, ["source", "v"], "left")
        .select(
            "source", "n_s", "v", F.coalesce("c", F.lit(0)).alias("c_s")
        )
        .join(F.broadcast(alllv), "v")
    )
    wo = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "source",
        "n_s",
        F.sum("c_s").over(wo).alias("cs"),
        F.sum("c_all").over(wo).alias("ct"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("source", "n_s", "n")
        .agg(
            F.max(
                F.abs(
                    F.col("cs") * (F.col("n") - F.col("n_s"))
                    - (F.col("ct") - F.col("cs")) * F.col("n_s")
                )
            ).alias("d_num")
        )
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_source"),
            (F.col("n") - F.col("n_s")).cast("bigint").alias("n_rest"),
            F.round(
                F.try_divide(
                    F.col("d_num").cast("double"), F.col("n_s") * (F.col("n") - F.col("n_s"))
                ),
                6,
            ).alias("d_stat"),
        )
        .orderBy("source")
    )


# --- mixed-language margin census --------------------------------------------

def _mixed_lang_oracle() -> str:
    from ocean_data_pipeline_spark.queries.llm_ops import _oracle_stopword_hits

    return f"""
WITH scored AS (
  SELECT lang AS actual_lang,
         list_sort([{_oracle_stopword_hits('en')},
                    {_oracle_stopword_hits('de')},
                    {_oracle_stopword_hits('fr')},
                    {_oracle_stopword_hits('es')}]) AS hits
  FROM documents WHERE length(trim(text)) > 0
),
m AS (
  SELECT actual_lang,
         hits[-1] AS top1, hits[-2] AS top2
  FROM scored
)
SELECT actual_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN top1 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_no_signal,
       CAST(sum(CASE WHEN top1 > 0 AND top1 - top2 <= 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ambiguous,
       round(CAST(sum(CASE WHEN top1 > 0 THEN
                CAST(round(CAST(top1 - top2 AS DOUBLE) / top1, 9)
                     AS DECIMAL(28,9)) END) AS DOUBLE)
             / sum(CASE WHEN top1 > 0 THEN 1 ELSE 0 END), 6)
         AS mean_rel_margin
FROM m GROUP BY actual_lang ORDER BY actual_lang
"""


@register("mixed_language_margin", oracle=_mixed_lang_oracle())
def mixed_language_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFIDENCE census: per document, the margin between
    the best and second-best stopword-hit languages — `lang_id_heuristic`
    reports the argmax; this reports how decisive it was. Low-margin
    docs are the code-switched / mixed-language / boilerplate cases a
    monolingual filter mislabels, so the per-lang ambiguity rate is the
    number to watch before trusting per-language mixture weights.

    Determinism: hits are exact integer token-membership counts over
    the shared stopword lists (same tokenization as `top_tokens` on
    both engines); top-2 selection sorts the fixed 4-vector per row
    (array_sort ↔ list_sort, negative indexing mirrored); per-doc
    relative margins round ONCE into DECIMAL(28,9) before the mean.

    Plan shape: one scan, per-row fixed-size array work in codegen,
    one lang-keyed partial agg. A single pass at any scale."""
    from ocean_data_pipeline_spark.operators.text import stopword_hits

    hits = F.array_sort(
        F.array(
            *[
                stopword_hits(F.col("text"), lang)
                for lang in ("en", "de", "fr", "es")
            ]
        )
    )
    m = (
        table(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.col("lang").alias("actual_lang"),
            F.element_at(hits, -1).alias("top1"),
            F.element_at(hits, -2).alias("top2"),
        )
    )
    rel = (F.col("top1") - F.col("top2")).cast("double") / F.col("top1")
    return (
        m.groupBy("actual_lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("top1") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_no_signal"),
            F.sum(
                F.when(
                    (F.col("top1") > 0)
                    & (F.col("top1") - F.col("top2") <= 1),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_ambiguous"),
            F.round(
                F.sum(
                    F.when(
                        F.col("top1") > 0,
                        F.round(rel, 9).cast("decimal(28,9)"),
                    )
                ).cast("double")
                / F.sum(F.when(F.col("top1") > 0, 1).otherwise(0)),
                6,
            ).alias("mean_rel_margin"),
        )
        .orderBy("actual_lang")
    )
