"""Wave 27 (round 7, continued): the RANGE window-frame grammar,
Lorenz-curve inequality deciles on the distributed rank device, user
inter-event burstiness, a one-row corpus datasheet, graph link
prediction (common-neighbors / Jaccard / Adamic-Adar), and additive
Holt-Winters triple smoothing (the coupled level+trend+seasonal
recursion through applyInPandas with a list-state recursive-CTE
oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.graph import (
    link_scores,
    sorted_adjacency,
    wedge_pair_census,
)
from ocean_data_pipeline_spark.operators.portable import vh
from ocean_data_pipeline_spark.operators.ranks import (
    cumulative,
    cumulative_sql,
    quantile,
    quantile_sql,
)
from ocean_data_pipeline_spark.queries import register

# --- RANGE frame: peak 30-day customer spend ---------------------------------

_RANGE30_ORACLE = """
WITH d AS (
  SELECT o_custkey,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(o_totalprice AS DECIMAL(18,2)) AS rev
  FROM orders
),
rolled AS (
  SELECT o_custkey,
         sum(rev) OVER (PARTITION BY o_custkey ORDER BY d
                        RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
           AS win30
  FROM d
),
peak AS (
  SELECT o_custkey, CAST(max(win30) AS DOUBLE) AS peak_30d
  FROM rolled GROUP BY o_custkey
)
SELECT o_custkey AS custkey, round(peak_30d, 2) AS peak_30day_spend
FROM peak
ORDER BY peak_30d DESC, custkey
LIMIT 20
"""


@register("rolling_30day_revenue", oracle=_RANGE30_ORACLE)
def rolling_30day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window-frame grammar (the one ANSI frame kind not yet
    exercised — ROWS frames are covered by `rolling_avg_monthly` /
    `running_total_per_customer`): per customer, the 30-day rolling
    spend via RANGE BETWEEN 29 PRECEDING AND CURRENT ROW over the date
    ordinal — RANGE bounds are VALUE distances, so same-day orders
    collapse into one frame and gaps are skipped, which no ROWS frame
    expresses. Reported as the top-20 peak 30-day spenders (burst
    buyers).

    Determinism: the date ordinal is an exact integer; window sums are
    exact DECIMAL; RANGE frames are order-insensitive within ties by
    construction (all peers enter the frame together — the reason this
    is hashable while a ROWS frame over a non-total order wouldn't be).

    Plan shape: one custkey-partitioned window (natural fact key, no
    global sort), a per-customer max, TakeOrderedAndProject top-20."""
    d = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "d"
        ),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-29, Window.currentRow)
    )
    rolled = d.select("o_custkey", F.sum("rev").over(w).alias("win30"))
    return (
        rolled.groupBy("o_custkey")
        .agg(F.max("win30").cast("double").alias("peak_30d"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.round("peak_30d", 2).alias("peak_30day_spend"),
        )
        .orderBy(F.desc("peak_30d"), F.asc("custkey"))
        .limit(20)
    )


# --- Lorenz curve deciles -----------------------------------------------------

_LORENZ_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, ntile(10) OVER (ORDER BY x, o_custkey) AS decile FROM spend
),
per AS (
  SELECT decile, count(*) AS n_customers,
         CAST(sum(x) AS DECIMAL(28,2)) AS spend
  FROM ranked GROUP BY decile
),
cum AS (
  SELECT decile, n_customers, spend,
         sum(n_customers) OVER (ORDER BY decile) AS cn,
         sum(spend) OVER (ORDER BY decile) AS cs,
         sum(n_customers) OVER () AS n,
         sum(spend) OVER () AS s
  FROM per
)
SELECT CAST(decile AS INT) AS decile,
       CAST(n_customers AS BIGINT) AS n_customers,
       CAST(spend AS DOUBLE) AS spend,
       round(CAST(cn AS DOUBLE) / n, 6) AS cum_pop_share,
       round(CAST(cs AS DOUBLE) / CAST(s AS DOUBLE), 6) AS cum_spend_share
FROM cum ORDER BY decile
"""


@register("lorenz_curve_deciles", oracle=_LORENZ_ORACLE)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve behind `gini_customer_spend` as a 10-point
    table: customers ranked by spend (ascending, custkey tiebreak) cut
    into population deciles, with cumulative population share vs
    cumulative spend share per decile — the "bottom 50% of customers
    hold X% of revenue" readout an inequality summary number can't
    show.

    Scale: the decile assignment rides the distributed exact-rank
    device (operators/ranks.py) over the localCheckpointed per-customer
    spend relation — no single-partition ntile; the cumulative pass
    runs on the 10-row decile census. Spend stays exact DECIMAL into
    the final casts."""
    from ocean_data_pipeline_spark.operators.ranks import (
        ntile_from_rank,
        with_global_row_number,
    )

    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
        .localCheckpoint()
    )
    n_all = spend.agg(F.count(F.lit(1)).alias("n_all"))
    ranked = with_global_row_number(
        spend, ["x", "o_custkey"], "x", out="i",
        bucket_width=10_000.0,  # $10k spend buckets: lazy, domain-bounded
    ).crossJoin(F.broadcast(n_all))
    per = (
        ranked.select(
            ntile_from_rank(F.col("i"), F.col("n_all"), 10).alias("decile"),
            "x",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("x").cast("decimal(28,2)").alias("spend"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    return (
        per.select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_customers").cast("bigint").alias("n_customers"),
            F.col("spend").cast("double").alias("spend"),
            F.round(
                F.sum("n_customers").over(wc).cast("double")
                / F.sum("n_customers").over(wt),
                6,
            ).alias("cum_pop_share"),
            F.round(
                F.sum("spend").over(wc).cast("double")
                / F.sum("spend").over(wt).cast("double"),
                6,
            ).alias("cum_spend_share"),
        )
        .orderBy("decile")
    )


# --- inter-event burstiness census --------------------------------------------

_BURSTINESS_ORACLE = f"""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
),
per_user AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(CAST(g AS DECIMAL(19,0))) AS DOUBLE) AS s1,
         {vh("sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))")} AS s2
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id HAVING count(*) >= 2
),
b AS (
  SELECT user_id, n,
         (sqrt(s2 / n - (s1 / n) * (s1 / n)) - s1 / n)
           / (sqrt(s2 / n - (s1 / n) * (s1 / n)) + s1 / n) AS b
  FROM per_user WHERE s1 > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(round(b, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS mean_burstiness,
       CAST(sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bursty,
       CAST(sum(CASE WHEN b < -0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_regular,
       round(min(b), 9) AS min_b,
       round(max(b), 9) AS max_b
FROM b
"""


@register("user_interevent_burstiness", oracle=_BURSTINESS_ORACLE)
def user_interevent_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event burstiness B = (σ−μ)/(σ+μ) over the
    microsecond gaps between consecutive events (Goh & Barabási '08):
    B → 1 is bursty (machine retries, scripted traffic), B ≈ 0 is
    Poisson, B → −1 is metronomic (schedulers, heartbeats) — the
    behavioral-signature census next to `sessionize_events` that
    separates humans from automation. The token-level sibling is
    `token_burstiness` (Fano factor over documents).

    Determinism: gaps are exact integer microseconds (epoch_us on both
    engines); per-user moment sums are int128-exact DECIMAL with the
    VARCHAR-hop cast; B is a fixed IEEE chain; per-user B rounds ONCE
    into DECIMAL(28,9) before the corpus mean.

    Plan shape: one user-partitioned lag window (natural event key —
    parallel across users), a user-keyed moment aggregate riding the
    same exchange, a 1-row census."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    g19 = F.col("g").cast("decimal(19,0)")
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(g19).cast("double").alias("s1"),
            F.sum(g19 * g19).cast("string").cast("double").alias("s2"),
        )
        .filter(F.col("n") >= 2)
        .filter(F.col("s1") > 0)
    )
    mu = F.col("s1") / F.col("n")
    sig = F.sqrt(F.col("s2") / F.col("n") - mu * mu)
    b = ((sig - mu) / (sig + mu)).alias("b")
    bs = per_user.select(b)
    return bs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(
            F.sum(F.round(F.col("b"), 9).cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_burstiness"),
        F.sum(F.when(F.col("b") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bursty"),
        F.sum(F.when(F.col("b") < -0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_regular"),
        F.round(F.min("b"), 9).alias("min_b"),
        F.round(F.max("b"), 9).alias("max_b"),
    )


# --- one-row corpus datasheet ---------------------------------------------------

_DATASHEET_ORACLE = f"""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_short
  FROM documents
),
uniq AS (
  SELECT CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_unique
  FROM documents
),
lv AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY n_chars),
med AS (
  SELECT {quantile_sql("v", 1, 2)} AS median_chars
  FROM ({cumulative_sql("lv", "v", "c")})
)
SELECT b.n_docs, b.n_sources, b.n_langs, b.total_chars,
       CAST(m.median_chars AS BIGINT) AS median_chars,
       round(CAST(b.n_short AS DOUBLE) / b.n_docs, 6) AS short_doc_share,
       round(1.0 - CAST(u.n_unique AS DOUBLE) / b.n_docs, 6)
         AS exact_dup_rate
FROM base b CROSS JOIN uniq u CROSS JOIN med m
"""


@register("corpus_datasheet", oracle=_DATASHEET_ORACLE)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet (the "datasheets for datasets" summary
    panel): document/source/language counts, total and exact-median
    characters, short-doc share, and the exact-duplicate rate — the
    first table in any dataset card, composed from the same primitives
    the deep audits use (sha2 dedup, the value-census `quantile` of
    operators/ranks.py).

    Plan shape: three independent 1-row aggregates (base census, sha2
    distinct, level-census median) cross-joined as broadcast scalars.
    Each is one pass; nothing row-scale survives any of them."""
    docs = table(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0))
        .cast("bigint")
        .alias("n_short"),
    )
    uniq = docs.agg(
        F.countDistinct(F.sha2(F.col("text"), 256))
        .cast("bigint")
        .alias("n_unique")
    )
    lv = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    med = cumulative(lv, "v", "c").agg(quantile("v", 1, 2).alias("median_chars"))
    return (
        base.crossJoin(F.broadcast(uniq))
        .crossJoin(F.broadcast(med))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_chars",
            F.col("median_chars").cast("bigint").alias("median_chars"),
            F.round(
                F.try_divide(F.col("n_short").cast("double"), F.col("n_docs")), 6
            ).alias("short_doc_share"),
            F.round(
                1.0 - F.try_divide(F.col("n_unique").cast("double"), F.col("n_docs")), 6
            ).alias("exact_dup_rate"),
        )
    )


# --- link prediction on the co-purchase graph ----------------------------------

def _link_pred_oracle() -> str:
    from ocean_data_pipeline_spark.queries.graph_ops import _EDGES_SQL

    return f"""
WITH {_EDGES_SQL},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
wedges AS (  -- candidate pair (a, c) with common neighbor w = s1.dst
  SELECT s1.src AS a, s2.dst AS c, s1.dst AS w
  FROM sym s1 JOIN sym s2 ON s2.src = s1.dst AND s1.src < s2.dst
),
nonedge AS (
  SELECT w.a, w.c, w.w FROM wedges w
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.pa = w.a AND e.pb = w.c
  )
),
scored AS (
  SELECT n.a, n.c,
         CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(CAST(round(1.0 / ln(d.degree), 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS aa
  FROM nonedge n JOIN deg d ON d.node = n.w
  GROUP BY n.a, n.c
)
SELECT s.a AS part_a, s.c AS part_b,
       s.cn AS common_neighbors,
       round(CAST(s.cn AS DOUBLE)
             / (da.degree + dc.degree - s.cn), 6) AS jaccard,
       round(s.aa, 6) AS adamic_adar
FROM scored s
JOIN deg da ON da.node = s.a
JOIN deg dc ON dc.node = s.c
ORDER BY s.cn DESC, part_a, part_b
LIMIT 20
"""


@register("link_prediction_scores", oracle=_link_pred_oracle())
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: the top-20 NON-edges
    ranked by common-neighbor count, with Jaccard
    (cn / (deg_a + deg_c − cn)) and Adamic-Adar (Σ_w 1/ln(deg_w))
    scores — the classic recommendation shortlist ("parts bought with
    the same things but never together"). Common neighbors have degree
    ≥ 2 by construction, so ln(deg) is never 0.

    Determinism: cn is a pure integer; each Adamic-Adar term rounds
    ONCE into DECIMAL(28,9) before the per-pair sum; the top-20 orders
    by (cn DESC, ids) — an all-integer total order.

    Plan shape — exact top-k with a COUNT-ONLY hot path (VERDICT r07
    item 4). The Σ deg² wedge mass (~288 M ordered pairs at sf0.1) is
    the honest exact cost of ranking non-edges by cn on this graph: a
    min-degree two-phase certificate CANNOT prune here because the
    degree distribution is near-uniform (measured sf0.1: median degree
    119, max 222) while the 20th-best cn is only 9 — every node clears
    any certifiable hub threshold. What IS reducible is the per-wedge
    payload: the hot explode emits ONE packed BIGINT per ordered pair
    (a << 32 | c — partkeys fit 32 bits) and the aggregate is a bare
    count on that single long key (no struct, no per-wedge DECIMAL
    Adamic-Adar term — that halves the hot-path cost), partials
    combining map-side. The census then anti-joins the edge list and
    TakeOrderedAndProject picks the 20 (never a global sort). The
    Adamic-Adar and Jaccard scores are computed ONLY for those 20
    pairs in a post-pass (`operators/graph.py::link_scores`): broadcast
    the 20 keys against the sorted adjacency lists (localCheckpointed
    once), and Σ 1/ln(deg_w) runs over the array intersection per pair
    — 20 rows of list algebra instead of 288 M decimal additions. The
    ENFORCED hub cap lives in the twin `link_prediction_capped` (the
    100-TB shape: Σ min(deg,64)² wedge mass + exact confirm on
    survivors); this exact version is its recall yardstick and rides
    SPREAD_ONLY in the bench."""
    from ocean_data_pipeline_spark.queries.graph_ops import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    # LEAN adjacency (round 11): sorted plain-long neighbor lists — no
    # per-neighbor degree struct and no pre-groupBy broadcast-deg join
    # (half the collect_list shuffle bytes; the wedge explode reads the
    # long array directly). degree(w) == size(ids of w), so the 20-pair
    # post-pass recovers Adamic-Adar degrees from a node-scale
    # projection of the same checkpoint.
    adj = sorted_adjacency(edges).localCheckpoint()
    # wedge_pair_census sizes both census shuffles by the measured wedge
    # mass and subtracts the edges inside key space (broadcast-routed),
    # so the pair-scale census output feeds the top-k directly
    census = wedge_pair_census(adj, F.col("ids"), "cn", minus_edges=edges)
    top20 = census.orderBy(F.desc("cn"), F.asc("a"), F.asc("c")).limit(20)
    return link_scores(adj, top20, lambda common: F.col("cn")).orderBy(
        F.desc("common_neighbors"), F.asc("part_a"), F.asc("part_b")
    )


# --- hub-capped link prediction ------------------------------------------------

_LP_CAP = 64          # per-node adjacency ceiling for wedge generation
_LP_SURVIVORS = 100   # capped-census candidates that get the exact confirm


def _link_pred_capped_oracle() -> str:
    from ocean_data_pipeline_spark.queries.graph_ops import _EDGES_SQL

    return f"""
WITH {_EDGES_SQL},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
capped AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM sym
  ) WHERE rn <= {_LP_CAP}
),
cand AS (
  SELECT c1.dst AS a, c2.dst AS c, CAST(count(*) AS BIGINT) AS cn_capped
  FROM capped c1 JOIN capped c2
    ON c1.src = c2.src AND c1.dst < c2.dst
  GROUP BY 1, 2
),
surv AS (
  SELECT a, c, cn_capped FROM cand
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.pa = cand.a AND e.pb = cand.c
  )
  ORDER BY cn_capped DESC, a, c
  LIMIT {_LP_SURVIVORS}
),
confirm AS (
  SELECT s.a, s.c, s.cn_capped,
         CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(CAST(round(1.0 / ln(d.degree), 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS aa
  FROM surv s
  JOIN sym s1 ON s1.src = s.a
  JOIN sym s2 ON s2.src = s.c AND s2.dst = s1.dst
  JOIN deg d ON d.node = s1.dst
  GROUP BY 1, 2, 3
)
SELECT cf.a AS part_a, cf.c AS part_b,
       cf.cn_capped,
       cf.cn AS common_neighbors,
       round(CAST(cf.cn AS DOUBLE)
             / (da.degree + dc.degree - cf.cn), 6) AS jaccard,
       round(cf.aa, 6) AS adamic_adar
FROM confirm cf
JOIN deg da ON da.node = cf.a
JOIN deg dc ON dc.node = cf.c
ORDER BY common_neighbors DESC, part_a, part_b
LIMIT 20
"""


@register("link_prediction_capped", oracle=_link_pred_capped_oracle())
def link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped link prediction — the 100-TB-shape twin of
    `link_prediction_scores` (VERDICT r08 item 3). Candidate generation
    truncates every node's adjacency list to its 64 LOWEST-ID
    neighbors (a deterministic cap both engines reproduce with a plain
    per-node rank), so the wedge mass is Σ min(deg, 64)² instead of
    Σ deg² — bounded per node no matter how hot the hub. The top
    100 non-edge candidates by capped count then get an EXACT
    confirm (true cn / Jaccard / Adamic-Adar from the FULL adjacency
    lists — 100 rows of list algebra), and the top-20 ranks by the
    confirmed count.

    Semantics note: the capped census is a lower bound, so a true
    top-20 pair whose common neighbors all sit beyond position 64
    of their lists could miss the survivor set — the classic
    cap-recall trade the exact twin exists to measure. Measured
    (PLANS.md round 10): top-20 recall vs the exact twin is 5/20 at
    sf0.01 and 3/20 at sf0.1, FLAT in survivor-set size — this
    near-uniform-degree graph (median 119 vs cap 64) is the cap's
    worst case; on the power-law graphs the cap targets, min(deg, 64)
    only truncates hubs. Both engines apply the identical cap, so the
    result is deterministic parity, and `cn_capped` is reported next
    to the confirmed `common_neighbors` so the gap is visible in the
    output itself.

    Determinism: capped lists are the sorted-array prefix (Spark) =
    rank-by-neighbor-id cap (oracle); counts are integers; Adamic-Adar
    terms round ONCE into DECIMAL(28,9) before the sum; every ORDER BY
    is a total order over integers.

    Plan shape: identical skeleton to the exact twin, from the same
    `operators/graph.py` devices — node-scale sorted adjacency lists
    (localCheckpointed once, reused by census and confirm),
    packed-BIGINT map-side wedge explode over the CAPPED prefix,
    bare-count aggregate, anti-join against the edge list,
    TakeOrderedAndProject for the survivors, broadcast post-pass for
    the exact scores. At sf0.1 the cap cuts the wedge mass ~7×
    (Σ deg² ≈ 288 M → Σ min(deg,64)² ≈ 41 M ordered pairs)."""
    from ocean_data_pipeline_spark.queries.graph_ops import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir, checkpoint=True)
    # the exact twin's LEAN adjacency, reused by census and confirm
    adj = sorted_adjacency(edges).localCheckpoint()
    # capped prefix of the id-sorted list == the oracle's rank-by-id cap
    capped_ids = F.slice(F.col("ids"), 1, _LP_CAP)
    census = wedge_pair_census(adj, capped_ids, "cn_capped", minus_edges=edges)
    survivors = census.orderBy(
        F.desc("cn_capped"), F.asc("a"), F.asc("c")
    ).limit(_LP_SURVIVORS)
    # exact confirm: full-list intersection per survivor pair
    return (
        link_scores(
            adj, survivors, lambda common: F.size(common).cast("bigint").alias("cn")
        )
        .orderBy(F.desc("common_neighbors"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


# --- additive Holt-Winters triple smoothing ------------------------------------

_HW_A, _HW_B, _HW_G = 0.4, 0.2, 0.3

# the level update, repeated textually wherever l_t is referenced so
# every occurrence evaluates the identical IEEE chain
_HW_LVL = (
    "(0.4 * (i.rev - hw.s[(i.t - 1) % 12 + 1])"
    " + 0.6 * (hw.lvl + hw.trd))"
)

_HW_ORACLE = f"""
WITH RECURSIVE m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
              AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
idx AS (
  SELECT month, rev, row_number() OVER (ORDER BY month) AS t,
         count(*) OVER () AS n
  FROM m
),
init AS (  -- integer-cents season-1 mean: identical l0 on both engines
  SELECT CAST(sum(CAST(round(rev * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 / 12.0 AS l0
  FROM idx WHERE t <= 12
),
s0 AS (
  SELECT list(idx.rev - i.l0 ORDER BY idx.t) AS s
  FROM idx, init i WHERE idx.t <= 12
),
hw AS (
  SELECT 12 AS t, CAST(NULL AS VARCHAR) AS month,
         CAST(NULL AS DOUBLE) AS rev,
         i.l0 AS lvl, CAST(0.0 AS DOUBLE) AS trd, s0.s AS s,
         CAST(NULL AS DOUBLE) AS seasonal, CAST(NULL AS DOUBLE) AS fitted
  FROM init i, s0
  UNION ALL
  SELECT i.t, i.month, i.rev,
         {_HW_LVL} AS lvl,
         0.2 * ({_HW_LVL} - hw.lvl) + 0.8 * hw.trd AS trd,
         list_slice(hw.s, 1, (i.t - 1) % 12)
           || [0.3 * (i.rev - {_HW_LVL})
               + 0.7 * hw.s[(i.t - 1) % 12 + 1]]
           || list_slice(hw.s, (i.t - 1) % 12 + 2, 12) AS s,
         0.3 * (i.rev - {_HW_LVL})
           + 0.7 * hw.s[(i.t - 1) % 12 + 1] AS seasonal,
         hw.lvl + hw.trd + hw.s[(i.t - 1) % 12 + 1] AS fitted
  FROM hw JOIN idx i ON i.t = hw.t + 1
)
SELECT month,
       round(rev, 2) AS revenue,
       round(lvl, 4) AS level,
       round(trd, 4) AS trend,
       round(seasonal, 4) AS seasonal,
       round(fitted, 4) AS fitted
FROM hw WHERE t > 12 ORDER BY month
"""


@register("holt_winters_additive", oracle=_HW_ORACLE)
def holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential) smoothing of monthly
    revenue, season length 12 (alpha=0.4, beta=0.2, gamma=0.3):
    l_t = a(y_t − s_{t−12}) + (1−a)(l+b), b_t = B(l_t − l) + (1−B)b,
    s_t = G(y_t − l_t) + (1−G)s_{t−12}, with fitted_t = l + b + s_{t−12}
    the leakage-free one-step-ahead forecast — the seasonal completion
    of `holt_linear_smoothing` and the model `seasonal_mann_kendall` /
    `periodogram_monthly` motivate. Init: l_12 = season-1 mean (from
    integer cents so both engines start on the identical double),
    b_12 = 0, s_i = y_i − l_12.

    Determinism: THREE coupled recursions with a 12-slot seasonal
    state — the honest sequential case squared. The Python loop and
    DuckDB's recursive CTE (whose state row carries the seasonal
    vector as a LIST column, sliced and rebuilt each step) evaluate
    the identical float chain with textually identical alpha literals;
    the level update is repeated verbatim wherever l_t is referenced
    so every occurrence computes the same bits. Display rounding
    engine-side (Python round is half-even, the engines' half-away).

    Plan shape: facts collapse to ~84 month rows; one single-group
    Arrow applyInPandas carries the recursion (calendar-bounded, cost
    sf-invariant — the `holt_linear_smoothing` posture; a per-entity
    variant would key the group by the entity)."""
    import pandas as pd

    m = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM-01"
            ).alias("month")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .cast("double")
            .alias("rev")
        )
    )

    cols = ["month", "revenue", "level", "trend", "seasonal", "fitted"]

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        if len(pdf) < 13:
            return pd.DataFrame(columns=cols)
        ys = list(pdf.rev)
        l0 = sum(int(round(y * 100)) for y in ys[:12]) / 100.0 / 12.0
        s = [y - l0 for y in ys[:12]]  # seasonal slots 0..11
        lvl, trd = l0, 0.0
        out = []
        for t in range(13, len(ys) + 1):
            y = ys[t - 1]
            p = (t - 1) % 12
            s_old = s[p]
            fitted = lvl + trd + s_old
            l_new = 0.4 * (y - s_old) + 0.6 * (lvl + trd)
            t_new = 0.2 * (l_new - lvl) + 0.8 * trd
            s_new = 0.3 * (y - l_new) + 0.7 * s_old
            s[p] = s_new
            lvl, trd = l_new, t_new
            # raw doubles out; rounding happens ENGINE-side (half-away)
            out.append((pdf.month[t - 1], y, l_new, t_new, s_new, fitted))
        return pd.DataFrame(out, columns=cols)

    out = m.groupBy(F.lit(1).alias("g")).applyInPandas(
        hw,
        schema="month string, revenue double, level double, trend double, "
        "seasonal double, fitted double",
    )
    return out.select(
        "month",
        F.round("revenue", 2).alias("revenue"),
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("seasonal", 4).alias("seasonal"),
        F.round("fitted", 4).alias("fitted"),
    ).orderBy("month")
