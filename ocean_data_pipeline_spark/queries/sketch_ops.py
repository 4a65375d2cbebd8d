"""Frequency-sketch operators in exact, engine-portable arithmetic
(SURVEY.md §2 sibling of `agg-approx`): a Count–Min sketch built with
deterministic multiplicative hashes, so — unlike the HLL/KLL built-ins
(`approx.py`, rows-only by necessity) — the sketch itself is
oracle-backed: DuckDB computes the IDENTICAL counter array and the
identical estimates, and the query reports the sketch's real
overcounts against exact truth.

Why this matters at 100 TB: a CMS update stream is a map-side
`(hash_i(key), +1)` per row — d·w counters of fixed size regardless of
key cardinality, mergeable across partitions by element-wise sum (the
same mergeable-state discipline as `incremental_agg_merge`). The query
below builds the counters FROM the per-key partial counts (one shuffle
on the key, counters derived by a second tiny agg), which is
plan-equivalent to updating counters directly and lets the same scan
also produce the exact truth to grade the sketch against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.portable import uniform, uniform_sql
from ocean_data_pipeline_spark.queries import register

#: Three pairwise-independent-enough multiplicative mixes (Knuth's
#: 2654435761 plus the xxHash/Murmur odd constants), identical BIGINT
#: arithmetic on both engines while key·mix < 2^63 (keys < ~2.8e9).
_MIXES = (2654435761, 2246822519, 3266489917)
_MOD = 4294967296  # 2^32
_W = 64            # counters per hash row
_TOPK = 20


def _bucket_sql(mix: int) -> str:
    return f"((o_custkey * {mix}) % {_MOD}) % {_W}"


_CMS_ORACLE = f"""
WITH k AS (
  SELECT o_custkey, count(*) AS exact_orders FROM orders GROUP BY o_custkey
),
h AS (
  SELECT o_custkey, exact_orders,
         {_bucket_sql(_MIXES[0])} AS b0,
         {_bucket_sql(_MIXES[1])} AS b1,
         {_bucket_sql(_MIXES[2])} AS b2
  FROM k
),
c0 AS (SELECT b0 AS b, sum(exact_orders) AS c FROM h GROUP BY b0),
c1 AS (SELECT b1 AS b, sum(exact_orders) AS c FROM h GROUP BY b1),
c2 AS (SELECT b2 AS b, sum(exact_orders) AS c FROM h GROUP BY b2)
SELECT h.o_custkey,
       CAST(h.exact_orders AS BIGINT) AS exact_orders,
       CAST(least(c0.c, c1.c, c2.c) AS BIGINT) AS cms_estimate,
       CAST(least(c0.c, c1.c, c2.c) - h.exact_orders AS BIGINT) AS overcount
FROM h
JOIN c0 ON c0.b = h.b0
JOIN c1 ON c1.b = h.b1
JOIN c2 ON c2.b = h.b2
ORDER BY h.exact_orders DESC, h.o_custkey
LIMIT {_TOPK}
"""


@register("countmin_heavy_hitters", oracle=_CMS_ORACLE)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–Min sketch (Cormode & Muthukrishnan, J.Alg'05) with d=3
    rows × w=64 counters over the order stream keyed by customer:
    estimate(key) = min_i counter_i[hash_i(key)], graded against the
    exact per-customer order count for the top-20 heaviest customers.
    `overcount >= 0` always (CMS error is one-sided); its magnitude
    here is the honest readout of a 64-wide sketch on this key
    distribution.

    Determinism: the hashes are exact BIGINT multiplicative mixes (same
    device as `shuffle_bucket_histogram`), so both engines build the
    IDENTICAL counter array — the sketch itself is oracle-verified, not
    just its contract.

    Plan shape: one shuffle keyed on o_custkey produces the exact
    counts; the three counter arrays are tiny (≤ 64 rows each) aggs
    over that keyed relation and come back as BROADCAST joins, so
    estimating costs no second fact-table pass; top-20 compiles to
    TakeOrderedAndProject. At stream scale the counters would instead
    accumulate map-side per partition and merge by element-wise sum —
    the mergeability the docstring header describes."""
    k = (
        table(spark, sf_dir, "orders")
        .select("o_custkey")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    h = k.select(
        "o_custkey",
        "exact_orders",
        *[
            ((F.col("o_custkey") * mix) % _MOD % _W).alias(f"b{i}")
            for i, mix in enumerate(_MIXES)
        ],
    ).localCheckpoint()  # consumed by 4 subtrees (3 counter aggs + probe)
    est = F.least(*[F.col(f"c{i}") for i in range(len(_MIXES))])
    out = h
    for i in range(len(_MIXES)):
        ci = F.broadcast(
            h.groupBy(F.col(f"b{i}").alias("b"))
            .agg(F.sum("exact_orders").alias(f"c{i}"))
            .withColumnRenamed("b", f"bb{i}")
        )
        out = out.join(ci, out[f"b{i}"] == ci[f"bb{i}"])
    return (
        out.select(
            "o_custkey",
            F.col("exact_orders").cast("bigint").alias("exact_orders"),
            est.cast("bigint").alias("cms_estimate"),
            (est - F.col("exact_orders")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("exact_orders"), F.asc("o_custkey"))
        .limit(_TOPK)
    )


# --- KMV distinct-count sketch ----------------------------------------

#: K minimum values kept per group.
_KMV_K = 64
#: The group is part of the salt of the draw, so each group draws an
#: INDEPENDENT uniform realization — with a shared hash, groups
#: containing the same keys would report correlated (even identical)
#: estimates.
_KMV_U_SQL = uniform_sql(
    "'kmv_' || o_orderpriority || '_' || CAST(o_custkey AS VARCHAR)"
)

_KMV_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT o_orderpriority, o_custkey FROM orders
),
u AS (
  SELECT o_orderpriority, o_custkey,
         {_KMV_U_SQL} AS u
  FROM keys
),
ranked AS (
  SELECT o_orderpriority, u,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY u, o_custkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS exact_distinct
  FROM u
),
kth AS (
  SELECT o_orderpriority,
         any_value(exact_distinct) AS exact_distinct,
         max(CASE WHEN rn = {_KMV_K} THEN u END) AS u_k
  FROM ranked WHERE rn <= {_KMV_K}
  GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       round(CASE WHEN u_k IS NULL THEN exact_distinct
                  ELSE ({_KMV_K} - 1) / u_k END, 2) AS kmv_estimate,
       round((CASE WHEN u_k IS NULL THEN exact_distinct
                   ELSE ({_KMV_K} - 1) / u_k END - exact_distinct)
             / exact_distinct, 4) AS rel_error
FROM kth ORDER BY o_orderpriority
"""


@register("kmv_distinct_estimate", oracle=_KMV_ORACLE)
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-count sketch (Bar-Yossef et al.,
    RANDOM'02; Beyer et al., SIGMOD'07): per order priority, hash the
    distinct customers to uniforms, keep the k=64 smallest, estimate
    |D| = (k−1)/u₍ₖ₎ — graded in-query against the exact distinct
    count. Groups with fewer than k members fall back to the exact
    count (the sketch IS exact below k). Unlike the HLL built-in
    (`approx_distinct_counts`, rows-only by necessity), the hash here
    is a salted sha256 → identical uniforms on both engines → the
    sketch itself is oracle-verified.

    Plan shape: one distinct shuffle on (priority, custkey), then a
    per-group window keeping 64 rows — at scale the keep-k-smallest
    would be a partial top-k agg (each partition keeps its local k,
    merge keeps the global k: mergeable sketch state, same discipline
    as the CMS counters above)."""
    keys = (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .distinct()
    )
    u = uniform(
        F.concat(
            F.lit("kmv_"),
            F.col("o_orderpriority"),
            F.lit("_"),
            F.col("o_custkey").cast("string"),
        )
    ).alias("u")
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("u", "o_custkey")
    wc = Window.partitionBy("o_orderpriority")
    ranked = keys.select("o_orderpriority", "o_custkey", u).select(
        "o_orderpriority",
        "u",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("exact_distinct"),
    )
    kth = (
        ranked.filter(F.col("rn") <= _KMV_K)
        .groupBy("o_orderpriority")
        .agg(
            F.first("exact_distinct").alias("exact_distinct"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("u"))).alias("u_k"),
        )
    )
    est = F.when(F.col("u_k").isNull(), F.col("exact_distinct")).otherwise(
        (_KMV_K - 1) / F.col("u_k")
    )
    return kth.select(
        "o_orderpriority",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.round(est, 2).alias("kmv_estimate"),
        F.round((est - F.col("exact_distinct")) / F.col("exact_distinct"), 4).alias(
            "rel_error"
        ),
    ).orderBy("o_orderpriority")


# --- CMS self-join-size (F2) estimate ---------------------------------

#: Wider rows for the inner-product use: the F2 estimate's expected
#: overshoot is F1²/w (every cross-term collides somewhere), so w must
#: scale with (F1/ε)²/F2 — 64 is fine for point queries but would bury
#: F2 under the bias term here; 1024 puts the bias at a few × F2.
_F2_W = 1024

_F2_ORACLE = f"""
WITH k AS (
  SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey
),
h AS (
  SELECT c,
         ((l_partkey * {_MIXES[0]}) % {_MOD}) % {_F2_W} AS b0,
         ((l_partkey * {_MIXES[1]}) % {_MOD}) % {_F2_W} AS b1,
         ((l_partkey * {_MIXES[2]}) % {_MOD}) % {_F2_W} AS b2
  FROM k
),
est AS (
  SELECT least(
           (SELECT sum(s * s) FROM (SELECT sum(c) AS s FROM h GROUP BY b0)),
           (SELECT sum(s * s) FROM (SELECT sum(c) AS s FROM h GROUP BY b1)),
           (SELECT sum(s * s) FROM (SELECT sum(c) AS s FROM h GROUP BY b2))
         ) AS cms_f2,
         (SELECT sum(c * c) FROM k) AS exact_f2
)
SELECT CAST(exact_f2 AS BIGINT) AS exact_self_join_size,
       CAST(cms_f2 AS BIGINT) AS cms_estimate,
       round(CAST(cms_f2 AS DOUBLE) / exact_f2, 4) AS inflation
FROM est
"""


@register("cms_join_size_estimate", oracle=_F2_ORACLE)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from a Count-Min sketch: the
    self-join size of lineitem on l_partkey (F2 = Σ c(k)² — exactly
    the blowup a planner must predict before a co-purchase style
    self-join) estimated as min_i Σ_b counter_i[b]² (Cormode &
    Muthukrishnan §4.2: the CMS inner product, one-sided like the
    point estimate), graded against the exact Σ c². `inflation` is
    the honest readout of the w=1024 sketch — the expected overshoot
    is F1²/w (see _F2_W), reported rather than hidden.

    Plan shape: one shuffle keyed on l_partkey produces the per-key
    counts; each of the 3 counter rows is a ≤64-row agg over that
    relation; everything downstream of the keyed agg is scalar-sized.
    The exact side reuses the SAME keyed relation — one fact pass
    total. At stream scale the counters merge by element-wise sum,
    so the estimate is available without ever materializing per-key
    counts (the planner-statistics use case)."""
    k = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    h = k.select(
        "c",
        *[
            ((F.col("l_partkey") * mix) % _MOD % _F2_W).alias(f"b{i}")
            for i, mix in enumerate(_MIXES)
        ],
    ).localCheckpoint()  # consumed by 4 subtrees (3 counter aggs + exact)
    rows = [
        h.groupBy(f"b{i}")
        .agg(F.sum("c").alias("s"))
        .agg(F.sum(F.col("s") * F.col("s")).alias(f"f2_{i}"))
        for i in range(len(_MIXES))
    ]
    exact = h.agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    out = exact
    for i, r in enumerate(rows):
        out = out.crossJoin(F.broadcast(r))
    cms = F.least(*[F.col(f"f2_{i}") for i in range(len(_MIXES))])
    return out.select(
        F.col("exact_f2").cast("bigint").alias("exact_self_join_size"),
        cms.cast("bigint").alias("cms_estimate"),
        F.round(cms.cast("double") / F.col("exact_f2"), 4).alias("inflation"),
    )


# --- Poisson bootstrap confidence interval ----------------------------

#: Replicates. 32 keeps the per-row fanout trivial while giving
#: rank-2 / rank-31 ≈ 94% central interval endpoints.
_BOOT_B = 32
#: Poisson(1) inverse-CDF thresholds (cumulative e⁻¹·Σ 1/i!); weights
#: truncate at 5 (P(w>5) < 6e-4). Identical literals on both engines.
_POIS_CUM = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
)


_BOOT_U_SQL = uniform_sql(
    "'boot_' || CAST(o_orderkey AS VARCHAR) || '_' || CAST(b AS VARCHAR)"
)


_BOOT_ORACLE = f"""
WITH reps AS (
  SELECT o.o_orderkey, CAST(o.o_totalprice AS DECIMAL(18,2)) AS price, b
  FROM orders o CROSS JOIN (SELECT unnest(generate_series(1, {_BOOT_B})) AS b)
),
weighted AS (
  SELECT b, price,
         CASE WHEN u <= {_POIS_CUM[0]} THEN 0
              WHEN u <= {_POIS_CUM[1]} THEN 1
              WHEN u <= {_POIS_CUM[2]} THEN 2
              WHEN u <= {_POIS_CUM[3]} THEN 3
              WHEN u <= {_POIS_CUM[4]} THEN 4
              ELSE 5 END AS w
  FROM (SELECT b, price, {_BOOT_U_SQL} AS u FROM reps)
),
rep_means AS (
  -- a replicate whose weights all drew 0 carries no information:
  -- emit NULL (possible only on degenerate tiny inputs, P = e^-n)
  SELECT b,
         CASE WHEN sum(w) > 0
              THEN CAST(sum(w * price) AS DOUBLE) / sum(w) END AS m
  FROM weighted GROUP BY b
),
live AS (SELECT b, m FROM rep_means WHERE m IS NOT NULL),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM live
),
point AS (
  SELECT CASE WHEN count(*) > 0
              THEN CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) END AS full_mean
  FROM orders
)
SELECT round(p.full_mean, 4) AS point_estimate,
       round((SELECT CASE WHEN count(*) > 0
                          THEN CAST(sum(CAST(m AS DECIMAL(28,10))) AS DOUBLE)
                               / count(*) END FROM live), 4) AS boot_mean,
       round((SELECT m FROM ranked WHERE rn = 2), 4) AS ci_lo,
       round((SELECT m FROM ranked WHERE rn = {_BOOT_B - 1}), 4) AS ci_hi
FROM point p
"""


@register("poisson_bootstrap_ci", oracle=_BOOT_ORACLE)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap confidence interval for the mean order
    price via the POISSON bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google TR'12): classical
    resampling needs a global draw of n indices, impossible
    row-parallel — but multinomial(n, 1/n) → Poisson(1) per row as
    n → ∞, so each row draws its own iid replicate weights from a
    hash, no coordination. B=32 replicates; CI endpoints are the
    rank-2 / rank-31 replicate means (~94% central interval).

    Determinism: the "RNG" is the salted-sha256 uniform of
    (o_orderkey, replicate) pushed through the exact Poisson(1)
    inverse CDF (identical threshold literals both engines); replicate
    sums are exact DECIMAL (prices are cents-exact), so each replicate
    mean is the identical double on both engines; the cross-replicate
    mean sums exact decimals too.

    Plan shape: the B-fold fanout is a map-side explode (no shuffle of
    the fanned stream until the replicate agg, which map-side-combines
    to B·partitions partials); everything after is over B=32 rows.
    One fact pass for the replicates + one for the point estimate."""
    # spread=True: the single-row-group testdata scan would otherwise
    # run the 32x explode + per-row sha256 on ONE task (catalog.table's
    # guarded round-robin; no-op on properly sized files).
    o = table(spark, sf_dir, "orders", spread=True).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    reps = o.select(
        "o_orderkey",
        "price",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
    )
    uu = uniform(
        F.concat(
            F.lit("boot_"),
            F.col("o_orderkey").cast("string"),
            F.lit("_"),
            F.col("b").cast("string"),
        )
    )
    cums = [float(c) for c in _POIS_CUM]
    wexpr = (
        F.when(F.col("u") <= cums[0], 0)
        .when(F.col("u") <= cums[1], 1)
        .when(F.col("u") <= cums[2], 2)
        .when(F.col("u") <= cums[3], 3)
        .when(F.col("u") <= cums[4], 4)
        .otherwise(5)
    )
    weighted = reps.select("b", "price", uu.alias("u")).select(
        "b", "price", wexpr.alias("w")
    )
    rep_means = weighted.groupBy("b").agg(
        F.when(
            F.sum("w") > 0,
            F.sum(F.col("w") * F.col("price")).cast("double") / F.sum("w"),
        ).alias("m")
    )
    # a replicate whose weights all drew 0 carries no information:
    # drop it (possible only on degenerate tiny inputs, P = e^-n)
    live = rep_means.filter(F.col("m").isNotNull())
    from pyspark.sql import Window

    ranked = live.select(
        "m", "b", F.row_number().over(Window.orderBy("m", "b")).alias("rn")
    )
    summary = live.agg(
        F.round(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum(F.col("m").cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
            ),
            4,
        ).alias("boot_mean")
    )
    point = o.agg(
        F.round(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum("price").cast("double") / F.count(F.lit(1)),
            ),
            4,
        ).alias("point_estimate")
    )
    lo = ranked.filter(F.col("rn") == 2).select(F.round("m", 4).alias("ci_lo"))
    hi = ranked.filter(F.col("rn") == _BOOT_B - 1).select(
        F.round("m", 4).alias("ci_hi")
    )
    return (
        point.crossJoin(F.broadcast(summary))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("point_estimate", "boot_mean", "ci_lo", "ci_hi")
    )


# --- KMV set operations (union / Jaccard / intersection) --------------

#: Set-op sketches must share ONE hash (unlike the per-group salts of
#: `kmv_distinct_estimate`): x contributes the same uniform to every
#: sketch, which is what makes bottom-k sets comparable and mergeable.
_KMVSET_U = uniform_sql("'kmvset_' || CAST(o_custkey AS VARCHAR)")

_KMVSET_ORACLE = f"""
WITH m AS (
  SELECT o_custkey,
         max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS in_b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY o_custkey
),
u AS (
  SELECT o_custkey, in_a, in_b, {_KMVSET_U} AS u FROM m
),
s AS (  -- bottom-k of the UNION, computed directly (the merge target)
  SELECT *, row_number() OVER (ORDER BY u, o_custkey) AS rn FROM u
),
sk AS (SELECT * FROM s WHERE rn <= {_KMV_K}),
est AS (
  SELECT
    (SELECT count(*) FROM m) AS exact_union,
    (SELECT count(*) FROM m WHERE in_a = 1 AND in_b = 1) AS exact_inter,
    (SELECT count(*) FROM sk) AS sk_n,
    (SELECT max(CASE WHEN rn = {_KMV_K} THEN u END) FROM sk) AS u_k,
    (SELECT count(*) FROM sk WHERE in_a = 1 AND in_b = 1) AS m_both
),
calc AS (
  SELECT exact_union, exact_inter,
         CASE WHEN sk_n < {_KMV_K} THEN CAST(exact_union AS DOUBLE)
              ELSE ({_KMV_K} - 1) / u_k END AS est_union,
         CAST(m_both AS DOUBLE) / sk_n AS est_jaccard
  FROM est
)
SELECT CAST(exact_union AS BIGINT) AS exact_union,
       round(est_union, 2) AS est_union,
       CAST(exact_inter AS BIGINT) AS exact_intersection,
       round(est_jaccard * est_union, 2) AS est_intersection,
       round(CAST(exact_inter AS DOUBLE) / exact_union, 6) AS exact_jaccard,
       round(est_jaccard, 6) AS est_jaccard
FROM calc
"""


@register("kmv_set_operations", oracle=_KMVSET_ORACLE)
def kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimation (Beyer et al., SIGMOD'07): union
    size, Jaccard, and intersection size of two customer sets (urgent-
    vs low-priority orderers) from bottom-k sketches under ONE shared
    hash. The Spark side computes the union sketch by MERGING the two
    per-set sketches (bottom-k of the union of bottom-ks) — the
    distributive property that lets per-partition/per-day sketches
    combine without revisiting data; the oracle computes the union
    sketch DIRECTLY from the full key set, so parity at two scale
    factors is a machine-checked proof of the merge identity, not just
    of the arithmetic. Estimators: |A∪B| = (k−1)/u₍ₖ₎, J = |{bottom-k
    of union} ∩ A ∩ B| / k, |A∩B| = J·|A∪B|; exact values reported
    alongside.

    Plan shape: ONE shuffle keyed on custkey builds the membership
    relation (conditional-agg flags); sketches are k-row windows over
    it; everything downstream is ≤ 2k rows. At stream scale the
    bottom-k windows become mergeable partial top-k aggs."""
    from pyspark.sql import Window

    m = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    u = uniform(F.concat(F.lit("kmvset_"), F.col("o_custkey").cast("string")))
    keyed = m.select("o_custkey", "in_a", "in_b", u.alias("u")).localCheckpoint()

    def bottomk(df, flag):
        w = Window.orderBy("u", "o_custkey")
        return (
            df.filter(F.col(flag) == 1)
            .select("o_custkey", "in_a", "in_b", "u")
            .select("*", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= _KMV_K)
            .drop("rn")
        )

    # MERGE path: union of the two per-set sketches, re-take bottom-k
    merged = bottomk(keyed, "in_a").unionByName(bottomk(keyed, "in_b")).distinct()
    w = Window.orderBy("u", "o_custkey")
    sk = (
        merged.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
    )
    stats = sk.agg(
        F.count(F.lit(1)).alias("sk_n"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("u"))).alias("u_k"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("m_both"),
    )
    exact = keyed.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("exact_inter"),
    )
    est_union = F.when(
        F.col("sk_n") < _KMV_K, F.col("exact_union").cast("double")
    ).otherwise((_KMV_K - 1) / F.col("u_k"))
    est_j = F.col("m_both").cast("double") / F.col("sk_n")
    return exact.crossJoin(F.broadcast(stats)).select(
        F.col("exact_union").cast("bigint").alias("exact_union"),
        F.round(est_union, 2).alias("est_union"),
        F.col("exact_inter").cast("bigint").alias("exact_intersection"),
        F.round(est_j * est_union, 2).alias("est_intersection"),
        F.round(
            F.col("exact_inter").cast("double") / F.col("exact_union"), 6
        ).alias("exact_jaccard"),
        F.round(est_j, 6).alias("est_jaccard"),
    )


# --- Portable HyperLogLog (oracle-verified registers) -----------------

_HLL_M = 64  # registers (p=6); alpha_64 = 0.709 (Flajolet et al. '07)
_HLL_ALPHA = 0.709


def _hll_rho_sql(v: str) -> str:
    """Leading-zero rank of a 40-bit value as a pure-integer CASE chain
    (rho = 1 + #leading zeros): no log2/floor, so no libm involved."""
    whens = "\n".join(
        f"    WHEN {v} >= {1 << (39 - r + 1)} THEN {r}" for r in range(1, 41)
    )
    return f"(CASE\n{whens}\n    ELSE 41 END)"


_HLL_HEX = "sha256('hll_' || CAST(o_custkey AS VARCHAR))"

_HLL_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT o_orderpriority, o_custkey FROM orders
),
h AS (
  SELECT o_orderpriority,
         CAST(('0x' || substr({_HLL_HEX}, 1, 2)) AS INT) % {_HLL_M} AS reg,
         {_hll_rho_sql(f"CAST(('0x' || substr({_HLL_HEX}, 3, 10)) AS BIGINT)")} AS rho
  FROM keys
),
regs AS (
  SELECT o_orderpriority, reg, max(rho) AS m_reg
  FROM h GROUP BY o_orderpriority, reg
),
z AS (
  SELECT o_orderpriority,
         count(*) AS v_nonzero,
         sum(power(2.0, -m_reg)) + ({_HLL_M} - count(*)) AS zsum
  FROM regs GROUP BY o_orderpriority
),
exact AS (
  SELECT o_orderpriority, count(*) AS exact_distinct
  FROM keys GROUP BY o_orderpriority
)
SELECT e.o_orderpriority AS priority,
       CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
       CAST(z.v_nonzero AS BIGINT) AS v_nonzero,
       z.zsum AS zsum,
       round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / z.zsum, 6) AS raw_estimate,
       round(CASE
         WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / z.zsum <= 2.5 * {_HLL_M}
              AND z.v_nonzero < {_HLL_M}
         THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                            / ({_HLL_M} - z.v_nonzero))
         ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / z.zsum
       END, 6) AS hll_estimate
FROM exact e JOIN z USING (o_orderpriority)
ORDER BY priority
"""


@register("hll_portable_distinct", oracle=_HLL_ORACLE)
def hll_portable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with ORACLE-VERIFIED registers (Flajolet-Fuss-
    Gandouet-Meunier, AofA'07): m=64 registers over sha256-hashed
    distinct customers per priority; rho (leading-zero rank of a
    40-bit hash chunk) is a pure-integer CASE chain, so no libm enters
    register construction, and the harmonic sum Z = sum 2^-M_j is EXACT
    in IEEE doubles regardless of accumulation order (64 dyadic terms
    spanning 2^-41..2^0 need <= 47 significand bits) — the registers
    AND the estimator are bit-identical on both engines; only the
    small-range ln() correction needs the round-6 guard. The contrast
    to `approx_distinct_counts` (built-in HLL, rows-only by necessity):
    here the sketch itself is the verified artifact, the same posture
    as the CMS/KMV sketches above.

    Plan shape: one distinct shuffle on (priority, custkey); registers
    are a 64-rows-per-group agg; at stream scale registers accumulate
    map-side and merge by element-wise max — the canonical mergeable-
    sketch discipline."""
    keys = (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .distinct()
        .localCheckpoint()  # consumed by 2 subtrees (registers + exact)
    )
    hexd = F.sha2(F.concat(F.lit("hll_"), F.col("o_custkey").cast("string")), 256)
    reg = (F.conv(F.substring(hexd, 1, 2), 16, 10).cast("int") % _HLL_M).alias("reg")
    v40 = F.conv(F.substring(hexd, 3, 10), 16, 10).cast("bigint")
    rho = F.lit(41)
    for r in range(40, 0, -1):
        rho = F.when(v40 >= (1 << (40 - r)), F.lit(r)).otherwise(rho)
    regs = (
        keys.select("o_orderpriority", reg, rho.alias("rho"))
        .groupBy("o_orderpriority", "reg")
        .agg(F.max("rho").alias("m_reg"))
    )
    z = regs.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("v_nonzero"),
        (
            F.sum(F.pow(F.lit(2.0), -F.col("m_reg")))
            + (_HLL_M - F.count(F.lit(1)))
        ).alias("zsum"),
    )
    exact = keys.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    raw = _HLL_ALPHA * _HLL_M * _HLL_M / F.col("zsum")
    corrected = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("v_nonzero") < _HLL_M),
        _HLL_M
        * F.log(
            F.lit(float(_HLL_M)) / (_HLL_M - F.col("v_nonzero"))
        ),
    ).otherwise(raw)
    return (
        exact.join(z, "o_orderpriority")
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            F.col("v_nonzero").cast("bigint").alias("v_nonzero"),
            "zsum",
            F.round(raw, 6).alias("raw_estimate"),
            F.round(corrected, 6).alias("hll_estimate"),
        )
        .orderBy("priority")
    )
