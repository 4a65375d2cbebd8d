"""Wave 33: eval-ops and embedding-ops depth — the measurement
primitives an LLM data/eval pipeline runs beside training.

- `knn_label_noise_audit`: per-label share of vectors whose 3 nearest
  cosine neighbors disagree with their own label — the kNN
  label-noise detector (Confident-Learning-style) run before trusting
  labels for filtering or eval.
- `binary_embedding_quant`: 1-bit (sign) embedding quantization audit
  — how well does Hamming distance on sign bits reconstruct cosine?
  (the 64x-compression feasibility check next to
  `embedding_int8_quant_error`).
- `pass_at_k_estimator`: the unbiased pass@k estimator
  1 − C(n−c,k)/C(n,k) (Codex/HumanEval estimator) over per-user event
  "attempts" — the right way to aggregate multi-sample success, where
  the naive empirical rate is biased.
- `bradley_terry_nations`: Bradley-Terry strengths from monthly
  pairwise revenue wins among the top-8 nations via 3 unrolled MM
  iterations — the pairwise-preference ranking model behind arena-
  style evals.
- `ece_reliability_bins`: expected calibration error + Brier score of
  a fixed sigmoid scoring rule against order completion — the
  reliability readout for any probabilistic filter.
- `chunk_overlap_census`: token-duplication rate introduced by
  overlapping chunking (W=64, stride 48) per source — the hidden
  epoch-inflation a chunked training pipeline must budget.

Determinism: bounded probe panels / nation & bin censuses; per-row
chains fixed IEEE; every cross-row float reduction rounds ONCE into
DECIMAL; the dot product is the repo-standard sequential fold
(bit-identical to DuckDB's list_dot_product).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.similarity import cosine_pre, cosine_sql, norm
from ocean_data_pipeline_spark.queries import register

# --- kNN label-noise audit ---------------------------------------------------

_KNN_PROBES = 100
_KNN_K = 3

_KNN_NOISE_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
  FROM embeddings
),
probes AS (SELECT * FROM emb WHERE vec_id < {_KNN_PROBES}),
scored AS (
  SELECT p.vec_id AS probe_id, p.label AS own_label,
         c.label AS nbr_label,
         row_number() OVER (
           PARTITION BY p.vec_id
           ORDER BY {cosine_sql("p.v", "c.v")} DESC, c.vec_id
         ) AS rk
  FROM probes p JOIN emb c ON c.vec_id <> p.vec_id
),
per_probe AS (
  SELECT probe_id, own_label,
         CAST(sum(CASE WHEN nbr_label = own_label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM scored WHERE rk <= {_KNN_K}
  GROUP BY 1, 2
)
SELECT own_label AS label,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN n_agree <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       round(CAST(sum(CASE WHEN n_agree <= 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS flag_rate,
       round(CAST(sum(n_agree) AS DOUBLE) / ({_KNN_K} * count(*)), 6)
         AS mean_nbr_agreement
FROM per_probe
GROUP BY own_label ORDER BY own_label
"""


@register("knn_label_noise_audit", oracle=_KNN_NOISE_ORACLE)
def knn_label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-noise audit (the Confident-Learning/Deep-kNN recipe):
    a vector whose {k} nearest cosine neighbors mostly carry a
    DIFFERENT label is a mislabeling candidate — flagged when ≤1 of 3
    neighbors agrees. Reported as a per-label census (which classes
    are noisy) over a fixed 100-vector probe panel.

    Determinism: cosine is the repo-standard sequential fold
    (bit-identical to list_dot_product); neighbor ranks tie-break on
    vec_id; agreement counts are integers.

    Plan shape: broadcast probes × ONE corpus scan → per-probe rank
    window (partitioned BY probe — bounded by corpus per partition,
    parallel across probes) → probe- then label-sized censuses. At
    100 TB the probe panel is fixed, so cost is one scan."""
    # norms precomputed per side (operators.similarity.cosine_pre):
    # one fold per corpus row / probe instead of three folds per pair
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    ).withColumn("nv", norm(F.col("v")))
    probes = emb.filter(F.col("vec_id") < _KNN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("label").alias("own_label"),
        F.col("nv").alias("npv"),
    )
    scored = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "own_label",
            F.col("label").alias("nbr_label"),
            cosine_pre(
                F.col("pv"), F.col("v"), F.col("npv"), F.col("nv")
            ).alias("sim"),
            "vec_id",
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.desc("sim"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rk") <= _KNN_K)
    )
    per_probe = scored.groupBy("probe_id", "own_label").agg(
        F.sum(F.when(F.col("nbr_label") == F.col("own_label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree")
    )
    return (
        per_probe.groupBy(F.col("own_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum(F.when(F.col("n_agree") <= 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.round(
                F.sum(F.when(F.col("n_agree") <= 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("flag_rate"),
            F.round(
                F.sum("n_agree").cast("double") / (_KNN_K * F.count(F.lit(1))), 6
            ).alias("mean_nbr_agreement"),
        )
        .orderBy("label")
    )


# --- 1-bit (sign) embedding quantization audit -------------------------------

_BQ_PROBES = 50
_BQ_DIM = 64

_BQ_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
probes AS (SELECT * FROM emb WHERE vec_id < {_BQ_PROBES}),
pairs AS (
  SELECT {cosine_sql("p.v", "c.v")} AS cos,
         len(list_filter(list_zip(p.v, c.v),
             z -> (z[1] >= 0) <> (z[2] >= 0))) AS ham
  FROM probes p JOIN emb c ON c.vec_id > p.vec_id
),
est AS (
  SELECT cos, ham, cos(pi() * ham / {_BQ_DIM}) AS est
  FROM pairs
),
mom AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(round(cos, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(est, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(cos * cos, 15) AS DECIMAL(28,15))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(round(est * est, 15) AS DECIMAL(28,15))) AS DOUBLE) AS syy,
         CAST(sum(CAST(round(cos * est, 15) AS DECIMAL(28,15))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(round(abs(cos - est), 12) AS DECIMAL(28,12))) AS DOUBLE)
           AS sae,
         CAST(sum(ham) AS BIGINT) AS sham
  FROM est
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       round((sxy - sx * sy / n)
             / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
         AS cos_est_corr,
       round(sae / n, 6) AS mean_abs_err,
       round(CAST(sham AS DOUBLE) / n, 4) AS mean_hamming
FROM mom
WHERE n > 2 AND (sxx - sx * sx / n) > 0 AND (syy - sy * sy / n) > 0
"""


@register("binary_embedding_quant", oracle=_BQ_ORACLE)
def binary_embedding_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit embedding quantization audit: quantize each 64-dim vector
    to its SIGN BITS (64 bits = 64× smaller than float32) and check how
    well the classic estimator cos(π·hamming/d) reconstructs true
    cosine over a 50-probe × corpus pair panel — correlation, mean
    absolute error, and mean Hamming distance. High correlation ⇒ the
    1-bit index can do first-pass retrieval with exact re-rank (the
    binary-embedding deployment pattern), completing the quantization
    ladder next to `embedding_int8_quant_error`.

    Determinism: Hamming counts are integers off identical sign
    comparisons; cosine is the standard fold; all pair-level float
    reductions round ONCE into DECIMAL; the correlation chain is fixed
    IEEE on those sums.

    Plan shape: broadcast probes × one corpus scan; the audit panel is
    fixed-size so cost is one scan at any corpus size."""
    # norms precomputed per side — see knn_label_noise_audit above
    emb = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nv", norm(F.col("v")))
    probes = emb.filter(F.col("vec_id") < _BQ_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("nv").alias("npv"),
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("pv"),
            F.col("v"),
            lambda a, b: ((a >= 0) != (b >= 0)).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    pairs = (
        emb.join(F.broadcast(probes), F.col("vec_id") > F.col("probe_id"))
        .select(
            cosine_pre(
                F.col("pv"), F.col("v"), F.col("npv"), F.col("nv")
            ).alias("cos"),
            ham.alias("ham"),
        )
        .select(
            "cos", "ham",
            F.cos(F.lit(math.pi) * F.col("ham") / _BQ_DIM).alias("est"),
        )
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(28,12)")  # noqa: E731
    d15 = lambda c: F.round(c, 15).cast("decimal(28,15)")  # noqa: E731
    mom = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d12(F.col("cos"))).cast("double").alias("sx"),
        F.sum(d12(F.col("est"))).cast("double").alias("sy"),
        F.sum(d15(F.col("cos") * F.col("cos"))).cast("double").alias("sxx"),
        F.sum(d15(F.col("est") * F.col("est"))).cast("double").alias("syy"),
        F.sum(d15(F.col("cos") * F.col("est"))).cast("double").alias("sxy"),
        F.sum(d12(F.abs(F.col("cos") - F.col("est")))).cast("double").alias("sae"),
        F.sum("ham").cast("bigint").alias("sham"),
    )
    n = F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return mom.filter((n > 2) & (vx > 0) & (vy > 0)).select(
        n.cast("bigint").alias("n_pairs"),
        F.round(
            (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(vx * vy), 6
        ).alias("cos_est_corr"),
        F.round(F.col("sae") / n, 6).alias("mean_abs_err"),
        F.round(F.col("sham").cast("double") / n, 4).alias("mean_hamming"),
    )


# --- unbiased pass@k ---------------------------------------------------------

_PASS_THRESH = 10.0
_PASS_KS = (1, 5, 10)

_PASS_ORACLE = f"""
WITH att AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value >= {_PASS_THRESH} THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM events GROUP BY user_id
),
ks AS (SELECT unnest(ARRAY[{", ".join(str(k) for k in _PASS_KS)}]) AS k),
per AS (
  SELECT k.k, a.user_id,
         CASE WHEN a.n - a.c < k.k THEN 1.0
              ELSE 1.0 - coalesce(list_aggregate(list_transform(
                     generate_series(0, k.k - 1),
                     i -> (a.n - a.c - i) * 1.0 / (a.n - i)), 'product'), 1.0)
         END AS p
  FROM att a JOIN ks k ON a.n >= k.k
)
SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
       round(CAST(sum(CAST(round(p, 12) AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS mean_pass_at_k
FROM per GROUP BY k ORDER BY k
"""


@register("pass_at_k_estimator", oracle=_PASS_ORACLE)
def pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (the Codex/HumanEval estimator): per task (user)
    with n attempts (events) of which c succeed (value ≥ 10), pass@k =
    1 − C(n−c, k)/C(n, k) — the probability ≥1 success in a k-draw
    WITHOUT replacement; naively averaging min(1, c·k/n) or
    subsampling is biased, which is exactly why the combinatorial
    form exists. Tasks with n < k are excluded for that k (the
    estimator is undefined), identically on both engines.

    Determinism: n, c are integers; the ratio form Π_{{i<k}}
    (n−c−i)/(n−i) is a ≤k-term sequential product (identical fold
    order both engines — no factorials, no overflow); per-task values
    round ONCE into DECIMAL before the mean.

    Plan shape: one events aggregate to the per-user census, a 3-row
    broadcast k grid, per-row expression chains, a k-sized final agg."""
    att = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("value") >= _PASS_THRESH, 1).otherwise(0))
            .cast("bigint")
            .alias("c"),
        )
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _PASS_KS])).alias("k")
    )
    prod = F.aggregate(
        F.sequence(F.lit(0).cast("long"), F.col("k").cast("long") - 1),
        F.lit(1.0),
        lambda acc, i: acc
        * (F.col("n") - F.col("c") - i).cast("double")
        / (F.col("n") - i).cast("double"),
    )
    p = F.when(F.col("n") - F.col("c") < F.col("k"), F.lit(1.0)).otherwise(
        1.0 - prod
    )
    per = (
        att.crossJoin(F.broadcast(ks))
        .filter(F.col("n") >= F.col("k"))
        .select("k", p.alias("p"))
    )
    return (
        per.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
            F.round(
                F.sum(F.round(F.col("p"), 12).cast("decimal(28,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_pass_at_k"),
        )
        .orderBy("k")
    )


# --- Bradley-Terry strengths from monthly pairwise wins -----------------------

_BT_TOP = 8
_BT_ROUNDS = 3


def _bt_oracle() -> str:
    head = f"""
WITH rev AS MATERIALIZED (
  SELECT n.n_name AS nation,
         year(o.o_orderdate) AS y, month(o.o_orderdate) AS mo,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2, 3
),
topn AS MATERIALIZED (
  SELECT nation FROM (
    SELECT nation, row_number() OVER (ORDER BY sum(x) DESC, nation) AS rk
    FROM rev GROUP BY nation
  ) WHERE rk <= {_BT_TOP}
),
months AS (SELECT DISTINCT y, mo FROM rev),
grid AS MATERIALIZED (
  SELECT m.y, m.mo, t.nation, coalesce(r.x, 0) AS x
  FROM months m CROSS JOIN topn t
  LEFT JOIN rev r ON r.y = m.y AND r.mo = m.mo AND r.nation = t.nation
),
duels AS MATERIALIZED (  -- per ordered pair: games + wins of i over j
  SELECT a.nation AS i, b.nation AS j,
         CAST(count(*) AS BIGINT) AS n_ij,
         CAST(sum(CASE WHEN (a.x, a.nation) > (b.x, b.nation)
                       THEN 1 ELSE 0 END) AS BIGINT) AS w_ij
  FROM grid a JOIN grid b
    ON b.y = a.y AND b.mo = a.mo AND b.nation <> a.nation
  GROUP BY 1, 2
),
wins AS MATERIALIZED (
  SELECT i AS nation, CAST(sum(w_ij) AS BIGINT) AS w FROM duels GROUP BY i
),
p0 AS MATERIALIZED (SELECT nation, 1.0 AS pi FROM wins)"""
    rounds = []
    prev = "p0"
    for r in range(1, _BT_ROUNDS + 1):
        rounds.append(f""",
u{r} AS MATERIALIZED (  -- MM update: pi_i = W_i / sum_j n_ij/(pi_i+pi_j)
  SELECT d.i AS nation,
         CAST(w.w AS DOUBLE)
           / CAST(sum(CAST(round(d.n_ij / (pi.pi + pj.pi), 12)
                           AS DECIMAL(28,12))) AS DOUBLE) AS pi_raw
  FROM duels d
  JOIN {prev} pi ON pi.nation = d.i
  JOIN {prev} pj ON pj.nation = d.j
  JOIN wins w ON w.nation = d.i
  GROUP BY d.i, w.w
),
p{r} AS MATERIALIZED (  -- normalize to sum = {_BT_TOP}
  SELECT nation,
         pi_raw * {_BT_TOP}
           / CAST((SELECT sum(CAST(round(pi_raw, 12) AS DECIMAL(28,12)))
                   FROM u{r}) AS DOUBLE) AS pi
  FROM u{r}
)""")
        prev = f"p{r}"
    tail = f"""
SELECT p.nation, w.w AS wins, round(p.pi, 6) AS bt_strength,
       CAST(row_number() OVER (ORDER BY p.pi DESC, p.nation) AS BIGINT)
         AS bt_rank
FROM {prev} p JOIN wins w ON w.nation = p.nation
ORDER BY bt_rank"""
    return head + "".join(rounds) + tail


@register("bradley_terry_nations", oracle=_bt_oracle())
def bradley_terry_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths from monthly pairwise revenue duels
    among the top-8 nations (every month, every pair: higher revenue
    wins; ties break by name on both engines) via 3 unrolled
    minorization-maximization rounds π_i ← W_i / Σ_j n_ij/(π_i+π_j),
    renormalized to Σπ = 8 — the pairwise-preference ranking model
    behind arena-style evals (two models, many duels, a strength
    scale), here exercised on a duel table SQL can check exactly.

    Determinism: wins are integers from exact decimal comparisons with
    a total tie order; each MM round's per-i denominator terms and the
    normalizer round ONCE into DECIMAL(28,12) (the census is 8 nations
    — bounded); the chain is fixed IEEE between rounds.

    Plan shape: one fact aggregate to the (nation, month) census, one
    bounded self-join to the ≤56-row duel table (localCheckpointed —
    consumed by every MM round), then 3 rounds of 8-row algebra."""
    rev = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
        .localCheckpoint()
    )
    topn = (
        rev.groupBy("nation")
        .agg(F.sum("x").alias("tot"))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("tot"), "nation"))
        )
        .filter(F.col("rk") <= _BT_TOP)
        .select("nation")
    )
    months = rev.select("y", "mo").distinct()
    grid = (
        months.crossJoin(F.broadcast(topn))
        .join(rev, ["y", "mo", "nation"], "left")
        .select("y", "mo", "nation", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    ga = grid.select(
        "y", "mo", F.col("nation").alias("i"), F.col("x").alias("xa")
    )
    gb = grid.select(
        "y", "mo", F.col("nation").alias("j"), F.col("x").alias("xb")
    )
    win = (F.col("xa") > F.col("xb")) | (
        (F.col("xa") == F.col("xb")) & (F.col("i") > F.col("j"))
    )
    duels = (
        ga.join(gb, ["y", "mo"])
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ij"),
            F.sum(F.when(win, 1).otherwise(0)).cast("bigint").alias("w_ij"),
        )
        .localCheckpoint()  # consumed by every MM round
    )
    wins = duels.groupBy(F.col("i").alias("nation")).agg(
        F.sum("w_ij").cast("bigint").alias("w")
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(28,12)")  # noqa: E731
    # Round-11 loop shape (guide §1.2 + the absorbing_chain_steps
    # lesson): each MM round executes EAGERLY over the 56-row
    # checkpointed duel table, and the 8-entry π vector feeds the next
    # round back as a string→double MAP LITERAL instead of two joins
    # against a lazy π relation (which re-embedded the whole
    # prior-round subtree TWICE per round — the final plan was 8.6 k
    # lines). w_i rides in-aggregate as Σ_j w_ij (the former `wins`
    # join, integer-exact over the same row set), the normalizer is an
    # unpartitioned window sum of the SAME once-rounded DECIMAL(28,12)
    # terms the former tot-aggregate summed (decimal addition is
    # exactly associative), and collected doubles re-embed bit-for-bit
    # via F.lit — so every round's IEEE chain is unchanged.
    def _pi_map(rows):
        # zero-arg create_map() is untyped (map<void,void>) and fails
        # analysis under a string key; with no duels every relation
        # below is empty, so a typed NULL reproduces the former output
        if not rows:
            return lambda c: F.lit(None).cast("double")
        m = F.create_map(
            *[x for r in rows for x in (F.lit(r["nation"]), F.lit(float(r["pi"])))]
        )
        return lambda c: m[c]

    pi_i, pi_j = F.lit(1.0), F.lit(1.0)
    pi_rows = None
    for _ in range(_BT_ROUNDS):
        u = (
            duels.groupBy(F.col("i").alias("nation"))
            .agg(
                (
                    F.sum("w_ij").cast("bigint").cast("double")
                    / F.sum(d12(F.col("n_ij") / (pi_i + pi_j))).cast("double")
                ).alias("pi_raw")
            )
            .withColumn(
                "t",
                F.sum(d12(F.col("pi_raw")))
                .over(Window.partitionBy())
                .cast("double"),
            )
            .select(
                "nation", (F.col("pi_raw") * _BT_TOP / F.col("t")).alias("pi")
            )
        )
        pi_rows = u.collect()
        lookup = _pi_map(pi_rows)
        pi_i, pi_j = lookup(F.col("i")), lookup(F.col("j"))
    pi_m = _pi_map(pi_rows)
    return (
        wins.select(
            "nation",
            F.col("w").alias("wins"),
            F.round(pi_m(F.col("nation")), 6).alias("bt_strength"),
            F.row_number()
            .over(Window.orderBy(F.desc(pi_m(F.col("nation"))), "nation"))
            .cast("bigint")
            .alias("bt_rank"),
        )
        .orderBy("bt_rank")
    )


# --- expected calibration error ------------------------------------------------

_ECE_BINS = 10

_ECE_ORACLE = f"""
WITH s AS (
  SELECT 1.0 / (1.0 + exp(-(CAST(o_totalprice AS DOUBLE) / 100000 - 1.5)))
           AS conf,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
  FROM orders
),
b AS (
  SELECT least({_ECE_BINS} - 1,
               CAST(floor(conf * {_ECE_BINS}) AS BIGINT)) AS bin,
         conf, y
  FROM s
),
per_bin AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(CAST(round(conf, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / count(*) AS mean_conf,
         CAST(sum(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / count(*) AS frac_pos
  FROM b GROUP BY bin
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / count(*) AS base_rate,
         CAST(sum(CAST(round(conf, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / count(*) AS mean_conf,
         CAST(sum(CAST(round((conf - y) * (conf - y), 9) AS DECIMAL(28,9)))
              AS DOUBLE) / count(*) AS brier
  FROM s
)
SELECT t.n AS n_rows,
       round(t.base_rate, 6) AS base_rate,
       round(t.mean_conf, 6) AS mean_conf,
       round(CAST(sum(CAST(round(
               CAST(p.n_b AS DOUBLE) / t.n * abs(p.frac_pos - p.mean_conf), 12)
             AS DECIMAL(28,12))) AS DOUBLE), 6) AS ece,
       round(max(abs(p.frac_pos - p.mean_conf)), 6) AS max_bin_gap,
       round(t.brier, 6) AS brier
FROM per_bin p, tot t
GROUP BY t.n, t.base_rate, t.mean_conf, t.brier
"""


@register("ece_reliability_bins", oracle=_ECE_ORACLE)
def ece_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of a fixed sigmoid scoring rule
    (confidence = σ(price/10⁵ − 1.5)) against order completion:
    10 equal-width reliability bins, ECE = Σ (n_b/N)·|acc_b − conf_b|,
    the worst bin gap, and the Brier score — the calibration readout
    that decides whether a probabilistic quality filter's scores can
    be thresholded at face value.

    Determinism: bin assignment is integer floor on identical doubles;
    every bin/total mean and the ECE terms round ONCE into DECIMAL.

    Plan shape: one scan → 10-bin partial agg + 1-row totals; the bin
    census is O(1)."""
    s = table(spark, sf_dir, "orders").select(
        (
            1.0
            / (1.0 + F.exp(-(F.col("o_totalprice").cast("double") / 100000 - 1.5)))
        ).alias("conf"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
    )
    d9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    b = s.select(
        F.least(
            F.lit(_ECE_BINS - 1),
            F.floor(F.col("conf") * _ECE_BINS).cast("bigint"),
        ).alias("bin"),
        "conf", "y",
    )
    per_bin = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        (F.sum(d9(F.col("conf"))).cast("double") / F.count(F.lit(1))).alias(
            "mean_conf"
        ),
        (F.sum(d9(F.col("y"))).cast("double") / F.count(F.lit(1))).alias(
            "frac_pos"
        ),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(d9(F.col("y"))).cast("double") / F.count(F.lit(1))).alias(
            "base_rate"
        ),
        (F.sum(d9(F.col("conf"))).cast("double") / F.count(F.lit(1))).alias(
            "mean_conf_t"
        ),
        (
            F.sum(d9((F.col("conf") - F.col("y")) * (F.col("conf") - F.col("y"))))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("brier"),
    )
    gap = F.abs(F.col("frac_pos") - F.col("mean_conf"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .groupBy("n", "base_rate", "mean_conf_t", "brier")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("n_b").cast("double") / F.col("n") * gap, 12
                    ).cast("decimal(28,12)")
                ).cast("double"),
                6,
            ).alias("ece"),
            F.round(F.max(gap), 6).alias("max_bin_gap"),
        )
        .select(
            F.col("n").alias("n_rows"),
            F.round("base_rate", 6).alias("base_rate"),
            F.round("mean_conf_t", 6).alias("mean_conf"),
            "ece",
            "max_bin_gap",
            F.round("brier", 6).alias("brier"),
        )
    )


# --- chunk-overlap duplication census ------------------------------------------

_CHUNK_W = 64
_CHUNK_S = 48

_CHUNK_OVERLAP_ORACLE = f"""
WITH d AS (
  SELECT source,
         len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n
  FROM documents WHERE length(trim(text)) > 0
),
per_doc AS (
  SELECT source, n,
         len(generate_series(0, greatest(n - 1, 0), {_CHUNK_S})) AS n_chunks,
         coalesce(list_aggregate(list_transform(
           generate_series(0, greatest(n - 1, 0), {_CHUNK_S}),
           s -> least({_CHUNK_W}, n - s)), 'sum'), 0) AS chunk_tokens
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(n) AS BIGINT) AS doc_tokens,
       CAST(sum(chunk_tokens) AS BIGINT) AS chunk_tokens,
       round(CAST(sum(chunk_tokens) - sum(n) AS DOUBLE)
             / sum(chunk_tokens), 6) AS duplication_rate
FROM per_doc
GROUP BY source ORDER BY source
"""


@register("chunk_overlap_census", oracle=_CHUNK_OVERLAP_ORACLE)
def chunk_overlap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-duplication census of OVERLAPPING chunking (window 64,
    stride 48 — the standard context-window chunker with 16-token
    overlap): per source, the chunk count and the fraction of emitted
    training tokens that are stride-overlap DUPLICATES — the hidden
    epoch inflation (≈ overlap/stride) a token budget must account
    for before `pack_token_budget` packs the chunks.

    Determinism: all quantities are integers from the same whitespace
    tokenization both engines share; the rate is one fixed division.

    Plan shape: one spread scan; chunk geometry is computed per row
    from the token COUNT alone (a sequence fold — the chunk list is
    never materialized, no explode), then a source-sized census."""
    docs = (
        table(spark, sf_dir, "documents", spread=True)
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "source",
            F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("n"),
        )
    )
    starts = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(F.col("n").cast("long") - 1, F.lit(0).cast("long")),
        F.lit(_CHUNK_S).cast("long"),
    )
    per_doc = docs.select(
        "source", "n",
        F.size(starts).alias("n_chunks"),
        F.aggregate(
            starts,
            F.lit(0).cast("long"),
            lambda acc, st: acc + F.least(F.lit(_CHUNK_W).cast("long"), F.col("n") - st),
        ).alias("chunk_tokens"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            F.sum("n").cast("bigint").alias("doc_tokens"),
            F.sum("chunk_tokens").cast("bigint").alias("chunk_tokens"),
            F.round(
                (F.sum("chunk_tokens") - F.sum("n")).cast("double")
                / F.sum("chunk_tokens"),
                6,
            ).alias("duplication_rate"),
        )
        .orderBy("source")
    )
