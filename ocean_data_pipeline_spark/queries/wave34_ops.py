"""Wave 34: journey modeling, time-series feature strength, feature
ranking, inventory quantiles, resampling inference, experimentation.

- `absorbing_chain_steps`: expected steps to conversion per funnel
  state — the absorbing-Markov-chain readout (fixed-point t = 1 + Qt,
  25 unrolled rounds) over per-user event transitions.
- `trend_seasonal_strength`: Hyndman's F_T / F_S strength-of-trend and
  strength-of-seasonality features from the classical decomposition —
  the two numbers that route a series to the right forecaster.
- `information_gain_ranking`: entropy-based feature ranking of three
  categorical lineitem features (line status, ship quarter, quantity
  band) against the return flag — the decision-tree root-split table.
- `newsvendor_quantile`: the critical-ratio (cu/(cu+co) = 0.9) EXACT
  order-statistic of daily demand — inventory sizing from first
  principles.
- `permutation_test_lite`: Monte-Carlo permutation test (200
  hash-seeded relabelings) for the click-vs-view value gap — the
  distribution-free sibling of the t-test family.

Determinism: bounded censuses (states, months, feature levels, B=200
draw grid); exact decimal moments; per-round/term round-once-into-
DECIMAL; sha2-seeded pseudo-randomness identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.monthly import (
    YEAR_MONTH,
    monthly_revenue,
    monthly_revenue_sql,
    year_month,
)
from ocean_data_pipeline_spark.operators.portable import hash_int, hash_int_sql
from ocean_data_pipeline_spark.operators.ranks import cumulative, cumulative_sql, kth, kth_sql
from ocean_data_pipeline_spark.queries import register

# --- absorbing Markov chain: expected steps to conversion ---------------------

_ABSORB_STATE = "purchase"
_CHAIN_ROUNDS = 25


def _chain_oracle() -> str:
    head = f"""
WITH seq AS MATERIALIZED (
  SELECT user_id, event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS s_next
  FROM events
),
trans AS MATERIALIZED (  -- transitions leaving a transient state
  SELECT s, s_next, CAST(count(*) AS BIGINT) AS c
  FROM seq
  WHERE s_next IS NOT NULL AND s <> '{_ABSORB_STATE}'
  GROUP BY 1, 2
),
outs AS MATERIALIZED (
  SELECT s, CAST(sum(c) AS BIGINT) AS tot FROM trans GROUP BY s
),
q AS MATERIALIZED (  -- transient-to-transient probabilities
  SELECT t.s AS i, t.s_next AS j, CAST(t.c AS DOUBLE) / o.tot AS p
  FROM trans t JOIN outs o ON o.s = t.s
  WHERE t.s_next <> '{_ABSORB_STATE}'
),
absorb AS MATERIALIZED (
  SELECT t.s AS i, CAST(t.c AS DOUBLE) / o.tot AS p_abs
  FROM trans t JOIN outs o ON o.s = t.s
  WHERE t.s_next = '{_ABSORB_STATE}'
),
t0 AS MATERIALIZED (SELECT s AS i, CAST(0.0 AS DECIMAL(28,9)) AS t FROM outs)"""
    rounds = []
    prev = "t0"
    for r in range(1, _CHAIN_ROUNDS + 1):
        rounds.append(f""",
t{r} AS MATERIALIZED (  -- t = 1 + Q t, rounded once per round
  SELECT o.s AS i,
         CAST(round(1.0 + coalesce(CAST(sum(CAST(round(
             q.p * CAST(tp.t AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE), 0.0),
           9) AS DECIMAL(28,9)) AS t
  FROM outs o
  LEFT JOIN q ON q.i = o.s
  LEFT JOIN {prev} tp ON tp.i = q.j
  GROUP BY o.s
)""")
        prev = f"t{r}"
    tail = f"""
SELECT o.s AS state, o.tot AS n_transitions,
       round(coalesce(a.p_abs, 0.0), 6) AS p_convert_next,
       round(CAST(t.t AS DOUBLE), 4) AS expected_steps_t{_CHAIN_ROUNDS}
FROM outs o
LEFT JOIN absorb a ON a.i = o.s
JOIN {prev} t ON t.i = o.s
ORDER BY state"""
    return head + "".join(rounds) + tail


@register("absorbing_chain_steps", oracle=_chain_oracle())
def absorbing_chain_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-Markov-chain funnel model: per-user event sequences
    define transition probabilities between the transient states, with
    'purchase' absorbing; expected steps to conversion solves
    t = 1 + Q·t — here the fixed point is UNROLLED to 25 rounds with
    each round's value rounded once into DECIMAL(28,9) (so the
    truncation is a well-defined quantity both engines compute
    identically; the spectral radius of a funnel's Q makes 25 rounds
    sub-1e-6 converged in practice). Also reports each state's
    one-step conversion probability.

    Plan shape: one lead() window partitioned BY USER over the event
    scan, a state-pair census (≤ |state vocabulary|²), then 25 rounds
    of ≤5-row algebra. At 100 TB only the sequence window scales —
    and it partitions by user."""
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("s"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("s_next"),
    )
    trans = (
        seq.filter(F.col("s_next").isNotNull() & (F.col("s") != _ABSORB_STATE))
        .groupBy("s", "s_next")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()  # consumed by the vocab probe + the pivot
    )
    # Round-11 rewrite (guide §1.2 step 1 — the distributed algorithm):
    # the 25 unrolled rounds used to run as ≤5-row join/aggregate
    # rounds, checkpointed every 8 — ~3 materialize jobs plus dozens of
    # AQE stages of pure scheduling overhead (8.9 s at sf0.1 for ≤5-row
    # algebra). The state space is the bounded event-type vocabulary,
    # so pivot the whole system into ONE ROW (a column per tot_i /
    # c_ij / t_i) and unroll the 25 rounds as chained Projects: zero
    # joins, zero shuffles after the transition census.
    # Numerics are unchanged: each round's per-term round-into-DECIMAL
    # and the DECIMAL sum are exactly associative, so a fixed-order
    # column sum equals the aggregate sum bit-for-bit; missing (i, j)
    # cells contribute an exact decimal 0 just as absent rows did.
    # The vocabulary probe compiles the bounded state alphabet into the
    # plan, the same device as the frozen IVF/PQ codebooks.
    states = sorted(
        r[0] for r in trans.select("s").distinct().collect()
    )
    if not states:
        return spark.createDataFrame(
            [],
            "state string, n_transitions bigint, p_convert_next double, "
            f"expected_steps_t{_CHAIN_ROUNDS} double",
        )
    cell = lambda i, j: F.sum(  # noqa: E731
        F.when((F.col("s") == i) & (F.col("s_next") == j), F.col("c"))
    ).cast("bigint")
    row = trans.groupBy().agg(
        *[
            F.sum(F.when(F.col("s") == si, F.col("c")))
            .cast("bigint")
            .alias(f"tot_{k}")
            for k, si in enumerate(states)
        ],
        *[
            cell(si, sj).alias(f"c_{k}_{m}")
            for k, si in enumerate(states)
            for m, sj in enumerate(states)
        ],
        *[
            cell(si, _ABSORB_STATE).alias(f"ca_{k}")
            for k, si in enumerate(states)
        ],
    )
    # t starts at exact decimal 0 for every state (round 0)
    row = row.select(
        "*", *[F.lit(0).cast("decimal(28,9)").alias(f"t_{k}") for k in range(len(states))]
    )
    others = [c for c in row.columns if not c.startswith("t_")]
    # Each round is ONE selectExpr call built from SQL strings: the
    # Column-API form of the same expressions cost ~0.4 s of py4j
    # round-trips PER ROUND (~300 JVM calls each — 9.5 s of the 10.2 s
    # total was driver-side plan construction). The SQL strings parse
    # to the identical analyzed trees (ROUND/CAST/COALESCE, double
    # division, decimal addition), so values are bit-identical.
    dec0 = "CAST(0 AS DECIMAL(28,9))"
    for r in range(_CHAIN_ROUNDS):
        new_t = []
        for k in range(len(states)):
            # Σ_j round(p_kj · t_j, 9) as DECIMAL — identical values to
            # the former sum aggregate (exact decimal addition; absent
            # transitions coalesce to decimal 0, matching absent rows)
            acc = dec0
            for m in range(len(states)):
                p = f"(CAST(c_{k}_{m} AS DOUBLE) / tot_{k})"
                term = (
                    f"CAST(ROUND(({p} * CAST(t_{m} AS DOUBLE)), 9)"
                    " AS DECIMAL(28,9))"
                )
                acc = f"({acc} + COALESCE({term}, {dec0}))"
            new_t.append(
                f"CAST(ROUND((1.0D + CAST({acc} AS DOUBLE)), 9)"
                f" AS DECIMAL(28,9)) AS t_{k}"
            )
        row = row.selectExpr(*others, *new_t)
        # Cut the Project chain every 5 rounds: WholeStageCodegen fuses
        # ALL chained Projects into one generated method, and 25 rounds
        # × |S|² decimal terms blows the 64 KB JVM method limit — janino
        # then fails (~4 multi-second compile attempts) and the whole
        # stage runs interpreted (measured). A 1-row localCheckpoint
        # every 5 rounds bounds each codegen unit at 5·|S|² terms and
        # costs one ~80 ms job; values are unchanged (checkpointing is
        # value-transparent).
        if (r + 1) % 5 == 0 and (r + 1) < _CHAIN_ROUNDS:
            row = row.localCheckpoint()
    per_state = F.array(
        *[
            F.struct(
                F.lit(si).alias("state"),
                F.col(f"tot_{k}").alias("n_transitions"),
                F.round(
                    F.coalesce(
                        F.col(f"ca_{k}").cast("double") / F.col(f"tot_{k}"),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("p_convert_next"),
                F.round(F.col(f"t_{k}").cast("double"), 4).alias(
                    f"expected_steps_t{_CHAIN_ROUNDS}"
                ),
            )
            for k, si in enumerate(states)
        ]
    )
    return (
        row.select(F.explode(per_state).alias("r"))
        .select("r.*")
        .orderBy("state")
    )


# --- strength of trend / seasonality ------------------------------------------

_TSS_ORACLE = f"""
WITH m AS ({monthly_revenue_sql(*YEAR_MONTH)}),
r AS (
  SELECT y, mo, CAST(x AS DOUBLE) AS x,
         row_number() OVER (ORDER BY y, mo) AS t,
         count(*) OVER () AS n
  FROM m
),
tr AS (  -- 2x12 centered moving average (weights 1/24 ends, 1/12 middle)
  SELECT t, mo, x,
         CASE WHEN t >= 7 AND t <= n - 6 THEN
           (CAST(sum(CAST(round(x, 6) AS DECIMAL(38,6)))
                 OVER (ORDER BY t ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
            AS DOUBLE)
            + CAST(sum(CAST(round(x, 6) AS DECIMAL(38,6)))
                 OVER (ORDER BY t ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
            AS DOUBLE)) / 24
         END AS trend
  FROM r
),
dt AS (SELECT t, mo, x, trend, x - trend AS detr FROM tr WHERE trend IS NOT NULL),
sidx AS (
  SELECT mo, CAST(sum(CAST(round(detr, 9) AS DECIMAL(28,9))) AS DOUBLE)
               / count(*) AS s_raw
  FROM dt GROUP BY mo
),
sc AS (
  SELECT mo, s_raw - (SELECT CAST(sum(CAST(round(s_raw, 9) AS DECIMAL(28,9)))
                             AS DOUBLE) / count(*) FROM sidx) AS s
  FROM sidx
),
rem AS (
  SELECT d.t, d.x, d.trend, s.s, d.detr - s.s AS r
  FROM dt d JOIN sc s ON s.mo = d.mo
),
v AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(round(r, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sr,
         CAST(sum(CAST(round(r * r, 6) AS DECIMAL(38,6))) AS DOUBLE) AS srr,
         CAST(sum(CAST(round(detr, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sd,
         CAST(sum(CAST(round(detr * detr, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sdd,
         CAST(sum(CAST(round(trend + r, 9) AS DECIMAL(28,9))) AS DOUBLE) AS stp,
         CAST(sum(CAST(round((trend + r) * (trend + r), 6) AS DECIMAL(38,6)))
              AS DOUBLE) AS stpp
  FROM (SELECT t, x, trend, s, r, x - trend AS detr FROM rem)
),
f AS (
  SELECT n,
         (srr - sr * sr / n) / n AS var_r,
         (sdd - sd * sd / n) / n AS var_sr,
         (stpp - stp * stp / n) / n AS var_tr
  FROM v WHERE n > 1
)
SELECT CAST(n AS BIGINT) AS n_used,
       round(greatest(0.0, 1 - var_r / var_tr), 6) AS trend_strength,
       round(greatest(0.0, 1 - var_r / var_sr), 6) AS seasonal_strength
FROM f WHERE var_tr > 0 AND var_sr > 0
"""


@register("trend_seasonal_strength", oracle=_TSS_ORACLE)
def trend_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-of-trend F_T = max(0, 1 − Var(R)/Var(T+R)) and
    strength-of-seasonality F_S = max(0, 1 − Var(R)/Var(S+R))
    (Hyndman's tsfeatures, the M4 meta-learning features) from the
    classical additive decomposition: 2x12 centered-MA trend,
    month-of-year seasonal indices (centered), remainder — the two
    numbers that decide whether a series needs a trend model, a
    seasonal model, both, or neither.

    Determinism: the MA is two exact-decimal window sums averaged;
    seasonal indices are decimal-rounded means over month-of-year
    groups; all variance moments round ONCE into DECIMAL.

    Plan shape: one fact aggregate to the month census; all windows
    are calendar-bounded (the 2x12 MA is two ROWS frames over ≤84
    rows); group censuses are month-of-year-sized."""
    m = monthly_revenue(table(spark, sf_dir, "orders"), *year_month())
    wn = Window.orderBy("y", "mo")
    r = m.select(
        "mo",
        F.col("x").cast("double").alias("x"),
        F.row_number().over(wn).alias("t"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    d6 = lambda c: F.round(c, 6).cast("decimal(38,6)")  # noqa: E731
    d9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    w1 = Window.orderBy("t").rowsBetween(-5, 6)
    w2 = Window.orderBy("t").rowsBetween(-6, 5)
    trend = F.when(
        (F.col("t") >= 7) & (F.col("t") <= F.col("n") - 6),
        (
            F.sum(d6(F.col("x"))).over(w1).cast("double")
            + F.sum(d6(F.col("x"))).over(w2).cast("double")
        )
        / 24,
    )
    dt = (
        r.select("t", "mo", "x", trend.alias("trend"))
        .filter(F.col("trend").isNotNull())
        .withColumn("detr", F.col("x") - F.col("trend"))
        .localCheckpoint(eager=False)
    )
    sidx = dt.groupBy("mo").agg(
        (F.sum(d9(F.col("detr"))).cast("double") / F.count(F.lit(1))).alias(
            "s_raw"
        )
    )
    smean = sidx.agg(
        (F.sum(d9(F.col("s_raw"))).cast("double") / F.count(F.lit(1))).alias(
            "sm"
        )
    )
    sc = sidx.crossJoin(F.broadcast(smean)).select(
        "mo", (F.col("s_raw") - F.col("sm")).alias("s")
    )
    rem = dt.join(F.broadcast(sc), "mo").select(
        "trend", "detr", (F.col("detr") - F.col("s")).alias("r")
    )
    tp = F.col("trend") + F.col("r")
    v = rem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d9(F.col("r"))).cast("double").alias("sr"),
        F.sum(d6(F.col("r") * F.col("r"))).cast("double").alias("srr"),
        F.sum(d9(F.col("detr"))).cast("double").alias("sd"),
        F.sum(d6(F.col("detr") * F.col("detr"))).cast("double").alias("sdd"),
        F.sum(d9(tp)).cast("double").alias("stp"),
        F.sum(d6(tp * tp)).cast("double").alias("stpp"),
    )
    n = F.col("n")
    f = v.filter(n > 1).select(
        "n",
        ((F.col("srr") - F.col("sr") * F.col("sr") / n) / n).alias("var_r"),
        ((F.col("sdd") - F.col("sd") * F.col("sd") / n) / n).alias("var_sr"),
        ((F.col("stpp") - F.col("stp") * F.col("stp") / n) / n).alias("var_tr"),
    )
    return f.filter((F.col("var_tr") > 0) & (F.col("var_sr") > 0)).select(
        n.cast("bigint").alias("n_used"),
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("var_r") / F.col("var_tr")), 6
        ).alias("trend_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("var_r") / F.col("var_sr")), 6
        ).alias("seasonal_strength"),
    )


# --- information-gain feature ranking -----------------------------------------

_IG_FEATURES = ("l_linestatus", "ship_quarter", "qty_band")

_IG_ORACLE = f"""
WITH base AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         l_linestatus,
         CAST(quarter(l_shipdate) AS VARCHAR) AS ship_quarter,
         CAST(CAST(l_quantity AS BIGINT) // 10 AS VARCHAR) AS qty_band
  FROM lineitem
),
melted AS (
  {" UNION ALL ".join(
    f"SELECT '{f}' AS feature, {f} AS v, y FROM base" for f in _IG_FEATURES
  )}
),
cells AS (
  SELECT feature, v, CAST(count(*) AS BIGINT) AS n_v,
         CAST(sum(y) AS BIGINT) AS pos_v
  FROM melted GROUP BY 1, 2
),
tot AS (
  SELECT feature, CAST(sum(n_v) AS BIGINT) AS n,
         CAST(sum(pos_v) AS BIGINT) AS pos
  FROM cells GROUP BY feature
),
hy AS (
  SELECT feature, n,
         -(CASE WHEN pos > 0 THEN pos * 1.0 / n * ln(pos * 1.0 / n)
                ELSE 0 END
           + CASE WHEN n - pos > 0
                  THEN (n - pos) * 1.0 / n * ln((n - pos) * 1.0 / n)
                  ELSE 0 END) AS h
  FROM tot
),
cond AS (
  SELECT c.feature,
         CAST(sum(CAST(round(
           CAST(c.n_v AS DOUBLE) / t.n *
           -(CASE WHEN c.pos_v > 0
                  THEN c.pos_v * 1.0 / c.n_v * ln(c.pos_v * 1.0 / c.n_v)
                  ELSE 0 END
             + CASE WHEN c.n_v - c.pos_v > 0
                    THEN (c.n_v - c.pos_v) * 1.0 / c.n_v
                         * ln((c.n_v - c.pos_v) * 1.0 / c.n_v)
                    ELSE 0 END), 12) AS DECIMAL(28,12))) AS DOUBLE) AS h_cond,
         CAST(count(*) AS BIGINT) AS n_levels
  FROM cells c JOIN tot t ON t.feature = c.feature
  GROUP BY c.feature
)
SELECT h.feature, c.n_levels,
       round(h.h, 6) AS label_entropy,
       round(h.h - c.h_cond, 6) AS info_gain,
       CAST(row_number() OVER (ORDER BY h.h - c.h_cond DESC, h.feature)
            AS BIGINT) AS rank
FROM hy h JOIN cond c ON c.feature = h.feature
ORDER BY rank
"""


@register("information_gain_ranking", oracle=_IG_ORACLE)
def information_gain_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain ranking of three categorical features against
    the return flag: IG(f) = H(y) − Σ_v p(v)·H(y|v) — the decision-
    tree root-split table (and the standard feature-selection score
    for categorical predictors), generalizing the single-feature
    `decision_stump_totalprice` to a ranked panel.

    Determinism: all entropies are fixed ln chains on exact integer
    counts; the per-level conditional terms round ONCE into
    DECIMAL(28,12) before the feature-level sum; ranking tie-breaks on
    feature name.

    Plan shape: one melted scan (3 unioned projections — still one
    stage each, map-side), a (feature, level) census (≤ ~15 cells),
    then cell algebra."""
    base = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.col("l_linestatus"),
        F.quarter("l_shipdate").cast("string").alias("ship_quarter"),
        F.expr("CAST(CAST(l_quantity AS BIGINT) div 10 AS STRING)").alias(
            "qty_band"
        ),
    )
    melted = None
    for feat in _IG_FEATURES:
        part = base.select(
            F.lit(feat).alias("feature"), F.col(feat).alias("v"), "y"
        )
        melted = part if melted is None else melted.unionByName(part)
    cells = melted.groupBy("feature", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v"),
        F.sum("y").cast("bigint").alias("pos_v"),
    )
    tot = cells.groupBy("feature").agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum("pos_v").cast("bigint").alias("pos"),
    )

    def ent(pos, n):
        p = pos.cast("double") / n
        q = (n - pos).cast("double") / n
        return -(
            F.when(pos > 0, p * F.log(p)).otherwise(0.0)
            + F.when(n - pos > 0, q * F.log(q)).otherwise(0.0)
        )

    hy = tot.select("feature", "n", ent(F.col("pos"), F.col("n")).alias("h"))
    cond = (
        cells.join(tot.select("feature", "n"), "feature")
        .select(
            "feature",
            F.round(
                F.col("n_v").cast("double")
                / F.col("n")
                * ent(F.col("pos_v"), F.col("n_v")),
                12,
            )
            .cast("decimal(28,12)")
            .alias("term"),
        )
        .groupBy("feature")
        .agg(
            F.sum("term").cast("double").alias("h_cond"),
            F.count(F.lit(1)).cast("bigint").alias("n_levels"),
        )
    )
    return (
        hy.join(cond, "feature")
        .select(
            "feature",
            "n_levels",
            F.round("h", 6).alias("label_entropy"),
            F.round(F.col("h") - F.col("h_cond"), 6).alias("info_gain"),
            F.row_number()
            .over(Window.orderBy(F.desc(F.col("h") - F.col("h_cond")), "feature"))
            .cast("bigint")
            .alias("rank"),
        )
        .orderBy("rank")
    )


# --- newsvendor critical-ratio quantile ----------------------------------------

_NV_CU, _NV_CO = 9.0, 1.0  # underage/overage costs -> critical ratio 0.9

_NEWSVENDOR_ORACLE = f"""
WITH daily AS (
  SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS demand
  FROM orders GROUP BY 1
),
lv AS (
  SELECT demand, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY demand
),
cum AS ({cumulative_sql("lv", "demand", "c")})
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       round((SELECT CAST(sum(CAST(demand AS DECIMAL(19,0))) AS DOUBLE)
              / count(*) FROM daily), 4) AS mean_demand,
       CAST({kth_sql("demand", f"ceil({_NV_CU} / ({_NV_CU} + {_NV_CO}) * n)")}
            AS BIGINT) AS order_up_to_q90,
       round({_NV_CU} / ({_NV_CU} + {_NV_CO}), 4) AS critical_ratio
FROM cum
"""


@register("newsvendor_quantile", oracle=_NEWSVENDOR_ORACLE)
def newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level: with underage cost 9 and overage
    cost 1, the optimal order-up-to level is the EXACT critical-ratio
    quantile F⁻¹(0.9) of daily demand (order counts/day) — inventory
    sizing from first principles, answered with the exact
    order-statistic (⌈0.9n⌉-th smallest) rather than an approximate
    percentile.

    Determinism: demand levels and cumulative counts are integers; the
    quantile is an integer selection; only the mean is a (exact
    decimal) ratio.

    Plan shape: one fact aggregate to the ≤2.5k-day census, a demand-
    LEVEL census, one cumulative window over the value census
    (`cumulative` and `kth` of operators/ranks.py — grows with the
    demand domain, not rows)."""
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("demand"))
    )
    lv = daily.groupBy("demand").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ratio = _NV_CU / (_NV_CU + _NV_CO)
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.sum(F.col("demand").cast("decimal(19,0)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_demand"),
    )
    q = cumulative(lv, "demand", "c").agg(
        kth("demand", F.ceil(F.lit(ratio) * F.col("n")))
        .cast("bigint")
        .alias("order_up_to_q90")
    )
    return (
        stats.crossJoin(F.broadcast(q))
        .select(
            "n_days",
            "mean_demand",
            "order_up_to_q90",
            F.round(F.lit(ratio), 4).alias("critical_ratio"),
        )
    )


# --- Monte-Carlo permutation test ----------------------------------------------

_PERM_B = 200

_PERM_ORACLE = f"""
WITH base AS (
  SELECT event_id, value,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g
  FROM events WHERE event_type IN ('click', 'view')
),
obs AS (
  SELECT CAST(sum(g) AS BIGINT) AS n1,
         CAST(sum(1 - g) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN g = 1
                       THEN CAST(round(value, 9) AS DECIMAL(28,9)) END)
              AS DOUBLE) AS s1,
         CAST(sum(CASE WHEN g = 0
                       THEN CAST(round(value, 9) AS DECIMAL(28,9)) END)
              AS DOUBLE) AS s0
  FROM base
),
draws AS (
  SELECT b.event_id, b.value, t.b,
         CASE WHEN ({hash_int_sql("CAST(b.event_id AS VARCHAR) || ':' || CAST(t.b AS VARCHAR)", 6)}
                    % 2) = 1 THEN 1 ELSE 0 END AS gp
  FROM base b, (SELECT unnest(generate_series(1, {_PERM_B})) AS b) t
),
per_draw AS (
  SELECT b,
         CAST(sum(gp) AS BIGINT) AS n1,
         CAST(sum(1 - gp) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN gp = 1
                       THEN CAST(round(value, 9) AS DECIMAL(28,9)) END)
              AS DOUBLE) AS s1,
         CAST(sum(CASE WHEN gp = 0
                       THEN CAST(round(value, 9) AS DECIMAL(28,9)) END)
              AS DOUBLE) AS s0
  FROM draws GROUP BY b
),
stat AS (
  SELECT o.n1, o.n0, o.s1 / o.n1 - o.s0 / o.n0 AS t_obs FROM obs o
)
SELECT s.n1 AS n_click, s.n0 AS n_view,
       round(s.t_obs, 6) AS observed_gap,
       CAST(1 + sum(CASE WHEN p.n1 > 0 AND p.n0 > 0
                          AND abs(p.s1 / p.n1 - p.s0 / p.n0) >= abs(s.t_obs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme_plus1,
       round((1.0 + sum(CASE WHEN p.n1 > 0 AND p.n0 > 0
                              AND abs(p.s1 / p.n1 - p.s0 / p.n0)
                                  >= abs(s.t_obs)
                             THEN 1 ELSE 0 END)) / ({_PERM_B} + 1), 6)
         AS p_value
FROM per_draw p, stat s
GROUP BY s.n1, s.n0, s.t_obs
"""


@register("permutation_test_lite", oracle=_PERM_ORACLE)
def permutation_test_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo permutation test for the click-vs-view mean value
    gap: 200 sha256-seeded relabelings (hash(event_id:b) % 2 — the
    deterministic coin both engines flip identically), p = (1 + #{
    |T_b| ≥ |T_obs| })/(B+1) — the distribution-free inference that
    needs no normality or equal-variance assumption (the same
    hash-seeded device as `poisson_bootstrap_ci`, applied to the
    permutation null).

    Determinism: group sums round ONCE into DECIMAL per draw; the
    draw grid is a fixed 200-row broadcast; the extreme-count is an
    integer.

    Plan shape: one scan fans out ×B map-side (the explode stays in
    codegen), partial aggs combine per draw — a 200-group aggregate,
    no shuffle of raw rows beyond it."""
    base = (
        table(spark, sf_dir, "events", spread=True)
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_id", "value",
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g"),
        )
    )
    d9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    obs = base.agg(
        F.sum("g").cast("bigint").alias("n1"),
        F.sum(1 - F.col("g")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("g") == 1, d9(F.col("value")))).cast("double").alias("s1"),
        F.sum(F.when(F.col("g") == 0, d9(F.col("value")))).cast("double").alias("s0"),
    )
    bs = spark.range(1, _PERM_B + 1).select(F.col("id").alias("b"))
    gp = (
        hash_int(
            F.concat_ws(":", F.col("event_id").cast("string"), F.col("b").cast("string")),
            6,
        )
        % 2
    )
    per_draw = (
        base.crossJoin(F.broadcast(bs))
        .select("b", "value", gp.alias("gp"))
        .groupBy("b")
        .agg(
            F.sum("gp").cast("bigint").alias("n1"),
            F.sum(1 - F.col("gp")).cast("bigint").alias("n0"),
            F.sum(F.when(F.col("gp") == 1, d9(F.col("value"))))
            .cast("double")
            .alias("s1"),
            F.sum(F.when(F.col("gp") == 0, d9(F.col("value"))))
            .cast("double")
            .alias("s0"),
        )
    )
    t_obs = F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")
    stat = obs.select("n1", "n0", t_obs.alias("t_obs"))
    gap_b = F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")
    extreme = F.when(
        (F.col("n1") > 0)
        & (F.col("n0") > 0)
        & (F.abs(gap_b) >= F.abs(F.col("t_obs"))),
        1,
    ).otherwise(0)
    return (
        per_draw.crossJoin(
            F.broadcast(
                stat.select(
                    F.col("n1").alias("n_click"),
                    F.col("n0").alias("n_view"),
                    "t_obs",
                )
            )
        )
        .groupBy("n_click", "n_view", "t_obs")
        .agg(
            (1 + F.sum(extreme)).cast("bigint").alias("n_extreme_plus1"),
            F.round((1.0 + F.sum(extreme)) / (_PERM_B + 1), 6).alias("p_value"),
        )
        .select(
            "n_click", "n_view",
            F.round("t_obs", 6).alias("observed_gap"),
            "n_extreme_plus1",
            "p_value",
        )
    )
