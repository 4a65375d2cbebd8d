"""Event-stream analytics queries (SURVEY.md §2-E/F width): ordered
funnel conversion, weekly retention cohorts, gaps-and-islands run
lengths, and argmax-by-struct peak events — the product-analytics
shapes a telemetry pipeline runs daily over the `events` table.

Determinism rules: orderings always carry a unique tie-breaker
(event_id), argmax goes through lexicographic struct max (never the
engine's unspecified arg_max tie policy), and rates are single double
divisions of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.events import (
    HORIZON_H,
    at_risk,
    at_risk_sql,
    lifetimes,
    lifetimes_sql,
    sessions,
    sessions_sql,
)
from ocean_data_pipeline_spark.operators.portable import uniform, uniform_sql, vd
from ocean_data_pipeline_spark.queries import register

# --- ordered funnel conversion ----------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
       (SELECT count(*) FROM v) AS n_viewed,
       (SELECT count(*) FROM c) AS n_clicked,
       (SELECT count(*) FROM p) AS n_purchased,
       round(CAST((SELECT count(*) FROM c) AS DOUBLE)
             / (SELECT count(*) FROM v), 4) AS click_through,
       round(CAST((SELECT count(*) FROM p) AS DOUBLE)
             / (SELECT count(*) FROM c), 4) AS purchase_through
"""


@register("event_funnel_conversion", oracle=_FUNNEL_ORACLE)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase): a user
    advances a stage only with an event STRICTLY LATER than their
    previous stage's first event — the time-ordered funnel semantics
    of product analytics (not mere set membership, which overcounts
    users who purchased before ever viewing).

    Plan shape: three cascading (filter → user-keyed partial agg →
    user-keyed equi-join) stages; every relation after stage one is
    per-user (shrinking monotonically), every join is on user_id, so
    the funnel co-partitions on one key end-to-end. The final counts
    are four 1-row aggregates combined by broadcast cross joins."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    totals = ev.agg(F.countDistinct("user_id").alias("n_users"))
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    nc = c.agg(F.count(F.lit(1)).alias("n_clicked"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased"))
    return (
        totals.crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_users",
            "n_viewed",
            "n_clicked",
            "n_purchased",
            F.round(
                F.try_divide(F.col("n_clicked").cast("double"), F.col("n_viewed")), 4
            ).alias("click_through"),
            F.round(
                F.try_divide(F.col("n_purchased").cast("double"), F.col("n_clicked")), 4
            ).alias("purchase_through"),
        )
    )


# --- weekly retention cohorts -----------------------------------------

_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         CAST(floor(datediff('day', DATE '2024-01-01',
                             min(CAST(ts AS DATE))) / 7) AS BIGINT)
           AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(floor(datediff('day', DATE '2024-01-01',
                           CAST(e.ts AS DATE)) / 7) AS BIGINT)
         - f.cohort_week AS week_offset,
       count(DISTINCT e.user_id) AS n_active_users
FROM events e JOIN firsts f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("weekly_retention_cohorts", oracle=_RETENTION_ORACLE)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users bucket into the week of
    their first event (weeks indexed from the corpus epoch by integer
    day-division — no engine-specific week-truncation semantics), and
    each (cohort, week-offset) cell counts the distinct cohort members
    still active that week. The standard retention triangle.

    Plan shape: one user-keyed partial agg for first-seen, one
    user-keyed equi-join back onto events (co-partitioned — the
    cohort relation is per-user, NOT broadcast: user cardinality
    scales with the corpus), one distinct-count agg on the ~weeks²
    cell grid."""
    ev = table(spark, sf_dir, "events")
    epoch = F.lit("2024-01-01").cast("date")
    week_of = lambda col: F.floor(F.datediff(col, epoch) / 7).cast("bigint")  # noqa: E731
    firsts = ev.groupBy("user_id").agg(
        week_of(F.min(F.to_date("ts"))).alias("cohort_week")
    )
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (week_of(F.to_date("ts")) - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --- gaps-and-islands: event-type run lengths -------------------------

_RUN_LENGTHS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn_all,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
),
runs AS (
  SELECT user_id, event_type, rn_all - rn_type AS island,
         count(*) AS run_len
  FROM seq GROUP BY user_id, event_type, island
)
SELECT event_type,
       count(*) AS n_runs,
       max(run_len) AS max_run,
       round(CAST(sum(run_len) AS DOUBLE) / count(*), 4) AS avg_run
FROM runs GROUP BY event_type ORDER BY event_type
"""


@register("event_value_run_lengths", oracle=_RUN_LENGTHS_ORACLE)
def event_value_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run detection: within each user's event stream
    (ordered by ts with event_id as the unique tie-breaker), maximal
    runs of the same event_type are identified by the classic
    difference-of-row-numbers trick; per type, the run census (count /
    max / mean length). Long error runs = stuck clients; long view
    runs without clicks = dead UI — the operational read of the same
    shape `sessionize_events` time-gaps on.

    Plan shape: both window functions share the user_id partition key
    (ONE shuffle, two sort specs), the island agg is user-keyed, the
    final rollup is 5 rows. No joins at all."""
    ev = table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w_all).alias("rn_all"),
        F.row_number().over(w_type).alias("rn_type"),
    )
    runs = seq.groupBy(
        "user_id", "event_type", (F.col("rn_all") - F.col("rn_type")).alias("island")
    ).agg(F.count(F.lit(1)).alias("run_len"))
    return (
        runs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.max("run_len").alias("max_run"),
            F.round(F.sum("run_len").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_run"
            ),
        )
        .orderBy("event_type")
    )


# --- peak event per user (argmax by struct) ---------------------------

_PEAK_EVENT_ORACLE = """
WITH peaks AS (
  SELECT user_id,
         max(struct_pack(v := value, e := event_id, t := event_type))
           AS peak
  FROM events GROUP BY user_id
)
SELECT peak.t AS peak_event_type,
       count(*) AS n_users,
       round(CAST(sum(CAST(round(peak.v, 2) AS DECIMAL(18,2)))
                  AS DOUBLE) / count(*), 2) AS avg_peak_value,
       max(peak.v) AS max_peak_value
FROM peaks GROUP BY peak.t ORDER BY peak.t
"""


@register("peak_event_per_user", oracle=_PEAK_EVENT_ORACLE)
def peak_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregation without a window: each user's single
    highest-value event, taken as max(struct(value, event_id,
    event_type)) — lexicographic struct comparison gives argmax-by-
    value with a unique event_id tie-breaker, which is deterministic
    where the engines' native arg_max/max_by leave ties unspecified.
    Distribution of peak types answers "what do users' biggest-ticket
    interactions look like".

    Plan shape: ONE partial-agg shuffle on user_id (struct max
    combines map-side — this is the whole point vs the row_number
    window in `latest_order_per_customer`, which must materialize and
    sort every group), then a 5-row rollup."""
    ev = table(spark, sf_dir, "events")
    peaks = ev.groupBy("user_id").agg(
        F.max(F.struct(F.col("value").alias("v"), F.col("event_id").alias("e"),
                       F.col("event_type").alias("t"))).alias("peak")
    )
    return (
        peaks.groupBy(F.col("peak.t").alias("peak_event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum(F.round(F.col("peak.v"), 2).cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("avg_peak_value"),
            F.max("peak.v").alias("max_peak_value"),
        )
        .orderBy("peak_event_type")
    )


# --- first-order Markov transition matrix -----------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
trans AS (
  SELECT from_type, to_type, count(*) AS n_trans
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_trans,
       round(CAST(n_trans AS DOUBLE)
             / sum(n_trans) OVER (PARTITION BY from_type), 6) AS p_trans
FROM trans ORDER BY from_type, to_type
"""


@register("event_type_markov_transitions", oracle=_MARKOV_ORACLE)
def event_type_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams:
    P(next type | current type), estimated from every consecutive pair
    in each user's (ts, event_id)-ordered stream. Off-uniform rows
    expose behavioral structure (error→error loops, view→click paths)
    — the session model behind funnel design and bot detection.

    Plan shape: one user-keyed window (lead) → one (from,to) partial
    agg → the row-normalizing window runs on the 25-row matrix, not
    the event stream. Linear in events with a single wide shuffle."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    w_row = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(w_row), 6
        ).alias("p_trans"),
    ).orderBy("from_type", "to_type")


# --- day-of-week × hour activity heatmap ------------------------------

_HEATMAP_ORACLE = f"""
SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
            AS BIGINT) AS dow,
       CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
       count(*) AS n_events,
       round({vd("CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)"
                 " / count(*)", 38, 15)}, 2) AS avg_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""
# ^ avg_value rounds through `vd`, Spark's round(double) semantics: a
# cents-exact sum over a small cell count lands exactly on .xx5 (caught
# live by the sf0.001 parity sweep: 95.02 vs 95.03).


@register("events_hourly_heatmap", oracle=_HEATMAP_ORACLE)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the standard
    telemetry seasonality view. Weekday comes from integer day-diff
    against a known Monday epoch (0=Mon..6=Sun), NOT the engines'
    dayofweek()/dow() functions, whose numbering conventions differ —
    the same portability rule `weekly_retention_cohorts` uses.

    Plan shape: two scalar date projections and one partial agg onto
    the ≤168-cell grid. Scan-bound at any corpus size."""
    ev = table(spark, sf_dir, "events")
    epoch = F.lit("2024-01-01").cast("date")
    return (
        ev.groupBy(
            (F.datediff(F.to_date("ts"), epoch) % 7).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("avg_value"),
        )
        .orderBy("dow", "hour_of_day")
    )


# --- daily OHLC bars ---------------------------------------------------

_OHLC_ORACLE = """
WITH bars AS (
  SELECT CAST(ts AS DATE) AS day,
         min(struct_pack(t := ts, e := event_id, v := value)) AS o,
         max(struct_pack(t := ts, e := event_id, v := value)) AS c,
         min(value) AS low,
         max(value) AS high,
         count(*) AS n_events
  FROM events GROUP BY CAST(ts AS DATE)
)
SELECT strftime(day, '%Y-%m-%d') AS day, o.v AS open, high, low,
       c.v AS close, n_events
FROM bars ORDER BY day
"""


@register("daily_ohlc_bars", oracle=_OHLC_ORACLE)
def daily_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) bars over the event value
    stream — the time-series downsampling shape of every market-data /
    telemetry dashboard. Open and close are argmin/argmax-by-time via
    lexicographic struct min/max with the unique event_id tie-breaker
    (deterministic where a naive first()/last() is arrival-order
    dependent), so the whole bar is ONE partial+final aggregate — no
    window. Struct min/max has no hash-agg buffer, so Spark plans
    SortAggregate: partitions sort by the ~30-key day column (cheap)
    and still combine map-side before the shuffle.

    Plan shape: one partial-agg shuffle onto the ~30-row day grid."""
    ev = table(spark, sf_dir, "events")
    bars = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.min(
            F.struct(F.col("ts").alias("t"), F.col("event_id").alias("e"),
                     F.col("value").alias("v"))
        ).alias("o"),
        F.max(
            F.struct(F.col("ts").alias("t"), F.col("event_id").alias("e"),
                     F.col("value").alias("v"))
        ).alias("c"),
        F.min("value").alias("low"),
        F.max("value").alias("high"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return bars.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("o.v").alias("open"),
        "high",
        "low",
        F.col("c.v").alias("close"),
        "n_events",
    ).orderBy("day")


# --- Kaplan–Meier survival --------------------------------------------

_KM_ORACLE = f"""
WITH {lifetimes_sql()},
{at_risk_sql()},
deaths AS (
  SELECT dur_h, n_risk, n_events, n_censored,
         CASE WHEN n_events < n_risk
              THEN CAST(ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                        AS DECIMAL(28,12)) ELSE CAST(0 AS DECIMAL(28,12))
         END AS term,
         CASE WHEN n_events = n_risk THEN 1 ELSE 0 END AS hit_zero
  FROM risk WHERE n_events > 0
),
curve AS (
  SELECT dur_h, n_risk, n_events, n_censored,
         sum(term) OVER (ORDER BY dur_h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS lnsum,
         max(hit_zero) OVER (ORDER BY dur_h
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS zeroed
  FROM deaths
)
SELECT dur_h, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
       CASE WHEN zeroed = 1 THEN 0.0
            ELSE round(exp(CAST(lnsum AS DOUBLE)), 6) END AS survival
FROM curve ORDER BY dur_h
"""


@register("kaplan_meier_user_lifetime", oracle=_KM_ORACLE)
def kaplan_meier_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier estimate of time-to-first-purchase (hour
    granularity) under a fixed 48-hour follow-up horizon: users who
    have not converted by the horizon are ADMINISTRATIVELY CENSORED —
    they leave the risk set without counting as non-converters.
    Dropping them (or calling them failures) is the classic
    time-to-event bias this estimator exists to fix; S(t) =
    Π_{tᵢ≤t} (1 − dᵢ/nᵢ) is the product-limit form, and
    1 − S(48) is the bias-corrected 48-hour conversion rate.

    Determinism: dᵢ/nᵢ are exact integer ratios → identical ln terms;
    the running product is a DECIMAL-carried log-space prefix sum, so
    both engines exponentiate the identical double; a dᵢ=nᵢ terminal
    step short-circuits to exact 0 instead of ln(0).

    Plan shape: the life table of `operators/events.py` (two keyed
    aggs fold each user to (duration, censored), then the ≤49-row
    at-risk relation); this query adds one log-space running sum. At
    100 TB of events this is scan + keyed aggs — the curve itself is
    horizon-sized, not data-sized."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    risk = at_risk(lifetimes(ev))
    deaths = risk.filter(F.col("n_events") > 0).select(
        "dur_h",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(
            F.col("n_events") < F.col("n_risk"),
            F.log(1.0 - F.col("n_events").cast("double") / F.col("n_risk")).cast(
                "decimal(28,12)"
            ),
        )
        .otherwise(F.lit(0).cast("decimal(28,12)"))
        .alias("term"),
        F.when(F.col("n_events") == F.col("n_risk"), 1).otherwise(0).alias("hit_zero"),
    )
    w_cum = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deaths.select(
            "dur_h",
            F.col("n_risk").cast("bigint").alias("n_risk"),
            "n_events",
            "n_censored",
            F.sum("term").over(w_cum).alias("lnsum"),
            F.max("hit_zero").over(w_cum).alias("zeroed"),
        )
        .select(
            "dur_h",
            "n_risk",
            "n_events",
            "n_censored",
            F.when(F.col("zeroed") == 1, F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("lnsum").cast("double")), 6))
            .alias("survival"),
        )
        .orderBy("dur_h")
    )


# --- position-based multi-touch attribution ---------------------------

_ATTRIBUTION_ORACLE = """
WITH fp AS (
  SELECT user_id, min(ts) AS t_p
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touch AS (
  SELECT e.user_id, e.event_id, e.ts, e.event_type,
         row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn,
         count(*) OVER (PARTITION BY e.user_id) AS n
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.event_type <> 'purchase' AND e.ts < fp.t_p
),
credited AS (
  SELECT event_type, rn, n,
         CASE WHEN n = 1 THEN CAST(1.0 AS DECIMAL(18,9))
              WHEN n = 2 THEN CAST(0.5 AS DECIMAL(18,9))
              WHEN rn = 1 THEN CAST(0.4 AS DECIMAL(18,9))
              WHEN rn = n THEN CAST(0.6 AS DECIMAL(18,9))
                               - (n - 2) * CAST(0.2 / (n - 2) AS DECIMAL(18,9))
              ELSE CAST(0.2 / (n - 2) AS DECIMAL(18,9)) END AS credit
  FROM touch
)
SELECT event_type,
       count(*) AS n_touches,
       CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_first,
       CAST(count(CASE WHEN rn = n AND n >= 2 THEN 1 END) AS BIGINT) AS n_last,
       CAST(sum(credit) AS DOUBLE) AS total_credit
FROM credited
GROUP BY event_type
ORDER BY event_type
"""


@register("attribution_credit", oracle=_ATTRIBUTION_ORACLE)
def attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    converting user's pre-purchase touches split one unit of credit —
    40% to the first touch, 40% to the last, 20% across the middle —
    aggregated per channel (event type). The marketing-analytics
    counterpart of `event_funnel_conversion`'s binary stages.

    Middle credit 0.2/(n-2) is not an exact decimal, so each journey's
    LAST touch takes 1 − 0.4 − (n−2)·round(mid) instead of its nominal
    0.4: per-journey credit then sums to EXACTLY 1.0 in DECIMAL(18,9)
    arithmetic (conservation is a tested invariant, and the final
    per-channel sums are order-free exact decimals — never a float
    reduction). The rounded mid itself is a per-(n) fixed chain,
    identical on both engines.

    Scale: one user-keyed equi-join (events × first-purchase relation)
    + one windowed pass per user partition + a group-count-sized
    aggregate; journeys co-partition on user_id end-to-end."""
    ev = table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_p"))
    )
    touch = (
        ev.join(fp, "user_id")
        .filter((F.col("event_type") != "purchase") & (F.col("ts") < F.col("t_p")))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    t = touch.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    dec = "decimal(18,9)"
    mid = (F.lit(0.2) / (F.col("n") - 2)).cast(dec)
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0).cast(dec))
        .when(F.col("n") == 2, F.lit(0.5).cast(dec))
        .when(F.col("rn") == 1, F.lit(0.4).cast(dec))
        # (n-2) must be a NARROW decimal: bigint×decimal(18,9) needs
        # precision 39, which trips Spark's precision-loss rule and
        # silently truncates the scale to 7; int(10,0)×(18,9) fits 38
        .when(
            F.col("rn") == F.col("n"),
            F.lit(0.6).cast(dec) - (F.col("n").cast("int") - 2) * mid,
        )
        .otherwise(mid)
    )
    return (
        t.withColumn("credit", credit)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.count(F.when(F.col("rn") == 1, 1)).cast("bigint").alias("n_first"),
            F.count(F.when((F.col("rn") == F.col("n")) & (F.col("n") >= 2), 1))
            .cast("bigint")
            .alias("n_last"),
            F.sum("credit").cast("double").alias("total_credit"),
        )
        .orderBy("event_type")
    )


# --- session path mining ----------------------------------------------

_SESSION_PATH_ORACLE = f"""
WITH {sessions_sql("event_type")},
numbered AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
                               ORDER BY ts, event_id) AS rn
  FROM sessions
),
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM numbered WHERE rn <= 8
  GROUP BY user_id, session_seq
)
SELECT path, count(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 15
"""


@register("session_path_topn", oracle=_SESSION_PATH_ORACLE)
def session_path_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 user-journey paths: the 30-min gap sessions of
    `operators/events.py` rendered as ordered event-type strings
    ('view>click>purchase'), truncated to the first 8 events so path
    cardinality stays bounded, then counted — the navigation-pattern
    mining behind funnel design.

    The path string is built from `array_sort(collect_list(struct(ts,
    event_id, event_type)))` — membership AND order come from the
    explicit (ts, event_id) sort key inside the array, never from
    collect_list's arrival order (the `nation_top_balances_array`
    rule). All three windows and the path agg share one (user_id)
    exchange; the final path count is a low-cardinality groupBy."""
    numbered = sessions(table(spark, sf_dir, "events")).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
        ),
    )
    paths = (
        numbered.filter(F.col("rn") <= 8)
        .groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


# --- mutual information between categorical columns -------------------

_MI_BLOCK_SQL = "CAST(extract(hour FROM ts) AS INT) // 6"
_MI_BLOCK_SPARK = "CAST(hour(ts) AS INT) div 6"

_MI_ORACLE = f"""
WITH cells AS (
  SELECT event_type, CAST({_MI_BLOCK_SQL} AS INT) AS blk, count(*) AS c
  FROM events GROUP BY 1, 2
),
mx AS (SELECT event_type, sum(c) AS cx FROM cells GROUP BY 1),
my AS (SELECT blk, sum(c) AS cy FROM cells GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM cells),
hx AS (
  SELECT round(ln(CAST(t.n AS DOUBLE))
               - sum(cx * ln(CAST(cx AS DOUBLE))) / t.n, 6) AS h_type
  FROM mx, tot t GROUP BY t.n
),
hy AS (
  SELECT round(ln(CAST(t.n AS DOUBLE))
               - sum(cy * ln(CAST(cy AS DOUBLE))) / t.n, 6) AS h_block
  FROM my, tot t GROUP BY t.n
),
hxy AS (
  SELECT round(ln(CAST(t.n AS DOUBLE))
               - sum(c * ln(CAST(c AS DOUBLE))) / t.n, 6) AS h_joint
  FROM cells, tot t GROUP BY t.n
),
mi AS (
  SELECT round(sum((CAST(c.c AS DOUBLE) / t.n)
                   * ln(t.n * CAST(c.c AS DOUBLE)
                        / (CAST(mx.cx AS DOUBLE) * my.cy))), 6) AS mi_nats,
         CAST(max(t.n) AS BIGINT) AS n
  FROM cells c
  JOIN mx USING (event_type)
  JOIN my USING (blk)
  CROSS JOIN tot t
)
SELECT mi.n, hx.h_type, hy.h_block, hxy.h_joint, mi.mi_nats
FROM mi, hx, hy, hxy
"""


@register("mutual_information_census", oracle=_MI_ORACLE)
def mutual_information_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and 6-hour
    time-of-day block, with the three marginal/joint entropies —
    MI = H(X) + H(Y) - H(X,Y) is THE dependence screen for categorical
    feature pairs (Cover & Thomas ch.2), and the quantity behind
    feature-selection filters at corpus scale. Entropies use the
    exact-integer identity H = ln(n) - Σ c·ln(c)/n (`char_entropy_
    quality`'s device), MI the dual form Σ (c/n)·ln(n·c/(cx·cy));
    each log-sum spans <= 24 cells and rounds once at 6 dp.

    Plan shape: one map-side-combining shuffle to the (type, block)
    cell relation; margins, totals, and every log-sum run on <= 24
    rows. At 100 TB the only row-scale work is the first aggregate —
    a one-pass dependence monitor."""
    cells = (
        table(spark, sf_dir, "events")
        .select("event_type", F.expr(_MI_BLOCK_SPARK).alias("blk"))
        .groupBy("event_type", "blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # consumed by 4 subtrees (margins, total, MI)
    )
    mx = cells.groupBy("event_type").agg(F.sum("c").alias("cx"))
    my = cells.groupBy("blk").agg(F.sum("c").alias("cy"))
    tot = cells.agg(F.sum("c").alias("n"))

    def entropy(df: DataFrame, col: str, out: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(tot))
            .groupBy("n")
            .agg(
                F.round(
                    F.log(F.col("n").cast("double"))
                    - F.sum(F.col(col) * F.log(F.col(col).cast("double")))
                    / F.col("n"),
                    6,
                ).alias(out)
            )
            .drop("n")
        )

    hx = entropy(mx, "cx", "h_type")
    hy = entropy(my, "cy", "h_block")
    hxy = entropy(cells, "c", "h_joint")
    mi = (
        cells.join(mx, "event_type")
        .join(F.broadcast(my), "blk")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(
                    (F.col("c").cast("double") / F.col("n"))
                    * F.log(
                        F.col("n")
                        * F.col("c").cast("double")
                        / (F.col("cx").cast("double") * F.col("cy"))
                    )
                ),
                6,
            ).alias("mi_nats"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(hxy))
        .select("n", "h_type", "h_block", "h_joint", "mi_nats")
    )


# --- Markov entropy rate ----------------------------------------------

_ENTROPY_RATE_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
trans AS (
  SELECT from_type, to_type, count(*) AS c
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
rowt AS (SELECT from_type, sum(c) AS ci FROM trans GROUP BY from_type),
colt AS (SELECT to_type, sum(c) AS cj FROM trans GROUP BY to_type),
tot AS (SELECT sum(c) AS n FROM trans),
hrate AS (
  SELECT round(-sum((CAST(t.c AS DOUBLE) / n.n)
                    * ln(CAST(t.c AS DOUBLE) / r.ci)), 6) AS h_rate
  FROM trans t JOIN rowt r USING (from_type) CROSS JOIN tot n
),
hmarg AS (
  SELECT round(ln(CAST(n.n AS DOUBLE))
               - sum(cj * ln(CAST(cj AS DOUBLE))) / n.n, 6) AS h_marginal
  FROM colt CROSS JOIN tot n GROUP BY n.n
)
SELECT CAST(tot.n AS BIGINT) AS n_transitions,
       hrate.h_rate,
       hmarg.h_marginal,
       round(hmarg.h_marginal - hrate.h_rate, 6) AS predictability_gain
FROM tot, hrate, hmarg
"""


@register("entropy_rate_markov", oracle=_ENTROPY_RATE_ORACLE)
def entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order event-type Markov chain:
    H(next | current) = -Σ_ij π_i p_ij ln p_ij computed from exact
    transition counts (π_i p_ij = c_ij/N), compared against the
    marginal next-state entropy H(next) — their gap is the
    predictability the one-step memory buys (Cover & Thomas ch.4, the
    sequence sibling of `mutual_information_census`; the transition
    matrix itself is `event_type_markov_transitions`). Log sums span
    <= |types|^2 cells and round once at 6 dp.

    Plan shape: one per-user window pass (partitioned — parallel by
    user), one shuffle to the <= 25-cell transition census, then
    census-sized algebra. At 100 TB the window and the census agg are
    the only row-scale stages, both key-parallel."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    trans = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # consumed by row/col totals + the log sums
    )
    rowt = trans.groupBy("from_type").agg(F.sum("c").alias("ci"))
    colt = trans.groupBy("to_type").agg(F.sum("c").alias("cj"))
    tot = trans.agg(F.sum("c").alias("n"))
    hrate = (
        trans.join(F.broadcast(rowt), "from_type")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum(
                    (F.col("c").cast("double") / F.col("n"))
                    * F.log(F.col("c").cast("double") / F.col("ci"))
                ),
                6,
            ).alias("h_rate")
        )
    )
    hmarg = (
        colt.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(
                F.log(F.col("n").cast("double"))
                - F.sum(F.col("cj") * F.log(F.col("cj").cast("double")))
                / F.col("n"),
                6,
            ).alias("h_marginal")
        )
        .drop("n")
    )
    return (
        tot.crossJoin(F.broadcast(hrate))
        .crossJoin(F.broadcast(hmarg))
        .select(
            F.col("n").cast("bigint").alias("n_transitions"),
            "h_rate",
            "h_marginal",
            F.round(F.col("h_marginal") - F.col("h_rate"), 6).alias(
                "predictability_gain"
            ),
        )
    )


# --- Nelson-Aalen cumulative hazard -----------------------------------

_NA_ORACLE = f"""
WITH {lifetimes_sql()},
{at_risk_sql()},
terms AS (
  SELECT dur_h, n_risk, n_events,
         CAST(CAST(n_events AS DOUBLE) / n_risk AS DECIMAL(28,12)) AS dh,
         CAST(CAST(n_events AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk)
              AS DECIMAL(28,12)) AS vh
  FROM risk WHERE n_events > 0
)
SELECT dur_h,
       CAST(n_risk AS BIGINT) AS n_risk,
       n_events,
       CAST(sum(dh) OVER (ORDER BY dur_h) AS DOUBLE) AS cum_hazard,
       CAST(sum(vh) OVER (ORDER BY dur_h) AS DOUBLE) AS hazard_var
FROM terms
ORDER BY dur_h
"""


@register("nelson_aalen_hazard", oracle=_NA_ORACLE)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ_{t_i<=t} d_i/n_i with
    its variance estimator Σ d_i/n_i² for time-to-first-purchase under
    the same 48 h administrative censoring as
    `kaplan_meier_user_lifetime` — the hazard-scale view of the same
    survival data (and the estimator that stays defined when a risk
    set is exhausted, where KM's product hits zero). Each increment is
    a ratio of exact integers rounded ONCE into DECIMAL(28,12); the
    running sums are exact decimal prefix sums over the ordered event
    times — the KM log-space-product discipline, additively.

    Plan shape: the life table of `operators/events.py`, then
    windows over its horizon-sized at-risk relation. At 100 TB only
    the per-user aggs are row-scale."""
    risk = at_risk(lifetimes(table(spark, sf_dir, "events")))
    terms = risk.filter(F.col("n_events") > 0).select(
        "dur_h",
        "n_risk",
        "n_events",
        (F.col("n_events").cast("double") / F.col("n_risk"))
        .cast("decimal(28,12)")
        .alias("dh"),
        (
            F.col("n_events").cast("double")
            / (F.col("n_risk").cast("double") * F.col("n_risk"))
        )
        .cast("decimal(28,12)")
        .alias("vh"),
    )
    wcum = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        "dur_h",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        "n_events",
        F.sum("dh").over(wcum).cast("double").alias("cum_hazard"),
        F.sum("vh").over(wcum).cast("double").alias("hazard_var"),
    ).orderBy("dur_h")


# --- restricted mean survival time ------------------------------------

_RMST_ORACLE = f"""
WITH {lifetimes_sql()},
{at_risk_sql()},
terms AS (
  SELECT dur_h, n_risk, n_events,
         CASE WHEN n_events < n_risk
              THEN CAST(ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                        AS DECIMAL(28,12)) ELSE NULL END AS lnterm
  FROM risk WHERE n_events > 0
),
surv AS (  -- S just after each event time; round-6 into DECIMAL so the
           -- area accumulates in exact decimal arithmetic
  SELECT dur_h, n_risk, n_events,
         CAST(round(CASE WHEN count(lnterm) OVER w = count(*) OVER w
              THEN exp(CAST(sum(lnterm) OVER w AS DOUBLE)) ELSE 0.0 END, 6)
              AS DECIMAL(18,6)) AS s_after
  FROM terms
  WINDOW w AS (ORDER BY dur_h ROWS UNBOUNDED PRECEDING)
),
area AS (
  SELECT dur_h, n_risk, n_events, s_after,
         lead(dur_h, 1, {HORIZON_H}) OVER (ORDER BY dur_h) AS next_t
  FROM surv
),
first_seg AS (SELECT min(dur_h) AS t1 FROM area)
SELECT a.dur_h,
       CAST(a.n_risk AS BIGINT) AS n_risk,
       a.n_events,
       CAST(a.s_after AS DOUBLE) AS survival_after,
       CAST(f.t1 + sum(a.s_after * (a.next_t - a.dur_h))
                    OVER (ORDER BY a.dur_h) AS DOUBLE) AS rmst_through_h
FROM area a CROSS JOIN first_seg f
ORDER BY a.dur_h
"""


@register("rmst_survival", oracle=_RMST_ORACLE)
def rmst_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar, BMC Med Res'13)
    for time-to-first-purchase under the 48 h horizon: the area under
    the KM curve — the censoring-robust 'expected hours without a
    purchase' effect measure regulators now prefer over hazard ratios.
    Completes the survival trio (KM product, Nelson-Aalen hazard, RMST
    area). S(t) reuses the KM log-space device, then rounds ONCE into
    DECIMAL(18,6) so the area accumulates in exact decimal arithmetic
    (step width × step height, no float running sum); rmst_through_h
    is the running area including the all-alive first segment.

    Plan shape: the life table of `operators/events.py`; the area is
    one more window over the horizon-sized relation."""
    risk = at_risk(lifetimes(table(spark, sf_dir, "events")))
    terms = risk.filter(F.col("n_events") > 0).select(
        "dur_h",
        "n_risk",
        "n_events",
        F.when(
            F.col("n_events") < F.col("n_risk"),
            F.log(1.0 - F.col("n_events").cast("double") / F.col("n_risk")).cast(
                "decimal(28,12)"
            ),
        ).alias("lnterm"),
    )
    wcum = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, 0)
    surv = terms.select(
        "dur_h",
        "n_risk",
        "n_events",
        F.round(
            F.when(
                F.count("lnterm").over(wcum) == F.count(F.lit(1)).over(wcum),
                F.exp(F.sum("lnterm").over(wcum).cast("double")),
            ).otherwise(F.lit(0.0)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("s_after"),
    )
    wlead = Window.orderBy("dur_h")
    area = surv.select(
        "dur_h",
        "n_risk",
        "n_events",
        "s_after",
        F.lead("dur_h", 1, HORIZON_H).over(wlead).alias("next_t"),
    )
    first_seg = area.agg(F.min("dur_h").alias("t1"))
    return (
        area.crossJoin(F.broadcast(first_seg))
        .select(
            "dur_h",
            F.col("n_risk").cast("bigint").alias("n_risk"),
            "n_events",
            F.col("s_after").cast("double").alias("survival_after"),
            (
                F.col("t1")
                + F.sum(
                    F.col("s_after") * (F.col("next_t") - F.col("dur_h"))
                ).over(wcum)
            )
            .cast("double")
            .alias("rmst_through_h"),
        )
        .orderBy("dur_h")
    )


# --- log-rank test ----------------------------------------------------

_LR_U_SQL = uniform_sql("'lr_' || CAST(user_id AS VARCHAR)")

_LOGRANK_ORACLE = f"""
WITH {lifetimes_sql()},
cohorts AS (
  SELECT CASE WHEN {_LR_U_SQL} < 0.5 THEN 1 ELSE 0 END AS grp, dur_h, censored
  FROM life
),
gt AS (SELECT grp, count(*) AS n_g FROM cohorts GROUP BY grp),
by_tg AS (
  SELECT dur_h, grp, count(*) AS leaving,
         CAST(sum(1 - censored) AS BIGINT) AS d
  FROM cohorts GROUP BY dur_h, grp
),
grid AS (  -- every (event time x group), zero-filled
  SELECT t.dur_h, g.grp,
         coalesce(b.leaving, 0) AS leaving, coalesce(b.d, 0) AS d
  FROM (SELECT DISTINCT dur_h FROM by_tg) t
  CROSS JOIN (SELECT DISTINCT grp FROM gt) g
  LEFT JOIN by_tg b ON b.dur_h = t.dur_h AND b.grp = g.grp
),
risk AS (
  SELECT dur_h, grp, d,
         gt.n_g - coalesce(sum(leaving) OVER (PARTITION BY grp ORDER BY dur_h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at
  FROM grid JOIN gt USING (grp)
),
pooled AS (
  SELECT dur_h,
         sum(d) AS dt,
         sum(n_at) AS nt,
         max(CASE WHEN grp = 1 THEN d END) AS d1,
         max(CASE WHEN grp = 1 THEN n_at END) AS n1
  FROM risk GROUP BY dur_h
),
terms AS (
  SELECT dur_h,
         CAST(round(d1 - dt * (CAST(n1 AS DOUBLE) / nt), 12)
              AS DECIMAL(28,12)) AS ome,
         CAST(round(CASE WHEN nt > 1 THEN
                dt * (CAST(n1 AS DOUBLE) / nt) * (1 - CAST(n1 AS DOUBLE) / nt)
                   * (nt - dt) / (nt - 1) ELSE 0 END, 12)
              AS DECIMAL(28,12)) AS v
  FROM pooled WHERE dt > 0
),
s AS (SELECT sum(ome) AS s_ome, sum(v) AS s_v FROM terms)
SELECT CAST((SELECT n_g FROM gt WHERE grp = 1) AS BIGINT) AS n_group1,
       CAST((SELECT n_g FROM gt WHERE grp = 0) AS BIGINT) AS n_group0,
       CAST(s_ome AS DOUBLE) AS observed_minus_expected,
       CAST(s_v AS DOUBLE) AS variance,
       CASE WHEN CAST(s_v AS DOUBLE) <> 0
            THEN CAST(s_ome AS DOUBLE) * CAST(s_ome AS DOUBLE)
                 / CAST(s_v AS DOUBLE) END AS logrank_chi2
FROM s
"""


@register("logrank_test", oracle=_LOGRANK_ORACLE)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel '66, Peto-Peto '72) between two sha-split
    user cohorts' time-to-first-purchase under the shared 48 h
    censoring horizon — the hypothesis-test leg that completes the
    survival family (KM curve, Nelson-Aalen hazard, RMST area): at
    every pooled event time the observed group-1 events are compared
    to the hypergeometric expectation d_t·n1/n, with the standard
    variance. Being an A/A split, the honest expectation is chi2 ~ 1.
    Per-time O-E and V terms round ONCE into DECIMAL(28,12) → exact
    cross-time sums; the chi2 is a fixed chain.

    Plan shape: the per-user lifetimes of `operators/events.py` with
    the cohort draw on top, a zero-filled (time x group) grid
    (horizon-bounded), per-group cumulative risk windows, one 1-row
    reduce. At 100 TB only the per-user aggs are row-scale."""
    draw = uniform(F.concat(F.lit("lr_"), F.col("user_id").cast("string")))
    life = lifetimes(table(spark, sf_dir, "events")).select(
        F.when(draw < 0.5, 1).otherwise(0).alias("grp"), "dur_h", "censored"
    )
    gt = life.groupBy("grp").agg(F.count(F.lit(1)).alias("n_g")).localCheckpoint()
    by_tg = life.groupBy("dur_h", "grp").agg(
        F.count(F.lit(1)).alias("leaving"),
        F.sum(1 - F.col("censored")).cast("bigint").alias("d"),
    )
    times = by_tg.select("dur_h").distinct()
    grid = (
        times.crossJoin(F.broadcast(gt.select("grp")))
        .join(by_tg, ["dur_h", "grp"], "left")
        .select(
            "dur_h", "grp",
            F.coalesce(F.col("leaving"), F.lit(0)).alias("leaving"),
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
        )
    )
    wprev = Window.partitionBy("grp").orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = grid.join(F.broadcast(gt), "grp").select(
        "dur_h", "grp", "d",
        (
            F.col("n_g")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).alias("n_at"),
    )
    pooled = risk.groupBy("dur_h").agg(
        F.sum("d").alias("dt"),
        F.sum("n_at").alias("nt"),
        F.max(F.when(F.col("grp") == 1, F.col("d"))).alias("d1"),
        F.max(F.when(F.col("grp") == 1, F.col("n_at"))).alias("n1"),
    )
    share = F.col("n1").cast("double") / F.col("nt")
    terms = pooled.filter(F.col("dt") > 0).select(
        F.round(F.col("d1") - F.col("dt") * share, 12)
        .cast("decimal(28,12)")
        .alias("ome"),
        F.round(
            F.when(
                F.col("nt") > 1,
                F.col("dt")
                * share
                * (1 - share)
                * (F.col("nt") - F.col("dt"))
                / (F.col("nt") - 1),
            ).otherwise(F.lit(0.0)),
            12,
        )
        .cast("decimal(28,12)")
        .alias("v"),
    )
    s = terms.agg(F.sum("ome").alias("s_ome"), F.sum("v").alias("s_v"))
    counts = gt.groupBy().pivot("grp", [0, 1]).sum("n_g")
    return (
        s.crossJoin(F.broadcast(counts))
        .select(
            F.col("1").cast("bigint").alias("n_group1"),
            F.col("0").cast("bigint").alias("n_group0"),
            F.col("s_ome").cast("double").alias("observed_minus_expected"),
            F.col("s_v").cast("double").alias("variance"),
            F.when(
                F.col("s_v").cast("double") != 0,
                F.col("s_ome").cast("double")
                * F.col("s_ome").cast("double")
                / F.col("s_v").cast("double"),
            ).alias("logrank_chi2"),
        )
    )
