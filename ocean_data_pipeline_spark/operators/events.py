"""Gap sessions and the first-purchase life table over `events`.

Two devices, each with its DuckDB twin next to it.

**Gap sessions** (SURVEY.md §2-H, the batch form of
``F.session_window(ts, '30 minutes')``). A row starts a new session
when its user has no earlier row, or when ``ts - lag(ts)`` exceeds
30 minutes, compared at microsecond precision: a gap of exactly
30 minutes stays in one session, 30 minutes + 1 µs splits. Both
windows (the lag and the running sum of the start flags) are ordered
by ``(ts, event_id)`` within ``user_id``, so ties in ``ts`` have one
order on both engines. ``session_seq`` numbers a user's sessions,
starting at 1. `sessions` is the engine form, `sessions_sql` the
oracle form; `GAP_SQL` is the gap for oracles that extend a session's
end by it.

**Life table** (time to first purchase, hours). A user's first event
is ``t0`` and their first purchase ``tp``; ``dur_h`` is the whole
hours between them, floored from integer microseconds (exact in a
double below 2^53, so both engines floor the same value). Users with
no purchase before `HORIZON_H` hours are administratively censored at
the horizon. `lifetimes` gives one row per user, `at_risk` one row
per distinct ``dur_h`` with the events, the censorings and the risk
set ``n_risk`` (all users minus those who left at an earlier time).
`lifetimes_sql` and `at_risk_sql` are their oracle forms. The
estimators (KM, Nelson-Aalen, RMST, log-rank) own only their own step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: The session gap, in microseconds and as a DuckDB interval.
_GAP_US = 30 * 60 * 1_000_000
GAP_SQL = "INTERVAL 30 MINUTE"

#: Follow-up horizon: each user is observed for this many hours after
#: their first event.
HORIZON_H = 48


def sessions(ev: DataFrame) -> DataFrame:
    """`ev` (with ``user_id``, ``event_id``, ``ts``) plus the start flag
    ``new_session`` and the running ``session_seq``. The two windows
    share one (user_id) exchange and one sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond gap: a whole-second cast would fold a 30 min + 0.5 s
    # gap into one session where the oracle's interval compare splits it.
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > _GAP_US), F.lit(1)).otherwise(F.lit(0)),
    )
    return flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def sessions_sql(*cols: str) -> str:
    """The oracle twin of `sessions`: the CTE pair ``flagged`` and
    ``sessions`` over ``events``, for a ``WITH``. ``sessions`` carries
    ``user_id``, ``event_id``, ``ts``, the `cols` and ``session_seq``."""
    keep = ", ".join(("user_id", "event_id", "ts") + cols)
    return f"""
flagged AS (
  SELECT {keep},
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {GAP_SQL}
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT {keep},
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM flagged
)"""


def lifetimes(ev: DataFrame) -> DataFrame:
    """One row per user: ``user_id``, ``dur_h`` (BIGINT hours to the
    first purchase, or `HORIZON_H`) and ``censored`` (1 when no purchase
    came before the horizon). Two keyed aggregates and a left join."""
    u = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    hours = F.floor((F.unix_micros("tp") - F.unix_micros("t0")) / 3600000000.0)
    converted = F.col("tp").isNotNull() & (hours < HORIZON_H)
    return u.join(p, "user_id", "left").select(
        "user_id",
        F.when(converted, hours.cast("bigint"))
        .otherwise(F.lit(HORIZON_H))
        .alias("dur_h"),
        F.when(converted, 0).otherwise(1).alias("censored"),
    )


def lifetimes_sql() -> str:
    """The oracle twin of `lifetimes`: the CTEs ``u``, ``p`` and
    ``life`` over ``events``, for a ``WITH``."""
    hours = "floor(date_diff('microsecond', u.t0, p.tp) / 3600000000.0)"
    converted = f"p.tp IS NOT NULL AND {hours} < {HORIZON_H}"
    return f"""
u AS (
  SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
),
p AS (
  SELECT user_id, min(ts) AS tp FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
life AS (
  SELECT u.user_id,
         CASE WHEN {converted} THEN CAST({hours} AS BIGINT)
              ELSE {HORIZON_H} END AS dur_h,
         CASE WHEN {converted} THEN 0 ELSE 1 END AS censored
  FROM u LEFT JOIN p ON p.user_id = u.user_id
)"""


def at_risk(life: DataFrame) -> DataFrame:
    """One row per distinct ``dur_h`` of `life`: ``n_events`` and
    ``n_censored`` (BIGINT) and ``n_risk``. The running sum runs on the
    horizon-sized relation (at most `HORIZON_H` + 1 rows)."""
    n_total = life.agg(F.count(F.lit(1)).alias("n"))
    by_h = life.groupBy("dur_h").agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum(1 - F.col("censored")).cast("bigint").alias("n_events"),
        F.sum("censored").cast("bigint").alias("n_censored"),
    )
    w_prev = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, -1)
    return by_h.crossJoin(F.broadcast(n_total)).select(
        "dur_h",
        "n_events",
        "n_censored",
        (
            F.col("n") - F.coalesce(F.sum("n_leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )


def at_risk_sql() -> str:
    """The oracle twin of `at_risk` over ``life``: the CTEs ``n_total``,
    ``by_h`` and ``risk``, for a ``WITH`` after `lifetimes_sql`."""
    return """
n_total AS (SELECT count(*) AS n FROM life),
by_h AS (
  SELECT dur_h,
         count(*) AS n_leaving,
         CAST(sum(1 - censored) AS BIGINT) AS n_events,
         CAST(sum(censored) AS BIGINT) AS n_censored
  FROM life GROUP BY dur_h
),
risk AS (
  SELECT dur_h, n_events, n_censored,
         nt.n - coalesce(sum(n_leaving) OVER (ORDER BY dur_h
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS n_risk
  FROM by_h CROSS JOIN n_total nt
)"""
