"""Dynamic Time Warping between per-nation monthly revenue profiles.

DTW is the classic elastic-alignment distance for time series —
exactly the operator class the brief calls out as "Spark lacks it,
build it from primitives". The O(n·m) dynamic program has a
sequential dependency in BOTH grid directions, so no window function
and no single higher-order fold expresses it. The construction here is
the textbook parallel formulation: sweep the DP grid by ANTI-DIAGONAL
WAVEFRONTS — every cell on diagonal d depends only on diagonals d-1
and d-2 — and carry each diagonal as a LIST in a recursive CTE (one
row per pair per diagonal, a single recursive self-reference, no
aggregation in the recursive member, which both engines require).

Spark and DuckDB differ only in list-function NAMES
(transform/element_at vs list_transform/list_extract; sequence vs
generate_series), so both strings are generated from ONE step-
expression template — the arithmetic (abs, least, +) is the identical
IEEE tree in the identical order, making every distance bit-equal
across engines (verified, plus a pure-Python reference DP in tests).

Scale posture: the recursion carries one row per PAIR (300 here) per
wavefront; each step is a distributed projection over the pair rows —
series length only sets the serial depth (23 diagonals for 12-month
profiles). Pair count scales out; for long series (depth > the ~100
recursion limit) the same wavefront runs as a driver loop over a
checkpointed DataFrame (operators/components.py posture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocean_data_pipeline_spark.catalog import register_views
from ocean_data_pipeline_spark.queries import register

#: series length (calendar months) and last wavefront index
_N = 12
_LAST_DIAG = 2 * _N - 2
_BIG = "CAST(1e15 AS DOUBLE)"


def _step(transform: str, seqfn: str, elem: str, d: str = "d") -> str:
    """The wavefront step: new diagonal d+1 from `cur` (diag d) and
    `prev` (diag d-1). Cell (i, j=d+1-i); a diagonal's list holds its
    cells ordered by i starting at greatest(0, d-(N-1)); off-grid
    predecessors contribute +inf (the 1e15 sentinel).

    `d` — the SQL term for the diagonal index: the recursive CTE form
    passes the column name (default), the unrolled Spark form passes an
    integer literal per step (round 12). Either way the DOUBLE
    arithmetic (abs, +, least) is the identical tree in the identical
    order; the index terms are integer-exact, so inlining them cannot
    move a double bit."""
    n1 = _N - 1
    c = f"abs({elem}(xs, i + 1) - {elem}(ys, (({d} + 1) - i) + 1))"
    up = (
        f"(CASE WHEN i - 1 >= greatest(0, {d} - {n1}) AND i - 1 <= least({n1}, {d})"
        f" AND ({d} + 1) - i <= {n1}"
        f" THEN {elem}(cur, (i - 1) - greatest(0, {d} - {n1}) + 1) ELSE {_BIG} END)"
    )
    left = (
        f"(CASE WHEN i >= greatest(0, {d} - {n1}) AND i <= least({n1}, {d})"
        f" AND ({d} + 1) - i - 1 >= 0"
        f" THEN {elem}(cur, i - greatest(0, {d} - {n1}) + 1) ELSE {_BIG} END)"
    )
    diag = (
        f"(CASE WHEN {d} >= 1 AND i - 1 >= greatest(0, ({d} - 1) - {n1})"
        f" AND i - 1 <= least({n1}, {d} - 1) AND ({d} + 1) - i - 1 >= 0"
        f" THEN {elem}(prev, (i - 1) - greatest(0, ({d} - 1) - {n1}) + 1)"
        f" ELSE {_BIG} END)"
    )
    return (
        f"{transform}({seqfn}(greatest(0, ({d} + 1) - {n1}), least({n1}, {d} + 1)),"
        f" i -> {c} + least({up}, {left}, {diag}))"
    )


_TEMPLATE = """
WITH RECURSIVE months AS (
  {MONTHS}
),
rev AS (
  SELECT n.n_name AS nation, CAST(EXTRACT(MONTH FROM o.o_orderdate) AS INT) AS mo,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
series AS (
  SELECT x.nation, {ARRAYAGG} AS vals
  FROM (
    SELECT nn.nation, m.mo, coalesce(r.v, 0.0) AS v
    FROM (SELECT DISTINCT nation FROM rev) nn
    CROSS JOIN months m
    LEFT JOIN rev r ON r.nation = nn.nation AND r.mo = m.mo
  ) x
  GROUP BY x.nation
),
pairs AS (
  SELECT a.nation AS nation_a, b.nation AS nation_b, a.vals AS xs, b.vals AS ys
  FROM series a JOIN series b ON a.nation < b.nation
),
dtw AS (
  SELECT nation_a, nation_b, xs, ys, 0 AS d,
         {MKLIST1} AS cur,
         CAST(NULL AS {ARRTY}) AS prev
  FROM pairs
  UNION ALL
  SELECT nation_a, nation_b, xs, ys, d + 1 AS d,
         {STEP} AS cur,
         cur AS prev
  FROM dtw WHERE d < {LAST_DIAG}
)
SELECT nation_a, nation_b, {LASTCELL} AS dtw_dist
FROM dtw WHERE d = {LAST_DIAG}
ORDER BY nation_a, nation_b
"""


def _fill(months, arrayagg, mklist1, step, lastcell, arrty) -> str:
    return (
        _TEMPLATE.replace("{MONTHS}", months)
        .replace("{ARRAYAGG}", arrayagg)
        .replace("{MKLIST1}", mklist1)
        .replace("{STEP}", step)
        .replace("{LASTCELL}", lastcell)
        .replace("{ARRTY}", arrty)
        .replace("{LAST_DIAG}", str(_LAST_DIAG))
    )


# Round 12: the Spark execution unrolls the 23 wavefront steps as
# chained projections instead of running them through UnionLoopExec.
# The recursion's serial depth here is CALENDAR-bounded (12 months →
# 23 diagonals at ANY scale factor), i.e. bounded state that can
# compile into the plan — the absorbing_chain_steps device — while
# UnionLoopExec paid ~2.6 scheduled jobs per level (61 jobs measured,
# ~3.1 s, on 300 pair rows of work). Pair count still scales out: each
# unrolled step is one distributed projection. The DuckDB oracle keeps
# the recursive-CTE string verbatim, so value parity is still proven
# against the recursion; the genuinely-recursive SQL surface lives in
# queries/recursive_sql.py, which stays on UnionLoopExec.
_SPARK_PAIRS_SQL = """
WITH months AS (
  SELECT CAST(mo AS INT) AS mo FROM (SELECT explode(sequence(1, 12)) AS mo)
),
rev AS (
  SELECT n.n_name AS nation, CAST(EXTRACT(MONTH FROM o.o_orderdate) AS INT) AS mo,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
series AS (
  SELECT x.nation,
         transform(array_sort(collect_list(struct(x.mo, x.v))), s -> s.v) AS vals
  FROM (
    SELECT nn.nation, m.mo, coalesce(r.v, 0.0) AS v
    FROM (SELECT DISTINCT nation FROM rev) nn
    CROSS JOIN months m
    LEFT JOIN rev r ON r.nation = nn.nation AND r.mo = m.mo
  ) x
  GROUP BY x.nation
)
SELECT a.nation AS nation_a, b.nation AS nation_b, a.vals AS xs, b.vals AS ys
FROM series a JOIN series b ON a.nation < b.nation
"""

#: checkpoint cadence for the unrolled chain: bounds the stacked
#: interpreted-projection depth the same way absorbing_chain_steps
#: bounds its codegen units (each checkpoint is an ~80 ms job on the
#: 300-pair rows; 23 steps → 2 checkpoints)
_UNROLL_CKPT_EVERY = 8

DUCKDB_DTW_SQL = _fill(
    "SELECT CAST(unnest(generate_series(1, 12)) AS INT) AS mo",
    "list(x.v ORDER BY x.mo)",
    "[abs(list_extract(xs, 1) - list_extract(ys, 1))]",
    _step("list_transform", "generate_series", "list_extract"),
    "list_extract(cur, 1)",
    "DOUBLE[]",
)


@register("dtw_nation_profiles", oracle=DUCKDB_DTW_SQL)
def dtw_nation_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW distance for every nation pair's gap-filled 12-month revenue
    profile (|x_i - y_j| cost, unconstrained band): wavefront DP, one
    list-valued row per pair, 23 serial steps UNROLLED as chained
    projections (round 12 — the depth is calendar-bounded, so the loop
    compiles into the plan; UnionLoopExec paid ~61 scheduled jobs for
    300 rows of work). Raw bit-equal doubles against the DuckDB
    recursive-CTE oracle (tests add a pure-Python reference DP): each
    unrolled step is _step() with the diagonal index inlined — the
    identical double arithmetic in the identical order."""
    register_views(spark, sf_dir)
    df = spark.sql(_SPARK_PAIRS_SQL).selectExpr(
        "nation_a",
        "nation_b",
        "xs",
        "ys",
        "array(abs(element_at(xs, 1) - element_at(ys, 1))) AS cur",
        "CAST(NULL AS ARRAY<DOUBLE>) AS prev",
    )
    for d in range(_LAST_DIAG):
        # the recursive member's SELECT list with d inlined: new cur
        # from this row's cur/prev, prev becomes the old cur
        df = df.selectExpr(
            "nation_a",
            "nation_b",
            "xs",
            "ys",
            f"{_step('transform', 'sequence', 'element_at', d=str(d))} AS cur",
            "cur AS prev",
        )
        if (d + 1) % _UNROLL_CKPT_EVERY == 0:
            df = df.localCheckpoint()
    return df.selectExpr(
        "nation_a", "nation_b", "element_at(cur, 1) AS dtw_dist"
    ).orderBy("nation_a", "nation_b")
