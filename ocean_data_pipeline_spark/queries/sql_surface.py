"""Textual-SQL query surface (SURVEY.md §3.3): queries whose ENGINE
side is a literal `spark.sql(...)` string parsed by Catalyst over
`catalog.register_views`, not a DataFrame build.

The reference's primary interface is textual SQL over its store
(dashboard/app.py:103 runs `SELECT * FROM sea_surface ORDER BY time`;
run_pipeline.py:130-139 issues SQL DDL/DML strings). This module
exercises the same path in the Spark engine: each query below is ONE
ANSI-SQL string that (a) Spark parses/optimizes/executes through the
full Catalyst pipeline and (b) DuckDB runs verbatim as the oracle —
the string IS both sides of the correctness check, so any divergence
is engine behavior, not query-translation drift.

Scale notes: text-vs-DataFrame is a front-end distinction only — both
lower to the same logical plan, so everything the plan gates pin
(pushdown, broadcast dims, partial aggs) applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocean_data_pipeline_spark.catalog import register_views
from ocean_data_pipeline_spark.queries import register

# One string, two engines: the revenue star-join of queries/joins.py
# expressed as text. Decimal(18,2) sums keep the aggregate exact and
# partition-order invariant on both sides before the final double cast.
_SQL_REVENUE = """
SELECT
  r_name                                                     AS region_name,
  n_name                                                     AS nation_name,
  count(*)                                                   AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)   AS total_revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY r_name, n_name
ORDER BY region_name, nation_name
"""


@register("sql_revenue_by_nation", oracle=_SQL_REVENUE)
def sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through the SQL parser: Catalyst still broadcasts the
    dims and shuffles the fact once — same physical plan as the
    DataFrame twin `revenue_by_nation` (plan-gated there)."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_REVENUE)


# Scalar subquery through Catalyst (SubqueryExec → reused broadcast
# scalar). The threshold is computed as exact-decimal sum ÷ count cast
# through DOUBLE identically on both engines, so the > comparison is
# bit-deterministic — avg() directly would leave the boundary at the
# mercy of each engine's summation order.
_SQL_ABOVE_AVG = """
SELECT c_mktsegment AS mktsegment,
       count(*)     AS n_above_avg,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
WHERE c_acctbal > (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
  FROM customer
)
GROUP BY c_mktsegment
ORDER BY mktsegment
"""


@register("sql_above_avg_balance", oracle=_SQL_ABOVE_AVG)
def sql_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in SQL text: customers above the
    global mean balance, per market segment."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_ABOVE_AVG)


# Window function through the SQL parser: segment top-spenders via
# row_number() OVER — the ranked-dashboard query shape. One string,
# both engines; decimal spend sums keep the ranking key exact.
_SQL_TOP_SPENDERS = """
WITH spend AS (
  SELECT c_custkey, c_mktsegment,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey, c_mktsegment
),
ranked AS (
  SELECT c_mktsegment AS segment, c_custkey AS custkey, total_spend,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY total_spend DESC, c_custkey) AS rnk
  FROM spend
)
SELECT segment, custkey, total_spend, rnk
FROM ranked WHERE rnk <= 5
ORDER BY segment, rnk
"""


@register("sql_top_spenders_window", oracle=_SQL_TOP_SPENDERS)
def sql_top_spenders_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed ranking through the SQL parser: Catalyst lowers the
    row_number() OVER text to the same Window + rank-filter plan the
    DataFrame twins get (win-rank family), with the per-customer spend
    rollup shuffling once on the grouping key."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_TOP_SPENDERS)


# The ordered-funnel shape through the SQL parser: three cascading
# CTEs, each gating on STRICTLY-LATER timestamps, plus scalar
# subqueries for the stage counts — exercises CTE resolution, scalar
# subquery planning, and correlated-free aggregation in one string
# that both engines accept verbatim. nullif gives Spark's ANSI division
# DuckDB's NULL on an empty stage.
_SQL_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
),
n AS (
  SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
         (SELECT count(*) FROM v) AS n_viewed,
         (SELECT count(*) FROM c) AS n_clicked,
         (SELECT count(*) FROM p) AS n_purchased
)
SELECT n_users, n_viewed, n_clicked, n_purchased,
       round(CAST(n_clicked AS DOUBLE) / nullif(n_viewed, 0), 4) AS click_through,
       round(CAST(n_purchased AS DOUBLE) / nullif(n_clicked, 0), 4) AS purchase_through
FROM n
"""


@register("sql_funnel_conversion", oracle=_SQL_FUNNEL)
def sql_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `event_funnel_conversion` semantics as ONE textual SQL
    string — Catalyst plans the scalar subqueries as broadcast 1-row
    joins, reaching the same physical posture as the DataFrame twin."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_FUNNEL)


# GROUPING SETS through the parser — the multi-granularity grammar
# (rollup/cube cousins are DataFrame-side in queries/aggregates.py;
# this is the textual form, identical in both dialects). grouping()
# flags disambiguate NULL-as-total from NULL-as-value.
_SQL_GROUPING_SETS = """
SELECT
  o_orderpriority                                           AS priority,
  o_orderstatus                                             AS status,
  grouping(o_orderpriority)                                 AS g_priority,
  grouping(o_orderstatus)                                   AS g_status,
  count(*)                                                  AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)  AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY g_priority, g_status, priority, status
"""


@register("sql_grouping_sets_revenue", oracle=_SQL_GROUPING_SETS)
def sql_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS + grouping() flags as ONE textual SQL string —
    Catalyst lowers it to the same Expand + partial-agg plan as the
    DataFrame rollup/cube twins (one scan, one shuffle)."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_GROUPING_SETS)


# EXISTS / NOT EXISTS through the parser — the correlated-subquery
# grammar (the DataFrame twins use semi/anti joins directly).
_SQL_EXISTS = """
SELECT c_mktsegment                          AS segment,
       count(*)                              AS n_customers,
       CAST(sum(CASE WHEN EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderpriority = '1-URGENT'
            ) THEN 1 ELSE 0 END) AS BIGINT)  AS n_with_urgent,
       CAST(sum(CASE WHEN NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey
            ) THEN 1 ELSE 0 END) AS BIGINT)  AS n_never_ordered
FROM customer
GROUP BY c_mktsegment
ORDER BY segment
"""


@register("sql_exists_customers", oracle=_SQL_EXISTS)
def sql_exists_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS inside conditional aggregates,
    as ONE textual SQL string — Catalyst decorrelates both subqueries
    into ExistenceJoins over the orders relation (no per-row
    re-execution), the same physical family as the DataFrame
    semi/anti twins."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_EXISTS)


# Textual PIVOT clause through the parser — the relational-operator
# grammar Spark lowers to the same Expand + single partial aggregate as
# the DataFrame pivot twin (`pivot_status_by_year`). DuckDB's PIVOT
# grammar differs, so the oracle is the portable CASE formulation; the
# priority list is pinned (never inferred) so the output schema is
# static — the scale rule for pivot at 100 TB.
_SQL_PIVOT_SPARK = """
SELECT * FROM (
  SELECT year(o_orderdate) AS order_year,
         o_orderpriority AS pri,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
PIVOT (
  CAST(sum(price) AS DOUBLE)
  FOR pri IN ('1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium,
              '4-NOT SPECIFIED' AS not_specified, '5-LOW' AS low)
)
ORDER BY order_year
"""

_SQL_PIVOT_ORACLE = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS urgent,
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS high,
       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS medium,
       CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS not_specified,
       CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS low
FROM orders
GROUP BY year(o_orderdate)
ORDER BY order_year
"""


@register("sql_pivot_priority_by_year", oracle=_SQL_PIVOT_ORACLE)
def sql_pivot_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8th SQL-string query: the textual PIVOT clause (revenue per
    order-priority column per year). Catalyst rewrites PIVOT into the
    same conditional-aggregate plan as the oracle's CASE formulation —
    one scan, one partial agg, no per-pivot-value passes. The IN list
    is explicit: inferring pivot columns from data needs an extra
    distinct pass and makes the schema data-dependent, both wrong at
    100 TB."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PIVOT_SPARK)


# Textual LATERAL VIEW explode — Spark's UDTF/generator grammar
# (SURVEY §2-I), the SQL twin of the DataFrame explode in `top_tokens`.
# DuckDB spells the same generator as unnest(regexp_split_to_array).
_SQL_LATERAL_SPARK = r"""
SELECT token, count(*) AS n_occurrences
FROM documents
LATERAL VIEW explode(split(trim(lower(text)), '\\s+')) t AS token
WHERE length(trim(text)) > 0
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 30
"""

_SQL_LATERAL_ORACLE = """
SELECT token, count(*) AS n_occurrences
FROM (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 30
"""


@register("sql_lateral_explode_tokens", oracle=_SQL_LATERAL_ORACLE)
def sql_lateral_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """9th SQL-string query: LATERAL VIEW explode through the parser —
    the generator (UDTF) grammar over the token stream, top-30 tokens.
    Same tokenization contract as `top_tokens` (trim+lower, whitespace
    split, empty docs excluded BEFORE the generator so no empty-string
    token appears). The generator output feeds a partial agg before the
    shuffle — the explosion never crosses the wire raw."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_SPARK)


# Named-window grammar: one WINDOW clause defines both specs, every
# OVER references a name — the last piece of the ANSI window surface
# (inline OVER, frames, navigation, QUALIFY-less rank filtering are
# covered by queries/windows.py and the strings above). The rolling
# mean divides an exact-DECIMAL frame sum by the frame count and emits
# only FULL frames (CASE n=3): /3 either divides the cents evenly
# (exact, safe) or never terminates (no .xx5 shortest-repr boundary) —
# the rounding-knife-edge analysis from ROUND_NOTES lesson #1.
_SQL_NAMED_WINDOW = """
WITH m AS (
  SELECT substring(CAST(date_trunc('month', o_orderdate) AS STRING), 1, 7)
           AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
  GROUP BY substring(CAST(date_trunc('month', o_orderdate) AS STRING), 1, 7)
)
SELECT month,
       revenue,
       round(revenue - lag(revenue) OVER w, 2) AS delta,
       CASE WHEN count(*) OVER w3 = 3
            THEN round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER w3
                            AS DOUBLE) / 3, 2)
       END AS roll3
FROM m
WINDOW w  AS (ORDER BY month),
       w3 AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY month
"""


@register("sql_named_window_rollup", oracle=_SQL_NAMED_WINDOW)
def sql_named_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month delta and a full-frame
    3-month rolling mean, written with the ANSI named-WINDOW clause
    (`WINDOW w AS (...), w3 AS (...)`) — both engines parse the
    IDENTICAL string, so the test pins Spark's named-window resolution
    against DuckDB's. The two specs share the single month-ordered
    sort (one window exchange, same plan as the DataFrame twins
    `monthly_revenue_delta` / `rolling_avg_monthly`)."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_NAMED_WINDOW)


# Python UDTF through the SQL LATERAL grammar — the fourth and last
# UDF class (scalar-expression, pandas/mapInPandas, grouped-map, and
# grouped-stateful are covered elsewhere; see COVERAGE.md). The UDTF
# body mirrors `chunk_documents`' arithmetic exactly, so the oracle is
# the same chunking SQL — the test pins the UDTF execution path
# (serialization, lateral correlation, generator semantics) rather
# than new semantics. Bounded to 100 docs: row-based Python is the
# SLOW PATH by design; the production-scale formulation is the
# pure-expression `chunk_documents` (one JVM map pass), and this entry
# exists to prove the API surface works, not to race it.
_UDTF_CHUNK_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents WHERE doc_id < 100
),
starts AS (
  SELECT doc_id, t, n, unnest(range(0, n, 20)) AS start FROM toks
)
SELECT doc_id,
       CAST(start / 20 AS INTEGER) AS chunk_id,
       CAST(least(30, n - start) AS INTEGER) AS n_tokens,
       array_to_string(t[start + 1 : start + 30], ' ') AS chunk_text
FROM starts
ORDER BY doc_id, chunk_id
"""


@register("sql_udtf_chunk_documents", oracle=_UDTF_CHUNK_ORACLE)
def sql_udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking as a PYTHON UDTF consumed via SQL
    `LATERAL`: `FROM documents d, LATERAL chunk_udtf(d.text) c` — one
    generator invocation per row, chunks yielded as table rows with the
    lateral join carrying the doc_id correlation. Arrow-serialized
    (useArrow), deterministic (pure arithmetic on the input string),
    and oracle-checked against the exact SQL formulation of the same
    30-token/stride-20 windows."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id: int, n_tokens: int, chunk_text: string",
          useArrow=True)
    class ChunkUDTF:
        def eval(self, text):
            import re

            toks = re.split(r"\s+", (text or "").strip())
            n = len(toks)
            for start in range(0, n, 20):
                w = toks[start : start + 30]
                yield start // 20, len(w), " ".join(w)

    spark.udtf.register("chunk_udtf", ChunkUDTF)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.n_tokens, c.chunk_text
        FROM documents d, LATERAL chunk_udtf(d.text) c
        WHERE d.doc_id < 100
        ORDER BY d.doc_id, c.chunk_id
        """
    )


# ANSI aggregate FILTER clause — the 12th textual string: per-group
# conditional aggregation through the parser's FILTER (WHERE ...)
# grammar instead of CASE arithmetic (the `conditional_agg_events`
# shape, surfaced at the SQL layer). Both engines lower FILTER to the
# same conditional partial aggregate, so map-side combine is intact.
_SQL_FILTER_AGG = """
SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       count(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0)
         AS revenue_finished
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
"""


@register("sql_filter_clause_agg", oracle=_SQL_FILTER_AGG)
def sql_filter_clause_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER (WHERE ...) clause through the parser — one
    scan, four conditionally-filtered aggregates, exact-DECIMAL sum
    under the filter. The verbatim string runs on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_FILTER_AGG)


# SQL pipe syntax (Spark 4.0, `|>` — SIGMOD'24 "SQL Has Problems...",
# the GoogleSQL pipe-operator grammar): the 13th textual string. Each
# |> stage is a self-contained operator application in reading order —
# the textual mirror of DataFrame chaining. DuckDB has no pipe grammar,
# so the oracle is the ANSI formulation of the same plan; both lower to
# identical logical operators (filter → project → partial agg → sort),
# which is the point: pipe syntax is parser surface, not semantics.
_SQL_PIPE = """
FROM orders
|> WHERE o_orderstatus = 'F'
|> EXTEND CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec
|> AGGREGATE count(*) AS n_orders,
             CAST(sum(price_dec) AS DOUBLE) AS revenue
   GROUP BY o_orderpriority AS priority
|> ORDER BY priority
"""

_SQL_PIPE_ORACLE = """
SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY priority
"""


@register("sql_pipe_priority_revenue", oracle=_SQL_PIPE_ORACLE)
def sql_pipe_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipe-syntax SQL (`FROM ... |> WHERE ... |> AGGREGATE`) through
    Spark's parser; the DuckDB oracle is the equivalent ANSI string —
    value parity proves the pipe grammar lowers to the same plan."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PIPE)


# Parameterized SQL (Spark 4 `spark.sql(query, args=...)`): named
# parameter markers bind server-side (no string splicing — the
# SQL-injection-safe surface a reference user templating dashboard
# queries needs), and IDENTIFIER(:tbl) binds a TABLE NAME through a
# parameter, which literal substitution cannot do safely. DuckDB has
# no parameter markers in this driver path, so the oracle is the
# literal-bound ANSI string — parity proves binding == substitution.
_SQL_PARAM_ORACLE = """
SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice > 250000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY priority
"""


@register("sql_parameterized_revenue", oracle=_SQL_PARAM_ORACLE)
def sql_parameterized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL with an IDENTIFIER-bound table name:
    `FROM IDENTIFIER(:tbl) WHERE o_totalprice > :thr AND
    o_orderstatus = :st` — binding happens in the analyzer, so the
    plan is identical to the literal form (the oracle)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > :thr AND o_orderstatus = :st
        GROUP BY o_orderpriority
        ORDER BY priority
        """,
        args={"tbl": "orders", "thr": 250000.0, "st": "O"},
    )


# GROUP BY ALL / ORDER BY ALL: the DuckDB-originated convenience
# grammar Spark 4 adopted — every non-aggregate select item groups,
# every output column orders. One string, both engines, no column
# lists to drift.
_SQL_GROUP_ALL = """
SELECT
  year(o_orderdate)                                          AS order_year,
  o_orderpriority                                            AS priority,
  count(*)                                                   AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)   AS revenue
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


@register("sql_group_order_by_all", oracle=_SQL_GROUP_ALL)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12th+ textual string: `GROUP BY ALL` + `ORDER BY ALL` through
    both parsers — the grammar infers the grouping set (year, priority)
    and the total output order, so the string cannot silently diverge
    from its select list. Lowers to the same partial-agg + exchange +
    sort plan as an explicit column list."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_GROUP_ALL)


# LATERAL correlated subquery — per-region top-2 nations by customer
# count, the "top-N per group without a window function" idiom. One
# verbatim string through both parsers: Spark lowers the LATERAL to a
# correlated join it decorrelates; DuckDB executes it natively. The
# inner ORDER BY ties off on n_name so top-2 is deterministic.
_SQL_LATERAL = """
SELECT r.r_name AS region_name, t.nation_name, t.n_customers
FROM region r,
LATERAL (
  SELECT n.n_name AS nation_name, count(*) AS n_customers
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_customers DESC, n.n_name
  LIMIT 2
) t
ORDER BY region_name, n_customers DESC, nation_name
"""


@register("sql_lateral_topn_per_region", oracle=_SQL_LATERAL)
def sql_lateral_topn_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL top-N-per-group through the SQL parser (16th verbatim
    string): Catalyst decorrelates the LATERAL into a ranked join —
    at scale the same physical shape as the window formulation
    (`latest_order_per_customer`), reached from ANSI text."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL)
