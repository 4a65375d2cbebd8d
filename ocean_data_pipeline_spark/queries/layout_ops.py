"""Physical-layout planning queries (SURVEY.md §4 width, sibling of
`zorder_layout_stats`): small-file compaction planning and shuffle
bucket-balance profiling — the table-maintenance arithmetic a
lakehouse runs nightly (Delta OPTIMIZE / Iceberg rewrite planning),
expressed as ordinary aggregates so the planner itself scales.

Both queries operate on O(partition-count) aggregated relations, never
on raw rows, so planning cost is independent of table size — the
property that lets a 100 TB table's maintenance job run on one
executor's worth of work after the initial scan-side partial aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.operators.ranks import (
    cumulative,
    cumulative_sql,
    quantile,
    quantile_sql,
)
from ocean_data_pipeline_spark.queries import register

#: Target rows per compacted output file (literal so both engines and
#: any sf agree; a real deployment derives it from target bytes /
#: observed row width).
_TARGET_ROWS = 5000

_COMPACTION_ORACLE = f"""
WITH p AS (
  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-01') AS part,
         count(*) AS n_rows
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT part, n_rows,
         CAST(coalesce(sum(n_rows) OVER (ORDER BY part
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
  FROM p
)
SELECT cum_before // {_TARGET_ROWS} AS file_id,
       count(*) AS n_partitions,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       min(part) AS first_part,
       max(part) AS last_part
FROM c GROUP BY 1 ORDER BY file_id
"""


@register("compaction_plan", oracle=_COMPACTION_ORACLE)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: per-partition (ship-month) row
    counts are packed, in partition order, into target-size output
    files of ~5000 rows — file_id = floor(rows-before / target),
    the deterministic first-fit-in-order policy Delta's OPTIMIZE uses
    per bin. The plan lists, per output file, the partitions merged,
    total rows, and the partition span (contiguous spans keep the
    table's time-clustering, so min/max skipping stats stay tight
    after compaction).

    Plan shape: one partial agg onto O(partitions) rows, one running-
    sum window over that tiny relation, one final agg onto O(files).
    The fact table is touched exactly once, by the counting agg."""
    li = table(spark, sf_dir, "lineitem").select("l_shipdate")
    p = li.groupBy(
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM-01").alias("part")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.orderBy("part").rowsBetween(Window.unboundedPreceding, -1)
    c = p.select(
        "part",
        "n_rows",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        c.groupBy(F.expr(f"cum_before div {_TARGET_ROWS}").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("n_rows").alias("total_rows"),
            F.min("part").alias("first_part"),
            F.max("part").alias("last_part"),
        )
        .orderBy("file_id")
    )


#: Knuth multiplicative hash — identical integer arithmetic on both
#: engines (BIGINT stays exact while key * 2654435761 < 2^63, i.e.
#: keys < ~3.5e9; beyond that both sides would move to a 128-bit or
#: hex-sha2 mix).
_MIX = 2654435761
_MOD = 4294967296
_BUCKETS = 32

_BUCKET_ORACLE = f"""
WITH b AS (
  SELECT ((o_custkey * {_MIX}) % {_MOD}) % {_BUCKETS} AS bucket,
         o_custkey
  FROM orders
)
SELECT bucket,
       count(*) AS n_rows,
       count(DISTINCT o_custkey) AS n_keys,
       round(count(*) / (CAST(sum(count(*)) OVER () AS DOUBLE)
                         / {_BUCKETS}), 4) AS load_factor
FROM b GROUP BY bucket ORDER BY bucket
"""


@register("shuffle_bucket_histogram", oracle=_BUCKET_ORACLE)
def shuffle_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle bucket-balance profile: rows and distinct keys per hash
    bucket under a 32-way multiplicative hash partitioning of
    o_custkey, with each bucket's load factor vs the uniform ideal
    (sum/32). Load factors far from 1.0 predict straggler reducers —
    the diagnostic run before choosing bucketing columns for a
    co-located join layout (`join-colocated`, tests/test_bucketing.py).
    The hash is Knuth's multiplicative mix in exact BIGINT arithmetic
    rather than the engines' incompatible builtin hashes, so the
    oracle computes the identical assignment.

    Plan shape: one partial agg onto <= 32 (bucket, key-count) rows —
    count-distinct adds a key-level pre-agg — then the load-factor
    window runs over <= 32 rows. Scan-bound; planning cost O(1)."""
    o = table(spark, sf_dir, "orders").select("o_custkey")
    b = o.select(
        ((F.col("o_custkey") * _MIX) % _MOD % _BUCKETS).alias("bucket"),
        "o_custkey",
    )
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_keys"),
    )
    w = Window.partitionBy()
    return g.select(
        "bucket",
        "n_rows",
        "n_keys",
        F.round(
            F.col("n_rows")
            / (F.sum("n_rows").over(w).cast("double") / _BUCKETS),
            4,
        ).alias("load_factor"),
    ).orderBy("bucket")


# --- encoding advisor (dict / RLE size estimation) ---------------------

def _encoding_oracle() -> str:
    parts = []
    for col, width in _ENC_COLUMNS:
        parts.append(f"""
SELECT '{col}' AS column_name,
       n, ndv, runs,
       n * {width} AS plain_bytes,
       (ndv * {width} * 8 + n * bits + 7) // 8 AS dict_bytes,
       runs * ({width} + 2) AS rle_bytes,
       CASE WHEN n * {width} <= (ndv * {width} * 8 + n * bits + 7) // 8
             AND n * {width} <= runs * ({width} + 2) THEN 'plain'
            WHEN (ndv * {width} * 8 + n * bits + 7) // 8
                 <= runs * ({width} + 2) THEN 'dict'
            ELSE 'rle' END AS best
FROM (
  SELECT count(*) AS n,
         count(DISTINCT v) AS ndv,
         CAST(sum(s) AS BIGINT) AS runs,
         CASE WHEN count(DISTINCT v) <= 1 THEN 0
              ELSE length(bin(count(DISTINCT v) - 1)) END AS bits
  FROM (
    SELECT v,
           CASE WHEN lag(v) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, v)
                     IS DISTINCT FROM v THEN 1 ELSE 0 END AS s
    FROM (SELECT l_orderkey, l_linenumber, {col} AS v FROM lineitem)
  )
)""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


_ENC_COLUMNS = [
    ("l_returnflag", 1),
    ("l_linestatus", 1),
    ("l_shipdate", 4),
    ("l_quantity", 8),
    ("l_partkey", 8),
]


@register("encoding_advisor", oracle=_encoding_oracle())
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisor: for five representative lineitem
    columns, estimate plain vs dictionary vs run-length encoded sizes
    from (row count, NDV, run count) and recommend the cheapest — the
    arithmetic a columnar writer (parquet encoding chooser, Delta
    OPTIMIZE ZORDER cost model) applies per row group. Runs are
    counted under the total (l_orderkey, l_linenumber, value) order
    WITHIN each order — the value tiebreak makes the census
    deterministic (the synthetic lineitem has duplicate line keys)
    and the per-key windows parallelize; a file-global RLE count would need a single sort
    (the boundary correction is one row per order, noise at row-group
    granularity).

    All sizes are exact integer arithmetic: dictionary index width =
    bit length of (NDV-1) via the binary-string trick (length(bin(x))
    — floor(log2) on integers without the pow-boundary ulp hazard of
    floating log2), dict bytes = ceil((dict entries + index bits)/8)
    by integer division. Per-column stats are independent 2-column
    scans — column pruning keeps each at its own column's I/O."""
    li = table(spark, sf_dir, "lineitem")
    outs = []
    for col, width in _ENC_COLUMNS:
        base = li.select("l_orderkey", "l_linenumber", F.col(col).alias("v"))
        w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "v")
        prev = F.lag("v").over(w)
        flagged = base.select(
            "v",
            F.when(prev.isNull() | (prev != F.col("v")), 1).otherwise(0).alias("s"),
        )
        stats = flagged.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("v").alias("ndv"),
            F.sum("s").cast("bigint").alias("runs"),
        ).withColumn(
            "bits",
            F.when(F.col("ndv") <= 1, F.lit(0)).otherwise(
                F.length(F.bin(F.col("ndv") - 1))
            ),
        )
        plain = F.col("n") * width
        dict_b = F.expr(f"(ndv * {width} * 8 + n * bits + 7) div 8")
        rle = F.col("runs") * (width + 2)
        outs.append(
            stats.select(
                F.lit(col).alias("column_name"),
                "n",
                "ndv",
                "runs",
                plain.alias("plain_bytes"),
                dict_b.alias("dict_bytes"),
                rle.alias("rle_bytes"),
                F.when((plain <= dict_b) & (plain <= rle), "plain")
                .when(dict_b <= rle, "dict")
                .otherwise("rle")
                .alias("best"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("column_name")


# --- CBO join-cardinality audit ---------------------------------------

_JOINCARD_ORACLE = """
WITH est AS (
  SELECT 'orders_x_customer' AS join_name,
         (SELECT count(*) FROM orders) AS n_left,
         (SELECT count(*) FROM customer) AS n_right,
         (SELECT count(DISTINCT o_custkey) FROM orders) AS ndv_left,
         (SELECT count(DISTINCT c_custkey) FROM customer) AS ndv_right,
         (SELECT count(*) FROM orders o JOIN customer c
            ON o.o_custkey = c.c_custkey) AS actual_rows
  UNION ALL
  SELECT 'lineitem_x_orders',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM orders),
         (SELECT count(DISTINCT l_orderkey) FROM lineitem),
         (SELECT count(DISTINCT o_orderkey) FROM orders),
         (SELECT count(*) FROM lineitem l JOIN orders o
            ON l.l_orderkey = o.o_orderkey)
  UNION ALL
  SELECT 'lineitem_x_part',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM part),
         (SELECT count(DISTINCT l_partkey) FROM lineitem),
         (SELECT count(DISTINCT p_partkey) FROM part),
         (SELECT count(*) FROM lineitem l JOIN part p
            ON l.l_partkey = p.p_partkey)
)
SELECT join_name,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(n_left * n_right // nullif(greatest(ndv_left, ndv_right), 0)
            AS BIGINT) AS estimated_rows,
       CAST(actual_rows AS BIGINT) AS actual_rows,
       CAST(actual_rows AS DOUBLE)
         / nullif(n_left * n_right / nullif(greatest(ndv_left, ndv_right), 0), 0)
         AS q_error
FROM est
ORDER BY join_name
"""


@register("join_cardinality_audit", oracle=_JOINCARD_ORACLE)
def join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer cardinality audit: for the three core
    equi-joins, the textbook estimate |R|·|S|/max(ndv_R, ndv_S)
    (Selinger et al., SIGMOD'79 — what Spark CBO and every
    System-R descendant computes from table stats) against the ACTUAL
    join cardinality, with the ratio as the q-error. The companion to
    `equi_depth_histogram`: together they are the statistics layer a
    100 TB planner reasons with — and this query measures how wrong
    the uniformity assumption is on real keys. The estimate divides
    with explicit floor division (`div` / `//`) so both engines agree
    even when the ratio is fractional.

    Plan shape: per join one distinct-agg per side plus the actual
    join count (partial-agg shuffles); everything else is 3-row
    algebra. The joins themselves broadcast their dim side."""
    rows = []
    specs = [
        ("orders_x_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem_x_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem_x_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ]
    for name, lt, lk, rt, rk in specs:
        left = table(spark, sf_dir, lt).select(F.col(lk).alias("k"))
        right = table(spark, sf_dir, rt).select(F.col(rk).alias("k"))
        lstat = left.agg(
            F.count(F.lit(1)).alias("n_left"),
            F.countDistinct("k").alias("ndv_left"),
        )
        rstat = right.agg(
            F.count(F.lit(1)).alias("n_right"),
            F.countDistinct("k").alias("ndv_right"),
        )
        actual = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("actual_rows")
        )
        rows.append(
            lstat.crossJoin(F.broadcast(rstat))
            .crossJoin(F.broadcast(actual))
            .select(
                F.lit(name).alias("join_name"),
                F.col("n_left").cast("bigint").alias("n_left"),
                F.col("n_right").cast("bigint").alias("n_right"),
                F.expr(
                    "CAST(n_left * n_right div nullif(greatest(ndv_left,"
                    " ndv_right), 0) AS BIGINT)"
                ).alias("estimated_rows"),
                F.col("actual_rows").cast("bigint").alias("actual_rows"),
                (
                    F.col("actual_rows").cast("double")
                    / F.expr(
                        "nullif(n_left * n_right / nullif(greatest(ndv_left,"
                        " ndv_right), 0), 0)"
                    )
                ).alias("q_error"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("join_name")


# --- skew salting advisor ---------------------------------------------

_SALT_ORACLE = f"""
WITH freq AS (
  SELECT l_partkey AS k, count(*) AS f FROM lineitem GROUP BY 1
),
ff AS (  -- frequency-of-frequencies: how many keys have each count
  SELECT f, count(*) AS nk FROM freq GROUP BY f
),
cum AS ({cumulative_sql("ff", "f", "nk")}),
s AS (
  SELECT max(n) AS ndv, sum(f * nk) AS n_all,
         max(f) AS max_f,
         {quantile_sql("f", 19, 20)} AS p95_f
  FROM cum
)
SELECT CAST(n_all AS BIGINT) AS n_rows,
       CAST(ndv AS BIGINT) AS n_keys,
       CAST(max_f AS BIGINT) AS max_key_freq,
       CAST(p95_f AS BIGINT) AS p95_key_freq,
       CAST((max_f + p95_f - 1) // p95_f AS BIGINT) AS recommended_salt
FROM s
"""


@register("skew_salting_advisor", oracle=_SALT_ORACLE)
def skew_salting_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew remediation advisor for the lineitem partkey: from the
    key-frequency census, the max and exact p95 key frequencies and the
    recommended salting factor ceil(max/p95) — the number of salt
    buckets that levels the hottest key down to typical-key load, i.e.
    the parameter `salted_join_segments` consumes. The p95 is the
    value-census `quantile` of operators/ranks.py on the
    frequency-of-frequencies relation (a cross-multiplied integer
    comparison), and the ceil is integer arithmetic
    ((max + p95 - 1) // p95) — no doubles anywhere.

    Plan shape: one shuffle to the key census, one tiny rollup to the
    count-of-counts relation (value-domain-bounded), windows over it.
    At 100 TB this is the cheap pre-flight a skew-aware planner runs
    before committing to a salted or AQE-split join."""
    freq = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ff = freq.groupBy("f").agg(F.count(F.lit(1)).alias("nk"))
    s = cumulative(ff, "f", "nk").agg(
        F.max("n").alias("ndv"),
        F.sum(F.col("f") * F.col("nk")).alias("n_all"),
        F.max("f").alias("max_f"),
        quantile("f", 19, 20).alias("p95_f"),
    )
    return s.select(
        F.col("n_all").cast("bigint").alias("n_rows"),
        F.col("ndv").cast("bigint").alias("n_keys"),
        F.col("max_f").cast("bigint").alias("max_key_freq"),
        F.col("p95_f").cast("bigint").alias("p95_key_freq"),
        F.expr("CAST((max_f + p95_f - 1) div p95_f AS BIGINT)").alias(
            "recommended_salt"
        ),
    )


# --- zone-map (min/max) pruning audit ------------------------------------

#: File count and the audited date-range predicate (one quarter).
_ZM_FILES = 32
_ZM_LO = "1995-01-01"
_ZM_HI = "1995-04-01"

_ZONEMAP_ORACLE = f"""
WITH layouts AS (
  SELECT 'insertion' AS layout,
         ntile({_ZM_FILES}) OVER (ORDER BY o_orderkey) AS file_id,
         o_orderdate
  FROM orders
  UNION ALL
  SELECT 'date_clustered' AS layout,
         ntile({_ZM_FILES}) OVER (ORDER BY o_orderdate, o_orderkey) AS file_id,
         o_orderdate
  FROM orders
),
zones AS (  -- per-file zone map: min/max of the predicate column
  SELECT layout, file_id, count(*) AS n_rows,
         min(o_orderdate) AS d_min, max(o_orderdate) AS d_max,
         CAST(sum(CASE WHEN o_orderdate >= DATE '{_ZM_LO}'
                        AND o_orderdate < DATE '{_ZM_HI}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS matching
  FROM layouts GROUP BY layout, file_id
),
audit AS (
  SELECT layout,
         count(*) AS n_files,
         CAST(sum(CASE WHEN d_max >= DATE '{_ZM_LO}'
                        AND d_min < DATE '{_ZM_HI}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         CAST(sum(CASE WHEN d_max >= DATE '{_ZM_LO}'
                        AND d_min < DATE '{_ZM_HI}'
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
         CAST(sum(matching) AS BIGINT) AS matching_rows
  FROM zones GROUP BY layout
)
SELECT layout, n_files, files_scanned, rows_scanned, matching_rows,
       round(1.0 - CAST(files_scanned AS DOUBLE) / n_files, 6) AS prune_fraction,
       round(CAST(rows_scanned AS DOUBLE) / matching_rows, 4) AS scan_amplification
FROM audit ORDER BY layout
"""


@register("zonemap_pruning_audit", oracle=_ZONEMAP_ORACLE)
def zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) pruning effectiveness under two
    physical layouts: `insertion` (files cut by order key — arrival
    order) vs `date_clustered` (files cut by a date sort), audited
    against a one-quarter date predicate. A file must be scanned iff
    its [min,max] date range overlaps the predicate; the clustered
    layout concentrates the quarter into few files (prune_fraction
    near 1, scan_amplification near 1) while insertion order scans
    everything — the quantified case for clustering/Z-ORDER before a
    100 TB table meets its dominant filter column. Sibling of
    `zorder_layout_stats` (multi-column interleave) and
    `compaction_plan`.

    Determinism: ntile over a UNIQUE total order (orderkey; date+
    orderkey) is identical on both engines — computed as ANSI ntile
    from the distributed exact-rank device (operators/ranks.py), never
    a single-partition row-scale window: the date layout buckets by
    fixed 30-day widths (TPC-H's date DOMAIN is scale-invariant), the
    insertion layout by sampled orderkey bounds (keys grow with the
    data). Everything else is integer arithmetic until the two
    display ratios.

    Plan shape: two K-way bucketed rank passes over the scan (one per
    layout), one groupBy to 64 zone rows, one 2-row aggregate. The
    audit itself is the cheap part; it prices the expensive decision
    (rewriting the table layout)."""
    from ocean_data_pipeline_spark.operators.ranks import (
        ntile_from_rank,
        with_global_row_number,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lo, hi = F.lit(_ZM_LO).cast("date"), F.lit(_ZM_HI).cast("date")
    n_all = o.agg(F.count(F.lit(1)).alias("_n_all"))
    ins = (
        with_global_row_number(
            o, ["o_orderkey"], "o_orderkey", out="_rn"
        )
        .crossJoin(F.broadcast(n_all))
        .select(
            F.lit("insertion").alias("layout"),
            ntile_from_rank(F.col("_rn"), F.col("_n_all"), _ZM_FILES).alias(
                "file_id"
            ),
            "o_orderdate",
        )
    )
    od_num = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    clu = (
        with_global_row_number(
            o.withColumn("_od", od_num),
            ["_od", "o_orderkey"],
            "_od",
            out="_rn",
            bucket_width=30.0,  # calendar-bounded date domain
        )
        .crossJoin(F.broadcast(n_all))
        .select(
            F.lit("date_clustered").alias("layout"),
            ntile_from_rank(F.col("_rn"), F.col("_n_all"), _ZM_FILES).alias(
                "file_id"
            ),
            "o_orderdate",
        )
    )
    match = (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    zones = (
        ins.unionByName(clu)
        .groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderdate").alias("d_min"),
            F.max("o_orderdate").alias("d_max"),
            F.sum(F.when(match, 1).otherwise(0)).cast("bigint").alias("matching"),
        )
    )
    overlaps = (F.col("d_max") >= lo) & (F.col("d_min") < hi)
    audit = zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(overlaps, 1).otherwise(0)).cast("bigint").alias("files_scanned"),
        F.sum(F.when(overlaps, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
        F.sum("matching").cast("bigint").alias("matching_rows"),
    )
    return audit.select(
        "layout",
        "n_files",
        "files_scanned",
        "rows_scanned",
        "matching_rows",
        F.round(
            1.0 - F.col("files_scanned").cast("double") / F.col("n_files"), 6
        ).alias("prune_fraction"),
        F.round(
            F.try_divide(F.col("rows_scanned").cast("double"), F.col("matching_rows")), 4
        ).alias("scan_amplification"),
    ).orderBy("layout")
