"""Distributed rank device (operators/ranks.py) vs the naive
single-partition global window — exact equality on adversarial data:
heavy ties on the range column (tie blocks larger than bucket targets),
groups, descending order, and n < k ntiles. The device must be a
drop-in: same values, same types, K-way parallel plan."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.operators.ranks import (
    cume_dist_from_rank,
    ntile_from_rank,
    percent_rank_from_rank,
    with_global_row_number,
    with_running_aggs,
)


@pytest.fixture(scope="module")
def rows(spark):
    # 2000 rows, 37 heavily-tied value levels, unique id tiebreak,
    # 3 groups; deterministic contents, shuffled across partitions.
    df = (
        spark.range(2000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 37).cast("double").alias("v"),
            (F.col("id") % 3).cast("int").alias("g"),
            ((F.col("id") * 7919) % 1000).cast("long").alias("w"),
        )
        .repartition(16)
    )
    return df.localCheckpoint()


def test_global_row_number_matches_naive(rows):
    got = with_global_row_number(rows, ["v", "k"], "v", out="rn")
    want = rows.withColumn(
        "rn", F.row_number().over(Window.orderBy("v", "k"))
    )
    assert (
        got.select("k", "rn").exceptAll(want.select("k", "rn")).count() == 0
    )
    assert got.count() == want.count()


def test_grouped_row_number_matches_naive(rows):
    got = with_global_row_number(
        rows, ["v", "k"], "v", out="rn", partition_by=["g"]
    )
    want = rows.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("v", "k"))
    )
    assert (
        got.select("k", "rn").exceptAll(want.select("k", "rn")).count() == 0
    )


def test_descending_row_number_matches_naive(rows):
    got = with_global_row_number(
        rows, [F.desc("v"), F.asc("k")], "v", out="rn", range_desc=True
    )
    want = rows.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("v"), F.asc("k")))
    )
    assert (
        got.select("k", "rn").exceptAll(want.select("k", "rn")).count() == 0
    )


def test_running_sum_and_excl_min_match_naive(rows):
    got = with_running_aggs(
        rows,
        ["v", "k"],
        "v",
        {
            "cw": ("w", "sum", True),
            "prior_min": ("w", "min", False),
            "prior_max": ("w", "max", False),
        },
    )
    w_in = Window.orderBy("v", "k").rowsBetween(Window.unboundedPreceding, 0)
    w_ex = Window.orderBy("v", "k").rowsBetween(Window.unboundedPreceding, -1)
    want = rows.select(
        "k",
        F.sum("w").over(w_in).alias("cw"),
        F.min("w").over(w_ex).alias("prior_min"),
        F.max("w").over(w_ex).alias("prior_max"),
    )
    got_sel = got.select("k", "cw", "prior_min", "prior_max")
    assert got_sel.exceptAll(want).count() == 0
    assert want.exceptAll(got_sel).count() == 0


@pytest.mark.parametrize("k", [3, 5, 10])
def test_ntile_expr_matches_builtin(spark, k):
    for n in (1, 2, k - 1, k, k + 1, 97, 100):
        df = spark.range(1, n + 1).select(F.col("id").alias("rn"))
        got = df.select(
            "rn", ntile_from_rank(F.col("rn"), F.lit(n), k).alias("t")
        )
        want = spark.range(n).select(
            (F.col("id") + 1).alias("rn"),
            F.ntile(k).over(Window.orderBy("id")).alias("t"),
        )
        assert got.exceptAll(want).count() == 0, f"ntile({k}) n={n}"


def test_percent_rank_and_cume_dist_exprs(spark):
    n = 137
    df = spark.range(1, n + 1).select(F.col("id").alias("rn"))
    got = df.select(
        "rn",
        F.round(percent_rank_from_rank(F.col("rn"), F.lit(n)), 9).alias("pr"),
        F.round(cume_dist_from_rank(F.col("rn"), F.lit(n)), 9).alias("cd"),
    )
    want = spark.range(n).select(
        (F.col("id") + 1).alias("rn"),
        F.round(F.percent_rank().over(Window.orderBy("id")), 9).alias("pr"),
        F.round(F.cume_dist().over(Window.orderBy("id")), 9).alias("cd"),
    )
    assert got.exceptAll(want).count() == 0


def test_device_plan_is_not_single_partition(rows):
    """The point of the device: the big window must be partitioned by
    the bucket column, never a no-partition global sort."""
    got = with_global_row_number(rows, ["v", "k"], "v", out="rn")
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    import re

    # every Window node must carry a partition spec (the tiny offset
    # window over the bucket census is partition-less but lives in the
    # OFFSET branch, which windows over <= num_buckets rows — accept it
    # only when its child is the census aggregate, i.e. it appears once)
    assert plan.count("Window") >= 1
    no_part = re.findall(r"partitionBy=\[\]", plan)
    assert len(no_part) <= 1, plan


# --- value-census order statistics ------------------------------------

#: (group, value, weight) rows. Group "ties": heavy tie blocks on both
#: sides of the bucket boundaries at 10 and 20 (width 10 below), so the
#: bucketed route carries the running sum across buckets mid-quantile;
#: "one": n = 1; "const": a constant column; "zero_w": zero weights
#: at the start and in the middle of the census.
_CENSUS_ROWS = (
    [("ties", 9, 1)] * 40
    + [("ties", 10, 1)] * 25
    + [("ties", 11, 1)] * 3
    + [("ties", 19, 1)] * 7
    + [("ties", 20, 1)] * 30
    + [("ties", 35, 1)]
    + [("one", 4, 1)]
    + [("const", 12, 1)] * 17
    + [("zero_w", 1, 0), ("zero_w", 3, 2), ("zero_w", 5, 0), ("zero_w", 5, 0)]
    + [("zero_w", 8, 5), ("zero_w", 14, 0), ("zero_w", 21, 1), ("zero_w", 21, 3)]
)

#: p = num/den, from the first percentile to the maximum
_PS = [(1, 100), (1, 10), (1, 4), (1, 3), (1, 2), (2, 3), (3, 4), (9, 10), (99, 100), (1, 1)]

_ROUTES = {"window": None, "bucketed": 10.0}


def _census(rows):
    """(g, v) -> summed weight: the census the device selects on."""
    out: dict = {}
    for g, v, w in rows:
        out[(g, v)] = out.get((g, v), 0) + w
    return [(g, v, c) for (g, v), c in sorted(out.items())]


def _naive(rows):
    """Per group: the values as a sorted list, each row repeated by its
    weight, and the expected kth/quantile columns."""
    xs: dict = {}
    for g, v, w in rows:
        xs.setdefault(g, []).extend([v] * w)
    want = {}
    for g, vals in xs.items():
        vals.sort()
        n = len(vals)
        row = {f"q{a}_{b}": vals[-(-a * n // b) - 1] for a, b in _PS}  # ⌈p·n⌉-th
        row["k1"], row["kmid"], row["kn"] = vals[0], vals[(n + 1) // 2 - 1], vals[n - 1]
        want[g] = row
    return want


def _selections_sql():
    from ocean_data_pipeline_spark.operators.ranks import kth_sql, quantile_sql

    cols = [f"{quantile_sql('v', a, b)} AS q{a}_{b}" for a, b in _PS]
    cols += [
        f"{kth_sql('v', '1')} AS k1",
        f"{kth_sql('v', '(n + 1) // 2')} AS kmid",
        f"{kth_sql('v', 'least(n, n + 5)')} AS kn",  # clamped to n
    ]
    return ", ".join(cols)


def _selections():
    from ocean_data_pipeline_spark.operators.ranks import kth, quantile

    cols = [quantile("v", a, b).alias(f"q{a}_{b}") for a, b in _PS]
    cols += [
        kth("v", F.lit(1)).alias("k1"),
        kth("v", F.expr("(n + 1) div 2")).alias("kmid"),
        kth("v", F.least(F.col("n"), F.col("n") + 5)).alias("kn"),
    ]
    return cols


@pytest.mark.parametrize("route", sorted(_ROUTES))
def test_census_selections_match_sorted_rows(spark, route):
    """`quantile` and `kth` over `cumulative` (either route) and their
    DuckDB twins equal the ⌈p·n⌉-th / k-th smallest row value."""
    import duckdb
    import pandas as pd

    from ocean_data_pipeline_spark.operators.ranks import cumulative, cumulative_sql

    census = _census(_CENSUS_ROWS)
    want = _naive(_CENSUS_ROWS)
    df = spark.createDataFrame(census, "g string, v long, c long")
    cum = cumulative(df, "v", "c", "g", bucket_width=_ROUTES[route])
    got = {r.g: r.asDict() for r in cum.groupBy("g").agg(*_selections()).collect()}

    con = duckdb.connect()
    con.register("census", pd.DataFrame(census, columns=["g", "v", "c"]))
    duck = con.execute(
        f"WITH cum AS ({cumulative_sql('census', 'v', 'c', 'g')}) "
        f"SELECT g, {_selections_sql()} FROM cum GROUP BY g"
    ).df()
    con.close()
    for g, row in want.items():
        assert {k: got[g][k] for k in row} == row, g
        d = duck[duck.g == g].iloc[0]
        assert {k: int(d[k]) for k in row} == row, g


@pytest.mark.parametrize("route", sorted(_ROUTES))
def test_census_running_sums_agree_across_engines(spark, route):
    """`cn` and `n` of both routes equal `cumulative_sql`'s, row by row."""
    import duckdb
    import pandas as pd

    from ocean_data_pipeline_spark.operators.ranks import cumulative, cumulative_sql

    census = _census(_CENSUS_ROWS)
    df = spark.createDataFrame(census, "g string, v long, c long")
    got = sorted(
        (r.g, r.v, r.cn, r.n)
        for r in cumulative(df, "v", "c", "g", bucket_width=_ROUTES[route]).collect()
    )
    con = duckdb.connect()
    con.register("census", pd.DataFrame(census, columns=["g", "v", "c"]))
    duck = con.execute(
        f"SELECT g, v, cn, n FROM ({cumulative_sql('census', 'v', 'c', 'g')})"
    ).fetchall()
    con.close()
    assert got == sorted((g, v, int(cn), int(n)) for g, v, cn, n in duck)


@pytest.mark.parametrize("route", sorted(_ROUTES))
def test_census_selections_on_an_empty_census_are_null(spark, route):
    """A global census with no rows: one result row of NULLs on both
    engines, as the aggregate of an empty group."""
    import duckdb
    import pandas as pd

    from ocean_data_pipeline_spark.operators.ranks import cumulative, cumulative_sql

    df = spark.createDataFrame([], "v long, c long")
    got = cumulative(df, "v", "c", bucket_width=_ROUTES[route]).agg(*_selections())
    assert [set(r.asDict().values()) for r in got.collect()] == [{None}]

    con = duckdb.connect()
    con.register("census", pd.DataFrame({"v": [], "c": []}, dtype="int64"))
    duck = con.execute(
        f"SELECT {_selections_sql()} FROM ({cumulative_sql('census', 'v', 'c')})"
    ).fetchall()
    con.close()
    assert [set(r) for r in duck] == [{None}]


def test_midrank2_matches_averaged_row_numbers(spark):
    """`midrank2` and its twin equal twice the average row_number of
    each tie block, over heavy ties and singletons."""
    import duckdb
    import pandas as pd

    from ocean_data_pipeline_spark.operators.ranks import midrank2, midrank2_sql

    values = sorted(v for _, v, w in _CENSUS_ROWS for _ in range(max(w, 1)))
    ranks: dict = {}
    for rn, v in enumerate(values, start=1):
        ranks.setdefault(v, []).append(rn)
    want = {v: 2 * sum(r) // len(r) for v, r in ranks.items()}
    assert all(2 * sum(r) % len(r) == 0 for r in ranks.values())

    census = [(v, len(r)) for v, r in sorted(ranks.items())]
    df = spark.createDataFrame(census, "v long, c long")
    got = {r.v: r.m for r in df.select("v", midrank2("v", "c").alias("m")).collect()}
    con = duckdb.connect()
    con.register("census", pd.DataFrame(census, columns=["v", "c"]))
    duck = dict(
        con.execute(f"SELECT v, {midrank2_sql('v', 'c')} FROM census").fetchall()
    )
    con.close()
    assert got == want
    assert {v: int(m) for v, m in duck.items()} == want


# --- the device's callers on degenerate tables ------------------------

#: the queries that select on the value census or its midranks, plus
#: the two exact-decile binnings of segmentation_ops
_TOUCHED = (
    "brown_forsythe_event_values",
    "conformal_interval_calibration",
    "corpus_datasheet",
    "equi_depth_histogram",
    "exact_percentile_cutpoints",
    "grouped_percentile_bands",
    "kruskal_wallis_event_values",
    "mannwhitney_u_event_values",
    "newsvendor_quantile",
    "psi_drift_price",
    "skew_salting_advisor",
    "spearman_rank_correlation",
    "weighted_median_price",
    "winsorized_trimmed_mean",
    "woe_iv_price_bins",
)


@pytest.fixture(scope="module", params=["empty", "single_row", "constant"])
def degenerate_sf_dir(request, spark, tmp_path_factory):
    from tests.conftest import write_degenerate_tables

    return write_degenerate_tables(
        spark,
        tmp_path_factory.mktemp(f"sf_{request.param}"),
        request.param,
        tables=("orders", "lineitem", "events", "documents"),
    )


@pytest.mark.parametrize("name", _TOUCHED)
def test_callers_match_their_oracle_on_degenerate_tables(spark, degenerate_sf_dir, name):
    """Empty, one-row and constant tables (built as in
    tests/test_empty_tables.py): each query equals its oracle."""
    import os

    import duckdb

    from ocean_data_pipeline_spark.queries import load_all
    from tools.verify_local import compare

    rq = load_all()[name]
    got = rq.fn(spark, degenerate_sf_dir).toPandas()
    con = duckdb.connect()
    for t in os.listdir(degenerate_sf_dir):
        view = t[: -len(".parquet")]
        con.execute(
            f"CREATE VIEW {view} AS SELECT * FROM "
            f"read_parquet('{degenerate_sf_dir}/{t}/*.parquet')"
        )
    want = con.execute(rq.oracle).df()
    con.close()
    problems = compare(name, got, want)
    assert not problems, f"{name}: " + " | ".join(problems)
