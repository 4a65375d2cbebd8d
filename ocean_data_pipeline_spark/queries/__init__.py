"""Query registry: every implemented operator from SURVEY.md §2 lands
here as a named (spark_fn, oracle_sql) pair — the driver contract.

`spark_fn(spark, sf_dir) -> DataFrame` is the engine-side DataFrame
pipeline; `oracle` is the ANSI-SQL twin DuckDB runs over the same
parquet tables. Column names are aliased identically on both sides
(the driver's compare hashes values after sorting columns by name).
Oracle=None marks non-SQL-expressible ops (streaming, LSH, connector
behavior) — the driver records a rows-only check for those.

`load_all()` returns the registry in driver order, by one rule: the
names in `_FRONT` (code changed since the last driver check) come first,
rows-only queries come last, and everything else keeps registration
order. The driver hash-checks only the first 50 entries, so the
changed queries get checked and no rows-only query takes one of them.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query to the registry under `name`."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = RegisteredQuery(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


# Queries whose code changed since their last driver check; they lead the
# driver order (module docstring). Empty it once the driver has checked them.
_FRONT: tuple[str, ...] = (
    "dtw_nation_profiles",
    "sql_recursive_capped_balance",
    "sql_recursive_holt_smoothing",
    "poisson_glm_irls",
    "logistic_glm_irls",
    "propensity_stratified_ate",
    "quantile_regression_lad",
    "huber_regression_irls",
    "bfs_reachability",
    "copurchase_triangle_census",
    "part_degree_distribution",
    "pagerank_copurchase_top20",
    "kcore_copurchase",
    "bellman_ford_distances",
    "degree_assortativity",
    "clustering_coefficient_census",
    "link_prediction_scores",
    "link_prediction_capped",
    "acf_monthly_revenue",
    "mann_kendall_trend",
    "seasonal_indices_monthly",
    "yule_walker_ar2_forecast",
    "rolling_ols_trend",
    "pacf_durbin_levinson",
    "ljung_box_monthly",
    "seasonal_mann_kendall",
    "adf_unit_root_lite",
    "newey_west_se",
    "fisher_exact_monthly",
    "sax_monthly_revenue",
    "page_hinkley_revenue",
    "imr_control_chart",
    "theta_method_forecast",
    "haar_energy_monthly",
    "binseg_changepoint_monthly",
    "trend_seasonal_strength",
    "conformal_interval_calibration",
    "cv_fold_stability",
    "diff_in_diff_estimator",
    "logrank_test",
    "calibration_reliability_bins",
    "train_test_split_deterministic",
    "stratified_sample_events",
    "split_leakage_audit",
    "training_example_pipeline",
    "epoch_shuffle_balance",
    "contamination_ngram_census",
    "sql_funnel_conversion",
    "lineitem_corr_stats",
    "embedding_isotropy_audit",
)


def load_all() -> dict[str, RegisteredQuery]:
    """Import every query module; return the registry in driver order.

    Driver order is one rule: `_FRONT` names first (in `_FRONT` order),
    rows-only (oracle=None) queries last, everything else in
    registration order.
    """
    from ocean_data_pipeline_spark.queries import (  # noqa: F401
        aggregates,
        approx,
        audits,
        bpe_ops,
        cache_queries,
        calibration_ops,
        connector_ops,
        dedup_pipeline,
        dtw_ops,
        embedding_decomp,
        eval_ops,
        event_analytics,
        flagship,
        fuzzy_ops,
        governance_ops,
        graph_ops,
        grid_queries,
        incremental,
        interval_ops,
        joins,
        layout_ops,
        linkage_ops,
        llm_ops,
        media_ops,
        moment_ops,
        pandas_udf_ops,
        pii_ops,
        quality_ops,
        recursive_sql,
        reshape,
        robust_ops,
        retrieval_ops,
        segmentation_ops,
        sketch_ops,
        set_ops,
        timeseries_ops,
        sql_surface,
        stream_twins,
        streaming_e2e,
        tpch_more,
        tpch_shapes2,
        tpch_shapes3,
        training_ops,
        variant_ops,
        wave25_ops,
        wave26_ops,
        wave27_ops,
        wave28_ops,
        wave29_ops,
        wave30_ops,
        wave31_ops,
        wave32_ops,
        wave33_ops,
        wave34_ops,
        windows,
    )

    # Guard against silent drift: a renamed or deleted query left in
    # _FRONT would otherwise be ignored.
    unknown = set(_FRONT) - REGISTRY.keys()
    if unknown:
        raise AssertionError(
            f"_FRONT names unregistered queries: {sorted(unknown)}"
        )
    # One stable sort: _FRONT names in _FRONT order, then every oracle-backed
    # query, then the rows-only ones; ties keep registration order.
    rank = {n: i for i, n in enumerate(_FRONT)}
    back = len(_FRONT)

    def key(name: str) -> int:
        return rank.get(name, back + (REGISTRY[name].oracle is None))

    return {n: REGISTRY[n] for n in sorted(REGISTRY, key=key)}
