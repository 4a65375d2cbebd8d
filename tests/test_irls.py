"""Unit tests for the unrolled-IRLS device (operators/irls.py) on small
in-memory frames: agreement with a numpy IRLS reference, the det == 0
guard, the zero-round identity, the engine/oracle lockstep, and the
empty-input answer.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.operators.irls import irls_fit, irls_sql, null_fit
from tests.conftest import job_ids


def _poisson_step(b0, b1):
    eta = b0 + b1 * F.col("x")
    mu = F.exp(eta)
    return mu, eta + (F.col("y") - mu) / mu


def _lad_step(b0, b1):
    return 1.0 / F.greatest(F.abs(F.col("y") - b0 - b1 * F.col("x")), F.lit(1.0)), F.col("y")


def _numpy_irls(x, y, b0, rounds, step):
    """Reference: the same rounds in float64, each sum term rounded to 9
    decimals as the device's DECIMAL(38,9) hop does."""
    b1 = 0.0
    for _ in range(rounds):
        w, z = step(b0, b1)
        sw, swx, swxx, swz, swxz = (
            np.round(t, 9).sum() for t in (w, w * x, w * x * x, w * z, w * x * z)
        )
        det = sw * swxx - swx * swx
        b0, b1 = (swxx * swz - swx * swxz) / det, (sw * swxz - swx * swz) / det
    return b0, b1


def _frame(spark, x, y):
    return spark.createDataFrame(
        pd.DataFrame({"x": x.astype(float), "y": y.astype(float)})
    )


def test_poisson_rounds_match_numpy(spark):
    rng = np.random.default_rng(7)
    x = np.round(rng.uniform(-1.0, 1.0, 200), 4)
    y = rng.poisson(np.exp(1.0 + 0.5 * x)).astype(float)
    b0 = float(np.log(y.mean()))

    def ref_step(b0, b1):
        eta = b0 + b1 * x
        mu = np.exp(eta)
        return mu, eta + (y - mu) / mu

    got = irls_fit(_frame(spark, x, y), b0, 3, _poisson_step)
    want = _numpy_irls(x, y, b0, 3, ref_step)
    assert abs(got[0] - want[0]) < 1e-9 and abs(got[1] - want[1]) < 1e-9, (got, want)
    assert abs(got[1] - 0.5) < 0.3  # the fit found the generating slope


def test_lad_rounds_match_numpy(spark):
    rng = np.random.default_rng(11)
    x = np.round(rng.uniform(0.0, 10.0, 200), 2)
    y = np.round(2.0 + 3.0 * x + rng.laplace(0.0, 2.0, 200), 2)
    y[:5] += 500.0  # outliers the L1 weights discount
    b0 = float(y.mean())

    def ref_step(b0, b1):
        return 1.0 / np.maximum(np.abs(y - b0 - b1 * x), 1.0), y

    got = irls_fit(_frame(spark, x, y), b0, 3, _lad_step)
    want = _numpy_irls(x, y, b0, 3, ref_step)
    assert abs(got[0] - want[0]) < 1e-9 and abs(got[1] - want[1]) < 1e-9, (got, want)


def test_constant_x_keeps_seed_without_ansi_error(spark):
    """det == 0 for a constant regressor: the guarded solve yields NULL
    and the fit stops at the seed instead of dividing by zero."""
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        base = _frame(spark, np.ones(20), np.arange(20.0))
        assert irls_fit(base, 0.5, 3, _lad_step) == (0.5, 0.0)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_zero_rounds_return_seed_without_a_job(spark):
    base = _frame(spark, np.arange(5.0), np.arange(5.0))
    with job_ids(spark) as jobs:
        assert irls_fit(base, 1.25, 0, _lad_step) == (1.25, 0.0)
    assert jobs == []


def test_engine_and_oracle_rounds_agree_exactly(spark):
    """`irls_fit` and the `irls_sql` chain on DuckDB produce bit-equal
    coefficients from the same rows and seed."""
    rng = np.random.default_rng(3)
    x = np.round(rng.uniform(0.0, 50.0, 300), 2)
    y = np.round(900.0 * x + rng.normal(0.0, 2000.0, 300), 2)
    b0 = float(np.round(y, 6).sum() / len(y))
    got = irls_fit(_frame(spark, x, y), b0, 3, _lad_step)

    rounds, last = irls_sql(
        3, w="1.0 / greatest(abs(y - p.b0 - p.b1 * x), 1.0)", z="y"
    )
    con = duckdb.connect()
    try:
        con.register("base", pd.DataFrame({"x": x, "y": y}))
        want = con.execute(
            f"WITH b0r AS (SELECT CAST({b0!r} AS DOUBLE) AS b0, "
            f"CAST(0.0 AS DOUBLE) AS b1){rounds}\nSELECT b0, b1 FROM {last}"
        ).fetchone()
    finally:
        con.close()
    assert got == tuple(want), (got, want)


def test_null_fit_is_one_row_of_nulls(spark):
    base = _frame(spark, np.arange(3.0), np.arange(3.0)).limit(0)
    rows = null_fit(base, "n_rows", ("intercept", "slope")).collect()
    assert [tuple(r) for r in rows] == [(0, None, None)]
