"""Invariant tests for the wave-11 families (record linkage,
calibration/encoding, portable HLL, exact shape moments, weighted
quantiles, Yule-Walker, mutual information, point-in-polygon).
Two-scale oracle parity pins exact values; these pin the semantic
contracts parity alone wouldn't explain if broken — monotonicity of
the isotonic fit, PAVA equivalence to sequential pooling, Jaro-Winkler
metric axioms, banding completeness margins, HLL error envelopes,
reference equality against independent numpy/pure-Python recomputes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.catalog import table
from ocean_data_pipeline_spark.queries import load_all
from tests.conftest import SF_ORACLE, SF_SMOKE

REGISTRY = load_all()


# --- calibration ------------------------------------------------------


def _pava_sequential(ns, rs):
    """Textbook pool-adjacent-violators over (count, positives) bins;
    returns the fitted rate per original bin."""
    stack = []  # merged blocks as [n, sum_y, n_bins]
    for n, r in zip(ns, rs):
        stack.append([n, r, 1])
        while len(stack) > 1 and (
            stack[-2][1] / stack[-2][0] > stack[-1][1] / stack[-1][0]
        ):
            n2, r2, b2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += r2
            stack[-1][2] += b2
    expanded = []
    for n_blk, r_blk, b_blk in stack:
        expanded.extend([r_blk / n_blk] * b_blk)
    return expanded


def test_isotonic_monotone_and_equals_sequential_pava(spark):
    rows = REGISTRY["isotonic_calibration_pava"].fn(spark, SF_ORACLE).collect()
    iso = [r.iso_rate for r in rows]
    assert iso == sorted(iso), "isotonic fit must be nondecreasing"
    ns = [r.n for r in rows]
    rs = [round(r.raw_rate * r.n) for r in rows]
    ref = _pava_sequential(ns, rs)
    assert np.allclose(iso, ref, rtol=0, atol=1e-12), (iso, ref)
    # weighted means agree (PAVA preserves the total)
    assert abs(
        sum(i * n for i, n in zip(iso, ns)) - sum(rs)
    ) < 1e-6


def test_target_encoding_identities(spark):
    rows = REGISTRY["target_encoding_loo"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.loo_min <= r.te_mean <= r.loo_max, r
        assert r.n > 1


def test_reliability_bins_ranges(spark):
    rows = REGISTRY["calibration_reliability_bins"].fn(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.p_train <= 1.0 and 0.0 <= r.y_test <= 1.0
        assert abs(r.sq_gap - (r.p_train - r.y_test) ** 2) < 1e-15
        assert r.n_train > 0 and r.n_test > 0


# --- record linkage ---------------------------------------------------


def test_jaro_winkler_metric_axioms():
    from ocean_data_pipeline_spark.queries.linkage_ops import _jaro_winkler

    samples = ["small ring", "red widget", "blue bolt", "smal ring", "x", ""]
    for a in samples:
        for b in samples:
            v = _jaro_winkler(a, b)
            assert 0.0 <= v <= 1.0
            assert v == _jaro_winkler(b, a), (a, b)
        assert _jaro_winkler(a, a) == 1.0  # identity (incl. "" == "")


def test_jaro_winkler_pairs_blocked(spark):
    rows = REGISTRY["jaro_winkler_toppairs"].fn(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.name_a < r.name_b
        assert r.name_a[0] == r.name_b[0], "pairs must respect the block"
        assert 0.5 <= r.jw <= 1.0


def test_phonetic_blocks_account_for_all_parts(spark):
    rows = REGISTRY["phonetic_block_census"].fn(spark, SF_ORACLE).collect()
    total = table(spark, SF_ORACLE, "part").count()
    assert sum(r.n_parts for r in rows) == total
    for r in rows:
        assert r.candidate_pairs == r.n_names * (r.n_names - 1) // 2
        assert 1 <= len(r.blk) <= 4


def test_simhash_pairs_distance_rows(spark):
    rows = REGISTRY["simhash_hamming_pairs"].fn(spark, SF_ORACLE).collect()
    by_dist = {r.dist: r for r in rows}
    assert 0 in by_dist  # the within-signature row always exists
    for r in rows:
        assert 0 <= r.dist <= 3
        assert r.n_doc_pairs >= r.n_sig_pairs >= 0


# --- portable HLL -----------------------------------------------------


def test_hll_error_envelope(spark):
    rows = REGISTRY["hll_portable_distinct"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        assert 1 <= r.v_nonzero <= 64
        # m=64 => relative std error ~1.04/8 = 13%; gate at 4 sigma
        rel = abs(r.hll_estimate - r.exact_distinct) / r.exact_distinct
        assert rel < 0.52, (r.priority, rel)


# --- exact moments ----------------------------------------------------


def test_skew_kurtosis_matches_numpy(spark):
    rows = REGISTRY["skew_kurtosis_exact"].fn(spark, SF_SMOKE).collect()
    li = (
        table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    for r in rows:
        x = li.loc[li.l_returnflag == r.l_returnflag, "l_extendedprice"].to_numpy()
        mu = x.mean()
        m2 = ((x - mu) ** 2).mean()
        m3 = ((x - mu) ** 3).mean()
        m4 = ((x - mu) ** 4).mean()
        assert abs(r.skewness - m3 / m2**1.5) < 1e-6
        assert abs(r.excess_kurtosis - (m4 / m2**2 - 3)) < 1e-6
        assert abs(r.mean_price - mu) < 1e-6


def test_weighted_median_matches_numpy(spark):
    rows = REGISTRY["weighted_median_price"].fn(spark, SF_SMOKE).collect()
    li = (
        table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    for r in rows:
        sub = li[li.l_returnflag == r.l_returnflag]
        reps = np.repeat(
            np.round(sub.l_extendedprice.to_numpy() * 100).astype(np.int64),
            np.round(sub.l_quantity.to_numpy()).astype(np.int64),
        )
        reps.sort()
        tw = len(reps)
        assert r.total_weight == tw
        # smallest level with cum >= q of total == order statistic
        for q, got in ((0.25, r.wq25), (0.5, r.wmedian), (0.75, r.wq75)):
            k = int(np.ceil(q * tw)) - 1
            assert abs(got - reps[k] / 100.0) < 1e-9, (q, got, reps[k])


# --- Yule-Walker ------------------------------------------------------


def test_yule_walker_equations_hold(spark):
    r = REGISTRY["yule_walker_ar2_forecast"].fn(spark, SF_ORACLE).collect()[0]
    # the normal equations: r1 = phi1 + phi2*r1 ; r2 = phi1*r1 + phi2
    assert abs(r.phi1 + r.phi2 * r.r1 - r.r1) < 1e-12
    assert abs(r.phi1 * r.r1 + r.phi2 - r.r2) < 1e-12
    assert -1.0 < r.r1 < 1.0 and -1.0 < r.r2 < 1.0


# --- mutual information -----------------------------------------------


def test_mutual_information_identity_and_bounds(spark):
    r = REGISTRY["mutual_information_census"].fn(spark, SF_ORACLE).collect()[0]
    assert r.mi_nats >= -1e-9
    # MI = Hx + Hy - Hxy (each side rounded at 6 dp -> 3e-6 slack)
    assert abs(r.mi_nats - (r.h_type + r.h_block - r.h_joint)) < 3e-6
    assert r.h_block <= np.log(4) + 1e-9  # 4 six-hour blocks
    assert r.mi_nats <= min(r.h_type, r.h_block) + 1e-9


# --- point-in-polygon -------------------------------------------------


def _ray_cast_py(lat, lon, poly):
    inside = False
    n = len(poly)
    for i in range(n):
        yi, xi = poly[i]
        yj, xj = poly[(i + 1) % n]
        if (yi > lat) != (yj > lat) and lon < (xj - xi) * (lat - yi) / (
            yj - yi
        ) + xi:
            inside = not inside
    return inside


def test_point_in_polygon_matches_pure_python(spark):
    from ocean_data_pipeline_spark.queries.grid_queries import _POLY

    rows = REGISTRY["point_in_polygon_census"].fn(spark, SF_SMOKE).collect()
    cust = (
        table(spark, SF_SMOKE, "customer")
        .join(
            table(spark, SF_SMOKE, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "c_custkey")
        .toPandas()
    )
    cust["lat"] = 5.0 + (cust.c_custkey % 600) * 0.1
    cust["lon"] = -90.0 + (cust.c_custkey % 300) * 0.1
    cust["inside"] = [
        _ray_cast_py(la, lo, _POLY) for la, lo in zip(cust.lat, cust.lon)
    ]
    ref = cust.groupby("n_name")["inside"].agg(["count", "sum"])
    for r in rows:
        assert r.n_customers == int(ref.loc[r.n_name, "count"])
        assert r.n_inside == int(ref.loc[r.n_name, "sum"])
        assert 0.0 <= r.inside_share <= 1.0
    assert sum(r.n_inside for r in rows) > 0, "polygon must contain points"


# --- robust stats / sampling design -----------------------------------


def test_trimmed_winsorized_match_numpy(spark):
    rows = REGISTRY["winsorized_trimmed_mean"].fn(spark, SF_SMOKE).collect()
    li = (
        table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    for r in rows:
        x = np.sort(
            np.round(
                li.loc[li.l_returnflag == r.l_returnflag, "l_extendedprice"]
                .to_numpy()
                * 100
            ).astype(np.int64)
        )
        n = len(x)
        k = n // 20
        assert r.n == n and r.k_trim == k
        trimmed = x[k : n - k]
        assert abs(r.trimmed_mean - trimmed.mean() / 100.0) < 1e-9
        wins = x.copy()
        wins[:k] = x[k]
        wins[n - k :] = x[n - k - 1]
        assert abs(r.winsorized_mean - wins.mean() / 100.0) < 1e-9


def test_conformal_coverage_guarantee(spark):
    """The defining property: >= 90% of calibration residuals fall
    within the radius (finite-sample, distribution-free)."""
    from ocean_data_pipeline_spark.operators.portable import uniform

    u = uniform(F.concat(F.lit("conf_"), F.col("o_orderkey").cast("string")))
    rows = REGISTRY["conformal_interval_calibration"].fn(spark, SF_ORACLE).collect()
    orders = table(spark, SF_ORACLE, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        F.when(u < 0.5, 1).otherwise(0).alias("is_train"),
    )
    cal = orders.filter(F.col("is_train") == 0).toPandas()
    for r in rows:
        sub = cal[cal.priority == r.priority]
        resid = (sub.yc - round(r.prediction * 100)).abs()
        cover = (resid <= round(r.q90_radius * 100)).mean()
        assert cover >= 0.9, (r.priority, cover)
        assert r.n_cal == len(sub)


def test_neyman_allocation_budget_and_proportionality(spark):
    rows = REGISTRY["neyman_allocation"].fn(spark, SF_ORACLE).collect()
    assert sum(r.alloc_n for r in rows) == 1000
    tot = sum(r.stratum_size * r.sigma for r in rows)
    for r in rows:
        ideal = 1000 * r.stratum_size * r.sigma / tot
        assert abs(r.alloc_n - ideal) <= 1.0, (r.segment, r.alloc_n, ideal)


def test_spearman_matches_pandas(spark):
    r = REGISTRY["spearman_rank_correlation"].fn(spark, SF_SMOKE).collect()[0]
    li = (
        table(spark, SF_SMOKE, "lineitem")
        .select("l_quantity", "l_discount")
        .toPandas()
    )
    def midranks(v):
        order = np.argsort(v, kind="mergesort")
        ranks = np.empty(len(v))
        sv = v[order]
        i = 0
        while i < len(sv):
            j = i
            while j + 1 < len(sv) and sv[j + 1] == sv[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2 + 1
            i = j + 1
        return ranks

    rx = midranks(li.l_quantity.to_numpy())
    ry = midranks(li.l_discount.to_numpy())
    ref = np.corrcoef(rx, ry)[0, 1]
    assert abs(r.rho_spearman - ref) < 1e-12
    assert -1.0 <= r.rho_spearman <= 1.0


def test_theil_decomposition_reconstructs_total(spark):
    rows = REGISTRY["theil_index_decomposition"].fn(spark, SF_SMOKE).collect()
    spend = (
        table(spark, SF_SMOKE, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
        .toPandas()
    )
    x = spend.x.to_numpy()
    mu = x.mean()
    t_total = float(np.mean((x / mu) * np.log(x / mu)))
    recon = sum(
        r.spend_share * r.theil_within + r.between_term for r in rows
    )
    # each of 25 nations contributes two round-6 terms -> 5e-5 slack
    assert abs(recon - t_total) < 5e-5, (recon, t_total)
    assert all(r.theil_within >= -1e-9 for r in rows)
