"""Registry driver-order contract: the driver hash-checks only the
first 50 entries of ``queries()``, so the order decides what it checks.
These tests make a wrong order a CI failure (VERDICT r03 item 4).

The rule, one stable sort in ``load_all``:
  * names in ``_FRONT`` (code changed since their last driver check)
    come first, in ``_FRONT`` order, and every one is registered;
  * rows-only (``oracle=None``) queries come last, so none takes a
    hash-checked slot;
  * everything else keeps registration order.
"""

from __future__ import annotations

import os

import pytest

from ocean_data_pipeline_spark.queries import _FRONT, REGISTRY, load_all
from tests.conftest import SF_SMOKE

DRIVER_WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_front_names_are_registered(registry):
    unknown = set(_FRONT) - registry.keys()
    assert not unknown, f"_FRONT names unregistered queries: {sorted(unknown)}"
    assert len(set(_FRONT)) == len(_FRONT), "duplicate _FRONT names"


def test_unverified_queries_occupy_front_window(registry):
    """Every `_FRONT` name (changed since its last driver check) rides
    in the driver's hash-checked window."""
    window = list(registry)[:DRIVER_WINDOW]
    missed = [n for n in _FRONT if n not in window]
    assert not missed, (
        f"_FRONT names pushed outside the driver's front-{DRIVER_WINDOW} "
        f"window: {missed}"
    )


def test_front_window_prefers_unverified(registry):
    """The window leads with `_FRONT` in order and holds no rows-only
    query (the driver can only row-count those)."""
    names = list(registry)
    assert names[: len(_FRONT)] == list(_FRONT)
    rows_only = [
        n for n in names[:DRIVER_WINDOW] if registry[n].oracle is None
    ]
    assert not rows_only, f"rows-only queries in the driver window: {rows_only}"


def test_driver_order_is_one_stable_sort(registry):
    """Past `_FRONT`: oracle-backed queries in registration order, then
    rows-only queries in registration order — nothing else moves."""
    rest = [n for n in REGISTRY if n not in _FRONT]
    expected = (
        list(_FRONT)
        + [n for n in rest if REGISTRY[n].oracle is not None]
        + [n for n in rest if REGISTRY[n].oracle is None]
    )
    assert list(registry) == expected
    assert sorted(registry) == sorted(REGISTRY)


def test_load_all_rejects_unknown_rotation_names(monkeypatch):
    import ocean_data_pipeline_spark.queries as q

    monkeypatch.setattr(q, "_FRONT", ("no_such_query_xyz",))
    with pytest.raises(AssertionError, match="no_such_query_xyz"):
        q.load_all()


def test_plan_snapshots_name_registered_queries(registry):
    """Every top-level ``plans/*.txt`` snapshot belongs to a registered
    query; a retired or renamed query must take its snapshot with it."""
    plans = os.path.join(REPO, "plans")
    orphans = sorted(
        f
        for f in os.listdir(plans)
        if f.endswith(".txt") and f[: -len(".txt")] not in registry
    )
    assert not orphans, f"plan snapshots without a registered query: {orphans}"


def test_every_snapshot_able_query_has_a_snapshot(registry):
    """Every registered query outside `tools/plan_snapshot.SKIP` has its
    ``plans/<name>.txt``, so its plan is reviewed in the diff."""
    from tools.plan_snapshot import SKIP

    plans = os.path.join(REPO, "plans")
    missing = sorted(
        n
        for n in registry
        if n not in SKIP and not os.path.exists(os.path.join(plans, f"{n}.txt"))
    )
    assert not missing, f"registered queries without a plan snapshot: {missing}"


def test_registry_names_unique_and_callable(registry):
    assert len(registry) == len(set(registry))
    for name, rq in registry.items():
        assert callable(rq.fn), name
        assert rq.oracle is None or isinstance(rq.oracle, str), name


def test_rows_only_queries_are_the_documented_exceptions(registry):
    rows_only = sorted(n for n, rq in registry.items() if rq.oracle is None)
    # Each rows-only query must be one of the documented by-necessity
    # exceptions (quality-gated in tests). Growing this list is a
    # deliberate act, not an accident.
    allowed = {
        "sim_topk_lsh",            # BRP-LSH: hash buckets engine-specific
        "minhash_lsh_near_dup",    # LSH banding recall-gated
        "approx_distinct_counts",  # HLL sketch values engine-specific
        "approx_quartiles",        # KLL sketch values engine-specific
        "stream_file_session_cache",  # streaming e2e: foreachBatch side effects
    }
    unexpected = [n for n in rows_only if n not in allowed]
    assert not unexpected, (
        f"queries registered without an oracle but not documented: {unexpected}"
    )


@pytest.mark.slow
def test_oracle_backed_queries_return_flat_columns(registry, spark):
    """Harness-compat gate (VERDICT r06 item 3): the driver canonicalizes
    results through pandas ``sort_values``, which cannot factorize ndarray
    / dict cells — a top-level array/map/struct column in an oracle-backed
    query errors forever on the driver even when values are right (the
    ``nation_top_balances_array`` lesson). Nested payloads must be
    serialized to deterministic text (concat_ws / to_json ↔ string_agg /
    json) before return. Schema inspection is MOSTLY lazy, but rank-
    device queries run eager approxQuantile / localCheckpoint jobs
    inside fn(), so this test does execute real (smoke-scale) Spark
    jobs for those; construction failures are logged, not swallowed —
    outright correctness belongs to the parity suite."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    skipped: list[str] = []
    for name, rq in registry.items():
        if rq.oracle is None:
            continue
        try:
            schema = rq.fn(spark, SF_SMOKE).schema
        except Exception as e:  # noqa: BLE001 — log, don't hide
            skipped.append(f"{name}: {type(e).__name__}: {e}")
            continue  # execution-path issues belong to the parity suite
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    if skipped:
        print(
            "test_oracle_backed_queries_return_flat_columns skipped "
            f"{len(skipped)} queries whose construction raised: {skipped}"
        )
    assert not offenders, (
        "oracle-backed queries return top-level array/map/struct columns "
        f"(driver canonicalizer cannot hash these): {offenders}"
    )
    # Construction failures here are almost always real breakage (every
    # registered query must build against the smoke tables); cap the
    # tolerated count so a broad regression cannot hide in the skip path.
    assert len(skipped) <= 2, (
        f"too many queries failed to construct at smoke scale: {skipped}"
    )


def test_bench_headline_names_registered():
    """A typo'd HEADLINE entry silently drops out of the bench (the
    list is filtered against the registry) — fail loudly instead."""
    import bench

    reg = load_all()
    missing = [n for n in bench.HEADLINE + bench.SPREAD_ONLY if n not in reg]
    assert not missing, f"bench HEADLINE names not registered: {missing}"
    all_names = bench.HEADLINE + bench.SPREAD_ONLY
    assert len(set(all_names)) == len(all_names), "duplicate bench names"


def test_audit_names_registered():
    from tools.explain_audit import AUDIT

    reg = load_all()
    missing = [n for n in AUDIT if n not in reg]
    assert not missing, f"plan-audit names not registered: {missing}"
