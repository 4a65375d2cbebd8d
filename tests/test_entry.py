"""Driver-contract smoke tests: entry(), queries(), oracle_sql()."""

from __future__ import annotations

import importlib

import pytest


def _entry_module():
    return importlib.import_module("__spark_entry__")


def test_entry_returns_rows(spark):
    mod = _entry_module()
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_queries_and_oracles_aligned(spark):
    mod = _entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "registry must not be empty"
    unknown = set(oracles) - set(qs)
    assert not unknown, f"oracle_sql keys missing from queries(): {unknown}"


@pytest.mark.slow
def test_every_query_runs_at_smoke_scale(spark):
    mod = _entry_module()
    for name, fn in mod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name


def test_tune_for_oracle_warns_once_per_unapplied_key(monkeypatch):
    import warnings
    from types import SimpleNamespace

    from ocean_data_pipeline_spark import session

    refused = "spark.sql.session.timeZone"
    applied: dict[str, str] = {}

    def conf_set(k, v):
        if k == refused:
            raise RuntimeError("immutable here")
        applied[k] = v

    fake = SimpleNamespace(conf=SimpleNamespace(set=conf_set))
    monkeypatch.setattr(session, "_UNAPPLIED", set())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert session.tune_for_oracle(fake) is fake
        session.tune_for_oracle(fake)
    msgs = [str(w.message) for w in caught]
    assert len(msgs) == 1, msgs
    assert refused in msgs[0] and "immutable here" in msgs[0]
    assert applied == {k: v for k, v in session._RUNTIME_CONF.items() if k != refused}
