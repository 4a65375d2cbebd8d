"""The first-purchase life table of `operators/events.py` and the four
survival estimators on it (Kaplan-Meier, Nelson-Aalen, RMST, log-rank)
against their DuckDB oracles on hand-built events tables.

Two tables, because censoring at the horizon and an exhausted risk set
exclude each other: a user censored at 48 h is at risk at every event
time, so no event time can convert everyone still at risk.

- `horizon`: users who buy at hour 0, at 47 h 59 m, at 47 h 59 m 59.999999 s
  and at exactly 48 h (censored), and users who never buy;
- `exhausted`: every user buys, and at the last event time every user
  still at risk converts (KM's zeroed branch, RMST's ``s_after = 0``).
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocean_data_pipeline_spark.operators.events import HORIZON_H
from ocean_data_pipeline_spark.queries import load_all
from tools.verify_local import compare

T0 = dt.datetime(2024, 1, 1, 6, 0, 0, 250_000)
H = dt.timedelta(hours=1)

SURVIVAL_QUERIES = (
    "kaplan_meier_user_lifetime",
    "nelson_aalen_hazard",
    "rmst_survival",
    "logrank_test",
)

#: user -> [(offset from the user's first event, event_type)]; the
#: first entry is the user's first event.
TABLES = {
    "horizon": {
        1: [(H * 0, "purchase"), (H * 3, "view")],  # buys at hour 0
        2: [(H * 0, "view"), (H * 0.5, "purchase")],  # buys in hour 0
        3: [(H * 0, "view"), (H * 47 + dt.timedelta(minutes=59), "purchase")],
        4: [(H * 0, "view"), (H * 48 - dt.timedelta(microseconds=1), "purchase")],
        5: [(H * 0, "view"), (H * HORIZON_H, "purchase")],  # censored
        6: [(H * 0, "view"), (H * 60, "purchase")],  # censored
        7: [(H * 0, "view"), (H * 2, "click")],  # never buys
        8: [(H * 0, "click")],  # never buys
        9: [(H * 0, "view"), (H * 5, "purchase"), (H * 6, "purchase")],
        10: [(H * 0, "view"), (H * 5 + H / 4, "purchase")],
    },
    "exhausted": {
        1: [(H * 0, "purchase")],
        2: [(H * 0, "view"), (H * 2, "purchase")],
        3: [(H * 0, "view"), (H * 2 + H / 2, "purchase")],
        4: [(H * 0, "view"), (H * 7, "purchase")],
        5: [(H * 0, "click"), (H * 7 + H / 3, "purchase")],
        6: [(H * 0, "view"), (H * 7 + H / 2, "purchase")],
    },
}


@pytest.fixture(scope="module", params=sorted(TABLES))
def life_events(request, tmp_path_factory):
    """(table name, sf dir) of one of `TABLES`."""
    rows = [
        (user, T0 + dt.timedelta(minutes=user) + off, kind)
        for user, events in TABLES[request.param].items()
        for off, kind in events
    ]
    table = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_type": pa.array([r[2] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
    })
    path = tmp_path_factory.mktemp(request.param)
    pq.write_table(table, path / "events.parquet")
    return request.param, str(path)


@pytest.mark.parametrize("name", SURVIVAL_QUERIES)
def test_survival_queries_match_their_oracle(spark, life_events, name):
    _, sf_dir = life_events
    rq = load_all()[name]
    got = rq.fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    want = con.execute(rq.oracle).df()
    problems = compare(name, got, want)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_life_table_edges(spark, life_events):
    """The horizon table's curve: hours 0, 5 and 47 carry the events;
    the 48 h and 60 h buyers and the two non-buyers are censored at the
    horizon. The exhausted table's curve and its RMST survival end at 0
    where the last three convert."""
    table, sf_dir = life_events
    queries = load_all()
    rows = queries["kaplan_meier_user_lifetime"].fn(spark, sf_dir).collect()
    curve = [(r.dur_h, r.n_risk, r.n_events, r.n_censored, r.survival) for r in rows]
    if table == "horizon":
        assert [c[:4] for c in curve] == [(0, 10, 2, 0), (5, 8, 2, 0), (47, 6, 2, 0)]
        assert curve[-1][4] == round(0.8 * 0.75 * (4 / 6), 6)
    else:
        assert [c[:4] for c in curve] == [(0, 6, 1, 0), (2, 5, 2, 0), (7, 3, 3, 0)]
        assert curve[-1][4] == 0.0
        rmst = queries["rmst_survival"].fn(spark, sf_dir).collect()
        assert rmst[-1].survival_after == 0.0
