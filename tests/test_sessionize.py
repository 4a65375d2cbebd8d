"""The gap sessions of `operators/events.py`: a gap strictly longer than
30 minutes, compared at microsecond precision, splits a session, and
every session query agrees with its DuckDB oracle at that edge."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocean_data_pipeline_spark.queries import load_all
from ocean_data_pipeline_spark.queries.windows import _SESSION_ORACLE, sessionize_events
from tools.verify_local import compare

T0 = dt.datetime(2024, 1, 1)
GAP = dt.timedelta(minutes=30)
MS = dt.timedelta(milliseconds=1)

SESSION_QUERIES = (
    "sessionize_events",
    "session_path_topn",
    "session_concurrency_profile",
    "stream_session_counts",
    "stream_file_session_cache",
)


def _events(path, ts_by_user):
    """Write ``events.parquet`` under `path`: per user a list of
    ``(ts, event_type)``; event ids are global, in list order."""
    rows = [
        (user, ts, kind)
        for user, stamps in ts_by_user.items()
        for ts, kind in stamps
    ]
    table = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_type": pa.array([r[2] for r in rows], pa.string()),
        "value": pa.array([float(i) for i in range(len(rows))], pa.float64()),
    })
    pq.write_table(table, path / "events.parquet")
    return str(path)


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    return con


def test_session_gap_compared_to_the_microsecond(spark, tmp_path):
    sf_dir = _events(tmp_path, {
        1: [(T0, "view"), (T0 + GAP, "view")],  # exactly 30 min: one session
        2: [(T0, "view"), (T0 + GAP + 500 * MS, "view")],  # 30 min + 0.5 s: two
        3: [
            (T0, "view"),
            (T0 + GAP + dt.timedelta(microseconds=1), "view"),
            (T0 + 2 * GAP, "view"),
        ],
    })
    got = [tuple(r) for r in sessionize_events(spark, sf_dir).collect()]
    assert got == [(1, 1, 2), (2, 1, 1), (2, 2, 1), (3, 1, 1), (3, 2, 2)]
    assert _duck(sf_dir).execute(_SESSION_ORACLE).fetchall() == got


@pytest.fixture(scope="module")
def gap_edges(tmp_path_factory):
    """Three users whose gaps sit on the 30-minute edge: exactly 30 min
    (one session), 30 min + 0.5 s (two), and 00:00:00.900 to
    00:30:00.950 (two, though whole seconds differ by exactly 1800).
    User 3's second session opens on two events with the same ts, and
    ends exactly 30 min after them."""
    return _events(tmp_path_factory.mktemp("gap_edges"), {
        1: [(T0, "view"), (T0 + GAP, "click"), (T0 + 2 * GAP, "purchase")],
        2: [(T0, "view"), (T0 + GAP + 500 * MS, "click")],
        3: [
            (T0 + 900 * MS, "view"),
            (T0 + GAP + 950 * MS, "click"),
            (T0 + GAP + 950 * MS, "purchase"),
            (T0 + 2 * GAP + 950 * MS, "view"),
        ],
    })


@pytest.mark.parametrize("name", SESSION_QUERIES)
def test_session_queries_match_their_oracle_at_the_gap_edge(spark, gap_edges, name):
    rq = load_all()[name]
    got = rq.fn(spark, gap_edges).toPandas()
    want = _duck(gap_edges).execute(rq.oracle).df()
    problems = compare(name, got, want)
    assert not problems, f"{name}: " + " | ".join(problems)
