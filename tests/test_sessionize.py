"""sessionize_events splits on a gap strictly longer than 30 minutes,
compared at microsecond precision, exactly as the DuckDB oracle does."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from ocean_data_pipeline_spark.queries.windows import _SESSION_ORACLE, sessionize_events

T0 = dt.datetime(2024, 1, 1)
GAP = dt.timedelta(minutes=30)


def _events(tmp_path, ts_by_user):
    rows = [
        (user, i, ts)
        for user, stamps in ts_by_user.items()
        for i, ts in enumerate(stamps)
    ]
    table = pa.table({
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_id": pa.array([r[1] for r in rows], pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
    })
    pq.write_table(table, tmp_path / "events.parquet")
    return str(tmp_path)


def test_session_gap_compared_to_the_microsecond(spark, tmp_path):
    sf_dir = _events(tmp_path, {
        1: [T0, T0 + GAP],  # exactly 30 min: one session
        2: [T0, T0 + GAP + dt.timedelta(milliseconds=500)],  # 30 min + 0.5 s: two
        3: [T0, T0 + GAP + dt.timedelta(microseconds=1), T0 + 2 * GAP],
    })
    got = [tuple(r) for r in sessionize_events(spark, sf_dir).collect()]
    assert got == [(1, 1, 2), (2, 1, 1), (2, 2, 1), (3, 1, 1), (3, 2, 2)]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path / 'events.parquet'}')"
    )
    assert con.execute(_SESSION_ORACLE).fetchall() == got
