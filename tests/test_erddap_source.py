"""Offline connector tests (SURVEY.md §5 URL-shape/unit category;
reference tests/test_dynamic_api.py:77-95): hyperslab URL building,
index pushdown math, rate limiting, retry, file:// fetch end-to-end.
"""

from __future__ import annotations

import datetime as dt
import time

import pytest

from ocean_data_pipeline_spark.sources.erddap import (
    ErddapDataset,
    ErddapSource,
    FetchPolicy,
    build_hyperslab_url,
    lat_index,
    lon_index,
    month_index,
)

DS = ErddapDataset(base_url="file:///unused", dataset_id="test_ds")


def test_grid_index_roundtrip_anchor():
    # reference anchor: (32.5, -70.0) -> [90, 60] (SURVEY §A4 / config.py:23)
    assert lat_index(32.5) == 90
    assert lon_index(-70.0) == 60
    # clamping at the edges
    assert lat_index(99.0) == 0  # north of anchor clamps to row 0
    assert lat_index(-10.0) == 90
    assert lon_index(-99.0) == 0
    assert lon_index(0.0) == 60


def test_month_index_clamp():
    assert month_index("1955-01-01", 1955, 72) == 0
    assert month_index("1960-12-31", 1955, 72) == 71
    assert month_index("1970-01-01", 1955, 72) == 71  # clamped
    assert month_index("1940-01-01", 1955, 72) == 0


def test_hyperslab_url_shape():
    url = build_hyperslab_url(DS, 32.5, -70.0, "1955-01-01", "1955-12-31")
    assert url.startswith("file:///unused/griddap/test_ds.csv?")
    # per-variable slabs: var[t0:t1][depth][y][x]
    assert "Temperature[0:11][106][90][60]" in url
    assert "Salinity[0:11][106][90][60]" in url
    # column pruning: only requested variables appear
    url2 = build_hyperslab_url(DS, 32.5, -70.0, "1955-01-01", "1955-12-31", ("Salinity",))
    assert "Temperature" not in url2


@pytest.fixture()
def served_csv(tmp_path):
    """A file:// ERDDAP response (units-row CSV, reference sample shape)."""
    root = tmp_path / "griddap"
    root.mkdir()
    body = (
        "time,depth,latitude,longitude,Temperature,Salinity\n"
        "UTC,m,degrees_north,degrees_east,degree_C,PSU\n"
        "1955-01-16T00:00:00Z,0.0,32.5,-70.0,19.5,36.1\n"
        "1955-02-16T00:00:00Z,0.0,32.5,-70.0,20.1,36.2\n"
    )
    # the connector appends '/griddap/<id>.csv?<slabs>'; file:// ignores the query
    (root / "test_ds.csv").write_text(body)
    return f"file://{tmp_path}"


def test_fetch_end_to_end_offline(spark, served_csv):
    ds = ErddapDataset(base_url=served_csv, dataset_id="test_ds")
    src = ErddapSource(spark, ds, FetchPolicy(min_interval_s=0.0))
    df, meta = src.fetch(32.49, -70.01, "1955-01-01", "1955-12-31")
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["temperature"] == 19.5
    # snap-to-grid canonicalization in metadata
    assert meta["actual"]["lat"] == 32.5
    assert meta["actual"]["lon"] == -70.0
    assert meta["requested"]["lat"] == 32.49


def test_rate_limit_enforced(spark, served_csv):
    ds = ErddapDataset(base_url=served_csv, dataset_id="test_ds")
    src = ErddapSource(spark, ds, FetchPolicy(min_interval_s=0.3))
    t0 = time.monotonic()
    src.fetch(32.5, -70.0, "1955-01-01", "1955-03-31")
    src.fetch(32.5, -70.0, "1955-01-01", "1955-03-31")
    assert time.monotonic() - t0 >= 0.3  # second request waited


def test_retry_then_fail(spark):
    ds = ErddapDataset(base_url="file:///nonexistent_dir_xyz", dataset_id="nope")
    policy = FetchPolicy(min_interval_s=0.0, max_retries=2, retry_delay_s=0.01)
    src = ErddapSource(spark, ds, policy)
    t0 = time.monotonic()
    with pytest.raises(ConnectionError, match="after 2 attempts"):
        src.fetch(32.5, -70.0, "1955-01-01", "1955-12-31")
    assert time.monotonic() - t0 >= 0.01  # backoff slept at least once


def test_fetch_many_distributed(spark, served_csv):
    from ocean_data_pipeline_spark.operators.cleaning import clean_raw
    from ocean_data_pipeline_spark.sources.erddap import fetch_many

    ds = ErddapDataset(base_url=served_csv, dataset_id="test_ds")
    requests = spark.createDataFrame(
        [(32.5, -70.0, "1955-01-01", "1955-12-31"),
         (23.25, -72.75, "1955-01-01", "1955-06-30")],
        "lat double, lon double, start_date string, end_date string",
    )
    raw = fetch_many(requests, ds, FetchPolicy(min_interval_s=0.0), parallelism=2)
    rows = raw.collect()
    # fixture answers every request with units row + 2 data rows; the
    # units row rides through raw output (cleaning drops it by value)
    assert len(rows) == 6
    assert {(r["req_lat"], r["req_lon"]) for r in rows} == {(32.5, -70.0), (23.25, -72.75)}
    # raw strings flow through the SAME cleaning operators as the file source
    cleaned = clean_raw(raw.drop("req_lat", "req_lon"))
    got = cleaned.collect()
    assert len(got) == 4  # units rows gone, numerics typed
    assert all(isinstance(r["temperature"], float) for r in got)


def test_fetch_many_failed_request_yields_null_row(spark, served_csv):
    from ocean_data_pipeline_spark.sources.erddap import fetch_many

    ds = ErddapDataset(base_url="file:///nonexistent_dir_xyz", dataset_id="nope")
    requests = spark.createDataFrame(
        [(32.5, -70.0, "1955-01-01", "1955-12-31")],
        "lat double, lon double, start_date string, end_date string",
    )
    rows = fetch_many(
        requests, ds, FetchPolicy(min_interval_s=0.0, max_retries=1, retry_delay_s=0.0)
    ).collect()
    assert len(rows) == 1  # dead point survives as a NULL-data row
    assert rows[0]["req_lat"] == 32.5 and rows[0]["time"] is None


def _serve(spark, tmp_path, body: str) -> ErddapSource:
    root = tmp_path / "griddap"
    root.mkdir()
    (root / "test_ds.csv").write_text(body)
    ds = ErddapDataset(base_url=f"file://{tmp_path}", dataset_id="test_ds")
    return ErddapSource(spark, ds, FetchPolicy(min_interval_s=0.0))


FETCH_SCHEMA = (
    "struct<time:timestamp,depth:double,latitude:double,longitude:double,"
    "temperature:double,salinity:double>"
)
HEADER = "time,depth,latitude,longitude,Temperature,Salinity\n"
UNITS = "UTC,m,degrees_north,degrees_east,degree_C,PSU\n"


def test_fetch_blank_measure_cells(spark, tmp_path):
    """Blank cells coerce to NULL; a row with every measure blank is
    dropped; the frame is built without a Python RDD."""
    src = _serve(spark, tmp_path, HEADER + UNITS + (
        "1955-01-16T00:00:00Z,0.0,32.5,-70.0,19.5,\n"
        "1955-02-16T00:00:00Z,0.0,32.5,-70.0,,36.2\n"
        "1955-03-16T00:00:00Z,0.0,32.5,-70.0,,\n"
    ))
    df, _meta = src.fetch(32.5, -70.0, "1955-01-01", "1955-12-31")
    assert df.schema.simpleString() == FETCH_SCHEMA
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    got = [tuple(r) for r in df.collect()]
    assert got == [
        (dt.datetime(1955, 1, 16), 0.0, 32.5, -70.0, 19.5, None),
        (dt.datetime(1955, 2, 16), 0.0, 32.5, -70.0, None, 36.2),
    ]


def test_fetch_header_and_units_only(spark, tmp_path):
    src = _serve(spark, tmp_path, HEADER + UNITS)
    df, _meta = src.fetch(32.5, -70.0, "1955-01-01", "1955-12-31")
    assert df.schema.simpleString() == FETCH_SCHEMA
    assert df.collect() == []
