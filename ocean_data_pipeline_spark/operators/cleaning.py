"""Cleaning/normalization operators (SURVEY.md §2-B).

Re-expresses the reference's Pandas cleaning pipeline
(`pipeline/transform.py:10-28`, `pipeline/extract.py:192-227` in the
reference) as lazy column expressions so Catalyst can fuse them into a
single whole-stage-codegen pass over the scan — at 100 TB this is one
pass over the data with no Python in the loop.

Coercion semantics: the reference uses ``errors='coerce'`` (invalid →
NaN); we use ``try_cast``/``try_to_timestamp`` (invalid → NULL), which
also keeps behavior identical under Spark 4 ANSI mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NUMERIC_COLUMNS = ("temperature", "salinity", "depth", "latitude", "longitude")
KEY_MEASURES = ("temperature", "salinity")
#: Unit labels ERDDAP emits as CSV row 0 (reference pipeline/extract.py:199-201).
UNITS_MARKERS = ("UTC", "units")


def normalize_column_names(df: DataFrame) -> DataFrame:
    """clean-rename: strip/lower/underscore column names.

    Reference: pipeline/extract.py:203-204, pipeline/transform.py:13-14.
    Metadata-only (no job, no shuffle).
    """
    return df.toDF(*[c.strip().lower().replace(" ", "_") for c in df.columns])


def drop_units_row(df: DataFrame) -> DataFrame:
    """clean-units-row: drop the ERDDAP units row (first cell 'UTC'/'units').

    Reference: pipeline/extract.py:199-201. Expressed as a filter on the
    first column's value rather than row position — positionless, hence
    distributable (row 0 of a 100 TB CSV is not addressable per-partition).
    """
    first = df.columns[0]
    return df.filter(~F.col(first).isin(*UNITS_MARKERS) | F.col(first).isNull())


def cast_time(df: DataFrame, col: str = "time") -> DataFrame:
    """cast-time: parse to timestamp, invalid → NULL (coerce semantics).

    Reference: pipeline/extract.py:207-208, pipeline/transform.py:17-18.
    """
    return df.withColumn(col, F.expr(f"try_cast(`{col}` as timestamp)"))


def cast_numeric(df: DataFrame, cols: tuple[str, ...] = NUMERIC_COLUMNS) -> DataFrame:
    """cast-numeric: coerce known columns to double, invalid → NULL.

    Reference: pipeline/extract.py:211-214, pipeline/transform.py:21-23.
    """
    out = df
    for c in cols:
        if c in out.columns:
            out = out.withColumn(c, F.expr(f"try_cast(`{c}` as double)"))
    return out


def drop_all_null_measures(df: DataFrame, measures: tuple[str, ...] = KEY_MEASURES) -> DataFrame:
    """filter-dropna-all: drop rows where EVERY key measure is NULL.

    Reference: pipeline/extract.py:216-221 (`dropna(how='all')`).
    """
    present = [c for c in measures if c in df.columns]
    if not present:
        return df
    cond = F.lit(False)
    for c in present:
        cond = cond | F.col(c).isNotNull()
    return df.filter(cond)


def drop_any_null_measures(df: DataFrame, measures: tuple[str, ...] = KEY_MEASURES) -> DataFrame:
    """filter-dropna-any: drop rows where ANY key measure is NULL.

    Reference: pipeline/transform.py:26 (`dropna(subset=...)`).
    """
    return df.na.drop(subset=[c for c in measures if c in df.columns])


def clean_raw(df: DataFrame) -> DataFrame:
    """Full cleaning pipeline: raw ERDDAP-shaped frame → canonical table.

    Composition of clean-rename → clean-units-row → cast-time →
    cast-numeric → filter-dropna-all → sort-time. One codegen'd pass;
    the sort is the only exchange and is skipped by callers that
    aggregate instead (Catalyst drops it under groupBy).
    Reference end-to-end: pipeline/extract.py:192-227.
    """
    out = normalize_column_names(df)
    out = drop_units_row(out)
    out = cast_time(out)
    out = cast_numeric(out)
    out = drop_all_null_measures(out)
    return out.orderBy("time")
