"""Batch ETL orchestrator (SURVEY.md §3.1; reference run_pipeline.py).

The reference runs EXTRACT → TRANSFORM → LOAD as sequential stages with
a validator after each (run_pipeline.py:271-305), using CSV files as
the inter-stage IR and DuckDB as the terminal store. The Spark-native
shape keeps the stage/validator contract but swaps the IR:

- inter-stage checkpoints are parquet (columnar, schema'd, splittable),
  not CSV — the reference's re-read-and-re-infer roundtrip
  (pipeline/transform.py:32, load.py:15) loses dtypes (its DuckDB table
  stores time as VARCHAR, SURVEY.md §1.2); parquet checkpoints keep
  TimestampType end to end;
- the terminal store is a saved table registered in the session catalog
  (`saveAsTable`, mode=ignore ≙ CREATE TABLE IF NOT EXISTS,
  load.py:18-24);
- validators are small agg actions (count/min/max/null-counts) over the
  checkpoint — same checks as run_pipeline.py:54-157, executed
  distributed instead of via Pandas.

Stage boundaries are real barriers (each stage writes before the next
reads), so a failed stage leaves a resumable on-disk state — at 100 TB
you restart LOAD, not the world.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocean_data_pipeline_spark.operators.cleaning import clean_raw
from ocean_data_pipeline_spark.sources.csv_source import read_raw_csv

#: Columns the cleaned schema must carry (reference run_pipeline.py:89-90).
REQUIRED_COLUMNS = ("time", "temperature", "salinity")

#: Physical plausibility bounds (reference QUALITY_CONFIG, config.py:66-71).
MEASURE_BOUNDS = {"temperature": (-5.0, 35.0), "salinity": (0.0, 45.0)}


@dataclass
class StageReport:
    stage: str
    ok: bool
    checks: dict[str, object] = field(default_factory=dict)


@dataclass
class PipelineResult:
    ok: bool
    stages: list[StageReport]
    table_name: str | None = None

    def report(self) -> dict:
        return {
            "ok": self.ok,
            "stages": {s.stage: {"ok": s.ok, **s.checks} for s in self.stages},
            "table": self.table_name,
        }


def validate_raw(df: DataFrame) -> StageReport:
    """Raw-stage gate: non-empty with a time column
    (reference run_pipeline.py:54-75)."""
    n = df.count()
    has_time = "time" in [c.lower().strip() for c in df.columns]
    return StageReport(
        "extract", ok=(n > 0 and has_time), checks={"rows": n, "has_time": has_time}
    )


def validate_clean(df: DataFrame) -> StageReport:
    """Clean-stage gate: required columns, null counts, physical ranges
    (reference run_pipeline.py:77-115) — one aggregate job."""
    missing = [c for c in REQUIRED_COLUMNS if c not in df.columns]
    if missing:
        return StageReport("transform", ok=False, checks={"missing_columns": missing})
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in REQUIRED_COLUMNS:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}"))
    for c, (lo, hi) in MEASURE_BOUNDS.items():
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    row = df.agg(*aggs).collect()[0].asDict()
    in_range = all(
        (row[f"min_{c}"] is None or row[f"min_{c}"] >= lo)
        and (row[f"max_{c}"] is None or row[f"max_{c}"] <= hi)
        for c, (lo, hi) in MEASURE_BOUNDS.items()
    )
    ok = row["rows"] > 0 and in_range
    return StageReport("transform", ok=ok, checks={**row, "in_range": in_range})


def validate_table(spark: SparkSession, table_name: str) -> StageReport:
    """Load-stage gate: table exists, non-empty, sample readable
    (reference run_pipeline.py:117-157: SHOW TABLES / COUNT / DESCRIBE /
    LIMIT 5)."""
    exists = spark.catalog.tableExists(table_name)
    if not exists:
        return StageReport("load", ok=False, checks={"exists": False})
    t = spark.table(table_name)
    n = t.count()
    sample = t.limit(5).collect()
    return StageReport(
        "load",
        ok=(n > 0 and len(sample) > 0),
        checks={"exists": True, "rows": n, "schema": [f.name for f in t.schema.fields]},
    )


def run_pipeline(
    spark: SparkSession,
    raw_source: str | DataFrame,
    work_dir: str,
    table_name: str = "sea_surface",
) -> PipelineResult:
    """EXTRACT → TRANSFORM → LOAD with per-stage validation.

    `raw_source` is a CSV path/glob (the reference's file handoff) or an
    already-fetched DataFrame (the ERDDAP connector's output). Any
    failing validator short-circuits the remaining stages, like the
    reference's orchestrator (run_pipeline.py:284-299).
    """
    stages: list[StageReport] = []

    # EXTRACT — land the raw frame as a parquet checkpoint.
    raw = read_raw_csv(spark, raw_source) if isinstance(raw_source, str) else raw_source
    raw_path = os.path.join(work_dir, "raw.parquet")
    raw.write.mode("overwrite").parquet(raw_path)
    raw_ck = spark.read.parquet(raw_path)
    r = validate_raw(raw_ck)
    stages.append(r)
    if not r.ok:
        return PipelineResult(ok=False, stages=stages)

    # TRANSFORM — clean to the canonical schema, checkpoint again.
    clean = clean_raw(raw_ck)
    clean_path = os.path.join(work_dir, "clean.parquet")
    clean.write.mode("overwrite").parquet(clean_path)
    clean_ck = spark.read.parquet(clean_path)
    t = validate_clean(clean_ck)
    stages.append(t)
    if not t.ok:
        return PipelineResult(ok=False, stages=stages)

    # LOAD — terminal managed table; mode=ignore ≙ IF NOT EXISTS.
    clean_ck.write.mode("ignore").saveAsTable(table_name)
    load = validate_table(spark, table_name)
    stages.append(load)

    return PipelineResult(ok=all(s.ok for s in stages), stages=stages, table_name=table_name)
