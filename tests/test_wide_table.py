"""Wide-table stress: the reference's widest contract is
HOST_CIG_DivisionStatistics at 427 columns (`cig_tables.json`). A
400+-column frame through the full clean pipeline + JDBC write is exactly
where Spark codegen risks cliff behavior (spark.sql.codegen.maxFields,
64KB JVM method limits) — this pins that the pipeline stays correct and
bounded-time at that width."""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid

from pyspark.sql import functions as F

from cig_etl_s3_to_sql_data_ingestor_spark.catalog import ColumnSpec, TableSpec
from cig_etl_s3_to_sql_data_ingestor_spark.operators import transforms as TR
from cig_etl_s3_to_sql_data_ingestor_spark.pipeline import stringify
from cig_etl_s3_to_sql_data_ingestor_spark.sources.jdbc import (
    derby_memory_url,
    read_query,
    write_table,
)

N_COLS = 427
N_ROWS = 200


def _wide_spec() -> TableSpec:
    cols = []
    for i in range(N_COLS):
        # DivisionStatistics mixes numerics, dates and strings; cycle the
        # three logical types so every transform family sees the width.
        ctype = ("str", "int", "datetime")[i % 3]
        cols.append(ColumnSpec(f"C{i:03d}", ctype, nullable=(i % 5 != 0)))
    return TableSpec(target_name="HOST_CIG_DivisionStatistics", source="DivisionStatistics",
                     columns=tuple(cols))


def _wide_frame(spark):
    import pandas as pd

    data = {}
    for i in range(N_COLS):
        kind = i % 3
        if kind == 0:
            data[f"C{i:03d}"] = [f"v{i}_{r}" if r % 7 else "nan" for r in range(N_ROWS)]
        elif kind == 1:
            data[f"C{i:03d}"] = [float(r) if r % 5 else float(f"{r}.0") for r in range(N_ROWS)]
        else:
            data[f"C{i:03d}"] = [
                dt.datetime(2024, 1, 1 + r % 28, 12, 30, 45, 123456) for r in range(N_ROWS)
            ]
    return spark.createDataFrame(pd.DataFrame(data))


def test_wide_table_clean_pipeline_and_jdbc(spark, tmp_path):
    spec = _wide_spec()
    df = _wide_frame(spark)
    start = time.monotonic()
    cleaned = TR.clean_pipeline(
        stringify(df), spec, "NL", dt.date(2024, 1, 5)
    )
    final = TR.materialize_nulls(cleaned)
    # Parquet roundtrip at full width.
    out = str(tmp_path / "wide")
    final.write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == N_ROWS
    assert len(back.columns) == N_COLS
    # Sentinel cleaning applied across the width: T4 'nan' -> NULL at sink.
    assert back.filter(F.col("C003") == "nan").count() == 0
    # T8 truncation contract on datetime columns (23-char max when gated).
    w = back.agg(F.max(F.length("C002"))).collect()[0][0]
    assert w is None or w <= 26

    # JDBC write at full width (Derby's 128-col index limits don't apply
    # to plain tables; the writer must survive 427 columns in one insert).
    url = derby_memory_url(f"wide{uuid.uuid4().hex[:8]}")
    write_table(final, url, "WIDE_T", mode="overwrite")
    n = read_query(spark, url, "SELECT COUNT(*) AS n FROM WIDE_T").collect()[0][0]
    assert n == N_ROWS
    elapsed = time.monotonic() - start
    # Generous bound: catches codegen-compilation blowups (minutes), not
    # normal variance. Typical local run is well under a minute.
    assert elapsed < 180, f"wide-table pipeline took {elapsed:.0f}s"


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_wide_table_plan_stays_single_stage(spark):
    """The clean pipeline at 427 columns must remain a pure projection
    over the scan — no shuffle introduced by width, and a plan that
    Catalyst can still analyze/optimize in bounded time. Its T7 and T8
    gates share ONE aggregate: building the plan launches exactly the
    jobs of a single ``df.agg(...).first()`` over the same frame."""
    spec = _wide_spec()
    df = stringify(_wide_frame(spark))
    start = _next_job_id(spark)
    cleaned = TR.clean_pipeline(df, spec, "NL", dt.date(2024, 1, 5))
    clean_jobs = _next_job_id(spark) - start
    start = _next_job_id(spark)
    df.agg(F.max(F.length("C001")), F.max(F.length("C002"))).first()
    assert clean_jobs == _next_job_id(spark) - start, "more than one gate scan"
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = cleaned._jdf.queryExecution().explainString(mode)
    assert "Exchange" not in plan, "width introduced a shuffle"


def test_wide_table_without_gated_columns_launches_no_job(spark):
    """No nullable int and no datetime column means no T7/T8 gate: the
    clean plan is built without running any Spark job."""
    ungated = tuple(
        c for c in _wide_spec().columns
        if c.ctype == "str" or (c.ctype == "int" and not c.nullable)
    )
    spec = TableSpec(target_name="HOST_CIG_Ungated", source="Ungated", columns=ungated)
    df = stringify(_wide_frame(spark))
    start = _next_job_id(spark)
    cleaned = TR.clean_pipeline(df, spec, "NL", dt.date(2024, 1, 5))
    assert _next_job_id(spark) - start == 0
    assert cleaned.columns == spec.column_names
