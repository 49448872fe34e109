"""Work-list construction — the reference's "query plan" (`main.py:32-62`):

discovered files → config semi/enrich join (P5/P6) → enabled filter (P2)
→ incremental date filter (P3) → environment membership (P4) → marker
anti-join (J4) → per-(environment, entity) work groups (A1).

All joins broadcast the config/marker side (both are tiny); the file
corpus side never shuffles. The output is the list of files ONE batch
ingest should read — pruning happens here, before any data bytes move,
which is what makes the design hold at 100 TB: the expensive scan only
ever sees surviving files.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import TableSpec
from ..operators.marker import MarkerLedger


def config_frame(spark: SparkSession, catalog: dict[str, TableSpec]) -> DataFrame:
    """Config as a small DataFrame (source, target_table, is_enabled)."""
    rows = [
        (t.source, t.target_name, t.is_enabled) for t in catalog.values()
    ]
    return spark.createDataFrame(
        rows, "source string, target_table string, is_enabled boolean"
    )


def build_worklist(
    files: DataFrame,
    config: DataFrame,
    ingestion_date: dt.date,
    environments: list[str] | None = None,
    ledger: MarkerLedger | None = None,
    file_name: str | None = None,
) -> DataFrame:
    """Apply P5/P6/P2/P3/P4 (+ optional P9) and J4 to the file frame."""
    # First-match config semantics (`main.py:83-84`).
    cfg = config.dropDuplicates(["source"])
    out = files.join(
        F.broadcast(cfg), files.entity_name == cfg.source, "inner"
    ).drop("source")
    out = out.filter(F.col("is_enabled"))  # P2
    out = out.filter(F.col("backup_date") >= F.lit(ingestion_date))  # P3 late-data drop
    if environments is not None:  # P4: hosting `main.py:41-43`, mailbox
        # `main_mailbox.py:41-43` (the DataSource, not the derived
        # environment); discover_files makes them one column.
        out = out.filter(F.col("data_source").isin(environments))
    if file_name is not None:  # P9: debug single-file filter (`main.py:38-39`)
        out = out.filter(F.col("file_name") == file_name)
    if ledger is not None:  # J4
        out = ledger.select_work(out)
    return out


@dataclass(frozen=True)
class WorkGroup:
    """Bounded descriptor of one ingest group — O(1) per group no matter
    how many files survive. The file PATHS never reach the driver: the
    reader resolves the group's date-ranged directories and the
    file-level survivors are enforced by a distributed semi-join against
    the work-list frame (see pipeline.BatchIngest)."""

    environment: str
    data_source: str
    entity_name: str
    target_table: str
    n_files: int
    min_date: dt.date
    max_date: dt.date


def work_groups(worklist: DataFrame) -> list[WorkGroup]:
    """A1: group surviving files per (environment, data_source, entity,
    target) — one Spark read per group (each group shares a schema).

    Returns BOUNDED group descriptors only (counts + date range), never
    the per-file path list: a 10M-file tree must not materialize on the
    driver. The collect here is one row per group — bounded by
    |environments| x |configured tables|, the same cardinality the
    reference iterates (`main.py:41-48`)."""
    rows = (
        worklist.groupBy(
            "environment", "data_source", "entity_name", "target_table"
        )
        .agg(
            F.count("*").alias("n_files"),
            F.min("backup_date").alias("min_date"),
            F.max("backup_date").alias("max_date"),
        )
        .collect()
    )
    return sorted(
        (
            WorkGroup(
                r["environment"], r["data_source"], r["entity_name"],
                r["target_table"], r["n_files"], r["min_date"], r["max_date"],
            )
            for r in rows
        ),
        key=lambda g: (g.environment, g.data_source, g.target_table),
    )
