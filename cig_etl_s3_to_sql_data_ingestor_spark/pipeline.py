"""End-to-end batch ingest: the Spark-native equivalent of the
reference's `main.py` lifecycle (SURVEY.md §3.1).

    discover (S2/S3) → work-list plan (P2-P6, J4) → per-group:
    read parquet (S1) → stringify → clean T1-T11 + P1 → T12 →
    sink (parquet or JDBC) → marker touch; one ledger compaction per run

Differences from the reference, by design:
- one Spark job per (environment, entity) group instead of one OS
  process per file — Spark's task parallelism replaces luigi's 10
  workers, and small files coalesce into sane partitions automatically;
- the transform is a column-expression pipeline (whole-stage codegen),
  not per-cell pandas lambdas;
- idempotency = marker anti-join before the read + an append-only
  marker commit after the sink commit (the reference's exists()/touch()
  protocol), never a rewrite of the ledger.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import TableSpec
from .notify import Notifier
from .operators import transforms as TR
from .operators.marker import ParquetMarkerLedger
from .plans.worklist import build_worklist, config_frame, work_groups
from .sources.parquet_tree import (
    decode_input_file,
    discover_files,
    group_day_dirs,
    norm_path,
)


def stringify(df: DataFrame) -> DataFrame:
    """The reference's in-flight representation is all-strings
    (SURVEY.md §1.1.4): parquet → pandas-of-strings. Spark analog: cast
    every column to string; real NULLs become the literal 'None' exactly
    like pandas' str(NaN/NaT) rendering feeding `df.replace`."""
    return df.select(
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("None")).alias(c)
            for c in df.columns
        ]
    )


@dataclass
class IngestResult:
    environment: str
    target_table: str
    n_files: int
    n_rows: int
    sink_path: str


@dataclass
class BatchIngest:
    spark: SparkSession
    catalog: dict[str, TableSpec]
    sink_root: str
    marker_path: str
    environments: list[str] | None = None
    layout: str = "hosting"
    jdbc_url: str | None = None  # when set, sink = JDBC append (S8)
    notifier: Notifier | None = None  # C4: summary on activity, failure on crash
    # P9: debug single-file filter (`main.py:38-39` keeps it as a
    # commented-out line; here it is a first-class run parameter).
    file_name: str | None = None
    results: list[IngestResult] = field(default_factory=list)

    def run(self, data_root: str, ingestion_date: dt.date) -> list[IngestResult]:
        """Run with the reference's notification contract (`main.py:181-193`):
        a summary message when anything was ingested, a failure message
        (exception attached) when the run crashes — then re-raise."""
        try:
            results = self._run(data_root, ingestion_date)
        except Exception as ex:
            if self.notifier is not None:
                self.notifier.send(f"ingestion failed: {ex!r}")
            raise
        if self.notifier is not None and results:
            self.notifier.send(self.summary())
        return results

    def _run(self, data_root: str, ingestion_date: dt.date) -> list[IngestResult]:
        files = discover_files(self.spark, data_root, self.layout)
        ledger = ParquetMarkerLedger(self.spark, self.marker_path)
        cfg = config_frame(self.spark, self.catalog)
        wl = build_worklist(
            files,
            cfg,
            ingestion_date,
            self.environments,
            ledger,
            file_name=self.file_name,
            source_col="environment" if self.layout == "hosting" else "data_source",
        )
        # Freeze the work-list before any marker mutation: the anti-join
        # reads the ledger, to which ledger.touch() appends in the loop.
        wl = wl.cache()
        wl.count()
        by_source = {t.target_name: t for t in self.catalog.values()}
        self.results = []
        for g in work_groups(wl):
            env, data_source, target = g.environment, g.data_source, g.target_table
            table = by_source[target]
            # Read-path push-down: the group descriptor bounds the scan to
            # its date-ranged day directories (O(days) driver metadata),
            # then a DISTRIBUTED semi-join on input_file_name keeps the
            # file-level survivors (J4, P9), so no per-file path list ever
            # reaches the driver; AQE broadcasts the survivor side while
            # it is small and falls back to a shuffle join when it isn't.
            day_dirs = group_day_dirs(
                self.spark,
                data_root,
                self.layout,
                data_source if self.layout != "hosting" else env,
                g.entity_name,
                g.min_date,
                g.max_date,
            )
            # The group's files: read below, then marked done after the
            # sink commit. Both use this one filter, so a group never marks
            # another data source's files that share its environment.
            in_group = (
                (F.col("environment") == env)
                & (F.col("data_source") == data_source)
                & (F.col("target_table") == target)
            )
            survivors = wl.filter(in_group).select(
                norm_path(F.col("full_path")).alias("_wl_path")
            )
            df = (
                self.spark.read.parquet(*day_dirs)
                .withColumn(
                    "_src_path",
                    norm_path(decode_input_file(F.input_file_name())),
                )
                .join(
                    survivors,
                    F.col("_src_path") == F.col("_wl_path"),
                    "left_semi",
                )
                .drop("_src_path")
            )
            cleaned = TR.clean_pipeline(
                stringify(df), table, data_source, ingestion_date
            )
            final = TR.materialize_nulls(cleaned)  # T12 at the sink boundary
            # THIS run's rows: re-reading the sink after the append would
            # report the total across every historical run.
            n_rows = final.count()
            if self.jdbc_url is not None:
                from .sources.jdbc import write_table

                write_table(final, self.jdbc_url, target)
                out_path = f"{self.jdbc_url}::{target}"
            else:
                out_path = os.path.join(self.sink_root, target, f"environment={env}")
                final.write.mode("append").parquet(out_path)
            completed = wl.filter(in_group).select(
                "file_name", "environment", "target_table", "backup_date"
            )
            ledger.touch(completed)
            self.results.append(
                IngestResult(env, target, g.n_files, n_rows, out_path)
            )
        if self.results:
            ledger.compact()
        wl.unpersist()
        return self.results

    def summary(self) -> str:
        """Run-summary (`main.py:133-142` analog, minus Slack)."""
        lines = [
            f"{r.environment}/{r.target_table}: {r.n_files} files -> {r.sink_path}"
            for r in self.results
        ]
        return "\n".join(lines) if lines else "nothing ingested"

    def verify_sink(
        self,
        target: str,
        expected: DataFrame,
        partition_column: str | None = None,
        num_partitions: int = 8,
        predicates: list[str] | None = None,
        key_column: str | None = None,
    ) -> dict:
        """Post-ingest verification read — the reference's compare pass
        (`test_compare_sql_local_and_prod_data.py:57-67`) re-reads the
        ingested SQL table and checks it against the source. Routed
        through the PARTITIONED :func:`sources.jdbc.read_table` (r6
        verdict #6): a 100 TB verification must not funnel the whole
        table through one connection. Parallelism, most-automatic
        first:

        - ``key_column`` — the stringified-sink default (the ingest's
          in-flight representation is all-strings, so the table has no
          numeric column to stride on): the read wraps ``target`` in
          ``(SELECT t.*, CAST(key AS BIGINT) AS pb_stride FROM target t) v``
          (via a VARCHAR hop — CLOB-typed keys cannot cast straight)
          and stride-partitions on the cast — for the reference's
          varchar ID keys, which are digits in string clothing. NULL
          keys land in the first stride (Spark adds ``IS NULL`` to it),
          so coverage is total; but the key must CAST CLEANLY on the
          target dialect — Derby raises on a non-numeric string where
          SQL Server's TRY_CAST would NULL — so point this at a real
          ID column, and fall back to ``predicates`` otherwise.
        - ``partition_column`` — a genuinely numeric column, passed
          straight through; auto-picked as the first integral column
          of the SINK's reflected JDBC schema when neither is given
          (never from ``expected`` — the stringified sink typically
          has no numeric twin of a numeric source column).
        - ``predicates`` — caller-owned disjoint WHERE ranges (the only
          mode for non-numeric non-castable keys).
        - none usable — single-connection fallback, visible in the
          returned ``n_partitions`` (never silent).

        Returns ``{rows_match, checksum_match, n_rows, n_partitions}``.
        The checksum is an order-insensitive SUM of per-row crc32 over
        the canonical JSON of the compared columns — commutative, so
        partitioning/ordering of either side cannot flip the verdict.
        """
        from .sources.jdbc import read_table

        if self.jdbc_url is None:
            raise ValueError("verify_sink requires a JDBC sink")
        table = target
        if key_column is not None:
            if partition_column is not None or predicates is not None:
                raise ValueError(
                    "key_column is exclusive with partition_column/"
                    "predicates"
                )
            table = (  # CLOB->BIGINT is illegal on Derby; via VARCHAR it is not
                f"(SELECT t.*, CAST(CAST({key_column} AS VARCHAR(128)) "
                f"AS BIGINT) AS pb_stride FROM {target} t) v"
            )
            partition_column = "pb_stride"
        elif partition_column is None and predicates is None:
            # Auto-pick from the SINK's schema (one WHERE 1=0 round-trip):
            # a stringified source-side int is VARCHAR/CLOB there, and
            # striding on it would crash the MIN/MAX probe.
            sink_schema = (
                self.spark.read.format("jdbc")
                .option("url", self.jdbc_url)
                .option("query", f"SELECT * FROM {target} WHERE 1=0")
                .load()
                .schema
            )
            for f in sink_schema.fields:
                if f.dataType.simpleString() in ("int", "bigint", "smallint"):
                    partition_column = f.name
                    break
        got = read_table(
            self.spark,
            self.jdbc_url,
            table,
            partition_column=partition_column,
            num_partitions=num_partitions if partition_column else None,
            predicates=predicates,
        ).drop("pb_stride")
        # Compare on the expected column set (Derby uppercases unquoted
        # identifiers; normalize by position-independent lower name).
        gcols = {c.lower(): c for c in got.columns}
        got = got.select(
            *[
                F.col(gcols[f.name.lower()]).cast(f.dataType).alias(f.name)
                for f in expected.schema.fields
            ]
        )

        def _sig(df: DataFrame):
            row = df.agg(
                F.count("*").alias("n"),
                F.sum(
                    F.crc32(
                        F.to_json(F.struct(*df.columns)).cast("binary")
                    )
                ).alias("chk"),
            ).first()
            return row[0], row[1]

        n_exp, chk_exp = _sig(expected)
        n_got, chk_got = _sig(got)
        return {
            "rows_match": n_exp == n_got,
            "checksum_match": chk_exp == chk_got,
            "n_rows": n_got,
            "n_partitions": got.rdd.getNumPartitions(),
        }
