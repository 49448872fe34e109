"""Structured-Streaming ingest: the idiomatic replacement for the
reference's daily marker-based incrementality (SURVEY.md §2.8).

The file source's checkpoint natively tracks processed files
(exactly-once input accounting, replacing `CustomMarkerTable.exists`),
the ``availableNow`` trigger turns each scheduled run into a bounded
micro-batch drain (the daily-cron analog), and ``foreachBatch`` gives a
transactional hook where the batch is cleaned, written, and the marker
ledger upserted — keeping the SQL-side audit trail the reference exposes
to operators.

Exactly-once OUTPUT requires the batch hook itself to be idempotent in
``epoch_id`` (a driver can die after publishing but before the
checkpoint commits, replaying the epoch): the JDBC path records
(target, epoch_id) inside the publish transaction and skips epochs
already recorded; the parquet path writes each epoch to its own
``epoch=N`` directory with overwrite semantics.

Watermark semantics: the reference *drops* late files (`main.py:46`,
`Date < ingestion_date` skipped) — we reproduce that as an event-time
filter inside the batch hook rather than silently ingesting stragglers.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import TableSpec
from ..operators import transforms as TR
from ..operators.marker import ParquetMarkerLedger
from ..pipeline import stringify
from ._store import drain, parquet_stream


@dataclass
class StreamingIngest:
    spark: SparkSession
    table: TableSpec
    schema: T.StructType
    environment: str
    sink_path: str
    checkpoint_path: str
    marker_path: str | None = None
    ingestion_date: dt.date | None = None
    jdbc_url: str | None = None  # when set, sink = transactional JDBC publish

    def start(self, source_glob: str):
        """Drain all currently-available files through clean+sink, then
        stop (availableNow). Re-running picks up only new files via the
        checkpoint — no reprocessing, no marker round-trip needed for
        input dedup. The marker ledger gets one file per micro-batch and
        is compacted once per run, before the drain starts."""
        ingestion_date = self.ingestion_date or dt.date.today()
        table, env, spark = self.table, self.environment, self.spark
        ledger = None
        if self.marker_path:
            ledger = ParquetMarkerLedger(spark, self.marker_path)
            ledger.compact()

        def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
            files = [
                r[0]
                for r in batch_df.select(
                    F.input_file_name().alias("f")
                ).distinct().collect()
            ]
            cleaned = TR.clean_pipeline(
                stringify(batch_df), table, env, ingestion_date
            )
            final = TR.materialize_nulls(cleaned)
            if self.jdbc_url is not None:
                # foreachBatch + staged atomic publish, keyed by epoch_id:
                # the checkpoint makes the batch replay-identical, the
                # transaction makes the publish all-or-nothing, and the
                # (target, epoch_id) ledger row INSIDE that transaction
                # makes a replay of an already-published epoch a no-op —
                # together, exactly-once into the SQL target even when
                # the driver dies between publish and checkpoint commit.
                from ..sources.jdbc import write_table_transactional

                write_table_transactional(
                    final, self.jdbc_url, table.target_name, epoch_id=epoch_id
                )
            else:
                # Epoch-addressed directory + overwrite = idempotent
                # replay: a batch re-delivered after a crash rewrites the
                # same `epoch=N` directory instead of appending a second
                # copy. Readers see one hive-partitioned dataset (the
                # virtual `epoch` column is droppable).
                final.write.mode("overwrite").parquet(
                    f"{self.sink_path}/epoch={epoch_id}"
                )
            if ledger is not None and files:
                completed = spark.createDataFrame(
                    [(f.rsplit("/", 1)[-1],) for f in files], "file_name string"
                ).select(
                    "file_name",
                    F.lit(env).alias("environment"),
                    F.lit(table.target_name).alias("target_table"),
                    F.lit(ingestion_date).alias("backup_date"),
                )
                ledger.touch(completed)

        return drain(
            parquet_stream(spark, self.schema, source_glob),
            process_batch,
            self.checkpoint_path,
        )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming tumbling-window aggregate with late-data watermark —
    the generalization of the reference's daily freshness cadence to
    real event streams. Works on both batch and streaming frames.

    Watermarks require an instant (TIMESTAMP); a TIMESTAMP_NTZ event
    time (io.load_events normalizes to NTZ for oracle parity) is pinned
    to its UTC instant via integer epoch micros — timezone-independent,
    no session-zone cast."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        from ..io import epoch_micros

        events = events.withColumn("ts", F.timestamp_micros(epoch_micros(events)))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
