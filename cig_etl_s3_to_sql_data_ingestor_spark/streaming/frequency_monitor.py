"""Streaming frequency monitor: maintain a count-min sketch of a key
column across micro-batches and surface heavy hitters per epoch — the
frequency member of the streaming-monitor family (quality_monitor
watches score distributions; this watches key mass).

Why a sketch and not a running per-key count table: at 100 TB of
events the key cardinality is unbounded, but the CMS is ``depth x
width`` integer counters PER EPOCH — key cardinality never grows it,
and sketch cells ADD, so merging epochs is a plain aggregate. Both
the sketch and the alerts are epoch stores (the ``_store`` protocol);
``compact_sketch_store`` folds committed sketch epochs into one
cell-summed base (cells add, so compaction IS the merge aggregate) and
``compact_alerts_store`` concatenates the disjoint alerts epochs the
ever-alerted gate scans, keeping the per-batch scan bounded.
Estimates only overestimate (collision mass), never under — an alert
can false-positive under heavy collision but never miss a true heavy
hitter above threshold.

Each micro-batch:

1. builds the batch's sketch delta (``cms_build`` — one bounded
   partial aggregate) and writes it to the store's ``epoch=N`` dir;
2. probes the merged store (prior + this epoch's delta) with the
   batch's distinct keys and writes the keys at-or-above ``threshold``
   that have NEVER alerted before (anti-join against the accumulated
   alerts store) to the alerts ``epoch=N`` dir — a key alerts exactly
   once, on the first batch that sees it over threshold. Gating on the
   alerts store rather than on "prior estimate < threshold" matters:
   collision mass from other keys can push a key's estimate past the
   threshold during an epoch where the key is absent, and a
   prior-vs-now crossing test would then never hold for it — silently
   suppressing a true heavy hitter, contradicting the never-miss
   guarantee above.

Epoch idempotency: both writes are epoch-addressed overwrites and the
merge EXCLUDES the current epoch before adding this attempt's freshly
computed delta, so a crash-replay recomputes identical dirs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.sketches import cms_build, cms_estimate
from ._store import (
    _compact_epoch_store,
    drain,
    parquet_stream,
    read_epoch_store,
    recover_pending_compactions,
)

SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("row_idx", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def read_sketch_store(
    spark: SparkSession, path: str, exclude_epoch: int | None = None
) -> DataFrame:
    return read_epoch_store(spark, path, SKETCH_SCHEMA, exclude_epoch)


def compact_sketch_store(
    spark: SparkSession, store_path: str, upto_epoch: int
) -> int:
    """Fold committed sketch epoch dirs into a single cell-summed dir.

    CMS cells add, so the compacted sketch is bit-identical to the
    multi-dir merge the monitor computes per batch — estimates and
    alerts are unchanged; only the dir count (and the per-batch
    prior-merge scan) shrinks."""

    def fold(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("row_idx", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .select(
                F.col("row_idx").cast("int"),
                F.col("bucket").cast("long"),
                F.col("cnt").cast("long"),
            )
        )

    return _compact_epoch_store(spark, store_path, upto_epoch, fold)


def compact_alerts_store(
    spark: SparkSession, alerts_path: str, upto_epoch: int
) -> int:
    """Fold committed alerts epoch dirs into one dir — each key alerts
    exactly once, so the epoch dirs are disjoint and the fold is plain
    concatenation (drop the partition column, keep the rows). Without
    this the per-batch "ever alerted" anti-join scan lists O(n_epochs)
    mostly-empty dirs forever — the same growth compact_sketch_store
    eliminates for the sketch side."""

    def fold(df: DataFrame) -> DataFrame:
        return df.drop("epoch")

    return _compact_epoch_store(spark, alerts_path, upto_epoch, fold)


@dataclass
class FrequencyMonitor:
    """availableNow-drained CMS maintenance + heavy-hitter alerts."""

    spark: SparkSession
    store_path: str
    alerts_path: str
    checkpoint_path: str
    key_col: str = "event_type"
    depth: int = 3
    width: int = 1024
    threshold: int = 100

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # A crash inside a compaction's delete→rename window leaves the
        # compacted history only in the tmp dir; promote it BEFORE this
        # batch reads the store, or the merged sketch understates and a
        # true heavy hitter can slip below threshold.
        recover_pending_compactions(self.spark, self.store_path, self.alerts_path)
        delta = cms_build(
            batch_df, self.key_col, depth=self.depth, width=self.width
        )
        delta.select(
            F.col("row_idx").cast("int"),
            F.col("bucket").cast("long"),
            F.col("cnt").cast("long"),
        ).write.mode("overwrite").parquet(f"{self.store_path}/epoch={epoch_id}")
        # Merge = cells add. The delta is READ BACK from the epoch dir
        # just written (the write is synchronous) instead of re-running
        # the aggregation lineage — building the sketch is the batch's
        # expensive stage and must run once. Prior epochs exclude the
        # current id so a half-written replay cannot double-count.
        # The store holds one row per (epoch, cell); estimates must run
        # over the CELL-SUMMED sketch — probing the raw multi-epoch rows
        # would take the min over per-epoch counts instead of their sum
        # and understate every cumulative estimate.
        prior = (
            read_sketch_store(
                self.spark, self.store_path, exclude_epoch=epoch_id
            )
            .groupBy("row_idx", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        this_epoch = self.spark.read.schema(SKETCH_SCHEMA).parquet(
            f"{self.store_path}/epoch={epoch_id}"
        )
        merged = (
            prior.unionByName(this_epoch)
            .groupBy("row_idx", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        keys = batch_df.select(self.key_col).distinct()
        est_now = cms_estimate(
            merged, keys, self.key_col, depth=self.depth, width=self.width
        )
        # A key alerts ONCE — the first epoch a batch sees its estimate
        # at-or-above threshold. "Ever alerted" comes from the alerts
        # store itself (excluding the current epoch, so a crash-replay
        # recomputes the identical alert set): unlike a prior-vs-now
        # crossing test, a key whose estimate was pushed over threshold
        # by collision mass while it was absent from batches still
        # alerts on its next appearance. The alerts store is bounded by
        # the number of distinct heavy hitters, and the anti-join side
        # is the batch's distinct keys — both small.
        alerts_schema = T.StructType(
            [
                T.StructField(
                    self.key_col, batch_df.schema[self.key_col].dataType
                ),
                T.StructField("cms_estimate", T.LongType()),
            ]
        )
        already_alerted = read_epoch_store(
            self.spark, self.alerts_path, alerts_schema, exclude_epoch=epoch_id
        ).select(self.key_col)
        hitters = est_now.filter(
            F.col("cms_estimate") >= self.threshold
        ).join(already_alerted, self.key_col, "left_anti")
        hitters.write.mode("overwrite").parquet(
            f"{self.alerts_path}/epoch={epoch_id}"
        )

    def start(self, source_glob: str, schema: T.StructType):
        return drain(
            parquet_stream(self.spark, schema, source_glob),
            self._process_batch,
            self.checkpoint_path,
        )
