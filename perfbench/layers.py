"""Which engine functions the traced run wraps, and the per-layer
metrics it derives from their spans.

Each metric is named ``<module>.<quantity>``. Lazy functions (those that
only build a DataFrame) time their planning plus whatever jobs they
launch; execution is timed by the span of the action that forces it.
Layers a workload does not call report 0.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrameWriter

from cig_etl_s3_to_sql_data_ingestor_spark import pipeline
from cig_etl_s3_to_sql_data_ingestor_spark.operators import marker
from cig_etl_s3_to_sql_data_ingestor_spark.operators import transforms
from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline
from cig_etl_s3_to_sql_data_ingestor_spark.sources import jdbc, manifest_sink, parquet_tree
from cig_etl_s3_to_sql_data_ingestor_spark.streaming import bm25_ingest, hybrid_search, vector_ingest

from spans import Tracer


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path``, from footers only."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class Layers:
    """Installs the wraps on a tracer and keeps the counters the spans
    alone do not give."""

    def __init__(self, tracer: Tracer):
        self.t = tracer
        self.counts = tracer.counts
        self.counts.update({
            "parquet_tree.files_listed": 0,
            "worklist.groups": 0,
            "worklist.files_selected": 0,
            "marker.ledger_rows_rewritten": 0,
            "sink.rows_written": 0,
            "jdbc.read_partitions": 0,
            "vector_ingest.admitted": 0,
        })

    def install(self) -> None:
        t, c = self.t, self.counts

        # parquet_tree: discovery lists the tree; day_dirs bounds each group read
        def count_listing(span, result, args, kwargs):
            if t.current_name() == "parquet_tree.discover":
                c["parquet_tree.files_listed"] += len(result)

        t.wrap(parquet_tree, "_hadoop_glob", "parquet_tree.glob", after=count_listing)
        t.wrap(pipeline, "discover_files", "parquet_tree.discover")
        # one ingest group = from its day-dir listing to its marker touch
        t.wrap(pipeline, "group_day_dirs", "parquet_tree.day_dirs",
               before=lambda a, k: t.open_window("pipeline.group"))

        # worklist: plan build through the group collect
        t.wrap(pipeline, "build_worklist", "worklist.build_plan",
               before=lambda a, k: t.open_window("worklist.build"))

        def groups_done(span, result, args, kwargs):
            t.close_window("worklist.build")
            c["worklist.groups"] += len(result)
            c["worklist.files_selected"] += sum(g.n_files for g in result)

        t.wrap(pipeline, "work_groups", "worklist.work_groups", after=groups_done)

        # marker ledger
        t.wrap(marker.MarkerLedger, "select_work", "marker.select")

        def touched(span, result, args, kwargs):
            ledger = args[0]
            if isinstance(ledger, marker.ParquetMarkerLedger):
                c["marker.ledger_rows_rewritten"] += parquet_rows(ledger.path)
            t.close_window("pipeline.group")

        t.wrap(marker.MarkerLedger, "touch", "marker.touch", after=touched)

        # transforms: the clean plan (T7/T8 gate scans run while it is built)
        t.wrap(transforms, "clean_pipeline", "transforms.clean")
        t.wrap(transforms, "materialize_nulls", "transforms.materialize_nulls")

        # sinks: the lake sink writes straight from a group's loop body; the
        # marker ledger and the stores write from inside their own spans
        t.wrap(DataFrameWriter, "parquet", lambda: (
            "sink.parquet_write" if t.current_name() == "pipeline.group" else "io.parquet_write"))
        t.wrap(jdbc, "write_table", "jdbc.write")
        t.wrap(jdbc, "read_table", "jdbc.read")

        def ran(span, result, args, kwargs):
            if args[0].jdbc_url is None:
                c["sink.rows_written"] += sum(r.n_rows for r in result)

        t.wrap(pipeline.BatchIngest, "run", "pipeline.run", after=ran)

        def verified(span, result, args, kwargs):
            c["jdbc.read_partitions"] += result["n_partitions"]

        t.wrap(pipeline.BatchIngest, "verify_sink", "pipeline.verify_sink", after=verified)

        # corpus curation
        t.wrap(corpus_pipeline, "write_training_shards", "corpus_pipeline.write_training_shards")
        t.wrap(corpus_pipeline, "prepare_corpus", "corpus_pipeline.prepare")
        t.wrap(manifest_sink, "write_snapshot", "manifest_sink.write")
        t.wrap(manifest_sink, "read_snapshot", "manifest_sink.read")

        # search stores: the foreachBatch bodies are the build work
        t.wrap(bm25_ingest.Bm25IndexIngest, "start", "bm25_ingest.start")
        t.wrap(bm25_ingest.Bm25IndexIngest, "_process_batch", "bm25_ingest.batch")
        t.wrap(bm25_ingest.Bm25IndexIngest, "search", "bm25_ingest.search")
        t.wrap(vector_ingest.VectorIngest, "start", "vector_ingest.start")
        t.wrap(vector_ingest.VectorIngest, "_process_batch", "vector_ingest.batch")
        t.wrap(vector_ingest.VectorIngest, "search", "vector_ingest.search")
        t.wrap(hybrid_search, "hybrid_search_from_stores", "hybrid_search.plan")

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer metrics as {name: (value, unit)}."""
        t, c = self.t, self.counts
        groups = t.named("pipeline.group")
        requests = t.named("op.search_request")
        m = {
            "parquet_tree.discover_s": (t.total("parquet_tree.discover"), "s"),
            "parquet_tree.files_listed": (c["parquet_tree.files_listed"], "count"),
            "parquet_tree.day_dirs_s": (t.total("parquet_tree.day_dirs"), "s"),
            "worklist.build_s": (t.total("worklist.build"), "s"),
            "worklist.groups": (c["worklist.groups"], "count"),
            "worklist.files_selected": (c["worklist.files_selected"], "count"),
            "marker.select_s": (t.total("marker.select"), "s"),
            "marker.touch_s": (t.total("marker.touch"), "s"),
            "marker.touch_calls": (len(t.named("marker.touch")), "count"),
            "marker.ledger_rows_rewritten": (c["marker.ledger_rows_rewritten"], "count"),
            "transforms.clean_s": (t.total("transforms.clean"), "s"),
            "transforms.spark_jobs": (t.jobs("transforms.clean"), "count"),
            "pipeline.group_s": (sum(s.dur for s in groups), "s"),
            "pipeline.spark_jobs_per_group": (
                sum(s.jobs for s in groups) / len(groups) if groups else 0.0, "count"),
            "sink.parquet_write_s": (t.total("sink.parquet_write"), "s"),
            "sink.rows_written": (c["sink.rows_written"], "count"),
            "jdbc.write_s": (t.total("jdbc.write"), "s"),
            "jdbc.read_s": (t.total("jdbc.read"), "s"),
            "jdbc.read_partitions": (c["jdbc.read_partitions"], "count"),
            "corpus_pipeline.prepare_s": (t.total("corpus_pipeline.prepare"), "s"),
            "corpus_pipeline.spark_jobs": (t.jobs("corpus_pipeline.write_training_shards"), "count"),
            "manifest_sink.write_s": (t.total("manifest_sink.write"), "s"),
            "manifest_sink.commits": (len(t.named("manifest_sink.write")), "count"),
            "manifest_sink.read_s": (t.total("manifest_sink.read"), "s"),
            "bm25_ingest.build_s": (
                t.total("bm25_ingest.start") + t.total("bm25_ingest.batch"), "s"),
            "vector_ingest.build_s": (
                t.total("vector_ingest.start") + t.total("vector_ingest.batch"), "s"),
            "vector_ingest.admitted": (c["vector_ingest.admitted"], "count"),
            "bm25_ingest.search_s": (t.total("bm25_ingest.search"), "s"),
            "vector_ingest.search_s": (t.total("vector_ingest.search"), "s"),
            "hybrid_search.spark_jobs_per_request": (
                sum(s.jobs for s in requests) / len(requests) if requests else 0.0, "count"),
        }
        return m
