"""Console entry points: the operational surface of the reference
(`main.py:148-179`, `main_mailbox.py`) re-expressed over ``BatchIngest``.

The reference is operated as ``python main.py
[--ingestion_config_filename ...]`` reading an
`ingestion_config.json`-shaped run config (data folder, table config
file, environments/data_sources, target, ingestion date) and launching
one luigi task per file; here the same config drives one Spark job per
work group. Two entry points mirror the two reference executables:

- ``cig-etl-ingest``          — hosting layout (`main.py`),
  config key ``environments``;
- ``cig-etl-ingest-mailbox``  — mailbox layout (`main_mailbox.py`),
  config key ``data_sources`` (Environment = DataSource.split('_')[0],
  `main_mailbox.py:56`).

Recognized config keys (reference keys kept where they map 1:1):

- ``data_folder``                      root of the partitioned tree
- ``tables_to_upload_config_file``     `cig_tables.json`-shaped catalog,
                                       resolved relative to the config
                                       file like the reference resolves
                                       it relative to its own folder
                                       (`main.py:163-164`)
- ``environments`` / ``data_sources``  which sources to ingest
- ``ingestion_date``                   'YYYY-MM-DD', or '' = today
                                       (`main.py:161`)
- ``ingest_to``                        JDBC URL for a SQL sink; empty or
                                       absent = parquet sink
- ``sink_root``                        parquet sink root (default
                                       ``<data_folder>/_sink``)
- ``marker_path``                      marker-ledger location (default
                                       ``<sink_root>/_etl_marker``)
- ``webhook_url``                      optional incoming-webhook for the
                                       run summary / failure message
                                       (`SlackNotifier.py` analog)
- ``debug_file_name``                  P9: ingest only this one file
                                       (`main.py:38-39` debug filter)
- ``environments_to_check``            monitor entry only: which sources
                                       the freshness check covers

Unknown keys (``logs_folder``, ``ingest_from``, ...) are ignored so the
reference's own config files parse unchanged.

A third entry, ``cig-etl-monitor``, mirrors the freshness monitor
(`check_bucket_latest_folders.py`, C6): latest backup date per
(environment, entity), stale entities vs the reference date, summary via
webhook when anything is stale.
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime as dt
import json
import os

from pyspark.sql import SparkSession

from .catalog import load_catalog
from .notify import Notifier, WebhookNotifier
from .pipeline import BatchIngest, IngestResult


def run_from_config(
    config_path: str,
    layout: str = "hosting",
    spark: SparkSession | None = None,
    notifier: Notifier | None = None,
) -> list[IngestResult]:
    """Execute one ingestion run described by a JSON run config."""
    with open(config_path) as f:
        cfg = json.load(f)

    config_dir = os.path.dirname(os.path.abspath(config_path))
    tables_file = cfg["tables_to_upload_config_file"]
    if not os.path.isabs(tables_file):
        tables_file = os.path.join(config_dir, tables_file)
    catalog = load_catalog(tables_file)

    data_folder = cfg["data_folder"]
    sources_key = "environments" if layout == "hosting" else "data_sources"
    sources = cfg.get(sources_key)
    date_str = cfg.get("ingestion_date") or ""
    ingestion_date = (
        dt.datetime.strptime(date_str, "%Y-%m-%d").date()
        if date_str
        else dt.date.today()
    )
    jdbc_url = cfg.get("ingest_to") or None
    sink_root = cfg.get("sink_root") or os.path.join(data_folder, "_sink")
    marker_path = cfg.get("marker_path") or os.path.join(sink_root, "_etl_marker")
    if notifier is None and cfg.get("webhook_url"):
        notifier = WebhookNotifier(cfg["webhook_url"])

    # Reuse the process' active session when one exists (embedding hosts,
    # spark-submit, tests); create-and-own one only from a cold start.
    if spark is None:
        spark = SparkSession.getActiveSession()
    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name=f"cig-etl-ingest-{layout}")
    try:
        ingest = BatchIngest(
            spark,
            catalog,
            sink_root=sink_root,
            marker_path=marker_path,
            environments=sources,
            layout=layout,
            jdbc_url=jdbc_url,
            notifier=notifier,
            file_name=cfg.get("debug_file_name") or None,
        )
        results = ingest.run(data_folder, ingestion_date)
        print(ingest.summary())
        return results
    finally:
        if own_session:
            spark.stop()


def run_monitor_from_config(
    config_path: str,
    layout: str = "hosting",
    spark: SparkSession | None = None,
    notifier: Notifier | None = None,
):
    """Freshness-monitor run (C6): report entities whose latest backup
    predates the reference date; notify when anything is stale."""
    import datetime as dt

    from .operators.monitor import freshness_report
    from .sources.parquet_tree import discover_files

    with open(config_path) as f:
        cfg = json.load(f)
    date_str = cfg.get("ingestion_date") or ""
    reference_date = (
        dt.datetime.strptime(date_str, "%Y-%m-%d").date()
        if date_str
        else dt.date.today()
    )
    envs = cfg.get("environments_to_check") or cfg.get("data_sources_to_check")
    if notifier is None and cfg.get("webhook_url"):
        notifier = WebhookNotifier(cfg["webhook_url"])
    if spark is None:
        spark = SparkSession.getActiveSession()
    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name="cig-etl-monitor")
    try:
        files = discover_files(spark, cfg["data_folder"], layout)
        if envs:
            from pyspark.sql import functions as F

            col = "environment" if layout == "hosting" else "data_source"
            files = files.filter(F.col(col).isin(envs))
        stale = freshness_report(files, reference_date).collect()
        lines = [
            f"STALE {r['environment']}/{r['entity_name']}: latest {r['latest_date']}"
            for r in stale
        ]
        report = "\n".join(lines) if lines else "all entities fresh"
        print(report)
        if notifier is not None and lines:
            notifier.send(report)
        return stale
    finally:
        if own_session:
            spark.stop()


def _main(layout: str, default_config: str, argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        description=f"Ingest the {layout}-layout parquet tree per a JSON run config."
    )
    # Flag name kept verbatim from the reference (`main.py:150-152`).
    parser.add_argument(
        "--ingestion_config_filename",
        default=default_config,
        help=f'Run-config JSON path (default "{default_config}")',
    )
    args = parser.parse_args(argv)
    run_from_config(args.ingestion_config_filename, layout=layout)
    return 0


def main_hosting(argv: list[str] | None = None) -> int:
    return _main("hosting", "ingestion_config.json", argv)


def main_mailbox(argv: list[str] | None = None) -> int:
    return _main("mailbox", "ingestion_mailbox_config.json", argv)


def main_monitor(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        description="Report entities whose latest backup predates the reference date."
    )
    parser.add_argument(
        "--ingestion_config_filename",
        default="ingestion_config.json",
        help='Run-config JSON path (default "ingestion_config.json")',
    )
    parser.add_argument(
        "--layout", default="hosting", choices=["hosting", "mailbox"]
    )
    args = parser.parse_args(argv)
    run_monitor_from_config(args.ingestion_config_filename, layout=args.layout)
    return 0


def main_optimize(argv: list[str] | None = None) -> int:
    """Table-maintenance entry: compact a parquet directory to target-size
    files, optionally z-order clustering it on the given columns so file
    and row-group min/max pruning works on each of them."""
    parser = argparse.ArgumentParser(
        description="Compact (and optionally z-order) a parquet directory in place."
    )
    parser.add_argument("path", help="Parquet directory to rewrite")
    parser.add_argument(
        "--target-file-mb",
        type=int,
        default=128,
        help="Target output file size in MiB (default 128)",
    )
    parser.add_argument(
        "--zorder",
        default="",
        help="Comma-separated columns to z-order cluster by (default: plain compaction)",
    )
    args = parser.parse_args(argv)

    from .operators.maintenance import compact_parquet, zorder_compact

    spark = SparkSession.getActiveSession()
    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app_name="cig-etl-optimize")
    try:
        target = args.target_file_mb * 1024 * 1024
        cols = [c.strip() for c in args.zorder.split(",") if c.strip()]
        if cols:
            n = zorder_compact(spark, args.path, cols, target_file_bytes=target)
            print(f"z-ordered {args.path} on ({', '.join(cols)}) into {n} files")
        else:
            n = compact_parquet(spark, args.path, target_file_bytes=target)
            if n:
                print(f"compacted {args.path} into {n} files")
            else:
                print(f"{args.path} already compact; nothing done")
    finally:
        if own_session:
            spark.stop()
    return 0


def main_stream(argv: list[str] | None = None) -> int:
    """Streaming-gate entry: drain a parquet source directory through one
    of the streaming ingest gates per a JSON run config.

    ``mode: "dedup"`` — text dedup-at-ingest (``DedupIngest``): the LSH
    signature gate plus the optional CDC chunk (``cdc_store_path``) and
    lexical-cosine (``cosine_store_path``) gates.

    ``mode: "vector"`` — IVF vector-index ingest (``VectorIngest``),
    optionally in SQ8 code-at-rest mode (``sq8_stats_path``). With
    ``bootstrap_input`` set, a MISSING centroids file (and, in SQ8 mode,
    a missing stats file) is trained from that parquet once — existing
    artifacts are never retrained, because frozen centroids/stats must
    not move after vectors are gated/encoded against them; a re-run of
    the same config is therefore a no-op bootstrap plus an incremental
    drain. ``search_queries`` (a parquet of query vectors) runs a
    search after the drain and prints its rows as JSON lines — the
    round-trip a deployment smoke-checks with.

    ``mode: "hybrid"`` — SEARCH-ONLY over two already-ingested stores:
    the BM25 inverted index (``bm25_store_path``) and the IVF vector
    index (``vector_store_path`` + ``centroids_path``), fused by
    reciprocal-rank fusion (``streaming.hybrid_search``).
    ``search_terms`` and ``search_queries`` are parquet query frames
    sharing a query_id space; no micro-batch runs and neither
    checkpoint is touched.

    All other keys default to the dataclass defaults; unknown keys are
    rejected loudly (a typo'd gate path silently disabling a gate would
    re-admit duplicates)."""
    import json as _json

    parser = argparse.ArgumentParser(
        description="Run a streaming ingest gate per a JSON run config."
    )
    parser.add_argument(
        "--stream_config_filename",
        default="stream_config.json",
        help='Run-config JSON path (default "stream_config.json")',
    )
    args = parser.parse_args(argv)
    with open(args.stream_config_filename) as fh:
        cfg = _json.load(fh)

    from .session import get_spark

    spark = SparkSession.getActiveSession() or get_spark(
        app_name="cig-etl-stream"
    )
    mode = cfg.get("mode")
    mft = cfg.get("max_files_per_trigger")
    if mode == "dedup":
        from pyspark.sql import types as T

        from .operators.dedup import unpersist_all
        from .streaming.dedup_ingest import DedupIngest

        run_keys = {"mode", "source_glob", "max_files_per_trigger"}
        allowed = {f.name for f in dataclasses.fields(DedupIngest)} - {"spark"}
        unknown = set(cfg) - allowed - run_keys
        if unknown:
            raise ValueError(f"unknown dedup stream-config keys: {sorted(unknown)}")
        ingest = DedupIngest(
            spark,
            **{k: v for k, v in cfg.items() if k not in run_keys},
        )
        fields = [
            T.StructField(ingest.id_col, T.LongType()),
            T.StructField(ingest.text_col, T.StringType()),
        ]
        if ingest.embedding_store_path is not None:
            # The semantic gate reads a doc-embedding column the source
            # must supply alongside the text.
            fields.append(
                T.StructField(
                    ingest.embedding_col, T.ArrayType(T.DoubleType())
                )
            )
        schema = T.StructType(fields)
        ingest.start(
            cfg["source_glob"], schema, max_files_per_trigger=mft
        ).awaitTermination()
        unpersist_all()
        # An empty backlog (source glob matched no files) never runs a
        # micro-batch, so the sink dir may not exist — a valid run that
        # accepted 0 rows, not an error.
        from pyspark.errors import AnalysisException

        try:
            n = spark.read.parquet(ingest.sink_path).count()
        except AnalysisException as ex:
            if "PATH_NOT_FOUND" not in str(ex):
                raise
            n = 0
        print(_json.dumps({"mode": "dedup", "accepted_rows": n}))
        return 0
    if mode == "vector":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from .fsutil import hadoop_fs
        from .operators.similarity import kmeans_centroids
        from .streaming.vector_ingest import (
            VectorIngest,
            bootstrap_sq8_stats,
            read_index_store,
        )

        allowed = {
            "mode", "source_glob", "max_files_per_trigger",
            "centroids_path", "store_path", "checkpoint_path", "id_col",
            "vec_col", "dup_threshold", "sq8_stats_path",
            "bootstrap_input", "n_cells", "dim", "search_queries",
            "search_k", "search_n_probe",
        }
        unknown = set(cfg) - allowed
        if unknown:
            raise ValueError(f"unknown vector stream-config keys: {sorted(unknown)}")

        def _missing(path: str) -> bool:
            fs, jvm = hadoop_fs(spark, path)
            return not fs.exists(jvm.org.apache.hadoop.fs.Path(path))

        id_col = cfg.get("id_col", "vec_id")
        vec_col = cfg.get("vec_col", "embedding")
        dim = int(cfg.get("dim", 64))
        boot_src = cfg.get("bootstrap_input")
        if boot_src:
            boot = spark.read.parquet(boot_src).select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
            )
            if _missing(cfg["centroids_path"]):
                kmeans_centroids(
                    boot,
                    n_cells=int(cfg.get("n_cells", 16)),
                    id_col=id_col,
                    vec_col=vec_col,
                ).write.parquet(cfg["centroids_path"])
            if cfg.get("sq8_stats_path") and _missing(cfg["sq8_stats_path"]):
                bootstrap_sq8_stats(
                    boot, cfg["sq8_stats_path"], vec_col=vec_col, dim=dim
                )
        ingest = VectorIngest(
            spark,
            centroids_path=cfg["centroids_path"],
            store_path=cfg["store_path"],
            checkpoint_path=cfg["checkpoint_path"],
            id_col=id_col,
            vec_col=vec_col,
            dup_threshold=float(cfg.get("dup_threshold", 0.995)),
            sq8_stats_path=cfg.get("sq8_stats_path"),
        )
        schema = T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField(vec_col, T.ArrayType(T.DoubleType())),
            ]
        )
        ingest.start(
            cfg["source_glob"], schema, max_files_per_trigger=mft
        ).awaitTermination()
        n = read_index_store(
            spark,
            cfg["store_path"],
            id_col=id_col,
            vec_col=vec_col,
            quantized=cfg.get("sq8_stats_path") is not None,
        ).count()
        out = {"mode": "vector", "index_rows": n,
               "quantized": cfg.get("sq8_stats_path") is not None}
        if cfg.get("search_queries"):
            queries = spark.read.parquet(cfg["search_queries"])
            hits = ingest.search(
                queries,
                k=int(cfg.get("search_k", 5)),
                n_probe=int(cfg.get("search_n_probe", 4)),
            ).orderBy("query_id", "rank")
            out["search"] = [
                {"query_id": r["query_id"], "cand_id": r["cand_id"],
                 "rank": r["rank"], "cosine_sim": r["cosine_sim"]}
                for r in hits.collect()
            ]
        print(_json.dumps(out))
        return 0
    if mode == "hybrid":
        from .streaming.bm25_ingest import Bm25IndexIngest
        from .streaming.hybrid_search import hybrid_search_from_stores
        from .streaming.vector_ingest import VectorIngest

        allowed = {
            "mode", "bm25_store_path", "vector_store_path",
            "centroids_path", "sq8_stats_path", "search_terms",
            "search_queries", "search_k", "search_bm25_k",
            "search_ann_k", "search_n_probe", "rrf_k0", "id_col",
            "vec_col", "bm25_n_buckets",
        }
        unknown = set(cfg) - allowed
        if unknown:
            raise ValueError(f"unknown hybrid stream-config keys: {sorted(unknown)}")
        bm25 = Bm25IndexIngest(
            spark,
            store_path=cfg["bm25_store_path"],
            # search-only open: no micro-batch runs, the checkpoint is
            # never touched (and never created).
            checkpoint_path=f"{cfg['bm25_store_path']}/_unused_ckpt",
            n_buckets=int(cfg.get("bm25_n_buckets", 16)),
        )
        vec = VectorIngest(
            spark,
            centroids_path=cfg["centroids_path"],
            store_path=cfg["vector_store_path"],
            checkpoint_path=f"{cfg['vector_store_path']}/_unused_ckpt",
            id_col=cfg.get("id_col", "vec_id"),
            vec_col=cfg.get("vec_col", "embedding"),
            sq8_stats_path=cfg.get("sq8_stats_path"),
        )
        terms = spark.read.parquet(cfg["search_terms"])
        queries = spark.read.parquet(cfg["search_queries"])
        fused = hybrid_search_from_stores(
            bm25,
            vec,
            terms,
            queries,
            k=int(cfg.get("search_k", 10)),
            k0=int(cfg.get("rrf_k0", 60)),
            bm25_k=int(cfg.get("search_bm25_k", 10)),
            ann_k=int(cfg.get("search_ann_k", 20)),
            n_probe=int(cfg.get("search_n_probe", 4)),
        ).orderBy("query_id", "rank")
        out = {
            "mode": "hybrid",
            "search": [
                {"query_id": r["query_id"], "cand_id": r["cand_id"],
                 "rank": r["rank"], "rrf_score": r["rrf_score"]}
                for r in fused.collect()
            ],
        }
        print(_json.dumps(out))
        return 0
    if mode == "compact":
        # Store maintenance, not a stream: fold committed epoch dirs of
        # one gate family's store(s) into a single base dir so the
        # per-batch/per-search dir listing stops growing with batch
        # count. Run it OFFLINE (no stream draining the checkpoint) —
        # the newest epoch is never folded, so a stopped stream's
        # replay target survives. `target` picks the family; the other
        # keys mirror that family's ingest mode.
        target = cfg.get("target")
        upto = int(cfg["upto_epoch"])
        if target == "dedup":
            from .streaming.dedup_ingest import DedupIngest

            allowed = {
                "mode", "target", "upto_epoch", "store_path", "id_col",
                "num_hashes", "cdc_store_path", "cdc_n_buckets",
                "cosine_store_path", "cosine_n_buckets",
                "tile_store_path", "tile_n_buckets",
                "embedding_store_path", "embedding_centroids_path",
                "embedding_col", "embedding_sq8_stats_path",
            }
            unknown = set(cfg) - allowed
            if unknown:
                raise ValueError(
                    f"unknown compact/dedup config keys: {sorted(unknown)}"
                )
            ingest = DedupIngest(
                spark,
                sink_path=f"{cfg['store_path']}/_unused_sink",
                checkpoint_path=f"{cfg['store_path']}/_unused_ckpt",
                **{k: v for k, v in cfg.items()
                   if k not in ("mode", "target", "upto_epoch")},
            )
            folded = ingest.compact(upto)
        elif target == "vector":
            from .streaming.vector_ingest import VectorIngest

            allowed = {
                "mode", "target", "upto_epoch", "store_path",
                "centroids_path", "id_col", "vec_col", "sq8_stats_path",
            }
            unknown = set(cfg) - allowed
            if unknown:
                raise ValueError(
                    f"unknown compact/vector config keys: {sorted(unknown)}"
                )
            ingest = VectorIngest(
                spark,
                centroids_path=cfg["centroids_path"],
                store_path=cfg["store_path"],
                checkpoint_path=f"{cfg['store_path']}/_unused_ckpt",
                id_col=cfg.get("id_col", "vec_id"),
                vec_col=cfg.get("vec_col", "embedding"),
                sq8_stats_path=cfg.get("sq8_stats_path"),
            )
            folded = {cfg["store_path"]: ingest.compact(upto)}
        elif target == "bm25":
            from .streaming.bm25_ingest import Bm25IndexIngest

            allowed = {
                "mode", "target", "upto_epoch", "store_path", "n_buckets",
            }
            unknown = set(cfg) - allowed
            if unknown:
                raise ValueError(
                    f"unknown compact/bm25 config keys: {sorted(unknown)}"
                )
            bm25 = Bm25IndexIngest(
                spark,
                store_path=cfg["store_path"],
                checkpoint_path=f"{cfg['store_path']}/_unused_ckpt",
                n_buckets=int(cfg.get("n_buckets", 16)),
            )
            folded = {cfg["store_path"]: bm25.compact(upto)}
        elif target == "asset":
            from .streaming.asset_ingest import AssetIngest

            allowed = {"mode", "target", "upto_epoch", "store_path"}
            unknown = set(cfg) - allowed
            if unknown:
                raise ValueError(
                    f"unknown compact/asset config keys: {sorted(unknown)}"
                )
            ingest = AssetIngest(
                spark,
                store_path=cfg["store_path"],
                checkpoint_path=f"{cfg['store_path']}/_unused_ckpt",
            )
            folded = {cfg["store_path"]: ingest.compact(upto)}
        else:
            raise ValueError(
                "compact config target must be 'dedup', 'vector', 'bm25' "
                f"or 'asset', got {target!r}"
            )
        print(_json.dumps({"mode": "compact", "target": target,
                           "upto_epoch": upto, "folded_dirs": folded}))
        return 0
    raise ValueError(
        "stream config mode must be 'dedup', 'vector', 'hybrid' or "
        f"'compact', got {mode!r}"
    )


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main_hosting())


def main_corpus(argv: list[str] | None = None) -> int:
    """Corpus-preparation entry: run the composed training-data pipeline
    (exact dedup -> near dedup -> quality floor -> decontamination ->
    optional token budget -> chunking) over a parquet corpus and publish
    the chunked output atomically via the manifest sink."""
    import json as _json

    parser = argparse.ArgumentParser(
        description="Prepare a document corpus for training per a JSON run config."
    )
    parser.add_argument(
        "--corpus_config_filename",
        default="corpus_config.json",
        help='Run-config JSON path (default "corpus_config.json")',
    )
    args = parser.parse_args(argv)
    with open(args.corpus_config_filename) as fh:
        cfg_json = _json.load(fh)

    from .plans.corpus_pipeline import CorpusPrepConfig, prepare_corpus
    from .session import get_spark
    from .sources.manifest_sink import write_snapshot

    spark = get_spark(app_name="cig-etl-corpus")
    docs = spark.read.parquet(cfg_json["input"])
    benchmark = (
        spark.read.parquet(cfg_json["benchmark"])
        if cfg_json.get("benchmark")
        else None
    )
    knobs = {
        k: cfg_json[k]
        for k in (
            "minhash_threshold",
            "quality_floor",
            "contamination_max",
            "chunk_size",
            "chunk_overlap",
            "id_col",
            "text_col",
            "canonical_by_quality",
            "token_budget",
            "frequent_segment_max",
            "segment_k",
        )
        if k in cfg_json
    }
    if cfg_json.get("sharded"):
        # Terminal-stage mode: deterministic shard + pack-bin assignment
        # published EXACTLY-ONCE in waves (crash-resumable — rerunning
        # this entry after a mid-write death completes only the missing
        # shards; a completed run is a no-op).
        from .plans.corpus_pipeline import write_training_shards

        out = write_training_shards(
            docs,
            cfg_json["output"],
            benchmark=benchmark,
            cfg=CorpusPrepConfig(**knobs),
            n_shards=int(cfg_json.get("n_shards", 16)),
            bin_budget=int(cfg_json.get("bin_budget", 256)),
            shards_per_commit=int(cfg_json.get("shards_per_commit", 4)),
        )
        print(_json.dumps({"shards": out}))
        return 0
    chunks, stats = prepare_corpus(
        docs,
        benchmark=benchmark,
        cfg=CorpusPrepConfig(**knobs),
        with_stats=bool(cfg_json.get("stats", True)),
    )
    version = write_snapshot(chunks, cfg_json["output"], mode="append")
    print(_json.dumps({"output_version": version, "stats": stats}))
    return 0
