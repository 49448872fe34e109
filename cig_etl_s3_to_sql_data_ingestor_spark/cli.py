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
import contextlib
import dataclasses
import datetime as dt
import json
import os

from pyspark.sql import SparkSession

from .catalog import load_catalog
from .notify import Notifier, WebhookNotifier
from .pipeline import BatchIngest, IngestResult


@contextlib.contextmanager
def _session(app_name: str, spark: SparkSession | None = None):
    """The session every entry runs in: the caller's, else the process'
    active one (embedding hosts, spark-submit, tests), used as it is —
    ``get_spark`` over a live session would rewrite its runtime SQL conf.
    Only from a cold start is a session created, and it is stopped on
    exit."""
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        yield spark
        return
    from .session import get_spark

    spark = get_spark(app_name=app_name)
    try:
        yield spark
    finally:
        spark.stop()


def _run_date(cfg: dict) -> dt.date:
    """``ingestion_date``: 'YYYY-MM-DD', or today when empty (`main.py:161`)."""
    date_str = cfg.get("ingestion_date") or ""
    if not date_str:
        return dt.date.today()
    return dt.datetime.strptime(date_str, "%Y-%m-%d").date()


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
    jdbc_url = cfg.get("ingest_to") or None
    sink_root = cfg.get("sink_root") or os.path.join(data_folder, "_sink")
    marker_path = cfg.get("marker_path") or os.path.join(sink_root, "_etl_marker")
    if notifier is None and cfg.get("webhook_url"):
        notifier = WebhookNotifier(cfg["webhook_url"])
    with _session(f"cig-etl-ingest-{layout}", spark) as spark:
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
        results = ingest.run(data_folder, _run_date(cfg))
        print(ingest.summary())
        return results


def run_monitor_from_config(
    config_path: str,
    layout: str = "hosting",
    spark: SparkSession | None = None,
    notifier: Notifier | None = None,
):
    """Freshness-monitor run (C6): report entities whose latest backup
    predates the reference date; notify when anything is stale."""
    from pyspark.sql import functions as F

    from .operators.monitor import freshness_report
    from .sources.parquet_tree import discover_files

    with open(config_path) as f:
        cfg = json.load(f)
    envs = cfg.get("environments_to_check") or cfg.get("data_sources_to_check")
    if notifier is None and cfg.get("webhook_url"):
        notifier = WebhookNotifier(cfg["webhook_url"])
    with _session("cig-etl-monitor", spark) as spark:
        files = discover_files(spark, cfg["data_folder"], layout)
        if envs:
            files = files.filter(F.col("data_source").isin(envs))
        stale = freshness_report(files, _run_date(cfg)).collect()
    lines = [
        f"STALE {r['environment']}/{r['entity_name']}: latest {r['latest_date']}"
        for r in stale
    ]
    report = "\n".join(lines) if lines else "all entities fresh"
    print(report)
    if notifier is not None and lines:
        notifier.send(report)
    return stale


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

    target = args.target_file_mb * 1024 * 1024
    cols = [c.strip() for c in args.zorder.split(",") if c.strip()]
    with _session("cig-etl-optimize") as spark:
        if cols:
            n = zorder_compact(spark, args.path, cols, target_file_bytes=target)
            print(f"z-ordered {args.path} on ({', '.join(cols)}) into {n} files")
        else:
            n = compact_parquet(spark, args.path, target_file_bytes=target)
            if n:
                print(f"compacted {args.path} into {n} files")
            else:
                print(f"{args.path} already compact; nothing done")
    return 0


def _gate(cls, spark: SparkSession, cfg: dict, what: str, run_keys=(), **fixed):
    """Build the gate dataclass ``cls`` from the config keys named like
    its fields, so the dataclass is the one place its keys and defaults
    are defined: a field the config leaves out keeps its default.
    ``run_keys`` are the mode's own keys; ``fixed`` sets fields the mode
    fills itself (placeholder paths). Any other key raises."""
    names = {f.name for f in dataclasses.fields(cls)} - {"spark"}
    unknown = set(cfg) - names - set(run_keys)
    if unknown:
        raise ValueError(f"unknown {what} keys: {sorted(unknown)}")
    return cls(spark, **{**{k: v for k, v in cfg.items() if k in names}, **fixed})


def _ints(cfg: dict, **keys: str) -> dict[str, int]:
    """The integer knobs ``cfg`` sets, keyed by the callee's parameter
    names (``param="config_key"``); a knob left out keeps the callee's
    default."""
    return {arg: int(cfg[key]) for arg, key in keys.items() if key in cfg}


def _hits(df, *cols: str) -> list[dict]:
    """A search result's rows, in (query_id, rank) order, as JSON objects."""
    return [r.asDict() for r in df.select(*cols).orderBy("query_id", "rank").collect()]


_DRAIN_KEYS = ("mode", "source_glob", "max_files_per_trigger")


def _stream_dedup(spark: SparkSession, cfg: dict) -> dict:
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from .streaming.dedup_ingest import DedupIngest

    ingest = _gate(DedupIngest, spark, cfg, "dedup stream-config", _DRAIN_KEYS)
    fields = [
        T.StructField(ingest.id_col, T.LongType()),
        T.StructField(ingest.text_col, T.StringType()),
    ]
    if ingest.embedding_store_path is not None:
        # The semantic gate reads a doc-embedding column the source
        # must supply alongside the text.
        fields.append(
            T.StructField(ingest.embedding_col, T.ArrayType(T.DoubleType()))
        )
    ingest.start(
        cfg["source_glob"],
        T.StructType(fields),
        max_files_per_trigger=cfg.get("max_files_per_trigger"),
    ).awaitTermination()
    # An empty backlog (source glob matched no files) never runs a
    # micro-batch, so the sink dir may not exist — a valid run that
    # accepted 0 rows, not an error.
    try:
        n = spark.read.parquet(ingest.sink_path).count()
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" not in str(ex):
            raise
        n = 0
    return {"mode": "dedup", "accepted_rows": n}


def _stream_vector(spark: SparkSession, cfg: dict) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .fsutil import hadoop_fs
    from .operators.similarity import kmeans_centroids
    from .streaming.vector_ingest import (
        VectorIngest,
        bootstrap_sq8_stats,
        read_index_store,
    )

    run_keys = _DRAIN_KEYS + (
        "bootstrap_input", "n_cells", "dim",
        "search_queries", "search_k", "search_n_probe",
    )
    ingest = _gate(VectorIngest, spark, cfg, "vector stream-config", run_keys)
    id_col, vec_col, stats = ingest.id_col, ingest.vec_col, ingest.sq8_stats_path

    def _missing(path: str) -> bool:
        fs, jvm = hadoop_fs(spark, path)
        return not fs.exists(jvm.org.apache.hadoop.fs.Path(path))

    if cfg.get("bootstrap_input"):
        boot = spark.read.parquet(cfg["bootstrap_input"]).select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
        )
        if _missing(ingest.centroids_path):
            kmeans_centroids(
                boot, id_col=id_col, vec_col=vec_col, **_ints(cfg, n_cells="n_cells")
            ).write.parquet(ingest.centroids_path)
        if stats and _missing(stats):
            bootstrap_sq8_stats(boot, stats, vec_col=vec_col, **_ints(cfg, dim="dim"))
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )
    ingest.start(
        cfg["source_glob"],
        schema,
        max_files_per_trigger=cfg.get("max_files_per_trigger"),
    ).awaitTermination()
    quantized = stats is not None
    n = read_index_store(
        spark, ingest.store_path, id_col=id_col, vec_col=vec_col, quantized=quantized
    ).count()
    out = {"mode": "vector", "index_rows": n, "quantized": quantized}
    if cfg.get("search_queries"):
        hits = ingest.search(
            spark.read.parquet(cfg["search_queries"]),
            **_ints(cfg, k="search_k", n_probe="search_n_probe"),
        )
        out["search"] = _hits(hits, "query_id", "cand_id", "rank", "cosine_sim")
    return out


def _stream_hybrid(spark: SparkSession, cfg: dict) -> dict:
    from .streaming.bm25_ingest import Bm25IndexIngest
    from .streaming.hybrid_search import hybrid_search_from_stores
    from .streaming.vector_ingest import VectorIngest

    # Prefixed names (two stores in one config), not gate field names.
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
    # Search-only opens: no micro-batch runs, so neither checkpoint is
    # touched (or created).
    bm25 = Bm25IndexIngest(
        spark,
        store_path=cfg["bm25_store_path"],
        checkpoint_path=f"{cfg['bm25_store_path']}/_unused_ckpt",
        **_ints(cfg, n_buckets="bm25_n_buckets"),
    )
    vec = VectorIngest(
        spark,
        centroids_path=cfg["centroids_path"],
        store_path=cfg["vector_store_path"],
        checkpoint_path=f"{cfg['vector_store_path']}/_unused_ckpt",
        **{k: cfg[k] for k in ("id_col", "vec_col", "sq8_stats_path") if k in cfg},
    )
    fused = hybrid_search_from_stores(
        bm25,
        vec,
        spark.read.parquet(cfg["search_terms"]),
        spark.read.parquet(cfg["search_queries"]),
        **_ints(
            cfg,
            k="search_k",
            k0="rrf_k0",
            bm25_k="search_bm25_k",
            ann_k="search_ann_k",
            n_probe="search_n_probe",
        ),
    )
    return {
        "mode": "hybrid",
        "search": _hits(fused, "query_id", "cand_id", "rank", "rrf_score"),
    }


def _stream_compact(spark: SparkSession, cfg: dict) -> dict:
    # Store maintenance, not a stream: fold committed epoch dirs of one
    # gate family's store(s) into a single base dir so the per-batch/
    # per-search dir listing stops growing with batch count. Run it
    # OFFLINE (no stream draining the checkpoint) — the newest epoch is
    # never folded, so a stopped stream's replay target survives.
    from .streaming.asset_ingest import AssetIngest
    from .streaming.bm25_ingest import Bm25IndexIngest
    from .streaming.dedup_ingest import DedupIngest
    from .streaming.vector_ingest import VectorIngest

    families = {
        "dedup": DedupIngest,
        "vector": VectorIngest,
        "bm25": Bm25IndexIngest,
        "asset": AssetIngest,
    }
    target = cfg.get("target")
    if target not in families:
        raise ValueError(
            "compact config target must be 'dedup', 'vector', 'bm25' "
            f"or 'asset', got {target!r}"
        )
    upto = int(cfg["upto_epoch"])
    store = cfg.get("store_path")
    # Compaction never touches a checkpoint or sink: placeholders.
    fixed = {"checkpoint_path": f"{store}/_unused_ckpt"}
    if target == "dedup":
        fixed["sink_path"] = f"{store}/_unused_sink"
    gate = _gate(
        families[target],
        spark,
        cfg,
        f"compact/{target} config",
        ("mode", "target", "upto_epoch"),
        **fixed,
    )
    folded = gate.compact(upto)
    if target != "dedup":  # one store; dedup reports each of its stores
        folded = {store: folded}
    return {
        "mode": "compact",
        "target": target,
        "upto_epoch": upto,
        "folded_dirs": folded,
    }


_STREAM_MODES = {
    "dedup": _stream_dedup,
    "vector": _stream_vector,
    "hybrid": _stream_hybrid,
    "compact": _stream_compact,
}


def main_stream(argv: list[str] | None = None) -> int:
    """Streaming-gate entry: drain a parquet source directory through one
    of the streaming ingest gates per a JSON run config, and print one
    JSON line with the outcome.

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

    ``mode: "compact"`` — offline store maintenance: ``target`` picks
    the gate family (``dedup``, ``vector``, ``bm25`` or ``asset``) and
    ``upto_epoch`` the newest epoch to fold; the other keys are that
    family's ingest keys (its dataclass fields), and compaction reads
    only the store paths and layout among them.

    In the dedup, vector and compact modes the gate's keys are its
    dataclass fields, and a key the config leaves out keeps the
    dataclass default; search knobs left out keep the search
    function's defaults. Unknown keys are rejected loudly (a typo'd
    gate path silently disabling a gate would re-admit duplicates)."""
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
        cfg = json.load(fh)
    mode = cfg.get("mode")
    if mode not in _STREAM_MODES:
        raise ValueError(
            "stream config mode must be 'dedup', 'vector', 'hybrid' or "
            f"'compact', got {mode!r}"
        )
    with _session("cig-etl-stream") as spark:
        print(json.dumps(_STREAM_MODES[mode](spark, cfg)))
    return 0


def main_corpus(argv: list[str] | None = None) -> int:
    """Corpus-preparation entry: run the composed training-data pipeline
    (exact dedup -> near dedup -> quality floor -> decontamination ->
    optional token budget -> chunking) over a parquet corpus and publish
    the chunked output atomically via the manifest sink. The pipeline's
    knobs are the ``CorpusPrepConfig`` fields the config sets."""
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
        cfg = json.load(fh)

    from .plans.corpus_pipeline import (
        CorpusPrepConfig,
        prepare_corpus,
        write_training_shards,
    )
    from .sources.manifest_sink import write_snapshot

    knobs = CorpusPrepConfig(
        **{
            f.name: cfg[f.name]
            for f in dataclasses.fields(CorpusPrepConfig)
            if f.name in cfg
        }
    )
    with _session("cig-etl-corpus") as spark:
        docs = spark.read.parquet(cfg["input"])
        benchmark = (
            spark.read.parquet(cfg["benchmark"]) if cfg.get("benchmark") else None
        )
        if cfg.get("sharded"):
            # Terminal-stage mode: deterministic shard + pack-bin
            # assignment published EXACTLY-ONCE in waves (crash-resumable
            # — rerunning this entry after a mid-write death completes
            # only the missing shards; a completed run is a no-op).
            out = write_training_shards(
                docs,
                cfg["output"],
                benchmark=benchmark,
                cfg=knobs,
                **_ints(
                    cfg,
                    n_shards="n_shards",
                    bin_budget="bin_budget",
                    shards_per_commit="shards_per_commit",
                ),
            )
            print(json.dumps({"shards": out}))
            return 0
        chunks, stats = prepare_corpus(
            docs,
            benchmark=benchmark,
            cfg=knobs,
            with_stats=bool(cfg.get("stats", True)),
        )
        version = write_snapshot(chunks, cfg["output"], mode="append")
    print(json.dumps({"output_version": version, "stats": stats}))
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main_hosting())
