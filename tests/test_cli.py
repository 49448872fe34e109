"""Console entry points (`cli.py`): the reference's `main.py` /
`main_mailbox.py` operational surface — a JSON run config driving a full
ingest, hosting and mailbox layouts, parquet and Derby JDBC sinks."""

from __future__ import annotations

import json
import os
import uuid

import pytest

from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_hosting, main_mailbox
from cig_etl_s3_to_sql_data_ingestor_spark.sources.jdbc import (
    derby_memory_url,
    read_query,
)

from .test_pipeline import write_source

TABLES_CONFIG = [
    {
        "target_name": "HOST_CIG_Widgets",
        "source": "Widgets",
        "is_enabled": True,
        # Reference shape: bare column-name list (all nullable strings).
        "columns": ["ID", "Name", "Environment", "CIGCopyTime", "CIGProcessed"],
    },
    {
        "target_name": "HOST_CIG_Off",
        "source": "Off",
        "is_enabled": False,
        "columns": ["ID", "Name"],
    },
]


def _write_configs(tmp_path, data_root, extra):
    tables_path = tmp_path / "cig_tables.json"
    tables_path.write_text(json.dumps(TABLES_CONFIG))
    cfg = {
        "data_folder": data_root,
        # Relative on purpose: must resolve against the config file's
        # directory like the reference does (`main.py:163-164`).
        "tables_to_upload_config_file": "cig_tables.json",
        "ingestion_date": "2024-01-05",
        "logs_folder": "/tmp/ignored",  # reference key: must be ignored
        "ingest_from": "some-bucket",  # reference key: must be ignored
    }
    cfg.update(extra)
    cfg_path = tmp_path / "ingestion_config.json"
    cfg_path.write_text(json.dumps(cfg))
    return str(cfg_path)


def test_cli_hosting_parquet_sink(spark, tmp_path):
    root = str(tmp_path / "data")
    write_source(spark, root, "NL", "Widgets", "2024/01/05", "w1.parquet",
                 [("a", "x"), ("nan", "y")])
    write_source(spark, root, "NL", "Off", "2024/01/05", "off.parquet", [("d", "q")])
    sink = str(tmp_path / "sink")
    cfg = _write_configs(
        tmp_path, root, {"environments": ["NL"], "sink_root": sink}
    )
    assert main_hosting(["--ingestion_config_filename", cfg]) == 0
    out = spark.read.parquet(os.path.join(sink, "HOST_CIG_Widgets"))
    assert out.count() == 2
    # Disabled table must not be ingested.
    assert not os.path.exists(os.path.join(sink, "HOST_CIG_Off"))
    # Re-run: marker idempotency holds through the CLI path too.
    assert main_hosting(["--ingestion_config_filename", cfg]) == 0
    assert spark.read.parquet(os.path.join(sink, "HOST_CIG_Widgets")).count() == 2


def test_cli_hosting_jdbc_sink(spark, tmp_path):
    root = str(tmp_path / "data")
    write_source(spark, root, "NL", "Widgets", "2024/01/05", "w1.parquet",
                 [("a", "x"), ("b", "y"), ("c", "z")])
    url = derby_memory_url(f"cli{uuid.uuid4().hex[:12]}")
    cfg = _write_configs(
        tmp_path,
        root,
        {
            "environments": ["NL"],
            "ingest_to": url,
            "sink_root": str(tmp_path / "sink"),
        },
    )
    assert main_hosting(["--ingestion_config_filename", cfg]) == 0
    n = read_query(
        spark, url, "SELECT COUNT(*) AS n FROM HOST_CIG_Widgets"
    ).collect()[0][0]
    assert n == 3


def test_cli_mailbox_layout(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "data")
    # Mailbox layout: <root>/<DataSource>/<Entity>/<yyyy>/<mm>/<dd>/
    path = os.path.join(root, "NL_Hosting_Mailbox", "Widgets", "2024", "01", "05")
    os.makedirs(path)
    pq.write_table(
        pa.table({"ID": ["m1"], "Name": ["mb"]}), os.path.join(path, "m.parquet")
    )
    sink = str(tmp_path / "sink")
    cfg = _write_configs(
        tmp_path,
        root,
        {"data_sources": ["NL_Hosting_Mailbox"], "sink_root": sink},
    )
    assert main_mailbox(["--ingestion_config_filename", cfg]) == 0
    out = spark.read.parquet(os.path.join(sink, "HOST_CIG_Widgets"))
    rows = out.collect()
    assert len(rows) == 1
    # Environment derives from the data source (`main_mailbox.py:56`);
    # on the parquet sink it surfaces as the hive partition column
    # (case-insensitive resolution folds the data column into it).
    assert rows[0]["environment"] == "NL"


def test_cli_debug_single_file_filter(spark, tmp_path):
    """P9 (`main.py:38-39`): debug_file_name restricts the run to that one
    file; everything else stays un-ingested and un-marked."""
    root = str(tmp_path / "data")
    write_source(spark, root, "NL", "Widgets", "2024/01/05", "w1.parquet", [("a", "x")])
    write_source(spark, root, "NL", "Widgets", "2024/01/05", "w2.parquet", [("b", "y")])
    sink = str(tmp_path / "sink")
    cfg = _write_configs(
        tmp_path,
        root,
        {
            "environments": ["NL"],
            "sink_root": sink,
            "debug_file_name": "w1.parquet",
        },
    )
    assert main_hosting(["--ingestion_config_filename", cfg]) == 0
    out = spark.read.parquet(os.path.join(sink, "HOST_CIG_Widgets"))
    assert [r["ID"] for r in out.collect()] == ["a"]


def test_cli_monitor_reports_stale_entities(spark, tmp_path, capsys):
    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_monitor

    root = str(tmp_path / "data")
    write_source(spark, root, "NL", "Widgets", "2024/01/05", "w1.parquet", [("a", "x")])
    write_source(spark, root, "NL", "Gadgets", "2024/01/02", "g1.parquet", [("b", "y")])
    write_source(spark, root, "DE", "Widgets", "2024/01/01", "d1.parquet", [("c", "z")])
    cfg = _write_configs(
        tmp_path,
        root,
        {"environments_to_check": ["NL"], "ingestion_date": "2024-01-05"},
    )
    assert main_monitor(["--ingestion_config_filename", cfg]) == 0
    out = capsys.readouterr().out
    assert "STALE NL/Gadgets" in out
    assert "DE" not in out  # environments_to_check respected
    assert "NL/Widgets" not in out  # fresh entity not reported


def test_cli_missing_tables_config_raises(spark, tmp_path):
    cfg_path = tmp_path / "bad.json"
    cfg_path.write_text(
        json.dumps(
            {
                "data_folder": str(tmp_path),
                "tables_to_upload_config_file": "nope.json",
                "environments": ["NL"],
            }
        )
    )
    with pytest.raises(FileNotFoundError):
        main_hosting(["--ingestion_config_filename", str(cfg_path)])


def test_cli_optimize_compacts_and_zorders(spark, tmp_path, capsys):
    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_optimize

    path = str(tmp_path / "t")
    spark.range(0, 5000).selectExpr(
        "id", "cast(id % 97 as long) as a", "cast(id % 31 as long) as b"
    ).repartition(16).write.parquet(path)

    rc = main_optimize([path, "--target-file-mb", "1024"])
    assert rc == 0
    assert "compacted" in capsys.readouterr().out
    import glob

    assert len(glob.glob(f"{path}/part-*.parquet")) == 1
    assert spark.read.parquet(path).count() == 5000

    rc = main_optimize([path, "--target-file-mb", "1024", "--zorder", "a,b"])
    assert rc == 0
    assert "z-ordered" in capsys.readouterr().out
    got = spark.read.parquet(path)
    assert got.count() == 5000
    assert set(got.columns) == {"id", "a", "b"}


def test_corpus_cli_end_to_end(spark, sf_dir, tmp_path):
    import json

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_corpus
    from cig_etl_s3_to_sql_data_ingestor_spark.sources.manifest_sink import (
        read_snapshot,
    )

    out = str(tmp_path / "prepared")
    cfg = {
        "input": f"{sf_dir}/documents.parquet",
        "output": out,
        "quality_floor": 0.2,
        "chunk_size": 32,
        "chunk_overlap": 8,
        "stats": True,
    }
    cfg_path = tmp_path / "corpus_config.json"
    cfg_path.write_text(json.dumps(cfg))

    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main_corpus(["--corpus_config_filename", str(cfg_path)])
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["output_version"] == 1
    assert report["stats"]["chunks"] > 0
    chunks = read_snapshot(spark, out)
    assert chunks.count() == report["stats"]["chunks"]
    assert {"doc_id", "chunk_idx", "chunk_hash"} <= set(chunks.columns)


def test_cli_corpus_sharded_mode(spark, sf_dir, tmp_path):
    """main_corpus with "sharded": true runs the terminal shard writer:
    the published table is the deterministic shard/pack assignment, and
    a SECOND invocation of the same config is a resume no-op (zero
    written shards) — the crash-recovery contract exposed at the CLI."""
    import contextlib
    import io as _io
    import json

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_corpus
    from cig_etl_s3_to_sql_data_ingestor_spark.sources.manifest_sink import (
        read_snapshot,
    )

    out = str(tmp_path / "shards")
    cfg = {
        "input": f"{sf_dir}/documents.parquet",
        "output": out,
        "quality_floor": 0.2,
        "sharded": True,
        "n_shards": 8,
        "shards_per_commit": 3,
    }
    cfg_path = tmp_path / "corpus_config.json"
    cfg_path.write_text(json.dumps(cfg))

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main_corpus(["--corpus_config_filename", str(cfg_path)])
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])["shards"]
    assert report["written_shards"] > 0 and report["skipped_shards"] == 0

    table = read_snapshot(spark, out)
    assert table.count() == report["rows"]
    assert {"shard_id", "bin_id", "doc_id", "chunk_hash"} <= set(table.columns)

    buf2 = _io.StringIO()
    with contextlib.redirect_stdout(buf2):
        assert main_corpus(["--corpus_config_filename", str(cfg_path)]) == 0
    again = json.loads(buf2.getvalue().strip().splitlines()[-1])["shards"]
    assert again["written_shards"] == 0
    assert again["skipped_shards"] == report["written_shards"]


def test_cli_stream_vector_sq8_bootstrap_ingest_search(spark, sf_dir, tmp_path):
    """cig-etl-stream vector mode, SQ8 code-at-rest: one config drives
    bootstrap (centroids + frozen stats trained from the bootstrap
    parquet ONLY when missing), the quantized drain, and a post-drain
    search round-trip; the printed search rows match a direct
    VectorIngest.search on the same store. A config re-run must not
    retrain the frozen artifacts (their mtimes are the witness)."""
    import contextlib
    import io as _io
    import json
    import os

    from pyspark.sql import functions as F

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_stream
    from cig_etl_s3_to_sql_data_ingestor_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    boot_path = tmp_path / "boot.parquet"
    e.filter(F.col("vec_id") < 100).coalesce(1).write.parquet(str(boot_path))
    src = tmp_path / "vecs"
    src.mkdir()
    e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 140)).coalesce(
        1
    ).write.parquet(str(src / "b1"))
    qpath = tmp_path / "queries.parquet"
    e.filter(F.col("vec_id") < 3).coalesce(1).write.parquet(str(qpath))

    cfg = {
        "mode": "vector",
        "source_glob": f"{src}/*",
        "centroids_path": str(tmp_path / "centroids"),
        "store_path": str(tmp_path / "index"),
        "checkpoint_path": str(tmp_path / "ckpt"),
        "sq8_stats_path": str(tmp_path / "sq8_stats"),
        "bootstrap_input": str(boot_path),
        "n_cells": 4,
        "search_queries": str(qpath),
        "search_k": 3,
        "search_n_probe": 4,
    }
    cfg_path = tmp_path / "stream_config.json"
    cfg_path.write_text(json.dumps(cfg))

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main_stream(["--stream_config_filename", str(cfg_path)])
    assert rc == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["quantized"] is True
    assert out["index_rows"] == 40  # fixture vectors distinct: all admitted
    assert len(out["search"]) == 9  # 3 queries x k=3
    # Parity vs a direct open of the same store.
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.vector_ingest import (
        VectorIngest,
    )

    direct = VectorIngest(
        spark,
        centroids_path=cfg["centroids_path"],
        store_path=cfg["store_path"],
        checkpoint_path=str(tmp_path / "ckpt2"),
        sq8_stats_path=cfg["sq8_stats_path"],
    )
    want = [
        (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
        for r in direct.search(
            spark.read.parquet(str(qpath)), k=3, n_probe=4
        ).orderBy("query_id", "rank").collect()
    ]
    got = [
        (s["query_id"], s["cand_id"], s["rank"], s["cosine_sim"])
        for s in out["search"]
    ]
    assert got == want

    def _mtimes(path):
        return sorted(
            (f, os.path.getmtime(os.path.join(path, f)))
            for f in os.listdir(path)
        )

    stats_before = _mtimes(cfg["sq8_stats_path"])
    cents_before = _mtimes(cfg["centroids_path"])
    # Re-run: bootstrap must be a no-op (frozen artifacts untouched) and
    # the drain incremental (no new files -> index unchanged).
    buf2 = _io.StringIO()
    with contextlib.redirect_stdout(buf2):
        assert main_stream(["--stream_config_filename", str(cfg_path)]) == 0
    out2 = json.loads(buf2.getvalue().strip().splitlines()[-1])
    assert out2["index_rows"] == 40
    assert _mtimes(cfg["sq8_stats_path"]) == stats_before
    assert _mtimes(cfg["centroids_path"]) == cents_before


def test_cli_stream_dedup_with_cosine_gate(spark, tmp_path):
    """cig-etl-stream dedup mode with every gate configured: the JSON
    config drives the LSH, CDC, and lexical-cosine stores; a typo'd key
    is a loud error, not a silently-disabled gate."""
    import contextlib
    import io as _io
    import json

    import pytest as _pytest

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_stream

    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(
        [
            (1, "x y " * 40 + "alpha beta gamma delta epsilon"),
            (2, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b1"))
    # Lexically-close re-delivery of doc 1 in a LATER file (sequential
    # epochs via maxFilesPerTrigger=1): below the LSH threshold, no
    # chunk-aligned reuse — only the cosine gate's corpus-df blocking
    # catches it (same construction as the streaming gate test).
    spark.createDataFrame(
        [(3, "".join(f"x y x y sep{i} " for i in range(20)))],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b2"))

    cfg = {
        "mode": "dedup",
        "source_glob": f"{src}/*",
        "store_path": str(tmp_path / "store"),
        "sink_path": str(tmp_path / "accepted"),
        "checkpoint_path": str(tmp_path / "ckpt"),
        "cdc_store_path": str(tmp_path / "cdc"),
        "cosine_store_path": str(tmp_path / "cosine"),
        "tile_store_path": str(tmp_path / "tiles"),
        "max_files_per_trigger": 1,
    }
    cfg_path = tmp_path / "stream_config.json"
    cfg_path.write_text(json.dumps(cfg))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main_stream(["--stream_config_filename", str(cfg_path)]) == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    # Docs 1 and 2 admitted in epoch 0; doc 3 rejected by the cosine
    # gate against the grown store in epoch 1.
    assert out["accepted_rows"] == 2
    accepted = sorted(
        r.doc_id for r in spark.read.parquet(cfg["sink_path"]).collect()
    )
    assert accepted == [1, 2]
    # The tile store grew per epoch alongside the others.
    import glob as _glob

    assert _glob.glob(str(tmp_path / "tiles" / "epoch=*"))

    bad = dict(cfg, cosine_store_pth=str(tmp_path / "oops"))
    bad_path = tmp_path / "bad_config.json"
    bad_path.write_text(json.dumps(bad))
    with _pytest.raises(ValueError, match="unknown dedup stream-config keys"):
        main_stream(["--stream_config_filename", str(bad_path)])


def test_cli_stream_dedup_empty_backlog(spark, tmp_path):
    """A valid run whose source glob matches no files runs zero
    micro-batches — the sink dir never exists — and must report
    accepted_rows: 0, not crash with PATH_NOT_FOUND."""
    import contextlib
    import io as _io
    import json

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_stream

    src = tmp_path / "docs"
    src.mkdir()  # exists but empty: glob matches nothing
    cfg = {
        "mode": "dedup",
        "source_glob": f"{src}/*",
        "store_path": str(tmp_path / "store"),
        "sink_path": str(tmp_path / "accepted"),
        "checkpoint_path": str(tmp_path / "ckpt"),
    }
    cfg_path = tmp_path / "stream_config.json"
    cfg_path.write_text(json.dumps(cfg))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main_stream(["--stream_config_filename", str(cfg_path)]) == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out == {"mode": "dedup", "accepted_rows": 0}


def test_cli_stream_hybrid_search_round_trip(spark, sf_dir, tmp_path):
    """cig-etl-stream hybrid mode: search-only over two already-built
    stores — the JSON config names both store paths and the two query
    parquets, the printed rows equal hybrid_search_from_stores on the
    same stores, and a typo'd key is a loud error."""
    import contextlib
    import io as _io
    import json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_stream
    from cig_etl_s3_to_sql_data_ingestor_spark.io import load_table
    from cig_etl_s3_to_sql_data_ingestor_spark.operators import similarity as S
    from cig_etl_s3_to_sql_data_ingestor_spark.queries.mining import (
        BM25_QUERY_TERMS,
    )
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.bm25_ingest import (
        Bm25IndexIngest,
    )
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.hybrid_search import (
        hybrid_search_from_stores,
    )
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.vector_ingest import (
        VectorIngest,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents_path = str(tmp_path / "centroids")
    S.kmeans_centroids(e, n_cells=8).write.parquet(cents_path)
    bm25 = Bm25IndexIngest(
        spark,
        store_path=str(tmp_path / "bm25_index"),
        checkpoint_path=str(tmp_path / "bm25_ckpt"),
    )
    vec = VectorIngest(
        spark,
        centroids_path=cents_path,
        store_path=str(tmp_path / "vec_index"),
        checkpoint_path=str(tmp_path / "vec_ckpt"),
    )
    bm25._process_batch(docs, 0)
    vec._process_batch(e, 0)

    terms = spark.createDataFrame(
        list(BM25_QUERY_TERMS), "query_id long, term string"
    )
    qids = sorted({q for q, _ in BM25_QUERY_TERMS})
    queries = e.filter(F.col("vec_id").isin(qids))
    terms.write.parquet(str(tmp_path / "terms"))
    queries.write.parquet(str(tmp_path / "queries"))

    cfg = {
        "mode": "hybrid",
        "bm25_store_path": str(tmp_path / "bm25_index"),
        "vector_store_path": str(tmp_path / "vec_index"),
        "centroids_path": cents_path,
        "search_terms": str(tmp_path / "terms"),
        "search_queries": str(tmp_path / "queries"),
        "search_k": 5,
        "search_ann_k": 20,
        "search_n_probe": 4,
    }
    cfg_path = tmp_path / "hybrid_config.json"
    cfg_path.write_text(json.dumps(cfg))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main_stream(["--stream_config_filename", str(cfg_path)]) == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["mode"] == "hybrid"
    want = [
        {"query_id": r["query_id"], "cand_id": r["cand_id"],
         "rank": r["rank"], "rrf_score": r["rrf_score"]}
        for r in hybrid_search_from_stores(
            bm25, vec, terms, queries, k=5, ann_k=20, n_probe=4
        ).orderBy("query_id", "rank").collect()
    ]
    assert out["search"] == want and want

    bad = dict(cfg, search_termz=str(tmp_path / "terms"))
    bad_path = tmp_path / "bad_hybrid.json"
    bad_path.write_text(json.dumps(bad))
    with _pytest.raises(ValueError, match="unknown hybrid stream-config keys"):
        main_stream(["--stream_config_filename", str(bad_path)])


def test_cli_stream_compact_mode(spark, tmp_path):
    """cig-etl-stream ``compact`` mode: offline store maintenance folds
    a dedup gate family's committed epoch dirs via the JSON config, the
    gate still rejects a re-delivery through the folded store on the
    next ingest run, and typo'd keys / unknown targets are loud."""
    import contextlib
    import glob as _glob
    import io as _io
    import json

    import pytest as _pytest

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_stream

    src = tmp_path / "docs"
    src.mkdir()
    texts = {
        1: "x y " * 40 + "alpha beta gamma delta epsilon",
        2: "the quick brown fox jumps over the lazy dog",
        3: "pack my box with five dozen liquor jugs today",
    }
    for i, (doc_id, text) in enumerate(sorted(texts.items())):
        spark.createDataFrame(
            [(doc_id, text)], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    ingest_cfg = {
        "mode": "dedup",
        "source_glob": f"{src}/*",
        "store_path": str(tmp_path / "store"),
        "sink_path": str(tmp_path / "accepted"),
        "checkpoint_path": str(tmp_path / "ckpt"),
        "cdc_store_path": str(tmp_path / "cdc"),
        "tile_store_path": str(tmp_path / "tiles"),
        "max_files_per_trigger": 1,
    }
    cfg_path = tmp_path / "stream_config.json"
    cfg_path.write_text(json.dumps(ingest_cfg))
    with contextlib.redirect_stdout(_io.StringIO()):
        assert main_stream(["--stream_config_filename", str(cfg_path)]) == 0
    assert len(_glob.glob(str(tmp_path / "store" / "epoch=*"))) == 3

    compact_cfg = {
        "mode": "compact",
        "target": "dedup",
        "upto_epoch": 1,
        "store_path": ingest_cfg["store_path"],
        "cdc_store_path": ingest_cfg["cdc_store_path"],
        "tile_store_path": ingest_cfg["tile_store_path"],
    }
    cpath = tmp_path / "compact_config.json"
    cpath.write_text(json.dumps(compact_cfg))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main_stream(["--stream_config_filename", str(cpath)]) == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["mode"] == "compact" and out["target"] == "dedup"
    assert set(out["folded_dirs"].values()) == {2}
    assert len(_glob.glob(str(tmp_path / "store" / "epoch=*"))) == 2

    # The gate holds through the CLI-compacted base: a 4th delivery
    # re-sending doc 1 admits nothing new.
    spark.createDataFrame(
        [(10, texts[1])], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b3"))
    buf2 = _io.StringIO()
    with contextlib.redirect_stdout(buf2):
        assert main_stream(["--stream_config_filename", str(cfg_path)]) == 0
    out2 = json.loads(buf2.getvalue().strip().splitlines()[-1])
    assert out2["accepted_rows"] == 3

    bad = dict(compact_cfg, tile_store_pth="oops")
    bad_path = tmp_path / "bad_compact.json"
    bad_path.write_text(json.dumps(bad))
    with _pytest.raises(ValueError, match="unknown compact/dedup"):
        main_stream(["--stream_config_filename", str(bad_path)])
    worse = dict(compact_cfg, target="sketch")
    worse_path = tmp_path / "worse_compact.json"
    worse_path.write_text(json.dumps(worse))
    with _pytest.raises(ValueError, match="compact config target"):
        main_stream(["--stream_config_filename", str(worse_path)])


def test_cli_stream_dedup_embedding_gate(spark, tmp_path):
    """The dedup stream config drives the sixth (semantic) net: with
    ``embedding_store_path``/``embedding_centroids_path`` set the
    source schema gains the embedding column, a paraphrase-with-fresh-
    tokens re-delivery is dropped from the sink, and the compact mode
    folds the semantic store with the rest."""
    import contextlib
    import glob as _glob
    import io as _io
    import json

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_stream

    cents = str(tmp_path / "centroids")
    spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id long, cell_vec array<double>",
    ).write.parquet(cents)
    src = tmp_path / "docs"
    src.mkdir()
    schema_str = "doc_id long, text string, embedding array<double>"
    spark.createDataFrame(
        [(1, "the committee approved the new budget for the fiscal year",
          [1.0, 0.0, 0.0, 0.0])],
        schema_str,
    ).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(
        [(2, "pack my box with five dozen liquor jugs", [0.0, 1.0, 0.0, 0.0])],
        schema_str,
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(10, "finance panel green lights upcoming annual spending plan",
          [0.9999, 0.01, 0.0, 0.0])],
        schema_str,
    ).coalesce(1).write.parquet(str(src / "b2"))
    cfg = {
        "mode": "dedup",
        "source_glob": f"{src}/*",
        "store_path": str(tmp_path / "store"),
        "sink_path": str(tmp_path / "accepted"),
        "checkpoint_path": str(tmp_path / "ckpt"),
        "embedding_store_path": str(tmp_path / "emb"),
        "embedding_centroids_path": cents,
        "max_files_per_trigger": 1,
    }
    cfg_path = tmp_path / "stream_config.json"
    cfg_path.write_text(json.dumps(cfg))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main_stream(["--stream_config_filename", str(cfg_path)]) == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    # Doc 10 is a paraphrase of doc 1 (zero token overlap, near-equal
    # embedding): only the semantic gate rejects it.
    assert out["accepted_rows"] == 2
    assert sorted(
        r.doc_id for r in spark.read.parquet(cfg["sink_path"]).collect()
    ) == [1, 2]
    assert len(_glob.glob(str(tmp_path / "emb" / "epoch=*"))) == 3

    compact_cfg = {
        "mode": "compact",
        "target": "dedup",
        "upto_epoch": 1,
        "store_path": cfg["store_path"],
        "embedding_store_path": cfg["embedding_store_path"],
        "embedding_centroids_path": cents,
    }
    cpath = tmp_path / "compact_config.json"
    cpath.write_text(json.dumps(compact_cfg))
    buf2 = _io.StringIO()
    with contextlib.redirect_stdout(buf2):
        assert main_stream(["--stream_config_filename", str(cpath)]) == 0
    out2 = json.loads(buf2.getvalue().strip().splitlines()[-1])
    assert out2["folded_dirs"][cfg["embedding_store_path"]] == 2
    assert len(_glob.glob(str(tmp_path / "emb" / "epoch=*"))) == 2


def test_cli_stream_compact_accepts_family_ingest_keys(spark, tmp_path):
    """A compact config may carry the rest of its family's ingest keys
    (the gate dataclass fields: dedup ``threshold``, bm25 ``text_col``);
    compaction ignores them, and a key that is no field still raises."""
    import contextlib
    import io as _io
    import json

    import pytest as _pytest

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_stream
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.bm25_ingest import (
        Bm25IndexIngest,
    )
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.dedup_ingest import (
        DedupIngest,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs today",
        "a genuinely novel document about streaming ingest gates",
    ]
    dedup = DedupIngest(
        spark,
        store_path=str(tmp_path / "store"),
        sink_path=str(tmp_path / "accepted"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    bm25 = Bm25IndexIngest(
        spark,
        store_path=str(tmp_path / "bm25"),
        checkpoint_path=str(tmp_path / "bm25_ckpt"),
    )
    for epoch, text in enumerate(texts):
        batch = spark.createDataFrame([(epoch, text)], "doc_id long, text string")
        dedup._process_batch(batch, epoch)
        bm25._process_batch(batch, epoch)

    def compact(cfg):
        path = tmp_path / "compact_config.json"
        path.write_text(json.dumps(cfg))
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert main_stream(["--stream_config_filename", str(path)]) == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])["folded_dirs"]

    dedup_cfg = {
        "mode": "compact",
        "target": "dedup",
        "upto_epoch": 1,
        "store_path": str(tmp_path / "store"),
        "sink_path": str(tmp_path / "accepted"),
        "threshold": 0.4,
        "shingle_n": 3,
    }
    assert compact(dedup_cfg) == {str(tmp_path / "store"): 2}
    bm25_cfg = {
        "mode": "compact",
        "target": "bm25",
        "upto_epoch": 1,
        "store_path": str(tmp_path / "bm25"),
        "text_col": "text",
        "id_col": "doc_id",
    }
    assert compact(bm25_cfg) == {str(tmp_path / "bm25"): 2}
    with _pytest.raises(ValueError, match="unknown compact/bm25"):
        compact(dict(bm25_cfg, source_glob="ingest-only run key"))


def test_main_corpus_keeps_active_session_conf(spark, tmp_path):
    """The corpus entry runs in the caller's active session as it is: it
    must not re-apply the engine's builder conf over the session's own
    runtime SQL settings."""
    import contextlib
    import io as _io
    import json

    from cig_etl_s3_to_sql_data_ingestor_spark.cli import main_corpus

    docs = tmp_path / "docs.parquet"
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "pack my box with five dozen liquor jugs before the night ends"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(docs))
    cfg_path = tmp_path / "corpus_config.json"
    cfg_path.write_text(
        json.dumps(
            {"input": str(docs), "output": str(tmp_path / "out"), "stats": False}
        )
    )
    keys = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    before = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        spark.conf.set("spark.sql.session.timeZone", "Europe/Amsterdam")
        with contextlib.redirect_stdout(_io.StringIO()):
            assert main_corpus(["--corpus_config_filename", str(cfg_path)]) == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.session.timeZone") == "Europe/Amsterdam"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_cli_gates_and_sessions_have_one_home():
    """Each console entry takes its session from ``_session`` and each
    streaming gate is built from its dataclass: no entry resolves a
    session itself, the hybrid mode's prefixed key set is the only
    hand-kept one, and no gate default is restated."""
    import ast

    from cig_etl_s3_to_sql_data_ingestor_spark import cli

    src = open(cli.__file__).read()
    session_fn = next(
        n
        for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "_session"
    )
    inside = range(session_fn.lineno, session_fn.end_lineno + 1)
    for name in ("getActiveSession", "get_spark"):
        lines = [
            i for i, line in enumerate(src.splitlines(), 1) if name in line
        ]
        assert lines and all(i in inside for i in lines), (name, lines)
    assert src.count("allowed = {") == 1
    assert "0.995" not in src and '"vec_id"' not in src
