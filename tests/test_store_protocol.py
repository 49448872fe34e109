"""The streaming gates' shared epoch-store protocol (``streaming._store``):
the identity-marker check every keyed store runs, the one home of the
drain and the compaction, and the streaming ingest's marker ledger."""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
from pathlib import Path

import pytest

import cig_etl_s3_to_sql_data_ingestor_spark as pkg
from cig_etl_s3_to_sql_data_ingestor_spark.operators import dedup as D

PKG = Path(pkg.__file__).parent
STORE_MODULE = PKG / "streaming" / "_store.py"
TRIGGER = "trigger(availableNow=True)"


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"doc {i} alpha beta gamma delta word{i} epsilon") for i in range(lo, hi)],
        "doc_id long, text string",
    )


def _bm25(spark, tmp_path, value):
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.bm25_ingest import (
        Bm25IndexIngest,
    )

    ing = Bm25IndexIngest(
        spark,
        store_path=str(tmp_path / "bm25"),
        checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=value,
    )
    terms = spark.createDataFrame([(0, "alpha")], "query_id long, term string")
    return (
        ing,
        tmp_path / "bm25" / "postings",
        lambda e: ing._process_batch(_docs(spark, 3 * e, 3 * e + 3), e),
        lambda: ing.search(terms, k=3).collect(),
    )


def _cosine(spark, tmp_path, value):
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.dedup_ingest import (
        DedupIngest,
    )

    ing = DedupIngest(
        spark,
        store_path=str(tmp_path / "sigs"),
        sink_path=str(tmp_path / "accepted"),
        checkpoint_path=str(tmp_path / "ckpt"),
        cosine_store_path=str(tmp_path / "cosine"),
        cosine_n_buckets=value,
    )
    return (
        ing,
        tmp_path / "cosine" / "postings",
        lambda e: ing._process_batch(_docs(spark, 3 * e, 3 * e + 3), e),
        lambda: ing._classify(_docs(spark, 100, 102))[0].collect(),
    )


def _vector(spark, tmp_path, value):
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.vector_ingest import (
        VectorIngest,
    )

    cents = str(tmp_path / f"cents_{value}")
    if not os.path.exists(cents):
        spark.createDataFrame(
            [(c, [float(c == d) * value for d in range(3)]) for c in range(3)],
            "cell_id long, cell_vec array<double>",
        ).write.parquet(cents)
    ing = VectorIngest(
        spark,
        centroids_path=cents,
        store_path=str(tmp_path / "idx"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )

    def vecs(lo, hi):
        return spark.createDataFrame(
            [(i, [1.0 + i, (i % 3) * 2.0, 0.5]) for i in range(lo, hi)],
            "vec_id long, embedding array<double>",
        )

    return (
        ing,
        tmp_path / "idx",
        lambda e: ing._process_batch(vecs(3 * e, 3 * e + 3), e),
        lambda: ing.search(vecs(100, 101), k=2, n_probe=1).collect(),
    )


# (maker, marker key, the value a store is built with, another value)
CASES = {
    "bm25": (_bm25, "n_buckets", 16, 8),
    "dedup_cosine": (_cosine, "n_buckets", 16, 4),
    "vector": (_vector, "centroids_md5", 1, 2),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_store_identity_marker(spark, tmp_path, case):
    """Only a write stamps the marker; every open cross-checks it and a
    mismatch names the stored value."""
    make, key, value, other = CASES[case]
    ing, root, write, read = make(spark, tmp_path, value)

    def markers():
        names = os.listdir(root) if root.exists() else []
        return sorted(n for n in names if n.startswith(f".{key}="))

    read()  # a read-only open of a store that does not exist yet
    assert markers() == []
    write(0)
    assert len(markers()) == 1
    stamped = markers()[0]
    stored = stamped.split("=", 1)[1]
    if key == "n_buckets":
        assert stored == str(value)
    else:
        assert stored == ing._centroid_digest()

    # A pre-marker store: a read leaves it unmarked, the next write
    # stamps it again.
    shutil.rmtree(root / stamped)
    read()
    assert markers() == []
    write(1)
    assert markers() == [stamped]

    _, _, foreign_write, foreign_read = make(spark, tmp_path, other)
    with pytest.raises(ValueError, match=re.escape(f"{key}={stored}")):
        foreign_read()
    with pytest.raises(ValueError, match=re.escape(f"{key}={stored}")):
        foreign_write(2)
    assert markers() == [stamped]
    D.unpersist_all()


def test_epoch_store_protocol_lives_in_one_module():
    """The drain, the compaction's tmp-dir name and the marker stamp are
    written once, in ``streaming/_store.py``; no other module defines
    the compaction or its recovery."""
    for path in sorted((PKG / "streaming").glob("*.py")):
        if path == STORE_MODULE:
            continue
        src = path.read_text()
        for needle in (TRIGGER, ".compact_tmp_upto=", "fs.mkdirs("):
            assert needle not in src, f"{path.name} carries its own {needle!r}"
    defs = re.compile(
        r"^\s*def (_compact_epoch_store|recover_pending_compactions)\(", re.M
    )
    trigger_count = 0
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        trigger_count += src.count(TRIGGER)
        if path != STORE_MODULE:
            assert not defs.search(src), f"{path} defines a store compaction"
    assert trigger_count == 1


def test_streaming_ingest_compacts_marker_ledger_once_per_run(spark, tmp_path):
    """Each micro-batch appends one ledger file; each run compacts the
    ledger once before it drains, so the file count stays bounded and
    every ingested file stays recorded."""
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.marker import (
        ParquetMarkerLedger,
    )
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.ingest_stream import (
        StreamingIngest,
    )
    from tests.test_streaming import SCHEMA, SPEC, drop_file

    src, marker = tmp_path / "src", tmp_path / "marker"
    ingest = StreamingIngest(
        spark=spark,
        table=SPEC,
        schema=SCHEMA,
        environment="NL_Hosting_Mailbox",
        sink_path=str(tmp_path / "sink"),
        checkpoint_path=str(tmp_path / "ckpt"),
        marker_path=str(marker),
        ingestion_date=dt.date(2024, 1, 5),
    )
    ledger = ParquetMarkerLedger(spark, str(marker))
    for i in range(4):
        drop_file(spark, str(src), f"f{i}.parquet", [(f"id{i}", f"n{i}")])
        ingest.start(str(src) + "/*").awaitTermination(120)
        ledger_files = [f for f in os.listdir(marker) if not f.startswith(("_", "."))]
        assert len(ledger_files) <= 2, ledger_files
        for _, _, names in os.walk(src):
            for name in (n for n in names if n.endswith(".parquet")):
                assert ledger.exists(name, "NL_Hosting_Mailbox", SPEC.target_name)
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 4
