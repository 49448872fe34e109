"""Per-batch cache release in the streaming gates: a drained epoch frees
exactly the frames it persisted, and nothing another caller registered
in the session's release pool."""

from __future__ import annotations

from pyspark.sql import types as T

from cig_etl_s3_to_sql_data_ingestor_spark.operators import dedup as D

DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs today",
    "a genuinely novel document about streaming ingest gates",
]


def write_docs(spark, src, texts):
    for i, text in enumerate(texts):
        spark.createDataFrame([(i, text)], DOC_SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )


def cache_state(spark):
    return len(D._PERSISTED), spark.sparkContext._jsc.getPersistentRDDs().size()


def test_bm25_drain_releases_each_batch_cache(spark, tmp_path):
    """Each BM25 batch persists its tokenized docs for its two writes;
    a three-file, one-file-per-trigger drain must leave the release pool
    and the session's persistent RDDs as it found them."""
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.bm25_ingest import (
        Bm25IndexIngest,
    )

    src = tmp_path / "docs"
    src.mkdir()
    write_docs(spark, src, TEXTS)
    ingest = Bm25IndexIngest(
        spark,
        store_path=str(tmp_path / "bm25"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    before = cache_state(spark)
    ingest.start(f"{src}/*", DOC_SCHEMA, max_files_per_trigger=1).awaitTermination(
        180
    )
    assert cache_state(spark) == before
    _, _, stats = ingest.read_index()
    assert stats.first()["n_docs"] == 3


def test_dedup_drain_keeps_other_callers_cache(spark, tmp_path):
    """A dedup batch releases the frames its own gates persisted, not the
    whole session pool: a frame registered before the drain stays
    registered and cached."""
    from cig_etl_s3_to_sql_data_ingestor_spark.streaming.dedup_ingest import (
        DedupIngest,
    )

    src = tmp_path / "docs"
    src.mkdir()
    write_docs(spark, src, TEXTS[:1])
    ingest = DedupIngest(
        spark,
        store_path=str(tmp_path / "store"),
        sink_path=str(tmp_path / "accepted"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    with D.released_on_exit():
        mine = D._persist(spark.range(10))
        assert mine.count() == 10
        before = cache_state(spark)
        ingest.start(f"{src}/*", DOC_SCHEMA).awaitTermination(120)
        assert any(entry is mine for entry in D._PERSISTED)
        assert mine.is_cached and mine.storageLevel.useMemory
        assert cache_state(spark) == before
    assert spark.read.parquet(str(tmp_path / "accepted")).count() == 1
