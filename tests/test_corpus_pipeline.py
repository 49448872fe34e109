"""End-to-end corpus-preparation pipeline tests (plans.corpus_pipeline)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cig_etl_s3_to_sql_data_ingestor_spark.io import load_table
from cig_etl_s3_to_sql_data_ingestor_spark.operators.dedup import unpersist_all
from cig_etl_s3_to_sql_data_ingestor_spark.plans.corpus_pipeline import (
    CorpusPrepConfig,
    prepare_corpus,
)


def test_pipeline_on_synthetic_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "s"),
        (2, "the quick brown fox jumps over the lazy dog again and again", "s"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog again and once", "s"),  # near dup of 1
        (4, "!!! ??? ###", "s"),  # junk -> quality floor
        (5, "completely different content about databases and the engines the", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    try:
        chunks, stats = prepare_corpus(docs, with_stats=True)
        surviving = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
        assert stats["input"] == 5
        assert stats["after_exact_dedup"] == 4  # doc 2 dropped
        assert stats["after_near_dedup"] == 3  # doc 3 dropped
        assert stats["after_quality"] == 2  # doc 4 dropped
        assert surviving == {1, 5}
        assert stats["chunks"] >= 2
    finally:
        unpersist_all()


def test_pipeline_decontamination_drops_benchmark_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta the of and", "s"),
            (2, "nothing in common with the benchmark at all here folks okay", "s"),
        ],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon zeta eta theta the of and", "b")],
        "doc_id long, text string, source string",
    )
    cfg = CorpusPrepConfig(contamination_max=0.5, quality_floor=0.0)
    try:
        chunks, stats = prepare_corpus(docs, benchmark=bench, cfg=cfg, with_stats=True)
        surviving = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
        assert surviving == {2}
        assert stats["after_decontamination"] == 1
    finally:
        unpersist_all()


def test_pipeline_runs_on_testdata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    try:
        chunks, stats = prepare_corpus(docs, benchmark=bench, with_stats=True)
        assert stats["input"] > 0
        # monotone survivor counts
        order = [
            "input",
            "after_exact_dedup",
            "after_near_dedup",
            "after_quality",
            "after_decontamination",
        ]
        vals = [stats[k] for k in order]
        assert vals == sorted(vals, reverse=True)
        assert chunks.columns == [
            "doc_id",
            "chunk_idx",
            "chunk_start",
            "n_chunk_tokens",
            "chunk_hash",
        ]
        assert stats["chunks"] >= stats["after_decontamination"]
    finally:
        unpersist_all()


def test_pipeline_canonical_by_quality_keeps_best_member(spark):
    """With canonical_by_quality the near-dup survivor is the best-scored
    doc, not the smallest id: doc 2 repeats a near-identical text but has
    heavy punctuation noise, so quality favors its higher-id twin."""
    core = "the quick brown fox jumps over the lazy dog near the old river bank"
    docs = spark.createDataFrame(
        [
            # Jaccard(1,2)=0.857 (verified pair); the pure-punctuation
            # tail tanks doc 1's punct factor: scores 0.41 vs 0.61.
            (1, core + " !!!!!!!!!!!!"),
            (2, core + " peacefully"),
            (3, "a completely separate document about sequence packing budgets"),
        ],
        ["doc_id", "text"],
    )
    base = CorpusPrepConfig(quality_floor=0.0, chunk_size=8, chunk_overlap=2)
    chunks_min, _ = prepare_corpus(docs, cfg=base)
    survivors_min = {r.doc_id for r in chunks_min.select("doc_id").distinct().collect()}
    unpersist_all()
    by_q = CorpusPrepConfig(
        quality_floor=0.0, chunk_size=8, chunk_overlap=2, canonical_by_quality=True
    )
    chunks_q, _ = prepare_corpus(docs, cfg=by_q)
    survivors_q = {r.doc_id for r in chunks_q.select("doc_id").distinct().collect()}
    unpersist_all()
    assert survivors_min == {1, 3}  # min-id keeps the noisy doc
    assert survivors_q == {2, 3}  # quality rule keeps the clean twin


def test_pipeline_token_budget_caps_survivors(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    uncapped, _ = prepare_corpus(docs, cfg=CorpusPrepConfig(quality_floor=0.0))
    n_uncapped = uncapped.select("doc_id").distinct().count()
    unpersist_all()
    capped, stats = prepare_corpus(
        docs,
        cfg=CorpusPrepConfig(quality_floor=0.0, token_budget=3000),
        with_stats=True,
    )
    n_capped = capped.select("doc_id").distinct().count()
    unpersist_all()
    assert 0 < n_capped < n_uncapped
    assert stats["after_budget"] == n_capped


# --- terminal shard writer (round 8) ----------------------------------------


def _shard_rows(spark, table):
    from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as ms

    return {
        tuple(r)
        for r in ms.read_snapshot(spark, table)
        .select("shard_id", "doc_id", "chunk_idx", "chunk_hash", "bin_id")
        .collect()
    }


def test_write_training_shards_end_to_end_and_idempotent(spark, sf_dir, tmp_path):
    """The composed terminal stage: dedup→filter→chunk→shard→publish.
    A completed table matches the deterministic assignment exactly; a
    re-run is a no-op (zero written shards, version unchanged)."""
    from cig_etl_s3_to_sql_data_ingestor_spark.operators import corpus_prep as cp
    from cig_etl_s3_to_sql_data_ingestor_spark.plans.corpus_pipeline import (
        write_training_shards,
    )
    from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as ms

    docs = load_table(spark, sf_dir, "documents")
    table = str(tmp_path / "shards")
    try:
        out = write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
        assert out["skipped_shards"] == 0
        assert out["written_shards"] > 0
        assert out["rows"] > 0

        # The published rows ARE the deterministic assignment.
        chunks, _ = prepare_corpus(docs)
        want = {
            tuple(r)
            for r in cp.shard_pack_assignments(chunks, n_shards=8)
            .select("shard_id", "doc_id", "chunk_idx", "chunk_hash", "bin_id")
            .collect()
        }
        assert _shard_rows(spark, table) == want
        # No duplicate chunk rows anywhere in the snapshot.
        snap = ms.read_snapshot(spark, table)
        assert snap.count() == snap.select("doc_id", "chunk_idx").distinct().count()

        v1 = ms.current_version(spark, table)
        again = write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
        assert again["written_shards"] == 0
        assert again["skipped_shards"] == out["written_shards"]
        assert ms.current_version(spark, table) == v1  # no empty commits
        assert _shard_rows(spark, table) == want
    finally:
        unpersist_all()


def test_write_training_shards_crash_between_waves_resumes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash drill at BOTH windows of the wave protocol: (a) between
    waves (first wave committed, second never started) and (b) inside a
    wave after its data landed but before its manifest commit (the
    orphan-batch window). Resume must produce a complete table with no
    duplicate or missing shards, and vacuum reclaims the orphan."""
    import uuid

    import pytest

    from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline as cpl
    from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as ms

    docs = load_table(spark, sf_dir, "documents")
    table = str(tmp_path / "shards")
    real_write = ms.write_snapshot
    calls = {"n": 0}

    def crashy(df, table_path, mode="append", **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            # (b) the orphan window: data lands, manifest commit never
            # happens (exactly what a driver death there leaves behind).
            df.write.parquet(f"{table_path}/data/batch-{uuid.uuid4().hex}")
            raise RuntimeError("injected crash before manifest commit")
        return real_write(df, table_path, mode=mode, **kw)

    monkeypatch.setattr(ms, "write_snapshot", crashy)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            cpl.write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
        monkeypatch.setattr(ms, "write_snapshot", real_write)

        # Partial state: wave 1 visible, orphan invisible to readers.
        partial = {
            r[0]
            for r in ms.read_snapshot(spark, table)
            .select("shard_id")
            .distinct()
            .collect()
        }
        assert 0 < len(partial) <= 3

        # The recorded plan matches but shards are missing: the resume
        # takes the full path and writes exactly the missing shards.
        calls = _spy_prepare(monkeypatch, cpl)
        waves = _record_waves(monkeypatch, ms)
        out = cpl.write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
        assert out["skipped_shards"] == len(partial)
        assert calls == [1]
        written = [s for wave in waves for s in wave]
        assert len(written) == len(set(written)) == out["written_shards"]
        assert not set(written) & partial

        # Complete, no duplicates (write_training_shards' verify pass
        # already raised if not; assert independently anyway).
        snap = ms.read_snapshot(spark, table)
        assert snap.count() == snap.select("doc_id", "chunk_idx").distinct().count()
        from cig_etl_s3_to_sql_data_ingestor_spark.operators import corpus_prep as cp

        chunks, _ = prepare_corpus(docs)
        assert snap.count() == cp.shard_pack_assignments(chunks, n_shards=8).count()

        # The crashed wave's data dir is an orphan: reclaimed by vacuum,
        # and the snapshot survives it intact.
        n_before = snap.count()
        assert ms.vacuum(spark, table, retention_seconds=0.0) >= 1
        assert ms.read_snapshot(spark, table).count() == n_before
    finally:
        unpersist_all()


def test_content_digests_ignore_order_and_partitioning(spark):
    """The plan fingerprint's input digest depends on the rows alone:
    not on their order or partitioning, but on every value, the row
    multiplicity and the schema; a map column is hashed too."""
    from cig_etl_s3_to_sql_data_ingestor_spark.plans.corpus_pipeline import (
        content_digests,
    )

    rows = [(i, f"text {i}", {"k": i}) for i in range(20)]
    schema = "doc_id long, text string, meta map<string,int>"
    df = spark.createDataFrame(rows, schema)
    shuffled = spark.createDataFrame(list(reversed(rows)), schema).repartition(5)
    longer = spark.createDataFrame([(0, "text 0 more", {"k": 0})] + rows[1:], schema)
    doubled = spark.createDataFrame(rows + rows[:1], schema)
    retyped = df.withColumn("doc_id", F.col("doc_id").cast("int"))
    d = content_digests(
        {"a": df, "b": shuffled, "c": longer, "d": doubled, "e": retyped, "f": df.limit(0)}
    )
    assert d["a"] == d["b"]
    assert d["a"]["rows"] == 20 and d["d"]["rows"] == 21
    for other in "cde":
        assert d[other] != d["a"]
    assert d["c"]["xxhash64_sum"] != d["a"]["xxhash64_sum"]
    assert d["c"]["md5_sum"] != d["a"]["md5_sum"]
    assert d["f"] == {**d["a"], "rows": 0, "xxhash64_sum": "0", "md5_sum": "0"}


def _spy_prepare(monkeypatch, cpl) -> list:
    """Count calls of ``corpus_pipeline.prepare_corpus``."""
    calls: list = []
    real = cpl.prepare_corpus

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(cpl, "prepare_corpus", spy)
    return calls


def _record_waves(monkeypatch, ms) -> list:
    """The shard ids of every batch ``write_snapshot`` commits."""
    waves: list = []
    real = ms.write_snapshot

    def recording(df, *args, **kwargs):
        waves.append(sorted(r[0] for r in df.select("shard_id").distinct().collect()))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(ms, "write_snapshot", recording)
    return waves


def _jobs_started(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _cached(spark) -> tuple[int, int]:
    from cig_etl_s3_to_sql_data_ingestor_spark.operators import dedup

    return len(dedup._PERSISTED), spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def finished_shards(spark, sf_dir, tmp_path_factory):
    """A finished 8-shard publish of the test documents; tests that
    change the table work on a copy."""
    from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline as cpl

    docs = load_table(spark, sf_dir, "documents")
    table = str(tmp_path_factory.mktemp("finished") / "shards")
    out = cpl.write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
    return docs, table, out


def _recomputed_counts_differ(spark, docs, table, n_shards) -> bool:
    """Whether the full path's recomputed per-shard counts differ from
    the finished table's — what makes its verify raise when, as in the
    cases here, no shard is missing."""
    from cig_etl_s3_to_sql_data_ingestor_spark.operators import corpus_prep as cp
    from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as ms

    def counts(df):
        return dict(df.groupBy("shard_id").count().collect())

    chunks, _ = prepare_corpus(docs)
    want = counts(cp.shard_pack_assignments(chunks, n_shards=n_shards))
    unpersist_all()
    snap = counts(ms.read_snapshot(spark, table))
    assert want.keys() <= snap.keys()
    return want != snap


def test_write_training_shards_rerun_on_finished_table_skips_lineage(
    spark, finished_shards, monkeypatch
):
    """A re-run of the same plan on a finished table checks the plan
    recorded in the manifest and the snapshot's per-shard counts: it
    never recomputes the lineage, launches a handful of Spark jobs, and
    returns what the full path returns."""
    from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline as cpl
    from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as ms

    docs, table, out = finished_shards
    v = ms.current_version(spark, table)
    calls = _spy_prepare(monkeypatch, cpl)
    jobs0 = _jobs_started(spark)
    again = cpl.write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
    assert _jobs_started(spark) - jobs0 <= 6
    assert calls == []
    assert again == {
        "written_shards": 0,
        "skipped_shards": out["written_shards"],
        "rows": out["rows"],
    }
    assert ms.current_version(spark, table) == v


@pytest.mark.parametrize("change", ["longer_text", "fewer_shards"])
def test_write_training_shards_changed_plan_takes_full_path(
    spark, finished_shards, monkeypatch, change
):
    """A changed input or shard count never passes for a finished run:
    the lineage is recomputed and the result is the full path's — here
    the verify error, as the recomputed counts disagree with the table."""
    from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline as cpl
    from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as ms

    docs, table, _ = finished_shards
    n_shards = 8
    if change == "longer_text":
        # One surviving document, one token longer per chunk it had.
        doc_id, n = (
            ms.read_snapshot(spark, table)
            .groupBy("doc_id")
            .count()
            .orderBy(F.desc("count"), "doc_id")
            .first()
        )
        pad = " ".join(f"padword{i}" for i in range(32 * n))
        docs = docs.withColumn(
            "text",
            F.when(F.col("doc_id") == doc_id, F.concat_ws(" ", "text", F.lit(pad)))
            .otherwise(F.col("text")),
        )
    else:
        n_shards = 6
    assert _recomputed_counts_differ(spark, docs, table, n_shards)
    v = ms.current_version(spark, table)
    calls = _spy_prepare(monkeypatch, cpl)
    try:
        with pytest.raises(RuntimeError, match="training-shard verify failed"):
            cpl.write_training_shards(
                docs, table, n_shards=n_shards, shards_per_commit=3
            )
    finally:
        unpersist_all()
    assert calls == [1]
    assert ms.current_version(spark, table) == v


def test_write_training_shards_duplicate_batch_of_same_plan_fails_verify(
    spark, finished_shards, tmp_path, monkeypatch
):
    """A concurrent writer of the same plan that commits one shard again
    (with the same recorded plan) leaves counts that disagree with the
    record: the re-run raises the verify error without the lineage."""
    import shutil

    from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline as cpl
    from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as ms

    docs, finished, _ = finished_shards
    table = str(tmp_path / "shards")
    shutil.copytree(finished, table)
    _, info = ms.latest_info(spark, table)
    snap = ms.read_snapshot(spark, table)
    shard = snap.select(F.min("shard_id")).first()[0]
    ms.write_snapshot(snap.filter(F.col("shard_id") == shard), table, info=info)
    calls = _spy_prepare(monkeypatch, cpl)
    with pytest.raises(RuntimeError, match="training-shard verify failed"):
        cpl.write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
    assert calls == []


def test_write_training_shards_releases_its_caches(spark, sf_dir, tmp_path):
    """A publish and a resume leave the session's caches as they found
    them: the frames the dedup operators persisted for the lineage
    (including connected_components' checkpoints) and the assignment are
    released, and frames registered before the call stay cached."""
    from cig_etl_s3_to_sql_data_ingestor_spark.operators import dedup
    from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline as cpl

    docs = load_table(spark, sf_dir, "documents")
    table = str(tmp_path / "shards")
    held = dedup._persist(spark.range(10))
    held.count()
    try:
        before = _cached(spark)
        cpl.write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
        assert _cached(spark) == before
        cpl.write_training_shards(docs, table, n_shards=8, shards_per_commit=3)
        assert _cached(spark) == before
        assert held.is_cached and dedup._PERSISTED[-1] is held
    finally:
        unpersist_all()


def test_write_training_shards_empty_corpus_is_clean_noop(spark, tmp_path):
    """A corpus the filters drop entirely publishes nothing and returns
    cleanly — the verify pass must treat a table with no committed
    version as an empty snapshot, not a read error (self-review catch:
    read_snapshot raises FileNotFoundError on version 0)."""
    from cig_etl_s3_to_sql_data_ingestor_spark.plans.corpus_pipeline import (
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(1, "!!! ??? ###", "s")], "doc_id long, text string, source string"
    )  # junk text -> dropped by the quality floor; nothing survives
    try:
        out = write_training_shards(
            docs, str(tmp_path / "shards"), n_shards=4, shards_per_commit=2
        )
        assert out == {"written_shards": 0, "skipped_shards": 0, "rows": 0}
    finally:
        unpersist_all()


def test_pipeline_frequent_segment_stage_catches_sub_jaccard_reuse(spark):
    """The optional CCNet segment stage drops a doc that is MOSTLY
    borrowed tiles even when minhash misses the pair (a short doc
    quoting a long one shares few shingles relative to the union but
    is itself dominated by shared tiles). Off by default."""
    import random

    rng = random.Random(3)
    shared = " ".join(f"s{i}" for i in range(16))           # 2 full tiles
    quoter = shared + " q1 q2 q3 q4 q5 q6 q7 q8"            # 2/3 tiles shared
    source_doc = shared + " " + " ".join(
        f"u{i}" for i in range(48)                          # long host doc
    )
    filler = [
        (
            i,
            " ".join(
                rng.choice([f"w{j}" for j in range(40)]) for _ in range(30)
            ),
            "s",
        )
        for i in range(10, 16)
    ]
    rows = [(1, quoter, "s"), (2, source_doc, "s")] + filler
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    base = CorpusPrepConfig(quality_floor=0.0)
    try:
        chunks_off, _ = prepare_corpus(docs, cfg=base)
        ids_off = {r.doc_id for r in chunks_off.select("doc_id").distinct().collect()}
        # minhash alone keeps BOTH (Jaccard below threshold) — the gap
        # the segment stage exists to close.
        assert {1, 2} <= ids_off
        seg = CorpusPrepConfig(quality_floor=0.0, frequent_segment_max=0.5)
        chunks_on, stats = prepare_corpus(docs, cfg=seg, with_stats=True)
        ids_on = {r.doc_id for r in chunks_on.select("doc_id").distinct().collect()}
        assert 1 not in ids_on      # 2/3 of its tiles are borrowed
        assert 2 in ids_on          # host doc: 2/8 tiles shared -> kept
        assert stats["after_segment_dedup"] == stats["after_near_dedup"] - 1
    finally:
        unpersist_all()
