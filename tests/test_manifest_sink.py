"""Manifest-committed parquet tables: snapshot atomicity without renames."""

from __future__ import annotations

import pytest

from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as M


def test_append_versions_accumulate(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = M.write_snapshot(spark.range(0, 10), t, mode="append")
    v2 = M.write_snapshot(spark.range(10, 15), t, mode="append")
    assert (v1, v2) == (1, 2)
    assert M.current_version(spark, t) == 2
    assert M.read_snapshot(spark, t).count() == 15
    # time travel: version 1 still readable and unchanged
    assert M.read_snapshot(spark, t, version=1).count() == 10


def test_overwrite_replaces_snapshot(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 10), t, mode="append")
    M.write_snapshot(spark.range(0, 3), t, mode="overwrite")
    assert M.read_snapshot(spark, t).count() == 3


def test_orphan_batch_is_invisible_and_vacuumed(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 10), t)
    # Simulate a writer that crashed after the data write, before the
    # manifest commit: a batch directory with no manifest entry.
    orphan = tmp_path / "tbl" / "data" / "batch-deadbeef"
    spark.range(100, 200).write.parquet(str(orphan))
    assert M.read_snapshot(spark, t).count() == 10  # invisible
    # Younger than retention -> an in-flight writer may still own it:
    # the default-retention vacuum must keep it.
    assert M.vacuum(spark, t) == 0
    assert orphan.exists()
    # Past retention it is reclaimable.
    assert M.vacuum(spark, t, retention_seconds=-1.0) == 1
    assert not orphan.exists()
    assert M.read_snapshot(spark, t).count() == 10


def test_lost_claim_rebases_and_retries(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 5), t)
    # Another writer claims v2 between our data write and commit: simulate
    # by pre-creating the v2 manifest file with a valid snapshot.
    mdir = tmp_path / "tbl" / "_manifests"
    import json

    v1 = json.loads((mdir / "v1.json").read_text())
    (mdir / "v2.json").write_text(
        json.dumps({"version": 2, "mode": "append", "batches": v1["batches"]})
    )
    v = M.write_snapshot(spark.range(5, 9), t, mode="append")
    assert v == 3
    # The rebased append sees v2's batches plus its own.
    assert M.read_snapshot(spark, t).count() == 9


def test_empty_table_reads_fail_loudly(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        M.read_snapshot(spark, str(tmp_path / "none"))


def test_vacuum_after_overwrite_reclaims_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 10), t, mode="append")
    M.write_snapshot(spark.range(0, 3), t, mode="overwrite")
    # version-1 batch reclaimed (negative retention: everything is old)
    assert M.vacuum(spark, t, retention_seconds=-1.0) == 1
    assert M.read_snapshot(spark, t).count() == 3


def test_dead_claim_is_skipped_and_committed_above(spark, tmp_path, monkeypatch):
    """A writer that wins the create claim but dies before writing the
    manifest must not wedge the table: readers skip the unparsable
    version, and the next writer commits above it after the grace."""
    monkeypatch.setattr(M, "CLAIM_GRACE_SECONDS", 0.2)
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 5), t)
    mdir = tmp_path / "tbl" / "_manifests"
    (mdir / "v2.json").write_text("")  # claimed, never written
    # Readers: v2 is uncommitted; latest committed snapshot still reads.
    assert M.current_version(spark, t) == 1
    assert M.read_snapshot(spark, t).count() == 5
    # Writers: claim above the dead v2, rebasing on v1's batches.
    v = M.write_snapshot(spark.range(5, 9), t, mode="append")
    assert v == 3
    assert M.read_snapshot(spark, t).count() == 9
    # The dead claim stays dead; history is still consistent.
    assert M.current_version(spark, t) == 3


def test_lost_claim_error_chains_the_cause(spark, tmp_path, monkeypatch):
    """Exhausting max_retries must surface the underlying claim failure
    as the exception cause, not a bare 'lost the claim' message."""
    import pytest

    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 5), t)
    real = M._manifest_path
    # Every claim attempt collides with the existing v1 manifest.
    monkeypatch.setattr(M, "_manifest_path", lambda jvm, tp, v: real(jvm, tp, 1))
    with pytest.raises(RuntimeError, match="lost the manifest claim") as ei:
        M.write_snapshot(spark.range(5, 9), t, mode="append", max_retries=2)
    assert ei.value.__cause__ is not None
    assert "exist" in str(ei.value.__cause__).lower()


def test_nonexists_create_failure_raises_immediately(spark, tmp_path, monkeypatch):
    """A create failure that is NOT already-exists (here: the manifest
    'directory' is actually a file, so mkdirs fails) must surface
    immediately instead of being retried into a misleading lost-claim
    error."""
    import pytest

    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 5), t)
    blocker = tmp_path / "blocker"
    blocker.write_text("i am a file, not a directory")

    real = M._manifest_path
    jvm_path = lambda jvm, p: jvm.org.apache.hadoop.fs.Path(p)  # noqa: E731
    monkeypatch.setattr(
        M,
        "_manifest_path",
        lambda jvm, tp, v: jvm_path(jvm, f"{blocker}/sub/v{v}.json"),
    )
    with pytest.raises(Exception) as ei:
        M.write_snapshot(spark.range(5, 9), t, mode="append", max_retries=3)
    assert "lost the manifest claim" not in str(ei.value)
    monkeypatch.setattr(M, "_manifest_path", real)


def test_append_raced_out_of_lineage_fails_loudly(spark, tmp_path, monkeypatch):
    """A writer stalled between its claim create and manifest write long
    enough for a concurrent writer to expire the grace must NOT return
    success: its batch is absent from the committed lineage, and the
    post-write verification converts that silent loss into a loud
    RuntimeError (review finding: 2 s grace vs realistic GC pauses)."""
    import json as _json
    import threading
    import time as _time

    monkeypatch.setattr(M, "CLAIM_GRACE_SECONDS", 0.2)
    table = str(tmp_path / "tbl")
    real_dumps = _json.dumps

    def stalling_dumps(obj, *a, **kw):
        # Deterministic: only writer A's thread stalls — keying on call
        # order would stall whichever writer reached dumps first under
        # load, flaking the test.
        if threading.current_thread().name == "writer-a":
            _time.sleep(1.2)
        return real_dumps(obj, *a, **kw)

    monkeypatch.setattr(M.json, "dumps", stalling_dumps)

    df = spark.range(3).toDF("id")
    errors: list[Exception] = []

    def writer_a():
        try:
            M.write_snapshot(df, table, mode="append")
        except Exception as exc:  # expected: raced out
            errors.append(exc)

    ta = threading.Thread(target=writer_a, name="writer-a")
    ta.start()
    _time.sleep(0.3)  # let A claim v1 and stall inside dumps
    v_b = M.write_snapshot(spark.range(5).toDF("id"), table, mode="append")
    ta.join(timeout=30)
    assert v_b >= 1
    assert errors and "raced out of the manifest lineage" in str(errors[0])
    # The committed snapshot is B's — consistent, just without A's batch.
    assert M.read_snapshot(spark, table).count() == 5


def test_append_superseded_by_overwrite_is_success(spark, tmp_path, monkeypatch):
    """A committed append that a concurrent OVERWRITE supersedes inside
    the verification window must return success, not raise (ADVICE r4):
    the append IS in the lineage at its own version, the overwrite
    intentionally replaced it, and the advised retry would re-append
    data the overwrite meant to remove. Simulated by committing an
    overwrite between the append's manifest write and its verification
    scan."""
    import threading
    import time as _time

    monkeypatch.setattr(M, "CLAIM_GRACE_SECONDS", 0.2)
    table = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(2).toDF("id"), table, mode="append")  # v1

    real = M._latest_committed
    state = {"overwritten": False}

    def latest_with_overwrite(fs, jvm, table_path):
        # The appender's verification poll is the first _latest_committed
        # call that can see the appender's OWN commit (v2) — the loop-top
        # call saw only v1. Inject the concurrent overwrite exactly
        # there, so the appender's verification sees a newer lineage
        # that excludes its batch.
        v, m = real(fs, jvm, table_path)
        if (
            threading.current_thread().name == "appender"
            and not state["overwritten"]
            and v >= 2
        ):
            state["overwritten"] = True
            monkeypatch.setattr(M, "_latest_committed", real)
            M.write_snapshot(
                spark.range(7).toDF("id"), table, mode="overwrite"
            )
            monkeypatch.setattr(M, "_latest_committed", latest_with_overwrite)
            return real(fs, jvm, table_path)
        return v, m

    results: list = []
    errors: list[Exception] = []

    def appender():
        try:
            monkeypatch.setattr(M, "_latest_committed", latest_with_overwrite)
            results.append(
                M.write_snapshot(spark.range(3).toDF("id"), table, mode="append")
            )
        except Exception as exc:
            errors.append(exc)

    ta = threading.Thread(target=appender, name="appender")
    ta.start()
    ta.join(timeout=60)
    assert not errors, f"supersession-by-overwrite raised: {errors}"
    assert results == [2]
    # The table reads as the overwrite's content — the append was
    # committed, then legitimately replaced.
    assert M.read_snapshot(spark, table).count() == 7


def test_snapshot_schema_evolution_is_additive(spark, tmp_path):
    """Batches may add columns over time: the snapshot surfaces the
    union schema with NULLs where a batch predates (or dropped) a
    column — pinned explicitly via mergeSchema so the result never
    depends on file-sampling order."""
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(3).toDF("id"), t)
    M.write_snapshot(
        spark.range(2).selectExpr("id + 100 AS id", "id * 2 AS extra"),
        t,
        mode="append",
    )
    snap = M.read_snapshot(spark, t)
    assert set(snap.columns) == {"id", "extra"}
    rows = {r.id: r.extra for r in snap.collect()}
    assert rows[0] is None and rows[100] == 0 and rows[101] == 2
    # A later batch WITHOUT the column keeps it in the schema, NULLed.
    M.write_snapshot(spark.range(1).selectExpr("id + 200 AS id"), t, mode="append")
    snap2 = M.read_snapshot(spark, t)
    assert set(snap2.columns) == {"id", "extra"}
    assert {r.id: r.extra for r in snap2.collect()}[200] is None


def test_commit_info_round_trips_per_version(spark, tmp_path):
    """``info`` is stored in its own version's manifest only: it reads
    back intact, a commit without one reads None, and a later append
    does not inherit the earlier record."""
    t = str(tmp_path / "tbl")
    assert M.latest_info(spark, t) == (0, None)
    record = {"plan": {"n": 3, "cfg": {"x": 0.4, "y": None}}, "rows": {"0": 7}}
    v1 = M.write_snapshot(spark.range(0, 5), t, info=record)
    assert M.latest_info(spark, t) == (v1, record)
    v2 = M.write_snapshot(spark.range(5, 9), t, mode="append")
    assert M.latest_info(spark, t) == (v2, None)
    v3 = M.write_snapshot(spark.range(9, 10), t, mode="append", info={"k": 1})
    assert M.latest_info(spark, t) == (v3, {"k": 1})


def test_commit_without_info_reads_none(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 5), t)
    assert M.latest_info(spark, t) == (1, None)


def test_non_json_info_fails_before_data_lands(spark, tmp_path):
    t = tmp_path / "tbl"
    with pytest.raises(TypeError, match="JSON serializable"):
        M.write_snapshot(spark.range(0, 5), str(t), info={"bad": {1, 2}})
    assert not t.exists()


def test_latest_info_skips_dead_claim(spark, tmp_path):
    """A claimed-but-unparsable newest manifest is uncommitted: the
    reader returns the info of the newest COMMITTED version below it."""
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 5), t, info={"who": "v1"})
    (tmp_path / "tbl" / "_manifests" / "v2.json").write_text("")
    assert M.latest_info(spark, t) == (1, {"who": "v1"})


def test_read_and_vacuum_ignore_info(spark, tmp_path):
    """The info key changes neither what a snapshot reads nor what
    vacuum keeps."""
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 10), t, info={"a": [1, 2]})
    M.write_snapshot(spark.range(10, 12), t, mode="append", info={"b": True})
    orphan = tmp_path / "tbl" / "data" / "batch-deadbeef"
    spark.range(100, 200).write.parquet(str(orphan))
    assert sorted(r.id for r in M.read_snapshot(spark, t).collect()) == list(range(12))
    assert M.read_snapshot(spark, t, version=1).count() == 10
    assert M.vacuum(spark, t, retention_seconds=-1.0) == 1
    assert not orphan.exists()
    assert M.read_snapshot(spark, t).count() == 12


def test_read_snapshot_with_schema_reads_only_those_columns(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.write_snapshot(spark.range(0, 4).selectExpr("id", "id % 2 AS shard_id"), t)
    snap = M.read_snapshot(spark, t, schema="shard_id long")
    assert snap.columns == ["shard_id"]
    assert sorted(r.shard_id for r in snap.collect()) == [0, 0, 1, 1]
