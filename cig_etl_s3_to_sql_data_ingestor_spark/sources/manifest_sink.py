"""Manifest-committed parquet tables: atomic publish on object stores.

``compact_parquet``/``zorder_compact`` swap directories with FS renames —
atomic on HDFS/posix, NOT on S3, where rename is copy+delete and readers
can observe half a table (NOTES.md known gap). The table-format answer
(what Delta/Iceberg do at their core) is a MANIFEST: data files are
immutable and write-once under unique names, and a reader only sees files
listed by the latest committed manifest. Publishing is then one small
``create(manifest, overwrite=false)`` — an atomic claim on HDFS/posix and
a conditional PUT on object stores that support it — never a rename of
data.

Protocol (minimal Delta-log shape):

- data lives in ``<table>/data/batch-<uuid>/part-*.parquet``; every write
  goes to a fresh batch directory, so concurrent/failed writers never
  collide on data paths;
- ``<table>/_manifests/v{N}.json`` lists the batch directories visible at
  version N; the file is written via ``create(..., overwrite=false)`` —
  claiming version N is winning that create;
- a writer that loses the claim re-reads the new latest manifest, rebases
  (append keeps its batch + the winner's list) and retries at N+1 —
  optimistic concurrency, bounded by ``max_retries``;
- a crash after data write but before manifest commit leaves an ORPHAN
  batch directory: invisible to every reader, reclaimed by ``vacuum``.

Readers (:func:`read_snapshot`) load the union of listed batch dirs —
a consistent snapshot regardless of concurrent publishes.

A commit may carry a small JSON ``info`` record of its own (the analog
of Delta's commitInfo/txn action): a writer states what it published,
e.g. the plan a resumable job ran, and :func:`latest_info` hands that
record to the next run before it reads any data. ``info`` belongs to
one version only; later commits do not inherit it.

Recovery story (crashed or in-flight commits): a writer that wins the
``create`` claim but dies before writing/closing the manifest leaves a
claimed-but-unparsable ``v{N}.json``. Such a version is UNCOMMITTED:
readers skip back to the newest parsable manifest, and the next writer
claims above it (``max claimed + 1``) after a short re-poll grace (an
IN-FLIGHT commit closes its manifest in milliseconds; one that stays
unparsable past the grace is dead). The dead claim's data batch is an
orphan like any other and is reclaimed by ``vacuum`` once older than
the retention window. ``vacuum`` must therefore never run with a
retention shorter than the longest expected write duration — a batch
directory younger than retention is kept even when unreferenced,
because its writer may not have committed yet.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..fsutil import hadoop_fs

MANIFEST_DIR = "_manifests"
# Seconds an unparsable NEWEST manifest is re-polled before a writer
# treats the claim as dead and commits above it.
# How long a claimed-but-unparsable newest manifest is presumed to be a
# LIVE writer mid-commit before later writers commit above it. 2 s (the
# original value) is well inside realistic driver GC/network pauses, so a
# stalled-but-alive writer could be raced out; 30 s makes that unlikely,
# and the post-write verification in write_snapshot turns any remaining
# race from silent data loss into a loud error the caller can retry.
CLAIM_GRACE_SECONDS = 30.0


def _manifest_path(jvm, table_path: str, version: int):
    return jvm.org.apache.hadoop.fs.Path(
        f"{table_path.rstrip('/')}/{MANIFEST_DIR}/v{version}.json"
    )


def _read_manifest(fs, jvm, table_path: str, version: int) -> dict:
    p = _manifest_path(jvm, table_path, version)
    stream = fs.open(p)
    try:
        # commons-io ships with Hadoop; py4j can't fill a Python
        # bytearray through a Java read(byte[]) call.
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        return json.loads(text)
    finally:
        stream.close()


def _claimed_versions(fs, jvm, table_path: str) -> list[int]:
    """Every version number with a ``v{N}.json`` file, descending —
    parsable or not (a claim is a claim)."""
    d = jvm.org.apache.hadoop.fs.Path(f"{table_path.rstrip('/')}/{MANIFEST_DIR}")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out, reverse=True)


def _parsable_mode(fs, jvm, table_path: str, version: int) -> str | None:
    """The ``mode`` of the manifest at ``version`` if it exists and
    parses, else None (missing or dead claim).

    Catches exactly the parse-shaped failures ``_latest_committed``
    does. A transient FS/IO error must PROPAGATE: in the supersession
    check a swallowed IO error would misclassify a real overwrite as
    "not overwrite", raise the raced-out error, and send the caller
    into the re-append-resurrects-deleted-data path this mode probe
    exists to prevent."""
    if not fs.exists(_manifest_path(jvm, table_path, version)):
        return None  # never-claimed gap in the version range
    try:
        m = _read_manifest(fs, jvm, table_path, version)
        if isinstance(m, dict) and "batches" in m:
            return m.get("mode")
    except (ValueError, KeyError):  # json parse failure / empty file
        pass
    return None


def _latest_committed(fs, jvm, table_path: str) -> tuple[int, dict | None]:
    """(version, manifest) of the newest PARSABLE manifest, scanning down
    over claimed-but-unparsable ones (crashed writers' dead claims) —
    (0, None) when nothing is committed. An unparsable manifest is
    uncommitted by definition: the claim create and the content write
    are separate operations, so a crash between them must not wedge the
    table."""
    for v in _claimed_versions(fs, jvm, table_path):
        try:
            m = _read_manifest(fs, jvm, table_path, v)
            if isinstance(m, dict) and "batches" in m:
                return v, m
        except (ValueError, KeyError):  # json parse failure / empty file
            continue
    return 0, None


def current_version(spark: SparkSession, table_path: str) -> int:
    """Latest COMMITTED (parsable) manifest version, or 0 when the table
    has none; dead claims are skipped."""
    fs, jvm = hadoop_fs(spark, table_path)
    return _latest_committed(fs, jvm, table_path)[0]


def latest_info(spark: SparkSession, table_path: str) -> tuple[int, dict | None]:
    """(version, info) of the latest COMMITTED version — the ``info``
    record its writer passed to :func:`write_snapshot`, or None when it
    passed none; (0, None) when nothing is committed. Dead claims are
    skipped as in :func:`current_version`. Reads one manifest; no
    Spark job."""
    fs, jvm = hadoop_fs(spark, table_path)
    v, m = _latest_committed(fs, jvm, table_path.rstrip("/"))
    return v, (m.get("info") if m is not None else None)


def write_snapshot(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    max_retries: int = 10,
    info: dict | None = None,
) -> int:
    """Publish ``df`` as a new table version; returns the version number.

    ``append`` adds this batch to the current snapshot; ``overwrite``
    makes the new snapshot exactly this batch. The data write happens
    once — only the (tiny) manifest commit retries under contention.
    ``info`` (JSON-serializable) is stored in this version's manifest
    and read back by :func:`latest_info`; a rebase keeps it, a later
    commit does not inherit it.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    spark = df.sparkSession
    table_path = table_path.rstrip("/")
    batch = f"data/batch-{uuid.uuid4().hex}"
    # Serialize up front: a non-JSON info must fail before any data lands.
    info_json = {} if info is None else {"info": json.loads(json.dumps(info))}
    df.write.parquet(f"{table_path}/{batch}")
    fs, jvm = hadoop_fs(spark, table_path)
    last_exc: Exception | None = None
    for _ in range(max_retries):
        committed_v, manifest = _latest_committed(fs, jvm, table_path)
        claimed = _claimed_versions(fs, jvm, table_path)
        max_claimed = claimed[0] if claimed else 0
        if max_claimed > committed_v:
            # The newest claim is unparsable — usually a writer BETWEEN
            # its create and close (milliseconds). Give it a short grace
            # before declaring it dead and committing above it.
            deadline = time.monotonic() + CLAIM_GRACE_SECONDS
            while time.monotonic() < deadline:
                committed_v, manifest = _latest_committed(fs, jvm, table_path)
                if committed_v >= max_claimed:
                    break
                time.sleep(0.05)
        batches = [batch]
        if mode == "append" and manifest is not None:
            batches = manifest["batches"] + [batch]
        target_v = max(max_claimed, committed_v) + 1
        target = _manifest_path(jvm, table_path, target_v)
        try:
            # create(path, overwrite=false): the atomic claim. On object
            # stores this maps to a conditional PUT where supported; the
            # worst case (no conditional support) is last-writer-wins on
            # ONE version file — data files are never mutated either way.
            out = fs.create(target, False)
        except Exception as exc:
            # Only a lost claim (file ALREADY exists) warrants a rebase
            # retry; anything else (permissions, bad path, a parent that
            # does NOT exist, network) is a real fault and must surface
            # immediately. A bare "exist" substring would misclassify
            # does-not-exist errors as lost claims.
            msg = str(exc)
            if (
                "FileAlreadyExists" not in msg
                and "already exist" not in msg.lower()
            ):
                raise
            last_exc = exc
            continue
        try:
            out.write(
                json.dumps(
                    {
                        "version": target_v,
                        "mode": mode,
                        "batches": batches,
                        **info_json,
                    }
                ).encode("utf-8")
            )
        finally:
            out.close()
        # Post-write verification: if another writer expired our claim
        # grace while we were stalled between the create and this write,
        # it committed a lineage that EXCLUDES this batch — detect that
        # and fail loudly instead of returning success for an append
        # that no future snapshot will ever contain. (The data files are
        # intact; the caller retries write_snapshot.)
        #
        # An unparsable claim ABOVE ours is ambiguous: its writer is
        # either mid-commit with a lineage that may exclude us, or dead.
        # Wait up to the grace for it to resolve — if it commits without
        # our batch we raise; if it stays unparsable it is a dead claim
        # and every future writer rebases on OUR committed manifest, so
        # success is correct. This narrows the residual race to a writer
        # that BOTH expired our grace AND then itself stalls past a
        # second grace before writing — two full grace expiries stacked.
        if mode == "append":
            deadline = time.monotonic() + CLAIM_GRACE_SECONDS
            while True:
                check_v, check_m = _latest_committed(fs, jvm, table_path)
                if (
                    check_v > target_v
                    and check_m is not None
                    and batch not in check_m["batches"]
                ):
                    # Exclusion by a concurrent OVERWRITE is legitimate
                    # supersession, not a race: this append DID commit
                    # (create(overwrite=false) means v{target_v} is ours
                    # alone) and the overwrite then intentionally started
                    # a fresh lineage without it. Raising here would make
                    # the caller re-append data the overwrite meant to
                    # remove. Scan every parsable manifest above ours —
                    # the overwrite may itself have been superseded by
                    # later appends that chain from IT.
                    superseded = any(
                        _parsable_mode(fs, jvm, table_path, v) == "overwrite"
                        for v in range(target_v + 1, check_v + 1)
                    )
                    if superseded:
                        return target_v
                    raise RuntimeError(
                        f"append raced out of the manifest lineage for "
                        f"{table_path}: committed v{target_v} but v{check_v} "
                        f"does not chain from it (a concurrent writer "
                        f"expired this writer's claim grace); retry "
                        f"write_snapshot"
                    )
                claimed_above = [
                    v
                    for v in _claimed_versions(fs, jvm, table_path)
                    if v > max(check_v, target_v)
                ]
                if not claimed_above or time.monotonic() >= deadline:
                    break
                time.sleep(0.05)
        return target_v
    raise RuntimeError(
        f"lost the manifest claim {max_retries} times for {table_path}"
    ) from last_exc


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Consistent snapshot at ``version`` (default: latest). Only batch
    directories listed by that manifest are read — in-flight or orphaned
    batches are invisible.

    Schema evolution is additive: batches written with extra columns
    surface them (older rows read NULL there), and a column absent from
    newer batches stays in the snapshot schema NULL-filled —
    ``mergeSchema`` is set EXPLICITLY so the union schema never depends
    on which file Spark happens to sample first. Incompatible type
    changes for the same column name fail the read loudly (Spark's
    merge error), which is the correct behavior for an uncoordinated
    type flip.

    ``schema`` (a DDL string such as ``"shard_id long"``) reads only
    those columns with the caller's types and skips the footer merge,
    which is a Spark job of its own."""
    table_path = table_path.rstrip("/")
    fs, jvm = hadoop_fs(spark, table_path)
    if version is None:
        v, m = _latest_committed(fs, jvm, table_path)
        if v == 0:
            raise FileNotFoundError(f"no committed snapshot in {table_path}")
    else:
        v, m = version, _read_manifest(fs, jvm, table_path, version)
    reader = spark.read.option("mergeSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*[f"{table_path}/{b}" for b in m["batches"]])


def vacuum(
    spark: SparkSession, table_path: str, retention_seconds: float = 24 * 3600.0
) -> int:
    """Delete batch directories not referenced by the latest COMMITTED
    manifest (crashed writers' orphans, overwritten history) once they
    are older than ``retention_seconds``; returns the number removed.

    The retention grace is the concurrent-writer guard (same design as
    Delta's vacuum retention): a writer publishes data FIRST and commits
    its manifest SECOND, so an unreferenced batch younger than the
    longest plausible write duration may belong to an in-flight commit —
    deleting it would let that writer commit a manifest pointing at
    missing files. Never run with a retention shorter than your longest
    write; the default (24 h) is safe for batch pipelines. Time travel
    to overwritten versions also stops working for vacuumed history."""
    table_path = table_path.rstrip("/")
    fs, jvm = hadoop_fs(spark, table_path)
    _, manifest = _latest_committed(fs, jvm, table_path)
    live = set(manifest["batches"]) if manifest else set()
    data_dir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/data")
    if not fs.exists(data_dir):
        return 0
    cutoff_ms = (time.time() - retention_seconds) * 1000.0
    removed = 0
    for st in fs.listStatus(data_dir):
        rel = f"data/{st.getPath().getName()}"
        if rel not in live and st.getModificationTime() < cutoff_ms:
            fs.delete(st.getPath(), True)
            removed += 1
    return removed
