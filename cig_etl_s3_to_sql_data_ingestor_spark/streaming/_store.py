"""The epoch-store protocol every streaming gate persists its state
with (text dedup, BM25 index, IVF vector index, binary assets,
count-min sketch); one implementation keeps its rules in lockstep.

Layout. A store is a directory of ``<store>/epoch=N`` parquet dirs, one
per micro-batch, N being the ``foreachBatch`` batch id. A batch writes
its epoch dir with overwrite semantics, so a crash-replay of batch N
rewrites the same dir instead of appending a second copy; the store
and the stream's checkpoint are one unit (wipe both or neither).

Reads (:func:`read_epoch_store`) follow three rules:

- the schema is PINNED by the caller, never inferred: an empty or
  partially-written store must not change types;
- ``exclude_epoch`` drops the CURRENT epoch's rows, so a crash-replay
  classifies against exactly the state its first attempt saw;
- only the missing-path case maps to an empty frame; any other read
  error propagates (an empty-on-error fallback would silently re-admit
  duplicates or double-count). A store mixing flat (older writer) and
  partition-subdir epoch layouts is read per epoch dir and unioned
  (:func:`read_epoch_dirs_union`).

Identity marker (:func:`check_store_marker`). A store whose layout is
keyed by a configuration value (the ``n_buckets`` modulus of a
term-bucketed store, the centroid digest of an IVF store) records that
value as an empty ``.<key>=<value>`` dir on its first write and
cross-checks it on every open: a reader with a different value would
prune the wrong buckets or probe the wrong cells, so a mismatch raises.
Only a write stamps; a pre-marker store is read unguarded.

Compaction (:func:`_compact_epoch_store`) folds every ``epoch=N`` dir
with ``N <= K`` into one dir ``epoch=K``, K strictly below the newest
epoch (which may be an uncommitted batch's replay target). The fold
is written to ``.compact_tmp_upto=K``; once its ``_SUCCESS`` marker
exists the folded dirs are deleted and the tmp dir is renamed to
``epoch=K``. :func:`recover_pending_compactions` finishes that
sequence after a crash (or drops a tmp dir without ``_SUCCESS``, whose
sources are intact). Each gate calls it on its read paths before it
reads a store: a plain read of a store whose compaction crashed in the
delete-rename window misses the folded history. Recovery stays out of
:func:`read_epoch_store` because it renames and deletes directories,
a side effect concurrent readers must not have.

Drain (:func:`drain`). Every gate's ``start`` runs its batch function
as a ``foreachBatch`` query with a checkpoint and the ``availableNow``
trigger: each run processes the files present when it starts, in
bounded micro-batches, and stops; a re-run picks up only files the
checkpoint has not seen. :func:`parquet_stream` is the shared parquet
file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fsutil import hadoop_fs


def read_epoch_store(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    exclude_epoch: int | None = None,
    keep_epoch: bool = False,
) -> DataFrame:
    """``keep_epoch=True`` retains the ``epoch`` partition column (as a
    long) — for stores whose readers must cross-check epoch membership
    between sibling dirs (e.g. bm25_ingest's stats-as-commit-witness);
    an empty/missing store then still carries the column."""
    from pyspark.errors import AnalysisException

    cols = [f.name for f in schema.fields]
    if keep_epoch:
        out_schema = T.StructType(
            list(schema.fields) + [T.StructField("epoch", T.LongType())]
        )
        cols = cols + ["epoch"]
    else:
        out_schema = schema
    try:
        df = spark.read.schema(schema).parquet(path)
        # `epoch` is the store layout's virtual partition column; it is
        # absent when the path exists but no epoch dir ever committed a
        # part file — nothing to exclude (or keep) then.
        if "epoch" not in df.columns:
            if keep_epoch:
                df = df.withColumn("epoch", F.lit(None).cast("long"))
        elif exclude_epoch is not None:
            df = df.filter(F.col("epoch") != exclude_epoch)
        if keep_epoch:
            df = df.withColumn("epoch", F.col("epoch").cast("long"))
        return df.select(cols)
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" in str(ex):
            return spark.createDataFrame([], out_schema)
        raise
    except Exception as ex:  # noqa: BLE001 — re-raised unless layout-mix
        # A store carrying BOTH flat epochs (a pre-partitioned-layout
        # writer version) and partition-subdir epochs (e.g. bm25's
        # bucket= dirs) defeats Spark's tree-wide partition discovery
        # with CONFLICTING_PARTITION_COLUMN_NAMES. The store is still
        # well-formed — each epoch dir is internally consistent — so
        # fall back to reading per epoch dir (bounded count: compaction
        # keeps the dir list short) and unioning; the pinned schema
        # fills columns a legacy dir lacks with NULL, which the reader
        # treats as "no at-rest layout: scan, don't prune".
        if "CONFLICTING_PARTITION_COLUMN_NAMES" not in str(ex):
            raise
        df = read_epoch_dirs_union(spark, path, schema)
        if df is None:
            return spark.createDataFrame([], out_schema)
        if exclude_epoch is not None:
            df = df.filter(F.col("epoch") != exclude_epoch)
        if not keep_epoch:
            df = df.drop("epoch")
        return df.select(cols)


def list_epoch_dirs(spark: SparkSession, path: str) -> list[tuple[int, str]]:
    """(epoch, dir) pairs under an epoch-addressed store, sorted."""
    fs, jvm = hadoop_fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("epoch="):
            out.append((int(name.split("=", 1)[1]), f"{path}/{name}"))
    return sorted(out)


def read_epoch_dirs_union(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    epochs: set[int] | None = None,
) -> DataFrame | None:
    """Per-epoch-dir union read with a pinned schema — the mixed-layout
    path (see read_epoch_store), also reused by compaction's fold read.
    Returns None for an empty store (or empty ``epochs`` subset).
    Each dir is read independently, so one dir's partition layout
    cannot conflict with another's; the ``epoch`` column is re-derived
    from the dir name. ``epochs`` restricts to a subset of dirs AT
    LISTING TIME (no lazily-built-then-filtered branches)."""
    dirs = list_epoch_dirs(spark, path)
    if epochs is not None:
        dirs = [(e, p) for e, p in dirs if e in epochs]
    cols = [f.name for f in schema.fields]
    parts = []
    for e, p in dirs:
        d = spark.read.schema(schema).parquet(p)
        parts.append(d.select(cols).withColumn("epoch", F.lit(e).cast("long")))
    if not parts:
        return None
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def check_store_marker(
    spark: SparkSession, root: str, key: str, value, create: bool, what: str
) -> None:
    """Stamp (``create=True``, a write) or cross-check the store's
    ``.<key>=<value>`` identity marker; raise ValueError naming the
    stored value on a mismatch. A store without a marker is stamped by
    a write and read unguarded otherwise. ``value`` may be a
    zero-argument callable, for a value that costs a Spark job: it is
    called only when a marker is found or stamped."""
    fs, jvm = hadoop_fs(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    prefix = f".{key}="
    if fs.exists(Path(root)):
        found = [
            st.getPath().getName()[len(prefix):]
            for st in fs.listStatus(Path(root))
            if st.getPath().getName().startswith(prefix)
        ]
        if found:
            want = str(value() if callable(value) else value)
            if found[0] != want:
                raise ValueError(
                    f"{what} store {root!r} was written with "
                    f"{key}={found[0]}, this ingest is configured with "
                    f"{key}={want} — a reader keyed by another {key} "
                    "reads the wrong buckets or cells (silently missing "
                    "results, re-admitted duplicates); open it with the "
                    "recorded value"
                )
            return
    if create:
        want = str(value() if callable(value) else value)
        fs.mkdirs(Path(f"{root}/{prefix}{want}"))


def parquet_stream(
    spark: SparkSession,
    schema: T.StructType,
    source_glob: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The gates' file source: ``*.parquet`` files under
    ``source_glob`` read with a pinned schema; ``max_files_per_trigger``
    bounds each micro-batch (a large backlog becomes many bounded
    batches)."""
    reader = spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_glob)


def drain(stream: DataFrame, process_batch, checkpoint_path: str):
    """Start ``process_batch(batch_df, epoch_id)`` over every file
    ``stream`` has available now, checkpointed at ``checkpoint_path``;
    returns the StreamingQuery, which stops when the backlog is
    drained. Batches run sequentially, so each one's store writes land
    before the next one reads."""
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _finish_compaction(fs, jvm, store_path: str, upto: int) -> None:
    """Promote (or discard) a ``.compact_tmp_upto=K`` dir. The tmp dir
    is only promotable once its ``_SUCCESS`` marker exists — a tmp
    without the marker is a write that died mid-flight, and the source
    epoch dirs are still intact, so it is simply dropped. Deleting the
    folded epoch dirs before the rename is safe to re-run: the tmp dir
    holds the complete fold, so a crash anywhere in this function is
    finished by the next recovery scan."""
    Path = jvm.org.apache.hadoop.fs.Path
    tmp = Path(f"{store_path}/.compact_tmp_upto={upto}")
    if not fs.exists(tmp):
        return
    if not fs.exists(Path(f"{store_path}/.compact_tmp_upto={upto}/_SUCCESS")):
        fs.delete(tmp, True)
        return
    for st in fs.listStatus(Path(store_path)):
        name = st.getPath().getName()
        if name.startswith("epoch=") and int(name.split("=", 1)[1]) <= upto:
            fs.delete(st.getPath(), True)
    # Hadoop FS rename reports failure via its boolean, not an
    # exception. At this point the folded epoch dirs are GONE — a
    # silently failed rename would leave the store missing all
    # compacted history (an understated sketch, re-admitted
    # duplicates). Raise so the caller (or the next recovery scan)
    # retries the promotion instead.
    if not fs.rename(tmp, Path(f"{store_path}/epoch={upto}")):
        raise IOError(
            f"compaction rename failed: {store_path}/.compact_tmp_upto="
            f"{upto} -> epoch={upto}; folded dirs are already deleted — "
            "the tmp dir holds the complete fold, re-run recovery"
        )


def recover_pending_compactions(spark: SparkSession, *store_paths: str) -> None:
    """Finish (or discard) any ``.compact_tmp_upto=K`` a crashed
    compaction left under each of ``store_paths``."""
    for store_path in store_paths:
        fs, jvm = hadoop_fs(spark, store_path)
        root = jvm.org.apache.hadoop.fs.Path(store_path)
        if not fs.exists(root):
            continue
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith(".compact_tmp_upto="):
                _finish_compaction(fs, jvm, store_path, int(name.split("=", 1)[1]))


def _has_part_files(fs, Path, path: str) -> bool:
    """True if ``path`` holds any ``.parquet`` part file, descending
    through partition subdirs (``bucket=B`` layouts) but not through
    ``_temporary``/dot dirs — the flat ``endswith('.parquet')`` check
    would misread a partitioned-but-populated epoch dir as a crashed
    writer's empty mkdir and delete it."""
    for st in fs.listStatus(Path(path)):
        name = st.getPath().getName()
        if st.isDirectory():
            if not name.startswith(("_", ".")) and _has_part_files(
                fs, Path, str(st.getPath())
            ):
                return True
        elif name.endswith(".parquet"):
            return True
    return False


def _compact_epoch_store(
    spark: SparkSession,
    store_path: str,
    upto_epoch: int,
    fold,
    partition_by: list[str] | None = None,
    schema=None,
) -> int:
    """Fold every ``epoch=N`` dir with ``N <= upto_epoch`` into ONE dir
    ``epoch=<upto_epoch>`` whose content is ``fold(rows of the folded
    range)``; returns how many dirs were folded (0 if nothing to do).
    ``upto_epoch`` must be strictly below the newest epoch (see the
    module docstring); a pending compaction is recovered first."""
    fs, jvm = hadoop_fs(spark, store_path)
    Path = jvm.org.apache.hadoop.fs.Path
    recover_pending_compactions(spark, store_path)
    epochs = [e for e, _ in list_epoch_dirs(spark, store_path)]
    if not epochs:
        return 0
    if upto_epoch >= epochs[-1]:
        raise ValueError(
            f"compact upto_epoch={upto_epoch} must be strictly below the "
            f"newest epoch {epochs[-1]} — the newest dir may be an "
            "uncommitted batch's replay target"
        )
    fold_epochs = [e for e in epochs if e <= upto_epoch]
    if len(fold_epochs) < 2:
        return 0
    # A dir with zero part files (a writer that died between mkdir and
    # its first file) would break schema inference; it holds no rows,
    # so folding it means deleting it.
    readable = [
        e
        for e in fold_epochs
        if _has_part_files(fs, Path, f"{store_path}/epoch={e}")
    ]
    if not readable:
        # Every foldable dir is a crashed writer's empty mkdir: there
        # are no rows to fold, but leaving the dirs would accumulate
        # them forever on a store that only ever crashes — delete them
        # outright (they hold nothing, so no tmp/rename dance needed).
        for e in fold_epochs:
            fs.delete(Path(f"{store_path}/epoch={e}"), True)
        return len(fold_epochs)
    if schema is not None:
        # Pinned-schema per-dir union: a store mixing flat (legacy
        # writer version) and partition-subdir epoch layouts defeats
        # the multi-path discovery read below with
        # CONFLICTING_PARTITION_COLUMN_NAMES; reading each dir
        # independently cannot conflict, and the pinned schema fills
        # layout columns a legacy dir lacks with NULL for the fold to
        # migrate (bm25's bucket recompute).
        src = read_epoch_dirs_union(
            spark, store_path, schema, epochs=set(readable)
        ).drop("epoch")
    else:
        src = spark.read.option("basePath", store_path).parquet(
            *[f"{store_path}/epoch={e}" for e in readable]
        )
    writer = fold(src).write.mode("overwrite")
    if partition_by:
        # Stores with a partition-local at-rest layout (bm25_ingest's
        # term buckets) keep it through compaction so the read side's
        # partition pruning survives the fold.
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{store_path}/.compact_tmp_upto={upto_epoch}")
    _finish_compaction(fs, jvm, store_path, upto_epoch)
    return len(fold_epochs)
