"""Table maintenance: small-file compaction.

Per-batch appends (daily ingest, streaming micro-batches) accumulate
many small parquet files; at scale the resulting task-per-tiny-file
scheduling and open-cost overhead dominate scan time. ``compact_parquet``
rewrites a directory to ~``target_file_bytes`` files:

1. size the output file count from the actual on-disk footprint
   (Hadoop FS metadata — no data read),
2. write the compacted copy to a staging directory,
3. swap staging into place with FS renames (atomic on HDFS/posix;
   on S3 use a manifest/table format — Delta/Iceberg — instead).

Readers see either the old or the new layout, row content identical.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs(spark: SparkSession, path: str):
    from ..fsutil import hadoop_fs

    fs, jvm = hadoop_fs(spark, path)
    return fs, jvm.org.apache.hadoop.fs.Path(path), jvm


def directory_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) from FS metadata only."""
    fs, hpath, _ = _fs(spark, path)
    n, total = 0, 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if st.isFile() and not name.startswith("_") and not name.startswith("."):
            n += 1
            total += st.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> int:
    """Compact ``path`` to ~target-size files; returns the new file count
    (0 = nothing done)."""
    n_files, total = directory_stats(spark, path)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if n_files < min_files_to_compact or n_out >= n_files:
        return 0
    fs, hpath, jvm = _fs(spark, path)
    staging = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "._compacting")
    df = spark.read.parquet(path)
    df.repartition(n_out).write.mode("overwrite").parquet(staging.toString())
    _swap_in(fs, jvm, path, hpath, staging)
    return n_out


def _swap_in(fs, jvm, path: str, hpath, staging) -> None:
    """Swap ``staging`` into ``path`` with FS renames (atomic on
    HDFS/posix), rolling back on failure."""
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "._prerewrite")
    if not fs.rename(hpath, old):
        raise IOError(f"layout swap failed for {path}")
    if not fs.rename(staging, hpath):
        fs.rename(old, hpath)  # roll back
        raise IOError(f"layout swap-in failed for {path}")
    fs.delete(old, True)


def zorder_compact(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 6,
) -> int:
    """Rewrite ``path`` in place clustered along the z-curve of ``cols``,
    sized to ~target-size files; returns the new file count. The swap is
    the same rename dance as :func:`compact_parquet` — readers see the
    old or the new layout, never a mix. Returns 0 (no-op) on an empty
    directory."""
    n_files, total = directory_stats(spark, path)
    if n_files == 0 or total == 0:
        return 0
    n_out = max(1, math.ceil(total / target_file_bytes))
    fs, hpath, jvm = _fs(spark, path)
    staging = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "._zordering")
    zorder_write(spark.read.parquet(path), staging.toString(), cols, n_out, bits)
    _swap_in(fs, jvm, path, hpath, staging)
    return n_out


def zorder_snapshot(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 6,
) -> int:
    """Cluster a MANIFEST table's latest snapshot along the z-curve of
    ``cols`` and publish the rewrite as a new overwrite version; returns
    the new version number (0 = empty table, nothing done).

    This is the object-store-safe clustering rewrite: the z-ordered copy
    lands in a fresh immutable batch directory and becomes visible via
    one manifest commit — no renames anywhere (``zorder_compact``'s
    rename swap is atomic only on HDFS/posix), concurrent readers keep a
    consistent snapshot throughout, and the pre-rewrite version stays
    time-travelable until vacuumed."""
    import math as _math

    from ..fsutil import hadoop_fs
    from ..sources.manifest_sink import (
        _latest_committed,
        read_snapshot,
        write_snapshot,
    )

    fs, jvm = hadoop_fs(spark, table_path)
    _, manifest = _latest_committed(fs, jvm, table_path.rstrip("/"))
    if manifest is None:
        return 0
    total = 0
    for b in manifest["batches"]:
        _, nbytes = directory_stats(spark, f"{table_path.rstrip('/')}/{b}")
        total += nbytes
    if total == 0:
        return 0
    n_out = max(1, _math.ceil(total / target_file_bytes))
    df = read_snapshot(spark, table_path)
    z = (
        df.withColumn("_z", zorder_value(df, cols, bits))
        .repartitionByRange(n_out, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return write_snapshot(z, table_path, mode="overwrite")


def _zorder_numeric(df: DataFrame, c: str):
    """Order-preserving numeric view of column ``c`` for quantile
    bucketing (approxQuantile is numeric-only). Dates/timestamps map to
    epoch days/micros; unsupported types fail fast with a clear message
    instead of mid-rewrite."""
    from pyspark.sql import types as T

    dtype = df.schema[c].dataType
    if isinstance(dtype, T.DateType):
        return F.unix_date(F.col(c)).cast("double")
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col(c)).cast("double")
    if isinstance(dtype, T.TimestampNTZType):
        # Interpret the wall time as UTC explicitly: a session-TZ cast
        # is NOT monotone across DST gaps (02:30 and 03:00 on a
        # spring-forward day can swap), while UTC has no gaps.
        return F.unix_micros(F.to_utc_timestamp(F.col(c), "UTC")).cast("double")
    if isinstance(dtype, T.NumericType):
        return F.col(c).cast("double")
    raise ValueError(
        f"zorder column {c!r} has unsupported type {dtype.simpleString()}; "
        "z-ordering needs a numeric, date, or timestamp column"
    )


def zorder_value(df: DataFrame, cols: list[str], bits: int = 6, sample_err: float = 0.001):
    """Z-curve key over ``cols``: quantile-bucket each column into 2^bits
    ranks (skew-proof, unlike min/max width buckets), then bit-interleave
    the ranks so nearby z-values are nearby in EVERY dimension.

    Laying files out by this key gives each parquet file a narrow min/max
    envelope on all z-ordered columns at once, so row-group/file pruning
    works for predicates on any of them — the multi-column analogue of
    sorting, which only prunes on the leading column. ``approxQuantile``
    is a driver-side metadata action over a sample (2^bits-1 cut points
    for ALL columns in one pass), not a data collect.
    """
    numeric = {c: _zorder_numeric(df, c) for c in cols}
    probe = df.select(*[expr.alias(f"_z_{j}") for j, expr in enumerate(numeric.values())])
    all_cuts = probe.stat.approxQuantile(
        [f"_z_{j}" for j in range(len(cols))],
        [i / (1 << bits) for i in range(1, 1 << bits)],
        sample_err,
    )
    z = F.lit(0).cast("long")
    n = len(cols)
    for j, c in enumerate(cols):
        # rank = number of distinct cut points <= value (dedup keeps the
        # bucket count <= 2^bits when a heavy value repeats across cuts).
        distinct_cuts = sorted(set(all_cuts[j]))
        rank = F.lit(0).cast("long")
        for cut in distinct_cuts:
            rank = rank + (numeric[c] > F.lit(cut)).cast("long")
        # Scale low-cardinality ranks across the full 2^bits domain —
        # otherwise a column with < 2^bits distinct values never sets the
        # high interleave bits and drops out of the file-level clustering.
        n_buckets = len(distinct_cuts) + 1
        if n_buckets < (1 << bits):
            rank = F.floor(rank * (1 << bits) / F.lit(n_buckets)).cast("long")
        for i in range(bits):
            bit = F.shiftright(rank, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 6,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered along the
    z-curve of ``cols``: range-partition on the z-value (contiguous,
    balanced z-slices per file — sampling-based, no full sort) and sort
    within each file so row groups inherit the clustering too."""
    (
        df.withColumn("_z", zorder_value(df, cols, bits))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: fold a delta partition into a
# running per-key aggregate state without recomputing history — the
# pattern that turns a daily 100 TB ETL re-aggregation into a
# delta-sized job. State carries MERGEABLE partials only (count,
# decimal-exact sum, min, max); decimal addition is associative, so
# merge(state(old), state(delta)) == state(old ∪ delta) bit-for-bit,
# at any parallelism, on any engine — the property the oracle-backed
# `incremental_agg_merge` query asserts against a full recompute.
# ---------------------------------------------------------------------------


def aggregate_state(
    df: DataFrame, keys: list[str], value_col: str, scale: int = 4
) -> DataFrame:
    """Per-key mergeable aggregate state: (keys, n, s, mn, mx). The sum
    keeps the caller's ``scale`` end-to-end — widening only the
    precision — so the merge == full-recompute identity holds at any
    scale, not just the default."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(f"decimal(18,{scale})"))
        .cast(f"decimal(28,{scale})")
        .alias("s"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def merge_aggregate_state(
    old: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """Combine two state frames (full outer join on the keys — a key can
    exist in either side only). Count/sum add; min/max take the
    extremum; absent sides contribute identity values."""
    o = old.select(
        *keys,
        F.col("n").alias("_no"),
        F.col("s").alias("_so"),
        F.col("mn").alias("_mno"),
        F.col("mx").alias("_mxo"),
    )
    d = delta.select(
        *keys,
        F.col("n").alias("_nd"),
        F.col("s").alias("_sd"),
        F.col("mn").alias("_mnd"),
        F.col("mx").alias("_mxd"),
    )
    j = o.join(d, keys, "full_outer")
    # Read the state's own decimal type so the merge preserves whatever
    # scale aggregate_state was built with.
    s_type = dict(old.dtypes)["s"]
    zero = F.lit(0).cast(s_type)
    return j.select(
        *keys,
        (F.coalesce(F.col("_no"), F.lit(0)) + F.coalesce(F.col("_nd"), F.lit(0))).alias("n"),
        (F.coalesce(F.col("_so"), zero) + F.coalesce(F.col("_sd"), zero))
        .cast(s_type)
        .alias("s"),
        F.least(
            F.coalesce(F.col("_mno"), F.col("_mnd")),
            F.coalesce(F.col("_mnd"), F.col("_mno")),
        ).alias("mn"),
        F.greatest(
            F.coalesce(F.col("_mxo"), F.col("_mxd")),
            F.coalesce(F.col("_mxd"), F.col("_mxo")),
        ).alias("mx"),
    )


def finalize_aggregate_state(state: DataFrame, keys: list[str]) -> DataFrame:
    """Render the state as user-facing columns: exact totals as doubles,
    one final division for the mean."""
    return state.select(
        *keys,
        F.col("n").alias("n_rows"),
        F.col("s").cast("double").alias("total_value"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"),
        (F.col("s").cast("double") / F.col("n")).alias("avg_value"),
    )
