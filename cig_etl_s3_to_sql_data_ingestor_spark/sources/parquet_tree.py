"""Partitioned parquet-tree discovery (reference S2/S3).

Two layouts (FIXTURES.md F6):
- hosting: ``<root>/environment=<ENV>/<Entity>/<yyyy>/<mm>/<dd>/<file>.parquet``
- mailbox: ``<root>/<DataSource>/<Entity>/<yyyy>/<mm>/<dd>/<file>.parquet``
  (Environment = DataSource.split('_')[0], `main_mailbox.py:56`)

Discovery is a *metadata* operation: the Hadoop FileSystem API lists the
tree (works identically for file://, hdfs:// and s3a:// — on S3 a glob
maps to prefix listings), and the resulting path strings become a small
work-list DataFrame. Partition values are decoded with native column
expressions (`regexp_extract` over the path), mirroring what Spark's own
partition discovery does for hive-style keys. The data files themselves
are NOT opened here — pruning happens on the work-list before any read
(the reference's whole point: skip files before reading, `main.py:41-48`).

Real-bucket deployment: see ``S3A_DEPLOYMENT.md`` in this directory for
the committer / multipart / listing / retry configuration recipe (the
sandbox has no network, so that recipe is design-verified only).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import hadoop_fs

HOSTING_GLOB = "environment=*/*/*/*/*/*.parquet"
MAILBOX_GLOB = "*/*/*/*/*/*.parquet"


def _hadoop_glob(
    spark: SparkSession, pattern: str, files_only: bool = True
) -> list[str]:
    """List matching paths via the JVM Hadoop FileSystem (driver-side
    metadata call; scales to object stores where os.walk cannot go)."""
    fs, jvm = hadoop_fs(spark, pattern)
    statuses = fs.globStatus(jvm.org.apache.hadoop.fs.Path(pattern))
    if statuses is None:
        return []
    return [
        s.getPath().toString()
        for s in statuses
        if (s.isFile() if files_only else True)
    ]


def norm_path(col: F.Column) -> F.Column:
    """Scheme-normalized path for equality joins: Hadoop listings render
    'file:/root/x', Spark's ``input_file_name()`` 'file:///root/x' —
    strip '<scheme>:/+' from both so the same file compares equal."""
    return F.regexp_replace(col, r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+", "/")


def decode_input_file(col: F.Column) -> F.Column:
    """Decode ``input_file_name()``'s URI form back to the raw path the
    Hadoop listing API reports. ``input_file_name`` percent-encodes
    special characters ('a b.parquet' -> 'a%20b.parquet'); a raw-vs
    -encoded equality join silently drops those files. ``url_decode``
    alone would also corrupt literal '+' (form decoding maps '+' to a
    space), so '+' is pre-escaped to %2B — in the encoded input a
    literal '+' appears verbatim and a real space appears as %20, so
    the composition is exact."""
    return F.url_decode(F.regexp_replace(col, r"\+", "%2B"))


def group_day_dirs(
    spark: SparkSession,
    root: str,
    layout: str,
    source: str,
    entity: str,
    min_date,
    max_date,
) -> list[str]:
    """Existing day DIRECTORIES for one work group within [min_date,
    max_date] — the bounded read-path push-down for a group descriptor.

    This is a driver metadata call over directory listings (one glob),
    bounded by calendar days with data present — never by file count, so
    it stays O(days) on a tree with millions of files per day. File-level
    survivor filtering (marker anti-join, debug single-file) happens
    distributed, via a semi-join on ``input_file_name()`` (see
    pipeline.BatchIngest)."""
    prefix = (
        f"{root.rstrip('/')}/environment={source}"
        if layout == "hosting"
        else f"{root.rstrip('/')}/{source}"
    )
    out = []
    for d in _hadoop_glob(spark, f"{prefix}/{entity}/*/*/*", files_only=False):
        y, m, dd = d.rstrip("/").split("/")[-3:]
        try:
            day = dt.date(int(y), int(m), int(dd))
        except ValueError:
            continue
        if min_date <= day <= max_date:
            out.append(d)
    return sorted(out)


def discover_files(
    spark: SparkSession, root: str, layout: str = "hosting"
) -> DataFrame:
    """Work-list DataFrame: one row per discovered parquet file with
    path-decoded partition columns (S3 of the reference).

    Columns: full_path, file_name, environment, data_source, entity_name,
    backup_date. In the hosting layout ``data_source`` is the
    environment, so source membership (P4) and a group's directory
    prefix read ``data_source`` in either layout.
    """
    glob = HOSTING_GLOB if layout == "hosting" else MAILBOX_GLOB
    paths = _hadoop_glob(spark, root.rstrip("/") + "/" + glob)
    df = spark.createDataFrame([(p,) for p in paths], "full_path string")
    segs = F.split(F.col("full_path"), "/")
    n = F.size(segs)
    seg = lambda i: F.element_at(segs, n - F.lit(i))  # noqa: E731  (i from end)
    source_raw = seg(5)
    if layout == "hosting":
        env = F.regexp_extract(source_raw, r"environment=(.*)", 1)
        data_source = env
    else:
        data_source = source_raw
        env = F.split(source_raw, "_").getItem(0)
    return df.select(
        "full_path",
        seg(0).alias("file_name"),
        env.alias("environment"),
        data_source.alias("data_source"),
        seg(4).alias("entity_name"),
        F.to_date(
            F.concat_ws("-", seg(3), seg(2), seg(1)), "yyyy-MM-dd"
        ).alias("backup_date"),
    )
