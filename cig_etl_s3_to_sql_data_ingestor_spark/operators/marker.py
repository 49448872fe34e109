"""Marker ledger: the reference's exactly-once protocol
(`CustomMarkerTable.py`, `ETL_Import_From_S3_Marker`).

Schema (FIXTURES.md F4): parquet_source, target_table, environment,
backup_date, inserted_date. Logical dedup key is the TRIPLE
(parquet_source, environment, target_table) — backup_date is
deliberately NOT part of it (`CustomMarkerTable.py:35-38,53-57`): a
same-named file re-delivered on a later date counts as already ingested.
Known limit, inherited from the reference: data_source is not in the
key, so two mailbox data sources that share an environment and a file
name share one marker (fixing it changes the F4 schema).

Operations, all DataFrame-shaped:
- ``select_work``: anti-join the candidate work-list against the ledger
  (J4). The ledger is tiny relative to the corpus → broadcast.
- ``touch``: record completed work. JDBC upserts by a staged MERGE (the
  reference's row-level upsert); parquet APPENDS one file, never
  rewriting the ledger, so a key may sit in several files until
  ``compact`` — ``select_work`` and ``exists`` only ask for presence.
- ``ParquetMarkerLedger.compact``: fold the files into one, then delete
  exactly the files it read. A crash anywhere leaves at worst duplicate
  keys (the same key set); it never deletes a file it did not read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MARKER_KEY = ["parquet_source", "environment", "target_table"]

MARKER_SCHEMA = T.StructType(
    [
        T.StructField("parquet_source", T.StringType(), False),
        T.StructField("target_table", T.StringType(), True),
        T.StructField("environment", T.StringType(), True),
        T.StructField("backup_date", T.DateType(), True),
        T.StructField("inserted_date", T.TimestampType(), True),
    ]
)


class MarkerLedger:
    """Shared marker protocol: exists / select_work / touch over any
    storage backend (subclasses provide ``read``/``_write``)."""

    spark: SparkSession

    def read(self) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    def _write(self, new: DataFrame) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def exists(self, parquet_source: str, environment: str, target_table: str) -> bool:
        """LIMIT-1 existence probe (`CustomMarkerTable.py:47-59`)."""
        m = self.read()
        return not m.filter(
            (F.col("parquet_source") == parquet_source)
            & (F.col("environment") == environment)
            & (F.col("target_table") == target_table)
        ).isEmpty()

    def select_work(self, files: DataFrame) -> DataFrame:
        """J4: keep only files not yet recorded under the triple key.

        ``files`` must carry file_name, environment, target_table."""
        marker = self.read().select(
            F.col("parquet_source").alias("file_name"),
            "environment",
            "target_table",
        )
        return files.join(
            F.broadcast(marker), ["file_name", "environment", "target_table"], "left_anti"
        )

    def touch(self, completed: DataFrame) -> None:
        """Record completed rows (keyed on the triple; latest wins)."""
        self._write(
            completed.select(
                F.col("file_name").alias("parquet_source"),
                F.col("target_table"),
                F.col("environment"),
                F.col("backup_date").cast("date"),
                F.current_timestamp().alias("inserted_date"),
            )
        )


class ParquetMarkerLedger(MarkerLedger):
    """Marker table persisted as a small parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        # Only "the ledger does not exist yet" maps to an empty frame: a
        # transient/corrupt read treated as empty would make select_work
        # re-ingest every file into an append-only sink.
        from pyspark.errors import AnalysisException

        try:
            return self.spark.read.schema(MARKER_SCHEMA).parquet(self.path)
        except AnalysisException as ex:
            if "PATH_NOT_FOUND" in str(ex):
                return self.spark.createDataFrame([], MARKER_SCHEMA)
            raise

    def _write(self, new: DataFrame) -> None:
        new.coalesce(1).write.mode("append").parquet(self.path)

    def compact(self) -> None:
        """Fold the ledger's files into one, keeping per key the row with
        the latest ``inserted_date`` (as the JDBC upsert does)."""
        from ..fsutil import hadoop_fs

        fs, jvm = hadoop_fs(self.spark, self.path)
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        files = [
            st.getPath()
            for st in (fs.listStatus(root) if fs.exists(root) else [])
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        ]
        if len(files) < 2:
            return
        self._write(
            self.spark.read.schema(MARKER_SCHEMA)
            .parquet(*[p.toString() for p in files])
            .coalesce(1)  # one task and no shuffle: the output is one file
            .groupBy(*MARKER_KEY)
            .agg(F.max(F.struct("inserted_date", "backup_date")).alias("m"))
            .select(*MARKER_KEY, "m.*")
        )
        for p in files:
            fs.delete(p, False)


class JdbcMarkerLedger(MarkerLedger):
    """Marker table in a SQL database over JDBC — the reference keeps its
    `ETL_Import_From_S3_Marker` in the target SQL Server (`luigi.cfg:5`)
    so operators can audit it with plain SQL; this backend preserves
    that.

    ``touch`` is a real MERGE upsert (stage the new rows, one
    transactional ``MERGE INTO`` keyed on the triple): concurrent
    writers ingesting different file sets serialize on row locks and
    BOTH sets survive. Derby (>= 10.11), SQL Server, and Postgres (15+)
    all speak this MERGE dialect.
    """

    def __init__(self, spark: SparkSession, url: str, table: str = "etl_marker"):
        self.spark = spark
        self.url = url
        self.table = table

    def read(self) -> DataFrame:
        from ..sources.jdbc import _TABLE_MISSING_STATES, _sqlstate, read_query

        # Same contract as the parquet backend: only "table absent" is
        # empty; any other failure propagates.
        try:
            df = read_query(self.spark, self.url, f"SELECT * FROM {self.table}")
        except Exception as ex:
            if _sqlstate(ex) in _TABLE_MISSING_STATES:
                return self.spark.createDataFrame([], MARKER_SCHEMA)
            raise
        # Normalize identifier case (Derby uppercases) + types.
        cols = {c.lower(): c for c in df.columns}
        return df.select(
            *[
                F.col(cols[f.name.lower()]).cast(f.dataType).alias(f.name)
                for f in MARKER_SCHEMA.fields
            ]
        )

    # The reference declares varchar(128) keys (`CustomMarkerTable.py:74-80`);
    # declaring them here also keeps Derby on VARCHAR instead of CLOB,
    # which would reject pushed-down equality filters.
    COLUMN_TYPES = (
        "parquet_source VARCHAR(128), target_table VARCHAR(128), "
        "environment VARCHAR(128)"
    )

    def _ensure_table(self) -> None:
        from ..sources.jdbc import _TABLE_MISSING_STATES, _sqlstate, read_query

        try:
            # Direct probe (read() maps "missing" to an empty frame, so it
            # cannot distinguish the create-needed case).
            read_query(
                self.spark, self.url, f"SELECT * FROM {self.table} WHERE 1=0"
            )
            return
        except Exception as ex:
            if _sqlstate(ex) not in _TABLE_MISSING_STATES:
                raise
        empty = self.spark.createDataFrame([], MARKER_SCHEMA)
        empty.write.mode("append").format("jdbc").option("url", self.url).option(
            "dbtable", self.table
        ).option("createTableColumnTypes", self.COLUMN_TYPES).save()

    def _write(self, new: DataFrame) -> None:
        """Upsert via staged MERGE — safe under concurrent writers."""
        import uuid

        # MERGE requires a unique source row per target row.
        new = new.dropDuplicates(MARKER_KEY)
        self._ensure_table()
        staging = f"{self.table}_stg_{uuid.uuid4().hex[:8]}"
        new.coalesce(1).write.mode("overwrite").format("jdbc").option(
            "url", self.url
        ).option("dbtable", staging).option(
            "createTableColumnTypes", self.COLUMN_TYPES
        ).save()
        # Spark's JDBC DDL quotes column names (case-preserved), so the
        # MERGE must quote them too — Derby would otherwise uppercase.
        q = lambda c: f'"{c}"'  # noqa: E731
        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in MARKER_KEY)
        cols = [f.name for f in MARKER_SCHEMA.fields]
        updates = ", ".join(
            f"{q(c)} = s.{q(c)}" for c in cols if c not in MARKER_KEY
        )
        insert_cols = ", ".join(q(c) for c in cols)
        insert_vals = ", ".join(f"s.{q(c)}" for c in cols)
        merge_sql = (
            f"MERGE INTO {self.table} t USING {staging} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {updates} "
            f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
        )
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            conn.setAutoCommit(False)
            stmt = conn.createStatement()
            stmt.executeUpdate(merge_sql)
            stmt.executeUpdate(f"DROP TABLE {staging}")
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()
