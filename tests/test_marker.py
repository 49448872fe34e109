"""Parquet marker ledger: append-only touch and per-run compaction."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from cig_etl_s3_to_sql_data_ingestor_spark import fsutil
from cig_etl_s3_to_sql_data_ingestor_spark.operators.marker import (
    MARKER_KEY,
    MARKER_SCHEMA,
    ParquetMarkerLedger,
)

COMPLETED = "file_name string, environment string, target_table string, backup_date date"


def completed(spark, names, day=5):
    return spark.createDataFrame(
        [(n, "NL", "T1", dt.date(2024, 1, day)) for n in names], COMPLETED
    )


def data_files(path):
    return sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))


def file_bytes(path):
    out = {}
    for f in os.listdir(path):
        with open(os.path.join(path, f), "rb") as fh:
            out[f] = fh.read()
    return out


def persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def next_job_id(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_touch_appends_without_rewriting(spark, tmp_path):
    path = str(tmp_path / "marker")
    ledger = ParquetMarkerLedger(spark, path)
    ledger.touch(completed(spark, ["a.parquet", "b.parquet"]))
    ledger.touch(completed(spark, ["c.parquet"]))
    before = file_bytes(path)
    rdds = persistent_rdd_ids(spark)
    jobs = next_job_id(spark)

    ledger.touch(completed(spark, ["a.parquet", "d.parquet"], day=6))

    after = file_bytes(path)
    for name, content in before.items():
        assert after.get(name) == content, name
    assert not persistent_rdd_ids(spark) - rdds
    assert next_job_id(spark) - jobs == 1
    assert len(data_files(path)) == 3
    keys = {r[0] for r in ledger.read().select("parquet_source").collect()}
    assert keys == {"a.parquet", "b.parquet", "c.parquet", "d.parquet"}


def test_compact_keeps_latest_row_per_key(spark, tmp_path):
    path = str(tmp_path / "marker")
    ledger = ParquetMarkerLedger(spark, path)
    ledger.compact()  # no ledger yet: nothing to do
    ledger.touch(completed(spark, ["a.parquet"], day=5))
    ledger.compact()  # one file: nothing to do
    only = data_files(path)
    ledger.compact()
    assert data_files(path) == only

    ledger.touch(completed(spark, ["a.parquet", "b.parquet"], day=6))
    ledger.touch(completed(spark, ["a.parquet"], day=7))
    ledger.compact()
    assert len(data_files(path)) == 1
    rows = {r["parquet_source"]: r for r in ledger.read().collect()}
    assert len(rows) == ledger.read().count() == 2
    assert str(rows["a.parquet"]["backup_date"]) == "2024-01-07"
    assert str(rows["b.parquet"]["backup_date"]) == "2024-01-06"


class _DeleteOnceFs:
    """Hadoop FileSystem wrapper whose second delete raises."""

    def __init__(self, fs):
        self._fs = fs
        self.deleted = 0

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def delete(self, path, recursive):
        if self.deleted:
            raise RuntimeError("crash during compaction")
        self.deleted += 1
        return self._fs.delete(path, recursive)


def test_compact_crash_between_deletes_converges(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "marker")
    ledger = ParquetMarkerLedger(spark, path)
    names = ["a.parquet", "b.parquet", "c.parquet"]
    for day, name in enumerate(names, start=1):
        ledger.touch(completed(spark, [name, "a.parquet"], day=day))
    old = data_files(path)

    real = fsutil.hadoop_fs

    def failing_fs(spark_, path_):
        fs, jvm = real(spark_, path_)
        return _DeleteOnceFs(fs), jvm

    monkeypatch.setattr(fsutil, "hadoop_fs", failing_fs)
    with pytest.raises(RuntimeError, match="crash during compaction"):
        ledger.compact()
    monkeypatch.undo()

    left = data_files(path)
    assert len(set(old) & set(left)) == 2  # one old file deleted, two kept
    assert len(left) == 3  # plus the merged file
    for name in names:
        assert ledger.exists(name, "NL", "T1")

    ledger.compact()
    assert len(data_files(path)) == 1
    rows = {r["parquet_source"]: r for r in ledger.read().collect()}
    assert len(rows) == ledger.read().count() == 3
    assert str(rows["a.parquet"]["backup_date"]) == "2024-01-03"


def test_single_file_overwrite_ledger_reads_and_compacts(spark, tmp_path):
    """A ledger written as one overwritten file (the earlier
    read-merge-overwrite format) keeps working under append + compact."""
    path = str(tmp_path / "marker")
    ts = dt.datetime(2024, 1, 5, 12, 0)
    spark.createDataFrame(
        [
            ("a.parquet", "T1", "NL", dt.date(2024, 1, 5), ts),
            ("b.parquet", "T1", "NL", dt.date(2024, 1, 5), ts),
        ],
        MARKER_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(path)
    ledger = ParquetMarkerLedger(spark, path)
    assert ledger.exists("a.parquet", "NL", "T1")
    files = spark.createDataFrame(
        [("a.parquet", "NL", "T1"), ("c.parquet", "NL", "T1")],
        "file_name string, environment string, target_table string",
    )
    assert [r[0] for r in ledger.select_work(files).collect()] == ["c.parquet"]

    ledger.touch(completed(spark, ["a.parquet", "c.parquet"], day=6))
    ledger.compact()
    assert len(data_files(path)) == 1
    m = ledger.read()
    assert m.count() == m.dropDuplicates(MARKER_KEY).count() == 3
    got = {r[0]: str(r[1]) for r in m.select("parquet_source", "backup_date").collect()}
    assert got == {
        "a.parquet": "2024-01-06",
        "b.parquet": "2024-01-05",
        "c.parquet": "2024-01-06",
    }
