"""End-to-end batch ingest: discovery → work-list pruning → clean →
sink → marker idempotency (the reference's `main.py` lifecycle)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from cig_etl_s3_to_sql_data_ingestor_spark.catalog import ColumnSpec, TableSpec
from cig_etl_s3_to_sql_data_ingestor_spark.operators.marker import ParquetMarkerLedger
from cig_etl_s3_to_sql_data_ingestor_spark.operators.monitor import freshness_report
from cig_etl_s3_to_sql_data_ingestor_spark.pipeline import BatchIngest
from cig_etl_s3_to_sql_data_ingestor_spark.sources.parquet_tree import discover_files

SPEC = TableSpec(
    target_name="HOST_CIG_Widgets",
    source="Widgets",
    columns=(
        ColumnSpec("ID", "str", True),
        ColumnSpec("Name", "str", False),
        ColumnSpec("Environment", "str", True),
        ColumnSpec("CIGCopyTime", "str", True),
        ColumnSpec("CIGProcessed", "str", True),
    ),
)

DISABLED = TableSpec(target_name="HOST_CIG_Off", source="Off", is_enabled=False,
                     columns=SPEC.columns)


def write_source(spark, root, env, entity, date, name, rows):
    """Write a single plain parquet FILE (as S3 backups are), not a
    Spark-style directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"environment={env}", entity, *date.split("/"))
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {"ID": [r[0] for r in rows], "Name": [r[1] for r in rows]}
    )
    pq.write_table(table, os.path.join(path, name))


@pytest.fixture()
def tree(spark, tmp_path):
    root = str(tmp_path / "data")
    write_source(spark, root, "NL", "Widgets", "2024/01/05", "w1.parquet",
                 [("a", "x"), ("nan", "y")])
    write_source(spark, root, "DE", "Widgets", "2024/01/05", "w2.parquet", [("b", "z")])
    write_source(spark, root, "NL", "Widgets", "2024/01/04", "old.parquet", [("c", "o")])
    write_source(spark, root, "NL", "Off", "2024/01/05", "off.parquet", [("d", "q")])
    write_source(spark, root, "NL", "Unknown", "2024/01/05", "u.parquet", [("e", "r")])
    return root


def test_discovery_decodes_partitions(spark, tree):
    files = discover_files(spark, tree, "hosting")
    rows = {
        (r.environment, r.entity_name, str(r.backup_date))
        for r in files.collect()
    }
    assert ("NL", "Widgets", "2024-01-05") in rows
    assert ("DE", "Widgets", "2024-01-05") in rows
    assert ("NL", "Widgets", "2024-01-04") in rows
    assert files.count() == 5


def test_batch_ingest_prunes_and_is_idempotent(spark, tree, tmp_path):
    catalog = {"Widgets": SPEC, "Off": DISABLED}
    ingest = BatchIngest(
        spark=spark,
        catalog=catalog,
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
        environments=["NL"],
    )
    results = ingest.run(tree, dt.date(2024, 1, 5))
    # P2 drops Off, P4 drops DE, P3 drops the 01-04 file, P5 drops Unknown
    assert len(results) == 1
    r = results[0]
    assert (r.environment, r.target_table, r.n_files) == ("NL", "HOST_CIG_Widgets", 1)
    sunk = spark.read.parquet(r.sink_path)
    assert sunk.count() == 2
    got = {tuple(x) for x in sunk.select("ID", "Name", "Environment", "CIGProcessed").collect()}
    assert got == {("a", "x", "NL", "0"), (None, "y", "NL", "0")}  # T4+T12 on 'nan'

    # marker recorded under the triple key
    ledger = ParquetMarkerLedger(spark, str(tmp_path / "marker"))
    assert ledger.exists("w1.parquet", "NL", "HOST_CIG_Widgets")
    assert not ledger.exists("w2.parquet", "DE", "HOST_CIG_Widgets")

    # re-run: marker anti-join leaves nothing to do
    again = ingest.run(tree, dt.date(2024, 1, 5))
    assert again == []
    assert spark.read.parquet(r.sink_path).count() == 2

    # new file arrives → only it is ingested
    write_source(spark, tree, "NL", "Widgets", "2024/01/05", "w3.parquet", [("f", "n")])
    third = ingest.run(tree, dt.date(2024, 1, 5))
    assert len(third) == 1 and third[0].n_files == 1
    assert spark.read.parquet(r.sink_path).count() == 3


def test_batch_ingest_compacts_ledger_once_per_run(spark, tree, tmp_path):
    """Every group appends its markers; the run then folds the ledger
    into one file, and a run with nothing to ingest leaves it alone."""
    marker = str(tmp_path / "marker")
    ingest = BatchIngest(
        spark=spark,
        catalog={"Widgets": SPEC, "Off": DISABLED},
        sink_root=str(tmp_path / "sink"),
        marker_path=marker,
    )
    results = ingest.run(tree, dt.date(2024, 1, 4))
    assert len(results) == 2  # one group per environment

    def data_files():
        return [f for f in os.listdir(marker) if not f.startswith(("_", "."))]

    assert len(data_files()) == 1
    m = ParquetMarkerLedger(spark, marker).read()
    keys = {tuple(r) for r in m.select("parquet_source", "environment").collect()}
    assert keys == {("w1.parquet", "NL"), ("old.parquet", "NL"), ("w2.parquet", "DE")}
    assert m.count() == 3

    listing = sorted(os.listdir(marker))
    assert ingest.run(tree, dt.date(2024, 1, 4)) == []
    assert sorted(os.listdir(marker)) == listing


def test_work_groups_are_bounded_descriptors(spark, tree):
    """The driver must never hold per-file path lists: a work group is a
    fixed-size descriptor (counts + date range), and the group's day
    directories resolve as a bounded metadata call."""
    from cig_etl_s3_to_sql_data_ingestor_spark.plans.worklist import (
        WorkGroup,
        build_worklist,
        config_frame,
        work_groups,
    )
    from cig_etl_s3_to_sql_data_ingestor_spark.sources.parquet_tree import (
        group_day_dirs,
    )

    files = discover_files(spark, tree, "hosting")
    cfg = config_frame(spark, {"Widgets": SPEC, "Off": DISABLED})
    wl = build_worklist(files, cfg, dt.date(2024, 1, 4))
    groups = work_groups(wl)
    assert all(isinstance(g, WorkGroup) for g in groups)
    nl = next(g for g in groups if g.environment == "NL")
    assert nl.n_files == 2  # 01-04 and 01-05 files both >= ingestion date
    assert (str(nl.min_date), str(nl.max_date)) == ("2024-01-04", "2024-01-05")
    # No per-file payload on the descriptor — counts and dates only.
    assert not hasattr(nl, "paths")

    days = group_day_dirs(
        spark, tree, "hosting", "NL", "Widgets", nl.min_date, nl.max_date
    )
    assert [d.rsplit("/", 3)[1:] for d in sorted(days)] == [
        ["2024", "01", "04"],
        ["2024", "01", "05"],
    ]
    # Date-range push-down prunes directories outside the range.
    only_new = group_day_dirs(
        spark, tree, "hosting", "NL", "Widgets", dt.date(2024, 1, 5), dt.date(2024, 1, 5)
    )
    assert len(only_new) == 1 and only_new[0].endswith("05")


def test_mailbox_layout_environment_derivation(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "mb")
    path = os.path.join(root, "NL_Hosting_Mailbox", "Msgs", "2024", "01", "05")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"ID": ["m1"], "Name": ["s"]}), os.path.join(path, "m.parquet"))
    files = discover_files(spark, root, "mailbox")
    row = files.first()
    assert row.environment == "NL"
    assert row.data_source == "NL_Hosting_Mailbox"
    assert row.entity_name == "Msgs"


def test_mailbox_group_marks_only_its_own_data_source(spark, tmp_path):
    """Two mailbox data sources share one environment (NL_A, NL_B -> NL).
    The NL_A group must not mark NL_B's files as done: when NL_B's group
    fails, the re-run has to pick its files up again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "mb")

    def day_dir(source):
        path = os.path.join(root, source, "Widgets", "2024", "01", "05")
        os.makedirs(path, exist_ok=True)
        return path

    pq.write_table(
        pa.table({"ID": ["a"], "Name": ["x"]}), os.path.join(day_dir("NL_A"), "a.parquet")
    )
    broken = os.path.join(day_dir("NL_B"), "b.parquet")
    with open(broken, "wb") as fh:
        fh.write(b"not a parquet file")
    ingest = BatchIngest(
        spark,
        {"Widgets": SPEC},
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
        layout="mailbox",
    )
    with pytest.raises(Exception):
        ingest.run(root, dt.date(2024, 1, 5))

    os.remove(broken)
    pq.write_table(pa.table({"ID": ["b"], "Name": ["y"]}), broken)
    again = ingest.run(root, dt.date(2024, 1, 5))
    assert [(r.target_table, r.n_files) for r in again] == [("HOST_CIG_Widgets", 1)]
    sunk = spark.read.parquet(again[0].sink_path)
    assert sorted(r["ID"] for r in sunk.collect()) == ["a", "b"]


def test_freshness_monitor_tiers(spark, tree):
    files = discover_files(spark, tree, "hosting")
    ref = dt.date(2024, 1, 6)
    # Everything is stale vs 01-06 except nothing; grant Widgets/NL a
    # 7-day grace tier → only DE/Widgets + NL/Off + NL/Unknown reported.
    exceptions = spark.createDataFrame(
        [("Widgets", "NL", 7)], "entity_name string, environment string, tier_days int"
    )
    report = freshness_report(files, ref, exceptions)
    got = {(r.environment, r.entity_name) for r in report.collect()}
    assert got == {("DE", "Widgets"), ("NL", "Off"), ("NL", "Unknown")}


def test_catalog_load_from_json(spark, tmp_path):
    """S4: cig_tables.json-shaped config load into TableSpecs."""
    import json

    from cig_etl_s3_to_sql_data_ingestor_spark.catalog import load_catalog

    cfg = [
        {
            "target_name": "HOST_CIG_Accounts",
            "source": "Accounts",
            "is_enabled": True,
            "columns": ["ID", "Name", "Environment", "CIGCopyTime", "CIGProcessed"],
        },
        {
            "target_name": "HOST_CIG_Off",
            "source": "Off",
            "is_enabled": False,
            "columns": ["ID"],
        },
    ]
    p = tmp_path / "tables.json"
    p.write_text(json.dumps(cfg))
    cat = load_catalog(str(p))
    assert set(cat) == {"Accounts", "Off"}
    spec = cat["Accounts"]
    assert spec.target_name == "HOST_CIG_Accounts"
    assert [c.name for c in spec.columns] == cfg[0]["columns"]
    assert not cat["Off"].is_enabled


def test_notifier_on_success_and_failure(spark, tmp_path, tree):
    from cig_etl_s3_to_sql_data_ingestor_spark.notify import CollectingNotifier

    notes = CollectingNotifier()
    ingest = BatchIngest(
        spark,
        {"Widgets": SPEC, "Off": DISABLED},
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
        notifier=notes,
    )
    ingest.run(tree, dt.date(2024, 1, 5))
    assert len(notes.messages) == 1 and "HOST_CIG_Widgets" in notes.messages[0]

    # No new work -> no message (`main.py:183-186` gates on activity).
    ingest2 = BatchIngest(
        spark,
        {"Widgets": SPEC, "Off": DISABLED},
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
        notifier=notes,
    )
    ingest2.run(tree, dt.date(2024, 1, 5))
    assert len(notes.messages) == 1

    # Failure path: unreadable root -> failure message, exception raised.
    bad = BatchIngest(
        spark,
        {"Widgets": SPEC},
        sink_root=str(tmp_path / "sink2"),
        marker_path=str(tmp_path / "marker2"),
        notifier=notes,
        layout="not-a-layout",
    )
    bad_root = str(tmp_path / "definitely-missing")
    try:
        bad.run(bad_root, dt.date(2024, 1, 5))
    except Exception:
        pass
    # Whether discovery errors or yields nothing, no spurious summary:
    assert all("failed" in m or "HOST_CIG_Widgets" in m for m in notes.messages)


def test_schema_drift_tolerated(spark, tmp_path):
    """§1.3: drift between parquet and target is tolerated one-way —
    missing target columns are synthesized (T5/T9), extra source columns
    are dropped by the ordered projection (P1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "data")
    path = os.path.join(root, "environment=NL", "Widgets", "2024", "01", "05")
    os.makedirs(path)
    # Missing 'Name' (non-nullable in the spec) + unexpected 'Extra'.
    pq.write_table(
        pa.table({"ID": ["d1", "d2"], "Extra": ["junk1", "junk2"]}),
        os.path.join(path, "drift.parquet"),
    )
    ingest = BatchIngest(
        spark,
        {"Widgets": SPEC},
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
    )
    results = ingest.run(root, dt.date(2024, 1, 5))
    assert results and results[0].n_rows == 2
    out = spark.read.parquet(results[0].sink_path)
    # Exact contract order, no Extra column.
    assert out.columns == ["ID", "Name", "Environment", "CIGCopyTime", "CIGProcessed"]
    rows = {r["ID"]: r for r in out.collect()}
    assert rows["d1"]["Name"] == ""  # T9: non-nullable default is ''
    assert rows["d1"]["Environment"] == "NL"


def test_dynamic_partition_overwrite_replaces_only_present_days(spark, tmp_path):
    """Replaying one day's ingest must replace exactly that day: day1
    untouched, day2 replaced (not appended), day3 added."""
    from cig_etl_s3_to_sql_data_ingestor_spark.sources.partitioned_sink import (
        overwrite_partitions,
    )

    path = str(tmp_path / "lake")
    first = spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, "d2"), (4, "d2")], ["id", "day"]
    )
    overwrite_partitions(first, path, ["day"])

    replay = spark.createDataFrame(
        [(30, "d2"), (5, "d3")], ["id", "day"]
    )
    overwrite_partitions(replay, path, ["day"])

    got = {
        (r.day, r.id) for r in spark.read.parquet(path).collect()
    }
    assert got == {("d1", 1), ("d1", 2), ("d2", 30), ("d3", 5)}


def test_semi_join_paths_survive_special_characters(spark, tmp_path):
    """input_file_name() percent-encodes special path characters while
    Hadoop listings report them raw; the decode on the read side must
    reconcile them or files in 'My Entity'-style dirs are silently
    dropped (and still marked ingested) — the review-caught loss path."""
    from pyspark.sql import functions as F

    from cig_etl_s3_to_sql_data_ingestor_spark.sources.parquet_tree import (
        _hadoop_glob,
        decode_input_file,
        norm_path,
    )

    d = tmp_path / "en tity+x" / "day=2024-01-01"
    d.mkdir(parents=True)
    spark.range(3).coalesce(1).write.parquet(str(d / "part a+b.parquet"))
    listed = [
        p
        for p in _hadoop_glob(spark, str(d / "part a+b.parquet" / "*.parquet"))
        if p.endswith(".parquet")
    ]
    assert listed, "listing must see the file"
    wl = spark.createDataFrame([(p,) for p in listed], ["full_path"]).select(
        norm_path(F.col("full_path")).alias("_wl_path")
    )
    df = (
        spark.read.parquet(str(d / "part a+b.parquet"))
        .withColumn(
            "_src_path", norm_path(decode_input_file(F.input_file_name()))
        )
        .join(wl, F.col("_src_path") == F.col("_wl_path"), "left_semi")
    )
    assert df.count() == 3, "special-character paths must survive the semi-join"
