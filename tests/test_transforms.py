"""Unit tests for the T1-T12 cleaning pipeline — cell-exact parity with the
reference's quirks (FIXTURES.md F7, `CigEolHostingIngestionLogic.py`)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cig_etl_s3_to_sql_data_ingestor_spark.catalog import ColumnSpec, TableSpec
from cig_etl_s3_to_sql_data_ingestor_spark.operators import transforms as TR


def one_col(spark, values, name="v"):
    return spark.createDataFrame([(v,) for v in values], f"{name} string")


def vals(df, name="v"):
    return [r[0] for r in df.select(name).collect()]


def test_t1_environment_derivation():
    assert TR.derive_environment_value("NL_Hosting_Mailbox") == "NL"
    assert TR.derive_environment_value("NL") == "NL"
    assert TR.derive_environment_value("UAT") == "UAT"  # no '_', len>2 → split no-op


def test_t4_sentinel_whole_cell_only(spark):
    df = one_col(spark, ["NaT", "nan", "NaTali", "nanarnia", "True", "False", "x"])
    out = vals(df.select(TR.sentinel_replace(F.col("v")).alias("v")))
    assert out == ["None", "None", "NaTali", "nanarnia", "1", "0", "x"]


def test_t6_decimal_strip_quirks(spark):
    df = one_col(spark, ["123.0", "1.014.0", "5", "x.0y", "7.07"])
    out = vals(df.select(TR.strip_decimal_suffix(F.col("v")).alias("v")))
    # endswith('.0') → remove ALL '.0' substrings (reference :70-73)
    assert out == ["123", "114", "5", "x.0y", "7.07"]


def test_t9_substring_replace_quirk(spark):
    df = one_col(spark, ["NoneSuch", "abc", None, "None"])
    out = vals(df.select(TR.not_nullable_scrub(F.col("v")).alias("v")))
    assert out == ["Such", "abc", "", ""]


def test_t10_nvarchar_cap(spark):
    long = "a" * 100_001
    df = one_col(spark, [long, "short"])
    out = vals(df.select(TR.truncate_nvarchar(F.col("v")).alias("v")))
    assert [len(out[0]), out[1]] == [100_000, "short"]


def test_t12_null_materialization(spark):
    df = one_col(spark, ["None", "NoneSuch", "x"])
    out = vals(df.select(TR.materialize_null(F.col("v")).alias("v")))
    assert out == [None, "NoneSuch", "x"]


def test_t8_gate_applies_only_when_too_long(spark):
    over = one_col(spark, ["2019-07-03 12:34:56.1234567", "2019-07-03 12:34:56"])
    out = vals(TR.truncate_long_timestamps(over, ["v"]))
    assert out == ["2019-07-03 12:34:56.123", "2019-07-03 12:34:56"]
    under = one_col(spark, ["2019-07-03 12:34:56.123", "2019-07-03"])
    assert vals(TR.truncate_long_timestamps(under, ["v"])) == [
        "2019-07-03 12:34:56.123",
        "2019-07-03",
    ]


def test_t7_sci_notation_gate(spark):
    spec = TableSpec(
        "T",
        "t",
        columns=(ColumnSpec("a", "int", True), ColumnSpec("b", "int", True)),
    )
    df = spark.createDataFrame(
        [("1.801439850948301e+16", "12"), ("None", "34")], "a string, b string"
    )
    out = TR.clean_pipeline(df, spec, "NL", dt.date(2024, 1, 5))
    rows = {tuple(r) for r in out.collect()}
    # column a gated in (sci value present) → integer-text normalize;
    # column b untouched (no e+/e- anywhere)
    assert rows == {("18014398509483008", "12"), ("None", "34")}


BANKLINKS = TableSpec(
    target_name="HOST_CIG_BankLinks",
    source="BankLinks",
    columns=(
        ColumnSpec("ID", "str", True),
        ColumnSpec("Bank", "str", False),
        ColumnSpec("Active", "str", True),
        ColumnSpec("Division", "int", True),
        ColumnSpec("PlaidAccessToken", "str", True, length=None),
        ColumnSpec("syscreated", "datetime", True),
        ColumnSpec("Geolocation", "str", True),
        ColumnSpec("MissingCol", "str", True),
        ColumnSpec("Environment", "str", True),
        ColumnSpec("CIGCopyTime", "str", True),
        ColumnSpec("CIGProcessed", "str", True),
    ),
)


def test_clean_pipeline_end_to_end(spark):
    df = spark.createDataFrame(
        [
            ("id1", "ING", "True", "12.0", "tok" * 50_000, "2019-07-03 12:34:56.1234567", "POINT (1 2)"),
            ("nan", "RABO", "False", "1.014.0", "t", "2019-07-03 12:34:56", "NaT"),
        ],
        "ID string, Bank string, Active string, Division string,"
        " PlaidAccessToken string, syscreated string, Geolocation string",
    )
    out = TR.clean_pipeline(
        df, BANKLINKS, "NL_Hosting_Mailbox", dt.date(2024, 1, 5)
    )
    assert out.columns == list(BANKLINKS.column_names)  # P1 order contract
    rows = [r.asDict() for r in out.orderBy("Bank").collect()]
    ing, rabo = rows[0], rows[1]
    assert ing["Environment"] == "NL" and ing["CIGCopyTime"] == "2024-01-05"
    assert ing["CIGProcessed"] == "0"
    assert ing["Active"] == "1" and rabo["Active"] == "0"
    assert ing["Division"] == "12" and rabo["Division"] == "114"  # T6 quirk
    assert len(ing["PlaidAccessToken"]) == 100_000  # T10
    assert ing["syscreated"] == "2019-07-03 12:34:56.123"  # T8 (column gated)
    assert rabo["syscreated"] == "2019-07-03 12:34:56"
    assert ing["Geolocation"] == "POINT (0 0)" == rabo["Geolocation"]  # T11
    assert ing["MissingCol"] == "None" and rabo["MissingCol"] == "None"  # T5
    assert rabo["ID"] == "None"  # T4 whole-cell
    # T12 at the sink boundary
    final = TR.materialize_nulls(out)
    rabo_final = final.filter(F.col("Bank") == "RABO").first()
    assert rabo_final["ID"] is None and rabo_final["MissingCol"] is None


def test_t9_not_nullable_created_as_empty(spark):
    spec = TableSpec(
        "T", "t", columns=(ColumnSpec("Req", "str", False), ColumnSpec("Opt", "str", True))
    )
    df = spark.createDataFrame([("x",)], "Opt string")
    out = TR.clean_pipeline(df, spec, "NL", dt.date(2024, 1, 5))
    assert out.select("Req").first()[0] == ""


def test_connected_components_chain_and_triangle(spark):
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.dedup import (
        connected_components,
    )

    # Components: chain 1-2-3-4 (min 1), triangle 10-11-12 (min 10),
    # pair 20-21 (min 20).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
