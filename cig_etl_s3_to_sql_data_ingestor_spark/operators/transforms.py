"""The cleaning-transform core: T1-T12 from SURVEY.md §2.7, re-expressed as
native Column expressions (whole-stage codegen; no Python UDFs anywhere).

Reference semantics source: `/root/reference/CigEolHostingIngestionLogic.py`
(exact call order at lines 32-41: T5 default-missing, T6 nullable-int, T7
sci-notation, T9 not-nullable scrub, T8 timestamp truncation, T10
nvarchar(max) cap, T11 odd columns) and
`/root/reference/ParquetFileInsertion.py:59-75` (T12 NULL materialization).

Deliberate reference quirks are reproduced and unit-tested (FIXTURES.md F7):
- T6 removes *all* ``.0`` substrings when the value ends with ``.0``
  ("1.014.0" -> "114");
- T4 replaces whole cells only ("nanarnia" untouched) while T9 replaces
  substrings ("NoneSuch" -> "Such");
- T1 implements the *intent* of the reference's latent bug
  (`environment.length` would raise; the working duplicate is
  `main_mailbox.py:56`).

Scale notes: `clean_pipeline` composes every target column's expression
once and returns ONE projection — zero shuffles for the whole pipeline; a
100 TB ingest is scan -> map -> sink. The T7 and T8 column-wide gates
(like the reference's pandas pre-scans) are computed together in one
aggregate over the source, whose booleans fold into the projection as
plan choices; a table with no nullable int and no datetime column runs
no gate job at all.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import date

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import TableSpec

NVARCHAR_MAX_LIMIT = 100_000  # ODBC 7125 workaround (reference :56)
TIMESTAMP_MAX_LEN = 23  # yyyy-MM-dd HH:mm:ss.SSS (reference :102)

# ---------------------------------------------------------------------------
# Scalar building blocks (each maps 1:1 to a reference behavior)
# ---------------------------------------------------------------------------


def derive_environment_value(environment: str) -> str:
    """T1 driver-side variant (the env is a per-file constant)."""
    return environment.split("_")[0] if len(environment) > 2 else environment


def derive_environment(col: Column) -> Column:
    """T1 as a column expression: `NL_Hosting_Mailbox` -> `NL`."""
    return F.when(F.length(col) > 2, F.split(col, "_").getItem(0)).otherwise(col)


def sentinel_replace(col: Column) -> Column:
    """T4: whole-cell replace of NaT/nan -> None and True/False -> 1/0."""
    return (
        F.when(col == "NaT", "None")
        .when(col == "nan", "None")
        .when(col == "True", "1")
        .when(col == "False", "0")
        .otherwise(col)
    )


def strip_decimal_suffix(col: Column) -> Column:
    """T6: if the value ends with ``.0`` remove ALL ``.0`` substrings
    (quirk-exact: "1.014.0" -> "114")."""
    return F.when(col.endswith(".0"), F.regexp_replace(col, r"\.0", "")).otherwise(col)


def normalize_int_string(col: Column) -> Column:
    """Idiomatic (non-quirk) integer normalization used by oracle-facing
    queries: parse to double, render as integer text, preserve sentinels.

    Chosen over the reference's float-repr pass (T7) because Java and C
    double formatting differ; the *value* semantics are identical for
    integral columns.
    """
    return F.when(
        (col.isNull()) | (col == "None"), col
    ).otherwise(col.try_cast("double").cast("long").cast("string"))


def not_nullable_scrub(col: Column) -> Column:
    """T9: default to '' and remove the SUBSTRING 'None' ("NoneSuch"->"Such")."""
    return F.regexp_replace(F.coalesce(col, F.lit("")), "None", "")


def truncate_nvarchar(col: Column, limit: int = NVARCHAR_MAX_LIMIT) -> Column:
    """T10: nvarchar(max) cap."""
    return F.substring(col, 1, limit)


def materialize_null(col: Column) -> Column:
    """T12: the literal string 'None' becomes a real NULL at the sink."""
    return F.when(col == "None", F.lit(None).cast("string")).otherwise(col)


def truncate_timestamp(col: Column) -> Column:
    """T8 rewrite: keep the first 23 characters (yyyy-MM-dd HH:mm:ss.SSS)."""
    return F.substring(col, 1, TIMESTAMP_MAX_LEN)


ODD_COLUMNS = {"Geolocation": "POINT (0 0)", "Logo": "None", "Picture": "None"}


# ---------------------------------------------------------------------------
# Frame-level plans
# ---------------------------------------------------------------------------


def truncate_long_timestamps(
    df: DataFrame, cols: list[str], out_suffix: str = ""
) -> DataFrame:
    """T8: per column, truncate to 23 chars iff the column-wide max string
    length exceeds 23. One aggregate job computes every gate at once; its
    result folds into the projection as constants (no unpartitioned window
    at scale)."""
    present = [c for c in cols if c in df.columns]
    if not present:
        return df
    gates = df.agg(
        *[F.max(F.length(F.col(c))).alias(c) for c in present]
    ).first()
    updates = {}
    for c in present:
        maxlen = gates[c] or 0
        val = truncate_timestamp(F.col(c)) if maxlen > TIMESTAMP_MAX_LEN else F.col(c)
        updates[c + out_suffix] = val
    return df.withColumns(updates)


def materialize_nulls(df: DataFrame) -> DataFrame:
    """T12 over every string column, applied just before the sink."""
    updates = {
        f_.name: materialize_null(F.col(f_.name))
        for f_ in df.schema.fields
        if f_.dataType.simpleString() == "string"
    }
    return df.withColumns(updates) if updates else df


def clean_pipeline(
    df: DataFrame, table: TableSpec, environment: str, ingestion_date: date
) -> DataFrame:
    """T1-T11 plus the ordered projection P1 as ONE ``select``: each
    target column's expression is composed once, in the reference's call
    order (`CigEolHostingIngestionLogic.py:32-41`). T12 is applied
    separately by the sink.

    The column-wide gates of T7 (nullable ints, any value containing
    ``e-``/``e+`` after T6) and T8 (datetimes, max length > 23 after T9)
    are computed in ONE aggregate job. A gated rewrite is always the
    column's last step before T11: T7 and T9 never share a column
    (nullable vs not), and T10 applies to str columns only."""
    types = {f_.name: f_.dataType.simpleString() for f_ in df.schema.fields}
    audit = {  # T1-T3
        "Environment": derive_environment_value(environment),
        "CIGCopyTime": ingestion_date.strftime("%Y-%m-%d"),
        "CIGProcessed": "0",
    }
    exprs: list[Column] = []
    gated: list[tuple[int, Column, Callable[[Column], Column]]] = []  # (index, gate, rewrite)
    for i, c in enumerate(table.columns):
        if c.name in ODD_COLUMNS:  # T11 overrides every earlier step
            exprs.append(F.lit(ODD_COLUMNS[c.name]))
            continue
        if c.name in audit:
            col = sentinel_replace(F.lit(audit[c.name]))  # T4
        elif c.name in types:
            col = F.col(c.name)
            if types[c.name] == "string":
                col = sentinel_replace(col)  # T4
        else:
            col = F.lit("None")  # T5
        if c.ctype == "int" and c.nullable:
            col = strip_decimal_suffix(col)  # T6
            t7_gate = F.max(col.contains("e-") | col.contains("e+"))
            gated.append((i, t7_gate, normalize_int_string))  # T7
        if not c.nullable:
            col = not_nullable_scrub(col)  # T9
        if c.ctype == "datetime":
            t8_gate = F.max(F.length(col)) > TIMESTAMP_MAX_LEN
            gated.append((i, t8_gate, truncate_timestamp))  # T8
        if c.ctype == "str" and c.length is None:
            col = truncate_nvarchar(col)  # T10
        exprs.append(col)
    if gated:
        hits = df.agg(*[g.alias(f"g{k}") for k, (_, g, _) in enumerate(gated)]).first()
        for k, (i, _, rewrite) in enumerate(gated):
            if hits[k]:
                exprs[i] = rewrite(exprs[i])
    return df.select(*[e.alias(n) for e, n in zip(exprs, table.column_names)])  # P1
