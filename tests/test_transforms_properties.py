"""Property-based tests: the T-operator Column expressions vs independent
Python models of the reference semantics (SURVEY §2.7), over adversarial
generated strings — regex-escaping bugs, unicode, embedded sentinels, and
null handling that fixed fixtures won't reach.

One Spark job evaluates a whole generated batch (hypothesis shrinks on
the batch), keeping runtime sane.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cig_etl_s3_to_sql_data_ingestor_spark.catalog import ColumnSpec, TableSpec
from cig_etl_s3_to_sql_data_ingestor_spark.operators import transforms as TR

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# Text including sentinel fragments and regex metachars.
fragments = st.sampled_from(
    ["NaT", "nan", "None", "True", "False", ".0", "1.0", "a", "\\", ".", "*", "é", " "]
)
texts = st.one_of(
    st.text(max_size=12),
    st.lists(fragments, max_size=5).map("".join),
)
cells = st.one_of(st.none(), texts)
batches = st.lists(cells, min_size=1, max_size=60)


def run_column(spark, values, colfn):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(colfn(F.col("v")).alias("o")).collect()]


# --- Independent models of the reference semantics ---------------------


def model_sentinel(v):  # T4: whole-cell only (`CigEolHostingIngestionLogic.py:24-30`)
    if v is None:
        return None
    return {"NaT": "None", "nan": "None", "True": "1", "False": "0"}.get(v, v)


def model_strip_decimal(v):  # T6: all '.0' removed IF endswith (`:61-73`)
    if v is None:
        return None
    return v.replace(".0", "") if v.endswith(".0") else v


def model_scrub(v):  # T9: substring replace, null -> '' (`:106-112`)
    return ("" if v is None else v).replace("None", "")


def model_null(v):  # T12: literal 'None' -> NULL (`ParquetFileInsertion.py:68-75`)
    return None if v == "None" else v


def model_env(v):  # T1 intent (`main_mailbox.py:56`)
    if v is None:
        return None
    return v.split("_")[0] if len(v) > 2 else v


@pytest.mark.parametrize(
    "colfn,model",
    [
        (TR.sentinel_replace, model_sentinel),
        (TR.strip_decimal_suffix, model_strip_decimal),
        (TR.not_nullable_scrub, model_scrub),
        (TR.materialize_null, model_null),
        (TR.derive_environment, model_env),
    ],
    ids=["T4_sentinel", "T6_decimal", "T9_scrub", "T12_null", "T1_env"],
)
@SETTINGS
@given(values=batches)
def test_transform_matches_model(spark, colfn, model, values):
    assert run_column(spark, values, colfn) == [model(v) for v in values]


int_strings = st.one_of(
    st.integers(-(10**15), 10**15).map(lambda i: f"{i}.0"),
    st.integers(-(10**15), 10**15).map(str),
    st.just("None"),
    st.none(),
    st.text(st.characters(whitelist_categories=["Ll"]), max_size=5),  # unparsable
)


def model_normalize_int(v):  # T6/T7 combined normalize
    if v is None or v == "None":
        return v
    try:
        f = float(v)
    except ValueError:
        return None
    if f != f or f in (float("inf"), float("-inf")):
        return None
    return str(int(f))


@SETTINGS
@given(values=st.lists(int_strings, min_size=1, max_size=60))
def test_normalize_int_string_matches_model(spark, values):
    got = run_column(spark, values, TR.normalize_int_string)
    want = [model_normalize_int(v) for v in values]
    assert got == want


# --- The whole clean pipeline (T1-T11 + P1) vs a frame-by-frame model ---

INGESTION_DATE = dt.date(2024, 1, 5)
AUDIT = ("Environment", "CIGCopyTime", "CIGProcessed")
ODD = {"Geolocation": "POINT (0 0)", "Logo": "None", "Picture": "None"}

int_cells = st.one_of(
    st.integers(-999, 999).map(str),
    st.integers(-999, 999).map(lambda i: f"{i}.0"),
    # "2e.0+1.0" holds "e+" only after T6 strips its ".0"s
    st.sampled_from(["1.014.0", "2e.0+1.0", "None", "nan", "True", "x", ""]),
    st.none(),
)
sci_cells = st.builds(  # any one of these turns the T7 gate on
    lambda m, sign, k: f"{m}e{sign}{k}",
    st.sampled_from(["1", "2.5", "-7", "1.0"]),
    st.sampled_from("+-"),
    st.integers(0, 6),
)
ts_cells = st.one_of(
    st.sampled_from(["2019-07-03 12:34:56", "2019-07-03 12:34:56.123", "NaT", ""]),
    st.lists(fragments, max_size=6).map("".join),
    st.none(),
)
# Over 23 characters: turns the T8 gate on, unless T9 scrubs the 'None's
# out of a non-nullable column first.
long_ts_cells = st.sampled_from(
    ["2019-07-03 12:34:56.1234567", "NoneNoneNoneNoneNoneNone"]
)


@st.composite
def clean_cases(draw):
    """A small target table, a source frame of string columns (some
    target columns missing, one extra) and the run's environment."""
    n_rows = draw(st.integers(0, 6))
    specs, source = [], {}
    for i in range(draw(st.integers(1, 5))):
        ctype = draw(st.sampled_from(["str", "int", "datetime"]))
        length = draw(st.sampled_from([255, None])) if ctype == "str" else 255
        spec = ColumnSpec(f"c{i}", ctype, draw(st.booleans()), length)
        specs.append(spec)
        if ctype == "int":
            values = st.one_of(int_cells, sci_cells) if draw(st.booleans()) else int_cells
        elif ctype == "datetime":
            values = st.one_of(ts_cells, long_ts_cells) if draw(st.booleans()) else ts_cells
        else:
            values = cells
        if draw(st.integers(0, 3)):  # else missing from the source (T5)
            source[spec.name] = draw(st.lists(values, min_size=n_rows, max_size=n_rows))
    source["extra"] = draw(st.lists(cells, min_size=n_rows, max_size=n_rows))
    if draw(st.booleans()):
        source["Geolocation"] = draw(st.lists(cells, min_size=n_rows, max_size=n_rows))
        specs.append(ColumnSpec("Geolocation", "str", True))
    if draw(st.booleans()):
        for name in AUDIT:
            specs.insert(draw(st.integers(0, len(specs))), ColumnSpec(name, "str", True))
    env = draw(st.sampled_from(["NL_Hosting_Mailbox", "NL", "UAT", "nan_Hosting", "True_X"]))
    return specs, source, n_rows, env


def model_clean(specs, source, n_rows, env):
    """The reference's step order (`CigEolHostingIngestionLogic.py:32-41`),
    one column-wide step after another, on plain Python lists."""
    frame = {name: list(vals) for name, vals in source.items()}
    frame["Environment"] = [model_env(env)] * n_rows  # T1
    frame["CIGCopyTime"] = [INGESTION_DATE.strftime("%Y-%m-%d")] * n_rows  # T2
    frame["CIGProcessed"] = ["0"] * n_rows  # T3
    frame = {name: [model_sentinel(v) for v in vals] for name, vals in frame.items()}  # T4
    for c in specs:
        frame.setdefault(c.name, ["None"] * n_rows)  # T5
    for c in specs:
        if c.ctype == "int" and c.nullable:
            frame[c.name] = [model_strip_decimal(v) for v in frame[c.name]]  # T6
    for c in specs:
        if c.ctype == "int" and c.nullable and any(
            v is not None and ("e-" in v or "e+" in v) for v in frame[c.name]
        ):
            frame[c.name] = [model_normalize_int(v) for v in frame[c.name]]  # T7
    for c in specs:
        if not c.nullable:
            frame[c.name] = [model_scrub(v) for v in frame[c.name]]  # T9
    for c in specs:
        if c.ctype == "datetime" and max(
            (len(v) for v in frame[c.name] if v is not None), default=0
        ) > 23:
            frame[c.name] = [v if v is None else v[:23] for v in frame[c.name]]  # T8
    for c in specs:
        if c.ctype == "str" and c.length is None:
            frame[c.name] = [v if v is None else v[:100_000] for v in frame[c.name]]  # T10
    for name, const in ODD.items():
        if name in frame:
            frame[name] = [const] * n_rows  # T11
    return [tuple(frame[c.name][r] for c in specs) for r in range(n_rows)]  # P1


@SETTINGS
@given(case=clean_cases())
def test_clean_pipeline_matches_model(spark, case):
    specs, source, n_rows, env = case
    table = TableSpec("T", "t", columns=tuple(specs))
    df = spark.createDataFrame(
        list(zip(*source.values())), ", ".join(f"{n} string" for n in source)
    )
    out = TR.clean_pipeline(df, table, env, INGESTION_DATE)
    assert out.columns == table.column_names
    assert [tuple(r) for r in out.collect()] == model_clean(specs, source, n_rows, env)


@st.composite
def random_graphs(draw):
    n = draw(st.integers(2, 40))
    n_edges = draw(st.integers(1, 60))
    edges = [
        tuple(sorted(draw(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)))))
        for _ in range(n_edges)
    ]
    return [(a, b) for a, b in edges if a != b]


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(edges=random_graphs())
def test_connected_components_matches_union_find(spark, edges):
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.dedup import (
        connected_components,
    )

    if not edges:
        return
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    assert got == _union_find_components(edges)


@st.composite
def change_streams(draw):
    n = draw(st.integers(1, 40))
    rows = []
    for i in range(n):
        rows.append(
            (
                draw(st.integers(0, 3)),           # key
                draw(st.integers(0, 9)),           # ts (duplicates likely)
                i,                                  # unique tiebreak
                draw(st.sampled_from(["a", "b", None])),  # attr (nullable)
            )
        )
    return rows


def _model_scd2(rows):
    out = []
    by_key = {}
    for k, ts, tb, attr in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_key.setdefault(k, []).append((ts, tb, attr))
    for k, seq in by_key.items():
        changes = []
        prev = object()
        for ts, tb, attr in seq:
            if attr != prev:
                changes.append([k, attr, ts, None, True, tb])
            prev = attr
        for i in range(len(changes) - 1):
            changes[i][3] = changes[i + 1][2]
            changes[i][4] = False
        out.extend(tuple(c) for c in changes)
    return sorted(out, key=lambda r: (r[0], r[2], r[5]))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(rows=change_streams())
def test_build_scd2_matches_model(spark, rows):
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.scd import build_scd2

    df = spark.createDataFrame(
        rows, "k long, ts long, tb long, attr string"
    )
    got = sorted(
        (
            (r["k"], r["attr"], r["valid_from"], r["valid_to"],
             r["is_current"], r["tb"])
            for r in build_scd2(
                df, ["k"], "ts", ["attr"], tiebreak=["tb"]
            ).collect()
        ),
        key=lambda r: (r[0], r[2], r[5]),
    )
    assert got == _model_scd2(rows)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(names=st.lists(
    st.text(alphabet="abcx ", min_size=3, max_size=8), min_size=1, max_size=25))
def test_blocked_fuzzy_pairs_matches_bruteforce(spark, names):
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.dedup import (
        blocked_fuzzy_pairs,
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    # Block on first character — brute force applies the same blocking,
    # so the comparison checks the join+distance logic, not recall.
    uniq = sorted(set(names))
    want = sorted(
        (a, b, lev(a, b))
        for i, a in enumerate(uniq)
        for b in uniq[i + 1:]
        if a[:1] == b[:1] and lev(a, b) <= 2
    )
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = sorted(
        (r["name_a"], r["name_b"], r["dist"])
        for r in blocked_fuzzy_pairs(
            df, "name", F.substring("name", 1, 1), max_dist=2
        ).collect()
    )
    assert got == want


def test_cdc_apply_tombstone_and_reinsert(spark):
    """Delete drops the key; an upsert AFTER a delete resurrects it with
    the new state; last writer wins under the total order."""
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.scd import cdc_apply

    rows = [
        # key 1: U, U -> survives with seq 2 state
        (1, 1, "U", "a"),
        (1, 2, "U", "b"),
        # key 2: U, D -> tombstoned out
        (2, 1, "U", "x"),
        (2, 2, "D", None),
        # key 3: U, D, U -> resurrected with the final state
        (3, 1, "U", "old"),
        (3, 2, "D", None),
        (3, 3, "U", "new"),
    ]
    log = spark.createDataFrame(rows, ["k", "seq", "op", "state"])
    snap = {r.k: r.state for r in cdc_apply(log, ["k"], ["seq"]).collect()}
    assert snap == {1: "b", 3: "new"}
