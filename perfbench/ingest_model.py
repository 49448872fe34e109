"""Generated ingest inputs and a pure-Python model of the cleaning rules.

The generator writes parquet backups with pyarrow in either tree layout
(``hosting``: ``environment=<ENV>/<Entity>/yyyy/mm/dd/<file>``,
``mailbox``: ``<DataSource>/<Entity>/yyyy/mm/dd/<file>``) and builds the
catalog the engine is configured with. The model re-implements the
documented column rules (T1-T12 and the ordered projection P1) on plain
Python strings, so the expected sink contents never come from the
engine's own code.

Every source column is a string column, as in the reference's
all-strings in-flight representation; real NULLs are planted too.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

NVARCHAR_MAX_LIMIT = 100_000
TIMESTAMP_MAX_LEN = 23
ODD_COLUMNS = {"Geolocation": "POINT (0 0)", "Logo": "None", "Picture": "None"}
AUDIT = ("Environment", "CIGCopyTime", "CIGProcessed")

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


@dataclass(frozen=True)
class Col:
    name: str
    ctype: str  # "str" | "int" | "datetime"
    nullable: bool = True
    length: int | None = 255  # None = nvarchar(max)
    in_source: bool = True  # False: configured but absent from the files (T5)


@dataclass(frozen=True)
class Table:
    entity: str
    target: str
    cols: tuple[Col, ...]
    enabled: bool = True


@dataclass(frozen=True)
class SourceFile:
    root_dir: str  # environment=<ENV> (hosting) or <DataSource> (mailbox)
    environment: str
    data_source: str
    entity: str
    day: dt.date
    name: str
    rows: tuple  # tuple of row tuples, in source-column order

    def rel_path(self) -> str:
        return os.path.join(
            self.root_dir, self.entity, f"{self.day:%Y}", f"{self.day:%m}",
            f"{self.day:%d}", self.name,
        )


def make_table(entity: str, width: int, enabled: bool = True,
               missing: int = 1, geo: bool = False) -> Table:
    """A table of ``width`` configured columns: ID, Name, then a rotation
    of nullable int / datetime / str(255) / nvarchar(max) / non-nullable
    str columns, ``missing`` of them absent from the source files, and
    the three audit columns last."""
    cols = [Col("ID", "str", nullable=False), Col("Name", "str", nullable=False)]
    if geo:
        cols.append(Col("Geolocation", "str"))
    kinds = (
        ("int", True, 255), ("datetime", True, 255), ("str", True, 255),
        ("int", True, 255), ("str", True, None), ("str", False, 255),
    )
    i = 0
    while len(cols) < width - len(AUDIT):
        ctype, nullable, length = kinds[i % len(kinds)]
        cols.append(Col(f"C{i:03d}_{ctype}", ctype, nullable, length))
        i += 1
    # the last `missing` generated columns are configured but never delivered
    for j in range(1, missing + 1):
        c = cols[-j]
        cols[-j] = Col(c.name, c.ctype, c.nullable, c.length, in_source=False)
    cols += [Col(a, "str") for a in AUDIT]
    return Table(entity, f"HOST_CIG_{entity}", tuple(cols), enabled)


def source_columns(t: Table) -> list[Col]:
    return [c for c in t.cols if c.in_source and c.name not in AUDIT]


class RowMaker:
    """Seeded value generator. ``plant`` switches on the rule-exercising
    values (sentinels, '.0' and scientific-notation ints, over-long
    timestamps and nvarchar(max) values) for one file."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 1

    def _word(self) -> str:
        return self.rng.choice(WORDS)

    def value(self, c: Col, plant: set[str]):
        r = self.rng.random()
        if c.name == "Name":
            # non-nullable: T9 scrubs 'None' substrings
            return f"None{self._word()}" if r < 0.1 else self._word()
        if c.name == "Geolocation":
            return f"POINT ({self.rng.randint(0, 90)} {self.rng.randint(0, 90)})"
        if c.ctype == "int":
            if r < 0.05:
                return None
            if r < 0.10:
                return "nan"
            if r < 0.25:
                return f"{self.rng.randint(0, 9999)}.0"
            if "sci" in plant and r < 0.32:
                return f"{self.rng.randint(1, 9)}.{self.rng.randint(1, 9)}e+0{self.rng.randint(1, 6)}"
            if "sci" in plant and r < 0.35:
                return f"{self.rng.randint(1, 9)}e-0{self.rng.randint(1, 3)}"
            return str(self.rng.randint(0, 99999))
        if c.ctype == "datetime":
            if r < 0.08:
                return "NaT"
            base = f"2024-{self.rng.randint(1, 12):02d}-{self.rng.randint(1, 28):02d} " \
                   f"{self.rng.randint(0, 23):02d}:{self.rng.randint(0, 59):02d}:" \
                   f"{self.rng.randint(0, 59):02d}.{self.rng.randint(0, 999):03d}"
            if "ts" in plant and r < 0.4:
                return base + f"{self.rng.randint(0, 9999):04d}"
            return base
        if c.length is None and "long" in plant and r < 0.03:
            return self._word() * (NVARCHAR_MAX_LIMIT // 4)  # > 100k chars
        if r < 0.04:
            return None
        if r < 0.07:
            return self.rng.choice(("nan", "NaT", "True", "False", "nanarnia"))
        if not c.nullable and r < 0.12:
            return f"{self._word()}None{self._word()}"
        return " ".join(self._word() for _ in range(self.rng.randint(1, 4)))

    def rows(self, t: Table, n: int, plant: set[str]) -> tuple:
        cols = source_columns(t)
        out = []
        for _ in range(n):
            row = [str(self.next_id)]
            self.next_id += 1
            row += [self.value(c, plant) for c in cols[1:]]
            out.append(tuple(row))
        return tuple(out)


def write_file(root: str, t: Table, f: SourceFile) -> str:
    cols = source_columns(t)
    path = os.path.join(root, f.rel_path())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    arrays = [pa.array([r[i] for r in f.rows], pa.string()) for i in range(len(cols))]
    pq.write_table(pa.table(arrays, names=[c.name for c in cols]), path)
    return path


# ---------------------------------------------------------------------------
# The documented column rules, one value at a time.


def _env_value(data_source: str) -> str:
    # T1: environment derived from the source name (`NL_Hosting` -> `NL`)
    return data_source.split("_")[0] if len(data_source) > 2 else data_source


def _sentinel(v: str) -> str:  # T4, whole-cell
    return {"NaT": "None", "nan": "None", "True": "1", "False": "0"}.get(v, v)


def _strip_decimal(v: str) -> str:  # T6 (quirk: removes every '.0')
    return v.replace(".0", "") if v.endswith(".0") else v


def _int_string(v):  # T7 rewrite: parse as float, render as integer
    if v is None or v == "None":
        return v
    try:
        return str(int(float(v)))
    except ValueError:
        return None


def expected_rows(t: Table, files: list[SourceFile], data_source: str,
                  ingestion_date: dt.date) -> list[tuple]:
    """The rows one ingest group lands for ``files`` (all of one
    (data source, table) group of one run), in configured column order,
    after the sink-boundary NULL materialization (T12)."""
    src = [c.name for c in source_columns(t)]
    frame = {name: [] for name in src}
    for f in files:
        for r in f.rows:
            for name, v in zip(src, r):
                frame[name].append("None" if v is None else v)  # stringify
    n = sum(len(f.rows) for f in files)
    frame["Environment"] = [_env_value(data_source)] * n  # T1
    frame["CIGCopyTime"] = [ingestion_date.strftime("%Y-%m-%d")] * n  # T2
    frame["CIGProcessed"] = ["0"] * n  # T3
    for name in list(frame):
        frame[name] = [_sentinel(v) for v in frame[name]]  # T4
    for c in t.cols:  # T5
        if c.name not in frame:
            frame[c.name] = ["None"] * n
    for c in t.cols:
        if c.ctype == "int" and c.nullable:  # T6
            frame[c.name] = [_strip_decimal(v) for v in frame[c.name]]
    for c in t.cols:  # T7: gated on any 'e-'/'e+' in the group's column
        if c.ctype == "int" and c.nullable and any(
            "e-" in v or "e+" in v for v in frame[c.name]
        ):
            frame[c.name] = [_int_string(v) for v in frame[c.name]]
    for c in t.cols:  # T9: non-nullable scrub of the substring 'None'
        if not c.nullable:
            frame[c.name] = [("" if v is None else v).replace("None", "")
                             for v in frame[c.name]]
    for c in t.cols:  # T8: gated on the group's max length > 23
        if c.ctype == "datetime" and max(
            (len(v) for v in frame[c.name] if v is not None), default=0
        ) > TIMESTAMP_MAX_LEN:
            frame[c.name] = [None if v is None else v[:TIMESTAMP_MAX_LEN]
                             for v in frame[c.name]]
    for c in t.cols:  # T10: nvarchar(max) cap
        if c.ctype == "str" and c.length is None:
            frame[c.name] = [None if v is None else v[:NVARCHAR_MAX_LIMIT]
                             for v in frame[c.name]]
    for name, const in ODD_COLUMNS.items():  # T11
        if name in frame:
            frame[name] = [const] * n
    ordered = [frame[c.name] for c in t.cols]  # P1
    return [
        tuple(None if v == "None" else v for v in row)  # T12
        for row in zip(*ordered)
    ]


@dataclass
class Tree:
    """Generated inputs of one ingest workload."""

    layout: str
    tables: list[Table]
    environments: list[str]  # the run's environment (or data source) list
    ingestion_date: dt.date
    backlog: list[SourceFile] = field(default_factory=list)
    late: list[SourceFile] = field(default_factory=list)


def eligible(tree: Tree, files: list[SourceFile], marked: set) -> list[SourceFile]:
    """Files one run must ingest: configured and enabled table, dated on or
    after the ingestion date, in a listed environment (hosting) or data
    source (mailbox), and not already marked under (file name,
    environment, target) -- a same-named file re-delivered later is
    skipped."""
    by_entity = {t.entity: t for t in tree.tables}
    out = []
    for f in files:
        t = by_entity.get(f.entity)
        if t is None or not t.enabled or f.day < tree.ingestion_date:
            continue
        member = f.environment if tree.layout == "hosting" else f.data_source
        if member not in tree.environments:
            continue
        if (f.name, f.environment, t.target) in marked:
            continue
        out.append(f)
    return out


def expected_run(tree: Tree, files: list[SourceFile]) -> dict:
    """{(environment, target): rows} for one run over ``files`` (already
    filtered by :func:`eligible`); groups are per (data source, table)."""
    by_entity = {t.entity: t for t in tree.tables}
    groups: dict[tuple, list[SourceFile]] = {}
    for f in files:
        groups.setdefault((f.environment, f.data_source, f.entity), []).append(f)
    out: dict[tuple, list] = {}
    for (env, ds, entity), fs in sorted(groups.items()):
        t = by_entity[entity]
        out.setdefault((env, t.target), []).extend(
            expected_rows(t, fs, ds, tree.ingestion_date)
        )
    return out
