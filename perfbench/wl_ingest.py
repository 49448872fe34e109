"""The two jobs of the ingest workload: ``pipeline.BatchIngest`` over
generated parquet backup trees.

DailyIngest (job 1) -- hosting layout, narrow tables, several
environments and days, parquet lake sink with the parquet marker ledger.
A round is the backlog run, a late-arrival run after new files land, and
re-runs with nothing new.

WideJdbcIngest (job 2) -- mailbox layout, a wide table, more rows per
file, sunk over JDBC into in-process Derby. A round is the ingest run,
then ``BatchIngest.verify_sink`` over every target, repeated.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError

import ingest_model as M
from cig_etl_s3_to_sql_data_ingestor_spark.catalog import ColumnSpec, TableSpec
from cig_etl_s3_to_sql_data_ingestor_spark.pipeline import BatchIngest
from cig_etl_s3_to_sql_data_ingestor_spark.sources.jdbc import derby_memory_url
from workloads import fresh_dir, new_part, step

INGESTION_DATE = dt.date(2024, 3, 10)
DAYS = [INGESTION_DATE + dt.timedelta(days=d) for d in (-2, -1, 0, 1, 2)]


def catalog(tables: list[M.Table]) -> dict[str, TableSpec]:
    return {
        t.entity: TableSpec(
            t.target, t.entity, t.enabled,
            tuple(ColumnSpec(c.name, c.ctype, c.nullable, c.length) for c in t.cols),
        )
        for t in tables
    }


def file_name(entity: str, day: dt.date, k: int = 0) -> str:
    return f"{entity}_{day:%Y%m%d}_{k}.parquet"


def _sort_key(row):
    return tuple((v is None, v or "") for v in row)


def compare_groups(label: str, results, expected: dict, files: list, targets: dict) -> list[str]:
    """IngestResult rows and file counts per (environment, target) against
    the model; ``targets`` maps an entity to its target table."""
    problems = []
    got, want = {}, {}
    for r in results:
        n_rows, n_files = got.get((r.environment, r.target_table), (0, 0))
        got[(r.environment, r.target_table)] = (n_rows + r.n_rows, n_files + r.n_files)
    for f in files:
        key = (f.environment, targets[f.entity])
        want[key] = (len(expected[key]), want.get(key, (0, 0))[1] + 1)
    if got != want:
        problems.append(f"{label}: (rows, files) per group {sorted(got.items())} != {sorted(want.items())}")
    return problems


def drop_derby(spark, url: str) -> None:
    """Drop an in-memory Derby database (and free its memory)."""
    jvm = spark.sparkContext._jvm
    try:
        jvm.java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    except Py4JJavaError:  # Derby signals a completed drop with an SQLException
        pass


class _Ingest:
    layout = "hosting"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.data_root = os.path.join(work, "data")
        self.sink_root = None
        self.uncatalogued: list[M.Table] = []  # entities in the tree only

    def _write(self, root: str, files: list[M.SourceFile]) -> None:
        by_entity = {t.entity: t for t in self.tree.tables + self.uncatalogued}
        for f in files:
            M.write_file(root, by_entity[f.entity], f)

    def _model(self) -> None:
        """Expected outcome of each run of a round, from the model."""
        tree = self.tree
        marked: set = set()
        targets = self.targets = {t.entity: t.target for t in tree.tables}
        self.expected_files, self.expected = [], []
        for files in (tree.backlog, tree.late, tree.backlog + tree.late):
            elig = M.eligible(tree, files, marked)
            self.expected_files.append(elig)
            self.expected.append(M.expected_run(tree, elig))
            marked |= {(f.name, f.environment, targets[f.entity]) for f in elig}

    def _ingest(self, **kw) -> BatchIngest:
        return BatchIngest(
            self.spark, self.catalog, sink_root=self.sink_root,
            marker_path=self.marker_path, environments=self.tree.environments,
            layout=self.layout, **kw,
        )


class DailyIngest(_Ingest):
    """Hosting layout: listed environments NL and DE plus an unlisted BE;
    two enabled narrow-to-medium tables, one disabled and one entity
    absent from the catalog; five days of backups of which the two
    before the ingestion date are too old."""

    ENVIRONMENTS = ["NL", "DE"]
    TREE_ENVIRONMENTS = ["NL", "DE", "BE"]
    TABLES = (("Contacts", 8, {"sci", "ts"}), ("Requests", 16, {"sci", "ts", "long"}))
    ROWS_PER_FILE = 30

    def setup(self) -> None:
        rm = M.RowMaker(self.seed)
        tables = [M.make_table(e, w, geo=(w == 16)) for e, w, _ in self.TABLES]
        tables.append(M.make_table("Archive", 8, enabled=False))
        plants = {e: p for e, _, p in self.TABLES}
        self.uncatalogued = [M.make_table("Scratch", 6)]
        tree = M.Tree("hosting", tables, self.ENVIRONMENTS, INGESTION_DATE)
        for env in self.TREE_ENVIRONMENTS:
            for t in tables + self.uncatalogued:
                for day in DAYS:
                    tree.backlog.append(M.SourceFile(
                        f"environment={env}", env, env, t.entity, day,
                        file_name(t.entity, day),
                        rm.rows(t, self.ROWS_PER_FILE, plants.get(t.entity, set())),
                    ))
        contacts = tables[0]
        late_day = DAYS[-1] + dt.timedelta(days=1)

        def late(day, name):
            return M.SourceFile("environment=NL", "NL", "NL", "Contacts", day, name,
                                rm.rows(contacts, self.ROWS_PER_FILE, plants["Contacts"]))

        tree.late = [
            late(late_day, file_name("Contacts", late_day)),  # a new day
            late(DAYS[4], file_name("Contacts", DAYS[4], 1)),  # a second file in an existing day
            # a same-named file re-delivered on a later date: skipped
            late(late_day, file_name("Contacts", DAYS[3])),
            late(DAYS[0], file_name("Contacts", DAYS[0], 1)),  # older than the ingestion date
        ]
        self.tree = tree
        self.catalog = catalog(tables)
        self._write(self.data_root, tree.backlog)
        self.late_root = os.path.join(self.work, "late")
        self._write(self.late_root, tree.late)
        self.late_paths = [f.rel_path() for f in tree.late]
        self._model()

    def _run(self):
        return self._ingest().run(self.data_root, INGESTION_DATE)

    def start(self, r: int, tracer=None) -> dict:
        base = fresh_dir(os.path.join(self.work, "round"))
        self.sink_root = os.path.join(base, "sink")
        self.marker_path = os.path.join(base, "marker")
        for rel in self.late_paths:  # back to the backlog-only tree
            p = os.path.join(self.data_root, rel)
            if os.path.exists(p):
                os.remove(p)
        part = new_part()
        res = step(part, tracer, "backlog_run", "main", self._run)
        part["throughput_per_s"] = sum(r_.n_rows for r_ in res) / part["times"]["main"][0]
        part["results"] = (res, [], [])
        return part

    def follow(self, part: dict, tracer=None) -> None:
        for rel in self.late_paths:
            dst = os.path.join(self.data_root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(os.path.join(self.late_root, rel), dst)
        part["results"][1].append(step(part, tracer, "late_run", "followup", self._run))

    def repeat(self, part: dict, tracer=None) -> None:
        part["results"][2].append(step(part, tracer, "noop_run", "noop", self._run))

    def finish(self, part: dict) -> None:
        pass

    def check(self, out: dict) -> list[str]:
        problems = []
        res1, lates, reruns = out["results"]
        for label, res, i in [("backlog run", res1, 0)] + [
                ("late-arrival run", r, 1) for r in lates] + [("re-run", r, 2) for r in reruns]:
            problems += compare_groups(label, res, self.expected[i],
                                       self.expected_files[i], self.targets)
        # the lake holds exactly the model's rows, in configured column order
        want: dict = {}
        for exp in self.expected:
            for key, rows in exp.items():
                want.setdefault(key, []).extend(rows)
        names = {t.target: [c.name for c in t.cols] for t in self.tree.tables}
        got_keys = set()
        for part in sorted(glob.glob(os.path.join(self.sink_root, "*", "environment=*"))):
            target = os.path.basename(os.path.dirname(part))
            env = os.path.basename(part).split("=", 1)[1]
            got_keys.add((env, target))
            tables = [pq.read_table(f) for f in sorted(glob.glob(os.path.join(part, "*.parquet")))]
            for tb in tables:
                if tb.column_names != names[target]:
                    problems.append(f"sink {target}/{env}: columns {tb.column_names}")
            got = sorted((row for tb in tables for row in zip(*tb.to_pydict().values())), key=_sort_key)
            exp = sorted(want.get((env, target), []), key=_sort_key)
            if got != exp:
                problems.append(f"sink {target}/{env}: {len(got)} rows differ from the model's {len(exp)}")
        if got_keys != set(want):
            problems.append(f"sink partitions {sorted(got_keys)} != {sorted(want)}")
        return problems


class WideJdbcIngest(_Ingest):
    """Mailbox layout: one listed data source and one unlisted; one wide
    table shaped like the reference's second widest (140 columns); two
    eligible days and one too old; sink = JDBC append into in-process
    Derby."""

    layout = "mailbox"
    SOURCES = ["NL_Hosting_Mailbox"]
    TREE_SOURCES = ["NL_Hosting_Mailbox", "DE_Hosting_Mailbox"]
    TABLES = (("Contracts", 140),)
    ROWS_PER_FILE = 100

    def setup(self) -> None:
        rm = M.RowMaker(self.seed)
        tables = [M.make_table(e, w, missing=3) for e, w in self.TABLES]
        tree = M.Tree("mailbox", tables, self.SOURCES, INGESTION_DATE)
        for ds in self.TREE_SOURCES:
            env = ds.split("_")[0]
            for t in tables:
                for day in DAYS[1:4]:
                    tree.backlog.append(M.SourceFile(
                        ds, env, ds, t.entity, day, file_name(t.entity, day),
                        rm.rows(t, self.ROWS_PER_FILE, {"sci", "ts"}),
                    ))
        self.tree = tree
        self.catalog = catalog(tables)
        self._write(self.data_root, tree.backlog)
        self._model()
        # the model's rows, as the frame verify_sink compares the sink with
        self.expected_paths = {}
        for (env, target), rows in self.expected[0].items():
            names = [c.name for c in next(t for t in tables if t.target == target).cols]
            path = os.path.join(self.work, "expected", f"{target}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            cols = [pa.array([row[i] for row in rows], pa.string()) for i in range(len(names))]
            pq.write_table(pa.table(cols, names=names), path)
            self.expected_paths[target] = path

    def _run(self, url: str):
        return self._ingest(jdbc_url=url).run(self.data_root, INGESTION_DATE)

    def start(self, r: int, tracer=None) -> dict:
        base = fresh_dir(os.path.join(self.work, "round"))
        self.sink_root = os.path.join(base, "sink")
        self.marker_path = os.path.join(base, "marker")
        part = new_part()
        part["url"] = url = derby_memory_url(f"perfbench_{os.getpid()}_{r}")
        try:
            res = step(part, tracer, "ingest_run", "main", self._run, url)
        except BaseException:
            drop_derby(self.spark, url)
            raise
        part["throughput_per_s"] = sum(r_.n_rows for r_ in res) / part["times"]["main"][0]
        part.update(results=res, verified=[], columns=None)
        return part

    def follow(self, part: dict, tracer=None) -> None:
        pass  # the follow-up, verify_sink, is short: it is sampled in repeat()

    def _verify_all(self, url: str) -> dict:
        ingest = self._ingest(jdbc_url=url)
        return {
            target: ingest.verify_sink(target, self.spark.read.parquet(path), key_column="ID")
            for target, path in sorted(self.expected_paths.items())
        }

    def repeat(self, part: dict, tracer=None) -> None:
        url = part["url"]
        part["verified"].append(step(part, tracer, "verify", "followup", self._verify_all, url,
                                     ops=len(self.expected_paths)))

    def finish(self, part: dict) -> None:
        url = part["url"]
        try:
            part["columns"] = {
                t.target: self.spark.read.format("jdbc").option("url", url)
                .option("dbtable", t.target).load().columns
                for t in self.tree.tables
            }
        finally:
            drop_derby(self.spark, url)

    def check(self, out: dict) -> list[str]:
        problems = compare_groups("ingest run", out["results"], self.expected[0],
                                  self.expected_files[0], self.targets)
        for (env, target), rows in self.expected[0].items():
            for verified in out["verified"]:
                v = verified[target]
                if not (v["rows_match"] and v["checksum_match"] and v["n_rows"] == len(rows)):
                    problems.append(f"verify_sink {target}: {v} (model rows {len(rows)})")
                if v["n_partitions"] < 2:
                    problems.append(f"verify_sink {target}: read on {v['n_partitions']} partition")
        for t in self.tree.tables:
            if out["columns"][t.target] != [c.name for c in t.cols]:
                problems.append(f"sink {t.target}: columns differ from the configured order")
        return problems

