"""The curation job of the corpus_search workload:
``plans.corpus_pipeline.write_training_shards`` over a generated text
corpus.

The corpus has clean base documents plus planted exact copies,
small-edit near-duplicates, repetitive low-quality documents and
documents copied from a held-out benchmark set. A round publishes the
training shards (dedup, quality filter, decontamination, chunking,
shard/pack assignment and the manifest-sink commits), runs the same
publish again on the finished table, which must resume with nothing to
write, and reads the published snapshot back as a training loader would,
repeatedly.
"""

from __future__ import annotations

import glob
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline
from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink
from workloads import fresh_dir, new_part, step

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")
SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "xi", "po", "se", "du", "fe")
N_SHARDS = 16


def vocabulary(n: int) -> list[str]:
    words, i = [], 0
    while len(words) < n:
        a, b, c = i % 12, (i // 12) % 12, (i // 144) % 12
        words.append(SYLLABLES[a] + SYLLABLES[b] + SYLLABLES[c])
        i += 1
    return words


def zipf_cum_weights(n: int) -> list[float]:
    """Cumulative 1/rank weights over ``n`` words."""
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1)
        out.append(acc)
    return out


def zipf_text(rng: random.Random, vocab: list[str], cum: list[float], n: int) -> str:
    """``n`` tokens: a stopword three times in ten, else a vocabulary word
    drawn with the cumulative weights ``cum``."""
    words = rng.choices(vocab, cum_weights=cum, k=n)
    return " ".join(rng.choice(STOPWORDS) if rng.random() < 0.3 else w for w in words)


def n_chunks(text: str, size: int, overlap: int) -> int:
    """Token windows of ``size`` advancing by ``size - overlap`` whose
    starts run up to max(n - overlap, 1): the chunking rule."""
    n = len(text.lower().strip().split())
    return (max(n - overlap, 1) - 1) // (size - overlap) + 1


class Corpus:
    """Seeded corpus: {doc_id: text} plus the ids of each planted kind."""

    BASE, EXACT, NEAR, LOW, CONTAMINATED, BENCHMARK = 500, 30, 30, 30, 30, 50

    def __init__(self, seed: int):
        rng = random.Random(seed)
        vocab = vocabulary(1500)
        cum = zipf_cum_weights(len(vocab))

        def doc(n_min, n_max):
            return zipf_text(rng, vocab, cum, rng.randint(n_min, n_max))

        self.text: dict[int, str] = {}
        self.kind: dict[str, list[int]] = {k: [] for k in
                                           ("base", "exact", "near", "low", "contaminated")}

        def add(kind, text):
            i = len(self.text)
            self.text[i] = text
            self.kind[kind].append(i)

        for _ in range(self.BASE):
            add("base", doc(60, 140))
        self.benchmark = [doc(60, 100) for _ in range(self.BENCHMARK)]
        originals = rng.sample(self.kind["base"], self.EXACT + self.NEAR)
        for j in originals[: self.EXACT]:
            add("exact", self.text[j])
        for j in originals[self.EXACT:]:
            toks = self.text[j].split()
            for p in rng.sample(range(len(toks)), 3):
                toks[p] = rng.choice(vocab)
            add("near", " ".join(toks))
        for i in range(self.LOW):
            junk = rng.choice(("buy", "click", "free", "win"))
            add("low", " ".join([junk] * rng.randint(3, 6) + ["!!!", f"deal{i}", "$$$"]))
        for b in rng.sample(range(self.BENCHMARK), self.CONTAMINATED):
            add("contaminated", self.benchmark[b])

    def write(self, work: str) -> tuple[str, str]:
        ids = sorted(self.text)
        docs = os.path.join(work, "corpus", "docs.parquet")
        bench = os.path.join(work, "corpus", "benchmark.parquet")
        os.makedirs(os.path.dirname(docs), exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": [self.text[i] for i in ids]}), docs)
        pq.write_table(pa.table({"doc_id": pa.array(range(len(self.benchmark)), pa.int64()),
                                 "text": self.benchmark}), bench)
        return docs, bench


def published_rows(table_path: str) -> list[dict]:
    """Rows of the latest committed snapshot, read from the manifest and
    the parquet files it lists."""
    versions = sorted(
        int(os.path.basename(p)[1:-5])
        for p in glob.glob(os.path.join(table_path, "_manifests", "v*.json"))
    )
    with open(os.path.join(table_path, "_manifests", f"v{versions[-1]}.json")) as f:
        batches = json.load(f)["batches"]
    rows = []
    for b in batches:
        for part in sorted(glob.glob(os.path.join(table_path, b, "*.parquet"))):
            rows += pq.read_table(part, columns=["doc_id", "chunk_idx", "shard_id"]).to_pylist()
    return rows


class CorpusCuration:
    """Job 1 of corpus_search."""

    # a snapshot read-back takes about a quarter of a second: each repeat samples this many
    READS_PER_REPEAT = 3


    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cfg = corpus_pipeline.CorpusPrepConfig()

    def _publish(self, docs_path: str, bench_path: str, table: str) -> dict:
        return corpus_pipeline.write_training_shards(
            self.spark.read.parquet(docs_path), table,
            benchmark=self.spark.read.parquet(bench_path), cfg=self.cfg, n_shards=N_SHARDS,
        )

    def setup(self) -> None:
        self.corpus = Corpus(self.seed)
        self.docs_path, self.bench_path = self.corpus.write(self.work)

    def start(self, r: int, tracer=None) -> dict:
        table = os.path.join(fresh_dir(os.path.join(self.work, "round")), "shards")
        part = new_part()
        part["first"] = step(part, tracer, "curate", "main",
                             self._publish, self.docs_path, self.bench_path, table)
        part["throughput_per_s"] = len(self.corpus.text) / part["times"]["main"][0]
        part.update(table=table, loaded=[])
        return part

    def follow(self, part: dict, tracer=None) -> None:
        part["again"] = step(part, tracer, "resume", "noop",
                             self._publish, self.docs_path, self.bench_path, part["table"])

    def _load(self, table: str) -> list[tuple[int, int]]:
        return [
            (row.doc_id, row.chunk_idx)
            for row in manifest_sink.read_snapshot(self.spark, table).select("doc_id", "chunk_idx").collect()
        ]

    def repeat(self, part: dict, tracer=None) -> None:
        for _ in range(self.READS_PER_REPEAT):
            part["loaded"].append(step(part, tracer, "read_back", "followup", self._load, part["table"]))

    def finish(self, part: dict) -> None:
        pass

    def check(self, out: dict) -> list[str]:
        problems = []
        text, kind = self.corpus.text, self.corpus.kind
        rows = published_rows(out["table"])
        keys = [(r["doc_id"], r["chunk_idx"]) for r in rows]
        if len(keys) != len(set(keys)):
            problems.append("a (doc_id, chunk_idx) appears more than once in the snapshot")
        if any(sorted(keys) != sorted(loaded) for loaded in out["loaded"]):
            problems.append("read_snapshot rows differ from the manifest-listed files")
        if out["first"]["rows"] != len(rows):
            problems.append(f"publish reported {out['first']['rows']} rows, snapshot has {len(rows)}")
        survivors = {d for d, _ in keys}
        if len({text[d] for d in survivors}) != len(survivors):
            problems.append("two surviving docs share their text")
        for k in ("exact", "low", "contaminated"):
            left = survivors & set(kind[k])
            if left:
                problems.append(f"{len(left)} planted {k} docs survived")
        lost = set(kind["base"]) - survivors
        if lost:
            problems.append(f"{len(lost)} clean base docs were dropped")
        per_doc: dict[int, int] = {}
        for d, _ in keys:
            per_doc[d] = per_doc.get(d, 0) + 1
        bad = [d for d, n in per_doc.items()
               if n != n_chunks(text[d], self.cfg.chunk_size, self.cfg.chunk_overlap)]
        if bad:
            problems.append(f"{len(bad)} docs have a chunk count other than their token count gives")
        again = out["again"]
        if again["written_shards"] != 0 or again["skipped_shards"] != len({r["shard_id"] for r in rows}):
            problems.append(f"resume run was not a no-op: {again}")
        return problems

