"""The search job of the corpus_search workload: the BM25 and IVF vector stores built
by their streaming ingests, then a single client's closed loop of
``streaming.hybrid_search.hybrid_search_from_stores`` requests.

A round builds both stores from generated documents and embedding
vectors (two source files each, drained one file per micro-batch),
and then serves the requests one after another, each sent once the
previous one has returned.
"""

from __future__ import annotations

import glob
import math
import os
import random
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from cig_etl_s3_to_sql_data_ingestor_spark.streaming import hybrid_search
from cig_etl_s3_to_sql_data_ingestor_spark.streaming.bm25_ingest import Bm25IndexIngest
from cig_etl_s3_to_sql_data_ingestor_spark.streaming.vector_ingest import VectorIngest
from wl_corpus import vocabulary, zipf_cum_weights, zipf_text
from workloads import SHORT_STEP_REPEATS, fresh_dir, new_part, step

DOC_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
VEC_SCHEMA = T.StructType([T.StructField("vec_id", T.LongType()),
                           T.StructField("embedding", T.ArrayType(T.DoubleType()))])
BM25_K, ANN_K, K0, N_PROBE = 10, 20, 60, 4
K = BM25_K + ANN_K  # fused depth: every candidate of both lists is returned
RECALL_FLOOR = 0.8  # mean recall@ANN_K of the IVF list against brute force
QUERY_ID_BASE = 1_000_000


def bm25_topk(docs: dict[int, str], terms: set[str], k: int) -> list[tuple[int, int]]:
    """[(doc_id, score_q)] of the quantized BM25 rule (k1 = 1.2, b = 0.75,
    idf = ln((2N+1)/(2df+1)) in micro-nats, each term's contribution
    floored), ranked by score then doc id."""
    toks = {d: t.lower().strip().split() for d, t in docs.items()}
    n_docs = len(toks)
    total = sum(len(t) for t in toks.values())
    tf = {d: Counter(t) for d, t in toks.items()}
    df = {w: sum(1 for c in tf.values() if w in c) for w in terms}
    scores: dict[int, int] = {}
    for w in terms:
        if not df[w]:
            continue
        idf = math.floor(math.log((2 * n_docs + 1) / (2 * df[w] + 1)) * 1_000_000)
        for d, c in tf.items():
            if w in c:
                num = 88 * c[w] * total
                den = 40 * total * c[w] + 12 * total + 36 * len(toks[d]) * n_docs
                scores[d] = scores.get(d, 0) + math.floor(float(idf) * float(num) / float(den))
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def rrf(lex: list[int], sem: list[int], k: int, k0: int) -> list[tuple[int, float]]:
    """Reciprocal-rank fusion of two ranked id lists."""
    ra = {c: i + 1 for i, c in enumerate(lex)}
    rb = {c: i + 1 for i, c in enumerate(sem)}
    fused = {
        c: (1.0 / (k0 + ra[c]) if c in ra else 0.0) + (1.0 / (k0 + rb[c]) if c in rb else 0.0)
        for c in set(ra) | set(rb)
    }
    return sorted(fused.items(), key=lambda x: (-x[1], x[0]))[:k]


class Inputs:
    """Seeded documents, embedding vectors around a few centres (some
    planted as near-copies of others, which the ingest's gate drops) and
    the requests: each a few query terms plus a query vector."""

    N_DOCS, N_VECS, DIM, N_CELLS, N_DUP = 500, 300, 16, 8, 8
    N_REQUESTS = SHORT_STEP_REPEATS  # one per repeat of a round

    def __init__(self, seed: int):
        rng = random.Random(seed)
        nrs = np.random.default_rng(seed)
        n_docs, n_vecs = self.N_DOCS, self.N_VECS
        vocab = vocabulary(1500)
        cum = zipf_cum_weights(len(vocab))
        self.docs = {i: zipf_text(rng, vocab, cum, rng.randint(20, 60)) for i in range(n_docs)}
        self.centres = nrs.normal(size=(self.N_CELLS, self.DIM))
        cells = nrs.integers(0, self.N_CELLS, size=n_vecs)
        vecs = self.centres[cells] + 0.6 * nrs.normal(size=(n_vecs, self.DIM))
        for i in range(n_vecs - self.N_DUP, n_vecs):  # near-copies of earlier vectors
            vecs[i] = vecs[i - n_vecs // 2] + 1e-4 * nrs.normal(size=self.DIM)
        self.vecs = vecs
        self.requests = []
        for q in range(self.N_REQUESTS):
            terms = sorted(set(rng.sample(vocab[20:400], 3)))
            qv = vecs[rng.randrange(n_vecs)] + 0.3 * nrs.normal(size=self.DIM)
            self.requests.append((QUERY_ID_BASE + q, terms, [float(x) for x in qv]))

    def write(self, root: str) -> tuple[str, str, str]:
        docs_dir, vecs_dir = os.path.join(root, "docs"), os.path.join(root, "vecs")
        for d in (docs_dir, vecs_dir):
            os.makedirs(d, exist_ok=True)
        ids = sorted(self.docs)
        half = len(ids) // 2
        for i, part in enumerate((ids[:half], ids[half:])):
            pq.write_table(pa.table({"doc_id": pa.array(part, pa.int64()),
                                     "text": [self.docs[j] for j in part]}),
                           os.path.join(docs_dir, f"part-{i}.parquet"))
        n = len(self.vecs)
        for i, (lo, hi) in enumerate(((0, n // 2), (n // 2, n))):
            pq.write_table(pa.table({
                "vec_id": pa.array(range(lo, hi), pa.int64()),
                "embedding": pa.array([list(map(float, v)) for v in self.vecs[lo:hi]],
                                      pa.list_(pa.float64())),
            }), os.path.join(vecs_dir, f"part-{i}.parquet"))
        cents = os.path.join(root, "centroids")
        os.makedirs(cents, exist_ok=True)
        pq.write_table(pa.table({
            "cell_id": pa.array(range(self.N_CELLS), pa.int64()),
            "cell_vec": pa.array([list(map(float, c)) for c in self.centres],
                                 pa.list_(pa.float64())),
        }), os.path.join(cents, "part-0.parquet"))
        return docs_dir, vecs_dir, cents


class HybridSearch:
    """Job 2 of corpus_search."""


    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.reference = None  # fused rows of the first checked round

    def _stores(self, base: str, cents: str):
        bm25 = Bm25IndexIngest(self.spark, os.path.join(base, "bm25"),
                               os.path.join(base, "bm25_ckpt"))
        vec = VectorIngest(self.spark, centroids_path=cents,
                           store_path=os.path.join(base, "vec"),
                           checkpoint_path=os.path.join(base, "vec_ckpt"))
        return bm25, vec

    def _drain(self, bm25, vec, docs_dir, vecs_dir) -> None:
        for store, src, schema in ((bm25, docs_dir, DOC_SCHEMA), (vec, vecs_dir, VEC_SCHEMA)):
            q = store.start(os.path.join(src, "*.parquet"), schema, max_files_per_trigger=1)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {q.exception()}")

    def _request(self, bm25, vec, frames):
        terms, qv = frames
        return [tuple(r) for r in hybrid_search.hybrid_search_from_stores(
            bm25, vec, terms, qv, k=K, k0=K0, bm25_k=BM25_K, ann_k=ANN_K, n_probe=N_PROBE,
        ).orderBy("query_id", "rank").collect()]

    def setup(self) -> None:
        self.inputs = Inputs(self.seed)
        self.docs_dir, self.vecs_dir, self.cents = self.inputs.write(
            os.path.join(self.work, "inputs"))
        self.frames = [
            (
                self.spark.createDataFrame([(qid, t) for t in terms], "query_id long, term string"),
                self.spark.createDataFrame([(qid, qv)], VEC_SCHEMA),
            )
            for qid, terms, qv in self.inputs.requests
        ]

    def start(self, r: int, tracer=None) -> dict:
        base = fresh_dir(os.path.join(self.work, "round"))
        bm25, vec = self._stores(base, self.cents)
        part = new_part()
        step(part, tracer, "index_build", "main", self._drain, bm25, vec, self.docs_dir, self.vecs_dir)
        n = len(self.inputs.docs) + len(self.inputs.vecs)
        part["throughput_per_s"] = n / part["times"]["main"][0]
        if tracer is not None:
            tracer.counts["vector_ingest.admitted"] = len(self._admitted(vec))
        if self.reference is None:
            part["admitted"] = self._admitted(vec)
        part.update(stores=(bm25, vec), fused=[])
        return part

    def follow(self, part: dict, tracer=None) -> None:
        pass

    def repeat(self, part: dict, tracer=None) -> None:
        """The next request of the closed loop."""
        bm25, vec = part["stores"]
        frames = self.frames[len(part["fused"])]
        part["fused"].append(step(part, tracer, "search_request", "followup",
                                  self._request, bm25, vec, frames))

    def finish(self, part: dict) -> None:
        pass

    def _admitted(self, vec) -> dict[int, np.ndarray]:
        """{vec_id: vector} of the vector store, read from its files."""
        out = {}
        for f in glob.glob(os.path.join(vec.store_path, "epoch=*", "*.parquet")):
            tb = pq.read_table(f, columns=["vec_id", "embedding"]).to_pydict()
            for i, e in zip(tb["vec_id"], tb["embedding"]):
                out[i] = np.asarray(e)
        return out

    def check(self, out: dict) -> list[str]:
        """The fused list holds every candidate of both provider lists
        (K = BM25_K + ANN_K), so each list is read back from its rank
        column: the lexical one must equal the pure-Python BM25, the
        vector one must reach the recall floor against brute-force
        cosine, and the fused scores and order must follow from the two."""
        if self.reference is not None:
            return [] if out["fused"] == self.reference else ["fused results changed between rounds"]
        problems = []
        admitted = out["admitted"]
        if set(range(len(self.inputs.vecs) - Inputs.N_DUP)) - set(admitted):
            problems.append("the vector gate dropped a vector that has no near-copy")
        ids = np.array(sorted(admitted))
        mat = np.stack([admitted[i] for i in ids])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        recalls = []
        for (qid, terms, qv), fused in zip(self.inputs.requests, out["fused"]):
            # rows: (query_id, cand_id, rank_a, rank_b, rrf_score, rank)
            lex = [r[1] for r in sorted((r for r in fused if r[2] is not None), key=lambda r: r[2])]
            sem = [r[1] for r in sorted((r for r in fused if r[3] is not None), key=lambda r: r[3])]
            want = [d for d, _ in bm25_topk(self.inputs.docs, set(terms), BM25_K)]
            if lex != want:
                problems.append(f"query {qid}: BM25 list {lex} != {want}")
            ranks = [(sorted(r[i] for r in fused if r[i] is not None), n) for i, n in
                     ((2, len(lex)), (3, len(sem)))]
            if any(got != list(range(1, n + 1)) for got, n in ranks):
                problems.append(f"query {qid}: provider ranks are not dense from 1")
            q = np.asarray(qv) / np.linalg.norm(qv)
            sims = mat @ q
            order = sorted(range(len(ids)), key=lambda j: (-sims[j], ids[j]))[:ANN_K]
            recalls.append(len(set(sem) & {int(ids[j]) for j in order}) / ANN_K)
            want_fused = rrf(lex, sem, K, K0)
            got_fused = [(r[1], r[4]) for r in fused]
            if got_fused != want_fused or [r[5] for r in fused] != list(range(1, len(fused) + 1)):
                problems.append(f"query {qid}: fused {got_fused} != {want_fused}")
        recall = sum(recalls) / len(recalls)
        print(f"IVF recall@{ANN_K} over {len(recalls)} requests: {recall:.3f}", file=sys.stderr)
        if recall < RECALL_FLOOR:
            problems.append(f"IVF recall@{ANN_K} {recall:.3f} below {RECALL_FLOOR}")
        self.reference = out["fused"]
        return problems

