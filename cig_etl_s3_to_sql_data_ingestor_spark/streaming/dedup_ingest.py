"""Streaming dedup-at-ingest: gate every arriving micro-batch of
documents against a persisted corpus signature store, admit only unique
docs, and grow the store with the survivors.

This is the crawl-ingest pattern at 100 TB: the accepted corpus is never
re-read or re-hashed — its durable artifact is text-free: minhash
signatures, per-doc content digests, and 12-hex shingle digests (no raw
text or raw shingles anywhere in the store; ~12 bytes per shingle, a
fraction of the documents themselves). Each batch:

1. reads the store (signatures + digests),
2. classifies the batch via ``incremental_dedup_status`` (exact digest
   semi-join, LSH band join vs the store, digest-set Jaccard verify,
   min-id dedup within batch),
3. appends only ``unique`` docs to the sink,
4. appends the survivors' signature rows to the store, so every later
   batch — in this run or the next — dedups against them too.

Idempotency mirrors ``ingest_stream``: sink and store writes are both
epoch-addressed directories with overwrite semantics, and classification
always reads the store WITH THE CURRENT EPOCH EXCLUDED — so a replayed
epoch (driver death between the store write and the checkpoint commit)
sees exactly the store state the first attempt saw and rewrites the same
``epoch=N`` dirs with identical content.

Lifecycle invariant (shared by every epoch-addressed scheme, including
``ingest_stream``'s sink): the checkpoint, the store, and the sink are
ONE unit. Deleting the checkpoint while keeping the store/sink restarts
epoch ids at 0, which both defeats the current-epoch exclusion and
overwrites historical ``epoch=N`` dirs — wipe or archive all three
together. Stores written by a pre-digest version of this module (raw
shingles) are incompatible with the digest comparison and must be
rebuilt.

Optional CDC chunk gate (``cdc_store_path``): content-defined chunk
digests (operators.dedup.cdc_chunks — LBFS/rsync hash-mod boundaries)
of every ADMITTED doc persist alongside the signatures, and a batch doc
sharing >= ``cdc_min_chunks`` distinct chunk hashes with the store is
rejected as ``chunk_dup`` even when the whole-document gates miss it.
This is the chunk-aligned verbatim-reuse modality: a re-delivered
document with a large prepended banner drops its shingle Jaccard below
the LSH threshold and changes its content digest, but CDC boundaries
are decided by content, so every chunk after the insertion point keeps
its hash — exactly the robustness the batch ``cdc_chunks`` operator is
test-pinned for, now enforced at ingest. The CDC store follows the same
epoch protocol (idempotent overwrite, current-epoch exclusion) and is
one unit with the others.

Optional lexical-cosine gate (``cosine_store_path``): the fourth net,
for re-deliveries that are lexically close but fall below the LSH
shingle-Jaccard threshold AND share no chunk-aligned verbatim run (a
tf-heavy document with a rewritten tail, a template instantiated with
fresh separators). The store persists, per admitted doc, its
bag-of-n-gram TF postings, squared norm, and per-epoch partial term
doc-frequencies — the persisted-index-stat convention the batch
``incremental_token_cosine_status`` operator was designed for: term df
comes from the CORPUS ONLY (summed across epoch partials; a streaming
gate cannot re-derive global df per batch), batch-only terms rank
df=0. Terms live in the store as 12-hex md5 DIGESTS (text-free like
the shingle store — dot products and norms are invariant under
digesting up to negligible collisions; prefix ranking ties break on
digest rather than raw term, a documented divergence from the batch
operator's raw-term tie-break). Verification is the oracle-backed
pure-integer cross-multiplication of ``token_cosine_near_duplicates``,
with its 64-bit overflow fence. Candidate generation differs from the
batch operator in ONE deliberate way: the cross-corpus prefix ranks
only terms the corpus has SEEN (df >= 1) — a batch-novel term can
never match a corpus posting, so spending prefix slots on df=0 terms
(the batch operator's convention) lets a re-delivery hide behind a few
fresh separator tokens; the within-batch prefix keeps the batch
operator's novel-first ranking verbatim. Cross-corpus candidates join
the batch prefix terms straight against the postings store — fan-out
is bounded by rare_prefix x |batch| x max_term_df, never store-sized.
The postings and df stores are term-BUCKETED at rest
(crc32(term) % cosine_n_buckets, the BM25 store's discipline with the
shared hash spelling and modulus marker), and gate reads prune to the
batch-vocabulary's buckets — lossless by construction, since dot
products only count terms shared with the batch. Same epoch protocol;
one unit with the checkpoint.

Optional frequent-segment tile gate (``tile_store_path``): the FIFTH
net, for documents ASSEMBLED from many admitted docs' spans — the one
re-delivery shape the other four all miss (fresh content digest, low
whole-doc Jaccard with any single stored doc, per-source runs shorter
than the CDC chunk threshold, mixed n-gram vector below the cosine rule
against every single stored doc). Admitted docs' non-overlapping
``tile_k``-token tile digests (operators.dedup.fixed_tile_profile — the
machinery the oracle-backed ``frequent_segment_filter`` pins) persist
per epoch; a batch doc is ``tile_dup`` when strictly more than half its
tile positions carry a store-present digest — the same integer
2*n <= N keep rule as the batch stage, with "shared with another doc"
tightened to "borrowed from the corpus". Text-free (md5 digests),
existence-only, same epoch protocol; one unit with the checkpoint.

Optional embedding near-dup gate (``embedding_store_path``): the SIXTH
net, semantic where the other five are lexical/structural — a
paraphrased re-delivery (fresh surface forms, same meaning) passes all
five and is caught only by embedding cosine against the admitted
corpus. Composes :class:`~.vector_ingest.VectorIngest` (frozen
centroids, cell-blocked candidates, the exact cosine rule the batch
``semdedup_keep``/``embedding_neardup`` operators pin) over a
source-supplied doc-embedding column; the store is text-free (vectors
or SQ8 codes + cell ids) and follows the same epoch protocol. See the
``embedding_*`` field comments for semantics and trades.

Unbounded-growth maintenance: :meth:`DedupIngest.compact` folds every
configured store's committed epoch dirs into one (gating-identical by
construction; crash-safe via the shared tmp/_SUCCESS/rename sequence),
so the per-batch dir listing stops growing with batch count.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import dedup as D
from ._store import (
    _compact_epoch_store,
    check_store_marker,
    drain,
    list_epoch_dirs,
    parquet_stream,
    read_epoch_store,
    recover_pending_compactions,
)


def _store_schema(num_hashes: int, id_col: str = "doc_id") -> T.StructType:
    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("shingles", T.ArrayType(T.StringType())),
    ] + [T.StructField(f"sig_{j}", T.StringType()) for j in range(num_hashes)]
    fields.append(T.StructField("content_hash", T.StringType()))
    return T.StructType(fields)


def read_signature_store(
    spark: SparkSession,
    path: str,
    num_hashes: int = 8,
    id_col: str = "doc_id",
    exclude_epoch: int | None = None,
) -> DataFrame:
    """The store, or an empty frame when it does not exist yet. Only the
    missing-path case maps to empty — any other read error must propagate
    (an empty-on-error fallback would silently re-admit duplicates).

    ``exclude_epoch`` drops one epoch's rows from the view. The gate MUST
    pass the epoch it is currently processing: if a prior attempt of the
    same epoch crashed after writing the store but before the checkpoint
    commit, the replay would otherwise see its own admitted docs in the
    store, classify them all as exact duplicates, and overwrite the sink
    and store epoch dirs with empty frames — silently losing the batch."""
    from pyspark.errors import AnalysisException

    schema = _store_schema(num_hashes, id_col)
    cols = [f.name for f in schema.fields]
    try:
        df = spark.read.schema(schema).parquet(path)
        # `epoch` is the virtual hive-partition column of the store
        # layout; pruning on it never scans the excluded epoch. It is
        # absent when the path exists but no epoch dir ever committed a
        # part file (crashed first write, pre-created dir) — nothing to
        # exclude then, and filtering would crash the recovery path.
        if exclude_epoch is not None and "epoch" in df.columns:
            df = df.filter(F.col("epoch") != exclude_epoch)
        # select() drops the partition column so the store frame's schema
        # is identical whether the store exists or not.
        return df.select(cols)
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" in str(ex):
            return spark.createDataFrame([], schema)
        raise


# `bucket` is the at-rest hash-bucket partition column of both
# existence stores (crc32(digest) % n_buckets — the BM25/cosine store
# discipline); legacy unbucketed epochs read it as NULL and are always
# scanned, never pruned away.
_CDC_SCHEMA = T.StructType(
    [
        T.StructField("chunk_hash", T.StringType()),
        T.StructField("bucket", T.LongType()),
    ]
)

_TILE_SCHEMA = T.StructType(
    [
        T.StructField("tile_hash", T.StringType()),
        T.StructField("bucket", T.LongType()),
    ]
)


def _read_existence_store(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    hash_col: str,
    exclude_epoch: int | None,
    buckets: list[int] | None,
) -> DataFrame:
    """Shared reader for the two digest-existence stores (CDC chunks,
    tiles): an empty frame when the path does not exist yet (ONLY the
    missing-path case — any other read error propagates), current-epoch
    exclusion, the mixed flat+bucketed layout fallback (the shared
    ``read_epoch_store`` machinery the bm25/cosine stores use), and
    optional static bucket pruning with NULL-bucket (legacy unbucketed
    epoch) tolerance — pruning is an optimization, correctness requires
    scanning legacy rows."""
    df = read_epoch_store(spark, path, schema, exclude_epoch=exclude_epoch)
    if buckets is not None:
        df = df.filter(
            F.col("bucket").isin(buckets) | F.col("bucket").isNull()
        )
    return df.select(hash_col)


def read_tile_store(
    spark: SparkSession,
    path: str,
    exclude_epoch: int | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The accumulated tile-digest store (one ``tile_hash`` md5 column —
    text-free like the other stores), or an empty frame when it does not
    exist yet; same missing-path-only fallback and current-epoch
    exclusion contract as :func:`read_signature_store`. ``buckets``
    prunes the scan to those hash buckets (legacy NULL-bucket rows
    always pass)."""
    return _read_existence_store(
        spark, path, _TILE_SCHEMA, "tile_hash", exclude_epoch, buckets
    )


def read_cdc_store(
    spark: SparkSession,
    path: str,
    exclude_epoch: int | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The accumulated chunk-hash store (one ``chunk_hash`` column, 32
    hex chars per row — text-free like the signature store), or an empty
    frame when it does not exist yet; same missing-path-only fallback
    and current-epoch exclusion contract as :func:`read_signature_store`.
    ``buckets`` prunes the scan to those hash buckets (legacy
    NULL-bucket rows always pass)."""
    return _read_existence_store(
        spark, path, _CDC_SCHEMA, "chunk_hash", exclude_epoch, buckets
    )


def _cos_postings_schema(id_col: str) -> T.StructType:
    # `bucket` is the at-rest term-bucket partition column (see
    # DedupIngest.cosine_n_buckets); legacy unbucketed epochs read it
    # as NULL and are scanned rather than pruned.
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.LongType()),
            T.StructField("bucket", T.LongType()),
        ]
    )


def _cos_norms_schema(id_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("norm_sq", T.LongType()),
        ]
    )


_COS_DF_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("bucket", T.LongType()),
    ]
)


@dataclass
class DedupIngest:
    """availableNow-drained streaming ingest with an LSH dedup gate and
    optional CDC chunk-reuse (``cdc_store_path``), lexical-cosine
    (``cosine_store_path``), and frequent-segment tile
    (``tile_store_path``) gates."""

    spark: SparkSession
    store_path: str
    sink_path: str
    checkpoint_path: str
    id_col: str = "doc_id"
    text_col: str = "text"
    num_hashes: int = 8
    band_size: int = 2
    threshold: float = 0.4
    shingle_n: int = 3
    # CDC chunk gate: None disables (the pre-round-8 behavior). A doc
    # sharing >= cdc_min_chunks DISTINCT chunk hashes with the store is
    # chunk_dup. min_chunks=3 at the divisor-32 default means ~96+
    # verbatim chars chunk-aligned shared — deliberate reuse, not a
    # common phrase.
    cdc_store_path: str | None = None
    cdc_k: int = 8
    cdc_divisor: int = 32
    cdc_min_chunks: int = 3
    # Hash-bucket fan-out of the CDC store's at-rest layout (crc32
    # % n_buckets, the BM25/cosine discipline with the shared marker
    # protocol): gate reads prune to the batch's chunk-hash buckets.
    # Legacy (unbucketed) epochs read bucket NULL and are scanned.
    cdc_n_buckets: int = 16
    # Lexical-cosine gate: None disables. A batch doc whose bag-of-
    # n-gram TF cosine against some stored doc reaches
    # cosine_num/cosine_den (verified by the oracle-backed integer
    # rule) is cosine_dup_corpus; against a lower-id doc in the same
    # batch, cosine_dup_batch. See the module docstring for the store
    # layout and the cross-corpus prefix convention.
    cosine_store_path: str | None = None
    cosine_ngram: int = 2
    cosine_rare_prefix: int = 4
    cosine_max_term_df: int = 100
    cosine_num: int = 4
    cosine_den: int = 5
    # Term-bucket fan-out of the cosine postings/df at-rest layout —
    # the same crc32(term) % n_buckets discipline as the BM25 store
    # (shared hash spelling, recorded in a marker on first write and
    # cross-checked on every open): a batch's gate reads prune to the
    # batch-vocabulary's buckets, so a small steady-state micro-batch
    # scans 1/n of the store instead of all of it. Legacy (unbucketed)
    # epochs read with bucket NULL and are scanned, never pruned away.
    # The norms store stays id-keyed (it is joined by id, not term).
    cosine_n_buckets: int = 16
    # Frequent-segment (tile) gate, the FIFTH net: None disables. A
    # batch doc is tile_dup when STRICTLY MORE THAN HALF of its
    # non-overlapping tile_k-token tile positions carry a digest
    # already present among ADMITTED docs' tiles — the streaming analog
    # of the oracle-backed frequent_segment_filter keep rule
    # (2*n_shared <= n_tiles keeps), with "shared with another doc"
    # tightened to "borrowed from the corpus store". Catches the
    # mostly-borrowed-tiles assembly that passes every other net: a
    # doc stitched from many admitted docs' spans has a fresh content
    # digest (not exact), low whole-doc Jaccard with any ONE stored doc
    # (below LSH), spans shorter than cdc_min_chunks aligned chunks
    # per source (no chunk_dup), and a mixed bag-of-ngrams vector far
    # from every single stored doc (below the cosine rule). Docs with
    # fewer than tile_k tokens emit no tiles and always keep.
    tile_store_path: str | None = None
    tile_k: int = 8
    # Same hash-bucket at-rest layout for the tile store (stamped from
    # the store's first write — it shipped bucketed, so no legacy
    # migration path exists for tiles; NULL tolerance kept for
    # hand-built stores).
    tile_n_buckets: int = 16
    # Embedding near-dup (semantic) gate, the SIXTH net: None disables.
    # The five nets above are all lexical/structural — a PARAPHRASED
    # re-delivery (fresh surface forms, same meaning) passes exact
    # (new digest), LSH (no shared shingles), CDC (no verbatim runs),
    # cosine (no shared n-grams), and tile (no borrowed tiles). This
    # gate scores each batch doc's embedding (``embedding_col``, an
    # array<double> the source supplies alongside the text) against the
    # ADMITTED corpus through a composed VectorIngest store: frozen
    # centroids at ``embedding_centroids_path``, cell-blocked candidate
    # generation, cosine >= embedding_threshold rejects as
    # ``embedding_dup`` — the oracle-backed semdedup_keep /
    # embedding_neardup batch rule, applied store-incrementally with
    # VectorIngest's exact gate math (this class owns no vector
    # scoring). Store is text-free by construction (vectors or SQ8
    # codes + cell ids); same epoch protocol, one unit with the
    # checkpoint. Corpus-only like the CDC/tile nets (a same-batch
    # semantic twin is admitted; the next batch would reject it);
    # cell-boundary recall trade documented in vector_ingest.
    embedding_store_path: str | None = None
    embedding_centroids_path: str | None = None
    embedding_col: str = "embedding"
    embedding_threshold: float = 0.995
    # Optional SQ8 codes-at-rest for the semantic store (4x smaller;
    # asymmetric-ADC scoring — see VectorIngest.sq8_stats_path).
    embedding_sq8_stats_path: str | None = None

    def _classify(
        self, batch_df: DataFrame, exclude_epoch: int | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """(status, survivors) for one batch against the current store."""
        store = read_signature_store(
            self.spark,
            self.store_path,
            self.num_hashes,
            self.id_col,
            exclude_epoch=exclude_epoch,
        )
        status = D.incremental_dedup_status(
            None,
            batch_df,
            id_col=self.id_col,
            text_col=self.text_col,
            num_hashes=self.num_hashes,
            band_size=self.band_size,
            threshold=self.threshold,
            shingle_n=self.shingle_n,
            corpus_sigs=store,
            corpus_hashes=store.select("content_hash"),
            corpus_shingles_hashed=True,
        )
        if self.cdc_store_path is not None:
            # Chunk gate, applied AFTER the whole-doc gates (precedence:
            # exact > near-corpus > near-batch > chunk_dup — a doc the
            # cheaper gates already killed keeps its verdict). Join
            # shape: the batch's chunk hashes against the store on
            # chunk_hash — the batch side is micro-batch-bounded, so the
            # matched rows (not the store) size the shuffle; at real
            # scale bucket the store by chunk_hash like the BM25 term
            # store.
            from .bm25_ingest import term_bucket_col

            self._check_bucket_marker(
                self.cdc_store_path, self.cdc_n_buckets, False, "cdc"
            )
            chunks_b = D._persist(self._batch_chunks(batch_df))
            # Static bucket pruning (the cosine/bm25 discipline): the
            # batch's DISTINCT chunk-hash buckets are at most
            # cdc_n_buckets values (one tiny collect), and the store
            # scan is pruned to them; legacy NULL-bucket epochs always
            # pass the filter.
            cdc_buckets = sorted(
                r[0]
                for r in chunks_b.select(
                    term_bucket_col(
                        F.col("chunk_hash"), self.cdc_n_buckets
                    ).alias("b")
                )
                .distinct()
                .collect()
            )
            cdc_store = read_cdc_store(
                self.spark,
                self.cdc_store_path,
                exclude_epoch=exclude_epoch,
                buckets=cdc_buckets,
            )
            hits = (
                chunks_b
                .join(cdc_store, "chunk_hash")
                .groupBy(self.id_col)
                .agg(F.countDistinct("chunk_hash").alias("_n_shared"))
                .filter(F.col("_n_shared") >= self.cdc_min_chunks)
                .select(self.id_col)
                .withColumn("_chunk_dup", F.lit(True))
            )
            status = status.join(hits, self.id_col, "left").select(
                self.id_col,
                F.when(
                    (F.col("verdict") == "unique") & F.col("_chunk_dup"),
                    F.lit("chunk_dup"),
                )
                .otherwise(F.col("verdict"))
                .alias("verdict"),
            )
        if self.cosine_store_path is not None:
            # Cosine gate, the LAST net (precedence: exact > near-dup >
            # chunk_dup > cosine_dup_* — a doc a cheaper gate already
            # killed keeps its verdict).
            dup_c, dup_b = self._cosine_dups(batch_df, exclude_epoch)
            status = (
                status.join(
                    dup_c.withColumn("_cos_c", F.lit(True)), self.id_col, "left"
                )
                .join(
                    dup_b.withColumn("_cos_b", F.lit(True)), self.id_col, "left"
                )
                .select(
                    self.id_col,
                    F.when(
                        (F.col("verdict") == "unique") & F.col("_cos_c"),
                        F.lit("cosine_dup_corpus"),
                    )
                    .when(
                        (F.col("verdict") == "unique") & F.col("_cos_b"),
                        F.lit("cosine_dup_batch"),
                    )
                    .otherwise(F.col("verdict"))
                    .alias("verdict"),
                )
            )
        if self.tile_store_path is not None:
            # Tile gate, the fifth net (precedence: every cheaper gate's
            # verdict wins; only still-unique docs can become tile_dup).
            # Per tile POSITION (duplicate in-doc hashes count once per
            # position, the batch operator's convention), borrowed =
            # digest exists in the store — a left-semi join, which keeps
            # each position row at most once however many epochs carry
            # the hash, so the join fans out by the batch side only. At
            # real scale bucket the store by tile_hash like the BM25
            # term store.
            from .bm25_ingest import term_bucket_col

            self._check_bucket_marker(
                self.tile_store_path, self.tile_n_buckets, False, "tile"
            )
            tiles_b = D._persist(self._batch_tiles(batch_df))
            tile_buckets = sorted(
                r[0]
                for r in tiles_b.select(
                    term_bucket_col(
                        F.col("tile_hash"), self.tile_n_buckets
                    ).alias("b")
                )
                .distinct()
                .collect()
            )
            tile_store = read_tile_store(
                self.spark,
                self.tile_store_path,
                exclude_epoch=exclude_epoch,
                buckets=tile_buckets,
            )
            borrowed = (
                tiles_b.join(tile_store, "tile_hash", "left_semi")
                .groupBy(self.id_col)
                .agg(F.count("*").alias("_n_borrowed"))
            )
            tile_hits = (
                tiles_b.groupBy(self.id_col)
                .agg(F.count("*").alias("_n_tiles"))
                .join(borrowed, self.id_col, "left")
                .filter(
                    2 * F.coalesce(F.col("_n_borrowed"), F.lit(0))
                    > F.col("_n_tiles")
                )
                .select(self.id_col)
                .withColumn("_tile_dup", F.lit(True))
            )
            status = status.join(tile_hits, self.id_col, "left").select(
                self.id_col,
                F.when(
                    (F.col("verdict") == "unique") & F.col("_tile_dup"),
                    F.lit("tile_dup"),
                )
                .otherwise(F.col("verdict"))
                .alias("verdict"),
            )
        if self.embedding_store_path is not None:
            # Semantic gate, the sixth net (precedence: every cheaper
            # gate's verdict wins; only still-unique docs can become
            # embedding_dup). Candidate generation and the cosine rule
            # are VectorIngest's near-dup gate verbatim — composed, not
            # reimplemented — over the doc-embedding column.
            vi = self._embedding_ingest()
            emb_hits = vi._near_dup_vs_index_ids(
                vi._assign_batch(
                    batch_df.select(self.id_col, self.embedding_col)
                ),
                exclude_epoch=exclude_epoch,
            ).withColumn("_emb_dup", F.lit(True))
            status = status.join(emb_hits, self.id_col, "left").select(
                self.id_col,
                F.when(
                    (F.col("verdict") == "unique") & F.col("_emb_dup"),
                    F.lit("embedding_dup"),
                )
                .otherwise(F.col("verdict"))
                .alias("verdict"),
            )
        survivors = batch_df.join(
            status.filter(F.col("verdict") == "unique").select(self.id_col),
            self.id_col,
            "left_semi",
        )
        return status, survivors

    def _embedding_ingest(self):
        """The composed VectorIngest over the semantic store — one
        instance cached per DedupIngest (its centroid digest is
        instance-cached, so the gate and the write side pay the tiny
        digest collect once, not per epoch); its checkpoint path is
        never used (this class's stream IS the checkpointed unit)."""
        cached = getattr(self, "_emb_vi", None)
        if cached is not None:
            return cached
        from .vector_ingest import VectorIngest

        self._emb_vi = VectorIngest(
            self.spark,
            centroids_path=self.embedding_centroids_path,
            store_path=self.embedding_store_path,
            checkpoint_path=f"{self.embedding_store_path}/_unused_ckpt",
            id_col=self.id_col,
            vec_col=self.embedding_col,
            dup_threshold=self.embedding_threshold,
            sq8_stats_path=self.embedding_sq8_stats_path,
        )
        return self._emb_vi

    def _cosine_tf(self, df: DataFrame) -> DataFrame:
        """(id, term, tf) with the term as its 12-hex md5 digest — the
        store's text-free term space; batch and store sides always meet
        in digest space so dot products and norms are unchanged."""
        return D._term_frequencies(
            df, self.id_col, self.text_col, self.cosine_ngram
        ).withColumn("term", F.substring(F.md5(F.col("term")), 1, 12))

    def _cosine_dups(
        self, batch_df: DataFrame, exclude_epoch: int | None
    ) -> tuple[DataFrame, DataFrame]:
        """(dup-vs-corpus ids, dup-vs-lower-batch-id ids) under the
        integer cosine rule. All joins are batch- or candidate-bounded;
        the postings store appears once in the candidate equi-join
        (fan-out <= rare_prefix x |batch| x max_term_df) and once in
        the dot-product join restricted to candidate ids."""
        from .bm25_ingest import term_bucket_col

        sp = self.cosine_store_path
        idc = self.id_col
        self._check_cosine_n_buckets(create=False)
        tf_b = D._persist(self._cosine_tf(batch_df))
        safe = D.cosine_safe_norm_bound(self.cosine_num, self.cosine_den)
        # Norms carry the operator family's 64-bit overflow fence: docs
        # past the bound cannot be certified by the integer rule (they
        # classify unique), and the fence is applied at READ time on
        # the store side too, so a pathological doc admitted earlier
        # can never push the keep rule past BIGINT.
        norms_b = D._persist(
            tf_b.groupBy(idc)
            .agg(F.sum(F.col("tf") * F.col("tf")).alias("norm_sq"))
            .filter(F.col("norm_sq") <= safe)
        )
        # Static bucket pruning: the batch's DISTINCT bucket ids are at
        # most cosine_n_buckets values (one tiny collect), and every
        # term-keyed store read filters to them — a small steady-state
        # micro-batch scans 1/n of the postings/df stores. NULL buckets
        # (legacy unbucketed epochs) are scanned, never pruned away
        # (the bm25 store's migration rule).
        batch_buckets = sorted(
            r[0]
            for r in tf_b.select(
                term_bucket_col(F.col("term"), self.cosine_n_buckets).alias("b")
            )
            .distinct()
            .collect()
        )
        prune = F.col("bucket").isin(batch_buckets) | F.col("bucket").isNull()
        store_tf = read_epoch_store(
            self.spark, f"{sp}/postings", _cos_postings_schema(idc),
            exclude_epoch=exclude_epoch,
        ).filter(prune).drop("bucket")
        store_norms = read_epoch_store(
            self.spark, f"{sp}/norms", _cos_norms_schema(idc),
            exclude_epoch=exclude_epoch,
        ).filter(F.col("norm_sq") <= safe)
        # Corpus df for the batch's vocabulary only: bucket pruning at
        # the scan, then epoch partials are summed AFTER the batch-vocab
        # semi-join, so the shuffle is bounded by the batch's distinct
        # terms.
        df_c = D._persist(
            read_epoch_store(
                self.spark, f"{sp}/df", _COS_DF_SCHEMA,
                exclude_epoch=exclude_epoch,
            )
            .filter(prune)
            .drop("bucket")
            .join(tf_b.select("term").distinct(), "term", "left_semi")
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        ranked = tf_b.join(df_c, "term", "left").withColumn(
            "df", F.coalesce("df", F.lit(0))
        )
        # Cross-corpus prefix: the rarest CORPUS-SEEN terms (df >= 1,
        # <= max_term_df). A df=0 term can never match a posting, so
        # novel separators must not consume prefix slots here (they DO
        # in the within-batch prefix below, matching the batch
        # operator's convention).
        wx = W.partitionBy(idc).orderBy("df", "term")
        prefix_cross = (
            ranked.filter(
                (F.col("df") >= 1) & (F.col("df") <= self.cosine_max_term_df)
            )
            .withColumn("rr", F.row_number().over(wx))
            .filter(F.col("rr") <= self.cosine_rare_prefix)
            .select(F.col(idc), "term")
        )
        prefix_batch = (
            ranked.filter(F.col("df") <= self.cosine_max_term_df)
            .withColumn("rr", F.row_number().over(wx))
            .filter(F.col("rr") <= self.cosine_rare_prefix)
            .select(F.col(idc), "term")
        )

        def _verified(cand, tf_a_side, tf_b_side, na_side, nb_side):
            dots = (
                cand.join(
                    tf_a_side.alias("ta"), F.col(f"ta.{idc}") == F.col("id_a")
                )
                .join(
                    tf_b_side.alias("tb"),
                    (F.col(f"tb.{idc}") == F.col("id_b"))
                    & (F.col("tb.term") == F.col("ta.term")),
                )
                .groupBy("id_a", "id_b")
                .agg(F.sum(F.col("ta.tf") * F.col("tb.tf")).alias("dot"))
            )
            na = na_side.select(
                F.col(idc).alias("id_a"), F.col("norm_sq").alias("na2")
            )
            nb = nb_side.select(
                F.col(idc).alias("id_b"), F.col("norm_sq").alias("nb2")
            )
            num2 = self.cosine_num * self.cosine_num
            den2 = self.cosine_den * self.cosine_den
            return (
                dots.join(na, "id_a")
                .join(nb, "id_b")
                .filter(
                    F.col("dot") * F.col("dot") * F.lit(den2)
                    >= F.lit(num2) * F.col("na2") * F.col("nb2")
                )
            )

        cross_cand = (
            prefix_cross.alias("pb")
            .join(store_tf.alias("pc"), F.col("pb.term") == F.col("pc.term"))
            .select(
                F.col(f"pb.{idc}").alias("id_a"),
                F.col(f"pc.{idc}").alias("id_b"),
            )
            .distinct()
        )
        dup_corpus = (
            _verified(cross_cand, tf_b, store_tf, norms_b, store_norms)
            .select(F.col("id_a").alias(idc))
            .distinct()
        )
        batch_cand = (
            prefix_batch.alias("pa")
            .join(
                prefix_batch.alias("pb2"),
                (F.col("pa.term") == F.col("pb2.term"))
                & (F.col(f"pa.{idc}") < F.col(f"pb2.{idc}")),
            )
            .select(
                F.col(f"pa.{idc}").alias("id_a"),
                F.col(f"pb2.{idc}").alias("id_b"),
            )
            .distinct()
        )
        dup_batch = (
            _verified(batch_cand, tf_b, tf_b, norms_b, norms_b)
            .select(F.col("id_b").alias(idc))
            .distinct()
        )
        return dup_corpus, dup_batch

    def _batch_chunks(self, df: DataFrame) -> DataFrame:
        return D.cdc_chunks(
            df,
            id_col=self.id_col,
            text_col=self.text_col,
            k=self.cdc_k,
            divisor=self.cdc_divisor,
        ).select(self.id_col, "chunk_hash")

    def _batch_tiles(self, df: DataFrame) -> DataFrame:
        return D.fixed_tile_profile(
            df, self.id_col, self.text_col, k=self.tile_k
        ).select(self.id_col, "tile_hash")

    def _write_tile_store(self, survivors: DataFrame, epoch_id: int) -> None:
        """Grow the tile store from the survivors: DISTINCT tile digests
        per epoch (existence-only, like the CDC store — a digest already
        present from an earlier epoch just adds one row). Same
        epoch-addressed idempotent overwrite; a method so recovery tests
        can inject a crash exactly between the cosine and tile writes."""
        from .bm25_ingest import term_bucket_col

        self._check_bucket_marker(
            self.tile_store_path, self.tile_n_buckets, True, "tile"
        )
        self._batch_tiles(survivors).select(
            "tile_hash"
        ).distinct().select(
            "tile_hash",
            term_bucket_col(
                F.col("tile_hash"), self.tile_n_buckets
            ).alias("bucket"),
        ).write.partitionBy("bucket").mode("overwrite").parquet(
            f"{self.tile_store_path}/epoch={epoch_id}"
        )

    def _write_embedding_store(
        self, survivors: DataFrame, epoch_id: int
    ) -> None:
        """Grow the semantic store from the survivors: assign each
        admitted doc's embedding to its frozen cell and land
        (id, cell_id, vector-or-codes, norm) — VectorIngest's write
        shape verbatim. ALL survivors' vectors persist (admission was
        decided by the six composed nets, not by VectorIngest's own
        gate); existence of a near vector is what later batches test.
        Same epoch-addressed idempotent overwrite; a method so recovery
        tests can inject a crash between the tile and embedding
        writes."""
        vi = self._embedding_ingest()
        vi._write_epoch(
            vi._assign_batch(survivors.select(self.id_col, self.embedding_col)),
            epoch_id,
        )

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One epoch: classify → write sink epoch dir → grow the store.

        A method (not a closure) so recovery tests can wrap it with fault
        injection at the exact crash window the design targets — after
        both writes, before the checkpoint commit."""
        # A compaction that crashed in its delete->rename window leaves
        # the folded history only in its tmp dir; promote it BEFORE this
        # batch reads any store, or the gates classify against a store
        # missing all compacted admissions and re-admit their duplicates.
        recover_pending_compactions(self.spark, *self._store_roots())
        # Excluding the current epoch makes a crash-replay of this
        # epoch classify against exactly the store state the first
        # attempt saw — replay-identical, so the epoch-dir overwrites
        # are true no-ops instead of data loss.
        _, survivors = self._classify(batch_df, exclude_epoch=epoch_id)
        survivors.write.mode("overwrite").parquet(
            f"{self.sink_path}/epoch={epoch_id}"
        )
        # READ BACK the survivors from the sink dir just written (the
        # frequency monitor's delta pattern) instead of carrying the
        # classification-join lineage into every store write below:
        # classification is the batch's expensive stage and must run
        # once, and the read-back frame is SCAN-ROOTED, so the signature
        # stage's fan_out probes file splits instead of materializing
        # the gate joins as a hidden extra job (the r9 .rdd-under-AQE
        # hazard, caught here by the suite-armed tripwire).
        survivors = self.spark.read.schema(batch_df.schema).parquet(
            f"{self.sink_path}/epoch={epoch_id}"
        )
        # minhash_signatures projects down to (id, shingles, sig_*);
        # keep only shingle DIGESTS (the store holds no raw text) and
        # re-attach the content digest with a batch-sized join.
        new_sigs = (
            D.minhash_signatures(
                survivors, self.id_col, self.text_col, self.num_hashes, self.shingle_n
            )
            .withColumn("shingles", D.shingle_digests_col(F.col("shingles")))
            .join(
                survivors.select(
                    self.id_col, F.md5(F.col(self.text_col)).alias("content_hash")
                ),
                self.id_col,
            )
        )
        # Column order must match the store schema read.
        new_sigs.select(
            [f.name for f in _store_schema(self.num_hashes, self.id_col).fields]
        ).write.mode("overwrite").parquet(f"{self.store_path}/epoch={epoch_id}")
        if self.cdc_store_path is not None:
            # Distinct per epoch keeps the store minimal; a hash already
            # present from an earlier epoch just adds one row (the gate
            # only tests existence). Same epoch-addressed idempotent
            # overwrite as the other two writes; rows land under
            # bucket= partition dirs (crc32 % cdc_n_buckets, modulus
            # stamped in a marker) so gate reads prune to the batch's
            # chunk-hash buckets.
            from .bm25_ingest import term_bucket_col

            self._check_bucket_marker(
                self.cdc_store_path, self.cdc_n_buckets, True, "cdc"
            )
            self._batch_chunks(survivors).select(
                "chunk_hash"
            ).distinct().select(
                "chunk_hash",
                term_bucket_col(
                    F.col("chunk_hash"), self.cdc_n_buckets
                ).alias("bucket"),
            ).write.partitionBy("bucket").mode("overwrite").parquet(
                f"{self.cdc_store_path}/epoch={epoch_id}"
            )
        if self.cosine_store_path is not None:
            # Grow the cosine store from the survivors: TF postings,
            # squared norms (UNfenced at write — the fence is a read-
            # time verification bound, and norm_sq fits BIGINT for any
            # doc a string column can hold), and this epoch's partial
            # term doc-frequencies (summed across epochs at read time —
            # df partials are associative, so the store never rewrites
            # history). Postings and df land under bucket= partition
            # dirs (crc32(term) % cosine_n_buckets, modulus stamped in
            # a marker) so gate reads prune to the batch's vocabulary
            # buckets. Same idempotent epoch-dir overwrite: a replay
            # classifies against the store minus this epoch and
            # rewrites identical content.
            from .bm25_ingest import term_bucket_col

            self._check_cosine_n_buckets(create=True)
            sp = self.cosine_store_path
            tf_s = D._persist(self._cosine_tf(survivors))
            bucket = term_bucket_col(F.col("term"), self.cosine_n_buckets)
            tf_s.select(
                self.id_col, "term", "tf", bucket.alias("bucket")
            ).write.partitionBy("bucket").mode("overwrite").parquet(
                f"{sp}/postings/epoch={epoch_id}"
            )
            tf_s.groupBy(self.id_col).agg(
                F.sum(F.col("tf") * F.col("tf")).alias("norm_sq")
            ).write.mode("overwrite").parquet(f"{sp}/norms/epoch={epoch_id}")
            tf_s.groupBy("term").agg(F.count("*").alias("df")).select(
                "term", "df", bucket.alias("bucket")
            ).write.partitionBy("bucket").mode("overwrite").parquet(
                f"{sp}/df/epoch={epoch_id}"
            )
        if self.tile_store_path is not None:
            self._write_tile_store(survivors, epoch_id)
        if self.embedding_store_path is not None:
            self._write_embedding_store(survivors, epoch_id)
        D.unpersist_all()

    def _check_bucket_marker(self, root: str, n: int, create: bool, what: str) -> None:
        check_store_marker(self.spark, root, "n_buckets", n, create, what)

    def _check_cosine_n_buckets(self, create: bool) -> None:
        self._check_bucket_marker(
            f"{self.cosine_store_path}/postings",
            self.cosine_n_buckets,
            create,
            "cosine",
        )

    def _store_roots(self) -> list[str]:
        """Every configured store root holding ``epoch=N`` dirs — the
        unit recovery and compaction iterate over. The cosine store is
        three sibling epoch stores under one path."""
        roots = [self.store_path]
        if self.cdc_store_path is not None:
            roots.append(self.cdc_store_path)
        if self.cosine_store_path is not None:
            roots += [
                f"{self.cosine_store_path}/postings",
                f"{self.cosine_store_path}/norms",
                f"{self.cosine_store_path}/df",
            ]
        if self.tile_store_path is not None:
            roots.append(self.tile_store_path)
        if self.embedding_store_path is not None:
            roots.append(self.embedding_store_path)
        return roots

    def compact(self, upto_epoch: int) -> dict[str, int]:
        """Fold every committed epoch dir ``<= upto_epoch`` of every
        configured store into one dir each — gating verdicts are
        IDENTICAL pre/post (pinned by tests/test_streaming.py): the
        signature/postings/norms rows are per-admitted-doc and epochs
        are disjoint, so their fold is concatenation; the CDC/tile
        existence sets fold to DISTINCT digests (the gates only test
        membership); the cosine df partials SUM per term (exactly the
        read side's merge aggregate). Without this, every micro-batch
        adds an ``epoch=N`` dir (x bucket subdirs) forever and the
        per-batch store listing grows with batch count — the same
        unbounded-metadata growth :meth:`Bm25IndexIngest.compact`
        closes for the BM25 store, and the assumption
        ``_store.read_epoch_dirs_union`` documents ("compaction keeps
        the dir list short") now holds for these stores too.

        Returns {store root: folded dir count}. The newest epoch of
        each store is never foldable (it may be an uncommitted batch's
        replay target — enforced by the shared helper); a TORN newest
        epoch (a crash between two stores' writes) is additionally
        rejected up front by the cross-store validation below, so a
        partially-written batch can never be folded into the committed
        base of one store while missing from a sibling: replay it
        first, then compact. Crash-safe via the shared
        ``.compact_tmp`` + ``_SUCCESS`` + delete + rename sequence;
        interrupted compactions are finished (or discarded) by
        ``recover_pending_compactions``, which every batch's read side
        runs first."""
        from .bm25_ingest import term_bucket_col

        roots = self._store_roots()
        recover_pending_compactions(self.spark, *roots)
        # Cross-store validation BEFORE any fold: every configured
        # store must see upto_epoch strictly below ITS newest epoch.
        # This both surfaces a torn newest epoch (one store's newest is
        # behind its siblings') and keeps a failing compact from
        # half-applying — each store would raise the same error inside
        # the helper, but only after earlier stores already folded.
        for r in roots:
            epochs = [e for e, _ in list_epoch_dirs(self.spark, r)]
            if epochs and upto_epoch >= max(epochs):
                raise ValueError(
                    f"compact upto_epoch={upto_epoch} >= newest epoch "
                    f"{max(epochs)} of store {r!r} — the newest epoch "
                    "may be an uncommitted (possibly torn) batch's "
                    "replay target; replay it, then compact below it"
                )
        out: dict[str, int] = {}

        out[self.store_path] = _compact_epoch_store(
            self.spark,
            self.store_path,
            upto_epoch,
            lambda df: df,
            schema=_store_schema(self.num_hashes, self.id_col),
        )

        def _compact_existence(
            path: str, schema: T.StructType, hash_col: str, n: int, what: str
        ) -> int:
            # Compaction is a WRITE: it stamps the modulus marker on a
            # legacy (pre-bucket) store it is about to bucket, and
            # raises loudly on a mismatched modulus — the gate-read
            # rule. The fold re-derives every bucket from the digest
            # (bit-equal for rows already bucketed, marker-checked;
            # MIGRATES legacy NULL-bucket rows), so one compaction
            # upgrades a mixed store to fully-bucketed and read-side
            # pruning applies everywhere after.
            self._check_bucket_marker(path, n, True, what)

            def fold(df: DataFrame) -> DataFrame:
                return (
                    df.select(hash_col)
                    .distinct()
                    .select(
                        hash_col,
                        term_bucket_col(F.col(hash_col), n).alias("bucket"),
                    )
                    .repartition(F.col("bucket"))
                )

            return _compact_epoch_store(
                self.spark,
                path,
                upto_epoch,
                fold,
                partition_by=["bucket"],
                schema=schema,
            )

        if self.cdc_store_path is not None:
            out[self.cdc_store_path] = _compact_existence(
                self.cdc_store_path,
                _CDC_SCHEMA,
                "chunk_hash",
                self.cdc_n_buckets,
                "cdc",
            )
        if self.tile_store_path is not None:
            out[self.tile_store_path] = _compact_existence(
                self.tile_store_path,
                _TILE_SCHEMA,
                "tile_hash",
                self.tile_n_buckets,
                "tile",
            )
        if self.cosine_store_path is not None:
            sp = self.cosine_store_path
            self._check_cosine_n_buckets(create=True)
            bucket = term_bucket_col(F.col("term"), self.cosine_n_buckets)

            def fold_postings(df: DataFrame) -> DataFrame:
                # Per-(doc, term) rows, disjoint across epochs: concat,
                # with the bm25-style legacy bucket migration.
                return df.select(
                    self.id_col,
                    "term",
                    "tf",
                    F.coalesce(F.col("bucket"), bucket).alias("bucket"),
                ).repartition(F.col("bucket"))

            def fold_df(df: DataFrame) -> DataFrame:
                # df partials are associative — the fold IS the read
                # side's merge aggregate, so merged df values (and the
                # rank order they induce) are unchanged.
                return (
                    df.groupBy("term")
                    .agg(F.sum("df").alias("df"))
                    .select("term", "df", bucket.alias("bucket"))
                    .repartition(F.col("bucket"))
                )

            out[f"{sp}/postings"] = _compact_epoch_store(
                self.spark,
                f"{sp}/postings",
                upto_epoch,
                fold_postings,
                partition_by=["bucket"],
                schema=_cos_postings_schema(self.id_col),
            )
            out[f"{sp}/norms"] = _compact_epoch_store(
                self.spark,
                f"{sp}/norms",
                upto_epoch,
                lambda df: df,
                schema=_cos_norms_schema(self.id_col),
            )
            out[f"{sp}/df"] = _compact_epoch_store(
                self.spark,
                f"{sp}/df",
                upto_epoch,
                fold_df,
                partition_by=["bucket"],
                schema=_COS_DF_SCHEMA,
            )
        if self.embedding_store_path is not None:
            # VectorIngest owns the semantic store's layout (raw vs SQ8
            # schema, layout check) — its compact is the one fold.
            out[self.embedding_store_path] = self._embedding_ingest().compact(
                upto_epoch
            )
        return out

    def start(
        self,
        source_glob: str,
        schema: T.StructType,
        max_files_per_trigger: int | None = None,
    ):
        """Drain available files through the gate. ``max_files_per_trigger``
        bounds each micro-batch (backpressure at scale: a 10k-file backlog
        becomes many bounded batches, and each batch's admissions are in
        the store before the next batch classifies — foreachBatch runs
        epochs sequentially)."""
        return drain(
            parquet_stream(self.spark, schema, source_glob, max_files_per_trigger),
            self._process_batch,
            self.checkpoint_path,
        )
