"""Streaming ANN-index maintenance: an availableNow-drained stream of
embedding vectors grows a searchable IVF index incrementally — the
vector-side twin of ``dedup_ingest``.

The 100 TB shape: centroids are trained ONCE on a bootstrap corpus
(deterministic sampled KMeans, see ``operators.similarity``) and then
frozen — retraining per batch would both re-shuffle the accumulated
index (every cell id could change) and make search results depend on
arrival order. Each arriving micro-batch:

1. assigns its vectors to their nearest frozen centroid (broadcast
   centroids, map-side pass — the batch never shuffles);
2. near-dup gates the batch against the EXISTING index members of the
   same cells (equi-join on cell_id — candidate generation is bounded
   by cell occupancy, never O(index)), and against itself (same-cell
   batch pairs, keep the lowest id);
3. appends the admitted (vec_id, cell_id, embedding, norm) rows to the
   index store's ``epoch=N`` directory.

Search never re-reads raw vectors from the source: the store IS the
index (cell-assigned, norm-precomputed), so a query is one probe
ranking against broadcast centroids plus an equi-join on the probed
cell ids — identical math to ``operators.similarity.ivf_topk`` search.

Idempotency contract (same as ``dedup_ingest``/``ingest_stream``): the
store write is an epoch-addressed overwrite and classification reads
the store WITH THE CURRENT EPOCH EXCLUDED, so a crash between the
store write and the checkpoint commit replays to byte-identical epoch
dirs. The checkpoint and the store are one unit — wipe both or
neither. Duplicate policy note: the gate drops a new vector when the
index (or an earlier same-batch row) already holds one within
``dup_threshold`` cosine in the SAME cell; a true near-duplicate
straddling a cell boundary is admitted — the standard recall/cost
trade of cell-blocked near-dup, documented rather than hidden.

SQ8 code-at-rest mode (``sq8_stats_path``): with quantization stats
frozen at bootstrap alongside the centroids, the store keeps int8
CODES instead of double vectors — 4x smaller at rest, which at index
scale is 4x fewer bytes off the object store for every search and
every gate probe. Gate and search both score the raw incoming/query
vector against the midpoint reconstruction (asymmetric ADC, the
``operators.similarity.ivf_sq8_topk`` semantics); search results are
bit-identical to running that operator's scoring over the same
members, pinned by ``test_vector_ingest_sq8_*``. Frozen-stats trade
(inherent to SQ8, same as FAISS): a vector with components OUTSIDE
the bootstrap range reconstructs through the uint8 clamp, so its
recon cosine degrades — a re-delivered out-of-range vector can slip
past ``dup_threshold``. The gate test pins this against the Python
quantizer model rather than pretending rejection is total.

Within-batch policy (precisely): a vector is admitted iff NO
lower-id same-cell near-duplicate exists in the batch — admitted OR
rejected. The batch's admitted set is the set of LOCAL MINIMA of the
same-cell similarity graph, which one self-join computes in a single
pass, deterministically and independent of partitioning. This
over-rejects relative to a sequential greedy admit: in a chain a~b,
b~c (a!~c), both b and c are dropped even though c's only duplicate
witness b was itself rejected. Greedy-by-id admission would keep c
but requires iterating the similarity graph to a fixpoint (each pass
can re-qualify nodes whose witnesses died in the previous pass) — an
unbounded number of joins on adversarial chains — so the one-pass
policy is the deliberate 100 TB choice, pinned by
``test_vector_ingest_in_batch_gate_is_local_minima``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import dot, norm
from ..operators.similarity import (
    ivf_assign,
    sq8_codes_col,
    sq8_reconstruct_col,
    sq8_stats,
)
from ._store import (
    _compact_epoch_store,
    check_store_marker,
    drain,
    list_epoch_dirs,
    parquet_stream,
    read_epoch_store,
    recover_pending_compactions,
)


def _index_schema(
    id_col: str = "vec_id", vec_col: str = "embedding", quantized: bool = False
) -> T.StructType:
    """Raw store: (id, cell, vector, norm). Quantized (SQ8) store: the
    vector column is replaced BY its int8 codes — the 4x-smaller at-rest
    form — plus the reconstructed-vector norm precomputed at ingest so
    search never re-folds it."""
    if quantized:
        return T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("cell_id", T.LongType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
                T.StructField("code_norm", T.DoubleType()),
            ]
        )
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cell_id", T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
            T.StructField("vec_norm", T.DoubleType()),
        ]
    )


def read_index_store(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_epoch: int | None = None,
    quantized: bool = False,
) -> DataFrame:
    """The accumulated index, or an empty frame when it does not exist
    yet (see streaming._store.read_epoch_store for the shared
    contract)."""
    return read_epoch_store(
        spark, path, _index_schema(id_col, vec_col, quantized), exclude_epoch
    )


def bootstrap_sq8_stats(
    corpus: DataFrame, path: str, vec_col: str = "embedding", dim: int = 64
) -> None:
    """Train and freeze the SQ8 quantization stats (per-dim mins +
    scales) on a bootstrap corpus — the scalar-quantizer twin of the
    frozen-centroid bootstrap: like the centroids, stats must never
    move after vectors are encoded (re-deriving them per batch would
    re-key every stored code)."""
    sq8_stats(corpus, vec_col=vec_col, dim=dim).write.mode("overwrite").parquet(
        path
    )


@dataclass
class VectorIngest:
    """availableNow-drained streaming IVF-index builder with a
    cell-blocked near-duplicate gate."""

    spark: SparkSession
    centroids_path: str
    store_path: str
    checkpoint_path: str
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    dup_threshold: float = 0.995
    # Optional SQ8 code-at-rest mode: path to the frozen quantization
    # stats (see bootstrap_sq8_stats). When set, the store keeps int8
    # CODES instead of double vectors (4x smaller at rest) and both the
    # near-dup gate and search score the RAW new/query vector against
    # the midpoint reconstruction — the asymmetric-ADC semantics of
    # operators.similarity.ivf_sq8_topk, applied to ``dup_threshold``
    # too (documented, not hidden: a stored near-duplicate is detected
    # through its reconstruction). A store is either raw or quantized
    # for its whole life; every open runs an eager footer-schema layout
    # check (_check_layout) that raises on a raw store opened quantized
    # or vice versa, instead of silently scoring nothing / re-admitting
    # duplicates.
    sq8_stats_path: str | None = None

    def _stats(self) -> DataFrame:
        """The frozen 1-row (mins, scales) stats frame."""
        return self.spark.read.parquet(self.sq8_stats_path)

    def _centroid_digest(self) -> str:
        """Deterministic content digest of the frozen centroid frame —
        md5 over (cell_id, per-component IEEE hex) sorted by cell id, so
        a byte-identical rewrite at a different path digests the same.
        Centroids are a few KB (bounded by n_cells), so the collect is
        one tiny job; cached per instance so repeated opens pay once."""
        cached = getattr(self, "_centroid_digest_cache", None)
        if cached is not None:
            return cached
        import hashlib

        rows = sorted(
            (int(r[0]), tuple(float(x) for x in r[1]))
            for r in self._centroids().collect()
        )
        h = hashlib.md5()
        for cid, vec in rows:
            h.update(str(cid).encode())
            for x in vec:
                h.update(float(x).hex().encode())
        digest = h.hexdigest()
        self._centroid_digest_cache = digest
        return digest

    def _check_centroid_marker(self, create: bool) -> None:
        """The store's centroid-identity marker: a store opened with
        centroids other than those its vectors were assigned under
        would probe the wrong cells (wrong neighbors, silently
        re-admitted duplicates)."""
        check_store_marker(
            self.spark,
            self.store_path,
            "centroids_md5",
            self._centroid_digest,
            create,
            "vector index",
        )

    def _check_layout(self) -> None:
        """Eager layout check at every store open: raise when a raw
        store is opened quantized or vice versa. This must be a
        DRIVER-SIDE footer-schema check, not (only) a per-row guard:
        the gate's null-intolerant cosine filter lets Catalyst infer
        IsNotNull on the vector/codes column and push it to the scan,
        which would prune the mislayouted (all-null) rows BEFORE any
        in-plan raise_error evaluates — silently re-admitting every
        duplicate. Footer schemas cannot be optimized away. A store
        holding BOTH layouts' columns is corrupt either way.

        This check must be no STRICTER than the pinned-schema
        read_epoch_store it guards, or checkpoint replay wedges in a
        crash loop where the reader alone would recover: a store dir
        whose first epoch write crashed before any part file committed
        (only ``_temporary`` inside) infers no schema — that is 'store
        not created yet', not an error — and a legacy mixed
        flat/partitioned layout defeats tree-wide partition discovery
        but each epoch dir is internally consistent, so the column set
        is derived per epoch dir instead (the same fallback
        read_epoch_store uses for reading)."""
        try:
            cols = set(self.spark.read.parquet(self.store_path).columns)
        except Exception as ex:  # noqa: BLE001 — dispatched by error class
            msg = str(ex)
            if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg:
                return  # store not created yet — first epoch defines it
            if "CONFLICTING_PARTITION_COLUMN_NAMES" not in msg:
                raise
            cols = set()
            for _e, p in list_epoch_dirs(self.spark, self.store_path):
                try:
                    cols |= set(self.spark.read.parquet(p).columns)
                except Exception as ex2:  # noqa: BLE001
                    m2 = str(ex2)
                    if "UNABLE_TO_INFER_SCHEMA" not in m2 and (
                        "PATH_NOT_FOUND" not in m2
                    ):
                        raise
            if not cols:
                return
        quantized = self.sq8_stats_path is not None
        has_codes, has_raw = "codes" in cols, self.vec_col in cols
        if has_codes and has_raw:
            raise ValueError(
                f"vector index store {self.store_path} holds BOTH raw "
                "and SQ8 columns — mixed layout; a store is raw or "
                "quantized for its whole life"
            )
        if quantized and has_raw:
            raise ValueError(
                f"vector index store {self.store_path} was written in "
                "raw-vector layout; open it without sq8_stats_path "
                "(a store is raw or quantized for its whole life)"
            )
        if not quantized and has_codes:
            raise ValueError(
                f"vector index store {self.store_path} was written in "
                "SQ8 code layout; open it WITH sq8_stats_path "
                "(a store is raw or quantized for its whole life)"
            )

    def _index_members(self, exclude_epoch: int | None = None) -> DataFrame:
        """The accumulated index as (id, cell_id, _ivec, _inorm) — the
        one shape the gate and search both score against, regardless of
        the at-rest layout (raw vectors, or SQ8 codes reconstructed
        against the broadcast stats row). Opens start with the eager
        footer-schema layout check (see _check_layout); the in-plan
        null guards below are defense-in-depth for rows a footer check
        cannot see (e.g. a hand-edited store)."""
        self._check_layout()
        self._check_centroid_marker(create=False)
        if self.sq8_stats_path is None:
            # Symmetric layout guard: a QUANTIZED store read in raw mode
            # yields null vectors; the gate's NULL cosine comparison
            # would then filter to nothing and silently RE-ADMIT every
            # duplicate (and append raw rows into a quantized store).
            # Raise per row instead — admitted rows are never null, so
            # a null vector can only mean the wrong layout.
            guarded = F.when(
                F.col(self.vec_col).isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("vector index store "),
                        F.lit(self.store_path),
                        F.lit(": row "),
                        F.col(self.id_col).cast("string"),
                        F.lit(
                            " has no raw vector — this store was written "
                            "in SQ8 code layout; open it WITH "
                            "sq8_stats_path (a store is raw or quantized "
                            "for its whole life)"
                        ),
                    )
                ).cast("array<double>"),
            ).otherwise(F.col(self.vec_col))
            return read_index_store(
                self.spark,
                self.store_path,
                self.id_col,
                self.vec_col,
                exclude_epoch=exclude_epoch,
            ).select(
                self.id_col,
                "cell_id",
                guarded.alias("_ivec"),
                F.col("vec_norm").alias("_inorm"),
            )
        index = read_index_store(
            self.spark,
            self.store_path,
            self.id_col,
            self.vec_col,
            exclude_epoch=exclude_epoch,
            quantized=True,
        )
        guarded = F.when(
            F.col("codes").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("vector index store "),
                    F.lit(self.store_path),
                    F.lit(": row "),
                    F.col(self.id_col).cast("string"),
                    F.lit(
                        " has no SQ8 codes — this store was written in "
                        "raw-vector layout; open it without "
                        "sq8_stats_path (a store is raw or quantized "
                        "for its whole life)"
                    ),
                )
            ).cast("array<int>"),
        ).otherwise(F.col("codes"))
        return index.crossJoin(F.broadcast(self._stats())).select(
            self.id_col,
            "cell_id",
            sq8_reconstruct_col(guarded, F.col("mins"), F.col("scales")).alias(
                "_ivec"
            ),
            F.col("code_norm").alias("_inorm"),
        )

    def _centroids(self) -> DataFrame:
        """Frozen centroids as (cell_id-as-id, vector) — the shape
        ``ivf_assign`` expects for its broadcast side."""
        return (
            self.spark.read.parquet(self.centroids_path)
            .select(
                F.col("cell_id").alias(self.id_col),
                F.col("cell_vec").alias(self.vec_col),
            )
        )

    def _assign_batch(self, batch_df: DataFrame) -> DataFrame:
        """One batch assigned to its nearest frozen centroid —
        (id, cell_id, vector, norm), the shape every gate and write
        below consumes. Broadcast centroids, map-side pass."""
        return ivf_assign(
            batch_df.select(
                F.col(self.id_col), F.col(self.vec_col).cast("array<double>")
            ),
            self._centroids(),
            self.id_col,
            self.vec_col,
            n_probe=1,
        ).select(
            F.col("cand_id").alias(self.id_col),
            F.col("cell_id"),
            F.col("cand_vec").alias(self.vec_col),
            F.col("cand_norm").alias("vec_norm"),
        )

    def _near_dup_vs_index_ids(
        self, assigned: DataFrame, exclude_epoch: int | None = None
    ) -> DataFrame:
        """Ids of ``assigned`` rows with a stored same-cell near-dup at
        ``dup_threshold`` cosine (raw batch vector vs the stored form —
        reconstructed in SQ8 mode). Candidate generation is the cell
        equi-join, bounded by cell occupancy, never O(index). Also the
        semantic gate dedup_ingest composes (its sixth net scores a doc
        embedding against the admitted corpus through this exact
        rule)."""
        idx = self._index_members(exclude_epoch).select(
            "cell_id", "_ivec", "_inorm"
        )
        return (
            assigned.join(idx, "cell_id")
            .filter(
                dot(F.col(self.vec_col), F.col("_ivec"))
                / (F.col("vec_norm") * F.col("_inorm"))
                >= self.dup_threshold
            )
            .select(self.id_col)
            .distinct()
        )

    def _admit(
        self, batch_df: DataFrame, exclude_epoch: int | None = None
    ) -> DataFrame:
        """Assign, gate, and shape one batch for the store."""
        assigned = self._assign_batch(batch_df)
        # Gate 1: near-dup vs the existing index, same cell only.
        dup_vs_index = self._near_dup_vs_index_ids(assigned, exclude_epoch)
        fresh = assigned.join(dup_vs_index, self.id_col, "left_anti")
        # Gate 2: near-dup within the batch, same cell — admit the
        # LOCAL MINIMA of the similarity graph (drop any vector with a
        # lower-id near-dup, admitted or not). One-pass and
        # order-independent; see the module docstring for the
        # over-rejection trade vs sequential greedy admission.
        a = fresh.alias("a")
        b = fresh.alias("b")
        dup_in_batch = (
            a.join(
                b,
                (F.col("a.cell_id") == F.col("b.cell_id"))
                & (F.col(f"a.{self.id_col}") < F.col(f"b.{self.id_col}")),
            )
            .filter(
                dot(F.col(f"a.{self.vec_col}"), F.col(f"b.{self.vec_col}"))
                / (F.col("a.vec_norm") * F.col("b.vec_norm"))
                >= self.dup_threshold
            )
            .select(F.col(f"b.{self.id_col}").alias(self.id_col))
            .distinct()
        )
        return fresh.join(dup_in_batch, self.id_col, "left_anti")

    def compact(self, upto_epoch: int) -> int:
        """Fold every committed epoch dir ``<= upto_epoch`` into ONE —
        index rows are per-admitted-vector and epochs are disjoint, so
        the fold is concatenation and both the near-dup gate and search
        score the identical member set pre/post (pinned by
        tests/test_streaming.py). Closes the last unbounded-metadata
        path of the streaming family: without it a year of micro-batches
        is a year of ``epoch=N`` dirs listed on every search. The newest
        epoch is never foldable (it may be an uncommitted batch's replay
        target); crash-safe via the shared tmp/_SUCCESS/rename sequence,
        recovered by the read side of every batch and search."""
        self._check_layout()
        return _compact_epoch_store(
            self.spark,
            self.store_path,
            upto_epoch,
            lambda df: df,
            schema=_index_schema(
                self.id_col, self.vec_col, self.sq8_stats_path is not None
            ),
        )

    def _write_epoch(self, admitted: DataFrame, epoch_id: int) -> None:
        """Encode (SQ8 mode) and land one epoch's admitted rows — the
        store write shape, also reused by dedup_ingest's semantic gate
        (which gates by its OWN composed rule and writes ALL its
        survivors here). Stamps the centroid-identity marker: the
        writer knows which centroids keyed the cells, so only it may
        assert that identity for later opens."""
        self._check_centroid_marker(create=True)
        quantized = self.sq8_stats_path is not None
        if quantized:
            # Encode ONCE at ingest: the raw vector never reaches the
            # store. code_norm is the reconstructed vector's norm so
            # search scores without re-folding it per pair.
            #
            # Dimension guard BEFORE quantizing: zip_with pads the
            # shorter array with nulls, so a vector whose length
            # differs from the frozen stats would encode to codes with
            # null ELEMENTS — the whole-array null layout guard never
            # fires, the gate's cosine goes null (filtered out,
            # duplicates silently re-admitted) and search sims go null,
            # all without any error. Raise per row instead; this
            # evaluates on every admitted row because `codes` is part
            # of the written output (no filter can prune it).
            admitted = admitted.crossJoin(F.broadcast(self._stats())).withColumn(
                "codes",
                F.when(
                    F.size(F.col(self.vec_col)) == F.size(F.col("mins")),
                    sq8_codes_col(
                        F.col(self.vec_col), F.col("mins"), F.col("scales")
                    ),
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("SQ8 encode: vector dim "),
                            F.size(F.col(self.vec_col)).cast("string"),
                            F.lit(" != frozen stats dim "),
                            F.size(F.col("mins")).cast("string"),
                            F.lit(
                                " — this store quantizes against "
                                "bootstrap-frozen per-dim stats; fix the "
                                "source or re-bootstrap"
                            ),
                        )
                    )
                ),
            ).withColumn(
                "code_norm",
                norm(
                    sq8_reconstruct_col(
                        F.col("codes"), F.col("mins"), F.col("scales")
                    )
                ),
            )
        admitted.select(
            [
                f.name
                for f in _index_schema(self.id_col, self.vec_col, quantized).fields
            ]
        ).write.mode("overwrite").parquet(f"{self.store_path}/epoch={epoch_id}")

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # Promote any crashed compaction BEFORE the gate reads the
        # store — a store missing its folded history would silently
        # re-admit every compacted near-duplicate.
        recover_pending_compactions(self.spark, self.store_path)
        admitted = self._admit(batch_df, exclude_epoch=epoch_id)
        self._write_epoch(admitted, epoch_id)

    def start(
        self,
        source_glob: str,
        schema: T.StructType,
        max_files_per_trigger: int | None = None,
    ):
        return drain(
            parquet_stream(self.spark, schema, source_glob, max_files_per_trigger),
            self._process_batch,
            self.checkpoint_path,
        )

    def search(self, queries: DataFrame, k: int = 5, n_probe: int = 4) -> DataFrame:
        """Top-k over the accumulated index: probe ranking against the
        frozen broadcast centroids, equi-join on probed cell ids, exact
        cosine re-rank — the stored norms make scoring one fold per
        candidate pair."""
        recover_pending_compactions(self.spark, self.store_path)
        probes = ivf_assign(
            queries.select(
                F.col(self.id_col), F.col(self.vec_col).cast("array<double>")
            ),
            self._centroids(),
            self.id_col,
            self.vec_col,
            n_probe=n_probe,
        ).select(
            F.col("cand_id").alias("query_id"),
            F.col("cand_vec").alias("query_vec"),
            F.col("cand_norm").alias("query_norm"),
            "cell_id",
        )
        index = self._index_members()
        scored = (
            index.join(F.broadcast(probes), "cell_id")
            .filter(F.col(self.id_col) != F.col("query_id"))
            .withColumn(
                "cosine_sim",
                dot(F.col("query_vec"), F.col("_ivec"))
                / (F.col("query_norm") * F.col("_inorm")),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine_sim").desc(), F.col(self.id_col)
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", F.col(self.id_col).alias("cand_id"), "cosine_sim", "rank"
            )
        )
