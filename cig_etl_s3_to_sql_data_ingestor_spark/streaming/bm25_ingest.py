"""Streaming BM25 index maintenance: an availableNow-drained stream of
documents keeps a searchable inverted index current — the retrieval
twin of ``vector_ingest`` (which maintains the ANN index) built on the
batch merge proof of ``operators.text.bm25_merge_index``.

The 100 TB shape: each arriving micro-batch builds its OWN index parts
(``bm25_build_index`` — one batch-bounded shuffle, the batch never
joins the accumulated store) and appends them as the epoch's store
dirs. Because the merged index over disjoint document sets equals a
full rebuild bit-for-bit (postings are per-(doc, term) rows; df and
corpus stats are exactly-additive integer sums — pinned by
tests/test_retrieval_semdedup.py), the accumulated store needs no
read-modify-write: the global df derives from the stored postings at
search time (``groupBy(term).count`` — docs are disjoint across
epochs, so the count IS the sum of per-epoch dfs) and the corpus stats
are an integer SUM over the per-epoch stats sidecar (which also counts
zero-token documents that produce no postings rows).

Search is :func:`operators.text.bm25_search_indexed` over the
accumulated parts — the same shared scoring tail as the batch query
surface, so streamed-index results are bit-identical to a batch
rebuild over the same documents (pinned end-to-end by
tests/test_streaming.py).

Disjointness contract: batches must not re-deliver a doc_id — upstream
this is exactly what the file-source checkpoint (exactly-once file
tracking, see ``ingest_stream``) guarantees; content-level duplicates
are the dedup gates' job (``dedup_ingest``), run BEFORE indexing.
Idempotency (same unit rule as every gate here): the store write is an
epoch-addressed overwrite, so a crash between the store write and the
checkpoint commit replays to byte-identical epoch dirs — the
checkpoint and the store are one unit, wipe both or neither. Unlike
the gated stores, a replayed batch here has no read-dependence on the
store at all, so no ``exclude_epoch`` dance is needed.

At-rest layout (the batch index docstring's own mandate,
``operators/text.py`` bm25_build_index: "bucket/partition it by term
so a search's semi-join prunes at the scan"): every epoch dir is
partitioned by ``bucket = crc32(utf8(term)) % n_buckets``, and
``search()`` turns the (small, collected-anyway) query vocabulary into
a static partition filter — the postings SCAN is pruned to the query
terms' buckets, not just the post-scan shuffle. The Python and Spark
spellings of the bucket hash are pinned equal (including non-ASCII
terms) by tests/test_streaming.py; ``n_buckets`` is recorded in a
store marker on first write and cross-checked on every open, so a
reader configured with a different modulus fails loudly instead of
silently pruning the wrong buckets.

Unbounded growth is handled by :meth:`Bm25IndexIngest.compact`: fold
all committed epoch dirs ``<= upto_epoch`` into one (postings FIRST,
then stats — that order is load-bearing: a crash between the two
leaves compacted postings tagged with an epoch the still-per-epoch
stats witness set contains, so searches stay exact; the reverse order
would hide every folded posting behind a not-yet-existing witness).
Both folds use the shared crash-safe ``_store`` compaction, and every
read path (search AND batch) promotes crashed compactions first.
Without compaction a year of daily batches is 365+ corpus-sized
postings dirs listed and scanned per search; after it, one bucketed
base dir plus the uncompacted tail.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import dedup as D
from ..operators.text import bm25_build_index, bm25_search_indexed
from ._store import (
    _compact_epoch_store,
    check_store_marker,
    drain,
    list_epoch_dirs,
    parquet_stream,
    read_epoch_store,
    recover_pending_compactions,
)


# bm25_build_index canonicalizes the id column to "doc_id" whatever the
# caller's id_col is, so the store schema is fixed. ``bucket`` is the
# term-local partition column of the at-rest layout (a dir level, not a
# data column — pinning it here makes the empty-store frame carry it
# too, so search's partition filter is schema-stable).
_POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("dl", T.LongType()),
        T.StructField("bucket", T.LongType()),
    ]
)


def term_bucket_col(term: F.Column, n_buckets: int) -> F.Column:
    """The at-rest layout's bucket hash, Spark spelling:
    ``crc32(utf8(term)) % n_buckets``. Must stay bit-equal to
    :func:`term_bucket` (the Python spelling search-side pruning uses)
    — pinned by tests/test_streaming.py on adversarial unicode."""
    return F.pmod(F.crc32(term.cast("binary")), F.lit(n_buckets))


def term_bucket(term: str, n_buckets: int) -> int:
    """The bucket hash, Python spelling (see :func:`term_bucket_col`)."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


_STATS_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType()),
        T.StructField("total_len", T.LongType()),
    ]
)


_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


@dataclass
class Bm25IndexIngest:
    """availableNow-drained streaming inverted-index builder."""

    spark: SparkSession
    store_path: str
    checkpoint_path: str
    id_col: str = "doc_id"
    text_col: str = "text"
    # Term-bucket fan-out of the at-rest layout. Fixed for the life of a
    # store (recorded in a marker on first write, cross-checked on every
    # open): a mismatched reader would prune the WRONG buckets —
    # silently missing results — so mismatch is a loud ValueError.
    n_buckets: int = 16

    def _require_integral_id(self, schema: T.StructType) -> None:
        # The store schema pins doc_id as LongType and the writer casts
        # to it; on a non-integral id_col (string doc ids are common)
        # cast('long') yields NULL, every stored posting gets doc_id
        # NULL, and search's groupBy(query_id, doc_id) then collapses
        # all documents into one garbage row per query — silent
        # corruption. Fail loudly instead (the pq_search_packed rule).
        dt = schema[self.id_col].dataType
        if not isinstance(dt, _INTEGRAL_TYPES):
            raise TypeError(
                f"Bm25IndexIngest requires an integral id_col; "
                f"{self.id_col!r} is {dt.simpleString()} — map string "
                "doc ids to a stable integer (e.g. a surrogate key or "
                "xxhash64 with collision audit) upstream"
            )

    def _check_n_buckets(self, create: bool) -> None:
        check_store_marker(
            self.spark,
            f"{self.store_path}/postings",
            "n_buckets",
            self.n_buckets,
            create,
            "bm25",
        )

    def _recover(self) -> None:
        recover_pending_compactions(
            self.spark, f"{self.store_path}/postings", f"{self.store_path}/stats"
        )

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._require_integral_id(batch_df.schema)
        self._check_n_buckets(create=True)
        # A compaction that crashed in its delete->rename window leaves
        # history only in the tmp dir; promote it before touching the store.
        self._recover()
        # The build persists its tokenized batch (both writes read it);
        # release it, and only it, when the epoch ends.
        with D.released_on_exit():
            # Replay of an ALREADY-COMMITTED epoch (crash after both
            # writes but before the checkpoint commit): un-commit first
            # — delete the stats witness BEFORE the postings overwrite
            # tears the epoch dir down, or a concurrent/interrupted
            # search would see the witness and score missing postings.
            from ..fsutil import hadoop_fs

            witness = f"{self.store_path}/stats/epoch={epoch_id}"
            fs, jvm = hadoop_fs(self.spark, witness)
            wpath = jvm.org.apache.hadoop.fs.Path(witness)
            if fs.exists(wpath) and not fs.delete(wpath, True):
                raise IOError(f"could not un-commit epoch witness {witness}")
            postings, _dfreq, stats = bm25_build_index(
                batch_df, self.id_col, self.text_col
            )
            # df is NOT stored: it derives exactly from the accumulated
            # postings at read time (disjoint docs), so there is no
            # second store to keep transactionally in step with the
            # first. The stats sidecar IS stored — zero-token docs leave
            # no postings row but must still count toward N/total_len —
            # and it is written LAST as the epoch's COMMIT WITNESS:
            # readers only see epochs whose stats row exists, so a crash
            # between the two writes leaves a torn epoch INVISIBLE (not
            # silently half-scored) until the checkpoint replays it.
            # The id is cast long to honor the pinned store schema for
            # any numeric id_col (int32 ids would otherwise desync the
            # reader's LongType pin). The epoch dir is partitioned by
            # the term bucket — search prunes at the SCAN, on tail
            # epochs as much as the compacted base — and repartitioned
            # on it first so each bucket lands in one task's file, not
            # sprayed across every shuffle partition (n_tasks x
            # n_buckets small files per epoch otherwise).
            postings.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                "term",
                "tf",
                "dl",
                term_bucket_col(F.col("term"), self.n_buckets).alias(
                    "bucket"
                ),
            ).repartition(F.col("bucket")).write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(
                f"{self.store_path}/postings/epoch={epoch_id}"
            )
            stats.write.mode("overwrite").parquet(
                f"{self.store_path}/stats/epoch={epoch_id}"
            )

    def start(
        self,
        source_glob: str,
        schema: T.StructType,
        max_files_per_trigger: int | None = None,
    ):
        self._require_integral_id(schema)  # fail at start(), not mid-drain
        return drain(
            parquet_stream(self.spark, schema, source_glob, max_files_per_trigger),
            self._process_batch,
            self.checkpoint_path,
        )

    def _committed(self) -> tuple[DataFrame, DataFrame]:
        """Accumulated (postings, 1-row corpus stats) restricted to
        COMMITTED epochs — those whose stats sidecar (written last, the
        commit witness) exists. A torn epoch (crash between the two
        writes) is invisible until its replay completes both halves.
        Postings keep their ``bucket`` partition column (search's
        pruning handle; :meth:`read_index` drops it)."""
        self._check_n_buckets(create=False)
        # Read-path recovery: a batch or search that runs between a
        # crashed compaction and the next compact call must not see a
        # store missing folded history.
        self._recover()
        postings = read_epoch_store(
            self.spark,
            f"{self.store_path}/postings",
            _POSTINGS_SCHEMA,
            keep_epoch=True,
        )
        epoch_stats = read_epoch_store(
            self.spark, f"{self.store_path}/stats", _STATS_SCHEMA, keep_epoch=True
        )
        committed = epoch_stats.select("epoch").distinct()
        postings = postings.join(F.broadcast(committed), "epoch").drop("epoch")
        stats = epoch_stats.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_len").cast("long").alias("total_len"),
        )
        return postings, stats

    def read_index(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """The accumulated (postings, dfreq, stats) — the exact shape
        ``bm25_build_index`` returns for the union corpus. The
        full-vocabulary dfreq here is the INDEX shape; interactive
        searches should use :meth:`search`, which derives df from the
        query-restricted postings instead of shuffling the whole
        store's vocabulary."""
        postings, stats = self._committed()
        postings = postings.drop("bucket")
        dfreq = postings.groupBy("term").agg(
            F.count("*").cast("long").alias("df")
        )
        return postings, dfreq, stats

    def search(
        self, terms: DataFrame, k: int = 10, max_pruned_terms: int = 10_000
    ) -> DataFrame:
        """BM25 top-k over the accumulated index — bit-identical to a
        batch rebuild over the same documents. Two prunings, scan-first:
        the query vocabulary's term BUCKETS become a static partition
        filter (the at-rest layout means non-matching buckets are never
        read — pruning the SCAN), then the broadcast term semi-join
        restricts the survivors BEFORE the df aggregate, so a search's
        shuffle is bounded by query-term hits, never the accumulated
        vocabulary (df restricted to the searched terms equals the
        full-vocabulary df for those terms — disjoint docs; same
        equivalence the batch paths pin).

        The bucket filter needs the terms driver-side; query frames are
        tiny by contract (they are broadcast anyway), but a degenerate
        caller passing a corpus-sized frame must not stall the driver —
        past ``max_pruned_terms`` distinct terms the bucket pruning is
        skipped (a full scan is correct, just unpruned)."""
        postings, stats = self._committed()
        tset = terms.select("term").distinct()
        trows = tset.limit(max_pruned_terms + 1).collect()
        if len(trows) <= max_pruned_terms:
            buckets = sorted(
                {
                    term_bucket(r[0], self.n_buckets)
                    for r in trows
                    if r[0] is not None  # a NULL term matches nothing
                }
            )
            # NULL-bucket rows are epochs written by a pre-bucket
            # layout (no bucket= partition dirs; the pinned schema
            # reads their bucket as NULL). Pruning is an OPTIMIZATION —
            # correctness requires scanning them, so they always pass
            # (isin() alone would drop every legacy posting and return
            # silently-empty results). Compact() folds legacy epochs
            # into the bucketed layout, after which nothing is NULL.
            postings = postings.filter(
                F.col("bucket").isin(buckets) | F.col("bucket").isNull()
            )
        matched = postings.drop("bucket").join(F.broadcast(tset), "term")
        dfreq = matched.groupBy("term").agg(
            F.count("*").cast("long").alias("df")
        )
        return bm25_search_indexed(matched, dfreq, stats, terms, k=k)

    def compact(self, upto_epoch: int) -> int:
        """Fold every committed epoch dir ``<= upto_epoch`` of BOTH
        stores into one dir each — search results are bit-identical
        (postings rows and stats sums are epoch-invariant; pinned by
        tests/test_streaming.py) while the per-search dir listing and
        file count stop growing with batch count. Returns the number of
        postings epoch dirs folded (0 if nothing to do).

        Order is load-bearing (see the module docstring): postings
        fold FIRST — a crash between the two folds leaves compacted
        postings tagged ``epoch=upto`` while the stats witness set
        still contains every folded epoch individually, which the
        committed-join reads exactly; folding stats first would instead
        hide all folded postings behind a witness that does not exist
        yet. The newest epoch is never foldable (it may be an
        uncommitted batch's replay target — enforced by the shared
        helper), and a torn epoch is by construction the newest, so a
        torn epoch's postings can never be folded into the committed
        base. Belt-and-braces, that invariant is still checked here."""
        # A compaction that crashed in its delete->rename window leaves
        # that substore's folded epochs invisible until recovery runs;
        # computing the torn-epoch check against the un-recovered
        # listing would mis-diagnose those epochs as torn and wedge
        # compact() with a spurious "replay them first". Recover FIRST
        # (the same call the read path makes), then judge.
        self._recover()

        posted, witnessed = (
            {e for e, _ in list_epoch_dirs(self.spark, f"{self.store_path}/{sub}")}
            for sub in ("postings", "stats")
        )
        torn = {e for e in posted - witnessed if e <= upto_epoch}
        if torn:
            raise ValueError(
                f"postings epochs {sorted(torn)} <= upto_epoch="
                f"{upto_epoch} have no stats witness (torn epochs) — "
                "folding them would surface their documents without "
                "their corpus-stats contribution; replay them first"
            )
        # The crash-safety argument (postings fold first, stats witness
        # set still covers every folded epoch) holds ONLY when the fold
        # target dir epoch=<upto_epoch> is itself a witnessed epoch: a
        # crash after folding postings into an UN-witnessed target
        # would hide every folded document behind a witness that never
        # existed. Folding to an arbitrary id is never needed — callers
        # fold up to an epoch they can list — so reject it.
        if any(e <= upto_epoch for e in posted) and upto_epoch not in witnessed:
            raise ValueError(
                f"upto_epoch={upto_epoch} is not a committed epoch "
                f"(stats witnesses: {sorted(witnessed)}) — a "
                "crash between the two folds would strand the folded "
                "postings without a witness; pass one of the committed "
                "epoch ids"
            )

        def fold_postings(df: DataFrame) -> DataFrame:
            # Postings rows are per-(doc, term) and epochs are
            # disjoint: the fold is concatenation. Repartition on the
            # (already materialized) bucket so the partitioned rewrite
            # emits ~one file per bucket, not tasks x buckets. Legacy
            # pre-bucket epochs read bucket as NULL (no bucket= dirs);
            # the fold MIGRATES them by recomputing the hash, so one
            # compaction upgrades a mixed store to the fully-bucketed
            # layout and search pruning applies everywhere after.
            return df.select(
                "doc_id",
                "term",
                "tf",
                "dl",
                F.coalesce(
                    F.col("bucket"),
                    term_bucket_col(F.col("term"), self.n_buckets),
                ).alias("bucket"),
            ).repartition(F.col("bucket"))

        def fold_stats(df: DataFrame) -> DataFrame:
            return df.select(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("total_len").cast("long").alias("total_len"),
            )

        n = _compact_epoch_store(
            self.spark,
            f"{self.store_path}/postings",
            upto_epoch,
            fold_postings,
            partition_by=["bucket"],
            # Pinned: lets the fold read a store that still carries
            # flat pre-bucket epochs (their bucket reads NULL and the
            # fold migrates it) without tripping tree-wide partition
            # discovery on the mixed layout.
            schema=_POSTINGS_SCHEMA,
        )
        _compact_epoch_store(
            self.spark, f"{self.store_path}/stats", upto_epoch, fold_stats
        )
        return n
