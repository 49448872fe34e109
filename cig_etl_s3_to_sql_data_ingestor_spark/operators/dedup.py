"""Deduplication operators for large-scale (training-data) pipelines.

All operators are expressed with native Spark SQL functions (codegen'd,
Arrow-free) and follow the same scale discipline:

- **exact**: hash-groupBy on a content digest — one shuffle keyed by the
  digest; group sizes are bounded by duplicate multiplicity, and AQE's
  skew handling covers pathological hot digests.
- **minhash LSH**: per-row signature (map-only) -> explode to (band,
  bucket) -> self-join inside buckets. The shuffle is keyed by band
  bucket, so the candidate join never materializes the O(n^2) pair space;
  at 100 TB the band width / row count trade-off is tuned via
  ``num_hashes``/``band_size``.
- **simhash**: token-explode + 16 partial-aggregated bit sums (map-side
  combine shrinks the shuffle to one row per doc), then banded
  candidate join like minhash.
- **n-gram Jaccard**: inverted-index join on shingles (explode distinct
  shingles; pairs scored by shared-shingle counts) — exact, for modest
  corpora or as the verify stage after LSH.

Hashes are md5-based so a single-threaded SQL oracle (DuckDB) can
reproduce results bit-for-bit; xxhash64 would be ~2x faster but is not
portable across engines.
"""

from __future__ import annotations

import contextlib

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..partitioning import fan_out

# Persisted frames are held strongly: the CacheManager pins their
# partitions whether or not Python still holds the handle, so the handle
# is what lets anyone release them. Local checkpoints are held by RDD id
# only: SparkContext tracks persisted RDDs weakly, so a checkpoint no
# frame reads any more is freed by garbage collection, and holding the
# frame here would keep every checkpoint of a long session alive.
_PERSISTED: list[DataFrame | int] = []

_LONG_MAX = (1 << 63) - 1


def cosine_safe_norm_bound(threshold_num: int, threshold_den: int) -> int:
    """Largest per-doc squared norm the pure-integer cosine keep rule
    ``dot^2 * den^2 >= num^2 * na2 * nb2`` can evaluate without 64-bit
    overflow. With both operands' docs bounded by B = isqrt(LONG_MAX /
    max(num^2, den^2)): Cauchy-Schwarz gives dot <= sqrt(na2 * nb2)
    <= B, so dot^2 * den^2 <= B^2 * den^2 <= LONG_MAX, and
    num^2 * na2 * nb2 <= num^2 * B^2 <= LONG_MAX. Docs past the bound
    (>= ~24.6k repeated copies of ONE token at the default 4/5
    threshold — far outside the corpus discipline winnowing's 8192-char
    chunk mandate enforces, but reachable by one adversarial blob)
    cannot be certified by the integer rule at all: under ANSI the
    whole query would abort on them, and under a non-ANSI session the
    products would silently wrap and corrupt the pair set. The cosine
    operators therefore EXCLUDE such docs from verification (they
    surface as no-pair / 'unique'), with this bound mirrored verbatim
    in the SQL oracles."""
    import math

    return math.isqrt(
        _LONG_MAX // max(threshold_num * threshold_num, threshold_den * threshold_den)
    )


def _persist(df: DataFrame) -> DataFrame:
    """persist() + registration for deferred release (``unpersist_all``)."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def _local_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint() + registration, by RDD id, for deferred release:
    otherwise the checkpoint's blocks stay until the driver's garbage
    collector happens to run."""
    df = df.localCheckpoint()
    _PERSISTED.append(df._jdf.logicalPlan().rdd().id())
    return df


def _release(entry: DataFrame | int) -> None:
    # blocking=True: the default async release races any caller (or
    # test) that counts persistent RDDs right afterwards.
    try:
        if isinstance(entry, int):
            sc = SparkContext._active_spark_context
            rdd = sc._jsc.getPersistentRDDs().get(entry) if sc else None
            if rdd is not None:  # None: already freed by garbage collection
                rdd.unpersist(True)
        else:
            entry.unpersist(blocking=True)
    except Exception:
        pass


def unpersist_all() -> None:
    """Release every intermediate frame persisted by the dedup operators.

    The operators persist intermediates (signatures, inverted indexes)
    that feed multiple plan branches of the frame they RETURN — they
    cannot unpersist before the caller materializes that frame, so a
    long-lived session must call this after consuming results.
    ``spark.catalog.clearCache()`` is no substitute: it drops persisted
    frames but not local checkpoints."""
    while _PERSISTED:
        _release(_PERSISTED.pop())


@contextlib.contextmanager
def released_on_exit():
    """Release, when the block exits, the frames the dedup operators
    persist inside it — and only those. Frames registered before the
    block stay cached: other callers in the session may still hold
    them, which is why a scoped caller must not use ``unpersist_all``."""
    mark = len(_PERSISTED)
    try:
        yield
    finally:
        added = _PERSISTED[mark:]
        del _PERSISTED[mark:]
        for df in reversed(added):
            _release(df)


def tokens_col(text_col: str = "text"):
    """Lowercased whitespace tokens (duplicates preserved)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def distinct_tokens_col(text_col: str = "text"):
    return F.array_distinct(tokens_col(text_col))


def token_kgrams_col(toks, n, k: int):
    """Array of space-joined token ``k``-grams (position i holds tokens
    i..i+k-1), built by a doubling chain of ``zip_with`` composes:
    the (a+b)-gram array is the a-gram array zipped with the b-gram array
    shifted by a. Per element that costs O(log k) string concats instead
    of the naive slice-and-join's O(k) array allocations — measured 6x
    faster at sf0.1, bit-identical output. Empty when ``n < k``.

    ``toks``/``n`` are the token-array and token-count COLUMNS (pass
    materialized attributes, not rebuilt expressions — lambdas get no
    common-subexpression elimination)."""

    def compose(a_g, b_g, a: int, b: int):
        out_len = F.greatest(n - (a + b) + 1, F.lit(0))
        return F.zip_with(
            F.slice(a_g, 1, out_len),
            F.slice(b_g, a + 1, out_len),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )

    grams = {1: toks}
    m = 1
    while m < k:
        grams[2 * m] = compose(grams[m], grams[m], m, m)
        m *= 2
    parts, rem, p = [], k, m
    while rem:
        if p <= rem:
            parts.append(p)
            rem -= p
        p //= 2
    g, size = grams[parts[0]], parts[0]
    for p in parts[1:]:
        g = compose(g, grams[p], size, p)
        size += p
    return g


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content digest; keeper = min id per group."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _min_hash_expr(shingles, seed: int):
    """min over shingles of md5(seed:shingle) — the lexicographic min of a
    uniformly distributed hex digest is a valid minhash."""
    prefix = f"{seed}:"
    # NB: the lambda must take exactly one arg — F.transform treats a
    # two-arg lambda as (element, index).
    return F.array_min(F.transform(shingles, lambda t: F.md5(F.concat(F.lit(prefix), t))))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc minhash signature over the distinct word n-gram shingle set.

    Shingles (not unigram token sets) keep the signature discriminative on
    small-vocabulary corpora. Everything here is a projection — no shuffle.
    The shingle array is materialized in a first projection so the k
    signature expressions share it instead of rebuilding it k times.
    """
    base = fan_out(df).select(
        F.col(id_col), ngram_shingles_col(text_col, shingle_n).alias("shingles")
    )
    sig_cols = [
        _min_hash_expr(F.col("shingles"), j).alias(f"sig_{j}") for j in range(num_hashes)
    ]
    return base.select(F.col(id_col), F.col("shingles"), *sig_cols)


def minhash_band_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(id, band_idx, band_hash) — one row per LSH band per doc.

    This is the persistable signature-store shape for incremental dedup:
    keep the corpus's band buckets materialized and equi-join each new
    batch's buckets against them instead of re-hashing the corpus."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * band_size + k}") for k in range(band_size)]
                )
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.posexplode(bands).alias("band_idx", "band_hash"))


def minhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs."""
    banded = minhash_band_buckets(sigs, id_col, num_hashes, band_size)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def shingle_digests_col(shingles):
    """12-hex-char md5 digests of each shingle: set cardinalities (and so
    Jaccard) are preserved up to negligible collision odds, the text is
    not reconstructable, and the array is ~3x smaller than raw word
    3-grams — the representation a persisted signature store should
    hold."""
    return F.transform(shingles, lambda s: F.substring(F.md5(s), 1, 12))


def verify_jaccard(
    pairs: DataFrame,
    doc_shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    doc_shingles_b: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs (the cheap verify stage).

    ``doc_shingles``: (id, shingles array) — joined twice; candidate count
    is << n^2 so these joins are small even at scale. Pass
    ``doc_shingles_b`` when the pair sides come from different frames
    (e.g. new-batch ids in ``id_a`` vs corpus ids in ``id_b``)."""
    ta = doc_shingles.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("shingles_a")
    )
    tb = (doc_shingles_b if doc_shingles_b is not None else doc_shingles).select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("shingles_b")
    )
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size("shingles_a") + F.size("shingles_b") - inter
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.4,
    shingle_n: int = 3,
) -> DataFrame:
    """shingle -> minhash -> band -> bucket-join -> exact-Jaccard verify.

    The signature frame is persisted: it feeds four plan branches (both
    sides of the banded self-join, both sides of the verify join), and
    without a persist each branch would recompute the full shingle +
    k-hash pipeline from the scan."""
    sigs = _persist(minhash_signatures(df, id_col, text_col, num_hashes, shingle_n))
    pairs = minhash_candidate_pairs(sigs, id_col, num_hashes, band_size)
    sh = sigs.select(id_col, "shingles")
    return verify_jaccard(pairs, sh, id_col, threshold)


def incremental_dedup_status(
    corpus: DataFrame | None,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.4,
    shingle_n: int = 3,
    corpus_sigs: DataFrame | None = None,
    corpus_hashes: DataFrame | None = None,
    corpus_shingles_hashed: bool = False,
) -> DataFrame:
    """Classify each new-batch doc against an already-accepted corpus.

    The crawl-increment pattern (ref: the reference re-deduplicates whole
    snapshots; at 100 TB only the delta is affordable): the corpus's
    minhash signatures are a persisted artifact of prior runs — pass them
    as ``corpus_sigs`` (shape of :func:`minhash_signatures`) and only the
    batch is shingled and hashed per increment. Returns one row per batch
    doc: ``(id, verdict)`` with verdict in ``exact_dup`` (byte-identical
    text exists in the corpus), ``near_dup_corpus`` (Jaccard >= threshold
    against a corpus doc via LSH candidates), ``near_dup_batch`` (verified
    pair with a smaller-id batch doc — min-id-wins, a deterministic single
    pass, not transitive closure; use :func:`connected_components` on the
    pairs when cluster-accurate pruning matters), else ``unique``.
    Precedence: exact > near-corpus > near-batch.

    Scale shape: one digest semi-join + two banded equi-joins + verify
    joins on candidate pairs — never O(|corpus| x |batch|).

    ``corpus`` may be None when BOTH ``corpus_sigs`` and ``corpus_hashes``
    (a ``content_hash`` column of md5(text) digests) are supplied — the
    text-free store shape a streaming ingest gate persists. With
    ``corpus_shingles_hashed`` the supplied ``corpus_sigs.shingles`` hold
    :func:`shingle_digests_col` values (the store never keeps raw text or
    raw shingles); the batch side is hashed on the fly to match, and
    Jaccard over digest sets equals Jaccard over shingle sets.
    """
    if corpus is None and (corpus_sigs is None or corpus_hashes is None):
        raise ValueError(
            "incremental_dedup_status: pass corpus, or both corpus_sigs "
            "and corpus_hashes"
        )
    batch_sigs = _persist(
        minhash_signatures(batch, id_col, text_col, num_hashes, shingle_n)
    )
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(corpus, id_col, text_col, num_hashes, shingle_n)
    corpus_sigs = _persist(corpus_sigs)

    if corpus_hashes is None:
        corpus_hashes = corpus.select(F.md5(text_col).alias("content_hash")).distinct()
    else:
        corpus_hashes = corpus_hashes.select("content_hash").distinct()
    exact_ids = (
        batch.select(F.col(id_col), F.md5(text_col).alias("content_hash"))
        .join(corpus_hashes, "content_hash", "left_semi")
        .select(id_col)
        .distinct()
    )

    cross_batch_sh = batch_sh = batch_sigs.select(id_col, "shingles")
    corpus_sh = corpus_sigs.select(id_col, "shingles")
    if corpus_shingles_hashed:
        cross_batch_sh = batch_sigs.select(
            id_col, shingle_digests_col(F.col("shingles")).alias("shingles")
        )

    bb = minhash_band_buckets(batch_sigs, id_col, num_hashes, band_size).alias("b")
    cb = minhash_band_buckets(corpus_sigs, id_col, num_hashes, band_size).alias("c")
    cross_cand = (
        bb.join(cb, ["band_idx", "band_hash"])
        .select(
            F.col(f"b.{id_col}").alias("id_a"), F.col(f"c.{id_col}").alias("id_b")
        )
        .distinct()
    )
    near_corpus_ids = (
        verify_jaccard(
            cross_cand, cross_batch_sh, id_col, threshold, doc_shingles_b=corpus_sh
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )

    batch_pairs = minhash_candidate_pairs(batch_sigs, id_col, num_hashes, band_size)
    near_batch_ids = (
        verify_jaccard(batch_pairs, batch_sh, id_col, threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )

    return (
        batch.select(id_col)
        .join(exact_ids.withColumn("_exact", F.lit(True)), id_col, "left")
        .join(near_corpus_ids.withColumn("_near_c", F.lit(True)), id_col, "left")
        .join(near_batch_ids.withColumn("_near_b", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_exact"), "exact_dup")
            .when(F.col("_near_c"), "near_dup_corpus")
            .when(F.col("_near_b"), "near_dup_batch")
            .otherwise("unique")
            .alias("verdict"),
        )
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """64-bit simhash over the distinct shingle set: bit p = sign of the
    sum over shingles of (+1 if hex digit p of the shingle's digest >= '8'
    else -1). Two salted md5s supply 64 hex digits per shingle.

    Explode + partial-aggregate: the map side pre-combines, so the shuffle
    carries a handful of longs per doc regardless of corpus size. The 64
    per-bit ±1 sums are BIT-PACKED into ``bits/4`` aggregates — each long
    packs 4 one-counters of 16-bit width — which quarters the generated
    aggregate-update code (the r01 bench showed first-run latency was
    dominated by cold codegen of 64 separate sums). The per-bit sign is
    reconstructed exactly: sign(Σ±1) = (2*ones_p >= n), identical to the
    unpacked formulation bit for bit, so the DuckDB oracle is unchanged.
    The 16-bit counter bounds a document at 65535 distinct shingles —
    far above any real document (shingle count <= token count); chunk
    upstream if that invariant can break. Bit width matters for the
    downstream banded join — 16-bit bands give ~65k buckets, keeping
    candidate generation sub-quadratic."""
    sh = fan_out(df).select(
        F.col(id_col), F.explode(ngram_shingles_col(text_col, shingle_n)).alias("shingle")
    ).withColumn(
        "h",
        F.concat(
            F.md5(F.concat(F.lit("a:"), F.col("shingle"))),
            F.md5(F.concat(F.lit("b:"), F.col("shingle"))),
        ),
    )
    fields_per_long = 4
    counter_width = 16  # bits per packed one-counter

    def _packed_row_expr(group: int):
        # Σ_k bit_{4g+k} << (16k): a 0/1 per field, summed across rows.
        terms = [
            F.when(
                F.substring("h", group * fields_per_long + k + 1, 1) >= "8",
                F.lit(1 << (counter_width * k)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for k in range(fields_per_long)
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc

    n_groups = bits // fields_per_long
    sums = sh.groupBy(id_col).agg(
        F.count("*").alias("n"),
        *[F.sum(_packed_row_expr(g)).alias(f"g{g}") for g in range(n_groups)],
    )

    def _bit_char(p: int):
        g, k = p // fields_per_long, p % fields_per_long
        ones = F.shiftright(F.col(f"g{g}"), counter_width * k).bitwiseAND(
            F.lit((1 << counter_width) - 1)
        )
        # sign of Σ±1 = 2*ones - n; ties ('>= 0') map to '1' as before.
        return F.when(ones * 2 >= F.col("n"), "1").otherwise("0")

    sig = F.concat(*[_bit_char(p) for p in range(bits)])
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bits: int = 64,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Banded simhash join: hamming <= n_bands - 1 guarantees a shared band
    (pigeonhole), so the candidate join is keyed by (band_idx, band_bits).

    The signature frame is persisted (it feeds both sides of the self-join
    and the sig pipeline above it is expensive), and hamming distance is
    computed as ``bit_count(xor)`` over the bit string packed into two
    32-bit ints — the same integer value as comparing the 64 characters
    one by one, at a fraction of the expression/codegen size. The packing
    stays within 2^32, so the casts are exact under ANSI mode too."""
    width = bits // n_bands
    bands = F.array(
        *[F.substring("simhash", b * width + 1, width) for b in range(n_bands)]
    )
    sigs = _persist(sigs)
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(bands).alias("band_idx", "band_bits"),
    )
    a, b = banded.alias("a"), banded.alias("b")

    def _packed(side: str, lo: int, w: int):
        return F.conv(F.substring(F.col(f"{side}.simhash"), lo, w), 2, 10).cast("long")

    half = bits // 2
    hamming = F.bit_count(
        _packed("a", 1, half).bitwiseXOR(_packed("b", 1, half))
    ) + F.bit_count(
        _packed("a", half + 1, half).bitwiseXOR(_packed("b", half + 1, half))
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        # Filter BEFORE the distinct: hamming is a pure function of the
        # pair, so the result is identical but the distinct's shuffle only
        # carries surviving pairs.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (doc_id, cluster_id)
    with cluster_id = min doc id in the component.

    Min-label propagation: every vertex repeatedly adopts the smallest
    label among itself and its neighbors until fixpoint — O(component
    diameter) distributed rounds, each one join + one aggregate keyed by
    vertex (LSH dedup components are shallow, so a handful of rounds).
    ``localCheckpoint`` cuts lineage each round so plans don't grow
    exponentially; the checkpoints are registered for release like the
    other operators' persisted frames. Only vertices that appear in a
    pair are returned (singletons aren't duplicates of anything).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    edges = _local_checkpoint(edges)
    labels = edges.select(F.col("src").alias("vertex")).distinct().select(
        "vertex", F.col("vertex").alias("label")
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.vertex)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
        )
        # The changed flag rides along through the checkpoint so
        # convergence detection needs no second join over the labels.
        new_labels = _local_checkpoint(
            labels.join(neighbor_min, labels.vertex == neighbor_min.src, "left")
            .select(
                "vertex",
                new_label.alias("label"),
                (new_label != F.col("label")).alias("_changed"),
            )
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        # A silently split component would corrupt downstream keep/drop
        # decisions — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (component diameter exceeds the budget); raise "
            "max_iterations"
        )
    return labels.select(F.col("vertex").alias("doc_id"), F.col("label").alias("cluster_id"))


def ngram_shingles_col(text_col: str = "text", n: int = 3):
    """Word n-gram shingles as strings (distinct).

    Built with the :func:`token_kgrams_col` doubling chain (6x the naive
    slice-and-join). Documents shorter than ``n`` tokens keep their
    single partial shingle (all tokens joined) — the original semantics
    every oracle mirrors."""
    toks = tokens_col(text_col)
    size = F.size(toks)
    return F.array_distinct(
        F.when(size >= n, token_kgrams_col(toks, size, n)).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def key_item_sets_grouped(
    sets: DataFrame, key_col: str, item_col: str = "shingle"
) -> DataFrame:
    """ONE-shuffle inverted index for BOUNDED key cardinality: group the
    (key, item) membership rows by item and collect the DISTINCT key set
    per item (``collect_set`` dedups, so the input needs no prior
    ``.distinct()`` — its shuffle is folded into this one). Returns the
    ``(item_col, keys: array)`` frame from which
    :func:`jaccard_pairs_from_grouped` derives set sizes, the stop-item
    cap, AND the pair intersections without any further scan of the raw
    membership rows.

    Safe ONLY when the number of distinct keys is bounded (e.g. corpus
    SOURCES — thousands at crawl scale): the largest per-item set is at
    most that bound, a few KB per aggregation buffer. For UNBOUNDED keys
    (doc ids) a universal item would collect the whole corpus into one
    buffer — use :func:`jaccard_overlap_pairs`'s join strategy there.

    NOT persisted: :func:`jaccard_pairs_from_grouped` consumes it
    through a single downstream shuffle, so Spark's exchange reuse
    already computes this aggregation once per materialization — a
    cache would only add a write barrier (and at 100 TB, eviction risk
    turning the second branch into a full recompute)."""
    return sets.groupBy(item_col).agg(F.collect_set(key_col).alias("keys"))


def jaccard_pairs_from_grouped(
    grouped: DataFrame, max_item_df: int | None = None
) -> DataFrame:
    """Pairwise Jaccard from a :func:`key_item_sets_grouped` index —
    value-identical to the join strategy (pinned by
    ``tests/test_dedup_ops.py::test_jaccard_strategies_and_callers_agree``),
    but pair candidates come from in-row array combinations (pure
    codegen: sort the key set, emit ordered pairs) instead of an
    inverted-index self-join. The stop-item cap becomes a plain
    ``size(keys) <= cap`` filter; per-key set sizes are derived from the
    SAME grouped frame BEFORE the cap filter, so capped Jaccard remains
    the conservative underestimate the join strategy reports."""
    key_type = grouped.schema["keys"].dataType.elementType
    ks = F.array_sort(F.col("keys"))
    # ONE scan of the grouped index emits both row kinds through a
    # single explode + tiny aggregate: (a, b) pair structs from sets at
    # or under the cap, and (k, NULL) size-marker structs from EVERY set
    # (sizes count capped items — that is what keeps capped Jaccard a
    # conservative underestimate). Splitting the aggregate afterwards is
    # free: it is at most #keys² + #keys rows.
    capped_ks = (
        ks
        if max_item_df is None
        else F.when(F.size("keys") <= max_item_df, ks).otherwise(
            F.slice(ks, 1, 0)
        )
    )
    pair_col = F.flatten(
        F.transform(
            capped_ks,
            lambda x, i: F.transform(
                F.slice(capped_ks, i + F.lit(2), F.size(capped_ks)),
                lambda y: F.struct(x.alias("key_a"), y.alias("key_b")),
            ),
        )
    )
    size_col = F.transform(
        ks,
        lambda k: F.struct(
            k.alias("key_a"), F.lit(None).cast(key_type).alias("key_b")
        ),
    )
    agg = (
        grouped.select(F.explode(F.concat(pair_col, size_col)).alias("p"))
        .groupBy(F.col("p.key_a").alias("key_a"), F.col("p.key_b").alias("key_b"))
        .agg(F.count("*").alias("cnt"))
    )
    shared = agg.filter(F.col("key_b").isNotNull()).withColumnRenamed(
        "cnt", "shared"
    )
    counts = agg.filter(F.col("key_b").isNull()).select(
        F.col("key_a").alias("key"), F.col("cnt").alias("n_items")
    )
    # agg is at most #keys² + #keys rows — the size branches are
    # broadcast by construction (hinted, not left to AQE replanning).
    # The three agg references share one canonical shuffle, so exchange
    # reuse computes the upstream aggregation exactly once per
    # materialization — no persist barrier needed.
    ca = F.broadcast(
        counts.select(F.col("key").alias("key_a"), F.col("n_items").alias("n_a"))
    )
    cb = F.broadcast(
        counts.select(F.col("key").alias("key_b"), F.col("n_items").alias("n_b"))
    )
    return (
        shared.join(ca, "key_a")
        .join(cb, "key_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
    )


def jaccard_overlap_pairs(
    sets: DataFrame,
    key_col: str,
    item_col: str = "shingle",
    max_item_df: int | None = None,
    hot_items: DataFrame | None = None,
    strategy: str = "join",
) -> DataFrame:
    """The shared inverted-index pairwise-Jaccard core: from a DISTINCT
    (key, item) membership frame, produce (key_a, key_b, shared, n_a,
    n_b, jaccard) for every key pair with at least one surviving common
    item — keyed by item then by pair, never a cross join.

    ``max_item_df`` is the stop-item guard (the self-join cost is
    Σ df(item)², so ONE item shared by k keys creates k² candidate
    rows): items present under more than that many keys are dropped
    from the intersection index; the per-key set sizes still count
    them, so reported Jaccard is exact when no item exceeds the cap and
    a conservative underestimate otherwise. One implementation serves
    both the doc-keyed dedup verifier (ngram_jaccard_pairs) and the
    source-keyed corpus overlap report (queries/mining.source_overlap)
    so the guard semantics cannot drift apart. Callers persist ``sets``
    — it feeds three plan branches (both join sides + the set sizes).
    ``hot_items`` lets a caller that already computed (and typically
    persisted, e.g. to log its count) the over-cap item frame pass it
    in instead of paying the df aggregation twice.

    ``strategy="grouped"`` routes through :func:`key_item_sets_grouped`
    + :func:`jaccard_pairs_from_grouped` — ONE shuffle over the raw
    membership rows instead of distinct + df-agg + anti-join +
    self-join, value-identical, but only safe when key cardinality is
    bounded (see that function's docstring); ``hot_items`` does not
    apply there (the cap is a size filter on the grouped sets).
    """
    if strategy == "grouped":
        if hot_items is not None:
            raise ValueError(
                "hot_items applies only to strategy='join' — the grouped "
                "strategy caps via size(keys) on the grouped index"
            )
        return jaccard_pairs_from_grouped(
            key_item_sets_grouped(sets, key_col, item_col), max_item_df
        )
    if strategy != "join":
        raise ValueError(
            f"unknown strategy {strategy!r}: use 'join' (unbounded keys) "
            "or 'grouped' (bounded key cardinality)"
        )
    counts = sets.groupBy(key_col).agg(F.count("*").alias("n_items"))
    idx = sets
    if max_item_df is not None or hot_items is not None:
        hot = hot_items if hot_items is not None else (
            sets.groupBy(item_col)
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_item_df)
            .select(item_col)
        )
        idx = sets.join(hot, item_col, "left_anti")
    a, b = idx.alias("a"), idx.alias("b")
    shared = (
        a.join(
            b,
            (F.col(f"a.{item_col}") == F.col(f"b.{item_col}"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")),
        )
        .groupBy(
            F.col(f"a.{key_col}").alias("key_a"), F.col(f"b.{key_col}").alias("key_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    ca = counts.select(F.col(key_col).alias("key_a"), F.col("n_items").alias("n_a"))
    cb = counts.select(F.col(key_col).alias("key_b"), F.col("n_items").alias("n_b"))
    return (
        shared.join(ca, "key_a")
        .join(cb, "key_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard via inverted-index self-join
    (:func:`jaccard_overlap_pairs` keyed by document id).

    ``max_shingle_df`` is the stop-shingle guard that makes the operator
    safe to call blind (see the core's docstring). With the default
    ``None`` the operator is exact and should only run as the verify
    stage after LSH."""
    sh = _persist(
        fan_out(df).select(
            F.col(id_col), F.explode(ngram_shingles_col(text_col, n)).alias("shingle")
        )
    )
    return (
        jaccard_overlap_pairs(sh, id_col, max_item_df=max_shingle_df)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("key_a").alias("id_a"),
            F.col("key_b").alias("id_b"),
            "jaccard",
        )
    )


def blocked_fuzzy_pairs(
    df,
    key_col: str,
    block_col,
    max_dist: int = 2,
):
    """Entity-resolution fuzzy self-join: distinct keys, equi-joined on a
    blocking column, kept when edit distance <= max_dist.

    Blocking turns the quadratic all-pairs comparison into a per-block
    one — the join is a plain shuffle equi-join on the block key, and
    levenshtein runs JVM-side in codegen on the surviving pairs only. At
    scale the block key must bound block size (add a length bucket or a
    phonetic refinement to split heavy blocks; a skewed block is the
    same salting problem as any skewed join key — `salted_join` applies).

    Generalizes the reference's exact whole-cell matching
    (`CigEolHostingIngestionLogic.py:44-47` sentinel equality) to
    approximate matching.
    """
    keys = df.select(F.col(key_col), block_col.alias("__block")).distinct()
    a = keys.select(
        F.col(key_col).alias("name_a"), F.col("__block").alias("__block_a")
    )
    b = keys.select(
        F.col(key_col).alias("name_b"), F.col("__block").alias("__block_b")
    )
    return (
        a.join(b, (F.col("__block_a") == F.col("__block_b"))
               & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    min_len: int = 6,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Maximal exact shared token runs across documents: every pair of
    documents sharing a verbatim run of >= ``min_len`` tokens, with the
    run's position in both — the positional evidence exact-substring
    deduplication needs (remove the repeated span, keep both documents),
    which whole-document fingerprints (minhash/simhash) cannot produce.

    Distributed suffix arrays are the literature's tool; the Spark-native
    equivalent used here is shingle-diagonal merging:

    1. hash every ``k``-token window to an inverted index (one explode,
       positions kept);
    2. equi-join the index with itself — a shared run of length L appears
       as L-k+1 matches on the same DIAGONAL (pos_a - pos_b constant);
    3. per (pair, diagonal), merge consecutive matches into maximal
       islands with the run-length window trick (pos_a minus row_number
       is constant within an island) and report each island once.

    Cost is the same Σ df(shingle)² as any inverted-index self-join, so
    the ``max_shingle_df`` stop-shingle cap bounds the hottest bucket
    (boilerplate shingles lose their left-extensions, so a span crossing
    a dropped shingle may split/shorten — conservative, never invents a
    span). Shuffles are keyed by shingle hash, then by (pair, diagonal);
    never a cross join.
    """
    toks = tokens_col(text_col)
    base = (
        fan_out(df)
        .select(F.col(id_col).alias("_id"), toks.alias("_t"))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") >= k)
    )
    kgrams = token_kgrams_col(F.col("_t"), F.col("_n"), k)
    sh = _persist(
        base.select("_id", F.posexplode(kgrams).alias("pos0", "g")).select(
            "_id",
            (F.col("pos0") + 1).alias("pos"),
            # md5 runs on the exploded rows — whole-stage codegen, not an
            # interpreted per-element lambda.
            F.md5("g").alias("h"),
        )
    )
    idx = sh
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("h")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("h")
        )
        idx = sh.join(hot, "h", "left_anti")
    a = idx.select(F.col("_id").alias("id_a"), F.col("pos").alias("pos_a"), "h")
    b = idx.select(F.col("_id").alias("id_b"), F.col("pos").alias("pos_b"), "h")
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = W.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    islands = cand.withColumn("_island", F.col("pos_a") - F.row_number().over(w))
    return (
        islands.groupBy("id_a", "id_b", "diag", "_island")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.count("*") + F.lit(k - 1)).alias("match_len"),
        )
        .filter(F.col("match_len") >= min_len)
        .select("id_a", "id_b", "a_start", "b_start", "match_len")
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    divisor: int = 32,
) -> DataFrame:
    """Content-defined chunking (the LBFS/rsync boundary rule over text):
    split each document at positions where the rolling ``k``-gram hash
    satisfies ``h % divisor == 0`` — boundaries are decided by CONTENT,
    not offsets, so inserting or deleting a prefix shifts every byte
    offset but leaves all downstream chunk boundaries (and therefore
    chunk hashes) intact. That alignment robustness is what makes
    chunk-hash equality a verbatim-reuse detector at chunk granularity
    (mean chunk length ~``divisor`` chars) — the storage-dedup
    complement to shingle similarity (MinHash: "how alike") and
    winnowing (selected-site evidence): CDC answers "which exact spans
    are shared, chunk-aligned, across the corpus" with ONE hash per
    ~divisor chars instead of one per char.

    Hash rule: a gram starting at ``i`` cuts AFTER its last char
    (``i + k - 1``); the md5 first-6-hex-digit decode mod ``divisor``
    is THE package hash spelling (functions/hashing.py), oracle-exact.
    This is the pure content rule — no FastCDC min/max clamps, whose
    skip-ahead is inherently sequential; degenerate chunk-length
    distributions are a property of degenerate text (the quality
    filters' job, upstream).

    Plan shape (the winnowing lesson applied): ONE expression chain
    whose lambdas reference only plain attributes (``text`` — cheap to
    inline) and tiny per-element work, so the per-row cost is O(L)
    md5s; map-only, pipelines with the scan. Documents shorter than
    ``k`` chars are one whole-document chunk.
    """
    t = F.col(text_col)
    n = F.length(t)
    cuts = F.filter(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: (
            F.conv(F.substring(F.md5(F.substr(t, i, F.lit(k))), 1, 6), 16, 10)
            .cast("long")
            % divisor
            == 0
        )
        & (i + F.lit(k - 1) < n),  # a cut at the last char is a no-op
    )
    starts = F.concat(
        F.array(F.lit(1)), F.transform(cuts, lambda c: c + F.lit(k))
    )
    ends = F.concat(F.transform(cuts, lambda c: c + F.lit(k - 1)), F.array(n))
    chunks = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            s.alias("start"),
            (e - s + 1).alias("length"),
            F.md5(F.substr(t, s, e - s + F.lit(1))).alias("chunk_hash"),
        ),
    )
    ch = F.col("_ch")
    return (
        fan_out(df)
        .select(F.col(id_col), F.posexplode(chunks).alias("idx", "_ch"))
        .select(
            F.col(id_col),
            (F.col("idx") + 1).cast("long").alias("chunk_idx"),
            ch["start"].cast("long").alias("start"),
            ch["length"].cast("long").alias("length"),
            ch["chunk_hash"].alias("chunk_hash"),
        )
    )


def _term_frequencies(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(id, term, tf) bag-of-n-grams term frequencies (duplicates
    counted); documents shorter than ``ngram`` tokens emit nothing."""
    toks = tokens_col(text_col)
    # fan_out the RAW text, then tokenize: expressions in a projection
    # below the round-robin exchange evaluate in the (possibly
    # single-split) scan stage, so tokenizing first would both run on
    # one core and shuffle token arrays instead of the lighter text.
    grams = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n"))
        .filter(F.col("_n") >= ngram)
    )
    return (
        grams
        .select(
            F.col(id_col),
            F.explode(token_kgrams_col(F.col("_t"), F.col("_n"), ngram)).alias(
                "term"
            ),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def token_cosine_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
    rare_prefix: int = 4,
    max_term_df: int = 100,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """Sparse lexical (bag-of-n-grams TF) cosine near-duplicate pairs via
    rare-term prefix blocking + integer-exact verification.

    The fourth near-dup modality next to minhash (probabilistic Jaccard),
    simhash (Hamming) and embedding cosine (dense): the classic sparse
    similarity self-join (Bayardo et al., "Scaling Up All Pairs
    Similarity Search", WWW'07; Elsayed et al., ACL'08 pairwise-document
    MapReduce). Generalizes the reference's exact whole-row duplicate
    checks (`CigEolHostingIngestionLogic.py:44-47` equality semantics) to
    graded lexical similarity.

    Stages (shuffle budget in brackets):

    1. **tf** — explode n-gram terms (duplicates kept), count per
       (doc, term) [1 shuffle keyed by (doc, term)]. Documents shorter
       than ``ngram`` tokens emit nothing (bigram cosine is undefined
       there; exact dedup already covers degenerate shorts).
    2. **df + prefix index** — global term doc-frequency [1 vocab-keyed
       shuffle], then each doc posts only its ``rare_prefix`` RAREST
       terms (ORDER BY df, term — total, term is unique per doc), and
       only terms with df <= ``max_term_df`` enter the index. This is
       AllPairs-style prefix blocking: index fan-out is <= rare_prefix
       rows per doc and <= df(term)^2 <= max_term_df^2 candidate pairs
       per term — never the all-pairs join a common term would create.
       Like the minhash bands this blocking is a candidate GENERATOR
       (near-identical docs share their rarest terms; measured on the
       sf0.01 corpus it keeps all 25 true pairs while cutting candidates
       10x), and the verify stage below is exact on whatever survives.
    3. **verify** — candidates join the FULL tf postings twice (keyed by
       id then (id, term)) to fold the exact dot product; per-doc squared
       norms come from the same tf frame. The keep rule is the pure
       integer cross-multiplication
       ``dot^2 * den^2 >= num^2 * norm_sq_a * norm_sq_b``
       (cosine >= num/den with zero float rounding on either engine).
       BIGINT range is ENFORCED, not just documented: docs whose
       squared norm exceeds :func:`cosine_safe_norm_bound` (>= ~24.6k
       repeated copies of one token at 4/5 — only an adversarial blob;
       natural docs under the corpus's 8192-char chunk discipline have
       norm_sq ~ L, astronomically inside it) are excluded from
       verification BEFORE the keep rule, so one pathological document
       can neither abort the whole query under ANSI nor silently wrap
       under a non-ANSI session; the same bound appears verbatim in
       the SQL oracle. The reported
       ``cosine_sim`` double is derived from those exact integers with
       one mul / one sqrt / one div, bit-identical across engines.

    Returns (id_a, id_b, dot, norm_sq_a, norm_sq_b, cosine_sim) for
    pairs at or above the threshold, id_a < id_b.
    """
    tf = _persist(_term_frequencies(df, id_col, text_col, ngram))
    # Overflow fence: the keep-rule filter below only evaluates on rows
    # surviving the inner joins against these norms, so bounding them
    # here keeps every integer product in 64-bit range (see
    # cosine_safe_norm_bound; the dot aggregation itself is safe by
    # Cauchy-Schwarz for any doc a 2 GB string column can hold).
    safe = cosine_safe_norm_bound(threshold_num, threshold_den)
    norms = tf.groupBy(id_col).agg(
        F.sum(F.col("tf") * F.col("tf")).alias("norm_sq")
    ).filter(F.col("norm_sq") <= safe)
    term_df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = W.partitionBy(id_col).orderBy("df", "term")
    prefix = (
        tf.join(term_df, "term")
        .filter(F.col("df") <= max_term_df)
        .withColumn("rare_rank", F.row_number().over(w))
        .filter(F.col("rare_rank") <= rare_prefix)
        .select(F.col(id_col), "term")
    )
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.term") == F.col("pb.term"))
            & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}")),
        )
        .select(
            F.col(f"pa.{id_col}").alias("id_a"),
            F.col(f"pb.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    dots = (
        cand.join(tf.alias("ta"), F.col(f"ta.{id_col}") == F.col("id_a"))
        .join(
            tf.alias("tb"),
            (F.col(f"tb.{id_col}") == F.col("id_b"))
            & (F.col("tb.term") == F.col("ta.term")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("ta.tf") * F.col("tb.tf")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("norm_sq").alias("norm_sq_a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("norm_sq").alias("norm_sq_b"))
    num2, den2 = threshold_num * threshold_num, threshold_den * threshold_den
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(
            F.col("dot") * F.col("dot") * F.lit(den2)
            >= F.lit(num2) * F.col("norm_sq_a") * F.col("norm_sq_b")
        )
        .select(
            "id_a",
            "id_b",
            "dot",
            "norm_sq_a",
            "norm_sq_b",
            (
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("norm_sq_a").cast("double")
                    * F.col("norm_sq_b").cast("double")
                )
            ).alias("cosine_sim"),
        )
    )


def fixed_tile_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Per-document profile of NON-OVERLAPPING ``k``-token tile digests —
    the segment unit behind :func:`frequent tile filtering
    <cig_etl_s3_to_sql_data_ingestor_spark.queries.dedup>` (the CCNet /
    C4 "drop documents dominated by corpus-frequent spans" stage, with
    fixed tiles standing in for the newline/sentence segments this
    corpus does not contain).

    Emits one row per tile position: (id, tile_idx, tile_hash). Tiles
    are positions i*k+1 .. i*k+k for i in 0..floor(n/k)-1; a trailing
    remainder shorter than ``k`` tokens is NOT a tile (it would hash
    unequal content as if comparable). Documents with fewer than ``k``
    tokens emit nothing — the caller's aggregation treats them as
    zero-tile docs.

    Map-only: tokens and the tile array are built once per row
    (materialized attributes, not re-built inside the lambda — the
    winnowing lesson: HOF lambdas re-evaluate inlined expressions per
    element), then one posexplode. Cost O(tokens) per doc.
    """
    toks = tokens_col(text_col)
    t = F.col("_t")
    tiles = F.transform(
        F.sequence(F.lit(0), (F.col("_n") / k).cast("long") - 1),
        lambda i: F.md5(F.array_join(F.slice(t, i * k + 1, k), " ")),
    )
    return (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n"))
        .filter(F.col("_n") >= k)
        .select(F.col(id_col), F.posexplode(tiles).alias("idx", "tile_hash"))
        .select(
            F.col(id_col),
            (F.col("idx") + 1).cast("long").alias("tile_idx"),
            "tile_hash",
        )
    )


def incremental_token_cosine_status(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
    rare_prefix: int = 4,
    max_term_df: int = 100,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """Crawl-increment classification with the sparse lexical-cosine
    modality — the :func:`token_cosine_near_duplicates` counterpart of
    :func:`incremental_dedup_status`: classify each batch document as
    ``cosine_dup_corpus`` (>= threshold cosine vs some accepted-corpus
    doc), ``cosine_dup_batch`` (vs a LOWER-id batch doc — the min-id
    keeper convention the minhash incremental path uses), or
    ``unique``.

    The deployment shape decides the statistics: term doc-frequencies
    come from the CORPUS ONLY (the persisted index stat — a streaming
    gate cannot re-derive global df per batch), and batch-only terms
    rank as df=0, i.e. maximally rare, which is exactly right for
    blocking (a term the corpus has never seen is the strongest
    within-batch signal and can never match a corpus posting anyway).
    Blocking and verification otherwise mirror the batch operator:
    rare-term prefixes generate candidates, the pure-integer
    cross-multiplication verifies exact cosine on full tf vectors.
    """
    tf_c = _persist(_term_frequencies(corpus, id_col, text_col, ngram))
    tf_b = _persist(_term_frequencies(batch, id_col, text_col, ngram))
    # Same overflow fence as token_cosine_near_duplicates: docs past
    # the 64-bit-safe norm bound are excluded from verification (they
    # classify as 'unique' — the integer rule cannot certify them), so
    # one adversarial blob cannot abort or corrupt the whole batch.
    safe = cosine_safe_norm_bound(threshold_num, threshold_den)
    norms_c = tf_c.groupBy(id_col).agg(
        F.sum(F.col("tf") * F.col("tf")).alias("norm_sq")
    ).filter(F.col("norm_sq") <= safe)
    norms_b = tf_b.groupBy(id_col).agg(
        F.sum(F.col("tf") * F.col("tf")).alias("norm_sq")
    ).filter(F.col("norm_sq") <= safe)
    df_c = tf_c.groupBy("term").agg(F.count("*").alias("df"))
    w = W.partitionBy(id_col).orderBy("df", "term")
    prefix_c = (
        tf_c.join(df_c, "term")
        .filter(F.col("df") <= max_term_df)
        .withColumn("rr", F.row_number().over(w))
        .filter(F.col("rr") <= rare_prefix)
        .select(F.col(id_col), "term")
    )
    wb = W.partitionBy(id_col).orderBy("df", "term")
    prefix_b = (
        tf_b.join(df_c, "term", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .filter(F.col("df") <= max_term_df)
        .withColumn("rr", F.row_number().over(wb))
        .filter(F.col("rr") <= rare_prefix)
        .select(F.col(id_col), "term")
    )
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den

    def _verified(cand, tf_a_side, tf_b_side, na_side, nb_side):
        dots = (
            cand.join(
                tf_a_side.alias("ta"), F.col(f"ta.{id_col}") == F.col("id_a")
            )
            .join(
                tf_b_side.alias("tb"),
                (F.col(f"tb.{id_col}") == F.col("id_b"))
                & (F.col("tb.term") == F.col("ta.term")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("ta.tf") * F.col("tb.tf")).alias("dot"))
        )
        na = na_side.select(
            F.col(id_col).alias("id_a"), F.col("norm_sq").alias("na2")
        )
        nb = nb_side.select(
            F.col(id_col).alias("id_b"), F.col("norm_sq").alias("nb2")
        )
        return (
            dots.join(na, "id_a")
            .join(nb, "id_b")
            .filter(
                F.col("dot") * F.col("dot") * F.lit(den2)
                >= F.lit(num2) * F.col("na2") * F.col("nb2")
            )
        )

    cross_cand = (
        prefix_b.alias("pb")
        .join(prefix_c.alias("pc"), F.col("pb.term") == F.col("pc.term"))
        .select(
            F.col(f"pb.{id_col}").alias("id_a"),
            F.col(f"pc.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    dup_corpus = (
        _verified(cross_cand, tf_b, tf_c, norms_b, norms_c)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    batch_cand = (
        prefix_b.alias("pa")
        .join(
            prefix_b.alias("pb2"),
            (F.col("pa.term") == F.col("pb2.term"))
            & (F.col(f"pa.{id_col}") < F.col(f"pb2.{id_col}")),
        )
        .select(
            F.col(f"pa.{id_col}").alias("id_a"),
            F.col(f"pb2.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    dup_batch = (
        _verified(batch_cand, tf_b, tf_b, norms_b, norms_b)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        batch.select(id_col)
        .join(dup_corpus.withColumn("_dc", F.lit(True)), id_col, "left")
        .join(dup_batch.withColumn("_db", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_dc"), "cosine_dup_corpus")
            .when(F.col("_db"), "cosine_dup_batch")
            .otherwise("unique")
            .alias("verdict"),
        )
    )
