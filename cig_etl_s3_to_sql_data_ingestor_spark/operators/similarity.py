"""Similarity search over embedding columns (``array<float>``).

- **brute_force_topk**: the exact baseline — broadcast the (small) query
  set against the corpus, fold the dot product JVM-side, rank with a
  window partitioned by query. One pass over the corpus, no shuffle of
  the corpus itself (the window shuffles only (query, candidate, score)
  tuples, which is |Q| x n rows; for large |Q| switch to the bucketed
  variant).
- **axis_lsh_topk**: the scale path — deterministic sign-bucket LSH
  (axis-aligned hyperplanes on fixed dimensions). Corpus and queries are
  bucketed by the same signature; the join is an equi-join on bucket, so
  candidate generation is O(bucket size), not O(n). Axis-aligned planes
  keep the operator reproducible across engines (no RNG state) while
  remaining a legitimate random-hyperplane family for normalized data.
- **cosine_near_duplicates**: blocked pair generation (block key, e.g. a
  coarse cluster/label/LSH bucket) + exact cosine filter.

All dot products fold sequentially in double precision (see
functions.vectors) so results are bit-reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import dot, norm
from ..partitioning import fan_out, fan_out_by_stats


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query against the corpus.

    Norms are precomputed map-side on each input (one ``sqrt(dot(v,v))``
    per VECTOR, not per pair), so the per-pair work after the broadcast
    join is a single fold — cosine values are bit-identical to the
    all-per-pair formulation since the norm expression is deterministic.
    The corpus side is fanned out first: a broadcast join inherits the
    probe side's partitioning, so an under-split corpus would otherwise
    serialize the whole scoring stage.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(F.col(vec_col)).alias("query_norm"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        norm(F.col(vec_col)).alias("cand_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            dot(F.col("query_vec"), F.col("cand_vec"))
            / (F.col("query_norm") * F.col("cand_norm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine_sim", "rank")
    )


def band_dims(bands: int, band_bits: int) -> list[tuple[int, ...]]:
    """Band i covers consecutive 1-based dims [i*band_bits+1 ..]."""
    return [
        tuple(range(i * band_bits + 1, (i + 1) * band_bits + 1)) for i in range(bands)
    ]


def sign_bucket(vec_col, dims: tuple[int, ...]) -> F.Column:
    """Deterministic LSH signature: sign bits at fixed (1-based) dims."""
    return F.concat(
        *[
            F.when(F.element_at(vec_col, d) >= 0, "1").otherwise("0")
            for d in dims
        ]
    )


def sign_band_buckets(vec_col, bands: int, band_bits: int) -> F.Column:
    """Array of per-band bucket keys ("<band_idx>:<sign bits>")."""
    return F.array(
        *[
            F.concat(F.lit(f"{i}:"), sign_bucket(vec_col, dims))
            for i, dims in enumerate(band_dims(bands, band_bits))
        ]
    )


def axis_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 21,
    band_bits: int = 3,
) -> DataFrame:
    """Approximate top-k via BANDED sign-LSH (OR-amplification): a
    candidate is scored if it shares ANY band's sign bucket with the
    query, exactly the banding scheme MinHash-LSH dedup uses.

    A single b-bit bucket has miss probability (1 - p^b) for a pair
    whose per-dim sign-agreement is p — far too high for top-k recall
    (the one-band form measured recall@10 = 0.12 on the fixture
    embeddings). With L bands the miss probability drops to
    (1 - p^b)^L: the default (L=21, b=3, covering 63 of 64 dims)
    measures recall@10 = 0.99 against the brute-force ground truth
    (tests/test_ann_recall.py pins the floor and records the
    trade-off).

    Scale shape: candidates come from ``bands`` equi-joins (one explode,
    one join on the band key), so per-band work is O(bucket size) =
    O(n / 2^b) and the pair set is deduplicated BEFORE scoring. At
    corpus scale grow ``band_bits`` with log2(n) (keeping bucket sizes
    bounded) and add bands to recover recall — the same knobs as any
    production LSH index; the corpus side never shuffles (the dedup
    shuffle carries only candidate pairs)."""
    c = fan_out(corpus).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        norm(F.col(vec_col)).alias("cand_norm"),
        F.explode(sign_band_buckets(F.col(vec_col), bands, band_bits)).alias(
            "bucket"
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(F.col(vec_col)).alias("query_norm"),
        F.explode(sign_band_buckets(F.col(vec_col), bands, band_bits)).alias(
            "bucket"
        ),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        # A pair colliding in several bands must score once: dedup on the
        # pair key (vec/norm columns are functionally identical per pair).
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn(
            "cosine_sim",
            dot(F.col("query_vec"), F.col("cand_vec"))
            / (F.col("query_norm") * F.col("cand_norm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine_sim", "rank")
    )


def _centroid_array(
    centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Collapse a centroid frame to ONE row carrying a (cell_id,
    cell_vec, cell_norm) struct array — the broadcast shape the in-row
    assignment fold consumes. Sorted (by cell_id) only so the broadcast
    payload is deterministic; the per-row (sim, cell_id) min/max/sort
    downstream are order-independent regardless (cell ids are
    distinct)."""
    return centroids.select(
        F.struct(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("cell_vec"),
            norm(F.col(vec_col)).alias("cell_norm"),
        ).alias("_cell")
    ).agg(F.array_sort(F.collect_list("_cell")).alias("_cells"))


def _cell_sims(cells_arr, vec_expr, norm_expr):
    """Per-cell (cell_sim, cell_id) struct array for one vector — each
    element the identical zip_with/aggregate cosine fold the earlier
    crossJoin-per-centroid spelling evaluated, so winners and
    tie-breaks are bit-for-bit unchanged."""
    return F.transform(
        cells_arr,
        lambda cell: F.struct(
            (dot(vec_expr, cell["cell_vec"]) / (norm_expr * cell["cell_norm"]))
            .alias("cell_sim"),
            cell["cell_id"].alias("cell_id"),
        ),
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    with_sim: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by cosine.

    The centroid frame is collapsed to ONE broadcast row carrying an
    array of (cell_id, cell_vec, cell_norm) structs, and each corpus
    row scores every cell with an in-row fold: ``array_max`` over the
    (sim, cell_id) structs for ``n_probe=1`` (index build, KMeans
    training), a sorted-slice + explode for multi-probe. Assignment is
    therefore a pure PROJECTION over the (fan_out) corpus scan — zero
    exchanges, zero aggregates, zero windows. The earlier spelling
    (crossJoin the broadcast centroid ROWS, then groupBy/max_by or a
    row_number window per vector) exploded |corpus| x |centroids| rows
    and paid one corpus-sized hash exchange carrying the full vectors
    per call — per KMeans ITERATION on the training path (guide §2.4:
    remove shuffles outright; measured r12 at sf0.1: ann_ivf_topk
    3.1→2.2 s, with every IVF/SQ8/kmeans caller compounding the win).

    Exactness is unchanged: each (vector, cell) cosine is the identical
    zip_with/aggregate fold expression the crossJoin form evaluated, and
    ``array_max`` / the descending struct sort use the same (sim,
    cell_id) struct ordering as the old ``max_by``/window tie-break —
    ties still resolve toward the highest centroid id. The ``_cells``
    array is ``array_sort``-ed (by cell_id) only so the broadcast
    payload is deterministic; min/max/sort over the per-row (sim,
    cell_id) structs are order-independent anyway (cell ids are
    distinct, so the order is total).

    Precondition: ``id_col`` is unique in ``corpus``. The projection
    emits one assignment per input ROW, so a duplicated id gets one
    assignment per copy (the old per-id aggregate collapsed them).
    """
    c = fan_out(corpus).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        norm(F.col(vec_col)).alias("cand_norm"),
    )
    # An empty centroid frame must yield an empty assignment (the old
    # crossJoin-with-empty behavior), not one row per vector with a
    # NULL cell — the global agg inside _centroid_array always returns
    # one (empty-array) row, so guard on the array size.
    joined = c.crossJoin(
        F.broadcast(_centroid_array(centroids, id_col, vec_col))
    ).filter(F.size("_cells") > 0)
    sims = _cell_sims(F.col("_cells"), F.col("cand_vec"), F.col("cand_norm"))
    if n_probe == 1:
        winner = joined.select(
            "cand_id", "cand_vec", "cand_norm", F.array_max(sims).alias("m")
        )
        out_cols = [
            F.col("cand_id"),
            F.col("cand_vec"),
            F.col("cand_norm"),
            F.col("m.cell_id").alias("cell_id"),
        ]
        if with_sim:
            out_cols.append(F.col("m.cell_sim").alias("cell_sim"))
        return winner.select(*out_cols)
    # Multi-probe: (sim DESC, cell_id DESC) — ascending struct sort,
    # reversed — then the first n_probe cells, exactly the old window's
    # ORDER BY ... LIMIT n_probe per vector.
    probed = joined.select(
        "cand_id",
        "cand_vec",
        "cand_norm",
        F.explode(F.slice(F.reverse(F.array_sort(sims)), 1, n_probe)).alias(
            "m"
        ),
    )
    out_cols = [
        F.col("cand_id"),
        F.col("cand_vec"),
        F.col("cand_norm"),
        F.col("m.cell_id").alias("cell_id"),
    ]
    if with_sim:
        out_cols.append(F.col("m.cell_sim").alias("cell_sim"))
    return probed.select(*out_cols)


KMEANS_QUANT = 1_000_000  # component quantization for exact mean sums


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int | None = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd's KMeans producing (cell_id, embedding) —
    engine-reproducible bit-for-bit, so a single-threaded SQL oracle can
    rebuild the identical index.

    Three choices make it exactly reproducible on ANY engine and ANY
    partitioning (ordinary KMeans is neither):

    - **sorted init**: the ``n_cells`` lowest-id vectors seed the cells
      (no RNG state to ship across engines) — the TRUE n lowest ids via
      a distributed top-k (TakeOrderedAndProject), not an ``id <
      n_cells`` value filter: a re-keyed or subset corpus whose ids do
      not start near 0 would seed few or zero cells under the value
      filter and silently degenerate;
    - **quantized exact means**: the update step sums components as
      integers (``floor(x * 1e6)``) — integer addition is associative,
      so the per-cell mean is independent of row order/partitioning,
      then one double division recovers the mean. A millionth-resolution
      centroid costs ~1e-6 absolute error, noise for clustering;
    - **fixed iteration count + deterministic tie-break** (cosine DESC,
      cell_id DESC), not a convergence test — both engines stop at the
      same place.

    Each iteration is one broadcast-assign pass + one (cell, pos)-keyed
    aggregate; the corpus never shuffles. ``sample_mod=S`` trains on the
    deterministic ~1/S hash-sample ``md5-bucket(id) % S == 0`` — the
    engine-reproducible sampling (an RNG sample is partition-seeded and
    unreproducible elsewhere) that bounds the training-assign cost; at
    100 TB always set it. Init centroids stay the ``n_cells`` lowest ids
    of the FULL corpus so the sample only affects the mean updates.

    ``n_cells=None`` derives the cell count as ``~sqrt(n)`` from one
    cheap count job (r6 verdict #7): per-cell membership is then
    ~sqrt(n) and every cell-blocked pair family stays O(n) total pairs
    WITHOUT the caller re-deriving the dial at each corpus size — the
    rule the blocked-operator docstrings always mandated, now coded.
    Derived cells are a few MB of broadcast state even at 1e9 vectors
    (~31623 cells x dim doubles). Oracle-facing queries keep explicit
    values (the SQL mirror cannot run a count-then-parameterize step).
    """
    if n_cells is None:
        import math

        n_cells = max(2, int(round(math.sqrt(corpus.count()))))
    train = corpus
    if sample_mod is not None:
        bucket = (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
            ).cast("long")
            % sample_mod
        )
        train = corpus.filter(bucket == 0)
    cent = (
        corpus.select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).cast("array<double>").alias("cell_vec"),
        )
        .orderBy("cell_id")
        .limit(n_cells)
    )
    for _ in range(n_iters):
        assigned = ivf_assign(
            train,
            cent.select(F.col("cell_id").alias(id_col), F.col("cell_vec").alias(vec_col)),
            id_col,
            vec_col,
            n_probe=1,
        )
        q = F.transform(
            F.col("cand_vec"),
            lambda x: F.floor(x.cast("double") * KMEANS_QUANT).cast("long"),
        )
        sums = (
            assigned.select("cell_id", F.posexplode(q).alias("pos", "q"))
            .groupBy("cell_id", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        )
        cent = (
            sums.withColumn(
                "m", (F.col("s").cast("double") / F.col("n")) / float(KMEANS_QUANT)
            )
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: x["m"],
                ).alias("cell_vec")
            )
        )
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    kmeans_iters: int = 2,
    kmeans_sample_mod: int | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: inverted-file cells + exact re-rank.

    Index build = one pass assigning every corpus vector to its nearest
    cell; search = score each query against the centroids, probe the
    ``n_probe`` best cells, and exactly re-rank only those cells'
    members. The candidate join is an equi-join on ``cell_id`` — work is
    O(probed-cell sizes), not O(corpus), which is the IVF scale story.

    ``n_probe`` is the recall/cost dial: measured on the fixture
    embeddings against brute-force ground truth, recall@10 is 0.56 at
    n_probe=4, 0.79 at 8, 0.88 at 10 and 0.93 at the default 12 (of 16
    cells — tests/test_ann_recall.py records the curve and pins the
    floor). Probing 12/16 cells is honest for 16 COARSE cells over
    10 weakly-separated clusters; at corpus scale grow ``n_cells``
    toward sqrt(n) so the probed fraction shrinks while per-cell work
    stays bounded.

    Centroids come from the deterministic ``kmeans_centroids`` training
    (engine-reproducible: sorted init, quantized exact means, fixed
    iterations) unless a pre-trained ``centroids`` frame —
    (cell_id, embedding) shaped, e.g. from a larger offline run — is
    supplied.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus,
            n_cells=n_cells,
            n_iters=kmeans_iters,
            id_col=id_col,
            vec_col=vec_col,
            sample_mod=kmeans_sample_mod,
        ).select(F.col("cell_id").alias(id_col), F.col("cell_vec").alias(vec_col))
    # The trained centroid frame feeds both the corpus-assign and the
    # query-probe branches; registered in the shared release pool
    # (operators.dedup.unpersist_all / spark.catalog.clearCache).
    from .dedup import _persist

    centroids = _persist(centroids)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, n_probe=1)
    probes = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe).select(
        F.col("cand_id").alias("query_id"),
        F.col("cand_vec").alias("query_vec"),
        F.col("cand_norm").alias("query_norm"),
        "cell_id",
    )
    # fan_out on the PAIR frame, not the inputs: the broadcast join
    # inherits `assigned`'s partitioning, and assigned is a small
    # aggregate AQE coalesces below cluster parallelism — so the
    # per-pair cosine fold (the expensive stage: |Q| x probed-cells
    # rows x dim lambda evals) would run on a few cores no matter the
    # machine. Decided from the CORPUS scan's optimizer stats, never
    # by probing the join output: a `.rdd` partition probe on a plan
    # with exchanges materializes upstream stages under AQE as real
    # jobs the final query then recomputes (r10 A/B: probe 4.63 s vs
    # stats 4.14 s min-of-3 on ann_ivf_topk at sf0.1); at scale the
    # stats clear the bound and no shuffle is added.
    scored = fan_out_by_stats(
        assigned.join(F.broadcast(probes), "cell_id").filter(
            F.col("cand_id") != F.col("query_id")
        ),
        corpus,
    ).withColumn(
        "cosine_sim",
        dot(F.col("query_vec"), F.col("cand_vec"))
        / (F.col("query_norm") * F.col("cand_norm")),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine_sim", "rank")
    )


def cosine_near_duplicates(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    stats_reference: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs within blocks (cosine >= threshold).

    The self-join is keyed by the block column — at scale the block key
    should be an LSH bucket (see sign_bucket) or a coarse cluster id so
    block sizes stay bounded.

    Two scale guards: norms are precomputed per vector (map-side, before
    the pair blow-up), and the PAIR frame is rebalanced before scoring —
    the join's output parallelism is bounded by the number of distinct
    blocks (10 labels ⇒ ≤10 busy tasks no matter the cluster size), so
    the cosine fold must be rebalanced onto all cores. The rebalance is
    stats-decided (fan_out_by_stats — zero probe jobs; see its
    docstring for the `.rdd`-under-AQE hazard) from ``stats_reference``
    when given — callers passing a join-bearing ``df`` (e.g.
    cell_blocked_near_duplicates' assigned frame, whose optimizer
    estimate is join-inflated) hand in the scan-rooted corpus frame —
    else from ``df`` itself."""
    a = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("norm_a"),
    )
    b = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("norm_b"),
    )
    pairs = fan_out_by_stats(
        a.join(b, "block").filter(F.col("id_a") < F.col("id_b")),
        stats_reference if stats_reference is not None else df,
    )
    return (
        pairs.withColumn(
            "cosine_sim",
            dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def cell_blocked_near_duplicates(
    df: DataFrame,
    n_cells: int | None = None,
    n_iters: int = 2,
    threshold: float = 0.9,
    sample_mod: int | None = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs blocked by trained KMeans CELLS — the scale
    path :func:`cosine_near_duplicates`'s docstring mandates.

    Blocking on a FIXED-cardinality attribute (labels, sources) is
    quadratic in corpus growth: block sizes are n/|blocks|, so candidate
    pairs grow as (n/|blocks|)² per block — the 10x scaling rehearsal
    measured label-blocked near-dup at ~13x wall time for 10x vectors.
    Cells are a DIAL: with ``n_cells ~ sqrt(n)`` the per-cell membership
    is ~sqrt(n) and total candidate pairs stay O(n) — measured 2.07x
    wall for 10x vectors at sqrt-scaled cells (scaling_sweep.json
    ``scale_paths``). Same recall caveat as any single-probe blocking:
    pairs straddling a cell boundary are missed (the streaming gate
    variant in streaming/vector_ingest shares this contract); raise
    ``n_iters``/``n_cells`` quality, or run the LSH verifier family for
    guarantees."""
    cent = kmeans_centroids(
        df,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
        sample_mod=sample_mod,
    ).select(F.col("cell_id").alias(id_col), F.col("cell_vec").alias(vec_col))
    # ivf_assign's n_probe=1 aggregate already carries the vector
    # through — no corpus re-join to fetch it back.
    blocked = ivf_assign(df, cent, id_col, vec_col, n_probe=1).select(
        F.col("cand_id").alias(id_col),
        F.col("cand_vec").alias(vec_col),
        "cell_id",
    )
    return cosine_near_duplicates(
        blocked,
        block_col="cell_id",
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        # blocked is join-bearing (its optimizer estimate is inflated
        # by the centroid cross join); size the pair rebalance from the
        # scan-rooted corpus instead.
        stats_reference=df,
    )


def cell_blocked_gate_status(
    corpus: DataFrame,
    batch: DataFrame,
    n_cells: int | None = None,
    n_iters: int = 2,
    threshold: float = 0.9,
    sample_mod: int | None = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, verdict) per BATCH vector against an admitted corpus — the
    batch form of the streaming semantic gate
    (streaming/vector_ingest._near_dup_vs_index_ids, composed by
    dedup_ingest's sixth net): centroids train on the CORPUS (frozen —
    the batch must not move them, exactly as the store freezes its
    bootstrap centroids), both sides assign to their single nearest
    cell, and a batch vector with ANY same-cell corpus neighbor at
    cosine >= ``threshold`` is ``embedding_dup``, else ``unique``.

    Scale shape: candidate pairs are the same-cell equi-join — bounded
    by cell occupancy (~n/n_cells per cell), never |batch| x |corpus| —
    and the pair rebalance is stats-decided from the scan-rooted corpus
    (the assigned frames' own estimates are join-inflated). Same
    cell-boundary recall trade as every single-probe blocking,
    documented in cell_blocked_near_duplicates."""
    cent = kmeans_centroids(
        corpus,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
        sample_mod=sample_mod,
    ).select(F.col("cell_id").alias(id_col), F.col("cell_vec").alias(vec_col))
    a_c = ivf_assign(corpus, cent, id_col, vec_col, n_probe=1).select(
        "cell_id",
        F.col("cand_vec").alias("_cvec"),
        F.col("cand_norm").alias("_cnorm"),
    )
    a_b = ivf_assign(batch, cent, id_col, vec_col, n_probe=1)
    pairs = fan_out_by_stats(a_b.join(a_c, "cell_id"), corpus)
    hits = (
        pairs.filter(
            dot(F.col("cand_vec"), F.col("_cvec"))
            / (F.col("cand_norm") * F.col("_cnorm"))
            >= threshold
        )
        .select(F.col("cand_id"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        batch.select(F.col(id_col))
        .join(hits.withColumnRenamed("cand_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_hit"), F.lit("embedding_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
        )
    )


def semdedup_decisions(
    df: DataFrame,
    n_cells: int | None = None,
    n_iters: int = 2,
    threshold: float = 0.9,
    sample_mod: int | None = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): per-vector
    keep/drop decisions for semantic deduplication — cluster the corpus,
    then within each cluster drop every vector that is cosine-similar
    (>= ``threshold``) to a higher-ranked cluster member, where rank is
    (similarity to the cluster centroid DESC, id ASC). The survivor of
    each tight semantic group is therefore its most *central* member — a
    deterministic representative any engine reproduces bit-for-bit.

    One-pass (non-transitive) variant: a vector is dropped if ANY
    higher-ranked member is within ``threshold``, whether or not that
    member itself survives — the standard SQL-expressible form (the
    greedy sequential variant needs per-cluster iteration and changes
    results only inside chains of borderline pairs).

    Scale shape is identical to :func:`cell_blocked_near_duplicates`:
    broadcast-assign to trained cells (corpus never shuffles for
    assignment), then a cell-keyed self-join whose candidate pairs stay
    O(n) when ``n_cells ~ sqrt(n)``; pairs straddling a cell boundary
    are not compared (same single-probe contract as every IVF-blocked
    operator here).

    Returns (id_col, cell_id, centroid_sim, kept, dup_of): ``kept`` is
    1/0, ``dup_of`` the highest-ranked member that evicted the row
    (NULL for survivors).
    """
    cent = kmeans_centroids(
        df,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
        sample_mod=sample_mod,
    )
    # with_sim keeps the winning cosine from the assignment pass itself
    # (no centroid re-join), and the assigned frame feeds THREE plan
    # branches (both pair sides + the final decision join) — persist it
    # like the dedup signature stores, or the KMeans training lineage
    # re-executes per branch (measured 11.3s -> 3.2s at sf0.1).
    from .dedup import _persist

    sims = _persist(
        ivf_assign(
            df,
            cent.select(
                F.col("cell_id").alias(id_col), F.col("cell_vec").alias(vec_col)
            ),
            id_col,
            vec_col,
            n_probe=1,
            with_sim=True,
        ).select(
            "cell_id",
            "cand_id",
            "cand_vec",
            "cand_norm",
            F.col("cell_sim").alias("centroid_sim"),
        )
    )
    a = sims.select(
        "cell_id",
        F.col("cand_id").alias("id_a"),
        F.col("cand_vec").alias("vec_a"),
        F.col("cand_norm").alias("norm_a"),
        F.col("centroid_sim").alias("sim_a"),
    )
    b = sims.select(
        "cell_id",
        F.col("cand_id").alias("id_b"),
        F.col("cand_vec").alias("vec_b"),
        F.col("cand_norm").alias("norm_b"),
        F.col("centroid_sim").alias("sim_b"),
    )
    # a strictly outranks b: closer to the centroid, id-ascending on ties
    # (exact double comparison is deterministic — both sides fold the
    # same dot-product expression). Pair rebalance stats-decided from
    # the scan-rooted corpus (sims is persisted but join-bearing; a
    # .rdd probe here would materialize its stages — see fan_out).
    pairs = fan_out_by_stats(
        a.join(b, "cell_id").filter(
            (F.col("sim_a") > F.col("sim_b"))
            | ((F.col("sim_a") == F.col("sim_b")) & (F.col("id_a") < F.col("id_b")))
        ),
        df,
    )
    killers = (
        pairs.withColumn(
            "pair_sim",
            dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("pair_sim") >= threshold)
        .groupBy("id_b")
        .agg(
            # (sim_a DESC, id_a ASC) winner as min over (-sim_a, id_a):
            # negating the DOUBLE (never the id) keeps the generic
            # id_col contract — string ids order fine, unary minus on
            # them would not.
            F.min_by(
                F.col("id_a"), F.struct(-F.col("sim_a"), F.col("id_a"))
            ).alias("dup_of")
        )
    )
    return sims.join(
        killers, sims["cand_id"] == killers["id_b"], "left"
    ).select(
        F.col("cand_id").alias(id_col),
        "cell_id",
        "centroid_sim",
        F.when(F.col("dup_of").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("kept"),
        "dup_of",
    )


def l2_norms(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return df.select(F.col(id_col), norm(F.col(vec_col)).alias("l2_norm"))


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory side of the 100 TB ANN story.
# IVF bounds WORK per query; PQ bounds BYTES per vector — a 64-dim
# float32 embedding (256 B) compresses to n_sub 4-bit/8-bit codes
# (8 B at the 8x16 default, 32x smaller), which is what lets a
# billion-vector index live in executor memory instead of on disk.
# Everything is deterministic and engine-reproducible, same discipline
# as kmeans_centroids: sorted init, ordered L2 folds, quantized-integer
# mean updates, and integer ADC partial sums.
# ---------------------------------------------------------------------------

PQ_DIST_QUANT = 1_000_000_000  # ADC distance-table quantization (nano-units)


def _subvectors(
    df: DataFrame,
    n_sub: int,
    id_col: str,
    vec_col: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Long-form (id, m, sub) subvector frame: one codegen projection +
    posexplode, no shuffle. Sub-length is derived per row (dim/n_sub) so
    the operator is dimension-agnostic ACROSS valid dims — a dimension
    that is not a positive multiple of ``n_sub`` fails the job loudly
    (truncated trailing dims or zero-length subvectors would otherwise
    return plausible-looking garbage top-k). ``keep`` columns ride along
    unchanged (ivf_pq_topk keeps the row's ``cell_id`` so codes carry
    their cell through one projection)."""
    size = F.size(F.col(vec_col))
    ok = (size >= n_sub) & (size % n_sub == 0)
    sub_len = F.when(ok, (size / n_sub).cast("int")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("embedding dim "),
                size.cast("string"),
                F.lit(f" is not a positive multiple of n_sub={n_sub}"),
            )
        ).cast("int")
    )
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda m: F.slice(
            F.col(vec_col).cast("array<double>"), m * sub_len + 1, sub_len
        ),
    )
    return df.select(
        F.col(id_col).alias("sid"),
        *[F.col(c) for c in keep],
        F.posexplode(slices).alias("m", "sub"),
    )


def _codebook_arrays(cb: DataFrame) -> DataFrame:
    """Collapse a long-form (m, code_id, code_vec) codebook to one row
    per subspace — (m, _codes: array<struct<code_id, code_vec>>) — the
    broadcast shape :func:`_pq_best_code` folds over. The array is
    sorted (by code_id) only for a deterministic broadcast payload; the
    fold's struct-min is order-independent regardless."""
    return cb.groupBy("m").agg(
        F.array_sort(
            F.collect_list(F.struct("code_id", "code_vec"))
        ).alias("_codes")
    )


def _pq_best_code(codes_arr, sub):
    """In-row nearest-codeword fold: ``array_min`` over (d2, code_id)
    structs, one ``l2sq`` fold per codeword — identical doubles and the
    identical (d2 asc, code_id asc) tie-break as the earlier exploded
    ``min_by`` aggregation, with zero row explosion and zero exchange
    (guide §2.4). Returns the winning struct."""
    from ..functions.vectors import l2sq

    return F.array_min(
        F.transform(
            codes_arr,
            lambda c: F.struct(
                l2sq(sub, c["code_vec"]).alias("d2"),
                c["code_id"].alias("code_id"),
            ),
        )
    )


def pq_train_codebooks(
    corpus: DataFrame,
    n_sub: int = 16,
    n_codes: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subs: DataFrame | None = None,
) -> DataFrame:
    """Train per-subspace codebooks — (m, code_id, code_vec) — with ONE
    grouped-KMeans lineage covering all ``n_sub`` subspaces at once.

    A naive PQ trainer runs n_sub independent KMeans jobs; grouping by
    (m, code) instead keys every stage by the subspace index, so each
    Lloyd iteration is one broadcast-assign PROJECTION plus one
    (m, code, pos)-keyed aggregate regardless of n_sub. Determinism
    mirrors ``kmeans_centroids``: the TRUE n_codes lowest-id vectors
    seed every subspace (a distributed top-k over the corpus ids, not an
    ``id < n_codes`` value filter that would seed few or zero codewords
    on a re-keyed corpus), assignment breaks ties toward the LOWEST code id
    under an ordered L2 fold, and mean updates sum floor(x * 1e6)
    integers (order-independent) with one double division at the end.

    Assignment shape (r12, guide §2.3/§2.4): the per-subspace codebook
    is collapsed to ONE row per ``m`` carrying an array of (code_id,
    code_vec) structs, joined 1:1 (broadcast, on ``m``) against the
    subvector frame, and each row picks its codeword with an in-row
    ``array_min`` over (d2, code_id) structs — the d2 per codeword is
    the identical ``l2sq`` fold the earlier exploded form computed, and
    (d2, code_id) struct-min is exactly the old
    ``min_by(code_id, struct(d2, code_id))`` tie-break. The earlier
    spelling exploded n x n_sub x n_codes scored rows and collapsed
    them back through a corpus-sized (sid, m) SORT-aggregate exchange
    carrying the subvectors — per Lloyd iteration. Now the only
    per-iteration exchange is the (m, code, pos)-keyed integer mean
    update, whose map-side partials are bounded by
    n_sub x n_codes x sub_len rows per partition regardless of corpus
    size."""
    from ..functions.vectors import l2sq
    from .dedup import _persist

    # Each Lloyd iteration (and the final encode in pq_topk) re-reads
    # the subvector frame; persisting it trades one materialization of
    # (n x n_sub) small rows for n_iters re-scans + re-explodes of the
    # corpus — the same lineage-vs-cache call kmeans_centroids makes
    # for its centroid frame. Callers that also encode (pq_topk,
    # ivf_pq_topk) pass the persisted frame in so train + encode share
    # ONE materialization.
    if subs is None:
        subs = _persist(_subvectors(fan_out(corpus), n_sub, id_col, vec_col))
    # Seed ids come from the corpus frame (TakeOrdered top-k, no
    # shuffle) rather than a distinct over the exploded subvector frame.
    seed_ids = (
        corpus.select(F.col(id_col).alias("sid")).orderBy("sid").limit(n_codes)
    )
    cb = subs.join(F.broadcast(seed_ids), "sid").select(
        "m", F.col("sid").alias("code_id"), F.col("sub").alias("code_vec")
    )
    for _ in range(n_iters):
        assigned = subs.join(F.broadcast(_codebook_arrays(cb)), "m").select(
            "m",
            _pq_best_code(F.col("_codes"), F.col("sub"))["code_id"].alias(
                "code_id"
            ),
            "sub",
        )
        q = F.transform(
            F.col("sub"), lambda x: F.floor(x * KMEANS_QUANT).cast("long")
        )
        sums = (
            assigned.select("m", "code_id", F.posexplode(q).alias("pos", "q"))
            .groupBy("m", "code_id", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        )
        cb = (
            sums.withColumn(
                "mean",
                (F.col("s").cast("double") / F.col("n")) / float(KMEANS_QUANT),
            )
            .groupBy("m", "code_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                    lambda x: x["mean"],
                ).alias("code_vec")
            )
        )
    return cb


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subs: DataFrame | None = None,
) -> DataFrame:
    """Encode every vector as (id, m, code_id) — nearest codeword per
    subspace. One 1:1 broadcast join against the per-subspace codebook
    ARRAYS plus an in-row argmin fold (:func:`_pq_best_code`): a pure
    projection over the subvector frame — no row explosion, no
    aggregate, no exchange (the earlier exploded min_by spelling paid a
    corpus-sized (sid, m) exchange here; guide §2.4). Values are
    bit-identical: same l2sq folds, same (d2, code_id) tie-break.

    Precondition: ``id_col`` is unique in ``corpus``. A duplicated id
    gets one code per copy and subspace (the old per-(sid, m) aggregate
    collapsed them), and :func:`pq_topk`'s ADC sum over (query_id,
    cand_id) then adds the copies' distances, inflating that id's
    distance."""
    if subs is None:
        subs = _subvectors(fan_out(corpus), n_sub, id_col, vec_col)
    return subs.join(F.broadcast(_codebook_arrays(codebooks)), "m").select(
        F.col("sid").alias("cand_id"),
        "m",
        _pq_best_code(F.col("_codes"), F.col("sub"))["code_id"].alias(
            "code_id"
        ),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 16,
    n_codes: int = 16,
    shortlist_factor: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    candidates: DataFrame | None = None,
    probe_cells: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k with exact re-rank.

    Search is the classic ADC scan: each query precomputes an
    (m, code_id) -> distance table against the codebooks (n_sub x
    n_codes rows per query, broadcast), the corpus CODES — never the
    vectors — join it, and the approximate distance is the sum of n_sub
    table entries. Distance-table entries are quantized to integers
    (floor(d2 * 1e9)) before summing, so the ADC total is
    order-independent and bit-identical on any engine/partitioning. The
    top ``k * shortlist_factor`` ADC candidates per query are then
    re-ranked by exact cosine against the full vectors (a semi-join
    -sized probe of the corpus), which is the standard shortlist+rerank
    deployment: memory-bound scan over 8-byte codes, exact math only on
    the shortlist.

    ``candidates`` — an optional (query_id, cand_id) frame — restricts
    the ADC scan to pre-generated pairs (self-pairs must already be
    excluded); so the quantization constants, tie-breaks, and re-rank
    live in exactly one place (the SQL mirror has the same shape:
    ``_sql_pq_ctes`` serves both oracles through its ``candidates``
    parameter).

    ``probe_cells`` — an optional (query_id, cell_id) frame, mutually
    exclusive with ``candidates`` — is the IVF-composed form
    ``ivf_pq_topk`` uses when it owns the index build: ``codes`` must
    then carry a ``cell_id`` column, and the ADC scan joins the codes
    against the BROADCAST distance-table ⨝ probes plan on
    (cell_id, m, code_id). This scores exactly the probed-cell pairs
    the ``candidates`` form enumerates (a vector sits in ONE cell, so a
    (query, cand) pair matches at most once), but with zero corpus
    shuffles: the materialized-pair form pays a corpus×corpus
    sort-merge join of the pair frame against the codes, where this is
    one broadcast-joined pass over the code scan — the guide §8 move
    (every shuffle but the final partial-aggregated ADC sum operates on
    a |Q|-bounded proxy).

    Defaults are MEASURED against brute-force ground truth
    (tests/test_ann_recall.py, 32 queries, k=10): 16 subspaces x 16
    codes with an 8x shortlist gives recall@10 = 0.93 at 32x
    compression. The curve: 8x16 codebooks recall 0.60/0.79/0.93 at
    shortlist 4/8/16; 16x16 recall 0.81/0.93 at shortlist 4/8; 16x32
    reaches 0.98 at shortlist 8 for 25x compression. Wider codebooks
    buy recall with encode cost; a wider shortlist buys it with exact
    re-rank cost — at corpus scale the shortlist term stays O(k) per
    query, so it is the cheaper dial.
    """
    from ..functions.vectors import l2sq

    from .dedup import _persist

    # Train-once/search-many deployments (streaming/vector_ingest, the
    # amortized bench path) pass prebuilt ``codebooks`` + ``codes``; the
    # corpus subvector frame then never materializes here and the call
    # is pure search: distance table + ADC join + shortlist + re-rank.
    if codebooks is None or codes is None:
        # fan_out BEFORE the explode: a small corpus arrives as one
        # parquet split, and every training/encode stage downstream of
        # this persisted frame (the broadcast-join + argmin scoring —
        # the PQ hot path) would otherwise run on a single core
        # (measured: pq_train 3.0-3.5 s single-task at sf0.1). At scale
        # the corpus is already well-split and fan_out is a no-op.
        subs = _persist(_subvectors(fan_out(corpus), n_sub, id_col, vec_col))
        if codebooks is None:
            codebooks = pq_train_codebooks(
                corpus,
                n_sub=n_sub,
                n_codes=n_codes,
                id_col=id_col,
                vec_col=vec_col,
                subs=subs,
            )
        codebooks = _persist(codebooks)
        if codes is None:
            codes = pq_encode(
                corpus, codebooks, n_sub=n_sub, id_col=id_col,
                vec_col=vec_col, subs=subs,
            )
    qsubs = _subvectors(queries, n_sub, id_col, vec_col)
    dtab = (
        qsubs.join(F.broadcast(codebooks), "m")
        .select(
            F.col("sid").alias("query_id"),
            "m",
            "code_id",
            (F.floor(l2sq(F.col("sub"), F.col("code_vec")) * PQ_DIST_QUANT))
            .cast("long")
            .alias("qd2"),
        )
    )
    if candidates is not None and probe_cells is not None:
        raise ValueError("pass candidates OR probe_cells, not both")
    if probe_cells is not None:
        # Cell-blocked ADC with zero corpus shuffles: broadcast the
        # (query_id, cell_id, m, code_id, qd2) plan — |Q| x n_probe x
        # n_sub x n_codes rows, bounded by the interactive query batch
        # — against the cell-carrying code scan. Self-pairs are
        # excluded here (the candidates form receives them
        # pre-excluded).
        dtabc = dtab.join(F.broadcast(probe_cells), "query_id")
        adc = (
            codes.join(F.broadcast(dtabc), ["cell_id", "m", "code_id"])
            .filter(F.col("cand_id") != F.col("query_id"))
            .groupBy("query_id", "cand_id")
            .agg(F.sum("qd2").alias("adc_q"))
        )
    elif candidates is None:
        adc = (
            codes.join(F.broadcast(dtab), ["m", "code_id"])
            .filter(F.col("cand_id") != F.col("query_id"))
            .groupBy("query_id", "cand_id")
            .agg(F.sum("qd2").alias("adc_q"))
        )
    else:
        adc = (
            candidates.join(codes, "cand_id")
            .join(F.broadcast(dtab), ["query_id", "m", "code_id"])
            .groupBy("query_id", "cand_id")
            .agg(F.sum("qd2").alias("adc_q"))
        )
    w = W.partitionBy("query_id").orderBy(F.col("adc_q"), F.col("cand_id"))
    short = (
        adc.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= k * shortlist_factor)
        .select("query_id", "cand_id", "adc_q")
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        norm(F.col(vec_col)).alias("cand_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(F.col(vec_col)).alias("query_norm"),
    )
    rescored = (
        c.join(F.broadcast(short), "cand_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine_sim",
            dot(F.col("query_vec"), F.col("cand_vec"))
            / (F.col("query_norm") * F.col("cand_norm")),
        )
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("cand_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine_sim", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 12,
    n_sub: int = 16,
    n_codes: int = 16,
    shortlist_factor: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_sample_mod: int | None = None,
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ composed — the full billion-vector deployment shape:
    IVF bounds the WORK (only ``n_probe`` cells' members are scored per
    query) and PQ bounds the BYTES (scored via 8-byte codes, not 256 B
    vectors); exact math runs only on the final shortlist.

    This is candidate generation + delegation: coarse centroids
    (deterministic sampled KMeans) assign the corpus to cells, a query
    probes its ``n_probe`` best cells, and the probed-cell pairs feed
    ``pq_topk(candidates=...)`` — one implementation of the ADC scan,
    shortlist, and re-rank serves both the standalone and the composed
    index (plain PQ, not residual: one code table serves every cell).
    Measured recall@10 at the defaults: see tests/test_ann_recall.py
    (the IVF probe miss and the PQ shortlist miss compose roughly
    multiplicatively).
    """
    from .dedup import _persist

    # Every index part is injectable for train-once/search-many callers
    # (the amortized bench path; the streaming index keeps its own
    # store): with centroids+assigned+codebooks+codes all prebuilt the
    # call does only probe + ADC + shortlist + re-rank work.
    if centroids is None:
        centroids = _persist(
            kmeans_centroids(
                corpus,
                n_cells=n_cells,
                n_iters=2,
                id_col=id_col,
                vec_col=vec_col,
                sample_mod=kmeans_sample_mod,
            ).select(
                F.col("cell_id").alias(id_col), F.col("cell_vec").alias(vec_col)
            )
        )
    probes = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe).select(
        F.col("cand_id").alias("query_id"), "cell_id"
    )
    if assigned is None and codes is None:
        # Index built HERE: derive cell assignment and subvectors in ONE
        # corpus projection (the cell winner is ivf_assign's exact fold,
        # via the shared _cell_sims/_centroid_array helpers), persist
        # that frame for train + encode, and hand pq_topk the
        # cell-carrying codes plus the probe frame — the ADC then joins
        # only broadcasts (see pq_topk's probe_cells note). The earlier
        # shape materialized a corpus-sized (query_id, cand_id) pair
        # frame and paid a corpus×corpus sort-merge join of it against
        # the codes (guide §8: shuffle the proxy, not the payload —
        # here the proxy is the |Q|-bounded probes ⨝ distance-table
        # broadcast, and the corpus is never shuffled at all).
        base = fan_out(corpus).select(
            F.col(id_col).alias("sid"),
            F.col(vec_col).alias("_vec"),
            norm(F.col(vec_col)).alias("_norm"),
        )
        with_cell = (
            base.crossJoin(
                F.broadcast(_centroid_array(centroids, id_col, vec_col))
            )
            .filter(F.size("_cells") > 0)
            .select(
                "sid",
                "_vec",
                F.array_max(
                    _cell_sims(F.col("_cells"), F.col("_vec"), F.col("_norm"))
                )["cell_id"].alias("cell_id"),
            )
        )
        subs_cells = _persist(
            _subvectors(with_cell, n_sub, "sid", "_vec", keep=("cell_id",))
        )
        if codebooks is None:
            codebooks = pq_train_codebooks(
                corpus,
                n_sub=n_sub,
                n_codes=n_codes,
                id_col=id_col,
                vec_col=vec_col,
                subs=subs_cells,
            )
        codebooks = _persist(codebooks)
        codes_cells = subs_cells.join(
            F.broadcast(_codebook_arrays(codebooks)), "m"
        ).select(
            F.col("sid").alias("cand_id"),
            "cell_id",
            "m",
            _pq_best_code(F.col("_codes"), F.col("sub"))["code_id"].alias(
                "code_id"
            ),
        )
        return pq_topk(
            corpus,
            queries,
            k=k,
            n_sub=n_sub,
            n_codes=n_codes,
            shortlist_factor=shortlist_factor,
            id_col=id_col,
            vec_col=vec_col,
            codebooks=codebooks,
            codes=codes_cells,
            probe_cells=probes,
        )
    if assigned is None:
        assigned = ivf_assign(corpus, centroids, id_col, vec_col, n_probe=1).select(
            "cand_id", "cell_id"
        )
    cand_pairs = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col("cand_id") != F.col("query_id")
    ).select("query_id", "cand_id")
    return pq_topk(
        corpus,
        queries,
        k=k,
        n_sub=n_sub,
        n_codes=n_codes,
        shortlist_factor=shortlist_factor,
        id_col=id_col,
        vec_col=vec_col,
        codebooks=codebooks,
        codes=codes,
        candidates=cand_pairs,
    )


def pq_pack_codes(codes: DataFrame, codebooks) -> DataFrame:
    """Pack long-form (cand_id, m, code_id) codes into the contiguous
    per-vector DENSE code array — ``(cand_id, code_arr)`` with
    ``code_arr[m]`` the rank of the subspace-m codeword among that
    subspace's sorted code ids. This is how deployed PQ indexes store
    codes (FAISS keeps one contiguous byte array per vector, indexing
    codebook POSITIONS): at-rest size is n_sub small ints per vector, a
    search scan reads ONE row per candidate, and the dense code indexes
    straight into a positional distance table (an O(1) array lookup —
    no id-keyed map probe). ``codebooks`` (frame or collected
    (m, code_id, code_vec) rows) supplies the per-subspace id order;
    :func:`pq_search_packed` derives the SAME order from the same
    codebooks, so pack and search cannot disagree."""
    cb_rows = (
        codebooks.select("m", "code_id", "code_vec").collect()
        if isinstance(codebooks, DataFrame)
        else codebooks
    )
    per_m: dict = {}
    for r in cb_rows:
        per_m.setdefault(r[0], []).append(r[1])
    mapping = [
        (m, cid, dense)
        for m, cids in per_m.items()
        for dense, cid in enumerate(sorted(cids))
    ]
    dense_df = codes.sparkSession.createDataFrame(
        mapping, "m int, code_id long, dense int"
    )
    return (
        codes.join(F.broadcast(dense_df), ["m", "code_id"])
        .groupBy("cand_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "dense"))),
                lambda x: x["dense"],
            ).alias("code_arr")
        )
    )


def pq_search_packed(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    packed_codes: DataFrame,
    k: int = 5,
    n_sub: int = 16,
    shortlist_factor: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    n_probe: int = 12,
) -> DataFrame:
    """Latency-optimized pure-search over a PREBUILT packed-code index —
    bit-identical to ``pq_topk(codebooks=…, codes=…)`` /
    ``ivf_pq_topk(…all parts prebuilt…)`` (pinned by
    tests/test_ann_recall.py::test_packed_search_identical_to_join_path).

    The join-based search path is scale-right but latency-heavy at
    interactive batch sizes: the per-query distance table is itself a
    Spark job, its broadcast joins the codes, and a groupBy
    re-aggregates the n_sub terms — three exchanges before the
    shortlist window. Here everything per-QUERY moves to the driver
    (bounded by the query batch — the small side of an ANN search by
    construction): query vectors, the (n_sub x n_codes)-entry codebook,
    and the probe centroids are collected (index parts are a few
    hundred cached rows), the ADC distance table is computed in pure
    Python with the SAME left-to-right IEEE-double fold and
    floor-quantization as the Spark ``l2sq`` expressions (bit-equal
    longs, pinned by the identity test), and the whole candidate
    scoring compiles into ONE in-row codegen expression over
    ``code_arr`` — a single scan of the packed index, zero joins, zero
    aggregation, then the same shortlist window and exact re-rank as
    pq_topk. Each query's distance table enters the plan as a single
    nested-array literal indexed positionally by the dense codes (one
    py4j call and an O(1) folded-array lookup per term — not thousands
    of literal round-trips or per-row map probes).

    With ``centroids`` given, IVF probing also happens driver-side
    (same fold + (sim DESC, cell_id DESC) tie-break as ``ivf_assign``)
    and each query's scan is restricted to its ``n_probe`` cells;
    ``packed_codes`` must then carry a ``cell_id`` column (pack with the
    cell assignment joined on). The interactive-batch boundary is
    ENFORCED, not advisory: expression size grows with
    #queries x n_sub x n_codes, so batches past the 131072
    total-LUT-entries budget (512 queries on the default 16x16 book)
    raise a ValueError naming the join path — bulk offline sweeps must
    use ``pq_topk``/``ivf_pq_topk`` with prebuilt codebooks+codes,
    which scale with partitions instead of plan size (pinned by
    tests/test_ann_recall.py's LUT-budget regression).

    ``queries``, ``codebooks``, and ``centroids`` each accept either a
    DataFrame (collected here — one tiny job each) or pre-collected
    rows (``(id, vector)`` / ``(m, code_id, code_vec)`` tuples). The
    latter is the deployed shape: codebooks and coarse centroids are
    client-resident index state (exactly how FAISS holds them in RAM),
    and query vectors arrive IN the search request rather than from a
    distributed table — passing them raw removes every driver job from
    the search path, leaving one Spark action."""
    import math

    def _fold_l2sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    def _fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    vec_ddl = corpus.schema[vec_col].dataType.simpleString()
    qrows = (
        queries.select(id_col, vec_col).collect()
        if isinstance(queries, DataFrame)
        else queries
    )
    qvecs = {r[0]: [float(v) for v in r[1]] for r in qrows}
    # Ids are interpolated as bigint SQL literals ({id}L) — a loud
    # precondition, not a silent parse failure downstream. The join-path
    # pq_topk keeps ids untyped through its joins; use it for
    # non-integer id columns.
    # bool is an int subclass but formats as the literal 'TrueL' — an
    # opaque parse failure later; exclude it here with the same loud
    # TypeError as any other non-integer id.
    bad = [
        q
        for q in qvecs
        if not isinstance(q, int) or isinstance(q, bool)
    ]
    if bad:
        raise TypeError(
            f"pq_search_packed requires integer ids; got {bad[:3]!r} — "
            "use the join path (pq_topk/ivf_pq_topk) for non-integer id "
            "columns"
        )
    # Query vectors round-trip through repr() -> string->double cast,
    # which is exact for FINITE doubles only ('inf'/'nan' cast to NULL
    # silently — a wrong cosine, not an error).
    if any(not math.isfinite(v) for vec in qvecs.values() for v in vec):
        raise ValueError("pq_search_packed requires finite query vectors")
    cbrows = (
        codebooks.select("m", "code_id", "code_vec").collect()
        if isinstance(codebooks, DataFrame)
        else codebooks
    )
    books: dict = {}
    for r in cbrows:
        books.setdefault(r[0], {})[r[1]] = [float(v) for v in r[2]]
    # The documented boundary, enforced: plan size grows with
    # #queries x n_sub x n_codes bigint LUT literals, so the cap is a
    # TOTAL-entries budget (131072 = 512 queries at the 16x16 default
    # book — a larger codebook proportionally shrinks the admitted
    # batch), not a flat query count that would still admit
    # megabyte-scale plans on a 16x256 book. A bulk offline sweep
    # through this path would stall the driver rather than fail —
    # route it to the join path.
    n_codes_actual = max((len(v) for v in books.values()), default=0)
    if len(qvecs) * n_sub * n_codes_actual > 131_072:
        raise ValueError(
            f"pq_search_packed got {len(qvecs)} queries x n_sub={n_sub} "
            f"x n_codes={n_codes_actual} = "
            f"{len(qvecs) * n_sub * n_codes_actual} LUT literals "
            "(budget 131072) — it is the interactive-batch path (plan "
            "size grows per query x codebook); use pq_topk/ivf_pq_topk "
            "with prebuilt codebooks+codes for bulk offline sweeps"
        )

    luts: dict = {}
    for qid, vec in qvecs.items():
        dim = len(vec)
        if dim < n_sub or dim % n_sub:
            raise ValueError(
                f"embedding dim {dim} is not a positive multiple of "
                f"n_sub={n_sub}"
            )
        sub_len = dim // n_sub
        # Positional LUT: entry [m][dense] pairs with pq_pack_codes'
        # dense codes — both sides order each subspace's codewords by
        # sorted code id, so they cannot disagree.
        luts[qid] = [
            [
                int(math.floor(
                    _fold_l2sq(
                        vec[m * sub_len:(m + 1) * sub_len], books[m][cid]
                    ) * PQ_DIST_QUANT
                ))
                for cid in sorted(books[m])
            ]
            for m in range(n_sub)
        ]

    probes: dict | None = None
    if centroids is not None:
        crows = (
            centroids.select(id_col, vec_col).collect()
            if isinstance(centroids, DataFrame)
            else centroids
        )
        cents = {r[0]: [float(v) for v in r[1]] for r in crows}
        if any(not isinstance(c, int) for c in cents):
            raise TypeError(
                "pq_search_packed requires integer cell ids (interpolated "
                "as bigint SQL literals)"
            )
        cnorms = {c: math.sqrt(_fold_dot(v, v)) for c, v in cents.items()}
        probes = {}
        for qid, vec in qvecs.items():
            qn = math.sqrt(_fold_dot(vec, vec))
            sims = [
                (_fold_dot(vec, cv) / (qn * cnorms[c]), c)
                for c, cv in cents.items()
            ]
            # ivf_assign's ORDER BY cell_sim DESC, cell_id DESC LIMIT n.
            sims.sort(key=lambda t: (-t[0], -t[1]))
            probes[qid] = sorted(c for _, c in sims[:n_probe])

    # Two-step projection: each query's positional distance table enters
    # the plan ONCE as a constant nested-array column (folded to a
    # literal), and the per-query ADC is 16 unrolled O(1) element_at
    # terms against it — unrolled expressions stay inside whole-stage
    # codegen, where higher-order-function lambdas would not.
    qids = sorted(luts)
    base_cols = ["cand_id"] + (["cell_id"] if probes is not None else [])
    with_luts = packed_codes.select(
        *base_cols,
        "code_arr",
        *[
            # One SQL parse per table — F.lit(nested_list) would push
            # every element through py4j one call at a time (~1.6 s for
            # 8x256 entries, measured). The L suffix keeps entries
            # bigint: small values would otherwise fold the array to
            # int32 and the 16-term ADC sum (up to ~16 x 1e10
            # nano-units) would wrap.
            F.expr(
                "array("
                + ", ".join(
                    "array(" + ", ".join(f"{d}L" for d in row) + ")"
                    for row in luts[qid]
                )
                + ")"
            ).alias(f"_lut_{i}")
            for i, qid in enumerate(qids)
        ],
    )
    structs = []
    for i, qid in enumerate(qids):
        terms = " + ".join(
            f"element_at(element_at(_lut_{i}, {m + 1}),"
            f" element_at(code_arr, {m + 1}) + 1)"
            for m in range(n_sub)
        )
        fields = [f"'query_id', {qid}L", f"'adc_q', CAST({terms} AS BIGINT)"]
        if probes is not None:
            cells = ", ".join(f"{c}L" for c in probes[qid])
            fields.append(f"'cells', array({cells})")
        structs.append(f"named_struct({', '.join(fields)})")
    scored = with_luts.select(
        *base_cols,
        F.expr(f"explode(array({', '.join(structs)}))").alias("p"),
    ).filter(F.col("cand_id") != F.col("p.query_id"))
    if probes is not None:
        scored = scored.filter(
            F.array_contains(F.col("p.cells"), F.col("cell_id"))
        )
    adc = scored.select(
        F.col("p.query_id").alias("query_id"),
        "cand_id",
        F.col("p.adc_q").alias("adc_q"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc_q"), F.col("cand_id"))
    short = (
        adc.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= k * shortlist_factor)
        .select("query_id", "cand_id")
    )
    # SQL-string literals again (not F.lit(list) — py4j per-element).
    # repr() emits the shortest exact decimal for a double and the
    # string→double cast parses it back to the identical bits; the cast
    # to the corpus element type (float roundtrips exactly) keeps the
    # re-rank arithmetic expression-identical to pq_topk's frame path.
    qmap_entries = ", ".join(
        f"{qid}L, CAST(array("
        + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in vec)
        + f") AS {vec_ddl})"
        for qid, vec in sorted(qvecs.items())
    )
    qvec_map = F.expr(f"map({qmap_entries})")
    rescored = (
        corpus.select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("cand_vec"),
            norm(F.col(vec_col)).alias("cand_norm"),
        )
        .join(F.broadcast(short), "cand_id")
        .withColumn("query_vec", F.element_at(qvec_map, F.col("query_id")))
        .withColumn(
            "cosine_sim",
            dot(F.col("query_vec"), F.col("cand_vec"))
            / (norm(F.col("query_vec")) * F.col("cand_norm")),
        )
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("cand_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine_sim", "rank")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    # 0.75 on purpose: both lam and 1 - lam are exact binary fractions,
    # so a SQL mirror's parsed literals match the Python-computed
    # doubles bit-for-bit (0.7 would not: 1.0 - 0.7 != parsed 0.3).
    lam: float = 0.75,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist_df: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): a
    diversified top-``k`` — each step picks the candidate maximizing
    ``lam * relevance - (1 - lam) * max_sim_to_already_selected``, so
    near-duplicate results cannot crowd the head of the list (the
    retrieval-side twin of SemDeDup's corpus-side eviction).

    Exact greedy MMR is inherently sequential in ``k``; this is the
    bounded UNROLLED form (the provable shape ``bpe_merge_steps``
    established): step 1 is the pure-relevance winner, then ``k - 1``
    rounds each join the REMAINING shortlist rows (<= ``shortlist`` per
    query) against the selected set (<= k per query), take the
    max-similarity fold, and pick the (mmr DESC, cand_id ASC)
    row_number winner. Work per round is |Q| x shortlist x k rows —
    query-bounded, never corpus-bounded; the corpus appears only in the
    initial shortlist and one equi-join to fetch the shortlist's
    vectors. The shortlist provider is PLUGGABLE: by default the exact
    :func:`brute_force_topk` at size ``shortlist``; at scale pass
    ``shortlist_df`` — any (query_id, cand_id, cosine_sim) frame from
    an index-backed path (``pq_topk``/``ivf_pq_topk``/
    ``pq_search_packed``, whose final exact re-rank makes cosine_sim
    the same exact relevance the brute-force path feeds). The MMR
    rounds are agnostic to the provider — on an identical shortlist
    the output is bit-identical (pinned by tests/test_ann_recall.py),
    so the only quality delta is the shortlist's own recall, already
    bounded by the ANN recall pins. The accumulated-picks frame is
    localCheckpointed every round (it feeds TWO branches of the next
    round, which would otherwise double the plan tree per round) — so
    the rounds execute eagerly at call time, the same documented trade
    as ``undirected_pagerank``; ``dedup.unpersist_all`` frees the
    checkpoints.

    All scoring is IEEE-deterministic for the oracle: relevance is the
    shared cosine fold, MAX over doubles is order-independent, and the
    ``lam``/``1 - lam`` literals parse to identical binary64 on both
    engines. Returns (query_id, cand_id, mmr_score, rank).
    """
    base = (
        shortlist_df.select("query_id", "cand_id", "cosine_sim")
        if shortlist_df is not None
        else brute_force_topk(
            corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col
        )
    )
    vecs = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        norm(F.col(vec_col)).alias("cand_norm"),
    )
    scored = base.join(vecs, "cand_id").select(
        "query_id",
        "cand_id",
        F.col("cosine_sim").alias("rel"),
        "cand_vec",
        "cand_norm",
    )
    # The shortlist feeds every round: persist it (|Q| x shortlist rows,
    # bounded) so the exact scoring pass runs once, not k times.
    from .dedup import _local_checkpoint, _persist

    scored = _persist(scored)
    if k < 1:
        # k is a hard bound like every other topk operator here — an
        # empty result, not a phantom rank-1 row.
        return scored.limit(0).select(
            "query_id",
            "cand_id",
            F.col("rel").alias("mmr_score"),
            F.lit(1).cast("long").alias("rank"),
        )
    w1 = W.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("cand_id"))
    picked = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            F.col("rel").alias("mmr_score"),
            F.lit(1).cast("long").alias("rank"),
            "cand_vec",
            "cand_norm",
        )
    )
    # Each round references the accumulated picks TWICE (selected side +
    # anti-join), so a lazy union chain doubles the plan tree per round
    # (~2^k copies of the shortlist lineage — measured 144 s at sf0.1
    # for k=5 before this). localCheckpoint truncates the tree to the
    # materialized picks (<= |Q| rows per round) — the same bounded-plan
    # trade as undirected_pagerank: rounds execute EAGERLY at call time
    # and are not recomputable on executor loss.
    out = _local_checkpoint(picked)
    for step in range(2, k + 1):
        sel = out.select(
            "query_id",
            F.col("cand_id").alias("sel_id"),
            F.col("cand_vec").alias("sel_vec"),
            F.col("cand_norm").alias("sel_norm"),
        )
        rem = scored.join(
            out.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_anti"
        )
        sims = (
            rem.join(sel, "query_id")
            .withColumn(
                "sim",
                dot(F.col("cand_vec"), F.col("sel_vec"))
                / (F.col("cand_norm") * F.col("sel_norm")),
            )
            .groupBy("query_id", "cand_id")
            .agg(
                F.max("sim").alias("max_sim"),
                F.first("rel").alias("rel"),
                F.first("cand_vec").alias("cand_vec"),
                F.first("cand_norm").alias("cand_norm"),
            )
        )
        mmr = sims.withColumn(
            "mmr",
            F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("max_sim"),
        )
        wk = W.partitionBy("query_id").orderBy(F.col("mmr").desc(), F.col("cand_id"))
        pick = (
            mmr.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "cand_id",
                F.col("mmr").alias("mmr_score"),
                F.lit(step).cast("long").alias("rank"),
                "cand_vec",
                "cand_norm",
            )
        )
        out = _local_checkpoint(out.unionByName(pick))
    return out.select("query_id", "cand_id", "mmr_score", "rank")


def mmr_rerank_local(
    corpus: DataFrame,
    shortlist_df: DataFrame,
    k: int = 5,
    lam: float = 0.75,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Driver-side MMR over an index-backed shortlist — the interactive
    latency twin of :func:`mmr_rerank`, the same relationship
    :func:`pq_search_packed` has to the join-based PQ search. The
    distributed form pays k-1 eagerly-checkpointed Spark rounds (each a
    join + window job) over a frame that is |Q| x shortlist rows — at
    interactive batch sizes that is a dozen task-scheduling round-trips
    to diversify a few hundred rows. Here a cheap ids-only count job
    enforces the 65,536-row budget BEFORE any vector reaches the
    driver, one job then joins the shortlist to its vectors and
    collects it, the greedy recurrence runs in pure Python with the
    SAME left-to-right IEEE fold as ``functions.vectors.dot`` and the
    same ``lam * rel - (1 - lam) * max_sim`` / (mmr DESC, id ASC)
    selection, and the result returns as one literal frame —
    bit-identical to mmr_rerank on the same shortlist (pinned by
    tests/test_ann_recall.py::test_mmr_local_identical_to_distributed).
    Bulk offline diversification (unbounded query sets) belongs on
    :func:`mmr_rerank`, which scales with partitions; the 65,536-row
    budget raises rather than letting a driver collect grow unbounded.
    """
    vecs = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        norm(F.col(vec_col)).alias("cand_norm"),
    )
    joined = (
        shortlist_df.select("query_id", "cand_id", "cosine_sim")
        .join(vecs, "cand_id")
        .select("query_id", "cand_id", "cosine_sim", "cand_vec", "cand_norm")
    )
    # Enforce the budget BEFORE materializing vectors on the driver: a
    # limit(budget+1).count() over the ids-only projection costs one
    # cheap job and guarantees the raise fires before an over-budget
    # collect can OOM the driver (the guard the docstring promises).
    # The join is persisted across the probe+collect pair so this hot
    # interactive path runs the shortlist-to-vectors join ONCE, not
    # twice; the result frame below is literal rows, so the cache is
    # released immediately after the collect.
    joined = joined.persist()
    try:
        probe = joined.select("query_id", "cand_id").limit(65_537).count()
        if probe > 65_536:
            raise ValueError(
                f"mmr_rerank_local shortlist exceeds {probe - 1}+ rows "
                "(budget 65536) — it is the interactive-batch path; use "
                "mmr_rerank for bulk offline diversification"
            )
        rows = joined.collect()
    finally:
        joined.unpersist(blocking=True)

    def _fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r[0], []).append(
            (r[1], float(r[2]), [float(v) for v in r[3]], float(r[4]))
        )
    out_rows = []
    one_minus = 1.0 - lam  # computed ONCE in Python, as mmr_rerank's
    # F.lit(1.0 - lam) literal is — bit-identical by construction
    for qid, cands in by_q.items():
        if k < 1:
            continue
        first = min(cands, key=lambda c: (-c[1], c[0]))
        picked = [first]
        out_rows.append((qid, first[0], first[1], 1))
        remaining = [c for c in cands if c[0] != first[0]]
        for step in range(2, k + 1):
            if not remaining:
                break
            best = None
            for c in remaining:
                max_sim = max(
                    _fold_dot(c[2], p[2]) / (c[3] * p[3]) for p in picked
                )
                mmr = lam * c[1] - one_minus * max_sim
                if best is None or (-mmr, c[0]) < (-best[1], best[0]):
                    best = (c[0], mmr, c)
            picked.append(best[2])
            out_rows.append((qid, best[0], best[1], step))
            remaining = [c for c in remaining if c[0] != best[0]]
    spark = shortlist_df.sparkSession
    fields = {f.name: f for f in shortlist_df.schema.fields}
    schema = T.StructType(
        [
            T.StructField("query_id", fields["query_id"].dataType),
            T.StructField("cand_id", fields["cand_id"].dataType),
            T.StructField("mmr_score", T.DoubleType()),
            T.StructField("rank", T.LongType()),
        ]
    )
    return spark.createDataFrame(out_rows, schema)


SQ8_LEVELS = 255  # uint8 code range 0..255


def sq8_stats(
    corpus: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """ONE-row frame of per-dimension scalar-quantization parameters:
    ``mins`` (array of per-dim corpus minima) and ``scales``
    ((max-min)/255 per dim). One full-corpus aggregate with 2*dim
    partial-merged min/max accumulators — a single reduce, no shuffle of
    the vectors themselves; the result is a few KB regardless of corpus
    size, so downstream plans broadcast it."""
    aggs = []
    for d in range(1, dim + 1):
        e = F.element_at(F.col(vec_col), d).cast("double")
        aggs.append(F.min(e).alias(f"_mn_{d}"))
        aggs.append(F.max(e).alias(f"_mx_{d}"))
    row = corpus.agg(*aggs)
    mins = F.array(*[F.col(f"_mn_{d}") for d in range(1, dim + 1)])
    scales = F.array(
        *[
            (F.col(f"_mx_{d}") - F.col(f"_mn_{d}")) / float(SQ8_LEVELS)
            for d in range(1, dim + 1)
        ]
    )
    return row.select(mins.alias("mins"), scales.alias("scales"))


def sq8_codes_col(vec_col, mins_col, scales_col):
    """SQ8 encode: code = greatest(0, least(floor((v - min)/scale), 255))
    per dim (0 on constant dims) — the uint8 at-rest form of a vector.
    BOTH clamps matter: with full-corpus stats every value is inside
    [min, max] and the lower clamp is a no-op, but a store whose stats
    were FROZEN on a bootstrap corpus (streaming/vector_ingest) later
    encodes values outside the bootstrap range — without the clamps a
    below-min value would produce a NEGATIVE code, silently breaking
    the uint8 0..255 contract any byte-packed deployment relies on."""
    centered = F.zip_with(vec_col, mins_col, lambda v, m: v.cast("double") - m)
    return F.zip_with(
        centered,
        scales_col,
        lambda c, s: F.when(s == 0.0, F.lit(0)).otherwise(
            F.greatest(F.least(F.floor(c / s), F.lit(255.0)), F.lit(0.0)).cast(
                "int"
            )
        ),
    )


def sq8_reconstruct_col(codes_col, mins_col, scales_col):
    """SQ8 decode: the midpoint reconstruction (code + 0.5)*scale + min
    per dim. Both halves are deterministic IEEE double ops in a FIXED
    order (subtract, divide, floor, clamp / add half, multiply, add)
    mirrored verbatim by the SQL oracle, so reconstructed values are
    bit-identical across engines."""
    part = F.zip_with(
        codes_col, scales_col, lambda c, s: (c.cast("double") + 0.5) * s
    )
    return F.zip_with(part, mins_col, lambda x, m: x + m)


def _sq8_recon_col(vec_col, mins_col, scales_col):
    """Quantize-then-reconstruct (encode immediately decoded) — the
    search-time form when raw vectors are still in hand; stores that
    keep codes at rest encode once and decode with
    :func:`sq8_reconstruct_col`."""
    return sq8_reconstruct_col(
        sq8_codes_col(vec_col, mins_col, scales_col), mins_col, scales_col
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Asymmetric scalar-quantized (SQ8 / int8) top-k: candidates are
    ranked by the cosine of the RAW query vector against the candidate's
    quantize-then-reconstruct form — the uniform-scalar-quantizer ADC
    (Jegou et al.'s SDC/ADC taxonomy, PAMI'11; FAISS
    ``ScalarQuantizer(QT_8bit)``), the third code-at-rest modality next
    to PQ (codebook product) and sign-LSH (1-bit).

    At rest a 64-dim float32 vector becomes 64 uint8 codes + a shared
    2*64-double stats row: a 4x scan reduction, which at 100 TB is 4x
    fewer bytes off the object store for every search. This operator is
    the brute-scan baseline over those codes (one corpus pass, per-pair
    work = one fold against the broadcast query set); the IVF cell
    routing in :func:`ivf_topk` composes in front of it exactly as it
    does for PQ when the corpus outgrows a full scan.

    Queries stay full-precision (asymmetric: only the corpus side pays
    quantization error), so recall tracks the exact brute-force ranking
    closely — pinned by tests/test_ann_recall.py.
    """
    stats = sq8_stats(corpus, vec_col=vec_col, dim=dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(F.col(vec_col)).alias("query_norm"),
    )
    c = (
        fan_out(corpus)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col).alias("cand_id"),
            _sq8_recon_col(F.col(vec_col), F.col("mins"), F.col("scales")).alias(
                "recon_vec"
            ),
        )
        .withColumn("recon_norm", norm(F.col("recon_vec")))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "sq8_sim",
            dot(F.col("query_vec"), F.col("recon_vec"))
            / (F.col("query_norm") * F.col("recon_norm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sq8_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sq8_sim", "rank")
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
    kmeans_sample_mod: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """IVF + SQ8 composed: inverted-file cells bound the WORK (only
    probed cells are scored), int8 scalar quantization bounds the BYTES
    (codes at rest are 4x smaller than float32) — the same build/search
    split as :func:`ivf_pq_topk` with the simpler uniform scalar
    quantizer in place of codebooks.

    Build (offline, full precision): train centroids, assign every
    corpus vector to its nearest cell, store SQ8 codes per vector.
    Search: probe ``n_probe`` cells per query, score ONLY those cells'
    candidates with the asymmetric reconstructed-cosine
    (:func:`sq8_topk`'s metric). Assignment uses the raw vectors — the
    build pass sees them anyway — so cell routing is exact and only the
    scoring pays quantization error.
    """
    if n_probe > n_cells:
        raise ValueError(f"n_probe={n_probe} exceeds n_cells={n_cells}")
    centroids = kmeans_centroids(
        corpus,
        n_cells=n_cells,
        n_iters=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
        sample_mod=kmeans_sample_mod,
    ).select(F.col("cell_id").alias(id_col), F.col("cell_vec").alias(vec_col))
    from .dedup import _persist

    centroids = _persist(centroids)
    stats = sq8_stats(corpus, vec_col=vec_col, dim=dim)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, n_probe=1)
    coded = (
        assigned.crossJoin(F.broadcast(stats))
        .select(
            "cand_id",
            "cell_id",
            _sq8_recon_col(F.col("cand_vec"), F.col("mins"), F.col("scales")).alias(
                "recon_vec"
            ),
        )
        .withColumn("recon_norm", norm(F.col("recon_vec")))
    )
    probes = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe).select(
        F.col("cand_id").alias("query_id"),
        F.col("cand_vec").alias("query_vec"),
        F.col("cand_norm").alias("query_norm"),
        "cell_id",
    )
    # Same pair-frame rebalance as ivf_topk: the broadcast probe join
    # inherits `coded`'s (scan-sized, often few-partition) layout, so
    # the asymmetric-ADC fold would run on a few cores without it.
    # Stats-decided from the corpus scan, not probed from the join
    # output (see fan_out_by_stats; r10 A/B 6.95 -> 5.60 s at sf0.1).
    scored = fan_out_by_stats(
        coded.join(F.broadcast(probes), "cell_id").filter(
            F.col("cand_id") != F.col("query_id")
        ),
        corpus,
    ).withColumn(
        "sq8_sim",
        dot(F.col("query_vec"), F.col("recon_vec"))
        / (F.col("query_norm") * F.col("recon_norm")),
    )
    w = W.partitionBy("query_id").orderBy(F.col("sq8_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sq8_sim", "rank")
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    rate_num: int = 1,
    rate_den: int = 5,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
    kmeans_sample_mod: int | None = None,
) -> DataFrame:
    """Cluster-balanced coreset selection: per KMeans cell, keep the
    ceil(rate * cell_size) members ranked by a deterministic md5 key —
    the DataComp/DCLM-style diversity-preserving sample (a global random
    sample over-represents dense regions and can drop small clusters
    entirely; sampling WITHIN cells guarantees every region of the
    embedding space keeps ceil-proportional representation).

    Determinism: the per-cell order is md5(id) (engine-reproducible,
    effectively uniform, id tie-break), and the keep rule is the pure
    integer comparison ``rank * rate_den <= cell_size * rate_num +
    rate_den - 1`` (== rank <= ceil(cell_size * num/den), no float).
    Any engine, partitioning, or rerun picks the identical set.

    Scale: one broadcast-centroid assign pass over the corpus (map-side,
    no corpus shuffle), then one window partitioned BY CELL — never a
    global window; per-cell state is a counter. Cells should scale
    ~sqrt(n) like the other cell-blocked operators.
    """
    if not (0 < rate_num <= rate_den):
        raise ValueError(f"rate {rate_num}/{rate_den} must be in (0, 1]")
    centroids = kmeans_centroids(
        corpus,
        n_cells=n_cells,
        n_iters=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
        sample_mod=kmeans_sample_mod,
    ).select(F.col("cell_id").alias(id_col), F.col("cell_vec").alias(vec_col))
    from .dedup import _persist

    centroids = _persist(centroids)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, n_probe=1).select(
        F.col("cand_id").alias(id_col), "cell_id"
    )
    per_cell = W.partitionBy("cell_id")
    ranked = per_cell.orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        assigned.withColumn("cell_size", F.count("*").over(per_cell))
        .withColumn("pick_rank", F.row_number().over(ranked))
        .filter(
            F.col("pick_rank") * rate_den
            <= F.col("cell_size") * rate_num + (rate_den - 1)
        )
        .select(
            id_col,
            "cell_id",
            F.col("cell_size").cast("long").alias("cell_size"),
            F.col("pick_rank").cast("long").alias("pick_rank"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for embedding-model training: per query, the
    top-``k`` most cosine-similar corpus vectors whose ``label_col``
    DIFFERS from the query's — the near-miss negatives contrastive
    training needs (random negatives are trivially separable; the
    informative ones are the highest-similarity non-matches, the
    standard DPR/SBERT mining recipe).

    Same kernel discipline as :func:`brute_force_topk`: norms map-side,
    the bounded query set broadcast, the corpus fanned out, one fold per
    pair; the label mismatch is a predicate INSIDE the scored join (so
    the window ranks only true negatives — a post-filter on a top-k
    shortlist would under-fill whenever same-label vectors crowd the
    head). At scale the scan side swaps to the IVF cell routing exactly
    as for :func:`ivf_topk`; the label predicate composes unchanged."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(F.col(vec_col)).alias("query_norm"),
        F.col(label_col).alias("query_label"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        norm(F.col(vec_col)).alias("cand_norm"),
        F.col(label_col).alias("cand_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_label") != F.col("query_label"))
        .withColumn(
            "cosine_sim",
            dot(F.col("query_vec"), F.col("cand_vec"))
            / (F.col("query_norm") * F.col("cand_norm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            F.col("cand_label").alias("neg_label"),
            "cosine_sim",
            "rank",
        )
    )


def truncated_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    prefix_dims: int = 16,
    shortlist_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimension-adaptive retrieval (the Matryoshka/MRL serving pattern,
    Kusupati et al. 2022): shortlist with the cosine of the FIRST
    ``prefix_dims`` coordinates — 4x fewer multiply-adds per pair at
    16/64, and at rest a deployment stores the prefix columnarly for a
    4x smaller scan — then re-rank the ``k * shortlist_factor``
    survivors with full-dimension exact cosine. The synthetic fixture's
    embeddings are NOT MRL-trained, so recall tracks the information in
    a random prefix rather than a front-loaded one; the measured floor
    lives in tests/test_ann_recall.py next to the other ANN families.
    Same deterministic fold/tie-break discipline; both stages are the
    proven brute-force kernel shapes, and the truncation is one
    ``slice`` — no second copy of the vectors at rest."""
    if prefix_dims < 1:
        raise ValueError("prefix_dims must be >= 1")
    pre = F.slice(F.col(vec_col), 1, prefix_dims)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(F.col(vec_col)).alias("query_norm"),
        pre.alias("query_pre"),
        norm(pre).alias("query_pre_norm"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        norm(F.col(vec_col)).alias("cand_norm"),
        pre.alias("cand_pre"),
        norm(pre).alias("cand_pre_norm"),
    )
    pre_scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "pre_sim",
            dot(F.col("query_pre"), F.col("cand_pre"))
            / (F.col("query_pre_norm") * F.col("cand_pre_norm")),
        )
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("pre_sim").desc(), F.col("cand_id")
    )
    short = (
        pre_scored.withColumn("prerank", F.row_number().over(wp))
        .filter(F.col("prerank") <= k * shortlist_factor)
    )
    rescored = short.withColumn(
        "cosine_sim",
        dot(F.col("query_vec"), F.col("cand_vec"))
        / (F.col("query_norm") * F.col("cand_norm")),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("cand_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine_sim", "rank")
    )


def ranking_metrics(
    ranked: DataFrame,
    relevant: DataFrame,
    k: int = 10,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Per-query retrieval-quality metrics over a ranked list —
    precision@k, MRR, and binary-relevance nDCG@k — the evaluation
    harness a retrieval stack runs against every index/fusion variant
    (the ranking-quality complement of :func:`knn_label_eval`'s label
    accuracy).

    ``ranked`` is any (query_id, cand_id, rank) top-k frame (the whole
    ANN family, ``bm25_topk``, ``rrf_fuse``) — rows past rank k are
    clamped off at entry, so a deeper provider list (e.g. a k=20 ANN
    shortlist evaluated at k=10) yields correct metrics@k rather than
    an out-of-range gain lookup (ANSI abort) or precision@k > 1.
    ``relevant`` is the full binary relevance POOL (query_id, cand_id)
    — the pool and not just the retrieved hits, because IDCG
    normalizes against the best achievable list: idcg = sum of the
    first min(k, |pool|) discounts. ``queries``, when given, is the
    evaluation universe (a query_id frame): queries the provider
    returned ZERO rows for then surface as all-zero metric rows
    instead of silently vanishing (which would inflate averages for a
    retriever that fails to retrieve). Default keeps the historical
    behavior of deriving the universe from ``ranked`` itself.

    Cross-engine determinism: the 1/log2(r+1) discounts and their
    prefix sums enter BOTH plans as Python-computed double literals
    (no engine evaluates a transcendental), DCG folds the per-hit
    gains in rank order via a sorted-array aggregate (the list_reduce
    mirror), MRR is one exact division, and precision@k is an exact
    dyadic-or-terminating ratio of small integers. Queries with an
    empty pool report zero metrics (idcg lookup at 0), not NULL."""
    import math

    ranked = ranked.filter(F.col("rank") <= k)

    disc = [0.0] + [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    prefix = [0.0]
    for r in range(1, k + 1):
        prefix.append(prefix[-1] + disc[r])
    # gain literal per rank (binary relevance: disc at the hit's rank);
    # rank cast to int — element_at's index type — so any provider's
    # rank column (row_number int, rrf_fuse's long) plugs in.
    gain = F.element_at(
        F.array(*[F.lit(d) for d in disc[1:]]), F.col("rank").cast("int")
    )
    pool = relevant.select("query_id", "cand_id").distinct()
    pool_sizes = pool.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_relevant_pool")
    )
    hits = ranked.join(pool, ["query_id", "cand_id"]).select(
        "query_id", "rank", gain.alias("gain")
    )
    per_q = (
        hits.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("hits_at_k"),
            F.min("rank").alias("_first"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("rank", "gain"))),
                F.lit(0.0),
                lambda acc, s: acc + s["gain"],
            ).alias("dcg"),
        )
    )
    idcg = F.element_at(
        F.array(*[F.lit(p) for p in prefix]),
        (F.least(F.lit(k).cast("long"), F.col("n_relevant_pool")) + 1).cast(
            "int"
        ),
    )
    if queries is None:
        queries = ranked.select("query_id").distinct()
    else:
        queries = queries.select("query_id").distinct()
    return (
        queries.join(pool_sizes, "query_id", "left")
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant_pool", F.lit(0).cast("long")).alias(
                "n_relevant_pool"
            ),
            F.coalesce("hits_at_k", F.lit(0).cast("long")).alias("hits_at_k"),
            (
                F.coalesce("hits_at_k", F.lit(0).cast("long")).cast("double")
                / F.lit(float(k))
            ).alias("precision_at_k"),
            F.coalesce(
                F.lit(1.0) / F.col("_first").cast("double"), F.lit(0.0)
            ).alias("mrr"),
            F.coalesce("dcg", F.lit(0.0)).alias("dcg"),
        )
        .withColumn(
            "idcg",
            F.when(F.col("n_relevant_pool") > 0, idcg).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "ndcg",
            F.when(
                F.col("idcg") > 0.0, F.col("dcg") / F.col("idcg")
            ).otherwise(F.lit(0.0)),
        )
    )
