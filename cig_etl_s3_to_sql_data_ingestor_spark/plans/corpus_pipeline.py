"""End-to-end corpus preparation: the composed pipeline a training-data
team runs between "raw documents landed" and "chunks ready to tokenize".

Stages (each one an operator that is also independently oracle-checked
through its ``queries()`` entry):

1. **exact dedup** — md5-content groups, keep the lowest id
   (operators.dedup.exact_duplicates);
2. **near dedup** — MinHash+LSH candidate pairs, exact-Jaccard verify,
   connected components, keep each cluster's canonical (lowest-id) doc
   (minhash_near_duplicates + connected_components);
2b. **frequent-segment dedup** (optional, ``frequent_segment_max``) —
   drop docs dominated by corpus-frequent k-token tiles, the CCNet
   segment-frequency stage (dedup.fixed_tile_profile) — catches heavy
   verbatim reuse below the minhash Jaccard threshold;
3. **quality filter** — heuristic score floor (operators.text.quality_scores);
4. **decontamination** — drop docs whose shingle overlap with a held-out
   benchmark corpus exceeds a threshold (corpus_prep.contamination_overlap);
5. **chunk** — token-window chunks ready for tokenization
   (corpus_prep.chunk_documents).

Everything stays lazy until the caller materializes the result; the
optional ``stats`` pass runs ONE count per stage boundary (aggregate-only
jobs, no data movement beyond each stage's own shuffles). Anti-joins
against the drop-sets are the scale-safe composition: the drop-sets are
id-only frames (tiny relative to the corpus) while the corpus itself
flows through exactly once.

The reference's pipeline stops at SQL ingestion (main.py:148-179); this
is the Spark-native continuation of the same data once landed.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import corpus_prep as cp
from ..operators import dedup as dd
from ..operators import text as tx


@dataclass(frozen=True)
class CorpusPrepConfig:
    """Thresholds for the composed pipeline (defaults sized for the
    synthetic corpus; production values are corpus-specific)."""

    minhash_threshold: float = 0.4
    quality_floor: float = 0.35
    contamination_max: float = 0.8
    chunk_size: int = 32
    chunk_overlap: int = 8
    id_col: str = "doc_id"
    text_col: str = "text"
    # Keep each near-dup cluster's best-scored member instead of the
    # smallest id (the keep/drop policy a training corpus usually wants).
    canonical_by_quality: bool = False
    # Optional final cap: keep the best-scored survivors until their
    # cumulative token count reaches this budget (None = no cap).
    token_budget: int | None = None
    # Optional CCNet-style frequent-segment stage (None = off): drop a
    # doc when MORE THAN this fraction of its non-overlapping
    # ``segment_k``-token tiles occur in another document — catches
    # heavy verbatim reuse that sits BELOW the minhash Jaccard
    # threshold (a short doc quoting a long one shares few shingles
    # relative to the union but may be mostly borrowed tiles itself).
    frequent_segment_max: float | None = None
    segment_k: int = 8


def _exact_drops(docs: DataFrame, cfg: CorpusPrepConfig) -> DataFrame:
    """ids of exact-duplicate copies (everything but each group's keeper)."""
    groups = dd.exact_duplicates(docs, cfg.id_col, cfg.text_col)
    dupes = groups.filter(F.col("n_copies") > 1)
    all_ids = docs.select(
        F.col(cfg.id_col), F.md5(F.col(cfg.text_col)).alias("content_hash")
    )
    return (
        all_ids.join(F.broadcast(dupes), "content_hash")
        .filter(F.col(cfg.id_col) != F.col("keeper_id"))
        .select(cfg.id_col)
    )


def _neardup_drops(docs: DataFrame, cfg: CorpusPrepConfig) -> DataFrame:
    """ids of near-duplicate cluster members that are not the canonical
    doc. Default canonical = minimum id (cluster_id by construction);
    with ``canonical_by_quality`` the canonical is the best-scored member
    (score DESC, id ASC tie-break — same rule as Q:`dedup_canonical`)."""
    pairs = dd.minhash_near_duplicates(
        docs, cfg.id_col, cfg.text_col, threshold=cfg.minhash_threshold
    )
    comps = dd.connected_components(pairs)
    if not cfg.canonical_by_quality:
        return (
            comps.filter(F.col(cfg.id_col) != F.col("cluster_id"))
            .select(cfg.id_col)
        )
    from pyspark.sql import Window as W

    q = tx.quality_scores(docs, cfg.id_col, cfg.text_col).select(
        cfg.id_col, "quality_score"
    )
    ranked = W.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col(cfg.id_col)
    )
    return (
        comps.join(q, cfg.id_col)
        .withColumn("_rn", F.row_number().over(ranked))
        .filter(F.col("_rn") > 1)
        .select(cfg.id_col)
    )


def _frequent_segment_drops(docs: DataFrame, cfg: CorpusPrepConfig) -> DataFrame:
    """ids of docs dominated by corpus-frequent tiles (shared fraction
    strictly above ``frequent_segment_max``) — the CCNet segment-
    frequency dedup stage, tile unit = dedup.fixed_tile_profile (the
    same machinery Q:`frequent_segment_filter` oracle-checks). Docs too
    short to tile never appear in the tile frame and are kept."""
    tiles = dd.fixed_tile_profile(docs, cfg.id_col, cfg.text_col, k=cfg.segment_k)
    freq = tiles.groupBy("tile_hash").agg(
        F.countDistinct(cfg.id_col).alias("_ndocs")
    )
    return (
        tiles.join(freq, "tile_hash")
        .groupBy(cfg.id_col)
        .agg(
            F.count("*").alias("_n_tiles"),
            F.sum((F.col("_ndocs") > 1).cast("long")).alias("_n_shared"),
        )
        .filter(
            F.col("_n_shared").cast("double")
            > F.lit(float(cfg.frequent_segment_max)) * F.col("_n_tiles")
        )
        .select(cfg.id_col)
    )


def _low_quality_drops(docs: DataFrame, cfg: CorpusPrepConfig) -> DataFrame:
    return (
        tx.quality_scores(docs, cfg.id_col, cfg.text_col)
        .filter(F.col("quality_score") < cfg.quality_floor)
        .select(cfg.id_col)
    )


def _contaminated_drops(
    docs: DataFrame, benchmark: DataFrame, cfg: CorpusPrepConfig
) -> DataFrame:
    return (
        cp.contamination_overlap(docs, benchmark, cfg.id_col, cfg.text_col)
        .filter(F.col("overlap_frac") > cfg.contamination_max)
        .select(cfg.id_col)
    )


def prepare_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    cfg: CorpusPrepConfig = CorpusPrepConfig(),
    with_stats: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the full preparation pipeline; returns (chunks, stats).

    ``chunks`` is the chunked clean corpus (doc_id, chunk_idx,
    chunk_start, n_chunk_tokens, chunk_hash). ``stats`` counts survivors
    at each stage boundary when ``with_stats`` (one aggregate job per
    stage; {} otherwise).

    Each filter stage materializes only an id-frame of DROPS; the corpus
    is never re-shuffled between stages (anti-joins against broadcast-able
    id sets). At 100 TB the drop-sets are still small: duplicates,
    low-quality and contaminated docs are minorities of ids, not texts.
    """
    stats: dict[str, int] = {}
    if with_stats:
        stats["input"] = docs.count()

    stage1 = docs.join(
        _exact_drops(docs, cfg), cfg.id_col, "left_anti"
    )
    if with_stats:
        stats["after_exact_dedup"] = stage1.count()

    stage2 = stage1.join(
        _neardup_drops(stage1, cfg), cfg.id_col, "left_anti"
    )
    if with_stats:
        stats["after_near_dedup"] = stage2.count()

    stage2b = stage2
    if cfg.frequent_segment_max is not None:
        stage2b = stage2.join(
            _frequent_segment_drops(stage2, cfg), cfg.id_col, "left_anti"
        )
        if with_stats:
            stats["after_segment_dedup"] = stage2b.count()

    stage3 = stage2b.join(
        _low_quality_drops(stage2b, cfg), cfg.id_col, "left_anti"
    )
    if with_stats:
        stats["after_quality"] = stage3.count()

    stage4 = stage3
    if benchmark is not None:
        stage4 = stage3.join(
            _contaminated_drops(stage3, benchmark, cfg), cfg.id_col, "left_anti"
        )
        if with_stats:
            stats["after_decontamination"] = stage4.count()

    stage5 = stage4
    if cfg.token_budget is not None:
        doc_stats = tx.quality_scores(stage4, cfg.id_col, cfg.text_col).select(
            cfg.id_col, "n_tokens", "quality_score"
        )
        kept = cp.budget_select(doc_stats, cfg.token_budget, id_col=cfg.id_col).select(
            cfg.id_col
        )
        stage5 = stage4.join(kept, cfg.id_col, "left_semi")
        if with_stats:
            stats["after_budget"] = stage5.count()

    chunks = cp.chunk_documents(
        stage5, cfg.id_col, cfg.text_col, cfg.chunk_size, cfg.chunk_overlap
    )
    if with_stats:
        stats["chunks"] = chunks.count()
    return chunks, stats


# Bump when the shard assignment or the publish layout changes, so a table
# published by older code never passes for a finished run of this one.
SHARD_PLAN_VERSION = 1
_SHARD_SCHEMA = "shard_id long"


def content_digests(frames: dict[str, DataFrame]) -> dict[str, dict]:
    """A digest of each frame's rows that depends on neither row order
    nor partitioning: schema, row count and two independent 64-bit row
    hash sums (xxhash64 of the values, md5 of the row's JSON) over every
    column, summed as decimal(38,0) so they cannot overflow. One grouped
    aggregate computes the digests of all ``frames`` together."""
    parts = []
    for name, df in frames.items():
        # xxhash64 refuses map values; hash their JSON instead.
        cols = [
            F.to_json(df[c]) if "map<" in df.schema[c].dataType.simpleString()
            else df[c]
            for c in df.columns
        ]
        row_json = F.to_json(F.struct(*[df[c] for c in df.columns]))
        md5_64 = F.conv(F.substring(F.md5(row_json), 1, 16), 16, 10)
        parts.append(
            df.select(
                F.lit(name).alias("_input"),
                F.xxhash64(*cols).cast("decimal(38,0)").alias("_h1"),
                md5_64.cast("decimal(38,0)").alias("_h2"),
            )
        )
    union = parts[0]
    for part in parts[1:]:
        union = union.unionByName(part)
    sums = {
        r[0]: r[1:]
        for r in union.groupBy("_input")
        .agg(F.count(F.lit(1)), F.sum("_h1"), F.sum("_h2"))
        .collect()
    }
    out = {}
    for name, df in frames.items():
        n, h1, h2 = sums.get(name, (0, 0, 0))
        out[name] = {
            "schema": df.schema.simpleString(),
            "rows": n,
            "xxhash64_sum": str(h1),
            "md5_sum": str(h2),
        }
    return out


def _shard_plan(docs, benchmark, cfg, n_shards, bin_budget) -> dict:
    """The fingerprint of one publish: everything the shard assignment is
    a pure function of, in its JSON form (as a manifest stores it)."""
    frames = {"docs": docs}
    if benchmark is not None:
        frames["benchmark"] = benchmark
    digests = content_digests(frames)
    plan = {
        "plan_version": SHARD_PLAN_VERSION,
        "docs": digests["docs"],
        "benchmark": digests.get("benchmark"),
        "cfg": asdict(cfg),
        "n_shards": n_shards,
        "bin_budget": bin_budget,
    }
    return json.loads(json.dumps(plan))


def _shard_rows(df: DataFrame) -> dict[int, int]:
    """{shard_id: rows} — one groupBy over ``df``."""
    return {r[0]: r[1] for r in df.groupBy("shard_id").count().collect()}


def _verify_error(snap: dict[int, int], want: dict[int, int]) -> RuntimeError:
    return RuntimeError(
        "training-shard verify failed: snapshot per-shard "
        f"counts {sorted(snap.items())} != computed "
        f"{sorted(want.items())} — duplicate or missing "
        "shards (concurrent writer?); vacuum + rewrite"
    )


def write_training_shards(
    docs: DataFrame,
    table_path: str,
    benchmark: DataFrame | None = None,
    cfg: CorpusPrepConfig = CorpusPrepConfig(),
    n_shards: int = 16,
    bin_budget: int = 256,
    shards_per_commit: int = 4,
    verify: bool = True,
) -> dict[str, int]:
    """The terminal stage every training-data team actually ships:
    dedup → filter → chunk (:func:`prepare_corpus`) → deterministic
    shard + pack-bin assignment (corpus_prep.shard_pack_assignments) →
    EXACTLY-ONCE sharded publish through the manifest sink.

    Commit protocol (all machinery from sources.manifest_sink — data
    dirs are write-once, readers see only manifest-listed batches):

    - shards are written in WAVES of ``shards_per_commit`` disjoint
      shard ids; each wave is one ``write_snapshot(mode="append")`` —
      data files land first, the (tiny) manifest commit makes them
      visible atomically;
    - every wave commit records the publish's PLAN in its manifest
      ``info``: a fingerprint (a content digest of ``docs`` and of
      ``benchmark`` — :func:`content_digests` — plus ``asdict(cfg)``,
      ``n_shards``, ``bin_budget`` and ``SHARD_PLAN_VERSION``) and the
      computed per-shard row counts;
    - a crash between waves loses nothing: committed waves are visible,
      the in-flight wave's data dir has no manifest entry (invisible;
      ``vacuum`` reclaims it), and a re-run RESUMES — it recomputes the
      deterministic assignment, reads the snapshot's already-committed
      shard ids, and writes only the missing shards.

    Re-run protocol. A run first computes the plan fingerprint (one
    grouped aggregate over the inputs), reads the latest committed
    manifest's record (no Spark job) and counts the rows per shard of
    that snapshot (one ``groupBy("shard_id").count()``). When the
    fingerprints match and every recorded shard is committed with its
    recorded count, the table is finished: the run returns without
    calling :func:`prepare_corpus`. When they match and every recorded
    shard is present but a count differs (with ``verify``), it raises
    the verify error below. Any other case — no record, a changed input,
    config or shard count, shards missing after a crash, another
    writer's later commit — takes the full path: recompute the lineage,
    write the missing shards, verify. A completed table re-run is
    therefore a cheap no-op, and an idempotent one, because shard
    membership is a pure function of document content/ids (md5 buckets
    + prefix sums, no RNG, no partitioning dependence).

    Single-writer assumption (same as any batch publisher): two
    concurrent runs against one table can both commit a shard. The
    ``verify`` pass catches that loudly — it compares per-shard row
    counts in the final snapshot against the computed assignment and
    raises on any duplicate or missing shard.

    Returns ``{"written_shards": w, "skipped_shards": s, "rows": n}``.

    Scale: the expensive lineage (prepare_corpus) is persisted once and
    reused by every wave — without it each wave would re-run dedup's
    LSH joins; one ``groupBy("shard_id").count()`` materializes it and
    gives the shards to write, the counts to record and verify, and the
    row total. The lineage's caches (the assignment and the frames the
    dedup operators persist for it) are released before returning.
    (Recompute of a lost block is safe: the assignment is a pure
    md5/prefix-sum function of the input, the property
    Q:`training_shard_plan` pins.) Each wave repartitions by shard_id
    so one shard's rows land contiguously (one output partition per
    shard), which is the layout a training loader reads.
    """
    from ..sources import manifest_sink as ms

    spark = docs.sparkSession
    plan = _shard_plan(docs, benchmark, cfg, n_shards, bin_budget)
    version, info = ms.latest_info(spark, table_path)
    # One aggregate serves both the committed-shard set and, when no
    # wave is written, the verify counts.
    snap: dict[int, int] = {}
    if version > 0:
        snap = _shard_rows(
            ms.read_snapshot(spark, table_path, version, schema=_SHARD_SCHEMA)
        )
    if info is not None and info.get("plan") == plan:
        recorded = {int(s): n for s, n in info["shard_rows"].items()}
        if recorded.keys() <= snap.keys():
            if snap == recorded:
                return {
                    "written_shards": 0,
                    "skipped_shards": len(snap),
                    "rows": sum(snap.values()),
                }
            if verify:
                raise _verify_error(snap, recorded)

    with dd.released_on_exit():
        chunks, _ = prepare_corpus(docs, benchmark, cfg)
        assigned = cp.shard_pack_assignments(
            chunks, n_shards=n_shards, budget=bin_budget, id_col=cfg.id_col
        ).persist()
        try:
            # Only shards that actually carry rows: an EMPTY shard id has
            # nothing to commit, and treating it as forever-missing would
            # append a junk batch dir on every re-run.
            want = _shard_rows(assigned)
            record = {
                "plan": plan,
                "shard_rows": {str(s): n for s, n in sorted(want.items())},
            }
            missing = [s for s in sorted(want) if s not in snap]
            for i in range(0, len(missing), shards_per_commit):
                wave = missing[i : i + shards_per_commit]
                part = assigned.filter(F.col("shard_id").isin(wave)).repartition(
                    len(wave), "shard_id"
                )
                ms.write_snapshot(part, table_path, mode="append", info=record)
            if verify:
                # An all-filtered-out corpus commits nothing and the table
                # may not exist at all — that is a correct empty publish,
                # not a read error.
                final = snap
                if missing:
                    final = _shard_rows(
                        ms.read_snapshot(spark, table_path, schema=_SHARD_SCHEMA)
                    )
                if final != want:
                    raise _verify_error(final, want)
            return {
                "written_shards": len(missing),
                "skipped_shards": len(snap),
                "rows": sum(want.values()),
            }
        finally:
            # The published table is the durable artifact.
            assigned.unpersist()
