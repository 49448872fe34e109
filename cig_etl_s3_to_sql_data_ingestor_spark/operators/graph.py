"""Graph centrality over co-occurrence graphs — fixed-iteration,
integer-quantized PageRank that is bit-reproducible on any engine and
any partitioning.

Ordinary PageRank is a floating-point fixpoint: contribution sums fold
in partition order and the convergence test stops different engines at
different iterations — both poison cross-engine verification. This
variant makes the iteration EXACT:

- ranks live as integers (micro-rank units, initial 1_000_000);
- each node's out-contribution is ``floor(rank / degree)`` — floor of
  an IEEE-exact division of two int64s, identical everywhere;
- in-sums are integer sums (associative, partition-invariant);
- the damped update ``floor(0.15 * BASE + 0.85 * in_sum)`` rounds the
  one double product identically on both engines;
- the iteration count is FIXED (no convergence test).

Quantization costs at most 1 micro-rank per edge per iteration —
noise for ranking — and buys a result an independent single-threaded
SQL oracle reproduces exactly (the same trick as the quantized KMeans
means and the char-LM milli-nat log-probs).

At 100 TB scale each iteration is: one (node)-keyed aggregate for
degrees (once), one join of ranks onto edges (ranks frame is
node-sized; co-partitioned by node key), and one (dst)-keyed integer
sum. State between iterations is one (node, rank) frame —
``localCheckpoint``ed every ``checkpoint_every`` rounds exactly like
the connected-components loop (operators/dedup.py), so the plan stays
one-iteration deep no matter how many rounds run (an unbroken lineage
would grow a join tree per iteration and re-execute it on any
recompute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _local_checkpoint

PR_BASE = 1_000_000  # micro-rank units
PR_DAMPING = 0.85
# The teleport term as ONE Python-evaluated double literal shared with
# the SQL mirrors ((1-0.85)*1e6 is NOT 150000.0 in IEEE — it is
# 150000.00000000003 — and both engines must floor over the same value).
PR_TELEPORT = (1.0 - PR_DAMPING) * PR_BASE


def undirected_pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    tol: int | None = None,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(node, pr) after ``n_iters`` exact damped iterations.

    ``edges`` holds DISTINCT undirected pairs (one row per unordered
    pair); both directions are materialized internally. Isolated nodes
    never enter the frame — callers union them back with the base rank
    if needed.

    ``tol`` (micro-rank units) turns ``n_iters`` into a maximum: the
    loop stops early once the largest per-node rank change of a round
    drops below ``tol`` — the convergence mode a caller actually wants
    at 10-20 iterations. Because ranks are integers, the delta test is
    exact and engine-independent (no FP convergence flakiness), at the
    cost of one node-sized join + max aggregate per round.

    ``checkpoint_every`` bounds lineage: every k-th round's rank frame
    is ``localCheckpoint``ed (eager), cutting the join tree so plan
    depth stays O(k) instead of O(n_iters); the values are unchanged.
    The default of 2 halves the eager-materialization jobs relative to
    per-round checkpointing (measurable at small n_iters, where those
    job launches dominate) while still capping depth at two rounds.
    Set 0 to disable (only for n_iters <= ~3 oracle-parity runs where
    the caller wants a pure lazily-planned frame). Disabling it is
    rejected in ``tol`` mode: the per-round delta action would re-run
    the whole uncheckpointed lineage each round — quadratic total work.

    Two trades of checkpointing, both deliberate: (1) this function
    EXECUTES Spark jobs at call time (the edges frame plus every k-th
    round materializes eagerly) rather than returning a fully lazy
    plan — callers composing the result into a larger lazy pipeline pay
    those jobs when building it; (2) ``localCheckpoint`` stores blocks
    on executors without lineage, so on a real cluster an executor loss
    mid-computation fails the job (not silently recomputed) — swap in
    reliable ``checkpoint()`` with a checkpoint dir if executor churn
    is expected at your scale. The checkpoints are registered with the
    dedup operators' intermediates: ``dedup.unpersist_all`` frees them
    (call it after consuming the result).
    """
    if tol is not None and not checkpoint_every:
        raise ValueError(
            "tol mode runs an action per round; checkpoint_every=0 would "
            "re-execute the full lineage each round (quadratic work) — "
            "use checkpoint_every >= 1"
        )
    both = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).unionByName(
        edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
    )
    if checkpoint_every:
        # Reused by every iteration's join — checkpoint once so each
        # round re-reads materialized edges instead of re-deriving them.
        both = _local_checkpoint(both)
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select("u", F.lit(PR_BASE).cast("long").alias("pr"))
    for it in range(n_iters):
        contrib = (
            both.join(ranks, "u")
            .join(deg, "u")
            .select(
                F.col("v"),
                F.floor(
                    F.col("pr").cast("double") / F.col("deg").cast("double")
                )
                .cast("long")
                .alias("c"),
            )
        )
        in_sums = contrib.groupBy("v").agg(F.sum("c").alias("in_sum"))
        new_ranks = in_sums.select(
            F.col("v").alias("u"),
            F.floor(
                F.lit(PR_TELEPORT)
                + PR_DAMPING * F.col("in_sum").cast("double")
            )
            .cast("long")
            .alias("pr"),
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            new_ranks = _local_checkpoint(new_ranks)
        if tol is not None:
            delta = (
                new_ranks.select("u", F.col("pr").alias("_new"))
                .join(ranks.select("u", F.col("pr").alias("_old")), "u")
                .agg(F.max(F.abs(F.col("_new") - F.col("_old"))).alias("d"))
                .first()["d"]
            )
            ranks = new_ranks
            if delta is None or delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks.select(F.col("u").alias("node"), "pr")
