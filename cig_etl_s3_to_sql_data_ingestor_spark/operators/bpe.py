"""Byte-pair-encoding (BPE) subword induction and tokenization.

The tokenizer-construction step of a training-data pipeline: learn a
merge table from corpus statistics, then tokenize the corpus with it.
The reference has no tokenizer; this extends its text handling (SURVEY
§2.7) with the standard subword algorithm (Sennrich et al. 2016),
re-shaped for Spark's execution model.

Scale architecture — what each stage costs at 100 TB:

- ``word_counts`` is the ONLY corpus-scale pass: one shuffle into a
  vocabulary-bounded ``(word, n)`` table (distinct whitespace words grow
  ~O(corpus^0.5-0.7), not linearly).
- ``train_merges`` is driver-side greedy merge learning over that
  bounded table, after a deterministic top-``max_words`` cut — the same
  sample-then-train shape as the IVF centroids (similarity.py): the
  aggregate, not the corpus, bounds training cost. This mirrors how
  production BPE trainers work (they train on word-frequency dicts).
- ``encode_words`` applies merges per DISTINCT word in Arrow batches —
  vocabulary-sized Python work, never per corpus row.
- ``subword_tokenize`` is the corpus-scale application: a broadcast
  join of the word→subwords map onto exploded tokens — zero Python in
  the corpus path.

Determinism contract (what the oracles rely on): merge selection breaks
count ties by ascending pair string; merge application is LEFTMOST
NON-OVERLAPPING replacement of ``" L R "`` in a space-separated,
space-padded symbol string — literally ``str.replace`` — which is the
same semantics as Spark's and DuckDB's ``replace``, so the Python
trainer, the in-plan DataFrame trainer (queries/mining.py
``bpe_merge_steps``), and the unrolled-SQL oracle agree step by step.
(Deliberate, shared deviation from canonical BPE: in a RUN of identical
symbols only the first pair merges per pass, because the replacement
consumes the separator space — ``' a a a a ' -> ' aa a a '``, where
canonical BPE gives ``'aa aa'``. All three implementations share this
convention exactly, later greedy steps re-pick the run, and non-adjacent
occurrences of a pair all merge in one pass as usual.)
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _local_checkpoint, tokens_col


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word frequencies ``(word, n)`` — the one corpus-scale pass
    (explode + partial-agg count, single shuffle keyed by word)."""
    return (
        df.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _sym_string(word: str) -> str:
    return " " + " ".join(word) + " "


def train_merges(
    wc: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int, int]]:
    """Greedy BPE on a ``(word, count)`` list (pure Python, bounded by
    the vocabulary the caller passes in). Returns one row per learned
    merge: ``(step, left_sym, right_sym, merge_count,
    corpus_tokens_after)`` with corpus_tokens_after = Σ n·|symbols(w)|
    after applying that merge everywhere.

    Tie-break: highest count, then lexicographically smallest
    ``"left right"`` pair string — total order, engine-independent."""
    syms = [(_sym_string(w), n) for w, n in wc]
    out: list[tuple[int, str, str, int, int]] = []
    for step in range(1, n_merges + 1):
        counts: Counter[str] = Counter()
        for s, n in syms:
            toks = s.split()
            for a, b in zip(toks, toks[1:]):
                counts[f"{a} {b}"] += n
        if not counts:
            break
        best_pair, best_cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = best_pair.split(" ")
        pattern, merged = f" {left} {right} ", f" {left}{right} "
        syms = [(s.replace(pattern, merged), n) for s, n in syms]
        tokens_after = sum(n * len(s.split()) for s, n in syms)
        out.append((step, left, right, best_cnt, tokens_after))
    return out


def train_bpe(
    wc_df: DataFrame,
    n_merges: int = 200,
    min_count: int = 1,
    max_words: int | None = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from a distributed word-count frame.

    Only the deterministic top-``max_words`` cut (count desc, word asc —
    a distributed TakeOrdered) reaches the driver; at 100 TB that cap,
    plus ``min_count`` pruning of the hapax tail, bounds driver memory
    regardless of corpus size. Returns ``[(left, right), ...]`` in merge
    order."""
    wc_df = wc_df.filter(F.col("n") >= min_count)
    if max_words is not None:
        wc_df = wc_df.orderBy(F.col("n").desc(), F.col("word")).limit(max_words)
    wc = [(r["word"], r["n"]) for r in wc_df.collect()]
    return [(lt, rt) for _, lt, rt, _, _ in train_merges(wc, n_merges)]


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply a merge table to one word (leftmost non-overlapping, in
    merge order) and return its subword symbols."""
    s = _sym_string(word)
    for left, right in merges:
        s = s.replace(f" {left} {right} ", f" {left}{right} ")
    return s.split()


def encode_words(words_df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """``(word, subwords array<string>, n_subwords)`` for each DISTINCT
    word — Arrow-batched ``mapInPandas`` over the vocabulary-sized
    distinct frame, merges shipped in the closure (self-contained: no
    module references cross the Python-worker boundary)."""
    merge_list = list(merges)

    def encode_batches(batches: Iterator) -> Iterator:
        for pdf in batches:
            subs = []
            for w in pdf["word"]:
                s = " " + " ".join(w) + " "
                for left, right in merge_list:
                    s = s.replace(f" {left} {right} ", f" {left}{right} ")
                subs.append(s.split())
            pdf = pdf[["word"]].copy()
            pdf["subwords"] = subs
            pdf["n_subwords"] = [len(x) for x in subs]
            yield pdf

    return words_df.select("word").distinct().mapInPandas(
        encode_batches, "word string, subwords array<string>, n_subwords int"
    )


def subword_tokenize(
    df: DataFrame,
    encoded: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_map: bool = True,
) -> DataFrame:
    """Tokenize the corpus with a trained BPE table: per document,
    ``(id, n_words, n_subwords)`` — the sequence-length accounting a
    packing/budgeting stage consumes.

    The corpus path is pure JVM: explode whitespace tokens, join the
    word→n_subwords map (broadcast by default — the vocabulary is
    orders of magnitude smaller than the corpus; pass
    ``broadcast_map=False`` to let AQE choose for huge vocabularies),
    then one partial-agg sum keyed by document. Words absent from the
    map (below min_count at train time) fall back to character count —
    the worst-case subword count, counted without a Python round-trip."""
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("word"))
    wmap = encoded.select("word", "n_subwords")
    if broadcast_map:
        wmap = F.broadcast(wmap)
    return (
        toks.join(wmap, "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.coalesce(F.col("n_subwords"), F.length("word"))
            ).alias("n_subwords"),
        )
    )


def bpe_train_plan(
    spark: SparkSession, wc_df: DataFrame, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """The merge-learning loop as an in-plan DataFrame computation.
    Returns ``(steps, encoded)``: one row per greedy step
    ``(step, left_sym, right_sym, merge_count, corpus_tokens_after)``,
    plus the final vocabulary encoding ``(word, n, syms)`` whose padded
    symbol strings ARE the trained tokenization of every word.

    Every step is: adjacent-pair explode + weighted count (one partial
    agg over the vocabulary-bounded symbol frame), a 1-row TakeOrdered
    argmax broadcast back, and a literal ``replace``. ``localCheckpoint``
    cuts lineage per step (dedup.connected_components precedent) so the
    plan stays linear in ``n_merges``; ``dedup.unpersist_all`` frees the
    checkpoints. This form exists for bounded
    vocabularies and the differential gate; the 100 TB trainer is
    :func:`train_bpe` (driver-side over the capped aggregate)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    w = _local_checkpoint(
        wc_df.select(
            "word",
            "n",
            F.concat(F.lit(" "), F.concat_ws(" ", chars), F.lit(" ")).alias("syms"),
        )
    )

    rows: list[DataFrame] = []
    for step in range(1, n_merges + 1):
        toks = F.split(F.trim(F.col("syms")), " ")
        pairs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        pc = (
            w.select(F.explode(pairs).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("merge_count"))
        )
        best = pc.orderBy(F.col("merge_count").desc(), F.col("pair")).limit(1)
        if best.isEmpty():
            # Vocabulary fully merged before n_merges steps: stop, like
            # the Python trainer's `if not counts: break`. Continuing
            # would crossJoin w against an EMPTY best and silently wipe
            # the whole vocabulary frame (review finding).
            break
        w = _local_checkpoint(
            w.crossJoin(F.broadcast(best.select(F.col("pair").alias("bp"))))
            .withColumn(
                "syms",
                F.replace(
                    F.col("syms"),
                    F.concat(F.lit(" "), F.col("bp"), F.lit(" ")),
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("bp"), F.lit(" "), F.lit("")),
                        F.lit(" "),
                    ),
                ),
            )
            .drop("bp")
        )
        after = w.agg(
            F.sum(F.col("n") * F.size(F.split(F.trim(F.col("syms")), " ")))
            .cast("bigint")
            .alias("corpus_tokens_after")
        )
        rows.append(
            best.select(
                F.lit(step).alias("step"),
                F.element_at(F.split(F.col("pair"), " "), 1).alias("left_sym"),
                F.element_at(F.split(F.col("pair"), " "), 2).alias("right_sym"),
                F.col("merge_count").cast("bigint"),
            ).crossJoin(F.broadcast(after))
        )
    if not rows:
        # n_merges=0 (or a vocabulary with no adjacent pairs at all):
        # zero steps + the character-level encoding, same contract as
        # train_merges returning [].
        schema = (
            "step int, left_sym string, right_sym string, "
            "merge_count bigint, corpus_tokens_after bigint"
        )
        return spark.createDataFrame([], schema), w
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step"), w


def bpe_merge_steps_df(
    spark: SparkSession, wc_df: DataFrame, n_merges: int
) -> DataFrame:
    """Just the merge-step rows of :func:`bpe_train_plan`."""
    steps, _ = bpe_train_plan(spark, wc_df, n_merges)
    return steps
