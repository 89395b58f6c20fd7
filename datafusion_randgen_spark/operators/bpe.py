"""BPE vocabulary induction and encoding (byte-pair encoding, Sennrich
et al. 2016 — the public algorithm behind GPT-2/LLaMA-style tokenizers).

:func:`bpe_train` learns the merge sequence: one distributed word-type
count, then the greedy merge loop on the driver over the collected
word types.  :func:`bpe_encode` applies a learned merge list to new
text as row-local Catalyst array folds (:func:`apply_merge`).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, functions as F

from datafusion_randgen_spark.operators import dedup

# Imported though this module calls it nowhere: perfbench/tracing.py
# wraps ``bpe.pin`` by attribute alongside the other operator modules,
# and a missing attribute fails the traced run.
from datafusion_randgen_spark.pinning import pin  # noqa: F401

#: Symbols a trainer can ever produce: words are ``[a-z0-9]+`` after
#: :func:`dedup.normalize_text`, and merges only concatenate, so every
#: symbol stays in this alphabet.  :func:`apply_merge` interpolates
#: symbols into a SQL lambda, so it ENFORCES the precondition rather
#: than trusting callers of the public :func:`bpe_encode` entry point.
_SYMBOL_RE = re.compile(r"^[a-z0-9]+$")


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, cnt, syms): the word-frequency table BPE trains on, with
    each word exploded into its character-symbol array.

    This is the classic trainer decomposition: merges are a pure
    function of the word-TYPE frequency table, not the corpus.  The
    corpus is touched exactly once (row-local normalize + token
    explode feeding one map-side-combined count shuffle that carries
    word types, not occurrences); every merge after that reads only
    the vocabulary-sized table."""
    return (
        docs.select(
            F.explode(
                F.split(dedup.normalize_text(F.col(text_col)), " ")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
        )
    )


def apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Apply ONE merge (left, right) -> left||right to every word's
    symbol array, greedy left-to-right — a row-local Catalyst array
    fold, no shuffle, no Python.

    The fold keeps an accumulator of already-merged symbols:
    ``last(acc) = left ∧ s = right`` replaces the last element with
    the merged symbol, so ``aaaa`` under merge (a, a) becomes
    ``[aa, aa]`` (the newly formed symbol is eligible as the LEFT of
    the next comparison but never re-consumed as a RIGHT — standard
    greedy BPE application).

    Raises ``ValueError`` unless both symbols match ``[a-z0-9]+``
    (the only alphabet a trainer over normalized text can produce) —
    symbols are interpolated into the fold expression, so arbitrary
    strings are rejected rather than escaped."""
    for sym in (left, right):
        if not _SYMBOL_RE.fullmatch(sym):
            raise ValueError(
                f"BPE symbol {sym!r} outside the [a-z0-9]+ trainer "
                "alphabet; refusing to interpolate it into SQL"
            )
    lit = lambda s: s.replace("'", "''")  # noqa: E731
    merged = left + right
    return words.withColumn(
        "syms",
        F.expr(
            "aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, s) -> "
            "CASE WHEN size(acc) = 0 THEN array(s) "
            f"WHEN element_at(acc, -1) = '{lit(left)}' AND s = '{lit(right)}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{lit(merged)}')) "
            "ELSE concat(acc, array(s)) END)"
        ),
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges; returns ``(merges, words)``.

    ``merges``: (merge_rank, left_sym, right_sym, merged, pair_count)
    — the trained vocabulary artifact a tokenizer consumes, in merge
    order.  ``words``: (w, cnt, syms), the word table after the last
    merge.

    Two stages.  The corpus is read once, by one distributed
    :func:`word_freq_table` count that is collected to the driver as
    ``(w, cnt)`` rows.  The greedy merge loop then runs on the driver
    over those rows: each round sums adjacent-pair counts weighted by
    ``cnt``, takes the argmax on ``(-count, left, right)``, and applies
    the merge to every word left to right with :func:`apply_merge`'s
    rule.  It stops early once every word is a single symbol.

    The trade: the driver holds one row per word TYPE (31 types on the
    sf0.01-sf0.1 fixtures; a crawl-scale vocabulary of millions of
    types would need the merge loop back on the executors), and in
    exchange a merge costs a Python pass over the types instead of a
    Spark job, so the Spark job count does not depend on ``n_merges``.

    Determinism: pair counts are exact integers and ties break on
    (left, right) order — Python ``str`` order is code-point order,
    which equals Spark's UTF-8 byte order — so the merge sequence is
    reproducible cross-engine: the DuckDB oracle replays the identical
    steps and must land on the identical table."""
    spark = docs.sparkSession
    table = [
        (r["w"], r["cnt"], list(r["w"]))
        for r in word_freq_table(docs, text_col).select("w", "cnt").collect()
    ]
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: Counter[tuple[str, str]] = Counter()
        for _, cnt, syms in table:
            for pair in zip(syms, syms[1:]):
                counts[pair] += cnt
        if not counts:
            break  # every word is a single symbol: vocabulary exhausted
        (a, b), pc = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, pc))
        for _, _, syms in table:
            acc: list[str] = []
            for s in syms:
                if acc and acc[-1] == a and s == b:
                    acc[-1] = a + b
                else:
                    acc.append(s)
            syms[:] = acc
    mdf = spark.createDataFrame(
        merges,
        "merge_rank long, left_sym string, right_sym string,"
        " merged string, pair_count long",
    )
    words = spark.createDataFrame(
        table, "w string, cnt long, syms array<string>"
    )
    return mdf, words


def bpe_encode(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize a symbolized word table with an already-learned merge
    list, applying the merges IN ORDER (how a trained BPE tokenizer
    encodes new text).  Row-local folds only — at scale this is a
    pure map stage over the corpus.

    Every merge symbol must match ``[a-z0-9]+`` (what
    :func:`bpe_train` over normalized text produces);
    :func:`apply_merge` raises ``ValueError`` otherwise."""
    for left, right in merges:
        words = apply_merge(words, left, right)
    return words
