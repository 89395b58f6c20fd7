"""Iterative BPE vocabulary induction (byte-pair encoding, Sennrich et
al. 2016 — the public algorithm behind GPT-2/LLaMA-style tokenizers).

Reference parity note: the reference engine
(``/root/reference/src/randgen/int64_uniform.rs``) has no tokenizer
surface; this module is SURVEY §2.D training-data-prep depth
(VERDICT r6 task 1 — the full merge LOOP, where
``t_char_bigram_vocab`` only computed a single merge's pair counts).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

#: Symbols a trainer can ever produce: words are ``[a-z0-9]+`` after
#: :func:`dedup.normalize_text`, and merges only concatenate, so every
#: symbol stays in this alphabet.  :func:`apply_merge` interpolates
#: symbols into a SQL lambda, so it ENFORCES the precondition rather
#: than trusting callers of the public :func:`bpe_encode` entry point.
_SYMBOL_RE = re.compile(r"^[a-z0-9]+$")

from datafusion_randgen_spark.operators import dedup
from datafusion_randgen_spark.pinning import (
    LOCAL_CHECKPOINT,
    get_pin_strategy,
    pin,
)

#: Reduce partitions for the merge loop's pair-count aggregate: the
#: group space is bounded by (alphabet + n_merges)² ≈ 3.1k keys at any
#: corpus scale (see ``bpe_train``), and map-side combine bounds each
#: map task's shuffle output the same way, so a handful of reducers is
#: optimal everywhere — 32+ reducers for ≤3.1k tiny groups is pure
#: task-scheduling overhead (measured: −0.7s over 20 rounds at sf0.1).
_LOOP_SHUFFLE_PARTITIONS = 4

#: Target rows per task when coalescing the pinned word-type table —
#: ~100 B/row ⇒ ~5 MB/task; anything finer is sub-10ms tasks whose
#: scheduling dominates their work.  Data-derived (uses the measured
#: type count), so a crawl-scale vocabulary keeps thousands of tasks.
_WORDS_PER_TASK = 50_000


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, cnt, syms): the word-frequency table BPE trains on, with
    each word exploded into its character-symbol array.

    This is the classic trainer decomposition and the reason BPE
    training scales: merges are a pure function of the word-TYPE
    frequency table, not the corpus.  The corpus is touched exactly
    once (row-local normalize + token explode feeding one map-side-
    combined count shuffle that carries word types, not occurrences);
    every merge iteration after that runs on the vocabulary-sized
    frame."""
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
    checkpoint_every: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges; returns ``(merges, words)``.

    ``merges``: (merge_rank, left_sym, right_sym, merged, pair_count)
    — the trained vocabulary artifact a tokenizer consumes, in merge
    order.  ``words``: the final symbolized word table.

    Each iteration is (1) a map-side-combinable pair-count aggregate
    over the vocab-sized word table, (2) a 1-row argmax collect —
    driver state is the merge table itself, the k-means-centroid
    pattern — and (3) :func:`apply_merge`'s row-local fold.  The
    frame is pinned (:mod:`datafusion_randgen_spark.pinning`;
    ``localCheckpoint`` by default, ``persist`` for cluster
    fault-tolerance) every ``checkpoint_every`` merges
    (r9: was every merge) — enough to keep the chained fold
    expressions from accumulating into one giant plan (the
    connected-components discipline) without paying a vocabulary
    materialization per round; the ≤``checkpoint_every``−1 pending
    row-local folds the pair-count aggregate re-evaluates are far
    cheaper than the skipped materializations.  Measured (r10,
    same-session A/B under bench.py conditions, sf0.1, median of 5):
    4.88s at ``checkpoint_every=1`` vs 4.02s at ``=4`` for the
    20-merge entry — a real but modest ~1.2× win; the earlier
    "3.8s → 2.9s" figure came from a different measurement context
    and cross-VM-boot official bench rounds show it inside noise
    (3.45s r8 → 3.50s r9).

    Determinism: pair counts are exact integers and ties break on
    (left, right) byte order, so the whole merge SEQUENCE is
    reproducible cross-engine — the DuckDB oracle replays the
    identical 20 steps and must land on the identical table.

    Merge-loop job discipline (r21, guide §1.2/§5): the loop's frames
    are bounded by the SYMBOL INVENTORY, not the corpus — merges only
    concatenate, so after ``n_merges`` rounds the alphabet holds at
    most 36 + n_merges symbols and the pair-count aggregate can never
    produce more than (36 + n_merges)² groups (≈3.1k at 20 merges) AT
    ANY CORPUS SCALE.  Three consequences, each measured on the sf0.1
    entry (decomposition grid in OPTIMIZATION_r21.md):

    * AQE is switched off for the loop body only (restored in a
      ``finally``; the corpus-scale ``word_freq_table`` pass above the
      loop keeps it on): runtime re-optimization of a ≤3.1k-group
      shuffle buys nothing, and AQE charges one scheduler round trip
      per materialized shuffle stage — one Spark job per merge round
      instead of three.
    * The loop runs ``_LOOP_SHUFFLE_PARTITIONS`` reduce partitions:
      map-side combine bounds every map task's output to the ≤3.1k
      pair groups, so more than a handful of reducers is pure task-
      scheduling overhead at any corpus scale.
    * The pinned word table is coalesced by MEASURED row count
      (``_WORDS_PER_TASK`` rows/task): the vocabulary is tiny relative
      to the corpus (Heaps' law), and AQE's default parallelism-first
      coalescing deliberately leaves partitions at the core count,
      which turns every merge round into a full wave of ~ms tasks.
      The divisor keeps the count data-derived — a 150M-type crawl
      vocabulary still gets thousands of partitions.

    Under ``localCheckpoint`` the periodic lineage-truncation pin is
    LAZY: the next round's argmax job materializes it (the BFS probe
    pattern), so fold rounds stop paying a second job; ``persist``
    keeps the eager pin (``replaces`` bookkeeping requires
    materialization — see ``pinning.pin``).  Each ``persist`` pin
    releases the one before it, so exactly one pinned frame outlives
    the call: the latest pin, which the returned ``words`` reads."""
    spark = docs.sparkSession
    pinned = pin(word_freq_table(docs, text_col))
    # one tiny job over the just-materialized pin: the row count that
    # sizes the loop's partitioning (data-derived, not core-derived)
    n_types = pinned.count()
    parts = pinned.rdd.getNumPartitions()
    target = max(1, min(parts, n_types // _WORDS_PER_TASK + 1))
    words = pinned.coalesce(target) if target < parts else pinned
    # the frame the first in-loop pin releases is the pinned one: its
    # coalesced view was never persisted, so releasing that would leave
    # the word table in executor storage under ``persist``
    last_pin = pinned
    lazy_pins = get_pin_strategy() == LOCAL_CHECKPOINT
    merges: list[tuple[int, str, str, str, int]] = []
    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled", "true")
    old_parts = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set(
        "spark.sql.shuffle.partitions",
        str(min(_LOOP_SHUFFLE_PARTITIONS, int(old_parts or "200"))),
    )
    try:
        for rank in range(1, n_merges + 1):
            top = (
                words.filter(F.size("syms") >= 2)
                .select(
                    "cnt",
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(syms) - 1),"
                            " j -> struct(syms[j-1] AS a, syms[j] AS b))"
                        )
                    ).alias("p"),
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").alias("pc"))
                .orderBy(F.col("pc").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                break  # every word is a single symbol: vocabulary exhausted
            a, b, pc = top[0]["a"], top[0]["b"], int(top[0]["pc"])
            merges.append((rank, a, b, a + b, pc))
            words = apply_merge(words, a, b)
            if rank % checkpoint_every == 0 and rank < n_merges:
                # rank == n_merges: nothing reads the pin in-loop, and
                # callers consuming `words` re-pin as they see fit — an
                # eager terminal pin would be one pure-overhead O(vocab)
                # copy (the BFS terminal-fold rule, ADVICE r20)
                if lazy_pins:
                    words = pin(words, eager=False)
                else:
                    words = pin(words, replaces=last_pin)
                last_pin = words
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_parts)
    mdf = spark.createDataFrame(
        merges,
        "merge_rank long, left_sym string, right_sym string,"
        " merged string, pair_count long",
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
