"""Byte-pair-encoding tokenizer training over a corpus — the
vocabulary-learning step of an LLM data pipeline (Sennrich et al.,
ACL 2016), expressed so the heavy statistics are distributed and the
inherently-sequential merge selection touches the driver one row per
iteration.

The classic algorithm: collapse the corpus to a (word, freq)
dictionary, represent each word as a symbol sequence (characters plus
a ``</w>`` end-of-word marker), and repeat: count adjacent symbol
pairs weighted by word frequency, pick the most frequent pair, merge
its occurrences.  The shapes here:

* :func:`word_freqs` — ONE combinable groupBy over the tokenized
  corpus; the state every later stage touches is vocabulary-sized,
  never corpus-sized (the reason BPE training is tractable at all).
* :func:`bpe_pair_stats` — adjacent pairs generated INSIDE the word
  row (one transform over the symbol array, freq-weighted) and one
  combinable groupBy(left, right).
* :func:`best_merge` — deterministic argmax: freq DESC, then
  (left, right) ASC — the tie-break is part of the contract so
  training is engine- and retry-stable.
* :func:`apply_merge` — one left-to-right greedy fold per word
  (``F.aggregate`` with a carry accumulator): within a single merge
  application a newly created symbol can never form the SAME pair
  again (the merged symbol is strictly longer than either side), so
  one pass is exact — no rescan loop.
* :func:`bpe_train` — the iteration.  Each round collects exactly ONE
  row (the chosen pair): merge selection is sequential by definition
  — same documented driver-action class as IVF's Lloyd step.  Both
  the pair statistics and the merge read the dictionary, so the
  iteration driver (operators/iterate.py) checkpoints it every round.

Scale shape: after :func:`word_freqs`' single corpus-sized exchange,
every iteration runs over the distinct-word dictionary (typically
10^5–10^7 rows regardless of corpus size) with in-row symbol work and
one pair-vocabulary-sized aggregate — a 100 TB corpus and a 100 GB
corpus train at the same per-iteration cost.

The q149 driver row oracles the pair-statistics stage end-to-end in
DuckDB (char splits, ``</w>`` markers, freq weighting); the fold and
the training loop are pinned by pure-Python-twin pytests
(tests/test_bpe.py) since a stateful left-to-right fold has no clean
relational reading.
"""

from functools import partial
from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.iterate import Iteration

END = "</w>"


def word_freqs(docs: DataFrame, text_col: str = "text",
               lowercase: bool = True) -> DataFrame:
    """(word, freq) dictionary of the whitespace-tokenized corpus —
    the one corpus-sized exchange of BPE training."""
    text = F.trim(F.col(text_col))
    if lowercase:
        text = F.lower(text)
    return (
        docs.select(F.explode(F.split(text, r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """Characters plus the ``</w>`` end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(END)))


def with_symbols(words: DataFrame) -> DataFrame:
    """Attach the initial symbol sequence to a (word, freq) dict."""
    return words.withColumn("symbols", _initial_symbols(F.col("word")))


def bpe_pair_stats(words: DataFrame) -> DataFrame:
    """Adjacent-pair statistics ``(left, right, freq)`` over a
    dictionary carrying ``symbols`` and ``freq``: pairs built in-row
    (zip of the array with its tail), then ONE combinable groupBy —
    the aggregate's key space is the pair vocabulary."""
    s = F.col("symbols")
    n = F.size(s)
    pairs = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(F.get(s, i - 1).alias("left"),
                           F.get(s, i).alias("right")))
    return (
        words.where(n >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy("p.left", "p.right")
        .agg(F.sum("freq").alias("freq"))
    )


def best_merge(stats: DataFrame) -> Optional[Tuple[str, str, int]]:
    """The deterministic argmax pair: freq DESC, (left, right) ASC.
    One-row collect — the sequential heart of BPE, priced as one
    driver row per iteration.  None on an empty dictionary."""
    row = (stats.orderBy(F.desc("freq"), F.asc("left"), F.asc("right"))
           .limit(1).collect())
    if not row:
        return None
    r = row[0]
    return (r["left"], r["right"], r["freq"])


def apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Merge every occurrence of (left, right) in each word's symbol
    sequence — one greedy left-to-right ``F.aggregate`` fold per row.

    The accumulator carries the emitted prefix plus one pending
    symbol ('' = none; symbols are never empty): on (pending==left,
    cur==right) the merged symbol is emitted and the carry clears, so
    a consumed symbol can never start another match — exactly the
    single-pass semantics, which is complete because a merged symbol
    is strictly longer than either side and thus can never recreate
    the same pair within the pass."""
    s = F.col("symbols")
    merged = F.lit(left + right)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("").alias("carry"))
    step = lambda acc, cur: F.when(  # noqa: E731
        (acc["carry"] == F.lit(left)) & (cur == F.lit(right)),
        F.struct(F.concat(acc["out"], F.array(merged)).alias("out"),
                 F.lit("").alias("carry")),
    ).otherwise(
        F.struct(
            F.when(acc["carry"] == "", acc["out"])
            .otherwise(F.concat(acc["out"], F.array(acc["carry"])))
            .alias("out"),
            cur.alias("carry")))
    fin = lambda acc: F.when(  # noqa: E731
        acc["carry"] == "", acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["carry"])))
    return words.withColumn("symbols", F.aggregate(s, init, step, fin))


def bpe_encode(docs: DataFrame, merges: List[Tuple[str, str, int]],
               text_col: str = "text", id_col: str = "doc_id",
               lowercase: bool = True,
               broadcast_vocab: bool = True) -> DataFrame:
    """Encode the corpus with a learned merge list: ``(id, tokens)``
    with each document's BPE token sequence in order — the operation a
    pipeline actually runs per-corpus once training is done.

    Python touches only the DISTINCT-WORD dictionary: the classic
    rank-order merge loop (apply the lowest-ranked applicable merge,
    greedy left-to-right, until none applies — equivalent to replaying
    the merges in training order) runs as ONE Arrow-batched pandas UDF
    over the vocabulary, and the corpus-sized side stays JVM: tokenize
    with position, equi-join the encoded dictionary (broadcast by
    default — a vocabulary is dim-sized; set ``broadcast_vocab=False``
    for pathological vocabularies), regroup per document with an
    in-row sort, flatten.  One corpus shuffle (the regroup); the
    encode cost is O(vocabulary), not O(corpus).

    Parity contract (pinned by tests/test_bpe.py): for every word of
    the training corpus, ``bpe_encode`` with the learned merges
    reproduces ``bpe_train``'s final symbol sequences exactly."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ranks = {(a, b): i for i, (a, b, _f) in enumerate(merges)}

    @pandas_udf("array<string>")
    def enc(col: pd.Series) -> pd.Series:
        cache = {}

        def one(word):
            if word in cache:
                return cache[word]
            sym = list(word) + [END]
            while len(sym) >= 2:
                best = min(
                    (r for r in (ranks.get(p)
                                 for p in zip(sym, sym[1:]))
                     if r is not None),
                    default=None)
                if best is None:
                    break
                a, b, _ = merges[best]
                out, carry = [], None
                for cur in sym:
                    if carry == a and cur == b:
                        out.append(a + b)
                        carry = None
                    else:
                        if carry is not None:
                            out.append(carry)
                        carry = cur
                if carry is not None:
                    out.append(carry)
                sym = out
            cache[word] = sym
            return sym

        return col.map(one)

    text = F.trim(F.col(text_col))
    if lowercase:
        text = F.lower(text)
    toks = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(text, r"\s+")).alias("pos", "word"))
        .where(F.col("word") != ""))
    vocab = toks.select("word").distinct().withColumn("toks", enc("word"))
    if broadcast_vocab:
        vocab = F.broadcast(vocab)
    return (
        toks.join(vocab, "word")
        .groupBy(id_col)
        .agg(F.flatten(F.array_sort(F.collect_list(
            F.struct("pos", "toks"))).getField("toks")).alias("tokens"))
    )


def _merge_step(merges: List[Tuple[str, str, int]], words: DataFrame,
                _r: int) -> DataFrame:
    """Pick the best pair and merge it; a fully merged dictionary comes
    back unchanged."""
    pick = best_merge(bpe_pair_stats(words))
    if pick is None:
        return words
    merges.append(pick)
    return apply_merge(words, pick[0], pick[1])


def bpe_train(docs: DataFrame, n_merges: int, text_col: str = "text",
              lowercase: bool = True,
              ) -> Tuple[List[Tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges: returns (merge list in training
    order with their frequencies, the final symbolized dictionary).
    Stops early when no pair remains (fully merged corpus): the probe
    is the merge count, which stops growing."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    merges: List[Tuple[str, str, int]] = []
    with Iteration() as it:
        words = it.run(with_symbols(word_freqs(docs, text_col, lowercase)),
                       partial(_merge_step, merges), n_merges,
                       lambda _: len(merges))
    return merges, words
