"""BPE tokenizer training (operators/bpe.py): the q149 driver row
oracles the pair-statistics stage; these tests pin the sequential
parts SQL cannot reach — the greedy merge fold, the deterministic
argmax tie-break, and the full training loop against a pure-Python
Sennrich reference."""

import pytest
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.bpe import (
    END,
    apply_merge,
    best_merge,
    bpe_pair_stats,
    bpe_train,
    with_symbols,
    word_freqs,
)


# ------------------------- pure-Python reference -------------------------

def _py_train(texts, n_merges):
    freqs = {}
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    words = {w: list(w) + [END] for w in freqs}
    merges = []
    for _ in range(n_merges):
        stats = {}
        for w, sym in words.items():
            for a, b in zip(sym, sym[1:]):
                stats[(a, b)] = stats.get((a, b), 0) + freqs[w]
        if not stats:
            break
        (a, b), f = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, f))
        for w, sym in words.items():
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
            words[w] = out
    return merges, words, freqs


def _sents(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string")


# -------------------------------- tests ---------------------------------

def test_train_matches_python_reference(spark):
    texts = ["low lower lowest low low",
             "new newer newest new",
             "wide wider widest wide low"]
    merges, words = bpe_train(_sents(spark, texts), n_merges=8)
    py_merges, py_words, py_freqs = _py_train(texts, 8)
    assert merges == py_merges
    got = {r["word"]: (list(r["symbols"]), r["freq"])
           for r in words.collect()}
    assert got == {w: (sym, py_freqs[w]) for w, sym in py_words.items()}


def test_apply_merge_greedy_single_pass(spark):
    # 'a a a' as symbols: merging (a,a) is greedy left-to-right —
    # [aa, a], never [a, aa], and a merged symbol cannot re-match
    words = spark.createDataFrame(
        [("x", 1, ["a", "a", "a"]), ("y", 1, ["a", "a", "a", "a"]),
         ("z", 1, ["b", "a", "a", "b"])],
        "word string, freq bigint, symbols array<string>")
    got = {r["word"]: list(r["symbols"])
           for r in apply_merge(words, "a", "a").collect()}
    assert got == {"x": ["aa", "a"], "y": ["aa", "aa"],
                   "z": ["b", "aa", "b"]}


def test_best_merge_tie_break_deterministic(spark):
    stats = spark.createDataFrame(
        [("b", "c", 5), ("a", "z", 5), ("a", "b", 5), ("q", "q", 4)],
        "left string, right string, freq bigint")
    assert best_merge(stats) == ("a", "b", 5)
    empty = stats.where(F.lit(False))
    assert best_merge(empty) is None


def test_pair_stats_weighted_by_freq(spark):
    words = with_symbols(spark.createDataFrame(
        [("ab", 3), ("b", 2)], "word string, freq bigint"))
    got = {(r["left"], r["right"]): r["freq"]
           for r in bpe_pair_stats(words).collect()}
    assert got == {("a", "b"): 3, ("b", END): 5}


def test_train_stops_when_fully_merged(spark):
    merges, words = bpe_train(_sents(spark, ["aa aa"]), n_merges=50)
    # 'aa</w>' fully merges in 2 steps; the loop stops early
    assert len(merges) == 2
    [row] = words.collect()
    assert list(row["symbols"]) == ["aa" + END]
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(_sents(spark, ["a"]), n_merges=-1)


def test_symbols_always_reconstruct_word(spark):
    """Invariant: at every point in training, concatenating a word's
    symbols yields word + END — merging never loses or duplicates a
    character (seeded random corpus, all words checked in one job)."""
    import random

    rng = random.Random(42)
    texts = [" ".join(
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 8)))
        for _ in range(40)) for _ in range(3)]
    merges, words = bpe_train(_sents(spark, texts), n_merges=12)
    rows = words.collect()
    assert rows
    for r in rows:
        assert "".join(r["symbols"]) == r["word"] + END
    # every learned merge is a concatenation with positive support
    for a, b, f in merges:
        assert f >= 1 and a and b


def test_encode_matches_training_dictionary(spark):
    """The rank-order encode loop must reproduce bpe_train's final
    symbol sequences for every training word, and document token
    sequences must be the in-order concatenation of their words'
    encodings."""
    from claimskg_generator_spark.operators.bpe import bpe_encode

    texts = ["low lower lowest low low",
             "new newer newest new low",
             "wide wider widest wide"]
    sents = _sents(spark, texts)
    merges, words = bpe_train(sents, n_merges=10)
    trained = {r["word"]: list(r["symbols"]) for r in words.collect()}

    enc = {r["doc_id"]: list(r["tokens"])
           for r in bpe_encode(sents, merges).collect()}
    for doc_id, text in enumerate(texts):
        expect = []
        for w in text.split():
            expect.extend(trained[w])
        assert enc[doc_id] == expect, doc_id
    # no-merge encoding degrades to chars + end marker
    enc0 = {r["doc_id"]: list(r["tokens"])
            for r in bpe_encode(sents, []).collect()}
    assert enc0[2] == (list("wide") + [END] + list("wider") + [END]
                      + list("widest") + [END] + list("wide") + [END])
