"""Bigram language-model perplexity scoring — the CCNet-style quality
gate a web-scale training-data pipeline runs before anything else.

An add-alpha bigram LM trained ON the corpus scores every document's
per-token negative log-likelihood; high-perplexity documents are the
classic "garbage" signal (Wenzek et al., CCNet, LREC 2020 use a
KenLM trained on Wikipedia — here the LM is trained on the input
corpus itself with one extra aggregate, which keeps the entire
operator inside the SQL engine and makes it fully oracle-checkable).
Pass a pre-trained ``lm`` frame to score against an external corpus
instead.

Scale shape (what matters at 100 TB):

* ONE explode pass -> per-(doc, w1, w2) counts ``m`` (map-side
  combinable; already slimmer than the raw token explode);
* the LM tables derive from THAT frame, never from a second scan of
  the text: c12 = regroup of (w1, w2), c1 = regroup of c12 — both
  slim count frames;
* vocab size rides a one-row broadcast cross join (no driver action);
* scoring is ONE shuffle join of doc-bigrams against the enriched LM
  on (w1, w2) followed by a map-side-combinable per-doc weighted
  aggregate.

No Window, no UDF, no ``collect``.  Every arithmetic step is a plain
column expression so a DuckDB oracle re-derives the scores to the
rounded digit (see the q61 oracle in queries/curation.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_bigrams(documents: DataFrame, doc_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document bigram counts (doc, w1, w2, m) with a ``<s>``
    sentinel so the first real token is conditioned too.

    Tokenization matches the rest of the corpus operators
    (split(trim(lower(text)), '\\s+'), see operators/relevance.py): an
    engine that tokenizes one way for tf-idf and another for the LM
    would silently disagree with itself.
    """
    tk = F.concat(
        F.array(F.lit("<s>")),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
    )
    d = documents.select(F.col(doc_col), tk.alias("tk"))
    # adjacent pairs generated WITHIN the row (0-based transform index
    # against the 1-based slice), then one combinable groupBy
    pairs = F.expr(
        "transform(slice(tk, 1, size(tk) - 1), "
        "(w, i) -> struct(w AS w1, tk[i + 1] AS w2))"
    )
    return (
        d.select(doc_col, F.explode(pairs).alias("b"))
        .select(doc_col, "b.w1", "b.w2")
        .groupBy(doc_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("m"))
    )


def train_bigram_lm(doc_bg: DataFrame) -> DataFrame:
    """Collapse per-doc bigram counts into the LM table
    (w1, w2, c12, c1): bigram count and context count, both regroups
    of the already-slim (doc, w1, w2, m) frame."""
    c12 = doc_bg.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return c12.join(c1, "w1")


def bigram_lm_perplexity(documents: DataFrame, alpha: float = 0.1,
                         max_ppl: Optional[float] = None,
                         lm: Optional[DataFrame] = None,
                         persist: bool = True,
                         doc_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Score every document with an add-``alpha`` bigram LM.

    p(w2 | w1) = (c12 + alpha) / (c1 + alpha * V) where V is the
    bigram-successor vocabulary size; avg_nll is the count-weighted
    mean of -ln p over the document's bigrams and ppl = exp(avg_nll).

    Output: (doc_col, n_tokens, avg_nll, ppl[, keep]) — ``keep`` is
    emitted when ``max_ppl`` is given and compares the ROUNDED ppl so
    the gate is engine-stable.  ``lm`` overrides the corpus-trained
    model with a pre-trained (w1, w2, c12, c1) frame (the CCNet
    configuration: LM from a reference corpus, scores on the target).

    ``persist`` (default True) materializes the per-doc bigram-count
    frame once (MEMORY_AND_DISK): the scoring branch and the LM
    derivations all consume it, and exchange reuse only dedups one of
    those branches in practice (canonicalization of the re-aliased
    self-join subtrees is partial), so without the persist the TEXT —
    the 100 TB side — is tokenized up to four times.  The persisted
    frame is the slim aggregated (doc, w1, w2, m) table, a fraction of
    the raw text bytes, and spills to disk when it doesn't fit.
    """
    if alpha <= 0:
        raise ValueError("alpha must be positive")
    bg = doc_bigrams(documents, doc_col=doc_col, text_col=text_col)
    if persist:
        from pyspark import StorageLevel

        bg = bg.persist(StorageLevel.MEMORY_AND_DISK)
    model = train_bigram_lm(bg) if lm is None else lm
    vsz = model.agg(F.countDistinct("w2").alias("vsz"))
    scored = bg.join(model, ["w1", "w2"]).crossJoin(F.broadcast(vsz))
    logp = F.log(
        (F.col("c12") + F.lit(alpha)) / (F.col("c1") + F.lit(alpha) * F.col("vsz"))
    )
    per_doc = scored.groupBy(doc_col).agg(
        F.sum("m").cast("bigint").alias("n_tokens"),
        (-F.sum(F.col("m") * logp) / F.sum("m")).alias("nll"),
    )
    out = per_doc.select(
        doc_col,
        "n_tokens",
        F.round("nll", 4).alias("avg_nll"),
        F.round(F.exp("nll"), 4).alias("ppl"),
    )
    if max_ppl is not None:
        out = out.withColumn("keep", F.col("ppl") <= F.lit(max_ppl))
    return out


def kn_bigram_table(documents: DataFrame, discount: float = 0.75,
                    doc_col: str = "doc_id",
                    text_col: str = "text",
                    persist: bool = True) -> DataFrame:
    """Interpolated Kneser-Ney bigram table (Kneser & Ney, ICASSP
    1995; Chen & Goodman 1998) — the smoothing the add-alpha LM above
    trades away, built from the SAME slim count frames.

    KN's insight is that the backoff weight of a word should be its
    CONTINUATION count (how many distinct left contexts it follows),
    not its frequency: "francisco" is frequent but continues almost
    nothing.  Every statistic here is one more regroup of the
    (w1, w2, c12) frame:

    * ``c12``, ``c1`` — bigram and left-context totals,
    * ``n1p_fw``  — distinct continuations of w1 (N1+(w1, .)),
    * ``n1p_bw``  — distinct left contexts of w2 (N1+(., w2)),
    * ``n1p_all`` — distinct bigram count (one-row broadcast),

    and the interpolated probability is the textbook identity

        pkn(w2|w1) = max(c12 - d, 0)/c1 + d * N1+(w1,.)/c1
                     * (N1+(., w2) / N1+(., .))

    emitted as ONE fixed expression tree over the integer counts — no
    float accumulates across rows, so both engines produce the
    bit-identical double (the q145 discipline) and sum_w2 pkn(w2|w1)
    == 1 exactly up to float associativity (pytest-pinned).

    Scale shape: after doc_bigrams' single corpus explode, everything
    regroups vocabulary-sized count frames; the w1/w2 joins are slim
    dimension joins and the grand total rides a one-row broadcast.
    ``persist`` (default True) materializes the slim (w1, w2, c12)
    frame once: FOUR branches consume it (the output join plus the
    c1/bw/tot regroups) and exchange reuse dedups re-aliased subtrees
    only partially (see bigram_lm_perplexity's note above) — without
    it the 100 TB text side can be tokenized once per branch.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(
            f"discount must be in (0, 1), got {discount}")
    bg = doc_bigrams(documents, doc_col, text_col)
    c12 = bg.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))
    if persist:
        from pyspark import StorageLevel

        c12 = c12.persist(StorageLevel.MEMORY_AND_DISK)
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"),
                               F.count(F.lit(1)).alias("n1p_fw"))
    bw = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bw"))
    tot = c12.agg(F.count(F.lit(1)).alias("n1p_all"))
    j = c12.join(c1, "w1").join(bw, "w2").crossJoin(F.broadcast(tot))
    d = float(discount)
    pkn = (F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
           + F.lit(d) * F.col("n1p_fw") / F.col("c1")
           * (F.col("n1p_bw") / F.col("n1p_all")))
    return j.select("w1", "w2", "c12", "c1", "n1p_fw", "n1p_bw",
                    "n1p_all", pkn.alias("pkn"))


def pmi_collocations(documents: DataFrame, min_count: int = 2,
                     delta: int = 1, doc_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Collocation / phrase mining over adjacent bigrams — the
    word2phrase gate of Mikolov et al. 2013 (§4, "Learning Phrases"):
    ``score(w1, w2) = (c12 - delta) * N / (c1 * c2)`` — a discounted
    PMI — decides which adjacent word pairs fuse into phrase tokens
    before embedding training.

    The score is emitted as the EXACT integer rational
    ``(score_num, score_den) = ((c12 - delta) * N, c1 * c2)`` — the
    engine's no-cross-engine-float contract (the q148/q150
    discipline): callers compare ``score_num * t_den > t_num *
    score_den`` against a rational threshold, and the driver oracle
    hash-matches the strings byte-for-byte (DuckDB folds them as
    HUGEINT, Spark as DECIMAL(38,0) — both rendered as plain decimal
    strings, exact up to 10^38).  PMI itself is
    ``log(score + delta-correction)`` — left to the caller like
    q150's geometric mean.

    Counts share the corpus tokenization (:func:`doc_bigrams` /
    relevance.py): ``c12`` regroups the per-doc bigram frame with the
    ``<s>`` sentinel rows EXCLUDED (the sentinel conditions LM
    probabilities; it is not a word that can collocate).  The
    unigram counts need NO second corpus pass: the sentinel prefix
    means every token occurrence appears exactly once as a bigram
    ``w2``, so ``c1``/``c2``/``N`` are regroups of the SAME slim
    bigram-count frame (the q152 one-corpus-explode discipline).
    ``min_count`` filters rare pairs BEFORE the unigram joins (the
    word2phrase knob, and what keeps the join slim at corpus scale).

    Scale shape: ONE corpus-sized explode (the bigram Generate) into
    a combinable groupBy; every later structure is bigram-vocabulary-
    sized; the unigram attach is two equi-joins of the slim pair
    frame; N rides a one-row broadcast.  Output: ``(w1, w2, c12, c1,
    c2, n_tokens, score_num, score_den)``."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if delta < 0:
        raise ValueError(f"delta must be >= 0, got {delta}")
    bg = doc_bigrams(documents, doc_col=doc_col, text_col=text_col)
    # lazy localCheckpoint: c12_all feeds BOTH the pair filter and the
    # unigram regroup — without it each consumer would replan (and
    # re-run) the corpus-sized bigram explode; the checkpointed frame
    # is bigram-vocabulary-sized and computes once at first action
    c12_all = (bg.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))
               .localCheckpoint(eager=False))
    c12 = (c12_all.where(F.col("w1") != "<s>")
           .where(F.col("c12") >= min_count))
    uni = (c12_all.groupBy(F.col("w2").alias("t"))
           .agg(F.sum("c12").alias("c")))
    n_total = uni.agg(F.sum("c").alias("n_tokens"))
    out = (
        c12
        .join(uni.select(F.col("t").alias("w1"),
                         F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("t").alias("w2"),
                         F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_total))
    )
    dec = "decimal(38,0)"
    return out.select(
        "w1", "w2", "c12", "c1", "c2", "n_tokens",
        ((F.col("c12").cast(dec) - delta)
         * F.col("n_tokens").cast(dec))
        .cast(dec).cast("string").alias("score_num"),
        (F.col("c1").cast(dec) * F.col("c2").cast(dec))
        .cast(dec).cast("string").alias("score_den"),
    )
