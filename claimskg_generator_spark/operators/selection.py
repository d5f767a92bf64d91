"""Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
arXiv:2302.03169) — select raw-corpus documents that look like a small
high-quality target corpus.

DSIR fits two bag-of-hashed-n-gram models — one on the target corpus,
one on the raw corpus — and weighs every raw document by its log
importance ratio  log w(x) = Σ_f  m_f(x) · (log p̂_target(f) − log
p̂_raw(f))  over its hashed unigram+bigram features, then keeps the
top fraction.  It is the standard "make 100 TB of web text look like
Wikipedia" selection step that runs after dedup/quality gates.

Determinism & oracle parity: features are hashed into a fixed bucket
space keyed by an md5 *hex prefix* (``bucket_hex_len`` hex chars →
16^h buckets), so both the bucketing and the add-alpha probabilities
replay exactly in any SQL engine; per-doc log-weights are rounded
before the selection threshold so the keep decision is stable across
engines.  Selection uses the exact interpolated percentile (type-7,
DuckDB ``quantile_cont`` parity verified by ``distribution_stats``);
pass ``exact=False`` for the t-digest ``approx_percentile`` sketch at
100 TB (same schema, rows-only checkable).

Scale shape (100 TB raw, benchmark-sized target):

* ONE explode pass over each document's unigram+bigram features
  (generated WITHIN the row: transform over adjacent pairs, no
  self-join) → map-side-combinable (doc, bucket) counts;
* both hashed-n-gram models are regroupings of THAT frame — each is at
  most 16^h rows (4096 at the default h=3), so the full model rides a
  broadcast join; totals ride a one-row broadcast cross join (the
  tf-idf corpus-scalar pattern, operators/relevance.py);
* scoring is one broadcast join + a combinable per-doc sum — the raw
  corpus never shuffles except the (doc, bucket) regroup;
* the selection threshold is a one-row broadcast.

Reference scope note: the reference generator has no data-selection
stage — this operator belongs to the training-data-pipeline family
layered over the reference semantics (operators/{dedup,sampling,
contamination,lm}.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share


def _doc_feature_counts(documents: DataFrame, bucket_hex_len: int,
                        doc_col: str, text_col: str) -> DataFrame:
    """Per-document hashed-feature bucket counts
    (doc, __is_target, bucket, m) — the ``__is_target`` flag rides the
    groupBy key (it is functionally dependent on the doc), so splitting
    target from raw downstream is a filter, never a join back to the
    corpus.

    Tokenization matches the rest of the corpus operators
    (split(trim(lower(text)), '\\s+'), operators/relevance.py); features
    are every unigram plus every adjacent bigram ("w1 w2"), bucketed by
    the first ``bucket_hex_len`` hex chars of the feature's md5.  The
    token array is materialized as a real column before the lambda uses
    it — CodegenFallback lambdas get no CSE (operators/dedup._shingles).
    """
    d = documents.select(
        F.col(doc_col), F.col("__is_target"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("tk"),
    )
    bigrams = F.expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
        " (w, i) -> concat(w, ' ', tk[i + 1]))"
    )
    feats = F.concat(F.col("tk"), bigrams)
    return (
        d.select(doc_col, "__is_target", F.explode(feats).alias("feat"))
        .select(
            doc_col, "__is_target",
            F.substring(F.md5("feat"), 1, bucket_hex_len).alias("bucket"),
        )
        .groupBy(doc_col, "__is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("m"))
    )


def dsir_select(
    documents: DataFrame,
    is_target: Column,
    fraction: float = 0.25,
    alpha: float = 1.0,
    bucket_hex_len: int = 3,
    exact: bool = True,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every raw (non-target) document with its DSIR log
    importance weight and keep the top ``fraction``.

    ``is_target`` carves the small target corpus out of ``documents``
    (typically a deterministic hash gate or a source predicate — the
    q58 decontamination split pattern); every other row is the raw
    corpus being selected from.  Add-``alpha`` smoothing is applied
    over the full 16^``bucket_hex_len`` bucket space so buckets unseen
    in either model still get mass.

    Output, one row per raw document: ``n_feats`` (unigram+bigram
    count), ``log_importance`` (rounded 4 — the rounding happens BEFORE
    the percentile threshold so both sides of the keep comparison are
    engine-stable), ``keep`` (1 iff log_importance is at or above the
    exact (1 − fraction) percentile of the raw corpus' scores).

    The slim (doc, flag, bucket, m) frame is shared once: both model
    regroups and the scoring branch consume it, and without the cache
    the TEXT — the 100 TB side — is tokenized and exploded three times
    (the bigram_lm_perplexity rationale, operators/lm.py).
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    n_buckets = 16 ** bucket_hex_len

    docs = documents.select(F.col(doc_col), F.col(text_col),
                            is_target.alias("__is_target"))
    fb = share(_doc_feature_counts(docs, bucket_hex_len, doc_col, text_col))

    ct = (
        fb.filter("__is_target").groupBy("bucket")
        .agg(F.sum("m").alias("ct"))
    )
    cr = (
        fb.filter(~F.col("__is_target")).groupBy("bucket")
        .agg(F.sum("m").alias("cr"))
    )
    model = (
        ct.join(cr, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
    )
    totals = model.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    # log p̂_target(b) − log p̂_raw(b), add-alpha over the full bucket
    # space; at most 16^h model rows → broadcast
    scored = (
        fb.filter(~F.col("__is_target"))
        .join(F.broadcast(model), "bucket")
        .join(F.broadcast(totals))
        .groupBy(doc_col)
        .agg(
            F.sum("m").cast("long").alias("n_feats"),
            F.round(
                F.sum(
                    F.col("m")
                    * (
                        F.log((F.col("ct") + alpha)
                              / (F.col("tt") + alpha * n_buckets))
                        - F.log((F.col("cr") + alpha)
                                / (F.col("tr") + alpha * n_buckets))
                    )
                ),
                4,
            ).alias("log_importance"),
        )
    )
    pct = F.percentile if exact else (
        lambda c, p: F.approx_percentile(c, p, F.lit(10000))
    )
    thr = scored.agg(
        pct(F.col("log_importance"), F.lit(1.0 - fraction)).alias("thr")
    )
    return (
        scored.join(F.broadcast(thr))
        .select(
            doc_col,
            "n_feats",
            "log_importance",
            (F.col("log_importance") >= F.col("thr"))
            .cast("int").alias("keep"),
        )
    )


def source_prior_gate(
    documents: DataFrame,
    min_source_quality: float = 0.5,
    min_source_docs: int = 1,
    broadcast_prior: bool = True,
    doc_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Domain-level (URL-prefix / source) quality gating: score every
    document with the cheap quality heuristic, aggregate a per-SOURCE
    quality prior, and keep only documents whose source clears both the
    prior and a minimum-evidence document count.

    This is the RefinedWeb / DCLM "filter by URL, not just by page"
    selection step: a source whose AVERAGE page quality is junk gets
    dropped wholesale, including its occasional decent page — the prior
    is the decision unit, not the row.  It composes after the per-doc
    gates (operators/textstats.with_quality_score) and before
    mixing/selection (dsir_select, temperature_mix).

    Scale shape (100 TB corpus):

    * the per-doc score is a pure row expression (no shuffle);
    * the prior is ONE map-side-combinable groupBy(source) — output
      cardinality is the domain count, orders of magnitude below the
      row count;
    * the prior joins back by ``source``.  ``broadcast_prior=True``
      (default) broadcasts it — right for benchmark-to-millions of
      domains; at web scale (hundreds of millions of domains) pass
      False and let AQE pick the shuffle join, which co-partitions
      both sides on the same key the prior was just grouped by.

    Determinism / oracle parity: per-doc quality is rounded (4) by
    with_quality_score and the prior is rounded (4) AFTER the avg, so
    the two threshold comparisons replay exactly in a SQL twin.

    Output, one row per surviving document: ``doc_id``, ``source``,
    ``quality``, ``source_docs``, ``source_quality``.
    """
    from claimskg_generator_spark.operators.textstats import (
        with_quality_score,
    )

    if not 0.0 <= min_source_quality <= 1.0:
        raise ValueError(
            f"min_source_quality must be in [0, 1], got {min_source_quality}"
        )
    if min_source_docs < 1:
        raise ValueError(
            f"min_source_docs must be >= 1, got {min_source_docs}"
        )
    scored = with_quality_score(documents, keep_all=True).select(
        F.col(doc_col), F.col(source_col), F.col("quality")
    )
    prior = scored.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("source_docs"),
        F.round(F.avg("quality"), 4).alias("source_quality"),
    )
    if broadcast_prior:
        prior = F.broadcast(prior)
    return (
        scored.join(prior, source_col)
        .filter(
            (F.col("source_quality") >= min_source_quality)
            & (F.col("source_docs") >= min_source_docs)
        )
        .select(doc_col, source_col, "quality",
                "source_docs", "source_quality")
    )
