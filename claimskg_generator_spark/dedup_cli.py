"""Corpus-dedup CLI — the training-data-pipeline face of the engine.

The KG CLI (cli.py) mirrors the reference generator; this entry point
exposes the near-dup operator family over a documents table (doc_id,
text[, embedding]) as a user surface:

    python -m claimskg_generator_spark.dedup_cli \
        --input /data/documents --method minhash \
        --output /data/survivors --pairs-output /data/pairs \
        --groups-output /data/groups

Methods: exact (md5 fingerprint groupBy), minhash (MinHash+LSH, exact
Jaccard verify), simhash (pigeonhole tables, exact hamming verify), ngram
(full n-gram Jaccard), embedding (multi-band hyperplane LSH, exact cosine
verify; requires --dim).  Every method ends in dedup_corpus: pairs ->
connected components -> survivors materialized with a runtime-sized
anti-join (docs/PLANS.md).

Corpus-prep gates (the q44 pipeline as a user surface): --quality-min /
--max-top-bigram-frac filter BEFORE pair generation (narrow row
expressions run ahead of the first shuffle, so gated rows never pay the
dedup machinery); --sample lang=rate[,lang=rate...] applies the
deterministic md5 hash-gate mix AFTER survivorship; --pii-redact
replaces emails/IPv4s/phones in the survivor text with typed
placeholders.

Selection stages (round 5): --dsir-target column=value +
--dsir-fraction run DSIR importance resampling over the survivors
(operators/selection.py) and keep only the gated raw documents;
--weighted-sample K + --weight-col draw the final corpus with
probability proportional to a quality/size column
(operators/sampling.weighted_sample).
"""

import argparse
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.session import product_session


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="claimskg-dedup",
        description="near-duplicate detection + survivor-corpus "
                    "materialization over a documents parquet table",
    )
    p.add_argument("--input", required=True,
                   help="documents parquet (doc_id, text[, embedding])")
    p.add_argument("--output", required=True,
                   help="survivor corpus output (parquet)")
    p.add_argument("--method", default="minhash",
                   choices=["exact", "minhash", "simhash", "ngram",
                            "embedding"])
    p.add_argument("--pairs-output", default=None,
                   help="also write the accepted near-dup pairs")
    p.add_argument("--groups-output", default=None,
                   help="also write the (id, canonical_id) cluster table")
    p.add_argument("--threshold", type=float, default=None,
                   help="jaccard (minhash/ngram, default 0.5) or cosine "
                        "(embedding, default 0.9) acceptance threshold")
    p.add_argument("--max-hamming", type=int, default=3,
                   help="simhash: maximum hamming distance (default 3)")
    p.add_argument("--ngram", type=int, default=3,
                   help="shingle size for minhash/ngram (default 3)")
    p.add_argument("--dim", type=int, default=None,
                   help="embedding dimensionality (REQUIRED for "
                        "--method embedding; plan-time hyperplane "
                        "literals, never inferred from data)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--quality-min", type=float, default=None,
                   help="drop documents with quality score below this "
                        "(textstats.with_quality_score, [0,1])")
    p.add_argument("--max-top-bigram-frac", type=float, default=None,
                   help="drop documents whose most frequent bigram "
                        "accounts for more than this fraction "
                        "(repetition gate, [0,1])")
    p.add_argument("--sample", default=None,
                   help="stratified hash-gate sampling rates, e.g. "
                        "'en=0.5,fr=0.25' (applied to survivors)")
    p.add_argument("--sample-default", type=float, default=1.0,
                   help="rate for strata not listed in --sample "
                        "(default 1.0: keep)")
    p.add_argument("--strata-col", default="lang",
                   help="column --sample stratifies on (default lang)")
    p.add_argument("--pii-redact", action="store_true",
                   help="redact emails/IPv4s/phones in survivor text")
    p.add_argument("--dsir-target", default=None,
                   help="DSIR selection after survivorship: column=value "
                        "predicate naming the target corpus (e.g. "
                        "source=wiki); only raw survivors the importance "
                        "gate keeps are written")
    p.add_argument("--dsir-fraction", type=float, default=0.25,
                   help="fraction of raw survivors DSIR keeps "
                        "(default 0.25)")
    p.add_argument("--weighted-sample", type=int, default=None,
                   metavar="K",
                   help="final A-ES weighted draw of K survivors "
                        "(probability proportional to --weight-col)")
    p.add_argument("--weight-col", default="n_chars",
                   help="weight column for --weighted-sample (default "
                        "n_chars; falls back to length(text) when the "
                        "column is absent)")
    return p


def _parse_rates(spec: str) -> dict:
    rates = {}
    for part in spec.split(","):
        if "=" not in part:
            raise ValueError(f"--sample entry {part!r} is not name=rate")
        name, rate = part.split("=", 1)
        rates[name.strip()] = float(rate)
    return rates


def _pairs(args, docs):
    if args.method == "exact":
        from claimskg_generator_spark.operators.dedup import exact_duplicates

        # survivors of exact dedup are the per-fingerprint min doc_id:
        # pair every member with its survivor so components reproduce it
        d = exact_duplicates(docs)
        return (
            d.filter(F.col("doc_id") != F.col("survivor_id"))
            .select(F.col("survivor_id").alias("id_a"),
                    F.col("doc_id").alias("id_b"))
        )
    if args.method == "minhash":
        from claimskg_generator_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            docs, n=args.ngram,
            verify_threshold=(args.threshold
                              if args.threshold is not None else 0.5),
        ).select("id_a", "id_b")
    if args.method == "simhash":
        from claimskg_generator_spark.operators.dedup import simhash_near_dups

        return simhash_near_dups(
            docs, max_hamming=args.max_hamming
        ).select("id_a", "id_b")
    if args.method == "ngram":
        from claimskg_generator_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        return ngram_jaccard_pairs(
            docs, n=args.ngram,
            threshold=(args.threshold
                       if args.threshold is not None else 0.5),
        ).select("id_a", "id_b")
    from claimskg_generator_spark.operators.similarity import lsh_cosine_pairs

    # the caller already renamed args.id_col -> doc_id on the frame
    return lsh_cosine_pairs(
        docs,
        threshold=(args.threshold if args.threshold is not None else 0.9),
        dim=args.dim, id_col="doc_id", vec_col=args.vec_col,
    ).select("id_a", "id_b")


def main(argv=None) -> int:
    parser = build_arg_parser()
    args = parser.parse_args(argv)
    if args.method == "embedding" and args.dim is None:
        parser.error("--method embedding requires --dim (the hyperplanes "
                     "are plan-time literals of that length)")
    if args.dsir_target is not None and "=" not in args.dsir_target:
        parser.error("--dsir-target must be column=value")
    sample_rates = None
    if args.sample is not None:
        try:
            sample_rates = _parse_rates(args.sample)
        except ValueError as exc:
            parser.error(str(exc))

    with product_session("claimskg_dedup") as spark:
        return _dedup(spark, args, sample_rates)


def _dedup(spark: SparkSession, args, sample_rates) -> int:
    """Pairs, then the survivors through the optional gates and samplers."""
    from claimskg_generator_spark.operators.components import (
        dedup_corpus,
        dedup_groups,
    )

    docs = spark.read.parquet(args.input)
    if args.id_col != "doc_id":
        docs = docs.withColumnRenamed(args.id_col, "doc_id")
    # quality/repetition gates: narrow row expressions, applied before any
    # pair machinery so gated rows never reach a shuffle
    if args.quality_min is not None or args.max_top_bigram_frac is not None:
        from claimskg_generator_spark.operators.textstats import (
            with_quality_score,
            with_repetition_metrics,
        )

        in_cols = docs.columns
        if args.quality_min is not None:
            docs = with_quality_score(docs, keep_all=True).filter(
                F.col("quality") >= args.quality_min)
        if args.max_top_bigram_frac is not None:
            docs = with_repetition_metrics(docs, keep_all=True).filter(
                F.col("top_bigram_frac") <= args.max_top_bigram_frac)
        docs = docs.select(*in_cols)
    pairs = _pairs(args, docs)
    # pairs feed up to three consumers (pairs/groups/survivors): keep the
    # accepted pair stream materialized once instead of re-running the
    # candidate machinery per sink
    pairs = share(pairs)
    if args.pairs_output:
        pairs.write.mode("overwrite").parquet(args.pairs_output)
    if args.groups_output:
        dedup_groups(pairs).write.mode("overwrite").parquet(
            args.groups_output)
    survivors = dedup_corpus(docs, pairs)
    if sample_rates is not None:
        from claimskg_generator_spark.operators.sampling import (
            stratified_sample,
        )

        survivors = stratified_sample(
            survivors, args.strata_col, sample_rates, "doc_id",
            default_rate=args.sample_default)
    if args.pii_redact:
        from claimskg_generator_spark.functions.pii import redact

        survivors = survivors.withColumn("text", redact(F.col("text")))
    if args.dsir_target is not None:
        from claimskg_generator_spark.operators.selection import dsir_select

        tcol, tval = args.dsir_target.split("=", 1)
        sel = dsir_select(
            survivors, F.col(tcol.strip()) == tval.strip(),
            fraction=args.dsir_fraction,
        ).filter(F.col("keep") == 1).select("doc_id")
        # co-partitioned semi-join: only the DSIR-kept raw survivors
        # continue (the target corpus is the yardstick, not output)
        survivors = survivors.join(sel, "doc_id", "left_semi")
    if args.weighted_sample is not None:
        from claimskg_generator_spark.operators.sampling import (
            weighted_sample,
        )

        wdf = survivors
        wcol = args.weight_col
        if wcol not in wdf.columns:
            wdf = wdf.withColumn(wcol, F.length("text"))
        survivors = weighted_sample(
            wdf, wcol, args.weighted_sample, id_col="doc_id"
        ).drop("priority").select(*survivors.columns)
    if args.id_col != "doc_id":
        survivors = survivors.withColumnRenamed("doc_id", args.id_col)
    survivors.write.mode("overwrite").parquet(args.output)
    n_pairs = pairs.count()
    print(f"method={args.method} pairs={n_pairs} survivors at "
          f"{args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
