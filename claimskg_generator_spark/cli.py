"""spark-submit entry point.

Mirrors the reference's export.py option surface (reference export.py:
42-97) re-expressed for the Spark pipeline:

    spark-submit --py-files claimskg_generator_spark.zip \
        -m claimskg_generator_spark.cli \
        --input /data/source_records \
        --output /data/claimskg_triples \
        --format parquet|ntriples \
        --threshold 0.3 --include-body \
        --reconcile 0.25 --sample 0.01 --seed 42 \
        --align-duplicated \
        --checkpoint-dir /data/checkpoints/run1 \
        --stats-output /data/claimskg_stats \
        --lineage-output /data/claimskg_lineage

Local smoke run:  python -m claimskg_generator_spark.cli --synth 10000 ...
"""

import argparse
import sys

from pyspark.sql import SparkSession

from claimskg_generator_spark.constants.namespaces import DEFAULT_MODEL_URI
from claimskg_generator_spark.plans.checkpoints import input_fingerprint
from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
from claimskg_generator_spark.plans.sinks import (
    FORMATS,
    pred_family_graph,
    with_graph,
    write_nquads,
)
from claimskg_generator_spark.session import product_session


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="claimskg_generator_spark")
    p.add_argument("--input", help="input table path (repo,path,commit,lang,content)")
    p.add_argument("--synth", type=int, default=None,
                   help="synthesize N corpus rows instead of reading --input")
    p.add_argument("--output", required=True, help="triple table output path")
    p.add_argument("--format", default="parquet",
                   choices=[*FORMATS, "snapshot"])
    p.add_argument("--snapshot-mode", default="append",
                   choices=["append", "overwrite"],
                   help="with --format snapshot: append commits a new "
                        "snapshot on top of the table at --output "
                        "(incremental corpus loads), overwrite starts a "
                        "new file set; prior snapshots stay readable by id")
    ug = p.add_mutually_exclusive_group()
    ug.add_argument("--update", metavar="SPARQL",
                    help="apply one SPARQL 1.1 UPDATE request — a "
                         "single operation or a ';'-chained sequence, "
                         "incl. graph management on quads tables "
                         "(operators/sparql_update.py) — to the "
                         "snapshot table at --output as ONE atomic "
                         "commit; a standalone maintenance mode: no "
                         "--input/--synth, requires --format snapshot")
    ug.add_argument("--update-file", metavar="FILE",
                    help="file containing the SPARQL UPDATE request")
    p.add_argument("--model-uri", default=DEFAULT_MODEL_URI)
    p.add_argument("--threshold", type=float, default=0.3)
    p.add_argument("--recognizer", default="stem",
                   choices=["stem", "metaphone"],
                   help="thesaurus unigram key: double-stem (reference "
                        "generator default) or double-metaphone phonetic "
                        "code (reference InterDoubleMetaphone recognizer)")
    p.add_argument("--include-body", action="store_true")
    p.add_argument("--align-duplicated", action="store_true")
    p.add_argument("--sameas-canonical", action="store_true",
                   help="rewrite pairwise owl:sameAs edges (reconcile + "
                        "align families) into star form: each equivalence-"
                        "class member points at the class's minimum URI "
                        "(connected-components closure; no OWL reasoner "
                        "needed downstream)")
    p.add_argument("--reconcile", type=float, default=-1.0,
                   help="reconciliation theta; <=0 disables (reference default)")
    p.add_argument("--sample", type=float, default=None,
                   help="pair sampling fraction for reconciliation")
    p.add_argument("--samples", type=int, default=None,
                   help="EXACT seeded pair-sample count for reconciliation "
                        "(reference --samples parity: the same numpy pair "
                        "stream, driver-side O(C(n,2)) mask — reference-"
                        "matching runs, not the scale path); mutually "
                        "exclusive with --sample")
    p.add_argument("--embeddings", action="store_true",
                   help="include the mean-BoW text-similarity term in "
                        "reconciliation scoring")
    p.add_argument("--embeddings-file", default=None,
                   help="word-vector file for the embeddings term: GloVe/"
                        "word2vec text or word2vec C binary (.bin, "
                        "auto-sniffed); default is the deterministic "
                        "hash-vector fixture")
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--categories", default=None,
                   help="DBpedia categories SKOS graph (Turtle) unioned "
                        "verbatim into the output graph, like the "
                        "reference's dbpedia_categories_lang_en_skos.ttl "
                        "load (generator/__init__.py:158)")
    p.add_argument("--thesaurus", action="append", default=[],
                   metavar="VOCAB=PATH[,plain]",
                   help="load a SKOS RDF/XML thesaurus for VOCAB (repeat "
                        "per vocabulary; append ',plain' for plain-SKOS "
                        "labels instead of SKOS-XL); replaces the built-in "
                        "fixture entries")
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage-boundary checkpoint/resume directory; "
                        "staleness detection hashes the input file listing "
                        "(path, size, mtime), so an in-place same-size "
                        "overwrite within the filesystem's mtime "
                        "granularity (~1-2 s) is not detected — use a "
                        "fresh directory when regenerating inputs in "
                        "place, or pass --checkpoint-content-probe")
    p.add_argument("--checkpoint-content-probe", action="store_true",
                   help="also hash the first/last 64 KiB of every input "
                        "file into the checkpoint identity (two ranged "
                        "reads per file): closes the same-size same-mtime "
                        "overwrite window at a small I/O cost")
    p.add_argument("--mappings-output", default=None,
                   help="write the reconciliation mappings CSV (the "
                        "reference's per-side feature columns); requires "
                        "--reconcile > 0")
    p.add_argument("--stats-output", default=None)
    p.add_argument("--void-output", default=None,
                   help="parquet dir for the W3C VoID statistical "
                        "description of the emitted graph (long format "
                        "scope/key/metric/value) — the standardized "
                        "publication sidecar next to --stats-output's "
                        "reference-shaped counters")
    p.add_argument("--lineage-output", default=None)
    p.add_argument("--output-partitions", type=int, default=None)
    p.add_argument("--pred-buckets", type=int, default=None,
                   help="hive-partition the parquet triple table by a "
                        "deterministic predicate bucket (Iceberg-style "
                        "layout; single-predicate reads prune to 1/N of "
                        "the directories)")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "csv"],
                   help="csv = the reference's native wide-CSV dataset "
                        "(header row, ',' delimiter, '\"' quote/escape, "
                        "multiline cells), read in per-file row order — a "
                        "reference user's existing file is drop-in")
    p.add_argument("--streaming", action="store_true",
                   help="treat --input as a WATCHED directory: drain new "
                        "files via Structured Streaming (availableNow) and "
                        "append the stateless triple families to --output "
                        "as a parquet log; re-run to catch up (the stream "
                        "checkpoint in --checkpoint-dir skips files already "
                        "processed). Order-dependent families come from "
                        "--compact-to.")
    p.add_argument("--compact-to", default=None,
                   help="with --streaming: after draining, run the global "
                        "compaction (set-dedup + keyword/static/align/"
                        "reconcile families over the full corpus) into this "
                        "directory")
    return p


def _parse_thesaurus_spec(parser: argparse.ArgumentParser, spec: str):
    """VOCAB=PATH[,plain] — the ',plain' suffix is recognized only as the
    LITERAL trailing token, so paths containing ',' or '=' survive."""
    vocab, sep, rest = spec.partition("=")
    if not sep or not vocab or not rest:
        parser.error(
            f"--thesaurus spec {spec!r} must be VOCAB=PATH[,plain]"
        )
    if rest.endswith(",plain"):
        return vocab, rest[: -len(",plain")], False
    return vocab, rest, True


def _run_update(spark: SparkSession, args, update_text: str) -> int:
    """Standalone maintenance mode: one SPARQL UPDATE request as one
    atomic commit on the claims snapshot table at --output (the
    code_kg_cli --update twin; okind-aware — see sparql_update)."""
    from claimskg_generator_spark.operators.sparql_update import (
        ParsedGraphOp,
        apply_request_to_table,
        parse_update_request,
    )
    from claimskg_generator_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    ops = parse_update_request(update_text)
    forms = "; ".join(op.kind if isinstance(op, ParsedGraphOp)
                      else op.form for op in ops)
    table = SnapshotTable(spark, args.output, stat_cols=["pred", "subj"])
    sid = apply_request_to_table(table, ops)
    op = table.manifest(sid)["operation"]
    print(f"committed snapshot {sid} to {args.output} ({forms}, {op})")
    return 0


def main(argv=None) -> int:
    parser = build_arg_parser()
    args = parser.parse_args(argv)
    update_text = args.update
    if args.update_file:
        with open(args.update_file, "r", encoding="utf-8") as fh:
            update_text = fh.read()
    if update_text:
        if args.input or args.synth is not None or args.streaming:
            parser.error("--update is a standalone maintenance mode — "
                         "it takes no --input/--synth/--streaming "
                         "(build first, then update)")
        if args.format != "snapshot":
            parser.error("--update targets the snapshot table at "
                         "--output; pass --format snapshot")
        with product_session("claimskg-update") as spark:
            return _run_update(spark, args, update_text)
    if not args.input and args.synth is None:
        print("either --input or --synth is required", file=sys.stderr)
        return 2
    if args.mappings_output and args.reconcile <= 0:
        parser.error("--mappings-output requires --reconcile > 0 "
                     "(no pairs are scored otherwise)")
    if args.compact_to and not args.streaming:
        parser.error("--compact-to only applies to --streaming runs")
    if args.streaming:
        if args.synth is not None or not args.input:
            parser.error("--streaming requires --input (a watched "
                         "directory); --synth is batch-only")
        if not args.checkpoint_dir:
            parser.error("--streaming requires --checkpoint-dir (the "
                         "stream's progress log)")
        if args.format != "parquet":
            parser.error("--streaming appends a parquet triple log; "
                         "use --format parquet")
        if args.input_format != "parquet":
            parser.error("--streaming watches a parquet directory; "
                         "convert CSV drops with a batch --input-format "
                         "csv run first")
    if args.sample is not None and args.samples is not None:
        parser.error("--sample (fraction) and --samples (exact seeded "
                     "count) are mutually exclusive")
    if args.pred_buckets and args.format != "parquet":
        parser.error("--pred-buckets lays out the parquet triple table; "
                     "use --format parquet")
    if args.output_partitions and args.format not in ("parquet", "snapshot"):
        parser.error("--output-partitions lays out parquet files; the "
                     f"{args.format} sink writes one sorted document")
    thesaurus_specs = [_parse_thesaurus_spec(parser, s)
                       for s in args.thesaurus]

    with product_session("claimskg_generator_spark") as spark:
        return _build(spark, args, thesaurus_specs)


def _build(spark: SparkSession, args, thesaurus_specs) -> int:
    """One claims->RDF run (batch or streaming) and its side outputs."""
    config_kwargs = dict(
        model_uri=args.model_uri,
        threshold=args.threshold,
        recognizer=args.recognizer,
        include_body=args.include_body,
        align_duplicated=args.align_duplicated,
        sameas_canonical=args.sameas_canonical,
        reconcile_theta=args.reconcile,
        reconcile_sample=args.sample,
        reconcile_samples=args.samples,
        reconcile_seed=args.seed,
        reconcile_embeddings=args.embeddings,
        embeddings_file=args.embeddings_file,
    )
    if args.categories:
        from claimskg_generator_spark.sources.turtle import parse_turtle_file

        config_kwargs["category_triples"] = parse_turtle_file(
            args.categories
        )
    if args.thesaurus:
        from claimskg_generator_spark.sources.skos_xml import (
            entries_from_skos_xml,
        )

        entries = []
        for vocab, path, skos_xl in thesaurus_specs:
            entries.extend(
                entries_from_skos_xml(path, vocab, skos_xl_labels=skos_xl)
            )
        config_kwargs["thesaurus_entries"] = entries

    if args.streaming:
        from claimskg_generator_spark.streaming.ingest import (
            compact_triple_log,
            stream_triples,
        )

        # args.checkpoint_dir is the STREAM's progress log, not the
        # batch-pipeline memo; compaction recomputes from the corpus
        scfg = PipelineConfig(**config_kwargs, materialize_parsed=False)
        q = stream_triples(spark, args.input, args.output,
                           args.checkpoint_dir, scfg)
        q.awaitTermination()
        print(f"drained streaming input; triple log at {args.output}")
        if args.compact_to:
            compact_triple_log(spark, args.input, args.output,
                               args.compact_to, scfg)
            print(f"compacted triple table at {args.compact_to}")
        return 0

    # durable checkpoint identity across driver restarts: synth corpora
    # are identified by (n, seed); file inputs by path + a CONTENT
    # fingerprint (FS listing of lengths/mtimes), so overwriting the same
    # path invalidates old checkpoints instead of resuming them
    input_id = None
    if args.checkpoint_dir:
        input_id = (f"synth:{args.synth}:42" if args.synth is not None
                    else f"path:{args.input}:" + input_fingerprint(
                        spark, args.input,
                        content_probe=args.checkpoint_content_probe))
    cfg = PipelineConfig(**config_kwargs, checkpoint_dir=args.checkpoint_dir,
                         input_id=input_id)
    pipe = ClaimsKGPipeline(spark, cfg)

    if args.synth is not None:
        from claimskg_generator_spark.sources.synth import synthesize_corpus

        input_df = synthesize_corpus(spark, args.synth)
    elif args.input_format == "csv":
        from claimskg_generator_spark.sources.claims import read_reference_csv

        input_df = read_reference_csv(spark, args.input)
    else:
        input_df = spark.read.parquet(args.input)

    triples = pipe.run(input_df)
    if args.format == "snapshot":
        from claimskg_generator_spark.sources.snapshot_table import (
            SnapshotTable,
        )

        df = triples
        if args.output_partitions:
            df = df.repartitionByRange(args.output_partitions, "subj")
        table = SnapshotTable(spark, args.output, stat_cols=["pred", "subj"])
        sid = (table.append(df) if args.snapshot_mode == "append"
               else table.overwrite(df))
        print(f"committed snapshot {sid} to {args.output}")
    elif args.format == "parquet":
        pipe.write_triples(triples, args.output, args.output_partitions,
                           args.pred_buckets)
    elif args.format == "ntriples":
        pipe.write_ntriples(triples, args.output)
    elif args.format == "nquads":
        # per-predicate-family publication partition, the claims-side
        # twin of code_kg_cli --nquads-output
        write_nquads(with_graph(triples,
                                pred_family_graph("urn:claimskg:graph:")),
                     args.output)
    else:
        FORMATS[args.format](triples, args.output)

    if args.mappings_output and args.reconcile > 0:
        from claimskg_generator_spark.operators.reconcile import (
            reconcile_mappings,
        )
        from claimskg_generator_spark.operators.views import logical_views

        views = logical_views(pipe.claims(input_df), cfg.model_uri,
                              cfg.threshold)
        reconcile_mappings(
            views, cfg.reconcile_theta, cfg.reconcile_sample,
            cfg.reconcile_seed, cfg.reconcile_embeddings, cfg.embeddings_file,
            cfg.reconcile_samples,
        ).write.mode("overwrite").option("header", True).csv(args.mappings_output)

    if args.lineage_output:
        pipe.lineage(input_df).write.mode("overwrite").parquet(args.lineage_output)

    if args.stats_output:
        from claimskg_generator_spark.operators.stats import statistics_table

        statistics_table(
            pipe.claims(input_df), cfg.model_uri, pipe.matchers, cfg.threshold
        ).write.mode("overwrite").json(args.stats_output)

    if args.void_output:
        from claimskg_generator_spark.operators.kg_stats import void_stats

        void_stats(triples.select("subj", "pred", "obj")).write.mode(
            "overwrite").parquet(args.void_output)

    return 0


if __name__ == "__main__":
    raise SystemExit(main())
