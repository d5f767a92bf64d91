"""Code-KG construction CLI — the north-rule pipeline end-to-end over a
source-code repository table:

    python -m claimskg_generator_spark.code_kg_cli \
        --input /data/code_files --table-dir /data/code_kg \
        --checkpoint-dir /data/ck --quality-gate --exact-dedup \
        --links-output /data/links --canonical-output /data/canonical

Input: parquet with the north-rule columns ``(repo, path, commit, lang,
content)`` (``--synth-from-documents`` instead lifts a (doc_id, text)
documents parquet via sources/codesynth.py — the deterministic test
corpus).  Stages, each a checkpoint-resumable boundary (plans/
checkpoints.py — each stage's identity chains from its upstream stage,
anchored on the input content fingerprint, the gate/dedup/scheme/entail
flags and the package source, so a changed input, flag, upstream stage
or code recomputes that stage and every stage after it):

1. gate      — StarCoder-style quality gates (operators/code.py),
               optional (``--quality-gate``)
2. dedup     — exact content-hash dedup, first-writer (min repo/path)
               survivor, optional (``--exact-dedup``)
3. triples   — KG triple extraction (operators/code_kg.code_triples)
4. materialize — snapshot-table commit (predicate-clustered, manifest
               stats, per-split lineage + stage timings inside the
               atomic commit), a commit-once stage chained after the
               graph, so a resumed run never double-appends; or plain
               parquet via ``--output``
5. links / canonical — optional side outputs (entity linking,
               A5 module canonicalization)
6. entail    — ``--entail`` materializes the RDFS ρdf entailment of the
               graph under the code vocabulary (operators/rdfs.py,
               code_kg.CODE_ONTOLOGY) BEFORE the sinks, so published
               tables/exports carry superproperty/superclass facts
7. validate  — ``--validate`` runs the SHACL-lite publication shapes
               (operators/shacl.py, code_kg.code_shapes) over the graph
               (built this run, or ``--query-table``); conforms flag +
               violation count land in the summary JSON, the full
               report in ``--validate-output`` parquet
8. query     — ``--sparql``/``--sparql-file`` evaluates a SPARQL subset
               query (SELECT/CONSTRUCT/ASK/DESCRIBE, operators/
               sparql.py) against the triples built this run or an
               existing ``--query-table`` snapshot table (``--as-of``
               time travel); predicate_profile stats feed
               estimated-cost BGP join ordering (plus characteristic-
               set star estimates with ``--query-charsets``); result
               to ``--query-output`` parquet and/or the summary JSON.
               Query-only invocations (no input) read the table alone.

Run on a cluster via spark-submit --py-files (scripts/
make_pyfiles_zip.sh builds the zip); locally it creates its own
session.  Summary JSON (stage actions, counts, snapshot id) prints to
stdout as the single last line.
"""

import argparse
import json
import sys

from pyspark.sql import functions as F

from claimskg_generator_spark.plans.sinks import (
    pred_family_graph,
    with_graph,
    write_nquads,
    write_ntriples,
    write_parquet,
)
from claimskg_generator_spark.session import product_session

# named-graph prefix of the per-predicate-family publication partition
CODE_GRAPHS = "urn:code:graph:"


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="claimskg-code-kg",
        description="KG construction over a source-code repository table",
    )
    src = p.add_mutually_exclusive_group()
    src.add_argument("--input",
                     help="code-files parquet (repo, path, commit, lang, "
                          "content)")
    src.add_argument("--synth-from-documents",
                     help="lift a (doc_id, text) documents parquet into "
                          "the code shape (sources/codesynth.py)")
    out = p.add_argument_group("outputs")
    out.add_argument("--table-dir",
                     help="snapshot-table root for the materialized graph")
    out.add_argument("--output",
                     help="plain parquet triple output (alternative or "
                          "additional to --table-dir)")
    out.add_argument("--ntriples-output",
                     help="canonical sorted N-Triples serialization of "
                          "the graph (plans/sinks.write_ntriples)")
    out.add_argument("--nquads-output",
                     help="canonical sorted N-Quads serialization with "
                          "one named graph per predicate family "
                          "(urn:code:graph:<local-name>) — the "
                          "publication partition GRAPH queries and "
                          "FROM/FROM NAMED datasets address "
                          "(plans/sinks.write_nquads)")
    out.add_argument("--links-output",
                     help="entity-link table output (parquet)")
    out.add_argument("--canonical-output",
                     help="module canonicalization output (parquet)")
    qry = p.add_argument_group(
        "query", "run a SPARQL subset query (operators/sparql.py) against "
                 "the graph — the triples built this run, or an existing "
                 "snapshot table via --query-table")
    qg = qry.add_mutually_exclusive_group()
    qg.add_argument("--sparql",
                    help="SPARQL SELECT or CONSTRUCT text")
    qg.add_argument("--sparql-file",
                    help="file containing the SPARQL query")
    qry.add_argument("--query-table",
                     help="snapshot-table root to query (default: the "
                          "triples built this run)")
    qry.add_argument("--as-of", type=int, default=None,
                     help="time-travel snapshot id for --query-table")
    qry.add_argument("--query-output",
                     help="parquet dir for the full query result")
    qry.add_argument("--query-print", type=int, default=20, metavar="N",
                     help="include up to N result rows in the summary "
                          "JSON (0 = none; default 20)")
    qry.add_argument("--query-charsets", action="store_true",
                     help="also feed characteristic-set star estimates "
                          "into the BGP join order (kg_stats."
                          "characteristic_sets; sharper than the "
                          "per-predicate stats on correlated-predicate "
                          "stars)")
    qry.add_argument("--no-query-stats", action="store_true",
                     help="skip the predicate_profile pass that feeds "
                          "estimated-cost BGP join ordering")
    upd = p.add_argument_group(
        "update", "apply one SPARQL 1.1 UPDATE request (operators/"
                  "sparql_update.py) to --query-table as ONE atomic "
                  "commit, before any query/validate/void stage runs")
    ug = upd.add_mutually_exclusive_group()
    ug.add_argument("--update", metavar="SPARQL",
                    help="SPARQL UPDATE text (INSERT DATA / DELETE DATA "
                         "/ DELETE WHERE / DELETE..INSERT..WHERE, "
                         "';'-chained sequences, CLEAR/DROP/COPY/MOVE/"
                         "ADD graph management, and WITH/USING/GRAPH "
                         "scoping on --with-named-graphs tables — the "
                         "whole request is ONE commit)")
    ug.add_argument("--update-file", metavar="FILE",
                    help="file containing the SPARQL UPDATE request")
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage-boundary checkpoint root (resume on rerun)")
    p.add_argument("--checkpoint-content-probe", action="store_true",
                   help="harden the input fingerprint with first/last-"
                        "block digests (closes the same-second-overwrite "
                        "window; two ranged reads per file)")
    p.add_argument("--entail", action="store_true",
                   help="materialize the RDFS entailment of the graph "
                        "under the code vocabulary before the sinks")
    p.add_argument("--validate", action="store_true",
                   help="run the SHACL-lite publication shapes; conforms "
                        "+ violation count go to the summary JSON")
    p.add_argument("--validate-output",
                   help="parquet dir for the full SHACL violations report")
    p.add_argument("--void-output",
                   help="parquet dir for the W3C VoID statistical "
                        "description of the published graph (long "
                        "format: scope/key/metric/value); dataset-level "
                        "counts also land in the summary JSON")
    p.add_argument("--prov-output",
                   help="parquet dir for the W3C PROV-O provenance "
                        "facts of this build (operators/code_kg."
                        "prov_lineage_triples): per-repo prov:Entity/"
                        "Activity rows carrying the order-canonical "
                        "content fingerprint and file/emission counts. "
                        "Requires a build — provenance derives from the "
                        "INPUT files; a stored table's split-grain "
                        "lineage already rides its snapshot manifests")
    p.add_argument("--wl-output",
                   help="parquet dir for the Weisfeiler-Leman structural "
                        "fingerprint of the published graph (operators/"
                        "components.wl_fingerprint over the entity-entity "
                        "triples): one row (n_nodes, n_roles, xor_h, "
                        "sum_h) — an isomorphism-invariant hash two "
                        "relabeled-but-structurally-equal publications "
                        "share; the fields also land in the summary JSON")
    p.add_argument("--wl-iters", type=int, default=2,
                   help="WL refinement rounds for --wl-output "
                        "(default 2)")
    p.add_argument("--quality-gate", action="store_true",
                   help="drop files failing the StarCoder-style gates")
    p.add_argument("--exact-dedup", action="store_true",
                   help="exact content dedup, (repo, path)-min survivor")
    p.add_argument("--with-named-graphs", action="store_true",
                    help="materialize the predicate-family named-graph "
                         "column (urn:code:graph:<local-name>) on every "
                         "triple — the table then answers GRAPH ?g / "
                         "FROM / FROM NAMED queries; NOTE plain "
                         "patterns address the DEFAULT graph, which is "
                         "empty under this partition (SPARQL dataset "
                         "rule) — query the partition via GRAPH or "
                         "FROM")
    p.add_argument("--uri-scheme", default="md5", choices=["md5", "uuid5"],
                   help="entity URI minting scheme (md5 URN or UUIDv5)")
    p.add_argument("--min-repos", type=int, default=2,
                   help="entity-link dictionary floor (distinct repos)")
    p.add_argument("--link-threshold", type=float, default=0.25,
                   help="entity-link confidence threshold")
    p.add_argument("--n-partitions", type=int, default=None,
                   help="materialize layout partitions (default: Spark "
                        "range-partitioning heuristics)")
    return p


def _exact_dedup(files):
    """Content-hash dedup with a deterministic first-writer survivor: for
    each distinct content, the (repo, path)-min row wins.  One combinable
    groupBy on the 64-hex digest — tiny shuffle rows, engine-stable."""
    h = F.sha2(F.col("content"), 256).alias("__h")
    winners = (
        files.select(h, F.struct("repo", "path").alias("__w"))
        .groupBy("__h").agg(F.min("__w").alias("__w"))
        .select("__h", F.col("__w.repo").alias("repo"),
                F.col("__w.path").alias("path"))
    )
    return files.join(winners, ["repo", "path"], "left_semi")


def main(argv=None) -> int:
    args = build_arg_parser().parse_args(argv)
    query_text = args.sparql
    if args.sparql_file:
        with open(args.sparql_file, "r", encoding="utf-8") as fh:
            query_text = fh.read()
    update_text = args.update
    if args.update_file:
        with open(args.update_file, "r", encoding="utf-8") as fh:
            update_text = fh.read()
    if update_text and not args.query_table:
        print("error: --update/--update-file needs --query-table (an "
              "update is an atomic snapshot-table commit)",
              file=sys.stderr)
        return 2
    if update_text and args.as_of is not None:
        print("error: --update cannot target a past snapshot (--as-of) "
              "— time travel is read-only", file=sys.stderr)
        return 2
    building = bool(args.input or args.synth_from_documents)
    if building and not (args.table_dir or args.output
                         or args.ntriples_output or args.nquads_output
                         or query_text):
        print("error: need --table-dir, --output, --ntriples-output, "
              "--nquads-output and/or a query", file=sys.stderr)
        return 2
    if not building and not query_text and not args.validate \
            and not args.void_output and not update_text \
            and not args.prov_output and not args.wl_output:
        print("error: need --input/--synth-from-documents, a --sparql "
              "query, --update, --validate, --void-output, "
              "--prov-output and/or --wl-output", file=sys.stderr)
        return 2
    if not building and (query_text or args.validate
                         or args.void_output
                         or args.wl_output) and not args.query_table:
        print("error: a query/--validate/--void-output/--wl-output "
              "without a build needs --query-table", file=sys.stderr)
        return 2
    if args.wl_output and args.wl_iters < 1:
        print("error: --wl-iters must be >= 1", file=sys.stderr)
        return 2
    if args.prov_output and not building:
        print("error: --prov-output needs a build (--input/"
              "--synth-from-documents) — provenance derives from the "
              "input files; a stored table's lineage rides its "
              "snapshot manifests", file=sys.stderr)
        return 2

    summary = {"stages": [], "counts": {}}
    with product_session("code-kg") as spark:
        triples = None
        files = None
        if building:
            files, triples = _build_graph(spark, args, summary)
            summary["counts"]["triples"] = triples.count()
            summary["counts"]["files"] = files.count()
        if args.prov_output:
            _run_prov(spark, args, files, summary)
        if update_text:
            _run_update(spark, args, update_text, summary)
        if args.validate:
            _run_validate(spark, args, triples, summary)
        if args.void_output:
            _run_void(spark, args, triples, summary)
        if args.wl_output:
            _run_wl(spark, args, triples, summary)
        if query_text:
            _run_query(spark, args, query_text, triples, summary)
        print(json.dumps(summary))
        return 0


def _run_update(spark, args, update_text, summary) -> None:
    """One SPARQL UPDATE request — a single operation OR a
    ``;``-chained sequence with graph-management operations — as ONE
    atomic snapshot commit on --query-table (sequence semantics +
    request atomicity per sparql_update.apply_request_to_table; named
    graph features need a --with-named-graphs table); later stages
    (--sparql/--validate/--void-output) re-read the table and observe
    the post-update graph."""
    from claimskg_generator_spark.operators.sparql_update import (
        ParsedGraphOp,
        apply_request_to_table,
        parse_update_request,
    )
    from claimskg_generator_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    ops = parse_update_request(update_text)
    table = SnapshotTable(spark, args.query_table, stat_cols=["pred"])
    sid = apply_request_to_table(table, ops)
    summary["sparql_update"] = {
        "forms": [op.kind if isinstance(op, ParsedGraphOp) else op.form
                  for op in ops],
        "snapshot_id": sid,
        "operation": table.manifest(sid)["operation"],
    }


def _resolve_graph(spark, args, triples):
    """The graph a post-build stage targets: --query-table (optionally
    time-traveled) if given, else the triples built this run."""
    if args.query_table:
        from claimskg_generator_spark.sources.snapshot_table import (
            SnapshotTable,
        )

        return SnapshotTable(spark, args.query_table).read(
            snapshot_id=args.as_of)
    return triples


def _run_validate(spark, args, triples, summary) -> None:
    """SHACL-lite publication gate: the code_kg.code_shapes() contract
    over the (possibly entailed) graph; conforms + count to the
    summary, the full report to --validate-output."""
    from claimskg_generator_spark.operators.code_kg import code_shapes
    from claimskg_generator_spark.operators.shacl import shacl_validate

    report = shacl_validate(_resolve_graph(spark, args, triples),
                            code_shapes())
    if args.validate_output:
        report.write.mode("overwrite").parquet(args.validate_output)
        report = spark.read.parquet(args.validate_output)
    n = report.count()
    summary["validation"] = {"conforms": n == 0, "n_violations": n}
    if args.validate_output:
        summary["validation"]["output"] = args.validate_output


def _run_void(spark, args, triples, summary) -> None:
    """W3C VoID publication sidecar: operators/kg_stats.void_stats over
    the (possibly entailed / time-traveled) graph, written next to the
    graph outputs; the dataset-level counts join the summary JSON so a
    publish run reports its own size."""
    from claimskg_generator_spark.operators.kg_stats import void_stats

    stats = void_stats(_resolve_graph(spark, args, triples))
    stats.write.mode("overwrite").parquet(args.void_output)
    stats = spark.read.parquet(args.void_output)
    summary["void"] = {
        "output": args.void_output,
        "dataset": {r["metric"]: r["value"]
                    for r in stats.where("scope = 'dataset'").collect()},
    }


def _run_wl(spark, args, triples, summary) -> None:
    """Weisfeiler-Leman structural-fingerprint sidecar
    (operators/components.wl_fingerprint over the graph's
    entity-entity triples — literal objects are attributes, not
    structure): the isomorphism-invariant hash of the published
    graph, written next to the graph outputs; the fields join the
    summary JSON so two publications can be compared structurally
    without reading either graph."""
    from pyspark.sql import functions as F

    from claimskg_generator_spark.operators.components import (
        wl_fingerprint,
    )

    g = _resolve_graph(spark, args, triples)
    if "okind" in g.columns:
        g = g.where(F.col("okind") == "uri")
    fp = wl_fingerprint(g.select("subj", "pred", "obj"),
                        n_iters=args.wl_iters)
    fp.write.mode("overwrite").parquet(args.wl_output)
    row = spark.read.parquet(args.wl_output).collect()[0]
    summary["wl"] = {
        "output": args.wl_output,
        "n_iters": args.wl_iters,
        "n_nodes": row["n_nodes"],
        "n_roles": row["n_roles"],
        "xor_h": row["xor_h"],
        "sum_h": row["sum_h"],
    }


def _run_prov(spark, args, files, summary) -> None:
    """PROV-O provenance sidecar: operators/code_kg.prov_lineage_triples
    over this build's input files (the north rule's lineage rows
    published as graph facts), written next to the graph outputs; the
    partition count joins the summary JSON.  Minting follows
    --uri-scheme so the facts join the graph they describe."""
    from claimskg_generator_spark.operators.code_kg import (
        prov_lineage_triples,
    )

    trips = prov_lineage_triples(files, scheme=args.uri_scheme)
    trips.write.mode("overwrite").parquet(args.prov_output)
    trips = spark.read.parquet(args.prov_output)
    n = trips.count()
    summary["prov"] = {
        "output": args.prov_output,
        "n_facts": n,
        # 8 facts per repo partition by construction
        "n_partitions": n // 8,
    }


def _run_query(spark, args, query_text, triples, summary) -> None:
    """Evaluate a SPARQL subset query against --query-table (optionally
    time-traveled) or the triples built this run; predicate_profile
    stats feed estimated-cost join ordering unless --no-query-stats,
    and --query-charsets adds characteristic-set star estimates."""
    from claimskg_generator_spark.operators.bgp import predicate_profile
    from claimskg_generator_spark.operators.sparql import (
        parse_sparql,
        sparql_ask,
        sparql_construct,
        sparql_describe,
        sparql_select,
    )

    graph = _resolve_graph(spark, args, triples)
    stats = None
    if not args.no_query_stats:
        stats = {r["pred"]: (r["n_triples"], r["n_subj"], r["n_obj"])
                 for r in predicate_profile(graph).collect()}
    charsets = None
    if args.query_charsets:
        from claimskg_generator_spark.operators.kg_stats import (
            characteristic_sets,
        )

        charsets = {r["predset"]: (r["entities"], r["triples"])
                    for r in characteristic_sets(
                        graph, max_set_preds=12).collect()}
    q = parse_sparql(query_text)
    run = {"select": sparql_select, "construct": sparql_construct,
           "ask": sparql_ask, "describe": sparql_describe}[q.form]
    result = run(graph, q, stats=stats, charsets=charsets)
    info = {"form": q.form, "columns": result.columns}
    if args.query_output:
        result.write.mode("overwrite").parquet(args.query_output)
        info["output"] = args.query_output
        info["n_rows"] = result.count()
    if args.query_print:
        info["rows"] = [row.asDict()
                        for row in result.limit(args.query_print).collect()]
    summary["query"] = info


def _build_graph(spark, args, summary):
    """The construction stages (gate -> dedup -> triples -> sinks), each
    a checkpoint-resumable boundary.  Returns (files, triples)."""
    from claimskg_generator_spark.operators.code import with_code_quality
    from claimskg_generator_spark.operators.code_kg import (
        canonicalize_modules,
        code_triples,
        link_modules,
        materialize_code_kg,
    )
    from claimskg_generator_spark.plans.checkpoints import (
        CheckpointManager,
        input_fingerprint,
    )

    ck = CheckpointManager(spark, args.checkpoint_dir)
    if args.input:
        files = spark.read.parquet(args.input)
    else:
        from claimskg_generator_spark.sources.codesynth import code_files

        files = code_files(spark.read.parquet(args.synth_from_documents))
    if args.checkpoint_dir:
        source, in_path = (("input", args.input) if args.input
                           else ("documents", args.synth_from_documents))
        fp = input_fingerprint(spark, in_path,
                               content_probe=args.checkpoint_content_probe)
        ck.anchor(f"{source}:{in_path}:{fp}",
                  f"gate={args.quality_gate}|dedup={args.exact_dedup}"
                  f"|scheme={args.uri_scheme}|entail={args.entail}")

    if args.quality_gate:
        gated = with_code_quality(files).filter("keep").drop(
            "n_lines", "max_line_len", "avg_line_len", "alnum_frac",
            "is_autogenerated", "has_hex_blob", "keep")
        files = ck.materialize("gate", gated)
    if args.exact_dedup:
        files = ck.materialize("dedup", _exact_dedup(files))

    triples = ck.materialize("triples",
                             code_triples(files, scheme=args.uri_scheme))
    if args.entail:
        from claimskg_generator_spark.operators.code_kg import (
            CODE_ONTOLOGY,
        )
        from claimskg_generator_spark.operators.rdfs import rdfs_entail

        triples = ck.materialize(
            "entail",
            rdfs_entail(triples, CODE_ONTOLOGY, okind_col="okind"))
    if args.with_named_graphs:
        # a pure projection AFTER the (possibly entailed) graph is
        # final — entailed rows get their family graph too; checkpoint
        # stages stay graph-free (re-attach is free on resume)
        triples = with_graph(triples, pred_family_graph(CODE_GRAPHS))

    if args.table_dir:
        # a stage boundary chained after the last materialized stage, so
        # a resumed run never appends the same snapshot twice
        sid = ck.commit_once(
            "table_commit",
            lambda: materialize_code_kg(
                spark, files, args.table_dir, scheme=args.uri_scheme,
                n_partitions=args.n_partitions, triples=triples),
            settings=f"named_graphs={args.with_named_graphs}",
            path=args.table_dir)
        if sid is None:
            from claimskg_generator_spark.sources.snapshot_table import (
                SnapshotTable,
            )

            sid = SnapshotTable(spark, args.table_dir).current_snapshot_id()
        summary["snapshot_id"] = sid
    if args.output:
        write_parquet(triples, args.output)
    if args.ntriples_output:
        write_ntriples(triples, args.ntriples_output)
    if args.nquads_output:
        # one named graph per predicate family (pure projection — the
        # same quads model q130/q133 query back via GRAPH / FROM NAMED)
        write_nquads(with_graph(triples, pred_family_graph(CODE_GRAPHS)),
                     args.nquads_output)
    if args.links_output:
        link_modules(files, min_repos=args.min_repos,
                     threshold=args.link_threshold,
                     scheme=args.uri_scheme).write.mode(
            "overwrite").parquet(args.links_output)
    if args.canonical_output:
        canonicalize_modules(files).write.mode("overwrite").parquet(
            args.canonical_output)

    ck.write_manifest()
    summary["stages"] = [
        {"stage": s, "action": a, "wall_s": round(w, 3)}
        for s, a, w, _p in ck.events
    ]
    return files, triples


if __name__ == "__main__":
    raise SystemExit(main())
