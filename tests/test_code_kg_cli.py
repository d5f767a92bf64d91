"""End-to-end code-KG CLI (code_kg_cli.py): full-feature run, resume
semantics (no stage recompute, no double snapshot append), and the
plain-parquet output path."""

import json

import pytest
from pyspark.sql import functions as F

from claimskg_generator_spark.code_kg_cli import main
from claimskg_generator_spark.operators.code import with_code_quality
from claimskg_generator_spark.operators.code_kg import code_triples
from claimskg_generator_spark.sources.codesynth import code_files


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("codekg") / "documents.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta{i} epsilon zeta eta theta iota")
         for i in range(80)],
        "doc_id bigint, text string",
    ).write.parquet(path)
    return path


def _run(capsys, *argv) -> dict:
    assert main(list(argv)) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_end_to_end_and_resume(spark, docs_path, tmp_path, capsys):
    table = str(tmp_path / "kg")
    ck = str(tmp_path / "ck")
    argv = ["--synth-from-documents", docs_path, "--table-dir", table,
            "--checkpoint-dir", ck, "--quality-gate", "--exact-dedup",
            "--links-output", str(tmp_path / "links"),
            "--canonical-output", str(tmp_path / "canon")]
    s1 = _run(capsys, *argv)
    assert s1["snapshot_id"] == 1
    assert {e["stage"]: e["action"] for e in s1["stages"]} == {
        "gate": "write", "dedup": "write", "triples": "write",
        "table_commit": "write"}

    # table contents == triple extraction over the gated+deduped corpus
    from claimskg_generator_spark.sources.snapshot_table import SnapshotTable

    expected = code_triples(
        with_code_quality(code_files(spark.read.parquet(docs_path)))
        .filter("keep")
        .select("doc_id", "repo", "path", "commit", "lang", "content"))
    back = SnapshotTable(spark, table).read()
    assert back.count() == s1["counts"]["triples"] == expected.count()
    assert back.exceptAll(expected).count() == 0

    # side outputs exist and are consistent
    links = spark.read.parquet(str(tmp_path / "links"))
    assert links.filter(F.col("confidence") < 0.25).count() == 0
    canon = spark.read.parquet(str(tmp_path / "canon"))
    assert canon.count() > 0

    # resume: every stage skips, the table gains NO second snapshot
    s2 = _run(capsys, *argv)
    assert {e["stage"]: e["action"] for e in s2["stages"]} == {
        "gate": "resume", "dedup": "resume", "triples": "resume",
        "table_commit": "resume"}
    t = SnapshotTable(spark, table)
    assert s2["snapshot_id"] == 1
    assert len(t.snapshots()) == 1
    assert s2["counts"] == s1["counts"]


def test_plain_parquet_output(spark, docs_path, tmp_path, capsys):
    out = str(tmp_path / "triples")
    s = _run(capsys, "--synth-from-documents", docs_path,
             "--output", out, "--uri-scheme", "uuid5")
    got = spark.read.parquet(out)
    assert got.count() == s["counts"]["triples"]
    assert got.filter(F.col("subj").startswith("urn:uuid:")).count() > 0


def test_requires_an_output(docs_path, capsys):
    assert main(["--synth-from-documents", docs_path]) == 2


def test_changed_flags_invalidate_checkpoints(spark, docs_path, tmp_path,
                                              capsys):
    """Same checkpoint dir, different gate config -> stages recompute
    (identity tokens embed the config blob)."""
    ck = str(tmp_path / "ck2")
    out = str(tmp_path / "t1")
    _run(capsys, "--synth-from-documents", docs_path, "--output", out,
         "--checkpoint-dir", ck, "--exact-dedup")
    s = _run(capsys, "--synth-from-documents", docs_path, "--output", out,
             "--checkpoint-dir", ck, "--exact-dedup", "--quality-gate")
    acts = {e["stage"]: e["action"] for e in s["stages"]}
    assert acts["dedup"] == "write"  # upstream gate changed the plan
    assert acts["triples"] == "write"


def test_table_commit_is_once_per_table(spark, docs_path, tmp_path, capsys):
    """A run that resumes every stage but names a new --table-dir commits
    the graph to that table; the first table gains no second snapshot."""
    from claimskg_generator_spark.sources.snapshot_table import SnapshotTable

    argv = ["--synth-from-documents", docs_path,
            "--checkpoint-dir", str(tmp_path / "ck")]
    s1 = _run(capsys, *argv, "--table-dir", str(tmp_path / "kg1"))
    s2 = _run(capsys, *argv, "--table-dir", str(tmp_path / "kg2"))
    assert {e["stage"]: e["action"] for e in s2["stages"]} == {
        "triples": "resume", "table_commit": "write"}
    assert s2["snapshot_id"] == 1
    assert (SnapshotTable(spark, str(tmp_path / "kg2")).read().count()
            == s1["counts"]["triples"])
    assert len(SnapshotTable(spark, str(tmp_path / "kg1")).snapshots()) == 1


def test_changed_gate_recomputes_every_later_stage(spark, docs_path, tmp_path,
                                                   capsys, monkeypatch):
    """An edit to the quality gate between two runs over one checkpoint
    dir recomputes the gate AND every stage after it: dedup and triples
    rebuild from the new file set instead of resuming the old graph."""
    from claimskg_generator_spark.operators import code
    from claimskg_generator_spark.plans import checkpoints
    from claimskg_generator_spark.sources.snapshot_table import SnapshotTable

    argv = ["--synth-from-documents", docs_path, "--quality-gate",
            "--exact-dedup", "--checkpoint-dir", str(tmp_path / "ck")]
    s1 = _run(capsys, *argv, "--table-dir", str(tmp_path / "kg1"))

    gate = code.with_code_quality

    def stricter(files):
        return gate(files).withColumn(
            "keep", F.col("keep") & (F.col("doc_id") % 2 == 0))

    monkeypatch.setattr(code, "with_code_quality", stricter)
    # the edit is to package source, which the checkpoint anchor hashes
    monkeypatch.setattr(checkpoints, "source_digest", lambda: "edited")
    table = str(tmp_path / "kg2")
    s2 = _run(capsys, *argv, "--table-dir", table)
    assert {e["stage"]: e["action"] for e in s2["stages"]} == {
        "gate": "write", "dedup": "write", "triples": "write",
        "table_commit": "write"}
    assert s2["counts"]["files"] < s1["counts"]["files"]
    expected = code_triples(
        stricter(code_files(spark.read.parquet(docs_path)))
        .filter("keep")
        .select("doc_id", "repo", "path", "commit", "lang", "content"))
    back = SnapshotTable(spark, table).read()
    assert back.count() == s2["counts"]["triples"] == expected.count()
    assert back.exceptAll(expected).count() == 0


def test_ntriples_output(spark, docs_path, tmp_path, capsys):
    import glob

    nt = str(tmp_path / "graph_nt")
    s = _run(capsys, "--synth-from-documents", docs_path,
             "--ntriples-output", nt)
    lines = []
    for p in sorted(glob.glob(nt + "/part-*")):
        with open(p) as fh:
            lines += [l.rstrip("\n") for l in fh if l.strip()]
    assert len(lines) == s["counts"]["triples"]
    assert all(l.endswith(" .") for l in lines)
    assert lines == sorted(lines)
    # URI objects serialize bracketed, literals quoted
    assert any("> <urn:code:repo:" in l for l in lines)
    assert any('"python"' in l for l in lines)


def test_sparql_query_mode_build_and_query(spark, docs_path, tmp_path,
                                           capsys):
    """Build + query in one invocation: the SELECT runs against the
    triples built this run (no --query-table), rows land in the summary
    and the full result in --query-output parquet."""
    qout = str(tmp_path / "qres")
    s = _run(capsys, "--synth-from-documents", docs_path,
             "--output", str(tmp_path / "t_q"),
             "--sparql",
             "PREFIX s: <http://schema.org/> "
             "SELECT ?r (COUNT(?f) AS ?n) WHERE "
             "{ ?f s:codeRepository ?r } GROUP BY ?r",
             "--query-output", qout, "--query-print", "5")
    q = s["query"]
    assert q["form"] == "select" and q["columns"] == ["r", "n"]
    assert len(q["rows"]) == 5
    got = spark.read.parquet(qout)
    assert got.count() == q["n_rows"]
    assert got.agg(F.sum("n")).collect()[0][0] == s["counts"]["files"]


def test_sparql_query_only_against_snapshot_table(spark, docs_path,
                                                  tmp_path, capsys):
    """Query-only invocation (no input): read an existing snapshot
    table, time-travel included; CONSTRUCT form writes a graph."""
    table = str(tmp_path / "kg_q")
    s0 = _run(capsys, "--synth-from-documents", docs_path,
              "--table-dir", table)
    qfile = tmp_path / "q.rq"
    qfile.write_text(
        "PREFIX c: <http://example.org/code#>\n"
        "CONSTRUCT { ?r c:usesModule ?m }\n"
        "WHERE { ?f c:imports ?m . ?f <http://schema.org/codeRepository>"
        " ?r }\n")
    s = _run(capsys, "--sparql-file", str(qfile), "--query-table", table,
             "--query-print", "3")
    q = s["query"]
    assert q["form"] == "construct"
    assert q["columns"] == ["subj", "pred", "obj"]
    assert len(q["rows"]) == 3
    assert all(r["pred"] == "http://example.org/code#usesModule"
               for r in q["rows"])
    # stats-off path must produce the same graph (compare full outputs)
    a = str(tmp_path / "qa")
    b = str(tmp_path / "qb")
    _run(capsys, "--sparql-file", str(qfile), "--query-table", table,
         "--query-print", "0", "--query-output", a)
    _run(capsys, "--sparql-file", str(qfile), "--query-table", table,
         "--query-print", "0", "--query-output", b, "--no-query-stats")
    rows_a = sorted(map(tuple, spark.read.parquet(a).collect()))
    rows_b = sorted(map(tuple, spark.read.parquet(b).collect()))
    assert rows_a == rows_b and len(rows_a) > 0
    # --as-of time-travels to the (only) committed snapshot
    s3 = _run(capsys, "--sparql-file", str(qfile), "--query-table", table,
              "--as-of", str(s0["snapshot_id"]), "--query-print", "0")
    assert "rows" not in s3["query"]


def test_sparql_query_mode_errors(docs_path, tmp_path, capsys):
    # query with no build and no table
    assert main(["--sparql", "SELECT ?s WHERE { ?s <p> ?o }"]) == 2
    # no input and no query at all
    assert main([]) == 2


def test_entail_and_validate_stages(spark, docs_path, tmp_path, capsys):
    """--entail materializes the ρdf closure before the sinks (the
    written graph carries dependsOn/Resource facts); --validate runs
    the publication shapes and reports violations (the synth corpus
    has js files, which the closed language set deliberately flags)."""
    from claimskg_generator_spark.operators import code_kg as ck

    out = str(tmp_path / "t_ent")
    vout = str(tmp_path / "viol")
    s = _run(capsys, "--synth-from-documents", docs_path,
             "--output", out, "--entail", "--validate",
             "--validate-output", vout)
    got = spark.read.parquet(out)
    assert got.columns == ["subj", "pred", "obj", "okind"]
    preds = {r["pred"] for r in got.select("pred").distinct().collect()}
    assert ck.P_DEPENDS_ON in preds and ck.P_RELATED_TO in preds
    types = {r["obj"] for r in got.filter(
        F.col("pred") == ck.RDF_TYPE).select("obj").distinct().collect()}
    assert ck.T_RESOURCE in types and ck.T_DEPENDENCY in types
    # lifted facts ride 'uri' okind; asserted literals keep theirs
    kinds = {r["okind"] for r in got.filter(
        F.col("pred") == ck.P_DEPENDS_ON).select("okind").collect()}
    assert kinds == {"uri"}
    v = s["validation"]
    assert v["conforms"] is False and v["n_violations"] > 0
    rep = spark.read.parquet(vout)
    assert rep.count() == v["n_violations"]
    cons = {r["constraint"] for r in rep.select("constraint")
            .distinct().collect()}
    assert "in" in cons        # the js files


def test_validate_against_snapshot_table(spark, docs_path, tmp_path,
                                         capsys):
    table = str(tmp_path / "kg_v")
    _run(capsys, "--synth-from-documents", docs_path,
         "--table-dir", table)
    s = _run(capsys, "--validate", "--query-table", table)
    assert s["validation"]["n_violations"] > 0
    # validate-only without a table is a usage error
    assert main(["--validate"]) == 2


def test_entail_resume_stage(spark, docs_path, tmp_path, capsys):
    ckdir = str(tmp_path / "ck_ent")
    argv = ["--synth-from-documents", docs_path,
            "--output", str(tmp_path / "o1"), "--entail",
            "--checkpoint-dir", ckdir]
    s1 = _run(capsys, *argv)
    assert any(st["stage"] == "entail" and st["action"] == "write"
               for st in s1["stages"])
    s2 = _run(capsys, *argv[:-2] + ["--checkpoint-dir", ckdir])
    assert any(st["stage"] == "entail" and st["action"] == "resume"
               for st in s2["stages"])
    assert s1["counts"]["triples"] == s2["counts"]["triples"]


def test_void_output_sidecar(spark, docs_path, tmp_path, capsys):
    """--void-output writes the VoID long-format stats for the built
    graph and surfaces the dataset-level counts in the summary; the
    sidecar must agree with void_stats over the same triples."""
    out = str(tmp_path / "triples_v")
    void = str(tmp_path / "void")
    s = _run(capsys, "--synth-from-documents", docs_path,
             "--output", out, "--void-output", void)
    assert s["void"]["output"] == void
    assert s["void"]["dataset"]["triples"] == s["counts"]["triples"]
    stats = spark.read.parquet(void)
    assert set(stats.columns) == {"scope", "key", "metric", "value"}

    from claimskg_generator_spark.operators.kg_stats import void_stats

    direct = void_stats(spark.read.parquet(out))
    assert sorted(map(tuple, stats.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_void_output_against_snapshot_table(spark, docs_path, tmp_path,
                                            capsys):
    table = str(tmp_path / "kg_v")
    _run(capsys, "--synth-from-documents", docs_path,
         "--table-dir", table)
    void = str(tmp_path / "void_t")
    s = _run(capsys, "--query-table", table, "--void-output", void)
    assert s["void"]["dataset"]["triples"] > 0
    # void-only without a build and without --query-table is an error
    assert main(["--void-output", void]) == 2


def test_nquads_output(spark, docs_path, tmp_path, capsys):
    import glob
    import re

    nq = str(tmp_path / "graph_nq")
    s = _run(capsys, "--synth-from-documents", docs_path,
             "--nquads-output", nq)
    lines = []
    for p in sorted(glob.glob(nq + "/part-*")):
        with open(p) as fh:
            lines += [l.rstrip("\n") for l in fh if l.strip()]
    assert len(lines) == s["counts"]["triples"]
    assert lines == sorted(lines)
    # every statement carries its predicate-family named graph as the
    # 4th term
    pat = re.compile(r" <urn:code:graph:([A-Za-z0-9_]+)> \.$")
    graphs = set()
    for l in lines:
        m = pat.search(l)
        assert m, l
        graphs.add(m.group(1))
    # the graph name is the predicate's local name
    assert {"codeRepository", "programmingLanguage", "type",
            "sha256"} <= graphs
    for l in lines:
        m = re.search(r" <([^>]+)> (?:\"|<|_:)", l)
        assert pat.search(l).group(1) == re.split(
            r"[/#]", m.group(1))[-1], l


def test_query_charsets_flag(spark, docs_path, tmp_path, capsys):
    """--query-charsets feeds star estimates into the join order; the
    result set must be identical with and without (ordering only)."""
    q = ("PREFIX s: <http://schema.org/> "
         "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#> "
         "SELECT ?f ?r ?lbl WHERE { ?f s:codeRepository ?r . "
         "?f s:programmingLanguage \"python\" . ?r rdfs:label ?lbl }")
    s1 = _run(capsys, "--synth-from-documents", docs_path, "--sparql", q,
              "--query-print", "1000")
    s2 = _run(capsys, "--synth-from-documents", docs_path, "--sparql", q,
              "--query-print", "1000", "--query-charsets")
    rows = lambda s: sorted(map(tuple,  # noqa: E731
                                (r.values() for r in s["query"]["rows"])))
    assert rows(s1) == rows(s2) and s1["query"]["rows"]


def test_with_named_graphs_table_answers_graph_queries(
        spark, docs_path, tmp_path, capsys):
    """--with-named-graphs materializes the predicate-family graph
    column; the snapshot table then answers GRAPH / FROM NAMED queries,
    and plain patterns address the (empty) default graph — the SPARQL
    dataset rule, stated in the flag help."""
    tbl = str(tmp_path / "kg_ng")
    _run(capsys, "--synth-from-documents", docs_path, "--table-dir", tbl,
         "--with-named-graphs")
    q = ("PREFIX s: <http://schema.org/> SELECT ?g ?f ?r WHERE "
         "{ GRAPH ?g { ?f s:codeRepository ?r } }")
    s = _run(capsys, "--query-table", tbl, "--sparql", q,
             "--query-print", "5")
    rows = s["query"]["rows"]
    assert rows and all(r["g"] == "urn:code:graph:codeRepository"
                        for r in rows)
    s2 = _run(capsys, "--query-table", tbl, "--sparql",
              "PREFIX s: <http://schema.org/> SELECT ?f WHERE "
              "{ ?f s:codeRepository ?r }")
    assert s2["query"]["rows"] == []
    # FROM constructs a default graph from named slivers
    s3 = _run(capsys, "--query-table", tbl, "--sparql",
              "PREFIX s: <http://schema.org/> SELECT ?f "
              "FROM <urn:code:graph:codeRepository> WHERE "
              "{ ?f s:codeRepository ?r }", "--query-print", "3")
    assert s3["query"]["rows"]


def test_update_face(spark, docs_path, tmp_path, capsys):
    """--update applies one SPARQL UPDATE as one atomic commit on
    --query-table; a --sparql in the SAME invocation observes the
    post-update graph; --as-of still reads the pre-update snapshot."""
    table = str(tmp_path / "kg_upd")
    _run(capsys, "--synth-from-documents", docs_path,
         "--table-dir", table)
    upd = """
        PREFIX schema: <http://schema.org/>
        PREFIX code: <http://example.org/code#>
        DELETE { ?f schema:version ?c }
        INSERT { ?f code:wasVersioned "true" }
        WHERE { ?f schema:version ?c }
    """
    qry = """
        PREFIX code: <http://example.org/code#>
        SELECT (COUNT(*) AS ?n) WHERE { ?f code:wasVersioned "true" }
    """
    s = _run(capsys, "--query-table", table, "--update", upd,
             "--sparql", qry, "--query-print", "5")
    assert s["sparql_update"]["forms"] == ["modify"]
    assert s["sparql_update"]["operation"] == "overwrite"
    n_tagged = int(s["query"]["rows"][0]["n"])
    assert n_tagged > 0

    from claimskg_generator_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, table)
    post = t.read()
    assert post.filter("pred = 'http://schema.org/version'").count() == 0
    tagged = post.filter(
        "pred = 'http://example.org/code#wasVersioned'")
    assert tagged.count() == n_tagged
    # inserted rows typed from the update text: "true" is a literal
    assert {r["okind"] for r in tagged.collect()} == {""}
    # time travel still reads the pre-update graph
    pre = t.read(snapshot_id=s["sparql_update"]["snapshot_id"] - 1)
    assert pre.filter("pred = 'http://schema.org/version'").count() > 0

    # guard rails
    assert main(["--update", upd]) == 2
    assert main(["--query-table", table, "--update", upd,
                 "--as-of", "1"]) == 2


def test_update_face_request_sequence(spark, docs_path, tmp_path,
                                      capsys):
    """--update with a ';'-chained request: sequence semantics (op 2's
    WHERE matches tags op 1 inserted) in ONE atomic commit; a named
    graph-management op works on a --with-named-graphs table."""
    table = str(tmp_path / "kg_seq")
    _run(capsys, "--synth-from-documents", docs_path,
         "--table-dir", table)
    req = """
        PREFIX schema: <http://schema.org/>
        PREFIX code: <http://example.org/code#>
        INSERT { ?f code:wasVersioned "true" }
        WHERE  { ?f schema:version ?c } ;
        DELETE { ?f schema:version ?c }
        WHERE  { ?f code:wasVersioned "true" . ?f schema:version ?c }
    """
    s = _run(capsys, "--query-table", table, "--update", req)
    assert s["sparql_update"]["forms"] == ["modify", "modify"]

    from claimskg_generator_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, table)
    sids = [m["snapshot_id"] for m in t.snapshots()]
    assert len(sids) == 2          # build + ONE request commit
    post = t.read()
    assert post.filter("pred = 'http://schema.org/version'").count() == 0
    assert post.filter(
        "pred = 'http://example.org/code#wasVersioned'").count() > 0

    # named-graph management needs the quads publication partition
    qtable = str(tmp_path / "kg_seq_quads")
    _run(capsys, "--synth-from-documents", docs_path,
         "--table-dir", qtable, "--with-named-graphs")
    s2 = _run(capsys, "--query-table", qtable, "--update",
              "MOVE GRAPH <urn:code:graph:version> TO "
              "GRAPH <urn:code:graph:archive>")
    assert s2["sparql_update"]["forms"] == ["move"]
    tq = SnapshotTable(spark, qtable)
    got = tq.read()
    assert got.filter("graph = 'urn:code:graph:version'").count() == 0
    assert got.filter("graph = 'urn:code:graph:archive'").count() > 0


def test_prov_output_sidecar(spark, docs_path, tmp_path, capsys):
    """--prov-output writes the PROV-O provenance facts for this
    build's input files and reports the partition count; the sidecar
    must agree with prov_lineage_triples over the same (gated) files,
    and the facts must join the graph they describe (the prov:Entity's
    wasDerivedFrom target is a repo URI the triple set also minted)."""
    out = str(tmp_path / "triples_p")
    prov = str(tmp_path / "prov")
    s = _run(capsys, "--synth-from-documents", docs_path,
             "--output", out, "--prov-output", prov)
    facts = spark.read.parquet(prov)
    assert s["prov"]["n_facts"] == facts.count()
    assert s["prov"]["n_partitions"] * 8 == s["prov"]["n_facts"]

    from claimskg_generator_spark.operators.code_kg import (
        P_WAS_DERIVED_FROM,
        prov_lineage_triples,
    )
    from claimskg_generator_spark.sources.codesynth import (
        code_files as cf,
    )

    direct = prov_lineage_triples(cf(spark.read.parquet(docs_path)))
    assert sorted(map(tuple, facts.collect())) == \
        sorted(map(tuple, direct.collect()))

    graph = spark.read.parquet(out)
    derived = facts.where(F.col("pred") == P_WAS_DERIVED_FROM)
    joined = derived.join(graph, derived["obj"] == graph["subj"],
                          "left_semi")
    assert joined.count() == derived.count()


def test_prov_output_requires_build(capsys, tmp_path):
    assert main(["--prov-output", str(tmp_path / "p"),
                 "--query-table", str(tmp_path / "t")]) == 2
    assert "--prov-output needs a build" in capsys.readouterr().err


def test_wl_output_sidecar(spark, docs_path, tmp_path, capsys):
    """--wl-output writes the one-row WL structural fingerprint and
    surfaces its fields in the summary; the sidecar must equal
    wl_fingerprint over the built graph's uri triples."""
    out = str(tmp_path / "triples_wl")
    wl = str(tmp_path / "wl")
    s = _run(capsys, "--synth-from-documents", docs_path,
             "--output", out, "--wl-output", wl)
    assert s["wl"]["output"] == wl and s["wl"]["n_iters"] == 2
    assert s["wl"]["n_nodes"] > 0 and s["wl"]["n_roles"] > 0

    from pyspark.sql import functions as F

    from claimskg_generator_spark.operators.components import (
        wl_fingerprint,
    )

    direct = wl_fingerprint(
        spark.read.parquet(out).where(F.col("okind") == "uri")
        .select("subj", "pred", "obj")).collect()[0]
    assert (s["wl"]["n_nodes"], s["wl"]["n_roles"], s["wl"]["xor_h"],
            s["wl"]["sum_h"]) == tuple(direct)


def test_wl_output_against_snapshot_table(spark, docs_path, tmp_path,
                                          capsys):
    table = str(tmp_path / "kg_wl")
    _run(capsys, "--synth-from-documents", docs_path,
         "--table-dir", table)
    wl = str(tmp_path / "wl_t")
    s = _run(capsys, "--query-table", table, "--wl-output", wl,
             "--wl-iters", "1")
    assert s["wl"]["n_iters"] == 1 and s["wl"]["n_nodes"] > 0
    # wl-only without a build and without --query-table is an error
    assert main(["--wl-output", wl]) == 2
