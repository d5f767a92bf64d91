"""Checkpoint-resume idempotence (north_rule) + CLI entry point."""

import json
import os
import tempfile

from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
from claimskg_generator_spark.sources.synth import gen_rows

N = 120


def test_checkpoint_resume_identical(spark):
    base = tempfile.mkdtemp(prefix="claimskg_ck_")
    corpus = spark.createDataFrame(gen_rows(N))

    p1 = ClaimsKGPipeline(spark, PipelineConfig(checkpoint_dir=base))
    t1 = {tuple(r) for r in p1.run(corpus).collect()}
    assert [e for e in p1.checkpoints.events if e[1] == "write"]

    # fresh pipeline over the same checkpoint dir: all stages resume,
    # nothing is recomputed, output identical
    p2 = ClaimsKGPipeline(spark, PipelineConfig(checkpoint_dir=base))
    t2 = {tuple(r) for r in p2.run(corpus).collect()}
    assert t1 == t2
    assert all(e[1] == "resume" for e in p2.checkpoints.events)

    # simulate a crash AFTER the parse stage: drop the triples checkpoint,
    # keep 'parsed' — rerun resumes the parse and recomputes only triples
    import shutil

    shutil.rmtree(os.path.join(base, "triples"))
    p3 = ClaimsKGPipeline(spark, PipelineConfig(checkpoint_dir=base))
    t3 = {tuple(r) for r in p3.run(corpus).collect()}
    assert t1 == t3
    actions = {s: a for s, a, _, _ in p3.checkpoints.events}
    assert actions["parsed"] == "resume" and actions["triples"] == "write"
    manifest = json.load(open(os.path.join(base, "manifest.json")))
    assert {m["stage"] for m in manifest} == {"parsed", "triples"}


def test_checkpoint_stale_on_input_or_config_change(spark):
    """A checkpoint dir written for one (input, config) must NOT resume for
    a different input or different config (ADVICE r1: staleness guard)."""
    base = tempfile.mkdtemp(prefix="claimskg_ck_stale_")
    p1 = ClaimsKGPipeline(spark, PipelineConfig(checkpoint_dir=base))
    p1.run(spark.createDataFrame(gen_rows(40)))

    # different input rows -> both stages recompute
    p2 = ClaimsKGPipeline(spark, PipelineConfig(checkpoint_dir=base))
    p2.run(spark.createDataFrame(gen_rows(60)))
    assert all(a == "write" for _, a, _, _ in p2.checkpoints.events)

    # same input, different config -> recompute
    p3 = ClaimsKGPipeline(
        spark, PipelineConfig(checkpoint_dir=base, include_body=True)
    )
    p3.run(spark.createDataFrame(gen_rows(60)))
    assert all(a == "write" for _, a, _, _ in p3.checkpoints.events)

    # explicit input_id: resume is keyed on the id, not the plan
    p4 = ClaimsKGPipeline(
        spark, PipelineConfig(checkpoint_dir=base, input_id="corpus-v1")
    )
    p4.run(spark.createDataFrame(gen_rows(60)))
    p5 = ClaimsKGPipeline(
        spark, PipelineConfig(checkpoint_dir=base, input_id="corpus-v1")
    )
    p5.run(spark.createDataFrame(gen_rows(60)))
    assert all(a == "resume" for _, a, _, _ in p5.checkpoints.events)


def test_checkpoint_stale_on_file_overwrite(spark):
    """Overwriting the INPUT FILES at the same path must invalidate the
    checkpoints (ADVICE r2: the token binds a content fingerprint of the
    file listing, not just the path string)."""
    from claimskg_generator_spark.cli import main

    inp = tempfile.mkdtemp(prefix="claimskg_in_") + "/corpus"
    ckpt = tempfile.mkdtemp(prefix="claimskg_ck_fp_")
    out = tempfile.mkdtemp(prefix="claimskg_out_") + "/triples"

    spark.createDataFrame(gen_rows(40)).write.parquet(inp)
    main(["--input", inp, "--output", out, "--checkpoint-dir", ckpt])
    n1 = spark.read.parquet(out).count()

    # same path, new content -> must recompute, not resume stale triples
    spark.createDataFrame(gen_rows(80)).write.mode("overwrite").parquet(inp)
    main(["--input", inp, "--output", out, "--checkpoint-dir", ckpt])
    n2 = spark.read.parquet(out).count()
    assert n2 > n1


def test_materialize_without_token_never_resumes(spark):
    """token=None means 'no identity' -> always recompute (ADVICE r2)."""
    from claimskg_generator_spark.plans.checkpoints import CheckpointManager

    base = tempfile.mkdtemp(prefix="claimskg_ck_none_")
    mgr = CheckpointManager(spark, base)
    mgr.materialize("stage", spark.range(5).toDF("id"), token=None)
    out = mgr.materialize("stage", spark.range(9).toDF("id"), token=None)
    assert out.count() == 9  # a token-less call must not return the stale 5


def test_upstream_change_recomputes_every_later_stage(spark):
    """A stage's token chains from its upstream stage's: under one anchor,
    changed settings of the first stage recompute the second as well."""
    from claimskg_generator_spark.plans.checkpoints import CheckpointManager

    base = tempfile.mkdtemp(prefix="claimskg_ck_chain_")

    def run(first_settings, n):
        mgr = CheckpointManager(spark, base)
        mgr.anchor("corpus-v1", "cfg")
        mgr.materialize("a", spark.range(n).toDF("id"), first_settings)
        out = mgr.materialize("b", spark.range(n).toDF("id"))
        return out.count(), [a for _, a, _, _ in mgr.events]

    assert run("v1", 5) == (5, ["write", "write"])
    assert run("v2", 9) == (9, ["write", "write"])
    assert run("v2", 9) == (9, ["resume", "resume"])


def test_source_change_recomputes_every_stage(spark, monkeypatch):
    """The anchor hashes the package source: after a code change, a
    checkpoint dir written by the old code resumes nothing."""
    from claimskg_generator_spark.plans import checkpoints

    base = tempfile.mkdtemp(prefix="claimskg_ck_src_")
    corpus = spark.createDataFrame(gen_rows(40))
    cfg = PipelineConfig(checkpoint_dir=base, input_id="corpus-v1")
    ClaimsKGPipeline(spark, cfg).run(corpus)
    monkeypatch.setattr(checkpoints, "source_digest", lambda: "edited")
    p2 = ClaimsKGPipeline(spark, cfg)
    p2.run(corpus)
    assert {s: a for s, a, _, _ in p2.checkpoints.events} == {
        "parsed": "write", "triples": "write"}


def test_only_the_checkpoint_module_decides_identity():
    """Every checkpoint token, identity marker and resume decision comes
    from plans/checkpoints.py: no other module calls plan_token, spells an
    _IDENTITY marker or reads a private CheckpointManager attribute."""
    import ast
    import pathlib

    pkg = (pathlib.Path(__file__).resolve().parent.parent
           / "claimskg_generator_spark")
    def called(node):
        return (isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", "")))

    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "plans" / "checkpoints.py":
            continue
        tree = ast.parse(path.read_text())
        # expressions bound to a manager: `x = CheckpointManager(...)`
        # targets, and any `.checkpoints` attribute (the pipeline's)
        managers = {ast.unparse(t) for n in ast.walk(tree)
                    if isinstance(n, ast.Assign)
                    and called(n.value) == "CheckpointManager"
                    for t in n.targets}
        for node in ast.walk(tree):
            where = f"{path.relative_to(pkg)}:{getattr(node, 'lineno', 0)}"
            if called(node) == "plan_token":
                hits.append(f"{where} plan_token call")
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and "_IDENTITY" in node.value):
                hits.append(f"{where} _IDENTITY marker")
            elif (isinstance(node, ast.Attribute)
                  and node.attr.startswith("_")
                  and (ast.unparse(node.value) in managers
                       or getattr(node.value, "attr", "") == "checkpoints")):
                hits.append(f"{where} CheckpointManager.{node.attr}")
    assert hits == []


def test_cli_argument_validation():
    import pytest

    from claimskg_generator_spark.cli import main

    # --mappings-output without --reconcile > 0 is an argparse error
    with pytest.raises(SystemExit):
        main(["--synth", "10", "--output", "/tmp/x",
              "--mappings-output", "/tmp/m"])
    # --thesaurus spec without '=' is an argparse error, not a downstream
    # FileNotFoundError
    with pytest.raises(SystemExit):
        main(["--synth", "10", "--output", "/tmp/x",
              "--thesaurus", "no-equals-sign"])
    # layout options a sink would ignore are argparse errors: pred buckets
    # lay out only the parquet table, output partitions only parquet files
    with pytest.raises(SystemExit):
        main(["--synth", "10", "--output", "/tmp/x", "--format", "turtle",
              "--pred-buckets", "8"])
    with pytest.raises(SystemExit):
        main(["--synth", "10", "--output", "/tmp/x", "--format", "ntriples",
              "--output-partitions", "4"])


def test_cli_synth_end_to_end(spark):
    from claimskg_generator_spark.cli import main

    out = tempfile.mkdtemp(prefix="claimskg_cli_") + "/triples"
    stats = tempfile.mkdtemp(prefix="claimskg_cli_") + "/stats"
    lineage = tempfile.mkdtemp(prefix="claimskg_cli_") + "/lineage"
    rc = main([
        "--synth", "150", "--output", out, "--format", "parquet",
        "--stats-output", stats, "--lineage-output", lineage,
        "--output-partitions", "4",
    ])
    assert rc == 0
    triples = spark.read.parquet(out)
    assert triples.count() > 3000
    assert triples.columns == ["subj", "pred", "obj", "okind"]
    stats_rows = spark.read.json(stats).collect()
    assert any(r["source_grp"] == "__global__" for r in stats_rows)
    lin = spark.read.parquet(lineage).collect()
    assert sum(r["n_rows"] for r in lin) == 150
    assert all(len(r["content_sha256"]) == 64 for r in lin)


def test_cli_ntriples_sink(spark):
    from claimskg_generator_spark.cli import main

    out = tempfile.mkdtemp(prefix="claimskg_cli_") + "/nt"
    rc = main(["--synth", "60", "--output", out, "--format", "ntriples"])
    assert rc == 0
    lines = [r["value"] for r in spark.read.text(out).collect()]
    assert all(l.endswith(" .") and l.startswith("<http") for l in lines)
    assert any('"^^<http://www.w3.org/2001/XMLSchema#date>' in l for l in lines)
    assert any('"@en' in l for l in lines)


def test_cli_turtle_sink(spark):
    from claimskg_generator_spark.cli import main

    out = tempfile.mkdtemp(prefix="claimskg_cli_") + "/ttl"
    rc = main(["--synth", "60", "--output", out, "--format", "turtle"])
    assert rc == 0
    lines = [r["value"] for r in spark.read.text(out).orderBy("value").collect()]
    prefixes = [l for l in lines if l.startswith("@prefix")]
    body = [l for l in lines if not l.startswith("@prefix")]
    assert any("schema: <http://schema.org/>" in l for l in prefixes)
    assert all(l.endswith(" .") for l in body)
    # schema.org predicates are prefixed, claimskg URIs (contain '/') stay
    # full IRIs
    assert any(" schema:reviewRating " in l for l in body)
    assert any(l.startswith("<http://data.gesis.org/claimskg/") for l in body)
    assert any('"^^xsd:date' in l for l in body)
    assert not any("<http://schema.org/" in l for l in body)


def test_lineage_triple_counts_match_emission(spark):
    """The per-split n_triples_emitted lineage column equals the actual
    pre-dedup row-local emission (single-pass families + review/body
    mention families)."""
    from claimskg_generator_spark.operators.mentions import (
        review_and_body_mention_triples,
    )
    from claimskg_generator_spark.operators.row_triples import (
        single_pass_row_triples,
    )
    from claimskg_generator_spark.plans.pipeline import (
        ClaimsKGPipeline,
        PipelineConfig,
    )

    corpus = spark.createDataFrame(gen_rows(90))
    pipe = ClaimsKGPipeline(spark, PipelineConfig(materialize_parsed=False))
    lin = pipe.lineage(corpus).collect()
    got = sum(r["n_triples_emitted"] for r in lin)

    claims = pipe.claims(corpus)
    want = (
        single_pass_row_triples(claims, pipe.config.model_uri, False, 0.3)
        .count()
        + review_and_body_mention_triples(claims, pipe.config.model_uri,
                                          0.3).count()
    )
    assert got == want
    assert sum(r["n_rows"] for r in lin) == 90


def test_cli_streaming_drain_and_compact(spark):
    """--streaming drains the watched directory incrementally (stream
    checkpoint skips already-processed files) and --compact-to converges
    to the batch pipeline's exact triple set."""
    base = tempfile.mkdtemp(prefix="claimskg_cli_stream_")
    in_dir = os.path.join(base, "in")
    log = os.path.join(base, "log")
    ck = os.path.join(base, "ck")
    compacted = os.path.join(base, "compacted")
    from claimskg_generator_spark.cli import main

    rows = gen_rows(N)
    corpus = spark.createDataFrame(rows)
    corpus.limit(30).coalesce(1).write.mode("append").parquet(in_dir)

    rc = main(["--input", in_dir, "--output", log, "--format", "parquet",
               "--streaming", "--checkpoint-dir", ck])
    assert rc == 0
    n1 = spark.read.parquet(log).count()
    assert n1 > 0

    # second batch of files lands; a catch-up run processes ONLY them
    corpus.coalesce(1).write.mode("append").parquet(in_dir)
    rc = main(["--input", in_dir, "--output", log, "--format", "parquet",
               "--streaming", "--checkpoint-dir", ck,
               "--compact-to", compacted])
    assert rc == 0
    assert spark.read.parquet(log).count() > n1

    want = {tuple(r) for r in ClaimsKGPipeline(
        spark, PipelineConfig(materialize_parsed=False)
    ).run(spark.read.parquet(in_dir)).collect()}
    got = {tuple(r) for r in spark.read.parquet(compacted).collect()}
    assert got == want


def test_cli_streaming_validation():
    import pytest

    from claimskg_generator_spark.cli import main

    with pytest.raises(SystemExit):
        main(["--synth", "10", "--output", "/tmp/x", "--streaming",
              "--checkpoint-dir", "/tmp/ck"])
    with pytest.raises(SystemExit):
        main(["--input", "/tmp/in", "--output", "/tmp/x", "--streaming"])
    with pytest.raises(SystemExit):
        main(["--input", "/tmp/in", "--output", "/tmp/x", "--streaming",
              "--checkpoint-dir", "/tmp/ck", "--format", "ntriples"])
    with pytest.raises(SystemExit):
        main(["--input", "/tmp/in", "--output", "/tmp/x",
              "--compact-to", "/tmp/c"])


def test_cli_reference_csv_input_matches_parquet_shape(spark):
    """--input-format csv: the reference's native wide CSV (unix dialect,
    per-file row order) produces the SAME triple set as the graft-shape
    parquet input over the same records."""
    import csv
    import json as _json

    from claimskg_generator_spark.cli import main
    from claimskg_generator_spark.sources.claims import CLAIM_FIELDS

    base = tempfile.mkdtemp(prefix="claimskg_csv_in_")
    rows = gen_rows(N)
    # reference-style wide CSV: one column per CLAIM_FIELDS entry
    csv_path = os.path.join(base, "dataset.csv")
    with open(csv_path, "w", newline="") as f:
        wr = csv.DictWriter(f, fieldnames=CLAIM_FIELDS, dialect="unix")
        wr.writeheader()
        for r in rows:
            rec = _json.loads(r["content"])
            wr.writerow({k: rec.get(k) or "" for k in CLAIM_FIELDS})
    # graft-shape parquet of the same records
    pq_path = os.path.join(base, "dataset_parquet")
    spark.createDataFrame(rows).coalesce(1).write.parquet(pq_path)

    out_csv = os.path.join(base, "t_csv")
    out_pq = os.path.join(base, "t_pq")
    assert main(["--input", csv_path, "--input-format", "csv",
                 "--output", out_csv]) == 0
    assert main(["--input", pq_path, "--output", out_pq]) == 0
    got = {tuple(r) for r in spark.read.parquet(out_csv).collect()}
    want = {tuple(r) for r in spark.read.parquet(out_pq).collect()}
    assert got == want


def test_content_probe_detects_same_size_same_mtime_overwrite(spark):
    """ADVICE r4 #8: a same-length overwrite with the mtime pinned back to
    the original value is INVISIBLE to the listing-level fingerprint but
    must flip the content-probed one (first/last-block checksum)."""
    from claimskg_generator_spark.plans.checkpoints import input_fingerprint

    base = tempfile.mkdtemp(prefix="claimskg_probe_")
    path = os.path.join(base, "input.txt")
    with open(path, "w") as f:
        f.write("A" * 1000)
    st = os.stat(path)
    fp_listing_1 = input_fingerprint(spark, path)
    fp_probe_1 = input_fingerprint(spark, path, content_probe=True)
    # same length, different content, mtime forced back to the original
    with open(path, "w") as f:
        f.write("B" * 1000)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert input_fingerprint(spark, path) == fp_listing_1  # documented gap
    fp_probe_2 = input_fingerprint(spark, path, content_probe=True)
    assert fp_probe_2 != fp_probe_1
    # identical content at the same mtime keeps the probed fingerprint
    with open(path, "w") as f:
        f.write("B" * 1000)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert input_fingerprint(spark, path, content_probe=True) == fp_probe_2
    # a file larger than one probe block only hashes its two edges: an
    # interior-only change is the residual (documented) blind spot
    big = os.path.join(base, "big.bin")
    blob = bytearray(200 * 1024)
    with open(big, "wb") as f:
        f.write(blob)
    bst = os.stat(big)
    fp_big_1 = input_fingerprint(spark, big, content_probe=True)
    blob[100 * 1024] = 7  # interior byte, outside both 64 KiB edges
    with open(big, "wb") as f:
        f.write(blob)
    os.utime(big, ns=(bst.st_atime_ns, bst.st_mtime_ns))
    assert input_fingerprint(spark, big, content_probe=True) == fp_big_1
    blob[0] = 9  # header byte -> must flip
    with open(big, "wb") as f:
        f.write(blob)
    os.utime(big, ns=(bst.st_atime_ns, bst.st_mtime_ns))
    assert input_fingerprint(spark, big, content_probe=True) != fp_big_1


def test_cli_content_probe_flag_invalidates_checkpoint(spark):
    """End-to-end: --checkpoint-content-probe re-runs the pipeline after a
    same-size mtime-pinned overwrite where the default fingerprint would
    resume stale."""
    from claimskg_generator_spark.cli import main

    base = tempfile.mkdtemp(prefix="claimskg_probe_cli_")
    inp = os.path.join(base, "corpus_parquet")
    rows = gen_rows(30)
    spark.createDataFrame(rows).coalesce(1).write.parquet(inp)
    out1 = os.path.join(base, "t1")
    ck = os.path.join(base, "ck")
    args = ["--input", inp, "--output", out1, "--checkpoint-dir", ck,
            "--checkpoint-content-probe"]
    assert main(args) == 0
    manifest = json.load(open(os.path.join(ck, "manifest.json")))
    assert all(s["action"] == "write" for s in manifest)
    # re-run unchanged -> resume
    out2 = os.path.join(base, "t2")
    assert main(["--input", inp, "--output", out2, "--checkpoint-dir", ck,
                 "--checkpoint-content-probe"]) == 0
    manifest = json.load(open(os.path.join(ck, "manifest.json")))
    assert all(s["action"] == "resume" for s in manifest)


def test_cli_void_output_sidecar(spark):
    """--void-output writes the VoID description of the emitted claims
    graph; the dataset triples count must equal the graph size and the
    sidecar must agree with void_stats over the written triples."""
    from claimskg_generator_spark.cli import main
    from claimskg_generator_spark.operators.kg_stats import void_stats

    base = tempfile.mkdtemp(prefix="claimskg_cli_void_")
    out, void = f"{base}/triples", f"{base}/void"
    rc = main(["--synth", "80", "--output", out, "--format", "parquet",
               "--void-output", void])
    assert rc == 0
    triples = spark.read.parquet(out)
    stats = spark.read.parquet(void)
    ds = {r["metric"]: r["value"]
          for r in stats.where("scope = 'dataset'").collect()}
    assert ds["triples"] == triples.count()
    direct = void_stats(triples.select("subj", "pred", "obj"))
    assert sorted(map(tuple, stats.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_cli_nquads_sink(spark):
    import re

    from claimskg_generator_spark.cli import main

    out = tempfile.mkdtemp(prefix="claimskg_cli_") + "/nq"
    rc = main(["--synth", "60", "--output", out, "--format", "nquads"])
    assert rc == 0
    lines = [r["value"] for r in spark.read.text(out).collect()]
    pat = re.compile(r" <urn:claimskg:graph:([A-Za-z0-9_]+)> \.$")
    graphs = set()
    for l in lines:
        m = pat.search(l)
        assert m, l
        graphs.add(m.group(1))
    # family graphs carry the predicate local names; typed / lang
    # literals render identically to the N-Triples sink
    assert {"text", "reviewRating", "datePublished", "mentions"} <= graphs
    assert any('"@en' in l for l in lines)
    # quad count equals the ntriples serialization of the same corpus
    nt = tempfile.mkdtemp(prefix="claimskg_cli_") + "/nt"
    assert main(["--synth", "60", "--output", nt,
                 "--format", "ntriples"]) == 0
    assert len(lines) == spark.read.text(nt).count()


def test_cli_update_maintenance_mode(spark):
    """--update: one SPARQL UPDATE as one atomic commit on the claims
    snapshot table at --output (okind-aware), with validation guards."""
    import pytest

    from claimskg_generator_spark.cli import main
    from claimskg_generator_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    table = tempfile.mkdtemp(prefix="claimskg_upd_") + "/t"
    assert main(["--synth", "60", "--output", table,
                 "--format", "snapshot"]) == 0
    t = SnapshotTable(spark, table)
    before = t.read()
    n_before = before.count()
    pred = before.select("pred").first()["pred"]
    rc = main(["--output", table, "--format", "snapshot",
               "--update",
               f"DELETE WHERE {{ ?s <{pred}> ?o }}"])
    assert rc == 0
    after = t.read()
    assert after.filter(after.pred == pred).count() == 0
    assert 0 < after.count() < n_before
    assert after.columns == ["subj", "pred", "obj", "okind"]
    # a ';'-chained request is ONE atomic commit (sequence semantics:
    # op 2 deletes the tag op 1 just inserted — net new rows only)
    n_snaps = len(t.snapshots())
    rc = main(["--output", table, "--format", "snapshot", "--update",
               'INSERT DATA { <urn:x:s> <urn:x:p> "1" . '
               '<urn:x:s> <urn:x:tmp> "t" } ; '
               "DELETE WHERE { ?s <urn:x:tmp> ?o }"])
    assert rc == 0
    assert len(t.snapshots()) == n_snaps + 1
    final = t.read()
    assert final.filter(final.pred == "urn:x:p").count() == 1
    assert final.filter(final.pred == "urn:x:tmp").count() == 0
    # guards: update with a build, or without --format snapshot
    with pytest.raises(SystemExit):
        main(["--synth", "10", "--output", table,
              "--format", "snapshot", "--update", "CLEAR ALL"])
    with pytest.raises(SystemExit):
        main(["--output", table, "--update",
              "DELETE WHERE { ?s ?p ?o }"])


def test_clis_restore_caller_session_settings(spark, tmp_path):
    """The CLIs apply their session settings for the length of a run
    only: a caller's values read back unchanged after cli.main and
    dedup_cli.main, also for a setting the caller never set."""
    from claimskg_generator_spark import cli, dedup_cli

    docs = str(tmp_path / "documents.parquet")
    spark.createDataFrame([(0, "a b c"), (1, "a b c"), (2, "d e f")],
                          "doc_id long, text string").write.parquet(docs)
    caller = {"spark.sql.adaptive.skewJoin.enabled": "false",
              "spark.sql.execution.arrow.pyspark.enabled": "false"}
    unset = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    saved = {k: spark.conf.get(k, None) for k in [*caller, unset]}
    runs = [
        lambda: cli.main(["--synth", "5", "--output", str(tmp_path / "nt"),
                          "--format", "ntriples"]),
        lambda: dedup_cli.main(["--input", docs, "--output",
                                str(tmp_path / "dedup"), "--method", "exact"]),
    ]
    try:
        for k, v in caller.items():
            spark.conf.set(k, v)
        for run in runs:
            assert run() == 0
            assert {k: spark.conf.get(k) for k in caller} == caller
            assert spark.conf.get(unset, None) == saved[unset]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
