"""JSON-LD sink round-trip: the document must be valid JSON and its node
objects must reconstruct the exact triple set (writer conventions: one
expanded-form node object per triple; trailing empty node object closes
the array)."""

import glob
import json
import tempfile

from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
from claimskg_generator_spark.plans.sinks import write_jsonld
from claimskg_generator_spark.sources.synth import gen_rows


def _read_document(path: str) -> str:
    parts = sorted(glob.glob(path + "/part-*"))
    assert parts
    return "".join(open(p).read() for p in parts)


def _triples_from_jsonld(doc: str):
    nodes = json.loads(doc)
    got = set()
    for node in nodes:
        props = {k: v for k, v in node.items() if k != "@id"}
        if not props:
            continue  # the closing empty node object
        subj = node["@id"]
        for pred, objs in props.items():
            for o in objs:
                if "@id" in o:
                    got.add((subj, pred, o["@id"], "uri"))
                elif "@language" in o:
                    got.add((subj, pred, o["@value"], f"@{o['@language']}"))
                elif "@type" in o:
                    got.add((subj, pred, o["@value"], o["@type"]))
                else:
                    got.add((subj, pred, o["@value"], ""))
    return got


def test_jsonld_roundtrip(spark):
    corpus = spark.createDataFrame(gen_rows(120))
    pipe = ClaimsKGPipeline(spark, PipelineConfig())
    triples = pipe.run(corpus)
    want = {tuple(r) for r in triples.collect()}

    out = tempfile.mkdtemp(prefix="claimskg_jsonld_") + "/graph"
    write_jsonld(triples, out)
    got = _triples_from_jsonld(_read_document(out))
    assert got == want
    kinds = {k for _, _, _, k in want}
    assert "uri" in kinds and "" in kinds
    assert any(k.startswith("@") for k in kinds)


def test_jsonld_escaping(spark):
    rows = [
        ("http://ex.org/s", "http://ex.org/p",
         'quote " backslash \\ newline \n tab \t end', ""),
        ("http://ex.org/s", "http://ex.org/p", "ctl \x01 char", "@en"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, okind string"
    )
    out = tempfile.mkdtemp(prefix="claimskg_jsonld_esc_") + "/graph"
    write_jsonld(df, out)
    got = _triples_from_jsonld(_read_document(out))
    assert got == {tuple(r) for r in rows}


def test_cli_jsonld_matches_parquet(spark):
    """--format json-ld parses back to the --format parquet triple set of
    the same corpus."""
    from claimskg_generator_spark.cli import main

    out = tempfile.mkdtemp(prefix="claimskg_cli_")
    assert main(["--synth", "30", "--output", out + "/jsonld",
                 "--format", "json-ld"]) == 0
    assert main(["--synth", "30", "--output", out + "/parquet",
                 "--format", "parquet"]) == 0
    want = {tuple(r) for r in spark.read.parquet(out + "/parquet").collect()}
    assert want
    assert _triples_from_jsonld(_read_document(out + "/jsonld")) == want


def test_cli_n3_alias(spark):
    from claimskg_generator_spark.cli import main

    out = tempfile.mkdtemp(prefix="claimskg_cli_") + "/n3"
    rc = main(["--synth", "30", "--output", out, "--format", "n3"])
    assert rc == 0
    lines = [r["value"] for r in spark.read.text(out).collect()]
    assert any(l.startswith("@prefix") for l in lines)
