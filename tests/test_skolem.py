"""operators/skolem + blank-node N-Triples rendering."""

import hashlib

import pytest

from claimskg_generator_spark.operators.skolem import skolemize

SCHEMA = "subj string, pred string, obj string, okind string"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_skolemize_rewrites_blanks_only(spark):
    rows = [
        ("_:b1", "p", "_:b2", "uri"),
        ("_:b1", "q", "_:not a node", ""),   # literal that LOOKS blank
        ("urn:x", "p", "_:b1", "uri"),
        ("urn:x", "q", "urn:y", "uri"),
        ("urn:x", "r", "plain", ""),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {tuple(r) for r in skolemize(df).collect()}
    b1 = "urn:skolem:" + _md5(":_:b1")
    b2 = "urn:skolem:" + _md5(":_:b2")
    assert got == {
        (b1, "p", b2, "uri"),
        (b1, "q", "_:not a node", ""),   # okind='' is never rewritten
        ("urn:x", "p", b1, "uri"),
        ("urn:x", "q", "urn:y", "uri"),
        ("urn:x", "r", "plain", ""),
    }


def test_skolemize_scopes_per_document(spark):
    rows = [("_:b", "p", "x", "", "docA"),
            ("_:b", "p", "y", "", "docB"),
            ("_:b", "p", "z", "", None)]
    df = spark.createDataFrame(rows, SCHEMA + ", src string")
    got = {r["obj"]: r["subj"] for r in skolemize(df, doc_col="src")
           .collect()}
    # same label, different documents -> DIFFERENT skolem IRIs
    assert got["x"] == "urn:skolem:" + _md5("docA:_:b")
    assert got["y"] == "urn:skolem:" + _md5("docB:_:b")
    assert got["x"] != got["y"]
    # NULL scope behaves like the empty scope
    assert got["z"] == "urn:skolem:" + _md5(":_:b")


def test_skolemize_idempotent_and_authority(spark):
    df = spark.createDataFrame([("_:b", "p", "_:c", "uri")], SCHEMA)
    once = skolemize(df, authority="http://ex.org/.well-known/genid/")
    twice = skolemize(once, authority="http://ex.org/.well-known/genid/")
    assert sorted(map(tuple, once.collect())) == \
        sorted(map(tuple, twice.collect()))
    assert once.collect()[0]["subj"].startswith(
        "http://ex.org/.well-known/genid/")


def test_skolemize_zero_shuffle_plan(spark):
    df = spark.createDataFrame([("_:b", "p", "x", "")], SCHEMA)
    plan = skolemize(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_ntriples_blank_labels_unbracketed(spark, tmp_path):
    from claimskg_generator_spark.functions.rdfterms import (
        to_ntriples_line,
    )
    from claimskg_generator_spark.plans.sinks import write_ntriples

    assert to_ntriples_line("_:b1", "urn:p", "_:b2", "uri") == \
        "_:b1 <urn:p> _:b2 ."
    assert to_ntriples_line("urn:s", "urn:p", "x", "") == \
        '<urn:s> <urn:p> "x" .'

    df = spark.createDataFrame(
        [("_:b1", "urn:p", "_:b2", "uri"),
         ("urn:s", "urn:p", "lit", "")], SCHEMA)
    out = str(tmp_path / "nt")
    write_ntriples(df, out)
    lines = {r["value"] for r in spark.read.text(out).collect()}
    assert lines == {"_:b1 <urn:p> _:b2 .",
                     '<urn:s> <urn:p> "lit" .'}


def test_turtle_to_skolem_to_ntriples_roundtrip(spark, tmp_path):
    """The real consumer path: third-party Turtle with blank nodes ->
    skolemize -> N-Triples sink; every line must be bracket-legal and
    the two documents' equal labels must not collide."""
    from claimskg_generator_spark.sources.turtle import parse_turtle

    doc = """@prefix ex: <http://ex.org/> .
    _:b1 ex:name "alpha" .
    _:b1 ex:linked _:b2 .
    ex:thing ex:linked _:b2 .
    """
    rows_a = [(s, p, o, k, "docA") for s, p, o, k in parse_turtle(doc)]
    rows_b = [(s, p, o, k, "docB") for s, p, o, k in parse_turtle(doc)]
    df = spark.createDataFrame(rows_a + rows_b, SCHEMA + ", src string")
    sk = skolemize(df, doc_col="src")
    got = sk.collect()
    assert not any(r["subj"].startswith("_:") for r in got)
    nodes = ({r["subj"] for r in got}
             | {r["obj"] for r in got if r["okind"] == "uri"})
    # docA's {_:b1, _:b2} and docB's are four DISTINCT nodes
    assert len({n for n in nodes if n.startswith("urn:skolem:")}) == 4

    from claimskg_generator_spark.plans.sinks import write_ntriples

    out = str(tmp_path / "nt")
    write_ntriples(sk.select("subj", "pred", "obj", "okind"), out)
    for r in spark.read.text(out).collect():
        assert "<_:" not in r["value"], r["value"]


def test_nquads_sink_named_and_default_graphs(spark, tmp_path):
    """write_nquads: graph term appended for named-graph rows, plain
    triple lines for NULL/empty graph (the W3C default-graph form);
    blank labels legal in subject/object/graph position; parses back
    to the same quad set."""
    from claimskg_generator_spark.plans.sinks import (
        with_graph,
        write_nquads,
    )

    df = spark.createDataFrame(
        [("urn:s", "urn:p", "x", "", "urn:g1"),
         ("_:b1", "urn:p", "urn:o", "uri", "_:gb"),
         ("urn:s", "urn:q", "tab\there", "", None),
         ("urn:s", "urn:r", "2024-01-01", "http://www.w3.org/2001/"
          "XMLSchema#date", "")],
        "subj string, pred string, obj string, okind string, "
        "graph string")
    out = str(tmp_path / "nq")
    write_nquads(df, out)
    lines = {r["value"] for r in spark.read.text(out).collect()}
    assert lines == {
        '<urn:s> <urn:p> "x" <urn:g1> .',
        "_:b1 <urn:p> <urn:o> _:gb .",
        '<urn:s> <urn:q> "tab\\there" .',
        '<urn:s> <urn:r> "2024-01-01"'
        "^^<http://www.w3.org/2001/XMLSchema#date> .",
    }

    # with_graph attaches a literal or Column graph
    from pyspark.sql import functions as F

    g = with_graph(df.drop("graph"), "urn:run1")
    assert g.select("graph").distinct().collect()[0][0] == "urn:run1"
    g2 = with_graph(df.drop("graph"),
                    F.concat(F.lit("urn:src:"), F.col("pred")))
    assert g2.where("graph = 'urn:src:urn:p'").count() == 2
