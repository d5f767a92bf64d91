"""RDF/XML sink round-trip: serialize the pipeline graph, parse it back
with stdlib XML (rdflib is not installed in this environment), and require
exact triple-set equality against the source DataFrame — the same contract
the reference gets from rdflib's serializer (export.py:144-151)."""

import glob
import tempfile
import xml.etree.ElementTree as ET

from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
from claimskg_generator_spark.plans.sinks import write_rdfxml
from claimskg_generator_spark.sources.synth import gen_rows

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"


def _read_document(path: str) -> str:
    parts = sorted(glob.glob(path + "/part-*"))
    assert parts, "no output part files"
    return "".join(open(p).read() for p in parts)


def _triples_from_xml(doc: str):
    root = ET.fromstring(doc)
    assert root.tag == f"{{{RDF_NS}}}RDF"
    got = set()
    for desc in root:
        assert desc.tag == f"{{{RDF_NS}}}Description"
        subj = desc.attrib[f"{{{RDF_NS}}}about"]
        for el in desc:
            pred = el.tag.replace("{", "").replace("}", "")
            res = el.attrib.get(f"{{{RDF_NS}}}resource")
            dt = el.attrib.get(f"{{{RDF_NS}}}datatype")
            lang = el.attrib.get(f"{{{XML_NS}}}lang")
            if res is not None:
                got.add((subj, pred, res, "uri"))
            elif lang is not None:
                got.add((subj, pred, el.text or "", f"@{lang}"))
            elif dt is not None:
                got.add((subj, pred, el.text or "", dt))
            else:
                got.add((subj, pred, el.text or "", ""))
    return got


def test_rdfxml_roundtrip_200_claims(spark):
    corpus = spark.createDataFrame(gen_rows(200))
    pipe = ClaimsKGPipeline(spark, PipelineConfig())
    triples = pipe.run(corpus)
    want = {tuple(r) for r in triples.collect()}

    out = tempfile.mkdtemp(prefix="claimskg_xml_") + "/graph"
    write_rdfxml(triples, out)
    doc = _read_document(out)
    assert doc.startswith('<?xml version="1.0" encoding="utf-8"?>')
    got = _triples_from_xml(doc)
    assert got == want
    # the graph exercises every object kind
    kinds = {k for _, _, _, k in want}
    assert "uri" in kinds and "" in kinds
    assert any(k.startswith("@") for k in kinds)
    assert any(k.startswith("http") for k in kinds)


def test_rdfxml_escaping_and_unknown_namespaces(spark):
    rows = [
        ("http://ex.org/s?a=1&b=2", "http://unknown.example/vocab#prop",
         'lit with <tags> & "quotes"', ""),
        ("http://ex.org/s", "http://schema.org/url",
         "http://ex.org/t?x=1&y=2", "uri"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, okind string"
    )
    out = tempfile.mkdtemp(prefix="claimskg_xml_esc_") + "/graph"
    write_rdfxml(df, out)
    got = _triples_from_xml(_read_document(out))
    assert got == {tuple(r) for r in rows}


def test_rdfxml_control_chars(spark):
    """XML 1.0 can carry only tab/newline/cr of the C0 range: \\r must
    survive parse-back via &#13; (a literal \\r is normalized to \\n by
    conforming parsers), \\t and \\n survive literally in content, and the
    unrepresentable controls (\\x01, \\x1f) are substituted with U+FFFD so
    the document stays well-formed."""
    rows = [
        ("http://ex.org/s", "http://schema.org/text",
         "line1\rline2\twith\ntab", ""),
        ("http://ex.org/s", "http://schema.org/name",
         "bad\x01ctl\x1fchars", "@en"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, okind string"
    )
    out = tempfile.mkdtemp(prefix="claimskg_xml_ctl_") + "/graph"
    write_rdfxml(df, out)
    got = _triples_from_xml(_read_document(out))
    assert ("http://ex.org/s", "http://schema.org/text",
            "line1\rline2\twith\ntab", "") in got
    assert ("http://ex.org/s", "http://schema.org/name",
            "bad�ctl�chars", "@en") in got


def test_rdfxml_inexpressible_predicate_fails_clearly(spark):
    """A predicate with no '/'/'#' namespace split (e.g. urn:x) cannot be
    a QName property element; the sink must fail with a clear error, not
    emit malformed XML."""
    import pytest

    df = spark.createDataFrame(
        [("http://ex.org/s", "urn:x", "v", "")],
        "subj string, pred string, obj string, okind string",
    )
    out = tempfile.mkdtemp(prefix="claimskg_xml_bad_") + "/graph"
    with pytest.raises(Exception, match="not expressible"):
        write_rdfxml(df, out)


def test_cli_xml_sink(spark):
    import tempfile as tf

    from claimskg_generator_spark.cli import main

    out = tf.mkdtemp(prefix="claimskg_cli_") + "/xml"
    rc = main(["--synth", "40", "--output", out, "--format", "xml"])
    assert rc == 0
    doc = _read_document(out)
    got = _triples_from_xml(doc)
    assert len(got) > 500
    assert any(p == "http://schema.org/reviewRating" for _, p, _, _ in got)
