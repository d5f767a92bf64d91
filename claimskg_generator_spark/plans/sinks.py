"""Every triple sink: how a ``(subj, pred, obj, okind)`` row becomes RDF
text or a Parquet triple table (the reference's one
``rdflib.Graph.serialize(format=...)`` call, generator/__init__.py:751-762,
export.py:144-151).  All renderings are JVM column expressions, so each
sink is one sort and one write.

- :func:`_object_term` is the one switch over ``okind`` (``"uri"``,
  ``""`` plain, ``"@tag"``, or a datatype IRI); each serializer only
  renders the four cases.
- :func:`_escape` applies one ordered replacement table per syntax.
- :func:`_write_text` writes every text document: the sorted body lines
  between fixed header and footer lines.
- :data:`FORMATS` maps each ``--format`` name to its writer.
"""

import hashlib
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# -- Parquet triple table ------------------------------------------------------
def pred_bucket(pred: str, buckets: int) -> int:
    """Deterministic predicate bucket — md5-derived so ANY client (Python,
    Spark, DuckDB) can compute the partition to read without a JVM."""
    return int(hashlib.md5(pred.encode()).hexdigest()[:8], 16) % buckets


def pred_bucket_col(buckets: int):
    """JVM twin of pred_bucket."""
    return (
        F.conv(F.substring(F.md5("pred"), 1, 8), 16, 10).cast("long")
        % buckets
    ).cast("int")


def write_parquet(triples: DataFrame, path: str,
                  partitions: Optional[int] = None,
                  pred_buckets: Optional[int] = None) -> None:
    """Partitioned Parquet triple table.

    - ``partitions``: repartitionByRange on subj — stable,
      pruning-friendly file layout across cluster sizes.
    - ``pred_buckets``: additionally hive-partition the table by a
      deterministic predicate bucket (md5-derived, portable — see
      pred_bucket_col / pred_bucket), the Iceberg-style layout for
      SPARQL-ish access: a one-predicate read touches 1/N of the
      directories (partition pruning), and within each bucket the subj
      range sort keeps subject lookups to few row groups."""
    df = triples
    if pred_buckets:
        df = df.withColumn("pred_bucket", pred_bucket_col(pred_buckets))
        if partitions:
            df = df.repartitionByRange(partitions, "pred_bucket", "subj")
        df.write.mode("overwrite").partitionBy("pred_bucket").parquet(path)
        return
    if partitions:
        df = df.repartitionByRange(partitions, "subj")
    df.write.mode("overwrite").parquet(path)


# -- shared term rendering -----------------------------------------------------
# prefix table (longest namespace first so e.g. skos-xl wins over skos if
# both were present): Turtle prefixed names and RDF/XML property QNames
TTL_PREFIXES = sorted(
    [
        ("schema", "http://schema.org/"),
        ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
        ("owl", "http://www.w3.org/2002/07/owl#"),
        ("xsd", "http://www.w3.org/2001/XMLSchema#"),
        ("dct", "http://purl.org/dc/terms/"),
        ("nif", "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/"
                "nif-core#"),
        ("itsrdf", "http://www.w3.org/2005/11/its/rdf#"),
        ("dbr", "http://dbpedia.org/resource/"),
        ("dbc", "http://dbpedia.org/page/Category:"),
    ],
    key=lambda x: -len(x[1]),
)

# conservative PN_LOCAL subset: prefix only when the local name is plainly
# safe, else fall back to a full IRI (always valid Turtle)
_PN_LOCAL_SAFE = "^[A-Za-z][A-Za-z0-9_-]*$"
# conservative XML NCName subset for predicate local parts
_NCNAME_SAFE = "^[A-Za-z_][A-Za-z0-9_.-]*$"

# ordered (old, new) replacement tables, applied left to right.
# N-Triples/Turtle (twin of rdfterms._escape_nt, so both N-Triples sinks
# emit byte-identical canonical output): the named escapes, then \uXXXX
# for every other control char < 0x20
_NT_ESCAPES = [("\\", "\\\\"), ('"', '\\"'),
               ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")] + [
    (chr(c), "\\u%04X" % c) for c in range(0x20) if chr(c) not in "\n\r\t"]
# JSON: backslash and quote, then every control char < 0x20 to its short
# or \uxxxx escape
_JSON_SHORT = {"\n": "\\n", "\r": "\\r", "\t": "\\t", "\b": "\\b", "\f": "\\f"}
_JSON_ESCAPES = [("\\", "\\\\"), ('"', '\\"')] + [
    (chr(c), _JSON_SHORT.get(chr(c), "\\u%04x" % c)) for c in range(0x20)]


def _xml_escapes(attr: bool):
    """XML escaping (&, <, >; plus \" in attribute values), '&' first.

    C0 control characters: XML 1.0 can carry only \\t/\\n/\\r.  Those
    three become numeric character references in attribute values (bare
    tab/newline/cr are normalized to spaces by attribute-value
    normalization) and \\r becomes &#13; in content (a conforming parser
    rewrites a literal \\r to \\n); the other control chars < 0x20 are not
    representable in XML 1.0 AT ALL — not even as character references —
    so they are substituted with U+FFFD, matching this sink's documented
    lossy-but-well-formed contract (the N-Triples/Turtle/JSON-LD sinks
    remain lossless)."""
    out = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]
    if attr:
        out.append(('"', "&quot;"))
    for code in range(0x20):
        ch = chr(code)
        if ch not in "\t\n\r":
            out.append((ch, "\ufffd"))
        elif attr or ch == "\r":
            out.append((ch, "&#%d;" % code))
    return out


_XML_TEXT_ESCAPES = _xml_escapes(attr=False)
_XML_ATTR_ESCAPES = _xml_escapes(attr=True)


def _escape(col: Column, table) -> Column:
    """``col`` with every (old, new) replacement of ``table`` applied in
    order, as one JVM replace chain."""
    for old, new in table:
        col = F.replace(col, F.lit(old), F.lit(new))
    return col


def _by_prefix(col: Column, safe: str, fallback: Column,
               hit=lambda pfx, local: F.concat(F.lit(pfx + ":"), local)):
    """``hit(prefix, local)`` where ``col`` starts with a TTL_PREFIXES
    namespace whose local part matches ``safe``, else ``fallback``.
    Reversed: the LAST prefix wrapped becomes the OUTERMOST when-condition
    and wins on overlap, so iterating shortest-to-longest makes the
    longest namespace the one tested first (skos-xl beats skos)."""
    out = fallback
    for pfx, ns in reversed(TTL_PREFIXES):
        local = F.substring(col, len(ns) + 1, 1 << 20)
        out = F.when(col.startswith(ns) & local.rlike(safe),
                     hit(pfx, local)).otherwise(out)
    return out


def _ttl_uri(col: Column) -> Column:
    """Turtle IRI term: a prefixed name where the namespace is in the
    prefix table AND the local part is PN_LOCAL-safe, a full IRI
    otherwise."""
    return _by_prefix(col, _PN_LOCAL_SAFE, F.concat(F.lit("<"), col, F.lit(">")))


def _xml_pred_parts(col: Column) -> Tuple[Column, Column]:
    """(qname, xmlns_attr) column pair for a predicate URI: prefix-table
    namespaces use the rdf:RDF-level declarations (empty xmlns attr);
    anything else splits at the last '/'/'#' and declares xmlns:g inline.

    A predicate with no '/'/'#' split point (e.g. ``urn:x``) or a local
    part that is not a valid NCName cannot be expressed as an RDF/XML
    property element; emitting it would bind an empty/illegal namespace
    and produce malformed XML, so the job fails with a clear error
    instead (use the N-Triples/Turtle/JSON-LD sinks for such graphs)."""
    ns_part = F.regexp_extract(col, r"^(.*[/#])", 1)
    local_part = F.regexp_extract(col, r"([^/#]+)$", 1)
    expressible = (ns_part != F.lit("")) & local_part.rlike(_NCNAME_SAFE)
    err = F.raise_error(F.concat(
        F.lit("RDF/XML sink: predicate URI not expressible as a QName "
              "property element: "), col))
    qname = F.when(expressible, F.concat(F.lit("g:"), local_part)) \
        .otherwise(err)
    xmlns = F.when(
        expressible,
        F.concat(F.lit(' xmlns:g="'), _escape(ns_part, _XML_ATTR_ESCAPES),
                 F.lit('"'))).otherwise(err)
    return (_by_prefix(col, _NCNAME_SAFE, qname),
            _by_prefix(col, _NCNAME_SAFE, xmlns, lambda pfx, local: F.lit("")))


def _object_term(uri: Column, plain: Column, lang: Column,
                 typed: Column) -> Column:
    """The one switch over ``okind``: each sink passes its rendering of an
    IRI object, a plain literal, a language-tagged literal and a typed
    literal."""
    okind = F.col("okind")
    return (
        F.when(okind == "uri", uri)
        .when(okind == "", plain)
        .when(okind.startswith("@"), lang)
        .otherwise(typed)
    )


def _nt_node(col: Column) -> Column:
    """N-Triples node term: ``<iri>``, or the label itself for a blank
    node (``_:x`` — legal in subject, object and graph position, and must
    NOT be angle-bracketed; sources/turtle.py can ingest them and
    operators/skolem.skolemize is the bridge to sinks that cannot express
    them).  The claims/code KGs mint URIs only."""
    return F.when(col.startswith("_:"), col) \
        .otherwise(F.concat(F.lit("<"), col, F.lit(">")))


def _nt_literal(*tail: Column) -> Column:
    """``"`` + the escaped object + ``tail`` (the closing quote and any
    @lang / ^^datatype suffix): the N-Triples and Turtle literal."""
    return F.concat(F.lit('"'), _escape(F.col("obj"), _NT_ESCAPES), *tail)


def _nt_line(*graph: Column) -> Column:
    """The N-Triples line of a (subj, pred, obj, okind) row, or its
    N-Quads line given a ``graph`` term."""
    obj_t = _object_term(
        _nt_node(F.col("obj")),
        _nt_literal(F.lit('"')),
        _nt_literal(F.lit('"'), F.col("okind")),
        _nt_literal(F.lit('"^^<'), F.col("okind"), F.lit(">")),
    )
    return F.concat(_nt_node(F.col("subj")), F.lit(" <"), F.col("pred"),
                    F.lit("> "), obj_t, *graph, F.lit(" ."))


# -- text documents ------------------------------------------------------------
def _write_text(triples: DataFrame, line: Column, path: str,
                header=(), footer=()) -> None:
    """Write one ``line`` per triple, sorted, as a text document.  Fixed
    ``header`` and ``footer`` lines (in the given order) ride a sort key
    ``k`` — their position, with the whole body on one key between them —
    so the one global sort also places them."""
    if not (header or footer):
        doc = triples.select(line.alias("value")).orderBy("value")
    else:
        body_k = len(header)
        fixed = list(enumerate(header)) + [
            (body_k + 1 + i, v) for i, v in enumerate(footer)]
        doc = (
            triples.sparkSession.createDataFrame(fixed, "k int, value string")
            .unionByName(triples.select(F.lit(body_k).alias("k"),
                                        line.alias("value")))
            .orderBy("k", "value").select("value")
        )
    doc.write.mode("overwrite").text(path)


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Canonical sorted N-Triples sink for ANY (subj, pred, obj, okind)
    frame — non-claims graphs (the code KG) serialize without constructing
    a pipeline; ClaimsKGPipeline.write_ntriples delegates here (byte output
    pinned by tests/test_golden_ntriples)."""
    _write_text(triples, _nt_line(), path)


def write_nquads(triples: DataFrame, path: str,
                 graph_col: str = "graph") -> None:
    """Canonical sorted N-Quads sink — the named-graph form of
    :func:`write_ntriples` (W3C N-Quads 1.1): every row carries a
    fourth term naming the graph it belongs to, the interop format for
    publishing a KG WITH its provenance partition (per-source,
    per-stage, per-snapshot graphs — e.g.
    ``with_graph(triples, F.lit(source_uri))``).  Rows whose graph
    column is NULL or empty serialize as plain triples (the default
    graph, per spec).  Same term rendering as write_ntriples."""
    g = F.col(graph_col)
    graph_t = F.when(g.isNull() | (g == ""), F.lit("")) \
        .otherwise(F.concat(F.lit(" "), _nt_node(g)))
    _write_text(triples, _nt_line(graph_t), path)


def write_turtle(triples: DataFrame, path: str) -> None:
    """Turtle sink, one triple per line (shuffle-free beyond the sort,
    streaming-append friendly): prefixed names where :func:`_ttl_uri`
    allows, full IRIs otherwise; literals share the N-Triples escaper.
    The @prefix lines head the document."""
    obj = _object_term(
        _ttl_uri(F.col("obj")),
        _nt_literal(F.lit('"')),
        _nt_literal(F.lit('"'), F.col("okind")),
        _nt_literal(F.lit('"^^'), _ttl_uri(F.col("okind"))),
    )
    line = F.concat(_ttl_uri(F.col("subj")), F.lit(" "),
                    _ttl_uri(F.col("pred")), F.lit(" "), obj, F.lit(" ."))
    header = sorted(f"@prefix {p}: <{ns}> ." for p, ns in TTL_PREFIXES)
    _write_text(triples, line, path, header)


def write_jsonld(triples: DataFrame, path: str) -> None:
    """JSON-LD sink (expanded form): a JSON array with one node object
    per triple — expanded JSON-LD merges repeated @id entries, so the
    flat layout is shuffle-free like the N-Triples sink.  Object kinds
    map to {"@id"}, {"@value"}, {"@value","@language"},
    {"@value","@type"}.  The closing element is an empty node object
    (zero triples) so every body line can carry a trailing comma —
    no global last-row bookkeeping.  Parse-back equality pinned by
    tests/test_jsonld_sink.py."""
    obj = _escape(F.col("obj"), _JSON_ESCAPES)

    def value(*tail):
        return F.concat(F.lit('{"@value":"'), obj, *tail, F.lit('"}'))

    node = _object_term(
        F.concat(F.lit('{"@id":"'), obj, F.lit('"}')),
        value(),
        value(F.lit('","@language":"'), F.substring(F.col("okind"), 2, 1 << 20)),
        value(F.lit('","@type":"'), _escape(F.col("okind"), _JSON_ESCAPES)),
    )
    line = F.concat(F.lit('{"@id":"'), _escape(F.col("subj"), _JSON_ESCAPES),
                    F.lit('","'), _escape(F.col("pred"), _JSON_ESCAPES),
                    F.lit('":['), node, F.lit("]},"))
    _write_text(triples, line, path, ["["], ["{}]"])


def write_rdfxml(triples: DataFrame, path: str) -> None:
    """RDF/XML sink (reference export.py:144-151 accepts any rdflib
    format; RDF/XML is the biggest remaining one).  One flat
    rdf:Description element per triple — valid RDF/XML, no subject
    grouping needed.  Known-namespace predicates use prefixes declared
    once on rdf:RDF; any other predicate splits at its last '/'/'#' and
    declares an inline xmlns.  Round-trip equality is pinned by
    tests/test_rdfxml_sink.py (stdlib-XML parse-back; rdflib is not
    installed here)."""
    qname, xmlns = _xml_pred_parts(F.col("pred"))
    obj_text = _escape(F.col("obj"), _XML_TEXT_ESCAPES)

    def elem(*attrs):
        return F.concat(F.lit("<"), qname, xmlns, *attrs, obj_text,
                        F.lit("</"), qname, F.lit(">"))

    prop = _object_term(
        F.concat(F.lit("<"), qname, xmlns, F.lit(' rdf:resource="'),
                 _escape(F.col("obj"), _XML_ATTR_ESCAPES), F.lit('"/>')),
        elem(F.lit(">")),
        elem(F.lit(' xml:lang="'), F.substring(F.col("okind"), 2, 1 << 20), F.lit('">')),
        elem(F.lit(' rdf:datatype="'),
             _escape(F.col("okind"), _XML_ATTR_ESCAPES), F.lit('">')),
    )
    line = F.concat(F.lit('  <rdf:Description rdf:about="'),
                    _escape(F.col("subj"), _XML_ATTR_ESCAPES),
                    F.lit('">'), prop, F.lit("</rdf:Description>"))
    header = (['<?xml version="1.0" encoding="utf-8"?>', "<rdf:RDF"]
              + sorted(f'   xmlns:{p}="{ns}"' for p, ns in TTL_PREFIXES)
              + [">"])
    _write_text(triples, line, path, header, ["</rdf:RDF>"])


# -- named graphs --------------------------------------------------------------
def with_graph(triples: DataFrame, graph) -> DataFrame:
    """Attach a named-graph column for :func:`write_nquads` — pass a
    Column (e.g. a per-source provenance URI) or a literal string."""
    col = graph if isinstance(graph, Column) else F.lit(graph)
    return triples.withColumn("graph", col)


def pred_family_graph(prefix: str = "urn:graph:",
                      pred_col: str = "pred") -> Column:
    """Predicate-family named-graph URI for a triple row —
    ``<prefix><local-name>`` (the predicate IRI's tail after the last
    ``/`` or ``#``): the per-family publication partition for
    :func:`write_nquads` / GRAPH queries.  Pure projection."""
    local = F.regexp_extract(F.col(pred_col), r"([A-Za-z0-9_]+)$", 1)
    return F.concat(F.lit(prefix), local)


# the claims CLI's --format table; nquads reads the frame's graph column,
# and every Turtle document is valid N3, mirroring rdflib's aliasing
FORMATS: Dict[str, Callable[[DataFrame, str], None]] = {
    "parquet": write_parquet,
    "ntriples": write_ntriples,
    "nquads": write_nquads,
    "turtle": write_turtle,
    "xml": write_rdfxml,
    "json-ld": write_jsonld,
    "n3": write_turtle,
}
