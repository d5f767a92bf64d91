"""Triple model + RDF term formatting.

The engine's graph is a DataFrame of rows ``(subj, pred, obj, okind)``:

- ``subj``/``pred``: absolute URIs (strings).
- ``obj``: the object's lexical form (URI string or literal lexical form).
- ``okind``: ``"uri"`` for URI objects, ``"@en"`` (etc.) for language-tagged
  literals, a full datatype URI for typed literals, ``""`` for plain
  literals.

Set semantics (rdflib.Graph in the reference, reference
claimskg/generator/__init__.py:148) become ``dropDuplicates`` over the four
columns.

Literal lexical forms follow rdflib's value->lexical mapping so that the
emitted triple set matches the reference generator:

- float  -> ``str(value)``   (e.g. ``0.42``, ``3.0``)
- int    -> ``str(value)``
- bytes  -> base64, datatype xsd:base64Binary (rdflib maps Python ``bytes``
  this way; hit by the html-escaped alternateName literal, reference
  claimskg/generator/__init__.py:481-485)
- dates  -> the original string is carried verbatim with datatype xsd:date
  (reference claimskg/generator/__init__.py:309-311).
"""

import base64

OKIND_URI = "uri"
OKIND_PLAIN = ""
OKIND_LANG_EN = "@en"

TRIPLE_COLUMNS = ["subj", "pred", "obj", "okind"]


def uri(s, p, o):
    return (s, p, o, OKIND_URI)


def lit(s, p, lexical, okind=OKIND_PLAIN):
    return (s, p, lexical, okind)


def float_lexical(value: float) -> str:
    return str(float(value))


def int_lexical(value: int) -> str:
    return str(int(value))


def bytes_literal_lexical(raw: bytes) -> str:
    return base64.b64encode(raw).decode("ascii")


_NT_ESCAPES = {
    "\\": "\\\\",
    '"': '\\"',
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
}


def _escape_nt(text: str) -> str:
    out = []
    for ch in text:
        if ch in _NT_ESCAPES:
            out.append(_NT_ESCAPES[ch])
        elif ord(ch) < 0x20:
            out.append("\\u%04X" % ord(ch))
        else:
            out.append(ch)
    return "".join(out)


def to_ntriples_line(subj: str, pred: str, obj: str, okind: str) -> str:
    """Canonical N-Triples rendering of one triple row.  Blank-node
    labels (``_:…``) are legal subject/object terms and stay
    unbracketed — matching plans/sinks.write_ntriples."""
    s = subj if subj.startswith("_:") else f"<{subj}>"
    p = f"<{pred}>"
    if okind == OKIND_URI:
        o = obj if obj.startswith("_:") else f"<{obj}>"
    elif okind == OKIND_PLAIN:
        o = f'"{_escape_nt(obj)}"'
    elif okind.startswith("@"):
        o = f'"{_escape_nt(obj)}"{okind}'
    else:
        o = f'"{_escape_nt(obj)}"^^<{okind}>'
    return f"{s} {p} {o} ."
