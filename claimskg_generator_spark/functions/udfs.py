"""Arrow-batched pandas UDFs — the *only* Python in the executor hot path
(input_hint mandate: vectorized pandas/Arrow UDFs, no row-at-a-time
``udf()``).

Each UDF wraps a pure function from ``functions.cleaning`` /
``functions.textmatch`` that the oracle shares, guaranteeing byte parity.
They cover exactly the spots where JVM built-ins can't reproduce Python
semantics:

- ``round2_str`` / ``pyfloat_str``: Python's round-half-even + shortest
  float repr (Spark's ROUND is HALF_UP on the decimal string and Java's
  Double.toString switches to scientific notation at 1e7, so cast-to-string
  is not byte-equal in general).
- ``escape_b64``: html.escape + ascii/xmlcharrefreplace + rdflib's
  bytes->base64Binary literal mapping.
- ``clean_citations``: urllib.parse.urlparse-based link scrubbing (Spark's
  parse_url has different parsing semantics).
- ``keyword_matches``: the broadcast-dictionary phrase matcher (map-side
  broadcast join, SURVEY.md J3).
"""

from typing import Dict

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from claimskg_generator_spark.functions.cleaning import (
    clean_citation_links,
    html_escape_ascii,
)
from claimskg_generator_spark.functions.rdfterms import bytes_literal_lexical
from claimskg_generator_spark.functions.textmatch import PhraseMatcher


@F.pandas_udf(T.StringType())
def round2_str(values: pd.Series) -> pd.Series:
    # Arrow hands null doubles to pandas as NaN, so the null guard must be
    # pd.isna, not `is None` — otherwise a null emits the string "nan".
    return values.map(lambda v: None if pd.isna(v) else str(round(float(v), 2)))


@F.pandas_udf(T.StringType())
def pyfloat_str(values: pd.Series) -> pd.Series:
    # pd.isna for the same reason as round2_str; a non-numeric
    # rating_ratingValue (try_cast -> null) must DROP the triple (the
    # reference raises on float(); we drop — see the guard in
    # row_triples.core_triple_array), never serialize "nan"^^xsd:float.
    return values.map(lambda v: None if pd.isna(v) else str(float(v)))


@F.pandas_udf(T.StringType())
def escape_b64(values: pd.Series) -> pd.Series:
    return values.map(
        lambda v: None if v is None else bytes_literal_lexical(html_escape_ascii(v))
    )


CITATIONS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("cleaned", T.StringType()),
            T.StructField("uri", T.StringType()),
        ]
    )
)


@F.pandas_udf(CITATIONS_TYPE)
def clean_citations(links: pd.Series, authors: pd.Series) -> pd.Series:
    out = []
    for l, a in zip(links, authors):
        if l is None:
            out.append([])
        else:
            out.append(
                [{"cleaned": c, "uri": u} for c, u in clean_citation_links(l, a or "")]
            )
    return pd.Series(out)


_SPAN = T.ArrayType(
    T.StructType(
        [
            T.StructField("concept", T.StringType()),
            T.StructField("begin", T.LongType()),
            T.StructField("end", T.LongType()),
        ]
    )
)

KEYWORD_MATCH_TYPE = T.StructType(
    [T.StructField("thesoz", _SPAN), T.StructField("unesco", _SPAN)]
)


def make_keyword_match_udf(matchers: Dict[str, PhraseMatcher]):
    """Pandas UDF closure over the (small) broadcast phrase matchers.

    The matcher object is pure data (dict indexes); Spark pickles it into
    the UDF closure once per executor — the map-side build of the broadcast
    join, no shuffle (SURVEY.md J3)."""

    def _match(vocab: str, keyword: str):
        m = matchers.get(vocab)
        if m is None or keyword is None:
            return []
        return [
            {"concept": c, "begin": s, "end": e}
            for c, _mt, s, e in m.find_keyword_matches(keyword)
        ]

    @F.pandas_udf(KEYWORD_MATCH_TYPE)
    def keyword_matches(keywords: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "thesoz": keywords.map(lambda k: _match("thesoz", k)),
                "unesco": keywords.map(lambda k: _match("unesco", k)),
            }
        )

    return keyword_matches
