"""Keyword operators: split/explode, thesaurus concept matching (broadcast
dictionary), and the order-dependent first-writer-wins keyword->mention
attachment (reference claimskg/generator/__init__.py:373-410).

Reference semantics being reproduced distributively:

- Every row emits a (creative_work, schema:keywords, kw_uri) edge for each
  of its (stripped) keywords (:408-410).
- Keyword node triples (rdf:type schema:Thing, schema:name) and the
  thesaurus dct:about triples are emitted for every *distinct* keyword:
  under graph set semantics they are order-free even though the reference
  guards them with its memo (:386-394) — the first row that carries a
  keyword always emits them.
- Keyword->mention attachment is NOT order-free: a global memo
  (keyword_uri_set, :266,397) means only the FIRST row (in processing
  order) whose keyword-mention list has a containment match attaches its
  mentions.  Distributed as: per-keyword ``min(ord)`` over rows with a
  match (slim aggregate), broadcast back — no wide-row shuffle.
  The memo is set on containment match even when the mention is below the
  confidence threshold (:397 precedes the threshold check inside
  _create_mention), so the winner is chosen threshold-free.
"""

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import NS
from claimskg_generator_spark.functions.cleaning import PY_STRIP_REGEX
from claimskg_generator_spark.functions.textmatch import PhraseMatcher
from claimskg_generator_spark.functions.udfs import make_keyword_match_udf
from claimskg_generator_spark.functions.uuid5 import uuid5_url_col
from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.mentions import explode_raw_mentions
from claimskg_generator_spark.operators.triples import (
    OKIND_LANG_EN,
    OKIND_URI,
    triple_struct,
)


def _strip(col):
    # Python str.strip() semantics (Unicode whitespace, not Java \s)
    return F.regexp_replace(col, PY_STRIP_REGEX, "")


def exploded_keywords(claims: DataFrame, model_uri: str) -> DataFrame:
    """One row per (claim row, keyword): ord, cw_uri, fragments_joined,
    keyword, kw_uri, matched (containment-matching keyword mentions)."""
    tagged = claims.filter(
        F.col("tags").isNotNull() & (F.length("tags") > 0)
    )
    kw_list = F.when(
        F.contains(F.col("tags"), F.lit(";")), F.split("tags", ";")
    ).otherwise(F.split("tags", ","))
    ex = tagged.select(
        "ord", "cw_uri", "fragments_joined", "m_keywords",
        F.explode(kw_list).alias("kw_raw"),
    ).withColumn("keyword", _strip(F.col("kw_raw")))
    kw_uri = F.concat(
        F.lit(model_uri + "keyword/"), uuid5_url_col(F.col("keyword"))
    )
    # keyword.lower() in mention.text.lower().strip() (reference :396)
    matched = F.filter(
        F.coalesce("m_keywords", F.array().cast(tagged.schema["m_keywords"].dataType)),
        lambda m: F.contains(_strip(F.lower(m["text"])), F.lower(F.col("keyword"))),
    )
    return ex.select(
        "ord", "cw_uri", "fragments_joined", "keyword",
        kw_uri.alias("kw_uri"), matched.alias("matched"),
    )


def keyword_triples_and_raw_mentions(claims: DataFrame, model_uri: str,
                                     matchers: Dict[str, PhraseMatcher],
                                     threshold: float,
                                     ex: DataFrame = None):
    """Returns (non-mention keyword triples, raw winner mention rows).

    The raw mention rows (attach = keyword URI) are returned unminted so
    the pipeline can union them with the review/body mention rows and run
    ONE confidence-format + uuid5 pass over all mentions.

    ``ex``: pre-materialized exploded_keywords frame — pass it when the
    same run also builds views/statistics so the tag explode + containment
    filter is computed ONCE per run, not once per consumer."""
    # consumed by the edge projection, the winner aggregate and the winner
    # join — cache so the tag explode + containment filter runs once
    if ex is None:
        ex = share(exploded_keywords(claims, model_uri))

    # (cw, schema:keywords, kw) for every occurrence (:410)
    edges = ex.select(
        F.col("cw_uri").alias("subj"),
        F.lit(NS.SCHEMA_KEYWORDS).alias("pred"),
        F.col("kw_uri").alias("obj"),
        F.lit(OKIND_URI).alias("okind"),
    )

    # distinct keywords: node triples + broadcast thesaurus matching (J3).
    # Cached: tiny (distinct keywords), consumed by three plan branches.
    kw_match = make_keyword_match_udf(matchers)
    distinct_kw = share(
        ex.select("keyword", "kw_uri")
        .dropDuplicates(["kw_uri"])
        .withColumn("cm", kw_match(F.col("keyword")))
    )
    node_triples = distinct_kw.select(F.explode(F.array_compact(F.array(
        triple_struct(F.col("kw_uri"), NS.RDF_TYPE, NS.SCHEMA_THING, OKIND_URI),
        triple_struct(F.col("kw_uri"), NS.SCHEMA_NAME, F.col("keyword"),
                      OKIND_LANG_EN),
    ))).alias("t")).select("t.*")
    about_triples = (
        distinct_kw.select(
            "kw_uri",
            F.explode(F.concat("cm.thesoz", "cm.unesco")).alias("c"),
        )
        .select(
            F.col("kw_uri").alias("subj"),
            F.lit(NS.DCT_ABOUT).alias("pred"),
            F.col("c.concept").alias("obj"),
            F.lit(OKIND_URI).alias("okind"),
        )
    )

    # first-writer-wins winner per keyword (slim aggregate, broadcast back)
    per_row = ex.withColumn("has_match", F.size("matched") > 0)
    winners = share(
        per_row.groupBy("kw_uri")
        .agg(F.min(F.when(F.col("has_match"), F.col("ord"))).alias("win_ord"))
        .filter(F.col("win_ord").isNotNull())
        .select(F.col("kw_uri").alias("w_kw_uri"), "win_ord")
    )
    win_rows = (
        per_row.join(
            F.broadcast(winners),
            (F.col("kw_uri") == F.col("w_kw_uri")) & (F.col("ord") == F.col("win_ord")),
        )
        .select("kw_uri", "fragments_joined", "matched")
    )

    win_raw = explode_raw_mentions(win_rows, "matched", "kw_uri", threshold)

    # J5: owl:sameAs(dbr_entity, concept) when the mention span equals the
    # thesaurus annotation span (:350-361) — broadcast join on kw_uri.
    span_match = (
        win_raw.join(
            F.broadcast(distinct_kw.select(F.col("kw_uri").alias("k2"), "cm")),
            win_raw["attach_uri"] == F.col("k2"),
        )
        .select(
            F.concat(F.lit(NS.DBR), F.col("entity_u")).alias("dbr"),
            "begin", "end",
            F.explode(F.concat("cm.thesoz", "cm.unesco")).alias("c"),
        )
        .filter((F.col("begin") == F.col("c.begin")) & (F.col("end") == F.col("c.end")))
        .select(
            F.col("dbr").alias("subj"),
            F.lit(NS.OWL_SAME_AS).alias("pred"),
            F.col("c.concept").alias("obj"),
            F.lit(OKIND_URI).alias("okind"),
        )
    )

    non_mention = (
        edges.unionByName(node_triples)
        .unionByName(about_triples)
        .unionByName(span_match)
    )
    return non_mention, win_raw

