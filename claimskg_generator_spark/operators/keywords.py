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
  _create_mention), so the winner is chosen threshold-free.  A keyword
  repeated in one row's tags is processed once (the memo is set at its
  first occurrence), so the explode yields one row per (claim, distinct
  keyword).

This module owns the memo: the triple families, the logical views, the
statistics counters and the queries read ``keyword_winners`` /
``winner_rows`` and ``keyword_concepts`` rather than rebuilding them.
"""

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import NS
from claimskg_generator_spark.functions.cleaning import PY_STRIP_REGEX
from claimskg_generator_spark.functions.textmatch import PhraseMatcher
from claimskg_generator_spark.functions.udfs import make_keyword_match_udf
from claimskg_generator_spark.functions.uuid5 import uuid5_url_col
from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.mentions import (
    explode_raw_mentions,
    mention_array,
)
from claimskg_generator_spark.operators.triples import (
    OKIND_LANG_EN,
    OKIND_URI,
    triple_struct,
)


def _strip(col):
    # Python str.strip() semantics (Unicode whitespace, not Java \s)
    return F.regexp_replace(col, PY_STRIP_REGEX, "")


def keyword_list(tags: Column) -> Column:
    """The distinct stripped keywords of a tags string: split on ``;``, or
    on ``,`` when there is none (reference split_keywords); empty for null
    or empty tags."""
    split = F.when(F.contains(tags, F.lit(";")), F.split(tags, ";")) \
        .otherwise(F.split(tags, ","))
    return F.when(
        tags.isNotNull() & (F.length(tags) > 0),
        F.array_distinct(F.transform(split, _strip)),
    ).otherwise(F.array().cast("array<string>"))


def exploded_keywords(claims: DataFrame, model_uri: str) -> DataFrame:
    """One row per (claim row, distinct keyword) -- a row processes a
    keyword once: ord, cw_uri, fragments_joined, keyword, kw_uri, matched
    (containment-matching keyword mentions)."""
    ex = claims.select(
        "ord", "cw_uri", "fragments_joined", "m_keywords",
        F.explode(keyword_list(F.col("tags"))).alias("keyword"),
    )
    kw_uri = F.concat(
        F.lit(model_uri + "keyword/"), uuid5_url_col(F.col("keyword"))
    )
    # keyword.lower() in mention.text.lower().strip() (reference :396)
    matched = F.filter(
        mention_array("m_keywords"),
        lambda m: F.contains(_strip(F.lower(m["text"])), F.lower(F.col("keyword"))),
    )
    return ex.select(
        "ord", "cw_uri", "fragments_joined", "keyword",
        kw_uri.alias("kw_uri"), matched.alias("matched"),
    )


def keyword_winners(ex: DataFrame) -> DataFrame:
    """The memo: (kw_uri, win_ord) -- per keyword, the smallest ord whose
    row has a containment match; keywords no row matched are absent.  A
    slim aggregate, shared so every consumer broadcasts the same one."""
    return share(
        ex.withColumn("has_match", F.size("matched") > 0)
        .groupBy("kw_uri")
        .agg(F.min(F.when(F.col("has_match"), F.col("ord"))).alias("win_ord"))
        .filter(F.col("win_ord").isNotNull())
    )


def winner_rows(ex: DataFrame) -> DataFrame:
    """The exploded-keyword rows that attach their keyword's mentions (one
    per keyword that any row matched), with ``win_ord``."""
    return ex.join(F.broadcast(keyword_winners(ex)), "kw_uri").filter(
        F.col("ord") == F.col("win_ord")
    )


def keyword_concepts(ex: DataFrame,
                     matchers: Dict[str, PhraseMatcher]) -> DataFrame:
    """Distinct keywords (keyword, kw_uri) with ``cm``, their thesaurus
    concept matches (broadcast dictionary, J3).  Tiny and shared: several
    plan branches read it."""
    kw_match = make_keyword_match_udf(matchers)
    return share(
        ex.select("keyword", "kw_uri")
        .dropDuplicates(["kw_uri"])
        .withColumn("cm", kw_match(F.col("keyword")))
    )


def keyword_triples_and_raw_mentions(ex: DataFrame,
                                     matchers: Dict[str, PhraseMatcher],
                                     threshold: float):
    """Returns (non-mention keyword triples, raw winner mention rows) over
    the shared exploded_keywords frame ``ex``.

    The raw mention rows (attach = keyword URI) are returned unminted so
    the pipeline can union them with the review/body mention rows and run
    ONE confidence-format + uuid5 pass over all mentions."""
    # (cw, schema:keywords, kw) for every (claim, keyword) (:410)
    edges = ex.select(
        F.col("cw_uri").alias("subj"),
        F.lit(NS.SCHEMA_KEYWORDS).alias("pred"),
        F.col("kw_uri").alias("obj"),
        F.lit(OKIND_URI).alias("okind"),
    )

    # distinct keywords: node triples + thesaurus dct:about triples
    distinct_kw = keyword_concepts(ex, matchers)
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

    win_raw = explode_raw_mentions(winner_rows(ex), "matched", "kw_uri",
                                   threshold)

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

