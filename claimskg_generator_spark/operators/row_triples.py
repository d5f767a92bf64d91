"""Single-pass per-row triple emission.

The per-claim families (core claim-review/organization/creative-work/
rating, citations, creative-work-author mentions, review + body mentions)
are all pure functions of one claims row, so instead of unioning ~6
separate DataFrame branches (each its own scan + stages — measured as a
stage-latency floor that cores can't help), this module builds ONE
``array<struct<subj,pred,obj,okind>>`` column per row and explodes once:
one scan, one generator, one stage feeding the final distinct.

Only operators that need a global view stay out: keyword families (winner
aggregate + broadcast joins), duplicate alignment, reconciliation, static
triples.

The batch pipeline and the streaming micro-batches both emit through
here (the golden tests pin the output against the oracle).
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import NS
from claimskg_generator_spark.functions.udfs import escape_b64, pyfloat_str
from claimskg_generator_spark.operators.mentions import mention_array
from claimskg_generator_spark.operators.triples import (
    OKIND_LANG_EN,
    OKIND_URI,
    triple_struct,
)

_TRIPLE_ARR = "array<struct<subj:string,pred:string,obj:string,okind:string>>"


def _empty_triples() -> Column:
    return F.array().cast(_TRIPLE_ARR)


def _opt(cond: Column, entry: Column) -> Column:
    return F.when(cond, entry)


def _truthy(col: Column) -> Column:
    return col.isNotNull() & (F.length(col) > 0)


def core_triple_array(model_uri: str, include_body: bool) -> Column:
    """The conditional fixed-size family: ClaimReview + Organization +
    CreativeWork(base) + both Rating nodes — the per-row families of
    reference _create_schema_claim_review (:271-315), _create_organization
    (:317-331), _create_creative_work core (:363-371, 442-473),
    _create_review_rating (:475-518) and the generate_model edges
    (:697-709)."""
    english = model_uri + "language/English"
    claimskg_org = model_uri + "organization/claimskg"
    c = F.col
    entries = [
        triple_struct(c("cr_uri"), NS.RDF_TYPE, NS.SCHEMA_CLAIM_REVIEW, OKIND_URI),
        _opt(_truthy(c("headline")),
             triple_struct(c("cr_uri"), NS.SCHEMA_HEADLINE, c("headline"), OKIND_LANG_EN)),
        _opt(c("raw_claim_review_url").isNotNull(),
             triple_struct(c("cr_uri"), NS.SCHEMA_URL, c("raw_claim_review_url"), OKIND_URI)),
        _opt(_truthy(c("review_date")),
             triple_struct(c("cr_uri"), NS.SCHEMA_DATE_PUBLISHED, c("review_date"), NS.XSD_DATE)),
        triple_struct(c("cr_uri"), NS.SCHEMA_IN_LANGUAGE, english, OKIND_URI),
        triple_struct(c("org_uri"), NS.RDF_TYPE, NS.SCHEMA_ORGANIZATION, OKIND_URI),
        triple_struct(c("org_uri"), NS.SCHEMA_NAME, c("raw_author_name"), OKIND_LANG_EN),
        _opt(_truthy(c("source")),
             triple_struct(c("org_uri"), NS.SCHEMA_URL, c("source_homepage"), OKIND_URI)),
        triple_struct(c("cr_uri"), NS.SCHEMA_AUTHOR, c("org_uri"), OKIND_URI),
        triple_struct(c("cw_uri"), NS.RDF_TYPE, NS.SCHEMA_CREATIVE_WORK, OKIND_URI),
        _opt(_truthy(c("claim_date")),
             triple_struct(c("cw_uri"), NS.SCHEMA_DATE_PUBLISHED, c("claim_date"), NS.XSD_DATE)),
        triple_struct(c("cw_uri"), NS.SCHEMA_TEXT, c("claim_text"), OKIND_LANG_EN),
        _opt(c("cwa_uri").isNotNull(),
             triple_struct(c("cwa_uri"), NS.RDF_TYPE, NS.SCHEMA_THING, OKIND_URI)),
        _opt(c("cwa_uri").isNotNull(),
             triple_struct(c("cwa_uri"), NS.SCHEMA_NAME, c("cw_author"), OKIND_LANG_EN)),
        _opt(c("cwa_uri").isNotNull(),
             triple_struct(c("cw_uri"), NS.SCHEMA_AUTHOR, c("cwa_uri"), OKIND_URI)),
        triple_struct(c("cr_uri"), NS.SCHEMA_ITEM_REVIEWED, c("cw_uri"), OKIND_URI),
        _opt(c("raw_rating_alt").isNotNull() & (F.length(c("raw_rating_alt")) > 0),
             triple_struct(c("original_rating_uri"), NS.SCHEMA_ALTERNATE_NAME,
                           escape_b64(c("raw_rating_alt")), NS.XSD_B64)),
        triple_struct(c("original_rating_uri"), NS.RDF_TYPE, NS.SCHEMA_RATING, OKIND_URI),
        # failed try_cast drops the triple (never "nan"^^xsd:float)
        _opt(_truthy(c("rating_value_clean"))
             & c("rating_value_clean").try_cast("double").isNotNull(),
             triple_struct(c("original_rating_uri"), NS.SCHEMA_RATING_VALUE,
                           pyfloat_str(c("rating_value_clean").try_cast("double")),
                           NS.XSD_FLOAT)),
        triple_struct(c("original_rating_uri"), NS.SCHEMA_AUTHOR, c("org_uri"), OKIND_URI),
        triple_struct(c("normalized_rating_uri"), NS.RDF_TYPE, NS.SCHEMA_RATING, OKIND_URI),
        triple_struct(c("normalized_rating_uri"), NS.SCHEMA_ALTERNATE_NAME,
                      c("norm_rating_name"), OKIND_LANG_EN),
        triple_struct(c("normalized_rating_uri"), NS.SCHEMA_RATING_VALUE,
                      c("norm_rating_value").cast("string"), NS.XSD_INTEGER),
        triple_struct(c("normalized_rating_uri"), NS.SCHEMA_AUTHOR, claimskg_org, OKIND_URI),
        triple_struct(c("cr_uri"), NS.SCHEMA_REVIEW_RATING, c("original_rating_uri"), OKIND_URI),
        triple_struct(c("cr_uri"), NS.SCHEMA_REVIEW_RATING, c("normalized_rating_uri"), OKIND_URI),
    ]
    if include_body:
        entries.insert(2, _opt(_truthy(c("body")),
                               triple_struct(c("cr_uri"), NS.SCHEMA_REVIEW_BODY,
                                             c("body"), OKIND_LANG_EN)))
    return F.array_compact(F.array(*entries))


def citation_triple_array() -> Column:
    """(cw, schema:citation, cleaned-url) from the scrubbed link list
    (reference :412-437 via the clean_citations pandas UDF)."""
    return F.transform(
        F.coalesce(F.col("citations"),
                   F.array().cast("array<struct<cleaned:string,uri:string>>")),
        lambda cit: triple_struct(F.col("cw_uri"), NS.SCHEMA_CITATION,
                                  cit["uri"], OKIND_URI),
    )


def author_mention_triple_array() -> Column:
    """Creative-work-author mentions: no threshold, direct dbr link
    (reference :456-463)."""
    arr = F.transform(
        mention_array("m_author"),
        lambda m: triple_struct(
            F.col("cwa_uri"), NS.SCHEMA_MENTIONS,
            F.concat(F.lit(NS.DBR), F.replace(m["entity"], F.lit(" "), F.lit("_"))),
            OKIND_URI,
        ),
    )
    return F.when(F.col("cwa_uri").isNotNull(), arr).otherwise(_empty_triples())


def row_triple_array(model_uri: str, include_body: bool) -> Column:
    """The full per-row triple array (core + citations + cw-author
    mentions) — shared by the emission explode and the lineage counter."""
    return F.concat(
        core_triple_array(model_uri, include_body),
        citation_triple_array(),
        author_mention_triple_array(),
    )


def single_pass_row_triples(claims: DataFrame, model_uri: str,
                            include_body: bool, threshold: float) -> DataFrame:
    """Core + citations + cw-author-mention families in one explode.

    (Review/body mention families need the Python ``str(round(x,2))`` UDF,
    which Spark forbids inside higher-order-function lambdas — they go
    through the unified exploded mention branch instead, see
    operators/mentions.py mint_mentions.)"""
    total = row_triple_array(model_uri, include_body)
    return claims.select(F.explode(total).alias("t")).select("t.*")
