"""Mention (entity-annotation) operators: explode -> threshold filter ->
deterministic mention URI -> NIF/ITS triple family (reference
_create_mention, claimskg/generator/__init__.py:520-565).

The mention URI key embeds Python's ``str(round(score, 2))`` (reference
:532-535), produced by the Arrow-batched ``round2_str`` UDF; everything
else is JVM-side.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import NS
from claimskg_generator_spark.functions.udfs import round2_str
from claimskg_generator_spark.functions.uuid5 import uuid5_url_col
from claimskg_generator_spark.operators.triples import (
    OKIND_LANG_EN,
    OKIND_URI,
    triple_struct,
)
from claimskg_generator_spark.sources.claims import MENTION_SCHEMA


def mention_array(col) -> Column:
    """A parsed mention-array column, null read as no mentions."""
    return F.coalesce(col, F.array().cast(MENTION_SCHEMA))


def above_threshold(col, threshold: float) -> Column:
    """The mentions whose score is strictly above ``threshold`` (reference
    :520-522)."""
    return F.filter(
        mention_array(col),
        lambda m: m["score"].try_cast("double") > F.lit(threshold),
    )


def explode_raw_mentions(claims: DataFrame, mention_col: str, attach_col: str,
                         threshold: float) -> DataFrame:
    """One row per above-threshold mention, BEFORE confidence formatting /
    URI minting — so several mention sources can be unioned and minted in a
    single pass (one Arrow UDF stage for the whole corpus)."""
    df = claims.select(
        F.col(attach_col).alias("attach_uri"),
        "fragments_joined",
        F.explode(above_threshold(mention_col, threshold)).alias("m"),
    )
    rho = F.col("m.score").try_cast("double")
    entity_u = F.replace(F.col("m.entity"), F.lit(" "), F.lit("_"))
    cats = F.when(
        F.size("m.categories") > 0,
        F.split(F.element_at("m.categories", 1), ","),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        "attach_uri",
        "fragments_joined",
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        F.col("m.text").alias("text"),
        entity_u.alias("entity_u"),
        rho.alias("rho"),
        cats.alias("cats"),
    )


def mint_mentions(raw: DataFrame) -> DataFrame:
    """conf = Python str(round(rho, 2)) (Arrow UDF) + uuid5 mention key
    (reference :532-535,567-571), over any union of raw mention rows."""
    conf = round2_str(F.col("rho"))
    df = raw.withColumn("conf", conf)
    key = F.concat(
        F.col("begin").cast("string"), F.col("end").cast("string"),
        F.col("text"), F.col("entity_u"), F.col("conf"),
        F.col("fragments_joined"),
    )
    return df.withColumn("m_uuid", uuid5_url_col(key)).drop(
        "rho", "fragments_joined"
    )


def mention_family_triples(mentions: DataFrame, model_uri: str,
                           attach_pred: str = NS.SCHEMA_MENTIONS) -> DataFrame:
    """The 7-triple NIF/ITS family + attachment edge + per-category
    dct:about triples for pre-exploded mention rows — one explode, the
    category triples folded into the same per-mention array (no second
    plan branch)."""
    m_uri = F.concat(F.lit(model_uri + "mention/"), F.col("m_uuid"))
    dbr = F.concat(F.lit(NS.DBR), F.col("entity_u"))
    df = mentions.withColumn("m_uri", m_uri).withColumn("dbr_uri", dbr)
    base = F.array(
        triple_struct(F.col("m_uri"), NS.RDF_TYPE, NS.NIF_CONTEXT, OKIND_URI),
        triple_struct(F.col("m_uri"), NS.RDF_TYPE, NS.NIF_RFC5147_STRING, OKIND_URI),
        triple_struct(F.col("m_uri"), NS.NIF_IS_STRING, F.col("text"), OKIND_LANG_EN),
        triple_struct(F.col("m_uri"), NS.NIF_BEGIN_INDEX,
                      F.col("begin").cast("string"), NS.XSD_INTEGER),
        triple_struct(F.col("m_uri"), NS.NIF_END_INDEX,
                      F.col("end").cast("string"), NS.XSD_INTEGER),
        # Literal(float(str(round(v,2)))) == str(round(v,2)) (reference
        # :544-546,567-571)
        triple_struct(F.col("m_uri"), NS.ITS_TA_CONFIDENCE, F.col("conf"),
                      NS.XSD_FLOAT),
        triple_struct(F.col("m_uri"), NS.ITS_TA_IDENT_REF, F.col("dbr_uri"),
                      OKIND_URI),
        triple_struct(F.col("attach_uri"), attach_pred, F.col("m_uri"), OKIND_URI),
    )
    about = F.transform(
        F.col("cats"),
        lambda cat: triple_struct(
            F.col("m_uri"), NS.DCT_ABOUT,
            F.concat(F.lit(NS.DBC), F.replace(cat, F.lit(" "), F.lit("_"))),
            OKIND_URI,
        ),
    )
    return (
        df.select(F.explode(F.concat(base, about)).alias("t")).select("t.*")
    )


def review_and_body_raw_mentions(claims: DataFrame, threshold: float) -> DataFrame:
    """Claim-text mentions attach to the *creative work*; body mentions to
    the *claim review* — the reference's deliberate cross-attachment
    (:711-727).  Raw (unminted) rows, ready for a unified minting pass."""
    review = explode_raw_mentions(claims, "m_review", "cw_uri", threshold)
    body = explode_raw_mentions(claims, "m_body", "cr_uri", threshold)
    return review.unionByName(body)


def review_and_body_mention_triples(claims: DataFrame, model_uri: str,
                                    threshold: float) -> DataFrame:
    return mention_family_triples(
        mint_mentions(review_and_body_raw_mentions(claims, threshold)), model_uri
    )
