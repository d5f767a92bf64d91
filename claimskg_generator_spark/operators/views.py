"""Per-claim logical views: the distributed analog of the reference's
ClaimLogicalView accumulator (reference claimskg/generator/__init__.py:
60-83) — one row per claim with the aggregates reconciliation (J7/J8) and
statistics (A1) consume.

Everything except the keyword part is within-row array expressions (no
shuffle).  The keyword part reads the first-writer-wins memo from
operators/keywords.py: only mentions from the keywords a claim won count
as its keyword entities.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.keywords import (
    exploded_keywords,
    keyword_list,
    winner_rows,
)
from claimskg_generator_spark.operators.mentions import above_threshold


def _empty_str_array():
    return F.array().cast("array<string>")


def _mention_entities(col, threshold):
    return F.transform(
        above_threshold(col, threshold),
        lambda m: F.replace(m["entity"], F.lit(" "), F.lit("_")),
    )


def _mention_categories(col, threshold):
    return F.flatten(
        F.transform(
            above_threshold(col, threshold),
            lambda m: F.when(
                F.size(m["categories"]) > 0,
                F.split(F.element_at(m["categories"], 1), ","),
            ).otherwise(_empty_str_array()),
        )
    )


def keyword_mention_lists(rows: DataFrame, threshold: float,
                          *aggs) -> DataFrame:
    """Per claim ``ord``: kw_entities / kw_categories, the above-threshold
    mentions of the keywords the claim won (``ord == win_ord``), plus any
    further per-claim aggregates ``aggs`` over the same exploded-keyword
    ``rows``."""
    won = F.col("ord") == F.col("win_ord")
    return rows.groupBy("ord").agg(
        F.flatten(F.collect_list(F.when(
            won, _mention_entities(F.col("matched"), threshold)
        ))).alias("kw_entities"),
        F.flatten(F.collect_list(F.when(
            won, _mention_categories(F.col("matched"), threshold)
        ))).alias("kw_categories"),
        *aggs,
    )


def logical_views(claims: DataFrame, model_uri: str, threshold: float,
                  ex: DataFrame = None) -> DataFrame:
    """One row per claim: ord, cw_uri, creative_work_author, claim_date,
    review_date, keywords, links, entities, categories (+ stat flags).

    entities = keyword-winner mentions ++ body mentions (claim side) and
    review mentions kept separately; the reference concatenates
    claim+review for scoring (reconciler/__init__.py:154-155), which we do
    here so the reconcile operator gets one ``entities`` list.

    ``ex``: the run's shared exploded_keywords frame, when it has one."""
    if ex is None:
        ex = exploded_keywords(claims, model_uri)
    return claim_views(claims, threshold,
                       keyword_mention_lists(winner_rows(ex), threshold))


def claim_views(claims: DataFrame, threshold: float,
                kw_part: DataFrame) -> DataFrame:
    """logical_views over a per-claim keyword frame ``kw_part`` (from
    keyword_mention_lists), left-joined on ``ord``; its extra columns
    are kept."""
    base = claims.select(
        "ord",
        "cw_uri",
        "claim_review_url",
        "source",
        "fragments",
        F.col("cw_author").alias("creative_work_author"),
        F.when(F.length(F.coalesce("claim_date", F.lit(""))) > 0,
               F.try_to_date(F.col("claim_date"), "yyyy-MM-dd")).alias("claim_date"),
        F.when(F.length(F.coalesce("review_date", F.lit(""))) > 0,
               F.try_to_date(F.col("review_date"), "yyyy-MM-dd")).alias("review_date"),
        keyword_list(F.col("tags")).alias("keywords"),
        F.transform(F.coalesce("citations",
                               F.array().cast("array<struct<cleaned:string,uri:string>>")),
                    lambda x: x["cleaned"]).alias("links"),
        _mention_entities(F.col("m_review"), threshold).alias("review_entities"),
        _mention_categories(F.col("m_review"), threshold).alias("review_categories"),
        _mention_entities(F.col("m_body"), threshold).alias("body_entities"),
        _mention_categories(F.col("m_body"), threshold).alias("body_categories"),
        (F.length("body") > 0).alias("has_body"),
        (F.length("headline") > 0).alias("has_headline"),
        F.col("claim_text").alias("title"),
        "norm_rating_name",
    )

    joined = base.join(kw_part, "ord", "left")
    kw_e = F.coalesce("kw_entities", _empty_str_array())
    kw_c = F.coalesce("kw_categories", _empty_str_array())
    # claim-side lists: keyword-winner mentions come first (the reference
    # appends them during _create_creative_work, before body mentions)
    return (
        joined.withColumn("claim_entities", F.concat(kw_e, F.col("body_entities")))
        .withColumn("claim_categories", F.concat(kw_c, F.col("body_categories")))
        .withColumn("entities", F.concat(F.col("claim_entities"),
                                         F.col("review_entities")))
        .withColumn("categories", F.concat(F.col("review_categories"),
                                           F.col("claim_categories")))
        .drop("kw_entities", "kw_categories")
    )
