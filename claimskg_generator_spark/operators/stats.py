"""A1: per-source + global dataset statistics in ONE rollup pass
(reference claimskg/generator/statistics.py:35-131; instances fed per row
at generator/__init__.py:730-731).

The reference keeps 30+ mutable counters per source plus a global copy;
here every counter is a conditional aggregate over the logical-view rows
and ``rollup(source)`` produces the per-source rows and the global row
(source NULL -> '__global__') in a single partial+final hash aggregation.

The keyword-reconciliation counters replicate the order-dependent memo:
a claim counts a keyword for TheSoz/UNESCO only if it processed the
keyword (its ord <= the keyword's winner ord, or the keyword never won),
and for the DBPedia/both counters only if it IS the winner row.
"""

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.functions.textmatch import PhraseMatcher
from claimskg_generator_spark.functions.udfs import make_keyword_match_udf
from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.keywords import exploded_keywords
from claimskg_generator_spark.operators.views import logical_views


def _above(col, threshold):
    return F.filter(col, lambda m: m["score"].try_cast("double") > F.lit(threshold))


def keyword_stat_counts(claims: DataFrame, model_uri: str,
                        matchers: Dict[str, PhraseMatcher],
                        threshold: float, ex: DataFrame = None) -> DataFrame:
    """Per-claim distinct-keyword counters for the five reconciled-keyword
    statistics."""
    if ex is None:
        ex = exploded_keywords(claims, model_uri)
    per_row = ex.withColumn("has_match", F.size("matched") > 0)
    winners = (
        per_row.groupBy("kw_uri")
        .agg(F.min(F.when(F.col("has_match"), F.col("ord"))).alias("win_ord"))
        .select(F.col("kw_uri").alias("w_kw"), "win_ord")
    )
    kw_match = make_keyword_match_udf(matchers)
    matches = (
        ex.select("keyword", "kw_uri").dropDuplicates(["kw_uri"])
        .withColumn("cm", kw_match(F.col("keyword")))
        .select(F.col("kw_uri").alias("m_kw"), "cm")
    )
    df = (
        per_row.join(F.broadcast(winners), F.col("kw_uri") == F.col("w_kw"), "left")
        .join(F.broadcast(matches), F.col("kw_uri") == F.col("m_kw"))
        .withColumn(
            "processed",
            F.col("win_ord").isNull() | (F.col("ord") <= F.col("win_ord")),
        )
        .withColumn("is_winner", F.col("win_ord") == F.col("ord"))
        .withColumn("m_thr", _above(F.col("matched"), threshold))
    )
    span_eq = lambda vocab: F.exists(  # noqa: E731
        F.col("m_thr"),
        lambda m: F.exists(
            F.col("cm")[vocab],
            lambda t: (t["begin"] == m["begin"]) & (t["end"] == m["end"]),
        ),
    )
    cdk = lambda cond: F.count_distinct(F.when(cond, F.col("keyword")))  # noqa: E731
    return df.groupBy("ord").agg(
        cdk(F.col("processed") & (F.size("cm.thesoz") > 0)).alias("n_kw_thesoz"),
        cdk(F.col("processed") & (F.size("cm.unesco") > 0)).alias("n_kw_unesco"),
        cdk(F.col("is_winner") & (F.size("m_thr") > 0)).alias("n_kw_dbpedia"),
        cdk(F.col("is_winner") & span_eq("thesoz")).alias("n_kw_thesoz_dbp"),
        cdk(F.col("is_winner") & span_eq("unesco")).alias("n_kw_unesco_dbp"),
    )


def statistics_table(claims: DataFrame, model_uri: str,
                     matchers: Dict[str, PhraseMatcher],
                     threshold: float) -> DataFrame:
    """Wide statistics row per source + the '__global__' rollup row, after
    the reference's output ratio transform (statistics.py:100-129)."""
    # ONE materialized exploded-keywords frame feeds both the logical views
    # (winner mentions) and the keyword counters
    ex = share(exploded_keywords(claims, model_uri))
    views = logical_views(claims, model_uri, threshold, ex)
    kw = keyword_stat_counts(claims, model_uri, matchers, threshold, ex)
    v = views.join(kw, "ord", "left").na.fill(
        0, ["n_kw_thesoz", "n_kw_unesco", "n_kw_dbpedia",
            "n_kw_thesoz_dbp", "n_kw_unesco_dbp"]
    )

    # Ratios stay unrounded: the reference's output_stats doesn't round, and
    # raw doubles are bit-identical across the Python oracle, this plan, and
    # the DuckDB driver oracle (same operation order), so rounding would only
    # ADD cross-engine divergence (Spark rounds the decimal repr, DuckDB the
    # binary value).
    n = F.count("*")
    pct = lambda cond: (  # noqa: E731
        F.sum(F.when(cond, 1).otherwise(0)) / n * 100.0
    )
    agg = (
        v.rollup("source")
        .agg(
            n.alias("claim_reviews"),
            F.sum(F.when(F.length("creative_work_author") == 0, 1).otherwise(0))
            .alias("claims_without_author"),
            (F.sum(F.size("review_entities")) / n).alias("entities_per_review"),
            (F.sum(F.size("claim_entities")) / n).alias("entities_per_claim"),
            F.sum(F.size("claim_entities") + F.size("review_entities")).alias("total_entities"),
            F.sum(F.size("keywords")).alias("keywords"),
            F.sum("n_kw_thesoz").alias("kw_thesoz"),
            F.sum("n_kw_unesco").alias("kw_unesco"),
            F.sum("n_kw_dbpedia").alias("kw_dbpedia"),
            F.sum("n_kw_thesoz_dbp").alias("kw_thesoz_dbpedia"),
            F.sum("n_kw_unesco_dbp").alias("kw_unesco_dbpedia"),
            (F.sum(F.size("keywords")) / n).alias("keywords_per_review"),
            (F.sum(F.size("links")) / n).alias("citations_per_creative_work"),
            pct(F.col("has_body")).alias("pct_with_text"),
            pct(F.length("creative_work_author") > 0).alias("pct_with_author"),
            pct(F.col("claim_date").isNotNull()).alias("pct_with_date"),
            pct(F.size("links") > 0).alias("pct_with_citations"),
            pct(F.size("claim_entities") > 0).alias("pct_with_entities"),
            pct(F.col("has_headline")).alias("pct_with_headline"),
            pct(F.size("keywords") > 0).alias("pct_with_keywords"),
            pct(F.size("review_entities") > 0).alias("pct_reviews_with_entities"),
            F.sum(F.when(F.col("norm_rating_name") == "TRUE", 1).otherwise(0)).alias("true_claims"),
            F.sum(F.when(F.col("norm_rating_name") == "FALSE", 1).otherwise(0)).alias("false_claims"),
            F.sum(F.when(F.col("norm_rating_name") == "MIXTURE", 1).otherwise(0)).alias("mixture_claims"),
            F.sum(F.when(F.col("norm_rating_name") == "OTHER", 1).otherwise(0)).alias("other_claims"),
        )
    )
    return agg.withColumn("source_grp", F.coalesce("source", F.lit("__global__"))).drop("source")
