"""A1: per-source + global dataset statistics in ONE rollup pass
(reference claimskg/generator/statistics.py:35-131; instances fed per row
at generator/__init__.py:730-731).

The reference keeps 30+ mutable counters per source plus a global copy;
here every counter is a conditional aggregate over the logical-view rows
and ``rollup(source)`` produces the per-source rows and the global row
(source NULL -> '__global__') in a single partial+final hash aggregation.

The keyword-reconciliation counters read the first-writer-wins memo of
operators/keywords.py: a claim counts a keyword for TheSoz/UNESCO only if
it processed the keyword (its ord <= the keyword's winner ord, or the
keyword never won), and for the DBPedia/both counters only if it IS the
winner row.  They are aggregated per claim in the same pass as the views'
keyword-winner mention lists, so the winner aggregate is read once.
"""

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.functions.textmatch import PhraseMatcher
from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.keywords import (
    exploded_keywords,
    keyword_concepts,
    keyword_winners,
)
from claimskg_generator_spark.operators.mentions import above_threshold
from claimskg_generator_spark.operators.views import (
    claim_views,
    keyword_mention_lists,
)


def _keyword_counters(threshold: float) -> list:
    """Per-claim counters for the five reconciled-keyword statistics, as
    aggregates over exploded-keyword rows carrying ``win_ord`` (null for a
    keyword no row won) and ``cm``.  Rows are one per (claim, distinct
    keyword), so a conditional row count is a distinct-keyword count."""
    m_thr = above_threshold(F.col("matched"), threshold)
    processed = F.col("win_ord").isNull() | (F.col("ord") <= F.col("win_ord"))
    won = F.col("ord") == F.col("win_ord")
    span_eq = lambda vocab: F.exists(  # noqa: E731
        m_thr,
        lambda m: F.exists(
            F.col("cm")[vocab],
            lambda t: (t["begin"] == m["begin"]) & (t["end"] == m["end"]),
        ),
    )
    return [
        F.count_if(processed & (F.size("cm.thesoz") > 0)).alias("n_kw_thesoz"),
        F.count_if(processed & (F.size("cm.unesco") > 0)).alias("n_kw_unesco"),
        F.count_if(won & (F.size(m_thr) > 0)).alias("n_kw_dbpedia"),
        F.count_if(won & span_eq("thesoz")).alias("n_kw_thesoz_dbp"),
        F.count_if(won & span_eq("unesco")).alias("n_kw_unesco_dbp"),
    ]


def statistics_table(claims: DataFrame, model_uri: str,
                     matchers: Dict[str, PhraseMatcher],
                     threshold: float) -> DataFrame:
    """Wide statistics row per source + the '__global__' rollup row, after
    the reference's output ratio transform (statistics.py:100-129)."""
    ex = share(exploded_keywords(claims, model_uri))
    rows = (
        ex.join(F.broadcast(keyword_winners(ex)), "kw_uri", "left")
        .join(F.broadcast(keyword_concepts(ex, matchers).drop("keyword")),
              "kw_uri")
    )
    kw = keyword_mention_lists(rows, threshold, *_keyword_counters(threshold))
    v = claim_views(claims, threshold, kw).na.fill(
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
