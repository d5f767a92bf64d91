"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: synthesize the claim-review corpus (sized
                     off sf0.001/documents), run the full KG-construction
                     pipeline, return the normalized-rating distribution
                     over the emitted triples.
``queries()``      — one callable per implemented operator (SURVEY.md §2 +
                     the training-data-pipeline ops); each takes
                     (spark, sf_dir) and returns a DataFrame.  Derived from
                     the ``@query`` registrations in the family modules
                     under claimskg_generator_spark/queries/, in qNN order.
``oracle_sql()``   — a DuckDB oracle for EVERY query (since round 2).
                     Three kinds: relational over the registered testdata
                     views; relational over the checked-in deterministic
                     corpus parquet (q24/q26); goldens generated by the
                     pure-Python reference-semantics oracle for the
                     non-SQL-expressible pipeline outputs (q20/q21/q23 —
                     provenance: scripts/gen_pipeline_goldens.py,
                     freshness: tests/test_driver_goldens.py).  Same
                     keys and order as ``queries()``; byte pin:
                     tests/test_entry_registry.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline
# importing a family module registers its queries
from claimskg_generator_spark.queries import (  # noqa: F401
    claims,
    code_kg,
    curation,
    dedup,
    graph,
    registered,
    sparql,
)
from claimskg_generator_spark.queries.common import _claims_corpus


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: KG pipeline -> normalized
    rating distribution by rating class over emitted triples."""
    sf_dir = "/root/testdata/sf0.001"
    corpus = _claims_corpus(spark, sf_dir)
    triples = ClaimsKGPipeline(spark).run(corpus)
    return (
        triples.filter(
            (F.col("pred") == "http://schema.org/reviewRating")
            & F.col("obj").contains("/rating/normalized/")
        )
        .groupBy(F.regexp_extract("obj", r"claimskg_(\w+)$", 1).alias("rating"))
        .agg(F.count("*").alias("n_claims"))
        .orderBy("rating")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, fn, _ in registered()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle() if callable(oracle) else oracle
            for name, _, oracle in registered()}
