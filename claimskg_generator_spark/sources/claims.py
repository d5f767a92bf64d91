"""Scan + parse stage: input table -> flat parsed records -> wide claims.

Input is the Iceberg-style table ``(repo, path, commit, lang, content)``
(BASELINE.json input_hint); ``content`` holds one claim-review record as
JSON with the field set the reference reads from its CSV (FIXTURES.md §2).

Two-layer design, deliberate for scale:

1. ``parse_records``: ONE projection that runs from_json(content) once per
   row (whole-stage codegen + common-subexpression elimination inside a
   single Project) and lands *flat* string fields + the four parsed
   mention-annotation arrays.  The pipeline materializes this stage
   (Parquet checkpoint or cache) — at 100 TB you parse the corpus once,
   columnar, and every downstream family scans only the fields it needs
   (column pruning).  Keeping from_json confined to a single materialized
   projection also avoids Catalyst duplicating the expensive parse across
   operator boundaries (UDF/join nodes), which we measured at ~6x cost.

2. ``derive_claims``: cheap column derivations (null->'' coercion, text
   normalization, JVM-side uuid5 URI minting) over the flat columns —
   lazy, recomputed per triple family, pruned to what each family reads.

``ord`` is the canonical processing-order key (the reference processes CSV
rows top-to-bottom; the synthetic corpus encodes that order in ``path``).
It drives the two order-dependent behaviors — the keyword first-writer-wins
memo and duplicate-alignment pair orientation — without any global
row_number/single-partition window.
"""

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from claimskg_generator_spark.constants.namespaces import DEFAULT_MODEL_URI
from claimskg_generator_spark.constants.sources import SOURCE_URI_DICT
from claimskg_generator_spark.functions.cleaning import PY_STRIP_REGEX
from claimskg_generator_spark.functions.uuid5 import uuid5_url_col

CLAIM_FIELDS = [
    "claimReview_author_name",
    "claimReview_author_url",
    "claimReview_datePublished",
    "claimReview_url",
    "claimReview_claimReviewed",
    "creativeWork_author_name",
    "creativeWork_author_sameAs",
    "creativeWork_datePublished",
    "rating_alternateName",
    "rating_ratingValue",
    "extra_title",
    "extra_body",
    "extra_tags",
    "extra_refered_links",
    "extra_entities_claimReview_claimReviewed",
    "extra_entities_body",
    "extra_entities_keywords",
    "extra_entities_author",
]

RECORD_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType()) for f in CLAIM_FIELDS]
)

MENTION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("begin", T.LongType()),
            T.StructField("end", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("entity", T.StringType()),
            T.StructField("score", T.StringType()),
            T.StructField("categories", T.ArrayType(T.StringType())),
        ]
    )
)


def read_reference_csv(spark: SparkSession, path: str) -> DataFrame:
    """The reference's NATIVE wide-CSV dataset (export.py:105-113 —
    csv.DictReader, unix dialect, ',' delimiter, '\"' quote/escape) read
    into the graft's (repo, path, commit, lang, content) input shape, so a
    reference user's existing file feeds the pipeline unchanged.

    - Column names ARE the reference's header names (CLAIM_FIELDS); absent
      columns become null, and empty cells parse to null — both reach the
      pipeline's null->'' cleaning (P1), matching DictReader's '' cells.
    - ``content`` re-serializes each row to the JSON record parse_records
      expects (string fields only, so the round trip is exact).
    - The reference processes rows in FILE ORDER, which feeds the
      order-dependent families (keyword first-writer, pair enumeration);
      multiLine CSV files are unsplittable (one file = one partition), so
      a per-file row_number over monotonically_increasing_id reproduces
      that order deterministically; ``path`` becomes file#row so the
      order key (``ord``, read from ``path``) sorts CSV order
      first-to-last.
    """
    from pyspark.sql import Window

    df = (
        spark.read.option("header", True).option("multiLine", True)
        .option("quote", '"').option("escape", '"')
        .csv(path)
    )
    for f in CLAIM_FIELDS:
        if f not in df.columns:
            df = df.withColumn(f, F.lit(None).cast("string"))
    w = Window.partitionBy("_file").orderBy("_mid")
    return (
        df.withColumn("_file", F.input_file_name())
        .withColumn("_mid", F.monotonically_increasing_id())
        .select(
            F.lit("csv").alias("repo"),
            F.format_string(
                "%s#%09d", F.col("_file"), F.row_number().over(w)
            ).alias("path"),
            F.lit("").alias("commit"),
            F.lit("en").alias("lang"),
            F.to_json(F.struct(*CLAIM_FIELDS)).alias("content"),
        )
    )


def _sv(col: Column) -> Column:
    """Null -> '' (reference _row_string_value, :49-53)."""
    return F.coalesce(col, F.lit(""))


def _normalize_fragment(col: Column) -> Column:
    """'""' -> '"' then '"' -> "'" (reference :140-141)."""
    return F.regexp_replace(F.regexp_replace(col, '""', '"'), '"', "'")


def repaired_mentions(col: Column) -> Column:
    """JSON repair regexes then parse; malformed -> null array
    (reference _process_json, :735-749).  The '[[][]]' sentinel also parses
    to null, which is indistinguishable from [] downstream."""
    repaired = F.regexp_replace(col, '","{2}', ',"')
    repaired = F.regexp_replace(repaired, '"\n\t"', "")
    repaired = F.regexp_replace(repaired, r"\}\]\[\]", "}]")
    return F.from_json(repaired, MENTION_SCHEMA)


def _strip(col: Column) -> Column:
    """Python str.strip() equivalent — Unicode whitespace (\\xa0 etc.),
    which Java's ASCII-only \\s would miss."""
    return F.regexp_replace(col, PY_STRIP_REGEX, "")


def mint_uri(model_uri: str, kind: str, key: Column) -> Column:
    return F.concat(F.lit(model_uri + kind + "/"), uuid5_url_col(key))


def original_rating_slug_col(author: Column, alt_name: Column, value: Column) -> Column:
    """Sanitized slug chain (reference :121-127), replicated operation by
    operation: lower, ' '/'\\n' -> '_', drop []'\\, strip, drop /<>."""
    joined = F.lower(F.concat_ws("_", author, alt_name, value))
    step = F.translate(joined, " \n", "__")
    step = F.translate(step, "[]'\\", "")
    step = _strip(step)
    return F.translate(step, "/<>", "")


def source_homepage_col(author: Column) -> Column:
    """source -> homepage lookup (reference :34-46) as an inline literal map
    — cheaper than any join for an 11-entry dict."""
    mapping = F.create_map(
        *[F.lit(x) for kv in SOURCE_URI_DICT.items() for x in kv]
    )
    return mapping[author]


def parse_records(input_df: DataFrame) -> DataFrame:
    """Stage 0: one from_json pass -> flat fields + parsed mention arrays.

    This is the projection the pipeline materializes; everything downstream
    reads flat columns only."""
    rec = F.from_json(F.col("content"), RECORD_SCHEMA).alias("r")
    base = input_df.select(
        F.col("path").alias("ord"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        rec,
    )
    cols = [F.col("ord"), F.col("content_sha256")]
    cols += [F.col("r." + f).alias(f) for f in CLAIM_FIELDS]
    cols += [
        repaired_mentions(F.col("r.extra_entities_claimReview_claimReviewed")).alias("m_review"),
        repaired_mentions(F.col("r.extra_entities_body")).alias("m_body"),
        repaired_mentions(F.col("r.extra_entities_keywords")).alias("m_keywords"),
        repaired_mentions(F.col("r.extra_entities_author")).alias("m_author"),
    ]
    return base.select(*cols)


def derive_claims(parsed: DataFrame, model_uri: str = DEFAULT_MODEL_URI) -> DataFrame:
    """Stage 1 (lazy): cleaned fields + minted URIs from flat columns."""
    c = F.col
    sv = lambda f: _sv(c(f))  # noqa: E731

    fragments = F.filter(
        F.array(sv("extra_title"), _normalize_fragment(sv("extra_body"))),
        lambda x: F.length(x) > 0,
    )

    cr_key = F.concat(
        sv("claimReview_author_name"), sv("claimReview_author_url"),
        sv("claimReview_datePublished"), sv("claimReview_url"),
    )
    cw_key = F.concat(
        sv("creativeWork_author_name"), sv("creativeWork_author_sameAs"),
        sv("creativeWork_datePublished"), sv("claimReview_claimReviewed"),
    )
    cwa_key = F.concat(
        sv("creativeWork_author_name"), sv("creativeWork_author_sameAs")
    )

    return parsed.select(
        "ord",
        "content_sha256",
        sv("claimReview_author_name").alias("source"),
        F.lower(sv("claimReview_author_name")).alias("source_lower"),
        c("claimReview_author_name").alias("raw_author_name"),
        c("claimReview_url").alias("raw_claim_review_url"),
        sv("claimReview_url").alias("claim_review_url"),
        c("claimReview_datePublished").alias("review_date"),
        c("creativeWork_datePublished").alias("claim_date"),
        sv("extra_title").alias("headline"),
        sv("extra_body").alias("body"),
        _normalize_fragment(sv("claimReview_claimReviewed")).alias("claim_text"),
        sv("creativeWork_author_name").alias("cw_author"),
        c("rating_alternateName").alias("raw_rating_alt"),
        sv("rating_alternateName").alias("rating_alt"),
        F.lower(sv("rating_alternateName")).alias("rating_alt_lower"),
        sv("rating_ratingValue").alias("rating_value_raw"),
        # strip [ ] ' , then trim (reference :489-496); cast to float at use
        _strip(F.translate(sv("rating_ratingValue"), "[]',", "")).alias(
            "rating_value_clean"
        ),
        c("extra_tags").alias("tags"),
        c("extra_refered_links").alias("links"),
        fragments.alias("fragments"),
        F.array_join(fragments, ",").alias("fragments_joined"),
        mint_uri(model_uri, "claim_review", cr_key).alias("cr_uri"),
        F.concat(
            F.lit(model_uri + "organization/"),
            F.replace(F.lower(sv("claimReview_author_name")), F.lit(" "), F.lit("_")),
        ).alias("org_uri"),
        mint_uri(model_uri, "creative_work", cw_key).alias("cw_uri"),
        F.when(
            F.length(sv("creativeWork_author_name")) > 0,
            mint_uri(model_uri, "creative_work_author", cwa_key),
        ).alias("cwa_uri"),
        F.concat(
            F.lit(model_uri + "rating/original/"),
            original_rating_slug_col(
                sv("claimReview_author_name"), sv("rating_alternateName"),
                sv("rating_ratingValue"),
            ),
        ).alias("original_rating_uri"),
        source_homepage_col(sv("claimReview_author_name")).alias("source_homepage"),
        "m_review",
        "m_body",
        "m_keywords",
        "m_author",
    )
