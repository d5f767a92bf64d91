"""Text-analysis operators for large-scale corpus work (training-data
pipeline ops): token counting, quality scoring, language-ID heuristic.
All pure column expressions (codegen, no Python), designed so an
equivalent ANSI-SQL oracle exists for the driver's DuckDB check."""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small fixed stopword probe set for the language heuristic — chosen to be
# expressible identically in DuckDB SQL.
LANGID_PROBES = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization of non-empty text."""
    return F.split(F.trim(col), r"\s+")


def with_token_stats(documents: DataFrame) -> DataFrame:
    """token count, char count, mean token length, punctuation ratio."""
    toks = tokens(F.col("text"))
    n_tokens = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(F.size(toks))
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
        F.round(
            F.when(n_tokens > 0,
                   (F.length(F.regexp_replace("text", r"\s+", "")))
                   / n_tokens.cast("double")).otherwise(F.lit(0.0)),
            4,
        ).alias("mean_token_len"),
        F.round(n_punct / F.greatest(F.length("text"), F.lit(1)).cast("double"), 4)
        .alias("punct_ratio"),
    )


# GPT-2-style pretokenizer, simplified to the lookahead-free subset so the
# SAME pattern runs under Java regex (Spark) and RE2 (DuckDB): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# whitespace runs.  Matches that are pure whitespace are not counted as
# tokens (GPT-2 folds a single leading space into the next token; for
# COUNTING purposes the two conventions agree on non-whitespace runs).
SUBWORD_PAT = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def with_subword_token_count(documents: DataFrame) -> DataFrame:
    """LLM-budget token counting: the number of BPE pretokenizer pieces is
    the standard proxy for a document's token cost before running the real
    tokenizer (each piece maps to >= 1 BPE token, and pieces are what the
    merges operate within).  Pure JVM regex — no Python in the plan."""
    pieces = F.regexp_extract_all(F.col("text"), F.lit(SUBWORD_PAT), 0)
    non_ws = F.filter(pieces, lambda t: t.rlike(r"\S"))
    return documents.select(
        "doc_id",
        F.size(non_ws).alias("n_subword_pieces"),
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
    )


def with_quality_score(
    documents: DataFrame, keep_all: bool = False
) -> DataFrame:
    """Length/stopword-ratio quality score in [0,1] — the standard cheap
    pre-training quality gate shape.  ``keep_all=True`` appends the score
    columns to the full input row (for chaining gates in a corpus-prep
    pipeline) instead of projecting down to the metric tuple."""
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(LANGID_PROBES))
    )
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1)).cast("double")
    len_score = F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    quality = F.round(
        (len_score + F.least(stop_ratio * 4, F.lit(1.0))) / 2, 4
    ).alias("quality")
    if keep_all:
        return documents.select(
            "*", F.round(stop_ratio, 4).alias("stop_ratio"), quality
        )
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        quality,
    )


def with_langid(documents: DataFrame) -> DataFrame:
    """n-gram/stopword heuristic language ID: 'en' if >=2 distinct English
    probe words appear as tokens, else 'unknown'."""
    toks = tokens(F.lower(F.col("text")))
    hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANGID_PROBES])))
    return documents.select(
        "doc_id",
        "lang",
        hits.alias("probe_hits"),
        F.when(hits >= 2, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


def with_repetition_metrics(
    documents: DataFrame, keep_all: bool = False
) -> DataFrame:
    """Gopher-style repetition quality gates (Rae et al. 2021 §A1.1): the
    fraction of duplicate tokens and the fraction of all bigrams accounted
    for by the single most frequent bigram.  Highly repetitive documents
    (boilerplate, keyword stuffing, decoding loops) score high on both and
    are the standard early drop in a pre-training data pipeline.

    Output: (doc_id, n_tokens, dup_token_frac, top_bigram_frac) — or, with
    ``keep_all=True``, the full input row plus (dup_token_frac,
    top_bigram_frac) for gate chaining.

    Scale shape: ZERO shuffle — both metrics are pure per-row column
    expressions.  The top-bigram count needs no explode/groupBy: sorting
    the row's bigram array groups equal bigrams adjacently, so the maximum
    count is the longest equal run, found with one F.aggregate scan
    (O(d log d) per row, entirely inside the row's own partition).  An
    earlier draft used explode + groupBy(doc_id, bigram) + join-back: two
    exchanges and a join that this formulation deletes outright.
    """
    toks = tokens(F.lower(F.col("text")))
    toks_guarded = (
        F.when(F.length(F.trim("text")) == 0, F.array().cast("array<string>"))
        .otherwise(toks)
        .alias("toks")
    )
    base_cols = ["*"] if keep_all else ["doc_id"]
    d = documents.select(*base_cols, toks_guarded).withColumn(
        "n_tokens", F.size("toks")
    )
    d = d.withColumn(
        "dup_token_frac",
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                1.0
                - F.size(F.array_distinct("toks"))
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ),
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(0, size(toks) - 2),"
            " i -> concat(toks[i], ' ', toks[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Longest equal run in the sorted bigram array == max bigram count.
    # Accumulator: (prev bigram, current run length, best run length).
    # Tokens are never empty strings (split of trimmed non-empty text), so
    # the "" sentinel for prev cannot collide with a real bigram.
    best_count = F.aggregate(
        F.sort_array(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    # size(bigrams) would re-evaluate the (interpreted, CodegenFallback)
    # transform lambda per row — see the CSE note at dedup.py:_shingles;
    # the count is just arithmetic on n_tokens.
    n_bigrams = F.greatest(F.col("n_tokens") - 1, F.lit(0))
    top_bigram_frac = F.round(
        F.when(n_bigrams > 0, best_count / n_bigrams.cast("double")).otherwise(
            F.lit(0.0)
        ),
        4,
    ).alias("top_bigram_frac")
    if keep_all:
        keep = [c for c in documents.columns] + [
            "dup_token_frac",
            top_bigram_frac,
        ]
        return d.select(*keep)
    return d.select("doc_id", "n_tokens", "dup_token_frac", top_bigram_frac)


def distribution_stats(
    documents: DataFrame,
    value_col: str = "n_chars",
    by: str = "lang",
    exact: bool = True,
) -> DataFrame:
    """Per-group distribution profile of a numeric column (corpus length
    audits: median / p95 / mean / extremes per language or source).

    ``exact=True`` uses Spark's exact interpolated percentile — which
    BUFFERS each group's values in the aggregation state, so it is the
    small-group/audit path and the one the DuckDB oracle (quantile_cont,
    same type-7 interpolation — verified equal to the rounded digit)
    checks.  At 100 TB with large groups, pass ``exact=False`` for
    approx_percentile (t-digest sketch, bounded memory, mergeable across
    partitions) — same schema, rows-only checkable.
    """
    pct = F.percentile if exact else (
        lambda c, p: F.approx_percentile(c, p, F.lit(10000))
    )
    v = F.col(value_col)
    return documents.groupBy(by).agg(
        F.count("*").alias("n"),
        F.round(pct(v, F.lit(0.5)), 4).alias("p50"),
        F.round(pct(v, F.lit(0.95)), 4).alias("p95"),
        F.round(F.avg(v), 4).alias("mean_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )
