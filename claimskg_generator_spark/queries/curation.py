"""Corpus-curation queries: text statistics, language ID, quality gates,
sampling and mixing, tokenization and LM statistics, sketches, and the
relational building blocks (as-of, range and interval joins, rollups, CDC)
a training-data pipeline runs.
"""

from __future__ import annotations

import math

from pyspark.sql import Window, functions as F

from claimskg_generator_spark.functions.pii import with_pii_scrub
from claimskg_generator_spark.operators.asof import (
    asof_join,
    interval_overlap_join,
    range_join_by_bucket,
    scd2_join,
)
from claimskg_generator_spark.operators.bloomjoin import bloom_semi_join
from claimskg_generator_spark.operators.boilerplate import (
    strip_boilerplate_lines,
)
from claimskg_generator_spark.operators.bpe import (
    bpe_pair_stats,
    with_symbols,
    word_freqs,
)
from claimskg_generator_spark.operators.cdc import cdc_apply
from claimskg_generator_spark.operators.contamination import eval_contamination
from claimskg_generator_spark.operators.drift import psi_drift
from claimskg_generator_spark.operators.evaluation import ngram_overlap
from claimskg_generator_spark.operators.expectations import profile_constraints
from claimskg_generator_spark.operators.fusion import fuse_records
from claimskg_generator_spark.operators.lm import (
    bigram_lm_perplexity,
    kn_bigram_table,
    pmi_collocations,
)
from claimskg_generator_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    resize_media,
    synthesize_media,
)
from claimskg_generator_spark.operators.packing import (
    chunk_documents,
    with_pack_offsets,
)
from claimskg_generator_spark.operators.quantiles import (
    grouped_quantiles,
    robust_outlier_gate,
)
from claimskg_generator_spark.operators.recognizers import concept_recognize
from claimskg_generator_spark.operators.relevance import top_terms
from claimskg_generator_spark.operators.rollup import (
    gap_fill,
    rollup_merge,
    time_bucket_rollup,
)
from claimskg_generator_spark.operators.sampling import (
    assign_shards,
    assign_splits,
    budget_cap,
    hash_gate,
    stratified_sample,
    temperature_mix,
    weighted_sample,
    zorder_key,
)
from claimskg_generator_spark.operators.selection import (
    dsir_select,
    source_prior_gate,
)
from claimskg_generator_spark.operators.sketches import (
    countmin_heavy_hitters,
    histogram_merge,
    histogram_quantiles,
    histogram_registers,
    hll_distinct,
)
from claimskg_generator_spark.operators.skipgram import (
    cooccurrence_counts,
    negative_samples,
    skipgram_pairs,
)
from claimskg_generator_spark.operators.textstats import (
    distribution_stats,
    tokens,
    with_langid,
    with_quality_score,
    with_repetition_metrics,
    with_subword_token_count,
    with_token_stats,
)
from claimskg_generator_spark.operators.topk import build_inverted_index
from claimskg_generator_spark.operators.urls import (
    canonical_host,
    cap_per_host,
)
from claimskg_generator_spark.queries import query
from claimskg_generator_spark.queries.common import _MD5_MOD_P, _t


# shared by q152 and its oracle builder so the two can never drift
_Q152_DISCOUNT = 0.75


def _skipgram_pairs_cte(window: int) -> str:
    """Shared tokenization + nested-comprehension pair CTEs (``t`` and
    ``p``) of the q147/q148 oracles — ONE definition of what a
    skip-gram pair is, mirroring operators/skipgram.skipgram_pairs."""
    return f"""t AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents WHERE doc_id % 5 = 0),
        p AS (
            SELECT doc_id, s['i'] AS i, s['j'] AS j,
                   s['c'] AS center, s['x'] AS context
            FROM (
                SELECT doc_id, unnest(flatten(
                    [[ {{'i': i, 'j': j, 'c': toks[i], 'x': toks[j]}}
                       for j in range(greatest(1, i - {window}),
                                      least(len(toks), i + {window}) + 1)
                       if j != i ]
                     for i in range(1, len(toks) + 1)])) AS s
                FROM t))"""


@query("""
            WITH t AS (
                SELECT doc_id, text,
                       len(string_split_regex(trim(text), '\\s+')) AS n_tokens
                FROM documents)
            SELECT doc_id,
                   n_tokens,
                   length(text) AS n_chars_calc,
                   round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                         / n_tokens, 4) AS mean_token_len,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                         / greatest(length(text), 1), 4) AS punct_ratio
            FROM t
        """)
def q09_token_stats(spark, sf_dir):
    return with_token_stats(spark.read.parquet(_t(sf_dir, "documents")))


LANGID_PROBES_SQL = "['the','a','of','and','to','in','is','it']"


@query(f"""
            WITH t AS (
                SELECT doc_id, lang,
                       len(list_distinct(list_intersect(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           {LANGID_PROBES_SQL}))) AS probe_hits
                FROM documents)
            SELECT doc_id, lang, probe_hits,
                   CASE WHEN probe_hits >= 2 THEN 'en' ELSE 'unknown' END AS lang_pred
            FROM t
        """)
def q10_langid(spark, sf_dir):
    return with_langid(spark.read.parquet(_t(sf_dir, "documents")))


@query("""
            WITH g AS (
                SELECT user_id,
                       epoch(ts) - epoch(lag(ts) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
                FROM events)
            SELECT user_id,
                   sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """)
def q13_sessionize(spark, sf_dir):
    e = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("ns", new_session)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"), F.count("*").alias("n_events"))
    )


@query("""
            SELECT event_type,
                   round(avg(regexp_extract(props, '"k":\\s*(\\d+)', 1)::INT), 4) AS avg_k,
                   count(*) AS n
            FROM events GROUP BY event_type
        """)
def q14_props_extract(spark, sf_dir):
    e = spark.read.parquet(_t(sf_dir, "events"))
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).try_cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(F.round(F.avg("k"), 4).alias("avg_k"), F.count("*").alias("n"))
    )


@query("""
            WITH media AS (
                SELECT doc_id AS media_id, n_chars * 10 AS duration_ms
                FROM documents WHERE doc_id % 3 = 2)
            SELECT sum(duration_ms // 1000 + 1)::BIGINT AS n_frames,
                   count(DISTINCT media_id) AS n_media
            FROM media
        """)
def q15_frame_sample(spark, sf_dir):
    d = spark.read.parquet(_t(sf_dir, "documents"))
    frames = frame_sample_plan(synthesize_media(d), every_ms=1000)
    return frames.agg(
        F.count("*").alias("n_frames"),
        F.countDistinct("media_id").alias("n_media"),
    )


@query(f"""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS toks
                FROM documents),
            s AS (
                SELECT doc_id,
                       len(toks) AS n_tokens,
                       len(list_filter(toks,
                           x -> list_contains({LANGID_PROBES_SQL}, lower(x))))::DOUBLE
                       / greatest(len(toks), 1) AS stop_ratio
                FROM t)
            SELECT doc_id, n_tokens,
                   round(stop_ratio, 4) AS stop_ratio,
                   round((least(n_tokens / 64.0, 1.0)
                          + least(stop_ratio * 4, 1.0)) / 2, 4) AS quality
            FROM s
        """)
def q16_quality_score(spark, sf_dir):
    return with_quality_score(spark.read.parquet(_t(sf_dir, "documents")))


@query("""
            SELECT doc_id::BIGINT AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   sha256(text) AS payload_sha256,
                   octet_length(encode(text))::BIGINT AS n_bytes
            FROM documents
        """)
def q22_multimodal_features(spark, sf_dir):
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return extract_features(synthesize_media(d), fake=True).select(
        "media_id", "kind", "payload_sha256", "n_bytes"
    )


@query("""
            WITH media AS (
                SELECT doc_id::BIGINT AS media_id,
                       CASE WHEN doc_id % 3 = 0 THEN 'image'
                            WHEN doc_id % 3 = 1 THEN 'audio'
                            ELSE 'video' END AS kind,
                       text AS payload,  -- sha256(VARCHAR) hashes UTF-8
                       (n_chars % 1920)::INT AS width,
                       (n_chars % 1080)::INT AS height
                FROM documents),
            sized AS (
                SELECT media_id, kind, payload,
                       LEAST(GREATEST(width, 1), 512) AS out_w,
                       height * LEAST(GREATEST(width, 1), 512)
                           // GREATEST(width, 1) AS out_h
                FROM media WHERE kind != 'audio')
            SELECT media_id, kind,
                   out_w::INT AS out_width, out_h::INT AS out_height,
                   sha256(payload || '|' || out_w || 'x' || out_h)
                       AS resized_sha256
            FROM sized
        """)
def q36_multimodal_resize(spark, sf_dir):
    """Multimodal resize plumbing: image/video rows through the stubbed
    resampler — integer-exact aspect math, digest-of-(payload, geometry)
    fake output so DuckDB replays it byte-for-byte."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return resize_media(synthesize_media(docs), target_width=512)


@query(r"""
            SELECT doc_id,
                   len(list_filter(
                       regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
                       t -> regexp_matches(t, '\S')))::INT
                       AS n_subword_pieces,
                   len(string_split_regex(trim(text), '\s+'))::INT
                       AS n_ws_tokens
            FROM documents
        """)
def q37_subword_tokens(spark, sf_dir):
    """LLM-budget token counting: lookahead-free GPT-2-style pretokenizer
    pieces (same regex under Java and RE2) + whitespace tokens."""
    return with_subword_token_count(
        spark.read.parquet(_t(sf_dir, "documents"))
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                            ELSE string_split_regex(trim(lower(text)), '\s+')
                       END AS toks
                FROM documents),
            base AS (
                SELECT doc_id, toks,
                       len(toks)::INT AS n_tokens,
                       round(CASE WHEN len(toks) > 0
                             THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
                             ELSE 0.0 END, 4) AS dup_token_frac
                FROM t),
            bg AS (
                SELECT doc_id,
                       unnest([toks[i] || ' ' || toks[i + 1]
                               for i in range(1, len(toks))]) AS bigram
                FROM t WHERE len(toks) >= 2),
            bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
            tb AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tbf FROM bc GROUP BY 1)
            SELECT base.doc_id, n_tokens, dup_token_frac,
                   round(coalesce(tbf, 0.0), 4) AS top_bigram_frac
            FROM base LEFT JOIN tb ON base.doc_id = tb.doc_id
        """)
def q38_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality gates: duplicate-token fraction
    (pure row expression) and most-frequent-bigram fraction (explode +
    map-side-combinable groupBy on doc_id)."""
    return with_repetition_metrics(spark.read.parquet(_t(sf_dir, "documents")))


@query("""
            WITH c AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'),
            p AS (
                SELECT event_id AS purchase_id, user_id, ts FROM events
                WHERE event_type = 'purchase'),
            j AS (
                SELECT p.purchase_id, p.user_id,
                       c.event_id AS click_id,
                       date_diff('microsecond', c.ts, p.ts) AS gap_us,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.purchase_id
                           ORDER BY c.ts DESC, c.event_id DESC) AS rn
                FROM p LEFT JOIN c
                  ON p.user_id = c.user_id AND c.ts <= p.ts)
            SELECT purchase_id, user_id, click_id, gap_us
            FROM j WHERE rn = 1
        """)
def q39_asof_join(spark, sf_dir):
    """Backward as-of join: each purchase event matched to the same user's
    most recent click at-or-before it (union + running last(ignorenulls)
    window — one shuffle total; see operators/asof.py)."""
    e = spark.read.parquet(_t(sf_dir, "events"))
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], right_cols=["event_id"]
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.col("event_id_right").alias("click_id"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_right").cast("timestamp"))
        ).alias("gap_us"),
    )


@query("""
            WITH d AS (
                SELECT *, substr(md5(doc_id::VARCHAR), 1, 4) AS h
                FROM documents),
            kept AS (
                SELECT * FROM d
                WHERE (lang = 'en' AND h < '8000')
                   OR (lang = 'fr' AND h < '4000')
                   OR (lang NOT IN ('en', 'fr') AND h < '1999')),
            t AS (SELECT lang, count(*) AS n_total FROM d GROUP BY 1),
            k AS (SELECT lang, count(*) AS n_kept,
                         sum(n_chars)::BIGINT AS kept_chars
                  FROM kept GROUP BY 1)
            SELECT t.lang, t.n_total,
                   coalesce(k.n_kept, 0) AS n_kept,
                   coalesce(k.kept_chars, 0) AS kept_chars
            FROM t LEFT JOIN k ON t.lang = k.lang
        """)
def q40_stratified_sample(spark, sf_dir):
    """Deterministic hash-gate stratified sampling (corpus language
    mixing): en kept at 50%, fr at 25%, all other languages at 10%; the
    keep decision is a pure function of md5(doc_id) so the DuckDB oracle
    re-derives the exact sample.  Returns per-language totals."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    kept = stratified_sample(
        docs, "lang", {"en": 0.5, "fr": 0.25}, "doc_id", default_rate=0.1
    )
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    kept_n = kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )
    return (
        totals.join(kept_n, "lang", "left")
        .select(
            "lang",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
        )
    )


@query(r"""
            WITH c AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN 'no contact on file'
                            ELSE 'reach user' || doc_id || '@' || source
                                 || '.example.org via 10.'
                                 || (doc_id % 250) || '.'
                                 || ((doc_id * 7) % 250) || '.'
                                 || ((doc_id * 13) % 250)
                                 || ' or 555-'
                                 || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                                 || '-'
                                 || lpad(((doc_id * 31) % 10000)::VARCHAR, 4, '0')
                       END AS contact
                FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(contact,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT
                       AS n_emails,
                   len(regexp_extract_all(contact,
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::INT AS n_ipv4,
                   len(regexp_extract_all(contact,
                       '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::INT AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(contact,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                       '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'))
                       AS redacted_md5
            FROM c
        """)
def q41_pii_scrub(spark, sf_dir):
    """PII detection + redaction over a deterministic PII-bearing contact
    string derived per document (the documents table itself is synthetic
    prose with no PII, so the query materializes the realistic case:
    emails, IPv4s, phone numbers — every ~7th row has none).  Counts and
    the redacted text are pure JVM regex; the oracle re-derives the
    redacted bytes with the same RE2-safe patterns."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    contact = F.when(
        F.col("doc_id") % 7 == 0, F.lit("no contact on file")
    ).otherwise(
        F.concat(
            F.lit("reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@"),
            F.col("source"),
            F.lit(".example.org via 10."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 250).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 13) % 250).cast("string"),
            F.lit(" or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((F.col("doc_id") * 31) % 10000).cast("string"), 4, "0"),
        )
    )
    scrubbed = with_pii_scrub(
        docs.select("doc_id", contact.alias("contact")), "contact"
    )
    return scrubbed.select(
        "doc_id",
        "n_emails",
        "n_ipv4",
        "n_phones",
        F.md5("redacted").alias("redacted_md5"),
    )


@query("""
            WITH e AS (
                SELECT event_id AS error_id, ts AS error_ts FROM events
                WHERE event_type = 'error'),
            v AS (
                SELECT ts AS view_ts FROM events WHERE event_type = 'view'),
            c AS (
                SELECT error_id, count(*) AS n_views_nearby
                FROM e JOIN v
                  ON v.view_ts >= e.error_ts - INTERVAL 60 SECOND
                 AND v.view_ts <= e.error_ts + INTERVAL 60 SECOND
                GROUP BY 1)
            SELECT e.error_id, coalesce(c.n_views_nearby, 0) AS n_views_nearby
            FROM e LEFT JOIN c ON e.error_id = c.error_id
        """)
def q42_range_join(spark, sf_dir):
    """Tolerance-bounded range join without an equi key: for every error
    event, the number of view events (any user) within +/-60 s.  Bucketed
    equi-join on 60 s bins (operators/asof.py) — hash join + residual
    filter instead of a quadratic theta join."""
    e = spark.read.parquet(_t(sf_dir, "events"))
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    pairs = range_join_by_bucket(
        errors, views, "error_ts", "view_ts", tolerance_us=60_000_000
    )
    counts = pairs.groupBy("error_id").agg(
        F.count("*").alias("n_views_nearby")
    )
    return errors.join(counts, "error_id", "left").select(
        "error_id",
        F.coalesce("n_views_nearby", F.lit(0)).alias("n_views_nearby"),
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       len(string_split_regex(trim(text), '\s+'))::INT
                           AS n_tokens
                FROM documents),
            c AS (
                SELECT doc_id, n_tokens,
                       (sum(n_tokens) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens)::BIGINT AS start_offset
                FROM t)
            SELECT doc_id, n_tokens, start_offset,
                   (start_offset // 1024)::BIGINT AS chunk_id
            FROM c
        """)
def q43_sequence_packing(spark, sf_dir):
    """LLM training-sequence packing: each document's global token
    start-offset under contiguous doc_id-ordered concatenation, and the
    1024-token chunk it begins in.  Distributed two-phase prefix sum
    (operators/packing.py) — never a global single-partition window."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    sized = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return with_pack_offsets(
        sized, "n_tokens", "doc_id", seq_len=1024, bucket_span=64
    ).select("doc_id", "n_tokens", "start_offset", "chunk_id")


@query(rf"""
            WITH t AS (
                SELECT doc_id, lang, text,
                       string_split_regex(trim(text), '\s+') AS toks,
                       CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                            ELSE string_split_regex(trim(lower(text)), '\s+')
                       END AS ltoks
                FROM documents),
            q AS (
                SELECT doc_id, lang, text, ltoks,
                       round((least(len(toks) / 64.0, 1.0)
                              + least((len(list_filter(toks,
                                    x -> list_contains({LANGID_PROBES_SQL},
                                                       lower(x))))::DOUBLE
                                       / greatest(len(toks), 1)) * 4, 1.0))
                             / 2, 4) AS quality
                FROM t),
            bg AS (
                SELECT doc_id, lang, text, quality,
                       CASE WHEN len(ltoks) >= 2
                            THEN [ltoks[i] || ' ' || ltoks[i + 1]
                                  for i in range(1, len(ltoks))]
                            ELSE []::VARCHAR[] END AS bigrams
                FROM q),
            rep AS (
                SELECT doc_id, max(c)::DOUBLE / sum(c) AS tbf
                FROM (SELECT doc_id, bigram, count(*) AS c
                      FROM (SELECT doc_id, unnest(bigrams) AS bigram FROM bg)
                      GROUP BY 1, 2)
                GROUP BY 1),
            gated AS (
                SELECT b.doc_id, b.lang, b.text
                FROM bg b LEFT JOIN rep r ON b.doc_id = r.doc_id
                WHERE b.quality >= 0.35
                  AND round(coalesce(r.tbf, 0.0), 4) <= 0.9),
            fp AS (
                SELECT doc_id, lang,
                       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                           AS fingerprint
                FROM gated),
            surv AS (
                SELECT doc_id, lang, fingerprint,
                       min(doc_id) OVER (PARTITION BY fingerprint)
                           AS survivor_id
                FROM fp)
            SELECT doc_id, lang, fingerprint AS text_md5
            FROM surv
            WHERE doc_id = survivor_id
              AND ((lang = 'en'
                    AND substr(md5(doc_id::VARCHAR), 1, 4) < '8000')
                OR (lang = 'fr'
                    AND substr(md5(doc_id::VARCHAR), 1, 4) < '4000')
                OR (lang NOT IN ('en', 'fr')
                    AND substr(md5(doc_id::VARCHAR), 1, 4) < '3333'))
        """)
def q44_corpus_prep(spark, sf_dir):
    """End-to-end training-corpus preparation capstone, composing the
    pipeline a 100 TB data-prep user actually runs: quality gate +
    repetition gate (both pure row expressions appended via keep_all=True
    — no joins), exact-dedup survivorship (one shuffle on the content
    fingerprint), then deterministic hash-gate language mixing.  Output is
    the surviving corpus keyed by content hash."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    enriched = with_repetition_metrics(
        with_quality_score(docs, keep_all=True), keep_all=True
    )
    gated = enriched.filter(
        (F.col("quality") >= 0.35) & (F.col("top_bigram_frac") <= 0.9)
    )
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    fp = gated.withColumn("fingerprint", F.md5(norm))
    survivor = fp.withColumn(
        "survivor_id",
        F.min("doc_id").over(Window.partitionBy("fingerprint")),
    ).filter(F.col("doc_id") == F.col("survivor_id"))
    sampled = stratified_sample(
        survivor, "lang", {"en": 0.5, "fr": 0.25}, "doc_id", default_rate=0.2
    )
    return sampled.select(
        "doc_id", "lang", F.col("fingerprint").alias("text_md5")
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS toks
                FROM documents),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS term FROM t)
                GROUP BY 1, 2),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            nd AS (
                SELECT count(*) AS n_docs,
                       sum(len(toks))::DOUBLE / count(*) AS avgdl
                FROM t),
            s AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       round(tf.tf * ln((n_docs + 1)::DOUBLE / (df + 1)), 4)
                           AS score
                FROM tf JOIN dfq USING (term) CROSS JOIN nd),
            r AS (
                SELECT *, (ROW_NUMBER() OVER (
                    PARTITION BY doc_id
                    ORDER BY score DESC, term))::INT AS rank
                FROM s)
            SELECT doc_id, term, tf, score, rank FROM r WHERE rank <= 3
        """)
def q45_tfidf_terms(spark, sf_dir):
    """Per-document top-3 terms by smoothed tf-idf (explode -> one
    map-side-combinable (doc_id, term) aggregate -> slim (term, df)
    regroup -> one-row broadcast corpus scalars -> doc-partitioned
    top-k window; operators/relevance.py)."""
    return top_terms(
        spark.read.parquet(_t(sf_dir, "documents")), k=3, method="tfidf"
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS toks
                FROM documents),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS term FROM t)
                GROUP BY 1, 2),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
            nd AS (
                SELECT count(*) AS n_docs,
                       sum(len(toks))::DOUBLE / count(*) AS avgdl
                FROM t),
            s AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       round(ln((n_docs + 1)::DOUBLE / (df + 1))
                             * (tf.tf * 2.2)
                             / (tf.tf + 1.2 * (1 - 0.75
                                               + 0.75 * dl.dl / avgdl)), 4)
                           AS score
                FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
                CROSS JOIN nd),
            r AS (
                SELECT *, (ROW_NUMBER() OVER (
                    PARTITION BY doc_id
                    ORDER BY score DESC, term))::INT AS rank
                FROM s)
            SELECT doc_id, term, tf, score, rank FROM r WHERE rank <= 3
        """)
def q46_bm25_terms(spark, sf_dir):
    """Per-document top-3 terms by Okapi BM25 (k1=1.2, b=0.75; same plan
    shape as q45 plus document-length normalization against the
    broadcast corpus mean)."""
    return top_terms(
        spark.read.parquet(_t(sf_dir, "documents")), k=3, method="bm25"
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
            st AS (
                SELECT doc_id, toks,
                       unnest(range(0, greatest(len(toks) - 1, 0) + 1, 48))
                           AS s
                FROM t),
            c AS (
                SELECT doc_id, s,
                       (row_number() OVER (PARTITION BY doc_id ORDER BY s)
                        - 1)::INT AS chunk_idx,
                       toks[s + 1:least(s + 64, len(toks))] AS ctoks
                FROM st)
            SELECT doc_id, chunk_idx,
                   s::INT AS chunk_start,
                   len(ctoks)::INT AS n_chunk_tokens,
                   md5(array_to_string(ctoks, ' ')) AS chunk_md5
            FROM c
        """)
def q48_chunk_documents(spark, sf_dir):
    """Overlapping fixed-size token chunking for embedding prep (64-token
    chunks, 16-token overlap): pure narrow posexplode, no shuffle
    (operators/packing.py chunk_documents)."""
    return chunk_documents(
        spark.read.parquet(_t(sf_dir, "documents")),
        chunk_tokens=64,
        overlap=16,
    )


@query("""
            SELECT lang, count(*) AS n,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.95), 4) AS p95,
                   round(avg(n_chars), 4) AS mean_val,
                   min(n_chars) AS min_val,
                   max(n_chars) AS max_val
            FROM documents GROUP BY lang
        """)
def q49_length_distribution(spark, sf_dir):
    """Per-language document-length distribution profile (exact
    interpolated percentiles — the audit path; approx_percentile is the
    documented 100 TB variant, operators/textstats.py)."""
    return distribution_stats(spark.read.parquet(_t(sf_dir, "documents")))


@query(f"""
            WITH p AS (
                SELECT lang,
                       CASE WHEN len(list_distinct(list_intersect(
                                string_split_regex(trim(lower(text)), '\\s+'),
                                {LANGID_PROBES_SQL}))) >= 2
                            THEN 'en' ELSE 'unknown' END AS lang_pred
                FROM documents)
            SELECT lang,
                   count(*) FILTER (WHERE lang_pred = 'en') AS pred_en,
                   count(*) FILTER (WHERE lang_pred = 'unknown')
                       AS pred_unknown
            FROM p GROUP BY lang
        """)
def q50_langid_confusion(spark, sf_dir):
    """Pivot coverage: the language-ID confusion matrix — actual lang x
    predicted lang as a pivoted wide table (groupBy().pivot() with an
    explicit value list, so the output schema is plan-time static — the
    scale-safe pivot form; an unlisted-values pivot runs a distinct scan
    first)."""
    pred = with_langid(spark.read.parquet(_t(sf_dir, "documents")))
    wide = (
        pred.groupBy("lang")
        .pivot("lang_pred", ["en", "unknown"])
        .count()
    )
    return wide.select(
        "lang",
        F.coalesce("en", F.lit(0)).alias("pred_en"),
        F.coalesce("unknown", F.lit(0)).alias("pred_unknown"),
    )


@query("""
            SELECT coalesce(lang, 'ALL') AS lang_grp,
                   coalesce(source, 'ALL') AS source_grp,
                   count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars
            FROM documents
            GROUP BY CUBE (lang, source)
        """)
def q51_cube_rollup(spark, sf_dir):
    """CUBE coverage: counts and char totals over every (lang, source)
    grouping-set combination, NULL group keys rendered as ALL (q04 does
    ROLLUP; this is the full lattice)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (
        docs.cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang_grp"),
            F.coalesce("source", F.lit("ALL")).alias("source_grp"),
            "n_docs",
            "total_chars",
        )
    )


@query("""
            SELECT event_id, user_id,
                   round(avg(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
                       AS mov_avg3,
                   round(sum(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS cum_value
            FROM events
        """)
def q52_moving_window_frames(spark, sf_dir):
    """Window-frame coverage: per-user 3-row moving average and running
    total over the event stream (ROWS frames with deterministic
    (ts, event_id) ordering)."""
    e = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    mov = w.rowsBetween(-2, 0)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(mov), 4).alias("mov_avg3"),
        F.round(F.sum("value").over(cum), 4).alias("cum_value"),
    )


@query("""
            WITH s AS (
                SELECT *,
                       CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'cccc'
                            THEN 'train'
                            WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'e666'
                            THEN 'val'
                            ELSE 'test' END AS split
                FROM documents)
            SELECT lang, split, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars
            FROM s GROUP BY lang, split
        """)
def q53_split_assignment(spark, sf_dir):
    """Deterministic train/val/test partition (80/10/10 md5 thresholds):
    per (lang, split) counts + char totals — the standard ML-prep split
    whose assignment is a pure function of the id (rows never migrate
    when unrelated data changes; operators/sampling.py assign_splits)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (
        assign_splits(docs, "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query("""
            WITH s AS (
                SELECT event_id AS signup_id, user_id, ts FROM events
                WHERE event_type = 'signup'),
            fc AS (
                SELECT s.*,
                       (SELECT min(c.ts) FROM events c
                        WHERE c.event_type = 'click'
                          AND c.user_id = s.user_id
                          AND c.ts >= s.ts) AS cts
                FROM s),
            funnel AS (
                SELECT *,
                       (SELECT min(p.ts) FROM events p
                        WHERE p.event_type = 'purchase'
                          AND p.user_id = fc.user_id
                          AND p.ts >= fc.cts) AS pts
                FROM fc
                WHERE cts IS NOT NULL
                  AND date_diff('microsecond', ts, cts) <= 3600000000),
            cl AS (
                SELECT strftime(ts, '%Y-%m-%d') AS day,
                       count(*) AS n_clicked_1h,
                       count(*) FILTER (
                           WHERE pts IS NOT NULL
                             AND date_diff('microsecond', cts, pts)
                                 <= 86400000000) AS n_purchased_24h
                FROM funnel GROUP BY 1),
            tot AS (
                SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_signups
                FROM s GROUP BY 1)
            SELECT tot.day, n_signups,
                   coalesce(cl.n_clicked_1h, 0) AS n_clicked_1h,
                   coalesce(cl.n_purchased_24h, 0) AS n_purchased_24h
            FROM tot LEFT JOIN cl ON tot.day = cl.day
        """)
def q57_conversion_funnel(spark, sf_dir):
    """Event-analytics funnel on two chained FORWARD as-of joins: per
    signup day, how many signups saw a click within 1 h, and of those,
    a purchase within 24 h of the click.  Each stage is one
    union-window shuffle (operators/asof.py, direction='forward')."""
    e = spark.read.parquet(_t(sf_dir, "events"))
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    c1 = asof_join(
        signups, clicks, on=["user_id"], right_cols=[],
        suffix="_click", direction="forward",
    ).withColumn(
        "clicked",
        F.col("ts_click").isNotNull()
        & ((us("ts_click") - us("ts")) <= 3_600_000_000),
    )
    funnel_base = c1.filter("clicked").select(
        "signup_id", "user_id", "ts",
        F.col("ts_click").alias("cts"),
    )
    p1 = asof_join(
        funnel_base, purchases, on=["user_id"], right_cols=[],
        left_ts="cts", suffix="_buy", direction="forward",
    ).withColumn(
        "purchased",
        F.col("ts_buy").isNotNull()
        & ((us("ts_buy") - us("cts")) <= 86_400_000_000),
    )
    per_day_clicked = (
        p1.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_clicked_1h"),
            F.sum(F.col("purchased").cast("bigint")).alias(
                "n_purchased_24h"),
        )
    )
    totals = signups.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_signups")
    )
    return totals.join(per_day_clicked, "day", "left").select(
        "day",
        "n_signups",
        F.coalesce("n_clicked_1h", F.lit(0)).alias("n_clicked_1h"),
        F.coalesce("n_purchased_24h", F.lit(0)).alias("n_purchased_24h"),
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       substr(md5(doc_id::VARCHAR), 1, 4) < '0ccc'
                           AS is_eval,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
            sp AS (
                SELECT doc_id, is_eval,
                       unnest([md5(array_to_string(toks[i:i+7], ' '))
                               for i in range(1, len(toks) - 6)]) AS k
                FROM t WHERE len(toks) >= 8),
            hits AS (
                SELECT DISTINCT k FROM sp
                WHERE NOT is_eval
                  AND k IN (SELECT k FROM sp WHERE is_eval)),
            ec AS (
                SELECT doc_id,
                       count(*) FILTER (WHERE k IN (SELECT k FROM hits))
                           AS n_dirty
                FROM sp WHERE is_eval GROUP BY 1),
            tot AS (
                SELECT doc_id, greatest(len(toks) - 7, 0)::INT AS n_spans
                FROM t WHERE is_eval)
            SELECT tot.doc_id, tot.n_spans,
                   coalesce(ec.n_dirty, 0)::BIGINT AS n_dirty_spans,
                   round(CASE WHEN tot.n_spans > 0
                         THEN coalesce(ec.n_dirty, 0)::DOUBLE / tot.n_spans
                         ELSE 0.0 END, 4) AS dirty_frac,
                   (coalesce(ec.n_dirty, 0) > 0)::INT AS contaminated
            FROM tot LEFT JOIN ec ON tot.doc_id = ec.doc_id
        """)
def q58_decontaminate(spark, sf_dir):
    """Benchmark decontamination (Brown et al. 2020 app. C shape): a
    deterministic 5% hash-gate carves the eval split; an eval doc is
    contaminated when any 8-token window also occurs in the train split.
    Train side scans once with zero shuffles (broadcast left-semi on the
    benchmark-sized eval key set; operators/contamination.py)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return eval_contamination(
        docs, hash_gate(F.col("doc_id"), 0.05), width=8
    )


@query(r"""
            WITH s AS (
                SELECT source, doc_id,
                       len(string_split_regex(trim(text), '\s+'))::INT
                           AS n_tokens
                FROM documents),
            c AS (
                SELECT source, doc_id, n_tokens,
                       sum(n_tokens) OVER (
                           PARTITION BY source
                           ORDER BY md5(doc_id::VARCHAR), doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)::BIGINT AS cum_tokens
                FROM s)
            SELECT source, doc_id, n_tokens, cum_tokens
            FROM c WHERE cum_tokens <= 800
        """)
def q59_token_budget_mix(spark, sf_dir):
    """Per-domain token-budget corpus mixing: keep a deterministic
    md5-ordered prefix of each source's docs until 800 cumulative tokens
    — the "N tokens per domain" selection step.  Grouped two-phase
    distributed prefix sum (operators/sampling.budget_cap): no task ever
    holds more than 1/n_buckets of a domain, so a 50 TB hot domain never
    becomes a single-partition window."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    sized = docs.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return budget_cap(
        sized, "source", "n_tokens", "doc_id", budget=800, n_buckets=16
    ).select(
        "source", "doc_id", "n_tokens", F.col("cum_size").alias("cum_tokens")
    )


@query("""
            WITH c AS (
                SELECT lang, count(*) AS n FROM documents GROUP BY 1),
            t AS (
                SELECT sum(n) AS total, sum(pow(n, 0.5)) AS sumw FROM c),
            r AS (
                SELECT lang, n,
                       round(least(1.0,
                             0.5 * total * pow(n, 0.5) / sumw / n),
                             6) AS mix_rate
                FROM c, t),
            kept AS (
                SELECT d.lang, d.n_chars, r.mix_rate FROM documents d
                JOIN r ON d.lang = r.lang
                WHERE r.mix_rate >= 1.0
                   OR substr(md5(d.doc_id::VARCHAR), 1, 4)
                      < printf('%04x', floor(r.mix_rate * 65536)::INT)),
            k AS (
                SELECT lang, max(mix_rate) AS mix_rate,
                       count(*) AS n_kept,
                       sum(n_chars)::BIGINT AS kept_chars
                FROM kept GROUP BY 1)
            SELECT c.lang, c.n AS n_total, k.mix_rate,
                   coalesce(k.n_kept, 0) AS n_kept,
                   coalesce(k.kept_chars, 0) AS kept_chars
            FROM c LEFT JOIN k ON c.lang = k.lang
        """)
def q60_temperature_mix(spark, sf_dir):
    """Temperature-based mixture reweighting (mT5-style p_d ∝ n_d^alpha,
    alpha=0.5, target half the corpus) over the skewed language
    distribution: small languages up-sample relative to en.  One tiny
    count aggregate + broadcast rate dim + one narrow gated scan
    (operators/sampling.temperature_mix).  Output: per-language totals
    of the tempered sample."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    kept = temperature_mix(docs, "lang", "doc_id", alpha=0.5,
                           target_frac=0.5)
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    kept_g = kept.groupBy("lang").agg(
        F.max("mix_rate").alias("mix_rate"),
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )
    return totals.join(kept_g, "lang", "left").select(
        "lang",
        "n_total",
        "mix_rate",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       list_prepend('<s>',
                           string_split_regex(trim(lower(text)), '\s+'))
                           AS tk
                FROM documents),
            bg AS (
                SELECT doc_id,
                       unnest([{'w1': tk[i], 'w2': tk[i + 1]}
                               for i in range(1, len(tk))]) AS b
                FROM t WHERE len(tk) >= 2),
            db AS (
                SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS m
                FROM bg GROUP BY 1, 2, 3),
            c12 AS (SELECT w1, w2, sum(m) AS c12 FROM db GROUP BY 1, 2),
            c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
            v AS (SELECT count(DISTINCT w2) AS vsz FROM c12),
            sc AS (
                SELECT doc_id, sum(m)::BIGINT AS n_tokens,
                       -sum(m * ln((c12 + 0.1) / (c1 + 0.1 * vsz)))
                           / sum(m) AS nll
                FROM db JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
                CROSS JOIN v
                GROUP BY 1)
            SELECT doc_id, n_tokens, round(nll, 4) AS avg_nll,
                   round(exp(nll), 4) AS ppl,
                   round(exp(nll), 4) <= 30.0 AS keep
            FROM sc
        """)
def q61_lm_perplexity(spark, sf_dir):
    """Bigram-LM perplexity quality gate (CCNet shape, Wenzek et al.
    2020): train an add-0.1 bigram LM on the corpus in two slim regroup
    aggregates, score every document's count-weighted mean NLL with one
    (w1, w2) shuffle join, gate on ppl <= 30.  No Window, no UDF
    (operators/lm.py)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return bigram_lm_perplexity(docs, alpha=0.1, max_ppl=30.0)


@query("""
            WITH e AS (
                SELECT vec_id, label, embedding::DOUBLE[] AS v
                FROM embeddings),
            ex AS (
                SELECT label, unnest(v) AS val,
                       unnest(range(1, len(v) + 1)) AS pos
                FROM e),
            cm AS (SELECT label, pos, avg(val) AS m FROM ex GROUP BY 1, 2),
            cent AS (
                SELECT label AS concept, list(m ORDER BY pos) AS cv
                FROM cm GROUP BY 1),
            best AS (
                SELECT e.vec_id, e.label AS true_label, c.concept,
                       round(list_cosine_similarity(e.v, c.cv), 4)
                           AS cosine,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(
                               list_cosine_similarity(e.v, c.cv), 4) DESC,
                               c.concept) AS rn
                FROM e CROSS JOIN cent c)
            SELECT vec_id, true_label, concept, cosine
            FROM best WHERE rn = 1 AND cosine >= 0.2
        """)
def q62_concept_recognize(spark, sf_dir):
    """Embedding-based concept recognition — the distributed analog of
    the reference's IntersEmbeddingConceptRecognizer
    (claimskg/reconciler/recognizer/deep_recognizers.py:13): per-concept
    centroid vectors (one combinable posexplode aggregate), then a pure
    within-row broadcast argmax assignment with a 0.2 rounded-cosine
    accept threshold (operators/recognizers.py)."""
    vecs = spark.read.parquet(_t(sf_dir, "embeddings"))
    return concept_recognize(vecs, threshold=0.2)


@query(r"""
            WITH t AS (
                SELECT doc_id, source = 'src0' AS tgt,
                       string_split_regex(trim(lower(text)), '\s+') AS tk
                FROM documents),
            f AS (
                SELECT doc_id, tgt,
                       unnest(list_concat(tk,
                           [tk[i] || ' ' || tk[i + 1]
                            for i in range(1, len(tk))])) AS feat
                FROM t),
            fb AS (
                SELECT doc_id, tgt, substr(md5(feat), 1, 3) AS bucket,
                       count(*) AS m
                FROM f GROUP BY 1, 2, 3),
            ct AS (SELECT bucket, sum(m) AS ct FROM fb WHERE tgt
                   GROUP BY 1),
            cr AS (SELECT bucket, sum(m) AS cr FROM fb WHERE NOT tgt
                   GROUP BY 1),
            model AS (
                SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
                       coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
                FROM ct FULL JOIN cr ON ct.bucket = cr.bucket),
            tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM model),
            sc AS (
                SELECT doc_id, sum(m)::BIGINT AS n_feats,
                       round(sum(m * (
                           ln((ct + 1.0) / (tt + 1.0 * 4096))
                           - ln((cr + 1.0) / (tr + 1.0 * 4096)))), 4)
                           AS log_importance
                FROM fb JOIN model USING (bucket) CROSS JOIN tot
                WHERE NOT tgt GROUP BY 1),
            th AS (SELECT quantile_cont(log_importance, 0.75) AS thr
                   FROM sc)
            SELECT doc_id, n_feats, log_importance,
                   (log_importance >= thr)::INTEGER AS keep
            FROM sc CROSS JOIN th
        """)
def q64_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): score every raw
    document by its hashed unigram+bigram log importance ratio against
    the src0 target corpus and keep the top 25% (exact-percentile
    threshold on the rounded scores; operators/selection.dsir_select)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return dsir_select(docs, F.col("source") == "src0", fraction=0.25)


@query("""
            WITH s AS (
                SELECT doc_id, text, lang, source, n_chars,
                       round(ln(
                           (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
                                ::UBIGINT::DOUBLE + 0.5) / 4294967296.0)
                           / n_chars::DOUBLE, 8) AS priority
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0)
            SELECT * FROM s ORDER BY priority DESC, doc_id LIMIT 50
        """)
def q66_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES priorities from md5-derived uniforms): draw 50
    documents with probability proportional to n_chars
    (operators/sampling.weighted_sample).  Global draw plans as
    TakeOrderedAndProject — per-partition top-k, no sort shuffle."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return weighted_sample(docs, "n_chars", 50)


def _q67_oracle_sql() -> str:
    """Bit-interleave twin of zorder_key(bits=8) over
    (user_id, epoch-micros): the 16 shift/mask/OR terms are generated
    to mirror the operator's LSB-first interleave exactly."""
    terms = []
    for b in range(8):
        terms.append(f"(((zx >> {b}) & 1) << {2 * b})")
        terms.append(f"(((zy >> {b}) & 1) << {2 * b + 1})")
    key = " | ".join(terms)
    return f"""
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        mm AS (
            SELECT min(user_id) AS mnx, max(user_id) AS mxx,
                   min(ts_us) AS mny, max(ts_us) AS mxy
            FROM e),
        z AS (
            SELECT event_id, user_id, ts_us,
                   CASE WHEN mxx > mnx THEN floor(
                       (user_id::DOUBLE - mnx::DOUBLE) * 255.0
                       / (mxx::DOUBLE - mnx::DOUBLE))::BIGINT
                   ELSE 0 END AS zx,
                   CASE WHEN mxy > mny THEN floor(
                       (ts_us::DOUBLE - mny::DOUBLE) * 255.0
                       / (mxy::DOUBLE - mny::DOUBLE))::BIGINT
                   ELSE 0 END AS zy
            FROM e CROSS JOIN mm)
        SELECT event_id, user_id, ts_us, ({key})::BIGINT AS zkey FROM z
    """


@query(_q67_oracle_sql)
def q67_zorder_key(spark, sf_dir):
    """Z-order (Morton) layout key over the events table's
    (user_id, event-time) plane — the bit-interleaved sort key that
    makes optimize_layout's file skipping multi-dimensional
    (operators/sampling.zorder_key; OPTIMIZE ZORDER BY shape).  Pure
    integer bit arithmetic after one broadcast min/max scaling, so the
    key replays exactly in SQL."""
    ev = spark.read.parquet(_t(sf_dir, "events")).select(
        "event_id", "user_id",
        # NTZ-safe micros, the operators/asof.py convention
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return zorder_key(ev, ["user_id", "ts_us"], bits=8)


@query("""
            WITH s AS (
                SELECT user_id, value AS tier, ts AS valid_from,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS valid_to
                FROM events WHERE event_type = 'signup'),
            p AS (
                SELECT event_id AS purchase_id, user_id, ts
                FROM events WHERE event_type = 'purchase')
            SELECT p.purchase_id, p.user_id, s.tier,
                   epoch_us(s.valid_from) AS version_from_us
            FROM p LEFT JOIN s
              ON p.user_id = s.user_id
             AND s.valid_from <= p.ts
             AND (s.valid_to IS NULL OR s.valid_to > p.ts)
        """)
def q68_scd2_join(spark, sf_dir):
    """Point-in-time (SCD Type 2) dimension join: each purchase gets the
    user's tier version valid at purchase time.  The version dim is
    derived from signup events (valid_from = signup ts, valid_to = next
    signup per user); the join is the as-of composition in
    operators/asof.scd2_join — one shuffle, no interval explosion."""
    e = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("value").alias("tier"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    out = scd2_join(purchases, dim, on=["user_id"], fact_ts="ts")
    return out.select(
        "purchase_id",
        "user_id",
        F.col("tier_dim").alias("tier"),
        F.unix_micros(F.col("valid_from_dim").cast("timestamp"))
        .alias("version_from_us"),
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)),
                                                 '\s+')) AS term
                FROM documents),
            tf AS (SELECT term, doc_id, count(*) AS tf
                   FROM t GROUP BY 1, 2),
            d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            r AS (
                SELECT term, doc_id, tf,
                       ROW_NUMBER() OVER (PARTITION BY term
                           ORDER BY tf DESC, doc_id) AS rnk
                FROM tf)
            SELECT r.term, d.df, r.doc_id, r.tf, r.rnk
            FROM r JOIN d USING (term) WHERE rnk <= 20
        """)
def q69_inverted_index(spark, sf_dir):
    """Term -> capped posting list over the document corpus (df + top-20
    highest-tf docs per term) via the salted two-phase per-key top-k
    (operators/topk.py) — hot stopword terms never sort in one task."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return build_inverted_index(docs, max_postings=20)


@query("""
            SELECT coalesce(lang, 'ALL') AS lang_grp,
                   coalesce(source, 'ALL') AS source_grp,
                   GROUPING(lang, source) AS gid,
                   count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars
            FROM documents
            GROUP BY GROUPING SETS ((lang), (source), (lang, source))
        """)
def q72_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS lattice with grouping_id — the remaining
    grouping-lattice form next to ROLLUP (q04) and CUBE (q51): per-lang,
    per-source, and per-(lang, source) aggregates in one pass, the
    standard-SQL bitmask disambiguating real NULL groups from
    lattice-generated ones."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    docs.createOrReplaceTempView("docs_q72")
    return spark.sql("""
        SELECT coalesce(lang, 'ALL') AS lang_grp,
               coalesce(source, 'ALL') AS source_grp,
               grouping_id(lang, source) AS gid,
               count(*) AS n_docs,
               sum(n_chars) AS total_chars
        FROM docs_q72
        GROUP BY GROUPING SETS ((lang), (source), (lang, source))
    """)


@query("""
            WITH ev AS (
                SELECT event_id, user_id, epoch_us(ts) AS us, event_type
                FROM events),
            er AS (SELECT event_id AS err_id, user_id, us AS ls,
                          us + 600000000 AS le
                   FROM ev WHERE event_type = 'error'),
            vw AS (SELECT event_id AS view_id, user_id, us AS rs,
                          us + 600000000 AS re
                   FROM ev WHERE event_type = 'view')
            SELECT er.user_id, err_id, view_id,
                   (least(le, re) - greatest(ls, rs))::BIGINT
                       AS overlap_us
            FROM er JOIN vw ON er.user_id = vw.user_id
             AND greatest(ls, rs) <= least(le, re)
        """)
def q74_interval_overlap(spark, sf_dir):
    """Interval × interval overlap join: per-user 10-minute error
    windows matched to overlapping per-user 10-minute view windows
    (operators/asof.interval_overlap_join — bucketized bins + the
    max-start responsibility bin, exactly-once without dropDuplicates)."""
    e = spark.read.parquet(_t(sf_dir, "events"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = 600_000_000  # 10-minute windows
    errs = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id",
        us.alias("l_start"), (us + w).alias("l_end"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        us.alias("r_start"), (us + w).alias("r_end"),
    )
    out = interval_overlap_join(errs, views, on=["user_id"],
                                bucket_us=w)
    return out.select(
        "user_id", "err_id", "view_id",
        (F.least("l_end", "r_end") - F.greatest("l_start", "r_start"))
        .cast("long").alias("overlap_us"),
    )


@query(f"""
            WITH t AS (
                SELECT doc_id, source,
                       string_split_regex(trim(text), '\\s+') AS toks
                FROM documents),
            s AS (
                SELECT doc_id, source,
                       len(toks) AS n_tokens,
                       len(list_filter(toks,
                           x -> list_contains({LANGID_PROBES_SQL}, lower(x))))::DOUBLE
                       / greatest(len(toks), 1) AS stop_ratio
                FROM t),
            qd AS (
                SELECT doc_id, source,
                       round((least(n_tokens / 64.0, 1.0)
                              + least(stop_ratio * 4, 1.0)) / 2, 4) AS quality
                FROM s),
            prior AS (
                SELECT source,
                       count(*) AS source_docs,
                       round(avg(quality), 4) AS source_quality
                FROM qd GROUP BY source)
            SELECT qd.doc_id, qd.source, qd.quality,
                   prior.source_docs, prior.source_quality
            FROM qd JOIN prior USING (source)
            WHERE prior.source_quality >= 0.5 AND prior.source_docs >= 3
        """)
def q75_source_prior_gate(spark, sf_dir):
    """Domain-level quality gating (RefinedWeb/DCLM 'filter by URL'):
    per-source average quality prior, docs kept only when their source
    clears the prior (operators/selection.source_prior_gate — one
    combinable groupBy(source), prior broadcast back)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return source_prior_gate(docs, min_source_quality=0.5,
                             min_source_docs=3)


def _q76_oracle_sql() -> str:
    """SQL twin of countmin_heavy_hitters: same md5-mod-p 'j|term'
    bucket family, same depth x width grid, min over joined cells."""
    depth, width, min_count = 4, 32768, 6
    h = _MD5_MOD_P.format(x="j::VARCHAR || '|' || term")
    return f"""
        WITH t AS (SELECT string_split_regex(lower(trim(text)), '\\s+')
                          AS toks
                   FROM documents),
        bg AS (SELECT unnest(CASE WHEN len(toks) >= 3 THEN
                   [array_to_string(toks[i:i+2], ' ')
                    for i in range(1, len(toks) - 1)]
                   ELSE [] END) AS term
               FROM t),
        tc AS (SELECT term, count(*)::BIGINT AS exact_count
               FROM bg GROUP BY term),
        hashed AS (SELECT term, exact_count, j,
                          {h} % {width} AS bucket
                   FROM tc, (SELECT unnest(range(0, {depth})) AS j)),
        sketch AS (SELECT j, bucket, sum(exact_count)::BIGINT AS c
                   FROM hashed GROUP BY j, bucket),
        est AS (SELECT term, exact_count, min(c)::BIGINT AS cms_count
                FROM hashed JOIN sketch USING (j, bucket)
                GROUP BY term, exact_count)
        SELECT term, exact_count, cms_count
        FROM est WHERE cms_count >= {min_count}
    """


@query(_q76_oracle_sql)
def q76_countmin_heavy_hitters(spark, sf_dir):
    """Count-min sketch heavy hitters over corpus word trigrams
    (operators/sketches.countmin_heavy_hitters — constant-size
    mergeable grid, broadcast probe join, one-sided estimates; the
    md5-mod-p hash family makes the grid replayable in SQL)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return countmin_heavy_hitters(docs, min_count=6, depth=4,
                                  width=32768, ngram=3)


@query("""
            SELECT * FROM lineitem
            WHERE l_orderkey IN (
                SELECT o_orderkey FROM orders
                WHERE o_totalprice > 400000)
        """)
def q78_bloom_semi_join(spark, sf_dir):
    """Exact semi-join through a broadcast Bloom prefilter: lineitems
    of high-value orders (operators/bloomjoin.bloom_semi_join — the
    fact-side shuffle only ever carries Bloom survivors; false
    positives are removed by the residual equi-join, so the result is
    EXACTLY the ANSI IN-subquery)."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    big = (
        spark.read.parquet(_t(sf_dir, "orders"))
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    return bloom_semi_join(li, big, on="l_orderkey",
                           right_on="o_orderkey")


@query("""
            WITH d AS (
                SELECT n_chars,
                       substr(md5(doc_id::VARCHAR), 1, 4) < '8000' AS g
                FROM documents),
            binned AS (
                SELECT g, CASE WHEN n_chars IS NULL THEN -1 ELSE
                    len(list_filter([100.0, 200.0, 300.0, 400.0, 500.0],
                                    e -> e <= n_chars::DOUBLE)) END AS bin
                FROM d),
            r AS (SELECT bin, count(*) AS n_ref FROM binned
                  WHERE g GROUP BY bin),
            c AS (SELECT bin, count(*) AS n_cur FROM binned
                  WHERE NOT g GROUP BY bin),
            bins AS (SELECT unnest(range(-1, 6)) AS bin),
            counts AS (
                SELECT bins.bin,
                       coalesce(n_ref, 0)::BIGINT AS n_ref,
                       coalesce(n_cur, 0)::BIGINT AS n_cur
                FROM bins LEFT JOIN r USING (bin)
                          LEFT JOIN c USING (bin)),
            t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM counts)
            SELECT bin::INTEGER AS bin, n_ref, n_cur,
                   round(((n_cur + 0.5) / (tc + 3.5)
                          - (n_ref + 0.5) / (tr + 3.5))
                         * ln(((n_cur + 0.5) / (tc + 3.5))
                              / ((n_ref + 0.5) / (tr + 3.5))), 6)
                   AS psi_contrib
            FROM counts, t
        """)
def q79_psi_drift(spark, sf_dir):
    """Distribution drift between two deterministic corpus snapshots:
    per-bin PSI decomposition of document length over fixed edges
    (operators/drift.psi_drift — pure-row binning, two combinable
    groupBys, constant-size join; the cheapest whole-corpus health
    check).  The hash gate stands in for the ref/cur snapshot split."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    gate = hash_gate(F.col("doc_id"), 0.5)
    return psi_drift(docs.filter(gate), docs.filter(~gate),
                     "n_chars", [100, 200, 300, 400, 500])


@query("""
            WITH o AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       round(o_totalprice, 2) AS price
                FROM orders),
            tgt AS (SELECT * FROM o WHERE o_orderkey % 5 <> 4),
            win AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 10 = 7 THEN 'D'
                            ELSE 'U' END AS op,
                       o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 10 = 7 THEN price
                            ELSE round(price * 1.2, 2) END AS price
                FROM o WHERE o_orderkey % 3 = 0)
            SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.price
            FROM tgt t LEFT JOIN win w ON t.o_orderkey = w.o_orderkey
            WHERE w.o_orderkey IS NULL
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, price
            FROM win WHERE op <> 'D'
        """)
def q80_cdc_apply(spark, sf_dir):
    """MERGE-style CDC apply (operators/cdc.cdc_apply): a deterministic
    change stream over the orders snapshot — two update versions per
    every-3rd key (latest wins), a delete marker on every-30th-ish key,
    inserts where the changed key is absent from the target — folded
    with one combinable max_by and applied with one full-outer join."""
    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
    )
    target = o.filter(F.col("o_orderkey") % 5 != 4)
    base = o.filter(F.col("o_orderkey") % 3 == 0)

    def _ver(ts, op, price_col):
        return base.select(
            "o_orderkey", F.lit(ts).alias("ts"), F.lit(op).alias("op"),
            "o_custkey", "o_orderstatus", price_col.alias("price"),
        )

    changes = (
        _ver(1, "U", F.round(F.col("price") * 1.1, 2))
        .unionAll(_ver(2, "U", F.round(F.col("price") * 1.2, 2)))
        .unionAll(
            _ver(3, "D", F.col("price"))
            .filter(F.col("o_orderkey") % 10 == 7)
        )
    )
    return cdc_apply(target, changes, key="o_orderkey")


def _q81_oracle_sql() -> str:
    """SQL twin of hll_distinct(p=10) per lang: same 60-bit md5 hash
    ('0x' cast), bin()-length rho, and HUGEINT harmonic sum (DuckDB's
    exact 128-bit sum stands in for Spark's DECIMAL(38,0) — both cast
    the same exact integer to double before the one division)."""
    p = 10
    m = 1 << p
    sb = 60 - p
    mask = (1 << sb) - 1
    two62 = 1 << 62
    alpha = 0.7213 / (1 + 1.079 / m)
    c = repr(alpha * m * m * float(two62))
    return f"""
        WITH t AS (SELECT lang,
                          unnest(string_split_regex(lower(trim(text)),
                                                    '\\s+')) AS term
                   FROM documents),
        hh AS (SELECT lang,
                      ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
               FROM t WHERE term IS NOT NULL),
        reg AS (SELECT lang, h >> {sb} AS reg_idx,
                       CASE WHEN (h & {mask}) = 0 THEN {sb + 1}
                            ELSE {sb + 1} - length(bin(h & {mask}))
                       END AS rho
                FROM hh),
        r AS (SELECT lang, reg_idx, max(rho) AS mj
              FROM reg GROUP BY 1, 2),
        a AS (SELECT lang, count(*) AS n_set,
                     sum(1::BIGINT << (62 - mj)) AS s_set
              FROM r GROUP BY 1),
        e AS (SELECT lang, ({m} - n_set) AS v,
                     {c} / ((s_set
                             + ({m}::HUGEINT - n_set)
                               * {two62}::HUGEINT)::DOUBLE) AS e_raw
              FROM a),
        est AS (SELECT lang,
                       round(CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
                                  THEN {float(m)!r}
                                       * ln({float(m)!r} / v)
                                  ELSE e_raw END, 4) AS est_distinct
                FROM e),
        ex AS (SELECT lang, count(DISTINCT term)::BIGINT
                           AS exact_distinct
               FROM t WHERE term IS NOT NULL GROUP BY 1)
        SELECT lang, est_distinct, exact_distinct
        FROM est JOIN ex USING (lang)
    """


@query(_q81_oracle_sql)
def q81_hll_distinct(spark, sf_dir):
    """HLL distinct-token count per language (operators/sketches
    hll_registers/hll_estimate: constant 2^10 registers per group,
    register-wise-max mergeable, 60-bit md5 hash and exact-decimal
    harmonic sum so DuckDB replays the estimate bit-for-bit).  The
    exact count rides alongside for the disclosed-accuracy story."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("term"),
    )
    return hll_distinct(toks, "term", by=["lang"], p=10,
                        include_exact=True)


@query("""
            SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_s,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   sum(value::DECIMAL(18,6))::DOUBLE AS sum_value,
                   min(value) AS min_value,
                   max(value) AS max_value
            FROM events
            GROUP BY 1, 2
        """)
def q82_rollup_maintenance(spark, sf_dir):
    """Hourly continuous-aggregate rollup of events by type, built
    THROUGH the incremental maintenance path (operators/rollup): two
    disjoint event slices each roll up to monoid partials, then
    rollup_merge folds them — the oracle re-derives the answer as one
    direct groupBy, so the driver gate itself pins
    merge(rollup(a), rollup(b)) == rollup(a ∪ b).  Decimal-cast SUM
    keeps the double measure order-independent; epoch-second buckets
    keep the bucket timezone-proof."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    measures = [
        ("n_events", "count", F.lit(1)),
        ("sum_value", "sum", F.col("value").cast("decimal(18,6)")),
        ("min_value", "min", F.col("value")),
        ("max_value", "max", F.col("value")),
    ]
    roll = lambda df: time_bucket_rollup(  # noqa: E731
        df, "ts", 3600, ["event_type"], measures)
    merged = rollup_merge(
        roll(ev.filter(F.col("event_id") % 2 == 0)),
        roll(ev.filter(F.col("event_id") % 2 != 0)),
        ["event_type"], measures)
    return merged.select(
        F.col("bucket").alias("bucket_s"), "event_type", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value", "max_value")


@query("""
            WITH h AS (
                SELECT doc_id, n_chars,
                       md5('r5:' || doc_id::VARCHAR) AS shard_key
                FROM documents),
            s AS (
                SELECT doc_id, n_chars, shard_key,
                       (('0x' || substr(shard_key, 9, 4))::BIGINT
                        % 8)::INTEGER AS shard
                FROM h)
            SELECT doc_id, n_chars, shard,
                   (ROW_NUMBER() OVER (PARTITION BY shard
                        ORDER BY shard_key, doc_id))::INTEGER AS shard_pos
            FROM s
        """)
def q84_shard_assign(spark, sf_dir):
    """Deterministic training-export sharding: shard id + within-shard
    shuffle position from md5('r5:' || doc_id) (operators/sampling
    assign_shards — shard is a pure row expression, the position rank
    is the one per-shard sort the export itself needs)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return assign_shards(docs.select("doc_id", "n_chars"), "doc_id",
                         n_shards=8, seed="r5").select(
        "doc_id", "n_chars", "shard", "shard_pos")


@query("""
            WITH agg AS (
                SELECT o_orderpriority,
                       quantile_disc(o_totalprice,
                                     [0.25, 0.5, 0.9, 0.99]) AS vs
                FROM orders GROUP BY 1),
            idx AS (SELECT unnest(range(1, 5)) AS i)
            SELECT o_orderpriority,
                   ([0.25, 0.5, 0.9, 0.99]::DOUBLE[])[i] AS q,
                   vs[i] AS value
            FROM agg, idx
        """)
def q85_grouped_quantiles(spark, sf_dir):
    """Exact discrete quantiles of order totalprice per priority class
    (operators/quantiles.grouped_quantiles — one combinable value-count
    groupBy + one per-group window over DISTINCT values; every q
    answered in the same pass.  Semantics = DuckDB quantile_disc:
    smallest value whose cumulative count reaches ceil(q*n))."""
    o = spark.read.parquet(_t(sf_dir, "orders"))
    return grouped_quantiles(o, "o_orderpriority", "o_totalprice",
                             [0.25, 0.5, 0.9, 0.99])


@query("""
            WITH m AS (
                SELECT c_mktsegment,
                       median(c_acctbal::DOUBLE) AS med_raw,
                       mad(c_acctbal::DOUBLE) AS mad_raw
                FROM customer GROUP BY 1)
            SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
                   round(med_raw, 6) AS med, round(mad_raw, 6) AS mad,
                   CASE WHEN c.c_acctbal IS NULL THEN FALSE
                        ELSE abs(c.c_acctbal::DOUBLE - med_raw)
                             > 2.013 * mad_raw END AS is_outlier
            FROM customer c JOIN m USING (c_mktsegment)
        """)
def q86_robust_outliers(spark, sf_dir):
    """Median/MAD outlier gate over customer balances per market
    segment (operators/quantiles.robust_outlier_gate — two exact
    grouped medians on the value-count frame; med/mad rounded 6 for
    cross-engine display, the gate itself on raw doubles).  k=2.013:
    a deliberately non-round multiplier so |x-med| can never exactly
    tie k*mad and flip on last-ulp arithmetic."""
    c = spark.read.parquet(_t(sf_dir, "customer"))
    return robust_outlier_gate(c, "c_mktsegment", "c_acctbal",
                               k=2.013).select(
        "c_custkey", "c_mktsegment", "c_acctbal", "med", "mad",
        "is_outlier")


@query("""
            WITH d AS (
                SELECT doc_id, n_chars,
                       CASE WHEN doc_id % 3 = 0
                                THEN source || '.example.com'
                            WHEN doc_id % 3 = 1
                                THEN source || '.example.com:8080'
                            ELSE 'm.' || source || '.example.com'
                       END AS host
                FROM documents)
            SELECT doc_id, host, n_chars, host_rank FROM (
                SELECT *, (ROW_NUMBER() OVER (PARTITION BY host
                    ORDER BY n_chars DESC, doc_id))::INTEGER AS host_rank
                FROM d)
            WHERE host_rank <= 10
        """)
def q87_host_cap(spark, sf_dir):
    """URL canonicalization + per-host document cap (operators/urls):
    three synthetic URL shapes per doc (uppercase www + default port /
    explicit non-default port / mobile subdomain + trailing dot) all
    canonicalize by the general parser; at most 10 docs per canonical
    host survive, ranked by n_chars desc.  The oracle recomputes the
    expected host CLOSED-FORM per URL shape, so the parser is checked
    against an independent expectation, not a SQL port of itself."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    url = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("HTTPS://WWW."), F.upper("source"),
                        F.lit(".Example.COM:443/d/"), F.col("doc_id")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("http://"), F.col("source"),
                       F.lit(".example.com:8080/d/"), F.col("doc_id")))
        .otherwise(
            F.concat(F.lit("https://m."), F.col("source"),
                     F.lit(".Example.com./d/"), F.col("doc_id")))
    )
    with_host = docs.select(
        "doc_id", "n_chars", canonical_host(url).alias("host"))
    return cap_per_host(
        with_host, "host", cap=10,
        order_by=[F.desc("n_chars"), F.col("doc_id")],
    ).select("doc_id", "host", "n_chars", "host_rank")


@query("""
            WITH stamped AS (
                SELECT doc_id, source,
                       CASE WHEN doc_id % 4 <> 0
                            THEN 'visit ' || source || ' dot com'
                                 || chr(10)
                            ELSE '' END
                       || text || chr(10)
                       || '(c) 2026 ' || source || ' media' AS text
                FROM documents),
            lines AS (
                SELECT doc_id, source,
                       unnest(string_split(text, chr(10))) AS line,
                       unnest(range(1, len(string_split(text, chr(10)))
                                    + 1)) AS pos
                FROM stamped),
            freq AS (
                SELECT source, line, count(DISTINCT doc_id) AS dfreq
                FROM lines WHERE line <> '' GROUP BY 1, 2),
            tot AS (SELECT source, count(*) AS docs
                    FROM stamped GROUP BY 1),
            boiler AS (
                SELECT source, line FROM freq JOIN tot USING (source)
                WHERE dfreq > 0.6 * docs)
            SELECT l.doc_id, l.source,
                   coalesce(string_agg(
                       CASE WHEN b.line IS NULL THEN l.line END,
                       chr(10) ORDER BY l.pos), '') AS clean_text,
                   count(CASE WHEN b.line IS NULL THEN 1 END)::BIGINT
                       AS n_kept,
                   count(b.line)::BIGINT AS n_dropped
            FROM lines l LEFT JOIN boiler b
                ON l.source = b.source AND l.line = b.line
            GROUP BY 1, 2
        """)
def q88_boilerplate_lines(spark, sf_dir):
    """CCNet-style boilerplate-line removal grouped by source
    (operators/boilerplate.strip_boilerplate_lines): a 75%-frequency
    synthetic header and a 100% footer are stamped onto the document
    text; lines above 60% within-source document frequency are
    dropped and the body reassembles in order.  Explode + ONE
    combinable (group, line) groupBy + in-row array_sort reassembly —
    no per-group window sort."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    header = F.when(
        F.col("doc_id") % 4 != 0,
        F.concat(F.lit("visit "), F.col("source"), F.lit(" dot com\n")),
    ).otherwise(F.lit(""))
    stamped = docs.select(
        "doc_id", "source",
        F.concat(header, F.col("text"), F.lit("\n(c) 2026 "),
                 F.col("source"), F.lit(" media")).alias("text"),
    )
    return strip_boilerplate_lines(stamped, "doc_id", "text", "source",
                                   max_doc_frac=0.6)


@query("""
            WITH rep AS (
                SELECT 'c_custkey' AS "column", 'not_null' AS metric,
                       (SELECT count(c_custkey)::DOUBLE / count(*)
                        FROM customer) AS value,
                       1.0::DOUBLE AS threshold
                UNION ALL
                SELECT 'c_custkey', 'unique',
                       (SELECT count(DISTINCT c_custkey)::DOUBLE
                            / count(*) FROM customer), 1.0
                UNION ALL
                SELECT 'c_acctbal', 'min',
                       (SELECT min(c_acctbal)::DOUBLE FROM customer),
                       -1000.0
                UNION ALL
                SELECT 'c_acctbal', 'max',
                       (SELECT max(c_acctbal)::DOUBLE FROM customer),
                       10000.0
                UNION ALL
                SELECT 'c_acctbal', 'mean',
                       (SELECT round(avg(c_acctbal), 6) FROM customer),
                       0.0
                UNION ALL
                SELECT 'c_mktsegment', 'not_null',
                       (SELECT count(c_mktsegment)::DOUBLE / count(*)
                        FROM customer), 1.0
                UNION ALL
                SELECT 'c_name', 'matches:^Customer#[0-9]+$',
                       (SELECT sum(CASE WHEN regexp_matches(c_name,
                            '^Customer#[0-9]+$') THEN 1 ELSE 0
                            END)::DOUBLE / count(c_name)
                        FROM customer), 0.9)
            SELECT "column", metric, value, threshold,
                   CASE WHEN metric = 'max' THEN value <= threshold
                        ELSE value >= threshold END AS ok
            FROM rep
        """)
def q89_constraint_report(spark, sf_dir):
    """Data-quality constraint suite over customer (operators/
    expectations.profile_constraints): null fraction, exact
    uniqueness, numeric bounds, rounded mean, and a regex-shape check
    — all compiled into ONE aggregation pass, unpivoted to the
    long-format gate report."""
    c = spark.read.parquet(_t(sf_dir, "customer"))
    return profile_constraints(c, [
        ("c_custkey", "not_null", 1.0),
        ("c_custkey", "unique", 1.0),
        ("c_acctbal", "min", -1000.0),
        ("c_acctbal", "max", 10000.0),
        ("c_acctbal", "mean", 0.0),
        ("c_mktsegment", "not_null", 1.0),
        ("c_name", "matches:^Customer#[0-9]+$", 0.9),
    ])


@query("""
            WITH mode_w AS (
                SELECT user_id, event_type FROM (
                    SELECT user_id, event_type,
                           ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY cnt DESC, event_type ASC) AS rn
                    FROM (SELECT user_id, event_type, count(*) AS cnt
                          FROM events WHERE event_type IS NOT NULL
                          GROUP BY 1, 2))
                WHERE rn = 1),
            props_w AS (
                SELECT user_id, props FROM (
                    SELECT user_id, props,
                           ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY len(props) DESC, props DESC)
                               AS rn
                    FROM events WHERE props IS NOT NULL)
                WHERE rn = 1),
            latest_w AS (
                SELECT user_id, value AS value_last FROM (
                    SELECT user_id, value,
                           ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, value DESC) AS rn
                    FROM events
                    WHERE ts IS NOT NULL AND value IS NOT NULL)
                WHERE rn = 1),
            agg AS (
                SELECT user_id, count(*)::BIGINT AS n_records,
                       max(value) AS value
                FROM events GROUP BY 1)
            SELECT a.user_id, m.event_type, a.value, p.props,
                   l.value_last, a.n_records
            FROM agg a
            LEFT JOIN mode_w m USING (user_id)
            LEFT JOIN props_w p USING (user_id)
            LEFT JOIN latest_w l USING (user_id)
        """)
def q90_record_fusion(spark, sf_dir):
    """Field-level survivorship fusion of each user's event records
    (operators/fusion.fuse_records): most-frequent event_type (mode,
    tie -> smallest), max value, longest props payload, and the value
    on the latest event (ts order, tie -> larger value) — the simple
    rules fold in ONE combinable groupBy(user), mode adds exactly one
    (user, value) count pass + a key join."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return fuse_records(
        ev.withColumn("value_last", F.col("value")),
        "user_id",
        {"event_type": "mode", "value": "max", "props": "longest",
         "value_last": "latest"},
        order_col="ts",
    )


@query("""
            WITH reg AS (
                SELECT o_orderpriority,
                       LEAST(GREATEST(CAST(FLOOR(
                           (o_totalprice - 0.0) / (600000.0 / 128))
                           AS BIGINT), 0), 127) AS bin,
                       count(*) AS cnt
                FROM orders WHERE o_totalprice IS NOT NULL
                GROUP BY 1, 2),
            cum AS (
                SELECT o_orderpriority, bin, cnt,
                       SUM(cnt) OVER (PARTITION BY o_orderpriority
                                      ORDER BY bin) AS c,
                       SUM(cnt) OVER (PARTITION BY o_orderpriority)
                           AS n
                FROM reg),
            qs(q) AS (VALUES (0.25), (0.5), (0.9), (0.99))
            SELECT o_orderpriority, q,
                   ROUND(0.0 + bin * (600000.0 / 128)
                         + (600000.0 / 128)
                           * (CEIL(q * n) - (c - cnt)) / cnt,
                         6) AS est
            FROM cum JOIN qs
              ON CEIL(q * n) > c - cnt AND CEIL(q * n) <= c
        """)
def q91_histogram_quantiles(spark, sf_dir):
    """Mergeable equi-width histogram quantile sketch (operators/
    sketches.histogram_*) — the incremental-maintenance twin of q85's
    exact path.  The Spark side sketches TWO disjoint halves of orders
    (orderkey parity) and MERGES the registers before estimating; the
    oracle re-derives the direct one-pass histogram estimate in DuckDB
    — the green row IS the monoid identity merge(h(a), h(b)) ==
    h(a ∪ b), the q82-rollup pattern applied to quantiles."""
    LO, HI, BINS = 0.0, 600000.0, 128
    o = spark.read.parquet(_t(sf_dir, "orders"))
    halves = [
        histogram_registers(
            o.filter(F.col("o_orderkey") % 2 == parity),
            "o_totalprice", LO, HI, BINS, by=["o_orderpriority"])
        for parity in (0, 1)
    ]
    merged = histogram_merge(*halves, by=["o_orderpriority"])
    return histogram_quantiles(merged, LO, HI, BINS,
                               [0.25, 0.5, 0.9, 0.99],
                               by=["o_orderpriority"])


def _q147_oracle_sql(window: int = 2, k: int = 2, seed: str = "sg",
                     n_buckets: int = 1024) -> str:
    """Skip-gram twin: in-list nested comprehension builds the same
    ±window pairs; the vocabulary index is ONE row_number() OVER
    (ORDER BY md5-bucket, token) — exactly the total order the
    engine's two-phase bucket/offset construction realizes — and the
    negative pick is the identical 60-bit md5 mod V equi-join."""
    slot_rows = ", ".join(f"({i})" for i in range(k))
    b = f"('0x' || substr(md5(token), 1, 15))::BIGINT % {n_buckets}"
    return f"""
        WITH {_skipgram_pairs_cte(window)},
        tok AS (SELECT DISTINCT unnest(toks) AS token FROM t),
        voc AS (
            SELECT token,
                   row_number() OVER (ORDER BY {b}, token) AS idx
            FROM tok),
        vt AS (SELECT max(idx) AS v FROM voc),
        sl AS (
            SELECT p.*, s.slot
            FROM p CROSS JOIN (VALUES {slot_rows}) s(slot)),
        pk AS (
            SELECT sl.*,
                   ('0x' || substr(md5('{seed}:' || doc_id || ':' || i
                     || ':' || j || ':' || slot), 1, 15))::BIGINT
                     % v + 1 AS pick
            FROM sl CROSS JOIN vt)
        SELECT pk.doc_id, pk.i, pk.j, pk.center, pk.context, pk.slot,
               voc.token AS negative
        FROM pk JOIN voc ON voc.idx = pk.pick
    """


@query(_q147_oracle_sql)
def q147_skipgram_negatives(spark, sf_dir):
    """Skip-gram training examples with deterministic negative
    sampling (operators/skipgram.py): (center, context) pairs within
    ±2 positions generated INSIDE the sentence row (nested transform,
    one explode, zero shuffle), then 2 negatives per pair picked by
    md5(seed:pair:slot) mod V against a dense 1..V vocabulary index
    built WITHOUT a global sort — md5-bucket + within-bucket
    row_number + an n_buckets-row prefix-sum broadcast (the packing.py
    two-phase pattern on vocabulary indexing).  The resulting total
    order is (bucket, token), which the oracle replays as one
    row_number() OVER (ORDER BY bucket, token); the pick is an
    equi-join on the index — no random(), retry/engine-stable.  The
    embedding-corpus path end-to-end: q128/q146 make sentences, this
    makes the training pairs."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(
        F.col("doc_id") % 5 == 0)
    pairs = skipgram_pairs(docs, text_col="text", id_col="doc_id",
                           window=2)
    toks = docs.select(F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"))
    return negative_samples(pairs, toks, k=2, seed="sg")


def _q148_oracle_sql(window: int = 3) -> str:
    """Co-occurrence twin: the same nested-comprehension pairs, then
    one GROUP BY with the identical integer 1/d weighting
    (lcm(1..window)/d per pair — exact, no float accumulation)."""
    lcm = 1
    for d in range(2, window + 1):
        lcm = math.lcm(lcm, d)
    return f"""
        WITH {_skipgram_pairs_cte(window)}
        SELECT center, context, count(*)::BIGINT AS n,
               CAST(sum({lcm} // abs(i - j)) AS BIGINT) AS weight_num,
               {lcm} AS weight_den
        FROM p GROUP BY center, context
    """


@query(_q148_oracle_sql)
def q148_glove_cooccurrence(spark, sf_dir):
    """GloVe co-occurrence matrix (operators/skipgram.
    cooccurrence_counts) over the ±3-window pairs of the sampled
    corpus — the X matrix an embedding trainer factorizes, with
    GloVe's 1/d distance damping carried EXACTLY as integers (every
    pair adds lcm(1..3)/d = 6/d to weight_num; weight = weight_num/6)
    — no float accumulation, so the damped weights hash-match across
    engines.  ONE map-side-combinable aggregate: partial sums fold
    per partition before the single exchange, and the key space is
    the pair vocabulary, not the pair stream."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(
        F.col("doc_id") % 5 == 0)
    pairs = skipgram_pairs(docs, text_col="text", id_col="doc_id",
                           window=3)
    return cooccurrence_counts(pairs, window=3)


def _q149_oracle_sql() -> str:
    """BPE pair-statistics twin: the same word dictionary, the same
    char + </w> symbol lift (1-based substring comprehension), the
    same freq-weighted adjacent-pair GROUP BY."""
    return """
        WITH w AS (
            SELECT word, count(*)::BIGINT AS freq FROM (
                SELECT unnest(string_split_regex(trim(lower(text)),
                              '\\s+')) AS word
                FROM documents WHERE doc_id % 5 = 0)
            WHERE word <> '' GROUP BY word),
        s AS (
            SELECT freq,
                   list_append([word[i] for i in
                                range(1, len(word) + 1)], '</w>') AS sym
            FROM w),
        p AS (
            SELECT freq,
                   unnest([{'l': sym[i], 'r': sym[i + 1]}
                           for i in range(1, len(sym))]) AS pr
            FROM s)
        SELECT pr['l'] AS "left", pr['r'] AS "right",
               CAST(sum(freq) AS BIGINT) AS freq
        FROM p GROUP BY 1, 2
    """


@query(_q149_oracle_sql)
def q149_bpe_pair_stats(spark, sf_dir):
    """BPE tokenizer-training statistics (operators/bpe.py, Sennrich
    ACL'16): the corpus collapses to a (word, freq) dictionary (the
    ONE corpus-sized exchange — every later training iteration is
    vocabulary-sized), words become char + </w> symbol sequences, and
    adjacent pairs are generated IN the word row and summed by ONE
    combinable groupBy weighted by word frequency — the statistics
    stage whose argmax drives each BPE merge.  The oracle re-derives
    the dictionary, the symbol lift, and the weighted pair counts;
    the sequential merge loop (one driver row per iteration) is
    pinned by the pure-Python twin in tests/test_bpe.py."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(
        F.col("doc_id") % 5 == 0)
    return bpe_pair_stats(with_symbols(word_freqs(docs)))


def _q150_oracle_sql() -> str:
    """BLEU-statistics twin: the same every-7th-token corruption (the
    comprehension's 1-based i mirrors the engine's 0-based lambda
    index + 1), 1-based slice n-grams, the same clipped-count
    comprehension, one global fold, raw divisions."""
    return r"""
        WITH d AS (
            SELECT list_filter(string_split_regex(trim(lower(text)),
                               '\s+'), y -> y <> '') AS rt
            FROM documents WHERE doc_id % 5 = 0),
        pr AS (
            SELECT [rt[i] for i in range(1, len(rt) + 1)
                    if i % 7 != 0] AS ct, rt
            FROM d),
        gr AS (
            SELECT len(ct) AS clen, len(rt) AS rlen, ct, rt,
                   [array_to_string(ct[i:i+1], ' ')
                    for i in range(1, len(ct))] AS cg2,
                   [array_to_string(rt[i:i+1], ' ')
                    for i in range(1, len(rt))] AS rg2
            FROM pr),
        per AS (
            SELECT clen, rlen,
                   coalesce(list_sum(
                     [least(len(list_filter(ct, y -> y = g)),
                            len(list_filter(rt, y -> y = g)))
                      for g in list_distinct(ct)]), 0) AS clip1,
                   len(ct) AS tot1,
                   coalesce(list_sum(
                     [least(len(list_filter(cg2, y -> y = g)),
                            len(list_filter(rg2, y -> y = g)))
                      for g in list_distinct(cg2)]), 0) AS clip2,
                   len(cg2) AS tot2
            FROM gr),
        agg AS (
            SELECT CAST(sum(clen) AS BIGINT) AS cand_len,
                   CAST(sum(rlen) AS BIGINT) AS ref_len,
                   CAST(sum(clip1) AS BIGINT) AS clipped_1,
                   CAST(sum(tot1) AS BIGINT) AS total_1,
                   CAST(sum(clip2) AS BIGINT) AS clipped_2,
                   CAST(sum(tot2) AS BIGINT) AS total_2
            FROM per)
        SELECT *, clipped_1 / NULLIF(total_1, 0) AS p1,
               clipped_2 / NULLIF(total_2, 0) AS p2
        FROM agg
    """


@query(_q150_oracle_sql)
def q150_ngram_overlap_bleu(spark, sf_dir):
    """Corpus-level BLEU statistics (operators/evaluation.
    ngram_overlap, Papineni ACL'02) over aligned (candidate,
    reference) pairs — candidate = the reference with every 7th token
    dropped (a deterministic in-row corruption both engines replay),
    reference = the document text.  Clipped n-gram matches (sum of
    min(candidate count, reference count) over distinct candidate
    grams — the modified-precision numerator) are exact integers
    computed IN the row; ONE combinable fold sums them with both
    corpus lengths, and p1/p2 are raw IEEE divisions.  The geometric
    mean / exp brevity penalty are deliberately NOT emitted (no
    cross-engine exp contract; every input to them is in the row).
    The oracle replays the corruption, the gram slicing, and the clip
    comprehension."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).filter(
        F.col("doc_id") % 5 == 0)
    # drop empties BEFORE the positional corruption so the 1-based
    # positions agree with the oracle's filtered token list (a leading
    # tab would otherwise shift every drop by one)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda x: x != "")
    cand = F.concat_ws(
        " ", F.filter(toks, lambda x, i: (i + 1) % 7 != 0))
    pairs = docs.select(cand.alias("candidate"),
                        F.col("text").alias("reference"))
    return ngram_overlap(pairs, max_n=2)


def _q151_oracle_sql() -> str:
    """Gap-fill twin: the q82 bucket arithmetic, a range()-generated
    per-key spine (end-exclusive +step == Spark's inclusive sequence),
    LEFT JOIN, zero-coalesced counts, and LOCF as last_value IGNORE
    NULLS over the same frame."""
    return """
        WITH o AS (
            SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   sum(value::DECIMAL(18,6)) AS sv
            FROM events GROUP BY 1, 2),
        b AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
              FROM o GROUP BY 1),
        s AS (SELECT event_type,
                     unnest(range(b0, b1 + 3600, 3600)) AS bucket
              FROM b),
        j AS (SELECT s.event_type, s.bucket,
                     coalesce(o.n_events, 0) AS n_events, o.sv,
                     o.bucket IS NULL AS filled
              FROM s LEFT JOIN o ON o.event_type = s.event_type
                                AND o.bucket = s.bucket)
        SELECT event_type, bucket, n_events,
               (last_value(sv IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               )::DOUBLE AS sum_value,
               filled
        FROM j
    """


@query(_q151_oracle_sql)
def q151_gap_fill_locf(spark, sf_dir):
    """Time-spine gap filling with last-observation-carried-forward
    (operators/rollup.gap_fill — the time_bucket_gapfill face of the
    q82 hypertable family): the hourly per-type rollup densified to a
    gapless per-key spine (sequence(min, max, step) generated IN the
    per-key bounds row — the spine costs O(keys) shuffle rows), gaps
    marked, counts zero-filled, the decimal-cast sum carried forward
    by one per-key window.  Epoch-second buckets and the decimal SUM
    keep every value engine-replayable; the oracle rebuilds the spine
    with range() and replays LOCF as last_value IGNORE NULLS."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    measures = [
        ("n_events", "count", F.lit(1)),
        ("sum_value", "sum", F.col("value").cast("decimal(18,6)")),
    ]
    rolled = time_bucket_rollup(ev, "ts", 3600, ["event_type"], measures)
    out = gap_fill(rolled, 3600, ["event_type"],
                   locf_cols=["sum_value"], zero_cols=["n_events"])
    return out.select(
        "event_type", "bucket", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"), "filled")


def _q152_oracle_sql(discount: float = _Q152_DISCOUNT) -> str:
    """KN twin: the q61 bigram chain, three continuation regroups, and
    the same probability expression tree (counts pinned BIGINT, the
    double left unrounded — same-order IEEE ops)."""
    d = discount
    return rf"""
        WITH t AS (
            SELECT doc_id,
                   list_prepend('<s>',
                       string_split_regex(trim(lower(text)), '\s+'))
                       AS tk
            FROM documents),
        bg AS (
            SELECT doc_id,
                   unnest([{{'w1': tk[i], 'w2': tk[i + 1]}}
                           for i in range(1, len(tk))]) AS b
            FROM t WHERE len(tk) >= 2),
        db AS (
            SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS m
            FROM bg GROUP BY 1, 2, 3),
        c12 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c12
                FROM db GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                      count(*)::BIGINT AS n1p_fw
               FROM c12 GROUP BY 1),
        bw AS (SELECT w2, count(*)::BIGINT AS n1p_bw
               FROM c12 GROUP BY 1),
        tot AS (SELECT count(*)::BIGINT AS n1p_all FROM c12)
        SELECT w1, w2, c12, c1, n1p_fw, n1p_bw, n1p_all,
               greatest(c12 - {d}, 0.0) / c1
                 + {d} * n1p_fw / c1 * (n1p_bw / n1p_all) AS pkn
        FROM c12 JOIN c1 USING (w1) JOIN bw USING (w2) CROSS JOIN tot
    """


@query(_q152_oracle_sql)
def q152_kn_bigram_table(spark, sf_dir):
    """Interpolated Kneser-Ney bigram table (operators/lm.
    kn_bigram_table, Kneser & Ney 1995) — the continuation-count
    smoothing of the q61 LM family: c12/c1 totals plus the three
    N1+ continuation statistics, each ONE regroup of the slim bigram
    count frame, and pkn = max(c12-d,0)/c1 + d*N1+(w1,.)/c1 *
    (N1+(.,w2)/N1+(.,.)) as one fixed expression tree over integer
    counts (bit-identical cross-engine — no float accumulates across
    rows).  The oracle re-derives every count and the identical
    probability expression; sum_w2 pkn == 1 is pytest-pinned."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return kn_bigram_table(docs, discount=_Q152_DISCOUNT)


def _q157_oracle_sql(min_count: int = 3, delta: int = 1) -> str:
    """word2phrase twin: the q152 bigram chain (sentinel rows
    excluded), one unigram GROUP BY, and the identical rational
    score folded as HUGEINT and rendered as a plain decimal string."""
    return rf"""
        WITH t AS (
            SELECT doc_id,
                   list_prepend('<s>',
                       string_split_regex(trim(lower(text)), '\s+'))
                       AS tk
            FROM documents),
        bg AS (
            SELECT doc_id,
                   unnest([{{'w1': tk[i], 'w2': tk[i + 1]}}
                           for i in range(1, len(tk))]) AS b
            FROM t WHERE len(tk) >= 2),
        c12 AS (
            SELECT b.w1 AS w1, b.w2 AS w2,
                   CAST(count(*) AS BIGINT) AS c12
            FROM bg WHERE b.w1 <> '<s>' GROUP BY 1, 2
            HAVING count(*) >= {min_count}),
        uni AS (
            SELECT u.t AS t, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split_regex(trim(lower(text)),
                              '\s+')) AS t
                FROM documents) u
            GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni)
        SELECT c12.w1, c12.w2, c12.c12,
               u1.c AS c1, u2.c AS c2, tot.n_tokens,
               ((c12.c12::HUGEINT - {delta}) * tot.n_tokens::HUGEINT)
                   ::VARCHAR AS score_num,
               (u1.c::HUGEINT * u2.c::HUGEINT)::VARCHAR AS score_den
        FROM c12
        JOIN uni u1 ON u1.t = c12.w1
        JOIN uni u2 ON u2.t = c12.w2
        CROSS JOIN tot
    """


@query(_q157_oracle_sql)
def q157_pmi_collocations(spark, sf_dir):
    """Collocation mining (operators/lm.pmi_collocations — the
    word2phrase gate, Mikolov et al. 2013 §4): adjacent-bigram
    phrase scores over the documents corpus as EXACT integer
    rationals score = (c12 - delta) * N / (c1 * c2), emitted as
    (score_num, score_den) strings so the driver hash-matches DuckDB's
    HUGEINT fold against Spark's DECIMAL(38,0) with no float
    contract.  The oracle re-derives bigrams (sentinel excluded),
    unigrams and N with the shared corpus tokenization."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return pmi_collocations(docs, min_count=3, delta=1)
