"""Claims-pipeline queries: the paper's lift (q21), reconciliation (q23),
the claim-corpus statistics, canonicalization and minting, and the SQL
analogs of the pipeline's join/aggregate operators over TPC-H tables.

DuckDB oracles for the claims-pipeline queries come in two kinds:
 * RELATIONAL (q24, q26): full re-derivation in SQL over the checked-in
   corpus parquet — JSON mention parsing, keyword memo, citation cleaning
   and rating normalization re-expressed with DuckDB primitives plus the
   same broadcast dictionaries (ratings table, source homepages, keyword
   concept spans) the engine uses as INPUT data.
 * GOLDEN (q20, q21, q23): the expected output embedded as VALUES,
   generated by the pure-Python reference-semantics side (oracle.py /
   stdlib uuid5) via scripts/gen_pipeline_goldens.py — NOT by the Spark
   engine (Spark-vs-oracle parity is separately pinned by
   tests/test_pipeline_golden.py and tests/test_uuid5.py).
"""

from __future__ import annotations

import os as _os
import tempfile

from pyspark.sql import functions as F

from claimskg_generator_spark.constants.ratings import (
    RATING_NORMALIZATION_ROWS,
)
from claimskg_generator_spark.constants.sources import SOURCE_URI_DICT
from claimskg_generator_spark.functions.cleaning import IS_VALID_URL_REGEX
from claimskg_generator_spark.functions.uuid5 import uuid5_url_col
from claimskg_generator_spark.operators.canonicalize import (
    canonicalize_claim_mentions,
    salted_surface_counts,
)
from claimskg_generator_spark.operators.keywords import (
    exploded_keywords,
    keyword_concepts,
)
from claimskg_generator_spark.operators.reconcile import reconcile_pairs
from claimskg_generator_spark.operators.shacl import (
    claims_shapes,
    shacl_validate,
)
from claimskg_generator_spark.operators.stats import statistics_table
from claimskg_generator_spark.operators.views import logical_views
from claimskg_generator_spark.plans.pipeline import (
    ClaimsKGPipeline,
    PipelineConfig,
)
from claimskg_generator_spark.queries import query
from claimskg_generator_spark.queries.common import (
    _EMPTY_MENTIONS,
    _above,
    _claims_corpus,
    _corpus_fields_cte,
    _goldens,
    _sq,
    _t,
)
from claimskg_generator_spark.sources.snapshot_table import SnapshotTable


# Python-strip character set (the corpus is ASCII; DuckDB trim() alone only
# strips spaces)
_WS = "(' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))"


def _ratings_dim_values() -> str:
    rows = ", ".join(
        f"('{_sq(src)}', '{_sq(label)}', '{_sq(name)}')"
        for src, label, name in RATING_NORMALIZATION_ROWS
    )
    return f"(SELECT * FROM (VALUES {rows}) AS t(r_source, r_label, r_name))"


def _homepage_dim_values() -> str:
    rows = ", ".join(
        f"('{_sq(k)}', '{_sq(v)}')" for k, v in SOURCE_URI_DICT.items()
    )
    return f"(SELECT * FROM (VALUES {rows}) AS t(h_source, homepage))"


def _kw_dim_values() -> str:
    def arr(spans):
        return ("CAST([" + ",".join(f"'{_sq(s)}'" for s in spans)
                + "] AS VARCHAR[])")

    rows = ", ".join(
        f"('{_sq(kw)}', {arr(th)}, {arr(un)})"
        for kw, th, un in _goldens()["kw_dim"]
    )
    return f"(SELECT * FROM (VALUES {rows}) AS t(d_kw, th_spans, un_spans))"


def _url_regex_sql() -> str:
    return _sq(IS_VALID_URL_REGEX.pattern)


_JUNK_1 = "%20TARGET=prayer>adultery</A>%20was%20made%20public.%20</p>%0A"


@query("""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """)
def q01_pricing_summary(spark, sf_dir):
    l = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (
        l.filter(F.col("l_shipdate") < "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query("""
            SELECT n_name,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """)
def q02_revenue_by_nation(spark, sf_dir):
    c = spark.read.parquet(_t(sf_dir, "customer"))
    o = spark.read.parquet(_t(sf_dir, "orders"))
    n = spark.read.parquet(_t(sf_dir, "nation"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@query("""
            WITH dim(prio, cls) AS (VALUES
                ('1-URGENT', 'CRITICAL'), ('2-HIGH', 'HIGH'),
                ('3-MEDIUM', 'MEDIUM'), ('5-LOW', 'LOW'))
            SELECT coalesce(cls, 'OTHER') AS norm_class, count(*) AS n
            FROM orders LEFT JOIN dim ON o_orderpriority = prio
            GROUP BY 1
        """)
def q03_rating_normalize(spark, sf_dir):
    """J1 analog: broadcast exact-match dimension lookup, miss -> OTHER."""
    o = spark.read.parquet(_t(sf_dir, "orders"))
    dim = spark.createDataFrame(
        [("1-URGENT", "CRITICAL"), ("2-HIGH", "HIGH"),
         ("3-MEDIUM", "MEDIUM"), ("5-LOW", "LOW")],
        "prio string, cls string",
    )
    return (
        o.join(F.broadcast(dim), o.o_orderpriority == dim.prio, "left")
        .groupBy(F.coalesce("cls", F.lit("OTHER")).alias("norm_class"))
        .agg(F.count("*").alias("n"))
    )


@query("""
            SELECT coalesce(source, 'ALL') AS source_grp,
                   count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents
            GROUP BY ROLLUP(source)
        """)
def q04_stats_rollup(spark, sf_dir):
    """A1 analog: per-source + global statistics in one rollup pass."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return (
        d.rollup("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .select(F.coalesce("source", F.lit("ALL")).alias("source_grp"),
                "n_docs", "total_chars", "avg_chars")
    )


@query("""
            WITH triples AS (
                SELECT DISTINCT * FROM (
                    SELECT 'order/' || o_orderkey AS subj, 'hasStatus' AS pred,
                           o_orderstatus AS obj FROM orders
                    UNION ALL
                    SELECT 'order/' || o_orderkey, 'hasPriority', o_orderpriority
                    FROM orders
                    UNION ALL
                    SELECT 'order/' || o_orderkey, 'hasStatus', o_orderstatus
                    FROM orders))
            SELECT pred, count(*) AS n_triples FROM triples GROUP BY pred
        """)
def q05_triple_dedup(spark, sf_dir):
    """A3 analog: triple emission + set-semantics distinct (the union
    deliberately duplicates the status family)."""
    o = spark.read.parquet(_t(sf_dir, "orders"))
    status = o.select(
        F.concat(F.lit("order/"), F.col("o_orderkey").cast("string")).alias("subj"),
        F.lit("hasStatus").alias("pred"),
        F.col("o_orderstatus").alias("obj"),
    )
    prio = o.select(
        F.concat(F.lit("order/"), F.col("o_orderkey").cast("string")).alias("subj"),
        F.lit("hasPriority").alias("pred"),
        F.col("o_orderpriority").alias("obj"),
    )
    triples = status.unionAll(prio).unionAll(status).dropDuplicates()
    return triples.groupBy("pred").agg(F.count("*").alias("n_triples"))


@query("""
            WITH s AS (
                SELECT md5(substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 20)) AS k,
                       doc_id
                FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM s a JOIN s b ON a.k = b.k AND a.doc_id < b.doc_id
        """)
def q06_dup_title_align(spark, sf_dir):
    """J6 analog: equi-self-join on a normalized text prefix key with
    id_a < id_b pair orientation."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    key = F.md5(F.substring(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), 1, 20))
    s = d.select(key.alias("k"), F.col("doc_id"))
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )


@query("""
            WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate::DATE AS d FROM orders)
            SELECT a.o_custkey AS custkey, count(*) AS n_pairs
            FROM o a JOIN o b
              ON a.o_custkey = b.o_custkey
             AND a.o_orderkey < b.o_orderkey
             AND abs(date_diff('day', b.d, a.d)) <= 1
            GROUP BY 1
        """)
def q07_blocked_pairs(spark, sf_dir):
    """J7 analog: blocked self-join (same customer) with a +/-1-day date
    window pushed into the join condition."""
    o = spark.read.parquet(_t(sf_dir, "orders")).select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    a, b = o.alias("a"), o.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.abs(F.datediff(F.col("a.d"), F.col("b.d"))) <= 1),
    )
    return pairs.groupBy(F.col("a.o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_pairs")
    )


def _q20_oracle_sql() -> str:
    rows = ", ".join(
        f"('{_sq(o)}', '{u}')" for o, u in _goldens()["q20"]
    )
    return f"""
        -- golden from Python stdlib uuid.uuid5 (the independent twin of the
        -- JVM column expression); regenerate with
        -- scripts/gen_pipeline_goldens.py
        SELECT ord, doc_uuid
        FROM (VALUES {rows}) AS t(ord, doc_uuid)
    """


@query(_q20_oracle_sql)
def q20_uuid5_mint(spark, sf_dir):
    """P16: pure-JVM uuid5 minting over the corpus content, cross-checked
    against a Python-stdlib-uuid5 golden (DuckDB has no sha1, so this is a
    golden rather than a relational oracle)."""
    corpus = _claims_corpus(spark, sf_dir)
    return corpus.select(
        F.col("path").alias("ord"),
        uuid5_url_col(F.col("content")).alias("doc_uuid"),
    )


def _q21_oracle_sql() -> str:
    rows = ", ".join(
        f"('{_sq(p)}', '{_sq(k)}', {n})" for p, k, n in _goldens()["q21"]
    )
    return f"""
        -- golden derived from the row-at-a-time reference-semantics oracle
        -- (claimskg_generator_spark/oracle.py) over the same deterministic
        -- corpus; regenerate with scripts/gen_pipeline_goldens.py
        SELECT pred, okind, n::BIGINT AS n
        FROM (VALUES {rows}) AS t(pred, okind, n)
    """


@query(_q21_oracle_sql)
def q21_claims_triples(spark, sf_dir):
    corpus = _claims_corpus(spark, sf_dir)
    triples = ClaimsKGPipeline(spark).run(corpus)
    return triples.groupBy("pred", "okind").agg(F.count("*").alias("n"))


def _q23_oracle_sql() -> str:
    rows = ", ".join(
        f"('{_sq(a)}', '{_sq(b)}', {s!r})" for a, b, s in _goldens()["q23"]
    )
    return f"""
        -- golden from oracle.py reconcile() (reference reconciler
        -- semantics), scores quantized HALF_UP to 6 like Spark ROUND;
        -- regenerate with scripts/gen_pipeline_goldens.py
        SELECT cw_a, cw_b, score::DOUBLE AS score
        FROM (VALUES {rows}) AS t(cw_a, cw_b, score)
    """


@query(_q23_oracle_sql)
def q23_claims_reconcile(spark, sf_dir):
    """J7/J8: blocked similarity self-join over the synthesized corpus."""
    corpus = _claims_corpus(spark, sf_dir)
    pipe = ClaimsKGPipeline(spark)
    views = logical_views(pipe.claims(corpus), pipe.config.model_uri, 0.3)
    return reconcile_pairs(views, theta=0.25).select(
        "cw_a", "cw_b", F.round("score", 6).alias("score")
    )


def _q24_oracle_sql() -> str:
    ws = _WS
    x2 = f"trim(x, {ws})"
    cleaned = (
        f"replace(replace(replace(replace(replace(replace(replace({x2}, "
        f"'\\', ''), '{_sq(_JUNK_1)}', ''), '\"', ''), '<img%20src=?', ''), "
        "'>', ''), '</', ''), '<', '')"
    )
    after = f"substr({cleaned}, strpos({cleaned}, '://') + 3)"
    netloc = f"regexp_extract({after}, '^[^/?#]*')"
    path = f"regexp_extract(substr({after}, length({netloc}) + 1), '^[^?#]*')"
    kw_strip = f"trim(lower(m.text), {ws})"
    contains_kw = f"contains({kw_strip}, lower(keyword))"
    span = "m.begin::VARCHAR || ':' || m.\"end\"::VARCHAR"
    processed = "(w.win_ord IS NULL OR k.ord <= w.win_ord)"
    kw_split = ("CASE WHEN contains(tags, ';') THEN string_split(tags, ';') "
                "ELSE string_split(tags, ',') END")
    return f"""
        WITH {_corpus_fields_cte()},
        hp AS {_homepage_dim_values()},
        rdim AS {_ratings_dim_values()},
        kdim AS {_kw_dim_values()},
        cit AS (
            SELECT f.ord, count(*) AS cit_cnt
            FROM f JOIN hp ON hp.h_source = f.source,
                 unnest(string_split(substr(f.links, 1, length(f.links) - 1),
                                     ',')) AS u(x)
            WHERE length(f.links) > 0
              AND length({x2}) > 0
              AND substr({x2}, 1, 1) <> '#'
              AND regexp_matches({x2}, '{_url_regex_sql()}', 'i')
              AND {x2} <> hp.homepage
              AND length({path}) > 0
              AND contains({netloc}, '.')
              AND NOT contains({cleaned}, '<img')
            GROUP BY f.ord),
        kwx AS (
            SELECT ord, trim(x, {ws}) AS keyword, m_kw
            FROM f, unnest({kw_split}) AS u(x)
            WHERE length(tags) > 0),
        kwm AS (
            SELECT ord, keyword,
                len(list_filter(coalesce(m_kw, {_EMPTY_MENTIONS}),
                                m -> {contains_kw})) > 0 AS has_match,
                list_filter(coalesce(m_kw, {_EMPTY_MENTIONS}),
                            m -> {contains_kw}
                            AND TRY_CAST(m.score AS DOUBLE) > 0.3::DOUBLE) AS m_thr
            FROM kwx),
        win AS (SELECT keyword, min(ord) FILTER (WHERE has_match) AS win_ord
                FROM kwm GROUP BY keyword),
        kwc AS (
            SELECT k.ord,
                count(DISTINCT k.keyword) FILTER (WHERE {processed}
                    AND len(d.th_spans) > 0) AS n_kw_thesoz,
                count(DISTINCT k.keyword) FILTER (WHERE {processed}
                    AND len(d.un_spans) > 0) AS n_kw_unesco,
                count(DISTINCT k.keyword) FILTER (WHERE k.ord = w.win_ord
                    AND len(k.m_thr) > 0) AS n_kw_dbpedia,
                count(DISTINCT k.keyword) FILTER (WHERE k.ord = w.win_ord
                    AND len(list_filter(k.m_thr,
                        m -> list_contains(d.th_spans, {span}))) > 0)
                    AS n_kw_thesoz_dbp,
                count(DISTINCT k.keyword) FILTER (WHERE k.ord = w.win_ord
                    AND len(list_filter(k.m_thr,
                        m -> list_contains(d.un_spans, {span}))) > 0)
                    AS n_kw_unesco_dbp
            FROM kwm k LEFT JOIN win w ON k.keyword = w.keyword
                       LEFT JOIN kdim d ON k.keyword = d.d_kw
            GROUP BY k.ord),
        kwin AS (SELECT DISTINCT k.ord, k.keyword, len(k.m_thr) AS me
                 FROM kwm k JOIN win w
                   ON k.keyword = w.keyword AND k.ord = w.win_ord),
        kwe AS (SELECT ord, sum(me) AS kw_ent_cnt FROM kwin GROUP BY ord),
        v AS (
            SELECT f.ord, f.source, f.author,
                len({_above('m_review')}) AS rev_cnt,
                len({_above('m_body')}) AS body_cnt,
                coalesce(e.kw_ent_cnt, 0) AS kw_ent,
                CASE WHEN length(f.tags) > 0 THEN
                    len(list_distinct(list_transform({kw_split},
                                                     x -> trim(x, {ws}))))
                ELSE 0 END AS kw_cnt,
                coalesce(c2.cit_cnt, 0) AS cit_cnt,
                length(f.body) > 0 AS has_body,
                length(f.title) > 0 AS has_headline,
                (length(f.cdate) > 0
                 AND TRY_CAST(f.cdate AS DATE) IS NOT NULL) AS has_date,
                coalesce(r.r_name, 'OTHER') AS norm_name,
                coalesce(k.n_kw_thesoz, 0) AS n_kw_thesoz,
                coalesce(k.n_kw_unesco, 0) AS n_kw_unesco,
                coalesce(k.n_kw_dbpedia, 0) AS n_kw_dbpedia,
                coalesce(k.n_kw_thesoz_dbp, 0) AS n_kw_thesoz_dbp,
                coalesce(k.n_kw_unesco_dbp, 0) AS n_kw_unesco_dbp
            FROM f
            LEFT JOIN kwe e USING (ord)
            LEFT JOIN cit c2 USING (ord)
            LEFT JOIN kwc k ON k.ord = f.ord
            LEFT JOIN rdim r ON r.r_source = lower(f.source)
                 AND r.r_label = replace(translate(trim(lower(f.ralt), {ws}),
                                                   '!:', ''), '-', ' '))
        SELECT coalesce(source, '__global__') AS source_grp,
            count(*) AS claim_reviews,
            sum(CASE WHEN length(author) = 0 THEN 1 ELSE 0 END)::BIGINT
                AS claims_without_author,
            sum(rev_cnt)::DOUBLE / count(*) AS entities_per_review,
            sum(kw_ent + body_cnt)::DOUBLE / count(*) AS entities_per_claim,
            sum(kw_ent + body_cnt + rev_cnt)::BIGINT AS total_entities,
            sum(kw_cnt)::BIGINT AS keywords,
            sum(n_kw_thesoz)::BIGINT AS kw_thesoz,
            sum(n_kw_unesco)::BIGINT AS kw_unesco,
            sum(n_kw_dbpedia)::BIGINT AS kw_dbpedia,
            sum(n_kw_thesoz_dbp)::BIGINT AS kw_thesoz_dbpedia,
            sum(n_kw_unesco_dbp)::BIGINT AS kw_unesco_dbpedia,
            sum(kw_cnt)::DOUBLE / count(*) AS keywords_per_review,
            sum(cit_cnt)::DOUBLE / count(*) AS citations_per_creative_work,
            sum(CASE WHEN has_body THEN 1 ELSE 0 END)::DOUBLE / count(*)
                * 100.0 AS pct_with_text,
            sum(CASE WHEN length(author) > 0 THEN 1 ELSE 0 END)::DOUBLE
                / count(*) * 100.0 AS pct_with_author,
            sum(CASE WHEN has_date THEN 1 ELSE 0 END)::DOUBLE / count(*)
                * 100.0 AS pct_with_date,
            sum(CASE WHEN cit_cnt > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*)
                * 100.0 AS pct_with_citations,
            sum(CASE WHEN kw_ent + body_cnt > 0 THEN 1 ELSE 0 END)::DOUBLE
                / count(*) * 100.0 AS pct_with_entities,
            sum(CASE WHEN has_headline THEN 1 ELSE 0 END)::DOUBLE / count(*)
                * 100.0 AS pct_with_headline,
            sum(CASE WHEN kw_cnt > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*)
                * 100.0 AS pct_with_keywords,
            sum(CASE WHEN rev_cnt > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*)
                * 100.0 AS pct_reviews_with_entities,
            sum(CASE WHEN norm_name = 'TRUE' THEN 1 ELSE 0 END)::BIGINT
                AS true_claims,
            sum(CASE WHEN norm_name = 'FALSE' THEN 1 ELSE 0 END)::BIGINT
                AS false_claims,
            sum(CASE WHEN norm_name = 'MIXTURE' THEN 1 ELSE 0 END)::BIGINT
                AS mixture_claims,
            sum(CASE WHEN norm_name = 'OTHER' THEN 1 ELSE 0 END)::BIGINT
                AS other_claims
        FROM v GROUP BY ROLLUP(source)
    """


@query(_q24_oracle_sql)
def q24_claims_stats(spark, sf_dir):
    """A1: per-source + global statistics rollup over the synthesized
    corpus."""
    corpus = _claims_corpus(spark, sf_dir)
    pipe = ClaimsKGPipeline(spark)
    return statistics_table(
        pipe.claims(corpus), pipe.config.model_uri, pipe.matchers, 0.3
    )


@query("""
            WITH tok AS (
                SELECT doc_id, source,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS surface
                FROM documents),
            per AS (
                SELECT surface, source, count(*) AS n_links
                FROM tok GROUP BY surface, source),
            ranked AS (
                SELECT surface, source, n_links,
                       sum(n_links) OVER (PARTITION BY surface)::BIGINT AS n_mentions,
                       count(*) OVER (PARTITION BY surface) AS n_entities,
                       ROW_NUMBER() OVER (PARTITION BY surface
                           ORDER BY n_links DESC, source DESC) AS rn
                FROM per)
            SELECT surface, n_mentions, n_entities,
                   source AS canonical_entity
            FROM ranked WHERE rn = 1
        """)
def q25_salted_canonicalize(spark, sf_dir):
    """A5: salted two-phase canonicalization aggregate (result identical to
    a plain GROUP BY — the salt only reshapes the shuffle)."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    tokens = d.select(
        "doc_id", "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("surface"),
    )
    return salted_surface_counts(tokens, "surface", "source",
                                 F.col("doc_id"), salt=16)


def _q26_oracle_sql() -> str:
    return f"""
        WITH {_corpus_fields_cte()},
        m AS (
            SELECT lower(mm.text) AS surface,
                   replace(mm.entity, ' ', '_') AS entity_u
            FROM (
                SELECT unnest({_above('m_review')}) AS mm FROM f
                UNION ALL
                SELECT unnest({_above('m_body')}) AS mm FROM f)),
        pe AS (SELECT surface, entity_u, count(*) AS n_links
               FROM m GROUP BY 1, 2),
        r AS (SELECT surface, entity_u, n_links,
                     sum(n_links) OVER (PARTITION BY surface)::BIGINT
                         AS n_mentions,
                     count(*) OVER (PARTITION BY surface) AS n_entities,
                     row_number() OVER (PARTITION BY surface
                         ORDER BY n_links DESC, entity_u DESC) AS rn
              FROM pe)
        SELECT surface, n_mentions, n_entities, entity_u AS canonical_entity
        FROM r WHERE rn = 1
    """


@query(_q26_oracle_sql)
def q26_claims_canonicalize(spark, sf_dir):
    """A5 over the claim corpus mention surface forms (rows-only)."""
    corpus = _claims_corpus(spark, sf_dir)
    pipe = ClaimsKGPipeline(spark)
    return canonicalize_claim_mentions(pipe.claims(corpus), 0.3)


def _q31_oracle_sql() -> str:
    rows = ", ".join(
        f"('{_sq(kw)}', '{_sq(c)}', {b}, {e})"
        for kw, c, b, e in _goldens()["q31"]
    )
    return f"""
        -- golden from the driver-side pure-Python metaphone matcher twin
        -- over the same distinct-keyword universe as kw_dim; regenerate
        -- with scripts/gen_pipeline_goldens.py
        SELECT keyword, concept,
               "begin"::BIGINT AS begin, "end"::BIGINT AS "end"
        FROM (VALUES {rows}) AS t(keyword, concept, "begin", "end")
    """


@query(_q31_oracle_sql)
def q31_metaphone_match(spark, sf_dir):
    """P19: Double Metaphone phonetic thesaurus matching over the claim
    corpus keywords (reference InterDoubleMetaphoneConceptRecognizer,
    intersection_recognizers.py:13 — dead code in the reference generator
    path, implemented for inventory completeness).  Same broadcast-matcher
    plan as the stem path (J3); only the unigram key differs.  DuckDB
    cannot compute Double Metaphone codes, so the oracle embeds a golden
    match dim computed by the driver-side pure-Python matcher twin
    (scripts/gen_pipeline_goldens.py §5; code vectors additionally pinned
    by tests/test_metaphone.py)."""
    corpus = _claims_corpus(spark, sf_dir)
    pipe = ClaimsKGPipeline(spark, PipelineConfig(recognizer="metaphone"))
    ex = exploded_keywords(pipe.claims(corpus), pipe.config.model_uri)
    return (
        keyword_concepts(ex, pipe.matchers)
        .select(
            "keyword",
            F.explode(F.concat("cm.thesoz", "cm.unesco")).alias("c"),
        )
        .select(
            "keyword",
            F.col("c.concept").alias("concept"),
            F.col("c.begin").alias("begin"),
            F.col("c.end").alias("end"),
        )
        .orderBy("keyword", "concept", "begin")
    )


@query("""
            SELECT doc_id, md5(text) AS fp
            FROM documents
            WHERE doc_id >= (SELECT count(*) * 4 // 5 FROM documents)
        """)
def q32_snapshot_table(spark, sf_dir):
    """Snapshot-table round trip (Iceberg-style sink/source,
    sources/snapshot_table.py; north-star 'partitioned Iceberg triple
    tables'): the documents table lands in a snapshot table via TWO
    append commits (even/odd doc_id, range-partitioned files), then the
    top-doc_id slice is read back through a manifest-stats file-skip plus
    the residual filter.  The oracle re-derives the slice directly from
    the documents view — equality proves commits, manifest planning, and
    pruned reads lose and invent nothing."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).select("doc_id", "text")
    n = docs.count()
    scratch = "/dev/shm" if _os.access("/dev/shm", _os.W_OK) else None
    tdir = tempfile.mkdtemp(prefix="snap_q32_", dir=scratch)
    t = SnapshotTable(spark, tdir, stat_cols=["doc_id"])
    t.append(docs.filter("doc_id % 2 = 0").repartitionByRange(4, "doc_id"))
    t.append(docs.filter("doc_id % 2 = 1").repartitionByRange(4, "doc_id"))
    thr = n * 4 // 5
    return (
        t.read(where=("doc_id", ">=", thr))
        .filter(F.col("doc_id") >= thr)
        .select("doc_id", F.md5("text").alias("fp"))
    )


def _q119_oracle_sql() -> str:
    rows = ", ".join(
        f"('{_sq(f)}', '{_sq(sh)}', '{_sq(p)}', '{_sq(c)}', '{_sq(d)}')"
        for f, sh, p, c, d in _goldens()["q119"]
    )
    return f"""
        -- golden from the pure-Python SHACL twin (operators/shacl.
        -- python_validate) over the reference-semantics oracle triples;
        -- regenerate with scripts/gen_pipeline_goldens.py
        SELECT focus, shape, path, "constraint", detail
        FROM (VALUES {rows}) AS t(focus, shape, path, "constraint", detail)
    """


@query(_q119_oracle_sql)
def q119_claims_shacl_report(spark, sf_dir):
    """SHACL-lite validation of the CLAIMS KG (the reference's
    schema.org ClaimReview model): operators/shacl.claims_shapes over
    the full pipeline graph — surfacing, as REPORTED violations, two
    reference quirks the engine reproduces faithfully (claims whose
    dates failed parsing emit no datePublished; the never-match rating
    normalization leaves some Ratings valueless) plus the citation
    fan-out cap.  The golden is computed by the pure-Python SHACL twin
    (shacl.python_validate) over the reference-semantics oracle triples
    (scripts/gen_pipeline_goldens.py) — fully independent of the Spark
    plan."""
    corpus = _claims_corpus(spark, sf_dir)
    triples = ClaimsKGPipeline(spark).run(corpus)
    return shacl_validate(triples, claims_shapes())
