"""Helpers shared by the query families: testdata paths, the checked-in
corpus and goldens, the materialized claim corpus, the code-corpus lift and
the DuckDB CTEs that several families' oracles build on.
"""

from __future__ import annotations

import json as _json
import os as _os

from pyspark.sql import DataFrame, SparkSession

from claimskg_generator_spark.operators import code_kg as ck
from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.rdfs import (
    DOMAIN,
    RANGE,
    RDF_TYPE,
    SUBCLASS,
    SUBPROP,
)
from claimskg_generator_spark.sources.codesynth import code_files
from claimskg_generator_spark.sources.synth import synthesize_corpus


_REPO_DIR = _os.path.dirname(_os.path.dirname(_os.path.dirname(
    _os.path.abspath(__file__))))
# Checked-in corpus parquet: byte-identical to synthesize_corpus()'s rows
# (each row is a pure function of (seed, i); purity pinned by
# tests/test_synth_oracle.py), so DuckDB oracles can compute over the exact
# input the distributed mapInPandas source generates.
_CORPUS_PARQUET = _os.path.join(_REPO_DIR, "golden", "corpus_n500_seed42.parquet")
_GOLDEN_JSON = _os.path.join(_REPO_DIR, "golden", "driver_goldens.json")


def _goldens() -> dict:
    with open(_GOLDEN_JSON) as f:
        return _json.load(f)


def _sq(s: str) -> str:
    """SQL single-quote escape."""
    return s.replace("'", "''")


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _claims_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic claim corpus sized off the documents table.

    Materialized once per (n, seed) as scratch parquet: every row is a
    pure function of (seed, i) (pinned by tests/test_synth_oracle.py), so
    generate-then-read is row-identical to direct generation, and the
    corpus-consuming queries (q21/q23/q31/...) stop paying the per-row
    Python mapInPandas generation repeatedly in one bench/driver run.
    Any scratch failure falls back to direct generation."""
    n_docs = spark.read.parquet(_t(sf_dir, "documents")).count()
    n = max(200, n_docs)
    scratch = _os.environ.get("SPARK_GRAFT_LOCAL_DIR") or (
        "/dev/shm" if _os.access("/dev/shm", _os.W_OK) else None)
    if scratch is None:
        return synthesize_corpus(spark, n, seed=42)
    path = _os.path.join(scratch, f"claimskg_corpus_n{n}_seed42.parquet")
    try:
        if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
            synthesize_corpus(spark, n, seed=42).write.mode(
                "overwrite").parquet(path)
        df = spark.read.parquet(path)
        # a ~15 MB corpus coalesces to 1 scan partition under the default
        # 128 MB maxPartitionBytes; restore the generator's fan-out so the
        # downstream Arrow parse stage keeps its parallelism
        target = max(1, min(max(spark.sparkContext.defaultParallelism, 8),
                            -(-n // 500)))
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
        return df
    except Exception:
        return synthesize_corpus(spark, n, seed=42)


def _persist_filled(df: DataFrame) -> DataFrame:
    """Share + ONE eager fill of a query frame that feeds several plan
    branches (entailment rules, SHACL constraints, update anti-joins,
    closure + re-attach): a lazy cache alone lets the first action's
    concurrent stages race to fill it.  The next query's build releases
    it; at production scale these inputs are materialized tables."""
    df = share(df)
    df.count()
    return df


def _code_files(spark, sf_dir):
    return code_files(spark.read.parquet(_t(sf_dir, "documents")))


_MENTION_STRUCT = (
    '[{"begin":"BIGINT","end":"BIGINT","text":"VARCHAR",'
    '"entity":"VARCHAR","score":"VARCHAR","categories":["VARCHAR"]}]'
)
_EMPTY_MENTIONS = f"json_transform('[]'::JSON, '{_MENTION_STRUCT}')"


def _mp(field: str) -> str:
    """Repair + parse one mention-annotation JSON field (twin of
    functions/cleaning.process_json + sources/claims.repaired_mentions)."""
    raw = f"json_extract_string(j, '$.{field}')"
    repaired = (
        "regexp_replace(regexp_replace(regexp_replace(" + raw +
        ", '\",\"{2}', ',\"', 'g'), '\"\n\t\"', '', 'g'), "
        "'\\}\\]\\[\\]', '}]', 'g')"
    )
    return f"json_transform(TRY_CAST({repaired} AS JSON), '{_MENTION_STRUCT}')"


def _above(col: str) -> str:
    """Above-threshold mention filter (strict >, like the engine)."""
    return (f"list_filter(coalesce({col}, {_EMPTY_MENTIONS}), "
            "m -> TRY_CAST(m.score AS DOUBLE) > 0.3::DOUBLE)")


def _corpus_fields_cte() -> str:
    return f"""
        c AS (SELECT path AS ord, content::JSON AS j
              FROM read_parquet('{_CORPUS_PARQUET}')),
        f AS (SELECT ord,
              json_extract_string(j, '$.claimReview_author_name') AS source,
              coalesce(json_extract_string(j, '$.creativeWork_author_name'), '') AS author,
              coalesce(json_extract_string(j, '$.extra_title'), '') AS title,
              coalesce(json_extract_string(j, '$.extra_body'), '') AS body,
              coalesce(json_extract_string(j, '$.extra_tags'), '') AS tags,
              coalesce(json_extract_string(j, '$.extra_refered_links'), '') AS links,
              coalesce(json_extract_string(j, '$.creativeWork_datePublished'), '') AS cdate,
              coalesce(json_extract_string(j, '$.rating_alternateName'), '') AS ralt,
              {_mp('extra_entities_claimReview_claimReviewed')} AS m_review,
              {_mp('extra_entities_body')} AS m_body,
              {_mp('extra_entities_keywords')} AS m_kw
              FROM c)"""


_MD5_MOD_P = ("((('0x' || substr(md5({x}), 1, 8))::BIGINT % 2147483647) * 2"
              " + ('0x' || substr(md5({x}), 9, 8))::BIGINT % 2147483647)"
              " % 2147483647")

# DuckDB twin of sources/codesynth.code_files: byte-identical content
# derivation (parity pinned by tests/test_code_ops.py), so every
# code-curation oracle (q92-q97) re-derives its metrics from first
# principles rather than trusting the Spark lift.
_CODE_FILES_CTE = r"""
t0 AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
           CASE doc_id % 4 WHEN 0 THEN 'python' WHEN 1 THEN 'js'
                WHEN 2 THEN 'go' ELSE 'java' END AS lang
    FROM documents),
t1 AS (
    SELECT doc_id, lang,
           flatten([
             CASE WHEN doc_id % 13 = 0 THEN
               [CASE WHEN lang='python' THEN '# ' ELSE '// ' END
                || 'Code generated by synthgen. DO NOT EDIT.']
             ELSE []::VARCHAR[] END,
             [CASE WHEN lang='python' THEN '# ' ELSE '// ' END
              || 'doc ' || doc_id],
             list_transform(toks[1:3], w ->
               CASE lang WHEN 'python' THEN 'import ' || w
                    WHEN 'js' THEN 'const ' || w || ' = require('''
                                   || w || ''')'
                    WHEN 'go' THEN 'import "' || w || '"'
                    ELSE 'import com.' || w || ';' END),
             [array_to_string(toks[(i-1)*6+1:(i-1)*6+6], ' ')
              for i in range(1, CAST(ceil(len(toks)/6.0) AS BIGINT)+1)],
             CASE WHEN doc_id % 17 = 0 THEN
               ['blob = "'
                || repeat(substr(md5('h:' || doc_id),1,16), 25) || '"']
             ELSE []::VARCHAR[] END,
             CASE WHEN doc_id % 11 = 3 THEN
               ['aws_key = "AKIA'
                || upper(substr(md5('s:' || doc_id),1,16)) || '"']
             ELSE []::VARCHAR[] END,
             CASE WHEN doc_id % 11 = 7 THEN
               ['token = "ghp_' || substr(md5('g:' || doc_id),1,32)
                 || substr(md5('g:' || doc_id),1,4) || '"']
             ELSE []::VARCHAR[] END
           ]) AS lines
    FROM t0),
code AS (
    SELECT doc_id,
           'r' || (doc_id % 40) AS repo,
           'src/m' || (doc_id % 7) || '/f' || doc_id ||
             CASE lang WHEN 'python' THEN '.py' WHEN 'js' THEN '.js'
                  WHEN 'go' THEN '.go' ELSE '.java' END AS path,
           md5('c:' || doc_id) AS commit,
           lang,
           array_to_string(lines, chr(10)) AS content
    FROM t1)"""

# Lang-dispatched import regex (twin of operators/code.IMPORT_PATTERNS;
# RE2-safe so the identical pattern text runs in both engines).
_IMPORT_CASE_SQL = """CASE lang
                               WHEN 'python' THEN
                                 '(?m)^import ([A-Za-z_][A-Za-z0-9_]*)$'
                               WHEN 'js' THEN
                                 'require\\(''([A-Za-z_][A-Za-z0-9_]*)''\\)'
                               WHEN 'go' THEN
                                 '(?m)^import "([A-Za-z_][A-Za-z0-9_]*)"$'
                               ELSE
                                 '(?m)^import com\\.([A-Za-z_][A-Za-z0-9_]*);$'
                             END"""


def _code_trips_cte(code_rel: str = "code", extra: str = "") -> str:
    """WITH-fragment re-deriving the code-KG triple set (md5-URN
    minting, sha256 content invariant, import edges — 11 UNION ALL
    families) as ``trips`` (bag) and ``dtrips`` (the deduped set),
    shared by the q98 and q101 oracles.  ``code_rel`` names the file
    relation the triples derive from (``extra`` injects its CTE after
    the base corpus — the q120 fork replay)."""
    return f"""{_CODE_FILES_CTE},{extra}
        f AS (
            SELECT doc_id, repo, path, commit, lang, content,
                   'urn:code:file:' || md5('file:' || repo || '/' || path)
                       AS file_uri,
                   'urn:code:repo:' || md5('repo:' || repo) AS repo_uri
            FROM {code_rel}),
        imp AS (
            SELECT DISTINCT lang, file_uri, module,
                   'urn:code:module:'
                     || md5('module:' || lang || ':' || module) AS module_uri
            FROM (
                SELECT lang, file_uri,
                       unnest(regexp_extract_all(content,
                         {_IMPORT_CASE_SQL}, 1)) AS module
                FROM f)),
        trips AS (
            SELECT file_uri AS subj, '{ck.RDF_TYPE}' AS pred,
                   '{ck.T_SOURCE_FILE}' AS obj, 'uri' AS okind FROM f
            UNION ALL
            SELECT file_uri, '{ck.P_REPO}', repo_uri, 'uri' FROM f
            UNION ALL
            SELECT file_uri, '{ck.P_PATH}', path, '' FROM f
            UNION ALL
            SELECT file_uri, '{ck.P_LANG}', lang, '' FROM f
            UNION ALL
            SELECT file_uri, '{ck.P_COMMIT}', commit, '' FROM f
            UNION ALL
            SELECT file_uri, '{ck.P_SHA256}', sha256(content), '' FROM f
            UNION ALL
            SELECT repo_uri, '{ck.RDF_TYPE}', '{ck.T_REPOSITORY}', 'uri'
            FROM f
            UNION ALL
            SELECT repo_uri, '{ck.RDFS_LABEL}', repo, '' FROM f
            UNION ALL
            SELECT file_uri, '{ck.P_IMPORTS}', module_uri, 'uri' FROM imp
            UNION ALL
            SELECT module_uri, '{ck.RDF_TYPE}', '{ck.T_MODULE}', 'uri'
            FROM imp
            UNION ALL
            SELECT module_uri, '{ck.RDFS_LABEL}', module, '' FROM imp),
        dtrips AS (SELECT DISTINCT subj, pred, obj, okind FROM trips)"""


def _entailed_cte() -> str:
    """WITH-fragment (requires WITH RECURSIVE) re-deriving the ρdf
    entailment of the code KG under CODE_ONTOLOGY as ``etrips``: the
    ontology as a VALUES relation, subClassOf/subPropertyOf closed by
    recursive CTEs, domain/range lifted through the closed
    subPropertyOf, then the four rule families as joins over the
    deduped triple set, set-UNIONed — the same stratified one-pass
    fixpoint the operator's docstring derives.  Shared by the q116 and
    q118 oracles."""
    onto_rows = ", ".join(f"('{s}', '{p}', '{o}')"
                          for s, p, o in ck.CODE_ONTOLOGY)
    return f"""{_code_trips_cte()},
        onto(s, p, o) AS (VALUES {onto_rows}),
        sc AS (
            SELECT s AS c, o AS d FROM onto WHERE p = '{SUBCLASS}'
            UNION
            SELECT sc.c, onto.o FROM sc
            JOIN onto ON onto.p = '{SUBCLASS}' AND onto.s = sc.d),
        sp AS (
            SELECT s AS p, o AS q FROM onto WHERE p = '{SUBPROP}'
            UNION
            SELECT sp.p, onto.o FROM sp
            JOIN onto ON onto.p = '{SUBPROP}' AND onto.s = sp.q),
        dom AS (
            SELECT s AS p, o AS c FROM onto WHERE p = '{DOMAIN}'
            UNION
            SELECT sp.p, d.o FROM sp
            JOIN onto d ON d.p = '{DOMAIN}' AND d.s = sp.q),
        rng AS (
            SELECT s AS p, o AS c FROM onto WHERE p = '{RANGE}'
            UNION
            SELECT sp.p, r.o FROM sp
            JOIN onto r ON r.p = '{RANGE}' AND r.s = sp.q),
        base AS (SELECT subj, pred, obj FROM dtrips),
        ent AS (
            SELECT subj, pred, obj FROM base
            UNION
            SELECT b.subj, sp.q, b.obj FROM base b
            JOIN sp ON sp.p = b.pred
            UNION
            SELECT b.subj, '{RDF_TYPE}', dom.c FROM base b
            JOIN dom ON dom.p = b.pred
            UNION
            SELECT b.obj, '{RDF_TYPE}', rng.c FROM base b
            JOIN rng ON rng.p = b.pred),
        etrips AS (
            -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB does
            -- not fully dedup a non-self-referencing UNION-chain CTE
            SELECT DISTINCT subj, pred, obj FROM (
                SELECT subj, pred, obj FROM ent
                UNION ALL
                SELECT e.subj, '{RDF_TYPE}', sc.d FROM ent e
                JOIN sc ON e.pred = '{RDF_TYPE}' AND sc.c = e.obj) u)"""


def _repo_deps_cte() -> str:
    """Re-derived repo dependency edges ``deps(s, d)`` (same ownership
    tie-break as operators/code_kg.repo_dependencies / the q106
    oracle) — composable after _code_trips_cte (CTE names are
    dep-prefixed to avoid its ``imp``)."""
    return f"""
        depraw AS (
            SELECT lang, repo, path,
                   unnest(regexp_extract_all(content,
                     {_IMPORT_CASE_SQL}, 1)) AS module
            FROM code),
        depimp AS (SELECT DISTINCT lang, repo, path, module FROM depraw),
        depper AS (SELECT lang, module, repo, count(*) AS n_files
                   FROM depimp GROUP BY 1, 2, 3),
        depown AS (SELECT lang, module, owner FROM (
                     SELECT lang, module, repo AS owner,
                            row_number() OVER (PARTITION BY lang, module
                                               ORDER BY n_files DESC,
                                                        repo) AS rk
                     FROM depper) WHERE rk = 1),
        deps AS (SELECT DISTINCT depper.repo AS s, depown.owner AS d
                 FROM depper JOIN depown USING (lang, module)
                 WHERE depper.repo <> depown.owner)"""


def _repo_deps_walk_cte(max_hops: int) -> str:
    """``deps`` plus the depth-bounded recursive walk and its distinct
    (s, d) closure.  Requires WITH RECURSIVE on the statement."""
    return f"""{_repo_deps_cte()},
        walk AS (
            SELECT s, d, 1 AS hops FROM deps
            UNION
            SELECT w.s, e.d, w.hops + 1
            FROM walk w JOIN deps e ON e.s = w.d
            WHERE w.hops < {max_hops}),
        closure AS (SELECT DISTINCT s, d FROM walk)"""
