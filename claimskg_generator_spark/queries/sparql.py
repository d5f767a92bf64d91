"""SPARQL and SPARQL Update queries over the code KG: BGPs, OPTIONAL,
property paths, aggregates, CONSTRUCT/DESCRIBE/ASK, named graphs, dataset
clauses, sub-SELECT, EXISTS, and the update, graph-management and LOAD
requests.
"""

from __future__ import annotations

import hashlib
import os as _os
import tempfile

from pyspark.sql import functions as F

from claimskg_generator_spark.operators import code_kg as ck
from claimskg_generator_spark.operators.bgp import bgp_query
from claimskg_generator_spark.operators.code_kg import (
    code_triples,
    repo_dep_triples,
    repo_dependencies,
)
from claimskg_generator_spark.operators.kg_stats import (
    characteristic_sets,
    charset_apply,
    charset_state,
    charsets_from_state,
)
from claimskg_generator_spark.operators.rdfs import rdfs_entail
from claimskg_generator_spark.operators.sparql import (
    path_closure,
    sparql_ask,
    sparql_construct,
    sparql_describe,
    sparql_select,
)
from claimskg_generator_spark.operators.sparql_update import (
    apply_graph_op,
    apply_request,
    apply_update,
    update_delta,
)
from claimskg_generator_spark.plans.pipeline import with_graph, write_ntriples
from claimskg_generator_spark.queries import query
from claimskg_generator_spark.queries.common import (
    _CODE_FILES_CTE,
    _IMPORT_CASE_SQL,
    _code_files,
    _code_trips_cte,
    _entailed_cte,
    _persist_filled,
    _repo_deps_cte,
    _repo_deps_walk_cte,
)


def _repo_uri(name: str) -> str:
    return "urn:code:repo:" + hashlib.md5(f"repo:{name}".encode()).hexdigest()


def _quads_case_cte() -> str:
    """The q130/q140/q141 publication split as a CTE — repo edges →
    <urn:graph:repos>, language edges → <urn:graph:langs>, the rest
    NULL (default graph)."""
    return f"""
        quads AS (
            SELECT subj, pred, obj,
                   CASE pred
                     WHEN '{ck.P_REPO}' THEN 'urn:graph:repos'
                     WHEN '{ck.P_LANG}' THEN 'urn:graph:langs'
                   END AS graph
            FROM (SELECT DISTINCT subj, pred, obj FROM dtrips))"""


def _q105_oracle_sql() -> str:
    """OPTIONAL = LEFT JOIN, NOT EXISTS = anti-subquery, over the
    shared deduped triple CTE — the relational reading of the q105
    SPARQL shape."""
    r0 = "urn:code:repo:" + hashlib.md5(b"repo:r0").hexdigest()
    return f"""
        WITH {_code_trips_cte()},
        mods AS (
            SELECT t1.subj AS m, t2.obj AS lbl
            FROM dtrips t1
            JOIN dtrips t2 ON t2.subj = t1.subj
                          AND t2.pred = '{ck.RDFS_LABEL}'
            WHERE t1.pred = '{ck.RDF_TYPE}' AND t1.obj = '{ck.T_MODULE}'),
        opt AS (
            SELECT i.obj AS m, i.subj AS f
            FROM dtrips i
            JOIN dtrips l ON l.subj = i.subj
                         AND l.pred = '{ck.P_LANG}' AND l.obj = 'python'
            WHERE i.pred = '{ck.P_IMPORTS}'),
        ne AS (
            SELECT DISTINCT i.obj AS m
            FROM dtrips i
            JOIN dtrips r ON r.subj = i.subj
                         AND r.pred = '{ck.P_REPO}' AND r.obj = '{r0}'
            WHERE i.pred = '{ck.P_IMPORTS}')
        SELECT opt.f AS f, mods.lbl AS lbl, mods.m AS m
        FROM mods LEFT JOIN opt ON opt.m = mods.m
        WHERE NOT EXISTS (SELECT 1 FROM ne WHERE ne.m = mods.m)
    """


@query(_q105_oracle_sql)
def q105_kg_optional_query(spark, sf_dir):
    """OPTIONAL + FILTER-NOT-EXISTS graph query (operators/bgp.bgp_query
    extensions): for every module NOT imported by repo r0, its label
    and — optionally — each python file importing it (non-python
    modules carry NULL f, the SPARQL OPTIONAL semantics; the r0
    exclusion is an anti-join group).  The repo-URI literal is minted
    driver-side with the same md5-URN rule the oracle re-derives."""
    r0 = "urn:code:repo:" + hashlib.md5(b"repo:r0").hexdigest()
    triples = code_triples(_code_files(spark, sf_dir))
    return bgp_query(
        triples,
        [("?m", ck.RDF_TYPE, ck.T_MODULE), ("?m", ck.RDFS_LABEL, "?lbl")],
        optional=[[("?f", ck.P_IMPORTS, "?m"),
                   ("?f", ck.P_LANG, "python")]],
        not_exists=[[("?g", ck.P_IMPORTS, "?m"),
                     ("?g", ck.P_REPO, r0)]],
        select=["?f", "?lbl", "?m"],
    )


def _q106_oracle_sql() -> str:
    """Depth-bounded recursive-CTE twin of path_closure over
    repo_dependencies: the same per-file-deduped import rows, the same
    (n_files DESC, repo ASC) ownership tie-break, a UNION-deduped walk
    bounded at 4 hops, min(hops) per pair == first-visit hop count."""
    return f"""
        WITH RECURSIVE {_CODE_FILES_CTE},
        raw AS (
            SELECT lang, repo, path,
                   unnest(regexp_extract_all(content,
                     {_IMPORT_CASE_SQL}, 1)) AS module
            FROM code),
        imp AS (SELECT DISTINCT lang, repo, path, module FROM raw),
        per AS (SELECT lang, module, repo, count(*) AS n_files
                FROM imp GROUP BY 1, 2, 3),
        own AS (SELECT lang, module, repo AS owner FROM (
                  SELECT lang, module, repo,
                         row_number() OVER (PARTITION BY lang, module
                                            ORDER BY n_files DESC, repo)
                             AS rk
                  FROM per) WHERE rk = 1),
        deps AS (SELECT DISTINCT per.repo AS s, own.owner AS d
                 FROM per JOIN own USING (lang, module)
                 WHERE per.repo <> own.owner),
        walk AS (
            SELECT s, d, 1 AS hops FROM deps
            UNION
            SELECT w.s, e.d, w.hops + 1
            FROM walk w JOIN deps e ON e.s = w.d
            WHERE w.hops < 4)
        SELECT s AS src, d AS dst, min(hops)::INTEGER AS hops
        FROM walk GROUP BY 1, 2
    """


@query(_q106_oracle_sql)
def q106_kg_path_closure(spark, sf_dir):
    """SPARQL property path ``dependsOn+`` (operators/sparql.
    path_closure) over the derived repo dependency graph
    (operators/code_kg.repo_dependencies: repo A dependsOn the repo
    that "owns" a module A imports) — transitive supply-chain
    reachability with minimal hop counts, bounded at 4 hops.
    Semi-naive frontier iteration; the oracle replays it as a
    depth-bounded recursive CTE with the same ownership tie-break."""
    return path_closure(repo_dependencies(_code_files(spark, sf_dir)),
                        max_hops=4)


_Q107_SPARQL = """
    PREFIX code: <http://example.org/code#>
    PREFIX schema: <http://schema.org/>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT DISTINCT ?r ?m ?lbl WHERE {
      ?f code:imports ?m .
      ?m rdfs:label ?lbl .
      ?f schema:programmingLanguage "python" .
      ?f schema:codeRepository ?r .
      FILTER (STRSTARTS(?lbl, "a") || CONTAINS(?lbl, "e"))
    }
    ORDER BY ?r ?m ?lbl
    LIMIT 100
"""


def _q107_oracle_sql() -> str:
    """Relational reading of the q107 SPARQL text: the 4-pattern BGP as
    dtrips self-joins, the FILTER as LIKE predicates, DISTINCT + the
    full-key ORDER BY + LIMIT applied in the same order."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT DISTINCT t4.obj AS r, t1.obj AS m, t2.obj AS lbl
        FROM dtrips t1
        JOIN dtrips t2 ON t2.subj = t1.obj
                      AND t2.pred = '{ck.RDFS_LABEL}'
        JOIN dtrips t3 ON t3.subj = t1.subj
                      AND t3.pred = '{ck.P_LANG}' AND t3.obj = 'python'
        JOIN dtrips t4 ON t4.subj = t1.subj
                      AND t4.pred = '{ck.P_REPO}'
        WHERE t1.pred = '{ck.P_IMPORTS}'
          AND (t2.obj LIKE 'a%' OR t2.obj LIKE '%e%')
        ORDER BY r, m, lbl
        LIMIT 100
    """


@query(_q107_oracle_sql)
def q107_kg_sparql_select(spark, sf_dir):
    """Textual SPARQL SELECT (operators/sparql.sparql_select): the
    parser compiles PREFIX expansion, a 4-pattern BGP, a disjunctive
    FILTER, DISTINCT, a full-key ORDER BY, and LIMIT onto the same
    bgp_query plan q101 uses programmatically — the query face a
    ClaimsKG consumer actually writes (the reference's graph is read
    via SPARQL, reference claimskg/reconciler/__init__.py)."""
    triples = code_triples(_code_files(spark, sf_dir))
    return sparql_select(triples, _Q107_SPARQL)


_Q108_SPARQL = """
    PREFIX schema: <http://schema.org/>
    SELECT ?r (COUNT(?f) AS ?n_files) (COUNT(DISTINCT ?lang) AS ?n_langs)
           (MIN(?p) AS ?first_path)
    WHERE {
      ?f schema:codeRepository ?r .
      ?f schema:programmingLanguage ?lang .
      ?f schema:name ?p
    }
    GROUP BY ?r
"""


def _q108_oracle_sql() -> str:
    """Aggregate-BGP twin: bindings are one row per (file, lang, path)
    — single-valued facts, so COUNT(*) is the file count; COUNT
    DISTINCT / MIN mirror the SPARQL aggregates over the same joins."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT t1.obj AS r, count(*)::BIGINT AS n_files,
               count(DISTINCT t2.obj)::BIGINT AS n_langs,
               min(t3.obj) AS first_path
        FROM dtrips t1
        JOIN dtrips t2 ON t2.subj = t1.subj AND t2.pred = '{ck.P_LANG}'
        JOIN dtrips t3 ON t3.subj = t1.subj AND t3.pred = '{ck.P_PATH}'
        WHERE t1.pred = '{ck.P_REPO}'
        GROUP BY 1
    """


@query(_q108_oracle_sql)
def q108_kg_sparql_agg(spark, sf_dir):
    """SPARQL GROUP BY + aggregates (operators/sparql.sparql_select):
    per-repository file count, language spread, and lexicographic-min
    path computed over BGP bindings — one combinable groupBy after the
    binding join chain; COUNT/COUNT DISTINCT/MIN match the ANSI twin's
    semantics exactly (string-typed min)."""
    triples = code_triples(_code_files(spark, sf_dir))
    return sparql_select(triples, _Q108_SPARQL)


_Q109_SPARQL = """
    PREFIX code: <http://example.org/code#>
    PREFIX schema: <http://schema.org/>
    CONSTRUCT { ?r code:usesModule ?m . ?m code:usedBy ?r }
    WHERE { ?f code:imports ?m . ?f schema:codeRepository ?r }
"""


def _q109_oracle_sql() -> str:
    """CONSTRUCT twin: the shared binding join materialized once as a
    CTE, each template triple one projection of it, set-UNION (an RDF
    graph is a set)."""
    return f"""
        WITH {_code_trips_cte()},
        uses AS (SELECT DISTINCT t2.obj AS r, t1.obj AS m
                 FROM dtrips t1
                 JOIN dtrips t2 ON t2.subj = t1.subj
                               AND t2.pred = '{ck.P_REPO}'
                 WHERE t1.pred = '{ck.P_IMPORTS}')
        SELECT r AS subj, '{ck.CODE}usesModule' AS pred, m AS obj FROM uses
        UNION
        SELECT m, '{ck.CODE}usedBy', r FROM uses
    """


@query(_q109_oracle_sql)
def q109_kg_sparql_construct(spark, sf_dir):
    """SPARQL CONSTRUCT (operators/sparql.sparql_construct): lift the
    file-level import facts to a repo<->module usage graph — both
    template triples project the SAME binding frame (evaluated once),
    union, set-dedup (RDF graphs are sets).  Graph-to-graph
    transformation, the derivation face of the KG."""
    triples = code_triples(_code_files(spark, sf_dir))
    return sparql_construct(triples, _Q109_SPARQL)


def _q110_oracle_sql() -> str:
    """UNION + VALUES twin: the two lang branches as UNION ALL (bag),
    the VALUES block as a derived table joined on the repo URI."""
    r1, r2, r5 = _repo_uri("r1"), _repo_uri("r2"), _repo_uri("r5")
    branch = """
        SELECT i.subj AS f, i.obj AS m
        FROM dtrips i
        JOIN dtrips l ON l.subj = i.subj
                     AND l.pred = '{lang_pred}' AND l.obj = '{lang}'
        WHERE i.pred = '{imports}'"""
    b_go = branch.format(lang_pred=ck.P_LANG, lang="go",
                         imports=ck.P_IMPORTS)
    b_java = branch.format(lang_pred=ck.P_LANG, lang="java",
                           imports=ck.P_IMPORTS)
    return f"""
        WITH {_code_trips_cte()},
        b AS ({b_go} UNION ALL {b_java}),
        v AS (SELECT * FROM (VALUES
                ('{r1}', 'gold'), ('{r2}', 'silver'), ('{r5}', 'gold'))
              AS t(r, tier))
        SELECT rr.obj AS r, b.f AS f, b.m AS m, v.tier AS tier
        FROM b
        JOIN dtrips rr ON rr.subj = b.f AND rr.pred = '{ck.P_REPO}'
        JOIN v ON v.r = rr.obj
    """


@query(_q110_oracle_sql)
def q110_kg_union_values(spark, sf_dir):
    """SPARQL UNION + VALUES (operators/sparql.sparql_select): compiled
    go and java import facts as a two-branch UNION chain (branches bind
    identical variable sets -> plain bag union), inner-joined with the
    repo pattern, then constrained AND extended by a VALUES literal
    relation ((repo, tier) rows — broadcast-joined, binds the new
    ?tier variable).  The oracle replays it as UNION ALL + a VALUES
    derived table."""
    triples = code_triples(_code_files(spark, sf_dir))
    r1, r2, r5 = _repo_uri("r1"), _repo_uri("r2"), _repo_uri("r5")
    return sparql_select(triples, f"""
        PREFIX code: <http://example.org/code#>
        PREFIX schema: <http://schema.org/>
        SELECT ?r ?f ?m ?tier WHERE {{
          ?f schema:codeRepository ?r .
          {{ ?f schema:programmingLanguage "go" . ?f code:imports ?m }}
          UNION
          {{ ?f schema:programmingLanguage "java" . ?f code:imports ?m }}
          VALUES (?r ?tier) {{
            (<{r1}> "gold") (<{r2}> "silver") (<{r5}> "gold")
          }}
        }}
    """)


_Q111_SPARQL = """
    PREFIX code: <http://example.org/code#>
    PREFIX schema: <http://schema.org/>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT DISTINCT ?r ?lbl WHERE {
      ?m ^code:imports ?f .
      ?m rdfs:label ?lbl .
      ?f schema:codeRepository/rdfs:label ?r
    }
    ORDER BY ?r ?lbl
    LIMIT 150
"""


def _q111_oracle_sql() -> str:
    """Path twin: the inverse path is the same imports join read
    backwards; the sequence path is the repo-edge join composed with
    the repo-label join — four dtrips self-joins, DISTINCT, the same
    full-key ORDER + LIMIT."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT DISTINCT rl.obj AS r, ml.obj AS lbl
        FROM dtrips i
        JOIN dtrips ml ON ml.subj = i.obj
                      AND ml.pred = '{ck.RDFS_LABEL}'
        JOIN dtrips rp ON rp.subj = i.subj
                      AND rp.pred = '{ck.P_REPO}'
        JOIN dtrips rl ON rl.subj = rp.obj
                      AND rl.pred = '{ck.RDFS_LABEL}'
        WHERE i.pred = '{ck.P_IMPORTS}'
        ORDER BY r, lbl
        LIMIT 150
    """


@query(_q111_oracle_sql)
def q111_kg_sparql_paths(spark, sf_dir):
    """SPARQL property paths in patterns (operators/sparql.py): the
    inverse path ``^code:imports`` (subject/object swap) and the
    sequence path ``schema:codeRepository/rdfs:label`` (parse-time
    rewrite through a hidden ``?__pv`` variable, projected away) —
    both static rewrites onto the SAME bgp_query join chain, so the
    cost-ordered planner and literal pushdown apply unchanged.  Result:
    (repo label, imported-module label) pairs."""
    triples = code_triples(_code_files(spark, sf_dir))
    return sparql_select(triples, _Q111_SPARQL)


_Q112_SPARQL = """
    PREFIX code: <http://example.org/code#>
    PREFIX schema: <http://schema.org/>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT ?key (COUNT(*) AS ?n) WHERE {
      ?f schema:programmingLanguage ?lg .
      ?f schema:codeRepository/rdfs:label ?r .
      BIND(CONCAT(?lg, "@", ?r) AS ?key)
    }
    GROUP BY ?key
    HAVING(?n >= 3)
    ORDER BY ?key
"""


def _q112_oracle_sql() -> str:
    """BIND/HAVING twin: the computed key is a scalar concat, grouped,
    HAVING after aggregation — single-valued lang/repo facts, so
    COUNT(*) is the per-(lang, repo) file count."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT lg.obj || '@' || rl.obj AS key, count(*)::BIGINT AS n
        FROM dtrips lg
        JOIN dtrips rp ON rp.subj = lg.subj
                      AND rp.pred = '{ck.P_REPO}'
        JOIN dtrips rl ON rl.subj = rp.obj
                      AND rl.pred = '{ck.RDFS_LABEL}'
        WHERE lg.pred = '{ck.P_LANG}'
        GROUP BY 1
        HAVING count(*) >= 3
        ORDER BY key
    """


@query(_q112_oracle_sql)
def q112_kg_sparql_bind_having(spark, sf_dir):
    """SPARQL BIND + HAVING (operators/sparql.py): a computed
    ``lang@repo`` grouping key minted with BIND/CONCAT over the binding
    frame (a narrow withColumn — no extra exchange), grouped, then
    HAVING-filtered on the aggregate alias after the groupBy — exactly
    the aggregate-then-filter order the ANSI twin's HAVING applies."""
    triples = code_triples(_code_files(spark, sf_dir))
    return sparql_select(triples, _Q112_SPARQL)


_Q113_SPARQL = """
    PREFIX code: <http://example.org/code#>
    PREFIX schema: <http://schema.org/>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT DISTINCT ?s ?v WHERE {
      ?s rdfs:label|schema:name ?v .
      MINUS { ?s a code:Module }
    }
"""


def _q113_oracle_sql() -> str:
    """Alternation + MINUS twin: label UNION ALL name (the two-branch
    bag), DISTINCT projection, anti-joined against the typed-Module
    subjects."""
    return f"""
        WITH {_code_trips_cte()},
        b AS (
            SELECT subj AS s, obj AS v FROM dtrips
            WHERE pred = '{ck.RDFS_LABEL}'
            UNION ALL
            SELECT subj, obj FROM dtrips
            WHERE pred = '{ck.P_PATH}')
        SELECT DISTINCT s, v FROM b
        WHERE s NOT IN (SELECT subj FROM dtrips
                        WHERE pred = '{ck.RDF_TYPE}'
                          AND obj = '{ck.T_MODULE}')
    """


@query(_q113_oracle_sql)
def q113_kg_sparql_minus_alt(spark, sf_dir):
    """SPARQL alternation path + MINUS (operators/sparql.py): every
    labeled-or-named node (``rdfs:label|schema:name`` compiles to a
    two-branch UNION chain over the same scan) minus the modules (a
    left-anti join on the shared ?s — SPARQL MINUS with the documented
    SQL NULL semantics).  Result: repo labels and file paths only."""
    triples = code_triples(_code_files(spark, sf_dir))
    return sparql_select(triples, _Q113_SPARQL)


_Q114_SPARQL = """
    PREFIX code: <http://example.org/code#>
    PREFIX schema: <http://schema.org/>
    DESCRIBE ?m WHERE {
      ?f code:imports ?m .
      ?f schema:programmingLanguage "go"
    }
"""


def _q114_oracle_sql() -> str:
    """DESCRIBE twin: the described node set as one DISTINCT
    projection, semi-joined against the triple set on subj."""
    return f"""
        WITH {_code_trips_cte()},
        nodes AS (
            SELECT DISTINCT i.obj AS n
            FROM dtrips i
            JOIN dtrips l ON l.subj = i.subj
                         AND l.pred = '{ck.P_LANG}' AND l.obj = 'go'
            WHERE i.pred = '{ck.P_IMPORTS}')
        SELECT DISTINCT t.subj AS subj, t.pred AS pred, t.obj AS obj
        FROM dtrips t JOIN nodes ON t.subj = nodes.n
    """


@query(_q114_oracle_sql)
def q114_kg_sparql_describe(spark, sf_dir):
    """SPARQL DESCRIBE (operators/sparql.py): the subject-based
    description of every module imported by a go file — the described
    node set is one distinct projection of the bindings, semi-joined
    against the triple table on subj (a slim left-semi, never bindings
    x triples).  Output: the set-deduped (subj, pred, obj) subgraph."""
    triples = code_triples(_code_files(spark, sf_dir))
    return sparql_describe(triples, _Q114_SPARQL)


def _q115_oracle_sql() -> str:
    """ASK twin: EXISTS over the same two-pattern join, one boolean
    row."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT EXISTS (
            SELECT 1
            FROM dtrips i
            JOIN dtrips l ON l.subj = i.subj
                         AND l.pred = '{ck.P_LANG}' AND l.obj = 'python'
            WHERE i.pred = '{ck.P_IMPORTS}') AS ask
    """


@query(_q115_oracle_sql)
def q115_kg_sparql_ask(spark, sf_dir):
    """SPARQL ASK (operators/sparql.py): satisfiability probe — does
    any python file import a module?  Compiles to the binding chain
    capped by limit(1) (LocalLimit early-out: a satisfiable ASK stops
    after the first match) aggregated to ONE boolean row, kept lazy so
    the driver contract (a DataFrame in, collect outside) holds."""
    triples = code_triples(_code_files(spark, sf_dir))
    return sparql_ask(triples, """
        PREFIX code: <http://example.org/code#>
        PREFIX schema: <http://schema.org/>
        ASK { ?f schema:programmingLanguage "python" .
              ?f code:imports ?m }
    """)


_Q118_SPARQL = """
    PREFIX code: <http://example.org/code#>
    PREFIX schema: <http://schema.org/>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT ?r (COUNT(*) AS ?n) WHERE {
      ?f code:dependsOn ?m .
      ?m a code:Dependency .
      ?f schema:codeRepository/rdfs:label ?r
    }
    GROUP BY ?r
    ORDER BY ?r
"""


def _q118_oracle_sql() -> str:
    """Entailed-query twin: the same BGP as etrips self-joins over the
    shared entailment CTE."""
    dependency = ck.CODE + "Dependency"
    depends_on = ck.CODE + "dependsOn"
    return f"""
        WITH RECURSIVE {_entailed_cte()}
        SELECT rl.obj AS r, count(*)::BIGINT AS n
        FROM etrips d
        JOIN etrips t ON t.subj = d.obj
                     AND t.pred = '{ck.RDF_TYPE}'
                     AND t.obj = '{dependency}'
        JOIN etrips rp ON rp.subj = d.subj
                      AND rp.pred = '{ck.P_REPO}'
        JOIN etrips rl ON rl.subj = rp.obj
                      AND rl.pred = '{ck.RDFS_LABEL}'
        WHERE d.pred = '{depends_on}'
        GROUP BY 1
        ORDER BY 1
    """


@query(_q118_oracle_sql)
def q118_kg_entailed_query(spark, sf_dir):
    """Query-time RDFS inference: the SPARQL face composed over the
    LAZY entailed view (sparql_select(rdfs_entail(...))) — the query
    asks for a superproperty (code:dependsOn) and a superclass
    (code:Dependency) with ZERO asserted triples; every match is
    entailment-derived.  Because rdfs_entail returns an unmaterialized
    frame, Catalyst pushes the query's predicate literals through the
    set-dedup and union into each rule branch — onto the tiny broadcast
    schema relations, not the data scan — so inference costs only the
    branches the query touches (verified: the dependsOn filter lands on
    the subPropertyOf dim).  Per-repo dependency-fact counts."""
    triples = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    return sparql_select(rdfs_entail(triples, ck.CODE_ONTOLOGY),
                         _Q118_SPARQL)


_Q124_SPARQL = """
    PREFIX code: <http://example.org/code#>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT ?ulbl (COUNT(*) AS ?n) WHERE {
      ?a code:dependsOnRepo+ ?b .
      ?b rdfs:label ?ulbl
    }
    GROUP BY ?ulbl
    ORDER BY ?ulbl
"""


def _q124_oracle_sql() -> str:
    """SPARQL ``p+`` twin: the depth-8 walk's distinct (s, d) closure
    aggregated per upstream repo — the rdfs:label join is the identity
    on repo names (each repo's label IS its name), so the count per
    label equals the count per closure target."""
    return f"""
        WITH RECURSIVE {_code_trips_cte()},
        {_repo_deps_walk_cte(8)}
        SELECT d AS ulbl, count(*)::BIGINT AS n
        FROM closure GROUP BY d ORDER BY d
    """


@query(_q124_oracle_sql)
def q124_kg_sparql_path(spark, sf_dir):
    """SPARQL in-pattern transitive path (operators/sparql — the
    ``p+`` face): per-repo counts of transitive DOWNSTREAM dependents,
    written as the query a consumer writes (``?a code:dependsOnRepo+
    ?b``) instead of a programmatic closure call.  The pattern compiles
    to path_closure over the predicate's edge sliver (depth bound =
    closure_hops, default 8) joined with the label pattern on the
    shared variable — the text face inherits the same semi-naive
    iteration q106 runs.  The oracle replays the depth-8 walk as a
    recursive CTE and aggregates distinct reachable pairs per upstream
    label."""
    files = _code_files(spark, sf_dir)
    g = code_triples(files).select("subj", "pred", "obj").unionByName(
        repo_dep_triples(files).select("subj", "pred", "obj"))
    return sparql_select(g, _Q124_SPARQL)


_Q129_SPARQL = """
    PREFIX schema: <http://schema.org/>
    SELECT ?r (GROUP_CONCAT(DISTINCT ?lang ; SEPARATOR=",") AS ?langs)
           (SAMPLE(?f) AS ?anyfile) (COUNT(*) AS ?n)
    WHERE {
      ?f schema:codeRepository ?r .
      ?f schema:programmingLanguage ?lang
    }
    GROUP BY ?r
    ORDER BY ?r
"""


def _q129_oracle_sql() -> str:
    """GROUP_CONCAT/SAMPLE twin: the 2-pattern BGP as one self-join,
    the roster as DISTINCT ordered string_agg, the pinned sample as
    min, over the shared dtrips CTE."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT t1.obj AS r,
               string_agg(DISTINCT t2.obj, ',' ORDER BY t2.obj)
                   AS langs,
               min(t1.subj) AS anyfile,
               count(*)::BIGINT AS n
        FROM dtrips t1
        JOIN dtrips t2 ON t2.subj = t1.subj
                      AND t2.pred = '{ck.P_LANG}'
        WHERE t1.pred = '{ck.P_REPO}'
        GROUP BY t1.obj ORDER BY t1.obj
    """


@query(_q129_oracle_sql)
def q129_kg_sparql_group_concat(spark, sf_dir):
    """SPARQL GROUP_CONCAT + SAMPLE aggregates (operators/sparql):
    per-repo sorted DISTINCT language roster, a pinned-minimum SAMPLE
    file, and the file count — the aggregate faces a VoID/endpoint
    consumer uses for entity rosters.  The subset makes both
    deterministic (GROUP_CONCAT always sorts; SAMPLE is the minimum),
    which is exactly what lets the oracle replay them as ordered
    string_agg + min over the same joins."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    return sparql_select(trips, _Q129_SPARQL)


_Q130_SPARQL = """
    PREFIX schema: <http://schema.org/>
    SELECT ?f ?r ?lang ?g WHERE {
      GRAPH ?g { ?f schema:codeRepository ?r }
      GRAPH <urn:graph:langs> { ?f schema:programmingLanguage ?lang }
      ?f a schema:SoftwareSourceCode .
    }
"""


def _q130_oracle_sql() -> str:
    """GRAPH-pattern twin: the same CASE-derived named-graph column
    over the shared dtrips CTE, then the three graph predicates —
    ``t1.graph IS NOT NULL`` (GRAPH ?g over named graphs),
    ``t2.graph = 'urn:graph:langs'`` (GRAPH <iri>), and
    ``t3.graph IS NULL`` (default-graph pattern)."""
    return f"""
        WITH {_code_trips_cte()},
        quads AS (
            SELECT subj, pred, obj,
                   CASE pred
                     WHEN '{ck.P_REPO}' THEN 'urn:graph:repos'
                     WHEN '{ck.P_LANG}' THEN 'urn:graph:langs'
                   END AS graph
            FROM dtrips)
        SELECT t1.subj AS f, t1.obj AS r, t2.obj AS lang,
               t1.graph AS g
        FROM quads t1
        JOIN quads t2 ON t2.subj = t1.subj
        JOIN quads t3 ON t3.subj = t1.subj
        WHERE t1.pred = '{ck.P_REPO}' AND t1.graph IS NOT NULL
          AND t2.pred = '{ck.P_LANG}'
          AND t2.graph = 'urn:graph:langs'
          AND t3.pred = '{ck.RDF_TYPE}'
          AND t3.obj = '{ck.T_SOURCE_FILE}' AND t3.graph IS NULL
    """


@query(_q130_oracle_sql)
def q130_kg_sparql_graph(spark, sf_dir):
    """SPARQL GRAPH named-graph patterns over a QUADS frame
    (operators/sparql + operators/bgp quad patterns; data model =
    plans/pipeline.with_graph / the q129 N-Quads sink: NULL graph ==
    default graph).  The code KG's repo and language edges are
    published into named graphs ('urn:graph:repos' / 'urn:graph:langs')
    with everything else left in the default graph; the query exercises
    all three graph-term forms at once — ``GRAPH ?g`` binds the graph
    name per row (named graphs only, the SPARQL dataset rule),
    ``GRAPH <iri>`` filters one graph's sliver ON THE SCAN, and the
    plain rdf:type pattern matches the DEFAULT graph only.  Each
    pattern stays one filtered scan + equi-join — the graph column is
    just one more pushdown dimension (at 10^12 triples, a
    graph-clustered layout makes it a file-pruning dimension).  The
    oracle replays the same CASE-derived graph column and the same
    graph predicates over a quads CTE."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    quads = with_graph(
        trips,
        F.when(F.col("pred") == ck.P_REPO, F.lit("urn:graph:repos"))
         .when(F.col("pred") == ck.P_LANG, F.lit("urn:graph:langs")))
    return sparql_select(quads, _Q130_SPARQL)


def _q131_oracle_sql() -> str:
    """Star-order twin: the 4-pattern BGP as a plain self-join — the
    charsets argument changes only the join ORDER, so the twin is the
    order-blind relational form."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT t1.subj AS f, t1.obj AS r, t3.obj AS m, t4.obj AS lbl
        FROM dtrips t1
        JOIN dtrips t2 ON t2.subj = t1.subj
        JOIN dtrips t3 ON t3.subj = t1.subj
        JOIN dtrips t4 ON t4.subj = t3.obj
        WHERE t1.pred = '{ck.P_REPO}'
          AND t2.pred = '{ck.P_LANG}' AND t2.obj = 'python'
          AND t3.pred = '{ck.P_IMPORTS}'
          AND t4.pred = '{ck.RDFS_LABEL}'
    """


@query(_q131_oracle_sql)
def q131_kg_bgp_star_order(spark, sf_dir):
    """Characteristic-set star-cardinality join ordering
    (operators/bgp.bgp_query ``charsets=`` — the Neumann & Moerkotte
    ICDE'11 estimator q122 builds, now CONSUMED by the planner): a
    two-star BGP (file star: repo+lang+imports; module star: label)
    evaluated with the greedy order seeded by star-level charset
    estimates instead of per-pattern heuristics.  Correlated predicates
    are exactly what per-predicate independence gets wrong; the charset
    superset-sum bounds each star by subjects that carry ALL its
    predicates.  The charsets dict is collected once per graph version
    (KB-sized — the documented stats-table pattern of q104) and changes
    ONLY the join order, so the driver row pins that the charsets path
    keeps results exact while tests/test_bgp pins the order itself.
    The oracle replays the BGP as a 4-way self-join."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    charsets = {r["predset"]: (r["entities"], r["triples"])
                for r in characteristic_sets(trips, max_set_preds=12)
                .collect()}
    return bgp_query(
        trips,
        [("?f", ck.P_REPO, "?r"), ("?f", ck.P_LANG, "python"),
         ("?f", ck.P_IMPORTS, "?m"), ("?m", ck.RDFS_LABEL, "?lbl")],
        select=["?f", "?r", "?m", "?lbl"],
        charsets=charsets,
    )


_Q133_SPARQL = """
    PREFIX schema: <http://schema.org/>
    PREFIX code: <http://example.org/code#>
    SELECT ?f ?r ?g
    FROM <urn:graph:repos>
    FROM <urn:graph:langs>
    FROM NAMED <urn:graph:sha>
    WHERE {
      ?f schema:codeRepository ?r .
      ?f schema:programmingLanguage "python" .
      GRAPH ?g { ?f code:sha256 ?h }
    }
"""


def _q133_oracle_sql() -> str:
    """FROM/FROM NAMED twin: the merged default graph as a DISTINCT
    CTE over the two FROM slivers, the GRAPH pattern as a join against
    the FROM NAMED sliver."""
    return f"""
        WITH {_code_trips_cte()},
        quads AS (
            SELECT subj, pred, obj,
                   CASE pred
                     WHEN '{ck.P_REPO}' THEN 'urn:graph:repos'
                     WHEN '{ck.P_LANG}' THEN 'urn:graph:langs'
                     WHEN '{ck.P_SHA256}' THEN 'urn:graph:sha'
                   END AS graph
            FROM dtrips),
        dflt AS (
            SELECT DISTINCT subj, pred, obj FROM quads
            WHERE graph IN ('urn:graph:repos', 'urn:graph:langs'))
        SELECT t1.subj AS f, t1.obj AS r, t3.graph AS g
        FROM dflt t1
        JOIN dflt t2 ON t2.subj = t1.subj
        JOIN quads t3 ON t3.subj = t1.subj
        WHERE t1.pred = '{ck.P_REPO}'
          AND t2.pred = '{ck.P_LANG}' AND t2.obj = 'python'
          AND t3.pred = '{ck.P_SHA256}' AND t3.graph = 'urn:graph:sha'
    """


@query(_q133_oracle_sql)
def q133_kg_sparql_from_dataset(spark, sf_dir):
    """SPARQL FROM / FROM NAMED dataset clauses (operators/sparql
    _apply_dataset — SPARQL 1.1 §13.2) over the named-graph code KG:
    the query CONSTRUCTS its dataset from the quads frame — the
    default graph becomes the set-merge of the two FROM graphs (repo
    + language edges), the only named graph GRAPH may range over is
    the FROM NAMED one (content hashes), and everything else —
    including the store's own default graph, where the rdf:type
    triples live — is invisible to the query.  The dataset
    construction is two graph-sliver filters + a set-dedup union
    BEFORE any pattern scan, so at 10^12 triples a graph-clustered
    layout prunes to the referenced graphs' files.  The oracle builds
    the same merged default graph as a DISTINCT CTE and joins the
    named sliver."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    quads = with_graph(
        trips,
        F.when(F.col("pred") == ck.P_REPO, F.lit("urn:graph:repos"))
         .when(F.col("pred") == ck.P_LANG, F.lit("urn:graph:langs"))
         .when(F.col("pred") == ck.P_SHA256, F.lit("urn:graph:sha")))
    return sparql_select(quads, _Q133_SPARQL)


_Q134_SPARQL = """
    PREFIX schema: <http://schema.org/>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT ?r ?lbl ?n WHERE {
      { SELECT ?r (COUNT(*) AS ?n)
        WHERE { ?f schema:codeRepository ?r }
        GROUP BY ?r ORDER BY DESC(?n) ?r LIMIT 10 }
      ?r rdfs:label ?lbl .
    }
"""


def _q134_oracle_sql() -> str:
    """Subquery twin: the same ordered tie-broken LIMIT CTE joined to
    the label sliver."""
    return f"""
        WITH {_code_trips_cte()},
        top AS (
            SELECT obj AS r, count(*)::BIGINT AS n
            FROM dtrips WHERE pred = '{ck.P_REPO}'
            GROUP BY obj ORDER BY n DESC, r LIMIT 10)
        SELECT top.r AS r, t.obj AS lbl, top.n AS n
        FROM top
        JOIN dtrips t ON t.subj = top.r
                     AND t.pred = '{ck.RDFS_LABEL}'
    """


@query(_q134_oracle_sql)
def q134_kg_sparql_subquery(spark, sf_dir):
    """SPARQL sub-SELECT (SPARQL 1.1 §12, operators/sparql
    _select_frame inside _bindings): the top-10 repositories by file
    count — an aggregate + ORDER BY DESC + deterministic ?r tie-break
    + LIMIT inside the subquery — annotated with their labels by the
    OUTER pattern, the "top-k then annotate" idiom subqueries exist
    for.  Evaluated bottom-up: the inner GROUP BY runs over the repo
    sliver, its 10-row frame then joins the label sliver on the
    shared ?r (broadcast-sized by construction — at 10^12 triples the
    LIMIT is what keeps the outer join tiny).  The tie-break makes the
    boundary exact, which is what lets the oracle replay it as an
    ordered LIMIT CTE."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    return sparql_select(trips, _Q134_SPARQL)


_Q135_SPARQL = """
    PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    PREFIX schema: <http://schema.org/>
    PREFIX code: <http://example.org/code#>
    SELECT DISTINCT ?m ?lbl WHERE {
      ?m rdf:type code:Module .
      ?m rdfs:label ?lbl .
      FILTER EXISTS { ?f code:imports ?m .
                      ?f schema:programmingLanguage "python" }
      FILTER NOT EXISTS { ?g code:imports ?m .
                          ?g schema:programmingLanguage "go" }
    }
"""


def _q135_oracle_sql() -> str:
    """FILTER (NOT) EXISTS twin: correlated EXISTS / NOT EXISTS
    subqueries over the import + language slivers."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT DISTINCT t.subj AS m, l.obj AS lbl
        FROM dtrips t
        JOIN dtrips l ON l.subj = t.subj
                     AND l.pred = '{ck.RDFS_LABEL}'
        WHERE t.pred = '{ck.RDF_TYPE}' AND t.obj = '{ck.T_MODULE}'
          AND EXISTS (
            SELECT 1 FROM dtrips i
            JOIN dtrips pl ON pl.subj = i.subj
                          AND pl.pred = '{ck.P_LANG}'
                          AND pl.obj = 'python'
            WHERE i.pred = '{ck.P_IMPORTS}' AND i.obj = t.subj)
          AND NOT EXISTS (
            SELECT 1 FROM dtrips i
            JOIN dtrips gl ON gl.subj = i.subj
                          AND gl.pred = '{ck.P_LANG}'
                          AND gl.obj = 'go'
            WHERE i.pred = '{ck.P_IMPORTS}' AND i.obj = t.subj)
    """


@query(_q135_oracle_sql)
def q135_kg_sparql_exists(spark, sf_dir):
    """SPARQL FILTER EXISTS + NOT EXISTS in one group (operators/
    sparql + operators/bgp exists=): modules imported by at least one
    Python file but by NO Go file — the positive side compiles to a
    LEFT SEMI join on the shared variable (the group's own ?f never
    reaches the output), the negative side to the LEFT ANTI join q105
    pinned; both group frames are predicate slivers, so at 10^12
    triples each filter costs one semi/anti probe of a pushed-down
    sliver, never a full-graph join.  Reference parity: the published
    ClaimsKG's SPARQL endpoint serves EXISTS-style curation queries
    (reference claimskg/reconciler/__init__.py consumes the graph via
    SPARQL)."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    return sparql_select(trips, _Q135_SPARQL)


_Q136_UPDATE = """
    PREFIX schema: <http://schema.org/>
    PREFIX code: <http://example.org/code#>
    DELETE { ?f schema:version ?c }
    INSERT { ?f code:wasVersioned "true" }
    WHERE { ?f schema:version ?c }
"""


def _q136_oracle_sql() -> str:
    """SPARQL UPDATE twin: (G EXCEPT D) UNION I re-derived from first
    principles — G is the 3-column set projection of dtrips, D the
    commit-triple sliver, I one tag triple per file that had a commit
    (UNION is set union, matching the update's ``(G \\ D) ∪ I``)."""
    return f"""
        WITH {_code_trips_cte()},
        g AS (SELECT DISTINCT subj, pred, obj FROM dtrips),
        d AS (SELECT subj, pred, obj FROM g
              WHERE pred = '{ck.P_COMMIT}'),
        i AS (SELECT DISTINCT subj, '{ck.CODE}wasVersioned' AS pred,
                     'true' AS obj
              FROM g WHERE pred = '{ck.P_COMMIT}')
        SELECT subj, pred, obj FROM (
            SELECT * FROM g EXCEPT SELECT * FROM d
            UNION
            SELECT * FROM i)
    """


@query(_q136_oracle_sql)
def q136_kg_sparql_update(spark, sf_dir):
    """SPARQL 1.1 UPDATE (operators/sparql_update.apply_update): one
    modify request — retract every per-file commit triple and tag the
    affected files — applied to the code KG with set semantics
    ``(G \\ D) ∪ I``.  The WHERE group binds ONCE, both templates
    instantiate from that frame (the CONSTRUCT projection shape), and
    the graph algebra is two anti-joins whose right sides are
    bindings-derived broadcast slivers — at 10^12 triples the update
    scans G (twice — the kept subtree feeds both union branches) but
    never shuffles it.  The driver row value-pins the whole
    update semantics: the oracle re-derives (G EXCEPT D) UNION I from
    first principles.  apply_update_to_table commits the same result
    atomically on the snapshot table (pytest-pinned append/overwrite
    paths).  Reference parity: the reference rebuilds its graph per
    release (claimskg/generator/__init__.py one-pass build); this is
    the between-release maintenance face a served KG needs."""
    trips = _persist_filled(
        code_triples(_code_files(spark, sf_dir)).select(
            "subj", "pred", "obj"))
    return apply_update(trips, _Q136_UPDATE)


_Q137_SPARQL = """
    PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    PREFIX code: <http://example.org/code#>
    SELECT ?lbl (COUNT(DISTINCT ?d) AS ?n_reach) WHERE {
      ?r rdf:type code:Repository .
      ?r rdfs:label ?lbl .
      ?r code:dependsOnRepo* ?d .
    }
    GROUP BY ?lbl
"""


def _q137_oracle_sql() -> str:
    """SPARQL ``p*`` twin: the q124 depth-8 recursive walk UNIONed
    with one zero-length self-pair per repo (SPARQL 1.1 §18.4 — every
    term reaches itself; the type+label star restricts the domain to
    repositories, whose label IS the repo name)."""
    return f"""
        WITH RECURSIVE {_code_trips_cte()},
        {_repo_deps_walk_cte(8)},
        repos AS (SELECT DISTINCT repo FROM code),
        reach AS (
            SELECT repo AS r, repo AS d FROM repos
            UNION
            SELECT s, d FROM closure)
        SELECT r AS lbl, count(DISTINCT d)::BIGINT AS n_reach
        FROM reach GROUP BY r
    """


@query(_q137_oracle_sql)
def q137_kg_sparql_star_path(spark, sf_dir):
    """SPARQL ``p*`` zero-or-more path (operators/sparql — SPARQL 1.1
    §18.4 ZeroLengthPath): per-repo reachable-set size over the
    supply-chain closure INCLUDING the repo itself — the
    reach-analysis form where "a repo depends on itself trivially"
    matters (vulnerability blast radius counts the root).  ``p*``
    compiles to q124's semi-naive ``p+`` closure UNIONed with the
    zero-length rows: every graph term reaches itself, so the
    term-domain distinct is the one graph-wide shuffle the zero form
    pays (``p+`` stays sliver-only); the type+label star then
    restricts the zero rows to repository URNs.  The oracle replays
    the same depth-8 walk as a recursive CTE plus one self-pair per
    repo (label == repo name, the q124 identity)."""
    files = _code_files(spark, sf_dir)
    g = _persist_filled(
        code_triples(files).select("subj", "pred", "obj").unionByName(
            repo_dep_triples(files).select("subj", "pred", "obj")))
    return sparql_select(g, _Q137_SPARQL)


def _q138_oracle_sql() -> str:
    """Maintenance-identity twin: q122's characteristic sets computed
    DIRECTLY over the post-update graph (the q136 derivation), never
    seeing the state or the delta."""
    return f"""
        WITH {_code_trips_cte()},
        g AS (SELECT DISTINCT subj, pred, obj FROM dtrips),
        d AS (SELECT subj, pred, obj FROM g
              WHERE pred = '{ck.P_COMMIT}'),
        i AS (SELECT DISTINCT subj, '{ck.CODE}wasVersioned' AS pred,
                     'true' AS obj
              FROM g WHERE pred = '{ck.P_COMMIT}'),
        post AS (
            SELECT * FROM g EXCEPT SELECT * FROM d
            UNION
            SELECT * FROM i),
        per_subj AS (
            SELECT subj,
                   string_agg(DISTINCT pred, ',' ORDER BY pred)
                       AS predset,
                   count(*) AS n
            FROM post GROUP BY subj)
        SELECT predset, count(*)::BIGINT AS entities,
               sum(n)::BIGINT AS triples
        FROM per_subj GROUP BY predset
    """


@query(_q138_oracle_sql)
def q138_kg_charsets_under_update(spark, sf_dir):
    """Incremental characteristic-set maintenance driven by a SPARQL
    UPDATE (operators/sparql_update.update_delta feeding
    operators/kg_stats.charset_apply): the q136 modify request's
    EFFECTIVE delta — deletes ∩ G, inserts ∖ kept, so template no-ops
    never corrupt the additive state — folds into the q132 per-subject
    (subj, pred, n) state, and the summary refreshes from PAIRS, not
    triples.  The DRIVER ROW pins the end-to-end maintenance identity:
    the oracle computes q122's characteristic sets DIRECTLY over the
    post-update graph ``(G EXCEPT D) UNION I``, never seeing the
    state, the delta, or apply_update — a green row proves the update
    face and the incremental-stats face compose (the published
    summary sidecar stays fresh under SPARQL UPDATE without a graph
    rescan)."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    state = charset_state(trips)
    eff_d, eff_i = update_delta(trips, _Q136_UPDATE)
    return charsets_from_state(charset_apply(state, adds=eff_i,
                                             dels=eff_d))


_Q139_REQUEST = """
    PREFIX schema: <http://schema.org/>
    PREFIX code: <http://example.org/code#>
    INSERT { ?f code:wasVersioned "true" }
    WHERE  { ?f schema:version ?c } ;
    DELETE { ?f schema:version ?c }
    WHERE  { ?f code:wasVersioned "true" . ?f schema:version ?c } ;
    INSERT DATA { <urn:code:audit:req1> code:auditedBy "update-request" }
"""


def _q139_oracle_sql() -> str:
    """Update-sequence twin: one CTE per operation, each binding over
    the PREVIOUS operation's graph — g1 adds the wasVersioned tags, d2
    joins g1 (not g0!) so the deletes exist only because op 1 ran, g3
    adds the ground audit triple.  An engine evaluating all WHERE
    groups against g0 would produce g1 ∪ the audit row with no
    deletions — the hash distinguishes them."""
    return f"""
        WITH {_code_trips_cte()},
        g0 AS (SELECT DISTINCT subj, pred, obj FROM dtrips),
        i1 AS (SELECT DISTINCT subj, '{ck.CODE}wasVersioned' AS pred,
                      'true' AS obj
               FROM g0 WHERE pred = '{ck.P_COMMIT}'),
        g1 AS (SELECT * FROM g0 UNION SELECT * FROM i1),
        d2 AS (SELECT t.subj, t.pred, t.obj
               FROM g1 t
               JOIN g1 w ON w.subj = t.subj
                        AND w.pred = '{ck.CODE}wasVersioned'
                        AND w.obj = 'true'
               WHERE t.pred = '{ck.P_COMMIT}'),
        g2 AS (SELECT * FROM g1 EXCEPT SELECT * FROM d2),
        g3 AS (SELECT * FROM g2
               UNION
               SELECT 'urn:code:audit:req1',
                      '{ck.CODE}auditedBy', 'update-request')
        SELECT subj, pred, obj FROM g3
    """


@query(_q139_oracle_sql)
def q139_kg_update_request(spark, sf_dir):
    """SPARQL 1.1 UPDATE request sequence (operators/sparql_update.
    apply_request — §3.1): three ``;``-chained operations applied IN
    ORDER, each binding against the previous operation's result — the
    second operation's WHERE group matches ``code:wasVersioned`` tags
    that only exist because the FIRST operation inserted them, so a
    green row pins sequence semantics (an engine that evaluated all
    WHERE groups against the original graph would delete nothing).
    The fold is one composed lazy plan — intermediate graphs never
    materialize, each step stays the q136 two-broadcast-anti-join
    shape, and apply_request_to_table commits the WHOLE request as ONE
    atomic snapshot (request atomicity: a reader never sees a prefix;
    pytest-pinned).  The oracle chains g0 → g1 → g2 → g3 CTEs, one per
    operation, re-deriving each intermediate graph from first
    principles.  Reference parity: the reference rebuilds per release
    (claimskg/generator/__init__.py); a served KG's maintenance
    endpoint receives multi-operation requests."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    return apply_request(_persist_filled(trips), _Q139_REQUEST,
                         persist=True)


def _pred_case_quads(trips):
    """The q130 publication split: repo edges → <urn:graph:repos>,
    language edges → <urn:graph:langs>, everything else stays in the
    default graph (NULL)."""
    return with_graph(
        trips,
        F.when(F.col("pred") == ck.P_REPO, F.lit("urn:graph:repos"))
         .when(F.col("pred") == ck.P_LANG, F.lit("urn:graph:langs")))


_Q140_REQUEST = """
    ADD GRAPH <urn:graph:langs> TO GRAPH <urn:graph:repos> ;
    MOVE GRAPH <urn:graph:langs> TO GRAPH <urn:graph:backup> ;
    COPY DEFAULT TO GRAPH <urn:graph:snapshot> ;
    CLEAR DEFAULT
"""


def _q140_oracle_sql() -> str:
    """Graph-management twin, closed-form per source graph: after
    ADD langs→repos ; MOVE langs→backup ; COPY DEFAULT→snapshot ;
    CLEAR DEFAULT the final store is repos = old repos ∪ old langs,
    backup = old langs, snapshot = old default, default empty — each
    operation's effect survives into the final state."""
    return f"""
        WITH {_code_trips_cte()},
        {_quads_case_cte()},
        dflt  AS (SELECT subj, pred, obj FROM quads
                  WHERE graph IS NULL),
        repos AS (SELECT subj, pred, obj FROM quads
                  WHERE graph = 'urn:graph:repos'),
        langs AS (SELECT subj, pred, obj FROM quads
                  WHERE graph = 'urn:graph:langs')
        SELECT subj, pred, obj, 'urn:graph:repos' AS graph FROM
            (SELECT * FROM repos UNION SELECT * FROM langs)
        UNION ALL
        SELECT subj, pred, obj, 'urn:graph:backup' FROM langs
        UNION ALL
        SELECT subj, pred, obj, 'urn:graph:snapshot' FROM dflt
    """


@query(_q140_oracle_sql)
def q140_kg_graph_management(spark, sf_dir):
    """SPARQL 1.1 UPDATE graph management (operators/sparql_update.
    apply_graph_op via apply_request — §3.2): ADD / MOVE / COPY /
    CLEAR over the quads publication partition (q130's repo/lang split;
    NULL graph == default).  Every operation is pure quads → quads
    algebra — CLEAR/DROP are filters, COPY/MOVE replace the
    destination wholesale (relabel projection, no join), and ADD is
    the single joining op (anti-join dedup of the relabeled source
    against the destination SLIVER, never the full store) — so at
    10^12 quads a management request is a metadata-scale rewrite of
    the touched graphs only, and the graph column stays a
    file-pruning dimension.  Each operation's effect survives into
    the final state (the oracle derives repos ∪ langs, backup = langs,
    snapshot = old default, default empty — closed-form per source
    graph), so a green row pins all four semantics at once."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    return apply_request(_pred_case_quads(trips), _Q140_REQUEST)


_Q141_UPDATE = """
    PREFIX schema: <http://schema.org/>
    PREFIX code: <http://example.org/code#>
    WITH <urn:graph:langs>
    DELETE { ?f schema:programmingLanguage ?l }
    INSERT { GRAPH <urn:graph:lang-index> { ?l code:taggedFile ?f } .
             ?f code:hadLanguage "true" }
    WHERE  { ?f schema:programmingLanguage ?l }
"""


def _q141_oracle_sql() -> str:
    """GRAPH-scoped-update twin: WHERE binds the language edges inside
    <urn:graph:langs> (the WITH graph), the delete set is exactly
    those quads, and the two insert templates land in
    <urn:graph:lang-index> (the GRAPH wrapper) and the WITH graph —
    the final store re-derived as (quads EXCEPT d) UNION i with a
    genuinely NULL graph column on the untouched default rows."""
    return f"""
        WITH {_code_trips_cte()},
        {_quads_case_cte()},
        b AS (SELECT subj AS f, obj AS l FROM quads
              WHERE pred = '{ck.P_LANG}'
                AND graph = 'urn:graph:langs'),
        d AS (SELECT f AS subj, '{ck.P_LANG}' AS pred, l AS obj,
                     'urn:graph:langs' AS graph
              FROM b),
        i AS (SELECT DISTINCT l AS subj,
                     '{ck.CODE}taggedFile' AS pred, f AS obj,
                     'urn:graph:lang-index' AS graph
              FROM b
              UNION
              SELECT DISTINCT f, '{ck.CODE}hadLanguage', 'true',
                     'urn:graph:langs'
              FROM b)
        SELECT subj, pred, obj, graph FROM (
            SELECT * FROM quads EXCEPT SELECT * FROM d
            UNION
            SELECT * FROM i)
    """


@query(_q141_oracle_sql)
def q141_kg_graph_scoped_update(spark, sf_dir):
    """GRAPH-scoped SPARQL UPDATE (operators/sparql_update.apply_update
    on a QUADS frame — SPARQL 1.1 Update §3.1.3): ``WITH <g>`` makes
    g's rows the WHERE group's default graph AND the target for
    unwrapped template triples, while a ``GRAPH <iri>`` template
    wrapper redirects its triples to another named graph — here the
    language edges are retracted FROM <urn:graph:langs>, an inverted
    (language → file) index is built INTO <urn:graph:lang-index>, and
    the tag triples land in the WITH graph.  The quad-key algebra is
    the q136 two-anti-join shape with the NULL-default-graph sentinel
    join key (coalesce(graph, '') — '' is not a parseable IRI), so
    every anti-join stays a plain broadcast equi-join and the store is
    never shuffled.  Default-graph rows pass through untouched — the
    oracle re-derives the whole per-graph set algebra and carries a
    genuinely-NULL graph column.  This closes the round-4 named gap
    ('named-graph updates would need the quads data model end-to-end')
    — the snapshot-table face (apply_update_to_table on a
    --with-named-graphs table) is pytest-pinned."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    return apply_update(_persist_filled(_pred_case_quads(trips)),
                        _Q141_UPDATE)


_Q142_SPARQL = """
    PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
    PREFIX schema: <http://schema.org/>
    PREFIX code: <http://example.org/code#>
    SELECT ?f ?v WHERE {
      ?f rdf:type schema:SoftwareSourceCode .
      ?f !(rdf:type|schema:version|code:sha256|schema:name) ?v
    }
"""


def _q142_oracle_sql() -> str:
    """Negated-property-set twin: the type star joined to the NOT-IN
    complement scan — bag semantics on both sides (dtrips is the
    deduped set; the (f, v) projection may legitimately repeat when
    two different surviving predicates connect one pair)."""
    return f"""
        WITH {_code_trips_cte()}
        SELECT t2.subj AS f, t2.obj AS v
        FROM dtrips t1
        JOIN dtrips t2 ON t2.subj = t1.subj
        WHERE t1.pred = '{ck.RDF_TYPE}'
          AND t1.obj = '{ck.T_SOURCE_FILE}'
          AND t2.pred NOT IN ('{ck.RDF_TYPE}', '{ck.P_COMMIT}',
                              '{ck.P_SHA256}', '{ck.P_PATH}')
    """


@query(_q142_oracle_sql)
def q142_kg_sparql_negated_pset(spark, sf_dir):
    """SPARQL negated property set (operators/sparql — SPARQL 1.1 §9.1
    PathNegatedPropertySet): ``?f !(rdf:type|version|sha256|name) ?v``
    — every file edge EXCEPT the listed predicates, the idiomatic
    'all properties but the bookkeeping ones' projection a KG browser
    issues.  Compiles to ONE filtered scan of the default graph with
    the NOT-IN predicate set pushed down (at 10^12 triples a
    predicate-clustered layout turns it into file-group pruning of the
    complement), joined on the shared variable like any other pattern
    frame; one solution per matching TRIPLE (bag semantics — no
    distinct inserted, matching §9.1's multiset).  Inverse elements
    inside the set, modifiers on the set, and nested-group placement
    are rejected loudly.  The oracle replays the NOT-IN self-join."""
    trips = code_triples(_code_files(spark, sf_dir)).select(
        "subj", "pred", "obj")
    return sparql_select(trips, _Q142_SPARQL)


def _q143_oracle_sql() -> str:
    """LOAD twin: the quads store UNIONed with the repo-dependency
    triples re-derived closed-form (the q106/q123 ownership tie-break
    + md5 URN minting) at the target graph — the oracle never reads
    the N-Triples document, so a green row proves the serialize →
    parse → relabel round trip loses and invents nothing."""
    return f"""
        WITH {_code_trips_cte()},
        {_quads_case_cte()},
        {_repo_deps_cte()},
        loaded AS (
            SELECT DISTINCT
                   'urn:code:repo:' || md5('repo:' || s) AS subj,
                   '{ck.P_DEPENDS_REPO}' AS pred,
                   'urn:code:repo:' || md5('repo:' || d) AS obj,
                   'urn:graph:deps' AS graph
            FROM deps)
        SELECT subj, pred, obj, graph FROM (
            SELECT * FROM quads
            UNION
            SELECT * FROM loaded)
    """


@query(_q143_oracle_sql)
def q143_kg_sparql_load(spark, sf_dir):
    """SPARQL UPDATE LOAD (operators/sparql_update — SPARQL 1.1
    §3.1.4): the repo-dependency triples are serialized to canonical
    N-Triples (plans/pipeline.write_ntriples) and LOADed back INTO a
    named graph of the quads publication store — the
    federation/ingestion verb that completes the UPDATE surface (a
    partner KG's dump lands in its own named graph).  The document is
    parsed on the DRIVER with the from-scratch Turtle-subset reader
    (sources/turtle.py — the categories-source posture: a SPARQL
    protocol payload is document-sized; bulk ingestion belongs on the
    snapshot table's distributed append path), set-unioned via the
    quad-key anti-join, okind fidelity preserved on sidecar tables.
    A green row pins the WHOLE serialize → escape → parse → relabel
    round trip: the oracle never sees the file — it re-derives the
    dependency triples closed-form (the q106/q123 ownership
    tie-break + md5 URN minting) and unions them at the target
    graph."""
    files = _code_files(spark, sf_dir)
    scratch = "/dev/shm" if _os.access("/dev/shm", _os.W_OK) else None
    nt_dir = tempfile.mkdtemp(prefix="load_q143_", dir=scratch)
    write_ntriples(repo_dep_triples(files), nt_dir)
    quads = _pred_case_quads(
        code_triples(files).select("subj", "pred", "obj"))
    return apply_graph_op(
        quads, f"LOAD <file://{nt_dir}> INTO GRAPH <urn:graph:deps>")


_Q153_SPARQL = """
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    PREFIX code: <http://example.org/code#>
    SELECT ?lbl (COUNT(*) AS ?n_connected) WHERE {
      ?r (code:dependsOnRepo|^code:dependsOnRepo)+ ?b .
      ?r rdfs:label ?lbl
    }
    GROUP BY ?lbl
    ORDER BY ?lbl
"""


def _q153_oracle_sql() -> str:
    """Grouped-path twin: the q124 depth-8 recursive walk over the
    SYMMETRIZED dependency edge set (``(p|^p)+`` == closure of
    edges ∪ reversed edges), distinct pairs counted per source repo —
    the rdfs:label join is the identity on repo names."""
    return f"""
        WITH RECURSIVE {_code_trips_cte()},
        {_repo_deps_cte()},
        und AS (SELECT s, d FROM deps
                UNION
                SELECT d AS s, s AS d FROM deps),
        uwalk AS (
            SELECT s, d, 1 AS hops FROM und
            UNION
            SELECT w.s, e.d, w.hops + 1
            FROM uwalk w JOIN und e ON e.s = w.d
            WHERE w.hops < 8),
        uclo AS (SELECT DISTINCT s, d FROM uwalk)
        SELECT s AS lbl, count(*)::BIGINT AS n_connected
        FROM uclo GROUP BY s ORDER BY s
    """


@query(_q153_oracle_sql)
def q153_kg_sparql_group_path(spark, sf_dir):
    """SPARQL grouped-composite property path (operators/sparql —
    the ``(p|^p)+`` face): per-repo size of the UNDIRECTED
    supply-chain component reachable through dependency edges walked
    in either direction — the blast-radius form where "shares a
    dependency chain with" matters, not direction.  The grouped
    modifier compiles to the same semi-naive :func:`path_closure`
    iteration as ``p+`` (q124), but over a DERIVED step relation
    (_path_step_edges): the alternation unions the predicate sliver
    with its inverse (obj/subj swapped), so the closure walks the
    symmetrized edge set — every repo touching an edge reaches itself
    through edge + inverse (real ``p+`` semantics, counted).  The
    oracle symmetrizes the re-derived deps CTE and replays the same
    depth-8 walk as a recursive CTE, counting distinct pairs per
    repo name (label == repo name, the q124 identity)."""
    files = _code_files(spark, sf_dir)
    g = code_triples(files).select("subj", "pred", "obj").unionByName(
        repo_dep_triples(files).select("subj", "pred", "obj"))
    return sparql_select(g, _Q153_SPARQL)
