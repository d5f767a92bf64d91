"""Graph queries: connected components, PageRank and its personalized form,
label propagation, triangle counting, k-core peeling, BFS, random and
biased walks, WL refinement, shortest paths, HITS, link prediction and
KG-embedding training pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from claimskg_generator_spark.operators.code_kg import (
    code_triples,
    repo_dependencies,
)
from claimskg_generator_spark.operators.components import (
    bfs_layers,
    biased_random_walks,
    connected_components,
    hits_scores,
    kcore_peel,
    label_propagation,
    neighbor_jaccard,
    pagerank,
    personalized_pagerank,
    random_walks,
    shortest_paths,
    triangle_count,
    wl_colors,
)
from claimskg_generator_spark.operators.kg_embed import kg_train_pairs
from claimskg_generator_spark.operators.similarity import knn_graph
from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline
from claimskg_generator_spark.queries import query
from claimskg_generator_spark.queries.common import (
    _above,
    _claims_corpus,
    _code_files,
    _code_trips_cte,
    _corpus_fields_cte,
    _persist_filled,
    _repo_deps_cte,
    _t,
)


@query("""
            WITH RECURSIVE e AS (
                SELECT user_id * 2 AS src,
                       (json_extract_string(props, '$.k')::BIGINT) * 2 + 1
                           AS dst
                FROM events
                WHERE event_id % 53 = 0 AND props IS NOT NULL
                GROUP BY 1, 2
            ),
            sym AS (SELECT src AS u, dst AS v FROM e
                    UNION SELECT dst, src FROM e),
            -- min-label transitive closure; propagating only labels
            -- strictly below the destination keeps the walk polynomial
            walk(node, label) AS (
                SELECT u, u FROM sym
                UNION
                SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node
                WHERE w.label < s.v
            )
            SELECT node, min(label) AS component FROM walk GROUP BY node
        """)
def q33_connected_components(spark, sf_dir):
    """Distributed connected components (operators/components.py,
    alternating large-star/small-star) over the bipartite user<->item
    graph of the events table: users and the items they touched join one
    component exactly when a chain of shared interactions links them —
    the group-resolution semantics every near-dup pair stream needs.
    The edge set is deterministically sparsified (event_id % 53 = 0) so
    the answer is a non-trivial forest (16 components at sf0.01) rather
    than one giant component.  Node encoding: user u -> 2u, item k ->
    2k+1.  Oracle: DuckDB recursive-CTE min-label transitive closure."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    edges = (
        ev.where((F.col("event_id") % 53 == 0) & F.col("props").isNotNull())
        .select(
            (F.col("user_id") * 2).alias("src"),
            (F.get_json_object("props", "$.k").cast("long") * 2 + 1)
            .alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .distinct()
    )
    return connected_components(edges)


def _q54_oracle_sql() -> str:
    """Co-mention edges re-derived relationally: the same JSON repair +
    parse + strict-threshold filter as the engine, distinct entities per
    claim, unordered pairs via a per-claim self-join."""
    return f"""
        WITH {_corpus_fields_cte()},
        e AS (
            SELECT ord, replace(m.entity, ' ', '_') AS ent
            FROM (SELECT ord, unnest({_above('m_review')}) AS m FROM f)),
        d AS (SELECT DISTINCT ord, ent FROM e)
        SELECT a.ent AS entity_a, b.ent AS entity_b, count(*) AS weight
        FROM d a JOIN d b ON a.ord = b.ord AND a.ent < b.ent
        GROUP BY 1, 2
    """


@query(_q54_oracle_sql)
def q54_comention_graph(spark, sf_dir):
    """Entity co-mention graph over the claim corpus: unordered pairs of
    distinct above-threshold review-mention entities per claim, weighted
    by corpus-wide co-occurrence.  Pairs are generated WITHIN each
    claim's row (collect_set -> sorted array -> nested transform), so
    the only shuffles are the per-claim set aggregate and the final edge
    count — no self-join of the mention table."""
    corpus = _claims_corpus(spark, sf_dir)
    claims = ClaimsKGPipeline(spark).claims(corpus)
    ents = (
        claims.select(F.col("ord"), F.explode("m_review").alias("m"))
        .filter(F.col("m.score").try_cast("double") > 0.3)
        .select(
            "ord",
            F.replace(F.col("m.entity"), F.lit(" "), F.lit("_")).alias("e"),
        )
        .groupBy("ord")
        .agg(F.sort_array(F.collect_set("e")).alias("es"))
        .filter(F.size("es") >= 2)
    )
    pairs = ents.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(es) - 2),"
                " i -> transform(sequence(i + 1, size(es) - 1),"
                "      j -> struct(es[i] AS ea, es[j] AS eb))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.ea").alias("entity_a"),
                      F.col("p.eb").alias("entity_b"))
        .agg(F.count("*").alias("weight"))
    )


def _q55_oracle_sql() -> str:
    """Unrolled 3-iteration PageRank twin over the q54 edge derivation.
    The teleport constant is written (1 - 0.85) so both engines compute
    the identical IEEE double."""
    it = """
        r{K} AS (
            SELECT ed.t AS node,
                   (1 - 0.85) / (SELECT n FROM nn)
                   + 0.85 * sum(r{P}.rank / deg.od) AS rank
            FROM ed JOIN r{P} ON ed.s = r{P}.node
                    JOIN deg ON ed.s = deg.s
            GROUP BY ed.t)"""
    return f"""
        WITH {_corpus_fields_cte()},
        e AS (
            SELECT ord, replace(m.entity, ' ', '_') AS ent
            FROM (SELECT ord, unnest({_above('m_review')}) AS m FROM f)),
        d AS (SELECT DISTINCT ord, ent FROM e),
        p AS (
            SELECT a.ent AS ea, b.ent AS eb
            FROM d a JOIN d b ON a.ord = b.ord AND a.ent < b.ent
            GROUP BY 1, 2),
        ed AS (SELECT ea AS s, eb AS t FROM p
               UNION ALL SELECT eb, ea FROM p),
        deg AS (SELECT s, count(*) AS od FROM ed GROUP BY 1),
        nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
        r0 AS (SELECT s AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
        {it.format(K=1, P=0)},
        {it.format(K=2, P=1)},
        {it.format(K=3, P=2)}
        SELECT node, round(rank, 6) AS rank FROM r3
    """


@query(_q55_oracle_sql)
def q55_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (3 power iterations, d=0.85) over the
    q54 co-mention graph — the iterative-operator family on a real
    derived graph; deterministic, so the oracle is the unrolled SQL
    twin (operators/components.py pagerank)."""
    edges = q54_comention_graph(spark, sf_dir).select(
        F.col("entity_a").alias("src"), F.col("entity_b").alias("dst")
    )
    return pagerank(edges, n_iters=3, damping=0.85)


def _q56_oracle_sql() -> str:
    """Unrolled 2-iteration synchronous LPA twin over the q54 edges."""
    it = """
        l{K} AS (
            SELECT node, label FROM (
                SELECT ed.t AS node, l{P}.label,
                       count(*) AS c,
                       ROW_NUMBER() OVER (
                           PARTITION BY ed.t
                           ORDER BY count(*) DESC, l{P}.label) AS rn
                FROM ed JOIN l{P} ON ed.s = l{P}.node
                GROUP BY ed.t, l{P}.label)
            WHERE rn = 1)"""
    return f"""
        WITH {_corpus_fields_cte()},
        e AS (
            SELECT ord, replace(m.entity, ' ', '_') AS ent
            FROM (SELECT ord, unnest({_above('m_review')}) AS m FROM f)),
        d AS (SELECT DISTINCT ord, ent FROM e),
        p AS (
            SELECT a.ent AS ea, b.ent AS eb
            FROM d a JOIN d b ON a.ord = b.ord AND a.ent < b.ent
            GROUP BY 1, 2),
        ed AS (SELECT ea AS s, eb AS t FROM p
               UNION ALL SELECT eb, ea FROM p),
        l0 AS (SELECT DISTINCT s AS node, s AS label FROM ed),
        {it.format(K=1, P=0)},
        {it.format(K=2, P=1)}
        SELECT node, label FROM l2
    """


@query(_q56_oracle_sql)
def q56_label_propagation(spark, sf_dir):
    """Synchronous min-tie-break label propagation (2 iterations) over
    the q54 co-mention graph — deterministic community detection; the
    oracle is the unrolled SQL twin (operators/components.py)."""
    edges = q54_comention_graph(spark, sf_dir).select(
        F.col("entity_a").alias("src"), F.col("entity_b").alias("dst")
    )
    return label_propagation(edges, n_iters=2)


def _q65_oracle_sql() -> str:
    """Degree-ordered-orientation triangle counting twin over the q54
    edge derivation.  Orientation choice cannot leak into the output
    (each triangle is confirmed exactly once whichever total order both
    endpoints agree on), so there is no cross-engine collation risk —
    the result is pure integers."""
    return f"""
        WITH {_corpus_fields_cte()},
        e AS (
            SELECT ord, replace(m.entity, ' ', '_') AS ent
            FROM (SELECT ord, unnest({_above('m_review')}) AS m FROM f)),
        d AS (SELECT DISTINCT ord, ent FROM e),
        p AS (
            SELECT a.ent AS ea, b.ent AS eb
            FROM d a JOIN d b ON a.ord = b.ord AND a.ent < b.ent
            GROUP BY 1, 2),
        deg AS (
            SELECT v, count(*) AS deg FROM (
                SELECT ea AS v FROM p UNION ALL SELECT eb FROM p)
            GROUP BY 1),
        oe AS (
            SELECT p.ea AS a, p.eb AS b, da.deg AS da, db.deg AS db
            FROM p JOIN deg da ON da.v = p.ea JOIN deg db ON db.v = p.eb),
        fwd AS (
            SELECT CASE WHEN da < db OR (da = db AND a < b)
                        THEN a ELSE b END AS u,
                   CASE WHEN da < db OR (da = db AND a < b)
                        THEN b ELSE a END AS w,
                   CASE WHEN da < db OR (da = db AND a < b)
                        THEN db ELSE da END AS dw
            FROM oe),
        wedge AS (
            SELECT f1.u, f1.w AS w1, f2.w AS w2
            FROM fwd f1 JOIN fwd f2 ON f1.u = f2.u
            WHERE f1.dw < f2.dw OR (f1.dw = f2.dw AND f1.w < f2.w)),
        tri AS (
            SELECT wedge.u, w1, w2
            FROM wedge JOIN fwd ON fwd.u = w1 AND fwd.w = w2),
        tc AS (
            SELECT v, count(*) AS n FROM (
                SELECT u AS v FROM tri UNION ALL SELECT w1 FROM tri
                UNION ALL SELECT w2 FROM tri)
            GROUP BY 1)
        SELECT deg.v AS vertex, deg.deg::BIGINT AS degree,
               coalesce(tc.n, 0)::BIGINT AS n_triangles
        FROM deg LEFT JOIN tc ON tc.v = deg.v
    """


@query(_q65_oracle_sql)
def q65_triangle_count(spark, sf_dir):
    """Per-vertex triangle counting over the q54 co-mention graph via
    degree-ordered orientation (operators/components.triangle_count) —
    clustering density for every entity; all-integer output, so the
    DuckDB twin hash-matches exactly."""
    edges = q54_comention_graph(spark, sf_dir).select(
        F.col("entity_a").alias("src"), F.col("entity_b").alias("dst")
    )
    return triangle_count(edges)


def _q77_oracle_sql() -> str:
    """SQL twin of kcore_peel(knn_graph(k=3), k=4, n_rounds=2): the q11
    rounded-cosine rank builds the edge set, then two unrolled peel
    rounds (degree CTE -> below-k node CTE -> edge filter)."""
    knn, kc, rounds = 3, 4, 2
    sql = f"""
        WITH p AS (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   round(list_cosine_similarity(
                       a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                   AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        r AS (SELECT ia, ib, row_number() OVER (
                  PARTITION BY ia ORDER BY sim DESC, ib) AS rn
              FROM p),
        e0 AS (SELECT DISTINCT least(ia, ib) AS u, greatest(ia, ib) AS v
               FROM r WHERE rn <= {knn})"""
    for i in range(rounds):
        sql += f""",
        d{i} AS (SELECT node, count(*) AS deg FROM (
                     SELECT u AS node FROM e{i}
                     UNION ALL SELECT v FROM e{i}) GROUP BY node),
        b{i} AS (SELECT node FROM d{i} WHERE deg < {kc}),
        e{i + 1} AS (SELECT u, v FROM e{i}
                     WHERE u NOT IN (SELECT node FROM b{i})
                       AND v NOT IN (SELECT node FROM b{i}))"""
    sql += f"""
        SELECT node, count(*)::BIGINT AS degree FROM (
            SELECT u AS node FROM e{rounds}
            UNION ALL SELECT v FROM e{rounds}) GROUP BY node
    """
    return sql


@query(_q77_oracle_sql)
def q77_kcore_peel(spark, sf_dir):
    """k-core density filter over the 3-NN cosine graph: peel nodes of
    degree < 4 for 2 fixed rounds (operators/components.kcore_peel —
    per-round degree groupBy + anti joins, lineage-truncated; the q55
    fixed-iteration pattern makes it SQL-unrollable).  The graph comes
    from the brute-force knn_graph baseline here; at 100 TB the edge
    list comes from the LSH candidate operators instead."""
    e = spark.read.parquet(_t(sf_dir, "embeddings"))
    return kcore_peel(knn_graph(e, k=3), k=4, n_rounds=2)


def _q83_oracle_sql() -> str:
    """SQL twin of bfs_layers(knn_graph(k=3), seeds=%97, n_rounds=3):
    the q77 kNN edge CTE, symmetrized, walked by a depth-bounded
    recursive CTE; min(dist) per node == BFS first-visit distance."""
    knn, depth = 3, 3
    return f"""
        WITH RECURSIVE p AS (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   round(list_cosine_similarity(
                       a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                   AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        r AS (SELECT ia, ib, row_number() OVER (
                  PARTITION BY ia ORDER BY sim DESC, ib) AS rn
              FROM p),
        e0 AS (SELECT DISTINCT least(ia, ib) AS u, greatest(ia, ib) AS v
               FROM r WHERE rn <= {knn}),
        e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        walk AS (
            SELECT vec_id AS node, 0 AS dist FROM embeddings
            WHERE vec_id % 97 = 0
            UNION
            SELECT e.v, walk.dist + 1 FROM walk
            JOIN e ON walk.node = e.u WHERE walk.dist < {depth}),
        d AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node)
        SELECT node, dist::INTEGER AS dist FROM d
    """


@query(_q83_oracle_sql)
def q83_bfs_layers(spark, sf_dir):
    """Multi-source BFS over the 3-NN cosine graph: hop distance from
    the %97 seed vectors, fixed 3 rounds (operators/components
    bfs_layers — frontier join + anti-join per round, replayable by a
    bounded recursive CTE)."""
    e = spark.read.parquet(_t(sf_dir, "embeddings"))
    seeds = (e.filter(F.col("vec_id") % 97 == 0)
             .select(F.col("vec_id").alias("node")))
    return bfs_layers(knn_graph(e, k=3), seeds, n_rounds=3)


def _q128_oracle_sql(walk_length: int = 4, num_walks: int = 2,
                     seed: str = "kg") -> str:
    """random_walks twin: the dst-ranked neighbor dim + out-degrees
    rebuilt with window functions, then walk_length-1 UNROLLED step
    CTEs each left-joining the ranked dim on the identical
    md5-hex-to-BIGINT pick (60-bit positive slice, so `%` agrees
    across engines) — dead walks carry done=TRUE and stop
    appending."""
    widx_rows = ", ".join(f"({i})" for i in range(num_walks))
    steps = []
    prev = "w0"
    for step in range(1, walk_length):
        cur = f"w{step}"
        steps.append(f"""
        {cur} AS (
            SELECT w.start, w.widx,
                   coalesce(r.v, w.cur) AS cur,
                   CASE WHEN r.v IS NULL THEN w.walk
                        ELSE w.walk || ' ' || r.v END AS walk,
                   w.n_nodes + (r.v IS NOT NULL)::INT AS n_nodes,
                   (w.done OR r.v IS NULL) AS done
            FROM {prev} w LEFT JOIN ranked r
              ON NOT w.done AND r.u = w.cur
             AND r.rk = ('0x' || substr(md5('{seed}:' || w.start
                         || ':' || w.widx || ':{step}'), 1, 15))::BIGINT
                         % r.deg + 1)""")
        prev = cur
    return f"""
        WITH {_code_trips_cte()},
        {_repo_deps_cte()},
        ranked AS (
            SELECT s AS u, d AS v,
                   row_number() OVER (PARTITION BY s ORDER BY d) AS rk,
                   count(*) OVER (PARTITION BY s) AS deg
            FROM deps),
        nodes AS (SELECT DISTINCT u AS start FROM ranked
                  UNION SELECT DISTINCT v FROM ranked),
        w0 AS (
            SELECT start, widx, start AS cur, start AS walk,
                   1 AS n_nodes, FALSE AS done
            FROM nodes CROSS JOIN (VALUES {widx_rows}) wi(widx))
        {"," + ",".join(steps) if steps else ""}
        SELECT start, widx::INTEGER AS walk_idx, walk,
               n_nodes::INTEGER AS n_nodes
        FROM {prev}
    """


@query(_q128_oracle_sql)
def q128_kg_random_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus (operators/components.
    random_walks) over the repo supply-chain graph: from every node,
    2 walks of up to 4 nodes, the next hop picked by
    md5(seed:start:walk_idx:step) mod out-degree over the
    dst-ranked neighbor list — graph-to-sentence training data whose
    "randomness" is a pure function of the walk identity
    (retry-stable, engine-replayable; sink nodes end walks early, the
    DeepWalk convention).  walk_length-1 equi-joins on the current
    node against the persisted ranked-neighbor dim.  The oracle
    unrolls the same 3 steps in SQL with the identical md5-hex pick
    arithmetic."""
    deps = repo_dependencies(_code_files(spark, sf_dir))
    return random_walks(deps, walk_length=4, num_walks=2, seed="kg")


def _q146_oracle_sql(walk_length: int = 3, num_walks: int = 2,
                     seed: str = "n2v", w_return: int = 1,
                     w_inward: int = 4, w_outward: int = 2) -> str:
    """biased_random_walks twin: step 1 is q128's uniform ranked-dim
    pick (plus the prev carry); each later step unrolls the candidate
    fan-out (LEFT JOIN ranked on cur), the prev-neighbor probe (LEFT
    JOIN ranked again on (prev, v)), the CASE class weights, the
    window cumsum/total, and the exact integer mod pick — all 64-bit
    arithmetic, so the replay is bit-for-bit."""
    widx_rows = ", ".join(f"({i})" for i in range(num_walks))
    steps = []
    for step in range(1, walk_length):
        h = (f"('0x' || substr(md5('{seed}:' || w.start || ':' || "
             f"w.widx || ':{step}'), 1, 15))::BIGINT")
        if step == 1:
            steps.append(f"""
        w1 AS (
            SELECT w.start, w.widx,
                   w.cur AS prev,
                   coalesce(r.v, w.cur) AS cur,
                   CASE WHEN r.v IS NULL THEN w.walk
                        ELSE w.walk || ' ' || r.v END AS walk,
                   w.n_nodes + (r.v IS NOT NULL)::INT AS n_nodes,
                   (w.done OR r.v IS NULL) AS done
            FROM w0 w LEFT JOIN ranked r
              ON NOT w.done AND r.u = w.cur
             AND r.rk = {h} % r.deg + 1)""")
        else:
            steps.append(f"""
        c{step} AS (
            SELECT w.start, w.widx, w.prev, w.cur, w.walk, w.n_nodes,
                   w.done, r.u, r.v, r.rk,
                   CASE WHEN r.u IS NULL THEN NULL
                        WHEN r.v = w.prev THEN {w_return}
                        WHEN pe.u IS NOT NULL THEN {w_inward}
                        ELSE {w_outward} END AS wt
            FROM w{step - 1} w
            LEFT JOIN ranked r ON NOT w.done AND r.u = w.cur
            LEFT JOIN ranked pe ON pe.u = w.prev AND pe.v = r.v),
        s{step} AS (
            SELECT *,
                   sum(wt) OVER (PARTITION BY start, widx
                                 ORDER BY rk) AS cum,
                   sum(wt) OVER (PARTITION BY start, widx) AS tot
            FROM c{step}),
        w{step} AS (
            SELECT w.start, w.widx,
                   w.cur AS prev,
                   coalesce(w.v, w.cur) AS cur,
                   CASE WHEN w.v IS NULL THEN w.walk
                        ELSE w.walk || ' ' || w.v END AS walk,
                   w.n_nodes + (w.v IS NOT NULL)::INT AS n_nodes,
                   (w.done OR w.v IS NULL) AS done
            FROM s{step} w
            WHERE w.u IS NULL
               OR (w.cum - w.wt <= {h} % w.tot
                   AND {h} % w.tot < w.cum))""")
    return f"""
        WITH {_code_trips_cte()},
        {_repo_deps_cte()},
        ranked AS (
            SELECT s AS u, d AS v,
                   row_number() OVER (PARTITION BY s ORDER BY d) AS rk,
                   count(*) OVER (PARTITION BY s) AS deg
            FROM deps),
        nodes AS (SELECT DISTINCT u AS start FROM ranked
                  UNION SELECT DISTINCT v FROM ranked),
        w0 AS (
            SELECT start, widx, NULL AS prev, start AS cur,
                   start AS walk, 1 AS n_nodes, FALSE AS done
            FROM nodes CROSS JOIN (VALUES {widx_rows}) wi(widx))
        {"," + ",".join(steps) if steps else ""}
        SELECT start, widx::INTEGER AS walk_idx, walk,
               n_nodes::INTEGER AS n_nodes
        FROM w{walk_length - 1}
    """


@query(_q146_oracle_sql)
def q146_kg_biased_walks(spark, sf_dir):
    """node2vec-style second-order biased walks (operators/components.
    biased_random_walks, Grover & Leskovec KDD'16) over the repo
    supply-chain graph: 2 walks of up to 3 nodes per node — hop 1
    uniform (md5 mod out-degree, no prev yet), hop 2 biased by the
    return/in/out class of each candidate GIVEN the previous node
    (w_return=1, w_inward=4, w_outward=2 — integer weights, so the
    cumulative-range pick r = md5_60bit mod total_weight is exact
    64-bit arithmetic, engine-replayable with no float-summation
    contract).  The in/out classification is a probe join against the
    edge dim ("is the candidate a neighbor of prev"); the pick is one
    window pass per step keyed by the walk id.  The oracle unrolls
    both steps with the identical candidate fan-out, CASE weights,
    window cumsum, and mod pick."""
    deps = repo_dependencies(_code_files(spark, sf_dir))
    return biased_random_walks(deps, walk_length=3, num_walks=2,
                               w_return=1, w_inward=4, w_outward=2,
                               seed="n2v")


def _q154_oracle_sql(k: int = 2, seed: str = "transe",
                     n_buckets: int = 1024) -> str:
    """TransE-corruption twin: the q147 vocabulary-index replay
    (row_number over (md5-bucket, entity)) applied to the entity set
    of the code KG's uri-object triples, the side/entity draws as the
    identical 60-bit md5 mod expressions, and the filtered protocol
    as NOT EXISTS against the positive set."""
    slot_rows = ", ".join(f"({i})" for i in range(k))
    b = f"('0x' || substr(md5(token), 1, 15))::BIGINT % {n_buckets}"
    ident = "subj || ':' || pred || ':' || obj || ':' || slot"
    return f"""
        WITH {_code_trips_cte()},
        g AS (SELECT subj, pred, obj FROM dtrips WHERE okind = 'uri'),
        ent AS (SELECT DISTINCT token FROM (
                    SELECT subj AS token FROM g
                    UNION ALL SELECT obj FROM g)),
        voc AS (
            SELECT token,
                   row_number() OVER (ORDER BY {b}, token) AS idx
            FROM ent),
        vt AS (SELECT max(idx) AS e FROM voc),
        sl AS (SELECT g.*, s.slot
               FROM g CROSS JOIN (VALUES {slot_rows}) s(slot)),
        pk AS (
            SELECT sl.*,
                   ('0x' || substr(md5('{seed}:side:' || {ident}),
                     1, 15))::BIGINT % 2 AS side_bit,
                   ('0x' || substr(md5('{seed}:ent:' || {ident}),
                     1, 15))::BIGINT % e + 1 AS pick
            FROM sl CROSS JOIN vt),
        neg AS (
            SELECT pk.subj, pk.pred, pk.obj, pk.slot,
                   CASE WHEN side_bit = 0 THEN 'head' ELSE 'tail' END
                       AS side,
                   CASE WHEN side_bit = 0 THEN voc.token
                        ELSE pk.subj END AS neg_subj,
                   CASE WHEN side_bit = 0 THEN pk.obj
                        ELSE voc.token END AS neg_obj
            FROM pk JOIN voc ON voc.idx = pk.pick)
        SELECT subj, pred, obj, slot, side, neg_subj, neg_obj
        FROM neg n
        WHERE NOT EXISTS (SELECT 1 FROM g t
                          WHERE t.subj = n.neg_subj
                            AND t.pred = n.pred
                            AND t.obj = n.neg_obj)
    """


@query(_q154_oracle_sql)
def q154_kg_train_pairs(spark, sf_dir):
    """TransE-style KG-embedding training pairs (operators/kg_embed):
    every entity-entity triple of the code KG paired with k=2
    corrupted negatives under the FILTERED protocol (Bordes et al.
    2013 "filt." — corrupted triples that are true in the graph are
    dropped, self-collisions included).  The corrupted side and the
    replacement entity are pure md5 functions of the (triple, slot)
    identity over the ranked_vocab dense entity index, so the oracle
    replays the corpus bit-for-bit: the same row_number() OVER
    (md5-bucket, entity) index, the same 60-bit md5 mod draws, and a
    NOT EXISTS for the filter."""
    files = _code_files(spark, sf_dir)
    g = _persist_filled(
        code_triples(files).where(F.col("okind") == "uri")
        .select("subj", "pred", "obj"))
    return kg_train_pairs(g, k=2, seed="transe", filtered=True)


def _q155_oracle_sql(n_iters: int = 2) -> str:
    """WL-refinement twin: each round unrolled as message / ordered
    string_agg / rehash CTEs — md5 over byte-identical canonical
    strings, so the role histogram matches exactly."""
    rounds = []
    for i in range(1, n_iters + 1):
        p = i - 1
        rounds.append(f"""
        m{i} AS (
            SELECT e.subj AS node,
                   'o:' || e.pred || ':' || c.color AS msg
            FROM g e JOIN c{p} c ON c.node = e.obj
            UNION ALL
            SELECT e.obj, 'i:' || e.pred || ':' || c.color
            FROM g e JOIN c{p} c ON c.node = e.subj),
        a{i} AS (SELECT node, string_agg(msg, ',' ORDER BY msg) AS m
                 FROM m{i} GROUP BY node),
        c{i} AS (
            SELECT c{p}.node,
                   md5(c{p}.color || '#' || coalesce(a{i}.m, ''))
                       AS color
            FROM c{p} LEFT JOIN a{i} ON a{i}.node = c{p}.node)""")
    return f"""
        WITH {_code_trips_cte()},
        g AS (SELECT subj, pred, obj FROM dtrips WHERE okind = 'uri'),
        n0 AS (SELECT DISTINCT node FROM (
                   SELECT subj AS node FROM g
                   UNION ALL SELECT obj FROM g)),
        c0 AS (SELECT node, md5('') AS color FROM n0),
        {",".join(rounds)}
        SELECT color, count(*)::BIGINT AS n_nodes
        FROM c{n_iters} GROUP BY color ORDER BY color
    """


@query(_q155_oracle_sql)
def q155_kg_wl_roles(spark, sf_dir):
    """Weisfeiler-Leman structural-role refinement
    (operators/components.wl_colors): the code KG's entity-entity
    triples colored by 2 rounds of predicate-labeled WL hashing —
    every node starts identical (md5('')) and is rehashed with the
    SORTED multiset of its direction:predicate:neighbor-color
    messages, so equal colors == equal 2-hop neighborhood structure
    (role ids / canonical labels / graph-kernel features).  Output is
    the role histogram.  The oracle unrolls both rounds as CTEs with
    ordered string_agg over the identical message strings — md5
    byte-parity end to end."""
    files = _code_files(spark, sf_dir)
    g = (code_triples(files).where(F.col("okind") == "uri")
         .select("subj", "pred", "obj"))
    return (wl_colors(g, n_iters=2)
            .groupBy("color").agg(F.count("*").alias("n_nodes"))
            .orderBy("color"))


def _q156_oracle_sql(n_rounds: int = 4) -> str:
    """Bellman-Ford twin: min over the hop-bounded weighted walk from
    every root repo (no incoming dependency edge), edge costs the
    identical 1 + md5-60bit(src:dst) mod 9."""
    return f"""
        WITH RECURSIVE {_code_trips_cte()},
        {_repo_deps_cte()},
        we AS (SELECT s, d,
                      1 + ('0x' || substr(md5(s || ':' || d), 1, 15))
                          ::BIGINT % 9 AS w
               FROM deps),
        s0 AS (SELECT DISTINCT s AS node FROM deps
               WHERE s NOT IN (SELECT d FROM deps)),
        walk AS (
            SELECT node, 0::BIGINT AS dist, 0 AS hops FROM s0
            UNION
            SELECT e.d, w.dist + e.w, w.hops + 1
            FROM walk w JOIN we e ON e.s = w.node
            WHERE w.hops < {n_rounds})
        SELECT node, min(dist)::BIGINT AS dist
        FROM walk GROUP BY node ORDER BY node
    """


@query(_q156_oracle_sql)
def q156_kg_shortest_paths(spark, sf_dir):
    """Weighted shortest paths over the repo supply chain
    (operators/components.shortest_paths — frontier-only
    Bellman-Ford): minimal path COST from any ROOT repo (no incoming
    dependency edge) through the dependency graph, edge costs a
    deterministic 1..9 md5 function of the edge identity (the
    random_walks discipline: "randomness" as a pure function, so the
    oracle replays it).  n_rounds=4 pins the depth — after k rounds
    dist is EXACTLY min over <= k-edge paths, which the oracle
    replays as a hop-bounded recursive-CTE walk folded with min()."""
    files = _code_files(spark, sf_dir)
    deps = repo_dependencies(files)
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", "src", "dst")), 1, 15), 16, 10
    ).cast("long")
    e = deps.select("src", "dst", (h % 9 + 1).alias("w"))
    srcs = (deps.select(F.col("src").alias("node")).distinct()
            .join(deps.select(F.col("dst").alias("node")).distinct(),
                  "node", "left_anti"))
    return shortest_paths(e, srcs, n_rounds=4).orderBy("node")


def _q158_oracle_sql(n_iters: int = 2) -> str:
    """HITS twin: the auth/hub power steps unrolled as GROUP BY sums
    over the distinct edge set, HUGEINT throughout, rendered as the
    same plain decimal strings."""
    steps = []
    prev_h = "h0"
    for i in range(1, n_iters + 1):
        steps.append(f"""
        a{i} AS (
            SELECT e.v AS node, sum(h.hub)::HUGEINT AS auth
            FROM e JOIN {prev_h} h ON h.node = e.u GROUP BY e.v),
        h{i} AS (
            SELECT e.u AS node, sum(a.auth)::HUGEINT AS hub
            FROM e JOIN a{i} a ON a.node = e.v GROUP BY e.u)""")
        prev_h = f"h{i}"
    return f"""
        WITH {_code_trips_cte()},
        g AS (SELECT subj, pred, obj FROM dtrips WHERE okind = 'uri'),
        e AS (SELECT DISTINCT subj AS u, obj AS v FROM g),
        n0 AS (SELECT DISTINCT node FROM (
                   SELECT u AS node FROM e UNION ALL SELECT v FROM e)),
        h0 AS (SELECT node, 1::HUGEINT AS hub FROM n0),
        {",".join(steps)}
        SELECT n0.node,
               coalesce(h{n_iters}.hub, 0)::VARCHAR AS hub,
               coalesce(a{n_iters}.auth, 0)::VARCHAR AS auth
        FROM n0
        LEFT JOIN h{n_iters} ON h{n_iters}.node = n0.node
        LEFT JOIN a{n_iters} ON a{n_iters}.node = n0.node
    """


@query(_q158_oracle_sql)
def q158_kg_hits(spark, sf_dir):
    """HITS hubs and authorities (operators/components.hits_scores,
    Kleinberg 1999) over the code KG's entity-entity edge set —
    which files/repos act as hubs (point at widely-referenced
    modules) vs authorities (are widely pointed at).  Fixed 2
    iterations from the all-ones start WITHOUT normalization, so the
    scores are exact path-counting integers (DECIMAL(38,0) vs
    HUGEINT, rendered as byte-equal strings) and the oracle unrolls
    the two auth/hub power steps as plain GROUP BY sums — no
    cross-engine float-normalization contract; ranking is invariant
    to the dropped scale factor."""
    files = _code_files(spark, sf_dir)
    g = (code_triples(files).where(F.col("okind") == "uri")
         .select(F.col("subj").alias("src"),
                 F.col("obj").alias("dst")))
    return hits_scores(g, n_iters=2)


def _q159_oracle_sql(min_common: int = 2, max_degree: int = 64) -> str:
    """Jaccard-link-prediction twin: the in-row pair generation
    replayed as a sym ⋈ sym self-join over shared neighbors of
    degree <= cap, the same exact integer rational."""
    return f"""
        WITH {_code_trips_cte()},
        g AS (SELECT subj, pred, obj FROM dtrips WHERE okind = 'uri'),
        de AS (SELECT DISTINCT subj AS u, obj AS v FROM g),
        sym AS (SELECT u, v FROM (
                    SELECT u, v FROM de UNION SELECT v, u FROM de)
                WHERE u <> v),
        deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u),
        wok AS (SELECT u FROM deg WHERE deg <= {max_degree}),
        pr AS (
            SELECT s1.v AS a, s2.v AS b
            FROM sym s1 JOIN sym s2
              ON s1.u = s2.u AND s1.v < s2.v
            WHERE s1.u IN (SELECT u FROM wok)),
        cm AS (SELECT a, b, count(*)::BIGINT AS common
               FROM pr GROUP BY a, b
               HAVING count(*) >= {min_common})
        SELECT cm.a, cm.b, cm.common,
               da.deg AS deg_a, db.deg AS deg_b,
               cm.common AS jn,
               (da.deg + db.deg - cm.common)::BIGINT AS jd
        FROM cm
        JOIN deg da ON da.u = cm.a
        JOIN deg db ON db.u = cm.b
        WHERE NOT EXISTS (SELECT 1 FROM sym
                          WHERE sym.u = cm.a AND sym.v = cm.b)
    """


@query(_q159_oracle_sql)
def q159_kg_link_prediction(spark, sf_dir):
    """Neighborhood-Jaccard link prediction (operators/components.
    neighbor_jaccard, Liben-Nowell & Kleinberg 2003): non-adjacent
    entity pairs of the code KG sharing >= 2 undirected neighbors,
    scored by the exact rational Jaccard (jn, jd) — "which
    file/module pairs should probably be linked".  Pairs are
    generated IN the shared neighbor's row (sorted-array i<j slices,
    the q54 co-mention pattern) with the hub cap at 64 (a neighbor
    shared by more nodes is non-discriminative and would d²-explode
    at scale); the oracle replays the same semantics as a sym
    self-join restricted to capped-degree shared neighbors, NOT
    EXISTS for the adjacency exclusion."""
    files = _code_files(spark, sf_dir)
    g = (code_triples(files).where(F.col("okind") == "uri")
         .select(F.col("subj").alias("src"),
                 F.col("obj").alias("dst")))
    return neighbor_jaccard(g, min_common=2, max_degree=64)


def _q160_oracle_sql() -> str:
    """Unrolled 3-iteration personalized-PageRank twin over the q54
    edge derivation: per iteration the damped walk mass (GROUP BY)
    full-outer-folded with the source-only teleport term — the same
    IEEE double expressions as the engine."""
    it = """
        w{K} AS (
            SELECT ed.t AS node,
                   0.85 * sum(r{P}.rank / deg.od) AS w
            FROM ed JOIN r{P} ON ed.s = r{P}.node
                    JOIN deg ON ed.s = deg.s
            GROUP BY ed.t),
        r{K} AS (
            SELECT coalesce(w.node, s.node) AS node,
                   coalesce(w.w, 0)
                   + CASE WHEN s.node IS NOT NULL
                          THEN (1 - 0.85) / (SELECT n FROM ns)
                          ELSE 0 END AS rank
            FROM w{K} w FULL JOIN srcs s ON s.node = w.node)"""
    return f"""
        WITH {_corpus_fields_cte()},
        e AS (
            SELECT ord, replace(m.entity, ' ', '_') AS ent
            FROM (SELECT ord, unnest({_above('m_review')}) AS m FROM f)),
        d AS (SELECT DISTINCT ord, ent FROM e),
        p AS (
            SELECT a.ent AS ea, b.ent AS eb
            FROM d a JOIN d b ON a.ord = b.ord AND a.ent < b.ent
            GROUP BY 1, 2),
        ed AS (SELECT ea AS s, eb AS t FROM p
               UNION ALL SELECT eb, ea FROM p),
        deg AS (SELECT s, count(*) AS od FROM ed GROUP BY 1),
        srcs AS (SELECT s AS node FROM deg ORDER BY s LIMIT 5),
        ns AS (SELECT count(*)::DOUBLE AS n FROM srcs),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM ns) AS rank FROM srcs),
        {it.format(K=1, P=0)},
        {it.format(K=2, P=1)},
        {it.format(K=3, P=2)}
        SELECT deg.s AS node,
               round(coalesce(r3.rank, 0), 6) AS rank
        FROM deg LEFT JOIN r3 ON r3.node = deg.s
    """


@query(_q160_oracle_sql)
def q160_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank / random walk with restart
    (operators/components.personalized_pagerank, Jeh & Widom 2003)
    over the q54 co-mention graph: teleport mass restricted to the
    five lexicographically-first entities, so rank measures
    relatedness TO that seed set — the KG entity-relatedness query
    ("what else belongs with these seeds"), not global centrality.
    Fixed 3 iterations from the uniform-over-seeds start; the rank
    frame stays the REACHED set per round (unreached nodes report 0
    only in the final projection).  The oracle unrolls the walk/
    teleport full-outer fold per iteration with the identical IEEE
    double expressions."""
    edges = q54_comention_graph(spark, sf_dir).select(
        F.col("entity_a").alias("src"), F.col("entity_b").alias("dst")
    )
    deg_nodes = (edges.select(F.col("src").alias("node"))
                 .unionAll(edges.select(F.col("dst").alias("node")))
                 .distinct())
    srcs = deg_nodes.orderBy("node").limit(5)
    return personalized_pagerank(edges, srcs, n_iters=3)
