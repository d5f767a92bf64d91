"""Distributed connected components (alternating large-star / small-star).

The near-dup operators (dedup.py MinHash/SimHash/n-gram, similarity.py
cosine LSH) emit PAIRS; turning pairs into dedup GROUPS — "keep one
representative per duplicate cluster", the step every training-data
pipeline runs after candidate verification — is a connected-components
problem.  The reference has no analog (its reconciler emits owl:sameAs
pairs and stops, reconciler/__init__.py:126-147); this operator closes
that gap Spark-first.

Algorithm: alternating large-star / small-star from the published
MapReduce connected-components literature (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — O(log^2 n) rounds on any
graph, each round two groupBy+join passes over the edge set:

- large-star(u): every neighbor v > u re-attaches to m = min(N(u) + {u})
- small-star(u): every neighbor v <= u re-attaches to m = min(N-(u) + {u})

Both steps strictly never increase the component-internal edge span and
converge to star graphs whose centers are the component minima.  Unlike
naive min-label propagation (rounds = graph diameter — a 10^6-long chain
of near-dup docs needs 10^6 rounds), star rounds collapse chains
logarithmically.

Scale posture:
- No collect_list: each star is groupBy(min) + a same-key join, so a hub
  node (a template document duplicated 10^8 times) never materializes
  its neighborhood in one task; AQE handles the skewed join.
- Convergence test is a one-pass (count, xxhash64-xor) signature of the
  canonicalized edge set — no exceptAll anti-join per round.

Every iterative operator here is a seed state plus a module-level step
function run by the one driver, operators/iterate.py, which alone
persists, checkpoints and unpersists: (a) it truncates the lineage of a
state the next round reads once every ``TRUNCATE_EVERY`` rounds; (b) it
materializes every round a state that two or more branches of the next
round, or a convergence probe, read — lazily when the probe is the
round's action; (c) it runs the probe and raises the operator's own
error at the round cap; (d) it returns a materialized result and
unpersists every frame the call persisted.  On a production cluster,
swap localCheckpoint for checkpoint() with a reliable checkpoint dir.
"""

from functools import partial
from typing import Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.iterate import Iteration, last_round


class ComponentsDidNotConverge(RuntimeError):
    pass


def _sym(edges: DataFrame) -> DataFrame:
    """Symmetrize and drop self loops; columns (u, v)."""
    return (
        edges.select("u", "v")
        .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, m = min(N(u) + {u}).
    ``sym`` must be symmetrized and self-loop-free (see _sym)."""
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """Every smaller neighbor (and u itself) re-attaches to the minimum
    of u's smaller-neighbor set.  ``directed`` must already be oriented
    large->small, self-loop-free, and distinct (see _star_round)."""
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    re_lo = (
        directed.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    re_hi = mins.select(F.col("u"), F.col("m").alias("v"))
    return re_lo.union(re_hi).where(F.col("u") != F.col("v")).distinct()


def _star_round(keep, e: DataFrame, _r: int) -> DataFrame:
    """One large-star + small-star pass.  The symmetrized and oriented
    edge frames each feed TWO consumers (the min aggregation and the
    re-attach join); without persistence each consumer recomputes the
    frame's distinct shuffle — at scale that doubles the heaviest
    exchange of every round.  The driver's ``keep`` frees them."""
    sym = keep(_sym(e))
    ls = _large_star(sym)
    directed = keep(
        ls.select(F.greatest("u", "v").alias("u"),
                  F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return _small_star(directed)


def _signature(edges: DataFrame) -> Tuple[int, int]:
    """(count, hash-sum) of the canonicalized edge set — a one-pass
    convergence probe.  A hash-sum collision on UNEQUAL consecutive edge
    sets would stop one round early; with xxhash64 over the canonical
    pairs that is a ~2^-64 event per round, and the result would still be
    a valid partial contraction caught by the verify tests."""
    row = (
        edges.select(F.greatest("u", "v").alias("a"),
                     F.least("u", "v").alias("b"))
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent and overflow-free under ANSI
            # mode (a sum of hashes overflows long); the edge set is
            # distinct'd, so XOR cancellation of repeated rows cannot
            # occur
            F.coalesce(
                F.bit_xor(F.xxhash64(F.col("a").cast("string"),
                                     F.col("b").cast("string"))),
                F.lit(0),
            ).alias("h"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["h"])


def _star_members(e: DataFrame) -> DataFrame:
    """A converged edge set is a star forest: (node -> root) + roots."""
    members = e.select(F.greatest("u", "v").alias("node"),
                       F.least("u", "v").alias("component"))
    roots = members.select(
        F.col("component").alias("node"), F.col("component")
    ).distinct()
    return members.union(roots).distinct()


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 50) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id of the connected component.

    ``edges`` is undirected input; node ids may be any orderable type
    (long, string).  Singleton nodes never appear in an edge list —
    union them in afterwards if the caller tracks a node universe.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.where(F.col("u") != F.col("v"))
    with Iteration() as it:
        return it.run(
            e, partial(_star_round, it.keep), max_iter, _signature,
            reread=True, finish=_star_members,
            fail=ComponentsDidNotConverge(
                f"no convergence in {max_iter} star rounds"))


def dedup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iter: int = 50) -> DataFrame:
    """Duplicate-pair resolution: (id, canonical_id) with canonical_id =
    the minimum id of the duplicate cluster.  Feed it the accepted pairs
    of any near-dup operator; rows with id == canonical_id are the
    representatives to KEEP."""
    comp = connected_components(pairs, src=id_a, dst=id_b, max_iter=max_iter)
    return comp.select(F.col("node").alias("id"),
                       F.col("component").alias("canonical_id"))


def dedup_corpus(documents: DataFrame, pairs: DataFrame,
                 id_col: str = "doc_id", id_a: str = "id_a",
                 id_b: str = "id_b", max_iter: int = 50) -> DataFrame:
    """The end of the dedup pipeline: materialize the SURVIVOR corpus.

    ``pairs`` is the accepted pair stream of any near-dup operator (exact,
    MinHash-LSH, SimHash, n-gram Jaccard, embedding LSH); clusters resolve
    via dedup_groups and every non-representative member (id !=
    canonical_id) is dropped from ``documents`` with a left-anti join.

    Scale posture: the loser frame holds only duplicate members — tiny
    next to the corpus at real duplication rates — and its size is only
    known at runtime (iterative components output), so the broadcast
    decision is deliberately left to AQE: the executed plan is a
    BroadcastHashJoin LeftAnti (verified, docs/PLANS.md) and the corpus
    never shuffles; at pathological duplication rates AQE correctly falls
    back to a shuffled anti-join on the id key instead of OOMing a forced
    broadcast hint."""
    losers = (
        dedup_groups(pairs, id_a, id_b, max_iter)
        .filter(F.col("id") != F.col("canonical_id"))
        .select(F.col("id").alias(id_col))
    )
    return documents.join(losers, id_col, "left_anti")


def canonicalize_sameas(triples: DataFrame,
                        max_iter: int = 50) -> DataFrame:
    """Rewrite the graph's pairwise ``owl:sameAs`` edges into star form:
    every member of an equivalence class points at the class's canonical
    representative (its minimum URI), and transitive chains collapse.

    The reference emits raw pairwise sameAs edges (its reconciler output,
    reconciler/__init__.py:126-147) and leaves closure to a downstream OWL
    reasoner; consumers without one (SPARQL-over-parquet, plain joins)
    need the materialized canonical mapping.  Semantically equivalent
    under owl:sameAs symmetry+transitivity; edge count never increases
    (a star is the minimum spanning form of a clique's closure)."""
    from claimskg_generator_spark.constants.namespaces import NS

    is_same = F.col("pred") == NS.OWL_SAME_AS
    rest = triples.where(~is_same)
    edges = triples.where(is_same).select("subj", "obj")
    star = (
        connected_components(edges, src="subj", dst="obj",
                             max_iter=max_iter)
        .where(F.col("node") != F.col("component"))
        .select(
            F.col("node").alias("subj"),
            F.lit(NS.OWL_SAME_AS).alias("pred"),
            F.col("component").alias("obj"),
            F.lit("uri").alias("okind"),
        )
    )
    return rest.unionByName(star)


def smush_sameas(triples: DataFrame, max_iter: int = 50,
                 keep_links: bool = True) -> DataFrame:
    """Full identity resolution ("smushing"): resolve the graph's
    ``owl:sameAs`` equivalence classes and REWRITE every triple's
    subject and URI object onto the class representative (the minimum
    URI), so all facts asserted about any alias land on ONE canonical
    node.  :func:`canonicalize_sameas` only normalizes the sameAs
    edges themselves (star form); this rewrites the whole graph
    through the mapping — the operator a consumer needs when duplicate
    entities (reconciler output, IFP entailment — rdfs.ifp_sameas)
    should disappear from query results, not merely be linked.

    ``keep_links=True`` retains the provenance star (alias ->
    representative) in the output so original URIs stay resolvable;
    ``False`` drops the aliases entirely.  Literal objects (``okind``
    != 'uri', when the column is present) are never rewritten.
    Idempotent: smushing a smushed graph is a no-op (the provenance
    star maps aliases to an already-canonical representative, and
    rewritten facts only mention representatives).

    Scale shape: the class mapping is proportional to the number of
    DUPLICATE entities — orders of magnitude smaller than the graph —
    so it broadcasts and the 100 TB triple frame is touched by two
    broadcast left joins + the one set-dedup exchange.  Class
    resolution itself is :func:`connected_components` over the sameAs
    sliver only (O(log^2 n) rounds on the duplicate subgraph, bounded
    lineage)."""
    from claimskg_generator_spark.constants.namespaces import NS

    is_same = F.col("pred") == NS.OWL_SAME_AS
    rest = triples.where(~is_same)
    edges = triples.where(is_same).select("subj", "obj")
    mapping = (
        connected_components(edges, src="subj", dst="obj",
                             max_iter=max_iter)
        .where(F.col("node") != F.col("component"))
    )
    m = F.broadcast(mapping)
    ms = m.select(F.col("node").alias("__sn"),
                  F.col("component").alias("__sr"))
    mo = m.select(F.col("node").alias("__on"),
                  F.col("component").alias("__or"))
    has_okind = "okind" in triples.columns
    obj_cond = F.col("obj") == F.col("__on")
    if has_okind:
        obj_cond = obj_cond & (F.col("okind") == F.lit("uri"))
    out_cols = [
        F.coalesce("__sr", "subj").alias("subj") if c == "subj"
        else F.coalesce("__or", "obj").alias("obj") if c == "obj"
        else F.col(c)
        for c in triples.columns
    ]
    out = (
        rest.join(ms, F.col("subj") == F.col("__sn"), "left")
        .join(mo, obj_cond, "left")
        .select(*out_cols)
        .distinct()
    )
    if keep_links:
        star_cols = [
            F.col("node").alias("subj") if c == "subj"
            else F.lit(NS.OWL_SAME_AS).alias("pred") if c == "pred"
            else F.col("component").alias("obj") if c == "obj"
            else F.lit("uri").alias("okind") if c == "okind"
            else F.lit(None).cast(triples.schema[c].dataType).alias(c)
            for c in triples.columns
        ]
        out = out.unionByName(mapping.select(*star_cols))
    return out


def _both_ways(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(s, t) in both directions."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    return e.unionByName(
        e.select(F.col("t").alias("s"), F.col("s").alias("t")))


def _with_out_degree(sym: DataFrame) -> DataFrame:
    """(s, t, od): every directed edge with its source's out-degree."""
    return sym.join(sym.groupBy("s").agg(F.count("*").alias("od")), "s")


def _rank_step(out_edges: DataFrame, teleport: float, damping: float,
               ranks: DataFrame, _r: int) -> DataFrame:
    """One power iteration."""
    contrib = (
        out_edges.join(ranks, out_edges["s"] == ranks["node"])
        .select(
            F.col("t").alias("node"),
            (F.col("rank") / F.col("od")).alias("c"),
        )
    )
    return (
        contrib.groupBy("node")
        .agg((F.lit(teleport) + damping * F.sum("c")).alias("rank"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list (each edge
    contributes both directions).  r_{k+1}(v) = (1-d)/N + d * sum over
    in-neighbors u of r_k(u)/outdeg(u).

    Iterative DataFrame loop: each iteration is one co-partitioned join
    (ranks x out-edges on the source) + one groupBy(dst) sum — the
    standard distributed power-iteration shape.  Degrees and the
    symmetric edge list are computed once and persisted (they are
    re-read every iteration); the rank frame stays (node, rank) slim.
    Fixed n_iters keeps the result deterministic and oracle-checkable
    (an unrolled SQL twin).
    """
    if n_iters < 0:
        raise ValueError("n_iters must be >= 0")
    with Iteration() as it:
        sym = it.keep(_both_ways(edges, src, dst))
        out_edges = it.keep(_with_out_degree(sym))
        nodes = sym.select(F.col("s").alias("node")).distinct()
        # one intentional action: sizes the teleport term (an empty
        # graph keeps its empty result)
        n_nodes = nodes.count() or 1
        teleport = (1.0 - damping) / n_nodes
        return it.run(
            nodes.withColumn("rank", F.lit(1.0 / n_nodes)),
            partial(_rank_step, out_edges, teleport, damping), n_iters,
            finish=lambda ranks: nodes.join(ranks, "node", "left").select(
                "node",
                F.round(F.coalesce("rank", F.lit(teleport)), 6)
                .alias("rank")))


def _label_step(sym: DataFrame, labels: DataFrame, _r: int) -> DataFrame:
    """Every node adopts its neighbors' most frequent label."""
    neigh = (
        sym.join(labels, sym["s"] == labels["node"])
        .select(F.col("t").alias("node"), "label")
        .groupBy("node", "label")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("c"), F.asc("label")
    )
    return (
        neigh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node", "label")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 2,
) -> DataFrame:
    """Synchronous label propagation (community detection) over an
    undirected edge list.  Each iteration every node adopts the most
    frequent label among its neighbors, ties broken to the
    lexicographically smallest label — which makes the fixed-iteration
    result fully deterministic (classic async LPA is order-dependent;
    the synchronous min-tie-break variant is the reproducible twin).

    Per iteration: one co-partitioned labels x edges join, a
    (node, label) count aggregate, and a row_number window for the
    argmax — all keyed on the node, the same shuffle profile as one
    PageRank step.
    """
    if n_iters < 0:
        raise ValueError("n_iters must be >= 0")
    with Iteration() as it:
        sym = it.keep(_both_ways(edges, src, dst))
        labels = sym.select(F.col("s").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        return it.run(labels, partial(_label_step, sym), n_iters)


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counting with degree-ordered orientation —
    the clustering-coefficient / community-density primitive of the
    graph family (components, PageRank, LPA all live in this module).

    Algorithm (Cohen, "Graph Twiddling in a MapReduce World", CiSE 2009
    / the compact-forward ordering of Latapy 2008): canonicalize to an
    undirected simple graph, orient every edge from the (degree, id)-
    LOWER endpoint to the higher, enumerate wedges by joining oriented
    edges on their shared tail, and confirm each wedge against the
    oriented closing edge.  Orientation bounds every vertex's
    out-degree by O(sqrt(m)), so the wedge set — the only
    super-linear intermediate — is O(m^1.5) worst case instead of the
    O(Σ deg(v)^2) a hub vertex costs without it; each triangle is
    produced exactly once (its vertices appear in orientation order).

    Scale posture (100 TB edge set): three equi-join shuffles (two
    degree attachments, one wedge closure) + two groupBys — no
    collect_list neighborhood materialization, so a 10^8-degree hub
    never lands in one task; the skewed wedge join is AQE skew-split
    territory.  The oriented edge frame is persisted once — it is
    consumed three times (both wedge sides and the closure probe).

    Output, one row per vertex: ``vertex``, ``degree`` (undirected,
    deduped), ``n_triangles`` (triangles the vertex participates in;
    0 for triangle-free vertices).  All integers — hash-exact across
    engines.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        und.join(deg.select(F.col("v").alias("a"),
                            F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"),
                         F.col("deg").alias("db")), "b")
    )
    a_lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    fwd = share(e.select(
        F.when(a_lower, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_lower, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(a_lower, F.col("db")).otherwise(F.col("da")).alias("dw"),
    ))
    f1 = fwd.select("u", F.col("w").alias("w1"), F.col("dw").alias("dw1"))
    f2 = fwd.select("u", F.col("w").alias("w2"), F.col("dw").alias("dw2"))
    # wedge (w1, w2) kept in orientation order so the closing edge, if
    # present, is oriented w1 -> w2 and one equi-join confirms it
    wedge = f1.join(f2, "u").filter(
        (F.col("dw1") < F.col("dw2"))
        | ((F.col("dw1") == F.col("dw2")) & (F.col("w1") < F.col("w2")))
    )
    tri = wedge.join(
        fwd.select(F.col("u").alias("w1"), F.col("w").alias("w2")),
        ["w1", "w2"],
    ).select("u", "w1", "w2")
    tc = (
        tri.select(F.explode(F.array("u", "w1", "w2")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        deg.join(tc, "v", "left")
        .select(
            F.col("v").alias("vertex"),
            F.col("deg").alias("degree"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


def _degrees(frame: DataFrame) -> DataFrame:
    return (
        frame.select(F.col("u").alias("node"))
        .unionAll(frame.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _peel_step(k: int, e: DataFrame, _r: int) -> DataFrame:
    """Drop the nodes of degree < k and the edges touching them."""
    bad = _degrees(e).filter(F.col("degree") < k).select("node")
    return (
        e.join(bad.withColumnRenamed("node", "u"), "u", "left_anti")
        .join(bad.withColumnRenamed("node", "v"), "v", "left_anti")
        .select("u", "v")
    )


def kcore_peel(edges: DataFrame, k: int, n_rounds: Optional[int] = None,
               max_rounds: int = 50, src: str = "src",
               dst: str = "dst") -> DataFrame:
    """Iterative k-core peel: repeatedly drop nodes whose degree over
    the SURVIVING edge set is below ``k`` (and the edges touching
    them), then return per-node degrees of what remains — the standard
    density filter before community/clustering passes, and the dual of
    triangle counting for "is this neighborhood real or noise".

    ``n_rounds`` fixed pins the round count (the q55 pagerank
    fixed-iteration pattern — unrollable by a SQL twin); ``n_rounds=
    None`` peels to the true k-core, probing convergence with ONE
    count of the surviving edges per round (a peel that drops nothing
    leaves it unchanged) and giving up loudly after ``max_rounds``.

    Scale shape: each round is a map-side-combinable degree groupBy
    plus two anti joins keyed on the node id — no all-pairs, no
    collect of the node set; the edge set is materialized every round.

    Output: ``node``, ``degree`` (degree within the peeled core).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_rounds is not None and n_rounds < 0:
        raise ValueError(f"n_rounds must be >= 0, got {n_rounds}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    with Iteration() as it:
        return it.run(
            e, partial(_peel_step, k),
            max_rounds if n_rounds is None else n_rounds,
            DataFrame.count if n_rounds is None else None,
            reread=True, finish=_degrees,
            fail=RuntimeError(
                f"kcore_peel(k={k}) did not converge in {max_rounds} "
                "rounds"))


def _bfs_step(e: DataFrame, visited: DataFrame, r: int) -> DataFrame:
    """Nodes one hop from those first reached in round r-1 join at
    distance r."""
    frontier = visited.where(F.col("dist") == r - 1)
    nxt = (
        frontier.join(e, frontier["node"] == e["u"])
        .select(F.col("v").alias("node"))
        .distinct()
        .join(visited.select("node"), "node", "left_anti")
        .withColumn("dist", F.lit(r).cast("int"))
    )
    return visited.unionAll(nxt)


def bfs_layers(edges: DataFrame, sources: DataFrame,
               n_rounds: Optional[int] = None, max_rounds: int = 50,
               src: str = "src", dst: str = "dst",
               directed: bool = False) -> DataFrame:
    """Multi-source BFS: shortest hop distance from any source node —
    the reachability/radius primitive the graph family was missing
    (seed-set expansion, contamination blast radius around a known-bad
    document cluster, "within k hops of a curated node").

    ``sources``: a one-column DataFrame (``node``) of start nodes; they
    report dist 0 even when isolated.  ``n_rounds`` fixed pins the
    depth (the q55/q77 fixed-iteration pattern — replayable by a
    bounded recursive-CTE SQL twin); ``n_rounds=None`` expands until
    the frontier empties, probing with ONE tiny max(dist) aggregate per
    round and giving up loudly after ``max_rounds``.

    Scale shape: each round is one frontier ⋈ edges equi-join + a
    distinct + an anti join against the visited set — all keyed on the
    node id, never all-pairs; the frontier is the visited rows at the
    previous round's distance.  The edge frame persists; the visited
    frame is materialized every round.  Output: ``node``, ``dist``.
    """
    if n_rounds is not None and n_rounds < 0:
        raise ValueError(f"n_rounds must be >= 0, got {n_rounds}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = e.unionAll(e.select(F.col("v").alias("u"),
                                F.col("u").alias("v")))
    visited = (sources.select(F.col(sources.columns[0]).alias("node"))
               .distinct()
               .withColumn("dist", F.lit(0).cast("int")))
    with Iteration() as it:
        return it.run(
            visited, partial(_bfs_step, it.keep(e)),
            max_rounds if n_rounds is None else n_rounds,
            last_round("dist") if n_rounds is None else None,
            reread=True,
            fail=RuntimeError(
                f"bfs_layers did not drain the frontier in {max_rounds} "
                "rounds; raise max_rounds or pin n_rounds"))


def _ranked_neighbors(e: DataFrame) -> DataFrame:
    """Each edge's neighbor rank (by destination id) and out-degree."""
    return (e.withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("u").orderBy("v")))
        .withColumn("deg", F.count(F.lit(1)).over(
            Window.partitionBy("u"))))


def _walk_seed(e: DataFrame, num_walks: int) -> DataFrame:
    """``num_walks`` one-node walks from every node."""
    nodes = (e.select(F.col("u").alias("start"))
             .unionAll(e.select(F.col("v").alias("start")))
             .distinct())
    return nodes.select(
        "start",
        F.explode(F.sequence(F.lit(0),
                             F.lit(num_walks - 1))).alias("walk_idx"),
    ).select(
        "start", "walk_idx",
        F.lit(None).cast("string").alias("prev"),
        F.col("start").alias("cur"),
        F.col("start").alias("walk"),
        F.lit(1).cast("int").alias("n_nodes"),
        F.lit(False).alias("done"),
    )


def _walk_hash(seed: str, step: int):
    """60-bit positive md5 slice of (seed, walk identity, step) —
    nonnegative, so % == pmod and the DuckDB twin's % agrees."""
    return F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit(seed), F.col("start"),
        F.col("walk_idx").cast("string"),
        F.lit(str(step)))), 1, 15), 16, 10).cast("long")


def _walk_step(ranked: DataFrame,
               weights: Optional[Tuple[int, int, int]], seed: str,
               walks: DataFrame, step: int) -> DataFrame:
    """One hop.  DeepWalk (``weights`` None) and node2vec's first hop
    (no prev yet) pick uniformly; later node2vec hops weight each
    candidate by its relation to the previous node."""
    h = _walk_hash(seed, step)
    cand = walks.join(
        ranked, (walks["cur"] == ranked["u"]) & ~walks["done"],
        "left")
    if weights is None or step == 1:
        picked = cand.where(
            F.col("u").isNull()
            | (F.col("rk") == (h % F.col("deg") + 1).cast("int")))
    else:
        w_return, w_inward, w_outward = weights
        probe = ranked.select(F.col("u").alias("pu"),
                              F.col("v").alias("pv"))
        cand = cand.join(
            probe,
            (cand["prev"] == probe["pu"]) & (cand["v"] == probe["pv"]),
            "left")
        wt = (F.when(F.col("u").isNull(), F.lit(None))
              .when(F.col("v") == F.col("prev"), F.lit(w_return))
              .when(F.col("pu").isNotNull(), F.lit(w_inward))
              .otherwise(F.lit(w_outward))).cast("long")
        wwin = Window.partitionBy("start", "walk_idx")
        scored = cand.withColumn("wt", wt).select(
            "start", "walk_idx", "prev", "cur", "walk", "n_nodes",
            "done", "u", "v", "wt",
            F.sum("wt").over(wwin.orderBy("rk")).alias("cum"),
            F.sum("wt").over(wwin).alias("tot"),
        )
        r = h % F.col("tot")
        picked = scored.where(
            F.col("u").isNull()
            | ((F.col("cum") - F.col("wt") <= r) & (r < F.col("cum"))))
    return picked.select(
        "start", "walk_idx",
        F.col("cur").alias("prev"),
        F.coalesce(F.col("v"), F.col("cur")).alias("cur"),
        F.when(F.col("v").isNotNull(),
               F.concat_ws(" ", "walk", "v"))
        .otherwise(F.col("walk")).alias("walk"),
        (F.col("n_nodes")
         + F.col("v").isNotNull().cast("int")).alias("n_nodes"),
        (F.col("done") | F.col("v").isNull()).alias("done"),
    )


def _walk_output(walks: DataFrame) -> DataFrame:
    return walks.select("start", "walk_idx", "walk", "n_nodes")


def random_walks(edges: DataFrame, walk_length: int, num_walks: int,
                 seed: str = "walks", src: str = "src",
                 dst: str = "dst") -> DataFrame:
    """DeepWalk-style random-walk corpus generation (Perozzi et al.,
    KDD 2014) with DETERMINISTIC md5 picks — the graph-to-sequence
    operator that turns a KG into training sentences for skip-gram /
    node-embedding models, the graph analog of the engine's document
    corpus-prep family.

    From every node, ``num_walks`` walks of up to ``walk_length``
    nodes; at each step the next hop is neighbor number
    ``md5(seed:start:walk_idx:step) mod out_degree`` over the
    neighbor list ranked by destination id — so the "randomness" is a
    pure function of (seed, walk identity, step): retry-stable,
    engine-replayable (the md5-hex-to-int discipline of the q81/q127
    oracles), and each walk is independently addressable.  A walk
    that reaches a sink node simply ends (shorter sentence), the
    DeepWalk convention.

    Output: ``(start, walk_idx, walk, n_nodes)`` — ``walk`` the
    space-joined node sentence.

    Scale shape: one ranked-neighbor dim (row_number per source over
    the DISTINCT edge set + out-degrees, persisted once) and
    ``walk_length - 1`` equi-joins keyed on the current node — never
    all-pairs, no driver actions in the loop.  State per walk is O(1)
    columns plus the growing sentence string.
    """
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    if num_walks < 1:
        raise ValueError(f"num_walks must be >= 1, got {num_walks}")
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .distinct())
    with Iteration() as it:
        return it.run(
            _walk_seed(e, num_walks),
            partial(_walk_step, it.keep(_ranked_neighbors(e)), None, seed),
            walk_length - 1, finish=_walk_output)


def biased_random_walks(edges: DataFrame, walk_length: int,
                        num_walks: int, w_return: int = 1,
                        w_inward: int = 1, w_outward: int = 1,
                        seed: str = "n2v", src: str = "src",
                        dst: str = "dst") -> DataFrame:
    """node2vec-style SECOND-ORDER biased walks (Grover & Leskovec,
    KDD 2016) with deterministic md5 picks — :func:`random_walks`'
    DeepWalk corpus, upgraded with the return/in-out bias that lets
    the embedding interpolate between BFS-like (structural) and
    DFS-like (homophilous) neighborhoods.

    node2vec weights each candidate next-hop ``x`` from ``cur`` given
    the PREVIOUS node: ``1/p`` if ``x == prev`` (return), ``1`` if
    ``x`` is also a neighbor of ``prev`` (stay close), ``1/q``
    otherwise (move away).  Here the three classes carry INTEGER
    weights (``w_return`` ∝ 1/p, ``w_inward`` ∝ 1, ``w_outward`` ∝
    1/q — scale all three by a common factor to express any rational
    p/q), so the cumulative-weight pick is exact 64-bit arithmetic:
    ``r = md5_60bit(seed:start:walk_idx:step) mod total_weight``
    selects the candidate whose cumulative range covers ``r``.  No
    floats anywhere — the walk is a pure function of the walk
    identity, retry-stable and replayed bit-for-bit by the DuckDB
    oracle (floating cumsums would need a cross-engine summation-order
    contract; integers need nothing).  The FIRST hop is uniform
    (``mod out_degree`` — no prev yet), the node2vec convention.

    Output matches :func:`random_walks`: ``(start, walk_idx, walk,
    n_nodes)``, sink nodes ending walks early.

    Scale shape, per step: ONE equi-join of the walk frame against the
    ranked-neighbor dim on the current node (deg-bounded candidate
    fan-out — never all-pairs), ONE probe equi-join against the same
    persisted edge dim marking the ``prev``-neighbor class, and ONE
    window exchange keyed by the walk id for the cumulative pick —
    walk state is O(1) columns.  The second-order bias is why a probe
    join exists at all: "is the candidate a neighbor of where I came
    from" is a data question, not a row-local one (the reference has
    no graph-embedding analog; this serves the KG's training-corpus
    face alongside q128)."""
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    if num_walks < 1:
        raise ValueError(f"num_walks must be >= 1, got {num_walks}")
    for nm, w in (("w_return", w_return), ("w_inward", w_inward),
                  ("w_outward", w_outward)):
        if not isinstance(w, int) or w < 1:
            raise ValueError(
                f"{nm} must be a positive int, got {w!r} — express "
                "node2vec p/q as integer class weights (w_return ∝ 1/p,"
                " w_inward ∝ 1, w_outward ∝ 1/q, scaled by a common "
                "factor)")
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .distinct())
    with Iteration() as it:
        return it.run(
            _walk_seed(e, num_walks),
            partial(_walk_step, it.keep(_ranked_neighbors(e)),
                    (w_return, w_inward, w_outward), seed),
            walk_length - 1, finish=_walk_output)


def _wl_step(e: DataFrame, colors: DataFrame, _r: int) -> DataFrame:
    """Rehash each color with its sorted incident messages."""
    cd = colors.select(F.col("node").alias("__n"),
                       F.col("color").alias("__c"))
    out_msgs = (
        e.join(cd, e["obj"] == cd["__n"])
        .select(F.col("subj").alias("node"),
                F.concat_ws(":", F.lit("o"), F.col("pred"),
                            F.col("__c")).alias("msg")))
    in_msgs = (
        e.join(cd, e["subj"] == cd["__n"])
        .select(F.col("obj").alias("node"),
                F.concat_ws(":", F.lit("i"), F.col("pred"),
                            F.col("__c")).alias("msg")))
    msgs = (out_msgs.unionAll(in_msgs)
            .groupBy("node")
            .agg(F.concat_ws(
                ",", F.sort_array(F.collect_list("msg")))
                .alias("__m")))
    return (colors.join(msgs, "node", "left")
            .select("node",
                    F.md5(F.concat_ws(
                        "#", F.col("color"),
                        F.coalesce(F.col("__m"), F.lit(""))))
                    .alias("color")))


def wl_colors(triples: DataFrame, n_iters: int = 2) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement over a triple
    graph: ``(node, color)`` rows where ``color`` is the node's
    structural-role fingerprint after ``n_iters`` rounds — the
    classic graph-isomorphism refinement (Weisfeiler & Leman 1968;
    the WL-kernel of Shervashidze et al. 2011) as a distributed
    fixed-depth iteration.

    Every node starts with the SAME color (``md5('')`` — pure
    structure, no identity), and each round rehashes a node's color
    together with the SORTED multiset of its incident
    ``direction:predicate:neighbor-color`` messages (both directions,
    predicate-labeled — the RDF form of the WL message).  Two nodes
    share a color after k rounds iff their k-hop neighborhood
    unfoldings agree, so the colors are structural ROLE ids:
    blank-node-safe canonical labels, graph-kernel features, and the
    per-node half of :func:`wl_fingerprint`.  Everything is md5 over
    canonically-ordered strings — engine-replayable (driver q155
    unrolls the rounds as DuckDB CTEs with ordered string_agg).

    Scale shape per round: two co-partitioned equi-joins (edge ⨝
    colors, once per direction) + one groupBy(node) whose state is
    the sorted message list — the PageRank shuffle profile
    (components.pagerank); the edge frame persists once.  Each round
    reads the previous colors from THREE branches (both direction
    joins + the rehash join), so the driver materializes every round
    (unmaterialized, round 2 re-evaluated round 1 three times in
    q155).  Message lists are bounded by node degree: for 100 TB
    graphs cap super-hub degree upstream (the q122 hub-overflow
    discipline) — the hash is exact for every node whose messages
    fit.

    The reference has no analog (its graph lives in rdflib); this is
    part of the KG-publication family (graph diff/versioning:
    triple_diff tells you WHAT changed, wl_fingerprint whether two
    anonymized/relabeled graphs are structurally equal)."""
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    with Iteration() as it:
        # set semantics: a storage-duplicated triple must not duplicate
        # WL messages, or the "relabeled-but-equal graphs share the
        # hash" contract silently breaks (same discipline as
        # hits_scores)
        e = it.keep(triples.select("subj", "pred", "obj").distinct())
        nodes = (e.select(F.col("subj").alias("node"))
                 .unionAll(e.select(F.col("obj").alias("node")))
                 .distinct())
        return it.run(nodes.withColumn("color", F.md5(F.lit(""))),
                      partial(_wl_step, e), n_iters, reread=True)


def wl_fingerprint(triples: DataFrame, n_iters: int = 2) -> DataFrame:
    """One-row isomorphism-invariant graph fingerprint from
    :func:`wl_colors`: ``(n_nodes, n_roles, xor_h, sum_h)`` — node
    count, distinct WL colors, and the xor / exact-decimal sum of the
    60-bit color hashes.  Equal fingerprints <=> equal WL color
    MULTISETS (up to hash collision), which relabeled-but-isomorphic
    graphs preserve and any structural change breaks.

    The multiset is folded COMMUTATIVELY (xor + sum of per-node
    hashes — the connected_components convergence-probe discipline at
    components.py:104), never a sorted global concat: the fold is
    map-side combinable and mergeable across shards, so the
    fingerprint costs one aggregate over the color frame at any
    scale.  ``sum_h`` is an exact decimal (DuckDB replays it as
    HUGEINT; emitted as a string so both engines compare bytes)."""
    colors = wl_colors(triples, n_iters=n_iters)
    h = F.conv(F.substring(F.col("color"), 1, 15), 16, 10).cast("long")
    return (colors.select(F.col("color"), h.alias("__h"))
            .agg(F.count("*").alias("n_nodes"),
                 F.countDistinct("color").alias("n_roles"),
                 F.bit_xor("__h").alias("xor_h"),
                 F.sum(F.col("__h").cast("decimal(38,0)"))
                 .cast("decimal(38,0)").cast("string").alias("sum_h")))


def _relax_step(e: DataFrame, dist: DataFrame, r: int) -> DataFrame:
    """Relax the edges out of the nodes improved in round r-1 (``__at``)
    and fold in the strict improvements, stamped ``__at = r``."""
    # dist carries e in its lineage — rename its columns and resolve
    # by name so the relaxation join is never an ambiguous self-join
    fr = dist.where(F.col("__at") == r - 1).select(
        F.col("node").alias("__fn"), F.col("dist").alias("__fd"))
    cand = (
        fr.join(e, F.col("__fn") == F.col("u"))
        .select(F.col("v").alias("node"),
                (F.col("__fd") + F.col("w")).alias("d"))
        .groupBy("node").agg(F.min("d").alias("d"))
    )
    improved = (
        cand.join(dist.select(F.col("node"),
                              F.col("dist").alias("__cur")),
                  "node", "left")
        .where(F.col("__cur").isNull()
               | (F.col("d") < F.col("__cur")))
        .select("node", F.col("d").alias("dist"),
                F.lit(r).alias("__at"))
    )
    return (dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved))


def shortest_paths(edges: DataFrame, sources: DataFrame,
                   n_rounds: Optional[int] = None, max_rounds: int = 50,
                   src: str = "src", dst: str = "dst",
                   weight: str = "w", directed: bool = True) -> DataFrame:
    """Multi-source WEIGHTED shortest paths — frontier-only
    Bellman-Ford (semi-naive relaxation): ``(node, dist)`` with the
    minimal path weight from any source, the weighted twin of
    :func:`bfs_layers` (supply-chain latency/cost radius where hop
    count is not the metric).

    Weights must be NON-NEGATIVE INTEGERS (cast to long; exact
    arithmetic — the engine's no-float-accumulation discipline: scale
    rational costs upstream).  Negative weights are a contract
    violation this function does not detect (a fixed-round run still
    returns the exact min over ``<= n_rounds``-edge paths, but
    convergence mode may stop early of the true fixpoint).

    After round k, ``dist`` is EXACTLY ``min`` over paths of
    ``<= k`` edges — so ``n_rounds`` fixed pins the depth (the
    q83/q55 fixed-iteration pattern, replayable by a bounded
    recursive-CTE twin: min over the hop-bounded walk — driver
    q156); ``n_rounds=None`` relaxes until NO distance improves
    (one tiny max(round) probe per round), giving up loudly after
    ``max_rounds``.

    Scale shape per round: one frontier ⋈ edges equi-join, one
    map-side-combinable groupBy(node) min over the candidate
    relaxations, one left join against the current dist frame to
    keep IMPROVEMENTS only (the semi-naive delta — re-relaxing
    settled nodes is what naive BF wastes), then an anti-join +
    union to fold improvements into dist; the frontier is the rows
    improved last round, so work is proportional to the wavefront,
    not the graph.  The dist frame is materialized every round
    (unmaterialized, the plan tripled per round).  Sources report dist
    0 even when isolated."""
    if n_rounds is not None and n_rounds < 0:
        raise ValueError(f"n_rounds must be >= 0, got {n_rounds}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                     F.col(weight).cast("long").alias("w"))
    if not directed:
        e = e.unionAll(e.select(F.col("v").alias("u"),
                                F.col("u").alias("v"), F.col("w")))
    dist = (sources.select(F.col(sources.columns[0]).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .withColumn("__at", F.lit(0)))
    with Iteration() as it:
        return it.run(
            dist, partial(_relax_step, it.keep(e)),
            max_rounds if n_rounds is None else n_rounds,
            last_round("__at") if n_rounds is None else None,
            reread=True, finish=lambda d: d.select("node", "dist"),
            fail=RuntimeError(
                f"shortest_paths did not converge in {max_rounds} rounds; "
                "raise max_rounds or pin n_rounds"))


_DEC = "decimal(38,0)"


def _auth_of(e: DataFrame, hub: DataFrame) -> DataFrame:
    """Half-step: auth(v) = sum of hub(u) over the edges u -> v."""
    h = hub.select(F.col("node").alias("__hn"), F.col("hub").alias("__h"))
    return (e.join(h, e["u"] == F.col("__hn"))
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("__h").cast(_DEC).alias("auth")))


def _hub_of(e: DataFrame, auth: DataFrame) -> DataFrame:
    """Half-step: hub(u) = sum of auth(v) over the edges u -> v."""
    a = auth.select(F.col("node").alias("__an"),
                    F.col("auth").alias("__a"))
    return (e.join(a, e["v"] == F.col("__an"))
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("__a").cast(_DEC).alias("hub")))


def _hits_step(e: DataFrame, auth: DataFrame, _r: int) -> DataFrame:
    return _auth_of(e, _hub_of(e, auth))


def hits_scores(edges: DataFrame, n_iters: int = 2,
                src: str = "src", dst: str = "dst") -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) as a fixed-depth
    EXACT-INTEGER power iteration: ``(node, hub, auth)`` after
    ``n_iters`` rounds from the all-ones start, WITHOUT the usual
    per-round normalization — scores are the raw path-counting
    integers (hub = walks alternating out/in of length 2k+1 from the
    node, auth = the dual), carried as DECIMAL(38,0) so the driver
    oracle replays them bit-for-bit (cross-engine float normalization
    carries no contract; callers normalize/rank downstream — ranking
    is invariant to the scale factor dropped here).  Growth is
    bounded by (max degree)^(2·n_iters): at the default 2 rounds a
    10^9-degree hub still fits decimal(38); deeper runs are the
    caller's overflow responsibility.  ADVICE r5 asymmetry note: under non-ANSI
    Spark a decimal(38) overflow yields NULL and the final coalesce
    would report that node's hub/auth as "0" (silent), while the
    DuckDB oracle's HUGEINT errors loudly — for deep ``n_iters`` runs
    enable ``spark.sql.ansi.enabled`` so overflow raises instead, or
    treat any 0 score on a connected node as suspect.

    Round shape (the pagerank profile): auth = one
    map-side-combinable groupBy(dst) sum over the edge frame joined
    with current hubs; hub = the dual groupBy(src) over the new
    auths; edges persist once.  The iterated state is auth (round 1's
    comes from the all-ones hubs); the final hubs are derived from the
    final auths.  Nodes with no incoming edges keep auth 0, no
    outgoing keep hub 0 (coalesced — every node reports)."""
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    with Iteration() as it:
        e = it.keep(edges.select(F.col(src).alias("u"),
                                 F.col(dst).alias("v")).distinct())
        nodes = it.keep(e.select(F.col("u").alias("node"))
                        .unionAll(e.select(F.col("v").alias("node")))
                        .distinct())

        def scores(auth: DataFrame) -> DataFrame:
            return (nodes
                    .join(_hub_of(e, auth), "node", "left")
                    .join(auth, "node", "left")
                    .select("node",
                            F.coalesce(F.col("hub"), F.lit(0).cast(_DEC))
                            .cast(_DEC).cast("string").alias("hub"),
                            F.coalesce(F.col("auth"), F.lit(0).cast(_DEC))
                            .cast(_DEC).cast("string").alias("auth")))

        ones = nodes.withColumn("hub", F.lit(1).cast(_DEC))
        return it.run(_auth_of(e, ones), partial(_hits_step, e),
                      n_iters - 1, finish=scores)


def neighbor_jaccard(edges: DataFrame, src: str = "src",
                     dst: str = "dst", min_common: int = 1,
                     max_degree: Optional[int] = None,
                     exclude_edges: bool = True) -> DataFrame:
    """Link-prediction features from neighborhood overlap: for node
    pairs sharing at least ``min_common`` UNDIRECTED neighbors, the
    common-neighbor count and the Jaccard coefficient
    ``|N(a) ∩ N(b)| / |N(a) ∪ N(b)|`` as an EXACT integer rational
    ``(jn, jd) = (common, deg_a + deg_b - common)`` — the classic
    "who should be linked" scores (Liben-Nowell & Kleinberg 2003),
    float-free so the driver oracle hash-matches (callers rank by
    cross-multiplication; Adamic-Adar needs a log contract and is
    deliberately left out).

    Candidate pairs are generated IN the shared neighbor's row (the
    q54 co-mention pattern: sorted neighbor array, i<j slice pairs —
    never a node-level self-join), then ONE combinable groupBy(a, b)
    counts shared neighbors.  ``max_degree`` caps the exploding
    neighbor list: a hub shared by more nodes than the cap is treated
    as NON-discriminative and generates no pairs (the q122/ifp_sameas
    hub-overflow discipline — at 10^9-degree hubs the d² pair
    explosion is the scale killer, and a hub everyone shares carries
    no link-prediction signal anyway; counts are then "common
    neighbors of degree <= cap", a documented semantic both engines
    apply identically).  Degrees stay the TRUE degrees.
    ``exclude_edges=True`` drops already-adjacent pairs (the
    link-PREDICTION protocol) with one anti-join against the
    symmetrized edge set.

    Output: ``(a, b, common, deg_a, deg_b, jn, jd)`` with a < b."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    if max_degree is not None and max_degree < 2:
        raise ValueError(f"max_degree must be >= 2, got {max_degree}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = share(e.unionAll(e.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
                .where(F.col("u") != F.col("v"))
                .distinct())
    # ONE aggregation serves both consumers: sym is distinct, so the
    # collected neighbor set's size IS the true degree — a separate
    # count groupBy would be a second graph-wide exchange for nothing
    lists_all = share(sym.groupBy("u")
                      .agg(F.sort_array(F.collect_set("v")).alias("ns")))
    deg = lists_all.select("u", F.size("ns").cast("long").alias("deg"))
    lists = lists_all
    if max_degree is not None:
        lists = lists_all.where(F.size("ns") <= max_degree)
    pairs = lists.select(F.explode(F.expr(
        "flatten(transform(ns, (x, i) -> "
        "transform(slice(ns, i + 2, size(ns)), "
        "y -> struct(x AS a, y AS b))))")).alias("p"))
    common = (pairs.select("p.a", "p.b")
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).alias("common"))
              .where(F.col("common") >= min_common))
    out = (
        common
        .join(deg.select(F.col("u").alias("a"),
                         F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("u").alias("b"),
                         F.col("deg").alias("deg_b")), "b")
    )
    if exclude_edges:
        out = out.join(sym.select(F.col("u").alias("a"),
                                  F.col("v").alias("b")),
                       ["a", "b"], "left_anti")
    return out.select(
        "a", "b", "common", "deg_a", "deg_b",
        F.col("common").alias("jn"),
        (F.col("deg_a") + F.col("deg_b") - F.col("common")).alias("jd"),
    ).localCheckpoint(eager=True)


def _ppr_step(out_edges: DataFrame, tele: DataFrame, damping: float,
              ranks: DataFrame, _r: int) -> DataFrame:
    """One walk step plus the source-only teleport term."""
    contrib = (
        out_edges.join(ranks, out_edges["s"] == ranks["node"])
        .select(F.col("t").alias("node"),
                (F.col("rank") / F.col("od")).alias("c"))
    )
    walk = (contrib.groupBy("node")
            .agg((damping * F.sum("c")).alias("w")))
    return (walk.join(tele, "node", "full")
            .select("node",
                    (F.coalesce("w", F.lit(0.0))
                     + F.coalesce("tp", F.lit(0.0))).alias("rank")))


def personalized_pagerank(edges: DataFrame, sources: DataFrame,
                          src: str = "src", dst: str = "dst",
                          n_iters: int = 3,
                          damping: float = 0.85) -> DataFrame:
    """Personalized PageRank / random walk with restart (Jeh & Widom
    2003; the entity-relatedness primitive): :func:`pagerank` with the
    teleport mass restricted to a SOURCE set — ``r_{k+1}(v) =
    (1-d)·1[v ∈ S]/|S| + d · Σ_{u→v} r_k(u)/outdeg(u)`` from the
    uniform-over-S start, so rank measures proximity TO the seeds
    ("which KG entities are most related to this query set"), not
    global centrality.

    Same shape as pagerank (undirected symmetrized edges, one
    co-partitioned join + one combinable groupBy-sum per iteration,
    degrees/edges persisted once), plus one full-outer join per round
    folding the walk mass with the source-only teleport term (nodes
    the walk has not reached yet hold rank 0 and stay ABSENT from the
    slim rank frame — the frontier-growth property that makes PPR on
    a 10^12-edge graph from a 10-seed set cheap: the rank frame is
    the reached set, not the node universe).  Fixed ``n_iters`` keeps
    it oracle-deterministic (unrolled SQL twin, driver q160); output
    covers ALL nodes with unreached ones at rank 0, rounded to 6
    decimals like pagerank."""
    if n_iters < 0:
        raise ValueError("n_iters must be >= 0")
    with Iteration() as it:
        sym = it.keep(_both_ways(edges, src, dst))
        out_edges = it.keep(_with_out_degree(sym))
        nodes = sym.select(F.col("s").alias("node")).distinct()
        srcs = it.keep(sources.select(F.col(sources.columns[0]).alias("node"))
                       .distinct())
        n_src = srcs.count()  # one action: sizes the teleport term
        if n_src == 0:
            raise ValueError("sources must name at least one node")
        tele = srcs.withColumn("tp", F.lit((1.0 - damping) / n_src))
        return it.run(
            srcs.withColumn("rank", F.lit(1.0 / n_src)),
            partial(_ppr_step, out_edges, tele, damping), n_iters,
            finish=lambda ranks: nodes.join(ranks, "node", "left").select(
                "node",
                F.round(F.coalesce("rank", F.lit(0.0)), 6).alias("rank")))
