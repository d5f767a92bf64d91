"""Connected components / dedup groups vs a pure-Python union-find twin.

The operator is the group-resolution stage downstream of every near-dup
pair emitter (dedup.py, similarity.py); the reference stops at pairs
(reconciler/__init__.py:126-147), so correctness is pinned against
union-find, the textbook sequential algorithm.
"""

import random

import pytest

from claimskg_generator_spark.operators.components import (
    ComponentsDidNotConverge,
    connected_components,
    dedup_groups,
)


def union_find(edges):
    """node -> min-of-component via sequential union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue  # operator semantics: self loops dropped entirely
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["node"], r["component"])
           for r in connected_components(df, **kw).collect()}
    want = set(union_find(edges).items())
    assert got == want


def test_chain_star_clique_and_selfloop(spark):
    edges = (
        [(i, i + 1) for i in range(10, 20)]        # chain
        + [(100, v) for v in range(101, 106)]      # star (hub = min)
        + [(a, b) for a in range(200, 204) for b in range(a + 1, 204)]
        + [(300, 300)]                             # self loop: dropped
        + [(7, 3)]                                 # reversed order pair
    )
    _run(spark, edges)


def test_min_hidden_behind_larger_nodes(spark):
    # component min reachable only through the largest node
    _run(spark, [(50, 40), (40, 60), (60, 1)])


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 300
        edges = [(rng.randrange(n), rng.randrange(n))
                 for _ in range(n // 2)]  # sparse: many components
        edges = [e for e in edges if e[0] != e[1]]
        _run(spark, edges)


def test_long_chain_converges_in_log_rounds(spark):
    # a 600-node path: naive min-propagation needs ~600 rounds; star
    # rounds must land well inside max_iter=15
    edges = [(i, i + 1) for i in range(600)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df, max_iter=15)
    assert got.where("component != 0").count() == 0
    assert got.count() == 601


def test_string_node_ids(spark):
    edges = [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["node"], r["component"])
           for r in connected_components(df).collect()}
    assert got == {("doc-a", "doc-a"), ("doc-b", "doc-a"),
                   ("doc-c", "doc-a"), ("x", "x"), ("y", "x")}


def test_max_iter_zero_raises(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ComponentsDidNotConverge):
        connected_components(df, max_iter=0)


def test_dedup_groups_representatives(spark):
    """Near-dup pairs -> keep-set: one representative (min id) per
    cluster, all other members map to it."""
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21)], "id_a long, id_b long")
    got = {(r["id"], r["canonical_id"])
           for r in dedup_groups(pairs).collect()}
    assert got == {(3, 3), (5, 3), (9, 3), (20, 20), (21, 20)}
    keep = {i for i, c in got if i == c}
    assert keep == {3, 20}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_canonicalize_sameas_star_form(spark):
    """Pipeline --sameas-canonical: non-sameAs triples unchanged; the
    sameAs edge set becomes the star closure (member -> class-min URI)
    of the pairwise edges the default pipeline emits."""
    from claimskg_generator_spark.constants.namespaces import NS
    from claimskg_generator_spark.plans.pipeline import (
        ClaimsKGPipeline,
        PipelineConfig,
    )
    from claimskg_generator_spark.sources.synth import synthesize_corpus

    corpus = synthesize_corpus(spark, 40, seed=5)
    base = ClaimsKGPipeline(
        spark, PipelineConfig(align_duplicated=True, reconcile_theta=0.3)
    ).triples(corpus)
    canon = ClaimsKGPipeline(
        spark, PipelineConfig(align_duplicated=True, reconcile_theta=0.3,
                              sameas_canonical=True)
    ).triples(corpus)

    is_same = f"pred = '{NS.OWL_SAME_AS}'"
    base_rest = {tuple(r) for r in
                 base.where(f"NOT ({is_same})").collect()}
    canon_rest = {tuple(r) for r in
                  canon.where(f"NOT ({is_same})").collect()}
    assert base_rest == canon_rest

    pairs = [(r["subj"], r["obj"])
             for r in base.where(is_same).collect()]
    assert pairs  # the corpus must actually produce sameAs edges
    want = {(n, c) for n, c in union_find(pairs).items() if n != c}
    got = {(r["subj"], r["obj"]) for r in canon.where(is_same).collect()}
    assert got == want
    # star form never grows the edge set
    assert len(got) <= len(set(pairs))


def test_pagerank_mass_conservation_and_symmetry(spark):
    from claimskg_generator_spark.operators.components import pagerank

    # path graph a-b-c: b is the hub
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src", "dst"]
    )
    out = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=10).collect()}
    # undirected, no dangling nodes -> total mass stays 1
    assert abs(sum(out.values()) - 1.0) < 1e-6
    # symmetry: a and c are interchangeable; the hub outranks both
    assert abs(out["a"] - out["c"]) < 1e-9
    assert out["b"] > out["a"]


def test_pagerank_zero_iters_is_uniform(spark):
    from claimskg_generator_spark.operators.components import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "d")], ["src", "dst"]
    )
    out = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=0).collect()}
    assert all(r == 0.25 for r in out.values())


def test_label_propagation_two_cliques(spark):
    from claimskg_generator_spark.operators.components import (
        label_propagation,
    )

    # two triangles joined by nothing: each converges to its min label
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("x", "y"), ("y", "z"), ("x", "z")],
        ["src", "dst"],
    )
    out = {r["node"]: r["label"]
           for r in label_propagation(edges, n_iters=3).collect()}
    assert out["a"] == out["b"] == out["c"] == "a"
    assert out["x"] == out["y"] == out["z"] == "x"


def test_label_propagation_deterministic_tie_break(spark):
    from claimskg_generator_spark.operators.components import (
        label_propagation,
    )

    # node 'm' sees neighbors 'a' and 'z' once each after iter 1 ->
    # min-label tie-break picks 'a'
    edges = spark.createDataFrame(
        [("a", "m"), ("z", "m")], ["src", "dst"]
    )
    out = {r["node"]: r["label"]
           for r in label_propagation(edges, n_iters=1).collect()}
    assert out["m"] == "a"


def _plan_chars(df):
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def _result_plan_chars(monkeypatch, truncate_every, run):
    """Run ``run()`` with the driver truncating every ``truncate_every``
    rounds; return the optimized-plan size of the frame the driver
    materializes as the result (the returned frame is a checkpoint)."""
    from claimskg_generator_spark.operators import iterate

    seen = []
    checkpoint = iterate._checkpoint

    def spy(df, eager):
        seen.append(_plan_chars(df))
        return checkpoint(df, eager)

    monkeypatch.setattr(iterate, "TRUNCATE_EVERY", truncate_every)
    monkeypatch.setattr(iterate, "_checkpoint", spy)
    out = run()
    monkeypatch.undo()
    return out, seen[-1]


def test_pagerank_deep_iteration_plan_bounded(spark, monkeypatch):
    """VERDICT r4 #4: the rank frame's lineage used to grow linearly in
    n_iters.  With truncation the optimized plan of a 30-iteration
    run must stay bounded (no bigger than a few un-truncated iterations),
    and values must be identical to the un-truncated loop."""
    from pyspark.sql import functions as F

    from claimskg_generator_spark.operators.components import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)],
        "src long, dst long")
    deep, deep_chars = _result_plan_chars(
        monkeypatch, 5, lambda: pagerank(edges, n_iters=30))
    _, unbounded_short = _result_plan_chars(
        monkeypatch, 10**9, lambda: pagerank(edges, n_iters=10))
    assert deep_chars < unbounded_short
    # truncation must not change values: 6 iters with and without it
    a, _ = _result_plan_chars(
        monkeypatch, 2, lambda: pagerank(edges, n_iters=6))
    b, _ = _result_plan_chars(
        monkeypatch, 10**9, lambda: pagerank(edges, n_iters=6))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    total = deep.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-3  # mass conserved through 30 rounds


def test_label_propagation_deep_iteration_plan_bounded(spark, monkeypatch):
    from claimskg_generator_spark.operators.components import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(i, (i + 1) % 9) for i in range(9)], "src long, dst long")
    _, deep = _result_plan_chars(
        monkeypatch, 4, lambda: label_propagation(edges, n_iters=20))
    _, unbounded_short = _result_plan_chars(
        monkeypatch, 10**9, lambda: label_propagation(edges, n_iters=8))
    assert deep < unbounded_short
    a, _ = _result_plan_chars(
        monkeypatch, 2, lambda: label_propagation(edges, n_iters=4))
    b, _ = _result_plan_chars(
        monkeypatch, 10**9, lambda: label_propagation(edges, n_iters=4))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# triangle_count


def _naive_triangles(pairs):
    """Brute-force per-vertex triangle counts over an undirected simple
    graph given as (a, b) pairs (self-loops/duplicates tolerated)."""
    from itertools import combinations

    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tc = {v: 0 for v in adj}
    for u, v, w in combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            tc[u] += 1
            tc[v] += 1
            tc[w] += 1
    return {v: (len(adj[v]), tc[v]) for v in adj}


def test_triangle_count_k4_pendant_and_cycle(spark):
    from claimskg_generator_spark.operators.components import triangle_count

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    c5 = [(10 + i, 10 + (i + 1) % 5) for i in range(5)]
    edges = spark.createDataFrame(k4 + [(3, 4)] + c5, "src long, dst long")
    got = {r["vertex"]: (r["degree"], r["n_triangles"])
           for r in triangle_count(edges).collect()}
    assert got == _naive_triangles(k4 + [(3, 4)] + c5)
    assert got[3] == (4, 3) and got[4] == (1, 0)


def test_triangle_count_random_matches_naive(spark):
    from claimskg_generator_spark.operators.components import triangle_count

    rng = random.Random(17)
    # dense-ish random graph + duplicate/reversed/self edges to exercise
    # canonicalization; a hub vertex to exercise the orientation bound
    pairs = [(rng.randrange(30), rng.randrange(30)) for _ in range(160)]
    pairs += [(b, a) for a, b in pairs[:20]] + [(7, 7)]
    pairs += [(99, i) for i in range(25)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["vertex"]: (r["degree"], r["n_triangles"])
           for r in triangle_count(edges).collect()}
    assert got == _naive_triangles(pairs)


def _naive_kcore(edges, k, rounds=None):
    from collections import Counter

    e, r = list(edges), 0
    while True:
        d = Counter()
        for u, v in e:
            d[u] += 1
            d[v] += 1
        bad = {n for n, c in d.items() if c < k}
        if not bad or (rounds is not None and r >= rounds):
            return dict(d)
        e = [(u, v) for u, v in e if u not in bad and v not in bad]
        r += 1


def test_kcore_peel_random_graphs_match_naive(spark):
    from claimskg_generator_spark.operators.components import kcore_peel

    rng = random.Random(23)
    for trial in range(3):
        n = 40
        edges = {tuple(sorted(rng.sample(range(n), 2)))
                 for _ in range(rng.randrange(40, 90))}
        df = spark.createDataFrame(sorted(edges), "src int, dst int")
        # convergence mode = true k-core
        got = {r.node: r.degree
               for r in kcore_peel(df, k=3).collect()}
        assert got == _naive_kcore(edges, 3)
        # fixed rounds = partial peel
        got1 = {r.node: r.degree
                for r in kcore_peel(df, k=3, n_rounds=1).collect()}
        assert got1 == _naive_kcore(edges, 3, rounds=1)


def test_kcore_peel_cascade_and_empty_core(spark):
    from claimskg_generator_spark.operators.components import kcore_peel

    # a chain peels from both ends, one node pair per round
    chain = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(chain, "src int, dst int")
    assert kcore_peel(df, k=2).isEmpty()
    got1 = {r.node: r.degree
            for r in kcore_peel(df, k=2, n_rounds=1).collect()}
    assert got1 == _naive_kcore(chain, 2, rounds=1)
    # triangle is its own 2-core
    tri = [(0, 1), (1, 2), (0, 2)]
    got = {r.node: r.degree
           for r in kcore_peel(
               spark.createDataFrame(tri, "src int, dst int"), k=2
           ).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_kcore_peel_validates_and_max_rounds(spark):
    from claimskg_generator_spark.operators.components import kcore_peel

    df = spark.createDataFrame([(i, i + 1) for i in range(6)],
                               "src int, dst int")
    with pytest.raises(ValueError):
        kcore_peel(df, k=0)
    with pytest.raises(ValueError):
        kcore_peel(df, k=2, n_rounds=-1)
    with pytest.raises(RuntimeError):
        kcore_peel(df, k=2, max_rounds=1).collect()


def test_knn_graph_hand_computed(spark):
    from claimskg_generator_spark.operators.similarity import knn_graph

    # four unit-ish vectors on a line: nearest neighbor chains
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [0.1, 0.9])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {(r.src, r.dst) for r in knn_graph(df, k=1).collect()}
    assert got == {(0, 1), (2, 3)}
    with pytest.raises(ValueError):
        knn_graph(df, k=0)


# --------------------------------------------------------------------------
# bfs_layers
# --------------------------------------------------------------------------

def _bfs(spark, edges, seeds, **kw):
    from claimskg_generator_spark.operators.components import bfs_layers

    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(n,) for n in seeds], "node long")
    return {r["node"]: r["dist"]
            for r in bfs_layers(e, s, **kw).collect()}


def test_bfs_chain_distances(spark):
    got = _bfs(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], [1])
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_multi_source_takes_min_and_isolated_seed(spark):
    # 9 is a seed with no edges; node 3 is closer to seed 5 than seed 1
    got = _bfs(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], [1, 5, 9])
    assert got == {1: 0, 5: 0, 9: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_directed_vs_undirected(spark):
    edges = [(1, 2), (2, 3)]
    assert _bfs(spark, edges, [3], directed=True) == {3: 0}
    assert _bfs(spark, edges, [3]) == {3: 0, 2: 1, 1: 2}


def test_bfs_fixed_rounds_truncates(spark):
    got = _bfs(spark, [(1, 2), (2, 3), (3, 4)], [1], n_rounds=2)
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_fixed_matches_converged_and_random_naive(spark):
    import random
    from collections import deque

    rng = random.Random(23)
    edges = [(rng.randrange(0, 40), rng.randrange(0, 40))
             for _ in range(70)]
    seeds = [0, 7]
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want, dq = {s: 0 for s in seeds}, deque(seeds)
    while dq:
        n = dq.popleft()
        for nb in adj.get(n, ()):
            if nb not in want:
                want[nb] = want[n] + 1
                dq.append(nb)
    assert _bfs(spark, edges, seeds) == want
    assert _bfs(spark, edges, seeds, n_rounds=45) == want


def test_bfs_nonconvergence_raises_and_validates(spark):
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="frontier"):
        _bfs(spark, [(1, 2), (2, 3), (3, 4)], [1], max_rounds=2)
    with _pytest.raises(ValueError, match="n_rounds"):
        _bfs(spark, [(1, 2)], [1], n_rounds=-1)


# -------------------------------------------------------------- smush

OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
SCHEMA4 = "subj string, pred string, obj string, okind string"


def _smush(spark, rows, **kw):
    from claimskg_generator_spark.operators.components import smush_sameas

    df = spark.createDataFrame(rows, SCHEMA4)
    out = smush_sameas(df, **kw)
    return {(r.subj, r.pred, r.obj, r.okind) for r in out.collect()}


def test_smush_rewrites_chained_aliases_onto_representative(spark):
    # a <-> b <-> c form ONE class even though no direct a-c edge exists
    rows = [
        ("b", OWL_SAME_AS, "a", "uri"),
        ("b", OWL_SAME_AS, "c", "uri"),
        ("c", "knows", "z", "uri"),
        ("z", "knows", "b", "uri"),
        ("a", "name", "Ann", ""),       # literal object: never rewritten
        ("c", "name", "Ann", ""),       # collapses with the row above
    ]
    got = _smush(spark, rows)
    assert got == {
        ("a", "knows", "z", "uri"),
        ("z", "knows", "a", "uri"),
        ("a", "name", "Ann", ""),
        ("b", OWL_SAME_AS, "a", "uri"),   # provenance star
        ("c", OWL_SAME_AS, "a", "uri"),
    }


def test_smush_literal_object_matching_alias_uri_is_kept(spark):
    # an okind='' literal whose TEXT equals an alias URI must survive
    rows = [
        ("b", OWL_SAME_AS, "a", "uri"),
        ("x", "note", "b", ""),
    ]
    got = _smush(spark, rows, keep_links=False)
    assert got == {("x", "note", "b", "")}


def test_smush_idempotent_and_droplinks(spark):
    rows = [
        ("b", OWL_SAME_AS, "a", "uri"),
        ("b", "p", "q", "uri"),
        ("a", "p", "q", "uri"),
    ]
    once = _smush(spark, rows)
    assert once == {("a", "p", "q", "uri"), ("b", OWL_SAME_AS, "a", "uri")}
    again = _smush(spark, [list(t) for t in sorted(once)])
    assert again == once
    assert _smush(spark, rows, keep_links=False) == {("a", "p", "q", "uri")}


def test_smush_no_sameas_is_identity(spark):
    rows = [("a", "p", "b", "uri"), ("a", "q", "lit", "")]
    assert _smush(spark, rows) == set(map(tuple, rows))


def test_smush_without_okind_column_rewrites_all_matching_objs(spark):
    from claimskg_generator_spark.operators.components import smush_sameas

    df = spark.createDataFrame(
        [("b", OWL_SAME_AS, "a"), ("x", "knows", "b")],
        "subj string, pred string, obj string")
    got = {(r.subj, r.pred, r.obj) for r in smush_sameas(df).collect()}
    assert got == {("x", "knows", "a"), ("b", OWL_SAME_AS, "a")}


# --------------------------------------------------------------------------
# random_walks (deterministic DeepWalk corpus)
# --------------------------------------------------------------------------

def _python_walks(edges, walk_length, num_walks, seed):
    import hashlib

    adj = {}
    for s, d in sorted(set(edges)):
        adj.setdefault(s, []).append(d)
    out = {}
    for n in sorted({x for e in edges for x in e}):
        for w in range(num_walks):
            cur, walk = n, [n]
            for step in range(1, walk_length):
                nb = adj.get(cur)
                if not nb:
                    break
                h = int(hashlib.md5(
                    f"{seed}:{n}:{w}:{step}".encode()).hexdigest()[:15],
                    16)
                cur = nb[h % len(nb)]
                walk.append(cur)
            out[(n, w)] = (" ".join(walk), len(walk))
    return out


def test_random_walks_match_python_twin(spark):
    from claimskg_generator_spark.operators.components import random_walks

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"),
             ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["start"], r["walk_idx"]): (r["walk"], r["n_nodes"])
           for r in random_walks(df, 6, 3, seed="t").collect()}
    assert got == _python_walks(edges, 6, 3, "t")


def test_random_walks_sink_ends_early_and_deterministic(spark):
    from claimskg_generator_spark.operators.components import random_walks

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    rows = sorted(map(tuple,
                      random_walks(df, 5, 1, seed="x").collect()))
    # a walks to the sink b and stops; b never moves
    assert rows == [("a", 0, "a b", 2), ("b", 0, "b", 1)]
    # same seed => identical corpus on re-run (retry stability)
    again = sorted(map(tuple,
                       random_walks(df, 5, 1, seed="x").collect()))
    assert again == rows
    # different seed changes picks on a branching graph
    df2 = spark.createDataFrame(
        [("a", f"n{i}") for i in range(10)], "src string, dst string")
    w1 = random_walks(df2, 2, 1, seed="s1").collect()
    w2 = random_walks(df2, 2, 1, seed="s2").collect()
    a1 = next(r["walk"] for r in w1 if r["start"] == "a")
    a2 = next(r["walk"] for r in w2 if r["start"] == "a")
    assert a1 != a2


def test_random_walks_validates_args(spark):
    from claimskg_generator_spark.operators.components import random_walks

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="walk_length"):
        random_walks(df, 0, 1)
    with pytest.raises(ValueError, match="num_walks"):
        random_walks(df, 2, 0)


# --------------------------------------------------------------------------
# biased_random_walks (node2vec-style second-order corpus)
# --------------------------------------------------------------------------

def _python_biased_walks(edges, walk_length, num_walks, seed,
                         w_return, w_inward, w_outward):
    import hashlib

    adj = {}
    for s, d in sorted(set(edges)):
        adj.setdefault(s, []).append(d)
    eset = set(edges)

    def h60(n, w, step):
        return int(hashlib.md5(
            f"{seed}:{n}:{w}:{step}".encode()).hexdigest()[:15], 16)

    out = {}
    for n in sorted({x for e in edges for x in e}):
        for w in range(num_walks):
            prev, cur, walk = None, n, [n]
            for step in range(1, walk_length):
                nb = adj.get(cur)
                if not nb:
                    break
                if step == 1:
                    nxt = nb[h60(n, w, step) % len(nb)]
                else:
                    wts = [w_return if x == prev
                           else w_inward if (prev, x) in eset
                           else w_outward for x in nb]
                    r = h60(n, w, step) % sum(wts)
                    cum = 0
                    for x, wt in zip(nb, wts):
                        cum += wt
                        if r < cum:
                            nxt = x
                            break
                prev, cur = cur, nxt
                walk.append(cur)
            out[(n, w)] = (" ".join(walk), len(walk))
    return out


def test_biased_walks_match_python_twin(spark):
    from claimskg_generator_spark.operators.components import (
        biased_random_walks,
    )

    edges = [("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("b", "d"),
             ("c", "a"), ("c", "d"), ("d", "e"), ("e", "a"), ("e", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for wr, wi, wo in ((1, 4, 2), (6, 1, 1), (1, 1, 1)):
        got = {(r["start"], r["walk_idx"]): (r["walk"], r["n_nodes"])
               for r in biased_random_walks(
                   df, 5, 2, w_return=wr, w_inward=wi, w_outward=wo,
                   seed="bt").collect()}
        assert got == _python_biased_walks(edges, 5, 2, "bt", wr, wi, wo)


def test_biased_walks_bias_actually_biases(spark):
    """With an overwhelming return weight every second hop goes back;
    with an overwhelming outward weight (from a graph where the
    in-class exists) the picks differ — the classes are live."""
    from claimskg_generator_spark.operators.components import (
        biased_random_walks,
    )

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("b", "d"), ("c", "a"),
             ("a", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    ret = {r["start"]: r["walk"] for r in biased_random_walks(
        df, 3, 1, w_return=1000000, w_inward=1, w_outward=1,
        seed="rb").collect()}
    # a's first hop is uniform; its second hop returns to where it
    # came from under the crushing return weight
    first_hop = ret["a"].split()[1]
    assert ret["a"].split()[2] == "a" or first_hop not in ("b", "c")
    assert ret["a"] == f"a {first_hop} a"


def test_biased_walks_sink_and_guards(spark):
    from claimskg_generator_spark.operators.components import (
        biased_random_walks,
    )

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    rows = sorted(map(tuple, biased_random_walks(
        df, 5, 1, seed="x").collect()))
    assert rows == [("a", 0, "a b", 2), ("b", 0, "b", 1)]
    with pytest.raises(ValueError, match="walk_length"):
        biased_random_walks(df, 0, 1)
    with pytest.raises(ValueError, match="w_return"):
        biased_random_walks(df, 2, 1, w_return=0)
    with pytest.raises(ValueError, match="node2vec p/q"):
        biased_random_walks(df, 2, 1, w_outward=0.5)


# --------------------------------------------------- WL refinement


def _wl_py(rows, n_iters=2):
    import hashlib

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    nodes = {s for s, _, _ in rows} | {o for _, _, o in rows}
    color = {v: h("") for v in nodes}
    for _ in range(n_iters):
        msgs = {v: [] for v in nodes}
        for (s, p, o) in rows:
            msgs[s].append(f"o:{p}:{color[o]}")
            msgs[o].append(f"i:{p}:{color[s]}")
        color = {v: h(color[v] + "#" + ",".join(sorted(msgs[v])))
                 for v in nodes}
    return color


def test_wl_colors_match_python_twin(spark):
    from claimskg_generator_spark.operators.components import wl_colors

    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a"),
            ("d", "p", "a")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {r["node"]: r["color"] for r in wl_colors(df, 2).collect()}
    assert got == _wl_py(rows, 2)


def test_wl_roles_distinguish_path_positions(spark):
    from claimskg_generator_spark.operators.components import wl_colors

    # path a->b->c: after 2 rounds the two ends differ from the middle
    # and from each other (head has only out, tail only in)
    df = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")],
        "subj string, pred string, obj string")
    got = {r["node"]: r["color"] for r in wl_colors(df, 2).collect()}
    assert len({got["a"], got["b"], got["c"]}) == 3


def test_wl_fingerprint_isomorphism_invariant(spark):
    from claimskg_generator_spark.operators.components import (
        wl_fingerprint,
    )

    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a")]
    iso = [("x", "p", "y"), ("y", "p", "z"), ("z", "q", "x")]
    schema = "subj string, pred string, obj string"
    f1 = wl_fingerprint(spark.createDataFrame(rows, schema)).collect()[0]
    f2 = wl_fingerprint(spark.createDataFrame(iso, schema)).collect()[0]
    assert tuple(f1) == tuple(f2)
    # a structural change (extra edge) breaks it
    f3 = wl_fingerprint(spark.createDataFrame(
        rows + [("a", "p", "c")], schema)).collect()[0]
    assert tuple(f3) != tuple(f1)
    assert f3["n_nodes"] == 3 and f1["n_nodes"] == 3


def test_wl_fingerprint_fold_matches_colors(spark):
    from claimskg_generator_spark.operators.components import (
        wl_colors,
        wl_fingerprint,
    )
    from functools import reduce

    rows = [("a", "p", "b"), ("b", "q", "c"), ("d", "p", "b")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    colors = [r["color"] for r in wl_colors(df, 2).collect()]
    hs = [int(c[:15], 16) for c in colors]
    fp = wl_fingerprint(df, 2).collect()[0]
    assert fp["n_nodes"] == len(colors)
    assert fp["n_roles"] == len(set(colors))
    assert fp["xor_h"] == reduce(lambda a, b: a ^ b, hs)
    assert fp["sum_h"] == str(sum(hs))


def test_wl_refinement_is_monotone(spark):
    from claimskg_generator_spark.operators.components import wl_colors

    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
            ("d", "p", "e"), ("x", "p", "b")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    n = [len({r["color"] for r in wl_colors(df, k).collect()})
         for k in (1, 2, 3)]
    assert n[0] <= n[1] <= n[2]


def test_wl_validation(spark):
    from claimskg_generator_spark.operators.components import wl_colors

    df = spark.createDataFrame(
        [("a", "p", "b")], "subj string, pred string, obj string")
    with pytest.raises(ValueError, match="n_iters"):
        wl_colors(df, 0)


# ----------------------------------------------- weighted shortest paths


def _bf_py(edges, sources, k):
    dist = {s: 0 for s in sources}
    for _ in range(k):
        nd = dict(dist)
        for (u, v, w) in edges:
            if u in dist and dist[u] + w < nd.get(v, float("inf")):
                nd[v] = min(nd.get(v, float("inf")), dist[u] + w)
        dist = nd
    return dist


def test_shortest_paths_match_python_twin(spark):
    from claimskg_generator_spark.operators.components import (
        shortest_paths,
    )

    edges = [("a", "b", 5), ("b", "c", 1), ("a", "c", 10),
             ("c", "d", 2), ("a", "d", 20), ("d", "e", 1)]
    e = spark.createDataFrame(edges, "src string, dst string, w long")
    s = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"]
           for r in shortest_paths(e, s, n_rounds=4).collect()}
    assert got == _bf_py(edges, {"a"}, 4)
    # the cheap 3-hop a->b->c->d (8) beats both direct edges
    assert got["d"] == 8 and got["e"] == 9


def test_shortest_paths_fixed_rounds_bound_path_length(spark):
    from claimskg_generator_spark.operators.components import (
        shortest_paths,
    )

    edges = [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)]
    e = spark.createDataFrame(edges, "src string, dst string, w long")
    s = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"]
           for r in shortest_paths(e, s, n_rounds=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}   # d needs 3 edges


def test_shortest_paths_convergence_equals_fixed(spark):
    from claimskg_generator_spark.operators.components import (
        shortest_paths,
    )

    edges = [("a", "b", 3), ("b", "c", 3), ("a", "c", 7),
             ("c", "a", 1), ("c", "d", 2)]
    e = spark.createDataFrame(edges, "src string, dst string, w long")
    s = spark.createDataFrame([("a",)], "node string")
    conv = sorted(map(tuple, shortest_paths(e, s).collect()))
    fixed = sorted(map(tuple, shortest_paths(e, s, n_rounds=10).collect()))
    assert conv == fixed


def test_shortest_paths_multi_source_and_isolated(spark):
    from claimskg_generator_spark.operators.components import (
        shortest_paths,
    )

    edges = [("a", "b", 2), ("x", "b", 1)]
    e = spark.createDataFrame(edges, "src string, dst string, w long")
    s = spark.createDataFrame([("a",), ("x",), ("lone",)], "node string")
    got = {r["node"]: r["dist"]
           for r in shortest_paths(e, s, n_rounds=3).collect()}
    assert got == {"a": 0, "x": 0, "lone": 0, "b": 1}


def test_shortest_paths_undirected(spark):
    from claimskg_generator_spark.operators.components import (
        shortest_paths,
    )

    e = spark.createDataFrame([("a", "b", 4)],
                              "src string, dst string, w long")
    s = spark.createDataFrame([("b",)], "node string")
    got = {r["node"]: r["dist"]
           for r in shortest_paths(e, s, n_rounds=2,
                                   directed=False).collect()}
    assert got == {"b": 0, "a": 4}


def test_shortest_paths_guards(spark):
    from claimskg_generator_spark.operators.components import (
        shortest_paths,
    )

    e = spark.createDataFrame([("a", "b", 1), ("b", "c", 1),
                               ("c", "d", 1)],
                              "src string, dst string, w long")
    s = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError, match="n_rounds"):
        shortest_paths(e, s, n_rounds=-1)
    with pytest.raises(RuntimeError, match="did not converge"):
        shortest_paths(e, s, max_rounds=1)


# ----------------------------------------------- HITS hubs/authorities


def _hits_py(edges, k=2):
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    e = set(edges)
    hub = {n: 1 for n in nodes}
    auth = {n: 0 for n in nodes}
    for _ in range(k):
        auth = {n: sum(hub[u] for (u, v) in e if v == n) for n in nodes}
        hub = {n: sum(auth[v] for (u, v) in e if u == n) for n in nodes}
    return {n: (str(hub[n]), str(auth[n])) for n in nodes}


def test_hits_match_python_twin(spark):
    from claimskg_generator_spark.operators.components import hits_scores

    edges = [("a", "m1"), ("b", "m1"), ("b", "m2"), ("c", "m2"),
             ("m1", "root"), ("m2", "root")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: (r["hub"], r["auth"])
           for r in hits_scores(df, n_iters=2).collect()}
    assert got == _hits_py(edges, 2)


def test_hits_sink_and_source_zero_scores(spark):
    from claimskg_generator_spark.operators.components import hits_scores

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r["node"]: (r["hub"], r["auth"])
           for r in hits_scores(df, n_iters=1).collect()}
    # a: hub = auth(b) = 1, never an authority; b: the dual
    assert got == {"a": ("1", "0"), "b": ("0", "1")}


def test_hits_duplicate_edges_collapse(spark):
    from claimskg_generator_spark.operators.components import hits_scores

    one = spark.createDataFrame([("a", "b"), ("a", "c")],
                                "src string, dst string")
    dup = spark.createDataFrame([("a", "b"), ("a", "b"), ("a", "c")],
                                "src string, dst string")
    assert sorted(map(tuple, hits_scores(one, 2).collect())) == \
        sorted(map(tuple, hits_scores(dup, 2).collect()))


def test_hits_guard(spark):
    from claimskg_generator_spark.operators.components import hits_scores

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="n_iters"):
        hits_scores(df, n_iters=0)


# ----------------------------------------------- neighborhood Jaccard


def _nj_py(edges, min_common=1, max_degree=None, exclude=True):
    from collections import defaultdict

    nbr = defaultdict(set)
    for (u, v) in edges:
        if u != v:
            nbr[u].add(v)
            nbr[v].add(u)
    common = defaultdict(int)
    for w, ns in nbr.items():
        if max_degree is not None and len(ns) > max_degree:
            continue
        ns = sorted(ns)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                common[(ns[i], ns[j])] += 1
    out = {}
    for (a, b), c in common.items():
        if c < min_common:
            continue
        if exclude and b in nbr[a]:
            continue
        da, db = len(nbr[a]), len(nbr[b])
        out[(a, b)] = (c, da, db, c, da + db - c)
    return out


def test_neighbor_jaccard_match_python_twin(spark):
    from claimskg_generator_spark.operators.components import (
        neighbor_jaccard,
    )

    edges = [("a", "w"), ("b", "w"), ("a", "x"), ("b", "x"),
             ("c", "w"), ("a", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["a"], r["b"]): (r["common"], r["deg_a"], r["deg_b"],
                              r["jn"], r["jd"])
           for r in neighbor_jaccard(df, min_common=1).collect()}
    assert got == _nj_py(edges, 1)
    # (a, b) share w and x but ARE adjacent -> excluded; (a, c)/(b, c)
    # share only w
    assert ("a", "b") not in got and got[("a", "c")][0] == 1


def test_neighbor_jaccard_include_edges(spark):
    from claimskg_generator_spark.operators.components import (
        neighbor_jaccard,
    )

    edges = [("a", "w"), ("b", "w"), ("a", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["a"], r["b"]): (r["jn"], r["jd"])
           for r in neighbor_jaccard(df, exclude_edges=False).collect()}
    # a: {w, b}, b: {w, a}, common {w} -> jacc 1/3
    assert got[("a", "b")] == (1, 3)


def test_neighbor_jaccard_hub_cap_drops_pairs(spark):
    from claimskg_generator_spark.operators.components import (
        neighbor_jaccard,
    )

    edges = [("a", "hub"), ("b", "hub"), ("c", "hub"),
             ("a", "w"), ("b", "w")]
    df = spark.createDataFrame(edges, "src string, dst string")
    capped = {(r["a"], r["b"]): r["common"]
              for r in neighbor_jaccard(df, max_degree=2).collect()}
    # hub has degree 3 > cap: it generates no pairs itself — (a, b)
    # now share only w; (hub, w) still co-occur through a and b,
    # whose degrees are within the cap
    assert capped == {("a", "b"): 1, ("hub", "w"): 2}
    assert capped == {k: v[0] for k, v in
                      _nj_py(edges, 1, max_degree=2).items()}
    full = {(r["a"], r["b"]): r["common"]
            for r in neighbor_jaccard(df).collect()}
    assert full[("a", "b")] == 2 and ("a", "c") in full


def test_neighbor_jaccard_guards(spark):
    from claimskg_generator_spark.operators.components import (
        neighbor_jaccard,
    )

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="min_common"):
        neighbor_jaccard(df, min_common=0)
    with pytest.raises(ValueError, match="max_degree"):
        neighbor_jaccard(df, max_degree=1)


# ----------------------------------------------- personalized PageRank


def _ppr_py(edges, seeds, k=3, d=0.85):
    sym = [(u, v) for (u, v) in edges] + [(v, u) for (u, v) in edges]
    od = {}
    for (u, _) in sym:
        od[u] = od.get(u, 0) + 1
    nodes = set(od)
    r = {s: 1.0 / len(seeds) for s in seeds}
    for _ in range(k):
        w = {}
        for (u, v) in sym:
            if u in r:
                w[v] = w.get(v, 0.0) + d * r[u] / od[u]
        r = dict(w)
        for s in seeds:
            r[s] = r.get(s, 0.0) + (1 - d) / len(seeds)
    return {n: round(r.get(n, 0.0), 6) for n in nodes}


def test_ppr_match_python_twin(spark):
    from claimskg_generator_spark.operators.components import (
        personalized_pagerank,
    )

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
             ("x", "y")]
    e = spark.createDataFrame(edges, "src string, dst string")
    s = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["rank"]
           for r in personalized_pagerank(e, s, n_iters=3).collect()}
    exp = _ppr_py(edges, ["a"], 3)
    assert got.keys() == exp.keys()
    for n in exp:
        # Spark rounds HALF_UP, python round() is banker's — allow
        # one quantum at the 6th decimal (the value oracle pins the
        # exact rounding against DuckDB, which matches Spark)
        assert abs(got[n] - exp[n]) <= 1.000001e-6, n


def test_ppr_disconnected_component_gets_zero(spark):
    from claimskg_generator_spark.operators.components import (
        personalized_pagerank,
    )

    e = spark.createDataFrame([("a", "b"), ("x", "y")],
                              "src string, dst string")
    s = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["rank"]
           for r in personalized_pagerank(e, s, n_iters=3).collect()}
    assert got["x"] == 0.0 and got["y"] == 0.0
    assert got["a"] > 0 and got["b"] > 0


def test_ppr_mass_conserved_no_dangling(spark):
    from claimskg_generator_spark.operators.components import (
        personalized_pagerank,
    )

    # undirected symmetrization leaves no dangling nodes, so walk
    # mass is conserved: ranks sum to 1 on the seed component
    e = spark.createDataFrame([("a", "b"), ("b", "c")],
                              "src string, dst string")
    s = spark.createDataFrame([("a",), ("c",)], "node string")
    total = sum(r["rank"] for r in
                personalized_pagerank(e, s, n_iters=4).collect())
    assert abs(total - 1.0) < 1e-5


def test_ppr_guards(spark):
    from claimskg_generator_spark.operators.components import (
        personalized_pagerank,
    )

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    empty = spark.createDataFrame([], "node string")
    with pytest.raises(ValueError, match="at least one node"):
        personalized_pagerank(e, empty)
    s = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError, match="n_iters"):
        personalized_pagerank(e, s, n_iters=-1)


# ------------------------------------------- the shared iteration driver


def test_shortest_paths_long_chain_plan_stays_flat(spark):
    """Each round reads the previous dist frame from three branches;
    unless the driver materializes every round, the plan roughly
    triples per round and a 12-edge chain exhausts the driver heap."""
    from claimskg_generator_spark.operators.components import (
        shortest_paths,
    )

    e = spark.createDataFrame([(i, i + 1, 1) for i in range(12)],
                              "src long, dst long, w long")
    s = spark.createDataFrame([(0,)], "node long")
    for n_rounds in (12, None):
        got = {r["node"]: r["dist"]
               for r in shortest_paths(e, s, n_rounds=n_rounds).collect()}
        assert got == {i: i for i in range(13)}, n_rounds


def _ring(spark):
    nodes = "abcdefgh"
    return spark.createDataFrame(
        [(nodes[i], nodes[(i + 1) % 8]) for i in range(8)] + [("a", "e")],
        "src string, dst string")


def _seeds(spark):
    return spark.createDataFrame([("a",)], "node string")


def _iterative_operators():
    from claimskg_generator_spark.operators import components as c
    from claimskg_generator_spark.operators.bpe import bpe_train
    from claimskg_generator_spark.operators.sparql import path_closure

    return {
        "connected_components": lambda sp: c.connected_components(_ring(sp)),
        "pagerank": lambda sp: c.pagerank(_ring(sp)),
        "label_propagation": lambda sp: c.label_propagation(_ring(sp)),
        "kcore_peel": lambda sp: c.kcore_peel(_ring(sp), k=2),
        "bfs_layers": lambda sp: c.bfs_layers(_ring(sp), _seeds(sp)),
        "random_walks": lambda sp: c.random_walks(_ring(sp), 3, 2),
        "biased_random_walks":
            lambda sp: c.biased_random_walks(_ring(sp), 3, 2),
        "wl_colors": lambda sp: c.wl_colors(_ring(sp).selectExpr(
            "src AS subj", "'p' AS pred", "dst AS obj")),
        "shortest_paths": lambda sp: c.shortest_paths(
            _ring(sp).selectExpr("*", "1L AS w"), _seeds(sp)),
        "hits_scores": lambda sp: c.hits_scores(_ring(sp)),
        "personalized_pagerank":
            lambda sp: c.personalized_pagerank(_ring(sp), _seeds(sp)),
        "path_closure": lambda sp: path_closure(_ring(sp), max_hops=4),
        "bpe_train": lambda sp: bpe_train(sp.createDataFrame(
            [("low lower lowest",)], "text string"), 4)[1],
    }


@pytest.mark.parametrize("name", list(_iterative_operators()))
def test_iterative_operator_leaves_no_cache(spark, name):
    spark.catalog.clearCache()
    _iterative_operators()[name](spark).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
