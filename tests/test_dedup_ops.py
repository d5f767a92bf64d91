"""Dedup/similarity operators on a controlled corpus with known duplicates
(the shared testdata has no real near-dups, so we plant them)."""

import pytest
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from claimskg_generator_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the old wooden fence near the river bank in the morning light"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("morning", "evening")),          # near dup
        (3, BASE.replace("quick", "slow").replace("dog", "wolf")),  # near dup
        (4, "completely different text about spark dataframes and shuffles "
            "with partitions and codegen and adaptive execution plans"),
        (5, "another unrelated document mentioning parquet files pushdown "
            "statistics bloom filters and column pruning strategies"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    got = {r["doc_id"]: r for r in exact_duplicates(docs).collect()}
    assert got[1]["survivor_id"] == 0 and got[1]["is_duplicate"] == 1
    assert got[0]["is_duplicate"] == 0
    assert got[4]["survivor_id"] == 4


def test_ngram_jaccard_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_agrees_with_exact(spark, docs):
    got = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs(docs, verify_threshold=0.3).collect()}
    # exact duplicates always collide in every band
    assert (0, 1) in got
    # verified jaccard filter keeps it honest
    assert not any(4 in p or 5 in p for p in got)


def test_simhash_near_dups(spark, docs):
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_dups(docs, max_hamming=10).collect()}
    assert got[(0, 1)] == 0
    assert (0, 2) in got
    assert (4, 5) not in got


def test_simhash_wide_keys_exact_recall(spark):
    """Wide-key (block-combination) candidate generation finds EXACTLY the
    pairs a brute-force hamming scan over the signatures finds — recall is
    pigeonhole-guaranteed, not probabilistic — and agrees with the default
    single-block keying."""
    from claimskg_generator_spark.operators.dedup import simhash_signatures

    # organic corpus with planted token-level perturbations so several
    # signature pairs land within a few bits of each other
    base_tokens = ("alpha beta gamma delta epsilon zeta eta theta iota "
                   "kappa lambda mu nu xi omicron pi rho sigma tau").split()
    rows = []
    import random

    rng = random.Random(5)
    for i in range(60):
        toks = list(base_tokens)
        for _ in range(rng.randrange(0, 3)):
            toks[rng.randrange(len(toks))] = f"w{rng.randrange(8)}"
        rows.append((i, " ".join(toks)))
    docs6 = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash_signatures(docs6, n_chunks=6).collect()}
    brute = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3:
                brute.add((a, b))

    wide = {(r["id_a"], r["id_b"])
            for r in simhash_near_dups(docs6, max_hamming=3,
                                       n_blocks=6).collect()}
    narrow = {(r["id_a"], r["id_b"])
              for r in simhash_near_dups(docs6, max_hamming=3).collect()}
    assert brute, "fixture produced no hamming<=3 pairs; adjust perturbation"
    assert wide == brute
    assert narrow == brute


def test_simhash_n_blocks_validation(spark, docs):
    with pytest.raises(ValueError):
        simhash_near_dups(docs, max_hamming=3, n_blocks=3)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0]),   # ~cos 0.99 with 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.98, 0.2]),
        (4, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ranks(spark, vecs):
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in cosine_topk(vecs, [0], k=2).collect()}
    assert got[(0, 1)] == 1
    assert got[(0, 2)] in (2, 3, 4)


def test_lsh_cosine_pairs(spark, vecs):
    got = {(r["id_a"], r["id_b"]) for r in
           lsh_cosine_pairs(vecs, bands=2, planes_per_band=2,
                            threshold=0.9, dim=3).collect()}
    # LSH buckets are probabilistic per plane draw, but identical-direction
    # vectors always share a bucket
    assert (0, 1) in got or (2, 3) in got


def test_lsh_cosine_planted_pair_recall(spark):
    """Multi-band recall: a planted near-identical pair (cos ~0.999) must
    be found, and colinear duplicates are found in EVERY band draw.  With
    8 bands x 8 planes the planted pair's miss probability is
    (1 - p^8)^8 with p = 1 - acos(0.999)/pi ~ 0.986 -> ~1e-8, so this is
    deterministic in practice across seeds."""
    import math
    import random

    rng = random.Random(3)
    dim = 16
    rows = []
    for i in range(40):
        rows.append((i, [rng.gauss(0.0, 1.0) for _ in range(dim)]))
    base = rows[7][1]
    # planted near-dup: tiny perturbation of vector 7
    near = [x + rng.gauss(0.0, 0.01) for x in base]
    rows.append((100, near))
    # planted exact-direction dup (scaled copy): same sign pattern always
    rows.append((101, [2.5 * x for x in base]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dot = sum(a * b for a, b in zip(base, near))
    na = math.sqrt(sum(a * a for a in base))
    nb = math.sqrt(sum(b * b for b in near))
    assert dot / (na * nb) > 0.99
    for seed in (11, 12, 13):
        got = {(r["id_a"], r["id_b"]) for r in
               lsh_cosine_pairs(vecs, bands=8, planes_per_band=8,
                                threshold=0.98, seed=seed, dim=dim).collect()}
        assert (7, 100) in got, f"planted near-pair missed at seed {seed}"
        assert (7, 101) in got  # colinear: guaranteed, not probabilistic

def test_ivf_topk_probes_subset_and_finds_neighbors(spark, vecs):
    """IVF with sampled centroids: results are exact top-k within the
    probed lists; with full probing it equals brute force."""
    from claimskg_generator_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    # n_centroids >= corpus -> every vector is a centroid; n_probe >=
    # #centroids -> candidates = whole corpus -> must equal brute force
    brute = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in cosine_topk(vecs, [0], k=3).collect()}
    full = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_topk(vecs, [0], k=3, n_centroids=1000,
                              n_probe=100).collect()}
    assert full == brute

    # restricted probing returns a subset of the probed lists only
    few = ivf_topk(vecs, [0], k=3, n_centroids=2, n_probe=1).collect()
    assert 0 < len(few) <= 3
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in few)


@pytest.fixture(scope="module")
def planted_corpus(spark):
    """Bimodal corpus for prod-vs-twin pinning: 20 base docs with disjoint
    random vocab (cross-pair jaccard ~0, simhash hamming ~32), each with an
    exact duplicate, and 6 with a heavy near-duplicate (2 tokens swapped of
    60 -> 3-gram jaccard ~0.9, candidate-miss probability < 1e-2 per band
    family at 8x4 banding; seeds are fixed so the outcome is deterministic)."""
    import random

    rng = random.Random(42)
    rows, planted = [], set()
    did = 0
    for b in range(20):
        toks = [f"b{b}w{rng.randrange(10**6)}" for _ in range(60)]
        base_id = did
        rows.append((did, " ".join(toks))); did += 1
        rows.append((did, " ".join(toks)))  # exact dup
        planted.add((base_id, did)); did += 1
        if b < 6:
            near = list(toks)
            near[10] = "swapped"
            near[40] = "tokens"
            rows.append((did, " ".join(near)))
            planted.add((base_id, did)); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return docs, planted


def test_minhash_prod_recalls_and_matches_twin(spark, planted_corpus):
    """VERDICT r3 item 3: the production xxhash64 MinHash path (q28) (a)
    recalls every planted duplicate pair and (b) produces the SAME accepted
    pair set as the md5 checkable twin (q17) at equal thresholds — both
    verify candidates with hash-independent exact n-gram Jaccard, so any
    divergence would be a candidate-generation bug, not hash noise."""
    from claimskg_generator_spark.operators.dedup import (
        minhash_lsh_pairs_checkable,
    )

    docs, planted = planted_corpus
    prod = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()}
    twin = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs_checkable(
                docs, verify_threshold=0.5).collect()}
    missing = planted - set(prod)
    assert not missing, f"prod path missed planted pairs: {missing}"
    assert prod == twin  # same pairs AND same verified jaccard values


def test_simhash_prod_recalls_and_matches_twin(spark, planted_corpus):
    """VERDICT r3 item 3, SimHash (q29 vs q18): exact duplicates hash to
    hamming 0 under ANY token hash and unrelated disjoint-vocab docs sit
    ~32 bits apart, so at max_hamming=3 the prod xxhash64 path and the md5
    twin must accept exactly the planted exact-duplicate pairs."""
    from claimskg_generator_spark.operators.dedup import md5_token_hash64

    docs, planted = planted_corpus
    exact_planted = {
        (a, b) for a, b in planted
        if docs.filter(F.col("doc_id").isin([a, b]))
               .select("text").distinct().count() == 1
    }
    # drop the token-swap near-dups: they sit AT the hamming boundary where
    # the two hash families legitimately disagree (e.g. hamming 3 under md5
    # vs 4 under xxhash64); the equality claim is about the path, not about
    # hash-family agreement on boundary pairs
    near_ids = {i for p in (planted - exact_planted) for i in p} - {
        i for p in exact_planted for i in p
    }
    bimodal = docs.filter(~F.col("doc_id").isin(list(near_ids)))
    prod = {(r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_dups(bimodal, max_hamming=3).collect()}
    twin = {(r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_dups(
                bimodal, max_hamming=3, token_hash=md5_token_hash64).collect()}
    assert exact_planted <= set(prod)
    assert all(prod[p] == 0 for p in exact_planted)
    assert prod == twin


def test_lsh_cosine_dim_required(spark, vecs):
    """dim=None must fail fast instead of running a hidden driver-side
    job during plan construction (VERDICT r3 latent-trap fix)."""
    with pytest.raises(TypeError, match="dim is required"):
        lsh_cosine_pairs(vecs, bands=2, planes_per_band=2, threshold=0.9)


def test_ivf_trained_recall_vs_brute_force(spark):
    """VERDICT r3 #8: ivf_topk(n_iters=1) — one Lloyd pass over the
    hash-sampled init — measured against exact brute-force top-k.  The
    trained path must (a) keep the output contract of the untrained one,
    and (b) reach high recall on a clustered corpus with a modest probe
    budget."""
    import random

    from claimskg_generator_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    rng = random.Random(13)
    dim, n_clusters, per = 8, 6, 40
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for _ in range(per):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in center]))
            vid += 1
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    queries = [0, 45, 90, 135, 180]
    k = 5

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = topk_sets(cosine_topk(vecs, queries, k=k))

    def recall(df):
        got = topk_sets(df)
        hits = sum(len(got.get(q, set()) & truth[q]) for q in queries)
        return hits / (k * len(queries))

    trained = ivf_topk(vecs, queries, k=k, n_centroids=8, n_probe=2,
                       n_iters=1)
    r_trained = recall(trained)
    r_init = recall(ivf_topk(vecs, queries, k=k, n_centroids=8, n_probe=2))
    # contract: same schema/rank shape as the untrained path
    assert trained.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert r_trained >= 0.9, (r_trained, r_init)
    # the Lloyd pass must not degrade the hash-sample init materially
    assert r_trained >= r_init - 0.05, (r_trained, r_init)


def test_simhash_row_expr_matches_batch(spark):
    """The stateless per-row signature expression (streaming path) must be
    bitwise-identical to the batch explode + 64-way vote aggregate."""
    from pyspark.sql import functions as F

    from claimskg_generator_spark.operators.dedup import (
        simhash_row_expr,
        simhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = {(r["doc_id"], r["simhash"])
            for r in simhash_signatures(docs).select("doc_id", "simhash")
            .collect()}
    got = {(r["doc_id"], r["simhash"])
           for r in docs.select(
               "doc_id", simhash_row_expr("text").alias("simhash"))
           .where(F.col("simhash").isNotNull()).collect()}
    assert got == want


def test_xxh64_matches_spark(spark):
    """functions/xxh64.py is the driver-side stand-in for Spark's
    ``xxhash64`` in the q28/q29 goldens — it must be bit-identical on
    strings (all tail-length classes + >32-byte block path + non-ASCII),
    longs, and multi-column seed chaining."""
    import random

    from claimskg_generator_spark.functions.xxh64 import (
        xxh64_long,
        xxh64_str,
    )

    rng = random.Random(7)
    strs = ["", "a", "abcd", "abcdefg", "abcdefgh", "x" * 31, "x" * 32,
            "block " * 12, "ünïcodé ✓ 漢字", "tab\tand\nnewline"] + [
        "".join(rng.choice("abcdefgh ,.:") for _ in range(rng.randrange(0, 90)))
        for _ in range(25)
    ]
    df = spark.createDataFrame([(s,) for s in strs], ["s"])
    got = df.select(
        "s", F.xxhash64("s").alias("h"),
        F.xxhash64(F.lit("pfx"), "s").alias("h2"),
    ).collect()
    pfx_seed = xxh64_str("pfx")
    for r in got:
        assert r["h"] == xxh64_str(r["s"]), r["s"]
        assert r["h2"] == xxh64_str(r["s"], seed=pfx_seed), r["s"]
    longs = [0, 1, -1, 42, 2**62, -(2**62), 1234567890123]
    dfl = spark.createDataFrame([(v,) for v in longs], "v long")
    for r in dfl.select("v", F.xxhash64("v").alias("h")).collect():
        assert r["h"] == xxh64_long(r["v"]), r["v"]


def test_python_twins_match_engine_on_planted_corpus(spark, planted_corpus):
    """oracle_corpus.py (the golden generator for q28/q29) must reproduce
    the engine's xxhash64 production paths value-for-value."""
    from claimskg_generator_spark.oracle_corpus import (
        minhash_lsh_pairs_py,
        simhash_near_dups_py,
    )

    docs, _planted = planted_corpus
    rows = sorted((r["doc_id"], r["text"]) for r in docs.collect())
    sp_mh = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, n=3, verify_threshold=0.5).collect())
    assert sp_mh == minhash_lsh_pairs_py(rows, n=3, verify_threshold=0.5)
    sp_sh = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(docs, max_hamming=3).collect())
    assert sp_sh == simhash_near_dups_py(rows, max_hamming=3)


def test_ivf_trained_quantized_matches_python_twin(spark):
    """The quantize_means Lloyd path (q30's golden source) must match
    oracle_corpus.ivf_topk_py exactly: every reduction but the quantized
    cluster-mean sum is a deterministic left fold both sides replay."""
    import random

    from claimskg_generator_spark.operators.similarity import ivf_topk
    from claimskg_generator_spark.oracle_corpus import ivf_topk_py

    rng = random.Random(3)
    embs = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(8)])
            for i in range(120)]
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in embs],
        "vec_id long, embedding array<float>")
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ivf_topk(vecs, [0, 1, 2], k=4, n_centroids=8, n_probe=3,
                          n_iters=2, quantize_means=9).collect())
    # the twin consumes the float32-cast values the engine sees
    import numpy as np

    embs32 = [(i, [float(np.float32(x)) for x in v]) for i, v in embs]
    want = ivf_topk_py(embs32, [0, 1, 2], k=4, n_centroids=8, n_probe=3,
                       n_iters=2, quantize_means=9)
    assert got == want


def test_semantic_dedup_single_cluster_exact(spark):
    """n_centroids=1 degenerates to exact corpus-wide SemDeDup: every
    vector's max_cos_prev is its max cosine to ANY lower-id vector, so a
    planted near-identical pair drops the higher id and everything else
    survives (random 16-dim gaussians stay far below 0.95)."""
    import math
    import random

    from claimskg_generator_spark.operators.similarity import semantic_dedup

    rng = random.Random(5)
    dim = 16
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)])
            for i in range(20)]
    base = rows[3][1]
    rows.append((100, [x + rng.gauss(0.0, 0.01) for x in base]))  # near-dup
    # sanity: the plant really is a semantic dup, the rest are not
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))
    assert cos(base, rows[-1][1]) > 0.99
    assert all(cos(a[1], b[1]) < 0.9
               for i, a in enumerate(rows) for b in rows[:i]
               if not (a[0] == 100 and b[0] == 3))
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in
           semantic_dedup(vecs, n_centroids=1, threshold=0.95).collect()}
    assert len(got) == 21  # one row per input vector, kept or not
    assert got[100]["keep"] == 0 and got[100]["max_cos_prev"] > 0.99
    assert all(r["keep"] == 1 for i, r in got.items() if i != 100)
    # the single centroid puts everyone in one cluster
    assert len({r["cluster_id"] for r in got.values()}) == 1
    # cluster-lowest id has no lower-id member
    assert got[0]["max_cos_prev"] is None


def test_semantic_dedup_colinear_tie_and_singletons(spark):
    """With every vector a centroid, only exact-colinear groups share a
    cluster (cos=1 tie breaks to the smaller cent_id), so scaled copies
    dedup against their lowest id and everything else is a kept
    singleton with NULL max_cos_prev."""
    import random

    from claimskg_generator_spark.operators.similarity import semantic_dedup

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(10)]
    rows.append((20, [2.0 * x for x in rows[4][1]]))   # colinear with 4
    rows.append((21, [0.5 * x for x in rows[4][1]]))   # colinear with 4
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in
           semantic_dedup(vecs, n_centroids=1000, threshold=0.95).collect()}
    assert got[20]["cluster_id"] == 4 and got[21]["cluster_id"] == 4
    assert got[4]["keep"] == 1 and got[4]["max_cos_prev"] is None
    assert got[20]["keep"] == 0 and got[21]["keep"] == 0
    singles = [r for i, r in got.items() if i not in (4, 20, 21)]
    assert all(r["keep"] == 1 and r["max_cos_prev"] is None
               and r["cluster_id"] == r["vec_id"] for r in singles)


def test_random_projection_matches_numpy_twin(spark):
    """Bit-parity (after round-6) with a numpy twin replaying the same
    seeded sign stream, plus the JL sanity that pairwise distances are
    roughly preserved."""
    import random as _random

    import numpy as np

    from claimskg_generator_spark.operators.similarity import (
        random_projection,
    )

    rng = np.random.RandomState(3)
    dim, out_dim, n = 24, 12, 40
    X = rng.randn(n, dim)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>")
    got = {(r["vec_id"], r["out_idx"]): r["value"]
           for r in random_projection(vecs, out_dim=out_dim, dim=dim,
                                      seed=13).collect()}

    srng = _random.Random(13)
    S = np.array([[srng.choice((-1.0, 1.0)) for _ in range(dim)]
                  for _ in range(out_dim)])
    Xf = X.astype(np.float32).astype(np.float64)  # array<float> storage
    Y = (Xf @ S.T) / np.sqrt(out_dim)
    assert len(got) == n * out_dim
    for (i, j), v in got.items():
        assert v == pytest.approx(Y[i, j], abs=1e-6)
    # JL sanity: squared distances preserved within a loose factor
    Yg = np.array([[got[(i, j)] for j in range(out_dim)]
                   for i in range(n)])
    for a, b in [(0, 1), (2, 30), (5, 17)]:
        d0 = np.sum((Xf[a] - Xf[b]) ** 2)
        d1 = np.sum((Yg[a] - Yg[b]) ** 2)
        assert 0.3 < d1 / d0 < 3.0
    with pytest.raises(ValueError):
        random_projection(vecs, out_dim=0, dim=dim)


def test_set_similarity_join_matches_naive_across_thresholds(spark):
    """Prefix filtering must be LOSSLESS: the exact set-Jaccard join
    equals the naive quadratic answer at several thresholds, on a corpus
    with skewed token frequencies and duplicate/near-duplicate sets."""
    import random as _random

    from claimskg_generator_spark.operators.setjoin import (
        set_similarity_join,
    )

    rng = _random.Random(43)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        k = rng.randint(3, 12)
        # skew: low-index words far more common
        toks = {vocab[min(rng.randrange(30), rng.randrange(30))]
                for _ in range(k)}
        rows.append((i, " ".join(sorted(toks))))
    rows.append((100, rows[5][1]))                      # exact dup set
    rows.append((101, rows[5][1] + " w29"))             # near dup

    def naive(th):
        sets = {i: set(t.split()) for i, t in rows}
        out = {}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                i = len(sets[a] & sets[b])
                j = i / (len(sets[a]) + len(sets[b]) - i)
                if j >= th:
                    out[(a, b)] = round(j, 6)
        return out

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for th in (0.5, 0.8, 1.0):
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in set_similarity_join(docs, threshold=th).collect()}
        assert got == naive(th), th
    # the planted exact-dup pair is found at J = 1.0
    assert (5, 100) in naive(1.0)

    with pytest.raises(ValueError):
        set_similarity_join(docs, threshold=0.0)


def test_minhash_cross_finds_planted_and_ignores_within_side(spark):
    """Bipartite LSH reports ONLY reference-vs-train pairs: a train doc
    planted as a near-copy of a reference doc is found; near-dup pairs
    living entirely within one side are not emitted."""
    from claimskg_generator_spark.operators.dedup import (
        minhash_lsh_pairs_cross,
    )

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep dark forest tonight").split()
    ref = spark.createDataFrame(
        [(1, " ".join(base)), (2, "totally different reference text "
                                  "about spark plans and shuffles here")],
        "doc_id long, text string")
    train_rows = [
        (100, " ".join(base[:-1] + ["today"])),   # near-dup of ref 1
        (101, "unrelated train document with its own words entirely"),
        # 102/103: near-dups of each other, NOT of any reference doc
        (102, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (103, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"])
           for r in minhash_lsh_pairs_cross(ref, train,
                                            verify_threshold=0.3).collect()}
    assert (1, 100) in got
    assert all(a in (1, 2) and b >= 100 for a, b in got)
    assert (102, 103) not in got and (103, 102) not in got


def test_minhash_cross_equals_selfjoin_restricted(spark):
    """On a split corpus, the bipartite join must equal the self-join's
    pairs restricted to cross-side (same hashes, banding, verify)."""
    from claimskg_generator_spark.operators.dedup import (
        minhash_lsh_pairs_checkable,
        minhash_lsh_pairs_cross,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    left = docs.filter("doc_id % 7 = 0")
    right = docs.filter("doc_id % 7 != 0")
    got = {(r["id_a"], r["id_b"], r["jaccard"])
           for r in minhash_lsh_pairs_cross(
               left, right, verify_threshold=0.1,
               checkable=True).collect()}
    full = minhash_lsh_pairs_checkable(docs, verify_threshold=0.1).collect()
    want = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if a % 7 == 0 and b % 7 != 0:
            want.add((a, b, r["jaccard"]))
        elif b % 7 == 0 and a % 7 != 0:
            want.add((b, a, r["jaccard"]))
    assert got == want and want
