"""Similarity search over embedding columns (training-data pipeline ops):
brute-force cosine top-k baseline + an LSH-bucketed (random hyperplane)
scale path.

Scale posture: brute-force is O(Q*N) — correct baseline, fine when the
query set is small and broadcast.  The LSH variant buckets vectors by
sign-pattern of r random hyperplanes so candidate generation is a bucket
equi-join (expected N/2^r per bucket), the standard sub-linear ANN path.
"""

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share


def _dot(a, b):
    # cast each float32 to double BEFORE multiplying — same arithmetic as a
    # DOUBLE[] oracle, and left-to-right summation matches too
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_topk(embeddings: DataFrame, query_ids: List[int], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors against the
    full table; JVM-side zip_with/aggregate arithmetic (no UDF)."""
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    joined = embeddings.alias("e").join(
        F.broadcast(q), F.col(id_col) != F.col("query_id")
    )
    cos = _dot(F.col(vec_col), F.col("qv")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.select(
            "query_id", F.col(id_col).alias("neighbor_id"),
            F.round(cos, 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hash_sample_centroids(embeddings: DataFrame, n_centroids: int,
                           id_col: str, vec_col: str) -> DataFrame:
    """Fixed-size deterministic coarse-centroid sample: the ``n_centroids``
    vectors whose md5(id) sorts first (ORDER BY md5 LIMIT n — one global
    top-k, reproducible by any SQL engine)."""
    return (
        embeddings.select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv"),
            F.md5(F.col(id_col).cast("string")).alias("hk"),
        )
        .orderBy("hk", "cent_id")
        .limit(n_centroids)
        .drop("hk")
    )


def _cent_arr(cents: DataFrame) -> DataFrame:
    """One-row frame holding ALL centroids as a cent_id-ordered array —
    broadcast once, n_centroids * dim floats total.  Each struct carries
    the centroid's precomputed norm (``nc``): higher-order-function
    lambdas are CodegenFallback with no CSE, so evaluating ``_norm(cv)``
    inside the per-vector argmax lambda would re-fold the centroid vector
    once per (vector, centroid) visit; the value is the identical double
    either way (same expression, evaluated earlier)."""
    return cents.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cent_id"), F.col("cv"),
                    _norm(F.col("cv")).alias("nc"),
                )
            )
        ).alias("cents")
    )


def _scored_arr(vcol, nv=None):
    """Per-centroid (cosine, -cent_id) structs over the broadcast ``cents``
    array column; array_max / array_sort over them orders by cosine first,
    then SMALLER cent_id on ties.  ``nv`` is the vector's precomputed norm
    column (defaults to folding it in-lambda — same double, more
    interpreted work; callers on the hot path pass a projected column so
    the norm folds once per vector, not once per centroid)."""
    if nv is None:
        nv = _norm(vcol)
    return F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (_dot(vcol, c["cv"]) / (nv * c["nc"])).alias("c"),
            (-c["cent_id"]).alias("neg_id"),
        ),
    )


def _assign(embeddings: DataFrame, cent_arr: DataFrame,
            id_col: str, vec_col: str) -> DataFrame:
    """Argmax coarse assignment as a PURE MAP stage: the fixed-size
    centroid set rides as a one-row broadcast array column and the
    per-vector argmax is a within-row transform + array_max — no N x |C|
    row explosion, no aggregation shuffle, no Window sort.  The vector
    norm is projected ONCE per row before the argmax lambda (no CSE
    inside HOF lambdas — see _cent_arr)."""
    return (
        embeddings.join(F.broadcast(cent_arr))
        .select(
            F.col(id_col).alias("m_id"), F.col(vec_col).alias("mv"),
            _norm(F.col(vec_col)).alias("_nv"), F.col("cents"),
        )
        .select(
            "m_id", "mv",
            F.array_max(
                _scored_arr(F.col("mv"), F.col("_nv"))
            ).alias("best"),
        )
        .select("m_id", "mv", (-F.col("best.neg_id")).alias("m_cent"))
    )


def ivf_topk(embeddings: DataFrame, query_ids: List[int], k: int = 5,
             n_centroids: int = 32, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_iters: int = 0,
             quantize_means: Optional[int] = None) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into inverted lists, probe
    only the lists nearest each query, exact top-k within them — the
    classic sub-linear alternative to the hyperplane-LSH path.

    The coarse centroids are a FIXED-SIZE deterministic sample: the
    ``n_centroids`` vectors whose md5(id) sorts first — a hash-ordered
    uniform sample that any SQL engine reproduces (ORDER BY md5 LIMIT n),
    computed as one global top-k (TakeOrderedAndProject, no full sort).
    |C| no longer grows with the corpus, so the broadcast stays bounded and
    the assignment pass is O(N * n_centroids) with a constant, tunable
    factor.  ``n_iters`` Lloyd refinement passes (k-means) turn the sample
    into trained centroids — the 100 TB upgrade the sample stands in for;
    the plan shape — broadcast centroids, one hash-agg argmax assignment
    pass, per-query probe-list candidate join — is identical either way.
    ``quantize_means`` rounds each Lloyd cluster mean HALF_UP to that many
    decimals: the mean is the ONE order-sensitive float reduction in the
    plan (every other reduction is a within-row left fold), so quantizing
    it makes the trained path deterministic across partitionings — and
    replayable by the driver-side twin oracle_corpus.ivf_topk_py, which is
    how q30 carries a value golden.  Precision loss at 9 decimals is far
    below any meaningful centroid resolution.

    Each Lloyd pass is one assignment map + one narrow mean shuffle: the
    per-cluster mean aggregates (cent, pos, val) rows from posexplode —
    map-side combine reduces every partition to |C| x dim partial sums, so
    the exchange carries O(partitions * C * dim) regardless of N.  Empty
    clusters keep their previous centroid.  Cluster MEMBERSHIP (and so the
    candidate sets) can differ at the float-sum ulp level across
    partitionings — k-means means are order-sensitive float sums — which
    is why the trained variant ships as a rows-only bench entry while the
    deterministic n_iters=0 path carries the value oracle (q27).

    Assignment is a PURE MAP stage: the fixed-size centroid set rides as a
    one-row broadcast array column and the per-vector argmax is a within-row
    transform + array_max over (cos, -cent_id) structs — no N x |C| row
    explosion, no aggregation shuffle, no Window sort.  Every distance is
    JVM-side (zip_with/aggregate); ties break to the smaller centroid/
    neighbor id so results are total-order deterministic.
    """
    cents = _hash_sample_centroids(embeddings, n_centroids, id_col, vec_col)
    to_cent_arr = _cent_arr
    scored_arr = _scored_arr

    def assign(carr):
        return _assign(embeddings, carr, id_col, vec_col)

    cent_arr = to_cent_arr(cents)
    if n_iters > 0:
        # The trained chain embeds a FULL-CORPUS assignment pass in the
        # centroid lineage, and cent_arr is broadcast from at least two
        # places (final assignment + probe lists): without a cache each
        # broadcast re-runs every preceding Lloyd pass over the whole
        # corpus.  The shared frames are one row of n_centroids * dim
        # doubles per iteration.
        cent_arr = share(cent_arr)

    for _ in range(n_iters):
        # Lloyd pass: argmax assignment (pure map) + element-wise cluster
        # mean via posexplode -> (cent, pos) partial sums (map-side combine
        # bounds the exchange at |C| * dim rows per partition)
        members = assign(cent_arr)
        sums = (
            members.select("m_cent", F.posexplode("mv").alias("pos", "val"))
            .groupBy("m_cent", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
        )
        avg = F.col("s") / F.col("c")
        if quantize_means is not None:
            avg = F.round(avg, quantize_means)
        means = (
            sums.withColumn("avg", avg)
            .groupBy("m_cent")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "avg"))).alias("pa"))
            .select(
                F.col("m_cent").alias("cent_id"),
                F.transform("pa", lambda x: x["avg"]).alias("cv_new"),
            )
        )
        cents = (
            cents.join(means, "cent_id", "left")
            .select(
                "cent_id",
                F.coalesce(
                    F.col("cv_new"), F.col("cv").cast("array<double>")
                ).alias("cv"),
            )
        )
        cent_arr = share(to_cent_arr(cents))

    assigned = assign(cent_arr)
    # probe lists: the n_probe nearest centroids per query — same within-row
    # trick (sort desc, slice) instead of a Window
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    probes = (
        q.join(F.broadcast(cent_arr))
        .select(
            "query_id", "qv",
            F.explode(
                F.slice(F.reverse(F.array_sort(scored_arr(F.col("qv")))),
                        1, n_probe)
            ).alias("p"),
        )
        .select("query_id", "qv", (-F.col("p.neg_id")).alias("p_cent"))
    )
    # candidates = members of probed lists; exact cosine top-k among them
    cand = assigned.join(
        F.broadcast(probes), F.col("m_cent") == F.col("p_cent")
    ).filter(F.col("m_id") != F.col("query_id"))
    cos = _dot(F.col("mv"), F.col("qv")) / (_norm(F.col("mv")) * _norm(F.col("qv")))
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id", F.col("m_id").alias("neighbor_id"),
            F.round(cos, 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
    )


def hyperplane_band_keys(embeddings: DataFrame, bands: int = 8,
                         planes_per_band: int = 8, seed: int = 11,
                         dim: Optional[int] = None,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Multi-band hyperplane LSH keys: (id, band, key) rows where key is
    the sign-pattern of that band's ``planes_per_band`` random hyperplanes
    (one shared seeded stream, band 0 first — the SQL oracle replays it).

    Banding is what makes hyperplane LSH scale: a single sign-pattern of r
    planes has FIXED 2^r granularity (the bucket self-join degenerates
    toward all-pairs/2^r as N grows), whereas b bands of r planes let
    recall (b) and bucket granularity (r) move independently — grow r with
    corpus size to keep buckets sparse, grow b to keep recall, exactly like
    the MinHash banding in operators/dedup.py.  (bands=1 degenerates to a
    plain single-table sign-pattern bucketing.)  Only the slim (id, band,
    key) rows ride the candidate join; vectors re-attach post-dedup.

    ``dim`` is REQUIRED: the hyperplane coefficients are plan-time
    literals of that length.  Earlier revisions inferred it with a
    driver-side ``.first()`` during plan construction — a hidden job that
    scanned input before the query even ran — so the parameter is now
    explicit (the caller always knows its embedding dimensionality; read
    it from the model card / table spec, not from the data).
    """
    import random

    if dim is None:
        raise TypeError(
            "hyperplane_band_keys: dim is required (the embedding "
            "dimensionality); inferring it would run a hidden driver-side "
            "job during plan construction"
        )
    rng = random.Random(seed)
    band_structs = []
    for j in range(bands):
        key = F.lit(0).cast("long")
        for i in range(planes_per_band):
            plane = [rng.gauss(0.0, 1.0) for _ in range(dim)]
            proj = F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(x) for x in plane]),
                    lambda v, p: (v * p).cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            key = key.bitwiseOR(
                F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), i))
                .otherwise(F.lit(0).cast("long"))
            )
        band_structs.append(
            F.struct(F.lit(j).alias("band"), key.alias("key"))
        )
    return embeddings.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def lsh_cosine_pairs(embeddings: DataFrame, bands: int = 8,
                     planes_per_band: int = 8,
                     threshold: float = 0.9, seed: int = 11,
                     dim: Optional[int] = None,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs: multi-band bucket equi-join
    candidates (see hyperplane_band_keys), then exact cosine verification
    on candidates only — the scale path for embedding dedup."""
    # both self-join sides consume the banded frame; the sign-pattern
    # keys are bands*planes interpreted 64-element folds per vector, so
    # compute them once — the cached rows are slim (id, band, key)
    b = share(hyperplane_band_keys(embeddings, bands, planes_per_band, seed,
                                   dim=dim, id_col=id_col, vec_col=vec_col))
    a = b.select(F.col(id_col).alias("id_a"), "band", "key")
    c = b.select(F.col(id_col).alias("id_b"), "band", "key")
    cand = (
        a.join(c, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    va = embeddings.select(F.col(id_col).alias("id_a"),
                           F.col(vec_col).alias("v_a"))
    vb = embeddings.select(F.col(id_col).alias("id_b"),
                           F.col(vec_col).alias("v_b"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    cos = _dot(F.col("v_a"), F.col("v_b")) / (_norm(F.col("v_a")) * _norm(F.col("v_b")))
    return (
        pairs.withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(embeddings: DataFrame, n_centroids: int = 32,
                   threshold: float = 0.95,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-then-prune
    semantic deduplication.  Coarse-cluster the corpus (same deterministic
    hash-sampled centroids + pure-map argmax assignment as ``ivf_topk``),
    then WITHIN each cluster flag every vector whose cosine to a
    LOWER-id cluster member is >= ``threshold`` — the keep-one-per-ε-ball
    policy with a deterministic lowest-id representative.

    This is the third member of the embedding-dedup family: q11/q27 answer
    "nearest to a query", q19 finds near-dup PAIRS via hyperplane LSH,
    SemDeDup partitions the WHOLE corpus and prunes semantically redundant
    documents — the shape used to thin web-scale pretraining corpora.

    Scale posture (100 TB): assignment is one broadcast-centroid map pass
    (no shuffle).  The pairwise stage is an equi-self-join on cluster id —
    the SemDeDup cost model, O(sum c_i^2) bounded by cluster granularity
    (grow ``n_centroids`` with the corpus to keep clusters bounded, same
    knob as IVF); never all-pairs across clusters.  Only (id, vec, cluster)
    rides the join.  A skewed hot cluster is AQE skew-split territory, same
    as the reconciliation self-join (operators/reconcile.py).

    Output, one row per input vector: ``cluster_id``, ``max_cos_prev``
    (max cosine to any lower-id member of its cluster, rounded 4, NULL for
    the cluster's lowest id / singletons), ``keep`` (0 when
    ``max_cos_prev >= threshold``, else 1).  Cosines are compared AFTER
    the round-4 so the gate is replayable bit-for-bit by a DOUBLE[] SQL
    oracle (round is monotone, so max-of-rounded == rounded-max).
    """
    cents = _hash_sample_centroids(embeddings, n_centroids, id_col, vec_col)
    assigned = _assign(embeddings, _cent_arr(cents), id_col, vec_col)
    a = assigned.alias("a")
    b = assigned.alias("b")
    cos = _dot(F.col("a.mv"), F.col("b.mv")) / (
        _norm(F.col("a.mv")) * _norm(F.col("b.mv"))
    )
    max_prev = (
        a.join(
            b,
            (F.col("a.m_cent") == F.col("b.m_cent"))
            & (F.col("b.m_id") < F.col("a.m_id")),
        )
        .select(F.col("a.m_id").alias("id"), F.round(cos, 4).alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("max_cos_prev"))
    )
    return (
        assigned.join(max_prev, assigned["m_id"] == max_prev["id"], "left")
        .select(
            F.col("m_id").alias(id_col),
            F.col("m_cent").alias("cluster_id"),
            "max_cos_prev",
            F.when(F.col("max_cos_prev") >= threshold, F.lit(0))
            .otherwise(F.lit(1)).cast("int").alias("keep"),
        )
    )


def random_projection(embeddings: DataFrame, out_dim: int, dim: int,
                      seed: int = 13,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Johnson-Lindenstrauss embedding compression with a DETERMINISTIC
    Rademacher (±1) projection (Achlioptas 2003: ±1 entries satisfy the
    JL lemma like Gaussians do): y_j = (Σ_i x_i · s_ij) / sqrt(out_dim),
    signs drawn from one seeded stream at PLAN time (row j=0 first, the
    hyperplane_band_keys convention), so any SQL engine replays the
    matrix from (seed, dim, out_dim) alone.

    Scale posture: a pure narrow map — the ±1 matrix is out_dim · dim
    plan-time literals (no broadcast, no shuffle, no UDF; the dot
    products are JVM zip_with/aggregate folds), so the operator
    pipelines into whatever scan precedes it at any corpus size.  This
    is the standard pre-step that makes the embedding family cheaper:
    cosine top-k / LSH / SemDeDup over 16 compressed dims instead of
    768 raw ones.

    ``dim`` is required for the same no-hidden-jobs reason as
    hyperplane_band_keys.  Output is EXPLODED for engine-stable
    comparison: one row per (vector, output dimension) —
    (id_col, out_idx, value), value rounded 6.
    """
    import random

    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    rng = random.Random(seed)
    scale = 1.0 / (out_dim ** 0.5)
    vals = []
    for _ in range(out_dim):
        signs = F.array(*[
            F.lit(float(rng.choice((-1.0, 1.0)))) for _ in range(dim)
        ])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), signs,
                       lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        vals.append(F.round(dot * F.lit(scale), 6))
    return embeddings.select(
        F.col(id_col), F.posexplode(F.array(*vals))
    ).select(
        id_col,
        F.col("pos").cast("int").alias("out_idx"),
        F.col("col").alias("value"),
    )


def knn_graph(embeddings: DataFrame, k: int = 3,
              id_col: str = "vec_id", vec_col: str = "embedding",
              broadcast_right: bool = True) -> DataFrame:
    """Undirected k-nearest-neighbor graph over the embedding table:
    canonical (src < dst) edges from the UNION of each vector's
    directed top-``k`` cosine neighbors — the standard input graph for
    density-based corpus analysis (k-core pruning, clustering,
    SemDeDup-style neighborhoods).

    This is the brute-force BASELINE (all-pairs cosine, exact): right
    for benchmark scale and for verifying the approximate paths.  At
    100 TB build the candidate pairs with the LSH operators
    (lsh_cosine_pairs / ivf machinery in this module) and feed the
    top-k window the candidates instead — the peel/graph consumers
    only need an edge list, not this builder.

    Cosine is rounded (4) BEFORE the rank window (ties then break on
    neighbor id), so the graph replays exactly in a SQL twin — the
    q11 parity pattern.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    left = embeddings.select(F.col(id_col).alias("__ia"),
                             F.col(vec_col).alias("__va"))
    right = embeddings.select(F.col(id_col).alias("__ib"),
                              F.col(vec_col).alias("__vb"))
    if broadcast_right:
        right = F.broadcast(right)
    cos = _dot(F.col("__va"), F.col("__vb")) / (
        _norm(F.col("__va")) * _norm(F.col("__vb"))
    )
    pairs = (
        left.join(right, F.col("__ia") != F.col("__ib"))
        .select("__ia", "__ib", F.round(cos, 4).alias("__cos"))
    )
    w = Window.partitionBy("__ia").orderBy(
        F.col("__cos").desc(), F.col("__ib").asc()
    )
    directed = pairs.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    return (
        directed.select(
            F.least("__ia", "__ib").alias("src"),
            F.greatest("__ia", "__ib").alias("dst"),
        )
        .distinct()
    )
