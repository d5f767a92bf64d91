"""Deduplication operators for web-scale corpora (training-data pipeline
ops): exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Scale design notes (100 TB posture):

- exact: one hash-groupBy; the md5 key keeps the shuffle rows tiny.
- ngram-jaccard: shingle-explode -> self-join on shingle -> per-pair
  aggregation.  The classic skew trap is hot shingles; we cap posting-list
  length (drop shingles appearing in > max_df docs — standard practice)
  which bounds the join fan-out.
- minhash-LSH: signatures via one vectorized numpy pandas UDF; band ->
  bucket groupBy; only bucket-colliding pairs are candidates (no all-pairs).
- simhash: 64-bit signature from token hashes, bucketed by max_hamming+1
  chunks (pigeonhole: hamming<=h over h+1 chunks guarantees an equal chunk,
  so candidate recall is exact, not best-effort).
- embedding-cosine: see operators/similarity.py.
"""

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical (whitespace-normalized, lowercased) docs:
    survivor = min doc_id per fingerprint (deterministic)."""
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        documents.select("doc_id", F.md5(norm).alias("fingerprint"))
        .withColumn("survivor_id", F.min("doc_id").over(Window.partitionBy("fingerprint")))
        .withColumn("rank_in_group", F.row_number().over(w))
        .withColumn("is_duplicate", (F.col("doc_id") != F.col("survivor_id")).cast("int"))
    )


def duplicated_spans(
    documents: DataFrame, width: int = 16, min_count: int = 2
) -> DataFrame:
    """Exact-substring (span-level) duplication profile, the practical
    Spark shape of suffix-array training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    ``width``-token window is hashed; a window whose hash occurs
    ``min_count``+ times corpus-wide (same doc counts) is a duplicated
    span.  Output per document: total spans, duplicated spans, and the
    duplicated fraction — the drop/trim signal.

    Scale shape: explode is linear in token volume; the span-hash
    groupBy is map-side combinable; the join back is co-partitioned on
    the hash.  Hashes are md5 of the space-joined window so a DuckDB
    oracle reproduces them byte-for-byte.  The token array is
    materialized behind a column alias before the higher-order transform
    (CodegenFallback lambdas get no CSE — see _shingles below).
    """
    if width < 1:
        raise ValueError("width must be >= 1")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    d = documents.select("doc_id", toks.alias("toks"))
    spans = F.when(
        F.size("toks") >= width,
        F.expr(
            f"transform(sequence(0, size(toks) - {width}),"
            f" i -> md5(array_join(slice(toks, i + 1, {width}), ' ')))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    sp = d.select("doc_id", F.explode(spans).alias("k"))
    hot = (
        sp.groupBy("k")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
        .select("k")
    )
    dup_counts = (
        sp.join(hot, "k")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    totals = d.select(
        "doc_id",
        F.greatest(F.size("toks") - (width - 1), F.lit(0)).alias("n_spans"),
    )
    return totals.join(dup_counts, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.round(
            F.when(
                F.col("n_spans") > 0,
                F.coalesce("n_dup_spans", F.lit(0))
                / F.col("n_spans").cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_span_frac"),
    )


def _shingles(col, n=3):
    """Word n-gram shingles (distinct) of lowercased text.

    PERF TRAP — prefer :func:`with_shingle_set` in plans.  Higher-order
    functions (transform / array_distinct lambdas) are CodegenFallback:
    they evaluate INTERPRETED, and Spark performs no CSE inside lambda
    bodies, so the ``split`` below re-executes once per shingle index
    when this expression is used raw.  with_shingle_set materializes the
    token array behind a column alias first (one split per row)."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    return _shingles_of_tokens(toks, n)


def _shingles_of_tokens(toks, n=3):
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def with_shingle_set(documents: DataFrame, n: int = 3, text_col: str = "text",
                     out: str = "sset") -> DataFrame:
    """``documents`` plus an ``out`` column holding the distinct word
    n-gram shingle set of ``text_col``, built scale-consciously:

    - the token split is materialized behind its own column alias so the
      interpreted HOF lambda references a computed value instead of
      re-splitting the text once per shingle index (CollapseProject keeps
      the alias because it is non-cheap and multiply referenced);
    - callers that explode ``out`` should use ``explode_outer``: plain
      explode makes InferFiltersFromGenerate inject a ``size(out) > 0``
      filter that re-evaluates the entire interpreted shingle expression
      per row (measured 3.1 s -> 0.39 s on the sf0.1 documents table).
      The set is never empty (short texts collapse to one whole-text
      shingle), so outer semantics are identical.
    """
    tok_col = f"__{out}_toks"
    return (
        documents.withColumn(tok_col, F.split(F.lower(F.trim(text_col)), r"\s+"))
        .withColumn(out, _shingles_of_tokens(F.col(tok_col), n))
        .drop(tok_col)
    )


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        max_df: int = 1000) -> DataFrame:
    """Candidate near-dup pairs with n-gram Jaccard >= threshold.

    shingle-explode -> ONE groupBy(shingle) pass building document
    frequency + posting list together -> hot-shingle cap (df > max_df
    dropped; bounds within-row pair fan-out) -> pairs generated within
    the posting-list row (no shingle self-join) -> count common shingles
    per (a,b) -> jaccard = common/(|A|+|B|-common).
    """
    docs = with_shingle_set(documents, n).select("doc_id", "sset")
    # per-doc shingle count is a pure map (no shuffle): |set| == exploded
    # row count because the set is distinct per doc.  The count RIDES the
    # exploded rows and the posting list as a struct member — earlier
    # revisions re-attached it through two per-side joins against a
    # separately-computed sizes frame, which both re-ran the interpreted
    # shingle HOF chain a second time and paid two extra joins; carrying
    # the 4-byte int through the one existing shuffle removes all of it
    # (the shingle chain now evaluates exactly ONCE, un-persisted).
    sh = docs.select(
        F.struct(F.col("doc_id").alias("id"),
                 F.size("sset").alias("n_sh")).alias("d"),
        F.explode_outer("sset").alias("shingle"),
    )
    # ONE pass over the exploded frame: document frequency + posting list
    # together (round 3 computed df, the hot set, and the capped frame as
    # three consumers of an uncached explode — the explode + shuffle ran
    # three times).  df == 1 shingles yield no pairs and are dropped; the
    # hot-shingle cap (df > max_df) bounds the per-shingle pair fan-out,
    # so the within-row pair array below holds at most max_df*(max_df-1)/2
    # structs — the posting list never leaves one aggregation buffer.
    post = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"), F.collect_list("d").alias("ids"))
        # struct sort orders by the leading (unique) id — identical pair
        # enumeration to the previous plain-id posting list
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .withColumn("ids_s", F.array_sort("ids"))
    )
    # pair generation within the row (no self-join, no second shuffle of
    # the exploded frame): ids_s is sorted + distinct, so slicing past the
    # current index yields exactly the id_a < id_b pairs
    pair_structs = F.flatten(
        F.transform(
            F.col("ids_s"),
            lambda a, i: F.transform(
                F.slice(F.col("ids_s"), i + 2, F.col("df").cast("int")),
                lambda b: F.struct(
                    a["id"].alias("id_a"), a["n_sh"].alias("sh_a"),
                    b["id"].alias("id_b"), b["n_sh"].alias("sh_b"),
                ),
            ),
        )
    )
    common = (
        post.select(F.explode_outer(pair_structs).alias("p"))
        # sh_a/sh_b are functions of id_a/id_b, so grouping on all four
        # keys forms exactly the same groups as (id_a, id_b)
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.sh_a").alias("sh_a"),
                 F.col("p.id_b").alias("id_b"), F.col("p.sh_b").alias("sh_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(F.col("common")
                    / (F.col("sh_a") + F.col("sh_b") - F.col("common")).cast("double"), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "jaccard")
    )


# --------------------------------------------------------------------------
# Cross-engine-checkable hash paths.  xxhash64 is Spark-only, so operators
# built on it can't be verified by an external SQL engine.  These md5-based
# twins produce the same results from ANY engine with md5 + 64-bit integer
# arithmetic (used by the driver-oracle queries; the xxhash64 paths remain
# the production default — md5 costs ~2-3x more per token).
# --------------------------------------------------------------------------

MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def md5_token_hash64(col):
    """First 64 bits of md5 as a signed long, assembled from two 32-bit
    halves (conv of 16 hex chars can exceed Long.MAX; two 8-char halves
    always fit, and shiftleft wraps into two's complement exactly like the
    SQL twin's hi/lo arithmetic)."""
    h = F.md5(col)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def md5_hash_mod_p(col):
    """md5-derived value mod 2^31-1: (hi*2^32 + lo) mod p computed as
    (2*(hi mod p) + (lo mod p)) mod p since 2^32 ≡ 2 (mod p) — every
    intermediate fits a 64-bit signed int in any engine.

    NOTE: inside higher-order-function lambdas Spark performs no common-
    subexpression elimination, so callers that fan this out (one copy per
    minhash function) MUST materialize it once behind a column alias first
    — see minhash_lsh_pairs_checkable, which went 206s -> seconds at sf0.1
    when the 32 signature expressions re-derived md5 per shingle each."""
    h = F.md5(col)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return (hi % MINHASH_P * 2 + lo % MINHASH_P) % MINHASH_P


def minhash_coefficients(num_hashes: int, seed: int = 7):
    """Universal-hash coefficients h_i(x) = (a_i*x + b_i) mod p, fixed by
    seed via the portable stdlib generator (shared with the SQL oracle)."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
            for _ in range(num_hashes)]


def _verify_candidate_jaccard(documents: DataFrame, candidates: DataFrame,
                              n: int, threshold: float,
                              persist_sets: bool = True) -> DataFrame:
    """Exact n-gram Jaccard on CANDIDATE pairs only (join each side to its
    distinct-shingle set + array_intersect) — never the full-corpus shingle
    self-join LSH exists to avoid.

    Both per-side joins consume the shingle-set frame, but persisting the
    FULL corpus' sets does not hold at scale (first cut of this round:
    q17's 10x sf-scale ratio blew past linear when the cached set frame
    outgrew storage memory mid-session).  Instead the candidate pair
    frame persists (slim ids — it feeds the member-id set and both
    verify joins), and the shingle sets are built once, semi-joined down
    to CANDIDATE MEMBERS before caching: verification work and cache
    footprint stay candidate-bounded at any corpus size, and the corpus
    is scanned exactly once for shingles.  ``persist_sets=False``
    (streaming's per-trigger verify) skips the persists — a persist per
    trigger would accumulate caches across the query's lifetime — but
    keeps the semi-join reduction."""
    if persist_sets:
        candidates = share(candidates)
    members = (
        candidates.select(F.col("id_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # no broadcast hint: the member set grows with the candidate count, so
    # AQE picks the join strategy from its measured size
    shingle_sets = (
        with_shingle_set(documents, n).select("doc_id", "sset")
        .join(members, "doc_id", "left_semi")
    )
    if persist_sets:
        shingle_sets = share(shingle_sets)
    return (
        candidates
        .join(shingle_sets.select(F.col("doc_id").alias("id_a"),
                                  F.col("sset").alias("s_a")), "id_a")
        .join(shingle_sets.select(F.col("doc_id").alias("id_b"),
                                  F.col("sset").alias("s_b")), "id_b")
        .withColumn("common", F.size(F.array_intersect("s_a", "s_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("common")
                    / (F.size("s_a") + F.size("s_b") - F.col("common"))
                    .cast("double"), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_band_keys(documents: DataFrame, shingle_hash_mod_p, n: int,
                      num_hashes: int, bands: int, seed: int,
                      compact_keys: bool) -> DataFrame:
    """LSH bucket membership (doc_id, band, key) — the shared front half of
    MinHash+LSH: shingle -> hash mod p (materialized ONCE behind a column
    alias — Spark performs no CSE inside higher-order-function lambda
    bodies, so inlining the hash chain into all ``num_hashes`` signature
    expressions re-derives it per hash: measured 206 s -> seconds at sf0.1
    for the md5 variant) -> array_min universal-hash signatures (pure JVM,
    whole-stage codegen) -> per-band keys.

    Pure stateless column expressions, so this works unchanged on a
    STREAMING DataFrame (streaming/neardup_state.py keys its state store
    on the (band, key) buckets emitted here).

    ``compact_keys``: xxhash64 the band key string down to 8 bytes for the
    candidate shuffle (production; a key collision at worst adds a
    candidate that exact verification then scores honestly).  False keeps
    the raw signature strings so an external SQL engine can replay the
    join byte-for-byte (the q17 oracle twin).
    """
    rows_per_band = num_hashes // bands
    coeffs = minhash_coefficients(num_hashes, seed)
    p = F.lit(MINHASH_P)
    # shingle set materialized behind its own alias (with_shingle_set)
    # BEFORE the per-shingle hash transform: the interpreted hash lambda
    # then maps over a computed array instead of re-deriving split/slice
    # chains per element (same CSE trap as the signature fan-out below)
    hashed = with_shingle_set(documents, n).select(
        "doc_id",
        F.transform(F.col("sset"), shingle_hash_mod_p).alias("xs"),
    )

    def _minexpr(a, b):
        return F.array_min(F.transform(F.col("xs"), lambda x: (x * a + b) % p))

    sig_cols = [_minexpr(a, b) for a, b in coeffs]
    band_keys = []
    for j in range(bands):
        key = F.concat_ws(",", *[
            s.cast("string")
            for s in sig_cols[j * rows_per_band:(j + 1) * rows_per_band]
        ])
        band_keys.append(F.xxhash64(key) if compact_keys else key)
    doc_sigs = hashed.select(
        "doc_id", *[k.alias(f"band{j}") for j, k in enumerate(band_keys)]
    )
    return doc_sigs.select(
        "doc_id",
        F.explode_outer(F.array(*[
            F.struct(F.lit(j).alias("band"), F.col(f"band{j}").alias("key"))
            for j in range(bands)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.key")


def _minhash_banded_pairs(documents: DataFrame, shingle_hash_mod_p, n: int,
                          num_hashes: int, bands: int,
                          verify_threshold: float, seed: int,
                          compact_keys: bool) -> DataFrame:
    """Shared MinHash+LSH back half: bucket membership (minhash_band_keys)
    -> bucket equi-self-join -> exact n-gram-Jaccard verify on candidates
    only."""
    # both sides of the bucket self-join consume this frame; the
    # signature chain (num_hashes interpreted array passes over the
    # shingle hashes) is the front half's dominant cost, so compute it
    # once — the cached rows are slim (doc_id, band, key)
    banded = share(minhash_band_keys(documents, shingle_hash_mod_p, n,
                                     num_hashes, bands, seed, compact_keys))
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates()
    )
    return _verify_candidate_jaccard(documents, candidates, n, verify_threshold)


def minhash_lsh_pairs_checkable(documents: DataFrame, n: int = 3,
                                num_hashes: int = 32, bands: int = 8,
                                verify_threshold: float = 0.5,
                                seed: int = 7) -> DataFrame:
    """MinHash+LSH with md5-mod-p shingle hashes — zero Python in the plan
    AND reproducible by a SQL oracle (md5 + 64-bit integer arithmetic);
    raw string band keys so the join replays byte-for-byte in DuckDB."""
    return _minhash_banded_pairs(documents, md5_hash_mod_p, n, num_hashes,
                                 bands, verify_threshold, seed,
                                 compact_keys=False)


def minhash_lsh_pairs(documents: DataFrame, n: int = 3, num_hashes: int = 32,
                      bands: int = 8, verify_threshold: float = 0.5,
                      seed: int = 7) -> DataFrame:
    """Production MinHash+LSH near-dup pairs, verified with true n-gram
    Jaccard on candidates only.

    Round 3: the signature is pure JVM column expressions over
    xxhash64-mod-p shingle hashes (the round-1 Arrow UDF shipped every
    document's shingle-hash array through Arrow per batch; the column
    expression stays inside whole-stage codegen with no Python workers in
    the hot path) and band keys compact to 8-byte xxhash64 values for the
    candidate shuffle.  Verification is UNCAPPED exact Jaccard over the
    candidate pairs — hot-shingle df caps only matter for the full-corpus
    shingle self-join in ngram_jaccard_pairs, which LSH exists to avoid.
    """
    def xx_mod_p(col):
        h = F.xxhash64(col)
        return (h % MINHASH_P + MINHASH_P) % MINHASH_P

    return _minhash_banded_pairs(documents, xx_mod_p, n, num_hashes, bands,
                                 verify_threshold, seed, compact_keys=True)


def _bit_mask(i: int) -> int:
    """Two's-complement long literal for bit i (bit 63 is the sign bit)."""
    return (1 << i) if i < 63 else -(1 << 63)


def _chunk_widths(n_chunks: int):
    """Split 64 bits into n_chunks contiguous chunks (remainder spread over
    the first chunks)."""
    base, extra = divmod(64, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets, off = [], 0
    for w in widths:
        offsets.append(off)
        off += w
    return list(zip(offsets, widths))


def simhash_signatures(documents: DataFrame, n_chunks: int = 4,
                       token_hash=None) -> DataFrame:
    """64-bit SimHash over token hashes: explode tokens -> one 64-way
    majority-vote aggregate per doc (map-side partial agg keeps the shuffle
    small), plus n_chunks bucket keys for pigeonhole candidate generation
    (hamming <= n_chunks-1  ->  at least one chunk equal).

    ``token_hash``: column fn token -> 64-bit long; default xxhash64 (the
    fast path).  Pass an md5-derived hash for cross-engine verification.
    """
    if token_hash is None:
        token_hash = lambda c: F.xxhash64(c)  # noqa: E731
    # token array materialized behind an alias so the size()>0 filter that
    # InferFiltersFromGenerate injects references the computed column
    # instead of re-running split+array_distinct per row (plain explode is
    # kept deliberately: a NULL text yields a NULL array and the doc gets
    # no signature, which explode_outer would change)
    toks = F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
    ex = (
        documents.withColumn("_toks", toks)
        .select("doc_id", F.explode("_toks").alias("tok"))
        .withColumn("h", token_hash(F.col("tok")))
    )
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(_bit_mask(i))) != 0, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = ex.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(_bit_mask(i)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    df = agg.select("doc_id", sim.alias("simhash"))
    for c, (off, width) in enumerate(_chunk_widths(n_chunks)):
        df = df.withColumn(
            f"chunk{c}",
            F.shiftrightunsigned("simhash", off)
            .bitwiseAND(F.lit((1 << width) - 1)),
        )
    return df


def simhash_row_expr(text_col="text", token_hash=None):
    """Per-ROW 64-bit SimHash column expression — the stateless twin of
    simhash_signatures' explode + 64-way groupBy aggregate, for STREAMING
    frames where a per-doc aggregation would become a cross-trigger
    stateful operator.  Same token normalization, same token hash, integer
    votes — bitwise-identical signatures (pinned by
    tests/test_dedup_ops.py::test_simhash_row_expr_matches_batch).

    NULL text yields a NULL signature (the batch explode drops such docs);
    callers filter isNotNull.  Throughput note: the vote fold runs as an
    interpreted higher-order aggregate (64 ops/token) — right for
    micro-batch increments, while the batch operator's codegen'd 64-way
    aggregate remains the full-corpus path."""
    if token_hash is None:
        token_hash = lambda c: F.xxhash64(c)  # noqa: E731
    toks = F.array_distinct(F.split(F.lower(F.trim(text_col)), r"\s+"))
    masks = F.array(*[F.lit(_bit_mask(i)).cast("long") for i in range(64)])

    def bits(h):
        return F.transform(
            masks,
            lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1))
            .otherwise(F.lit(-1)),
        )

    votes = F.aggregate(
        F.transform(toks, token_hash),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bits(h), lambda a, b: a + b),
    )
    return F.aggregate(
        F.zip_with(
            votes, masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_table_keys(sigs: DataFrame, max_hamming: int = 3,
                       n_blocks: Optional[int] = None) -> DataFrame:
    """(doc_id, simhash, t, k) pigeonhole bucket membership — the shared
    front half of simhash_near_dups, split out so the streaming operator
    (streaming/simhash_state.py) keys its state store on the same (t, k)
    tables.  ``sigs`` must carry doc_id, simhash and chunk0..chunkN-1
    (simhash_signatures' output, or any frame with equivalent columns)."""
    from itertools import combinations

    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming}) "
            "— pigeonhole recall needs at least one untouched block"
        )
    if n_blocks > 64:
        raise ValueError("n_blocks cannot exceed the 64 signature bits")
    key_size = n_blocks - max_hamming
    key_structs = []
    for t, combo in enumerate(combinations(range(n_blocks), key_size)):
        key = F.xxhash64(F.concat_ws(
            ",", *[F.col(f"chunk{c}").cast("string") for c in combo]))
        key_structs.append(F.struct(F.lit(t).alias("t"), key.alias("k")))
    return sigs.select(
        "doc_id", "simhash",
        F.explode_outer(F.array(*key_structs)).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.t").alias("t"),
             F.col("bk.k").alias("k"))


def simhash_near_dups(documents: DataFrame, max_hamming: int = 3,
                      token_hash=None,
                      n_blocks: Optional[int] = None) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, candidates via
    equal block-combination keys, verified by true hamming distance
    (bit_count of xor).

    Recall is GUARANTEED by pigeonhole: <= max_hamming flipped bits touch
    <= max_hamming of the ``n_blocks`` blocks, so at least
    (n_blocks - max_hamming) blocks are untouched — and every combination
    of that many blocks is a candidate table, so some table always
    collides.  The default n_blocks = max_hamming+1 keys each table on a
    SINGLE block (the classic 4x16-bit web-dedup operating point).

    100 TB posture — key width vs table count (Manku et al., WWW '07):
    single-block keys cap bucket cardinality at 2^16 = 65k for the
    default, so at billions of documents each bucket holds ~N/65k members
    and the per-bucket candidate join goes quadratic.  Passing a larger
    ``n_blocks`` keys each table on (n_blocks - max_hamming) CONCATENATED
    blocks — e.g. n_blocks=6, max_hamming=3 gives C(6,3)=20 tables with
    ~32-bit keys (4B buckets): 5x the tables for a 65,000x bucket-
    cardinality improvement, the standard trade at web scale.  Recall
    stays exact either way (pinned by
    tests/test_dedup_ops.py::test_simhash_wide_keys_exact_recall).
    """
    if n_blocks is None:
        n_blocks = max_hamming + 1
    sigs = simhash_signatures(documents, n_blocks, token_hash)
    # ONE banded frame + ONE self-join (the minhash-banding shape) instead
    # of one join per block combination: the per-combination version
    # consumed the 64-way signature aggregate through 2 x C(n, k) plan
    # branches, re-running it per branch.  Each combination becomes a
    # (table, key) row; the combination's concatenated chunks compact to
    # an 8-byte xxhash64 key (a key collision at worst adds a candidate
    # pair that the exact hamming verification below then filters — and
    # equal blocks still always collide, so pigeonhole recall is intact).
    # The signature rides along (8 bytes) so no re-attach join is needed.
    # both self-join sides consume the banded frame; without a cache the
    # 64-way vote aggregate (one shuffle + wide aggregation) runs once per
    # side — the cached rows are slim (doc_id, simhash, t, k)
    banded = share(simhash_table_keys(sigs, max_hamming, n_blocks))
    a = banded.select(F.col("doc_id").alias("id_a"),
                      F.col("simhash").alias("s_a"), "t", "k")
    b = banded.select(F.col("doc_id").alias("id_b"),
                      F.col("simhash").alias("s_b"), "t", "k")
    return (
        a.join(b, ["t", "k"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_lsh_pairs_cross(left: DataFrame, right: DataFrame,
                            n: int = 3, num_hashes: int = 32,
                            bands: int = 8,
                            verify_threshold: float = 0.5,
                            seed: int = 7, checkable: bool = False,
                            broadcast_left: bool = False) -> DataFrame:
    """Cross-corpus (bipartite) MinHash+LSH near-dup pairs — dedup one
    corpus AGAINST another: which train documents are fuzzy duplicates
    of a reference/eval corpus (the probabilistic sibling of the
    exact-window decontamination in operators/contamination.py).

    Same banded bucket machinery as the self-join (minhash_band_keys),
    but candidates come from an A × B bucket join, never from within
    one side, so the output is (id_a from ``left``, id_b from
    ``right``, exact n-gram jaccard ≥ ``verify_threshold``).  Ids must
    be globally unique ACROSS the two frames (they key the
    verification joins).

    Scale posture: the reference side is typically benchmark-sized —
    pass ``broadcast_left=True`` to broadcast its banded keys and scan
    the 100 TB side exactly once with zero shuffles on the bucket join
    (the q58 decontamination shape); verification joins touch
    candidates only.  ``checkable=True`` switches to the md5-mod-p
    hash family the DuckDB oracle replays byte-for-byte; the default
    is the compact xxhash64 production path.
    """
    def xx_mod_p(col):
        h = F.xxhash64(col)
        return (h % MINHASH_P + MINHASH_P) % MINHASH_P

    hash_fn = md5_hash_mod_p if checkable else xx_mod_p
    banded_l = minhash_band_keys(left, hash_fn, n, num_hashes, bands,
                                 seed, compact_keys=not checkable)
    banded_r = minhash_band_keys(right, hash_fn, n, num_hashes, bands,
                                 seed, compact_keys=not checkable)
    if broadcast_left:
        banded_l = F.broadcast(banded_l)
    a, b = banded_l.alias("a"), banded_r.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .dropDuplicates()
    )
    docs_all = left.select("doc_id", "text").unionByName(
        right.select("doc_id", "text")
    )
    return _verify_candidate_jaccard(docs_all, candidates, n,
                                     verify_threshold)
