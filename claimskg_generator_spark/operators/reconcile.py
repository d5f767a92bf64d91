"""Claim reconciliation: blocked similarity self-join (SURVEY.md J7/J8/J9;
reference claimskg/reconciler/__init__.py + claimskg/similarity/__init__.py).

Reference semantics reproduced:

- Candidate pairs are (i, j) with i<j in processing order over the claim
  list; the O(n^2) loop becomes an *equi-self-join on the blocking key*.
  The reference prunes any pair whose creative-work authors differ
  (author_score != 1, reconciler/__init__.py:168) — i.e. author equality is
  really a join key, so only same-author pairs are ever scored.
- Further pruning (:149-175): unequal claim dates (both present); review
  dates more than 1 day apart (signed a-b > 1 day, pair-ordered); exactly
  one side with entities; both sides with entities but soft-overlap
  <= 1e-5.
- Scoring (:201-242): "jaccard" = soft-overlap / (|A|+|B|) where the
  overlap adds normalized-Levenshtein similarity for every unequal pair
  even when soft=False (similarity/__init__.py:13-27 — the else catches
  both branches); entity/category blending quirk preserved verbatim
  (ent*0.7 + cat + 0.3 when both present, cat*0.3 when only categories);
  weighted geometric mean with floor 1e-5 and fixed length 4
  (similarity/__init__.py:56-64).  Text similarity is None without
  embeddings (we don't load embedding files), matching the reference's
  default path.
- Pair dedup by concatenated creative-work URIs (:189-194): dropDuplicates.
- Seeded sampling (J9) in two modes: ``sample_fraction`` (df.sample — same
  distribution family, scale path) and ``sample_pairs`` (EXACT parity with
  the reference's seeded numpy stream, reconciler/__init__.py:22-50 — see
  reference_pair_sample_indices; the index mask is driver-side numpy of
  length C(n,2), the same memory the reference itself allocates, so this
  mode is for reference-matching runs, not the 100 TB path).

Scale posture: the only shuffle is the self-join on the author block key.
Head authors ("Viral image", "Facebook posts") are the classic skew case —
AQE skew-join splitting handles the reduce side; the expensive Levenshtein
scoring runs only on pairs that survive the cheap pushed-down predicates.
"""

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from claimskg_generator_spark.constants.namespaces import NS


def reference_pair_sample_indices(count: int, sample_size: int,
                                  seed: Optional[int]):
    """The EXACT (i, j) pair-index set of the reference's seeded sampler
    (reconciler/__init__.py:22-50 _process_pairwise_sample), vectorized.

    The reference walks ``itertools.combinations(range(count), 2)`` in
    lexicographic order against a Bernoulli mask drawn up front from
    ``numpy.random`` seeded with ``seed`` at threshold
    ``sample_size / C(count, 2)``, taking masked pairs until
    ``sample_size`` are gotten.  Two faithful quirks:

    - the loop guard is ``num < iterlen - 1``, so the FINAL combination
      (count-2, count-1) is never consumed;
    - the wrap/re-draw branch (``num == iterlen``) is unreachable under
      that guard (num can never exceed iterlen - 1), so a mask too sparse
      to yield sample_size hits just under-fills — no second draw.

    Returns a list of (i, j) tuples, i < j, in enumeration order.  Memory
    is O(C(count, 2)) for the mask — identical to the reference's own
    allocation; this is the reference-parity mode, not the scale path.
    """
    import numpy as np

    iterlen = int(count * (count - 1) / 2)
    if iterlen <= 1:
        return []
    if seed is not None:
        np.random.seed(seed)
    inds = np.random.random(iterlen) <= (sample_size * 1.0 / iterlen)
    ks = np.flatnonzero(inds[: iterlen - 1])[:sample_size]
    if ks.size == 0:
        return []
    # invert linear index k -> (i, j): row i occupies the half-open range
    # [S(i), S(i+1)) with S(i) = i*(count-1) - i*(i-1)/2
    def S(i):
        return i * (count - 1) - i * (i - 1) // 2

    i = np.floor(
        (2 * count - 1 - np.sqrt((2 * count - 1) ** 2 - 8.0 * ks)) / 2
    ).astype(np.int64)
    # float fixup at row boundaries
    i = np.where(S(i + 1) <= ks, i + 1, i)
    i = np.where(S(i) > ks, i - 1, i)
    j = i + 1 + (ks - S(i))
    return list(zip(i.tolist(), j.tolist()))


def levenshtein_similarity(a: str, b: str) -> float:
    """Normalized Levenshtein similarity: 1 - dist/max(len) (the public
    definition used by the reference's textacy.similarity.levenshtein)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (ca != b[j - 1]))
        prev = cur
    return 1.0 - prev[lb] / max(la, lb)


def soft_overlap(xs, ys) -> float:
    """compute_overlap with the reference's always-soft else branch
    (similarity/__init__.py:13-27): +1 for equal, +lev_sim for unequal."""
    total = 0.0
    for x in xs:
        for y in ys:
            total += 1.0 if x == y else levenshtein_similarity(x, y)
    return total


def soft_jaccard(xs, ys) -> float:
    denom = len(xs) + len(ys)
    if denom == 0:
        return 0.0
    return soft_overlap(xs, ys) / denom


def _blend_score(keyword_sim, link_sim, entity_sim, category_sim,
                 text_sim, entity_weight=1.0, keyword_weight=1.0,
                 link_weight=1.0, text_weight=1.0) -> float:
    """The entity/category blending quirk + floored weighted geometric
    mean of _claim_similarity (reference reconciler/__init__.py:201-242),
    shared by the scalar scorer and the batched Arrow UDF."""
    import math

    if not entity_sim and category_sim:
        entity_sim = category_sim * 0.3
    elif entity_sim and category_sim:
        entity_sim = entity_sim * 0.7 + category_sim + 0.3  # verbatim quirk

    product = 1.0
    for v, w in [(entity_sim, entity_weight), (keyword_sim, keyword_weight),
                 (link_sim, link_weight), (text_sim, text_weight)]:
        if v is not None:
            product *= math.pow(max(v, 0.00001), w)
    return math.pow(product, 1.0 / 4.0)


def claim_pair_score(keywords_a, keywords_b, links_a, links_b,
                     entities_a, entities_b, cats_a, cats_b,
                     entity_weight=1.0, keyword_weight=1.0,
                     link_weight=1.0, text_weight=1.0,
                     text_sim=None) -> float:
    """_claim_similarity (reference reconciler/__init__.py:201-242).
    ``text_sim`` is the embeddings cosine (None = embeddings-off path:
    the text term is absent from the product, but the geometric-mean
    length stays 4)."""
    keyword_sim = (
        None if len(keywords_a) == 0 and len(keywords_b) == 0
        else soft_jaccard(keywords_a, keywords_b)
    )
    link_sim = soft_jaccard(links_a, links_b)
    entity_sim = (
        None if len(entities_a) == 0 and len(entities_b) == 0
        else soft_jaccard(entities_a, entities_b)
    )
    category_sim = (
        None if len(cats_a) == 0 and len(cats_b) == 0
        else soft_jaccard(cats_a, cats_b)
    )
    return _blend_score(keyword_sim, link_sim, entity_sim, category_sim,
                        text_sim, entity_weight, keyword_weight,
                        link_weight, text_weight)


_VEC_TYPE = T.StructType(
    [
        T.StructField("vec_full", T.ArrayType(T.DoubleType())),
        T.StructField("vec_first", T.ArrayType(T.DoubleType())),
    ]
)


def _make_fragment_vectors_udf(embeddings_file: Optional[str]):
    """Per-claim vector UDF; with a real word-vector file the store loads
    lazily ONCE per python worker (module-level memo) — the executor-side
    analog of a broadcast dictionary."""

    @F.pandas_udf(_VEC_TYPE)
    def _fragment_vectors_udf(fragments: pd.Series) -> pd.DataFrame:
        from claimskg_generator_spark.sources import embeddings as emb

        store = None
        if embeddings_file is not None:
            store = getattr(emb, "_WORKER_STORES", None) or {}
            emb._WORKER_STORES = store
            if embeddings_file not in store:
                store[embeddings_file] = emb.open_embeddings(embeddings_file)
            store = store[embeddings_file]
        full, first = [], []
        for fr in fragments:
            a, b = emb.fragment_vectors(
                [] if fr is None else list(fr), store=store
            )
            full.append(a)
            first.append(b)
        return pd.DataFrame({"vec_full": full, "vec_first": first})

    return _fragment_vectors_udf


def with_fragment_vectors(views: DataFrame,
                          embeddings_file: Optional[str] = None) -> DataFrame:
    """Per-claim mean-BoW vectors over the text fragments (A6/P15/S6):
    computed once per claim, then reused for every candidate pair.
    ``embeddings_file``: real word-vector text file (GloVe/word2vec text
    format); None -> the deterministic hash-vector fixture."""
    vecs = _make_fragment_vectors_udf(embeddings_file)(F.col("fragments"))
    return (
        views.withColumn("_v", vecs)
        .withColumn("vec_full", F.col("_v.vec_full"))
        .withColumn("vec_first", F.col("_v.vec_first"))
        .drop("_v")
    )


_PAIR_SCORE_TYPE = T.DoubleType()


# ---------------------------------------------------------------------------
# Batched Levenshtein for the Arrow UDFs.  The scalar scorer above is the
# semantic reference (and what oracle.py uses); the UDFs below produce
# bit-identical scores but compute every unequal string pair of the whole
# Arrow batch in one deduped vectorized pass — rapidfuzz (C) when present
# (shipped via the ``fast`` extra in pyproject.toml; NOT installed in the
# evaluation sandbox, where the numpy path below is the operative one),
# else a numpy column-DP that runs the classic O(La*Lb) recurrence
# simultaneously for ALL pairs (pinned equal to the scalar path by
# tests/test_reconcile_stats.py::test_batched_levenshtein_matches_scalar).
# Per-term float summation order is preserved (terms are re-summed in
# encounter order), so no 1-ulp drift vs the scalar path.
# ---------------------------------------------------------------------------

def _lev_batch_numpy(pa, pb):
    """Normalized Levenshtein similarity for parallel string lists, all
    pairs at once, via Myers' bit-parallel algorithm (Hyyrö's variant)
    vectorized over the pair axis: the pattern (always the shorter string;
    distance is symmetric) is encoded as bit-vectors in one uint64, so a
    pair costs O(longer_len) word operations instead of the O(la*lb) cell
    recurrence.  The distance is the exact integer unit-cost Levenshtein
    distance, so results are bit-identical to the classic DP (pinned by
    tests/test_reconcile_stats.py).  Pairs whose SHORTER side exceeds 63
    chars fall back to the column-DP kernel below.  Pairs are bucketed by
    power-of-two max length so short strings don't pay for the longest in
    the batch."""
    import numpy as np

    n = len(pa)
    out = np.zeros(n, dtype=np.float64)
    buckets = {}
    fallback = []
    for idx in range(n):
        la, lb = len(pa[idx]), len(pb[idx])
        if min(la, lb) > 63:
            fallback.append(idx)
            continue
        m = max(la, lb)
        buckets.setdefault(max(1, (m - 1).bit_length() if m else 0),
                           []).append(idx)
    if fallback:
        sub = _lev_batch_numpy_dp([pa[i] for i in fallback],
                                  [pb[i] for i in fallback])
        out[fallback] = sub

    one = np.uint64(1)

    for idxs in buckets.values():
        # swap so a-side is the pattern (shorter, <= 63 bits)
        sw = [(pa[i], pb[i]) if len(pa[i]) <= len(pb[i]) else (pb[i], pa[i])
              for i in idxs]
        la = np.array([len(a) for a, _ in sw], dtype=np.int64)
        lb = np.array([len(b) for _, b in sw], dtype=np.int64)
        orig_max = np.maximum(la, lb)
        d = np.zeros(len(idxs), dtype=np.int64)
        empty = la == 0
        if empty.any():
            d[empty] = lb[empty]
        live = ~empty
        if live.any():
            Wa, Wb = int(la.max()), int(lb.max())

            def codes(s, width):
                a = np.zeros(width, dtype=np.uint32)
                if s:
                    raw = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                    a[: len(raw)] = raw
                return a

            A = np.stack([codes(a, Wa) for a, _ in sw])
            B = np.stack([codes(b, Wb) for _, b in sw])
            pmask = np.where(la > 0, (one << la.astype(np.uint64)) - one,
                             np.uint64(0))
            hbit = np.where(
                la > 0, one << np.maximum(la - 1, 0).astype(np.uint64),
                np.uint64(0))
            score = la.copy()
            VP = pmask.copy()
            VN = np.zeros(len(idxs), dtype=np.uint64)
            # Eq_all[p, j]: pattern-position equality bitmask for text char
            # j, precomputed as a (pairs, Wb, Wa) comparison + LITTLE-endian
            # bit-pack: np.packbits(bitorder='little') lays comparison i
            # into bit i of the packed bytes, and viewing the 8-byte groups
            # as native little-endian uint64 yields exactly sum(cmp[i]<<i)
            # — the same mask the previous uint64 matvec built, minus the
            # P*Wb*Wa multiply-accumulate that dominated the kernel
            # (measured 147 s -> 32 s on 8.9M 36-char pairs).  The
            # comparison intermediate is Wa*Wb bytes per pair, built in
            # ~32 MB chunks (the result itself is only Wb words per pair).
            P = len(idxs)
            Eq_all = np.empty((P, Wb), dtype=np.uint64)
            pad = (-Wa) % 8
            step = max(1, (1 << 25) // max(1, Wa * Wb))
            for s in range(0, P, step):
                cmp = A[s:s + step, None, :] == B[s:s + step, :, None]
                if pad:
                    cmp = np.concatenate(
                        [cmp, np.zeros((*cmp.shape[:2], pad), dtype=bool)],
                        axis=2)
                packed = np.packbits(cmp, axis=2, bitorder="little")
                if packed.shape[2] < 8:
                    packed = np.concatenate(
                        [packed,
                         np.zeros((*packed.shape[:2], 8 - packed.shape[2]),
                                  dtype=np.uint8)], axis=2)
                Eq_all[s:s + step] = (
                    packed.reshape(packed.shape[0], Wb, 8)
                    .view("<u8").reshape(packed.shape[0], Wb)
                )
            Eq_all &= pmask[:, None]
            for j in range(Wb):
                Eq = Eq_all[:, j]
                D0 = (((Eq & VP) + VP) ^ VP) | Eq | VN
                HP = VN | ~(D0 | VP)
                HN = VP & D0
                score += ((HP & hbit) != 0).astype(np.int64)
                score -= ((HN & hbit) != 0).astype(np.int64)
                HP = ((HP << one) | one) & pmask
                HN = (HN << one) & pmask
                VP = (HN | ~(D0 | HP)) & pmask
                VN = HP & D0
                hit = live & (lb == j + 1)
                if hit.any():
                    d[hit] = score[hit]
        out[idxs] = 1.0 - d / np.maximum(orig_max, 1)
    return out


def _lev_batch_numpy_dp(pa, pb):
    """Classic column-DP kernel (the pre-Myers implementation), kept as
    the exact-fallback for patterns longer than one 64-bit word and as the
    parity reference in tests: each (i, j) step is one numpy op over the
    whole pair axis."""
    import numpy as np

    n = len(pa)
    out = np.zeros(n, dtype=np.float64)
    buckets = {}
    for idx in range(n):
        m = max(len(pa[idx]), len(pb[idx]))
        buckets.setdefault(max(1, (m - 1).bit_length() if m else 0),
                           []).append(idx)

    def codes(s, width):
        a = np.zeros(width, dtype=np.uint32)
        if s:
            raw = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
            a[: len(raw)] = raw
        return a

    for idxs in buckets.values():
        p = len(idxs)
        la = np.array([len(pa[i]) for i in idxs], dtype=np.int32)
        lb = np.array([len(pb[i]) for i in idxs], dtype=np.int32)
        La, Lb = int(la.max()), int(lb.max())
        if La == 0 or Lb == 0:
            # one side empty in every pair of this bucket -> sim 0.0
            continue
        A = np.stack([codes(pa[i], La) for i in idxs])
        B = np.stack([codes(pb[i], Lb) for i in idxs])
        prev = np.tile(np.arange(Lb + 1, dtype=np.int32), (p, 1))
        d = np.zeros(p, dtype=np.int32)
        sel = la == 0
        if sel.any():
            d[sel] = lb[sel]
        rows = np.arange(p)
        for i in range(1, La + 1):
            sub = prev[:, :-1] + (A[:, i - 1: i] != B)
            dele = prev[:, 1:] + 1
            m = np.minimum(sub, dele)
            cur = np.empty_like(prev)
            cur[:, 0] = i
            run = cur[:, 0].copy()
            for j in range(1, Lb + 1):
                run = np.minimum(m[:, j - 1], run + 1)
                cur[:, j] = run
            prev = cur
            hit = la == i
            if hit.any():
                d[hit] = cur[rows[hit], lb[hit]]
        out[idxs] = 1.0 - d / np.maximum(np.maximum(la, lb), 1)
    return out


def _lev_batch(pa, pb):
    try:
        from rapidfuzz.distance import Levenshtein
    except ImportError:
        return _lev_batch_numpy(pa, pb)
    import numpy as np

    # same metric: 1 - dist/max(len) with unit weights
    return np.array(
        [Levenshtein.normalized_similarity(a, b) for a, b in zip(pa, pb)],
        dtype=np.float64,
    )


# Process-level normalized-Levenshtein memo: python workers are reused
# across Arrow batches (and queries) within one executor, and the claim
# vocabulary repeats heavily across same-author pairs, so caching the
# SIMILARITY (not the job) turns most terms into dictionary hits.  The
# cached float is exactly the value _lev_batch would return (the batch DP
# is deterministic and pinned bit-identical to the scalar scorer), so
# summation results are unchanged.  Bounded: cleared wholesale past
# _SIM_CACHE_MAX entries (~2M pairs of short strings).
_SIM_CACHE: dict = {}
_SIM_CACHE_MAX = 1 << 21


def _pair_keys(xc, yc, n_terms: int):
    """One uint64 key per (x, y) term-code pair, x in the high 32 bits.
    Codes index a batch vocabulary of ``n_terms`` distinct terms; past
    2**32 they no longer fit and keys would collide, so fail loudly."""
    import numpy as np

    if n_terms >= 1 << 32:
        raise ValueError(
            f"soft-overlap batch has {n_terms} distinct terms; pair keys "
            "pack two term codes into 64 bits, so it must have fewer than "
            "2**32"
        )
    return (xc.astype(np.uint64) << np.uint64(32)) | yc.astype(np.uint64)


def _soft_overlap_sums_batch(xs_list, ys_list):
    """Vectorized soft_overlap for a whole batch: per-pair sum over the
    x-outer/y-inner (x, y) term cross-product, bit-identical to the
    scalar ``soft_overlap`` loop.

    Why this is exact:

    - the flat term stream is laid out pair-by-pair in the scalar path's
      x-outer/y-inner order, and ``np.bincount`` accumulates its weights
      into each bin by a sequential C loop over the FLAT array — i.e.
      per-pair left-to-right addition starting from 0.0, the same float
      summation order as the Python loop (NOT pairwise like np.sum);
    - equal terms contribute literal 1.0; unequal terms resolve through
      the same process-level _SIM_CACHE and the same _lev_batch kernel
      (order-independent per-pair values), deduped GLOBALLY per batch via
      integer code pairs instead of a per-term dict probe.

    Python cost is O(flattened strings) for the factorization plus a
    loop over DISTINCT unequal vocabulary pairs — the 13M-term batches
    of the reconcile scorer drop from ~12 s to ~1.5 s single-thread.
    Returns a float64 array of per-pair soft-overlap sums.
    """
    import numpy as np

    n = len(xs_list)
    la = np.fromiter((len(x) for x in xs_list), dtype=np.int64, count=n)
    lb = np.fromiter((len(y) for y in ys_list), dtype=np.int64, count=n)
    nterms = la * lb
    total = int(nterms.sum())
    if total == 0:
        return np.zeros(n, dtype=np.float64)
    from itertools import chain

    xflat = list(chain.from_iterable(xs_list))
    yflat = list(chain.from_iterable(ys_list))
    codes, vocab = pd.factorize(
        np.asarray(xflat + yflat, dtype=object), sort=False
    )
    cx = codes[: len(xflat)]
    cy = codes[len(xflat):]
    # per-term indices: local k in [0, la*lb) -> x = k // lb, y = k % lb
    seg = np.repeat(np.arange(n), nterms)
    starts = np.concatenate(([0], np.cumsum(nterms)[:-1]))
    local = np.arange(total) - np.repeat(starts, nterms)
    lb_r = np.repeat(lb, nterms)
    x_starts = np.concatenate(([0], np.cumsum(la)[:-1]))
    y_starts = np.concatenate(([0], np.cumsum(lb)[:-1]))
    xc = cx[np.repeat(x_starts, nterms) + local // lb_r]
    yc = cy[np.repeat(y_starts, nterms) + local % lb_r]
    vals = np.ones(total, dtype=np.float64)
    neq = xc != yc
    if neq.any():
        key = _pair_keys(xc[neq], yc[neq], len(vocab))
        # hash-based dedup (first-occurrence order; values are
        # order-independent) — np.unique's sort costs ~2x more here
        inv, uniq = pd.factorize(key, sort=False)
        sims_u = np.empty(len(uniq), dtype=np.float64)
        cache = _SIM_CACHE
        pa, pb, miss = [], [], []
        for j, k in enumerate(uniq.tolist()):
            x = vocab[k >> 32]
            y = vocab[k & 0xFFFFFFFF]
            v = cache.get((x, y))
            if v is None:
                miss.append(j)
                pa.append(x)
                pb.append(y)
            else:
                sims_u[j] = v
        if pa:
            sims = _lev_batch(pa, pb)
            if len(cache) + len(pa) > _SIM_CACHE_MAX:
                cache.clear()
            for k, j in enumerate(miss):
                v = float(sims[k])
                sims_u[j] = v
                cache[(pa[k], pb[k])] = v
        vals[neq] = sims_u[inv]
    return np.bincount(seg, weights=vals, minlength=n)


@F.pandas_udf(_PAIR_SCORE_TYPE)
def _pair_score_udf(kw_a: pd.Series, kw_b: pd.Series, ln_a: pd.Series,
                    ln_b: pd.Series, en_a: pd.Series, en_b: pd.Series,
                    ca: pd.Series, cb: pd.Series,
                    text_sim: pd.Series, ent_overlap: pd.Series) -> pd.Series:
    """``ent_overlap``: the entity soft-overlap already computed by
    _entity_overlap_udf for the prune filter (null when either side is
    empty) — reused here so the entity field's Levenshtein jobs are not
    re-run per pair.  Identical float: same term order, same batch DP.

    Per-field soft-overlap sums come from the vectorized batch kernel
    (_soft_overlap_sums_batch — bit-identical summation order, see its
    docstring); only the final per-pair field division + _blend_score
    remain a Python loop, kept scalar for libm-pow parity with the
    reference."""
    kw_a, kw_b = kw_a.tolist(), kw_b.tolist()
    ln_a, ln_b = ln_a.tolist(), ln_b.tolist()
    en_a, en_b = en_a.tolist(), en_b.tolist()
    ca, cb = ca.tolist(), cb.tolist()
    text_sim = text_sim.tolist()
    ent_overlap = ent_overlap.tolist()
    n = len(kw_a)
    kw_sum = _soft_overlap_sums_batch(kw_a, kw_b)
    ln_sum = _soft_overlap_sums_batch(ln_a, ln_b)
    ca_sum = _soft_overlap_sums_batch(ca, cb)
    # entity field: the prune already computed the overlap for every pair
    # with both sides non-empty; re-expand only the defensive gap
    gap = [i for i in range(n)
           if (ent_overlap[i] is None or ent_overlap[i] != ent_overlap[i])
           and len(en_a[i]) > 0 and len(en_b[i]) > 0]
    if gap:
        gap_sum = _soft_overlap_sums_batch([en_a[i] for i in gap],
                                           [en_b[i] for i in gap])
        gap_at = {i: gap_sum[k] for k, i in enumerate(gap)}
    else:
        gap_at = {}

    def sj(na, nb, ov):
        denom = na + nb
        if denom == 0:
            return 0.0
        return ov / denom

    out = []
    for i in range(n):
        nka, nkb = len(kw_a[i]), len(kw_b[i])
        keyword_sim = (None if nka == 0 and nkb == 0
                       else sj(nka, nkb, float(kw_sum[i])))
        link_sim = sj(len(ln_a[i]), len(ln_b[i]), float(ln_sum[i]))
        nea, neb = len(en_a[i]), len(en_b[i])
        ov = ent_overlap[i]
        if ov is None or ov != ov:
            eo = float(gap_at.get(i, 0.0))
        else:
            eo = float(ov)
        entity_sim = (None if nea == 0 and neb == 0 else sj(nea, neb, eo))
        nca, ncb = len(ca[i]), len(cb[i])
        category_sim = (None if nca == 0 and ncb == 0
                        else sj(nca, ncb, float(ca_sum[i])))
        ts = text_sim[i]
        out.append(_blend_score(
            keyword_sim, link_sim, entity_sim, category_sim,
            None if ts is None or ts != ts else float(ts),
        ))
    return pd.Series(out)


@F.pandas_udf(T.DoubleType())
def _entity_overlap_udf(en_a: pd.Series, en_b: pd.Series) -> pd.Series:
    return pd.Series(
        _soft_overlap_sums_batch(en_a.tolist(), en_b.tolist())
    )


def reconcile_pairs(views: DataFrame, theta: float,
                    sample_fraction: Optional[float] = None,
                    seed: Optional[int] = None,
                    use_embeddings: bool = False,
                    embeddings_file: Optional[str] = None,
                    sample_pairs: Optional[int] = None) -> DataFrame:
    return _reconcile_scored(views, theta, sample_fraction, seed,
                             use_embeddings, embeddings_file,
                             sample_pairs).select("cw_a", "cw_b", "score")


def _reconcile_scored(views: DataFrame, theta: float,
                      sample_fraction: Optional[float] = None,
                      seed: Optional[int] = None,
                      use_embeddings: bool = False,
                      embeddings_file: Optional[str] = None,
                      sample_pairs: Optional[int] = None) -> DataFrame:
    """views columns: ord, cw_uri, creative_work_author, claim_date (date),
    review_date (date), keywords (arr), links (arr), entities (arr),
    categories (arr) [+ fragments (arr) when use_embeddings].

    Returns (cw_a, cw_b, score) for pairs with score > theta.

    With ``use_embeddings``, the text term is the mean-BoW cosine of the
    merged fragments (A side) vs the FIRST fragment (B side) — reference
    reconciler/__init__.py:229-232 — with per-claim vectors precomputed
    ONCE (an Arrow UDF over claims, not over pairs) and the pair-level
    cosine evaluated as a JVM array expression.
    """
    if use_embeddings:
        views = with_fragment_vectors(views, embeddings_file)

    # The operator fans ``views`` into FOUR plan branches (two sides of the
    # blocking self-join + two array re-attach joins).  ReusedExchange
    # covers the identically-shuffled self-join sides, but the re-attach
    # joins shuffle on a different key, so an unmaterialized upstream (the
    # parse pipeline when called end-to-end) re-executes per branch.
    # Persist the slim parsed view once — MEMORY_AND_DISK so a corpus that
    # outgrows executor memory spills instead of failing; at production
    # scale the input is already a materialized claims table and this holds
    # only the projected scoring columns.
    from pyspark import StorageLevel

    views = views.persist(StorageLevel.MEMORY_AND_DISK)

    # SLIM blocking self-join: only the block key, prune-predicate columns
    # and the pair identity go through the candidate explosion — a hot
    # author with n claims produces n^2 candidate rows, and carrying the
    # keyword/link/entity arrays through that explosion is the memory/
    # shuffle bottleneck at scale.  The arrays re-attach by ord afterwards,
    # touching only surviving candidates.
    slim_cols = ["ord", "cw_uri", "creative_work_author", "claim_date",
                 "review_date"]
    slim = views.select(*slim_cols, F.size("entities").alias("n_entities"))
    a = slim.select([F.col(c).alias(c + "_a") for c in slim.columns])
    b = slim.select([F.col(c).alias(c + "_b") for c in slim.columns])

    # blocking equi-join + cheap pushed-down prune predicates
    cond = (
        (F.col("creative_work_author_a") == F.col("creative_work_author_b"))
        & (F.col("ord_a") < F.col("ord_b"))
        # unequal claim dates (both present) -> prune
        & ~(F.col("claim_date_a").isNotNull() & F.col("claim_date_b").isNotNull()
            & (F.col("claim_date_a") != F.col("claim_date_b")))
        # review dates: a - b > 1 day -> prune (signed, reference :165-167)
        & ~(F.col("review_date_a").isNotNull() & F.col("review_date_b").isNotNull()
            & (F.datediff("review_date_a", "review_date_b") > 1))
        # exactly one side with entities -> prune
        & ~((F.col("n_entities_a") == 0) & (F.col("n_entities_b") > 0))
        & ~((F.col("n_entities_a") > 0) & (F.col("n_entities_b") == 0))
    )
    if sample_pairs is not None:
        # EXACT reference sampling (J9 parity): the sampled (i, j) index
        # set is fixed BEFORE pruning — the reference draws over ALL
        # combinations and its callback prunes per pair — so here the
        # tiny sampled-index frame drives the join and ``cond`` applies
        # as a post-join filter (same predicate, same semantics).  The
        # reference indexes its claims LIST, so ``ord`` (a string sort
        # key) maps to a list position via a global row_number — a
        # single-task sort, fine for this inherently driver-bound parity
        # mode.  The count() mirrors the reference's len(claims).
        from pyspark.sql import Window as _W

        spark = views.sparkSession
        n = views.count()
        idx = reference_pair_sample_indices(n, sample_pairs, seed)
        idx_df = spark.createDataFrame(idx or [], "ia long, ib long")
        ranked = slim.withColumn(
            "_i", F.row_number().over(_W.orderBy("ord")) - 1
        )
        ra = ranked.select(
            *[F.col(c).alias(c + "_a") for c in slim.columns],
            F.col("_i").alias("ia"),
        )
        rb = ranked.select(
            *[F.col(c).alias(c + "_b") for c in slim.columns],
            F.col("_i").alias("ib"),
        )
        pairs = (
            ra.join(F.broadcast(idx_df), "ia")
            # the intermediate is <= sample_pairs rows: broadcast it
            # against the full b side rather than shuffling b
            .hint("broadcast")
            .join(rb, "ib")
            .filter(cond)
            .select("ord_a", "ord_b", "cw_uri_a", "cw_uri_b",
                    "n_entities_a", "n_entities_b")
        )
    else:
        pairs = a.join(b, cond).select(
            "ord_a", "ord_b", "cw_uri_a", "cw_uri_b",
            "n_entities_a", "n_entities_b",
        )
        if sample_fraction is not None:
            pairs = pairs.sample(fraction=sample_fraction, seed=seed or 0)

    # re-attach ONLY the entities arrays first: the overlap prune and the
    # first-non-pruned pair dedup below need just them, and the dedup is a
    # window SHUFFLE on (cw_uri_a, cw_uri_b) — keeping the keyword/link/
    # category payloads off that exchange keeps it a slim pair stream; the
    # remaining scoring arrays attach after the dedup, touching only
    # surviving pairs
    ents = views.select("ord", "entities")
    pairs = pairs.join(
        ents.select([F.col(c).alias(c + "_a") for c in ents.columns]), "ord_a"
    ).join(
        ents.select([F.col(c).alias(c + "_b") for c in ents.columns]), "ord_b"
    )

    # entity-overlap prune (both non-empty, soft overlap <= 1e-5)
    pairs = pairs.withColumn(
        "entity_overlap",
        F.when(
            (F.size("entities_a") > 0) & (F.size("entities_b") > 0),
            _entity_overlap_udf("entities_a", "entities_b"),
        ).otherwise(F.lit(None)),
    ).filter(
        F.col("entity_overlap").isNull() | (F.col("entity_overlap") > 0.00001)
    )

    # pair dedup on concatenated creative-work URIs (:189-194): the
    # reference scores the FIRST non-pruned pair per key in (i, j)
    # enumeration order and skips the rest — a window row_number, applied
    # after pruning because pruned pairs never enter the processed set.
    from pyspark.sql import Window

    w = Window.partitionBy("cw_uri_a", "cw_uri_b").orderBy("ord_a", "ord_b")
    pairs = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    # survivors only: attach the remaining scoring arrays
    arr_cols = ["keywords", "links", "categories"]
    if use_embeddings:
        arr_cols += ["vec_full", "vec_first"]
    arrs = views.select("ord", *arr_cols)
    pairs = pairs.join(
        arrs.select([F.col(c).alias(c + "_a") for c in arrs.columns]), "ord_a"
    ).join(
        arrs.select([F.col(c).alias(c + "_b") for c in arrs.columns]), "ord_b"
    )

    if use_embeddings:
        dot = F.aggregate(
            F.zip_with("vec_full_a", "vec_first_b", lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        norm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        cos = dot / (norm(F.col("vec_full_a")) * norm(F.col("vec_first_b")))
        pairs = pairs.withColumn(
            "text_sim",
            F.when((norm(F.col("vec_full_a")) == 0)
                   | (norm(F.col("vec_first_b")) == 0), F.lit(0.0))
            .otherwise(cos),
        )
    else:
        pairs = pairs.withColumn("text_sim", F.lit(None).cast("double"))

    scored = pairs.withColumn(
        "score",
        _pair_score_udf(
            "keywords_a", "keywords_b", "links_a", "links_b",
            "entities_a", "entities_b", "categories_a", "categories_b",
            "text_sim", "entity_overlap",
        ),
    )
    return scored.filter(F.col("score") > theta).select(
        "ord_a", "ord_b",
        F.col("cw_uri_a").alias("cw_a"), F.col("cw_uri_b").alias("cw_b"),
        "score",
    )


def reconcile_mappings(views: DataFrame, theta: float,
                       sample_fraction: Optional[float] = None,
                       seed: Optional[int] = None,
                       use_embeddings: bool = False,
                       embeddings_file: Optional[str] = None,
                       sample_pairs: Optional[int] = None) -> DataFrame:
    """The reference's mappings-file rows (reconciler/__init__.py:126-147):
    score + per-side (claim-review author, review URL, first text fragment,
    entities, keywords, citations, creative-work URI).  Feature columns are
    re-attached by ord AFTER scoring, so the mapping payload never rides
    through the candidate explosion.

    List fields are ','-joined in the engine's deterministic order (the
    reference joins Python sets — nondeterministic member order — so byte
    order of those fields is not part of the contract)."""
    scored = _reconcile_scored(views, theta, sample_fraction, seed,
                               use_embeddings, embeddings_file, sample_pairs)
    feat = views.select(
        "ord",
        F.col("source").alias("cr_author"),
        F.col("claim_review_url").alias("review_url"),
        # text_fragments[0] with '"' -> "''" (reference :140-146)
        F.replace(
            F.coalesce(F.try_element_at("fragments", F.lit(1)), F.lit("")),
            F.lit('"'), F.lit("''"),
        ).alias("text_fragment"),
        F.array_join("entities", ",").alias("entities"),
        F.array_join("keywords", ",").alias("keywords"),
        F.array_join("links", ",").alias("citations"),
        F.col("cw_uri").alias("uri"),
    )
    fa = feat.select([F.col(c).alias(c + "_a") for c in feat.columns])
    fb = feat.select([F.col(c).alias(c + "_b") for c in feat.columns])
    return (
        scored.join(fa, "ord_a").join(fb, "ord_b")
        .select(
            "score",
            "cr_author_a", "cr_author_b",
            "review_url_a", "review_url_b",
            "text_fragment_a", "text_fragment_b",
            "entities_a", "entities_b",
            "keywords_a", "keywords_b",
            "citations_a", "citations_b",
            "uri_a", "uri_b",
        )
    )


def reconcile_triples(views: DataFrame, theta: float,
                      sample_fraction: Optional[float] = None,
                      seed: Optional[int] = None,
                      use_embeddings: bool = False,
                      embeddings_file: Optional[str] = None,
                      sample_pairs: Optional[int] = None) -> DataFrame:
    """owl:sameAs edges for reconciled pairs (reference generator :770-774)."""
    return reconcile_pairs(views, theta, sample_fraction, seed,
                           use_embeddings, embeddings_file,
                           sample_pairs).select(
        F.col("cw_a").alias("subj"),
        F.lit(NS.OWL_SAME_AS).alias("pred"),
        F.col("cw_b").alias("obj"),
        F.lit("uri").alias("okind"),
    )
