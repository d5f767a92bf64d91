"""J7/J8 reconciliation and A1 statistics vs the oracle's row-at-a-time
re-execution of the reference semantics."""

import pytest

from claimskg_generator_spark.operators.reconcile import (
    claim_pair_score,
    levenshtein_similarity,
    reconcile_pairs,
    soft_jaccard,
)
from claimskg_generator_spark.operators.stats import statistics_table
from claimskg_generator_spark.operators.views import logical_views
from claimskg_generator_spark.oracle import ReferenceOracle
from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline
from claimskg_generator_spark.sources.synth import (
    THESAURUS_ENTRIES,
    gen_records,
    gen_rows,
)

N = 220
THETA = 0.25


@pytest.fixture(scope="module")
def oracle():
    o = ReferenceOracle(THESAURUS_ENTRIES)
    o.generate(gen_records(N))
    return o


@pytest.fixture(scope="module")
def claims_df(spark):
    pipe = ClaimsKGPipeline(spark)
    return pipe.claims(spark.createDataFrame(gen_rows(N))).cache()


def test_levenshtein_similarity():
    assert levenshtein_similarity("abc", "abc") == 1.0
    assert levenshtein_similarity("abc", "abd") == pytest.approx(2 / 3)
    assert levenshtein_similarity("", "abc") == 0.0
    assert levenshtein_similarity("kitten", "sitting") == pytest.approx(1 - 3 / 7)


def test_soft_jaccard_quirk():
    # unequal items contribute levenshtein similarity even in 'hard' mode
    # (reference similarity/__init__.py:13-27)
    xs, ys = ["abc"], ["abd"]
    assert soft_jaccard(xs, ys) == pytest.approx((2 / 3) / 2)
    assert soft_jaccard([], []) == 0.0


def test_geometric_blend_quirks():
    # only categories -> entity_sim = cat*0.3; both -> ent*0.7+cat+0.3
    s_only_cats = claim_pair_score([], [], [], [], [], [], ["X"], ["X"])
    assert s_only_cats > 0
    s_both = claim_pair_score([], [], [], [], ["E"], ["E"], ["X"], ["X"])
    assert s_both > s_only_cats


def test_reconcile_matches_oracle(spark, claims_df, oracle):
    want = {(a, b, round(s, 9)) for a, b, s in oracle.reconcile(THETA)}
    views = logical_views(claims_df, "http://data.gesis.org/claimskg/", 0.3)
    got_rows = reconcile_pairs(views, THETA).collect()
    got = {(r["cw_a"], r["cw_b"], round(r["score"], 9)) for r in got_rows}
    assert want, "oracle reconciliation produced no mappings — corpus too weak"
    assert got == want, (
        f"extra={sorted(got - want)[:5]} missing={sorted(want - got)[:5]}"
    )


def test_reconcile_mappings_feature_columns(spark, claims_df, oracle):
    """S9: the mappings sink carries the reference's per-side fields
    (reconciler/__init__.py:126-147), keyed to the same scored pairs."""
    from claimskg_generator_spark.operators.reconcile import reconcile_mappings

    views = logical_views(claims_df, "http://data.gesis.org/claimskg/", 0.3)
    rows = reconcile_mappings(views, THETA).collect()
    assert [f.name for f in reconcile_mappings(views, THETA).schema.fields] == [
        "score",
        "cr_author_a", "cr_author_b",
        "review_url_a", "review_url_b",
        "text_fragment_a", "text_fragment_b",
        "entities_a", "entities_b",
        "keywords_a", "keywords_b",
        "citations_a", "citations_b",
        "uri_a", "uri_b",
    ]
    want = {(a, b, round(s, 9)) for a, b, s in oracle.reconcile(THETA)}
    got = {(r["uri_a"], r["uri_b"], round(r["score"], 9)) for r in rows}
    assert got == want
    # per-side features point at real claim-review records
    by_uri = {c.creative_work_uri: c for c in oracle.claims}
    for r in rows[:20]:
        c = by_uri[r["uri_a"]]
        assert r["cr_author_a"] == c.claimreview_author
        assert r["review_url_a"] == c.claim_review_url
        # list fields: set-compare (the reference joins Python sets, so
        # member order is not part of the contract)
        assert set(r["keywords_a"].split(",")) - {""} == set(c.keywords)
        assert set(r["entities_a"].split(",")) - {""} == \
            set(c.claim_entities + c.review_entities)


STAT_COLMAP = {
    "claim_reviews": "ClaimReview",
    "claims_without_author": "Claims reviews without author",
    "entities_per_review": "Entities per review",
    "entities_per_claim": "Entities per claim",
    "total_entities": "Total Number of Entities",
    "keywords": "Keywords",
    "kw_thesoz": "Keywords reconciled with TheSoz",
    "kw_unesco": "Keywords reconciled with Unesco",
    "kw_dbpedia": "Keywords reconciled with DBPedia",
    "kw_thesoz_dbpedia": "Keywords reconciled with both TheSoz and DBPedia",
    "kw_unesco_dbpedia": "Keywords reconciled with both UNESCO and DBPedia",
    "keywords_per_review": "Keywords per review",
    "citations_per_creative_work": "Citations per CreativeWork",
    "pct_with_text": "Claims with text",
    "pct_with_author": "Claims with author",
    "pct_with_date": "Claims with date published",
    "pct_with_citations": "Claims with at least one citations",
    "pct_with_entities": "Claims with at least one entity mention",
    "pct_with_headline": "Reviews with a headline",
    "pct_with_keywords": "Reviews with at least one keyword",
    "pct_reviews_with_entities": "Reviews with at least one entity mention",
    "true_claims": "Claims rated as TRUE under our normalized scale",
    "false_claims": "Claims rated as FALSE under our normalized scale",
    "mixture_claims": "Claims rated as MIXTURE under our normalized scale",
    "other_claims": "Claims rated as OTHER under our normalized scale",
}


def test_statistics_match_oracle(spark, claims_df, oracle):
    pipe = ClaimsKGPipeline(spark)
    table = statistics_table(
        claims_df, "http://data.gesis.org/claimskg/", pipe.matchers, 0.3
    ).collect()
    want = oracle.final_stats()
    got = {r["source_grp"]: r.asDict() for r in table}
    assert set(got) == set(want)
    for grp, stats in want.items():
        for col, key in STAT_COLMAP.items():
            assert round(float(got[grp][col]), 4) == round(float(stats[key]), 4), (
                grp, col, got[grp][col], stats[key]
            )


def test_batched_levenshtein_matches_scalar():
    """The numpy column-DP used by the Arrow UDFs must equal the scalar
    reference implementation exactly (integer DP + same float division)."""
    import random

    from claimskg_generator_spark.operators.reconcile import (
        _lev_batch_numpy,
        levenshtein_similarity,
    )

    rng = random.Random(17)
    alpha = "abcdefg -_ABC0123é中"
    pa, pb = [], []
    for _ in range(300):
        pa.append("".join(rng.choice(alpha)
                          for _ in range(rng.randrange(0, 40))))
        pb.append("".join(rng.choice(alpha)
                          for _ in range(rng.randrange(0, 40))))
    # force some edge shapes
    pa += ["", "abc", "same", "x"]
    pb += ["nonempty", "", "same!", "y" * 120]
    got = _lev_batch_numpy(pa, pb)
    want = [levenshtein_similarity(a, b) for a, b in zip(pa, pb)]
    assert list(got) == want


def test_batched_overlap_terms_match_soft_overlap():
    from claimskg_generator_spark.operators.reconcile import (
        _soft_overlap_sums_batch,
        soft_overlap,
    )

    cases = [
        (["alpha", "beta"], ["beta", "gamma", "alphaa"]),
        ([], ["x"]),
        (["same", "same"], ["same"]),
        (["kw one", "kw two"], ["kw two", "kw threee"]),
    ]
    sums = _soft_overlap_sums_batch([xs for xs, _ in cases],
                                    [ys for _, ys in cases])
    for (xs, ys), got in zip(cases, sums):
        assert got == soft_overlap(xs, ys)


def test_myers_kernel_matches_dp_and_scalar():
    """The Myers bit-parallel kernel must equal BOTH the column-DP
    fallback and the scalar reference on every pair, across the word-size
    boundary (min-len > 63 routes to the DP), empties, NUL bytes and
    non-ASCII code points."""
    import random

    from claimskg_generator_spark.operators.reconcile import (
        _lev_batch_numpy,
        _lev_batch_numpy_dp,
        levenshtein_similarity,
    )

    rng = random.Random(99)
    alpha = "abcXYZ 123éü中\x00"
    pa, pb = [], []
    for _ in range(800):
        la = rng.choice([0, 1, 2, 3, 5, 8, 13, 21, 38, 63, 64, 70, 80])
        lb = rng.choice([0, 1, 2, 3, 5, 8, 13, 21, 38, 63, 64, 70, 80])
        a = "".join(rng.choice(alpha) for _ in range(la))
        b = "".join(rng.choice(alpha) for _ in range(lb))
        if a == b:
            b = b + "x"
        pa.append(a)
        pb.append(b)
    myers = _lev_batch_numpy(pa, pb)
    dp = _lev_batch_numpy_dp(pa, pb)
    for i, (a, b) in enumerate(zip(pa, pb)):
        want = levenshtein_similarity(a, b)
        assert myers[i] == want and dp[i] == want, (repr(a), repr(b))


def test_sim_cache_resolves_terms_identically(monkeypatch):
    """Process-level similarity cache: a second _soft_overlap_sums_batch
    call over the same vocabulary must resolve every unequal pair from the
    cache (no new Levenshtein jobs) with identical summed overlap."""
    from claimskg_generator_spark.operators import reconcile as R

    xs = ["alpha one", "beta two"]
    ys = ["beta two", "gamma threee"]
    R._SIM_CACHE.clear()
    first = R._soft_overlap_sums_batch([xs], [ys])

    def no_jobs(pa, pb):
        raise AssertionError("cache miss: jobs were re-enqueued")

    monkeypatch.setattr(R, "_lev_batch", no_jobs)
    second = R._soft_overlap_sums_batch([xs], [ys])
    assert list(second) == list(first) == [R.soft_overlap(xs, ys)]
    R._SIM_CACHE.clear()


def test_reference_pair_sample_indices_parity():
    """J9: the vectorized sampler reproduces the reference's seeded walk
    (reconciler/__init__.py:22-50) literally — same mask, same guard that
    never consumes the final combination, same first-sample_size cutoff."""
    import itertools

    import numpy as np

    from claimskg_generator_spark.operators.reconcile import (
        reference_pair_sample_indices,
    )

    def literal(count, sample_size, seed):
        iterlen = int(count * (count - 1) / 2)
        if seed is not None:
            np.random.seed(seed)
        inds = np.random.random(iterlen) <= (sample_size * 1.0 / iterlen)
        out, num, gotten = [], 0, 0
        it = iter(itertools.combinations(range(count), 2))
        while gotten < sample_size and num < iterlen - 1:
            b = next(it)
            if inds[num]:
                out.append(b)
                gotten += 1
            num += 1
        return out

    cases = [
        (10, 5, 0),      # sparse
        (30, 40, 1),
        (50, 1000, 7),   # dense: cutoff fires before exhaustion
        (80, 10, 42),
        (5, 100, 3),     # sample_size > C(n,2): under-fills, no re-draw
        (2, 1, 5),       # iterlen == 1: the guard yields nothing
        (300, 2000, 11),
    ]
    for count, size, seed in cases:
        assert reference_pair_sample_indices(count, size, seed) == \
            literal(count, size, seed), (count, size, seed)


def test_reconcile_exact_sample_matches_reference_stream(spark, claims_df):
    """J9 end-to-end: sample_pairs mode produces EXACTLY the pairs+scores
    of the reference's seeded sampler run (oracle walks the literal
    reference loop over the same corpus)."""
    o = ReferenceOracle(THESAURUS_ENTRIES)
    o.generate(gen_records(N))
    want = {(a, b, round(s, 9))
            for a, b, s in o.reconcile(THETA, samples=12000, seed=99)}
    views = logical_views(claims_df, "http://data.gesis.org/claimskg/", 0.3)
    got_rows = reconcile_pairs(
        views, THETA, seed=99, sample_pairs=12000
    ).collect()
    got = {(r["cw_a"], r["cw_b"], round(r["score"], 9)) for r in got_rows}
    assert want, "sampled oracle run produced no mappings — corpus too weak"
    assert got == want, (
        f"extra={sorted(got - want)[:5]} missing={sorted(want - got)[:5]}"
    )


def test_batched_scorer_bit_exact(spark):
    """The batched Arrow pair scorer (_pair_score_udf) must equal the
    scalar claim_pair_score bit-for-bit — no rounding tolerance."""
    from claimskg_generator_spark.operators.reconcile import (
        _pair_score_udf,
        claim_pair_score,
        soft_overlap,
    )

    rows = [
        # (kw_a, kw_b, ln_a, ln_b, en_a, en_b, ca, cb, text_sim)
        (["tax", "economy"], ["taxes", "econ"], ["u1"], ["u1", "u2"],
         ["Obama"], ["Obamacare"], ["politics"], ["policy"], None),
        # all-empty fields except links
        ([], [], ["a"], ["b"], [], [], [], [], None),
        # zero-term pair: everything empty
        ([], [], [], [], [], [], [], [], None),
        # repeated vocab across rows (exercises the batch-wide term dedup)
        (["tax", "economy"], ["taxes", "econ"], ["u1"], ["u1"],
         ["Obama"], ["Obamacare"], [], [], 0.5),
        # equal strings only (no Levenshtein jobs at all)
        (["same"], ["same"], ["x"], ["x"], ["E"], ["E"], ["c"], ["c"], None),
        # one-sided arrays
        (["only_a"], [], [], ["only_b"], [], [], ["cat"], [], 0.25),
        # unicode + long strings (Myers fallback path)
        (["é中文" * 30], ["e中文" * 30], [], [], [], [], [], [], None),
    ]
    data = []
    for i, r in enumerate(rows):
        kw_a, kw_b, ln_a, ln_b, en_a, en_b, ca, cb, ts = r
        ov = soft_overlap(en_a, en_b) if en_a and en_b else None
        data.append((str(i), str(i) + "x", kw_a, kw_b, ln_a, ln_b,
                     en_a, en_b, ca, cb, ts, ov))
    schema = (
        "ord_a string, ord_b string, keywords_a array<string>, "
        "keywords_b array<string>, links_a array<string>, "
        "links_b array<string>, entities_a array<string>, "
        "entities_b array<string>, categories_a array<string>, "
        "categories_b array<string>, text_sim double, entity_overlap double"
    )
    pairs = spark.createDataFrame(data, schema)

    got = {
        r["ord_a"]: r["score"]
        for r in pairs.withColumn(
            "score",
            _pair_score_udf(
                "keywords_a", "keywords_b", "links_a", "links_b",
                "entities_a", "entities_b", "categories_a", "categories_b",
                "text_sim", "entity_overlap",
            ),
        ).select("ord_a", "score").collect()
    }
    for i, r in enumerate(rows):
        kw_a, kw_b, ln_a, ln_b, en_a, en_b, ca, cb, ts = r
        want = claim_pair_score(kw_a, kw_b, ln_a, ln_b, en_a, en_b,
                                ca, cb, text_sim=ts)
        assert got[str(i)] == want, f"row {i}: batched {got[str(i)]} != scalar {want}"


def test_pair_keys_reject_oversized_vocabulary():
    """_soft_overlap_sums_batch packs two term codes per uint64 key; a
    batch vocabulary of 2**32 terms cannot be packed and must fail loudly
    (driven directly: such a batch cannot be built in a test)."""
    import numpy as np

    from claimskg_generator_spark.operators.reconcile import _pair_keys

    xc = np.array([0, 5, (1 << 32) - 1])
    yc = np.array([(1 << 32) - 1, 7, 3])
    keys = _pair_keys(xc, yc, (1 << 32) - 1)
    assert [(k >> 32, k & 0xFFFFFFFF) for k in keys.tolist()] == list(
        zip(xc.tolist(), yc.tolist())
    )
    with pytest.raises(ValueError, match=str(1 << 32)):
        _pair_keys(xc, yc, 1 << 32)
