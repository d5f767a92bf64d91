"""countmin_heavy_hitters vs a naive Python count-min replay."""

import hashlib

import pytest
from pyspark.sql import functions as F

P = (1 << 31) - 1


def _md5_mod_p(s: str) -> int:
    h = hashlib.md5(s.encode()).hexdigest()
    hi, lo = int(h[:8], 16), int(h[8:16], 16)
    return (hi % P * 2 + lo % P) % P


def _naive_cms(texts, min_count, depth, width, ngram):
    from collections import Counter

    tc = Counter()
    for t in texts:
        toks = t.strip().lower().split()
        if len(toks) >= ngram:
            for i in range(len(toks) - ngram + 1):
                tc[" ".join(toks[i:i + ngram])] += 1
    grid = Counter()
    for term, n in tc.items():
        for j in range(depth):
            grid[(j, _md5_mod_p(f"{j}|{term}") % width)] += n
    out = {}
    for term, n in tc.items():
        est = min(grid[(j, _md5_mod_p(f"{j}|{term}") % width)]
                  for j in range(depth))
        if est >= min_count:
            out[term] = (n, est)
    return out


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_countmin_matches_naive_and_never_underestimates(spark):
    from claimskg_generator_spark.operators.sketches import (
        countmin_heavy_hitters,
    )

    # tiny width forces collisions so the one-sided error is exercised
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    texts = [" ".join(words[(i + j) % 5] for j in range(6))
             for i in range(30)]
    got = {
        r.term: (r.exact_count, r.cms_count)
        for r in countmin_heavy_hitters(
            _docs(spark, texts), min_count=2, depth=3, width=7,
            ngram=2,
        ).collect()
    }
    want = _naive_cms(texts, 2, 3, 7, 2)
    assert got == want
    assert got  # non-trivial
    assert all(est >= n for n, est in got.values())


def test_countmin_unigrams_and_short_docs(spark):
    from claimskg_generator_spark.operators.sketches import (
        countmin_heavy_hitters,
    )

    texts = ["a a b", "a", "c"]
    got = {
        r.term: (r.exact_count, r.cms_count)
        for r in countmin_heavy_hitters(
            _docs(spark, texts), min_count=1, depth=2, width=64,
            ngram=1,
        ).collect()
    }
    assert got["a"][0] == 3 and got["b"][0] == 1 and got["c"][0] == 1
    # ngram=3 over 1-token docs yields nothing from them
    got3 = countmin_heavy_hitters(
        _docs(spark, texts), min_count=1, depth=2, width=64,
        ngram=3,
    ).collect()
    assert {r.term for r in got3} == {"a a b"}


def test_countmin_validates(spark):
    from claimskg_generator_spark.operators.sketches import (
        countmin_heavy_hitters,
    )

    docs = _docs(spark, ["x"])
    for kw in ({"min_count": 0}, {"min_count": 1, "depth": 0},
               {"min_count": 1, "width": 0},
               {"min_count": 1, "ngram": 0}):
        with pytest.raises(ValueError):
            countmin_heavy_hitters(docs, **kw)


# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------

def _naive_hll(values, p):
    """Pure-Python replay of the exact register/estimate arithmetic."""
    import math

    m = 1 << p
    sb = 60 - p
    regs = {}
    for v in values:
        if v is None:
            continue
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        idx, w = h >> sb, h & ((1 << sb) - 1)
        rho = sb + 1 if w == 0 else sb + 1 - w.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    if m <= 16:
        alpha = 0.673
    elif m <= 32:
        alpha = 0.697
    elif m <= 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1 + 1.079 / m)
    s = sum(1 << (62 - r) for r in regs.values())
    s += (m - len(regs)) * (1 << 62)
    e = (alpha * m * m * float(1 << 62)) / float(s)
    v_zero = m - len(regs)
    if e <= 2.5 * m and v_zero > 0:
        e = float(m) * math.log(float(m) / v_zero)
    return round(e, 4)


def test_hll_matches_python_twin_exactly(spark):
    from claimskg_generator_spark.operators.sketches import hll_distinct

    vals = [f"item-{i % 700}" for i in range(5000)] + [None] * 10
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    for p in (6, 8, 12):
        got = hll_distinct(df, "v", p=p).collect()[0]["est_distinct"]
        assert got == _naive_hll(vals, p)


def test_hll_accuracy_within_bound(spark):
    from claimskg_generator_spark.operators.sketches import hll_distinct

    df = spark.range(20000).selectExpr("concat('k', id % 5000) AS v")
    row = hll_distinct(df, "v", p=10, include_exact=True).collect()[0]
    assert row["exact_distinct"] == 5000
    # 3 sigma of the published 1.04/sqrt(m) relative error
    assert abs(row["est_distinct"] - 5000) / 5000 < 3 * 1.04 / 32


def test_hll_small_range_linear_counting_branch(spark):
    from claimskg_generator_spark.operators.sketches import hll_distinct

    df = spark.createDataFrame([(f"x{i}",) for i in range(5)], "v string")
    got = hll_distinct(df, "v", p=8).collect()[0]["est_distinct"]
    assert got == _naive_hll([f"x{i}" for i in range(5)], 8)
    assert abs(got - 5) < 0.2  # linear counting is near-exact here


def test_hll_merge_equals_whole(spark):
    from claimskg_generator_spark.operators.sketches import (
        hll_estimate, hll_merge, hll_registers)

    df = spark.range(6000).selectExpr("concat('m', id % 1500) AS v",
                                      "id % 3 AS shard")
    whole = hll_estimate(hll_registers(df, "v", p=9), p=9).collect()
    parts = [hll_registers(df.filter(F.col("shard") == i), "v", p=9)
             for i in range(3)]
    merged = hll_estimate(hll_merge(*parts), p=9).collect()
    assert whole == merged


def test_hll_grouped_and_validation(spark):
    from claimskg_generator_spark.operators.sketches import (
        hll_distinct, hll_register_cols)

    df = spark.createDataFrame(
        [("a", f"v{i}") for i in range(100)]
        + [("b", f"v{i % 10}") for i in range(50)],
        "g string, v string")
    rows = {r["g"]: r for r in
            hll_distinct(df, "v", by=["g"], p=12,
                         include_exact=True).collect()}
    assert rows["a"]["exact_distinct"] == 100
    assert rows["b"]["exact_distinct"] == 10
    assert abs(rows["b"]["est_distinct"] - 10) < 0.5
    with pytest.raises(ValueError, match="p must be"):
        hll_register_cols(F.col("v"), 3)


# ---------------------------------------------------------------------------
# equi-width histogram quantile sketch
# ---------------------------------------------------------------------------

def _hist_imports():
    from claimskg_generator_spark.operators.sketches import (
        histogram_merge, histogram_quantiles, histogram_registers,
    )
    return histogram_registers, histogram_merge, histogram_quantiles


def test_histogram_registers_clamp_and_null(spark):
    histogram_registers, _, _ = _hist_imports()
    df = spark.createDataFrame(
        [("g", -5.0), ("g", 0.0), ("g", 55.0), ("g", 100.0),
         ("g", 250.0), ("g", None)],
        "grp string, v double")
    # grid [0, 100) with 10 bins: -5 clamps to bin 0, 100/250 to bin 9
    rows = {r["bin"]: r["cnt"] for r in histogram_registers(
        df, "v", 0.0, 100.0, 10, by=["grp"]).collect()}
    assert rows[0] == 2          # -5 (clamped) and 0.0
    assert rows[5] == 1          # 55
    assert rows[9] == 2          # 100 and 250 (clamped)
    assert sum(rows.values()) == 5   # NULL excluded


def test_histogram_merge_is_monoid(spark):
    histogram_registers, histogram_merge, _ = _hist_imports()
    df = spark.createDataFrame(
        [("g", float(i % 97)) for i in range(500)]
        + [("h", float(i % 13)) for i in range(200)],
        "grp string, v double")
    whole = histogram_registers(df, "v", 0.0, 100.0, 20, by=["grp"])
    a = histogram_registers(df.limit(0), "v", 0.0, 100.0, 20, by=["grp"])
    parts = [
        histogram_registers(df.filter(F.col("v") < 40), "v",
                            0.0, 100.0, 20, by=["grp"]),
        histogram_registers(df.filter(F.col("v") >= 40), "v",
                            0.0, 100.0, 20, by=["grp"]),
        a,  # merging an empty sketch is the identity
    ]
    merged = histogram_merge(*parts, by=["grp"])
    key = lambda rows: {(r["grp"], r["bin"]): r["cnt"] for r in rows}  # noqa: E731
    assert key(merged.collect()) == key(whole.collect())


def test_histogram_quantiles_within_one_bin_of_exact(spark):
    histogram_registers, _, histogram_quantiles = _hist_imports()
    from claimskg_generator_spark.operators.quantiles import (
        grouped_quantiles,
    )
    import random
    rng = random.Random(7)
    rows = [("g", rng.uniform(0, 1000.0)) for _ in range(2000)]
    df = spark.createDataFrame(rows, "grp string, v double")
    LO, HI, BINS = 0.0, 1000.0, 100
    width = (HI - LO) / BINS
    qs = [0.1, 0.5, 0.9, 0.99, 1.0]
    reg = histogram_registers(df, "v", LO, HI, BINS, by=["grp"])
    est = {r["q"]: r["est"] for r in histogram_quantiles(
        reg, LO, HI, BINS, qs, by=["grp"]).collect()}
    exact = {r["q"]: r["value"] for r in grouped_quantiles(
        df, "grp", "v", qs).collect()}
    for q in qs:
        assert abs(est[q] - exact[q]) <= width + 1e-9, (q, est, exact)
    assert est[1.0] <= HI  # interpolation never exits the grid


def test_histogram_validation(spark):
    histogram_registers, histogram_merge, histogram_quantiles = (
        _hist_imports())
    df = spark.createDataFrame([("g", 1.0)], "grp string, v double")
    with pytest.raises(ValueError, match="hi > lo"):
        histogram_registers(df, "v", 5.0, 5.0, 10)
    with pytest.raises(ValueError, match="n_bins"):
        histogram_registers(df, "v", 0.0, 1.0, 1)
    with pytest.raises(ValueError, match="register frame"):
        histogram_merge(by=["grp"])
    reg = histogram_registers(df, "v", 0.0, 10.0, 4, by=["grp"])
    with pytest.raises(ValueError, match="qs"):
        histogram_quantiles(reg, 0.0, 10.0, 4, [1.5], by=["grp"])
