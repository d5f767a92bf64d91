"""Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005).

The heavy-hitter question — "which terms appear at least T times in the
corpus?" — is trivially a groupBy at benchmark scale, but the exact
per-term count table itself becomes a liability at 100 TB: its
cardinality is the vocabulary (billions of n-grams), and any consumer
that wants approximate frequencies (quality gates, stop-term lists,
skew detection for salting decisions) should not have to materialize
or broadcast it.  The count-min sketch is the standard fix: a
depth × width integer grid, CONSTANT size regardless of corpus or
vocabulary size, mergeable across partitions (sums commute), whose
point estimate min_j grid[j][h_j(x)] never underestimates and
overestimates with probability ≤ (1/e)^depth by more than
ε = e/width of the total mass.

Spark shape (100 TB):

* token counts are ONE map-side-combinable groupBy — the same shuffle
  any frequency pass pays;
* the sketch is a regroup of that slim frame into at most
  depth × width rows (constant!), so it broadcasts for the probe join
  no matter how large the corpus is;
* probing re-derives each candidate's depth bucket ids WITHIN the row
  (posexplode over a plan-time hash array — no self-join) and takes
  min over the joined grid cells.

Determinism & oracle parity: bucket ids come from the md5-mod-p hash
family (operators/dedup.md5_hash_mod_p) salted with the row index, so
a DuckDB twin replays the grid byte-for-byte; counts and estimates are
explicit BIGINTs on both sides.

Estimates are ONE-SIDED: cms_count >= exact_count always, so the
T-threshold scan over estimates has perfect recall and the (disclosed)
false positives are exactly the rows where cms_count > exact_count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.dedup import md5_hash_mod_p


def _bucket_cols(term_col, depth: int, width: int):
    """depth bucket ids for one term: md5-mod-p over 'j|term', mod width.
    md5_hash_mod_p is non-negative, so % is safe without pmod."""
    return F.array(*[
        (md5_hash_mod_p(F.concat(F.lit(f"{j}|"), term_col)) % width)
        .cast("long")
        for j in range(depth)
    ])


def countmin_heavy_hitters(
    documents: DataFrame,
    min_count: int,
    depth: int = 4,
    width: int = 32768,
    ngram: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Terms whose count-min ESTIMATE reaches ``min_count``, with the
    exact count alongside so the sketch's one-sided error is visible.

    ``ngram`` terms are generated WITHIN the document row (transform
    over adjacent token windows — no join).  The slim (term,
    exact_count) frame is shared once: the sketch build and the
    candidate probe both consume it, and without the cache the 100 TB
    text side is tokenized and exploded twice.

    Output, one row per candidate: ``term``, ``exact_count``,
    ``cms_count`` (>= exact_count always; > means a grid collision).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if depth < 1 or width < 1:
        raise ValueError(
            f"depth/width must be >= 1, got {depth}/{width}")
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")

    # token split materialized behind its own alias so the interpreted
    # HOF lambda doesn't re-split the text once per n-gram index (the
    # with_shingle_set CollapseProject note, operators/dedup.py)
    toked = documents.select(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__toks")
    )
    t = F.col("__toks")
    if ngram == 1:
        terms = t
    else:
        terms = F.when(
            F.size(t) >= ngram,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - ngram),
                lambda i: F.array_join(F.slice(t, i + 1, ngram), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    tc = share(
        toked.select(F.explode(terms).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    )

    hashed = tc.select(
        "term", "exact_count",
        F.posexplode(_bucket_cols(F.col("term"), depth, width))
        .alias("j", "bucket"),
    )
    sketch = hashed.groupBy("j", "bucket").agg(
        F.sum("exact_count").cast("long").alias("c")
    )
    return (
        hashed.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("term", "exact_count")
        .agg(F.min("c").alias("cms_count"))
        .filter(F.col("cms_count") >= min_count)
        .select("term", "exact_count", "cms_count")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct counting (Flajolet et al. 2007)
# ---------------------------------------------------------------------------
#
# The distinct-count sibling of the count-min sketch above: per group,
# m = 2^p integer registers (CONSTANT size regardless of corpus or
# cardinality), mergeable across partitions and across corpora by
# register-wise max.  Spark ships approx_count_distinct (a JVM HLL++),
# but its register layout is opaque — this operator exists for the
# cases that need the REGISTERS themselves: merging sketches across
# separately-processed corpus shards, unioning daily snapshots without
# rescanning, or replaying the exact estimate in another engine.
#
# Determinism & oracle parity: the 60-bit hash is the first 15 hex
# chars of md5 (same '0x'-cast trick as weighted_sample), the register
# index is the top p bits, rho is 1 + leading zeros of the remaining
# (60-p)-bit suffix via string bit-length (conv/bin — exact in both
# engines, no float log2).  The harmonic sum is accumulated as an
# EXACT DECIMAL(38,0) of 2^(62 - M_j) terms, so it is order-independent
# (a plain double sum of 2^-M_j would round differently per partition
# order); the estimate is then ONE double division by a plan-time
# constant, identical everywhere, rounded for the cross-engine compare.
#
# Spark shape (100 TB): one map-side-combinable groupBy(group, idx)
# max, one groupBy(group) fold over <= m rows per group.  Nothing else.


def hll_register_cols(value_col, p: int):
    """(idx, rho) register coordinates for one value's 60-bit md5 hash."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    suffix_bits = 60 - p
    h = F.conv(F.substring(F.md5(value_col), 1, 15), 16, 10).cast("long")
    idx = F.shiftright(h, suffix_bits)
    w = h.bitwiseAND(F.lit((1 << suffix_bits) - 1))
    rho = (
        F.when(w == 0, F.lit(suffix_bits + 1))
        .otherwise(F.lit(suffix_bits + 1)
                   - F.length(F.conv(w, 10, 2)))
        .cast("int")
    )
    return idx.alias("reg_idx"), rho.alias("rho")


def hll_registers(df: DataFrame, value_col: str, by=None,
                  p: int = 8) -> DataFrame:
    """Fold ``df`` to HLL registers: (by..., reg_idx, max_rho).

    NULL values are ignored (SQL count-distinct semantics).  Register
    frames from disjoint scans MERGE by groupBy(by, reg_idx).max —
    see ``hll_merge``.
    """
    by = list(by or [])
    idx, rho = hll_register_cols(F.col(value_col), p)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*by, idx, rho)
        .groupBy(*by, "reg_idx")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(*register_frames: DataFrame) -> DataFrame:
    """Union register frames (same `by`/p) into one by register-wise max."""
    merged = register_frames[0]
    for f in register_frames[1:]:
        merged = merged.unionByName(f)
    keys = [c for c in merged.columns if c != "max_rho"]
    return merged.groupBy(*keys).agg(
        F.max("max_rho").alias("max_rho"))


def _hll_alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_estimate(registers: DataFrame, p: int = 8,
                 round_to: int = 4) -> DataFrame:
    """Per-group estimate from an ``hll_registers`` frame.

    Output: (by..., est_distinct).  The raw-range estimate is
    C / S with C = alpha * m^2 * 2^62 folded to ONE plan-time double
    literal and S the exact decimal harmonic sum; the small-range
    (linear-counting) branch fires when E <= 2.5m and empty registers
    remain, exactly as published.
    """
    m = 1 << p
    by = [c for c in registers.columns
          if c not in ("reg_idx", "max_rho")]
    two_62 = 1 << 62
    c_lit = F.lit(_hll_alpha(m) * m * m * float(two_62))
    agg = registers.groupBy(*by).agg(
        F.count(F.lit(1)).alias("__n_set"),
        F.sum(
            # shiftleft() in the Python API only takes a literal bit
            # count, so the per-row exponent goes through expr
            F.expr("CAST(shiftleft(1L, 62 - max_rho) AS DECIMAL(38,0))")
        ).alias("__s_set"),
    )
    s = (F.col("__s_set")
         + (F.lit(m) - F.col("__n_set")).cast("decimal(38,0)")
         * F.lit(two_62).cast("decimal(38,0)")).cast("double")
    e_raw = c_lit / s
    v = F.lit(m) - F.col("__n_set")
    est = F.when(
        (e_raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return agg.select(
        *by, F.round(est, round_to).alias("est_distinct"))


def hll_distinct(df: DataFrame, value_col: str, by=None, p: int = 8,
                 include_exact: bool = False,
                 round_to: int = 4) -> DataFrame:
    """Approximate COUNT(DISTINCT value_col) [GROUP BY by] via HLL.

    ``include_exact`` joins the true distinct count alongside (benchmark
    honesty, like countmin's exact_count column — never do this at
    100 TB; the whole point of the sketch is skipping that shuffle).
    Output: (by..., est_distinct[, exact_distinct]).
    """
    by = list(by or [])
    est = hll_estimate(hll_registers(df, value_col, by, p), p, round_to)
    if not include_exact:
        return est
    exact = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*by)
        .agg(F.countDistinct(value_col).alias("exact_distinct"))
    )
    if by:
        return est.join(exact, by).select(
            *by, "est_distinct", "exact_distinct")
    return est.crossJoin(F.broadcast(exact))


# ---------------------------------------------------------------------------
# Equi-width histogram quantile sketch
# ---------------------------------------------------------------------------
#
# The third mergeable sketch the monitoring family needs (count-min =
# frequencies, HLL = distinct counts, this = quantiles): per-group bin
# counts over a FIXED [lo, hi) equi-width grid.  Unlike approx_percentile
# (an opaque JVM KLL state that cannot be persisted, merged across
# snapshots, or replayed in another engine), the register frame here is
# plain (group, bin, cnt) rows — a monoid under addition, so incremental
# maintenance is the q82 rollup pattern: sketch each increment, merge by
# summing, estimate whenever asked; late data folds in touching only
# sketch-sized frames.  The estimate interpolates linearly inside the
# covering bin, so its error is bounded by one bin width (exactly the
# deal monitoring accepts; contractual p99s go to quantiles.py's exact
# value-count path instead).
#
# Spark shape (100 TB): binning is one pure row expression; registers
# are ONE map-side-combinable groupBy over at most group x n_bins rows;
# merge is one more groupBy over sketch-sized frames; the estimate is a
# per-group window over <= n_bins rows.  Everything is integer/floor
# arithmetic on explicit doubles — a DuckDB twin replays the registers
# AND the interpolation bit-for-bit, which is what makes the q91 driver
# row a full value oracle rather than a tolerance check.


def histogram_bin_col(value_col, lo: float, hi: float, n_bins: int):
    """Bin id for one value on the fixed [lo, hi) equi-width grid,
    clamped into [0, n_bins-1] (underflow keeps bin 0, overflow the
    last bin — out-of-range mass stays visible at the grid edges
    instead of vanishing)."""
    if not (hi > lo):
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    raw = F.floor(
        (value_col.cast("double") - F.lit(float(lo)))
        / F.lit((float(hi) - float(lo)) / float(n_bins))
    )
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(int(n_bins) - 1).cast("long"), raw.cast("long")),
    )


def histogram_registers(df: DataFrame, value_col: str,
                        lo: float, hi: float, n_bins: int = 256,
                        by=None) -> DataFrame:
    """Fold ``df`` to histogram registers: (by..., bin, cnt).

    One map-side-combinable groupBy; NULL values are excluded (order
    statistics are over non-NULLs).  The output is at most
    |groups| x n_bins rows regardless of input size.
    """
    by = list(by or [])
    b = histogram_bin_col(F.col(value_col), lo, hi, n_bins)
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*by, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_merge(*register_frames: DataFrame, by=None) -> DataFrame:
    """Merge register frames built on the SAME (lo, hi, n_bins) grid by
    summing per-bin counts — the monoid that makes the sketch
    incrementally maintainable (merge(h(a), h(b)) == h(a UNION ALL b),
    pinned by the q91 oracle)."""
    by = list(by or [])
    if not register_frames:
        raise ValueError("need at least one register frame")
    u = register_frames[0]
    for f in register_frames[1:]:
        u = u.unionByName(f)
    return u.groupBy(*by, "bin").agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(registers: DataFrame, lo: float, hi: float,
                        n_bins: int, qs, by=None,
                        round_to: int = 6) -> DataFrame:
    """Estimate quantiles from histogram registers: one output row per
    (by..., q) with ``est`` = bin_lo + bin_width * (k - cum_before)/cnt
    where k = ceil(q * n) — linear interpolation inside the bin that
    covers rank k, error <= one bin width.  Same rank-span array-filter
    resolution as quantiles.grouped_quantiles: every q answered in one
    pass over the sketch, no per-q scan.
    """
    by = list(by or [])
    qlist = [float(q) for q in qs]
    if not qlist or any(not (0.0 < q <= 1.0) for q in qlist):
        raise ValueError(f"qs must be within (0, 1], got {qs}")
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    width = (float(hi) - float(lo)) / float(n_bins)
    w = Window.partitionBy(*by).orderBy("bin") if by else (
        Window.partitionBy(F.lit(1)).orderBy("bin"))
    wg = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))
    cum = registers.select(
        *by, "bin", "cnt",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(wg).alias("_n"),
    )
    qarr = F.array(*[F.lit(q) for q in qlist])
    covered = F.filter(
        qarr,
        lambda q: (F.ceil(q * F.col("_n")) > F.col("_cum") - F.col("cnt"))
        & (F.ceil(q * F.col("_n")) <= F.col("_cum")),
    )
    k = F.ceil(F.col("q") * F.col("_n"))
    est = (
        F.lit(float(lo)) + F.col("bin") * F.lit(width)
        + F.lit(width) * (k - (F.col("_cum") - F.col("cnt")))
        / F.col("cnt")
    )
    return (
        cum.select(*by, "bin", "cnt", "_cum", "_n",
                   F.explode(covered).alias("q"))
        .select(*by, "q", F.round(est, round_to).alias("est"))
    )
