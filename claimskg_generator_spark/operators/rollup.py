"""Time-bucket rollup tables with incremental (late-data-proof)
maintenance — the continuous-aggregate / hypertable-rollup pattern
(TimescaleDB continuous aggregates, Druid rollup segments).

A rollup is a groupBy((time bucket, *keys)) of RE-AGGREGATABLE
partials.  The whole design reduces to one rule: store only measures
that form a commutative monoid (count/sum/min/max — and mean, stored
as its sum+count pair), so that

    rollup(events_a ∪ events_b) == merge(rollup(events_a),
                                          rollup(events_b))

holds exactly.  That identity is what makes the table maintainable:
new or LATE events become an increment (a rollup of just the delta),
and ``rollup_merge`` folds it in touching only rollup-sized frames —
the 100 TB event history is never rescanned.  Non-decomposable
measures (exact median, exact distinct) are rejected loudly; use the
sketch operators (hll_registers is register-max mergeable, countmin
grids are sum-mergeable) as rollup measures instead.

Scale shape: the rollup groupBy is map-side combinable on
(bucket, keys); the merge shuffles only (buckets × keys) rows.  For a
persistent rollup, write the merged frame through
sources/snapshot_table (overwrite, or ``merge`` on a composite key) —
each maintenance run becomes an atomic, time-travelable version, and
the streaming twin is cdc_stream-style foreachBatch increments.

Determinism note: pass an exact-typed measure column (e.g.
``F.col("v").cast("decimal(18,6)")``) when a double SUM must be
bit-reproducible across partitionings — decimal sums are
order-independent; double sums are not.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share

#: measure fn -> (partial aggregate, merge combiner)
_MONOIDS = {
    "count": (lambda c: F.count(c), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
}

MeasureSpec = Tuple[str, str, Union[str, Column]]  # (alias, fn, col)


def _check(measures: Sequence[MeasureSpec]) -> List[MeasureSpec]:
    out = []
    for alias, fn, col in measures:
        if fn not in _MONOIDS:
            raise ValueError(
                f"measure {alias!r}: {fn!r} is not re-aggregatable; "
                f"supported: {sorted(_MONOIDS)} (mean = sum+count pair,"
                " distinct = hll_registers, quantiles = sketches)")
        out.append((alias, fn, F.col(col) if isinstance(col, str)
                    else col))
    return out


def time_bucket_rollup(
    events: DataFrame,
    ts_col: str,
    bucket: Union[str, int],
    keys: Sequence[str],
    measures: Sequence[MeasureSpec],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Roll ``events`` up to (time bucket, *keys) partials.

    ``bucket``: a date_trunc unit ('hour', 'day', ...) giving a
    timestamp bucket column, OR an integer width in SECONDS giving an
    epoch-second long bucket (floor(epoch / w) * w — timezone-proof
    and bit-identical across engines; prefer it when the rollup must
    replay elsewhere).
    ``measures``: (alias, fn, column) with fn in count/sum/min/max.
    Also the increment builder: call it on just the new/late slice.
    """
    specs = _check(measures)
    ts = F.col(ts_col)
    if isinstance(bucket, int):
        if bucket <= 0:
            raise ValueError(f"bucket width must be > 0, got {bucket}")
        b = (F.floor(F.unix_micros(ts.cast("timestamp"))
                     / F.lit(bucket * 1_000_000)) * bucket).cast("long")
    else:
        b = F.date_trunc(bucket, ts)
    return (
        events
        .groupBy(b.alias(bucket_col), *keys)
        .agg(*[_MONOIDS[fn][0](col).alias(alias)
               for alias, fn, col in specs])
    )


def rollup_merge(
    rollup: DataFrame,
    increment: DataFrame,
    keys: Sequence[str],
    measures: Sequence[MeasureSpec],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Fold an increment (same rollup schema) into the rollup: union +
    one rollup-sized groupBy with each measure's merge combiner.
    Exactly equals re-rolling the combined event set (pytest-pinned)."""
    specs = _check(measures)
    return (
        rollup.unionByName(increment)
        .groupBy(bucket_col, *keys)
        .agg(*[_MONOIDS[fn][1](F.col(alias)).alias(alias)
               for alias, fn, _col in specs])
    )


def gap_fill(
    rolled: DataFrame,
    step: int,
    keys: Sequence[str],
    bucket_col: str = "bucket",
    locf_cols: Sequence[str] = (),
    zero_cols: Sequence[str] = (),
) -> DataFrame:
    """Densify an epoch-second bucketed rollup to a gapless per-key
    time spine — the `time_bucket_gapfill` face of a hypertable stack:
    downstream consumers (charting, window features, rate-of-change)
    need every bucket present, not just the observed ones.

    Per key, the spine is ``sequence(min bucket, max bucket, step)``
    generated IN the per-key bounds row (one combinable groupBy + one
    explode — the spine costs O(keys) shuffle rows, not O(buckets)),
    left-joined back to the observations.  ``filled`` marks generated
    rows.  Fill policy per column: ``locf_cols`` carry the last
    observation forward (`F.last(ignorenulls)` per key in bucket
    order — leading gaps stay NULL, there is nothing to carry);
    ``zero_cols`` coalesce to 0 (the right fill for counts); anything
    else stays NULL on gaps.

    The spine is the per-key min-anchored step grid UNIONed with the
    observed buckets, so an observation OFF the grid (a caller whose
    ``step`` disagrees with how the input was bucketed) is preserved
    as its own spine row rather than silently dropped — the gapfill
    densifies, it never loses data.  On grid-aligned input (anything
    :func:`time_bucket_rollup` produced with the same width) the
    union is a no-op the dedup collapses.

    Scale shape: one bounds groupBy, the spine dedup, one co-keyed
    left join, and (only when ``locf_cols`` is non-empty) one window
    exchange per key — the spine explode is in-row.  The input is
    shared once: the bounds branch and the observation branch both
    consume it, and exchange reuse dedups re-aliased subtrees only
    partially — without the cache the upstream rollup (and the raw scan
    under it) can run twice.  A key with a
    pathological bucket range fans out to range/step rows exactly
    like the real timeline it models; cap the range upstream if that
    is not intended.
    """
    if step <= 0:
        raise ValueError(f"step must be > 0, got {step}")
    ks = list(keys)
    rolled = share(rolled)
    spine = (
        rolled.groupBy(*ks).agg(
            F.min(bucket_col).alias("__b0"),
            F.max(bucket_col).alias("__b1"))
        .select(*ks, F.explode(F.sequence(
            "__b0", "__b1", F.lit(step).cast("long"))).alias(bucket_col))
        .unionByName(rolled.select(*ks, bucket_col))
        .distinct()
    )
    obs = rolled.withColumn("__obs", F.lit(True))
    out = (
        spine.join(obs, ks + [bucket_col], "left")
        .withColumn("filled", F.col("__obs").isNull())
        .drop("__obs")
    )
    if locf_cols:
        from pyspark.sql import Window

        w = (Window.partitionBy(*ks).orderBy(bucket_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        for c in locf_cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    for c in zero_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out
