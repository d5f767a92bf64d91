"""Streaming point-in-time (SCD2) dimension enrichment.

The batch operator (operators/asof.scd2_join) rides an as-of window —
not executable incrementally (a running window over an unbounded union
is unbounded state).  The streaming twin uses the OTHER correct shape:
a stream-static join per micro-batch, with the validity predicate
``valid_from <= ts < valid_to`` in the join condition.  The static
dimension is broadcast (dimension tables are small next to the fact
stream — the same call every warehouse makes), so each micro-batch is a
stateless map-side enrich: no streaming state at all, late facts are
simply enriched with the version valid at THEIR timestamp whenever they
arrive.

With a well-formed dim (non-overlapping versions per key) the result
row-for-row equals the batch ``scd2_join(how=...)`` over the same
facts; the pytest feeds the corpus in two chunks and pins exactly that.
"""

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.streaming.drain import drain, source


def _scd2_enrich(facts: DataFrame, dim: DataFrame, on: Sequence[str],
                 fact_ts: str, valid_from: str, valid_to: str,
                 dim_cols: Sequence[str], suffix: str,
                 how: str) -> DataFrame:
    """The join-condition form of the SCD2 attach (works on both batch
    and streaming fact frames; used per micro-batch by the stream)."""
    d = dim.select(
        *[F.col(c).alias(f"__d_{c}") for c in list(on)],
        *[F.col(c).alias(f"{c}{suffix}")
          for c in list(dim_cols) + [valid_from, valid_to]],
    )
    cond = None
    for c in on:
        eq = facts[c] == d[f"__d_{c}"]
        cond = eq if cond is None else cond & eq
    vf = d[f"{valid_from}{suffix}"]
    vt = d[f"{valid_to}{suffix}"]
    cond = cond & (vf <= facts[fact_ts]) & (
        vt.isNull() | (vt > facts[fact_ts])
    )
    joined = facts.join(
        F.broadcast(d), cond, "left_outer" if how == "left" else "inner"
    )
    return joined.drop(*[f"__d_{c}" for c in on])


def streaming_scd2_join(
    spark: SparkSession,
    facts_dir: str,
    dim: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    on: Sequence[str],
    fact_ts: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    dim_cols: "Sequence[str] | None" = None,
    suffix: str = "_dim",
    how: str = "left",
    fact_schema=None,
):
    """Drain a fact stream (parquet file source over ``facts_dir``),
    enriched with the dimension version valid at each fact's
    timestamp, into the parquet file sink at ``output_dir``.  Returns
    the StreamingQuery.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    if dim_cols is None:
        skip = set(on) | {valid_from, valid_to}
        dim_cols = [c for c in dim.columns if c not in skip]
    enriched = _scd2_enrich(source(spark, facts_dir, fact_schema), dim,
                            on, fact_ts, valid_from, valid_to, dim_cols,
                            suffix, how)
    return drain(enriched, output_dir, checkpoint_dir)
