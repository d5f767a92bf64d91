"""Streaming VoID maintenance — the incremental twin of
operators/kg_stats.void_sketch/void_estimate (q127), the same
batch↔stream pairing sketch_stream gives the histogram sketch.

A continuously-ingesting KG owes its consumers a continuously-fresh
VoID sidecar; rescanning 10^12 triples per refresh is not an option,
and exact distinct counts cannot be maintained incrementally at all.
The void_sketch monoid solves the math (merge(sketch(a), sketch(b)) ==
sketch(a ∪ b), register-max / count-sum); this module solves the
delivery: each micro-batch of NEW triples lands its PARTIAL sketch as
one epoch-stamped atomic snapshot-table append (the snapshot_sink
exactly-once contract — additive triple counts cannot use latest-wins,
so replayed epochs are skipped before any write, exactly as
sketch_stream does for histogram counts), the description is estimated
from the merge-on-read monoid fold, and compaction folds partials into
one base commit — safe at any moment for the same monoid reason.

State size: O(batches × partitions × 2^p) rows before compaction,
O(partitions × 2^p) after — constant in graph size.  A drained stream
answers bit-for-bit like ``void_estimate(void_sketch(all triples))``
(pinned by the drain pytest), because every path is the same fold.
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.kg_stats import (
    void_estimate,
    void_sketch,
)
from claimskg_generator_spark.streaming.drain import drain, source
from claimskg_generator_spark.streaming.snapshot_sink import (
    SnapshotTableStreamWriter,
)


class VoidSketchMaintainer(SnapshotTableStreamWriter):
    """``foreachBatch`` target: land each micro-batch's partial VoID
    sketch as one epoch-stamped atomic commit."""

    def __init__(self, spark: SparkSession, table_dir: str, p: int = 12):
        self.p = p
        super().__init__(spark, table_dir, stat_cols=("scope", "metric"))

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return void_sketch(batch_df.select("subj", "pred", "obj"), p=self.p)

    def sketch(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """The merged sketch at a state version (latest by default):
        one monoid fold over sketch-sized partials."""
        st = self.table.read(snapshot_id)
        return st.groupBy("scope", "key", "metric", "reg_idx").agg(
            F.max("max_rho").alias("max_rho"),
            F.sum("cnt").alias("cnt"))

    def description(self) -> DataFrame:
        """The current VoID description — identical arithmetic to the
        batch void_estimate."""
        return void_estimate(self.sketch(), p=self.p)

    def compact(self) -> int:
        """Fold all landed partials into one base commit (monoid-safe
        at any time); returns the new snapshot id."""
        return self.fold(self.sketch())


def stream_void_sketch(
    spark: SparkSession,
    triples_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    p: int = 12,
    triple_schema=None,
    maintainer: Optional[VoidSketchMaintainer] = None,
):
    """Drain a parquet triple-file stream into the VoID register table
    at ``table_dir``.  Returns (StreamingQuery, VoidSketchMaintainer).
    """
    m = maintainer or VoidSketchMaintainer(spark, table_dir, p=p)
    q = drain(source(spark, triples_dir, triple_schema), m, checkpoint_dir)
    return q, m
