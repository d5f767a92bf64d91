"""Streaming characteristic-set maintenance — the incremental twin of
operators/kg_stats.charset_state/charsets_from_state (q132), the same
batch↔stream pairing cdc_stream/sketch_stream/void_stream give their
operators.

The q122 summary feeds bgp_query's star-cardinality join ordering
(q131), so a continuously-ingesting KG wants it continuously fresh —
and rescanning 10^12 triples per refresh is not an option.  The
summary itself is not a monoid (one delete can move a subject between
fingerprints), but the per-subject ``(subj, pred, n)`` count frame
under it is plain ADDITIVE state: each micro-batch folds in as one
partial count frame (inserts +1 per row; rows whose optional ``op``
column is ``'D'`` fold as -1 — the cdc delta shape), landed as one
epoch-stamped atomic snapshot-table append (the snapshot_sink
exactly-once contract — additive counts cannot use latest-wins, so
replayed epochs are skipped before any write, exactly as sketch_stream
does).  The summary derives from the merge-on-read fold; compaction
folds partials into one base commit — safe at any moment for the same
additive-monoid reason, and negative registers (erroneous deletes)
survive folds un-clamped so an auditor still sees them while the
derived summary excludes them (kg_stats.charset_state_merge contract).

State size: O(batches × batch pairs) rows before compaction, O(live
(subj, pred) pairs) after — the same order as the graph's distinct
pair set, never its triple count.  A drained stream answers
identically to ``characteristic_sets(all surviving triples)`` (pinned
by the out-of-order 3-chunk drain pytest), because every path is the
same fold.
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.kg_stats import (
    charset_state,
    charsets_from_state,
)
from claimskg_generator_spark.streaming.drain import drain, source
from claimskg_generator_spark.streaming.snapshot_sink import (
    SnapshotTableStreamWriter,
)


class CharsetStateMaintainer(SnapshotTableStreamWriter):
    """``foreachBatch`` target: land each micro-batch's partial
    ``(subj, pred, n)`` count frame as one epoch-stamped atomic
    commit.  Rows with ``op == 'D'`` (when the column exists) fold as
    deletes; everything else is an insert."""

    def __init__(self, spark: SparkSession, table_dir: str):
        super().__init__(spark, table_dir, stat_cols=("subj",))

    def partial(self, batch_df: DataFrame) -> DataFrame:
        trips = batch_df.select("subj", "pred")
        if "op" in batch_df.columns:
            sign = F.when(F.col("op") == "D", F.lit(-1)) \
                .otherwise(F.lit(1))
            signed = batch_df.select("subj", "pred",
                                     sign.alias("sign"))
            return (signed.groupBy("subj", "pred")
                    .agg(F.sum("sign").cast("bigint").alias("n"))
                    .where(F.col("n") != 0))
        return charset_state(trips)

    def state(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """The folded ``(subj, pred, n)`` state at a version (latest
        by default): one additive merge over pair-sized partials.
        Zero-sum pairs compact away; negative survivors are kept (the
        charset_state_merge audit contract)."""
        st = self.table.read(snapshot_id)
        return (st.groupBy("subj", "pred")
                .agg(F.sum("n").cast("bigint").alias("n"))
                .where(F.col("n") != 0))

    def charsets(self, max_set_preds: Optional[int] = None) -> DataFrame:
        """The current characteristic-set summary — identical
        derivation to the batch charsets_from_state."""
        return charsets_from_state(self.state(),
                                   max_set_preds=max_set_preds)

    def compact(self) -> int:
        """Fold all landed partials into one base commit (additive
        monoid — safe at any time); returns the new snapshot id."""
        return self.fold(self.state())


def stream_charset_state(
    spark: SparkSession,
    triples_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    triple_schema=None,
    maintainer: Optional[CharsetStateMaintainer] = None,
):
    """Drain a parquet triple-file stream (optionally carrying an
    ``op`` insert/delete column) into the charset state table at
    ``table_dir``.  Returns (StreamingQuery, CharsetStateMaintainer).
    """
    m = maintainer or CharsetStateMaintainer(spark, table_dir)
    q = drain(source(spark, triples_dir, triple_schema), m, checkpoint_dir)
    return q, m
