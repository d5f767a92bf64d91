"""Streaming histogram-sketch maintenance — the incremental twin of
operators/sketches.histogram_* (q91), closing the same batch↔stream
pair the rollup has in cdc_stream.

CDC's latest-wins fold is replay-idempotent on its own; ADDITIVE
register counts are not — re-folding a replayed micro-batch would
double-count.  Exactly-once therefore rides the snapshot_sink epoch
contract instead: each micro-batch lands its PARTIAL registers
(by..., bin, cnt) as ONE atomic snapshot-table append whose manifest
carries the batch id, and a replayed epoch is skipped before any
write.  The register monoid (q91's merge(h(a), h(b)) == h(a ∪ b))
does the rest:

* ``registers()`` merges the landed partials ON READ with one
  sketch-sized groupBy — correct after any interleaving or ordering
  of batches, because the merge is the monoid fold and addition
  commutes;
* ``quantiles()`` estimates from that view with the exact batch
  interpolation, so a drained stream answers bit-for-bit like
  ``histogram_quantiles(histogram_registers(all rows))``;
* ``compact_registers()`` folds every partial into one base commit —
  safe at ANY moment for the same monoid reason; the commit records
  every epoch folded into it, so the replay check survives expiring
  the snapshots below it (snapshot_sink ``fold``).

State size: O(batches × groups × n_bins) rows before compaction,
O(groups × n_bins) after — constant in corpus size either way; this
is the property that makes a quantile monitor on a 100 TB/day stream
a dimension-sized table instead of a second copy of the data.
"""

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.sketches import (
    histogram_quantiles,
    histogram_registers,
)
from claimskg_generator_spark.streaming.drain import drain, source
from claimskg_generator_spark.streaming.snapshot_sink import (
    SnapshotTableStreamWriter,
)


class HistogramSketchMaintainer(SnapshotTableStreamWriter):
    """``foreachBatch`` target: land each micro-batch's partial
    histogram registers as one epoch-stamped atomic commit."""

    def __init__(self, spark: SparkSession, table_dir: str,
                 value_col: str, lo: float, hi: float,
                 n_bins: int = 256, by: Optional[Sequence[str]] = None):
        self.value_col = value_col
        self.lo, self.hi, self.n_bins = float(lo), float(hi), int(n_bins)
        self.by = list(by or [])
        super().__init__(spark, table_dir,
                         stat_cols=tuple(self.by) or ("bin",))

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return histogram_registers(
            batch_df, self.value_col, self.lo, self.hi, self.n_bins,
            by=self.by)

    def registers(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """The merged register view at a state version (latest by
        default): one monoid fold over sketch-sized partials."""
        st = self.table.read(snapshot_id)
        return st.groupBy(*self.by, "bin").agg(
            F.sum("cnt").alias("cnt"))

    def quantiles(self, qs, round_to: int = 6) -> DataFrame:
        """Quantile estimates from the current merged registers —
        identical arithmetic to the batch path."""
        return histogram_quantiles(
            self.registers(), self.lo, self.hi, self.n_bins, qs,
            by=self.by, round_to=round_to)

    def compact_registers(self) -> int:
        """Fold all landed partials into one base commit (monoid-safe
        at any time); returns the new snapshot id."""
        return self.fold(self.registers())


def stream_histogram_sketch(
    spark: SparkSession,
    values_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    by: Optional[Sequence[str]] = None,
    value_schema=None,
    maintainer: Optional[HistogramSketchMaintainer] = None,
):
    """Drain a parquet value-file stream into the register table at
    ``table_dir``.  Returns (StreamingQuery, HistogramSketchMaintainer).
    """
    m = maintainer or HistogramSketchMaintainer(
        spark, table_dir, value_col, lo, hi, n_bins, by=by)
    q = drain(source(spark, values_dir, value_schema), m, checkpoint_dir)
    return q, m
