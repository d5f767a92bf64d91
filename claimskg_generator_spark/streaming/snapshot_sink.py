"""Exactly-once streaming sink into the snapshot table format — the
package's one epoch-idempotent appender.

Structured Streaming's file/parquet sinks give at-least-once file output
with their own _spark_metadata log; this sink instead lands every
micro-batch as an ATOMIC snapshot-table commit (sources/snapshot_table),
so stream output is immediately time-travelable, stats-pruned, and
maintainable (compact/expire/vacuum/merge) like any batch-written table.

Exactly-once comes from epoch idempotence, the same contract Spark's
foreachBatch documents: ``batch_id`` is stable across replays, and the
epoch id rides INSIDE the table's atomic manifest commit (the
``extra`` annotation of SnapshotTable.append) — there is no window
between data landing and the epoch being recorded.  A crash between
the table commit and the streaming checkpoint advance therefore costs
a no-op replay, never a duplicate append.

The replay check walks the manifest PARENT CHAIN (``stream_batch_ids``
per commit).  ``fold`` — the maintainers' compaction — records the
whole epoch set in its overwrite commit, and so do the table's own
compact/delete/merge commits on a stream-fed table; the walk stops
there, so expiring the snapshots below such a commit keeps every epoch.
Expiring below any OTHER commit loses epoch records: the walk then meets
a missing manifest and raises instead of answering with a partial set.

Scale posture: one manifest read per micro-batch (O(chain) on first call,
then cached in ``_seen``); the append itself is the table's normal
optimistic commit — no extra shuffle, no coordination beyond the atomic
manifest claim.
"""

from typing import Optional, Set

from pyspark.sql import DataFrame, SparkSession

from claimskg_generator_spark.sources.snapshot_table import SnapshotTable
from claimskg_generator_spark.streaming.drain import drain


def committed_stream_batch_ids(table: SnapshotTable) -> Set[int]:
    """All stream batch ids committed to ``table``
    (SnapshotTable.stream_batch_ids of its current snapshot)."""
    return table.stream_batch_ids()


class SnapshotTableStreamWriter:
    """``foreachBatch`` target: append each micro-batch's ``partial`` as
    one snapshot commit, idempotent on ``batch_id`` across restarts and
    replays.  Maintainers override ``partial`` only."""

    def __init__(self, spark: SparkSession, table_dir: str,
                 stat_cols=()):
        self.table = SnapshotTable(spark, table_dir, stat_cols=stat_cols)
        self._seen: Optional[Set[int]] = None

    def partial(self, batch_df: DataFrame) -> DataFrame:
        """The frame one micro-batch lands: the batch itself here."""
        return batch_df

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._seen is None:
            self._seen = committed_stream_batch_ids(self.table)
        if batch_id in self._seen:
            return  # replayed epoch: the commit already landed
        # the epoch id is part of the SAME atomic manifest commit as the
        # data — a crash can only lose or land BOTH together; an empty
        # batch still lands so the epoch is recorded
        self.table.append(self.partial(batch_df),
                          extra={"stream_batch_ids": [batch_id]})
        self._seen.add(batch_id)

    def fold(self, view: DataFrame) -> int:
        """Overwrite the table with ``view`` (the folded state) in one
        commit that also records every epoch committed so far; returns
        the new snapshot id."""
        ids = committed_stream_batch_ids(self.table)
        sid = self.table.overwrite(
            view, extra={"stream_batch_ids": sorted(ids)})
        self._seen = ids
        return sid


def write_stream_to_snapshot_table(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    stat_cols=(),
):
    """Drain a streaming DataFrame into a snapshot table; returns the
    started StreamingQuery."""
    writer = SnapshotTableStreamWriter(
        stream_df.sparkSession, table_dir, stat_cols=stat_cols)
    return drain(stream_df, writer, checkpoint_dir)
