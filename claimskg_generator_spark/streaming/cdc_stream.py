"""Streaming CDC snapshot maintenance — the incremental twin of
operators/cdc.cdc_apply.

The batch operator folds a complete change log and rewrites the whole
snapshot.  Incrementally, the correct shape is a per-micro-batch MERGE
into a persistent STATE table (sources/snapshot_table) that stores the
latest change per key INCLUDING its timestamp and op:

* keeping ``ts`` in the state makes latest-wins hold across batches in
  ANY arrival order — a late micro-batch carrying an older version of
  a key loses to the state row, exactly as it would in the batch fold;
* keeping delete TOMBSTONES (op rows, not absence) means an old
  pre-delete update arriving later cannot resurrect the key;
* ``SnapshotTable.merge`` is file-granular copy-on-write keyed on the
  state's min/max stats, so a micro-batch touching one key region of
  a sort-clustered state rewrites a sliver of it, and every batch is
  an atomic, time-travelable table version.

Exactly-once: the fold is IDEMPOTENT — re-merging a replayed batch
against a state that already reflects it re-elects the same winners
and writes the same rows — so no epoch bookkeeping is needed (unlike
the append-only snapshot_sink, where a replayed append would
duplicate).  NULL-key change rows are dropped (a CDC record without a
key addresses nothing; SnapshotTable.merge would treat each replay of
one as a fresh insert).

State size is O(live keys + tombstones), i.e. dimension-sized — the
operating regime of every MERGE-maintained table.  Prune old
tombstones with a normal ``SnapshotTable.delete`` once downstream
consumers have seen them.
"""

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.sources.snapshot_table import (
    SnapshotTable,
    SnapshotTableError,
)
from claimskg_generator_spark.streaming.drain import drain, source


class CdcSnapshotMaintainer:
    """``foreachBatch`` target: fold each change micro-batch into the
    state table with latest-wins semantics.

    State schema: (key, ts_col, [tiebreak_col,] op_col, *value_cols).
    ``snapshot()`` returns the user-facing view — live rows only, meta
    columns dropped — which row-for-row equals batch
    ``cdc_apply(seeded target, all changes so far)``.
    """

    def __init__(self, spark: SparkSession, table_dir: str, key: str,
                 value_cols: Sequence[str], ts_col: str = "ts",
                 op_col: str = "op", delete_op: str = "D",
                 tiebreak_col: Optional[str] = None,
                 stat_cols: Optional[Sequence[str]] = None):
        self.key, self.ts_col, self.op_col = key, ts_col, op_col
        self.delete_op = delete_op
        self.tiebreak_col = tiebreak_col
        self.value_cols = list(value_cols)
        meta = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
        self.state_cols = [key, *meta, op_col, *self.value_cols]
        self.table = SnapshotTable(
            spark, table_dir, stat_cols=tuple(stat_cols or (key,)))

    def _fold(self, changes: DataFrame) -> DataFrame:
        """Latest change per key: the same max_by monoid as cdc_apply,
        but keeping the flat state schema (ts/op survive)."""
        tb = self.tiebreak_col or self.key
        others = [c for c in self.state_cols if c != self.key]
        return (
            changes.groupBy(self.key)
            .agg(F.max_by(
                F.struct(*[F.col(c) for c in others]),
                F.struct(F.col(self.ts_col), F.col(tb)),
            ).alias("__w"))
            .select(self.key, "__w.*")
        )

    def seed(self, target: DataFrame, seed_ts,
             ts_type: str = "long") -> None:
        """Load an existing snapshot as the initial state: every row an
        upsert at ``seed_ts`` (pick it below all real change ts).
        ``ts_type`` must match the change stream's ts column type —
        the state table enforces one schema across merges."""
        seeded = target.select(
            F.col(self.key),
            F.lit(seed_ts).cast(ts_type).alias(self.ts_col),
            *([F.lit(seed_ts).cast(ts_type).alias(self.tiebreak_col)]
              if self.tiebreak_col else []),
            F.lit(None).cast("string").alias(self.op_col),
            *[F.col(c) for c in self.value_cols],
        ).select(*self.state_cols)
        self(seeded, batch_id=-1)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch = (
            batch_df.filter(F.col(self.key).isNotNull())
            .select(*self.state_cols)
        )
        folded = self._fold(batch)
        try:
            has_state = self.table.current_snapshot_id() is not None
        except SnapshotTableError:
            has_state = False
        if has_state:
            # only the touched keys' state rows join the election —
            # merge()'s stats pruning keeps the read to their files
            cur = self.table.read().join(
                F.broadcast(folded.select(self.key)), self.key,
                "left_semi")
            folded = self._fold(cur.unionByName(folded))
        self.table.merge(folded, self.key)

    def snapshot(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """Live rows at a state version (latest by default): tombstones
        filtered, meta dropped — the cdc_apply-equivalent view."""
        st = self.table.read(snapshot_id)
        live = st.filter(
            F.col(self.op_col).isNull()
            | (F.col(self.op_col) != self.delete_op))
        return live.select(self.key, *self.value_cols)


def streaming_cdc_apply(
    spark: SparkSession,
    changes_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    key: str,
    value_cols: Sequence[str],
    ts_col: str = "ts",
    op_col: str = "op",
    delete_op: str = "D",
    tiebreak_col: Optional[str] = None,
    change_schema=None,
    maintainer: Optional[CdcSnapshotMaintainer] = None,
):
    """Drain a parquet change-file stream into the state table at
    ``table_dir``.  Returns (StreamingQuery, CdcSnapshotMaintainer).
    """
    m = maintainer or CdcSnapshotMaintainer(
        spark, table_dir, key, value_cols, ts_col=ts_col, op_col=op_col,
        delete_op=delete_op, tiebreak_col=tiebreak_col)
    q = drain(source(spark, changes_dir, change_schema), m, checkpoint_dir)
    return q, m
