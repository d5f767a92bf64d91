"""Streaming code-KG maintenance — the incremental twin of
operators/code_kg.code_triples (q98), completing the batch↔stream pair
for the north-rule pipeline the way cdc_stream does for the rollup and
sketch_stream for the histogram.

New code files arrive continuously (a crawl, a push-event feed); the
graph they imply must grow without recomputing the corpus.  The triple
SET is a union monoid — dedup(t(a) ∪ t(b)) == t(a ∪ b) because every
triple is a pure function of one file row — so the maintainer lands
each micro-batch's in-batch-distinct triples as ONE epoch-stamped
atomic snapshot-table append (the snapshot_sink exactly-once contract:
a replayed batch id is skipped before any write), accepting CROSS-batch
duplicates in storage:

* ``graph()`` is the merge-on-read fold — one distinct over the landed
  commits — correct under any batch interleaving or replay because set
  union is idempotent and commutative;
* ``compact_graph()`` folds the stored commits into one deduped base
  commit, safe at any moment for the same monoid reason; the commit
  records every epoch folded into it, so the replay check survives
  expiring the snapshots below it (snapshot_sink ``fold``).

Cross-batch duplicates are bounded in practice: per-file triples are
unique to the file, so only the shared entity facts (repo type/label,
module type/label) repeat across batches — O(entities), not O(files).
This is the Iceberg-style "append now, OPTIMIZE later" shape, which is
what keeps the hot path a narrow generator stage + one in-batch
distinct at 100 TB/day.
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from claimskg_generator_spark.operators.code_kg import code_triples
from claimskg_generator_spark.streaming.drain import drain, source
from claimskg_generator_spark.streaming.snapshot_sink import (
    SnapshotTableStreamWriter,
)


class CodeKGMaintainer(SnapshotTableStreamWriter):
    """``foreachBatch`` target: extract the micro-batch's triples and
    land them as one epoch-stamped atomic commit."""

    def __init__(self, spark: SparkSession, table_dir: str,
                 scheme: str = "md5"):
        self.scheme = scheme
        super().__init__(spark, table_dir, stat_cols=("pred",))

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return code_triples(batch_df, scheme=self.scheme)

    def graph(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """The deduped triple set at a state version (latest by
        default): one merge-on-read set fold."""
        return self.table.read(snapshot_id).distinct()

    def compact_graph(self) -> int:
        """Fold the landed commits into one deduped base commit
        (monoid-safe at any time); returns the new snapshot id."""
        return self.fold(self.graph())


def stream_code_kg(
    spark: SparkSession,
    files_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    scheme: str = "md5",
    files_schema=None,
    maintainer: Optional[CodeKGMaintainer] = None,
):
    """Drain a parquet code-file stream into the triple table at
    ``table_dir``.  Returns (StreamingQuery, CodeKGMaintainer)."""
    m = maintainer or CodeKGMaintainer(spark, table_dir, scheme=scheme)
    q = drain(source(spark, files_dir, files_schema), m, checkpoint_dir)
    return q, m
