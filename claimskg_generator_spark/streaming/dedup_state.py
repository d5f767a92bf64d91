"""Incremental exact-dedup survivor memo as a custom STATEFUL streaming
operator (applyInPandasWithState).

The batch operator (operators/dedup.py exact_duplicates) picks ``min
(doc_id) per content fingerprint`` as the group survivor.  The streaming
form keeps one state cell per fingerprint — the smallest doc_id seen so
far — and emits an update row whenever a micro-batch improves it.  The
survivor is a MIN, so the operator is order-insensitive across
micro-batches: once all input has arrived, ``current_survivors`` equals
the batch answer regardless of file arrival order (same convergence
contract as streaming/keyword_state.py).

This is the streaming face of the training-data dedup family: an
append-only document log is deduplicated with O(new docs) work per
trigger instead of a full-corpus re-shuffle at every compaction.
"""

from typing import Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from claimskg_generator_spark.streaming.drain import drain, source

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.StringType()),
        T.StructField("survivor_id", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType([T.StructField("survivor_id", T.LongType())])


def _update_survivor(key: Tuple[str], batches: Iterable[pd.DataFrame],
                     state: GroupState) -> Iterable[pd.DataFrame]:
    fp = key[0]
    (best,) = state.get if state.exists else (None,)
    changed = False
    for pdf in batches:
        if len(pdf):
            cand = int(pdf["doc_id"].min())
            if best is None or cand < best:
                best = cand
                changed = True
    if changed:
        state.update((best,))
        yield pd.DataFrame({"fingerprint": [fp], "survivor_id": [best]})


def streaming_exact_dedup(spark: SparkSession, input_dir: str,
                          checkpoint_dir: str, output_dir: str,
                          schema: T.StructType):
    """Maintain the exact-dedup survivor memo over a streaming document
    directory; update rows append to ``output_dir``.  ``schema`` is the
    document schema (must contain doc_id, text).  Returns the
    StreamingQuery."""
    stream = source(spark, input_dir, schema)
    # identical normalization to the batch operator (dedup.py:28)
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    keyed = stream.select("doc_id", F.md5(norm).alias("fingerprint"))
    memo = keyed.groupBy("fingerprint").applyInPandasWithState(
        _update_survivor,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(output_dir)

    return drain(memo, _append, checkpoint_dir, output_mode="update")


def current_survivors(spark: SparkSession, output_dir: str) -> DataFrame:
    """Collapse the update log to the live memo: smallest survivor per
    fingerprint — equal to the batch exact_duplicates survivor set once
    the stream has drained."""
    return (
        spark.read.parquet(output_dir)
        .groupBy("fingerprint")
        .agg(F.min("survivor_id").alias("survivor_id"))
    )
