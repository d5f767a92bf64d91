"""Incremental SimHash near-duplicate detection as a custom STATEFUL
streaming operator (applyInPandasWithState) — the hamming-distance twin of
streaming/neardup_state.py.

State is keyed on the pigeonhole (table, key) buckets of the batch
operator (operators/dedup.py simhash_table_keys); each bucket's state
holds its members' (doc_id, simhash) — signatures are 8 bytes, so unlike
the MinHash form NO document-log read is needed: the exact hamming
verification (bit_count of xor, the same integer the batch operator
computes) happens inside the stateful update, and only VERIFIED pairs are
emitted.

Exactness (same argument as neardup_state.py, pinned by
tests/test_streaming.py): an unordered pair is emitted precisely at the
trigger where its later member arrives, in every table they co-occupy —
so per-trigger dropDuplicates yields the batch operator's exact pair set
regardless of file-to-trigger assignment.  Signatures come from
simhash_row_expr, the stateless per-row twin of the batch 64-way vote
aggregate (bitwise-identical, integer votes).

Scale posture: O(new docs x tables) state lookups + O(bucket members)
integer xors per arrival; no full-corpus re-shuffle per refresh.  The
optional ``max_bucket`` cap bounds hot-bucket state/emission exactly as in
the MinHash form.
"""

from typing import Iterable, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from claimskg_generator_spark.operators.dedup import (
    _chunk_widths,
    simhash_row_expr,
    simhash_table_keys,
)
from claimskg_generator_spark.streaming.drain import drain, source

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("hamming", T.IntegerType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.LongType())),
    ]
)

_U64 = (1 << 64) - 1


def _make_update_bucket(max_hamming: int, max_bucket: Optional[int]):
    def _update_bucket(key: Tuple, batches: Iterable[pd.DataFrame],
                       state: GroupState) -> Iterable[pd.DataFrame]:
        ids, sigs = state.get if state.exists else ([], [])
        ids, sigs = list(ids), list(sigs)
        seen = set(ids)
        new = []
        for pdf in batches:
            for doc_id, sig in zip(pdf["doc_id"], pdf["simhash"]):
                doc_id = int(doc_id)
                if doc_id not in seen:
                    seen.add(doc_id)
                    new.append((doc_id, int(sig)))
        if not new:
            return
        new.sort()
        out_a, out_b, out_h = [], [], []
        room = (len(ids) < max_bucket) if max_bucket else True
        for x, sx in new:
            if not room:
                break
            for y, sy in zip(ids, sigs):
                h = ((sx ^ sy) & _U64).bit_count()
                if h <= max_hamming:
                    out_a.append(min(x, y))
                    out_b.append(max(x, y))
                    out_h.append(h)
            ids.append(x)
            sigs.append(sx)
            if max_bucket and len(ids) >= max_bucket:
                room = False
        state.update((ids, sigs))
        if out_a:
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "hamming": out_h}
            )

    return _update_bucket


def streaming_simhash_neardup(spark: SparkSession, input_dir: str,
                              checkpoint_dir: str, output_dir: str,
                              schema: T.StructType, max_hamming: int = 3,
                              n_blocks: Optional[int] = None,
                              token_hash=None,
                              max_bucket: Optional[int] = None):
    """Maintain SimHash near-dup pairs (hamming <= max_hamming) over a
    streaming document directory; verified (id_a, id_b, hamming) rows
    append to ``output_dir``.  ``schema`` must contain doc_id and text.
    Returns the StreamingQuery."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    sigs = source(spark, input_dir, schema).select(
        "doc_id", simhash_row_expr("text", token_hash).alias("simhash")
    ).where(F.col("simhash").isNotNull())
    for c, (off, width) in enumerate(_chunk_widths(n_blocks)):
        sigs = sigs.withColumn(
            f"chunk{c}",
            F.shiftrightunsigned("simhash", off)
            .bitwiseAND(F.lit((1 << width) - 1)),
        )
    banded = simhash_table_keys(sigs, max_hamming, n_blocks)
    pairs = banded.groupBy("t", "k").applyInPandasWithState(
        _make_update_bucket(max_hamming, max_bucket),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.dropDuplicates(["id_a", "id_b"]).write.mode(
            "append"
        ).parquet(output_dir)

    return drain(pairs, _append, checkpoint_dir, output_mode="update")


def current_simhash_pairs(spark: SparkSession, output_dir: str) -> DataFrame:
    """The accumulated verified pair set (dropDuplicates guards replayed
    triggers after a foreachBatch retry)."""
    return spark.read.parquet(output_dir).dropDuplicates(["id_a", "id_b"])
