"""Incremental MinHash-LSH near-duplicate detection as a custom STATEFUL
streaming operator (applyInPandasWithState).

The batch operator (operators/dedup.py minhash_lsh_pairs) buckets every
document into ``bands`` LSH buckets and self-joins the buckets; over an
append-only document log that re-shuffles the WHOLE corpus per refresh.
The streaming form keys the state store on the (band, key) bucket and
keeps the bucket's member doc_ids: when a micro-batch adds new members, it
emits exactly the candidate pairs the batch self-join would add — each new
member against every prior member, plus the new members' own i<j pairs.

Exactness argument (pinned by tests/test_streaming.py): an unordered pair
(a, b) is emitted precisely at the trigger where its LATER member arrives,
and every band they co-occupy emits it in that SAME trigger — so a
per-trigger dropDuplicates inside foreachBatch yields the exact global
candidate set of the batch operator, regardless of how files are split
across triggers.  Candidates are then verified with the same exact n-gram
Jaccard (operators/dedup.py _verify_candidate_jaccard) against the
document log, so the final pair set CONVERGES to the batch answer.

Scale posture: per-trigger work is O(new docs x bands) state lookups plus
O(emitted pairs) verification — no full-corpus re-shuffle.  State is one
doc_id list per occupied bucket (the same memory the batch join's hash
side would hold for that bucket).  A hot bucket of size k emits k-1 pairs
per arrival — the natural incremental form of the batch join's k^2/2; the
optional ``max_bucket`` cap bounds state and emission for adversarial
buckets at a documented recall cost (capped members stop generating NEW
pairs, mirroring a bucket-size guard an operator would deploy at 100 TB).
"""

from typing import Iterable, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from claimskg_generator_spark.operators.dedup import (
    _verify_candidate_jaccard,
    minhash_band_keys,
)
from claimskg_generator_spark.streaming.drain import drain, source

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("members", T.ArrayType(T.LongType()))]
)


def _make_update_bucket(max_bucket: Optional[int]):
    def _update_bucket(key: Tuple, batches: Iterable[pd.DataFrame],
                       state: GroupState) -> Iterable[pd.DataFrame]:
        (members,) = state.get if state.exists else ([],)
        members = list(members)
        seen = set(members)
        new_ids = []
        for pdf in batches:
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                if doc_id not in seen:
                    seen.add(doc_id)
                    new_ids.append(doc_id)
        if not new_ids:
            return
        # deterministic order: pair emission must not depend on file
        # enumeration order within the trigger
        new_ids.sort()
        out_a, out_b = [], []
        room = (len(members) < max_bucket) if max_bucket else True
        for x in new_ids:
            if not room:
                break
            for y in members:
                out_a.append(min(x, y))
                out_b.append(max(x, y))
            members.append(x)
            if max_bucket and len(members) >= max_bucket:
                room = False
        state.update((members,))
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return _update_bucket


def streaming_minhash_neardup(spark: SparkSession, input_dir: str,
                              checkpoint_dir: str, output_dir: str,
                              schema: T.StructType, n: int = 3,
                              num_hashes: int = 32, bands: int = 8,
                              verify_threshold: float = 0.5, seed: int = 7,
                              max_bucket: Optional[int] = None):
    """Maintain near-duplicate pairs over a streaming document directory.

    Verified (id_a, id_b, jaccard) rows append to ``output_dir``; pair
    GENERATION is incremental/stateful, verification joins each trigger's
    candidates against the document log (a batch read of ``input_dir`` —
    sound because both pair members are already present in the log when
    the later one streams in).  ``schema`` must contain doc_id and text.
    Returns the StreamingQuery.
    """
    stream = source(spark, input_dir, schema)

    def xx_mod_p(col):
        from claimskg_generator_spark.operators.dedup import MINHASH_P
        h = F.xxhash64(col)
        return (h % MINHASH_P + MINHASH_P) % MINHASH_P

    banded = minhash_band_keys(stream, xx_mod_p, n, num_hashes, bands, seed,
                               compact_keys=True)
    candidates = banded.groupBy("band", "key").applyInPandasWithState(
        _make_update_bucket(max_bucket),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def _verify_and_append(batch_df: DataFrame, _batch_id: int) -> None:
        cands = batch_df.dropDuplicates(["id_a", "id_b"])
        docs = spark.read.schema(schema).parquet(input_dir)
        verified = _verify_candidate_jaccard(docs, cands, n,
                                             verify_threshold,
                                             persist_sets=False)
        verified.write.mode("append").parquet(output_dir)

    return drain(candidates, _verify_and_append, checkpoint_dir,
                 output_mode="update")


def current_neardup_pairs(spark: SparkSession, output_dir: str) -> DataFrame:
    """The accumulated near-dup pair set.  Each unordered pair appends in
    exactly one trigger (see module docstring), so this is already a set;
    dropDuplicates guards replayed triggers after a foreachBatch retry
    (append-to-parquet is not transactional)."""
    return spark.read.parquet(output_dir).dropDuplicates(["id_a", "id_b"])
