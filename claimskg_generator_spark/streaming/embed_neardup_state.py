"""Incremental embedding-cosine near-duplicate detection as a custom
STATEFUL streaming operator — the hyperplane-LSH member of the streaming
dedup family (exact: dedup_state.py, MinHash: neardup_state.py, SimHash:
simhash_state.py).

Same shape as the MinHash form, and deliberately SHARES its stateful
bucket-update function: state is keyed on the (band, key) buckets of the
batch operator (operators/similarity.py hyperplane_band_keys — stateless
sign-pattern column expressions, so they run unchanged on a streaming
frame) and holds member ids only; exact cosine verification joins each
trigger's candidates against the embeddings log.  Vectors deliberately do
NOT ride in the state: at web scale a vector is dim x 8 bytes and would be
duplicated across all ``bands`` buckets, while the id-only state plus a
candidates-to-log join keeps state O(members) and verification
O(emitted pairs).

Exactness: identical argument to neardup_state.py (a pair is emitted at
the later member's trigger, in every co-occupied band, so per-trigger
dropDuplicates reconstructs the batch candidate set exactly); convergence
to batch lsh_cosine_pairs is pinned by tests/test_streaming.py.
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from claimskg_generator_spark.operators.similarity import (
    _dot,
    _norm,
    hyperplane_band_keys,
)
from claimskg_generator_spark.streaming.drain import drain, source
from claimskg_generator_spark.streaming.neardup_state import (
    _OUT_SCHEMA,
    _STATE_SCHEMA,
    _make_update_bucket,
)


def streaming_embedding_neardup(spark: SparkSession, input_dir: str,
                                checkpoint_dir: str, output_dir: str,
                                schema: T.StructType, dim: int,
                                bands: int = 8, planes_per_band: int = 8,
                                threshold: float = 0.9, seed: int = 11,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                max_bucket: Optional[int] = None):
    """Maintain embedding near-dup pairs (cosine >= threshold) over a
    streaming embeddings directory; verified (id_a, id_b, cosine) rows
    append to ``output_dir``.  ``dim`` is required exactly as in the batch
    operator (plan-time hyperplane literals).  Returns the StreamingQuery.
    """
    banded = hyperplane_band_keys(
        source(spark, input_dir, schema), bands, planes_per_band, seed,
        dim=dim, id_col=id_col, vec_col=vec_col,
    ).withColumnRenamed(id_col, "doc_id")
    candidates = banded.groupBy("band", "key").applyInPandasWithState(
        _make_update_bucket(max_bucket),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def _verify_and_append(batch_df: DataFrame, _batch_id: int) -> None:
        cands = batch_df.dropDuplicates(["id_a", "id_b"])
        emb = spark.read.schema(schema).parquet(input_dir)
        va = emb.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("v_a"))
        vb = emb.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("v_b"))
        pairs = cands.join(va, "id_a").join(vb, "id_b")
        cos = _dot(F.col("v_a"), F.col("v_b")) / (
            _norm(F.col("v_a")) * _norm(F.col("v_b"))
        )
        (
            pairs.withColumn("cosine", F.round(cos, 4))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
            .write.mode("append").parquet(output_dir)
        )

    return drain(candidates, _verify_and_append, checkpoint_dir,
                 output_mode="update")


def current_embedding_pairs(spark: SparkSession,
                            output_dir: str) -> DataFrame:
    """The accumulated verified pair set (dropDuplicates guards replayed
    triggers after a foreachBatch retry)."""
    return spark.read.parquet(output_dir).dropDuplicates(["id_a", "id_b"])
