"""Incremental keyword first-writer-wins maintenance as a custom STATEFUL
streaming operator (applyInPandasWithState).

The batch pipeline derives each keyword's winner as ``min(ord) over rows
whose keyword-mention list has a containment match`` (operators/keywords.py
— the distributed form of the reference's global memo,
claimskg/generator/__init__.py:266,397).  The streaming form keeps one
state cell per keyword URI — the smallest matching ord seen so far — and
emits an update row whenever a new micro-batch improves it.  Because the
winner is a MIN, the operator is order-insensitive across micro-batches:
once all input has arrived, the state equals the batch answer regardless of
arrival order (exactness per batch additionally holds when files arrive in
ord order, the normal append-log case).

This replaces full-corpus recomputation of the keyword memo at compaction
time with O(new rows) incremental work per trigger.
"""

from typing import Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from claimskg_generator_spark.constants.namespaces import DEFAULT_MODEL_URI
from claimskg_generator_spark.operators.keywords import exploded_keywords
from claimskg_generator_spark.sources.claims import derive_claims, parse_records
from claimskg_generator_spark.sources.synth import INPUT_SCHEMA
from claimskg_generator_spark.streaming.drain import drain, source

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("kw_uri", T.StringType()),
        T.StructField("keyword", T.StringType()),
        T.StructField("win_ord", T.StringType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("win_ord", T.StringType()),
        T.StructField("keyword", T.StringType()),
    ]
)


def _update_winner(key: Tuple[str], batches: Iterable[pd.DataFrame],
                   state: GroupState) -> Iterable[pd.DataFrame]:
    kw_uri = key[0]
    best, keyword = (state.get if state.exists else (None, None))
    changed = False
    for pdf in batches:
        matched = pdf[pdf["has_match"]]
        if len(matched):
            cand = matched["ord"].min()
            if best is None or cand < best:
                best = cand
                keyword = matched.loc[matched["ord"] == cand, "keyword"].iloc[0]
                changed = True
    if changed:
        state.update((best, keyword))
        yield pd.DataFrame(
            {"kw_uri": [kw_uri], "keyword": [keyword], "win_ord": [best]}
        )


def streaming_keyword_winners(spark: SparkSession, input_dir: str,
                              checkpoint_dir: str, output_dir: str,
                              model_uri: str = DEFAULT_MODEL_URI):
    """Maintain per-keyword winners over a streaming input-table directory;
    update rows append to ``output_dir`` (latest win_ord per kw_uri is the
    current memo).  Returns the StreamingQuery."""
    stream = source(spark, input_dir, INPUT_SCHEMA)
    claims = derive_claims(parse_records(stream), model_uri)
    ex = exploded_keywords(claims, model_uri).select(
        "ord", "kw_uri", "keyword", (F.size("matched") > 0).alias("has_match")
    )
    winners = ex.groupBy("kw_uri").applyInPandasWithState(
        _update_winner,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # file sinks can't take update-mode output; append each batch of update
    # rows to the parquet log via foreachBatch (latest/min row per kw_uri is
    # the live memo — see current_winners)
    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(output_dir)

    return drain(winners, _append, checkpoint_dir, output_mode="update")


def current_winners(spark: SparkSession, output_dir: str) -> DataFrame:
    """Collapse the update log to the live memo: smallest win_ord per
    keyword URI."""
    log = spark.read.parquet(output_dir)
    return (
        log.groupBy("kw_uri")
        .agg(F.min(F.struct("win_ord", "keyword")).alias("w"))
        .select("kw_uri", F.col("w.keyword").alias("keyword"),
                F.col("w.win_ord").alias("win_ord"))
    )
