"""Incremental (Structured Streaming) variant of the KG-construction
pipeline.

The reference is pure batch; its only incremental facility is the Redis
memo cache (SURVEY.md §2.6).  The scale story, however, wants a live-ingest
path: new claim-review files land in a directory (or arrive on any
streaming source) and triples append to the graph table continuously.

Design:

- ``drain.source`` file stream over the input-table directory (same
  (repo, path, commit, lang, content) schema).
- Per micro-batch, ``foreachBatch`` runs the *stateless* triple families —
  parse, clean, mint, rating join, mentions, citations — and appends to a
  Parquet triple log.  URI minting is deterministic (uuid5), so re-emitted
  triples are harmless duplicates.
- Set semantics (A3) and the order-dependent operators (keyword
  first-writer-wins, duplicate alignment, reconciliation) need a global
  view, so they run in a periodic COMPACTION batch job over the
  accumulated log: ``compact_triple_log`` dedupes and re-derives the
  keyword family over the full corpus seen so far — the streaming analog
  of checkpoint-resumable batch.
"""

import dataclasses
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from claimskg_generator_spark.operators.mentions import (
    review_and_body_mention_triples,
)
from claimskg_generator_spark.operators.row_triples import (
    single_pass_row_triples,
)
from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
from claimskg_generator_spark.sources.synth import INPUT_SCHEMA
from claimskg_generator_spark.streaming.drain import drain, source


def stream_triples(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str,
                   config: Optional[PipelineConfig] = None):
    """Drain the input directory into the stateless triple log at
    ``output_dir``; returns the StreamingQuery."""
    cfg = dataclasses.replace(
        config or PipelineConfig(), checkpoint_dir=None, materialize_parsed=False
    )
    pipe = ClaimsKGPipeline(spark, cfg)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # stateless families only; global-view families come from compaction
        claims = pipe.claims(batch_df)
        out = (
            single_pass_row_triples(claims, cfg.model_uri, cfg.include_body,
                                    cfg.threshold)
            .unionByName(review_and_body_mention_triples(claims, cfg.model_uri,
                                                         cfg.threshold))
            .dropDuplicates(["subj", "pred", "obj", "okind"])
        )
        out.write.mode("append").parquet(output_dir)

    return drain(source(spark, input_dir, INPUT_SCHEMA), process_batch,
                 checkpoint_dir)


def compact_triple_log(spark: SparkSession, input_dir: str, log_dir: str,
                       compacted_dir: str,
                       config: Optional[PipelineConfig] = None) -> DataFrame:
    """Periodic compaction: full-corpus run of the order-dependent families
    (keywords, static, thesaurus, optional align/reconcile) + global dedup
    against the streamed stateless log."""
    cfg = config or PipelineConfig(materialize_parsed=False)
    pipe = ClaimsKGPipeline(spark, cfg)
    full = pipe.triples(spark.read.parquet(input_dir))
    log = spark.read.parquet(log_dir)
    compacted = full.unionByName(log).dropDuplicates(
        ["subj", "pred", "obj", "okind"]
    )
    compacted.write.mode("overwrite").parquet(compacted_dir)
    return spark.read.parquet(compacted_dir)
