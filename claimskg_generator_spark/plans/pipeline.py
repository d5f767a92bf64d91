"""End-to-end KG-construction plan.

One lazy DataFrame DAG per run (SURVEY.md EP1 re-expressed):

    scan (repo,path,commit,lang,content)
      -> parse/clean/mint (codegen'd column expressions + 5 pandas UDFs)
      -> broadcast rating-normalization join (J1)
      -> triple families (core / mentions / keywords / citations / static)
      -> unionByName -> dropDuplicates (A3, the canonicalization shuffle)
      -> partitioned Parquet triple table or N-Triples text sink

Scale posture: the only shuffles are (a) the final distinct, (b) the slim
per-keyword winner aggregate, (c) the optional duplicate-title self-join.
Everything else is map-side (broadcast dims, within-row array ops).
"""

import dataclasses
import json
from dataclasses import dataclass, field
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import DEFAULT_MODEL_URI
from claimskg_generator_spark.constants.static_triples import (
    DEFAULT_GENERATED_AT,
    static_triples,
)
from claimskg_generator_spark.functions.udfs import clean_citations
from claimskg_generator_spark.operators.cache import release, share
from claimskg_generator_spark.operators.keywords import (
    exploded_keywords,
    keyword_triples_and_raw_mentions,
)
from claimskg_generator_spark.operators.mentions import (
    above_threshold,
    mention_family_triples,
    mint_mentions,
    review_and_body_raw_mentions,
)
from claimskg_generator_spark.operators.row_triples import (
    single_pass_row_triples,
)
from claimskg_generator_spark.operators.ratings_join import with_normalized_rating
from claimskg_generator_spark.operators.triples import align_duplicated_triples
from claimskg_generator_spark.plans.checkpoints import CheckpointManager
from claimskg_generator_spark.plans.sinks import (
    pred_bucket,
    write_ntriples,
    write_parquet,
)
from claimskg_generator_spark.sources import synth
from claimskg_generator_spark.sources.claims import derive_claims, parse_records
from claimskg_generator_spark.sources.thesaurus import (
    build_matchers,
    thesaurus_triples,
)

TRIPLE_DDL = "subj string, pred string, obj string, okind string"


@dataclass
class PipelineConfig:
    model_uri: str = DEFAULT_MODEL_URI
    threshold: float = 0.3
    include_body: bool = False
    align_duplicated: bool = False
    generated_at: str = DEFAULT_GENERATED_AT
    thesaurus_entries: Sequence[Dict] = field(
        default_factory=lambda: synth.THESAURUS_ENTRIES
    )
    checkpoint_dir: Optional[str] = None
    materialize_parsed: bool = True
    # durable input identity that anchors the checkpoints (e.g. the input
    # path + fingerprint or "synth:<n>:<seed>").  Plans that embed pickled
    # Python (mapInPandas sources) don't hash stably across driver
    # processes, so callers with such inputs must name them; None anchors
    # on the parse frame's plan (process-stable for file scans).
    input_id: Optional[str] = None
    # reconciliation (J7/J8): owl:sameAs edges for pairs scoring > theta;
    # disabled when <= 0, like the reference's --reconcile flag
    reconcile_theta: float = -1.0
    reconcile_sample: Optional[float] = None
    # exact reference seeded sampling (J9 parity, reference --samples):
    # a pair COUNT; mutually exclusive with reconcile_sample
    reconcile_samples: Optional[int] = None
    reconcile_seed: Optional[int] = None
    reconcile_embeddings: bool = False
    # real word-vector text file for the embeddings term (None -> the
    # deterministic hash-vector fixture)
    embeddings_file: Optional[str] = None
    # rewrite pairwise owl:sameAs edges (reconcile + align families) into
    # star form: every equivalence-class member points at the class's
    # minimum URI (operators/components.py canonicalize_sameas).  The
    # reference leaves sameAs closure to a downstream OWL reasoner.
    sameas_canonical: bool = False
    # thesaurus unigram key: "stem" (reference default — the only
    # recognizer the reference generator constructs,
    # skosthesaurusmatcher.py:68) or "metaphone"
    # (InterDoubleMetaphoneConceptRecognizer, SURVEY §2 P19)
    recognizer: str = "stem"
    # DBpedia categories SKOS graph unioned verbatim into the output
    # (S4; reference generator/__init__.py:158 graph.load of
    # dbpedia_categories_lang_en_skos.ttl) — (subj, pred, obj, okind)
    # rows from sources/turtle.py, CLI --categories
    category_triples: Sequence[Tuple[str, str, str, str]] = ()


class ClaimsKGPipeline:
    def __init__(self, spark: SparkSession, config: Optional[PipelineConfig] = None):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.matchers = build_matchers(
            self.config.thesaurus_entries, self.config.recognizer
        )
        self.checkpoints = CheckpointManager(spark, self.config.checkpoint_dir)

    def _config_blob(self) -> str:
        cfg = dataclasses.asdict(self.config)
        cfg.pop("checkpoint_dir", None)  # relocating checkpoints is fine
        return json.dumps(cfg, sort_keys=True, default=str)

    # -- stages ------------------------------------------------------------
    def parsed(self, input_df: DataFrame) -> DataFrame:
        """Stage 0: single-pass JSON parse -> flat columns, MATERIALIZED
        (Parquet checkpoint, else cached).  Confining from_json to one
        materialized projection keeps every downstream family a cheap
        column-pruned scan and stops Catalyst from re-parsing the record
        across UDF/join operator boundaries."""
        df = parse_records(input_df)
        if self.config.checkpoint_dir:
            ck = self.checkpoints
            ident = self.config.input_id
            ck.anchor(df if ident is None else ident, self._config_blob())
            return ck.materialize("parsed", df)
        if self.config.materialize_parsed:
            # EAGER cache fill: the triples query launches several
            # broadcast-build jobs concurrently, and if the cache is still
            # cold each of them recomputes the parse from scratch (measured
            # as 6-7 duplicated ~3 s stages at bench scale).  One explicit
            # materialization action makes every branch a cache read.
            df = share(df)
            df.count()
        return df

    def claims(self, input_df: DataFrame) -> DataFrame:
        """Stage 1 (lazy view): clean + mint + normalize over flat columns.
        Each triple family prunes this projection down to what it reads."""
        cfg = self.config
        df = derive_claims(self.parsed(input_df), cfg.model_uri)
        df = with_normalized_rating(df, self.spark, cfg.model_uri)
        return df.withColumn(
            "citations", clean_citations(F.col("links"), F.col("source"))
        )

    def triples_raw(self, input_df: DataFrame) -> DataFrame:
        """Stage 2a: union of all triple families, PRE-dedup (exposed so
        the dedup can be measured on its own; not a user surface)."""
        cfg = self.config
        claims = self.claims(input_df)

        fixed = self.spark.createDataFrame(
            static_triples(cfg.model_uri, cfg.generated_at)
            + thesaurus_triples(cfg.thesaurus_entries)
            + list(cfg.category_triples),
            TRIPLE_DDL,
        )
        # three corpus branches total:
        # 1. single-pass per-row emission (core + citations + cw-author
        #    mention families) — one scan, one explode;
        # 2. unified mention branch: review + body + keyword-winner mention
        #    rows unioned raw, ONE Python conf/minting stage, one explode
        #    (incl. per-category triples);
        # 3. keyword non-mention families (winner aggregate + broadcast
        #    thesaurus joins — the only global-view operators).

        # one cached exploded-keywords frame for every consumer in this run
        # (keyword families + logical views when reconciliation is on)
        ex = share(exploded_keywords(claims, cfg.model_uri))
        kw_non_mention, kw_raw = keyword_triples_and_raw_mentions(
            ex, self.matchers, cfg.threshold
        )
        all_raw = review_and_body_raw_mentions(claims, cfg.threshold).unionByName(
            kw_raw
        )
        mention_triples = mention_family_triples(
            mint_mentions(all_raw), cfg.model_uri
        )
        parts = [
            single_pass_row_triples(claims, cfg.model_uri, cfg.include_body,
                                    cfg.threshold),
            mention_triples,
            kw_non_mention,
            fixed,
        ]
        if cfg.align_duplicated:
            parts.append(align_duplicated_triples(claims))
        if cfg.reconcile_theta > 0:
            from claimskg_generator_spark.operators.reconcile import (
                reconcile_triples,
            )
            from claimskg_generator_spark.operators.views import logical_views

            views = logical_views(claims, cfg.model_uri, cfg.threshold, ex)
            parts.append(
                reconcile_triples(views, cfg.reconcile_theta,
                                  cfg.reconcile_sample, cfg.reconcile_seed,
                                  cfg.reconcile_embeddings,
                                  cfg.embeddings_file,
                                  cfg.reconcile_samples)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def triples(self, input_df: DataFrame) -> DataFrame:
        """Stage 2: all triple families, deduplicated (graph set semantics,
        A3).  A plain dropDuplicates: the duplicates are mostly one claim
        re-emitting a triple within its partition, so the map-side combine
        drops them before the exchange (docs/PLANS.md, graph-set dedup)."""
        deduped = self.triples_raw(input_df).dropDuplicates(
            ["subj", "pred", "obj", "okind"]
        )
        if self.config.sameas_canonical:
            from claimskg_generator_spark.operators.components import (
                canonicalize_sameas,
            )

            # iterative star rounds run driver-side actions; the flag is
            # part of _config_blob, so checkpoint identity tracks it
            deduped = canonicalize_sameas(deduped)
        # chained from the parsed stage (the manager holds its token):
        # triples are a pure function of (parsed data, config, code)
        result = self.checkpoints.materialize("triples", deduped)
        if self.config.checkpoint_dir:
            # materialize() above was eager (checkpoint write), so the
            # frames shared to build it are spent; the result is a fresh
            # parquet scan, and frames the caller cached stay cached
            release()
        return result

    # -- sinks (plans/sinks.py) ----------------------------------------------
    def write_triples(self, triples: DataFrame, path: str,
                      partitions: Optional[int] = None,
                      pred_buckets: Optional[int] = None) -> None:
        write_parquet(triples, path, partitions, pred_buckets)

    def read_triples_for_pred(self, path: str, pred: str,
                              pred_buckets: int) -> DataFrame:
        """Pruned single-predicate read over a pred-bucketed triple table:
        the bucket equality prunes directories BEFORE any file is opened
        (driver-side, portable Python twin of the bucket function); the
        pred equality is the residual pushed filter."""
        return (
            self.spark.read.parquet(path)
            .filter(F.col("pred_bucket") == pred_bucket(pred, pred_buckets))
            .filter(F.col("pred") == pred)
            .drop("pred_bucket")
        )

    def write_ntriples(self, triples: DataFrame, path: str) -> None:
        write_ntriples(triples, path)

    def lineage(self, input_df: DataFrame) -> DataFrame:
        """Per-partition lineage rows (north_rule): input split id, row
        count, combined content sha256, min/max order key, and the number
        of row-local triples emitted from the split (pre-dedup; the
        global-view families — keywords, alignment, reconciliation, static
        — are not attributable to a single split by construction)."""
        aggs = [
            F.count("*").alias("n_rows"),
            F.sha2(F.concat_ws("", F.sort_array(F.collect_list("h"))), 256)
            .alias("content_sha256"),
            F.min("o").alias("min_ord"),
            F.max("o").alias("max_ord"),
        ]

        from claimskg_generator_spark.operators.row_triples import (
            row_triple_array,
        )

        cfg = self.config
        # claims derivation is narrow (projections + a broadcast join), so
        # spark_partition_id() here still equals the input-scan split id
        claims = self.claims(input_df)
        n_triples = (
            F.size(row_triple_array(cfg.model_uri, cfg.include_body))
            + _mention_triple_count(F.col("m_review"), cfg.threshold)
            + _mention_triple_count(F.col("m_body"), cfg.threshold)
        )
        return (
            claims.select(
                F.spark_partition_id().alias("input_split"),
                F.col("content_sha256").alias("h"),
                F.col("ord").alias("o"),
                n_triples.alias("nt"),
            )
            .groupBy("input_split")
            .agg(*aggs, F.sum("nt").alias("n_triples_emitted"))
        )

    def run(self, input_df: DataFrame) -> DataFrame:
        out = self.triples(input_df)
        self.checkpoints.write_manifest()
        return out


def _mention_triple_count(col, threshold: float):
    """Triples the mention family emits per above-threshold mention: the
    8-triple NIF/ITS block + one dct:about per category entry (twin of
    operators/mentions.mention_family_triples, counting only)."""
    return F.aggregate(
        above_threshold(col, threshold),
        F.lit(0),
        lambda acc, m: acc + 8 + F.when(
            F.size(m["categories"]) > 0,
            F.size(F.split(F.element_at(m["categories"], 1), ",")),
        ).otherwise(0),
    )
