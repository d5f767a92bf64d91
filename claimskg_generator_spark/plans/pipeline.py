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
import hashlib
import json
from dataclasses import dataclass, field
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import DEFAULT_MODEL_URI
from claimskg_generator_spark.constants.static_triples import (
    DEFAULT_GENERATED_AT,
    static_triples,
)
from claimskg_generator_spark.functions.udfs import clean_citations
from claimskg_generator_spark.operators.cache import release, share
from claimskg_generator_spark.operators.keywords import (
    keyword_triples_and_raw_mentions,
)
from claimskg_generator_spark.operators.mentions import (
    mention_family_triples,
    mint_mentions,
    review_and_body_raw_mentions,
)
from claimskg_generator_spark.operators.row_triples import (
    single_pass_row_triples,
)
from claimskg_generator_spark.operators.ratings_join import with_normalized_rating
from claimskg_generator_spark.operators.triples import align_duplicated_triples
from claimskg_generator_spark.plans.checkpoints import CheckpointManager, plan_token
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
    order_col: str = "path"
    thesaurus_entries: Sequence[Dict] = field(
        default_factory=lambda: synth.THESAURUS_ENTRIES
    )
    checkpoint_dir: Optional[str] = None
    materialize_parsed: bool = True
    # durable input identity for checkpoint binding (e.g. the input path or
    # "synth:<n>:<seed>").  Plans that embed pickled Python (mapInPandas
    # sources) don't hash stably across driver processes, so callers with
    # such inputs must name them; file-based inputs can leave this None
    # (their semanticHash is process-stable).
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
        self._input_token: Optional[str] = None

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
        df = parse_records(input_df, self.config.order_col)
        if self.config.checkpoint_dir:
            # Input-identity anchor: an explicit config.input_id when given
            # (required for pickled-Python sources, which don't hash stably
            # across driver processes), else the parse plan's semanticHash
            # (parse_records is pure built-ins — stable for file scans).
            ident = self.config.input_id
            self._input_token = (
                hashlib.sha256(
                    (ident + "\x00" + self._config_blob()).encode()
                ).hexdigest()[:16]
                if ident is not None
                else plan_token(df, self._config_blob())
            )
            return self.checkpoints.materialize("parsed", df, self._input_token)
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
        from claimskg_generator_spark.operators.keywords import (
            exploded_keywords,
        )

        # one cached exploded-keywords frame for every consumer in this run
        # (keyword families + logical views when reconciliation is on)
        ex = share(exploded_keywords(claims, cfg.model_uri))
        kw_non_mention, kw_raw = keyword_triples_and_raw_mentions(
            claims, cfg.model_uri, self.matchers, cfg.threshold, ex
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
        # Derive the token from the parsed-stage token, NOT the triples plan:
        # plans holding pandas UDFs don't hash stably across instances, and
        # triples are a pure function of (parsed data, config, code) anyway.
        token = None
        if self._input_token is not None:
            token = hashlib.sha256(
                (self._input_token + "\x00" + self._config_blob()).encode()
            ).hexdigest()[:16]
        result = self.checkpoints.materialize("triples", deduped, token)
        if self.config.checkpoint_dir:
            # materialize() above was eager (checkpoint write), so the
            # frames shared to build it are spent; the result is a fresh
            # parquet scan, and frames the caller cached stay cached
            release()
        return result

    # -- sinks ---------------------------------------------------------------
    def write_triples(self, triples: DataFrame, path: str,
                      partitions: Optional[int] = None,
                      pred_buckets: Optional[int] = None) -> None:
        """Partitioned Parquet triple table.

        - ``partitions``: repartitionByRange on subj — stable,
          pruning-friendly file layout across cluster sizes.
        - ``pred_buckets``: additionally hive-partition the table by a
          deterministic predicate bucket (md5-derived, portable — see
          pred_bucket_col / pred_bucket), the Iceberg-style layout for
          SPARQL-ish access: a one-predicate read touches 1/N of the
          directories (partition pruning), and within each bucket the subj
          range sort keeps subject lookups to few row groups."""
        df = triples
        if pred_buckets:
            df = df.withColumn("pred_bucket", pred_bucket_col(pred_buckets))
            if partitions:
                df = df.repartitionByRange(partitions, "pred_bucket", "subj")
            df.write.mode("overwrite").partitionBy("pred_bucket").parquet(path)
            return
        if partitions:
            df = df.repartitionByRange(partitions, "subj")
        df.write.mode("overwrite").parquet(path)

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

    def write_turtle(self, triples: DataFrame, path: str,
                     group_subjects: bool = False) -> None:
        """Turtle sink (reference serializes via rdflib to any format,
        generator/__init__.py:751-762): prefixed names where the namespace
        is in the prefix table AND the local part is PN_LOCAL-safe, full
        IRIs otherwise; literals share the N-Triples escaper.  The @prefix
        header rides a sort-key column so it lands before the body.

        ``group_subjects``: emit one `subj p o ; p o .` block per subject
        (one extra shuffle on subj, ~30% smaller output); default is one
        triple per line — shuffle-free and streaming-append friendly."""
        used = [(p, ns) for p, ns in TTL_PREFIXES]
        header = self.spark.createDataFrame(
            [(0, f"@prefix {p}: <{ns}> .") for p, ns in used],
            "k int, value string",
        )
        obj = (
            F.when(F.col("okind") == "uri", _ttl_uri(F.col("obj")))
            .when(F.col("okind") == "",
                  F.concat(F.lit('"'), _nt_escape(F.col("obj")), F.lit('"')))
            .when(F.col("okind").startswith("@"),
                  F.concat(F.lit('"'), _nt_escape(F.col("obj")), F.lit('"'),
                           F.col("okind")))
            .otherwise(F.concat(F.lit('"'), _nt_escape(F.col("obj")),
                                F.lit('"^^'), _ttl_uri(F.col("okind"))))
        )
        if group_subjects:
            po = F.sort_array(F.collect_list(
                F.struct(
                    _ttl_uri(F.col("pred")).alias("p"), obj.alias("o")
                )
            ))
            body = (
                triples.groupBy(_ttl_uri(F.col("subj")).alias("s"))
                .agg(po.alias("po"))
                .select(
                    F.lit(1).alias("k"),
                    F.concat(
                        F.col("s"), F.lit(" "),
                        F.array_join(
                            F.transform(
                                "po",
                                lambda x: F.concat(x["p"], F.lit(" "), x["o"]),
                            ),
                            " ;\n    ",
                        ),
                        F.lit(" ."),
                    ).alias("value"),
                )
            )
        else:
            body = triples.select(
                F.lit(1).alias("k"),
                F.concat(
                    _ttl_uri(F.col("subj")), F.lit(" "),
                    _ttl_uri(F.col("pred")), F.lit(" "),
                    obj, F.lit(" ."),
                ).alias("value"),
            )
        (header.unionByName(body).orderBy("k", "value")
         .select("value").write.mode("overwrite").text(path))

    def write_jsonld(self, triples: DataFrame, path: str) -> None:
        """JSON-LD sink (expanded form): a JSON array with one node object
        per triple — expanded JSON-LD merges repeated @id entries, so the
        flat layout is shuffle-free like the N-Triples sink.  Object kinds
        map to {"@id"}, {"@value"}, {"@value","@language"},
        {"@value","@type"}.  The closing element is an empty node object
        (zero triples) so every body line can carry a trailing comma —
        no global last-row bookkeeping.  Parse-back equality pinned by
        tests/test_jsonld_sink.py."""
        header = self.spark.createDataFrame([(0, "[")], "k int, value string")
        footer = self.spark.createDataFrame([(2, "{}]")], "k int, value string")
        subj = _json_escape(F.col("subj"))
        pred = _json_escape(F.col("pred"))
        obj = _json_escape(F.col("obj"))
        node = (
            F.when(F.col("okind") == "uri",
                   F.concat(F.lit('{"@id":"'), obj, F.lit('"}')))
            .when(F.col("okind") == "",
                  F.concat(F.lit('{"@value":"'), obj, F.lit('"}')))
            .when(F.col("okind").startswith("@"),
                  F.concat(F.lit('{"@value":"'), obj,
                           F.lit('","@language":"'),
                           F.substring(F.col("okind"), 2, 1 << 20),
                           F.lit('"}')))
            .otherwise(F.concat(F.lit('{"@value":"'), obj,
                                F.lit('","@type":"'),
                                _json_escape(F.col("okind")), F.lit('"}')))
        )
        body = triples.select(
            F.lit(1).alias("k"),
            F.concat(F.lit('{"@id":"'), subj, F.lit('","'), pred,
                     F.lit('":['), node, F.lit("]},")).alias("value"),
        )
        (header.unionByName(body).unionByName(footer)
         .orderBy("k", "value").select("value")
         .write.mode("overwrite").text(path))

    def write_rdfxml(self, triples: DataFrame, path: str) -> None:
        """RDF/XML sink (reference export.py:144-151 accepts any rdflib
        format; RDF/XML is the biggest remaining one).  One flat
        rdf:Description element per triple — valid RDF/XML, no subject
        grouping needed — built entirely from JVM column expressions; the
        document header/footer ride sort-key rows like the Turtle prefix
        header.  Known-namespace predicates use prefixes declared once on
        rdf:RDF; any other predicate splits at its last '/'/'#' and
        declares an inline xmlns.  Round-trip equality is pinned by
        tests/test_rdfxml_sink.py (stdlib-XML parse-back; rdflib is not
        installed here)."""
        decl = [(0, '<?xml version="1.0" encoding="utf-8"?>'),
                (1, "<rdf:RDF")]
        decl += [(2, f'   xmlns:{p}="{ns}"') for p, ns in TTL_PREFIXES]
        decl += [(3, ">")]
        header = self.spark.createDataFrame(decl, "k int, value string")
        footer = self.spark.createDataFrame([(5, "</rdf:RDF>")],
                                            "k int, value string")
        qname, xmlns = _xml_pred_parts(F.col("pred"))
        obj_attr = _xml_escape(F.col("obj"), attr=True)
        obj_text = _xml_escape(F.col("obj"))
        elem = (
            F.when(
                F.col("okind") == "uri",
                F.concat(F.lit("<"), qname, xmlns,
                         F.lit(' rdf:resource="'), obj_attr, F.lit('"/>')),
            )
            .when(
                F.col("okind") == "",
                F.concat(F.lit("<"), qname, xmlns, F.lit(">"), obj_text,
                         F.lit("</"), qname, F.lit(">")),
            )
            .when(
                F.col("okind").startswith("@"),
                F.concat(F.lit("<"), qname, xmlns, F.lit(' xml:lang="'),
                         F.substring(F.col("okind"), 2, 1 << 20),
                         F.lit('">'), obj_text,
                         F.lit("</"), qname, F.lit(">")),
            )
            .otherwise(
                F.concat(F.lit("<"), qname, xmlns, F.lit(' rdf:datatype="'),
                         _xml_escape(F.col("okind"), attr=True),
                         F.lit('">'), obj_text,
                         F.lit("</"), qname, F.lit(">")),
            )
        )
        body = triples.select(
            F.lit(4).alias("k"),
            F.concat(
                F.lit('  <rdf:Description rdf:about="'),
                _xml_escape(F.col("subj"), attr=True),
                F.lit('">'), elem, F.lit("</rdf:Description>"),
            ).alias("value"),
        )
        (header.unionByName(body).unionByName(footer)
         .orderBy("k", "value").select("value")
         .write.mode("overwrite").text(path))

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


_MENTION_ARR_DDL = ("array<struct<begin:bigint,end:bigint,text:string,"
                    "entity:string,score:string,categories:array<string>>>")


def _mention_triple_count(col, threshold: float):
    """Triples the mention family emits per above-threshold mention: the
    8-triple NIF/ITS block + one dct:about per category entry (twin of
    operators/mentions.mention_family_triples, counting only)."""
    flt = F.filter(
        F.coalesce(col, F.array().cast(_MENTION_ARR_DDL)),
        lambda m: m["score"].try_cast("double") > F.lit(threshold),
    )
    return F.aggregate(
        flt,
        F.lit(0),
        lambda acc, m: acc + 8 + F.when(
            F.size(m["categories"]) > 0,
            F.size(F.split(F.element_at(m["categories"], 1), ",")),
        ).otherwise(0),
    )


def pred_bucket(pred: str, buckets: int) -> int:
    """Deterministic predicate bucket — md5-derived so ANY client (Python,
    Spark, DuckDB) can compute the partition to read without a JVM."""
    import hashlib

    return int(hashlib.md5(pred.encode()).hexdigest()[:8], 16) % buckets


def pred_bucket_col(buckets: int):
    """JVM twin of pred_bucket."""
    return (
        F.conv(F.substring(F.md5("pred"), 1, 8), 16, 10).cast("long")
        % buckets
    ).cast("int")


# Turtle prefix table (longest namespace first so e.g. skos-xl wins over
# skos if both were present)
TTL_PREFIXES = sorted(
    [
        ("schema", "http://schema.org/"),
        ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
        ("owl", "http://www.w3.org/2002/07/owl#"),
        ("xsd", "http://www.w3.org/2001/XMLSchema#"),
        ("dct", "http://purl.org/dc/terms/"),
        ("nif", "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/"
                "nif-core#"),
        ("itsrdf", "http://www.w3.org/2005/11/its/rdf#"),
        ("dbr", "http://dbpedia.org/resource/"),
        ("dbc", "http://dbpedia.org/page/Category:"),
    ],
    key=lambda x: -len(x[1]),
)

# conservative PN_LOCAL subset: prefix only when the local name is plainly
# safe, else fall back to a full IRI (always valid Turtle)
_PN_LOCAL_SAFE = "^[A-Za-z][A-Za-z0-9_-]*$"


def _ttl_uri(col):
    expr = F.concat(F.lit("<"), col, F.lit(">"))
    # reversed: the LAST prefix wrapped becomes the OUTERMOST when-condition
    # and wins on overlap, so iterating shortest-to-longest makes the
    # longest namespace the one tested first (skos-xl beats skos)
    for pfx, ns in reversed(TTL_PREFIXES):
        local = F.substring(col, len(ns) + 1, 1 << 20)
        expr = F.when(
            col.startswith(ns) & local.rlike(_PN_LOCAL_SAFE),
            F.concat(F.lit(pfx + ":"), local),
        ).otherwise(expr)
    return expr


def _json_escape(col):
    """JSON string escaping as a JVM replace chain: backslash and quote,
    then every control char < 0x20 to its \\uXXXX (or short) escape."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    short = {"\n": "\\n", "\r": "\\r", "\t": "\\t",
             "\b": "\\b", "\f": "\\f"}
    for code in range(0x20):
        ch = chr(code)
        out = F.replace(out, F.lit(ch),
                        F.lit(short.get(ch, "\\u%04x" % code)))
    return out


# conservative XML NCName subset for predicate local parts
_NCNAME_SAFE = "^[A-Za-z_][A-Za-z0-9_.-]*$"


def _xml_escape(col, attr: bool = False):
    """XML content escaping (&, <, >; plus \" in attribute values).  '&'
    first so already-escaped output isn't double-escaped.

    C0 control characters: XML 1.0 can carry only \\t/\\n/\\r.  Those
    three become numeric character references in attribute values (bare
    tab/newline/cr are normalized to spaces by attribute-value
    normalization) and \\r becomes &#13; in content (a conforming parser
    rewrites a literal \\r to \\n); the other control chars < 0x20 are not
    representable in XML 1.0 AT ALL — not even as character references —
    so they are substituted with U+FFFD, matching this sink's documented
    lossy-but-well-formed contract (the N-Triples/Turtle/JSON-LD sinks
    remain lossless)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    if attr:
        out = F.replace(out, F.lit('"'), F.lit("&quot;"))
    for code in range(0x20):
        ch = chr(code)
        if ch in "\t\n\r":
            if attr or ch == "\r":
                out = F.replace(out, F.lit(ch), F.lit("&#%d;" % code))
        else:
            out = F.replace(out, F.lit(ch), F.lit("�"))
    return out


def _xml_pred_parts(col):
    """(qname, xmlns_attr) column pair for a predicate URI: prefix-table
    namespaces use the rdf:RDF-level declarations (empty xmlns attr);
    anything else splits at the last '/'/'#' and declares xmlns:g inline.
    Longest namespace tested first, like _ttl_uri.

    A predicate with no '/'/'#' split point (e.g. ``urn:x``) or a local
    part that is not a valid NCName cannot be expressed as an RDF/XML
    property element; emitting it would bind an empty/illegal namespace
    and produce malformed XML, so the job fails with a clear error
    instead (use the N-Triples/Turtle/JSON-LD sinks for such graphs)."""
    ns_part = F.regexp_extract(col, r"^(.*[/#])", 1)
    local_part = F.regexp_extract(col, r"([^/#]+)$", 1)
    expressible = (ns_part != F.lit("")) & local_part.rlike(_NCNAME_SAFE)
    err = F.raise_error(F.concat(
        F.lit("RDF/XML sink: predicate URI not expressible as a QName "
              "property element: "), col))
    qname = F.when(expressible, F.concat(F.lit("g:"), local_part)) \
        .otherwise(err)
    xmlns = F.when(
        expressible,
        F.concat(F.lit(' xmlns:g="'), _xml_escape(ns_part, attr=True),
                 F.lit('"'))).otherwise(err)
    for pfx, ns in reversed(TTL_PREFIXES):
        local = F.substring(col, len(ns) + 1, 1 << 20)
        hit = col.startswith(ns) & local.rlike(_NCNAME_SAFE)
        qname = F.when(hit, F.concat(F.lit(pfx + ":"), local)).otherwise(qname)
        xmlns = F.when(hit, F.lit("")).otherwise(xmlns)
    return qname, xmlns


def _nt_escape(col):
    """JVM twin of rdfterms._escape_nt: the named escapes plus \\uXXXX for
    every other control char < 0x20, so both sinks emit byte-identical
    canonical N-Triples."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    for code in range(0x20):
        if chr(code) in ("\n", "\r", "\t"):
            continue
        out = F.replace(out, F.lit(chr(code)), F.lit("\\u%04X" % code))
    return out


def _nt_terms() -> Tuple[Column, Column]:
    """(subject, object) N-Triples term columns of a (subj, pred, obj,
    okind) row, shared by the N-Triples and N-Quads sinks.

    Blank-node labels are legal N-Triples terms in subject/object position
    and must NOT be angle-bracketed (sources/turtle.py can ingest them;
    operators/skolem.skolemize is the bridge to sinks that cannot express
    them).  The claims/code KGs mint URIs only, so this branch leaves their
    byte goldens untouched."""
    subj_t = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
        .otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    uri_obj = F.when(F.col("obj").startswith("_:"), F.col("obj")) \
        .otherwise(F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
    obj_t = (
        F.when(F.col("okind") == "uri", uri_obj)
        .when(F.col("okind") == "",
              F.concat(F.lit('"'), _nt_escape(F.col("obj")), F.lit('"')))
        .when(F.col("okind").startswith("@"),
              F.concat(F.lit('"'), _nt_escape(F.col("obj")),
                       F.lit('"'), F.col("okind")))
        .otherwise(F.concat(F.lit('"'), _nt_escape(F.col("obj")),
                            F.lit('"^^<'), F.col("okind"), F.lit(">")))
    )
    return subj_t, obj_t


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Canonical sorted N-Triples sink for ANY (subj, pred, obj, okind)
    frame — module-level so non-claims graphs (the code KG) serialize
    without constructing a pipeline; ClaimsKGPipeline.write_ntriples
    delegates here (byte output pinned by tests/test_golden_ntriples)."""
    subj_t, obj_t = _nt_terms()
    nt = triples.select(
        F.concat(subj_t, F.lit(" <"), F.col("pred"), F.lit("> "),
                 obj_t, F.lit(" .")).alias("value")
    ).orderBy("value")
    nt.write.mode("overwrite").text(path)


def write_nquads(triples: DataFrame, path: str,
                 graph_col: str = "graph") -> None:
    """Canonical sorted N-Quads sink — the named-graph form of
    :func:`write_ntriples` (W3C N-Quads 1.1): every row carries a
    fourth term naming the graph it belongs to, the interop format for
    publishing a KG WITH its provenance partition (per-source,
    per-stage, per-snapshot graphs — e.g.
    ``with_graph(triples, F.lit(source_uri))``).  Rows whose graph
    column is NULL or empty serialize as plain triples (the default
    graph, per spec).  Same term rendering as write_ntriples
    (:func:`_nt_terms`)."""
    subj_t, obj_t = _nt_terms()
    g = F.col(graph_col)
    graph_t = F.when(
        g.isNull() | (g == ""), F.lit("")
    ).otherwise(F.concat(
        F.lit(" "),
        F.when(g.startswith("_:"), g)
        .otherwise(F.concat(F.lit("<"), g, F.lit(">")))))
    nq = triples.select(
        F.concat(subj_t, F.lit(" <"), F.col("pred"), F.lit("> "),
                 obj_t, graph_t, F.lit(" .")).alias("value")
    ).orderBy("value")
    nq.write.mode("overwrite").text(path)


def with_graph(triples: DataFrame, graph) -> DataFrame:
    """Attach a named-graph column for :func:`write_nquads` — pass a
    Column (e.g. a per-source provenance URI) or a literal string."""
    col = graph if isinstance(graph, Column) else F.lit(graph)
    return triples.withColumn("graph", col)


def pred_family_graph(prefix: str = "urn:graph:",
                      pred_col: str = "pred") -> Column:
    """Predicate-family named-graph URI for a triple row —
    ``<prefix><local-name>`` (the predicate IRI's tail after the last
    ``/`` or ``#``): the per-family publication partition for
    :func:`write_nquads` / GRAPH queries.  Pure projection."""
    local = F.regexp_extract(F.col(pred_col), r"([A-Za-z0-9_]+)$", 1)
    return F.concat(F.lit(prefix), local)
