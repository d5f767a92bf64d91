"""KG construction over the north-rule code corpus: triple extraction,
entity linking, canonicalization, and graph materialization for tables
of source-code repositories ``(repo, path, commit, lang, content)``.

This is the code-shaped twin of the claims pipeline (plans/pipeline.py —
the reference's domain, claimskg/generator/__init__.py): the same four
north-rule stages, re-instantiated over the graft's own input shape:

* :func:`code_triples` — triple extraction.  Every per-file triple
  (type, repo membership, path/lang/commit metadata, the per-row
  content-sha256 invariant, import edges, module labels) is generated
  INSIDE the file's row as one ``array<struct<subj,pred,obj,okind>>``
  and exploded once (the operators/row_triples.py shape): one scan, one
  generator stage, one final set-dedup — the only shuffle.  No joins.
* :func:`link_modules` — entity linking with confidence thresholding:
  import mentions are scored against the corpus-derived module
  dictionary (modules seen in >= ``min_repos`` distinct repos), with
  confidence = n_repos / max-per-lang — the TagMe-style "link score
  against a broadcast dictionary, keep above threshold" stage of the
  north star, made fully relational so the driver oracle re-derives it.
  All aggregates are module-level (bounded by the vocabulary, never the
  corpus).
* :func:`canonicalize_modules` — entity canonicalization: the A5 salted
  two-phase groupBy (operators/canonicalize.salted_surface_counts)
  over import surface forms, lowercase-keyed, so head modules (the
  numpy/lodash of a real corpus) split across reducers in phase 1.
* :func:`materialize_code_kg` — graph materialize: the deduped triple
  set committed into a snapshot table (sources/snapshot_table.py — the
  Iceberg-style layer) clustered by predicate for stats-based file
  skipping, with per-partition lineage rows (input split, row count,
  combined content sha256, triple count) and stage wall timings riding
  INSIDE the same atomic commit as manifest annotations.

URI minting supports two schemes:

* ``md5`` (default): ``urn:code:<kind>:<md5(kind ':' key)>`` — pure
  column expressions replayable in DuckDB, so the registry queries
  carry full value oracles (q98).
* ``uuid5``: UUIDv5-over-canonical-name URIs via the engine's pure-JVM
  sha1 expression (functions/uuid5.py — the north star's minting
  scheme, already golden-pinned against Python stdlib uuid5 by q20);
  pytest pins the code-KG instantiation too.

Scale posture: triple extraction is a narrow generator stage fused into
the scan (zero joins; the set-dedup is the single exchange, exactly A3's
profile).  Linking and canonicalization aggregate to module vocabulary
size before any window/join touches them.  Materialization writes
predicate-clustered files whose manifest stats make per-predicate reads
one-file-list scans at 10^12-file corpus scale.
"""

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.code import (
    IMPORT_PATTERNS,
    extract_imports,
)
from claimskg_generator_spark.operators.triples import (
    OKIND_PLAIN,
    OKIND_URI,
    triple_struct,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
SCHEMA = "http://schema.org/"
# schema.org models source files natively (SoftwareSourceCode with
# codeRepository / programmingLanguage / version) — the same public
# vocabulary family the reference's ClaimReview model uses.  The few
# properties schema.org lacks (sha256, imports, Repository/Module types)
# live in a synthetic example.org namespace.
CODE = "http://example.org/code#"

T_SOURCE_FILE = SCHEMA + "SoftwareSourceCode"
T_REPOSITORY = CODE + "Repository"
T_MODULE = CODE + "Module"
P_REPO = SCHEMA + "codeRepository"
P_PATH = SCHEMA + "name"
P_LANG = SCHEMA + "programmingLanguage"
P_COMMIT = SCHEMA + "version"
P_SHA256 = CODE + "sha256"
P_IMPORTS = CODE + "imports"
P_LINKS_TO = CODE + "linksTo"
# the repo-level supply-chain relation (repo_dependencies lifted into
# the graph by repo_dep_triples); DECLARED transitive — the predicate
# operators/rdfs.transitive_entail and the SPARQL in-pattern `p+`
# close over
P_DEPENDS_REPO = CODE + "dependsOnRepo"
# declared owl:inverseOf schema:codeRepository — the repo->file
# direction operators/rdfs.owl_property_entail derives (prp-inv1)
P_HAS_FILE = CODE + "hasSourceFile"

# --- W3C PROV-O (the provenance vocabulary prov_lineage_triples mints
# into; the north rule's lineage rows, published as graph facts) ---
PROV = "http://www.w3.org/ns/prov#"
T_PROV_ENTITY = PROV + "Entity"
T_PROV_ACTIVITY = PROV + "Activity"
P_WAS_DERIVED_FROM = PROV + "wasDerivedFrom"
P_WAS_GENERATED_BY = PROV + "wasGeneratedBy"
P_USED = PROV + "used"
P_N_FILES = CODE + "nFiles"
P_N_TRIPLES = CODE + "nTriplesEmitted"

# --- vocabulary schema (consumed by operators/rdfs.rdfs_entail) ---
# Two-level class and property hierarchies so subClassOf/subPropertyOf
# transitivity is actually exercised, plus domain/range for the two
# object properties.  Schema-sized by construction: this ships to
# executors as broadcast literal relations, never as a data join.
T_RESOURCE = CODE + "Resource"
T_DEPENDENCY = CODE + "Dependency"
P_DEPENDS_ON = CODE + "dependsOn"
P_RELATED_TO = CODE + "relatedTo"

_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
CODE_ONTOLOGY = [
    (T_SOURCE_FILE, _RDFS + "subClassOf", T_RESOURCE),
    (T_REPOSITORY, _RDFS + "subClassOf", T_RESOURCE),
    (T_MODULE, _RDFS + "subClassOf", T_DEPENDENCY),
    (T_DEPENDENCY, _RDFS + "subClassOf", T_RESOURCE),
    (P_IMPORTS, _RDFS + "subPropertyOf", P_DEPENDS_ON),
    (P_DEPENDS_ON, _RDFS + "subPropertyOf", P_RELATED_TO),
    (P_LINKS_TO, _RDFS + "subPropertyOf", P_RELATED_TO),
    (P_IMPORTS, _RDFS + "domain", T_SOURCE_FILE),
    (P_IMPORTS, _RDFS + "range", T_MODULE),
    (P_REPO, _RDFS + "domain", T_SOURCE_FILE),
    (P_REPO, _RDFS + "range", T_REPOSITORY),
]


def mint_uri(kind: str, key: Column, scheme: str = "md5") -> Column:
    """Deterministic entity URI from a (kind, natural-key) pair.

    ``md5``: ``urn:code:<kind>:<md5>`` — replayable by any engine with
    md5 (the full-oracle scheme).  ``uuid5``: ``urn:uuid:<uuid5>`` over
    the same canonical name via the pure-JVM sha1 expression
    (functions/uuid5.py:25), the north star's UUIDv5 minting."""
    name = F.concat(F.lit(kind), F.lit(":"), key)
    if scheme == "md5":
        return F.concat(F.lit(f"urn:code:{kind}:"), F.md5(name))
    if scheme == "uuid5":
        from claimskg_generator_spark.functions.uuid5 import uuid5_url_col

        return F.concat(F.lit("urn:uuid:"), uuid5_url_col(name))
    raise ValueError(f"unknown URI scheme {scheme!r}")


_TRIPLE_ARR = "array<struct<subj:string,pred:string,obj:string,okind:string>>"


def _module_uri(lang: Column, module: Column, scheme: str) -> Column:
    return mint_uri("module", F.concat(lang, F.lit(":"), module), scheme)


def _lang_import_lists() -> Column:
    """Per-row import captures, regex dispatched on ``lang`` — the ONE
    definition of what counts as an import (shared by code_triples,
    code_kg_lineage, and prov_lineage_triples, so the emission formula
    cannot desynchronize across the three)."""
    lang = F.col("lang")
    mods: Column = F.array().cast("array<string>")
    for lg, pat in IMPORT_PATTERNS.items():
        mods = F.when(lang == lg,
                      F.regexp_extract_all(F.col("content"),
                                           F.lit(pat), 1)).otherwise(mods)
    return mods


def _row_emission_count() -> Column:
    """Row-local triple-emission count of :func:`code_triples`:
    8 fixed + 3 per distinct import, pre-dedup — the lineage
    invariant both lineage faces publish."""
    return F.lit(8) + F.size(F.array_distinct(_lang_import_lists())) * 3


def code_triples(files: DataFrame, scheme: str = "md5") -> DataFrame:
    """Extract the (subj, pred, obj, okind) triple set of a code corpus.

    Per file: rdf:type, codeRepository edge, path/lang/commit literals,
    and the content sha256 (the north rule's per-row invariant, here a
    first-class graph fact).  Per repo: type + label (duplicated across
    the repo's files, collapsed by the final set-dedup — cheaper than a
    pre-aggregation because the dedup shuffle is needed anyway).  Per
    distinct import: the file->module edge plus the module's type and
    label.  Everything is built in-row and exploded once; the final
    ``distinct`` is the A3 set-semantics dedup and the plan's only
    exchange."""
    lang = F.col("lang")
    file_uri = mint_uri(
        "file", F.concat(F.col("repo"), F.lit("/"), F.col("path")), scheme)
    repo_uri = mint_uri("repo", F.col("repo"), scheme)
    mods = F.array_distinct(_lang_import_lists())

    fixed = F.array(
        triple_struct(file_uri, RDF_TYPE, T_SOURCE_FILE, OKIND_URI),
        triple_struct(file_uri, P_REPO, repo_uri, OKIND_URI),
        triple_struct(file_uri, P_PATH, F.col("path"), OKIND_PLAIN),
        triple_struct(file_uri, P_LANG, lang, OKIND_PLAIN),
        triple_struct(file_uri, P_COMMIT, F.col("commit"), OKIND_PLAIN),
        triple_struct(file_uri, P_SHA256, F.sha2(F.col("content"), 256),
                      OKIND_PLAIN),
        triple_struct(repo_uri, RDF_TYPE, T_REPOSITORY, OKIND_URI),
        triple_struct(repo_uri, RDFS_LABEL, F.col("repo"), OKIND_PLAIN),
    ).cast(_TRIPLE_ARR)
    per_import = F.flatten(F.transform(
        mods,
        lambda m: F.array(
            triple_struct(file_uri, P_IMPORTS,
                          _module_uri(lang, m, scheme), OKIND_URI),
            triple_struct(_module_uri(lang, m, scheme), RDF_TYPE,
                          T_MODULE, OKIND_URI),
            triple_struct(_module_uri(lang, m, scheme), RDFS_LABEL, m,
                          OKIND_PLAIN),
        ).cast(_TRIPLE_ARR),
    ))
    return (
        files.select(F.explode(F.concat(fixed, per_import)).alias("t"))
        .select("t.subj", "t.pred", "t.obj", "t.okind")
        .distinct()
    )


def link_modules(
    files: DataFrame,
    min_repos: int = 2,
    threshold: float = 0.25,
    scheme: str = "md5",
) -> DataFrame:
    """Entity-link import mentions against the corpus-derived module
    dictionary with confidence thresholding.

    Dictionary = modules imported by >= ``min_repos`` distinct repos
    (the broadcast-dictionary analog of the claims pipeline's DBpedia
    entity dict, functions/udfs.py:113).  Confidence = n_repos divided
    by the lang's most-imported module's n_repos, rounded to 4 dp so
    the gate replays exactly cross-engine; links below ``threshold``
    are dropped — the TagMe-style confidence gate of the north star.

    Output: one row per linked (lang, module): ``n_repos, n_files,
    confidence, entity_uri``.  Both aggregates and the ranking window
    run over MODULE-level rows (vocabulary-bounded)."""
    if min_repos < 1:
        raise ValueError("min_repos must be >= 1")
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    from pyspark.sql import Window

    per_mod = (
        extract_imports(files)
        .groupBy("lang", "module")
        .agg(F.countDistinct("repo").alias("n_repos"),
             F.count("*").alias("n_files"))
    )
    w = Window.partitionBy("lang")
    conf = F.round(
        F.col("n_repos") / F.max("n_repos").over(w).cast("double"), 4)
    return (
        per_mod.withColumn("confidence", conf)
        .filter((F.col("n_repos") >= min_repos)
                & (F.col("confidence") >= threshold))
        .withColumn(
            "entity_uri",
            _module_uri(F.col("lang"), F.col("module"), scheme))
    )


def repo_dependencies(files: DataFrame) -> DataFrame:
    """Derive the repo-level dependency graph: ``A dependsOn B`` when a
    file in repo A imports a module OWNED by repo B (owner = the repo
    with the most files importing that (lang, module); ties break to
    the lexicographically smallest repo — engine-stable), A != B.

    This is the supply-chain relation transitive queries walk
    (:func:`~claimskg_generator_spark.operators.sparql.path_closure`):
    "which repos are downstream of this GPL-licensed one" is exactly
    ``dependsOn+`` from its node.  Shape: one (lang, module, repo)
    groupBy, then a module-vocabulary-bounded ranking window, then one
    vocabulary-keyed equi-join — the corpus never self-joins.  Output:
    distinct ``(src, dst)`` repo pairs."""
    from pyspark.sql import Window

    from claimskg_generator_spark.operators.code import extract_imports

    per = (
        extract_imports(files)
        .groupBy("lang", "module", "repo")
        .agg(F.count("*").alias("n_files"))
    )
    w = Window.partitionBy("lang", "module").orderBy(
        F.desc("n_files"), F.asc("repo"))
    owner = (
        per.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("lang", "module", F.col("repo").alias("owner"))
    )
    return (
        per.select("lang", "module", "repo")
        .join(owner, ["lang", "module"])
        .filter(F.col("repo") != F.col("owner"))
        .select(F.col("repo").alias("src"), F.col("owner").alias("dst"))
        .distinct()
    )


def repo_dep_triples(files: DataFrame, scheme: str = "md5") -> DataFrame:
    """:func:`repo_dependencies` lifted into the graph: one
    ``(repo_uri, code:dependsOnRepo, repo_uri, 'uri')`` triple per
    derived dependency edge, repo URIs minted exactly as
    :func:`code_triples` mints them — so the edges join the published
    KG on the same nodes.  This is the relation the transitive faces
    walk: materialized by ``transitive_entail(g, [P_DEPENDS_REPO], d)``
    or per-query by the SPARQL pattern ``?a code:dependsOnRepo+ ?b``.
    """
    deps = repo_dependencies(files)
    return deps.select(
        mint_uri("repo", F.col("src"), scheme).alias("subj"),
        F.lit(P_DEPENDS_REPO).alias("pred"),
        mint_uri("repo", F.col("dst"), scheme).alias("obj"),
        F.lit("uri").alias("okind"),
    )


def canonicalize_modules(files: DataFrame, salt: int = 16) -> DataFrame:
    """A5 salted two-phase canonicalization over import surface forms:
    group case-variant spellings of one module under the lowercase
    surface and pick the most frequent raw spelling as canonical (ties
    by the struct's lexicographic max — engine-stable).  Hot modules
    split across ``salt`` reducers in phase 1 (see operators/
    canonicalize.py for the shape's rationale)."""
    from claimskg_generator_spark.operators.canonicalize import (
        salted_surface_counts,
    )

    mentions = extract_imports(files).select(
        F.lower(F.col("module")).alias("surface"),
        F.col("module"),
        F.col("path"),
    )
    return salted_surface_counts(mentions, "surface", "module",
                                 F.col("path"), salt)


def triple_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Set difference between two triple graphs: one row per changed
    triple with ``change`` in ('added', 'removed').

    Set semantics on both sides (triple tables are sets; streaming
    appends may hold storage duplicates — see code_kg_stream — so both
    inputs are deduped first).  Each direction is one ``EXCEPT``,
    which Spark plans as a hash left-anti join; the two directions
    share the same exchange keys, so at 10^12 triples this is two
    co-partitioned anti-joins and nothing else — the cheapest possible
    "what changed between graph versions" primitive, and the building
    block for incremental downstream refresh (only added/removed
    triples re-enter a consumer)."""
    cols = ["subj", "pred", "obj", "okind"]
    # Each side feeds BOTH directions (left of one anti-join, right of the
    # other).  Without a cache the full upstream chain (for code_triples: an
    # explode + set-dedup over the corpus) runs twice per side — measured 4
    # subtree evaluations for q102.  Share the DEDUPED frames once and
    # anti-join against the deduped right side — equivalent by set
    # semantics, and it drops the second full-width dedup exchange per
    # direction.
    od = share(old.select(*cols).distinct())
    nd = share(new.select(*cols).distinct())
    added = (nd.join(od, cols, "left_anti")
             .withColumn("change", F.lit("added")))
    removed = (od.join(nd, cols, "left_anti")
               .withColumn("change", F.lit("removed")))
    return added.unionByName(removed)


def diff_snapshots(table, old_id: int, new_id: int) -> DataFrame:
    """triple_diff between two committed versions of a snapshot triple
    table (sources/snapshot_table.py time travel): what the graph
    gained and lost between commit ``old_id`` and ``new_id``."""
    return triple_diff(table.read(old_id), table.read(new_id))


def apply_diff(table, diff: DataFrame) -> int:
    """Apply a :func:`triple_diff` delta to a snapshot triple table:
    removed triples anti-join out, added triples union in, committed as
    ONE new snapshot (the parent stays time-travelable) — incremental
    graph refresh without recomputing the corpus, the consumer side of
    the diff primitive.

    Idempotent by construction: re-applying the same delta is a no-op
    on contents (removed rows are already gone, added rows collapse in
    the set).  Returns the new snapshot id."""
    cols = ["subj", "pred", "obj", "okind"]
    removed = diff.filter(F.col("change") == "removed").select(*cols)
    added = diff.filter(F.col("change") == "added").select(*cols)
    current = table.read()
    updated = (
        current.join(removed, cols, "left_anti")
        .unionByName(added)
        .distinct()
    )
    return table.overwrite(updated)


def code_kg_lineage(files: DataFrame, scheme: str = "md5") -> DataFrame:
    """Per-partition lineage rows (north rule: "per-partition lineage
    rows (input split, sha256 of content, triple counts)").  The triple
    count is the row-local emission count (8 fixed + 3 per distinct
    import, pre-dedup) — attributable to a split by construction, like
    plans/pipeline.py:494's row-local families."""
    return (
        files.select(
            F.spark_partition_id().alias("input_split"),
            F.sha2(F.col("content"), 256).alias("h"),
            _row_emission_count().alias("nt"),
        )
        .groupBy("input_split")
        .agg(
            F.count("*").alias("n_rows"),
            F.sha2(F.concat_ws("", F.sort_array(F.collect_list("h"))), 256)
            .alias("content_sha256"),
            F.sum("nt").alias("n_triples_emitted"),
        )
    )


def prov_lineage_triples(files: DataFrame,
                         scheme: str = "md5") -> DataFrame:
    """The lineage sidecar as PROV-O graph facts: one provenance
    partition per REPO (the graph's natural publication grain — stable
    across engines and retries, unlike the physical input split), each
    described by a ``prov:Entity`` derived from the repo and generated
    by a ``prov:Activity``, carrying the north rule's per-partition
    invariants as literals: the order-canonical content fingerprint
    (sha256 over the SORTED per-file content sha256s — the same
    construction :func:`code_kg_lineage` commits into the snapshot
    manifest), the file count, and the row-local triple-emission count
    (8 fixed + 3 per distinct import, pre-dedup).

    Publishing lineage INTO the graph closes the provenance loop: the
    q101 BGP / SPARQL faces can then answer "which repo partition, with
    what fingerprint, produced these triples" without reading table
    manifests — the standard PROV-O deployment for a constructed KG.

    Shape: ONE groupBy(repo) whose only unbounded state is the
    collect_list of 64-hex digests (n_files x 64 bytes per repo; a
    10^6-file repo holds ~64 MB in its reducer — fine at the repo
    grain).  For pathological single-repo corpora at 10^12-file scale
    use the split-grain :func:`code_kg_lineage` sidecar instead; the
    sorted-concat construction is kept IDENTICAL between the two so a
    repo that equals a split fingerprints equally.  The 8 facts per
    repo are built in-row and exploded once — no joins, no second
    exchange, and no final distinct (one row per (repo, fact) by
    construction).
    """
    per_repo = (
        files.select(
            "repo",
            F.sha2(F.col("content"), 256).alias("h"),
            _row_emission_count().alias("nt"),
        )
        .groupBy("repo")
        .agg(
            F.count("*").alias("n_files"),
            F.sha2(F.concat_ws("", F.sort_array(F.collect_list("h"))), 256)
            .alias("fp"),
            F.sum("nt").alias("nt"),
        )
    )
    part_uri = mint_uri("provpart", F.col("repo"), scheme)
    act_uri = mint_uri("provact", F.col("repo"), scheme)
    repo_uri = mint_uri("repo", F.col("repo"), scheme)
    facts = F.array(
        triple_struct(part_uri, RDF_TYPE, T_PROV_ENTITY, OKIND_URI),
        triple_struct(part_uri, P_WAS_DERIVED_FROM, repo_uri, OKIND_URI),
        triple_struct(part_uri, P_WAS_GENERATED_BY, act_uri, OKIND_URI),
        triple_struct(part_uri, P_SHA256, F.col("fp"), OKIND_PLAIN),
        triple_struct(part_uri, P_N_FILES,
                      F.col("n_files").cast("string"), OKIND_PLAIN),
        triple_struct(part_uri, P_N_TRIPLES,
                      F.col("nt").cast("string"), OKIND_PLAIN),
        triple_struct(act_uri, RDF_TYPE, T_PROV_ACTIVITY, OKIND_URI),
        triple_struct(act_uri, P_USED, repo_uri, OKIND_URI),
    ).cast(_TRIPLE_ARR)
    return (
        per_repo.select(F.explode(facts).alias("t"))
        .select("t.subj", "t.pred", "t.obj", "t.okind")
    )


def materialize_code_kg(
    spark,
    files: DataFrame,
    table_dir: str,
    scheme: str = "md5",
    n_partitions: Optional[int] = None,
    stat_cols: Sequence[str] = ("pred",),
    triples: Optional[DataFrame] = None,
) -> int:
    """Materialize the code KG into a snapshot table (sources/
    snapshot_table.py), predicate-clustered so manifest stats answer
    per-predicate scans with file skipping, with lineage rows and stage
    timings committed INSIDE the same atomic manifest.

    Returns the committed snapshot id.  Lineage lands in
    ``<table_dir>/_lineage/<snapshot_id>`` (parquet) and the manifest's
    ``lineage_path`` / ``stage_wall_s`` annotations point at it —
    checkpoint-resumable by snapshot id like every other table commit.
    """
    import os
    import time

    from claimskg_generator_spark.operators.sampling import optimize_layout
    from claimskg_generator_spark.sources.snapshot_table import SnapshotTable

    t0 = time.time()
    if triples is None:
        triples = code_triples(files, scheme=scheme)
    # else: caller passes a (possibly checkpointed) triple frame so a
    # resumed pipeline reads parquet instead of re-deriving the extraction
    clustered = optimize_layout(triples, ["pred", "subj"],
                                n_partitions=n_partitions)
    lineage = code_kg_lineage(files, scheme=scheme)
    t_plan = time.time() - t0

    t0 = time.time()
    lineage_dir = os.path.join(table_dir, "_lineage")
    os.makedirs(lineage_dir, exist_ok=True)
    table = SnapshotTable(spark, table_dir, stat_cols=list(stat_cols))
    provisional = (table.current_snapshot_id() or 0) + 1
    lineage_path = os.path.join(lineage_dir, f"{provisional:010d}")
    lineage.write.mode("overwrite").parquet(lineage_path)
    t_lineage = time.time() - t0

    t0 = time.time()
    sid = table.append(clustered, extra={
        "lineage_path": lineage_path,
        "stage_wall_s": {
            "plan": round(t_plan, 3),
            "lineage": round(t_lineage, 3),
        },
    })
    return sid


def code_shapes():
    """The code KG's publication contract as SHACL-lite shapes
    (operators/shacl.py): every file has exactly one repository edge
    and one content sha256, languages come from the closed synth set
    MINUS js (deliberately narrow so the validation face exercises a
    non-empty report — js files yield ``in`` violations), import
    targets are typed Modules, and module labels are single, lowercase
    identifiers.  Shared by the registry's q117 and the CLI's
    ``--validate``."""
    from claimskg_generator_spark.operators.shacl import (
        NodeShape,
        PropertyShape,
    )

    return [
        NodeShape("FileShape", T_SOURCE_FILE, (
            PropertyShape(P_REPO, min_count=1, max_count=1),
            PropertyShape(P_SHA256, min_count=1, max_count=1),
            PropertyShape(P_LANG, in_values=("python", "go", "java")),
            PropertyShape(P_IMPORTS, class_=T_MODULE),
        )),
        NodeShape("ModuleShape", T_MODULE, (
            PropertyShape(RDFS_LABEL, min_count=1, max_count=1,
                          pattern="^[a-z][a-z0-9_]*$"),
        )),
    ]
