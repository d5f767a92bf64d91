"""RDFS entailment materialization — the ρdf inference rules over a
``(subj, pred, obj)`` triple table against a schema-sized ontology.

A KG-construction pipeline that publishes a graph under a vocabulary
(the reference publishes schema.org ClaimReview; this engine's code KG
publishes schema.org SoftwareSourceCode + an example.org extension)
owes its consumers the ENTAILED graph: queries for the superclass
(``?x a code:Resource``) or the superproperty (``?s code:dependsOn
?o``) must hit, not miss, when the data was asserted at the subclass /
subproperty level.  SPARQL endpoints get this from an RDFS reasoner;
here it is one deterministic graph-to-graph operator.

Rules implemented (the minimal deductive system of Muñoz, Pérez &
Gutierrez, "Simple and Efficient Minimal RDFS", ESWC 2007 — the ρdf
fragment; equivalently RDFS rules rdfs2/3/5/7/9/11 of the W3C RDF
Semantics):

* subPropertyOf transitivity + lifting: (p sp q), (s p o) => (s q o)
* domain: (p dom c), (s p o) => (s rdf:type c)
* range:  (p rng c), (s p o) => (o rdf:type c)
* subClassOf transitivity + lifting: (c sc d), (x rdf:type c)
  => (x rdf:type d)

Fixpoint shape: applying the four families in the order property-lift
-> domain/range -> class-lift, each over the CLOSED (transitive)
schema relations, reaches the full ρdf fixpoint of the data triples in
ONE pass — new type triples can only feed the class-lift rule, which
runs last over the closed subclass relation, and entailed property
triples carry predicates whose domain/range the closure already lifted
(the standard stratification argument of the ρdf paper).  No iteration
over the DATA is ever needed.

Scale shape: the ontology is SCHEMA-sized (vocabulary terms, not
instances — KBs even for schema.org-scale vocabularies), so its
transitive closure runs driver-side in pure Python and ships to the
executors as broadcast-joined literal relations; the 100 TB data
frame is touched by exactly four narrow broadcast joins + one
set-dedup union — no self-join of the data, no iteration, one
exchange (the final distinct).  This mirrors every other small-dim
pattern in the engine (ratings table, VALUES relations).

Reference parity note: the reference emits its graph WITHOUT
materialized entailment and leaves inference to the consuming SPARQL
store (reference claimskg/generator/__init__.py builds plain
rdflib.Graph triples); this operator is the Spark-first equivalent of
turning that store-side reasoning on.
"""

from typing import Dict, Iterable, List, Optional, Sequence, Set, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SUBCLASS = RDFS + "subClassOf"
SUBPROP = RDFS + "subPropertyOf"
DOMAIN = RDFS + "domain"
RANGE = RDFS + "range"

Triple = Tuple[str, str, str]


def _transitive(pairs: Iterable[Tuple[str, str]]) -> Set[Tuple[str, str]]:
    """Strict (irreflexive unless cyclic) transitive closure of a tiny
    schema relation — plain BFS per source, O(V*E) on KB-sized input."""
    adj: Dict[str, Set[str]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    closed: Set[Tuple[str, str]] = set()
    for start in adj:
        seen: Set[str] = set()
        frontier = set(adj[start])
        while frontier:
            seen |= frontier
            frontier = set().union(
                *(adj.get(n, set()) for n in frontier)) - seen
        closed |= {(start, d) for d in seen}
    return closed


def _check_ontology(ontology: List[Triple]) -> None:
    bad = [t for t in ontology
           if t[1] not in (SUBCLASS, SUBPROP, DOMAIN, RANGE)]
    if bad:
        raise ValueError(
            f"ontology triples must use rdfs:subClassOf/subPropertyOf/"
            f"domain/range predicates, got {bad[:3]}")


def rdfs_entail(triples: DataFrame, ontology: List[Triple],
                include_schema: bool = False,
                okind_col: Optional[str] = None) -> DataFrame:
    """Materialize the ρdf entailment of ``triples`` under ``ontology``.

    ``ontology`` is a driver-side list of ``(s, p, o)`` schema triples
    (predicates restricted to the four rdfs terms — anything else is
    rejected loudly).  Returns the set-deduped entailed graph as
    ``(subj, pred, obj)``; ``include_schema=True`` additionally emits
    the CLOSED ontology itself (subClassOf/subPropertyOf made
    transitive) as triples, the W3C-entailment reading where schema
    and data live in one graph.

    ``okind_col`` names an object-kind column to carry through (the
    engine's RDF sinks need it): property-lifted triples keep their
    source triple's kind, while derived type/schema triples are
    ``'uri'`` (their objects are class/property IRIs by construction).

    The four rule families are broadcast joins against literal
    relations built from the closed schema; see the module docstring
    for why one pass reaches the fixpoint.
    """
    _check_ontology(ontology)
    spark = triples.sparkSession
    sc_closed = _transitive(
        (s, o) for s, p, o in ontology if p == SUBCLASS)
    sp_closed = _transitive(
        (s, o) for s, p, o in ontology if p == SUBPROP)
    dom = {(s, o) for s, p, o in ontology if p == DOMAIN}
    rng = {(s, o) for s, p, o in ontology if p == RANGE}
    # rdfs2/3 fire for superproperties too: a (s p o) with p ⊑ q and
    # (q dom c) entails (s q o) which entails (s type c) — fold the
    # lifted domains/ranges into the maps so one join pass suffices
    dom |= {(p, c) for p, q in sp_closed for q2, c in dom if q2 == q}
    rng |= {(p, c) for p, q in sp_closed for q2, c in rng if q2 == q}

    k = ([F.col(okind_col).alias("okind")] if okind_col else [])
    k_uri = ([F.lit("uri").alias("okind")] if okind_col else [])
    cols = ["subj", "pred", "obj"] + (["okind"] if okind_col else [])
    data = triples.select("subj", "pred", "obj", *k)
    parts = [data]

    def rel(pairs: Set[Tuple[str, str]], a: str, b: str) -> DataFrame:
        # SQL VALUES -> a pure-JVM LocalRelation: broadcast-clean plans
        # (createDataFrame can route through a Python RDD scan)
        rows = ", ".join(
            "('{}', '{}')".format(x.replace("'", "''"),
                                  y.replace("'", "''"))
            for x, y in sorted(pairs))
        return spark.sql(f"SELECT * FROM (VALUES {rows}) AS t({a}, {b})")

    if sp_closed:
        sp = rel(sp_closed, "p", "q")
        parts.append(
            data.join(F.broadcast(sp), data["pred"] == sp["p"])
            .select("subj", F.col("q").alias("pred"), "obj",
                    *(["okind"] if okind_col else [])))
    if dom:
        dm = rel(dom, "p", "c")
        parts.append(
            data.join(F.broadcast(dm), data["pred"] == dm["p"])
            .select("subj", F.lit(RDF_TYPE).alias("pred"),
                    F.col("c").alias("obj"), *k_uri))
    if rng:
        rn = rel(rng, "p", "c")
        parts.append(
            data.join(F.broadcast(rn), data["pred"] == rn["p"])
            .select(F.col("obj").alias("subj"),
                    F.lit(RDF_TYPE).alias("pred"),
                    F.col("c").alias("obj"), *k_uri))
    if sc_closed:
        # class-lift runs over data types AND the domain/range-derived
        # types: union the type sources first, then one broadcast join
        sc = rel(sc_closed, "c", "d")
        typed = [p.filter(F.col("pred") == RDF_TYPE).select(
            "subj", "pred", "obj") for p in parts]
        types = typed[0]
        for t in typed[1:]:
            types = types.unionAll(t)
        parts.append(
            types.join(F.broadcast(sc), types["obj"] == sc["c"])
            .select("subj", F.lit(RDF_TYPE).alias("pred"),
                    F.col("d").alias("obj"), *k_uri))
    if include_schema:
        schema_rows = sorted(
            {(s, SUBCLASS, o) for s, o in sc_closed}
            | {(s, SUBPROP, o) for s, o in sp_closed}
            | {(s, DOMAIN, o) for s, o in dom}
            | {(s, RANGE, o) for s, o in rng})
        if schema_rows:
            sdf = spark.createDataFrame(
                schema_rows, "subj string, pred string, obj string")
            if okind_col:
                sdf = sdf.select("subj", "pred", "obj", *k_uri)
            parts.append(sdf)
    out = parts[0].select(*cols)
    for p in parts[1:]:
        out = out.unionAll(p.select(*cols))
    return out.distinct()


def transitive_entail(triples: DataFrame, trans_preds: Sequence[str],
                      max_hops: int, okind_col: Optional[str] = None,
                      early_stop: bool = False) -> DataFrame:
    """OWL transitive-property entailment (OWL 2 RL rule ``prp-trp``),
    depth-bounded: for every predicate DECLARED transitive, the graph
    entails the edge for each directed path — materialize those edges
    and return the set-deduped entailed graph.

    Unlike the ρdf rules of :func:`rdfs_entail` (schema-sized relations,
    one broadcast pass), prp-trp closes a DATA-sized relation, so each
    declared predicate's edge sliver (predicate pushdown keeps the scan
    narrow) runs the semi-naive iteration of
    :func:`~claimskg_generator_spark.operators.sparql.path_closure` —
    per-round frontier joins, bounded lineage, never the accumulated
    closure re-joined.  ``max_hops`` bounds the depth explicitly (the
    same bounded-recursion contract as path_closure / bfs_layers; a
    depth-d bound entails paths of <= d edges, and the value oracle
    replays exactly that bound as a recursive CTE).  ``early_stop=True``
    stops as soon as a round adds nothing (one tiny max(hops) probe per
    round); the default runs the fixed depth with zero driver actions.

    Entailed rows carry ``okind='uri'`` when ``okind_col`` is given —
    objects of a transitive property are IRIs by construction (OWL
    restricts TransitiveProperty to object properties).

    The SPARQL face reaches the same semantics per-query via the
    in-pattern ``p+`` path; this operator is the publication-side
    materialization of it (consumers of the emitted graph get the
    closure without a reasoner), mirroring how rdfs_entail
    materializes what q118 computes lazily.
    """
    from claimskg_generator_spark.operators.sparql import path_closure

    preds = list(trans_preds)
    if not preds:
        raise ValueError("trans_preds must name at least one predicate")
    k = [F.col(okind_col).alias("okind")] if okind_col else []
    k_uri = [F.lit("uri").alias("okind")] if okind_col else []
    cols = ["subj", "pred", "obj"] + (["okind"] if okind_col else [])
    out = triples.select("subj", "pred", "obj", *k)
    for p in preds:
        edges = (triples.where(F.col("pred") == p)
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        closed = path_closure(edges, max_hops=max_hops,
                              early_stop=early_stop)
        out = out.unionAll(closed.select(
            F.col("src").alias("subj"), F.lit(p).alias("pred"),
            F.col("dst").alias("obj"), *k_uri))
    return out.distinct()


def owl_property_entail(triples: DataFrame,
                        symmetric: Sequence[str] = (),
                        inverses: Sequence[Tuple[str, str]] = (),
                        okind_col: Optional[str] = None) -> DataFrame:
    """OWL 2 RL property-characteristic entailment — rules ``prp-symp``
    (``p`` declared symmetric: (s p o) entails (o p s)) and
    ``prp-inv1``/``prp-inv2`` (``q = inverseOf(p)``: (s p o) entails
    (o q s) and vice versa).  Together with :func:`transitive_entail`
    (prp-trp) and :func:`ifp_sameas` (prp-ifp) this completes the
    engine's OWL 2 RL property-rule family.

    ``symmetric`` lists predicates declared ``owl:SymmetricProperty``
    (owl:sameAs is the canonical member); ``inverses`` lists
    ``(p, q)`` pairs declared ``owl:inverseOf`` — BOTH directions fire,
    per the OWL semantics.

    Shape: each rule is one filtered-sliver projection with subject and
    object swapped — ZERO joins, zero iteration (these rules cannot
    cascade through themselves: applying a swap twice returns the
    original row, which the final set-dedup absorbs; the one exchange
    is that dedup).  When ``okind_col`` is given, only URI-kind rows
    swap — a literal can never become a subject — and entailed rows
    carry ``okind='uri'``.
    """
    sym = list(symmetric)
    inv = list(inverses)
    if not sym and not inv:
        raise ValueError("need at least one symmetric pred or inverse "
                         "pair")
    k = [F.col(okind_col).alias("okind")] if okind_col else []
    k_uri = [F.lit("uri").alias("okind")] if okind_col else []
    cols = ["subj", "pred", "obj"] + (["okind"] if okind_col else [])
    data = triples.select("subj", "pred", "obj", *k)
    swappable = (F.col("okind") == "uri") if okind_col else F.lit(True)

    def swap(from_pred: str, to_pred: str) -> DataFrame:
        return (data.where((F.col("pred") == from_pred) & swappable)
                .select(F.col("obj").alias("subj"),
                        F.lit(to_pred).alias("pred"),
                        F.col("subj").alias("obj"), *k_uri))

    parts = [data]
    for p in sym:
        parts.append(swap(p, p))
    for p, q in inv:
        parts.append(swap(p, q))
        parts.append(swap(q, p))
    out = parts[0].select(*cols)
    for part in parts[1:]:
        out = out.unionAll(part.select(*cols))
    return out.distinct()


def ifp_sameas(triples: DataFrame, ifp_preds: Sequence[str],
               max_group: int = 1000) -> DataFrame:
    """OWL inverse-functional-property entailment (OWL 2 RL rule
    ``prp-ifp``): two subjects asserting the SAME value of an
    inverse-functional predicate denote the same entity — emit the
    ``owl:sameAs`` edges that identity implies.

    This is the classic KG identity-resolution rule (foaf:mbox,
    checksum, DOI, ISBN ...); here the code KG's per-file content
    sha256 (operators/code_kg.P_SHA256) is the natural IFP: files
    carrying identical bytes under different repo/path identities are
    the same source artifact.  The reference has no analog — its
    reconciler emits pairwise sameAs from string similarity
    (reference claimskg/reconciler/__init__.py:126-147) and leaves
    rule-derived identity to the downstream OWL store.

    Output: star edges WITHIN each (pred, value) group — every member
    points at the group's minimum subject — as ``(subj,
    owl:sameAs, obj, okind='uri')`` rows.  Stars, not pairwise cliques,
    so the edge count is linear in the group size; downstream closure
    (:func:`~claimskg_generator_spark.operators.components.
    smush_sameas`) still unions classes that overlap ACROSS predicates
    or with asserted sameAs edges.

    ``max_group`` caps the per-value subject set: a value shared by
    more subjects is treated as NON-identifying and dropped (an empty
    string or all-zero checksum shared by millions is evidence the
    property is not inverse-functional for that value — and the cap is
    what keeps one degenerate value from materializing an unbounded
    row at 100 TB).  The drop is a documented semantic, same policy as
    the posting-list df caps in dedup.py/code.py.

    Scale shape: one groupBy(pred, obj) over the IFP sliver (predicate
    pushdown keeps the scan narrow), star pairs generated WITHIN the
    grouped row (sort_array + slice/transform — no self-join, no
    explode before the cap), one final set-dedup."""
    preds = list(ifp_preds)
    if not preds:
        raise ValueError("ifp_preds must name at least one predicate")
    if max_group < 2:
        raise ValueError(f"max_group must be >= 2, got {max_group}")
    from claimskg_generator_spark.constants.namespaces import NS

    groups = (
        triples.where(F.col("pred").isin(preds))
        .groupBy("pred", "obj")
        .agg(F.sort_array(F.collect_set("subj")).alias("__subjs"))
        .where(F.size("__subjs").between(2, max_group))
    )
    # star edges within the row: members 2..n -> member 1 (the minimum)
    edges = groups.select(F.explode(F.transform(
        F.slice(F.col("__subjs"), 2, F.size("__subjs") - 1),
        lambda s: F.struct(s.alias("subj"),
                           F.element_at("__subjs", 1).alias("rep")),
    )).alias("e"))
    return edges.select(
        F.col("e.subj").alias("subj"),
        F.lit(NS.OWL_SAME_AS).alias("pred"),
        F.col("e.rep").alias("obj"),
        F.lit("uri").alias("okind"),
    ).distinct()
