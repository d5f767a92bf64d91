"""Basic-graph-pattern (BGP) queries over a (subj, pred, obj) triple
table — the query face of the materialized KG.

The reference consumes its graph through SPARQL endpoints (reference
claimskg/reconciler/__init__.py issues SPARQL over the loaded graph);
a Spark-native KG needs the same capability over the triple TABLE: a
conjunctive pattern like

    (?f, code:imports, ?m), (?m, rdfs:label, ?l), (?f, schema:repo, ?r)

is a chain of equi-joins over per-pattern scans.  This module compiles
exactly that, with the three plan properties that matter at
10^12-triple scale:

* **Literal pushdown**: every literal position becomes a filter ON THE
  PATTERN'S OWN SCAN, before any join — a pred-literal pattern reads
  one predicate's sliver (and through sources/snapshot_table.read's
  stats pruning or a pred-clustered parquet layout, one sliver of
  FILES, not a full scan).
* **Selectivity-greedy join order**: patterns join most-literal-first,
  and each next pattern must share >= 1 variable with the accumulated
  frame (equi-join keys).  A conjunction whose join graph is
  disconnected would be a cartesian product — rejected loudly instead
  of silently exploding.
* **Equi-joins only**: shared variables become hash-join keys; AQE
  picks broadcast vs shuffle per pattern sliver at runtime.

Variables are ``?name`` strings; anything else is a literal matched
against subj/pred/obj.  A variable bound in two positions of ONE
pattern (e.g. ``(?x, p, ?x)``) compiles to an intra-row equality
filter.  Duplicate rows follow SQL bag semantics (SPARQL's default);
``distinct=True`` applies the set projection.

**Named graphs (quads)**: when the input frame carries a ``graph``
column (the :func:`~claimskg_generator_spark.plans.sinks.with_graph`
/ N-Quads data model — NULL graph == the default graph), a pattern may
be a 4-tuple ``(s, p, o, g)`` whose graph term is a ``?var`` (binds
the graph name, NULL-graph rows excluded — SPARQL ``GRAPH ?g`` ranges
over NAMED graphs only), a literal (filters one named graph's sliver
on the scan), or ``None``.  Plain 3-tuples (and ``g=None``) match the
DEFAULT graph only — the SPARQL dataset rule — so adding a graph
column to a table never silently changes what existing triple queries
see beyond scoping them to the default graph.  On a plain triple table
a 4-term pattern is rejected loudly.

**Star cardinality (characteristic sets)**: ``charsets`` feeds the
Neumann & Moerkotte (ICDE 2011) estimator into the join order.  The
patterns sharing one subject term form a STAR; the number of subjects
matching the star is at most the sum of ``entities`` over the stored
characteristic sets that are SUPERSETS of the star's bound predicates
(the ``'*'`` hub-overflow set counts toward every star).  Correlated
predicates are exactly what the per-predicate independence model in
``stats`` gets wrong — a star of 3 predicates that only co-occur on 50
subjects estimates 50 here, not ``n1·n2·n3/card²`` — so with
``charsets`` the greedy order starts from the RAREST star instead of
the individually-rarest pattern.  Within and across equal-cost stars
the ``stats`` (or fewest-variables) order still applies.
"""

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS = ("subj", "pred", "obj", "graph")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def predicate_profile(triples: DataFrame) -> DataFrame:
    """Per-predicate graph statistics: triple count, distinct subjects,
    distinct objects — the KG's equivalent of table/column cardinality
    stats (one combinable groupBy; predicate vocabulary is tiny next to
    the corpus).  Besides profiling, this is the stats table
    :func:`bgp_query` consumes to order joins by ESTIMATED CARDINALITY
    instead of the literal-count heuristic — at 10^12 triples the
    difference between starting a BGP from a 50-row predicate sliver
    and a 10^11-row one is the whole plan."""
    return triples.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


def _estimate(pat, stats: dict) -> float:
    """Estimated result rows of one pattern against the stats table:
    the predicate's triple count, divided by its distinct-subject
    (resp. -object) cardinality for each bound subject/object literal
    (independence assumption — the textbook selectivity model).  An
    unbound predicate sums the whole table; an unknown predicate
    estimates 0 rows (it matches nothing).  A quad pattern's graph
    term is ignored here (the per-predicate stats are graph-blind)."""
    s, p, o = pat[0], pat[1], pat[2]
    if _is_var(p):
        n = float(sum(r[0] for r in stats.values())) or 1.0
        subj_card = max(r[1] for r in stats.values()) if stats else 1
        obj_card = max(r[2] for r in stats.values()) if stats else 1
    else:
        if p not in stats:
            return 0.0
        n, subj_card, obj_card = (float(stats[p][0]),) + stats[p][1:]
    est = n
    if not _is_var(s):
        est /= max(subj_card, 1)
    if not _is_var(o):
        est /= max(obj_card, 1)
    return est


def _star_estimate(preds: frozenset, sets: List[Tuple[frozenset, float]],
                   overflow: float) -> float:
    """ICDE'11 star-cardinality upper bound: subjects whose
    characteristic set contains every bound predicate of the star =
    the sum of ``entities`` over stored SUPERSETS, plus the whole
    ``'*'`` hub-overflow bucket (its members' true sets are unknown —
    the conservative direction for an upper bound)."""
    return sum(e for s, e in sets if preds <= s) + overflow


def _parse_charsets(charsets: Dict) -> Tuple[List[Tuple[frozenset, float]],
                                             float]:
    """Normalize a ``characteristic_sets`` collect —
    ``{predset_fingerprint: entities | (entities, triples) | Row-ish}``
    with fingerprints as comma-joined strings (or frozensets) — into
    ``([(frozenset, entities), ...], overflow_entities)``."""
    sets: List[Tuple[frozenset, float]] = []
    overflow = 0.0
    for k, v in charsets.items():
        ent = float(v[0] if isinstance(v, (tuple, list)) else v)
        if k == "*":
            overflow += ent
        else:
            fs = k if isinstance(k, frozenset) else frozenset(k.split(","))
            sets.append((fs, ent))
    return sets, overflow


def _order_patterns(patterns: Sequence, stats: Optional[dict],
                    charsets: Optional[Dict]) -> List:
    """Deterministic greedy seed order (cheapest first; the
    shared-variable connectivity walk in :func:`bgp_query` consumes it
    left to right).  Without ``charsets`` this reproduces the historic
    keys exactly — estimated cardinality when ``stats`` is given, else
    fewest distinct variables — with the original pattern order
    breaking ties (Python's stable sort did the same).  With
    ``charsets``, patterns whose subject term anchors a star with >= 1
    bound predicate sort by the star's characteristic-set estimate
    first, so the rarest STAR seeds the join chain and its sibling
    patterns cluster right behind it."""
    def base(pat) -> float:
        if stats is not None:
            return _estimate(pat, stats)
        return float(len({t for t in pat if _is_var(t)}))

    if charsets is None:
        return [p for _, _, p in
                sorted((base(p), i, p) for i, p in enumerate(patterns))]
    sets, overflow = _parse_charsets(charsets)
    star_preds: Dict[str, set] = {}
    for pat in patterns:
        if not _is_var(pat[1]):
            star_preds.setdefault(pat[0], set()).add(pat[1])
    total = sum(e for _, e in sets) + overflow
    keyed = []
    for i, pat in enumerate(patterns):
        preds = star_preds.get(pat[0])
        star = (_star_estimate(frozenset(preds), sets, overflow)
                if preds else total)
        keyed.append((star, base(pat), i, pat))
    return [p for _, _, _, p in sorted(keyed)]


def bgp_query(
    triples: DataFrame,
    patterns: Sequence[Tuple[str, ...]],
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    stats: Optional[dict] = None,
    optional: Optional[Sequence[Sequence[Tuple[str, ...]]]] = None,
    not_exists: Optional[Sequence[Sequence[Tuple[str, ...]]]] = None,
    exists: Optional[Sequence[Sequence[Tuple[str, ...]]]] = None,
    charsets: Optional[Dict] = None,
) -> DataFrame:
    """Evaluate a conjunctive triple-pattern query against ``triples``.

    ``patterns``: (s, p, o) terms, each a ``?var`` or a literal string.
    ``select``: variables to project (default: all, sorted).  Returns
    one column per selected variable (named without the ``?``).

    ``stats``: optional ``{pred: (n_triples, n_subj, n_obj)}`` —
    typically ``{r['pred']: (r['n_triples'], r['n_subj'], r['n_obj'])
    for r in predicate_profile(t).collect()}``, computed once per graph
    version and reused across queries.  With stats, patterns join in
    estimated-cardinality order (cheapest sliver first); without, the
    fewest-variables heuristic stands in.

    ``optional``: pattern groups LEFT-joined on their shared variables
    (SPARQL OPTIONAL — unmatched rows carry NULLs in the group's
    exclusive variables).  ``not_exists``: pattern groups anti-joined
    (SPARQL FILTER NOT EXISTS).  ``exists``: pattern groups SEMI-joined
    on their shared variables (SPARQL FILTER EXISTS — rows survive only
    when the group matches; like NOT EXISTS it binds nothing new, so
    the group's exclusive variables never reach the output).  Each
    group is itself a BGP; a group sharing no variable with the
    required patterns is rejected.

    ``charsets``: optional ``{predset_fingerprint: (entities, triples)}``
    — typically ``{r['predset']: (r['entities'], r['triples']) for r in
    characteristic_sets(t).collect()}`` — switching the greedy order to
    star-level characteristic-set estimates (module docstring); like
    ``stats`` it is computed once per graph version and reused.

    Patterns may be quads ``(s, p, o, g)`` when ``triples`` carries a
    ``graph`` column (module docstring: named-graph semantics).
    """
    if not patterns:
        raise ValueError("need at least one pattern")
    has_graph = "graph" in triples.columns
    for t in patterns:
        if len(t) not in (3, 4):
            raise ValueError(
                f"pattern must be a (s, p, o) triple or (s, p, o, g) "
                f"quad: {t!r}")
        if len(t) == 4 and t[3] is not None and not has_graph:
            raise ValueError(
                f"quad pattern {t!r} needs a 'graph' column on the "
                "input frame (see plans.sinks.with_graph)")
        if not any(_is_var(x) for x in t if x is not None):
            raise ValueError(
                f"pattern {t!r} has no variables; ASK-style existence "
                "checks are a filter, not a BGP column")

    def compile_pattern(pat) -> Tuple[DataFrame, set]:
        df = triples
        cols, seen = [], {}
        terms = list(pat) + [None] * (4 - len(pat))
        for pos, term in zip(_POS, terms):
            if pos == "graph":
                if not has_graph:
                    continue
                if term is None:        # default graph: NULL graph rows
                    df = df.filter(F.col(pos).isNull())
                    continue
                if _is_var(term):       # GRAPH ?g ranges over NAMED graphs
                    df = df.filter(F.col(pos).isNotNull())
            if _is_var(term):
                v = term[1:]
                if v in seen:  # same var twice in one pattern
                    df = df.filter(F.col(pos) == F.col(seen[v]))
                else:
                    seen[v] = pos
                    cols.append(F.col(pos).alias(v))
            else:
                df = df.filter(F.col(pos) == term)
        return df.select(*cols), set(seen)

    # greedy order: cheapest first — star-level characteristic-set
    # estimates when charsets are supplied, else estimated cardinality
    # (stats) / fewest variables; then any pattern sharing a variable
    # with what's bound, cheapest-first
    remaining = [(*compile_pattern(p), id(p))
                 for p in _order_patterns(patterns, stats, charsets)]
    out, bound = remaining.pop(0)[:2]
    while remaining:
        i = next(
            (j for j, (_df, vs, _pid) in enumerate(remaining)
             if vs & bound),
            None,
        )
        if i is None:
            raise ValueError(
                "disconnected pattern graph (no shared variables) — this "
                "would be a cartesian product; split the query instead")
        df, vs, _pid = remaining.pop(i)
        out = out.join(df, sorted(vs & bound))
        bound |= vs
    # OPTIONAL groups: each evaluated as its own BGP and LEFT-joined on
    # the shared variables — unmatched rows keep NULLs in the group's
    # exclusive variables (SPARQL OPTIONAL semantics)
    for group in optional or ():
        gdf = bgp_query(triples, group, stats=stats, charsets=charsets)
        gvars = set(gdf.columns)
        keys = sorted(gvars & bound)
        if not keys:
            raise ValueError(
                f"optional group {group!r} shares no variable with the "
                "required patterns — it would be a cartesian product")
        out = out.join(gdf, keys, "left")
        bound |= gvars
    # EXISTS groups: semi-join on the shared variables — rows survive
    # only when the group matches; binds nothing new
    for group in exists or ():
        gdf = bgp_query(triples, group, stats=stats, charsets=charsets)
        keys = sorted(set(gdf.columns) & bound)
        if not keys:
            raise ValueError(
                f"exists group {group!r} shares no variable with the "
                "required patterns — the filter would be constant")
        out = out.join(gdf.select(*keys), keys, "left_semi")
    # NOT EXISTS groups: anti-join on the shared variables — rows with
    # ANY matching group binding are dropped; binds nothing new
    for group in not_exists or ():
        gdf = bgp_query(triples, group, stats=stats, charsets=charsets)
        keys = sorted(set(gdf.columns) & bound)
        if not keys:
            raise ValueError(
                f"not_exists group {group!r} shares no variable with the "
                "required patterns — the filter would be constant")
        out = out.join(gdf.select(*keys), keys, "left_anti")
    sel: List[str] = (
        sorted(bound) if select is None
        else [v[1:] if v.startswith("?") else v for v in select]
    )
    missing = [v for v in sel if v not in bound]
    if missing:
        raise ValueError(f"selected variables not bound: {missing}")
    out = out.select(*sel)
    return out.distinct() if distinct else out
