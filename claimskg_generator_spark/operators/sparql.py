"""SPARQL-subset query face over the ``(subj, pred, obj)`` triple table.

The reference never hands its users a DataFrame — its graph is consumed
through SPARQL (reference claimskg/reconciler/__init__.py issues SELECT
queries over the loaded RDF graph, and the published ClaimsKG is served
from a SPARQL endpoint).  :mod:`operators.bgp` gives the programmatic
BGP; this module adds the three faces a SPARQL consumer reaches for
next, each compiled onto the SAME plan machinery so the text face
inherits bgp_query's literal pushdown, cost-ordered join chain and
cartesian rejection instead of growing a second (worse) planner:

* :func:`parse_sparql` / :func:`sparql_select` — a textual SPARQL
  SELECT subset (PREFIX, BGP, OPTIONAL, FILTER (NOT) EXISTS, FILTER
  expressions, DISTINCT, GROUP BY + aggregates, ORDER BY, LIMIT/OFFSET)
  parsed by a recursive-descent parser and compiled to
  ``bgp_query`` + post-plan Column expressions.  Parsing is O(query
  text) driver-side; nothing about the distributed plan changes.
* :func:`sparql_construct` — CONSTRUCT templates: one narrow
  projection of the binding frame per template pattern, unioned and
  set-deduped (RDF graphs are sets) — graph-to-graph transformation
  without materializing bindings twice.
* :func:`path_closure` — the SPARQL property path ``pred+``
  (transitive closure with minimal hop counts) as semi-naive
  iteration: each round extends only the LAST round's frontier by one
  edge hop (never the whole closure), anti-joins the accumulated
  result so a pair lands at its MINIMAL hop count and cycles
  terminate, and truncates lineage on a fixed cadence — the same
  bounded-plan discipline as components.bfs_layers / pagerank.

Grammar (keywords case-insensitive; ``#`` comments allowed)::

    query     := prefix* ( select | construct | ask | describe )
    prefix    := PREFIX name ':' <iri>
    dataset   := ( FROM NAMED? ( <iri> | pfx:local ) )*
    select    := SELECT DISTINCT? ( '*' | item+ ) dataset WHERE group
                 solution*
    item      := ?var | '(' AGG '(' (DISTINCT? ?var | '*')
                 (';' SEPARATOR '=' "sep")? ')' AS ?var ')'
    AGG       := COUNT | SUM | MIN | MAX | AVG
               | GROUP_CONCAT | SAMPLE
    construct := CONSTRUCT '{' triples '}' dataset WHERE group
    ask       := ASK dataset group
    describe  := DESCRIBE dterm+ dataset ( WHERE group )?
    dterm     := ?var | <iri> | pfx:local
    group     := '{' ( triple '.'? | OPTIONAL group | MINUS group
                     | FILTER NOT? EXISTS group | FILTER '(' expr ')'
                     | BIND '(' bexpr AS ?var ')'
                     | block ( UNION block )+
                     | VALUES ( ?var | '(' ?var+ ')' ) '{' row* '}' )* '}'
    block     := '{' ( triple '.'? )* '}'
    row       := literal | '(' literal+ ')'
    triple    := term path term
    path      := pelt ('+'|'*'|'?') | pelt ( '/' pelt )*
               | pelt ( '|' pelt )+ | group ('+'|'*'|'?')? | ?var
    group     := '(' pelt ( ('/'|'|') pelt )* ')'
    pelt      := '^'? ( <iri> | pfx:local | a )
    term      := ?var | <iri> | pfx:local | "string" | number | a
    expr      := conj ( '||' conj )*
    conj      := prim ( '&&' prim )*
    prim      := '(' expr ')' | operand CMP operand
               | (CONTAINS|STRSTARTS|REGEX) '(' ?var ',' "string" ')'
    CMP       := '=' | '!=' | '<' | '<=' | '>' | '>='
    bexpr     := operand | CONCAT '(' bexpr (',' bexpr)* ')'
               | (STRLEN|UCASE|LCASE|STR) '(' ?var ')'
    solution  := GROUP BY ?var+ | HAVING '(' expr ')'
               | ORDER BY ((ASC|DESC)'('?var')'|?var)+
               | LIMIT n | OFFSET n

Semantics notes (all chosen to match the ANSI-SQL twin the driver
oracle runs): terms are compared as strings (the triple table is
string-typed); ``SUM``/``AVG`` cast the variable to double; ``a``
expands to rdf:type; bag semantics unless DISTINCT.  ``GROUP_CONCAT``
in this subset ALWAYS sorts its (bag or DISTINCT) values before
joining — plain SPARQL GROUP_CONCAT is order-nondeterministic, which
cannot be value-oracled; ``SAMPLE`` is pinned to the MINIMUM value (a
legal sample, deterministic).  Both choices match the SQL twin
(ordered string_agg / min).  UNION branches
must bind IDENTICAL variable sets (the common SPARQL shape) — that
sidesteps the unbound-variable join-compatibility corner entirely, so
a chain compiles to a plain bag union joined with the rest of the
group on shared variables.  VALUES compiles to a literal relation
broadcast-joined on its variables.

Property paths in predicate position rewrite at parse time onto the
same BGP machinery — sequence ``p1/p2`` chains through fresh hidden
variables (projected away; fresh vars never collide with user ``?``
names because ``?__pv…`` is reserved), inverse ``^p`` swaps
subject/object, and alternation ``p1|p2`` becomes a two-branch UNION
chain (so it is accepted only in the required group, where UNION
lives).  ``p+`` closure is NOT a static rewrite: the pattern compiles
to the semi-naive iteration of :func:`path_closure` over the
predicate's edge sliver, depth-bounded by the ``closure_hops``
argument of the query faces (default 8 — a documented bounded subset
of the unbounded SPARQL ``+``, exactly the contract of path_closure
itself; the value oracle replays the same bound as a recursive CTE).
The closure frame joins the rest of the group on its shared
variables; a literal endpoint filters the closure result.  Accepted
only in the required group; mixing closure with un-grouped ``/`` or
``|`` (``p+/q``) stays outside the subset.  A node on a cycle reaches
itself (real ``p+`` semantics).

Modifiers on GROUPED composite paths — ``(p1|p2)+``, ``(p1/p2)+``,
and their ``*``/``?`` forms, members optionally inverse — compile to
the SAME closure machinery over a DERIVED step relation
(:func:`_path_step_edges`): alternation unions the member slivers
(the undirected closure ``(p|^p)+`` is the idiomatic instance),
sequence composes them left-to-right through equi-joins, and the
composed ``(src, dst)`` frame feeds :func:`path_closure` /
the one-traversal ``?`` form / the §18.4 zero-length union
unchanged.  Inside a group, one operator only (no ``/``–``|``
mixing), members carry no modifiers, and a bare group is exactly its
inner path; a single-member group collapses to the single-predicate
form.  Endpoints of a grouped closure are NOT pre-swapped (member
``^`` is honored inside the step relation itself).

``p*`` and ``p?`` add the zero-length contribution (SPARQL 1.1 §18.4
ZeroLengthPath): with both endpoints variables, every term of the
default graph (subjects ∪ objects) reaches itself — the term-domain
distinct is the one graph-wide shuffle the zero-length forms pay
(``p+`` stays sliver-only); with a constant endpoint, the constant
matches itself unconditionally (the spec binds the variable to the
term without a graph-membership test — engines agree on this corner
and the value oracle replays it).  ``?a p* ?a`` is therefore every
graph term, and ``p?`` is the zero-length rows plus the predicate's
own one-hop sliver (no iteration).

Negated property sets (§9.1 PathNegatedPropertySet) — ``!p`` /
``!(p1|p2|...)`` — compile to ONE filtered scan of the default graph
(``pred NOT IN`` pushes into the scan) joined on the shared variable;
one solution per matching TRIPLE (the spec's multiset — no distinct
inserted).  Forward IRI elements only: inverse elements inside the
set, modifiers on the set, and nested-group placement are rejected
loudly.

``BIND`` expressions evaluate AFTER all pattern/MINUS joins and BEFORE
FILTER expressions regardless of written position (document-order
scoping inside one group is not in the subset); the bound variable is
then a first-class binding for SELECT/GROUP BY/CONSTRUCT.  ``MINUS``
compiles to a left-anti join on the shared variables with SQL NULL
semantics — a row whose shared variable is NULL (possible via
OPTIONAL) is never removed, and a MINUS group sharing NO variable
removes nothing (the SPARQL disjoint-domain rule).  ``HAVING`` filters
the aggregated frame (its variables are output columns: group keys or
aggregate aliases).  ``ASK`` returns a one-row ``(ask boolean)``
frame; ``DESCRIBE`` returns the subject-based description (all triples
whose subject is a described node) as a set-deduped
``(subj, pred, obj)`` graph.

``GRAPH`` blocks query the named graphs of a QUADS frame (a ``graph``
column — the :func:`~claimskg_generator_spark.plans.sinks.with_graph`
/ N-Quads data model; NULL graph == default graph): every pattern
inside ``GRAPH g { … }`` becomes a quad carrying ``g``, so a ``?g``
term binds the graph name per row (ranging over NAMED graphs only, the
SPARQL dataset rule) and all patterns of one block match within the
SAME graph for a given binding, while an IRI term filters that graph's
sliver on the scan.  Patterns OUTSIDE any GRAPH block — including
``p+`` closures and the DESCRIBE description scan — match the default
graph only.  GRAPH blocks live in the required group and contain plain
patterns (no nested OPTIONAL/UNION/closure); on a plain triple table a
GRAPH pattern is rejected at plan time (no ``graph`` column).

A ``FROM`` / ``FROM NAMED`` dataset clause CONSTRUCTS the queried
dataset from the quads frame (SPARQL 1.1 §13.2): the default graph
becomes the set-merge of the FROM graphs, the named graphs are exactly
the FROM NAMED ones, and the store's own default graph drops (it has
no IRI to address it by).  A missing side is empty — ``FROM``-only
datasets match no GRAPH pattern and vice versa.

All four faces also take the ``charsets`` dict
(:func:`~claimskg_generator_spark.operators.kg_stats.characteristic_sets`
collect) alongside ``stats`` — the star-cardinality join ordering of
:func:`~claimskg_generator_spark.operators.bgp.bgp_query`.

Sub-SELECTs (SPARQL 1.1 §12) are full SELECT queries inside braces in
the required group, evaluated bottom-up: the subquery's solution frame
— its own WHERE bindings, aggregation, DISTINCT and ORDER-BY + LIMIT
top-k — joins the outer group on shared variables (the cartesian guard
applies), so the common "aggregate then filter/extend" and
"top-k then annotate" idioms compose.  A subquery inherits the outer
dataset (its own FROM is rejected), and ORDER BY without LIMIT inside
a subquery is rejected (ordering does not survive the join).

Unsupported SPARQL (``SERVICE``; updates — see
:mod:`~claimskg_generator_spark.operators.sparql_update` for the
UPDATE face) is rejected loudly at parse time — never silently
mis-planned.  (``p*``/``p?`` paths ARE supported — §18.4 zero-length
semantics, driver q137 — as the property-path section above
describes.)
"""

import re
from dataclasses import dataclass, field
from functools import partial, reduce
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.iterate import Iteration, last_round

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# --------------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------------

_TOKEN = re.compile(
    r"""(?P<ws>\s+|\#[^\n]*)
      | (?P<iri><[^<>\s]*>)
      | (?P<str>"(?:[^"\\]|\\.)*")
      | (?P<var>\?\w+)
      | (?P<pname>[A-Za-z_][\w-]*:[\w-]+(?:\.[\w-]+)*)
      | (?P<word>[A-Za-z_]\w*)
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<op>&&|\|\||!=|<=|>=|[{}().,;*=<>:/^|+?!])
    """,
    re.X,
)

_STR_ESCAPES = {"\\n": "\n", "\\t": "\t", "\\r": "\r",
                '\\"': '"', "\\\\": "\\"}


def _unescape(s: str) -> str:
    return re.sub(r"\\[ntr\"\\]", lambda m: _STR_ESCAPES[m.group(0)], s)


def _tokenize(text: str) -> List[str]:
    toks, i = [], 0
    while i < len(text):
        m = _TOKEN.match(text, i)
        if not m:
            raise SparqlSyntaxError(
                f"cannot tokenize at offset {i}: {text[i:i + 20]!r}")
        i = m.end()
        if m.lastgroup != "ws":
            toks.append(m.group(0))
    return toks


class SparqlSyntaxError(ValueError):
    """Raised for text the subset grammar cannot parse — including
    recognized-but-unsupported SPARQL keywords, so misplanning is
    impossible: a query either compiles onto bgp_query or errors."""


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------

Triple = Tuple[str, str, str]
#: filter AST nodes: ("cmp", op, lhs, rhs) | ("fn", name, var, lit)
#:                   | ("and", [nodes]) | ("or", [nodes])
#: operands: ("var", name) | ("lit", value)


@dataclass
class SelectItem:
    var: Optional[str] = None          # plain ?var projection
    agg: Optional[str] = None          # COUNT/SUM/MIN/MAX/AVG
    arg: Optional[str] = None          # ?var or "*" (COUNT only)
    agg_distinct: bool = False
    alias: Optional[str] = None        # required for aggregates
    sep: str = " "                     # GROUP_CONCAT separator


@dataclass
class ParsedQuery:
    form: str                     # "select" | "construct" | "ask" | "describe"
    prefixes: Dict[str, str] = field(default_factory=dict)
    select: Optional[List[SelectItem]] = None    # None == SELECT *
    distinct: bool = False
    template: List[Triple] = field(default_factory=list)
    patterns: List[Triple] = field(default_factory=list)
    optional_groups: List[List[Triple]] = field(default_factory=list)
    not_exists_groups: List[List[Triple]] = field(default_factory=list)
    exists_groups: List[List[Triple]] = field(default_factory=list)
    minus_groups: List[List[Triple]] = field(default_factory=list)
    filters: List[tuple] = field(default_factory=list)
    #: (target variable, bind-expression AST) in written order
    binds: List[Tuple[str, tuple]] = field(default_factory=list)
    #: each chain is >= 2 branches, each branch a BGP pattern list
    union_chains: List[List[List[Triple]]] = field(default_factory=list)
    #: ``p+``/``p*``/``p?`` closure patterns: (s, path, o, mode) with
    #: mode in "plus" | "star" | "opt" and path either a pred IRI
    #: (single-predicate form, inverse pre-swapped into s/o) or a
    #: grouped composite ("seq"|"alt", ((inverse, iri), ...)) from
    #: ``(p1/p2)+`` / ``(p1|p2)+`` (member inverses NOT pre-swapped —
    #: they live inside the step relation)
    closure_patterns: List[Tuple[str, object, str, str]] = \
        field(default_factory=list)
    #: negated property sets (SPARQL 1.1 §9.1 PathNegatedPropertySet):
    #: (s, (pred IRI, ...), o) — matches any DEFAULT-graph triple whose
    #: predicate is NOT in the set, one solution per matching triple
    nps_patterns: List[Tuple[str, Tuple[str, ...], str]] = \
        field(default_factory=list)
    #: (variable names, literal rows) per VALUES block
    values_blocks: List[Tuple[List[str], List[Tuple[str, ...]]]] = \
        field(default_factory=list)
    #: DESCRIBE targets: "?var" or an expanded IRI string
    describe_terms: List[str] = field(default_factory=list)
    #: dataset clause: FROM graphs (merged into the default graph) and
    #: FROM NAMED graphs (the named graphs GRAPH may range over)
    from_graphs: List[str] = field(default_factory=list)
    from_named: List[str] = field(default_factory=list)
    #: sub-SELECTs (SPARQL 1.1 §12): evaluated bottom-up, joined with
    #: the group on shared variables
    subqueries: List["ParsedQuery"] = field(default_factory=list)
    group_by: List[str] = field(default_factory=list)
    having: List[tuple] = field(default_factory=list)
    order_by: List[Tuple[str, bool]] = field(default_factory=list)
    limit: Optional[int] = None
    offset: Optional[int] = None


_AGGS = {"COUNT", "SUM", "MIN", "MAX", "AVG", "GROUP_CONCAT", "SAMPLE"}
_FNS = {"CONTAINS", "STRSTARTS", "REGEX"}
_BIND_FNS = {"STRLEN", "UCASE", "LCASE", "STR"}
_UNSUPPORTED = {"INSERT", "DELETE", "SERVICE", "LOAD", "CLEAR"}


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: Dict[str, str] = {}
        self._fresh = 0   # hidden sequence-path variable counter

    # --- token helpers ---
    def peek(self) -> Optional[str]:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise SparqlSyntaxError("unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, tok: str) -> None:
        t = self.next()
        if t != tok:
            raise SparqlSyntaxError(f"expected {tok!r}, got {t!r}")

    def at_kw(self, *words: str) -> bool:
        t = self.peek()
        return t is not None and t.upper() in words

    def kw(self, word: str) -> None:
        t = self.next()
        if t.upper() != word:
            raise SparqlSyntaxError(f"expected {word}, got {t!r}")

    def _check_supported(self) -> None:
        t = self.peek()
        if t is not None and t.upper() in _UNSUPPORTED:
            hint = (" — SPARQL UPDATE requests go through "
                    "operators.sparql_update.parse_update/apply_update"
                    if t.upper() in ("INSERT", "DELETE") else "")
            raise SparqlSyntaxError(
                f"{t.upper()} is outside the supported SPARQL "
                f"query subset{hint}")

    # --- grammar ---
    def _parse_prefixes(self) -> None:
        """PREFIX declarations into ``self.prefixes`` — shared by the
        query prologue and the update parser (which re-runs it between
        ``;``-chained operations: one accumulating prologue scope per
        request)."""
        while self.at_kw("PREFIX"):
            self.next()
            name = self.next()
            if name.endswith(":"):        # "pfx:" tokenized as pname-ish
                name = name[:-1]
            else:
                self.expect(":")
            iri = self.next()
            if not (iri.startswith("<") and iri.endswith(">")):
                raise SparqlSyntaxError(f"PREFIX IRI must be <...>: {iri!r}")
            self.prefixes[name] = iri[1:-1]

    def parse(self) -> ParsedQuery:
        self._parse_prefixes()
        self._check_supported()
        if self.at_kw("SELECT"):
            q = self._select()
        elif self.at_kw("CONSTRUCT"):
            q = self._construct()
        elif self.at_kw("ASK"):
            q = self._ask()
        elif self.at_kw("DESCRIBE"):
            q = self._describe()
        else:
            raise SparqlSyntaxError(
                "expected SELECT, CONSTRUCT, ASK or DESCRIBE, got "
                f"{self.peek()!r}")
        if self.i < len(self.toks):
            raise SparqlSyntaxError(
                f"trailing tokens after query: {self.toks[self.i:]!r}")
        q.prefixes = self.prefixes
        return q

    def _select(self) -> ParsedQuery:
        self.kw("SELECT")
        q = ParsedQuery(form="select")
        if self.at_kw("DISTINCT"):
            self.next()
            q.distinct = True
        if self.peek() == "*":
            self.next()
            q.select = None
        else:
            items: List[SelectItem] = []
            while True:
                t = self.peek()
                if t is None:
                    raise SparqlSyntaxError("unexpected end in SELECT list")
                if t.startswith("?"):
                    items.append(SelectItem(var=t[1:]))
                    self.next()
                elif t == "(":
                    items.append(self._agg_item())
                else:
                    break
            if not items:
                raise SparqlSyntaxError("empty SELECT list")
            q.select = items
        self._dataset_clause(q)
        self.kw("WHERE")
        self._group(q)
        self._solution_modifiers(q)
        return q

    def _agg_item(self) -> SelectItem:
        self.expect("(")
        fn = self.next().upper()
        if fn not in _AGGS:
            raise SparqlSyntaxError(f"unsupported aggregate {fn!r}")
        self.expect("(")
        it = SelectItem(agg=fn)
        if self.at_kw("DISTINCT"):
            self.next()
            it.agg_distinct = True
        t = self.next()
        if t == "*":
            if fn != "COUNT":
                raise SparqlSyntaxError(f"{fn}(*) is not a thing")
            it.arg = "*"
        elif t.startswith("?"):
            it.arg = t[1:]
        else:
            raise SparqlSyntaxError(f"aggregate arg must be ?var or *: {t!r}")
        if self.peek() == ";":
            if fn != "GROUP_CONCAT":
                raise SparqlSyntaxError(
                    f"only GROUP_CONCAT takes a SEPARATOR, not {fn}")
            self.next()
            self.kw("SEPARATOR")
            self.expect("=")
            s = self.next()
            if not (s.startswith('"') and s.endswith('"')):
                raise SparqlSyntaxError(
                    f"SEPARATOR must be a string literal: {s!r}")
            it.sep = _unescape(s[1:-1])
        self.expect(")")
        self.kw("AS")
        alias = self.next()
        if not alias.startswith("?"):
            raise SparqlSyntaxError(f"AS target must be a ?var: {alias!r}")
        it.alias = alias[1:]
        self.expect(")")
        return it

    def _construct(self) -> ParsedQuery:
        self.kw("CONSTRUCT")
        q = ParsedQuery(form="construct")
        q.template = self._triple_block()
        if not q.template:
            raise SparqlSyntaxError("empty CONSTRUCT template")
        self._dataset_clause(q)
        self.kw("WHERE")
        self._group(q)
        self._solution_modifiers(q)
        if q.limit is not None or q.offset is not None or q.order_by:
            raise SparqlSyntaxError(
                "ORDER/LIMIT/OFFSET on CONSTRUCT are not in the subset "
                "(the result is a set-deduped graph, not a solution list)")
        return q

    def _ask(self) -> ParsedQuery:
        self.kw("ASK")
        q = ParsedQuery(form="ask")
        self._dataset_clause(q)
        self._group(q)
        if self.i < len(self.toks):
            raise SparqlSyntaxError(
                "ASK takes no solution modifiers (the result is one "
                "boolean row)")
        return q

    def _describe(self) -> ParsedQuery:
        self.kw("DESCRIBE")
        q = ParsedQuery(form="describe")
        while True:
            t = self.peek()
            if t is None or t.upper() in ("WHERE", "FROM"):
                break
            if t.startswith("?"):
                q.describe_terms.append(self.next())
            else:
                term = self._term()
                if term.startswith("?"):
                    raise SparqlSyntaxError(
                        f"DESCRIBE target must be a ?var or IRI: {t!r}")
                q.describe_terms.append(term)
        if not q.describe_terms:
            raise SparqlSyntaxError("DESCRIBE needs >= 1 target")
        has_vars = any(t.startswith("?") for t in q.describe_terms)
        self._dataset_clause(q)
        if self.at_kw("WHERE"):
            self.next()
            self._group(q)
        elif has_vars:
            raise SparqlSyntaxError(
                "DESCRIBE with ?var targets needs a WHERE group")
        return q

    def _triple_block(self) -> List[Triple]:
        """'{' triple ('.' triple)* '.'? '}' — patterns only (sequence
        and inverse paths rewrite in place; alternation is rejected
        here because a nested group cannot host a UNION chain)."""
        self.expect("{")
        trips: List[Triple] = []
        while self.peek() != "}":
            expanded, alt, closure = self._triple()
            if alt is not None or closure is not None:
                raise SparqlSyntaxError(
                    "alternation (p1|p2), closure (p+) and negated "
                    "property set (!p) paths are only supported in "
                    "the required group, not inside OPTIONAL/MINUS/"
                    "NOT EXISTS/UNION/CONSTRUCT blocks")
            trips.extend(expanded)
            if self.peek() == ".":
                self.next()
        self.expect("}")
        return trips

    def _group(self, q: ParsedQuery) -> None:
        self.expect("{")
        while self.peek() != "}":
            self._check_supported()
            if self.at_kw("OPTIONAL"):
                self.next()
                q.optional_groups.append(self._triple_block())
            elif self.at_kw("MINUS"):
                self.next()
                q.minus_groups.append(self._triple_block())
            elif self.at_kw("BIND"):
                self.next()
                self.expect("(")
                expr = self._bind_expr()
                self.kw("AS")
                v = self.next()
                if not v.startswith("?"):
                    raise SparqlSyntaxError(
                        f"BIND AS target must be a ?var: {v!r}")
                self.expect(")")
                q.binds.append((v[1:], expr))
            elif self.at_kw("FILTER"):
                self.next()
                if self.at_kw("NOT"):
                    self.next()
                    self.kw("EXISTS")
                    q.not_exists_groups.append(self._triple_block())
                elif self.at_kw("EXISTS"):
                    self.next()
                    q.exists_groups.append(self._triple_block())
                else:
                    self.expect("(")
                    q.filters.append(self._expr())
                    self.expect(")")
            elif (self.peek() == "{"
                    and self.i + 1 < len(self.toks)
                    and self.toks[self.i + 1].upper() == "SELECT"):
                # sub-SELECT (SPARQL 1.1 §12): a full SELECT query
                # evaluated bottom-up and joined on shared variables
                self.expect("{")
                sub = self._select()
                self.expect("}")
                if sub.from_graphs or sub.from_named:
                    raise SparqlSyntaxError(
                        "a subquery takes no FROM clause — it inherits "
                        "the outer query's dataset")
                if sub.order_by and sub.limit is None:
                    raise SparqlSyntaxError(
                        "ORDER BY in a subquery without LIMIT has no "
                        "effect (ordering does not survive the join) — "
                        "add LIMIT or drop the ORDER BY")
                q.subqueries.append(sub)
            elif self.peek() == "{":
                blocks = [self._triple_block()]
                while self.at_kw("UNION"):
                    self.next()
                    blocks.append(self._triple_block())
                if len(blocks) < 2:
                    raise SparqlSyntaxError(
                        "a braced block inside WHERE must be a UNION "
                        "chain of >= 2 branches")
                if any(not b for b in blocks):
                    raise SparqlSyntaxError("empty UNION branch")
                q.union_chains.append(blocks)
            elif self.at_kw("VALUES"):
                self.next()
                q.values_blocks.append(self._values_block())
            elif self.at_kw("GRAPH"):
                # GRAPH <iri>/?var { triples } — the block's patterns
                # become quads carrying the graph term (bgp_query
                # scopes them to that named graph / binds the name);
                # plain patterns keep matching the DEFAULT graph.
                self.next()
                t = self.peek()
                if (t is None or t.startswith('"') or t == "a"
                        or re.fullmatch(r"\d+(?:\.\d+)?", t)):
                    raise SparqlSyntaxError(
                        f"GRAPH names an IRI or ?var, got {t!r}")
                g = self._term()
                block = self._triple_block()
                if not block:
                    raise SparqlSyntaxError("empty GRAPH block")
                q.patterns.extend((s, p, o, g) for (s, p, o) in block)
            else:
                expanded, alt, closure = self._triple()
                q.patterns.extend(expanded)
                if alt is not None:
                    q.union_chains.append(alt)
                if closure is not None:
                    if closure[3] == "nps":
                        q.nps_patterns.append(closure[:3])
                    else:
                        q.closure_patterns.append(closure)
            if self.peek() == ".":
                self.next()
        self.expect("}")
        if (not q.patterns and not q.union_chains
                and not q.closure_patterns and not q.nps_patterns
                and not q.subqueries):
            raise SparqlSyntaxError("WHERE group has no required patterns")

    def _values_block(self) -> Tuple[List[str], List[Tuple[str, ...]]]:
        names: List[str] = []
        if self.peek() == "(":
            self.next()
            while self.peek() != ")":
                v = self.next()
                if not v.startswith("?"):
                    raise SparqlSyntaxError(
                        f"VALUES variable must be a ?var: {v!r}")
                names.append(v[1:])
            self.expect(")")
        else:
            v = self.next()
            if not v.startswith("?"):
                raise SparqlSyntaxError(
                    f"VALUES variable must be a ?var: {v!r}")
            names.append(v[1:])
        if not names:
            raise SparqlSyntaxError("VALUES needs >= 1 variable")
        if len(set(names)) != len(names):
            raise SparqlSyntaxError(f"duplicate VALUES variables: {names}")
        self.expect("{")
        rows: List[Tuple[str, ...]] = []
        while self.peek() != "}":
            if len(names) > 1 or self.peek() == "(":
                self.expect("(")
                row = tuple(self._values_term() for _ in names)
                self.expect(")")
            else:
                row = (self._values_term(),)
            rows.append(row)
        self.expect("}")
        if not rows:
            raise SparqlSyntaxError("VALUES needs >= 1 row")
        return names, rows

    def _values_term(self) -> str:
        t = self.peek()
        if t is not None and t.startswith("?"):
            raise SparqlSyntaxError(
                f"VALUES rows must be literals, got {t!r}")
        if t is not None and t.upper() == "UNDEF":
            raise SparqlSyntaxError("UNDEF is outside the subset")
        return self._term()

    def _dataset_clause(self, q: ParsedQuery) -> None:
        """``(FROM (NAMED)? iri)*`` — the SPARQL dataset clause.  The
        graphs are IRIs (never variables/literals); semantics live in
        :func:`_apply_dataset`."""
        while self.at_kw("FROM"):
            self.next()
            named = False
            if self.at_kw("NAMED"):
                self.next()
                named = True
            t = self.peek()
            if (t is None or t.startswith('"') or t.startswith("?")
                    or t == "a" or re.fullmatch(r"\d+(?:\.\d+)?", t)):
                raise SparqlSyntaxError(f"FROM names an IRI, got {t!r}")
            iri = self._term()
            (q.from_named if named else q.from_graphs).append(iri)

    def _triple(self) -> Tuple[List[Triple], Optional[List[List[Triple]]],
                               Optional[Tuple[str, str, str, str]]]:
        """One ``term path term`` pattern, property paths rewritten at
        parse time: returns ``(triples, alt, closure)`` where
        ``triples`` is the (possibly sequence-expanded /
        inverse-swapped) pattern list, ``alt`` is a UNION chain when
        the path is an alternation, and ``closure`` is a
        ``(s, p, o, mode)`` closure pattern when the path carries a
        ``+``/``*``/``?`` modifier (inverse pre-swapped; exactly one
        of the three carries the pattern)."""
        s = self._term()
        kind, elts = self._path()
        o = self._term()
        if kind == "nps":
            if not (s.startswith("?") or o.startswith("?")):
                raise SparqlSyntaxError(
                    "a negated-property-set pattern needs at least "
                    f"one variable endpoint: {s!r} !(...) {o!r}")
            return [], None, (s, tuple(p for _, p in elts), o, "nps")
        if kind in ("plus", "star", "opt"):
            inv, p = elts[0]
            cs, co = (o, s) if inv else (s, o)
            if not (cs.startswith("?") or co.startswith("?")):
                raise SparqlSyntaxError(
                    "path-modifier patterns (p+/p*/p?) need at least "
                    f"one variable endpoint: {cs!r} {p} {co!r}")
            return [], None, (cs, p, co, kind)
        if kind in ("gplus", "gstar", "gopt"):
            # grouped composite closure: endpoints stay as written —
            # member inverses live inside the step relation, so there
            # is no whole-pattern pre-swap
            if not (s.startswith("?") or o.startswith("?")):
                raise SparqlSyntaxError(
                    "path-modifier patterns need at least one "
                    f"variable endpoint: {s!r} (...) {o!r}")
            return [], None, (s, elts, o, kind[1:])
        if kind == "alt":
            branches = [[(o, p, s) if inv else (s, p, o)]
                        for inv, p in elts]
            return [], branches, None
        cur, out = s, []
        for n, (inv, p) in enumerate(elts):
            last = n == len(elts) - 1
            if last:
                nxt = o
            else:
                nxt = f"?__pv{self._fresh}"
                self._fresh += 1
            out.append((nxt, p, cur) if inv else (cur, p, nxt))
            cur = nxt
        return out, None, None

    _MODS = {"+": "plus", "*": "star", "?": "opt"}

    def _path(self) -> Tuple[str, List[Tuple[bool, str]]]:
        """Predicate-position path: ``("seq", [(inverse, iri), ...])``
        (length 1 == a plain predicate), ``("alt", ...)``, or
        ``("plus"|"star"|"opt", [(inverse, iri)])`` for
        single-predicate ``p+`` / ``p*`` / ``p?``.  A bare ``?var``
        predicate stays a variable (no path operators around it);
        modifiers on composite paths are rejected loudly.
        ``("nps", ...)`` is a negated property set ``!p`` /
        ``!(p1|p2|...)`` — forward IRI elements only (inverse elements
        inside the set are outside the subset)."""
        if self.peek() == "!":
            self.next()
            elts = []
            if self.peek() == "(":
                self.next()
                elts.append(self._nps_elt())
                while self.peek() == "|":
                    self.next()
                    elts.append(self._nps_elt())
                self.expect(")")
            else:
                elts.append(self._nps_elt())
            if self.peek() in ("+", "*", "?", "/", "|"):
                raise SparqlSyntaxError(
                    "a negated property set composes with no other "
                    "path operator in the subset")
            self._no_path_var(elts)
            return "nps", elts
        if self.peek() == "(":
            return self._path_group()
        first = self._path_elt()
        if self.peek() in self._MODS:
            mode = self._MODS[self.next()]
            if self.peek() in ("/", "|", "+", "*", "?"):
                raise SparqlSyntaxError(
                    "a path modifier (+/*/?) composes with no other "
                    "path operator in the subset")
            self._no_path_var([first])
            return mode, [first]
        if self.peek() == "/":
            elts = [first]
            while self.peek() == "/":
                self.next()
                elts.append(self._path_elt())
                if self.peek() in ("+", "*", "?"):
                    raise SparqlSyntaxError(
                        "modifiers on sequence-path elements are "
                        "outside the subset — bind the modified step "
                        "through an intermediate variable")
            if self.peek() == "|":
                raise SparqlSyntaxError(
                    "mixing / and | in one path is outside the subset "
                    "— parenthesize as separate patterns")
            self._no_path_var(elts)
            return "seq", elts
        if self.peek() == "|":
            elts = [first]
            while self.peek() == "|":
                self.next()
                elts.append(self._path_elt())
            if self.peek() in ("+", "*", "?"):
                raise SparqlSyntaxError(
                    "a path modifier (+/*/?) applies to a single "
                    "predicate only, not an alternation path")
            self._no_path_var(elts)
            return "alt", elts
        if first[0]:
            self._no_path_var([first])
        return "seq", [first]

    def _path_group(self):
        """``'(' pelt (('/'|'|') pelt)* ')' ('+'|'*'|'?')?`` — a
        grouped composite path.  With a trailing modifier the group
        becomes a closure pattern over its COMPOSED step relation:
        returns ``("gplus"|"gstar"|"gopt", ("seq"|"alt", elts))``
        (single-member groups collapse to the single-predicate
        ``("plus"|..., [elt])`` form).  A bare group is exactly its
        inner path.  Mixing ``/`` and ``|`` inside one group,
        modifiers on group MEMBERS, and composing a group with any
        further path operator stay outside the subset — rejected
        loudly, never misplanned."""
        self.expect("(")
        elts = [self._path_elt()]
        op = None
        while self.peek() in ("/", "|"):
            if op is None:
                op = self.peek()
            elif self.peek() != op:
                raise SparqlSyntaxError(
                    "mixing / and | inside one path group is outside "
                    "the subset — nest as separate patterns")
            self.next()
            elts.append(self._path_elt())
            if self.peek() in ("+", "*", "?"):
                raise SparqlSyntaxError(
                    "modifiers on path-group members are outside the "
                    "subset — the modifier goes after the closing ')'")
        if self.peek() in ("+", "*", "?") and len(elts) == 1:
            raise SparqlSyntaxError(
                "modifiers on path-group members are outside the "
                "subset — the modifier goes after the closing ')'")
        self.expect(")")
        self._no_path_var(elts)
        ikind = "alt" if op == "|" else "seq"
        if self.peek() in self._MODS:
            mode = self._MODS[self.next()]
            if self.peek() in ("/", "|", "+", "*", "?"):
                raise SparqlSyntaxError(
                    "a modified path group composes with no other "
                    "path operator in the subset")
            if len(elts) == 1:
                return mode, elts          # (p)+ == p+ / (^p)* == ^p*
            return "g" + mode, (ikind, tuple(elts))
        if self.peek() in ("/", "|"):
            raise SparqlSyntaxError(
                "a bare path group composes with no other path "
                "operator in the subset")
        return ikind, elts                 # bare group == its inner path

    def _path_elt(self) -> Tuple[bool, str]:
        inv = False
        if self.peek() == "^":
            self.next()
            inv = True
        return inv, self._term()

    def _nps_elt(self) -> Tuple[bool, str]:
        if self.peek() == "^":
            raise SparqlSyntaxError(
                "inverse elements inside a negated property set "
                "(!^p) are outside the subset — negate the forward "
                "set and bind the inverse through a separate pattern")
        return False, self._term()

    @staticmethod
    def _no_path_var(elts: List[Tuple[bool, str]]) -> None:
        bad = [p for _, p in elts if p.startswith("?")]
        if bad:
            raise SparqlSyntaxError(
                f"path elements must be IRIs, not variables: {bad}")

    # --- BIND expressions ---
    def _bind_expr(self) -> tuple:
        """bexpr := operand | CONCAT '(' operand, ... ')'
        | (STRLEN|UCASE|LCASE|STR) '(' ?var ')' — AST nodes
        ("concat", [operands]) / ("bfn", name, var) / operand."""
        t = self.peek()
        if t is not None and t.upper() == "CONCAT":
            self.next()
            self.expect("(")
            parts = [self._bind_expr()]     # args recurse: CONCAT(UCASE(?x), "!")
            while self.peek() == ",":
                self.next()
                parts.append(self._bind_expr())
            self.expect(")")
            if len(parts) < 2:
                raise SparqlSyntaxError("CONCAT needs >= 2 arguments")
            return ("concat", parts)
        if t is not None and t.upper() in _BIND_FNS:
            fn = self.next().upper()
            self.expect("(")
            v = self.next()
            if not v.startswith("?"):
                raise SparqlSyntaxError(f"{fn} arg must be a ?var: {v!r}")
            self.expect(")")
            return ("bfn", fn, v[1:])
        return self._operand()

    def _term(self) -> str:
        t = self.next()
        if t.startswith("?"):
            return t
        if t == "a":
            return RDF_TYPE
        if t.startswith("<") and t.endswith(">"):
            return t[1:-1]
        if t.startswith('"') and t.endswith('"'):
            return _unescape(t[1:-1])
        if re.fullmatch(r"\d+(?:\.\d+)?", t):
            return t
        m = re.fullmatch(r"([A-Za-z_][\w-]*):(.*)", t)
        if m:
            pfx, local = m.groups()
            if pfx not in self.prefixes:
                raise SparqlSyntaxError(f"unknown prefix {pfx!r} in {t!r}")
            return self.prefixes[pfx] + local
        raise SparqlSyntaxError(f"cannot read term {t!r}")

    # --- FILTER expressions ---
    def _expr(self) -> tuple:
        parts = [self._conj()]
        while self.peek() == "||":
            self.next()
            parts.append(self._conj())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def _conj(self) -> tuple:
        parts = [self._prim()]
        while self.peek() == "&&":
            self.next()
            parts.append(self._prim())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def _prim(self) -> tuple:
        t = self.peek()
        if t == "(":
            self.next()
            e = self._expr()
            self.expect(")")
            return e
        if t is not None and t.upper() in _FNS:
            fn = self.next().upper()
            self.expect("(")
            v = self.next()
            if not v.startswith("?"):
                raise SparqlSyntaxError(f"{fn} arg 1 must be a ?var: {v!r}")
            self.expect(",")
            s = self.next()
            if not (s.startswith('"') and s.endswith('"')):
                raise SparqlSyntaxError(f"{fn} arg 2 must be a string: {s!r}")
            self.expect(")")
            return ("fn", fn, v[1:], _unescape(s[1:-1]))
        lhs = self._operand()
        op = self.next()
        if op not in ("=", "!=", "<", "<=", ">", ">="):
            raise SparqlSyntaxError(f"unsupported comparison {op!r}")
        return ("cmp", op, lhs, self._operand())

    def _operand(self) -> tuple:
        t = self.next()
        if t.startswith("?"):
            return ("var", t[1:])
        if t.startswith('"') and t.endswith('"'):
            return ("lit", _unescape(t[1:-1]))
        if re.fullmatch(r"\d+(?:\.\d+)?", t):
            return ("lit", t)
        raise SparqlSyntaxError(f"operand must be ?var or literal: {t!r}")

    def _solution_modifiers(self, q: ParsedQuery) -> None:
        while self.peek() is not None:
            self._check_supported()
            if self.at_kw("GROUP"):
                self.next()
                self.kw("BY")
                while self.peek() is not None and self.peek().startswith("?"):
                    q.group_by.append(self.next()[1:])
                if not q.group_by:
                    raise SparqlSyntaxError("GROUP BY needs >= 1 variable")
            elif self.at_kw("HAVING"):
                self.next()
                self.expect("(")
                q.having.append(self._expr())
                self.expect(")")
            elif self.at_kw("ORDER"):
                self.next()
                self.kw("BY")
                got = False
                while True:
                    t = self.peek()
                    if t is None:
                        break
                    if t.upper() in ("ASC", "DESC"):
                        asc = self.next().upper() == "ASC"
                        self.expect("(")
                        v = self.next()
                        self.expect(")")
                    elif t.startswith("?"):
                        asc, v = True, self.next()
                    else:
                        break
                    if not v.startswith("?"):
                        raise SparqlSyntaxError(
                            f"ORDER BY needs a ?var, got {v!r}")
                    q.order_by.append((v[1:], asc))
                    got = True
                if not got:
                    raise SparqlSyntaxError("empty ORDER BY")
            elif self.at_kw("LIMIT"):
                self.next()
                q.limit = self._int()
            elif self.at_kw("OFFSET"):
                self.next()
                q.offset = self._int()
            else:
                break

    def _int(self) -> int:
        t = self.next()
        if not re.fullmatch(r"\d+", t):
            raise SparqlSyntaxError(f"expected an integer, got {t!r}")
        return int(t)


def parse_sparql(text: str) -> ParsedQuery:
    """Parse the SPARQL subset into a :class:`ParsedQuery` AST."""
    return _Parser(text).parse()


# --------------------------------------------------------------------------
# compiler
# --------------------------------------------------------------------------

def _filter_vars(node: tuple) -> set:
    kind = node[0]
    if kind in ("and", "or"):
        return set().union(*(_filter_vars(n) for n in node[1]))
    if kind == "fn":
        return {node[2]}
    out = set()
    for opnd in (node[2], node[3]):
        if opnd[0] == "var":
            out.add(opnd[1])
    return out


def _operand_col(opnd: tuple) -> Column:
    return F.col(opnd[1]) if opnd[0] == "var" else F.lit(opnd[1])


def _filter_col(node: tuple) -> Column:
    kind = node[0]
    if kind == "and":
        return reduce(lambda a, b: a & b, (_filter_col(n) for n in node[1]))
    if kind == "or":
        return reduce(lambda a, b: a | b, (_filter_col(n) for n in node[1]))
    if kind == "fn":
        _, fn, var, lit = node
        if fn == "CONTAINS":
            return F.col(var).contains(F.lit(lit))
        if fn == "STRSTARTS":
            return F.col(var).startswith(lit)
        return F.col(var).rlike(lit)            # REGEX
    _, op, lhs, rhs = node
    left, right = _operand_col(lhs), _operand_col(rhs)
    return {
        "=": left == right, "!=": left != right,
        "<": left < right, "<=": left <= right,
        ">": left > right, ">=": left >= right,
    }[op]


def _bind_vars(node: tuple) -> set:
    if node[0] == "concat":
        return set().union(*(_bind_vars(n) for n in node[1]))
    if node[0] == "bfn":
        return {node[2]}
    return {node[1]} if node[0] == "var" else set()


def _bind_col(node: tuple) -> Column:
    """BIND expression -> Column.  STR is the identity on our
    string-typed terms (kept so standard queries parse); STRLEN yields
    an int column — the SQL twin casts length() to match."""
    if node[0] == "concat":
        return F.concat(*[_bind_col(o) for o in node[1]])
    if node[0] == "bfn":
        _, fn, var = node
        col = F.col(var)
        return {"STRLEN": F.length(col).cast("int"),
                "UCASE": F.upper(col), "LCASE": F.lower(col),
                "STR": col}[fn]
    return _operand_col(node)


def _agg_col(it: SelectItem) -> Column:
    if it.agg == "COUNT":
        if it.arg == "*":
            c = F.count(F.lit(1))
        elif it.agg_distinct:
            c = F.countDistinct(F.col(it.arg))
        else:
            c = F.count(F.col(it.arg))
    else:
        src = F.col(it.arg)
        if it.agg in ("SUM", "AVG"):
            src = src.cast("double")   # string-typed obj column; SQL twin
        if it.agg == "GROUP_CONCAT":
            vals = (F.collect_set(src) if it.agg_distinct
                    else F.collect_list(src))
            # ALWAYS sorted (see module docstring): deterministic and
            # replayable by the twin's ordered string_agg
            return F.array_join(F.sort_array(vals),
                                it.sep).alias(it.alias)
        if it.agg == "SAMPLE":
            if it.agg_distinct:
                raise SparqlSyntaxError(
                    "SAMPLE(DISTINCT ...) is redundant — drop DISTINCT")
            return F.min(src).alias(it.alias)   # the pinned sample
        if it.agg_distinct:
            raise SparqlSyntaxError(
                f"{it.agg}(DISTINCT ...) is outside the subset")
        c = {"SUM": F.sum, "MIN": F.min, "MAX": F.max,
             "AVG": F.avg}[it.agg](src)
    return c.alias(it.alias)


def _apply_dataset(triples: DataFrame, q: ParsedQuery) -> DataFrame:
    """Construct the query dataset from a FROM / FROM NAMED clause
    (SPARQL 1.1 §13.2): the default graph becomes the RDF MERGE (set
    union — duplicates across source graphs collapse) of the FROM
    graphs, and the named graphs are exactly the FROM NAMED ones; the
    store's own default graph (NULL rows) is not addressable and drops.
    A missing side is EMPTY: FROM-only datasets match no GRAPH pattern,
    FROM-NAMED-only datasets match no plain pattern.  Extra columns are
    projected away (patterns only read subj/pred/obj/graph).  Without a
    dataset clause the input frame IS the dataset, unchanged."""
    if not (q.from_graphs or q.from_named):
        return triples
    if "graph" not in triples.columns:
        raise ValueError(
            "FROM / FROM NAMED need a quads frame (a 'graph' column); "
            "a plain triple table has no addressable graphs")
    base = triples.select("subj", "pred", "obj", "graph")
    parts = []
    if q.from_graphs:
        parts.append(
            base.where(F.col("graph").isin(q.from_graphs))
            .dropDuplicates(["subj", "pred", "obj"])
            .withColumn("graph", F.lit(None).cast("string")))
    if q.from_named:
        parts.append(base.where(F.col("graph").isin(q.from_named)))
    return reduce(DataFrame.unionAll, parts)


def _default_graph(triples: DataFrame) -> DataFrame:
    """The dataset's DEFAULT graph: on a quads frame (``graph``
    column), the NULL-graph rows; a plain triple table is itself the
    default graph."""
    if "graph" in triples.columns:
        return triples.where(F.col("graph").isNull())
    return triples


def _graph_terms(dg: DataFrame) -> DataFrame:
    """All RDF terms of the (default) graph as one column ``t`` —
    the domain SPARQL's ZeroLengthPath ranges over (subjects ∪
    objects).  One distinct over the graph; only the ``p*``/``p?``
    zero-length forms pay it."""
    return (dg.select(F.col("subj").alias("t"))
            .unionAll(dg.select(F.col("obj").alias("t")))
            .distinct())


def _bindings(triples: DataFrame, q: ParsedQuery,
              stats: Optional[dict],
              closure_hops: int = 8,
              charsets: Optional[dict] = None) -> DataFrame:
    """The shared WHERE evaluation: bgp_query over ALL bound variables,
    ``p+`` closure frames, UNION chains and VALUES relations joined in,
    then MINUS anti-joins, BIND columns, and FILTER expressions (they
    may reference variables the SELECT list drops, so they apply
    before projection)."""
    from claimskg_generator_spark.operators.bgp import bgp_query

    if (not q.union_chains and not q.values_blocks
            and not q.closure_patterns and not q.nps_patterns
            and not q.subqueries):
        # plain-BGP fast path: identical plan to the programmatic call
        df = bgp_query(
            triples, q.patterns,
            optional=q.optional_groups or None,
            not_exists=q.not_exists_groups or None,
            exists=q.exists_groups or None,
            stats=stats, charsets=charsets,
        )
    else:
        # required patterns, then each UNION chain (branches must bind
        # identical variable sets -> plain bag union), then each VALUES
        # literal relation (broadcast) — all inner-joined on shared
        # variables; OPTIONAL / NOT EXISTS groups join last, mirroring
        # bgp_query's own group handling
        frames: List[Tuple[DataFrame, bool]] = []
        if q.patterns:
            frames.append((bgp_query(triples, q.patterns, stats=stats,
                                     charsets=charsets), False))
        for sub in q.subqueries:
            # bottom-up: the sub-SELECT's full solution frame (its own
            # bindings + aggregation + top-k), joined on shared vars;
            # it inherits the outer dataset (triples arrives here with
            # any FROM clause already applied)
            frames.append((_select_frame(triples, sub, stats,
                                         closure_hops, charsets),
                           False))
        for (cs, cp, co, mode) in q.closure_patterns:
            dg = _default_graph(triples)
            step = _path_step_edges(dg, cp)
            if mode == "opt":      # p? / (group)? — one traversal
                pairs = step
            else:                  # + / * — semi-naive closure
                pairs = path_closure(
                    step, max_hops=closure_hops).select("src", "dst")
            # zero-length contribution (SPARQL 1.1 §18.4
            # ZeroLengthPath) for p* / p?: every graph term reaches
            # itself; a constant endpoint matches itself uncondition-
            # ally.  The term-domain distinct is the one unavoidable
            # graph shuffle of the zero-length form — p+ stays
            # sliver-only.
            zero = mode in ("star", "opt")
            if cs.startswith("?") and co.startswith("?"):
                if cs == co:
                    if zero:       # ?a p*/p? ?a — every term, 0 hops
                        cdf = _graph_terms(dg).select(
                            F.col("t").alias(cs[1:]))
                    else:          # ?a p+ ?a — nodes on a cycle
                        cdf = (pairs
                               .where(F.col("src") == F.col("dst"))
                               .select(F.col("src").alias(cs[1:]))
                               .distinct())
                else:
                    cdf = pairs.select(F.col("src").alias(cs[1:]),
                                       F.col("dst").alias(co[1:]))
                    if zero:
                        t = _graph_terms(dg)
                        cdf = cdf.unionAll(
                            t.select(F.col("t").alias(cs[1:]),
                                     F.col("t").alias(co[1:]))
                        ).distinct()
            elif cs.startswith("?"):   # literal object endpoint
                cdf = (pairs.where(F.col("dst") == co)
                       .select(F.col("src").alias(cs[1:])).distinct())
                if zero:
                    lit = triples.sparkSession.createDataFrame(
                        [(co,)], f"{cs[1:]} string")
                    cdf = cdf.unionAll(lit).distinct()
            else:                      # literal subject endpoint
                cdf = (pairs.where(F.col("src") == cs)
                       .select(F.col("dst").alias(co[1:])).distinct())
                if zero:
                    lit = triples.sparkSession.createDataFrame(
                        [(cs,)], f"{co[1:]} string")
                    cdf = cdf.unionAll(lit).distinct()
            frames.append((cdf, False))
        for (ns, preds, no) in q.nps_patterns:
            # negated property set (§9.1): one filtered scan of the
            # DEFAULT graph — predicate NOT IN the set pushes down;
            # one solution per matching TRIPLE (bag, no distinct)
            m = (_default_graph(triples)
                 .where(~F.col("pred").isin(list(preds))))
            if ns.startswith("?") and no.startswith("?"):
                if ns == no:
                    ndf = (m.where(F.col("subj") == F.col("obj"))
                           .select(F.col("subj").alias(ns[1:])))
                else:
                    ndf = m.select(F.col("subj").alias(ns[1:]),
                                   F.col("obj").alias(no[1:]))
            elif ns.startswith("?"):
                ndf = (m.where(F.col("obj") == no)
                       .select(F.col("subj").alias(ns[1:])))
            else:
                ndf = (m.where(F.col("subj") == ns)
                       .select(F.col("obj").alias(no[1:])))
            frames.append((ndf, False))
        for chain in q.union_chains:
            branches = [bgp_query(triples, br, stats=stats,
                                  charsets=charsets) for br in chain]
            cols = set(branches[0].columns)
            for b in branches[1:]:
                if set(b.columns) != cols:
                    raise SparqlSyntaxError(
                        "UNION branches must bind identical variable "
                        f"sets in the subset: {sorted(cols)} vs "
                        f"{sorted(b.columns)}")
            order = sorted(cols)
            frames.append((reduce(DataFrame.unionAll,
                                  [b.select(*order) for b in branches]),
                           False))
        for names, rows in q.values_blocks:
            vdf = triples.sparkSession.createDataFrame(
                rows, ", ".join(f"{n} string" for n in names))
            frames.append((vdf, True))
        df = frames[0][0]
        bound = set(df.columns)
        for f, is_values in frames[1:]:
            keys = sorted(set(f.columns) & bound)
            if not keys:
                raise SparqlSyntaxError(
                    "a UNION/VALUES/closure block shares no variable "
                    "with the preceding patterns — this would be a "
                    "cartesian product; split the query instead")
            df = df.join(F.broadcast(f) if is_values else f, keys)
            bound |= set(f.columns)
        for group in q.optional_groups:
            gdf = bgp_query(triples, group, stats=stats,
                        charsets=charsets)
            keys = sorted(set(gdf.columns) & bound)
            if not keys:
                raise SparqlSyntaxError(
                    f"optional group {group!r} shares no variable with "
                    "the required patterns")
            df = df.join(gdf, keys, "left")
            bound |= set(gdf.columns)
        for group in q.exists_groups:
            gdf = bgp_query(triples, group, stats=stats,
                        charsets=charsets)
            keys = sorted(set(gdf.columns) & bound)
            if not keys:
                raise SparqlSyntaxError(
                    f"exists group {group!r} shares no variable "
                    "with the required patterns")
            df = df.join(gdf.select(*keys), keys, "left_semi")
        for group in q.not_exists_groups:
            gdf = bgp_query(triples, group, stats=stats,
                        charsets=charsets)
            keys = sorted(set(gdf.columns) & bound)
            if not keys:
                raise SparqlSyntaxError(
                    f"not_exists group {group!r} shares no variable "
                    "with the required patterns")
            df = df.join(gdf.select(*keys), keys, "left_anti")
    bound = set(df.columns)
    for group in q.minus_groups:
        gdf = bgp_query(triples, group, stats=stats,
                        charsets=charsets)
        keys = sorted(set(gdf.columns) & bound)
        if not keys:
            # SPARQL disjoint-domain rule: MINUS with no shared
            # variable removes nothing (unlike NOT EXISTS, which would
            # empty the result when the group matches anything)
            continue
        df = df.join(gdf.select(*keys), keys, "left_anti")
    for var, expr in q.binds:
        if var in bound:
            raise SparqlSyntaxError(
                f"BIND target ?{var} is already bound")
        missing = _bind_vars(expr) - bound
        if missing:
            raise SparqlSyntaxError(
                f"BIND references unbound variables: {sorted(missing)}")
        df = df.withColumn(var, _bind_col(expr))
        bound.add(var)
    for flt in q.filters:
        missing = _filter_vars(flt) - bound
        if missing:
            raise SparqlSyntaxError(
                f"FILTER references unbound variables: {sorted(missing)}")
        df = df.filter(_filter_col(flt))
    return df


def sparql_select(triples: DataFrame, query: str,
                  stats: Optional[dict] = None,
                  closure_hops: int = 8,
                  charsets: Optional[dict] = None) -> DataFrame:
    """Run a SPARQL SELECT subset query against a ``(subj, pred, obj)``
    triple table.  Column names are the selected variable names (alias
    names for aggregates).  ``stats`` is the
    :func:`~claimskg_generator_spark.operators.bgp.predicate_profile`
    dict for estimated-cost join ordering, exactly as in ``bgp_query``.
    """
    q = query if isinstance(query, ParsedQuery) else parse_sparql(query)
    if q.form != "select":
        raise ValueError("not a SELECT query; use sparql_construct")
    triples = _apply_dataset(triples, q)
    return _select_frame(triples, q, stats, closure_hops, charsets)


def _select_frame(triples: DataFrame, q: ParsedQuery,
                  stats: Optional[dict],
                  closure_hops: int = 8,
                  charsets: Optional[dict] = None) -> DataFrame:
    """SELECT evaluation over an already-constructed dataset — the
    shared body of :func:`sparql_select` and sub-SELECT frames inside
    :func:`_bindings` (SPARQL 1.1 §12: a subquery is a full SELECT
    evaluated bottom-up, projected, then joined on shared variables —
    so aggregate / ORDER-BY-LIMIT top-k subqueries compose)."""
    df = _bindings(triples, q, stats, closure_hops, charsets)
    bound = set(df.columns)

    has_agg = q.select is not None and any(it.agg for it in q.select)
    if has_agg or q.group_by:
        if q.select is None:
            raise SparqlSyntaxError("SELECT * cannot combine with GROUP BY")
        plain = [it.var for it in q.select if it.var is not None]
        aggs = [it for it in q.select if it.agg is not None]
        bad = [v for v in plain if v not in q.group_by]
        if bad:
            raise SparqlSyntaxError(
                f"non-aggregate SELECT vars must be grouped: {bad}")
        missing = [v for v in set(q.group_by) | {a.arg for a in aggs
                                                 if a.arg != "*"}
                   if v not in bound]
        if missing:
            raise SparqlSyntaxError(f"unbound variables: {sorted(missing)}")
        if not aggs:
            raise SparqlSyntaxError("GROUP BY without any aggregate")
        df = df.groupBy(*q.group_by).agg(*[_agg_col(a) for a in aggs])
        out_cols = set(q.group_by) | {a.alias for a in aggs}
        for h in q.having:
            bad = _filter_vars(h) - out_cols
            if bad:
                raise SparqlSyntaxError(
                    "HAVING may only reference group keys or aggregate "
                    f"aliases: {sorted(bad)}")
            df = df.filter(_filter_col(h))
        df = df.select(*[it.var if it.var is not None else it.alias
                         for it in q.select])
    else:
        if q.having:
            raise SparqlSyntaxError("HAVING without GROUP BY")
        # SELECT * projects the user-visible bindings — never the
        # hidden ?__pv sequence-path variables
        sel = (sorted(v for v in bound if not v.startswith("__pv"))
               if q.select is None else [it.var for it in q.select])
        missing = [v for v in sel if v not in bound]
        if missing:
            raise SparqlSyntaxError(f"unbound variables: {missing}")
        df = df.select(*sel)
    if q.distinct:
        df = df.distinct()
    if q.order_by:
        cols = set(df.columns)
        bad = [v for v, _ in q.order_by if v not in cols]
        if bad:
            raise SparqlSyntaxError(f"ORDER BY on unselected vars: {bad}")
        df = df.orderBy(*[F.col(v).asc() if asc else F.col(v).desc()
                          for v, asc in q.order_by])
    if q.offset is not None:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def sparql_construct(triples: DataFrame, query: str,
                     stats: Optional[dict] = None,
                     closure_hops: int = 8,
                     charsets: Optional[dict] = None) -> DataFrame:
    """Run a SPARQL CONSTRUCT subset query: evaluate the WHERE bindings
    once, project each template pattern as one narrow select over that
    frame, union, and set-dedup (an RDF graph is a set of triples).
    Output columns: ``subj, pred, obj``."""
    q = query if isinstance(query, ParsedQuery) else parse_sparql(query)
    if q.form != "construct":
        raise ValueError("not a CONSTRUCT query; use sparql_select")
    triples = _apply_dataset(triples, q)
    df = _bindings(triples, q, stats, closure_hops, charsets)
    bound = set(df.columns)

    def term_col(term: str, pos: str) -> Column:
        if term.startswith("?"):
            v = term[1:]
            if v not in bound:
                raise SparqlSyntaxError(
                    f"template variable ?{v} is not bound in WHERE")
            return F.col(v).alias(pos)
        return F.lit(term).alias(pos)

    parts = [
        df.select(term_col(s, "subj"), term_col(p, "pred"),
                  term_col(o, "obj"))
        for (s, p, o) in q.template
    ]
    return reduce(DataFrame.unionAll, parts).distinct()


def sparql_ask(triples: DataFrame, query: str,
               stats: Optional[dict] = None,
               closure_hops: int = 8,
               charsets: Optional[dict] = None) -> DataFrame:
    """Run a SPARQL ASK subset query: does the WHERE group match at
    all?  Returns a ONE-ROW frame ``(ask boolean)`` — kept lazy (no
    driver collect) so it composes like every other query face.  The
    plan is the binding join chain capped by ``limit(1)``: Spark stops
    the scan at the first produced row (LocalLimit early-out), so a
    100 TB graph answers a satisfiable ASK after touching one match."""
    q = query if isinstance(query, ParsedQuery) else parse_sparql(query)
    if q.form != "ask":
        raise ValueError(f"not an ASK query (form={q.form!r})")
    triples = _apply_dataset(triples, q)
    probe = _bindings(triples, q, stats, closure_hops, charsets).limit(1)
    return probe.agg((F.count(F.lit(1)) > 0).alias("ask"))


def sparql_describe(triples: DataFrame, query: str,
                    stats: Optional[dict] = None,
                    closure_hops: int = 8,
                    charsets: Optional[dict] = None) -> DataFrame:
    """Run a SPARQL DESCRIBE subset query: the subject-based
    description (every triple whose subject is a described node — the
    bnode-free concise-bounded-description, exact for this engine's
    KGs, which mint URIs instead of blank nodes) of each target.
    ``?var`` targets draw their nodes from the WHERE bindings; IRI
    targets contribute themselves.  The node set is distinct-projected
    per variable (slim single-column frames), unioned, and semi-joined
    against the triple table on ``subj`` — one narrow join keyed on
    the scan's natural subject clustering, never a full materialization
    of bindings x triples.  Output: set-deduped ``(subj, pred, obj)``."""
    q = query if isinstance(query, ParsedQuery) else parse_sparql(query)
    if q.form != "describe":
        raise ValueError(f"not a DESCRIBE query (form={q.form!r})")
    triples = _apply_dataset(triples, q)
    spark = triples.sparkSession
    var_targets = [t[1:] for t in q.describe_terms if t.startswith("?")]
    iri_targets = [t for t in q.describe_terms if not t.startswith("?")]
    frames: List[DataFrame] = []
    if var_targets:
        df = _bindings(triples, q, stats, closure_hops, charsets)
        bound = set(df.columns)
        missing = [v for v in var_targets if v not in bound]
        if missing:
            raise SparqlSyntaxError(
                f"DESCRIBE variables unbound in WHERE: {missing}")
        frames += [df.select(F.col(v).alias("node")).distinct()
                   for v in var_targets]
    if iri_targets:
        frames.append(spark.createDataFrame(
            [(t,) for t in iri_targets], "node string"))
    nodes = reduce(DataFrame.unionAll, frames).distinct()
    dg = _default_graph(triples)
    return (
        dg.join(nodes, dg["subj"] == nodes["node"], "left_semi")
        .select("subj", "pred", "obj")
        .distinct()
    )


# --------------------------------------------------------------------------
# property-path closure (pred+)
# --------------------------------------------------------------------------

def edges_from_triples(triples: DataFrame, pred: str) -> DataFrame:
    """One predicate's edge sliver as a distinct ``(src, dst)`` frame —
    the input shape :func:`path_closure` walks.  The literal filter sits
    on the scan (predicate pushdown / pred-clustered file pruning)."""
    return (
        triples.filter(F.col("pred") == pred)
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )


def _path_step_edges(triples: DataFrame, path) -> DataFrame:
    """ONE traversal of a closure pattern's path as a distinct
    ``(src, dst)`` edge frame — the input :func:`path_closure` walks.

    ``path`` is a predicate IRI (``str`` — the single-predicate
    sliver, via :func:`edges_from_triples`) or a grouped composite
    ``("alt" | "seq", ((inverse, iri), ...))`` from the parser's
    ``(p1|p2)+`` / ``(p1/p2)+`` forms.  Alternation unions the member
    slivers (each a pushdown-filtered scan of one predicate; inverse
    members read swapped — ``(p|^p)+`` is the idiomatic undirected
    closure); sequence composes members left-to-right through
    equi-joins on the chain endpoint, projecting intermediate nodes
    away per step so the frame stays two columns throughout.  Each
    join's sides are single-predicate slivers, so Catalyst/AQE
    broadcasts the small one; the final distinct makes the step a SET
    relation (closure semantics are path-existence, not path-count —
    and it is what keeps the iteration's frontier bounded by pairs,
    not by path multiplicity)."""
    if isinstance(path, str):
        return edges_from_triples(triples, path)
    kind, elts = path

    def sliver(inv: bool, p: str) -> DataFrame:
        e = triples.filter(F.col("pred") == p)
        s, o = ("obj", "subj") if inv else ("subj", "obj")
        return e.select(F.col(s).alias("src"), F.col(o).alias("dst"))

    frames = [sliver(i, p) for i, p in elts]
    if kind == "alt":
        return reduce(DataFrame.unionAll, frames).distinct()
    cur = frames[0]
    for n, nxt in enumerate(frames[1:]):
        hop = nxt.select(F.col("src").alias(f"__h{n}"),
                         F.col("dst").alias(f"__d{n}"))
        cur = (cur.join(hop, cur["dst"] == hop[f"__h{n}"])
               .select(cur["src"].alias("src"),
                       hop[f"__d{n}"].alias("dst")))
    return cur.distinct()


def _closure_step(e: DataFrame, reached: DataFrame, r: int) -> DataFrame:
    """Extend the pairs first found at r hops by one edge; pairs not
    reached before join at r + 1 hops."""
    step = (reached.where(F.col("hops") == r)
            .select("src", F.col("dst").alias("via")))
    nxt = (
        step.join(e, step["via"] == e["u"])
        .select("src", F.col("v").alias("dst"))
        .distinct()
        .join(reached.select("src", "dst"), ["src", "dst"], "left_anti")
        .withColumn("hops", F.lit(r + 1).cast("int"))
    )
    return reached.unionAll(nxt)


def path_closure(edges: DataFrame, max_hops: int,
                 src: str = "src", dst: str = "dst",
                 early_stop: bool = True) -> DataFrame:
    """Bounded transitive closure with minimal hop counts — the SPARQL
    property path ``pred+`` over an edge relation (pair it with
    :func:`edges_from_triples`, or any derived edge frame).

    Output: ``(src, dst, hops)`` — every pair connected by a directed
    path of 1..``max_hops`` edges, ``hops`` the MINIMAL path length
    (a node on a cycle reaches itself: ``(x, x, k)`` rows are real
    ``pred+`` semantics, not bugs).

    Scale shape — semi-naive Datalog, the same discipline as
    components.bfs_layers: each round joins only the LAST round's
    frontier (the pairs at the previous hop count) against the edge
    sliver (never the accumulated closure), keyed equi-join + distinct
    + anti-join against the closure so far — so a pair is found
    exactly once, at its minimal hop count, and cycles cannot loop.
    The edge frame persists once; the closure feeds three branches of
    the next round, so the iteration driver (operators/iterate.py)
    materializes it every round.  ``early_stop=True`` probes the
    closure per round (one tiny max(hops) aggregate each — the
    documented convergence probe); ``False`` runs exactly
    ``max_hops`` rounds with no driver action, the fixed-depth mode a
    bounded recursive-CTE SQL twin replays.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    with Iteration() as it:
        e = it.keep(edges.select(F.col(src).alias("u"),
                                 F.col(dst).alias("v")).distinct())
        reached = (e.select(F.col("u").alias("src"),
                            F.col("v").alias("dst"))
                   .withColumn("hops", F.lit(1).cast("int")))
        return it.run(reached, partial(_closure_step, e), max_hops - 1,
                      last_round("hops") if early_stop else None,
                      reread=True)
