"""SPARQL 1.1 UPDATE subset over the ``(subj, pred, obj)`` triple table.

The reference pipeline is write-once (generate → export.py serializes),
but the published ClaimsKG lives behind a SPARQL endpoint, and a
maintained KG needs the other half of the protocol: SPARQL UPDATE
(corrections, retractions, enrichment).  This module gives the graph
the update face the query face in :mod:`operators.sparql` already has,
compiled onto the same plan machinery:

* :func:`parse_update` / :func:`parse_update_request` —
  recursive-descent parser (reusing the query module's tokenizer,
  prefix handling and pattern grammar) for::

      request := prefix* operation ( ';' prefix* operation )* ';'?
      operation := update | management
      update := ('WITH' <iri>)?
                ( INSERT DATA qblock
                | DELETE DATA qblock
                | DELETE WHERE qblock
                | DELETE qblock INSERT qblock using* WHERE group
                | DELETE qblock using* WHERE group
                | INSERT qblock using* WHERE group )
      using  := 'USING' 'NAMED'? <iri>
      qblock := '{' ( triple | 'GRAPH' <iri> '{' triple* '}' )* '}'
      management := ('CLEAR'|'DROP') 'SILENT'?
                        ('GRAPH' <iri> | DEFAULT | NAMED | ALL)
                  | 'CREATE' 'SILENT'? 'GRAPH' <iri>
                  | 'LOAD' 'SILENT'? <doc-iri> ('INTO' 'GRAPH' <iri>)?
                  | ('COPY'|'MOVE'|'ADD') 'SILENT'?
                        gref 'TO' gref          — gref := 'GRAPH'? <iri>
                                                        | DEFAULT

  ``DATA`` blocks must be ground (no variables).  Templates are plain
  triples (no property paths); template variables must be bound by the
  WHERE group; a ``GRAPH`` wrapper in a template names a constant
  ``<iri>`` (a *variable* target graph is rejected loudly — its value
  is not tracked through the binding join).  ``WITH`` is accepted on
  the pattern forms only (the SPARQL 1.1 ``Modify`` production), and
  graph-scoped features — ``WITH``/``USING``/``GRAPH`` and the
  management operations — need a QUADS frame (a ``graph`` column,
  NULL == default graph); on a plain triple table they are rejected at
  apply time (``LOAD`` without ``INTO GRAPH`` works on either).
  ``SERVICE`` stays outside the subset — a request either compiles
  onto this plan shape or errors (the query module's
  misplanning-is-impossible contract).

* update sequences (``;`` — SPARQL 1.1 §3.1): operations apply **in
  order, each binding against the previous operation's result** —
  :func:`apply_request` folds them into one composed plan, and
  :func:`apply_request_to_table` commits the WHOLE request as ONE
  atomic snapshot (request atomicity: a reader never sees a prefix of
  the sequence; intermediate graphs never hit disk).

* graph management (:func:`apply_graph_op`): pure quads → quads
  algebra.  ``CLEAR``/``DROP`` filter the target out (this model has
  no empty-graph bookkeeping, so the two coincide and ``SILENT`` has
  nothing to suppress); ``CREATE`` is a documented no-op (a graph
  exists iff non-empty — the common triple-store behavior);
  ``COPY``/``MOVE`` replace the destination graph with the source's
  triples relabeled; ``ADD`` set-unions them in (anti-join dedup on
  the quad key).  ``src == dst`` is a no-op per spec.  ``LOAD``
  (§3.1.4) parses a Turtle/N-Triples document — a ``file://`` path or
  a directory of this repo's N-Triples sink ``part-*`` files — on the
  driver (document-sized protocol payloads; bulk ingestion belongs on
  the snapshot table's distributed append path) and set-unions it
  into the target graph with full okind literal fidelity; ``SILENT``
  turns an unreadable or unparseable document into a no-op (§3.1.4:
  both fetch and parse failure become a success) — the one management
  error family this model can actually suppress.

* :func:`apply_update` — pure graph → graph function with SPARQL set
  semantics ``(G ∖ D) ∪ I``:  the WHERE group binds once (the same
  ``_bindings`` chain the query faces use, so it inherits literal
  pushdown and cost-ordered joins), each template instantiates as one
  narrow projection of the binding frame (the CONSTRUCT shape), and
  the graph algebra is two anti-joins — ``kept = G ⟕̸ D`` and
  ``new = I ⟕̸ kept`` — then ``kept ∪ new``.  D and I are
  bindings-derived (usually ≪ G, broadcast right sides), so the big
  side is NEVER shuffled; physically the ``kept`` subtree feeds both
  union branches (Spark shares no subtrees), so G is scanned twice —
  two broadcast anti-join scans of the graph, zero repartitions of it
  (plan pinned by test).  The input graph is
  assumed to be a set (the RDF contract every sink in this repo
  enforces); the result is then a set by construction, with no global
  ``distinct`` over G.

  On a QUADS frame the same algebra runs on the quad key
  ``(subj, pred, obj, graph)`` — the NULL default graph joins through
  a ``coalesce(graph, '')`` sentinel column (the empty IRI ``<>`` is
  rejected at parse time, so the sentinel cannot collide), keeping every
  anti-join a plain broadcast equi-join instead of a null-safe
  condition join.  The WHERE group's dataset follows SPARQL 1.1
  §3.1.3: ``USING``/``USING NAMED`` construct it exactly like the
  query module's FROM/FROM NAMED; otherwise ``WITH <g>`` makes g's
  rows the default graph (named graphs stay addressable); otherwise
  the store dataset stands.  Template triples without a ``GRAPH``
  wrapper target the ``WITH`` graph (or the default graph); the same
  triple may live in several graphs at once — quads dedup never
  collapses across graphs.

* :func:`apply_update_to_table` — the transactional face over
  :class:`sources.snapshot_table.SnapshotTable`: an **insert-only**
  update (INSERT DATA / INSERT..WHERE) commits just the genuinely-new
  triples as an atomic APPEND (no table rewrite — the cheap path a
  monotone KG feed should stay on); any update with a delete side
  commits the full ``(G ∖ D) ∪ I`` as an atomic OVERWRITE.  Either
  way a reader sees the pre-update graph until the manifest pointer
  advances, and time travel keeps the pre-update snapshot addressable.
  The table may carry the ``okind`` sidecar (the code-KG product
  layout): deletes match on ``(subj, pred, obj)`` alone, and inserted
  rows are typed from the update text's own term kinds (``<iri>`` →
  ``'uri'``, ``"literal"``/number → ``''``) — a variable insert-object
  is rejected loudly on okind tables (its kind is not tracked through
  the binding join, and guessing from the value's shape could corrupt
  the N-Triples rendering).  Matching is STRING-TYPED on
  ``(subj, pred, obj)`` throughout — the engine-wide convention every
  query face shares — so ``<x>`` and ``"x"`` are the SAME triple to
  deletes and insert-dedup even though RDF would distinguish them;
  a corpus that genuinely needs both spellings of one object string
  is outside this model.
  (A production copy-on-write rewrite of only the touched files — or
  merge-on-read delete files — is the 100 TB refinement; the snapshot
  table's predicate ``delete`` covers the former for single-column
  predicates, and the OVERWRITE here is the honest general fallback.)

Reference parity: the reference has no update path (its graph is
rebuilt per release — claimskg/generator/__init__.py builds the rdflib
graph in one pass); this face is the maintenance operation a served
ClaimsKG needs between releases.
"""
from __future__ import annotations

from dataclasses import dataclass, field
import re
from functools import reduce
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share
from claimskg_generator_spark.operators.sparql import (
    ParsedQuery,
    SparqlSyntaxError,
    Triple,
    _bindings,
    _Parser,
)

_UPDATE_UNSUPPORTED = {"SERVICE"}

#: graph-management operation keywords (SPARQL 1.1 Update §3.1.4/§3.2)
_MGMT_KWS = {"LOAD", "CLEAR", "DROP", "CREATE", "COPY", "MOVE", "ADD"}

#: sentinel for "the default graph" in graph refs / templates; a real
#: named graph always parses as an IRI, so this cannot collide
DEFAULT_GRAPH = None


@dataclass
class ParsedUpdate:
    """One parsed update operation.  ``form`` is ``insert_data`` /
    ``delete_data`` / ``delete_where`` / ``modify``; DATA forms carry
    ground triples in the matching template and ``where is None``.
    ``insert_okinds`` records each insert-template OBJECT's term kind
    as written (``'uri'`` for ``<iri>``/pname/``a``, ``''`` for
    string/number literals, ``None`` for a variable) — what an
    okind-carrying triple table needs to type inserted rows.
    ``delete_graphs`` / ``insert_graphs`` carry each template triple's
    ``GRAPH`` wrapper IRI (None == no wrapper → the WITH graph, else
    the default graph); ``with_graph`` / ``using_graphs`` /
    ``using_named`` are the SPARQL 1.1 Modify graph scoping — all None
    / empty on a plain triple-table update."""
    form: str
    delete_template: List[Triple] = field(default_factory=list)
    insert_template: List[Triple] = field(default_factory=list)
    insert_okinds: List[Optional[str]] = field(default_factory=list)
    where: Optional[ParsedQuery] = None
    prefixes: Dict[str, str] = field(default_factory=dict)
    delete_graphs: List[Optional[str]] = field(default_factory=list)
    insert_graphs: List[Optional[str]] = field(default_factory=list)
    with_graph: Optional[str] = None
    using_graphs: List[str] = field(default_factory=list)
    using_named: List[str] = field(default_factory=list)

    @property
    def graph_scoped(self) -> bool:
        """True iff the operation uses any named-graph feature (needs
        a quads frame)."""
        return (self.with_graph is not None
                or bool(self.using_graphs) or bool(self.using_named)
                or any(g is not None for g in self.delete_graphs)
                or any(g is not None for g in self.insert_graphs)
                or (self.where is not None
                    and any(len(p) == 4 for p in self.where.patterns)))


@dataclass
class ParsedGraphOp:
    """One graph-management operation (SPARQL 1.1 Update §3.2).
    ``kind`` ∈ clear/drop/create/copy/move/add; ``src``/``dst`` are
    graph IRIs or the sentinels ``"DEFAULT"`` / ``"NAMED"`` / ``"ALL"``
    (the latter two only as a CLEAR/DROP target).  ``silent`` is
    accepted and recorded; this model tracks no empty graphs, so there
    is no missing-graph error for it to suppress."""
    kind: str
    src: Optional[str] = None
    dst: Optional[str] = None
    silent: bool = False


class _UpdateParser(_Parser):
    """The update grammar on the query module's token machinery."""

    def _one_template_triple(self) -> Tuple[str, str, str, Optional[str]]:
        # term term term — plain triples only: no property paths (a
        # path in a template has no instantiation).  Returns the
        # triple plus the OBJECT's written term kind: 'uri' for
        # <iri>/pname/a, '' for string/number literals, None for ?var.
        if self.peek() is not None \
                and self.peek().upper() in _UPDATE_UNSUPPORTED:
            raise SparqlSyntaxError(
                f"{self.peek().upper()} is outside the supported "
                "UPDATE subset")
        s = self._term()
        if self.peek() == "^":
            raise SparqlSyntaxError(
                "property paths are not allowed in update "
                "templates or DATA blocks")
        p = self._term()
        if self.peek() in ("/", "|", "+", "*", "?"):
            raise SparqlSyntaxError(
                "property paths are not allowed in update "
                "templates or DATA blocks")
        raw = self.peek()
        o = self._term()
        if raw.startswith("?"):
            okind = None
        elif (raw.startswith('"')
                or re.fullmatch(r"\d+(?:\.\d+)?", raw)):
            okind = ""
        else:                           # <iri>, pfx:local, a
            okind = "uri"
        return s, p, o, okind

    def _graph_iri(self, what: str) -> str:
        t = self.peek()
        if (t is None or t.startswith("?") or t.startswith('"')
                or t == "a" or re.fullmatch(r"\d+(?:\.\d+)?", t or "")):
            raise SparqlSyntaxError(
                f"{what} names a constant graph <iri>, got {t!r}")
        iri = self._term()
        if not iri:
            # '<>' parses to the empty string — exactly the quad-key
            # NULL-default-graph sentinel (_GSENT); admitting it would
            # break the sentinel invariant and silently alias the
            # default graph
            raise SparqlSyntaxError(
                f"{what} cannot name the empty IRI <> — a graph name "
                "must be non-empty (the default graph has no IRI; use "
                "DEFAULT where the grammar allows it)")
        return iri

    def _quad_block(self) -> Tuple[List[Triple], List[Optional[str]],
                                   List[Optional[str]]]:
        # '{' (triple | GRAPH <iri> '{' triple* '}')* '}' — each
        # triple tagged with its GRAPH wrapper IRI (None == no wrapper)
        self.expect("{")
        trips: List[Triple] = []
        okinds: List[Optional[str]] = []
        graphs: List[Optional[str]] = []
        while self.peek() != "}":
            if self.at_kw("GRAPH"):
                self.next()
                g = self._graph_iri("a template GRAPH wrapper")
                self.expect("{")
                while self.peek() != "}":
                    s, p, o, k = self._one_template_triple()
                    trips.append((s, p, o))
                    okinds.append(k)
                    graphs.append(g)
                    if self.peek() == ".":
                        self.next()
                self.expect("}")
            else:
                s, p, o, k = self._one_template_triple()
                trips.append((s, p, o))
                okinds.append(k)
                graphs.append(None)
            if self.peek() == ".":
                self.next()
        self.expect("}")
        if not trips:
            raise SparqlSyntaxError("empty triple block in update")
        return trips, okinds, graphs

    def _plain_block(self) -> Tuple[List[Triple], List[Optional[str]]]:
        # the pre-quads block shape (no GRAPH wrappers allowed)
        trips, okinds, graphs = self._quad_block()
        if any(g is not None for g in graphs):
            raise SparqlSyntaxError(
                "GRAPH wrappers are only allowed in quads-form "
                "templates (this operation form addresses one graph)")
        return trips, okinds

    @staticmethod
    def _require_ground(trips: List[Triple], what: str) -> None:
        bad = sorted({t for tr in trips for t in tr if t.startswith("?")})
        if bad:
            raise SparqlSyntaxError(
                f"{what} blocks must be ground (no variables): {bad}")

    def _where_group(self) -> ParsedQuery:
        q = ParsedQuery(form="select")
        self._group(q)
        return q

    # PREFIX handling: the shared _Parser._parse_prefixes (one
    # accumulating prologue scope, re-run between ';'-chained ops)

    def _using_clauses(self, u: ParsedUpdate) -> None:
        while self.at_kw("USING"):
            self.next()
            if self.at_kw("NAMED"):
                self.next()
                u.using_named.append(self._graph_iri("USING NAMED"))
            else:
                u.using_graphs.append(self._graph_iri("USING"))

    def _graph_ref(self, what: str) -> str:
        if self.at_kw("DEFAULT"):
            self.next()
            return "DEFAULT"
        if self.at_kw("GRAPH"):
            self.next()
        return self._graph_iri(what)

    def _management(self) -> ParsedGraphOp:
        kw = self.next().upper()
        silent = False
        if self.at_kw("SILENT"):
            self.next()
            silent = True
        if kw in ("CLEAR", "DROP"):
            if self.at_kw("DEFAULT"):
                self.next()
                tgt = "DEFAULT"
            elif self.at_kw("NAMED"):
                self.next()
                tgt = "NAMED"
            elif self.at_kw("ALL"):
                self.next()
                tgt = "ALL"
            else:
                self.kw("GRAPH")
                tgt = self._graph_iri(kw)
            return ParsedGraphOp(kind=kw.lower(), src=tgt, silent=silent)
        if kw == "CREATE":
            self.kw("GRAPH")
            return ParsedGraphOp(kind="create", silent=silent,
                                 src=self._graph_iri("CREATE"))
        if kw == "LOAD":
            src = self._graph_iri("LOAD")
            dst = "DEFAULT"
            if self.at_kw("INTO"):
                self.next()
                self.kw("GRAPH")
                dst = self._graph_iri("LOAD INTO")
            return ParsedGraphOp(kind="load", src=src, dst=dst,
                                 silent=silent)
        src = self._graph_ref(kw)
        self.kw("TO")
        dst = self._graph_ref(kw)
        return ParsedGraphOp(kind=kw.lower(), src=src, dst=dst,
                             silent=silent)

    def _operation(self):
        """One operation: a ParsedUpdate or a ParsedGraphOp."""
        t = self.peek()
        if t is None:
            raise SparqlSyntaxError("empty update operation")
        if t.upper() in _UPDATE_UNSUPPORTED:
            raise SparqlSyntaxError(
                f"{t.upper()} is outside the supported UPDATE subset")
        if t.upper() in _MGMT_KWS:
            return self._management()
        with_graph: Optional[str] = None
        if self.at_kw("WITH"):
            self.next()
            with_graph = self._graph_iri("WITH")
        if self.at_kw("INSERT"):
            self.next()
            if self.at_kw("DATA"):
                self.next()
                if with_graph is not None:
                    raise SparqlSyntaxError(
                        "WITH applies to the pattern (Modify) forms "
                        "only — wrap INSERT DATA triples in "
                        "GRAPH <iri> { ... } instead")
                trips, oks, gs = self._quad_block()
                self._require_ground(trips, "INSERT DATA")
                u = ParsedUpdate(form="insert_data", insert_template=trips,
                                 insert_okinds=oks, insert_graphs=gs)
            else:
                tmpl, oks, gs = self._quad_block()
                u = ParsedUpdate(form="modify", insert_template=tmpl,
                                 insert_okinds=oks, insert_graphs=gs,
                                 with_graph=with_graph)
                self._using_clauses(u)
                self.kw("WHERE")
                u.where = self._where_group()
        elif self.at_kw("DELETE"):
            self.next()
            if self.at_kw("DATA"):
                self.next()
                if with_graph is not None:
                    raise SparqlSyntaxError(
                        "WITH applies to the pattern (Modify) forms "
                        "only — wrap DELETE DATA triples in "
                        "GRAPH <iri> { ... } instead")
                trips, _, gs = self._quad_block()
                self._require_ground(trips, "DELETE DATA")
                u = ParsedUpdate(form="delete_data", delete_template=trips,
                                 delete_graphs=gs)
            elif self.at_kw("WHERE"):
                # DELETE WHERE { ... }: the pattern is its own template;
                # a fully-ground pattern degenerates to DELETE DATA
                # (bgp_query rejects variable-free patterns by design).
                # A GRAPH wrapper scopes BOTH the match and the delete
                # to that graph (SPARQL 1.1 §3.1.3.1).
                if with_graph is not None:
                    raise SparqlSyntaxError(
                        "WITH applies to the pattern (Modify) forms "
                        "only, not DELETE WHERE — use "
                        "DELETE { ... } WHERE { ... }")
                self.next()
                tmpl, _, gs = self._quad_block()
                if not any(t.startswith("?") for tr in tmpl for t in tr):
                    u = ParsedUpdate(form="delete_data",
                                     delete_template=tmpl,
                                     delete_graphs=gs)
                elif any(not any(t.startswith("?") for t in tr)
                         for tr in tmpl):
                    raise SparqlSyntaxError(
                        "DELETE WHERE mixing ground and variable "
                        "patterns is outside the subset — split into "
                        "DELETE DATA + DELETE WHERE")
                else:
                    pats = [tr if g is None else (*tr, g)
                            for tr, g in zip(tmpl, gs)]
                    u = ParsedUpdate(
                        form="delete_where", delete_template=tmpl,
                        delete_graphs=gs,
                        where=ParsedQuery(form="select", patterns=pats))
            else:
                dt, _, dgs = self._quad_block()
                it: List[Triple] = []
                oks: List[Optional[str]] = []
                igs: List[Optional[str]] = []
                if self.at_kw("INSERT"):
                    self.next()
                    it, oks, igs = self._quad_block()
                u = ParsedUpdate(form="modify", delete_template=dt,
                                 delete_graphs=dgs, insert_template=it,
                                 insert_okinds=oks, insert_graphs=igs,
                                 with_graph=with_graph)
                self._using_clauses(u)
                self.kw("WHERE")
                u.where = self._where_group()
        else:
            raise SparqlSyntaxError(
                f"expected INSERT or DELETE, got {self.peek()!r}")
        u.prefixes = dict(self.prefixes)
        return u

    def parse_request(self) -> List:
        """prefix* operation (';' prefix* operation)* ';'? — PREFIX
        declarations persist across the operations that follow them
        (SPARQL 1.1 §3: one prologue scope per request)."""
        ops: List = []
        while True:
            self._parse_prefixes()
            if self.peek() is None and ops:
                break                       # trailing ';'
            ops.append(self._operation())
            if self.peek() == ";":
                self.next()
                continue
            break
        if self.i < len(self.toks):
            raise SparqlSyntaxError(
                f"trailing tokens after update: {self.toks[self.i:]!r}")
        if not ops:
            raise SparqlSyntaxError("empty update request")
        return ops

    def parse_update(self) -> ParsedUpdate:
        self._parse_prefixes()
        u = self._operation()
        if self.peek() == ";":
            raise SparqlSyntaxError(
                "this is an update SEQUENCE (';') — parse it with "
                "parse_update_request / apply it with apply_request "
                "(one atomic commit for the whole request)")
        if self.i < len(self.toks):
            raise SparqlSyntaxError(
                f"trailing tokens after update: {self.toks[self.i:]!r}")
        if isinstance(u, ParsedGraphOp):
            raise SparqlSyntaxError(
                f"{u.kind.upper()} is a graph-management operation — "
                "parse it with parse_update_request / apply it with "
                "apply_graph_op or apply_request (it needs a quads "
                "frame)")
        return u


def parse_update(text: str) -> ParsedUpdate:
    """Parse one SPARQL UPDATE operation in the subset (module
    grammar); rejects sequences and graph-management operations —
    those go through :func:`parse_update_request`."""
    return _UpdateParser(text).parse_update()


def parse_update_request(text: str) -> List:
    """Parse a full SPARQL UPDATE request — one or more ``;``-chained
    operations, each a :class:`ParsedUpdate` or
    :class:`ParsedGraphOp`, in request order."""
    return _UpdateParser(text).parse_request()


def _literal_rel(graph: DataFrame, trips: List[Triple],
                 okinds: Optional[List[Optional[str]]] = None,
                 graphs: Optional[List[Optional[str]]] = None
                 ) -> DataFrame:
    """DATA-block triples as a literal relation.  ``graphs`` (quads
    mode) appends each triple's target graph (None == default graph →
    a NULL ``graph`` cell); okind, when asked for, goes last."""
    cols = ["subj string", "pred string", "obj string"]
    rows = [list(t) for t in trips]
    if graphs is not None:
        cols.append("graph string")
        for r, g in zip(rows, graphs):
            r.append(g)
    if okinds is not None:
        cols.append("okind string")
        for r, k in zip(rows, okinds):
            r.append(k)
    uniq = sorted({tuple(r) for r in rows},
                  key=lambda t: tuple("" if v is None else v for v in t))
    return graph.sparkSession.createDataFrame(
        [tuple(r) for r in uniq], ", ".join(cols))


def _instantiate(bindings: DataFrame, template: List[Triple],
                 what: str,
                 okinds: Optional[List[Optional[str]]] = None,
                 graphs: Optional[List[Optional[str]]] = None,
                 target: Optional[str] = None) -> DataFrame:
    """Template × solutions → distinct triple set (the CONSTRUCT
    projection shape: one narrow select per template pattern).
    ``graphs`` (quads mode) adds a constant ``graph`` column per
    pattern — its GRAPH wrapper IRI, else ``target`` (the WITH graph
    or None == the default graph)."""
    bound = set(bindings.columns)

    def term_col(term: str, pos: str) -> Column:
        if term.startswith("?"):
            v = term[1:]
            if v not in bound:
                raise SparqlSyntaxError(
                    f"{what} template variable ?{v} is not bound by "
                    "the WHERE group")
            return F.col(v).alias(pos)
        return F.lit(term).alias(pos)

    parts = []
    for i, (s, p, o) in enumerate(template):
        cols = [term_col(s, "subj"), term_col(p, "pred"),
                term_col(o, "obj")]
        if graphs is not None:
            g = graphs[i] if graphs[i] is not None else target
            cols.append(F.lit(g).cast("string").alias("graph"))
        if okinds is not None:
            # okind-carrying table: the inserted row's term kind must
            # be known at parse time — a variable object's kind is not
            # tracked through the binding join, so reject loudly
            # rather than guess from the value's shape
            if okinds[i] is None:
                raise SparqlSyntaxError(
                    f"{what} template object {o!r} is a variable — an "
                    "okind-carrying table needs an explicit <iri> or "
                    '"literal" object (or project okind off and '
                    "update the plain triple view)")
            cols.append(F.lit(okinds[i]).alias("okind"))
        parts.append(bindings.select(*cols))
    return reduce(DataFrame.unionAll, parts).distinct()


_KEYS = ["subj", "pred", "obj"]
_QCOLS = ["subj", "pred", "obj", "graph"]

#: NULL-default-graph join sentinel — '' is not a parseable graph IRI
#: (every graph term tokenizes as a non-empty <iri>/pname), so quad
#: anti-joins stay plain equi-joins instead of null-safe conditions
_GSENT = ""


def _anti(left: DataFrame, right: DataFrame, quads: bool) -> DataFrame:
    """``left ∖ right`` on the triple — or, with ``quads``, the
    sentinel-keyed quad — key.  Extra columns of ``left`` (okind)
    ride along; extra columns of ``right`` are projected away."""
    if not quads:
        return left.join(right.select(*_KEYS), _KEYS, "left_anti")
    keys = _KEYS + ["_g"]
    lk = left.withColumn("_g", F.coalesce(F.col("graph"), F.lit(_GSENT)))
    rk = (right.withColumn("_g", F.coalesce(F.col("graph"),
                                            F.lit(_GSENT)))
          .select(*keys))
    return lk.join(rk, keys, "left_anti").drop("_g")


def _update_dataset(quads: DataFrame, u: ParsedUpdate) -> DataFrame:
    """The WHERE group's dataset over a quads frame (SPARQL 1.1 Update
    §3.1.3): ``USING``/``USING NAMED`` construct it exactly like the
    query module's FROM/FROM NAMED (set-merged default graph, named
    range restricted, store default drops); else ``WITH <g>`` makes
    g's rows the default graph with the store's named graphs still
    addressable; else the store dataset stands."""
    base = quads.select(*_QCOLS)
    if u.using_graphs or u.using_named:
        parts = []
        if u.using_graphs:
            parts.append(
                base.where(F.col("graph").isin(u.using_graphs))
                .select(*_KEYS).distinct()
                .withColumn("graph", F.lit(None).cast("string")))
        if u.using_named:
            parts.append(base.where(F.col("graph").isin(u.using_named)))
        return reduce(DataFrame.unionByName, parts)
    if u.with_graph is not None:
        dflt = (base.where(F.col("graph") == u.with_graph)
                .withColumn("graph", F.lit(None).cast("string")))
        return dflt.unionByName(base.where(F.col("graph").isNotNull()))
    return base


def _delta(graph: DataFrame, u: ParsedUpdate,
           stats: Optional[dict] = None,
           charsets: Optional[dict] = None,
           with_okind: bool = False,
           quads: bool = False
           ) -> Tuple[Optional[DataFrame], Optional[DataFrame]]:
    """(delete set, insert set) for one parsed update — each a distinct
    triple (or quad) frame or None.  Pattern forms bind the WHERE group
    ONCE and instantiate both templates from the same frame.
    ``with_okind`` types the INSERT side from the parse-time term kinds
    (the delete side matches on the key columns alone and never needs
    it).  ``quads`` adds each template triple's target graph — its
    GRAPH wrapper, else the WITH graph, else the default graph — and
    evaluates WHERE over the §3.1.3 dataset."""
    ioks = u.insert_okinds if with_okind else None
    igs = u.insert_graphs if quads else None
    dgs = u.delete_graphs if quads else None
    target = u.with_graph if quads else None
    if u.form == "insert_data":
        return None, _literal_rel(graph, u.insert_template, ioks, igs)
    if u.form == "delete_data":
        return _literal_rel(graph, u.delete_template, None, dgs), None
    where_frame = _update_dataset(graph, u) if quads else graph
    b = _bindings(where_frame, u.where, stats, 8, charsets)
    dels = (_instantiate(b, u.delete_template, "DELETE",
                         graphs=dgs, target=target)
            if u.delete_template else None)
    ins = (_instantiate(b, u.insert_template, "INSERT", okinds=ioks,
                        graphs=igs, target=target)
           if u.insert_template else None)
    return dels, ins


def apply_update(graph: DataFrame, update: str,
                 stats: Optional[dict] = None,
                 charsets: Optional[dict] = None) -> DataFrame:
    """Apply one SPARQL UPDATE operation to a set-semantics triple —
    or quads (``graph`` column, NULL == default graph) — frame and
    return the new graph ``(G ∖ D) ∪ I`` (module docstring: two
    anti-joins, G never shuffled; on quads the key is the
    sentinel-coalesced quad)."""
    u = update if isinstance(update, ParsedUpdate) else parse_update(update)
    quads = "graph" in graph.columns
    if quads:
        if sorted(graph.columns) != sorted(_QCOLS):
            raise ValueError(
                "apply_update needs a (subj, pred, obj, graph) quads "
                f"frame — got columns {graph.columns}; project away "
                "extras (an update cannot synthesize sidecar columns "
                "for inserted rows; the table face handles okind)")
    else:
        if sorted(graph.columns) != sorted(_KEYS):
            raise ValueError(
                "apply_update needs a plain (subj, pred, obj) set "
                f"graph — got columns {graph.columns}; project away "
                "extras (an update cannot synthesize sidecar columns "
                "for inserted rows; the table face handles okind)")
        if u.graph_scoped:
            raise ValueError(
                "this update uses WITH/USING/GRAPH (named-graph "
                "scoping) — it needs a quads frame (a 'graph' column, "
                "NULL == default graph; see plans.sinks.with_graph)")
    dels, ins = _delta(graph, u, stats, charsets, quads=quads)
    kept = graph if dels is None else _anti(graph, dels, quads)
    if ins is None:
        return kept
    return kept.unionByName(_anti(ins, kept, quads))


def update_delta(graph: DataFrame, update: str,
                 stats: Optional[dict] = None,
                 charsets: Optional[dict] = None
                 ) -> Tuple[Optional[DataFrame], Optional[DataFrame]]:
    """The update's EFFECTIVE ``(deletes, inserts)`` against the
    current graph — the exact triple delta incremental maintenance
    consumes (``kg_stats.charset_apply``, the VoID/rollup monoid
    merges, diff-driven refresh).  Raw template deletes of absent
    triples and raw inserts of already-present triples are filtered
    out (``D ∩ G`` and ``I ∖ (G ∖ D)``), so replaying this delta on
    any derived state equals rebuilding that state over
    :func:`apply_update`'s result — a triple deleted and re-inserted
    by the same request appears on BOTH sides (net zero, exactly what
    an additive state needs).  Either side is None when the request
    has no such template."""
    u = update if isinstance(update, ParsedUpdate) else parse_update(update)
    if sorted(graph.columns) != sorted(_KEYS):
        raise ValueError(
            "update_delta needs a plain (subj, pred, obj) set graph — "
            f"got columns {graph.columns}")
    if u.graph_scoped:
        raise ValueError(
            "update_delta is the plain triple-table maintenance face — "
            "a WITH/USING/GRAPH-scoped update has per-graph deltas; "
            "diff the quads result of apply_update instead")
    dels, ins = _delta(graph, u, stats, charsets)
    eff_d = (None if dels is None
             else dels.join(graph, _KEYS, "left_semi"))
    kept = graph if dels is None else graph.join(dels, _KEYS, "left_anti")
    eff_i = (None if ins is None
             else ins.join(kept, _KEYS, "left_anti"))
    return eff_d, eff_i


def _table_shape(current: DataFrame) -> Tuple[bool, bool]:
    """(quads, has_okind) for a snapshot-table triple frame, or raise."""
    cols = set(current.columns)
    quads = "graph" in cols
    base = set(_QCOLS) if quads else set(_KEYS)
    has_okind = cols == base | {"okind"}
    if not has_okind and cols != base:
        raise ValueError(
            "the update table faces need a "
            "(subj, pred, obj[, graph][, okind]) triple table — got "
            f"columns {current.columns}")
    return quads, has_okind


def _apply_one(current: DataFrame, u: ParsedUpdate,
               stats: Optional[dict], charsets: Optional[dict],
               quads: bool, with_okind: bool) -> DataFrame:
    """One update operation over a frame that may carry the okind
    sidecar — kept rows keep their okind, inserted rows are typed from
    the parse-time term kinds (loudly, per _instantiate)."""
    if u.graph_scoped and not quads:
        raise ValueError(
            "this update uses WITH/USING/GRAPH (named-graph scoping) "
            "— it needs a quads table (a 'graph' column)")
    where_cols = _QCOLS if quads else _KEYS
    dels, ins = _delta(current.select(*where_cols) if with_okind
                       else current,
                       u, stats, charsets,
                       with_okind=with_okind, quads=quads)
    kept = current if dels is None else _anti(current, dels, quads)
    if ins is None:
        return kept
    return kept.unionByName(
        _anti(ins, kept, quads).select(*current.columns))


def apply_update_to_table(table, update: str,
                          stats: Optional[dict] = None,
                          charsets: Optional[dict] = None) -> int:
    """Apply one update operation to a :class:`SnapshotTable` of
    triples — or quads, when the table carries the ``graph``
    publication partition — as ONE atomic commit; returns the new
    snapshot id.  Insert-only updates append just the genuinely-new
    triples (no rewrite); a delete side falls back to an atomic
    overwrite of ``(G ∖ D) ∪ I`` (module docstring: the honest general
    path — copy-on-write of only the touched files is the production
    refinement).  This is the one-operation face of
    :func:`apply_request_to_table` (same shape checks, okind typing,
    append-vs-overwrite classification and atomic commit — kept as one
    code path so the two faces cannot drift)."""
    u = update if isinstance(update, ParsedUpdate) else parse_update(update)
    return apply_request_to_table(table, [u], stats, charsets)


def _load_rows(src: str,
               silent: bool) -> Optional[List[Tuple[str, str, str, str]]]:
    """Parse the LOAD document — a ``file://`` IRI or plain path, one
    Turtle/N-Triples file or a directory of ``part-*`` files (this
    repo's N-Triples sink layout) — into ``(s, p, o, okind)`` rows on
    the driver (the categories-source posture: a SPARQL-protocol LOAD
    payload is document-sized; bulk ingestion belongs on the snapshot
    table's distributed append path).  ``SILENT`` turns an unreadable
    document into a no-op (None) — the one management error this model
    can actually suppress."""
    import os

    from claimskg_generator_spark.sources.turtle import (
        parse_turtle,
        parse_turtle_file,
    )

    path = src[7:] if src.startswith("file://") else src
    try:
        if os.path.isdir(path):
            rows: List[Tuple[str, str, str, str]] = []
            for name in sorted(os.listdir(path)):
                if name.startswith("part-"):
                    with open(os.path.join(path, name),
                              encoding="utf-8") as fh:
                        rows.extend(parse_turtle(fh.read()))
            return rows
        return parse_turtle_file(path)
    except (OSError, UnicodeDecodeError, ValueError):
        # ValueError covers TurtleParseError: §3.1.4 SILENT makes
        # BOTH fetch and parse failure a success, not just a missing
        # file
        if silent:
            return None
        raise


def _apply_load(graph: DataFrame, op: ParsedGraphOp) -> DataFrame:
    """LOAD (§3.1.4): set-union the parsed document into the target
    graph.  Works on a plain triple frame when the target is the
    default graph; a named target needs quads.  An okind sidecar is
    filled from the parsed term kinds ('uri' / '' / '@lang' /
    datatype IRI — full Turtle literal fidelity)."""
    rows = _load_rows(op.src, op.silent)
    if rows is None:
        return graph
    quads_mode = "graph" in graph.columns
    if not quads_mode and op.dst != "DEFAULT":
        raise ValueError(
            "LOAD ... INTO GRAPH needs a quads frame (a 'graph' "
            "column) — a plain triple table has only the default "
            "graph")
    unknown = [c for c in graph.columns
               if c not in ("subj", "pred", "obj", "graph", "okind")]
    if unknown:
        raise ValueError(
            "LOAD cannot synthesize values for sidecar columns "
            f"{unknown} — project them away or load into a "
            "(subj, pred, obj[, graph][, okind]) frame")
    gval = None if op.dst == "DEFAULT" else op.dst
    recs = set()
    for s, p, o, okv in rows:
        rec = {"subj": s, "pred": p, "obj": o,
               "graph": gval, "okind": okv}
        recs.add(tuple(rec[c] for c in graph.columns))
    lit = graph.sparkSession.createDataFrame(
        sorted(recs, key=lambda t: tuple(v or "" for v in t)),
        ", ".join(f"{c} string" for c in graph.columns))
    return graph.unionByName(_anti(lit, graph, quads_mode))


def apply_graph_op(quads: DataFrame, op) -> DataFrame:
    """One graph-management operation (SPARQL 1.1 Update §3.2) as pure
    quads → quads algebra (module docstring).  Extra columns (okind)
    ride along unchanged; ``op`` is a :class:`ParsedGraphOp` or the
    operation's text.  CLEAR/DROP/CREATE are pure filters / no-ops;
    COPY/MOVE replace the destination graph with the source graph's
    rows relabeled (no dedup needed — the destination is replaced
    wholesale); ADD anti-joins the relabeled source against the
    destination sliver, which AQE may broadcast when small — the only
    op that joins at all, and never on the full store."""
    if isinstance(op, str):
        ops = parse_update_request(op)
        if len(ops) != 1 or not isinstance(ops[0], ParsedGraphOp):
            raise ValueError(
                "apply_graph_op takes ONE management operation — use "
                "apply_request for sequences / pattern updates")
        op = ops[0]
    if op.kind == "load":
        return _apply_load(quads, op)
    if "graph" not in quads.columns:
        raise ValueError(
            f"{op.kind.upper()} needs a quads frame (a 'graph' "
            "column, NULL == default graph) — a plain triple table "
            "has no addressable graphs")
    g = F.col("graph")

    def rows_in(ref: str) -> Column:       # membership, NULL-excluding
        return g.isNull() if ref == "DEFAULT" else g == ref

    def rows_not_in(ref: str) -> Column:   # complement, NULL-safe
        return (g.isNotNull() if ref == "DEFAULT"
                else ~g.eqNullSafe(F.lit(ref)))

    k = op.kind
    if k in ("clear", "drop"):
        if op.src == "ALL":
            return quads.where(F.lit(False))
        if op.src == "NAMED":
            return quads.where(g.isNull())
        return quads.where(rows_not_in(op.src))
    if k == "create":
        # graphs exist iff non-empty in this model — documented no-op
        return quads
    if op.src == op.dst:
        return quads                       # §3.2.3-5: same-graph no-op
    relabel = (F.lit(None).cast("string") if op.dst == "DEFAULT"
               else F.lit(op.dst))
    src_rows = quads.where(rows_in(op.src)).withColumn("graph", relabel)
    if k == "add":
        dst_rows = quads.where(rows_in(op.dst))
        return quads.unionByName(_anti(src_rows, dst_rows, quads=True))
    kept = quads.where(rows_not_in(op.dst)) if k == "copy" \
        else quads.where(rows_not_in(op.dst) & rows_not_in(op.src))
    return kept.unionByName(src_rows)


def apply_request(graph: DataFrame, request,
                  stats: Optional[dict] = None,
                  charsets: Optional[dict] = None,
                  persist: bool = False) -> DataFrame:
    """Apply a full ``;``-chained update request in order — each
    operation binds against the PREVIOUS operation's result (SPARQL
    1.1 §3.1 sequence semantics).  ``stats``/``charsets`` were
    computed for the input graph; they only steer join order on later
    operations, never correctness.

    By default the fold is ONE composed lazy plan — no intermediate
    graph materializes, but a pattern operation references its input
    graph several times (the kept subtree feeds both union branches,
    and its WHERE patterns scan it again), and Spark shares no
    subtrees, so an n-operation request re-evaluates early operations
    a MULTIPLICATIVE number of times.  ``persist=True`` shares each
    intermediate graph (``operators.cache``), collapsing every
    re-reference to one in-memory scan — the right call for requests
    of more than ~two pattern operations.  The table face always
    shares them."""
    ops = request if isinstance(request, list) \
        else parse_update_request(request)
    cur = graph
    for i, op in enumerate(ops):
        if isinstance(op, ParsedGraphOp):
            cur = apply_graph_op(cur, op)
        else:
            cur = apply_update(cur, op, stats, charsets)
        if persist and i < len(ops) - 1:
            cur = share(cur)
    return cur


def apply_request_to_table(table, request,
                           stats: Optional[dict] = None,
                           charsets: Optional[dict] = None) -> int:
    """Apply a full update request to a :class:`SnapshotTable` as ONE
    atomic commit — request atomicity per SPARQL 1.1 §3.1: a reader
    never sees a prefix of the sequence, and the intermediate graphs
    never hit disk (they are subtrees of the one composed plan).
    All-insert-only requests append just the genuinely-new rows; any
    delete side or management operation commits an atomic overwrite.
    Returns the new snapshot id."""
    ops = request if isinstance(request, list) \
        else parse_update_request(request)
    current = table.read()
    quads, has_okind = _table_shape(current)
    cur = current
    for i, op in enumerate(ops):
        if isinstance(op, ParsedGraphOp):
            if not quads and not (op.kind == "load"
                                  and op.dst == "DEFAULT"):
                raise ValueError(
                    f"{op.kind.upper()} needs a quads table (a "
                    "'graph' column; publish with code_kg_cli "
                    "--with-named-graphs)")
            cur = apply_graph_op(cur, op)
        else:
            cur = _apply_one(cur, op, stats, charsets, quads, has_okind)
        if len(ops) > 1 and i < len(ops) - 1:
            # each later op references this graph several times (kept
            # subtree + WHERE scans); cache it for the one commit job
            cur = share(cur)
    # monotone operations stay on the append path: pattern inserts,
    # LOAD and ADD only ever grow the graph (CREATE adds nothing)
    insert_only = all(
        (not op.delete_template) if isinstance(op, ParsedUpdate)
        else op.kind in ("load", "add", "create")
        for op in ops)
    forms = "; ".join(op.kind if isinstance(op, ParsedGraphOp)
                      else op.form for op in ops)
    if insert_only:
        new_rows = _anti(cur, current, quads).select(*current.columns)
        return table.append(new_rows, extra={"sparql_update": forms})
    return table.overwrite(cur.select(*current.columns))
