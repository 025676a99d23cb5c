"""SPARQL 1.1 Update over a quads DataFrame.

Reference surface: jena-arq's update machinery — grammar
(sparql/lang/UpdateParser via main.jj Update productions), algebra
(sparql/modify/request/Update*.java: UpdateDataInsert/-Delete,
UpdateDeleteWhere, UpdateModify, UpdateLoad/Clear/Create/Drop/Add/
Copy/Move), execution (sparql/modify/UpdateEngineWorker.java).

Spark realization: the graph store is an immutable quads DataFrame
``(graph nullable, subj, pred, obj)``; every operation is a pure
transformation returning a NEW DataFrame — deletions are null-safe
anti-joins, insertions are union + distinct (RDF graphs are sets), and
DELETE/INSERT WHERE instantiates both templates from ONE solution set
computed against the pre-update store, so the "Halloween problem"
(re-reading your own writes) cannot occur by construction.

Graph existence follows TDB2 semantics: a named graph exists iff it has
at least one quad (no empty-graph bookkeeping), so CREATE GRAPH is a
validated no-op — the same observable behavior Jena exhibits on TDB
datasets.

Scale notes: each operation is one anti-join and/or one union+distinct
on the store — shuffle on the quad hash, AQE-sized; template
instantiation reuses the CONSTRUCT machinery (per-solution fresh bnodes
via a checkpointed row id).  The per-op ``dropDuplicates`` is the set
semantics of RDF, not an extra: at scale it is the same dedup any
loader's merge performs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pinning import pin
from ..skolem import BNodeAllocator, doc_seed
from ..terms import RDFSyntaxError
from . import functions as tf
from .sparql import (
    Group,
    GraphPat,
    SparqlParser,
    TriplePat,
    _compile_group,
    _compile_scope,
)

Quad = Tuple[Optional[str], str, str, str]


class UpdateFailure(Exception):
    """A failing update operation (SPARQL 1.1 Update §3.1: the request
    aborts; SILENT turns the failure into a no-op)."""


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class InsertData:
    quads: List[Tuple[Optional[str], TriplePat]]


@dataclass
class DeleteData:
    quads: List[Tuple[Optional[str], TriplePat]]


@dataclass
class DeleteWhere:
    quads: List[Tuple[Optional[str], TriplePat]]
    base: Optional[str] = None  # the operation's BASE


@dataclass
class Modify:
    delete: List[Tuple[Optional[str], TriplePat]]
    insert: List[Tuple[Optional[str], TriplePat]]
    where: Group
    with_g: Optional[str] = None
    using: Optional[Tuple[List[str], List[str]]] = None  # (USING, USING NAMED)
    base: Optional[str] = None  # the operation's BASE, for IRI()/URI()


@dataclass
class Load:
    silent: bool
    iri: str
    into: Optional[str] = None


@dataclass
class GraphOp:  # CLEAR / DROP / CREATE
    kind: str               # "clear" | "drop" | "create"
    silent: bool
    target: Tuple           # ("graph", g) | ("default",) | ("named",) | ("all",)


@dataclass
class CopyOp:  # ADD / COPY / MOVE
    kind: str               # "add" | "copy" | "move"
    silent: bool
    src: Tuple              # ("default",) | ("graph", g)
    dst: Tuple


# ---------------------------------------------------------------------------
# Parser (Update grammar on top of the shared SPARQL parser)
# ---------------------------------------------------------------------------

class UpdateParser(SparqlParser):
    def parse_update(self) -> List[object]:
        ops: List[object] = []
        while True:
            self._prologue()
            if self.tok.type == "EOF":
                break
            ops.append(self._operation())
            if self.tok.type == ";":
                self._advance()
                continue
            if self.tok.type == "EOF":
                break
            raise RDFSyntaxError(
                f"expected ';' or end of update, got {self.tok.type}"
            )
        # a blank-node label may not be reused across operations of one
        # request (Update §19.6; syntax-update-54)
        seen_labels: dict = {}
        for i, op in enumerate(ops):
            if isinstance(op, InsertData):
                for gctx, tp in op.quads:
                    for t in (tp.s, tp.o):
                        if t.startswith("?__anon_"):
                            j = seen_labels.setdefault(t, i)
                            if j != i:
                                raise RDFSyntaxError(
                                    f"blank node label reused across "
                                    f"operations: _{t[7:]}"
                                )
        return ops

    @staticmethod
    def _check_quads(quads, what: str, allow_bnodes: bool) -> None:
        """Grammar-level QuadData/template restrictions (§19.5-19.6):
        no variables in DATA, no blank nodes in any DELETE form."""
        for gctx, tp in quads:
            for t, is_graph in ((gctx, True), (tp.s, False), (tp.p, False),
                                (tp.o, False)):
                if t is None:
                    continue
                if _is_anon(t):
                    if not allow_bnodes or is_graph:
                        raise RDFSyntaxError(
                            f"blank node not allowed in {what}"
                        )
                elif t.startswith("?") and "DATA" in what:
                    raise RDFSyntaxError(f"variable not allowed in {what}")

    def _prologue(self) -> None:
        while self._kw() in ("prefix", "base"):
            if self._kw() == "prefix":
                self._advance()
                ns = self._expect("PNAME")
                if ns.value2 != "":
                    raise RDFSyntaxError(
                        f"bad prefix declaration {ns.value}:{ns.value2}"
                    )
                iri = self._expect("IRI")
                self.prefixes[ns.value] = self.resolver.resolve(iri.value)
            else:
                self._advance()
                iri = self._expect("IRI")
                self.resolver.set_base(iri.value)

    def _operation(self):
        kw = self._kw()
        if kw == "insert":
            self._advance()
            if self._kw() == "data":
                self._advance()
                quads = self._quad_block()
                self._check_quads(quads, "INSERT DATA", allow_bnodes=True)
                return InsertData(quads)
            ins = self._quad_block()
            return self._modify_tail([], ins)
        if kw == "delete":
            self._advance()
            if self._kw() == "data":
                self._advance()
                quads = self._quad_block()
                self._check_quads(quads, "DELETE DATA", allow_bnodes=False)
                return DeleteData(quads)
            if self._kw() == "where":
                self._advance()
                quads = self._quad_block()
                self._check_quads(quads, "DELETE WHERE", allow_bnodes=False)
                return DeleteWhere(quads, self.resolver.base)
            dele = self._quad_block()
            self._check_quads(dele, "DELETE template", allow_bnodes=False)
            ins: List = []
            if self._kw() == "insert":
                self._advance()
                ins = self._quad_block()
            return self._modify_tail(dele, ins)
        if kw == "with":
            self._advance()
            with_g = self._term_encoded()
            op = self._operation()
            if not isinstance(op, Modify):
                raise RDFSyntaxError("WITH requires DELETE/INSERT … WHERE")
            op.with_g = with_g
            return op
        if kw == "load":
            self._advance()
            silent = self._silent()
            iri = self._term_encoded()
            into = None
            if self._kw() == "into":
                self._advance()
                self._expect_kw("graph")
                into = self._term_encoded()
            return Load(silent, iri, into)
        if kw in ("clear", "drop"):
            self._advance()
            silent = self._silent()
            return GraphOp(kw, silent, self._graph_target())
        if kw == "create":
            self._advance()
            silent = self._silent()
            self._expect_kw("graph")
            return GraphOp("create", silent, ("graph", self._term_encoded()))
        if kw in ("add", "move", "copy"):
            self._advance()
            silent = self._silent()
            src = self._graph_or_default()
            self._expect_kw("to")
            dst = self._graph_or_default()
            return CopyOp(kw, silent, src, dst)
        raise RDFSyntaxError(f"unknown update operation at {self.tok.value!r}")

    def _modify_tail(self, dele, ins) -> Modify:
        frm: List[str] = []
        named: List[str] = []
        while self._kw() == "using":
            self._advance()
            if self._kw() == "named":
                self._advance()
                named.append(self._term_encoded())
            else:
                frm.append(self._term_encoded())
        self._expect_kw("where")
        where = self._group()
        using = (frm, named) if (frm or named) else None
        return Modify(dele, ins, where, using=using, base=self.resolver.base)

    def _silent(self) -> bool:
        if self._kw() == "silent":
            self._advance()
            return True
        return False

    def _expect_kw(self, word: str) -> None:
        if self._kw() != word:
            raise RDFSyntaxError(f"expected {word.upper()}, got {self.tok.value!r}")
        self._advance()

    def _graph_target(self) -> Tuple:
        kw = self._kw()
        if kw == "graph":
            self._advance()
            return ("graph", self._term_encoded())
        if kw in ("default", "named", "all"):
            self._advance()
            return (kw,)
        raise RDFSyntaxError("expected GRAPH <iri> / DEFAULT / NAMED / ALL")

    def _graph_or_default(self) -> Tuple:
        if self._kw() == "default":
            self._advance()
            return ("default",)
        if self._kw() == "graph":
            self._advance()
        return ("graph", self._term_encoded())

    def _quad_block(self) -> List[Tuple[Optional[str], TriplePat]]:
        """'{' ( TriplesTemplate | GRAPH VarOrIri '{' TriplesTemplate '}' )* '}'
        → [(graph_ctx, TriplePat)] — graph_ctx None / encoded term / ?var."""
        self._expect("{")
        out: List[Tuple[Optional[str], TriplePat]] = []
        self._bn_track = False  # update templates: labels scope per operation

        def triples_into(gctx) -> None:
            g2 = Group()
            while self.tok.type not in ("}", "EOF") and self._kw() != "graph":
                self._triples_block(g2)
                while self.tok.type == ".":
                    self._advance()
            for el in g2.elements:
                if not isinstance(el, TriplePat):
                    raise RDFSyntaxError(
                        "only triple patterns are allowed in update templates"
                    )
                out.append((gctx, el))

        while self.tok.type != "}":
            if self.tok.type == "EOF":
                # triples_into() consumes nothing at EOF, so without this
                # the loop never terminates (a malformed "DELETE WHERE {"
                # would hang the driver)
                raise RDFSyntaxError("unterminated quad block in update")
            if self._kw() == "graph":
                self._advance()
                gterm = self._term_or_var()
                self._expect("{")
                g2 = Group()
                while self.tok.type != "}":
                    if self.tok.type == "EOF":
                        raise RDFSyntaxError(
                            "unterminated GRAPH block in update template"
                        )
                    self._triples_block(g2)
                    while self.tok.type == ".":
                        self._advance()
                self._advance()
                while self.tok.type == ".":
                    self._advance()
                for el in g2.elements:
                    if not isinstance(el, TriplePat):
                        raise RDFSyntaxError(
                            "only triple patterns are allowed in update templates"
                        )
                    out.append((gterm, el))
            else:
                triples_into(None)
        self._advance()
        self._bn_track = True
        return out


# ---------------------------------------------------------------------------
# Execution
# ---------------------------------------------------------------------------

_STORE_SCHEMA = "graph string, subj string, pred string, obj string"
# _union broadcasts a delta whose estimated encoded size is at most this
# (32 MB) and anti-joins it through a shuffle above it.
_UNION_BROADCAST_MAX_BYTES = 32 * 1024 * 1024


def _is_anon(t: str) -> bool:
    return t.startswith("?__anon")


def _ground_quads(
    quads: List[Tuple[Optional[str], TriplePat]],
    alloc: BNodeAllocator,
    allow_bnodes: bool,
    what: str,
) -> List[Quad]:
    """QuadData → ground quads.  Variables are illegal; blank nodes are
    scoped to the request (same label → same bnode; [] → fresh)."""
    anon_map: dict = {}

    def conv(t: str, is_graph: bool = False) -> Optional[str]:
        if t is None:
            return None
        if _is_anon(t):
            if not allow_bnodes or is_graph:
                raise RDFSyntaxError(f"blank node not allowed in {what}")
            b = anon_map.get(t)
            if b is None:
                label = t[len("?__anon_"):] if t.startswith("?__anon_") else None
                b = "_:" + (alloc.get(label) if label else alloc.fresh())
                anon_map[t] = b
            return b
        if t.startswith("?"):
            raise RDFSyntaxError(f"variable not allowed in {what}")
        return t

    out: List[Quad] = []
    for gctx, tp in quads:
        out.append((conv(gctx, True), conv(tp.s), conv(tp.p), conv(tp.o)))
    return out


def _quads_to_df(spark, quads: List[Quad]) -> DataFrame:
    return spark.createDataFrame(quads, _STORE_SCHEMA)


def _valid_quads(df: DataFrame) -> DataFrame:
    """Drop rows that do not form RDF quads (unbound template vars,
    literal subjects/predicates/graphs — UpdateEngineWorker filters the
    same way via Quad validity)."""
    s, p, o, g = F.col("subj"), F.col("pred"), F.col("obj"), F.col("graph")
    ok = (
        s.isNotNull() & p.isNotNull() & o.isNotNull()
        & (s.startswith("<") | s.startswith("_:"))
        & p.startswith("<")
        & (g.isNull() | g.startswith("<"))
    )
    return df.filter(ok)


def _minus(store: DataFrame, removal: DataFrame) -> DataFrame:
    r = removal.select(
        F.col("graph").alias("__g"), F.col("subj").alias("__s"),
        F.col("pred").alias("__p"), F.col("obj").alias("__o"),
    ).dropDuplicates()
    cond = (
        store["graph"].eqNullSafe(r["__g"])
        & (store["subj"] == r["__s"])
        & (store["pred"] == r["__p"])
        & (store["obj"] == r["__o"])
    )
    return store.join(r, cond, "left_anti")


def _union(
    store: DataFrame, add: DataFrame, known_small: bool = False,
    pre_deduped: bool = False,
) -> DataFrame:
    """Delta-shaped insert (set semantics without re-shuffling the store).

    The store is distinct by invariant — sparql_update() normalizes once
    on entry and every operation here preserves the set property — so
    the old full-store ``dropDuplicates()`` per op was redundant and, at
    corpus scale, turned every 3-quad INSERT DATA into a full-shuffle
    job.  Instead: dedup the (small) delta, subtract the rows the store
    already has, append the remainder with a plain union.

    The subtraction is shaped so the STORE is never exchanged: a normal
    ``delta ANTI JOIN store`` would shuffle both sides (the broadcastable
    side of an anti join is the right one).  We flip it — semi-join the
    store against the *broadcast* delta (BroadcastHashJoin: the store is
    only streamed) to get the already-present rows (≤ |delta|), then
    anti-join the delta against that small overlap.  For deltas too big
    to broadcast (a whole-graph ADD, a store-sized INSERT ... WHERE) we
    fall back to the plain anti join: one shuffle, still cheaper than
    the old distinct over store ∪ delta.

    Set semantics per sparql/modify/UpdateEngineWorker.java (Jena's
    graph add is idempotent; the stored dataset is a quad set)."""
    a = add.select(*store.columns)
    if not pre_deduped:
        a = a.dropDuplicates()
    if not known_small:
        # the delta is about to be scanned 2-3×; pin it and learn its
        # size so we can pick the broadcast or the shuffle formulation.
        # The cutoff is BYTE-based: F.broadcast bypasses
        # autoBroadcastJoinThreshold, and a row-count gate lets a
        # multi-hundred-MB hashed relation of long encoded terms onto
        # every executor (OOM at cluster scale).  Estimate the encoded
        # size from term lengths (+16B/row row overhead), observed in
        # the pinning pass, and cap it at _UNION_BROADCAST_MAX_BYTES.
        a, sz = pin(
            a,
            n=F.count(F.lit(1)),
            chars=F.sum(
                F.coalesce(F.length("graph"), F.lit(0))
                + F.length("subj") + F.length("pred") + F.length("obj")
            ),
        )
        est_bytes = (sz["chars"] or 0) + 16 * (sz["n"] or 0)
        known_small = est_bytes <= _UNION_BROADCAST_MAX_BYTES
    delta = a.select(
        F.col("graph").alias("__g"), F.col("subj").alias("__s"),
        F.col("pred").alias("__p"), F.col("obj").alias("__o"),
    )
    cond = (
        store["graph"].eqNullSafe(delta["__g"])
        & (store["subj"] == delta["__s"])
        & (store["pred"] == delta["__p"])
        & (store["obj"] == delta["__o"])
    )
    if known_small:
        overlap = store.join(F.broadcast(delta), cond, "left_semi").select(
            F.col("graph").alias("__g"), F.col("subj").alias("__s"),
            F.col("pred").alias("__p"), F.col("obj").alias("__o"),
        )
        cond2 = (
            a["graph"].eqNullSafe(overlap["__g"])
            & (a["subj"] == overlap["__s"])
            & (a["pred"] == overlap["__p"])
            & (a["obj"] == overlap["__o"])
        )
        fresh = a.join(F.broadcast(overlap), cond2, "left_anti")
    else:
        fresh = a.join(store, _flip_cond(a, store), "left_anti")
    return store.unionByName(fresh)


def _flip_cond(left: DataFrame, right: DataFrame):
    return (
        left["graph"].eqNullSafe(right["graph"])
        & (left["subj"] == right["subj"])
        & (left["pred"] == right["pred"])
        & (left["obj"] == right["obj"])
    )


def _using_dataset(store: DataFrame, using: Tuple) -> DataFrame:
    """USING / USING NAMED restrict the dataset the WHERE clause sees —
    as a plain *view* of the graph store (the reference's DynamicDatasets,
    UpdateEngineWorker.java processUsing), NOT the query-side RDF merge:
    no blank-node relabeling, so solutions bind the store's own bnodes
    and DELETE templates can match them.  (Query FROM keeps the
    fresh-merge semantics in sparql._apply_datasets; the two differ on
    purpose.)"""
    frm, named = using
    parts = []
    if frm:
        dflt = store.filter(F.col("graph").isin(list(frm))).select(
            F.lit(None).cast("string").alias("graph"), "subj", "pred", "obj"
        )
        if len(frm) > 1:
            # set-union of the USING graphs: the same triple in two
            # graphs contributes ONE default-graph solution
            dflt = dflt.dropDuplicates()
        parts.append(dflt)
    if named:
        parts.append(store.filter(F.col("graph").isin(list(named))))
    if not parts:
        return store.limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _graph_rows(store: DataFrame, target: Tuple) -> F.Column:
    g = F.col("graph")
    if target[0] == "graph":
        return g.eqNullSafe(F.lit(target[1]))
    if target[0] == "default":
        return g.isNull()
    if target[0] == "named":
        return g.isNotNull()
    return F.lit(True)  # all


def _pattern_group(quads: List[Tuple[Optional[str], TriplePat]]) -> Group:
    """Quad patterns → a Group (GRAPH contexts become GraphPat)."""
    g = Group()
    by_ctx: List[Tuple[Optional[str], List[TriplePat]]] = []
    for gctx, tp in quads:
        if by_ctx and by_ctx[-1][0] == gctx:
            by_ctx[-1][1].append(tp)
        else:
            by_ctx.append((gctx, [tp]))
    for gctx, tps in by_ctx:
        if gctx is None:
            g.elements.extend(tps)
        else:
            g.elements.append(GraphPat(gctx, Group(list(tps))))
    return g


def _instantiate(
    sol: DataFrame,
    quads: List[Tuple[Optional[str], TriplePat]],
    default_g: Optional[str],
    fresh_bnodes: bool,
    ns: str,
) -> DataFrame:
    """Template quads × solutions → quads DataFrame.  ``fresh_bnodes``:
    template blank nodes mint fresh labels per solution row (INSERT,
    like CONSTRUCT); otherwise they are illegal (DELETE §3.1.3.2)."""
    anon = sorted({
        t[1:]
        for gctx, tp in quads
        for t in ((gctx,) if gctx else ()) + (tp.s, tp.p, tp.o)
        if t and _is_anon(t)
    })
    if anon and not fresh_bnodes:
        raise RDFSyntaxError("blank nodes are not allowed in DELETE templates")
    if anon:
        sol = sol.withColumn("__rowid", F.monotonically_increasing_id())
        for v in anon:
            if v not in sol.columns:
                sol = sol.withColumn(
                    v, F.concat(F.lit(f"_:{ns}{v}r"), F.col("__rowid").cast("string"))
                )
        sol = sol.drop("__rowid").localCheckpoint(eager=True)

    cols = {f.name: f.dataType.simpleString() for f in sol.schema.fields}

    def term_col(t: Optional[str], dflt: Optional[str]) -> F.Column:
        if t is None:
            return F.lit(dflt).cast("string")
        if t.startswith("?"):
            name = t[1:]
            dt = cols.get(name)
            if dt is None:
                return F.lit(None).cast("string")  # unbound: dropped later
            c = F.col(name)
            if dt == "string":
                return c
            # native value from an aggregate/subquery → encoded literal
            if dt in ("bigint", "int", "smallint", "tinyint"):
                xsd_dt = tf.XSD + "integer"
            elif dt in ("double", "float", "decimal"):
                xsd_dt = tf.XSD + "double"
            elif dt == "boolean":
                xsd_dt = tf.XSD + "boolean"
            else:
                return c.cast("string")
            return F.when(
                c.isNotNull(),
                F.concat(F.lit('"'), c.cast("string"),
                         F.lit(f'"^^<{xsd_dt}>')),
            )
        return F.lit(t)

    out = None
    for gctx, tp in quads:
        row = sol.select(
            term_col(gctx, default_g).alias("graph"),
            term_col(tp.s, None).alias("subj"),
            term_col(tp.p, None).alias("pred"),
            term_col(tp.o, None).alias("obj"),
        )
        out = row if out is None else out.unionAll(row)
    return _valid_quads(out)


def _load_document(spark, iri: str, base: Optional[str]):
    """LOAD target → quads (file:// and relative-to-base paths only; no
    network — matches the engine's no-network posture)."""
    from ..parsers.registry import EXT_TO_LANG, parse_document

    raw = iri[1:-1]
    if raw.startswith("file://"):
        path = raw[len("file://"):]
    elif "://" not in raw:
        path = raw
    else:
        raise UpdateFailure(f"LOAD {raw}: only file:// sources are supported")
    if not os.path.exists(path):
        raise UpdateFailure(f"LOAD {raw}: no such document")
    ext = path.rsplit(".", 1)[-1].lower()
    lang = EXT_TO_LANG.get(ext)
    if lang is None:
        raise UpdateFailure(f"LOAD {raw}: unknown format .{ext}")
    with open(path, encoding="utf-8", newline="") as f:
        content = f.read()
    quads, err = parse_document("update-load", path, "0" * 40, lang, content)
    if err is not None:
        raise UpdateFailure(f"LOAD {raw}: {err}")
    return quads


def sparql_update(
    store: DataFrame, request: str, base: Optional[str] = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Apply a SPARQL 1.1 Update request to a quads DataFrame and return
    the new store.  The input may also be a triples DataFrame (no
    ``graph`` column): a null graph column is added.

    The store is kept DISTINCT throughout (RDF set semantics).  Pass
    ``assume_distinct=True`` when the input is already duplicate-free
    (materialized stores, prior sparql_update output) to skip the one
    entry normalization shuffle — every operation after that point is
    delta-shaped and never re-shuffles the store (the round-3 full-store
    ``dropDuplicates()`` per op is gone)."""
    if "graph" not in store.columns:
        store = store.select(
            F.lit(None).cast("string").alias("graph"), "subj", "pred", "obj"
        )
    else:
        store = store.select("graph", "subj", "pred", "obj")
    if not assume_distinct:
        store = store.dropDuplicates()
    spark = store.sparkSession
    parser = UpdateParser(request, base)
    ops = parser.parse_update()
    alloc = BNodeAllocator(doc_seed("sparql-update", request, "req"))
    # lineage hygiene: each delta-shaped op adds a couple of joins to the
    # plan; truncate every few mutations so a long request does not
    # compile an ever-deeper tree (Modify checkpoints on its own)
    muts = 0

    def _trim(df: DataFrame) -> DataFrame:
        nonlocal muts
        muts += 1
        return df.localCheckpoint(eager=True) if muts % 8 == 0 else df

    def _solutions(data: DataFrame, op, where: Group, graph_term=None):
        # a WHERE clause compiles in its operation's scope, probing the
        # data it reads (an earlier operation may have added CDT literals)
        with _compile_scope(op.base, request, data):
            return _compile_group(data, where, graph_term=graph_term)

    for idx, op in enumerate(ops):
        if isinstance(op, InsertData):
            quads = _ground_quads(op.quads, alloc, True, "INSERT DATA")
            # ground data dedups at the driver: the delta then needs no
            # shuffle at all (the plan for a 3-quad INSERT DATA contains
            # zero Exchange over the store — see test_update_plan)
            quads = list(dict.fromkeys(quads))
            store = _trim(_union(
                store, _quads_to_df(spark, quads),
                known_small=True, pre_deduped=True,
            ))
        elif isinstance(op, DeleteData):
            quads = _ground_quads(op.quads, alloc, False, "DELETE DATA")
            store = _trim(_minus(store, _quads_to_df(spark, quads)))
        elif isinstance(op, DeleteWhere):
            for gctx, tp in op.quads:
                for t in (gctx, tp.s, tp.p, tp.o):
                    if t and _is_anon(t):
                        raise RDFSyntaxError(
                            "blank nodes are not allowed in DELETE WHERE"
                        )
            sol = _solutions(store, op, _pattern_group(op.quads))
            removal = _instantiate(sol, op.quads, None, False, f"u{idx}")
            store = _trim(_minus(store, removal))
        elif isinstance(op, Modify):
            data = store
            if op.using is not None:
                data = _using_dataset(store, op.using)
                graph_term = None
            else:
                graph_term = op.with_g
            sol = _solutions(data, op, op.where, graph_term)
            # both templates instantiate from the SAME pre-update solutions
            if op.delete:
                removal = _instantiate(sol, op.delete, op.with_g, False, f"u{idx}")
                new_store = _minus(store, removal)
            else:
                new_store = store
            if op.insert:
                addition = _instantiate(sol, op.insert, op.with_g, True, f"u{idx}")
                new_store = _union(new_store, addition)
            # pin the result so later ops cannot re-observe the new state
            # through lazy recomputation of `sol` (the store stays
            # distinct: _minus removes rows, _union dedups its delta)
            store = new_store.localCheckpoint(eager=True)
            continue
        elif isinstance(op, Load):
            try:
                quads = _load_document(spark, op.iri, parser.resolver.base)
            except UpdateFailure:
                if op.silent:
                    continue
                raise
            if op.into is not None:
                rows = [(op.into, s, p, o) for _g, s, p, o in quads]
            else:
                rows = [(g, s, p, o) for g, s, p, o in quads]
            rows = list(dict.fromkeys(rows))
            store = _trim(_union(
                store, _quads_to_df(spark, rows),
                known_small=True, pre_deduped=True,
            ))
        elif isinstance(op, GraphOp):
            if op.kind == "create":
                # TDB2 semantics: graphs exist iff non-empty; CREATE on an
                # existing (non-empty) graph is the error case
                exists = not store.filter(_graph_rows(store, op.target)).isEmpty()
                if exists and not op.silent:
                    raise UpdateFailure(f"CREATE: graph {op.target[1]} exists")
                continue
            if op.target[0] == "graph" and op.kind in ("clear", "drop"):
                exists = not store.filter(_graph_rows(store, op.target)).isEmpty()
                if not exists and not op.silent:
                    raise UpdateFailure(
                        f"{op.kind.upper()}: no such graph {op.target[1]}"
                    )
            store = store.filter(~_graph_rows(store, op.target))
        elif isinstance(op, CopyOp):
            src_rows = store.filter(_graph_rows(store, op.src))
            if op.src[0] == "graph" and src_rows.isEmpty():
                if op.silent:
                    continue
                raise UpdateFailure(f"{op.kind.upper()}: no such graph {op.src[1]}")
            if op.src == op.dst:
                continue  # to-self is a no-op (§3.2.x)
            dst_g = F.lit(None).cast("string") if op.dst[0] == "default" \
                else F.lit(op.dst[1])
            moved = src_rows.select(
                dst_g.alias("graph"), "subj", "pred", "obj"
            )
            if op.kind == "add":
                store = _trim(_union(store, moved))
            else:  # copy / move replace the destination
                # the destination slice was just cleared and `moved` is a
                # graph-relabeled slice of the (distinct) store, so no
                # duplicate is possible — plain append, zero joins
                store = _trim(
                    store.filter(~_graph_rows(store, op.dst)).unionByName(moved)
                )
                if op.kind == "move":
                    store = store.filter(~_graph_rows(store, op.src))
        else:  # pragma: no cover
            raise RDFSyntaxError(f"unhandled update op {op!r}")
    return store
