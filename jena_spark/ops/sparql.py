"""SPARQL-lite: a SELECT-query subset compiled to DataFrame plans.

The reference's user API is SPARQL (Algebra.compile → OpExecutor,
SURVEY.md §3.2).  This module gives users of this engine the same entry
point for the common query shapes, reusing the Turtle tokenizer in
SPARQL mode and compiling straight to the DataFrame layer (the Op tree
≅ Catalyst logical plan; Catalyst is the optimizer).

Supported subset (documented; anything else raises):

- ``PREFIX`` declarations, ``BASE``
- Query forms: ``SELECT [DISTINCT] ?v … | *``, ``ASK``, ``CONSTRUCT``
- ``WHERE { … }`` with: triple patterns (incl. ``a``, prefixed names,
  literals, numeric literals, ``;``/``,`` lists), property paths
  (``^p  p+  p*  p?  p1/p2  p1|p2  !(p1|p2)``), ``FILTER`` expressions,
  ``FILTER [NOT] EXISTS { … }``, ``OPTIONAL { … }``, ``MINUS { … }``,
  nested ``{ … } UNION { … }``, ``GRAPH ?g/{iri} { … }``,
  ``VALUES ?v { … }``, ``BIND(expr AS ?v)``, subqueries ``{ SELECT … }``
- FILTER expressions: comparisons (``= != < > <= >=`` — numeric when the
  operand parses as a number, lexical otherwise), ``&& || !``,
  ``BOUND REGEX CONTAINS STRSTARTS STRLEN STR LANG DATATYPE
  isIRI isLiteral isBlank sameTerm``
- ``GROUP BY ?v …`` with aggregates ``COUNT SUM AVG MIN MAX SAMPLE
  GROUP_CONCAT`` (+``DISTINCT``) and ``HAVING(expr)`` over aggregate calls
- ``ORDER BY [ASC|DESC](expr)…`` (SPARQL total term order, numerics by
  value), ``LIMIT`` / ``OFFSET``

Joins between group-pattern elements use SPARQL compatible-mapping
semantics: a variable left unbound (null) by OPTIONAL / UNION / BIND is
compatible with any binding, and the merged row carries the bound value.
The compiler tracks which variables can be null and only pays for the
null-tolerant join when one of the join variables actually can be.

Not supported (use the DataFrame layer): SERVICE, named solution
sequences.  (EXISTS nested inside boolean expressions IS supported via
per-EXISTS marker joins; RDF 1.2 reified-triple / triple-term patterns
are supported in both pattern and expression position.)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Tuple, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..iri import IRIResolver
from ..terms import RDFSyntaxError, Term, mk_iri, mk_literal, RDF_TYPE
from ..terms import XSD_BOOLEAN, XSD_DECIMAL, XSD_DOUBLE, XSD_INTEGER
from ..parsers.tokenizer import (
    Token,
    Tokenizer,
    T_BNODE,
    T_COMMA,
    T_DECIMAL,
    T_DOT,
    T_DOUBLE,
    T_EOF,
    T_HATHAT,
    T_INTEGER,
    T_IRI,
    T_KEYWORD,
    T_LANGTAG,
    T_LANN,
    T_LBRACE,
    T_LBRACKET,
    T_LPAREN,
    T_LQT,
    T_LTT,
    T_OP,
    T_RANN,
    T_RBRACKET,
    T_RQT,
    T_RTT,
    T_TILDE,
    T_PNAME,
    T_RBRACE,
    T_RPAREN,
    T_SEMI,
    T_STRING,
    T_VAR,
)
from ..pinning import pin
from . import functions as tf
from .algebra import bgp

RDF_NS_BASE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_NS_REIFIES = RDF_NS_BASE + "reifies"


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class TriplePat:
    s: str
    p: str
    o: str  # "?var" or encoded term


@dataclass
class Filter:
    expr: "Expr"


@dataclass
class OptionalPat:
    pattern: "Group"


@dataclass
class UnionPat:
    left: "Group"
    right: "Group"


@dataclass
class ValuesPat:
    """Inline data (VALUES): vars are bare names; a ``None`` cell is
    UNDEF (unbound, compatible with anything in the join)."""
    vars: List[str]
    rows: List[List[Optional[str]]]


@dataclass
class LateralPat:
    """LATERAL (ARQ extension / SPARQL 1.2 WG item): evaluate the inner
    pattern once per LHS solution with its bindings in scope —
    correlated evaluation with per-solution modifiers (testing/ARQ/
    Lateral; sparql/algebra/op/OpLateral.java)."""
    pattern: "Group"


@dataclass
class ServicePat:
    """SERVICE [SILENT] — endpoints registered as local DataFrames
    execute (jena_spark.service, the ServiceExecutorRegistry seam);
    unregistered endpoints raise (SILENT: unit solution).  No network
    federation — the HTTP executor is the one registry entry this
    engine deliberately lacks."""
    silent: bool
    endpoint: str
    pattern: "Group"


@dataclass
class GraphPat:
    graph: str          # "?var" or encoded IRI term
    pattern: "Group"


@dataclass
class PathPat:
    """Property-path pattern: src (path-expr) dst.  ``expr`` is a nested
    tuple AST mirroring sparql/path/P_* —
    ("link", iri) | ("inv", p) | ("seq", [p…]) | ("alt", [p…]) |
    ("mod", p, "+"|"*"|"?") | ("neg", [iris]) — fully recursive, so
    grouped paths like ``(:p/:q)?`` and ``(^:p)*`` compose."""
    s: str
    o: str
    expr: tuple = ()


@dataclass
class BindPat:
    expr: "Expr"
    var: str


@dataclass
class UnfoldPat:
    """UNFOLD(expr AS ?v1 [, ?v2]) — the CDT row expander (Grammar
    main.jj Unfold(), OpUnfold.java, QueryIterUnfold.java): a cdt:List
    value yields one row per element (?v2 = 1-based index), a cdt:Map
    one row per entry (?v1 = key, ?v2 = value); anything else passes the
    row through with the variables unbound."""
    expr: "Expr"
    var1: str
    var2: Optional[str] = None


@dataclass
class ExistsPat:
    """FILTER EXISTS { … } / FILTER NOT EXISTS { … } —
    OpExecutor.java:247-259 (compiled to left_semi / left_anti)."""
    pattern: "Group"
    positive: bool


@dataclass
class MinusPat:
    """MINUS { … } — OpMinus.java + QueryIterMinus semantics: remove a
    solution when a right solution is compatible AND shares at least one
    bound variable (disjoint-domain rows survive)."""
    pattern: "Group"


@dataclass
class SubSelectPat:
    """{ SELECT … } subquery, joined to the enclosing group on its
    projected variables."""
    query: "SelectQuery"


@dataclass
class SubGroupPat:
    """A nested { … } group — kept as its own scope (NOT inlined): its
    filters see only its own bindings and its join with the enclosing
    group happens after the inner group is fully evaluated (OpJoin of
    two group patterns, AlgebraGenerator.compileElement)."""
    pattern: "Group"


@dataclass
class TermDecomp:
    """SPARQL 1.2 triple-term decomposition constraint: ``var`` (an
    already-bound variable holding an encoded term) must be a triple term
    whose components match/bind s, p, o (each '?name' or encoded term).
    Compiled as withColumn/filter over regexp component extraction —
    valid because inner subjects/predicates are IRIs/bnodes (no spaces),
    so the first two space-splits are exact even with a nested object."""
    var: str
    s: str
    p: str
    o: str


@dataclass
class Group:
    elements: List[object] = field(default_factory=list)


@dataclass
class Expr:
    kind: str              # var | const | cmp | and | or | not | call
    value: object = None   # var name / encoded term / operator / fn name
    args: List["Expr"] = field(default_factory=list)


@dataclass
class AggItem:
    fn: str                # COUNT SUM AVG MIN MAX SAMPLE GROUP_CONCAT FOLD …
    var: Optional[str]     # None = COUNT(*)
    distinct: bool
    alias: str
    sep: str = " "         # GROUP_CONCAT separator (SPARQL default " ")
    # FOLD extensions (AggFoldList/AggFoldMap): FOLD(?k, ?v) → map fold;
    # FOLD(?v ORDER BY cond …) → element order inside the folded list
    var2: Optional[str] = None
    order: Optional[List[Tuple["Expr", bool]]] = None


@dataclass
class SelectQuery:
    variables: List[str]   # [] = * (when no aggregates)
    aggregates: List[AggItem]
    group_by: List[str]
    distinct: bool
    where: Group
    order: List[Tuple[Expr, bool]]  # (expr, ascending)
    limit: Optional[int]
    offset: Optional[int]
    having: Optional[Expr] = None
    having_aggs: List[AggItem] = field(default_factory=list)  # hidden aggs
    proj_exprs: List[Tuple["Expr", str]] = field(default_factory=list)
    # GROUP BY (expr [AS ?v]) keys: computed per solution BEFORE the
    # groupBy; aliasless keys get a __gexprN name and never project
    group_exprs: List[Tuple["Expr", str]] = field(default_factory=list)
    # hoisted aggregate ARGUMENT expressions (AVG(expr) etc.): per-
    # solution columns named __aexprN, referenced by AggItem.var
    agg_arg_exprs: List[Tuple["Expr", str]] = field(default_factory=list)
    # FROM / FROM NAMED graph IRIs (encoded terms) — dataset construction
    datasets: Optional[Tuple[List[str], List[str]]] = None
    # resolved BASE, threaded to the compiler for IRI()/URI() (set on the
    # top-level AST by _parse_query; subqueries inherit the enclosing one)
    base: Optional[str] = None


@dataclass
class ConstructQuery:
    template: List[TriplePat]
    where: Group
    datasets: Optional[Tuple[List[str], List[str]]] = None
    # triple-term constructions used by the template (RDF 1.2)
    decomps: List["TermDecomp"] = field(default_factory=list)
    base: Optional[str] = None


@dataclass
class AskQuery:
    where: Group
    datasets: Optional[Tuple[List[str], List[str]]] = None
    base: Optional[str] = None


@dataclass
class DescribeQuery:
    """DESCRIBE VarOrIri+ [WHERE …] | DESCRIBE * WHERE … — description
    semantics are Jena's default handler (DescribeBNodeClosureImpl):
    the concise bounded description, i.e. all triples with the node as
    subject plus the recursive closure over blank-node objects."""
    nodes: List[str]        # '?var' entries and/or encoded IRI terms
    where: Optional[Group]  # None = no pattern (plain DESCRIBE <iri>)
    star: bool = False      # DESCRIBE * — every visible variable
    datasets: Optional[Tuple[List[str], List[str]]] = None
    base: Optional[str] = None


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_KEYWORDS = {
    "select", "where", "prefix", "base", "filter", "optional", "union",
    "order", "by", "asc", "desc", "limit", "offset", "distinct", "values",
}


def _inscope_vars(elements) -> set:
    """Variables in scope after the listed group elements (§18.2.1) —
    used for the BIND / projection-alias scope rules.  MINUS and FILTER
    do not bind; OPTIONAL/UNION/GRAPH/subgroups/subqueries do."""
    out: set = set()
    for el in elements:
        if isinstance(el, TriplePat):
            for t in (el.s, el.p, el.o):
                if t.startswith("?"):
                    out.add(t[1:])
        elif isinstance(el, PathPat):
            for t in (el.s, el.o):
                if t.startswith("?"):
                    out.add(t[1:])
        elif isinstance(el, GraphPat):
            if el.graph.startswith("?"):
                out.add(el.graph[1:])
            out |= _inscope_vars(el.pattern.elements)
        elif isinstance(el, (SubGroupPat, OptionalPat)):
            out |= _inscope_vars(el.pattern.elements)
        elif isinstance(el, UnionPat):
            out |= _inscope_vars(el.left.elements)
            out |= _inscope_vars(el.right.elements)
        elif isinstance(el, BindPat):
            out.add(el.var)
        elif isinstance(el, UnfoldPat):
            out.add(el.var1)
            if el.var2:
                out.add(el.var2)
        elif isinstance(el, ValuesPat):
            out |= set(el.vars)
        elif isinstance(el, SubSelectPat):
            q = el.query
            out |= set(q.variables)
            out |= {a for _, a in q.proj_exprs}
            out |= {i.alias for i in q.aggregates}
            if not (q.variables or q.proj_exprs or q.aggregates):
                out |= _inscope_vars(q.where.elements)  # SELECT *
    return out


_CP_ESC_RE = __import__("re").compile(
    r"\\u([0-9a-fA-F]{4})|\\U([0-9a-fA-F]{8})"
)


def _codepoint_unescape(text: str) -> str:
    """SPARQL §19.2: \\uXXXX / \\UXXXXXXXX codepoint escapes may appear
    anywhere in a query/update string and are processed BEFORE parsing,
    as a purely textual pass with no regard to surrounding context
    (dawg syntax-esc-04/05; sparql12 codepoint-escapes incl. bad-03,
    where '\\\\u0041' becomes the *invalid* string escape '\\A')."""
    if "\\u" not in text and "\\U" not in text:
        return text

    def repl(m):
        cp = int(m.group(1) or m.group(2), 16)
        if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            raise RDFSyntaxError(f"illegal codepoint escape {m.group(0)}")
        return chr(cp)

    return _CP_ESC_RE.sub(repl, text)


class SparqlParser:
    def __init__(self, text: str, base: Optional[str] = None):
        text = _codepoint_unescape(text)
        self.tz = Tokenizer(text, sparql=True)
        self.tok = self.tz.next_token()
        self.prefixes: dict[str, str] = {}
        self.resolver = IRIResolver(base or "http://sparql.local/")
        self._allow_aggs = False
        self._agg_hoist: List[AggItem] = []
        self._agg_arg_hoist: List[Tuple[Expr, str]] = []
        self._anon_n = 0  # anonymous-variable counter ([] in patterns)
        # blank-node label scoping: a label may appear in only ONE basic
        # graph pattern of the query (dawg syn-bad-34/37/38, blabel-cross-*)
        self._bn_counter = 0
        self._bn_current = 0
        self._bn_seen: dict = {}
        self._bn_track = True

    def _advance(self) -> Token:
        t = self.tok
        self.tok = self.tz.next_token()
        return t

    def _expect(self, ttype: str, value: Optional[str] = None) -> Token:
        t = self.tok
        if t.type != ttype or (value is not None and t.value.lower() != value):
            raise RDFSyntaxError(
                f"line {t.line}: expected {value or ttype}, got {t.type} {t.value!r}"
            )
        return self._advance()

    def _peek_type(self) -> str:
        """Type of the token AFTER self.tok (1-token lookahead; the
        SPARQL tokenizer is a pure char scanner, so save/restore of the
        cursor is exact)."""
        tz = self.tz
        save = (tz.i, tz.line)
        t = tz.next_token()
        tz.i, tz.line = save
        return t.type

    def _kw(self) -> Optional[str]:
        if self.tok.type == T_KEYWORD:
            return self.tok.value.lower()
        return None

    # -- entry ---------------------------------------------------------------

    def parse(self) -> Union[SelectQuery, ConstructQuery, AskQuery]:
        while self._kw() in ("prefix", "base"):
            if self._kw() == "prefix":
                self._advance()
                ns = self._expect(T_PNAME)
                if ns.value2 != "":
                    # 'PREFIX ex:ex:' — PNAME_NS only (syn-bad-pname-*)
                    raise RDFSyntaxError(
                        f"bad prefix declaration {ns.value}:{ns.value2}"
                    )
                iri = self._expect(T_IRI)
                self.prefixes[ns.value] = self.resolver.resolve(iri.value)
            else:
                self._advance()
                iri = self._expect(T_IRI)
                self.resolver.set_base(iri.value)
        kw0 = self._kw()
        if kw0 == "ask":
            self._advance()
            ds = self._dataset_clauses()
            if self._kw() == "where":
                self._advance()
            return AskQuery(self._group(), datasets=ds)
        if kw0 == "construct":
            self._advance()
            if self._kw() in ("where", "from"):
                # CONSTRUCT [FROM…] WHERE { tp… } shorthand: the pattern
                # doubles as the template (triples-only pattern required)
                ds = self._dataset_clauses()
                self._expect(T_KEYWORD, "where")
                where = self._group()
                template = [
                    el for el in where.elements if isinstance(el, TriplePat)
                ]
                decomps = [
                    el for el in where.elements if isinstance(el, TermDecomp)
                ]
                if len(template) + len(decomps) != len(where.elements):
                    raise RDFSyntaxError(
                        "CONSTRUCT WHERE allows only triple patterns"
                    )
                return ConstructQuery(template, where, datasets=ds,
                                      decomps=decomps)
            tmpl_group = Group()
            self._expect(T_LBRACE)
            self._bn_track = False  # template bnodes are per-solution fresh
            while self.tok.type != T_RBRACE:
                self._triples_block(tmpl_group)
                while self.tok.type == T_DOT:
                    self._advance()
            self._bn_track = True
            self._advance()
            ds = self._dataset_clauses()
            self._expect(T_KEYWORD, "where")
            where = self._group()
            template = [el for el in tmpl_group.elements if isinstance(el, TriplePat)]
            decomps = [el for el in tmpl_group.elements if isinstance(el, TermDecomp)]
            return ConstructQuery(template, where, datasets=ds, decomps=decomps)
        if kw0 == "describe":
            self._advance()
            nodes: List[str] = []
            star = False
            if self.tok.type == T_OP and self.tok.value == "*":
                star = True
                self._advance()
            else:
                while self.tok.type in (T_VAR, T_IRI, T_PNAME):
                    nodes.append(self._term_or_var())
                if not nodes:
                    raise RDFSyntaxError("DESCRIBE needs variables/IRIs or *")
            ds = self._dataset_clauses()
            where = None
            if self._kw() == "where":
                self._advance()
                where = self._group()
            elif self.tok.type == T_LBRACE:
                where = self._group()
            if star and where is None:
                raise RDFSyntaxError("DESCRIBE * requires a WHERE pattern")
            if self.tok.type != T_EOF:
                raise RDFSyntaxError(f"trailing tokens at line {self.tok.line}")
            return DescribeQuery(nodes, where, star=star, datasets=ds)
        q = self._select_query()
        if self.tok.type != T_EOF:
            raise RDFSyntaxError(f"trailing tokens at line {self.tok.line}")
        return q

    def _select_query(self) -> SelectQuery:
        """SELECT clause through solution modifiers (stops at '}' / EOF) —
        reused for subqueries (Grammar/main.jj SubSelect)."""
        outer_hoist, outer_allow = self._agg_hoist, self._allow_aggs
        outer_arg_hoist = self._agg_arg_hoist
        self._agg_hoist, self._allow_aggs = [], False
        self._agg_arg_hoist = []
        self._expect(T_KEYWORD, "select")
        distinct = False
        if self._kw() == "distinct":
            distinct = True
            self._advance()
        elif self._kw() == "reduced":
            # REDUCED permits-but-does-not-require elimination; keeping
            # the full multiset matches the vendored DAWG goldens (and
            # is the cheapest plan: no shuffle)
            self._advance()
        variables: List[str] = []
        aggregates: List[AggItem] = []
        proj_exprs: List[Tuple[Expr, str]] = []
        while True:
            if self.tok.type == T_VAR:
                variables.append(self._advance().value)
            elif self.tok.type == T_OP and self.tok.value == "*" and not aggregates:
                self._advance()
                break
            elif self.tok.type == T_LPAREN:
                # (expr AS ?v) — expr may be or contain aggregate calls,
                # which are hoisted into hidden aggregate columns
                self._advance()
                self._allow_aggs = True
                try:
                    e = self._expr()
                finally:
                    self._allow_aggs = False
                self._expect(T_KEYWORD, "as")
                alias = self._expect(T_VAR).value
                self._expect(T_RPAREN)
                if (
                    e.kind == "plainvar"
                    and self._agg_hoist
                    and self._agg_hoist[-1].alias == e.value
                ):
                    # pure aggregate: surface it under the user's alias
                    item = self._agg_hoist.pop()
                    aggregates.append(
                        AggItem(item.fn, item.var, item.distinct, alias,
                                item.sep, item.var2, item.order)
                    )
                else:
                    proj_exprs.append((e, alias))
            else:
                break
        if not variables and not aggregates and self.tok.type != T_LBRACE and self._kw() not in ("where", "from"):
            raise RDFSyntaxError("SELECT needs variables, aggregates or *")
        datasets = self._dataset_clauses()
        if self._kw() == "where":
            self._advance()
        where = self._group()
        group_by: List[str] = []
        group_exprs: List[Tuple[Expr, str]] = []
        order: List[Tuple[Expr, bool]] = []
        limit = offset = None
        having: Optional[Expr] = None
        while self.tok.type == T_KEYWORD:
            kw = self._kw()
            if kw == "group":
                self._advance()
                self._expect(T_KEYWORD, "by")
                while True:
                    if self.tok.type == T_VAR:
                        group_by.append(self._advance().value)
                    elif self.tok.type == T_LPAREN:
                        # GroupCondition '(' Expression ('AS' Var)? ')'
                        # (§19.8 grammar [20]; reference evaluates the
                        # expr per solution and keys the group on it —
                        # sparql/core/VarExprList in OpGroup)
                        self._advance()
                        e = self._expr()
                        alias = None
                        if self.tok.type == T_KEYWORD and self._kw() == "as":
                            self._advance()
                            alias = self._expect(T_VAR).value
                        self._expect(T_RPAREN)
                        if alias is None:
                            # aliasless key: groupable, never projected
                            alias = f"__gexpr{len(group_exprs)}"
                        group_exprs.append((e, alias))
                        group_by.append(alias)
                    else:
                        break
                if not group_by:
                    raise RDFSyntaxError("GROUP BY needs variables")
            elif kw == "having":
                self._advance()
                self._expect(T_LPAREN)
                self._allow_aggs = True
                try:
                    having = self._expr()
                finally:
                    self._allow_aggs = False
                self._expect(T_RPAREN)
            elif kw == "order":
                self._advance()
                self._expect(T_KEYWORD, "by")
                while True:
                    asc = True
                    if self._kw() == "asc":
                        self._advance()
                        self._expect(T_LPAREN)
                        e = self._expr()
                        self._expect(T_RPAREN)
                    elif self._kw() == "desc":
                        asc = False
                        self._advance()
                        self._expect(T_LPAREN)
                        e = self._expr()
                        self._expect(T_RPAREN)
                    elif self.tok.type == T_VAR:
                        e = Expr("var", self._advance().value)
                    elif self.tok.type == T_LPAREN:
                        # OrderCondition ::= … | BrackettedExpression
                        self._advance()
                        e = self._expr()
                        self._expect(T_RPAREN)
                    elif (
                        self.tok.type in (T_PNAME, T_IRI)
                        or (self.tok.type == T_KEYWORD
                            and self.tok.value.lower() not in (
                                "limit", "offset", "values", "group",
                                "having", "asc", "desc"))
                    ):
                        # Constraint: BuiltInCall or FunctionCall
                        e = self._unary()
                    else:
                        break
                    order.append((e, asc))
            elif kw == "limit":
                self._advance()
                limit = int(self._expect(T_INTEGER).value)
            elif kw == "offset":
                self._advance()
                offset = int(self._expect(T_INTEGER).value)
            else:
                break
        if self._kw() == "values":
            # ValuesClause (§19.8: joined with the query pattern)
            self._advance()
            where.elements.append(self._values_clause())
        if group_by and not variables and not aggregates and not proj_exprs:
            raise RDFSyntaxError("SELECT * is not allowed with GROUP BY")
        # projected names must be unique and expression aliases must not
        # already be in scope (syntax-SELECTscope2, syn-bad-03)
        names = list(variables) + [a for _, a in proj_exprs] + [
            i.alias for i in aggregates
        ]
        if len(set(names)) != len(names):
            raise RDFSyntaxError("duplicate variable in SELECT projection")
        if proj_exprs:
            scope = _inscope_vars(where.elements)
            clash = [a for _, a in proj_exprs if a in scope]
            if clash:
                raise RDFSyntaxError(
                    f"projection alias already in scope: {clash}"
                )
        if group_exprs:
            scope = _inscope_vars(where.elements)
            clash = [
                a for _, a in group_exprs
                if not a.startswith("__gexpr") and a in scope
            ]
            if clash:
                raise RDFSyntaxError(
                    f"GROUP BY alias already in scope: {clash}"
                )
        if aggregates or group_by or self._agg_hoist:
            missing = [v for v in variables if v not in group_by]
            if missing:
                raise RDFSyntaxError(
                    f"non-aggregated SELECT vars must be in GROUP BY: {missing}"
                )
        q = SelectQuery(
            variables, aggregates, group_by, distinct, where, order, limit, offset,
            having=having, having_aggs=self._agg_hoist, proj_exprs=proj_exprs,
            datasets=datasets, group_exprs=group_exprs,
            agg_arg_exprs=self._agg_arg_hoist,
        )
        self._agg_hoist, self._allow_aggs = outer_hoist, outer_allow
        self._agg_arg_hoist = outer_arg_hoist
        return q

    _AGG_FNS = {
        "COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT",
        "MODE", "FOLD",
    }

    def _dataset_clauses(self) -> Optional[Tuple[List[str], List[str]]]:
        """(FROM iri | FROM NAMED iri)* — returns (default, named) graph
        IRI term lists, or None when absent."""
        frm: List[str] = []
        named: List[str] = []
        while self._kw() == "from":
            self._advance()
            if self._kw() == "named":
                self._advance()
                named.append(self._term_encoded())
            else:
                frm.append(self._term_encoded())
        return (frm, named) if (frm or named) else None

    def _agg_call(self) -> Tuple[str, Optional[str], bool, str]:
        """FN([DISTINCT] ?v | * [; SEPARATOR="…"]) — the call part, shared
        by the SELECT clause and HAVING expressions."""
        t = self._expect(T_KEYWORD)
        fn = t.value.upper()
        if fn not in self._AGG_FNS:
            raise RDFSyntaxError(f"unsupported aggregate {t.value!r}")
        self._expect(T_LPAREN)
        distinct = False
        if self._kw() == "distinct":
            distinct = True
            self._advance()
        var: Optional[str] = None
        if self.tok.type == T_OP and self.tok.value == "*":
            self._advance()
            if fn != "COUNT":
                raise RDFSyntaxError(f"{fn}(*) not allowed")
        else:
            # the argument is a full Expression (§19.8 [127] Aggregate);
            # a non-var argument is hoisted into a per-solution column
            # computed before the group (the reference evaluates
            # ExprAggregator arguments per binding — AggAvg etc. take an
            # Expr, not a Var).  Nested aggregates are a syntax error.
            outer_allow, self._allow_aggs = self._allow_aggs, False
            try:
                e = self._expr()
            finally:
                self._allow_aggs = outer_allow
            if e.kind == "plainvar":
                var = e.value
            else:
                var = f"__aexpr{len(self._agg_arg_hoist)}"
                self._agg_arg_hoist.append((e, var))
        sep = " "
        var2: Optional[str] = None
        aorder: Optional[List[Tuple[Expr, bool]]] = None
        if fn == "FOLD" and self.tok.type == T_COMMA:
            # FOLD(?k, ?v) → map fold (AggFoldMap; Grammar main.jj FOLD)
            self._advance()
            var2 = self._expect(T_VAR).value
        if fn == "FOLD" and self._kw() == "order":
            self._advance()
            self._expect(T_KEYWORD, "by")
            aorder = []
            while True:
                kw = self._kw()
                if kw in ("asc", "desc"):
                    self._advance()
                    self._expect(T_LPAREN)
                    e = self._expr()
                    self._expect(T_RPAREN)
                    aorder.append((e, kw == "asc"))
                elif self.tok.type == T_VAR:
                    aorder.append((Expr("var", self._advance().value), True))
                else:
                    break
            if not aorder:
                raise RDFSyntaxError("FOLD: empty ORDER BY")
        if self.tok.type == T_SEMI:
            self._advance()
            kw = self._expect(T_KEYWORD)
            if kw.value.lower() != "separator":
                raise RDFSyntaxError(f"expected SEPARATOR, got {kw.value!r}")
            if not (self.tok.type == T_OP and self.tok.value == "="):
                raise RDFSyntaxError("expected '=' after SEPARATOR")
            self._advance()
            sep = self._expect(T_STRING).value
        self._expect(T_RPAREN)
        return fn, var, distinct, sep, var2, aorder

    # -- group graph pattern ---------------------------------------------------

    def _group(self) -> Group:
        self._expect(T_LBRACE)
        return self._group_body()

    def _bn_break(self) -> None:
        """Start a new basic-graph-pattern scope for bnode labels."""
        self._bn_counter += 1
        self._bn_current = self._bn_counter

    def _group_body(self) -> Group:
        """Group-graph-pattern body, '{' already consumed; eats the '}'.
        GroupGraphPattern ::= '{' (SubSelect | GroupGraphPatternSub) '}' —
        a direct subquery is the whole group."""
        if self._kw() == "select":
            sub = self._select_query()
            self._expect(T_RBRACE)
            return Group([SubSelectPat(sub)])
        outer_bn = self._bn_current
        self._bn_break()
        try:
            return self._group_body_inner()
        finally:
            self._bn_current = outer_bn

    def _group_body_inner(self) -> Group:
        g = Group()
        while self.tok.type != T_RBRACE:
            kw = self._kw()
            if kw == "filter":
                self._advance()
                if self._kw() == "exists":
                    self._advance()
                    g.elements.append(ExistsPat(self._group(), True))
                elif self._kw() == "not":
                    self._advance()
                    self._expect(T_KEYWORD, "exists")
                    g.elements.append(ExistsPat(self._group(), False))
                elif self.tok.type in (T_KEYWORD, T_PNAME, T_IRI):
                    # FILTER BuiltInCall / FunctionCall — no enclosing
                    # parens (Constraint ::= BrackettedExpression |
                    # BuiltInCall | FunctionCall)
                    g.elements.append(Filter(self._unary()))
                else:
                    self._expect(T_LPAREN)
                    g.elements.append(Filter(self._expr()))
                    self._expect(T_RPAREN)
            elif kw == "minus":
                self._advance()
                g.elements.append(MinusPat(self._group()))
                self._bn_break()
            elif kw == "optional":
                self._advance()
                g.elements.append(OptionalPat(self._group()))
                self._bn_break()
            elif kw == "bind":
                self._advance()
                self._expect(T_LPAREN)
                e = self._expr()
                self._expect(T_KEYWORD, "as")
                v = self._expect(T_VAR).value
                self._expect(T_RPAREN)
                if v in _inscope_vars(g.elements):
                    # §18.2.1 in-scope rule (syntax-BINDscope5..8)
                    raise RDFSyntaxError(
                        f"BIND target ?{v} already in scope in this group"
                    )
                g.elements.append(BindPat(e, v))
            elif kw == "graph":
                self._advance()
                gterm = self._term_or_var()
                g.elements.append(GraphPat(gterm, self._group()))
                self._bn_break()
            elif kw == "lateral":
                self._advance()
                g.elements.append(LateralPat(self._group()))
                self._bn_break()
            elif kw == "unfold":
                self._advance()
                self._expect(T_LPAREN)
                e = self._expr()
                self._expect(T_KEYWORD, "as")
                v1 = self._expect(T_VAR).value
                v2 = None
                if self.tok.type == T_COMMA:
                    self._advance()
                    v2 = self._expect(T_VAR).value
                self._expect(T_RPAREN)
                if v2 is not None and v2 == v1:
                    raise RDFSyntaxError("UNFOLD variables must differ")
                ins = _inscope_vars(g.elements)
                for v in (v1, v2):
                    if v and v in ins:
                        raise RDFSyntaxError(
                            f"UNFOLD target ?{v} already in scope in this group"
                        )
                g.elements.append(UnfoldPat(e, v1, v2))
            elif kw == "service":
                self._advance()
                silent = False
                if self._kw() == "silent":
                    silent = True
                    self._advance()
                ep = self._term_or_var()
                g.elements.append(ServicePat(silent, ep, self._group()))
                self._bn_break()
            elif kw == "values":
                self._advance()
                g.elements.append(self._values_clause())
            elif self.tok.type == T_LBRACE:
                self._advance()
                if self._kw() == "select":
                    sub = self._select_query()
                    self._expect(T_RBRACE)
                    node = Group([SubSelectPat(sub)])
                else:
                    node = self._group_body()
                while self._kw() == "union":
                    self._advance()
                    node = Group([UnionPat(node, self._group())])
                if len(node.elements) == 1 and isinstance(node.elements[0], UnionPat):
                    g.elements.append(node.elements[0])
                else:
                    # plain nested group: its own scope (filters must not
                    # see enclosing/later bindings — var-scope-join-1,
                    # filter-nested-2)
                    g.elements.append(SubGroupPat(node))
                self._bn_break()
            else:
                self._triples_block(g)
                # TriplesBlock ::= TriplesSameSubjectPath ('.' TriplesBlock?)?
                # — consecutive triples REQUIRE the dot (dawg syn-bad-02);
                # only a GraphPatternNotTriples may follow undotted
                if not (
                    self.tok.type in (T_DOT, T_RBRACE, T_LBRACE)
                    or self._kw() in ("filter", "optional", "minus",
                                      "bind", "graph", "values", "service", "lateral")
                ):
                    raise RDFSyntaxError(
                        f"line {self.tok.line}: expected '.' or '}}' after "
                        f"triples, got {self.tok.type} {self.tok.value!r}"
                    )
            # at most ONE '.' separator (dawg syn-bad-08/10/13)
            if self.tok.type == T_DOT:
                self._advance()
        self._advance()  # '}'
        return g

    def _collection_pat(self, g: Group) -> str:
        """Pattern collection '( item… )' → rdf:first/rest chain over
        fresh anonymous variables (Grammar CollectionPath; items may be
        terms, vars, [ ] property lists or nested collections)."""
        self._advance()  # '('
        if self.tok.type == T_RPAREN:
            self._advance()
            return f"<{RDF_NS_BASE}nil>"
        head = self._fresh_anon()
        cur = head
        first = True
        while self.tok.type != T_RPAREN:
            if not first:
                nxt = self._fresh_anon()
                g.elements.append(
                    TriplePat(cur, f"<{RDF_NS_BASE}rest>", nxt)
                )
                cur = nxt
            if self.tok.type == T_LBRACKET:
                item = self._bnode_prop_list(g)
            elif self.tok.type == T_LPAREN:
                item = self._collection_pat(g)
            elif self.tok.type == T_LQT:
                item = self._reif_pat(g)
            elif self.tok.type == T_LTT:
                item = self._tt_pat(g)
            else:
                item = self._term_or_var()
            g.elements.append(TriplePat(cur, f"<{RDF_NS_BASE}first>", item))
            first = False
        self._advance()  # ')'
        g.elements.append(
            TriplePat(cur, f"<{RDF_NS_BASE}rest>", f"<{RDF_NS_BASE}nil>")
        )
        return head

    def _triples_block(self, g: Group) -> None:
        if self.tok.type == T_LBRACKET:
            n0 = len(g.elements)
            s = self._bnode_prop_list(g)
            if self.tok.type in (T_DOT, T_RBRACE):
                if len(g.elements) == n0:
                    # '[] .' — an empty ANON needs a predicateObjectList
                    raise RDFSyntaxError("lone [] is not a triple pattern")
                return  # bare "[ … ] ." — property list as whole statement
        elif self.tok.type == T_LPAREN:
            n0 = len(g.elements)
            s = self._collection_pat(g)
            if self.tok.type in (T_DOT, T_RBRACE):
                if len(g.elements) == n0:
                    # '()' alone — Collection needs ≥1 item and a
                    # subject use needs predicates (dawg lone-list)
                    raise RDFSyntaxError("lone () is not a triple pattern")
                return
        elif self.tok.type == T_LTT:
            # SPARQL 1.2: triple-term pattern in subject position —
            # must be followed by a predicateObjectList
            # (tripleterm-separate-* negatives)
            s = self._tt_pat(g)
            if self.tok.type in (T_DOT, T_RBRACE):
                raise RDFSyntaxError(
                    "a triple term cannot stand alone as a statement"
                )
        elif self.tok.type == T_LQT:
            s = self._reif_pat(g)
            if self.tok.type in (T_DOT, T_RBRACE):
                return  # bare reified-triple pattern
        else:
            s = self._term_or_var(subject=True)
        self._pred_obj_list(g, s)

    def _fresh_anon(self) -> str:
        v = f"?__anon{self._anon_n}"
        self._anon_n += 1
        return v

    def _reif_pat(self, g: Group) -> str:
        """``<< s p o (~ r)? >>`` pattern → reifier term/var: adds
        (r, rdf:reifies, ?tt) plus the decomposition of ?tt."""
        self._advance()  # '<<'
        s = self._rt_pat_term(g, subject=True)
        p = self._verb_simple()
        o = self._rt_pat_term(g, subject=False)
        reifier = None
        if self.tok.type == T_TILDE:
            self._advance()
            reifier = self._term_or_var()
        if reifier is None:
            reifier = self._fresh_anon()
        self._expect(T_RQT)
        ttv = self._fresh_anon()
        g.elements.append(
            TriplePat(reifier, f"<{RDF_NS_REIFIES}>", ttv)
        )
        g.elements.append(TermDecomp(ttv, s, p, o))
        return reifier

    def _tt_pat(self, g: Group) -> str:
        """``<<( s p o )>>`` triple-term pattern → a variable constrained
        to that (possibly partially ground) triple term."""
        self._advance()  # '<<('
        s = self._rt_pat_term(g, subject=True)
        p = self._verb_simple()
        o = self._rt_pat_term(g, subject=False)
        self._expect(T_RTT)
        ttv = self._fresh_anon()
        g.elements.append(TermDecomp(ttv, s, p, o))
        return ttv

    def _rt_pat_term(self, g: Group, subject: bool) -> str:
        if self.tok.type == T_LQT:
            return self._reif_pat(g)
        if self.tok.type == T_LTT:
            # nested triple-term PATTERN — legal in either position in
            # patterns (sparql12 syntax-triple-terms-positive)
            return self._tt_pat(g)
        if self.tok.type == T_LBRACKET:
            # '[…]' blank node inside a reified triple / triple term
            # (collections are NOT legal here — quoted-list-* negatives)
            return self._bnode_prop_list(g)
        return self._term_or_var(subject=subject)

    def _verb_simple(self) -> str:
        if self.tok.type == T_KEYWORD and self.tok.value == "a":
            self._advance()
            return f"<{RDF_TYPE}>"
        return self._term_or_var()

    def _bnode_prop_list(self, g: Group) -> str:
        """'[' predicateObjectList? ']' — an anonymous variable (query
        blank nodes are non-projected variables, AlgebraGenerator)."""
        self._advance()  # '['
        var = f"?__anon{self._anon_n}"
        self._anon_n += 1
        if self.tok.type == T_RBRACKET:
            self._advance()
            return var
        self._pred_obj_list(g, var)
        self._expect(T_RBRACKET)
        return var

    def _pred_obj_list(self, g: Group, s: str) -> None:
        while True:
            p = self._verb_or_path()
            while True:
                if self.tok.type == T_LBRACKET:
                    o = self._bnode_prop_list(g)
                elif self.tok.type == T_LPAREN:
                    o = self._collection_pat(g)
                elif self.tok.type == T_LQT:
                    o = self._reif_pat(g)
                elif self.tok.type == T_LTT:
                    o = self._tt_pat(g)
                else:
                    o = self._term_or_var()
                if isinstance(p, str):
                    g.elements.append(TriplePat(s, p, o))
                    # SPARQL 1.2 annotation syntax after an object:
                    # ~reifier and/or {| pol |} blocks over (s, p, o)
                    while self.tok.type in (T_TILDE, T_LANN):
                        if self.tok.type == T_TILDE:
                            self._advance()
                            if self.tok.type in (T_TILDE, T_LANN, T_COMMA,
                                                 T_SEMI, T_DOT, T_RBRACE):
                                r = self._fresh_anon()
                            else:
                                r = self._term_or_var()
                        else:
                            r = None
                        if r is None:
                            self._advance()  # '{|'
                            r = self._fresh_anon()
                            ttv = self._fresh_anon()
                            g.elements.append(
                                TriplePat(r, f"<{RDF_NS_REIFIES}>", ttv)
                            )
                            g.elements.append(TermDecomp(ttv, s, p, o))
                            self._pred_obj_list(g, r)
                            self._expect(T_RANN)
                        else:
                            ttv = self._fresh_anon()
                            g.elements.append(
                                TriplePat(r, f"<{RDF_NS_REIFIES}>", ttv)
                            )
                            g.elements.append(TermDecomp(ttv, s, p, o))
                            if self.tok.type == T_LANN:
                                self._advance()
                                self._pred_obj_list(g, r)
                                self._expect(T_RANN)
                else:
                    g.elements.append(PathPat(s, o, expr=p))
                if self.tok.type == T_COMMA:
                    self._advance()
                    continue
                break
            if self.tok.type == T_SEMI:
                self._advance()
                if self.tok.type in (T_DOT, T_RBRACE, T_RBRACKET, T_RANN):
                    return
                # after a trailing ';' the verb is optional — a group
                # keyword (OPTIONAL/FILTER/…) or '{' ends the triples
                # (dawg syntax-struct-11, syn-07)
                if self.tok.type == T_LBRACE or (
                    self.tok.type == T_KEYWORD
                    and self.tok.value.lower() != "a"
                ):
                    return
                continue
            return

    def _verb_or_path(self):
        """Returns a plain predicate string (BGP fast path) or a nested
        path-expression tuple (Grammar: Path → PathAlternative →
        PathSequence → PathEltOrInverse → PathElt → PathPrimary)."""
        if self.tok.type == T_KEYWORD and self.tok.value == "a":
            self._advance()
            return f"<{RDF_TYPE}>"
        if self.tok.type == T_VAR:
            return "?" + self._advance().value
        p = self._path_alt()
        if p[0] == "link":
            return p[1]  # plain predicate joins inside the BGP
        return p

    def _path_alt(self) -> tuple:
        e = self._path_seq()
        if self.tok.type == T_OP and self.tok.value == "|":
            alts = [e]
            while self.tok.type == T_OP and self.tok.value == "|":
                self._advance()
                alts.append(self._path_seq())
            return ("alt", alts)
        return e

    def _path_seq(self) -> tuple:
        e = self._path_elt_or_inv()
        if self.tok.type == T_OP and self.tok.value == "/":
            seq = [e]
            while self.tok.type == T_OP and self.tok.value == "/":
                self._advance()
                seq.append(self._path_elt_or_inv())
            return ("seq", seq)
        return e

    def _path_elt_or_inv(self) -> tuple:
        if self.tok.type == T_OP and self.tok.value == "^":
            self._advance()
            return ("inv", self._path_elt())
        return self._path_elt()

    def _path_elt(self) -> tuple:
        p = self._path_primary()
        if self.tok.type == T_OP and self.tok.value in ("+", "*", "?"):
            op = self._advance().value
            return ("mod", p, op)
        if self.tok.type == T_LBRACE:
            # Jena path extension {n}, {n,}, {n,m} (PathParser / ARQ
            # P_FixedLength + P_Mod) — desugared to seq/alt/mod algebra
            self._advance()
            n = int(self._expect(T_INTEGER).value)
            m = None  # None = exactly n
            if self.tok.type == T_COMMA:
                self._advance()
                if self.tok.type == T_INTEGER:
                    m = int(self._advance().value)
                else:
                    m = -1  # unbounded
            self._expect(T_RBRACE)
            return self._desugar_quantifier(p, n, m)
        return p

    @staticmethod
    def _desugar_quantifier(p: tuple, n: int, m) -> tuple:
        """{n} / {n,} / {n,m} → existing path algebra.  Length-k path =
        k-fold seq; ranges = alt of lengths; a 0 lower bound wraps the
        alternation in '?' (zero-length ∪ 1..m); {0,} / {1,} are * / +."""
        def seqk(k: int) -> tuple:
            return p if k == 1 else ("seq", [p] * k)

        if m is None:  # exactly n
            if n == 0:
                # {0}: the zero-length path — all graph-node self-pairs,
                # independent of the inner path (P_FixedLength(path, 0);
                # found by the fresh-seed differential soak)
                return ("mod", p, "0")
            return seqk(n)
        if m == -1:  # {n,}
            if n == 0:
                return ("mod", p, "*")
            if n == 1:
                return ("mod", p, "+")
            return ("seq", [p] * (n - 1) + [("mod", p, "+")])
        if m < n:
            raise RDFSyntaxError(f"bad path quantifier {{{n},{m}}}")
        if n == 0:
            if m == 0:
                return ("mod", p, "0")
            inner = ("alt", [seqk(k) for k in range(1, m + 1)]) if m > 1 else p
            return ("mod", inner, "?")
        if n == m:
            return seqk(n)
        return ("alt", [seqk(k) for k in range(n, m + 1)])

    def _path_primary(self) -> tuple:
        if self.tok.type == T_OP and self.tok.value == "!":
            # negated property set !(p1|^p2|…) or !p / !^p — splits into a
            # forward part (edges whose pred ∉ fwd set) and a reverse part
            # (inverted edges whose pred ∉ rev set), alternated (§9.1)
            self._advance()
            fwd, rev = [], []

            def one():
                if self.tok.type == T_OP and self.tok.value == "^":
                    self._advance()
                    rev.append(self._term_encoded())
                else:
                    fwd.append(self._term_encoded())

            if self.tok.type == T_LPAREN:
                self._advance()
                if self.tok.type != T_RPAREN:
                    one()
                    while self.tok.type == T_OP and self.tok.value == "|":
                        self._advance()
                        one()
                self._expect(T_RPAREN)
            else:
                one()
            parts = []
            if fwd or not rev:
                parts.append(("neg", fwd))
            if rev:
                parts.append(("inv", ("neg", rev)))
            return parts[0] if len(parts) == 1 else ("alt", parts)
        if self.tok.type == T_LPAREN:
            self._advance()
            p = self._path_alt()
            self._expect(T_RPAREN)
            return p
        if (
            self.tok.type == T_KEYWORD
            and self.tok.value.lower() in ("distinct", "multi", "shortest")
            # ARQ path extensions (Grammar main.jj PathPrimary):
            # DISTINCT(p) / MULTI(p) / SHORTEST(p) → P_Distinct /
            # P_Multi / P_Shortest.  Only with '(' — a bare keyword here
            # would otherwise be a (bad) term.
        ):
            kw = self.tok.value.lower()
            if self._peek_type() == T_LPAREN:
                self._advance()
                self._advance()
                p = self._path_alt()
                self._expect(T_RPAREN)
                return (kw, p)
        if self.tok.type == T_KEYWORD and self.tok.value == "a":
            self._advance()
            return ("link", f"<{RDF_TYPE}>")
        t = self._term_encoded()
        if not t.startswith("<"):
            raise RDFSyntaxError(f"predicate/path element must be an IRI, got {t!r}")
        return ("link", t)

    def _values_clause(self) -> ValuesPat:
        """DataBlock after the VALUES keyword: one-var shorthand
        ``VALUES ?x { v… }`` or full form ``VALUES (?x ?y) { (v v)… }``
        with UNDEF cells (§10.2)."""
        def data_value() -> Optional[str]:
            if self.tok.type == T_KEYWORD and self.tok.value.lower() == "undef":
                self._advance()
                return None
            return self._term_encoded()

        if self.tok.type == T_VAR:
            vars_ = [self._advance().value]
            self._expect(T_LBRACE)
            rows = []
            while self.tok.type != T_RBRACE:
                rows.append([data_value()])
            self._advance()
            return ValuesPat(vars_, rows)
        self._expect(T_LPAREN)
        vars_ = []
        while self.tok.type == T_VAR:
            vars_.append(self._advance().value)
        self._expect(T_RPAREN)
        if len(set(vars_)) != len(vars_):
            raise RDFSyntaxError("duplicate variable in VALUES")
        self._expect(T_LBRACE)
        rows = []
        while self.tok.type != T_RBRACE:
            self._expect(T_LPAREN)
            row = []
            while self.tok.type != T_RPAREN:
                row.append(data_value())
            self._advance()
            if len(row) != len(vars_):
                raise RDFSyntaxError(
                    f"VALUES row has {len(row)} cells for {len(vars_)} variables"
                )
            rows.append(row)
        self._advance()
        return ValuesPat(vars_, rows)

    def _term_or_var(self, subject: bool = False) -> str:
        t = self.tok
        if t.type == T_VAR:
            self._advance()
            return "?" + t.value
        if t.type == T_BNODE:
            # a query blank node is a (document-scoped) anonymous variable
            self._advance()
            if self._bn_track:
                prev = self._bn_seen.setdefault(t.value, self._bn_current)
                if prev != self._bn_current:
                    raise RDFSyntaxError(
                        f"blank node label _:{t.value} used in multiple "
                        "basic graph patterns"
                    )
            return f"?__anon_{t.value}"
        return self._term_encoded()

    def _term_encoded(self) -> str:
        if self.tok.type == T_LTT:
            # constant triple term in expression/VALUES position:
            # TripleTermData subject ∈ {iri, BlankNode}, predicate iri
            self._advance()
            s = self._term_encoded()
            if s.startswith("<<(") or s.startswith('"'):
                raise RDFSyntaxError(
                    "triple-term data subject must be an IRI or blank node"
                )
            if self.tok.type == T_KEYWORD and self.tok.value == "a":
                self._advance()
                p = f"<{RDF_TYPE}>"
            else:
                p = self._term_encoded()
            if not p.startswith("<"):
                raise RDFSyntaxError("triple-term predicate must be an IRI")
            o = self._term_encoded()
            self._expect(T_RTT)
            return f"<<({s} {p} {o})>>"
        t = self._advance()
        if t.type == T_IRI:
            return mk_iri(self.resolver.resolve(t.value)).nt()
        if t.type == T_PNAME:
            ns = self.prefixes.get(t.value)
            if ns is None:
                raise RDFSyntaxError(f"undefined prefix {t.value!r}:")
            return mk_iri(ns + t.value2).nt()
        if t.type == T_STRING:
            if self.tok.type == T_LANGTAG:
                lt = self._advance()
                return mk_literal(t.value, lang=lt.value).nt()
            if self.tok.type == T_HATHAT:
                self._advance()
                dt = self._term_encoded()
                return mk_literal(t.value, datatype=dt[1:-1]).nt()
            return mk_literal(t.value).nt()
        if t.type == T_INTEGER:
            return mk_literal(t.value, datatype=XSD_INTEGER).nt()
        if t.type == T_DECIMAL:
            return mk_literal(t.value, datatype=XSD_DECIMAL).nt()
        if t.type == T_DOUBLE:
            return mk_literal(t.value, datatype=XSD_DOUBLE).nt()
        if t.type == T_KEYWORD and t.value in ("true", "false"):
            return mk_literal(t.value, datatype=XSD_BOOLEAN).nt()
        raise RDFSyntaxError(f"line {t.line}: bad term {t.type} {t.value!r}")

    # -- expressions (precedence: || < && < cmp < unary) ------------------------

    def _expr(self) -> Expr:
        e = self._and_expr()
        while self.tok.type == T_OP and self.tok.value == "||":
            self._advance()
            e = Expr("or", args=[e, self._and_expr()])
        return e

    def _and_expr(self) -> Expr:
        e = self._cmp_expr()
        while self.tok.type == T_OP and self.tok.value == "&&":
            self._advance()
            e = Expr("and", args=[e, self._cmp_expr()])
        return e

    def _cmp_expr(self) -> Expr:
        e = self._additive()
        if self.tok.type == T_OP and self.tok.value in ("=", "!=", "<", ">", "<=", ">="):
            op = self._advance().value
            return Expr("cmp", op, [e, self._additive()])
        if self.tok.type == T_KEYWORD and self.tok.value.lower() in ("in", "not"):
            negated = self.tok.value.lower() == "not"
            self._advance()
            if negated:
                self._expect(T_KEYWORD, "in")
            self._expect(T_LPAREN)
            items = []
            if self.tok.type != T_RPAREN:
                items.append(self._additive())
                while self.tok.type == T_COMMA:
                    self._advance()
                    items.append(self._additive())
            self._expect(T_RPAREN)
            return Expr("in", negated, [e] + items)
        return e

    def _additive(self) -> Expr:
        e = self._multiplicative()
        while True:
            if self.tok.type == T_OP and self.tok.value in ("+", "-"):
                op = self._advance().value
                e = Expr("arith", op, [e, self._multiplicative()])
            elif (
                self.tok.type in (T_INTEGER, T_DECIMAL, T_DOUBLE)
                and self.tok.value[0] in "+-"
            ):
                # "?o+10": the tokenizer lexed a signed number — split the
                # sign into the additive operator (Grammar: AdditiveExpression
                # handles NumericLiteralPositive/Negative the same way)
                t = self._advance()
                op = t.value[0]
                dt = {T_INTEGER: XSD_INTEGER, T_DECIMAL: XSD_DECIMAL,
                      T_DOUBLE: XSD_DOUBLE}[t.type]
                rhs = Expr("const", mk_literal(t.value[1:], datatype=dt).nt())
                e = Expr("arith", op, [e, rhs])
            else:
                return e

    def _multiplicative(self) -> Expr:
        e = self._unary()
        while self.tok.type == T_OP and self.tok.value in ("*", "/"):
            op = self._advance().value
            e = Expr("arith", op, [e, self._unary()])
        return e

    def _unary(self) -> Expr:
        if self.tok.type == T_OP and self.tok.value == "!":
            self._advance()
            return Expr("not", args=[self._unary()])
        if self.tok.type == T_OP and self.tok.value in ("-", "+"):
            # UnaryExpression '-'/'+' (Grammar [118]) — desugared to
            # 0∓e: identical numeric promotion (int-int→int,
            # 0-decimal→decimal) and identical error-on-non-numeric
            # behavior (XSDFuncOp.numNeg parity; only the sign of -0.0
            # differs, which =/</> cannot observe)
            op = self._advance().value
            zero = Expr("const", mk_literal("0", datatype=XSD_INTEGER).nt())
            return Expr("arith", op, [zero, self._unary()])
        if self.tok.type == T_LPAREN:
            self._advance()
            e = self._expr()
            self._expect(T_RPAREN)
            return e
        if self.tok.type == T_VAR:
            return Expr("var", self._advance().value)
        if self.tok.type == T_LTT:
            # <<( s p o )>> in an expression ≡ TRIPLE(s, p, o)
            self._advance()

            def part(role: str) -> Expr:
                if self.tok.type == T_VAR:
                    return Expr("var", self._advance().value)
                if self.tok.type == T_KEYWORD and self.tok.value == "a":
                    self._advance()
                    return Expr("const", f"<{RDF_TYPE}>")
                t = self._term_encoded()
                # grammar-level component checks (tripleterm-subject-03/06)
                if role == "s" and (t.startswith("<<(") or t.startswith('"')):
                    raise RDFSyntaxError(
                        "triple-term subject must be an IRI or blank node"
                    )
                if role == "p" and not t.startswith("<"):
                    raise RDFSyntaxError("triple-term predicate must be an IRI")
                return Expr("const", t)

            args = [part("s"), part("p"), part("o")]
            self._expect(T_RTT)
            return Expr("call", "TRIPLE", args)
        if self.tok.type == T_KEYWORD and self.tok.value.lower() == "exists":
            self._advance()
            return Expr("exists", (self._group(), True))
        if self.tok.type == T_KEYWORD and self.tok.value.lower() == "not":
            self._advance()
            self._expect(T_KEYWORD, "exists")
            return Expr("exists", (self._group(), False))
        if (
            self._allow_aggs
            and self.tok.type == T_KEYWORD
            and self.tok.value.upper() in self._AGG_FNS
        ):
            # SELECT-expr / HAVING aggregate call: hoist into a hidden
            # aggregate column, reference it as a native-valued variable
            fn, var, distinct, sep, var2, aorder = self._agg_call()
            alias = f"__hagg{len(self._agg_hoist)}"
            self._agg_hoist.append(
                AggItem(fn, var, distinct, alias, sep, var2, aorder)
            )
            return Expr("plainvar", alias)
        if self.tok.type == T_KEYWORD and self.tok.value.upper() in (
            "BOUND", "REGEX", "CONTAINS", "STRSTARTS", "STRLEN", "STR",
            "LANG", "DATATYPE", "ISIRI", "ISURI", "ISLITERAL", "ISBLANK",
            "SAMETERM", "UCASE", "LCASE", "STRENDS", "STRBEFORE",
            "STRAFTER", "SUBSTR", "REPLACE", "CONCAT", "ENCODE_FOR_URI",
            "ABS", "ROUND", "CEIL", "FLOOR", "IF", "COALESCE", "STRDT",
            "STRLANG", "IRI", "URI", "ISNUMERIC", "LANGMATCHES", "MD5",
            "SHA1", "SHA256", "SHA384", "SHA512", "YEAR", "MONTH", "DAY",
            "HOURS", "MINUTES", "SECONDS", "TZ", "TIMEZONE", "NOW", "RAND",
            "UUID", "STRUUID", "LANGDIR", "HASLANG", "HASLANGDIR",
            "STRLANGDIR", "TRIPLE", "SUBJECT", "PREDICATE", "OBJECT",
            "ISTRIPLE", "BNODE",
        ):
            name = self._advance().value.upper()
            self._expect(T_LPAREN)
            args = []
            if self.tok.type != T_RPAREN:
                args.append(self._expr())
                while self.tok.type == T_COMMA:
                    self._advance()
                    args.append(self._expr())
            self._expect(T_RPAREN)
            return Expr("call", name, args)
        term = self._term_encoded()
        if self.tok.type == T_LPAREN and term.startswith("<"):
            # iriOrFunction: any IRI followed by '(' is a function call.
            # XSD constructors compile as §17.5 casts; other IRIs parse
            # (syntax conformance) and error at compile unless registered.
            self._advance()
            args = []
            if self._kw() == "distinct":
                self._advance()  # custom-aggregate form: accepted, ignored
            if self.tok.type != T_RPAREN:
                args.append(self._expr())
                while self.tok.type == T_COMMA:
                    self._advance()
                    args.append(self._expr())
            self._expect(T_RPAREN)
            xsd_ns = "<http://www.w3.org/2001/XMLSchema#"
            if term.startswith(xsd_ns) and term[len(xsd_ns):-1] in _CAST_TARGETS:
                if len(args) != 1:
                    raise RDFSyntaxError("XSD casts take exactly one argument")
                return Expr("cast", term[len(xsd_ns):-1], args)
            return Expr("fncall", term, args)
        return Expr("const", term)


# ---------------------------------------------------------------------------
# Compiler: AST → DataFrame
# ---------------------------------------------------------------------------

_CAST_TARGETS = {
    "string", "boolean", "integer", "decimal", "float", "double", "dateTime",
}

# string-source validity per target (XPath §17.5 casting from xs:string)
_CAST_INT_RE = r"^[+-]?\d+$"
_CAST_DEC_RE = r"^[+-]?(\d+\.?\d*|\.\d+)$"
_CAST_DBL_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"
_CAST_DT_RE = (
    r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?$"
)


def _compile_cast(target: str, c: F.Column) -> F.Column:
    """XSD constructor cast (E_Cast / XPath §17.5 casting table) over an
    encoded term column → encoded literal of the target datatype, null
    (= expression error → unbound) when the cast is not allowed."""
    dt = tf.datatype(c)
    lexc = tf.lex(c)
    is_lit = tf.is_literal(c)
    is_plain = is_lit & (dt == tf.XSD + "string")
    is_bool = is_lit & (dt == tf.XSD + "boolean")
    is_num = tf.is_numeric(c)
    is_date = is_lit & dt.isin(tf.XSD + "dateTime", tf.XSD + "dateTimeStamp")
    num_v = tf.numeric_value(c)
    bool_v = F.when(is_bool, lexc.isin("true", "1"))
    inf = float("inf")
    finite = (
        num_v.isNotNull() & ~F.isnan(num_v)
        & (num_v != F.lit(inf)) & (num_v != F.lit(-inf))
    )

    def plain_lit(s: F.Column) -> F.Column:
        return F.concat(F.lit('"'), s, F.lit('"'))

    def typed_lit(s, name: str) -> F.Column:
        return F.concat(F.lit('"'), s, F.lit(f'"^^<{tf.XSD}{name}>'))

    # canonical value string of a numeric (integral → no decimal point)
    num_str = F.when(
        finite & (num_v == F.floor(num_v))
        & (F.abs(num_v) < F.lit(9.007199254740992e15)),
        num_v.try_cast("long").cast("string"),
    ).otherwise(num_v.cast("string"))

    if target == "string":
        return (
            F.when(tf.is_iri(c), plain_lit(lexc))
            .when(is_plain, plain_lit(lexc))
            .when(is_bool, plain_lit(F.when(bool_v, "true").otherwise("false")))
            .when(is_num & num_v.isNotNull(), plain_lit(num_str))
            .when(is_lit & (dt != tf.RDF_LANGSTRING), plain_lit(lexc))
        )
    if target == "boolean":
        truth = F.when(F.isnan(num_v) | (num_v == 0), "false").otherwise("true")
        return (
            F.when(
                is_plain & lexc.isin("true", "false", "1", "0"),
                typed_lit(F.when(lexc.isin("true", "1"), "true")
                          .otherwise("false"), "boolean"),
            )
            .when(is_bool, typed_lit(F.when(bool_v, "true").otherwise("false"),
                                     "boolean"))
            .when(is_num & num_v.isNotNull(), typed_lit(truth, "boolean"))
        )
    if target == "integer":
        trunc = F.when(num_v >= 0, F.floor(num_v)).otherwise(F.ceil(num_v))
        return (
            F.when(
                is_plain & lexc.rlike(_CAST_INT_RE),
                typed_lit(lexc.try_cast("long").cast("string"), "integer"),
            )
            .when(is_bool, typed_lit(F.when(bool_v, "1").otherwise("0"),
                                     "integer"))
            .when(is_num & finite,
                  typed_lit(trunc.try_cast("long").cast("string"), "integer"))
        )
    if target == "decimal":
        return (
            F.when(
                is_plain & lexc.rlike(_CAST_DEC_RE),
                typed_lit(lexc.try_cast("double").cast("string"), "decimal"),
            )
            .when(is_bool, typed_lit(F.when(bool_v, "1.0").otherwise("0.0"),
                                     "decimal"))
            .when(is_num & finite, typed_lit(num_v.cast("string"), "decimal"))
        )
    if target in ("float", "double"):
        special = lexc.isin("INF", "+INF", "-INF", "NaN")
        sval = F.when(lexc.isin("INF", "+INF"), "INF").when(
            lexc == "-INF", "-INF").otherwise("NaN")
        return (
            F.when(is_plain & special, typed_lit(sval, target))
            .when(
                is_plain & lexc.rlike(_CAST_DBL_RE),
                typed_lit(lexc.try_cast("double").cast("string"), target),
            )
            .when(is_bool, typed_lit(F.when(bool_v, "1.0").otherwise("0.0"),
                                     target))
            .when(is_num & num_v.isNotNull(),
                  typed_lit(num_v.cast("string"), target))
        )
    # dateTime
    return (
        F.when(is_plain & lexc.rlike(_CAST_DT_RE), typed_lit(lexc, "dateTime"))
        .when(is_date, typed_lit(lexc, "dateTime"))
    )


def _typed(e: Expr, avail: Optional[set] = None) -> Tuple[F.Column, str]:
    """Compile to (column, value-kind): 'term' = encoded-term string,
    'plain' = raw string, 'num' = number, 'bool' = boolean.
    ``avail`` = the columns in scope; a variable outside it is *unbound*
    (null), mirroring SPARQL's treat-as-error→unbound expression rules."""
    if e.kind == "var":
        if isinstance(avail, dict):
            # explicit resolver (e.g. LeftJoin conditions spanning sides)
            c = avail.get(e.value)
            return (c if c is not None else F.lit(None).cast("string")), "term"
        if avail is not None and e.value not in avail:
            return F.lit(None).cast("string"), "term"
        return F.col(e.value), "term"
    if e.kind == "plainvar":
        # hidden HAVING-aggregate column: native numeric value
        return F.col(e.value), "num"
    if e.kind == "boolvar":
        # precomputed EXISTS marker column
        return F.col(e.value), "bool"
    if e.kind == "exists":
        raise RDFSyntaxError(
            "EXISTS expression outside FILTER is not supported"
        )
    if e.kind == "const":
        # statically-known non-literal constants compare by term identity
        # alone — lets the comparison compiler skip the whole open-world
        # category matrix (a large expression tree) for IRI/bnode consts
        kind = "iri" if e.value[0] in "<_" else "term"
        return F.lit(e.value), kind
    if e.kind in ("and", "or", "not"):
        a = _as_bool(e.args[0], avail)
        if e.kind == "not":
            return ~a, "bool"
        b = _as_bool(e.args[1], avail)
        return (a & b) if e.kind == "and" else (a | b), "bool"
    if e.kind == "cast":
        c, t = _typed(e.args[0], avail)
        term = c if t in ("term", "iri") else _term_of(c, t)
        return _compile_cast(e.value, term), "term"
    if e.kind == "fncall":
        # registered function IRIs: the CDT library (cdt:get/size/…,
        # reference sparql/function/library/cdt/*.java); everything else
        # parses (syntax conformance) but errors at compile
        iri = e.value[1:-1] if e.value.startswith("<") else e.value
        from . import cdt_funcs as _cf

        if _cf.is_cdt_function(iri):
            from .. import cdt as _cdt

            targs_ = [_typed(a, avail) for a in e.args]
            term_args = [_term_of(c_, t_) for c_, t_ in targs_]
            try:
                return _cf.compile_call(iri, term_args), "term"
            except _cdt.CdtError as ex:
                raise RDFSyntaxError(f"{e.value}: {ex}")
        raise RDFSyntaxError(f"unknown function {e.value}")
    if e.kind == "cmp":
        return _compile_cmp(e, avail), "bool"
    if e.kind == "in":
        # e IN (a, b, …) ≡ e=a || e=b || … (SPARQL §17.4.1.9); the OR
        # chain gives the right error semantics for free (true||err=true)
        negated = e.value
        eqs = [
            _compile_cmp(Expr("cmp", "=", [e.args[0], item]), avail)
            for item in e.args[1:]
        ]
        if not eqs:
            col = F.lit(False)
        else:
            col = eqs[0]
            for q_ in eqs[1:]:
                col = col | q_
        return (~col if negated else col), "bool"
    if e.kind == "arith":
        # XSD numeric type promotion (SPARQL §17.3 operator mapping /
        # Jena XSDFuncOp.classifyNumeric): integer-tree ops stay integer,
        # mixed operands promote to the wider of decimal < float < double,
        # and integer ÷ integer is decimal.  Value + result datatype
        # travel together as a struct so DATATYPE() and term encoding of
        # the result are exact, not double-everything.
        (ca, ta), (cb, tb) = _typed(e.args[0], avail), _typed(e.args[1], avail)

        def numdt(c, t):
            if t == "numdt":
                return c
            if t in ("term", "iri"):
                return F.struct(
                    tf.numeric_value(c).alias("v"),
                    _num_dt_rank(c).alias("r"),
                )
            if t == "plain":
                # a plain string (e.g. STR(…)) is never a number —
                # arithmetic on it is an evaluation error → unbound
                return F.struct(
                    F.lit(None).cast("double").alias("v"), F.lit(0).alias("r")
                )
            # native num (STRLEN etc.): integer-valued
            return F.struct(
                _numish(c).alias("v"), F.lit(0).alias("r")
            )

        a, b = numdt(ca, ta), numdt(cb, tb)
        op = e.value
        va, vb = a["v"], b["v"]
        v = (
            va + vb if op == "+" else
            va - vb if op == "-" else
            va * vb if op == "*" else
            F.try_divide(va, vb)  # x/0 is an evaluation error, not a crash
        )
        r = F.greatest(a["r"], b["r"])
        if op == "/":
            # integer / integer → decimal
            r = F.when(r == 0, F.lit(1)).otherwise(r)
        return F.struct(v.alias("v"), r.alias("r")), "numdt"
    if e.kind == "call":
        name = e.value
        targs = [_typed(a, avail) for a in e.args]

        def plain(i: int) -> F.Column:
            c, t = targs[i]
            return tf.lex(c) if t in ("term", "iri") else c

        if name == "BOUND":
            return targs[0][0].isNotNull(), "bool"
        if name == "BNODE":
            rid = _BNODE_ROWID.get()
            if rid is None:
                raise RDFSyntaxError(
                    "BNODE() supported in BIND / SELECT expressions only"
                )
            if targs:
                # arg must be a string literal; otherwise error → unbound
                seed = F.when(
                    _stringish(targs[0][0], targs[0][1]), plain(0)
                )
            else:
                seed = F.lit(f"fresh:{next(_BNODE_SALT)}")  # fresh per call
            label = F.md5(
                F.concat_ws("\x1f", F.col(rid).cast("string"), seed)
            )
            return F.when(
                seed.isNotNull(), F.concat(F.lit("_:BN"), label)
            ), "term"
        if name == "REGEX":
            if e.args[1].kind != "const":
                raise RDFSyntaxError("REGEX pattern must be a literal")
            from ..terms import decode_term

            pat = decode_term(e.args[1].value).lex
            if len(e.args) > 2 and e.args[2].kind == "const":
                flags = decode_term(e.args[2].value).lex
                java_flags = "".join(f for f in flags if f in "imsx")
                if java_flags:
                    pat = f"(?{java_flags}){pat}"
            # the text argument must be a string literal — IRIs/typed
            # literals are an expression error (regex-query-003)
            return F.when(
                _stringish(targs[0][0], targs[0][1]), plain(0).rlike(pat)
            ), "bool"
        def str2_compat(res: F.Column) -> F.Column:
            # §17.4.3.2 argument compatibility: both args string literals,
            # arg2 simple/xsd:string or sharing arg1's language tag — else
            # evaluation error (NodeFunctions.checkTwoArgumentStringLiterals)
            (c1, t1), (c2, t2) = targs[0], targs[1]
            compat = (
                _stringish(c1, t1)
                & _stringish(c2, t2)
                & (
                    (_lang_of(c2, t2) == "")
                    | (_lang_of(c2, t2) == _lang_of(c1, t1))
                )
            )
            return F.when(compat, res)

        if name == "CONTAINS":
            return str2_compat(plain(0).contains(plain(1))), "bool"
        if name == "STRSTARTS":
            return str2_compat(plain(0).startswith(plain(1))), "bool"
        if name == "STRLEN":
            # arg must be a string literal (checkAndGetStringLiteral) —
            # STRLEN(5) / STRLEN(<iri>) is an evaluation error, not a
            # length of the lexical form.  STR(...) results ('plain') are
            # always strings.
            return F.when(
                _stringish(targs[0][0], targs[0][1]), F.length(plain(0))
            ), "num"
        if name == "STR":
            return plain(0), "plain"
        if name == "LANG":
            return tf.lang(targs[0][0]), "plain"
        if name == "LANGDIR":
            return tf.lang_dir(targs[0][0]), "plain"
        if name == "HASLANG":
            return (
                tf.is_literal(targs[0][0]) & (tf.lang(targs[0][0]) != ""),
                "bool",
            )
        if name == "HASLANGDIR":
            return (
                tf.is_literal(targs[0][0]) & (tf.lang_dir(targs[0][0]) != ""),
                "bool",
            )
        if name == "DATATYPE":
            # DATATYPE returns an IRI term (E_Datatype → NodeValue IRI) —
            # statically known non-literal, so comparisons stay tiny
            c0, t0 = targs[0]
            if t0 == "numdt":  # arith result: promoted datatype
                return (
                    F.when(c0["v"].isNotNull(), tf.mk_iri_col(_rank_to_dt(c0["r"]))),
                    "iri",
                )
            if t0 == "num":  # native numerics (STRLEN …) are integers
                return tf.mk_iri_col(F.lit(tf.XSD + "integer")), "iri"
            return tf.mk_iri_col(tf.datatype(c0)), "iri"
        if name in ("ISIRI", "ISURI"):
            return tf.is_iri(targs[0][0]), "bool"
        if name == "ISLITERAL":
            return tf.is_literal(targs[0][0]), "bool"
        if name == "ISBLANK":
            return tf.is_bnode(targs[0][0]), "bool"
        if name == "ISNUMERIC":
            return tf.is_numeric(targs[0][0]), "bool"
        if name == "SAMETERM":
            return targs[0][0] == targs[1][0], "bool"
        if name in ("UCASE", "LCASE"):
            c, t = targs[0]
            fn = F.upper if name == "UCASE" else F.lower
            if t == "plain":
                return fn(c), "plain"
            return (
                F.when(_stringish(c, t), tf.rebuild_literal(c, fn(tf.lex(c)))),
                "term",
            )
        if name == "STRENDS":
            return str2_compat(plain(0).endswith(plain(1))), "bool"
        if name in ("STRBEFORE", "STRAFTER"):
            # §17.4.3: args must be compatible string literals (arg2 is
            # simple/xsd:string, or both share a language tag); not-found
            # → SIMPLE empty literal; found → arg1's lang is preserved
            (c1, t1), (c2, t2) = targs[0], targs[1]
            s, sub = plain(0), plain(1)
            compat = (
                _stringish(c1, t1)
                & _stringish(c2, t2)
                & (
                    (_lang_of(c2, t2) == "")
                    | (_lang_of(c2, t2) == _lang_of(c1, t1))
                )
            )
            pos = F.when(F.length(sub) == 0, F.lit(1)).otherwise(F.instr(s, sub))
            if name == "STRBEFORE":
                res = s.substr(F.lit(1), pos - 1)
            else:
                res = s.substr(pos + F.length(sub), F.length(s))
            kept = (
                tf.rebuild_literal(c1, res)
                if t1 in ("term", "iri")
                else _plain_literal(res)
            )
            out = (
                F.when(~compat, F.lit(None).cast("string"))
                .when(pos > 0, kept)
                .otherwise(F.lit('""'))
            )
            return out, "term"
        if name == "SUBSTR":
            c, t = targs[0]
            s = plain(0)
            pos = _numish(targs[1][0]).cast("int")
            ln = (
                _numish(targs[2][0]).cast("int")
                if len(targs) > 2
                else F.lit(1_000_000_000)
            )
            res = s.substr(pos, ln)
            if t == "plain":
                return res, "plain"
            # source must be a string literal (§17.4.3.3) — SUBSTR over
            # an IRI or a numeric literal is an evaluation error
            return F.when(
                _stringish(c, t), tf.rebuild_literal(c, res)
            ), "term"
        if name == "REPLACE":
            from ..terms import decode_term

            if e.args[1].kind != "const":
                raise RDFSyntaxError("REPLACE pattern must be a literal")
            pat = decode_term(e.args[1].value).lex
            rep = (
                decode_term(e.args[2].value).lex
                if e.args[2].kind == "const"
                else None
            )
            if rep is None:
                raise RDFSyntaxError("REPLACE replacement must be a literal")
            if len(e.args) > 3 and e.args[3].kind == "const":
                flags = decode_term(e.args[3].value).lex
                if "i" in flags:
                    pat = "(?i)" + pat
            c, t = targs[0]
            res = F.regexp_replace(plain(0), pat, rep)
            built = (
                tf.rebuild_literal(c, res)
                if t in ("term", "iri")
                else _plain_literal(res)
            )
            return F.when(_stringish(c, t), built), "term"
        if name == "CONCAT":
            # result keeps a language tag only when EVERY argument has
            # that same tag; any non-string argument is an error
            valid = F.lit(True)
            lexes, langs = [], []
            for c, t in targs:
                valid = valid & _stringish(c, t)
                lexes.append(tf.lex(c) if t in ("term", "iri") else c)
                langs.append(_lang_of(c, t))
            joined = F.concat(*lexes) if lexes else F.lit("")
            if langs:
                first = langs[0]
                same = F.lit(True)
                for L in langs[1:]:
                    same = same & (L == first)
                keep = same & (first != "")
                built = F.when(keep, tf.str_lang(joined, first)).otherwise(
                    _plain_literal(joined)
                )
            else:
                built = _plain_literal(joined)
            return F.when(valid, built), "term"
        if name == "ENCODE_FOR_URI":
            # url_encode is form-encoding: fix '+' and keep RFC-3986
            # unreserved '~' unescaped (SPARQL follows percent-encoding)
            enc = F.url_encode(plain(0))
            enc = F.regexp_replace(enc, r"\+", "%20")
            enc = F.regexp_replace(enc, r"%7E", "~")
            return enc, "plain"
        if name in ("ABS", "ROUND", "CEIL", "FLOOR"):
            c, t = targs[0]
            st = (
                c
                if t == "numdt"
                else F.struct(
                    (
                        tf.numeric_value(c)
                        if t in ("term", "iri")
                        else _numish(c)
                    ).alias("v"),
                    (
                        _num_dt_rank(c)
                        if t in ("term", "iri")
                        else F.lit(0)
                    ).alias("r"),
                )
            )
            v = st["v"]
            nv = {
                "ABS": F.abs(v),
                "ROUND": F.round(v, 0),
                "CEIL": F.ceil(v).cast("double"),
                "FLOOR": F.floor(v).cast("double"),
            }[name]
            return F.struct(nv.alias("v"), st["r"].alias("r")), "numdt"
        if name == "IF":
            cond = _ebv(targs[0][0], targs[0][1])
            a = _term_of(targs[1][0], targs[1][1])
            b = _term_of(targs[2][0], targs[2][1])
            return F.when(cond, a).when(~cond, b), "term"
        if name == "COALESCE":
            return F.coalesce(*[_term_of(c, t) for c, t in targs]), "term"
        if name in ("STRDT", "STRLANG"):
            # first arg must be a SIMPLE literal (xsd:string, no lang)
            c1, t1 = targs[0]
            simple = (
                F.lit(True)
                if t1 == "plain"
                else tf.is_literal(c1) & (tf.datatype(c1) == tf.XSD + "string")
            )
            if name == "STRDT":
                dt = tf.lex(targs[1][0])
                built = F.when(
                    dt == tf.XSD + "string", _plain_literal(plain(0))
                ).otherwise(tf.str_dt(plain(0), dt))
            else:
                tag = plain(1)
                built = F.when(tag != "", tf.str_lang(plain(0), tag))
            return F.when(simple, built), "term"
        if name == "STRLANGDIR":
            c1, t1 = targs[0]
            simple = (
                F.lit(True)
                if t1 == "plain"
                else tf.is_literal(c1) & (tf.datatype(c1) == tf.XSD + "string")
            )
            tag, d = plain(1), plain(2)
            built = F.when(
                (tag != "") & d.isin("ltr", "rtl"),
                tf.str_lang(plain(0), F.concat(tag, F.lit("--"), d)),
            )
            return F.when(simple, built), "term"
        if name in ("IRI", "URI"):
            s = plain(0)
            scope = _SCOPE.get()
            if scope is not None and scope.base:
                s = F.when(
                    s.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), s
                ).otherwise(F.concat(F.lit(scope.base), s))
            return tf.mk_iri_col(s), "iri"
        if name == "LANGMATCHES":
            lang_c = F.lower(plain(0))
            pat_c = F.lower(plain(1))
            return (
                F.when(pat_c == "*", lang_c != "")
                .otherwise(
                    (lang_c == pat_c)
                    | lang_c.startswith(F.concat(pat_c, F.lit("-")))
                ),
                "bool",
            )
        if name in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            s = plain(0)
            h = {
                "MD5": F.md5(s),
                "SHA1": F.sha1(s),
                "SHA256": F.sha2(s, 256),
                "SHA384": F.sha2(s, 384),
                "SHA512": F.sha2(s, 512),
            }[name]
            return h, "plain"
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            s = plain(0)
            pos = {
                "YEAR": (1, 4), "MONTH": (6, 2), "DAY": (9, 2),
                "HOURS": (12, 2), "MINUTES": (15, 2),
            }
            if name == "SECONDS":
                part = F.regexp_extract(s, r"T\d\d:\d\d:(\d\d(?:\.\d+)?)", 1)
                return part.try_cast("double"), "num"
            a, b = pos[name]
            return F.substring(s, a, b).try_cast("int"), "num"
        if name == "TZ":
            return (
                F.coalesce(
                    F.regexp_extract(plain(0), r"(Z|[+-]\d\d:\d\d)$", 1),
                    F.lit(""),
                ),
                "plain",
            )
        if name == "TIMEZONE":
            tz = F.regexp_extract(plain(0), r"(Z|[+-]\d\d:\d\d)$", 1)
            hh = F.substring(tz, 2, 2).try_cast("int")
            mm = F.substring(tz, 5, 2).try_cast("int")
            sign = F.when(tz.startswith("-"), F.lit("-")).otherwise(F.lit(""))
            dur = F.when(tz == "Z", F.lit("PT0S")).otherwise(
                F.concat(
                    sign,
                    F.lit("PT"),
                    hh.cast("string"),
                    F.lit("H"),
                    F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M"))).otherwise(
                        F.lit("")
                    ),
                )
            )
            return (
                F.when(
                    tz != "", tf.str_dt(dur, F.lit(tf.XSD + "dayTimeDuration"))
                ),
                "term",
            )
        if name == "NOW":
            # query-constant (Spark's current_timestamp is per-query)
            lex = F.date_format(
                F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS"
            )
            return tf.str_dt(lex, F.lit(tf.XSD + "dateTime")), "term"
        if name == "RAND":
            return F.struct(F.rand().alias("v"), F.lit(3).alias("r")), "numdt"
        if name == "UUID":
            return (
                tf.mk_iri_col(F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))),
                "iri",
            )
        if name == "STRUUID":
            return F.expr("uuid()"), "plain"
        if name == "TRIPLE":
            s_ = _term_of(*targs[0])
            p_ = _term_of(*targs[1])
            o_ = _term_of(*targs[2])
            return (
                F.concat(
                    F.lit("<<("), s_, F.lit(" "), p_, F.lit(" "), o_, F.lit(")>>")
                ),
                "term",
            )
        if name == "ISTRIPLE":
            return targs[0][0].startswith("<<("), "bool"
        if name in ("SUBJECT", "PREDICATE", "OBJECT"):
            c = targs[0][0]
            part = tf.triple_term_parts(c)[
                ("SUBJECT", "PREDICATE", "OBJECT").index(name)
            ]
            return F.when(c.startswith("<<("), part), "term"
    raise RDFSyntaxError(f"cannot compile expression {e.kind}")


def _numish(c: F.Column) -> F.Column:
    """Numeric view of a column that may hold a native number (aggregate
    output) OR an encoded term (hidden MIN/MAX/SAMPLE aggregates project
    terms): try the direct cast first, fall back to term parsing."""
    return F.coalesce(c.try_cast("double"), tf.numeric_value(c.cast("string")))


import contextvars

from ..cdt import cdt_term_cond

_SCOPE: "contextvars.ContextVar[Optional[_compile_scope]]" = contextvars.ContextVar(
    "sparql_compile_scope", default=None
)


class _compile_scope:
    """One compile's scope: the base IRI for the IRI()/URI() builtins and
    the CDT switch (cdt:List / cdt:Map value semantics).

    Entered by every query entry point and by each SPARQL Update
    operation with a WHERE clause, and reset on exit, so interleaved or
    threaded compiles cannot leak a BASE or a switch across queries.
    Subquery compiles share the enclosing scope.  The switch is decided
    lazily by :func:`_cdt_active`."""

    def __init__(self, base: Optional[str], text: str, frame: DataFrame):
        self.base = base
        self.mentioned = "SPARQL-CDTs" in text
        self.frame = frame
        self.cdt: Optional[bool] = None

    def __enter__(self):
        self.token = _SCOPE.set(self)

    def __exit__(self, *exc):
        _SCOPE.reset(self.token)


def _cdt_active() -> bool:
    """Does this compile give =, !=, <, … between terms and ORDER BY their
    composite (pandas UDF) branches?  Yes when the query text mentions the
    CDT namespace, or when the data holds a CDT literal: a CDT-silent
    query must still compare them by VALUE (Jena dispatches per row:
    CompositeDatatypeList.isEqual).  The answer stays a compile-time
    switch, which keeps pandas UDFs out of every other plan; it is
    computed the first time a compile asks and kept for the rest of it,
    so a compile that neither compares nor orders terms never probes."""
    scope = _SCOPE.get()
    if scope is None:
        return False
    if scope.cdt is None:
        scope.cdt = scope.mentioned or _data_has_cdt(scope.frame)
    return scope.cdt


_cdt_data_cache: "dict[tuple, bool]" = {}


def _probe_has_cdt(df: DataFrame) -> bool:
    """One column-pruned scan with early exit on the first CDT literal."""
    cond = cdt_term_cond(df.columns)
    return cond is not None and not df.filter(cond).isEmpty()


def _data_has_cdt(df: DataFrame) -> bool:
    try:
        # semanticHash alone is plan-based and goes stale when the files
        # under the same path are overwritten (e.g. by the update/patch
        # sinks); part-file names are fresh UUIDs on every write, so
        # folding inputFiles() in makes the key track the data snapshot.
        # Both are driver-side metadata — no job.
        key = (df.semanticHash(), hash(tuple(sorted(df.inputFiles()))))
    except Exception:
        key = None
    if key is not None and key in _cdt_data_cache:
        return _cdt_data_cache[key]
    has = _probe_has_cdt(df)
    if key is not None:
        while len(_cdt_data_cache) >= 512:  # bound a long-lived driver
            _cdt_data_cache.pop(next(iter(_cdt_data_cache)))
        _cdt_data_cache[key] = has
    return has

# BNODE()/BNODE(str) support (E_BNode.java semantics: same row + same arg
# → same bnode; distinct rows → distinct bnodes; no-arg → fresh per call).
# The compile site injects a per-row id column and scopes its name here;
# labels are md5(rowid, arg-or-call-salt).
import itertools as _it

_BNODE_ROWID: "contextvars.ContextVar[Optional[str]]" = contextvars.ContextVar(
    "sparql_bnode_rowid", default=None
)
_BNODE_SALT = _it.count()


def _contains_call(e: "Expr", fname: str) -> bool:
    if not isinstance(e, Expr):
        return False
    if e.kind == "call" and e.value == fname:
        return True
    return any(_contains_call(a, fname) for a in e.args)


class _bnode_scope:
    """Inject a per-row id column for BNODE() compilation if any of the
    expressions needs one; restores the ContextVar and drops the column
    via ``finish``."""

    def __init__(self, df: DataFrame, exprs) -> None:
        self.rid = None
        self.token = None
        self.df = df
        if any(_contains_call(e, "BNODE") for e in exprs):
            self.rid = f"__bnrow{next(_BNODE_SALT)}"
            # pin the row ids: monotonically_increasing_id is not stable
            # under recomputation (self-joins, retries), and BNODE labels
            # derive from it — same reasoning as _instantiate's checkpoint
            self.df = df.withColumn(
                self.rid, F.monotonically_increasing_id()
            ).localCheckpoint(eager=True)
            self.token = _BNODE_ROWID.set(self.rid)

    def finish(self, df: DataFrame) -> DataFrame:
        if self.token is not None:
            _BNODE_ROWID.reset(self.token)
        if self.rid is not None:
            df = df.drop(self.rid)
        return df


def _stringish(c: F.Column, t: str) -> F.Column:
    """SPARQL 'string literal' argument check (simple / xsd:string /
    language-tagged) — other terms make string functions error."""
    if t == "plain":
        return F.lit(True)
    if t in ("term",):
        dt = tf.datatype(c)
        return tf.is_literal(c) & (
            (dt == tf.XSD + "string") | (dt == tf.RDF_LANGSTRING)
        )
    return F.lit(False)


def _lang_of(c: F.Column, t: str) -> F.Column:
    if t == "term":
        return F.coalesce(tf.lang(c), F.lit(""))
    return F.lit("")


def _plain_literal(lex_col: F.Column) -> F.Column:
    return F.concat(F.lit('"'), lex_col, F.lit('"'))


def _num_dt_rank(c: F.Column) -> F.Column:
    """Promotion rank of a numeric term's datatype: 0 = the xsd:integer
    tree, 1 = decimal, 2 = float, 3 = double; null when not numeric."""
    dt = tf.datatype(c)
    return (
        F.when(dt == tf.XSD + "decimal", F.lit(1))
        .when(dt == tf.XSD + "float", F.lit(2))
        .when(dt == tf.XSD + "double", F.lit(3))
        .when(tf.is_numeric(c), F.lit(0))
    )


def _rank_to_dt(r: F.Column) -> F.Column:
    return (
        F.when(r == 0, F.lit(tf.XSD + "integer"))
        .when(r == 1, F.lit(tf.XSD + "decimal"))
        .when(r == 2, F.lit(tf.XSD + "float"))
        .otherwise(F.lit(tf.XSD + "double"))
    )


def _term_of(c: F.Column, kind: str) -> F.Column:
    """Encode a typed expression result as a canonical term string, so
    BIND/projection outputs join and compare like any other binding."""
    if kind in ("term", "iri"):
        return c
    if kind == "bool":
        return F.when(
            c.isNotNull(),
            F.concat(
                F.lit('"'),
                F.when(c, F.lit("true")).otherwise(F.lit("false")),
                F.lit(f'"^^<{tf.XSD}boolean>'),
            ),
        )
    if kind == "numdt":
        # arith result with tracked promotion rank: exact datatype,
        # integer lexical forms without the ".0"
        v, r = c["v"], c["r"]
        lex = F.when(
            (r == 0) & (F.abs(v) < F.lit(9.007199254740992e15)),
            v.try_cast("long").cast("string"),
        ).otherwise(v.cast("string"))
        return F.when(v.isNotNull(), tf.str_dt(lex, _rank_to_dt(r)))
    if kind == "num":
        # integral results encode as xsd:integer (Jena's numeric tower
        # keeps integer+integer → integer); fractional stay xsd:double
        d = c.try_cast("double")
        is_int = (
            d.isNotNull()
            & (d == F.floor(d))
            & (F.abs(d) < F.lit(9.007199254740992e15))
        )
        return F.when(
            c.isNotNull(),
            F.when(
                is_int,
                tf.str_dt(
                    d.try_cast("long").cast("string"), F.lit(tf.XSD + "integer")
                ),
            ).otherwise(tf.str_dt(d.cast("string"), F.lit(tf.XSD + "double"))),
        )
    # plain string
    return F.when(c.isNotNull(), F.concat(F.lit('"'), c, F.lit('"')))


def _ebv(c: F.Column, t: str) -> F.Column:
    """Effective boolean value (SPARQL §17.2.2 / Jena XSDFuncOp
    booleanEffectiveValue): booleans by value, numerics ≠ 0 (malformed
    numeric literal → false), strings non-empty; anything else is a type
    error → null (rows are dropped by FILTER)."""
    if t == "bool":
        return c
    if t == "num":
        return _numish(c) != 0
    if t == "numdt":
        return c["v"] != 0
    if t == "plain":
        return F.length(c) > 0
    nv = tf.numeric_value(c)
    dtc = tf.datatype(c)
    lx = tf.lex(c)
    return (
        F.when(
            tf.is_literal(c) & (dtc == tf.XSD + "boolean"),
            # invalid boolean lexical forms are a type error, not false
            F.when(lx.isin("true", "1"), F.lit(True))
            .when(lx.isin("false", "0"), F.lit(False))
            .otherwise(F.lit(None).cast("boolean")),
        )
        .when(tf.is_numeric(c), F.coalesce(nv != 0, F.lit(False)))
        .when(
            tf.is_literal(c) & (dtc == tf.XSD + "string"),
            F.length(lx) > 0,
        )
        .otherwise(F.lit(None).cast("boolean"))
    )


def _as_bool(e: Expr, avail: Optional[set] = None) -> F.Column:
    c, t = _typed(e, avail)
    return _ebv(c, t)


_DATE_DTS = [tf.XSD + n for n in ("dateTime", "date", "time")]
_KNOWN_CMP_DTS = (
    [tf.XSD + "string", tf.RDF_LANGSTRING, tf.XSD + "boolean"]
    + _DATE_DTS
)


def _slim_eq(a: F.Column, b: F.Column, depth: int) -> F.Column:
    """Lightweight value equality for triple-term components: numerics by
    value, nested triple terms one level deeper, term identity otherwise."""
    na, nb = tf.numeric_value(a), tf.numeric_value(b)
    base = F.when(na.isNotNull() & nb.isNotNull(), na == nb).otherwise(a == b)
    if depth <= 0:
        return base
    (sa, pa, oa), (sb, pb, ob) = tf.triple_term_parts(a), tf.triple_term_parts(b)
    return F.when(
        a.startswith("<<(") & b.startswith("<<("),
        (sa == sb) & (pa == pb) & _slim_eq(oa, ob, depth - 1),
    ).otherwise(base)


def _term_value_cmp(ca: F.Column, cb: F.Column, op: str, depth: int = 2) -> F.Column:
    """SPARQL open-world value comparison of two encoded-term columns
    (§17.3 operator mapping, NodeValue.compare / compareAlways): defined
    within a value category — numeric by value, string/boolean/date-group
    by lexical form; a literal with an UNKNOWN datatype is only
    term-comparable, anything else is a type ERROR (null → the FILTER
    drops the row, for = and != alike).  RDF 1.2 triple terms compare
    component-wise, recursing ``depth`` levels through nested objects."""
    na, nb = tf.numeric_value(ca), tf.numeric_value(cb)
    num_ok = na.isNotNull() & nb.isNotNull()
    la, lb = tf.lex(ca), tf.lex(cb)
    dta, dtb = tf.datatype(ca), tf.datatype(cb)
    lit_a, lit_b = tf.is_literal(ca), tf.is_literal(cb)

    def cat(c, dt):
        return (
            F.when(tf.is_numeric(c), F.lit("num"))
            .when(dt == tf.XSD + "string", F.lit("str"))
            .when(dt == tf.RDF_LANGSTRING, F.lit("lang"))
            .when(dt == tf.XSD + "boolean", F.lit("bool"))
            .when(dt.isin(_DATE_DTS), F.lit("date"))
            .otherwise(F.lit("unk"))
        )

    cat_a, cat_b = cat(ca, dta), cat(cb, dtb)
    num_both = (cat_a == "num") & (cat_b == "num")
    str_both = (cat_a == "str") & (cat_b == "str")
    bool_both = (cat_a == "bool") & (cat_b == "bool")
    lang_any = (cat_a == "lang") | (cat_b == "lang")
    err = F.lit(None).cast("boolean")
    # date/dateTime/time value space: 'Z' ≡ '+00:00' ≡ '-00:00'; a
    # timezone-vs-none (or date-vs-dateTime) pair with the SAME date
    # part is indeterminate (XSD ±14h window) → error; a different
    # date part is definitely a different value
    date_both = lit_a & lit_b & dta.isin(_DATE_DTS) & dtb.isin(_DATE_DTS)
    tz_re = r"(Z|[+-]\d\d:\d\d)$"
    norm_a = F.regexp_replace(la, r"[+-]00:00$", "Z")
    norm_b = F.regexp_replace(lb, r"[+-]00:00$", "Z")
    same_flavor = (dta == dtb) & (la.rlike(tz_re) == lb.rlike(tz_re))
    date_part = lambda c: F.substring(c, 1, 10)
    dp_ne = date_part(la) != date_part(lb)
    date_eq = (
        F.when(dta != dtb, F.lit(False))
        .when(same_flavor, norm_a == norm_b)
        .when(dp_ne, F.lit(False))
        .otherwise(err)
    )

    def date_ord(lex_cmp, part_cmp):
        return (
            F.when(dta != dtb, err)
            .when(same_flavor, lex_cmp)
            .when(dp_ne, part_cmp)
            .otherwise(err)
        )

    # triple terms (RDF 1.2): compare component-wise — inner subjects and
    # predicates are IRIs/bnodes (term identity), the object recurses
    tt_both = ca.startswith("<<(") & cb.startswith("<<(")
    sa, pa, oa = tf.triple_term_parts(ca)
    sb, pb, ob = tf.triple_term_parts(cb)
    # nested objects use a SLIM value comparison (numeric-by-value, term
    # identity otherwise, one more tt decomposition level) — embedding
    # the full category matrix recursively would explode the Catalyst
    # expression tree and stall codegen on every comparison
    tt_obj_eq = _slim_eq(oa, ob, depth)
    tt_obj_lt = F.when(
        tf.numeric_value(oa).isNotNull() & tf.numeric_value(ob).isNotNull(),
        tf.numeric_value(oa) < tf.numeric_value(ob),
    ).otherwise(oa < ob)
    sp_eq = (sa == sb) & (pa == pb)
    tt_eq = F.when(sp_eq, tt_obj_eq).otherwise(F.lit(False))

    if op in ("=", "!="):
        eq = (
            F.when(ca == cb, F.lit(True))
            .when(tt_both, tt_eq)
            .when(ca.startswith("<<(") | cb.startswith("<<("), F.lit(False))
            .when(~lit_a | ~lit_b, F.lit(False))
            .when(num_both, F.when(num_ok, na == nb).otherwise(err))
            .when(str_both, la == lb)
            .when((cat_a == "lang") & (cat_b == "lang"), F.lit(False))
            .when(bool_both, la == lb)
            .when(date_both, date_eq)
            .when(lang_any, F.lit(False))
            .otherwise(err)
        )
        return eq if op == "=" else ~eq
    lops = {"<": la < lb, ">": la > lb, "<=": la <= lb, ">=": la >= lb}
    nops = {"<": na < nb, ">": na > nb, "<=": na <= nb, ">=": na >= nb}
    pa_, pb_ = date_part(la), date_part(lb)
    pops = {"<": pa_ < pb_, ">": pa_ > pb_, "<=": pa_ <= pb_, ">=": pa_ >= pb_}
    # triple-term ordering OPERATORS are only defined when subject and
    # predicate agree (the object then compares by value) — unlike the
    # total sort order used by ORDER BY (functions.order_key), which
    # ranks any two triple terms
    tt_lt = F.when(sp_eq, tt_obj_lt).otherwise(err)
    tt_ord = {
        "<": tt_lt & ~tt_eq,
        ">": ~tt_lt & ~tt_eq,
        "<=": tt_lt | tt_eq,
        ">=": ~tt_lt | tt_eq,
    }
    # identical terms: <= / >= hold, < / > do not (RDFterm-equal)
    return (
        F.when(ca == cb, F.lit(op in ("<=", ">=")))
        .when(tt_both, tt_ord[op])
        .when(num_both, F.when(num_ok, nops[op]).otherwise(err))
        .when(str_both | bool_both, lops[op])
        .when(date_both, date_ord(lops[op], pops[op]))
        .otherwise(err)
    )


def _compile_cmp(e: Expr, avail: Optional[set] = None) -> F.Column:
    (ca, ta), (cb, tb) = _typed(e.args[0], avail), _typed(e.args[1], avail)
    op = e.value
    if {"iri", "term"} >= {ta, tb} and "iri" in (ta, tb):
        # one side is statically a non-literal term: value comparison
        # degenerates to term identity (=/!=) and ordering to error
        if op == "=":
            return ca == cb
        if op == "!=":
            return ~(ca == cb)
        return F.lit(None).cast("boolean")
    if ta == tb == "term":
        if op in ("=", "!=", "<", ">", "<=", ">=") and _cdt_active():
            # CDT-active query: run the whole term comparison in ONE
            # vectorized UDF (composite isEqual/compare + the scalar
            # value spaces).  Two reasons: composites need per-row
            # recursive parsing anyway, and the JVM compare tree
            # references each operand dozens of times — when an operand
            # is (or was BIND-bound to) a CDT function call, every
            # reference would re-run that pandas UDF (40s vs 1s on the
            # SPARQL-CDTs equality fixtures).  Non-CDT queries never
            # reach this branch.
            from . import cdt_funcs as _cf

            if op == "=":
                return _cf.term_eq_udf(ca, cb)
            if op == "!=":
                return ~_cf.term_eq_udf(ca, cb)
            cmpv = _cf.term_cmp_udf(ca, cb)
            return {
                "<": cmpv < 0, ">": cmpv > 0,
                "<=": cmpv <= 0, ">=": cmpv >= 0,
            }[op]
        return _term_value_cmp(ca, cb, op)
    # mixed / plain / numeric: compare on the plain view
    def numview(c, t):
        if t == "numdt":
            return c["v"]
        if t == "term":
            return tf.numeric_value(c)
        return _numish(c)

    if ta in ("num", "numdt") or tb in ("num", "numdt"):
        pa, pb = numview(ca, ta), numview(cb, tb)
    else:
        pa = tf.lex(ca) if ta == "term" else ca
        pb = tf.lex(cb) if tb == "term" else cb
    ops = {
        "=": pa == pb, "!=": pa != pb, "<": pa < pb,
        ">": pa > pb, "<=": pa <= pb, ">=": pa >= pb,
    }
    return ops[op]


def _compile_expr(e: Expr, avail: Optional[set] = None) -> F.Column:
    c, _t = _typed(e, avail)
    return c


def _join_compat(
    left: DataFrame,
    lnull: set,
    right: DataFrame,
    rnull: set,
    how: str = "inner",
) -> Tuple[DataFrame, set]:
    """Join two solution relations on their shared variables with SPARQL
    compatible-mapping semantics (SPARQL 1.1 §18.3 Join/LeftJoin): an
    unbound variable (null column) is compatible with any binding, and the
    merged row carries the bound value.  When no shared variable can be
    null on either side this is a plain (hash/broadcast) equi-join; the
    null-tolerant form only triggers when needed, since it compiles to a
    non-equi condition."""
    shared = [c for c in left.columns if c in right.columns]
    if not shared:
        if how == "left_outer":
            out = left.join(right, F.lit(True), "left_outer")
            return out, lnull | rnull | set(right.columns)
        return left.crossJoin(right), lnull | rnull
    nn = set(lnull) | set(rnull)
    if how == "left_outer":
        nn |= set(right.columns) - set(shared)
    if not any(c in lnull or c in rnull for c in shared):
        return left.join(right, shared, how), nn
    r = right
    for c in shared:
        r = r.withColumnRenamed(c, "__r_" + c)
    j = left.join(r, _compat_cond(shared), how)
    cols = [F.coalesce(F.col(c), F.col("__r_" + c)).alias(c) for c in shared]
    cols += [F.col(c) for c in left.columns if c not in shared]
    cols += [
        F.col(c) for c in r.columns
        if not (c.startswith("__r_") and c[4:] in shared) and c not in left.columns
    ]
    return j.select(*cols), nn


def _compat_cond(shared: List[str]) -> F.Column:
    """Per-pair compatibility over renamed right columns __r_<c>."""
    cond = F.lit(True)
    for c in shared:
        cond = cond & (
            F.col(c).isNull()
            | F.col("__r_" + c).isNull()
            | (F.col(c) == F.col("__r_" + c))
        )
    return cond


def _compile_group(
    triples: DataFrame,
    g: Group,
    graph_term: Optional[str] = None,
    graph_var: Optional[str] = None,
) -> DataFrame:
    df, _nullable = _compile_group_n(triples, g, graph_term, graph_var)
    return df


def _apply_term_decomp(df: DataFrame, el: TermDecomp) -> DataFrame:
    """Apply a SPARQL 1.2 triple-term decomposition: constrain the bound
    column ``el.var`` to be a triple term and match/bind its components
    (:func:`functions.triple_term_parts`)."""
    v = F.col(el.var[1:])
    df = df.filter(v.startswith("<<("))
    for t, c in zip((el.s, el.p, el.o), tf.triple_term_parts(v)):
        if t.startswith("?"):
            name = t[1:]
            if name in df.columns:
                df = df.filter(F.col(name) == c)
            else:
                df = df.withColumn(name, c)
        else:
            df = df.filter(c == t)
    return df


def _compile_lateral(
    triples: DataFrame,
    lhs: DataFrame,
    lnull: set,
    pattern: Group,
    graph_term: Optional[str] = None,
    graph_var: Optional[str] = None,
) -> Tuple[DataFrame, set]:
    """Correlated LATERAL evaluation: the inner pattern sees the LHS
    bindings (substitution semantics, OpLateral); inner subquery
    modifiers (ORDER/LIMIT/OFFSET) apply PER LHS SOLUTION via a window
    over a per-row id."""
    if "__lrow" not in lhs.columns:
        lhs = lhs.withColumn(
            "__lrow", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
    df, nullable = lhs, set(lnull)
    for el in pattern.elements:
        if isinstance(el, TriplePat):
            rel = bgp(triples, [(el.s, el.p, el.o)],
                      graph_term=graph_term, graph_var=graph_var)
            df, nullable = _join_compat(df, nullable, rel, set(), "inner")
        elif isinstance(el, Filter):
            # correlated filters see LHS columns (lateral-3)
            df = df.filter(
                F.coalesce(_as_bool(el.expr, set(df.columns)), F.lit(False))
            )
        elif isinstance(el, SubSelectPat):
            df, nullable = _lateral_subselect(
                triples, df, nullable, el.query, graph_term, graph_var, False
            )
        elif isinstance(el, OptionalPat) and (
            len(el.pattern.elements) == 1
            and isinstance(el.pattern.elements[0], SubSelectPat)
        ):
            df, nullable = _lateral_subselect(
                triples, df, nullable, el.pattern.elements[0].query,
                graph_term, graph_var, True,
            )
        elif isinstance(el, SubGroupPat):
            df, nullable = _compile_lateral(
                triples, df, nullable, el.pattern, graph_term, graph_var
            )
        else:
            raise RDFSyntaxError(
                f"unsupported element inside LATERAL: {type(el).__name__}"
            )
    return df.drop("__lrow"), nullable


def _lateral_subselect(
    triples: DataFrame,
    lhs: DataFrame,
    lnull: set,
    q: "SelectQuery",
    graph_term: Optional[str],
    graph_var: Optional[str],
    optional: bool,
) -> Tuple[DataFrame, set]:
    """Subquery inside LATERAL: the PATTERN is evaluated correlated
    (outer bindings substituted even when not projected — lateral-5),
    the projection restricts the NEW columns, and ORDER/LIMIT apply per
    LHS row.  ``optional`` re-attaches unmatched LHS rows with nulls."""
    from pyspark.sql.window import Window

    if q.aggregates or q.group_by or q.proj_exprs or q.having is not None:
        raise RDFSyntaxError(
            "aggregating subqueries inside LATERAL are not supported"
        )
    lhs_id = lhs if "__lrow" in lhs.columns else lhs.withColumn(
        "__lrow", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    work, wnull = lhs_id, set(lnull)
    for el in q.where.elements:
        if isinstance(el, TriplePat):
            rel = bgp(triples, [(el.s, el.p, el.o)],
                      graph_term=graph_term, graph_var=graph_var)
            work, wnull = _join_compat(work, wnull, rel, set(), "inner")
        elif isinstance(el, Filter):
            work = work.filter(
                F.coalesce(_as_bool(el.expr, set(work.columns)), F.lit(False))
            )
        else:
            raise RDFSyntaxError(
                "unsupported pattern inside a LATERAL subquery"
            )
    proj = q.variables or [
        c for c in work.columns
        if c not in ("__lrow",) and not c.startswith("__anon")
    ]
    keep = list(dict.fromkeys(
        [c for c in lhs_id.columns] + [v for v in proj if v in work.columns]
    ))
    work = work.select(*[c for c in keep if c in work.columns])
    if q.limit is not None or q.offset:
        keys = []
        for e, asc in q.order:
            col, kind = _typed(e, set(work.columns))
            c = tf.order_key(col) if kind in ("term", "iri") else col
            keys.append(c.asc() if asc else c.desc())
        # deterministic tiebreak for LIMIT without (full) ORDER
        keys += [F.col(c).asc() for c in work.columns if c != "__lrow"]
        w = Window.partitionBy("__lrow").orderBy(*keys)
        work = work.withColumn("__rn", F.row_number().over(w))
        lo = q.offset or 0
        cond = F.col("__rn") > lo
        if q.limit is not None:
            cond = cond & (F.col("__rn") <= lo + q.limit)
        work = work.filter(cond).drop("__rn")
    newnull = wnull | (set(work.columns) - set(lhs_id.columns))
    if optional:
        add = [c for c in work.columns if c not in lhs_id.columns]
        res = lhs_id.join(
            work.select("__lrow", *add), "__lrow", "left_outer"
        )
        return res, set(lnull) | set(add)
    return work, newnull


def _compile_group_n(
    triples: DataFrame,
    g: Group,
    graph_term: Optional[str] = None,
    graph_var: Optional[str] = None,
) -> Tuple[DataFrame, set]:
    """Compile a group pattern → (DataFrame, set of variables that can be
    null).  The nullable set is what lets later joins pick the cheap
    equi-join whenever compatible-mapping null handling cannot matter.

    Triple patterns are grouped into *maximal consecutive runs* (one OpBGP
    per run, as AlgebraGenerator does): a BIND/subquery between triples
    cuts the BGP so later patterns can join on the bound variable.
    FILTER (incl. EXISTS forms) is group-scoped, so filters are collected
    and applied after every other element (OpFilter wraps the group)."""
    df: Optional[DataFrame] = None
    nullable: set = set()
    seg: List[TriplePat] = []
    filters: List[object] = []  # Filter | ExistsPat, applied at group end
    pending_decomps: List[TermDecomp] = []  # TermDecomps whose var isn't bound yet

    def drain_decomps():
        # A <<( )>> pattern in object position parses BEFORE the triple
        # that binds its variable (_tt_pat appends the TermDecomp, then
        # _pred_obj_list appends the TriplePat) — so decomps are deferred
        # until a BGP flush binds the var.  Loop to fixpoint: a decomp
        # can bind the variable of a nested decomp.
        nonlocal df
        progressed = True
        while progressed and pending_decomps:
            progressed = False
            for d in list(pending_decomps):
                if df is not None and d.var[1:] in df.columns:
                    df = _apply_term_decomp(df, d)
                    pending_decomps.remove(d)
                    progressed = True

    def flush():
        nonlocal df, nullable
        if not seg:
            return
        rel = bgp(
            triples,
            [(p.s, p.p, p.o) for p in seg],
            graph_term=graph_term,
            graph_var=graph_var,
        )
        seg.clear()
        if df is None:
            df = rel
        else:
            df, nullable = _join_compat(df, nullable, rel, set(), "inner")
        drain_decomps()

    for el in g.elements:
        if isinstance(el, TriplePat):
            seg.append(el)
            continue
        if isinstance(el, (Filter, ExistsPat)):
            filters.append(el)
            continue
        flush()
        if isinstance(el, PathPat):
            rel = _compile_path(triples, el, graph_term, graph_var)
            # bind endpoints: consts filter, vars project/join
            sel = []
            if graph_var is not None and "g" in rel.columns:
                sel.append(F.col("g").alias(graph_var))
            if el.s.startswith("?"):
                sel.append(F.col("src").alias(el.s[1:]))
            else:
                rel = rel.filter(F.col("src") == el.s)
            if el.o.startswith("?"):
                sel.append(F.col("dst").alias(el.o[1:]))
            else:
                rel = rel.filter(F.col("dst") == el.o)
            # no variables at all: an existence marker (dropped from
            # results by the __anon prefix rule)
            step = (
                rel.select(*sel)
                if sel
                else rel.select(F.lit(1).alias("__anon_one")).limit(1)
            )
            if df is None:
                df = step
            else:
                df, nullable = _join_compat(df, nullable, step, set(), "inner")
            continue
        if isinstance(el, GraphPat):
            if el.graph.startswith("?"):
                sub, snull = _compile_group_n(triples, el.pattern, graph_var=el.graph[1:])
            else:
                sub, snull = _compile_group_n(triples, el.pattern, graph_term=el.graph)
            if df is None:
                df, nullable = sub, snull
            else:
                df, nullable = _join_compat(df, nullable, sub, snull, "inner")
            continue
        if isinstance(el, SubSelectPat):
            # Subquery scoping: only PROJECTED vars join with the outer
            # pattern.  A GRAPH ?g context therefore binds the graph under
            # an internal name so an inner (non-projected) ?g stays fresh.
            if graph_var is not None:
                sub = _compile_select(triples, el.query, graph_term, "__gctx")
                if "__gctx" in sub.columns:
                    if graph_var in sub.columns:
                        # subquery also projects the same name: must agree
                        sub = sub.filter(
                            F.col("__gctx") == F.col(graph_var)
                        ).drop("__gctx")
                    else:
                        sub = sub.withColumnRenamed("__gctx", graph_var)
            else:
                sub = _compile_select(triples, el.query, graph_term, None)
            if df is None:
                df, nullable = sub, set()
            else:
                df, nullable = _join_compat(df, nullable, sub, set(), "inner")
        elif isinstance(el, ValuesPat):
            spark_ = triples.sparkSession
            if not el.vars:
                # VALUES () { () … } — n empty solutions: join is a no-op
                # when n ≥ 1, annihilates everything when n = 0
                if df is None:
                    df = spark_.range(1).drop("id")
                if not el.rows:
                    df = df.limit(0)
                continue
            schema = ", ".join(f"`{v}` string" for v in el.vars)
            vals = spark_.createDataFrame(
                [tuple(r) for r in el.rows], schema
            )
            vnull = {
                v for i, v in enumerate(el.vars)
                if any(r[i] is None for r in el.rows)
            }
            if df is None:
                df, nullable = vals, set(vnull)
            else:
                df, nullable = _join_compat(df, nullable, vals, vnull, "inner")
        elif isinstance(el, UnionPat):
            left, lnull = _compile_group_n(triples, el.left, graph_term, graph_var)
            right, rnull = _compile_group_n(triples, el.right, graph_term, graph_var)
            u = left.unionByName(right, allowMissingColumns=True)
            # vars not bound in both branches become nullable
            unull = (
                lnull | rnull
                | (set(left.columns) ^ set(right.columns))
            )
            if df is None:
                df, nullable = u, unull
            else:
                df, nullable = _join_compat(df, nullable, u, unull, "inner")
        elif isinstance(el, OptionalPat):
            inner_filters = [
                x for x in el.pattern.elements if isinstance(x, Filter)
            ]
            if df is None or not inner_filters:
                sub, snull = _compile_group_n(
                    triples, el.pattern, graph_term, graph_var
                )
                if df is None:
                    df, nullable = sub, snull
                else:
                    df, nullable = _join_compat(
                        df, nullable, sub, snull, "left_outer"
                    )
            else:
                # LeftJoin(P1, P2, F): the filter is part of the join
                # condition and sees BOTH sides (OpLeftJoin expr;
                # dawg-optional-filter-005) — not a post-filter on P2
                rest = Group(
                    [x for x in el.pattern.elements if not isinstance(x, Filter)]
                )
                sub, snull = _compile_group_n(triples, rest, graph_term, graph_var)
                shared = [c for c in df.columns if c in sub.columns]
                r = sub
                for c in sub.columns:
                    r = r.withColumnRenamed(c, "__r_" + c)
                cond = F.lit(True)
                for c in shared:
                    cond = cond & (
                        F.col(c).isNull()
                        | F.col("__r_" + c).isNull()
                        | (F.col(c) == F.col("__r_" + c))
                    )
                resolver = {c: F.col(c) for c in df.columns}
                for c in sub.columns:
                    merged = F.col("__r_" + c)
                    if c in resolver:
                        merged = F.coalesce(F.col(c), merged)
                    resolver[c] = merged
                for fx in inner_filters:
                    cond = cond & F.coalesce(
                        _as_bool(fx.expr, resolver), F.lit(False)
                    )
                j = df.join(r, cond, "left_outer")
                cols = [
                    F.coalesce(F.col(c), F.col("__r_" + c)).alias(c)
                    for c in shared
                ]
                cols += [F.col(c) for c in df.columns if c not in shared]
                cols += [
                    F.col("__r_" + c).alias(c)
                    for c in sub.columns
                    if c not in shared
                ]
                df = j.select(*cols)
                nullable |= snull | (set(sub.columns) - set(shared))
        elif isinstance(el, MinusPat):
            if df is None:
                raise RDFSyntaxError("MINUS without preceding pattern")
            sub, snull = _compile_group_n(triples, el.pattern, graph_term, graph_var)
            shared = [c for c in df.columns if c in sub.columns]
            if not shared:
                continue  # disjoint domains: MINUS removes nothing
            r = sub.select(*shared).dropDuplicates()
            if not any(c in nullable or c in snull for c in shared):
                df = df.join(r, shared, "left_anti")
            else:
                for c in shared:
                    r = r.withColumnRenamed(c, "__r_" + c)
                overlap = F.lit(False)
                for c in shared:
                    overlap = overlap | (
                        F.col(c).isNotNull() & F.col("__r_" + c).isNotNull()
                    )
                df = df.join(r, _compat_cond(shared) & overlap, "left_anti")
        elif isinstance(el, TermDecomp):
            if df is not None and el.var[1:] in df.columns:
                df = _apply_term_decomp(df, el)
            else:
                # bound later in this group (e.g. by the enclosing triple
                # pattern of a <<( )>> in object position) — defer
                pending_decomps.append(el)
        elif isinstance(el, LateralPat):
            if df is None:
                # no LHS: LATERAL of the unit table = the pattern itself
                df, nullable = _compile_group_n(
                    triples, el.pattern, graph_term, graph_var
                )
            else:
                df, nullable = _compile_lateral(
                    triples, df, nullable, el.pattern, graph_term, graph_var
                )
        elif isinstance(el, ServicePat):
            # ServiceExecutorRegistry seam: endpoints registered as local
            # DataFrames execute (the reference's custom-executor path);
            # HTTP federation stays out of scope.  SILENT + missing
            # endpoint = the unit solution (join identity), Jena's
            # silent-failure semantics.
            from ..service import lookup_service

            if el.endpoint.startswith("?"):
                raise RDFSyntaxError(
                    "SERVICE with a variable endpoint is not supported"
                )
            ds = lookup_service(el.endpoint[1:-1])
            if ds is None:
                if el.silent:
                    continue
                raise RDFSyntaxError(
                    f"SERVICE {el.endpoint}: endpoint not registered "
                    "(no network federation; register a local dataset "
                    "via jena_spark.service.register_service)"
                )
            sub, snull = _compile_group_n(ds, el.pattern, None, None)
            if df is None:
                df, nullable = sub, snull
            else:
                df, nullable = _join_compat(df, nullable, sub, snull, "inner")
        elif isinstance(el, SubGroupPat):
            sub, snull = _compile_group_n(triples, el.pattern, graph_term, graph_var)
            if df is None:
                df, nullable = sub, snull
            else:
                df, nullable = _join_compat(df, nullable, sub, snull, "inner")
        elif isinstance(el, BindPat):
            base = (
                df if df is not None
                else triples.sparkSession.range(1).drop("id")
            )
            scope = _bnode_scope(base, [el.expr])
            base = scope.df
            col, kind = _typed(el.expr, set(base.columns))
            base = base.withColumn(el.var, _term_of(col, kind))
            df = scope.finish(base)
            nullable.add(el.var)  # expression errors bind to unbound (null)
        elif isinstance(el, UnfoldPat):
            # QueryIterUnfold: the pandas UDF builds the (v1, v2) entry
            # array per row, explode() fans it out JVM-side; empty
            # lists/maps drop the row, non-CDT values pass through with
            # the variables unbound — exactly the worker's behavior
            from . import cdt_funcs as _cf

            base = (
                df if df is not None
                else triples.sparkSession.range(1).drop("id")
            )
            col, kind = _typed(el.expr, set(base.columns))
            tmp = f"__unfold{next(_BNODE_SALT)}"
            base = base.withColumn(
                tmp, F.explode(_cf.cdt_unfold_udf(_term_of(col, kind)))
            )
            base = base.withColumn(el.var1, F.col(tmp)["v1"])
            nullable.add(el.var1)
            if el.var2 is not None:
                base = base.withColumn(el.var2, F.col(tmp)["v2"])
                nullable.add(el.var2)
            df = base.drop(tmp)
    flush()
    drain_decomps()
    if pending_decomps:
        raise RDFSyntaxError("triple-term pattern variable not bound")
    if df is None:
        # {} or a filters-only group: the unit table (one empty solution)
        df = triples.sparkSession.range(1).drop("id")

    # group-scoped filters (OpFilter around the whole group)
    for el in filters:
        if isinstance(el, Filter):
            # EXISTS nested in a boolean expression: precompute a marker
            # column per EXISTS via a distinct-key left join, substitute a
            # boolean reference, filter, then drop the markers
            ex_nodes: List[Expr] = []

            def hoist(e: Expr) -> Expr:
                if e.kind == "exists":
                    ex_nodes.append(e)
                    name = f"__ex{len(ex_nodes) - 1}"
                    ref = Expr("boolvar", name)
                    _, positive = e.value
                    return ref if positive else Expr("not", args=[ref])
                if not e.args:
                    return e
                return Expr(e.kind, e.value, [hoist(a) for a in e.args])

            expr = hoist(el.expr)
            markers = []
            for i, ex in enumerate(ex_nodes):
                grp, _pos = ex.value
                name = f"__ex{i}"
                markers.append(name)
                sub, snull = _compile_group_n(triples, grp, graph_term, graph_var)
                shared = [c for c in df.columns if c in sub.columns]
                if not shared:
                    df = df.withColumn(name, F.lit(not sub.isEmpty()))
                    continue
                r = sub.select(*shared).dropDuplicates().withColumn(
                    name, F.lit(True)
                )
                if not any(c in nullable or c in snull for c in shared):
                    df = df.join(r, shared, "left_outer")
                else:
                    for c in shared:
                        r = r.withColumnRenamed(c, "__r_" + c)
                    df = df.join(
                        r.dropDuplicates(["__r_" + c for c in shared]),
                        _compat_cond(shared),
                        "left_outer",
                    ).drop(*["__r_" + c for c in shared])
                df = df.withColumn(name, F.coalesce(F.col(name), F.lit(False)))
            df = df.filter(_as_bool(expr, set(df.columns)))
            if markers:
                df = df.drop(*markers)
            continue
        # ExistsPat → semi/anti join against the sub-pattern
        sub, snull = _compile_group_n(triples, el.pattern, graph_term, graph_var)
        shared = [c for c in df.columns if c in sub.columns]
        how = "left_semi" if el.positive else "left_anti"
        if not shared:
            # no shared vars: EXISTS is a global emptiness test
            nonempty = not sub.isEmpty()
            if nonempty != el.positive:
                df = df.limit(0)
        else:
            r = sub.select(*shared).dropDuplicates()
            if not any(c in nullable or c in snull for c in shared):
                df = df.join(r, shared, how)
            else:
                for c in shared:
                    r = r.withColumnRenamed(c, "__r_" + c)
                df = df.join(r, _compat_cond(shared), how)
    return df, nullable


def _agg_column(item: AggItem):
    """Returns (agg_expr, post_extract) — post_extract is the field to pull
    out of a struct-valued aggregate, or None."""
    fn, var, distinct = item.fn, item.var, item.distinct
    col = F.col(var) if var else None
    if fn == "COUNT":
        if var is None:
            return F.count(F.lit(1)), None
        return (F.countDistinct(col) if distinct else F.count(col)), None
    if fn in ("SUM", "AVG"):
        nv = tf.numeric_value(col)
        # SPARQL §18.5.1.5/.6: Sum({}) = Avg({}) = 0 (the coalesce — only
        # the global empty aggregation can hit it), and a bound
        # non-numeric value is an evaluation *error* that makes the whole
        # group's aggregate unbound (the err guard; AggSum/AggAvg parity)
        err = F.max(F.when(col.isNotNull() & nv.isNull(), 1).otherwise(0))
        if distinct:
            if fn == "SUM":
                agg = F.sum_distinct(nv)
            else:
                raise RDFSyntaxError("AVG(DISTINCT) not supported")
        else:
            agg = F.sum(nv) if fn == "SUM" else F.avg(nv)
        return F.when(
            F.coalesce(err, F.lit(0)) == 0, F.coalesce(agg, F.lit(0))
        ), None
    if fn in ("MIN", "MAX"):
        # numeric values order numerically and before non-numerics;
        # everything else by term order (kind rank, then encoding)
        nv = tf.numeric_value(col)
        key = F.struct(
            nv.isNull().alias("nn"),
            F.coalesce(nv, F.lit(0.0)).alias("v"),
            col.alias("t"),
        )
        return (F.min(key) if fn == "MIN" else F.max(key)), "t"
    if fn == "SAMPLE":
        return F.min(col), None
    if fn == "MODE":
        # AggMode (Jena fork aggregate): most frequent value; ties break
        # to the smallest term so the result is deterministic.  Collected
        # per group then counted array-side — groups are aggregate inputs,
        # bounded by the grouping key's fan-in.
        lst = F.collect_list(col)

        def post_mode(c):
            counted = F.transform(
                F.array_distinct(c),
                lambda x: F.struct(
                    F.size(F.filter(c, lambda y: y == x)).alias("n"),
                    x.alias("v"),
                ),
            )
            best = F.array_sort(
                counted,
                lambda a, b: F.when(a["n"] != b["n"], b["n"] - a["n"]).otherwise(
                    F.when(a["v"] < b["v"], F.lit(-1))
                    .when(a["v"] > b["v"], F.lit(1))
                    .otherwise(F.lit(0))
                ),
            )
            return F.element_at(best, 1)["v"]

        return lst, post_mode
    if fn == "FOLD":
        # AggFoldList / AggFoldMap (jena-arq sparql/expr/aggregate/):
        # FOLD(?v) → cdt:List literal, FOLD(?k, ?v) → cdt:Map literal.
        # Element order: the optional FOLD-internal ORDER BY (compiled as
        # order_key structs sorted array-side); otherwise collection
        # order (SPARQL leaves it undefined).  The final literal is built
        # by a vectorized pandas UDF over the collected array — one call
        # per GROUP, not per row.
        from . import cdt_funcs

        conds = item.order or []
        key_cols = []
        for ce, _asc in conds:
            c_, k_ = _typed(ce)
            key_cols.append(
                tf.order_key(c_) if k_ in ("term", "iri") else c_
            )
        fields = [k.alias(f"k{i}") for i, k in enumerate(key_cols)]
        fields.append(col.alias("t"))
        if item.var2 is not None:
            fields.append(F.col(item.var2).alias("v"))
        arr = F.collect_list(F.struct(*fields))
        dirs = [1 if asc else -1 for _, asc in conds]

        def post_fold(c):
            a = c
            if dirs:
                def cmpf(l, r):
                    res = F.lit(0)
                    for i in reversed(range(len(dirs))):
                        d = dirs[i]
                        res = (
                            F.when(l[f"k{i}"] < r[f"k{i}"], F.lit(-d))
                            .when(l[f"k{i}"] > r[f"k{i}"], F.lit(d))
                            .otherwise(res)
                        )
                    return res

                a = F.array_sort(a, cmpf)
            if item.var2 is not None:
                pairs = F.transform(
                    a, lambda x: F.struct(x["t"].alias("k"), x["v"].alias("v"))
                )
                return cdt_funcs.cdt_fold_map_udf(pairs)
            elems = F.transform(a, lambda x: x["t"])
            if distinct:
                elems = F.array_distinct(elems)
            return cdt_funcs.cdt_fold_list_udf(elems)

        return arr, post_fold
    if fn == "GROUP_CONCAT":
        # AggGroupConcat: joins lexical forms (default separator " ") and
        # keeps the language tag when every input shares it.  Order is
        # undefined by SPARQL; we sort for cross-run determinism.
        vals = F.collect_set(tf.lex(col)) if distinct else F.collect_list(tf.lex(col))
        joined = F.concat_ws(item.sep, F.array_sort(vals))
        langs = F.array_distinct(F.collect_list(tf.lang(col)))
        one_lang = (F.size(langs) == 1) & (F.element_at(langs, 1) != "")
        term = F.when(
            one_lang, tf.str_lang(joined, F.element_at(langs, 1))
        ).otherwise(F.concat(F.lit('"'), joined, F.lit('"')))
        return term, None
    raise RDFSyntaxError(f"unsupported aggregate {fn}")


def _compile_path(
    triples: DataFrame,
    pat: PathPat,
    graph_term: Optional[str],
    graph_var: Optional[str],
) -> DataFrame:
    """Recursive path-expression evaluator → (src, dst) relation.
    Mirrors the P_* evaluators (sparql/path/eval/): links are filtered
    scans, sequence = join chain, alternation = union-distinct,
    modifiers = transitive closure (:func:`ops.algebra.closure`,
    semi-naive fixpoint) plus the identity relation for zero-length."""
    from .algebra import closure

    t = triples
    per_graph = False
    if "graph" in t.columns:
        if graph_term is not None:
            t = t.filter(F.col("graph") == graph_term)
        elif graph_var is None:
            t = t.filter(F.col("graph").isNull())
        else:
            # GRAPH ?g { …path… }: paths are evaluated per named graph
            # and never cross graph boundaries — every relation carries
            # a 'g' key column (joins, closure, identity all keyed on it)
            t = t.filter(F.col("graph").isNotNull())
            per_graph = True

    gcols = [F.col("graph").alias("g")] if per_graph else []
    keys = ["g"] if per_graph else []
    out_cols = keys + ["src", "dst"]

    def ident() -> DataFrame:
        nodes = t.select(
            *gcols, F.col("subj").alias("n")
        ).unionAll(t.select(*gcols, F.col("obj").alias("n"))).distinct()
        return nodes.select(
            *keys, F.col("n").alias("src"), F.col("n").alias("dst")
        )

    def ev(p: tuple) -> DataFrame:
        kind = p[0]
        if kind == "link":
            return t.filter(F.col("pred") == p[1]).select(
                *gcols, F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
        if kind == "inv":
            r = ev(p[1])
            return r.select(
                *keys, F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        if kind == "seq":
            rel: Optional[DataFrame] = None
            for child in p[1]:
                step = ev(child)
                if rel is None:
                    rel = step
                else:
                    rel = (
                        rel.withColumnRenamed("dst", "__mid")
                        .join(
                            step.withColumnRenamed("src", "__mid"),
                            keys + ["__mid"],
                        )
                        .select(*out_cols)
                    )
            return rel
        if kind == "alt":
            out: Optional[DataFrame] = None
            for child in p[1]:
                r = ev(child)
                out = r if out is None else out.unionAll(r)
            return out.distinct()
        if kind == "mod":
            op = p[2]
            if op == "0":  # zero-length only: never evaluates the inner
                return ident()
            rel = ev(p[1])
            if op == "+":
                return closure(rel, what="path +")
            if op == "?":
                return rel.unionAll(ident()).distinct()
            return closure(rel, what="path *").unionAll(ident()).distinct()
        if kind == "neg":
            return t.filter(~F.col("pred").isin(list(p[1]))).select(
                *gcols, F.col("subj").alias("src"), F.col("obj").alias("dst")
            ).distinct()
        if kind == "distinct":
            # P_Distinct (ARQ DISTINCT(path)): unique endpoint pairs of
            # the inner path — PathEvaluator.java:142 swaps in
            # PathEngine1 (set semantics); seq paths otherwise carry
            # multiplicities
            return ev(p[1]).distinct()
        if kind == "multi":
            # P_Multi (MULTI(path)): explicit bag semantics — the inner
            # evaluators here already preserve seq multiplicities
            return ev(p[1])
        if kind == "shortest":
            # parity with the reference: P_Shortest is unimplemented in
            # Jena itself (PathEvaluator.java:158 throws ARQNotImplemented)
            raise RDFSyntaxError("SHORTEST(path) is not implemented "
                                 "(reference parity: ARQNotImplemented)")
        raise RDFSyntaxError(f"unknown path node {kind!r}")

    return ev(pat.expr)


def _subst_native(e: Expr, native: set) -> Expr:
    """Rewrite var references to native-valued columns (aggregate outputs,
    earlier projection expressions) as plainvar so they are not treated as
    encoded terms."""
    if e.kind == "var" and e.value in native:
        return Expr("plainvar", e.value)
    if not e.args:
        return e
    return Expr(e.kind, e.value, [_subst_native(a, native) for a in e.args])


def _fresh_bnodes(col: F.Column, suffix: str) -> F.Column:
    """Consistently relabel blank nodes in a term column (plain bnodes
    and bnodes inside RDF 1.2 triple terms) by appending ``suffix``.

    For triple terms the rewrite must NOT touch ``_:``-like substrings
    inside quoted literal content (``<<(<s> <p> "see _:b1")>>``).  Java
    regex replacement cannot be conditional on which alternative
    matched, so: one pass marks BOTH quoted strings and bnode tokens
    with a \\x01 sentinel (quoted strings are consumed atomically, so
    bnode-shaped text inside them is never matched on its own), a second
    pass strips the sentinel after closing quotes, and a third turns the
    remaining sentinels into the suffix.  All three stay JVM-side."""
    quoted_or_bnode = r'("(?:[^"\\]|\\.)*")|(_:[A-Za-z0-9_\-]+)'
    relabel_triple = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, quoted_or_bnode, "$1$2\x01"),
            '"\x01', '"',
        ),
        "\x01", suffix,
    )
    return (
        F.when(col.startswith("_:"), F.concat(col, F.lit(suffix)))
        .when(col.startswith("<<("), relabel_triple)
        .otherwise(col)
    )


def _apply_datasets(triples: DataFrame, q) -> DataFrame:
    """FROM / FROM NAMED dataset construction over a quads input: the
    default graph becomes the union (RDF *merge*) of the FROM graphs —
    their names are erased and their blank nodes are re-instantiated, so
    a document loaded both as FROM and FROM NAMED contributes DISTINCT
    bnodes to each role (SPARQL §13.2 'fresh RDF merge';
    DynamicDatasets/DatasetDescription in the reference; DAWG
    dataset-09/10/12).  Only FROM NAMED graphs stay addressable."""
    ds = getattr(q, "datasets", None)
    if not ds or "graph" not in triples.columns:
        return triples
    frm, named = ds
    parts = []
    if frm:
        dflt = triples.filter(F.col("graph").isin(frm)).select(
            F.lit(None).cast("string").alias("graph"),
            _fresh_bnodes(F.col("subj"), "F").alias("subj"),
            F.col("pred"),
            _fresh_bnodes(F.col("obj"), "F").alias("obj"),
        )
        parts.append(dflt)
    if named:
        parts.append(triples.filter(F.col("graph").isin(named)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _compile_select(
    triples: DataFrame,
    q: SelectQuery,
    graph_term: Optional[str] = None,
    graph_var: Optional[str] = None,
) -> DataFrame:
    triples = _apply_datasets(triples, q)
    df = _compile_group(triples, q.where, graph_term, graph_var)
    # anonymous variables ([] / query bnodes) never appear in results
    anon = [c for c in df.columns if c.startswith("__anon")]
    if anon:
        df = df.drop(*anon)
    proj_aliases = [a for _, a in q.proj_exprs]
    grouped = bool(q.aggregates or q.group_by or q.having_aggs)
    if grouped:
        # GROUP BY expression keys and hoisted aggregate arguments
        # evaluate per solution first (OpExtend under OpGroup in the
        # reference's algebra; ExprAggregator args per binding)
        for e, alias in q.group_exprs + q.agg_arg_exprs:
            col, kind = _typed(e, set(df.columns))
            df = df.withColumn(alias, _term_of(col, kind))
        aggs = []
        posts = []
        for item in q.aggregates + q.having_aggs:
            # an aggregate may reference a variable the pattern never
            # binds (legal: it is unbound in every solution)
            for v in (item.var, item.var2):
                if v and v not in df.columns:
                    df = df.withColumn(v, F.lit(None).cast("string"))
            expr, post = _agg_column(item)
            tmp = f"__agg_{item.alias}"
            aggs.append(expr.alias(tmp))
            posts.append((tmp, item.alias, post))
        if not aggs:
            # GROUP BY with no aggregates: just the distinct group keys
            aggs = [F.count(F.lit(1)).alias("__agg___cnt")]
            posts = [("__agg___cnt", "__cnt", None)]
        gdf = df.groupBy(*q.group_by).agg(*aggs) if q.group_by else df.agg(*aggs)
        for tmp, alias, post in posts:
            if callable(post):
                gdf = gdf.withColumn(alias, post(F.col(tmp)))
            elif post:
                gdf = gdf.withColumn(alias, F.col(f"{tmp}.{post}"))
            else:
                gdf = gdf.withColumn(alias, F.col(tmp))
            gdf = gdf.drop(tmp)
        gdf = gdf.drop("__cnt")
        if q.having is not None:
            gdf = gdf.filter(_compile_expr(q.having, set(gdf.columns)))
        native = {i.alias for i in q.aggregates + q.having_aggs}
        scope = _bnode_scope(gdf, [e for e, _ in q.proj_exprs])
        gdf = scope.df
        for e, alias in q.proj_exprs:  # Extend after grouping (OpExtend)
            col, kind = _typed(_subst_native(e, native), set(gdf.columns))
            gdf = gdf.withColumn(alias, _term_of(col, kind))
        gdf = scope.finish(gdf)
        df = gdf.select(
            *(q.variables + [i.alias for i in q.aggregates] + proj_aliases)
        )
    else:
        scope = _bnode_scope(df, [e for e, _ in q.proj_exprs])
        df = scope.df
        for e, alias in q.proj_exprs:
            col, kind = _typed(e, set(df.columns))
            df = df.withColumn(alias, _term_of(col, kind))
        df = scope.finish(df)

    # SPARQL allows projecting a variable the pattern never binds —
    # it is simply unbound in every solution
    for v in q.variables:
        if v not in df.columns:
            df = df.withColumn(v, F.lit(None).cast("string"))

    out_vars = q.variables + proj_aliases if not grouped else []
    # a GRAPH ?g context variable stays visible to the enclosing pattern
    # even when the subquery does not project it (OpGraph binds it outside)
    if out_vars and graph_var and graph_var in df.columns and graph_var not in out_vars:
        out_vars = out_vars + [graph_var]
    # aggregate outputs are native values and order natively; everything
    # else (incl. term-encoded projection expressions) gets the term key
    native_aliases = {i.alias for i in q.aggregates}

    def term_order_key(termcol):
        """order_key, widened with a composite sort key when the query
        touches CDT (cdt literals order element-wise, compareAlways)."""
        k = tf.order_key(termcol)
        if not _cdt_active():
            return k
        from . import cdt_funcs as _cf

        ck = F.coalesce(_cf.cdt_sort_key_udf(termcol), F.lit(""))
        return F.struct(
            k["k"].alias("k"), k["v1"].alias("v1"), k["nn"].alias("nn"),
            k["n"].alias("n"), ck.alias("c"), k["v"].alias("v"),
        )

    def order_keys():
        keys = []
        for e, asc in q.order:
            if e.kind == "var" and e.value in native_aliases:
                c = F.col(e.value)  # native-valued aggregate output
            elif e.kind == "var":
                c = term_order_key(_compile_expr(e))
            else:
                col, kind = _typed(e)
                if kind in ("term", "iri"):
                    # term-valued expression (e.g. a cast): SPARQL term
                    # order, numerics by value (dawg Function sort)
                    c = term_order_key(col)
                elif kind == "numdt":
                    c = col["v"]
                else:
                    c = col  # bool / native numeric sort directly
            keys.append(c.asc() if asc else c.desc())
        return keys

    # Algebra order is Project → Distinct → OrderBy → Slice: dedup must
    # happen on the projection and BEFORE the sort, else the dedup
    # exchange destroys row order (SPARQL restricts ORDER BY under
    # DISTINCT to projected variables, so sorting after is always legal).
    if q.distinct:
        if out_vars:
            df = df.select(*out_vars)
        df = df.dropDuplicates()
        if q.order:
            df = df.orderBy(*order_keys())
    else:
        if q.order:
            df = df.orderBy(*order_keys())
        if out_vars:
            df = df.select(*out_vars)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def _parse_query(query: str, base: Optional[str]):
    """Parse + record the query's (possibly BASE-updated) base IRI on the
    AST for the IRI()/URI() builtins."""
    parser = SparqlParser(query, base)
    ast = parser.parse()
    ast.base = parser.resolver.base
    return ast


def sparql_select(
    triples: DataFrame, query: str, base: Optional[str] = None,
) -> DataFrame:
    """Run a SPARQL SELECT (documented subset) over a triples DataFrame
    (columns subj/pred/obj in canonical encoding).  Aggregate outputs are
    native values (long/double/string), not encoded terms."""
    return _run_query(triples, query, base, SelectQuery)


def sparql_ask(
    triples: DataFrame, query: str, base: Optional[str] = None,
) -> bool:
    return _run_query(triples, query, base, AskQuery)


def sparql_construct(
    triples: DataFrame, query: str, base: Optional[str] = None,
) -> DataFrame:
    """CONSTRUCT: instantiate the template per solution → distinct triples
    DataFrame (subj, pred, obj)."""
    return _run_query(triples, query, base, ConstructQuery)


def _sparql_construct_body(triples: DataFrame, q: "ConstructQuery") -> DataFrame:
    sol = _compile_group(_apply_datasets(triples, q), q.where)
    # template triple-term constructions: realize each decomp var as the
    # composed encoded term (components from solution columns or consts)
    for d in q.decomps:
        if d.var[1:] in sol.columns:
            continue  # already bound by the WHERE pattern

        def comp(t: str):
            return F.col(t[1:]) if t.startswith("?") else F.lit(t)

        sol = sol.withColumn(
            d.var[1:],
            F.concat(
                F.lit("<<("), comp(d.s), F.lit(" "), comp(d.p),
                F.lit(" "), comp(d.o), F.lit(")>>"),
            ),
        )
    # template blank nodes (parsed as __anon vars) are ALWAYS fresh per
    # solution row, even when the same var matched an existing reifier in
    # a CONSTRUCT WHERE pattern (template bnode scoping).  They are
    # shared across the template's triples — materialize a per-row id
    # once so every template branch sees the same labels
    # (monotonically_increasing_id is not stable across re-executions).
    # Decomp vars (composed triple terms) are values, not bnodes.
    decomp_vars = {d.var[1:] for d in q.decomps}
    tmpl_vars = {
        t[1:]
        for pat in q.template
        for t in (pat.s, pat.p, pat.o)
        if t.startswith("?__anon")
    }
    fresh = sorted(v for v in tmpl_vars if v not in decomp_vars)
    rename = {v: f"__tb_{v}" for v in fresh}
    if fresh:
        sol = sol.withColumn("__rowid", F.monotonically_increasing_id())
        for v in fresh:
            sol = sol.withColumn(
                rename[v],
                F.concat(F.lit(f"_:{v}r"), F.col("__rowid").cast("string")),
            )
        sol = sol.drop("__rowid").localCheckpoint(eager=True)
    out = None
    for pat in q.template:
        def term_col(t: str):
            if t.startswith("?"):
                name = rename.get(t[1:], t[1:])
                return F.col(name)
            return F.lit(t)

        row = sol.select(
            term_col(pat.s).alias("subj"),
            term_col(pat.p).alias("pred"),
            term_col(pat.o).alias("obj"),
        )
        out = row if out is None else out.unionAll(row)
    if out is None:
        raise RDFSyntaxError("empty CONSTRUCT template")
    # §16.2: an instantiation with an unbound variable, a literal in
    # subject position, or a non-IRI predicate produces an illegal RDF
    # triple and is silently SKIPPED, never an error (reference:
    # sparql/core/TemplateLib — found by test_construct_differential,
    # which reached "?a ?a ..." templates with ?a bound to a literal).
    # A subject may be an IRI, bnode, or (RDF 1.2 internal) composed
    # term — anything but a literal; a predicate must be a plain IRI.
    return out.filter(
        F.col("subj").isNotNull() & F.col("pred").isNotNull()
        & F.col("obj").isNotNull()
        & ~F.col("subj").startswith('"')
        & F.col("pred").startswith("<")
        & ~F.col("pred").startswith("<<(")
    ).dropDuplicates()


def sparql_describe(
    triples: DataFrame, query: str, base: Optional[str] = None,
) -> DataFrame:
    """DESCRIBE → triples DataFrame (subj, pred, obj): the concise
    bounded description of each solution/constant node — subject triples
    plus the recursive closure over blank-node objects (the reference's
    default handler, sparql/core/describe/DescribeBNodeClosure.java)."""
    return _run_query(triples, query, base, DescribeQuery)


def _sparql_describe_body(triples: DataFrame, q: DescribeQuery) -> DataFrame:
    spark = triples.sparkSession
    data = _apply_datasets(triples, q)
    # the description draws from the dataset's default graph
    if "graph" in data.columns:
        src = data.filter(F.col("graph").isNull()).select("subj", "pred", "obj")
    else:
        src = data.select("subj", "pred", "obj")
    sol = _compile_group(data, q.where) if q.where is not None else None
    node_dfs = []
    vars_ = [t[1:] for t in q.nodes if t.startswith("?")]
    consts = [t for t in q.nodes if not t.startswith("?")]
    if q.star and sol is not None:
        vars_ = [c for c in sol.columns if not c.startswith("__")]
    for v in vars_:
        if sol is not None and v in sol.columns:
            node_dfs.append(sol.select(F.col(v).alias("node")))
    if consts:
        node_dfs.append(spark.createDataFrame([(c,) for c in consts], "node string"))
    if not node_dfs:
        return src.limit(0)
    nodes = node_dfs[0]
    for d in node_dfs[1:]:
        nodes = nodes.unionAll(d)
    nodes = nodes.filter(F.col("node").isNotNull()).distinct()

    # CBD closure, semi-naive: frontier = newly-reached bnode objects
    frontier = nodes.localCheckpoint(eager=True)
    seen = frontier
    out = None
    for rnd in range(64):
        step = src.join(
            frontier.withColumnRenamed("node", "subj"), "subj", "left_semi"
        )
        out = step if out is None else out.unionAll(step)
        # real CBDs converge in 2-3 rounds, but a deep bnode chain would
        # otherwise compile a 64-deep unionAll: truncate the accumulator
        # (and the seen set) every 8 rounds
        if rnd % 8 == 7:
            out = out.localCheckpoint(eager=True)
            seen = seen.localCheckpoint(eager=True)
        new, counted = pin(
            step.filter(F.col("obj").startswith("_:"))
            .select(F.col("obj").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti"),
            n=F.count(F.lit(1)),
        )
        if counted["n"] == 0:
            break
        seen = seen.unionAll(new)
        frontier = new
    else:
        raise RDFSyntaxError("DESCRIBE bnode closure did not converge (64 rounds)")
    return out.dropDuplicates()


def sparql_query(
    triples: DataFrame, query: str, base: Optional[str] = None,
):
    """Dispatch on query form: SELECT → DataFrame, ASK → bool,
    CONSTRUCT / DESCRIBE → triples DataFrame."""
    return _run_query(triples, query, base)


def _sparql_ask_body(triples: DataFrame, q: AskQuery) -> bool:
    return not _compile_group(_apply_datasets(triples, q), q.where).isEmpty()


# query form → (its compile body, the error a form-specific entry point
# raises for another form)
_FORMS = {
    SelectQuery: (_compile_select, "not a SELECT query — use sparql_query()"),
    AskQuery: (_sparql_ask_body, "not an ASK query"),
    ConstructQuery: (_sparql_construct_body, "not a CONSTRUCT query"),
    DescribeQuery: (_sparql_describe_body, "not a DESCRIBE query"),
}


def _run_query(triples: DataFrame, query: str, base: Optional[str], form=None):
    """Every entry point's one path: parse once, check the form (when
    ``form`` is given), and compile the body in the query's scope."""
    q = _parse_query(query, base)
    if form is not None and not isinstance(q, form):
        raise RDFSyntaxError(_FORMS[form][1])
    with _compile_scope(q.base, query, triples):
        return _FORMS[type(q)][0](triples, q)
