"""W3C SPARQL 1.1 / DAWG evaluation-test harness.

Mirrors the reference's manifest-driven SPARQL testing
(jena-arq/src/test/.../junit/sparql/ — manifest walker
junit/manifest/Manifest.java, result comparison
sparql/resultset/ResultSetCompare.java with bnode bijection,
QueryEvaluationTest dispatch junit/sparql/tests/QueryEvalTest.java).

Manifests, data, queries and goldens are read from the reference's
vendored copies of the W3C suites:

- ``jena-arq/testing/rdf-tests-cg/sparql/sparql11/`` (SPARQL 1.1 WG)
- ``jena-arq/testing/DAWG-Final/`` (SPARQL 1.0 DAWG)

Everything is resolved with ``file://`` IRIs so a query's relative
references (e.g. ``GRAPH <data-g1.ttl>``) resolve to the same IRIs the
manifest produced for ``qt:graphData``.

Outcomes are three-valued: **pass** / **fail** / **skip** — skip means
the query text uses syntax outside the engine's documented subset
(SparqlParser raised RDFSyntaxError) or the test is in the documented
exclusion list; fail means the engine accepted the query and returned
the wrong answer.  The pytest gate asserts zero fails and a pass floor.

Comparison semantics: solution multisets under a blank-node bijection
(ResultSetCompare.equalsByTerm + BNodeIso), with *numeric value*
leniency — the engine returns native values for aggregates, so
``"3"^^xsd:integer`` ≡ ``3`` ≡ ``"3.0"^^xsd:decimal`` when numerically
equal.  Ordered queries (ORDER BY present) compare as sequences.
"""

from __future__ import annotations

import json
import math
import os
import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from .skolem import BNodeAllocator, doc_seed
from .parsers.turtle import parse_turtle
from .parsers.ntriples import parse_ntriples
from .terms import RDFSyntaxError, mk_iri, mk_literal, unescape_string
from .w3c import isomorphic, reference_dir

_ARQ_TESTING = os.path.join(reference_dir(), "jena-arq", "testing")
SPARQL11_DIR = os.path.join(_ARQ_TESTING, "rdf-tests-cg", "sparql", "sparql11")
DAWG_DIR = os.path.join(_ARQ_TESTING, "DAWG-Final")
SPARQL12_DIR = os.path.join(_ARQ_TESTING, "rdf-tests-cg", "sparql", "sparql12")

MF = "http://www.w3.org/2001/sw/DataAccess/tests/test-manifest#"
QT = "http://www.w3.org/2001/sw/DataAccess/tests/test-query#"
RS = "http://www.w3.org/2001/sw/DataAccess/tests/result-set#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
SRX_NS = "{http://www.w3.org/2005/sparql-results#}"

XSD = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC_DTS = {
    XSD + n
    for n in (
        "integer", "decimal", "double", "float", "int", "long", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte",
    )
}


@dataclass
class SparqlTest:
    name: str
    query_path: str
    data_path: Optional[str]
    graph_data: List[Tuple[str, str]] = field(default_factory=list)  # (iri, path)
    result_path: Optional[str] = None
    # additional qt:data files (e.g. SPARQL-CDTs bnodes-turtle-15 loads
    # TWO default-graph documents whose bnode scopes must stay distinct)
    extra_data: List[str] = field(default_factory=list)


def _path(iri_term: str) -> str:
    iri = iri_term[1:-1]
    if iri.startswith("file://"):
        return iri[len("file://"):]
    raise ValueError(f"non-local test IRI {iri}")


def _manifest_graph(manifest_path: str, seed_tag: str):
    """Parse a manifest file → (by_subject index, ordered entry list).
    The entry list follows the ``mf:entries`` rdf:List exactly like the
    reference walker (junit/manifest/Manifest.java) — a test DESCRIBED
    in the file but commented out of the entries list (e.g. DAWG
    expr-builtin dawg-datatype-2, removed for RDF 1.1) is not run."""
    with open(manifest_path, encoding="utf-8", newline="") as f:
        text = f.read()
    base = "file://" + os.path.abspath(manifest_path)
    alloc = BNodeAllocator(doc_seed(seed_tag, manifest_path, "manifest"))
    triples = parse_turtle(text, base, alloc)
    by_s: Dict[str, Dict[str, List[str]]] = {}
    for s, p, o in triples:
        by_s.setdefault(s, {}).setdefault(p, []).append(o)

    def get1(s, p):
        v = by_s.get(s, {}).get(f"<{p}>", [])
        return v[0] if v else None

    root = None
    for s, props in by_s.items():
        if f"<{MF}Manifest>" in props.get(f"<{RDF_NS}type>", []):
            root = s
            break
    entries: List[str] = []
    lst = get1(root, MF + "entries") if root else None
    nil = f"<{RDF_NS}nil>"
    while lst and lst != nil:
        first = get1(lst, RDF_NS + "first")
        if first is not None:
            entries.append(first)
        lst = get1(lst, RDF_NS + "rest")
    if not entries:  # no entries list: fall back to subject scan
        entries = sorted(by_s.keys())
    return by_s, entries


def load_sparql_manifest(
    manifest_path: str,
    test_types: Tuple[str, ...] = (f"<{MF}QueryEvaluationTest>",),
) -> List[SparqlTest]:
    by_s, entries = _manifest_graph(manifest_path, "w3c-sparql")

    def get(s: str, p: str) -> List[str]:
        return by_s.get(s, {}).get(f"<{p}>", [])

    def get1(s: str, p: str) -> Optional[str]:
        v = get(s, p)
        return v[0] if v else None

    tests: List[SparqlTest] = []
    for s in entries:
        props = by_s.get(s, {})
        types = props.get(f"<{RDF_NS}type>", [])
        if not any(tt in types for tt in test_types):
            continue
        action = get1(s, MF + "action")
        if action is None or not action.startswith("_:"):
            continue
        query = get1(action, QT + "query")
        if query is None:
            continue
        data_all = get(action, QT + "data")
        gdata = []
        for g in get(action, QT + "graphData"):
            gdata.append((g[1:-1], _path(g)))
        result = get1(s, MF + "result")
        name = (get1(s, MF + "name") or s).strip('"')
        tests.append(
            SparqlTest(
                name=name,
                query_path=_path(query),
                data_path=_path(data_all[0]) if data_all else None,
                graph_data=sorted(gdata),
                result_path=_path(result) if result else None,
                extra_data=sorted(_path(d) for d in data_all[1:]),
            )
        )
    tests.sort(key=lambda t: (t.query_path, t.name))
    return tests


# ---------------------------------------------------------------------------
# Expected-result readers → (kind, payload)
#   kind = "rows": payload = (vars, [ {var: term} ])
#   kind = "bool": payload = True/False
#   kind = "graph": payload = [(s, p, o)]
# ---------------------------------------------------------------------------

def _srx_term(el) -> str:
    tag = el.tag.replace(SRX_NS, "")
    if tag == "uri":
        return mk_iri(el.text or "").nt()
    if tag == "bnode":
        return "_:" + (el.text or "")
    if tag == "triple":
        # SPARQL 1.2 triple-term result value: nested subject/predicate/
        # object elements, each wrapping a term element
        parts = []
        for role in ("subject", "predicate", "object"):
            node = el.find(f"{SRX_NS}{role}")
            parts.append(_srx_term(list(node)[0]))
        return f"<<({parts[0]} {parts[1]} {parts[2]})>>"
    if tag == "literal":
        lang = el.get("{http://www.w3.org/XML/1998/namespace}lang")
        dt = el.get("datatype")
        txt = el.text or ""
        if lang:
            return mk_literal(txt, lang=lang).nt()
        if dt:
            return mk_literal(txt, datatype=dt).nt()
        return mk_literal(txt).nt()
    raise ValueError(f"unknown srx term element {el.tag}")


def read_srx(path: str):
    tree = ET.parse(path)
    root = tree.getroot()
    boolean = root.find(f"{SRX_NS}boolean")
    if boolean is not None:
        return "bool", (boolean.text or "").strip() == "true"
    vars_ = [
        v.get("name")
        for v in root.find(f"{SRX_NS}head").findall(f"{SRX_NS}variable")
    ]
    rows = []
    results = root.find(f"{SRX_NS}results")
    for res in results.findall(f"{SRX_NS}result"):
        row = {}
        for b in res.findall(f"{SRX_NS}binding"):
            children = list(b)
            if children:
                row[b.get("name")] = _srx_term(children[0])
        rows.append(row)
    return "rows", (vars_, rows)


def read_srj(path: str):
    with open(path, encoding="utf-8") as f:
        return srj_doc(json.load(f))


def srj_doc(doc: dict):
    if "boolean" in doc:
        return "bool", bool(doc["boolean"])
    vars_ = doc.get("head", {}).get("vars", [])

    def term_of(v):
        t = v.get("type")
        if t == "uri":
            return mk_iri(v["value"]).nt()
        if t == "bnode":
            return "_:" + v["value"]
        if t == "triple":
            tv = v["value"]
            s_ = term_of(tv["subject"])
            p_ = term_of(tv["predicate"])
            o_ = term_of(tv["object"])
            return f"<<({s_} {p_} {o_})>>"
        if t in ("literal", "typed-literal"):
            if v.get("xml:lang"):
                tag = v["xml:lang"]
                d = v.get("dir") or v.get("its:dir")
                if d:
                    tag = f"{tag}--{d}"
                return mk_literal(v["value"], lang=tag).nt()
            if v.get("datatype"):
                return mk_literal(v["value"], datatype=v["datatype"]).nt()
            return mk_literal(v["value"]).nt()
        return None

    rows = []
    for b in doc.get("results", {}).get("bindings", []):
        row = {}
        for var, v in b.items():
            enc = term_of(v)
            if enc is not None:
                row[var] = enc
        rows.append(row)
    return "rows", (vars_, rows)


def read_ttl_result(path: str):
    """DAWG result-set graph (rs: vocabulary) or a plain golden graph for
    CONSTRUCT tests — decided by whether an rs:ResultSet node exists."""
    with open(path, encoding="utf-8", newline="") as f:
        text = f.read()
    alloc = BNodeAllocator(doc_seed("w3c-sparql", path, "golden"))
    base = "file://" + os.path.abspath(path)
    if path.endswith(".nt"):
        triples = parse_ntriples(text, alloc)
    elif path.endswith((".rdf", ".xml")):
        from .parsers.rdfxml import parse_rdfxml

        triples = parse_rdfxml(text, base, alloc)
    else:
        triples = parse_turtle(text, base, alloc)
    by_s: Dict[str, Dict[str, List[str]]] = {}
    for s, p, o in triples:
        by_s.setdefault(s, {}).setdefault(p, []).append(o)
    rs_nodes = [
        s for s, props in by_s.items()
        if f"<{RS}ResultSet>" in props.get(f"<{RDF_NS}type>", [])
    ]
    if not rs_nodes:
        return "graph", triples
    node = rs_nodes[0]

    def get(s, p):
        return by_s.get(s, {}).get(f"<{p}>", [])

    bools = get(node, RS + "boolean")
    if bools:
        return "bool", bools[0].startswith('"true"')
    vars_ = [v.strip('"') for v in get(node, RS + "resultVariable")]
    sols = []
    for sol in get(node, RS + "solution"):
        row = {}
        idx = get(sol, RS + "index")
        for b in get(sol, RS + "binding"):
            var = get(b, RS + "variable")
            val = get(b, RS + "value")
            if var and val:
                row[var[0].strip('"')] = val[0]
        key = None
        if idx:
            m = re.match(r'"(\d+)', idx[0])
            key = int(m.group(1)) if m else None
        sols.append((key, row))
    if all(k is not None for k, _ in sols) and sols:
        sols.sort(key=lambda kv: kv[0])
    return "rows", (vars_, [row for _, row in sols])


def read_expected(path: str):
    if path.endswith(".srx"):
        return read_srx(path)
    if path.endswith(".srj"):
        return read_srj(path)
    return read_ttl_result(path)


# ---------------------------------------------------------------------------
# Solution-multiset comparison with bnode bijection + numeric leniency
# ---------------------------------------------------------------------------

_NUM_RE = re.compile(r'^"((?s:.*))"\^\^<([^>]*)>$')


def _num(term: str) -> Optional[float]:
    m = _NUM_RE.match(term)
    if m and m.group(2) in _NUMERIC_DTS:
        try:
            return float(m.group(1))
        except ValueError:
            return None
    return None


def _is_bnode(term: str) -> bool:
    return term.startswith("_:")


_BN_RE = re.compile(r"_:[A-Za-z0-9_\-]+")


def _bnodes_in(v: str) -> List[str]:
    """Blank-node labels in a result value — the value itself or labels
    embedded in a triple term."""
    if v.startswith("_:"):
        return [v]
    if v.startswith("<<("):
        return _BN_RE.findall(v)
    return []


def _blind_bn(v: str) -> str:
    if v.startswith("_:"):
        return "_:"
    if v.startswith("<<("):
        return _BN_RE.sub("_:", v)
    return v


def _term_eq(got: str, want: str) -> bool:
    if got == want:
        return True
    a, b = _num(got), _num(want)
    # isclose: the engine computes in double where SPARQL says decimal
    # (e.g. SUM(1.1+10.0) → 11.100000000000001); value-level equality
    # with 1e-9 relative tolerance absorbs that representation gap
    return (
        a is not None
        and b is not None
        and (a == b or math.isclose(a, b, rel_tol=1e-9))
    )


def _row_sig(row: Dict[str, str]) -> Tuple:
    """Bnode-blind signature for ordering the row pairing (uniform tuple
    shape so heterogeneous rows stay comparable)."""
    out = []
    for k in sorted(row):
        v = row[k]
        if _bnodes_in(v):
            out.append((k, "b", _blind_bn(v)))
        else:
            n = _num(v)
            out.append((k, "n", str(n)) if n is not None else (k, "t", v))
    return tuple(out)


def _rows_compatible(got: Dict[str, str], want: Dict[str, str], mapping: Dict[str, str], rev: Dict[str, str]) -> Optional[List[Tuple[str, str]]]:
    """Can `got` match `want` under the (extensible) bnode bijection?
    Handles labels embedded in triple terms.  Returns the new
    (got_bnode, want_bnode) pairs to add, or None."""
    if set(got) != set(want):
        return None
    new: List[Tuple[str, str]] = []
    tent: Dict[str, str] = {}
    tent_rev: Dict[str, str] = {}
    for k, gv in got.items():
        wv = want[k]
        gl, wl = _bnodes_in(gv), _bnodes_in(wv)
        if gl or wl:
            if len(gl) != len(wl) or _blind_bn(gv) != _blind_bn(wv):
                return None
            for g_, w_ in zip(gl, wl):
                mg = mapping.get(g_, tent.get(g_))
                mw = rev.get(w_, tent_rev.get(w_))
                if mg is None and mw is None:
                    tent[g_] = w_
                    tent_rev[w_] = g_
                    new.append((g_, w_))
                elif mg != w_ or (mw is not None and mw != g_):
                    return None
        elif not _term_eq(gv, wv):
            return None
    return new


def results_equal(
    got: List[Dict[str, str]], want: List[Dict[str, str]], ordered: bool
) -> bool:
    if len(got) != len(want):
        return False
    mapping: Dict[str, str] = {}
    rev: Dict[str, str] = {}

    if ordered:
        for g, w in zip(got, want):
            new = _rows_compatible(g, w, mapping, rev)
            if new is None:
                return False
            for gb, wb in new:
                mapping[gb] = wb
                rev[wb] = gb
        return True

    # unordered: backtracking multiset match, most-constrained rows first
    want_left = list(range(len(want)))
    order = sorted(range(len(got)), key=lambda i: _row_sig(got[i]))

    def backtrack(idx: int) -> bool:
        if idx == len(order):
            return True
        g = got[order[idx]]
        for j in list(want_left):
            new = _rows_compatible(g, want[j], mapping, rev)
            if new is None:
                continue
            want_left.remove(j)
            for gb, wb in new:
                mapping[gb] = wb
                rev[wb] = gb
            if backtrack(idx + 1):
                return True
            want_left.append(j)
            for gb, wb in new:
                del mapping[gb]
                del rev[wb]
        return False

    return backtrack(0)


# ---------------------------------------------------------------------------
# Running one test
# ---------------------------------------------------------------------------

def _load_data(spark, t: SparqlTest):
    """Parse default + named graph files → triples DataFrame (with a
    ``graph`` column iff named graphs are present)."""
    quads: List[Tuple[Optional[str], str, str, str]] = []

    def load(path: str, graph: Optional[str]):
        with open(path, encoding="utf-8", newline="") as f:
            text = f.read()
        alloc = BNodeAllocator(doc_seed("w3c-sparql", path, graph or "default"))
        base = "file://" + os.path.abspath(path)
        if path.endswith(".nt"):
            trs = parse_ntriples(text, alloc)
        elif path.endswith((".rdf", ".xml")):
            from .parsers.rdfxml import parse_rdfxml

            trs = parse_rdfxml(text, base, alloc)
        elif path.endswith(".trig"):
            from .parsers.turtle import parse_trig

            for g, s, p, o in parse_trig(text, base, alloc):
                quads.append((g if g is not None else graph, s, p, o))
            return
        else:
            trs = parse_turtle(text, base, alloc)
        for s, p, o in trs:
            quads.append((graph, s, p, o))

    if t.data_path:
        load(t.data_path, None)
    for p in t.extra_data:
        load(p, None)  # own allocator per file: distinct bnode scopes
    for iri, path in t.graph_data:
        load(path, mk_iri(iri).nt())

    # an RDF graph is a SET: duplicate statements collapse (a duplicated
    # reified triple with the same reifier would otherwise multiply rows)
    quads = list(dict.fromkeys(quads))
    # always carry a graph column: a dataset with no named graphs must
    # make GRAPH ?g {…} match nothing (graph IS NULL = default graph).
    # Explicit schema — an all-default dataset has graph=None everywhere,
    # which defeats type inference.
    schema = "graph string, subj string, pred string, obj string"
    return spark.createDataFrame(quads, schema)


def _encode_native(v) -> Optional[str]:
    """Engine output cell → encoded term (aggregates return natives)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return mk_literal("true" if v else "false", datatype=XSD + "boolean").nt()
    if isinstance(v, int):
        return mk_literal(str(v), datatype=XSD + "integer").nt()
    if isinstance(v, float):
        return mk_literal(repr(v), datatype=XSD + "double").nt()
    s = str(v)
    if s.startswith(("<", "_:", '"')):
        return s
    return mk_literal(s).nt()


_ORDERED_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)


def run_sparql_test(spark, t: SparqlTest) -> Tuple[str, str]:
    """Returns (outcome, detail); outcome in pass/fail/skip."""
    from .ops.sparql import SparqlParser, sparql_query
    from .ops.sparql import SelectQuery, AskQuery, ConstructQuery

    with open(t.query_path, encoding="utf-8", newline="") as f:
        qtext = f.read()
    base = "file://" + os.path.abspath(t.query_path)
    try:
        ast = SparqlParser(qtext, base).parse()
    except RDFSyntaxError as e:
        return "skip", f"unsupported syntax: {e}"
    except RecursionError:
        return "skip", "unsupported syntax: recursion"

    # FROM / FROM NAMED files: load each as a named graph so the engine's
    # dataset construction (_apply_datasets) can scope it
    ds = getattr(ast, "datasets", None)
    if ds:
        extra = []
        for iri_term in ds[0] + ds[1]:
            iri = iri_term[1:-1]
            if iri.startswith("file://"):
                extra.append((iri, iri[len("file://"):]))
        if extra:
            t = SparqlTest(
                name=t.name,
                query_path=t.query_path,
                data_path=t.data_path,
                graph_data=sorted(set(t.graph_data) | set(extra)),
                result_path=t.result_path,
                extra_data=t.extra_data,
            )

    triples = _load_data(spark, t)
    try:
        result = sparql_query(triples, qtext, base)
    except RDFSyntaxError as e:
        return "skip", f"unsupported: {e}"
    except Exception as e:
        return "fail", f"engine error: {type(e).__name__}: {str(e)[:200]}"

    if t.result_path is None:
        return "pass", ""
    kind, payload = read_expected(t.result_path)

    if isinstance(ast, AskQuery):
        if kind != "bool":
            return "fail", f"expected {kind} golden for ASK"
        return ("pass", "") if result == payload else (
            "fail", f"ASK: got {result} want {payload}")

    if isinstance(ast, ConstructQuery):
        got = [(r.subj, r.pred, r.obj) for r in result.collect()]
        if kind != "graph":
            return "fail", f"expected graph golden, got {kind}"
        ok = isomorphic(
            [(None, *g) for g in got], [(None, *w) for w in payload]
        )
        return ("pass", "") if ok else (
            "fail", f"graphs differ: got {len(got)} want {len(payload)} triples")

    if kind != "rows":
        return "fail", f"expected rows golden, got {kind}"
    vars_, want = payload
    collected = result.collect()
    got = []
    for r in collected:
        d = r.asDict()
        got.append(
            {k: _encode_native(v) for k, v in d.items() if v is not None}
        )
    ordered = bool(_ORDERED_RE.search(qtext))
    if results_equal(got, want, ordered):
        return "pass", ""
    gs = sorted(str(sorted(r.items())) for r in got)[:4]
    ws = sorted(str(sorted(r.items())) for r in want)[:4]
    return "fail", f"rows differ ({len(got)} vs {len(want)}): got {gs} want {ws}"


def run_sparql_dir(spark, d: str, exclude: Optional[set] = None):
    """Run every QueryEvaluationTest under d/manifest.ttl.
    Returns (passed, failed, skipped, details[list of (name, outcome, detail)])."""
    tests = load_sparql_manifest(os.path.join(d, "manifest.ttl"))
    exclude = exclude or set()
    p = f = s = 0
    details = []
    # fixture graphs are tiny: one shuffle partition per query keeps the
    # harness wall-clock dominated by work, not task scheduling; skip
    # whole-stage codegen too — compiling (and for big CDT comparison
    # trees, failing over from) generated Java costs more than it saves
    # on 20-row fixtures
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_ws = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    for t in tests:
        if t.name in exclude:
            s += 1
            details.append((t.name, "skip", "excluded (documented)"))
            continue
        try:
            outcome, detail = run_sparql_test(spark, t)
        except Exception as e:
            outcome, detail = "fail", f"harness error: {type(e).__name__}: {e}"
        if outcome == "pass":
            p += 1
        elif outcome == "fail":
            f += 1
        else:
            s += 1
        details.append((t.name, outcome, detail))
    spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    spark.conf.set("spark.sql.codegen.wholeStage", old_ws)
    return p, f, s, details


# ---------------------------------------------------------------------------
# SPARQL result-format conformance (csv-tsv-res, json-res): the engine
# runs the query, jena_spark.results SERIALIZES, and both our output and
# the W3C golden are parsed back with the same reader and compared as
# result sets — the reference's approach (ResultSetCompare over parsed
# sets, jena-arq src/test junit result-format runners), not byte-equality
# (goldens use writer-specific numeric abbreviations like 1.0e6).
# ---------------------------------------------------------------------------

_INT_RE = re.compile(r"^[+-]?\d+$")
_DEC_RE = re.compile(r"^[+-]?(\d+\.\d*|\.\d+)$")
_DBL_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)[eE][+-]?\d+$")


def _tsv_term(cell: str) -> str:
    """One SPARQL 1.1 TSV cell → canonical encoded term (the TSV format
    is Turtle terms with numeric/boolean abbreviation allowed)."""
    if cell.startswith("<") or cell.startswith("_:"):
        return cell
    if cell.startswith('"') or cell.startswith("'"):
        q = cell[0]
        i = 1
        n = len(cell)
        while i < n:
            if cell[i] == "\\":
                i += 2
                continue
            if cell[i] == q:
                break
            i += 1
        if i >= n:
            raise RDFSyntaxError(f"unterminated TSV literal: {cell!r}")
        lex = unescape_string(cell[1:i])
        rest = cell[i + 1:]
        if rest.startswith("@"):
            return mk_literal(lex, lang=rest[1:]).nt()
        if rest.startswith("^^<") and rest.endswith(">"):
            return mk_literal(lex, datatype=rest[3:-1]).nt()
        if rest:
            raise RDFSyntaxError(f"bad TSV literal suffix: {rest!r}")
        return mk_literal(lex).nt()
    if cell in ("true", "false"):
        return mk_literal(cell, datatype=XSD + "boolean").nt()
    if _INT_RE.match(cell):
        return mk_literal(cell, datatype=XSD + "integer").nt()
    if _DEC_RE.match(cell):
        return mk_literal(cell, datatype=XSD + "decimal").nt()
    if _DBL_RE.match(cell):
        return mk_literal(cell, datatype=XSD + "double").nt()
    raise RDFSyntaxError(f"unparseable TSV term: {cell!r}")


def read_tsv_results(text: str):
    """SPARQL 1.1 TSV results text → (vars, rows) with encoded terms."""
    lines = text.split("\n")
    while lines and lines[-1] == "":
        lines.pop()
    header = lines[0].rstrip("\r").split("\t")
    vars_ = [h[1:] if h.startswith("?") else h for h in header]
    rows = []
    for ln in lines[1:]:
        cells = ln.rstrip("\r").split("\t")
        row = {}
        for var, cell in zip(vars_, cells):
            if cell != "":
                row[var] = _tsv_term(cell)
        rows.append(row)
    return vars_, rows


def read_csv_results(text: str):
    """SPARQL 1.1 CSV results text → (vars, rows).  CSV is lossy (plain
    strings); cells are compared as plain literals except `_:` blank-node
    labels, which keep bnode semantics so the bijection comparer applies."""
    import csv
    import io

    recs = list(csv.reader(io.StringIO(text)))
    vars_ = recs[0]
    rows = []
    for rec in recs[1:]:
        row = {}
        for var, cell in zip(vars_, rec):
            if cell == "":
                continue  # unbound and "" are indistinguishable in CSV
            row[var] = cell if cell.startswith("_:") else mk_literal(cell).nt()
        rows.append(row)
    return vars_, rows


def run_result_format_test(spark, t: SparqlTest) -> Tuple[str, str]:
    """Execute the query, serialize through jena_spark.results in the
    golden's format, re-read both sides, compare result sets."""
    from .ops.sparql import SparqlParser, sparql_query, AskQuery
    from . import results as rw

    with open(t.query_path, encoding="utf-8", newline="") as f:
        qtext = f.read()
    base = "file://" + os.path.abspath(t.query_path)
    try:
        ast = SparqlParser(qtext, base).parse()
    except RDFSyntaxError as e:
        return "skip", f"unsupported syntax: {e}"
    triples = _load_data(spark, t)
    try:
        result = sparql_query(triples, qtext, base)
    except RDFSyntaxError as e:
        return "skip", f"unsupported: {e}"
    except Exception as e:
        return "fail", f"engine error: {type(e).__name__}: {str(e)[:200]}"

    ext = os.path.splitext(t.result_path)[1]
    with open(t.result_path, encoding="utf-8", newline="") as f:
        golden_text = f.read()

    if ext == ".srj":
        if isinstance(ast, AskQuery):
            ours = rw.boolean_to_json(result)
        else:
            ours = rw.results_to_json(result)
        gk, gp = srj_doc(json.loads(golden_text))
        ok, op = srj_doc(json.loads(ours))
        if gk != ok:
            return "fail", f"kind mismatch: ours {ok} golden {gk}"
        if gk == "bool":
            return ("pass", "") if gp == op else (
                "fail", f"ASK: ours {op} golden {gp}")
        gvars, gr = gp
        ovars, orows = op
    elif ext in (".csv", ".tsv"):
        if isinstance(ast, AskQuery):
            return "fail", "ASK has no CSV/TSV result form in the suite"
        if ext == ".csv":
            header = ",".join(result.columns)
            body = [r.value for r in rw.results_to_csv(result).collect()]
            ours = "\n".join([header] + body) + "\n"
            gvars, gr = read_csv_results(golden_text)
            ovars, orows = read_csv_results(ours)
        else:
            header = "\t".join("?" + c for c in result.columns)
            body = [r.value for r in rw.results_to_tsv(result).collect()]
            ours = "\n".join([header] + body) + "\n"
            gvars, gr = read_tsv_results(golden_text)
            ovars, orows = read_tsv_results(ours)
    else:
        return "fail", f"unknown golden format {ext}"

    if set(gvars) != set(ovars):
        return "fail", f"vars differ: ours {sorted(ovars)} golden {sorted(gvars)}"
    ordered = bool(_ORDERED_RE.search(qtext))
    if results_equal(orows, gr, ordered):
        return "pass", ""
    gs = sorted(str(sorted(r.items())) for r in orows)[:4]
    ws = sorted(str(sorted(r.items())) for r in gr)[:4]
    return "fail", f"rows differ ({len(orows)} vs {len(gr)}): ours {gs} golden {ws}"


def run_result_format_dir(spark, d: str, exclude: Optional[set] = None):
    """Run every result-format test under d/manifest.ttl (the json-res
    tests are typed mf:QueryEvaluationTest, the CSV ones
    mf:CSVResultFormatTest).  Same return shape as run_sparql_dir."""
    tests = load_sparql_manifest(
        os.path.join(d, "manifest.ttl"),
        test_types=(
            f"<{MF}QueryEvaluationTest>",
            f"<{MF}CSVResultFormatTest>",
        ),
    )
    exclude = exclude or set()
    p = f = s = 0
    details = []
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    for t in tests:
        if t.name in exclude:
            s += 1
            details.append((t.name, "skip", "excluded (documented)"))
            continue
        try:
            outcome, detail = run_result_format_test(spark, t)
        except Exception as e:
            outcome, detail = "fail", f"harness error: {type(e).__name__}: {e}"
        if outcome == "pass":
            p += 1
        elif outcome == "fail":
            f += 1
        else:
            s += 1
        details.append((t.name, outcome, detail))
    spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return p, f, s, details


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update evaluation (mf:UpdateEvaluationTest; ut: vocabulary).
# Reference wiring: jena-arq src/test junit update runners over the same
# vendored manifests.  The store is a quads DataFrame; the updated store
# is compared to the expected dataset by quad isomorphism.
# ---------------------------------------------------------------------------

UT = "http://www.w3.org/2009/sparql/tests/test-update#"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


@dataclass
class UpdateTest:
    name: str
    request_path: str
    data: List[Tuple[Optional[str], str]] = field(default_factory=list)
    expected: List[Tuple[Optional[str], str]] = field(default_factory=list)


def load_update_manifest(manifest_path: str) -> List[UpdateTest]:
    by_s, entries = _manifest_graph(manifest_path, "w3c-update")

    def get(s: str, p: str) -> List[str]:
        return by_s.get(s, {}).get(f"<{p}>", [])

    def get1(s: str, p: str) -> Optional[str]:
        v = get(s, p)
        return v[0] if v else None

    def dataset_of(node: Optional[str]) -> List[Tuple[Optional[str], str]]:
        out: List[Tuple[Optional[str], str]] = []
        if node is None:
            return out
        for d in get(node, UT + "data"):
            out.append((None, _path(d)))
        for gd in get(node, UT + "graphData"):
            gfile = get1(gd, UT + "graph")
            label = get1(gd, RDFS_LABEL)
            if gfile is None or label is None:
                continue
            out.append((f"<{label.strip(chr(34))}>", _path(gfile)))
        return out

    tests: List[UpdateTest] = []
    for s in entries:
        props = by_s.get(s, {})
        if f"<{MF}UpdateEvaluationTest>" not in props.get(f"<{RDF_NS}type>", []):
            continue
        action = get1(s, MF + "action")
        if action is None:
            continue
        req = get1(action, UT + "request")
        if req is None:
            continue
        result = get1(s, MF + "result")
        name = (get1(s, MF + "name") or s).strip('"')
        tests.append(
            UpdateTest(
                name=name,
                request_path=_path(req),
                data=dataset_of(action),
                expected=dataset_of(result),
            )
        )
    tests.sort(key=lambda t: (t.request_path, t.name))
    return tests


def _load_dataset_quads(files: List[Tuple[Optional[str], str]]):
    quads = []
    for graph, path in files:
        with open(path, encoding="utf-8", newline="") as f:
            text = f.read()
        alloc = BNodeAllocator(doc_seed("w3c-update", path, graph or "default"))
        base = "file://" + os.path.abspath(path)
        if path.endswith(".nt"):
            trs = parse_ntriples(text, alloc)
        else:
            trs = parse_turtle(text, base, alloc)
        for s, p, o in trs:
            quads.append((graph, s, p, o))
    return list(dict.fromkeys(quads))


def run_update_test(spark, t: UpdateTest) -> Tuple[str, str]:
    from .ops.update import sparql_update, UpdateFailure

    with open(t.request_path, encoding="utf-8", newline="") as f:
        req = f.read()
    base = "file://" + os.path.abspath(t.request_path)
    quads = _load_dataset_quads(t.data)
    store = spark.createDataFrame(
        quads, "graph string, subj string, pred string, obj string"
    )
    try:
        # _load_dataset_quads dedups driver-side → the store is distinct
        out = sparql_update(store, req, base, assume_distinct=True)
        got = [(r["graph"], r["subj"], r["pred"], r["obj"]) for r in out.collect()]
    except RDFSyntaxError as e:
        return "skip", f"unsupported: {e}"
    except UpdateFailure as e:
        return "fail", f"update aborted: {e}"
    except Exception as e:
        return "fail", f"engine error: {type(e).__name__}: {str(e)[:200]}"
    want = _load_dataset_quads(t.expected)
    if isomorphic(got, want):
        return "pass", ""
    gs = sorted(str(q) for q in got)[:4]
    ws = sorted(str(q) for q in want)[:4]
    return "fail", f"stores differ ({len(got)} vs {len(want)}): got {gs} want {ws}"


def run_update_dir(spark, d: str, exclude: Optional[set] = None):
    tests = load_update_manifest(os.path.join(d, "manifest.ttl"))
    exclude = exclude or set()
    p = f = s = 0
    details = []
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    for t in tests:
        if t.name in exclude:
            s += 1
            details.append((t.name, "skip", "excluded (documented)"))
            continue
        try:
            outcome, detail = run_update_test(spark, t)
        except Exception as e:
            outcome, detail = "fail", f"harness error: {type(e).__name__}: {e}"
        if outcome == "pass":
            p += 1
        elif outcome == "fail":
            f += 1
        else:
            s += 1
        details.append((t.name, outcome, detail))
    spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return p, f, s, details


def run_update_syntax_dir(spark, d: str, exclude: Optional[set] = None):
    """mf:PositiveUpdateSyntaxTest11 / mf:NegativeUpdateSyntaxTest11:
    the request must parse / must be rejected (no evaluation)."""
    from .ops.update import UpdateParser

    by_s, entries = _manifest_graph(os.path.join(d, "manifest.ttl"), "w3c-update")
    exclude = exclude or set()
    p_ = f_ = s_ = 0
    details = []
    for s in entries:
        props = by_s.get(s, {})
        types = props.get(f"<{RDF_NS}type>", [])
        pos = f"<{MF}PositiveUpdateSyntaxTest11>" in types
        neg = f"<{MF}NegativeUpdateSyntaxTest11>" in types
        if not (pos or neg):
            continue
        name = (props.get(f"<{MF}name>", [s])[0]).strip('"')
        action = props.get(f"<{MF}action>", [None])[0]
        if action is None:
            continue
        if name in exclude:
            s_ += 1
            details.append((name, "skip", "excluded (documented)"))
            continue
        path = _path(action)
        with open(path, encoding="utf-8", newline="") as f:
            req = f.read()
        try:
            UpdateParser(req, "file://" + os.path.abspath(path)).parse_update()
            ok = pos
            why = "" if pos else "negative request parsed without error"
        except RDFSyntaxError as e:
            ok = neg
            why = "" if neg else f"positive request rejected: {e}"
        except RecursionError:
            ok = neg
            why = "" if neg else "positive request rejected: recursion"
        if ok:
            p_ += 1
            details.append((name, "pass", ""))
        else:
            f_ += 1
            details.append((name, "fail", why))
    return p_, f_, s_, details


def run_query_syntax_dir(spark, d: str, exclude: Optional[set] = None):
    """mf:PositiveSyntaxTest11 / mf:NegativeSyntaxTest11 over query
    strings: must parse / must be rejected (no evaluation)."""
    from .ops.sparql import SparqlParser

    by_s, entries = _manifest_graph(os.path.join(d, "manifest.ttl"), "w3c-sparql")
    exclude = exclude or set()
    p_ = f_ = s_ = 0
    details = []
    for s in entries:
        props = by_s.get(s, {})
        types = props.get(f"<{RDF_NS}type>", [])
        pos = (f"<{MF}PositiveSyntaxTest11>" in types
               or f"<{MF}PositiveSyntaxTest>" in types)
        neg = (f"<{MF}NegativeSyntaxTest11>" in types
               or f"<{MF}NegativeSyntaxTest>" in types)
        if not (pos or neg):
            continue
        name = (props.get(f"<{MF}name>", [s])[0]).strip('"')
        action = props.get(f"<{MF}action>", [None])[0]
        if action is None:
            continue
        if name in exclude:
            s_ += 1
            details.append((name, "skip", "excluded (documented)"))
            continue
        path = _path(action)
        with open(path, encoding="utf-8", newline="") as f:
            q = f.read()
        why = ""
        try:
            SparqlParser(q, "file://" + os.path.abspath(path)).parse()
            ok = pos
            if not ok:
                why = "negative query parsed without error"
        except (RDFSyntaxError, RecursionError) as e:
            ok = neg
            if not ok:
                why = f"positive query rejected: {str(e)[:120]}"
        if ok:
            p_ += 1
            details.append((name, "pass", ""))
        else:
            f_ += 1
            details.append((name, "fail", why))
    return p_, f_, s_, details
