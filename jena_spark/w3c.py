"""W3C RDF 1.1 test-suite harness.

Mirrors the reference's manifest-driven golden testing
(jena-arq/src/test/.../junit/riot/RiotTests.java:42-110 dispatch;
manifest walker .../junit/manifest/Manifest.java; eval comparison is graph
isomorphism per RiotEvalTest.java:105-116 → sparql/util/IsoMatcher.java).

The manifests themselves are Turtle — we parse them with our own parser
(dogfooding).  Test corpus location: the read-only reference checkout's
``jena-arq/testing/rdf-tests-cg/rdf/rdf11/`` directory, under
:func:`reference_dir`.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

from .skolem import BNodeAllocator, doc_seed
from .parsers.turtle import parse_turtle, parse_trig
from .parsers.ntriples import parse_ntriples, parse_nquads
from .terms import RDFSyntaxError


def reference_dir() -> str:
    """Root of the read-only Jena reference checkout that holds the
    conformance corpora (W3C RDF and SPARQL suites, SPARQL-CDTs, RDF
    Patch files): ``$JENA_REFERENCE_DIR``, by default ``~/reference``."""
    return os.environ.get("JENA_REFERENCE_DIR") or os.path.join(
        os.path.expanduser("~"), "reference"
    )


RDF_TESTS_DIR = os.path.join(
    reference_dir(), "jena-arq", "testing", "rdf-tests-cg", "rdf", "rdf11"
)

MF = "http://www.w3.org/2001/sw/DataAccess/tests/test-manifest#"
RDFT = "http://www.w3.org/ns/rdftest#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

Triple = Tuple[str, str, str]
Quad = Tuple[Optional[str], str, str, str]


@dataclass
class W3CTest:
    suite: str
    name: str
    test_type: str      # e.g. "TestTurtleEval", "TestTurtleNegativeSyntax"
    action_path: str    # local file path
    result_path: Optional[str]
    base_iri: str       # base for parsing the action file


def _local(path_dir: str, iri: str, suite: str) -> str:
    marker = f"/rdf-{suite}/"
    k = iri.find(marker)
    rel = iri[k + len(marker):] if k >= 0 else iri.rsplit("/", 1)[-1]
    return os.path.join(path_dir, rel)


def load_manifest(suite: str, suite_dir: Optional[str] = None) -> List[W3CTest]:
    d = suite_dir or os.path.join(RDF_TESTS_DIR, f"rdf-{suite}")
    manifest = os.path.join(d, "manifest.ttl")
    with open(manifest, encoding="utf-8", newline="") as f:
        text = f.read()
    base = f"https://w3c.github.io/rdf-tests/rdf/rdf11/rdf-{suite}/manifest.ttl"
    alloc = BNodeAllocator(doc_seed("w3c", manifest, "manifest"))
    triples = parse_turtle(text, base, alloc)

    by_s: Dict[str, Dict[str, List[str]]] = {}
    for s, p, o in triples:
        by_s.setdefault(s, {}).setdefault(p, []).append(o)

    def get1(s: str, p: str) -> Optional[str]:
        v = by_s.get(s, {}).get(f"<{p}>")
        return v[0] if v else None

    tests: List[W3CTest] = []
    for s, props in by_s.items():
        types = props.get(f"<{RDF_NS}type>", [])
        ttype = None
        for t in types:
            if t.startswith(f"<{RDFT}"):
                ttype = t[len(RDFT) + 1 : -1]
                break
        if ttype is None:
            continue
        name_lit = get1(s, MF + "name") or s
        action = get1(s, MF + "action")
        result = get1(s, MF + "result")
        if action is None:
            continue
        action_iri = action[1:-1]
        action_path = _local(d, action_iri, suite)
        result_path = _local(d, result[1:-1], suite) if result else None
        # Jena substitutes alternative goldens for the xml-canon tests —
        # the W3C-committed ones predate the exclusive-c14n behavior
        # (RiotTests.java:102-110).  Mirror that.
        if result_path and "/xml-canon/" in result_path:
            alt = result_path.replace(
                "/rdf-tests-cg/rdf/rdf11/rdf-xml/xml-canon/",
                "/RIOT/Lang/rdf-xml/xml-canon/",
            ).replace(RDF_TESTS_DIR + "/rdf-xml/xml-canon/",
                      os.path.join(reference_dir(),
                                   "jena-arq/testing/RIOT/Lang/rdf-xml/xml-canon/"))
            if os.path.exists(alt):
                result_path = alt
        tests.append(
            W3CTest(
                suite=suite,
                name=name_lit.strip('"'),
                test_type=ttype,
                action_path=action_path,
                result_path=result_path,
                base_iri=action_iri,
            )
        )
    return tests


# ---------------------------------------------------------------------------
# Graph/dataset isomorphism (blank-node bijection)
# ---------------------------------------------------------------------------

import re as _re

_BN_RE = _re.compile(r"_:[A-Za-z0-9_\-]+")


def _bnodes_of(x: Optional[str]) -> List[str]:
    """Blank-node labels in a term — the term itself, or labels embedded
    in an RDF 1.2 triple term like ``<<( _:b <p> <o> )>>``."""
    if x is None or x == "":
        return []
    if x.startswith("_:"):
        return [x]
    if x.startswith("<<("):
        return _BN_RE.findall(x)
    return []


def _blind(x: str) -> str:
    """Replace every bnode label with the wildcard '_:'."""
    if x.startswith("_:"):
        return "_:"
    if x.startswith("<<("):
        return _BN_RE.sub("_:", x)
    return x


def _split_bnodes(triples: Sequence[Tuple]) -> Tuple[set, List[Tuple]]:
    ground = set()
    open_ = []
    for t in triples:
        if any(_bnodes_of(x) for x in t):
            open_.append(t)
        else:
            ground.add(t)
    return ground, open_


def _signature(t: Tuple) -> Tuple:
    return tuple(_blind(x) if x else x for x in t)


def isomorphic(a: Sequence[Tuple], b: Sequence[Tuple]) -> bool:
    """Set-semantics graph (or dataset) isomorphism over tuples of encoded
    terms; positions holding ``_:…`` are matched under a bijection.
    Backtracking with signature pruning — fixture graphs are small
    (reference oracle: IsoMatcher.java:53-71)."""
    # normalize: None (default graph) → "" so tuples sort/compare cleanly
    sa = {tuple("" if x is None else x for x in t) for t in a}
    sb = {tuple("" if x is None else x for x in t) for t in b}
    ground_a, open_a = _split_bnodes(sa)
    ground_b, open_b = _split_bnodes(sb)
    if ground_a != ground_b:
        return False
    if len(open_a) != len(open_b):
        return False
    if not open_a:
        return True
    if sorted(map(_signature, open_a)) != sorted(map(_signature, open_b)):
        return False

    bnodes_a = sorted({bn for t in open_a for x in t if x for bn in _bnodes_of(x)})
    bnodes_b = sorted({bn for t in open_b for x in t if x for bn in _bnodes_of(x)})
    if len(bnodes_a) != len(bnodes_b):
        return False

    open_b_set = set(open_b)

    # order bnodes of a by degree (most constrained first)
    deg: Dict[str, int] = {bn: 0 for bn in bnodes_a}
    for t in open_a:
        for x in t:
            if x:
                for bn in _bnodes_of(x):
                    deg[bn] += 1
    order = sorted(bnodes_a, key=lambda bn: -deg[bn])

    mapping: Dict[str, str] = {}
    used: set = set()

    def map_term(x: str) -> Optional[str]:
        """Apply the bnode mapping to a term (incl. labels embedded in
        triple terms); None if any label is still unmapped."""
        if x.startswith("_:"):
            return mapping.get(x)
        if x.startswith("<<("):
            unmapped = False

            def rep(m):
                nonlocal unmapped
                v = mapping.get(m.group(0))
                if v is None:
                    unmapped = True
                    return m.group(0)
                return v

            y = _BN_RE.sub(rep, x)
            return None if unmapped else y
        return x

    def consistent() -> bool:
        # every fully-mapped triple of a must exist in b
        for t in open_a:
            mt = []
            full = True
            for x in t:
                if x and _bnodes_of(x):
                    m = map_term(x)
                    if m is None:
                        full = False
                        break
                    mt.append(m)
                else:
                    mt.append(x)
            if full and tuple(mt) not in open_b_set:
                return False
        return True

    def backtrack(idx: int) -> bool:
        if idx == len(order):
            return True
        bn = order[idx]
        for cand in bnodes_b:
            if cand in used:
                continue
            mapping[bn] = cand
            used.add(cand)
            if consistent() and backtrack(idx + 1):
                return True
            del mapping[bn]
            used.discard(cand)
        return False

    return backtrack(0)


# ---------------------------------------------------------------------------
# Running one test
# ---------------------------------------------------------------------------

def run_parser(
    suite: str, text: str, base: str, alloc: BNodeAllocator
) -> List[Quad]:
    if suite == "turtle":
        return [(None, s, p, o) for s, p, o in parse_turtle(text, base, alloc)]
    if suite == "n-triples":
        return [(None, s, p, o) for s, p, o in parse_ntriples(text, alloc)]
    if suite == "n-quads":
        return parse_nquads(text, alloc)
    if suite == "trig":
        return parse_trig(text, base, alloc)
    if suite == "xml":
        from .parsers.rdfxml import parse_rdfxml

        return [(None, s, p, o) for s, p, o in parse_rdfxml(text, base, alloc)]
    raise ValueError(f"unknown suite {suite}")


def run_test(t: W3CTest) -> Tuple[bool, str]:
    """Returns (passed, detail)."""
    with open(t.action_path, encoding="utf-8", newline="") as f:
        text = f.read()
    alloc = BNodeAllocator(doc_seed("w3c", t.action_path, "test"))
    negative = "Negative" in t.test_type
    try:
        got = run_parser(t.suite, text, t.base_iri, alloc)
    except RDFSyntaxError as e:
        if negative:
            return True, ""
        return False, f"unexpected parse error: {e}"
    except RecursionError:
        return False, "recursion"
    if negative:
        return False, f"expected parse error, got {len(got)} tuples"
    if t.result_path is None:  # positive syntax only
        return True, ""
    with open(t.result_path, encoding="utf-8", newline="") as f:
        golden_text = f.read()
    galloc = BNodeAllocator(doc_seed("w3c", t.result_path, "golden"))
    if t.result_path.endswith(".nq"):
        golden = parse_nquads(golden_text, galloc)
    else:
        golden = [(None, s, p, o) for s, p, o in parse_ntriples(golden_text, galloc)]
    if isomorphic(got, golden):
        return True, ""
    def _fmt(qs):
        return sorted(tuple("" if x is None else x for x in t) for t in qs)
    return False, f"graphs differ: got {_fmt(got)[:6]} want {_fmt(golden)[:6]}"


def run_suite(suite: str) -> Tuple[int, int, List[Tuple[W3CTest, str]]]:
    tests = load_manifest(suite)
    passed = 0
    failures: List[Tuple[W3CTest, str]] = []
    for t in tests:
        try:
            ok, detail = run_test(t)
        except Exception as e:  # harness robustness
            ok, detail = False, f"harness error: {type(e).__name__}: {e}"
        if ok:
            passed += 1
        else:
            failures.append((t, detail))
    return passed, len(tests), failures
