"""W3C SPARQL 1.1 + DAWG evaluation suites over the SPARQL layer.

Mirrors the reference's manifest-driven SPARQL testing
(jena-arq/src/test/.../junit/sparql/tests/QueryEvalTest.java over the
vendored rdf-tests-cg/sparql/sparql11 + DAWG-Final suites).

Gate: zero FAILURES on every wired suite (skips = documented subset
boundaries, reported), plus a pass-count floor per suite so silently
skipping more tests can never masquerade as green.
"""

import os

import pytest

from jena_spark.w3c import reference_dir
from jena_spark.w3c_sparql import run_sparql_dir, SPARQL11_DIR, DAWG_DIR, SPARQL12_DIR

pytestmark = [pytest.mark.slow, pytest.mark.reference_corpus]


# (base, subdir, min_pass) — min_pass is the pass count at wiring time;
# regressions that turn passes into skips trip the floor.
SUITES = [
    (SPARQL11_DIR, "negation", 11),
    (SPARQL11_DIR, "exists", 5),
    (SPARQL11_DIR, "subquery", 10),
    (SPARQL11_DIR, "bind", 10),
    (SPARQL11_DIR, "bindings", 10),
    (SPARQL11_DIR, "grouping", 4),     # round 6: GROUP BY (expr AS ?v)
    (SPARQL11_DIR, "aggregates", 29),  # round 6: AVG(expr) arg hoisting
    (SPARQL11_DIR, "project-expression", 7),
    (SPARQL11_DIR, "functions", 70),
    (SPARQL11_DIR, "cast", 6),
    (DAWG_DIR, "cast", 7),
    (SPARQL11_DIR, "construct", 4),
    (SPARQL11_DIR, "property-path", 27),
    (DAWG_DIR, "basic", 23),
    (DAWG_DIR, "triple-match", 4),
    (DAWG_DIR, "bound", 1),
    (DAWG_DIR, "distinct", 11),
    (DAWG_DIR, "sort", 13),
    (DAWG_DIR, "ask", 4),
    (DAWG_DIR, "construct", 5),
    (DAWG_DIR, "optional", 7),
    (DAWG_DIR, "optional-filter", 5),
    (DAWG_DIR, "boolean-effective-value", 7),
    (DAWG_DIR, "bnode-coreference", 1),
    (DAWG_DIR, "graph", 12),
    (DAWG_DIR, "expr-equals", 12),
    (DAWG_DIR, "expr-ops", 7),  # round 6: unary minus
    (DAWG_DIR, "algebra", 14),
    (DAWG_DIR, "open-world", 18),
    (DAWG_DIR, "type-promotion", 30),
    (DAWG_DIR, "i18n", 5),
    (DAWG_DIR, "solution-seq", 13),
    (DAWG_DIR, "dataset", 15),
    (DAWG_DIR, "expr-builtin", 23),
    (DAWG_DIR, "reduced", 2),
    (DAWG_DIR, "regex", 4),
    (SPARQL12_DIR, "lang-basedir", 6),
    (SPARQL12_DIR, "rdf11", 3),
    (SPARQL12_DIR, "grouping", 1),
    (SPARQL12_DIR, "expression", 1),
    (SPARQL12_DIR, "eval-triple-terms", 35),
]

# Documented exclusions (test name → why).
EXCLUDE = {
    # The DAWG WG approved BOTH answer sets for the -simplified/-not-
    # simplified pair; an engine gives one or the other depending on
    # whether it runs the LeftJoin simplification rewrite.  We match the
    # not-simplified semantics (that twin passes), same choice as Jena
    # without TransformSimplify.
    "dawg-optional-filter-005-simplified":
        "ambiguous by design; -not-simplified twin passes",
}


@pytest.mark.parametrize(
    "base,sub,min_pass", SUITES, ids=[s[1] for s in SUITES]
)
def test_w3c_sparql_suite(spark, base, sub, min_pass):
    p, f, s, details = run_sparql_dir(
        spark, os.path.join(base, sub), exclude=set(EXCLUDE)
    )
    fails = [(n, d) for n, o, d in details if o == "fail"]
    assert not fails, f"{sub}: {len(fails)} failures: {fails[:3]}"
    assert p >= min_pass, f"{sub}: pass count dropped to {p} (< {min_pass})"


# --- SPARQL-CDTs suites (cdt:List / cdt:Map: UNFOLD, FOLD, the function
# library, composite ordering, document-scoped bnodes) — the reference's
# own test tree, jena-arq/testing/SPARQL-CDTs (Scripts_CDTs.java) -----------

CDT_DIR = os.path.join(reference_dir(), "jena-arq", "testing", "SPARQL-CDTs")

CDT_SUITES = [
    ("unfold", 42),
    ("fold", 30),
    ("orderby", 28),
    ("bnodes", 72),
    ("list-functions", 287),
    ("map-functions", 196),
]


@pytest.mark.parametrize(
    "sub,min_pass", CDT_SUITES, ids=["cdt-" + s[0] for s in CDT_SUITES]
)
def test_w3c_cdt_suite(spark, sub, min_pass):
    p, f, s, details = run_sparql_dir(spark, os.path.join(CDT_DIR, sub))
    fails = [(n, d) for n, o, d in details if o == "fail"]
    assert not fails, f"{sub}: {len(fails)} failures: {fails[:3]}"
    assert p >= min_pass, f"{sub}: pass count dropped to {p} (< {min_pass})"


# --- result-format suites: engine runs the query, jena_spark.results
# serializes, both sides re-read with the same reader and compared -----------

FORMAT_SUITES = [
    ("csv-tsv-res", 6),
    ("json-res", 4),
]


@pytest.mark.parametrize(
    "sub,min_pass", FORMAT_SUITES, ids=[s[0] for s in FORMAT_SUITES]
)
def test_w3c_result_format_suite(spark, sub, min_pass):
    from jena_spark.w3c_sparql import run_result_format_dir

    p, f, s, details = run_result_format_dir(
        spark, os.path.join(SPARQL11_DIR, sub)
    )
    fails = [(n, d) for n, o, d in details if o == "fail"]
    assert not fails, f"{sub}: {len(fails)} failures: {fails[:3]}"
    assert p >= min_pass, f"{sub}: pass count dropped to {p} (< {min_pass})"


# --- SPARQL 1.1 Update suites (quads-DataFrame graph store) -----------------

UPDATE_SUITES = [
    ("basic-update", 13),
    ("delete-data", 6),
    ("delete-where", 6),
    ("delete-insert", 9),
    ("delete", 19),
    ("add", 8),
    ("clear", 4),
    ("copy", 6),
    ("move", 6),
    ("drop", 4),
    ("update-silent", 13),
]


@pytest.mark.parametrize(
    "sub,min_pass", UPDATE_SUITES, ids=[s[0] for s in UPDATE_SUITES]
)
def test_w3c_update_suite(spark, sub, min_pass):
    from jena_spark.w3c_sparql import run_update_dir

    p, f, s, details = run_update_dir(spark, os.path.join(SPARQL11_DIR, sub))
    fails = [(n, d) for n, o, d in details if o == "fail"]
    assert not fails, f"{sub}: {len(fails)} failures: {fails[:3]}"
    assert p >= min_pass, f"{sub}: pass count dropped to {p} (< {min_pass})"


def test_w3c_update_syntax_suite(spark):
    from jena_spark.w3c_sparql import run_update_syntax_dir

    p, f, s, details = run_update_syntax_dir(
        spark, os.path.join(SPARQL11_DIR, "syntax-update-1")
    )
    fails = [(n, d) for n, o, d in details if o == "fail"]
    assert not fails, f"syntax-update-1: {fails[:5]}"
    assert p >= 54


SYNTAX_SUITES = [
    (SPARQL11_DIR, "syntax-query", 94),
    (SPARQL11_DIR, "syntax-fed", 3),
    (DAWG_DIR, "syntax-sparql1", 81),
    (DAWG_DIR, "syntax-sparql2", 53),
    (DAWG_DIR, "syntax-sparql3", 51),
    (DAWG_DIR, "syntax-sparql4", 12),
    (DAWG_DIR, "syntax-sparql5", 2),
    (SPARQL12_DIR, "codepoint-escapes", 8),
    (SPARQL12_DIR, "syntax-triple-terms-positive", 95),
    (SPARQL12_DIR, "syntax-triple-terms-negative", 63),
]


@pytest.mark.parametrize(
    "base,sub,min_pass", SYNTAX_SUITES, ids=[s[1] for s in SYNTAX_SUITES]
)
def test_w3c_query_syntax_suite(spark, base, sub, min_pass):
    from jena_spark.w3c_sparql import run_query_syntax_dir

    p, f, s, details = run_query_syntax_dir(spark, os.path.join(base, sub))
    fails = [(n, d) for n, o, d in details if o == "fail"]
    assert not fails, f"{sub}: {fails[:5]}"
    assert p >= min_pass


def test_w3c_update_syntax_2_suite(spark):
    from jena_spark.w3c_sparql import run_update_syntax_dir

    p, f, s, details = run_update_syntax_dir(
        spark, os.path.join(SPARQL11_DIR, "syntax-update-2")
    )
    fails = [(n, d) for n, o, d in details if o == "fail"]
    assert not fails, f"syntax-update-2: {fails}"
    assert p >= 1
