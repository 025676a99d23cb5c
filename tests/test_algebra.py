"""Unit tests for the SPARQL-algebra DataFrame layer: BGP, closure,
facets, and property paths through the SPARQL path evaluator."""

import pytest
from pyspark.sql import functions as F

from jena_spark.ops import algebra
from jena_spark.ops.algebra import bgp, closure, facet_counts
from jena_spark.ops.sparql import sparql_select

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
# the SPARQL parser resolves relative IRIs, so the fixture's are absolute
E = "http://e/"


def I(name):
    return f"<{E}{name}>"


def _path(tri, path):
    """``?src path ?dst`` over ``tri`` (``:`` is the fixture's namespace)
    → the set of (src, dst) local-name pairs."""
    out = sparql_select(
        tri, f"PREFIX : <{E}> SELECT ?src ?dst WHERE {{ ?src {path} ?dst }}"
    )
    local = len(E) + 1
    return {(r["src"][local:-1], r["dst"][local:-1]) for r in out.collect()}


@pytest.fixture(scope="module")
def tri(spark):
    rows = [
        (I("a"), RDF_TYPE, I("T")),
        (I("b"), RDF_TYPE, I("T")),
        (I("a"), I("knows"), I("b")),
        (I("b"), I("knows"), I("c")),
        (I("c"), I("knows"), I("d")),
        (I("a"), I("name"), '"alice"'),
        (I("b"), I("name"), '"bob"'),
        (I("x"), I("likes"), I("a")),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"]).cache()


def test_bgp_two_patterns(tri):
    out = bgp(tri, [("?p", RDF_TYPE, I("T")), ("?p", I("name"), "?n")])
    got = {(r["p"], r["n"]) for r in out.collect()}
    assert got == {(I("a"), '"alice"'), (I("b"), '"bob"')}


def test_bgp_chain_join(tri):
    out = bgp(tri, [("?x", I("knows"), "?y"), ("?y", I("knows"), "?z")])
    got = {(r["x"], r["z"]) for r in out.collect()}
    assert got == {(I("a"), I("c")), (I("b"), I("d"))}


def test_bgp_same_var_twice(tri, spark):
    loops = spark.createDataFrame(
        [("<s>", "<p>", "<s>"), ("<s>", "<p>", "<o>")], ["subj", "pred", "obj"]
    )
    out = bgp(loops, [("?x", "<p>", "?x")])
    assert [r["x"] for r in out.collect()] == ["<s>"]


def test_path_seq(tri):
    assert _path(tri, ":knows/:knows") == {("a", "c"), ("b", "d")}


def test_path_alt_and_inverse(tri):
    assert ("x", "a") in _path(tri, ":knows|:likes")
    assert _path(tri, "^:likes") == {("a", "x")}


def test_path_transitive_plus(tri):
    assert _path(tri, ":knows+") == {
        ("a", "b"), ("b", "c"), ("c", "d"),
        ("a", "c"), ("b", "d"), ("a", "d"),
    }


def test_path_transitive_star_includes_reflexive(tri):
    got = _path(tri, ":knows*")
    assert ("d", "d") in got and ("a", "a") in got


def test_path_zero_or_one(tri):
    got = _path(tri, ":knows?")
    assert ("a", "b") in got and ("c", "c") in got


def test_path_negated(tri):
    got = _path(tri, f"!({RDF_TYPE}|:name)")
    assert ("a", "b") in got and ("x", "a") in got


def test_path_transitive_cycle_terminates(spark):
    rows = [(I("a"), I("e"), I("b")), (I("b"), I("e"), I("c")), (I("c"), I("e"), I("a"))]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    assert len(_path(tri, ":e+")) == 9  # complete digraph over the 3-cycle


def test_facet_counts(tri):
    out = facet_counts(tri, RDF_TYPE).collect()
    assert [(r["facet_value"], r["facet_count"]) for r in out] == [(I("T"), 2)]


def test_path_transitive_nonconvergence_raises(spark):
    # a 40-deep chain with max_iters=5 must raise, not silently truncate
    rows = [(f"<n{i}>", f"<n{i+1}>") for i in range(40)]
    rel = spark.createDataFrame(rows, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        closure(rel, max_iters=5)
    # and with enough headroom it completes: n0 reaches all 40 successors
    full = closure(rel)
    assert full.filter(F.col("src") == "<n0>").count() == 40


def test_closure_driver_path_matches_distributed(spark, monkeypatch):
    """Round 7's driver-small closure fast path must produce exactly the
    distributed fixpoint's row set — with and without per-graph keying,
    over a graph mixing cycles, branches and isolated edges."""

    def distributed(rel):
        with monkeypatch.context() as m:
            m.setattr(algebra, "DRIVER_EDGE_CAP", 0)
            return {tuple(r) for r in closure(rel).collect()}

    rows = (
        [(f"<n{i}>", f"<n{i+1}>") for i in range(6)]          # chain
        + [("<c0>", "<c1>"), ("<c1>", "<c2>"), ("<c2>", "<c0>")]  # cycle
        + [("<b>", "<x>"), ("<b>", "<y>"), ("<z>", "<z>")]    # branch+self
    )
    rel = spark.createDataFrame(rows, ["src", "dst"])
    py = {tuple(r) for r in closure(rel).collect()}
    dist = distributed(rel)
    assert py == dist

    grows = [("g1",) + r for r in rows] + [("g2", "<n0>", "<q>")]
    grel = spark.createDataFrame(grows, ["g", "src", "dst"])
    gpy = {tuple(r) for r in closure(grel).collect()}
    gdist = distributed(grel)
    assert gpy == gdist
    assert ("g2", "<n0>", "<q>") in gpy and ("g1", "<n0>", "<q>") not in gpy


def test_closure_pair_cap_falls_back_to_distributed(spark, monkeypatch):
    """A small edge set whose closure outgrows DRIVER_PAIR_CAP must fall
    back to the distributed loop and still be correct."""
    monkeypatch.setattr(algebra, "DRIVER_PAIR_CAP", 100)
    rows = [(f"<n{i}>", f"<n{i+1}>") for i in range(30)]  # closure = 465
    rel = spark.createDataFrame(rows, ["src", "dst"])
    out = closure(rel)
    assert out.count() == 465


def test_closure_job_ceiling(spark, jobs_of):
    """The distributed loop over 2,600 disjoint 5-node chains (10,400
    edges, above DRIVER_EDGE_CAP): each round's new pairs are counted
    in the pass that pins them, and the result is a plain union of the
    pinned pieces (29 jobs with an isEmpty probe and a re-pinned union
    per round)."""
    rows = [(f"<c{c}_{i}>", f"<c{c}_{i + 1}>") for c in range(2600) for i in range(4)]
    rel = spark.createDataFrame(rows, ["src", "dst"])
    got = []
    n = jobs_of(lambda: got.extend(closure(rel).collect()))
    assert n <= 22, n
    assert len(got) == 2600 * 10
