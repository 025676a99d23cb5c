"""SPARQL 1.1 Update API tests (the W3C suites live in
test_sparql_w3c.py; these cover the DataFrame API surface and LOAD)."""

import pytest

from jena_spark.ops.update import sparql_update, UpdateFailure
from jena_spark.terms import RDFSyntaxError


def quads(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple("" if x is None else x for x in t),
    )


@pytest.fixture()
def store(spark):
    rows = [
        (None, "<http://e/a>", "<http://e/p>", '"x"'),
        ("<http://e/g1>", "<http://e/b>", "<http://e/p>", '"y"'),
    ]
    return spark.createDataFrame(
        rows, "graph string, subj string, pred string, obj string"
    )


def test_insert_delete_data(store):
    out = sparql_update(
        store,
        """PREFIX : <http://e/>
           INSERT DATA { :c :p "z" . GRAPH :g1 { :d :p "w" } } ;
           DELETE DATA { :a :p "x" }""",
    )
    got = quads(out)
    assert (None, "<http://e/c>", "<http://e/p>", '"z"') in got
    assert ("<http://e/g1>", "<http://e/d>", "<http://e/p>", '"w"') in got
    assert all(s != "<http://e/a>" for _, s, _, _ in got)
    assert len(got) == 3


def test_modify_with_where(store):
    out = sparql_update(
        store,
        """PREFIX : <http://e/>
           WITH :g1 DELETE { ?s :p ?o } INSERT { ?s :q ?o }
           WHERE { ?s :p ?o }""",
    )
    got = quads(out)
    assert ("<http://e/g1>", "<http://e/b>", "<http://e/q>", '"y"') in got
    assert (None, "<http://e/a>", "<http://e/p>", '"x"') in got  # untouched
    assert len(got) == 2


CDT_LIST = "http://w3id.org/awslabs/neptune/SPARQL-CDTs/List"


def test_update_where_compares_cdt_lists_by_value(spark):
    """A CDT-silent WHERE of an update compares cdt:List literals by
    value, as the same FILTER does in sparql_select: [2] = [02]."""
    from jena_spark.ops.sparql import sparql_select

    rows = [(None, "<http://e/a>", "<http://e/p>", f'"[2]"^^<{CDT_LIST}>')]
    data = spark.createDataFrame(
        rows, "graph string, subj string, pred string, obj string")
    flt = f'FILTER(?o = "[02]"^^<{CDT_LIST}>)'
    assert len(sparql_select(
        data, f"SELECT ?s WHERE {{ ?s ?p ?o {flt} }}").collect()) == 1
    out = sparql_update(
        data, f"DELETE {{ ?s ?p ?o }} WHERE {{ ?s ?p ?o {flt} }}")
    assert quads(out) == []


def test_update_where_resolves_iri_against_base(store):
    """IRI() in an update's WHERE resolves against the request's BASE,
    as it does in SELECT."""
    out = sparql_update(
        store,
        """BASE <http://ex/>
           INSERT { ?s <http://e/q> ?x }
           WHERE { ?s <http://e/p> ?o BIND(IRI("rel") AS ?x) }""",
    )
    added = {o for _, _, p, o in quads(out) if p == "<http://e/q>"}
    assert added == {"<http://ex/rel>"}


def test_graph_management(store):
    out = sparql_update(
        store,
        """PREFIX : <http://e/>
           COPY :g1 TO :g2 ; ADD :g1 TO DEFAULT ; DROP GRAPH :g1""",
    )
    got = quads(out)
    assert ("<http://e/g2>", "<http://e/b>", "<http://e/p>", '"y"') in got
    assert (None, "<http://e/b>", "<http://e/p>", '"y"') in got
    assert all(g != "<http://e/g1>" for g, _, _, _ in got)


def test_drop_missing_graph_fails_unless_silent(store):
    with pytest.raises(UpdateFailure):
        sparql_update(store, "DROP GRAPH <http://e/nope>").collect()
    out = sparql_update(store, "DROP SILENT GRAPH <http://e/nope>")
    assert len(quads(out)) == 2


def test_load_local_file(store, tmp_path):
    p = tmp_path / "extra.ttl"
    p.write_text("@prefix : <http://e/> . :l :p :o .", encoding="utf-8")
    out = sparql_update(
        store, f"LOAD <file://{p}> INTO GRAPH <http://e/gl>"
    )
    assert ("<http://e/gl>", "<http://e/l>", "<http://e/p>", "<http://e/o>") in quads(out)
    with pytest.raises(UpdateFailure):
        sparql_update(store, "LOAD <file:///nope/missing.ttl>").collect()
    assert len(quads(sparql_update(store, "LOAD SILENT <file:///nope/missing.ttl>"))) == 2


def test_triples_input_gets_graph_column(spark):
    tri = spark.createDataFrame(
        [("<http://e/a>", "<http://e/p>", '"x"')], ["subj", "pred", "obj"]
    )
    out = sparql_update(tri, 'INSERT DATA { <http://e/b> <http://e/p> "y" }')
    assert out.columns == ["graph", "subj", "pred", "obj"]
    assert len(quads(out)) == 2


def test_halloween_problem(spark):
    # DELETE+INSERT must evaluate WHERE against the pre-update store
    tri = spark.createDataFrame(
        [(None, "<http://e/a>", "<http://e/knows>", "<http://e/b>")],
        "graph string, subj string, pred string, obj string",
    )
    out = sparql_update(
        tri,
        """PREFIX f: <http://e/>
           DELETE { ?a f:knows ?b } INSERT { ?b f:knows ?a }
           WHERE { ?a f:knows ?b }""",
    )
    assert quads(out) == [(None, "<http://e/b>", "<http://e/knows>", "<http://e/a>")]


def test_syntax_validation():
    import pyspark.sql  # noqa: F401
    from jena_spark.ops.update import UpdateParser

    with pytest.raises(RDFSyntaxError):
        UpdateParser('DELETE DATA { ?s <http://e/p> <http://e/o> }').parse_update()
    with pytest.raises(RDFSyntaxError):
        UpdateParser('DELETE DATA { _:b <http://e/p> <http://e/o> }').parse_update()
    with pytest.raises(RDFSyntaxError):
        UpdateParser(
            'INSERT DATA { _:b <http://e/p> "1" } ; '
            'INSERT DATA { _:b <http://e/p> "2" }'
        ).parse_update()


def test_insert_data_no_store_shuffle(spark):
    """The delta-shaped insert path never exchanges the store: a 3-quad
    INSERT DATA over a distinct store compiles to a broadcast semi/anti
    join + union — zero shuffle Exchange in the physical plan."""
    rows = [(None, f"<http://e/s{i}>", "<http://e/p>", f'"{i}"') for i in range(100)]
    store = spark.createDataFrame(
        rows, "graph string, subj string, pred string, obj string"
    ).localCheckpoint(eager=True)
    out = sparql_update(
        store,
        'INSERT DATA { <http://e/x> <http://e/p> "a" . '
        '<http://e/y> <http://e/p> "b" . <http://e/s1> <http://e/p> "1" }',
        assume_distinct=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    got = quads(out)
    assert len(got) == 102  # the existing quad is NOT duplicated
    assert (None, "<http://e/x>", "<http://e/p>", '"a"') in got


def test_store_stays_distinct_without_full_dedup(spark):
    """Entry normalization (assume_distinct=False default) + delta-shaped
    ops keep set semantics end-to-end."""
    rows = [
        (None, "<http://e/a>", "<http://e/p>", '"x"'),
        (None, "<http://e/a>", "<http://e/p>", '"x"'),  # dup in input
    ]
    store = spark.createDataFrame(
        rows, "graph string, subj string, pred string, obj string"
    )
    out = sparql_update(
        store,
        'INSERT DATA { <http://e/a> <http://e/p> "x" . <http://e/b> <http://e/p> "y" }',
    )
    assert quads(out) == [
        (None, "<http://e/a>", "<http://e/p>", '"x"'),
        (None, "<http://e/b>", "<http://e/p>", '"y"'),
    ]


def test_using_binds_store_bnodes(spark):
    """USING builds a DynamicDatasets-style VIEW (no bnode relabeling):
    a DELETE whose solution binds a blank node must actually remove the
    store's quad (UpdateEngineWorker.java processUsing)."""
    rows = [
        ("<http://e/g1>", "_:b1", "<http://e/p>", '"x"'),
        ("<http://e/g1>", "<http://e/a>", "<http://e/q>", "_:b1"),
        ("<http://e/g2>", "<http://e/c>", "<http://e/p>", '"keep"'),
    ]
    store = spark.createDataFrame(
        rows, "graph string, subj string, pred string, obj string"
    )
    out = sparql_update(
        store,
        """PREFIX : <http://e/>
           DELETE { GRAPH :g1 { ?s :p ?o } }
           USING :g1 WHERE { ?s :p ?o }""",
    )
    got = quads(out)
    assert ("<http://e/g1>", "_:b1", "<http://e/p>", '"x"') not in got
    assert len(got) == 2


def test_using_multiple_graphs_set_union(spark):
    """Two USING graphs holding the same triple yield ONE default-graph
    solution (set union, not bag)."""
    rows = [
        ("<http://e/g1>", "<http://e/a>", "<http://e/p>", '"x"'),
        ("<http://e/g2>", "<http://e/a>", "<http://e/p>", '"x"'),
    ]
    store = spark.createDataFrame(
        rows, "graph string, subj string, pred string, obj string"
    )
    out = sparql_update(
        store,
        """PREFIX : <http://e/>
           INSERT { :count :saw ?o } USING :g1 USING :g2 WHERE { :a :p ?o }""",
    )
    got = [q for q in quads(out) if q[1] == "<http://e/count>"]
    assert got == [(None, "<http://e/count>", "<http://e/saw>", '"x"')]


def test_union_broadcast_cutoff_is_byte_based(spark):
    """VERDICT r4 #2 / ADVICE (low): a delta of few rows but wide
    literals must take the shuffle anti-join, not F.broadcast (which
    bypasses autoBroadcastJoinThreshold and OOMs executors at scale)."""
    from pyspark.sql import functions as F

    from jena_spark.ops.update import _union

    store = spark.createDataFrame(
        [(None, "<http://e/s>", "<http://e/p>", '"x"')],
        "graph string, subj string, pred string, obj string",
    )
    wide = spark.range(40).select(
        F.lit(None).cast("string").alias("graph"),
        F.concat(F.lit("<http://e/w"), F.col("id"), F.lit(">")).alias("subj"),
        F.lit("<http://e/p>").alias("pred"),
        F.concat(F.lit('"'), F.repeat(F.lit("y"), 1_100_000), F.col("id"), F.lit('"')).alias("obj"),
    )
    out = _union(store, wide)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    assert out.count() == 41

    # and a genuinely small delta still broadcasts (store never shuffles)
    small = spark.createDataFrame(
        [(None, "<http://e/n>", "<http://e/p>", '"new"')],
        "graph string, subj string, pred string, obj string",
    )
    out2 = _union(store, small)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan2
    assert out2.count() == 2


def test_union_size_gate_reads_observed_delta_size(spark, monkeypatch):
    """The delta's row count and term characters are observed while it
    is pinned; a cutoff exactly at the estimate keeps the broadcast
    form, one byte below it takes the shuffle anti-join, and both give
    the same rows."""
    from jena_spark.ops import update as up

    schema = "graph string, subj string, pred string, obj string"
    store = spark.createDataFrame(
        [(None, "<http://e/s>", "<http://e/p>", '"x"'),
         ("<http://e/g>", "<http://e/t>", "<http://e/p>", '"y"')],
        schema,
    )
    delta = [(None, "<http://e/s>", "<http://e/p>", '"x"'),   # already stored
             (None, "<http://e/n>", "<http://e/p>", '"new"'),
             ("<http://e/g>", "<http://e/n>", "<http://e/q>", '"2"')]
    add = spark.createDataFrame(delta + delta[1:], schema)  # duplicates too
    chars = sum(len(g or "") + len(s) + len(p) + len(o) for g, s, p, o in delta)
    est = chars + 16 * len(delta)
    observed, pin = [], up.pin

    def spy_pin(df, **metrics):
        pinned, values = pin(df, **metrics)
        observed.append(values)
        return pinned, values

    monkeypatch.setattr(up, "pin", spy_pin)
    want = {tuple(r) for r in store.collect()} | set(delta)
    for cutoff, broadcast in ((est, True), (est - 1, False)):
        monkeypatch.setattr(up, "_UNION_BROADCAST_MAX_BYTES", cutoff)
        out = up._union(store, add)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("LeftSemi" in plan) is broadcast, cutoff
        assert {tuple(r) for r in out.collect()} == want
    assert observed == [{"n": 3, "chars": chars}] * 2
