"""SPARQL-lite SELECT subset → DataFrame compilation tests."""

import pytest

from jena_spark.ops.sparql import sparql_select
from jena_spark.terms import RDFSyntaxError

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


@pytest.fixture(scope="module")
def tri(spark):
    rows = [
        ("<http://e/a>", RDF_TYPE, "<http://e/Person>"),
        ("<http://e/b>", RDF_TYPE, "<http://e/Person>"),
        ("<http://e/c>", RDF_TYPE, "<http://e/Robot>"),
        ("<http://e/a>", "<http://e/name>", '"alice"'),
        ("<http://e/b>", "<http://e/name>", '"bob"'),
        ("<http://e/a>", "<http://e/age>", '"30"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/b>", "<http://e/age>", '"9"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/a>", "<http://e/knows>", "<http://e/b>"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"]).cache()


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_basic_bgp(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?n WHERE { ?p a e:Person . ?p e:name ?n }""",
    )
    assert rows(out) == [('"alice"',), ('"bob"',)]


def test_filter_numeric(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p WHERE { ?p e:age ?a . FILTER(?a > 10) }""",
    )
    assert rows(out) == [("<http://e/a>",)]


def test_filter_string_fns(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p WHERE { ?p e:name ?n .
             FILTER(STRSTARTS(STR(?n), "a") || CONTAINS(STR(?n), "ob")) }""",
    )
    assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]


def test_regex_and_logic(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?n WHERE { ?p e:name ?n . FILTER(REGEX(?n, "^al.*") && !ISBLANK(?p)) }""",
    )
    assert rows(out) == [('"alice"',)]


def test_optional(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p ?n WHERE { ?p a e:Person . OPTIONAL { ?p e:knows ?n } }""",
    )
    got = dict(rows(out))
    assert got["<http://e/a>"] == "<http://e/b>"
    assert got["<http://e/b>"] is None


def test_optional_filter_compile_py4j_ceiling(spark, py4j_calls_of):
    """Compiling the benchmark's OPTIONAL+FILTER template (a bound group,
    an optional numeric filter) costs at most the py4j calls it cost
    when this ceiling was set; lower it when a change earns it."""
    from jena_spark.ops.sparql import sparql_query

    xsd_int = "<http://www.w3.org/2001/XMLSchema#integer>"
    triples = [(f"<http://e/e{i}>", "<http://e/grp>", f"<http://e/g{i % 3}>")
               for i in range(12)]
    triples += [(f"<http://e/e{i}>", "<http://e/val>", f'"{i * 83 % 1000}"^^{xsd_int}')
                for i in range(12) if i % 4]
    store = spark.createDataFrame(triples, ["subj", "pred", "obj"]).cache()
    q = ("PREFIX b: <http://e/>\n"
         "SELECT ?e ?v WHERE { ?e b:grp b:g1 . "
         "OPTIONAL { ?e b:val ?v . FILTER(?v > 400) } }")
    sparql_query(store, q)  # first compile in a session pays one-off calls
    out = []
    n = py4j_calls_of(lambda: out.append(sparql_query(store, q)))
    assert rows(out[0]) == [
        ("<http://e/e10>", f'"830"^^{xsd_int}'),
        ("<http://e/e1>", None),
        ("<http://e/e4>", None),
        ("<http://e/e7>", f'"581"^^{xsd_int}'),
    ]
    assert n <= 5886, n


def test_union(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p WHERE { { ?p a e:Person } UNION { ?p a e:Robot } }""",
    )
    assert rows(out) == [("<http://e/a>",), ("<http://e/b>",), ("<http://e/c>",)]


def test_values(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p ?n WHERE { VALUES ?p { e:a e:c } ?p a ?n }""",
    )
    assert rows(out) == [
        ("<http://e/a>", "<http://e/Person>"),
        ("<http://e/c>", "<http://e/Robot>"),
    ]


def test_order_limit_distinct(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT DISTINCT ?t WHERE { ?p a ?t } ORDER BY ?t LIMIT 1""",
    )
    assert rows(out) == [("<http://e/Person>",)]


def test_filter_lang_datatype(tri, spark):
    extra = spark.createDataFrame(
        [("<http://e/x>", "<http://e/label>", '"hola"@es')],
        ["subj", "pred", "obj"],
    )
    out = sparql_select(
        tri.unionAll(extra),
        """PREFIX e: <http://e/>
           SELECT ?s WHERE { ?s e:label ?l . FILTER(LANG(?l) = "es") }""",
    )
    assert rows(out) == [("<http://e/x>",)]


def test_group_by_aggregates(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?t (COUNT(*) AS ?n) WHERE { ?p a ?t } GROUP BY ?t""",
    )
    got = dict(rows(out))
    assert got == {"<http://e/Person>": 2, "<http://e/Robot>": 1}


def test_agg_sum_avg_min_max(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT (SUM(?a) AS ?s) (AVG(?a) AS ?m) (MIN(?a) AS ?lo) (MAX(?a) AS ?hi)
           WHERE { ?p e:age ?a }""",
    )
    r = out.collect()[0]
    assert r["s"] == 39.0 and r["m"] == 19.5
    assert r["lo"] == '"9"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert r["hi"] == '"30"^^<http://www.w3.org/2001/XMLSchema#integer>'


def test_group_concat_distinct_count(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT (COUNT(DISTINCT ?t) AS ?nt) (GROUP_CONCAT(?n) AS ?names)
           WHERE { ?p a ?t . ?p e:name ?n }""",
    )
    r = out.collect()[0]
    # GROUP_CONCAT returns an encoded literal, SPARQL default separator " "
    assert r["nt"] == 1 and r["names"] == '"alice bob"'


def test_ask(tri):
    from jena_spark.ops.sparql import sparql_ask

    assert sparql_ask(
        tri, "PREFIX e: <http://e/> ASK { ?p a e:Robot }"
    ) is True
    assert sparql_ask(
        tri, "PREFIX e: <http://e/> ASK { ?p a e:Dragon }"
    ) is False


def test_construct(tri):
    from jena_spark.ops.sparql import sparql_construct

    out = sparql_construct(
        tri,
        """PREFIX e: <http://e/>
           CONSTRUCT { ?p e:isA ?t . ?p e:seen e:yes }
           WHERE { ?p a ?t }""",
    )
    got = rows(out)
    assert ("<http://e/a>", "<http://e/isA>", "<http://e/Person>") in got
    assert ("<http://e/c>", "<http://e/seen>", "<http://e/yes>") in got
    assert len(got) == 6


def test_graph_clause(spark):
    from jena_spark.ops.sparql import sparql_select

    quads = spark.createDataFrame(
        [
            ("<http://e/g1>", "<http://e/s>", "<http://e/p>", '"in-g1"'),
            ("<http://e/g2>", "<http://e/s>", "<http://e/p>", '"in-g2"'),
            (None, "<http://e/s>", "<http://e/p>", '"default"'),
        ],
        ["graph", "subj", "pred", "obj"],
    )
    # pinned graph
    out = sparql_select(
        quads,
        """PREFIX e: <http://e/>
           SELECT ?o WHERE { GRAPH e:g1 { ?s e:p ?o } }""",
    )
    assert rows(out) == [('"in-g1"',)]
    # graph variable binding
    out2 = sparql_select(
        quads,
        """PREFIX e: <http://e/>
           SELECT ?g ?o WHERE { GRAPH ?g { ?s e:p ?o } }""",
    )
    assert rows(out2) == [
        ("<http://e/g1>", '"in-g1"'),
        ("<http://e/g2>", '"in-g2"'),
    ]
    # default-graph pattern over quads input matches graph IS NULL only
    out3 = sparql_select(
        quads,
        "PREFIX e: <http://e/> SELECT ?o WHERE { ?s e:p ?o }",
    )
    assert rows(out3) == [('"default"',)]


@pytest.fixture(scope="module")
def chain(spark):
    rows_ = [
        ("<http://e/a>", "<http://e/knows>", "<http://e/b>"),
        ("<http://e/b>", "<http://e/knows>", "<http://e/c>"),
        ("<http://e/c>", "<http://e/knows>", "<http://e/d>"),
        ("<http://e/a>", "<http://e/name>", '"alice"'),
        ("<http://e/b>", "<http://e/name>", '"bob"'),
        ("<http://e/a>", "<http://e/age>", '"30"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]
    return spark.createDataFrame(rows_, ["subj", "pred", "obj"]).cache()


def test_property_paths(chain):
    # transitive +
    out = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?x ?y WHERE { ?x e:knows+ ?y }",
    )
    got = set(rows(out))
    assert ("<http://e/a>", "<http://e/d>") in got and len(got) == 6
    # sequence
    out2 = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?x ?y WHERE { ?x e:knows/e:knows ?y }",
    )
    assert set(rows(out2)) == {("<http://e/a>", "<http://e/c>"), ("<http://e/b>", "<http://e/d>")}
    # inverse
    out3 = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?x WHERE { ?x ^e:knows <http://e/a> }",
    )
    assert rows(out3) == [("<http://e/b>",)]
    # alternation
    out4 = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?o WHERE { <http://e/a> e:name|e:age ?o }",
    )
    assert len(rows(out4)) == 2
    # zero-or-one with bound endpoint
    out5 = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?y WHERE { <http://e/c> e:knows? ?y }",
    )
    assert set(rows(out5)) == {("<http://e/c>",), ("<http://e/d>",)}


def test_path_joins_with_bgp(chain):
    out = sparql_select(
        chain,
        """PREFIX e: <http://e/>
           SELECT ?n WHERE { <http://e/a> e:knows/e:knows ?y . ?y e:name ?n }""",
    )
    assert rows(out) == []  # c has no name
    out2 = sparql_select(
        chain,
        """PREFIX e: <http://e/>
           SELECT ?n WHERE { <http://e/a> e:knows ?y . ?y e:name ?n }""",
    )
    assert rows(out2) == [('"bob"',)]


def test_negated_property_set(chain):
    out = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?x ?y WHERE { ?x !(e:name|e:age) ?y }",
    )
    got = set(rows(out))
    assert got == {
        ("<http://e/a>", "<http://e/b>"),
        ("<http://e/b>", "<http://e/c>"),
        ("<http://e/c>", "<http://e/d>"),
    }


def test_bind(chain):
    out = sparql_select(
        chain,
        """PREFIX e: <http://e/>
           SELECT ?n ?len WHERE { ?p e:name ?n . BIND(STRLEN(?n) AS ?len) }""",
    )
    got = dict(rows(out))
    # BIND results are term-encoded bindings (round 2)
    xsd_int = "<http://www.w3.org/2001/XMLSchema#integer>"
    assert got == {'"alice"': f'"5"^^{xsd_int}', '"bob"': f'"3"^^{xsd_int}'}


def test_ungrouped_var_rejected(tri):
    with pytest.raises(RDFSyntaxError):
        sparql_select(
            tri,
            "SELECT ?x (COUNT(*) AS ?n) WHERE { ?x ?p ?o }",
        )


# --- round 2: negation, subqueries, HAVING, ordering semantics -------------


def test_filter_not_exists(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p WHERE { ?p a e:Person . FILTER NOT EXISTS { ?p e:knows ?x } }""",
    )
    assert rows(out) == [("<http://e/b>",)]


def test_filter_exists(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p WHERE { ?p a e:Person . FILTER EXISTS { ?p e:knows ?x } }""",
    )
    assert rows(out) == [("<http://e/a>",)]


def test_minus(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p WHERE { ?p a e:Person . MINUS { ?p e:knows ?x } }""",
    )
    assert rows(out) == [("<http://e/b>",)]


def test_minus_disjoint_domain_removes_nothing(tri):
    # MINUS with no shared variables keeps every left solution
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p WHERE { ?p a e:Person . MINUS { ?q e:knows ?x } }""",
    )
    assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]


def test_subquery(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p ?c WHERE {
             ?p a e:Person .
             { SELECT ?p (COUNT(?o) AS ?c) WHERE { ?p e:name ?o } GROUP BY ?p }
           }""",
    )
    assert rows(out) == [("<http://e/a>", 1), ("<http://e/b>", 1)]


def test_having(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p (COUNT(?o) AS ?c) WHERE { ?p ?q ?o }
           GROUP BY ?p HAVING(COUNT(?o) > 3)""",
    )
    assert rows(out) == [("<http://e/a>", 4)]


def test_order_by_numeric_value(tri):
    # "9" orders before "30" by value, not lexically
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?a WHERE { ?p e:age ?a } ORDER BY ?a""",
    )
    vals = [r.a for r in out.collect()]
    assert vals[0].startswith('"9"') and vals[1].startswith('"30"')


def test_distinct_order_limit(tri):
    # DISTINCT + ORDER BY + LIMIT: dedup must not destroy the sort
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT DISTINCT ?p WHERE { ?p ?q ?o } ORDER BY DESC(?p) LIMIT 2""",
    )
    assert [r.p for r in out.collect()] == ["<http://e/c>", "<http://e/b>"]


def test_union_null_then_join_compatible(tri):
    # a var unbound in one UNION branch must stay compatible in later joins
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p ?n WHERE {
             { ?p e:age ?v } UNION { ?p e:knows ?k . ?p e:name ?n }
             ?p e:name ?n .
           }""",
    )
    # age-branch rows have ?n unbound -> compatible with the name join
    assert rows(out) == [
        ("<http://e/a>", '"alice"'),
        ("<http://e/a>", '"alice"'),
        ("<http://e/b>", '"bob"'),
    ]


def test_mode_fold_aggregates(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT (MODE(?t) AS ?m) (FOLD(?t) AS ?all)
           WHERE { ?p a ?t }""",
    )
    r = out.collect()[0]
    assert r["m"] == "<http://e/Person>"  # 2 Persons vs 1 Robot
    # FOLD builds a cdt:List literal (AggFoldList) — collection order is
    # undefined, so check the parsed multiset
    from jena_spark import cdt

    assert sorted(cdt.get_list(r["all"])) == [
        "<http://e/Person>", "<http://e/Person>", "<http://e/Robot>"
    ]


def test_mode_tie_breaks_to_smallest_term(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT (MODE(?n) AS ?m) WHERE { ?p e:name ?n }""",
    )
    # alice and bob appear once each -> smallest term wins
    assert out.collect()[0]["m"] == '"alice"'


# --- round 3: <<( )>> triple-term patterns in triple pattern position -------
# (ADVICE r2 high: the TermDecomp used to be compiled before the enclosing
# triple bound its variable, raising 'triple-term pattern variable not bound')

@pytest.fixture(scope="module")
def tt_tri(spark):
    RE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>"
    rows = [
        ("<http://e/r1>", RE, '<<(<http://e/s> <http://e/p> "x")>>'),
        ("<http://e/r2>", RE, '<<(<http://e/s> <http://e/p> "y")>>'),
        ("<http://e/r3>", RE, '<<(<http://e/z> <http://e/p> "x")>>'),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"]).cache()


def test_tt_pattern_object_position_var_component(tt_tri):
    out = sparql_select(
        tt_tri,
        """PREFIX : <http://e/>
           PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
           SELECT ?r ?o WHERE { ?r rdf:reifies <<( :s :p ?o )>> }""",
    )
    assert rows(out) == [
        ("<http://e/r1>", '"x"'),
        ("<http://e/r2>", '"y"'),
    ]


def test_tt_pattern_object_position_ground_and_var_subject(tt_tri):
    q = """PREFIX : <http://e/>
           PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
           SELECT ?r WHERE { ?r rdf:reifies <<( :s :p "x" )>> }"""
    assert rows(sparql_select(tt_tri, q)) == [("<http://e/r1>",)]
    q2 = """PREFIX : <http://e/>
            PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
            SELECT ?r ?s WHERE { ?r rdf:reifies <<( ?s :p "x" )>> }"""
    assert rows(sparql_select(tt_tri, q2)) == [
        ("<http://e/r1>", "<http://e/s>"),
        ("<http://e/r3>", "<http://e/z>"),
    ]


def test_tt_pattern_nested(tt_tri, spark):
    RE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>"
    nested = spark.createDataFrame(
        [("<http://e/r9>", RE,
          '<<(<http://e/s> <http://e/p> <<(<http://e/a> <http://e/b> "c")>>)>>')],
        ["subj", "pred", "obj"],
    )
    out = sparql_select(
        nested,
        """PREFIX : <http://e/>
           PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
           SELECT ?r ?v WHERE { ?r rdf:reifies <<( :s :p <<( :a :b ?v )>> )>> }""",
    )
    assert rows(out) == [("<http://e/r9>", '"c"')]


# --- round 3: DESCRIBE + BNODE() ---------------------------------------------

def test_describe_iri_with_bnode_closure(spark):
    from jena_spark.ops.sparql import sparql_query
    rows = [
        ("<http://e/a>", "<http://e/p>", "_:b1"),
        ("_:b1", "<http://e/q>", "_:b2"),
        ("_:b2", "<http://e/r>", '"leaf"'),
        ("<http://e/z>", "<http://e/p>", '"other"'),
        ("_:b9", "<http://e/p>", '"unreachable"'),
    ]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sparql_query(tri, "DESCRIBE <http://e/a>")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        ("<http://e/a>", "<http://e/p>", "_:b1"),
        ("_:b1", "<http://e/q>", "_:b2"),
        ("_:b2", "<http://e/r>", '"leaf"'),
    ]


def test_describe_var_where(tri):
    from jena_spark.ops.sparql import sparql_query
    out = sparql_query(
        tri,
        """PREFIX e: <http://e/>
           DESCRIBE ?p WHERE { ?p a e:Robot }""",
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("<http://e/c>",
                    "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
                    "<http://e/Person>".replace("Person", "Robot"))]


def test_describe_star(tri):
    from jena_spark.ops.sparql import sparql_query
    out = sparql_query(
        tri,
        """PREFIX e: <http://e/>
           DESCRIBE * WHERE { ?p e:knows ?q }""",
    )
    subs = {r["subj"] for r in out.collect()}
    assert subs == {"<http://e/a>", "<http://e/b>"}


def test_bnode_expr_semantics(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT (BNODE(?n) AS ?x) (BNODE(?n) AS ?y) (BNODE() AS ?z)
           WHERE { ?p e:name ?n }""",
    ).collect()
    assert len(out) == 2
    labels = set()
    for r in out:
        assert r["x"].startswith("_:") and r["x"] == r["y"]  # same row+arg
        assert r["z"].startswith("_:") and r["z"] != r["x"]  # fresh call
        labels.add(r["x"])
    assert len(labels) == 2  # distinct across rows


def test_path_quantifiers(chain):
    # {2} fixed length
    out = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?x ?y WHERE { ?x e:knows{2} ?y }",
    )
    assert rows(out) == [
        ("<http://e/a>", "<http://e/c>"),
        ("<http://e/b>", "<http://e/d>"),
    ]
    # {1,2} range
    out2 = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?x ?y WHERE { ?x e:knows{1,2} ?y }",
    )
    got = set(rows(out2))
    assert ("<http://e/a>", "<http://e/b>") in got
    assert ("<http://e/a>", "<http://e/c>") in got
    assert ("<http://e/a>", "<http://e/d>") not in got
    assert len(got) == 5
    # {0}: the zero-length path — every graph node paired with itself,
    # regardless of the inner predicate (P_FixedLength 0; the
    # fresh-seed soak found this raising).  {0,0} is the same path.
    for q in ("e:knows{0}", "e:nosuch{0,0}"):
        out3 = sparql_select(
            chain,
            f"PREFIX e: <http://e/> SELECT ?x ?y WHERE {{ ?x {q} ?y }}",
        )
        got3 = set(rows(out3))
        assert all(x == y for x, y in got3)
        assert ("<http://e/a>", "<http://e/a>") in got3
        assert ('"alice"', '"alice"') in got3  # literals are nodes too
    # {2,} unbounded lower bound
    out3 = sparql_select(
        chain,
        "PREFIX e: <http://e/> SELECT ?x ?y WHERE { ?x e:knows{2,} ?y }",
    )
    got3 = set(rows(out3))
    assert got3 == {
        ("<http://e/a>", "<http://e/c>"),
        ("<http://e/a>", "<http://e/d>"),
        ("<http://e/b>", "<http://e/d>"),
    }
    # {0,1} behaves like ?
    out4 = sparql_select(
        chain,
        """PREFIX e: <http://e/>
           SELECT ?y WHERE { e:a e:knows{0,1} ?y }""",
    )
    got4 = {r[0] for r in rows(out4)}
    assert got4 == {"<http://e/a>", "<http://e/b>"}


# --- round 3: multi-var VALUES / collections / scope rules ------------------

def test_values_multi_var_undef(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p ?n ?t WHERE {
             ?p e:name ?n . ?p a ?t .
             VALUES (?n ?t) { ("alice" UNDEF) (UNDEF e:Robot) }
           }""",
    )
    assert rows(out) == [("<http://e/a>", '"alice"', "<http://e/Person>")]


def test_values_postfix_clause(tri):
    out = sparql_select(
        tri,
        """PREFIX e: <http://e/>
           SELECT ?p ?n WHERE { ?p e:name ?n }
           VALUES ?n { "bob" }""",
    )
    assert rows(out) == [("<http://e/b>", '"bob"')]


def test_collection_pattern(spark):
    # data: :l is the rdf:List (1 2)
    RDF = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows_ = [
        ("<http://e/s>", "<http://e/p>", "_:c1"),
        ("_:c1", RDF + "first>", '"1"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("_:c1", RDF + "rest>", "_:c2"),
        ("_:c2", RDF + "first>", '"2"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("_:c2", RDF + "rest>", RDF + "nil>"),
    ]
    tri2 = spark.createDataFrame(rows_, ["subj", "pred", "obj"])
    out = sparql_select(
        tri2,
        "PREFIX e: <http://e/> SELECT ?s WHERE { ?s e:p (1 2) }",
    )
    assert rows(out) == [("<http://e/s>",)]


def test_union_over_subqueries(tri):
    out = sparql_select(
        tri,
        """SELECT ?x WHERE {
             { SELECT (1 AS ?x) WHERE {} } UNION { SELECT (2 AS ?x) WHERE {} }
           }""",
    )
    xs = sorted(r["x"] for r in out.collect())
    assert xs == [
        '"1"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"2"^^<http://www.w3.org/2001/XMLSchema#integer>',
    ]


def test_bind_scope_rule_rejected(tri):
    with pytest.raises(RDFSyntaxError):
        sparql_select(
            tri,
            """PREFIX e: <http://e/>
               SELECT * WHERE { ?p e:name ?n . BIND(1 AS ?n) }""",
        )


def test_projection_scope_rules(tri):
    with pytest.raises(RDFSyntaxError):
        sparql_select(tri, "SELECT (1 AS ?x) (2 AS ?x) WHERE {}")
    with pytest.raises(RDFSyntaxError):
        sparql_select(
            tri,
            "PREFIX e: <http://e/> SELECT (1 AS ?n) WHERE { ?p e:name ?n }",
        )
    with pytest.raises(RDFSyntaxError):
        sparql_select(tri, "SELECT * WHERE { ?s ?p ?o } GROUP BY ?s")


# --- round 3: LATERAL (ARQ extension; testing/ARQ/Lateral semantics) --------

@pytest.fixture(scope="module")
def lat(spark):
    rows_ = [
        ("<http://example/s1>", "<http://example/p>", '"1"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://example/s1>", "<http://example/label>", '"s1-one"'),
        ("<http://example/s2>", "<http://example/p>", '"2"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://example/s2>", "<http://example/label>", '"s2-one"'),
        ("<http://example/s2>", "<http://example/label>", '"s2-two"'),
        ("<http://example/s3>", "<http://example/p>", '"3"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://example/s3>", "<http://example/label>", '"s3-one"'),
        ("<http://example/s3>", "<http://example/label>", '"s3-two"'),
        ("<http://example/s3>", "<http://example/label>", '"s3-three"'),
        ("<http://example/x1>", "<http://example/q>", '"1"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://example/z1>", "<http://example/q>", '"1"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://example/x0>", "<http://example/q>", '"a"'),
        ("<http://example/z0>", "<http://example/q>", '"b"'),
    ]
    return spark.createDataFrame(rows_, ["subj", "pred", "obj"]).cache()


def test_lateral_per_row_limit(lat):
    # ARQ lateral-1: per-?s LIMIT 2 → 1 + 2 + 2 = 5 rows, all true pairs
    out = sparql_select(
        lat,
        """PREFIX : <http://example/>
           SELECT ?s ?label {
             ?s :p ?o
             LATERAL { SELECT * { ?s :label ?label } LIMIT 2 }
           }""",
    ).collect()
    from collections import Counter
    per_s = Counter(r["s"] for r in out)
    assert per_s == {
        "<http://example/s1>": 1,
        "<http://example/s2>": 2,
        "<http://example/s3>": 2,
    }
    for r in out:  # every pair must be a genuine (s, label) edge
        assert r["label"].startswith('"' + r["s"].split("/")[-1][:2])


def test_lateral_correlated_filters(lat):
    # ARQ lateral-3: filters inside LATERAL see the outer bindings
    out = sparql_select(
        lat,
        """PREFIX : <http://example/>
           SELECT * {
             ?s :q ?z .
             LATERAL { ?x :q ?v . FILTER(?x != ?s) FILTER(?v = ?z) }
           }""",
    )
    got = {(r["s"], r["x"]) for r in out.collect()}
    assert got == {
        ("<http://example/x1>", "<http://example/z1>"),
        ("<http://example/z1>", "<http://example/x1>"),
    }


def test_lateral_subquery_correlation(lat):
    # ARQ lateral-4/-5: inner subquery correlates on ?s even when the
    # subquery does not project it (substitution, not join, semantics)
    for proj in ("?s ?z", "?z"):
        out = sparql_select(
            lat,
            f"""PREFIX : <http://example/>
                SELECT * {{
                  ?s :p ?o .
                  LATERAL {{ SELECT {proj} {{ ?s :p ?z }} }}
                }}""",
        ).collect()
        assert len(out) == 3
        for r in out:
            assert r["z"] == r["o"]  # each row pairs with its OWN value


def test_ask_base_through_sparql_query(spark):
    """sparql_query must apply the same BASE scope as sparql_ask — the
    two entry points cannot disagree on one query (round-3 advice)."""
    from jena_spark.ops.sparql import sparql_ask, sparql_query

    tri = spark.createDataFrame(
        [("<http://ex.org/s>", "<http://ex.org/p>", '"o"')],
        ["subj", "pred", "obj"],
    )
    q = 'BASE <http://ex.org/> ASK { ?s ?p ?o FILTER(IRI("s") = ?s) }'
    assert sparql_ask(tri, q) is True
    assert sparql_query(tri, q) is True


def test_fresh_bnodes_spares_literal_content(spark):
    """FROM-merge relabeling must not rewrite '_:'-like text inside a
    quoted literal of an RDF 1.2 triple term."""
    from pyspark.sql import functions as F
    from jena_spark.ops.sparql import _fresh_bnodes

    rows = [
        ("_:plain",),
        ('<<(_:y <http://e/p> "see _:b1 here")>>',),
        ('<<(<http://e/s> <http://e/p> _:z)>>',),
        ('"just a literal mentioning _:b2"',),
    ]
    df = spark.createDataFrame(rows, ["t"]).select(
        _fresh_bnodes(F.col("t"), "F").alias("t")
    )
    got = [r["t"] for r in df.collect()]
    assert got == [
        "_:plainF",
        '<<(_:yF <http://e/p> "see _:b1 here")>>',
        "<<(<http://e/s> <http://e/p> _:zF)>>",
        '"just a literal mentioning _:b2"',
    ]


def test_path_distinct_multi_shortest(spark):
    """ARQ path extensions DISTINCT(p)/MULTI(p)/SHORTEST(p)
    (P_Distinct.java, P_Multi.java; PathEvaluator.java:142-158).
    Diamond graph: a→(b1,b2)→c, so :p/:p reaches c twice — MULTI keeps
    the multiplicity, DISTINCT collapses it, SHORTEST raises (parity:
    Jena throws ARQNotImplemented)."""
    from jena_spark.ops.sparql import sparql_select
    from jena_spark.terms import RDFSyntaxError

    rows = [
        ("<http://e/a>", "<http://e/p>", "<http://e/b1>"),
        ("<http://e/a>", "<http://e/p>", "<http://e/b2>"),
        ("<http://e/b1>", "<http://e/p>", "<http://e/c>"),
        ("<http://e/b2>", "<http://e/p>", "<http://e/c>"),
    ]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    q = "PREFIX : <http://e/> SELECT ?x WHERE { :a %s ?x }"
    plain = [r["x"] for r in sparql_select(tri, q % ":p/:p").collect()]
    assert sorted(plain) == ["<http://e/c>", "<http://e/c>"]  # bag
    multi = [r["x"] for r in sparql_select(tri, q % "MULTI(:p/:p)").collect()]
    assert sorted(multi) == sorted(plain)
    dist = [r["x"] for r in sparql_select(tri, q % "DISTINCT(:p/:p)").collect()]
    assert dist == ["<http://e/c>"]
    with pytest.raises(RDFSyntaxError):
        sparql_select(tri, q % "SHORTEST(:p/:p)").collect()
    # 'distinct' as a plain predicate-position term must still error the
    # same way as before (keyword only activates with a '(' following)
    with pytest.raises(RDFSyntaxError):
        sparql_select(tri, "SELECT ?x WHERE { <http://e/a> distinct ?x }")


def test_service_local_registry(spark):
    """SERVICE against a REGISTERED endpoint evaluates the inner pattern
    over that dataset and joins (the reference's ServiceExecutorRegistry
    custom-executor path; HTTP stays out of scope).  SILENT + missing
    endpoint = unit solution; non-silent missing endpoint raises."""
    from jena_spark.service import register_service, unregister_service
    from jena_spark.ops.sparql import sparql_select

    local = spark.createDataFrame(
        [("<http://e/a>", "<http://e/name>", '"alice"'),
         ("<http://e/b>", "<http://e/name>", '"bob"')],
        ["subj", "pred", "obj"],
    )
    remote = spark.createDataFrame(
        [("<http://e/a>", "<http://e/age>", '"30"^^<http://www.w3.org/2001/XMLSchema#integer>')],
        ["subj", "pred", "obj"],
    )
    register_service("http://remote.example/sparql", remote)
    try:
        out = sparql_select(
            local,
            """PREFIX e: <http://e/>
               SELECT ?p ?n ?a WHERE {
                 ?p e:name ?n .
                 SERVICE <http://remote.example/sparql> { ?p e:age ?a }
               }""",
        )
        assert rows(out) == [
            ("<http://e/a>", '"alice"',
             '"30"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ]
        # SILENT + unregistered endpoint: pattern contributes nothing,
        # outer solutions pass through
        out2 = sparql_select(
            local,
            """PREFIX e: <http://e/>
               SELECT ?p WHERE {
                 ?p e:name ?n .
                 SERVICE SILENT <http://nowhere.example/> { ?p e:age ?a }
               }""",
        )
        assert len(rows(out2)) == 2
        with pytest.raises(RDFSyntaxError):
            sparql_select(
                local,
                "SELECT ?p WHERE { SERVICE <http://nowhere.example/> { ?p ?q ?o } }",
            )
    finally:
        unregister_service("http://remote.example/sparql")
