"""RDF Patch reader/applier tests (reference: jena-rdfpatch testing/
files/syntax-1.rdfp, RDFPatchReaderText.java, RDF2Patch.java)."""

import os

import pytest

from jena_spark.rdfpatch import (
    PatchException, apply_patch, diff_patch, parse_patch,
)
from jena_spark.w3c import reference_dir

SYNTAX_1 = os.path.join(
    reference_dir(), "jena-rdfpatch", "testing", "files", "syntax-1.rdfp"
)


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


@pytest.mark.reference_corpus
def test_parse_reference_syntax_file():
    with open(SYNTAX_1, encoding="utf-8", newline="") as f:
        log = parse_patch(f.read())
    assert log.headers["id"].startswith("<uuid:")
    assert log.txns == [[
        ("A", ("<http://example/g>", "<http://example/s>",
               "<http://example/p>", "<http://example/o1>")),
        ("D", ("<http://example/g>", "<http://example/s>",
               "<http://example/p>", "<http://example/o1>")),
    ]]
    assert log.prefixes == {}  # PA then PD for both prefixes


def test_apply_add_delete(store):
    out = apply_patch(
        store,
        'TX .\n'
        'A <http://e/c> <http://e/p> "z" .\n'
        'A <http://e/a> <http://e/p> "x" .\n'   # already present: set stays
        'D <http://e/b> <http://e/p> "y" <http://e/g1> .\n'
        'TC .\n',
    )
    assert quads(out) == [
        (None, "<http://e/a>", "<http://e/p>", '"x"'),
        (None, "<http://e/c>", "<http://e/p>", '"z"'),
    ]


def test_aborted_txn_is_discarded(store):
    out = apply_patch(
        store,
        'TX .\nA <http://e/nope> <http://e/p> "n" .\nTA .\n'
        'TX .\nA <http://e/yes> <http://e/p> "y" .\nTC .\n',
    )
    got = quads(out)
    assert (None, "<http://e/yes>", "<http://e/p>", '"y"') in got
    assert all(s != "<http://e/nope>" for _, s, _, _ in got)
    assert len(got) == 3


def test_add_then_delete_in_one_txn_orders_correctly(store):
    out = apply_patch(
        store,
        'TX .\nA <http://e/t> <http://e/p> "v" .\n'
        'D <http://e/t> <http://e/p> "v" .\nTC .\n',
    )
    assert all(s != "<http://e/t>" for _, s, _, _ in quads(out))


def test_roundtrip_diff_apply(spark, store):
    from jena_spark.ops.update import sparql_update

    new = sparql_update(
        store,
        'PREFIX : <http://e/> DELETE DATA { GRAPH :g1 { :b :p "y" } } ; '
        'INSERT DATA { :n :p "fresh" . GRAPH :g2 { :m :q :o } }',
    )
    patch = diff_patch(store, new)
    replayed = apply_patch(store, patch)
    assert quads(replayed) == quads(new)
    # and the patch itself is delta-sized text
    assert patch.count("\nA ") == 2 and patch.count("\nD ") == 1


def test_literals_with_escapes_and_types(store):
    out = apply_patch(
        store,
        'A <http://e/l> <http://e/p> "line\\nbreak" .\n'
        'A <http://e/l> <http://e/q> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        'A <http://e/l> <http://e/r> "hej"@sv .\n',
    )
    got = quads(out)
    assert (None, "<http://e/l>", "<http://e/p>", '"line\\nbreak"') in got
    assert (None, "<http://e/l>", "<http://e/q>",
            '"5"^^<http://www.w3.org/2001/XMLSchema#integer>') in got
    assert (None, "<http://e/l>", "<http://e/r>", '"hej"@sv') in got


def test_malformed_patches_raise():
    for bad in [
        "A <http://e/s> <http://e/p> .\n",       # missing object
        "TX .\nA <http://e/s> <http://e/p> <http://e/o> .\n",  # no TC
        "TC .\n",                                 # TC without TX
        "Q <http://e/s> .\n",                     # unknown code
    ]:
        with pytest.raises(PatchException):
            parse_patch(bad)


def test_patch_stream_applies_to_store(spark, tmp_path):
    """Streaming change log: RDF Patch documents arrive as rows; each
    micro-batch's committed ops land in the parquet-backed store via the
    delta-shaped applier (aborted transactions contribute nothing;
    null-graph deletes match null-safely)."""
    import os

    from jena_spark.streaming import apply_patch_batch, patch_ops_stream

    src = str(tmp_path / "patches")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    spark.createDataFrame(
        [(None, "<http://e/old>", "<http://e/p>", '"v"')],
        "graph string, subj string, pred string, obj string",
    ).write.mode("overwrite").parquet(store)

    batch1 = (
        'TX .\nA <http://e/a> <http://e/p> "1" .\n'
        'A <http://e/b> <http://e/p> "2" <http://e/g> .\nTC .\n'
        'TX .\nA <http://e/never> <http://e/p> "x" .\nTA .\n'
    )
    batch2 = 'TX .\nD <http://e/old> <http://e/p> "v" .\nTC .\n'
    spark.createDataFrame([(batch1,), (batch2,)], ["patch"]) \
        .coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("patch string").parquet(src)
    q = (
        patch_ops_stream(stream)
        .writeStream.foreachBatch(apply_patch_batch(store))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        (
            tuple(r)
            for r in spark.read.parquet(store)
            .select("graph", "subj", "pred", "obj")
            .collect()
        ),
        key=lambda t: tuple("" if x is None else x for x in t),
    )
    assert got == [
        (None, "<http://e/a>", "<http://e/p>", '"1"'),
        ("<http://e/g>", "<http://e/b>", "<http://e/p>", '"2"'),
    ]


def _store_quads(spark, store):
    return sorted(
        (
            tuple(r)
            for r in spark.read.parquet(store)
            .select("graph", "subj", "pred", "obj")
            .collect()
        ),
        key=lambda t: tuple("" if x is None else x for x in t),
    )


def test_patch_batch_intra_batch_order(spark, tmp_path):
    """A quad added then deleted WITHIN one micro-batch must end up
    absent, and deleted-then-re-added must end up present — op order
    (the seq column) decides, not op grouping."""
    import os

    from jena_spark.streaming import apply_patch_batch, patch_ops_stream

    src = str(tmp_path / "patches")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    spark.createDataFrame(
        [(None, "<http://e/keep>", "<http://e/p>", '"v"')],
        "graph string, subj string, pred string, obj string",
    ).write.mode("overwrite").parquet(store)

    doc = (
        'TX .\n'
        'A <http://e/tmp> <http://e/p> "gone" .\n'
        'D <http://e/tmp> <http://e/p> "gone" .\n'
        'D <http://e/keep> <http://e/p> "v" .\n'
        'A <http://e/keep> <http://e/p> "v" .\n'
        'A <http://e/new> <http://e/p> "stays" .\n'
        'TC .\n'
    )
    spark.createDataFrame([(doc,)], ["patch"]) \
        .coalesce(1).write.mode("append").parquet(src)

    q = (
        patch_ops_stream(spark.readStream.schema("patch string").parquet(src))
        .writeStream.foreachBatch(apply_patch_batch(store))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert _store_quads(spark, store) == [
        (None, "<http://e/keep>", "<http://e/p>", '"v"'),
        (None, "<http://e/new>", "<http://e/p>", '"stays"'),
    ]


def test_patch_batch_untouched_partitions_not_rewritten(spark, tmp_path):
    """Sub-linear sink: applying a small patch must leave every
    UNTOUCHED p_part partition's files byte-identical (same path, size,
    mtime) — only partitions the delta hashes into are rewritten."""
    import os

    from jena_spark.streaming import apply_patch_batch, patch_ops_stream

    src = str(tmp_path / "patches")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    from pyspark.sql import functions as F

    n_parts = 16
    base = spark.range(200).select(
        F.lit(None).cast("string").alias("graph"),
        F.concat(F.lit("<http://e/s"), F.col("id"), F.lit(">")).alias("subj"),
        F.concat(F.lit("<http://e/p"), F.col("id") % 40, F.lit(">")).alias("pred"),
        F.concat(F.lit('"v'), F.col("id"), F.lit('"')).alias("obj"),
    ).withColumn(
        "p_part", F.pmod(F.xxhash64(F.col("pred")), F.lit(n_parts)).cast("int")
    )
    base.write.mode("overwrite").partitionBy("p_part").parquet(store)

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(store):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    doc = 'TX .\nA <http://e/x> <http://e/ONLY> "1" .\nTC .\n'
    spark.createDataFrame([(doc,)], ["patch"]) \
        .coalesce(1).write.mode("append").parquet(src)
    q = (
        patch_ops_stream(spark.readStream.schema("patch string").parquet(src))
        .writeStream.foreachBatch(apply_patch_batch(store, n_parts=n_parts))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    after = snapshot()

    touched_part = spark.sql(
        f"SELECT pmod(xxhash64('<http://e/ONLY>'), {n_parts})"
    ).first()[0]
    touched_dir = os.path.join(store, f"p_part={touched_part}")
    untouched_before = {
        p: v for p, v in before.items()
        if not p.startswith(touched_dir) and "_SUCCESS" not in p
    }
    for p, v in untouched_before.items():
        assert after.get(p) == v, f"untouched partition file rewritten: {p}"
    # the patch itself landed
    quads = _store_quads(spark, store)
    assert (None, "<http://e/x>", "<http://e/ONLY>", '"1"') in quads
    assert len(quads) == 201


@pytest.mark.slow  # ~100 s: 12 trials x 2 apply paths x parquet round trips
def test_patch_apply_matches_set_model_random_sequences(spark, tmp_path):
    """Model-based check: random patch op sequences (incl. A-then-D and
    D-then-A of the SAME quad within one patch/batch — the ordering the
    run-coalescing and the seq/max_by sink must both honor) against a
    plain Python set model, through BOTH apply paths."""
    import random

    from pyspark.sql import functions as F

    from jena_spark.rdfpatch import apply_patch
    from jena_spark.streaming import apply_patch_batch

    rng = random.Random(17)
    quads_pool = [
        (g, f"<http://e/s{i}>", "<http://e/p>", f'"{v}"')
        for g in (None, "<http://e/g>")
        for i in range(3)
        for v in ("x", "y")
    ]

    def fmt(q):
        g, s, p, o = q
        return f"{s} {p} {o} {g} ." if g else f"{s} {p} {o} ."

    for trial in range(12):
        model = set(rng.sample(quads_pool, rng.randint(0, 6)))
        store_rows = sorted(model, key=lambda q: (q[0] or "", q[1], q[3]))
        ops = []
        m = set(model)
        for _ in range(rng.randint(1, 14)):
            q = rng.choice(quads_pool)
            if rng.random() < 0.5:
                if q not in m:
                    ops.append(("A", q)); m.add(q)
            else:
                if q in m:
                    ops.append(("D", q)); m.discard(q)

        df = spark.createDataFrame(
            store_rows or [], "graph string, subj string, pred string, obj string"
        )
        # path 1: text patch through apply_patch
        text = "TX .\n" + "".join(f"{c} {fmt(q)}\n" for c, q in ops) + "TC .\n"
        got = {
            (r["graph"], r["subj"], r["pred"], r["obj"])
            for r in apply_patch(df, text).collect()
        }
        assert got == m, (trial, "apply_patch", sorted(ops))

        # path 2: seq-tagged micro-batch through the partitioned sink
        target = str(tmp_path / f"store{trial}")
        df.withColumn(
            "p_part", F.pmod(F.xxhash64(F.col("pred")), F.lit(4)).cast("int")
        ).write.mode("overwrite").partitionBy("p_part").parquet(target)
        batch = spark.createDataFrame(
            [(c, q[0], q[1], q[2], q[3], i) for i, (c, q) in enumerate(ops)],
            "op string, graph string, subj string, pred string, obj string, seq long",
        )
        apply_patch_batch(target, n_parts=4)(batch, trial)
        try:
            got2 = {
                (r["graph"], r["subj"], r["pred"], r["obj"])
                for r in spark.read.parquet(target)
                .select("graph", "subj", "pred", "obj")
                .collect()
            }
        except Exception:
            got2 = set()  # store fully emptied: all partition dirs removed
        assert got2 == m, (trial, "apply_patch_batch", sorted(ops))


def test_stray_root_file_does_not_lose_rows(spark, tmp_path):
    """A non-parquet file in the store root next to the p_part= dirs
    must never make the sink rewrite a touched partition as if the store
    were empty: the second batch either keeps the first batch's quad or
    raises with the store unchanged."""
    from jena_spark.streaming import QUAD_STORE_SCHEMA, apply_patch_batch

    store = str(tmp_path / "quads")
    apply = apply_patch_batch(store, n_parts=4)
    schema = ("seq long, op string, graph string, subj string, "
              "pred string, obj string")
    a = (None, "<http://e/a>", "<http://e/p>", '"v1"')
    b = (None, "<http://e/b>", "<http://e/p>", '"v2"')

    def quads():
        return {tuple(r) for r in spark.read.schema(QUAD_STORE_SCHEMA)
                .parquet(store).select("graph", "subj", "pred", "obj")
                .collect()}

    apply(spark.createDataFrame([(1, "A") + a], schema), 0)
    with open(os.path.join(store, "notes.txt"), "w") as f:
        f.write("not a parquet file\n")
    # same predicate → same p_part, so the first quad's partition is
    # read and rewritten
    try:
        apply(spark.createDataFrame([(1, "A") + b], schema), 1)
    except Exception:
        assert quads() == {a}
    else:
        assert quads() == {a, b}


def test_patch_batch_without_seq_raises(spark, tmp_path):
    """Op order is what makes the last-op-wins fold correct: a batch
    without ``seq`` is rejected before the store is touched."""
    from jena_spark.streaming import apply_patch_batch

    store = str(tmp_path / "quads")
    batch = spark.createDataFrame(
        [("A", None, "<http://e/a>", "<http://e/p>", '"v1"')],
        "op string, graph string, subj string, pred string, obj string")
    with pytest.raises(ValueError, match="seq"):
        apply_patch_batch(store, n_parts=4)(batch, 0)
    assert not os.path.exists(store)


def test_crashed_sidecar_write_leaves_store_readable(spark, tmp_path, monkeypatch):
    """A crash between the sidecar's temp write and its os.replace
    leaves the temp file inside the p_part store.  Its ``_`` prefix
    keeps it out of Spark's file listing, so the store reads the same
    rows, and the sidecar keeps its last complete version."""
    import glob
    import json
    import os

    from jena_spark.materialize import atomic_write_json
    from jena_spark.streaming import apply_patch_batch

    store = str(tmp_path / "quads")
    apply_patch_batch(store, n_parts=4)(spark.createDataFrame(
        [(1, "A", None, "<http://e/a>", "<http://e/p>", '"v1"'),
         (2, "A", None, "<http://e/b>", "<http://e/q>", '"v2"')],
        "seq long, op string, graph string, subj string, pred string, obj string",
    ), 0)
    before = _store_quads(spark, store)
    meta_path = os.path.join(store, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)

    def killed(*_args):
        raise RuntimeError("killed before os.replace")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", killed)
        m.setattr(os, "unlink", lambda _path: None)  # a kill cleans nothing up
        with pytest.raises(RuntimeError):
            atomic_write_json(meta_path, {**meta, "has_cdt": True})
    leftovers = [p for p in glob.glob(os.path.join(store, "*"))
                 if os.path.isfile(p) and p != meta_path]
    assert len(leftovers) == 1
    assert os.path.basename(leftovers[0]).startswith("_")
    assert _store_quads(spark, store) == before
    with open(meta_path) as f:
        assert json.load(f) == meta


def test_apply_patch_batch_job_ceiling(spark, tmp_path, jobs_of):
    """One batch of 100 adds and 100 deletes over 8 predicates and 16
    partitions: the touched partitions and the CDT flag are observed
    while the delta is pinned, and the partitions left after the
    rewrite while the result is pinned (14 jobs with those read by side
    queries)."""
    from jena_spark.streaming import apply_patch_batch

    store = str(tmp_path / "store")
    apply = apply_patch_batch(store, n_parts=16)

    def batch(ops):
        return spark.createDataFrame(
            [(i, op, None, s, p, o) for i, (op, s, p, o) in enumerate(ops)],
            "seq long, op string, graph string, subj string, pred string, obj string",
        )

    def quad(s, i):
        return (f"<http://e/{s}{i}>", f"<http://e/p{i % 8}>", f'"{s}{i}"')

    apply(batch([("A",) + quad("s", i) for i in range(200)]), 0)
    ops = [("A",) + quad("n", i) for i in range(100)]
    ops += [("D",) + quad("s", i) for i in range(0, 200, 2)]
    n = jobs_of(lambda: apply(batch(ops), 1))
    assert n <= 10, n
    want = {quad("s", i) for i in range(1, 200, 2)} | {quad("n", i) for i in range(100)}
    assert {q[1:] for q in _store_quads(spark, store)} == want
