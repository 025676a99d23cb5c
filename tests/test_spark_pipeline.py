"""Spark-side pipeline tests: extraction determinism, node table,
materialization, checkpoint/resume, streaming."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from jena_spark.sources import synth_source_files, source_files_from_documents
from jena_spark.extract import detect, extract_triples, run_extraction, lineage
from jena_spark.nodetable import build_node_table, encode_triples, decode_triples
from jena_spark.materialize import (
    ENC_PERMUTATIONS,
    choose_index_encoded,
    materialize_encoded,
    p_part_column,
    p_part_targets,
    rebalance_hot_partitions,
    term_hashes,
)
from jena_spark.checkpoint import CheckpointedExtraction

N_FILES = 400


@pytest.fixture(scope="module")
def files(spark):
    return synth_source_files(spark, N_FILES).cache()


@pytest.fixture(scope="module")
def triples(spark, files):
    return run_extraction(files).cache()


def test_extraction_deterministic_across_partitionings(spark, files, triples):
    """North rule: identical triple set no matter the parallelism/layout
    (skolem labels are document-seeded, not partition-dependent)."""
    t1 = sorted(triples.select("subj", "pred", "obj").collect())
    t8 = sorted(
        run_extraction(files.repartition(8)).select("subj", "pred", "obj").collect()
    )
    assert t1 == t8 and len(t1) > 0


def test_negative_docs_yield_zero_triples(spark, files):
    te = extract_triples(detect(files))
    bad = te.filter(F.col("path").startswith("src/bad/"))
    assert bad.filter(F.col("error").isNull()).count() == 0
    assert bad.filter(F.col("error").isNotNull()).count() > 0


def test_non_rdf_filtered_before_udf(spark, files):
    detected = detect(files)
    assert detected.filter(F.col("path").endswith(".py")).count() == 0


def test_lineage_sha_and_counts(spark, files):
    te = extract_triples(detect(files))
    lin = lineage(files, te)
    row = lin.filter(F.col("triples_out") > 0).first()
    assert len(row["content_sha256"]) == 64
    # every input row appears exactly once
    assert lin.count() == files.count()
    assert lin.select("repo", "path", "commit").distinct().count() == files.count()


def test_node_table_dense_unique_deterministic(spark, triples):
    nt1 = build_node_table(triples, dense=True)
    n = nt1.count()
    agg = nt1.agg(
        F.countDistinct("node_id").alias("ids"),
        F.min("node_id").alias("mn"),
        F.max("node_id").alias("mx"),
    ).first()
    assert agg["ids"] == n and agg["mn"] == 0 and agg["mx"] == n - 1
    # deterministic across input partitioning
    nt2 = build_node_table(triples.repartition(16), dense=True)
    assert nt1.exceptAll(nt2).count() == 0 and nt2.exceptAll(nt1).count() == 0


def test_node_table_hash_ids_unique_and_joinfree(spark, triples):
    from jena_spark.nodetable import assert_ids_unique

    nt = build_node_table(triples)  # hash mode
    assert_ids_unique(nt)
    # inline encode (no node table join) agrees with the dictionary
    tri = triples.select("subj", "pred", "obj")
    enc = encode_triples(tri)
    joined = tri
    for col, idc in (("subj", "s_id"), ("pred", "p_id"), ("obj", "o_id")):
        ids = nt.withColumnRenamed("term", col).withColumnRenamed("node_id", idc)
        joined = joined.join(ids, col, "left").drop(col)
    assert enc.exceptAll(joined).count() == 0 and joined.exceptAll(enc).count() == 0


def test_encode_decode_roundtrip(spark, triples):
    nt = build_node_table(triples)
    enc = encode_triples(triples.select("subj", "pred", "obj"))
    assert enc.filter(
        F.col("s_id").isNull() | F.col("p_id").isNull() | F.col("o_id").isNull()
    ).count() == 0
    dec = decode_triples(enc, nt).select("subj", "pred", "obj")
    orig = triples.select("subj", "pred", "obj")
    assert dec.exceptAll(orig).count() == 0 and orig.exceptAll(dec).count() == 0


def test_materialize_permutations_sorted_and_equal(spark, triples, tmp_path):
    out = str(tmp_path / "enc")
    paths = materialize_encoded(
        triples.select("graph", "subj", "pred", "obj"), out, n_partitions=4
    )
    # the three permutations hold the same id rows, with set semantics
    ids = ["g_id", "s_id", "p_id", "o_id"]
    spo = spark.read.parquet(paths["spo"]).select(*ids)
    for perm in ("pos", "osp"):
        other = spark.read.parquet(paths[perm]).select(*ids)
        assert spo.exceptAll(other).count() == 0
        assert other.exceptAll(spo).count() == 0
    assert spo.count() == spo.distinct().count() > 0
    # index selection picks the right table and returns the right rows
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    (type_id,) = term_hashes(spark, [rdf_type])
    got = choose_index_encoded(spark, out, p=rdf_type).count()
    want = spo.filter(F.col("p_id") == type_id).count()
    assert got == want > 0


def test_materialize_encoded_roundtrip(spark, triples, tmp_path):
    out = str(tmp_path / "enc")
    paths = materialize_encoded(
        triples.select("graph", "subj", "pred", "obj"), out, n_partitions=4
    )
    assert set(paths) == {"nodes", "spo", "pos", "osp"}
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    got = choose_index_encoded(spark, out, p=rdf_type)
    want = (
        triples.filter(F.col("pred") == rdf_type)
        .select("subj", "pred", "obj").distinct()
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() == want.count() > 0


def test_choose_index_encoded_survives_torn_meta(spark, triples, tmp_path):
    """A meta.json truncated by a crash falls back to the unpruned scan:
    the predicate-bound lookup returns the same rows as with a valid
    sidecar instead of failing."""
    out = str(tmp_path / "enc")
    materialize_encoded(
        triples.select("graph", "subj", "pred", "obj"), out, n_partitions=4
    )
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    def lookup():
        return sorted(tuple(r) for r in
                      choose_index_encoded(spark, out, p=rdf_type).collect())

    want = lookup()
    meta = os.path.join(out, "meta.json")
    with open(meta) as f:
        text = f.read()
    with open(meta, "w") as f:
        f.write(text[: len(text) // 2])
    assert lookup() == want and want


def test_salting_spreads_hot_predicate(spark, triples, tmp_path):
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    label = "<http://bench.example/label>"
    out = str(tmp_path / "enc")
    materialize_encoded(
        triples.select("subj", "pred", "obj"), out, n_partitions=16, n_salts=8
    )
    spo = spark.read.parquet(os.path.join(out, "spo"))
    hot_id, cold_id = term_hashes(spark, [rdf_type, label])

    def n_parts(p_id):
        return (
            spo.filter(F.col("p_id") == p_id).select("p_part").distinct().count()
        )

    assert n_parts(hot_id) >= 4  # spread over salt buckets
    assert n_parts(cold_id) == 1  # non-hot predicates stay co-located


def test_checkpoint_resume(spark, files, tmp_path):
    work = str(tmp_path / "ck")
    ck = CheckpointedExtraction(spark, work)
    half = files.limit(N_FILES // 2)
    n1 = ck.run(half)
    assert n1 == N_FILES // 2
    # resume over the full input: only the remainder is processed
    n2 = ck.run(files)
    assert n2 == N_FILES - n1
    # third run: nothing left
    assert ck.run(files) == 0
    # the checkpointed result equals a fresh full run
    full = run_extraction(files).select("subj", "pred", "obj")
    ckt = ck.triples().select("subj", "pred", "obj")
    assert full.exceptAll(ckt).count() == 0 and ckt.exceptAll(full).count() == 0


def test_checkpoint_crash_between_writes(spark, files, tmp_path):
    """A batch that wrote triples but died before its commit marker must be
    invisible (no duplicate triples) and re-extracted on the next run."""
    import os

    work = str(tmp_path / "ck2")
    ck = CheckpointedExtraction(spark, work)
    half = files.limit(N_FILES // 2)
    # simulate the crash: triples land under an uncommitted run dir
    from jena_spark.extract import detect, extract_triples

    orphan = os.path.join(ck.triples_dir, "run=deadbeef")
    extract_triples(detect(half)).filter(F.col("error").isNull()).drop(
        "error"
    ).write.parquet(orphan)
    assert ck.done_markers() is None  # nothing committed yet
    # full run after the crash: everything is (re-)processed exactly once
    assert ck.run(files) == N_FILES
    full = run_extraction(files).select("subj", "pred", "obj")
    ckt = ck.triples().select("subj", "pred", "obj")
    assert full.exceptAll(ckt).count() == 0 and ckt.exceptAll(full).count() == 0


def test_streaming_extraction(spark, tmp_path):
    from jena_spark.streaming import stream_extract, run_stream_to_parquet

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckp = str(tmp_path / "ckp")
    batch = synth_source_files(spark, 100)
    batch.write.parquet(src)
    tri_stream = stream_extract(spark, src)
    assert tri_stream.isStreaming
    run_stream_to_parquet(tri_stream, out, ckp)
    got = spark.read.parquet(out).select("subj", "pred", "obj")
    want = run_extraction(batch).select("subj", "pred", "obj")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_node_id_collision_audit(spark, tmp_path):
    """materialize_encoded must run the id-uniqueness audit by default:
    a synthetic collision (forced via a poisoned node table) fails the
    build loudly instead of silently merging two graph nodes."""
    from jena_spark.materialize import materialize_encoded

    tri = spark.createDataFrame(
        [("<a>", "<p>", "<b>"), ("<c>", "<p>", "<d>")],
        ["subj", "pred", "obj"],
    )
    poisoned = spark.createDataFrame(
        [("<a>", 1), ("<b>", 1), ("<c>", 2), ("<d>", 3), ("<p>", 4)],
        ["term", "node_id"],
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="collision"):
        materialize_encoded(tri, str(tmp_path / "enc"), node_table=poisoned)
    # clean table passes (audit on by default)
    out = materialize_encoded(tri, str(tmp_path / "enc2"))
    assert "spo" in out


def test_stream_dedup_stateful_across_triggers(spark, tmp_path):
    """applyInPandasWithState keeps per-content state in the checkpoint:
    a duplicate arriving in a LATER micro-batch (even a later run) is
    suppressed."""
    import os
    from jena_spark.streaming import stream_dedup_stateful

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def run_available():
        stream = (
            spark.readStream.schema("doc_id long, text string").parquet(src)
        )
        q = (
            stream_dedup_stateful(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(src)
    run_available()
    # second batch: one duplicate of an earlier batch, one new
    spark.createDataFrame(
        [(4, "alpha"), (5, "gamma")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(src)
    run_available()

    got = {r["text"]: r["keep_id"] for r in spark.read.parquet(out).collect()}
    assert got == {"alpha": 1, "beta": 2, "gamma": 5}


def test_stream_dedup_multichunk_min(spark, tmp_path):
    """One key's micro-batch split across several Arrow chunks must still
    emit the batch-global minimum id (maxRecordsPerBatch=1 forces one
    row per pandas chunk; the min arrives LAST)."""
    import os
    from jena_spark.streaming import stream_dedup_stateful

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        spark.createDataFrame(
            [(9, "alpha"), (5, "alpha"), (1, "alpha")], ["doc_id", "text"]
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            stream_dedup_stateful(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = [(r["keep_id"], r["text"]) for r in spark.read.parquet(out).collect()]
    assert got == [(1, "alpha")]


def test_dense_node_table_rejected_by_store(spark, tmp_path):
    """The permutations carry hash ids, so a dense dictionary could never
    decode them (every lookup would return zero rows): the build fails
    loudly instead of leaving such a store."""
    tri = spark.createDataFrame(
        [("<a>", "<p>", "<b>"), ("<c>", "<p>", "<d>")],
        ["subj", "pred", "obj"],
    )
    with pytest.raises(RuntimeError, match="not the hash ids"):
        materialize_encoded(
            tri, str(tmp_path / "enc"), node_table=build_node_table(tri, dense=True)
        )


HOT_PRED = "<http://e/hot>"


def _skewed_store(spark, out):
    """A store built WITHOUT salting over one dominant predicate, which
    therefore lands in one fat partition."""
    rows = [
        (f"<http://e/s{i}>", HOT_PRED, f"<http://e/o{i % 7}>")
        for i in range(2000)
    ]
    rows += [
        (f"<http://e/s{i}>", f"<http://e/p{j}>", f'"v{i}"')
        for i in range(10)
        for j in range(12)
    ]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    materialize_encoded(tri, out, n_partitions=16, n_salts=4, hot_predicates=())


def _perm_rows(spark, out, perm):
    return {
        (r["s_id"], r["p_id"], r["o_id"])
        for r in spark.read.parquet(os.path.join(out, perm)).collect()
    }


def _hot_parts(spark, out, perm, hot_id):
    return {
        r["p_part"]
        for r in spark.read.parquet(os.path.join(out, perm))
        .filter(F.col("p_id") == hot_id).select("p_part").distinct().collect()
    }


def _read_meta(out):
    with open(os.path.join(out, "meta.json")) as f:
        return json.load(f)


def _assert_one_salting_rule(spark, out):
    """Every row of every permutation sits in the partition the store's
    salting rule gives its ids, and inside the partition-target set of
    its predicate, which holds one partition for a cold predicate and at
    most ``n_salts`` for a hot one."""
    meta = _read_meta(out)
    targets = F.array_distinct(F.array(*p_part_targets(F.col("p_id"), meta)))
    cap = F.when(F.col("p_id").isin(meta["hot_predicate_ids"]), meta["n_salts"])
    for perm in ENC_PERMUTATIONS:
        df = spark.read.parquet(os.path.join(out, perm))
        assert df.count() > 0, perm
        assert df.filter(F.col("p_part") != p_part_column(meta)).count() == 0, perm
        assert df.filter(
            ~F.array_contains(targets, F.col("p_part"))
            | (F.size(targets) > cap.otherwise(1))
        ).count() == 0, perm


def test_one_salting_rule_places_every_row(spark, triples, tmp_path):
    out = str(tmp_path / "enc")
    materialize_encoded(
        triples.select("graph", "subj", "pred", "obj"), out,
        n_partitions=16, n_salts=8,
    )
    _assert_one_salting_rule(spark, out)
    skewed = str(tmp_path / "skewed")
    _skewed_store(spark, skewed)
    _assert_one_salting_rule(spark, skewed)
    assert rebalance_hot_partitions(spark, skewed, skew_factor=2.5)[
        "detected_hot_ids"
    ]
    _assert_one_salting_rule(spark, skewed)


def test_rebalance_hot_partitions_detects_and_repairs_skew(spark, tmp_path):
    """Post-write skew repair: detection from p_part directory FILE
    SIZES (no data scan), diagnosis partition-pruned to the fat
    partitions, repair rewriting only the affected partitions —
    untouched partition files stay byte-identical."""
    out = str(tmp_path / "enc")
    _skewed_store(spark, out)
    (hot_id,) = term_hashes(spark, [HOT_PRED])

    def part_files(perm):
        files = {}
        base = os.path.join(out, perm)
        for d in os.listdir(base):
            if d.startswith("p_part="):
                k = int(d.split("=", 1)[1])
                for f in sorted(os.listdir(os.path.join(base, d))):
                    if f.endswith(".parquet"):
                        with open(os.path.join(base, d, f), "rb") as fh:
                            files.setdefault(k, []).append(fh.read())
        return files

    before = {perm: _perm_rows(spark, out, perm) for perm in ENC_PERMUTATIONS}
    files_before = part_files("spo")
    hot_part_before = _hot_parts(spark, out, "spo", hot_id)
    assert len(hot_part_before) == 1  # unsalted: one fat partition

    res = rebalance_hot_partitions(spark, out, skew_factor=2.5)
    assert res["detected_hot_ids"] == [hot_id]
    affected = set(res["partitions_rewritten"])
    assert hot_part_before <= affected

    # rows preserved exactly, in every permutation
    for perm in ENC_PERMUTATIONS:
        assert _perm_rows(spark, out, perm) == before[perm], perm
    # the hot predicate now spans multiple partitions
    assert len(_hot_parts(spark, out, "spo", hot_id)) > 1
    # untouched partitions were never rewritten (byte-identical files)
    files_after = part_files("spo")
    for k, blobs in files_before.items():
        if k not in affected:
            assert files_after.get(k) == blobs, k
    # meta now carries the detected id, and the pruned index read still
    # returns every hot-predicate triple
    got = choose_index_encoded(spark, out, p=HOT_PRED)
    assert got.count() == 2000
    # idempotent: a second pass detects nothing new
    res2 = rebalance_hot_partitions(spark, out, skew_factor=2.5)
    assert res2["detected_hot_ids"] == []


def test_materialize_encoded_job_ceiling(spark, tmp_path, jobs_of):
    """A store build on the skewed fixture, with every job in the
    caller's job group — also the nodes write, the id audit and the
    permutation writes that run on the build's pool threads."""
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    n = jobs_of(lambda: _skewed_store(spark, str(tmp_path / "enc")))
    assert n <= 12, n
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_choose_index_encoded_job_ceiling(spark, tmp_path, jobs_of):
    """A predicate-bound lookup on the skewed store, hot and cold."""
    out = str(tmp_path / "enc")
    _skewed_store(spark, out)
    for p, n_rows in ((HOT_PRED, 2000), ("<http://e/p3>", 10)):
        got = []
        n = jobs_of(lambda: got.extend(choose_index_encoded(spark, out, p=p).collect()))
        assert n <= 2, (p, n)
        assert len(got) == n_rows


def test_choose_index_encoded_absent_terms_match_nothing(spark, tmp_path):
    """A bound s, p or o that is not in the store gives no rows — also
    next to bound terms that are."""
    out = str(tmp_path / "enc")
    _skewed_store(spark, out)
    absent = "<http://e/absent>"
    for bound in ({"s": absent}, {"p": absent}, {"o": absent},
                  {"s": "<http://e/s1>", "p": absent},
                  {"p": HOT_PRED, "o": absent}):
        assert choose_index_encoded(spark, out, **bound).collect() == [], bound


def test_choose_index_encoded_all_bound_skips_nodes(spark, tmp_path, jobs_of):
    """All three positions bound: the stored triple comes back (or
    nothing), and the plan never opens the node table."""
    out = str(tmp_path / "enc")
    _skewed_store(spark, out)
    stored = ("<http://e/s3>", "<http://e/p5>", '"v3"')
    for spo, want in ((stored, [stored]),
                      (("<http://e/s3>", "<http://e/p5>", '"v4"'), [])):
        df = choose_index_encoded(spark, out, *spo)
        assert not any("/nodes" in f for f in df.inputFiles()), df.inputFiles()
        got = []
        assert jobs_of(lambda: got.extend(tuple(r) for r in df.collect())) <= 1
        assert got == want


def test_choose_index_encoded_unbound_returns_input(spark, tmp_path):
    """Nothing bound: exactly the distinct input triples."""
    out = str(tmp_path / "enc")
    rows = [("<http://e/a>", "<http://e/p>", '"x"'),
            ("<http://e/a>", "<http://e/q>", "<http://e/b>"),
            ("_:b0", "<http://e/p>", '"y"@en'),
            ("<http://e/a>", "<http://e/p>", '"x"')]
    materialize_encoded(spark.createDataFrame(rows, ["subj", "pred", "obj"]),
                        out, n_partitions=4)
    got = sorted(tuple(r) for r in choose_index_encoded(spark, out).collect())
    assert got == sorted(set(rows))


def test_rebalance_finishes_after_crash(spark, tmp_path, monkeypatch):
    """A rebalance that dies between two permutation rewrites (SPO done,
    POS raising) leaves its in-progress marker in meta.json; the re-run
    rewrites every permutation over the marked partitions, so all three
    end up salted with their rows intact, and clears the marker."""
    from jena_spark import materialize as mat

    out = str(tmp_path / "enc")
    _skewed_store(spark, out)
    (hot_id,) = term_hashes(spark, [HOT_PRED])
    before = {perm: _perm_rows(spark, out, perm) for perm in ENC_PERMUTATIONS}

    rewrite = mat._rewrite_partitions

    def crash_at_pos(spark_, path, *args):
        if os.path.basename(path) == "pos":
            raise RuntimeError("injected crash")
        rewrite(spark_, path, *args)

    monkeypatch.setattr(mat, "_rewrite_partitions", crash_at_pos)
    with pytest.raises(RuntimeError, match="injected crash"):
        rebalance_hot_partitions(spark, out, skew_factor=2.5)
    assert _read_meta(out)["rebalance_in_progress"]["hot_ids"] == [hot_id]
    assert len(_hot_parts(spark, out, "spo", hot_id)) > 1
    assert len(_hot_parts(spark, out, "pos", hot_id)) == 1  # left unsalted

    monkeypatch.setattr(mat, "_rewrite_partitions", rewrite)
    res = rebalance_hot_partitions(spark, out, skew_factor=2.5)
    assert res["detected_hot_ids"] == [hot_id]
    assert "rebalance_in_progress" not in _read_meta(out)
    for perm in ENC_PERMUTATIONS:
        assert _perm_rows(spark, out, perm) == before[perm], perm
        assert len(_hot_parts(spark, out, perm, hot_id)) > 1, perm
    _assert_one_salting_rule(spark, out)
    assert choose_index_encoded(spark, out, p=HOT_PRED).count() == 2000
