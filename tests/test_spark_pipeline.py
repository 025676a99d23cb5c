"""Spark-side pipeline tests: extraction determinism, node table,
materialization, checkpoint/resume, streaming."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from jena_spark.sources import synth_source_files, source_files_from_documents
from jena_spark.extract import detect, extract_triples, run_extraction, lineage
from jena_spark.nodetable import build_node_table, encode_triples, decode_triples
from jena_spark.materialize import materialize, choose_index, with_salted_partition
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
    enc = encode_triples(triples.select("subj", "pred", "obj"))
    joined = encode_triples(triples.select("subj", "pred", "obj"), nt, broadcast=True)
    assert enc.exceptAll(joined).count() == 0 and joined.exceptAll(enc).count() == 0


def test_encode_decode_roundtrip(spark, triples):
    nt = build_node_table(triples, dense=True)
    enc = encode_triples(triples.select("subj", "pred", "obj"), nt, broadcast=True)
    assert enc.filter(
        F.col("s_id").isNull() | F.col("p_id").isNull() | F.col("o_id").isNull()
    ).count() == 0
    dec = decode_triples(enc, nt).select("subj", "pred", "obj")
    orig = triples.select("subj", "pred", "obj")
    assert dec.exceptAll(orig).count() == 0 and orig.exceptAll(dec).count() == 0


def test_materialize_permutations_sorted_and_equal(spark, triples, tmp_path):
    out = str(tmp_path / "mat")
    paths = materialize(triples.select("graph", "subj", "pred", "obj"), out, n_partitions=4)
    spo = spark.read.parquet(paths["spo"]).select("subj", "pred", "obj")
    pos = spark.read.parquet(paths["pos"]).select("subj", "pred", "obj")
    assert spo.exceptAll(pos).count() == 0 and pos.exceptAll(spo).count() == 0
    # set semantics: no duplicate triples
    assert spo.count() == spo.distinct().count()
    # index selection picks the right table and returns the right rows
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    got = choose_index(spark, out, p=rdf_type).count()
    want = spo.filter(F.col("pred") == rdf_type).count()
    assert got == want > 0


def test_materialize_encoded_roundtrip(spark, triples, tmp_path):
    from jena_spark.materialize import materialize_encoded, choose_index_encoded

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
    from jena_spark.materialize import materialize_encoded, choose_index_encoded

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


def test_salting_spreads_hot_predicate(spark, triples):
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    salted = with_salted_partition(
        triples.select("subj", "pred", "obj"), n_partitions=16, n_salts=8
    )
    hot_parts = (
        salted.filter(F.col("pred") == rdf_type)
        .select("p_part").distinct().count()
    )
    cold_parts = (
        salted.filter(F.col("pred") == "<http://bench.example/label>")
        .select("p_part").distinct().count()
    )
    assert hot_parts >= 4  # spread over salt buckets
    assert cold_parts == 1  # non-hot predicates stay co-located


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


def test_rebalance_hot_partitions_detects_and_repairs_skew(spark, tmp_path):
    """Post-write skew repair: detection from p_part directory FILE
    SIZES (no data scan), diagnosis partition-pruned to the fat
    partitions, repair rewriting only the affected partitions —
    untouched partition files stay byte-identical."""
    import os

    from pyspark.sql import functions as F

    from jena_spark.materialize import (
        choose_index_encoded,
        materialize_encoded,
        rebalance_hot_partitions,
    )

    hot_pred = "<http://e/hot>"
    rows = [
        (f"<http://e/s{i}>", hot_pred, f"<http://e/o{i % 7}>")
        for i in range(2000)
    ]
    rows += [
        (f"<http://e/s{i}>", f"<http://e/p{j}>", f'"v{i}"')
        for i in range(10)
        for j in range(12)
    ]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = str(tmp_path / "enc")
    # build WITHOUT salting: the hot predicate lands in one fat partition
    materialize_encoded(
        tri, out, n_partitions=16, n_salts=4, hot_predicates=()
    )
    hot_id = (
        spark.createDataFrame([(hot_pred,)], ["t"])
        .select(F.xxhash64("t").alias("h")).collect()[0]["h"]
    )

    def perm_rows(perm):
        return {
            (r["s_id"], r["p_id"], r["o_id"])
            for r in spark.read.parquet(os.path.join(out, perm)).collect()
        }

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

    before = {perm: perm_rows(perm) for perm in ("spo", "pos", "osp")}
    files_before = part_files("spo")
    hot_part_before = {
        r["p_part"]
        for r in spark.read.parquet(os.path.join(out, "spo"))
        .filter(F.col("p_id") == hot_id).select("p_part").distinct().collect()
    }
    assert len(hot_part_before) == 1  # unsalted: one fat partition

    res = rebalance_hot_partitions(spark, out, skew_factor=2.5)
    assert res["detected_hot_ids"] == [hot_id]
    affected = set(res["partitions_rewritten"])
    assert hot_part_before <= affected

    # rows preserved exactly, in every permutation
    for perm in ("spo", "pos", "osp"):
        assert perm_rows(perm) == before[perm], perm
    # the hot predicate now spans multiple partitions
    hot_parts_after = {
        r["p_part"]
        for r in spark.read.parquet(os.path.join(out, "spo"))
        .filter(F.col("p_id") == hot_id).select("p_part").distinct().collect()
    }
    assert len(hot_parts_after) > 1
    # untouched partitions were never rewritten (byte-identical files)
    files_after = part_files("spo")
    for k, blobs in files_before.items():
        if k not in affected:
            assert files_after.get(k) == blobs, k
    # meta now carries the detected id, and the pruned index read still
    # returns every hot-predicate triple
    got = choose_index_encoded(spark, out, p=hot_pred)
    assert got.count() == 2000
    # idempotent: a second pass detects nothing new
    res2 = rebalance_hot_partitions(spark, out, skew_factor=2.5)
    assert res2["detected_hot_ids"] == []
