"""Structured Streaming surface.

The reference is pull/push streaming with NO event-time semantics
(SURVEY.md §2.9): StreamRDF push pipelines, AsyncParser (parser thread +
bounded queue, riot/system/AsyncParser.java:293-346) and the RDF Patch
change stream (jena-rdfpatch/.../RDFChanges.java).  The Spark-native
equivalents:

- :func:`stream_extract` — ``readStream`` over arriving source-file
  batches → the same Arrow parse UDF → ``writeStream`` of triples.
  AsyncParser's bounded-queue backpressure is Structured Streaming's
  micro-batch admission control (``maxFilesPerTrigger``).
- :func:`stream_predicate_counts` — incremental aggregation (counts per
  predicate) with a processing-time watermark — the "load monitor"
  analog of the reference's ProgressMonitorOutput ticks.
- :func:`patch_ops_stream` + :func:`apply_patch_batch` — RDF Patch
  documents stream in, parse to ordered (op, quad) rows (rdfpatch.py,
  aborted transactions dropped), and fold into a parquet-backed store
  with the same delta-shaped set operations as SPARQL Update.
- :func:`stream_dedup_stateful` — cross-micro-batch exact dedup as a
  custom stateful operator (``applyInPandasWithState``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import TRIPLES_SCHEMA, extract_triples, detect
from .sources import SOURCE_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming triples DF from a directory of arriving parquet source
    files (same schema as the batch input table)."""
    files = (
        spark.readStream.schema(SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return extract_triples(detect(files)).filter(F.col("error").isNull()).drop("error")


def stream_predicate_counts(triples_stream: DataFrame) -> DataFrame:
    """Incremental predicate histogram with an ingest-time watermark —
    demonstrates watermark + windowed aggregation over the triple stream."""
    with_ts = triples_stream.withColumn("ingest_ts", F.current_timestamp())
    return (
        with_ts.withWatermark("ingest_ts", "10 seconds")
        .groupBy(F.window("ingest_ts", "10 seconds").start.alias("win"), "pred")
        .agg(F.count("*").alias("n_triples"))
    )


def run_stream_to_parquet(
    triples_stream: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain all currently-available input (Trigger.AvailableNow) into a
    parquet sink with exactly-once checkpointing, then stop."""
    q = (
        triples_stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def patch_ops_stream(patches: DataFrame, text_col: str = "patch") -> DataFrame:
    """RDF Patch DOCUMENTS (one text per row) → their committed A/D quad
    ops, in order: (seq, op, graph, subj, pred, obj).  The streaming
    bridge between jena-rdfpatch change logs and the quad-store appliers
    below (rdfpatch.parse_patch handles TX/TC/TA — aborted transactions
    contribute nothing).  Arrow-batched; works on static and streaming
    DataFrames alike.

    ``seq`` preserves op ORDER: strictly increasing within each patch
    document (and across documents of one input partition), so the
    applier can fold ordered A/D runs — a quad added then deleted in
    one micro-batch ends up absent, exactly like rdfpatch.apply_patch.
    Across partitions the order is positional (concurrent change logs
    have no global order), matching RDFChanges stream semantics."""
    schema = (
        "seq long, op string, graph string, subj string, pred string, obj string"
    )

    def expand(batches):
        import pandas as pd
        from pyspark import TaskContext

        from .rdfpatch import parse_patch

        ctx = TaskContext.get()
        base = (ctx.partitionId() if ctx is not None else 0) << 40
        seq = 0
        for pdf in batches:
            rows = []
            for text in pdf[text_col]:
                for code, (g, s, p, o) in parse_patch(text).ops:
                    rows.append((base + seq, code, g, s, p, o))
                    seq += 1
            yield pd.DataFrame(
                rows, columns=["seq", "op", "graph", "subj", "pred", "obj"]
            )

    return patches.mapInPandas(expand, schema)


QUAD_STORE_SCHEMA = "graph string, subj string, pred string, obj string, p_part int"


def apply_patch_batch(target_dir: str, n_parts: int = 16):
    """foreachBatch function applying an RDF-Patch-style (seq, op, graph,
    subj, pred, obj) micro-batch to a parquet quad store partitioned by
    ``p_part = pmod(xxhash64(pred), n_parts)``.  (RDFChanges.add/delete
    parity; txn markers map to micro-batch boundaries, atomic per sink
    commit.)

    Order-correct: per quad, only the LAST op in the batch decides final
    membership (max_by(op, seq)) — an A…D run of the same quad within
    one micro-batch ends up deleted, exactly like the ordered run
    coalescing in rdfpatch.apply_patch.  A batch without a ``seq``
    column raises ``ValueError``: op order is what makes the fold
    correct, and :func:`patch_ops_stream` always emits it.

    SUB-LINEAR in |store|: the delta's touched ``p_part`` values are
    observed while the delta is pinned (≤ n_parts, driver-small), only
    those partitions are read
    (parquet partition pruning), and only those partitions are rewritten
    via dynamic partition overwrite — untouched partition files are
    never opened or replaced.  At real scale the same shape is an
    Iceberg MERGE over a predicate-bucketed table; n_parts scales with
    the cluster (here 16 for local tests).  The store is read with the
    fixed :data:`QUAD_STORE_SCHEMA` (no footer inference) and only when
    its directory exists; a read error propagates instead of being taken
    for an empty store.  Only ``p_part``-partitioned stores written by
    this sink are supported: a store with parquet files in its root and
    no ``p_part=`` directories reads them as ``p_part = null``, so their
    rows are hidden once the first batch writes its partitions."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        import os

        from .cdt import cdt_term_cond
        from .materialize import atomic_write_json
        from .ops.update import _minus, _union
        from .pinning import overwrite_partitions, pin

        if "seq" not in batch.columns:
            raise ValueError(
                "patch batch has no 'seq' column: op order is required "
                "(patch_ops_stream emits it)"
            )
        spark = batch.sparkSession
        part = F.pmod(F.xxhash64(F.col("pred")), F.lit(n_parts)).cast("int")
        # last op per quad decides membership after this batch; the
        # touched partitions and whether the delta adds a CDT literal are
        # observed in the same pass
        last, summary = pin(
            batch.groupBy("graph", "subj", "pred", "obj")
            .agg(F.max_by("op", "seq").alias("op"))
            .withColumn("p_part", part),
            touched=F.collect_set("p_part"),
            adds_cdt=F.bool_or(
                (F.col("op") == "A") & cdt_term_cond(("subj", "obj"))
            ),
        )
        touched = summary["touched"]
        if not touched:
            last.unpersist()
            return
        adds = last.filter(F.col("op") == "A").drop("op")
        dels = last.filter(F.col("op") == "D").drop("op")

        quad_cols = ["graph", "subj", "pred", "obj"]
        exists = os.path.isdir(target_dir)
        if exists:
            cur = spark.read.schema(QUAD_STORE_SCHEMA).parquet(target_dir)
        else:
            cur = spark.createDataFrame([], QUAD_STORE_SCHEMA)
        cur = cur.filter(F.col("p_part").isin(touched)).select(*quad_cols)
        nxt = _union(
            _minus(cur, dels.select(*quad_cols)),
            adds.select(*quad_cols),
            known_small=True,
            pre_deduped=True,
        ).withColumn("p_part", part)
        # a touched partition whose quads were ALL deleted loses its
        # directory (the Iceberg MERGE analog does this through the
        # catalog)
        overwrite_partitions(nxt, target_dir, touched)
        # keep the store's CDT flag fresh (ops/sparql._meta_has_cdt
        # trusts it): OR in the delta's CDT presence — the check is
        # delta-sized, never a store scan.  Deletes only ever leave a
        # conservative true, which costs a pessimized plan, never a wrong
        # answer.
        import json

        # "_"-prefixed so Spark's parquet reader skips it (the sidecar
        # lives NEXT TO the p_part= dirs)
        meta_path = os.path.join(target_dir, "_meta.json")
        try:
            with open(meta_path) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            # ValueError/JSONDecodeError: a crash mid-write left a
            # truncated sidecar — treat as missing rather than failing
            # every subsequent micro-batch
            meta = None
        if meta is None:
            # a pre-existing store with no meta must NOT get a flag derived
            # from this delta alone (its old rows are unknown) — only a
            # store this sink created from scratch starts at has_cdt=False
            meta = {"layout": "quads", "n_partitions": n_parts}
            if exists:
                meta["has_cdt"] = None
            else:
                meta["has_cdt"] = False
        if meta.get("has_cdt") is False:
            meta["has_cdt"] = bool(summary["adds_cdt"])
        atomic_write_json(meta_path, meta)
        last.unpersist()  # thousands of micro-batches would otherwise
        # pin one checkpointed RDD each until GC

    return apply


def stream_dedup_stateful(
    docs_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-micro-batch exact deduplication as a CUSTOM STATEFUL
    operator (``applyInPandasWithState``): the state per content hash is
    a seen-marker, so only the FIRST document with a given content ever
    reaches the sink — across triggers and across restarts (state lives
    in the checkpoint).

    This is the streaming analog of ``pipelines.dedup.dedup_exact`` and
    the Spark-native replacement for a reference-style stateful
    StreamRDF wrapper (riot/system/StreamRDFCountingBase.java keeps
    running state the same way).  Scale: state is hash-partitioned by
    key (RocksDB/HDFS state store on a cluster); per-key state is one
    boolean, so the store grows with DISTINCT content only."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = docs_stream.select(
        F.md5(F.col(text_col)).alias("content_md5"),
        F.col(id_col).cast("long").alias("keep_id"),
        F.col(text_col).alias("text"),
    )

    out_type = "content_md5 string, keep_id long, text string"
    state_type = "seen int"

    def first_only(key, pdfs, state):
        import pandas as pd

        if state.exists:
            return  # content already emitted in an earlier batch
        # one key's micro-batch may arrive as SEVERAL pandas chunks —
        # track the running minimum across ALL of them so the emitted
        # representative matches the batch analog (min id per hash)
        best = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            row = pdf.nsmallest(1, "keep_id")[["content_md5", "keep_id", "text"]]
            if best is None or row["keep_id"].iloc[0] < best["keep_id"].iloc[0]:
                best = row
        if best is not None:
            state.update((1,))
            yield best

    return keyed.groupBy("content_md5").applyInPandasWithState(
        first_only,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
