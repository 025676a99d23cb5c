"""Dictionary-encoded node table — the TDB2 NodeTable re-expressed.

Reference behavior (tdb2/store/nodetable/NodeTableNative.java:42-170):
a synchronized two-way map term↔64-bit id; ids are NOT dense — they are
byte offsets into the term file.

Spark design:
- **hash ids (the store's id scheme)**: ``node_id = xxhash64(term)``
  (:func:`term_id`) — deterministic, mintable with ZERO shuffles (any
  partition of any run mints the same id), which is what makes the
  pipeline checkpoint-resumable and lets encode run without joins.
  Faithful to the reference in spirit (ids are opaque 64-bit keys, not
  ranks).  Collision odds at 10^9 distinct terms ≈ 2.7e-2 cumulative
  birthday bound, so every store build runs the uniqueness audit
  (:func:`assert_ids_unique`).
- **dense ids (optional)**: rank-based 0..N-1 ids via bucketed window —
  needed only when downstream wants array-indexable ids;
  costs one extra shuffle of the distinct-term set.  The encoded store
  cannot read them (its permutations are keyed by hash ids).
- triples encode inline (:func:`encode_triples`): each id is the hash
  of its term, so encoding never joins the node table.  For the same
  reason a store lookup binds a known term as the id expression
  ``term_id(lit(term))``, which Catalyst folds to a constant — the one
  id rule, evaluated in the JVM, with no node-table join and no
  driver-side copy of the hash.  Only decode (:func:`decode_triples`)
  joins the node table, at the sink, and only for the id columns that
  are still unknown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_terms(triples: DataFrame) -> DataFrame:
    """Distinct terms over (subj, pred, obj [, graph]) — single pass via
    explode (one scan of the input, one hash-distinct shuffle)."""
    cols = ["subj", "pred", "obj"]
    if "graph" in triples.columns:
        terms = triples.select(
            F.explode(F.array("subj", "pred", "obj", "graph")).alias("term")
        ).filter(F.col("term").isNotNull())
    else:
        terms = triples.select(F.explode(F.array(*cols)).alias("term"))
    return terms.distinct()


def term_id(col):
    """The store's node id of a term column: ``xxhash64(term)``."""
    return F.xxhash64(col)


def build_node_table(triples: DataFrame, dense: bool = False) -> DataFrame:
    """(term, node_id) dictionary.  Default: shuffle-free hash ids.
    ``dense=True``: deterministic 0..N-1 ids (rank by term within hash
    buckets + bucket offsets) — one extra shuffle + a tiny broadcast."""
    terms = distinct_terms(triples)
    if not dense:
        return terms.select("term", term_id(F.col("term")).alias("node_id"))

    nbuckets = 1024
    bucketed = terms.withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(nbuckets)))
    w = Window.partitionBy("bucket").orderBy("term")
    local = bucketed.withColumn("local_id", F.row_number().over(w) - 1)
    sizes = (
        local.groupBy("bucket").agg(F.count("*").alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "offset")
    )
    return (
        local.join(F.broadcast(sizes), "bucket")
        .select("term", (F.col("offset") + F.col("local_id")).alias("node_id"))
    )


def assert_ids_unique(node_table: DataFrame) -> None:
    """Audit of a hash-id node table in one aggregation (cheap: one
    groupBy over the dictionary).  Fails when two terms share a
    ``node_id`` (a collision silently merges two graph nodes) or when an
    id is not :func:`term_id` of its term (e.g. a dense table: the
    encoded store's permutations carry hash ids, so such a dictionary
    could not decode them)."""
    rows = (
        node_table.groupBy("node_id")
        .agg(
            F.count("*").alias("count"),
            F.bool_and(F.col("node_id") == term_id(F.col("term"))).alias("hashed"),
        )
        .filter((F.col("count") > 1) | ~F.col("hashed"))
        .orderBy(F.desc("count"))
        .limit(1)
        .collect()
    )
    if rows and rows[0]["count"] > 1:
        raise RuntimeError(f"node_id collision detected: {rows[0]}")
    if rows:
        raise RuntimeError(
            f"node table ids are not the hash ids term_id(term): {rows[0]}"
        )


def encode_triples(triples: DataFrame) -> DataFrame:
    """triples(strings) → triples(ids): each id is :func:`term_id` of
    its term, computed inline per column — no node-table join, no
    shuffle."""
    keep = [c for c in triples.columns if c not in ("subj", "pred", "obj")]
    return triples.select(
        *keep,
        term_id(F.col("subj")).alias("s_id"),
        term_id(F.col("pred")).alias("p_id"),
        term_id(F.col("obj")).alias("o_id"),
    )


def decode_triples(encoded: DataFrame, node_table: DataFrame) -> DataFrame:
    """Late materialization: ids → lexical terms only at the sink
    (reference: BindingNodeId → Node conversion at result time,
    tdb2/solver/BindingNodeId.java:34-40).  Decodes the id columns among
    ``s_id``/``p_id``/``o_id`` that ``encoded`` has, and only those."""
    out = encoded
    for idc, col in (("s_id", "subj"), ("p_id", "pred"), ("o_id", "obj")):
        if idc not in encoded.columns:
            continue
        n = node_table.withColumnRenamed("node_id", idc).withColumnRenamed("term", col)
        out = out.join(n, idc, "left").drop(idc)
    return out
