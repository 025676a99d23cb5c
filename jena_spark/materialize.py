"""Graph materialization: the encoded SPO/POS/OSP store, predicate-hash
partitioned with hot-key salting.

Reference design being re-expressed:
- one node table of term ↔ NodeId plus three sorted permutations of the
  same id tuples (jena-db/.../dboe/sys/Names.java:43-47: SPO, POS, OSP;
  indexes hold NodeId tuples, tdb2/solver/BindingNodeId.java);
- the xloader builds each permutation by *external sort* of key-permuted
  tuples (tdb2/xloader/ProcBuildIndexX.java:119-124) — in Spark one
  ``p_part`` shuffle feeds a ``sortWithinPartitions(keys)`` per
  permutation;
- `rdf:type` (and friends) dominate predicate histograms — the reference
  optimizer explicitly down-weights rdf:type patterns
  (sparql/engine/optimizer/reorder/ReorderFixed.java:32-108); at 100 TB a
  predicate-hash partitioning without salting puts half the table in one
  partition, so hot predicates are salted across ``n_salts`` buckets.

The store's layout — ``n_partitions``, ``n_salts`` and the hot predicate
ids — lives in ``<out_dir>/meta.json``; :func:`p_part_column` and
:func:`p_part_targets` are the one salting rule, read from that layout
by the build, the rebalance and the index lookup alike.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Iterable, List, Optional, Sequence, Set

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .nodetable import (
    assert_ids_unique,
    build_node_table,
    decode_triples,
    encode_triples,
    term_id,
)
from .pinning import overwrite_partitions

ENC_PERMUTATIONS: Dict[str, Sequence[str]] = {
    "spo": ("s_id", "p_id", "o_id"),
    "pos": ("p_id", "o_id", "s_id"),
    "osp": ("o_id", "s_id", "p_id"),
}

DEFAULT_HOT_PREDICATES = (
    "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
)


def term_hashes(spark: SparkSession, terms: Iterable[str]) -> List[int]:
    """The node ids :func:`~jena_spark.nodetable.term_id` gives ``terms``,
    in order.  One tiny Spark job, so the driver's ids are the JVM's
    hash bit for bit."""
    terms = list(terms)
    if not terms:
        return []
    return [
        r[0]
        for r in spark.createDataFrame([(t,) for t in terms], ["t"])
        .select(term_id(F.col("t")))
        .collect()
    ]


def p_part_column(layout: dict) -> Column:
    """The store's one ``p_part`` rule over encoded rows:
    ``pmod(p_id [+ salt(s_id) if hot], n_partitions)``, with
    ``salt = pmod(xxhash64(s_id), n_salts)``.  Deterministic, so a
    rewritten partition gets exactly the same rows back."""
    p = F.col("p_id")
    salt = F.pmod(F.xxhash64(F.col("s_id")), F.lit(layout["n_salts"]))
    hot = p.isin(layout["hot_predicate_ids"])
    return F.pmod(F.when(hot, p + salt).otherwise(p), F.lit(layout["n_partitions"]))


def p_part_targets(p_id: int, layout: dict) -> Set[int]:
    """Every ``p_part`` value :func:`p_part_column` can give a row of
    predicate ``p_id``: one for a cold predicate, up to ``n_salts`` for
    a hot one (salt 0 is the cold home)."""
    n = layout["n_partitions"]
    if p_id not in layout["hot_predicate_ids"]:
        return {p_id % n}  # Python % == pmod for positive n
    # the JVM adds p_id + salt as a 64-bit long, wrapping, before pmod
    return {
        ((p_id + s + 2**63) % 2**64 - 2**63) % n
        for s in range(layout["n_salts"])
    }


def atomic_write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` so that readers only ever see
    the old or the complete new file: dump to a temp file in the same
    directory, fsync it, then ``os.replace``.  The temp name starts with
    ``_`` because a store's sidecar sits inside a parquet directory, and
    Spark's file listing skips ``_``-prefixed files — a temp file left by
    a crash must not be read as data."""
    import tempfile

    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path), prefix="_", suffix=".json.tmp"
    )
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def _write_meta(out_dir: str, meta: dict) -> None:
    atomic_write_json(os.path.join(out_dir, "meta.json"), meta)


def materialize_encoded(
    triples: DataFrame,
    out_dir: str,
    n_partitions: int = 64,
    n_salts: int = 8,
    hot_predicates: Sequence[str] = DEFAULT_HOT_PREDICATES,
    node_table: Optional[DataFrame] = None,
) -> Dict[str, str]:
    """Late-materialized index build — the TDB2-faithful layout: the three
    sorted permutations store 8-byte NodeIds, not term strings (reference:
    indexes hold NodeId tuples, tdb2/solver/BindingNodeId.java; strings
    live only in the node table), so shuffles and sorts run on
    fixed-width longs.

    Writes ``<out_dir>/nodes`` (term ↔ node_id) plus one sorted parquet
    table per permutation, predicate-hash partitioned with hot-key
    salting, and ``meta.json``.  Decode at query time = join back to the
    node table (:func:`choose_index_encoded`).  A ``node_table`` whose
    ids are not the inline hash ids (e.g. a dense one) fails the build:
    the permutations are keyed by hash ids and could not be decoded.
    """
    from concurrent.futures import ThreadPoolExecutor

    spark = triples.sparkSession
    has_graph = "graph" in triples.columns
    key = (["graph"] if has_graph else []) + ["subj", "pred", "obj"]
    layout = {
        "layout": "encoded",
        "n_partitions": n_partitions,
        "n_salts": n_salts,
        "hot_predicate_ids": term_hashes(spark, hot_predicates),
    }

    if node_table is None:
        node_table = build_node_table(triples)
    nodes_path = os.path.join(out_dir, "nodes")

    def build_dictionary() -> None:
        """nodes write → id audit, as one serial chain.
        Round 7: the chain is INDEPENDENT of the permutation pipeline
        below (hash ids are minted inline, encode never joins the
        dictionary), so it runs on a driver thread concurrently with the
        encode/dedup/sort/write jobs (guide §2.6 — overlapping
        independent jobs lets the second pipeline back-fill the first
        one's stragglers; serially these stages added ~2.5 s of dead
        time at sf1)."""
        node_table.write.mode("overwrite").parquet(nodes_path)
        # a 64-bit hash collision SILENTLY merges two graph nodes — at a
        # 10^11-term vocabulary the birthday bound makes that an expected
        # event, not a tail risk.  The audit is one agg over the freshly
        # written dictionary (reads the parquet back, so it costs no
        # extra lineage) and fails the build loudly — also when the ids
        # are not the hash ids the permutations carry.
        assert_ids_unique(spark.read.parquet(nodes_path))

    dict_pool = ThreadPoolExecutor(max_workers=1)
    dict_future = dict_pool.submit(build_dictionary)

    enc = encode_triples(triples.select(*key))
    if has_graph:
        # graph name → id as well: the permutation tables are pure
        # fixed-width rows (graph terms are already in the node table)
        enc = enc.withColumn(
            "g_id", F.when(F.col("graph").isNotNull(), term_id(F.col("graph")))
        ).drop("graph")
    gcols = ["g_id"] if has_graph else []
    # ONE p_part exchange shared by all three permutation writes: the
    # persisted cache already holds the final partitioning, so each
    # write below is a zero-shuffle sortWithinPartitions + file write
    salted = (
        enc.dropDuplicates(gcols + ["s_id", "p_id", "o_id"])
        .withColumn("p_part", p_part_column(layout))
        .repartition(n_partitions, F.col("p_part"))
    )
    salted.persist()
    salted.count()  # warm before concurrent fan-out
    paths = {"nodes": nodes_path}

    def write_perm(perm: str) -> tuple[str, str]:
        keys = list(ENC_PERMUTATIONS[perm])
        path = os.path.join(out_dir, perm)
        (
            # directory-partitioned by predicate hash (salted), rows
            # sorted by the permutation key inside each partition — a
            # predicate-bound scan prunes whole directories (Catalyst
            # PartitionFilters), and the within-partition sort gives
            # parquet min/max row-group skipping on the lead key
            salted.sortWithinPartitions(*keys)
            .select(*gcols, *keys, "p_part")
            .write.mode("overwrite")
            .partitionBy("p_part")
            .parquet(path)
        )
        return perm, path

    try:
        with ThreadPoolExecutor(max_workers=len(ENC_PERMUTATIONS)) as ex:
            paths.update(ex.map(write_perm, ENC_PERMUTATIONS))
        dict_future.result()  # join the dictionary chain
    finally:
        salted.unpersist()
        dict_pool.shutdown(wait=True)
    _write_meta(out_dir, layout)
    return paths


def _detect_new_hot(
    spark: SparkSession,
    path: str,
    meta: dict,
    skew_factor: float,
    hot_fraction_threshold: float,
) -> List[int]:
    """Steps 1–2 of :func:`rebalance_hot_partitions` on one permutation
    table: oversized ``p_part`` directories by file size, then the
    predicates that dominate them."""
    import statistics

    from pyspark.sql import Window

    sizes: Dict[int, int] = {}
    for name in os.listdir(path):
        if not name.startswith("p_part="):
            continue
        d = os.path.join(path, name)
        sizes[int(name.split("=", 1)[1])] = sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    if not sizes:
        return []
    med = statistics.median(sizes.values())
    fat = sorted(k for k, v in sizes.items() if v > skew_factor * max(med, 1))
    if not fat:
        return []
    rows = (
        spark.read.parquet(path)
        .filter(F.col("p_part").isin(fat))
        .groupBy("p_part", "p_id")
        .count()
        .withColumn("total", F.sum("count").over(Window.partitionBy("p_part")))
        .filter(F.col("count") > hot_fraction_threshold * F.col("total"))
        .select("p_id")
        .distinct()
        .collect()
    )
    known = set(meta["hot_predicate_ids"])
    return sorted(r["p_id"] for r in rows if r["p_id"] not in known)


def _rewrite_partitions(
    spark: SparkSession, path: str, keys: Sequence[str], parts: List[int],
    p_part: Column,
) -> None:
    """Re-assign ``p_part`` over the rows of partitions ``parts`` of one
    permutation table and overwrite exactly those partitions."""
    nxt = (
        spark.read.parquet(path)
        .filter(F.col("p_part").isin(parts))
        .drop("p_part")
        .withColumn("p_part", p_part)
        .repartition(F.col("p_part"))
        .sortWithinPartitions(*keys)
    )
    overwrite_partitions(nxt, path, parts)


def rebalance_hot_partitions(
    spark: SparkSession,
    out_dir: str,
    skew_factor: float = 4.0,
    hot_fraction_threshold: float = 0.5,
) -> dict:
    """Post-write skew repair for an encoded store, for predicates that
    turned out hot without being listed at build time:

    1. DETECT from write statistics, not data: the per-``p_part``
       directory byte sizes of the already-written SPO table (pure
       filesystem metadata — zero rows read).  A partition bigger than
       ``skew_factor`` × the median is skewed.
    2. DIAGNOSE with a partition-pruned scan of ONLY the oversized
       partitions: any ``p_id`` holding more than
       ``hot_fraction_threshold`` of its partition's rows is hot.
    3. REPAIR only the affected partitions: the hot predicates' source
       partitions plus their ``n_salts`` salt targets are re-assigned
       and rewritten via dynamic partition overwrite — every other
       partition's files are never opened or replaced.

    Before the first overwrite, ``meta.json`` gets the new
    ``hot_predicate_ids`` (so :func:`choose_index_encoded`'s pruning
    follows the new layout) and a ``rebalance_in_progress`` marker with
    the affected partitions; the marker is cleared last.  A re-run that
    finds the marker redoes the rewrite of every permutation over those
    partitions — the rewrite is deterministic, so this finishes a
    crashed rebalance.  Returns ``{"detected_hot_ids": [...],
    "partitions_rewritten": [...]}``.  Cost is proportional to the skew,
    not the store.
    """
    with open(os.path.join(out_dir, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("layout") != "encoded":
        raise ValueError(
            "rebalance_hot_partitions requires an encoded store "
            f"(layout={meta.get('layout')!r})"
        )
    pending = meta.get("rebalance_in_progress")
    if pending is None:
        # all three permutations share the p_part assignment, so SPO is
        # representative
        new_hot = _detect_new_hot(
            spark, os.path.join(out_dir, "spo"), meta, skew_factor,
            hot_fraction_threshold,
        )
        if not new_hot:
            return {"detected_hot_ids": [], "partitions_rewritten": []}
        meta["hot_predicate_ids"] = sorted(
            set(meta["hot_predicate_ids"]) | set(new_hot)
        )
        # each new hot id's current home plus all of its salt targets
        # (≤ n_salts per predicate, independent of store size)
        affected = sorted(set().union(*(p_part_targets(h, meta) for h in new_hot)))
        pending = {"hot_ids": new_hot, "partitions": affected}
        # journal BEFORE the first overwrite: pruning with a superset of
        # hot ids is always safe (a hot predicate's partition set
        # includes its pre-salt home, salt 0), and the marker lets a
        # re-run finish the permutations a crash left unsalted
        meta["rebalance_in_progress"] = pending
        _write_meta(out_dir, meta)
    p_part = p_part_column(meta)
    for perm, keys in ENC_PERMUTATIONS.items():
        _rewrite_partitions(
            spark, os.path.join(out_dir, perm), keys, pending["partitions"], p_part
        )
    del meta["rebalance_in_progress"]
    _write_meta(out_dir, meta)
    return {
        "detected_hot_ids": pending["hot_ids"],
        "partitions_rewritten": pending["partitions"],
    }


def choose_index_encoded(
    spark: SparkSession,
    out_dir: str,
    s: Optional[str] = None,
    p: Optional[str] = None,
    o: Optional[str] = None,
) -> DataFrame:
    """Bound-prefix index selection (reference:
    tdb2/store/tupletable/TupleIndexRecord.java:141-222 /
    StageMatchTuple.java:42-69): pick the permutation whose sort key has
    the longest bound prefix, apply the pattern as id joins, and decode
    to terms only at the end (late materialization)."""
    bound = {"s_id": s, "p_id": p, "o_id": o}

    def prefix_len(keys: Sequence[str]) -> int:
        n = 0
        for k in keys:
            if bound[k] is None:
                break
            n += 1
        return n

    best = max(ENC_PERMUTATIONS, key=lambda name: prefix_len(ENC_PERMUTATIONS[name]))
    df = spark.read.parquet(os.path.join(out_dir, best))
    nodes = spark.read.parquet(os.path.join(out_dir, "nodes"))
    if p is not None:
        # predicate-bound scans prune the p_part directories using the
        # layout metadata — shows up as PartitionFilters in the plan
        try:
            with open(os.path.join(out_dir, "meta.json")) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            # missing, or torn by a crash (JSONDecodeError): scan every
            # p_part directory instead of failing the query
            meta = None
        if meta:
            parts = p_part_targets(term_hashes(spark, [p])[0], meta)
            df = df.filter(F.col("p_part").isin(sorted(parts)))
    for k, term in bound.items():
        if term is not None:
            ids = nodes.filter(F.col("term") == term).select("node_id")
            df = df.join(F.broadcast(ids.withColumnRenamed("node_id", k)), k)
    return decode_triples(df.select("s_id", "p_id", "o_id"), nodes).select(
        "subj", "pred", "obj"
    )
