"""Graph materialization: SPO/POS/OSP-sorted tables, predicate-hash
partitioned with hot-key salting.

Reference design being re-expressed:
- three sorted permutations of the same tuple set
  (jena-db/.../dboe/sys/Names.java:43-47: SPO, POS, OSP);
- the xloader builds each permutation by *external sort* of key-permuted
  tuples (tdb2/xloader/ProcBuildIndexX.java:119-124) — in Spark the
  shuffle IS the external sort: ``repartitionByRange(keys).
  sortWithinPartitions(keys)`` per permutation;
- `rdf:type` (and friends) dominate predicate histograms — the reference
  optimizer explicitly down-weights rdf:type patterns
  (sparql/engine/optimizer/reorder/ReorderFixed.java:32-108); at 100 TB a
  predicate-hash partitioning without salting puts half the table in one
  partition, so hot predicates are salted across ``n_salts`` buckets.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PERMUTATIONS: Dict[str, Sequence[str]] = {
    "spo": ("subj", "pred", "obj"),
    "pos": ("pred", "obj", "subj"),
    "osp": ("obj", "subj", "pred"),
}

DEFAULT_HOT_PREDICATES = (
    "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
)


def with_salted_partition(
    triples: DataFrame,
    n_partitions: int,
    n_salts: int = 8,
    hot_predicates: Sequence[str] = DEFAULT_HOT_PREDICATES,
    hot_fraction_threshold: float = 0.2,
    auto_detect_hot: bool = False,
) -> DataFrame:
    """Adds ``p_part``: hash(pred) partition id, with hot predicates spread
    over ``n_salts`` salt buckets keyed by subject hash (deterministic, so
    a rewritten partition reproduces byte-identical content).

    ``auto_detect_hot=True`` measures the predicate histogram and salts
    every predicate above ``hot_fraction_threshold`` of total rows — at
    100 TB this is an AQE-style guard against vocabulary we didn't
    anticipate.  ONE scan: the grouped histogram (predicate-cardinality
    sized, tiny after the partial agg) is persisted, and both the total
    and the hot set are derived from it — the input is never read twice.
    For an ALREADY-WRITTEN store prefer :func:`rebalance_hot_partitions`,
    which detects skew from partition file sizes without any data scan.
    """
    hot = list(hot_predicates)
    if auto_detect_hot:
        hist = triples.groupBy("pred").count()
        hist.persist()
        try:
            total = (hist.agg(F.sum("count").alias("t")).collect()[0]["t"]
                     or 0)
            if total > 0:
                rows = (
                    hist.filter(
                        F.col("count")
                        > int(total * hot_fraction_threshold)
                    ).select("pred").collect()
                )
                hot = sorted({r["pred"] for r in rows} | set(hot))
        finally:
            hist.unpersist()
    is_hot = F.col("pred").isin(hot)
    salt = F.pmod(F.xxhash64("subj"), F.lit(n_salts))
    base = F.pmod(F.xxhash64("pred"), F.lit(n_partitions))
    return triples.withColumn(
        "p_part",
        F.when(is_hot, F.pmod(F.xxhash64("pred") + salt, F.lit(n_partitions))).otherwise(base),
    )


def materialize(
    triples: DataFrame,
    out_dir: str,
    n_partitions: int = 64,
    n_salts: int = 8,
    permutations: Sequence[str] = ("spo", "pos", "osp"),
    extra_cols: Sequence[str] = (),
) -> Dict[str, str]:
    """Write the triple set as sorted parquet tables, one per permutation.

    Layout per permutation: partitioned by ``p_part`` (predicate hash,
    salted), rows range-partitioned + sorted by the permutation key —
    Spark's shuffle does the external sort (xloader parity).  Graph
    set-semantics: exact duplicates are dropped first (one shuffle,
    reused by all three writes via a cached intermediate).
    """
    dedup = triples.dropDuplicates(["graph", "subj", "pred", "obj"]) if "graph" in triples.columns else triples.dropDuplicates(["subj", "pred", "obj"])
    salted = with_salted_partition(dedup, n_partitions, n_salts)
    # materialize the cache BEFORE fanning out: the three permutation jobs
    # start concurrently, and a cold cache would make each of them compute
    # the dedup shuffle (3x the work, racing to populate the same blocks)
    salted.persist()
    salted.count()
    # build-time CDT flag: one early-exit filter over the warm cache, so a
    # CDT-silent query over this store never pays a probe scan
    # (ops/sparql._meta_has_cdt reads it back)
    has_cdt = _has_cdt_terms(salted)
    paths = {}

    def write_perm(perm: str) -> tuple[str, str]:
        keys = list(PERMUTATIONS[perm])
        path = os.path.join(out_dir, perm)
        (
            salted.repartitionByRange(n_partitions, *[F.col(k) for k in keys])
            .sortWithinPartitions(*keys)
            .select(*keys, "p_part", *extra_cols)
            .write.mode("overwrite")
            .parquet(path)
        )
        return perm, path

    try:
        # the three permutation writes are independent Spark jobs — run
        # them concurrently so shuffle/sample/write phases overlap and the
        # cluster stays saturated (same trick as the reference loader's
        # one-Indexer-thread-per-index, tdb2/loader/main/LoaderMain.java)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(permutations)) as ex:
            for perm, path in ex.map(write_perm, permutations):
                paths[perm] = path
    finally:
        salted.unpersist()
    _write_meta(out_dir, {
        "layout": "string",
        "n_partitions": n_partitions,
        "n_salts": n_salts,
        "has_cdt": has_cdt,
    })
    return paths


def _has_cdt_terms(df: DataFrame) -> bool:
    """Does any subj/obj term carry a cdt:List / cdt:Map datatype?  One
    column-pruned, early-exit scan — at build time the data is being read
    end-to-end anyway, so this is where the flag is cheap to compute."""
    from .cdt import CDT_TERM_SUFFIXES

    cond = None
    for c in ("subj", "obj", "term"):
        if c in df.columns:
            for suf in CDT_TERM_SUFFIXES:
                e = F.col(c).endswith(suf)
                cond = e if cond is None else (cond | e)
    return cond is not None and not df.filter(cond).isEmpty()


def atomic_write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` so that readers only ever see
    the old or the complete new file: dump to a temp file in the same
    directory, fsync it, then ``os.replace``.  The temp name starts with
    ``_`` because a store's sidecar sits inside a parquet directory, and
    Spark's file listing skips ``_``-prefixed files — a temp file left by
    a crash must not be read as data."""
    import json
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
    os.makedirs(out_dir, exist_ok=True)
    atomic_write_json(os.path.join(out_dir, "meta.json"), meta)


ENC_PERMUTATIONS: Dict[str, Sequence[str]] = {
    "spo": ("s_id", "p_id", "o_id"),
    "pos": ("p_id", "o_id", "s_id"),
    "osp": ("o_id", "s_id", "p_id"),
}


def materialize_encoded(
    triples: DataFrame,
    out_dir: str,
    n_partitions: int = 64,
    n_salts: int = 8,
    permutations: Sequence[str] = ("spo", "pos", "osp"),
    hot_predicates: Sequence[str] = DEFAULT_HOT_PREDICATES,
    node_table: Optional[DataFrame] = None,
    audit_ids: bool = True,
) -> Dict[str, str]:
    """Late-materialized index build — the TDB2-faithful layout: the three
    sorted permutations store 8-byte NodeIds, not term strings (reference:
    indexes hold NodeId tuples, tdb2/solver/BindingNodeId.java; strings
    live only in the node table).  Shuffle payload drops ~5× vs the
    string layout and sorts run on fixed-width longs.

    Writes ``<out_dir>/nodes`` (term ↔ node_id) plus one sorted parquet
    table per permutation, predicate-hash partitioned with hot-key
    salting.  Decode at query time = join back to the node table
    (:func:`choose_index_encoded`).
    """
    from .nodetable import build_node_table, encode_triples

    spark = triples.sparkSession
    has_graph = "graph" in triples.columns
    key = (["graph"] if has_graph else []) + ["subj", "pred", "obj"]

    # hot predicate ids: hash the configured hot list with the same
    # function the encode path uses (one tiny job)
    hot_ids = [
        r["h"]
        for r in spark.createDataFrame([(p,) for p in hot_predicates], ["p"])
        .select(F.xxhash64("p").alias("h"))
        .collect()
    ] if hot_predicates else []

    if node_table is None:
        node_table = build_node_table(triples)

    def build_dictionary() -> bool:
        """nodes write → collision audit → has_cdt flag, as one serial
        chain.  Round 7: the chain is INDEPENDENT of the permutation
        pipeline below (hash ids are minted inline, encode never joins
        the dictionary), so it runs on a driver thread concurrently
        with the encode/dedup/sort/write jobs (guide §2.6 — overlapping
        independent jobs lets the second pipeline back-fill the first
        one's stragglers; serially these stages added ~2.5 s of
        dead time at sf1).  Returns the has_cdt flag for meta.json."""
        node_table.write.mode("overwrite").parquet(os.path.join(out_dir, "nodes"))
        if audit_ids:
            # a 64-bit hash collision SILENTLY merges two graph nodes —
            # at a 10^11-term vocabulary the birthday bound makes that an
            # expected event, not a tail risk.  The audit is one agg over
            # the freshly written dictionary (reads the parquet back, so
            # it costs no extra lineage) and fails the build loudly;
            # above ~10^10 terms prefer build_node_table(id_bits=128)
            # and skip the audit.
            from .nodetable import assert_ids_unique

            assert_ids_unique(spark.read.parquet(os.path.join(out_dir, "nodes")))
        # has_cdt from the freshly written node table (distinct terms —
        # far smaller than the triple set, column-pruned, early exit)
        return _has_cdt_terms(spark.read.parquet(os.path.join(out_dir, "nodes")))

    from concurrent.futures import ThreadPoolExecutor

    dict_pool = ThreadPoolExecutor(max_workers=1)
    dict_future = dict_pool.submit(build_dictionary)

    enc = encode_triples(triples.select(*key))
    if has_graph:
        # graph name → id as well: the permutation tables are pure
        # fixed-width rows (graph terms are already in the node table)
        enc = enc.withColumn(
            "g_id",
            F.when(F.col("graph").isNotNull(), F.xxhash64("graph")),
        ).drop("graph")
    gcols = ["g_id"] if has_graph else []
    enc = enc.dropDuplicates(gcols + ["s_id", "p_id", "o_id"])
    salt = F.pmod(F.xxhash64(F.col("s_id")), F.lit(n_salts))
    base = F.pmod(F.col("p_id"), F.lit(n_partitions))
    salted = enc.withColumn(
        "p_part",
        F.when(
            F.col("p_id").isin(hot_ids),
            F.pmod(F.col("p_id") + salt, F.lit(n_partitions)),
        ).otherwise(base),
    )
    # ONE p_part exchange shared by all three permutation writes: the
    # persisted cache already holds the final partitioning, so each
    # write below is a zero-shuffle sortWithinPartitions + file write
    # (previously each write re-shuffled the full dataset — 3 identical
    # exchanges; at corpus scale that was 2 wasted full shuffles)
    salted = salted.repartition(n_partitions, F.col("p_part"))
    salted.persist()
    salted.count()  # warm before concurrent fan-out
    paths = {"nodes": os.path.join(out_dir, "nodes")}

    def write_perm(perm: str) -> tuple[str, str]:
        keys = list(ENC_PERMUTATIONS[perm])
        path = os.path.join(out_dir, perm)
        (
            # north-star layout: directory-partitioned by predicate hash
            # (salted), rows sorted by the permutation key inside each
            # partition — a predicate-bound scan prunes whole directories
            # (Catalyst PartitionFilters), and the within-partition sort
            # gives parquet min/max row-group skipping on the lead key
            salted.sortWithinPartitions(*keys)
            .select(*gcols, *keys, "p_part")
            .write.mode("overwrite")
            .partitionBy("p_part")
            .parquet(path)
        )
        return perm, path

    try:
        with ThreadPoolExecutor(max_workers=len(permutations)) as ex:
            for perm, path in ex.map(write_perm, permutations):
                paths[perm] = path
        has_cdt = dict_future.result()  # join the dictionary chain
    finally:
        salted.unpersist()
        dict_pool.shutdown(wait=True)
    # layout metadata for partition pruning at query time
    _write_meta(out_dir, {
        "layout": "encoded",
        "n_partitions": n_partitions,
        "n_salts": n_salts,
        "hot_predicate_ids": [int(h) for h in hot_ids],
        "has_cdt": has_cdt,
    })
    return paths


def _wrap64(x: int) -> int:
    """Simulate JVM 64-bit long wraparound (the engine computes
    ``p_id + salt`` JVM-side before pmod)."""
    return (x + 2**63) % 2**64 - 2**63


def rebalance_hot_partitions(
    spark: SparkSession,
    out_dir: str,
    skew_factor: float = 4.0,
    hot_fraction_threshold: float = 0.5,
    permutations: Sequence[str] = ("spo", "pos", "osp"),
) -> dict:
    """Post-write skew repair for an encoded store — the 100 TB-correct
    alternative to ``auto_detect_hot``'s pre-write histogram scan:

    1. DETECT from write statistics, not data: the per-``p_part``
       directory byte sizes of the already-written table (pure
       filesystem metadata — zero rows read).  A partition bigger than
       ``skew_factor`` × the median is skewed.
    2. DIAGNOSE with a partition-pruned scan of ONLY the oversized
       partitions: any ``p_id`` holding more than
       ``hot_fraction_threshold`` of its partition's rows is hot.
    3. REPAIR only the affected partitions: the hot predicates' source
       partitions plus their ``n_salts`` salt targets are re-assigned
       and rewritten via dynamic partition overwrite — every other
       partition's files are never opened or replaced.

    Updates ``meta.json``'s ``hot_predicate_ids`` so
    :func:`choose_index_encoded`'s pruning follows the new layout.
    Returns ``{"detected_hot_ids": [...], "partitions_rewritten":
    [...]}``.  Cost is proportional to the skew, not the store.
    """
    import json
    import shutil
    import statistics

    meta_path = os.path.join(out_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    if meta.get("layout") != "encoded":
        raise ValueError(
            "rebalance_hot_partitions requires an encoded store "
            f"(layout={meta.get('layout')!r})"
        )
    n = meta["n_partitions"]
    n_salts = meta["n_salts"]
    known_hot = set(meta.get("hot_predicate_ids", []))

    # 1. detection from directory sizes (first permutation is
    # representative: all three share the same p_part assignment)
    lead = os.path.join(out_dir, permutations[0])
    sizes: Dict[int, int] = {}
    for name in os.listdir(lead):
        if not name.startswith("p_part="):
            continue
        d = os.path.join(lead, name)
        sizes[int(name.split("=", 1)[1])] = sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    if not sizes:
        return {"detected_hot_ids": [], "partitions_rewritten": []}
    med = statistics.median(sizes.values())
    fat = sorted(k for k, v in sizes.items() if v > skew_factor * max(med, 1))
    if not fat:
        return {"detected_hot_ids": [], "partitions_rewritten": []}

    # 2. partition-pruned diagnosis of the fat partitions only
    hist = (
        spark.read.parquet(lead)
        .filter(F.col("p_part").isin([int(k) for k in fat]))
        .groupBy("p_part", "p_id")
        .count()
    )
    hist.persist()
    try:
        totals = hist.groupBy("p_part").agg(F.sum("count").alias("total"))
        new_hot = sorted(
            r["p_id"]
            for r in hist.join(totals, "p_part")
            .filter(F.col("count") > hot_fraction_threshold * F.col("total"))
            .select("p_id")
            .distinct()
            .collect()
            if r["p_id"] not in known_hot
        )
    finally:
        hist.unpersist()
    if not new_hot:
        return {"detected_hot_ids": [], "partitions_rewritten": []}

    # 3. affected partition set: each new hot id's current home plus all
    # of its salt targets (≤ 1 + n_salts per predicate, independent of
    # store size)
    affected = set()
    for h in new_hot:
        affected.add(h % n)  # Python % == pmod for positive n
        for s in range(n_salts):
            affected.add(_wrap64(h + s) % n)
    affected = sorted(int(k) for k in affected)

    all_hot = sorted(known_hot | set(new_hot))
    # journal the detected hot ids BEFORE the first overwrite: pruning
    # with a superset of hot ids is always safe (a hot predicate's
    # partition set includes its pre-salt home, salt 0), whereas a crash
    # between a permutation rewrite and a trailing meta update would
    # leave choose_index_encoded pruning a now-salted predicate to its
    # old home only — silent zero rows.  Atomic via _write_meta.
    meta["hot_predicate_ids"] = [int(h) for h in all_hot]
    _write_meta(out_dir, meta)
    salt = F.pmod(F.xxhash64(F.col("s_id")), F.lit(n_salts))
    reassign = F.when(
        F.col("p_id").isin([int(h) for h in all_hot]),
        F.pmod(F.col("p_id") + salt, F.lit(n)),
    ).otherwise(F.pmod(F.col("p_id"), F.lit(n)))

    for perm in permutations:
        path = os.path.join(out_dir, perm)
        cur = spark.read.parquet(path).filter(F.col("p_part").isin(affected))
        keep = [c for c in cur.columns if c != "p_part"]
        nxt = (
            cur.select(*keep)
            .withColumn("p_part", reassign)
            .repartition(F.col("p_part"))
            .sortWithinPartitions(*ENC_PERMUTATIONS[perm])
        )
        # pin BEFORE overwriting — the plan reads the files being replaced
        nxt = nxt.localCheckpoint(eager=True)
        (
            nxt.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("p_part")
            .parquet(path)
        )
        # dynamic overwrite never touches a partition absent from the
        # output — an affected partition emptied by the move keeps stale
        # files; drop those directories explicitly
        remaining = {
            r["p_part"] for r in nxt.select("p_part").distinct().collect()
        }
        for k in set(affected) - remaining:
            shutil.rmtree(
                os.path.join(path, f"p_part={k}"), ignore_errors=True
            )
        nxt.unpersist()

    return {
        "detected_hot_ids": [int(h) for h in new_hot],
        "partitions_rewritten": affected,
    }


def choose_index_encoded(
    spark: SparkSession,
    out_dir: str,
    s: Optional[str] = None,
    p: Optional[str] = None,
    o: Optional[str] = None,
) -> DataFrame:
    """Bound-prefix index selection over the encoded tables + late
    materialization (node-table joins only at the end)."""
    from .nodetable import decode_triples

    bound = {"s_id": s, "p_id": p, "o_id": o}
    order = {"spo": ("s_id", "p_id", "o_id"), "pos": ("p_id", "o_id", "s_id"),
             "osp": ("o_id", "s_id", "p_id")}

    def prefix_len(perm):
        n = 0
        for k in perm:
            if bound[k] is None:
                break
            n += 1
        return n

    best = max(order, key=lambda name: prefix_len(order[name]))
    df = spark.read.parquet(os.path.join(out_dir, best))
    nodes = spark.read.parquet(os.path.join(out_dir, "nodes"))
    if p is not None:
        # predicate-bound scans prune the p_part directories using the
        # layout metadata (hot predicates span n_salts directories, cold
        # exactly one) — shows up as PartitionFilters in the plan
        import json

        try:
            with open(os.path.join(out_dir, "meta.json")) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            # missing, or torn by a crash (JSONDecodeError): scan every
            # p_part directory instead of failing the query
            meta = None
        if meta:
            h = (
                spark.createDataFrame([(p,)], ["t"])
                .select(F.xxhash64("t").alias("h"))
                .collect()[0]["h"]
            )
            n = meta["n_partitions"]
            if h in set(meta["hot_predicate_ids"]):
                # simulate 64-bit long wraparound of (p_id + salt) the way
                # the JVM computes it before pmod
                def wrap64(x: int) -> int:
                    return (x + 2**63) % 2**64 - 2**63

                parts = sorted({wrap64(h + s) % n for s in range(meta["n_salts"])})
            else:
                parts = [h % n]
            df = df.filter(F.col("p_part").isin([int(x) for x in parts]))
    for k, term in bound.items():
        if term is not None:
            ids = nodes.filter(F.col("term") == term).select("node_id")
            df = df.join(F.broadcast(ids.withColumnRenamed("node_id", k)), k)
    return decode_triples(df.select("s_id", "p_id", "o_id"), nodes).select(
        "subj", "pred", "obj"
    )


def choose_index(
    spark: SparkSession,
    out_dir: str,
    s: Optional[str] = None,
    p: Optional[str] = None,
    o: Optional[str] = None,
) -> DataFrame:
    """Bound-prefix index selection (reference:
    tdb2/store/tupletable/TupleIndexRecord.java:141-222 /
    StageMatchTuple.java:42-69): pick the permutation whose sort key has
    the longest bound prefix, then apply the pattern as pushed filters."""
    bound = {"subj": s, "pred": p, "obj": o}

    def prefix_len(perm: Sequence[str]) -> int:
        n = 0
        for k in perm:
            if bound[k] is None:
                break
            n += 1
        return n

    best = max(PERMUTATIONS, key=lambda name: prefix_len(PERMUTATIONS[name]))
    df = spark.read.parquet(os.path.join(out_dir, best))
    for k, v in bound.items():
        if v is not None:
            df = df.filter(F.col(k) == v)
    return df.select("subj", "pred", "obj")
