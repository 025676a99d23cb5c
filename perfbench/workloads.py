"""The two workloads.  Each one generates its seeded inputs (cached in
the checkout, untimed), builds its starting state (timed as set-up),
warms up, and runs rounds of operations against ``jena_spark``'s public
functions, one client at a time (closed loop).  Every operation's
output is checked; a wrong output is a failed operation.

A round returns a list of op records::

    {"kind": str, "s": latency seconds, "items": work units, "ok": bool,
     "why": failure reason}
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracles

PARTS = 4  # parquet part files per generated table: one scan split per core
# kg_build's warm-up round runs on this sampled share of the inputs: it
# starts every Python worker and compiles every plan, at a fraction of a
# full round.
WARM_FRACTION = 0.03
WARM_PATCH_STEPS = 2  # checked, untimed patch steps in sparql_mix's warm-up


def cached(path: str, make) -> str:
    """Create the directory ``path`` with ``make(tmp_dir)`` unless it
    exists; the final rename means a crash never leaves half an entry."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.rename(tmp, path)
    return path


def write_parts(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    """Write a generated table as PARTS parquet files."""
    os.makedirs(path)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), PARTS)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[chunk], schema=schema, preserve_index=False),
            os.path.join(path, f"part-{i}.parquet"),
        )


def op(kind: str, seconds: float, items: int, ok: bool, why: str = "") -> dict:
    return {"kind": kind, "s": seconds, "items": items, "ok": ok, "why": why}


def tail_metric(samples: list) -> dict:
    """The highest percentile with at least ten samples beyond it, named
    in the output; null when there are too few samples for any."""
    from tracing import tail_percentile

    tail = tail_percentile(samples)
    if tail is None:
        return {"value": None, "unit": "s", "percentile": None,
                "samples": len(samples), "note": "fewer than 11 samples"}
    return {"value": tail[1], "unit": "s", "percentile": tail[0], "samples": len(samples)}


class Workload:
    name = ""

    def __init__(self, seed: int, cache: str, work: str, tracer):
        self.seed = seed
        self.cache = cache
        self.work = os.path.join(work, self.name)
        self.tracer = tracer
        self.rounds_done = 0
        self.counters: dict = {}
        os.makedirs(self.work, exist_ok=True)

    def span(self, name, tag=None):
        return self.tracer.span(name, tag)

    def prepare(self, spark) -> None:
        """Generate and cache inputs (untimed)."""

    def build(self, spark) -> None:
        """Build the starting state from scratch (timed as set-up)."""

    def prepare_checks(self) -> None:
        """Compute reference answers (untimed)."""

    def run_round(self, spark, warm: bool) -> list:
        recs = self.warmup(spark) if warm else self.round(spark)
        self.rounds_done += 1
        return [r | {"part": self.name} for r in recs]

    def warmup(self, spark) -> list:
        """The untimed first round; returns the op records it checked."""
        return []

    def round(self, spark) -> list:
        raise NotImplementedError

    def detail(self, ops: list) -> dict:
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------


class KgBuild(Workload):
    """detect → parse → node table → SPO/POS/OSP over a seeded repo-file
    table.  One op is one full build."""

    name = "kg_build"

    def prepare(self, spark):
        def make(d):
            df, info = inputs.kg_files(self.seed)
            write_parts(df, os.path.join(d, "files"))
            with open(os.path.join(d, "meta.json"), "w") as f:
                json.dump(info, f)

        d = cached(os.path.join(self.cache, f"kg_build-seed{self.seed}"), make)
        with open(os.path.join(d, "meta.json")) as f:
            self.info = json.load(f)
        self.files_dir = os.path.join(d, "files")

    def build(self, spark):
        self.files = spark.read.parquet(self.files_dir)

    def _build(self, files, out):
        from jena_spark.extract import run_extraction
        from jena_spark.materialize import materialize_encoded
        from jena_spark.nodetable import build_node_table

        shutil.rmtree(out, ignore_errors=True)
        with self.span("extract", "extract"):
            tri = run_extraction(files).select("graph", "subj", "pred", "obj").persist()
            n = tri.count()
        with self.span("nodetable", "nodetable"):
            nt = build_node_table(tri).persist()
            n_terms = nt.count()
        with self.span("materialize", "materialize"):
            materialize_encoded(tri, out, n_partitions=16, node_table=nt)
        tri.unpersist()
        nt.unpersist()
        return n, n_terms

    def warmup(self, spark):
        with self.span("kg_build.warmup"):
            self._build(self.files.sample(fraction=WARM_FRACTION, seed=0),
                        os.path.join(self.work, "warm"))
        return []

    def round(self, spark):
        out = os.path.join(self.work, "store")
        t0 = time.perf_counter()
        with self.span("kg_build.op"):
            n, n_terms = self._build(self.files, out)
        dt = time.perf_counter() - t0
        ok, why = oracles.check_kg_store(out, n, self.info["triples"])
        c = self.counters
        c["extract.docs"] = c.get("extract.docs", 0) + self.info["files"]
        c["extract.triples"] = c.get("extract.triples", 0) + n
        c["extract.error_docs"] = c.get("extract.error_docs", 0) + self.info["error_docs"]
        c["nodetable.terms"] = c.get("nodetable.terms", 0) + n_terms
        written = oracles.dir_bytes(out)
        c["materialize.bytes_written"] = c.get("materialize.bytes_written", 0) + written
        sizes = sorted(
            oracles.dir_bytes(os.path.join(out, "spo", d))
            for d in os.listdir(os.path.join(out, "spo")) if d.startswith("p_part=")
        )
        c["materialize.partition_skew"] = sizes[-1] / sizes[len(sizes) // 2]
        self.store_bytes = written
        return [op("build", dt, self.info["triples"], ok, why)]

    def detail(self, ops):
        t = sum(o["s"] for o in ops)
        return {
            "build_triples_per_s": {"value": sum(o["items"] for o in ops) / t, "unit": "triples/s"},
            "store_bytes_per_triple": {"value": self.store_bytes / self.info["triples"], "unit": "B"},
            "files": self.info["files"], "triples_per_build": self.info["triples"],
        }


# ---------------------------------------------------------------------------


class SparqlMix(Workload):
    """Reads and writes against two stores.  A round runs the
    parameterized SPARQL templates and predicate-bound index lookups over
    the query store, then applies one RDF-Patch micro-batch to a p_part
    quad store and reads one predicate of it back with SPARQL.  One op is
    one query, lookup, patch apply or read.

    Both stores are the same for every seed, so they are built once per
    checkout and cached; the seed picks the query parameters and the
    patch batches.  Set-up opens the query store and copies the quad
    store, which the patches change."""

    name = "sparql_mix"

    def prepare(self, spark):
        from jena_spark.materialize import materialize_encoded
        from jena_spark.streaming import apply_patch_batch

        def make(d):
            triples = os.path.join(d, "triples")
            write_parts(inputs.sparql_triples(), triples)
            materialize_encoded(spark.read.parquet(triples), os.path.join(d, "store"),
                                n_partitions=16)
            base = os.path.join(d, "patch_base")
            write_parts(inputs.PatchStream(self.seed).base(), base, inputs.QUAD_OPS_SCHEMA)
            apply_patch_batch(os.path.join(d, "quads"), n_parts=16)(
                spark.read.parquet(base), 0)

        d = cached(os.path.join(self.cache, "sparql_mix-stores"), make)
        self.triples_dir = os.path.join(d, "triples")
        self.store = os.path.join(d, "store")
        self.base_quads = os.path.join(d, "quads")

    def build(self, spark):
        from jena_spark.streaming import apply_patch_batch

        self.quads = os.path.join(self.work, "quads")
        shutil.rmtree(self.quads, ignore_errors=True)
        shutil.copytree(self.base_quads, self.quads)
        self.triples = spark.read.parquet(self.triples_dir)
        self.stream = inputs.PatchStream(self.seed)
        self.steps = 0
        self.apply = apply_patch_batch(self.quads, n_parts=16)

    def prepare_checks(self):
        self.oracle = oracles.TriplesOracle(self.triples_dir)
        self.n_triples = self.oracle.rows("SELECT count(*) FROM T")[0][0]
        if oracles.read_quad_store(self.quads) != self.stream.store:
            raise ValueError("the cached quad store differs from the base quads")

    def warmup(self, spark):
        """The templates over the whole store, unchecked, then checked
        patch steps: the patch stream must not skip a batch.  A sample
        would plan (and code-generate) other queries than the measured
        ones, and the first patch steps run well above their steady
        latency."""
        self.queries(spark, self.triples)
        return [r for _ in range(WARM_PATCH_STEPS) for r in self.patch_step(spark)]

    def round(self, spark):
        out = []
        for name, dt, got, sql in self.queries(spark, self.triples):
            ok, why = oracles.same_rows(got, self.oracle.rows(sql))
            out.append(op(name, dt, 1, ok, f"{name}: {why}" if not ok else ""))
        return out + self.patch_step(spark)

    def queries(self, spark, triples) -> list:
        """Run one round's templates over ``triples``: (name, seconds,
        rows, oracle SQL) per template."""
        from jena_spark.materialize import choose_index_encoded
        from jena_spark.ops.sparql import sparql_query

        rng = random.Random(f"sparql_mix:q:{self.seed}:{self.rounds_done}")
        n_ent = inputs.SM_CHAINS * inputs.SM_CHAIN_LEN
        out = []
        for name, kind, q, sql in oracles.sparql_templates(
                rng, n_ent, inputs.SM_TYPES, inputs.SM_GROUPS):
            t0 = time.perf_counter()
            with self.span(f"sparql_mix.{name}"):
                if kind == "lookup":
                    with self.span("lookup", "materialize.lookup"):
                        got = [tuple(r) for r in choose_index_encoded(
                            spark, self.store, **q).collect()]
                else:
                    with self.span("compile", "sparql.compile"):
                        res = sparql_query(triples, oracles.PREFIXES + q)
                    if isinstance(res, bool):
                        got = [(res,)]
                    else:
                        with self.span("execute", "sparql.execute"):
                            got = [tuple(r) for r in res.collect()]
            out.append((name, time.perf_counter() - t0, got, sql))
        return out

    def patch_step(self, spark):
        """Apply the next micro-batch, then read one cold predicate back;
        the store must equal the replay of the base plus every batch."""
        from jena_spark.ops.sparql import sparql_query

        self.steps += 1
        step = self.steps
        pdf, pred = self.stream.batch()
        batch = spark.createDataFrame(pdf, inputs.QUAD_OPS_DDL)
        before = oracles.partition_listing(self.quads)
        t0 = time.perf_counter()
        with self.span("sparql_mix.patch"):
            with self.span("apply", "streaming.apply"):
                self.apply(batch, step)
        t1 = time.perf_counter()
        with self.span("sparql_mix.read"):
            with self.span("compile", "sparql.compile"):
                store = spark.read.parquet(self.quads).select("subj", "pred", "obj")
                res = sparql_query(store, f"SELECT ?s ?o WHERE {{ ?s {pred} ?o }}")
            with self.span("execute", "sparql.execute"):
                got = [tuple(r) for r in res.collect()]
        t2 = time.perf_counter()
        after = oracles.partition_listing(self.quads)
        self.counters["streaming.apply.partitions_rewritten"] = (
            self.counters.get("streaming.apply.partitions_rewritten", 0)
            + sum(1 for k in before.keys() | after.keys() if before.get(k) != after.get(k)))
        ok, why = True, ""
        if oracles.read_quad_store(self.quads) != self.stream.store:
            ok, why = False, f"store after batch {step} differs from the replay"
        read_ok, read_why = oracles.same_rows(
            got, [(s, o) for _g, s, p, o in self.stream.store if p == pred])
        return [op("patch", t1 - t0, 1, ok, why),
                op("read", t2 - t1, 1, read_ok, read_why)]

    def detail(self, ops):
        def kind(*names):
            return [o["s"] for o in ops if o["kind"] in names]

        queries = [o["s"] for o in ops if o["kind"] not in ("patch", "read")]
        return {
            "query_p50_s": {"value": float(np.median(queries)), "unit": "s"},
            "query_tail_s": tail_metric(queries),
            "patch_p50_s": {"value": float(np.median(kind("patch"))), "unit": "s"},
            "patch_tail_s": tail_metric(kind("patch")),
            "read_p50_s": {"value": float(np.median(kind("read"))), "unit": "s"},
            "store_triples": self.n_triples,
            "quad_store_quads": len(self.stream.store),
            "per_template_p50_s": {
                k: float(np.median(kind(k))) for k in sorted({o["kind"] for o in ops})
            },
        }

    def close(self):
        if hasattr(self, "oracle"):
            self.oracle.close()


# ---------------------------------------------------------------------------


class NearDup(Workload):
    """MinHash/Jaccard dedup, SimHash, brute+IVF top-k and entity
    linking over seeded documents, embeddings and mention fixtures.  One
    op is one of the four calls; a round runs each once."""

    name = "near_dup"
    PRECISION_FLOOR = 0.9
    RECALL_FLOOR = 0.6
    TABLES = ("documents", "embeddings", "mentions", "entities")

    def prepare(self, spark):
        """Documents and embeddings per seed.  The linking fixture is the
        same for every seed, so it is made (with Spark) once per checkout."""
        from jena_spark.linking import linking_fixtures

        def make(d):
            write_parts(inputs.near_dup_docs(self.seed), os.path.join(d, "documents"))
            emb, query = inputs.near_dup_embeddings(self.seed)
            write_parts(emb, os.path.join(d, "embeddings"))
            with open(os.path.join(d, "query.json"), "w") as f:
                json.dump(query, f)

        def make_linking(d):
            mdf, edf = linking_fixtures(spark, inputs.ND_ENTITIES, seed=0)
            write_parts(mdf.toPandas(), os.path.join(d, "mentions"))
            write_parts(edf.toPandas(), os.path.join(d, "entities"))

        d = cached(os.path.join(self.cache, f"near_dup-seed{self.seed}"), make)
        d_link = cached(os.path.join(self.cache, "near_dup-linking"), make_linking)
        self.paths = {t: os.path.join(d if t in ("documents", "embeddings") else d_link, t)
                      for t in self.TABLES}
        with open(os.path.join(d, "query.json")) as f:
            self.query = json.load(f)

    def build(self, spark):
        self.tables = {t: spark.read.parquet(p) for t, p in self.paths.items()}

    def prepare_checks(self):
        docs = {"documents": oracles.parquet_glob(self.paths["documents"])}
        self.want_jaccard = oracles.entry_oracle("dedup_jaccard", docs)
        self.want_simhash = oracles.entry_oracle("dedup_simhash", docs)
        emb = pq.read_table(self.paths["embeddings"]).to_pandas()
        self.vecs = np.stack(emb["embedding"].to_numpy())
        if not (emb["vec_id"].to_numpy() == np.arange(len(emb))).all():
            raise ValueError("embeddings must be stored in vec_id order")
        gold = pq.read_table(self.paths["mentions"]).to_pandas()
        self.gold = list(gold[["mention", "gold_iri", "should_link"]].itertuples(index=False))
        self.sizes = {"documents": inputs.ND_DOCS, "embeddings": len(emb),
                      "mentions": len(gold)}

    def calls(self, t: dict) -> dict:
        """Run the four calls over the tables ``t``: kind → (rows, seconds)."""
        from jena_spark.linking import link_entities
        from jena_spark.pipelines.dedup import dedup_jaccard_pipeline, simhash
        from jena_spark.pipelines.similarity import topk_brute_and_ivf

        calls = [
            ("jaccard", "dedup.jaccard", lambda: dedup_jaccard_pipeline(
                t["documents"], k=5, num_perm=8, bands=2, rows_per_band=4)),
            ("simhash", "dedup.simhash", lambda: simhash(t["documents"], nbits=16)),
            ("topk", "similarity.topk", lambda: topk_brute_and_ivf(
                t["embeddings"], self.query, k=inputs.ND_TOPK, n_centroids=16, n_probe=4)),
            ("link", "linking.link", lambda: link_entities(
                t["mentions"].select("mention"), t["entities"])),
        ]
        res = {}
        for kind, tag, fn in calls:
            t0 = time.perf_counter()
            with self.span(f"near_dup.{kind}"):
                with self.span(kind, tag):
                    rows = [tuple(r) for r in fn().collect()]
            res[kind] = (rows, time.perf_counter() - t0)
        return res

    def warmup(self, spark):
        t = {k: df.sample(fraction=WARM_FRACTION, seed=0) for k, df in self.tables.items()}
        t["entities"] = self.tables["entities"]
        self.calls(t)
        return []

    def round(self, spark):
        res = self.calls(self.tables)
        out = []

        rows, dt = res["jaccard"]
        ok, why = oracles.check_jaccard(rows, self.want_jaccard)
        self.counters["dedup.verified"] = len(rows)
        out.append(op("jaccard", dt, self.sizes["documents"], ok, why))

        rows, dt = res["simhash"]
        ok, why = oracles.same_rows(rows, self.want_simhash)
        out.append(op("simhash", dt, self.sizes["documents"], ok, why))

        rows, dt = res["topk"]
        brute = [(v, c) for m, v, c in rows if m == "brute"]
        ivf = {v for m, v, _c in rows if m == "ivf"}
        ok, why = oracles.check_topk(brute, self.vecs, self.query, inputs.ND_TOPK)
        self.counters["similarity.ivf_recall"] = len(ivf & {v for v, _ in brute}) / inputs.ND_TOPK
        out.append(op("topk", dt, self.sizes["embeddings"], ok, why))

        rows, dt = res["link"]
        precision, recall = oracles.linking_quality([(m, e) for m, e, _d, _j in rows], self.gold)
        ok = precision >= self.PRECISION_FLOOR and recall >= self.RECALL_FLOOR
        self.counters["linking.accepted"] = len(rows)
        self.quality = {"precision": precision, "recall": recall}
        out.append(op("link", dt, self.sizes["mentions"], ok,
                      "" if ok else f"linking precision {precision:.3f} recall {recall:.3f}"))
        return out

    def traced_counters(self, spark) -> dict:
        """Candidate counts, computed once after the traced rounds."""
        from jena_spark.linking import lsh_candidates
        from jena_spark.pipelines.dedup import minhash_candidates, minhash_signatures

        t = self.tables
        with self.span("near_dup.counters"):
            cands = minhash_candidates(
                minhash_signatures(t["documents"], k=5, num_perm=8),
                bands=2, rows_per_band=4).count()
            link_cands = lsh_candidates(t["mentions"].select("mention"), t["entities"]).count()
        return {
            "dedup.candidate_pairs": cands,
            "dedup.verified_ratio": self.counters["dedup.verified"] / cands if cands else 0.0,
            "linking.link_ratio": self.counters["linking.accepted"] / link_cands if link_cands else 0.0,
        }

    def detail(self, ops):
        def rate(kind):
            sel = [o for o in ops if o["kind"] == kind]
            return sum(o["items"] for o in sel) / sum(o["s"] for o in sel)

        return {
            "dedup_docs_per_s": {"value": rate("jaccard"), "unit": "1/s"},
            "ann_vectors_per_s": {"value": rate("topk"), "unit": "1/s"},
            "link_mentions_per_s": {"value": rate("link"), "unit": "1/s"},
            "simhash_docs_per_s": {"value": rate("simhash"), "unit": "1/s"},
            "linking_quality": self.quality,
            "per_call_p50_s": {
                k: float(np.median([o["s"] for o in ops if o["kind"] == k]))
                for k in ("jaccard", "simhash", "topk", "link")
            },
        }


class Batch:
    """Several workloads run as one: one session, one set-up, and a round
    that runs each part's round in turn."""

    def __init__(self, name: str, parts: list):
        self.name = name
        self.parts = parts

    @property
    def counters(self) -> dict:
        return {k: v for p in self.parts for k, v in p.counters.items()}

    def prepare(self, spark):
        for p in self.parts:
            p.prepare(spark)

    def build(self, spark):
        for p in self.parts:
            p.build(spark)

    def prepare_checks(self):
        for p in self.parts:
            p.prepare_checks()

    def run_round(self, spark, warm):
        return [r for p in self.parts for r in p.run_round(spark, warm)]

    def traced_counters(self, spark):
        return {k: v for p in self.parts if hasattr(p, "traced_counters")
                for k, v in p.traced_counters(spark).items()}

    def detail(self, ops):
        return {k: v for p in self.parts
                for k, v in p.detail([o for o in ops if o["part"] == p.name]).items()}

    def close(self):
        for p in self.parts:
            p.close()


# kg_build also runs the near-dup pipelines: a run of either alone costs
# mostly JVM and Python-worker start-up, and the benchmark's whole run
# budget (48 runs in 3,420 s) allows two workloads on a 4-core host.
WORKLOADS = {
    "kg_build": lambda *args: Batch("kg_build", [KgBuild(*args), NearDup(*args)]),
    "sparql_mix": SparqlMix,
}
# Spark task threads per workload (local[n], n shuffle partitions).
# sparql_mix's small queries are latency-bound: on two threads they run
# as fast as on four, and the other two cores stay free for the JIT, GC,
# py4j and Python driver threads that set their latency.
CORES = {"kg_build": 4, "sparql_mix": 2}
