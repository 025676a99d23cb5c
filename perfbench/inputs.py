"""Seeded input generation.  The same seed gives the same tables; the
program under test only ever sees them as parquet written here, outside
every timed region, and cached per seed under the checkout's
``.perfbench/cache``."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pyarrow as pa

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
B = "http://bench.example/"

# ---------------------------------------------------------------------------
# kg_build: a slice of synth_row's index space, heavy documents
# ---------------------------------------------------------------------------

KG_FILES = 2000
KG_DOC_SCALE = 8
KG_SEED_STRIDE = 1_000_000  # seed n reads rows [n * stride, n * stride + KG_FILES)


def kg_triples_per_row(kind: str, path: str, doc_scale: int) -> int:
    """Triples ``run_extraction`` must emit for one ``synth_row`` file,
    derived from the generator's templates."""
    extra = (doc_scale - 1) * 8
    if kind == "turtle":
        if path.startswith("src/hot/"):
            return 6  # four rdf:type + two b:near
        # type, label, score, link, tags + 3-item list (6) + anon, extras
        return 12 + extra
    if kind == "ntriples":
        return 2 + extra
    return {"trig": 3, "rdfxml": 3, "jsonld": 3, "code": 0, "bad": 0}[kind]


def kg_files(seed: int) -> tuple[pd.DataFrame, dict]:
    """The source-file table for ``seed`` and its generator-derived
    counts (files per kind, expected triples)."""
    from jena_spark.sources import synth_row

    start = seed * KG_SEED_STRIDE
    rows = [synth_row(i, KG_DOC_SCALE) for i in range(start, start + KG_FILES)]
    kinds: dict = {}
    triples = 0
    for path, _lang, _content, kind in rows:
        kinds[kind] = kinds.get(kind, 0) + 1
        triples += kg_triples_per_row(kind, path, KG_DOC_SCALE)
    df = pd.DataFrame({
        "repo": "synthetic/bench",
        "path": [r[0] for r in rows],
        "commit": "f" * 40,
        "lang": [r[1] for r in rows],
        "content": [r[2] for r in rows],
    })
    return df, {"files": len(rows), "kinds": kinds, "triples": triples,
                "error_docs": kinds.get("bad", 0)}


# ---------------------------------------------------------------------------
# sparql_mix: entities in short b:link chains, as string triples
# ---------------------------------------------------------------------------

SM_CHAINS = 2600
SM_CHAIN_LEN = 5  # entities per chain → 4 b:link edges per chain
SM_TYPES = 5
SM_GROUPS = 20
XSD = "http://www.w3.org/2001/XMLSchema#"


def sparql_triples() -> pd.DataFrame:
    """The query store's string triples, in the term syntax extraction
    emits; the same for every seed.  10,400 b:link edges (above
    ``closure``'s 10,000-edge driver cap, so ``b:link+`` takes the
    distributed round loop), in chains of five so the loop converges in
    a few rounds."""
    rng = random.Random("sparql_mix:store")
    rows = []
    for k in range(SM_CHAINS * SM_CHAIN_LEN):
        e = f"<{B}e{k}>"
        rows += [
            (e, RDF_TYPE, f"<{B}T{rng.randrange(SM_TYPES)}>"),
            (e, f"<{B}name>", f'"name {k}"'),
            (e, f"<{B}val>", f'"{rng.randrange(1000)}"^^<{XSD}integer>'),
            (e, f"<{B}grp>", f"<{B}g{rng.randrange(SM_GROUPS)}>"),
        ]
        if rng.random() < 0.25:
            rows.append((e, f"<{B}flag>", f'"true"^^<{XSD}boolean>'))
        if k % SM_CHAIN_LEN != SM_CHAIN_LEN - 1:
            rows.append((e, f"<{B}link>", f"<{B}e{k + 1}>"))
    return pd.DataFrame(rows, columns=["subj", "pred", "obj"])


# ---------------------------------------------------------------------------
# patch_rw: a base quad store and RDF-Patch micro-batches over it
# ---------------------------------------------------------------------------

PR_BASE = 10_000
PR_COLD = [f"<{B}c{i}>" for i in range(12)]
PR_BATCH_ADDS = 150
PR_BATCH_DELS = 150
PR_BATCH_ABSENT_DELS = 40
PR_BATCH_ADD_DEL_PAIRS = 30  # added then deleted in the same batch


class PatchStream:
    """The base quads, the same for every seed, and each step's seeded
    batch.  Keeps the replayed store (a set of quads) the checks compare
    with."""

    def __init__(self, seed: int):
        self.rng = random.Random("patch_rw:base")
        self.next_subj = 0
        self.base_quads = [self._quad(self._pred(PR_COLD)) for _ in range(PR_BASE)]
        self.store = set(self.base_quads)
        self.rng = random.Random(f"patch_rw:{seed}")

    def _quad(self, pred: str) -> tuple:
        self.next_subj += 1
        s = f"<{B}r{self.next_subj}>"
        if pred == RDF_TYPE:
            o = f"<{B}K{self.rng.randrange(8)}>"
        else:
            o = f'"v{self.rng.randrange(10_000)}"'
        return (None, s, pred, o)

    def _pred(self, cold: list) -> str:
        return RDF_TYPE if self.rng.random() < 0.4 else self.rng.choice(cold)

    def base(self) -> pd.DataFrame:
        return _ops_frame([("A", q) for q in self.base_quads])

    def batch(self) -> tuple[pd.DataFrame, str]:
        """One micro-batch over the hot predicate and three cold ones,
        replayed onto ``self.store``; returns it with the cold predicate
        the step's read-back queries."""
        cold = self.rng.sample(PR_COLD, 3)
        units = [[("A", self._quad(self._pred(cold)))] for _ in range(PR_BATCH_ADDS)]
        live = sorted(q for q in self.store if q[2] in cold or q[2] == RDF_TYPE)
        units += [[("D", q)] for q in self.rng.sample(live, PR_BATCH_DELS)]
        units += [
            [("D", self._quad(self._pred(cold)))] for _ in range(PR_BATCH_ABSENT_DELS)
        ]
        for _ in range(PR_BATCH_ADD_DEL_PAIRS):
            q = self._quad(self._pred(cold))
            units.append([("A", q), ("D", q)])
        self.rng.shuffle(units)
        ops = [op for unit in units for op in unit]
        for op, q in ops:
            if op == "A":
                self.store.add(q)
            else:
                self.store.discard(q)
        return _ops_frame(ops), self.rng.choice(cold)


QUAD_OPS_DDL = "seq long, op string, graph string, subj string, pred string, obj string"
QUAD_OPS_SCHEMA = pa.schema(
    [("seq", pa.int64())] + [(c, pa.string()) for c in ("op", "graph", "subj", "pred", "obj")])


def _ops_frame(ops: list) -> pd.DataFrame:
    return pd.DataFrame({
        "seq": np.arange(len(ops), dtype=np.int64),
        "op": [op for op, _ in ops],
        "graph": pd.Series([q[0] for _, q in ops], dtype=object),
        "subj": [q[1] for _, q in ops],
        "pred": [q[2] for _, q in ops],
        "obj": [q[3] for _, q in ops],
    })


# ---------------------------------------------------------------------------
# near_dup: documents with near-duplicate copies, embeddings, linking
# ---------------------------------------------------------------------------

ND_DOCS = 800
ND_VECS = 2000
ND_DIM = 64
ND_ENTITIES = 150
ND_TOPK = 20

_WORDS = (
    "graph node edge triple store index query parse token scan join sort "
    "merge hash batch stream shard cache table key value row column page "
    "file block write read commit log plan cost rule term literal prefix"
).split()


def near_dup_docs(seed: int) -> pd.DataFrame:
    """A third of the documents are copies of an earlier one with one or
    two words replaced, so LSH banding finds verified pairs."""
    rng = random.Random(f"near_dup:docs:{seed}")
    texts: list = []
    for i in range(ND_DOCS):
        if texts and rng.random() < 0.33:
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randint(30, 60))]
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": np.arange(ND_DOCS, dtype=np.int64), "text": texts})


def near_dup_embeddings(seed: int) -> tuple[pd.DataFrame, list]:
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(16, ND_DIM))
    vecs = centers[rng.integers(0, 16, ND_VECS)] + 0.5 * rng.normal(size=(ND_VECS, ND_DIM))
    query = (centers[0] + 0.5 * rng.normal(size=ND_DIM)).round(3).tolist()
    df = pd.DataFrame({
        "vec_id": np.arange(ND_VECS, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
    })
    return df, query
