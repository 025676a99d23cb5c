"""Output checks.  Every check returns (ok, reason); a wrong output counts
as a failed operation.  Reference answers come from DuckDB over the same
parquet the program read or wrote, or from numpy / plain Python."""

from __future__ import annotations

import glob
import os
from collections import Counter

import duckdb
import numpy as np

from inputs import B, RDF_TYPE

INT = "CAST(regexp_extract({c}, '^\"(-?[0-9]+)\"', 1) AS BIGINT)"
TRUE = "'\"true\"^^<http://www.w3.org/2001/XMLSchema#boolean>'"


def iri(local: str) -> str:
    return f"<{B}{local}>"


def sql_iri(local: str) -> str:
    return f"'{iri(local)}'"


def parquet_glob(table_dir: str) -> str:
    """Data files of a Spark-written (possibly partitioned) table."""
    files = glob.glob(os.path.join(table_dir, "*.parquet"))
    if files:
        return os.path.join(table_dir, "*.parquet")
    return os.path.join(table_dir, "*", "*.parquet")


def same_rows(got, want) -> tuple:
    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    if g == w:
        return True, ""
    missing, extra = w - g, g - w
    return False, (
        f"{sum(missing.values())} rows missing (e.g. {next(iter(missing), None)}), "
        f"{sum(extra.values())} unexpected (e.g. {next(iter(extra), None)})"
    )


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------

def check_kg_store(out_dir: str, extracted: int, expected: int) -> tuple:
    """Triple count from the generator; SPO/POS/OSP hold the same id
    multiset; every id resolves in ``nodes``."""
    if extracted != expected:
        return False, f"extracted {extracted} triples, generator gives {expected}"
    con = duckdb.connect()
    try:
        for t in ("spo", "pos", "osp", "nodes"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{parquet_glob(os.path.join(out_dir, t))}')"
            )
        n = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
             for t in ("spo", "pos", "osp")}
        if set(n.values()) != {expected}:
            return False, f"permutation row counts {n}, expected {expected}"
        cols = "g_id, s_id, p_id, o_id"
        for t in ("pos", "osp"):
            diff = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM spo "
                f"EXCEPT ALL SELECT {cols} FROM {t})"
            ).fetchone()[0]
            if diff:
                return False, f"spo and {t} differ in {diff} rows"
        dangling = con.execute(
            "SELECT count(*) FROM (SELECT s_id AS id FROM spo UNION "
            "SELECT p_id FROM spo UNION SELECT o_id FROM spo UNION "
            "SELECT g_id FROM spo WHERE g_id IS NOT NULL) ids "
            "ANTI JOIN nodes ON nodes.node_id = ids.id"
        ).fetchone()[0]
        if dangling:
            return False, f"{dangling} ids do not resolve in nodes"
        return True, ""
    finally:
        con.close()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# sparql_mix: one DuckDB query per template over the set-up string triples
# ---------------------------------------------------------------------------

PREFIXES = (
    f"PREFIX b: <{B}>\n"
    "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>\n"
)


def _join(alias: str, pred: str, on: str = "a.subj") -> str:
    return f"JOIN T {alias} ON {alias}.subj = {on} AND {alias}.pred = {sql_iri(pred)}"


def sparql_templates(rng, n_entities: int, n_types: int, n_groups: int) -> list:
    """One round: (name, kind, query or lookup args, oracle SQL).  kind is
    'sparql' (sparql_query) or 'lookup' (choose_index_encoded)."""
    t = rng.randrange(n_types)
    g = rng.randrange(n_groups)
    k = rng.randrange(n_entities - 1)
    th = rng.randrange(1000)
    type_t = f"a.pred = '{RDF_TYPE}' AND a.obj = {sql_iri(f'T{t}')}"
    grp_g = f"a.pred = {sql_iri('grp')} AND a.obj = {sql_iri(f'g{g}')}"
    no_flag = (
        f"NOT EXISTS (SELECT 1 FROM T f WHERE f.subj = a.subj "
        f"AND f.pred = {sql_iri('flag')} AND f.obj = {TRUE})"
    )
    return [
        ("bgp_star", "sparql",
         f"SELECT ?e ?n ?v WHERE {{ ?e rdf:type b:T{t} . ?e b:name ?n . "
         f"?e b:val ?v . ?e b:grp b:g{g} }}",
         f"SELECT a.subj, n.obj, v.obj FROM T a {_join('n', 'name')} "
         f"{_join('v', 'val')} {_join('g', 'grp')} AND g.obj = {sql_iri(f'g{g}')} "
         f"WHERE {type_t}"),
        ("optional_filter", "sparql",
         f"SELECT ?e ?v WHERE {{ ?e b:grp b:g{g} . "
         f"OPTIONAL {{ ?e b:val ?v . FILTER(?v > {th}) }} }}",
         f"SELECT a.subj, v.obj FROM T a LEFT {_join('v', 'val')} "
         f"AND {INT.format(c='v.obj')} > {th} WHERE {grp_g}"),
        ("not_exists", "sparql",
         f"SELECT ?e WHERE {{ ?e b:grp b:g{g} . "
         f"FILTER NOT EXISTS {{ ?e b:flag true }} }}",
         f"SELECT a.subj FROM T a WHERE {grp_g} AND {no_flag}"),
        ("minus", "sparql",
         f"SELECT ?e ?v WHERE {{ ?e rdf:type b:T{t} . ?e b:val ?v "
         f"MINUS {{ ?e b:flag true }} }}",
         f"SELECT a.subj, v.obj FROM T a {_join('v', 'val')} "
         f"WHERE {type_t} AND {no_flag}"),
        ("group_by", "sparql",
         f"SELECT ?g (COUNT(?e) AS ?n) (SUM(?v) AS ?s) WHERE {{ "
         f"?e rdf:type b:T{t} . ?e b:grp ?g . ?e b:val ?v }} GROUP BY ?g",
         f"SELECT g.obj, count(*), CAST(sum({INT.format(c='v.obj')}) AS BIGINT) "
         f"FROM T a {_join('g', 'grp')} {_join('v', 'val')} "
         f"WHERE {type_t} GROUP BY g.obj"),
        ("describe", "sparql",
         f"DESCRIBE b:e{k}",
         f"SELECT subj, pred, obj FROM T WHERE subj = {sql_iri(f'e{k}')}"),
        ("construct", "sparql",
         f"CONSTRUCT {{ ?e b:named ?n }} WHERE {{ ?e b:grp b:g{g} . ?e b:name ?n }}",
         f"SELECT DISTINCT a.subj, {sql_iri('named')}, n.obj FROM T a "
         f"{_join('n', 'name')} WHERE {grp_g}"),
        ("ask", "sparql",
         f"ASK {{ b:e{k} b:link b:e{k + 1} }}",
         f"SELECT EXISTS (SELECT 1 FROM T WHERE subj = {sql_iri(f'e{k}')} "
         f"AND pred = {sql_iri('link')} AND obj = {sql_iri(f'e{k + 1}')})"),
        ("link_plus", "sparql",
         f"SELECT ?x ?y WHERE {{ ?x b:grp b:g{g} . ?x b:link+ ?y }}",
         f"WITH RECURSIVE r(x, y) AS ("
         f"SELECT subj, obj FROM T WHERE pred = {sql_iri('link')} UNION "
         f"SELECT r.x, t.obj FROM r JOIN T t ON t.subj = r.y "
         f"AND t.pred = {sql_iri('link')}) "
         f"SELECT a.subj, r.y FROM T a JOIN r ON r.x = a.subj WHERE {grp_g}"),
        ("lookup_hot", "lookup",
         {"p": RDF_TYPE, "o": iri(f"T{t}")},
         f"SELECT subj, pred, obj FROM T WHERE pred = '{RDF_TYPE}' "
         f"AND obj = {sql_iri(f'T{t}')}"),
        ("lookup_cold", "lookup",
         {"p": iri("grp"), "o": iri(f"g{g}")},
         f"SELECT subj, pred, obj FROM T WHERE pred = {sql_iri('grp')} "
         f"AND obj = {sql_iri(f'g{g}')}"),
    ]


class TriplesOracle:
    """DuckDB over the set-up store's string triples."""

    def __init__(self, triples_dir: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE T AS SELECT subj, pred, obj FROM "
            f"read_parquet('{parquet_glob(triples_dir)}')"
        )

    def rows(self, sql: str) -> list:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# patch_rw
# ---------------------------------------------------------------------------

def read_quad_store(store_dir: str) -> set:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT graph, subj, pred, obj FROM read_parquet("
            f"'{os.path.join(store_dir, 'p_part=*', '*.parquet')}', hive_partitioning = false)"
        ).fetchall()
    finally:
        con.close()
    return set(rows)


def partition_listing(store_dir: str) -> dict:
    """p_part directory → its data file names (to count rewrites)."""
    out = {}
    for d in glob.glob(os.path.join(store_dir, "p_part=*")):
        out[os.path.basename(d)] = frozenset(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )
    return out


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------

def entry_oracle(name: str, tables: dict) -> list:
    """Rows of ``__spark_entry__.oracle_sql()[name]`` with its tables
    bound to the given parquet globs."""
    import __spark_entry__ as em

    con = duckdb.connect()
    try:
        for t, path in tables.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(em.oracle_sql()[name]).fetchall()
    finally:
        con.close()


def check_jaccard(got: list, want: list) -> tuple:
    g = {(a, b): j for a, b, j in got}
    w = {(a, b): j for a, b, j in want}
    if g.keys() != w.keys():
        return False, f"pairs differ: {len(g.keys() - w.keys())} extra, {len(w.keys() - g.keys())} missing"
    bad = [k for k in w if abs(g[k] - w[k]) > 1e-6]
    return (not bad), (f"{len(bad)} jaccard values differ" if bad else "")


def brute_topk(vecs: np.ndarray, query: list, k: int) -> tuple:
    """numpy cosine top-k (ids, cosines) by cosine desc, id asc."""
    v = vecs.astype(np.float64)
    q = np.asarray(query, dtype=np.float64)
    cos = v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.arange(len(cos)), -cos))[:k]
    return order, cos


def check_topk(got_brute: list, vecs: np.ndarray, query: list, k: int) -> tuple:
    """Brute-force rows (vec_id, cosine rounded to 4 places) against
    numpy; ids may differ only among cosines tied at 4 places."""
    order, cos = brute_topk(vecs, query, k)
    if len(got_brute) != k:
        return False, f"{len(got_brute)} brute rows, expected {k}"
    kth = cos[order[-1]]
    for rank, (vid, c) in enumerate(got_brute):
        if abs(c - cos[order[rank]]) > 1e-4 + 1e-9:
            return False, f"rank {rank}: cosine {c} vs numpy {cos[order[rank]]:.6f}"
        if cos[vid] < kth - 1e-4:
            return False, f"vec {vid} is not in the numpy top-{k}"
    return True, ""


def linking_quality(links: list, gold: list) -> tuple:
    """(precision, recall) of accepted (mention, entity_iri) links against
    the fixture's (mention, gold_iri, should_link) labels."""
    good = {(m, g) for m, g, should in gold if should}
    should = {m for m, _g, s in gold if s}
    correct = [(m, e) for m, e in links if (m, e) in good]
    precision = len(correct) / len(links) if links else 0.0
    recall = len({m for m, _ in correct}) / len(should) if should else 0.0
    return precision, recall
