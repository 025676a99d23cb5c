"""SPARQL algebra over a triples DataFrame — BGP, closure, facets.

The reference executes an Op tree through pull iterators
(sparql/engine/main/OpExecutor.java:127-464).  Here a *basic graph
pattern* compiles to a chain of self-joins over the triples view and the
rest of the algebra is native DataFrame ops — Catalyst provides every
rewrite that matters (SURVEY.md §4.1), so this module only adds the two
genuinely custom pieces:

- :func:`bgp` — pattern → join-chain compilation with the reference's
  grounded-terms-first / rdf:type-penalized reorder heuristic
  (sparql/engine/optimizer/reorder/ReorderFixed.java:32-108);
- :func:`closure` — the iterative join-until-fixpoint loop behind the
  ``+``/``*`` property paths (``ops.sparql._compile_path``, the one
  path evaluator) and the RDFS schema closures;
- :func:`facet_counts` — the fork-added jena-text faceting feature
  (docs/FEAT_FACETS_SPEC.md; TextFacetCountsPF.java) which is exactly
  groupBy().count().orderBy().limit() in Spark.

Variables are spelled ``?name``; anything else is a ground term in
canonical N-Triples encoding.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pinning import pin

RDF_TYPE_NT = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

Pattern = Tuple[str, str, str]


def _is_var(t: str) -> bool:
    return t.startswith("?")


def _pattern_weight(pat: Pattern) -> Tuple[int, int]:
    """Reorder heuristic: fewer variables first; rdf:type with variable
    subject penalized (ReorderFixed 'weights against rdf:type')."""
    s, p, o = pat
    nvars = sum(map(_is_var, pat))
    penalty = 1 if (p == RDF_TYPE_NT and _is_var(s)) else 0
    return (nvars + penalty, nvars)


def bgp(
    triples: DataFrame,
    patterns: Sequence[Pattern],
    reorder: bool = True,
    graph_term: Optional[str] = None,
    graph_var: Optional[str] = None,
) -> DataFrame:
    """Basic graph pattern → DataFrame of variable bindings.

    Each pattern is a filtered scan of the triples view; shared variables
    become equi-join keys (hash/broadcast/SMJ per Catalyst+AQE).  The
    binding relation has one column per variable (canonical term strings),
    i.e. rows = SPARQL solution mappings (unbound never occurs in BGP).

    Quad patterns (OpQuadPattern): when the input has a ``graph`` column,
    ``graph_term`` pins the named graph, ``graph_var`` binds it per row;
    with neither, the pattern matches the default graph (graph IS NULL).
    """
    has_graph = "graph" in triples.columns
    if has_graph:
        if graph_term is not None:
            triples = triples.filter(F.col("graph") == graph_term)
        elif graph_var is None:
            triples = triples.filter(F.col("graph").isNull())
        else:
            triples = triples.filter(F.col("graph").isNotNull())
    pats = sorted(patterns, key=_pattern_weight) if reorder else list(patterns)
    result: Optional[DataFrame] = None
    for i, (s, p, o) in enumerate(pats):
        scan = triples
        cols = []
        for pos, term in (("subj", s), ("pred", p), ("obj", o)):
            if _is_var(term):
                cols.append(F.col(pos).alias(term[1:]))
            else:
                scan = scan.filter(F.col(pos) == term)
        # a pattern like (?x, p, ?x) needs the self-equality filter
        names = [t[1:] for t in (s, p, o) if _is_var(t)]
        dup_pairs = []
        seen: Dict[str, str] = {}
        proj = []
        for pos, term in (("subj", s), ("pred", p), ("obj", o)):
            if not _is_var(term):
                continue
            v = term[1:]
            if v in seen:
                dup_pairs.append((seen[v], pos))
            else:
                seen[v] = pos
                proj.append(F.col(pos).alias(v))
        for a, b in dup_pairs:
            scan = scan.filter(F.col(a) == F.col(b))
        if has_graph and graph_var is not None:
            if graph_var in seen:
                # GRAPH ?g { … ?g … }: the graph variable also occurs in
                # the pattern — equality constraint, not a second column
                scan = scan.filter(F.col("graph") == F.col(seen[graph_var]))
            else:
                proj.append(F.col("graph").alias(graph_var))
        step = scan.select(*proj)
        if result is None:
            result = step
        else:
            shared = [c for c in step.columns if c in result.columns]
            result = (
                result.join(step, shared, "inner") if shared else result.crossJoin(step)
            )
    assert result is not None, "empty BGP"
    return result


# ---------------------------------------------------------------------------
# Transitive closure (sparql/path/eval/, SURVEY.md §2.7)
# ---------------------------------------------------------------------------

# closure()'s driver-side gates; its docstring gives the reasoning
DRIVER_EDGE_CAP = 10_000
DRIVER_PAIR_CAP = 2_000_000


def _py_closure(rows, keyed: bool, max_iters: int, what: str):
    """Driver-side semi-naive closure over collected edge rows — the
    same round structure as the distributed loop (so the max_iters
    convergence contract raises identically).  Returns the reach set as
    row tuples, or None if it outgrows :data:`DRIVER_PAIR_CAP` (caller
    falls back to the distributed fixpoint)."""
    adj: dict = {}
    reach = set()
    for r in rows:
        g = r["g"] if keyed else None
        e = (g, r["src"], r["dst"])
        reach.add(e)
        adj.setdefault((g, r["src"]), set()).add(r["dst"])
    frontier = reach
    for _ in range(max_iters):
        new = set()
        for g, s, d in frontier:
            for d2 in adj.get((g, d), ()):
                e = (g, s, d2)
                if e not in reach:
                    new.add(e)
        if not new:
            return (
                [(g, s, d) for g, s, d in reach]
                if keyed
                else [(s, d) for _, s, d in reach]
            )
        reach |= new
        if len(reach) > DRIVER_PAIR_CAP:
            return None
        frontier = new
    raise RuntimeError(
        f"{what} did not converge within {max_iters} iterations — "
        f"raise max_iters (rounds needed = graph diameter)"
    )


def closure(rel: DataFrame, max_iters: int = 50, what: str = "path") -> DataFrame:
    """Transitive closure of an arbitrary (src, dst) relation —
    iterative join-until-fixpoint, semi-naive: only the frontier joins
    the edges each round (the Spark analog of the reference's ALP
    iterator state, sparql/path/eval/).  Rounds = graph diameter.

    Each round's new pairs are pinned with an eager localCheckpoint
    that counts them in the same pass (:func:`pinning.pin`): the pin
    truncates the lineage, and a count of 0 ends the loop without a
    probe job.  The result is the plain union of the pinned pieces,
    since re-pinning it each round would cost a job and read nothing
    new.  Over 2,600 disjoint 5-node chains (10,400 edges, above the
    driver cap) ``closure(...).collect()`` runs 22 jobs on ``local[4]``;
    with a per-round ``isEmpty`` probe and a re-pinned union it ran 29.

    A driver-small distinct edge set (≤ :data:`DRIVER_EDGE_CAP` rows,
    the same small-side reasoning as a broadcast join) runs the same
    rounds on collected rows instead: a distributed round costs several
    jobs of scheduler latency, so a diameter-4 closure over a few dozen
    edges paid ~20 jobs for microseconds of work.  A reach set
    outgrowing :data:`DRIVER_PAIR_CAP` falls back to the distributed
    loop (a small EDGE set does not bound the closure size — a 10k-node
    chain closes to ~50M pairs).
    """
    # an optional 'g' column keys the closure per named graph (paths
    # never cross graph boundaries — OpGraph scoping)
    keys = ["g"] if "g" in rel.columns else []
    cols = keys + ["src", "dst"]
    edges = rel.select(*cols).distinct().persist()
    if edges.count() <= DRIVER_EDGE_CAP:
        rows = edges.collect()
        result = _py_closure(rows, bool(keys), max_iters, what)
        if result is not None:
            spark = rel.sparkSession
            out = spark.createDataFrame(result, schema=edges.schema)
            edges.unpersist()
            return out
    reach = edges.localCheckpoint(eager=True)
    frontier = reach
    for _ in range(max_iters):
        grown = (
            frontier.withColumnRenamed("dst", "mid")
            .join(edges.withColumnRenamed("src", "mid"), keys + ["mid"])
            .select(*cols)
            .distinct()
        )
        new, seen = pin(grown.exceptAll(reach), n=F.count(F.lit(1)))
        if seen["n"] == 0:
            edges.unpersist()
            return reach
        reach = reach.unionAll(new)
        frontier = new
    edges.unpersist()
    # a silently truncated closure is a WRONG answer, not a slow one
    raise RuntimeError(
        f"{what} did not converge within {max_iters} iterations — "
        f"raise max_iters (rounds needed = graph diameter)"
    )


# ---------------------------------------------------------------------------
# Facet counting (fork feature, SURVEY.md §2.10)
# ---------------------------------------------------------------------------

def facet_counts(
    triples: DataFrame, facet_predicate: str, max_values: int = 100
) -> DataFrame:
    """text:facetCounts parity: value/count pairs for one facet field,
    descending count then value (deterministic tie-break)."""
    return (
        triples.filter(F.col("pred") == facet_predicate)
        .groupBy(F.col("obj").alias("facet_value"))
        .agg(F.count("*").alias("facet_count"))
        .orderBy(F.desc("facet_count"), F.asc("facet_value"))
        .limit(max_values)
    )
