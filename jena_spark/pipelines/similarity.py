"""Similarity search over an embedding column (array<float>).

- :func:`topk_brute_and_ivf` — cosine top-k to a constant query vector,
  brute force AND IVF-bucketed, from one Arrow-batched scoring scan
  (:func:`_scored_arrow`) that yields each vector's cosine to the query
  and its nearest centroid.  Brute force is the exact baseline; IVF
  ranks only the vectors whose centroid is among the ``n_probe``
  centroids nearest the query, so on a cluster the assignment table can
  be bucketed by centroid id and a probe partition-pruned.
- :func:`kmeans_centroids` — the IVF centroids: init from a hash-ordered
  sample of the non-null vectors (md5 of the id — independent of id
  assignment order, so a skewed or sorted corpus cannot bias the picks),
  then Lloyd rounds whose assignment + partial sums run in one Arrow
  stage (:func:`_assign_partial_sums`) emitting long-form
  (centroid_id, i, n, s) rows; one JVM ``groupBy(centroid_id, i)``
  derives the means and the driver collects them.  The k × dim centroid
  table stays on the driver throughout, so a round's plan does not grow
  with the vector dimension.  Means are rounded to 6 decimals so an
  external oracle (DuckDB) reproduces assignments bit-for-bit despite
  float summation-order differences.
- :func:`embedding_near_dup` — near-duplicate pairs via sign-bit LSH
  banding and an exact cosine verify.

Every cosine sums left to right in IEEE doubles (the JVM ``aggregate``
fold, numpy ``cumsum`` and the driver's :func:`_py_norm` alike), so the
JVM column form, the Arrow stages and the oracles agree bit for bit.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_col(a, b) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _py_norm(vec) -> float:
    """Driver-side mirror of :func:`_norm` on a literal vector: strict
    left-to-right IEEE-double accumulation, bit-identical to the JVM
    ``aggregate`` fold over the same literal array."""
    import math

    s = 0.0
    for x in vec:
        s += float(x) * float(x)
    return math.sqrt(s)


def _centroid_arrays(cent_rows):
    """The collected (centroid_id, cvec) rows as numpy arrays sorted by
    centroid id: (vectors, norms via :func:`_py_norm`, ids).  Sorting
    makes an argmax tie resolve to the lowest centroid id."""
    import numpy as np

    rows = sorted(cent_rows, key=lambda r: int(r["centroid_id"]))
    return (
        np.array([[float(x) for x in r["cvec"]] for r in rows], dtype=np.float64),
        np.array([_py_norm(r["cvec"]) for r in rows], dtype=np.float64),
        np.array([int(r["centroid_id"]) for r in rows], dtype=np.int64),
    )


def _dense_rows(vec_list, dim: int):
    """Positions of the non-null vectors of length ``dim`` in one batch,
    those vectors as an (n × dim) float64 matrix, and their norms
    (left-to-right folds, like every sum here)."""
    import numpy as np

    ok_idx = [i for i, v in enumerate(vec_list) if v is not None and len(v) == dim]
    E = np.array([vec_list[i] for i in ok_idx], dtype=np.float64).reshape(-1, dim)
    return ok_idx, E, np.sqrt(np.cumsum(E * E, axis=1)[:, -1])


def _nearest_slot(vecs, norm_v, cent_mat, cent_norms):
    """Per row of ``vecs`` (with row norms ``norm_v``), the slot of the
    centroid with the greatest cosine: the first on ties (centroid rows
    are sorted by id) and a NaN cosine ranking greatest, as Spark orders
    doubles.  Every dot product is ``np.cumsum(…)[..., -1]`` — the strict
    left-to-right IEEE fold of the JVM ``aggregate`` — and each cosine is
    dot / (norm_v * norm_c), the multiply-then-divide order of
    :func:`cosine_col`, so the result is bit-identical to the column
    form and the DuckDB mirror."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        dots_c = np.cumsum(vecs[:, None, :] * cent_mat[None, :, :], axis=2)[:, :, -1]
        cos_c = dots_c / (norm_v[:, None] * cent_norms[None, :])
    return np.argmax(np.where(np.isnan(cos_c), np.inf, cos_c), axis=1)


def _scored_arrow(
    embeddings: DataFrame,
    cent_rows,
    query_vec: Sequence[float],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cosine-to-query, centroid_id) as ONE Arrow-batched stage:
    the cosine folds as in :func:`_nearest_slot`, and the caller applies
    ``round(cosine, decimals)`` as a JVM expression.

    A null vector, or one whose length differs from the query's, yields
    a null cosine and the lowest centroid id (what the column form's
    null-padded ``zip_with`` and struct-max tie-break give)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    cent_mat, cent_norms, cent_ids = _centroid_arrays(cent_rows)
    query = np.array([float(x) for x in query_vec], dtype=np.float64)
    qnorm = _py_norm(query_vec)
    dim = len(query)
    null_cid = int(cent_ids.min()) if len(cent_ids) else 0

    id_field = embeddings.schema[id_col]
    schema = StructType(
        [
            StructField(id_field.name, id_field.dataType, True),
            StructField("cosine", DoubleType(), True),
            StructField("centroid_id", LongType(), True),
        ]
    )

    def score(batches):
        for pdf in batches:
            vec_list = pdf[vec_col].tolist()
            n = len(vec_list)
            cos = np.full(n, np.nan)
            cid = np.full(n, null_cid, dtype=np.int64)
            ok_idx, E, norm_v = _dense_rows(vec_list, dim)
            if ok_idx:
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos[ok_idx] = np.cumsum(E * query, axis=1)[:, -1] / (norm_v * qnorm)
                cid[ok_idx] = cent_ids[_nearest_slot(E, norm_v, cent_mat, cent_norms)]
            cos_null = np.ones(n, dtype=bool)
            cos_null[ok_idx] = False
            # masked Float64: a plain float column would coerce the
            # null-row marker to NaN, which Spark orders GREATER than
            # every number — the column form yields SQL NULL there.
            # (explicit mask, not pd.array(), so a legitimately-NaN
            # cosine computed from NaN inputs stays NaN, not NA)
            yield pd.DataFrame(
                {
                    id_field.name: pdf[id_col],
                    "cosine": pd.arrays.FloatingArray(cos, cos_null),
                    "centroid_id": cid,
                }
            )

    return embeddings.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, schema
    )


def _assign_partial_sums(
    embeddings: DataFrame,
    cent_rows,
    vec_col: str,
) -> DataFrame:
    """Per-batch partial aggregates for one Lloyd round, in long form:
    one (centroid_id, i, n, s) row per centroid and dimension ``i``,
    with ``n`` the vectors that contributed to element ``i`` and ``s``
    their sum.  The exchange carries k × dim such rows per batch instead
    of per-vector assignments, and the schema (and so the plan) does not
    grow with the dimension.  Assignment is :func:`_nearest_slot`; the
    means the caller derives as round(sum(s) / sum(n), 6) depend on
    float summation order only below the 1e-6 rounding — the tolerance
    the DuckDB oracle mirror relies on.

    A vector whose length differs from the centroid dimension is
    assigned the lowest centroid id and contributes the elements it
    does have (as ``avg`` over ``getItem`` past the end skips nulls); a
    null vector contributes nothing but still lands in the lowest-id
    group."""
    import numpy as np
    import pandas as pd

    cent_mat, cent_norms, cent_ids = _centroid_arrays(cent_rows)
    dim = cent_mat.shape[1]
    null_cid = int(cent_ids.min())

    def partial(batches):
        for pdf in batches:
            vec_list = pdf[vec_col].tolist()
            ok_idx, E, norm_v = _dense_rows(vec_list, dim)
            sums: dict = {}
            cnts: dict = {}
            if ok_idx:
                slot = _nearest_slot(E, norm_v, cent_mat, cent_norms)
                for s in np.unique(slot):
                    grp = E[slot == s]
                    cid = int(cent_ids[s])
                    sums[cid] = np.add.reduce(grp, axis=0)
                    cnts[cid] = np.full(dim, len(grp), dtype=np.int64)
            ok_set = set(ok_idx)
            for i, v in enumerate(vec_list):
                if i in ok_set:
                    continue
                if null_cid not in sums:
                    sums[null_cid] = np.zeros(dim)
                    cnts[null_cid] = np.zeros(dim, dtype=np.int64)
                if v is not None:
                    m = min(len(v), dim)
                    sums[null_cid][:m] += np.asarray(v[:m], dtype=np.float64)
                    cnts[null_cid][:m] += 1
            cids = sorted(sums)
            yield pd.DataFrame(
                {
                    "centroid_id": np.repeat(np.array(cids, dtype=np.int64), dim),
                    "i": np.tile(np.arange(dim, dtype=np.int32), len(cids)),
                    "n": np.array([cnts[c] for c in cids], dtype=np.int64).reshape(-1),
                    "s": np.array([sums[c] for c in cids], dtype=np.float64).reshape(-1),
                }
            )

    return embeddings.select(F.col(vec_col)).mapInPandas(
        partial, "centroid_id long, i int, n long, s double"
    )


def _kmeans_rows(
    embeddings: DataFrame,
    n_centroids: int,
    iters: int,
    id_col: str,
    vec_col: str,
    decimals: int = 6,
) -> list:
    """The centroids of :func:`kmeans_centroids` as driver-side
    ``Row(centroid_id, cvec)`` rows sorted by id.  The table is
    driver-small by construction (k × dim values), so it stays on the
    driver from the init sample to the last round: each round ships it
    to the Arrow stage inside the closure (no join) and collects its
    k × dim means."""
    v = F.col(vec_col).cast("array<double>")
    hkey = F.md5(F.col(id_col).cast("string"))
    sample = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), v.alias("cvec"), hkey.alias("__h"))
        .orderBy("__h", id_col)
        .limit(n_centroids)
        .collect()
    )
    lengths = sorted({len(r["cvec"]) for r in sample})
    if len(lengths) > 1:
        raise ValueError(
            f"k-means init sample mixes vector lengths {lengths}; "
            "every centroid needs the same dimension"
        )
    rows = [Row(centroid_id=c, cvec=r["cvec"]) for c, r in enumerate(sample)]
    for _ in range(iters):
        if not rows:
            break
        dim = len(rows[0]["cvec"])
        # means = round(sum / count, decimals), whose summation order
        # the rounding absorbs
        means = (
            _assign_partial_sums(embeddings, rows, vec_col)
            .groupBy("centroid_id", "i")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
            .select(
                "centroid_id",
                "i",
                F.when(
                    F.col("n") > 0, F.round(F.col("s") / F.col("n"), decimals)
                ).alias("m"),
            )
            .collect()
        )
        cvecs: dict = {}
        for r in means:
            cvecs.setdefault(r["centroid_id"], [None] * dim)[r["i"]] = r["m"]
        rows = [Row(centroid_id=c, cvec=cvecs[c]) for c in sorted(cvecs)]
    return rows


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Deterministic k-means: init = the n_centroids non-null vectors
    first in md5(id) order (an order-free pseudo-random sample), then
    ``iters`` Lloyd rounds (k-means‖-lite; one round already fixes the
    arbitrary-sample quality problem for probing), each one Arrow stage
    (:func:`_assign_partial_sums`), one JVM ``groupBy(centroid_id, i)``
    and one collect.  Returns (centroid_id, cvec) from the driver-side
    rows of :func:`_kmeans_rows`.  Clusters that lose every member drop
    out.  An init sample whose vectors differ in length raises
    ``ValueError``."""
    rows = _kmeans_rows(embeddings, n_centroids, iters, id_col, vec_col, decimals)
    return embeddings.sparkSession.createDataFrame(
        rows, "centroid_id long, cvec array<double>"
    )


def _probe_choice(cent_rows, query_vec: Sequence[float], n_probe: int) -> list:
    """The n_probe centroid ids nearest the query, ranked driver-side
    over the collected (tiny) centroid table; ties go to the lowest id.
    The cosine sums left to right, like every other cosine here."""

    def _pycos(a, b):
        import math

        dot = n2 = q2 = 0.0
        for x, y in zip(a, b):
            dot += x * y
            n2 += y * y
            q2 += x * x
        return (
            dot / (math.sqrt(n2) * math.sqrt(q2))
            if n2 and q2
            else float("-inf")
        )

    qf = [float(x) for x in query_vec]
    ranked = sorted(
        cent_rows,
        key=lambda r: (-_pycos(qf, [float(x) for x in r["cvec"]]),
                       int(r["centroid_id"])),
    )
    return [int(r["centroid_id"]) for r in ranked[:n_probe]]


def topk_brute_and_ivf(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
    kmeans_iters: int = 1,
) -> DataFrame:
    """Brute-force AND IVF cosine top-k, method-tagged ('brute' rows
    then 'ivf' rows) → (method, id, cosine), cosine rounded to
    ``decimals`` and ranked descending with ties by ascending id.

    After the k-means pass, whose centroid rows stay on the driver
    (:func:`_kmeans_rows`), ONE scan (:func:`_scored_arrow`) yields
    (id, cosine-to-query, centroid_id); that ~24-byte/row decision table
    is pinned with a localCheckpoint and both rankings come from it —
    brute force over every row, IVF over the rows whose centroid is
    among the ``n_probe`` nearest the query (:func:`_probe_choice`)."""
    rows = _kmeans_rows(embeddings, n_centroids, kmeans_iters, id_col, vec_col)
    probe_ids = _probe_choice(rows, query_vec, n_probe)
    scored = (
        _scored_arrow(embeddings, rows, query_vec, id_col, vec_col)
        .select(
            F.col(id_col),
            F.round(F.col("cosine"), decimals).alias("cosine"),
            "centroid_id",
        )
        .localCheckpoint(eager=True)
    )
    brute = (
        scored.select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
        .select(F.lit("brute").alias("method"), F.col(id_col), F.col("cosine"))
    )
    ivf = (
        scored.filter(F.col("centroid_id").isin(probe_ids))
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
        .select(F.lit("ivf").alias("method"), F.col(id_col), F.col("cosine"))
    )
    return brute.unionByName(ivf)


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs (LSH-bucketed)
# ---------------------------------------------------------------------------

def hyperplane(dim: int, i: int) -> list:
    """Deterministic pseudo-random hyperplane i — integer arithmetic so a
    SQL oracle can reproduce every component exactly."""
    return [(((i * 37 + j * 13) % 21) - 10) / 10.0 for j in range(dim)]


def embedding_signatures(
    embeddings: DataFrame,
    nbits: int = 16,
    bits_per_band: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (sign-bit) LSH signatures, one ``mh_<b>`` string
    column of ``bits_per_band`` sign bits per band — the SimHash-for-
    vectors construction (Charikar), all JVM-side column expressions.
    Chunk columns are named ``mh_*`` so ``dedup.minhash_candidates``
    (rows_per_band=1) provides the capped single-join banding."""
    v = F.col(vec_col).cast("array<double>")
    bands = []
    for b in range(nbits // bits_per_band):
        bits = []
        for k in range(bits_per_band):
            h = F.array(
                *[F.lit(x) for x in hyperplane(dim, b * bits_per_band + k)]
            )
            bits.append(F.when(_dot(v, h) >= 0, F.lit("1")).otherwise(F.lit("0")))
        bands.append(F.concat(*bits).alias(f"mh_{b}"))
    return embeddings.select(F.col(id_col), *bands)


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    nbits: int = 16,
    bits_per_band: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate embedding pairs: sign-bit LSH banding → capped
    single self-join candidates → exact cosine verification (candidates
    only, never the cross product).  Returns (id_a, id_b, cosine).

    Scale: same guards as text MinHash dedup — pre-counted buckets,
    singleton pruning, over-cap buckets dropped and logged with their
    mass by :func:`dedup.minhash_candidates`.
    Recall is the usual banding trade-off (raise nbits / lower
    bits_per_band for closer thresholds)."""
    from .dedup import minhash_candidates

    sigs = embedding_signatures(
        embeddings, nbits, bits_per_band, dim, id_col, vec_col
    )
    cands = minhash_candidates(
        sigs,
        id_col=id_col,
        bands=nbits // bits_per_band,
        rows_per_band=1,
        max_bucket_size=max_bucket_size,
    )
    v = F.col(vec_col).cast("array<double>")
    a = embeddings.select(F.col(id_col).alias("id_a"), v.alias("v_a"))
    b = embeddings.select(F.col(id_col).alias("id_b"), v.alias("v_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
