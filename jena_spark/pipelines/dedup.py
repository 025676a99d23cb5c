"""Deduplication operators: exact, MinHash(+LSH), SimHash, n-gram Jaccard.

The per-character work — shingle hashing for MinHash signatures and
Jaccard sets, SimHash, and the Jaccard intersection counts — runs in
Arrow-batched ``mapInPandas`` stages with numpy kernels; grouping,
banding, joins and the final score expressions stay JVM-side.  The hash
primitives are md5-based so a DuckDB oracle can reproduce values
bit-for-bit (md5 is the one hash both engines share).

Scale notes (100 TB design point):
- exact dedup: one hash-shuffle on md5(text) — never on raw text
  (shuffle payload is 32 bytes/row + keys);
- MinHash: shingling + per-seed minima are narrow (no shuffle until the
  band groupBy); candidate pairs come from a band-bucket self-join whose
  key cardinality grows with corpus size → hash-partition naturally;
  skewed buckets (boilerplate docs) are handled by AQE skew-join;
- pairwise verification (Jaccard) touches only candidate pairs, never
  the full cross product: on driver-broadcast sets below one size gate,
  through a JVM join above it.
"""

from __future__ import annotations

import hashlib
import logging
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..pinning import pin

log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Representative (min id) per distinct content hash."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

def _shingles(text_col: str, k: int) -> F.Column:
    """Character k-shingles as an array column, all JVM-side:
    positions 1..len-k+1 → substr.  Deduplicated (set semantics)."""
    c = F.col(text_col)
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(0))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: c.substr(i, F.lit(k)))
    )


_MERSENNE = 2147483647  # 2^31 - 1
# Below this upper bound of the hashed-set payload (8 bytes per shingle
# position + 32 per doc) both Jaccard entry points collect the sets to
# the driver and broadcast them to the Python verify; above it the JVM
# join runs, the only form that needs no driver-side copy of the sets.
_DRIVER_SETS_MAX_BYTES = 256 * 1024 * 1024
# The JVM join broadcasts its (measured) set table below this size and
# falls back to a sort-merge join above it.
_JVM_BROADCAST_MAX_BYTES = 512 * 1024 * 1024


def perm_consts(num_perm: int):
    """Deterministic affine coefficients for the MinHash permutations:
    a_i ∈ [1, P-1], b_i ∈ [0, P-1], derived from md5("a<i>")/md5("b<i>")
    so the DuckDB oracles can inline the SAME literals (the formula is
    the contract, not the numbers)."""
    out = []
    for i in range(num_perm):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) \
            % (_MERSENNE - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % _MERSENNE
        out.append((a, b))
    return out


def _shingle_digests(texts: list, k: int):
    """Distinct character k-shingles of each text → the first 64 bits of
    their md5 digest, the one hash every signature and set derives from.
    Digests are memoized per batch, so each DISTINCT shingle is hashed
    once (shared-vocabulary corpora repeat shingles heavily).  A text
    shorter than k is its own single shingle, as in the column form
    ``sequence(1, greatest(len-k+1, 0))`` the oracles mirror; null texts
    are skipped.

    Returns (rows, seg_lens, digests): the positions of the non-null
    texts, each one's distinct-shingle count, and their concatenated
    uint64 digests."""
    import numpy as np

    md5 = hashlib.md5
    rows: list = []
    seg_lens: list = []
    digests: list = []
    memo: dict = {}
    for i, text in enumerate(texts):
        if not isinstance(text, str):
            continue
        n = len(text)
        shset = {text[j : j + k] for j in range(n - k + 1)} if n >= k else {text}
        rows.append(i)
        seg_lens.append(len(shset))
        for s in shset:
            h = memo.get(s)
            if h is None:
                h = memo[s] = int.from_bytes(md5(s.encode("utf-8")).digest()[:8], "big")
            digests.append(h)
    return rows, np.array(seg_lens, dtype=np.int64), np.array(digests, dtype=np.uint64)


def _shingle_stage(
    docs: DataFrame, text_col: str, id_col: str, k: int, num_perm: int, with_sets: bool
) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` over (id, text) that emits the
    MinHash columns ``mh_0..mh_{num_perm-1}`` when ``num_perm`` > 0 and
    the sorted hashed-set column ``sh`` when ``with_sets``, each derived
    from :func:`_shingle_digests` only when emitted.  A null text gives
    an all-null signature row (it can still band) with a null set; a
    sets-only stage gives it no row.  Only (id, text) crosses the Arrow
    boundary and there is no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType

    consts = perm_consts(num_perm)
    a_mat = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    b_mat = np.array([b for _, b in consts], dtype=np.int64)[:, None]
    id_field = docs.schema[id_col]
    fields = [StructField(id_field.name, id_field.dataType, True)]
    fields += [StructField(f"mh_{i}", LongType(), True) for i in range(num_perm)]
    if with_sets:
        fields.append(StructField("sh", ArrayType(LongType(), True), True))
    M = _MERSENNE

    def batches_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].tolist()
            rows, seg_lens, digests = _shingle_digests(texts, k)
            null_rows = (
                [i for i, t in enumerate(texts) if not isinstance(t, str)]
                if num_perm else []
            )
            starts = np.zeros(len(rows), dtype=np.int64)
            np.cumsum(seg_lens[:-1], out=starts[1:])
            data = {
                id_field.name: pdf[id_col].iloc[rows + null_rows].reset_index(drop=True)
            }
            if num_perm:
                # signature base = first 60 bits mod P; permutation i is
                # the per-doc minimum of (a_i·h + b_i) mod P — all 64-bit
                # integer arithmetic (a, h < 2^31), so no rounding
                h = ((digests >> np.uint64(4)) % np.uint64(M)).astype(np.int64)
                if rows:
                    mins = np.minimum.reduceat((a_mat * h + b_mat) % M, starts, axis=1)
                else:
                    mins = np.empty((num_perm, 0), dtype=np.int64)
                pad = [None] * len(null_rows)
                for i in range(num_perm):
                    data[f"mh_{i}"] = pd.array(list(mins[i]) + pad, dtype="Int64")
            if with_sets:
                # set hash = the whole 64-bit digest, sign-wrapped
                signed = digests.view(np.int64)
                sets = [np.sort(signed[s : s + n])
                        for s, n in zip(starts.tolist(), seg_lens.tolist())]
                # dtype=object even when empty: an all-null-text batch
                # otherwise defaults the column to float64, which Arrow
                # cannot convert to list<int64>
                data["sh"] = pd.Series(sets + [None] * len(null_rows), dtype=object)
            yield pd.DataFrame(data)

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches_fn, StructType(fields)
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 8,
) -> DataFrame:
    """Per-doc MinHash signature, textbook affine-permutation form:
    each shingle hashes ONCE (md5 → 60-bit int → mod P, P = 2^31-1),
    then permutation i is min over shingles of (a_i·h + b_i) mod P.
    Columns: id, mh_0..mh_{num_perm-1} (BIGINT); a null text gives an
    all-null row.  Values are pinned by
    tests/test_pipelines.py::test_minhash_signatures_exact_values and
    by the DuckDB oracle, which computes the md5 formula itself."""
    return _shingle_stage(docs, text_col, id_col, k, num_perm, with_sets=False)


def hashed_shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """(id, sorted distinct 64-bit shingle-hash array) — the exact-set
    side of Jaccard verification.

    The hash is the first 8 bytes of md5 (sign-wrapped into int64).
    Set Jaccard is invariant under ANY injective hash, so the function
    used here is an internal detail — the DuckDB oracle keeps computing
    on raw shingle strings and agrees as long as no 64-bit collision
    lands inside one pair's union (that needs ~2^32 shingles per doc).
    Rows with a null text yield no row (they cannot be LSH candidates —
    their signature is all-null)."""
    return _shingle_stage(docs, text_col, id_col, k, 0, with_sets=True)


def _band_structs(sig_cols, bands: int, rows_per_band: int) -> F.Column:
    """array<struct<band_idx, band_key>> — band key = md5 of the band's
    concatenated minima.  Shared by dedup and entity linking so both go
    through the same single-join banding machinery."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(c)
                            for c in sig_cols[
                                b * rows_per_band : (b + 1) * rows_per_band
                            ]
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )


def minhash_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs
    (id_a < id_b).  Band key = md5 of the band's concatenated minima.

    Scale guards (the 100 TB design point):
    - ONE self-join on (band_idx, band_key) covers every band — no
      per-band join loop, no N-legged union;
    - buckets are pre-counted; singleton buckets (count 1) are pruned
      before the join, and buckets larger than ``max_bucket_size`` are
      DROPPED — one license-header bucket with 10^6 members would emit
      ~10^12 pairs and kill the job; standard MinHashLSH practice is to
      cap and report.  AQE skew-join spreads a merely-large bucket's
      shuffle, but only the cap shrinks the quadratic *output*.
    - the dropped buckets and their member mass are counted in the pass
      that pins the candidates and logged at WARNING on this module's
      logger, so truncation is never silent.
    """
    from pyspark.sql import Window

    sig_cols = [c for c in signatures.columns if c.startswith("mh_")]
    assert len(sig_cols) >= bands * rows_per_band
    band_structs = _band_structs(sig_cols, bands, rows_per_band)
    long = (
        signatures.select(F.col(id_col), F.explode(band_structs).alias("bk"))
        .select(F.col(id_col), F.col("bk.band_idx"), F.col("bk.band_key"))
    )
    # round 7: bucket sizes come from a window count over the SAME
    # (band_idx, band_key) partitioning the self-join needs, so the
    # banded table is exchanged once and the join reuses it
    # (ReusedExchange) — replacing the persist + groupBy-counts +
    # broadcast-semi-join pre-pass (three plan legs, a cache fill and a
    # broadcast build).  Same pruning semantics: singletons out,
    # over-cap buckets dropped.
    #
    # A dropped bucket is not discarded silently: its least member (the
    # window's min id) stays in the join as the bucket's one marker row,
    # which pairs with itself only and carries the bucket's band and
    # size, and the pin counts the markers in its observed aggregates.
    # The window output itself cannot be observed: a join that finds one
    # side empty stops reading the other, so rows below it would go
    # uncounted.
    w = Window.partitionBy("band_idx", "band_key")
    cnt, over = F.col("__cnt"), F.col("__cnt") > max_bucket_size
    filtered = (
        long.withColumn("__cnt", F.count("*").over(w))
        .withColumn("__rep", F.min(id_col).over(w))
        .filter(
            ((cnt >= 2) & ~over) | (over & (F.col(id_col) == F.col("__rep")))
        )
        .select(id_col, "band_idx", "band_key", "__cnt")
    )
    left = filtered.withColumnRenamed(id_col, "id_a")
    right = filtered.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key"
    )
    # pin the (capped, small) candidate set: it feeds ≥2 downstream
    # plans (verify + clustering) and must not re-run the banding
    marked, dropped = pin(
        left.join(right, ["band_idx", "band_key"])
        .filter((F.col("id_a") < F.col("id_b")) | over)
        .select(
            "id_a",
            "id_b",
            F.when(over, F.col("band_idx")).alias("__band"),
            F.when(over, cnt).alias("__drop"),
        )
        .distinct(),
        n_buckets=F.count("__drop"),
        n_members=F.sum("__drop"),
    )
    if dropped["n_buckets"]:
        log.warning(
            f"minhash_candidates: dropped {dropped['n_buckets']} "
            f"over-cap buckets (> {max_bucket_size}) covering "
            f"{dropped['n_members']} doc slots"
        )
    return marked.filter(F.col("__drop").isNull()).select("id_a", "id_b")


def minhash_sigs_and_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 8,
) -> DataFrame:
    """(id, mh_0..mh_{num_perm-1}, sh) in ONE Arrow stage: the columns of
    :func:`minhash_signatures` and :func:`hashed_shingle_sets` from one
    md5 digest per distinct shingle.  Null-text rows keep the all-null
    signature row (they can still band) with a null ``sh`` (they have
    no set — consumers drop them)."""
    return _shingle_stage(docs, text_col, id_col, k, num_perm, with_sets=True)


def dedup_jaccard_pipeline(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 8,
    bands: int = 2,
    rows_per_band: int = 4,
    max_bucket_size: int = 1000,
    threshold: float = 0.0,
) -> DataFrame:
    """signatures → LSH banding → exact Jaccard verify, end to end.
    Returns (id_a, id_b, jaccard), the same rows as
    ``minhash_signatures`` → ``minhash_candidates`` → ``jaccard_pairs``.

    Below the size gate (:func:`_sets_fit_driver`) signatures and
    shingle sets come from one text pass (:func:`minhash_sigs_and_sets`)
    and the verify runs on the driver-shipped sets; above it the
    signatures feed the JVM join."""
    if not _sets_fit_driver(docs, text_col, k):
        sigs = minhash_signatures(docs, text_col, id_col, k, num_perm)
        cands = minhash_candidates(
            sigs, id_col, bands, rows_per_band, max_bucket_size
        )
        return _jaccard_scores(
            _jaccard_jvm(docs, cands, text_col, id_col, k), threshold
        )
    combined = minhash_sigs_and_sets(
        docs, text_col, id_col, k, num_perm
    ).localCheckpoint(eager=True)
    cands = minhash_candidates(
        combined.drop("sh"), id_col, bands, rows_per_band, max_bucket_size
    )
    sets = combined.filter(F.col("sh").isNotNull()).select(id_col, "sh")
    return _jaccard_scores(_jaccard_verify_py(cands, sets, id_col), threshold)


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------

def _sets_fit_driver(docs: DataFrame, text_col: str, k: int) -> bool:
    """The one size gate of both Jaccard entry points: does an UPPER
    BOUND of the hashed-set payload (distinct shingles ≤ shingle
    positions ≤ text length) fit ``_DRIVER_SETS_MAX_BYTES``?  One narrow
    aggregate over text lengths; no set is built to decide."""
    ub = docs.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.greatest(F.length(text_col) - F.lit(k - 1), F.lit(1))),
            F.lit(0),
        ).alias("pos"),
    ).collect()[0]
    return ub["pos"] * 8 + ub["n"] * 32 <= _DRIVER_SETS_MAX_BYTES


def _jaccard_scores(counted: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, __i = |A∩B|, __s = |A|+|B|) → (id_a, id_b, jaccard):
    the division and round(…, 6) are JVM expressions shared by both
    verify paths, so their values agree bit for bit."""
    out = counted.select(
        "id_a",
        "id_b",
        F.round(F.col("__i") / (F.col("__s") - F.col("__i")), 6).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def _jaccard_verify_py(
    candidates: DataFrame, sets: DataFrame, id_col: str
) -> DataFrame:
    """Pairs-only intersection counts below the size gate: the (id_col,
    sh) set table is collected, packed id-sorted as one int64 value array
    + offsets, and shipped to the Python workers once as a Spark
    broadcast.  The candidate pairs — 16 bytes each — stream through one
    ``mapInPandas`` that resolves id → slot with ``np.searchsorted`` and
    counts each pair's sorted-array intersection.  The JVM form instead
    attaches both shingle arrays to every pair and allocates a boxed
    hash set per ``array_intersect``: ~74 µs per pair per core against
    ~8 µs here, measured at sf1 on a 32-core host.  Returns (id_a, id_b, __i, __s) for :func:`_jaccard_scores`.

    Ids keep their own type (integer or string).  Pairs referencing an
    id absent from the set table (null-text docs — their all-null
    signature can still share a band bucket) are dropped, mirroring the
    inner joins of the JVM form."""
    import numpy as np
    import pandas as pd

    tbl = sets.toArrow().sort_by(id_col)
    sh = tbl["sh"].combine_chunks()
    offsets = sh.offsets.to_numpy().astype(np.int64)
    packed = (
        tbl[id_col].to_numpy(),
        offsets - offsets[0],
        sh.flatten().to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
    )
    sc = candidates.sparkSession.sparkContext
    bc = sc.broadcast(packed)
    schema = StructType(
        [
            StructField("id_a", candidates.schema["id_a"].dataType, True),
            StructField("id_b", candidates.schema["id_b"].dataType, True),
            StructField("__i", LongType(), True),
            StructField("__s", LongType(), True),
        ]
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_s, offs, vals = bc.value

        def slots(ids):
            pos = np.searchsorted(ids_s, ids)
            found = pos < len(ids_s)
            found[found] = ids_s[pos[found]] == ids[found]
            return pos, found

        for pdf in batches:
            pa, found_a = slots(pdf["id_a"].to_numpy())
            pb, found_b = slots(pdf["id_b"].to_numpy())
            keep = found_a & found_b
            inter = np.zeros(len(pdf), dtype=np.int64)
            ssum = np.zeros(len(pdf), dtype=np.int64)
            for r in np.nonzero(keep)[0].tolist():
                sa = vals[offs[pa[r]] : offs[pa[r] + 1]]
                sb = vals[offs[pb[r]] : offs[pb[r] + 1]]
                ssum[r] = len(sa) + len(sb)
                if len(sb) < len(sa):
                    sa, sb = sb, sa
                p = np.searchsorted(sb, sa)
                ok = p < len(sb)
                inter[r] = np.count_nonzero(sb[p[ok]] == sa[ok])
            yield pdf.loc[keep, ["id_a", "id_b"]].assign(
                __i=inter[keep], __s=ssum[keep]
            )

    return candidates.repartition(sc.defaultParallelism).mapInPandas(verify, schema)


def _jaccard_jvm(
    docs: DataFrame, candidates: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Above the size gate: (id_a, id_b, __i, __s) by joining each
    candidate pair to the two docs' hashed shingle arrays and counting
    |A∩B| with ``array_intersect`` — two joins total and no exploded
    shingle shuffle (an explode-join was ~10× slower at 5k docs: the
    candidate set grows quadratically inside near-dup clusters).

    Only docs that appear in a candidate pair get their sets computed
    (a semi-join on the distinct pair ids runs first), and that table is
    pinned with an eager localCheckpoint so it is computed once, not once
    per join side.  Its size, observed in that pass, then picks the
    join: under ``_JVM_BROADCAST_MAX_BYTES`` it is broadcast (both joins
    key on the same ``id`` column, so Catalyst reuses ONE exchange for
    the two probes and the pairs never move with array payloads); above
    it the sort-merge join's second exchange carries pairs × array, the
    lower bound for a shuffle-based attach."""
    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = docs.join(ids, id_col, "left_semi")
    nonempty = F.size("sh") > 0
    sets, stats = pin(
        hashed_shingle_sets(cand_docs, text_col, id_col, k)
        .withColumnRenamed(id_col, "id"),
        n=F.count_if(nonempty),
        total_sh=F.coalesce(F.sum(F.when(nonempty, F.size("sh"))), F.lit(0)),
    )
    sets = sets.filter(nonempty)
    # 8 bytes per hashed shingle + ~32 bytes row overhead in the relation
    if stats["total_sh"] * 8 + stats["n"] * 32 <= _JVM_BROADCAST_MAX_BYTES:
        sets = F.broadcast(sets)
    a = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    # candidates is an AQE-coalesced checkpoint (bytes-tiny, compute-heavy
    # probe rows) — round-robin it across the cluster before the
    # per-pair intersections
    sc = candidates.sparkSession.sparkContext
    joined = (
        candidates.repartition(sc.defaultParallelism)
        .join(a, "id_a")
        .join(b, "id_b")
    )
    # __i is projected here, below _jaccard_scores' projection, so
    # array_intersect evaluates ONCE per pair (referencing it twice in
    # one projection re-evaluated it)
    return joined.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("__i"),
        (F.size("sh_a") + F.size("sh_b")).alias("__s"),
    )


def jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only → (id_a, id_b,
    jaccard).  Below the size gate (:func:`_sets_fit_driver`) every
    doc's set is collected and the pairs are verified in Python
    (:func:`_jaccard_verify_py`); sets of docs in no pair are never
    looked up, so no candidate-id semi-join is needed.  Above it the JVM
    join (:func:`_jaccard_jvm`) runs."""
    if _sets_fit_driver(docs, text_col, k):
        sets = hashed_shingle_sets(docs, text_col, id_col, k)
        counted = _jaccard_verify_py(candidates, sets, id_col)
    else:
        counted = _jaccard_jvm(docs, candidates, text_col, id_col, k)
    return _jaccard_scores(counted, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    nbits: int = 16,
) -> DataFrame:
    """nbits-bit SimHash over whitespace tokens.  Bit i of a token's
    fingerprint = parity of the i-th hex digit of md5(token) — a formula
    both Spark and an ANSI-SQL oracle can evaluate identically.
    simhash bit i = 1 iff sum over tokens of (+1/-1) > 0.

    Round 7: one Arrow-batched stage replacing explode → md5-per-token →
    16 conditional sums → groupBy (a 2.5M-row exchange at sf1 plus an
    md5 per token OCCURRENCE).  Token ±1 bit-vectors are memoized per
    batch (one md5 per DISTINCT token — shared-vocabulary corpora are
    ~40 distinct tokens) and per-doc sums are one numpy ``add.reduceat``.
    Pure integer arithmetic → values identical to the column form
    (pinned by tests/test_pipelines.py::test_simhash_matches_column_form);
    docs with no tokens yield no row, exactly like the former
    explode+filter.  Tokenization mirrors the JVM expression chain
    bit-for-bit: SQL trim strips U+0020 only (str.strip(" ")), the
    split is ASCII ``\\s+`` (Java ``\\s``), and empty tokens — incl.
    the leading/trailing ones Spark's limit=-1 split keeps — drop."""
    assert nbits <= 32
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    id_field = docs.schema[id_col]
    schema = StructType(
        [
            StructField(id_field.name, id_field.dataType, True),
            StructField("simhash", LongType(), True),
        ]
    )
    ws = re.compile(r"\s+", re.ASCII)  # == Java \s: [ \t\n\x0B\f\r]
    odd = frozenset("13579bdf")
    powers = np.array([1 << i for i in range(nbits)], dtype=np.int64)
    md5 = hashlib.md5

    def sim_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            tok_rows: list = []
            seg_lens: list = []
            memo: dict = {}
            vecs: list = []
            for did, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                if not isinstance(text, str):
                    continue
                toks = [
                    t for t in ws.split(text.strip(" ")) if t != ""
                ]
                if not toks:
                    continue
                ids.append(did)
                seg_lens.append(len(toks))
                for t in toks:
                    ix = memo.get(t)
                    if ix is None:
                        hx = md5(t.encode("utf-8")).hexdigest()
                        ix = len(vecs)
                        vecs.append(
                            [1 if hx[i] in odd else -1 for i in range(nbits)]
                        )
                        memo[t] = ix
                    tok_rows.append(ix)
            if ids:
                V = np.array(vecs, dtype=np.int64)
                starts = np.zeros(len(ids), dtype=np.int64)
                np.cumsum(seg_lens[:-1], out=starts[1:])
                sums = np.add.reduceat(V[np.array(tok_rows)], starts, axis=0)
                fps = ((sums > 0).astype(np.int64) * powers).sum(axis=1)
            else:
                fps = np.empty(0, dtype=np.int64)
            yield pd.DataFrame(
                {
                    id_field.name: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "simhash": fps,
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        sim_batches, schema
    )


# ---------------------------------------------------------------------------
# connected-components clustering (pairs → dedup groups)
# ---------------------------------------------------------------------------

def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Near-duplicate CLUSTERS from candidate/verified pairs: connected
    components by iterative min-label propagation → (doc_id, cluster_id)
    where cluster_id = the smallest doc id in the component (the
    canonical representative; docs with no pair are their own cluster).

    Scale shape (the 100 TB design point): each round is ONE
    edges⋈labels join + a min-aggregate, all hash-partitioned on the
    node id; the frontier label table is checkpointed per round so the
    plan stays flat, and the loop stops the first round nothing changes.
    Round count is bounded by the component diameter — near-dup clusters
    are shallow (pairs come from shared LSH buckets), so a handful of
    rounds covers real corpora; ``max_iter`` guards the pathological
    chain and raises rather than looping forever.
    """
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = (
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .persist()
    )
    labels = (
        docs.select(F.col(id_col).alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            nb = (
                edges.join(
                    labels.select(
                        F.col("node").alias("b"), F.col("lbl")
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("lbl").alias("nlbl"))
                .withColumnRenamed("a", "node")
            )
            # the pinned row keeps both labels, so the nodes whose label
            # drops are counted in the pinning pass
            step, moved = pin(
                labels.join(nb, "node", "left"),
                n=F.count_if(F.col("nlbl") < F.col("lbl")),
            )
            labels = step.select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            if moved["n"] == 0:
                break
        else:
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_iter} rounds "
                "(component diameter exceeds the bound)"
            )
    finally:
        edges.unpersist(blocking=True)
    return labels.select(
        F.col("node").alias(id_col), F.col("lbl").alias("cluster_id")
    )
