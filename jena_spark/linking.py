"""Entity linking: MinHash-LSH candidate generation + vectorized scoring.

The reference's nearest analog is jena-text's Lucene entity index
(jena-text/.../TextIndexLucene.java — literals tokenized into an index
keyed by subject URI; SURVEY.md §2.10); the LSH+scoring semantics here
are specified by BASELINE.json, not Jena.

Pipeline:
1. normalize code identifiers (lower-case, strip ``_``/``-`` — so
   ``HttpClient`` / ``http_client`` / ``HTTPCLIENT`` collide);
2. MinHash over character 3-grams of the normalized form, LSH banding →
   candidate (mention, entity) pairs — never the cross product;
3. scoring on candidates only: Levenshtein (Spark built-in, JVM-side)
   and shingle Jaccard; accept by threshold.

Scale (100 TB design point, same guards as ``pipelines.dedup``):
ONE exchange on (band_idx, band_key) covers every band — no per-band
join loop.  A window counts each bucket's rows per side; buckets present
on only one side are pruned (they can't produce a pair), and buckets
whose side exceeds ``max_bucket_size`` are DROPPED with their mass
loggable — a hot code identifier (``get``, ``set``, ``data``) with 10^6
mentions against 10^3 same-bucket entities would emit 10^9 pairs and
kill the job; AQE spreads a merely-large bucket's shuffle, but only
the cap shrinks the quadratic *output*.
"""

from __future__ import annotations

import random
from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .pipelines.dedup import minhash_signatures, _shingles, _band_structs


def normalized(col) -> F.Column:
    return F.lower(F.regexp_replace(col, r"[_\-]", ""))


def lsh_candidates(
    mentions: DataFrame,
    entities: DataFrame,
    mention_col: str = "mention",
    entity_col: str = "entity_name",
    k: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    max_bucket_size: int = 1000,
    log_fn=None,
) -> DataFrame:
    """(mention, entity_iri) candidate pairs via shared LSH band buckets.

    The banding of ``pipelines.dedup.minhash_candidates`` (same band
    keys via ``_band_structs``) over one table holding both sides: the
    distinct normalized forms of mentions and entities get their
    signatures in one pass, and a window over (band_idx, band_key)
    counts each bucket's mention rows and entity rows.  A bucket is kept
    when each side has 1..``max_bucket_size`` rows; its pairs are the
    cross product of its two sides, grouped on the window's partitioning
    so the banded table is exchanged once.  ``log_fn`` gets one line
    with the dropped over-cap bucket count and their pair mass, so
    truncation is never silent.
    """
    m = mentions.select(
        F.col(mention_col).alias("mention"), normalized(F.col(mention_col)).alias("m_norm")
    ).distinct()
    e = entities.select(
        F.col("entity_iri"),
        F.col(entity_col).alias("entity_name"),
        normalized(F.col(entity_col)).alias("e_norm"),
    ).distinct()
    # one row per mention or entity: its normalized form and, in the
    # column of its side, the row itself (the other side's is null).  A
    # null form has no signature; dropping it here rather than in the
    # join gives both readers of ``both`` one plan, so its shuffles run once
    both = (
        m.select(F.col("m_norm").alias("norm"), F.struct(*m.columns).alias("m"))
        .unionByName(
            e.select(F.col("e_norm").alias("norm"), F.struct(*e.columns).alias("e")),
            allowMissingColumns=True,
        )
        .filter(F.col("norm").isNotNull())
    )
    sigs = minhash_signatures(
        both.select("norm").distinct().withColumn("__txt", F.col("norm")),
        text_col="__txt",
        id_col="norm",
        k=k,
        num_perm=num_perm,
    )
    bs = _band_structs([f"mh_{i}" for i in range(num_perm)], bands, num_perm // bands)
    keys = ["band_idx", "band_key"]
    w = Window.partitionBy(*keys)
    counted = (
        both.join(sigs, "norm")
        .select("m", "e", F.explode(bs).alias("bk"))
        .select("m", "e", "bk.band_idx", "bk.band_key")
        .select(
            "*", F.count("m").over(w).alias("m_cnt"), F.count("e").over(w).alias("e_cnt")
        )
        .filter((F.col("m_cnt") > 0) & (F.col("e_cnt") > 0))
    )
    over_cap = (F.col("m_cnt") > max_bucket_size) | (F.col("e_cnt") > max_bucket_size)
    if log_fn is not None:
        # each bucket has m_cnt mention rows, each carrying e_cnt, so
        # their e_cnt sum is the bucket's pair mass m_cnt·e_cnt
        dropped = (
            counted.filter(over_cap & F.col("m").isNotNull())
            .agg(
                F.countDistinct(*keys).alias("n_buckets"),
                F.coalesce(F.sum("e_cnt"), F.lit(0)).alias("n_pairs"),
            )
            .collect()[0]
        )
        if dropped["n_buckets"]:
            log_fn(
                f"lsh_candidates: dropped {dropped['n_buckets']} over-cap "
                f"buckets (side > {max_bucket_size}) covering "
                f"{dropped['n_pairs']} candidate pairs"
            )
    # grouping needs no exchange: the window already partitioned the rows
    # by bucket, and a kept bucket's lists hold ≤ max_bucket_size rows each
    return (
        counted.filter(~over_cap)
        .groupBy(*keys)
        .agg(F.collect_list("m").alias("ms"), F.collect_list("e").alias("es"))
        .select(F.explode("ms").alias("m"), "es")
        .select("m.*", F.explode("es").alias("e"))
        .select("mention", "m_norm", "e.*")
        .distinct()
    )


def score_candidates(
    candidates: DataFrame,
    max_edit_distance: int = 2,
    min_jaccard: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Vectorized scoring of candidate pairs: Levenshtein on the
    normalized forms (JVM built-in) + char-shingle Jaccard; the accept
    rule is (edit ≤ max) OR (jaccard ≥ min)."""
    a = _shingles("m_norm", k)
    b = _shingles("e_norm", k)
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    scored = candidates.withColumn(
        "edit", F.levenshtein(F.col("m_norm"), F.col("e_norm"))
    ).withColumn(
        "jaccard",
        F.when(union > 0, F.round(inter / union, 6)).otherwise(F.lit(0.0)),
    )
    return scored.withColumn(
        "linked",
        (F.col("edit") <= max_edit_distance) | (F.col("jaccard") >= min_jaccard),
    )


def link_entities(
    mentions: DataFrame,
    entities: DataFrame,
    **kwargs,
) -> DataFrame:
    """Full pipeline → (mention, entity_iri, edit, jaccard) accepted links,
    best (lowest edit, then highest jaccard) entity per mention."""
    cands = lsh_candidates(mentions, entities)
    scored = score_candidates(cands, **kwargs).filter(F.col("linked"))
    best = scored.groupBy("mention").agg(
        F.min(F.struct(F.col("edit"), (-F.col("jaccard")).alias("nj"), F.col("entity_iri"))).alias("m")
    )
    return best.select(
        "mention",
        F.col("m.entity_iri").alias("entity_iri"),
        F.col("m.edit").alias("edit"),
        (-F.col("m.nj")).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Deterministic linking fixtures (FIXTURES.md §6): ~1k mentions over ~200
# entities, true pairs (case/underscore variants, edit ≤ 2) + hard negatives.
# ---------------------------------------------------------------------------

_WORDS = [
    "http", "client", "server", "parser", "token", "graph", "node", "index",
    "query", "stream", "batch", "cache", "store", "table", "shard", "merge",
    "hash", "link", "scan", "sort",
]


def linking_fixtures(spark: SparkSession, n_entities: int = 200, seed: int = 42):
    rng = random.Random(seed)
    entities: List[Tuple[str, str]] = []
    for i in range(n_entities):
        w1, w2 = rng.choice(_WORDS), rng.choice(_WORDS)
        name = w1.capitalize() + w2.capitalize() + (str(i % 7) if i % 3 == 0 else "")
        entities.append((f"http://example.org/entity/{i}", name))
    mentions: List[Tuple[str, str, bool]] = []
    for iri, name in entities:
        mentions.append((name, iri, True))  # exact
        mentions.append((name.lower(), iri, True))  # case variant
        # snake_case variant
        snake = "".join(
            ("_" + c.lower()) if c.isupper() else c for c in name
        ).lstrip("_")
        mentions.append((snake, iri, True))
        if rng.random() < 0.5:  # typo variant, edit distance 1
            pos = rng.randrange(len(name))
            mentions.append((name[:pos] + "x" + name[pos + 1 :], iri, True))
        if rng.random() < 0.4:  # hard negative: different entity, similar shape
            w = rng.choice(_WORDS)
            mentions.append((w.capitalize() + "Zzz" + str(rng.randrange(100)), iri, False))
    edf = spark.createDataFrame(entities, ["entity_iri", "entity_name"])
    mdf = spark.createDataFrame(mentions, ["mention", "gold_iri", "should_link"])
    return mdf, edf
