"""Dedup / similarity / text / multimodal / linking pipeline tests."""

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from jena_spark.pipelines import dedup as dd
from jena_spark.pipelines import similarity as sim
from jena_spark.pipelines import textstats as ts
from jena_spark.pipelines import multimodal as mm
from jena_spark import linking


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup
        (3, "completely different content about spark shuffles and parquet files"),
        (4, "short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup(docs):
    out = dd.dedup_exact(docs).collect()
    groups = {r["keep_id"]: r["n_copies"] for r in out}
    assert groups[0] == 2  # docs 0 and 1 collapse
    assert len(out) == 4


def test_minhash_finds_near_dups(docs):
    sigs = dd.minhash_signatures(docs, k=5, num_perm=8)
    pairs = {(r["id_a"], r["id_b"]) for r in dd.minhash_candidates(sigs).collect()}
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs  # near dup collides in some band
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_jaccard_scores(docs):
    sigs = dd.minhash_signatures(docs, k=5, num_perm=8)
    cands = dd.minhash_candidates(sigs)
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dd.jaccard_pairs(docs, cands).collect()}
    assert jac[(0, 1)] == 1.0
    assert 0.5 < jac[(0, 2)] < 1.0


def test_minhash_signatures_exact_values(spark):
    """Round 7 pinned the vectorized Arrow signature stage to the exact
    values the former pure-column form produced (captured from it before
    the rewrite), INCLUDING the quirky edges: empty text hashes the
    empty shingle, 1..k-1-char text hashes the whole text, null text
    yields an all-null signature row, duplicates agree."""
    rows = [(0, ""), (1, "ab"), (2, "shor"), (3, "exact"),
            (4, "hello world"), (5, None), (6, "     "), (7, "ab")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [tuple(r) for r in
           dd.minhash_signatures(docs, k=5, num_perm=8).orderBy("doc_id").collect()]
    expected = [
        (0, 1150107520, 1131670935, 473691030, 1036491907,
         1581334546, 1365902009, 59563042, 177587630),
        (1, 1069065985, 1853320067, 1121759091, 563005983,
         506666878, 219117120, 1892407925, 625820967),
        (2, 1832823864, 660940763, 251718375, 1401528243,
         1772587488, 1661471907, 1068705160, 388378730),
        (3, 209146584, 1717334756, 1683305953, 1339336346,
         999013664, 1822428832, 761266636, 1403193362),
        (4, 190255259, 41497253, 359314943, 528690632,
         230520582, 4244463, 3385610, 233391963),
        (5, None, None, None, None, None, None, None, None),
        (6, 959451177, 506089564, 1475045272, 1632661068,
         1891295517, 988351453, 1431592932, 1019009938),
        (7, 1069065985, 1853320067, 1121759091, 563005983,
         506666878, 219117120, 1892407925, 625820967),
    ]
    assert got == expected


def test_jaccard_pairs_matches_raw_shingle_sets(spark):
    """The hashed-set Jaccard (round 7: md5-based 64-bit hashes inside
    an Arrow stage) must equal Jaccard over the RAW k-shingle string
    sets — the injective-hash invariance the oracle relies on."""
    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox jumped over the lazy dogs",
        2: "pack my box with five dozen liquor jugs",
        3: "the quick brown fox jumps over the lazy dog",
    }
    docs = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], ["id_a", "id_b"]
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dd.jaccard_pairs(docs, cands, k=5).collect()}

    def raw(a, b):
        sa = {a[i:i + 5] for i in range(len(a) - 4)}
        sb = {b[i:i + 5] for i in range(len(b) - 4)}
        return round(len(sa & sb) / len(sa | sb), 6)

    expected = {(i, j): raw(texts[i], texts[j])
                for i, j in [(0, 1), (0, 2), (0, 3), (1, 2)]}
    assert got == expected


def test_jaccard_py_path_matches_jvm_path(spark, monkeypatch):
    """The driver-broadcast verify (pairs-only mapInPandas +
    searchsorted counts) below the size gate must reproduce the JVM
    broadcast-join + array_intersect path above it row-for-row,
    including the inner-join drop of pairs that reference a null-text
    doc."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumped over the lazy dogs"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, None),          # null text: no shingle set → its pairs drop
        (4, "tiny"),        # shorter than k: whole text is the shingle
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 5), (1, 2), (0, 3), (3, 4), (2, 4)],
        ["id_a", "id_b"],
    )
    py = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in dd.jaccard_pairs(docs, cands, k=5).collect()}
    monkeypatch.setattr(dd, "_DRIVER_SETS_MAX_BYTES", 0)
    jvm = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dd.jaccard_pairs(docs, cands, k=5).collect()}
    assert py == jvm
    assert (0, 3) not in py and (3, 4) not in py
    assert py[(0, 5)] == 1.0


def test_sigs_and_sets_matches_split_stages(spark):
    """The fused one-md5-pass stage must reproduce minhash_signatures
    and hashed_shingle_sets exactly, including null/short/empty text."""
    rows = [(0, ""), (1, "ab"), (2, "exact match of text"), (3, None),
            (4, "exact match of text"), (5, "   "), (6, "你好世界")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fused = {r["doc_id"]: r for r in
             dd.minhash_sigs_and_sets(docs, k=5, num_perm=8).collect()}
    sigs = {r["doc_id"]: r for r in
            dd.minhash_signatures(docs, k=5, num_perm=8).collect()}
    sets = {r["doc_id"]: r["sh"] for r in
            dd.hashed_shingle_sets(docs, k=5).collect()}
    assert set(fused) == set(sigs)
    for did, row in fused.items():
        for i in range(8):
            assert row[f"mh_{i}"] == sigs[did][f"mh_{i}"], did
        if did in sets:
            assert row["sh"] == sets[did], did
        else:
            assert row["sh"] is None, did


# four near-dup blocks plus a null and a short text
_BLOCK_DOCS = [(i, f"common words block {i % 4} repeated across documents")
               for i in range(30)] + [(30, None), (31, "xy")]


def test_dedup_jaccard_pipeline_matches_split(spark, monkeypatch):
    """The fused dedup_jaccard pipeline (both gate sides) must equal the
    split sigs → candidates → jaccard_pairs chain row-for-row."""
    docs = spark.createDataFrame(_BLOCK_DOCS, ["doc_id", "text"])
    sigs = dd.minhash_signatures(docs, k=5, num_perm=8)
    cands = dd.minhash_candidates(sigs, bands=2, rows_per_band=4)
    split = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dd.jaccard_pairs(docs, cands, k=5).collect()}
    fused_py = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in dd.dedup_jaccard_pipeline(docs, k=5, num_perm=8,
                                                   bands=2, rows_per_band=4
                                                   ).collect()}
    monkeypatch.setattr(dd, "_DRIVER_SETS_MAX_BYTES", 0)
    fused_jvm = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dd.dedup_jaccard_pipeline(
                     docs, k=5, num_perm=8, bands=2, rows_per_band=4
                 ).collect()}
    assert fused_py == split
    assert fused_jvm == split


def test_sets_fit_driver_both_sides(spark, monkeypatch):
    """With the driver-sets budget exactly at the payload upper bound
    the Python verify runs; one byte below it the JVM join runs, and its
    broadcast gate reads the set sizes observed in its pin, which equal
    the candidate docs' own non-empty sets.  Both give the same rows."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumped over the lazy dogs"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, None), (4, "tiny"), (5, ""), (6, "unrelated text in no pair"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (0, 3), (3, 4), (2, 4), (4, 5)],
        ["id_a", "id_b"],
    )
    k = 5
    # upper bound of the set payload: shingle positions (≥ 1 per doc,
    # null text included) × 8 bytes + 32 bytes per doc
    bound = 8 * sum(max(len(t or "") - (k - 1), 1) for _, t in rows) + 32 * len(rows)
    sets = {r["doc_id"]: r["sh"] for r in dd.hashed_shingle_sets(docs, k=k).collect()}
    in_pairs = {i for pair in cands.collect() for i in pair}
    want_stats = {
        "n": sum(1 for i in in_pairs if sets.get(i)),
        "total_sh": sum(len(sets[i]) for i in in_pairs if sets.get(i)),
    }
    ran, observed = [], []
    verify_py, jvm, pin = dd._jaccard_verify_py, dd._jaccard_jvm, dd.pin

    def spy_pin(df, **metrics):
        pinned, values = pin(df, **metrics)
        observed.append(values)
        return pinned, values

    monkeypatch.setattr(dd, "pin", spy_pin)
    monkeypatch.setattr(dd, "_jaccard_verify_py",
                        lambda *a: ran.append("py") or verify_py(*a))
    monkeypatch.setattr(dd, "_jaccard_jvm", lambda *a: ran.append("jvm") or jvm(*a))
    got = {}
    for budget in (bound, bound - 1):
        monkeypatch.setattr(dd, "_DRIVER_SETS_MAX_BYTES", budget)
        got[budget] = {(r["id_a"], r["id_b"]): r["jaccard"]
                       for r in dd.jaccard_pairs(docs, cands, k=k).collect()}
    assert ran == ["py", "jvm"]
    assert observed == [want_stats]
    assert got[bound] == got[bound - 1]
    assert set(got[bound]) == {(0, 1), (0, 2), (1, 2), (2, 4), (4, 5)}


def test_dedup_jaccard_string_ids_both_gate_sides(spark, monkeypatch):
    """String doc ids keep their type through the driver-broadcast
    verify and give the same rows as the JVM join above the gate."""
    rows = [(f"d{i}", f"shared words block {i % 3} across the corpus")
            for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def run():
        return {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in dd.dedup_jaccard_pipeline(
                    docs, k=5, num_perm=8, bands=2, rows_per_band=4
                ).collect()}

    py = run()
    monkeypatch.setattr(dd, "_DRIVER_SETS_MAX_BYTES", 0)
    assert py == run()
    assert py[("d0", "d3")] == 1.0


# --- in-test references for the top-k scorer ---------------------------------

def _fold_dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def _ref_cosine(v, w):
    """Cosine with every sum folded left to right in IEEE doubles."""
    return _fold_dot(v, w) / (math.sqrt(_fold_dot(v, v)) * math.sqrt(_fold_dot(w, w)))


def _spark_round(x, decimals):
    """Spark's round(): HALF_UP on the double's decimal string."""
    q = Decimal(1).scaleb(-decimals)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _ref_nearest(v, cent_rows):
    """Centroid id with the greatest cosine to v, lowest id on ties."""
    return max(cent_rows,
               key=lambda r: (_ref_cosine(v, r["cvec"]), -r["centroid_id"]))["centroid_id"]


def _ref_topk(vecs, qv, k, keep=lambda vid: True):
    """Top-k (id, cosine rounded to 4) by cosine desc, then id asc."""
    scored = [(vid, _spark_round(_ref_cosine(v, qv), 4))
              for vid, v in vecs if keep(vid)]
    return sorted(scored, key=lambda t: (-t[1], t[0]))[:k]


def _ref_ivf_topk(emb, qv, k, n_centroids, n_probe):
    """IVF top-k over the collected k-means centroids: probe the
    n_probe centroids nearest the query, rank their members."""
    cents = sim.kmeans_centroids(emb, n_centroids, 1).collect()
    probe = sorted(cents, key=lambda r: (-_ref_cosine(qv, r["cvec"]),
                                         r["centroid_id"]))[:n_probe]
    probe_ids = {r["centroid_id"] for r in probe}
    vecs = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    members = {vid for vid, v in vecs if _ref_nearest(v, cents) in probe_ids}
    return _ref_topk(vecs, qv, k, keep=members.__contains__)


def _topk_rows(out, method):
    return [(r["vec_id"], r["cosine"]) for r in out if r["method"] == method]


def test_topk_brute_and_ivf_matches_separate_scans(spark):
    """The shared-scan brute+IVF top-k must reproduce a brute-force and
    an IVF ranking computed separately in Python, row for row (same
    values, order and method tags)."""
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
         for i in range(60)],
        ["vec_id", "embedding"],
    )
    qv = [1.0, -0.5, 0.25, 0.0, 2.0, -1.0, 0.5, 0.75]
    both = sim.topk_brute_and_ivf(emb, qv, k=7, n_centroids=6, n_probe=3).collect()
    vecs = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    assert [r["method"] for r in both] == ["brute"] * 7 + ["ivf"] * 7
    assert _topk_rows(both, "brute") == _ref_topk(vecs, qv, 7)
    assert _topk_rows(both, "ivf") == _ref_ivf_topk(emb, qv, 7, 6, 3)


def test_scored_arrow_matches_hof_on_edge_rows(spark):
    """The Arrow scored stage against FIXED centroids: regular rows get
    the reference cosine and nearest centroid; a null vector or a
    wrong-dimension vector gets a null cosine and the lowest centroid
    id (the null-padded zip_with and struct-max tie-break of the column
    form).  A null vector inside the k-means init sample has always been
    out of contract."""
    from pyspark.sql import Row

    good = [(i, [float((i * 3 + j) % 7 - 3) for j in range(6)]) for i in range(20)]
    emb = spark.createDataFrame(
        good + [(20, None), (21, [1.0, 2.0]), (22, [0.5] * 9)],
        ["vec_id", "embedding"],
    )
    cent_rows = [
        Row(centroid_id=c, cvec=[float((c + j) % 5 - 2) for j in range(6)])
        for c in range(4)
    ]
    qv = [1.0, -1.0, 0.5, 0.0, 2.0, -0.5]
    got = [
        tuple(r) for r in
        sim._scored_arrow(emb, cent_rows, qv, "vec_id", "embedding")
        .select("vec_id", F.round(F.col("cosine"), 4).alias("cosine"), "centroid_id")
        .orderBy("vec_id")
        .collect()
    ]
    want = [(i, _spark_round(_ref_cosine(v, qv), 4), _ref_nearest(v, cent_rows))
            for i, v in good]
    want += [(20, None, 0), (21, None, 0), (22, None, 0)]
    assert got == want


def test_profile_matches_column_form(spark):
    """Round 7 rewrote ts.profile as an Arrow counts stage (+ JVM
    ratios); it must equal the former pure-column form — kept as
    ts._profile_columns — value-for-value and schema-for-schema over
    awkward inputs: null/empty/whitespace-only text, tab-only text
    (strip-space-only trim keeps two boundary empties), CJK block
    boundaries, unicode case folding, every punctuation-class char."""
    rows = [(0, None), (1, ""), (2, "   "), (3, "\t\t"), (4, "the cat"),
            (5, " the  and of\tto is "), (6, "你好一世界鿿丁"),
            (7, "Der Hund und die Katze ist"), (8, "a-b_c.d!e(f)g"),
            (9, "x"), (10, "MIXED Case The AND"),
            (11, "el de que los es le et les des est"),
            (12, "İstanbul STRASSE ẞ der"),
            (13, "tab\ttab\ntab\x0bx\x0cy\rz"), (14, "trailing space "),
            (15, " leading"), (16, "a  b"),
            (17, "123 456 .,;:!?'\"()[]{}- end")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    new_df = ts.profile(docs)
    old_df = ts._profile_columns(docs)
    assert new_df.schema == old_df.schema
    new = [tuple(r) for r in new_df.orderBy("doc_id").collect()]
    old = [tuple(r) for r in old_df.orderBy("doc_id").collect()]
    assert new == old


def test_simhash_matches_column_form(spark):
    """Round 7 rewrote simhash as an Arrow stage; it must equal the
    former pure-column form (rebuilt inline here) on awkward inputs:
    empty text and null text (no output row), leading/trailing/mixed
    whitespace, repeated tokens, unicode tokens."""
    rows = [(0, "hello world hello"), (1, ""), (2, None),
            (3, "  tab\tsep\ttokens  "), (4, "a"), (5, "naïve café 东京"),
            (6, " x \n y \r\n z "), (7, "hello world hello")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    nbits = 16
    toks = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select("id", F.md5(F.col("tok")).alias("__h"))
    )
    h = F.col("__h")
    bit_sums = [
        F.sum(
            F.when(F.instr(F.lit("13579bdf"), F.substring(h, i + 1, 1)) > 0, 1)
            .otherwise(-1)
        ).alias(f"b{i}")
        for i in range(nbits)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    fp = None
    for i in range(nbits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1)).otherwise(F.lit(0))
        term = bit * F.lit(2 ** i)
        fp = term if fp is None else fp + term
    old = {r["doc_id"]: r["simhash"]
           for r in agg.select(F.col("id").alias("doc_id"),
                               fp.cast("long").alias("simhash")).collect()}
    new = {r["doc_id"]: r["simhash"]
           for r in dd.simhash(docs, nbits=nbits).collect()}
    assert new == old
    assert 1 not in new and 2 not in new  # token-less docs yield no row


def test_simhash_near_for_near_dups(docs):
    out = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs, nbits=16).collect()}
    assert out[0] == out[1]
    ham02 = bin(out[0] ^ out[2]).count("1")
    ham03 = bin(out[0] ^ out[3]).count("1")
    assert ham02 < ham03


def test_cosine_topk_exact_baseline(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.topk_brute_and_ivf(emb, [1.0, 0.1, 0.0, 0.0], k=2,
                                 n_centroids=2, n_probe=1).collect()
    assert [r["vec_id"] for r in out if r["method"] == "brute"] == [0, 1]


def test_ivf_recall_against_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]
    out = sim.topk_brute_and_ivf(emb, qv, k=10, n_centroids=8, n_probe=4).collect()
    exact = _ref_topk([(r["vec_id"], r["embedding"]) for r in emb.collect()], qv, 10)
    assert _topk_rows(out, "brute") == exact
    recall = len({v for v, _ in exact} & {v for v, _ in _topk_rows(out, "ivf")}) / 10
    assert recall >= 0.5  # probe half the space → decent recall


def test_langid_markers(spark):
    rows = [
        (0, "the cat and the dog is of to the house"),
        (1, "der hund und die katze ist nicht der beste"),
        (2, "le chat et les chiens est des amis"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["pred_lang"] for r in ts.langid(docs).collect()}
    assert out == {0: "en", 1: "de", 2: "fr"}


def test_quality_and_tokens(docs):
    q = {r["doc_id"]: r for r in ts.quality(docs).collect()}
    assert q[4]["n_tokens"] == 2
    t = {r["doc_id"]: r for r in ts.token_counts(docs).collect()}
    assert t[4]["ws_tokens"] == 2 and t[4]["subword_pieces"] == 2


def test_fingerprint_ws_insensitive(spark):
    docs = spark.createDataFrame(
        [(0, "Hello  World"), (1, " hello world ")], ["doc_id", "text"]
    )
    fps = [r["fingerprint"] for r in ts.fingerprint(docs).collect()]
    assert fps[0] == fps[1]


def test_multimodal_metadata_and_frames(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(i, "payload " * (i + 1)) for i in range(6)], ["doc_id", "text"]
    )
    media = mm.media_from_documents(docs)
    meta = {r["media_id"]: r for r in mm.extract_metadata(media).collect()}
    assert len(meta) == 6
    assert all(r["decode_error"] is None for r in meta.values())
    for i, r in meta.items():
        n = len(("payload " * (i + 1)).encode())
        if r["media_type"] == "image":
            # REAL decode of the synthesized PNG
            assert (r["width"], r["height"]) == (1 + n % 31, 1 + n % 17)
            assert (r["channels"], r["bit_depth"]) == (1, 8)
        elif r["media_type"] == "audio":
            assert r["sample_rate"] == 8000
            assert r["n_frames"] == 1 + n % 100
            assert (r["channels"], r["bit_depth"]) == (1, 16)
        else:  # video rows stay opaque utf-8 bytes
            assert r["n_bytes"] == n
            assert r["sha256"] == hashlib.sha256(
                ("payload " * (i + 1)).encode()
            ).hexdigest()
    frames = mm.frame_sample(media, every_n=8)
    vids = {r["media_id"] for r in frames.collect()}
    assert vids == {2, 5}  # doc_id % 3 == 2 → video


def test_image_features_from_decoded_pixels(spark):
    docs = spark.createDataFrame(
        [(0, "abc"), (3, "zzzz")], ["doc_id", "text"]
    )
    media = mm.media_from_documents(docs)
    feats = {r["media_id"]: r for r in mm.image_features(media).collect()}
    # doc 0: n=3, w=4, h=4 → pixels = b"abc" tiled to 16 bytes
    pix = (b"abc" * 6)[:16]
    assert feats[0]["min_px"] == min(pix) and feats[0]["max_px"] == max(pix)
    assert abs(float(feats[0]["mean_px"]) - sum(pix) / 16) < 1e-6
    assert feats[3]["min_px"] == feats[3]["max_px"] == ord("z")


def test_png_decoder_reconstructs_all_filter_types():
    """Hand-filter scanlines with each of Sub/Up/Average/Paeth and check
    the decoder inverts them exactly (RFC 2083 §6)."""
    import random
    import struct
    import zlib

    rng = random.Random(7)
    w, h = 13, 5
    pixels = bytes(rng.randrange(256) for _ in range(w * h))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4]):
        row = pixels[y * w : (y + 1) * w]
        up = pixels[(y - 1) * w : y * w] if y else bytes(w)
        raw.append(f)
        for x in range(w):
            a = row[x - 1] if x else 0
            b = up[x]
            c = up[x - 1] if (x and y) else 0
            if f == 0:
                raw.append(row[x])
            elif f == 1:
                raw.append((row[x] - a) & 0xFF)
            elif f == 2:
                raw.append((row[x] - b) & 0xFF)
            elif f == 3:
                raw.append((row[x] - ((a + b) >> 1)) & 0xFF)
            else:
                raw.append((row[x] - paeth(a, b, c)) & 0xFF)

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    img = mm.decode_png(png)
    assert img["pixels"] == pixels
    assert (img["width"], img["height"], img["channels"]) == (w, h, 1)


def test_png_roundtrip_and_malformed_inputs():
    pix = bytes(range(24))
    png = mm.encode_png(6, 4, pix)
    img = mm.decode_png(png)
    assert img["pixels"] == pix and img["width"] == 6 and img["height"] == 4
    with pytest.raises(mm.MediaDecodeError):
        mm.decode_png(b"not a png at all")
    with pytest.raises(mm.MediaDecodeError):
        mm.decode_png(png[:-8])  # truncated IEND
    corrupted = bytearray(png)
    corrupted[20] ^= 0xFF  # flip an IHDR byte → CRC mismatch
    with pytest.raises(mm.MediaDecodeError):
        mm.decode_png(bytes(corrupted))
    assert mm.decode_image(png)["pixels"] == pix
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")


def test_wav_roundtrip_and_malformed_inputs():
    samples = [0, 100, -100, 32767, -32768]
    wav = mm.encode_wav(samples, sample_rate=44100)
    info = mm.decode_wav(wav)
    assert info == {"sample_rate": 44100, "channels": 1,
                    "bit_depth": 16, "n_frames": 5}
    with pytest.raises(mm.MediaDecodeError):
        mm.decode_wav(b"RIFFxxxxNOPE")
    with pytest.raises(mm.MediaDecodeError):
        mm.decode_wav(wav[:20])  # truncated


def test_linking_pr_gates(spark):
    mdf, edf = linking.linking_fixtures(spark, n_entities=60)
    # candidate recall on true pairs (LSH stage)
    cands = linking.lsh_candidates(mdf, edf)
    gold = mdf.filter("should_link").select(
        F.col("mention"), F.col("gold_iri").alias("entity_iri")
    ).distinct()
    hit = cands.join(gold, ["mention", "entity_iri"], "left_semi").count()
    recall_cand = hit / gold.count()
    assert recall_cand >= 0.95, f"candidate recall {recall_cand:.3f}"
    # end-to-end link accuracy
    links = linking.link_entities(mdf, edf)
    joined = links.join(mdf.filter("should_link"), "mention")
    correct = joined.filter(F.col("entity_iri") == F.col("gold_iri")).count()
    total_links = links.count()
    precision = correct / total_links
    recall = correct / gold.count()
    assert precision >= 0.9, f"precision {precision:.3f}"
    assert recall >= 0.9, f"recall {recall:.3f}"


# --- job ceilings: a change that adds an eager action fails here ------------
# Each ceiling is the count measured when it was set; lower it when a
# change earns it.


def test_link_entities_job_ceiling(spark, jobs_of):
    mdf, edf = linking.linking_fixtures(spark, 150)
    n = jobs_of(lambda: linking.link_entities(mdf, edf).collect())
    assert n <= 7, n


def test_dedup_jaccard_pipeline_job_ceiling(spark, jobs_of):
    docs = spark.createDataFrame(_BLOCK_DOCS, ["doc_id", "text"])
    n = jobs_of(lambda: dd.dedup_jaccard_pipeline(
        docs, k=5, num_perm=8, bands=2, rows_per_band=4).collect())
    assert n <= 10, n


# --- round 2: scale guards ---------------------------------------------------


def test_ivf_recall_skewed_corpus(spark):
    """k-means centroids must give usable buckets on a skewed corpus
    (90% of vectors clustered in one direction) where 'first n ids'
    sampling would waste most centroids on one cluster."""
    import math

    rows = []
    for i in range(200):
        if i < 180:  # dense cluster near e0 with small deterministic jitter
            v = [1.0 + 0.001 * ((i * 7) % 11)] + [
                0.01 * ((i * 13 + j) % 5) for j in range(1, 8)
            ]
        else:  # spread tail in other directions
            v = [0.1] * 8
            v[(i % 7) + 1] = 2.0 + 0.1 * (i % 3)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qv = rows[190][1]  # query inside the spread tail
    out = sim.topk_brute_and_ivf(emb, qv, k=10, n_centroids=8, n_probe=4).collect()
    exact = {vid for vid, _ in _ref_topk(rows, qv, 10)}
    recall = len(exact & {v for v, _ in _topk_rows(out, "ivf")}) / 10
    assert recall >= 0.9


def test_linking_bucket_cap_two_sided(spark):
    """A hot identifier bucket (many distinct mentions and entities all
    normalizing to the same string ⇒ identical signatures ⇒ one band
    bucket per band) must be dropped by the per-side cap instead of
    emitting |M|×|E| pairs — the two-sided analog of the dedup cap."""
    base = "httpclienthandlerfactorybuilderregistrymanager"  # 46 chars ≥ 41
    # 40 distinct surface forms per side, all with the same normalized form
    mentions = [(base[:i] + "_" + base[i:],) for i in range(1, 41)]
    entities = [
        (f"http://example.org/e/{i}", base[:i].upper() + base[i:])
        for i in range(1, 41)
    ]
    mdf = spark.createDataFrame(mentions, ["mention"])
    edf = spark.createDataFrame(entities, ["entity_iri", "entity_name"])
    msgs = []
    capped = linking.lsh_candidates(
        mdf, edf, max_bucket_size=10, log_fn=msgs.append
    )
    assert capped.count() == 0  # dropped, not exploded
    assert msgs and "dropped" in msgs[0]
    # cap high enough → the (quadratic) pairs do appear
    open_ = linking.lsh_candidates(mdf, edf, max_bucket_size=100)
    assert open_.count() == 40 * 40
    # one-sided bucket (entities only) produces no pairs and no drop log
    msgs2 = []
    none = linking.lsh_candidates(
        spark.createDataFrame([("zzzunrelatedzzz",)], ["mention"]),
        edf,
        max_bucket_size=10,
        log_fn=msgs2.append,
    )
    assert none.count() == 0 and not msgs2


def _drop_warnings(caplog):
    return [r.getMessage() for r in caplog.records
            if r.name == "jena_spark.pipelines.dedup"]


def test_lsh_bucket_cap_prevents_quadratic_blowup(spark, caplog):
    """A degenerate bucket (every doc identical ⇒ one band bucket of 1000)
    must be dropped by the cap instead of emitting ~500k pairs, and the
    drop is logged with its exact bucket and member counts."""
    docs = spark.createDataFrame(
        [(i, "the same boilerplate license header text") for i in range(1000)],
        ["doc_id", "text"],
    )
    sigs = dd.minhash_signatures(docs, num_perm=8)
    with caplog.at_level("WARNING", logger="jena_spark.pipelines.dedup"):
        capped = dd.minhash_candidates(
            sigs, bands=4, rows_per_band=2, max_bucket_size=100
        )
    assert capped.count() == 0  # dropped, not exploded
    assert _drop_warnings(caplog) == [
        "minhash_candidates: dropped 4 over-cap buckets (> 100) "
        "covering 4000 doc slots"
    ]
    # sanity: cap high enough → pairs do appear (and would be quadratic),
    # and nothing is logged
    caplog.clear()
    few = spark.createDataFrame(
        [(i, "the same boilerplate license header text") for i in range(10)],
        ["doc_id", "text"],
    )
    sigs2 = dd.minhash_signatures(few, num_perm=8)
    with caplog.at_level("WARNING", logger="jena_spark.pipelines.dedup"):
        assert dd.minhash_candidates(sigs2, max_bucket_size=100).count() == 45
    assert _drop_warnings(caplog) == []


def test_lsh_bucket_cap_counts_many_buckets_once(spark, caplog):
    """50 over-cap buckets of 40 members beside kept buckets: each
    dropped bucket and member is counted once, although the banded rows
    feed both sides of the self-join, and the kept buckets' pairs are
    all there."""
    import hashlib

    def text(tag):  # texts of different groups share no shingle
        return hashlib.md5(tag.encode()).hexdigest()

    rows = [(g * 40 + i, text(f"boilerplate {g}"))
            for g in range(50) for i in range(40)]
    rows += [(5000 + g * 3 + i, text(f"cluster {g}"))
             for g in range(10) for i in range(3)]
    sigs = dd.minhash_signatures(
        spark.createDataFrame(rows, ["doc_id", "text"]), num_perm=8
    )
    with caplog.at_level("WARNING", logger="jena_spark.pipelines.dedup"):
        got = {tuple(r) for r in dd.minhash_candidates(
            sigs, bands=1, rows_per_band=8, max_bucket_size=30).collect()}
    assert _drop_warnings(caplog) == [
        "minhash_candidates: dropped 50 over-cap buckets (> 30) "
        "covering 2000 doc slots"
    ]
    assert got == {(5000 + g * 3 + i, 5000 + g * 3 + j)
                   for g in range(10) for i in range(3) for j in range(i + 1, 3)}


def test_embedding_near_dup_recall_and_verify(spark):
    """True near-dup pairs (tiny perturbations, cosine ≥ 0.99) must all
    survive LSH banding + exact verification; spread-out vectors must
    not appear at a high threshold."""
    import math

    rows = []
    for i in range(40):
        base = [0.01 * ((i * 13 + j * 7) % 17 - 8) for j in range(8)]
        n = math.sqrt(sum(x * x for x in base)) or 1.0
        base = [x / n for x in base]
        rows.append((2 * i, base))
        # near-dup twin: tiny deterministic perturbation
        twin = [x + 0.001 * ((j + i) % 3 - 1) for j, x in enumerate(base)]
        rows.append((2 * i + 1, twin))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.embedding_near_dup(emb, threshold=0.99, dim=8)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    want = {(2 * i, 2 * i + 1) for i in range(40)}
    missed = want - got
    assert len(missed) <= 2, f"LSH recall too low, missed {missed}"
    # anything extra the banding surfaced was verified by the exact
    # cosine filter, so every returned pair genuinely qualifies
    verified = {r["cosine"] for r in out.collect()}
    assert all(c >= 0.99 for c in verified)


def test_embedding_near_dup_bucket_cap(spark, caplog):
    """Identical vectors (one degenerate bucket per band) are dropped by
    the cap instead of emitting n^2 pairs, and the drop is logged."""
    v = [1.0] + [0.0] * 7
    emb = spark.createDataFrame([(i, v) for i in range(50)], ["vec_id", "embedding"])
    with caplog.at_level("WARNING", logger="jena_spark.pipelines.dedup"):
        out = sim.embedding_near_dup(
            emb, threshold=0.5, dim=8, max_bucket_size=10
        )
    assert out.count() == 0
    assert _drop_warnings(caplog) == [
        "minhash_candidates: dropped 4 over-cap buckets (> 10) "
        "covering 200 doc slots"
    ]


def test_chunk_documents(spark):
    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(70))), (1, "a b"), (2, "")],
        ["doc_id", "text"],
    )
    out = sorted(
        ts.chunk_documents(docs, chunk_tokens=32, overlap=8).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 70 tokens, windows at 0/24/48 → 32+32+22
    assert [r["chunk_tokens"] for r in by_doc[0]] == [32, 32, 22]
    assert by_doc[0][1]["chunk_text"].startswith("w24 ")
    # overlap: last 8 tokens of chunk k = first 8 of chunk k+1
    c0, c1 = by_doc[0][0]["chunk_text"].split(), by_doc[0][1]["chunk_text"].split()
    assert c0[-8:] == c1[:8]
    # short and empty docs give one chunk
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_tokens"] == 2
    assert len(by_doc[2]) == 1


def test_banded_tables_unpersisted_after_candidates(spark):
    """Cache hygiene: the banded long tables are released before the
    candidate operators return (a long-lived session must not accumulate
    one cache entry per call)."""
    jsc = spark.sparkContext._jsc.sc()

    def n_cached():
        return jsc.getPersistentRDDs().size()

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over") for i in range(30)],
        ["doc_id", "text"],
    )
    before = n_cached()
    sigs = dd.minhash_signatures(docs)
    dd.minhash_candidates(sigs).collect()
    mentions, entities = linking.linking_fixtures(spark, n_entities=30)
    linking.lsh_candidates(mentions, entities).collect()
    # localCheckpoint blocks of the (small) returned candidates may
    # remain until GC, but the three .persist() entries must be gone
    import gc
    gc.collect()
    assert n_cached() - before <= 3  # checkpoint blocks only, no leaks growth
    # and calling again must not grow the cache further (the round-3
    # behavior leaked 3 persisted tables per call)
    mid = n_cached()
    dd.minhash_candidates(sigs).collect()
    linking.lsh_candidates(mentions, entities).collect()
    gc.collect()
    assert n_cached() <= mid + 3


def test_dedup_clusters_connected_components(spark):
    """Pairs → components: {1,2,3} via 1-2, 2-3; {4,5}; 6 singleton.
    cluster_id = min doc id of the component."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 7)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.dedup_clusters(docs, pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def _chain(spark, n=12):
    docs = spark.createDataFrame(
        [(i, "t") for i in range(n)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    return docs, pairs


def test_dedup_clusters_job_ceiling(spark, jobs_of):
    """The label loop counts its changed labels in the pass that pins
    them (114 jobs on this chain with a left-anti probe per round)."""
    docs, pairs = _chain(spark)
    n = jobs_of(lambda: dd.dedup_clusters(docs, pairs).collect())
    assert n <= 66, n


def test_dedup_clusters_chain_diameter(spark):
    """A longer chain still converges (diameter > 2) and the guard
    raises when max_iter is too small."""
    import pytest as _pytest

    docs, pairs = _chain(spark)
    out = dd.dedup_clusters(docs, pairs)
    assert {r["cluster_id"] for r in out.collect()} == {0}
    with _pytest.raises(RuntimeError):
        dd.dedup_clusters(docs, pairs, max_iter=2).collect()


# --- PNG/WAV codec property tests (hypothesis) ----------------------------

from hypothesis import given, settings
from hypothesis import strategies as hst


@settings(max_examples=60, deadline=None)
@given(hst.data())
def test_png_decode_inverts_any_filtered_encoding(data):
    """Property: for ANY pixel matrix and ANY per-row filter choice, the
    decoder reconstructs the original pixels (encoder-independent — the
    filtered stream is built by the test, not by encode_png)."""
    import struct
    import zlib

    w = data.draw(hst.integers(1, 24))
    h = data.draw(hst.integers(1, 12))
    pixels = bytes(
        data.draw(
            hst.lists(
                hst.integers(0, 255), min_size=w * h, max_size=w * h
            )
        )
    )
    filters = data.draw(hst.lists(hst.integers(0, 4), min_size=h, max_size=h))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    for y in range(h):
        row = pixels[y * w : (y + 1) * w]
        up = pixels[(y - 1) * w : y * w] if y else bytes(w)
        f = filters[y]
        raw.append(f)
        for x in range(w):
            a = row[x - 1] if x else 0
            b = up[x]
            c = up[x - 1] if (x and y) else 0
            d = (0, a, b, (a + b) >> 1, paeth(a, b, c))[f]
            raw.append((row[x] - d) & 0xFF)

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    img = mm.decode_png(png)
    assert img["pixels"] == pixels


@settings(max_examples=40, deadline=None)
@given(hst.binary(min_size=0, max_size=300))
def test_codec_fuzz_never_leaks_exceptions(blob):
    """Arbitrary bytes (optionally signature-prefixed) must raise only
    MediaDecodeError — any other exception type would escape the
    mapInPandas UDF and kill a whole Spark stage."""
    for payload in (blob, b"\x89PNG\r\n\x1a\n" + blob, b"RIFF" + blob):
        for dec in (mm.decode_png, mm.decode_wav):
            try:
                dec(payload)
            except mm.MediaDecodeError:
                pass


@settings(max_examples=30, deadline=None)
@given(
    hst.lists(hst.integers(-32768, 32767), min_size=0, max_size=200),
    hst.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    info = mm.decode_wav(mm.encode_wav(samples, rate))
    assert info == {"sample_rate": rate, "channels": 1, "bit_depth": 16,
                    "n_frames": len(samples)}
