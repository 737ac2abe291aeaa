"""Unit tests for the extension operators (asof, dedup, similarity,
text, multimodal) on small crafted inputs — golden semantic cases in the
reference's test style (exact expected values, adj_test.go-like)."""

import math

import pytest
from pyspark.sql import functions as F

from opentick_spark.operators import dedup as D
from opentick_spark.operators import multimodal as M
from opentick_spark.operators import similarity as S
from opentick_spark.operators import text as X
from opentick_spark.operators.asof import asof_join


# ---------------------------------------------------------------------- asof
@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [(1, 5), (1, 10), (2, 3)], "k int, t long"
    )
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 7, "b"), (2, 100, "z")], "k int, rt long, v string"
    )
    return left, right


def test_asof_backward(asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, on=["k"], left_time="t", right_time="rt")
    rows = {(r.k, r.t): r.v for r in out.collect()}
    # inclusive: right row at exactly t=5 is picked
    assert rows == {(1, 5): "a", (1, 10): "b", (2, 3): None}


def test_asof_forward(asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="rt", direction="forward"
    )
    rows = {(r.k, r.t): r.v for r in out.collect()}
    # exclusive: right row at exactly t=5 is NOT picked (strictly after)
    assert rows == {(1, 5): "b", (1, 10): None, (2, 3): "z"}


def test_asof_tolerance(asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="rt", tolerance=2
    )
    rows = {(r.k, r.t): r.v for r in out.collect()}
    # t=10 matches rt=7 but gap 3 > tolerance 2 → null
    assert rows == {(1, 5): "a", (1, 10): None, (2, 3): None}


# --------------------------------------------------------------------- dedup
@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "Hello, World!"),
        (2, "hello world"),  # exact dup of 1 after normalization
        (3, "a b c d e"),
        (4, "a b c d f"),  # bigram jaccard 3/5 with 3
        (5, "totally different text about spark engines"),
        (6, ""),  # no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    groups = {
        r.keeper: (r.n_copies, r.members)
        for r in D.exact_duplicates(docs).collect()
    }
    assert groups[1] == (2, [1, 2])
    assert groups[3] == (1, [3])


def test_ngram_jaccard_golden(docs):
    pairs = {
        (r.id_a, r.id_b): r.jac
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(3, 4)] == pytest.approx(3 / 5)
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (3, 5) not in pairs and (4, 5) not in pairs


def test_prefix_filter_jaccard_golden(docs):
    pairs = {
        (r.id_a, r.id_b): r.jac
        for r in D.prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(3, 4)] == pytest.approx(3 / 5)
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (3, 5) not in pairs and (4, 5) not in pairs


def test_prefix_filter_matches_inverted_index(spark):
    # the prefix-filtered exact join must return the IDENTICAL pair set
    # and values as the full inverted-index exact join (completeness of
    # the prefix scheme), across thresholds
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.3, 0.5, 0.55, 0.8):
        exact = {
            (r.id_a, r.id_b): round(r.jac, 9)
            for r in D.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pf = {
            (r.id_a, r.id_b): round(r.jac, 9)
            for r in D.prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        }
        assert pf == exact


def test_prefix_filter_prunes_candidates(spark):
    # the point of the technique: candidate pairs from prefix shingles
    # are a strict subset of pairs sharing ANY shingle
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    e = D.exploded_shingles(docs)
    full = (
        e.alias("a")
        .join(e.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    # replicate the operator's candidate generation (prefix = rarest
    # |S| - ceil(t|S|) + 1 shingles) and count candidate pairs directly
    from pyspark.sql import Window

    t = 0.5
    dfreq = e.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("id").orderBy("__df", "g")
    ranked = e.join(dfreq, "g").select(
        "id",
        "g",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("__n"),
    )
    prefix = ranked.filter(
        F.col("__r") <= F.col("__n") - F.ceil(F.lit(t) * F.col("__n")) + 1
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    assert cand < full  # fewer pairs ever reach verification

    with pytest.raises(ValueError, match="threshold"):
        D.prefix_filter_jaccard_pairs(docs, threshold=0.0)


def test_minhash_cluster_edges_equivalent_components(spark):
    # r5: star edges must cluster identically to the all-pairs op on
    # duplicate-group (clique) fixtures — the pathological shape the
    # operator exists for — while emitting no MORE edges than pairs
    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(i, base + f"tail variant {i % 3}") for i in range(12)]
    rows += [(100, "completely unrelated content one two three")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(df, threshold=0.8)
    star = D.minhash_cluster_edges(df, threshold=0.8)
    comp_pairs = {
        (r.id, r.cluster) for r in D.connected_components(pairs).collect()
    }
    comp_star = {
        (r.id, r.cluster) for r in D.connected_components(star).collect()
    }
    assert comp_pairs == comp_star
    n_star, n_pairs = star.count(), pairs.count()
    assert 0 < n_star <= n_pairs
    # star edges all emanate from bucket minima and verify exactly
    for r in star.collect():
        assert r.id_a < r.id_b and r.jac >= 0.8
    # unverified star edges reproduce the unverified candidate
    # components too (the exact guarantee)
    raw = D.minhash_cluster_edges(df, threshold=0.8, verify=False)
    assert {tuple(r) for r in raw.columns} is not None  # schema sanity
    comp_raw = {
        (r.id, r.cluster) for r in D.connected_components(raw).collect()
    }
    assert {c for _, c in comp_raw} <= {i for i, _ in comp_raw}


def test_prefix_filter_rational_threshold_boundary(spark):
    # r5 ADVICE regression: at thresholds whose float product with a set
    # size lands just ABOVE the true integer (0.2*5 =
    # 1.0000000000000002), the old code's ceil() shortened the prefix
    # one below the completeness bound AND the strict size filter
    # (t*|A| <= |B|) excluded boundary-size candidates. Construction
    # that trips BOTH: doc 1 has 5 bigrams whose only shared shingle is
    # its most COMMON one (rank 5, outside a 1-short prefix), doc 2 is
    # that single bigram (size filter: 0.2*5 <= 1 fails in raw float),
    # J(1,2) = 1/5 = threshold exactly.
    rows = [
        (1, "u1 u2 u3 u4 alpha beta"),  # bigrams: 4 unique + "alpha beta"
        (2, "alpha beta"),
        (3, "alpha beta"),  # fillers push df("alpha beta") to 5 so it
        (4, "alpha beta"),  # ranks LAST (most common) in doc 1's
        (5, "alpha beta"),  # rarest-first prefix ordering
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.2
    exact = {
        (r.id_a, r.id_b): round(r.jac, 9)
        for r in D.ngram_jaccard_pairs(df, threshold=t).collect()
    }
    pf = {
        (r.id_a, r.id_b): round(r.jac, 9)
        for r in D.prefix_filter_jaccard_pairs(df, threshold=t).collect()
    }
    assert (1, 2) in exact and exact[(1, 2)] == pytest.approx(t)
    assert pf == exact  # the exactly-at-threshold pair must survive


def test_minhash_lsh_matches_exact(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(i, base + f"tail variant {i % 3}") for i in range(12)]
    rows += [(100, "completely unrelated content one two three")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b): r.jac
        for r in D.ngram_jaccard_pairs(df, threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jac
        for r in D.minhash_lsh_pairs(df, threshold=0.8).collect()
    }
    # at J>=0.8 with 32x4 banding, recall is ~1: same pairs, same values
    assert lsh == pytest.approx(exact)
    assert len(exact) > 0


def test_simhash_near_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and againn"),
        (3, "an entirely distinct document concerning databases"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_pairs(df, max_hamming=12).collect()
    }
    # one trailing-token change over ~11 bigrams lands at hamming 9
    assert (1, 2) in pairs and pairs[(1, 2)] <= 12
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_cosine_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r.id_a, r.id_b): r.cos
        for r in D.embedding_cosine_pairs(df, threshold=0.9).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == pytest.approx(0.999 / math.hypot(0.999, 0.01), abs=1e-6)


def test_semantic_dedup_keep_lowest_id(spark):
    # two tight clusters around anchors 0 and 4, plus one singleton
    rows = [
        (0, [1.0, 0.0, 0.0]),       # anchor / cell 0 keeper
        (1, [0.99, 0.14, 0.0]),     # dup of 0
        (2, [0.98, 0.19, 0.0]),     # dup of 0 (and 1)
        (3, [0.0, 0.2, 0.98]),      # dup of 4 but LOWER id → keeper
        (4, [0.0, 0.0, 1.0]),       # anchor / dup of 3
        (5, [0.5, 0.5, 0.70]),      # in cell 4, below threshold → keeper
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.id: (r.cell_id, r.is_dup)
        for r in D.semantic_dedup(
            df, anchor_stride=4, threshold=0.95
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4, 5}
    assert out[0] == (0, False) and out[1] == (0, True) and out[2] == (0, True)
    # keep-lowest-id: 3 predates its anchor 4, so 4 is the duplicate
    assert out[3] == (4, False) and out[4] == (4, True)
    assert out[5] == (4, False)


# ---------------------------------------------------------------- similarity
@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rnd = random.Random(0)
    # clustered corpus (5 centers + small noise): the regime ANN methods
    # are built for — near neighbors share hash buckets / IVF lists
    centers = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(5)]
    rows = [
        (
            i,
            [c + rnd.gauss(0, 0.15) for c in centers[i % 5]],
        )
        for i in range(50)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_exact(vectors):
    import numpy as np

    out = S.brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=3)
    got = [(r.neighbor_id, r.cos) for r in out.orderBy("rank").collect()]
    data = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in vectors.collect()}
    q = data[0]
    sims = sorted(
        (
            (float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), i)
            for i, v in data.items()
            if i != 0
        ),
        key=lambda t: (-t[0], t[1]),
    )
    expect = [(i, s) for s, i in sims[:3]]
    assert [g[0] for g in got] == [e[0] for e in expect]
    for g, e in zip(got, expect):
        assert g[1] == pytest.approx(e[1], abs=1e-6)


def test_lsh_and_ivf_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(vectors, queries, k=5).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_topk(vectors, queries, k=5, bits=8, dim=16).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(vectors, queries, k=5, ncentroids=8, nprobe=4).collect()
    }
    assert len(lsh & exact) / len(exact) >= 0.3
    assert len(ivf & exact) / len(exact) >= 0.4


# ---------------------------------------------------------------------- text
def test_text_metrics(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times.")], "id long, text string")
    r = df.select(
        X.ws_token_count(F.col("text")).alias("ws"),
        X.bpe_token_count(F.col("text")).alias("bpe"),
        X.punct_ratio(F.col("text")).alias("punct"),
        X.avg_word_len(F.col("text")).alias("awl"),
    ).collect()[0]
    assert r.ws == 4
    # Hello , world ! 42 times . → 7 BPE-ish pre-tokens
    assert r.bpe == 7
    assert r.punct == pytest.approx(3 / 23)


def test_lang_id(spark):
    rows = [
        (1, "the cat and the dog is in the house"),
        (2, "der Hund und die Katze ist nicht da"),
        (3, "el perro y la casa de los gatos"),
        (4, "这 是 一个 中文 文档"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.lang for r in df.select("id", X.lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "zh"}


def test_fingerprints_normalize(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   WORLD!"), (2, "hello world"), (3, "other")],
        "id long, text string",
    )
    out = df.select(
        "id",
        X.md5_fingerprint(F.col("text")).alias("fp"),
        X.rolling_hash(F.col("text")).alias("rh"),
    ).collect()
    by_id = {r.id: (r.fp, r.rh) for r in out}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


# ----------------------------------------------------------------- multimodal
def test_multimodal_features(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    feats = M.extract_features(M.attach_payload(df)).collect()
    by_id = {r.id: r for r in feats}
    assert by_id[1].n_bytes == 3
    assert len(by_id[1].features) == M.FEATURE_DIM
    assert sum(by_id[1].features) == pytest.approx(1.0)
    assert by_id[2].n_bytes == 0


def test_multimodal_real_decode_raises(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        M.extract_features(M.attach_payload(df), decode="real").collect()


def test_frame_sample(spark):
    df = spark.createDataFrame([(1, "x" * 100)], "doc_id long, text string")
    out = M.frame_sample(M.attach_payload(df, media_type="video"), every_n=30)
    rows = out.collect()
    n_frames = (100 % 300) + 1  # deterministic fake meta
    assert len(rows) == len(range(0, n_frames, 30))


# --------------------------------------------------------------------- joins
def test_salted_join_matches_plain(spark):
    from opentick_spark.operators.join import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, i) for i in range(10)],
        "k int, v int",
    )
    small = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, tag string")
    plain = {(r.k, r.v, r.tag) for r in big.join(small, ["k"]).collect()}
    salted = {
        (r.k, r.v, r.tag)
        for r in salted_join(big, small, on=["k"], salt=8).collect()
    }
    assert salted == plain
    left = {
        (r.k, r.v, r.tag)
        for r in salted_join(big, small, on=["k"], salt=4, how="left").collect()
    }
    plain_left = {
        (r.k, r.v, r.tag) for r in big.join(small, ["k"], "left").collect()
    }
    assert left == plain_left


def test_connected_components(spark):
    # two components: {1,2,3,4} (chain) and {10,11}; 20-21-22 triangle
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comps = {r.id: r.cluster for r in D.connected_components(pairs).collect()}
    assert comps == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_hamming_star_cluster_equivalence(spark):
    """hamming_blocked_star_edges must be EXACTLY cluster-equivalent to
    hamming_blocked_pairs (r7 hot-chunk escape): the fixture plants a
    clone clique (identical sigs — the quadratic case), a near-dup
    chain within radius, a false collider that shares a chunk with the
    clique but fails verification (the case that broke the naive
    per-bucket hub star), and isolated sigs."""
    rows = (
        # clone clique: ids 100..104, all-zero sig
        [(100 + i, 0) for i in range(5)]
        # near-dup chain: 3 bits then 3 more bits from zero (within
        # radius of each other AND of the clique)
        + [(200, 0b111), (201, 0b111000111)]
        # false collider: low chunk zero (shares the clique's chunk 0)
        # but 40 high bits set — verification must reject it
        + [(300, (-1 << 24) & ((1 << 64) - 1) - (1 << 63))]
        + [(301, 0x5A5A5A5A5A5A5A5)]  # isolated
    )
    df = spark.createDataFrame(
        [(i, s - (1 << 64) if s >= (1 << 63) else s) for i, s in rows],
        "id long, sh long",
    )
    pairs_cc = {
        (r.id, r.cluster)
        for r in D.connected_components(
            D.hamming_blocked_pairs(df, max_hamming=8)
        ).collect()
    }
    star_cc = {
        (r.id, r.cluster)
        for r in D.connected_components(
            D.hamming_blocked_star_edges(df, max_hamming=8)
        ).collect()
    }
    assert pairs_cc == star_cc
    # the clique + chain collapsed into one cluster rooted at 100
    assert {(i, 100) for i in (100, 101, 102, 103, 104, 200)} <= pairs_cc
    # false collider + isolated sig have no verified edges at all
    assert not any(i in (300, 301) for i, _ in pairs_cc)


def test_connected_components_multi_extreme_ids(spark):
    """The tag decode must be EXACT integer arithmetic: ids above 2^53
    are indistinguishable after float division (r6 ADVICE — `/` then
    cast silently merged distinct high ids), and negative ids need
    pmod (Spark's % keeps the dividend's sign, so `% k == t` dropped
    their label rows entirely)."""
    big = 1 << 60
    g1 = spark.createDataFrame(
        [(big, big + 1), (big + 2, big + 3), (-5, -6)],
        "id_a long, id_b long",
    )
    g2 = spark.createDataFrame(
        [(big + 1, big + 2), (7, -8)], "id_a long, id_b long"
    )
    l1, l2 = D.connected_components_multi([g1, g2])
    c1 = {r.id: r.cluster for r in l1.collect()}
    c2 = {r.id: r.cluster for r in l2.collect()}
    # graph 1: {big..big+3 in two pairs} + {-5,-6}; ids decode exactly
    assert set(c1) == {big, big + 1, big + 2, big + 3, -5, -6}
    assert c1[big] == c1[big + 1] and c1[big + 2] == c1[big + 3]
    assert c1[big] != c1[big + 2]  # NOT merged by float imprecision
    assert c1[-5] == c1[-6] and c1[-5] not in (c1[big], c1[big + 2])
    # graph 2 is independent: big+1 and big+2 ARE connected there
    assert set(c2) == {big + 1, big + 2, 7, -8}
    assert c2[big + 1] == c2[big + 2]
    assert c2[7] == c2[-8] != c2[big + 1]


def test_int8_quantization_roundtrip(vectors):
    import numpy as np

    out = vectors.select(
        "vec_id",
        F.col("embedding").alias("orig"),
        S.quantize_int8(F.col("embedding")).alias("qz"),
    ).select(
        "vec_id", "orig", S.dequantize_int8(F.col("qz.q"), F.col("qz.scale")).alias("deq")
    )
    for r in out.collect():
        o = np.array(r.orig, dtype=np.float64)
        d = np.array(r.deq, dtype=np.float64)
        # symmetric int8: per-element error <= scale/2 = max|v|/254
        assert np.abs(o - d).max() <= np.abs(o).max() / 254 + 1e-7


def test_quantized_topk_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(vectors, queries, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in S.quantized_topk(vectors, queries, k=5).collect()
    }
    assert len(quant & exact) / len(exact) >= 0.8


def test_kmeans_improves_ivf_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(vectors, queries, k=5).collect()
    }
    trained = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(
            vectors, queries, k=5, ncentroids=5, nprobe=1, train_iters=3
        ).collect()
    }
    # 5 true clusters, 5 trained centroids, nprobe=1: k-means routing
    # should recover nearly all true neighbors (same-cluster by design)
    assert len(trained & exact) / len(exact) >= 0.8
    cents = S.kmeans_centroids(vectors, ncentroids=5, iters=3).collect()
    assert len(cents) == 5


def test_asof_null_payload_not_stitched(spark):
    """The as-of match is one atomic right row — NULL payload fields must
    not be backfilled from older rows."""
    left = spark.createDataFrame([(1, 3)], "k int, t long")
    right = spark.createDataFrame(
        [(1, 1, 5, None), (1, 2, None, 7)],
        "k int, rt long, a int, b int",
    )
    out = asof_join(left, right, on=["k"], left_time="t", right_time="rt").collect()
    assert len(out) == 1
    r = out[0]
    # correct as-of row is rt=2: (a=NULL, b=7) — NOT the chimera (5, 7)
    assert r.a is None and r.b == 7


def test_simhash_zero_radius(spark):
    rows = [(1, "same text here"), (2, "same text here"), (3, "other words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in D.simhash_pairs(df, max_hamming=0).collect()}
    assert pairs == {(1, 2)}


def test_salted_join_rejects_outer(spark):
    from opentick_spark.operators.join import salted_join

    df = spark.createDataFrame([(1, 1)], "k int, v int")
    with pytest.raises(ValueError):
        salted_join(df, df, on=["k"], salt=4, how="full")


def test_connected_components_long_chain(spark):
    """A path graph of diameter 40 must converge well inside max_iter=10
    (pointer jumping gives O(log n) rounds) with one cluster rooted at 0."""
    import opentick_spark.operators.dedup as D

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    comps = {r.id: r.cluster for r in D.connected_components(pairs, max_iter=10).collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == 41


def test_connected_components_raises_on_non_convergence(spark):
    import opentick_spark.operators.dedup as D
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        D.connected_components(pairs, max_iter=1)


def test_chunk_documents_shapes(spark):
    from opentick_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    # doc 1: 10 tokens, step 2 -> starts 1,3,5,7,9 -> 5 chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert len(c1) == 5
    assert c1[0].chunk_text == "w0 w1 w2 w3" and c1[0].n_tokens == 4
    assert c1[-1].chunk_text == "w8 w9" and c1[-1].n_tokens == 2
    # overlap: chunk i starts 2 tokens after chunk i-1
    assert c1[1].chunk_text == "w2 w3 w4 w5"
    assert [r.n_tokens for r in by_doc[2]] == [2]
    assert [r.chunk_text for r in by_doc[3]] == ["solo"]


def test_pack_sequences_budget(spark):
    from opentick_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [("en", i, 600) for i in range(10)] + [("de", 100, 50)],
        "lang string, doc_id long, n_tokens long",
    )
    out = {
        (r.lang, r.doc_id): (r.seq_id, r.tokens_before)
        for r in pack_sequences(docs, ["lang"], budget=2048).collect()
    }
    # 600-token docs: docs 0-3 start below 2048 (0,600,1200,1800) -> seq 0
    assert [out[("en", i)][0] for i in range(10)] == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]
    assert out[("en", 4)] == (1, 2400)
    assert out[("de", 100)] == (0, 0)


def test_redact_pii_patterns(spark):
    from pyspark.sql import functions as F

    from opentick_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.co.uk now"),
            (2, "server at 10.0.255.3 down"),
            (3, "call +1 415-555-0100 today"),
            (4, "clean text stays"),
        ],
        "id long, text string",
    )
    got = {r.id: r.c for r in df.select("id", redact_pii(F.col("text")).alias("c")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "server at <IP> down"
    assert got[3] == "call <PHONE> today"
    assert got[4] == "clean text stays"


def test_ngram_contamination(spark):
    import opentick_spark.operators.dedup as D

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "prefix words the quick brown fox jumps over the lazy dog today suffix"),
            (11, "completely different content with no shared phrases at all here"),
        ],
        "doc_id long, text string",
    )
    out = D.ngram_contamination(corpus, bench, n=8, min_shared=1).collect()
    assert {(r.corpus_id, r.bench_id) for r in out} == {(10, 1)}
    # bench doc has 10 tokens -> 3 distinct 8-grams, all present in doc 10
    assert out[0].n_shared == 3


def test_ewma_golden(spark):
    from opentick_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, 20.0), (1, 2, 30.0), (2, 0, 5.0)],
        "k long, t long, v double",
    )
    got = {
        (r.k, r.t): r.ewma
        for r in ewma(df, ["k"], "t", "v", alpha=0.5).collect()
    }
    # y0=10; y1=.5*10+.5*20=15; y2=.5*15+.5*30=22.5
    assert got[(1, 0)] == 10.0
    assert got[(1, 1)] == 15.0
    assert got[(1, 2)] == 22.5
    assert got[(2, 0)] == 5.0


def test_stratified_sample_proportions(spark):
    df = spark.range(0, 20000).select(
        (F.col("id") % 2 == 0).cast("string").alias("s"), "id"
    )
    out = df.sampleBy("s", {"true": 0.5, "false": 0.1}, seed=7)
    counts = {r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["true"] / 10000 - 0.5) < 0.05
    assert abs(counts["false"] / 10000 - 0.1) < 0.03


def test_interval_join_matches_between_join(spark):
    from opentick_spark.operators.join import interval_join

    pts = spark.createDataFrame(
        [(i, i * 7) for i in range(40)], "pid long, t long"
    )
    iv = spark.createDataFrame(
        [(1, 10, 30), (2, 25, 26), (3, 100, 100), (4, 250, 500)],
        "iid long, lo long, hi long",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(pts, iv, "t", "lo", "hi", 16).collect()
    }
    expect = {
        (p, i)
        for p in range(40)
        for (i, lo, hi) in [(1, 10, 30), (2, 25, 26), (3, 100, 100), (4, 250, 500)]
        if lo <= p * 7 < hi
    }
    assert got == expect and expect  # non-trivial
    # bucket width not dividing bounds, hi on an exact boundary
    iv2 = spark.createDataFrame([(9, 0, 32)], "iid long, lo long, hi long")
    got2 = {r.pid for r in interval_join(pts, iv2, "t", "lo", "hi", 16).collect()}
    assert got2 == {p for p in range(40) if 0 <= p * 7 < 32}


def test_interval_join_left_outer(spark):
    from opentick_spark.operators.join import interval_join

    pts = spark.createDataFrame([(1, 5), (2, 50)], "pid long, t long")
    iv = spark.createDataFrame([(1, 0, 10)], "iid long, lo long, hi long")
    rows = {r.pid: r.iid for r in interval_join(pts, iv, "t", "lo", "hi", 8, how="left").collect()}
    assert rows == {1: 1, 2: None}


def test_repetition_metrics_golden(spark):
    from opentick_spark.operators.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),        # bigrams: ab, ba, ab, bc → top 'a b'×2/4
            (2, "x x x x"),          # 'x x'×3/3; dup_word 1 - 1/4
            (3, "solo"),             # no bigram
            (4, "p q r s"),          # all distinct; tie → smallest 'p q'
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert rows[1].n_words == 5
    assert rows[1].top_bigram == "a b" and abs(rows[1].top_bigram_frac - 0.5) < 1e-9
    assert abs(rows[1].dup_word_frac - (1 - 3 / 5)) < 1e-9
    assert rows[2].top_bigram == "x x" and rows[2].top_bigram_frac == 1.0
    assert abs(rows[2].dup_word_frac - 0.75) < 1e-9
    assert rows[3].top_bigram == "" and rows[3].top_bigram_frac == 0.0
    assert rows[4].top_bigram == "p q" and abs(rows[4].top_bigram_frac - 1 / 3) < 1e-9


def test_bm25_golden(spark):
    import math

    from opentick_spark.operators.search import bm25_scores

    df = spark.createDataFrame(
        [(1, "spark join spark"), (2, "spark window"), (3, "other words here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.score for r in bm25_scores(df, ["spark", "join"]).collect()}
    assert set(got) == {1, 2}  # doc 3 matches no term

    def bm25(tf, df_t, dl, n=3.0, avgdl=8 / 3, k1=1.2, b=0.75):
        idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1)
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = bm25(2, 2, 3) + bm25(1, 1, 3)  # spark×2 + join×1
    exp2 = bm25(1, 2, 2)
    assert abs(got[1] - exp1) < 1e-9 and abs(got[2] - exp2) < 1e-9
    assert got[1] > got[2]


def test_hash_split_deterministic_and_complete(spark):
    from opentick_spark.operators.text import hash_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = hash_split(df)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 1000
    # md5 buckets ≈ uniform: 80/10/10 within generous slack
    assert 700 < counts["train"] < 900
    assert 50 < counts["val"] < 160 and 50 < counts["test"] < 160
    # deterministic: same assignment on recompute and under repartition
    again = {r.doc_id: r.split for r in hash_split(df.repartition(7)).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again


def test_label_centroid_stats_golden(spark):
    import math

    from opentick_spark.operators.similarity import label_centroid_stats

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (0, [0.0, 1.0]),   # centroid (.5,.5) → norm √.5; avg_norm 1
            (1, [3.0, 4.0]),   # centroid (3,4) → norm 5; avg_norm 5
        ],
        "label int, embedding array<float>",
    )
    rows = {r.label: r for r in label_centroid_stats(df).collect()}
    assert rows[0].n == 2 and rows[1].n == 1
    assert abs(rows[0].centroid_norm - math.sqrt(0.5)) < 1e-9
    assert abs(rows[0].avg_norm - 1.0) < 1e-9
    assert abs(rows[1].centroid_norm - 5.0) < 1e-9
    assert abs(rows[1].avg_norm - 5.0) < 1e-9


def test_unigram_logprob_golden(spark):
    import math

    from opentick_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    # corpus counts: a=2, b=2, c=1, total=5
    rows = {r.id: r for r in unigram_logprob(df).collect()}
    exp1 = -(2 * math.log(2 / 5) + math.log(2 / 5)) / 3
    exp2 = -(math.log(2 / 5) + math.log(1 / 5)) / 2
    assert rows[1].n_tokens == 3 and rows[2].n_tokens == 2
    assert abs(rows[1].nll - exp1) < 1e-9
    assert abs(rows[2].nll - exp2) < 1e-9
    assert rows[2].nll > rows[1].nll  # rarer tokens → more surprising


def _bpe_reference(word_counts, n_merges):
    """Textbook BPE (Sennrich et al. 2016) on a word-frequency dict,
    same tie-break as the operator: max count, then lexicographic."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_merges_match_reference(spark):
    from opentick_spark.operators.text import bpe_merges

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = bpe_merges(df, n_merges=8, checkpoint_every=3)

    counts: dict = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    want = _bpe_reference(counts, 8)
    assert got == want
    # ('e','w') dominates: newest×6 + new×2 = 8 occurrences
    assert len(got) == 8 and got[0] == ("e", "w")


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("tolerance", [None, 25])
def test_asof_broadcast_matches_merge(spark, direction, tolerance):
    """Skew-immune broadcast-interval as-of must be value-identical to
    the sorted-merge window, incl. equal-time boundaries, keys with no
    right rows, and tolerance cutoffs."""
    import random

    from opentick_spark.operators.asof import asof_join

    rng = random.Random(11)
    left = spark.createDataFrame(
        [(k, t * 10, t) for k in range(4) for t in rng.sample(range(100), 25)],
        "k long, lt long, seq long",
    )
    right = spark.createDataFrame(
        # key 3 has no right rows; times distinct per key, some exactly
        # equal to left times (t*10) to pin the boundary conventions
        [(k, t, float(k * 1000 + t)) for k in range(3)
         for t in rng.sample(range(0, 1000, 10), 12)],
        "k long, rt long, v double",
    )
    kw = dict(on=["k"], left_time="lt", right_time="rt",
              direction=direction, tolerance=tolerance)
    a = sorted(map(tuple, asof_join(left, right, **kw).collect()))
    b = sorted(map(tuple, asof_join(left, right, strategy="broadcast", **kw).collect()))
    assert a == b and len(a) == 100


def test_asof_broadcast_plan_no_left_exchange(spark):
    from opentick_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5, 1.0)], "k long, lt long, x double")
    right = spark.createDataFrame([(1, 3, 2.0)], "k long, rt long, v double")
    plan = asof_join(
        left, right, ["k"], "lt", "rt", strategy="broadcast"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only Exchange feeds the broadcast (right/interval side)
    assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0]


def test_dup_ngram_coverage_golden(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),   # bigrams: ab bc cd de
            (2, "a b c x y"),   # shares ab bc with 1 → 2/4
            (3, "p q r s"),     # no sharing → 0/3
            (4, "zz"),          # <2 words → no shingles, absent
        ],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in D.dup_ngram_coverage(df, n=2).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].n_shingles == 4 and rows[1].n_shared == 2
    assert rows[1].dup_frac == pytest.approx(0.5)
    assert rows[2].dup_frac == pytest.approx(0.5)
    assert rows[3].n_shared == 0 and rows[3].dup_frac == 0.0


def test_embedding_lsh_pairs_subset_and_recall(vectors):
    # clustered corpus: LSH must find most true pairs and nothing false
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in D.embedding_cosine_pairs(
            vectors, id_col="vec_id", threshold=0.9
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos
        for r in D.embedding_lsh_pairs(
            vectors, id_col="vec_id", threshold=0.9, dim=16, bits=6, tables=6
        ).collect()
    }
    assert exact  # non-trivial fixture
    assert set(approx) <= set(exact)  # precision 1 (exact verify inside)
    assert len(set(approx) & set(exact)) / len(exact) >= 0.8
    for k, v in approx.items():
        assert v == pytest.approx(exact[k], abs=1e-9)


# ----------------------------------------------------------------- mixture
def test_mixture_sample_matches_naive_cumsum(spark):
    """The two-level prefix sum (bucketed cumsum + offset join) must
    select exactly the docs the naive per-source windowed cumsum selects,
    with identical tokens_before values."""
    import random

    from pyspark.sql import Window

    rng = random.Random(7)
    rows = [
        (i, f"src{i % 3}", " ".join("w" for _ in range(rng.randint(1, 40))))
        for i in range(400)
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"src0": 900, "src1": 300, "src2": 50}
    got = sorted(
        map(tuple, X.mixture_sample(d, budgets).collect())
    )
    naive = (
        d.filter(F.col("source").isin(list(budgets)))
        .select(
            "source",
            "doc_id",
            X.ws_token_count(F.col("text")).cast("long").alias("n_tokens"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        .withColumn(
            "tokens_before",
            F.coalesce(
                F.sum("n_tokens").over(
                    Window.partitionBy("source")
                    .orderBy("h")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "budget",
            F.create_map(
                *[x for k, v in budgets.items() for x in (F.lit(k), F.lit(float(v)))]
            )[F.col("source")],
        )
        .filter(F.col("tokens_before") < F.col("budget"))
        .select("source", "doc_id", "n_tokens", "tokens_before")
    )
    assert got == sorted(map(tuple, naive.collect()))
    assert got  # non-trivial


def test_mixture_sample_fills_budgets(spark):
    """Each source fills to its budget: selected tokens reach the budget
    (or the source is exhausted), and at most the final doc overflows."""
    rows = [(i, "srcA" if i % 2 else "srcB", "w " * (5 + i % 11)) for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"srcA": 100, "srcB": 10_000_000}
    out = X.mixture_sample(d, budgets).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    a = by_src["srcA"]
    assert sum(r.n_tokens for r in a) >= 100  # filled
    assert max(r.tokens_before for r in a) < 100  # nothing starts past it
    # unlimited budget takes every doc of the source
    assert len(by_src["srcB"]) == 100


def test_bpe_encode_matches_reference(spark):
    """bpe_encode must reproduce the textbook greedy left-to-right merge
    application per word, including overlapping-pair and multi-level
    merge cases."""
    merges = [("l", "o"), ("lo", "w"), ("e", "r"), ("a", "a")]

    def ref_encode(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    texts = ["low lower lowest", "aaa aaaa a", "er lo low", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r.doc_id: r.tokens for r in X.bpe_encode(df, merges).collect()}
    for i, t in enumerate(texts):
        want = [s for w in t.lower().split() for s in ref_encode(w)]
        assert got[i] == want, (t, got[i], want)


def test_pq_encode_shapes_and_rerank_recall(vectors):
    """PQ codes are m int8s per vector; ADC shortlist + exact re-rank
    recovers high recall on the clustered corpus."""
    cb = S.pq_train(vectors, m=4, k=8, iters=2)
    codes = S.pq_encode(vectors, cb)
    rows = codes.collect()
    assert len(rows) == 50 and all(len(r.codes) == 4 for r in rows)

    queries = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(vectors, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in S.pq_topk_rerank(
            vectors, queries, k=5, shortlist=15, m=4, ncentroids=8, iters=2
        ).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8


def test_pq_train_rejects_indivisible_dim(vectors):
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_train(vectors, m=5, k=4)


# ------------------------------------------------------------- heavy hitters
def test_heavy_hitters_exact_on_skewed_multipartition(spark):
    """Two-pass Misra–Gries must find EXACTLY the items over threshold —
    no false negatives by the pigeonhole guarantee, no false positives
    because candidates are exactly recounted — on a long-tailed corpus
    spread over many partitions."""
    from opentick_spark.operators.freq import heavy_hitters

    rows = []
    rows += [("hot1",)] * 400 + [("hot2",)] * 180 + [("warm",)] * 99
    rows += [(f"rare{i}",) for i in range(9321)]  # total 10000
    df = spark.createDataFrame(rows, "w string").repartition(16)
    got = {(r.w, r.cnt) for r in heavy_hitters(df, "w", 1, 100).collect()}
    assert got == {("hot1", 400), ("hot2", 180)}  # warm = 99 < 1% of 10000
    tot = heavy_hitters(df, "w", 1, 100).collect()[0].total
    assert tot == 10000


def test_mg_update_preserves_guarantee():
    from opentick_spark.operators.freq import _mg_update

    counters = {}
    stream = ["a"] * 50 + ["b"] * 30 + [f"x{i}" for i in range(100)]
    # feed in chunks of 7 to exercise the batched subtract path
    for i in range(0, len(stream), 7):
        chunk = stream[i : i + 7]
        counts: dict = {}
        for w in chunk:
            counts[w] = counts.get(w, 0) + 1
        counters = _mg_update(counters, counts, cap=8)
    # any item with freq > n/(cap+1) = 180/9 = 20 must survive
    assert "a" in counters and "b" in counters
    assert len(counters) <= 8 + 1


def test_downsample_bars_equals_direct_rollup(spark):
    """Hierarchical rollup exactness: hourly bars (with boundary
    timestamps) downsampled to daily must equal daily bars computed
    directly from the raw ticks — open/close included."""
    from opentick_spark.operators.timeseries import downsample_bars, ohlcv_bars
    from opentick_spark.workload.util import load

    ev = load(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = ohlcv_bars(
        ev, ["user_id"], "ts", "value", size_col="value",
        bucket_seconds=3600, with_boundaries=True,
    )
    via_hourly = downsample_bars(
        hourly.drop("vwap"), ["user_id"], "bar_ts",
        from_bucket_seconds=3600, to_bucket_seconds=86400,
    )
    direct = ohlcv_bars(
        ev, ["user_id"], "ts", "value", size_col="value",
        bucket_seconds=86400, with_boundaries=True,
    ).drop("vwap")
    cols = ["user_id", "bar_ts", "open_ts", "close_ts", "open", "high",
            "low", "close", "n_ticks", "volume"]
    a = sorted(tuple(r) for r in via_hourly.select(*cols).collect())
    b = sorted(tuple(r) for r in direct.select(*cols).collect())
    assert len(a) > 10
    # volume is a float sum in different association orders: compare
    # exactly on everything else, to 1e-9 relative on volume
    for ra, rb in zip(a, b):
        assert ra[:9] == rb[:9]
        assert abs(ra[9] - rb[9]) <= 1e-9 * max(1.0, abs(rb[9]))


def test_downsample_bars_rejects_non_multiple(spark):
    import pytest as _pytest

    from opentick_spark.operators.timeseries import downsample_bars

    df = spark.range(1).selectExpr(
        "1 AS user_id", "0L AS bar_ts", "0L AS open_ts", "0L AS close_ts",
        "1.0 AS open", "1.0 AS high", "1.0 AS low", "1.0 AS close",
        "1L AS n_ticks",
    )
    with _pytest.raises(ValueError, match="multiple"):
        downsample_bars(df, ["user_id"], "bar_ts", 3600, 5000)


def test_drawdown_golden(spark):
    from opentick_spark.operators.timeseries import drawdown

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 8.0), (1, 3, 12.0), (1, 4, 6.0), (2, 1, 5.0)],
        "k int, t long, px double",
    )
    out = {(r.k, r.t): (r.peak, r.drawdown) for r in drawdown(df, ["k"], "t", "px").collect()}
    assert out[(1, 1)] == (10.0, 0.0)
    assert out[(1, 2)] == (10.0, pytest.approx(-0.2))
    assert out[(1, 3)] == (12.0, 0.0)
    assert out[(1, 4)] == (12.0, pytest.approx(-0.5))
    assert out[(2, 1)] == (5.0, 0.0)


def test_rolling_zscore_excludes_current_and_gates(spark):
    from opentick_spark.operators.timeseries import rolling_zscore

    rows = [(1, t, float(v)) for t, v in enumerate([1, 1, 3, 1, 1, 9])]
    df = spark.createDataFrame(rows, "k int, t long, x double")
    out = {r.t: (r.n_window, r.zscore) for r in
           rolling_zscore(df, ["k"], "t", "x", window_rows=10, min_obs=3).collect()}
    # first rows: too few prior observations -> NULL
    assert out[0] == (0, None) and out[2][1] is None
    # t=5: prior window [1,1,3,1,1] mean=1.4 sd=sqrt(0.8); z=(9-1.4)/sd
    import math
    assert out[5][0] == 5
    assert out[5][1] == pytest.approx((9 - 1.4) / math.sqrt(0.8))
    # constant prior window gives sd=0 -> NULL, not inf
    df2 = spark.createDataFrame([(1, t, 2.0) for t in range(5)], "k int, t long, x double")
    z2 = rolling_zscore(df2, ["k"], "t", "x", window_rows=10, min_obs=3)
    assert all(r.zscore is None for r in z2.collect())


def test_audio_windows_slice_and_reassemble(spark):
    from opentick_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xyz"), (3, "")], "doc_id long, text string"
    )
    wp = MM.attach_payload(df, media_type="audio").withColumn(
        "media_meta", F.col("media_meta").withField("sample_rate", F.lit(2))
    )
    # window bytes = 2 (sr) * 2 (bytes/sample) * 1 s = 4
    out = MM.audio_windows(wp, window_seconds=1, bytes_per_sample=2)
    rows = sorted((r.id, r.win_idx, r.start_byte, r.n_bytes, bytes(r.chunk))
                  for r in out.collect())
    # doc 1: 10 bytes -> 4+4+2; doc 2: 3 bytes -> one short window; doc 3 empty -> none
    assert rows == [
        (1, 0, 0, 4, b"abcd"),
        (1, 1, 4, 4, b"efgh"),
        (1, 2, 8, 2, b"ij"),
        (2, 0, 0, 3, b"xyz"),
    ]
    # chunks reassemble to the original payload
    joined = b"".join(c for i, _, _, _, c in rows if i == 1)
    assert joined == b"abcdefghij"


def test_negative_samples_deterministic_golden(spark):
    """negative_samples must reproduce a pure-python replay of the md5
    scheme exactly: same partners, no self-pairs, stable across runs."""
    import hashlib

    from opentick_spark.operators.text import negative_samples

    ids = list(range(1, 31))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    k, B = 3, 8

    def h8(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    want = {}
    bucket = {d: h8(str(d)) % B for d in ids}
    for a in ids:
        for j in range(k):
            t = h8(f"{a}#{j}") % B
            cands = [d for d in ids if bucket[d] == t and d != a]
            if cands:
                want[(a, j)] = min(
                    cands, key=lambda d: hashlib.md5(f"{d}@{a}#{j}".encode()).hexdigest()
                )
    got1 = {(r.doc_id, r.slot): r.neg_id
            for r in negative_samples(df, k=k, buckets=B).collect()}
    got2 = {(r.doc_id, r.slot): r.neg_id
            for r in negative_samples(df, k=k, buckets=B).collect()}
    assert got1 == want
    assert got1 == got2
    assert all(neg != a for (a, _), neg in got1.items())


def test_vocab_coverage_exact_and_tie_stable(spark):
    from opentick_spark.operators.freq import vocab_coverage

    # corpus: 'a'x5, 'b'x3, 'c'x3, 'd'x1 — top2 with the (count desc,
    # word asc) tiebreak = {a, b}; coverage = 8/12
    df = spark.createDataFrame(
        [("a a a a a",), ("b b b c c",), ("c d",)], "text string"
    )
    r = vocab_coverage(df, top_n=2).collect()[0]
    assert (r.total_tokens, r.covered_tokens) == (12, 8)
    assert r.coverage == round(8 / 12, 6)
    full = vocab_coverage(df, top_n=10).collect()[0]
    assert full.covered_tokens == 12 and full.coverage == 1.0


# -- duplicate_spans (substring-level exact dedup) --------------------------

def test_duplicate_spans_known_fixture(spark):
    """Hand-computed span merge: two docs share one 3-token window; one
    doc additionally self-repeats a window, with overlapping positions
    merging into a single maximal span."""
    from opentick_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            # shares "a b c" with doc 2 at pos 0; "x y z x y z" self-dup?
            (1, "a b c q r s t u"),
            (2, "a b c d e f g h"),
            # "p q r" occurs twice WITHIN this doc (pos 0 and pos 4):
            # windows [0,3) and [4,7) do not overlap (gap 4 > n=3) -> 2 spans
            (3, "p q r z p q r w"),
            (4, "nothing shared here at all"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r.asDict()
        for r in duplicate_spans(docs, n=3, min_count=2).collect()
    }
    # doc 1: dup window "a b c" at pos 0 -> one span of 3 tokens
    assert got[1]["n_spans"] == 1
    assert got[1]["dup_tokens"] == 3
    assert got[1]["total_tokens"] == 8
    assert got[2]["n_spans"] == 1 and got[2]["dup_tokens"] == 3
    # doc 3: "p q r" at pos 0 and 4: pos gap 4 > n=3 -> two separate spans
    assert got[3]["n_spans"] == 2
    assert got[3]["dup_windows"] == 2
    assert got[3]["dup_tokens"] == 6
    # no dups / empty docs still emit a row with zeros
    assert got[4]["dup_tokens"] == 0 and got[4]["n_spans"] == 0
    assert got[5]["dup_tokens"] == 0 and got[5]["dup_frac"] == 0.0


def test_duplicate_spans_overlap_merge(spark):
    """Adjacent/overlapping duplicated windows merge into one maximal
    span whose union length is last_pos + n - first_pos."""
    from opentick_spark.operators.dedup import duplicate_spans

    # docs 1 and 2 share the 5-token run "a b c d e": with n=3 that is
    # three overlapping duplicated windows at pos 0,1,2 -> ONE span of 5
    docs = spark.createDataFrame(
        [(1, "a b c d e x"), (2, "y a b c d e")],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r.asDict()
        for r in duplicate_spans(docs, n=3, min_count=2).collect()
    }
    assert got[1]["n_spans"] == 1
    assert got[1]["dup_windows"] == 3
    assert got[1]["dup_tokens"] == 5
    assert got[2]["dup_tokens"] == 5


# -- data-quality validation suite ------------------------------------------

def test_quality_validate_single_pass(spark):
    from opentick_spark.operators import quality as Q
    from pyspark.sql import functions as F  # noqa: F401

    df = spark.createDataFrame(
        [
            (1, "a@x.com", 5.0, "view"),
            (2, "bad-email", 50.0, "view"),
            (2, None, 2000.0, "weird"),
        ],
        "id long, email string, v double, t string",
    )
    report = Q.validate(
        df,
        [
            Q.not_null("email", max_null_frac=0.5),
            Q.not_null("email"),
            Q.unique("id"),
            Q.in_range("v", 0, 100),
            Q.accepted_values("t", ["view", "click"]),
            Q.min_rows(3),
            Q.matches("email", r"^[^@]+@[^@]+$", max_bad_frac=0.0),
        ],
    )
    rows = {r["rule"]: (r["metric"], r["passed"]) for r in report.collect()}
    assert rows["not_null(email)"] == (pytest.approx(1 / 3), False)
    assert rows["unique(id)"] == (1.0, False)  # id=2 twice
    assert rows["in_range(v,0,100)"] == (1.0, False)  # 2000.0
    assert rows["accepted_values(t)"] == (1.0, False)  # 'weird'
    assert rows["min_rows(3)"] == (3.0, True)
    assert rows["matches(email)"][1] is False  # 'bad-email'
    # the relaxed null bound passes where the strict one fails
    assert report.filter("rule like 'not_null%' and passed").count() == 1
    # single-pass: the whole suite is one aggregate over one source scan
    # (an executed AQE plan prints Final + Initial sections; inspect the
    # final one only)
    plan = report._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1


def test_quality_approx_unique(spark):
    from opentick_spark.operators import quality as Q

    clean = spark.range(10_000).select(F.col("id"))
    rep = Q.validate(clean, [Q.approx_unique("id")]).collect()[0]
    assert rep["passed"]
    dupes = clean.union(clean.limit(5000))
    rep2 = Q.validate(dupes, [Q.approx_unique("id")]).collect()[0]
    assert not rep2["passed"]


# -- persistent IVF index ---------------------------------------------------

def test_centroid_rows_skip_hidden_files(spark, tmp_path):
    """The local pyarrow read of a persisted index's centroids skips
    names starting with ``_`` or ``.``: a non-empty ``_SUCCESS`` and a
    ``.tmp`` staging file in ``centroids/`` leave its rows unchanged."""
    from conftest import SF_DIR

    from opentick_spark.operators.similarity import (
        _centroid_rows_from_index,
        build_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, ncentroids=4)
    before = _centroid_rows_from_index(spark, path)
    assert len(before) == 4
    cdir = tmp_path / "ivf" / "centroids"
    (cdir / "_SUCCESS").write_bytes(b"not parquet")
    (cdir / ".part-00000.parquet.tmp").write_bytes(b"not parquet")
    assert _centroid_rows_from_index(spark, path) == before


def test_ivf_index_persist_prune_and_match(spark, tmp_path):
    """build_ivf_index + ivf_topk_indexed: the persisted index must
    return exactly what the in-plan ivf_topk computes with the same
    deterministic centroids, AND the probe scan must physically prune the
    un-probed centroid directories (the at-scale claim, on disk)."""
    from opentick_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(3)
    build_ivf_index(emb, str(tmp_path / "ivf"), ncentroids=8)

    res = ivf_topk_indexed(
        spark, str(tmp_path / "ivf"), queries, k=5, nprobe=2
    )
    ref = ivf_topk(emb, queries, k=5, nprobe=2, ncentroids=8)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in res.collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in ref.collect()
    )
    assert got == want and len(got) > 0

    # pruning: the probed isin-filter must reach the scan as a partition
    # filter so only probed directories are read
    import re

    plan = res._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan)
    assert m, plan[:2000]
    # the index is physically laid out one directory per centroid
    import os

    dirs = [
        d
        for d in os.listdir(tmp_path / "ivf" / "lists")
        if d.startswith("centroid_id=")
    ]
    assert len(dirs) == 8


def test_ivf_indexed_query_batch_guard(spark, tmp_path, monkeypatch):
    """``ivf_topk_indexed`` collects the query batch to route it on the
    driver; a batch over ``_QUERY_BATCH_MAX_FLOATS`` raises a ValueError
    naming the bound instead of growing the driver without limit, and a
    batch exactly at the bound still runs."""
    from conftest import SF_DIR

    from opentick_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    S.build_ivf_index(emb, path, ncentroids=4)
    queries = emb.limit(3)
    n_floats = sum(len(r["embedding"]) for r in queries.collect())
    monkeypatch.setattr(S, "_QUERY_BATCH_MAX_FLOATS", n_floats - 1)
    with pytest.raises(ValueError, match="_QUERY_BATCH_MAX_FLOATS"):
        S.ivf_topk_indexed(spark, path, queries, k=2, nprobe=1)
    monkeypatch.setattr(S, "_QUERY_BATCH_MAX_FLOATS", n_floats)
    assert S.ivf_topk_indexed(spark, path, queries, k=2, nprobe=1).count() > 0


def test_driver_probe_matches_udf_probe(spark):
    """r16: ivf_topk_indexed routes the query batch ON THE DRIVER with
    the same _route_matrix/_route_topk code _probe_lists' Arrow UDF
    runs. Pin the two surfaces bit-equal on a randomized fixture,
    including exact-tie vectors (ties must go to the LOWER centroid_id
    on both paths)."""
    import random

    from opentick_spark.operators.similarity import (
        _probe_lists,
        _route_matrix,
        _route_topk,
    )

    rng = random.Random(7)
    dim, ncent, nvec, nprobe = 8, 6, 40, 3
    crows = [
        (c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(ncent)
    ]
    # exact-tie probe: vector 0 equidistant from two identical centroids
    crows[3] = (3, list(crows[1][1]))
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(nvec)
    ]
    vecs[0] = (0, list(crows[1][1]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    via_udf = sorted(
        (r["vec_id"], r["__probe_rank"], r["centroid_id"])
        for r in _probe_lists(
            df, crows, nprobe, "vec_id", "embedding"
        ).collect()
    )
    # driver side sees the SAME float32 values the executor saw (the
    # DataFrame round-trips the python floats through float32)
    f32 = {
        r["vec_id"]: r["embedding"]
        for r in df.select("vec_id", "embedding").collect()
    }
    cids, Cn, n = _route_matrix(crows, nprobe)
    top = _route_topk(cids, Cn, n, [f32[i] for i, _ in vecs])
    via_driver = sorted(
        (vecs[j][0], rank, int(top[j][rank]))
        for j in range(nvec)
        for rank in range(n)
    )
    assert via_driver == via_udf
    # the tie vector picked the LOWER of the two identical centroids
    tie = [c for (v, _, c) in via_driver if v == 0]
    assert tie[0] == 1


def test_bpe_merges_persist_roundtrip(spark, tmp_path):
    from opentick_spark.operators.text import (
        bpe_encode,
        bpe_merges,
        load_bpe_merges,
        save_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest newer newest wide widest")] * 4,
        "doc_id long, text string",
    )
    merges = bpe_merges(docs, n_merges=8)
    save_bpe_merges(merges, str(tmp_path / "bpe.json"))
    loaded = load_bpe_merges(str(tmp_path / "bpe.json"))
    assert loaded == merges  # order-preserving, tuple types restored
    a = bpe_encode(docs, merges).select("tokens").collect()
    b = bpe_encode(docs, loaded).select("tokens").collect()
    assert a == b


def test_group_kfold_no_leakage(spark):
    """Every group's rows land in exactly one fold; folds are balanced
    enough to be usable; k<2 rejected."""
    from pyspark.sql import functions as F

    from opentick_spark.operators.text import group_kfold

    ev = spark.range(0, 5000).select(
        (F.col("id") % 337).alias("user_id"), F.col("id").alias("x")
    )
    folds = group_kfold(ev, "user_id", k=5)
    # leakage check: per-user distinct fold count is exactly 1
    leaked = (
        folds.groupBy("user_id")
        .agg(F.count_distinct("fold").alias("nf"))
        .filter("nf != 1")
        .count()
    )
    assert leaked == 0
    sizes = {
        r["fold"]: r["n"]
        for r in folds.select("user_id", "fold")
        .distinct()
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(sizes) == {0, 1, 2, 3, 4}
    assert min(sizes.values()) > 337 / 5 * 0.5  # no empty/starved fold

    import pytest as _pt

    with _pt.raises(ValueError, match="k must be"):
        group_kfold(ev, "user_id", k=1)


def test_chunk_dedup_metrics_golden(spark):
    # r5: doc1 and doc2 share their FIRST 20-word chunk exactly; the
    # rest is unique -> one duplicated chunk each, ratio 0.5
    shared = " ".join(f"s{i}" for i in range(20))
    rows = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(20))),
        (2, shared + " " + " ".join(f"b{i}" for i in range(20))),
        (3, " ".join(f"c{i}" for i in range(10))),  # 1 unique chunk
        (4, ""),  # empty: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in X.chunk_dedup_metrics(df).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["dup_chunks"] == 1
    assert out[1]["dup_ratio"] == pytest.approx(0.5)
    assert out[2]["dup_chunks"] == 1
    assert out[3] == {
        "doc_id": 3,
        "n_chunks": 1,
        "dup_chunks": 0,
        "dup_ratio": 0.0,
    }
    assert 4 not in out
    with pytest.raises(ValueError, match="chunk_words"):
        X.chunk_dedup_metrics(df, chunk_words=0)


def test_char_entropy_golden(spark):
    from pyspark.sql import functions as F

    rows = [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["e"]
        for r in df.select(
            "doc_id", X.char_entropy(F.col("text")).alias("e")
        ).collect()
    }
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(2.0)
    assert got[4] is None


def test_incremental_cluster_assign_golden(spark):
    """r5: delta docs adopt EXISTING cluster labels through the
    (band,bucket) index; new dup groups form fresh clusters; docs that
    duplicate a previously-SINGLETON baseline doc join it."""
    t_ab = "alpha beta gamma delta epsilon zeta eta theta " * 5
    t_cd = "one two three four five six seven eight nine ten " * 5
    t_e = "lonely unique content that matches nothing else here " * 5
    t_f = "another standalone document with its own words entirely " * 5
    baseline = spark.createDataFrame(
        [(1, t_ab), (2, t_ab), (3, t_cd), (4, t_cd), (5, t_e), (6, t_f)],
        "doc_id long, text string",
    )
    idx = D.lsh_cluster_index(baseline)
    delta = spark.createDataFrame(
        [
            (101, t_ab),  # copy of cluster {1,2} -> adopts label 1
            (102, "brand new boilerplate page repeated verbatim " * 5),
            (103, "brand new boilerplate page repeated verbatim " * 5),
            (104, "totally fresh and unrelated delta content " * 5),
            (105, t_e),  # copy of SINGLETON 5 -> joins it
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r["cluster"]
        for r in D.incremental_cluster_assign(delta, idx).collect()
    }
    assert got[101] == 1
    assert got[102] == 102 and got[103] == 102  # new dup group
    assert got[104] == 104  # isolated
    assert got[105] == 5  # previously-singleton baseline doc

    # consistency with a full recluster of baseline ∪ delta: delta docs
    # must be partitioned identically (cluster-rep comparison over
    # delta ids only)
    union = baseline.unionByName(delta)
    full = D.connected_components(
        D.minhash_cluster_edges(union, verify=False)
    )
    full_assign = {
        r["id"]: r["cluster"]
        for r in full.collect()
        if r["id"] >= 100
    }
    full_assign = {i: full_assign.get(i, i) for i in got}

    def canon(assign):
        groups = {}
        for i, c in assign.items():
            groups.setdefault(c, []).append(i)
        return sorted(tuple(sorted(v)) for v in groups.values())

    # group 105 with 5 on the full side -> its rep there includes
    # baseline ids; compare delta-only partitions by dropping baseline
    # members from full groups
    full_groups = {}
    clustered = set()
    for r in full.collect():
        full_groups.setdefault(r["cluster"], []).append(r["id"])
        clustered.add(r["id"])
    for i in got:  # isolated docs never appear in components output
        if i not in clustered:
            full_groups[i] = [i]
    full_delta_groups = sorted(
        tuple(sorted(i for i in v if i >= 100))
        for v in full_groups.values()
        if any(i >= 100 for i in v)
    )
    inc_groups = canon(got)
    # delta-only partitions must agree (singletons appear as 1-tuples)
    inc_only = sorted(t for t in inc_groups)
    assert [t for t in full_delta_groups if t] == [
        t for t in inc_only if t
    ]


def test_lsh_cluster_index_explicit_clusters_and_empty_cases(spark):
    t = "shared boilerplate content for explicit cluster labels " * 5
    baseline = spark.createDataFrame(
        [(10, t), (11, t), (12, "something entirely different here " * 5)],
        "doc_id long, text string",
    )
    # caller-supplied assignment with a custom label scheme
    clusters = spark.createDataFrame(
        [(10, 7), (11, 7), (12, 12)], "id long, cluster long"
    )
    idx = D.lsh_cluster_index(baseline, clusters=clusters)
    delta = spark.createDataFrame([(100, t)], "doc_id long, text string")
    got = {
        r["id"]: r["cluster"]
        for r in D.incremental_cluster_assign(delta, idx).collect()
    }
    assert got == {100: 7}  # adopts the CALLER's label, not min doc id
    # empty delta -> empty result, no crash
    empty_delta = spark.createDataFrame([], "doc_id long, text string")
    assert D.incremental_cluster_assign(empty_delta, idx).count() == 0
    # empty index (nothing clustered yet) -> delta self-clusters
    empty_idx = idx.limit(0)
    got2 = {
        r["id"]: r["cluster"]
        for r in D.incremental_cluster_assign(
            spark.createDataFrame(
                [(200, t), (201, t), (202, "lone wolf doc " * 10)],
                "doc_id long, text string",
            ),
            empty_idx,
        ).collect()
    }
    assert got2 == {200: 200, 201: 200, 202: 202}


class TestBigramPMI:
    """freq.bigram_pmi_top (r12): hand-computed golden, deterministic
    tie-break on the raw rank key, and the count floor."""

    def test_golden_small_corpus(self, spark):
        from opentick_spark.operators.freq import bigram_pmi_top

        docs = spark.createDataFrame(
            [("a b a b",), ("a b c",)], ["text"]
        )
        rows = bigram_pmi_top(docs, k=10, min_count=1).collect()
        # unigrams a:3 b:3 c:1 (N=7); bigrams ab:3 ba:1 bc:1 (N=5)
        # keys: ab 3/9, bc 1/3 (tie, w1 breaks it), ba 1/9
        got = [(r.w1, r.w2, r.c_ab, r.pmi, r.rank) for r in rows]
        ln = math.log
        assert got == [
            ("a", "b", 3, round(ln(3 * 49 / (5 * 9)), 6), 1),
            ("b", "c", 1, round(ln(1 * 49 / (5 * 3)), 6), 2),
            ("b", "a", 1, round(ln(1 * 49 / (5 * 9)), 6), 3),
        ]

    def test_min_count_floor_prunes_before_join(self, spark):
        from opentick_spark.operators.freq import bigram_pmi_top

        docs = spark.createDataFrame(
            [("x y x y x y",), ("p q",)], ["text"]
        )
        rows = bigram_pmi_top(docs, k=10, min_count=3).collect()
        assert [(r.w1, r.w2) for r in rows] == [("x", "y")]

    def test_topk_is_take_ordered_not_full_sort(self, spark):
        from opentick_spark.operators.freq import bigram_pmi_top

        docs = spark.createDataFrame(
            [(f"tok{i} tok{i+1} tok{i+2}",) for i in range(60)], ["text"]
        )
        out = bigram_pmi_top(docs, k=5, min_count=1)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the global top-k must be TakeOrderedAndProject; the final
        # row_number window then runs on the k-row result only
        assert "TakeOrderedAndProject" in plan


def test_prefix_filter_jaccard_no_cartesian_no_broadcast(spark):
    """Candidate + verify stages must be equi-joins on prefix token /
    doc id — never a CartesianProduct, and (r12 drill finding) never a
    broadcast of the corpus-scaled vocabulary or shingle-set relations:
    the merge/shuffle_hash hints pin that."""
    from opentick_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} common") for i in range(30)],
        ["doc_id", "text"],
    )
    plan = (
        prefix_filter_jaccard_pairs(docs, threshold=0.8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


class TestMarginBitextMining:
    """similarity.margin_bitext_pairs (r12): golden geometry, the
    hubness property the ratio margin exists for, and validation."""

    def test_golden_best_match(self, spark):
        from opentick_spark.operators.similarity import margin_bitext_pairs

        # src s1 aligned with t1; t2 orthogonal; t3 the anti-match
        src = spark.createDataFrame(
            [(1, [1.0, 0.0])], ["vec_id", "embedding"]
        )
        tgt = spark.createDataFrame(
            [(10, [0.9, 0.1]), (11, [0.0, 1.0]), (12, [-1.0, 0.0])],
            ["vec_id", "embedding"],
        )
        rows = margin_bitext_pairs(src, tgt, k=2, threshold=0.0).collect()
        assert len(rows) == 1
        assert (rows[0]["src_id"], rows[0]["tgt_id"]) == (1, 10)
        assert rows[0]["margin"] > 1.0  # best match beats its neighborhood

    def test_hub_vector_is_not_everyones_match(self, spark):
        """The property the ratio margin exists for: a HUB target
        (dense neighborhood in the source cloud) ties the isolated true
        target on raw cosine — and the raw-cosine tie-break (lower id)
        would pick the hub — but the margin divides by neighborhood
        density, so the isolated true pair wins."""
        import math

        from opentick_spark.operators.similarity import margin_bitext_pairs

        a = math.radians(10)
        # probe source on the x-axis; 5 decoy sources clustered around
        # the hub direction (+10°) to densify the hub's neighborhood
        srcs = [(0, [1.0, 0.0])] + [
            (i, [math.cos(math.radians(8 + i)), math.sin(math.radians(8 + i))])
            for i in range(1, 6)
        ]
        # hub at +10° (id 50 < 60 so a cosine tie would pick IT);
        # isolated true target at -10°: cos(s0, hub) == cos(s0, t) exactly
        tgts = [
            (50, [math.cos(a), math.sin(a)]),
            (60, [math.cos(a), -math.sin(a)]),
        ]
        src = spark.createDataFrame(srcs, ["vec_id", "embedding"])
        tgt = spark.createDataFrame(tgts, ["vec_id", "embedding"])
        rows = margin_bitext_pairs(src, tgt, k=3, threshold=0.0).collect()
        picked = {r["src_id"]: r["tgt_id"] for r in rows}
        # the probe source escapes the hub despite the exact cosine tie
        assert picked[0] == 60

    def test_k_validation(self, spark):
        import pytest as _pytest

        from opentick_spark.operators.similarity import margin_bitext_pairs

        df = spark.createDataFrame([(1, [1.0])], ["vec_id", "embedding"])
        with _pytest.raises(ValueError, match="k must be"):
            margin_bitext_pairs(df, df, k=0)

    def _pseudo_corpus(self, spark, n, dim, seed, id0=0):
        import random as _random

        rng = _random.Random(seed)
        rows = [
            (id0 + i, [rng.uniform(-1.0, 1.0) for _ in range(dim)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_ivf_full_probe_equals_exact(self, spark):
        """strategy='ivf' with nprobe == ncentroids probes every list, so
        forward candidates are the full S×T and both μ_k neighborhoods
        see exactly what the exact path sees: the result must be
        IDENTICAL (VERDICT r12 item 1's equivalence contract)."""
        from opentick_spark.operators.similarity import margin_bitext_pairs

        src = self._pseudo_corpus(spark, 30, 6, seed=13)
        tgt = self._pseudo_corpus(spark, 45, 6, seed=29, id0=1000)
        kw = dict(k=4, threshold=0.9)
        exact = sorted(map(tuple, margin_bitext_pairs(src, tgt, **kw).collect()))
        ivf = sorted(
            map(
                tuple,
                margin_bitext_pairs(
                    src, tgt, strategy="ivf", ncentroids=8, nprobe=8, **kw
                ).collect(),
            )
        )
        assert len(exact) > 0  # non-vacuous
        assert [(a, b) for a, b, *_ in exact] == [(a, b) for a, b, *_ in ivf]
        for e, v in zip(exact, ivf):
            assert abs(e[2] - v[2]) < 1e-12 and abs(e[3] - v[3]) < 1e-12

    def test_ivf_planted_recall_at_partial_probe(self, spark):
        """Planted-geometry recall with nprobe < ncentroids (the
        ann_recall_planted style, forced behavior): 8 orthogonal
        clusters, ids ≡ cluster (mod 8), so seed_centroids puts centroid
        c at e_c exactly and every vector routes to its own cluster's
        list. Each source must recover its cluster's lowest-id target
        while probing only 2 of 8 lists."""
        from opentick_spark.operators.similarity import margin_bitext_pairs

        def e(c):
            return [1.0 if i == c else 0.0 for i in range(8)]

        src = spark.createDataFrame(
            [(c, e(c)) for c in range(8)], ["vec_id", "embedding"]
        )
        tgt = spark.createDataFrame(
            [(8 + j, e((8 + j) % 8)) for j in range(32)],
            ["vec_id", "embedding"],
        )
        out = margin_bitext_pairs(
            src, tgt, k=4, threshold=1.0, strategy="ivf",
            ncentroids=8, nprobe=2,
        ).collect()
        picked = {r["src_id"]: r["tgt_id"] for r in out}
        # cluster c's targets are {8+c, 16+c, 24+c, 32+c}: equal-margin
        # ties break to the lowest tid
        assert picked == {c: 8 + c for c in range(8)}

    def test_ivf_plan_has_no_nested_loop_join(self, spark):
        """The scale contract (VERDICT r12 item 1): the IVF path's plan
        must contain NO BroadcastNestedLoopJoin or CartesianProduct —
        candidate generation is hash joins on centroid_id (even
        centroid routing is a collected-matrix Arrow argsort, not a
        broadcast cross)."""
        from opentick_spark.operators.similarity import margin_bitext_pairs

        src = self._pseudo_corpus(spark, 24, 6, seed=7)
        tgt = self._pseudo_corpus(spark, 36, 6, seed=11, id0=500)
        df = margin_bitext_pairs(
            src, tgt, k=3, threshold=0.5, strategy="ivf",
            ncentroids=4, nprobe=2,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_negative_denominator_candidates_dropped(self, spark):
        """r12 ADVICE: k-NN neighborhood means can average NEGATIVE
        cosines, so a candidate with cos > 0 can still see
        (mu_s + mu_t) <= 0 — an ill-defined ratio (Inf/NaN at zero,
        sign-flipped otherwise). Such candidates must be dropped, not
        scored: here s1's k=2 neighborhood mean is -0.456 (one mild
        match, one anti-match), making the denominator negative for the
        only positive-cosine pair — even a pass-everything threshold
        must return nothing."""
        import math

        from opentick_spark.operators.similarity import margin_bitext_pairs

        a = math.radians(85)
        src = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
        tgt = spark.createDataFrame(
            [(10, [math.cos(a), math.sin(a)]), (11, [-1.0, 0.0])],
            ["vec_id", "embedding"],
        )
        rows = margin_bitext_pairs(src, tgt, k=2, threshold=-1e18).collect()
        assert rows == []


def test_bigram_pmi_survives_empty_documents(spark):
    """r12 review finding: an empty/whitespace-only doc used to crash
    the whole job (slice length -1); now it simply contributes no
    bigrams and the result matches the corpus without it."""
    from opentick_spark.operators.freq import bigram_pmi_top

    clean = spark.createDataFrame([("a b a b",), ("a b c",)], ["text"])
    noisy = spark.createDataFrame(
        [("a b a b",), ("",), ("   ",), ("solo",), ("a b c",)], ["text"]
    )
    want = [(r.w1, r.w2, r.c_ab) for r in bigram_pmi_top(clean, k=10, min_count=1).collect()]
    got_rows = bigram_pmi_top(noisy, k=10, min_count=1).collect()
    got = [(r.w1, r.w2, r.c_ab) for r in got_rows]
    # 'solo' adds one unigram (changes N_uni/pmi values) but no bigram
    # pair may appear or disappear, and nothing crashes
    assert got == want


def test_margin_bitext_ivf_empty_input(spark):
    """strategy='ivf' on empty input: no centroids can be trained —
    must return an empty result with the output schema, not crash in
    the collected-matrix probe (r13 edge guard)."""
    from opentick_spark.operators.similarity import margin_bitext_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = margin_bitext_pairs(empty, empty, k=2, strategy="ivf")
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "src_id", "tgt_id", "cos", "margin",
    ]


def test_ngram_novelty_golden(spark):
    """r14: first-occurrence accounting — a verbatim dup contributes 0
    novel n-grams, partial overlap attributes each gram to its lowest
    doc_id, and docs shorter than n tokens are excluded entirely."""
    rows = [
        (1, "a b c", "s1"),   # {a b, b c} both first here
        (2, "a b c", "s1"),   # verbatim dup -> 0 novel
        (3, "b c d", "s2"),   # {b c (first@1), c d (first@3)}
        (4, "x", "s2"),       # < 2 tokens: no bigrams, excluded
        (5, "p q r", "s2"),   # {p q, q r} both first here
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (r["n_docs"], r["total_ngrams"], r["novel_ngrams"],
                      r["fully_novel_docs"])
        for r in D.ngram_novelty(df, n=2).collect()
    }
    assert got == {"s1": (2, 4, 2, 1), "s2": (2, 4, 3, 1)}


def test_ngram_novelty_one_shingle_pass(spark):
    """The tokenize→window shingle pipeline must run ONCE: the raw gram
    relation's fork-point repartition is the reuse point (ReusedExchange)
    feeding both the per-doc and per-gram aggs. Regression guard for two
    measured reuse killers: a distinct below the fork (the novel
    branch's duplicate-insensitive min lets the optimizer strip it —
    subtrees stop canonicalizing equal) and the inner join's inferred
    isnotnull(id) landing in one branch only."""
    df = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('w', id % 9, ' w', id % 7, ' w', id % 5, ' w', id % 3, "
        "' w', id % 2, ' tail', id % 4) AS text",
        "concat('s', id % 3) AS source",
    )
    out = D.ngram_novelty(df, n=5)
    out.collect()
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("+- == Initial Plan ==")[0]
    )
    assert final.count("Generate") == 1, "shingle pipeline ran per-branch"
    assert "ReusedExchange" in final or "ReusedQueryStage" in final
    assert "BroadcastNestedLoopJoin" not in final


def test_line_dedup_known_fixture(spark):
    """Hand-computed line-level boilerplate removal (r15, VERDICT r14
    item 3): lines held by >= min_docs DISTINCT documents are dropped
    from every document (including within-doc repeats of them); lines
    repeated only WITHIN one document survive (the distinct-doc count,
    not the occurrence count, is the C4/RefinedWeb criterion); blank
    lines are exempt and preserved in place."""
    from opentick_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "cookie banner\nreal content one\n\nreal content two"),
            (2, "cookie banner\nunique para\ncookie banner"),
            (3, "self repeat\nself repeat\nown words"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r.asDict() for r in line_dedup(docs, min_docs=2).collect()}
    # "cookie banner" sits in docs 1 and 2 -> removed everywhere,
    # including doc 2's second copy; blank line kept in place
    assert got[1]["clean_text"] == "real content one\n\nreal content two"
    assert got[1]["n_lines"] == 4 and got[1]["removed_lines"] == 1
    assert got[2]["clean_text"] == "unique para"
    assert got[2]["removed_lines"] == 2
    # within-doc repeat only: 1 distinct doc < 2 -> kept
    assert got[3]["clean_text"] == "self repeat\nself repeat\nown words"
    assert got[3]["removed_lines"] == 0
    # empty text = one blank line, exempt, round-trips
    assert got[4]["clean_text"] == "" and got[4]["n_lines"] == 1
    assert got[4]["removed_frac"] == 0.0


def test_line_dedup_min_docs_and_all_removed(spark):
    """min_docs=3 threshold honored exactly; a document whose every
    line is boilerplate collapses to empty text but keeps its stats
    row."""
    from opentick_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, "nav bar\nfooter") for i in range(1, 4)]
        + [(4, "nav bar\nmy own line")],
        "doc_id long, text string",
    )
    got = {r["id"]: r.asDict() for r in line_dedup(docs, min_docs=3).collect()}
    # "nav bar" in 4 docs (>=3) removed; "footer" in 3 docs removed;
    # docs 1-3 collapse entirely
    for i in (1, 2, 3):
        assert got[i]["clean_text"] == ""
        assert got[i]["removed_lines"] == 2
        assert got[i]["removed_frac"] == 1.0
    assert got[4]["clean_text"] == "my own line"
    # min_docs=5: nothing reaches the threshold
    kept = {
        r["id"]: r["removed_lines"]
        for r in line_dedup(docs, min_docs=5).collect()
    }
    assert all(v == 0 for v in kept.values())


def test_cosine_seq_batch_bit_equals_fold(spark):
    """r15: ``cosine_seq_batch`` (the Arrow scoring twin swapped into
    ``margin_bitext_pairs``, whose cos is ORACLE-COMPARED output) must
    be BIT-identical to ``cosine()`` (the interpreted JVM fold) — not
    approximately equal: the driver hashes raw double bits. Covers the
    real sf0.001 embeddings (every pair, both roles) plus adversarial
    edges: NULL arrays, length mismatch, zero-dim, zero vectors,
    NaN/Inf elements, denormal-scale values."""
    import math
    import struct

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from opentick_spark.operators.similarity import (
        cosine,
        cosine_seq_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("va")
    )
    b = emb.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("vb")
    )
    pairs = a.crossJoin(b)
    edge_schema = StructType(
        [
            StructField("ida", LongType()),
            StructField("idb", LongType()),
            StructField("va", ArrayType(FloatType())),
            StructField("vb", ArrayType(FloatType())),
        ]
    )
    edges = spark.createDataFrame(
        [
            (1001, 1, None, [1.0, 2.0]),          # NULL array
            (1002, 2, [1.0, 2.0], None),
            (1003, 3, [1.0, 2.0, 3.0], [1.0, 2.0]),  # length mismatch
            # zero-dim / zero-norm rows are deliberately ABSENT: under
            # ANSI (this session's default) the JVM fold RAISES
            # DIVIDE_BY_ZERO there, so the domain of the equality
            # contract is nonzero-norm inputs (the UDF docstring
            # records the graceful-NaN divergence outside it)
            (1006, 6, [float("nan"), 1.0], [1.0, 1.0]),
            (1007, 7, [float("inf"), 1.0], [1.0, 1.0]),
            (1008, 8, [1e-38, -1e-38, 3e-39], [1e-38, 1e-38, -2e-38]),
            (1009, 9, [-1.5, 2.25], [4.75, -0.375]),
            # every product exactly -0.0: the fold's leading 0.0 + p0
            # normalizes to +0.0; the twin's cumsum must too (r15
            # ADVICE — the "+ 0.0" tail in cosine_seq_batch). Raw-bit
            # comparison below distinguishes -0.0 from +0.0.
            (1010, 10, [0.0, 1.0], [-1.0, -0.0]),
        ],
        edge_schema,
    )
    both = pairs.unionByName(edges)
    got = both.select(
        "ida",
        "idb",
        cosine(F.col("va"), F.col("vb")).alias("jvm"),
        cosine_seq_batch(F.col("va"), F.col("vb")).alias("arrow"),
    ).collect()
    assert len(got) > 1000  # the corpus cross product actually ran

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    diverged = [
        r
        for r in got
        if bits(r["jvm"]) != bits(r["arrow"])
        and not (
            r["jvm"] is not None
            and r["arrow"] is not None
            and math.isnan(r["jvm"])
            and math.isnan(r["arrow"])
        )
    ]
    assert diverged == [], f"cos diverged on {len(diverged)} rows: {diverged[:5]}"


def test_cent_rows_closure_size_guard(spark, monkeypatch):
    """r16 (VERDICT r15 item 3): closure-based routing must fail loudly
    when the centroid relation outgrows task-closure size instead of
    silently serializing the matrix into every task's UDF command."""
    import pytest as _pytest

    from opentick_spark.operators import similarity as S

    cents = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(4)],
        "centroid_id int, centv array<float>",
    )
    assert len(S._cent_rows(cents)) == 4  # under the bound: fine
    monkeypatch.setattr(S, "_CENT_CLOSURE_MAX_FLOATS", 16)
    with _pytest.raises(ValueError, match="closure routing"):
        S._cent_rows(cents)
