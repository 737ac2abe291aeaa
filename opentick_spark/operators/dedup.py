"""Deduplication operators for LLM-data pipelines.

Five strategies, all shuffle-conscious:

- exact:         hash-groupBy on a canonical text hash — one shuffle.
- ngram_jaccard: exact pairwise word-n-gram Jaccard — quadratic, the
                 *oracle* for the approximate methods (use at small scale
                 or within LSH candidate buckets).
- minhash_lsh:   shingle → k minhashes → b bands → bucket join →
                 verify candidates with exact Jaccard. The 100 TB path:
                 cost is O(n·k) + one shuffle on (band, bucket-hash) +
                 verification only on collisions.
- simhash:       64-bit simhash + chunk blocking (Hamming-ball search);
                 candidates share one of 4 16-bit chunks → verify with
                 bit_count(xor) ≤ radius.
- embedding_cosine: near-dup pairs by embedding cosine ≥ threshold
                 (brute force here; LSH/IVF variants in similarity.py).

Text paths are built-in DataFrame ops shaped for codegen (explode +
hash-agg rather than higher-order lambdas, which are codegen-fallback
and re-evaluate shared subexpressions); embedding cosine uses the
Arrow-vectorized Pandas UDF from similarity.py.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from opentick_spark.operators.text import normalize_text, ws_tokens

# Mersenne-31: keeps (h*a+b) within long range under ANSI overflow checks
_MERSENNE = (1 << 31) - 1


def _spread_by_id(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition a narrow input on the doc id before CPU-heavy
    per-shingle work. A small/compacted table can arrive as 1-2 parquet
    splits; without this the tokenize→shingle→hash chain (plus the
    consumer's map-side partial aggregation) runs on one core. The
    explicit user repartition is not AQE-coalescible, and because it
    hash-partitions on the id, the downstream window/groupBy on id needs
    NO further shuffle — one exchange total, sized to the cluster.

    Narrowness is judged by ``inputFiles()`` (cheap metadata — a
    ``.rdd.getNumPartitions()`` probe would force full physical planning
    and cost seconds of driver time on a wide plan): at real scale the
    source has >= parallelism files and this is a no-op; an in-memory
    test frame reports no files and gets spread, which is always safe."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files < target:
        return df.repartition(target, F.col(id_col))
    return df


def exploded_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    distinct: bool = True,
) -> DataFrame:
    """(id, g) rows of word n-gram shingles — the bulk-path shingler.

    Tokenizes each document exactly once (posexplode), then forms
    n-grams with window ``lead`` over token position: every expression
    codegen-friendly (per-element lambdas would be interpreted), zero
    re-evaluation of the normalize/tokenize regex chain, and the single
    exchange comes from ``_spread_by_id`` so the window sort and the
    consumer's aggregation stay shuffle-free on top of it. Docs with
    fewer than n tokens produce no rows.
    """
    toks = _spread_by_id(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(ws_tokens(normalize_text(F.col(text_col)))).alias(
            "__pos", "__tok"
        ),
    )
    if n == 1:
        out = toks.select("id", F.col("__tok").alias("g"))
    else:
        w = Window.partitionBy("id").orderBy("__pos")
        leads = [F.lead("__tok", j).over(w).alias(f"__l{j}") for j in range(1, n)]
        out = (
            toks.select("id", "__tok", *leads)
            .filter(F.col(f"__l{n-1}").isNotNull())
            .select(
                "id",
                F.concat_ws(
                    " ", "__tok", *[f"__l{j}" for j in range(1, n)]
                ).alias("g"),
            )
        )
    return out.distinct() if distinct else out


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard of two (already-distinct) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


# ---------------------------------------------------------------------------
def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: one hash-shuffle, keeps the minimum
    id as the group representative. Output: (keeper, n_copies, members)."""
    h = F.sha2(normalize_text(F.col(text_col)), 256).alias("__h")
    return (
        df.select(F.col(id_col), h)
        .groupBy("__h")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
        .drop("__h")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an **inverted index**:
    explode distinct shingles, equi-join on the shingle to count
    intersections (one hash shuffle), derive Jaccard from
    |A∩B| / (|A|+|B|-|A∩B|). Pairs sharing zero shingles never
    materialize — unlike a pairwise cross join, cost scales with shingle
    collisions, not n². Requires threshold > 0. Output: (id_a, id_b, jac)
    with id_a < id_b.

    Scale note: at 100 TB, cap ultra-common shingles (stop-shingles) by
    frequency before the self-join to bound the worst bucket; for this
    corpus the distinct-shingle distribution is flat enough without it.
    """
    e = exploded_shingles(df, id_col, text_col, n)
    sizes = e.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "__n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "__n_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("__inter").cast("double")
                / (F.col("__n_a") + F.col("__n_b") - F.col("__inter")).cast("double")
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing at least
    ``min_shared`` distinct word n-grams with any benchmark document —
    the standard eval-decontamination pass of a training pipeline.

    Inverted-index equi-join on the shingle (the benchmark side is tiny
    and broadcast), so cost scales with n-gram collisions, not
    |corpus| × |benchmark|. Output: (corpus_id, bench_id, n_shared).
    """
    c = exploded_shingles(corpus, id_col, text_col, n)
    b = exploded_shingles(benchmark, id_col, text_col, n)
    return (
        c.join(
            F.broadcast(b.withColumnsRenamed({"id": "bench_id"})), "g"
        )
        .groupBy(F.col("id").alias("corpus_id"), "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
def _minhash_params(k: int, seed: int) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE)) for _ in range(k)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 128,
    seed: int = 42,
    shingles: DataFrame | None = None,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures over word-n-gram shingles.

    Shape chosen for codegen, not elegance: shingles are **exploded** so
    the normalize/tokenize regex chain runs exactly once per document,
    each shingle gets one base xxhash64, and the k permutations
    ((a*h+b) mod Mersenne-31) are k plain MIN aggregates in a single
    hash aggregation — whole-stage-codegen'd end to end, one shuffle on
    id. (The tempting `array(k × transform(...))` form re-evaluates the
    shingle pipeline k times: higher-order lambdas are codegen-fallback
    and get no common-subexpression elimination.)
    Output: (id, sig: array<long>[k]); shingle-less docs are absent.

    ``base_hash="md5"`` switches the per-shingle base hash to the first
    15 hex digits of md5 (60 bits, still JVM built-ins) — a hash every
    engine computes identically, making the WHOLE minhash+banding
    pipeline replayable in a DuckDB oracle (lsh_banding_efficiency).
    xxhash64 stays the default: one JVM hash beats md5+conv in the hot
    path, and candidate quality is identical.
    """
    params = _minhash_params(num_hashes, seed)
    # min is duplicate-insensitive → skip the distinct shuffle;
    # ``shingles``: optional precomputed (id, g) frame so callers that
    # also need the shingle sets (LSH verification) tokenize only once
    e = (
        shingles
        if shingles is not None
        else exploded_shingles(df, id_col, text_col, n, distinct=False)
    )
    if base_hash == "md5":
        base = (
            F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 15), 16, 10)
            .cast("long")
            % _MERSENNE
        )
    else:
        base = F.abs(F.xxhash64("g")) % _MERSENNE
    e = e.select("id", base.alias("__h"))
    # single-string expressions: the Column-operator form costs ~6 py4j
    # round-trips per aggregate (~2s of driver time for k=128); one
    # F.expr per aggregate keeps DataFrame construction milliseconds
    aggs = [
        F.expr(f"min((__h * {a}L + {b}L) % {_MERSENNE}L) AS __m{i}")
        for i, (a, b) in enumerate(params)
    ]
    g = e.groupBy("id").agg(*aggs)
    sig = F.expr(
        "array(" + ", ".join(f"__m{i}" for i in range(num_hashes)) + ")"
    )
    return g.select("id", sig.alias("sig"))


def band_buckets(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    sig_col: str = "sig",
    portable: bool = False,
) -> DataFrame:
    """(id, band, bucket) rows from minhash signatures: band bucket =
    xxhash64 over the band's signature longs directly (multi-arg hash —
    no string casts, small plan, codegen-friendly); built as ONE
    expression string to avoid py4j chatter. Shared by the batch LSH
    pairs and the streaming near-dup detector.

    ``portable=True`` combines each band's rows with a polynomial fold
    mod Mersenne-31 (acc = (acc*1000003 + m) % M — every intermediate
    < 2^51, overflow-free in int64) instead of xxhash64, so a DuckDB
    oracle can replay the exact bucket values. Same collision contract:
    equal band rows ⇒ equal bucket; spurious collisions are ~n²/2^31
    per band and — being deterministic — replay identically."""
    rows_per_band = num_hashes // bands

    def fold(idx: list[int]) -> str:
        acc = "0"
        for i in idx:
            acc = f"(({acc}) * 1000003 + {sig_col}[{i}]) % {_MERSENNE}"
        return acc

    if portable:
        band_exprs = ", ".join(
            fold(list(range(b * rows_per_band, (b + 1) * rows_per_band)))
            for b in range(bands)
        )
    else:
        band_exprs = ", ".join(
            "xxhash64("
            + ", ".join(
                f"{sig_col}[{i}]"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            )
            + ")"
            for b in range(bands)
        )
    return sigs.select(
        "id",
        F.posexplode(F.expr(f"array({band_exprs})")).alias("band", "bucket"),
    )


def lsh_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The shared LSH sub-plans — ``(shingle sets, banded buckets)`` —
    factored out (r6) so a caller that needs BOTH the all-pairs and the
    star-edge view of the same corpus (e.g. an equivalence self-check,
    or batch + incremental index builds) tokenizes and minhashes ONCE:

    - ``sh``: (id, sh: array<string>) shingle sets, one tokenize pass,
      id-hash partitioned. Consumed by signature derivation and by both
      sides of Jaccard verification joins.
    - ``banded``: (id, band, bucket) LSH bucket occupancy.

    Both are eagerly ``localCheckpoint``-ed when ``materialize`` (the
    default): each is consumed 2+ times per arm, and cross-arm Catalyst
    cannot reuse exchanges between separate actions. At cluster scale
    substitute ``checkpoint()``/a persisted table for multi-job reuse.
    """
    sh = (
        exploded_shingles(df, id_col, text_col, n, distinct=False)
        .groupBy("id")
        .agg(F.collect_set("g").alias("sh"))
    )
    if materialize:
        sh = sh.localCheckpoint(eager=True)
    re_exploded = sh.select("id", F.explode("sh").alias("g"))
    sigs = minhash_signatures(
        df, id_col, text_col, n, num_hashes, seed, shingles=re_exploded
    )
    banded = band_buckets(sigs, num_hashes, bands)
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    return sh, banded


def star_edges_from_buckets(banded: DataFrame) -> DataFrame:
    """Per-(band, bucket) STAR edges — hub = min(id), one edge
    hub→member: n-1 edges per bucket instead of C(n,2). The linear-
    fan-out candidate construction shared by ``minhash_cluster_edges``,
    ``lsh_cluster_index``, and ``incremental_cluster_assign``."""
    hub = Window.partitionBy("band", "bucket")
    return (
        banded.select(
            F.min("id").over(hub).alias("id_a"), F.col("id").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    materialize_shingles: bool = True,
    frames: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    banding: k=128 hashes → 32 bands × 4 rows ⇒ P(candidate | J) =
    1-(1-J^4)^32, ≈1 for J≥0.7, ≈.03 for J≤0.2 — candidates shuffle on
    (band, band-hash), so cost scales with collisions, not pairs.
    ``frames``: precomputed ``lsh_frames`` output so a caller running
    several arms over the same corpus tokenizes once.
    Output: (id_a, id_b, jac) — same contract as ngram_jaccard_pairs.
    """
    sh, banded = (
        frames
        if frames is not None
        else lsh_frames(
            df, id_col, text_col, n, num_hashes, bands, seed,
            materialize=materialize_shingles,
        )
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # verify candidates with exact Jaccard on the same materialized
    # shingle sets (subplan shared with the signature path above); the
    # size-ratio bound J <= min(|A|,|B|)/max(|A|,|B|) discards impossible
    # pairs BEFORE the expensive array intersection — pure loss-free
    # pruning
    na, nb = F.size("sh_a"), F.size("sh_b")
    return (
        cand.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .filter(
            F.least(na, nb).cast("double")
            >= F.lit(threshold) * F.greatest(na, nb)
        )
        .select(
            "id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jac")
        )
        .filter(F.col("jac") >= threshold)
    )


# ---------------------------------------------------------------------------
def minhash_cluster_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    verify: bool = True,
    materialize_shingles: bool = True,
    frames: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Linear-fan-out LSH edges for CLUSTERING — the scale path when a
    pathological duplicate group (one doc ingested 10k times) makes
    all-pairs candidate generation quadratic.

    ``minhash_lsh_pairs``'s banded self-join emits C(n,2) candidates
    per (band, bucket): a 10k-duplicate clique is ~5·10^7 pairs PER
    BAND — the r5 skew drill measures the cliff. For dedup the pairs
    themselves are rarely the goal; the CLUSTERS are. This operator
    emits a STAR per bucket instead: hub = min(id), one edge
    hub→member — n-1 edges per bucket, linear in bucket size. With
    ``verify=False`` connected components over star edges EQUAL
    components over the full per-bucket candidate cliques (every clique
    member reaches every other through the hub) — candidate volume
    drops from quadratic to linear at zero clustering change.

    ``verify=True`` additionally checks each star edge with exact
    Jaccard >= threshold: single-linkage-through-hub semantics, the
    standard large-corpus MinHash-dedup approximation. Because only
    hub-incident pairs are verified, a bucket whose members are similar
    to each other but not to the hub can split differently than the
    all-pairs-verified graph; for DUPLICATE-GROUP buckets (near-exact
    copies — the pathological shape this operator exists for) every
    edge verifies and clustering is unchanged
    (tests/test_operators.py asserts the equivalence on clique groups).
    ``frames``: precomputed ``lsh_frames`` output for multi-arm reuse.
    Output: (id_a, id_b[, jac]) with id_a < id_b — feeds
    ``connected_components`` directly.
    """
    sh, banded = (
        frames
        if frames is not None
        else lsh_frames(
            df, id_col, text_col, n, num_hashes, bands, seed,
            materialize=materialize_shingles,
        )
    )
    edges = star_edges_from_buckets(banded)
    if not verify:
        return edges
    na, nb = F.size("sh_a"), F.size("sh_b")
    return (
        edges.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .filter(
            F.least(na, nb).cast("double")
            >= F.lit(threshold) * F.greatest(na, nb)
        )
        .select(
            "id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jac")
        )
        .filter(F.col("jac") >= threshold)
    )


def lsh_cluster_index(
    df: DataFrame,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    banded: DataFrame | None = None,
) -> DataFrame:
    """The persisted state for incremental near-dup ingest: a
    (band, bucket) → cluster index of an already-clustered corpus.
    ``clusters`` is the full assignment (id, cluster) — when omitted it
    is computed here as connected components over star edges with
    SINGLETON docs assigned their own id (so a future delta doc that
    duplicates a previously-unique doc still finds it). ``banded``:
    precomputed (id, band, bucket) occupancy (``lsh_frames``) so multi-
    arm callers minhash once. Index size is at most one row per
    occupied (band, bucket) — signature-sized, not text-sized; at
    100 TB this is the table you keep between ingest batches instead of
    re-reading the corpus."""
    if banded is None:
        sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, seed)
        banded = band_buckets(sigs, num_hashes, bands)
    if clusters is None:
        comp = connected_components(star_edges_from_buckets(banded))
        clusters = (
            df.select(F.col(id_col).alias("id"))
            .join(comp, "id", "left")
            .select(
                "id", F.coalesce("cluster", F.col("id")).alias("cluster")
            )
        )
    return (
        banded.join(clusters, "id")
        .groupBy("band", "bucket")
        .agg(F.min("cluster").alias("cluster"))
    )


def incremental_cluster_assign(
    delta_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Assign a DELTA of new documents to existing near-dup clusters
    WITHOUT re-clustering the corpus — the near-dup extension of the
    exact-hash ``incremental_dedup`` story: at 100 TB you re-cluster
    the delta, not the corpus.

    Plan: delta signatures → equi-join against the (band, bucket) →
    cluster ``lsh_cluster_index`` (delta-sized probe; the index is the
    small side), then connected components over a DELTA-SIZED graph:
    star edges among new docs sharing a bucket plus adoption edges
    new-doc → matched baseline cluster label. Unmatched docs become
    their own cluster. Baseline labels are preferred as component
    names, so adopted docs carry the EXISTING cluster id (a delta that
    bridges two baseline clusters adopts the smaller label; the
    baseline itself is never relabeled — append-only semantics,
    documented). Candidate granularity matches
    ``minhash_cluster_edges(verify=False)``: LSH bucket co-occupancy,
    the standard large-corpus approximation. ``banded``: precomputed
    delta (id, band, bucket) occupancy for multi-arm reuse.
    Output: (id, cluster) for every delta doc."""
    if banded is None:
        sigs = minhash_signatures(
            delta_df, id_col, text_col, n, num_hashes, seed
        )
        nb = band_buckets(sigs, num_hashes, bands)
    else:
        nb = banded
    matched = nb.join(index, ["band", "bucket"], "left")
    star = star_edges_from_buckets(matched)
    adopt = (
        matched.filter(F.col("cluster").isNotNull())
        .select(F.col("cluster").alias("id_a"), F.col("id").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    edges = star.unionByName(adopt)
    comp = connected_components(edges)
    base_min = (
        comp.join(
            adopt.select(F.col("id_a").alias("id")).distinct(), "id", "left_semi"
        )
        .groupBy("cluster")
        .agg(F.min("id").alias("__bmin"))
    )
    final = comp.join(base_min, "cluster", "left").select(
        "id", F.coalesce("__bmin", F.col("cluster")).alias("cluster")
    )
    return (
        delta_df.select(F.col(id_col).alias("id"))
        .join(final, "id", "left")
        .select("id", F.coalesce("cluster", F.col("id")).alias("cluster"))
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_ngram: int = 2,
) -> DataFrame:
    """64-bit SimHash per document, pure built-ins.

    Per shingle hash h, each bit contributes ±1; the sign of the summed
    vote vector forms the output bits. Same codegen-first shape as
    minhash_signatures: explode shingles once, then 64 plain SUM
    aggregates (one per bit) in a single hash aggregation — no
    higher-order lambdas in the hot path. Docs with no shingles are
    dropped (they have no meaningful near-dup signature).
    Output: (id, sh: long).
    """
    one = F.lit(1).cast("long")
    e = exploded_shingles(df, id_col, text_col, token_ngram).select(
        "id", F.xxhash64("g").alias("__h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), i).bitwiseAND(one) == 1, 1).otherwise(-1)
        ).alias(f"__b{i}")
        for i in range(64)
    ]
    g = e.groupBy("id").agg(*votes)
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(F.col(f"__b{i}") > 0, F.shiftleft(one, i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return g.select("id", sig.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    token_ngram: int = 2,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance with chunk blocking.

    Pigeonhole guarantee: the 64-bit signature is split into
    ``max_hamming + 1`` chunks, so any pair within the radius has at
    most ``max_hamming`` differing bits spread over ``max_hamming + 1``
    chunks — at least one chunk is identical. Candidates equi-join on
    (chunk_idx, chunk_value), then verify bit_count(xor) exactly:
    **100% recall** at the requested radius, cost scaling with chunk
    collisions (wider radius ⇒ narrower chunks ⇒ more candidates — the
    standard Hamming-ball blocking trade-off). ``sigs``: precomputed
    ``simhash_signatures`` frame so multi-arm callers (the blocked-vs-
    exhaustive self-check) hash the corpus once.
    Output: (id_a, id_b, hamming).
    """
    if sigs is None:
        sigs = simhash_signatures(df, id_col, text_col, token_ngram)
    return hamming_blocked_pairs(sigs, sig_col="sh", max_hamming=max_hamming)


def _hamming_chunks(
    sigs: DataFrame, sig_col: str, id_col: str, max_hamming: int
) -> DataFrame:
    """(id, __sig, chunk_idx, chunk_val) pigeonhole-chunk rows shared by
    the pairs and star constructions: max_hamming+1 disjoint chunks ⇒ a
    pair within the radius agrees on at least one chunk (100% recall)."""
    if not 0 <= max_hamming <= 31:
        raise ValueError("max_hamming must be in [0, 31]")
    n_chunks = max_hamming + 1
    # cap at 31 bits so the mask literal fits a positive int (the
    # pigeonhole guarantee only needs the chunks disjoint, not that they
    # cover all 64 bits — differing bits outside any chunk can't make a
    # chunk unequal)
    chunk_bits = min(31, 64 // n_chunks)
    mask = F.lit((1 << chunk_bits) - 1).cast("long")
    sigs = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("__sig")
    ).filter(F.col("__sig").isNotNull())
    return sigs.select(
        "id",
        "__sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("__sig"), chunk_bits * i).bitwiseAND(
                        mask
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )


def hamming_blocked_star_edges(
    sigs: DataFrame,
    sig_col: str = "sh",
    id_col: str = "id",
    max_hamming: int = 8,
) -> DataFrame:
    """Clone-collapsing edge construction for Hamming clustering — the
    hot-chunk scale escape (r7): identical signatures are collapsed
    GLOBALLY first (rep = min id per signature; the K-1 rep→member
    clique edges are hamming-0 by construction, no verification
    needed), then ``hamming_blocked_pairs`` runs over the DISTINCT
    signatures only. A K-clone clique (constant-color images,
    re-encoded copies, black video frames) costs one groupBy row plus
    K-1 edges instead of ~C(K,2) pairs in every one of the
    max_hamming+1 chunks; the skew drill (tests/skew_drill_hamming.py
    → PLANS.md) pins the asymptotics.

    Unlike a naive per-bucket hub star (whose hub can be a
    false-collider that fails verification and disconnects the
    clique), this construction is EXACTLY cluster-equivalent to the
    pairs graph: a verified pair with equal signatures is joined by
    its clique; one with distinct signatures has reps sharing the same
    chunk at the same distance, so the rep edge verifies and the
    members connect through their cliques. Pinned by
    test_hamming_star_cluster_equivalence. Output: (id_a, id_b,
    hamming)."""
    s = (
        sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("__sig"))
        .filter(F.col("__sig").isNotNull())
    )
    reps = s.groupBy("__sig").agg(F.min("id").alias("__rep"))
    clique = (
        s.join(reps, "__sig")
        .filter(F.col("__rep") < F.col("id"))
        .select(
            F.col("__rep").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    rep_sigs = reps.select(F.col("__rep").alias("id"), "__sig")
    cross = hamming_blocked_pairs(
        rep_sigs, sig_col="__sig", id_col="id", max_hamming=max_hamming
    )
    return clique.unionByName(
        cross.select("id_a", "id_b", F.col("hamming").cast("int"))
    )


def hamming_blocked_pairs(
    sigs: DataFrame,
    sig_col: str = "sh",
    id_col: str = "id",
    max_hamming: int = 8,
) -> DataFrame:
    """Generic Hamming-ball blocking over any (id, 64-bit signature)
    frame — factored out of ``simhash_pairs`` (r6) so perceptual media
    hashes (image dHash, audio/video fingerprints) get the same
    100%-recall near-dup scale path: pigeonhole chunks, equi-join on
    (chunk_idx, chunk_val), exact ``bit_count(xor)`` verification.
    Output: (id_a, id_b, hamming).

    Hot-chunk caveat (same contract as LSH buckets): a degenerate chunk
    value shared by K signatures (e.g. constant-color images whose
    dHash is all-zero) makes this op emit ~C(K,2) pairs per chunk —
    quadratic in K. For corpora where such cliques are possible, use
    ``hamming_blocked_star_edges`` + ``connected_components`` instead
    (K-1 edges per bucket; skew drill in PLANS.md).

    r14 (plan_reuse_sweep, tried and REVERTED): a fork-point
    repartition making the self-join's sides share one signature pass
    was measured 3.5-5x SLOWER on the hot-clique skew drill at K=4000
    (25-41s vs 7.5s same box) with either fork key — (chunk_idx,
    chunk_val) forces a co-partitioned join that concentrates the
    clique's C(K,2) generation, and even an id-key fork regressed the
    quadratic probe path. The duplicated per-side pipeline here is
    cheap JVM expression work (the media entries pass precomputed
    JVM-side signatures; ``simhash_pairs`` exposes ``sigs`` for
    multi-arm callers), so the two-pass plan is the measured winner —
    kept, with the drill as the regression guard."""
    chunks = _hamming_chunks(sigs, sig_col, id_col, max_hamming)
    cand = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk_val") == F.col("y.chunk_val"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(
                F.col("x.__sig").bitwiseXOR(F.col("y.__sig"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-dup pairs into connected components by iterative
    min-label propagation: each node repeatedly adopts the smallest label
    among itself and its neighbors until fixpoint. The component
    representative is the minimum id — the dedup 'keeper'.

    Per iteration: one equi-join + one min-agg (both on node id), then a
    pointer-jumping step (``cluster := cluster[cluster]``) that halves
    remaining chain depth — total rounds O(log diameter), so long
    near-dup chains converge too. ``localCheckpoint`` truncates lineage
    so plans don't grow with iterations (the standard Spark
    iterative-algorithm hygiene; at cluster scale use checkpoint() to
    reliable storage). Convergence early-exit (r6): the OLD label rides
    along inside the checkpointed frame, so the changed-check is a
    filter+limit over already-materialized blocks — no join, no
    shuffle; and iteration 1 skips the check entirely (any non-empty
    edge set flips at least one label on the first propagation).
    Raises RuntimeError if ``max_iter`` is exhausted with changes still
    pending — never silently returns non-converged labels. Output:
    (id, cluster) for every id appearing in ``pairs``.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for it in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("__nbr"))
        )
        prop = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
            "id",
            F.col("cluster").alias("__old"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("__nbr"), F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer jumping: cluster := cluster[cluster] — collapses label
        # chains exponentially (large-star-style shortcutting)
        lut = prop.select(
            F.col("id").alias("__lid"), F.col("cluster").alias("__lcluster")
        )
        new_labels = (
            prop.join(lut, prop.cluster == F.col("__lid"), "left")
            .select(
                "id",
                "__old",
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("__lcluster"), F.col("cluster")),
                ).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels.select("id", "cluster")
        if it > 0 or max_iter == 1:
            changed = (
                new_labels.filter(F.col("cluster") != F.col("__old"))
                .limit(1)
                .count()
            )
            if changed == 0:
                converged = True
                break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "iterations; raise max_iter"
        )
    return labels


def connected_components_multi(
    graphs: list[DataFrame],
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> list[DataFrame]:
    """Connected components over SEVERAL independent graphs in ONE
    propagation loop (r6): each graph's numeric node ids are tag-encoded
    as ``id*k + tag`` (disjoint residue classes, so components never mix
    across graphs), the union graph runs a single min-label loop, and
    the per-graph labelings are decoded back by residue. An equivalence
    self-check that clusters the same corpus two ways pays ONE iteration
    loop (max of the two graphs' rounds) instead of the sum — the
    per-iteration fixed cost (checkpoint + convergence job) is the
    dominant term for small-diameter dedup graphs. Requires
    ``|id| < 2^63/k`` so the tag encoding ``id*k + t`` cannot overflow
    a long; negative ids are fine — ``pmod`` keeps the residue classes
    disjoint and the exact integral ``div`` decode is sign-correct."""
    k = len(graphs)
    tagged = None
    for t, g in enumerate(graphs):
        e = g.select(
            (F.col(id_a).cast("long") * k + t).alias("id_a"),
            (F.col(id_b).cast("long") * k + t).alias("id_b"),
        )
        tagged = e if tagged is None else tagged.unionByName(e)
    labels = connected_components(tagged, max_iter=max_iter)
    # pmod (not %: Spark's % keeps the dividend's sign, dropping
    # negative-id rows) + integral div (not /: float division loses
    # exactness above 2^53, silently merging distinct high ids).
    # (id - t) is exactly divisible by k whenever pmod(id,k)==t, so
    # div is exact for any sign.
    return [
        labels.filter(F.pmod(F.col("id"), F.lit(k)) == t).select(
            F.expr(f"(id - {t}) div {k}").alias("id"),
            F.expr(f"(cluster - {t}) div {k}").alias("cluster"),
        )
        for t in range(k)
    ]


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-dup pairs by embedding cosine similarity (brute force).

    The quadratic baseline — at scale, block with similarity.py's LSH or
    IVF routing first and apply this only within buckets.
    Output: (id_a, id_b, cos)."""
    from opentick_spark.operators.similarity import cosine_batch

    t = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        t.alias("a")
        .join(t.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_batch(F.col("a.v"), F.col("b.v")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def dup_ngram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Duplicate n-gram coverage: the fraction of a document's distinct
    word n-grams that also appear in at least one OTHER document — the
    corpus-level repetition signal used by modern web-corpus quality
    filters (alongside the per-doc Gopher metrics), and the shingle-level
    view of near-duplication that pairwise methods summarize.

    Shape: one inverted index (shingle → doc-frequency, map-side
    combinable) joined back on the shingle key the groupBy already
    partitioned by, then a per-doc aggregate. No pairwise work at all —
    cost scales with |corpus shingles|, not documents².

    Output: (id, n_shingles, n_shared, dup_frac) for documents with at
    least one n-gram (docs shorter than n words produce no shingles and
    are absent, matching the filter's domain).
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    docfreq = sh.groupBy("g").agg(F.count("*").alias("__df"))
    return (
        sh.join(docfreq, "g")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("__df") >= 2).cast("long")).alias("n_shared"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_shared").cast("double") / F.col("n_shingles"),
        )
    )


def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """LSH-blocked embedding near-dup pairs — the scale path whose
    brute-force baseline is ``embedding_cosine_pairs``.

    ``tables`` independent hyperplane sketches bucket each vector;
    candidate pairs share a (table, bucket); exact cosine verifies, so
    precision is 1 by construction and recall ≈
    1 − (1 − p^bits)^tables with p = 1 − θ/π per Charikar's SimHash
    bound. Pairwise work happens only INSIDE buckets: the shuffle keys
    on (table, bucket), cost scales with collision counts, never n².
    For true near-dup thresholds (θ small) a few 8-bit tables reach
    ~0.9 recall. Output: (id_a, id_b, cos) — same contract as the
    brute-force operator, guaranteed a subset of it.
    """
    from opentick_spark.operators.similarity import (
        _hyperplanes,
        cosine_batch,
        lsh_bucket,
    )

    t = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    parts = []
    for ti in range(tables):
        planes = _hyperplanes(dim, bits, seed + 31 * ti)
        parts.append(
            t.select(
                "id",
                "v",
                F.lit(ti).alias("tbl"),
                lsh_bucket(F.col("v"), planes).alias("bkt"),
            )
        )
    b = parts[0]
    for x in parts[1:]:
        b = b.unionByName(x)
    cand = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("__va"),
            F.col("b.v").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])  # a pair may collide in many tables
    )
    return cand.select(
        "id_a",
        "id_b",
        cosine_batch(F.col("__va"), F.col("__vb")).alias("cos"),
    ).filter(F.col("cos") >= threshold)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_stride: int = 50,
    threshold: float = 0.85,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into cells, then
    within each cell mark every vector that has a semantically
    near-identical predecessor as a duplicate (keep-lowest-id policy).

    Deterministic variant for reproducible pipelines: cells are defined
    by nearest-anchor assignment over a *fixed* anchor subset
    (``id % anchor_stride == 0``) instead of k-means centroids (seed-
    and iteration-order-dependent), so the same corpus always dedups
    identically. The assignment is the IVF coarse-quantizer shape
    (similarity.ivf_topk): anchors broadcast, Arrow-batched cosine per
    (row, anchor), argmax by (cos desc, anchor_id) — n*K work with no
    shuffle. The near-dup test then self-joins WITHIN a cell only (one
    shuffle on cell_id), never the global n^2 cross product; at scale,
    anchor_stride grows so cells stay bounded (SemDeDup uses k ~ 1e5
    clusters for 5B docs).

    Output: (id, cell_id, is_dup) — one row per input vector.
    """
    from opentick_spark.operators.similarity import cosine_batch

    t = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    anchors = t.filter(F.col("id") % anchor_stride == 0).select(
        F.col("id").alias("anchor_id"), F.col("v").alias("avec")
    )
    scored = t.join(F.broadcast(anchors)).select(
        "id", "v", "anchor_id", cosine_batch(F.col("v"), F.col("avec")).alias("cos")
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("anchor_id"))
    assign = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", F.col("anchor_id").alias("cell_id"), "v")
    )
    pairs = (
        assign.alias("a")
        .join(
            assign.alias("b"),
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("b.id").alias("id"),
            cosine_batch(F.col("a.v"), F.col("b.v")).alias("pcos"),
        )
        .filter(F.col("pcos") > threshold)
        .select("id")
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return assign.join(pairs, "id", "left").select(
        "id",
        F.col("cell_id").cast("long").alias("cell_id"),
        F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level exact dedup: per-document statistics of token
    spans whose n-token window occurs >= ``min_count`` times in the
    corpus (the suffix-array dedup of "Deduplicating Training Data Makes
    Language Models Better", re-expressed as an n-gram-window inverted
    index — no suffix array, no pairwise work).

    Plan: tokenize once (posexplode keeps positions), n-gram windows by
    ``lead`` over position (codegen, no higher-order lambdas), the
    corpus-wide occurrence count as COUNT() OVER (PARTITION BY gram) —
    one shuffle on the gram, no join — marking duplicated positions in
    the same pass, then a per-document gaps-and-islands pass merges
    overlapping/adjacent windows into maximal spans ([p, p+n) and
    [q, q+n) merge iff q - p <= n). r14 (plan_reuse_sweep): the
    previous agg + semi-join formulation forked the gram relation and
    recomputed the whole tokenize→lead-window pipeline once per
    consumer (two corpus passes; a fork exchange can't save it —
    column pruning diverges below the fork, the count branch drops
    id/__pos). The island window re-partitions only the DUPLICATED
    positions on id. A repeated window is corpus-frequency-bounded,
    never doc-pairwise; a degenerate hot gram co-locates its rows the
    same as the join it replaces.

    r16 (guide §2.3 shuffle keys, not payloads — the
    video_sequence_groups fingerprint lesson): the count window keys on
    a TWO-SEED xxhash64 pair of the space-joined gram instead of the
    gram string itself. Every corpus gram row crosses the gram exchange
    as 16 bytes of key instead of an n-token string and the window sort
    compares two longs. Two DIFFERENT grams merge their counts only on
    a simultaneous collision in both independent 64-bit spaces (≈2^-128
    per pair in the random model — no data scale reaches it; the
    brute-force randomized model test and the DuckDB oracle, which both
    compute exact gram strings, re-verify at every SF). The concat IS
    still built as the hash input — hashing the n token columns
    directly (no concat) was tried and measured 3-8% SLOWER on 3/3
    interleaved pairs (two n-column hash evaluations cost more than one
    concat feeding two string hashes). Tokens are whitespace-split, so
    the space join is injective here.

    Output (one row per input doc): id, n_spans, dup_windows,
    dup_tokens (union coverage in tokens), total_tokens, dup_frac.
    """
    toks = _spread_by_id(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(ws_tokens(normalize_text(F.col(text_col)))).alias(
            "__pos", "__tok"
        ),
    )
    w = Window.partitionBy("id").orderBy("__pos")
    leads = [F.lead("__tok", j).over(w).alias(f"__l{j}") for j in range(1, n)]
    gram = F.concat_ws(" ", "__tok", *[f"__l{j}" for j in range(1, n)])
    grams = (
        toks.select("id", "__pos", "__tok", *leads)
        .filter(F.col(f"__l{n-1}").isNotNull())
        .select(
            "id",
            "__pos",
            F.xxhash64(gram).alias("__g1"),
            F.xxhash64(F.lit(0x9E3779B9), gram).alias("__g2"),
        )
    )
    duppos = (
        grams.withColumn(
            "__c",
            F.count(F.lit(1)).over(Window.partitionBy("__g1", "__g2")),
        )
        .filter(F.col("__c") >= min_count)
        .select("id", "__pos")
    )
    w2 = Window.partitionBy("id").orderBy("__pos")
    new_island = (
        F.when(F.lag("__pos").over(w2).isNull(), 1)
        .when(F.col("__pos") - F.lag("__pos").over(w2) > n, 1)
        .otherwise(0)
    )
    islands = duppos.withColumn(
        "__isl",
        F.sum(new_island).over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    span_stats = islands.groupBy("id", "__isl").agg(
        F.min("__pos").alias("__s"),
        F.max("__pos").alias("__e"),
        F.count(F.lit(1)).alias("__w"),
    )
    per_doc = span_stats.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("__w").alias("dup_windows"),
        F.sum(F.col("__e") + n - F.col("__s")).alias("dup_tokens"),
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(ws_tokens(normalize_text(F.col(text_col))))
        .cast("long")
        .alias("total_tokens"),
    )
    return totals.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        "total_tokens",
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            / F.greatest(F.col("total_tokens"), F.lit(1)),
            6,
        ).alias("dup_frac"),
    )


def shingle_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Cross-group content-overlap matrix: for every pair of groups
    (e.g. crawl sources), how many distinct word n-grams they share and
    the Jaccard of their gram sets — the corpus-level diagnostic for
    "which sources are republishing each other" that drives source-level
    dedup decisions.

    Inverted-index shape end to end: per-doc shingles (one tokenize
    pass, window lead — exploded_shingles), doc→group mapped with an
    equi-join on the id the shingle table is already keyed by, distinct
    (group, gram) agg, then a gram-keyed self-join whose fan-out per
    gram is bounded by the number of groups holding it (never doc×doc).
    Per-group gram counts are a |groups|-row table, broadcast for the
    Jaccard denominators. Output: (src_a, src_b, shared, jac) with
    src_a < src_b.
    """
    grams = exploded_shingles(df, id_col=id_col, text_col=text_col, n=n)
    mapping = df.select(F.col(id_col).alias("id"), F.col(group_col).alias("grp"))
    gg = grams.join(mapping, "id").select("grp", "g").distinct()
    sizes = gg.groupBy("grp").agg(F.count(F.lit(1)).alias("n_grams"))
    a = gg.withColumnsRenamed({"grp": "src_a"})
    b = gg.withColumnsRenamed({"grp": "src_b"})
    shared = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.withColumnsRenamed({"grp": "src_a", "n_grams": "na"})),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"grp": "src_b", "n_grams": "nb"})),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ).alias("jac"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 8,
    prefix_len: int = 12,
) -> DataFrame:
    """Blocked edit-distance near-dup pairs: documents whose normalized
    texts are within ``max_dist`` Levenshtein edits, candidates bounded
    by prefix blocking (identical first ``prefix_len`` normalized chars
    — the classic record-linkage blocking key).

    Levenshtein is JVM built-in (no UDF); the join is an equi-join on
    the block key, so pairwise work is per-block, never corpus². The
    blocking is part of the operator's CONTRACT (a pair differing inside
    its first ``prefix_len`` chars is out of scope by definition —
    callers wanting edit-tolerant blocking compose with the fingerprint
    or MinHash paths). Skew note: a heavy shared prefix concentrates one
    block; at scale add a length bucket to the key or route hot blocks
    via operators/skew.py.

    Output: (id_a, id_b, dist) with id_a < id_b.
    """
    t = _spread_by_id(df, id_col).select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("__n")
    )
    t = t.withColumn("__blk", F.substring("__n", 1, prefix_len))
    a = t.select(
        F.col("id").alias("id_a"),
        F.col("__n").alias("__na"),
        "__blk",
    )
    b = t.select(
        F.col("id").alias("id_b"),
        F.col("__n").alias("__nb"),
        "__blk",
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        # bounded form prunes early: levenshtein(l, r, threshold) stops
        # once the distance provably exceeds the cap
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__na", "__nb").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric containment near-dups: pairs where the SMALLER shingle
    set is mostly inside the larger one — |A∩B| / min(|A|,|B|). Catches
    sub-document duplication (a doc quoted or embedded inside a longer
    one) that Jaccard's union denominator dilutes below threshold.

    Same inverted-index shape as ngram_jaccard_pairs (cost scales with
    shingle collisions, never n²); only the normalization differs.
    Output: (id_a, id_b, containment, jac) with id_a < id_b — Jaccard
    rides along so callers can see the asymmetry gap.
    """
    e = exploded_shingles(df, id_col, text_col, n)
    sizes = e.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na, nb = F.col("na"), F.col("nb")
    i = F.col("__inter").cast("double")
    return (
        inter.join(
            F.broadcast(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "na"})),
            "id_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "nb"})),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (i / F.least(na, nb)).alias("containment"),
            (i / (na + nb - F.col("__inter"))).alias("jac"),
        )
        .filter(F.col("containment") >= threshold)
    )


def prefix_jaccard_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.5,
    positional_filter: bool = False,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for ``prefix_filter_jaccard_pairs``
    — exposed separately so the scale drill can MEASURE the candidate
    volume each filter stage admits (r13, VERDICT r12 item 4).

    Stages: prefix filter (rarest-first prefixes — see the main
    operator's completeness proof), the size filter, and — new in r13 —
    the PPJoin POSITIONAL filter (Xiao et al., WWW'08 §3.2, adapted to
    the set-parallel join): a shared prefix token at sorted positions
    (i, j) of A and B splits A∩B into before/at/after, so

        overlap <= min(i-1, j-1) + 1 + min(|A|-i, |B|-j)

    for EVERY captured shared-prefix-token row (tokens shared only
    outside one side's prefix fall in the ``before`` slack term —
    that's what makes the per-row bound safe in the parallel setting,
    where classic PPJoin's running-overlap accumulator doesn't exist).
    The pair's tightest bound — min over its captured rows — must reach
    the Jaccard overlap requirement α = ceil(t·(|A|+|B|)/(1+t))
    (J >= t  ⟺  |A∩B| >= t·(|A|+|B|)/(1+t)); pairs that cannot are
    dropped BEFORE the verify join ships their shingle arrays. The
    same 9-decimal rounding guards the α ceiling as guard the
    prefix-length ceiling.

    MEASURED VERDICT (r13 drill, tests/scale_drill_ppjoin.py + the
    threshold sweep in PLANS): the min(i−1, j−1) slack the parallel
    setting must grant — sequential PPJoin knows no unseen shared
    token precedes the probe position; a distributed join cannot —
    guts most of the bound's power. Candidate reduction measured
    0.6–10% across thresholds 0.5–0.8 and scales 1×/10×, while the
    slack aggregation costs ~5–25% wall-clock, so the filter loses
    net on every measured regime. It therefore defaults OFF and the
    exactness machinery (identical pairs with the filter on, both
    SFs, planted-clique randomized test) stays as the guarantee for
    callers who enable it on sparser-candidate corpora."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    e = exploded_shingles(df, id_col, text_col, n)
    # global total order: document frequency ascending (rarest first),
    # shingle text as tie-break — identical ordering in every document.
    # merge hint (r12 drill): the vocabulary relation scales with the
    # corpus and Catalyst's post-shuffle size estimates run small enough
    # to trip auto-broadcast — at the 10x drill scale that died building
    # the broadcast table; nothing in this operator may ever broadcast.
    dfreq = e.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("id").orderBy("__df", "g")
    ranked = e.join(dfreq.hint("merge"), "g").select(
        "id",
        "g",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("__n"),
    )
    # ceil(t·n) in exact-rational spirit: round the double product to 9
    # decimals first so representation noise (0.55*100 =
    # 55.000000000000007) can't bump the ceiling one past the true
    # integer and shorten the prefix below the completeness bound.
    prefix = ranked.filter(
        F.col("__r")
        <= F.col("__n")
        - F.ceil(F.round(F.lit(threshold) * F.col("__n"), 9))
        + 1
    )
    joined = prefix.alias("a").join(
        prefix.alias("b").hint("merge"),
        (F.col("a.g") == F.col("b.g"))
        & (F.col("a.id") < F.col("b.id"))
        # size filter: J >= t forces t·|A| <= |B| and t·|B| <= |A|
        # (1e-9 slack so float noise at rational boundaries, e.g.
        # t=0.55 · n=100, can't exclude exactly-at-threshold pairs)
        & (F.lit(threshold) * F.col("a.__n") <= F.col("b.__n") + F.lit(1e-9))
        & (F.lit(threshold) * F.col("b.__n") <= F.col("a.__n") + F.lit(1e-9)),
    )
    if not positional_filter:
        return joined.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        ).distinct()
    # α folds into a per-row SLACK before the pair shuffle: the first
    # cut of this filter shipped (id_a, id_b, |A|, |B|, ub) — 2.5x the
    # bytes of the distinct it replaces — and the 10x drill's candidate
    # shuffle grew from ~60 GB past the box's disk (recorded). One int
    # of slack carries the same decision: min(ub) >= α  ⟺
    # min(ub − α) >= 0, and α is constant per pair.
    ub = (
        F.least(F.col("a.__r") - 1, F.col("b.__r") - 1)
        + F.lit(1)
        + F.least(
            F.col("a.__n") - F.col("a.__r"),
            F.col("b.__n") - F.col("b.__r"),
        )
    )
    alpha = F.ceil(
        F.round(
            F.lit(threshold)
            * (F.col("a.__n") + F.col("b.__n"))
            / F.lit(1.0 + threshold),
            9,
        )
    )
    per_row = joined.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        (ub - alpha).cast("int").alias("__slack"),
    )
    # the groupBy replaces the pair-distinct (same shuffle key, same
    # map-side partial aggregation), keeping the tightest bound's slack
    return (
        per_row.groupBy("id_a", "id_b")
        .agg(F.min("__slack").alias("__slack"))
        .filter(F.col("__slack") >= 0)
        .select("id_a", "id_b")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.5,
    positional_filter: bool = False,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (the
    AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    WWW'08): deterministic exact results like ``ngram_jaccard_pairs``,
    but candidates come only from each document's PREFIX — its
    |S| - ceil(t·|S|) + 1 globally rarest shingles — instead of every
    shingle. Completeness: if J(A,B) >= t then |A∩B| >= ceil(t·max(|A|,
    |B|)) = a, and two sorted sets whose first |S| - a + 1 tokens are
    disjoint can overlap at most a - 1 (every shared token <= the
    smaller prefix boundary would sit in both prefixes), so some prefix
    token is shared; per-set prefixes |S| - ceil(t·|S|) + 1 are >= that
    and only widen the net.

    Why it matters at 100 TB: the inverted-index join fans out on EVERY
    shingle — the hottest (most common) shingles make the biggest,
    skewed buckets. Rarest-first prefixes invert that: the join key is
    biased toward LOW-frequency shingles (small buckets) and each doc
    contributes ~(1-t) of its shingles, so candidate volume drops
    superlinearly while the result stays exact — the deterministic
    alternative to MinHash-LSH when probabilistic recall is not
    acceptable. A size filter (t·|A| <= |B| and vice versa) prunes
    length-incompatible pairs before verification. The PPJoin
    POSITIONAL filter (r13, ``positional_filter=True`` — see
    ``prefix_jaccard_candidates`` for the bound, its parallel-safety
    argument, and the measured verdict that keeps it OFF by default)
    additionally drops candidates whose shared-prefix positions already
    cap the overlap below the Jaccard requirement. Exactness either
    way: the randomized model test holds the result identical across
    thresholds on planted near-dup cliques.

    Output contract matches ``ngram_jaccard_pairs``:
    (id_a, id_b, jac) with id_a < id_b and jac >= threshold.
    """
    e = exploded_shingles(df, id_col, text_col, n)
    cand = prefix_jaccard_candidates(
        df, id_col, text_col, n, threshold, positional_filter
    )
    # shuffle_hash (r12 drill): the per-doc shingle-set arrays scale
    # with the corpus (never broadcast), and SMJ would sort wide array
    # rows — hash joins ship each array once per matching candidate
    sets = e.groupBy("id").agg(F.collect_set("g").alias("toks"))
    verified = (
        cand.join(
            sets.withColumnsRenamed({"id": "id_a", "toks": "ta"}).hint(
                "shuffle_hash"
            ),
            "id_a",
        )
        .join(
            sets.withColumnsRenamed({"id": "id_b", "toks": "tb"}).hint(
                "shuffle_hash"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("ta", "tb"))
                / (
                    F.size("ta")
                    + F.size("tb")
                    - F.size(F.array_intersect("ta", "tb"))
                )
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )
    return verified


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    group_cols: tuple = ("source",),
) -> DataFrame:
    """Per-group n-gram NOVELTY accounting — the redundancy-growth
    curve (Gopher/RefinedWeb-style corpus analysis): a document's
    distinct word n-grams are split into FIRST OCCURRENCES (the global
    minimum ``id_col`` over the n-gram's occurrences is this document)
    and repeats of earlier text; per group the exact integer tallies
    come back as (n_docs, total_ngrams, novel_ngrams,
    fully_novel_docs). A corpus whose marginal shard contributes few
    first occurrences is saturating — the curator's stop signal.

    Scale shape (all built-ins, zero Python): ONE shingle pass
    (``exploded_shingles`` — tokenize once, window-lead n-grams), then
    TWO hash aggs over the (id, gram) relation — per-doc distinct
    counts, and per-GRAM min-id (the same global shuffle dedup_exact
    rides; novel counts fall out of the min agg's OUTPUT grouped by
    first id, so no join back on the gram is ever needed) — and a
    doc-count-sized join (unhinted; AQE broadcasts when small). The
    RAW gram relation is explicitly repartitioned on the gram at the
    FORK between the two aggs: that exchange is the reuse point
    (ReusedExchange — plan-asserted) without which Catalyst recomputes
    the whole tokenize→window pipeline once per consumer (two corpus
    passes — the shape this operator refuses to ship at 100 TB). The
    fork must sit BELOW any dedup: with a distinct under it, the novel
    branch's ``min`` (duplicate-insensitive) lets the optimizer strip
    that distinct, the two exchange subtrees stop canonicalizing
    equal, and reuse silently dies — measured, two full shingle
    passes. Each branch dedups its own way on top (per-(id,g) group
    for totals; ``min`` needs none), with no further gram-scale
    shuffle: g-partitioning co-locates (id, g) too. Docs with fewer
    than ``n`` tokens have no n-grams and are excluded (documented;
    the oracle matches).

    Plan-inspection note (tests/scale_drill_novelty.py learned this
    the hard way): under AQE the reuse only MATERIALIZES in the final
    executed plan — asserting on an unexecuted DataFrame's
    ``executedPlan`` (e.g. after ``.count()``, which executes a
    different wrapped plan) shows two Generates and no ReusedExchange
    even though execution is one-pass. Execute the inspected plan
    itself before reading it.

    Attribution order is ``id_col`` ascending — "first" means lowest
    id, the ingest-order convention the incremental-dedup family uses.
    """
    # explicit non-null id filter BELOW the fork: the final inner join
    # infers isnotnull(id) and pushes it into the totals branch only —
    # one more silent canonical mismatch that would kill exchange reuse
    df = df.filter(F.col(id_col).isNotNull())
    grams = exploded_shingles(df, id_col, text_col, n=n, distinct=False)
    # deterministic id-salt in the fork partitioning (r14 hamming-drill
    # lesson): the fork ships RAW gram rows, so a boilerplate gram held
    # by 30% of a 100 TB corpus would otherwise land on ONE partition
    # un-combined. Salting by hash(id) spreads a hot gram 16x while
    # keeping every (id, gram) pair co-located (the salt is a function
    # of id), so both consumers still need no gram-scale re-shuffle:
    # min composes as min-of-mins over (g, salt), and the dedup groups
    # on (id, g, salt) — salt is constant within an (id, g) pair.
    grams = grams.withColumn("__slt", F.pmod(F.hash("id"), F.lit(16)))
    grams = grams.repartition(F.col("g"), F.col("__slt"))
    totals = grams.dropDuplicates(["id", "g", "__slt"]).groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("__n_ngrams")
    )
    novel = (
        grams.groupBy("g", "__slt")
        .agg(F.min("id").alias("__m"))
        .groupBy("g")
        .agg(F.min("__m").alias("__first_id"))
        .groupBy("__first_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__n_novel"))
    )
    per_doc = totals.join(
        novel, totals["id"] == novel["__first_id"], "left"
    ).select(
        "id",
        "__n_ngrams",
        F.coalesce("__n_novel", F.lit(0)).alias("__n_novel"),
    )
    keyed = per_doc.join(
        df.select(F.col(id_col).alias("id"), *group_cols), "id"
    )
    return keyed.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__n_ngrams").cast("long").alias("total_ngrams"),
        F.sum("__n_novel").cast("long").alias("novel_ngrams"),
        F.sum(
            (F.col("__n_novel") == F.col("__n_ngrams")).cast("long")
        ).cast("long").alias("fully_novel_docs"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    delim: str = "\n",
) -> DataFrame:
    """Line-level exact dedup / boilerplate removal (the RefinedWeb /
    C4-style curation staple: drop lines duplicated across >=
    ``min_docs`` DISTINCT documents — headers, nav bars, cookie
    banners — from every document that carries them).

    Reference scope note: the reference engine has no text curation
    surface; this is an extension operator in the LLM-pipeline family
    (r15, VERDICT r14 item 3), sharing ``duplicate_spans``'s
    count-over-window scale shape at line granularity.

    Plan (linear pipeline — NO join, NO fork, exactly one Generate):

    1. ``posexplode(split(text, delim))`` keeps each line's position
       for reassembly.
    2. The cross-document occurrence count is computed with windows
       over ONE line-keyed exchange: a ``lag(id)`` first-row-per-doc
       flag, then ``SUM(flag) OVER (PARTITION BY line)`` = COUNT
       (DISTINCT doc) without a distinct or a join (both window specs
       share partitioning+ordering, so Catalyst plans one Exchange +
       one Sort). Blank-after-trim lines are EXEMPT from dedup and are
       keyed per (doc, pos) — millions of empty lines never funnel one
       partition; the collision-proof 'B'/'L' key prefix separates the
       two namespaces.
    3. One groupBy(id) rebuilds the cleaned text (collect kept
       (pos, line) structs, ``array_sort`` — position order restored —
       then ``concat_ws``) and aggregates the removal stats in the
       same pass.

    Hot-key exposure, documented like chunk_dedup/duplicate_spans: a
    boilerplate line held by most of the corpus co-locates its
    occurrences (one narrow row per occurrence, not whole documents)
    in one window partition — a linear count over co-located rows,
    the same exposure as the groupBy/join it replaces; see
    tests/skew_drill_linededup.py for the 60%-hot-line drill.

    ``delim`` is used as BOTH the split regex and the rejoin literal,
    so it must be a regex-safe literal string (the '\\n' default is).
    Output: one row per input document —
    (id, clean_text, n_lines, removed_lines, removed_frac).
    """
    lines = _spread_by_id(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), delim, -1)
        ).alias("__pos", "__line"),
    )
    # r16 (guide §2.3 shuffle keys, not payloads — the duplicate_spans
    # hash-pair lesson): the window key used to be the 'L'-prefixed
    # line STRING itself (or the 'B'-namespaced (doc, pos) for
    # blank-exempt rows), so every line crossed the exchange twice —
    # once as the reassembly payload, once as the key. Key on a
    # two-seed xxhash64 pair instead: the key is 16 bytes regardless of
    # line length, the window sort compares longs, and the 'B'/'L'
    # namespace marker stays the first hash input so the two key
    # spaces cannot alias. Two DIFFERENT lines co-key only on a
    # simultaneous collision in both independent 64-bit spaces
    # (~2^-128 per pair); the DuckDB oracle (exact strings) re-verifies
    # at both SFs.
    exempt = F.trim(F.col("__line")) == ""

    def _key(seed_cols):
        return F.when(
            exempt,
            F.xxhash64(*seed_cols, F.lit("B"), F.col("id"), F.col("__pos")),
        ).otherwise(F.xxhash64(*seed_cols, F.lit("L"), F.col("__line")))

    keyed = lines.withColumn("__k1", _key([])).withColumn(
        "__k2", _key([F.lit(0x9E3779B9)])
    )
    w_ord = Window.partitionBy("__k1", "__k2").orderBy("id", "__pos")
    w_all = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    first_in_doc = (
        F.lag("id").over(w_ord).isNull() | (F.lag("id").over(w_ord) != F.col("id"))
    ).cast("long")
    marked = keyed.withColumn(
        "__nd", F.sum(first_in_doc).over(w_all)
    ).withColumn(
        "__rm",
        (F.trim(F.col("__line")) != "") & (F.col("__nd") >= min_docs),
    )
    return marked.groupBy("id").agg(
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__rm"),
                            F.struct(F.col("__pos"), F.col("__line")),
                        )
                    )
                ),
                lambda s: s.getField("__line"),
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("__rm").cast("long")).cast("long").alias("removed_lines"),
        F.round(
            F.sum(F.col("__rm").cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            6,
        ).alias("removed_frac"),
    )
