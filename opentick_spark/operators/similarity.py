"""Similarity search over embedding columns (array<float>).

Three tiers, trading recall for cost:

- brute-force top-k: exact; broadcast the (small) query set against the
  corpus, one pass, no shuffle of the corpus. The baseline and the
  within-bucket kernel for the approximate tiers.
- random-hyperplane LSH: sign-sketch each vector into b bits; candidates
  share a bucket (optionally multi-probe neighboring buckets); exact
  re-rank within buckets. Corpus shuffles once on bucket id.
- IVF (inverted-file) routing: deterministic centroid sample, assign each
  corpus vector to its nearest centroid (one broadcast join), probe the
  nprobe nearest centroids per query. This is the 100 TB layout: the
  corpus is *partitioned by centroid*, so a query touches only
  nprobe/ncentroids of the data.

Scoring uses ``cosine_batch`` — an Arrow-vectorized Pandas UDF whose
batches hit numpy as single matrix ops (the sanctioned fast path for
dense math Spark built-ins can't vectorize); the pure-Column ``cosine``
fold is kept for composition/testing.
"""

from __future__ import annotations

import math
import os
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Pure-Column cosine (JVM higher-order fold). Correct but interpreted
    (lambda expressions are codegen-fallback) — use ``cosine_batch`` in
    row-heavy scoring paths."""
    return dot(a, b) / (norm(a) * norm(b))


# DoubleType() instance, not "double": the DDL-string form needs an active
# SparkSession at decoration time, which breaks plain module imports
@pandas_udf(DoubleType())
def cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine: whole batches hit numpy as one matrix op —
    the 10-100× 'Pandas UDF beats row-at-a-time' path for the dense-math
    kernel Spark built-ins can't vectorize."""
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    ma = np.stack(a.to_numpy()).astype(np.float64)
    mb = np.stack(b.to_numpy()).astype(np.float64)
    num = (ma * mb).sum(axis=1)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return pd.Series(num / den)


@pandas_udf(DoubleType())
def cosine_seq_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """BIT-IDENTICAL Arrow twin of ``cosine()`` (the interpreted JVM
    fold), for scoring paths whose cos value is ORACLE-COMPARED and so
    cannot change by an ulp (r15; the quality_margin_arrow precedent).

    Why it is exact, op for op: the fold computes
    ``acc = acc + (double)x*(double)y`` left-to-right from 0.0; IEEE
    double ops are deterministic, ``0.0 + p0 == p0``, and
    ``np.cumsum`` accumulates sequentially (it must produce every
    prefix), so ``cumsum(products)[-1]`` reproduces the same rounding
    sequence — unlike ``ndarray.sum``/``np.dot``, whose pairwise /
    SIMD-blocked summation is why ``cosine_batch`` diverges in ulps.
    The tail is one sqrt per norm, one multiply, one divide, in the
    fold's exact order. Edge semantics replicated: NULL operand → NULL
    (Spark's null propagation through zip_with/aggregate), length
    mismatch → NULL (zip_with pads with null, null product poisons the
    fold). Deliberate divergences OUTSIDE the contract's domain
    (dense, nonzero-norm vectors — what every swapped call site
    feeds): a zero-norm operand makes the fold RAISE under ANSI
    (DIVIDE_BY_ZERO) where this returns NaN — note Spark orders NaN
    ABOVE every number (NaN > 0 is TRUE), so consumers that filter or
    rank on cos must drop NaN explicitly (margin_bitext_pairs' ivf
    branch does; r15 ADVICE) — and a NULL ELEMENT
    inside an array reaches numpy as NaN → NaN instead of the fold's
    NULL. Equality on the domain is pinned by
    test_cosine_seq_batch_bit_equals_fold on every corpus pair + the
    adversarial edges."""
    n = len(a)
    if n == 0:
        return pd.Series([], dtype="float64")
    av = a.to_numpy()
    bv = b.to_numpy()
    ok = [
        i
        for i in range(n)
        if av[i] is not None
        and bv[i] is not None
        and len(av[i]) == len(bv[i])
    ]
    out = np.full(n, np.nan)
    null_mask = np.ones(n, dtype=bool)
    if ok:
        # group the valid rows by dim so each group is one matrix op
        by_dim: dict[int, list[int]] = {}
        for i in ok:
            by_dim.setdefault(len(av[i]), []).append(i)
        with np.errstate(divide="ignore", invalid="ignore"):
            for d, idxs in by_dim.items():
                null_mask[idxs] = False
                if d == 0:
                    out[idxs] = np.nan  # 0.0 / (0.0 * 0.0)
                    continue
                ma = np.stack([np.asarray(av[i], dtype=np.float64) for i in idxs])
                mb = np.stack([np.asarray(bv[i], dtype=np.float64) for i in idxs])
                # + 0.0 reproduces the fold's leading ``0.0 + p0`` step
                # for the one case cumsum diverges: an all-(-0.0)
                # product row keeps -0.0 through every cumsum prefix,
                # while the fold's first add normalizes it to +0.0
                # (r15 ADVICE; bit-pinned by the -0.0 adversarial edge)
                dotv = np.cumsum(ma * mb, axis=1)[:, -1] + 0.0
                na = np.sqrt(np.cumsum(ma * ma, axis=1)[:, -1])
                nb = np.sqrt(np.cumsum(mb * mb, axis=1)[:, -1])
                out[idxs] = dotv / (na * nb)
    if not null_mask.any() and not np.isnan(out).any():
        return pd.Series(out)
    # NaN is a VALUE here (the fold yields NaN on NaN/Inf elements) and
    # NULL is a different value — a plain float64 Series conflates them
    # at the Arrow boundary (from_pandas maps NaN → null), so the mixed
    # rows go back as an Arrow-backed series with an explicit validity
    # mask: NaN stays a double, only null_mask rows become NULL
    import pyarrow as pa

    return pd.Series(
        pa.array(out, type=pa.float64(), mask=null_mask),
        dtype=pd.ArrowDtype(pa.float64()),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus, window top-k.

    Output: (query_id, neighbor_id, cos, rank) — excludes self-matches.
    Deterministic tie-break: higher cos first, then lower neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    # JVM fold, not a pandas UDF — TRIED AND REVERTED (r15): swapping
    # cosine_seq_batch here inserts an ArrowEvalPython that breaks the
    # BroadcastNestedLoopJoin's codegen pipeline — every pair row (two
    # 64-float vectors) must materialize and cross the Python boundary
    # instead of being scored in-pipeline (semantic_contamination A/B:
    # 1.35x SLOWER, 3/3 pairs). The Arrow twin wins only where the
    # join already materializes pair rows (margin_bitext_pairs' hash
    # joins, 0.89x); on broadcast-pipeline shapes the fold stays.
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-sketch bucket id from random hyperplanes (long, b bits)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in p]),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    dim: int = 64,
    seed: int = 7,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: exact re-rank within hyperplane-LSH buckets.

    Multi-probe: each query also probes all buckets within Hamming
    distance ``probe_hamming`` of its own (1 → bits+1 probes, 2 adds the
    C(bits,2) two-bit flips). Deeper probing trades candidate volume for
    recall — at bits=8, probe_hamming=2 scans 37/256 buckets (~14% of
    the corpus) instead of 9/256. Corpus is hashed once; the join is on
    bucket id — at scale this is a co-partitioned join instead of a
    cross product.
    """
    if probe_hamming not in (0, 1, 2):
        raise ValueError("probe_hamming must be 0, 1, or 2")
    planes = _hyperplanes(dim, bits, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket0"),
    )
    flips = [0]
    if probe_hamming >= 1:
        flips += [1 << i for i in range(bits)]
    if probe_hamming >= 2:
        flips += [
            (1 << i) | (1 << j)
            for i in range(bits)
            for j in range(i + 1, bits)
        ]
    probes = F.array(
        *[
            F.col("bucket0").bitwiseXOR(F.lit(m).cast("long"))
            for m in flips
        ]
    )
    q = q0.select(
        "query_id", "qv", F.explode(probes).alias("bucket")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_batch(F.col("qv"), F.col("cv")).alias("cos"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# int8 quantization: 4× smaller embedding storage (the difference between
# 100 TB and 25 TB of vectors) at ~1e-2 cosine error — Arrow-batched
# numpy kernels, symmetric per-vector scaling.

_QUANT_SCHEMA = StructType(
    [
        StructField("q", ArrayType(ByteType(), False), False),
        StructField("scale", FloatType(), False),
    ]
)


@pandas_udf(_QUANT_SCHEMA)
def quantize_int8(v: pd.Series) -> pd.DataFrame:
    if len(v) == 0:
        return pd.DataFrame({"q": [], "scale": []})
    m = np.stack(v.to_numpy()).astype(np.float64)
    scale = np.abs(m).max(axis=1) / 127.0
    scale[scale == 0] = 1.0
    q = np.rint(m / scale[:, None]).astype(np.int8)
    return pd.DataFrame({"q": list(q), "scale": scale.astype(np.float32)})


@pandas_udf(ArrayType(FloatType(), False))
def dequantize_int8(q: pd.Series, scale: pd.Series) -> pd.Series:
    if len(q) == 0:
        return pd.Series([], dtype=object)
    m = np.stack(q.to_numpy()).astype(np.float32) * scale.to_numpy()[:, None].astype(
        np.float32
    )
    return pd.Series(list(m))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: same plan as
    brute_force_topk but the corpus side scans 4×-smaller payloads;
    scoring dequantizes per Arrow batch. Recall vs exact is bounded by
    the quantization error (tested)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_int8(F.col(vec_col)).alias("__qz"),
    ).select(
        "neighbor_id",
        dequantize_int8(F.col("__qz.q"), F.col("__qz.scale")).alias("cv"),
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_batch(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncentroids: int = 16,
) -> DataFrame:
    """Deterministic centroid seed: the corpus vector whose id ranks
    first per (id % ncentroids) stripe. Output: (centroid_id, centv).

    r15 (guide §2.3 aggregate-before-shuffle): ``min_by(vec, id)`` per
    stripe instead of the previous rank-1 window. Spark 4's
    WindowGroupLimit already bounded the window's exchange to ≤
    ncentroids rows per map task (plans/r15/seed_centroids_before.txt),
    so the shuffle bytes were fine — what min_by removes is the
    per-task two-key Sort of the whole corpus (stripe, id) feeding it,
    the second Sort+Window on the reduce side, and the dependence on a
    physical-rewrite optimization for the scale posture: the partial
    aggregate keeps one running (vec, id) extremum per stripe and is
    the pre-exchange bound BY CONSTRUCTION. ivf_build A/B 0.84×.
    Result identical (ids are unique, so min-id-per-stripe picks the
    same row the ASC row_number did). Precondition (r15 ADVICE):
    ``id_col`` must be NON-NULL — the old nulls-first ASC window would
    seed a NULL-id row where ``min_by`` skips rows whose ordering key
    is NULL. Every caller feeds a primary-key id (ids-unique is already
    assumed); a nullable id column is outside the contract."""
    return corpus.groupBy(
        (F.col(id_col) % ncentroids).cast("int").alias("centroid_id")
    ).agg(F.min_by(F.col(vec_col), F.col(id_col)).alias("centv"))


# ncentroids × dim ceiling for closure-based routing (r16, VERDICT r15
# item 3): the collected centroid matrix is serialized into EVERY
# routing task's UDF command, so it must stay task-closure-sized. 4M
# floats ≈ 32 MB as float64 — an order of magnitude above any real
# IVF/kmeans/PQ centroid set here (≤64 × 64 today), while a caller that
# sneaks a corpus-sized "centroid" relation in fails loudly instead of
# silently shipping hundreds of MB per task. Callers above the bound
# need a broadcast-join routing path, which no current caller does.
_CENT_CLOSURE_MAX_FLOATS = 4_000_000


# query-batch ceiling for ivf_topk_indexed's driver-side routing, which
# repeats the collected batch nprobe-fold, scores it against every
# centroid and broadcasts it: past this, fail before those allocations
_QUERY_BATCH_MAX_FLOATS = 4_000_000


def _guard_floats(vecs: list, bound: int, bound_name: str, what: str, fix: str):
    """Raise when the collected vectors hold more than ``bound`` floats."""
    n_floats = sum(len(v) for v in vecs if v is not None)
    if n_floats > bound:
        raise ValueError(
            f"{what}: {len(vecs)} rows / {n_floats} floats exceeds "
            f"{bound_name}={bound}; {fix}"
        )


def _guard_cent_rows(rows: list) -> list:
    """Enforce ``_CENT_CLOSURE_MAX_FLOATS`` on a collected centroid row
    list (shared by the Spark-collect and driver-parquet readers)."""
    _guard_floats(
        [v for _, v in rows],
        _CENT_CLOSURE_MAX_FLOATS,
        "_CENT_CLOSURE_MAX_FLOATS",
        "centroid relation too large for closure routing",
        "use a broadcast-join routing path for codebooks this size",
    )
    return rows


def _cent_rows(cents: DataFrame) -> list:
    """Driver-collect a centroid relation as (centroid_id, centv) rows —
    ncentroids × dim, tiny by construction (the PQ-codebook /
    probed-centroid-ids collect() precedent). The routing passes close
    over these instead of broadcast-joining the DataFrame: same bytes
    reach the driver either way (a broadcast collects to the driver
    first), but the downstream plan loses a crossJoin and a per-id
    window sort (see _assign_to_centroids). Guarded by
    ``_CENT_CLOSURE_MAX_FLOATS`` — see the bound's comment."""
    return _guard_cent_rows(
        [(r["centroid_id"], r["centv"]) for r in cents.collect()]
    )


def _centroid_rows_from_index(spark, path: str) -> list:
    """Read a persisted index's centroids relation (ncentroids × dim —
    metadata-sized by construction) as (centroid_id, centv) rows.

    r16 (guide §1.2 fixed work; §5 the driver decides with small rows):
    for a LOCAL index path the 16-row parquet is read driver-side via
    pyarrow — zero Spark jobs — instead of a full
    spark.read.parquet(...).collect() job per probe/append call; at
    sf0.1 each such job costs ~0.3s of pure scheduling on a 1 KB file
    (ivf_query / sim_topk_ivf_* composites pay it 1–2× per run). The
    float32 → Python float upcast is IDENTICAL to what Spark's collect
    performs, so routing math is bit-unchanged. Scheme-qualified index
    paths (the documented Hadoop-FS surface of build/query) keep the
    Spark read.

    The local read lists ``centroids/`` once and skips names starting
    with ``.`` or ``_`` (``_SUCCESS``, staging files), like Spark's own
    reader. No concurrent writer may touch the index while it is read:
    a part file written or removed during the listing is not guarded
    against."""
    cdir = f"{path}/centroids"
    from opentick_spark.fsutil import is_local_path

    if is_local_path(cdir) and os.path.isdir(cdir):
        import pyarrow.parquet as pq

        t = pq.read_table(cdir, ignore_prefixes=[".", "_"])
        return _guard_cent_rows(
            list(
                zip(
                    t.column("centroid_id").to_pylist(),
                    t.column("centv").to_pylist(),
                )
            )
        )
    return _cent_rows(spark.read.parquet(cdir))


def _assign_to_centroids(
    df: DataFrame, cents_rows, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid assignment WITHOUT a join (r15): the
    ``_probe_lists`` matrix-argmax router at nprobe=1 — one Arrow
    projection over the corpus, zero Exchange, instead of the previous
    crossJoin(broadcast(cents)) × cosine_batch × row_number window
    (which inflated the corpus ncentroids× and shuffled the inflated
    vectors just to pick the per-id argmax). Tie-break identical to the
    window it replaces: highest cosine, then lowest centroid_id.
    Output: (id_col, vec_col, centroid_id)."""
    return _probe_lists(df, cents_rows, 1, id_col, vec_col).select(
        id_col, vec_col, "centroid_id"
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncentroids: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Lloyd's k-means (cosine assignment, mean update) as DataFrame
    iterations: assign via the matrix-argmax router (one Arrow pass,
    no join — r15), update via ``applyInPandas`` per-centroid numpy
    mean. Deterministic seed, fixed iteration count (convergence
    checking would add a driver action per round; near-dup routing
    doesn't need it). Each round is one narrow corpus pass + one
    shuffle on centroid_id — linear in corpus size.
    """

    def _mean_vec(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "centroid_id": [int(pdf["centroid_id"].iloc[0])],
                "centv": [
                    np.stack(pdf["cv"].to_numpy()).mean(axis=0).astype(np.float32)
                ],
            }
        )

    cents = seed_centroids(corpus, id_col, vec_col, ncentroids)
    for _ in range(max(0, iters)):
        # r15: assignment via the matrix-argmax router (see
        # _assign_to_centroids) — one narrow Arrow pass over the corpus
        # instead of a 16× crossJoin + per-id window sort each round;
        # the centroid collect replaces the broadcast (same bytes to
        # the driver either way)
        assign = _assign_to_centroids(
            corpus, _cent_rows(cents), id_col, vec_col
        ).select(F.col(vec_col).alias("cv"), "centroid_id")
        cents = assign.groupBy("centroid_id").applyInPandas(
            _mean_vec, "centroid_id int, centv array<float>"
        )
        cents = cents.localCheckpoint(eager=True)
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    ncentroids: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: route corpus vectors to their nearest centroid,
    probe the ``nprobe`` nearest lists per query.

    ``train_iters=0`` uses the deterministic seed centroids;
    ``train_iters>0`` refines them with k-means first. At scale the
    assignment becomes the table's partition key, making each query a
    partition-pruned scan of nprobe lists.
    """
    if train_iters > 0:
        cents = kmeans_centroids(corpus, id_col, vec_col, ncentroids, train_iters)
    else:
        cents = seed_centroids(corpus, id_col, vec_col, ncentroids)
    # r15: both routing passes go through the matrix-argmax router —
    # no crossJoin, no per-id window sort (see _assign_to_centroids);
    # the tie-break (sim desc, centroid_id asc) is unchanged
    crows = _cent_rows(cents)
    c_assign = _assign_to_centroids(corpus, crows, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    )
    q_probe = _probe_lists(queries, crows, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        "centroid_id",
    )
    scored = (
        c_assign.join(F.broadcast(q_probe), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_batch(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def label_centroid_stats(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid statistics: vector count, L2 norm of the mean
    vector, and mean per-vector L2 norm — the embedding-space health
    check (cluster tightness / drift) of a training pipeline.

    The distributed vector mean is posexplode → partial-avg on
    (label, position): aggregation state is |labels|·dim cells, never the
    vectors themselves — no collect_list, no driver math, scales to any
    corpus. Per-vector norms are an in-row fold (deterministic
    left-to-right double sum, engine-portable). Both aggregates are
    map-side combinable; the shuffles move only (label, pos, partial)
    triples.
    """
    lab = F.col(label_col).cast("long").alias("label")
    pos = df.select(
        lab,
        F.posexplode(
            F.transform(F.col(vec_col), lambda v: v.cast("double"))
        ).alias("pos", "x"),
    )
    centroid = (
        pos.groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("centroid_norm"))
    )
    per_vec = df.select(lab, norm(F.col(vec_col)).alias("__n")).groupBy(
        "label"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.avg("__n").alias("avg_norm"),
    )
    return per_vec.join(F.broadcast(centroid), "label").select(
        "label", "n", "centroid_norm", "avg_norm"
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): m sub-codebooks, byte codes, ADC scoring


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, JVM-side fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Train all ``m`` PQ sub-codebooks in ONE distributed k-means
    (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search"): each vector splits into m subvectors (explode), seeding
    stripes per (subspace, id % k), then Lloyd's rounds keyed by
    subspace — every round is one broadcast join + one shuffle on
    (sub_j, centroid_id) covering all subspaces simultaneously, instead
    of m sequential trainings. L2 assignment (the PQ-standard metric)
    runs as a JVM fold, no Python in the assignment path. Returns
    (sub_j, centroid_id, centv); empty clusters drop out (standard
    Lloyd's detail — encoding argmins over survivors)."""
    dim = len(corpus.select(vec_col).first()[0])
    ds = dim // m
    if m * ds != dim:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    subs = corpus.select(
        F.col(id_col).alias("nid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sub_j"),
                        F.slice(vec_col, j * ds + 1, ds).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("e"),
    ).select("nid", "e.sub_j", "e.sv")
    w0 = Window.partitionBy("sub_j", F.col("nid") % k).orderBy("nid")
    cents = (
        subs.withColumn("__r", F.row_number().over(w0))
        .filter(F.col("__r") == 1)
        .select(
            "sub_j",
            (F.col("nid") % k).cast("int").alias("centroid_id"),
            F.col("sv").alias("centv"),
        )
        .localCheckpoint(eager=True)
    )

    def _mean_sub(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "sub_j": [int(pdf["sub_j"].iloc[0])],
                "centroid_id": [int(pdf["centroid_id"].iloc[0])],
                "centv": [
                    np.stack(pdf["sv"].to_numpy()).mean(axis=0).astype(np.float32)
                ],
            }
        )

    for _ in range(max(0, iters)):
        assign = (
            subs.join(F.broadcast(cents), "sub_j")
            .withColumn("__d", l2sq(F.col("sv"), F.col("centv")))
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy("sub_j", "nid").orderBy(
                        F.col("__d").asc(), F.col("centroid_id")
                    )
                ),
            )
            .filter(F.col("__rk") == 1)
        )
        cents = assign.groupBy("sub_j", "centroid_id").applyInPandas(
            _mean_sub, "sub_j int, centroid_id int, centv array<float>"
        )
        cents = cents.localCheckpoint(eager=True)
    return cents


def _codebook_arrays(codebooks: DataFrame):
    """Driver-side numpy view of a trained codebook frame: per subspace
    a (centroid_ids, matrix) pair. Tiny (m × k × d/m floats)."""
    rows = codebooks.collect()
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(r["sub_j"], []).append(
            (r["centroid_id"], np.asarray(r["centv"], np.float32))
        )
    out = {}
    for j, pairs in by_sub.items():
        pairs.sort()
        out[j] = (
            np.array([p[0] for p in pairs], np.int32),
            np.stack([p[1] for p in pairs]),
        )
    return out


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as m bytes (nearest sub-centroid per
    subspace) — a 32× shrink for 64-dim float32 at m=8. Arrow-batched
    numpy argmin; the codebook rides the closure (broadcast-sized)."""
    cb = _codebook_arrays(codebooks)
    m = len(cb)
    ds = cb[0][1].shape[1]

    @pandas_udf(ArrayType(ByteType(), False))
    def enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(v.to_numpy()).astype(np.float32)
        codes = np.empty((len(X), m), np.int8)
        for j in range(m):
            ids, C = cb[j]
            sub = X[:, j * ds : (j + 1) * ds]
            d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            codes[:, j] = ids[d.argmin(1)]
        return pd.Series(list(codes))

    return corpus.select(
        F.col(id_col).alias("neighbor_id"), enc(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ncentroids: int = 16,
    iters: int = 3,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Cosine top-k by asymmetric distance computation: queries build
    per-subspace dot/norm lookup tables against the codebook; each
    corpus vector is scored from its m-byte code by m table lookups —
    the corpus float vectors are never touched after encoding (at scale
    the PQ code column is the only thing scanned: 32× less IO). Exact
    queries × approximate corpus = the standard ADC recall/compression
    tradeoff."""
    codebooks = codebooks if codebooks is not None else pq_train(
        corpus, id_col, vec_col, m=m, k=ncentroids, iters=iters
    )
    cb = _codebook_arrays(codebooks)
    m = len(cb)
    kmax = int(max(ids.max() for ids, _ in cb.values())) + 1
    ds = cb[0][1].shape[1]
    # dense [m][kmax] lookup tables for centroid vectors and sq-norms
    Cfull = np.zeros((m, kmax, ds), np.float32)
    Nfull = np.zeros((m, kmax), np.float32)
    for j, (ids, C) in cb.items():
        Cfull[j, ids] = C
        Nfull[j, ids] = (C * C).sum(1)
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    qmat = {int(r["query_id"]): np.asarray(r["qv"], np.float32) for r in qrows}
    # per-query dot tables: T[q][j, cid] = <q_j, c_{j,cid}>
    tables = {
        qid: np.einsum("jd,jkd->jk", qv.reshape(m, ds), Cfull)
        for qid, qv in qmat.items()
    }
    qnorm = {qid: float(np.sqrt((qv * qv).sum())) for qid, qv in qmat.items()}
    codes = pq_encode(corpus, codebooks, id_col, vec_col)
    out_schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("neighbor_id", LongType(), False),
            StructField("cos", DoubleType(), False),
        ]
    )

    def score(batches):
        jj = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            code = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            # approx ||x|| from its sub-centroid norms
            xn = np.sqrt(Nfull[jj[None, :], code].sum(1))
            xn[xn == 0] = 1.0
            for qid, T in tables.items():
                dots = T[jj[None, :], code].sum(1)
                cos = dots / (qnorm[qid] * xn)
                keep = ids != qid
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[keep],
                        "cos": cos[keep].astype(np.float64),
                    }
                )

    scored = codes.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    m: int = 16,
    ncentroids: int = 32,
    iters: int = 3,
) -> DataFrame:
    """The production ADC pattern: PQ shortlist (codes-only scan) →
    exact re-rank of only the shortlisted vectors. Recall equals the
    shortlist's coverage while the float vectors are fetched for just
    ``shortlist`` × #queries rows — at 100 TB the full-precision column
    is read at a 1/(corpus/shortlist) rate, which is the entire point
    of PQ."""
    cand = pq_topk(
        corpus, queries, id_col, vec_col,
        k=shortlist, m=m, ncentroids=ncentroids, iters=iters,
    ).select("query_id", "neighbor_id")
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        cand.join(vecs, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "neighbor_id",
            cosine_batch(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
def _cluster_for_lists(df: DataFrame, id_col: str) -> DataFrame:
    """Salted repartition on the list partition key before every
    ``partitionBy("centroid_id")`` write of IVF lists (r16, guide §6
    file sizing / §2.5 deterministic salt). A plain partitionBy write
    opens one file per (map task × centroid) — 51 files for the 56 KB
    sf0.1 index, 480 at the 100x drill tier, M×K at cluster scale (the
    classic small-files explosion; every probe pays the per-file open
    cost forever after). Clustering first bounds files per list at
    ~nsplit while keeping big lists parallel; the salt is DERIVED FROM
    THE ID (retry-stable under task re-runs — never rand(), guide
    §2.5/SPARK-38388), and AQE's partition coalescing collapses the
    small local case to a handful of write tasks. nsplit scales with
    the cluster (defaultParallelism), not a local constant."""
    nsplit = max(1, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(
        F.col("centroid_id"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nsplit)),
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncentroids: int = 16,
    train_iters: int = 0,
) -> None:
    """Persist an IVF index: train-once / route-many.

    Writes ``<path>/centroids`` (the routing table) and
    ``<path>/lists`` — the corpus PHYSICALLY PARTITIONED BY centroid_id
    (parquet directory partitioning), which turns the docstring claim
    "the assignment becomes the table's partition key" into an on-disk
    fact: a query probing nprobe lists scans nprobe/ncentroids of the
    data and the rest is pruned at planning time, never opened."""
    if train_iters > 0:
        cents = kmeans_centroids(corpus, id_col, vec_col, ncentroids, train_iters)
    else:
        cents = seed_centroids(corpus, id_col, vec_col, ncentroids)
    # r16 NEGATIVE RESULT (kept as the r15 shape): writing
    # <path>/centroids from the driver-collected rows (createDataFrame
    # local relation) to skip the eager checkpoint was tried and
    # measured 15-22% SLOWER on 3/3 interleaved build pairs — a
    # Python-backed local relation's write job pays a Python-worker
    # unpickle (~0.3s) where the checkpoint write is JVM-only, and the
    # collect-from-checkpoint it would have saved costs ~0.04s.
    cents = cents.localCheckpoint(eager=True)  # one training, two writers
    # r15: route via the matrix-argmax router (see _assign_to_centroids)
    c_assign = _assign_to_centroids(
        corpus, _cent_rows(cents), id_col, vec_col
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    _cluster_for_lists(c_assign, "neighbor_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(f"{path}/lists")


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index (``build_ivf_index``): route each
    query to its nprobe nearest centroids, then scan ONLY those list
    partitions — the probed centroid ids become an ``isin`` partition
    filter (a handful of ids: #queries × nprobe at most), so the parquet
    reader prunes every other directory. Same output contract as
    ``ivf_topk``."""
    # r16: the whole probe decision happens ON THE DRIVER. The query
    # batch is broadcast into the scoring join below, so it is
    # driver-memory-bounded BY CONTRACT already (a broadcast collects
    # to the driver first); collecting it here and routing with the
    # SAME numpy code the executor router runs (_route_matrix /
    # _route_topk — one implementation, bit-identical by construction)
    # removes the probe UDF job AND the probed-ids distinct/collect
    # job the r15 shape paid per query call (the lazy-checkpoint pin
    # that kept those two consumers on one evaluation is no longer
    # needed — there is nothing left to recompute). Centroid metadata
    # is also read driver-side (_centroid_rows_from_index): the query
    # path launches ONE Spark job — the pruned scan itself. The probe
    # relation ships back as an Arrow-table local relation (JVM-only at
    # execution — the pickle path would re-pay a Python worker, the
    # r16 build negative result), with arrow types derived from the
    # queries schema so output types are unchanged.
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    crows = _centroid_rows_from_index(spark, path)
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    _guard_floats(
        [r["qv"] for r in qrows],
        _QUERY_BATCH_MAX_FLOATS,
        "_QUERY_BATCH_MAX_FLOATS",
        "query batch too large for driver-side probe routing",
        "split the batch, or use ivf_topk, which routes on the executors",
    )
    pa_schema = pa.schema(
        [
            pa.field(
                "query_id", to_arrow_type(queries.schema[id_col].dataType)
            ),
            pa.field("qv", to_arrow_type(queries.schema[vec_col].dataType)),
            pa.field("centroid_id", pa.int64()),
        ]
    )
    if qrows:
        cids, Cn, n = _route_matrix(crows, nprobe)
        top = _route_topk(cids, Cn, n, [r["qv"] for r in qrows])
        probe_tbl = pa.Table.from_arrays(
            [
                pa.array(
                    [r["query_id"] for r in qrows for _ in range(n)],
                    type=pa_schema.field("query_id").type,
                ),
                pa.array(
                    [r["qv"] for r in qrows for _ in range(n)],
                    type=pa_schema.field("qv").type,
                ),
                pa.array([int(c) for row in top for c in row], pa.int64()),
            ],
            schema=pa_schema,
        )
        probed = sorted({int(c) for row in top for c in row})
    else:
        probe_tbl = pa.Table.from_arrays(
            [pa.array([], type=f.type) for f in pa_schema], schema=pa_schema
        )
        probed = []
    q_probe = spark.createDataFrame(probe_tbl)
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("centroid_id").isin(probed)
    )
    scored = (
        lists.join(F.broadcast(q_probe), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_batch(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def semantic_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-level decontamination (r8): flag every TRAIN vector
    whose nearest EVAL vector is at cosine ≥ ``threshold`` — the
    semantic complement of the lexical ``contamination_8gram`` sweep
    (a paraphrased benchmark leak shares no 8-grams but keeps its
    embedding). Output: (train_id, eval_id, cos) — one row per
    contaminated train vector, its nearest eval neighbor (ties broken
    by lower eval_id).

    Scale shape: eval sets are benchmark-sized, so the eval side is a
    broadcast; the per-train argmax is a struct-max AGGREGATE (max of
    (cos, -eval_id)), which partial-aggregates map-side — the shuffle
    carries one row per train vector per partition, never the
    train×eval pair fan-out a window rank would. Brute-force exact is
    the oracle baseline (house posture); prefilter with
    ``lsh_topk``/``ivf_topk`` when the eval set outgrows a broadcast."""
    t = train.select(
        F.col(id_col).alias("train_id"), F.col(vec_col).alias("tv")
    )
    e = eval_set.select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("ev")
    )
    # JVM fold on purpose — the Arrow twin was tried and REVERTED
    # here (r15): 1.35x slower, 3/3 interleaved pairs (see
    # brute_force_topk's note — same broadcast-pipeline shape)
    scored = t.crossJoin(F.broadcast(e)).select(
        "train_id",
        "eval_id",
        cosine(F.col("tv"), F.col("ev")).alias("cos"),
    )
    best = scored.groupBy("train_id").agg(
        F.max(
            F.struct(
                F.col("cos").alias("c"),
                (-F.col("eval_id")).alias("nid"),
            )
        ).alias("m")
    )
    return (
        best.filter(F.col("m.c") >= threshold)
        .select(
            "train_id",
            (-F.col("m.nid")).alias("eval_id"),
            F.col("m.c").alias("cos"),
        )
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-nearest-neighbor classification: predict each query's label by
    majority vote over its k exact-cosine nearest corpus rows.

    Built on the same broadcast-queries/stationary-corpus shape as
    ``brute_force_topk`` (the corpus never shuffles for the scoring
    pass); the vote is a tiny (queries × labels)-sized agg resolved
    with ``max_by`` on a (votes, best_cos, -label)-ordered struct —
    deterministic: more votes wins, then higher best-neighbor cosine,
    then smaller label.

    Output: (query_id, predicted_label, votes, best_cos).
    """
    labeled = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("neighbor_label"),
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        labeled.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    topk = scored.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= k)
    votes = topk.groupBy("query_id", "neighbor_label").agg(
        F.count(F.lit(1)).alias("votes"), F.max("cos").alias("best_cos")
    )
    return (
        votes.groupBy("query_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("neighbor_label").alias("l"),
                    F.col("votes").alias("v"),
                    F.col("best_cos").alias("c"),
                ),
                F.struct(F.col("votes"), F.col("best_cos"), -F.col("neighbor_label")),
            ).alias("__w")
        )
        .select(
            "query_id",
            F.col("__w.l").alias("predicted_label"),
            F.col("__w.v").cast("long").alias("votes"),
            F.col("__w.c").alias("best_cos"),
        )
    )


def ivf_index_append(
    spark,
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    marker_file: str | None = None,
) -> int:
    """Incremental IVF maintenance: route NEW vectors to the existing
    centroids and append them to the partitioned lists — no retraining,
    no rewrite of existing lists. This is the 100 TB answer to "the
    corpus grew": assignment is one broadcast pass over just the delta,
    and the append lands only in the affected centroid partitions
    (dynamic partition overwrite is NOT used — plain append, so
    EXISTING files are never touched and a concurrent reader never sees
    a corrupt or partially-written file; it may however observe a
    PREFIX of the delta while the append's task files land — ANN-grade
    eventual freshness, not a transaction. Index growth that needs the
    engine's atomic-commit semantics belongs in a TableStore table).
    Centroid drift from accumulated appends is repaired by a periodic
    full ``build_ivf_index`` rebuild, exactly like segment-merge
    maintenance in a serving ANN index. Returns the number of vectors
    appended.

    ``marker_file`` (r11, closes the stream_ivf_append at-least-once
    hole): an EXACTLY-ONCE publish for replayed deliveries. The routed
    delta is first written to ``<path>/_staged/<marker-name>/data``
    (Spark overwrite — a crash mid-staging just re-stages), a
    ``_STAGED`` sentinel freezes the staged file set, each staged file
    is then hard-linked into its centroid list partition under a
    DETERMINISTIC name (``<marker-name>-NNNN.parquet`` — a replayed
    link hits FileExistsError and is skipped, never duplicated), and
    ``marker_file`` is published LAST (atomic rename); staging is only
    GC'd after that. Any crash point therefore replays to the same
    final file set. A call whose ``marker_file`` already exists returns
    0 without running a job. Linked files are complete when they appear
    (fully written in staging), so concurrent readers keep the same
    prefix-visibility guarantee as the plain append path. The link step
    assumes index and staging share a filesystem (always true here — on
    a cluster filesystem swap ``os.link`` for the FS rename API)."""
    import glob as _glob
    import shutil

    from opentick_spark.fsutil import require_local_path

    # staged-publish is a documented LOCAL design (os.path probes,
    # os.link publication) — a URI here would silently stage into a
    # relative "hdfs:" directory and probe "nothing there" (r14,
    # VERDICT r13 item 4)
    require_local_path(path, "ivf_index_append path")
    if marker_file is not None:
        require_local_path(marker_file, "ivf_index_append marker_file")
    if marker_file is not None and os.path.exists(marker_file):
        # already applied: GC any staging a crash left behind
        shutil.rmtree(
            os.path.join(
                path, "_staged", os.path.basename(marker_file)
            ),
            ignore_errors=True,
        )
        return 0
    # r15: route the delta via the matrix-argmax router (see
    # _assign_to_centroids) — one narrow Arrow pass over just the
    # delta, no crossJoin/window. r16: centroid metadata read
    # driver-side (zero Spark jobs on a local index — the append path
    # already REQUIRES a local path above).
    delta = _assign_to_centroids(
        new_vectors, _centroid_rows_from_index(spark, path), id_col, vec_col
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    )
    if marker_file is None:
        # observe() counts DURING the single write pass: the count and
        # the write must not each pay the broadcast-routing join (the
        # streaming sink calls this per micro-batch — double evaluation
        # doubled the hot path), and unlike an eager localCheckpoint
        # nothing is pinned to executor storage for the large-append
        # case (r10 review)
        from pyspark.sql import Observation

        obs = Observation()
        _cluster_for_lists(
            delta.observe(obs, F.count(F.lit(1)).alias("n")),
            "neighbor_id",
        ).write.mode("append").partitionBy("centroid_id").parquet(
            f"{path}/lists"
        )
        return int(obs.get["n"])

    # exactly-once publish (docstring above): stage → freeze → link →
    # marker → GC, every step idempotent under replay
    import pyarrow.parquet as _pq

    staged = os.path.join(path, "_staged", os.path.basename(marker_file))
    sentinel = os.path.join(staged, "_STAGED")
    if not os.path.exists(sentinel):
        # (re)stage: before the sentinel exists no file has been linked
        # into the lists, so a full overwrite is safe (staged files are
        # hard-linked into the lists, so their count propagates — the
        # same _cluster_for_lists sizing applies)
        _cluster_for_lists(delta, "neighbor_id").write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(os.path.join(staged, "data"))
        with open(sentinel, "w"):
            pass  # freezes the staged file set for the link step
    n = 0
    prefix = os.path.basename(marker_file)
    for part_dir in sorted(
        _glob.glob(os.path.join(staged, "data", "centroid_id=*"))
    ):
        target_dir = os.path.join(
            path, "lists", os.path.basename(part_dir)
        )
        os.makedirs(target_dir, exist_ok=True)
        for i, src in enumerate(
            sorted(_glob.glob(os.path.join(part_dir, "*.parquet")))
        ):
            n += _pq.read_metadata(src).num_rows
            try:
                os.link(src, os.path.join(target_dir, f"{prefix}-{i:04d}.parquet"))
            except FileExistsError:
                pass  # replayed link: already published
    os.makedirs(os.path.dirname(marker_file) or ".", exist_ok=True)
    tmp = marker_file + ".tmp"
    with open(tmp, "w"):
        pass
    os.replace(tmp, marker_file)  # publish LAST — the commit point
    shutil.rmtree(staged, ignore_errors=True)
    return n


def _jl_sign_matrix(in_dim: int, out_dim: int) -> "np.ndarray":
    """Deterministic Rademacher projection matrix (Achlioptas 2003,
    database-friendly JL): entry (i, j) is ±1/sqrt-ish scale by the
    parity of md5(f"{i}_{j}") — reproducible from code alone (no stored
    model state) and replicable in any engine with md5, which is what
    makes the projection oracle-checkable cross-engine. Scale 0.25 =
    1/sqrt(16) is exactly representable, keeping the arithmetic clean."""
    import hashlib

    m = np.empty((in_dim, out_dim), dtype=np.float64)
    scale = 1.0 / math.sqrt(out_dim)
    for i in range(in_dim):
        for j in range(out_dim):
            parity = int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:8], 16) % 2
            m[i, j] = scale if parity == 0 else -scale
    return m


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction of an embedding
    column: X -> X @ S with a deterministic Rademacher sign matrix.

    A pure narrow map — ZERO shuffle at any scale: the (in_dim ×
    out_dim) matrix is built driver-side from hashes (a few KB),
    captured in the UDF closure, and every Arrow batch does one numpy
    matmul. The standard pre-step that makes downstream ANN/clustering
    state out_dim/in_dim smaller (4× here) at a distance distortion of
    ~sqrt(ln n / out_dim). Output: (id_col, proj: array<double>[out_dim]).

    Pass ``in_dim`` to keep the builder fully lazy; when omitted, the
    width is sampled from the first NON-NULL embedding (one bounded
    job). NULL embeddings project to NULL; a wrong-width vector fails
    inside the UDF with an explicit dimension message rather than an
    opaque numpy shape error.
    """
    if in_dim is None:
        first = (
            df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
        )
        if first is None:
            return df.select(
                F.col(id_col),
                F.lit(None).cast("array<double>").alias("proj"),
            ).limit(0)
        in_dim = len(first[0])
    signs = _jl_sign_matrix(in_dim, out_dim)
    expect = in_dim

    @pandas_udf(ArrayType(DoubleType(), False))
    def _project(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        vals = v.to_numpy()
        ok = [i for i, x in enumerate(vals) if x is not None]
        out = np.empty(len(vals), dtype=object)
        if ok:
            bad = {len(vals[i]) for i in ok} - {expect}
            if bad:
                raise ValueError(
                    f"random_projection: expected {expect}-dim embeddings, "
                    f"batch contains lengths {sorted(bad)}"
                )
            proj = np.stack([vals[i] for i in ok]).astype(np.float64) @ signs
            for r, i in enumerate(ok):
                out[i] = proj[r]
        return pd.Series(out)

    return df.select(F.col(id_col), _project(F.col(vec_col)).alias("proj"))


def _route_matrix(cents_rows, nprobe: int):
    """The routing constants shared — BY CONSTRUCTION, so executor and
    driver routing can never diverge bitwise — between ``_probe_lists``'
    Arrow UDF and ``ivf_topk_indexed``'s driver-side query probe (r16):
    cid-ascending centroid ids, the float64-normalized centroid matrix,
    and the clamped probe depth."""
    order = sorted(cents_rows, key=lambda r: r[0])  # cid-ascending
    cids = np.asarray([int(c) for c, _ in order], dtype=np.int64)
    C = np.stack([np.asarray(v, dtype=np.float64) for _, v in order])
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    return cids, Cn, min(int(nprobe), len(cids))


def _route_topk(cids, Cn, n, vecs):
    """Top-``n`` probed centroid ids per vector (rows of the return, in
    probe-rank order). Stable argsort on -sims over cid-ascending
    columns: exact ties go to the LOWER centroid_id deterministically —
    the single implementation both routing surfaces call."""
    V = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    sims = Vn @ Cn.T
    return cids[np.argsort(-sims, axis=1, kind="stable")[:, :n]]


def _probe_lists(
    df: DataFrame,
    cents_rows,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Route each vector to its ``nprobe`` nearest centroids WITHOUT a
    join: the centroid matrix is driver-collected (ncentroids × dim —
    the PQ-codebook / probed-centroid-ids collect() precedent: tiny by
    construction) and closed over by an Arrow-vectorized argsort, so
    the plan is a narrow projection + explode — no
    BroadcastNestedLoopJoin even over the tiny centroid relation.
    Ties break to the LOWER centroid_id (stable argsort over
    cid-ascending columns), matching ivf_topk's (sim desc, centroid_id)
    window order. Output: (id_col, vec_col, centroid_id, __probe_rank)
    — one row per probed list, rank 0 = the NEAREST centroid (the
    assignment list), so one routing pass serves both the probe side
    and the assignment side (r13 review finding: a separate nprobe=1
    pass doubled the routing matmul/argsort over each corpus)."""
    cids, Cn, n = _route_matrix(cents_rows, nprobe)

    @pandas_udf(ArrayType(LongType()))
    def _probe(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        return pd.Series(list(_route_topk(cids, Cn, n, v)))

    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(_probe(F.col(vec_col))).alias(
            "__probe_rank", "centroid_id"
        ),
    ).select(id_col, vec_col, "centroid_id", "__probe_rank")


def margin_bitext_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "exact",
    ncentroids: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    LASER recipe): candidate pair score is the RATIO margin

        margin(s,t) = cos(s,t) / ((mu_k(s,T) + mu_k(t,S)) / 2)

    where mu_k(x,Y) is the mean cosine of x's k nearest neighbors in
    the other language — dividing by the neighborhood density kills the
    hubness failure mode of raw-cosine mining (hub vectors score high
    against EVERYTHING, so absolute thresholds either drown in hub
    pairs or drop everything else). 'max' strategy: each source keeps
    its single best-margin target, filtered at ``threshold``.

    Strategies (``strategy=``):

    - ``"exact"`` (default, the oracle-checked path): brute_force_topk
      posture — broadcast the smaller language × scan the larger. Both
      neighborhood means and the margin join read the same scored
      relation, which is localCheckpointed so the cross product is
      MATERIALIZED once — without the checkpoint the three consumers
      re-execute it (r12 review finding). |S|×|T| work: right for
      benchmark-sized mining, not for corpus scale.
    - ``"ivf"`` (r13, VERDICT r12 item 1 — the corpus-scale path):
      shared coarse quantizer over S ∪ T (``seed_centroids``, or
      k-means when ``train_iters`` > 0); every vector is ASSIGNED to
      its nearest list and PROBES its ``nprobe`` nearest. Forward
      candidates = s-probes ⋈ t-assignments on centroid_id (s's
      approximate k-NN list → μ_s); backward = t-probes ⋈
      s-assignments (→ μ_t); the margin is scored over the
      forward ∪ backward union. Work is Σ|list_s|·|list_t| over
      co-probed lists instead of |S|×|T|; every join keys on
      centroid_id/sid/tid (hash joins — NO BroadcastNestedLoopJoin:
      even centroid routing is a driver-collected-matrix Arrow argsort,
      see ``_probe_lists``), and at 1000 executors the lists shard by
      centroid exactly like ``build_ivf_index``'s physical layout.
      ``nprobe == ncentroids`` probes every list, making the result
      EXACTLY equal to ``"exact"`` (the equivalence test's contract);
      smaller nprobe trades recall for cost like ``ivf_topk``. A pair
      whose two endpoints never co-probe is unscored (standard IVF
      recall loss); a candidate t with an empty backward list has no
      μ_t and drops out of the margin join.

    Output: (src_id, tgt_id, cos, margin) — one row per source with
    margin ≥ threshold; ranked on RAW doubles, ids break exact ties.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if strategy not in ("exact", "ivf"):
        raise ValueError(f"strategy must be 'exact' or 'ivf', got {strategy!r}")
    s = src.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("sv"))
    t = tgt.select(F.col(id_col).alias("tid"), F.col(vec_col).alias("tv"))
    if strategy == "exact":
        scored = (
            t.crossJoin(F.broadcast(s))
            # JVM fold on purpose: this is the broadcast-pipeline shape
            # where the Arrow twin measured SLOWER (see
            # brute_force_topk's r15 revert note); only the ivf
            # branch's hash-join candidates keep cosine_seq_batch
            .select(
                "sid",
                "tid",
                cosine(F.col("sv"), F.col("tv")).alias("cos"),
            )
            .localCheckpoint(eager=False)  # one materialization, 3 consumers
        )
        fwd_scored = bwd_scored = cand_scored = scored
    else:
        both = s.select(
            F.col("sid").alias("vec_id"), F.col("sv").alias("embedding")
        ).unionAll(
            t.select(F.col("tid").alias("vec_id"), F.col("tv").alias("embedding"))
        )
        if train_iters > 0:
            cents = kmeans_centroids(both, ncentroids=ncentroids, iters=train_iters)
        else:
            cents = seed_centroids(both, ncentroids=ncentroids)
        crows = [(r["centroid_id"], r["centv"]) for r in cents.collect()]
        if not crows:  # empty input: no centroids, no pairs
            return (
                s.limit(0)
                .crossJoin(t.limit(0))
                .select(
                    F.col("sid").alias("src_id"),
                    F.col("tid").alias("tgt_id"),
                    F.lit(0.0).alias("cos"),
                    F.lit(0.0).alias("margin"),
                )
            )
        # ONE routing pass per side (checkpointed: the probe relation
        # feeds both directions, and without the pin each consumer
        # re-runs the routing matmul); assignment = rank-0 slice
        s_probe = _probe_lists(s, crows, nprobe, "sid", "sv").localCheckpoint(
            eager=False
        )
        t_probe = _probe_lists(t, crows, nprobe, "tid", "tv").localCheckpoint(
            eager=False
        )
        s_assign = s_probe.filter(F.col("__probe_rank") == 0).drop(
            "__probe_rank"
        )
        t_assign = t_probe.filter(F.col("__probe_rank") == 0).drop(
            "__probe_rank"
        )
        s_probe = s_probe.drop("__probe_rank")
        t_probe = t_probe.drop("__probe_rank")
        # r15: cosine_seq_batch is the BIT-IDENTICAL Arrow twin of the
        # JVM fold (cos is oracle-compared output here — it must not
        # move an ulp; equality pinned by
        # test_cosine_seq_batch_bit_equals_fold). The fold's
        # interpreted per-element lambda was the row's dominant cost
        # (profiled 2.5s of 3.3s at sf0.1).
        cos_expr = cosine_seq_batch(F.col("sv"), F.col("tv")).alias("cos")
        # each pair appears at most once per direction (assignment is
        # unique, probes are distinct lists) — no within-branch dedup
        fwd_scored = (
            s_probe.join(t_assign, "centroid_id")
            .select("sid", "tid", cos_expr)
            .localCheckpoint(eager=False)  # consumed by μ_s and the union
        )
        bwd_scored = (
            s_assign.join(t_probe, "centroid_id")
            .select("sid", "tid", cos_expr)
            .localCheckpoint(eager=False)  # consumed by μ_t and the union
        )
        # r16 (ADVICE r15): the twin returns NaN where the fold would
        # RAISE (zero-norm vectors) — and Spark orders NaN ABOVE every
        # number, so a NaN cos would pass cos > 0, poison the k-NN
        # means, and sort FIRST under desc(margin) as a pair's winning
        # row. Drop NaN explicitly. Placed AFTER the checkpoint so the
        # filter reads materialized rows instead of letting the
        # optimizer duplicate the UDF below a pushed-down filter
        # (guide §4.4).
        fwd_scored = fwd_scored.filter(~F.isnan("cos"))
        bwd_scored = bwd_scored.filter(~F.isnan("cos"))
        # identical expression on identical values → bit-identical cos:
        # the (sid, tid, cos) distinct is safe on the double
        cand_scored = fwd_scored.unionAll(bwd_scored).distinct()
    wf = Window.partitionBy("sid").orderBy(F.desc("cos"), "tid")
    wb = Window.partitionBy("tid").orderBy(F.desc("cos"), "sid")
    fwd = (
        fwd_scored.withColumn("__r", F.row_number().over(wf))
        .filter(F.col("__r") <= k)
        .groupBy("sid")
        .agg(F.avg("cos").alias("__mu_s"))
    )
    bwd = (
        bwd_scored.withColumn("__r", F.row_number().over(wb))
        .filter(F.col("__r") <= k)
        .groupBy("tid")
        .agg(F.avg("cos").alias("__mu_t"))
    )
    # candidates are positive-similarity pairs only: A&S mine from
    # FAISS k-NN lists (always the highest cosines); the RATIO margin
    # is ill-defined at cos <= 0 — a negative neighborhood mean flips
    # the sign and a perfect anti-match scores a huge positive margin
    # (caught by the golden test's (-1, 0) target)
    margins = (
        cand_scored.filter(F.col("cos") > 0)
        .join(fwd, "sid")
        .join(bwd, "tid")
        # the denominator needs the same guard as the numerator: k-NN
        # means can average negative cosines, so (mu_s + mu_t) <= 0
        # would make the ratio Inf/NaN or sign-flipped even at cos > 0
        # (r12 ADVICE) — same ill-defined-ratio class as the cos filter
        .filter((F.col("__mu_s") + F.col("__mu_t")) > 0)
        .withColumn(
            "margin",
            F.col("cos") / ((F.col("__mu_s") + F.col("__mu_t")) / F.lit(2.0)),
        )
    )
    best = Window.partitionBy("sid").orderBy(F.desc("margin"), "tid")
    return (
        margins.withColumn("__b", F.row_number().over(best))
        .filter((F.col("__b") == 1) & (F.col("margin") >= threshold))
        .select(
            F.col("sid").alias("src_id"),
            F.col("tid").alias("tgt_id"),
            "cos",
            "margin",
        )
    )
