"""Generic as-of join — the time-series join the reference's adj()
specializes (adj.go's bisectRight lookup, generalized to any payload).
The dialect's ``adj()`` is this module's broadcast interval probe over
cumulative factors (operators/adj.py).

Sorted-merge plan (the default): union the right side into the left
stream tagged by kind, sort by (keys, time, kind) with right rows before
left rows at equal time, and resolve the as-of row with one window pass
— backward takes the last right row over (unboundedPreceding..currentRow),
which includes a right row at the left row's own time; forward takes
the first over (1 following..unboundedFollowing), which excludes it. One
shuffle on the join keys, linear merge within partitions, no broadcast
requirement — the distributed form of the reference's moving-cursor
merge scan (adj.go:162-181), and the plan that survives 100 TB, unlike
per-row subqueries or range cross-joins.

Direction semantics (matching the reference's conventions, adj.go:184-190):
- backward: last right row with time <= left time (inclusive)
- forward:  first right row with time >  left time (exclusive)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    direction: str = "backward",
    value_cols: list[str] | None = None,
    tolerance: int | None = None,
    strategy: str = "merge",
    skew_buckets: int | None = None,
    broadcast_buckets: int | None = None,
) -> DataFrame:
    """Attach the as-of row's ``value_cols`` from ``right`` to each row of
    ``left``. NULLs when no right row qualifies (or it is farther than
    ``tolerance`` in the time column's own units).

    ``strategy="merge"`` (default) is the sorted-merge window above — no
    size assumption on either side. ``strategy="broadcast"`` is the
    plan for a broadcastable right side (reference data, corporate
    events, …; the dialect's adj()): ``validity_intervals`` of the right
    side, broadcast and probed by ``probe_intervals`` — the left side
    keeps its partitioning, so a hyper-hot LEFT key cannot bound the
    stage. CAVEAT (measured,
    tests/skew_drill.py): a hyper-hot RIGHT key degenerates this plan —
    the hash join matches every interval of the key then post-filters,
    so each left row scans O(intervals-of-its-key) (145 s vs 0.6 s merge
    on the 80%-hot 1M-row fixture). ``broadcast_buckets=N`` fixes that
    by time-bucketing the broadcast side: each interval replicates to
    the buckets it spans and the join gains a bucket equi-key, bounding
    the per-row scan to intervals overlapping one bucket. Costs one
    min/max pass over the left time column and ~N extra broadcast rows
    per key.

    ``skew_buckets=N`` (merge strategy only) time-buckets the sorted-merge
    window: the heavy window partitions by (keys, time-bucket) instead of
    (keys,), so a single hyper-hot key splits across N partitions instead
    of bounding the stage on one. Left rows whose bucket holds no earlier
    (resp. later) right row take the carry-in — the per-(key, bucket)
    as-of payload rolled across buckets, an aggregate that is tiny
    (#keys × N rows) regardless of data volume. Results are identical to
    the unbucketed merge; tests/test_adj.py pins the equivalence."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    if strategy not in ("merge", "broadcast"):
        raise ValueError(f"strategy must be merge|broadcast, got {strategy}")
    value_cols = value_cols or [
        c for c in right.columns if c not in on and c != right_time
    ]
    if strategy == "broadcast":
        iv = validity_intervals(right, on, right_time, direction, value_cols)
        join_left, left_on = left, on
        if broadcast_buckets is not None and broadcast_buckets > 1:
            # bucket equi-key bounds the per-left-row interval scan: one
            # driver-side min/max of the left time column sizes the
            # buckets, intervals are clamped to the observed left range
            # (out-of-range and zero-width ones can never match) and
            # replicated to every bucket they overlap
            b = left.agg(
                F.min(left_time).alias("lo"), F.max(left_time).alias("hi")
            ).first()
            llo, lhi = b["lo"], b["hi"]
            if llo is not None:
                width = max(1, (lhi - llo) // broadcast_buckets + 1)
                # integer div: double division would lose ulps on
                # ns-scale longs and could mis-bucket boundary rows;
                # greatest/least skip a NULL (unbounded) side
                bkts = F.sequence(
                    F.expr(f"(__lo_c - {llo}L) div {width}L"),
                    F.expr(f"(__hi_c - 1 - {llo}L) div {width}L"),
                )
                iv = (
                    iv.withColumn("__lo_c", F.greatest("__lo", F.lit(llo)))
                    .withColumn("__hi_c", F.least("__hi", F.lit(lhi + 1)))
                    .filter(F.col("__lo_c") < F.col("__hi_c"))
                    .withColumn("__bkt", F.explode(bkts))
                    .drop("__lo_c", "__hi_c")
                )
                join_left = left.withColumn(
                    "__lbkt", F.expr(f"({left_time} - {llo}L) div {width}L")
                )
                left_on = [*on, "__lbkt"]
        out = probe_intervals(join_left, iv, left_on, left_time)
        return _select_picked(
            out, "__vrow", left_time, left.columns, value_cols, direction, tolerance
        )
    tagged_r = right.select(
        *[F.col(c) for c in on],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        _payload(right_time, value_cols).alias("__vrow"),
    )
    left_cols = left.columns
    tagged_l = left.select(
        "*",
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(tagged_r.schema["__vrow"].dataType).alias("__vrow"),
    )
    for c in left_cols:
        if c not in tagged_r.columns:
            tagged_r = tagged_r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    merged = tagged_l.unionByName(tagged_r.select(*tagged_l.columns))
    if skew_buckets is not None and skew_buckets > 1:
        return _merge_bucketed(
            merged, on, left_cols, value_cols, direction, tolerance, skew_buckets
        )
    picked = _nearest("__vrow", on, ["__t", "__is_left"], direction)
    out = merged.withColumn("__p", picked).filter(F.col("__is_left") == 1)
    return _select_picked(
        out, "__p", "__t", left_cols, value_cols, direction, tolerance
    )


def _nearest(
    col: str, part: list[str], order: list[str], direction: str, upto: int = 0
):
    """The nearest non-null ``col`` of a (``part``, ``order``) window:
    backward the last over (unboundedPreceding..``upto``), forward the
    first over (1 following..unboundedFollowing). With right rows
    ordered before left rows at equal time, backward then includes a
    right row at the left row's own time and forward excludes it."""
    w = Window.partitionBy(*part).orderBy(*order)
    if direction == "backward":
        return F.last(col, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, upto)
        )
    return F.first(col, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )


def _payload(right_time: str, value_cols: list[str]):
    """The as-of row as ONE struct (``__rt`` = its time, then
    ``value_cols``): picking it atomically keeps a row's values
    together — per-column last/first(ignorenulls) would stitch values
    from different right rows whenever payload columns hold NULLs."""
    return F.struct(
        F.col(right_time).alias("__rt"),
        *[F.col(c).alias(c) for c in value_cols],
    )


def validity_intervals(
    right: DataFrame,
    on: list[str],
    right_time: str,
    direction: str,
    value_cols: list[str],
) -> DataFrame:
    """The broadcast plan's table: each right row as the half-open time
    interval over which it is the as-of row of its key — ``[t, next_t)``
    backward, ``[prev_t, t)`` forward, a NULL bound meaning unbounded.
    Columns: ``__k_<c>`` per key of ``on``, ``__vrow`` (the payload
    struct of ``_payload``), ``__lo``, ``__hi``."""
    w = Window.partitionBy(*on).orderBy(right_time)
    if direction == "backward":
        lo, hi = F.col(right_time), F.lead(right_time).over(w)
    else:
        lo, hi = F.lag(right_time).over(w), F.col(right_time)
    return right.select(
        *[F.col(c).alias(f"__k_{c}") for c in on],
        _payload(right_time, value_cols).alias("__vrow"),
        lo.alias("__lo"),
        hi.alias("__hi"),
    )


def probe_intervals(
    left: DataFrame, iv: DataFrame, left_on: list[str], left_time: str
) -> DataFrame:
    """``left`` plus ``__vrow``, the payload of the interval holding each
    row's ``left_time`` (NULL when none does): a broadcast-hash left join
    of ``iv`` (``validity_intervals``, possibly with extra key columns)
    on its key columns — every column but ``__vrow``/``__lo``/``__hi``,
    in order, paired by position with ``left_on`` — and an interval
    filter. The left side keeps its partitioning: no Exchange of it."""
    iv_on = [c for c in iv.columns if c not in ("__vrow", "__lo", "__hi")]
    lt = F.col(left_time)
    cond = F.lit(True)
    for lk, ik in zip(left_on, iv_on, strict=True):
        cond = cond & (F.col(lk) == F.col(ik))
    cond = (
        cond
        & (F.col("__lo").isNull() | (lt >= F.col("__lo")))
        & (F.col("__hi").isNull() | (lt < F.col("__hi")))
    )
    return left.join(F.broadcast(iv), cond, "left").select(
        *[F.col(c) for c in left.columns], "__vrow"
    )


def _merge_bucketed(
    merged: DataFrame,
    on: list[str],
    left_cols: list[str],
    value_cols: list[str],
    direction: str,
    tolerance: int | None,
    n_buckets: int,
) -> DataFrame:
    """Skew-split sorted merge: the heavy window partitions by
    (keys, time-bucket) so a hot key spreads over ``n_buckets`` tasks.

    Cross-bucket correctness comes from a carry join: per (key, bucket)
    the extreme right-side payload (latest for backward, earliest for
    forward) is aggregated — #keys × N rows, trivially small at any data
    volume — then rolled across buckets with a window so every bucket
    knows its as-of answer from outside the bucket. A left row prefers
    its in-bucket pick and falls back to the carry. Costs one extra
    min/max pass over the unioned stream for the bucket bounds (column-
    pruned to the time column, typically answered by parquet stats)."""
    bounds = merged.agg(F.min("__t").alias("lo"), F.max("__t").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    is_left = F.col("__is_left") == 1
    if lo is None or hi == lo:
        width, lo = 1, 0 if lo is None else lo
    else:
        width = (hi - lo) // n_buckets + 1
    merged = merged.withColumn("__b", F.expr(f"(__t - {lo}L) div {width}L"))
    part = [*on, "__b"]
    # extreme right payload per (key, bucket): struct max/min orders by
    # __t first; left rows contribute NULL and are ignored by the agg
    rpay = F.when(~is_left, F.struct(F.col("__t"), F.col("__vrow")))
    picked_in = _nearest("__vrow", part, ["__t", "__is_left"], direction)
    edge = (F.max if direction == "backward" else F.min)(rpay).alias("__e")
    # the carry-in comes from earlier (resp. later) buckets only
    carried = _nearest("__e", on, ["__b"], direction, upto=-1)
    carry = (
        merged.groupBy(*part)
        .agg(edge)
        .withColumn("__cv", carried["__vrow"])
        .select(*part, "__cv")
    )
    out = (
        merged.withColumn("__pin", picked_in)
        .filter(is_left)
        .join(carry, part, "left")
        .withColumn("__p", F.coalesce("__pin", "__cv"))
    )
    return _select_picked(
        out, "__p", "__t", left_cols, value_cols, direction, tolerance
    )


def _select_picked(
    out: DataFrame,
    pick: str,
    t: str,
    left_cols: list[str],
    value_cols: list[str],
    direction: str,
    tolerance: int | None,
) -> DataFrame:
    """``left_cols`` plus the ``value_cols`` of the as-of row struct
    ``pick``; with a ``tolerance``, a row farther than it from the left
    time ``t`` counts as no match."""
    if tolerance is not None:
        rt = F.col(f"{pick}.__rt")
        gap = (F.col(t) - rt) if direction == "backward" else (rt - F.col(t))
        keep = F.col(pick).isNotNull() & (gap <= tolerance)
        out = out.withColumn(pick, F.when(keep, F.col(pick)))
    return out.select(
        *[F.col(c) for c in left_cols],
        *[F.col(f"{pick}.{c}").alias(c) for c in value_cols],
    )
