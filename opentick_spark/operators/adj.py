"""Price/volume adjustment — the reference's one custom analytic operator.

Reference semantics (adj.go):
- ``_adj_(sec, time, px, vol)`` holds per-security adjustment events.
- Zero factors are treated as 1 (adj.go:115-120).
- Cumulative factors (adj.go:124-134):
    forward  Px[i]  = ∏ raw_px[i..n)          (suffix product, incl. self)
    backward PxB[i] = ∏ 1/raw_px[0..i]         (prefix product of inverses)
- Application (adj.go:142-202) is an as-of lookup by row timestamp ``tm``:
    forward:  factor of the FIRST event with time >  tm (exclusive), else 1
    backward: factor of the LAST  event with time <= tm (inclusive), else 1
  and the selected column values are multiplied by the factor.

Spark-native design: a **sorted-merge as-of join** — union the factor
events into the row stream, sort by (sec, time, kind) where events sort
before rows at equal time, and resolve the as-of factor with one window
function pass:

- backward = ``last(event_factor, ignorenulls)`` over
  (unboundedPreceding..currentRow): events at the row's own time sort
  before the row, so they are *included* — matching bisectRight's
  "last event <= tm".
- forward = ``first(event_factor, ignorenulls)`` over
  (1 row following..unboundedFollowing): events at the row's own time sort
  *before* the row and fall outside the following frame, so an event
  exactly at ``tm`` is *excluded* — matching "first event > tm".

This is the scale-friendly plan: one shuffle on ``sec`` (the same
partitioning the table layout already uses), no broadcast requirement,
and linear merge within each partition — the distributed equivalent of
the reference's moving-cursor merge scan (adj.go:162-181).

The dialect's ``adj()`` takes the ``"broadcast"`` strategy (see
``with_adj_factors``) over a **snapshot-keyed factor table** — the analog
of the reference's per-(db, sec) cumulative factor cache, which it
invalidates when ``_adj_`` changes (adj.go:34-47). Here the cache unit is
the whole ``_adj_`` snapshot: ``factor_table`` computes the factor
intervals once per snapshot key (``TableStore.read(with_snapshot=True)``)
and holds them as a materialized relation, so a repeated ``adj`` query
runs the broadcast of that relation plus its scan instead of recomputing
the factor windows. An ``_adj_`` commit or compaction changes the key,
and the next query replaces the table with the new snapshot's.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: factor tables: (session, ``_adj_`` location, backward) ->
#: (snapshot key, intervals). Process-wide: every Engine on a warehouse
#: (one per wire connection) shares one table per snapshot, and a closed
#: connection leaves no entry behind. Bounded: past
#: ``_MAX_FACTOR_TABLES`` the least recently used slot is dropped.
_FACTOR_TABLES: dict[tuple, tuple] = {}
_FACTOR_LOCK = threading.Lock()
_MAX_FACTOR_TABLES = 64


def cumulative_factors(adj_df: DataFrame) -> DataFrame:
    """Expand raw per-event factors into cumulative forward/backward
    factors (mirrors adjCache.get, adj.go:72-140).

    Input columns: sec, time, px, vol. Output adds px_f, vol_f (forward,
    suffix products including self) and px_b, vol_b (backward, prefix
    products of inverses including self).
    """
    px = F.when(F.col("px") == 0, F.lit(1.0)).otherwise(F.col("px"))
    vol = F.when(F.col("vol") == 0, F.lit(1.0)).otherwise(F.col("vol"))
    w_fwd = (
        Window.partitionBy("sec")
        .orderBy("time")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_bwd = (
        Window.partitionBy("sec")
        .orderBy("time")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        adj_df.select("sec", "time", px.alias("_px1"), vol.alias("_vol1"))
        .withColumn("px_f", F.product("_px1").over(w_fwd))
        .withColumn("vol_f", F.product("_vol1").over(w_fwd))
        .withColumn("px_b", 1.0 / F.product("_px1").over(w_bwd))
        .withColumn("vol_b", 1.0 / F.product("_vol1").over(w_bwd))
        .drop("_px1", "_vol1")
    )


def factor_intervals(adj_df: DataFrame, backward: bool) -> DataFrame:
    """Cumulative factors as half-open validity intervals.

    Each event's as-of factor applies to a contiguous time range of rows:
    forward factor of event i covers ``[t_{i-1}, t_i)`` ("first event
    time > tm" ⇒ the previous event's time up to, excluding, its own);
    backward factor covers ``[t_i, t_{i+1})`` ("last event time <= tm").
    NULL bounds mean ±infinity. Output: (__sec, __lo, __hi, __ev_px,
    __ev_vol); rows matching no interval take factor 1.
    """
    factors = cumulative_factors(adj_df)
    w = Window.partitionBy("sec").orderBy("time")
    if backward:
        lo, hi = F.col("time"), F.lead("time").over(w)
        fpx, fvol = "px_b", "vol_b"
    else:
        lo, hi = F.lag("time").over(w), F.col("time")
        fpx, fvol = "px_f", "vol_f"
    return factors.select(
        F.col("sec").alias("__sec"),
        lo.alias("__lo"),
        hi.alias("__hi"),
        F.col(fpx).alias("__ev_px"),
        F.col(fvol).alias("__ev_vol"),
    )


def factor_table(adj_df: DataFrame, backward: bool, snapshot: tuple) -> DataFrame:
    """``factor_intervals`` of one ``_adj_`` snapshot, materialized once
    and reused until the snapshot changes (module docstring).

    ``snapshot`` is ``(location, key)``: where ``adj_df`` was read from
    and the ``TableStore.read`` snapshot key it was read at. The table is
    a lazy ``localCheckpoint``, not a ``persist``: Spark's cache matches
    plans, and a file scan's plan names its root paths, not its files,
    so a persisted table of one snapshot would also be served to a query
    of another (connections share this registry and the session). A
    checkpoint's plan is its own RDD, which nothing else matches. A
    replaced table is not unpersisted: a query of another connection may
    still be running on it, so its blocks are left to Spark's
    ContextCleaner, which frees them once no DataFrame refers to it."""
    where, key = snapshot
    slot = (adj_df.sparkSession, where, backward)
    with _FACTOR_LOCK:
        hit = _FACTOR_TABLES.pop(slot, None)
        if hit is None or hit[0] != key:
            # one partition: the table is tiny, and each query's
            # broadcast then reads it in one task
            iv = factor_intervals(adj_df, backward).coalesce(1)
            hit = (key, iv.localCheckpoint(eager=False))
        _FACTOR_TABLES[slot] = hit
        while len(_FACTOR_TABLES) > _MAX_FACTOR_TABLES:
            _FACTOR_TABLES.pop(next(iter(_FACTOR_TABLES)))
        return hit[1]


def with_adj_factors(
    rows: DataFrame,
    adj_df: DataFrame,
    sec_col: str,
    time_col: str,
    backward: bool,
    strategy: str = "merge",
    iv: DataFrame | None = None,
) -> DataFrame:
    """Attach as-of adjustment factor columns ``__px_factor`` /
    ``__vol_factor`` to ``rows``.

    ``rows`` may contain arbitrary columns; ``sec_col``/``time_col`` name
    its security id and timestamp (epoch-nanos long or any orderable type
    consistent with ``_adj_.time``).

    Two physical strategies, same semantics:

    - ``"merge"`` (default): the sorted-merge window described in the
      module docstring — one shuffle on ``sec``, linear merge, no size
      assumption on either side.
    - ``"broadcast"``: skew hardening. The window plan puts every row of
      one ``sec`` in ONE task; a hyper-hot security therefore bounds the
      stage (the hazard named in PLANS.md). But the factor table is
      corporate actions — thousands of rows at worst — so each cumulative
      factor becomes a half-open validity interval and the whole interval
      table is **broadcast**: rows resolve their factor with a
      broadcast-hash equi-join on ``sec`` plus an interval filter, no
      Exchange of the row stream at all. Row-side partitioning (however
      skewed) is preserved; cost is a per-row probe over THAT security's
      intervals — bounded by the corporate-action count per security
      (dozens in practice). A right side with a hyper-hot key would
      degenerate this probe (measured on the generic as-of:
      tests/skew_drill.py, fixed there with
      ``asof_join(broadcast_buckets=N)``); adjustment factors cannot
      reach that shape, which is why this path needs no bucketing. Use
      when the factor table fits a broadcast (practically always) and
      the row stream is large or skewed. ``iv``: the interval table
      (``factor_intervals`` or ``factor_table`` of ``adj_df``), when
      the caller already holds it.
    """
    if strategy not in ("merge", "broadcast"):
        raise ValueError("strategy must be 'merge' or 'broadcast'")
    if strategy == "broadcast":
        if iv is None:
            iv = factor_intervals(adj_df, backward)
        tm = F.col(time_col)
        cond = (
            (F.col(sec_col).cast("long") == F.col("__sec"))
            & (F.col("__lo").isNull() | (tm >= F.col("__lo")))
            & (F.col("__hi").isNull() | (tm < F.col("__hi")))
        )
        return rows.join(F.broadcast(iv), cond, "left").select(
            *[F.col(c) for c in rows.columns],
            F.coalesce(F.col("__ev_px"), F.lit(1.0)).alias("__px_factor"),
            F.coalesce(F.col("__ev_vol"), F.lit(1.0)).alias("__vol_factor"),
        )
    factors = cumulative_factors(adj_df)
    if backward:
        ev = factors.select(
            F.col("sec").alias("__sec"),
            F.col("time").alias("__time"),
            F.col("px_b").alias("__ev_px"),
            F.col("vol_b").alias("__ev_vol"),
        )
    else:
        ev = factors.select(
            F.col("sec").alias("__sec"),
            F.col("time").alias("__time"),
            F.col("px_f").alias("__ev_px"),
            F.col("vol_f").alias("__ev_vol"),
        )
    row_cols = rows.columns
    ev_full = ev.withColumn("__is_row", F.lit(0))
    for c in row_cols:
        ev_full = ev_full.withColumn(c, F.lit(None).cast(rows.schema[c].dataType))
    rows_full = (
        rows.withColumn("__sec", F.col(sec_col).cast("long"))
        .withColumn("__time", F.col(time_col))
        .withColumn("__ev_px", F.lit(None).cast("double"))
        .withColumn("__ev_vol", F.lit(None).cast("double"))
        .withColumn("__is_row", F.lit(1))
    )
    ev_full = ev_full.withColumn("__sec", F.col("__sec").cast("long"))
    merged = rows_full.select(*rows_full.columns).unionByName(
        ev_full.select(*rows_full.columns)
    )
    # events sort before rows at equal time (__is_row 0 < 1)
    order = [F.col("__time"), F.col("__is_row")]
    if backward:
        w = (
            Window.partitionBy("__sec")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        px = F.last("__ev_px", ignorenulls=True).over(w)
        vol = F.last("__ev_vol", ignorenulls=True).over(w)
    else:
        w = (
            Window.partitionBy("__sec")
            .orderBy(*order)
            .rowsBetween(1, Window.unboundedFollowing)
        )
        px = F.first("__ev_px", ignorenulls=True).over(w)
        vol = F.first("__ev_vol", ignorenulls=True).over(w)
    out = (
        merged.withColumn("__px_factor", F.coalesce(px, F.lit(1.0)))
        .withColumn("__vol_factor", F.coalesce(vol, F.lit(1.0)))
        .filter(F.col("__is_row") == 1)
        .drop("__sec", "__time", "__ev_px", "__ev_vol", "__is_row")
    )
    return out


def apply_adj(
    rows: DataFrame,
    adj_df: DataFrame,
    sec_col: str,
    time_col: str,
    px_cols: list[str],
    vol_cols: list[str],
    backward: bool = False,
    strategy: str = "merge",
    snapshot: tuple | None = None,
) -> DataFrame:
    """Multiply ``px_cols`` by the as-of price factor and ``vol_cols`` by
    the volume factor (applyFunc, adj.go:142-202); column names/positions
    are preserved, mirroring the reference's in-place row rewriting.
    ``strategy="broadcast"`` selects the skew-immune broadcast-interval
    plan (see ``with_adj_factors``). With a ``snapshot`` (see
    ``factor_table``) and a non-None key, that plan reuses the snapshot's
    materialized factor table."""
    if not px_cols and not vol_cols:
        return rows
    iv = None
    if strategy == "broadcast" and snapshot is not None and snapshot[1] is not None:
        iv = factor_table(adj_df, backward, snapshot)
    with_f = with_adj_factors(rows, adj_df, sec_col, time_col, backward, strategy, iv)
    exprs = []
    for c in rows.columns:
        if c in px_cols:
            exprs.append((F.col(c) * F.col("__px_factor")).alias(c))
        elif c in vol_cols:
            exprs.append((F.col(c) * F.col("__vol_factor")).alias(c))
        else:
            exprs.append(F.col(c))
    return with_f.select(*exprs)
