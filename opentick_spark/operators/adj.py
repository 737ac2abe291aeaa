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

Spark-native design: ``cumulative_factors`` followed by the generic
as-of join's broadcast interval probe (operators/asof.py). ``_adj_`` is
corporate actions — thousands of rows at worst — so its interval table
is broadcast and the rows never shuffle: a hyper-hot security cannot
bound a stage, and a row's probe is bounded by its security's events.

The dialect's ``adj()`` probes a **snapshot-keyed factor table** — the analog
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

from opentick_spark.operators.asof import probe_intervals, validity_intervals

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


def _intervals(adj_df: DataFrame, backward: bool) -> DataFrame:
    """One direction's cumulative factors as ``validity_intervals``,
    payload fields ``px`` and ``vol``: a backward factor covers
    ``[t_i, t_{i+1})`` ("last event time <= tm"), a forward one
    ``[t_{i-1}, t_i)`` ("first event time > tm")."""
    d = "b" if backward else "f"
    factors = cumulative_factors(adj_df).select(
        "sec", "time", F.col(f"px_{d}").alias("px"), F.col(f"vol_{d}").alias("vol")
    )
    direction = "backward" if backward else "forward"
    return validity_intervals(factors, ["sec"], "time", direction, ["px", "vol"])


def factor_table(adj_df: DataFrame, backward: bool, snapshot: tuple) -> DataFrame:
    """The factor intervals of one ``_adj_`` snapshot, materialized once
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
            iv = _intervals(adj_df, backward).coalesce(1)
            hit = (key, iv.localCheckpoint(eager=False))
        _FACTOR_TABLES[slot] = hit
        while len(_FACTOR_TABLES) > _MAX_FACTOR_TABLES:
            _FACTOR_TABLES.pop(next(iter(_FACTOR_TABLES)))
        return hit[1]


def apply_adj(
    rows: DataFrame,
    adj_df: DataFrame,
    sec_col: str,
    time_col: str,
    px_cols: list[str],
    vol_cols: list[str],
    backward: bool = False,
    snapshot: tuple | None = None,
) -> DataFrame:
    """Multiply ``px_cols`` by the as-of price factor and ``vol_cols`` by
    the volume factor (applyFunc, adj.go:142-202), 1 where no event
    applies; column names/positions are preserved, mirroring the
    reference's in-place row rewriting. With a ``snapshot`` (see
    ``factor_table``) and a non-None key, the probe reuses the
    snapshot's materialized factor table."""
    if not px_cols and not vol_cols:
        return rows
    if snapshot is not None and snapshot[1] is not None:
        iv = factor_table(adj_df, backward, snapshot)
    else:
        iv = _intervals(adj_df, backward)
    probed = probe_intervals(rows, iv, [sec_col], time_col)
    exprs = []
    for c in rows.columns:
        if c in px_cols or c in vol_cols:
            f = F.coalesce(F.col("__vrow.px" if c in px_cols else "__vrow.vol"), F.lit(1.0))
            exprs.append((F.col(c) * f).alias(c))
        else:
            exprs.append(F.col(c))
    return probed.select(*exprs)
