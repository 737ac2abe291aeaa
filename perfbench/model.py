"""Seeded tick data and the model every reply is checked against.

The table is the reference harness's 9-column OHLCV bar table
``test(sec, interval, tm, open, high, low, close, v, vwap)`` with primary
key ``(sec, interval, tm)``. Bar ``i`` of a (sec, interval) series sits at
``T0 + i * BAR_S`` epoch seconds, so a bar index is a timestamp.

Prices are multiples of 1/256 and the ``_adj_`` price factors are powers
of two, so every adjusted value is an exact double: replies are compared
cell for cell, never within a tolerance.
"""

from __future__ import annotations

import numpy as np

T0 = 1_500_000_000  # epoch seconds of bar 0
BAR_S = 60
ROW_BYTES = 64  # logical OHLCV row: two int keys (4 B), tm (8 B), six doubles (8 B)

CREATE_SQL = (
    "create table test(sec int, interval int, tm timestamp, open double, "
    "high double, low double, close double, v double, vwap double, "
    "primary key(sec, interval, tm))"
)
INSERT_SQL = (
    "insert into test(sec, interval, tm, open, high, low, close, v, vwap) "
    "values(?, ?, ?, ?, ?, ?, ?, ?, ?)"
)
ADJ_INSERT_SQL = "insert into _adj_(sec, time, px, vol) values(?, ?, ?, ?)"
_FACTORS = np.array([0.25, 0.5, 2.0, 4.0])


def bar_tm(i: int) -> int:
    return T0 + i * BAR_S


def _bars(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` bars as an (n, 6) float array of open/high/low/close/v/vwap.
    Prices stay in a fixed band rather than walking, so every seed's data
    compresses about alike and byte counts vary little from seed to seed."""
    close = 100.0 + rng.integers(-512, 513, n) / 256.0
    open_ = close + rng.integers(-32, 33, n) / 256.0
    high = np.maximum(open_, close) + rng.integers(0, 33, n) / 256.0
    low = np.minimum(open_, close) - rng.integers(0, 33, n) / 256.0
    v = rng.integers(1, 1_000_000, n).astype(np.float64)
    vwap = (high + low) / 2.0
    return np.column_stack([open_, high, low, close, v, vwap])


class TickModel:
    """What the table must hold: ``n_bars`` bars for every (sec, interval)
    group, plus ``n_extra`` more bars per group that a workload appends
    later (generated now, so the whole run follows from the seed)."""

    def __init__(
        self,
        seed: int,
        secs: int,
        intervals: int,
        n_bars: int,
        n_extra: int = 0,
        adj_events: int = 0,
    ):
        rng = np.random.default_rng(seed)
        self.groups = [(s, i) for s in range(1, secs + 1) for i in range(1, intervals + 1)]
        self.n_bars = n_bars
        total = n_bars + n_extra
        self.values = {g: _bars(rng, total) for g in self.groups}
        self.adj: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for s in range(1, secs + 1):
            if not adj_events:
                break
            # event times fall on bar times or between them, so the
            # forward rule "first event strictly after tm" is exercised
            # at equality as well
            t = np.sort(
                rng.choice(np.arange(1, 2 * n_bars), adj_events, replace=False)
            )
            times = T0 + t * (BAR_S // 2)
            self.adj[s] = (
                times,
                rng.choice(_FACTORS, adj_events),
                rng.choice(_FACTORS, adj_events),
            )

    # -- rows the benchmark sends -------------------------------------
    def rows(self, group: tuple[int, int], lo: int, hi: int) -> list[tuple]:
        """Insert arguments for bars ``[lo, hi)`` of ``group``."""
        sec, itv = group
        vals = self.values[group][lo:hi].tolist()
        return [(sec, itv, bar_tm(lo + k), *v) for k, v in enumerate(vals)]

    def adj_rows(self) -> list[tuple]:
        return [
            (s, int(t), float(px), float(vol))
            for s, (times, pxs, vols) in self.adj.items()
            for t, px, vol in zip(times, pxs, vols)
        ]

    # -- replies the benchmark expects --------------------------------
    def expect(self, group: tuple[int, int], lo: int, hi: int, reverse: bool = False) -> list[tuple]:
        """``select *`` reply for bars ``[lo, hi)``: timestamps as the
        wire's ``(sec, nsec)`` cells, rows in PK order."""
        sec, itv = group
        vals = self.values[group][lo:hi].tolist()
        rows = [(sec, itv, (bar_tm(lo + k), 0), *v) for k, v in enumerate(vals)]
        return rows[::-1] if reverse else rows

    def forward_factor(self, sec: int, lo: int, hi: int) -> np.ndarray:
        """Forward price factor of bars ``[lo, hi)``: the product of the
        factors of every event strictly after the bar (adj.go:142-202),
        computed here from the events directly."""
        times, pxs, _ = self.adj[sec]
        suffix = np.append(np.cumprod(pxs[::-1])[::-1], 1.0)
        tms = T0 + np.arange(lo, hi) * BAR_S
        return suffix[np.searchsorted(times, tms, side="right")]

    def expect_adj(self, group: tuple[int, int], lo: int, hi: int) -> list[tuple]:
        """``select tm, adj(close), adj(v)`` reply. The reference picks
        the volume factor only for columns named like qty/vol/size, so
        ``v`` takes the price factor, as ``close`` does."""
        f = self.forward_factor(group[0], lo, hi)
        vals = self.values[group][lo:hi]
        close = (vals[:, 3] * f).tolist()
        v = (vals[:, 4] * f).tolist()
        return [((bar_tm(lo + k), 0), c, x) for k, (c, x) in enumerate(zip(close, v))]


def check(rows, expected: list[tuple], n_pk: int) -> str | None:
    """Compare a reply with the model: row count, primary keys in order,
    then every cell. Returns what is wrong, or None."""
    if rows is None or len(rows) != len(expected):
        return f"row count {None if rows is None else len(rows)} != {len(expected)}"
    if [r[:n_pk] for r in rows] != [e[:n_pk] for e in expected]:
        return "primary keys differ from the model (order or values)"
    if list(map(tuple, rows)) != expected:
        return "cells differ from the model"
    return None
