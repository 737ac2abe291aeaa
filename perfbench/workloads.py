"""The three workloads: data sizes, set-up, and the seeded op sequence.

Every workload is a closed loop on one BSON ``TCPConnection`` to an
in-process ``OpentickServer`` with its response cache off (the default).
Commits follow the program's own flush policy, a Parquet write plus
``os.link`` with no fsync; the benchmark adds no flushes.
"""

from __future__ import annotations

import dataclasses
import random
import shutil
import sys
import time

from perfbench import model as M
from perfbench import probes

RANGE_SQL = "select * from test where sec=? and interval=? and tm>=? and tm<?"
TAIL_SQL = "select * from test where sec=? and interval=? limit -100"
ADJ_SQL = (
    "select tm, adj(close), adj(v) from test "
    "where sec=? and interval=? and tm>=? and tm<?"
)
HASH_BUCKETS = 8
INGEST_CHUNK = 10_000  # rows per atomic batch, as in the reference harness
RANGE_BARS = 500
TAIL_BARS = 100
SCAN_BARS = 100_000


@dataclasses.dataclass
class Op:
    kind: str
    group: tuple[int, int]
    lo: int = 0  # first bar (range, adj, scan)
    bar: int = 0  # bar index written (insert) or last bar expected (tail)


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    secs: int
    intervals: int
    bars: int
    adj_events: int
    kinds: tuple[str, ...]
    ops_per_s: float  # nominal rate: --seconds x this = ops in a run

    def n_rounds(self, seconds: int) -> int:
        """Rounds of the op mix in a run: fixed by ``--seconds``, so the
        same arguments always run the same ops. At least 20 ops of every
        type, so each median has ten samples beyond it."""
        return max(20, round(seconds * self.ops_per_s / len(self.kinds)))

    def model(self, seed: int, rounds: int) -> M.TickModel:
        extra = rounds if "insert" in self.kinds else 0
        return M.TickModel(seed, self.secs, self.intervals, self.bars, extra, self.adj_events)

    def ops(self, seed: int, rounds: int) -> list[Op]:
        """The op sequence. ``query_mix`` and ``bulk_scan`` shuffle a fixed
        count of every type, so a box episode hits every type alike;
        ``ingest_read`` alternates an insert of the next bar of every
        security with a tail of one, which must see that bar."""
        rng = random.Random(f"{self.name}/{seed}")
        if "insert" in self.kinds:
            return [
                op
                for k in range(rounds)
                for op in (
                    Op("insert", (1, 1), bar=self.bars + k),
                    Op("tail", self._group(rng), bar=self.bars + k),
                )
            ]
        kinds = [k for k in self.kinds for _ in range(rounds)]
        rng.shuffle(kinds)
        return [self._read(kind, rng) for kind in kinds]

    def warmup_ops(self, seed: int) -> list[Op]:
        """One read of every type the workload runs, on the built table."""
        rng = random.Random(f"{self.name}/{seed}/warmup")
        return [self._read(k, rng) for k in self.kinds if k != "insert"]

    def _group(self, rng: random.Random) -> tuple[int, int]:
        return rng.randint(1, self.secs), rng.randint(1, self.intervals)

    def _read(self, kind: str, rng: random.Random) -> Op:
        if kind == "tail":
            return Op(kind, self._group(rng), bar=self.bars - 1)
        width = SCAN_BARS if kind == "scan" else RANGE_BARS
        return Op(kind, self._group(rng), lo=rng.randrange(self.bars - width + 1))


WORKLOADS = {
    w.name: w
    for w in (
        Workload("query_mix", secs=8, intervals=2, bars=4_000, adj_events=6,
                 kinds=("range", "tail", "adj"), ops_per_s=4.2),
        Workload("bulk_scan", secs=1, intervals=1, bars=110_000, adj_events=0,
                 kinds=("scan",), ops_per_s=2.5),
        Workload("ingest_read", secs=500, intervals=1, bars=100, adj_events=0,
                 kinds=("insert", "tail"), ops_per_s=4.5),
    )
}


class Env:
    """One warehouse: a server on it, one connection, and the model."""

    def __init__(self, spark, wl: Workload, model: M.TickModel, warehouse: str):
        from opentick_spark.client import TCPConnection
        from opentick_spark.engine import Engine
        from opentick_spark.server import OpentickServer

        shutil.rmtree(warehouse, ignore_errors=True)
        self.spark, self.wl, self.model = spark, wl, model
        self.server = OpentickServer(
            spark, warehouse, protocol="bson", heartbeat_s=3600.0
        ).start()
        self.conn = TCPConnection("127.0.0.1", self.server.port, protocol="bson")
        self.admin = Engine(spark, warehouse)  # compaction has no wire command
        self.ledger: probes.DiskLedger | None = None
        self.rows_ingested = 0
        self.live_rows = 0

    def load(self, warm_ops: list[Op]) -> None:
        """Load, compact and warm up; afterwards the table holds
        ``model.n_bars`` bars per group, compacted."""
        c, m = self.conn, self.model
        c.execute("create database bench")
        c.use("bench")
        c.execute(M.CREATE_SQL)
        self.ledger = probes.DiskLedger(self.admin.store("bench", "test").path)
        rows = [r for g in m.groups for r in m.rows(g, 0, m.n_bars)]
        for i in range(0, len(rows), INGEST_CHUNK):
            c.batch_insert(M.INSERT_SQL, rows[i : i + INGEST_CHUNK])
            self.ledger.snap()
        self.rows_ingested = self.live_rows = len(rows)
        if m.adj:
            c.batch_insert(M.ADJ_INSERT_SQL, m.adj_rows())
            self.admin.store("bench", "_adj_").compact(self.spark)
        self.admin.store("bench", "test").compact(self.spark, hash_buckets=HASH_BUCKETS)
        self.ledger.snap()
        if "insert" in self.wl.kinds:
            self._warm_ingest()
        for op in warm_ops:
            self.request(op)()

    def _warm_ingest(self) -> None:
        """Warm the write path and the log-resolving read on a side table,
        so the measured table starts compacted at log depth 0."""
        c, m = self.conn, self.model
        c.execute(M.CREATE_SQL.replace("table test", "table warm"))
        insert = M.INSERT_SQL.replace("into test", "into warm")
        c.batch_insert(insert, m.rows(m.groups[0], 0, TAIL_BARS))
        c.batch_insert(insert, [r for g in m.groups for r in m.rows(g, 0, 1)])
        c.execute(TAIL_SQL.replace("from test", "from warm"), list(m.groups[0]))

    def request(self, op: Op):
        """The op as a call with its arguments already made, so the timing
        covers the request alone."""
        c, (sec, itv) = self.conn, op.group
        if op.kind == "insert":
            rows = [r for g in self.model.groups for r in self.model.rows(g, op.bar, op.bar + 1)]
            self.rows_ingested += len(rows)
            self.live_rows += len(rows)
            return lambda: c.batch_insert(M.INSERT_SQL, rows)
        if op.kind == "tail":
            return lambda: c.execute(TAIL_SQL, [sec, itv])
        hi = op.lo + (SCAN_BARS if op.kind == "scan" else RANGE_BARS)
        args = [sec, itv, M.bar_tm(op.lo), M.bar_tm(hi)]
        sql = ADJ_SQL if op.kind == "adj" else RANGE_SQL
        return lambda: c.execute(sql, args, timeout=180)

    def expect(self, op: Op):
        m = self.model
        if op.kind == "insert":
            return None
        if op.kind == "tail":
            return m.expect(op.group, op.bar + 1 - TAIL_BARS, op.bar + 1, reverse=True)
        if op.kind == "adj":
            return m.expect_adj(op.group, op.lo, op.lo + RANGE_BARS)
        width = SCAN_BARS if op.kind == "scan" else RANGE_BARS
        return m.expect(op.group, op.lo, op.lo + width)

    def close(self) -> None:
        self.conn.close()
        self.server.stop()


def build(spark, wl: Workload, model: M.TickModel, warehouse: str, seed: int,
          times: int) -> tuple[Env, list[float]]:
    """Build the warehouse ``times`` times from scratch; returns the last
    build, still open, and how long each build took."""
    took = []
    for r in range(times):
        t0 = time.perf_counter()
        env = Env(spark, wl, model, warehouse)
        env.load(wl.warmup_ops(seed))
        took.append(time.perf_counter() - t0)
        if r < times - 1:
            env.close()
    return env, took


def _corrupt(rows):
    """Change one cell of a reply, as a damaged frame would."""
    if not rows:
        return [("corrupt",)]
    first = list(rows[0])
    first[-1] = "corrupt"
    return [tuple(first)] + list(rows[1:])


def run_loop(env: Env, ops: list[Op], tracer=None, corrupt_every: int = 0):
    """The measured closed loop. Returns the per-op records and the
    process tree's CPU seconds in the loop; making requests, checking
    replies and counting bytes on disk happen between ops, outside the
    timings and the CPU count."""
    recs = []
    cpu0 = probes.tree_cpu_s()
    aside = 0.0  # CPU seconds of the benchmark's own work between ops
    for i, op in enumerate(ops):
        c0 = time.thread_time()
        call = env.request(op)
        aside += time.thread_time() - c0
        if tracer:
            tracer.begin_op(i, op.kind)
        start = time.time()
        t0 = time.perf_counter()
        err = None
        try:
            rows = call()
        except Exception as e:  # an op that raises counts as failed
            rows, err = None, f"{type(e).__name__}: {e}"
        t1 = time.perf_counter()
        if tracer:
            tracer.end_op()
        c0 = time.thread_time()
        if corrupt_every and (i + 1) % corrupt_every == 0:
            rows = _corrupt(rows)
        if err is None:
            expected = env.expect(op)
            if expected is None:
                err = None if rows is None else f"unexpected reply {rows!r:.80}"
            else:
                err = M.check(rows, expected, 1 if op.kind == "adj" else 3)
        if op.kind == "insert":
            env.ledger.snap()
        if err:
            print(f"perfbench: op {i} {op.kind} failed: {err}", file=sys.stderr)
        recs.append({
            "kind": op.kind, "ms": (t1 - t0) * 1e3, "start": start,
            "ok": err is None, "rows": len(rows) if rows else 0,
        })
        aside += time.thread_time() - c0
    return recs, probes.tree_cpu_s() - cpu0 - aside
