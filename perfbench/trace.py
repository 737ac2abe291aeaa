"""Spans at the program's layer boundaries, recorded from outside.

:func:`install` wraps public functions of ``client``, ``server``,
``wire_bson``/``wire_packed``, ``dialect``, ``engine``, ``table``,
``operators.adj`` and Spark's ``DataFrame.toArrow`` in place; the
program's files are untouched. Install before the server and connection
are built: both bind their codec functions when they are made.

A span is ``[name, start, end, parent, op, count]``. The parent is the
enclosing span on the same thread; a span that starts on a thread with no
open span (the server's pool thread, the client's receive thread) takes
the current op's root span as parent. Ops run one at a time, so that is
always the op that caused it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.root: list | None = None
        self._tls = threading.local()
        self._patched: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin_op(self, op_id: int, kind: str) -> None:
        self.root = [kind, time.perf_counter(), None, None, op_id, 0]
        self.spans.append(self.root)

    def end_op(self) -> None:
        self.root[2] = time.perf_counter()
        self.root = None

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a function that records a span
        named ``name`` around each call; ``count(args)`` adds a number to
        the span (bytes sent, for instance)."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            root = tracer.root
            parent = stack[-1] if stack else root
            n = count(args) if count else 0
            rec = [
                name, time.perf_counter(), None, parent,
                root[4] if root is not None else None, n,
            ]
            tracer.spans.append(rec)
            stack.append(rec)
            try:
                return orig(*args, **kwargs)
            finally:
                rec[2] = time.perf_counter()
                stack.pop()

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        """Put back every function :meth:`wrap` replaced."""
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------
    def op_spans(self) -> dict[int, list[list]]:
        by_op = defaultdict(list)
        for s in self.spans:
            if s[4] is not None and s[3] is not None:
                by_op[s[4]].append(s)
        return by_op

    def self_ms(self) -> dict[int, float]:
        """Self time of every span (by ``id``): its duration minus the
        part of it that its child spans cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s[3] is not None:
                kids[id(s[3])].append((s[1], s[2]))
        out = {}
        for s in self.spans:
            covered, end = 0.0, s[1]
            for a, b in sorted(kids.get(id(s), ())):
                a, b = max(a, end), min(b, s[2])
                if b > a:
                    covered += b - a
                    end = b
            out[id(s)] = (s[2] - s[1] - covered) * 1e3
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, parents as indices."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, (name, t0, t1, parent, op, n) in enumerate(self.spans):
                f.write(json.dumps({
                    "i": i, "name": name, "start": t0, "end": t1,
                    "parent": index.get(id(parent)), "op": op, "count": n,
                }) + "\n")


def install(tracer: Tracer, spark) -> None:
    """Wrap every layer boundary the per-layer metrics are made from."""
    from opentick_spark import client, engine, server, table, wire_bson, wire_packed

    w = tracer.wrap
    w(client.TCPConnection, "execute", "client.request")
    w(client.TCPConnection, "batch_insert", "client.request")
    w(client.TCPConnection, "_extract_result", "client.decode")
    w(wire_bson, "dumps", "wire_bson.dumps")
    w(wire_bson, "loads", "wire_bson.loads")
    w(wire_packed, "pack_arrow_table", "wire_packed.pack")
    w(wire_packed, "pack_columns", "wire_packed.pack")
    w(wire_packed, "unpack_columns", "wire_packed.unpack")
    w(server, "unpack_columns", "wire_packed.unpack")
    w(server, "send_frame", "wire.send", count=lambda a: len(a[1]) + 4)
    w(server.OpentickServer, "_dispatch", "server.dispatch")
    w(server._Session, "handle", "server.handle")
    w(engine, "parse", "dialect.parse")
    for fn in ("resolve_select", "resolve_insert", "bind_conds"):
        w(engine, fn, "dialect.resolve")
    w(engine.Engine, "execute_packed_payload", "engine.execute")
    w(engine.Engine, "batch_insert_columns", "engine.execute")
    w(engine, "apply_adj", "adj.plan")
    w(table.TableStore, "read", "table.read_plan", count=lambda a: _log_commits(a[0]))
    w(table.TableStore, "append_columns", "table.append")
    w(table.TableStore, "compact", "table.compact")
    # the session's own DataFrame class: pyspark's public one is abstract
    w(type(spark.range(0)), "toArrow", "spark.collect")


def _log_commits(store) -> int:
    return len(os.listdir(store.log_path))
