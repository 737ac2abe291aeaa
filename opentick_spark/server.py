"""Optional TCP ingress for the engine — the reference's wire surface
re-expressed over the in-process Spark engine.

Protocol (C9, server.go:117-173, 186-207, 288-291): 4-byte little-endian
length prefix + message body. Both of the reference's codecs ship: BSON
(``wire_bson``, the reference default) and JSON, chosen per server with
``protocol=`` and switched per connection by a ``protocol=json`` frame;
the framing layer is codec-agnostic (``_codecs``). Message shape
(server.go:288-331):

    request : {"0": ticket, "1": cmd, "2": sql-or-prepared-id,
               "3": args, "4": async-flag}
    reply   : {"0": ticket, "1": rows-or-error-string}

Rows are lists of lists; timestamp cells are ``[epoch_sec, nanosec]``
pairs exactly like the reference's tuple encoding
(client/opentick.go:278-284). Errors travel as strings in key "1".
Our own client negotiates columnar replies instead: "1c"+"1t" on json
when it sends "8", packed "1p" on bson when it sends "5"
(``_Session._result_reply``).

Heartbeat (C10, server.go:127-139): the server pushes a 1-byte ``H``
frame every ``heartbeat_s``; clients treat it as liveness and never
reply. Dispatch concurrency is bounded (sMaxConcurrency analog,
server.go:245). Each connection gets its OWN :class:`Engine` (session
db + login are per-connection state, server.go:399-439) over the shared
SparkSession + warehouse — the Spark analog of the reference's one
server process over one FDB cluster, which also makes the reference's
FDB connection pool (C12, server.go:21-32) genuinely n/a here.

Scale posture: the server is an *ingress facade*, not the compute path —
every query still executes as a distributed Spark plan; the TCP layer
only carries SQL in and collected client-sized results out.
"""

from __future__ import annotations

import base64
import json
import socket
import struct
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from opentick_spark.engine import Engine
from opentick_spark.errors import OpentickError
from opentick_spark.wire_packed import unpack_columns

_LEN = struct.Struct("<I")


def _dumps(msg: dict) -> bytes:
    return json.dumps(msg, separators=(",", ":")).encode("utf-8")


def _loads(body: bytes) -> dict:
    return json.loads(body.decode("utf-8"))


def _codecs() -> dict:
    from opentick_spark import wire_bson

    # reference default is BSON with a protocol=json switch
    # (server.go:186-207); both ride the same length-prefixed framing
    return {"json": (_dumps, _loads), "bson": (wire_bson.dumps, wire_bson.loads)}


def send_frame(sock: socket.socket, payload: bytes) -> None:
    sock.sendall(_LEN.pack(len(payload)) + payload)


MAX_FRAME = 256 * 1024 * 1024  # corrupt/hostile length prefix guard


def recv_frame(sock: socket.socket) -> bytes | None:
    """Read one length-prefixed frame; None on clean EOF."""
    head = _recv_exact(sock, 4)
    if head is None:
        return None
    (n,) = _LEN.unpack(head)
    if n == 0:
        return b""
    if n > MAX_FRAME:
        raise OSError(f"frame length {n} exceeds MAX_FRAME")
    return _recv_exact(sock, n)


def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


def _jsonable_rows(rows: list[tuple] | None) -> list[list] | None:
    if rows is None:
        return None
    # execute_rows returns timestamp cells as (sec, nsec) tuples; JSON
    # renders tuples as lists — exactly the wire shape the clients expect
    return [list(r) for r in rows]


class _Session:
    """One TCP connection: reader loop, per-connection Engine + prepared
    registry, serialized writes."""

    def __init__(self, server: OpentickServer, sock: socket.socket):
        self.server = server
        self.sock = sock
        self.engine = Engine(
            server.spark,
            server.warehouse,
            permission_control=server.permission_control,
        )
        self.prepared: dict[int, int] = {}  # wire id -> engine prepared id
        self.prepared_sql: dict[int, str] = {}  # wire id -> sql text
        self._next_id = 0
        self._wlock = threading.Lock()
        # per-connection FIFO chain for BATCH commands (r11): the shared
        # dispatch pool is unordered, but pipelined batches promise
        # send-order latest-wins — each batch is scheduled only when its
        # predecessor's completion future resolves (see _dispatch)
        self._batch_tail = None
        self._chain_lock = threading.Lock()
        self.alive = True
        # per-CONNECTION codec, initialized from the server default: the
        # reference serves both protocols on one port — bson unless the
        # client sends a literal "protocol=json" frame
        # (server.go:282-291)
        self.protocol = server.protocol
        self._enc, self._dec = server._enc, server._dec

    def _blob(self, payload: bytes):
        """Codec-shape cached reply bytes for key "2" under THIS
        connection's protocol: BSON carries real binary, JSON base64."""
        if self.protocol == "bson":
            return payload
        return base64.b64encode(payload).decode("ascii")

    def send(self, payload: bytes) -> None:
        with self._wlock:
            send_frame(self.sock, payload)

    def reply(self, ticket: Any, result: Any) -> None:
        self.reply_raw(self._enc({"0": ticket, "1": result}), ticket)

    def reply_raw(self, payload: bytes, ticket: Any = None) -> None:
        # reference reply() guards the frame size and answers with an
        # error string instead of a corrupt length prefix
        # (server.go:197-200 "Results too large"); our receivers also
        # enforce MAX_FRAME, so oversized replies must degrade to errors
        if len(payload) > MAX_FRAME:
            payload = self._enc({"0": ticket, "1": "Results too large"})
        try:
            self.send(payload)
        except OSError:
            self.alive = False

    def run(self) -> None:
        try:
            while self.alive:
                body = recv_frame(self.sock)
                if body is None:
                    break
                if body == b"":
                    continue  # client heartbeat ack / noop
                if body == b"H":
                    # client-initiated heartbeat REQUEST: the reference
                    # answers with an empty frame (server.go:292-295)
                    try:
                        self.send(b"")
                    except OSError:
                        break
                    continue
                try:
                    msg = self._dec(body)
                except Exception:
                    if body == b"protocol=json":
                        # per-connection protocol switch: bson-default
                        # server, json clients announce themselves with
                        # this literal frame (server.go:288-291); no
                        # reply, subsequent frames ride json
                        self.protocol = "json"
                        self._enc, self._dec = _codecs()["json"]
                        continue
                    break  # undecodable frame: drop THIS session only
                self.server._dispatch(self, msg)
        except OSError:
            pass
        finally:
            self.alive = False
            self.server._drop(self)
            try:
                self.sock.close()
            except OSError:
                pass

    # executed on the dispatch pool ------------------------------------
    def handle(self, msg: dict) -> None:
        self.server._bump("n_requests")
        ticket = msg.get("0")
        try:
            cmd = msg.get("1")
            if cmd == "prepare":
                pid = self.engine.prepare(msg["2"])
                self._next_id += 1
                self.prepared[self._next_id] = pid
                self.prepared_sql[self._next_id] = msg["2"]
                self.reply(ticket, self._next_id)
                return
            if cmd == "run":
                self.server._bump("n_run")
                what = msg["2"]
                args = tuple(msg.get("3") or ())
                # Wire-path response cache (reference server.go:341-350 +
                # reply():201-203): PREPARED selects with the client's
                # use-cache flag ("4") are served from a server-level
                # cache of PRE-SERIALIZED replies — a hit sends the
                # stored bytes in key "2" without touching the engine
                # (clients unwrap "2" to the inner reply's "1"). Like
                # the reference, hits are stale within the TTL.
                cache_key = None
                if isinstance(what, int):
                    sql_text = self.prepared_sql.get(what)
                    if (
                        self.server.cache_expiration > 0
                        and msg.get("4")
                        and sql_text is not None
                        and sql_text.lstrip().lower().startswith("select")
                    ):
                        # the reply SHAPE depends on the client's packed
                        # flag ("5") — key it, or a cached packed blob
                        # would be served to a row-shape client
                        # keyed on the CONNECTION protocol too: with the
                        # per-connection switch, one server can hold
                        # bson and json sessions and their serialized
                        # reply bytes are not interchangeable
                        cache_key = (
                            self.protocol,
                            sql_text,
                            repr(args),
                            1 if msg.get("5") else 0,
                            # "8" changes the reply SHAPE ("1t" ns ints)
                            # — a non-"8" client must never be served a
                            # cached "1t" blob
                            1 if msg.get("8") else 0,
                        )
                        hit = self.server._cache_get(cache_key)
                        if hit is not None:
                            self.server._bump("n_cache_hits")
                            self.reply_raw(
                                self._enc(
                                    {"0": ticket, "2": self._blob(hit)}
                                ),
                                ticket,
                            )
                            return
                    what = self._engine_pid(what)
                payload = self._result_reply(ticket, msg, what, args)
                if cache_key is not None:
                    self.server._cache_put(cache_key, payload)
                self.reply_raw(payload, ticket)
                return
            if cmd == "split":
                # extension (r11): SplitRange over the wire. The
                # reference client fans n range sub-queries across n
                # connections and merges client-side
                # (client/opentick.go:63-127, 302-317); here ONE round
                # trip hands the sub-ranges ("7") to the engine, which
                # executes them as a single coalesced scan and returns
                # the merged, PK-ordered, boundary-deduped result in the
                # same reply shapes as "run" (see _result_reply).
                self.server._bump("n_run")
                what = msg["2"]
                if isinstance(what, int):
                    what = self._engine_pid(what)
                ranges = [tuple(r) for r in (msg.get("7") or [])]
                args = tuple(msg.get("3") or ())
                self.reply_raw(
                    self._result_reply(ticket, msg, what, args, ranges), ticket
                )
                return
            if cmd == "batch":
                pid = self._engine_pid(msg["2"])
                # optional key "6" (extension, r10): idempotency token —
                # a client retry after timeout/reconnect resends the
                # same batch with the same token and the server dedups
                # it against the applied-marker log. Reference clients
                # never send "6"; their batches keep at-least-once.
                if msg.get("3p") is not None:
                    # packed-columnar argsArray from our client
                    # (wire_packed.py key "3p"); reference clients send
                    # plain row arrays in "3". Stays COLUMNAR end-to-end
                    # (r11): the payload feeds the engine's columnar bind
                    # directly — no cols→rows→cols double transpose.
                    self.engine.batch_insert_columns(
                        pid,
                        unpack_columns(msg["3p"]),
                        idempotency_key=msg.get("6"),
                    )
                else:
                    rows = [tuple(r) for r in msg.get("3") or []]
                    self.engine.batch_insert(
                        pid, rows, idempotency_key=msg.get("6")
                    )
                self.reply(ticket, None)
                return
            if cmd == "use":
                self.engine.use(msg["2"])
                self.reply(ticket, None)
                return
            if cmd == "login":
                # the reference client space-joins "user password [db]"
                # into key "2" (bindings/python client.py:112-120,
                # parsed server.go:399-427); our own client sends the
                # password separately in "3" — accept both
                if "3" in msg and msg.get("3") is not None:
                    user, pwd, db = msg["2"], msg["3"], None
                else:
                    toks = str(msg.get("2") or "").split(" ")
                    if len(toks) < 2 or not toks[0] or not toks[1]:
                        self.reply(
                            ticket, "Both username and password required"
                        )
                        return
                    user, pwd = toks[0], toks[1]
                    db = toks[2] if len(toks) > 2 else None
                if self.engine.permission_control:
                    self.engine.login(user, pwd)
                if db:
                    self.engine.use(db)
                self.reply(ticket, None)
                return
            if cmd == "meta":
                # reference form: one space-joined string in "2"
                # ("schema bars", "chgpasswd pw" — server.go:440-441);
                # our client's form: sub in "2", arg in "3"
                if "3" in msg and msg.get("3") is not None:
                    sub, arg = msg.get("2"), msg.get("3")
                else:
                    toks = str(msg.get("2") or "").split(" ", 1)
                    sub = toks[0] if toks and toks[0] else None
                    arg = toks[1] if len(toks) > 1 else None
                    if not sub:
                        self.reply(ticket, "Please specify meta command")
                        return
                self.reply(ticket, self._meta(sub, arg))
                return
            self.reply(ticket, f"Unknown command: {cmd!r}")
        except OpentickError as e:
            self.server._bump("n_errors")
            self.reply(ticket, str(e))
        except Exception as e:  # wire must answer every ticket
            self.server._bump("n_errors")
            self.reply(ticket, f"{type(e).__name__}: {e}")

    def _result_reply(
        self, ticket: Any, msg: dict, what: Any, args: tuple, ranges=None
    ) -> bytes:
        """The encoded reply to a ``run``/``split``, in one of three
        shapes:

        - a json session that sent "8" gets column lists in "1c", with
          timestamp columns as raw epoch-ns ints whose positions ride in
          "1t" (the client divmods them — no per-cell server loop);
        - a bson session that sent "5" gets the packed-columnar "1p"
          payload (wire_packed.py), built straight from Arrow buffers;
        - everyone else — the reference clients, which send neither
          flag — gets the reference row shape in "1", timestamp cells as
          [sec, nsec] (server.go:186-207; tests/test_wire_golden.py)."""
        eng = self.engine
        if self.protocol == "json" and msg.get("8"):
            cols, ts_idx = eng.execute_columns_ns(what, *args, ranges=ranges)
            reply = {"0": ticket, "1c": cols}
            if ts_idx:
                reply["1t"] = ts_idx
        elif self.protocol == "bson" and msg.get("5"):
            reply = {
                "0": ticket,
                "1p": eng.execute_packed_payload(what, *args, ranges=ranges),
            }
        else:
            rows = eng.execute_rows(what, *args, ranges=ranges)
            reply = {"0": ticket, "1": _jsonable_rows(rows)}
        return self._enc(reply)

    def _engine_pid(self, wire_id: int) -> int:
        try:
            return self.prepared[wire_id]
        except KeyError:
            raise OpentickError("Invalid prepared statement id") from None

    def _meta(self, sub: str, arg: Any):
        if sub == "list_databases":
            return self.engine.list_databases()
        if sub == "list_tables":
            return self.engine.list_tables()
        if sub == "storage_stats":
            st = self.engine.store(self.engine.current_db, arg).storage_stats()
            return [[k, st[k]] for k in sorted(st)]
        if sub == "server_stats":
            st = self.server.server_stats()
            return [[k, st[k]] for k in sorted(st)]
        if sub == "schema":
            # reference reply shape: [[ [name,type]... keys ],
            # [ [name,type]... values ]] (server.go:461-477) — the same
            # nested shape the in-process client's schema() returns
            if not arg:
                raise OpentickError("Please specify table name")
            keys, vals = self.engine.table_meta(self.engine.current_db, arg)
            return [
                [[n, t] for n, t in keys],
                [[n, t] for n, t in vals],
            ]
        if sub == "chgpasswd":
            if not arg:
                raise OpentickError("Please specify new password")
            self.engine.chgpasswd(arg)
            return None
        if sub == "reload_users":
            self.engine.reload_users()
            return None
        raise OpentickError(f"Invalid meta command: {sub!r}")


class OpentickServer:
    """Threaded length-prefixed TCP server (BSON or JSON bodies, see
    ``_codecs``) over one SparkSession."""

    def __init__(
        self,
        spark,
        warehouse: str,
        host: str = "127.0.0.1",
        port: int = 0,
        max_concurrency: int = 100,
        heartbeat_s: float = 10.0,
        permission_control: bool = False,
        protocol: str = "json",
        cache_expiration: float = 0.0,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.host = host
        self._port = port
        try:
            self._enc, self._dec = _codecs()[protocol]
        except KeyError:
            raise ValueError(f"Unknown protocol: {protocol!r}") from None
        self.protocol = protocol
        self.heartbeat_s = heartbeat_s
        self.permission_control = permission_control
        # --cache N: server-level TTL cache of pre-serialized replies for
        # prepared selects (reference --cache flag, main.go:14 +
        # server.go:27,39); 0 disables
        self.cache_expiration = cache_expiration
        self._resp_cache: dict[tuple, tuple[float, bytes]] = {}
        self._cache_lock = threading.Lock()
        # observability counters served by the server_stats meta command
        self._stats_lock = threading.Lock()
        self._stats = {
            "n_requests": 0,
            "n_run": 0,
            "n_cache_hits": 0,
            "n_errors": 0,
            "started_at_s": int(time.time()),
        }
        self._pool = ThreadPoolExecutor(max_workers=min(max_concurrency, 64))
        self._gate = threading.Semaphore(max_concurrency)
        self._sessions: set[_Session] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._listener: socket.socket | None = None

    # -- lifecycle -----------------------------------------------------
    @property
    def port(self) -> int:
        return self._port

    def start(self) -> OpentickServer:
        self._listener = socket.create_server(
            (self.host, self._port), reuse_port=False
        )
        self._port = self._listener.getsockname()[1]
        threading.Thread(target=self._accept_loop, daemon=True).start()
        threading.Thread(target=self._heartbeat_loop, daemon=True).start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._listener is not None:
            try:
                self._listener.close()
            except OSError:
                pass
        with self._lock:
            sessions = list(self._sessions)
        for s in sessions:
            try:
                s.sock.close()
            except OSError:
                pass
        self._pool.shutdown(wait=False)

    # -- internals -----------------------------------------------------
    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                sock, _ = self._listener.accept()
            except OSError:
                return
            sess = _Session(self, sock)
            with self._lock:
                self._sessions.add(sess)
            threading.Thread(target=sess.run, daemon=True).start()

    def _heartbeat_loop(self) -> None:
        while not self._stop.wait(self.heartbeat_s):
            with self._lock:
                sessions = list(self._sessions)
            for s in sessions:
                try:
                    s.send(b"H")
                except OSError:
                    s.alive = False

    def _dispatch(self, sess: _Session, msg: dict) -> None:
        self._gate.acquire()

        if msg.get("1") == "batch":
            # per-connection SEND-ORDER serialization for batches (r11):
            # the pool itself is unordered, so each batch is submitted
            # only when its predecessor's completion future resolves —
            # FIFO without parking a worker. Reads ("run"/meta) keep the
            # fully concurrent path (the async-fanout scan shape depends
            # on it); the reference server likewise races everything and
            # lets FDB arbitrate, but OUR latest-wins log makes commit
            # order user-visible, so pipelined batch upserts need this.
            from concurrent.futures import Future as _CF

            done: _CF = _CF()

            def run_batch():
                try:
                    sess.handle(msg)
                finally:
                    self._gate.release()
                    done.set_result(None)

            with sess._chain_lock:
                prev = sess._batch_tail
                sess._batch_tail = done
                if prev is None:
                    self._pool.submit(run_batch)
                else:
                    prev.add_done_callback(
                        lambda _f: self._pool.submit(run_batch)
                    )
            return

        def work():
            try:
                sess.handle(msg)
            finally:
                self._gate.release()

        self._pool.submit(work)

    def _drop(self, sess: _Session) -> None:
        with self._lock:
            self._sessions.discard(sess)

    # -- wire response cache -------------------------------------------
    def _bump(self, key: str, n: int = 1) -> None:
        with self._stats_lock:
            self._stats[key] += n

    def server_stats(self) -> dict:
        with self._stats_lock:
            st = dict(self._stats)
        st["n_connections"] = len(self._sessions)
        st["n_cached_replies"] = len(self._resp_cache)
        return st

    def _cache_get(self, key: tuple) -> bytes | None:
        with self._cache_lock:
            hit = self._resp_cache.get(key)
            if hit is None:
                return None
            expiry, payload = hit
            if time.time() >= expiry:
                del self._resp_cache[key]
                return None
            return payload

    def _cache_put(self, key: tuple, payload: bytes) -> None:
        """Store ``payload`` for ``cache_expiration`` seconds. Expired
        entries are swept lazily: once the cache holds more than 4096
        entries, each put first drops the expired ones, so distinct
        queries cannot grow it without bound."""
        with self._cache_lock:
            now = time.time()
            if len(self._resp_cache) > 4096:
                for k in [
                    k for k, (exp, _) in self._resp_cache.items() if now >= exp
                ]:
                    del self._resp_cache[k]
            self._resp_cache[key] = (now + self.cache_expiration, payload)


def main(argv: list[str] | None = None) -> None:
    """CLI server launcher — the reference's ``main/main.go:9-27`` flag
    surface re-expressed for the Spark engine: ``--addr`` listen address,
    ``--warehouse`` storage root (the FDB-cluster-file analog),
    ``--max_concurrency`` dispatch bound, ``--timeout`` heartbeat
    seconds, ``--cache`` response-cache TTL (0 = off),
    ``--permission_control``, ``--protocol`` bson (reference default) or
    json. Prints one machine-readable ready line once listening."""
    import argparse
    import tempfile

    p = argparse.ArgumentParser(prog="python -m opentick_spark.server")
    p.add_argument(
        "--addr", default="0.0.0.0:1116", help="tcp listen address host:port"
    )
    p.add_argument(
        "--warehouse",
        default=None,
        help="table storage root directory (created if missing; "
        "default: a fresh temp dir)",
    )
    p.add_argument(
        "--max_concurrency",
        type=int,
        default=100,
        help="max concurrently dispatched requests",
    )
    p.add_argument(
        "--timeout",
        type=int,
        default=30,
        help="client heartbeat interval in seconds",
    )
    p.add_argument(
        "--cache",
        type=float,
        default=0.0,
        help="cache expiration time in seconds, 0 means no cache",
    )
    p.add_argument(
        "--permission_control", action="store_true",
        help="turn on permission control",
    )
    p.add_argument(
        "--protocol", choices=["bson", "json"], default="bson",
        help="wire codec (reference default: bson)",
    )
    args = p.parse_args(argv)

    host, _, port_s = args.addr.rpartition(":")
    if not host:
        host, port_s = args.addr, "1116"
    warehouse = args.warehouse or tempfile.mkdtemp(prefix="otspark_wh_")

    import os

    from opentick_spark.session import get_spark

    # long-lived server session: hours of accumulated shuffle/broadcast
    # state NEEDS the periodic-GC cleanup cadence (unlike the short bench
    # run, where it was the r3 regression — PLANS.md session-sizing
    # matrix); 5min keeps the ContextCleaner fed without the 45s
    # stop-the-world density. Env override still wins.
    extra = (
        {}
        if os.environ.get("SPARK_GRAFT_PERIODIC_GC")
        else {"spark.cleaner.periodicGC.interval": "5min"}
    )
    spark = get_spark(app_name="opentick_spark_server", extra_conf=extra)
    server = OpentickServer(
        spark,
        warehouse,
        host=host,
        port=int(port_s),
        max_concurrency=args.max_concurrency,
        heartbeat_s=float(args.timeout),
        permission_control=args.permission_control,
        protocol=args.protocol,
        cache_expiration=args.cache,
    ).start()
    # machine-readable ready line (tests and process supervisors key on it)
    print(
        f"OPENTICK_SPARK_LISTENING {server.host} {server.port} "
        f"protocol={server.protocol} warehouse={warehouse}",
        flush=True,
    )
    try:
        server._stop.wait()
    except KeyboardInterrupt:
        pass
    finally:
        server.stop()


if __name__ == "__main__":
    main()
