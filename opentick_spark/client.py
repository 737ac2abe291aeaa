"""Drop-in client facade mirroring the reference Python client's API
(bindings/python/opentick/client.py) over the in-process Spark engine.

A reference user's call sites keep working:

    conn = opentick_spark.client.connect(db_name="test", spark=spark,
                                         warehouse="/path")
    fut = conn.execute_async("insert into t(...) values(?, ?)", (1, tm))
    fut.get()
    rows = conn.execute("select * from t where sec=?", (1,))
    conn.batch_insert(sql, args_array, batch_size=10000)

Differences by construction (Spark is the server — no TCP):
- ``addr``/``port`` are accepted and ignored; the "connection" owns a
  SparkSession + warehouse path instead of a socket.
- ``login`` without permission control succeeds unconditionally (the
  reference grants admin to localhost connections, user.go:29-83 /
  server.go:106-110); with ``permission_control=True`` it authenticates
  against ``_meta_.user`` and ACLs are enforced (C7, users.py).
- async execution is a thread pool of 32 (the reference bounds
  concurrency to 100 in-flight requests per connection, server.go:245);
  results resolve through the same engine.

Timestamps: args may be naive-UTC ``datetime`` (like the reference
client, client.py:292-299); result timestamp columns come back as
``datetime`` (reference sniffing behavior, client.py:467-476).
"""

from __future__ import annotations

import datetime as _dt
import tempfile
import threading
from concurrent.futures import Future as CFuture
from concurrent.futures import InvalidStateError
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as _FutTimeout
from typing import Any, Iterable

from opentick_spark.engine import Engine, split_range  # noqa: F401 (re-export)
from opentick_spark.errors import OpentickError as Error


class Future:
    """Result handle matching the reference Future API: ``get(timeout)``
    returns rows or raises ``Error('Timeout')`` (test.py:64-66)."""

    def __init__(self, fut):
        self._fut = fut

    def get(self, timeout: float | None = None):
        try:
            return self._fut.result(timeout)
        except _FutTimeout:
            raise Error("Timeout") from None


class _Bundle:
    """ONE shared completion for every row of one group-commit bundle
    (r15): the engine lands a bundle as a single atomic commit, so all
    of its rows resolve identically — one Event + one outcome replaces
    a ``concurrent.futures.Future`` per row (the async-firehose profile
    showed per-row future alloc/lock/set_result as pure overhead: 100k
    futures per second all resolving together). Durability contract
    unchanged: ``wait`` returns only once the row's commit published."""

    __slots__ = ("_evt", "_exc")

    def __init__(self):
        self._evt = threading.Event()
        self._exc = None

    def resolve(self, exc=None) -> None:
        self._exc = exc
        self._evt.set()

    def wait(self, timeout: float | None):
        # fast path: resolved bundles skip the Event lock entirely
        if not self._evt.is_set() and not self._evt.wait(timeout):
            raise Error("Timeout")
        if self._exc is not None:
            raise self._exc
        return None


class _BundleFuture(Future):
    """Future facade over a shared :class:`_Bundle` (same ``get``
    contract as the per-row future it replaces)."""

    __slots__ = ("_fut",)

    def __init__(self, bundle: _Bundle):
        self._fut = bundle

    def get(self, timeout: float | None = None):
        return self._fut.wait(timeout)


class _GroupCommitBuffer:
    """Group commit for the async single-row insert firehose: the
    reference's clients fire 100k independent ``insert`` futures
    (test.py:44-61) and FDB coalesces them into batched commits. Here,
    async inserts enqueue rows per prepared statement and a flusher
    thread lands each bundle as ONE atomic commit, resolving the
    bundle's shared completion afterwards — same durability contract
    (a future resolves only once its row is committed), ~1000× fewer
    files than commit-per-row."""

    #: a bundle flushes at this many rows, or after ``FLUSH_S``
    MAX_ROWS = 10_000
    FLUSH_S = 0.002

    def __init__(self, engine: Engine):
        self._engine = engine
        # pid -> (rows list, shared _Bundle for the rows queued in the
        # current flush window)
        self._pending: dict[int, tuple[list, _Bundle]] = {}
        self._lock = threading.Lock()
        self._wake = threading.Event()
        self._stop = False
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def submit(self, pid: int, args: tuple) -> _Bundle:
        with self._lock:
            entry = self._pending.get(pid)
            if entry is None:
                entry = ([], _Bundle())
                self._pending[pid] = entry
            entry[0].append(args)
            n = len(entry[0])
        if n >= self.MAX_ROWS:
            self._wake.set()
        return entry[1]

    def _flush(self) -> None:
        with self._lock:
            batches = self._pending
            self._pending = {}
        for pid, (rows, bundle) in batches.items():
            try:
                self._engine.batch_insert(pid, rows)
                bundle.resolve()
            except Exception as e:  # resolve the bundle with the error
                bundle.resolve(e)

    def _run(self) -> None:
        while not self._stop:
            self._wake.wait(self.FLUSH_S)
            self._wake.clear()
            self._flush()

    def close(self) -> None:
        self._stop = True
        self._wake.set()
        self._thread.join()
        self._flush()


def _merge_perm(existing: str, perm) -> str:
    """Reference update_user perm semantics (bindings/python/opentick/
    client.py:144-166): a str replaces the perm string outright; a dict
    merges into the existing mapping — None deletes a key, 'read'/'write'
    sets it, anything else raises. Example:
    ``{'db1': 'write', 'db2': None}``."""
    if isinstance(perm, str):
        return perm
    cur: dict[str, str] = {}
    for part in (existing or "").split(";"):
        kv = part.split("=")
        if len(kv) == 2:
            cur[kv[0]] = kv[1]
    for k, v in perm.items():
        if v is None:
            cur.pop(k, None)
        elif v in ("read", "write"):
            cur[k] = v
        else:
            raise Error(f"Invalid perm type: {v}")
    return ";".join(f"{k}={v}" for k, v in cur.items())


def _update_user_rows(select_rows, perm, is_admin):
    """Shared update_user core: mutate the selected _meta_.user row per
    the reference semantics, returning the upsert args."""
    if not select_rows:
        raise Error("User not exist")
    name, password, cur_admin, cur_perm = select_rows[0]
    new_perm = _merge_perm(cur_perm, perm) if perm is not None else cur_perm
    new_admin = cur_admin if is_admin is None else bool(is_admin)
    return (name, password, new_admin, new_perm)


def _chunked(args_array: list, batch_size: int, idempotency_key: str | None):
    """Yield ``(chunk, chunk_key)`` pairs for chunked batch sends. The
    chunk GEOMETRY is part of the derived key (``key#batch_size#n``): a
    retry with a different batch_size re-applies (safe: latest-wins
    upserts) instead of a stale chunk-index hit silently skipping rows
    the first attempt never committed."""
    for n, i in enumerate(range(0, len(args_array), batch_size)):
        key = (
            f"{idempotency_key}#{batch_size}#{n}" if idempotency_key else None
        )
        yield args_array[i : i + batch_size], key


class Connection:
    def __init__(
        self,
        spark,
        warehouse: str,
        db_name: str | None = None,
        permission_control: bool = False,
    ):
        self._engine = Engine(spark, warehouse, permission_control=permission_control)
        self._pool = ThreadPoolExecutor(max_workers=32)
        self._buffer = _GroupCommitBuffer(self._engine)
        # sql text → prepared-insert pid (positive decisions only; see
        # execute_async)
        self._insert_pids: dict[str, int] = {}
        if db_name:
            self._engine.use(db_name)

    # -- session ------------------------------------------------------
    def start(self):  # parity no-op (reference spawns the recv thread)
        return self

    def is_connected(self) -> bool:
        return True

    def close(self) -> None:
        self._buffer.close()
        self._pool.shutdown(wait=True)

    def login(self, username: str, password: str, db_name: str | None = None):
        """Authenticate against _meta_.user (no-op success when the
        engine runs without permission control, mirroring the implicit
        localhost-admin grant, server.go:106-110)."""
        if self._engine.permission_control:
            self._engine.login(username, password)
        if db_name:
            self._engine.use(db_name)
        return True

    def use(self, db_name: str) -> None:
        self._engine.use(db_name)

    # -- user management (C7: user.go + server.go meta commands) -------
    def create_user(
        self, name: str, password: str, is_admin: bool = False, perm: str = ""
    ) -> None:
        self._engine.create_user(name, password, is_admin, perm)

    def chgpasswd(self, new_password: str) -> None:
        self._engine.chgpasswd(new_password)

    def reload_users(self) -> None:
        self._engine.reload_users()

    def delete_user(self, username: str) -> None:
        """Reference client parity (client.py:122-124): user rows live
        in the ordinary ``_meta_.user`` PK table, so deletion is plain
        SQL + a reload of the in-process user map."""
        self._engine.execute("delete from _meta_.user where name=?", username)
        self._engine.reload_users()

    def update_user(self, username: str, perm=None, is_admin=None) -> None:
        """Reference client parity (client.py:144-166): read the user's
        row, merge ``perm`` (str replaces; dict merges — None deletes a
        key, 'read'/'write' sets), optionally flip ``is_admin``, and
        upsert the row back (S7 insert-as-upsert)."""
        row = _update_user_rows(
            self._engine.execute_rows(
                "select * from _meta_.user where name=?", username
            ),
            perm, is_admin,
        )
        self._engine.execute("insert into _meta_.user values(?, ?, ?, ?)", *row)
        self._engine.reload_users()

    def set_auto_reconnect(self, interval) -> None:
        return  # parity no-op: in-process transport cannot disconnect

    def list_users(self) -> list[str]:
        if not self._engine.users.users:
            self._engine.users.load()
        return sorted(self._engine.users.users)

    # -- meta ----------------------------------------------------------
    def list_databases(self) -> list[str]:
        return self._engine.list_databases()

    def list_tables(self) -> list[str]:
        return self._engine.list_tables()

    def schema(self, table_name: str):
        return self._engine.table_meta(self._engine.current_db, table_name)

    # -- execution -----------------------------------------------------
    @staticmethod
    def _cols_out(cols_ts):
        """Rows from the engine's ``(cols, ts_idx)`` result: timestamp
        columns arrive as raw epoch-ns ints at the positions ``ts_idx``
        names, so only those columns are converted (one datetime per ts
        cell) before the one transpose. EPOCH + timedelta(s, µs) ≡
        fromtimestamp(s, UTC) + µs for integer seconds."""
        cols, ts_idx = cols_ts
        if cols is None:
            return None
        epoch = _dt.datetime(1970, 1, 1)
        for i in ts_idx:
            cols[i] = [
                None
                if v is None
                else epoch
                + _dt.timedelta(
                    seconds=v // 1_000_000_000,
                    microseconds=(v % 1_000_000_000) // 1000,
                )
                for v in cols[i]
            ]
        return list(zip(*cols))

    @staticmethod
    def _inband_ranges(args: list):
        """Reference calling convention (client.py:204-218): when the
        LAST arg is a sequence of sequences, it is the SplitRange list
        — e.g. ``execute(sql, [1, split_range(a, b, 10)])``. Timestamp
        pair args ([sec, nsec]) never match: their first element is an
        int."""
        if (
            args
            and isinstance(args[-1], (list, tuple))
            and len(args[-1])
            and isinstance(args[-1][0], (list, tuple))
        ):
            return list(args[-1]), list(args[:-1])
        return None

    def execute(self, sql: str, args: Iterable[Any] = (), cache: bool = True):
        # ``cache`` accepted for signature parity (client.py:204); the
        # response cache is the server's --cache, on the wire path only
        args = list(args)  # materialize ONCE: args may be a one-shot iterator
        split = self._inband_ranges(args)
        if split is not None:
            return self.execute_split(sql, split[0], split[1])
        return self._cols_out(self._engine.execute_columns_ns(sql, *args))

    def execute_async(
        self, sql: str, args: Iterable[Any] = (), cache: bool = True
    ) -> Future:
        args = list(args)  # materialize ONCE: args may be a one-shot iterator
        split = self._inband_ranges(args)
        if split is not None:
            return Future(
                self._pool.submit(self.execute_split, sql, split[0], split[1])
            )
        args = tuple(args)
        # single-row inserts ride the group-commit buffer (the async
        # firehose path); everything else runs on the pool. The
        # sql → insert-pid decision is memoized on the connection (r15:
        # the firehose calls this 100k×/s — engine.prepare's lock and
        # the resolver isinstance are per-STATEMENT work, not per-row;
        # only POSITIVE insert decisions are cached, so a statement
        # that fails to prepare now but becomes valid later still
        # resolves correctly on every call)
        pid = self._insert_pids.get(sql)
        if pid is not None:
            return _BundleFuture(self._buffer.submit(pid, args))
        try:
            pid = self._engine.prepare(sql)
            from opentick_spark.dialect.resolver import ResolvedInsert

            if isinstance(self._engine._prepared[pid][1], ResolvedInsert):
                self._insert_pids[sql] = pid
                return _BundleFuture(self._buffer.submit(pid, args))
        except Error:
            pass  # non-preparable (DDL etc.) → pool
        return Future(self._pool.submit(self.execute, sql, args))

    def prepare(self, sql: str) -> int:
        return self._engine.prepare(sql)

    def execute_split(
        self, sql: str | int, ranges: list[tuple], args: Iterable[Any] = ()
    ):
        """SplitRange (C11) with the reference client's result contract —
        merged, PK-ordered, boundary-deduped rows (client/opentick.go:
        63-127, 302-317) — executed as ONE Spark scan filtered by the
        OR of the coalesced sub-ranges (engine._split_frame) rather
        than n connection-parallel sub-queries. ``ranges`` bind the
        statement's LAST two placeholders, one (lo, hi) pair per
        sub-range."""
        return self._cols_out(
            self._engine.execute_columns_ns(
                sql, *tuple(args), ranges=[tuple(r) for r in ranges]
            )
        )

    def batch_insert(
        self,
        sql: str,
        args_array: list[tuple],
        batch_size: int | None = None,
        idempotency_key: str | None = None,
    ) -> None:
        """``idempotency_key`` (extension, r10): retry-safe batches —
        resending the same batch with the same key is a no-op once the
        original commit published. Chunked sends derive a per-chunk key
        ``<key>#<chunk_size>#<n>`` — the chunk GEOMETRY is part of the
        key, so a retry with a DIFFERENT batch_size re-applies (safe:
        whole-batch latest-wins upserts) instead of a stale chunk-index
        hit silently skipping rows the first attempt never committed.
        Retries dedup exactly when they reuse the same key AND the same
        batch_size over the same rows, within the table's marker-cache
        horizon (``TableStore._MARKER_CACHE_CAP``, default 4096 most
        recent markers — see ``Engine.batch_insert``)."""
        pid = self._engine.prepare(sql)
        batch = batch_size or len(args_array) or 1
        for chunk, key in _chunked(args_array, batch, idempotency_key):
            self._engine.batch_insert(pid, chunk, idempotency_key=key)

    def batch_insert_async(
        self,
        sql: str,
        args_array: list[tuple],
        batch_size: int | None = None,
    ) -> Future:
        return Future(
            self._pool.submit(self.batch_insert, sql, args_array, batch_size)
        )


def connect(
    addr: str = "localhost",
    port: int = 0,
    db_name: str | None = None,
    *,
    spark=None,
    warehouse: str | None = None,
    permission_control: bool = False,
) -> Connection:
    """Reference-shaped constructor. ``addr``/``port`` are ignored (no
    TCP); pass ``spark``/``warehouse`` or both are created on demand.
    For an actual wire connection to a running :class:`~opentick_spark.
    server.OpentickServer`, use :func:`connect_tcp`."""
    if spark is None:
        from opentick_spark.session import get_spark

        spark = get_spark(app_name="opentick_client")
    if warehouse is None:
        warehouse = tempfile.mkdtemp(prefix="otspark_client_wh_")
    return Connection(spark, warehouse, db_name, permission_control=permission_control)


class TCPConnection:
    """Wire client for :class:`opentick_spark.server.OpentickServer` —
    the reference client's transport behavior (bindings/python/opentick/
    client.py: recv thread, ticketed futures, heartbeat tolerance
    client.py:364-387, auto-reconnect) over the length-prefixed wire, in
    either codec (``protocol="json"`` or ``"bson"``). API mirrors
    :class:`Connection` where transport-meaningful.
    """

    def __init__(
        self,
        addr: str,
        port: int,
        db_name: str | None = None,
        protocol: str = "json",
        default_timeout: float = 0,
    ):
        from opentick_spark.server import _codecs

        # reference opentick.h:126,171: constructor timeout, 0 = disabled;
        # in callback (result-skip) mode a deadline monitor delivers
        # ([], "timeout") when no reply arrives (opentick.h:544-561)
        self.default_timeout = default_timeout
        # ONE shared deadline monitor (lazy): a Timer-per-request would
        # spawn an OS thread per fire-and-forget call — the result-skip
        # mode exists for exactly the high-call-rate shapes where that
        # hurts (r13 review finding)
        self._deadline_cond = threading.Condition()
        self._deadlines: list = []  # heap of (deadline, seq, fut)
        self._deadline_seq = 0
        self._deadline_thread = None
        self._addr, self._port = addr, port
        self._db = db_name
        self._protocol = protocol
        self._enc, self._dec = _codecs()[protocol]
        # RLock: the reconnect path re-enters _request while holding it
        self._lock = threading.RLock()
        self._futures: dict[int, CFuture] = {}
        self._prepared_sql: dict[str, int] = {}
        # old wire pid -> current wire pid across reconnects: prepared ids
        # are connection-scoped server-side, but callers hold them across
        # reconnects — the reference client keeps ids stable by
        # re-preparing (bindings/python/opentick/client.py reconnect path)
        self._pid_remap: dict[int, int] = {}
        self._ticket = 0
        self._sock = None
        # reference client.py:87,109-111,377-379: seconds between
        # reconnect attempts; < 1 disables auto-reconnect entirely
        self._auto_reconnect = 1
        self._users_ready = False  # _meta_.user bootstrap done once
        self._connect()
        if db_name:
            self.use(db_name)

    # -- transport -----------------------------------------------------
    def _connect(self) -> None:
        import socket as _socket

        from opentick_spark.server import send_frame  # codec-shared

        self._send_frame = send_frame
        self._sock = _socket.create_connection((self._addr, self._port))
        if self._protocol == "json":
            # announce the per-connection protocol switch exactly like
            # the reference's json clients (server.go:288-291) — a
            # bson-default server flips THIS connection to json; a
            # json-configured server treats it as the same no-op switch.
            # Sent on every (re)connect: the switch is per-socket.
            send_frame(self._sock, b"protocol=json")
        # fresh futures dict per socket generation: a dying recv loop must
        # only fail ITS in-flight tickets, never a successor connection's
        self._futures = {}
        self._recv_thread = threading.Thread(
            target=self._recv_loop, args=(self._sock, self._futures), daemon=True
        )
        self._recv_thread.start()

    def _recv_loop(self, sock, futures: dict) -> None:
        from opentick_spark.server import recv_frame

        cause = None
        try:
            while True:
                body = recv_frame(sock)
                if body is None:
                    break
                if body == b"H":  # server heartbeat (C10) — liveness only
                    continue
                if body == b"":  # server ack to client-initiated 'H'
                    continue
                msg = self._dec(body)
                if "2" in msg:
                    # server cache hit: key "2" carries the PRE-SERIALIZED
                    # original reply (BSON: raw bytes; JSON: base64 text —
                    # matching Go json.Marshal of []byte). Unwrap to its
                    # result exactly like the reference client
                    # (bindings/python/opentick/client.py:371-374).
                    blob = msg["2"]
                    if isinstance(blob, str):
                        import base64 as _b64

                        blob = _b64.b64decode(blob)
                    inner = self._dec(blob)
                    inner["0"] = msg.get("0")  # reply under OUR ticket
                    inner.pop("2", None)
                    msg = inner
                fut = futures.pop(msg.get("0"), None)
                if fut is not None and not fut.done():
                    # ownership protocol (r13 ADVICE): whoever POPS the
                    # ticket owns completion. The deadline monitor only
                    # completes a future it successfully popped, so a
                    # successful pop here means no other completer —
                    # but a lost race must still be a dropped reply,
                    # never a recv-loop-killing "protocol bug": an
                    # InvalidStateError from a completer race is NOT a
                    # decode error, and letting it reach the generic
                    # handler below failed every in-flight request on a
                    # healthy connection.
                    try:
                        fut.set_result(self._extract_result(msg))
                    except InvalidStateError:
                        pass  # timeout won the race — drop the reply
        except OSError:
            pass  # orderly shutdown / socket teardown
        except Exception as exc:  # decode/protocol bug — name it
            cause = exc
        finally:
            # drop in-flight futures so callers fail fast instead of
            # hanging until timeout — on ANY exit path. A decode error
            # is surfaced BY NAME on every pending future (a bare
            # "Connection closed" would mask the root cause of a
            # protocol/codec bug — r6 ADVICE). Claim each by POP
            # (popitem is atomic under the GIL) so a concurrently
            # firing deadline can't double-complete — an unguarded
            # set_exception here would abandon the REST of the
            # in-flight futures mid-loop (r13 ADVICE race class).
            err = (
                Error(f"Connection closed (recv loop died: {cause!r})")
                if cause is not None
                else Error("Connection closed")
            )
            while futures:
                try:
                    _, fut = futures.popitem()
                except KeyError:
                    break  # deadline monitor drained the last entry
                if not fut.done():
                    try:
                        fut.set_exception(err)
                    except InvalidStateError:
                        pass  # deadline completed it first

    def _request(self, msg: dict, retried: bool = False) -> CFuture:
        with self._lock:
            if msg.get("1") in ("run", "batch", "split") and isinstance(
                msg.get("2"), int
            ):
                msg["2"] = self._pid_remap.get(msg["2"], msg["2"])
            self._ticket += 1
            msg["0"] = self._ticket
            fut: CFuture = CFuture()
            fut.ot_ticket = msg["0"]  # lets the callback deadline timer
            fut.ot_futures = self._futures  # evict ITS pending entry
            self._futures[msg["0"]] = fut
            try:
                self._send_frame(self._sock, self._enc(msg))
            except OSError:
                self._futures.pop(msg["0"], None)
                if retried or self._auto_reconnect < 1:
                    raise Error("Connection closed") from None
                # auto-reconnect (reference client.py:364-387): fresh
                # socket, prepared ids are connection-scoped → re-prepare
                self._reconnect_locked()
                return self._request(dict(msg), retried=True)
        return fut

    def _rpc_locked(self, msg: dict):
        """Send one request on the fresh socket and wait — used only
        inside the reconnect path (lock already held, no retry)."""
        self._ticket += 1
        fut: CFuture = CFuture()
        self._futures[self._ticket] = fut
        self._send_frame(
            self._sock, self._enc({**msg, "0": self._ticket})
        )
        res = fut.result(30)
        if isinstance(res, str):
            raise Error(res)
        return res

    def _reconnect_locked(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass
        # resolve every pid the caller may still hold to its sql text so
        # it can be re-prepared on the new connection
        old_sql_by_pid: dict[int, str] = {
            pid: sql for sql, pid in self._prepared_sql.items()
        }
        for old_pid, cur_pid in self._pid_remap.items():
            if cur_pid in old_sql_by_pid:
                old_sql_by_pid.setdefault(old_pid, old_sql_by_pid[cur_pid])
        self._prepared_sql.clear()
        self._connect()
        # dispatch is concurrent server-side — the session-db switch must
        # complete before anything else is resent
        if self._db:
            self._rpc_locked({"1": "use", "2": self._db})
        remap: dict[int, int] = {}
        for sql in sorted(set(old_sql_by_pid.values())):
            new_pid = self._rpc_locked({"1": "prepare", "2": sql})
            self._prepared_sql[sql] = new_pid
            for old_pid, s in old_sql_by_pid.items():
                if s == sql:
                    remap[old_pid] = new_pid
        self._pid_remap = remap

    @staticmethod
    def _result(fut: CFuture, timeout: float | None = None):
        try:
            res = fut.result(timeout)
        except _FutTimeout:
            raise Error("Timeout") from None
        if isinstance(res, str):  # errors travel as strings in key "1"
            raise Error(res)
        return res

    # -- session -------------------------------------------------------
    def is_connected(self) -> bool:
        return self._sock is not None

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    def set_auto_reconnect(self, interval) -> None:
        """Reference client parity (client.py:109-111): seconds between
        reconnect attempts; < 1 disables auto-reconnect (a dropped
        connection then fails requests instead of re-preparing)."""
        self._auto_reconnect = interval

    def use(self, db_name: str) -> None:
        self._db = db_name
        self._result(self._request({"1": "use", "2": db_name}))

    def login(self, username: str, password: str, db_name: str | None = None):
        self._result(self._request({"1": "login", "2": username, "3": password}))
        if db_name:
            self.use(db_name)
        return True

    # -- execution -----------------------------------------------------
    def _extract_result(self, msg: dict):
        """Result of a decoded reply: key "1p" carries the packed
        columnar fast path (bson protocol, negotiated by our "5" run
        flag — see wire_packed.py), "1c" the columnar json fast path
        (negotiated by "8"), key "1" the reference row shape or an
        error string."""
        packed = msg.get("1p")
        if packed is not None:
            from opentick_spark.wire_packed import unpack_columns

            return list(zip(*unpack_columns(packed)))
        cols = msg.get("1c")
        if cols is not None:
            # negotiated "1t" (r11): these columns arrived as raw
            # epoch-ns ints — divmod to the (sec, nsec) cell contract
            # (same work the tuple-conversion loop did, minus the
            # server-side conversion and the fatter 2-array encode)
            for i in msg.get("1t") or ():
                cols[i] = [
                    None if v is None else divmod(v, 1_000_000_000)
                    for v in cols[i]
                ]
            return list(zip(*cols))
        return msg.get("1")

    def _rows_in(self, rows):
        if rows is None:
            return None
        if rows and type(rows[0]) is tuple:
            # already materialized by the columnar wire path
            return rows
        return [
            tuple(tuple(v) if isinstance(v, list) else v for v in row)
            for row in rows
        ]

    def prepare(self, sql: str) -> int:
        pid = self._prepared_sql.get(sql)
        if pid is None:
            pid = self._result(self._request({"1": "prepare", "2": sql}))
            self._prepared_sql[sql] = pid
        return pid

    def execute(
        self,
        sql: str | int,
        args: Iterable[Any] = (),
        timeout=60.0,
        cache: bool = True,
    ):
        return self._result(self.execute_async(sql, args, cache)._fut, timeout)

    def execute_async(
        self,
        sql: str | int,
        args: Iterable[Any] = (),
        cache: bool = True,
        callback: Any = None,
    ) -> Future | None:
        """``callback`` mirrors the reference C++ binding's
        ExecuteAsync(sql, args, Callback) result-skip mode
        (bindings/cpp/include/opentick.h:76,86-87,527-545): when given a
        ``callback(rows, err_str)``, the reply is delivered straight to
        it on the receive thread (like Notify, opentick.h:486-507) and
        NEVER parked in a user-held future — returns ``None`` exactly
        as the C++ overload returns an empty Future. Fire-and-forget
        reads therefore hold no per-call result state: the ticket's
        future is popped by the recv loop, the callback consumes the
        rows, and nothing accumulates in ``_futures`` no matter how
        many calls never block for a result. On success the error
        string is ``""``; on a server error or transport failure the
        callback gets ``([], err_str)`` — the C++ signature
        ``Callback(ResultSet, const std::string&)``."""
        # reference in-band SplitRange convention (client.py:204-218):
        # last arg = list of (lo, hi) pairs → the split path
        args = list(args)  # materialize ONCE: args may be a one-shot iterator
        split = Connection._inband_ranges(args)
        if split is not None:
            return self.execute_split_async(
                sql, split[0], split[1], callback=callback
            )
        # "4" is the use-cache flag (Go client always sends 1,
        # client/opentick.go:351); only meaningful for prepared selects
        # on a --cache server
        if isinstance(sql, str) and args:
            # parameterized sql auto-prepares like the reference client
            # (client/opentick.go:340-347) — this is what routes repeat
            # queries through the server's response cache
            sql = self.prepare(sql)
        # "5" advertises packed-columnar reply support (wire_packed.py);
        # a bson server answers with key "1p", json servers ignore it.
        # "8" advertises ns-timestamp columnar replies ("1c"+"1t"); a
        # json server then skips its per-cell (sec,nsec) conversion
        fut = self._request(
            {
                "1": "run", "2": sql, "3": args,
                "4": 1 if cache else 0, "5": 1, "8": 1,
            }
        )
        return self._wrap_reply(fut, self._rows_in, callback=callback)

    def execute_split(
        self,
        sql: str | int,
        ranges: list[tuple],
        args: Iterable[Any] = (),
        timeout=60.0,
    ):
        return self._result(
            self.execute_split_async(sql, ranges, args)._fut, timeout
        )

    def execute_split_async(
        self,
        sql: str | int,
        ranges: list[tuple],
        args: Iterable[Any] = (),
        callback: Any = None,
    ) -> Future | None:
        """SplitRange over the wire (extension cmd "split", r11): the
        reference client opens n connections and merges n sub-scans
        client-side (client/opentick.go:63-127, 302-317); here ONE
        round trip ships the (lo, hi) pairs (key "7") and the server
        executes them as a single coalesced Spark scan, returning the
        merged, PK-ordered, boundary-deduped rows. ``ranges`` bind the
        statement's LAST two placeholders; bounds accept the same value
        forms as query args."""
        args = list(args)
        if isinstance(sql, str):
            sql = self.prepare(sql)  # pid survives reconnect remapping
        fut = self._request(
            {
                "1": "split",
                "2": sql,
                "3": args,
                "5": 1,  # packed-columnar reply support (bson servers)
                "7": [list(r) for r in ranges],
                "8": 1,  # ns-timestamp columnar replies (json servers)
            }
        )
        return self._wrap_reply(fut, self._rows_in, callback=callback)

    def _arm_deadline(self, fut: CFuture, timeout: float) -> None:
        """Register ``fut`` with the shared deadline monitor (one daemon
        thread per connection, started lazily): at the deadline, a
        still-pending future is evicted from its futures-dict generation
        and failed with ``timeout`` — which the callback chain delivers
        as ``([], "timeout")``. A reply that wins the race marks the
        future done; the monitor then just discards the entry (implicit
        cancellation — no per-request timer thread)."""
        import heapq
        import time as _time

        with self._deadline_cond:
            self._deadline_seq += 1
            heapq.heappush(
                self._deadlines,
                (_time.monotonic() + timeout, self._deadline_seq, fut),
            )
            if self._deadline_thread is None:
                self._deadline_thread = threading.Thread(
                    target=self._deadline_loop, daemon=True
                )
                self._deadline_thread.start()
            self._deadline_cond.notify()

    def _deadline_loop(self) -> None:
        import heapq
        import time as _time

        while True:
            with self._deadline_cond:
                while not self._deadlines:
                    self._deadline_cond.wait()
                due_at = self._deadlines[0][0]
                now = _time.monotonic()
                if due_at > now:
                    self._deadline_cond.wait(due_at - now)
                    continue
                _, _, fut = heapq.heappop(self._deadlines)
            if fut.done():
                continue  # reply won — implicit cancel
            with self._lock:
                # evict from the SAME dict generation _request used —
                # a reconnect swaps self._futures. The POP is the
                # ownership claim (r13 ADVICE): the recv loop also
                # claims tickets by pop, so completing a future we did
                # NOT pop would race its set_result between the recv
                # loop's done()-check and the set — the loser's
                # InvalidStateError killed the recv loop (its generic
                # except treated the race as a protocol bug) and failed
                # every in-flight request on a healthy connection. The
                # reference has no such race: its io_service callbacks
                # and reads are serialized (opentick.h:544-561).
                fdict = getattr(fut, "ot_futures", None)
                owner = (
                    fut  # untracked future — the monitor is its only
                    if fdict is None  # completer besides the reply
                    else fdict.pop(getattr(fut, "ot_ticket", None), None)
                )
            if owner is not fut:
                # the recv loop (reply) or its shutdown path popped the
                # ticket first — that completer owns delivery
                continue
            try:
                fut.set_exception(Error("timeout"))
            except InvalidStateError:
                pass  # belt-and-braces: fut was completed out-of-band

    def _wrap_reply(self, fut: CFuture, on_ok, callback=None) -> Future | None:
        """Chain a raw reply future into the user-facing Future: string
        replies are server errors; anything else maps through
        ``on_ok`` (shared by execute_async / batch_insert_async).

        With ``callback`` (the C++ binding's result-skip mode,
        opentick.h:527-545): deliver ``(rows, err_str)`` to it on the
        recv thread instead and return ``None`` — no Future is created,
        so an abandoning caller retains zero result state. When
        ``default_timeout`` > 0, a deadline timer matches the reference
        (opentick.h:544-561): if no reply lands by then, the pending
        entry is evicted and the callback fires with ``([],
        "timeout")`` — without it a dropped reply on a healthy
        connection leaves a fire-and-forget caller uninvoked forever
        (r12 ADVICE)."""
        if callback is not None:
            if self.default_timeout and self.default_timeout > 0:
                self._arm_deadline(fut, self.default_timeout)

            def chain_cb(f):
                # on_ok runs INSIDE the try: a row-materialization
                # error on a malformed reply must still reach the
                # callback as ([], err) — outside it, the exception
                # dies in the done-callback and a fire-and-forget
                # caller waits forever (r12 review finding)
                try:
                    res = f.result()
                    rows = [] if isinstance(res, str) else on_ok(res)
                except Exception as e:
                    callback([], str(e))
                    return
                if isinstance(res, str):
                    callback([], res)
                else:
                    callback(rows, "")

            fut.add_done_callback(chain_cb)
            return None
        wrapped: CFuture = CFuture()

        def chain(f):
            try:
                res = f.result()
            except Exception as e:
                wrapped.set_exception(e)
                return
            if isinstance(res, str):
                wrapped.set_exception(Error(res))
            else:
                wrapped.set_result(on_ok(res))

        fut.add_done_callback(chain)
        return Future(wrapped)

    def batch_insert(
        self,
        sql: str,
        args_array: list[tuple],
        idempotency_key: str | None = None,
        batch_size: int | None = None,
        batch_one_by_one: bool = True,
    ) -> None:
        """``idempotency_key`` (extension, r10, wire key "6"): a retry
        after a timeout/auto-reconnect resends the same batch with the
        same key and the server dedups it against the durable
        applied-marker log — exactly-once ingest over an at-least-once
        transport. Omitted = reference at-least-once semantics.

        ``batch_size`` (reference client.py:229-243): split the rows
        into ``batch_size``-row atomic commits — sequential round trips
        when ``batch_one_by_one`` (the reference default), else
        pipelined in-flight chunks resolved together. A given
        ``idempotency_key`` derives per-chunk keys with the chunk
        GEOMETRY baked in (``key#batch_size#n``, like
        ``Connection.batch_insert``) so a retry with a different
        batch_size re-applies instead of a stale chunk-index hit
        silently skipping rows."""
        if batch_size:
            if batch_one_by_one:
                for chunk, key in _chunked(
                    args_array, batch_size, idempotency_key
                ):
                    self._result(self._batch_request(sql, chunk, key))
                return
            futs = self.batch_insert_async(
                sql, args_array, idempotency_key, batch_size
            )
            for f in futs:
                f.get()
            return
        self._result(self._batch_request(sql, args_array, idempotency_key))

    def batch_insert_async(
        self,
        sql: str,
        args_array: list[tuple],
        idempotency_key: str | None = None,
        batch_size: int | None = None,
    ) -> Future | list[Future]:
        """Pipelined batch insert (r11): returns a Future so the caller
        can keep SERIALIZING the next chunk while the server applies
        this one — the transport is ticketed, so any number of batches
        may be in flight, and the SERVER chains each connection's batch
        commands on the predecessor's completion (server._dispatch), so
        they commit strictly in send order — same latest-wins outcome
        as the sync path (the dispatch pool alone is unordered; reads
        stay fully concurrent). This is the wire-ingest scaling lever
        the sf1.0 drill flagged: sync chunked ingest pays
        serialize→send→apply→reply per chunk end-to-end, pipelined
        ingest overlaps the client CPU with the server apply. Resolve
        every future (``.get()``) before relying on durability —
        mirrors ``Connection.batch_insert_async``.

        ``batch_size`` (reference client.py:245-250): chunk the rows
        and return a LIST of futures, all chunks in flight at once —
        the reference's fan-out shape riding this pipelined transport;
        per-chunk idempotency keys derive as in ``batch_insert``."""
        if batch_size:
            return [
                self.batch_insert_async(sql, chunk, key)
                for chunk, key in _chunked(
                    args_array, batch_size, idempotency_key
                )
            ]
        return self._wrap_reply(
            self._batch_request(sql, args_array, idempotency_key),
            lambda res: None,
        )

    def _batch_request(
        self,
        sql: str,
        args_array: list[tuple],
        idempotency_key: str | None,
    ) -> CFuture:
        pid = self.prepare(sql)
        if (
            self._protocol == "bson"
            and args_array
            and all(len(a) == len(args_array[0]) for a in args_array)
        ):
            # write-side packed columns (key "3p", wire_packed.py): one
            # struct-packed blob per arg column instead of per-cell BSON
            # — the ingest mirror of the "1p" reply path. A ragged batch
            # cannot be columns (zip(*rows) would truncate it), so it
            # goes as "3" rows and gets the server's arity error.
            from opentick_spark.wire_packed import pack_columns

            cols = [list(c) for c in zip(*args_array)]
            req = {"1": "batch", "2": pid, "3p": pack_columns(cols)}
        else:
            req = {"1": "batch", "2": pid, "3": [list(a) for a in args_array]}
        if idempotency_key is not None:
            req["6"] = idempotency_key
        return self._request(req)

    def list_databases(self) -> list[str]:
        return self._result(self._request({"1": "meta", "2": "list_databases"}))

    def list_tables(self) -> list[str]:
        return self._result(self._request({"1": "meta", "2": "list_tables"}))

    def schema(self, table_name: str):
        return self._result(
            self._request({"1": "meta", "2": "schema", "3": table_name})
        )

    def storage_stats(self, table_name: str) -> dict:
        """Layout-health footprint of a table (extension): base/log
        file, row, byte counts, pending commits, lead-PK overlap."""
        rows = self._result(
            self._request({"1": "meta", "2": "storage_stats", "3": table_name})
        )
        return {k: v for k, v in rows}

    def server_stats(self) -> dict:
        """Server observability counters (extension): requests/runs/
        cache hits/errors, uptime anchor, live connections, cached
        replies."""
        rows = self._result(self._request({"1": "meta", "2": "server_stats"}))
        return {k: v for k, v in rows}

    # -- user management over the wire (reference client parity: users
    # are rows of the ordinary _meta_.user PK table, client.py:122-168;
    # reload/chgpasswd are meta commands, server.go:440-441) -----------
    def reload_users(self) -> None:
        self._result(self._request({"1": "meta", "2": "reload_users"}))
        self._users_ready = True

    def _ensure_users(self) -> None:
        """One-time bootstrap: server-side LoadUsers creates _meta_.user
        if absent (the reference runs it at boot, user.go:28-62); later
        calls skip the extra round trip."""
        if not getattr(self, "_users_ready", False):
            self.reload_users()

    def chgpasswd(self, password: str) -> None:
        self._result(
            self._request({"1": "meta", "2": "chgpasswd", "3": password})
        )

    def create_user(
        self, username: str, password: str, is_admin: bool = False,
        perm: str = "",
    ) -> None:
        from opentick_spark.users import sha1_string

        self._ensure_users()
        # cache=False: a read-modify-write must never see a TTL-stale
        # reply-cache row (a recreate after delete would be refused)
        if self.execute(
            "select name from _meta_.user where name=?", (username,),
            cache=False,
        ):
            raise Error("User already exist")
        self.execute(
            "insert into _meta_.user values(?, ?, ?, ?)",
            (username, sha1_string(password), is_admin, perm),
        )
        self.reload_users()

    def delete_user(self, username: str) -> None:
        self._ensure_users()
        self.execute("delete from _meta_.user where name=?", (username,))
        self.reload_users()

    def update_user(self, username: str, perm=None, is_admin=None) -> None:
        """str ``perm`` replaces; dict merges (None deletes a key,
        'read'/'write' sets) — reference client.py:144-166."""
        self._ensure_users()
        # cache=False: merging into a TTL-stale cached row would
        # silently revert grants applied since the cache fill
        row = _update_user_rows(
            self.execute(
                "select * from _meta_.user where name=?", (username,),
                cache=False,
            ),
            perm, is_admin,
        )
        self.execute("insert into _meta_.user values(?, ?, ?, ?)", row)
        self.reload_users()

    def list_users(self) -> list[str]:
        self._ensure_users()
        return sorted(
            r[0]
            for r in self.execute(
                "select name from _meta_.user", cache=False
            )
        )


def connect_tcp(
    addr: str,
    port: int,
    db_name: str | None = None,
    protocol: str = "json",
    default_timeout: float = 0,
) -> TCPConnection:
    """Connect to a running OpentickServer over TCP (C9/C10 wire path).
    ``protocol``: ``"bson"`` (the reference default) or ``"json"`` —
    negotiated per CONNECTION like the reference (server.go:288-291):
    a json client announces itself with a ``protocol=json`` frame, so
    either protocol works against a bson-default server; the server's
    boot protocol only sets the per-connection default.
    ``default_timeout`` (reference Connection ctor parity, opentick.h:
    171): > 0 arms the callback-mode deadline — fire-and-forget calls
    whose reply never arrives get ``([], "timeout")``."""
    return TCPConnection(
        addr, port, db_name, protocol=protocol,
        default_timeout=default_timeout,
    )
