"""Wire-surface tests (C9/C10): length-prefixed JSON protocol, ticketed
futures, per-connection sessions, heartbeat, auto-reconnect — the real
server + real TCP client over localhost, one shared SparkSession."""

import threading
import time

import pytest

from opentick_spark.client import connect_tcp
from opentick_spark.errors import OpentickError


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from opentick_spark.server import OpentickServer

    wh = str(tmp_path_factory.mktemp("wire_wh"))
    srv = OpentickServer(spark, wh, heartbeat_s=0.2).start()
    yield srv
    srv.stop()


@pytest.fixture()
def conn(server):
    c = connect_tcp("127.0.0.1", server.port)
    yield c
    c.close()


def _mkdb(conn, name):
    if name not in conn.list_databases():
        conn.execute(f"create database {name}")
    conn.use(name)


def test_wire_roundtrip(conn):
    _mkdb(conn, "w1")
    conn.execute(
        "create table t(sec int, tm timestamp, px double, primary key(sec, tm))"
    )
    conn.execute("insert into t(sec, tm, px) values(?, ?, ?)", (1, [5, 0], 2.5))
    conn.execute("insert into t(sec, tm, px) values(2, 7, 3.5)")
    rows = conn.execute("select * from t where sec=1")
    # timestamps come back as (epoch_sec, nanosec) pairs like the reference
    assert rows == [(1, (5, 0), 2.5)]
    assert conn.execute("select px from t where sec=2") == [(3.5,)]


def test_wire_prepared_and_batch(conn):
    _mkdb(conn, "w2")
    conn.execute("create table t(a int, v double, primary key(a))")
    pid = conn.prepare("insert into t(a, v) values(?, ?)")
    assert isinstance(pid, int)
    conn.execute(pid, (1, 1.5))
    conn.batch_insert(
        "insert into t(a, v) values(?, ?)", [(2, 2.5), (3, 3.5)]
    )
    sel = conn.prepare("select * from t where a=?")
    assert conn.execute(sel, (2,)) == [(2, 2.5)]
    assert len(conn.execute("select * from t")) == 3


def test_wire_errors_are_strings(conn):
    _mkdb(conn, "w3")
    with pytest.raises(OpentickError, match="Table .* does not exist"):
        conn.execute("select * from missing_table")
    with pytest.raises(OpentickError):
        conn.execute("select bogus syntax here")


def test_wire_async_out_of_order(conn):
    _mkdb(conn, "w4")
    conn.execute("create table t(a int, v int, primary key(a))")
    conn.batch_insert(
        "insert into t(a, v) values(?, ?)", [(i, i * 10) for i in range(20)]
    )
    futs = [conn.execute_async("select v from t where a=?", (i,)) for i in range(20)]
    got = [f.get(60) for f in futs]
    assert got == [[(i * 10,)] for i in range(20)]


def test_wire_session_isolation(server):
    """use/login are per-connection state (server.go:399-439): two
    concurrent connections on different dbs must not interfere."""
    c1 = connect_tcp("127.0.0.1", server.port)
    c2 = connect_tcp("127.0.0.1", server.port)
    try:
        _mkdb(c1, "iso_a")
        _mkdb(c2, "iso_b")
        c1.execute("create table t(a int, primary key(a))")
        c2.execute("create table t(a int, primary key(a))")
        c1.execute("insert into t(a) values(1)")
        c2.execute("insert into t(a) values(2)")
        assert c1.execute("select * from t") == [(1,)]
        assert c2.execute("select * from t") == [(2,)]
        assert sorted(c1.list_tables()) == ["_adj_", "t"]  # auto _adj_ (S10)
    finally:
        c1.close()
        c2.close()


def test_wire_meta_schema(conn):
    _mkdb(conn, "w5")
    conn.execute(
        "create table bars(sec int, tm timestamp, px double, primary key(sec, tm))"
    )
    sch = conn.schema("bars")
    # reference nested shape (server.go:461-477): [[keys], [values]]
    keys, values = sch
    assert ["sec", "int"] in [list(r) for r in keys]
    assert ["px", "double"] in [list(r) for r in values]


def test_wire_heartbeat_liveness(conn):
    """Server pushes 'H' frames every 0.2s; the client must absorb them
    and keep the request/reply stream intact across several beats."""
    _mkdb(conn, "w6")
    conn.execute("create table t(a int, primary key(a))")
    time.sleep(0.7)  # at least 3 heartbeats traverse the socket
    conn.execute("insert into t(a) values(1)")
    time.sleep(0.5)
    assert conn.execute("select * from t") == [(1,)]


def test_wire_client_initiated_heartbeat_empty_ack(conn):
    """r6 ADVICE fix: the server answers a client-initiated 'H' with an
    EMPTY frame (server.go:292-295). The client recv loop must treat
    b'' as a no-op — not feed it to the decoder, which raises a
    non-OSError that used to kill the loop without failing in-flight
    futures (callers then hung until timeout)."""
    _mkdb(conn, "whb")
    conn.execute("create table t(a int, primary key(a))")
    conn._send_frame(conn._sock, b"H")  # provoke the b'' ack
    time.sleep(0.3)  # let the ack traverse the recv loop
    assert conn._recv_thread.is_alive()  # loop survived the empty frame
    conn.execute("insert into t(a) values(1)")
    assert conn.execute("select * from t") == [(1,)]


def test_wire_decode_error_fails_inflight_futures(conn):
    """A decode error in the recv loop must fail in-flight futures fast
    (the `finally` cleanup), never strand them until timeout."""
    from opentick_spark.errors import OpentickError as Error

    _mkdb(conn, "wdec")
    conn.execute("create table t(a int, primary key(a))")
    real_dec = conn._dec
    conn._dec = lambda b: (_ for _ in ()).throw(ValueError("corrupt frame"))
    try:
        fut = conn.execute_async("select * from t")
        with pytest.raises(Error, match="Connection closed"):
            fut.get(10)  # fails fast via finally-cleanup, no 60s hang
    finally:
        conn._dec = real_dec


def test_wire_auto_reconnect(conn):
    """Dropping the socket mid-session must transparently reconnect,
    restore the session db, and re-prepare (connection-scoped ids)."""
    _mkdb(conn, "w7")
    conn.execute("create table t(a int, v int, primary key(a))")
    conn.prepare("insert into t(a, v) values(?, ?)")
    conn._sock.close()  # simulate a dropped connection
    conn.execute("insert into t(a, v) values(1, 10)")  # reconnect + resend
    assert conn.execute("select * from t") == [(1, 10)]


def test_wire_concurrent_clients(server):
    """Bounded-dispatch smoke: 4 threads × 5 inserts through one server,
    all rows land, no cross-talk."""
    c = connect_tcp("127.0.0.1", server.port)
    _mkdb(c, "w8")
    c.execute("create table t(a int, primary key(a))")
    errs = []

    def worker(base):
        try:
            cc = connect_tcp("127.0.0.1", server.port, db_name="w8")
            for i in range(5):
                cc.execute("insert into t(a) values(?)", (base + i,))
            cc.close()
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(b * 100,)) for b in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert len(c.execute("select * from t")) == 20
    c.close()


# -- BSON protocol (the reference's default codec) -------------------------

def test_bson_codec_roundtrip():
    from opentick_spark import wire_bson as B

    msg = {
        "0": 42,
        "1": "run",
        "2": [[1, (5, 0), 2.5, None], [2**40, "s", True, [1.5, -3]]],
        "3": {"nested": {"k": -(2**35)}, "empty": []},
    }
    got = B.loads(B.dumps(msg))
    # tuples encode as BSON arrays → decode as lists
    assert got == {
        "0": 42,
        "1": "run",
        "2": [[1, [5, 0], 2.5, None], [2**40, "s", True, [1.5, -3]]],
        "3": {"nested": {"k": -(2**35)}, "empty": []},
    }


def test_bson_codec_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from opentick_spark import wire_bson as B

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.floats(allow_nan=False),
        # BSON strings are UTF-8: lone surrogates are unencodable by spec
        st.text(st.characters(blacklist_categories=("Cs",))),
        # 0x05 binary (generic subtype) — carries cached-reply blobs
        st.binary(max_size=64),
    )
    values = st.recursive(
        scalars,
        lambda inner: st.one_of(
            st.lists(inner, max_size=4),
            st.dictionaries(
                st.text(
                    st.characters(
                        blacklist_categories=("Cs",),
                        blacklist_characters="\x00",
                    ),
                    min_size=1,
                ),
                inner,
                max_size=4,
            ),
        ),
        max_leaves=10,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.dictionaries(
            st.text(
                st.characters(
                    blacklist_categories=("Cs",), blacklist_characters="\x00"
                ),
                min_size=1,
            ),
            values,
            max_size=5,
        )
    )
    def check(doc):
        assert B.loads(B.dumps(doc)) == doc

    check()


@pytest.fixture(scope="module")
def bson_server(spark, tmp_path_factory):
    from opentick_spark.server import OpentickServer

    wh = str(tmp_path_factory.mktemp("bson_wh"))
    srv = OpentickServer(spark, wh, heartbeat_s=0.2, protocol="bson").start()
    yield srv
    srv.stop()


def test_bson_wire_session(bson_server):
    c = connect_tcp("127.0.0.1", bson_server.port, protocol="bson")
    try:
        _mkdb(c, "bs1")
        c.execute(
            "create table t(sec int, tm timestamp, px double, primary key(sec, tm))"
        )
        c.batch_insert(
            "insert into t(sec, tm, px) values(?, ?, ?)",
            [(1, t, 0.5 + t) for t in range(4)],
        )
        assert c.execute("select px from t where sec=1 and tm=2") == [(2.5,)]
        assert c.execute("select * from t where sec=1 limit -1") == [
            (1, (3, 0), 3.5)
        ]
        with pytest.raises(OpentickError, match="does not exist"):
            c.execute("select * from nope")
        # big int64 values survive the int32/int64 split
        c.execute("create table big(a bigint, v bigint, primary key(a))")
        c.execute("insert into big(a, v) values(?, ?)", (2**40, -(2**50)))
        assert c.execute("select * from big") == [(2**40, -(2**50))]
    finally:
        c.close()


def test_wire_malformed_frame_kills_only_that_session(server):
    """A client sending garbage must lose ITS connection only; the
    server keeps serving other sessions (and a bogus length prefix never
    triggers a giant allocation — MAX_FRAME guard)."""
    import socket as _socket
    import struct

    bad = _socket.create_connection(("127.0.0.1", server.port))
    bad.sendall(struct.pack("<I", 12) + b"not valid js")
    bad2 = _socket.create_connection(("127.0.0.1", server.port))
    bad2.sendall(struct.pack("<I", 2**31 - 1))  # hostile length prefix
    time.sleep(0.3)
    c = connect_tcp("127.0.0.1", server.port)
    try:
        assert isinstance(c.list_databases(), list)  # server still alive
    finally:
        c.close()
        bad.close()
        bad2.close()


def test_bson_binary_element_roundtrip():
    from opentick_spark import wire_bson as B

    doc = {"0": 7, "2": b"\x00\x01\xffraw bytes", "empty": b""}
    assert B.loads(B.dumps(doc)) == doc


def test_oversized_reply_degrades_to_error_string(server, monkeypatch):
    """A reply larger than MAX_FRAME must become a 'Results too large'
    error (reference reply(), server.go:197-200) — never a frame the
    receiver's MAX_FRAME guard would sever the connection over."""
    import opentick_spark.server as srv
    from opentick_spark.errors import OpentickError

    monkeypatch.setattr(srv, "MAX_FRAME", 4096)
    c = connect_tcp("127.0.0.1", server.port)
    try:
        _mkdb(c, "big")
        c.execute("create table t(a int, v text, primary key(a))")
        # keep each REQUEST under the shrunken MAX_FRAME (it caps the
        # server's receive path too); only the reply exceeds it
        for b in range(10):
            c.batch_insert(
                "insert into t(a, v) values(?, ?)",
                [(b * 10 + i, "x" * 200) for i in range(10)],
            )
        with pytest.raises(OpentickError, match="Results too large"):
            c.execute("select * from t")
        # the session survives and small replies still flow
        assert c.execute("select v from t where a=1") == [("x" * 200,)]
    finally:
        c.close()


def test_wire_columnar_null_padding_all_types(server):
    """Sparse inserts pad unmentioned value columns with typed NULLs;
    the columnar json payload ("1c") must carry every engine type and
    the NULLs through intact."""
    from opentick_spark.client import connect_tcp

    c = connect_tcp("127.0.0.1", server.port)
    try:
        if "nt" not in c.list_databases():
            c.execute("create database nt")
        c.use("nt")
        c.execute(
            "create table t(a int, tm timestamp, b bigint, f float, "
            "d double, s text, bo boolean, primary key(a, tm))"
        )
        c.execute(
            "insert into t(a, tm, b, f, d, s, bo) values(?,?,?,?,?,?,?)",
            (1, [5, 7], 2**40, 1.5, 2.25, "hello", True),
        )
        c.execute("insert into t(a, tm) values(?, ?)", (1, [6, 0]))  # sparse
        rows = c.execute("select * from t where a=?", (1,))
        assert rows == [
            (1, (5, 7), 2**40, 1.5, 2.25, "hello", True),
            (1, (6, 0), None, None, None, None, None),
        ]
        # zero-row result through the columnar path
        assert c.execute("select * from t where a=?", (99,)) == []
    finally:
        c.close()


def test_concurrent_clients_isolated_sessions(server):
    """16 clients hammer the server concurrently, half in database A,
    half in B, interleaving inserts and reads: per-connection session
    state (use/prepared ids) must never leak across connections, every
    reply must land on its own ticket, and totals must be exact."""
    import threading

    from opentick_spark.client import connect_tcp

    boot = connect_tcp("127.0.0.1", server.port)
    for db in ("stress_a", "stress_b"):
        if db not in boot.list_databases():
            boot.execute(f"create database {db}")
        boot.use(db)
        try:
            boot.execute(
                "create table t(w int, i int, v double, primary key(w, i))"
            )
        except Exception as e:
            # the client's auto-reconnect may retry a slow DDL; the
            # second attempt then collides — idempotent setup
            if "already exists" not in str(e):
                raise
    boot.close()

    errors: list = []

    def worker(w: int) -> None:
        db = "stress_a" if w % 2 == 0 else "stress_b"
        try:
            c = connect_tcp("127.0.0.1", server.port)
            c.use(db)
            futs = [
                c.execute_async(
                    "insert into t(w, i, v) values(?, ?, ?)",
                    (w, i, float(w * 1000 + i)),
                )
                for i in range(30)
            ]
            for f in futs:
                f.get(timeout=60)
            rows = c.execute("select * from t where w=?", (w,), timeout=60)
            assert len(rows) == 30, (w, len(rows))
            assert {r[2] for r in rows} == {
                float(w * 1000 + i) for i in range(30)
            }, w
            c.close()
        except Exception as e:  # surface in the main thread
            errors.append((w, repr(e)))

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors

    check = connect_tcp("127.0.0.1", server.port)
    try:
        check.use("stress_a")
        a = check.execute("select * from t")
        check.use("stress_b")
        b = check.execute("select * from t")
        assert len(a) == 8 * 30 and len(b) == 8 * 30
        # no cross-db leakage: every w parity matches its database
        assert all(r[0] % 2 == 0 for r in a)
        assert all(r[0] % 2 == 1 for r in b)
    finally:
        check.close()


def test_wire_pipelined_batch_insert(conn):
    """batch_insert_async (r11): multiple batches in flight on one
    connection commit strictly in SEND order — the server chains each
    connection's batch commands on the predecessor's completion future
    (the dispatch pool alone is unordered; r11 review finding) — so
    pipelined ingest keeps the sync path's latest-wins semantics. The
    overlap only removes the per-chunk round-trip stall the sf1.0
    scaling drill flagged."""
    _mkdb(conn, "w_pipe")
    conn.execute("create table t(a int, v double, primary key(a))")
    sql = "insert into t(a, v) values(?, ?)"
    futs = [
        conn.batch_insert_async(
            sql, [(b * 100 + i, float(b)) for i in range(100)]
        )
        for b in range(8)
    ]
    # ordering probe: FIFTY pipelined batches upsert the SAME PK — the
    # last send must win every time (the chained dispatch makes this
    # deterministic; on the unordered pool it was a coin flip)
    for i in range(50):
        futs.append(conn.batch_insert_async(sql, [(0, float(i))]))
    for f in futs:
        f.get(60)
    assert len(conn.execute("select a from t")) == 800
    assert conn.execute("select v from t where a=0") == [(49.0,)]
    # errors surface on the future, not the connection
    bad = conn.batch_insert_async(sql, [(1,)])  # wrong arity
    with pytest.raises(OpentickError):
        bad.get(60)


def test_wire_pipelined_retry_with_keys_is_exactly_once(conn):
    """The pipelining × reconnect × idempotency contract (r11): when
    the socket dies with keyed batches IN FLIGHT, their futures fail
    ("Connection closed" — the recv loop can't know which applied);
    the caller retries every failed batch WITH THE SAME KEYS after the
    auto-reconnect, and the marker dedup makes the outcome exactly-once
    regardless of how many had already committed."""
    _mkdb(conn, "w_prt")
    conn.execute("create table t(a int, v double, primary key(a))")
    sql = "insert into t(a, v) values(?, ?)"
    batches = [
        ([(b * 10 + i, float(b)) for i in range(10)], f"prt-{b}")
        for b in range(12)
    ]
    futs = []
    for i, (rows, key) in enumerate(batches):
        futs.append(conn.batch_insert_async(sql, rows, idempotency_key=key))
        if i == 5:
            conn._sock.close()  # kill the transport mid-pipeline
    failed = []
    for f, (rows, key) in zip(futs, batches):
        try:
            f.get(60)
        except OpentickError:
            failed.append((rows, key))
    # at least the post-kill sends must have failed; retry them all
    # with their original keys (sync is fine for the retry pass)
    assert failed
    for rows, key in failed:
        conn.batch_insert(sql, rows, idempotency_key=key)
    got = conn.execute("select a, v from t")
    assert len(got) == 120  # every batch exactly once, no duplicates
    assert {r[1] for r in got} == {float(b) for b in range(12)}


def test_wire_idempotent_batch_retry(conn):
    """Extension wire key "6" (r10): resending a batch with the same
    idempotency key is a no-op once the original commit published —
    exactly-once ingest over an at-least-once transport. A different
    key (or no key) keeps reference at-least-once semantics."""
    _mkdb(conn, "w_idem")
    conn.execute("create table t(a int, v double, primary key(a))")
    sql = "insert into t(a, v) values(?, ?)"
    conn.batch_insert(sql, [(1, 1.0), (2, 2.0)], idempotency_key="job-7")
    # the retry: same rows, same key -> deduped server-side
    conn.batch_insert(sql, [(1, 1.0), (2, 2.0)], idempotency_key="job-7")
    # same key would even suppress DIFFERENT rows (delivery identity)
    conn.batch_insert(sql, [(9, 9.0)], idempotency_key="job-7")
    assert conn.execute("select * from t") == [(1, 1.0), (2, 2.0)]
    # a new key applies normally; keyless stays at-least-once
    conn.batch_insert(sql, [(3, 3.0)], idempotency_key="job-8")
    conn.batch_insert(sql, [(4, 4.0)])
    assert len(conn.execute("select * from t")) == 4


def test_wire_execute_split(conn):
    """SplitRange over the wire (extension cmd "split", r11): one round
    trip, server-side coalesced scan, merged PK-ordered rows with the
    reference's boundary dedup — plus per-branch args and the gap case
    that must NOT coalesce."""
    from opentick_spark.client import split_range

    _mkdb(conn, "wsp")
    conn.execute(
        "create table t(sec int, tm timestamp, px double, primary key(sec, tm))"
    )
    conn.batch_insert(
        "insert into t(sec, tm, px) values(?, ?, ?)",
        [(1, k, float(k)) for k in range(100)],
    )
    # contiguous reference-style split: shared boundaries dedup, full range
    rows = conn.execute_split(
        "select sec, tm, px from t where sec=? and tm>=? and tm<=?",
        split_range(0, 99, 4),
        args=(1,),
    )
    assert len(rows) == 100
    assert rows[0] == (1, (0, 0), 0.0) and rows[-1] == (1, (99, 0), 99.0)
    # non-contiguous: union only, gap rows absent
    rows = conn.execute_split(
        "select tm from t where sec=? and tm>=? and tm<=?",
        [(60, 69), (10, 19)],
        args=(1,),
    )
    assert [r[0][0] for r in rows] == list(range(10, 20)) + list(range(60, 70))
    # prepared id works and survives the pid path
    pid = conn.prepare("select px from t where sec=? and tm>=? and tm<=?")
    rows = conn.execute_split(pid, [(5, 7)], args=(1,))
    assert rows == [(5.0,), (6.0,), (7.0,)]
    # errors surface as wire errors: split requires a select
    with pytest.raises(OpentickError):
        conn.execute_split(
            "insert into t(sec, tm, px) values(?, ?, ?)", [(1, 2)], args=(1,)
        )


def test_wire_user_management(server):
    """Reference-client user management parity over the wire
    (bindings/python/opentick/client.py:122-168): users are rows of the
    ordinary _meta_.user PK table — create/list/update/delete ride
    plain SQL + the reload_users/chgpasswd meta commands."""
    c = connect_tcp("127.0.0.1", server.port)
    try:
        c.create_user("wu1", "pw1")
        c.create_user("wu2", "pw2", is_admin=False, perm="dbx=read")
        assert {"wu1", "wu2"} <= set(c.list_users())
        with pytest.raises(OpentickError, match="already exist"):
            c.create_user("wu1", "other")
        # dict merge: add a write grant, delete the read one
        c.update_user("wu2", perm={"dby": "write", "dbx": None})
        row = c.execute("select perm from _meta_.user where name=?", ("wu2",))
        assert row == [("dby=write",)]
        # str replaces outright; is_admin flips independently
        c.update_user("wu2", perm="dbz=read", is_admin=True)
        row = c.execute(
            "select is_admin, perm from _meta_.user where name=?", ("wu2",)
        )
        assert row == [(True, "dbz=read")]
        with pytest.raises(OpentickError, match="not exist"):
            c.update_user("nobody", perm="a=read")
        with pytest.raises(OpentickError, match="Invalid perm type"):
            c.update_user("wu2", perm={"a": "rw"})
        c.delete_user("wu1")
        c.delete_user("wu2")
        assert not ({"wu1", "wu2"} & set(c.list_users()))
    finally:
        c.close()


def test_wire_inband_ranges_and_batch_size(conn):
    """Reference calling conventions: execute() with the ranges list as
    the LAST arg routes through SplitRange (client.py:204-218), and
    batch_insert(batch_size=) chunks rows into separate atomic commits
    (client.py:229-250), sequential or pipelined."""
    from opentick_spark.client import split_range

    _mkdb(conn, "wib")
    conn.execute(
        "create table t(sec int, tm timestamp, px double, primary key(sec, tm))"
    )
    conn.batch_insert(
        "insert into t(sec, tm, px) values(?, ?, ?)",
        [(1, k, float(k)) for k in range(50)],
        batch_size=20,  # 3 chunks: 20/20/10
    )
    rows = conn.execute(
        "select tm, px from t where sec=? and tm>=? and tm<=?",
        (1, split_range(0, 49, 5)),  # in-band ranges, reference style
    )
    assert len(rows) == 50 and rows[0][1] == 0.0 and rows[-1][1] == 49.0
    # pipelined chunked form: list of futures, all resolve
    futs = conn.batch_insert_async(
        "insert into t(sec, tm, px) values(?, ?, ?)",
        [(2, k, float(k)) for k in range(30)],
        batch_size=10,
    )
    assert isinstance(futs, list) and len(futs) == 3
    for f in futs:
        f.get(30)
    assert len(conn.execute("select tm from t where sec=2")) == 30
    # async in-band ranges too
    fut = conn.execute_async(
        "select px from t where sec=? and tm>=? and tm<=?",
        (2, [(0, 9), (20, 29)]),
    )
    assert len(fut.get(30)) == 20


def test_wire_auto_reconnect_disabled(server):
    """set_auto_reconnect(<1) (reference client.py:109-111,377): a
    dropped socket then surfaces as a connection error instead of a
    transparent reconnect."""
    c = connect_tcp("127.0.0.1", server.port)
    try:
        c.set_auto_reconnect(0)
        c._sock.close()
        with pytest.raises(OpentickError, match="Connection closed"):
            c.execute("select 1 from _meta_.user")
        # re-enabling restores the transparent reconnect
        c.set_auto_reconnect(1)
        assert isinstance(c.list_databases(), list)
    finally:
        c.close()


def test_wire_chunked_idempotency_keys(conn):
    """Chunked batch_insert derives geometry-keyed per-chunk idempotency
    keys (key#batch_size#n): a same-geometry retry is a no-op per chunk,
    a different-geometry retry re-applies (safe: latest-wins upserts)."""
    _mkdb(conn, "wik")
    conn.execute("create table t(a int, v double, primary key(a))")
    rows = [(k, float(k)) for k in range(30)]
    sql = "insert into t(a, v) values(?, ?)"
    conn.batch_insert(sql, rows, idempotency_key="load1", batch_size=10)
    st = conn.execute("select a from t")
    assert len(st) == 30
    stats0 = conn.storage_stats("t")
    # same key + same geometry: every chunk dedups, zero new commits
    conn.batch_insert(sql, rows, idempotency_key="load1", batch_size=10)
    assert (
        conn.storage_stats("t")["pending_commits"]
        == stats0["pending_commits"]
    )
    # different geometry: chunks re-apply (3 new commits), state unchanged
    conn.batch_insert(sql, rows, idempotency_key="load1", batch_size=15)
    assert len(conn.execute("select a from t")) == 30


def test_wire_split_edge_cases(conn):
    """Review fixes (r11): empty ranges surface the clean OpentickError
    (not an IndexError) on both surfaces; generator args bind correctly
    (the in-band-ranges probe must not exhaust one-shot iterators); and
    the json split reply rides the columnar fast path."""
    _mkdb(conn, "wse")
    conn.execute("create table t(a int, tm timestamp, v double, primary key(a, tm))")
    conn.batch_insert(
        "insert into t(a, tm, v) values(?, ?, ?)",
        [(1, k, float(k)) for k in range(10)],
    )
    with pytest.raises(OpentickError, match="at least one range"):
        conn.execute_split("select v from t where a=? and tm>=? and tm<=?", [], args=(1,))
    # generator args: probe + bind must both see the value
    rows = conn.execute("select v from t where a=?", (x for x in [1]))
    assert len(rows) == 10
    # split through the json columnar reply path returns exact cells
    rows = conn.execute_split(
        "select a, tm, v from t where a=? and tm>=? and tm<=?",
        [(0, 4), (5, 9)],
        args=(1,),
    )
    assert rows == [(1, (k, 0), float(k)) for k in range(10)]


def test_bson_wire_split_packed(bson_server):
    """The split command over bson answers in the negotiated packed
    columnar shape ("1p") — same cells as the row shape, 4x cheaper
    encoding for the large scans SplitRange exists for."""
    from opentick_spark.client import split_range

    c = connect_tcp("127.0.0.1", bson_server.port, protocol="bson")
    try:
        _mkdb(c, "bsp")
        c.execute(
            "create table t(sec int, tm timestamp, px double, primary key(sec, tm))"
        )
        c.batch_insert(
            "insert into t(sec, tm, px) values(?, ?, ?)",
            [(1, k, float(k)) for k in range(40)],
        )
        rows = c.execute_split(
            "select sec, tm, px from t where sec=? and tm>=? and tm<=?",
            split_range(0, 39, 4),
            args=(1,),
        )
        assert rows == [(1, (k, 0), float(k)) for k in range(40)]
    finally:
        c.close()


def test_wire_ns_timestamp_reply_negotiation(server):
    """"8"-flag ns-timestamp replies (r11): an "8" client gets identical
    cells via the "1t" leg (incl. NULL ts from sparse rows); a client
    WITHOUT the flag — an older build — keeps receiving converted
    (sec, nsec) cells with no "1t" key, and the reply cache never
    serves one shape to the other."""
    c = connect_tcp("127.0.0.1", server.port)
    try:
        _mkdb(c, "wnt")
        c.execute(
            "create table t(a int, tm timestamp, t2 timestamp, px double, "
            "primary key(a, tm))"
        )
        c.execute("insert into t(a, tm, t2, px) values(1, 5, 7, 2.5)")
        c.execute("insert into t(a, tm) values(1, 6)")  # NULL t2, px
        want = [(1, (5, 0), (7, 0), 2.5), (1, (6, 0), None, None)]
        assert c.execute("select * from t where a=1") == want
        # simulate an older client: same wire, no "8" flag
        fut = c._request({"1": "run", "2": "select * from t where a=1",
                          "3": [], "4": 1, "5": 1})
        legacy = c._result(c._wrap_reply(fut, c._rows_in)._fut, 30)
        assert legacy == want
    finally:
        c.close()


def test_wire_hostile_commands_answered_not_fatal(server):
    """Well-framed but hostile COMMANDS (wrong field types, absurd
    values, unknown keys) must each produce an error reply or be
    survivable — never kill the server or another session."""
    import socket as _socket

    from opentick_spark.server import recv_frame, send_frame, _dumps

    hostile = [
        {"0": 1, "1": "run"},                        # no statement
        {"0": 2, "1": "run", "2": 999999},           # dangling pid
        {"0": 3, "1": "run", "2": ["not", "sql"]},   # non-string sql
        {"0": 4, "1": "split", "2": "select 1"},     # split, no ranges
        {"0": 5, "1": "split", "2": "x", "7": "??"}, # ranges not a list
        {"0": 6, "1": "batch", "2": "nope", "3": 7}, # args not rows
        {"0": 7, "1": 42},                           # cmd not a string
        {"0": 8, "1": "meta", "2": "bogus_sub"},     # unknown meta
        {"0": 9, "1": "use", "2": 123},              # db not a string
        {"0": "tick", "1": "run", "2": "select 1"},  # non-int ticket
    ]
    s = _socket.create_connection(("127.0.0.1", server.port))
    s.settimeout(10)
    try:
        for msg in hostile:
            send_frame(s, _dumps(msg))
        got = 0
        while got < len(hostile):
            body = recv_frame(s)
            assert body is not None, f"connection died after {got} replies"
            if body in (b"H", b""):
                continue  # heartbeat
            got += 1
    finally:
        s.close()
    # server still serves a fresh, well-behaved session
    c = connect_tcp("127.0.0.1", server.port)
    try:
        assert isinstance(c.list_databases(), list)
    finally:
        c.close()


def test_wire_split_reads_interleave_pipelined_batches(conn):
    """Reads stay fully concurrent with the per-connection batch chain,
    and every split read observes an ATOMIC prefix of the pipelined
    batches: row counts are always a multiple of the chunk size (a
    batch is one commit — no read ever sees half a batch)."""
    _mkdb(conn, "wil")
    conn.execute(
        "create table t(sec int, tm timestamp, v double, primary key(sec, tm))"
    )
    chunk = 2_000
    batches = [
        [(1, b * chunk + i, float(i)) for i in range(chunk)]
        for b in range(10)
    ]
    sql = "insert into t(sec, tm, v) values(?, ?, ?)"
    futs = [conn.batch_insert_async(sql, rows) for rows in batches]
    counts = []
    for _ in range(8):  # reads racing the in-flight chain
        rows = conn.execute_split(
            "select tm from t where sec=? and tm>=? and tm<=?",
            [(0, 9_999), (10_000, 19_999)],
            args=(1,),
        )
        counts.append(len(rows))
    for f in futs:
        f.get(120)
    final = conn.execute_split(
        "select tm from t where sec=? and tm>=? and tm<=?",
        [(0, 9_999), (10_000, 19_999)],
        args=(1,),
    )
    assert len(final) == 10 * chunk
    assert all(c % chunk == 0 for c in counts), counts
    assert counts == sorted(counts)  # commits land in send order


def test_wire_callback_result_skip(conn):
    """C++-binding ExecuteAsync(sql, args, Callback) parity
    (opentick.h:76,86-87,527-545): with a callback, the reply is
    delivered to it on the recv thread, execute_async returns None (the
    C++ empty Future), and no per-call result state survives in
    _futures — the fire-and-forget read mode."""
    _mkdb(conn, "wcb")
    conn.execute("create table t(a int, v double, primary key(a))")
    conn.batch_insert(
        "insert into t(a, v) values(?, ?)", [(1, 1.5), (2, 2.5)]
    )
    got = []
    done = threading.Event()

    def cb(rows, err):
        got.append((rows, err))
        done.set()

    ret = conn.execute_async("select * from t where a=?", (2,), callback=cb)
    assert ret is None  # the C++ overload returns an empty Future
    assert done.wait(10)
    assert got == [([(2, 2.5)], "")]

    # error path: the callback receives ([], err_str) like the C++
    # Callback(ResultSet{}, error) convention. No placeholders: with
    # args the auto-prepare raises synchronously — the C++ binding's
    # own behavior (ExecuteAsync → Prepare → Get_() throws,
    # opentick.h:432-447), so only reply-time errors reach the callback
    got.clear()
    done.clear()
    conn.execute_async("select * from nosuch", callback=cb)
    assert done.wait(10)
    assert got[0][0] == []
    assert "nosuch" in got[0][1]

    # fire-and-forget posture: nothing accumulates per abandoned call
    for _ in range(50):
        conn.execute_async("select * from t where a=?", (1,), callback=lambda r, e: None)
    deadline = time.time() + 10
    while conn._futures and time.time() < deadline:
        time.sleep(0.01)
    assert not conn._futures  # every ticket popped by the recv loop


def test_wire_callback_default_timeout(conn):
    """Reference deadline-timer parity (opentick.h:544-561): with
    default_timeout > 0, a callback whose reply never arrives gets
    ``([], "timeout")`` and its pending entry is evicted — without the
    timer a dropped reply on a healthy connection leaves a
    fire-and-forget caller uninvoked forever (r12 ADVICE)."""
    from concurrent.futures import Future as CFuture

    _mkdb(conn, "wcbt")
    conn.execute("create table t(a int, primary key(a))")
    conn.execute("insert into t(a) values(?)", (7,))
    old = conn.default_timeout
    conn.default_timeout = 0.2
    try:
        # simulate a dropped reply: a pending future no reply will match
        fut = CFuture()
        fut.ot_ticket = 999_999
        fut.ot_futures = conn._futures
        conn._futures[999_999] = fut
        got, done = [], threading.Event()
        ret = conn._wrap_reply(
            fut,
            lambda r: r,
            callback=lambda rows, err: (got.append((rows, err)), done.set()),
        )
        assert ret is None
        assert done.wait(5)
        assert got == [([], "timeout")]  # exact reference error string
        assert 999_999 not in conn._futures  # pending entry evicted

        # a reply that DOES arrive cancels the timer: exactly one
        # delivery, no spurious timeout after the deadline passes
        # (deterministic: complete the raw future as the recv loop would)
        fut2 = CFuture()
        got2, done2 = [], threading.Event()
        conn._wrap_reply(
            fut2,
            lambda r: r,
            callback=lambda rows, err: (got2.append((rows, err)), done2.set()),
        )
        fut2.set_result([(7,)])  # the reply wins the race
        assert done2.wait(5)
        time.sleep(0.4)  # past the 0.2s deadline
        assert got2 == [([(7,)], "")]
    finally:
        conn.default_timeout = old


def test_deadline_pop_claim_reply_owns(conn):
    """r13 ADVICE race, made deterministic: the ticket POP is the
    completion claim. Once the recv loop has popped a ticket (reply in
    hand but set_result not yet called — the exact window where the old
    monitor's unguarded set_exception landed), the firing deadline must
    NOT complete the future: the loser's InvalidStateError used to kill
    the recv loop and fail every in-flight request on a healthy
    connection (the reference's serialized io_service callbacks,
    opentick.h:544-561, have no such window)."""
    from concurrent.futures import Future as CFuture

    old = conn.default_timeout
    conn.default_timeout = 0.15
    try:
        fut = CFuture()
        fut.ot_ticket = 888_888
        fut.ot_futures = conn._futures
        conn._futures[888_888] = fut
        got, done = [], threading.Event()
        conn._wrap_reply(
            fut,
            lambda r: r,
            callback=lambda rows, err: (got.append((rows, err)), done.set()),
        )
        # the "recv loop" claims the ticket… then is slow to deliver
        assert conn._futures.pop(888_888) is fut
        time.sleep(0.5)  # deadline fires well past 0.15s
        assert not fut.done()  # monitor must NOT have completed it
        fut.set_result([(1,)])  # …the slow reply now lands cleanly
        assert done.wait(5)
        assert got == [([(1,)], "")]  # exactly one delivery: the reply
    finally:
        conn.default_timeout = old


def test_recv_loop_survives_timeout_reply_races(conn):
    """Stress the timeout-vs-reply race end-to-end: with a deadline of
    the same order as the wire round-trip, many callbacks resolve on
    whichever side wins — each must be delivered exactly once, and the
    recv loop must stay alive (the old race killed it, failing the
    whole connection)."""
    _mkdb(conn, "wrace")
    conn.execute("create table t(a int, primary key(a))")
    conn.execute("insert into t(a) values(?)", (5,))
    old = conn.default_timeout
    conn.default_timeout = 0.002  # ~ the local wire round-trip
    lock = threading.Lock()
    deliveries: dict[int, list] = {}
    try:
        n = 300
        for i in range(n):
            conn.execute_async(
                "select * from t where a=?",
                (5,),
                callback=(
                    lambda rows, err, i=i: (
                        lock.__enter__(),
                        deliveries.setdefault(i, []).append((rows, err)),
                        lock.__exit__(None, None, None),
                    )
                ),
            )
        deadline = time.time() + 30
        while len(deliveries) < n and time.time() < deadline:
            time.sleep(0.01)
        time.sleep(0.3)  # let any double-delivery land before asserting
        assert len(deliveries) == n
        assert all(len(v) == 1 for v in deliveries.values())  # exactly once
    finally:
        conn.default_timeout = old
    # the connection is still healthy: recv thread alive, sync call works
    assert conn._recv_thread.is_alive()
    assert conn.execute("select * from t where a=?", (5,)) == [(5,)]


def test_json_reference_client_gets_row_reply(server, conn):
    """A reference json client sends neither "5" nor "8": its select
    replies carry the reference rows in "1" (timestamps as [sec, nsec]),
    never the columnar "1c" that only an "8" client negotiates."""
    import socket as _socket

    from opentick_spark.server import _dumps, _loads, recv_frame, send_frame

    _mkdb(conn, "wref")
    conn.execute(
        "create table t(a int, tm timestamp, px double, primary key(a, tm))"
    )
    conn.execute("insert into t(a, tm, px) values(1, 5, 2.5)")
    s = _socket.create_connection(("127.0.0.1", server.port))
    s.settimeout(30)

    def exchange(msg):
        send_frame(s, _dumps(msg))
        while True:
            body = recv_frame(s)
            assert body is not None
            if body not in (b"H", b""):
                return _loads(body)

    try:
        assert exchange({"0": 1, "1": "use", "2": "wref"})["1"] is None
        run = exchange(
            {"0": 2, "1": "run", "2": "select * from t where a=1", "3": []}
        )
        assert "1c" not in run and "1t" not in run
        assert run["1"] == [[1, [5, 0], 2.5]]
        split = exchange(
            {
                "0": 3, "1": "split", "3": [], "7": [[0, 10]],
                "2": "select * from t where a=1 and tm>=? and tm<=?",
            }
        )
        assert "1c" not in split and split["1"] == [[1, [5, 0], 2.5]]
    finally:
        s.close()


def test_wire_collect_failure_is_one_error_reply(conn, spark, monkeypatch):
    """A select whose Arrow collect fails answers with an error reply
    and runs exactly once — no fallback plans and runs it again — and
    the session keeps serving queries."""
    _mkdb(conn, "wfail")
    conn.execute("create table t(a int, v double, primary key(a))")
    conn.execute("insert into t(a, v) values(1, 2.5)")
    df_cls = type(spark.range(0))
    orig = df_cls.toArrow
    calls = {"n": 0}

    def fail_once(self):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected collect failure")
        return orig(self)

    monkeypatch.setattr(df_cls, "toArrow", fail_once)
    with pytest.raises(OpentickError, match="injected collect failure"):
        conn.execute("select v from t where a=1")
    assert calls["n"] == 1
    assert conn.execute("select v from t where a=1") == [(2.5,)]
    assert calls["n"] == 2
