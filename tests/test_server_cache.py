"""Wire-path response cache (C5 over C9): a --cache server stores the
PRE-SERIALIZED reply for prepared selects and serves hits in key "2"
without touching the engine — reference server.go:341-350 + reply()
:201-203, behavior mirrored from Test_Server_Cache
(server_test.go:161-183): reads are STALE within the TTL (deleted rows
keep appearing), fresh after expiry."""


import pytest

from opentick_spark.client import connect_tcp


@pytest.fixture(scope="module")
def cache_server(spark, tmp_path_factory):
    from opentick_spark.server import OpentickServer

    wh = str(tmp_path_factory.mktemp("cache_wh"))
    # TTL must be load-proof: under a full-suite parallel run, >1.5 s of
    # wall clock can pass between populating the cache and the stale-read
    # assertion, legitimately expiring the entry and flaking the test.
    # Use a TTL no loaded run can cross; expiry itself is tested by
    # rewinding the stored deadlines, not by sleeping (same contract,
    # zero wall-clock dependence).
    srv = OpentickServer(
        spark, wh, heartbeat_s=5.0, cache_expiration=60.0
    ).start()
    yield srv
    srv.stop()


def _count_engine_calls(monkeypatch):
    # every result shape ("1", "1c"+"1t", "1p") is built over the one
    # producer, so counting it counts every select the engine runs
    from opentick_spark.engine import Engine

    calls = {"n": 0}
    orig = Engine._result_table

    def counted(self, *a, **kw):
        calls["n"] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(Engine, "_result_table", counted)
    return calls


def test_wire_cache_stale_hits_skip_engine(cache_server, monkeypatch):
    calls = _count_engine_calls(monkeypatch)
    c = connect_tcp("127.0.0.1", cache_server.port)
    try:
        if "wc" not in c.list_databases():
            c.execute("create database wc")
        c.use("wc")
        c.execute(
            "create table test(sec int, interval int, tm timestamp, "
            "open double, primary key(sec, interval, tm))"
        )
        c.execute(
            "insert into test(sec, interval, tm, open) values(?, ?, ?, ?)",
            (1, 2, [5, 0], 2.2),
        )
        c.execute(
            "insert into test(sec, interval, tm, open) values(?, ?, ?, ?)",
            (1, 2, [6, 0], 2.2),
        )
        # parameterized select auto-prepares → cache-capable
        n_before = calls["n"]
        assert len(c.execute("select * from test where sec=?", (1,))) == 2
        assert calls["n"] == n_before + 1  # the miss ran the engine
        assert cache_server._resp_cache  # reply bytes were stored
        c.execute("delete from test where sec=?", (1,))
        n_after_delete = calls["n"]
        # stale within TTL: deleted rows still appear AND the engine is
        # not re-invoked for the cached select
        assert len(c.execute("select * from test where sec=?", (1,))) == 2
        assert calls["n"] == n_after_delete  # the hit added no call
        # a no-cache execute bypasses and sees the truth immediately
        assert c.execute("select * from test where sec=?", (1,), cache=False) == []
        # TTL expiry → fresh execution: rewind every stored deadline to
        # the epoch instead of sleeping past a real 60 s TTL
        for k, (_exp, blob) in list(cache_server._resp_cache.items()):
            cache_server._resp_cache[k] = (0.0, blob)
        assert c.execute("select * from test where sec=?", (1,)) == []
    finally:
        c.close()


def test_wire_cache_keyed_by_args(cache_server):
    c = connect_tcp("127.0.0.1", cache_server.port)
    try:
        if "wc2" not in c.list_databases():
            c.execute("create database wc2")
        c.use("wc2")
        c.execute("create table t(a int, v int, primary key(a))")
        c.batch_insert(
            "insert into t(a, v) values(?, ?)", [(i, i * 10) for i in range(4)]
        )
        assert c.execute("select v from t where a=?", (1,)) == [(10,)]
        # different args must not collide with the cached (a=1) reply
        assert c.execute("select v from t where a=?", (2,)) == [(20,)]
        assert c.execute("select v from t where a=?", (1,)) == [(10,)]
        # a [sec, nsec] timestamp arg is a list: it must key the cache
        # too, and a repeat must be served from it
        c.execute(
            "create table ts(a int, tm timestamp, v double, primary key(a, tm))"
        )
        c.execute("insert into ts(a, tm, v) values(1, ?, 2.0)", ([5, 7],))
        c.execute("insert into ts(a, tm, v) values(1, ?, 3.0)", ([6, 0],))
        sel = "select v from ts where a=1 and tm=?"
        hits = cache_server.server_stats()["n_cache_hits"]
        assert c.execute(sel, ([5, 7],)) == [(2.0,)]
        assert c.execute(sel, ([6, 0],)) == [(3.0,)]
        assert c.execute(sel, ([5, 7],)) == [(2.0,)]
        assert cache_server.server_stats()["n_cache_hits"] == hits + 1
    finally:
        c.close()


def test_wire_reconnect_remaps_held_pids(cache_server):
    """A caller-held prepared id must survive a reconnect: the client
    re-prepares on the fresh connection and remaps old ids (reference
    client keeps ids stable across its reconnect path)."""
    c = connect_tcp("127.0.0.1", cache_server.port)
    try:
        if "wc3" not in c.list_databases():
            c.execute("create database wc3")
        c.use("wc3")
        c.execute("create table t(a int, v int, primary key(a))")
        ins = c.prepare("insert into t(a, v) values(?, ?)")
        sel = c.prepare("select v from t where a=?")
        c.execute(ins, (1, 10))
        c._sock.close()  # drop the connection; pids are now server-stale
        c.execute(ins, (2, 20))  # retried via reconnect + re-prepare
        assert c.execute(sel, (1,)) == [(10,)]
        assert c.execute(sel, (2,)) == [(20,)]
    finally:
        c.close()


@pytest.fixture(scope="module")
def bson_cache_server(spark, tmp_path_factory):
    from opentick_spark.server import OpentickServer

    wh = str(tmp_path_factory.mktemp("bson_cache_wh"))
    srv = OpentickServer(
        spark, wh, heartbeat_s=5.0, cache_expiration=30.0, protocol="bson"
    ).start()
    yield srv
    srv.stop()


def test_wire_cache_bson_binary_blob(bson_cache_server, monkeypatch):
    """The BSON protocol carries cached replies as raw 0x05 binary (not
    base64): a hit must round-trip through the binary element and skip
    the engine."""
    calls = _count_engine_calls(monkeypatch)
    c = connect_tcp("127.0.0.1", bson_cache_server.port, protocol="bson")
    try:
        if "bwc" not in c.list_databases():
            c.execute("create database bwc")
        c.use("bwc")
        c.execute("create table t(a int, v double, primary key(a))")
        c.batch_insert(
            "insert into t(a, v) values(?, ?)", [(1, 1.5), (2, 2.5)]
        )
        assert c.execute("select * from t where a=?", (1,)) == [(1, 1.5)]
        n = calls["n"]
        assert c.execute("select * from t where a=?", (1,)) == [(1, 1.5)]
        assert calls["n"] == n  # served from the binary blob, engine idle
    finally:
        c.close()


def test_wire_cache_keyed_by_session_db(bson_cache_server):
    """The same prepared select text with the same args names another
    table in another db: a session in db "ke" must not be served the
    reply a session in db "kd" cached."""
    c1 = connect_tcp("127.0.0.1", bson_cache_server.port, protocol="bson")
    c2 = connect_tcp("127.0.0.1", bson_cache_server.port, protocol="bson")
    try:
        for db in ("kd", "ke"):
            c1.execute(f"create database {db}")
            c1.execute(f"create table {db}.t(k int, v text, primary key(k))")
            c1.execute(f"insert into {db}.t(k, v) values(1, '{db}')")
        c1.use("kd")
        c2.use("ke")
        sel = "select * from t where k=?"
        assert c1.execute(sel, (1,)) == [(1, "kd")]
        assert c2.execute(sel, (1,)) == [(1, "ke")]
    finally:
        c1.close()
        c2.close()


def test_wire_cache_hit_checks_permission(spark, tmp_path):
    """A cache hit runs the checks a run of the id makes: after the
    session logs in again as a user without read permission, its cached
    select is refused as its text is."""
    from opentick_spark.engine import Engine
    from opentick_spark.errors import OpentickError
    from opentick_spark.server import OpentickServer

    wh = str(tmp_path / "wh")
    admin = Engine(spark, wh)
    admin.execute("create database s")
    admin.execute("create table s.t(k int, v int, primary key(k))")
    admin.execute("insert into s.t(k, v) values(1, 42)")
    admin.create_user("root", "rootpw", is_admin=True)
    admin.create_user("other", "pw", perm="elsewhere=read")
    srv = OpentickServer(
        spark, wh, protocol="bson", permission_control=True,
        cache_expiration=60.0,
    ).start()
    c = connect_tcp("127.0.0.1", srv.port, protocol="bson")
    try:
        c.login("root", "rootpw")
        sel = "select * from s.t where k=?"
        assert c.execute(sel, (1,)) == [(1, 42)]
        c.login("other", "pw")
        for cache in (False, True):
            with pytest.raises(OpentickError, match="No permisssion"):
                c.execute(sel, (1,), cache=cache)
    finally:
        c.close()
        srv.stop()


def test_cache_hit_reticketed_across_connections(cache_server, monkeypatch):
    """A cached reply's stored bytes carry the ORIGINAL requester's
    ticket; a hit served to a different connection (or a later ticket on
    the same one) must be re-ticketed so the reply resolves the right
    future — regression for the columnar-payload unwrap path."""
    calls = _count_engine_calls(monkeypatch)
    c1 = connect_tcp("127.0.0.1", cache_server.port)
    c2 = connect_tcp("127.0.0.1", cache_server.port)
    try:
        if "wt" not in c1.list_databases():
            c1.execute("create database wt")
        c1.use("wt")
        c2.use("wt")
        c1.execute(
            "create table rt(sec int, tm timestamp, v double, "
            "primary key(sec, tm))"
        )
        for i in range(3):
            c1.execute(
                "insert into rt(sec, tm, v) values(?, ?, ?)",
                (7, [i, 0], float(i)),
            )
        # prime the cache from connection 1 (prepared select, cache flag)
        assert len(c1.execute("select * from rt where sec=?", (7,))) == 3
        n_prime = calls["n"]
        # interleave async futures on BOTH connections against the cached
        # statement; every future must resolve with the full result under
        # its own ticket and the engine must not run again within the TTL
        futs = []
        for _ in range(4):
            futs.append(c1.execute_async("select * from rt where sec=?", (7,)))
            futs.append(c2.execute_async("select * from rt where sec=?", (7,)))
        for f in futs:
            rows = f.get(timeout=30)
            assert len(rows) == 3
            assert sorted(r[2] for r in rows) == [0.0, 1.0, 2.0]
        assert calls["n"] == n_prime  # all eight were cache hits
    finally:
        c1.close()
        c2.close()


def test_server_stats_counters(cache_server):
    c = connect_tcp("127.0.0.1", cache_server.port)
    try:
        before = c.server_stats()
        assert {"n_requests", "n_run", "n_cache_hits", "n_errors",
                "n_connections", "n_cached_replies",
                "started_at_s"} <= set(before)
        if "ws" not in c.list_databases():
            c.execute("create database ws")
        c.use("ws")
        c.execute("create table t(a int, v int, primary key(a))")
        c.execute("insert into t(a, v) values(?, ?)", (1, 10))
        assert c.execute("select v from t where a=?", (1,)) == [(10,)]
        assert c.execute("select v from t where a=?", (1,)) == [(10,)]  # hit
        try:
            c.execute("select nope from t")
        except Exception:
            pass
        after = c.server_stats()
        assert after["n_run"] > before["n_run"]
        assert after["n_cache_hits"] > before["n_cache_hits"]
        assert after["n_errors"] > before["n_errors"]
        assert after["n_requests"] > after["n_run"]  # meta/prepare counted
        assert after["n_connections"] >= 1
    finally:
        c.close()


def test_storage_stats_over_the_wire(cache_server):
    c = connect_tcp("127.0.0.1", cache_server.port)
    try:
        if "sw" not in c.list_databases():
            c.execute("create database sw")
        c.use("sw")
        c.execute("create table t(a int, v int, primary key(a))")
        c.batch_insert("insert into t(a, v) values(?, ?)", [(i, i) for i in range(5)])
        st = c.storage_stats("t")
        assert st["log_rows"] == 5 and st["log_files"] == 1
        assert st["pk_overlap"] == 0
    finally:
        c.close()


def test_wire_cache_isolates_ns_timestamp_shape(cache_server):
    """The reply cache keys the "8" (ns-timestamp "1t") flag: a legacy
    client hitting the same prepared select right after an "8" client
    populated the cache must get its own tuple-shaped reply, never the
    cached "1t" blob (which would surface raw ns ints as cells)."""
    c = connect_tcp("127.0.0.1", cache_server.port)
    try:
        if "wc8" not in c.list_databases():
            c.execute("create database wc8")
        c.use("wc8")
        c.execute(
            "create table t(a int, tm timestamp, px double, primary key(a, tm))"
        )
        c.execute("insert into t(a, tm, px) values(1, 5, 2.5)")
        want = [(1, (5, 0), 2.5)]
        # "8" client populates its cache entry (auto-prepared select)
        assert c.execute("select * from t where a=?", (1,)) == want
        pid = c.prepare("select * from t where a=?")
        # legacy request: same pid, cache on, NO "8" flag — must not be
        # served the "1t"-shaped blob
        fut = c._request({"1": "run", "2": pid, "3": [1], "4": 1, "5": 1})
        legacy = c._result(c._wrap_reply(fut, c._rows_in)._fut, 30)
        assert legacy == want  # ns ints would surface as bare ints here
        # and the legacy shape now has its own cached copy: repeat hit
        fut = c._request({"1": "run", "2": pid, "3": [1], "4": 1, "5": 1})
        assert c._result(c._wrap_reply(fut, c._rows_in)._fut, 30) == want
        # the "8" shape keeps ITS cached copy too
        assert c.execute("select * from t where a=?", (1,)) == want
    finally:
        c.close()


def test_response_cache_sweeps_expired_entries(spark, tmp_path):
    """Past 4096 entries, a cache write drops every expired entry (lazy
    sweep), so the reply cache cannot grow without bound under distinct
    queries; live entries survive."""
    import time

    from opentick_spark.server import OpentickServer

    srv = OpentickServer(spark, str(tmp_path / "wh_sw"), cache_expiration=60.0)
    past = time.time() - 1
    for i in range(4097):
        srv._resp_cache[("select stale", (i,))] = (past, b"")
    live = ("select live", ())
    srv._resp_cache[live] = (time.time() + 60, b"live")
    srv._cache_put(("select x", ()), b"x")
    assert set(srv._resp_cache) == {live, ("select x", ())}
    assert srv._cache_get(("select x", ())) == b"x"
