"""One statement path: a prepared id runs exactly what its SQL text runs
at execution time. Each differential case prepares a statement, then
changes what its text means — another connection's DDL, a ``use``, a
re-login — and runs the statement by that id and by its text, expecting
one outcome: the same rows, or the same error message. Every case runs
in-process (two Engines on one warehouse) and over TCP (two bson
connections to one server).

The reference binds an id when it is prepared (server.go:384-398); here
an id follows the session db, user and table schema, as its text does.
The last test pins the cost of that: an id re-resolves only when the
schema object it was resolved against is replaced."""

import pytest

from opentick_spark.client import Connection, connect_tcp
from opentick_spark.engine import Engine
from opentick_spark.errors import OpentickError
from opentick_spark.server import OpentickServer


class _InProcess:
    def __init__(self, spark, wh, permission_control):
        self.eng = Engine(spark, wh, permission_control=permission_control)

    def run(self, sql, args=()):
        return self.eng.execute_rows(sql, *args)

    def prepare(self, sql):
        return self.eng.prepare(sql)

    def by_id(self, pid, args=()):
        return self.eng.execute_rows(pid, *args)

    def batch(self, sql, rows, key=None):
        self.eng.batch_insert(sql, rows, idempotency_key=key)

    def use(self, db):
        self.eng.use(db)

    def login(self, user, password):
        self.eng.login(user, password)

    def close(self):
        pass


class _Wire:
    def __init__(self, port):
        self.c = connect_tcp("127.0.0.1", port, protocol="bson")

    def _send(self, msg):
        return self.c._result(self.c._request(msg))

    def run(self, sql, args=()):
        # text with its args in one request: the client would prepare a
        # parameterized text first
        return self.c._rows_in(self._send({"1": "run", "2": sql, "3": list(args)}))

    def prepare(self, sql):
        # a raw prepare request each time, as a reference client sends
        # it: the client's own cache would answer a repeat itself
        return self._send({"1": "prepare", "2": sql})

    def by_id(self, pid, args=()):
        return self.c.execute(pid, args)

    def batch(self, sql, rows, key=None):
        # the client sends its prepared id
        self.c.batch_insert(sql, rows, idempotency_key=key)

    def use(self, db):
        self.c.use(db)

    def login(self, user, password):
        self.c.login(user, password)

    def close(self):
        self.c.close()


class _Pair:
    """Makes the two sides of one case on one warehouse."""

    def __init__(self, kind, spark, wh):
        self.kind, self.spark, self.wh = kind, spark, wh
        self._open = []

    def make(self, permission_control=False):
        if self.kind == "in_process":
            sides = [
                _InProcess(self.spark, self.wh, permission_control)
                for _ in range(2)
            ]
        else:
            srv = OpentickServer(
                self.spark, self.wh, protocol="bson",
                permission_control=permission_control,
            ).start()
            self._open.append(srv)
            sides = [_Wire(srv.port) for _ in range(2)]
        self._open.extend(sides)
        return sides

    def in_db(self, db="d"):
        a, b = self.make()
        a.run(f"create database {db}")
        a.use(db)
        b.use(db)
        return a, b

    def close(self):
        for x in self._open:
            x.stop() if isinstance(x, OpentickServer) else x.close()


@pytest.fixture(params=["in_process", "tcp"])
def pair(request, spark, tmp_path):
    p = _Pair(request.param, spark, str(tmp_path / "wh"))
    yield p
    p.close()


def _outcome(fn, *args):
    try:
        return fn(*args)
    except OpentickError as e:
        return f"error: {e}"


def test_drop_and_create_with_other_columns(pair):
    a, b = pair.in_db()
    a.run("create table t(k int, v int, primary key(k))")
    ins = "insert into t(k, v) values(?, ?)"
    pid = b.prepare(ins)
    a.run("drop table t")
    a.run("create table t(k int, x text, primary key(k))")
    want = "error: Undefined column name v"
    assert _outcome(b.by_id, pid, (5, 50)) == want
    assert _outcome(b.run, ins, (6, 60)) == want
    assert a.run("select * from t") == []


def test_dropped_column_in_a_prepared_select(pair):
    a, b = pair.in_db()
    a.run("create table u(k int, b int, c int, primary key(k))")
    a.run("insert into u(k, b, c) values(1, 2, 3)")
    sel = "select k, b from u where k=?"
    pid = b.prepare(sel)
    a.run("alter table u drop column b")
    want = "error: Undefined column name b"
    assert _outcome(b.by_id, pid, (1,)) == want
    assert _outcome(b.run, sel, (1,)) == want


def test_added_column_in_a_prepared_select_star(pair):
    a, b = pair.in_db()
    a.run("create table u(k int, b int, primary key(k))")
    a.run("insert into u(k, b) values(1, 2)")
    sel = "select * from u where k=?"
    pid = b.prepare(sel)
    assert b.by_id(pid, (1,)) == [(1, 2)]
    a.run("alter table u add column c int")
    a.run("insert into u(k, b, c) values(1, 2, 9)")
    assert b.by_id(pid, (1,)) == b.run(sel, (1,)) == [(1, 2, 9)]


def test_use_of_another_db(pair):
    a, b = pair.make()
    for db in ("d", "e"):
        a.run(f"create database {db}")
        a.run(f"create table {db}.t(k int, v int, primary key(k))")
    ins = "insert into t(k, v) values(?, ?)"
    sel = "select * from t where k>=?"
    b.use("d")
    pid_ins, pid_sel = b.prepare(ins), b.prepare(sel)
    b.use("e")
    b.by_id(pid_ins, (1, 10))
    b.run(ins, (2, 20))
    # a second prepare of the same text after the use
    b.by_id(b.prepare(ins), (3, 30))
    want = [(1, 10), (2, 20), (3, 30)]
    assert b.by_id(pid_sel, (0,)) == b.run(sel, (0,)) == want
    assert a.run("select * from e.t") == want
    assert a.run("select * from d.t") == []


def test_use_of_another_db_in_the_async_insert_firehose(spark, tmp_path):
    conn = Connection(spark, str(tmp_path / "wh"))
    try:
        for db in ("d", "e"):
            conn.execute(f"create database {db}")
            conn.execute(f"create table {db}.t(k int, v int, primary key(k))")
        ins = "insert into t(k, v) values(?, ?)"
        conn.use("d")
        queued = conn.execute_async(ins, (1, 10))
        # rows queued before the use commit to the db they were queued in
        conn.use("e")
        conn.execute_async(ins, (2, 20)).get(60)
        queued.get(60)
        assert conn.execute("select * from d.t") == [(1, 10)]
        assert conn.execute("select * from e.t") == [(2, 20)]
    finally:
        conn.close()


@pytest.mark.parametrize("transport", ["in_process", "tcp"])
def test_use_waits_for_the_calls_pipelined_before_it(spark, tmp_path, transport):
    """Batches and reads sent without waiting, then a ``use``: each runs
    in the db it was sent in, although an id follows the session db."""
    wh = str(tmp_path / "wh")
    if transport == "in_process":
        conn = Connection(spark, wh)
        srv = None
    else:
        srv = OpentickServer(spark, wh, protocol="bson").start()
        conn = connect_tcp("127.0.0.1", srv.port, protocol="bson")
    try:
        for db in ("d", "e"):
            conn.execute(f"create database {db}")
            conn.execute(f"create table {db}.t(k int, v int, primary key(k))")
        ins = "insert into t(k, v) values(?, ?)"
        sel = "select * from t where k>=?"
        conn.use("d")
        conn.batch_insert(ins, [(0, 0)])
        conn.execute(sel, (0,))  # both statements are prepared in d
        # more batches than the in-process client has pool workers, so
        # some are still queued when the use is made
        futs = [
            conn.batch_insert_async(ins, [(2 * i + j, i) for j in range(2)])
            for i in range(1, 41)
        ]
        read = conn.execute_async(sel, (0,))
        conn.use("e")
        for f in futs:
            f.get(60)
        assert len(read.get(60)) >= 1
        assert len(conn.execute("select * from d.t")) == 81
        assert conn.execute("select * from e.t") == []
    finally:
        conn.close()
        if srv is not None:
            srv.stop()


def test_text_batch_naming_a_dropped_column(pair):
    a, b = pair.in_db()
    a.run("create table t(k int, x text, primary key(k))")
    ins = "insert into t(k, x) values(?, ?)"
    b.batch(ins, [(1, "one")])
    a.run("alter table t drop column x")
    want = "error: Undefined column name x"
    assert _outcome(b.batch, ins, [(2, "two")]) == want
    assert _outcome(b.run, ins, (3, "three")) == want
    assert a.run("select * from t") == [(1,)]


def test_relogin_as_a_read_only_user(pair, spark):
    admin = Engine(spark, pair.wh)
    admin.execute("create database d1")
    admin.use("d1")
    admin.execute("create table t(k int, v int, primary key(k))")
    admin.create_user("root", "rootpw", is_admin=True)
    admin.create_user("reader", "pw", perm="d1=read")
    _, b = pair.make(permission_control=True)
    b.login("root", "rootpw")
    b.use("d1")
    ins = "insert into t(k, v) values(?, ?)"
    pid = b.prepare(ins)
    b.by_id(pid, (1, 10))
    b.batch(ins, [(4, 40)], "r1")
    b.login("reader", "pw")
    want = "error: No permisssion"
    assert _outcome(b.by_id, pid, (2, 20)) == want
    assert _outcome(b.run, ins, (3, 30)) == want
    # a retry of an applied batch needs the write permission too
    assert _outcome(b.batch, ins, [(4, 40)], "r1") == want
    assert b.run("select * from t") == [(1, 10), (4, 40)]


@pytest.mark.parametrize("transport", ["in_process", "tcp"])
def test_explain_is_a_statement(spark, tmp_path, transport):
    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    eng.execute("create database d")
    eng.use("d")
    eng.execute("create table t(k int, v int, primary key(k))")
    eng.execute("insert into t(k, v) values(1, 2)")
    if transport == "in_process":
        run = eng.execute_rows

        def run_args(sql, *args):
            return eng.execute_rows(eng.prepare(sql), *args)

        close = None
    else:
        srv = OpentickServer(spark, wh, protocol="bson").start()
        c = connect_tcp("127.0.0.1", srv.port, db_name="d", protocol="bson")
        run = c.execute

        def run_args(sql, *args):
            return c.execute(sql, args)  # the client prepares it

        def close():
            c.close()
            srv.stop()

    try:
        for rows in (
            run("EXPLAIN\nselect * from t where k=1"),
            run_args("explain select * from t where k=?", 1),
        ):
            text = "\n".join(r[0] for r in rows)
            assert "Physical Plan" in text and "PushedFilters" in text
        with pytest.raises(
            OpentickError, match="Can only explain SELECT statements"
        ):
            run("explain insert into t(k, v) values(1, 2)")
    finally:
        if close is not None:
            close()


def test_prepared_ids_resolve_only_when_the_schema_changes(
    spark, tmp_path, monkeypatch
):
    from opentick_spark import engine as engine_mod

    resolves = {"n": 0}
    for name in ("resolve_select", "resolve_insert"):

        def counted(*a, _orig=getattr(engine_mod, name), **kw):
            resolves["n"] += 1
            return _orig(*a, **kw)

        monkeypatch.setattr(engine_mod, name, counted)
    wh = str(tmp_path / "wh")
    other = Engine(spark, wh)
    for db in ("d", "e"):
        other.execute(f"create database {db}")
        other.execute(f"create table {db}.t(k int, v int, primary key(k))")
    srv = OpentickServer(spark, wh, protocol="bson").start()
    c = connect_tcp("127.0.0.1", srv.port, db_name="d", protocol="bson")
    try:
        sel = "select * from t where k=?"
        ins = "insert into t(k, v) values(?, ?)"
        c.batch_insert(ins, [(0, 0)])  # the first prepares resolve
        c.execute(sel, (0,))
        resolves["n"] = 0
        for i in range(20):
            c.execute(sel, (i,))
        for i in range(5):
            c.batch_insert(ins, [(i, i)])
        assert resolves["n"] == 0
        other.execute("alter table d.t add column w int")
        assert c.execute(sel, (1,)) == [(1, 1, None)]
        assert resolves["n"] == 1
        c.execute(sel, (1,))
        assert resolves["n"] == 1
        c.use("e")
        assert c.execute(sel, (1,)) == []
        assert resolves["n"] == 2
        c.execute(sel, (1,))
        assert resolves["n"] == 2
    finally:
        c.close()
        srv.stop()


def test_concurrent_reads_of_one_id_follow_the_schema(spark, tmp_path):
    """Time-bounded stress: more threads than cores run one prepared
    select on one Engine, as the server dispatches one session's reads,
    while another Engine adds columns and the interpreter switches
    threads as often as it can. A re-resolved id replaces its entry
    whole, so no read returns fewer columns than its table had when the
    read began."""
    import os
    import sys
    import threading

    wh = str(tmp_path / "wh")
    eng, ddl = Engine(spark, wh), Engine(spark, wh)
    ddl.execute("create database d")
    ddl.execute("create table d.t(k int, c0 int, primary key(k))")
    ddl.execute("insert into d.t(k, c0) values(1, 0)")
    pid = eng.prepare("select * from d.t where k=?")
    errors = []

    def work():
        try:
            for _ in range(4):
                width = len(eng.catalog.get_schema("d", "t").columns)
                (row,) = eng.execute_rows(pid, 1)
                assert len(row) >= width, (row, width)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work)
            for _ in range(2 * (os.cpu_count() or 2) + 1)
        ]
        for t in threads:
            t.start()
        for i in range(1, 4):
            ddl.execute(f"alter table d.t add column c{i} int")
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert eng.execute_rows(pid, 1) == [(1, 0, None, None, None)]
