"""One warehouse state per process: every Engine on a warehouse (one per
wire connection) shares the catalog's schema cache and its one
``TableStore`` per table, so a DDL through one connection is what the
next statement of every other connection sees — the reference keeps one
schema cache per server process and evicts it on DDL (schema.go:367-381,
444-470)."""

import pytest

from opentick_spark.client import connect_tcp
from opentick_spark.engine import Engine
from opentick_spark.errors import OpentickError


def _engines(spark, tmp_path):
    wh = str(tmp_path / "wh")
    a, b = Engine(spark, wh), Engine(spark, wh)
    a.execute("create database d")
    a.use("d")
    b.use("d")
    a.execute("create table t(k int, v int, primary key(k))")
    b.execute("insert into t(k, v) values(1, 10)")
    return a, b


def _run_ddl_sequence(a_run, b_run):
    """The sequence over two sides that each run a statement and return
    its rows (None for DDL/DML); a and b are distinct connections."""
    assert b_run("select * from t") == [(1, 10)]
    # add column: the other side's next statement names the new column
    a_run("alter table t add column w int")
    b_run("insert into t(k, v, w) values(2, 20, 200)")
    assert a_run("select * from t") == [(1, 10, None), (2, 20, 200)]
    # drop + create with other columns: nothing is written under the
    # dropped column, and the new one is usable at once
    a_run("drop table t")
    a_run("create table t(k int, x text, primary key(k))")
    with pytest.raises(OpentickError, match="Undefined column name v"):
        b_run("insert into t(k, v) values(5, 50)")
    b_run("insert into t(k, x) values(7, 'seven')")
    assert a_run("select * from t") == [(7, "seven")]
    assert b_run("select * from t") == [(7, "seven")]
    # drop + create database: the recreated tables are new tables
    a_run("drop database d")
    a_run("create database d")
    a_run("create table d.t(k int, y double, primary key(k))")
    b_run("insert into d.t(k, y) values(3, 1.5)")
    assert a_run("select * from d.t") == [(3, 1.5)]
    assert b_run("select * from d.t") == [(3, 1.5)]


def test_two_engines_see_each_others_ddl(spark, tmp_path):
    a, b = _engines(spark, tmp_path)
    assert a.catalog is b.catalog
    assert a.store("d", "t") is b.store("d", "t")
    _run_ddl_sequence(a.execute_rows, b.execute_rows)


def test_two_wire_connections_see_each_others_ddl(spark, tmp_path):
    from opentick_spark.server import OpentickServer

    srv = OpentickServer(spark, str(tmp_path / "wh")).start()
    a = connect_tcp("127.0.0.1", srv.port)
    b = connect_tcp("127.0.0.1", srv.port)
    try:
        a.execute("create database d")
        a.use("d")
        b.use("d")
        a.execute("create table t(k int, v int, primary key(k))")
        b.execute("insert into t(k, v) values(1, 10)")
        _run_ddl_sequence(a.execute, b.execute)
    finally:
        a.close()
        b.close()
        srv.stop()


def test_one_engine_recreates_a_dropped_database(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database d")
    eng.use("d")
    eng.execute("create table t(k int, v int, primary key(k))")
    eng.execute("insert into t(k, v) values(1, 10)")
    assert eng.execute_rows("select * from t") == [(1, 10)]
    eng.execute("drop database d")
    eng.execute("create database d")
    eng.execute("create table t(k int, v int, primary key(k))")
    eng.execute("insert into t(k, v) values(2, 20)")
    assert eng.execute_rows("select * from t") == [(2, 20)]


def test_catalogs_are_shared_per_warehouse_and_freed(spark, tmp_path):
    """``Catalog.shared`` returns one catalog per warehouse real path;
    ``Catalog(path)`` stays an independent one; a warehouse no Engine
    uses is freed."""
    import gc
    import os

    from opentick_spark.catalog import _SHARED, Catalog

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    link = str(tmp_path / "link")
    os.symlink(wh, link)
    assert Engine(spark, link).catalog is eng.catalog
    assert Catalog(wh) is not eng.catalog
    key = os.path.realpath(wh)
    assert _SHARED.get(key) is eng.catalog
    del eng
    gc.collect()
    assert _SHARED.get(key) is None


def test_concurrent_engines_share_one_store(spark, tmp_path):
    """Time-bounded stress: more threads than cores open Engines on one
    warehouse and commit through them while the interpreter switches
    threads as often as it can. Every Engine gets the one catalog and
    the one store, and no commit is lost."""
    import os
    import sys
    import threading

    wh = str(tmp_path / "wh")
    first = Engine(spark, wh)
    first.execute("create database d")
    first.execute("create table d.t(k int, v int, primary key(k))")
    n_threads, n_rows = 2 * (os.cpu_count() or 2) + 1, 20
    stores, errors = [], []

    def work(w):
        try:
            eng = Engine(spark, wh)
            for i in range(n_rows):
                eng.execute(f"insert into d.t(k, v) values({w * 1000 + i}, {w})")
                stores.append(eng.store("d", "t"))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(w,)) for w in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert {id(s) for s in stores} == {id(first.store("d", "t"))}
    assert first.store("d", "t").read(spark).count() == n_threads * n_rows
