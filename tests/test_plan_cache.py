"""Read-plan reuse (``TableStore.read``) and the snapshot-keyed adj factor
table: a held store returns the same DataFrame while the table snapshot is
unchanged and a new one after every kind of change, and the next query
through the engine and through the wire reflects that change."""

import pytest

from opentick_spark.client import connect_tcp
from opentick_spark.engine import Engine

ROWS = [(s, t, float(t)) for s in (1, 2, 3) for t in range(1, 6)]
SEL = "select * from t where sec=1"
ADJ_SEL = "select tm, adj(px) from t where sec=1"


def _sec1(ts):
    return [(1, (t, 0), float(t)) for t in ts]


@pytest.fixture()
def wh(spark, tmp_path):
    """A warehouse holding ``t`` (uncompacted: one log commit) and a
    server on it."""
    from opentick_spark.server import OpentickServer

    path = str(tmp_path / "wh")
    eng = Engine(spark, path)
    eng.execute("create database d")
    eng.use("d")
    eng.execute(
        "create table t(sec int, tm timestamp, px double, primary key(sec, tm))"
    )
    eng.batch_insert("insert into t(sec, tm, px) values(?, ?, ?)", ROWS)
    srv = OpentickServer(spark, path).start()
    yield path, srv
    srv.stop()


def _compact(spark, path, **kw):
    Engine(spark, path).store("d", "t").compact(spark, **kw)


# (statement or storage action, expected ``SEL`` rows after it)
CHANGES = {
    "insert": (
        "insert into t(sec, tm, px) values(1, 6, 6.0)",
        _sec1(range(1, 7)),
    ),
    "delete": ("delete from t where sec=1 and tm>=4", _sec1(range(1, 4))),
    "compact_flat": (dict(), _sec1(range(1, 6))),
    "compact_bucketed": (dict(hash_buckets=4), _sec1(range(1, 6))),
    "add_column": (
        "alter table t add column v double",
        [(1, (t, 0), float(t), None) for t in range(1, 6)],
    ),
}


def _apply(spark, path, change, run):
    if isinstance(change, dict):
        _compact(spark, path, **change)
    else:
        run(change)


@pytest.mark.parametrize("name", sorted(CHANGES))
def test_engine_read_plan_reused_until_change(spark, wh, name):
    path, _ = wh
    eng = Engine(spark, path)
    eng.use("d")
    st = eng.store("d", "t")
    assert eng.execute_rows(SEL) == _sec1(range(1, 6))
    held = st.read(spark)
    assert st.read(spark) is held
    change, expected = CHANGES[name]
    _apply(spark, path, change, eng.execute)
    fresh = st.read(spark)
    assert fresh is not held
    assert st.read(spark) is fresh
    assert eng.execute_rows(SEL) == expected


@pytest.mark.parametrize("name", sorted(CHANGES))
def test_wire_reflects_change(spark, wh, name):
    path, srv = wh
    conn = connect_tcp("127.0.0.1", srv.port)
    try:
        conn.use("d")
        assert conn.execute(SEL) == _sec1(range(1, 6))
        assert conn.execute(SEL) == _sec1(range(1, 6))  # served by the held plan
        change, expected = CHANGES[name]
        _apply(spark, path, change, conn.execute)
        assert conn.execute(SEL) == expected
    finally:
        conn.close()


def test_bucketed_reads_share_a_plan_per_bucket(spark, wh):
    path, _ = wh
    _compact(spark, path, hash_buckets=4)
    st = Engine(spark, path).store("d", "t")
    plans = {sec: st.read(spark, leading_eq=sec) for sec in range(1, 40)}
    buckets = {sec: st._bucket_of(sec, 4) for sec in plans}
    for a in plans:
        for b in plans:
            assert (plans[a] is plans[b]) == (buckets[a] == buckets[b])
    assert st.read(spark, leading_eq=1) is plans[1]
    # pruned and unpruned reads agree on every sec
    for sec in (1, 2, 3):
        got = st.read(spark, leading_eq=sec).filter(f"sec = {sec}").collect()
        assert sorted(r.tm for r in got) == [t * 10**9 for t in range(1, 6)]
    # time travel is never cached
    seq = st.current_seq()
    assert st.read(spark, as_of_seq=seq) is not st.read(spark, as_of_seq=seq)


def test_adj_insert_refreshes_factor_table(spark, wh):
    path, srv = wh
    eng = Engine(spark, path)
    eng.use("d")
    conn = connect_tcp("127.0.0.1", srv.port)
    try:
        conn.use("d")
        unadjusted = [((t, 0), float(t)) for t in range(1, 6)]
        adj_st = eng.store("d", "_adj_")
        assert eng.execute_rows(ADJ_SEL) == unadjusted
        assert conn.execute(ADJ_SEL) == unadjusted
        held = adj_st.read(spark)
        assert adj_st.read(spark) is held
        # forward: rows before the event (time > tm) take its factor
        eng.execute("insert into _adj_(sec, time, px, vol) values(1, 3, 0.5, 1.0)")
        assert adj_st.read(spark) is not held
        halved = [((t, 0), t * (0.5 if t < 3 else 1.0)) for t in range(1, 6)]
        assert eng.execute_rows(ADJ_SEL) == halved
        assert conn.execute(ADJ_SEL) == halved
        eng.execute("insert into _adj_(sec, time, px, vol) values(1, 5, 0.5, 1.0)")
        quartered = [
            ((t, 0), t * (0.25 if t < 3 else 0.5 if t < 5 else 1.0))
            for t in range(1, 6)
        ]
        assert conn.execute(ADJ_SEL) == quartered
        assert eng.execute_rows(ADJ_SEL) == quartered
    finally:
        conn.close()


def test_factor_table_of_an_older_snapshot_leaves_newer_queries_alone(spark, wh):
    """Connections share the factor-table slot of ``_adj_``. A reader still
    at an older snapshot swaps the slot back to that snapshot's table; a
    query already planned on the newer table must keep returning the
    newer factors."""
    from opentick_spark.operators.adj import apply_adj, factor_table

    path, _ = wh
    eng = Engine(spark, path)
    eng.use("d")
    adj_st, rows = eng.store("d", "_adj_"), eng.store("d", "t").read(spark)
    rows = rows.filter("sec = 1")
    # both snapshots are log-only, so their scans have the same root paths
    eng.execute("insert into _adj_(sec, time, px, vol) values(2, 3, 0.5, 1.0)")
    adj1, key1 = adj_st.read(spark, with_snapshot=True)
    eng.execute("insert into _adj_(sec, time, px, vol) values(1, 3, 0.5, 1.0)")
    adj2, key2 = adj_st.read(spark, with_snapshot=True)
    assert key2 != key1
    kw = dict(px_cols=["px"], vol_cols=[])
    newer = apply_adj(rows, adj2, "sec", "tm", snapshot=(adj_st.path, key2), **kw)
    factor_table(adj1, False, (adj_st.path, key1))
    halved = [(t * 10**9, t * (0.5 if t < 3 else 1.0)) for t in range(1, 6)]
    assert sorted((r.tm, r.px) for r in newer.collect()) == halved
    older = apply_adj(rows, adj1, "sec", "tm", snapshot=(adj_st.path, key1), **kw)
    assert sorted((r.tm, r.px) for r in older.collect()) == [
        (t * 10**9, float(t)) for t in range(1, 6)
    ]
    assert sorted((r.tm, r.px) for r in newer.collect()) == halved


@pytest.mark.parametrize("lead", ["tinyint", "smallint", "int", "bigint", "timestamp"])
def test_bucket_of_matches_spark(spark, tmp_path, lead):
    """``_bucket_of`` (Python) agrees with ``_bucket_expr`` (Spark) on
    every integer lead type it covers, at the type's limits and on random
    values, for several bucket counts: a mismatch would make a pruned
    read filter on the wrong bucket and return no rows."""
    import random

    from pyspark.sql import types as T

    from opentick_spark.typesys import spark_type

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database b")
    eng.use("b")
    eng.execute(f"create table t(k {lead}, v double, primary key(k))")
    st = eng.store("b", "t")
    bits = st._INT_BITS[lead]
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    rng = random.Random(7)
    values = [0, 1, -1, lo, hi, lo + 1, hi - 1]
    values += [rng.randint(lo, hi) for _ in range(200)]
    col = st.schema.key_columns[0].physical
    df = spark.createDataFrame(
        [(v,) for v in values], T.StructType([T.StructField(col, spark_type(lead))])
    )
    counts = (1, 2, 4, 7, 64, 1000)
    got = df.select(col, *[st._bucket_expr(nb).alias(f"b{nb}") for nb in counts])
    for r in got.collect():
        for nb in counts:
            assert st._bucket_of(r[col], nb) == r[f"b{nb}"], (lead, r[col], nb)
    # values outside the column type are not bucketed in Python
    assert st._bucket_of(hi + 1, 4) is None and st._bucket_of(lo - 1, 4) is None


def test_recompaction_replans(spark, wh):
    """Compactions of an already-compacted table leave the log listing
    empty throughout; the new base directory and the meta ``seq`` still
    change the snapshot key, so no read is served the old base's
    (deleted) files."""
    path, _ = wh
    _compact(spark, path)
    eng = Engine(spark, path)
    eng.use("d")
    st = eng.store("d", "t")
    for kw in (dict(hash_buckets=4), dict(hash_buckets=4), dict()):
        held = st.read(spark)
        assert eng.execute_rows(SEL) == _sec1(range(1, 6))
        _compact(spark, path, **kw)
        assert st.read(spark) is not held
        assert eng.execute_rows(SEL) == _sec1(range(1, 6))


def test_concurrent_reads_and_commits_never_serve_a_stale_plan(spark, tmp_path):
    """Stress: more threads than cores share one store, each committing a
    key and then reading. A read that starts after a commit returned
    must not get a plan cached before it (the check-then-store in
    ``read`` keeps a plan built under an older key out of the cache);
    the final read holds every committed key."""
    import sys
    import threading

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database s")
    eng.use("s")
    eng.execute("create table t(a int, v int, primary key(a))")
    st = eng.store("s", "t")
    n_threads, n_commits = 8, 4
    errors = []

    def worker(w):
        try:
            for i in range(n_commits):
                before = st.read(spark)
                st.append_columns({"a": [w * 100 + i], "v": [i]})
                if st.read(spark) is before:
                    errors.append((w, i))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    got = sorted(r.a for r in st.read(spark).collect())
    assert got == sorted(w * 100 + i for w in range(n_threads) for i in range(n_commits))
