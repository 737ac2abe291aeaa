"""End-to-end engine tests mirroring query_test.go and server_test.go:
DDL, insert→select→range→delete roundtrips, exact validation-error
messages, upsert-by-PK, tail limit, placeholder binding, rename."""

import pytest

from opentick_spark.engine import Engine
from opentick_spark.errors import OpentickError


@pytest.fixture()
def kv(engine):
    """F3 fixture: test(a int, b int, b2 boolean, c int, d double, e bigint,
    primary key(a, b, b2, c)) — query_test.go:14."""
    engine.execute("create database d")
    engine.use("d")
    engine.execute(
        "create table test(a int, b int, b2 boolean, c int, d double, e bigint, "
        "primary key(a, b, b2, c))"
    )
    for args in [(2, 1, True, 42, 2.2, 102), (2, 1, True, 41, 2.2, 104), (2, 1, True, 39, 2.2, 105)]:
        engine.execute(
            "insert into test(a, b, b2, c, d, e) values(?, ?, ?, ?, ?, ?)", *args
        )
    return engine


def test_roundtrip_point_and_range(kv):
    rows = kv.execute_rows("select * from test where a=2 and b=1 and b2=true and c=41")
    assert rows == [(2, 1, True, 41, 2.2, 104)]
    # exclusive range on last constrained key → exactly c=41
    rows = kv.execute_rows(
        "select c, e from test where a=2 and b=1 and b2=true and c>39 and c<42"
    )
    assert rows == [(41, 104)]
    # inclusive range → all three, ascending by PK
    rows = kv.execute_rows(
        "select c from test where a=2 and b=1 and b2=true and c>=39 and c<=42"
    )
    assert rows == [(39,), (41,), (42,)]


def test_tail_limit_descending(kv):
    # LIMIT -2 = last two rows in DESCENDING order (query_test.go:117-120)
    rows = kv.execute_rows("select c from test where a=2 and b=1 and b2=true limit -2")
    assert rows == [(42,), (41,)]
    rows = kv.execute_rows("select c from test where a=2 and b=1 and b2=true limit 2")
    assert rows == [(39,), (41,)]


def test_upsert_same_pk_overwrites(kv):
    # server_test.go:96-99: re-insert same PK replaces the row
    kv.execute("insert into test(a, b, b2, c, d) values(2, 1, true, 41, 9.9)")
    rows = kv.execute_rows("select d, e from test where a=2 and b=1 and b2=true and c=41")
    assert rows == [(9.9, None)]  # sparse row: e not supplied → NULL


def test_range_delete(kv):
    kv.execute("delete from test where a=2 and b=1 and b2=true and c>=39 and c<42")
    rows = kv.execute_rows("select c from test where a=2 and b=1 and b2=true")
    assert rows == [(42,)]


def test_validation_errors(kv):
    # exact reference error strings (query_test.go:42-97)
    cases = [
        (
            "select * from test where a=1 and d=3",
            "Invalid column d in where clause, only primary key can be used",
        ),
        (
            "select * from test where a=1 and x=3",
            "Undefined column name x",
        ),
        (
            "select * from test where a=1 and b2>true",
            'Invalid operator (>) for "b2" of type Boolean',
        ),
        (
            "select * from test where a=1 and a=2",
            "a cannot be restricted by more than one relation if it includes an Equal",
        ),
        (
            "select * from test where a<1 and a=2",
            "a cannot be restricted by more than one relation if it includes an Equal",
        ),
        (
            "select * from test where a<1 and a<2",
            "More than one restriction was found for the end bound on a",
        ),
        (
            "select * from test where a>1 and a>=2",
            "More than one restriction was found for the start bound on a",
        ),
        (
            "select * from test where a=1 and c=3",
            "Cannot execute this query as it might involve data filtering and thus may have unpredictable performance",
        ),
        (
            "select * from test where a<2 and b=1",
            "Cannot execute this query as it might involve data filtering and thus may have unpredictable performance",
        ),
        ("select a, a from test", "Duplicate column name a"),
        ("select z from test", "Undefined column name z"),
    ]
    for sql, msg in cases:
        with pytest.raises(OpentickError) as ei:
            engine_result = kv.execute(sql)
            if engine_result is not None:
                engine_result.collect()
        assert str(ei.value) == msg, sql


def test_placeholder_arity_and_types(kv):
    with pytest.raises(OpentickError) as ei:
        kv.execute("select * from test where a=? and b=?", 1)
    assert str(ei.value) == "Expected 2 arguments, got 1"
    with pytest.raises(OpentickError) as ei:
        kv.execute("insert into test(a, b, b2, c) values(?, ?, ?, ?)", 1, 2, True, "x")
    assert 'for "c" of int' in str(ei.value)


def test_insert_validation(kv):
    with pytest.raises(OpentickError) as ei:
        kv.execute("insert into test(a, b, b2) values(1, 2, true)")
    assert str(ei.value) == "Some primary keys are missing: c"
    with pytest.raises(OpentickError) as ei:
        kv.execute("insert into test(a, b, b2, c, x) values(1, 2, true, 3, 4)")
    assert str(ei.value) == "Undefined column name x"
    with pytest.raises(OpentickError) as ei:
        kv.execute("insert into test(a, a, b2, c) values(1, 2, true, 3)")
    assert str(ei.value) == "Duplicate column name a"
    with pytest.raises(OpentickError) as ei:
        kv.execute("insert into test(a, b, b2, c) values(1, 2, true)")
    assert str(ei.value) == "Unmatched column names/values"


def test_saturating_int_clamp(kv):
    # tinyint/int clamp (query.go:709-728): value saturates, no wrap
    kv.execute("create table clamp_t(a tinyint, b int, primary key(a))")
    kv.execute("insert into clamp_t(a, b) values(?, ?)", 300, 2**40)
    rows = kv.execute_rows("select a, b from clamp_t")
    assert rows == [(127, 2147483647)]


def test_create_table_validation(kv):
    with pytest.raises(OpentickError) as ei:
        kv.execute("create table t2(a int, b int)")
    assert str(ei.value) == "PRIMARY KEY not declared"
    with pytest.raises(OpentickError) as ei:
        kv.execute("create table t2(a int, a int, primary key(a))")
    assert str(ei.value) == "Duplicate column name a"
    with pytest.raises(OpentickError) as ei:
        kv.execute("create table t2(a int, primary key(a, z))")
    assert str(ei.value) == "Unknown PRIMARY KEY column z"


def test_rename_table_and_column(kv):
    kv.execute("alter table test rename to test2")
    rows = kv.execute_rows("select c from test2 where a=2 and b=1 and b2=true limit 1")
    assert rows == [(39,)]
    kv.execute("alter table test2 rename column e to e2")
    rows = kv.execute_rows("select e2 from test2 where a=2 and b=1 and b2=true and c=42")
    assert rows == [(102,)]
    with pytest.raises(OpentickError):
        kv.execute("select e from test2")


def test_batch_insert_atomic(kv):
    pid = kv.prepare("insert into test(a, b, b2, c, e) values(?, ?, ?, ?, ?)")
    kv.batch_insert(pid, [(5, 1, False, i, 100 + i) for i in range(10)])
    rows = kv.execute_rows("select c, e from test where a=5 and b=1 and b2=false")
    assert rows == [(i, 100 + i) for i in range(10)]


def test_timestamp_forms(kv):
    kv.execute("create table ts_t(s int, tm timestamp, x double, primary key(s, tm))")
    # int seconds, [sec, nsec] pair, RFC3339 string (query.go:754-778)
    kv.execute("insert into ts_t(s, tm, x) values(?, ?, ?)", 1, 10, 1.0)
    kv.execute("insert into ts_t(s, tm, x) values(?, ?, ?)", 1, [10, 5], 2.0)
    kv.execute("insert into ts_t(s, tm, x) values(?, ?, ?)", 1, "1970-01-01T00:00:20Z", 3.0)
    rows = kv.execute_rows("select tm, x from ts_t where s=1")
    assert rows == [((10, 0), 1.0), ((10, 5), 2.0), ((20, 0), 3.0)]
    # range over nanosecond boundary
    rows = kv.execute_rows("select x from ts_t where s=1 and tm>? and tm<=?", 10, [20, 0])
    assert rows == [(2.0,), (3.0,)]


def test_meta_and_catalog(kv):
    assert "test" in kv.list_tables("d")
    assert kv.table_meta("d", "test") == [
        [("a", "int"), ("b", "int"), ("b2", "boolean"), ("c", "int")],
        [("d", "double"), ("e", "bigint")],
    ]
    assert "_adj_" in kv.list_tables("d")


def test_compaction_preserves_state(kv, spark):
    st = kv.store("d", "test")
    before = sorted(kv.execute_rows("select * from test"))
    st.compact(spark)
    after = sorted(kv.execute_rows("select * from test"))
    assert before == after
    # upsert after compaction still wins
    kv.execute("insert into test(a, b, b2, c, d) values(2, 1, true, 39, 7.7)")
    rows = kv.execute_rows("select d from test where a=2 and b=1 and b2=true and c=39")
    assert rows == [(7.7,)]


def test_split_range_math():
    """Golden split semantics (mirrors server_test.go:12-31): shared
    adjacent bounds, last part absorbs the remainder."""
    from opentick_spark.engine import split_range

    c2 = split_range(100, 1000, 11)
    assert len(c2) == 11
    assert c2[0] == (100, 100 + (1000 - 100) // 11)
    assert c2[5] == (
        100 + (1000 - 100) // 11 * 5,
        100 + (1000 - 100) // 11 * 6,
    )
    assert c2[10][0] == 100 + (1000 - 100) // 11 * 10
    assert c2[10][1] == 1000
    c3 = split_range(100.0, 1000.0, 11)
    assert c3[0][1] == 100.0 + (1000.0 - 100.0) / 11
    assert c3[10][1] == 1000.0
    assert split_range(1, 10, 1) == []
    assert split_range(1, 10.0, 3) == []


def test_execute_split_dedups_boundary(kv):
    """Inclusive sub-ranges share boundary rows; execute_split's merge
    drops them (client/opentick.go:302-317)."""
    from opentick_spark.engine import split_range

    eng = kv
    eng.execute(
        "create table if not exists kvr(k int, t timestamp, x double, primary key(k, t))"
    )
    pid = eng.prepare("insert into kvr(k, t, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(9, i, float(i)) for i in range(100)])
    ranges = split_range(0, 99, 4)
    df = eng.execute_split("select k, t, x from kvr where k=9 and t>=? and t<=?", ranges)
    rows = sorted((r.t for r in df.collect()))
    assert rows == [i * 1_000_000_000 for i in range(100)]


def test_execute_split_coalesces_contiguous_ranges(kv):
    """A contiguous n-way split is a client-parallelism artifact
    (client/opentick.go:63-127); the engine coalesces it back to ONE
    range predicate, so the physical plan carries no Or disjunction —
    identical rows, tighter pushdown (r11)."""
    from opentick_spark.engine import split_range

    eng = kv
    eng.execute(
        "create table if not exists kvc(k int, t timestamp, x double, primary key(k, t))"
    )
    pid = eng.prepare("insert into kvc(k, t, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(3, i, float(i)) for i in range(200)])
    sql = "select k, t, x from kvc where k=3 and t>=? and t<=?"
    df = eng.execute_split(sql, split_range(10, 189, 10))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert " OR " not in plan and "Or(" not in plan
    got = [r.t for r in df.collect()]
    assert got == [i * 1_000_000_000 for i in range(10, 190)]
    # rows path takes the same coalesced scan
    rows = eng.execute_rows(sql, ranges=split_range(10, 189, 10))
    assert len(rows) == 180 and rows[0][1] == (10, 0) and rows[-1][1] == (189, 0)


def test_execute_split_gap_keeps_disjuncts(kv):
    """Non-contiguous sub-ranges must stay a union: the gap rows are
    excluded, and exclusive bounds never merge across a shared endpoint
    (t>10,t<20 ∪ t>20,t<30 excludes 20 itself)."""
    eng = kv
    eng.execute(
        "create table if not exists kvg(k int, t timestamp, x double, primary key(k, t))"
    )
    pid = eng.prepare("insert into kvg(k, t, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(5, i, float(i)) for i in range(60)])
    # true gap: [0,9] ∪ [30,39] — 20 rows, nothing from the gap
    df = eng.execute_split(
        "select k, t, x from kvg where k=5 and t>=? and t<=?",
        [(30, 39), (0, 9)],
    )
    got = [r.t // 1_000_000_000 for r in df.collect()]
    assert got == list(range(0, 10)) + list(range(30, 40))
    # exclusive bounds sharing an endpoint: 20 is in NEITHER sub-range
    df2 = eng.execute_split(
        "select k, t, x from kvg where k=5 and t>? and t<?",
        [(10, 20), (20, 30)],
    )
    got2 = [r.t // 1_000_000_000 for r in df2.collect()]
    assert got2 == list(range(11, 20)) + list(range(21, 30))
    # ...but adjacent-by-one exclusive ints DO coalesce exactly:
    # (10,21)∪(20,31) covers 11..20 ∪ 21..30 = [11,30]
    df3 = eng.execute_split(
        "select k, t, x from kvg where k=5 and t>? and t<?",
        [(10, 21), (20, 31)],
    )
    plan3 = df3._jdf.queryExecution().executedPlan().toString()
    assert " OR " not in plan3 and "Or(" not in plan3
    got3 = [r.t // 1_000_000_000 for r in df3.collect()]
    assert got3 == list(range(11, 31))


def test_bucketed_compaction_prunes_and_preserves(kv, spark):
    """hash_buckets compaction: directory-partitioned base, identical
    table state, and leading-PK point queries prune bucket partitions."""
    eng = kv
    eng.execute(
        "create table if not exists bkt(k int, t timestamp, x double, primary key(k, t))"
    )
    pid = eng.prepare("insert into bkt(k, t, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(k, i, float(k * 100 + i)) for k in range(8) for i in range(20)])
    before = eng.execute_rows("select k, t, x from bkt")
    eng.store("d", "bkt").compact(spark, target_partitions=4, hash_buckets=4)
    after = eng.execute_rows("select k, t, x from bkt")
    assert before == after
    # upserts after compaction still resolve latest-wins across base+log
    eng.execute("insert into bkt(k, t, x) values(?, ?, ?)", 3, 5, 999.0)
    rows = eng.execute_rows("select x from bkt where k=3 and t=?", [5, 0])
    assert rows == [(999.0,)]
    # partition pruning: the physical plan's scan reads a subset of
    # bucket directories for a leading-key point query
    df = eng.execute("select k, t, x from bkt where k=3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan
    assert len(df.collect()) == 20


def test_auto_compaction(spark, tmp_path):
    from opentick_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh_ac"), auto_compact_every=5)
    eng.execute("create database a")
    eng.use("a")
    eng.execute("create table t(k int, t timestamp, x double, primary key(k, t))")
    for i in range(12):
        eng.execute("insert into t(k, t, x) values(?, ?, ?)", 1, i, float(i))
    st = eng.store("a", "t")
    # at least one compaction fired; log stays short
    assert st.commits_since_compact() < 5
    rows = eng.execute_rows("select k, t, x from t where k=1")
    assert len(rows) == 12 and rows[0] == (1, (0, 0), 0.0)


def test_execute_split_projection_without_pk(kv):
    """Split reads must dedup on the PK even when the projection omits it
    (two rows sharing a projected value must both survive)."""
    from opentick_spark.engine import split_range

    eng = kv
    eng.execute(
        "create table if not exists kvp(k int, t timestamp, x double, primary key(k, t))"
    )
    pid = eng.prepare("insert into kvp(k, t, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(9, i, 1.0) for i in range(50)])  # identical x
    df = eng.execute_split(
        "select x from kvp where k=9 and t>=? and t<=?", split_range(0, 49, 4)
    )
    assert len(df.collect()) == 50


def test_pre_1970_timestamp_roundtrip(spark, tmp_path):
    """Negative-epoch datetimes must not skew by the sub-second part
    (timedelta arithmetic, not int(timestamp())+microsecond)."""
    import datetime as dt

    from opentick_spark.typesys import from_epoch_nanos, to_epoch_nanos

    d = dt.datetime(1969, 12, 31, 23, 59, 59, 500000, tzinfo=dt.timezone.utc)
    ns = to_epoch_nanos(d)
    assert ns == -500_000_000
    sec, nsec = from_epoch_nanos(ns)
    assert sec * 1_000_000_000 + nsec == ns
    # positive epoch unaffected
    d2 = dt.datetime(1970, 1, 1, 0, 0, 1, 250000, tzinfo=dt.timezone.utc)
    assert to_epoch_nanos(d2) == 1_250_000_000


def test_compact_empty_table_still_readable(kv, spark):
    """Compacting a fully-deleted table leaves a part-less base; reads
    must return zero rows, not fail schema inference."""
    kv.execute("delete from test where a=2")
    store = kv.store("d", "test")
    store.compact(spark)
    assert kv.execute_rows("select * from test") == []
    # and the table accepts new writes afterwards
    kv.execute("insert into test(a, b, b2, c, d) values(1, 1, true, 1, 1.5)")
    assert kv.execute_rows("select a, c, d from test") == [(1, 1, 1.5)]


def test_cross_instance_seq_no_overwrite(spark, tmp_path):
    """Two Engine instances sharing one warehouse must never allocate the
    same commit seq (fcntl file lock) — both commits survive."""
    from opentick_spark.engine import Engine

    wh = str(tmp_path / "wh")
    e1 = Engine(spark, wh)
    e1.execute("create database d")
    e1.use("d")
    e1.execute("create table t(a int, v int, primary key(a))")
    e2 = Engine(spark, wh)
    e2.use("d")
    e1.execute("insert into t(a, v) values(1, 10)")
    e2.execute("insert into t(a, v) values(2, 20)")
    e1.execute("insert into t(a, v) values(3, 30)")
    assert e2.execute_rows("select * from t") == [(1, 10), (2, 20), (3, 30)]


def test_bulk_commit_intra_batch_last_wins(spark, tmp_path):
    """Duplicate PKs inside ONE bulk (append_dataframe) commit resolve by
    row position — the later row wins, mirroring sequential tr.Set."""
    from opentick_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database d")
    eng.use("d")
    eng.execute("create table t(a int, v int, primary key(a))")
    store = eng.store("d", "t")
    df = spark.createDataFrame(
        [(1, 100), (2, 200), (1, 111)], "a int, v int"
    ).coalesce(1)
    store.append_dataframe(df)
    assert eng.execute_rows("select * from t") == [(1, 111), (2, 200)]


def test_bulk_commit_multi_partition_last_wins(spark, tmp_path):
    """Same contract across MULTIPLE input partitions: __sub is
    monotonically_increasing_id = (partition_id << 33) | row-in-partition,
    so 'DataFrame row order' means partition-index order first, then row
    position within the partition — duplicate PKs in a later partition
    beat any in an earlier one, regardless of which executor finishes
    first. This pins the semantics append_dataframe's docstring claims
    (table.py) on a genuinely multi-partition commit."""
    from pyspark.sql import Row

    from opentick_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database d")
    eng.use("d")
    eng.execute("create table t(a int, v int, primary key(a))")
    store = eng.store("d", "t")
    # 8 rows over 4 even slices of 2: PK 1 spans partitions 0/1/2 (444
    # last, in partition 2), PK 2 spans 0/1 (222 last), PK 3 collides
    # twice INSIDE partition 3 (row position breaks the tie → 333)
    rows = [
        Row(a=1, v=100), Row(a=2, v=200),   # partition 0
        Row(a=1, v=110), Row(a=2, v=222),   # partition 1
        Row(a=4, v=400), Row(a=1, v=444),   # partition 2
        Row(a=3, v=300), Row(a=3, v=333),   # partition 3
    ]
    rdd = spark.sparkContext.parallelize(rows, numSlices=4)
    df = spark.createDataFrame(rdd, "a int, v int")
    assert df.rdd.getNumPartitions() == 4
    store.append_dataframe(df)
    assert eng.execute_rows("select * from t") == [
        (1, 444),
        (2, 222),
        (3, 333),
        (4, 400),
    ]


def test_partial_staged_commit_invisible(spark, tmp_path):
    """A crashed bulk writer leaves its staging dir under data/ (never
    inside log/): readers must not see half-written commits, and a retry
    of the same seq must fail loudly rather than silently merge."""
    import os

    from opentick_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database d")
    eng.use("d")
    eng.execute("create table t(a int, v int, primary key(a))")
    eng.execute("insert into t(a, v) values(1, 10)")
    store = eng.store("d", "t")
    # simulate a dead writer: staged parquet junk next to (not inside) log/
    staged = os.path.join(store.data_path, "commit-000000000099.deadbeef.tmp")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet at all")
    assert eng.execute_rows("select * from t") == [(1, 10)]
    # normal writes continue to work around the junk
    eng.execute("insert into t(a, v) values(2, 20)")
    assert eng.execute_rows("select * from t") == [(1, 10), (2, 20)]


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet"])
def test_export_import_roundtrip(spark, tmp_path, fmt):
    """Interchange surface: export the current state, import it into an
    identically-shaped empty table, and the two must read back equal —
    including upserted/deleted rows being resolved before export."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database x")
    eng.use("x")
    ddl = (
        "create table {n}(sec int, tm timestamp, px double, note text, "
        "primary key(sec, tm))"
    )
    eng.execute(ddl.format(n="a"))
    eng.execute(ddl.format(n="b"))
    pid = eng.prepare("insert into a(sec, tm, px, note) values(?, ?, ?, ?)")
    eng.batch_insert(pid, [(1, i, float(i), f"r{i}") for i in range(20)])
    eng.execute("insert into a(sec, tm, px, note) values(?, ?, ?, ?)", 1, 5, 99.0, "upserted")
    eng.execute("delete from a where sec=1 and tm>=15 and tm<20")

    out = tmp_path / f"dump.{fmt}"
    eng.store("x", "a").export_data(spark, str(out), fmt)
    eng.store("x", "b").import_data(spark, str(out), fmt)

    a = sorted(map(tuple, eng.execute("select sec, tm, px, note from a").collect()))
    b = sorted(map(tuple, eng.execute("select sec, tm, px, note from b").collect()))
    assert a == b and len(a) == 15
    assert [r for r in a if r[1] == 5_000_000_000][0][2] == 99.0


def test_import_is_one_atomic_upsert_commit(spark, tmp_path):
    """An import lands as exactly one commit (S8 batch-insert semantics)
    and upserts into existing data by PK."""
    import glob

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database x")
    eng.use("x")
    eng.execute("create table t(a int, b timestamp, x double, primary key(a, b))")
    eng.execute("insert into t(a, b, x) values(?, ?, ?)", 1, 1, 1.0)
    store = eng.store("x", "t")
    n_before = len(glob.glob(store.log_path + "/commit-*"))

    src = tmp_path / "in.csv"
    spark.createDataFrame(
        [(1, 1_000_000_000, 100.0), (1, 2_000_000_000, 2.0)], "a int, b long, x double"
    ).coalesce(1).write.option("header", "true").mode("overwrite").csv(str(src))
    store.import_data(spark, str(src), "csv")

    n_after = len(glob.glob(store.log_path + "/commit-*"))
    assert n_after == n_before + 1
    rows = sorted(map(tuple, eng.execute("select a, b, x from t").collect()))
    assert rows == [(1, 1_000_000_000, 100.0), (1, 2_000_000_000, 2.0)]


def test_time_travel_read(spark, tmp_path):
    """Snapshot reads on the commit log: as_of_seq replays the table as
    of any commit; deletes/upserts after the snapshot are invisible;
    snapshots predating a compaction raise."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database x")
    eng.use("x")
    eng.execute("create table t(a int, b timestamp, x double, primary key(a, b))")
    store = eng.store("x", "t")

    eng.execute("insert into t(a, b, x) values(?, ?, ?)", 1, 1, 1.0)
    s1 = store.current_seq()
    eng.execute("insert into t(a, b, x) values(?, ?, ?)", 1, 1, 2.0)  # upsert
    eng.execute("insert into t(a, b, x) values(?, ?, ?)", 1, 2, 3.0)
    s2 = store.current_seq()
    eng.execute("delete from t where a=1 and b>=1 and b<2")
    s3 = store.current_seq()

    def snap(s=None):
        return sorted(
            (r.a, r.b, r.x) for r in store.read(spark, as_of_seq=s).collect()
        )

    ns = 1_000_000_000
    assert snap(s1) == [(1, 1 * ns, 1.0)]
    assert snap(s2) == [(1, 1 * ns, 2.0), (1, 2 * ns, 3.0)]
    assert snap(s3) == [(1, 2 * ns, 3.0)]
    assert snap() == snap(s3)

    # compaction collapses history: old snapshots error, newer ones work
    store.compact(spark)
    sc = store.current_seq()
    with pytest.raises(ValueError, match="predates"):
        store.read(spark, as_of_seq=s2)
    assert snap(sc) == snap()
    eng.execute("insert into t(a, b, x) values(?, ?, ?)", 9, 9, 9.0)
    assert snap(sc) == [(1, 2 * ns, 3.0)]  # post-compact commit excluded
    assert snap() == [(1, 2 * ns, 3.0), (9, 9 * ns, 9.0)]


def test_engine_sql_full_relational_surface(spark, tmp_path):
    """Engine.sql: full Spark SQL (joins, windows, CTEs) over warehouse
    tables' resolved current state — upserts and deletes visible, ACLs
    enforced per table."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database x")
    eng.use("x")
    eng.execute("create table px(sec int, tm timestamp, p double, primary key(sec, tm))")
    eng.execute("create table names(sec int, nm text, primary key(sec))")
    pid = eng.prepare("insert into px(sec, tm, p) values(?, ?, ?)")
    eng.batch_insert(pid, [(s, t, float(10 * s + t)) for s in (1, 2) for t in (1, 2, 3)])
    eng.execute("insert into px(sec, tm, p) values(?, ?, ?)", 1, 1, 99.0)  # upsert
    eng.execute("insert into names(sec, nm) values(?, ?)", 1, "AAPL")
    eng.execute("insert into names(sec, nm) values(?, ?)", 2, "MSFT")

    out = eng.sql(
        """
        WITH ranked AS (
          SELECT n.nm, p.p,
                 ROW_NUMBER() OVER (PARTITION BY p.sec ORDER BY p.tm DESC) rk
          FROM px p JOIN names n ON p.sec = n.sec
        )
        SELECT nm, p FROM ranked WHERE rk = 1 ORDER BY nm
        """
    ).collect()
    assert [(r.nm, r.p) for r in out] == [("AAPL", 13.0), ("MSFT", 23.0)]
    # upsert visible through the view
    first = eng.sql("SELECT p FROM px WHERE sec=1 ORDER BY tm LIMIT 1").collect()
    assert first[0].p == 99.0


def test_engine_sql_respects_read_acl(spark, tmp_path):
    from opentick_spark.errors import OpentickError as E

    admin = Engine(spark, str(tmp_path / "wh"))  # control off -> admin
    admin.execute("create database x")
    admin.use("x")
    admin.execute("create table t(a int, primary key(a))")
    admin.create_user("bob", "pw", perm="other=read")
    restricted = Engine(spark, str(tmp_path / "wh"), permission_control=True)
    restricted.login("bob", "pw")
    with pytest.raises(E, match="No permisssion"):
        restricted.sql("SELECT * FROM t", db="x")


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """TableStore.diff: added/removed/changed classification between two
    snapshots, empty diff for identical snapshots, and the compaction
    guard inherited from time-travel reads."""
    import pytest as _pytest

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database x")
    eng.use("x")
    eng.execute("create table t(a int, b timestamp, x double, primary key(a, b))")
    store = eng.store("x", "t")
    pid = eng.prepare("insert into t(a, b, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(1, i, float(i)) for i in range(4)])
    s1 = store.current_seq()

    # no-op window: identical snapshots diff to zero rows
    assert store.diff(spark, s1, s1).count() == 0

    eng.batch_insert(pid, [(1, 2, 22.0), (1, 9, 9.0)])  # change b=2, add b=9
    eng.execute("delete from t where a=1 and b>=0 and b<1")  # remove b=0
    ns = 1_000_000_000
    got = sorted(
        (r.a, r.b, r.change, r.x)
        for r in store.diff(spark, s1).collect()
    )
    assert got == [
        (1, 0 * ns, "removed", None),
        (1, 2 * ns, "changed", 22.0),
        (1, 9 * ns, "added", 9.0),
    ]
    # upserting an identical value is NOT a change
    s2 = store.current_seq()
    eng.execute("insert into t(a, b, x) values(?, ?, ?)", 1, 3, 3.0)
    assert store.diff(spark, s2).count() == 0

    store.compact(spark)
    with _pytest.raises(ValueError, match="predates"):
        store.diff(spark, s1)


def test_storage_model_random_ops(spark, tmp_path):
    """Model-based check of the storage engine: a seeded random sequence
    of batch upserts (with intra-batch PK collisions) and range deletes
    runs against both the TableStore and a plain dict model with
    last-wins semantics. The final read, every intermediate time-travel
    snapshot, and every snapshot-pair diff must agree with the model."""
    import random

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database m")
    eng.use("m")
    ns = 1_000_000_000

    for seed in (7, 41):
        tbl = f"t{seed}"
        eng.execute(
            f"create table {tbl}(a int, b timestamp, x double, primary key(a, b))"
        )
        store = eng.store("m", tbl)
        pid = eng.prepare(f"insert into {tbl}(a, b, x) values(?, ?, ?)")
        rnd = random.Random(seed)
        model: dict[tuple[int, int], float] = {}
        snapshots: list[tuple[int, dict]] = []
        for _ in range(12):
            if rnd.random() < 0.75:
                rows = [
                    (rnd.randint(0, 2), rnd.randint(0, 9), round(rnd.random() * 100, 3))
                    for _ in range(rnd.randint(1, 6))
                ]
                eng.batch_insert(pid, rows)
                for a, b, x in rows:  # batch order = last wins
                    model[(a, b * ns)] = x
            else:
                a = rnd.randint(0, 2)
                lo = rnd.randint(0, 9)
                hi = lo + rnd.randint(1, 4)
                eng.execute(
                    f"delete from {tbl} where a=? and b>=? and b<?", a, lo, hi
                )
                for k in [k for k in model if k[0] == a and lo * ns <= k[1] < hi * ns]:
                    del model[k]
            snapshots.append((store.current_seq(), dict(model)))

        def state(as_of=None):
            return {
                (r.a, r.b): r.x
                for r in store.read(spark, as_of_seq=as_of).collect()
            }

        assert state() == snapshots[-1][1]
        for s, m in snapshots[::3]:
            assert state(s) == m, f"seed={seed} snapshot seq={s}"
        # diff between two random snapshots matches the model delta
        (sa, ma), (sb, mb) = snapshots[2], snapshots[-1]
        got = {
            (r.a, r.b): (r.change, r.x)
            for r in store.diff(spark, sa, sb).collect()
        }
        want = {}
        for k in mb.keys() - ma.keys():
            want[k] = ("added", mb[k])
        for k in ma.keys() - mb.keys():
            want[k] = ("removed", None)
        for k in ma.keys() & mb.keys():
            if ma[k] != mb[k]:
                want[k] = ("changed", mb[k])
        assert got == want, f"seed={seed}"


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """compact(zorder=[a, x]) must make row-group min/max stats selective
    on BOTH z columns, where the PK-range layout is selective only on
    the leading PK. Measured directly from the parquet footers: the
    fraction of files whose [min,max] straddles a point predicate."""
    import glob

    import pyarrow.parquet as pq

    def overlap_fraction(base, col, val):
        files = [f for f in glob.glob(f"{base}/**/*.parquet", recursive=True)]
        hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        s = c.statistics
                        if s.min <= val <= s.max:
                            hit += 1
        total = sum(
            pq.ParquetFile(f).metadata.num_row_groups for f in files
        )
        return hit / max(1, total), total

    def build(name, **compact_kw):
        eng = Engine(spark, str(tmp_path / name))
        eng.execute("create database z")
        eng.use("z")
        eng.execute(
            "create table t(a int, b timestamp, x double, primary key(a, b))"
        )
        pid = eng.prepare("insert into t(a, b, x) values(?, ?, ?)")
        rows = [
            (i % 100, i, float((i * 37) % 100)) for i in range(20000)
        ]
        for off in range(0, 20000, 5000):
            eng.batch_insert(pid, rows[off : off + 5000])
        st = eng.store("z", "t")
        st.compact(spark, target_partitions=8, **compact_kw)
        # state identical regardless of layout
        assert st.read(spark).count() == 20000
        return st

    pk_store = build("pk")
    z_store = build("zord", zorder=["a", "x"])

    pk_a, n1 = overlap_fraction(pk_store.base_path, "a", 50)
    pk_x, _ = overlap_fraction(pk_store.base_path, "x", 50.0)
    z_a, n2 = overlap_fraction(z_store.base_path, "a", 50)
    z_x, _ = overlap_fraction(z_store.base_path, "x", 50.0)
    assert n1 >= 8 and n2 >= 8
    # PK layout: leading key prunes, the value column does not
    assert pk_a <= 0.5
    assert pk_x == 1.0
    # z layout: BOTH dimensions prune
    assert z_a <= 0.75 and z_x <= 0.75, (z_a, z_x)


def test_zorder_validation(spark, tmp_path):
    import pytest as _pytest

    eng = Engine(spark, str(tmp_path / "zv"))
    eng.execute("create database z")
    eng.use("z")
    eng.execute("create table t(a int, b timestamp, x double, primary key(a, b))")
    st = eng.store("z", "t")
    with _pytest.raises(ValueError, match="mutually exclusive"):
        st.compact(spark, hash_buckets=4, zorder=["a"])
    with _pytest.raises(ValueError, match="1-3"):
        st.compact(spark, zorder=["a", "b", "x", "a"])


def test_engine_sql_time_travel(spark, tmp_path):
    """Engine.sql(as_of=...) runs full SQL against a snapshot: global int
    pins every view, dict pins per table."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database q")
    eng.use("q")
    eng.execute("create table t(a int, x double, primary key(a))")
    pid = eng.prepare("insert into t(a, x) values(?, ?)")
    eng.batch_insert(pid, [(i, float(i)) for i in range(5)])
    s1 = eng.store("q", "t").current_seq()
    eng.batch_insert(pid, [(1, 100.0), (9, 9.0)])

    cur = eng.sql("SELECT COUNT(*) AS n, SUM(x) AS s FROM t").collect()[0]
    old = eng.sql("SELECT COUNT(*) AS n, SUM(x) AS s FROM t", as_of=s1).collect()[0]
    assert (cur.n, cur.s) == (6, 0 + 100.0 + 2 + 3 + 4 + 9)
    assert (old.n, old.s) == (5, 10.0)
    perd = eng.sql(
        "SELECT COUNT(*) AS n FROM t", as_of={"t": s1}
    ).collect()[0]
    assert perd.n == 5
    # dict leaves unnamed tables at current state
    eng.execute("create table u(a int, y double, primary key(a))")
    eng.execute("insert into u(a, y) values(1, 5.0)")
    both = eng.sql(
        "SELECT (SELECT COUNT(*) FROM t) AS nt, (SELECT COUNT(*) FROM u) AS nu",
        as_of={"t": s1},
    ).collect()[0]
    assert (both.nt, both.nu) == (5, 1)


def test_explain_select_returns_plan_rows(engine):
    engine.execute("create database ex")
    engine.use("ex")
    engine.execute("create table t(a int, tm timestamp, v double, primary key(a, tm))")
    engine.execute("insert into t(a, tm, v) values(?, ?, ?)", 1, (5, 0), 2.5)
    rows = engine.execute_rows("explain select v from t where a=1")
    text = "\n".join(r[0] for r in rows)
    assert "Physical Plan" in text
    # the PK equality must reach the scan — the whole point of exposing it
    assert "PushedFilters" in text
    with __import__("pytest").raises(Exception):
        engine.execute("explain insert into t(a, tm, v) values(1, (5,0), 1.0)")


def test_storage_stats_tracks_layout_health(engine, spark):
    engine.execute("create database ss")
    engine.use("ss")
    engine.execute("create table t(a int, tm timestamp, v double, primary key(a, tm))")
    pid = engine.prepare("insert into t(a, tm, v) values(?, ?, ?)")
    for b in range(3):
        engine.batch_insert(pid, [(b, (i, 0), float(i)) for i in range(50)])
    store = engine.store("ss", "t")
    st = store.storage_stats()
    assert st["log_files"] == 3 and st["log_rows"] == 150
    assert st["base_files"] == 0 and st["pending_commits"] == 3
    assert st["log_bytes"] > 0
    store.compact(spark)
    st2 = store.storage_stats()
    assert st2["log_files"] == 0 and st2["pending_commits"] == 0
    assert st2["base_rows"] == 150
    # PK-sorted single-writer base: lead-PK file ranges must not overlap
    assert st2["pk_overlap"] == 0


def test_changes_feed_is_delta_sized_write_ordered(engine, spark):
    engine.execute("create database cdc")
    engine.use("cdc")
    engine.execute("create table t(a int, tm timestamp, v double, primary key(a, tm))")
    pid = engine.prepare("insert into t(a, tm, v) values(?, ?, ?)")
    engine.batch_insert(pid, [(1, (1, 0), 1.0), (1, (2, 0), 2.0)])  # seq 1
    store = engine.store("cdc", "t")
    mark = store.current_seq()
    engine.batch_insert(pid, [(1, (2, 0), 2.5), (2, (3, 0), 3.0)])  # seq 2
    engine.execute("delete from t where a=? and tm=?", 1, [1, 0])  # seq 3
    rows = sorted(
        (r["_seq"], r["_sub"], r["_op"], r["a"], r["v"])
        for r in store.changes(spark, mark).collect()
    )
    assert [(s, op, a, v) for s, _, op, a, v in rows] == [
        (mark + 1, "upsert", 1, 2.5),
        (mark + 1, "upsert", 2, 3.0),
        # tombstones carry the row's last values (delete_where resolves
        # then re-appends with delete=True)
        (mark + 2, "delete", 1, 1.0),
    ]
    # full feed from 0; inverted and pre-compaction ranges raise
    assert store.changes(spark, 0).count() == 5
    import pytest as _pt

    with _pt.raises(ValueError, match="inverted"):
        store.changes(spark, 5, 2)
    store.compact(spark)
    with _pt.raises(ValueError, match="compaction"):
        store.changes(spark, 0)


def test_maybe_compact_policy(engine, spark):
    engine.execute("create database mc")
    engine.use("mc")
    engine.execute("create table t(a int, v int, primary key(a))")
    pid = engine.prepare("insert into t(a, v) values(?, ?)")
    store = engine.store("mc", "t")
    for i in range(3):
        engine.batch_insert(pid, [(i * 10 + j, j) for j in range(5)])
    assert store.maybe_compact(spark, max_pending_commits=5) is False
    assert store.commits_since_compact() == 3  # untouched
    assert store.maybe_compact(spark, max_pending_commits=2) is True
    assert store.commits_since_compact() == 0
    st = store.storage_stats()
    assert st["base_rows"] == 15 and st["log_files"] == 0
    # byte-based trigger
    engine.batch_insert(pid, [(100, 1)])
    assert store.maybe_compact(spark, max_pending_commits=99, max_log_bytes=10) is True


def test_execute_split_rows_matches_dataframe_path(kv):
    """Split ``execute_rows``: client-materialized SplitRange (Arrow
    collect + driver-side PK sort) returns exactly the sorted
    DataFrame path's rows, including boundary dedup of inclusive
    sub-ranges — timestamps in the (sec, nsec) client form."""
    eng = kv
    eng.execute(
        "create table if not exists kvr(k int, t timestamp, x double, "
        "primary key(k, t))"
    )
    pid = eng.prepare("insert into kvr(k, t, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(9, i, float(i)) for i in range(100)])
    ranges = [(0, 4), (4, 8)]  # share boundary t=4
    sql = "select k, t, x from kvr where k=9 and t>=? and t<=?"
    rows = eng.execute_rows(sql, ranges=ranges)
    assert len(rows) == 9  # 0..8 inclusive, boundary deduped
    assert [r[2] for r in rows] == [float(i) for i in range(9)]
    # int timestamp literals are SECONDS → (sec, nsec) client form
    assert all(r[1] == (i, 0) for i, r in enumerate(rows))
    # x-only projection (PK carried internally, dropped at the end)
    xs = eng.execute_rows(
        "select x from kvr where k=9 and t>=? and t<=?", ranges=ranges
    )
    assert [r[0] for r in xs] == [float(i) for i in range(9)]


def test_merge_into_clause_matrix_and_atomicity(spark, tmp_path):
    """r8 TableStore.merge_into: update/delete/insert clause matrix,
    ONE commit per merge (atomic visibility), untouched rows untouched,
    and loud errors for bad clauses / missing source columns."""
    import pytest

    from opentick_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database m")
    eng.use("m")
    eng.execute("create table t(k int, v double, tag text, primary key(k))")
    pid = eng.prepare("insert into t(k, v, tag) values(?, ?, ?)")
    eng.batch_insert(pid, [(i, float(i), "old") for i in range(5)])
    st = eng.store("m", "t")

    seq0 = st.current_seq()
    src = spark.createDataFrame(
        [(1, 11.0, "u"), (3, 33.0, "u"), (7, 77.0, "n")],
        "k int, v double, tag string",
    )
    st.merge_into(spark, src)  # update + insert defaults
    assert st.current_seq() == seq0 + 1  # ONE atomic commit
    got = {r["k"]: (r["v"], r["tag"]) for r in eng.execute("select * from t").collect()}
    assert got == {
        0: (0.0, "old"), 1: (11.0, "u"), 2: (2.0, "old"),
        3: (33.0, "u"), 4: (4.0, "old"), 7: (77.0, "n"),
    }

    # delete-matched, ignore-unmatched; delete source needs only the PK
    st.merge_into(
        spark,
        spark.createDataFrame([(2,), (99,)], "k int"),
        when_matched="delete",
        when_not_matched=None,
    )
    assert sorted(
        r["k"] for r in eng.execute("select k from t").collect()
    ) == [0, 1, 3, 4, 7]

    # matched=None leaves matched rows alone, still inserts new ones
    st.merge_into(
        spark,
        spark.createDataFrame(
            [(0, 999.0, "x"), (8, 88.0, "n")], "k int, v double, tag string"
        ),
        when_matched=None,
        when_not_matched="insert",
    )
    got = {r["k"]: r["v"] for r in eng.execute("select * from t").collect()}
    assert got[0] == 0.0 and got[8] == 88.0

    # no-op merge appends nothing
    seq = st.current_seq()
    st.merge_into(
        spark,
        spark.createDataFrame([(0, 1.0, "y")], "k int, v double, tag string"),
        when_matched=None,
        when_not_matched=None,
    )
    assert st.current_seq() == seq

    with pytest.raises(ValueError, match="when_matched"):
        st.merge_into(spark, src, when_matched="upsert")
    # a source missing a PK column is always an error; missing VALUE
    # columns are the sparse path (r9) — see the compose test below
    with pytest.raises(ValueError, match="missing columns"):
        st.merge_into(spark, spark.createDataFrame([(1.0,)], "v double"))
    # sparse source (r10, SQL MERGE semantics): omitted value columns
    # PRESERVE the target's existing value on a matched update — a
    # partial source cannot silently erase data
    st.merge_into(
        spark, spark.createDataFrame([(1, "sp")], "k int, tag string")
    )
    assert eng.execute_rows("select v, tag from t where k=1") == [
        (11.0, "sp"),
    ]


def test_merge_into_composes_with_add_column(kv):
    """r9 (VERDICT item 4): the two r8 storage features compose —
    MERGE INTO against a table that has been ALTER TABLE ADD COLUMN'd.
    A source that OMITS the new column preserves it on matched updates
    and NULL-backfills it on inserts (r10 SQL MERGE semantics); a
    source that includes it lands values; rename + re-add (distinct
    physical columns) and compaction preserve both."""
    kv.execute("create table mc(k int, v double, primary key(k))")
    pid = kv.prepare("insert into mc(k, v) values(?, ?)")
    kv.batch_insert(pid, [(i, float(i)) for i in range(4)])
    kv.execute("alter table mc add column tag text")
    st = kv.store("d", "mc")
    spark = kv.spark

    # source omits the evolved column -> preserved (NULL) on the
    # matched update, NULL backfill on the insert
    seq0 = st.current_seq()
    st.merge_into(
        spark,
        spark.createDataFrame([(1, 11.0), (9, 99.0)], "k int, v double"),
    )
    assert st.current_seq() == seq0 + 1  # still ONE atomic commit
    assert sorted(kv.execute_rows("select k, v, tag from mc")) == [
        (0, 0.0, None),
        (1, 11.0, None),
        (2, 2.0, None),
        (3, 3.0, None),
        (9, 99.0, None),
    ]

    # source includes the evolved column -> values land
    st.merge_into(
        spark,
        spark.createDataFrame(
            [(2, 22.0, "t2"), (10, 100.0, "t10")],
            "k int, v double, tag string",
        ),
    )
    got = {k: (v, t) for k, v, t in kv.execute_rows("select * from mc")}
    assert got[2] == (22.0, "t2") and got[10] == (100.0, "t10")
    assert got[1] == (11.0, None)

    # rename the evolved column away and re-add it (distinct physical):
    # a merge addressing the NEW `tag` must not resurrect old physicals,
    # and the sparse update preserves k=2's existing v and old_tag (r10)
    kv.execute("alter table mc rename column tag to old_tag")
    kv.execute("alter table mc add column tag int")
    st.merge_into(
        spark,
        spark.createDataFrame([(2, 7)], "k int, tag int"),
    )
    assert kv.execute_rows(
        "select v, old_tag, tag from mc where k=2"
    ) == [(22.0, "t2", 7)]

    # merged state survives compaction of the evolved schema
    st.compact(spark)
    got = {
        k: (v, o, t)
        for k, v, o, t in kv.execute_rows(
            "select k, v, old_tag, tag from mc"
        )
    }
    assert got[2] == (22.0, "t2", 7)
    assert got[10] == (100.0, "t10", None)
    # and a post-compact sparse merge still preserves the evolved cols
    st.merge_into(spark, spark.createDataFrame([(0, 0.5)], "k int, v double"))
    assert kv.execute_rows(
        "select v, old_tag, tag from mc where k=0"
    ) == [(0.5, None, None)]


def test_merge_into_prunes_target_by_source_range(spark, tmp_path):
    """r10 (VERDICT item 3): merge_into's matched-ness scan reads
    delta-RANGE target state, not the full table — the source's
    leading-PK min/max is pushed into the parquet scans (PushedFilters
    reach the scan below the latest-wins aggregate), an empty source
    collapses to an empty relation, and pruning never changes results
    (boundary keys included, outside keys untouched, tombstoned keys
    still re-insertable)."""
    from pyspark.sql import functions as F

    from opentick_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database p")
    eng.use("p")
    eng.execute("create table t(k int, v double, primary key(k))")
    pid = eng.prepare("insert into t(k, v) values(?, ?)")
    eng.batch_insert(pid, [(i, float(i)) for i in range(100)])
    st = eng.store("p", "t")
    st.compact(spark, target_partitions=4)  # PK-sorted multi-file base
    eng.execute("insert into t(k, v) values(?, ?)", 11, 110.0)  # + log commit

    src = spark.createDataFrame([(10, -1.0), (12, -2.0)], "k int, v double")
    scan = st._merge_scan(spark, src, "k")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the range predicate reached the parquet scans (base AND log)
    assert "PushedFilters" in plan
    assert plan.count("GreaterThanOrEqual") >= 2  # one per scan
    assert plan.count("LessThanOrEqual") >= 2
    # the pruned scan still resolves latest-wins within the range
    got = {r.k: r.v for r in scan.collect()}
    assert got == {10: 10.0, 11: 110.0, 12: 12.0}

    # empty source: the scan collapses, and the merge is still correct
    empty = spark.createDataFrame([], "k int, v double")
    assert st._merge_scan(spark, empty, "k").count() == 0

    # pruned merge end-to-end: boundary keys update, outside untouched
    st.merge_into(spark, src)
    rows = dict(eng.execute_rows("select k, v from t where k>=9 and k<=13"))
    assert rows == {9: 9.0, 10: -1.0, 11: 110.0, 12: -2.0, 13: 13.0}
    # a key OUTSIDE the pruned range inserts (unmatched by construction)
    st.merge_into(spark, spark.createDataFrame([(200, 2.0)], "k int, v double"))
    assert eng.execute_rows("select v from t where k=200") == [(2.0,)]
    # tombstoned key inside the range: unmatched -> re-insert
    eng.execute("delete from t where k=10")
    st.merge_into(spark, spark.createDataFrame([(10, 5.5)], "k int, v double"))
    assert eng.execute_rows("select v from t where k=10") == [(5.5,)]
    # total row count conserved (no row lost to over-pruning)
    assert len(eng.execute_rows("select k from t")) == 101

    # single-lead-key source on a hash-bucketed base: the merge scan
    # prunes whole __bucket directories (the per-entity delta shape)
    st.compact(spark, target_partitions=4, hash_buckets=4)
    one = spark.createDataFrame([(42, -42.0)], "k int, v double")
    plan = (
        st._merge_scan(spark, one, "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "__bucket" in plan  # directory-level pruning engaged
    st.merge_into(spark, one)
    assert eng.execute_rows("select v from t where k=42") == [(-42.0,)]
    assert len(eng.execute_rows("select k from t")) == 101


def test_add_column_schema_evolution(kv):
    """r8 ALTER TABLE ADD COLUMN: old rows NULL-backfill (explicit-
    schema reads), new writes carry the column, PK additions are
    impossible grammar-wise and duplicates rejected; the rename-away +
    re-add sequence cannot shadow the old physical column, and the
    atomic select renames survive compaction of such a schema."""
    kv.execute("create table ev(k int, v double, primary key(k))")
    kv.execute("insert into ev(k, v) values(1, 1.5)")
    kv.execute("alter table ev add column tag text")
    assert kv.execute_rows("select k, v, tag from ev") == [(1, 1.5, None)]
    kv.execute("insert into ev(k, v, tag) values(2, 2.5, 'x')")
    assert sorted(kv.execute_rows("select k, tag from ev")) == [
        (1, None), (2, "x"),
    ]
    with pytest.raises(OpentickError, match="already exists"):
        kv.execute("alter table ev add column k int")
    # rename v away, re-add v: distinct physical, no shadowing
    kv.execute("alter table ev rename column v to w")
    kv.execute("alter table ev add column v int")
    kv.execute("insert into ev(k, w, v) values(3, 3.5, 7)")
    rows = sorted(kv.execute_rows("select k, w, v from ev"))
    assert rows == [(1, 1.5, None), (2, 2.5, None), (3, 3.5, 7)]
    st = kv.store("d", "ev")
    st.compact(kv.spark)
    assert sorted(kv.execute_rows("select k, w, v, tag from ev")) == [
        (1, 1.5, None, None), (2, 2.5, None, "x"), (3, 3.5, 7, None),
    ]
    # post-compact writes and upserts still line up column-wise
    kv.execute("insert into ev(k, w, v, tag) values(1, 9.5, 9, 'up')")
    assert kv.execute_rows("select w, v, tag from ev where k=1") == [
        (9.5, 9, "up"),
    ]


def test_drop_column_schema_evolution(kv):
    """r10 ALTER TABLE DROP COLUMN (extension): schema-only drop, PK
    columns protected, and — the load-bearing part — a re-added column
    of the same name NEVER resurrects the dropped values (the physical
    name is retired; old files keep carrying it but reads mint NULLs),
    including through rename chains and compaction."""
    spark = kv.spark
    kv.execute("create table dc(k int, v double, tag text, primary key(k))")
    pid = kv.prepare("insert into dc(k, v, tag) values(?, ?, ?)")
    kv.batch_insert(pid, [(i, float(i) * 10, f"t{i}") for i in range(3)])

    kv.execute("alter table dc drop column tag")
    assert kv.execute_rows("select k, v from dc where k=1") == [(1, 10.0)]
    with pytest.raises(OpentickError):
        kv.execute("select tag from dc")
    with pytest.raises(OpentickError):
        kv.execute("insert into dc(k, v, tag) values(9, 9.0, 'x')")
    with pytest.raises(OpentickError, match="primary key"):
        kv.execute("alter table dc drop column k")
    with pytest.raises(OpentickError, match="Undefined column"):
        kv.execute("alter table dc drop column nope")

    # re-add the same name: fresh physical, NO resurrection of t0..t2
    kv.execute("alter table dc add column tag text")
    assert sorted(kv.execute_rows("select k, tag from dc")) == [
        (0, None), (1, None), (2, None),
    ]
    kv.execute("insert into dc(k, v, tag) values(3, 30.0, 'new')")
    assert kv.execute_rows("select tag from dc where k=3") == [("new",)]

    # rename-then-drop retires the CREATION physical: rename v->w, drop
    # w, re-add v -- the new v must not read the old v-physical values
    kv.execute("alter table dc rename column v to w")
    kv.execute("alter table dc drop column w")
    kv.execute("alter table dc add column v double")
    assert sorted(kv.execute_rows("select k, v from dc")) == [
        (0, None), (1, None), (2, None), (3, None),
    ]

    # the evolved schema survives compaction (dropped physicals shed)
    st = kv.store("d", "dc")
    st.compact(spark)
    assert sorted(kv.execute_rows("select k, v, tag from dc")) == [
        (0, None, None), (1, None, None), (2, None, None),
        (3, None, "new"),
    ]
    # post-compact writes land normally
    kv.execute("insert into dc(k, v, tag) values(0, 0.5, 'z')")
    assert kv.execute_rows("select v, tag from dc where k=0") == [(0.5, "z")]


def test_modify_column_widens_types(kv):
    """r11 ALTER TABLE MODIFY COLUMN (extension): lossless type widening
    is schema-only — old files keep the narrow physical type (Spark 4's
    parquet reader widens on read), new writes use the wide type, and
    the two agree bit-for-bit before and after compaction. Narrowing and
    non-numeric changes are rejected; same-type MODIFY is a no-op."""
    spark = kv.spark
    kv.execute("create table mc(k int, t timestamp, v float, primary key(k, t))")
    kv.execute("insert into mc(k, t, v) values(1, 1, 1.5)")
    # pre-widen int clamps at the narrow bound (saturating semantics)
    kv.execute("insert into mc(k, t, v) values(5000000000, 1, 0.5)")
    assert kv.execute_rows("select k from mc where k=2147483647") == [
        (2147483647,)
    ]

    kv.execute("alter table mc modify column v double")
    kv.execute("alter table mc modify column k bigint")
    # post-widen: the full bigint range lands; old float rows read exact
    kv.execute("insert into mc(k, t, v) values(5000000000, 2, 2.25)")
    assert kv.execute_rows("select k, v from mc where k=5000000000") == [
        ((5000000000), 2.25)
    ]
    assert kv.execute_rows("select v from mc where k=1") == [(1.5,)]

    with pytest.raises(OpentickError, match="only widening"):
        kv.execute("alter table mc modify column v float")
    with pytest.raises(OpentickError, match="only widening"):
        kv.execute("alter table mc modify column t bigint")
    with pytest.raises(OpentickError, match="Undefined column"):
        kv.execute("alter table mc modify column nope bigint")
    kv.execute("alter table mc modify column v double")  # no-op

    # compaction rewrites the base under the widened schema
    st = kv.store("d", "mc")
    st.compact(spark)
    assert sorted(kv.execute_rows("select k, v from mc")) == [
        (1, 1.5), (2147483647, 0.5), (5000000000, 2.25),
    ]


def test_modify_column_lead_pk_widen_vs_hash_buckets(kv):
    """Widening the LEADING PK across xxhash64 width classes invalidates
    a hash-bucketed layout's pruning metadata (stored __bucket values
    were computed from the narrow hash) — reads stay correct unpruned,
    and the next compact(hash_buckets=N) re-buckets under the wide
    type. Widening within the int family (same hash class) keeps the
    bucketed layout intact."""
    spark = kv.spark
    kv.execute("create table bw(k smallint, t timestamp, v double, primary key(k, t))")
    pid = kv.prepare("insert into bw(k, t, v) values(?, ?, ?)")
    kv.batch_insert(pid, [(i, 1, float(i)) for i in range(20)])
    st = kv.store("d", "bw")
    st.compact(spark, hash_buckets=4)

    # same hash class: smallint -> int keeps buckets AND point gets work
    kv.execute("alter table bw modify column k int")
    st = kv.store("d", "bw")
    assert st._meta().get("hash_buckets") == 4
    assert kv.execute_rows("select v from bw where k=7") == [(7.0,)]

    # class change: int -> bigint clears buckets; everything still reads
    kv.execute("alter table bw modify column k bigint")
    st = kv.store("d", "bw")
    assert st._meta().get("hash_buckets") is None
    assert kv.execute_rows("select v from bw where k=7") == [(7.0,)]
    kv.execute("insert into bw(k, t, v) values(7000000000, 1, 70.0)")
    assert len(kv.execute_rows("select k from bw")) == 21

    # re-bucket under the widened type: pruned point gets are correct
    # for narrow-era and wide-era keys alike
    st.compact(spark, hash_buckets=4)
    st = kv.store("d", "bw")
    assert st._meta().get("hash_buckets") == 4
    assert kv.execute_rows("select v from bw where k=7") == [(7.0,)]
    assert kv.execute_rows("select v from bw where k=7000000000") == [(70.0,)]


def test_modify_column_direct_catalog_self_heals_buckets(kv):
    """Review fix (r11): a DIRECT Catalog.modify_column call (bypassing
    the engine's eager invalidation) must still read correctly on a
    hash-bucketed layout — compact records bucket_hash_class and the
    read path ignores a layout whose class no longer matches the
    (widened) leading PK type."""
    spark = kv.spark
    kv.execute("create table sh(k int, t timestamp, v double, primary key(k, t))")
    pid = kv.prepare("insert into sh(k, t, v) values(?, ?, ?)")
    kv.batch_insert(pid, [(i, 1, float(i)) for i in range(16)])
    st = kv.store("d", "sh")
    st.compact(spark, hash_buckets=4)
    assert st._meta().get("bucket_hash_class") == "int32"

    kv.catalog.modify_column("d", "sh", "k", "bigint")  # no engine hook
    st = kv.store("d", "sh")
    # metadata still present (nobody invalidated) but classed stale
    assert st._meta().get("hash_buckets") == 4
    assert st._effective_buckets(st._meta()) is None
    # pruned point get would have probed the wrong bucket; self-heal
    # reads unpruned and stays correct
    assert kv.execute_rows("select v from sh where k=7") == [(7.0,)]


def test_modify_keyword_is_not_reserved(kv):
    """Review fix (r11): a pre-existing column named "modify" must stay
    usable after MODIFY joined the grammar — select/insert/alter all
    accept it as an identifier."""
    kv.execute("create table nr(k int, modify double, primary key(k))")
    kv.execute("insert into nr(k, modify) values(1, 2.5)")
    assert kv.execute_rows("select modify from nr where k=1") == [(2.5,)]
    kv.execute("alter table nr modify column modify double")  # no-op widen
    kv.execute("alter table nr rename column modify to modified")
    assert kv.execute_rows("select modified from nr where k=1") == [(2.5,)]


def test_execute_split_varying_lead_equality_no_bucket_misprune(kv):
    """Review fix (r11): when the split ranges themselves bind the
    LEADING PK equality (legal — ranges bind the last two placeholders,
    whatever they are), the scan must NOT bucket-prune to branch 0's
    key: every branch's rows survive on a hash-bucketed layout."""
    spark = kv.spark
    kv.execute("create table vs(k int, t timestamp, v double, primary key(k, t))")
    pid = kv.prepare("insert into vs(k, t, v) values(?, ?, ?)")
    kv.batch_insert(pid, [(k, 1, float(k)) for k in range(12)])
    st = kv.store("d", "vs")
    st.compact(spark, hash_buckets=6)
    # last two placeholders bind (k, t): one point per branch, three
    # branches with three different lead keys
    rows = kv.execute_rows(
        "select k, v from vs where k=? and t=?",
        ranges=[(2, 1), (5, 1), (9, 1)],
    )
    assert sorted(rows) == [(2, 2.0), (5, 5.0), (9, 9.0)]
    df = kv.execute_split(
        "select k, v from vs where k=? and t=?",
        [(2, 1), (5, 1), (9, 1)],
    )
    assert sorted(map(tuple, df.collect())) == [(2, 2.0), (5, 5.0), (9, 9.0)]


def test_batch_insert_idempotency_key(kv):
    """Engine-level retry-safe batches (r10): the same key dedups even
    across compaction; distinct keys and keyless batches apply."""
    kv.execute("create table ib(a int, v double, primary key(a))")
    sql = "insert into ib(a, v) values(?, ?)"
    pid = kv.prepare(sql)
    st = kv.store("d", "ib")
    seq0 = st.current_seq()
    kv.batch_insert(pid, [(1, 1.0)], idempotency_key="k1")
    kv.batch_insert(pid, [(1, 111.0)], idempotency_key="k1")  # retry: no-op
    assert st.current_seq() == seq0 + 1
    assert kv.execute_rows("select v from ib where a=1") == [(1.0,)]
    st.compact(kv.spark)
    kv.batch_insert(pid, [(1, 222.0)], idempotency_key="k1")  # still deduped
    assert kv.execute_rows("select v from ib where a=1") == [(1.0,)]
    kv.batch_insert(pid, [(2, 2.0)], idempotency_key="k2")
    kv.batch_insert(pid, [(3, 3.0)])
    assert len(kv.execute_rows("select a from ib")) == 3


def test_batch_retry_noop_after_schema_evolution(kv):
    """A retry of an already-applied batch is an UNCONDITIONAL no-op
    (r11 advice fix): the marker check runs before binding/validation,
    so the retry succeeds even after ALTER TABLE DROP COLUMN removed a
    bound column — before the fix it raised on re-validation."""
    kv.execute("create table ev(k int, v double, tag text, primary key(k))")
    pid = kv.prepare("insert into ev(k, v, tag) values(?, ?, ?)")
    kv.batch_insert(pid, [(1, 1.5, "a")], idempotency_key="ev1")
    kv.execute("alter table ev drop column tag")
    # same batch, same key, schema evolved between attempts: no-op
    kv.batch_insert(pid, [(1, 1.5, "a")], idempotency_key="ev1")
    assert kv.execute_rows("select k, v from ev") == [(1, 1.5)]


def test_compaction_marker_fold_strict_on_read_error(kv, monkeypatch):
    """Compaction's marker fold reads sidecars/footers STRICTLY (r11
    advice fix): a transient OSError during the fold aborts the (not
    yet mutating) compaction instead of silently GC'ing the only copy
    of a marker; the retry folds it into meta and dedup survives."""
    import pyarrow.parquet as pq

    kv.execute("create table sm(a int, v double, primary key(a))")
    pid = kv.prepare("insert into sm(a, v) values(?, ?)")
    kv.batch_insert(pid, [(1, 1.0)], idempotency_key="sk1")
    st = kv.store("d", "sm")
    # make the marker live ONLY in the commit footer (drop the meta
    # cache) so the compaction fold is what preserves it
    meta = st._meta()
    meta["applied_markers"] = []
    st._write_meta(meta)
    st._marker_dir_cache.clear()
    assert st.has_applied_marker("sk1")  # via the footer scan

    real = pq.read_schema
    boom = {"on": True}

    def flaky(path, *a, **k):
        if boom["on"]:
            raise OSError("simulated EMFILE during marker fold")
        return real(path, *a, **k)

    st._marker_dir_cache.clear()
    monkeypatch.setattr(
        "opentick_spark.table.pq.read_schema", flaky
    )
    with pytest.raises(OSError):
        st.compact(kv.spark)
    # nothing was mutated: log commits intact, marker still visible
    st._marker_dir_cache.clear()
    boom["on"] = False
    assert st.has_applied_marker("sk1")
    # retry succeeds and folds the marker into meta before log GC
    st.compact(kv.spark)
    assert "sk1" in st._meta().get("applied_markers", [])
    kv.batch_insert(pid, [(1, 999.0)], idempotency_key="sk1")  # deduped
    assert kv.execute_rows("select v from sm where a=1") == [(1.0,)]


def test_bulk_bind_value_identical_to_per_row(kv):
    """The columnar bind must be value-identical however a batch is
    cut: clamps, int timestamps (seconds -> nanos), int->float
    coercion, sparse column lists. Twin tables, one loaded as one
    80-row batch, one as 80 one-row batches, must read back equal."""
    for t in ("bb_fast", "bb_slow"):
        kv.execute(
            f"create table {t}(k int, tiny tinyint, ts timestamp, "
            "x double, flag boolean, tag text, primary key(k))"
        )
    rows = []
    for i in range(80):
        rows.append(
            (
                i,
                i * 100 - 4000,  # clamps outside [-128, 127]
                i * 7,  # int seconds -> nanos
                i if i % 2 == 0 else i + 0.5,  # mixed int/float doubles
                i % 3 == 0,
                f"t{i}",
            )
        )
    sql = "insert into {t}(k, tiny, ts, x, flag, tag) values(?, ?, ?, ?, ?, ?)"
    kv.batch_insert(kv.prepare(sql.format(t="bb_fast")), rows)
    pid = kv.prepare(sql.format(t="bb_slow"))
    for r in rows:
        kv.batch_insert(pid, [r])
    fast = kv.execute_rows("select * from bb_fast")
    slow = kv.execute_rows("select * from bb_slow")
    assert fast == slow
    assert len(fast) == 80
    # clamp actually engaged
    tinies = {r[1] for r in fast}
    assert -128 in tinies and 127 in tinies
    # sparse column list still NULL-fills
    kv.execute("create table bb_sp(k int, a double, b text, primary key(k))")
    kv.batch_insert(
        kv.prepare("insert into bb_sp(k, a) values(?, ?)"),
        [(i, float(i)) for i in range(70)],
    )
    got = kv.execute_rows("select k, a, b from bb_sp where k=3")
    assert got == [(3, 3.0, None)]


def test_batch_insert_columns_matches_rows(kv):
    """batch_insert_columns (r11, the wire '3p' path) is semantically
    identical to batch_insert of the transposed rows — screened columns,
    fallback (timestamp tuples), exact arity error, ragged rejection,
    and idempotency keys."""
    for t in ("bc_a", "bc_b"):
        kv.execute(
            f"create table {t}(k int, ts timestamp, x double, "
            "primary key(k))"
        )
    ks = list(range(100))
    tss = [k * 3 for k in ks]
    xs = [float(k) for k in ks]
    kv.batch_insert_columns(
        "insert into bc_a(k, ts, x) values(?, ?, ?)", [ks, tss, xs]
    )
    rows = list(zip(ks, tss, xs))
    kv.batch_insert(kv.prepare("insert into bc_b(k, ts, x) values(?, ?, ?)"), rows)
    assert kv.execute_rows("select * from bc_a") == kv.execute_rows(
        "select * from bc_b"
    )
    # fallback leg: (sec, nsec) tuples reject the screen, validate_value
    # lands them with identical values
    kv.batch_insert_columns(
        "insert into bc_a(k, ts, x) values(?, ?, ?)",
        [[500, 501], [(7, 250), 7], [1.0, 2.0]],
    )
    got = dict(
        (r[0], r[1]) for r in kv.execute_rows("select k, ts from bc_a where k>=500")
    )
    assert got[500] == (7, 250) and got[501] == (7, 0)
    # arity error matches the rows path exactly
    with pytest.raises(OpentickError, match="Expected 3 arguments, got 2"):
        kv.batch_insert_columns(
            "insert into bc_a(k, ts, x) values(?, ?, ?)", [[1], [2]]
        )
    # ragged columns fail loudly (a transpose would silently drop rows)
    with pytest.raises(OpentickError, match="ragged"):
        kv.batch_insert_columns(
            "insert into bc_a(k, ts, x) values(?, ?, ?)",
            [[1, 2], [3], [1.0, 2.0]],
        )
    # ...including when the FIRST column is the empty one (r11 review:
    # the empty-batch early return must not shadow the ragged check)
    with pytest.raises(OpentickError, match="ragged"):
        kv.batch_insert_columns(
            "insert into bc_a(k, ts, x) values(?, ?, ?)",
            [[], [1], [1.0]],
        )
    # idempotency key dedups like the rows path
    kv.batch_insert_columns(
        "insert into bc_a(k, ts, x) values(?, ?, ?)",
        [[900], [1], [1.0]],
        idempotency_key="bc-1",
    )
    kv.batch_insert_columns(
        "insert into bc_a(k, ts, x) values(?, ?, ?)",
        [[900], [1], [999.0]],
        idempotency_key="bc-1",
    )
    assert kv.execute_rows("select x from bc_a where k=900") == [(1.0,)]


def test_bulk_bind_falls_back_with_exact_errors(kv):
    """A single bad row in a large batch must still raise the exact
    reference error string (the screen rejects the column and
    validate_value over that column reports it), and mixed timestamp
    forms fall back silently with correct values."""
    kv.execute("create table bf(k int, v double, primary key(k))")
    pid = kv.prepare("insert into bf(k, v) values(?, ?)")
    bad = [(i, float(i)) for i in range(99)] + [("oops", 1.0)]
    with pytest.raises(
        OpentickError, match=r'Invalid str value \(oops\) for "k" of int'
    ):
        kv.batch_insert(pid, bad)
    # ragged row: exact arity error
    with pytest.raises(OpentickError, match="Expected 2 arguments, got 3"):
        kv.batch_insert(pid, [(i, 1.0) for i in range(64)] + [(1, 2.0, 3)])
    # mixed timestamp forms ([sec, nsec] pair among ints) fall back and
    # both forms land as the same nanos
    kv.execute("create table bt(k int, ts timestamp, primary key(k))")
    pid2 = kv.prepare("insert into bt(k, ts) values(?, ?)")
    rows = [(i, i) for i in range(70)] + [(100, [5, 250]), (101, 5)]
    kv.batch_insert(pid2, rows)
    got = dict(kv.execute_rows("select k, ts from bt where k>=100"))
    assert got[101] == (5, 0) and got[100] == (5, 250)


def test_batch_error_order_is_row_major(kv):
    """Every batch entry point raises the error a row-major walk over
    the batch would hit first — rows in order, insert columns in order
    within a row, a row's arity checked before its values — at any batch
    size, and an already-applied idempotency key wins over all of them."""
    kv.execute("create table eo(k int, v double, primary key(k))")
    sql = "insert into eo(k, v) values(?, ?)"
    pid = kv.prepare(sql)
    v_err = r'Invalid str value \(x\) for "v" of double'

    def batches(rows):
        # the same leading rows as a 3-row and a 70-row batch
        return [rows, rows + [(i, float(i)) for i in range(3, 70)]]

    def as_cols(rows):
        return [list(c) for c in zip(*rows)]

    # bad v at row 1 and bad k at row 2: the row-1 v error
    for rows in batches([(0, 0.0), (1, "x"), ("y", 2.0)]):
        with pytest.raises(OpentickError, match=v_err):
            kv.batch_insert(pid, rows)
        with pytest.raises(OpentickError, match=v_err):
            kv.batch_insert_columns(pid, as_cols(rows))
    # a bad value at row 1 before a ragged row 2: the value error
    for rows in batches([(0, 0.0), (1, "x"), (2,)]):
        with pytest.raises(OpentickError, match=v_err):
            kv.batch_insert(pid, rows)
    # a ragged row 1 before a bad value: the arity error
    for rows in batches([(0, 0.0), (1,), ("y", 2.0)]):
        with pytest.raises(OpentickError, match="Expected 2 arguments, got 1"):
            kv.batch_insert(pid, rows)
    # columns of the wrong arity are ragged at row 0, before any value
    with pytest.raises(OpentickError, match="Expected 2 arguments, got 3"):
        kv.batch_insert_columns(pid, [["y", 1], [0.0, "x"], [1, 2]])
    assert kv.execute_rows("select k from eo") == []
    # a replay of an applied key is a silent no-op, bad rows or not
    kv.batch_insert(pid, [(7, 7.0)], idempotency_key="eo-1")
    for rows in batches([(0, 0.0), (1, "x"), (2,)]):
        kv.batch_insert(pid, rows, idempotency_key="eo-1")
        kv.batch_insert(pid, [(0, 0.0), (1,)], idempotency_key="eo-1")
        kv.batch_insert_columns(pid, as_cols(rows[:2]), idempotency_key="eo-1")
        kv.batch_insert_columns(pid, [[1], [2.0], [3]], idempotency_key="eo-1")
    assert kv.execute_rows("select k, v from eo") == [(7, 7.0)]


def test_insert_outside_int64_is_invalid(kv):
    """A bigint, or a timestamp whose epoch nanos, falls outside int64
    raises the reference's ``Invalid ... value`` error in every insert
    form, at its row-major place, and commits nothing; the int64 limits
    themselves land."""
    kv.execute("create table big(a bigint, tm timestamp, primary key(a, tm))")
    sql = "insert into big(a, tm) values(?, ?)"
    ts_err = r'Invalid int value \(10000000000\) for "tm" of timestamp'
    pair_err = r'Invalid list value \(\[10000000000, 123\]\) for "tm" of timestamp'
    a_err = r'Invalid int value \(9223372036854775808\) for "a" of bigint'
    a_low_err = r'Invalid int value \(-9223372036854775809\) for "a" of bigint'
    for lit, err in [
        ("(1, 10000000000)", ts_err),
        ("(9223372036854775808, 5)", a_err),
    ]:
        with pytest.raises(OpentickError, match=err):
            kv.execute(f"insert into big(a, tm) values{lit}")
    for args, err in [
        ((1, 10**10), ts_err),
        ((1, [10**10, 123]), pair_err),
        ((2**63, 5), a_err),
        ((-(2**63) - 1, 5), a_low_err),
    ]:
        with pytest.raises(OpentickError, match=err):
            kv.execute(sql, *args)
    pid = kv.prepare(sql)
    for n in (3, 70):  # below and above any screen size
        pad = [(i, i) for i in range(10, 10 + n - 3)]
        # the bad timestamp at row 1 comes before the bad bigint at row 2
        rows = [(0, 0), (1, 10**10), (2**63, 2)] + pad
        with pytest.raises(OpentickError, match=ts_err):
            kv.batch_insert(pid, rows)
        with pytest.raises(OpentickError, match=ts_err):
            kv.batch_insert_columns(pid, [list(c) for c in zip(*rows)])
        rows = [(0, 0), (2**63, 1), (2, [10**10, 123])] + pad
        with pytest.raises(OpentickError, match=a_err):
            kv.batch_insert(pid, rows)
    assert kv.execute_rows("select a from big") == []
    kv.batch_insert(pid, [(2**63 - 1, 9223372036), (-(2**63), -9223372036)])
    assert kv.execute_rows("select a, tm from big") == [
        (-(2**63), (-9223372036, 0)),
        (2**63 - 1, (9223372036, 0)),
    ]


def test_text_statement_parsed_once(kv, monkeypatch):
    """A non-select text statement sent through a result shape is parsed
    once: the parse that finds it is not a select feeds its dispatch."""
    import opentick_spark.engine as engine_mod

    calls = []
    real = engine_mod.parse

    def counting(sql):
        calls.append(sql)
        return real(sql)

    monkeypatch.setattr(engine_mod, "parse", counting)
    for sql, args in [
        ("create table po(k int, v double, primary key(k))", ()),
        ("insert into po(k, v) values(?, ?)", (1, 2.5)),
    ]:
        calls.clear()
        assert kv.execute_columns_ns(sql, *args) == (None, [])
        assert calls == [sql]
    assert kv.execute_rows("select k, v from po") == [(1, 2.5)]


def test_auto_compact_transient_error_does_not_fail_commit(spark, tmp_path, monkeypatch):
    """Opportunistic auto-compaction is best-effort (r11): a PRE-MUTATION
    fold abort (CompactionFoldError) must not fail an insert whose
    commit already published; the next insert retries the compaction.
    Any other OSError from compaction (post-mutation phase) still
    propagates — only the dedicated abort type is swallowed."""
    from opentick_spark.table import CompactionFoldError, TableStore

    eng = Engine(spark, str(tmp_path / "ac"), auto_compact_every=2)
    eng.execute("create database d")
    eng.use("d")
    eng.execute("create table t(a int, v double, primary key(a))")

    real = TableStore.compact
    boom = {"n": 0}

    def flaky(self, *a, **k):
        boom["n"] += 1
        if boom["n"] == 1:
            raise CompactionFoldError("simulated EMFILE in compaction fold")
        return real(self, *a, **k)

    monkeypatch.setattr(TableStore, "compact", flaky)
    eng.execute("insert into t(a, v) values(1, 1.0)")
    eng.execute("insert into t(a, v) values(2, 2.0)")  # triggers; swallowed
    assert boom["n"] == 1
    assert len(eng.execute_rows("select a from t")) == 2
    eng.execute("insert into t(a, v) values(3, 3.0)")  # retries; succeeds
    assert boom["n"] == 2
    st = eng.store("d", "t")
    assert st.commits_since_compact() == 0  # the retry compacted
    assert len(eng.execute_rows("select a from t")) == 3

    # plain OSError (post-mutation phase) is NOT swallowed
    def hard_fail(self, *a, **k):
        raise OSError("simulated post-mutation failure")

    monkeypatch.setattr(TableStore, "compact", hard_fail)
    eng.execute("insert into t(a, v) values(4, 4.0)")  # below threshold
    with pytest.raises(OSError, match="post-mutation"):
        eng.execute("insert into t(a, v) values(5, 5.0)")  # triggers
    # the row itself committed before the compaction attempt
    assert len(eng.execute_rows("select a from t")) == 5


def test_marker_dir_cache_evicts_gcd_commits(kv):
    """_marker_dir_cache stays bounded by the LIVE commit count (r11
    advice fix): keys for commit dirs that compaction GC'd are evicted
    on the next _log_markers pass instead of accumulating forever."""
    kv.execute("create table mc(a int, v double, primary key(a))")
    pid = kv.prepare("insert into mc(a, v) values(?, ?)")
    for i in range(5):
        kv.batch_insert(pid, [(i, float(i))], idempotency_key=f"m{i}")
    st = kv.store("d", "mc")
    st._log_markers()
    assert len(st._marker_dir_cache) == 5
    st.compact(kv.spark)
    kv.batch_insert(pid, [(9, 9.0)], idempotency_key="m9")
    st._log_markers()
    # only the one live post-compaction commit remains memoized
    import os

    live = set(os.listdir(st.log_path))
    assert set(st._marker_dir_cache) <= live
    assert len(st._marker_dir_cache) == len(live) == 1


def test_compact_codec_zstd(kv):
    """compact(codec=): the rewritten base lands in the requested
    parquet codec (footer-verified), reads stay identical, and zstd
    beats the snappy default on compressible data — the 100 TB storage
    lever."""
    import glob

    import pyarrow.parquet as pq

    spark = kv.spark
    kv.execute("create table cz(k int, t timestamp, s text, primary key(k, t))")
    pid = kv.prepare("insert into cz(k, t, s) values(?, ?, ?)")
    kv.batch_insert(
        pid, [(1, i, f"repetitive payload {i % 7} " * 40) for i in range(2000)]
    )
    st = kv.store("d", "cz")
    st.compact(spark, codec="zstd")
    files = glob.glob(st.base_path + "/**/*.parquet", recursive=True)
    assert files
    md = pq.ParquetFile(files[0]).metadata
    codecs = {
        md.row_group(g).column(0).compression for g in range(md.num_row_groups)
    }
    assert codecs == {"ZSTD"}
    assert len(kv.execute_rows("select k from cz")) == 2000
    zstd_bytes = sum(__import__("os").path.getsize(f) for f in files)
    # rewrite under the snappy default for the size comparison
    kv.execute("insert into cz(k, t, s) values(1, 99999, 'x')")
    st.compact(spark)
    files2 = glob.glob(st.base_path + "/**/*.parquet", recursive=True)
    snappy_bytes = sum(__import__("os").path.getsize(f) for f in files2)
    assert zstd_bytes < snappy_bytes
    assert len(kv.execute_rows("select k from cz")) == 2001


def test_modify_column_widen_composes_with_merge_and_append(kv):
    """Post-widen interop: a MERGE source (or streaming append) still
    carrying the NARROW types must land correctly against the widened
    table — append_dataframe casts to the current spark schema."""
    spark = kv.spark
    kv.execute("create table wm(k int, v float, primary key(k))")
    kv.execute("insert into wm(k, v) values(1, 1.5)")
    kv.execute("alter table wm modify column k bigint")
    kv.execute("alter table wm modify column v double")
    st = kv.store("d", "wm")
    # narrow-typed merge source: update {1}, insert {2}
    st.merge_into(
        spark,
        spark.createDataFrame([(2, 2.25), (1, 9.5)], "k int, v double"),
    )
    assert sorted(kv.execute_rows("select k, v from wm")) == [
        (1, 9.5), (2, 2.25),
    ]
    # wide-typed append past int32 range
    st.append_dataframe(
        spark.createDataFrame([(5_000_000_000, 3.5)], "k bigint, v double")
    )
    assert kv.execute_rows("select v from wm where k=5000000000") == [(3.5,)]


def test_render_conds_sql_ident_guard(spark):
    """The one SQL renderer quotes every column name in backticks,
    doubling an embedded backtick, so a name that is not a plain
    identifier (a backtick, a dot, a leading digit) still names its own
    column — never a nested field — in the one ``F.expr`` filter."""
    from pyspark.sql import functions as F

    from opentick_spark.catalog import ColumnDef
    from opentick_spark.dialect.resolver import Bound, ResolvedCond
    from opentick_spark.engine import _conds_sql

    def cond(name):
        cd = ColumnDef(
            name=name, type="int", is_key=True, key_pos=0, pos_col=0,
            physical=name,
        )
        return ResolvedCond(col=cd, start=Bound(1, True), end=Bound(9, False))

    assert _conds_sql([cond("tm")]) == "`tm` >= 1 AND `tm` < 9"
    assert _conds_sql([cond("we`ird")]) == "`we``ird` >= 1 AND `we``ird` < 9"
    assert _conds_sql([cond("a.b")]) == "`a.b` >= 1 AND `a.b` < 9"
    assert _conds_sql([cond("9lead")]) == "`9lead` >= 1 AND `9lead` < 9"
    # each row but the first fails exactly one column's range
    df = spark.createDataFrame(
        [(5, 5, 5), (0, 5, 5), (5, 9, 5), (5, 5, 9)],
        "`we``ird` int, `a.b` int, `9lead` int",
    )
    rendered = _conds_sql([cond("we`ird"), cond("a.b"), cond("9lead")])
    assert [tuple(r) for r in df.filter(F.expr(rendered)).collect()] == [(5, 5, 5)]
