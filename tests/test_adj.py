"""Golden adj tests reproducing adj_test.go:15-75 numerically (FIXTURES.md F2).

bar(a int, b timestamp, c double, d double, vol double, primary key(a, b));
_adj_ rows (sec=1): (1, 0.25, 4), (3, 0.5, 2), (5, 0.2, 5).
"""

from bisect import bisect_right
from math import prod

import pytest

from opentick_spark.errors import OpentickError
from opentick_spark.operators.adj import cumulative_factors


@pytest.fixture()
def bar(engine):
    engine.execute("create database d")
    engine.use("d")
    engine.execute(
        "create table bar(a int, b timestamp, c double, d double, vol double, "
        "primary key(a, b))"
    )
    for t, px, vol in [(1, 0.25, 4.0), (3, 0.5, 2.0), (5, 0.2, 5.0)]:
        engine.execute("insert into _adj_(sec, time, px, vol) values(?, ?, ?, ?)", 1, t, px, vol)
    for t, v in [(0, 1.0), (2, 1.0), (3, 1.0), (4, 1.0), (5, 1.0), (99, 1.5), (100, 1.0)]:
        engine.execute(
            "insert into bar(a, b, c, d, vol) values(?, ?, ?, ?, ?)", 1, t, v, v, v
        )
    return engine


def approx(rows, expected):
    assert len(rows) == len(expected), (rows, expected)
    for r, e in zip(rows, expected):
        assert len(r) == len(e)
        for a, b in zip(r, e):
            if isinstance(b, float):
                assert a == pytest.approx(b, rel=1e-12), (rows, expected)
            else:
                assert a == b, (rows, expected)


def test_cumulative_factors(bar, spark):
    # golden: [{1 0.025 40 4 0.25} {3 0.1 10 8 0.125} {5 0.2 5 40 0.025}]
    adj_df = bar.store("d", "_adj_").read(spark)
    f = cumulative_factors(adj_df).orderBy("time").collect()
    got = [(r.time, r.px_f, r.vol_f, 1 / r.px_b, 1 / r.vol_b) for r in f]
    # adj_test.go:20 lists {Tm, Px, Vol, PxB, VolB} with PxB/VolB as the
    # *inverse-prefix* products: PxB[0]=4 means multiplier 4.
    expected = [
        (1_000_000_000, 0.025, 40.0, 0.25, 4.0),
        (3_000_000_000, 0.1, 10.0, 0.125, 8.0),
        (5_000_000_000, 0.2, 5.0, 0.025, 40.0),
    ]
    for g, e in zip(got, expected):
        assert g[0] == e[0]
        assert g[1] == pytest.approx(e[1])
        assert g[2] == pytest.approx(e[2])
        # backward multiplier = px_b (1/prefix-product)
    bwd = [(r.time, r.px_b, r.vol_b) for r in f]
    expected_bwd = [
        (1_000_000_000, 4.0, 0.25),
        (3_000_000_000, 8.0, 0.125),
        (5_000_000_000, 40.0, 0.025),
    ]
    for g, e in zip(bwd, expected_bwd):
        assert g[1] == pytest.approx(e[1])
        assert g[2] == pytest.approx(e[2])


def test_forward_adjustment(bar):
    # adj_test.go:37-54 golden: event exactly at row time EXCLUDED forward
    rows = bar.execute_rows("select b, adj(c), adj(d), adj(vol) from bar where a=1")
    got = [(r[0][0], r[1], r[2], r[3]) for r in rows]
    expected = [
        (0, 0.025, 0.025, 40.0),
        (2, 0.1, 0.1, 10.0),
        (3, 0.2, 0.2, 5.0),
        (4, 0.2, 0.2, 5.0),
        (5, 1.0, 1.0, 1.0),
        (99, 1.5, 1.5, 1.5),
        (100, 1.0, 1.0, 1.0),
    ]
    approx(got, expected)


def test_forward_point_and_tail(bar):
    rows = bar.execute_rows("select b, adj(c), adj(vol) from bar where a=1 and b=4")
    got = [(r[0][0], r[1], r[2]) for r in rows]
    approx(got, [(4, 0.2, 5.0)])
    # limit -10 returns descending (adj_test.go:51-54)
    rows = bar.execute_rows("select b, adj(c) from bar where a=1 limit -3")
    got = [(r[0][0], r[1]) for r in rows]
    approx(got, [(100, 1.0), (99, 1.5), (5, 1.0)])


def test_backward_adjustment(bar):
    # adj_test.go:56-72 golden: event exactly at row time INCLUDED backward
    rows = bar.execute_rows(
        "select b, adj(c, true), adj(d, true), adj(vol, true) from bar where a=1"
    )
    got = [(r[0][0], r[1], r[2], r[3]) for r in rows]
    expected = [
        (0, 1.0, 1.0, 1.0),
        (2, 4.0, 4.0, 0.25),
        (3, 8.0, 8.0, 0.125),
        (4, 8.0, 8.0, 0.125),
        (5, 40.0, 40.0, 0.025),
        (99, 60.0, 60.0, 0.0375),
        (100, 40.0, 40.0, 0.025),
    ]
    approx(got, expected)


def test_mixed_fwd_bwd_rejected(bar):
    with pytest.raises(OpentickError) as ei:
        bar.execute("select adj(c), adj(d, true) from bar where a=1")
    assert str(ei.value) == "Mixed backward and forward adj not allowed"


def test_adj_requirements(bar):
    bar.execute("create table nokey(x text, c double, primary key(x))")
    with pytest.raises(OpentickError) as ei:
        bar.execute("select adj(c) from nokey")
    assert str(ei.value) == "The first key of the table must be int for applying adj"


def test_adj_vol_dispatch_by_name(bar):
    # name contains qty/vol/size → volume factor (query.go:397-404)
    rows = bar.execute_rows("select b, adj(vol) from bar where a=1 and b=0")
    assert rows[0][1] == pytest.approx(40.0)
    rows = bar.execute_rows("select b, adj_px(vol) from bar where a=1 and b=0")
    assert rows[0][1] == pytest.approx(0.025)


def test_zero_factor_treated_as_one(engine):
    engine.execute("create database z")
    engine.use("z")
    engine.execute(
        "create table bar(a int, b timestamp, c double, primary key(a, b))"
    )
    engine.execute("insert into _adj_(sec, time, px, vol) values(1, 2, 0, 0)")
    engine.execute("insert into bar(a, b, c) values(1, 1, 10)")
    rows = engine.execute_rows("select adj(c) from bar where a=1")
    assert rows == [(10.0,)]


def test_adj_three_part_pk(engine):
    """adj on the canonical (sec, interval, tm) table (server_test.go:53):
    first key int + last key timestamp, middle keys untouched."""
    engine.execute("create database adj3")
    engine.use("adj3")
    engine.execute(
        "create table bars(sec int, interval int, tm timestamp, close double, "
        "vol double, primary key(sec, interval, tm))"
    )
    pid = engine.prepare(
        "insert into bars(sec, interval, tm, close, vol) values(?, ?, ?, ?, ?)"
    )
    engine.batch_insert(
        pid, [(1, itv, t, 100.0, 10.0) for itv in (1, 2) for t in (1, 4, 100)]
    )
    engine.execute(
        "insert into _adj_(sec, time, px, vol) values(?, ?, ?, ?)", 1, 5, 0.5, 2.0
    )
    rows = engine.execute_rows(
        "select tm, adj(close), adj(vol) from bars where sec=1 and interval=2"
    )
    # events at t<=4 are before the factor at t=5 → adjusted; t=100 is after
    assert rows == [
        ((1, 0), 50.0, 20.0),
        ((4, 0), 50.0, 20.0),
        ((100, 0), 100.0, 10.0),
    ]

def _skewed_frames(spark):
    """One hyper-hot sec (90% of rows) + several cold ones; factor events
    at times that exercise boundary semantics (rows exactly AT event
    times, before the first event, after the last)."""
    rows = [(1, t, float(t % 7 + 1), float(t % 5 + 1)) for t in range(0, 900)]
    rows += [(s, t, float(t + s), float(t)) for s in (2, 3, 4) for t in (0, 10, 50)]
    rdf = spark.createDataFrame(rows, "sec int, tm long, px double, qty double")
    adj = [(1, 100, 0.5, 2.0), (1, 500, 0.25, 4.0), (3, 10, 0.5, 2.0)]
    adf = spark.createDataFrame(adj, "sec long, time long, px double, vol double")
    return rdf, adf


@pytest.mark.parametrize("backward", [False, True])
def test_broadcast_strategy_matches_merge(spark, backward):
    """Skew hardening: adj's broadcast-interval plan must be value-identical
    to the generic sorted-merge as-of join over the cumulative factors on
    a skewed stream, both directions."""
    from pyspark.sql import functions as F

    from opentick_spark.operators.adj import apply_adj
    from opentick_spark.operators.asof import asof_join

    rdf, adf = _skewed_frames(spark)
    d = "b" if backward else "f"
    factors = cumulative_factors(adf).select("sec", "time", f"px_{d}", f"vol_{d}")
    merge = asof_join(
        rdf, factors, ["sec"], "tm", "time",
        "backward" if backward else "forward", strategy="merge",
    ).select(
        "sec", "tm",
        (F.col("px") * F.coalesce(f"px_{d}", F.lit(1.0))).alias("px"),
        (F.col("qty") * F.coalesce(f"vol_{d}", F.lit(1.0))).alias("qty"),
    )
    bcast = apply_adj(
        rdf, adf, sec_col="sec", time_col="tm", px_cols=["px"],
        vol_cols=["qty"], backward=backward,
    )
    a = sorted(map(tuple, merge.collect()))
    b = sorted(map(tuple, bcast.collect()))
    assert len(a) == len(b) == rdf.count()
    for x, y in zip(a, b):
        assert x == pytest.approx(y), (x, y)


def test_broadcast_strategy_plan_has_no_row_exchange(spark):
    """The broadcast-interval plan must not shuffle the row stream: the
    only Exchange is the tiny factor table's window prep + its
    BroadcastExchange; the rows side joins in place."""
    from opentick_spark.operators.adj import apply_adj

    rdf, adf = _skewed_frames(spark)
    df = apply_adj(
        rdf, adf, sec_col="sec", time_col="tm", px_cols=["px"],
        vol_cols=["qty"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every Exchange in the plan belongs to the factor side: hash
    # exchanges only on the factor window key, plus one BroadcastExchange
    import re

    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+),", plan)
    assert all(k.startswith("sec") for k in hash_exchanges), hash_exchanges
    assert len(hash_exchanges) <= 1, plan.count("Exchange")


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("tolerance", [None, 120])
def test_skew_buckets_matches_merge(spark, direction, tolerance):
    """Skew hardening #2: time-bucketed sub-partitioning of the sorted
    merge (asof.py skew_buckets) must be value-identical to the plain
    merge — hot key, both directions, with/without tolerance. Bucket
    boundaries land inside, between, and exactly on event times."""
    from opentick_spark.operators.asof import asof_join

    rdf, adf = _skewed_frames(spark)
    kw = dict(
        on=["sec"], left_time="tm", right_time="time",
        value_cols=["px", "vol"], direction=direction, tolerance=tolerance,
    )
    rdf = rdf.withColumn("sec", rdf["sec"].cast("long"))
    plain = sorted(map(tuple, asof_join(rdf, adf, **kw).collect()))
    for n in (2, 8, 64):  # 64 > span/… exercises near-empty buckets
        bucketed = sorted(
            map(tuple, asof_join(rdf, adf, skew_buckets=n, **kw).collect())
        )
        assert bucketed == plain, (n, bucketed[:3], plain[:3])


def test_skew_buckets_window_partitions_on_bucket(spark):
    """The heavy window must hash-partition on (key, time-bucket), not
    (key,) alone — that is the entire point of skew_buckets."""
    from opentick_spark.operators.asof import asof_join

    rdf, adf = _skewed_frames(spark)
    rdf = rdf.withColumn("sec", rdf["sec"].cast("long"))
    df = asof_join(
        rdf, adf, on=["sec"], left_time="tm", right_time="time",
        value_cols=["px"], skew_buckets=8,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(sec" in plan and "__b" in plan, plan


def test_split_adj_is_one_scan_equal_to_per_range_union(bar):
    """A split ``adj`` select without LIMIT is one scan filtered by the
    OR of its sub-ranges: ``adj`` rewrites each row by its own (sec,
    tm), so the result equals the deduplicated, PK-sorted union of the
    per-range selects, and the plan holds no Union of per-range
    branches."""
    sql = "select b, adj(c), adj(vol) from bar where a=1 and b>=? and b<=?"
    ranges = [(3, 5), (0, 3), (99, 100)]  # 3 is in two sub-ranges
    union = {r for lo, hi in ranges for r in bar.execute_rows(sql, lo, hi)}
    assert bar.execute_rows(sql, ranges=ranges) == sorted(union)
    assert len(union) == 7
    df = bar.execute_split(sql, ranges)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        (b[0] * 1_000_000_000 + b[1], c, v) for b, c, v in union
    )


# -- differential check against a bisect model of adj.go ----------------
#: _adj_ events per sec: (time, px, vol), power-of-two factors so every
#: product is exact; zeros count as 1 (adj.go:115-120); sec 3 has none
_EVENTS = {
    1: [(10, 0.5, 2.0), (20, 0.0, 4.0), (30, 0.25, 0.0), (40, 2.0, 0.5)],
    2: [(5, 4.0, 0.125)],
}
#: rows (sec, tm, px, vol), several exactly at event times
_ROWS = (
    [(1, t, 2.0 ** (t % 3), 2.0 ** -(t % 4)) for t in range(0, 50, 5)]
    + [(2, t, 8.0, 0.5) for t in (0, 5, 9)]
    + [(3, t, 1.0, 2.0) for t in (1, 2)]
)


def _model_factor(sec, tm, backward, events):
    """adj.go's lookup: cumulative factors (forward suffix products,
    backward prefix products of inverses), bisectRight on the event
    times — forward takes the first event after ``tm``, backward the
    last at or before it, 1 when there is none."""
    ev = events.get(sec, [])
    i = bisect_right([t for t, _, _ in ev], tm)
    fpx = [px or 1.0 for _, px, _ in ev]
    fvol = [vol or 1.0 for _, _, vol in ev]
    if backward:
        return (1 / prod(fpx[:i]), 1 / prod(fvol[:i])) if i else (1.0, 1.0)
    return (prod(fpx[i:]), prod(fvol[i:])) if i < len(ev) else (1.0, 1.0)


def _model_rows(rows, backward, events):
    out = []
    for sec, tm, px, vol in sorted(rows):
        fp, fv = _model_factor(sec, tm, backward, events)
        out.append(((tm, 0), px * fp, vol * fv))
    return out


@pytest.mark.parametrize("with_events", [True, False])
def test_adj_matches_bisect_model(engine, with_events):
    """Dialect ``adj`` equals the bisect model cell for cell, forward and
    backward: every sec, rows exactly at event times, zero factors, a sec
    without events, an empty ``_adj_``, ``LIMIT -n`` and a split read."""
    engine.execute("create database d")
    engine.use("d")
    engine.execute(
        "create table bars(sec int, tm timestamp, px double, vol double, "
        "primary key(sec, tm))"
    )
    engine.batch_insert(
        "insert into bars(sec, tm, px, vol) values(?, ?, ?, ?)", _ROWS
    )
    events = _EVENTS if with_events else {}
    ev_rows = [(s, t, px, vol) for s, ev in events.items() for t, px, vol in ev]
    if ev_rows:
        engine.batch_insert(
            "insert into _adj_(sec, time, px, vol) values(?, ?, ?, ?)", ev_rows
        )
    for backward in (False, True):
        flag = ", true" if backward else ""
        sel = f"select tm, adj(px{flag}), adj(vol{flag}) from bars where sec=?"
        for sec in (1, 2, 3):
            want = _model_rows([r for r in _ROWS if r[0] == sec], backward, events)
            assert engine.execute_rows(sel, sec) == want, (sec, backward)
            assert engine.execute_rows(sel + " limit -2", sec) == want[::-1][:2]
        split = sel.replace("sec=?", "sec=1 and tm>=? and tm<=?")
        ranges = [(0, 12), (20, 35), (30, 40)]
        inside = [
            r for r in _ROWS
            if r[0] == 1 and any(lo <= r[1] <= hi for lo, hi in ranges)
        ]
        assert engine.execute_rows(split, ranges=ranges) == _model_rows(
            inside, backward, events
        )
