"""Incremental view maintenance (operators/ivm.py): the maintained
aggregate must equal a full recompute of the final snapshot —
maintain(state@s0, diff(s0, s1)) == recompute(read@s1) — across
randomized DML sequences covering inserts, value updates, group-key
moves, deletes, re-inserts of deleted PKs, and groups whose live-row
count reaches zero (which must VANISH from the state, even when their
sum would coincidentally be zero too)."""

import random

import pytest
from pyspark.sql import functions as F

from opentick_spark.operators.ivm import (
    IVM_COUNT,
    full_state,
    group_delta,
    merge_agg_state,
)


def _mk_store(engine, name):
    engine.execute(
        f"create table {name}(k bigint, grp text, v double, w bigint, "
        "primary key(k))"
    )
    return engine.store(engine.current_db, name)


def _rows_df(spark, rows):
    return spark.createDataFrame(rows, "k long, grp string, v double, w long")


def _maintained(spark, st, s1, state):
    d = st.diff(spark, s1, include_old=True)
    delta = group_delta(d, ["grp"], ["v", "w"])
    return merge_agg_state(state, delta, ["grp"], ["v", "w"])


def _canon(df):
    return sorted(
        (
            r["grp"],
            r[IVM_COUNT],
            round(r["sum_v"] or 0.0, 6),
            round(r["sum_w"] or 0.0, 6),
        )
        for r in df.collect()
    )


@pytest.fixture()
def eng(spark, tmp_path):
    from opentick_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "ivm_wh"))
    e.execute("create database ivm")
    e.use("ivm")
    return e


def test_ivm_handcrafted_all_change_kinds(spark, eng):
    st = _mk_store(eng, "t1")
    base = [
        (1, "a", 1.0, 10),
        (2, "a", 2.0, 20),
        (3, "b", 3.0, 30),
        (4, "b", 4.0, 40),
        (5, "c", 5.0, 50),
    ]
    st.append_dataframe(_rows_df(spark, base))
    state = full_state(st.read(spark), ["grp"], ["v", "w"])
    s1 = st.current_seq()
    # value update (2), group move a→b (1), delete whole group c (5),
    # inserts into new group d (6) and existing b (7), NULL measure (8)
    st.append_dataframe(
        _rows_df(
            spark,
            [
                (2, "a", 200.0, 20),
                (1, "b", 1.0, 10),
                (6, "d", 6.0, 60),
                (7, "b", 7.0, 70),
            ],
        )
    )
    st.append_dataframe(
        spark.createDataFrame(
            [(8, "d", None, None)], "k long, grp string, v double, w long"
        )
    )
    st.delete_where(spark, F.col("grp") == "c")
    got = _canon(_maintained(spark, st, s1, state))
    want = _canon(full_state(st.read(spark), ["grp"], ["v", "w"]))
    assert got == want
    assert not any(g == "c" for g, *_ in got)  # vanished group dropped
    # NULL measures: count 2 in d, sums only see the non-NULL row
    d_row = [t for t in got if t[0] == "d"][0]
    assert d_row[1] == 2 and d_row[2] == 6.0 and d_row[3] == 60.0


def test_ivm_zero_sum_group_survives(spark, eng):
    """A group whose SUM cancels to exactly zero but still has live rows
    must stay — the drop condition is count==0, never sum==0."""
    st = _mk_store(eng, "t2")
    st.append_dataframe(
        _rows_df(spark, [(1, "z", 5.0, 1), (2, "z", 5.0, 1)])
    )
    state = full_state(st.read(spark), ["grp"], ["v", "w"])
    s1 = st.current_seq()
    st.append_dataframe(_rows_df(spark, [(2, "z", -5.0, -1)]))
    got = _canon(_maintained(spark, st, s1, state))
    assert got == [("z", 2, 0.0, 0.0)]


def test_ivm_randomized_dml_equivalence(spark, eng):
    """Property drill: 3 seeds × (60-row base + 40 random DML ops with
    re-inserts of deleted PKs) — maintained == recomputed every time."""
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        st = _mk_store(eng, f"tr{seed}")
        groups = ["g0", "g1", "g2", "g3"]
        live = {}
        for k in range(60):
            live[k] = (rng.choice(groups), round(rng.uniform(-50, 50), 2),
                       rng.randint(-5, 5))
        st.append_dataframe(
            _rows_df(spark, [(k, g, v, w) for k, (g, v, w) in live.items()])
        )
        state = full_state(st.read(spark), ["grp"], ["v", "w"])
        s1 = st.current_seq()
        ups, dels = [], []
        for _ in range(40):
            op = rng.random()
            k = rng.randint(0, 79)  # 60..79 are brand-new PKs
            if op < 0.6:
                row = (k, rng.choice(groups),
                       round(rng.uniform(-50, 50), 2), rng.randint(-5, 5))
                ups.append(row)
                live[k] = row[1:]
            elif k in live:
                dels.append(k)
                live.pop(k)
        if ups:
            st.append_dataframe(_rows_df(spark, ups))
        if dels:
            st.delete_where(spark, F.col("k").isin(dels))
        got = _canon(_maintained(spark, st, s1, state))
        want = _canon(full_state(st.read(spark), ["grp"], ["v", "w"]))
        assert got == want, f"seed {seed}: maintained != recomputed"


def test_diff_include_old_columns(spark, eng):
    st = _mk_store(eng, "t3")
    st.append_dataframe(_rows_df(spark, [(1, "a", 1.0, 1), (2, "b", 2.0, 2)]))
    s1 = st.current_seq()
    st.append_dataframe(_rows_df(spark, [(1, "c", 9.0, 9), (3, "d", 3.0, 3)]))
    st.delete_where(spark, F.col("k") == 2)
    rows = {
        r["k"]: r
        for r in st.diff(spark, s1, include_old=True).collect()
    }
    assert rows[1]["change"] == "changed"
    assert (rows[1]["old_grp"], rows[1]["grp"]) == ("a", "c")
    assert (rows[1]["old_v"], rows[1]["v"]) == (1.0, 9.0)
    assert rows[2]["change"] == "removed"
    assert rows[2]["old_v"] == 2.0 and rows[2]["v"] is None
    assert rows[3]["change"] == "added"
    assert rows[3]["old_v"] is None and rows[3]["v"] == 3.0
    # default diff shape is unchanged — no old_* columns
    assert not any(
        c.startswith("old_") for c in st.diff(spark, s1).columns
    )


def test_ivm_null_group_key_merges(spark, eng):
    """SQL GROUP BY puts all NULL keys in ONE group; the state merge
    must honor that. A plain equi-join never matches NULL=NULL, which
    left a stale state row AND a fresh delta row for the NULL group
    (r6 ADVICE) — pinned here against the recompute oracle."""
    st = _mk_store(eng, "tnull")
    st.append_dataframe(
        spark.createDataFrame(
            [(1, None, 1.0, 10), (2, None, 2.0, 20), (3, "a", 3.0, 30)],
            "k long, grp string, v double, w long",
        )
    )
    state = full_state(st.read(spark), ["grp"], ["v", "w"])
    s1 = st.current_seq()
    # touch the NULL group from both directions: update + insert + a
    # key-move INTO the NULL group
    st.append_dataframe(
        spark.createDataFrame(
            [(1, None, 100.0, 10), (3, None, 3.0, 30), (4, None, 4.0, 40)],
            "k long, grp string, v double, w long",
        )
    )
    got = _canon(_maintained(spark, st, s1, state))
    want = _canon(full_state(st.read(spark), ["grp"], ["v", "w"]))
    assert got == want
    # exactly ONE row for the NULL group — no duplicate state rows
    assert sum(1 for g, *_ in got if g is None) == 1


def test_log_diff_equals_diff_across_commit_kinds(spark, eng):
    """log_diff (tail-only incremental plan, table.py:800) must equal
    the full-outer-join diff for every from_seq, with the log tail
    containing BOTH commit layouts: directory commits (append_dataframe)
    and FILE commits named commit-<seq>.parquet (the engine row/batch
    insert path, table.py:343) — the file names broke the tail listing's
    seq parse before the r7 fix. Randomized per-seed like the IVM
    drill."""

    def canon(df):
        return sorted(
            tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
        )

    for seed in (7, 31):
        rng = random.Random(seed)
        st = _mk_store(eng, f"ld{seed}")
        st.append_dataframe(
            _rows_df(
                spark,
                [
                    (k, f"g{k % 3}", round(rng.uniform(-9, 9), 2), k)
                    for k in range(20)
                ],
            )
        )
        s1 = st.current_seq()
        # dir commit: updates + inserts + a delete
        st.append_dataframe(
            _rows_df(spark, [(1, "gx", 99.0, 1), (25, "gy", 5.0, 25)])
        )
        st.delete_where(spark, F.col("k") == 2)
        # FILE commits via the Arrow path (one upsert, one tombstone of an
        # ABSENT pk — must classify as dropped, i.e. appear in neither)
        st.append_columns({"k": [3], "grp": ["gz"], "v": [7.5], "w": [3]})
        st.append_columns({"k": [999], "grp": [None], "v": [None], "w": [None]},
                          delete=True)
        for include_old in (False, True):
            got = canon(st.log_diff(spark, s1, include_old=include_old))
            want = canon(st.diff(spark, s1, include_old=include_old))
            assert got == want, (
                f"seed {seed} include_old={include_old}: log_diff != diff"
            )
        assert len(canon(st.log_diff(spark, s1))) > 0


def test_group_delta_requires_old_columns(spark, eng):
    st = _mk_store(eng, "t4")
    st.append_dataframe(_rows_df(spark, [(1, "a", 1.0, 1)]))
    s1 = st.current_seq()
    st.append_dataframe(_rows_df(spark, [(2, "b", 2.0, 2)]))
    with pytest.raises(ValueError, match="include_old"):
        group_delta(st.diff(spark, s1), ["grp"], ["v"])
