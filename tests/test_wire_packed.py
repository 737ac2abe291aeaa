"""Packed-columnar BSON wire path (wire_packed.py, key "1p"): codec
roundtrips per kind, NULL masks, fallback kinds, and an end-to-end
equivalence check — the packed path must hand the client exactly the
rows the reference row shape carries, while reference-style clients
(no "5" flag) keep receiving the row shape untouched."""

import pytest

from opentick_spark import wire_bson
from opentick_spark.wire_packed import pack_columns, unpack_columns


def _roundtrip(cols):
    payload = pack_columns(cols)
    # through the real BSON codec: blobs must survive 0x05 encoding
    decoded = wire_bson.loads(wire_bson.dumps({"1p": payload}))["1p"]
    return unpack_columns(decoded)


class TestCodec:
    def test_int_float_bool_str(self):
        cols = [
            [1, -5, 2**40],
            [1.5, -0.25, 3.75],
            [True, False, True],
            ["a", "", "héllo"],
        ]
        assert _roundtrip(cols) == cols

    def test_nulls_every_kind(self):
        cols = [
            [None, 7, None],
            [None, None, 2.5],
            [True, None, False],
            ["x", None, "z"],
            [(5, 0), None, (6, 999)],
        ]
        assert _roundtrip(cols) == cols

    def test_all_null_column(self):
        assert _roundtrip([[None, None]]) == [[None, None]]

    def test_timestamp_pairs(self):
        cols = [[(5, 0), (6, 500), (1700000000, 999_999_999)]]
        assert _roundtrip(cols) == cols

    def test_object_fallback_arrays(self):
        # array-valued cells can't fix-width pack: "o" fallback
        cols = [[[1, 2], [3], []]]
        out = _roundtrip(cols)
        assert [list(v) for v in out[0]] == cols[0]

    def test_oversize_int_falls_back(self):
        cols = [[2**70, 1, 2]]
        payload = pack_columns(cols)
        assert payload["c"][0]["k"] == "o"

    def test_empty_and_none(self):
        assert pack_columns(None) is None
        assert unpack_columns(pack_columns([])) == []
        assert _roundtrip([[], []]) == [[], []]

    def test_packing_is_compact(self):
        # the point: 10k int cells ≈ 80 KB blob, not ~190 KB of BSON
        # per-element encoding
        n = 10_000
        packed = wire_bson.dumps({"1p": pack_columns([list(range(n))])})
        rowshape = wire_bson.dumps({"1": [[i] for i in range(n)]})
        assert len(packed) < 0.5 * len(rowshape)


@pytest.fixture(scope="module")
def bserver(spark, tmp_path_factory):
    from opentick_spark.server import OpentickServer

    wh = str(tmp_path_factory.mktemp("wire_packed") / "wh")
    srv = OpentickServer(
        spark, wh, heartbeat_s=5.0, protocol="bson", cache_expiration=2.0
    ).start()
    yield srv
    srv.stop()


def test_packed_path_end_to_end(bserver):
    from opentick_spark.client import connect_tcp

    c = connect_tcp(bserver.host, bserver.port, protocol="bson")
    try:
        c.execute("create database wp")
        c.use("wp")
        c.execute(
            "create table t(a int, tm timestamp, px double, tag text, "
            "primary key(a, tm))"
        )
        c.batch_insert(
            "insert into t(a, tm, px, tag) values(?, ?, ?, ?)",
            [(1, (5, 0), 2.5, "x"), (2, (6, 500), 3.5, "y")],
        )
        # NULL cells come from omitted value columns (reference
        # semantics: explicit NULL args are rejected by validation)
        c.execute("insert into t(a, tm) values(?, ?)", [3, (7, 0)])
        rows = c.execute("select * from t")
        assert rows == [
            (1, (5, 0), 2.5, "x"),
            (2, (6, 500), 3.5, "y"),
            (3, (7, 0), None, None),
        ]
        # prepared + cached path serves packed blobs keyed separately
        # from row-shape entries
        assert c.execute("select px from t where a=?", [1]) == [(2.5,)]
        assert c.execute("select px from t where a=?", [1]) == [(2.5,)]
    finally:
        c.close()


def test_packed_batch_insert_rejects_ragged_rows(bserver):
    """r6 ADVICE fix: zip(*rows) truncates ragged rows to the shortest —
    the packed path must raise like the row path's server-side arity
    error, never silently insert truncated data. A json client (plain
    "3" rows) gets the same error string."""
    from opentick_spark.client import Error, connect_tcp

    for protocol in ("bson", "json"):
        c = connect_tcp(bserver.host, bserver.port, protocol=protocol)
        try:
            if protocol == "bson":
                c.execute("create database wpr")
                c.use("wpr")
                c.execute("create table t(a int, v int, primary key(a))")
            else:
                c.use("wpr")
            with pytest.raises(Error, match="Expected 2 arguments, got 1"):
                c.batch_insert(
                    "insert into t(a, v) values(?, ?)", [(1, 10), (2,)]
                )
            # nothing was inserted
            assert c.execute("select * from t") == []
        finally:
            c.close()


def test_insert_outside_int64_is_invalid_on_the_wire(bserver):
    """A timestamp beyond int64 epoch nanos in a batch gets the same
    ``Invalid ... value`` error through the packed "3p" columns (bson)
    and the "3" rows (json), and so does an out-of-range bigint."""
    from opentick_spark.client import Error, connect_tcp

    ts_err = r'Invalid int value \(10000000000\) for "tm" of timestamp'
    for protocol in ("bson", "json"):
        c = connect_tcp(bserver.host, bserver.port, protocol=protocol)
        try:
            if protocol == "bson":
                c.execute("create database wpo")
                c.use("wpo")
                c.execute("create table t(a bigint, tm timestamp, primary key(a, tm))")
            else:
                c.use("wpo")
            with pytest.raises(Error, match=ts_err):
                c.batch_insert(
                    "insert into t(a, tm) values(?, ?)", [(1, 5), (2, 10**10)]
                )
            if protocol == "json":
                with pytest.raises(
                    Error,
                    match=r'Invalid int value \(9223372036854775808\) for "a" of bigint',
                ):
                    c.batch_insert(
                        "insert into t(a, tm) values(?, ?)", [(1, 5), (2**63, 6)]
                    )
            assert c.execute("select * from t") == []
        finally:
            c.close()


# ------------------------------------------------------ property testing
from hypothesis import given, settings
from hypothesis import strategies as st

_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=True, width=64),
    st.text(max_size=20),
    st.tuples(
        st.integers(min_value=0, max_value=2**31), 
        st.integers(min_value=0, max_value=999_999_999),
    ),
)


@st.composite
def _typed_column(draw):
    """A column the engine could emit: all non-null cells share a type."""
    n = draw(st.integers(min_value=0, max_value=30))
    proto = draw(_cell.filter(lambda v: v is not None))
    cells = st.one_of(st.none(), st.from_type(type(proto)))
    if isinstance(proto, tuple):
        cells = st.one_of(
            st.none(),
            st.tuples(
                st.integers(min_value=0, max_value=2**31),
                st.integers(min_value=0, max_value=999_999_999),
            ),
        )
    elif isinstance(proto, bool):
        cells = st.one_of(st.none(), st.booleans())
    elif isinstance(proto, int):
        cells = st.one_of(
            st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)
        )
    elif isinstance(proto, float):
        cells = st.one_of(
            st.none(),
            st.floats(allow_nan=False, allow_infinity=True, width=64),
        )
    elif isinstance(proto, str):
        cells = st.one_of(st.none(), st.text(max_size=20))
    return [draw(cells) for _ in range(n)]


@given(st.lists(_typed_column(), max_size=5))
@settings(max_examples=200, deadline=None)
def test_packed_roundtrip_property(cols):
    # ragged columns can't form a result set: normalize lengths
    if cols:
        n = min(len(c) for c in cols)
        cols = [c[:n] for c in cols]
    payload = pack_columns(cols)
    decoded = wire_bson.loads(wire_bson.dumps({"1p": payload}))["1p"]
    assert unpack_columns(decoded) == cols


class TestArrowBufferPath:
    """pack_arrow_table (r11): the buffer-sliced producer must be
    cell-exact with the to_pylist + pack_columns path for every type
    the engine stores, including nulls, empties, and slice offsets."""

    def _equiv(self, arrays, types, names=None):
        import pyarrow as pa

        from opentick_spark.wire_packed import NS, pack_arrow_table

        names = names or [f"c{i}" for i in range(len(arrays))]
        tbl = pa.table(dict(zip(names, arrays)))
        payload = pack_arrow_table(tbl, list(zip(names, types)))
        got = unpack_columns(
            wire_bson.loads(wire_bson.dumps({"1p": payload}))["1p"]
        )
        # reference cells: what the engine's to_pylist path would carry
        want = []
        for a, t in zip(arrays, types):
            cells = a.to_pylist() if hasattr(a, "to_pylist") else list(a)
            if t == "timestamp":
                cells = [None if v is None else divmod(v, NS) for v in cells]
            want.append(cells)
        assert got == want

    def test_all_engine_types(self):
        import pyarrow as pa

        self._equiv(
            [
                pa.array([1, None, 3], pa.int32()),
                pa.array([2**40, -5, None], pa.int64()),
                pa.array([1.5, None, -2.25], pa.float32()),
                pa.array([0.1, 0.2, None], pa.float64()),
                pa.array([True, None, False], pa.bool_()),
                pa.array(["a", None, "ccc"], pa.string()),
                pa.array([1_500_000_000, None, 0], pa.int64()),
                pa.array([None, None, None], pa.int64()),
            ],
            ["int", "bigint", "float", "double", "boolean", "text",
             "timestamp", "bigint"],
        )

    def test_sliced_offset_arrays(self):
        import pyarrow as pa

        base_i = pa.array([9, 1, None, 3, 7], pa.int64())
        base_s = pa.array(["xx", "a", None, "ccc", "zz"], pa.string())
        self._equiv(
            [base_i.slice(1, 3), base_s.slice(1, 3)],
            ["bigint", "text"],
        )

    def test_empty_table(self):
        import pyarrow as pa

        self._equiv(
            [pa.array([], pa.int64()), pa.array([], pa.string())],
            ["bigint", "text"],
        )

    def test_unsupported_type_falls_back(self):
        # engine never stores lists; the "o" fallback leg must behave
        # exactly like pack_columns over the same cells (which
        # tuple-izes list cells on unpack — the row shape's convention)
        import pyarrow as pa

        from opentick_spark.wire_packed import pack_arrow_table

        arr = pa.array([[1.0, 2.0], None, [3.0]], pa.list_(pa.float64()))
        tbl = pa.table({"c0": arr})
        payload = pack_arrow_table(tbl, [("c0", "text")])
        got = unpack_columns(
            wire_bson.loads(wire_bson.dumps({"1p": payload}))["1p"]
        )
        via_cells = unpack_columns(
            wire_bson.loads(
                wire_bson.dumps({"1p": pack_columns([arr.to_pylist()])})
            )["1p"]
        )
        assert got == via_cells == [[(1.0, 2.0), None, (3.0,)]]


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["int", "bigint", "double", "boolean", "text",
                             "timestamp"]),
            st.integers(0, 40),       # rows
            st.floats(0, 0.5),        # null fraction
            st.randoms(use_true_random=False),
        ),
        max_size=4,
    )
)
@settings(max_examples=150, deadline=None)
def test_pack_arrow_table_matches_pack_columns_property(colspecs):
    """Property: for ANY engine-typed Arrow table (random rows, random
    null fraction), pack_arrow_table's payload decodes to exactly the
    cells pack_columns over the to_pylist path carries."""
    import pyarrow as pa

    from opentick_spark.wire_packed import NS, pack_arrow_table

    if not colspecs:
        return
    n = min(r for _, r, _, _ in colspecs)
    pa_type = {
        "int": pa.int32(), "bigint": pa.int64(), "double": pa.float64(),
        "boolean": pa.bool_(), "text": pa.string(), "timestamp": pa.int64(),
    }
    mk = {
        "int": lambda rng: rng.randint(-(2**31), 2**31 - 1),
        "bigint": lambda rng: rng.randint(-(2**62), 2**62),
        "double": lambda rng: rng.uniform(-1e9, 1e9),
        "boolean": lambda rng: rng.random() < 0.5,
        "text": lambda rng: "x" * rng.randint(0, 6) + str(rng.random()),
        "timestamp": lambda rng: rng.randint(0, 2**62),
    }
    arrays, types, cells_want = [], [], []
    for t, _, nullfrac, rng in colspecs:
        vals = [
            None if rng.random() < nullfrac else mk[t](rng)
            for _ in range(n)
        ]
        arrays.append(pa.array(vals, pa_type[t]))
        types.append(t)
        cells_want.append(
            [None if v is None else divmod(v, NS) for v in vals]
            if t == "timestamp"
            else vals
        )
    names = [f"c{i}" for i in range(len(arrays))]
    tbl = pa.table(dict(zip(names, arrays)))
    payload = pack_arrow_table(tbl, list(zip(names, types)))
    decoded = wire_bson.loads(wire_bson.dumps({"1p": payload}))["1p"]
    got = unpack_columns(decoded)
    for g, w in zip(got, cells_want):
        assert [
            pytest.approx(x) if isinstance(x, float) else x for x in g
        ] == w
