"""Property-based tests (hypothesis) for the pure layers: type
validation/coercion, timestamp roundtrips, split_range invariants, and
parser/resolver robustness. No SparkSession needed — these run in ms."""

from hypothesis import given, settings
from hypothesis import strategies as st

from opentick_spark.engine import split_range
from opentick_spark.errors import OpentickError
from opentick_spark.typesys import (
    NS_PER_SEC,
    from_epoch_nanos,
    to_epoch_nanos,
    validate_value,
)

ints = st.integers(min_value=-(2**62), max_value=2**62)


@given(ints)
def test_int_clamp_saturates(v):
    for t, lo, hi in [
        ("tinyint", -128, 127),
        ("smallint", -32768, 32767),
        ("int", -(2**31), 2**31 - 1),
    ]:
        out = validate_value(v, t)
        assert lo <= out <= hi
        if lo <= v <= hi:
            assert out == v
        else:
            assert out == (lo if v < lo else hi)


@given(ints)
def test_bigint_passthrough(v):
    assert validate_value(v, "bigint") == v


@given(st.integers(min_value=0, max_value=2**53), st.integers(0, NS_PER_SEC - 1))
def test_timestamp_pair_roundtrip(sec, nsec):
    nanos = to_epoch_nanos([sec, nsec])
    assert nanos == sec * NS_PER_SEC + nsec
    assert from_epoch_nanos(nanos) == (sec, nsec)


@given(st.booleans())
def test_bool_not_an_int(b):
    try:
        validate_value(b, "int")
        raise AssertionError("bool accepted as int")
    except OpentickError:
        pass
    assert validate_value(b, "boolean") is b


@given(
    st.integers(-(2**40), 2**40),
    st.integers(1, 2**41),
    st.integers(2, 64),
)
def test_split_range_invariants(a, width, n):
    b = a + width
    parts = split_range(a, b, n)
    assert len(parts) == n
    # covers [a, b] exactly, adjacent bounds shared, monotone
    assert parts[0][0] == a and parts[-1][1] == b
    for (lo1, hi1), (lo2, _) in zip(parts, parts[1:]):
        assert hi1 == lo2
        assert lo1 <= hi1


@settings(max_examples=200)
@given(st.text(max_size=80))
def test_parser_never_crashes(sql):
    """Arbitrary input either parses or raises OpentickError — never an
    unhandled exception (parser.go's participle grammar rejects cleanly)."""
    from opentick_spark.dialect.parser import parse

    try:
        parse(sql)
    except OpentickError:
        pass


# -- the insert bind's columnar screen against validate_value ----------
_CLAMP_EDGES = [
    x
    for lo, hi in [(-128, 127), (-32768, 32767), (-(2**31), 2**31 - 1)]
    for x in (lo - 1, lo, hi, hi + 1)
]
_SCREEN_POOL = [
    True, False, None,  # bools in int/double columns, NULL
    0, 1, -1, 2**63 - 1, 2**63, -(2**63) - 1, 10**400, *_CLAMP_EDGES,
    0.0, -0.0, 1.5, 2.0, float("nan"), float("inf"), float("-inf"), 1e308,
    [5, 250], (5, 250), [5.0, 1], "1970-01-01T00:00:20Z", "not-a-time",
    "", "x",
]
_SCREEN_TYPES = [
    "tinyint", "smallint", "int", "bigint", "double", "float",
    "timestamp", "boolean", "text",
]
_SCREEN_FAMILIES = [
    [],
    [x for x in _SCREEN_POOL if type(x) is int],
    [x for x in _SCREEN_POOL if type(x) is float],
    [x for x in _SCREEN_POOL if type(x) in (int, float)],
    [x for x in _SCREEN_POOL if type(x) is bool],
    [x for x in _SCREEN_POOL if type(x) is str],
    [x for x in _SCREEN_POOL if type(x) is int and abs(x) < 2**62],
]


def _check_screen(t, vals):
    """``_screen_coerce`` either declines (None) or returns exactly what
    ``validate_value`` gives cell by cell — same types, same values,
    -0.0 and NaN included — and never accepts a list it rejects."""
    from opentick_spark.engine import _screen_coerce

    out = _screen_coerce(t, list(vals))
    if out is None:
        return
    ref = [validate_value(v, t) for v in vals]  # must not raise
    assert [(type(x), repr(x)) for x in out] == [
        (type(x), repr(x)) for x in ref
    ], (t, vals)


def test_screen_matches_validate_value_on_edge_families():
    for t in _SCREEN_TYPES:
        for vals in _SCREEN_FAMILIES + [[x] for x in _SCREEN_POOL]:
            _check_screen(t, vals)


@settings(max_examples=300)
@given(
    st.sampled_from(_SCREEN_TYPES),
    st.lists(st.sampled_from(_SCREEN_POOL), max_size=6),
)
def test_screen_matches_validate_value(t, vals):
    _check_screen(t, vals)
