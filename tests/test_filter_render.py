"""Differential test of the dialect's filter path against a Python model.

Every dialect key type gets a table ``t(g int, k <type>, v int, primary
key(g, k))`` holding adversarial key values (quotes, backslashes,
newlines, ``${...}``, NaN, ±inf, -0.0, subnormals, 64-bit limits, clamp
edges, negative timestamps). Point selects, range selects and split
reads, on the log commits and again on the compacted base, and point
deletes run through the engine and are compared row for row,
in PK order, with the same queries evaluated in Python under Spark's
comparison semantics: NaN equals NaN and sorts above every other double,
-0.0 equals 0.0, strings compare by code point (UTF-8 byte order).
"""

import math

import pytest

from opentick_spark.typesys import NS_PER_SEC, validate_value

NAN, INF = math.nan, math.inf

# key values as they are inserted; none two of them are equal keys
KEYS = {
    "tinyint": [-128, -1, 0, 1, 127],
    "smallint": [-32768, -1, 0, 300, 32767],
    "int": [-(2**31), -1, 0, 70000, 2**31 - 1],
    "bigint": [-(2**63), -(2**63) + 1, -1, 0, 2**63 - 2, 2**63 - 1],
    "timestamp": [
        [-9 * 10**9, 5], [-5, 7], [0, 0], [0, 1], [1, 999_999_999], [9 * 10**9, 123]
    ],
    "double": [-INF, -1e308, -2.5, -0.0, 5e-324, 0.1, 1.0, 1e308, INF, NAN],
    # float: only values exact in float32, so the stored value is the value
    "float": [-INF, -1.25, -0.0, 2.0**-20, 0.5, 3.0, 1e10, INF, NAN],
    "boolean": [False, True],
    "text": [
        "",
        "\n",
        "' OR 1=1 --",
        "${spark.app.name}",
        "${x}",
        "\\'",
        "\\n",
        "`",
        "back\\slash",
        "it's",
        "ünï😀",
    ],
}

# point-select arguments that are no key as written but match one:
# beyond the column's clamp (they bind clamped), or the other zero
EXTRA_POINTS = {
    "tinyint": [1000, -1000],
    "smallint": [10**6, -(10**6)],
    "int": [2**40, -(2**40)],
    "double": [0.0],
    "float": [0.0],
}

# range bounds at zero, where -0.0 and 0.0 must compare equal
ZERO_PAIRS = [(0.0, 1.0), (-1.5, 0.0), (0.0, 0.0), (-0.0, -0.0)]


def _native(t, x):
    return validate_value(x, t)


def _eq(a, b):
    return a == b or (a != a and b != b)  # Spark: NaN = NaN


def _key(x):
    # Spark's total order on doubles: NaN above everything, -0.0 == 0.0
    if isinstance(x, float):
        return (x != x, 0.0 if x != x else x)
    return (False, x)


def _reply(t, x):
    return tuple(divmod(x, NS_PER_SEC)) if t == "timestamp" else x


def _same(rows, expect):
    """Row lists equal cell for cell, NaN matching NaN."""
    assert len(rows) == len(expect), (rows, expect)
    for r, e in zip(rows, expect):
        assert len(r) == len(e) and all(_eq(a, b) for a, b in zip(r, e)), (
            rows,
            expect,
        )


class Model:
    def __init__(self, t, rows):
        self.t = t
        self.rows = rows  # (g, native k, v)

    def out(self, keep):
        sel = sorted(
            (r for r in self.rows if keep(r)), key=lambda r: (r[0], _key(r[1]))
        )
        return [(g, _reply(self.t, k), v) for g, k, v in sel]

    def point(self, g, k):
        return lambda r: r[0] == g and _eq(r[1], k)

    def range(self, g, lo, lo_inc, hi, hi_inc):
        def keep(r):
            if r[0] != g:
                return False
            x = _key(r[1])
            above = x >= _key(lo) if lo_inc else x > _key(lo)
            below = x <= _key(hi) if hi_inc else x < _key(hi)
            return above and below

        return keep


@pytest.mark.parametrize("t", sorted(KEYS))
def test_filters_match_python_model(engine, t):
    engine.execute("create database fr")
    engine.use("fr")
    engine.execute(f"create table t(g int, k {t}, v int, primary key(g, k))")
    keys = KEYS[t]
    rows_in = [(g, k, 10 * i + g) for i, k in enumerate(keys) for g in (1, 2)]
    engine.batch_insert("insert into t(g, k, v) values(?, ?, ?)", rows_in)
    model = Model(t, [(g, _native(t, k), v) for g, k, v in rows_in])
    sel = "select g, k, v from t"

    def check(sql, keep, *args, ranges=None):
        got = engine.execute_rows(sql, *args, ranges=ranges)
        _same(got, model.out(keep))

    def queries():
        check(sel, lambda r: True)
        # point selects: every key, plus arguments that bind clamped
        for k in keys + EXTRA_POINTS.get(t, []):
            nk = _native(t, k)
            check(f"{sel} where g=? and k=?", model.point(2, nk), 2, k)
        if t == "boolean":
            return
        # range selects over every orderable type, both bound kinds
        order = sorted(keys, key=lambda k: _key(_native(t, k)))
        pairs = [(order[0], order[-1]), (order[1], order[-2]), (order[2], order[2])]
        if t in ("double", "float"):
            pairs += ZERO_PAIRS
        for lo, hi in pairs:
            nlo, nhi = _native(t, lo), _native(t, hi)
            check(
                f"{sel} where g=1 and k>=? and k<?",
                model.range(1, nlo, True, nhi, False), lo, hi,
            )
            check(
                f"{sel} where g=1 and k>? and k<=?",
                model.range(1, nlo, False, nhi, True), lo, hi,
            )
        # open above the second-largest key (for floats: NaN above +inf)
        top = _key(_native(t, order[-2]))
        check(f"{sel} where g=2 and k>?", lambda r: r[0] == 2 and _key(r[1]) > top, order[-2])
        # split: overlapping sub-ranges, deduplicated, PK-ordered
        ranges = [(order[0], order[2]), (order[2], order[3]), (order[-2], order[-1])]
        keep = [model.range(1, _native(t, a), True, _native(t, b), True) for a, b in ranges]
        check(
            f"{sel} where g=1 and k>=? and k<=?",
            lambda r: any(f(r) for f in keep),
            ranges=ranges,
        )

    # the log commits (written by pyarrow), then the compacted base
    # (written by Spark): each writer's parquet statistics meet the filters
    queries()
    engine.store("fr", "t").compact(engine.spark)
    queries()
    # split of point disjuncts: every literal rendered in one OR
    ranges = [(1, keys[0]), (2, keys[-1]), (1, keys[len(keys) // 2]), (2, keys[0])]
    keep = [model.point(g, _native(t, k)) for g, k in ranges]
    check(f"{sel} where g=? and k=?", lambda r: any(f(r) for f in keep), ranges=ranges)
    # point deletes of the first, the middle and the last key of g=1
    for k in (keys[0], keys[len(keys) // 2], keys[-1]):
        engine.execute("delete from t where g=? and k=?", 1, k)
        gone = model.point(1, _native(t, k))
        model.rows = [r for r in model.rows if not gone(r)]
        check(sel, lambda r: True)
    # a delete by the leading key alone removes the rest of g=1
    engine.execute("delete from t where g=?", 1)
    model.rows = [r for r in model.rows if r[0] != 1]
    check(sel, lambda r: True)
