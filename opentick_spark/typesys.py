"""opentick type system mapped onto Spark types.

Reference: DataType enum schema.go:17-27, SQL-name parsing schema.go:420-442,
value validation/coercion query.go:700-791.

Engine-native timestamp representation: **epoch nanoseconds as int64**.
The reference stores timestamps as a 2-tuple ``(epoch_sec, nanosec)`` in FDB
tuples (query.go:754-778); a single int64 of epoch-nanos preserves the full
nanosecond precision (range ±292 years — ample for market data), orders and
range-prunes natively in Spark/Parquet, and is exactly how Spark surfaces
parquet TIMESTAMP(NANOS) under ``spark.sql.legacy.parquet.nanosAsLong``.
Client-edge helpers convert to/from the reference's ``[sec, nsec]`` wire
form and RFC3339 strings.
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any

from pyspark.sql import types as T

from opentick_spark.errors import OpentickError

NS_PER_SEC = 1_000_000_000

# opentick SQL type name -> canonical name (schema.go:420-442 accepts these)
_TYPE_ALIASES = {
    "tinyint": "tinyint",
    "smallint": "smallint",
    "int": "int",
    "integer": "int",
    "bigint": "bigint",
    "double": "double",
    "float": "float",
    "timestamp": "timestamp",
    "boolean": "boolean",
    "text": "text",
    "varchar": "text",
}

_SPARK_TYPE = {
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "timestamp": T.LongType(),  # epoch nanos
    "boolean": T.BooleanType(),
    "text": T.StringType(),
}

#: the stored range of a bigint or a timestamp (epoch nanos): an insert
#: outside it is rejected (a WHERE bound is not checked against it)
INT64_RANGE = (-(2**63), 2**63 - 1)

_INT_CLAMP = {
    # saturating clamp bounds (query.go:709-728)
    "tinyint": (-128, 127),
    "smallint": (-32768, 32767),
    "int": (-2147483648, 2147483647),
}


def parse_type_name(name: str) -> str:
    t = _TYPE_ALIASES.get(name.lower())
    if t is None:
        raise OpentickError(f"Unknown data type {name}")
    return t


def spark_type(ot_type: str) -> T.DataType:
    return _SPARK_TYPE[ot_type]


def to_epoch_nanos(value: Any) -> int:
    """Coerce the reference's accepted timestamp forms to epoch nanos.

    Accepts: int/float epoch seconds; ``[sec, nsec]`` pair; RFC3339 string;
    python datetime. (query.go:754-778; client conversion
    client/opentick.go:278-284.)
    """
    if isinstance(value, bool):
        raise OpentickError(f"Invalid timestamp value {value!r}")
    if isinstance(value, int):
        return value * NS_PER_SEC
    if isinstance(value, float):
        sec = math.floor(value)
        return sec * NS_PER_SEC + round((value - sec) * NS_PER_SEC)
    if isinstance(value, (list, tuple)) and len(value) == 2:
        sec, nsec = value
        if isinstance(sec, int) and isinstance(nsec, int):
            return sec * NS_PER_SEC + nsec
        raise OpentickError(f"Invalid timestamp value {value!r}")
    if isinstance(value, _dt.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=_dt.timezone.utc)
        # timedelta arithmetic, not timestamp(): int(ts) truncates toward
        # zero while .microsecond is positive-within-second, which skews
        # pre-1970 datetimes by up to ~1s
        d = value - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return (d.days * 86400 + d.seconds) * NS_PER_SEC + d.microseconds * 1000
    if isinstance(value, str):
        try:
            dt = _dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
        except ValueError as e:
            raise OpentickError(f"Invalid timestamp value {value!r}") from e
        return to_epoch_nanos(dt)
    raise OpentickError(f"Invalid timestamp value {value!r}")


def from_epoch_nanos(nanos: int) -> tuple[int, int]:
    """Engine long -> the reference's (epoch_sec, nanosec) wire pair."""
    return divmod(nanos, NS_PER_SEC)


def validate_value(value: Any, ot_type: str, col_name: str = "") -> Any:
    """Validate + coerce one literal/placeholder value for a column.

    Mirrors validateValue (query.go:700-791): ints saturate-clamp into
    narrow int types, doubles accept ints, timestamps accept the three
    forms, booleans/text are strict. Returns the engine-native value.
    """
    where = f" for column {col_name}" if col_name else ""
    if ot_type in ("tinyint", "smallint", "int", "bigint"):
        if isinstance(value, bool) or not isinstance(value, int):
            raise OpentickError(f"Expected int value{where}, got {value!r}")
        lo_hi = _INT_CLAMP.get(ot_type)
        if lo_hi:
            value = max(lo_hi[0], min(lo_hi[1], value))
        return value
    if ot_type in ("double", "float"):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise OpentickError(f"Expected numeric value{where}, got {value!r}")
        return float(value)
    if ot_type == "timestamp":
        try:
            return to_epoch_nanos(value)
        except OpentickError:
            raise OpentickError(
                f"Expected timestamp value{where}, got {value!r}"
            ) from None
    if ot_type == "boolean":
        if not isinstance(value, bool):
            raise OpentickError(f"Expected boolean value{where}, got {value!r}")
        return value
    if ot_type == "text":
        if not isinstance(value, str):
            raise OpentickError(f"Expected text value{where}, got {value!r}")
        return value
    raise OpentickError(f"Unknown data type {ot_type}")
