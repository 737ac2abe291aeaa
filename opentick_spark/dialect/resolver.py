"""Resolve parsed AST against a table schema, with reference-compatible
validation (query.go:345-530 resolveSelect/resolveInsert, query.go:579-669
resolveWhere, query.go:836-878 getAdjTuples).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from opentick_spark.catalog import ColumnDef, TableSchema
from opentick_spark.dialect import ast
from opentick_spark.errors import OpentickError
from opentick_spark.typesys import INT64_RANGE, validate_value


@dataclass
class Placeholder:
    index: int


@dataclass
class Bound:
    value: Any  # literal (validated) or Placeholder
    inclusive: bool


@dataclass
class ResolvedCond:
    col: ColumnDef
    equal: Any = None  # literal or Placeholder (None = unset)
    start: Optional[Bound] = None
    end: Optional[Bound] = None

    @property
    def is_range(self) -> bool:
        return self.start is not None or self.end is not None

    @property
    def is_empty(self) -> bool:
        return self.equal is None and not self.is_range


@dataclass
class AdjSpec:
    col: ColumnDef
    kind: str  # 'px' | 'vol'
    backward: bool


@dataclass
class ResolvedSelect:
    schema: TableSchema
    conds: list[ResolvedCond]
    cols: list[ColumnDef]
    adjs: list[AdjSpec] = field(default_factory=list)
    n_placeholders: int = 0
    limit: int = 0  # 0 = unlimited
    reverse: bool = False


@dataclass
class ResolvedInsert:
    schema: TableSchema
    cols: list[ColumnDef]
    values: list[Any]  # validated literals or Placeholder
    n_placeholders: int = 0


@dataclass
class ResolvedDelete:
    schema: TableSchema
    conds: list[ResolvedCond]
    n_placeholders: int = 0


def validate_literal(col: ColumnDef, v: Any, stored: bool = False) -> Any:
    """``validate_value`` with the reference's literal error. A ``stored``
    value (one being inserted) of a bigint or timestamp column must also
    fit ``INT64_RANGE``."""
    lo, hi = INT64_RANGE
    try:
        out = validate_value(v, col.type, col.name)
        ok = not stored or col.type not in ("bigint", "timestamp") or lo <= out <= hi
    except OpentickError:
        ok = False
    if not ok:
        raise OpentickError(
            f'Invalid {type(v).__name__} value ({v}) for "{col.name}" of {col.type}'
        )
    return out


def resolve_where(
    schema: TableSchema, where: list[ast.Condition], ph_start: int = 0
) -> tuple[list[ResolvedCond], int]:
    """WHERE = AND-list over PK columns forming a contiguous prefix with at
    most one range on the last constrained column (resolveWhere,
    query.go:579-669). Errors match the reference verbatim."""
    keys = schema.key_columns
    conds = [ResolvedCond(col=k) for k in keys]
    n_ph = ph_start
    for c in where:
        col = schema.col(c.lhs)
        if col is None:
            raise OpentickError(f"Undefined column name {c.lhs}")
        if not col.is_key:
            raise OpentickError(
                f"Invalid column {col.name} in where clause, only primary key can be used"
            )
        if col.type == "boolean" and c.op != "=":
            raise OpentickError(
                f'Invalid operator ({c.op}) for "{col.name}" of type Boolean'
            )
        if c.rhs is ast.PLACEHOLDER:
            rhs: Any = Placeholder(n_ph)
            n_ph += 1
        else:
            rhs = validate_literal(col, c.rhs)
        slot = conds[col.key_pos]
        if slot.equal is not None:
            raise OpentickError(
                f"{col.name} cannot be restricted by more than one relation if it includes an Equal"
            )
        if c.op == "=":
            if slot.is_range:
                raise OpentickError(
                    f"{col.name} cannot be restricted by more than one relation if it includes an Equal"
                )
            slot.equal = rhs
        elif c.op in ("<", "<="):
            if slot.end is not None:
                raise OpentickError(
                    f"More than one restriction was found for the end bound on {col.name}"
                )
            slot.end = Bound(rhs, inclusive=(c.op == "<="))
        else:  # > >=
            if slot.start is not None:
                raise OpentickError(
                    f"More than one restriction was found for the start bound on {col.name}"
                )
            slot.start = Bound(rhs, inclusive=(c.op == ">="))
    has_range = False
    has_empty = False
    n = 0
    for slot in conds:
        if not slot.is_empty:
            if has_empty or has_range:
                raise OpentickError(
                    "Cannot execute this query as it might involve data filtering "
                    "and thus may have unpredictable performance"
                )
            n += 1
        else:
            has_empty = True
        if slot.is_range:
            has_range = True
    return conds[:n], n_ph - ph_start


def resolve_select(schema: TableSchema, node: ast.Select) -> ResolvedSelect:
    conds, n_ph = resolve_where(schema, node.where)
    stmt = ResolvedSelect(schema=schema, conds=conds, cols=[], n_placeholders=n_ph)
    if node.limit is not None:
        stmt.limit = node.limit
        if stmt.limit < 0:
            stmt.limit = -stmt.limit
            stmt.reverse = True
    if node.cols is None:  # SELECT *
        stmt.cols = sorted(schema.columns, key=lambda c: c.pos_col)
        return stmt
    used: set[int] = set()
    funcs: list[Optional[ast.SelectFunc]] = []
    for sc in node.cols:
        name = sc.name if sc.name is not None else sc.func.col
        col = schema.col(name)
        if col is None:
            raise OpentickError(f"Undefined column name {name}")
        if col.pos_col in used:
            raise OpentickError(f"Duplicate column name {name}")
        used.add(col.pos_col)
        stmt.cols.append(col)
        funcs.append(sc.func)
    # adj dispatch (query.go:394-413, 836-878)
    n_fwd = n_bwd = 0
    for col, fn in zip(stmt.cols, funcs):
        if fn is None:
            continue
        fname = fn.name.lower()
        if fname == "adj":
            lname = col.name.lower()
            if "qty" in lname or "vol" in lname or "size" in lname:
                fname = "adj_vol"
            else:
                fname = "adj_px"
        if fname in ("adj_px", "adj_vol"):
            if fn.params and (
                len(fn.params) > 1 or not isinstance(fn.params[0], bool)
            ):
                raise OpentickError("adj only accept one optional bool params")
            backward = bool(fn.params) and fn.params[0] is True
            if backward:
                n_bwd += 1
            else:
                n_fwd += 1
            if not col.is_key:  # key columns are never adjusted
                stmt.adjs.append(
                    AdjSpec(col=col, kind=fname.removeprefix("adj_"), backward=backward)
                )
    if stmt.adjs:
        keys = schema.key_columns
        if keys[0].type != "int":
            raise OpentickError("The first key of the table must be int for applying adj")
        if keys[-1].type != "timestamp":
            raise OpentickError(
                "The last key of the table must be timestamp for applying adj"
            )
        if n_bwd > 0 and n_fwd > 0:
            raise OpentickError("Mixed backward and forward adj not allowed")
    return stmt


def resolve_insert(schema: TableSchema, node: ast.Insert) -> ResolvedInsert:
    names = node.cols
    if not names:
        names = [c.name for c in sorted(schema.columns, key=lambda c: c.pos_col)]
    if len(names) != len(node.values):
        raise OpentickError("Unmatched column names/values")
    cols: list[ColumnDef] = []
    used: set[int] = set()
    values: list[Any] = []
    n_ph = 0
    missing = {c.name for c in schema.key_columns}
    for name, v in zip(names, node.values):
        col = schema.col(name)
        if col is None:
            raise OpentickError(f"Undefined column name {name}")
        if col.pos_col in used:
            raise OpentickError(f"Duplicate column name {name}")
        used.add(col.pos_col)
        cols.append(col)
        missing.discard(col.name)
        if v is ast.PLACEHOLDER:
            values.append(Placeholder(n_ph))
            n_ph += 1
        else:
            values.append(validate_literal(col, v, stored=True))
    if missing:
        ordered = [k.name for k in schema.key_columns if k.name in missing]
        raise OpentickError("Some primary keys are missing: " + ", ".join(ordered))
    return ResolvedInsert(schema=schema, cols=cols, values=values, n_placeholders=n_ph)


def resolve_delete(schema: TableSchema, node: ast.Delete) -> ResolvedDelete:
    conds, n_ph = resolve_where(schema, node.where)
    return ResolvedDelete(schema=schema, conds=conds, n_placeholders=n_ph)


def bind_conds(conds: list[ResolvedCond], args: tuple) -> list[ResolvedCond]:
    """Substitute placeholders with validated args (validateConditionArgs,
    query.go:806-832) — saturating clamps and timestamp coercion apply."""
    out = []
    for c in conds:
        b = ResolvedCond(col=c.col)
        if c.equal is not None:
            b.equal = _bind_one(c.col, c.equal, args)
        if c.start is not None:
            b.start = Bound(_bind_one(c.col, c.start.value, args), c.start.inclusive)
        if c.end is not None:
            b.end = Bound(_bind_one(c.col, c.end.value, args), c.end.inclusive)
        out.append(b)
    return out


def _bind_one(col: ColumnDef, v: Any, args: tuple) -> Any:
    if isinstance(v, Placeholder):
        return validate_literal(col, args[v.index])
    return v
