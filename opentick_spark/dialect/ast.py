"""AST node types for the opentick SQL dialect (grammar: parser.go:49-183)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

PLACEHOLDER = object()  # sentinel for `?`


@dataclass
class TableName:
    db: Optional[str]
    name: str


@dataclass
class SelectFunc:
    name: str  # ADJ | ADJ_PX | ADJ_VOL (upper-cased)
    col: str
    params: list[Any] = field(default_factory=list)


@dataclass
class SelectCol:
    name: Optional[str] = None
    func: Optional[SelectFunc] = None


@dataclass
class Condition:
    lhs: str
    op: str  # = < <= > >=
    rhs: Any  # literal or PLACEHOLDER


@dataclass
class Select:
    table: TableName
    cols: Optional[list[SelectCol]]  # None = SELECT *
    where: list[Condition] = field(default_factory=list)
    limit: Optional[int] = None


@dataclass
class Explain:  # EXPLAIN <select> (extension): the select's physical plan
    select: Select


@dataclass
class Insert:
    table: TableName
    cols: list[str]
    values: list[Any]  # literals or PLACEHOLDER


@dataclass
class Delete:
    table: TableName
    where: list[Condition] = field(default_factory=list)


@dataclass
class CreateTable:
    table: TableName
    cols: list[tuple[str, str]]  # (name, type)
    pk: list[str]
    if_not_exists: bool = False


@dataclass
class CreateDatabase:
    name: str
    if_not_exists: bool = False


@dataclass
class DropTable:
    table: TableName


@dataclass
class DropDatabase:
    name: str


@dataclass
class RenameTable:
    table: TableName
    new_name: str


@dataclass
class RenameColumn:
    table: TableName
    old: str
    new: str


@dataclass
class AddColumn:
    table: TableName
    name: str
    type: str


@dataclass
class DropColumn:
    table: TableName
    name: str


@dataclass
class ModifyColumn:
    table: TableName
    name: str
    type: str
