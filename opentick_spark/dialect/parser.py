"""Recursive-descent parser for the opentick SQL dialect.

Grammar coverage mirrors parser.go:10-24 (lexer) and the Ast structs
(parser.go:49-183): SELECT / INSERT / DELETE / CREATE / DROP / ALTER TABLE,
`adj/adj_px/adj_vol` select functions, `?` placeholders, conjunctive WHERE
with `= < <= > >=`, and integer LIMIT (negative = tail); plus the
extension `EXPLAIN <select>`.
"""

from __future__ import annotations

import re
from typing import Any

from opentick_spark.dialect import ast
from opentick_spark.errors import OpentickError

_KEYWORDS = {
    "TIMESTAMP", "DATABASE", "BOOLEAN", "PRIMARY", "SMALLINT", "TINYINT",
    "BIGINT", "DOUBLE", "SELECT", "INSERT", "VALUES", "COLUMN", "CREATE",
    "DELETE", "RENAME", "FLOAT", "WHERE", "LIMIT", "TABLE", "ALTER",
    "FALSE", "TEXT", "FROM", "TYPE", "DROP", "TRUE", "TO", "INTO", "ADD",
    "AND", "KEY", "INT", "IF", "NOT", "EXISTS", "MODIFY",
}
_NON_RESERVED = {"MODIFY"}  # usable as identifiers (see _Parser.ident)
_FUNCS = {"ADJ_PX", "ADJ_VOL", "ADJ"}
_TYPES = {
    "BIGINT", "TINYINT", "SMALLINT", "INT", "DOUBLE", "FLOAT",
    "TIMESTAMP", "BOOLEAN", "TEXT",
}

_TOKEN_RE = re.compile(
    r"\s+"
    r"|(?P<ident>[_a-zA-Z][a-zA-Z0-9_]*)"
    r"|(?P<number>-?\d+\.?\d*(?:[eE][-+]?\d+)?)"
    r"|(?P<string>'[^']*'|\"[^\"]*\")"
    r"|(?P<op><=|>=|[-+*/%,.()=<>?])"
)


class _Tok:
    __slots__ = ("kind", "value")

    def __init__(self, kind: str, value: str):
        self.kind = kind  # KW | FUNC | IDENT | NUMBER | STRING | OP | EOF
        self.value = value

    def __repr__(self):
        return f"{self.kind}:{self.value}"


def _tokenize(sql: str) -> list[_Tok]:
    toks: list[_Tok] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise OpentickError(f"Syntax error at offset {pos}: {sql[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup is None:
            continue
        text = m.group(m.lastgroup)
        if m.lastgroup == "ident":
            up = text.upper()
            if up in _FUNCS:
                toks.append(_Tok("FUNC", up))
            elif up in _KEYWORDS:
                toks.append(_Tok("KW", up))
            else:
                toks.append(_Tok("IDENT", text))
        elif m.lastgroup == "number":
            toks.append(_Tok("NUMBER", text))
        elif m.lastgroup == "string":
            toks.append(_Tok("STRING", text[1:-1]))
        else:
            toks.append(_Tok("OP", text))
    toks.append(_Tok("EOF", ""))
    return toks


class _Parser:
    def __init__(self, sql: str):
        self.toks = _tokenize(sql)
        self.i = 0

    # -- plumbing --------------------------------------------------------
    def peek(self) -> _Tok:
        return self.toks[self.i]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, value: str | None = None) -> _Tok | None:
        t = self.peek()
        if t.kind == kind and (value is None or t.value == value):
            return self.next()
        return None

    def expect(self, kind: str, value: str | None = None) -> _Tok:
        t = self.accept(kind, value)
        if t is None:
            raise OpentickError(
                f"Syntax error: expected {value or kind}, got {self.peek().value!r}"
            )
        return t

    # -- terminals -------------------------------------------------------
    def ident(self) -> str:
        # extension keywords added AFTER tables could legally use the
        # word as an identifier stay NON-RESERVED: a pre-r11 column
        # named "modify" must remain selectable/alterable (the r11
        # MODIFY keyword would otherwise strand it behind the grammar).
        # Unambiguous: every use of MODIFY as a keyword is gated by an
        # explicit accept() BEFORE ident() is tried.
        t = self.peek()
        if t.kind == "KW" and t.value in _NON_RESERVED:
            self.next()
            return t.value.lower()
        return self.expect("IDENT").value

    def table_name(self) -> ast.TableName:
        a = self.ident()
        if self.accept("OP", "."):
            return ast.TableName(db=a, name=self.ident())
        return ast.TableName(db=None, name=a)

    def value(self) -> Any:
        t = self.peek()
        if t.kind == "NUMBER":
            self.next()
            try:
                return int(t.value)
            except ValueError:
                return float(t.value)
        if t.kind == "STRING":
            self.next()
            return t.value
        if t.kind == "OP" and t.value == "?":
            self.next()
            return ast.PLACEHOLDER
        if t.kind == "KW" and t.value in ("TRUE", "FALSE"):
            self.next()
            return t.value == "TRUE"
        raise OpentickError(f"Syntax error: expected value, got {t.value!r}")

    # -- statements ------------------------------------------------------
    def parse(self):
        t = self.next()
        if t.kind == "IDENT" and t.value.upper() == "EXPLAIN":
            # EXPLAIN <select> (extension). Not a keyword, so a table or
            # column named explain stays usable
            if not self.accept("KW", "SELECT"):
                raise OpentickError("Can only explain SELECT statements")
            node = ast.Explain(self.select())
        elif t.kind != "KW":
            raise OpentickError(f"Syntax error: unexpected {t.value!r}")
        elif t.value == "SELECT":
            node = self.select()
        elif t.value == "INSERT":
            node = self.insert()
        elif t.value == "DELETE":
            node = self.delete()
        elif t.value == "CREATE":
            node = self.create()
        elif t.value == "DROP":
            node = self.drop()
        elif t.value == "ALTER":
            node = self.alter()
        else:
            raise OpentickError(f"Syntax error: unexpected {t.value!r}")
        self.expect("EOF")
        return node

    def select(self) -> ast.Select:
        cols: list[ast.SelectCol] | None
        if self.accept("OP", "*"):
            cols = None
        else:
            cols = [self.select_col()]
            while self.accept("OP", ","):
                cols.append(self.select_col())
        self.expect("KW", "FROM")
        table = self.table_name()
        where = self.where_opt()
        limit = None
        if self.accept("KW", "LIMIT"):
            limit = int(self.expect("NUMBER").value)
        return ast.Select(table=table, cols=cols, where=where, limit=limit)

    def select_col(self) -> ast.SelectCol:
        f = self.accept("FUNC")
        if f:
            self.expect("OP", "(")
            col = self.ident()
            params: list[Any] = []
            while self.accept("OP", ","):
                params.append(self.value())
            self.expect("OP", ")")
            return ast.SelectCol(func=ast.SelectFunc(name=f.value, col=col, params=params))
        return ast.SelectCol(name=self.ident())

    def where_opt(self) -> list[ast.Condition]:
        conds: list[ast.Condition] = []
        if self.accept("KW", "WHERE"):
            conds.append(self.condition())
            while self.accept("KW", "AND"):
                conds.append(self.condition())
        return conds

    def condition(self) -> ast.Condition:
        lhs = self.ident()
        op_tok = self.peek()
        if op_tok.kind != "OP" or op_tok.value not in ("=", "<", "<=", ">", ">="):
            raise OpentickError(f"Syntax error: expected comparison, got {op_tok.value!r}")
        self.next()
        return ast.Condition(lhs=lhs, op=op_tok.value, rhs=self.value())

    def insert(self) -> ast.Insert:
        self.expect("KW", "INTO")
        table = self.table_name()
        cols: list[str] = []
        if self.accept("OP", "("):
            cols.append(self.ident())
            while self.accept("OP", ","):
                cols.append(self.ident())
            self.expect("OP", ")")
        self.expect("KW", "VALUES")
        self.expect("OP", "(")
        values = [self.value()]
        while self.accept("OP", ","):
            values.append(self.value())
        self.expect("OP", ")")
        return ast.Insert(table=table, cols=cols, values=values)

    def delete(self) -> ast.Delete:
        self.expect("KW", "FROM")
        table = self.table_name()
        return ast.Delete(table=table, where=self.where_opt())

    def _if_not_exists(self) -> bool:
        save = self.i
        if self.accept("KW", "IF"):
            if self.accept("KW", "NOT") and self.accept("KW", "EXISTS"):
                return True
            self.i = save
            raise OpentickError("Syntax error: expected IF NOT EXISTS")
        return False

    def create(self):
        if self.accept("KW", "DATABASE"):
            ine = self._if_not_exists()
            return ast.CreateDatabase(name=self.ident(), if_not_exists=ine)
        self.expect("KW", "TABLE")
        ine = self._if_not_exists()
        table = self.table_name()
        self.expect("OP", "(")
        cols: list[tuple[str, str]] = []
        pk: list[str] = []
        while True:
            if self.accept("KW", "PRIMARY"):
                self.expect("KW", "KEY")
                self.expect("OP", "(")
                pk.append(self.ident())
                while self.accept("OP", ","):
                    pk.append(self.ident())
                self.expect("OP", ")")
            else:
                name = self.ident()
                t = self.peek()
                if t.kind != "KW" or t.value not in _TYPES:
                    raise OpentickError(
                        f"Syntax error: expected data type, got {t.value!r}"
                    )
                self.next()
                cols.append((name, t.value.lower()))
            if not self.accept("OP", ","):
                break
        self.expect("OP", ")")
        return ast.CreateTable(table=table, cols=cols, pk=pk, if_not_exists=ine)

    def drop(self):
        if self.accept("KW", "DATABASE"):
            return ast.DropDatabase(name=self.ident())
        self.expect("KW", "TABLE")
        return ast.DropTable(table=self.table_name())

    def alter(self):
        self.expect("KW", "TABLE")
        table = self.table_name()
        if self.accept("KW", "ADD"):  # extension: schema evolution
            self.expect("KW", "COLUMN")
            name = self.ident()
            t = self.peek()
            if t.kind != "KW" or t.value not in _TYPES:
                raise OpentickError(
                    f"Syntax error: expected data type, got {t.value!r}"
                )
            self.next()
            return ast.AddColumn(table=table, name=name, type=t.value.lower())
        if self.accept("KW", "DROP"):  # extension: schema evolution (r10)
            self.expect("KW", "COLUMN")
            return ast.DropColumn(table=table, name=self.ident())
        if self.accept("KW", "MODIFY"):  # extension: type widening (r11)
            self.expect("KW", "COLUMN")
            name = self.ident()
            t = self.peek()
            if t.kind != "KW" or t.value not in _TYPES:
                raise OpentickError(
                    f"Syntax error: expected data type, got {t.value!r}"
                )
            self.next()
            return ast.ModifyColumn(table=table, name=name, type=t.value.lower())
        self.expect("KW", "RENAME")
        if self.accept("KW", "COLUMN"):
            old = self.ident()
            self.expect("KW", "TO")
            return ast.RenameColumn(table=table, old=old, new=self.ident())
        self.expect("KW", "TO")
        return ast.RenameTable(table=table, new_name=self.ident())


def parse(sql: str):
    """Parse one opentick-dialect statement into an AST node."""
    return _Parser(sql).parse()
