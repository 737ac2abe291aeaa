"""Engine facade: the opentick surface (execute / prepare / batch_insert)
over Spark.

Library-first: Spark *is* the server, so the reference's TCP/BSON protocol,
futures, and connection pooling (server.go, clients) collapse into plain
method calls. What remains semantically is reproduced here:

- ``execute(sql, *args)`` — parse → resolve → run (Execute, query.go:44-119)
- ``prepare(sql)`` → integer id; ``execute(id, *args)`` skips parse+resolve
  (server.go:384-398 — the reference's only "optimizer" beyond storage
  pushdown)
- ``batch_insert(prepared, rows)`` — N rows in ONE atomic commit
  (BatchInsert, query.go:294-307)
- SELECTs return DataFrames in implicit full-PK order (ascending, or
  descending under ``LIMIT -n`` — query.go:156-159)
- ``execute_split(sql, ranges, *args)`` — SplitRange as one DataFrame

The WHERE → scan compilation has one owner: ``_conds_sql`` renders every
bound condition list (select, split and delete) as one SQL string, and
``_select_frame`` builds every select plan from a list of such lists —
one for a plain select, the coalesced sub-ranges of a split — filtered
by ONE ``F.expr`` of their OR, then ``adj``, then order/limit.

Collected results take one path: the private producer
``_result_table(sql, args, ranges=None)`` returns the result as a
PK-ordered Arrow table, and three public methods shape it at the edge,
each taking an optional ``ranges=`` for split reads:

- ``execute_rows`` — row tuples, timestamps as the reference's
  (sec, nsec) wire pairs (client/opentick.go:171-189)
- ``execute_columns_ns`` — ``(cols, ts_idx)``: column lists with
  timestamps as raw epoch-ns ints at positions ``ts_idx``
- ``execute_packed_payload`` — the wire's packed "1p" payload
"""

from __future__ import annotations

import itertools
import math
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentick_spark import wire_packed
from opentick_spark.catalog import ADJ_TABLE, Catalog
from opentick_spark.dialect import ast
from opentick_spark.dialect.parser import parse
from opentick_spark.dialect.resolver import (
    Bound,
    Placeholder,
    ResolvedCond,
    ResolvedDelete,
    ResolvedInsert,
    ResolvedSelect,
    bind_conds,
    resolve_delete,
    resolve_insert,
    resolve_select,
    validate_literal,
)
from opentick_spark.errors import OpentickError
from opentick_spark.operators.adj import apply_adj
from opentick_spark.table import TableStore
from opentick_spark.typesys import (
    _INT_CLAMP,
    INT64_RANGE,
    NS_PER_SEC,
    from_epoch_nanos,
)

from opentick_spark.users import (
    READ_PERM,
    WRITE_PERM,
    User,
    UserRegistry,
    get_perm,
    parse_perm,
    require_perm,
    sha1_string,
)


def _fits_int64(vals: list) -> bool:
    return not vals or (
        INT64_RANGE[0] <= min(vals) and max(vals) <= INT64_RANGE[1]
    )


def _screen_coerce(t: str, vals: list) -> list | None:
    """One placeholder column's strict type screen + bulk coercion: the
    engine-native list, value-identical to ``validate_value`` per cell,
    or None when any cell needs ``validate_literal`` itself (a rejected
    column, a bigint or timestamp outside ``INT64_RANGE``, or a form the
    screen does not take). Screens use
    ``type(x) is T`` — the ``is`` comparison rejects bool (a subclass of
    int) exactly like validate_value's explicit isinstance(value, bool)
    guards."""
    if t in ("tinyint", "smallint", "int", "bigint"):
        if not all(type(x) is int for x in vals):
            return None
        lo_hi = _INT_CLAMP.get(t)
        if lo_hi and vals and (min(vals) < lo_hi[0] or max(vals) > lo_hi[1]):
            lo, hi = lo_hi
            vals = [lo if x < lo else hi if x > hi else x for x in vals]
        return vals if t != "bigint" or _fits_int64(vals) else None
    if t in ("double", "float"):
        if all(type(x) is float for x in vals):
            return vals
        if all(type(x) in (int, float) for x in vals):
            try:
                return [float(x) for x in vals]
            except OverflowError:  # an int beyond double range
                return None
        return None
    if t == "timestamp":
        # int = epoch SECONDS (query.go:754-778); other accepted forms
        # ([sec,nsec], RFC3339, datetime, float) go cell by cell
        if not all(type(x) is int for x in vals):
            return None
        vals = [x * NS_PER_SEC for x in vals]
        return vals if _fits_int64(vals) else None
    if t == "boolean":
        if not all(type(x) is bool for x in vals):
            return None
        return vals
    if t == "text":
        if not all(type(x) is str for x in vals):
            return None
        return vals
    return None  # unknown type: validate_value raises its error


def _bind_column(col, vals: list):
    """``(values, None)`` for one placeholder column, or ``(None, (row,
    error))`` naming its first cell ``validate_literal`` rejects, with the
    reference's error string. The screen takes whole columns; only a
    column it rejects is validated cell by cell."""
    out = _screen_coerce(col.type, vals)
    if out is not None:
        return out, None
    out = []
    for r, a in enumerate(vals):
        try:
            out.append(validate_literal(col, a, stored=True))
        except (OpentickError, ValueError, OverflowError) as e:
            # float()/floor() errors (NaN/inf timestamps, ints beyond
            # double range) keep their row-major place too
            return None, (r, e)
    return out, None


def _sql_literal(v) -> str:
    """Spark SQL text for one engine-native bound value (resolver-
    validated: timestamps are already epoch integers here).

    A finite float is CPython's round-tripping ``repr`` as a DOUBLE
    literal (the ``D`` suffix): a bare ``-0.0`` would parse as DECIMAL
    and lose its sign. A string escapes backslash first, then the
    quote, for the default ``escapedStringLiterals=false`` parse, and
    writes ``$`` as the ``\\u0024`` escape: Spark's variable
    substitution rewrites ``${...}`` in the SQL text before it is
    parsed, even inside a quoted literal (``'${env:HOME}'`` would read
    as the home directory)."""
    if type(v) is bool:
        return "true" if v else "false"
    if type(v) is int:
        return repr(v)
    if type(v) is float:
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v) + "D"
    if type(v) is str:
        v = v.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
        return f"'{v}'"
    raise TypeError(f"no SQL literal for {type(v).__name__} value {v!r}")


def _cmp_sql(name: str, op: str, v) -> str:
    """``name op v`` in SQL. A float zero compares as both zeros: Spark
    equates -0.0 and 0.0, but the parquet row-group and dictionary
    filters it pushes to order -0.0 below 0.0 and would drop a stored
    zero of the other sign (a compacted base holds latest-wins keys,
    which Spark normalizes to 0.0). So ``= 0`` is the closed interval
    [-0.0, 0.0], and an inclusive lower bound at zero is -0.0."""
    if type(v) is float and v == 0.0:
        if op == "=":
            return f"{name} >= -0.0D AND {name} <= 0.0D"
        v = -0.0 if op == ">=" else 0.0
    return f"{name} {op} {_sql_literal(v)}"


def _conds_sql(conds) -> str:
    """The one SQL rendering of a bound condition list (``true`` when
    empty): every dialect filter — select, split and delete — is one
    ``F.expr`` of it, one py4j call instead of ~9 per comparison, which
    Catalyst parses to the same predicate tree ``F.col``/``F.lit``
    would build. A column name is backtick-quoted, any backtick in it
    doubled."""
    parts = []
    for c in conds:
        name = "`" + c.col.name.replace("`", "``") + "`"
        if c.equal is not None:
            parts.append(_cmp_sql(name, "=", c.equal))
        if c.start is not None:
            op = ">=" if c.start.inclusive else ">"
            parts.append(_cmp_sql(name, op, c.start.value))
        if c.end is not None:
            op = "<=" if c.end.inclusive else "<"
            parts.append(_cmp_sql(name, op, c.end.value))
    return " AND ".join(parts) if parts else "true"


def split_range(start, end, num_parts: int) -> list[tuple]:
    """Split [start, end] into ``num_parts`` sub-ranges whose adjacent
    bounds are shared, last part absorbing the remainder — the client-side
    range-parallelism helper (SplitRange, client/opentick.go:63-127).

    Sub-ranges are BOTH-bounds-inclusive like the reference; a merged
    result must drop the duplicated boundary row (the reference client
    dedups adjacent equal rows, client/opentick.go:302-317). Under Spark
    the idiomatic form is half-open ranges — see ``Engine.execute_split``.
    """
    if num_parts <= 1 or type(start) is not type(end):
        return []
    if isinstance(start, float):
        d = (end - start) / num_parts
    else:
        d = (end - start) // num_parts
    parts = [[start + i * d, start + (i + 1) * d] for i in range(num_parts)]
    parts[-1][1] = end
    return [tuple(p) for p in parts]


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        auto_compact_every: int | None = None,
        permission_control: bool = False,
    ):
        """``auto_compact_every``: opt-in background-style maintenance —
        after N commits to a table since its last compaction, the next
        insert triggers a compaction (preserving its hash-bucket layout),
        keeping reads on the window-free sorted-base path during long
        ingest sessions (the LSM compaction analog)."""
        self.spark = spark
        self.catalog = Catalog(warehouse)
        self.current_db: str | None = None
        self._prepared: dict[int, tuple[str, Any]] = {}
        self._prepared_by_sql: dict[str, int] = {}
        self._prepared_ids = itertools.count(1)
        self._lock = threading.RLock()
        self._stores: dict[tuple[str, str], TableStore] = {}
        self.auto_compact_every = auto_compact_every
        # C7 permission control (user.go; server.go:34-35): off → every
        # caller is an implicit admin (user=None short-circuits get_perm)
        self.permission_control = permission_control
        self.users = UserRegistry(self)
        self.user: User | None = User() if permission_control else None
        if permission_control:
            self.users.load()

    # ------------------------------------------------------------------
    def use(self, db: str) -> None:
        # server.go:437-438: `use` rejects a db the user can't even read
        if get_perm(self.user, db) == 0:
            raise OpentickError("No permission")
        self.current_db = db

    # -- C7 session/user commands (server.go:399-421, 478-496) ---------
    def login(self, name: str, password: str) -> None:
        if not name or not password:
            raise OpentickError("Both username and password required")
        if not self.users.users:
            self.users.load()
        u = self.users.get(name)
        if u is None:
            raise OpentickError("Unknown username")
        if not u.check_password(password):
            raise OpentickError("Password mismatch")
        self.user = u

    def chgpasswd(self, new_password: str) -> None:
        if self.user is None or not self.user.name:
            raise OpentickError("Not logged in")
        self.user.password = sha1_string(new_password)
        self.users.save(self.user)

    def reload_users(self) -> None:
        if self.user is not None and not self.user.is_admin:
            raise OpentickError("No permission")
        self.users.load()

    def create_user(
        self,
        name: str,
        password: str,
        is_admin: bool = False,
        perm: str = "",
    ) -> None:
        """Admin helper: upsert a user row (the reference does this with a
        plain INSERT into _meta_.user; perm syntax 'db=read;db.tbl=write')."""
        if self.user is not None and not self.user.is_admin:
            raise OpentickError("No permisssion")
        self.users.save(
            User(
                name=name,
                password=sha1_string(password),
                is_admin=is_admin,
                perm=parse_perm(perm),
            )
        )

    def store(self, db: str, table: str) -> TableStore:
        with self._lock:
            key = (db, table)
            st = self._stores.get(key)
            if st is None:
                self.catalog.get_schema(db, table)  # existence check
                st = TableStore(self.catalog, db, table)
                self._stores[key] = st
            return st

    def _db_of(self, t: ast.TableName) -> str:
        db = t.db or self.current_db
        if not db:
            raise OpentickError(
                "No database name has been specified. USE a database name, "
                "or explicitly specify databasename.tablename"
            )
        return db

    # ------------------------------------------------------------------
    def prepare(self, sql: str) -> int:
        """Parse + resolve once; returns an id reusable with execute()
        (implicit-prepare caching like the clients, client/opentick.go:256-276)."""
        with self._lock:
            if sql in self._prepared_by_sql:
                return self._prepared_by_sql[sql]
            node = parse(sql)
            resolved = self._resolve(node)
            pid = next(self._prepared_ids)
            self._prepared[pid] = (sql, resolved)
            self._prepared_by_sql[sql] = pid
            return pid

    def _resolve(self, node):
        # permission checks live at resolve time, like the reference
        # (resolveSelect/Insert/Delete, query.go:351-354, 465-468, 524-527)
        if isinstance(node, ast.Select):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, READ_PERM)
            return resolve_select(self.catalog.get_schema(db, node.table.name), node)
        if isinstance(node, ast.Insert):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, WRITE_PERM)
            return resolve_insert(self.catalog.get_schema(db, node.table.name), node)
        if isinstance(node, ast.Delete):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, WRITE_PERM)
            return resolve_delete(self.catalog.get_schema(db, node.table.name), node)
        raise OpentickError("Only select/insert/delete can be resolved")

    # ------------------------------------------------------------------
    def execute(self, sql: str | int, *args: Any) -> DataFrame | None:
        """Run a statement (SQL text or a prepared id). SELECT returns a
        DataFrame; DDL/DML return None."""
        if isinstance(sql, int):
            return self._run_resolved(self._prepared_statement(sql), args)
        # EXPLAIN <select> (extension): the physical plan as rows, so
        # pushdown/broadcast shapes are inspectable through the server
        # and any client — the 100 TB debugging surface
        if sql.lstrip().lower().startswith("explain "):
            inner = sql.lstrip()[len("explain "):]
            df = self.execute(inner, *args)
            if df is None:
                raise OpentickError("Can only explain SELECT statements")
            mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            text = df._jdf.queryExecution().explainString(mode)
            return self.spark.createDataFrame(
                [(line,) for line in text.splitlines()], "plan_line string"
            )
        return self._execute_node(parse(sql), args)

    def _prepared_statement(self, pid: int):
        try:
            return self._prepared[pid][1]
        except KeyError:
            raise OpentickError(f"Unknown prepared id {pid}") from None

    def _execute_node(self, node, args: tuple) -> DataFrame | None:
        """``execute`` of an already parsed statement."""
        # DDL dispatches straight to the catalog (Execute, query.go:44-119);
        # perm gates mirror query.go:51-54 (db DDL: admin), 68-71 (create
        # table: db write), 99-102 (drop table: table write)
        if isinstance(node, ast.CreateDatabase):
            self._require_admin()
            self.catalog.create_database(node.name, node.if_not_exists)
            return None
        if isinstance(node, ast.DropDatabase):
            self._require_admin()
            self.catalog.drop_database(node.name)
            return None
        if isinstance(node, ast.CreateTable):
            db = self._db_of(node.table)
            require_perm(self.user, db, "", WRITE_PERM)
            self.catalog.create_table(
                db, node.table.name, node.cols, node.pk, node.if_not_exists
            )
            return None
        if isinstance(node, ast.DropTable):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, WRITE_PERM)
            self.catalog.drop_table(db, node.table.name)
            self._stores.pop((db, node.table.name), None)
            return None
        if isinstance(node, ast.RenameTable):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, WRITE_PERM)
            self.catalog.rename_table(db, node.table.name, node.new_name)
            self._stores.pop((db, node.table.name), None)
            return None
        if isinstance(node, ast.RenameColumn):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, WRITE_PERM)
            self.catalog.rename_column(db, node.table.name, node.old, node.new)
            return None
        if isinstance(node, ast.AddColumn):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, WRITE_PERM)
            self.catalog.add_column(db, node.table.name, node.name, node.type)
            # cached stores carry the pre-evolution schema snapshot
            self._stores.pop((db, node.table.name), None)
            return None
        if isinstance(node, ast.DropColumn):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, WRITE_PERM)
            self.catalog.drop_column(db, node.table.name, node.name)
            self._stores.pop((db, node.table.name), None)
            return None
        if isinstance(node, ast.ModifyColumn):
            db = self._db_of(node.table)
            require_perm(self.user, db, node.table.name, WRITE_PERM)
            schema = self.catalog.get_schema(db, node.table.name)
            lead = schema.key_columns[0]
            # a widened leading PK changes its xxhash64 width class when
            # it crosses into bigint/double — stored __bucket values are
            # then stale, so drop the pruning metadata BEFORE the schema
            # write (readers must never see widened schema + old buckets).
            # Gated on the widen being legal so a rejected/no-op MODIFY
            # never costs the layout its pruning.
            if (
                lead.name == node.name
                and node.type in ("bigint", "double")
                and node.type in Catalog._WIDEN.get(lead.type, ())
            ):
                self.store(db, node.table.name).invalidate_hash_buckets()
            self.catalog.modify_column(db, node.table.name, node.name, node.type)
            self._stores.pop((db, node.table.name), None)
            return None
        return self._run_resolved(self._resolve(node), args)

    def _require_admin(self) -> None:
        if self.user is not None and not self.user.is_admin:
            raise OpentickError("No permisssion")

    def execute_split(
        self, sql: str | int, ranges: list[tuple], *args: Any
    ) -> DataFrame:
        """Range-parallel read (C11): ``sql`` over the union of its (lo,
        hi) sub-ranges — each bound to its LAST two placeholders — with
        the boundary rows duplicated by the reference's inclusive
        sub-ranges appearing once, PK-ascending
        (client/opentick.go:302-317). Without LIMIT it is one scan
        filtered by the OR of the sub-ranges (``_split_frame``).

        With LIMIT each sub-range keeps its own limit and the branches
        are unioned and deduplicated on the PRIMARY KEY (boundary
        duplicates are the same physical row), never the projected
        values — two distinct rows that agree on a projected subset must
        both survive. PK columns missing from the projection are carried
        internally and dropped at the end."""
        resolved = self._split_statement(sql, ranges, args)
        return self._split_frame(resolved, ranges, args)

    def _split_statement(
        self, sql: str | int, ranges: list[tuple], args: tuple
    ) -> ResolvedSelect:
        """The prepared SELECT behind a split read, arity-checked: each
        branch binds (*args, lo, hi) — same contract as a plain execute
        of the statement."""
        if not ranges:
            raise OpentickError("execute_split requires at least one range")
        pid = self.prepare(sql) if isinstance(sql, str) else sql
        resolved = self._prepared_statement(pid)
        if not isinstance(resolved, ResolvedSelect):
            raise OpentickError("execute_split requires a select")
        self._check_args(resolved.n_placeholders, (*args, None, None))
        return resolved

    def _split_frame(
        self,
        resolved: ResolvedSelect,
        ranges: list[tuple],
        args: tuple,
        defer_sort: bool = False,
    ) -> DataFrame:
        """The split read as one DataFrame. Without LIMIT it is ONE scan
        filtered by the OR of the coalesced sub-range disjuncts (see
        ``_split_predicate``) — set-identical to union+dedup, because a
        boundary row satisfies two disjuncts but is still one row of one
        scan, and ``adj`` rewrites each row by its own (sec, tm). LIMIT
        is per sub-range in the reference, so that shape unions the
        per-range plans, drops the boundary duplicates and sorts.
        ``defer_sort`` is ``_select_frame``'s."""
        if not resolved.limit:
            disjuncts = self._split_predicate(resolved, ranges, args)
            return self._select_frame(resolved, disjuncts, defer_sort)
        import dataclasses

        pk = resolved.schema.pk_names
        want = [c.name for c in resolved.cols]
        missing = [k for k in resolved.schema.key_columns if k.name not in want]
        widened = dataclasses.replace(resolved, cols=list(resolved.cols) + missing)
        out = None
        for lo, hi in ranges:
            conds = bind_conds(widened.conds, (*args, lo, hi))
            df = self._select_frame(widened, [conds])
            out = df if out is None else out.unionAll(df)
        return out.dropDuplicates(pk).orderBy(*pk).select(*want)

    def _split_predicate(self, resolved, ranges, args):
        """Bind each (lo, hi) sub-range and coalesce adjacent/overlapping
        intervals into maximal ones (r11): the list of bound condition
        lists whose OR ``_select_frame`` filters with. Pure Python.

        The reference's SplitRange is a CLIENT-parallelism device: callers
        carve one big range into n contiguous inclusive sub-ranges so n
        connections can scan concurrently (client/opentick.go:63-127).
        Spark parallelizes the scan itself, so n contiguous disjuncts are
        pure overhead — a 10-arm Or evaluates 10 predicates per row and
        defeats tight row-group min/max bounding, while the coalesced
        single range pushes two leaf comparisons.

        Coalescing applies only where provably exact: exactly one cond
        varies across branches, it is a two-sided range (no equality),
        and its bound values are uniformly int (engine-native form of
        int/timestamp columns — exclusive bounds normalize to closed
        integer intervals, so [a,b] ∪ [c,d] with c <= b+1 is
        [a, max(b,d)]) or uniformly inclusive NaN-free float (merge on
        touch/overlap only: c <= b; NaN bounds fall back because Spark
        orders NaN greatest while Python comparisons make it
        incomparable). Anything else — strings, open bounds, multi-cond
        variation — keeps the literal per-range disjuncts, which remain
        set-identical to the reference's union-of-sub-scans."""
        bound = [bind_conds(resolved.conds, (*args, lo, hi)) for lo, hi in ranges]
        first = bound[0]
        varying = {
            j
            for j in range(len(first))
            if any(b[j] != first[j] for b in bound[1:])
        }
        if not varying:
            return [first]  # identical branches: one disjunct
        if len(varying) > 1:
            return bound
        j = next(iter(varying))
        c0 = first[j]
        if c0.equal is not None or c0.start is None or c0.end is None:
            return bound
        kind = type(c0.start.value)
        if kind not in (int, float):
            return bound
        ivals: list[list] = []
        for b in bound:
            c = b[j]
            if c.equal is not None or c.start is None or c.end is None:
                return bound
            lo, hi = c.start.value, c.end.value
            if type(lo) is not kind or type(hi) is not kind:
                return bound
            if kind is int:
                lo += 0 if c.start.inclusive else 1
                hi -= 0 if c.end.inclusive else 1
            elif (
                not (c.start.inclusive and c.end.inclusive)
                or lo != lo  # NaN bound: Spark sorts NaN greatest,
                or hi != hi  # Python can't compare — don't coalesce
            ):
                return bound
            if lo <= hi:
                ivals.append([lo, hi])
        if not ivals:
            # every sub-range is empty: keep one (vacuously false) branch
            return [first]
        ivals.sort()
        merged = [ivals[0]]
        touch = 1 if kind is int else 0
        for lo, hi in ivals[1:]:
            if lo <= merged[-1][1] + touch:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        out = []
        for lo, hi in merged:
            conds = list(first)
            conds[j] = ResolvedCond(
                col=c0.col, start=Bound(lo, True), end=Bound(hi, True)
            )
            out.append(conds)
        return out

    # -- result delivery -------------------------------------------------
    def _result_table(
        self, sql: str | int, args: tuple, ranges: list[tuple] | None = None
    ):
        """The one producer behind the three result shapes: ``(table,
        cols)`` where ``table`` is the statement's result as a PK-ordered
        pyarrow Table (None for DDL/DML) and ``cols`` lists its reply
        columns as ``(name, opentick_type)``. ``ranges`` makes it a split
        read (see ``execute_split``).

        A select without LIMIT collects the UNSORTED scan and sorts with
        pyarrow: the DataFrame API keeps its global ``orderBy`` (the
        100 TB contract), but these shapes hold the whole result on the
        driver anyway, so a range-partitioning Exchange plus its
        sampling job would order rows that one Arrow ``sort_by`` orders
        exactly (PKs are unique under upsert semantics). With LIMIT,
        plain or split, it collects the plan's own ordered result —
        TakeOrderedAndProject is already exchange-free and prunes to n
        rows executor-side. EXPLAIN collects its plan lines. A failing
        collect raises: nothing is planned or run a second time."""
        if ranges is None:
            resolved, df = self._select_or_run(sql, args)
            if resolved is None:
                if df is None:
                    return None, []
                return df.toArrow(), [(n, "text") for n in df.columns]
            self._check_args(resolved.n_placeholders, args)
            conds = bind_conds(resolved.conds, args)
            df = self._select_frame(resolved, [conds], defer_sort=True)
        else:
            resolved = self._split_statement(sql, ranges, args)
            df = self._split_frame(resolved, ranges, args, defer_sort=True)
        tbl = df.toArrow()
        if not resolved.limit:
            order = "descending" if resolved.reverse else "ascending"
            tbl = tbl.sort_by([(k, order) for k in resolved.schema.pk_names])
        return tbl, [(c.name, c.type) for c in resolved.cols]

    def _select_or_run(self, sql: str | int, args: tuple):
        """``(resolved, None)`` when ``sql`` is a (prepared) SELECT, else
        ``(None, result)`` after running it the way ``execute`` does —
        text SQL is parsed once either way. Raises the standard
        unknown-pid error for dangling prepared ids."""
        if isinstance(sql, int):
            stmt = self._prepared_statement(sql)
            if isinstance(stmt, ResolvedSelect):
                return stmt, None
            return None, self._run_resolved(stmt, args)
        if sql.lstrip().lower().startswith("explain "):
            return None, self.execute(sql, *args)
        node = parse(sql)
        if isinstance(node, ast.Select):
            return self._resolve(node), None
        return None, self._execute_node(node, args)

    def execute_rows(
        self, sql: str | int, *args: Any, ranges: list[tuple] | None = None
    ) -> list[tuple] | None:
        """Reference-client result shape: list of row tuples with
        timestamp cells as (epoch_sec, nanosec) pairs
        (client/opentick.go:171-189); None for DDL/DML."""
        cols, ts_idx = self.execute_columns_ns(sql, *args, ranges=ranges)
        if cols is None:
            return None
        for i in ts_idx:
            cols[i] = [
                from_epoch_nanos(v) if v is not None else None for v in cols[i]
            ]
        return list(zip(*cols))

    def execute_columns_ns(
        self, sql: str | int, *args: Any, ranges: list[tuple] | None = None
    ):
        """``(cols, ts_idx)``: the result as column lists with timestamp
        columns left as raw epoch-ns ints, ``ts_idx`` naming their
        positions — the wire's negotiated "1c"+"1t" reply and the
        in-process client's input; the reader converts only those
        columns. ``(None, [])`` for DDL/DML."""
        tbl, cols = self._result_table(sql, args, ranges)
        if tbl is None:
            return None, []
        return (
            [tbl.column(name).to_pylist() for name, _ in cols],
            [i for i, (_, t) in enumerate(cols) if t == "timestamp"],
        )

    def execute_packed_payload(
        self, sql: str | int, *args: Any, ranges: list[tuple] | None = None
    ):
        """The wire's packed-columnar reply ("1p") straight from the
        Arrow buffers (``wire_packed.pack_arrow_table``), or None for
        DDL/DML."""
        tbl, cols = self._result_table(sql, args, ranges)
        return None if tbl is None else wire_packed.pack_arrow_table(tbl, cols)

    # ------------------------------------------------------------------
    def _check_args(self, n_expected: int, args: tuple) -> None:
        if len(args) != n_expected:
            raise OpentickError(f"Expected {n_expected} arguments, got {len(args)}")

    def _run_resolved(self, resolved, args: tuple) -> DataFrame | None:
        if isinstance(resolved, ResolvedSelect):
            self._check_args(resolved.n_placeholders, args)
            return self._select_frame(resolved, [bind_conds(resolved.conds, args)])
        if isinstance(resolved, ResolvedInsert):
            self._check_args(resolved.n_placeholders, args)
            self._insert(resolved, [[a] for a in args], 1)
            return None
        if isinstance(resolved, ResolvedDelete):
            self._check_args(resolved.n_placeholders, args)
            return self._run_delete(resolved, args)
        raise OpentickError("Invalid statement")

    def _select_frame(
        self,
        stmt: ResolvedSelect,
        disjuncts: list[list[ResolvedCond]],
        defer_sort: bool = False,
    ) -> DataFrame:
        """The one select plan: the store's read, filtered by ONE
        ``F.expr`` of the OR of ``disjuncts`` (bound condition lists —
        one for a plain select, the coalesced sub-ranges for a split),
        then ``adj``, then the implicit PK order and LIMIT.

        A leading-PK equality prunes hash buckets only when every
        disjunct has the same one: a lead equality that differs between
        sub-ranges would prune the other sub-ranges' buckets away.
        ``defer_sort`` (without LIMIT) skips the sort and carries the PK
        through for a caller that sorts the collected table itself."""
        schema = stmt.schema
        st = self.store(schema.db, schema.name)
        lead = schema.key_columns[0].name

        def lead_eq(conds):
            return next(
                (c.equal for c in conds if c.col.name == lead and c.equal is not None),
                None,
            )

        leading_eq = lead_eq(disjuncts[0])
        if any(lead_eq(d) != leading_eq for d in disjuncts[1:]):
            leading_eq = None
        df = st.read(self.spark, leading_eq=leading_eq)
        if all(disjuncts):  # an empty disjunct makes the OR true
            df = df.filter(
                F.expr(" OR ".join(f"({_conds_sql(d)})" for d in disjuncts))
            )
        if stmt.adjs:
            adj_store = self.store(schema.db, ADJ_TABLE)
            adj_df, adj_snapshot = adj_store.read(self.spark, with_snapshot=True)
            keys = schema.key_columns
            px_cols = [a.col.name for a in stmt.adjs if a.kind == "px"]
            vol_cols = [a.col.name for a in stmt.adjs if a.kind == "vol"]
            backward = stmt.adjs[0].backward
            df = apply_adj(
                df,
                adj_df,
                keys[0].name,
                keys[-1].name,
                px_cols,
                vol_cols,
                backward,
                snapshot=(adj_store.path, adj_snapshot),
            )
        # implicit full-PK ordering; LIMIT -n = tail in DESCENDING order
        pk = schema.pk_names
        if defer_sort and not stmt.limit:
            # result-shape path: the caller sorts the collected Arrow
            # table itself (_result_table) — project the PK through so
            # it can
            proj = list(dict.fromkeys([c.name for c in stmt.cols] + pk))
            return df.select(*proj)
        order = [F.col(k).desc() for k in pk] if stmt.reverse else [F.col(k) for k in pk]
        df = df.orderBy(*order)
        if stmt.limit:
            df = df.limit(stmt.limit)
        return df.select(*[c.name for c in stmt.cols])

    def _run_delete(self, stmt: ResolvedDelete, args: tuple) -> None:
        st = self.store(stmt.schema.db, stmt.schema.name)
        conds = bind_conds(stmt.conds, args)
        st.delete_where(self.spark, F.expr(_conds_sql(conds)))
        return None

    # ------------------------------------------------------------------
    def _insert(
        self,
        stmt: ResolvedInsert,
        arg_cols: list[list],
        n: int,
        applied_marker: str | None = None,
        arity: int | None = None,
    ) -> None:
        """Bind ``n`` rows, given as one list per placeholder, and append
        them as ONE atomic commit (BatchInsert, query.go:294-307); every
        dialect insert ends here.

        ``applied_marker`` makes the commit idempotent (see
        ``TableStore.has_applied_marker``). Its check runs BEFORE
        binding, so a retry of an already-published batch is a no-op
        even if the schema evolved between attempts (e.g. ALTER TABLE
        DROP COLUMN removed a bound column, which would otherwise raise).

        The error raised is the one a row-major walk hits first: the
        smallest (row, insert-column position) among the columns' first
        bad cells. ``arity`` is the argument count of a malformed row
        right after the ``n`` given; its arity error is raised only when
        those rows bind cleanly."""
        st = self.store(stmt.schema.db, stmt.schema.name)
        if applied_marker is not None and st.has_applied_marker(applied_marker):
            return  # retried batch: the original commit already published
        cols: dict[str, list] = {}
        errors = []
        for pos, (col, v) in enumerate(zip(stmt.cols, stmt.values)):
            if not isinstance(v, Placeholder):
                cols[col.name] = [v] * n  # literal: validated at resolve
                continue
            cols[col.name], err = _bind_column(col, arg_cols[v.index])
            if err is not None:
                errors.append((err[0], pos, err[1]))
        if errors:
            raise min(errors, key=lambda e: e[:2])[2]
        if arity is not None:
            raise OpentickError(
                f"Expected {stmt.n_placeholders} arguments, got {arity}"
            )
        st.append_columns(cols, applied_marker=applied_marker)
        self._maybe_auto_compact(st)

    def _maybe_auto_compact(self, st) -> None:
        if not (
            self.auto_compact_every
            and st.commits_since_compact() >= self.auto_compact_every
        ):
            return
        from opentick_spark.table import CompactionFoldError

        try:
            st.compact(
                self.spark, hash_buckets=st._meta().get("hash_buckets")
            )
        except CompactionFoldError:
            # opportunistic maintenance must not fail a COMMITTED
            # insert: the strict marker fold (r11) aborts compaction
            # BEFORE any mutation on a transient sidecar-read error,
            # and the commit count stays above the threshold, so the
            # very next insert retries — self-healing. Errors from
            # post-mutation compaction phases are NOT caught: the
            # store may be mid-swap and must fail loudly.
            pass

    def batch_insert(
        self,
        sql_or_id: str | int,
        rows_args: list[tuple],
        idempotency_key: str | None = None,
    ) -> None:
        """Atomic batch insert (reference BatchInsert). ``idempotency_key``
        (extension, r10): a client retrying after a timeout/reconnect can
        resend the SAME batch with the same key — if the original commit
        published, the retry is a no-op instead of a duplicate commit
        (dedup via the applied-marker machinery, durable across
        compaction). Keys share the marker namespace with streaming
        sinks; use a UUID per logical batch.

        Dedup horizon: the per-table marker cache keeps the most recent
        ``TableStore._MARKER_CACHE_CAP`` markers (default 4096,
        overridable per store instance). A key older than that horizon
        whose commit has also been compacted away will re-apply on
        retry — size the cap above the worst-case number of batches a
        client might ever replay (retries happen within seconds; the
        horizon exists so meta stays O(1))."""
        stmt = self._prepared_insert(sql_or_id)
        width = stmt.n_placeholders
        bad = next(
            (i for i, a in enumerate(rows_args) if len(a) != width),
            len(rows_args),
        )
        rows = rows_args[:bad]
        arg_cols = (
            [list(c) for c in zip(*rows)] if rows else [[] for _ in range(width)]
        )
        arity = len(rows_args[bad]) if bad < len(rows_args) else None
        self._insert(stmt, arg_cols, bad, idempotency_key, arity)

    def batch_insert_columns(
        self,
        sql_or_id: str | int,
        arg_cols: list[list],
        idempotency_key: str | None = None,
    ) -> None:
        """Columnar batch insert (r11): ``arg_cols`` holds one list per
        PLACEHOLDER (in placeholder order) — the shape the wire's
        packed "3p" payload already decodes to, so the server feeds it
        straight to the bind without a cols→rows→cols double transpose.
        Semantics, errors included, are identical to ``batch_insert`` of
        the transposed rows."""
        stmt = self._prepared_insert(sql_or_id)
        if not arg_cols:
            return  # empty batch: nothing to commit (matches rows path)
        # ragged check BEFORE the empty-batch return: an empty FIRST
        # column with non-empty later columns must fail loudly, not
        # silently drop the other columns' rows (r11 review)
        n = len(arg_cols[0])
        if any(len(c) != n for c in arg_cols):
            raise OpentickError("batch_insert_columns: ragged arg columns")
        if n == 0:
            return  # rectangular empty batch
        if len(arg_cols) != stmt.n_placeholders:  # row 0 is malformed
            empty = [[] for _ in range(stmt.n_placeholders)]
            return self._insert(stmt, empty, 0, idempotency_key, len(arg_cols))
        self._insert(stmt, arg_cols, n, idempotency_key)

    def _prepared_insert(self, sql_or_id: str | int) -> ResolvedInsert:
        if isinstance(sql_or_id, str):
            sql_or_id = self.prepare(sql_or_id)
        stmt = self._prepared_statement(sql_or_id)
        if not isinstance(stmt, ResolvedInsert):
            raise OpentickError("Batch requires a prepared insert")
        return stmt

    # ------------------------------------------------------------------
    # meta surface (server.go:440-499)
    def sql(
        self,
        query: str,
        db: str | None = None,
        as_of: int | dict[str, int] | None = None,
    ) -> DataFrame:
        """Full ANSI/Spark SQL over the warehouse — the relational
        extension surface as a first-class entry point. Every table of
        ``db`` (default: the session db) is registered as a temp view of
        its resolved state (latest-wins, tombstones dropped), so
        joins/windows/CTEs/set-ops run against exactly what the dialect
        surface would read; Catalyst handles pushdown/pruning from there.
        Views are session-scoped and refreshed on every call (cheap —
        view registration is metadata only; plans re-resolve lazily).
        Permission control applies per table (READ) like the dialect
        path.

        ``as_of``: time-travel SQL — an int pins EVERY view to that
        commit sequence (a consistent cross-table snapshot when the
        tables share a commit clock is not assumed: each table's own log
        is filtered to ``__seq <= as_of``); a dict pins only the named
        tables, others read current state."""
        target = db or self.current_db
        if not target:
            raise OpentickError(
                "No database name has been specified. USE a database name, "
                "or explicitly specify databasename.tablename"
            )
        for t in self.catalog.list_tables(target):
            require_perm(self.user, target, t, READ_PERM)
            seq = as_of.get(t) if isinstance(as_of, dict) else as_of
            self.store(target, t).read(
                self.spark, as_of_seq=seq
            ).createOrReplaceTempView(t)
        return self.spark.sql(query)

    def list_databases(self) -> list[str]:
        return self.catalog.list_databases()

    def list_tables(self, db: str | None = None) -> list[str]:
        return self.catalog.list_tables(db or self.current_db)

    def table_meta(self, db: str, table: str) -> list[list[tuple[str, str]]]:
        """`meta schema` shape: [[key cols], [value cols]] of (name, type)."""
        s = self.catalog.get_schema(db, table)
        return [
            [(c.name, c.type) for c in s.key_columns],
            [(c.name, c.type) for c in s.value_columns],
        ]


def connect(spark: SparkSession, warehouse: str, db: str | None = None) -> Engine:
    eng = Engine(spark, warehouse)
    if db:
        eng.use(db)
    return eng
