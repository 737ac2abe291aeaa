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
  descending under ``LIMIT -n`` — query.go:156-159); ``execute_rows``
  collects with timestamps converted back to the reference's (sec, nsec)
  wire pairs (client/opentick.go:171-189)
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
)
from opentick_spark.errors import OpentickError
from opentick_spark.operators.adj import apply_adj
from opentick_spark.table import TableStore
from opentick_spark.typesys import (
    _INT_CLAMP,
    NS_PER_SEC,
    from_epoch_nanos,
    validate_value,
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


def _bulk_bind_columns(stmt, rows_args: list[tuple]) -> dict | None:
    """Columnar bulk bind for the batch-ingest hot path (r11): returns
    ``{logical_name: [engine-native values]}`` when every column passes
    a strict type screen that makes the bulk transform provably
    identical to per-row ``validate_value``, else None (caller falls
    back to the per-row loop, which owns the exact reference error
    strings and first-bad-row ordering). Screens use ``type(x) is T``
    — the ``is`` comparison rejects bool (a subclass of int) exactly
    like validate_value's explicit isinstance(value, bool) guards."""
    n = stmt.n_placeholders
    if any(len(a) != n for a in rows_args):
        return None
    return _screen_columns(stmt, lambda i: [a[i] for a in rows_args])


def _screen_columns(stmt, col_of) -> dict | None:
    """Shared per-placeholder screen loop (r11): ``col_of(i)`` yields
    placeholder ``i``'s value column. One implementation serves both the
    row-gathering path and the wire's already-columnar '3p' path so the
    screen contract can never diverge between them."""
    out: dict[str, list] = {}
    for col, v in zip(stmt.cols, stmt.values):
        if not isinstance(v, Placeholder):
            return None  # literal in VALUES: keep the per-row path
        vals = _screen_coerce(col.type, col_of(v.index))
        if vals is None:
            return None
        out[col.name] = vals
    return out


def _screen_coerce(t: str, vals: list) -> list | None:
    """One column's strict type screen + bulk coercion (see
    ``_bulk_bind_columns``). Returns the engine-native list, or None
    when any element needs the per-row path."""
    if t in ("tinyint", "smallint", "int", "bigint"):
        if not all(type(x) is int for x in vals):
            return None
        lo_hi = _INT_CLAMP.get(t)
        if lo_hi and vals and (min(vals) < lo_hi[0] or max(vals) > lo_hi[1]):
            lo, hi = lo_hi
            vals = [lo if x < lo else hi if x > hi else x for x in vals]
        return vals
    if t in ("double", "float"):
        if all(type(x) is float for x in vals):
            return vals
        if all(type(x) in (int, float) for x in vals):
            return [float(x) for x in vals]
        return None
    if t == "timestamp":
        # int = epoch SECONDS (query.go:754-778); other accepted forms
        # ([sec,nsec], RFC3339, datetime, float) stay per-row
        if not all(type(x) is int for x in vals):
            return None
        return [x * NS_PER_SEC for x in vals]
    if t == "boolean":
        if not all(type(x) is bool for x in vals):
            return None
        return vals
    if t == "text":
        if not all(type(x) is str for x in vals):
            return None
        return vals
    return None  # unknown type: per-row path raises its error



def _render_num_sql(v) -> "str | None":
    """SQL literal for a plain finite int/float (engine-native numeric
    values — resolver-validated, so timestamps are already epoch
    integers here). None means "not safely renderable" (strings,
    bools, NaN/inf) and the caller falls back to Column building."""
    if type(v) is int:
        return repr(v)
    if type(v) is float:
        import math

        if not math.isfinite(v):
            return None
        r = repr(v)  # CPython repr round-trips; Spark SQL parses
        return r if ("e" in r or "." in r) else r + ".0"
    return None


_SAFE_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _render_conds_sql(conds) -> "str | None":
    """One SQL string for a bound condition list — the single-expr()
    fast path of ``_split_predicate.fold`` (r14: one py4j call instead
    of ~9 per comparison). None if any literal is non-numeric, or if a
    column name is not a plain identifier (r15, ADVICE r14: an embedded
    backtick would break the quoting, and a dotted name quoted whole
    here would diverge from the ``F.col()`` fallback, which parses dots
    as field access — the dialect tokenizer only admits
    ``[_a-zA-Z][a-zA-Z0-9_]*`` so this is unreachable via SQL, but the
    guard keeps the fast path safe for any future caller)."""
    parts = []
    for c in conds:
        if not _SAFE_IDENT_RE.match(c.col.name):
            return None
        name = f"`{c.col.name}`"
        if c.equal is not None:
            lit = _render_num_sql(c.equal)
            if lit is None:
                return None
            parts.append(f"{name} = {lit}")
        if c.start is not None:
            lit = _render_num_sql(c.start.value)
            if lit is None:
                return None
            parts.append(f"{name} >{'=' if c.start.inclusive else ''} {lit}")
        if c.end is not None:
            lit = _render_num_sql(c.end.value)
            if lit is None:
                return None
            parts.append(f"{name} <{'=' if c.end.inclusive else ''} {lit}")
    return " AND ".join(parts) if parts else "true"


def ttl_cache_put(
    cache: dict, lock: Any, key: tuple, value: Any, ttl: float
) -> None:
    """Store ``value`` in ``cache`` under ``key`` for ``ttl`` seconds, as
    ``(expiry, value)``. Expired entries are swept lazily: once the dict
    holds more than 4096 entries, each put first drops the expired ones."""
    with lock:
        now = time.time()
        if len(cache) > 4096:
            for k in [k for k, (exp, _) in cache.items() if now >= exp]:
                del cache[k]
        cache[key] = (now + ttl, value)


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
        cache_ttl: float | None = None,
        auto_compact_every: int | None = None,
        permission_control: bool = False,
    ):
        """``cache_ttl``: optional TTL (seconds) for the SELECT response
        cache (--cache, server.go:27,37-40). Like the reference, cached
        results are served STALE within the TTL — deleted rows keep
        appearing until expiry (server_test.go:161-183). Off by default;
        keep off for correctness runs.

        ``auto_compact_every``: opt-in background-style maintenance —
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
        self.cache_ttl = cache_ttl
        self._response_cache: dict[tuple, tuple[float, list]] = {}
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
            try:
                _, resolved = self._prepared[sql]
            except KeyError:
                raise OpentickError(f"Unknown prepared id {sql}") from None
            return self._run_resolved(resolved, args)
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
        node = parse(sql)
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
        """Range-parallel read (C11): run ``sql`` once per (lo, hi) pair —
        bound to its LAST two placeholders — and union the results,
        dropping the boundary rows duplicated by the reference's
        inclusive sub-ranges. One Spark job; each branch prunes to its
        own row groups, which is the reference's n-concurrent-scans
        pattern expressed as partitions.

        The dedup key is the PRIMARY KEY (boundary duplicates are the
        same physical row), never the projected values — two distinct
        rows that agree on a projected subset must both survive. PK
        columns missing from the projection are carried internally and
        dropped at the end; the merged result stays PK-ascending
        (client/opentick.go:302-317)."""
        if not ranges:
            raise OpentickError("execute_split requires at least one range")
        import dataclasses

        pid = self.prepare(sql) if isinstance(sql, str) else sql
        resolved = self._prepared[pid][1]
        if not isinstance(resolved, ResolvedSelect):
            raise OpentickError("execute_split requires a select")
        # each branch binds (*args, lo, hi) — same arity contract as a
        # plain execute of the statement
        self._check_args(resolved.n_placeholders, (*args, None, None))
        pk = resolved.schema.pk_names
        want = [c.name for c in resolved.cols]
        if not resolved.limit and not resolved.adjs:
            # fast path: ONE scan filtered by the OR of the sub-range
            # predicates — coalesced first, so the reference-style
            # contiguous split collapses to a single range predicate
            # (see _split_disjuncts). Set-identical to union+dedup (a
            # boundary row satisfies two disjuncts but is still one row
            # of one scan), with none of the n-subplan union, the
            # dropDuplicates shuffle, or n passes over the
            # upsert-resolution window — this is the "native Spark
            # parallelism" form of SplitRange.
            # (LIMIT/adj are per-sub-range semantics in the reference →
            # those fall back to the branch-union path below.)
            pred, leading_eq = self._split_predicate(resolved, ranges, args)
            st = self.store(resolved.schema.db, resolved.schema.name)
            df = st.read(self.spark, leading_eq=leading_eq).filter(pred)
            return df.orderBy(*pk).select(*want)
        missing = [k for k in resolved.schema.key_columns if k.name not in want]
        widened = dataclasses.replace(resolved, cols=list(resolved.cols) + missing)
        out = None
        for lo, hi in ranges:
            df = self._run_resolved(widened, (*args, lo, hi))
            out = df if out is None else out.unionAll(df)
        return out.dropDuplicates(pk).orderBy(*pk).select(*want)

    def _split_predicate(self, resolved, ranges, args):
        """Bind each (lo, hi) sub-range, coalesce adjacent/overlapping
        intervals into maximal ones, and fold the result into ONE Spark
        predicate (r11). Returns ``(pred, leading_eq)`` where
        ``leading_eq`` is the leading-PK equality for hash-bucket
        partition pruning — only when it is IDENTICAL across every
        bound branch (a lead equality the ranges themselves bind would
        prune other branches' buckets away).

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
        lead = resolved.schema.key_columns[0].name
        leading_eq = next(
            (
                c.equal
                for j, c in enumerate(first)
                if j not in varying
                and c.col.name == lead
                and c.equal is not None
            ),
            None,
        )

        def fold(disjuncts):
            # r14 (profiled: ~60% of the split row's driver time was
            # py4j round-trips — ~9 JVM calls per Column comparison,
            # ~90 per 10-arm disjunction): when every literal is plain
            # numeric (the engine-native form of int/timestamp PKs —
            # exactly the SplitRange workload), render the WHOLE
            # disjunction as one SQL string and make ONE expr() call.
            # Catalyst parses it to the identical predicate tree. Any
            # non-numeric literal falls back to Column building.
            rendered = [_render_conds_sql(conds) for conds in disjuncts]
            if all(r is not None for r in rendered):
                return F.expr(" OR ".join(f"({r})" for r in rendered)), leading_eq
            pred = None
            for conds in disjuncts:
                p = self._predicate(conds)
                pred = p if pred is None else (pred | p)
            return pred, leading_eq

        if not varying:
            return fold([first])  # identical branches: one disjunct
        if len(varying) > 1:
            return fold(bound)
        j = next(iter(varying))
        c0 = first[j]
        if c0.equal is not None or c0.start is None or c0.end is None:
            return fold(bound)
        kind = type(c0.start.value)
        if kind not in (int, float):
            return fold(bound)
        ivals: list[list] = []
        for b in bound:
            c = b[j]
            if c.equal is not None or c.start is None or c.end is None:
                return fold(bound)
            lo, hi = c.start.value, c.end.value
            if type(lo) is not kind or type(hi) is not kind:
                return fold(bound)
            if kind is int:
                lo += 0 if c.start.inclusive else 1
                hi -= 0 if c.end.inclusive else 1
            elif (
                not (c.start.inclusive and c.end.inclusive)
                or lo != lo  # NaN bound: Spark sorts NaN greatest,
                or hi != hi  # Python can't compare — don't coalesce
            ):
                return fold(bound)
            if lo <= hi:
                ivals.append([lo, hi])
        if not ivals:
            # every sub-range is empty: keep one (vacuously false) branch
            return fold([first])
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
        return fold(out)

    def execute_split_rows(
        self, sql: str | int, ranges: list[tuple], *args: Any
    ) -> list[tuple]:
        """Client-materialized SplitRange (r8): the reference's
        SplitRange contract is n parallel sub-scans whose rows land at
        the CLIENT merged and PK-ordered (client/opentick.go:302-317) —
        so, exactly like ``execute_rows``, paying a plan-level global
        sort (range-exchange + sampling job) to order rows the driver
        is about to hold in one Arrow table is pure overhead. The
        fast-path OR-of-sub-ranges scan collects unsorted (PK carried)
        and pyarrow sorts; LIMIT/adj split semantics fall back to the
        sorted-plan path."""
        return list(zip(*self.execute_split_columns(sql, ranges, *args)))

    def execute_split_columns(
        self, sql: str | int, ranges: list[tuple], *args: Any
    ) -> list[list]:
        """Column-shaped twin of ``execute_split_rows`` (same cells as
        ``execute_columns``) — serves the wire's columnar/packed reply
        fast paths without a server-side transpose."""
        tbl, resolved = self._split_arrow_table(sql, ranges, args)
        if tbl is None:
            df = self.execute_split(sql, ranges, *args)
            return self._materialize_columns(df, resolved)
        cols = [tbl.column(c.name).to_pylist() for c in resolved.cols]
        for i, c in enumerate(resolved.cols):
            if c.type == "timestamp":
                cols[i] = [
                    from_epoch_nanos(v) if v is not None else None
                    for v in cols[i]
                ]
        return cols

    def _split_arrow_table(self, sql: str | int, ranges: list[tuple], args: tuple):
        """Sorted Arrow collect of the coalesced split scan, or
        ``(None, resolved)`` when the per-sub-range semantics (LIMIT/
        adj) or a non-Arrow result need the DataFrame path."""
        if not ranges:
            raise OpentickError("execute_split requires at least one range")
        pid = self.prepare(sql) if isinstance(sql, str) else sql
        resolved = self._prepared[pid][1]
        if not isinstance(resolved, ResolvedSelect):
            raise OpentickError("execute_split requires a select")
        self._check_args(resolved.n_placeholders, (*args, None, None))
        if resolved.limit or resolved.adjs:
            return None, resolved
        want = [c.name for c in resolved.cols]
        pk = resolved.schema.pk_names
        proj = list(dict.fromkeys(want + pk))
        # same coalesced OR-predicate single scan as execute_split's
        # fast path, minus the orderBy
        pred, leading_eq = self._split_predicate(resolved, ranges, args)
        st = self.store(resolved.schema.db, resolved.schema.name)
        df = st.read(self.spark, leading_eq=leading_eq).filter(pred).select(*proj)
        try:
            tbl = df.toArrow()
        except Exception:
            return None, resolved
        return tbl.sort_by([(k, "ascending") for k in pk]), resolved

    def execute_rows(self, sql: str | int, *args: Any) -> list[tuple] | None:
        """Reference-client result shape: list of row tuples with timestamp
        columns as (epoch_sec, nanosec) pairs. Serves the SELECT response
        cache when ``cache_ttl`` is set (stale within TTL, like the
        reference — server.go:342-350)."""
        cache_key = None
        if self.cache_ttl is not None:
            sql_text = self._prepared[sql][0] if isinstance(sql, int) else sql
            if sql_text.lstrip().lower().startswith("select"):
                # args may contain [sec, nsec] timestamp lists — hashable form
                cache_key = (
                    sql_text,
                    tuple(
                        tuple(a) if isinstance(a, list) else a for a in args
                    ),
                )
                hit = self._response_cache.get(cache_key)
                if hit is not None and time.time() < hit[0]:
                    return hit[1]
        cols = self._execute_to_columns(sql, args)
        if cols is None:
            return None
        rows = list(zip(*cols))
        if cache_key is not None:
            ttl_cache_put(
                self._response_cache, self._lock, cache_key, rows, self.cache_ttl
            )
        return rows

    def execute_columns(self, sql: str | int, *args: Any) -> list[list] | None:
        """Columnar result for the wire fast path: the same cells as
        ``execute_rows`` but as column lists, skipping the row-transpose
        on the server (the client zips after decode — C-speed either
        side, one transpose total instead of three)."""
        return self._execute_to_columns(sql, args)

    def _resolved_select_of(self, sql: str | int):
        """Resolve a statement for the columnar materializers: the
        ResolvedSelect when ``sql`` is a (prepared) SELECT, else None
        (caller falls through to the generic ``execute`` path). Raises
        the standard unknown-pid error for dangling prepared ids."""
        if isinstance(sql, int):
            try:
                resolved = self._prepared[sql][1]
            except KeyError:
                raise OpentickError(f"Unknown prepared id {sql}") from None
            return resolved if isinstance(resolved, ResolvedSelect) else None
        if sql.lstrip().lower().startswith("explain "):
            return None
        node = parse(sql)
        return self._resolve(node) if isinstance(node, ast.Select) else None

    def _execute_to_columns(self, sql: str | int, args: tuple) -> list[list] | None:
        """Shared row/wire materialization: resolves SELECTs up front so
        they take the Arrow-sorted collect (no range-exchange — see
        ``_collect_select_columns``); everything else goes through
        ``execute`` unchanged."""
        resolved = self._resolved_select_of(sql)
        if isinstance(resolved, ResolvedSelect):
            self._check_args(resolved.n_placeholders, args)
            return self._collect_select_columns(resolved, args)
        result = self.execute(sql, *args)
        if result is None:
            return None
        return self._materialize_columns(result, resolved)

    def _collect_select_columns(self, stmt: ResolvedSelect, args: tuple) -> list[list]:
        """Client-materialized SELECT fast path (r8): collect the
        UNSORTED scan via Arrow and sort driver-side with pyarrow.

        The DataFrame API keeps its global ``orderBy`` (the 100 TB
        contract), but the row/wire APIs materialize EVERYTHING to the
        driver anyway (bounded, sanctioned client shape) — paying a
        range-partitioning Exchange plus its sampling job per query
        just to order rows we are about to hold in one Arrow table is
        pure overhead. Skipping it turns each select into a single
        shuffle-free stage; under the reference harness's 10-way async
        fan-out that removed ~30%% of wall-clock (concurrent jobs stop
        fighting over 2x the stages). PKs are unique (upsert
        semantics), so the pyarrow ``sort_by`` total order is exactly
        the plan's ``orderBy`` order; LIMIT queries keep the plan sort
        — Spark's TakeOrderedAndProject is already exchange-free and
        prunes to n rows executor-side."""
        tbl = self._select_arrow_table(stmt, args)
        if tbl is None:
            return self._materialize_columns(self._run_select(stmt, args), stmt)
        cols = [tbl.column(c.name).to_pylist() for c in stmt.cols]
        for i, c in enumerate(stmt.cols):
            if c.type == "timestamp":
                cols[i] = [
                    from_epoch_nanos(v) if v is not None else None
                    for v in cols[i]
                ]
        return cols

    def _select_arrow_table(self, stmt: ResolvedSelect, args: tuple):
        """Sorted Arrow collect behind the fast materialization paths,
        or None when the plan shape needs the DataFrame path (LIMIT —
        TakeOrderedAndProject already prunes executor-side) or the
        result isn't Arrow-collectible."""
        if stmt.limit:
            return None
        df = self._run_select(stmt, args, defer_sort=True)
        try:
            tbl = df.toArrow()
        except Exception:
            return None
        order = "descending" if stmt.reverse else "ascending"
        return tbl.sort_by([(k, order) for k in stmt.schema.pk_names])

    def execute_columns_ns(self, sql: str | int, *args: Any):
        """``(cols, ts_idx)`` for the wire's negotiated ns-timestamp
        reply ("1t", r11): timestamp columns stay raw epoch-ns int64
        and ``ts_idx`` names their positions, skipping the server-side
        per-cell (sec, nsec) conversion AND shrinking the json encode
        (ints, not 2-arrays); the CLIENT divmods — the same total work
        its tuple-conversion loop already did. Falls back to the
        converted cells with ``ts_idx=[]`` (reply then carries no "1t")
        for LIMIT/non-Arrow/non-select shapes. adj selects ride the ns
        path — adj rewrites px/vol float columns and leaves timestamp
        columns as engine-native ns, so the "1t" contract holds."""
        resolved = self._resolved_select_of(sql)
        if isinstance(resolved, ResolvedSelect):
            self._check_args(resolved.n_placeholders, args)
            tbl = self._select_arrow_table(resolved, args)
            if tbl is not None:
                cols = [tbl.column(c.name).to_pylist() for c in resolved.cols]
                ts_idx = [
                    i
                    for i, c in enumerate(resolved.cols)
                    if c.type == "timestamp"
                ]
                return cols, ts_idx
            # LIMIT / non-Arrow: materialize the already-resolved
            # statement directly (no second resolution or collect retry)
            return (
                self._materialize_columns(
                    self._run_select(resolved, args), resolved
                ),
                [],
            )
        return self.execute_columns(sql, *args), []

    def execute_split_columns_ns(
        self, sql: str | int, ranges: list[tuple], *args: Any
    ):
        """ns-timestamp twin of ``execute_split_columns`` (see
        ``execute_columns_ns``)."""
        tbl, resolved = self._split_arrow_table(sql, ranges, args)
        if tbl is None:
            # LIMIT/adj/non-Arrow: materialize the DataFrame split path
            # directly — re-entering execute_split_columns would rebuild
            # the scan and retry the same failing collect
            df = self.execute_split(sql, ranges, *args)
            return self._materialize_columns(df, resolved), []
        cols = [tbl.column(c.name).to_pylist() for c in resolved.cols]
        ts_idx = [
            i for i, c in enumerate(resolved.cols) if c.type == "timestamp"
        ]
        return cols, ts_idx

    def execute_packed_payload(self, sql: str | int, *args: Any):
        """The wire's packed-columnar reply ("1p") built straight from
        the Arrow collect where the statement allows — numeric/bool/
        string/ns-timestamp columns become C-speed casts + buffer
        slices, skipping ``to_pylist`` and every per-cell Python loop
        (engine-side AND pack-side). Falls back cell-exactly to
        ``pack_columns`` over materialized cells for LIMIT/DDL/
        non-Arrow shapes. Returns the payload dict, or None for
        row-less statements."""
        from opentick_spark.wire_packed import pack_arrow_table, pack_columns

        resolved = self._resolved_select_of(sql)
        if isinstance(resolved, ResolvedSelect):
            self._check_args(resolved.n_placeholders, args)
            tbl = self._select_arrow_table(resolved, args)
            if tbl is not None:
                return pack_arrow_table(
                    tbl, [(c.name, c.type) for c in resolved.cols]
                )
            # LIMIT / non-Arrow: materialize directly, no collect retry
            return pack_columns(
                self._materialize_columns(
                    self._run_select(resolved, args), resolved
                )
            )
        return pack_columns(self.execute_columns(sql, *args))

    def execute_split_packed_payload(
        self, sql: str | int, ranges: list[tuple], *args: Any
    ):
        """Packed-payload twin of ``execute_split_columns`` — the wire
        split's bson reply without a single per-cell Python loop on the
        coalesced fast path."""
        from opentick_spark.wire_packed import pack_arrow_table, pack_columns

        tbl, resolved = self._split_arrow_table(sql, ranges, args)
        if tbl is None:
            # materialize the DataFrame split path directly (see
            # execute_split_columns_ns — no rebuilt scan/collect retry)
            df = self.execute_split(sql, ranges, *args)
            return pack_columns(self._materialize_columns(df, resolved))
        return pack_arrow_table(
            tbl, [(c.name, c.type) for c in resolved.cols]
        )

    def _materialize_columns(self, result, resolved) -> list[list]:
        """Collect a result DataFrame as column lists with timestamp
        cells converted to (epoch_sec, nanosec) tuples."""
        ts_idx = set()
        if isinstance(resolved, ResolvedSelect):
            ts_idx = {i for i, c in enumerate(resolved.cols) if c.type == "timestamp"}
        try:
            # Arrow collect: columnar batches off the JVM, cells
            # materialized by pyarrow in C — ~2x faster than the
            # row-at-a-time collect() loop at 100k rows (measured:
            # 0.83 s vs 1.49 s for the 9-col scan benchmark)
            tbl = result.toArrow()
            cols = [c.to_pylist() for c in tbl.columns]
        except Exception:
            # arrow-incompatible result type → row collect, transpose
            collected = result.collect()
            cols = [list(c) for c in zip(*collected)] if collected else [
                [] for _ in result.columns
            ]
        for i in ts_idx:
            cols[i] = [
                from_epoch_nanos(v) if v is not None else None
                for v in cols[i]
            ]
        return cols

    # ------------------------------------------------------------------
    def _check_args(self, n_expected: int, args: tuple) -> None:
        if len(args) != n_expected:
            raise OpentickError(f"Expected {n_expected} arguments, got {len(args)}")

    def _run_resolved(self, resolved, args: tuple) -> DataFrame | None:
        if isinstance(resolved, ResolvedSelect):
            self._check_args(resolved.n_placeholders, args)
            return self._run_select(resolved, args)
        if isinstance(resolved, ResolvedInsert):
            self._check_args(resolved.n_placeholders, args)
            self._insert_rows(resolved, [args])
            return None
        if isinstance(resolved, ResolvedDelete):
            self._check_args(resolved.n_placeholders, args)
            return self._run_delete(resolved, args)
        raise OpentickError("Invalid statement")

    def _predicate(self, conds: list[ResolvedCond]):
        pred = F.lit(True)
        for c in conds:
            col = F.col(c.col.name)
            if c.equal is not None:
                pred = pred & (col == F.lit(c.equal))
            if c.start is not None:
                pred = pred & (
                    (col >= F.lit(c.start.value))
                    if c.start.inclusive
                    else (col > F.lit(c.start.value))
                )
            if c.end is not None:
                pred = pred & (
                    (col <= F.lit(c.end.value))
                    if c.end.inclusive
                    else (col < F.lit(c.end.value))
                )
        return pred

    def _run_select(
        self, stmt: ResolvedSelect, args: tuple, defer_sort: bool = False
    ) -> DataFrame:
        schema = stmt.schema
        st = self.store(schema.db, schema.name)
        conds = bind_conds(stmt.conds, args)
        # leading-PK equality → hash-bucket partition pruning on the store
        lead = schema.key_columns[0].name
        leading_eq = next(
            (c.equal for c in conds if c.col.name == lead and c.equal is not None),
            None,
        )
        df = st.read(self.spark, leading_eq=leading_eq)
        if conds:
            # one expr() call instead of ~9 py4j calls per comparison
            rendered = _render_conds_sql(conds)
            df = df.filter(
                F.expr(rendered) if rendered is not None else self._predicate(conds)
            )
        if stmt.adjs:
            adj_store = self.store(schema.db, ADJ_TABLE)
            adj_df, adj_snapshot = adj_store.read(self.spark, with_snapshot=True)
            keys = schema.key_columns
            px_cols = [a.col.name for a in stmt.adjs if a.kind == "px"]
            vol_cols = [a.col.name for a in stmt.adjs if a.kind == "vol"]
            backward = stmt.adjs[0].backward
            # broadcast-interval strategy: _adj_ is corporate actions —
            # structurally tiny — so the row stream keeps its partitioning
            # (no Exchange, skew-immune) and is ~30% faster than the
            # sorted-merge window even unskewed (measured at sf0.1)
            df = apply_adj(
                df,
                adj_df,
                keys[0].name,
                keys[-1].name,
                px_cols,
                vol_cols,
                backward,
                strategy="broadcast",
                snapshot=(adj_store.path, adj_snapshot),
            )
        # implicit full-PK ordering; LIMIT -n = tail in DESCENDING order
        pk = schema.pk_names
        if defer_sort and not stmt.limit:
            # row/wire materialization path: the caller sorts the
            # collected Arrow table itself (_collect_select_columns) —
            # project the PK through so it can
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
        pred = self._predicate(conds) if conds else F.lit(True)
        st.delete_where(self.spark, pred)
        return None

    # ------------------------------------------------------------------
    def _insert_rows(
        self,
        stmt: ResolvedInsert,
        rows_args: list[tuple],
        applied_marker: str | None = None,
    ) -> None:
        """Bind each arg tuple, validate/coerce, and append all rows as ONE
        atomic commit (BatchInsert, query.go:294-307). ``applied_marker``
        makes the commit idempotent: an already-applied marker skips the
        append entirely (see ``TableStore.has_applied_marker``). The
        marker check runs BEFORE binding/validation so a retry of an
        already-published batch is an unconditional no-op even if the
        schema evolved between attempts (e.g. ALTER TABLE DROP COLUMN
        removed a bound column, which would otherwise raise).

        Large all-placeholder batches take a COLUMNAR bulk-bind fast
        path (r11): per-column C-speed type screens + bulk coercion
        replace rows×cols ``validate_value`` calls, feeding
        ``append_columns`` directly (no per-row dict round trip). The
        fast path is ONLY taken when it is provably value-identical to
        the per-row path (strict type()-matched columns, range-checked
        clamps, int-seconds timestamps); ANY deviation — mixed forms,
        a literal in the VALUES list, a ragged or invalid row — falls
        back to the legacy loop so validation errors keep their exact
        reference strings and ordering."""
        st = self.store(stmt.schema.db, stmt.schema.name)
        if applied_marker is not None and st.has_applied_marker(applied_marker):
            return  # retried batch: the original commit already published
        cols = (
            _bulk_bind_columns(stmt, rows_args)
            if len(rows_args) >= 64
            else None
        )
        if cols is not None:
            st.append_columns(cols, applied_marker=applied_marker)
        else:
            out = []
            for args in rows_args:
                if stmt.n_placeholders != len(args):
                    raise OpentickError(
                        f"Expected {stmt.n_placeholders} arguments, "
                        f"got {len(args)}"
                    )
                row = {}
                for col, v in zip(stmt.cols, stmt.values):
                    if isinstance(v, Placeholder):
                        try:
                            v = validate_value(args[v.index], col.type, col.name)
                        except OpentickError:
                            a = args[v.index]
                            raise OpentickError(
                                f'Invalid {type(a).__name__} value ({a}) for '
                                f'"{col.name}" of {col.type}'
                            ) from None
                    row[col.name] = v
                out.append(row)
            st.append_rows(out, applied_marker=applied_marker)
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
        if isinstance(sql_or_id, str):
            sql_or_id = self.prepare(sql_or_id)
        _, resolved = self._prepared[sql_or_id]
        if not isinstance(resolved, ResolvedInsert):
            raise OpentickError("Batch requires a prepared insert")
        self._insert_rows(resolved, rows_args, applied_marker=idempotency_key)

    def batch_insert_columns(
        self,
        sql_or_id: str | int,
        arg_cols: list[list],
        idempotency_key: str | None = None,
    ) -> None:
        """Columnar batch insert (r11): ``arg_cols`` holds one list per
        PLACEHOLDER (in placeholder order) — the shape the wire's
        packed "3p" payload already decodes to, so the server can feed
        it straight through the bulk bind without a cols→rows→cols
        double transpose. Semantics are identical to ``batch_insert``
        of the transposed rows; any column the screen rejects falls
        back to exactly that (transpose + per-row loop, exact reference
        errors)."""
        if isinstance(sql_or_id, str):
            sql_or_id = self.prepare(sql_or_id)
        _, resolved = self._prepared[sql_or_id]
        if not isinstance(resolved, ResolvedInsert):
            raise OpentickError("Batch requires a prepared insert")
        stmt = resolved
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
        st = self.store(stmt.schema.db, stmt.schema.name)
        if idempotency_key is not None and st.has_applied_marker(
            idempotency_key
        ):
            return
        out = (
            _screen_columns(stmt, lambda i: arg_cols[i])
            if stmt.n_placeholders == len(arg_cols)
            else None  # arity mismatch: per-row path owns the error
        )
        if out is not None:
            st.append_columns(out, applied_marker=idempotency_key)
            self._maybe_auto_compact(st)
            return
        rows = [tuple(r) for r in zip(*arg_cols)]
        self._insert_rows(stmt, rows, applied_marker=idempotency_key)

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
