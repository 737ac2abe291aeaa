"""Catalog: databases and PK-ordered tables over a Parquet warehouse.

Reference semantics (schema.go): databases and tables are FDB directories;
each table persists a binary-encoded schema with an ordered column list and
a mandatory composite primary key; creating a database auto-creates its
``_adj_`` adjustment-factor table (schema.go:49-67, 247-262); schemas are
cached process-wide and evicted by DDL (schema.go:367-381, 444-470);
rename-column rewrites only the schema blob, not the data
(schema.go:383-418).

Spark-native mapping: a database is a warehouse subdirectory; a table is a
directory holding ``_schema.json`` plus an append-log of Parquet files.
Column renames update only the schema JSON — each column keeps a stable
*physical* name (its name at creation), and reads alias physical→logical,
mirroring the reference's positional storage.

A process holds one ``Catalog`` per warehouse (``Catalog.shared``): every
``Engine`` on it shares its schema cache and its ``TableStore`` per table,
so a DDL through one connection is seen by the next statement of every
other; an ``Engine`` keeps only session state.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import weakref
from dataclasses import dataclass, field, replace

from opentick_spark.errors import OpentickError
from opentick_spark.typesys import parse_type_name

ADJ_TABLE = "_adj_"


@dataclass(frozen=True)
class ColumnDef:
    name: str  # logical (current) name
    type: str  # opentick type name
    is_key: bool
    key_pos: int  # position within PK (or within value columns if not key)
    pos_col: int  # position among all columns (declaration order)
    physical: str  # stable storage name (name at creation)


@dataclass
class TableSchema:
    db: str
    name: str
    columns: list[ColumnDef] = field(default_factory=list)
    #: physical storage names of DROPPED columns (r10): old data files
    #: still carry them, so add_column must never hand a new column a
    #: retired physical — the explicit-schema read would resurrect the
    #: dropped values instead of NULL-backfilling
    retired_physicals: list[str] = field(default_factory=list)

    @property
    def key_columns(self) -> list[ColumnDef]:
        cols = [c for c in self.columns if c.is_key]
        cols.sort(key=lambda c: c.key_pos)
        return cols

    @property
    def value_columns(self) -> list[ColumnDef]:
        cols = [c for c in self.columns if not c.is_key]
        cols.sort(key=lambda c: c.key_pos)
        return cols

    @property
    def pk_names(self) -> list[str]:
        return [c.name for c in self.key_columns]

    def col(self, name: str) -> ColumnDef | None:
        for c in self.columns:
            if c.name == name:
                return c
        return None

    def to_json(self) -> dict:
        return {
            "db": self.db,
            "name": self.name,
            "columns": [
                {
                    "name": c.name,
                    "type": c.type,
                    "is_key": c.is_key,
                    "key_pos": c.key_pos,
                    "pos_col": c.pos_col,
                    "physical": c.physical,
                }
                for c in self.columns
            ],
            "retired_physicals": list(self.retired_physicals),
        }

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(
            db=d["db"],
            name=d["name"],
            columns=[ColumnDef(**c) for c in d["columns"]],
            retired_physicals=list(d.get("retired_physicals", [])),
        )


def build_schema(
    db: str, name: str, col_defs: list[tuple[str, str]], pk: list[str]
) -> TableSchema:
    """Validate column/PK declarations exactly like CreateTable
    (schema.go:264-329): duplicate column, missing/duplicate/unknown PK."""
    if not pk:
        raise OpentickError("PRIMARY KEY not declared")
    seen: dict[str, str] = {}
    for cname, ctype in col_defs:
        if cname in seen:
            raise OpentickError(f"Duplicate column name {cname}")
        seen[cname] = parse_type_name(ctype)
    pk_seen = set()
    for k in pk:
        if k in pk_seen:
            raise OpentickError(f"Duplicate PRIMARY KEY column {k}")
        if k not in seen:
            raise OpentickError(f"Unknown PRIMARY KEY column {k}")
        pk_seen.add(k)
    cols: list[ColumnDef] = []
    n_key = 0
    n_val = 0
    for pos_col, (cname, _) in enumerate(col_defs):
        is_key = cname in pk_seen
        if is_key:
            key_pos = pk.index(cname)
            n_key += 1
        else:
            key_pos = n_val
            n_val += 1
        cols.append(
            ColumnDef(
                name=cname,
                type=seen[cname],
                is_key=is_key,
                key_pos=key_pos,
                pos_col=pos_col,
                physical=cname,
            )
        )
    return TableSchema(db=db, name=name, columns=cols)


ADJ_COLS = [("sec", "int"), ("time", "timestamp"), ("px", "double"), ("vol", "double")]
ADJ_PK = ["sec", "time"]


#: the process's catalogs by warehouse real path, held weakly: a
#: warehouse no Engine uses any more is freed with its caches
_SHARED: weakref.WeakValueDictionary = weakref.WeakValueDictionary()
_SHARED_LOCK = threading.Lock()


class Catalog:
    """The owner of one warehouse's state in a process: its databases and
    tables on disk, the schema cache and one ``TableStore`` per table.
    Every DDL method evicts what it changes from both caches; column DDL
    evicts no store, because a store reads its schema from this catalog
    and its plan cache is keyed by that schema.

    ``Catalog(path)`` builds an independent catalog (a stand-in for
    another process); ``Catalog.shared(path)`` returns the process's one
    catalog of that warehouse, which every ``Engine`` uses."""

    @classmethod
    def shared(cls, warehouse: str) -> "Catalog":
        from opentick_spark.fsutil import require_local_path

        key = os.path.realpath(require_local_path(warehouse, "Catalog warehouse"))
        with _SHARED_LOCK:
            cat = _SHARED.get(key)
            if cat is None:
                cat = _SHARED[key] = cls(warehouse)
        os.makedirs(warehouse, exist_ok=True)  # it may have been removed since
        return cat

    def __init__(self, warehouse: str):
        from opentick_spark.fsutil import require_local_path

        # the warehouse is a documented LOCAL design (os/open() lifecycle:
        # .lock flock, compact-intent rename fences) — reject URIs loudly
        # instead of letting os.path treat "hdfs://…" as a relative dir
        # (r14, VERDICT r13 item 4)
        self.warehouse = require_local_path(warehouse, "Catalog warehouse")
        os.makedirs(warehouse, exist_ok=True)
        self._cache: dict[tuple[str, str], TableSchema] = {}
        self._stores: dict = {}  # (db, table) -> TableStore
        self._lock = threading.RLock()

    # ---- paths -----------------------------------------------------------
    def db_path(self, db: str) -> str:
        return os.path.join(self.warehouse, db)

    def table_path(self, db: str, table: str) -> str:
        return os.path.join(self.warehouse, db, table)

    # ---- databases -------------------------------------------------------
    def create_database(self, db: str, if_not_exists: bool = False) -> None:
        path = self.db_path(db)
        if os.path.exists(path):
            if if_not_exists:
                return
            raise OpentickError(f"Database {db} already exists")
        with self._lock:
            self._evict(db)  # a database removed outside this catalog
            os.makedirs(path)
        # every database auto-contains its adjustment table (schema.go:65)
        self.create_table(db, ADJ_TABLE, ADJ_COLS, ADJ_PK)

    def drop_database(self, db: str, if_exists: bool = False) -> None:
        path = self.db_path(db)
        if not os.path.exists(path):
            if if_exists:
                return
            raise OpentickError(f"Database {db} does not exist")
        with self._lock:
            shutil.rmtree(path)
            self._evict(db)

    def list_databases(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(self.db_path(d))
        )

    def has_database(self, db: str) -> bool:
        return os.path.isdir(self.db_path(db))

    # ---- tables ----------------------------------------------------------
    def create_table(
        self,
        db: str,
        name: str,
        col_defs: list[tuple[str, str]],
        pk: list[str],
        if_not_exists: bool = False,
    ) -> TableSchema:
        if not self.has_database(db):
            raise OpentickError(f"Database {db} does not exist")
        path = self.table_path(db, name)
        if os.path.exists(path):
            if if_not_exists:
                return self.get_schema(db, name)
            raise OpentickError(f"Table {db}.{name} already exists")
        schema = build_schema(db, name, col_defs, pk)
        os.makedirs(os.path.join(path, "data"))
        with self._lock:
            self._evict(db, name)  # a table removed outside this catalog
            self._write_schema(schema)
        return schema

    def drop_table(self, db: str, name: str, if_exists: bool = False) -> None:
        path = self.table_path(db, name)
        if not os.path.exists(path):
            if if_exists:
                return
            raise OpentickError(f"Table {db}.{name} does not exist")
        with self._lock:
            shutil.rmtree(path)
            self._evict(db, name)

    def list_tables(self, db: str) -> list[str]:
        if not self.has_database(db):
            raise OpentickError(f"Database {db} does not exist")
        return sorted(
            t
            for t in os.listdir(self.db_path(db))
            if os.path.isdir(self.table_path(db, t))
        )

    def has_table(self, db: str, name: str) -> bool:
        return os.path.isdir(self.table_path(db, name))

    def get_schema(self, db: str, name: str) -> TableSchema:
        with self._lock:
            cached = self._cache.get((db, name))
            if cached is not None:
                return cached
        path = os.path.join(self.table_path(db, name), "_schema.json")
        if not os.path.exists(path):
            raise OpentickError(f"Table {db}.{name} does not exist")
        with open(path) as f:
            schema = TableSchema.from_json(json.load(f))
        with self._lock:
            self._cache[(db, name)] = schema
        return schema

    def store(self, db: str, name: str):
        """The one ``TableStore`` of ``db.name`` in this catalog. A store
        opened before runs its recovery check again (two lock-free stats
        and a listdir): a compaction killed in another process is
        repaired on the next lookup, and a lookup that meets a
        compaction in flight waits for it."""
        from opentick_spark.table import TableStore

        with self._lock:
            st = self._stores.get((db, name))
            if st is None:
                self.get_schema(db, name)  # existence check
                st = self._stores[(db, name)] = TableStore(self, db, name)
                return st
        st._recover_if_needed()
        return st

    def _evict(self, db: str, name: str | None = None) -> None:
        """Drop the cached schemas and stores of ``db.name``, or of every
        table of ``db``. Caller holds ``self._lock``."""
        for cache in (self._cache, self._stores):
            for k in [k for k in cache if k[0] == db and name in (None, k[1])]:
                del cache[k]

    def rename_table(self, db: str, old: str, new: str) -> None:
        old_path = self.table_path(db, old)
        new_path = self.table_path(db, new)
        if not os.path.exists(old_path):
            raise OpentickError(f"Table {db}.{old} does not exist")
        if os.path.exists(new_path):
            raise OpentickError(f"Table {db}.{new} already exists")
        with self._lock:
            schema = replace(self.get_schema(db, old), name=new)
            os.rename(old_path, new_path)
            self._evict(db, old)
            self._evict(db, new)
            self._write_schema(schema)

    def rename_column(self, db: str, table: str, old: str, new: str) -> None:
        """Schema-only rewrite; data files keep the physical name
        (reference rewrites only the schema blob, schema.go:383-418)."""
        with self._lock:
            schema = self.get_schema(db, table)
            col = schema.col(old)
            if col is None:
                raise OpentickError(f"Column {old} does not exist")
            if schema.col(new) is not None:
                raise OpentickError(f"Column {new} already exists")
            cols = [
                replace(c, name=new) if c.name == old else c
                for c in schema.columns
            ]
            self._write_schema(replace(schema, columns=cols))

    def add_column(self, db: str, table: str, name: str, type_name: str) -> None:
        """Schema evolution (extension, r8): append a NULLABLE value
        column. Schema-only — no data files rewrite; every existing
        commit/base file simply lacks the physical column and the read
        path's EXPLICIT schema fills it with NULL (the same sparse-row
        semantics a missing INSERT column gets). PK columns cannot be
        added (row identity is immutable). The physical storage name is
        uniquified against every live physical name so a column RENAMED
        away from ``name`` (which keeps its creation-time physical) can
        never be shadowed by re-adding ``name``."""
        from opentick_spark.typesys import parse_type_name

        with self._lock:
            schema = self.get_schema(db, table)
            if schema.col(name) is not None:
                raise OpentickError(f"Column {name} already exists")
            t = parse_type_name(type_name)
            taken = {c.physical for c in schema.columns} | set(
                schema.retired_physicals
            )
            physical = name
            n = 2
            while physical in taken:
                physical = f"{name}__v{n}"
                n += 1
            n_val = sum(1 for c in schema.columns if not c.is_key)
            cols = list(schema.columns) + [
                ColumnDef(
                    name=name,
                    type=t,
                    is_key=False,
                    key_pos=n_val,
                    pos_col=len(schema.columns),
                    physical=physical,
                )
            ]
            self._write_schema(replace(schema, columns=cols))

    #: provably-lossless type promotions. The read path relies on Spark 4's
    #: parquet widening conversions (int32→int64, float→double, …), so old
    #: files keep their narrow physical type until the next compaction
    #: rewrites the base — schema-only evolution, no data rewrite, exactly
    #: like add/drop. int→double is excluded (loses exactness past 2^53).
    _WIDEN = {
        "tinyint": {"smallint", "int", "bigint"},
        "smallint": {"int", "bigint"},
        "int": {"bigint"},
        "float": {"double"},
    }

    def modify_column(self, db: str, table: str, name: str, type_name: str) -> None:
        """Schema evolution (extension, r11): widen a column's type in
        place. Only the promotions in ``_WIDEN`` are allowed — every
        stored value is exactly representable in the new type, so reads
        before and after the next compaction agree bit-for-bit. Applies
        to VALUE and PK columns alike (row identity is preserved by a
        lossless promotion). Hash-bucketed layouts: stored ``__bucket``
        values go stale when the LEADING PK widens across xxhash64
        width classes (int-family→bigint, float→double). The read path
        guards itself: ``compact`` records ``bucket_hash_class`` and
        ``TableStore._effective_buckets`` prunes only with a layout whose
        class matches the current lead type, so a widened table reads
        unpruned (and correct) until its next
        ``compact(hash_buckets=N)`` re-buckets it."""
        from opentick_spark.typesys import parse_type_name

        with self._lock:
            schema = self.get_schema(db, table)
            col = schema.col(name)
            if col is None:
                raise OpentickError(f"Undefined column name {name}")
            t = parse_type_name(type_name)
            if t == col.type:
                return  # idempotent no-op
            if t not in self._WIDEN.get(col.type, ()):
                raise OpentickError(
                    f"Cannot modify column {name} from {col.type} to {t}: "
                    "only widening conversions are supported"
                )
            cols = [
                replace(c, type=t) if c.name == name else c
                for c in schema.columns
            ]
            self._write_schema(replace(schema, columns=cols))

    def drop_column(self, db: str, table: str, name: str) -> None:
        """Schema evolution (extension, r10): drop a VALUE column.
        Schema-only — no data rewrite: reads stop selecting the
        physical column, existing files keep carrying it until the
        next compaction rewrites the base with the current schema. The
        dropped column's PHYSICAL name is retired permanently
        (``retired_physicals``): re-adding the same logical name mints
        a fresh physical, so old values can never resurrect through
        the explicit-schema read (the r8 rename+re-add latent-bug
        class, closed the same way). PK columns cannot be dropped (row
        identity is immutable). Remaining columns are renumbered
        compactly, preserving relative declaration order."""
        with self._lock:
            schema = self.get_schema(db, table)
            col = schema.col(name)
            if col is None:
                raise OpentickError(f"Undefined column name {name}")
            if col.is_key:
                raise OpentickError(
                    f"Cannot drop primary key column {name}"
                )
            kept = sorted(
                (c for c in schema.columns if c.name != name),
                key=lambda c: c.pos_col,
            )
            cols = []
            n_val = 0
            for pos, c in enumerate(kept):
                key_pos = c.key_pos if c.is_key else n_val
                if not c.is_key:
                    n_val += 1
                cols.append(replace(c, key_pos=key_pos, pos_col=pos))
            self._write_schema(replace(
                schema, columns=cols,
                retired_physicals=schema.retired_physicals + [col.physical],
            ))

    def _write_schema(self, schema: TableSchema) -> None:
        """Persist ``schema`` and cache it: every DDL change caches a new
        schema object (plan caches compare schemas). Caller holds
        ``self._lock``."""
        path = os.path.join(self.table_path(schema.db, schema.name), "_schema.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(schema.to_json(), f)
        os.replace(tmp, path)
        self._cache[(schema.db, schema.name)] = schema
