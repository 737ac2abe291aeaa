"""User accounts and permission control (reference C7).

Mirrors user.go + the enforcement points in query.go/server.go:

- users live in an ordinary PK table ``_meta_.user(name text, password
  text, is_admin boolean, perm text, primary key(name))`` (user.go:30-36)
  and are loaded into an in-process map (LoadUsers, user.go:28-62);
- passwords are stored as SHA-1 hex (sha1String, user.go:116-120);
- ``perm`` is ``"db=read;db.tbl=write;..."`` (Perm2Str, user.go:85-100);
- permission resolution (GetPerm, user.go:64-83): admins can do anything;
  a db-level WRITE wins outright; otherwise the db.table-level perm
  upgrades the db-level one (max of the two);
- enforcement: SELECT needs any perm; INSERT/DELETE/ALTER/DROP TABLE and
  CREATE TABLE need write; CREATE/DROP DATABASE needs admin
  (query.go:51-54, 68-71, 99-102, 351-354, 465-468, 524-527). The query
  path's error string is the reference's literal ``"No permisssion"``
  [sic, query.go:53]; server-command responses use ``"No permission"``
  (server.go:438, 492).

Permission control is OFF by default (server.go:34-35: a flag), in which
case every caller is an implicit admin — exactly the reference's
``user.isAdmin = !sPermissionControl``.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

from opentick_spark.errors import OpentickError

NO_PERM = 0
READ_PERM = 1
WRITE_PERM = 2

USER_DB = "_meta_"
USER_TABLE = "user"
USER_TABLE_DDL = (
    "create table if not exists user(name text, password text, "
    "is_admin boolean, perm text, primary key(name))"
)


def sha1_string(password: str) -> str:
    return hashlib.sha1(password.encode("utf-8")).hexdigest()


def parse_perm(s: str | None) -> dict[str, int]:
    """``"a=read;a.t=write"`` → {"a": READ_PERM, "a.t": WRITE_PERM}.
    Unknown values default to read, like user.go:49-56."""
    out: dict[str, int] = {}
    for part in (s or "").split(";"):
        kv = part.split("=")
        if len(kv) == 2:
            out[kv[0]] = WRITE_PERM if kv[1] == "write" else READ_PERM
    return out


def perm_to_str(perm: dict[str, int]) -> str:
    return ";".join(
        f"{k}={'write' if v == WRITE_PERM else 'read'}"
        for k, v in perm.items()
    )


@dataclass
class User:
    name: str = ""
    password: str = ""  # SHA-1 hex
    is_admin: bool = False
    perm: dict[str, int] = field(default_factory=dict)

    def check_password(self, password: str) -> bool:
        return self.password == sha1_string(password)


def get_perm(user: User | None, db: str, table: str = "") -> int:
    """GetPerm (user.go:64-83): admin → write; db-level write wins;
    table-level perm upgrades db-level."""
    if user is None:
        return WRITE_PERM
    if user.is_admin:
        return WRITE_PERM
    p1 = user.perm.get(db, NO_PERM)
    if p1 == WRITE_PERM:
        return p1
    if not table:
        return p1
    p2 = user.perm.get(f"{db}.{table}", NO_PERM)
    return max(p1, p2)


class UserRegistry:
    """Process-wide user map, loaded from the engine's own ``_meta_.user``
    table (dogfooding the storage layer, like the reference loads users
    through its own Execute path)."""

    def __init__(self, engine):
        self.engine = engine
        self.users: dict[str, User] = {}

    def _ensure_table(self) -> None:
        from opentick_spark.dialect.parser import parse

        cat = self.engine.catalog
        if USER_DB not in cat.list_databases():
            cat.create_database(USER_DB, if_not_exists=True)
        node = parse(USER_TABLE_DDL)
        cat.create_table(
            USER_DB, USER_TABLE, node.cols, node.pk, if_not_exists=True
        )

    def load(self) -> None:
        """LoadUsers (user.go:28-62): ensure _meta_/user exist, then
        (re)build the map from the table. Goes through the storage layer
        directly — a system path, exempt from permission checks (the
        reference loads users before any user exists)."""
        self._ensure_table()
        eng = self.engine
        df = eng.store(USER_DB, USER_TABLE).read(eng.spark)
        self.users = {}
        for name, password, is_admin, perm in df.collect():
            self.users[name] = User(
                name=name,
                password=password or "",
                is_admin=bool(is_admin),
                perm=parse_perm(perm),
            )

    def save(self, user: User) -> None:
        """Upsert one user row (UpdatePasswd shape, user.go:102-114)."""
        self._ensure_table()
        self.engine.store(USER_DB, USER_TABLE).append_columns(
            {
                "name": [user.name],
                "password": [user.password],
                "is_admin": [user.is_admin],
                "perm": [perm_to_str(user.perm)],
            }
        )
        self.users[user.name] = user

    def get(self, name: str) -> User | None:
        return self.users.get(name)


def require_perm(user: User | None, db: str, table: str, need: int) -> None:
    """Query-path enforcement: raises the reference's literal (typo'd)
    error when ``user`` lacks ``need`` on db[.table] (query.go:53 etc.)."""
    if get_perm(user, db, table) < need:
        raise OpentickError("No permisssion")
