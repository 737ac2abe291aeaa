"""C7 permission control: users, login, per-db/table ACLs, meta commands
(user.go; enforcement query.go:51-54, 68-71, 99-102, 351-354, 465-468,
524-527; server commands server.go:399-421, 478-496)."""

import pytest

from opentick_spark.engine import Engine
from opentick_spark.errors import OpentickError
from opentick_spark.users import (
    READ_PERM,
    WRITE_PERM,
    User,
    get_perm,
    parse_perm,
    perm_to_str,
    sha1_string,
)


def test_get_perm_resolution():
    # GetPerm (user.go:64-83): admin wins; db-level write wins; table
    # perm upgrades db perm; no user (control off) = write
    admin = User(name="a", is_admin=True)
    assert get_perm(admin, "x", "t") == WRITE_PERM
    assert get_perm(None, "x", "t") == WRITE_PERM
    u = User(name="u", perm=parse_perm("d1=read;d1.t2=write;d2=write"))
    assert get_perm(u, "d1") == READ_PERM
    assert get_perm(u, "d1", "t1") == READ_PERM
    assert get_perm(u, "d1", "t2") == WRITE_PERM  # table upgrades db
    assert get_perm(u, "d2", "anything") == WRITE_PERM  # db write wins
    assert get_perm(u, "d3") == 0


def test_perm_str_roundtrip():
    p = parse_perm("a=read;b.t=write")
    assert parse_perm(perm_to_str(p)) == p
    assert parse_perm("") == {}
    assert parse_perm("garbage") == {}


def _setup(spark, tmp_path):
    """Admin engine + data, then a restricted engine on the same warehouse."""
    wh = str(tmp_path / "wh")
    admin = Engine(spark, wh)  # control off -> implicit admin
    admin.execute("create database d1")
    admin.execute("create database d2")
    admin.use("d1")
    admin.execute("create table t1(a int, v int, primary key(a))")
    admin.execute("create table t2(a int, v int, primary key(a))")
    admin.execute("insert into t1(a, v) values(1, 10)")
    admin.execute("insert into t2(a, v) values(1, 20)")
    admin.execute("create table d2.t1(a int, v int, primary key(a))")
    admin.create_user("alice", "pw", perm="d1=read;d1.t2=write")
    admin.create_user("root", "rootpw", is_admin=True)
    restricted = Engine(spark, wh, permission_control=True)
    return admin, restricted


def test_login_and_acl_enforcement(spark, tmp_path):
    _, eng = _setup(spark, tmp_path)

    # anonymous (not logged in) can do nothing
    with pytest.raises(OpentickError, match="No permission"):
        eng.use("d1")

    with pytest.raises(OpentickError, match="Unknown username"):
        eng.login("nobody", "x")
    with pytest.raises(OpentickError, match="Password mismatch"):
        eng.login("alice", "wrong")
    with pytest.raises(OpentickError, match="Both username and password"):
        eng.login("", "")

    eng.login("alice", "pw")
    eng.use("d1")
    # read allowed everywhere in d1
    assert eng.execute_rows("select * from t1") == [(1, 10)]
    # write allowed only on d1.t2
    eng.execute("insert into t2(a, v) values(2, 22)")
    with pytest.raises(OpentickError, match="No permisssion"):
        eng.execute("insert into t1(a, v) values(2, 12)")
    with pytest.raises(OpentickError, match="No permisssion"):
        eng.execute("delete from t1 where a=1")
    # no access at all to d2
    with pytest.raises(OpentickError, match="No permission"):
        eng.use("d2")
    with pytest.raises(OpentickError, match="No permisssion"):
        eng.execute("select * from d2.t1")
    # DDL: create table needs db write; db DDL needs admin
    with pytest.raises(OpentickError, match="No permisssion"):
        eng.execute("create table t3(a int, primary key(a))")
    with pytest.raises(OpentickError, match="No permisssion"):
        eng.execute("create database d3")
    with pytest.raises(OpentickError, match="No permisssion"):
        eng.execute("drop table t1")
    # reload_users / create_user are admin-only
    with pytest.raises(OpentickError, match="No permission"):
        eng.reload_users()
    with pytest.raises(OpentickError, match="No permisssion"):
        eng.create_user("mallory", "x")


def test_admin_login_and_chgpasswd(spark, tmp_path):
    _, eng = _setup(spark, tmp_path)
    with pytest.raises(OpentickError, match="Not logged in"):
        eng.chgpasswd("x")
    eng.login("root", "rootpw")
    eng.use("d2")  # admin reaches everything
    eng.execute("insert into d2.t1(a, v) values(9, 90)")
    eng.reload_users()

    eng.login("root", "rootpw")  # still valid after reload
    eng.chgpasswd("newpw")
    # new password persists across a fresh engine instance
    eng2 = Engine(spark, str(tmp_path / "wh"), permission_control=True)
    with pytest.raises(OpentickError, match="Password mismatch"):
        eng2.login("root", "rootpw")
    eng2.login("root", "newpw")
    assert sha1_string("newpw") == eng2.user.password


def test_users_stored_in_meta_table(spark, tmp_path):
    admin, _ = _setup(spark, tmp_path)
    # the reference stores users in a plain PK table _meta_.user —
    # readable through the ordinary query path (user.go:30-36)
    admin.use("_meta_")
    rows = admin.execute_rows("select name, is_admin from user")
    assert ("alice", False) in rows and ("root", True) in rows


@pytest.mark.parametrize("transport", ["in_process", "tcp"])
def test_client_user_management_is_one_implementation(spark, tmp_path, transport):
    """Both clients manage users the same way: create refuses an existing
    name instead of overwriting its password, and list/update/delete
    act on the ``_meta_.user`` rows."""
    from opentick_spark.client import Connection, connect_tcp
    from opentick_spark.server import OpentickServer

    wh = str(tmp_path / "wh")
    srv = None
    if transport == "tcp":
        srv = OpentickServer(spark, wh).start()
        c = connect_tcp("127.0.0.1", srv.port)
    else:
        c = Connection(spark, wh)
    try:
        c.create_user("cu", "first")
        with pytest.raises(OpentickError, match="User already exist"):
            c.create_user("cu", "second")
        assert c.execute(
            "select password from _meta_.user where name=?", ("cu",)
        ) == [(sha1_string("first"),)]
        c.update_user("cu", perm={"d1": "write"})
        assert c.execute(
            "select perm from _meta_.user where name=?", ("cu",)
        ) == [("d1=write",)]
        # a logged-in user changes a password that contains a space
        if transport == "tcp":
            guard = OpentickServer(spark, wh, permission_control=True).start()
            cu = connect_tcp("127.0.0.1", guard.port)
        else:
            guard, cu = None, Connection(spark, wh, permission_control=True)
        try:
            cu.login("cu", "first")
            cu.chgpasswd("two words")
        finally:
            cu.close()
            if guard is not None:
                guard.stop()
        assert c.execute(
            "select password from _meta_.user where name=?", ("cu",)
        ) == [(sha1_string("two words"),)]
        assert "cu" in c.list_users()
        c.delete_user("cu")
        assert "cu" not in c.list_users()
    finally:
        c.close()
        if srv is not None:
            srv.stop()
