"""Golden-contract tests: byte-for-byte mirrors of the reference's own
unit tests (reference db/src/db.rs:328-827) against DustSession. Each
assertion string is copied from the reference test expectations —
SURVEY.md §5.2 requires these to match exactly."""

from __future__ import annotations

import uuid

import pytest

from dust_spark import DustSession, Request, Statement
from dust_spark.model import responses_to_json, rows_to_json
from dust_spark.session import DustError


@pytest.fixture()
def db(spark):
    s = DustSession(spark)
    yield s
    s.close()


def ex(db, sql, params=None):
    return responses_to_json(db.execute_string_stmt(sql, params))


def q(db, sql, params=None):
    return rows_to_json(db.query_string_stmt(sql, params))


# -- test_fk_constraints (db/src/db.rs:350-376) -----------------------------


def test_fk_constraints(db):
    ex(db, "CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, ref INTEGER REFERENCES foo(id))")

    db.enable_fk_constraints(False)
    assert db.fk_constraints() is False
    assert ex(db, "INSERT INTO foo(id, ref) VALUES(1, 2)") == '[{"last_insert_id":1,"rows_affected":1}]'

    db.enable_fk_constraints(True)
    assert db.fk_constraints() is True
    assert ex(db, "INSERT INTO foo(id, ref) VALUES(1, 3)") == '[{"error":"UNIQUE constraint failed: foo.id"}]'
    # new id, dangling ref → FK failure (SQLite error text)
    assert ex(db, "INSERT INTO foo(id, ref) VALUES(2, 9)") == '[{"error":"FOREIGN KEY constraint failed"}]'
    # valid self-reference passes
    assert ex(db, "INSERT INTO foo(id, ref) VALUES(2, 1)") == '[{"last_insert_id":2,"rows_affected":1}]'


# -- test_empty_stmt (db/src/db.rs:378-382) ---------------------------------


def test_empty_stmt(db):
    assert ex(db, "") == "[]"


# -- test_execute_success (db/src/db.rs:384-402) ----------------------------


def test_execute_success(db):
    ex(db, "CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    assert ex(db, 'INSERT INTO foo(name) VALUES("fiona")') == '[{"last_insert_id":1,"rows_affected":1}]'
    # sticky last_insert_id through the UPDATE (reference :396-401)
    assert ex(db, 'UPDATE foo SET name="dana" WHERE ID=1') == '[{"last_insert_id":1,"rows_affected":1}]'


# -- test_simple_string_stmt (db/src/db.rs:404-447) --------------------------


def test_simple_string_stmt(db):
    ex(db, "CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    ex(db, 'INSERT INTO foo(name) VALUES("fiona")')
    ex(db, 'INSERT INTO foo(name) VALUES("aoife")')

    assert q(db, "SELECT * FROM foo") == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"],[2,"aoife"]]}]'
    )
    assert q(db, 'SELECT * FROM foo WHERE name="aoife"') == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[2,"aoife"]]}]'
    )
    assert q(db, 'SELECT * FROM foo WHERE name="unknown"') == '[{"columns":[],"types":[],"values":[]}]'
    assert q(db, "SELECT * FROM foo ORDER BY name") == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[2,"aoife"],[1,"fiona"]]}]'
    )
    assert q(db, "SELECT *,name FROM foo") == (
        '[{"columns":["id","name","name"],"types":["integer","text","text"],'
        '"values":[[1,"fiona","fiona"],[2,"aoife","aoife"]]}]'
    )


# -- test_simple_join_stmts (db/src/db.rs:465-490) ---------------------------


def test_simple_join_stmts(db):
    ex(db, "CREATE TABLE names (id INTEGER NOT NULL PRIMARY KEY, name TEXT, ssn TEXT)")
    ex(db, "CREATE TABLE staff (id INTEGER NOT NULL PRIMARY KEY, employer TEXT, ssn TEXT)")
    req = Request(
        transaction=False,
        statements=[
            Statement("INSERT INTO \"names\" VALUES(1,'bob','123-45-678')"),
            Statement("INSERT INTO \"names\" VALUES(2,'tom','111-22-333')"),
            Statement("INSERT INTO \"names\" VALUES(3,'matt','222-22-333')"),
        ],
    )
    db.execute(req)
    ex(db, "INSERT INTO \"staff\" VALUES(1,'acme','222-22-333')")
    assert q(db, "SELECT names.id,name,names.ssn,employer FROM names INNER JOIN staff ON staff.ssn = names.ssn") == (
        '[{"columns":["id","name","ssn","employer"],"types":["integer","text","text","text"],'
        '"values":[[3,"matt","222-22-333","acme"]]}]'
    )


# -- test_single_concat_stmts (db/src/db.rs:492-505) --------------------------


def test_single_concat_stmts(db):
    ex(db, "CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    ex(db, 'INSERT INTO foo(name) VALUES("fiona")')
    assert q(db, 'SELECT id || "_bar", name FROM foo') == (
        '[{"columns":["id || \\"_bar\\"","name"],"types":["text","text"],"values":[["1_bar","fiona"]]}]'
    )


# -- test_simple_multi_stmts (db/src/db.rs:507-550) ---------------------------


def test_simple_multi_stmts(db):
    ex(db, "CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    req = Request(
        statements=[
            Statement('INSERT INTO foo(name) VALUES("fiona")'),
            Statement('INSERT INTO foo(name) VALUES("dana")'),
        ]
    )
    assert responses_to_json(db.execute(req)) == (
        '[{"last_insert_id":1,"rows_affected":1},{"last_insert_id":2,"rows_affected":1}]'
    )
    req = Request(statements=[Statement("SELECT * FROM foo"), Statement("SELECT * FROM foo")])
    assert rows_to_json(db.query(req)) == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"],[2,"dana"]]},'
        '{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"],[2,"dana"]]}]'
    )


# -- test_single_multiline_stmt (db/src/db.rs:552-587) ------------------------


def test_single_multiline_stmt(db):
    ex(
        db,
        """
                CREATE TABLE foo (
                id INTEGER NOT NULL PRIMARY KEY,
                name TEXT
                )""",
    )
    req = Request(
        statements=[
            Statement('INSERT INTO foo(name) VALUES("fiona")'),
            Statement('INSERT INTO foo(name) VALUES("dana")'),
        ]
    )
    assert responses_to_json(db.execute(req)) == (
        '[{"last_insert_id":1,"rows_affected":1},{"last_insert_id":2,"rows_affected":1}]'
    )


# -- test_parameterized_all_type_stmts (db/src/db.rs:589-616) ------------------


def test_parameterized_all_type_stmts(db):
    ex(db, "CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT, age INT, money FLOAT)")
    db.execute(
        Request(
            statements=[Statement("INSERT INTO foo(name, age, money) VALUES(?, ?, ?)", ["fiona", 20, 100.75])]
        )
    )
    assert q(db, "SELECT * FROM foo") == (
        '[{"columns":["id","name","age","money"],"types":["integer","text","integer","real"],'
        '"values":[[1,"fiona",20,100.75]]}]'
    )


# -- test_simple_parameterized_stmts (db/src/db.rs:618-687) --------------------


def test_simple_parameterized_stmts(db):
    ex(db, "CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    ex(db, "INSERT INTO foo(name) VALUES(?)", ["fiona"])
    ex(db, "INSERT INTO foo(name) VALUES(?)", ["aoife"])
    assert q(db, "SELECT * FROM foo") == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"],[2,"aoife"]]}]'
    )
    assert q(db, "SELECT * FROM foo WHERE name=?", ["aoife"]) == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[2,"aoife"]]}]'
    )
    assert q(db, "SELECT * FROM foo WHERE name=?", ["fiona"]) == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"]]}]'
    )
    # two parameterized statements in one batch, case-insensitive column
    req = Request(
        statements=[
            Statement("SELECT * FROM foo WHERE NAME=?", ["fiona"]),
            Statement("SELECT * FROM foo WHERE NAME=?", ["aoife"]),
        ]
    )
    assert rows_to_json(db.query(req)) == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"]]},'
        '{"columns":["id","name"],"types":["integer","text"],"values":[[2,"aoife"]]}]'
    )


# -- test_simple_transaction (db/src/db.rs:689-730) ----------------------------


def test_simple_transaction(db):
    db.query_string_stmt("CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    req = Request(
        transaction=True,
        statements=[Statement(f'INSERT INTO foo(id, name) VALUES({i}, "fiona")') for i in (1, 2, 3, 4)],
    )
    assert responses_to_json(db.execute(req)) == (
        '[{"last_insert_id":1,"rows_affected":1},{"last_insert_id":2,"rows_affected":1},'
        '{"last_insert_id":3,"rows_affected":1},{"last_insert_id":4,"rows_affected":1}]'
    )
    assert q(db, "SELECT * FROM foo") == (
        '[{"columns":["id","name"],"types":["integer","text"],'
        '"values":[[1,"fiona"],[2,"fiona"],[3,"fiona"],[4,"fiona"]]}]'
    )


# -- test_partial_fail_transaction (db/src/db.rs:732-791) ----------------------


def test_partial_fail_transaction(db):
    db.query_string_stmt("CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    req = Request(
        transaction=True,
        statements=[Statement(f'INSERT INTO foo(id, name) VALUES({i}, "fiona")') for i in (1, 2, 1, 4)],
    )
    assert responses_to_json(db.execute(req)) == (
        '[{"last_insert_id":1,"rows_affected":1},{"last_insert_id":2,"rows_affected":1},'
        '{"error":"UNIQUE constraint failed: foo.id"}]'
    )
    # whole batch voided; case-insensitive table name (reference :767)
    assert q(db, "SELECT * FROM FOO") == '[{"columns":[],"types":[],"values":[]}]'

    req = Request(transaction=True, statements=[Statement('INSERT INTO foo(id, name) VALUES(1, "fiona")')])
    db.execute(req)
    assert q(db, "SELECT * FROM FOO") == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"]]}]'
    )


# -- test_partial_fail_without_transaction (db/src/db.rs:793-826) --------------


def test_partial_fail_without_transaction(db):
    db.query_string_stmt("CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    req = Request(
        transaction=False,
        statements=[Statement(f'INSERT INTO foo(id, name) VALUES({i}, "fiona")') for i in (1, 2, 1, 4)],
    )
    assert responses_to_json(db.execute(req)) == (
        '[{"last_insert_id":1,"rows_affected":1},{"last_insert_id":2,"rows_affected":1},'
        '{"error":"UNIQUE constraint failed: foo.id"},{"last_insert_id":4,"rows_affected":1}]'
    )


# -- beyond the reference's own tests: engine behaviors the reference
#    implies (SURVEY §2 B10) --------------------------------------------------


def test_update_delete_where(db):
    ex(db, "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    db.execute(Request(statements=[Statement(f"INSERT INTO t(v) VALUES({i * 10})") for i in range(1, 6)]))
    assert ex(db, "UPDATE t SET v = v + 1 WHERE v >= 30") == '[{"last_insert_id":5,"rows_affected":3}]'
    assert q(db, "SELECT v FROM t ORDER BY id") == (
        '[{"columns":["v"],"types":["integer"],"values":[[10],[20],[31],[41],[51]]}]'
    )
    assert ex(db, "DELETE FROM t WHERE v > 40") == '[{"last_insert_id":5,"rows_affected":2}]'
    assert q(db, "SELECT count(*) AS n FROM t") == '[{"columns":["n"],"types":["integer"],"values":[[3]]}]'


def test_not_null_constraint(db):
    ex(db, "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, name TEXT NOT NULL)")
    assert ex(db, "INSERT INTO t(id) VALUES(1)") == '[{"error":"NOT NULL constraint failed: t.name"}]'


def test_check_constraint(db):
    """SQLite enforces CHECK on INSERT/UPDATE with the constraint name
    (when given) or the expression text as the error label; NULL results
    pass. Message format probed against in-process sqlite3 — see the
    differential twin below. Reference reaches this via its pass-through
    (db/src/db.rs:176)."""
    ex(
        db,
        "CREATE TABLE t (a INT CHECK(a > 0), b INT, "
        "CONSTRAINT bpos CHECK(b >= 0), CHECK(a < 100))",
    )
    assert ex(db, "INSERT INTO t VALUES (-1, 1)") == '[{"error":"CHECK constraint failed: a > 0"}]'
    assert ex(db, "INSERT INTO t VALUES (1, -1)") == '[{"error":"CHECK constraint failed: bpos"}]'
    assert ex(db, "INSERT INTO t VALUES (200, 1)") == '[{"error":"CHECK constraint failed: a < 100"}]'
    # NULL check result passes (SQLite: only FALSE fails)
    ex(db, "INSERT INTO t VALUES (NULL, NULL)")
    ex(db, "INSERT INTO t VALUES (5, 5)")
    assert ex(db, "UPDATE t SET a = -3") == '[{"error":"CHECK constraint failed: a > 0"}]'
    # failed UPDATE left the table untouched
    assert q(db, "SELECT count(*) AS n, sum(a) AS s FROM t") == (
        '[{"columns":["n","s"],"types":["integer","integer"],"values":[[2,5]]}]'
    )


def test_check_constraint_sqlite_differential(db):
    """Replay the same DDL/DML against in-process sqlite3 and assert the
    engine's accept/reject decisions and error strings match row-for-row."""
    import sqlite3

    ddl = (
        "CREATE TABLE t (a INT CHECK(a > 0), b TEXT, "
        "CONSTRAINT blen CHECK(length(b) < 5))"
    )
    stmts = [
        "INSERT INTO t VALUES (1, 'ab')",
        "INSERT INTO t VALUES (0, 'ab')",
        "INSERT INTO t VALUES (2, 'abcdef')",
        "INSERT INTO t VALUES (NULL, NULL)",
        "UPDATE t SET a = a - 1",
        "UPDATE t SET b = 'toolong!'",
    ]
    ref = sqlite3.connect(":memory:")
    ref.execute(ddl)
    ex(db, ddl)
    for sql in stmts:
        try:
            ref.execute(sql)
            ref_err = None
        except sqlite3.Error as e:
            ref_err = str(e)
        got = db.execute_string_stmt(sql)[0].error or None
        assert got == ref_err, f"{sql}: engine={got!r} sqlite={ref_err!r}"
    ref_rows = ref.execute("SELECT a, b FROM t ORDER BY a").fetchall()
    eng = db.query_string_stmt("SELECT a, b FROM t ORDER BY a NULLS FIRST")[0]
    assert [tuple(r) for r in eng.values] == ref_rows


def test_update_from(db):
    """UPDATE ... FROM (SQLite >= 3.33 join-update, reached through the
    reference pass-through db/src/db.rs:176). Multi-match targets take
    the LAST matching source row in scan order; rows_affected counts
    distinct matched targets. Expectations probed against sqlite3."""
    ex(db, "CREATE TABLE t (id INT, v INT)")
    ex(db, "INSERT INTO t VALUES (1,10),(2,20),(3,30)")
    ex(db, "CREATE TABLE s (tid INT, x INT)")
    ex(db, "INSERT INTO s VALUES (1,100),(1,200),(2,999),(1,300)")
    assert ex(db, "UPDATE t SET v = s.x FROM s WHERE t.id = s.tid") == (
        '[{"last_insert_id":4,"rows_affected":2}]'
    )
    assert q(db, "SELECT * FROM t ORDER BY id") == (
        '[{"columns":["id","v"],"types":["integer","integer"],"values":[[1,300],[2,999],[3,30]]}]'
    )
    # subquery FROM with alias; SET may mix source and target columns
    ex(db, "UPDATE t SET v = m.mx + t.id FROM (SELECT tid, max(x) AS mx FROM s GROUP BY tid) AS m WHERE t.id = m.tid")
    assert q(db, "SELECT * FROM t ORDER BY id") == (
        '[{"columns":["id","v"],"types":["integer","integer"],"values":[[1,301],[2,1001],[3,30]]}]'
    )


def test_with_cte_update_delete(db):
    """WITH-CTE DML: the CTE list is in scope for UPDATE/DELETE
    subqueries (legal SQLite; previously loudly rejected)."""
    ex(db, "CREATE TABLE u (id INT, v INT)")
    ex(db, "INSERT INTO u VALUES (1,1),(2,2),(3,3)")
    assert ex(db, "WITH big AS (SELECT 2 AS i UNION ALL SELECT 3) UPDATE u SET v = v * 10 WHERE id IN (SELECT i FROM big)") == (
        '[{"last_insert_id":3,"rows_affected":2}]'
    )
    assert q(db, "SELECT * FROM u ORDER BY id") == (
        '[{"columns":["id","v"],"types":["integer","integer"],"values":[[1,1],[2,20],[3,30]]}]'
    )
    assert ex(db, "WITH small AS (SELECT 1 AS i) DELETE FROM u WHERE id IN (SELECT i FROM small)") == (
        '[{"last_insert_id":3,"rows_affected":1}]'
    )
    assert q(db, "SELECT * FROM u ORDER BY id") == (
        '[{"columns":["id","v"],"types":["integer","integer"],"values":[[2,20],[3,30]]}]'
    )


def test_update_from_sqlite_differential(db):
    """Replay a join-update sequence against in-process sqlite3 and
    assert results and changes() counts match statement-for-statement."""
    import sqlite3

    ref = sqlite3.connect(":memory:")
    setup = [
        "CREATE TABLE t (id INT, v INT, w TEXT)",
        "INSERT INTO t VALUES (1,10,'a'),(2,20,'b'),(3,30,'c'),(4,40,'d')",
        "CREATE TABLE s (tid INT, x INT)",
        "INSERT INTO s VALUES (1,100),(2,200),(2,250),(5,999)",
    ]
    stmts = [
        "UPDATE t SET v = s.x FROM s WHERE t.id = s.tid",
        "UPDATE t SET v = v + 1, w = w || '!' FROM s WHERE t.id = s.tid AND s.x > 150",
        "UPDATE t SET v = q.mx FROM (SELECT tid, min(x) AS mx FROM s GROUP BY tid) q WHERE t.id = q.tid AND t.v > q.mx",
        "WITH dead AS (SELECT 4 AS i) DELETE FROM t WHERE id IN (SELECT i FROM dead)",
    ]
    for sql in setup:
        ref.execute(sql)
        ex(db, sql)
    for sql in stmts:
        ref.execute(sql)
        n_ref = ref.execute("SELECT changes()").fetchone()[0]
        n_got = db.execute_string_stmt(sql)[0].rows_affected
        assert n_got == n_ref, f"{sql}: engine changes={n_got} sqlite={n_ref}"
        ref_rows = ref.execute("SELECT id, v, w FROM t ORDER BY id").fetchall()
        eng = db.query_string_stmt("SELECT id, v, w FROM t ORDER BY id")[0]
        assert [tuple(r) for r in eng.values] == ref_rows, sql


def test_drop_and_alter(db):
    ex(db, "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY)")
    assert ex(db, "ALTER TABLE t ADD COLUMN note TEXT") == "[{}]"
    ex(db, "INSERT INTO t(id, note) VALUES(1, 'x')")
    assert q(db, "SELECT * FROM t") == (
        '[{"columns":["id","note"],"types":["integer","text"],"values":[[1,"x"]]}]'
    )
    assert ex(db, "CREATE INDEX idx ON t(id)") != ""  # accepted no-op
    # sticky last_insert_id from the prior insert (connection-level state)
    assert ex(db, "DROP TABLE t") == '[{"last_insert_id":1}]'
    with pytest.raises(DustError, match="no such table"):
        db.query_string_stmt("SELECT * FROM t")


def test_alter_add_column_constraints(db):
    """ADD COLUMN carries its full column grammar: DEFAULT backfills
    existing rows, NOT NULL requires a non-NULL default, PK/UNIQUE are
    rejected, CHECK enforces on later writes (all sqlite3-probed)."""
    ex(db, "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY)")
    ex(db, "INSERT INTO t VALUES (1)")
    ex(db, "ALTER TABLE t ADD COLUMN a INT DEFAULT 7")
    assert ex(db, "ALTER TABLE t ADD COLUMN b TEXT NOT NULL") == (
        '[{"error":"Cannot add a NOT NULL column with default value NULL"}]'
    )
    ex(db, "ALTER TABLE t ADD COLUMN b TEXT NOT NULL DEFAULT 'x'")
    assert ex(db, "ALTER TABLE t ADD COLUMN c INT UNIQUE") == '[{"error":"Cannot add a UNIQUE column"}]'
    assert ex(db, "ALTER TABLE t ADD COLUMN d INT PRIMARY KEY") == '[{"error":"Cannot add a PRIMARY KEY column"}]'
    ex(db, "ALTER TABLE t ADD COLUMN e INT CHECK(e IS NULL OR e > 0)")
    assert q(db, "SELECT * FROM t") == (
        '[{"columns":["id","a","b","e"],"types":["integer","integer","text","integer"],'
        '"values":[[1,7,"x",null]]}]'
    )
    # the added column's constraints bind: NOT NULL default on insert,
    # CHECK fires, DEFAULT applies
    assert ex(db, "INSERT INTO t(id, e) VALUES (2, -1)") == (
        '[{"error":"CHECK constraint failed: e IS NULL OR e > 0"}]'
    )
    ex(db, "INSERT INTO t(id, e) VALUES (2, 5)")
    assert q(db, "SELECT a, b, e FROM t WHERE id = 2") == (
        '[{"columns":["a","b","e"],"types":["integer","text","integer"],"values":[[7,"x",5]]}]'
    )


def test_alter_rename_and_drop_column(db):
    """Full SQLite ALTER TABLE family; error strings and the
    FK-reference rewrite probed against in-process sqlite3."""
    ex(db, "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, a INT UNIQUE, b INT, d INT CHECK(d > 0), e INT)")
    ex(db, "INSERT INTO t(a,b,d,e) VALUES (1,2,3,4)")
    assert ex(db, "ALTER TABLE t DROP COLUMN id") == '[{"error":"cannot drop PRIMARY KEY column: \\"id\\""}]'
    assert ex(db, "ALTER TABLE t DROP COLUMN a") == '[{"error":"cannot drop UNIQUE column: \\"a\\""}]'
    assert ex(db, "ALTER TABLE t DROP COLUMN nope") == '[{"error":"no such column: \\"nope\\""}]'
    ex(db, "ALTER TABLE t DROP COLUMN d")
    ex(db, "ALTER TABLE t RENAME COLUMN b TO bb")
    assert ex(db, "ALTER TABLE t RENAME COLUMN zz TO yy") == '[{"error":"no such column: \\"zz\\""}]'
    assert q(db, "SELECT id, a, bb, e FROM t") == (
        '[{"columns":["id","a","bb","e"],"types":["integer","integer","integer","integer"],"values":[[1,1,2,4]]}]'
    )
    # constraints survive the renames/drops
    assert "UNIQUE constraint failed" in ex(db, "INSERT INTO t(a,bb) VALUES (1, 9)")
    ex(db, "ALTER TABLE t RENAME TO t2")
    assert ex(db, "ALTER TABLE t2 RENAME TO t2") == (
        '[{"error":"there is already another table or index with this name: t2"}]'
    )
    with pytest.raises(DustError, match="no such table"):
        db.query_string_stmt("SELECT * FROM t")
    # child FK references follow the rename (SQLite schema rewrite)
    ex(db, "CREATE TABLE child (x INT REFERENCES t2(id))")
    db.enable_fk_constraints(True)
    ex(db, "ALTER TABLE t2 RENAME TO t3")
    assert ex(db, "INSERT INTO child VALUES (99)") == '[{"error":"FOREIGN KEY constraint failed"}]'
    assert ex(db, "INSERT INTO child VALUES (1)") == '[{"last_insert_id":1,"rows_affected":1}]'
    # renamed-column CHECK expression follows a rename
    ex(db, "CREATE TABLE ck (v INT CHECK(v > 0))")
    ex(db, "ALTER TABLE ck RENAME COLUMN v TO w")
    assert ex(db, "INSERT INTO ck VALUES (-1)") == '[{"error":"CHECK constraint failed: w > 0"}]'


def test_create_view(db):
    ex(db, "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    ex(db, "INSERT INTO t(v) VALUES(5)")
    ex(db, "CREATE VIEW big AS SELECT id, v * 2 AS v2 FROM t")
    assert q(db, "SELECT v2 FROM big") == '[{"columns":["v2"],"types":["integer"],"values":[[10]]}]'


def test_exotic_declared_types(db):
    # reference db/src/db.rs:449-463 (typed round-trip commented out
    # there because rusqlite can't; we CAN — affinity maps all to text)
    ex(db, "CREATE TABLE foo (c0 VARCHAR(36), c1 JSON, c2 NCHAR, c3 NVARCHAR, c4 CLOB)")
    ex(db, """INSERT INTO foo(c0, c1, c2, c3, c4) VALUES("fiona", '{"mittens": "foobar"}', "bob", "dana", "declan")""")
    assert q(db, "SELECT * FROM foo") == (
        '[{"columns":["c0","c1","c2","c3","c4"],"types":["text","text","text","text","text"],'
        '"values":[["fiona","{\\"mittens\\": \\"foobar\\"}","bob","dana","declan"]]}]'
    )


def test_insert_select(db):
    ex(db, "CREATE TABLE src (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    ex(db, "CREATE TABLE dst (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    db.execute(Request(statements=[Statement(f"INSERT INTO src(v) VALUES({i})") for i in (7, 8, 9)]))
    r = ex(db, "INSERT INTO dst SELECT id, v FROM src WHERE v > 7")
    assert '"rows_affected":2' in r
    assert q(db, "SELECT v FROM dst ORDER BY id") == (
        '[{"columns":["v"],"types":["integer"],"values":[[8],[9]]}]'
    )


def test_deterministic_guard(spark):
    db = DustSession(spark, deterministic_guard=True)
    try:
        db.execute_string_stmt("CREATE TABLE g (id INTEGER NOT NULL PRIMARY KEY, v REAL)")
        r = db.execute_string_stmt("INSERT INTO g(v) VALUES(random())")
        assert "non-deterministic" in r[0].error
    finally:
        db.close()


def test_disk_mode_persistence(spark, tmp_path):
    wh = str(tmp_path / "wh")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    db.execute_string_stmt('INSERT INTO t(name) VALUES("fiona")')
    db.close()

    db2 = DustSession(spark, warehouse=wh)
    assert rows_to_json(db2.query_string_stmt("SELECT * FROM t")) == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"]]}]'
    )
    # journal recorded the statements for deterministic replay
    import os

    assert os.path.exists(os.path.join(wh, "journal.jsonl"))
    db2.close()


def test_disk_mode_constraint_roundtrip(spark, tmp_path):
    """The manifest must round-trip EVERY constraint-bearing TableDef
    field: after reopen, CHECK still enforces, DEFAULT still fills,
    GENERATED still computes, AUTOINCREMENT stays monotone, and the
    implicit rowid (hidden column) keeps its sequence and stays out of
    SELECT * — each a silent write-path divergence if dropped."""
    wh = str(tmp_path / "whc")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt(
        "CREATE TABLE rt (id INTEGER PRIMARY KEY AUTOINCREMENT, "
        "v INT NOT NULL DEFAULT 7 CHECK (v > 0), "
        "g INT GENERATED ALWAYS AS (v * 2) STORED)"
    )
    db.execute_string_stmt("INSERT INTO rt(v) VALUES (3)")
    db.execute_string_stmt("CREATE TABLE imp (w TEXT)")
    db.execute_string_stmt("INSERT INTO imp VALUES ('a'), ('b')")
    db.execute_string_stmt("DELETE FROM imp WHERE rowid = 2")
    db.close()

    db2 = DustSession(spark, warehouse=wh)
    # CHECK enforced after reopen
    r = db2.execute_string_stmt("INSERT INTO rt(v) VALUES (-1)")[0]
    assert r.error == "CHECK constraint failed: v > 0", r.error
    # DEFAULT + GENERATED still applied
    db2.execute_string_stmt("INSERT INTO rt DEFAULT VALUES")
    out = db2.query_string_stmt("SELECT id, v, g FROM rt ORDER BY id")[0]
    # AUTOINCREMENT: the failed insert burns no id in our engine; the
    # contract here is monotone continuation from the stored high-water
    assert out.values == [[1, 3, 6], [2, 7, 14]]
    # generated columns still hidden from table_info, shown by xinfo
    assert [row[1] for row in db2.query_string_stmt("PRAGMA table_info(rt)")[0].values] == ["id", "v"]
    assert db2.query_string_stmt("PRAGMA table_xinfo(rt)")[0].values[-1][6] == 3
    # implicit rowid: hidden column survives, sequence follows max-rule
    assert db2.query_string_stmt("SELECT * FROM imp")[0].columns == ["w"]
    db2.execute_string_stmt("INSERT INTO imp VALUES ('c')")
    assert db2.query_string_stmt("SELECT rowid, w FROM imp ORDER BY rowid")[0].values == [
        [1, "a"], [2, "c"]
    ]
    # sqlite_master keeps the original CREATE text
    sql = db2.query_string_stmt("SELECT sql FROM sqlite_master WHERE name='rt'")[0].values[0][0]
    assert "CHECK (v > 0)" in sql and "AUTOINCREMENT" in sql
    db2.close()


def test_journal_replay(spark, tmp_path):
    import os

    wh = str(tmp_path / "wh_src")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    db.execute_string_stmt('INSERT INTO t(name) VALUES("fiona")')
    db.execute_string_stmt("INSERT INTO t(name) VALUES(?)", ["dana"])
    db.execute_string_stmt('UPDATE t SET name="edna" WHERE id=2')
    want = rows_to_json(db.query_string_stmt("SELECT * FROM t"))
    db.close()

    replayed = DustSession.replay(os.path.join(wh, "journal.jsonl"), spark)
    assert rows_to_json(replayed.query_string_stmt("SELECT * FROM t")) == want
    replayed.close()


def test_journal_replay_implicit_rowid(spark, tmp_path):
    """Deterministic replay must reproduce hidden rowids exactly: the
    max(rowid)+1 reuse rule and rowid-predicated DML mean a replayed
    statement stream lands every row on the same hidden id, or later
    journaled statements (DELETE WHERE rowid=...) hit different rows."""
    import os

    wh = str(tmp_path / "wh_imp")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt("CREATE TABLE t (v TEXT)")
    db.execute_string_stmt("INSERT INTO t VALUES ('a'), ('b'), ('c')")
    db.execute_string_stmt("DELETE FROM t WHERE rowid = 3")
    db.execute_string_stmt("INSERT INTO t VALUES ('d')")  # reuses 3
    db.execute_string_stmt("UPDATE t SET v = v || rowid WHERE rowid <= 2")
    db.execute_string_stmt("INSERT INTO t(rowid, v) VALUES (50, 'e')")
    want = rows_to_json(db.query_string_stmt("SELECT rowid, v FROM t ORDER BY rowid"))
    db.close()

    replayed = DustSession.replay(os.path.join(wh, "journal.jsonl"), spark)
    got = rows_to_json(replayed.query_string_stmt("SELECT rowid, v FROM t ORDER BY rowid"))
    assert got == want
    replayed.close()


def test_default_values(db):
    ex(db, "CREATE TABLE d (id INTEGER NOT NULL PRIMARY KEY, status TEXT DEFAULT 'open', n INT DEFAULT 7)")
    ex(db, "INSERT INTO d(id) VALUES(1)")
    assert q(db, "SELECT * FROM d") == (
        '[{"columns":["id","status","n"],"types":["integer","text","integer"],"values":[[1,"open",7]]}]'
    )
    ex(db, "INSERT INTO d(id, status) VALUES(2, 'closed')")
    assert q(db, "SELECT status, n FROM d WHERE id = 2") == (
        '[{"columns":["status","n"],"types":["text","integer"],"values":[["closed",7]]}]'
    )


def test_insert_or_replace(db):
    ex(db, "CREATE TABLE r (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    ex(db, 'INSERT INTO r(id, name) VALUES(1, "fiona")')
    # plain insert on dup pk fails
    assert ex(db, 'INSERT INTO r(id, name) VALUES(1, "x")') == '[{"error":"UNIQUE constraint failed: r.id"}]'
    # REPLACE upserts
    assert ex(db, 'REPLACE INTO r(id, name) VALUES(1, "dana")') == '[{"last_insert_id":1,"rows_affected":1}]'
    assert ex(db, 'INSERT OR REPLACE INTO r(id, name) VALUES(2, "tom"), (2, "tim")') != ""
    assert q(db, "SELECT * FROM r ORDER BY id") == (
        '[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"dana"],[2,"tim"]]}]'
    )


def test_insert_or_replace_column_order_sqlite_differential(db):
    """REPLACE keeps the table's column order when it displaces a row
    by a UNIQUE key that is not the first column."""
    import sqlite3

    ref = sqlite3.connect(":memory:")
    try:
        for sql in [
            "CREATE TABLE t (a TEXT, id INTEGER PRIMARY KEY, u TEXT UNIQUE)",
            "INSERT INTO t VALUES ('x', 1, 'k'), ('y', 2, 'm')",
            "INSERT OR REPLACE INTO t(a, id, u) VALUES ('z', 3, 'k')",
        ]:
            ref.execute(sql)
            assert db.execute_string_stmt(sql)[0].error == "", sql
        cur = ref.execute("SELECT * FROM t ORDER BY id")
        got = db.query_string_stmt("SELECT * FROM t ORDER BY id")[0]
        assert got.columns == [d[0] for d in cur.description]
        assert [tuple(r) for r in got.values] == cur.fetchall()
    finally:
        ref.close()


def test_query_error_messages(db):
    with pytest.raises(DustError, match="no such table: missing"):
        db.query_string_stmt("SELECT * FROM missing")
    ex(db, "CREATE TABLE em (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    with pytest.raises(DustError, match="no such column|UNRESOLVED"):
        db.query_string_stmt("SELECT nope FROM em")
    # execute() of a row-returning statement mirrors rusqlite's refusal
    r = db.execute_string_stmt("SELECT 1")
    assert r[0].error == "Execute returned results - did you mean to call query?"


def test_journal_compaction(spark, tmp_path):
    import os

    wh = str(tmp_path / "wh_c")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    db.execute_string_stmt("INSERT INTO t(v) VALUES(1)")
    jp = os.path.join(wh, "journal.jsonl")
    assert len(open(jp).readlines()) == 2
    db.compact_journal()  # snapshot = parquet versions + manifest
    assert open(jp).read() == ""
    db.execute_string_stmt("INSERT INTO t(v) VALUES(2)")
    assert len(open(jp).readlines()) == 1  # only the journal tail
    db.close()

    # recovery: manifest snapshot already holds everything
    db2 = DustSession(spark, warehouse=wh)
    assert rows_to_json(db2.query_string_stmt("SELECT v FROM t ORDER BY id")) == (
        '[{"columns":["v"],"types":["integer"],"values":[[1],[2]]}]'
    )
    db2.close()


def test_tx_rolls_back_ddl(db):
    """A transaction containing CREATE + INSERT + a failing statement
    voids everything — including the table creation."""
    req = Request(
        transaction=True,
        statements=[
            Statement("CREATE TABLE txt (id INTEGER NOT NULL PRIMARY KEY, v INT)"),
            Statement("INSERT INTO txt(v) VALUES(1)"),
            Statement("INSERT INTO nosuch VALUES(1)"),
        ],
    )
    out = db.execute(req)
    assert out[-1].error == "no such table: nosuch"
    with pytest.raises(DustError, match="no such table"):
        db.query_string_stmt("SELECT * FROM txt")


def test_fk_parent_delete_update_enforced(db):
    """With PRAGMA foreign_keys=ON, deleting or re-keying a referenced
    parent row fails like real SQLite (reference inherits this via its
    SQLite pass-through, db/src/db.rs:350-376)."""
    ex(db, "PRAGMA foreign_keys = ON")
    ex(db, "CREATE TABLE p (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    ex(db, "CREATE TABLE c (id INTEGER NOT NULL PRIMARY KEY, pid INTEGER, FOREIGN KEY(pid) REFERENCES p(id))")
    ex(db, "INSERT INTO p(id, name) VALUES(1, 'a'), (2, 'b')")
    ex(db, "INSERT INTO c(id, pid) VALUES(10, 1)")
    # deleting the referenced parent fails; the unreferenced one succeeds
    assert ex(db, "DELETE FROM p WHERE id = 1") == '[{"error":"FOREIGN KEY constraint failed"}]'
    assert ex(db, "DELETE FROM p WHERE id = 2") == '[{"last_insert_id":10,"rows_affected":1}]'
    # re-keying the referenced parent fails
    assert ex(db, "UPDATE p SET id = 5 WHERE id = 1") == '[{"error":"FOREIGN KEY constraint failed"}]'
    # with the child pointer cleared, the delete goes through
    ex(db, "UPDATE c SET pid = NULL")
    assert ex(db, "DELETE FROM p WHERE id = 1") == '[{"last_insert_id":10,"rows_affected":1}]'
    # and with enforcement off, dangling deletes are allowed again
    ex(db, "PRAGMA foreign_keys = OFF")
    ex(db, "INSERT INTO p(id, name) VALUES(3, 'c')")
    ex(db, "UPDATE c SET pid = 3")
    assert '"error"' not in ex(db, "DELETE FROM p WHERE id = 3")


def test_pragma_call_form(db):
    """PRAGMA table_info(t) (call form) answers with SQLite's shape;
    unknown call-form pragmas return empty rows instead of crashing."""
    ex(db, "CREATE TABLE ti (id INTEGER NOT NULL PRIMARY KEY, name TEXT NOT NULL, score REAL)")
    out = q(db, "PRAGMA table_info(ti)")
    assert '"columns":["cid","name","type","notnull","dflt_value","pk"]' in out
    assert '[0,"id","INTEGER",1,null,1]' in out
    assert '"name"' in out and '"score"' in out
    # unknown pragmas (value-form or call-form) don't error
    # journal_mode is implemented as of r10 — pinned 'memory' in memory
    # mode like sqlite3 (the set form echoes the pinned mode)
    assert (
        q(db, "PRAGMA journal_mode(wal)")
        == '[{"columns":["journal_mode"],"types":["text"],"values":[["memory"]]}]'
    )
    # genuinely unknown pragmas still return empty rows instead of crashing
    assert q(db, "PRAGMA nosuch_pragma(x)") == '[{"columns":[],"types":[],"values":[]}]'
    assert q(db, "PRAGMA table_info(nosuch)") == (
        '[{"columns":["cid","name","type","notnull","dflt_value","pk"],'
        '"types":["integer","text","text","integer","text","integer"],"values":[]}]'
    )


def test_replay_skips_snapshot(spark, tmp_path):
    """replay() over a warehouse that already loaded the manifest must
    not double-apply committed statements: the manifest records a
    journal high-water mark and replay starts after it."""
    import os

    wh = str(tmp_path / "wh_hw")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    db.execute_string_stmt("INSERT INTO t(v) VALUES(1)")
    db.execute_string_stmt("INSERT INTO t(v) VALUES(2)")
    want = rows_to_json(db.query_string_stmt("SELECT * FROM t ORDER BY id"))
    db.close()

    # same warehouse: manifest snapshot + journal → no duplicates, no
    # 'table already exists'
    replayed = DustSession.replay(os.path.join(wh, "journal.jsonl"), spark, warehouse=wh)
    assert rows_to_json(replayed.query_string_stmt("SELECT * FROM t ORDER BY id")) == want
    replayed.close()

    # crash-tail simulation: journal has an extra entry the manifest
    # hasn't seen (write-ahead ordering) → exactly that entry replays
    with open(os.path.join(wh, "journal.jsonl")) as f:
        lines = [ln for ln in f if ln.strip()]
    import json as _json

    last_seq = max(_json.loads(ln)["seq"] for ln in lines)
    with open(os.path.join(wh, "journal.jsonl"), "a") as f:
        f.write(_json.dumps({"seq": last_seq + 1, "sql": "INSERT INTO t(v) VALUES(3)", "parameters": [], "transaction": False}) + "\n")
    replayed2 = DustSession.replay(os.path.join(wh, "journal.jsonl"), spark, warehouse=wh)
    out = rows_to_json(replayed2.query_string_stmt("SELECT v FROM t ORDER BY id"))
    assert out == '[{"columns":["v"],"types":["integer"],"values":[[1],[2],[3]]}]'
    replayed2.close()


def test_dsn_open_modes(spark, tmp_path, monkeypatch):
    """Constructor/DSN parity with the reference's test_initialise_db
    (db/src/db.rs:328-348): open, open_with_dsn, open_in_memory,
    open_in_memory_with_dsn, format_dsn, and the missing-parent error."""
    monkeypatch.chdir(tmp_path)
    assert DustSession.format_dsn("sample.db", "") == "sample.db"
    assert DustSession.format_dsn("sample.db", "cache=shared") == "file:sample.db?cache=shared"

    db = DustSession.open("sample.db", spark)
    db.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY)")
    db.close()
    import os

    assert os.path.isdir("sample.db")  # warehouse created like the db file

    # mode=memory in the DSN wins over the file path (SQLite URI rule)
    mem = DustSession.open_with_dsn("sample2.db", "cache=shared&mode=memory", spark)
    mem.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY)")
    mem.close()
    assert not os.path.exists("sample2.db")

    DustSession.open_in_memory(spark).close()
    DustSession.open_in_memory_with_dsn("cache=shared&mode=memory", spark).close()

    # missing parent directory: reference error string verbatim
    with pytest.raises(DustError, match="unable to open database file: etc/sample.db"):
        DustSession.open("etc/sample.db", spark)

    # file:...?opts form accepted straight through the constructor
    db3 = DustSession(spark, warehouse="file:w3?cache=shared")
    db3.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY)")
    db3.close()
    assert os.path.isdir("w3")


def test_bulk_insert_select_parallel_rowid(db, spark):
    """INSERT...SELECT assigns ids 1..n in select order without a
    single-partition global window (the plan windows per __pid)."""
    ex(db, "CREATE TABLE src (v INTEGER NOT NULL)")
    ex(db, "INSERT INTO src(v) VALUES " + ", ".join(f"({i})" for i in range(200)))
    ex(db, "CREATE TABLE dst (id INTEGER NOT NULL PRIMARY KEY, v INTEGER)")
    out = ex(db, "INSERT INTO dst(v) SELECT v FROM src ORDER BY v DESC")
    assert '"rows_affected":200' in out and '"last_insert_id":200' in out
    # ids are 1..200 and follow the SELECT's output order (v descending)
    rows = q(db, "SELECT id, v FROM dst ORDER BY id")
    import json as _json

    got = _json.loads(rows)[0]["values"]
    assert [r[0] for r in got] == list(range(1, 201))
    assert [r[1] for r in got] == list(range(199, -1, -1))

    # plan shape: the insertion-index helper windows by partition id,
    # never over a single global partition
    from pyspark.sql import functions as F

    src_df = spark.range(0, 1000).repartition(8).select(F.col("id").alias("v"))
    indexed, _ = db._with_insertion_index(src_df)
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "partitionBy" not in plan or "__pid" in plan
    ids = [r["__rn"] for r in indexed.collect()]
    assert sorted(ids) == list(range(1, 1001))


def test_attach_database(spark, tmp_path, db):
    """ATTACH DATABASE (implied SQLite surface, db/src/db.rs:176):
    attached warehouses are readable with alias-qualified names —
    cross-db joins included — and answer writes with SQLite's
    readonly error. DETACH removes the namespace."""
    wh = str(tmp_path / "aux_wh")
    src = DustSession(spark, warehouse=wh)
    src.execute_string_stmt("CREATE TABLE prices (id INTEGER NOT NULL PRIMARY KEY, p REAL)")
    src.execute_string_stmt("INSERT INTO prices(id, p) VALUES(1, 10.5), (2, 20.0)")
    src.close()

    ex(db, "CREATE TABLE items (id INTEGER NOT NULL PRIMARY KEY, name TEXT)")
    ex(db, "INSERT INTO items(id, name) VALUES(1, 'apple'), (2, 'pear')")
    assert ex(db, f"ATTACH DATABASE '{wh}' AS aux") == '[{"last_insert_id":2}]'

    # alias-qualified read + cross-db join
    assert q(db, "SELECT p FROM aux.prices WHERE id = 2") == (
        '[{"columns":["p"],"types":["real"],"values":[[20.0]]}]'
    )
    out = q(db, "SELECT name, p FROM items JOIN aux.prices ON items.id = aux.prices.id ORDER BY items.id")
    assert '"values":[["apple",10.5],["pear",20.0]]' in out

    # alias collisions + unknown detach: SQLite error strings
    assert ex(db, f"ATTACH '{wh}' AS aux") == '[{"error":"database aux is already in use"}]'
    assert ex(db, "DETACH nosuch") == '[{"error":"no such database: nosuch"}]'

    # attached side is read-write (SQLite ATTACH semantics) and
    # persists to the attached warehouse
    assert ex(db, "INSERT INTO aux.prices(id, p) VALUES(3, 1.0)") == (
        '[{"last_insert_id":3,"rows_affected":1}]'
    )
    assert ex(db, "UPDATE aux.prices SET p = 2.5 WHERE id = 3") == (
        '[{"last_insert_id":3,"rows_affected":1}]'
    )
    assert q(db, "SELECT p FROM aux.prices WHERE id = 3") == (
        '[{"columns":["p"],"types":["real"],"values":[[2.5]]}]'
    )
    ex(db, "CREATE TABLE aux.extra (id INTEGER NOT NULL PRIMARY KEY, s TEXT)")
    ex(db, "INSERT INTO aux.extra(s) VALUES('x')")

    # string literals containing 'aux.' are not rewritten
    assert q(db, "SELECT 'aux.prices' AS s") == (
        '[{"columns":["s"],"types":["text"],"values":[["aux.prices"]]}]'
    )

    ex(db, "DETACH DATABASE aux")
    assert ex(db, "ATTACH ':memory:' AS scratch") != ""
    r = db.query_string_stmt("SELECT count(*) AS n FROM items")
    assert r[0].values == [[2]]
    with pytest.raises(DustError, match="no such table"):
        db.query_string_stmt("SELECT * FROM aux.prices")

    # the attached warehouse reopens standalone with the writes applied
    src2 = DustSession(db.spark, warehouse=wh)
    assert q(src2, "SELECT id, p FROM prices ORDER BY id") == (
        '[{"columns":["id","p"],"types":["integer","real"],"values":[[1,10.5],[2,20.0],[3,2.5]]}]'
    )
    assert q(src2, "SELECT s FROM extra") == (
        '[{"columns":["s"],"types":["text"],"values":[["x"]]}]'
    )
    src2.close()


def test_create_table_as_select(db):
    """CTAS (implied SQLite surface): schema inferred, data snapshotted
    — later writes to the source don't leak into the CTAS table."""
    ex(db, "CREATE TABLE src (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    ex(db, "INSERT INTO src(v) VALUES(10), (20), (30)")
    assert ex(db, "CREATE TABLE big AS SELECT id, v * 2 AS v2 FROM src WHERE v >= 20") == (
        '[{"last_insert_id":3}]'
    )
    assert q(db, "SELECT * FROM big ORDER BY id") == (
        '[{"columns":["id","v2"],"types":["integer","integer"],"values":[[2,40],[3,60]]}]'
    )
    ex(db, "INSERT INTO src(v) VALUES(40)")
    assert q(db, "SELECT count(*) AS n FROM big") == (
        '[{"columns":["n"],"types":["integer"],"values":[[2]]}]'
    )
    assert ex(db, "CREATE TABLE big AS SELECT 1 AS x") == '[{"error":"table big already exists"}]'
    assert '"error"' not in ex(db, "CREATE TABLE IF NOT EXISTS big AS SELECT 1 AS x")
    # CTAS tables take ordinary DML
    ex(db, "INSERT INTO big(id, v2) VALUES(9, 99)")
    assert q(db, "SELECT v2 FROM big WHERE id = 9") == (
        '[{"columns":["v2"],"types":["integer"],"values":[[99]]}]'
    )


def test_insert_on_conflict_upsert(db):
    """SQLite upsert: DO NOTHING skips conflicting rows; DO UPDATE SET
    applies with excluded.* references; within-batch first-wins /
    last-wins ordering."""
    ex(db, "CREATE TABLE u (id INTEGER NOT NULL PRIMARY KEY, v INT, n TEXT)")
    ex(db, "INSERT INTO u(id, v, n) VALUES(1, 10, 'a'), (2, 20, 'b')")

    # DO NOTHING: conflict skipped, fresh row inserted; changes() = 1
    assert ex(db, "INSERT INTO u(id, v, n) VALUES(1, 99, 'x'), (3, 30, 'c') ON CONFLICT(id) DO NOTHING") == (
        '[{"last_insert_id":3,"rows_affected":1}]'
    )
    assert q(db, "SELECT id, v FROM u ORDER BY id") == (
        '[{"columns":["id","v"],"types":["integer","integer"],"values":[[1,10],[2,20],[3,30]]}]'
    )

    # DO UPDATE with excluded.* and a self-reference
    out = ex(db, "INSERT INTO u(id, v, n) VALUES(2, 5, 'z'), (4, 40, 'd') "
                 "ON CONFLICT(id) DO UPDATE SET v = v + excluded.v, n = excluded.n")
    assert '"rows_affected":2' in out
    assert q(db, "SELECT id, v, n FROM u ORDER BY id") == (
        '[{"columns":["id","v","n"],"types":["integer","integer","text"],'
        '"values":[[1,10,"a"],[2,25,"z"],[3,30,"c"],[4,40,"d"]]}]'
    )

    # within one batch: last conflicting row wins for DO UPDATE
    ex(db, "INSERT INTO u(id, v, n) VALUES(1, 1, 'p'), (1, 2, 'q') "
           "ON CONFLICT(id) DO UPDATE SET v = excluded.v, n = excluded.n")
    assert q(db, "SELECT v, n FROM u WHERE id = 1") == (
        '[{"columns":["v","n"],"types":["integer","text"],"values":[[2,"q"]]}]'
    )

    # no conflict target: defaults to the primary key
    ex(db, "INSERT INTO u(id, v, n) VALUES(3, 7, 'w') ON CONFLICT DO UPDATE SET v = excluded.v")
    assert q(db, "SELECT v FROM u WHERE id = 3") == (
        '[{"columns":["v"],"types":["integer"],"values":[[7]]}]'
    )


def test_correlated_dml_subqueries(db):
    """Correlated scalar subqueries in UPDATE SET, EXISTS in DELETE
    WHERE, IN-subqueries — the staged view is aliased as the target
    table so outer references resolve, and the WHERE-boundary parser
    skips subquery WHEREs."""
    ex(db, "CREATE TABLE ta (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    ex(db, "CREATE TABLE tb (id INTEGER NOT NULL PRIMARY KEY, w INT)")
    ex(db, "INSERT INTO ta(id, v) VALUES(1, 1), (2, 2), (3, 3)")
    ex(db, "INSERT INTO tb(id, w) VALUES(1, 100), (3, 300)")

    out = ex(db, "UPDATE ta SET v = coalesce((SELECT w FROM tb WHERE tb.id = ta.id), v)")
    assert '"rows_affected":3' in out
    assert q(db, "SELECT v FROM ta ORDER BY id") == (
        '[{"columns":["v"],"types":["integer"],"values":[[100],[2],[300]]}]'
    )
    out = ex(db, "UPDATE ta SET v = v * 10 WHERE id IN (SELECT id FROM tb WHERE w >= 300)")
    assert '"rows_affected":1' in out
    out = ex(db, "DELETE FROM ta WHERE EXISTS (SELECT 1 FROM tb WHERE tb.id = ta.id AND tb.w > 200)")
    assert '"rows_affected":1' in out
    assert q(db, "SELECT id, v FROM ta ORDER BY id") == (
        '[{"columns":["id","v"],"types":["integer","integer"],"values":[[1,100],[2,2]]}]'
    )


def test_attach_cross_db_transaction_atomicity(spark, tmp_path, db):
    """A transaction spanning main + attached databases rolls back BOTH
    when any statement fails (SQLite cross-database atomicity)."""
    wh = str(tmp_path / "aux2_wh")
    src = DustSession(spark, warehouse=wh)
    src.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    src.execute_string_stmt("INSERT INTO t(id, v) VALUES(1, 1)")
    src.close()

    ex(db, "CREATE TABLE m (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    ex(db, f"ATTACH '{wh}' AS aux2")
    req = Request(
        transaction=True,
        statements=[
            Statement("INSERT INTO m(id, v) VALUES(1, 10)"),
            Statement("INSERT INTO aux2.t(id, v) VALUES(2, 2)"),
            Statement("INSERT INTO m(id, v) VALUES(1, 99)"),  # UNIQUE violation
        ],
    )
    responses = db.execute(req)
    assert any(r.error for r in responses)
    assert q(db, "SELECT count(*) AS n FROM m") == (
        '[{"columns":["n"],"types":["integer"],"values":[[0]]}]'
    )
    assert q(db, "SELECT count(*) AS n FROM aux2.t") == (
        '[{"columns":["n"],"types":["integer"],"values":[[1]]}]'
    )
    # and a clean tx commits both sides
    ok = db.execute(Request(transaction=True, statements=[
        Statement("INSERT INTO m(id, v) VALUES(1, 10)"),
        Statement("INSERT INTO aux2.t(id, v) VALUES(2, 2)"),
    ]))
    assert not any(r.error for r in ok)
    assert q(db, "SELECT v FROM aux2.t WHERE id = 2") == (
        '[{"columns":["v"],"types":["integer"],"values":[[2]]}]'
    )
    ex(db, "DETACH aux2")


def test_upsert_null_targets_never_conflict(db):
    """SQLite NULL semantics: rows with NULL in the conflict-target
    column never conflict — with each other or with existing NULLs."""
    ex(db, "CREATE TABLE un (id INTEGER NOT NULL PRIMARY KEY, u INT, v INT)")
    ex(db, "CREATE UNIQUE INDEX iu ON un(u)")  # accepted-ignored index; use table constraint instead
    ex(db, "DROP TABLE un")
    ex(db, "CREATE TABLE un (id INTEGER NOT NULL PRIMARY KEY, u INT UNIQUE, v INT)")
    ex(db, "INSERT INTO un(id, u, v) VALUES(1, NULL, 1)")
    out = ex(db, "INSERT INTO un(id, u, v) VALUES(2, NULL, 2), (3, NULL, 3) "
                 "ON CONFLICT(u) DO NOTHING")
    assert '"rows_affected":2' in out
    assert q(db, "SELECT count(*) AS n FROM un") == (
        '[{"columns":["n"],"types":["integer"],"values":[[3]]}]'
    )


def test_upsert_targetless_and_string_ids(db, spark):
    """Targetless DO NOTHING catches ANY unique constraint; targetless
    DO UPDATE is SQLite's syntax error."""
    ex(db, "CREATE TABLE tn (id INTEGER NOT NULL PRIMARY KEY, u INT UNIQUE)")
    ex(db, "INSERT INTO tn(id, u) VALUES(1, 5)")
    out = ex(db, "INSERT INTO tn(id, u) VALUES(2, 5) ON CONFLICT DO NOTHING")
    assert out == '[{"last_insert_id":1}]', out  # 0 rows affected
    out = ex(db, "INSERT INTO tn(id, u) VALUES(1, 9) ON CONFLICT DO NOTHING")
    assert out == '[{"last_insert_id":1}]', out  # pk conflict skipped
    out = ex(db, "INSERT INTO tn(id, u) VALUES(3, 7) ON CONFLICT DO NOTHING")
    assert '"rows_affected":1' in out
    # with more than one uniqueness constraint the targetless DO UPDATE
    # row pairing is ambiguous — rejected with SQLite's parse error
    assert ex(db, "INSERT INTO tn(id, u) VALUES(4, 8) ON CONFLICT DO UPDATE SET u = 1") == (
        '[{"error":"near \\"DO\\": syntax error"}]'
    )


def test_replay_preserves_attach_tail(spark, tmp_path):
    """A journaled write to an attached database after the snapshot must
    replay — ATTACH statements re-execute regardless of the seq mark."""
    import json as _json
    import os

    aux = str(tmp_path / "aux_r")
    a = DustSession(spark, warehouse=aux)
    a.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    a.close()

    wh = str(tmp_path / "main_r")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt("CREATE TABLE m (id INTEGER NOT NULL PRIMARY KEY)")
    db.execute_string_stmt(f"ATTACH '{aux}' AS aux")
    db.close()
    # crash-tail: journaled but unpublished write to the attached db
    jp = os.path.join(wh, "journal.jsonl")
    last_seq = max(_json.loads(ln)["seq"] for ln in open(jp) if ln.strip())
    with open(jp, "a") as f:
        f.write(_json.dumps({"seq": last_seq + 1, "sql": "INSERT INTO aux.t(id, v) VALUES(1, 7)",
                             "parameters": [], "transaction": False}) + "\n")
    re = DustSession.replay(jp, spark, warehouse=wh)
    assert rows_to_json(re.query_string_stmt("SELECT v FROM aux.t")) == (
        '[{"columns":["v"],"types":["integer"],"values":[[7]]}]'
    )
    re.close()


def test_pragma_table_info_case_and_attached(spark, tmp_path, db):
    ex(db, "CREATE TABLE MixedCase (id INTEGER NOT NULL PRIMARY KEY, s TEXT)")
    out = q(db, "PRAGMA table_info(MixedCase)")
    assert '"values":[[0,"id","INTEGER",1,null,1],[1,"s","TEXT",0,null,0]]' in out
    aux = str(tmp_path / "ti_aux")
    a = DustSession(spark, warehouse=aux)
    a.execute_string_stmt("CREATE TABLE at (x INT)")
    a.close()
    ex(db, f"ATTACH '{aux}' AS aux9")
    out = q(db, "PRAGMA table_info(aux9.at)")
    assert '"values":[[0,"x","INT",0,null,0]]' in out
    ex(db, "DETACH aux9")


def test_returning_clause(db):
    """SQLite 3.35 RETURNING through query(): inserted rows (with
    assigned rowids), updated post-images, deleted pre-images; execute()
    refuses it like rusqlite refuses row-returning statements."""
    ex(db, "CREATE TABLE r2 (id INTEGER NOT NULL PRIMARY KEY, v INT, s TEXT DEFAULT 'd')")
    out = q(db, "INSERT INTO r2(v) VALUES(10), (20) RETURNING id, v, s")
    assert out == (
        '[{"columns":["id","v","s"],"types":["integer","integer","text"],'
        '"values":[[1,10,"d"],[2,20,"d"]]}]'
    )
    out = q(db, "UPDATE r2 SET v = v * 2 WHERE id = 2 RETURNING id, v")
    assert out == '[{"columns":["id","v"],"types":["integer","integer"],"values":[[2,40]]}]'
    out = q(db, "DELETE FROM r2 WHERE v >= 40 RETURNING *")
    assert out == (
        '[{"columns":["id","v","s"],"types":["integer","integer","text"],"values":[[2,40,"d"]]}]'
    )
    assert q(db, "SELECT count(*) AS n FROM r2") == (
        '[{"columns":["n"],"types":["integer"],"values":[[1]]}]'
    )
    # expression projections work too
    out = q(db, "INSERT INTO r2(v) VALUES(5) RETURNING v + 100 AS vv")
    assert out == '[{"columns":["vv"],"types":["integer"],"values":[[105]]}]'
    # upsert RETURNING covers both inserted and updated rows
    out = q(db, "INSERT INTO r2(id, v) VALUES(1, 7), (9, 9) "
                "ON CONFLICT(id) DO UPDATE SET v = excluded.v RETURNING id, v")
    import json as _json

    rows = sorted(_json.loads(out)[0]["values"])
    assert rows == [[1, 7], [9, 9]]
    # execute() path refuses row-returning DML (rusqlite behavior)
    r = db.execute_string_stmt("INSERT INTO r2(v) VALUES(1) RETURNING id")
    assert r[0].error == "Execute returned results - did you mean to call query?"
    # a RETURNING inside a string literal is data, not a clause
    ex(db, "CREATE TABLE rl (id INTEGER NOT NULL PRIMARY KEY, s TEXT)")
    ex(db, "INSERT INTO rl(s) VALUES('no RETURNING x here')")
    assert q(db, "SELECT s FROM rl") == (
        '[{"columns":["s"],"types":["text"],"values":[["no RETURNING x here"]]}]'
    )


def test_insert_default_values(db):
    ex(db, "CREATE TABLE dv (id INTEGER NOT NULL PRIMARY KEY, s TEXT DEFAULT 'x', n INT)")
    assert ex(db, "INSERT INTO dv DEFAULT VALUES") == '[{"last_insert_id":1,"rows_affected":1}]'
    assert ex(db, "INSERT INTO dv DEFAULT VALUES") == '[{"last_insert_id":2,"rows_affected":1}]'
    assert q(db, "SELECT * FROM dv ORDER BY id") == (
        '[{"columns":["id","s","n"],"types":["integer","text","integer"],'
        '"values":[[1,"x",null],[2,"x",null]]}]'
    )


def test_dml_clause_whitespace_tolerance(db):
    """Formatted SQL: newlines/tabs inside ON CONFLICT, DEFAULT VALUES,
    RETURNING clauses; trailing semicolons; qualified RETURNING refs and
    bound parameters in the projection."""
    ex(db, "CREATE TABLE wt (id INTEGER NOT NULL PRIMARY KEY, v INT DEFAULT 3)")
    assert '"rows_affected":1' in ex(db, "INSERT INTO wt DEFAULT\n  VALUES;")
    assert '"rows_affected":1' in ex(db, "INSERT INTO wt(id, v) VALUES(2, 1)\nON\nCONFLICT(id)\nDO\tNOTHING")
    out = ex(db, "INSERT INTO wt(id, v) VALUES(2, 9)\n  ON CONFLICT(id) DO UPDATE SET v = excluded.v;")
    assert '"rows_affected":1' in out
    assert q(db, "SELECT v FROM wt WHERE id = 2") == (
        '[{"columns":["v"],"types":["integer"],"values":[[9]]}]'
    )
    out = q(db, "INSERT INTO wt(id, v) VALUES(5, ?)\nRETURNING wt.id, v + ? AS vp", [7, 100])
    assert out == '[{"columns":["id","vp"],"types":["integer","integer"],"values":[[5,107]]}]'


def test_replay_does_not_duplicate_attach(spark, tmp_path):
    import json as _json
    import os

    aux = str(tmp_path / "aux_nd")
    DustSession(spark, warehouse=aux).execute_string_stmt(
        "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY)"
    )
    wh = str(tmp_path / "main_nd")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt(f"ATTACH '{aux}' AS a1")
    db.close()
    jp = os.path.join(wh, "journal.jsonl")
    n0 = sum(1 for ln in open(jp) if ln.strip())
    for _ in range(2):
        DustSession.replay(jp, spark, warehouse=wh).close()
    n1 = sum(1 for ln in open(jp) if ln.strip())
    attaches = [ln for ln in open(jp) if "ATTACH" in ln.upper()]
    assert n1 == n0 and len(attaches) == 1, (n0, n1, attaches)


def test_upsert_in_batch_fresh_key_first_insert_then_update(db):
    """SQLite row-by-row upsert semantics for a key that is NEW to the
    table but appears twice in one batch: the first row INSERTS, the
    second fires DO UPDATE SET — so non-SET columns keep the FIRST row's
    values while SET columns take the later row's (mirrors sqlite3
    behavior for INSERT ... ON CONFLICT DO UPDATE; cf. db/src/db.rs's
    pass-through at :176)."""
    ex(db, "CREATE TABLE ub (id INTEGER NOT NULL PRIMARY KEY, a TEXT, b INT)")
    ex(db, "INSERT INTO ub(id, a, b) VALUES(1, 'x', 1), (1, 'y', 2) "
           "ON CONFLICT(id) DO UPDATE SET b = excluded.b")
    assert q(db, "SELECT id, a, b FROM ub") == (
        '[{"columns":["id","a","b"],"types":["integer","text","integer"],'
        '"values":[[1,"x",2]]}]'
    )
    # three rows: non-SET from first, SET folds to the last row's value
    ex(db, "INSERT INTO ub(id, a, b) VALUES(2, 'p', 1), (2, 'q', 2), (2, 'r', 3) "
           "ON CONFLICT(id) DO UPDATE SET b = excluded.b")
    assert q(db, "SELECT a, b FROM ub WHERE id = 2") == (
        '[{"columns":["a","b"],"types":["text","integer"],"values":[["p",3]]}]'
    )


def test_insert_or_ignore_sqlite_differential(db):
    """INSERT OR IGNORE silently drops rows violating NOT NULL, CHECK
    or uniqueness (broader than DO NOTHING, which is uniqueness-only);
    FK violations still error (SQLite's conflict algorithms do not
    apply to FOREIGN KEY constraints) and skipped rows must not burn
    auto-rowids. Statement-for-statement replay vs in-process sqlite3."""
    import sqlite3

    ref = sqlite3.connect(":memory:")
    ref.execute("PRAGMA foreign_keys = ON")
    db.enable_fk_constraints(True)
    setup = [
        "CREATE TABLE p (id INTEGER NOT NULL PRIMARY KEY)",
        "INSERT INTO p VALUES (1), (2)",
        "CREATE TABLE u (id INTEGER NOT NULL PRIMARY KEY, a INT NOT NULL CHECK(a > 0), "
        "b INT UNIQUE, fk INT REFERENCES p(id))",
    ]
    stmts = [
        "INSERT OR IGNORE INTO u(a, b, fk) VALUES (NULL, 1, 1)",   # NOT NULL
        "INSERT OR IGNORE INTO u(a, b, fk) VALUES (-1, 2, 1)",     # CHECK
        "INSERT OR IGNORE INTO u(a, b, fk) VALUES (5, 3, 9)",      # dangling FK: ERRORS
        "INSERT OR IGNORE INTO u(a, b, fk) VALUES (6, 4, 2)",      # clean -> id 1
        "INSERT OR IGNORE INTO u(a, b, fk) VALUES (7, 4, NULL)",   # UNIQUE b
        "INSERT OR IGNORE INTO u(a, b, fk) VALUES (8, 5, NULL), (9, 5, 1), (10, NULL, 2)",
        "INSERT OR IGNORE INTO u(id, a) VALUES (1, 11)",           # dup PK
    ]
    import sqlite3 as _s3

    for sql in setup:
        ref.execute(sql)
        ex(db, sql)
    for sql in stmts:
        try:
            ref.execute(sql)
            ref_err = None
            n_ref = ref.execute("SELECT changes()").fetchone()[0]
        except _s3.Error as e:
            ref_err, n_ref = str(e), None
        r = db.execute_string_stmt(sql)[0]
        if ref_err is not None:
            assert r.error == ref_err, f"{sql}: engine={r.error!r} sqlite={ref_err!r}"
        else:
            assert r.error == "", f"{sql}: {r.error}"
            assert r.rows_affected == n_ref, f"{sql}: {r.rows_affected} != {n_ref}"
        ref_rows = ref.execute("SELECT id, a, b, fk FROM u ORDER BY id").fetchall()
        eng = db.query_string_stmt("SELECT id, a, b, fk FROM u ORDER BY id")[0]
        assert [tuple(x) for x in eng.values] == ref_rows, sql


def test_generated_columns_sqlite_differential(db):
    """GENERATED ALWAYS AS columns (SQLite 3.31+): computed on every
    write (VIRTUAL ≡ STORED observationally in a copy-on-write engine),
    never insert/update targets, positional inserts bind to the
    non-generated columns, table_info hides them. Replayed vs sqlite3."""
    import sqlite3

    ref = sqlite3.connect(":memory:")
    ddl = (
        "CREATE TABLE g (a INT, b INT GENERATED ALWAYS AS (a*2) VIRTUAL, "
        "c TEXT AS (upper(hex(a))) STORED, d INT)"
    )
    ref.execute(ddl)
    ex(db, ddl)
    stmts = [
        "INSERT INTO g(a, d) VALUES (3, 1)",
        "INSERT INTO g VALUES (4, 2)",       # positional: non-generated only
        "UPDATE g SET a = 5 WHERE d = 1",    # generated recompute
        "DELETE FROM g WHERE d = 2",
    ]
    for sql in stmts:
        ref.execute(sql)
        db.execute_string_stmt(sql)
        ref_rows = ref.execute("SELECT * FROM g ORDER BY d").fetchall()
        eng = db.query_string_stmt("SELECT * FROM g ORDER BY d")[0]
        assert [tuple(x) for x in eng.values] == ref_rows, sql
    for sql in ["INSERT INTO g(a, b) VALUES (1, 9)", "UPDATE g SET b = 1"]:
        try:
            ref.execute(sql)
            ref_err = None
        except sqlite3.Error as e:
            ref_err = str(e)
        got = db.execute_string_stmt(sql)[0].error or None
        assert got == ref_err, f"{sql}: engine={got!r} sqlite={ref_err!r}"
    assert db.query_string_stmt("PRAGMA table_info(g)")[0].values == [
        list(r) for r in ref.execute("PRAGMA table_info(g)").fetchall()
    ]


def test_dml_order_by_limit_sqlite_differential(db):
    """DELETE/UPDATE ... ORDER BY ... LIMIT [OFFSET] (the
    SQLITE_ENABLE_UPDATE_DELETE_LIMIT surface, enabled in the stdlib
    build) plus the likely/unlikely/likelihood hint no-ops — replayed
    statement-for-statement against in-process sqlite3."""
    import sqlite3

    ref = sqlite3.connect(":memory:")
    setup = [
        "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)",
        "INSERT INTO t VALUES (1,10),(2,20),(3,30),(4,40),(5,50),(6,60)",
    ]
    stmts = [
        "DELETE FROM t ORDER BY id DESC LIMIT 2",
        "UPDATE t SET v = v + 1 ORDER BY id LIMIT 1",
        "UPDATE t SET v = 0 WHERE id > 1 ORDER BY id DESC LIMIT 1 OFFSET 1",
        "DELETE FROM t WHERE likely(v >= 0) ORDER BY v LIMIT 1",
        # no ORDER BY: SQLite takes the first rows in rowid order, and a
        # small id inserted last is first in rowid order
        "INSERT INTO t VALUES (0, 5)",
        "UPDATE t SET v = v + 1 LIMIT 1",
        "DELETE FROM t WHERE v > 0 LIMIT 2",
    ]
    for sql in setup:
        ref.execute(sql)
        ex(db, sql)
    for sql in stmts:
        ref.execute(sql)
        n_ref = ref.execute("SELECT changes()").fetchone()[0]
        r = db.execute_string_stmt(sql)[0]
        assert r.error == "", f"{sql}: {r.error}"
        assert r.rows_affected == n_ref, f"{sql}: {r.rows_affected} != {n_ref}"
        ref_rows = ref.execute("SELECT * FROM t ORDER BY id").fetchall()
        eng = db.query_string_stmt("SELECT * FROM t ORDER BY id")[0]
        assert [tuple(x) for x in eng.values] == ref_rows, sql
    out = db.query_string_stmt("SELECT likely(1) AS a, unlikely(0) AS b, likelihood(5, 0.5) AS c")
    assert out[0].values == [[1, 0, 5]]


def test_update_or_ignore_replace_sqlite_differential(db):
    """UPDATE OR IGNORE (violating row-updates revert, don't count) and
    UPDATE OR REPLACE (conflicting rows deleted; only updates counted) —
    statement-for-statement replay vs in-process sqlite3."""
    import sqlite3

    ref = sqlite3.connect(":memory:")
    setup = [
        "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT UNIQUE, w INT CHECK(w < 100))",
        "INSERT INTO t VALUES (1,10,1),(2,20,2),(3,30,3)",
    ]
    stmts = [
        "UPDATE OR IGNORE t SET v = 20 WHERE id = 1",  # UNIQUE clash -> revert
        "UPDATE OR IGNORE t SET w = w + 98",           # CHECK: only id=1 passes
        "UPDATE OR IGNORE t SET v = NULL WHERE id = 2",  # NULL never conflicts
        "UPDATE OR REPLACE t SET v = 30 WHERE id = 1",   # deletes id=3
    ]
    for sql in setup:
        ref.execute(sql)
        ex(db, sql)
    for sql in stmts:
        ref.execute(sql)
        n_ref = ref.execute("SELECT changes()").fetchone()[0]
        r = db.execute_string_stmt(sql)[0]
        assert r.error == "", f"{sql}: {r.error}"
        assert r.rows_affected == n_ref, f"{sql}: {r.rows_affected} != {n_ref}"
        ref_rows = ref.execute("SELECT * FROM t ORDER BY id").fetchall()
        eng = db.query_string_stmt("SELECT * FROM t ORDER BY id")[0]
        assert [tuple(x) for x in eng.values] == ref_rows, sql


@pytest.mark.parametrize(
    "stmts",
    [
        # UPDATE ... FROM takes the conflict clause too: an in-batch and
        # an existing-row key clash
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT UNIQUE)",
            "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')",
            "CREATE TABLE s (id INTEGER PRIMARY KEY, u TEXT)",
            "INSERT INTO s VALUES (1, 'x'), (2, 'x'), (3, 'd')",
            "UPDATE OR IGNORE t SET u = s.u FROM s WHERE t.id = s.id",
        ],
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT UNIQUE)",
            "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')",
            "CREATE TABLE s (id INTEGER PRIMARY KEY, u TEXT)",
            "INSERT INTO s VALUES (1, 'x'), (2, 'y'), (3, 'd')",
            "UPDATE OR REPLACE t SET u = s.u FROM s WHERE t.id = s.id",
        ],
        # OR IGNORE with and without a key that two rows want
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT COLLATE NOCASE UNIQUE, w INT CHECK (w < 9))",
            "INSERT INTO t VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 8)",
            "UPDATE OR IGNORE t SET w = w + 1",
            "UPDATE OR IGNORE t SET u = u || 'x' WHERE id < 3",
            "UPDATE OR IGNORE t SET u = 'C' WHERE id = 1",
            "UPDATE OR IGNORE t SET u = u",
            "UPDATE OR IGNORE t SET u = NULL WHERE id > 1",
            "UPDATE OR IGNORE t SET u = 'q'",
        ],
        # WITHOUT ROWID tables scan in PRIMARY KEY order: LIMIT without
        # ORDER BY, the OR IGNORE winner and the trigger order follow it
        [
            "CREATE TABLE w (k TEXT PRIMARY KEY, v INT, u INT UNIQUE) WITHOUT ROWID",
            "CREATE TABLE log (m TEXT)",
            "CREATE TRIGGER wu AFTER UPDATE ON w BEGIN INSERT INTO log VALUES ('u-' || OLD.k); END",
            "INSERT INTO w VALUES ('m', 1, 1)",
            "INSERT INTO w VALUES ('c', 2, 2), ('x', 3, 3), ('a', 4, 4)",
            "UPDATE w SET v = v + 10 LIMIT 2",
            "UPDATE OR IGNORE w SET u = 99 WHERE v IN (3, 12)",
            "DELETE FROM w WHERE v < 50 LIMIT 1",
        ],
        [
            "CREATE TABLE w (a INT, b TEXT, v INT, PRIMARY KEY (a, b)) WITHOUT ROWID",
            "INSERT INTO w VALUES (2, 'x', 1), (1, 'z', 2), (2, 'a', 3), (1, 'b', 4)",
            "UPDATE w SET v = v + 10 LIMIT 3",
            "DELETE FROM w WHERE v > 0 LIMIT 1",
        ],
        # INSERT under two key sets: SQLite's row loop decides each row
        # against the rows before it, so a row that lost frees its keys
        # (OR IGNORE, DO NOTHING) and a displaced row is gone (REPLACE)
        [
            "CREATE TABLE t (a INT UNIQUE, b INT UNIQUE)",
            "INSERT OR IGNORE INTO t VALUES (1, 1), (2, 1), (2, 2)",
        ],
        [
            "CREATE TABLE t (a INT UNIQUE, b INT UNIQUE)",
            "INSERT OR REPLACE INTO t VALUES (1, 1), (2, 1), (2, 2)",
        ],
        [
            "CREATE TABLE t (a INT UNIQUE, b INT UNIQUE)",
            "INSERT INTO t VALUES (1, 1), (2, 1), (2, 2) ON CONFLICT DO NOTHING",
        ],
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT UNIQUE)",
            "INSERT INTO t VALUES (1, 'a'), (2, 'a'), (2, 'b') ON CONFLICT DO NOTHING",
        ],
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT UNIQUE)",
            "INSERT OR IGNORE INTO t VALUES (1, 'a'), (1, 'b'), (2, 'b')",
        ],
        # the parent row REPLACE displaces takes its foreign-key action
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, e TEXT UNIQUE)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id))",
            "INSERT INTO p VALUES (1, 'a')",
            "INSERT INTO c VALUES (1, 1)",
            "INSERT OR REPLACE INTO p VALUES (9, 'a')",
            "INSERT OR REPLACE INTO p VALUES (1, 'z')",
        ],
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, e TEXT UNIQUE)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE CASCADE)",
            "INSERT INTO p VALUES (1, 'a')",
            "INSERT INTO c VALUES (1, 1)",
            "INSERT OR REPLACE INTO p VALUES (9, 'a')",
        ],
        # REPLACE deletes before it inserts: a key it puts back still
        # takes the ON DELETE actions of the row it displaced
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, e TEXT UNIQUE)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE CASCADE)",
            "CREATE TABLE d (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE SET NULL)",
            "INSERT INTO p VALUES (1, 'a'), (2, 'b')",
            "INSERT INTO c VALUES (1, 1), (2, 2)",
            "INSERT INTO d VALUES (1, 1), (2, 2)",
            "INSERT OR REPLACE INTO p VALUES (1, 'z'), (5, 'y')",
            "INSERT OR REPLACE INTO p VALUES (3, 'b')",
        ],
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, e TEXT UNIQUE, up INT REFERENCES p(id) ON DELETE CASCADE)",
            "INSERT INTO p VALUES (1, 'a', NULL), (2, 'b', 1), (3, 'c', 2)",
            "INSERT OR REPLACE INTO p VALUES (1, 'z', NULL)",
        ],
        # an auto id is max(rowid)+1 when its row lands, so a later
        # explicit id of the batch may meet it
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)",
            "INSERT OR IGNORE INTO t VALUES (NULL, 'a'), (1, 'b')",
        ],
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)",
            "INSERT INTO t VALUES (NULL, 'a'), (1, 'b') ON CONFLICT DO NOTHING",
        ],
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)",
            "INSERT INTO t VALUES (NULL, 'a'), (1, 'b') ON CONFLICT(id) DO UPDATE SET v = excluded.v",
        ],
        # an arm that moves a key: a later row meets the moved row
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)",
            "INSERT INTO t VALUES (1, 'a')",
            "INSERT INTO t VALUES (1, 'x'), (5, 'y') ON CONFLICT(id) DO UPDATE SET id = 5, v = excluded.v",
        ],
        # a foreign-key action is a statement on the child: it frees the
        # child's rowids, and takes its constraints and generated columns
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE CASCADE)",
            "INSERT INTO p(id) VALUES (1), (2)",
            "INSERT INTO c VALUES (10, 1), (11, 2)",
            "DELETE FROM p WHERE id = 2",
            "INSERT INTO c(pid) VALUES (1)",
        ],
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE SET NULL, "
            "CHECK (pid IS NOT NULL OR id > 100))",
            "INSERT INTO p(id) VALUES (1), (2)",
            "INSERT INTO c VALUES (1, 1), (101, 2)",
            "DELETE FROM p WHERE id = 1",
            "DELETE FROM p WHERE id = 2",
        ],
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT UNIQUE DEFAULT 5 REFERENCES p(id) ON DELETE SET DEFAULT)",
            "INSERT INTO p(id) VALUES (1), (2), (5)",
            "INSERT INTO c VALUES (1, 1), (2, 2)",
            "DELETE FROM p WHERE id IN (1, 2)",
            "DELETE FROM p WHERE id = 1",
        ],
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT CHECK (pid < 50) REFERENCES p(id) ON UPDATE CASCADE)",
            "INSERT INTO p(id) VALUES (1)",
            "INSERT INTO c VALUES (1, 1)",
            "UPDATE p SET id = 60",
            "UPDATE p SET id = 40",
        ],
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE SET NULL, "
            "g INT AS (coalesce(pid, -1) * 10))",
            "INSERT INTO p(id) VALUES (1)",
            "INSERT INTO c(id, pid) VALUES (1, 1)",
            "DELETE FROM p WHERE id = 1",
        ],
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON UPDATE CASCADE, "
            "g INT AS (pid * 10) STORED)",
            "INSERT INTO p(id) VALUES (1)",
            "INSERT INTO c(id, pid) VALUES (1, 1)",
            "UPDATE p SET id = 3",
        ],
        # an upsert whose DO UPDATE moves a parent key takes ON UPDATE
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v TEXT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON UPDATE CASCADE ON DELETE CASCADE)",
            "INSERT INTO p VALUES (1, 'a')",
            "INSERT INTO c VALUES (1, 1)",
            "INSERT INTO p VALUES (1, 'x') ON CONFLICT(id) DO UPDATE SET id = 7",
        ],
        # a child row a cascaded DELETE trigger keeps by RAISE(IGNORE)
        # still points at the deleted parent: the statement fails whole
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE CASCADE)",
            "CREATE TRIGGER ci BEFORE DELETE ON c WHEN OLD.id = 2 BEGIN SELECT RAISE(IGNORE); END",
            "INSERT INTO p(id) VALUES (1), (2)",
            "INSERT INTO c VALUES (1, 1), (2, 1), (3, 2)",
            "DELETE FROM p WHERE id = 1",
            "DELETE FROM p WHERE id = 2",
        ],
        # the rows UPDATE OR REPLACE deletes take their ON DELETE actions
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, u INT UNIQUE)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE CASCADE)",
            "INSERT INTO p VALUES (1, 1), (2, 2), (3, 3)",
            "INSERT INTO c VALUES (1, 1), (2, 2), (3, 3)",
            "UPDATE OR REPLACE p SET u = 2 WHERE id = 1",
        ],
        # a row's own constraints fail before its actions run
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT UNIQUE DEFAULT 1 REFERENCES p(id) ON UPDATE SET DEFAULT, "
            "tag TEXT, CHECK (pid <> 1 OR tag IS NULL))",
            "INSERT INTO p(id) VALUES (1), (2)",
            "INSERT INTO c VALUES (1, 2, 't')",
            "UPDATE p SET id = 1 WHERE id = 2",
            "UPDATE p SET id = 3 WHERE id = 2",
        ],
        # a parent key under a UNIQUE index: an UPDATE of another column
        # leaves the child alone, a key UPDATE and a DELETE act on it
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, code TEXT)",
            "CREATE UNIQUE INDEX pc ON p(code)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pcode TEXT REFERENCES p(code) ON DELETE CASCADE ON UPDATE CASCADE)",
            "INSERT INTO p VALUES (1, 'a'), (2, 'b')",
            "INSERT INTO c VALUES (1, 'a'), (2, 'b')",
            "UPDATE p SET id = 5 WHERE id = 1",
            "UPDATE p SET code = 'z' WHERE id = 2",
            "DELETE FROM p WHERE id = 5",
            "INSERT INTO c VALUES (3, 'q')",
        ],
        # key names in another case than the parent's columns
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (Id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, PID INT, "
            "FOREIGN KEY (pid) REFERENCES p(ID) ON UPDATE CASCADE ON DELETE SET NULL)",
            "INSERT INTO p(id) VALUES (1), (2)",
            "INSERT INTO c VALUES (1, 1), (2, 2)",
            "UPDATE p SET ID = 9 WHERE id = 1",
            "DELETE FROM p WHERE iD = 2",
        ],
        # SQLite runs a row's actions before it checks the next row
        [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT NOT NULL)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT DEFAULT 9 REFERENCES p(id) ON UPDATE SET DEFAULT, "
            "tag TEXT, CHECK (pid <> 9 OR tag IS NULL))",
            "INSERT INTO p VALUES (1, 0), (2, 0), (9, 0)",
            "INSERT INTO c VALUES (1, 1, 't'), (2, 2, NULL)",
            "INSERT INTO p VALUES (1, 7), (3, NULL) ON CONFLICT(id) DO UPDATE SET id = excluded.id + 3",
            "INSERT INTO p VALUES (3, NULL), (1, 7) ON CONFLICT(id) DO UPDATE SET id = excluded.id + 3",
            "INSERT INTO p VALUES (1, 7), (4, NULL) ON CONFLICT(id) DO UPDATE SET id = excluded.id + 3",
            "UPDATE p SET id = id + 10, v = CASE id WHEN 2 THEN NULL ELSE v END WHERE id < 9",
            "UPDATE p SET id = id + 10, v = CASE id WHEN 1 THEN NULL ELSE v END WHERE id < 9",
            "UPDATE p SET id = id + 10, v = CASE id WHEN 9 THEN NULL ELSE v END WHERE id IN (2, 9)",
            "UPDATE p SET id = id + 10 WHERE id = 2",
        ],
    ],
    ids=[
        "or-ignore-from", "or-replace-from", "or-ignore-keys", "without-rowid-scan", "without-rowid-pk2",
        "insert-ignore-two-sets", "insert-replace-two-sets", "do-nothing-two-sets", "do-nothing-pk-unique",
        "insert-ignore-pk-unique", "replace-parent-no-action", "replace-parent-cascade",
        "replace-same-key-actions", "replace-same-key-self-cascade",
        "ignore-auto-then-id", "do-nothing-auto-then-id", "do-update-auto-then-id", "do-update-moves-key",
        "fk-cascade-delete-high-water", "fk-set-null-check", "fk-set-default-unique", "fk-cascade-update-check",
        "fk-set-null-generated", "fk-cascade-update-generated", "upsert-moves-parent-key", "fk-cascade-child-ignore",
        "update-or-replace-parent", "fk-own-unique-first", "fk-unique-index-parent", "fk-mixed-case-key",
        "fk-action-before-later-row",
    ],
)
def test_row_change_order_sqlite_differential(db, stmts):
    """Statement-for-statement replay vs sqlite3: error text and
    changes() after each statement, then every table (``log`` in
    insertion order)."""
    import sqlite3

    ref = sqlite3.connect(":memory:")
    ref.isolation_level = None
    try:
        for sql in stmts:
            try:
                ref.execute(sql)
                want = ""
            except sqlite3.Error as e:
                want = str(e)
            r = db.execute_string_stmt(sql)[0]
            assert r.error == want, sql
            if not want and sql.split()[0] in ("INSERT", "UPDATE", "DELETE"):
                assert (r.rows_affected or 0) == ref.execute("SELECT changes()").fetchone()[0], sql
        for (name,) in ref.execute("SELECT name FROM sqlite_master WHERE type = 'table'"):
            q = f"SELECT * FROM {name} ORDER BY {'rowid' if name == 'log' else '1, 2'}"
            assert db.query_string_stmt(q)[0].values == [list(r) for r in ref.execute(q)], name
    finally:
        ref.close()


def test_upsert_do_update_where(db):
    """SQLite's conditional `DO UPDATE SET ... WHERE pred`: the
    predicate gates each conflicting row — WHERE false leaves the row
    untouched and does not count toward rows_affected (probed against
    in-process sqlite3: changes() stays 0)."""
    ex(db, "CREATE TABLE uw (id INTEGER NOT NULL PRIMARY KEY, v INT)")
    ex(db, "INSERT INTO uw(id, v) VALUES(1, 10), (2, 20)")
    # target row v=10 < 15 → update fires
    assert ex(db, "INSERT INTO uw(id, v) VALUES(1, 99) "
                  "ON CONFLICT(id) DO UPDATE SET v = excluded.v WHERE v < 15") == (
        '[{"last_insert_id":2,"rows_affected":1}]'
    )
    # target row v=20 → predicate false → untouched, changes 0
    # (zero rows_affected is omitted from the wire JSON, as elsewhere)
    assert ex(db, "INSERT INTO uw(id, v) VALUES(2, 99) "
                  "ON CONFLICT(id) DO UPDATE SET v = excluded.v WHERE v < 15") == (
        '[{"last_insert_id":2}]'
    )
    assert q(db, "SELECT * FROM uw ORDER BY id") == (
        '[{"columns":["id","v"],"types":["integer","integer"],"values":[[1,99],[2,20]]}]'
    )
    # predicate mixing excluded.* and table-qualified target columns
    ex(db, "INSERT INTO uw(id, v) VALUES(1, 5) "
           "ON CONFLICT(id) DO UPDATE SET v = excluded.v WHERE excluded.v < uw.v")
    assert q(db, "SELECT v FROM uw WHERE id = 1") == (
        '[{"columns":["v"],"types":["integer"],"values":[[5]]}]'
    )
    ex(db, "CREATE TABLE uw2 (id INTEGER NOT NULL PRIMARY KEY, t TEXT)")
    ex(db, "INSERT INTO uw2(id, t) VALUES(1, 'a'), (1, 'WHERE x') "
           "ON CONFLICT(id) DO UPDATE SET t = excluded.t")
    assert q(db, "SELECT t FROM uw2") == (
        '[{"columns":["t"],"types":["text"],"values":[["WHERE x"]]}]'
    )


def test_attach_prefix_alias_routing(spark, tmp_path, db):
    """One alias a prefix of another (a, a_b): tables must route to the
    catalog with the LONGEST matching prefix, and double-quoted segments
    must survive name rewriting untouched."""
    wh_a = str(tmp_path / "wh_a")
    wh_ab = str(tmp_path / "wh_ab")
    for wh, val in ((wh_a, 1), (wh_ab, 2)):
        src = DustSession(spark, warehouse=wh)
        src.execute_string_stmt("CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)")
        src.execute_string_stmt(f"INSERT INTO t(id, v) VALUES(1, {val})")
        src.close()
    ex(db, f"ATTACH '{wh_a}' AS a")
    ex(db, f"ATTACH '{wh_ab}' AS a_b")
    assert q(db, "SELECT v FROM a.t") == (
        '[{"columns":["v"],"types":["integer"],"values":[[1]]}]'
    )
    assert q(db, "SELECT v FROM a_b.t") == (
        '[{"columns":["v"],"types":["integer"],"values":[[2]]}]'
    )
    # writes land in the right catalog (longest prefix, not dict order)
    ex(db, "INSERT INTO a_b.t(id, v) VALUES(9, 9)")
    assert '"values":[[2]]' in q(db, "SELECT count(*) AS n FROM a_b.t")
    assert '"values":[[1]]' in q(db, "SELECT count(*) AS n FROM a.t")
    # a double-quoted string containing 'a.t' is data, not a name
    out = q(db, "SELECT 'a.t' AS s FROM a.t")
    assert '"values":[["a.t"]]' in out


# -- constraint-pass precedence and skip rules (sqlite3-differential) -------

_FK_ORPHAN = [
    "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
    "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INTEGER REFERENCES p(id), w INT)",
    "INSERT INTO p VALUES (1, 1)",
    "INSERT INTO c VALUES (1, 99, 1)",  # an orphan, admitted while FKs are off
    "PRAGMA foreign_keys=ON",
]


@pytest.mark.parametrize(
    "stmts",
    [
        # NOT NULL in column declaration order, not name order
        ["CREATE TABLE t (b INT NOT NULL, a INT NOT NULL)", "INSERT INTO t VALUES (NULL, NULL)"],
        # the first failing row wins, whichever constraint it fails
        [
            "CREATE TABLE t (a TEXT CHECK (a <> 'z'), b INT CHECK (b > 0))",
            "INSERT INTO t VALUES ('x', -1), ('z', 5)",
        ],
        [
            "CREATE TABLE t (a TEXT NOT NULL, b INT CHECK (b > 0))",
            "INSERT INTO t VALUES ('x', -1), (NULL, 5)",
        ],
        [
            "CREATE TABLE t (a TEXT UNIQUE, b INT NOT NULL)",
            "INSERT INTO t VALUES ('x', 1)",
            "INSERT INTO t VALUES ('x', 1), ('y', NULL)",
        ],
        # UNIQUE sets run in reverse declaration order
        [
            "CREATE TABLE t (a INT UNIQUE, b INT UNIQUE)",
            "INSERT INTO t VALUES (1, 1)",
            "INSERT INTO t VALUES (1, 1)",
        ],
        [
            "CREATE TABLE t (b INT UNIQUE, a INT UNIQUE)",
            "INSERT INTO t VALUES (1, 1)",
            "INSERT INTO t VALUES (1, 1)",
        ],
        [
            "CREATE TABLE t (a INT UNIQUE, b INT UNIQUE, c INT UNIQUE)",
            "INSERT INTO t VALUES (1, 1, 1)",
            "INSERT INTO t VALUES (1, 1, 1)",
        ],
        # an UPDATE checks only what it assigns: a pre-existing orphan
        # does not fail updates of non-key columns on either side
        _FK_ORPHAN + ["UPDATE p SET v = 2", "UPDATE c SET w = 2", "UPDATE c SET pid = pid"],
        # a one-row key UPDATE that leaves a live child behind but gives
        # the orphan its parent passes (SQLite's statement counter); with
        # no orphan to offset it, the live child fails it
        _FK_ORPHAN + ["INSERT INTO c VALUES (2, 1, 1)", "UPDATE p SET id = 99 WHERE id = 1"],
        _FK_ORPHAN + ["INSERT INTO c VALUES (2, 1, 1)", "UPDATE p SET id = 98 WHERE id = 1"],
        # two DO UPDATE arms may not write the same UNIQUE key, nor the
        # same rowid
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, a TEXT UNIQUE)",
            "INSERT INTO t VALUES (1, 'x'), (2, 'y')",
            "INSERT INTO t VALUES (1, 'q'), (2, 'q') ON CONFLICT(id) DO UPDATE SET a = 'z'",
            "INSERT INTO t VALUES (1, 'q'), (2, 'q') ON CONFLICT(id) DO UPDATE SET id = 5",
            "INSERT INTO t VALUES (1, 'q'), (2, 'q') ON CONFLICT(id) DO UPDATE SET a = 'z' || id",
        ],
        # NOT NULL inside a CHECK body is the CHECK's
        ["CREATE TABLE c (a TEXT CHECK (a IS NOT NULL))", "INSERT INTO c VALUES (NULL)"],
        # UPDATE OR IGNORE decides row by row in rowid order, not frame
        # order: the first claimant of a key keeps it
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT UNIQUE)",
            "INSERT INTO t VALUES (5, 'a')",
            "INSERT INTO t VALUES (1, 'b'), (3, 'c')",
            "UPDATE OR IGNORE t SET u = 'z' WHERE id IN (1, 5)",
        ],
        # ... and a key is held until its row has moved: a shift up is
        # blocked by the rows still ahead of it, a shift down is not,
        # and a row failing CHECK stays and blocks the next
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT CHECK (v < 9))",
            "INSERT INTO t VALUES (1, 8), (2, 2), (3, 3), (5, 5)",
            "UPDATE OR IGNORE t SET id = id + 1",
            "UPDATE OR IGNORE t SET id = id - 1, v = v + 1",
        ],
        # an upsert row is checked for NOT NULL and CHECK before its
        # conflict is looked for; an earlier row's own failure wins
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, a TEXT NOT NULL UNIQUE, lo INT, hi INT, CHECK (lo <= hi))",
            "INSERT INTO t VALUES (1, 'x', 0, 1)",
            "INSERT INTO t VALUES (1, NULL, 0, 1) ON CONFLICT(id) DO UPDATE SET lo = 0",
            "INSERT INTO t VALUES (1, 'y', 2, 0) ON CONFLICT(id) DO NOTHING",
            "INSERT INTO t VALUES (7, 'x', 0, 0), (1, 'y', 2, 0) ON CONFLICT(id) DO UPDATE SET lo = 0",
        ],
    ],
    ids=["nn-decl-order", "first-row-check", "check-before-later-nn", "unique-before-nn", "unique-ab", "unique-ba",
         "unique-abc", "fk-orphan-untouched", "fk-orphan-offset", "fk-live-child",
         "upsert-two-updates", "check-is-not-null", "or-ignore-scan-order", "or-ignore-key-chain",
         "upsert-proposed-row"],
)
def test_constraint_precedence_sqlite_differential(db, stmts):
    import sqlite3

    ref = sqlite3.connect(":memory:")
    ref.isolation_level = None
    try:
        for sql in stmts:
            try:
                ref.execute(sql)
                want = ""
            except sqlite3.Error as e:
                want = str(e)
            assert db.execute_string_stmt(sql)[0].error == want, sql
        for (name,) in ref.execute("SELECT name FROM sqlite_master WHERE type = 'table'"):
            want = sorted(map(list, ref.execute(f"SELECT * FROM {name}")), key=repr)
            have = sorted(db.query_string_stmt(f"SELECT * FROM {name}")[0].values, key=repr)
            assert have == want, name
    finally:
        ref.close()


def test_constraint_pass_job_budget(spark, tmp_path):
    """Guards the one-action constraint pass: a keyed single-row INSERT
    into ``txn`` and an ``UPDATE acct SET balance ...`` on the benchmark's
    oltp_durable schema (disk warehouse, FK on) stay within the Spark
    job counts measured when the pass landed (6 and 4 in the benchmark).
    Before it, with one ``limit(1).count()`` action per constraint, they
    took 14 and 20 jobs. A keyed DELETE from ``txn`` takes 4, its count
    in the benchmark. A keyed upsert finds its first failing proposed
    row (NOT NULL, CHECK) in the action that looks for in-batch key
    groups; DO NOTHING has no such action and spends one more. An
    UPDATE OR IGNORE that assigns no key column resolves without
    collecting rows. The OR IGNORE, OR REPLACE and targetless DO NOTHING
    bounds, and that of a two-row DO UPDATE assigning its target key
    without moving it, are their counts before the INSERT family shared
    one path (a single-row batch has no in-batch key group to look
    for)."""
    db = DustSession(spark, warehouse=str(tmp_path / "wh"))
    sc = spark.sparkContext
    try:
        for sql in [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE acct (id INTEGER PRIMARY KEY, email TEXT NOT NULL UNIQUE, "
            "balance REAL NOT NULL CHECK(balance>=0), note TEXT)",
            "CREATE TABLE txn (id INTEGER PRIMARY KEY, acct_id INTEGER NOT NULL "
            "REFERENCES acct(id), amount REAL NOT NULL)",
            "INSERT INTO acct(email, balance, note) VALUES ('a@x', 1.5, NULL), ('b@x', 2.5, 'k')",
            "INSERT INTO txn(acct_id, amount) VALUES (1, 3.0), (2, 4.0)",
        ]:
            assert db.execute_string_stmt(sql)[0].error == ""

        def jobs(tag: str, sql: str) -> int:
            sc.setJobGroup(tag, tag, False)
            try:
                assert db.execute_string_stmt(sql)[0].error == ""
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(tag))

        tag = uuid.uuid4().hex
        assert jobs(f"ins-{tag}", "INSERT INTO txn(acct_id, amount) VALUES (2, 5.0)") <= 6
        assert jobs(f"upd-{tag}", "UPDATE acct SET balance = balance + 1.0, note = 'n' WHERE id = 1") <= 4
        assert jobs(f"del-{tag}", "DELETE FROM txn WHERE id = 1") <= 4
        ups = "INSERT INTO acct(id, email, balance) VALUES (1, 'a@x', 9.0) ON CONFLICT(id) DO "
        assert jobs(f"upu-{tag}", ups + "UPDATE SET balance = excluded.balance") <= 32
        assert jobs(f"upn-{tag}", ups + "NOTHING") <= 17
        assert jobs(f"ign-{tag}", "UPDATE OR IGNORE acct SET note = 'q' WHERE id = 2") <= 4
        assert jobs(f"ori-{tag}", "INSERT OR IGNORE INTO acct(email, balance) VALUES ('c@x', 1.0)") <= 14
        assert jobs(f"orr-{tag}", "INSERT OR REPLACE INTO acct(id, email, balance) VALUES (4, 'd@x', 3.0)") <= 15
        dn = "INSERT INTO acct(email, balance) VALUES ('zz@x', 9.0) ON CONFLICT DO NOTHING"
        assert jobs(f"dn-{tag}", dn) <= 33
        two = "INSERT INTO acct(id, email, balance) VALUES (1, 'a@x', 7.0), (2, 'b@x', 8.0) ON CONFLICT(id) DO "
        assert jobs(f"upk-{tag}", two + "UPDATE SET id = excluded.id, balance = excluded.balance") <= 32
    finally:
        db.close()


def test_fk_action_counters_and_returning_sqlite_differential(db):
    """An FK action is a statement on the child: changes() and
    last_insert_rowid() stay the parent statement's while
    total_changes() counts the action's rows (none when a later action
    fails the statement), and RETURNING reports only the parent's rows —
    each as in sqlite3."""
    import sqlite3

    ref = sqlite3.connect(":memory:")
    ref.isolation_level = None
    counters = "SELECT changes(), total_changes(), last_insert_rowid()"
    try:
        for sql in [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE c (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE CASCADE ON UPDATE CASCADE)",
            "CREATE TABLE n (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE SET NULL ON UPDATE SET NULL)",
            "INSERT INTO p VALUES (1, 1), (2, 2), (3, 3)",
            "INSERT INTO c VALUES (1, 1), (2, 1), (3, 2), (4, 3)",
            "INSERT INTO n VALUES (7, 1), (8, 2)",
            "CREATE TABLE z (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE SET NULL, CHECK (pid IS NOT NULL))",
            "INSERT INTO z VALUES (1, 3)",
            "DELETE FROM p WHERE id = 1",
            "UPDATE p SET id = 5 WHERE id = 2",
            # c's cascade runs, then z's SET NULL fails its CHECK
            "DELETE FROM p WHERE id = 3",
            "DELETE FROM z",
        ]:
            try:
                ref.execute(sql)
                want = ""
            except sqlite3.Error as e:
                want = str(e)
            assert db.execute_string_stmt(sql)[0].error == want, sql
            got, ref_counters = db.query_string_stmt(counters)[0].values[0], list(ref.execute(counters).fetchone())
            # sqlite3 resets changes() after a failed statement, which this
            # engine does not yet do; the other counters must agree
            assert got[bool(want):] == ref_counters[bool(want):], sql
        ret = "DELETE FROM p WHERE id > 2 RETURNING id, v"
        assert sorted(db.query_string_stmt(ret)[0].values) == sorted(map(list, ref.execute(ret).fetchall()))
        for t in ("p", "c", "n", "z"):
            q = f"SELECT * FROM {t} ORDER BY id"
            assert db.query_string_stmt(q)[0].values == [list(r) for r in ref.execute(q)], t
    finally:
        ref.close()


def test_fk_action_job_budget(spark, tmp_path):
    """Spark jobs of statements on a parent whose children carry FK
    actions (disk warehouse, FK on), bounded by their counts when each
    action kind had its own hand-copied block with one probe job per
    child: a DELETE that removes a key no child holds 17, one that
    cascades a child and nulls another 22, a SET NULL-only one 21, and a
    one-row key UPDATE that cascades 18. One job now finds the children
    with rows to change, and each action runs the row-change tail. An
    UPDATE that assigns no referenced key runs no ON UPDATE action, as
    in SQLite, so it costs what an UPDATE of a parent without action
    children does: 4 (6 when every child was probed)."""
    db = DustSession(spark, warehouse=str(tmp_path / "wh"))
    sc = spark.sparkContext
    try:
        for sql in [
            "PRAGMA foreign_keys=ON",
            "CREATE TABLE p (id INTEGER PRIMARY KEY, v TEXT)",
            "CREATE TABLE kc (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE CASCADE ON UPDATE CASCADE)",
            "CREATE TABLE kn (id INTEGER PRIMARY KEY, pid INT REFERENCES p(id) ON DELETE SET NULL)",
            "INSERT INTO p VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e')",
            "INSERT INTO kc VALUES (1, 1), (2, 2), (3, 5)",
            "INSERT INTO kn VALUES (1, 1), (2, 3), (3, 5)",
            "CREATE TABLE t (id INTEGER PRIMARY KEY, up INT REFERENCES t(id) ON DELETE CASCADE)",
            "INSERT INTO t VALUES (1, NULL), (2, 1), (3, 2), (4, NULL)",
        ]:
            assert db.execute_string_stmt(sql)[0].error == ""

        def versions() -> dict:
            return {t: db.catalog.tables[t].version for t in ("p", "kc", "kn", "t")}

        def jobs(tag: str, sql: str) -> int:
            sc.setJobGroup(tag, tag, False)
            try:
                assert db.execute_string_stmt(sql)[0].error == ""
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(tag))

        tag = uuid.uuid4().hex
        assert jobs(f"upv-{tag}", "UPDATE p SET v = 'z' WHERE id = 4") <= 4
        before = versions()
        assert jobs(f"del0-{tag}", "DELETE FROM p WHERE id = 4") <= 17
        # a child no action changes keeps its table version
        assert versions() == dict(before, p=before["p"] + 1)
        assert jobs(f"del2-{tag}", "DELETE FROM p WHERE id = 1") <= 22
        assert jobs(f"deln-{tag}", "DELETE FROM p WHERE id = 3") <= 21
        assert jobs(f"upk-{tag}", "UPDATE p SET id = 20 WHERE id = 2") <= 18
        # a self-referencing cascade acts on the statement's post-image,
        # and the table is written once
        before = versions()
        assert db.execute_string_stmt("DELETE FROM t WHERE id = 1")[0].error == ""
        assert versions() == dict(before, t=before["t"] + 1)
        want = {
            "p": [[5, "e"], [20, "b"]],
            "kc": [[2, 20], [3, 5]],
            "kn": [[1, None], [2, None], [3, 5]],
            "t": [[4, None]],
        }
        for t, rows in want.items():
            assert db.query_string_stmt(f"SELECT * FROM {t} ORDER BY id")[0].values == rows, t
    finally:
        db.close()
