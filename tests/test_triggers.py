"""CREATE TRIGGER — sqlite3-differential (r7; closes the documented
exclusion from rounds 1–6).  The reference delegates its whole SQL
surface to SQLite (db/src/db.rs:176,278), so sqlite3's own behavior is
the oracle: firing order (REVERSE creation — probed), per-row bodies in
statement order, WHEN clauses, UPDATE OF column lists, NEW./OLD.
references incl. rowid, RAISE(ABORT) statement atomicity, DROP TABLE
cascade, sqlite_master rows, total_changes accounting, and disk-mode
persistence of the trigger catalog.

RAISE(IGNORE) (r7): per-row abandon — skips the row change on the
plain INSERT/UPDATE/DELETE and INSTEAD OF paths (probed: ignored
inserts don't consume auto rowids, ignored updates/deletes don't count
in changes(), the row's AFTER triggers never fire, earlier side
effects are kept, nested IGNORE only abandons the inner statement's
row).  Documented scope limits (COVERAGE.md): on the exotic replays
(upsert conflict arms, REPLACE displaced rows, FK-action child
triggers, LIMIT-ed DML) IGNORE abandons the row's remaining trigger
programs but the set-based data change still applies; a multi-row
statement with BOTH timings and a may-IGNORE BEFORE trigger logs
B1..Bn,A1..An where SQLite interleaves B1,A1,B2,…; a trigger body that
READS its own table during a multi-row statement sees the
batch-applied state (SQLite interleaves row-at-a-time) — single-row
statements match exactly.
"""

from __future__ import annotations

import sqlite3

import pytest

from tests import _budget

from dust_spark import DustSession
from dust_spark.session import DustError


@pytest.fixture()
def pair(spark):
    db = DustSession(spark)
    ref = sqlite3.connect(":memory:")
    yield db, ref
    db.close()
    ref.close()


def run_both(db, ref, *stmts):
    for s in stmts:
        ref.execute(s)
        db.execute_string_stmt(s)


def q_both(db, ref, sql):
    want = [list(r) for r in ref.execute(sql).fetchall()]
    got = [list(r) for r in db.query_string_stmt(sql)[0].values]
    assert got == want, (sql, got, want)


def test_trigger_audit_trail_differential(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER, s TEXT)",
        "CREATE TABLE audit (op TEXT, rid INTEGER, oldv INTEGER, newv INTEGER)",
        "CREATE TRIGGER t_ai AFTER INSERT ON t BEGIN "
        "INSERT INTO audit VALUES ('I', NEW.id, NULL, NEW.v); END",
        "CREATE TRIGGER t_au AFTER UPDATE OF v ON t WHEN OLD.v <> NEW.v BEGIN "
        "INSERT INTO audit VALUES ('U', NEW.id, OLD.v, NEW.v); END",
        "CREATE TRIGGER t_ad BEFORE DELETE ON t BEGIN "
        "INSERT INTO audit VALUES ('D', OLD.id, OLD.v, NULL); END",
        "INSERT INTO t(v, s) VALUES (10, 'a'), (20, 'b'), (30, 'c')",
        "UPDATE t SET v = v + 1 WHERE v >= 20",
        "UPDATE t SET s = 'zz' WHERE id = 1",  # OF v: must not fire
        "UPDATE t SET v = v WHERE id = 1",  # WHEN OLD<>NEW: must not fire
        "DELETE FROM t WHERE id = 2",
    )
    q_both(db, ref, "SELECT op, rid, oldv, newv FROM audit ORDER BY rowid")
    q_both(db, ref, "SELECT id, v, s FROM t ORDER BY id")
    q_both(db, ref, "SELECT name, tbl_name FROM sqlite_master WHERE type='trigger' ORDER BY name")


def test_trigger_firing_order_reverse_creation(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (a INTEGER)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER z1 AFTER INSERT ON t BEGIN INSERT INTO log VALUES ('z1'); END",
        "CREATE TRIGGER a1 AFTER INSERT ON t BEGIN INSERT INTO log VALUES ('a1'); END",
        "INSERT INTO t VALUES (9), (10)",
    )
    # probed: a1 fires first (reverse creation), per row
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")


def test_trigger_raise_abort_statement_atomicity(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "CREATE TABLE side (x INTEGER)",
        "CREATE TRIGGER guard BEFORE INSERT ON t WHEN NEW.v < 0 BEGIN "
        "INSERT INTO side VALUES (NEW.v); "
        "SELECT RAISE(ABORT, 'negative v'); END",
        "INSERT INTO t(v) VALUES (5)",
    )
    with pytest.raises(sqlite3.IntegrityError, match="negative v"):
        ref.execute("INSERT INTO t(v) VALUES (1), (-2), (3)")
    rs = db.execute_string_stmt("INSERT INTO t(v) VALUES (1), (-2), (3)")
    assert rs[0].error == "negative v"
    # the aborted statement left NOTHING behind — not even the side
    # insert its own body staged before raising
    q_both(db, ref, "SELECT count(*) FROM t")
    q_both(db, ref, "SELECT count(*) FROM side")


def test_trigger_new_old_reference_errors(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (a INTEGER)",
        # both accepted at CREATE time (SQLite validates lazily, probed)
        "CREATE TRIGGER bad AFTER INSERT ON t BEGIN SELECT NEW.nope; END",
    )
    with pytest.raises(sqlite3.OperationalError, match="no such column: NEW.nope"):
        ref.execute("INSERT INTO t VALUES (1)")
    rs = db.execute_string_stmt("INSERT INTO t VALUES (1)")
    assert rs[0].error == "no such column: NEW.nope"
    run_both(db, ref, "DROP TRIGGER bad",
             "CREATE TRIGGER bad2 AFTER DELETE ON t BEGIN SELECT NEW.a; END",
             "INSERT INTO t VALUES (1)")
    with pytest.raises(sqlite3.OperationalError, match="no such column: NEW.a"):
        ref.execute("DELETE FROM t")
    rs = db.execute_string_stmt("DELETE FROM t")
    assert rs[0].error == "no such column: NEW.a"


def test_trigger_rowid_refs_on_implicit_table(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (v TEXT)",  # implicit rowid
        "CREATE TABLE log (rid INTEGER, v TEXT)",
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN "
        "INSERT INTO log VALUES (NEW.rowid, NEW.v); END",
        "INSERT INTO t VALUES ('x'), ('y')",
        "INSERT INTO t VALUES ('z')",
    )
    q_both(db, ref, "SELECT rid, v FROM log ORDER BY rid")


def test_trigger_ddl_errors_differential(pair):
    db, ref = pair
    run_both(db, ref, "CREATE TABLE t (a INTEGER)",
             "CREATE VIEW vw AS SELECT * FROM t",
             "CREATE TRIGGER tr AFTER INSERT ON t BEGIN SELECT 1; END")
    cases = [
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN SELECT 1; END",
        "CREATE TRIGGER t2 AFTER INSERT ON missing BEGIN SELECT 1; END",
        "CREATE TRIGGER t3 AFTER INSERT ON vw BEGIN SELECT 1; END",
        "CREATE TRIGGER t4 INSTEAD OF INSERT ON t BEGIN SELECT 1; END",
        "DROP TRIGGER missing_trig",
    ]
    for sql in cases:
        try:
            ref.execute(sql)
            want = None
        except Exception as e:  # noqa: BLE001
            want = str(e)
        try:
            db.execute_string_stmt(sql)
            # execute_string_stmt surfaces errors in the response
            got_resp = db.execute_string_stmt("SELECT 1") and None
        except DustError as e:
            got_resp = str(e)
        rs = db.execute_string_stmt(sql)
        got = rs[0].error
        assert got == want, (sql, got, want)
    # IF NOT EXISTS duplicate is a no-op in both
    run_both(db, ref, "CREATE TRIGGER IF NOT EXISTS tr AFTER INSERT ON t BEGIN SELECT 2; END")
    # DROP TRIGGER IF EXISTS missing is fine
    run_both(db, ref, "DROP TRIGGER IF EXISTS missing_trig")


def test_drop_table_cascades_triggers(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (a INTEGER)",
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN SELECT 1; END",
        "DROP TABLE t",
    )
    q_both(db, ref, "SELECT count(*) FROM sqlite_master WHERE type='trigger'")
    # recreating the table does NOT resurrect the trigger; the name is free
    run_both(db, ref, "CREATE TABLE t (a INTEGER)",
             "CREATE TRIGGER tr AFTER INSERT ON t BEGIN SELECT 1; END")
    q_both(db, ref, "SELECT name FROM sqlite_master WHERE type='trigger'")


def test_trigger_total_changes_accounting(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (a INTEGER)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN "
        "INSERT INTO log VALUES ('x'); INSERT INTO log VALUES ('y'); END",
        "INSERT INTO t VALUES (1), (2)",
    )
    # outer changes() = 2; total_changes = 2 outer + 4 trigger rows
    q_both(db, ref, "SELECT changes(), total_changes()")


def test_trigger_in_transaction_rollback(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (a INTEGER)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN INSERT INTO log VALUES ('x'); END",
        "BEGIN",
        "INSERT INTO t VALUES (1)",
        "ROLLBACK",
    )
    q_both(db, ref, "SELECT count(*) FROM t")
    q_both(db, ref, "SELECT count(*) FROM log")
    run_both(db, ref, "BEGIN", "INSERT INTO t VALUES (2)", "COMMIT")
    q_both(db, ref, "SELECT count(*) FROM t")
    q_both(db, ref, "SELECT count(*) FROM log")


def test_trigger_cascading_other_table_updates(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE orders_t (id INTEGER PRIMARY KEY, qty INTEGER)",
        "CREATE TABLE stock (n INTEGER)",
        "INSERT INTO stock VALUES (100)",
        "CREATE TRIGGER dec_stock AFTER INSERT ON orders_t BEGIN "
        "UPDATE stock SET n = n - NEW.qty; END",
        "CREATE TRIGGER inc_stock AFTER DELETE ON orders_t BEGIN "
        "UPDATE stock SET n = n + OLD.qty; END",
        "INSERT INTO orders_t(qty) VALUES (3), (5), (7)",
        "DELETE FROM orders_t WHERE qty = 5",
    )
    q_both(db, ref, "SELECT n FROM stock")


def test_trigger_persists_across_disk_reopen(spark, tmp_path):
    wh = str(tmp_path / "wh")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt("CREATE TABLE t (a INTEGER)")
    db.execute_string_stmt("CREATE TABLE log (m TEXT)")
    db.execute_string_stmt(
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN INSERT INTO log VALUES ('hit'); END"
    )
    db.execute_string_stmt("INSERT INTO t VALUES (1)")
    db.close()
    db2 = DustSession(spark, warehouse=wh)
    rows = db2.query_string_stmt("SELECT name FROM sqlite_master WHERE type='trigger'")[0].values
    assert rows == [["tr"]]
    db2.execute_string_stmt("INSERT INTO t VALUES (2)")
    n = db2.query_string_stmt("SELECT count(*) FROM log")[0].values[0][0]
    assert n == 2  # one pre-reopen hit + one post-reopen hit
    db2.close()


def test_raise_ignore_before_update_differential(pair):
    # RAISE(IGNORE) in a BEFORE UPDATE body: the row's change is
    # skipped (not applied, not counted), the program's remainder is
    # abandoned, side effects already applied are KEPT, other rows
    # proceed (sqlite3-probed, lang_createtrigger.html RAISE)
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t VALUES (1,10),(2,20),(3,30)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER bu BEFORE UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('pre-'||OLD.id); "
        "SELECT RAISE(IGNORE) WHERE OLD.id = 2; "
        "INSERT INTO log VALUES ('post-'||OLD.id); END",
        "UPDATE t SET v = v + 1",
    )
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


def test_raise_ignore_before_insert_id_sequence_differential(pair):
    # ignored rows are not inserted and do NOT consume auto rowids;
    # last_insert_rowid reflects the last landed row
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "CREATE TRIGGER bi BEFORE INSERT ON t BEGIN "
        "SELECT RAISE(IGNORE) WHERE NEW.v = 2; END",
        "INSERT INTO t(v) VALUES (1),(2),(3)",
    )
    q_both(db, ref, "SELECT changes(), last_insert_rowid()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    # explicit id mid-batch bumps the sequence past the ignored slot
    run_both(db, ref, "INSERT INTO t(id, v) VALUES (10, 4), (NULL, 2), (NULL, 5)")
    q_both(db, ref, "SELECT changes(), last_insert_rowid()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    # all rows ignored: nothing lands, last_insert_rowid untouched
    run_both(db, ref, "INSERT INTO t(v) VALUES (2), (2)")
    q_both(db, ref, "SELECT changes(), last_insert_rowid()")
    q_both(db, ref, "SELECT count(*) AS n FROM t")


def test_raise_ignore_before_delete_differential(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t VALUES (1,1),(2,2),(3,3)",
        "CREATE TRIGGER bd BEFORE DELETE ON t BEGIN "
        "SELECT RAISE(IGNORE) WHERE OLD.id = 2; END",
        "DELETE FROM t",
    )
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    # the survivor deletes normally once the trigger stops ignoring it
    run_both(db, ref, "DELETE FROM t WHERE id <> 2", "UPDATE t SET v = 9 WHERE id = 2")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")


def test_raise_ignore_after_timing_differential(pair):
    # AFTER timing: the row change is already applied and stays; the
    # remainder of the program AND later programs for that row are
    # abandoned (a2 fires first — reverse creation — so its IGNORE
    # suppresses a1 for that row)
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t VALUES (1,10),(2,20),(3,30)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER a1 AFTER UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('a1-'||OLD.id); END",
        "CREATE TRIGGER a2 AFTER UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('a2x-'||OLD.id); "
        "SELECT RAISE(IGNORE) WHERE OLD.id = 1; "
        "INSERT INTO log VALUES ('a2y-'||OLD.id); END",
        "UPDATE t SET v = v + 1",
    )
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


def test_raise_ignore_in_when_clause_differential(pair):
    # IGNORE raised while evaluating WHEN behaves exactly like a body
    # IGNORE (probed): BEFORE-WHEN skips the row change, AFTER-WHEN
    # abandons later programs for the row
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t VALUES (1,10),(2,20),(3,30)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER bu BEFORE UPDATE ON t "
        "WHEN CASE WHEN OLD.id = 2 THEN RAISE(IGNORE) ELSE 1 END BEGIN "
        "INSERT INTO log VALUES ('B-'||OLD.id); END",
        "UPDATE t SET v = v + 1",
    )
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


def test_raise_ignore_skips_after_triggers_differential(pair):
    # a BEFORE IGNORE suppresses the row's AFTER triggers entirely
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t VALUES (1,10),(2,20),(3,30)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER bu BEFORE UPDATE ON t BEGIN "
        "SELECT RAISE(IGNORE) WHERE OLD.id = 2; END",
        "CREATE TRIGGER au AFTER UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('A-'||OLD.id); END",
        "UPDATE t SET v = v + 1",
    )
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    # the engine fires all B programs before the A programs on this
    # path (documented); per-ROW content is identical, so compare the
    # A-log as a set-by-row (it only has non-ignored rows in both)
    q_both(db, ref, "SELECT m FROM log ORDER BY m")


def test_raise_ignore_nested_trigger_resume_differential(pair):
    # an inner trigger's IGNORE abandons only the inner statement's
    # current row; the OUTER trigger program resumes at its next step
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE p (id INTEGER PRIMARY KEY)",
        "CREATE TABLE q (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO q VALUES (1,0),(2,0)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER outer_t AFTER INSERT ON p BEGIN "
        "INSERT INTO log VALUES ('outer-start'); "
        "UPDATE q SET v = v + 1; "
        "INSERT INTO log VALUES ('outer-end'); END",
        "CREATE TRIGGER inner_t BEFORE UPDATE ON q BEGIN "
        "SELECT RAISE(IGNORE) WHERE OLD.id = 1; "
        "INSERT INTO log VALUES ('inner-'||OLD.id); END",
        "INSERT INTO p VALUES (1)",
    )
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT id, v FROM q ORDER BY id")


def test_raise_ignore_instead_of_differential(pair):
    # INSTEAD OF: IGNORE abandons the remainder of the program for that
    # view row; other rows proceed; outer changes() stays 0
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t VALUES (1,1),(2,2)",
        "CREATE VIEW w AS SELECT * FROM t",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER iu INSTEAD OF UPDATE ON w BEGIN "
        "SELECT RAISE(IGNORE) WHERE OLD.id = 2; "
        "UPDATE t SET v = NEW.v WHERE id = OLD.id; "
        "INSERT INTO log VALUES ('iu-'||OLD.id); END",
        "UPDATE w SET v = 99",
    )
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


def test_raise_ignore_single_row_both_timings_differential(pair):
    # single-row statements: even the B/A interleave is identical
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t VALUES (1,10),(2,20)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER bu BEFORE UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('B-'||OLD.id); "
        "SELECT RAISE(IGNORE) WHERE OLD.v >= 20; END",
        "CREATE TRIGGER au AFTER UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('A-'||OLD.id); END",
        "UPDATE t SET v = v + 1 WHERE id = 1",
        "UPDATE t SET v = v + 1 WHERE id = 2",
    )
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


# ---------------------------------------------------------------------------
# r7 second wave: nested-trigger chaining + INSTEAD OF view triggers
# ---------------------------------------------------------------------------


def test_nested_triggers_chain_differential(pair):
    """recursive_triggers=0 suppresses only RE-ENTRY of a trigger already
    firing; nested firing of OTHER triggers chains (sqlite3-probed:
    t1-on-a inserting into b fires t2-on-b)."""
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE a (x INTEGER)",
        "CREATE TABLE b (y INTEGER)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER t1 AFTER INSERT ON a BEGIN INSERT INTO b VALUES (NEW.x); END",
        "CREATE TRIGGER t2 AFTER INSERT ON b BEGIN INSERT INTO log VALUES ('t2:'||NEW.y); END",
        "INSERT INTO a VALUES (7)",
    )
    q_both(db, ref, "SELECT m FROM log ORDER BY m")
    q_both(db, ref, "SELECT y FROM b ORDER BY y")


def test_indirect_trigger_recursion_suppressed_differential(pair):
    """a->b->a cycle: the second firing of r1 is suppressed (it is on
    the firing stack), so the inner INSERT INTO c1 lands plainly."""
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE c1 (x INTEGER)",
        "CREATE TABLE c2 (y INTEGER)",
        "CREATE TRIGGER r1 AFTER INSERT ON c1 BEGIN INSERT INTO c2 VALUES (NEW.x+1); END",
        "CREATE TRIGGER r2 AFTER INSERT ON c2 BEGIN INSERT INTO c1 VALUES (NEW.y+1); END",
        "INSERT INTO c1 VALUES (0)",
    )
    q_both(db, ref, "SELECT x FROM c1 ORDER BY x")
    q_both(db, ref, "SELECT y FROM c2 ORDER BY y")


@pytest.fixture()
def view_pair(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "CREATE VIEW w AS SELECT id, v*2 AS dv FROM t",
        "CREATE TABLE log (m TEXT, a INTEGER, b INTEGER)",
    )
    return db, ref


def test_instead_of_insert_differential(view_pair):
    db, ref = view_pair
    run_both(
        db,
        ref,
        "CREATE TRIGGER wi INSTEAD OF INSERT ON w BEGIN "
        "INSERT INTO t VALUES (NEW.id, NEW.dv/2); "
        "INSERT INTO log VALUES ('I', NEW.id, NEW.dv); END",
        "INSERT INTO w VALUES (1, 20), (2, 40)",
    )
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m, a, b FROM log ORDER BY a")
    # changes() after view DML is 0; body DML lands in total_changes;
    # last_insert_rowid() does not leak out of the trigger
    q_both(db, ref, "SELECT changes(), total_changes(), last_insert_rowid()")
    # column-list insert: unnamed view columns bind NULL
    run_both(db, ref, "INSERT INTO w(dv) VALUES (100)")
    q_both(db, ref, "SELECT m, a, b FROM log WHERE b = 100")
    # DEFAULT VALUES: every column NULL
    run_both(db, ref, "INSERT INTO w DEFAULT VALUES")
    q_both(db, ref, "SELECT count(*) FROM log WHERE a IS NULL AND b IS NULL")
    # NEW.rowid on a view INSERT is -1 (sqlite3-probed)
    run_both(
        db,
        ref,
        "CREATE TRIGGER wr INSTEAD OF INSERT ON w BEGIN "
        "INSERT INTO log VALUES ('R', NEW.rowid, NULL); END",
        "INSERT INTO w VALUES (50, 2)",
    )
    q_both(db, ref, "SELECT m, a FROM log WHERE m = 'R'")


def test_instead_of_update_differential(view_pair):
    db, ref = view_pair
    run_both(
        db,
        ref,
        "INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)",
        "CREATE TRIGGER wu INSTEAD OF UPDATE OF dv ON w WHEN NEW.dv <> OLD.dv BEGIN "
        "UPDATE t SET v = NEW.dv/2 WHERE id = OLD.id; "
        "INSERT INTO log VALUES ('U', OLD.dv, NEW.dv); END",
        "UPDATE w SET dv = 100 WHERE id = 1",
        "UPDATE w SET dv = dv WHERE id = 2",  # WHEN NEW<>OLD: no fire
    )
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m, a, b FROM log ORDER BY a")
    q_both(db, ref, "SELECT changes(), total_changes()")
    # an UPDATE whose assigned columns miss every OF list cannot modify
    with pytest.raises(sqlite3.OperationalError, match="cannot modify w"):
        ref.execute("UPDATE w SET id = id + 1")
    rs = db.execute_string_stmt("UPDATE w SET id = id + 1")
    assert rs[0].error == "cannot modify w because it is a view"
    # OLD.rowid / NEW.rowid are per-statement 1-based ordinals
    run_both(
        db,
        ref,
        "CREATE TRIGGER wu2 INSTEAD OF UPDATE ON w BEGIN "
        "INSERT INTO log VALUES ('O', OLD.rowid, NEW.rowid); END",
        "UPDATE w SET dv = dv + 2",
    )
    q_both(db, ref, "SELECT m, a, b FROM log WHERE m = 'O' ORDER BY a")


def test_instead_of_delete_differential(view_pair):
    db, ref = view_pair
    run_both(
        db,
        ref,
        "INSERT INTO t VALUES (10, 1), (20, 2), (30, 3)",
        "CREATE TRIGGER wd INSTEAD OF DELETE ON w BEGIN "
        "DELETE FROM t WHERE id = OLD.id; "
        "INSERT INTO log VALUES ('D', OLD.rowid, OLD.id); END",
        "DELETE FROM w WHERE dv >= 4",
    )
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m, a, b FROM log ORDER BY b")
    q_both(db, ref, "SELECT changes(), total_changes()")


def test_instead_of_firing_order_and_upsert_errors(view_pair):
    db, ref = view_pair
    run_both(
        db,
        ref,
        "CREATE TRIGGER z INSTEAD OF INSERT ON w BEGIN INSERT INTO log VALUES ('z', NEW.id, NULL); END",
        "CREATE TRIGGER a INSTEAD OF INSERT ON w BEGIN INSERT INTO log VALUES ('a', NEW.id, NULL); END",
        "INSERT INTO w VALUES (9, 18)",
    )
    # reverse creation order, per row
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    with pytest.raises(sqlite3.OperationalError, match="cannot UPSERT a view"):
        ref.execute("INSERT INTO w VALUES (9, 18) ON CONFLICT DO NOTHING")
    rs = db.execute_string_stmt("INSERT INTO w VALUES (9, 18) ON CONFLICT DO NOTHING")
    assert rs[0].error == "cannot UPSERT a view"
    # INSERT OR REPLACE fires INSTEAD OF normally (conflict action moot)
    run_both(db, ref, "INSERT OR REPLACE INTO w VALUES (7, 14)")
    q_both(db, ref, "SELECT count(*) FROM log")


def test_instead_of_insert_column_errors(view_pair):
    db, ref = view_pair
    run_both(
        db,
        ref,
        "CREATE TRIGGER wi INSTEAD OF INSERT ON w BEGIN SELECT 1; END",
    )
    for sql in [
        "INSERT INTO w(id, nosuch) VALUES (1, 2)",
        "INSERT INTO w VALUES (1)",
        "INSERT INTO w VALUES (1, 2, 3)",
        "UPDATE w SET nosuch = 1",
    ]:
        try:
            ref.execute(sql)
            want = None
        except Exception as e:  # noqa: BLE001
            want = str(e)
        rs = db.execute_string_stmt(sql)
        assert rs[0].error == want, (sql, rs[0].error, want)


def test_instead_of_from_table_trigger_body(view_pair):
    """An INSTEAD OF trigger fires from inside another trigger's body
    (nesting is not recursion)."""
    db, ref = view_pair
    run_both(
        db,
        ref,
        "CREATE TABLE src (n INTEGER)",
        "CREATE TRIGGER wi INSTEAD OF INSERT ON w BEGIN "
        "INSERT INTO t VALUES (NEW.id, NEW.dv/2); END",
        "CREATE TRIGGER si AFTER INSERT ON src BEGIN "
        "INSERT INTO w VALUES (NEW.n, NEW.n * 10); END",
        "INSERT INTO src VALUES (4)",
    )
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")


def test_instead_of_self_recursion_noop(view_pair):
    """A self-recursive INSTEAD OF body neither errors nor recurses:
    the inner view DML finds its only trigger on the firing stack and
    does nothing (sqlite3-probed)."""
    db, ref = view_pair
    run_both(
        db,
        ref,
        "CREATE TRIGGER wi INSTEAD OF INSERT ON w BEGIN "
        "INSERT INTO w VALUES (NEW.id, NEW.dv); "
        "INSERT INTO log VALUES ('hit', NEW.id, NULL); END",
        "INSERT INTO w VALUES (1, 2)",
    )
    q_both(db, ref, "SELECT count(*) FROM t")
    q_both(db, ref, "SELECT count(*) FROM log")


def test_instead_of_raise_abort_atomicity(view_pair):
    db, ref = view_pair
    run_both(
        db,
        ref,
        "CREATE TRIGGER wi INSTEAD OF INSERT ON w BEGIN "
        "INSERT INTO t VALUES (NEW.id, NEW.dv); "
        "SELECT RAISE(ABORT, 'nope') WHERE NEW.id > 1; END",
    )
    with pytest.raises(sqlite3.IntegrityError, match="nope"):
        ref.execute("INSERT INTO w VALUES (1, 10), (2, 20)")
    rs = db.execute_string_stmt("INSERT INTO w VALUES (1, 10), (2, 20)")
    assert rs[0].error == "nope"
    q_both(db, ref, "SELECT count(*) FROM t")


def test_instead_of_ddl_and_drop_view_cascade(view_pair):
    db, ref = view_pair
    cases = [
        "CREATE TRIGGER b1 BEFORE INSERT ON w BEGIN SELECT 1; END",
        "CREATE TRIGGER a1 AFTER UPDATE ON w BEGIN SELECT 1; END",
        "CREATE TRIGGER i1 INSTEAD OF INSERT ON t BEGIN SELECT 1; END",
        "INSERT INTO w VALUES (1, 2)",  # no trigger yet: cannot modify
        "DELETE FROM w",
        "UPDATE w SET dv = 1",
    ]
    for sql in cases:
        try:
            ref.execute(sql)
            want = None
        except Exception as e:  # noqa: BLE001
            want = str(e)
        rs = db.execute_string_stmt(sql)
        assert rs[0].error == want, (sql, rs[0].error, want)
    run_both(
        db,
        ref,
        "CREATE TRIGGER wi INSTEAD OF INSERT ON w BEGIN SELECT 1; END",
    )
    q_both(db, ref, "SELECT name, tbl_name FROM sqlite_master WHERE type='trigger'")
    run_both(db, ref, "DROP VIEW w")
    q_both(db, ref, "SELECT count(*) FROM sqlite_master WHERE type='trigger'")


def test_instead_of_persists_across_disk_reopen(spark, tmp_path):
    wh = str(tmp_path / "wh_iof")
    db = DustSession(spark, warehouse=wh)
    db.execute_string_stmt("CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)")
    db.execute_string_stmt("CREATE VIEW w AS SELECT id, v FROM t")
    db.execute_string_stmt(
        "CREATE TRIGGER wi INSTEAD OF INSERT ON w BEGIN "
        "INSERT INTO t VALUES (NEW.id, NEW.v); END"
    )
    db.execute_string_stmt("INSERT INTO w VALUES (1, 10)")
    db.close()
    db2 = DustSession(spark, warehouse=wh)
    db2.execute_string_stmt("INSERT INTO w VALUES (2, 20)")
    rows = db2.query_string_stmt("SELECT id, v FROM t ORDER BY id")[0].values
    assert rows == [[1, 10], [2, 20]]
    db2.close()


# ---------------------------------------------------------------------------
# r7 third wave: triggers fire for upsert / REPLACE / OR IGNORE /
# UPDATE...FROM (former documented scope limits, sqlite3-probed)
# ---------------------------------------------------------------------------


@pytest.fixture()
def fire_pair(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER tbi BEFORE INSERT ON t BEGIN "
        "INSERT INTO log VALUES ('BI:'||quote(NEW.id)||':'||quote(NEW.v)); END",
        "CREATE TRIGGER tai AFTER INSERT ON t BEGIN "
        "INSERT INTO log VALUES ('AI:'||NEW.id); END",
        "CREATE TRIGGER tbu BEFORE UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('BU:'||OLD.v||'->'||NEW.v); END",
        "CREATE TRIGGER tau AFTER UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('AU:'||OLD.v||'->'||NEW.v); END",
        "INSERT INTO t VALUES (1, 10)",
        "DELETE FROM log",
    )
    return db, ref


def test_upsert_trigger_firing_differential(fire_pair):
    db, ref = fire_pair
    # conflicting row: BI (attempted values), then BU/AU for DO UPDATE
    run_both(db, ref, "INSERT INTO t VALUES (1, 99) ON CONFLICT(id) DO UPDATE SET v = excluded.v")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    run_both(db, ref, "DELETE FROM log")
    # fresh row: BI + AI only
    run_both(db, ref, "INSERT INTO t VALUES (2, 20) ON CONFLICT(id) DO UPDATE SET v = excluded.v")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    run_both(db, ref, "DELETE FROM log")
    # DO NOTHING conflict: BI only
    run_both(db, ref, "INSERT INTO t VALUES (1, 50) ON CONFLICT(id) DO NOTHING")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    run_both(db, ref, "DELETE FROM log")
    # DO UPDATE WHERE false: BI only, no update triggers, row untouched
    run_both(db, ref, "INSERT INTO t VALUES (1, 50) ON CONFLICT(id) DO UPDATE SET v = excluded.v WHERE excluded.v > 90")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    run_both(db, ref, "DELETE FROM log")
    # auto-assigned rowid reads -1 in BEFORE INSERT
    run_both(db, ref, "INSERT INTO t(v) VALUES (7) ON CONFLICT(id) DO NOTHING")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    # mixed multi-row batch in one statement, per-row interleave
    run_both(db, ref, "DELETE FROM log")
    run_both(db, ref, "INSERT INTO t VALUES (1, 111), (9, 90), (2, 222) "
                      "ON CONFLICT(id) DO UPDATE SET v = excluded.v")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")


def test_upsert_trigger_evolving_old_images(fire_pair):
    db, ref = fire_pair
    # same-key rows in one batch: OLD images evolve sequentially in the
    # trigger log (the table's set-based fold divergence is documented
    # separately — assert the LOG matches sqlite exactly)
    run_both(db, ref, "DELETE FROM log")
    ref.execute("INSERT INTO t VALUES (1, 5), (1, 6) ON CONFLICT(id) DO UPDATE SET v = excluded.v")
    db.execute_string_stmt("INSERT INTO t VALUES (1, 5), (1, 6) ON CONFLICT(id) DO UPDATE SET v = excluded.v")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")


def test_replace_trigger_firing_differential(fire_pair):
    db, ref = fire_pair
    # REPLACE with recursive_triggers off: BI+AI per batch row, no
    # delete triggers for the displaced row (sqlite3-probed)
    run_both(db, ref, "REPLACE INTO t VALUES (1, 77)")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    run_both(db, ref, "DELETE FROM log")
    # in-batch losers still fire (row-by-row in SQLite)
    run_both(db, ref, "REPLACE INTO t VALUES (5, 1), (5, 2)")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")


def test_or_ignore_trigger_firing_differential(pair):
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER NOT NULL CHECK (v < 100))",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER tbi BEFORE INSERT ON t BEGIN "
        "INSERT INTO log VALUES ('BI:'||quote(NEW.id)||':'||quote(NEW.v)); END",
        "CREATE TRIGGER tai AFTER INSERT ON t BEGIN "
        "INSERT INTO log VALUES ('AI:'||NEW.v); END",
        # BI fires for every attempted row, even NOT NULL / CHECK
        # violators that OR IGNORE then drops; AI only for landed rows
        "INSERT OR IGNORE INTO t(v) VALUES (1), (NULL), (500), (2)",
    )
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")


def test_update_from_trigger_firing_differential(fire_pair):
    db, ref = fire_pair
    run_both(
        db,
        ref,
        "INSERT INTO t VALUES (2, 20), (3, 30)",
        "DELETE FROM log",
        "CREATE TABLE s (id INTEGER, nv INTEGER)",
        "INSERT INTO s VALUES (1, 7), (3, 9), (4, 99)",
        "UPDATE t SET v = s.nv FROM s WHERE t.id = s.id",
    )
    q_both(db, ref, "SELECT m FROM log ORDER BY m")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")


def test_raise_ignore_update_from_differential(pair):
    # RAISE(IGNORE) in a BEFORE UPDATE trigger gates UPDATE...FROM rows
    # too: ignored rows keep their pre-statement values and don't count
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO t VALUES (1,10),(2,20),(3,30)",
        "CREATE TABLE s (id INTEGER, nv INTEGER)",
        "INSERT INTO s VALUES (1, 7), (2, 8), (3, 9)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER bu BEFORE UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('B-'||OLD.id); "
        "SELECT RAISE(IGNORE) WHERE NEW.v = 8; END",
        "UPDATE t SET v = s.nv FROM s WHERE t.id = s.id",
    )
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


def test_both_timing_interleave_differential(fire_pair):
    """Multi-row statements with BOTH timings fire per-row interleaved
    (B:row1, A:row1, B:row2, ...) like SQLite's sequential loop, for
    INSERT, UPDATE and DELETE."""
    db, ref = fire_pair
    run_both(db, ref, "INSERT INTO t VALUES (2, 20), (3, 30)")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    run_both(db, ref, "DELETE FROM log", "UPDATE t SET v = v + 1 WHERE id >= 2")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    run_both(
        db,
        ref,
        "CREATE TRIGGER tbd BEFORE DELETE ON t BEGIN INSERT INTO log VALUES ('BD:'||OLD.id); END",
        "CREATE TRIGGER tad AFTER DELETE ON t BEGIN INSERT INTO log VALUES ('AD:'||OLD.id); END",
        "DELETE FROM log",
        "DELETE FROM t WHERE id >= 2",
    )
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")


def test_trigger_body_rewrites_once_differential(pair):
    """Trigger bodies store RAW SQL and rewrite exactly once at fire
    time — quote()/hex()/typeof() in a body must behave identically to
    the same expression in a plain statement (the double-rewrite bug:
    quote()'s expansion contains typeof(), which a second pass re-maps
    to storage classes)."""
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER, s TEXT)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN "
        "INSERT INTO log VALUES ('q:'||quote(NEW.v)||':'||quote(NEW.s)"
        "||':'||typeof(NEW.v)||':'||hex(NEW.v)); END",
        "INSERT INTO t VALUES (1, 10, 'a''b')",
        "INSERT INTO t(id, s) VALUES (2, 'x')",
    )
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")
    # sqlite_master stores the original CREATE TRIGGER text
    q_both(db, ref, "SELECT sql FROM sqlite_master WHERE type='trigger'")


def test_fk_action_trigger_firing_differential(pair):
    """FK ON DELETE actions fire the child table's own triggers even
    with recursive_triggers off (sqlite3-probed): CASCADE deletes fire
    child DELETE triggers, SET NULL fires child UPDATE triggers."""
    db, ref = pair
    ref.execute("PRAGMA foreign_keys=ON")
    run_both(
        db,
        ref,
        "PRAGMA foreign_keys=ON",
        "CREATE TABLE p (id INTEGER PRIMARY KEY)",
        "CREATE TABLE ch (id INTEGER PRIMARY KEY, pid INTEGER REFERENCES p(id) ON DELETE CASCADE)",
        "CREATE TABLE ch2 (id INTEGER PRIMARY KEY, pid INTEGER REFERENCES p(id) ON DELETE SET NULL)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER cd AFTER DELETE ON ch BEGIN INSERT INTO log VALUES ('ch-del:'||OLD.id); END",
        "CREATE TRIGGER cu AFTER UPDATE OF pid ON ch2 BEGIN "
        "INSERT INTO log VALUES ('ch2-upd:'||OLD.pid||'->'||quote(NEW.pid)); END",
        "CREATE TRIGGER pd BEFORE DELETE ON p BEGIN INSERT INTO log VALUES ('p-del:'||OLD.id); END",
        "INSERT INTO p VALUES (1), (2)",
        "INSERT INTO ch VALUES (10, 1), (11, 1), (12, 2)",
        "INSERT INTO ch2 VALUES (20, 1)",
        "DELETE FROM p WHERE id = 1",
    )
    # cross-table firing order differs (SQLite fires actions during the
    # parent row loop); compare the SET of fired entries + final states
    q_both(db, ref, "SELECT m FROM log ORDER BY m")
    q_both(db, ref, "SELECT id, pid FROM ch ORDER BY id")
    q_both(db, ref, "SELECT id, pid FROM ch2 ORDER BY id")


def test_fk_cascade_grandchild_triggers_differential(pair):
    db, ref = pair
    ref.execute("PRAGMA foreign_keys=ON")
    run_both(
        db,
        ref,
        "PRAGMA foreign_keys=ON",
        "CREATE TABLE a (id INTEGER PRIMARY KEY)",
        "CREATE TABLE b (id INTEGER PRIMARY KEY, aid INTEGER REFERENCES a(id) ON DELETE CASCADE)",
        "CREATE TABLE c (id INTEGER PRIMARY KEY, bid INTEGER REFERENCES b(id) ON DELETE CASCADE)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER bd AFTER DELETE ON b BEGIN INSERT INTO log VALUES ('b:'||OLD.id); END",
        "CREATE TRIGGER cdt AFTER DELETE ON c BEGIN INSERT INTO log VALUES ('c:'||OLD.id); END",
        "INSERT INTO a VALUES (1)",
        "INSERT INTO b VALUES (5, 1)",
        "INSERT INTO c VALUES (9, 5)",
        "DELETE FROM a",
    )
    q_both(db, ref, "SELECT m FROM log ORDER BY m")
    q_both(db, ref, "SELECT count(*) FROM b")
    q_both(db, ref, "SELECT count(*) FROM c")


def test_recursive_triggers_pragma_differential(pair):
    """PRAGMA recursive_triggers=ON lifts the re-entry suppression:
    bounded self-recursion runs to its WHEN fixpoint, REPLACE fires
    DELETE triggers for displaced rows, and the pragma reads back."""
    db, ref = pair
    run_both(
        db,
        ref,
        "PRAGMA recursive_triggers=ON",
        "CREATE TABLE t (a INTEGER)",
        "CREATE TRIGGER ti AFTER INSERT ON t WHEN NEW.a < 20 BEGIN "
        "INSERT INTO t VALUES (NEW.a + 1); END",
        "INSERT INTO t VALUES (1)",
    )
    q_both(db, ref, "SELECT count(*), max(a) FROM t")
    q_both(db, ref, "PRAGMA recursive_triggers")
    # REPLACE displaced-row delete triggers fire with the pragma ON
    run_both(
        db,
        ref,
        "CREATE TABLE r (id INTEGER PRIMARY KEY, v INTEGER)",
        "CREATE TABLE log (m TEXT)",
        "CREATE TRIGGER rbi BEFORE INSERT ON r BEGIN INSERT INTO log VALUES ('BI:'||NEW.v); END",
        "CREATE TRIGGER rai AFTER INSERT ON r BEGIN INSERT INTO log VALUES ('AI:'||NEW.v); END",
        "CREATE TRIGGER rbd BEFORE DELETE ON r BEGIN INSERT INTO log VALUES ('BD:'||OLD.v); END",
        "CREATE TRIGGER rad AFTER DELETE ON r BEGIN INSERT INTO log VALUES ('AD:'||OLD.v); END",
        "INSERT INTO r VALUES (1, 10)",
        "DELETE FROM log",
        "REPLACE INTO r VALUES (1, 77)",
    )
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    run_both(db, ref, "DELETE FROM log",
             "REPLACE INTO r VALUES (5, 1), (5, 2)")  # in-batch displacement
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT id, v FROM r ORDER BY id")
    # back OFF: displaced deletes suppressed again
    run_both(db, ref, "PRAGMA recursive_triggers=OFF",
             "DELETE FROM log", "REPLACE INTO r VALUES (1, 99)")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")


def test_recursion_depth_error(pair):
    """Unbounded self-recursion with the pragma ON hits the depth cap
    with SQLite's error string. The engine's default cap is SQLite's
    SQLITE_MAX_TRIGGER_DEPTH (1000, r8); driving 1000 real statement
    levels takes ~10 min at engine statement latency, so THIS test
    lowers the cap through the private knob to keep the suite fast —
    the 1000-level default is exercised by
    test_recursion_past_old_cap_completes (>100 levels complete) and
    was soak-verified once at depth 999 (see COVERAGE.md)."""
    db, ref = pair
    run_both(
        db,
        ref,
        "PRAGMA recursive_triggers=ON",
        "CREATE TABLE x (a INTEGER)",
        "CREATE TRIGGER xi AFTER INSERT ON x BEGIN INSERT INTO x VALUES (NEW.a + 1); END",
    )
    with pytest.raises(sqlite3.OperationalError, match="too many levels of trigger recursion"):
        ref.execute("INSERT INTO x VALUES (1)")
    # the cap value is arbitrary for the error-path assertion; each
    # level costs an engine statement, so the fast profile uses a
    # lower cap (full budget keeps the r8 value)
    db._max_trigger_depth = 40 if _budget.FULL else 12
    rs = db.execute_string_stmt("INSERT INTO x VALUES (1)")
    assert rs[0].error == "too many levels of trigger recursion"
    db._max_trigger_depth = 1000


def test_without_rowid_trigger_scan_order(pair):
    """WITHOUT ROWID tables fire multi-row UPDATE/DELETE triggers in PK
    index order (sqlite3-probed, r8) — not insertion order."""
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (k TEXT PRIMARY KEY, v INT) WITHOUT ROWID",
        "CREATE TABLE log (m TEXT)",
        "INSERT INTO t VALUES ('m',1),('a',2),('z',3),('b',4)",
        "CREATE TRIGGER bu BEFORE UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('bu-'||OLD.k); END",
        "UPDATE t SET v = v + 1",
        "CREATE TRIGGER bd BEFORE DELETE ON t BEGIN "
        "INSERT INTO log VALUES ('bd-'||OLD.k); END",
        "DELETE FROM t",
    )
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


@pytest.mark.skipif(
    not _budget.FULL,
    reason="soak (~60s of engine statement latency); runs in the "
    "DUST_FULL_BUDGET=1 pre-land gate",
)
def test_recursion_past_old_cap_completes(pair):
    """A WHEN-bounded recursive trigger chain 120 levels deep (past the
    r7 cap of 100, under SQLite's 1000) completes with identical table
    state in both engines — the r8 cap lift is real, not just a bigger
    constant in the error path."""
    db, ref = pair
    run_both(
        db,
        ref,
        "PRAGMA recursive_triggers=ON",
        "CREATE TABLE x (a INTEGER)",
        "CREATE TRIGGER xi AFTER INSERT ON x WHEN NEW.a < 120 BEGIN "
        "INSERT INTO x VALUES (NEW.a + 1); END",
        "INSERT INTO x VALUES (1)",
    )
    q_both(db, ref, "SELECT count(*), min(a), max(a) FROM x")


@pytest.mark.parametrize(
    "stmts",
    [
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT, n INT DEFAULT 0)",
            "CREATE TRIGGER au AFTER UPDATE OF v ON t BEGIN "
            "UPDATE t SET n = n + 1 WHERE id = NEW.id; END",
            "INSERT INTO t(id, v) VALUES (1, 1)",
            "UPDATE OR IGNORE t SET v = 2 WHERE id = 1",
        ],
        # the shift is blocked for row 1 (row 2 still holds id 2): its
        # BEFORE trigger fires, its AFTER trigger does not
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT, n INT DEFAULT 0)",
            "CREATE TRIGGER bu BEFORE UPDATE ON t BEGIN "
            "INSERT INTO log VALUES ('bu-'||OLD.id); END",
            "CREATE TRIGGER au AFTER UPDATE OF id ON t BEGIN "
            "UPDATE t SET n = n + 1 WHERE id = NEW.id; "
            "INSERT INTO log VALUES ('au-'||NEW.id); END",
            "INSERT INTO t(id, v) VALUES (1, 1), (2, 2), (4, 4)",
            "UPDATE OR IGNORE t SET id = id + 1",
        ],
    ],
    ids=["after-update-of-v", "after-update-of-id-shift"],
)
def test_or_ignore_after_trigger_writes_own_table_differential(pair, stmts):
    """UPDATE OR IGNORE fires its AFTER triggers after the write, so an
    AFTER body's update of its own table lands like in sqlite3."""
    db, ref = pair
    run_both(db, ref, "CREATE TABLE log (m TEXT)", *stmts[:-1])
    ref.execute(stmts[-1])
    assert db.execute_string_stmt(stmts[-1])[0].error == ""
    q_both(db, ref, "SELECT changes()")
    q_both(db, ref, "SELECT * FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


# ---------------------------------------------------------------------------
# r7 fourth wave: hypothesis trigger machines — random trigger zoos x
# random DML sequences, every step differential against sqlite3
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings

from hypothesis import strategies as st

from tests._budget import examples

_ZOO = [
    "CREATE TRIGGER tg_ai AFTER INSERT ON t BEGIN "
    "INSERT INTO log VALUES ('ai-'||NEW.id||'-'||NEW.v); END",
    "CREATE TRIGGER tg_bu BEFORE UPDATE ON t WHEN OLD.v <> NEW.v BEGIN "
    "INSERT INTO log VALUES ('bu-'||OLD.id); END",
    "CREATE TRIGGER tg_au AFTER UPDATE OF v ON t BEGIN "
    "INSERT INTO log VALUES ('au-'||OLD.v||'-'||NEW.v); END",
    "CREATE TRIGGER tg_bd BEFORE DELETE ON t BEGIN "
    "INSERT INTO log VALUES ('bd-'||OLD.id); END",
    "CREATE TRIGGER tg_ab AFTER INSERT ON t WHEN NEW.v = 7 BEGIN "
    "SELECT RAISE(ABORT, 'no sevens'); END",
    "CREATE TRIGGER tg_ad AFTER DELETE ON t BEGIN "
    "INSERT INTO log VALUES ('ad-'||OLD.id||'-'||OLD.v); END",
    # writes its own table: fires on the OR IGNORE id shift
    "CREATE TRIGGER tg_aw AFTER UPDATE OF id ON t BEGIN "
    "UPDATE t SET v = v + 1 WHERE id = NEW.id; END",
]

_IGN_ZOO = [
    "CREATE TRIGGER ig_bi BEFORE INSERT ON t BEGIN "
    "SELECT RAISE(IGNORE) WHERE NEW.v = 3; "
    "INSERT INTO log VALUES ('bi-'||NEW.v); END",
    "CREATE TRIGGER ig_bu BEFORE UPDATE ON t BEGIN "
    "SELECT RAISE(IGNORE) WHERE NEW.v > 8; "
    "INSERT INTO log VALUES ('ibu-'||OLD.id); END",
    "CREATE TRIGGER ig_bd BEFORE DELETE ON t BEGIN "
    "SELECT RAISE(IGNORE) WHERE OLD.id = 2; END",
    "CREATE TRIGGER tg_au2 AFTER UPDATE ON t BEGIN "
    "INSERT INTO log VALUES ('au-'||OLD.id); END",
    "CREATE TRIGGER tg_ad2 AFTER DELETE ON t BEGIN "
    "INSERT INTO log VALUES ('ad-'||OLD.id); END",
]

_V = st.integers(0, 9)
_ID = st.integers(1, 6)
_N = st.integers(1, 3)

# the UPDATE and DELETE shapes that share one row-change path: LIMIT-ed,
# FROM a seeded source table (see _drive), and OR IGNORE moving keys
_ROW_CHANGE_OPS = [
    st.tuples(_V, _N).map(lambda x: f"DELETE FROM t WHERE v > {x[0]} ORDER BY id LIMIT {x[1]}"),
    st.tuples(_V, _N).map(
        lambda x: f"UPDATE t SET v = v + 1 WHERE v < {x[0]} ORDER BY id LIMIT {x[1]}"
    ),
    st.just("UPDATE t SET v = s.nv FROM s WHERE t.id = s.id"),
    _V.map(lambda v: f"UPDATE OR IGNORE t SET id = id + 1 WHERE v < {v}"),
]

_FULL_OPS = st.one_of(
    _V.map(lambda v: f"INSERT INTO t(v) VALUES ({v})"),
    st.tuples(_V, _V).map(lambda x: f"INSERT INTO t(v) VALUES ({x[0]}), ({x[1]})"),
    st.tuples(_ID, _V).map(lambda x: f"INSERT INTO t(id, v) VALUES ({x[0]}, {x[1]})"),
    st.tuples(_ID, _V).map(lambda x: f"REPLACE INTO t(id, v) VALUES ({x[0]}, {x[1]})"),
    st.tuples(_ID, _V).map(
        lambda x: f"INSERT INTO t(id, v) VALUES ({x[0]}, {x[1]}) "
        f"ON CONFLICT(id) DO UPDATE SET v = v + excluded.v"
    ),
    # same-key conflict group: the r8 sequential replay (evolving
    # target values, per-arm changes())
    st.tuples(_ID, _V, _V).map(
        lambda x: f"INSERT INTO t(id, v) VALUES ({x[0]}, {x[1]}), ({x[0]}, {x[2]}) "
        f"ON CONFLICT(id) DO UPDATE SET v = v + excluded.v"
    ),
    _V.map(lambda v: f"UPDATE t SET v = v + 1 WHERE v < {v}"),
    _ID.map(lambda i: f"DELETE FROM t WHERE id = {i}"),
    *_ROW_CHANGE_OPS,
)

# r8: RAISE(IGNORE) row-skip is wired through upserts and REPLACE too
# (pre-merge sequential replay), and may-IGNORE BEFORE+AFTER statements
# interleave per row — so the IGNORE machine runs the FULL op mix and
# compares the log in rowid order. (REPLACE displaced-row deletes fire
# only under PRAGMA recursive_triggers=ON — covered by the static
# differential below, not the machine.)
_PLAIN_OPS = st.one_of(
    _V.map(lambda v: f"INSERT INTO t(v) VALUES ({v})"),
    st.tuples(_V, _V, _V).map(
        lambda x: f"INSERT INTO t(v) VALUES ({x[0]}), ({x[1]}), ({x[2]})"
    ),
    st.tuples(_ID, _V).map(lambda x: f"INSERT INTO t(id, v) VALUES ({x[0]}, {x[1]})"),
    st.tuples(_ID, _V).map(lambda x: f"REPLACE INTO t(id, v) VALUES ({x[0]}, {x[1]})"),
    st.tuples(_ID, _V).map(
        lambda x: f"INSERT INTO t(id, v) VALUES ({x[0]}, {x[1]}) "
        f"ON CONFLICT(id) DO UPDATE SET v = v + excluded.v"
    ),
    st.tuples(_ID, _V, _V).map(
        lambda x: f"INSERT INTO t(id, v) VALUES ({x[0]}, {x[1]}), ({x[0]}, {x[2]}) "
        f"ON CONFLICT(id) DO UPDATE SET v = v + excluded.v"
    ),
    _V.map(lambda v: f"UPDATE t SET v = v + 2 WHERE v <= {v}"),
    _ID.map(lambda i: f"UPDATE t SET v = v + 1 WHERE id = {i}"),
    _ID.map(lambda i: f"DELETE FROM t WHERE id = {i}"),
    _V.map(lambda v: f"DELETE FROM t WHERE v = {v}"),
    *_ROW_CHANGE_OPS,
)


def _dump_machine_failure(detail: dict) -> None:
    """CLAUDE.md watch item (r8 verdict task #5): hypothesis prunes a
    passing replay, so an in-suite-only flake leaves no trace. Append
    every failing example (incl. shrink iterations) to a JSONL artifact
    the moment it fails, BEFORE any replay can prune it."""
    import json
    import os
    import time

    path = os.path.join(
        os.path.dirname(__file__), "artifacts", "trigger_machine_failures.jsonl"
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    detail = dict(
        detail,
        ts=time.strftime("%Y-%m-%dT%H:%M:%S"),
        pid=os.getpid(),
        hashseed=os.environ.get("PYTHONHASHSEED"),
    )
    with open(path, "a") as fh:
        fh.write(json.dumps(detail, default=repr) + "\n")


def _drive(spark, trig_sqls, ops, log_order):
    ref = sqlite3.connect(":memory:")
    db = DustSession(spark)
    done: list = []
    try:
        for s in (
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE log (m TEXT)",
            "CREATE TABLE s (id INTEGER PRIMARY KEY, nv INT)",
            "INSERT INTO s VALUES (1, 5), (3, 9), (4, 0)",
            *trig_sqls,
        ):
            ref.execute(s)
            assert db.execute_string_stmt(s)[0].error == ""
        for op in ops:
            try:
                ref.execute(op)
                werr = None
            except sqlite3.Error as e:
                werr = str(e)
            gerr = db.execute_string_stmt(op)[0].error or None
            if gerr != werr:
                _dump_machine_failure(
                    {"trig_sqls": trig_sqls, "ops": ops, "done": done, "op": op,
                     "kind": "error-mismatch", "want": werr, "have": gerr}
                )
            assert gerr == werr, (trig_sqls, ops, op, werr, gerr)
            for q in (
                "SELECT id, v FROM t ORDER BY id",
                f"SELECT m FROM log ORDER BY {log_order}",
            ) + (("SELECT changes()",) if werr is None else ()):
                want = [list(r) for r in ref.execute(q).fetchall()]
                have = [list(r) for r in db.query_string_stmt(q)[0].values]
                if have != want:
                    _dump_machine_failure(
                        {"trig_sqls": trig_sqls, "ops": ops, "done": done,
                         "op": op, "kind": "state-mismatch", "query": q,
                         "want": want, "have": have}
                    )
                assert have == want, (trig_sqls, ops, op, q, have, want)
            done.append(op)
    finally:
        db.close()
        ref.close()


@settings(
    max_examples=examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    zoo=st.sets(st.sampled_from(range(len(_ZOO))), min_size=1, max_size=3),
    ops=st.lists(_FULL_OPS, min_size=3, max_size=8),
)
def test_trigger_machine_matches_sqlite(spark, zoo, ops):
    """Random trigger subsets x random DML incl. REPLACE/upserts: error
    text, table state, per-row log ORDER (reverse-creation firing,
    conflict-path replays, RAISE(ABORT) statement atomicity) and
    changes() all match sqlite3 after every statement."""
    _drive(spark, [_ZOO[i] for i in sorted(zoo)], ops, log_order="rowid")


@settings(
    max_examples=examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    zoo=st.sets(st.sampled_from(range(len(_IGN_ZOO))), min_size=1, max_size=3),
    ops=st.lists(_PLAIN_OPS, min_size=3, max_size=8),
)
def test_raise_ignore_machine_matches_sqlite(spark, zoo, ops):
    """Random RAISE(IGNORE) trigger subsets x the FULL DML mix incl.
    upserts and REPLACE (r8): row-skip (data + changes()) matches
    sqlite3 exactly AND the log compares in rowid order — may-IGNORE
    BEFORE + AFTER statements now interleave per row, and upsert /
    REPLACE ignores skip the row's data change entirely (pre-merge
    sequential replay)."""
    _drive(spark, [_IGN_ZOO[i] for i in sorted(zoo)], ops, log_order="rowid")


def test_raise_ignore_exotic_paths_sqlite_differential(pair):
    """The r7 'exotic replay' divergences, closed in r8 and probed
    statement-by-statement: BI-IGNORE on upsert rows skips insert AND
    DO UPDATE (no auto-id burn); BU-IGNORE inside the DO UPDATE arm
    skips that row's update with sequentially-evolving OLD images;
    REPLACE BI-IGNORE skips the row including its displacement; under
    PRAGMA recursive_triggers=ON an IGNOREd displaced-row delete makes
    the insert hit the UNIQUE constraint — statement error + full
    rollback (log included)."""
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT)",
        "CREATE TABLE log (m TEXT)",
        "INSERT INTO t VALUES (1, 10), (2, 20)",
        "CREATE TRIGGER bi BEFORE INSERT ON t BEGIN "
        "SELECT RAISE(IGNORE) WHERE NEW.v = 3; "
        "INSERT INTO log VALUES ('bi-'||NEW.id||'-'||NEW.v); END",
        "CREATE TRIGGER bu BEFORE UPDATE ON t BEGIN "
        "SELECT RAISE(IGNORE) WHERE NEW.v > 25; "
        "INSERT INTO log VALUES ('bu-'||OLD.id); END",
        "CREATE TRIGGER au AFTER UPDATE ON t BEGIN "
        "INSERT INTO log VALUES ('au-'||OLD.v||'-'||NEW.v); END",
        # upsert: row (1,3) BI-ignored (no DO UPDATE), (2,4) applies,
        # (9,3) BI-ignored (not inserted)
        "INSERT INTO t(id,v) VALUES (1,3),(2,4),(9,3) "
        "ON CONFLICT(id) DO UPDATE SET v = v + excluded.v",
        # arm ignored when NEW.v > 25 (id2: 24+9=33 → skip)
        "INSERT INTO t(id,v) VALUES (2,9),(1,5) "
        "ON CONFLICT(id) DO UPDATE SET v = v + excluded.v",
        # REPLACE BI-ignore: (1,3) skipped entirely, id1 not displaced
        "REPLACE INTO t(id,v) VALUES (1,3),(2,7)",
        # auto ids don't burn on ignored rows
        "INSERT INTO t(v) VALUES (1),(3),(5) "
        "ON CONFLICT(id) DO UPDATE SET v = excluded.v",
    )
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT rowid, m FROM log ORDER BY rowid")
    # displaced-delete IGNORE under recursive_triggers=ON: UNIQUE error
    run_both(db, ref, "DROP TRIGGER bi", "DROP TRIGGER bu", "DROP TRIGGER au",
             "PRAGMA recursive_triggers=ON", "DELETE FROM log",
             "CREATE TRIGGER bd BEFORE DELETE ON t BEGIN "
             "SELECT RAISE(IGNORE) WHERE OLD.id = 1; "
             "INSERT INTO log VALUES ('bd-'||OLD.id); END")
    import sqlite3 as _sq
    try:
        ref.execute("REPLACE INTO t(id,v) VALUES (1, 99), (2, 88)")
        werr = None
    except _sq.Error as e:
        werr = str(e)
    gerr = db.execute_string_stmt("REPLACE INTO t(id,v) VALUES (1, 99), (2, 88)")[0].error or None
    assert gerr == werr == "UNIQUE constraint failed: t.id"
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")


def test_raise_ignore_limit_delete_sqlite_differential(pair):
    """RAISE(IGNORE) on LIMIT-ed DELETE (r8): the IGNOREd victim is
    restored and NOT counted, the LIMIT does not backfill a replacement
    victim, and BEFORE/AFTER interleave per row (all sqlite3-probed)."""
    db, ref = pair
    run_both(
        db,
        ref,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INT)",
        "CREATE TABLE log (m TEXT)",
        "INSERT INTO t VALUES (1,1),(2,2),(3,3),(4,4)",
        "CREATE TRIGGER bd BEFORE DELETE ON t BEGIN "
        "SELECT RAISE(IGNORE) WHERE OLD.id = 1; "
        "INSERT INTO log VALUES ('bd-'||OLD.id); END",
        "DELETE FROM t WHERE v > 0 ORDER BY id LIMIT 2",
    )
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT changes()")
    run_both(
        db,
        ref,
        "DELETE FROM log",
        "DROP TRIGGER bd",
        "CREATE TRIGGER bd BEFORE DELETE ON t BEGIN "
        "SELECT RAISE(IGNORE) WHERE OLD.id = 3; "
        "INSERT INTO log VALUES ('bd-'||OLD.id); END",
        "CREATE TRIGGER ad AFTER DELETE ON t BEGIN "
        "INSERT INTO log VALUES ('ad-'||OLD.id); END",
        "DELETE FROM t ORDER BY id LIMIT 3",
    )
    q_both(db, ref, "SELECT id, v FROM t ORDER BY id")
    q_both(db, ref, "SELECT m FROM log ORDER BY rowid")
    q_both(db, ref, "SELECT changes()")
