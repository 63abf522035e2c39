"""SQLite's lexical rules, end to end: comments are whitespace, ``[x]``,
```x``` and ``"x"`` are identifiers, and double-quoted names in UPDATE /
DELETE fragments resolve like sqlite3 (falling back to a string literal
when no column has the name).

Each case runs its statements against DustSession and in-process
sqlite3 and compares, per statement, the error text, changes() and the
result columns and rows; after the case, every table in both engines.
The lexer property test needs no Spark: it holds the lexer's notion of
"this text ends with a complete statement" against SQLite's own
tokenizer, ``sqlite3.complete_statement``.
"""

from __future__ import annotations

import sqlite3

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dust_spark import DustSession
from dust_spark import dialect
from tests._budget import examples

SETUP = [
    "PRAGMA foreign_keys=ON",
    "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)",
    "INSERT INTO t VALUES (1, 'a'), (2, 'b')",
    "CREATE TABLE k (id INTEGER PRIMARY KEY, [where] INT, [limit] INT, [order] INT, [a b] INT)",
    "INSERT INTO k VALUES (1, 0, 0, 1, 2), (2, 0, 0, 3, 4)",
    "CREATE TABLE d (id INTEGER PRIMARY KEY, v INT)",
    "INSERT INTO d VALUES (1, 0), (2, 1)",
    "CREATE TABLE p (id INTEGER PRIMARY KEY)",
    "INSERT INTO p VALUES (1)",
]

CASES = {
    # comments are whitespace
    "leading-line-comment-insert": ["-- c\nINSERT INTO t VALUES (3, 'c')"],
    "block-comment-hides-where": ["UPDATE t SET v = 7 /* WHERE id = 2 */ WHERE id = 1"],
    "line-comment-hides-where": ["DELETE FROM t -- WHERE id = 1\n WHERE id = 2"],
    "comment-between-name-and-values": ["INSERT INTO t /* (v) */ VALUES (4, 'y')"],
    "comment-before-on-conflict": [
        "INSERT INTO t VALUES (1, 'z') /* ON CONFLICT DO NOTHING */ "
        "ON CONFLICT(id) DO UPDATE SET v = 'u'"
    ],
    "quote-in-comment-keeps-division": ["SELECT 7 / 2 -- isn't\n"],
    "quote-in-comment-column-name": ["SELECT id -- don't\n FROM t WHERE v = 'b'"],
    "comma-in-comment-column-list": [
        "CREATE TABLE c3 (a INT, -- first, col\n b TEXT)",
        "INSERT INTO c3 VALUES (1, 'x')",
    ],
    "paren-in-comment-check": [
        "CREATE TABLE c4 (a INT, CHECK (a > 0 /* ) */))",
        "INSERT INTO c4 VALUES (1)",
        "INSERT INTO c4 VALUES (-1)",
    ],
    "end-in-comment-trigger-body": [
        "CREATE TABLE log (x TEXT)",
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN "
        "INSERT INTO log VALUES ('n' || NEW.id) /* it's; END */; INSERT INTO log VALUES ('m'); END",
        "INSERT INTO t VALUES (5, 'e')",
    ],
    # guard: sqlite_master keeps the text as written, comments included
    "sqlite-master-keeps-comment": [
        "CREATE TABLE c5 (a INT /* keep */, b TEXT -- and this\n)",
        "SELECT sql FROM sqlite_master WHERE name = 'c5'",
    ],
    # [bracket] / `backtick` identifiers
    "bracket-keyword-set-column": ["UPDATE k SET [where] = 5 WHERE id = 1"],
    "bracket-keyword-where-column": ["DELETE FROM k WHERE [limit] = 0 AND id = 2"],
    "bracket-select-items": ["SELECT [order], [a b] FROM k"],
    "backtick-paren-in-check": [
        "CREATE TABLE c6 (`a)` INT CHECK (`a)` > 0))",
        "INSERT INTO c6 VALUES (1)",
        "INSERT INTO c6 VALUES (0)",
    ],
    "bracket-references": [
        "CREATE TABLE c7 (id INTEGER PRIMARY KEY, pid INT REFERENCES [p](id))",
        "INSERT INTO c7 VALUES (1, 1)",
        "INSERT INTO c7 VALUES (2, 9)",
    ],
    # "double-quoted" names in DML fragments
    "dquote-column-in-set": ["UPDATE d SET v = \"v\" + 10 WHERE id = 2"],
    "dquote-column-in-update-where": ["UPDATE d SET v = 5 WHERE \"v\" = 0"],
    "dquote-column-in-delete-where": ["DELETE FROM d WHERE \"v\" = 0"],
    # guard: a double-quoted token naming no column stays a string
    "dquote-string-fallback": ["UPDATE t SET v = \"nocol\" WHERE id = 1"],
    "dquote-string-fallback-delete": ["DELETE FROM d WHERE v = \"nocol\""],
    # a "x" naming a column of another table in scope is that column
    "dquote-column-of-update-from-source": [
        "CREATE TABLE s (id INTEGER PRIMARY KEY, nv INT)",
        "INSERT INTO s VALUES (2, 10)",
        "UPDATE d SET v = \"nv\" FROM s WHERE d.id = s.id",
    ],
    "dquote-column-in-subquery": [
        "CREATE TABLE s (id INTEGER PRIMARY KEY, nv INT)",
        "INSERT INTO s VALUES (2, 10)",
        "UPDATE d SET v = 5 WHERE id IN (SELECT id FROM s WHERE \"nv\" = 10)",
    ],
    # quoted table names in FROM keep the column classes and the rowid
    # aliases that FROM gives unquoted names
    "backtick-table-int-division": [
        "CREATE TABLE n (a INTEGER)",
        "INSERT INTO n VALUES (7)",
        "SELECT a / 2 FROM `n`",
    ],
    "bracket-table-int-division": [
        "CREATE TABLE n (a INTEGER)",
        "INSERT INTO n VALUES (7)",
        "SELECT a / 2 FROM [n]",
    ],
    "dquote-tables-qualified-rowid": [
        "CREATE TABLE r1 (a INT)",
        "CREATE TABLE r2 (a INT)",
        "INSERT INTO r1 VALUES (5), (6)",
        "INSERT INTO r2 VALUES (6), (5)",
        "SELECT r1.rowid, r2.rowid FROM \"r1\" JOIN \"r2\" ON r1.a = r2.a ORDER BY 1",
    ],
    # a named CHECK keeps its name when ADD COLUMN re-renders the table
    "named-check-survives-add-column": [
        "CREATE TABLE c8 (flag INT, CONSTRAINT flagged CHECK (flag))",
        "ALTER TABLE c8 ADD COLUMN b INT",
        "SELECT sql LIKE '%CONSTRAINT flagged CHECK%' FROM sqlite_master WHERE name = 'c8'",
        "INSERT INTO c8 VALUES (0, 1)",
    ],
}


def _run_ref(ref, sql):
    """(error, changes, columns, rows) of one statement in sqlite3."""
    try:
        cur = ref.execute(sql)
    except sqlite3.Error as e:
        return str(e), None, None, None
    if cur.description is not None:
        return None, None, [c[0] for c in cur.description], [list(r) for r in cur.fetchall()]
    # rowcount is changes() for DML, -1 for every other statement
    return None, cur.rowcount if cur.rowcount >= 0 else None, None, None


def _run_dust(db, sql, reads):
    if reads:
        try:
            rows = db.query_string_stmt(sql)[0]
        except Exception as e:  # noqa: BLE001  the error text is compared
            return str(e), None, None, None
        return None, None, rows.columns, [list(r) for r in rows.values]
    resp = db.execute_string_stmt(sql)[0]
    if resp.error:
        return resp.error, None, None, None
    return None, resp.rows_affected, None, None


@pytest.mark.parametrize("stmts", list(CASES.values()), ids=list(CASES))
def test_lexical_rules_match_sqlite(spark, stmts):
    ref = sqlite3.connect(":memory:")
    ref.isolation_level = None
    db = DustSession(spark)
    try:
        for s in SETUP:
            ref.execute(s)
            assert db.execute_string_stmt(s)[0].error == "", s
        for s in stmts:
            want = _run_ref(ref, s)
            got = _run_dust(db, s, reads=want[2] is not None)
            if want[0] is not None or want[1] is None:
                got = (got[0], want[1], *got[2:])
            assert got == want, s
        tables = [r[0] for r in ref.execute(
            "SELECT name FROM sqlite_master WHERE type = 'table' ORDER BY name"
        )]
        for t in tables:
            q = f"SELECT * FROM {t} ORDER BY 1"
            have = [list(r) for r in db.query_string_stmt(q)[0].values]
            assert have == [list(r) for r in ref.execute(q).fetchall()], t
    finally:
        db.close()
        ref.close()


_FRAGMENTS = ["'a''b'", '"x;"', "`y`", "[z;]", "-- ;\n", "/* ; */", "(", ")", ";", "SELECT", "t", "1", " "]


@settings(max_examples=examples(600), deadline=None)
@given(parts=st.lists(st.sampled_from(_FRAGMENTS), max_size=12))
def test_lexer_agrees_with_sqlite_complete_statement(parts):
    text = "".join(parts)
    toks = dialect.tokens(text)
    ends_with_semicolon = bool(toks) and toks[-1][0] == "op" and toks[-1][1] == ";"
    assert ends_with_semicolon == sqlite3.complete_statement(text), text
    # comments never make the typed passes give up
    assert dialect._typed_tokenize(text) is not None, text
