"""Constraint differential machine: hypothesis drives random statement
sequences over the oltp_durable schema — plus a second UNIQUE column
and a two-column CHECK, and a second child of ``acct`` with foreign-key
actions — against DustSession AND in-process sqlite3. After every
statement both engines must agree on the error text (or its absence)
and on the full contents of every table.

The alphabet aims at the constraint pass: single- and multi-row
INSERTs with explicit and auto ids, in-batch duplicates and NULLs;
multi-row upserts whose DO UPDATE arms write UNIQUE columns, CHECK
columns or the rowid; multi-row INSERT OR IGNORE, INSERT OR REPLACE
and targetless DO NOTHING across the three key sets (id, email,
handle), where REPLACE may displace a parent of ``txn``;
UPDATEs that do and do not assign constrained columns (NOT NULL,
CHECK, both UNIQUE sets, the child key, the parent key); DELETEs on
both sides of the foreign key; and ``PRAGMA foreign_keys`` toggles,
which let dangling child rows in so that SQLite's changed-column and
counter rules are exercised. ``memo`` holds the actions: ON DELETE
CASCADE and ON UPDATE SET DEFAULT on a UNIQUE key with a CHECK, so the
parent DELETEs, REPLACEs, key UPDATEs and key-moving upserts drive
child statements that can fail their UNIQUE, CHECK or foreign key.
A drawn flag starts a sequence either from empty tables or from two
seeded parents with a memo each.

Out of the alphabet, as a known divergence of the set-based UPDATE
rather than of the constraint pass: multi-row UPDATEs that shift a
UNIQUE or key column by an expression of itself. SQLite checks each
row against the not-yet-updated rows, a set-based post-image cannot.
Multi-row UPDATEs here assign constants, which both engines judge
alike.
"""

from __future__ import annotations

import sqlite3

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dust_spark import DustSession
from tests._budget import examples

DDL = [
    "CREATE TABLE acct (id INTEGER PRIMARY KEY, email TEXT NOT NULL UNIQUE, "
    "handle TEXT UNIQUE, balance REAL NOT NULL CHECK(balance>=0), note TEXT, "
    "lo INT, hi INT, CHECK(lo <= hi))",
    "CREATE TABLE txn (id INTEGER PRIMARY KEY, acct_id INTEGER NOT NULL REFERENCES acct(id), "
    "amount REAL NOT NULL)",
    "CREATE TABLE memo (id INTEGER PRIMARY KEY, acct_id INTEGER UNIQUE DEFAULT 1 "
    "REFERENCES acct(id) ON DELETE CASCADE ON UPDATE SET DEFAULT, tag TEXT, CHECK (acct_id <> 1 OR tag IS NULL))",
]
TABLES = ("acct", "txn", "memo")
# two parents with a memo each, so that the parent DELETEs, REPLACEs and
# key UPDATEs meet action children from the first statement on
SEED = [
    "INSERT INTO acct(id, email, balance, lo, hi) VALUES (1, 'e1', 2.5, 0, 1), (2, 'e2', 0.0, 1, 2)",
    "INSERT INTO memo VALUES (1, 1, NULL), (2, 2, 't1')",
]


def _lit(v) -> str:
    if v is None:
        return "NULL"
    return f"'{v}'" if isinstance(v, str) else str(v)


_ID = st.integers(1, 6)
_OPT_ID = st.one_of(st.none(), _ID)
_EMAIL = st.one_of(st.none(), st.sampled_from(["e1", "e2", "e3", "e4"]))
_HANDLE = st.one_of(st.none(), st.sampled_from(["h1", "h2"]))
_BAL = st.sampled_from([None, -1.5, 0.0, 2.5, 7.0])
_SMALL = st.one_of(st.none(), st.integers(0, 3))
_AMOUNT = st.sampled_from([None, 1.5, 4.0])

_ACCT_ROW = st.tuples(_OPT_ID, _EMAIL, _HANDLE, _BAL, _SMALL, _SMALL)
_TXN_ROW = st.tuples(_OPT_ID, _OPT_ID, _AMOUNT)
_TAG = st.sampled_from([None, "t1", "t2"])
_MEMO_ROW = st.tuples(_OPT_ID, _OPT_ID, _TAG)


def _insert(table: str, cols: list[str], rows: list[tuple]) -> str:
    # an all-NULL id column is left out: every id is auto-assigned
    if all(r[0] is None for r in rows):
        cols, rows = cols[1:], [r[1:] for r in rows]
    vals = ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)
    return f"INSERT INTO {table}({', '.join(cols)}) VALUES {vals}"


_UPSERT_ARMS = [
    ("id", "handle = excluded.handle, balance = excluded.balance"),
    ("id", "id = excluded.id + 3"),
    ("email", "handle = 'h1'"),
    ("email", "lo = excluded.lo, hi = excluded.hi, note = 'u'"),
]


def _upsert(rows: list[tuple], arm: tuple[str, str]) -> str:
    target, sets = arm
    stmt = _insert("acct", ["id", "email", "handle", "balance", "lo", "hi"], rows)
    return f"{stmt} ON CONFLICT({target}) DO UPDATE SET {sets}"


_OPS = st.one_of(
    st.sampled_from(["PRAGMA foreign_keys=ON", "PRAGMA foreign_keys=OFF"]),
    st.lists(_ACCT_ROW, min_size=1, max_size=3).map(
        lambda rs: _insert("acct", ["id", "email", "handle", "balance", "lo", "hi"], rs)
    ),
    st.tuples(st.lists(_ACCT_ROW, min_size=1, max_size=3), st.sampled_from(_UPSERT_ARMS)).map(
        lambda x: _upsert(*x)
    ),
    # the conflict clauses that resolve all three key sets row by row
    st.tuples(st.sampled_from(["INSERT OR IGNORE", "INSERT OR REPLACE"]), st.lists(_ACCT_ROW, min_size=1, max_size=3)).map(
        lambda x: _insert("acct", ["id", "email", "handle", "balance", "lo", "hi"], x[1]).replace("INSERT", x[0], 1)
    ),
    st.lists(_ACCT_ROW, min_size=1, max_size=3).map(
        lambda rs: _insert("acct", ["id", "email", "handle", "balance", "lo", "hi"], rs) + " ON CONFLICT DO NOTHING"
    ),
    st.lists(_TXN_ROW, min_size=1, max_size=3).map(
        lambda rs: _insert("txn", ["id", "acct_id", "amount"], rs)
    ),
    st.tuples(_BAL, _ID).map(lambda x: f"UPDATE acct SET balance = {_lit(x[0])} WHERE id = {x[1]}"),
    st.sampled_from([-3.0, 1.0]).map(lambda d: f"UPDATE acct SET balance = balance + {d}"),
    st.tuples(_EMAIL, _ID).map(lambda x: f"UPDATE acct SET email = {_lit(x[0])} WHERE id = {x[1]}"),
    st.tuples(_HANDLE, _SMALL).map(
        lambda x: f"UPDATE acct SET handle = {_lit(x[0])} WHERE lo >= {_lit(x[1])}"
    ),
    st.tuples(_SMALL, _SMALL).map(lambda x: f"UPDATE acct SET lo = {_lit(x[0])}, hi = {_lit(x[1])}"),
    st.tuples(_SMALL, _ID).map(lambda x: f"UPDATE acct SET note = 'n', lo = {_lit(x[0])} WHERE id = {x[1]}"),
    st.tuples(_ID, _ID).map(lambda x: f"UPDATE acct SET id = {x[0]} WHERE id = {x[1]}"),
    st.tuples(_OPT_ID, _ID).map(lambda x: f"UPDATE txn SET acct_id = {_lit(x[0])} WHERE id = {x[1]}"),
    _OPT_ID.map(lambda a: f"UPDATE txn SET acct_id = {_lit(a)} WHERE amount > 2"),
    st.tuples(_AMOUNT, _ID).map(lambda x: f"UPDATE txn SET amount = {_lit(x[0])} WHERE id = {x[1]}"),
    _ID.map(lambda i: f"DELETE FROM acct WHERE id = {i}"),
    _SMALL.map(lambda v: f"DELETE FROM acct WHERE lo = {_lit(v)}"),
    _ID.map(lambda i: f"DELETE FROM txn WHERE id = {i}"),
    _ID.map(lambda a: f"DELETE FROM txn WHERE acct_id = {a}"),
    st.lists(_MEMO_ROW, min_size=1, max_size=2).map(lambda rs: _insert("memo", ["id", "acct_id", "tag"], rs)),
    st.tuples(_OPT_ID, _ID).map(lambda x: f"UPDATE memo SET acct_id = {_lit(x[0])} WHERE id = {x[1]}"),
    st.tuples(_TAG, _ID).map(lambda x: f"UPDATE memo SET tag = {_lit(x[0])} WHERE id = {x[1]}"),
    _ID.map(lambda i: f"DELETE FROM memo WHERE id = {i}"),
)


@settings(
    max_examples=examples(60),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(seeded=st.booleans(), ops=st.lists(_OPS, min_size=4, max_size=14))
def test_constraint_machine_matches_sqlite(spark, seeded, ops):
    ref = sqlite3.connect(":memory:")
    ref.isolation_level = None
    db = DustSession(spark)
    try:
        for ddl in ["PRAGMA foreign_keys=ON", *DDL, *(SEED if seeded else [])]:
            ref.execute(ddl)
            assert db.execute_string_stmt(ddl)[0].error == ""
        for op in ops:
            try:
                ref.execute(op)
                want = None
            except sqlite3.Error as e:
                want = str(e)
            got = db.execute_string_stmt(op)[0].error or None
            assert got == want, (ops, op, want, got)
            for t in TABLES:
                q = f"SELECT * FROM {t} ORDER BY id"
                rows = [list(r) for r in ref.execute(q).fetchall()]
                have = [list(r) for r in db.query_string_stmt(q)[0].values]
                assert have == rows, (ops, op, t, have, rows)
    finally:
        db.close()
        ref.close()
