"""SQLite-dialect front end: statement classification, CREATE TABLE
parsing with SQLite type affinity, SET-clause / VALUES splitting, and
the deterministic-statement guard.

The reference passes SQL text straight to SQLite (db/src/db.rs:176,278).
We pass query text straight to Spark SQL; this module only parses the
*shape* of write statements (INSERT/UPDATE/DELETE/DDL) — all expression
evaluation stays inside Catalyst (SURVEY.md §4.2 "custom needed" rows).
"""

from __future__ import annotations

import bisect
import functools
import math
import re
import threading
from dataclasses import dataclass, field

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# the lexer: SQLite's lexical rules (tokenize.c) in one place. Every
# scanner in this module asks it what is a string literal, a quoted
# identifier ("x", `x`, [x]), a comment (-- to end of line, /* to */ or
# end of text) and where a paren group ends. Unterminated literals,
# identifiers and comments run to the end of the text, as in SQLite; a
# character no rule covers is a one-character ``other`` token, so lexing
# never fails.
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+)
      | (?P<comment>--[^\n]*|/\*(?:.*?\*/|.*))
      | (?P<blob>[xX]'[0-9A-Fa-f]*')
      | (?P<str>'(?:[^']|'')*'?)
      | (?P<qid>"(?:[^"]|"")*"?|`(?:[^`]|``)*`?|\[[^\]]*\]?)
      | (?P<num>0[xX][0-9A-Fa-f]+|(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?[dD]?)
      | (?P<word>[A-Za-z_]\w*)
      | (?P<op><=|>=|<>|!=|==|\|\||<<|>>|[=<>/*%+\-.,();&|~?:@])
      | (?P<other>.)
    """,
    re.X | re.S,
)

#: a table / column / constraint name in the statement-shape regexes
_IDENT = r"(?:\"[^\"]+\"|`[^`]+`|\[[^\]]+\]|\w+)"

#: token kinds whose text is opaque to every rewrite
_OPAQUE = frozenset(("str", "blob", "qid", "comment"))


#: the total length of the texts whose tokens each memo below keeps: the
#: tokens of ``_lex`` and ``tokens`` together take ~200 bytes per
#: character of text, so both memos hold at most ~13 MB; a longer text
#: is lexed per call and kept nowhere
_CACHE_CHARS = 1 << 16


def _text_memo(fn):
    """``fn`` of one text, memoised least-recently-used first out within
    a budget of ``_CACHE_CHARS`` characters of text."""
    memo: dict[str, tuple] = {}
    held = 0
    lock = threading.Lock()

    @functools.wraps(fn)
    def lookup(sql: str):
        nonlocal held
        with lock:
            got = memo.pop(sql, None)
            if got is not None:
                memo[sql] = got  # now the most recent
                return got
        got = fn(sql)
        if len(sql) <= _CACHE_CHARS:
            with lock:
                if sql not in memo:
                    held += len(sql)
                memo[sql] = got
                while held > _CACHE_CHARS:
                    old = next(iter(memo))
                    held -= len(old)
                    del memo[old]
        return got

    return lookup


@_text_memo
def _lex(sql: str) -> tuple:
    """All non-whitespace tokens of ``sql``, comments included, as
    (kind, text, start, end)."""
    return tuple(
        (m.lastgroup, m.group(), m.start(), m.end())
        for m in _TOKEN_RE.finditer(sql)
        if m.lastgroup != "ws"
    )


@_text_memo
def tokens(sql: str) -> tuple:
    """The code tokens of ``sql`` — comments are whitespace — as
    (kind, text, start, end, depth, mate): ``depth`` counts the paren
    groups enclosing the token (a paren counts as outside its own
    group) and ``mate`` is the index of a paren's partner (-1 for an
    unmatched paren and for every other token)."""
    out, stack = [], []
    for kind, text, s, e in _lex(sql):
        if kind == "comment":
            continue
        if text == "(" and kind == "op":
            stack.append(len(out))
            out.append([kind, text, s, e, len(stack) - 1, -1])
        elif text == ")" and kind == "op" and stack:
            o = stack.pop()
            out[o][5] = len(out)
            out.append([kind, text, s, e, len(stack), o])
        else:
            out.append([kind, text, s, e, len(stack), -1])
    return tuple(map(tuple, out))


def _tok_at(toks, i: int) -> int:
    """Index of the token starting at offset ``i`` (-1: none does)."""
    k = bisect.bisect_left(toks, i, key=lambda t: t[2])
    return k if k < len(toks) and toks[k][2] == i else -1


def blank_comments(sql: str) -> str:
    """``sql`` with every comment replaced by spaces of the same length,
    so the statement-shape regexes read comments as whitespace and
    their match offsets still index the original text. The session
    blanks a statement once, where it dispatches it, and every
    statement parser reads that text; only the consumers that keep
    comments (CREATE TABLE / TRIGGER source text and CHECK labels, the
    RETURNING split, whose core is journaled, and SQLite's expression
    column names) blank their own copy."""
    if "--" not in sql and "/*" not in sql:
        return sql
    out, last = [], 0
    for kind, _, s, e in _lex(sql):
        if kind == "comment":
            out.append(sql[last:s])
            out.append(" " * (e - s))
            last = e
    out.append(sql[last:])
    return "".join(out)


def _span(sql: str, toks) -> str:
    """The text from the first to the last of ``toks`` (interior
    comments kept, leading and trailing ones dropped)."""
    return sql[toks[0][2] : toks[-1][3]] if toks else ""


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parens, literals, identifiers and
    comments; each part is the text of its own tokens, so a part never
    starts or ends inside a comment."""
    parts, cur = [], []
    for t in tokens(s):
        if t[4] == 0 and t[1] == sep and t[0] == "op":
            parts.append(_span(s, cur))
            cur = []
        else:
            cur.append(t)
    parts.append(_span(s, cur))
    return [p for p in parts if p]


def find_top_level(s: str, pat, start: int = 0) -> int:
    """Offset of the first code token at or after ``start``, outside
    any paren group that opens after ``start``, where ``pat`` matches;
    -1 when there is none. ``pat`` is a compiled regex or a keyword
    (case-insensitive; a multi-word keyword such as "ON CONFLICT"
    tolerates any whitespace between its words). A keyword matches
    only at a word token, never as the prefix of a longer word."""
    if isinstance(pat, str):
        pat = _keyword_re(pat)
    toks = tokens(s)
    k = bisect.bisect_left(toks, start, key=lambda t: t[2])
    if k == len(toks):
        return -1
    base = toks[k][4]
    for t in toks[k:]:
        if t[4] < base:
            return -1  # the group holding ``start`` closed
        if t[4] == base and pat.match(s, t[2]):
            return t[2]
    return -1


@functools.lru_cache(maxsize=64)
def _keyword_re(keyword: str):
    return re.compile(
        r"\s+".join(re.escape(w) for w in keyword.split()) + r"(?![\w$])", re.I
    )


def paren_end(s: str, i: int) -> int:
    """``i`` at '(' → offset one past its matching ')'."""
    toks = tokens(s)
    k = _tok_at(toks, i)
    if k < 0 or toks[k][5] < 0 or toks[k][1] != "(":
        raise ValueError("unbalanced parentheses")
    return toks[toks[k][5]][3]


def _map_outside_strings(sql: str, fn) -> str:
    """Apply ``fn`` to the code between literals, quoted identifiers and
    comments (which pass through untouched)."""
    out, last = [], 0
    for kind, _, s, e in _lex(sql):
        if kind in _OPAQUE:
            out.append(fn(sql[last:s]))
            out.append(sql[s:e])
            last = e
    out.append(fn(sql[last:]))
    return "".join(out)


def _map_tokens(sql: str, kinds, fn) -> str:
    """Replace each token whose kind is in ``kinds`` by ``fn(text)``."""
    out, last = [], 0
    for kind, text, s, e in _lex(sql):
        if kind in kinds:
            out.append(sql[last:s])
            out.append(fn(text))
            last = e
    out.append(sql[last:])
    return "".join(out)


# --------------------------------------------------------------------------
# statement classification
# --------------------------------------------------------------------------

_FIRST_WORD = re.compile(r"^\s*([A-Za-z]+)", re.S)

WRITE_KINDS = {
    "INSERT",
    "UPDATE",
    "DELETE",
    "CREATE",
    "DROP",
    "ALTER",
    "PRAGMA",
    "REPLACE",
    "VACUUM",
    "ANALYZE",
    "REINDEX",
}


_WITH_HEAD_RE = re.compile(r"^\s*WITH\s+(?:RECURSIVE\s+)?", re.I)
_CTE_DEF_RE = re.compile(rf"\s*{_IDENT}\s*(\([^)]*\))?\s+AS\s*\(", re.I)


_SP_NAME = r"(?:\"(?P<dq>[^\"]+)\"|'(?P<sq>[^']+)'|`(?P<bq>[^`]+)`|\[(?P<br>[^\]]+)\]|(?P<id>[A-Za-z_][\w$]*))"
_SAVEPOINT_RE = re.compile(rf"^\s*SAVEPOINT\s+{_SP_NAME}\s*;?\s*$", re.I)
_RELEASE_RE = re.compile(rf"^\s*RELEASE\s+(?:SAVEPOINT\s+)?{_SP_NAME}\s*;?\s*$", re.I)
_ROLLBACK_TO_RE = re.compile(
    rf"^\s*ROLLBACK\s+(?:TRANSACTION\s+)?TO\s+(?:SAVEPOINT\s+)?{_SP_NAME}\s*;?\s*$", re.I
)


def parse_savepoint_stmt(sql: str):
    """(op, name) for SAVEPOINT / RELEASE [SAVEPOINT] / ROLLBACK
    [TRANSACTION] TO [SAVEPOINT] statements (lang_savepoint.html), else
    None. op is 'SAVEPOINT' | 'RELEASE' | 'ROLLBACK_TO'; the name keeps
    its original case (matching is case-insensitive at the session)."""
    for op, rx in (
        ("SAVEPOINT", _SAVEPOINT_RE),
        ("RELEASE", _RELEASE_RE),
        ("ROLLBACK_TO", _ROLLBACK_TO_RE),
    ):
        m = rx.match(sql)
        if m:
            name = next(g for g in (m.group("dq"), m.group("sq"), m.group("bq"), m.group("br"), m.group("id")) if g is not None)
            return op, name
    return None


def split_with_prefix(sql: str):
    """Split ``WITH ctes... <stmt>`` into (cte_text, rest_stmt); None
    when ``sql`` isn't WITH-prefixed or the CTE list doesn't parse."""
    m = _WITH_HEAD_RE.match(sql)
    if not m:
        return None
    i = m.end()
    while True:
        mm = _CTE_DEF_RE.match(sql, i)
        if not mm:
            return None
        try:
            i = paren_end(sql, mm.end() - 1)
        except ValueError:
            return None
        mc = re.match(r"\s*,", sql[i:])
        if mc:
            i += mc.end()
            continue
        break
    rest = sql[i:].lstrip()
    return (sql[:i], rest) if rest else None


def statement_kind(sql: str) -> str:
    """First keyword, uppercased: SELECT / INSERT / CREATE / ... ;
    'EMPTY' for blank statements. ``WITH ctes INSERT/UPDATE/DELETE``
    classifies as the DML statement it wraps (SQLite allows CTEs on
    DML), plain ``WITH ... SELECT`` stays a read. ``sql`` is code text
    (:func:`blank_comments`)."""
    m = _FIRST_WORD.match(sql or "")
    if not m:
        return "EMPTY"
    kind = m.group(1).upper()
    if kind == "WITH":
        sp = split_with_prefix(sql)
        if sp:
            w = _FIRST_WORD.match(sp[1])
            inner = w.group(1).upper() if w else ""
            if inner in ("INSERT", "UPDATE", "DELETE", "REPLACE"):
                return inner
        return "WITH"
    if kind == "CREATE":
        rest = sql[m.end() :].lstrip().upper()
        if rest.startswith("INDEX") or rest.startswith("UNIQUE"):
            return "CREATE_INDEX"
        if rest.startswith("VIEW") or rest.startswith("TEMP VIEW") or rest.startswith("TEMPORARY VIEW"):
            return "CREATE_VIEW"
        if rest.startswith("TRIGGER") or rest.startswith("TEMP TRIGGER") or rest.startswith("TEMPORARY TRIGGER"):
            return "CREATE_TRIGGER"
        return "CREATE_TABLE"
    return kind


# --------------------------------------------------------------------------
# deterministic-statement guard (reference README.md:30-33: only
# deterministic SQL is safe under statement-based replication)
# --------------------------------------------------------------------------

_NONDET = re.compile(
    r"\b(__sqlite_random|random|randomblob|rand|randn|uuid|current_timestamp|"
    r"current_date|"
    r"current_time|now|unix_timestamp\s*\(\s*\)|monotonically_increasing_id)\b",
    re.I,
)


def nondeterministic_reason(sql: str) -> str | None:
    for t in tokens(sql):
        m = _NONDET.match(sql, t[2]) if t[0] == "word" else None
        if m:
            return (
                f"non-deterministic function '{m.group(1)}' rejected: statement-based "
                "replication requires deterministic SQL"
            )
    return None


# --------------------------------------------------------------------------
# identifier / literal helpers
# --------------------------------------------------------------------------


def _closed(text: str) -> bool:
    """A literal or quoted-identifier token has its closing quote."""
    q = text[0]
    if q == "[":
        return text.endswith("]")
    return len(text) > 1 and text.count(q) % 2 == 0


def _dequote(q: str) -> str:
    """The content of a literal or quoted-identifier token, read the way
    sqlite3Dequote reads it: doubled quotes are one, and an unterminated
    token runs to the end of the text."""
    body = q[1:-1] if _closed(q) else q[1:]
    return body if q[0] == "[" else body.replace(q[0] * 2, q[0])


def unquote_ident(name: str) -> str:
    name = name.strip()
    if name[:1] in ('"', "`", "[", "'") and _closed(name):
        return _dequote(name)
    return name


# --------------------------------------------------------------------------
# SQLite type affinity → Spark types (SURVEY.md §1.2; SQLite affinity
# rules: INT→INTEGER, CHAR/CLOB/TEXT→TEXT, BLOB/none→BLOB, REAL/FLOA/
# DOUB→REAL, else NUMERIC)
# --------------------------------------------------------------------------


def affinity_type(decl: str) -> T.DataType:
    d = (decl or "").upper()
    if "INT" in d:
        return T.LongType()
    if "CHAR" in d or "CLOB" in d or "TEXT" in d or "JSON" in d or "STRING" in d:
        # column-level COLLATE NOCASE maps to a collated Spark string
        # type: comparisons/ORDER BY against the column are then
        # case-insensitive engine-wide, like SQLite
        if re.search(r"\bCOLLATE\s+(NOCASE|UTF8_LCASE)\b", re.sub(r"\s+", " ", d)):
            return T.StringType("UTF8_LCASE")
        if re.search(r"\bCOLLATE\s+(RTRIM|UTF8_BINARY_RTRIM)\b", re.sub(r"\s+", " ", d)):
            return T.StringType("UTF8_BINARY_RTRIM")
        return T.StringType()
    if d == "" or "BLOB" in d:
        return T.BinaryType()
    if "REAL" in d or "FLOA" in d or "DOUB" in d:
        return T.DoubleType()
    if "BOOL" in d:
        return T.BooleanType()
    if "TIMESTAMP" in d or "DATETIME" in d:
        return T.TimestampType()
    if "DATE" in d:
        return T.DateType()
    if "DEC" in d or "NUM" in d:
        return T.DoubleType()
    return T.StringType()


# --------------------------------------------------------------------------
# CREATE TABLE parser
# --------------------------------------------------------------------------


# Hidden storage column carrying the rowid of an implicit-rowid table
# (a rowid table with no INTEGER PRIMARY KEY alias — SQLite's default
# table form, lang_createtable.html#rowid). The column lives in the
# stored DataFrame but is dropped from the registered view, hidden from
# PRAGMA table_info and excluded from positional INSERT binding.
HIDDEN_ROWID = "__dust_rowid__"

_ROWID_NAMES = ("rowid", "_rowid_", "oid")


@dataclass
class ForeignKey:
    """FOREIGN KEY (cols...) REFERENCES t(ref_cols...) — composite keys
    carry parallel column tuples (SQLite lang_foreignkeys; match NONE
    semantics: a child row with ANY NULL key column is exempt). An
    EMPTY ref_columns means ``REFERENCES t`` with no column list: the
    target is the parent's PRIMARY KEY, resolved at enforcement time
    (and reported as NULL by PRAGMA foreign_key_list, sqlite3-probed).
    Actions: ON DELETE NO ACTION/RESTRICT/CASCADE/SET NULL are
    enforced; ON UPDATE non-defaults and SET DEFAULT are rejected
    loudly at CREATE (session layer)."""

    columns: tuple
    ref_table: str
    ref_columns: tuple
    on_update: str = "NO ACTION"
    on_delete: str = "NO ACTION"

    def __post_init__(self):
        # tolerate single-string construction (legacy manifest rows)
        if isinstance(self.columns, str):
            self.columns = (self.columns,)
        if isinstance(self.ref_columns, str):
            self.ref_columns = (self.ref_columns,)
        self.columns = tuple(self.columns)
        self.ref_columns = tuple(self.ref_columns)


_FK_ACTION_RE = re.compile(
    r"ON\s+(DELETE|UPDATE)\s+(SET\s+NULL|SET\s+DEFAULT|CASCADE|RESTRICT|NO\s+ACTION)",
    re.I,
)


def _fk_actions(text: str) -> tuple[str, str]:
    """(on_update, on_delete) from an FK clause's trailing action list."""
    ou = od = "NO ACTION"
    for m in _FK_ACTION_RE.finditer(text):
        act = re.sub(r"\s+", " ", m.group(2).upper())
        if m.group(1).upper() == "DELETE":
            od = act
        else:
            ou = act
    return ou, od


@dataclass
class TableDef:
    name: str
    schema: T.StructType
    declared_types: dict[str, str] = field(default_factory=dict)
    primary_key: list[str] = field(default_factory=list)
    not_null: set = field(default_factory=set)
    unique: list[list[str]] = field(default_factory=list)
    foreign_keys: list[ForeignKey] = field(default_factory=list)
    # CHECK constraints in declaration order, as (label, expr_sql):
    # label is the constraint name when given, else the expression text
    # verbatim — SQLite's error-message rule ("CHECK constraint failed:
    # a > 0" vs "... failed: bpos", probed against sqlite3 3.x)
    checks: list[tuple[str, str]] = field(default_factory=list)
    # origin column of each check (parallel to ``checks``): the column
    # whose definition carried it, or None for table-level constraints.
    # DROP COLUMN semantics hinge on this (r6-probed): a check defined
    # ON the dropped column vanishes silently with it, while any OTHER
    # check still referencing the column makes the drop fail with
    # SQLite's post-drop revalidation error
    check_origins: list = field(default_factory=list)
    # original CREATE TABLE text for the sqlite_master 'sql' column;
    # None after column-level ALTERs (the text is then synthesized)
    source_sql: str | None = None
    # GENERATED ALWAYS AS columns: col -> expression SQL (computed on
    # every write; VIRTUAL vs STORED is observationally identical in a
    # copy-on-write engine, both store the computed value). The declared
    # keyword is kept only for PRAGMA table_xinfo's hidden flag (2 vs 3)
    generated: dict[str, str] = field(default_factory=dict)
    generated_stored: set = field(default_factory=set)
    # INTEGER PRIMARY KEY column (rowid alias), or HIDDEN_ROWID for an
    # implicit-rowid table, or None for WITHOUT ROWID
    rowid_column: str | None = None
    # INTEGER PRIMARY KEY AUTOINCREMENT: ids stay strictly monotone;
    # plain rowid tables follow SQLite's max(rowid)+1 rule, which can
    # reuse ids after the max row is deleted (sqlite3-probed)
    autoincrement: bool = False
    # CREATE TABLE ... STRICT (SQLite >= 3.37): rigid per-column typing
    # enforced on every write (lang_createtable.html#strict)
    strict: bool = False
    if_not_exists: bool = False
    defaults: dict[str, str] = field(default_factory=dict)  # column -> literal SQL

    @property
    def implicit_rowid(self) -> bool:
        return self.rowid_column == HIDDEN_ROWID

    def visible_fields(self) -> list:
        return [f for f in self.schema.fields if f.name != HIDDEN_ROWID]


_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    rf"(?P<name>{_IDENT})\s+AS\s+(?P<sel>SELECT\s+.*|WITH\s+.*)$",
    re.S | re.I,
)


def parse_ctas(sql: str):
    """(name, if_not_exists, select_sql) for CREATE TABLE ... AS SELECT,
    or None when the statement is a column-list CREATE TABLE."""
    m = _CTAS_RE.match(sql)
    if not m:
        return None
    return (
        unquote_ident(m.group("name")).lower(),
        bool(m.group("ine")),
        sql[m.start("sel") :].strip().rstrip(";"),
    )


_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    rf"(?P<name>{_IDENT})\s*\((?P<body>.*)\)\s*;?\s*$",
    re.S | re.I,
)

_COL_CONSTRAINT_WORDS = (
    "NOT", "PRIMARY", "UNIQUE", "REFERENCES", "DEFAULT", "CHECK",
    "COLLATE", "AUTOINCREMENT", "CONSTRAINT", "GENERATED", "AS",
)

_GENERATED_RE = re.compile(r"(?:GENERATED\s+ALWAYS\s+)?AS\s*\(", re.I)


def _group_body(s: str, i: int) -> tuple[str, int]:
    """(inner text, end offset) of the paren group opening at ``i``; an
    unclosed group runs to the end of ``s``."""
    try:
        e = paren_end(s, i)
    except ValueError:
        return s[i + 1 :], len(s)
    return s[i + 1 : e - 1], e


def _extract_generated(text: str) -> str | None:
    """The GENERATED ALWAYS AS (expr) / AS (expr) expression of a column
    def, or None."""
    m = _GENERATED_RE.search(text)
    return _group_body(text, m.end() - 1)[0].strip() if m else None


_CHECK_HEAD_RE = re.compile(
    rf"(?:CONSTRAINT\s+({_IDENT})\s+)?CHECK\s*\(", re.I
)


def extract_checks(text: str) -> list[tuple[str, str]]:
    """All (label, expr) CHECK constraints in a CREATE TABLE item, in
    declaration order. Label = constraint name when given, else the
    expression text as SQLite reports it (comments included); the
    expression is the text of its own tokens, so it embeds safely."""
    out: list[tuple[str, str]] = []
    shape, pos = blank_comments(text), 0
    while m := _CHECK_HEAD_RE.search(shape, pos):
        body, pos = _group_body(text, m.end() - 1)
        expr = _span(body, tokens(body))
        name = m.group(1)
        out.append((unquote_ident(name) if name else _check_label(body), expr))
    return out


def _check_label(text: str) -> str:
    """SQLite's label for an unnamed CHECK: its text, dequoted the way
    sqlite3Dequote does it — text that opens with a quote becomes that
    one quoted token's content (sqlite3-probed: ``CHECK ("b" > 0)``
    fails as "CHECK constraint failed: b")."""
    text = text.strip()
    if text[:1] not in ("'", '"', "`", "["):
        return text
    return _dequote(_lex(text)[0][1])


_REF_RE = re.compile(rf"REFERENCES\s+({_IDENT})\s*(?:\((\s*[^)]+\s*)\))?", re.I)


_TABLE_OPTS_RE = re.compile(
    r"\)\s*(?P<opts>(?:WITHOUT\s+ROWID|STRICT)(?:\s*,\s*(?:WITHOUT\s+ROWID|STRICT))*)\s*;?\s*$",
    re.I,
)

#: the ONLY datatypes a STRICT table accepts (lang_createtable.html#strict)
STRICT_TYPES = {"INT", "INTEGER", "REAL", "TEXT", "BLOB", "ANY"}


def parse_create_table(sql: str) -> TableDef:
    source_sql = sql.strip().rstrip(";")
    # the shape regexes read a comment-blanked copy; CHECK labels come
    # from the original text, where SQLite's messages keep comments
    raw, sql = sql, blank_comments(sql)
    # table options after the column list, comma-separable in any order
    # like SQLite: WITHOUT ROWID (tables store by PK directly in SQLite;
    # here every table is PK-organized anyway — accept the clause and
    # suppress the rowid alias) and STRICT (rigid typing, enforced on
    # the write path)
    without_rowid = strict = False
    m_opts = _TABLE_OPTS_RE.search(sql)
    if m_opts:
        for tok in re.split(r"\s*,\s*", m_opts.group("opts")):
            t = re.sub(r"\s+", " ", tok.strip().upper())
            without_rowid |= t == "WITHOUT ROWID"
            strict |= t == "STRICT"
        sql = sql[: m_opts.start() + 1]
    m = _CREATE_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    name = unquote_ident(m.group("name")).lower()
    raw_body = raw[m.start("body") : m.end("body")]
    fields: list[T.StructField] = []
    td = TableDef(
        name=name,
        schema=T.StructType([]),
        if_not_exists=bool(m.group("ine")),
        source_sql=source_sql,
    )

    col_pk_desc = False  # column-level INTEGER PRIMARY KEY DESC seen
    for raw_item in split_top_level(raw_body):
        item = blank_comments(raw_item)
        up = item.upper()
        if up.startswith("PRIMARY KEY"):
            # per-column ASC/DESC sort orders are legal here and do NOT
            # affect the rowid-alias rule in the TABLE-level form
            # (sqlite3-probed: PRIMARY KEY(x DESC) on INTEGER x IS an
            # alias — only the COLUMN-level DESC form is excluded)
            cols = [
                unquote_ident(re.sub(r"(?i)\s+(ASC|DESC)\s*$", "", c.strip())).lower()
                for c in split_top_level(item[item.index("(") + 1 : item.rindex(")")])
            ]
            td.primary_key = cols
            continue
        if up.startswith("UNIQUE"):
            cols = [unquote_ident(c).lower() for c in split_top_level(item[item.index("(") + 1 : item.rindex(")")])]
            td.unique.append(cols)
            continue
        if up.startswith("FOREIGN KEY"):
            inner = item[item.index("(") + 1 :]
            cols = tuple(
                unquote_ident(c).lower()
                for c in split_top_level(inner[: inner.index(")")])
            )
            ref = _REF_RE.search(item)
            if ref:
                rt = unquote_ident(ref.group(1)).lower()
                # no column list = the parent's PRIMARY KEY, resolved at
                # enforcement (SQLite lang_foreignkeys)
                rcs = (
                    tuple(
                        unquote_ident(c).lower()
                        for c in split_top_level(ref.group(2))
                    )
                    if ref.group(2)
                    else ()
                )
                ou, od = _fk_actions(item)
                td.foreign_keys.append(ForeignKey(cols, rt, rcs, ou, od))
            continue
        if up.startswith("CHECK") or up.startswith("CONSTRAINT"):
            # table-level CHECK (possibly named) is enforced on write;
            # other named table constraints (CONSTRAINT x UNIQUE/PK/FK)
            # keep the pre-existing accept-and-skip posture
            new_checks = extract_checks(raw_item)
            td.checks.extend(new_checks)
            td.check_origins.extend([None] * len(new_checks))
            continue

        # column definition: name [type tokens...] [constraints...]
        head = tokens(item)[0]
        toks = [head[1], *item[head[3] :].split()]
        col = unquote_ident(head[1]).lower()
        type_toks: list[str] = []
        i = 1
        while i < len(toks):
            # split("(")[0] so an attached paren ("CHECK(a" from
            # "CHECK(a > 0)") still terminates the type-token scan
            w = toks[i].upper().split("(")[0]
            if w in _COL_CONSTRAINT_WORDS:
                break
            type_toks.append(toks[i])
            i += 1
        decl = " ".join(type_toks)
        rest = " ".join(toks[i:]).upper()
        rest_raw = " ".join(toks[i:])

        dtype = affinity_type(decl)
        # SQLite column-level NOCASE → collated Spark string type:
        # comparisons/ORDER BY on the column go case-insensitive
        # engine-wide without touching any query text (the operator
        # rewriter has usually already renamed NOCASE → UTF8_LCASE)
        if isinstance(dtype, T.StringType) and re.search(
            r"\bCOLLATE\s+(NOCASE|UTF8_LCASE)\b", rest
        ):
            dtype = T.StringType("UTF8_LCASE")
        if isinstance(dtype, T.StringType) and re.search(
            r"\bCOLLATE\s+(RTRIM|UTF8_BINARY_RTRIM)\b", rest
        ):
            dtype = T.StringType("UTF8_BINARY_RTRIM")
        # the constraint itself, not text inside a parenthesised body or
        # a string literal: CHECK (a IS NOT NULL) is a CHECK
        bare = " ".join(t[1] for t in tokens(rest) if t[4] == 0 and t[0] == "word")
        if re.search(r"\bNOT\s+NULL\b", bare):
            td.not_null.add(col)
        if "PRIMARY KEY" in rest:
            td.primary_key = [col]
            # rowid alias requires the type to be EXACTLY "INTEGER" —
            # "INT PRIMARY KEY" is a plain PK with its own autoindex
            # (sqlite3-probed: rowid stays independent there) — and NOT
            # the DESC sort order: "INTEGER PRIMARY KEY DESC" is a plain
            # PK (lang_createtable.html#rowid; r6-probed: NULL stays
            # NULL, rowid independent)
            if decl.strip().upper() == "INTEGER" and not re.search(
                r"PRIMARY\s+KEY\s+DESC\b", rest
            ):
                td.rowid_column = col
                if "AUTOINCREMENT" in rest:
                    td.autoincrement = True
            elif re.search(r"PRIMARY\s+KEY\s+DESC\b", rest):
                col_pk_desc = True
        if re.search(r"\bUNIQUE\b", rest):
            td.unique.append([col])
        ref = _REF_RE.search(rest_raw)
        if ref:
            rt = unquote_ident(ref.group(1)).lower()
            rcs = (unquote_ident(ref.group(2)).lower(),) if ref.group(2) else ()
            ou, od = _fk_actions(rest_raw)
            td.foreign_keys.append(ForeignKey((col,), rt, rcs, ou, od))
        gen = _extract_generated(rest_raw)
        if gen is not None:
            td.generated[col] = gen
            # the keyword follows the (expr) — search past it so an
            # identifier named "stored" inside the expression can't match
            tail = rest_raw[rest_raw.find(gen) + len(gen):]
            if re.search(r"\bSTORED\b", tail, re.I):
                td.generated_stored.add(col)
        else:
            # the DEFAULT in an FK action clause (ON DELETE/UPDATE SET
            # DEFAULT) is not a column default — skip any occurrence
            # directly preceded by SET
            dm = None
            for dm_ in re.finditer(r"DEFAULT\s+", rest_raw, re.I):
                if re.search(r"\bSET\s+$", rest_raw[: dm_.start()], re.I):
                    continue
                dm = dm_
                break
            if dm:
                tail = rest_raw[dm.end() :]
                # function-call and parenthesized defaults capture
                # BALANCED (the old \S+ fallback truncated rewritten
                # calls like date_format(current_timestamp(), '...') at
                # the first space — r6 finding); then quoted strings,
                # then a bare token
                fm2 = re.match(r"[A-Za-z_]\w*\s*\(", tail)
                if fm2 or tail.startswith("("):
                    try:
                        end = paren_end(tail, (fm2.end() - 1) if fm2 else 0)
                        td.defaults[col] = tail[:end]
                    except ValueError:
                        pass
                else:
                    vm = re.match(r"'(?:[^']|'')*'|\S+", tail)
                    if vm:
                        td.defaults[col] = vm.group(0)
        col_checks = extract_checks(raw_item)
        td.checks.extend(col_checks)
        td.check_origins.extend([col] * len(col_checks))

        td.declared_types[col] = decl
        fields.append(T.StructField(col, dtype, nullable=True))

    # table-level PRIMARY KEY(a) on a single column declared EXACTLY
    # "INTEGER" is a rowid alias too (lang_createtable.html#rowid —
    # same exact-type rule as the column-level form, sqlite3-probed:
    # "x INT, PRIMARY KEY(x)" keeps an independent rowid + autoindex)
    if (
        td.rowid_column is None
        and not col_pk_desc
        and len(td.primary_key) == 1
        and td.declared_types.get(td.primary_key[0], "").strip().upper() == "INTEGER"
    ):
        td.rowid_column = td.primary_key[0]
    if strict:
        # SQLite validates STRICT datatypes at CREATE (probed error
        # strings); the session layer converts ValueError → DustError
        td.strict = True
        for f in fields:
            decl = td.declared_types.get(f.name, "").strip()
            if not decl:
                raise ValueError(f"missing datatype for {name}.{f.name}")
            if decl.upper() not in STRICT_TYPES:
                raise ValueError(f'unknown datatype for {name}.{f.name}: "{decl}"')
    td.schema = T.StructType(fields)
    if td.primary_key and td.primary_key not in td.unique:
        td.unique.insert(0, td.primary_key)
    if without_rowid or strict:
        # WITHOUT ROWID / STRICT tables: PRIMARY KEY columns are
        # implicitly NOT NULL (ordinary rowid tables keep SQLite's
        # legacy NULL-in-PK quirk — r6 sqlite3-probed)
        td.not_null.update(td.primary_key)
    if without_rowid:
        td.rowid_column = None
    elif td.rowid_column is None:
        # implicit-rowid table (SQLite's default): hidden storage column
        td.rowid_column = HIDDEN_ROWID
        td.schema = T.StructType(fields + [T.StructField(HIDDEN_ROWID, T.LongType())])
    return td


# --------------------------------------------------------------------------
# INSERT / UPDATE / DELETE shape parsers
# --------------------------------------------------------------------------

_INSERT_RE = re.compile(
    r"^\s*(?:INSERT|REPLACE)\s+(?:OR\s+\w+\s+)?INTO\s+"
    rf"(?P<name>{_IDENT})\s*"
    r"(?:\((?P<cols>[^)]*)\))?\s*(?P<rest>DEFAULT\s+VALUES\s*;?|VALUES\s*.*|SELECT\s+.*|WITH\s+.*)\s*$",
    re.S | re.I,
)

_UPDATE_HEAD_RE = re.compile(
    r"^\s*UPDATE\s+(?:OR\s+(?P<orconf>IGNORE|REPLACE|ABORT|FAIL|ROLLBACK)\s+)?"
    rf"(?P<name>{_IDENT})\s+SET\s+",
    re.S | re.I,
)

_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+(?P<name>{_IDENT})"
    r"(?:\s+WHERE\s+(?P<where>.*))?\s*;?\s*$",
    re.S | re.I,
)


def split_dml_tail(text: str) -> tuple[str, str | None]:
    """Split a trailing top-level ``ORDER BY ... / LIMIT ... [OFFSET]``
    clause off a DML statement remainder (SQLite's
    SQLITE_ENABLE_UPDATE_DELETE_LIMIT surface, enabled in the stdlib
    build). Returns (core, tail-or-None); the tail text passes through
    to Spark verbatim (ORDER BY / LIMIT / OFFSET all native)."""
    cut = len(text)
    for kw in ("ORDER BY", "LIMIT"):
        i = find_top_level(text, kw)
        if 0 <= i < cut:
            cut = i
    if cut == len(text):
        return text, None
    return text[:cut].rstrip(), text[cut:].strip().rstrip(";") or None

_DROP_RE = re.compile(
    rf"^\s*DROP\s+(?P<kind>TABLE|VIEW|INDEX|TRIGGER)\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>{_IDENT})\s*;?\s*$",
    re.S | re.I,
)

_PRAGMA_RE = re.compile(
    r"^\s*PRAGMA\s+(?P<key>\w+)\s*"
    # = value accepts quoted strings ('500', "wal"), signed numbers
    # (-5), and decimals (12.7) — all sqlite3-accepted set forms (r11)
    r"(?:=\s*(?P<val>'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|[-+]?[\w.]+)"
    r"|\(\s*(?P<arg>[^)]*?)\s*\))?\s*;?\s*$",
    re.S | re.I,
)


@dataclass
class InsertStmt:
    table: str
    columns: list[str] | None
    source_sql: str  # "VALUES ..." or "SELECT ..." / "WITH ..."
    or_replace: bool = False  # REPLACE INTO / INSERT OR REPLACE
    # INSERT OR IGNORE: silently skip rows violating ANY constraint
    # (NOT NULL, CHECK, FK, uniqueness — broader than DO NOTHING, which
    # covers uniqueness only; probed against sqlite3). OR ABORT/FAIL are
    # the default set-based behavior; OR ROLLBACK's whole-tx rollback is
    # the engine's atomic-batch contract already.
    or_ignore: bool = False
    # SQLite upsert clause: None | ("nothing", target_cols | None)
    #                            | ("update", target_cols | None, sets)
    #                            | ("update", target, sets, where | None)
    on_conflict: tuple | None = None
    # the raw WITH prefix when the statement was CTE-prefixed — the
    # CTEs are folded into source_sql for the row source, but DO UPDATE
    # SET/WHERE arms ALSO see them (sqlite3-probed, r8), so the upsert
    # evaluator re-scopes this prefix over its own projections
    with_sql: str | None = None


def strip_returning(sql: str) -> tuple[str, str | None]:
    """Split a DML statement's top-level RETURNING clause (SQLite
    3.35+): returns (core_sql, projection_sql | None). Scanner-based —
    a RETURNING inside a string literal or subquery is left alone."""
    i = find_top_level(sql, "RETURNING")
    if i < 0:
        return sql, None
    proj = blank_comments(sql[i + len("RETURNING") :])
    return sql[:i].rstrip(), proj.strip().rstrip(";").strip() or None


_ON_CONFLICT_RE = re.compile(
    r"ON\s+CONFLICT\s*(?:\(\s*(?P<cols>[^)]*?)\s*\))?\s*DO\s+"
    r"(?:(?P<nothing>NOTHING)|UPDATE\s+SET\s+(?P<sets>.*?))\s*;?\s*$",
    re.S | re.I,
)


def parse_insert(sql: str) -> InsertStmt:
    # WITH ctes INSERT INTO t SELECT ... — the CTEs scope to the source
    # select; fold them into it (SQLite CTE-on-DML semantics)
    sp = split_with_prefix(sql)
    ctes = None
    if sp:
        ctes, sql = sp
    stmt = _parse_insert_body(sql)
    if ctes:
        stmt.with_sql = ctes
        src = stmt.source_sql.lstrip()
        if src.upper().startswith("VALUES"):
            # WITH ... INSERT ... VALUES is legal SQLite, and the CTEs
            # ARE visible to scalar subqueries inside the rows
            # (sqlite3-probed). Spark's inline VALUES only takes
            # foldable expressions, so rewrite each row to a SELECT and
            # scope the CTEs over the union.
            rows = split_top_level(src[len("VALUES"):].strip().rstrip(";"))
            sels = []
            for r in rows:
                r = r.strip()
                if not (r.startswith("(") and r.endswith(")")):
                    raise ValueError(f'near "{r[:20]}": syntax error')
                sels.append("SELECT " + r[1:-1])
            stmt.source_sql = f"{ctes} " + " UNION ALL ".join(sels)
            return stmt
        if re.match(r"DEFAULT\s+VALUES", src, re.I):
            return stmt  # legal SQLite; the CTEs are unreferencable
        if not src.upper().startswith(("SELECT", "WITH")):
            raise ValueError("unsupported: WITH ... INSERT ... " + src.split()[0])
        if src.upper().startswith("WITH"):
            # the INSERT body carries its own CTE list (legal SQLite:
            # WITH a AS (...) INSERT INTO t WITH b AS (...) SELECT ...) —
            # merge the two lists into one WITH; a naive prefix would
            # produce "WITH a AS (...) WITH b AS (...)" which Spark
            # rejects at parse. RECURSIVE survives if either list had it.
            inner = _WITH_HEAD_RE.match(src)
            inner_rec = "RECURSIVE" in src[: inner.end()].upper()
            outer_rec = "RECURSIVE" in _WITH_HEAD_RE.match(ctes).group(0).upper()
            head = "WITH RECURSIVE " if (inner_rec or outer_rec) else "WITH "
            outer_list = _WITH_HEAD_RE.sub("", ctes, count=1).rstrip()
            stmt.source_sql = f"{head}{outer_list}, {src[inner.end():].lstrip()}"
        else:
            stmt.source_sql = f"{ctes} {src}"
    return stmt


def _parse_insert_body(sql: str) -> InsertStmt:
    on_conflict = None
    # locate the clause with the paren/quote-aware scanner — a bare
    # regex search could match inside a trailing string literal
    oc_i = find_top_level(sql, "ON CONFLICT")
    oc = _ON_CONFLICT_RE.match(sql, oc_i) if oc_i > 0 else None
    if oc:
        target = None
        if oc.group("cols"):
            target = [unquote_ident(c).lower() for c in split_top_level(oc.group("cols"))]
        if oc.group("nothing"):
            on_conflict = ("nothing", target)
        else:
            # conditional upsert `DO UPDATE SET ... WHERE pred`: the
            # predicate sees the conflicting target row (+ excluded.*)
            # and gates whether that row is updated at all
            sets_text = oc.group("sets")
            oc_where = None
            wi = find_top_level(sets_text, "WHERE")
            if wi >= 0:
                oc_where = sets_text[wi + 5 :].strip()
                sets_text = sets_text[:wi]
            sets = []
            for part in split_top_level(sets_text):
                eq = part.index("=")
                sets.append((unquote_ident(part[:eq]).lower(), part[eq + 1 :].strip()))
            on_conflict = ("update", target, sets, oc_where)
        sql = sql[: oc.start()]
    m = _INSERT_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    cols = None
    if m.group("cols") is not None:
        cols = [unquote_ident(c).lower() for c in split_top_level(m.group("cols"))]
    head = sql[: m.start("name")].upper()
    return InsertStmt(
        table=unquote_ident(m.group("name")).lower(),
        columns=cols,
        source_sql=m.group("rest").strip().rstrip(";"),
        or_replace=head.lstrip().startswith("REPLACE") or "OR REPLACE" in head,
        or_ignore=bool(re.search(r"\bOR\s+IGNORE\b", head)),
        on_conflict=on_conflict,
    )


@dataclass
class UpdateStmt:
    table: str
    sets: list[tuple[str, str]]  # (column, expression SQL)
    where: str | None
    from_sql: str | None = None  # UPDATE ... FROM join source (SQLite >= 3.33)
    with_sql: str | None = None  # leading WITH-CTE prefix (SQLite CTE-DML)
    # UPDATE OR IGNORE (skip violating row-updates) / OR REPLACE (delete
    # conflicting rows); ABORT/FAIL/ROLLBACK are the default batch
    # semantics and parse to None
    or_action: str | None = None
    # trailing ORDER BY/LIMIT/OFFSET (SQLITE_ENABLE_UPDATE_DELETE_LIMIT)
    tail: str | None = None


def parse_update(sql: str) -> UpdateStmt:
    with_sql = None
    sp = split_with_prefix(sql)
    if sp is not None:
        with_sql, sql = sp[0].rstrip(), sp[1]
    elif _WITH_HEAD_RE.match(sql):
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    m = _UPDATE_HEAD_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    rest = sql[m.end():].rstrip().rstrip(";")
    rest, tail = split_dml_tail(rest)
    # the WHERE boundary must ignore subquery WHEREs inside SET exprs
    wi = find_top_level(rest, "WHERE")
    sets_sql, where = (rest[:wi], rest[wi + 5 :].strip()) if wi >= 0 else (rest, "")
    # UPDATE ... FROM (SQLite >= 3.33 join-update, db/src/db.rs:176
    # pass-through): the FROM clause is everything between SET list and
    # WHERE; it joins against the target with last-match-wins
    from_sql = None
    fi = find_top_level(sets_sql, "FROM")
    if fi >= 0:
        from_sql = sets_sql[fi + 4 :].strip()
        sets_sql = sets_sql[:fi]
    sets = []
    for part in split_top_level(sets_sql):
        eq = part.index("=")
        sets.append((unquote_ident(part[:eq]).lower(), part[eq + 1 :].strip()))
    orconf = (m.group("orconf") or "").lower()
    return UpdateStmt(
        table=unquote_ident(m.group("name")).lower(),
        sets=sets,
        where=where or None,
        from_sql=from_sql,
        with_sql=with_sql,
        or_action=orconf if orconf in ("ignore", "replace") else None,
        tail=tail,
    )


@dataclass
class DeleteStmt:
    table: str
    where: str | None
    with_sql: str | None = None
    tail: str | None = None  # ORDER BY/LIMIT/OFFSET


def parse_delete(sql: str) -> DeleteStmt:
    with_sql = None
    sp = split_with_prefix(sql)
    if sp is not None:
        with_sql, sql = sp[0].rstrip(), sp[1]
    elif _WITH_HEAD_RE.match(sql):
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    sql, tail = split_dml_tail(sql)
    m = _DELETE_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    return DeleteStmt(
        table=unquote_ident(m.group("name")).lower(),
        where=(m.group("where") or "").strip().rstrip(";") or None,
        with_sql=with_sql,
        tail=tail,
    )


def parse_drop(sql: str) -> tuple[str, str, bool]:
    """(kind, name, if_exists) for DROP TABLE / VIEW / INDEX."""
    m = _DROP_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    return (
        m.group("kind").upper(),
        unquote_ident(m.group("name")).lower(),
        bool(m.group("ie")),
    )


def synth_create_sql(td: TableDef) -> str:
    """Canonical CREATE TABLE text from a TableDef — the sqlite_master
    'sql' column for tables whose original text is gone (CTAS) or stale
    (column-level ALTERs; SQLite rewrites the stored text there, we
    regenerate a canonical equivalent instead)."""
    parts = []
    single_uniques = [u[0] for u in td.unique if len(u) == 1 and u != td.primary_key]
    for f in td.visible_fields():
        d = td.declared_types.get(f.name, "")
        p = f.name + (f" {d}" if d else "")
        if f.name in td.generated:
            parts.append(f"{p} GENERATED ALWAYS AS ({td.generated[f.name]})")
            continue
        if td.primary_key == [f.name]:
            p += " PRIMARY KEY"
        if f.name in td.not_null:
            p += " NOT NULL"
        if f.name in single_uniques:
            p += " UNIQUE"
        if f.name in td.defaults:
            p += f" DEFAULT {td.defaults[f.name]}"
        parts.append(p)
    if len(td.primary_key) > 1:
        parts.append(f"PRIMARY KEY ({', '.join(td.primary_key)})")
    for u in td.unique:
        if len(u) > 1 and u != td.primary_key:
            parts.append(f"UNIQUE ({', '.join(u)})")
    for fk in td.foreign_keys:
        tgt = f"({', '.join(fk.ref_columns)})" if fk.ref_columns else ""
        acts = ""
        if fk.on_delete != "NO ACTION":
            acts += f" ON DELETE {fk.on_delete}"
        if fk.on_update != "NO ACTION":
            acts += f" ON UPDATE {fk.on_update}"
        parts.append(
            f"FOREIGN KEY ({', '.join(fk.columns)}) "
            f"REFERENCES {fk.ref_table}{tgt}{acts}"
        )
    for lbl, expr in td.checks:
        # an unnamed check's label is its text (_check_label), which may
        # carry leading or trailing comments its expression drops
        named = lbl != _check_label(expr) and _span(lbl, tokens(lbl)) != expr
        prefix = f"CONSTRAINT {lbl} " if named else ""
        parts.append(f"{prefix}CHECK({expr})")
    return f"CREATE TABLE {td.name} ({', '.join(parts)})"


_ALTER_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<name>{_IDENT})\s+(?P<rest>.*?)\s*;?\s*$",
    re.S | re.I,
)


def parse_alter(sql: str) -> tuple:
    """Full SQLite ALTER TABLE surface (sqlite lang_altertable):
    ('add', table, one-column TableDef) / ('rename_table', table, new) /
    ('rename_column', table, old, new) / ('drop_column', table, col)."""
    m = _ALTER_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    name = unquote_ident(m.group("name")).lower()
    rest = m.group("rest").strip()
    ru = rest.upper()
    if ru.startswith("ADD"):
        d = re.sub(r"^ADD\s+(?:COLUMN\s+)?", "", rest, flags=re.I)
        # run the full column-def grammar (type affinity, NOT NULL,
        # DEFAULT, CHECK, UNIQUE/PK for rejection, REFERENCES) through
        # the CREATE TABLE parser on a one-column synthetic table
        return ("add", name, parse_create_table(f"CREATE TABLE __alter__ ({d})"))
    mm = re.match(rf"RENAME\s+TO\s+({_IDENT})$", rest, re.I)
    if mm:
        return ("rename_table", name, unquote_ident(mm.group(1)).lower())
    mm = re.match(rf"RENAME\s+(?:COLUMN\s+)?({_IDENT})\s+TO\s+({_IDENT})$", rest, re.I)
    if mm:
        return ("rename_column", name, unquote_ident(mm.group(1)).lower(), unquote_ident(mm.group(2)).lower())
    mm = re.match(rf"DROP\s+(?:COLUMN\s+)?({_IDENT})$", rest, re.I)
    if mm:
        return ("drop_column", name, unquote_ident(mm.group(1)).lower())
    raise ValueError(f'near "{sql.strip()[:40]}": syntax error')


_ATTACH_RE = re.compile(
    r"^\s*ATTACH\s+(?:DATABASE\s+)?(?P<path>'[^']*'|\"[^\"]*\"|\S+)\s+AS\s+(?P<alias>\w+)\s*;?\s*$",
    re.S | re.I,
)
_DETACH_RE = re.compile(r"^\s*DETACH\s+(?:DATABASE\s+)?(?P<alias>\w+)\s*;?\s*$", re.S | re.I)


def parse_attach(sql: str) -> tuple[str, str]:
    """(path, alias) from ATTACH [DATABASE] 'path' AS alias."""
    m = _ATTACH_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    path = m.group("path")
    if path[:1] in ("'", '\"'):
        path = path[1:-1]
    return path, m.group("alias").lower()


def parse_detach(sql: str) -> str:
    m = _DETACH_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    return m.group("alias").lower()


def rewrite_attached_names(sql: str, aliases: dict[str, str]) -> str:
    """Rewrite ``alias.table`` qualified names to the attached catalog's
    prefixed view names (``{prefix}{table}``), outside literals, quoted
    identifiers and comments, so data containing "alias.x" is untouched.

    Known limitation (documented, matches SQLite only approximately): a
    query table alias that shadows an attached database name
    (``ATTACH ... AS a; SELECT a.col FROM t AS a``) is still rewritten —
    SQLite would resolve the table alias. Rename the query alias or
    quote it (``"a".col`` is left alone) to disambiguate."""
    if not aliases:
        return sql
    pat = re.compile(r"\b(" + "|".join(map(re.escape, aliases)) + r")\.(\w+)", re.I)
    return _map_outside_strings(
        sql, lambda seg: pat.sub(lambda m: aliases[m.group(1).lower()] + m.group(2), seg)
    )


def parse_pragma(sql: str) -> tuple[str, str | None, str | None]:
    """(key, value, call_arg) — SQLite pragmas come in three shapes:
    ``PRAGMA k``, ``PRAGMA k = v``, and the call form ``PRAGMA k(arg)``
    (e.g. ``PRAGMA table_info(t)``)."""
    m = _PRAGMA_RE.match(sql)
    if not m:
        raise ValueError(f'near "{sql.strip()[:40]}": syntax error')
    arg = m.group("arg")
    return m.group("key").lower(), (m.group("val") or None), (unquote_ident(arg) if arg else None)


# --------------------------------------------------------------------------
# Static compound SELECTs (r11, verdict task #5): SQLite's per-row
# dynamic typing makes `SELECT 1 UNION SELECT '1'` return TWO rows
# (integer 1 and text '1' have different storage classes) where Spark
# coerces the arms to one type and dedups to one — the single
# row-count-level dialect divergence. For compounds whose every arm is
# a pure-literal SELECT we evaluate the whole statement statically with
# SQLite's exact semantics (probed r11):
#   - UNION dedups by (storage class, exact value) — 1 == 1.0 but
#     1 != '1'; the LAST duplicate's representative survives
#     (1 UNION 1.0 -> 1.0? no: insert REPLACES, so last wins);
#     output sorted NULL < numeric < text < blob, numerics by exact
#     value, text by codepoint, blob by bytes
#   - UNION ALL concatenates in arm order
#   - INTERSECT keeps the LEFT side's (deduped) representatives whose
#     key appears on the right; EXCEPT removes right keys; both emit
#     sorted output; chains fold LEFT-ASSOCIATIVE
#   - ORDER BY accepts ordinals and first-arm aliases; out-of-range
#     ordinals and unknown terms raise SQLite's exact error strings
#   - LIMIT n [OFFSET m] / LIMIT m, n; negative limit = unlimited
# Anything not expressible here (table refs, expressions, COLLATE,
# bare aliases) returns None and takes the normal Spark path.
# --------------------------------------------------------------------------


def _ordinal(n: int) -> str:
    """SQLite's %r format: 1st 2nd 3rd 4th ... 11th 12th 13th 21st."""
    if 10 <= n % 100 <= 13:
        return f"{n}th"
    return f"{n}{ {1: 'st', 2: 'nd', 3: 'rd'}.get(n % 10, 'th') }"


def _compound_cell_key(v):
    """SQLite comparison key for one cell: storage-class rank, then the
    in-class value (int/float compare EXACTLY in Python, matching
    sqlite3IntFloatCompare)."""
    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (1, v)
    if isinstance(v, str):
        return (2, v)
    return (3, bytes(v))


def _compound_row_key(row):
    return tuple(_compound_cell_key(v) for v in row)


_COMPOUND_LIT_RE = re.compile(
    r"""^(?P<sign>(?:[-+]\s*)*)
        (?P<lit>NULL\b|TRUE\b|FALSE\b
          |X'(?:[0-9A-Fa-f][0-9A-Fa-f])*'
          |'(?:[^']|'')*'
          |0[xX][0-9A-Fa-f]+
          |(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?[dD]?)
        (?P<alias>\s+AS\s+(?P<aname>[A-Za-z_][A-Za-z_0-9]*))?\s*$""",
    re.X | re.I | re.S,
)

_COMPOUND_ALIAS_RE = re.compile(
    r"^(?P<expr>.*?)\s+AS\s+(?P<aname>[A-Za-z_][A-Za-z_0-9]*)\s*$", re.I | re.S
)


def _is_group(s: str) -> bool:
    """True when ``s`` is exactly one paren group."""
    toks = tokens(s)
    return bool(toks) and toks[0][1] == "(" and toks[0][5] == len(toks) - 1


def _parse_compound_item(text: str, _folded: bool = False):
    """One select-list item → (value, column_name) or None. Items that
    are not bare literals get ONE static-fold retry: literal arithmetic
    (``1+1``, ``'3'+0``, ``2/2``) folds through the typed-ops chain
    compiler to a literal — so SQLite's per-row typing extends to
    constant-expression arms (``SELECT 1+1 UNION SELECT '2'`` is two
    rows). Unaliased expression items keep their SOURCE text as the
    column name (sqlite3-probed)."""
    t = text.strip()
    m = _COMPOUND_LIT_RE.match(t)
    if not m:
        if _folded:
            return None
        am = _COMPOUND_ALIAS_RE.match(t)
        expr = am.group("expr").strip() if am else t
        try:
            folded = rewrite_typed_ops("SELECT " + expr)[7:].strip()
        except Exception:
            return None
        while _is_group(folded):
            folded = folded[1:-1].strip()
        got = _parse_compound_item(folded, _folded=True)
        if got is None:
            return None
        v, _ = got
        return (v, am.group("aname") if am else t)
    lit = m.group("lit")
    if (
        lit[-1:] in "dD"
        and (lit[0].isdigit() or lit[0] == ".")
        and not lit.upper().startswith("0X")
    ):
        # D-suffixed numbers are the fold renderer's DOUBLE markers
        sign = -1 if m.group("sign").count("-") % 2 else 1
        return (float(lit[:-1]) * sign, m.group("aname") or t)
    sign = -1 if m.group("sign").count("-") % 2 else 1
    lu = lit.upper()
    if lu == "NULL":
        v = None
    elif lu in ("TRUE", "FALSE"):
        v = 1 if lu == "TRUE" else 0
        v *= sign
    elif lu.startswith("X'"):
        if m.group("sign"):
            return None  # -X'..' is a sqlite type error; leave to Spark path
        v = bytes.fromhex(lit[2:-1])
    elif lit.startswith("'"):
        if m.group("sign"):
            return None
        v = lit[1:-1].replace("''", "'")
    elif lu.startswith("0X"):
        iv = int(lit, 16)
        if iv >= 2**64:
            raise ValueError(f"hex literal too big: {lit}")
        if iv >= 2**63:
            iv -= 2**64
        v = iv * sign
    elif re.fullmatch(r"\d+", lit):
        iv = int(lit) * sign
        v = iv if -(2**63) <= iv < 2**63 else float(lit) * sign
    else:
        v = float(lit) * sign
    name = m.group("aname")
    if name is None:
        # SQLite names an unaliased expression by its source text
        name = t
    return (v, name)


def _split_compound(sql: str):
    """Split a statement into ([(op, arm_sql), ...], tail) at top-level
    compound operators; op of the first arm is None. ``tail`` is the
    trailing ORDER BY/LIMIT text (possibly empty). Returns None if the
    statement has no top-level compound op or a semicolon mid-text."""
    toks = tokens(sql)
    arms: list[tuple[str | None, str]] = []
    seg_start, cur_op, end = 0, None, len(sql)
    k, n = 0, len(toks)
    while k < n:
        kind, text, s, _e, depth, _ = toks[k]
        w = text.upper() if kind == "word" and depth == 0 else ""
        if w in ("UNION", "INTERSECT", "EXCEPT"):
            arms.append((cur_op, sql[seg_start:s]))
            cur_op = w
            if w == "UNION" and k + 1 < n and toks[k + 1][1].upper() == "ALL":
                cur_op = "UNION ALL"
                k += 1
            seg_start = toks[k][3]
        elif w == "LIMIT" or (w == "ORDER" and k + 1 < n and toks[k + 1][1].upper() == "BY"):
            arms.append((cur_op, sql[seg_start:s]))
            return (arms, sql[s:]) if len(arms) >= 2 else None
        elif kind == "op" and text == ";" and depth == 0:
            if k != n - 1:
                return None
            end = s
            break
        k += 1
    arms.append((cur_op, sql[seg_start:end]))
    return (arms, "") if len(arms) >= 2 else None


def try_static_compound(sql: str):
    """Evaluate an all-literal compound SELECT with SQLite's exact
    per-row dynamic-typing semantics. Returns (columns, rows) with raw
    Python cell values (None/int/float/str/bytes), or None when the
    statement isn't a fully-literal compound (normal Spark path).
    Raises ValueError carrying SQLite's exact error strings for
    column-count mismatches and bad ORDER BY terms."""
    if not re.match(r"^\s*SELECT\b", sql, re.I):
        return None
    split = _split_compound(sql)
    if split is None:
        return None
    arms, tail = split
    parsed_arms = []
    for op, arm in arms:
        m = re.match(r"^\s*SELECT\s+(?:DISTINCT\s+|ALL\s+)?(.*?)\s*$", arm, re.S | re.I)
        if not m:
            return None
        items = []
        for item in split_top_level(m.group(1)):
            got = _parse_compound_item(item)
            if got is None:
                return None
            items.append(got)
        if not items:
            return None
        parsed_arms.append((op, items))
    ncols = len(parsed_arms[0][1])
    names = [nm for _, nm in parsed_arms[0][1]]
    for op, items in parsed_arms[1:]:
        if len(items) != ncols:
            raise ValueError(
                f"SELECTs to the left and right of {op} do not have "
                "the same number of result columns"
            )
    # trailing ORDER BY / LIMIT
    got_tail = parse_compound_tail(tail, names, ncols)
    if got_tail is None:
        return None
    order_terms, limit, offset = got_tail
    arm_vals = [[[v for v, _ in items]] for _, items in parsed_arms]
    ops_seq = [op for op, _ in parsed_arms[1:]]
    rows = combine_compound_rows(arm_vals, ops_seq, order_terms, ncols)
    if offset > 0:
        rows = rows[offset:]
    if limit is not None and limit >= 0:
        rows = rows[:limit]
    return (names, rows)


def parse_compound_tail(tail: str, names: list[str], ncols: int):
    """Parse a compound's trailing ``ORDER BY ... LIMIT ... OFFSET``
    text into (order_terms, limit, offset) with SQLite's exact error
    strings for bad ordinals/aliases; None when the tail has a shape
    this model doesn't cover (expression order terms, non-integer
    limits)."""
    tail = tail.strip().rstrip(";").strip()
    order_terms: list[tuple[int, bool]] = []
    limit = None
    offset = 0
    if tail:
        m = re.match(r"^ORDER\s+BY\s+(.*?)(?:\s+(LIMIT\s+.*))?$", tail, re.S | re.I)
        lm = None
        if m:
            terms_txt, lim_txt = m.group(1), m.group(2)
        else:
            terms_txt, lim_txt = None, tail
        if terms_txt is not None:
            lname = {nm.lower(): i for i, nm in reversed(list(enumerate(names)))}
            for ti, term in enumerate(split_top_level(terms_txt), start=1):
                t = term.strip()
                md = re.match(r"^(.*?)\s+(ASC|DESC)$", t, re.S | re.I)
                desc = False
                if md:
                    t, desc = md.group(1).strip(), md.group(2).upper() == "DESC"
                if re.fullmatch(r"\d+", t):
                    iv = int(t)
                    if not (1 <= iv <= ncols):
                        raise ValueError(
                            f"{_ordinal(ti)} ORDER BY term out of range - "
                            f"should be between 1 and {ncols}"
                        )
                    order_terms.append((iv - 1, desc))
                elif re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", t) and t.lower() in lname:
                    order_terms.append((lname[t.lower()], desc))
                else:
                    raise ValueError(
                        f"{_ordinal(ti)} ORDER BY term does not match any "
                        "column in the result set"
                    )
        if lim_txt:
            lm = re.match(
                r"^LIMIT\s+([-+]?\d+)"
                r"(?:\s+OFFSET\s+([-+]?\d+)|\s*,\s*([-+]?\d+))?\s*$",
                lim_txt.strip(),
                re.I,
            )
            if not lm:
                return None
            a = int(lm.group(1))
            if lm.group(3) is not None:
                # LIMIT off, cnt (MySQL form)
                offset, limit = a, int(lm.group(3))
            else:
                limit = a
                offset = int(lm.group(2)) if lm.group(2) is not None else 0
    return (order_terms, limit, offset)


def combine_compound_rows(
    arm_rows: list[list[list]],
    ops_seq: list[str],
    order_terms: list[tuple[int, bool]],
    ncols: int,
) -> list[list]:
    """SQLite's compound-combination semantics over MULTI-ROW arms
    (r12 generalization of the r11 single-literal-row machinery; the
    multi-row representative rules probed identical — in-arm duplicates
    take the b-tree last-wins / merge first-of-sorted-run rules like
    cross-arm ones, and merge-plan arms sort stably by the stage key).
    ``arm_rows[i]`` is arm i's rows in its scan order."""
    if order_terms:
        # ORDER BY compounds take SQLite's multiSelectOrderBy MERGE
        # plan (probed r11 — DIFFERENT representatives than the
        # ephemeral-b-tree plan!): each stage merges two key-sorted
        # streams; stage key = the global ORDER BY terms, AUGMENTED
        # with every missing result column (ASC) iff this stage or any
        # stage OUTSIDE it (to its right in the left-assoc chain)
        # dedups — the augmentation edits the shared ORDER BY list,
        # which pushes left but never right. UNION emits the smaller
        # side (skipping A on equal, so B's copy survives); INTERSECT
        # emits A's copy on equal; EXCEPT emits A-only rows; a
        # per-stage previous-row register suppresses equal consecutive
        # outputs (so within a drained stream the FIRST of an equal
        # run survives). UNION ALL merges with ties A-first and no
        # suppression.
        in_order = {t[0] for t in order_terms}
        missing = [(i, False) for i in range(ncols) if i not in in_order]
        dedup_right = [False] * len(ops_seq)
        seen_dedup = False
        for i in range(len(ops_seq) - 1, -1, -1):
            seen_dedup = seen_dedup or ops_seq[i] != "UNION ALL"
            dedup_right[i] = seen_dedup

        def kcmp(key, r1, r2):
            for idx, desc in key:
                k1 = _compound_cell_key(r1[idx])
                k2 = _compound_cell_key(r2[idx])
                if k1 < k2:
                    return 1 if desc else -1
                if k1 > k2:
                    return -1 if desc else 1
            return 0

        def ksort(key, rows_):
            # each stage sorts its input stream by the stage key
            # (STABLE — ties keep scan order, which picks the
            # first-of-equal-run representative, probed)
            import functools

            return sorted(rows_, key=functools.cmp_to_key(
                lambda a, b: kcmp(key, a, b)
            ))

        key0 = order_terms + (missing if (dedup_right[0] if ops_seq else False) else [])
        stream = ksort(key0, arm_rows[0])
        for si, (op, rows_b) in enumerate(zip(ops_seq, arm_rows[1:])):
            key = order_terms + (missing if dedup_right[si] else [])
            A, B = stream, ksort(key, rows_b)
            out: list[list] = []
            prev: list | None = None

            def emit(r):
                nonlocal prev
                if prev is not None and kcmp(key, prev, r) == 0:
                    return
                out.append(r)
                prev = r

            i = j = 0
            if op == "UNION ALL":
                while i < len(A) and j < len(B):
                    if kcmp(key, A[i], B[j]) <= 0:
                        out.append(A[i])
                        i += 1
                    else:
                        out.append(B[j])
                        j += 1
                out.extend(A[i:])
                out.extend(B[j:])
            elif op == "UNION":
                while i < len(A) and j < len(B):
                    c = kcmp(key, A[i], B[j])
                    if c == 0:
                        i += 1
                    elif c < 0:
                        emit(A[i])
                        i += 1
                    else:
                        emit(B[j])
                        j += 1
                for r in A[i:]:
                    emit(r)
                for r in B[j:]:
                    emit(r)
            elif op == "INTERSECT":
                while i < len(A) and j < len(B):
                    c = kcmp(key, A[i], B[j])
                    if c == 0:
                        emit(A[i])
                        i += 1
                    elif c < 0:
                        i += 1
                    else:
                        j += 1
            else:  # EXCEPT
                while i < len(A) and j < len(B):
                    c = kcmp(key, A[i], B[j])
                    if c == 0:
                        i += 1
                    elif c < 0:
                        emit(A[i])
                        i += 1
                    else:
                        j += 1
                for r in A[i:]:
                    emit(r)
            stream = out
        rows = stream
    else:
        # no ORDER BY: the ephemeral-b-tree plan — left-assoc fold,
        # UNION insert REPLACES (last duplicate's representative
        # survives, in-arm duplicates included — probed), sorted output
        rows = list(arm_rows[0])
        for op, rows_b in zip(ops_seq, arm_rows[1:]):
            if op == "UNION ALL":
                rows.extend(rows_b)
                continue
            dd: dict = {}
            for r in rows:
                dd[_compound_row_key(r)] = r
            if op == "UNION":
                for r in rows_b:
                    dd[_compound_row_key(r)] = r
            elif op == "INTERSECT":
                bkeys = {_compound_row_key(r) for r in rows_b}
                dd = {k_: v for k_, v in dd.items() if k_ in bkeys}
            else:  # EXCEPT
                for r in rows_b:
                    dd.pop(_compound_row_key(r), None)
            rows = [dd[key] for key in sorted(dd)]
    return rows


# --------------------------------------------------------------------------
# SQLite function-name dialect (SURVEY.md §4.2 'custom needed' row):
# expression-macro SQL UDFs (JVM-evaluated, zero Python cost) + a
# token-level rename for the few cases where only the name differs.
# --------------------------------------------------------------------------

SQLITE_FN_DDL = (
    # julian day number of a timestamp (SQLite julianday())
    "CREATE OR REPLACE TEMPORARY FUNCTION julianday(t TIMESTAMP) RETURNS DOUBLE "
    "RETURN CAST(unix_micros(t) AS DOUBLE)/86400000000.0 + 2440587.5",
    # zeroblob(n) → n zero bytes
    "CREATE OR REPLACE TEMPORARY FUNCTION zeroblob(n INT) RETURNS BINARY "
    "RETURN unhex(repeat('00', n))",
    # sqlite_version() reports the stdlib sqlite3 library version — the
    # concrete dialect level this emulation targets (and what the
    # differential battery compares against)
    "CREATE OR REPLACE TEMPORARY FUNCTION sqlite_version() RETURNS STRING "
    "RETURN '" + __import__("sqlite3").sqlite_version + "'",
    # strftime with the common SQLite format specifiers mapped to
    # java.time patterns
    "CREATE OR REPLACE TEMPORARY FUNCTION strftime(fmt STRING, t TIMESTAMP) RETURNS STRING "
    "RETURN date_format(t, replace(replace(replace(replace(replace(replace(replace(replace("
    "fmt,'%Y','yyyy'),'%m','MM'),'%d','dd'),'%f','ss.SSS'),'%H','HH'),'%M','mm'),'%S','ss'),"
    "'%j','DDD'))",
    # SQLite randomblob(n): n pseudo-random bytes (flagged by the
    # determinism guard on the journaled write path, like random()).
    # One independent md5 block per 16-byte chunk — a single repeated
    # block would tile (16 bytes of entropy, visibly periodic) — and
    # n < 1 clamps to a 1-byte blob like SQLite.
    # SQLite random(): a signed 64-bit integer (typeof 'integer'), not
    # Spark's [0,1) double — idioms like abs(random() % 100) depend on
    # it; flagged by the determinism guard on the write path
    "CREATE OR REPLACE TEMPORARY FUNCTION __sqlite_random() RETURNS BIGINT "
    "RETURN CAST((rand() * 2.0 - 1.0) * 9.223372036854775E18 AS BIGINT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION randomblob(n INT) RETURNS BINARY "
    "RETURN unhex(substr(aggregate(sequence(1, CAST(greatest(n, 1)/16 AS INT) + 1), "
    "CAST('' AS STRING), "
    "(acc, i) -> concat(acc, md5(concat(CAST(rand() AS STRING), CAST(i AS STRING))))), "
    "1, 2*greatest(n, 1)))",
    # json1 extension surface over Spark's VARIANT type: json() canonical
    # minification, json_valid(), json_type() (invalid input → NULL where
    # SQLite raises — documented). VARIANT rejects duplicate object keys
    # which SQLite accepts (json_valid('{"a":0,"a":0}') = 1, json_type =
    # 'object', json() keeps both pairs) — fall back to Jackson via
    # get_json_object(j, '$'), which tolerates duplicates and minifies
    # exactly like SQLite; the fallback only ever fires on container
    # docs (scalars can't fail the VARIANT parse), so Jackson's
    # quote-stripping of top-level strings never bites. json_extract is
    # a rename to get_json_object; json_array/json_object/json_quote are
    # per-argument inline rewrites (_rewrite_one_call) because their
    # serialization must see the original argument TYPES.
    "CREATE OR REPLACE TEMPORARY FUNCTION __json_canon(j STRING) RETURNS STRING "
    "RETURN CASE WHEN try_parse_json(j) IS NOT NULL THEN to_json(parse_json(j)) "
    "ELSE get_json_object(j, '$') END",
    "CREATE OR REPLACE TEMPORARY FUNCTION json(j STRING) RETURNS STRING "
    "RETURN CASE WHEN try_parse_json(j) IS NOT NULL THEN to_json(parse_json(j)) "
    "WHEN get_json_object(j, '$') IS NOT NULL THEN get_json_object(j, '$') "
    "ELSE to_json(parse_json(j)) END",  # last arm raises like SQLite json() on junk
    "CREATE OR REPLACE TEMPORARY FUNCTION json_valid(j STRING) RETURNS INT "
    "RETURN CASE WHEN try_parse_json(j) IS NOT NULL "
    "OR get_json_object(j, '$') IS NOT NULL THEN 1 ELSE 0 END",  # NULL → 0, like SQLite
    "CREATE OR REPLACE TEMPORARY FUNCTION json_type(j STRING) RETURNS STRING "
    "RETURN CASE WHEN j IS NULL OR __json_canon(j) IS NULL THEN NULL ELSE "
    "CASE substr(__json_canon(j), 1, 1) "
    "WHEN '{' THEN 'object' WHEN '[' THEN 'array' WHEN '\"' THEN 'text' "
    "WHEN 't' THEN 'true' WHEN 'f' THEN 'false' WHEN 'n' THEN 'null' "
    "ELSE CASE WHEN __json_canon(j) RLIKE '^-?[0-9]+$' THEN 'integer' "
    "ELSE 'real' END END END",
    # SQLite glob(PATTERN, VALUE): translate glob syntax to an anchored
    # regex (escape regex metachars; * -> .*, ? -> .; [..]/[^..] char
    # classes are already regex-compatible — note SQLite's glob negates
    # with [^..], NOT the fnmatch-style [!..], verified empirically);
    # returns INTEGER 0/1 like SQLite, NULL-propagating
    "CREATE OR REPLACE TEMPORARY FUNCTION __sqlite_glob(pat STRING, x STRING) RETURNS INT "
    "RETURN CAST(x RLIKE concat('^', "
    "replace(replace(replace(replace(replace(replace(replace(replace(replace(replace("
    "pat, '\\\\', '\\\\\\\\'), '.', '\\\\.'), '+', '\\\\+'), '(', '\\\\('), ')', '\\\\)'), "
    "'$', '\\\\$'), '{', '\\\\{'), '|', '\\\\|'), "
    "'*', '.*'), '?', '.'), "
    "'$') AS INT)",
)

_FN_RENAMES = {
    "iif": "if",                 # SQLite iif(cond, a, b) ≡ Spark if()
    "format": "format_string",   # SQLite format() ≡ printf ≡ format_string
    "glob": "__sqlite_glob",     # expression-macro UDF (SQLITE_FN_DDL)
    "random": "__sqlite_random",  # int64 random (Spark's builtin random -> double)
    # json_extract is an arg-aware rewrite (_rewrite_one_call): literal
    # paths extract TYPED via VARIANT (ints stay INTEGER like SQLite),
    # non-literal single paths keep the get_json_object text fallback
    "json_patch": "__json_patch",       # RFC-7386 merge patch (json1.py)
}


_DEC_LITERAL_RE = re.compile(r"(?<![\w.$])(\d+\.\d*|\.\d+)(?![\w.])")


_EXP_LITERAL_RE = re.compile(
    r"(?<![\w.$])((?:\d+(?:\.\d*)?|\.\d+)[eE][+-]?\d+)(?![\w.])"
)


def _double_literals(seg: str) -> str:
    """``0.1`` parses as DECIMAL(1,1) in Spark (exact arithmetic:
    0.1+0.2 = 0.3); SQLite stores REAL literals as doubles
    (0.1+0.2 = 0.30000000000000004). Suffix every decimal literal with
    ``D`` so arithmetic/typing match (r6 differential finding).
    Exponent forms (1e5) are already doubles in both engines — EXCEPT
    out-of-range ones: SQLite parses ``1e999`` as REAL +Inf while
    Spark's parser rejects it, so overflowing exponent literals rewrite
    to double('Infinity') (r8; the leading sign stays outside and
    negates it, exactly like SQLite)."""

    def _exp(m: re.Match) -> str:
        try:
            v = float(m.group(1))
        except (ValueError, OverflowError):
            return m.group(1)
        if v == float("inf"):
            return "double('Infinity')"
        return m.group(1)

    return _DEC_LITERAL_RE.sub(r"\1D", _EXP_LITERAL_RE.sub(_exp, seg))


def _backticked(qid: str) -> str:
    """A quoted-identifier token ("x", [x] or `x`) in backtick form."""
    if qid[0] == "`":
        return qid
    return "`" + _dequote(qid).replace("`", "``") + "`"


def dquote_idents_to_backticks(sql: str) -> str:
    """SQLite double-quoted and [bracketed] tokens are IDENTIFIERS
    (Spark's parser reads "x" as a string literal and has no [x]) —
    convert them to backticks, so keyword-named tables/columns
    ('SELECT "order" FROM "select"') resolve. SQLite's deprecated
    string-literal FALLBACK for unresolvable double-quoted tokens is the
    caller's retry (the session swaps the one unresolved token)."""
    if '"' not in sql and "[" not in sql:
        return sql
    return _map_tokens(sql, ("qid",), _backticked)


def dquote_to_literal(sql: str, name: str | None) -> str:
    """``sql`` with every double-quoted token reading ``name`` turned
    into the string literal 'name': SQLite's fallback for a "x" that
    names no column in scope. Unchanged when ``name`` is None or no
    such token exists."""
    if not name:
        return sql
    lit = "'" + name.replace("'", "''") + "'"
    return _map_tokens(
        sql, ("qid",), lambda q: lit if q[0] == '"' and _dequote(q) == name else q
    )


def escape_raw_literals(sql: str) -> str:
    """SQLite single-quoted literals are RAW (backslash is an ordinary
    character); Spark's parser treats backslash as an escape. Double
    every backslash inside string literals so ``'ab\\%cd'`` and
    ``ESCAPE '\\'`` survive the trip (r6 differential finding). Runs
    FIRST, before any rewrite layer injects Spark-targeted literals
    (whose backslashes must stay single)."""
    if "\\" not in sql:
        return sql
    return _map_tokens(sql, ("str",), lambda t: t.replace("\\", "\\\\"))


# --------------------------------------------------------------------------
# LIMIT / OFFSET expressions (r12, verdict #5 — new machine position).
# SQLite evaluates the LIMIT/OFFSET expression once, then applies
# OP_MustBeInt: INTEGER passes; REAL converts iff exactly integral and
# int64-representable; TEXT must FULLY parse as a number (sqlite3AtoF —
# whitespace trimmed, no hex, no 'inf') and then convert the same way;
# NULL/BLOB/non-integral anything → 'datatype mismatch'. Negative LIMIT
# = unlimited, negative OFFSET = 0 (both probed). Spark instead demands
# a foldable integral literal (INVALID_LIMIT_LIKE_EXPRESSION), so every
# static expression is evaluated here and replaced by its integer;
# non-static expressions (parameters, scalar subqueries) pass through.
# --------------------------------------------------------------------------

_LIMIT_NUM_TEXT_RE = re.compile(
    r"^[ \t\r\n\f\v]*[-+]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][-+]?\d+)?[ \t\r\n\f\v]*$"
)


def _sqlite_limit_int(v) -> int:
    """OP_MustBeInt over a Python cell value; raises
    ValueError('datatype mismatch') exactly where SQLite does."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        if -(2**63) <= v < 2**63:
            return v
        raise ValueError("datatype mismatch")
    if isinstance(v, float):
        if v == v and -(2**63) <= v < 2**63 and float(int(v)) == v:
            return int(v)
        raise ValueError("datatype mismatch")
    if isinstance(v, str):
        if not _LIMIT_NUM_TEXT_RE.match(v):
            raise ValueError("datatype mismatch")
        s = v.strip()
        if re.fullmatch(r"[-+]?\d+", s):
            iv = int(s)
            if -(2**63) <= iv < 2**63:
                return iv
            # SQLite: integer text past int64 converts to REAL first
            return _sqlite_limit_int(float(s))
        return _sqlite_limit_int(float(s))
    raise ValueError("datatype mismatch")  # NULL / blob


def _limit_expr_value(text: str):
    """Static value of a LIMIT/OFFSET expression via the compound-item
    folder (literals + constant arithmetic chains), or None when the
    expression isn't statically evaluable (column ref, ?, subquery)."""
    t = text.strip()
    if not t or "?" in t:
        return None
    got = _parse_compound_item(t)
    if got is None:
        return None
    return _sqlite_limit_int(got[0])


_LIMIT_KW_RE = re.compile(r"\bLIMIT\b", re.I)


# --------------------------------------------------------------------------
# Window frame bounds (r13 — the clause-position sweep's next stop).
# SQLite statically evaluates ROWS/GROUPS frame offsets with the
# OP_MustBeInt family PLUS a non-negativity rule: INTEGER ≥ 0 passes,
# integral REAL converts ('2.0'/2.0 → 2), fully-numeric TEXT converts
# (' 2 ', '9e1'), everything else — NULL, blob, negative, non-integral,
# past int64, identifiers, function calls (abs(-2) is rejected!) —
# errors 'frame starting|ending offset must be a non-negative integer'.
# RANGE offsets take any non-negative NUMBER ('2.5', '1e1', 9e99) with
# the same strict full-parse and the message '... non-negative number'.
# The starting offset is validated first (probed: both bad → starting
# message). Spark instead demands foldable integer literals, so static
# expressions are evaluated here and replaced; '?' parameters pass
# through (they substitute to literals upstream).
# --------------------------------------------------------------------------

_FRAME_MODE_RE = re.compile(r"\b(ROWS|RANGE|GROUPS)\b", re.I)


def _frame_bound_value(text: str, mode: str, which: str):
    """Rendered literal for one frame bound expression, or None to
    leave it untouched ('?' parameters, UNBOUNDED/CURRENT keywords).
    Raises ValueError with SQLite's exact message otherwise."""
    t = text.strip()
    low = re.sub(r"\s+", " ", t.lower())
    if low in ("unbounded", "current row") or "?" in t:
        return None
    integer_mode = mode in ("rows", "groups")
    err = ValueError(
        f"frame {which} offset must be a non-negative "
        + ("integer" if integer_mode else "number")
    )
    got = _parse_compound_item(t)
    if got is None:
        raise err  # identifiers/calls/subqueries: SQLite rejects statically
    v = got[0]
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, str):
        if not _LIMIT_NUM_TEXT_RE.match(v):
            raise err
        s = v.strip()
        v = int(s) if re.fullmatch(r"[-+]?\d+", s) else float(s)
        if isinstance(v, int) and not -(2**63) <= v < 2**63:
            v = float(v)
    if isinstance(v, int):
        if 0 <= v < 2**63:
            return str(v)
        raise err
    if isinstance(v, float):
        if not (v >= 0.0):  # NaN and negatives
            raise err
        if integer_mode:
            if v < 2**63 and float(int(v)) == v:
                return str(int(v))
            raise err
        if v == float("inf"):
            # overflow text like '1e999': SQLite's inf offset covers the
            # whole preceding/following key range — max-double is
            # practically equivalent and Spark-parsable
            return "1.7976931348623157e308"
        return str(int(v)) if v < 2**63 and float(int(v)) == v else repr(v)
    raise err  # NULL / blob


def rewrite_frame_bounds(sql: str) -> str:
    """Normalize statically-evaluable window-frame offsets to SQLite's
    converted value (``ROWS BETWEEN '2' PRECEDING AND 1+1 FOLLOWING`` →
    ``ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING``), raising SQLite's
    frame-offset errors where it does. Runs at the read-path entry,
    before the GROUPS/EXCLUDE frame rewrites so they see normalized
    integer bounds."""
    if not _FRAME_MODE_RE.search(sql):
        return sql
    toks = _typed_tokenize(sql)
    if toks is None:
        return sql
    n = len(toks)

    def _scan_bound(j):
        """(end_idx, span_lo, span_hi) where toks[end_idx] is the
        depth-0 PRECEDING/FOLLOWING terminator and [span_lo, span_hi)
        is the bound expression; None when this isn't a frame spec.
        CURRENT ROW arms (no terminator keyword) return an empty span
        ending at ROW."""
        if (
            j + 1 < n
            and toks[j][0] == "word"
            and toks[j][1].lower() == "current"
            and toks[j + 1][0] == "word"
            and toks[j + 1][1].lower() == "row"
        ):
            return (j + 1, j, j)  # empty span: nothing to validate
        base = toks[j][4] if j < n else 0
        for k in range(j, n):
            t = toks[k]
            if t[4] < base:
                return None  # the ')' closing the enclosing group
            if t[4] > base:
                continue
            w = t[1].lower() if t[0] == "word" else ""
            if w in ("preceding", "following"):
                return (k, j, k) if k > j else None
            if w in (
                "select", "from", "where", "order", "group", "limit",
                "and", "or", "over", "partition", "exclude", "window",
            ) or t[1] in (",", ";"):
                return None
        return None

    edits: list[tuple[int, int, str]] = []
    for idx in range(n):
        t = toks[idx]
        if t[0] != "word" or t[1].lower() not in ("rows", "range", "groups"):
            continue
        mode = t[1].lower()
        j = idx + 1
        if j >= n:
            continue
        spans = []
        if toks[j][0] == "word" and toks[j][1].lower() == "between":
            got1 = _scan_bound(j + 1)
            if got1 is None:
                continue
            k1, lo1, hi1 = got1
            if not (
                k1 + 1 < n
                and toks[k1 + 1][0] == "word"
                and toks[k1 + 1][1].lower() == "and"
            ):
                continue
            got2 = _scan_bound(k1 + 2)
            if got2 is None:
                continue
            _, lo2, hi2 = got2
            spans = [("starting", lo1, hi1), ("ending", lo2, hi2)]
        else:
            got1 = _scan_bound(j)
            if got1 is None or toks[got1[0]][1].lower() != "preceding":
                continue
            spans = [("starting", got1[1], got1[2])]
        for which, lo, hi in spans:
            if hi <= lo:
                continue  # CURRENT ROW arm
            text = sql[toks[lo][2] : toks[hi - 1][3]]
            rep = _frame_bound_value(text, mode, which)
            if rep is not None and rep != text.strip():
                edits.append((toks[lo][2], toks[hi - 1][3], rep))
    for s, e, r in sorted(edits, reverse=True):
        sql = sql[:s] + r + sql[e:]
    return sql


def rewrite_limit_offset(sql: str) -> str:
    """Normalize every statically-evaluable LIMIT/OFFSET expression to
    its SQLite integer (raising 'datatype mismatch' where SQLite does):
    ``LIMIT '2'`` → ``LIMIT 2``, ``LIMIT '9e1' % 4`` → ``LIMIT 1``,
    ``LIMIT 2.5`` → error. The MySQL comma form normalizes to
    LIMIT/OFFSET when both parts are static. Unlimited renders as
    ``LIMIT -1`` (stripped later by the negative-LIMIT rule); negative
    OFFSET renders 0. Applied ONCE at the read-path entry (like
    escape_raw_literals — fragments re-entering rewrite_sqlite_fns
    must not re-run it, though the output is idempotent anyway)."""
    if not _LIMIT_KW_RE.search(sql):
        return sql
    toks = tokens(sql)
    n = len(toks)

    def _expr(k: int, allow_comma: bool):
        """(text, end offset, stop token index, stop) of the limit
        expression starting at token ``k``: it runs to the first ','
        (comma form), OFFSET or ';' at its own depth, or to a ')' that
        closes an enclosing group. stop is 'comma', 'offset' or 'end'."""
        base, j, stop = toks[k - 1][4], k, "end"
        while j < n:
            kind, text, _, _, depth, _ = toks[j]
            if depth < base or (depth == base and kind == "op" and text == ";"):
                break
            if depth == base and kind == "op" and text == "," and allow_comma:
                stop = "comma"
                break
            if depth == base and kind == "word" and text.upper() == "OFFSET":
                stop = "offset"
                break
            j += 1
        if j == k:
            end = toks[k][2] if k < n else len(sql)
            return "", end, j, stop
        return _span(sql, toks[k:j]), toks[j - 1][3], j, stop

    out, pos, k = [], 0, 0
    while k < n:
        if not (toks[k][0] == "word" and toks[k][1].upper() == "LIMIT"):
            k += 1
            continue
        m = toks[k][2]
        e1, e1_end, k, stop = _expr(k + 1, allow_comma=True)
        if stop == "comma":
            # MySQL form: LIMIT offset, count — the COUNT is the limit,
            # and a ZERO limit short-circuits before the offset is ever
            # evaluated (probed: LIMIT 'abc', 0 returns [] with no
            # error), so evaluate the count first
            e2, e2_end, k, _ = _expr(k + 1, allow_comma=False)
            lim_v = _limit_expr_value(e2)
            if lim_v == 0:
                out.append(sql[pos:m] + "LIMIT 0 ")
                pos = e2_end
                continue
            off_v = _limit_expr_value(e1)
            if off_v is None or lim_v is None:
                continue
            lim_txt = str(lim_v) if -(2**31) < lim_v <= 2**31 - 1 else "-1"
            off_txt = str(max(0, min(off_v, 2**31 - 1)))
            out.append(sql[pos:m] + f"LIMIT {lim_txt} OFFSET {off_txt} ")
            pos = e2_end
            continue
        lim_v = _limit_expr_value(e1)
        if lim_v is not None:
            lim_txt = str(lim_v) if -(2**31) < lim_v <= 2**31 - 1 else "-1"
            out.append(sql[pos:m] + f"LIMIT {lim_txt} ")
        else:
            out.append(sql[pos:e1_end])
        pos = e1_end
        if stop == "offset":
            e2, e2_end, k, _ = _expr(k + 1, allow_comma=False)
            if lim_v == 0:
                # LIMIT 0 short-circuits: the offset expression is
                # never evaluated, so a 'datatype mismatch' there must
                # NOT surface (probed) — drop the clause entirely
                pos = e2_end
                continue
            off_v = _limit_expr_value(e2)
            if off_v is not None:
                off_txt = str(max(0, min(off_v, 2**31 - 1)))
                out.append(f" OFFSET {off_txt} ")
                pos = e2_end
    out.append(sql[pos:])
    return "".join(out)


_AGG_CALL_RE = re.compile(
    r"\b(count|sum|avg|total|group_concat|string_agg|min|max|median)\s*\(", re.I
)
_SIMPLE_IDENT_RE = re.compile(r"^[A-Za-z_]\w*(\.[A-Za-z_]\w*)*$")


def rewrite_bare_group_columns(sql: str) -> str | None:
    """SQLite's 'bare columns in an aggregate query': ungrouped,
    non-aggregate select items are legal and take their value from an
    arbitrary row of the group — EXCEPT when the select list carries
    exactly one 1-arg min()/max() aggregate, in which case bare columns
    come from the min/max row (sqlite3-probed). Rewrites such items to
    ``any_value(expr)`` (or ``min_by``/``max_by`` for the min/max-row
    rule) with SQLite's wire name; returns None when the shape doesn't
    apply (no GROUP BY, no bare items, unparseable). Called as a RETRY
    after Spark's MISSING_AGGREGATION error — never on SQL Spark
    already accepts."""
    sp = split_with_prefix(sql)
    prefix, rest = "", sql
    if sp:
        idx = sql.rfind(sp[1])
        if idx < 0:
            return None
        prefix, rest = sql[:idx], sql[idx:]
    m = re.match(r"(\s*SELECT\s+)(DISTINCT\s+|ALL\s+)?", rest, re.I)
    if not m:
        return None
    sel_start = m.end()
    from_idx = find_top_level(rest, "FROM", sel_start)
    if from_idx < 0:
        return None
    select_list = rest[sel_start:from_idx]
    gb_idx = find_top_level(rest, "GROUP BY", from_idx)
    if gb_idx < 0:
        return None
    gb_start = re.compile(r"GROUP\s+BY\s*", re.I).match(rest, gb_idx).end()
    end_re = re.compile(r"(HAVING|ORDER\s+BY|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT)\b", re.I)
    gb_end = find_top_level(rest, end_re, gb_start)
    group_exprs = split_top_level(rest[gb_start : gb_end if gb_end >= 0 else len(rest)])

    def norm(x: str) -> str:
        return re.sub(r"\s+", "", x).lower()

    items = [it.strip() for it in split_top_level(select_list)]
    grouped = {norm(g) for g in group_exprs}
    positional = {int(g) for g in group_exprs if g.isdigit()}

    # classify the aggregate calls in the select list: the min/max-row
    # rule applies iff the only aggregate is a single 1-arg min()/max()
    agg_calls: list[tuple[str, str]] = []  # (fname, first_arg_text)
    for it in items:
        for am in _AGG_CALL_RE.finditer(it):
            try:
                end = paren_end(it, am.end() - 1)
            except ValueError:
                return None
            args = split_top_level(it[am.end() : end - 1])
            fname = am.group(1).lower()
            if fname in ("min", "max") and len(args) > 1:
                continue  # scalar variadic form, not an aggregate
            first = re.sub(r"(?i)^\s*DISTINCT\s+", "", args[0]).strip() if args else "*"
            agg_calls.append((fname, first))
    wrapper = "any_value"
    order_arg = None
    if len(agg_calls) == 1 and agg_calls[0][0] in ("min", "max"):
        wrapper = "min_by" if agg_calls[0][0] == "min" else "max_by"
        order_arg = agg_calls[0][1]

    out_items, wrapped_any = [], False
    for pos, it in enumerate(items, start=1):
        ma = re.match(rf"(?i)^(.*?)\s+AS\s+({_IDENT})\s*$", it, re.S)
        expr, alias = (ma.group(1).strip(), ma.group(2)) if ma else (it, None)
        if (
            norm(expr) in grouped
            or pos in positional
            or expr.strip() == "*"
            or expr.strip().endswith(".*")
            or _AGG_CALL_RE.search(expr)
            or re.search(r"\bOVER\s*\(", expr, re.I)
        ):
            out_items.append(it)
            continue
        name = alias
        if name is None:
            name = expr.split(".")[-1] if _SIMPLE_IDENT_RE.match(expr) else expr
        name = unquote_ident(name)
        call = (
            f"{wrapper}({expr})"
            if order_arg is None
            else f"{wrapper}({expr}, {order_arg})"
        )
        out_items.append(f"{call} AS `{name}`")
        wrapped_any = True
    if not wrapped_any:
        return None
    return (
        prefix
        + rest[:sel_start]
        + ", ".join(out_items)
        + " "
        + rest[from_idx:]
    )


_ROW_OP_RE = re.compile(r"\s*(==|=|!=|<>|<=|>=|<|>)\s*\(")


def _rewrite_row_values(sql: str) -> str:
    """SQLite row-value comparisons ``(a, b) OP (c, d)``
    (rowvalue.html) → member-wise boolean expansion: Spark builds a
    struct comparison but refuses member-type coercion (int literal vs
    bigint column — r6 differential finding). ``=`` expands to an AND,
    ``<``/``<=`` etc. to the lexicographic ladder; subqueries and
    function calls are left untouched."""
    toks = tokens(sql)
    out, pos, k = [], 0, 0
    while k < len(toks):
        kind, text, i, _, _, mate = toks[k]
        k += 1
        # adjacency test on the RAW previous char: `f(` is a call,
        # `WHERE (` / `AND (` are grouping (keyword + space)
        if text != "(" or kind != "op" or mate < 0 or (
            i > 0 and (sql[i - 1].isalnum() or sql[i - 1] == "_")
        ):
            continue
        e1 = toks[mate][3]
        mo = _ROW_OP_RE.match(sql, e1)
        if not mo:
            continue
        try:
            e2 = paren_end(sql, mo.end() - 1)
        except ValueError:
            continue
        left_inner, right_inner = sql[i + 1 : e1 - 1], sql[mo.end() : e2 - 1]
        ls = split_top_level(_rewrite_row_values(left_inner))
        rs = split_top_level(_rewrite_row_values(right_inner))
        if (
            len(ls) < 2
            or len(ls) != len(rs)
            or re.match(r"(?i)\s*SELECT\b", left_inner)
            or re.match(r"(?i)\s*SELECT\b", right_inner)
        ):
            continue
        op = mo.group(1)
        if op == "==":
            op = "="
        if op in ("=", "!=", "<>"):
            eq = " AND ".join(f"({a}) = ({b})" for a, b in zip(ls, rs))
            expanded = f"({eq})" if op == "=" else f"(NOT ({eq}))"
        else:
            strict = op.rstrip("=")

            def ladder(j: int) -> str:
                a, b = ls[j], rs[j]
                last = j == len(ls) - 1
                head = f"({a}) {op if last else strict} ({b})"
                if last:
                    return head
                return f"({head} OR (({a}) = ({b}) AND {ladder(j + 1)}))"

            expanded = f"({ladder(0)})"
        out.append(sql[pos:i] + expanded)
        pos = e2
        k = _tok_at(toks, e2 - 1) + 1
    out.append(sql[pos:])
    return "".join(out)


_FRAME_BOUND_RE = re.compile(
    r"^(UNBOUNDED\s+PRECEDING|UNBOUNDED\s+FOLLOWING|CURRENT\s+ROW|(\d+)\s+PRECEDING|(\d+)\s+FOLLOWING)$",
    re.I,
)


def _frame_bound_sign(text: str):
    """Signed offset class of a frame bound: -inf/-N/0/+N/+inf; None
    when unparseable."""
    t = re.sub(r"\s+", " ", text.strip()).upper()
    m = _FRAME_BOUND_RE.match(t)
    if not m:
        return None
    if t == "CURRENT ROW":
        return 0
    if t == "UNBOUNDED PRECEDING":
        return float("-inf")
    if t == "UNBOUNDED FOLLOWING":
        return float("inf")
    n = int(m.group(2) or m.group(3))
    return -n if "PRECEDING" in t else n


def _call_before(head: str):
    """(name, argument text, name offset) of the call ``name(args)``
    that ``head`` ends with; the name is "" (offset: the paren) for a
    bare paren group, and None comes back when ``head`` does not end
    with a group."""
    toks = tokens(head)
    if not toks or toks[-1][1] != ")" or toks[-1][5] < 0:
        return None
    o = toks[-1][5]
    args = head[toks[o][3] : toks[-1][2]]
    if o > 0 and toks[o - 1][0] == "word":
        return toks[o - 1][1], args, toks[o - 1][2]
    return "", args, toks[o][2]


def rewrite_exclude_frames(sql: str) -> str | None:
    """SQLite window EXCLUDE clauses for the INVERTIBLE aggregates
    (sum/count/avg/total) by frame-aggregate subtraction — Spark has no
    EXCLUDE. For a frame that straddles the current row:

    - EXCLUDE CURRENT ROW → base − current contribution
    - EXCLUDE GROUP       → base − peer-group aggregate
    - EXCLUDE TIES        → base − peers + current contribution

    The peer aggregate is the same function over ``RANGE BETWEEN
    CURRENT ROW AND CURRENT ROW``; empty-after-exclusion sums surface
    NULL via an excluded-count guard, exactly SQLite. min/max (not
    invertible), GROUPS+EXCLUDE combinations, and non-straddling frames
    return None — the caller keeps its loud rejection."""
    excl_re = re.compile(r"\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES)\b", re.I)
    if not excl_re.search(sql):
        return None
    over_re = re.compile(r"\bOVER\s*\(", re.I)
    out, i, n = [], 0, len(sql)
    while i < n:
        mo = over_re.search(sql, i)
        if not mo:
            out.append(sql[i:])
            break
        try:
            close = paren_end(sql, mo.end() - 1)
        except ValueError:
            return None
        body = sql[mo.end() : close - 1]
        em = excl_re.search(body)
        if not em:
            out.append(sql[i:close])
            i = close
            continue
        kind = re.sub(r"\s+", " ", em.group(1).upper())
        fm = re.search(r"\b(ROWS|RANGE|GROUPS)\b", body, re.I)
        if not fm or fm.group(1).upper() == "GROUPS":
            return None
        prefix = body[: fm.start()].rstrip()
        frame = body[fm.start() : em.start()].strip()
        if body[em.end() :].strip():
            return None
        # bounds must straddle the current row for the subtraction form
        bm = re.match(
            r"(?is)^(ROWS|RANGE)\s+(?:BETWEEN\s+(.+?)\s+AND\s+(.+)$|(.+)$)", frame
        )
        if not bm:
            return None
        if bm.group(2) is not None:
            lo, hi = _frame_bound_sign(bm.group(2)), _frame_bound_sign(bm.group(3))
        else:
            lo, hi = _frame_bound_sign(bm.group(4)), 0
        if lo is None or hi is None or not (lo <= 0 <= hi):
            return None
        # the aggregate call immediately before OVER
        call = _call_before(sql[: mo.start()])
        if call is None:
            return None
        fname, argtext, ns = call[0].lower(), call[1].strip(), call[2]
        if re.search(r"\bDISTINCT\b", argtext, re.I):
            return None
        if fname in ("min", "max"):
            # not invertible — but EXCLUDE CURRENT ROW on a ROWS frame
            # splits exactly: min/max over [lo, -1] ∪ [+1, hi] row
            # windows, combined with least/greatest (which skip NULLs,
            # so an empty side drops out)
            if kind != "CURRENT ROW" or bm.group(1).upper() != "ROWS":
                return None
            lo_txt = bm.group(2) if bm.group(2) is not None else bm.group(4)
            hi_txt = bm.group(3) if bm.group(2) is not None else "CURRENT ROW"
            sides = []
            if lo < 0:  # rows strictly before current
                sides.append(
                    f"{fname}({argtext}) OVER ({prefix} ROWS BETWEEN {lo_txt} AND 1 PRECEDING)"
                )
            if hi > 0:  # rows strictly after current
                sides.append(
                    f"{fname}({argtext}) OVER ({prefix} ROWS BETWEEN 1 FOLLOWING AND {hi_txt})"
                )
            comb = "least" if fname == "min" else "greatest"
            if len(sides) == 2:
                repl = f"{comb}({sides[0]}, {sides[1]})"
            elif sides:
                repl = f"({sides[0]})"
            else:  # frame was just the current row: excluded → NULL
                repl = f"(CASE WHEN 1 = 0 THEN {fname}({argtext}) OVER ({prefix} {frame}) END)"
            out.append(sql[i:ns] + repl)
            i = close
            continue
        if fname not in ("sum", "count", "avg", "total"):
            return None
        base = f"OVER ({prefix} {frame})"
        peer = f"OVER ({prefix} RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
        star = argtext == "*"
        x = None if star else f"({argtext})"
        notnull = "1" if star else f"(CASE WHEN {x} IS NOT NULL THEN 1 ELSE 0 END)"
        cnt_base = f"count({argtext}) {base}"
        cnt_peer = f"count({argtext}) {peer}"
        sum_base = f"sum({x}) {base}" if x else None
        sum_peer = f"sum({x}) {peer}" if x else None
        if kind == "CURRENT ROW":
            cnt_excl = f"({cnt_base} - {notnull})"
            sum_excl = x and f"({sum_base} - coalesce({x}, 0))"
        elif kind == "GROUP":
            cnt_excl = f"({cnt_base} - {cnt_peer})"
            sum_excl = x and f"({sum_base} - coalesce({sum_peer}, 0))"
        else:  # TIES
            cnt_excl = f"({cnt_base} - {cnt_peer} + {notnull})"
            sum_excl = x and f"({sum_base} - coalesce({sum_peer}, 0) + coalesce({x}, 0))"
        if fname == "count":
            repl = cnt_excl
        elif fname == "sum":
            if x is None:
                return None
            repl = f"(CASE WHEN {cnt_excl} = 0 THEN NULL ELSE {sum_excl} END)"
        elif fname == "total":
            if x is None:
                return None
            repl = f"coalesce((CASE WHEN {cnt_excl} = 0 THEN NULL ELSE {sum_excl} END), CAST(0.0 AS DOUBLE))"
        else:  # avg
            if x is None:
                return None
            repl = f"(CAST({sum_excl} AS DOUBLE) / nullif({cnt_excl}, 0))"
        out.append(sql[i:ns] + repl)
        i = close
    return "".join(out)


def strip_noop_excludes(sql: str) -> str:
    """Remove EXCLUDE clauses from NON-STRADDLING RANGE/GROUPS frames
    (lo > 0 or hi < 0): the current row — and, for those frame types,
    its whole peer group — lies outside the frame, so CURRENT
    ROW/GROUP/TIES exclude nothing (sqlite3-probed against EXCLUDE NO
    OTHERS twins). ROWS frames are left alone: peers of the current row
    CAN sit inside a non-straddling ROWS frame."""
    excl_re = re.compile(r"\s*\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES)\b", re.I)
    over_re = re.compile(r"\bOVER\s*\(", re.I)
    out, i = [], 0
    while i < len(sql):
        mo = over_re.search(sql, i)
        if not mo:
            out.append(sql[i:])
            break
        try:
            close = paren_end(sql, mo.end() - 1)
        except ValueError:
            out.append(sql[i:])
            break
        body = sql[mo.end() : close - 1]
        em = excl_re.search(body)
        fm = re.search(r"\b(RANGE|GROUPS)\b", body, re.I)
        if em and fm and fm.start() < em.start():
            frame = body[fm.end() : em.start()].strip()
            bm = re.match(
                r"(?is)^(?:BETWEEN\s+(.+?)\s+AND\s+(.+)$|(.+)$)", frame
            )
            if bm:
                try:
                    if bm.group(1) is not None:
                        lo = _frame_bound_sign(bm.group(1))
                        hi = _frame_bound_sign(bm.group(2))
                    else:
                        lo, hi = _frame_bound_sign(bm.group(3)), 0
                except Exception:  # noqa: BLE001  unparsable bound: leave as-is
                    lo = hi = 0
                if lo > 0 or hi < 0:
                    body = excl_re.sub("", body)
        out.append(sql[i : mo.end()] + body + ")")
        i = close
    return "".join(out)


_SELECT_HEAD_RE = re.compile(r"(\s*SELECT\s+)(DISTINCT\s+|ALL\s+)?", re.I)
_FROM_END_RE = re.compile(
    r"(GROUP\s+BY|HAVING|WINDOW|ORDER\s+BY|LIMIT|UNION|INTERSECT|EXCEPT)\b", re.I
)


def _simple_select(sql: str):
    """(head match, select list, FROM body, tail) of a single SELECT with
    no GROUP BY / HAVING / WINDOW clause; None for any other shape."""
    m = _SELECT_HEAD_RE.match(sql)
    if not m:
        return None
    from_idx = find_top_level(sql, "FROM", m.end())
    if from_idx < 0:
        return None
    end_idx = find_top_level(sql, _FROM_END_RE, from_idx + 4)
    if end_idx < 0:
        end_idx = len(sql)
    tail = sql[end_idx:]
    if re.match(r"(GROUP|HAVING|WINDOW)\b", tail, re.I):
        return None
    return m, sql[m.end() : from_idx], sql[from_idx + 4 : end_idx].strip(), tail


def rewrite_exclude_minmax_range(sql: str) -> str | None:
    """min/max + EXCLUDE on RANGE frames — the non-invertible remainder
    of the r6 EXCLUDE work.  RANGE peers make the excluded unit a peer
    GROUP, so the frame decomposes into flanking groups plus the peer
    group, and flanking groups become integer offsets in the
    ``DENSE_RANK`` domain (the GROUPS-frame equivalence):

    - EXCLUDE GROUP:       least/greatest over the two dr-flank windows
    - EXCLUDE TIES:        flanks plus the current row's own value
    - EXCLUDE CURRENT ROW: flanks plus min/max of the peer group minus
      this row, computed from per-group helper columns (group min, its
      multiplicity, and the second-distinct value — a group constant,
      so one more subquery level resolves the self-reference)

    Scope: simple single-SELECT shape (mirroring
    :func:`rewrite_groups_frames`), RANGE bounds limited to
    UNBOUNDED/CURRENT ROW (value offsets do not translate to rank
    offsets), frame straddling the current row, no DISTINCT.  Other
    EXCLUDE occurrences are left for :func:`rewrite_exclude_frames`;
    returns None when nothing was rewritten.
    Behavior parity: sqlite3-probed in
    tests/test_sql_surface.py::test_exclude_minmax_range_sqlite_differential.
    """
    excl_re = re.compile(r"\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES)\b", re.I)
    if not excl_re.search(sql) or not re.search(r"\b(min|max)\s*\(", sql, re.I):
        return None
    got = _simple_select(sql)
    if got is None:
        return None
    m, select_list, from_part, tail = got
    items = split_top_level(select_list)
    if any(it.strip() == "*" or it.strip().endswith(".*") for it in items):
        return None

    def norm(x: str) -> str:
        return re.sub(r"\s+", " ", (x or "").strip()).lower()

    def order_keys(order: str) -> str:
        """ORDER BY items stripped of direction/null-placement — the
        peer-group partition keys (collation suffixes stay: they decide
        peer equality)."""
        keys = []
        for it in split_top_level(order):
            it = re.sub(r"\s+(ASC|DESC)\s*$", "", it.strip(), flags=re.I)
            it = re.sub(r"\s+NULLS\s+(FIRST|LAST)\s*$", "", it, flags=re.I)
            keys.append(it.strip())
        return ", ".join(keys)

    dr_windows: dict[tuple, str] = {}
    g_helpers: dict[tuple, dict] = {}
    changed = False

    def fix_overs(text: str) -> str | None:
        nonlocal changed
        out, i, n = [], 0, len(text)
        over_re = re.compile(r"\bOVER\s*\(", re.I)
        while i < n:
            mo = over_re.search(text, i)
            if not mo:
                out.append(text[i:])
                break
            try:
                close = paren_end(text, mo.end() - 1)
            except ValueError:
                return None
            body = text[mo.end() : close - 1]
            em = excl_re.search(body)
            fm = re.search(r"\bRANGE\b", body, re.I)
            # aggregate call immediately before OVER
            call = _call_before(text[: mo.start()])
            fname, argtext, ns = (call[0].lower(), call[1].strip(), call[2]) if call else (None, None, 0)
            if (
                not em
                or not fm
                or fname not in ("min", "max")
                or re.search(r"\bDISTINCT\b", argtext or "", re.I)
                or body[em.end() :].strip()
            ):
                out.append(text[i:close])
                i = close
                continue
            kind = re.sub(r"\s+", " ", em.group(1).upper())
            om = re.search(r"\bORDER\s+BY\b", body, re.I)
            if not om or om.start() > fm.start():
                return None
            pm = re.search(r"\bPARTITION\s+BY\b", body, re.I)
            partition = body[pm.end() : om.start()].strip() if pm else None
            order = body[om.end() : fm.start()].strip()
            frame = body[fm.start() : em.start()].strip()
            bm = re.match(
                r"(?is)^RANGE\s+(?:BETWEEN\s+(.+?)\s+AND\s+(.+)$|(.+)$)", frame
            )
            if not bm:
                return None
            if bm.group(1) is not None:
                lo, hi = _frame_bound_sign(bm.group(1)), _frame_bound_sign(bm.group(2))
            else:
                lo, hi = _frame_bound_sign(bm.group(3)), 0
            # value offsets don't translate to rank offsets — UNBOUNDED
            # and CURRENT ROW bounds only — EXCEPT over a __dr column
            # the GROUPS rewrite just emitted: dense ranks are
            # consecutive integers, so numeric RANGE offsets there ARE
            # group offsets and finite flanks translate directly
            dense_key = re.fullmatch(r"__dr\d+", order.strip()) is not None
            if not dense_key and (
                lo not in (float("-inf"), 0) or hi not in (0, float("inf"))
            ):
                return None
            if lo > 0 or hi < 0:
                return None  # non-straddling frame: decomposition n/a
            dr = dr_windows.setdefault(
                (norm(partition or ""), norm(order)), f"__xmr_dr{len(dr_windows)}"
            )
            part_prefix = f"PARTITION BY {partition} " if partition else ""
            comb = "least" if fname == "min" else "greatest"
            sides = []
            if lo < 0:
                lo_b = (
                    "UNBOUNDED PRECEDING"
                    if lo == float("-inf")
                    else f"{int(-lo)} PRECEDING"
                )
                sides.append(
                    f"{fname}({argtext}) OVER ({part_prefix}ORDER BY {dr} "
                    f"RANGE BETWEEN {lo_b} AND 1 PRECEDING)"
                )
            if hi > 0:
                hi_b = (
                    "UNBOUNDED FOLLOWING"
                    if hi == float("inf")
                    else f"{int(hi)} FOLLOWING"
                )
                sides.append(
                    f"{fname}({argtext}) OVER ({part_prefix}ORDER BY {dr} "
                    f"RANGE BETWEEN 1 FOLLOWING AND {hi_b})"
                )
            if kind == "TIES":
                sides.append(f"({argtext})")
            elif kind == "CURRENT ROW":
                gkey = (norm(partition or ""), norm(order), norm(argtext), fname)
                h = g_helpers.setdefault(
                    gkey,
                    {
                        "partition": partition,
                        "keys": order_keys(order),
                        "arg": argtext,
                        "fn": fname,
                        "g": f"__xmr_g{len(g_helpers)}",
                    },
                )
                g, cmp_op = h["g"], (">" if fname == "min" else "<")
                # peer group minus this row: the group extreme unless
                # this row is its only attainer, then the second
                # distinct value (NULL when none — least/greatest skip)
                sides.append(
                    f"(CASE WHEN ({argtext}) IS NULL OR ({argtext}) {cmp_op} {g} THEN {g} "
                    f"WHEN {g}_cnt >= 2 THEN {g} ELSE {g}_2 END)"
                )
            if len(sides) > 1:
                repl = f"{comb}(" + ", ".join(sides) + ")"
            elif sides:
                repl = f"({sides[0]})"
            else:  # frame was the peer group only and it is excluded
                repl = (
                    f"(CASE WHEN 1 = 0 THEN {fname}({argtext}) "
                    f"OVER ({part_prefix}ORDER BY {dr}) END)"
                )
            changed = True
            out.append(text[i:ns] + repl)
            i = close
        return "".join(out)

    new_list = fix_overs(select_list)
    new_tail = fix_overs(tail)
    if new_list is None or new_tail is None or not changed:
        return None
    dr_cols = ", ".join(
        "DENSE_RANK() OVER ("
        + (f"PARTITION BY {p} " if p else "")
        + f"ORDER BY {o}) AS {name}"
        for (p, o), name in dr_windows.items()
    )
    lvl1_cols = [dr_cols] if dr_cols else []
    lvl2_cols = []
    for h in g_helpers.values():
        pk = (h["partition"] + ", " if h["partition"] else "") + h["keys"]
        g, arg, fn = h["g"], h["arg"], h["fn"]
        lvl1_cols.append(f"{fn}({arg}) OVER (PARTITION BY {pk}) AS {g}")
        cmp_op = ">" if fn == "min" else "<"
        lvl2_cols.append(
            f"sum(CASE WHEN ({arg}) = {g} THEN 1 ELSE 0 END) "
            f"OVER (PARTITION BY {pk}) AS {g}_cnt"
        )
        lvl2_cols.append(
            f"{fn}(CASE WHEN ({arg}) {cmp_op} {g} THEN ({arg}) END) "
            f"OVER (PARTITION BY {pk}) AS {g}_2"
        )
    inner = f"(SELECT *, {', '.join(lvl1_cols)} FROM {from_part}) AS __xmr_src1"
    if lvl2_cols:
        inner = f"(SELECT *, {', '.join(lvl2_cols)} FROM {inner}) AS __xmr_src2"
    return (
        sql[: m.start(1)] + m.group(1) + (m.group(2) or "") + new_list
        + " FROM " + inner + " " + new_tail
    )


def rewrite_groups_frames(sql: str) -> str | None:
    """SQLite GROUPS window frames → the dense_rank + RANGE equivalence
    (see :func:`_rewrite_groups_stmt`), applied recursively: derived
    tables, scalar subqueries and CTE bodies rewrite bottom-up (r7 —
    the r6 version handled the top-level simple SELECT only), then the
    outer statement itself.  Returns None when nothing changed; any
    GROUPS the recursion could not reach survives in the output and the
    caller's UNSUPPORTED_FRAME_RE check keeps its loud rejection."""
    if not re.search(r"\bGROUPS\b", sql, re.I):
        return None
    new, changed = _rewrite_groups_recurse(sql)
    if re.search(r"\bGROUPS\b", new, re.I):
        sub = _rewrite_groups_stmt(new)
        if sub is not None:
            return sub
    return new if changed else None


def _rewrite_groups_recurse(sql: str) -> tuple:
    """(text, changed): every parenthesized SELECT/WITH body rewritten
    bottom-up via :func:`_rewrite_groups_stmt`."""
    toks = tokens(sql)
    out, pos, changed = [], 0, False
    for kind, text, s, _, depth, mate in toks:
        if text != "(" or kind != "op" or depth != 0:
            continue
        if mate < 0:
            break
        close = toks[mate][3]
        inner, ch2 = _rewrite_groups_recurse(sql[s + 1 : close - 1])
        if re.match(r"\s*(SELECT|WITH)\b", inner, re.I) and re.search(
            r"\bGROUPS\b", inner, re.I
        ):
            sub = _rewrite_groups_stmt(inner)
            if sub is not None:
                inner, ch2 = sub, True
        changed = changed or ch2
        out.append(sql[pos:s] + "(" + inner + ")")
        pos = close
    out.append(sql[pos:])
    return "".join(out), changed


def _rewrite_groups_stmt(sql: str) -> str | None:
    """One statement's GROUPS frames → dense_rank + RANGE:
    ``OVER (PARTITION BY p ORDER BY o GROUPS <frame>)`` counts PEER
    GROUPS, which is exactly ``RANGE <frame>`` over the integer
    ``DENSE_RANK() OVER (PARTITION BY p ORDER BY o)`` (Spark has ROWS
    and RANGE only). The FROM..WHERE part wraps in a subquery that adds
    one ``__drN`` column per distinct (partition, order) pair. Handles
    the simple single-SELECT shape (no *, no GROUP BY/HAVING/WINDOW
    clause), with an optional WITH prefix whose CTE bodies are treated
    as opaque (the recursion already rewrote them); returns None
    otherwise — the caller keeps its loud rejection."""
    if not re.search(r"\bGROUPS\b", sql, re.I):
        return None
    prefix = ""
    wm = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sql, re.I)
    if wm:
        # skip the CTE list: name [(cols)] AS (body) [, ...] — bodies
        # are balanced paren groups, already handled by the recursion
        i = wm.end()
        while True:
            mname = re.match(r"\s*[A-Za-z_]\w*\s*(\([^)]*\))?\s*AS\s*\(", sql[i:], re.I)
            if not mname:
                return None
            i += mname.end() - 1
            try:
                i = paren_end(sql, i)
            except ValueError:
                return None
            mc = re.match(r"\s*,", sql[i:])
            if mc:
                i += mc.end()
                continue
            break
        prefix, sql = sql[:i], sql[i:]
        if re.search(r"\bGROUPS\b", prefix, re.I):
            return None
    got = _simple_select(sql)
    if got is None:
        return None
    m, select_list, from_part, tail = got
    if re.search(r"\bGROUPS\b", from_part, re.I):
        return None  # an unrewritable GROUPS survives in a subquery
    items = split_top_level(select_list)
    if any(it.strip() == "*" or it.strip().endswith(".*") for it in items):
        return None

    def norm(x: str) -> str:
        return re.sub(r"\s+", " ", (x or "").strip()).lower()

    windows: dict[tuple, str] = {}

    def fix_overs(text: str) -> str | None:
        out, i, n = [], 0, len(text)
        over_re = re.compile(r"\bOVER\s*\(", re.I)
        while i < n:
            mo = over_re.search(text, i)
            if not mo:
                out.append(text[i:])
                break
            try:
                close = paren_end(text, mo.end() - 1)
            except ValueError:
                return None
            body = text[mo.end() : close - 1]
            gi = find_top_level(body, "GROUPS")
            if gi < 0:
                out.append(text[i:close])
                i = close
                continue
            # EXCLUDE clauses ride along: GROUPS peers == RANGE-on-
            # dense_rank peers, so the EXCLUDE rewrites compose on the
            # rewritten frame (the caller chains them)
            pm = re.search(r"\bPARTITION\s+BY\b", body, re.I)
            om = re.search(r"\bORDER\s+BY\b", body, re.I)
            if not om:
                return None
            partition = body[pm.end() : om.start()].strip() if pm else None
            order = body[om.end() : gi].strip()
            frame = body[gi + len("GROUPS") :].strip()
            key = (norm(partition or ""), norm(order))
            dr = windows.setdefault(key, f"__dr{len(windows)}")
            newbody = (f"PARTITION BY {partition} " if partition else "") + (
                f"ORDER BY {dr} RANGE {frame}"
            )
            out.append(text[i : mo.start()] + f"OVER ({newbody})")
            i = close
        return "".join(out)

    new_list = fix_overs(select_list)
    new_tail = fix_overs(tail)
    if new_list is None or new_tail is None or not windows:
        return None
    dr_cols = ", ".join(
        "DENSE_RANK() OVER ("
        + (f"PARTITION BY {p} " if p else "")
        + f"ORDER BY {o}) AS {name}"
        for (p, o), name in windows.items()
    )
    # single bare table (with optional alias): keep its name as the
    # wrapper alias so correlated subqueries referencing it still
    # resolve; anything else gets the synthetic alias
    tm = re.fullmatch(
        r"([A-Za-z_]\w*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?", from_part, re.I
    )
    wrap_alias = (tm.group(2) or tm.group(1)) if tm else "__groups_src"
    inner = f"(SELECT *, {dr_cols} FROM {from_part}) AS {wrap_alias}"
    return (
        prefix + sql[: m.start(1)] + m.group(1) + (m.group(2) or "")
        + new_list + " FROM " + inner + " " + new_tail
    )


def truthy_sql(expr: str) -> str:
    """SQLite truthiness of an arbitrary expression, Spark-typed:
    booleans pass through, everything else goes through the REAL
    affinity cast (numeric-prefix parse — '1abc' is true, 'abc'/blobs/
    NULL are false). The typeof branch constant-folds; both arms are
    analysis-safe for any input type (values reach the cast as
    strings)."""
    real = _rewrite_cast(f"({expr}) AS REAL")
    # three-valued: NULL stays NULL (so WHERE drops it but NOT NULL
    # stays NULL, exactly SQLite's behavior)
    return (
        f"(CASE WHEN typeof(({expr})) = 'boolean' "
        f"THEN CAST(CAST(({expr}) AS STRING) AS BOOLEAN) "
        f"ELSE ({real}) <> 0 END)"
    )


def _split_bool_keyword(e: str, kw: str) -> list[str]:
    """Split ``e`` on top-level ``kw`` (AND/OR) — outside literals,
    parens and CASE..END, and never the AND that closes a BETWEEN."""
    kw = kw.lower()
    parts, cur, case_d, pending_between = [], [], 0, 0
    for t in tokens(e):
        w = t[1].lower() if t[0] == "word" and t[4] == 0 else ""
        if w == "case":
            case_d += 1
        elif w == "end" and case_d:
            case_d -= 1
        elif case_d == 0 and w == "between":
            pending_between += 1
        elif case_d == 0 and w == kw:
            if kw == "and" and pending_between > 0:
                pending_between -= 1
            else:
                parts.append(_span(e, cur))
                cur = []
                continue
        cur.append(t)
    parts.append(_span(e, cur))
    return parts


def truthy_expr(e: str) -> str:
    """Recursive SQLite-truthiness wrap: AND/OR/NOT structure is kept
    (each operand wrapped), leaves go through :func:`truthy_sql` (a
    no-op branch for values that are already boolean)."""
    e = e.strip()
    ors = _split_bool_keyword(e, "OR")
    if len(ors) > 1:
        return "(" + " OR ".join(truthy_expr(p) for p in ors) + ")"
    ands = _split_bool_keyword(e, "AND")
    if len(ands) > 1:
        return "(" + " AND ".join(truthy_expr(p) for p in ands) + ")"
    m = re.match(r"(?i)^NOT\b", e)
    if m:
        return "(NOT " + truthy_expr(e[m.end() :]) + ")"
    if _is_group(e) and not re.match(r"(?i)^\(\s*SELECT\b", e):
        return truthy_expr(e[1:-1])
    return truthy_sql(e)


_CASE_WHEN_RE = re.compile(r"\bCASE\s+WHEN\b", re.I)


def _wrap_case_when_truthy(sql: str) -> str:
    """Wrap every searched-CASE WHEN condition (``CASE WHEN cond
    THEN``) in :func:`truthy_expr` — SQLite accepts any value as the
    condition. Simple CASE (``CASE x WHEN v``) comparisons are values,
    not conditions, and are left alone."""
    if not _CASE_WHEN_RE.search(sql):
        return sql
    toks = tokens(sql)
    n = len(toks)
    out, pos, k = [], 0, 0
    # stack of flags: True = searched CASE at this nesting level
    searched: list[bool] = []
    while k < n:
        kind, _, s, _, depth, _ = toks[k]
        w = toks[k][1].lower() if kind == "word" else ""
        k += 1
        if w == "case":
            searched.append(k < n and toks[k][1].lower() == "when")
        elif w == "end" and searched:
            searched.pop()
        elif w == "when" and searched and searched[-1]:
            # condition runs to the matching THEN at this level
            then_k, cd = None, 0
            for j in range(k, n):
                if toks[j][4] < depth:
                    break
                wj = toks[j][1].lower() if toks[j][0] == "word" and toks[j][4] == depth else ""
                if wj == "case":
                    cd += 1
                elif wj == "end" and cd:
                    cd -= 1
                elif wj == "then" and cd == 0:
                    then_k = j
                    break
            if then_k is None or then_k == k:
                break
            cond = _wrap_case_when_truthy(_span(sql, toks[k:then_k]))
            out.append(sql[pos:s] + "WHEN " + truthy_expr(cond))
            pos, k = toks[then_k - 1][3], then_k
    out.append(sql[pos:])
    return "".join(out)


_WHERE_HAVING_RE = re.compile(r"\b(WHERE|HAVING)\b", re.I)
_CLAUSE_END_RE = re.compile(
    r"(GROUP\s+BY|ORDER\s+BY|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT|HAVING|RETURNING)\b", re.I
)


_HAVING_ONLY_RE = re.compile(r"\b(HAVING)\b", re.I)


def wrap_where_truthy(sql: str, only_having: bool = False) -> str | None:
    """Wrap every WHERE/HAVING clause body in :func:`truthy_sql` —
    SQLite accepts any value there ('SELECT 1 WHERE 2'); Spark demands
    boolean. Used as a RETRY after FILTER_NOT_BOOLEAN, so SQL Spark
    already accepts never pays the wrap — EXCEPT HAVING, which is also
    wrapped PROACTIVELY (``only_having=True``): Spark silently coerces
    a STRING having-condition to boolean (CAST semantics — '7abc'
    becomes NULL) instead of erroring, so the retry can never fire
    there (r11 HAVING battery: ``HAVING max(tx)`` returned no rows).
    Returns None when no clause was found."""
    if only_having:
        changed = False
        clause_re = _HAVING_ONLY_RE
    else:
        pre = _wrap_case_when_truthy(sql)
        changed = pre != sql
        sql = pre
        clause_re = _WHERE_HAVING_RE
    toks = tokens(sql)
    n = len(toks)
    out, pos, k = [], 0, 0
    while k < n:
        kind, _, s, _, depth, _ = toks[k]
        m = clause_re.match(sql, s) if kind == "word" else None
        k += 1
        if not m:
            continue
        # clause body: to the next same-depth clause keyword, a ')'
        # closing this depth, or end-of-string
        j = k
        while j < n and toks[j][4] >= depth and not (
            toks[j][4] == depth and toks[j][0] == "word" and _CLAUSE_END_RE.match(sql, toks[j][2])
        ):
            j += 1
        if j > k:
            out.append(sql[pos:s] + m.group(1) + " " + truthy_expr(_span(sql, toks[k:j])))
            pos = toks[j - 1][3]
            changed = True
        k = j
    out.append(sql[pos:])
    return "".join(out) if changed else None


_FILTER_WHERE_RE = re.compile(r"\bFILTER\s*\(\s*WHERE\b", re.I)


def _rewrite_window_filter(sql: str) -> str:
    """``agg(x) FILTER (WHERE p) OVER (...)`` → ``agg(CASE WHEN p THEN
    x END) OVER (...)`` — Spark supports FILTER on plain aggregates but
    not on window functions ('Window aggregate function with filter
    predicate is not supported yet'); the CASE folding is exact for the
    sum/avg/count/min/max/total family SQLite allows there
    (``count(*)`` counts via ``CASE WHEN p THEN 1 END``). Non-window
    FILTER clauses are left for Spark's native handling."""
    pos = 0
    while True:
        m = _FILTER_WHERE_RE.search(sql, pos)
        if not m:
            return sql
        open_idx = sql.index("(", m.start())
        try:
            close = paren_end(sql, open_idx)
        except ValueError:
            return sql
        if not re.match(r"\s*OVER\b", sql[close:], re.I):
            pos = close  # aggregate FILTER: Spark-native
            continue
        where_kw = re.compile(r"WHERE\b", re.I).search(sql, open_idx)
        pred = sql[where_kw.end() : close - 1].strip()
        head = sql[: m.start()]
        call = _call_before(head)
        if not call or not call[0] or re.search(r"\bDISTINCT\b", call[1], re.I):
            pos = close  # unsupported shape: let Spark surface its error
            continue
        fname, argtext, ns = call
        inner = "1" if argtext.strip() == "*" else f"({argtext})"
        new_head = f"{head[:ns]}{fname}(CASE WHEN ({pred}) THEN {inner} END)"
        sql = new_head + sql[close:]
        pos = len(new_head)


def rewrite_sqlite_fns(sql: str) -> str:
    """SQLite→Spark function dialect: token renames outside string
    literals, then the argument-aware pass for calls whose arity or
    semantics differ (variadic char/max/min, 2-arg trims, typeof/quote,
    the date/time/datetime modifier family). Raw-literal backslash
    escaping (:func:`escape_raw_literals`) is NOT applied here — this
    function re-runs on statement fragments (CTAS SELECTs, RETURNING
    projections, stored CHECK/generated exprs) and the escape is not
    idempotent; the session applies it exactly once per statement at
    the _apply/_sql entry points."""
    # static-typing rewrites first, on the raw SQLite-dialect text
    # (integer division, literal cross-type compare folding, string
    # abs() — idempotent, so fragment re-runs are safe); the session
    # adds a second, column-affinity-aware sweep at the _sql entry.
    # arrows=True: on this raw text '->' is always a JSON arrow (SQLite
    # has no lambdas) — the arithmetic passes may treat an arrow chain
    # as a TEXT-class primary; the second sweep runs on rewritten Spark
    # text where '->' is a lambda and must keep arrows off
    sql = rewrite_typed_ops(sql, arrows=True)
    toks = tokens(sql)
    out, pos = [], 0
    for k, (kind, text, s, e, _, _) in enumerate(toks):
        name = _FN_RENAMES.get(text.lower()) if kind == "word" else None
        if name and k + 1 < len(toks) and toks[k + 1][1] == "(" and not _table_position(toks, k):
            out.append(sql[pos:s] + name)
            pos = e
    out.append(sql[pos:])
    return _rewrite_operators(
        _rewrite_glob_operator(
            _rewrite_arg_fns(
                _rewrite_json_arrows(_rewrite_window_filter(_rewrite_row_values("".join(out))))
            )
        )
    )


_TABLE_POSITION_WORDS = frozenset(("table", "into", "from", "join", "update", "view", "trigger"))


def _table_position(toks, k: int) -> bool:
    """An identifier in TABLE position is not a function call: CREATE
    TABLE log(...), INSERT INTO round(...), DELETE FROM char — r7, found
    by the trigger differential (the rename layer turned the table
    'log' into 'log10')."""
    return k > 0 and toks[k - 1][0] == "word" and toks[k - 1][1].lower() in _TABLE_POSITION_WORDS


def _primary_before(toks, k: int) -> int:
    """Offset where the primary expression ending just before token
    ``k`` starts: a paren group with its call name, a literal, or an
    unbroken identifier/number chain (dotted and quoted parts
    included). Used to capture the LHS of a JSON arrow or GLOB."""
    if k == 0:
        return toks[0][2]
    j = k - 1
    kind, text, s, e, _, mate = toks[j]
    if text == ")" and mate >= 0:
        o = mate
        if o > 0 and toks[o - 1][0] == "word" and toks[o - 1][3] == toks[o][2]:
            o -= 1
        return toks[o][2]
    if kind in ("str", "blob"):
        return s
    if kind not in ("word", "num", "qid") and text != ".":
        return e
    while j > 0 and toks[j - 1][3] == toks[j][2] and (
        toks[j - 1][0] in ("word", "num", "qid") or toks[j - 1][1] == "."
    ):
        j -= 1
    return toks[j][2]


_ARROW_RHS_RE = re.compile(r"\s*('(?:[^']|'')*'|\d+)")


def _rewrite_json_arrows(sql: str) -> str:
    """SQLite's ``->`` / ``->>`` JSON operators (json1, 3.38+):
    ``j -> p`` extracts as JSON text (strings stay quoted — Spark's
    variant path renders this exactly), ``j ->> p`` extracts as SQL
    text. RHS 'a' means $.a, a bare integer N means $[N], '$.x' paths
    pass through. Only literal RHS forms rewrite (SQLite requires TEXT
    or INTEGER there), which also keeps Spark lambda arrows
    (``x -> x + 1``) untouched. The ->> dynamic result type (SQLite
    returns INTEGER for json ints) flattens to TEXT — the documented
    dynamic-typing divergence family."""
    while "->" in sql:
        # the leftmost arrow: '-' glued to '>' (or '>>')
        toks = tokens(sql)
        k = next(
            (
                k
                for k in range(len(toks) - 1)
                if toks[k][1] == "-" and toks[k + 1][1] in (">", ">>") and toks[k + 1][2] == toks[k][3]
            ),
            None,
        )
        if k is None:
            return sql
        found, deep = toks[k][2], toks[k + 1][1] == ">>"
        m = _ARROW_RHS_RE.match(sql, toks[k + 1][3])
        if not m:
            return sql  # not a JSON arrow (e.g. lambda) — leave whole text
        rhs = m.group(1)
        lhs_start = _primary_before(toks, k)
        lhs = sql[lhs_start:found].strip()
        if not lhs:
            return sql
        if rhs.isdigit():
            path = f"'$[{rhs}]'"
        else:
            inner = rhs[1:-1]
            path = rhs if inner.startswith("$") else f"'$.{inner}'"
        if deep:
            # ->> extracts TYPED like json_extract (SQLite: json ints
            # come back INTEGER — r6 finding; containers as json text)
            repl = _typed_json_extract(lhs, path)
        elif "#" in path:
            # '->' returns json text; the navigator already serializes
            repl = f"__json_extract_path(CAST(({lhs}) AS STRING), {path})"
        else:
            repl = f"to_json(try_variant_get(try_parse_json({lhs}), {path}))"
        sql = sql[:lhs_start] + repl + sql[m.end():]
    return sql


# -- operator-level SQLite semantics ---------------------------------------

# SQLite `a IS b` / `a IS NOT b` are null-safe comparisons for ANY
# operands (db delegates to SQLite); Spark spells them IS [NOT]
# DISTINCT FROM. LIKE is case-insensitive for ASCII in SQLite → ILIKE.
_IS_NOT_RE = re.compile(r"\bIS\s+NOT\b(?!\s+(?:NULL|DISTINCT)\b)", re.I)
_IS_RE = re.compile(r"\bIS\b(?!\s+(?:NOT|NULL|DISTINCT)\b)", re.I)
_LIKE_RE = re.compile(r"\bLIKE\b", re.I)


_QPARAM_RE = re.compile(r"\?(\d+)?")


def normalize_numbered_params(sql: str, params) -> tuple[str, list]:
    """SQLite numbered placeholders: ``?NNN`` binds the NNNth parameter,
    a bare ``?`` takes the *largest index assigned so far* + 1 — not
    previous-placeholder + 1 (lang_expr.html#varparam: "one greater than
    the largest parameter number already assigned"; sqlite3-probed:
    ``SELECT ?2, ?1, ?`` with (10,20,30) → (20,10,30)). Rewrites every
    placeholder to a plain positional ``?`` with a reordered parameter
    list — a no-op for pure-? SQL. String-literal aware."""
    params = list(params or [])
    if not params or "?" not in sql:
        return sql, params
    new_params: list = []
    state = {"max": 0}

    def fix(seg: str) -> str:
        def sub(m):
            idx = int(m.group(1)) if m.group(1) else state["max"] + 1
            state["max"] = max(state["max"], idx)
            new_params.append(params[idx - 1] if 1 <= idx <= len(params) else None)
            return "?"

        return _QPARAM_RE.sub(sub, seg)

    return _map_outside_strings(sql, fix), new_params


_NEG_LIMIT_RE = re.compile(r"\bLIMIT\s+-\d+\b", re.I)
# SQLite hex literals are int64 two's complement (0xFFFFFFFFFFFFFFFF =
# -1); Spark has no 0x form at all (r12: bare hex in VALUES/SELECT
# resolved as a column name). Normalize to the decimal integer — the
# typed-ops sweep already ran, so chain semantics saw the hex form
# where they needed it; >16-digit literals stay (SQLite's 'hex literal
# too big' error shape surfaces downstream).
_HEX_LIT_RE = re.compile(r"\b0[xX][0-9A-Fa-f]{1,16}(?![0-9A-Za-z_])")


def _hex_to_int(m: re.Match) -> str:
    v = int(m.group(0), 16)
    if v >= 2**63:
        v -= 2**64
    return str(v)
# SQLite window frames: EXCLUDE NO OTHERS is the default (a no-op) —
# strip it; real GROUPS/EXCLUDE frames have no Spark equivalent and are
# rejected loudly in the session read path
_EXCLUDE_NOOP_RE = re.compile(r"\bEXCLUDE\s+NO\s+OTHERS\b", re.I)
UNSUPPORTED_FRAME_RE = re.compile(
    r"\bGROUPS\s+(?:BETWEEN\b|UNBOUNDED\b|CURRENT\b|\d)|\bEXCLUDE\s+(?:CURRENT\s+ROW|GROUP|TIES)\b",
    re.I,
)
# SQLite collation names → Spark 4 collations (same postfix COLLATE
# syntax); RTRIM (trailing-space-insensitive compare, stored text
# untouched) maps to Spark's UTF8_BINARY_RTRIM trim-modifier collation —
# probed identical on =/</GROUP BY/DISTINCT semantics
_COLLATE_NOCASE_RE = re.compile(r"\bCOLLATE\s+NOCASE\b", re.I)
_COLLATE_BINARY_RE = re.compile(r"\bCOLLATE\s+BINARY\b", re.I)
_COLLATE_RTRIM_RE = re.compile(r"\bCOLLATE\s+RTRIM\b", re.I)
_CURRENT_TS_RE = re.compile(r"\bCURRENT_TIMESTAMP\b", re.I)
_CURRENT_TIME_RE = re.compile(r"\bCURRENT_TIME\b(?!STAMP)", re.I)
_CURRENT_DATE_RE = re.compile(r"\bCURRENT_DATE\b", re.I)


_GLOB_RHS_RE = re.compile(r"\s*('(?:[^']|'')*'|\?\d*|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)")
_GLOB_OP_HEAD_RE = re.compile(r"(NOT\s+)?GLOB\b(?!\s*\()", re.I)


def _rewrite_glob_operator(sql: str) -> str:
    """SQLite's infix ``expr GLOB pattern`` / ``NOT GLOB`` (equivalent
    to glob(pattern, expr)): rewritten to the __sqlite_glob macro
    compared to 1/0. Primary operands only (literal / column ref /
    parameter) — the call form glob(p, x) goes through the rename
    layer, excluded here by the no-paren lookahead."""
    while re.search(r"\bGLOB\b", sql, re.I):
        toks = tokens(sql)
        k, m = next(
            (
                (k, m)
                for k, t in enumerate(toks)
                if t[0] == "word" and (m := _GLOB_OP_HEAD_RE.match(sql, t[2]))
            ),
            (None, None),
        )
        if k is None:
            return sql
        found, neg = toks[k][2], bool(m.group(1))
        mr = _GLOB_RHS_RE.match(sql, m.end())
        if not mr:
            return sql
        rhs = mr.group(1)
        lhs_start = _primary_before(toks, k)
        lhs = sql[lhs_start:found].strip()
        if not lhs:
            return sql
        repl = f"__sqlite_glob({rhs}, {lhs}) = {0 if neg else 1}"
        sql = sql[:lhs_start] + repl + sql[mr.end() :]
    return sql


def _rewrite_operators(sql: str) -> str:
    def fix(seg: str) -> str:
        seg = _IS_NOT_RE.sub("IS DISTINCT FROM", seg)
        seg = _IS_RE.sub("IS NOT DISTINCT FROM", seg)
        seg = _NEG_LIMIT_RE.sub("", seg)  # SQLite: negative LIMIT = unlimited
        seg = _HEX_LIT_RE.sub(_hex_to_int, seg)  # 0x11 → 17 (two's complement)
        seg = _EXCLUDE_NOOP_RE.sub("", seg)  # default frame exclusion = no-op
        seg = _COLLATE_NOCASE_RE.sub("COLLATE UTF8_LCASE", seg)
        seg = _COLLATE_BINARY_RE.sub("COLLATE UTF8_BINARY", seg)
        seg = _COLLATE_RTRIM_RE.sub("COLLATE UTF8_BINARY_RTRIM", seg)
        seg = _double_literals(seg)
        # SQLite CURRENT_* are UTC text in fixed formats (engine
        # sessions run with a UTC session timezone)
        seg = _CURRENT_TS_RE.sub("date_format(current_timestamp(), 'yyyy-MM-dd HH:mm:ss')", seg)
        seg = _CURRENT_TIME_RE.sub("date_format(current_timestamp(), 'HH:mm:ss')", seg)
        seg = _CURRENT_DATE_RE.sub("date_format(current_timestamp(), 'yyyy-MM-dd')", seg)
        return _LIKE_RE.sub("ILIKE", seg)

    return _map_outside_strings(sql, fix)


# SQLite rowid alias: bare rowid/_rowid_/oid name the INTEGER PRIMARY
# KEY column of a rowid table (TableDef.rowid_column); a real column
# with one of these names shadows the alias, exactly like SQLite.
_ROWID_RE = re.compile(r"\b(rowid|_rowid_|oid)\b", re.I)


_FROM_STOP_WORDS = {
    "where", "group", "order", "limit", "having", "window", "union",
    "intersect", "except", "on", "using", "join", "left", "right",
    "full", "inner", "cross", "natural", "outer",
}


def parse_from_aliases(sql: str) -> dict[str, str]:
    """alias (or bare table name) -> table name, lowercased, for every
    plain table reference in any FROM/JOIN clause (comma lists
    included). Subqueries and function tables are skipped — their
    aliases simply don't land in the map. Best-effort textual parse for
    rowid resolution only: an unmapped alias just means that alias's
    rowid token stays unresolved, matching SQLite's 'no such column'
    posture."""
    out: dict[str, str] = {}
    toks = tokens(sql)
    n = len(toks)
    in_from = False  # inside a FROM clause (until a clause ender)
    expect = False  # the next reference is a FROM-list entry
    _enders = {
        "where", "group", "order", "limit", "having", "window",
        "union", "intersect", "except",
    }

    def name_at(j: int):
        """The lowercased name at token ``j``: a word that is no FROM
        keyword, or any quoted identifier (never a keyword); None
        otherwise."""
        if j < n and toks[j][0] == "qid":
            return unquote_ident(toks[j][1]).lower()
        if j < n and toks[j][0] == "word":
            w = toks[j][1].lower()
            if w not in _FROM_STOP_WORDS and w != "as":
                return w
        return None

    def alias_at(j: int):
        """([AS] alias, index after it) at token ``j``; (None, j) when
        no alias follows."""
        a = j + 1 if j < n and toks[j][0] == "word" and toks[j][1].lower() == "as" else j
        cand = name_at(a)
        return (cand, a + 1) if cand is not None else (None, j)

    k = 0
    while k < n:
        kind, text, _, _, _, mate = toks[k]
        k += 1
        if kind == "op" and text == "(":
            # skip subquery/function bodies wholesale
            k = mate + 1 if mate >= 0 else n
            if expect:
                # (subquery) [AS] alias — consume the alias WITHOUT
                # recording it: it must not shadow-resolve to a real
                # table of the same name
                k = alias_at(k)[1]
                expect = False
        elif kind == "op" and text == ",":
            expect = expect or in_from
        elif kind == "word" and text.lower() in ("from", "join"):
            in_from = expect = True
        elif kind == "word" and text.lower() in _enders:
            in_from = expect = False
        elif expect and name_at(k - 1) is not None:
            # on/using/join-modifiers stay in the FROM clause; an
            # alias HIDES the base name ('SELECT t.rowid FROM t AS a'
            # is 'no such column: t.rowid' in SQLite) — only the
            # alias (or the bare reference itself) lands in the map
            tname = name_at(k - 1)
            alias, k = alias_at(k)
            out[alias or tname] = tname
            expect = False
    return out


def resolve_rowid_multi(sql: str, alias_tdefs: dict):
    """Qualified rowid resolution for multi-table SQL: ``a.rowid``
    resolves through ``alias_tdefs`` (lower alias/table name →
    TableDef); bare rowid tokens are LEFT ALONE — with more than one
    rowid table in scope SQLite raises 'no such column: rowid'
    (sqlite3-probed), and the unresolved token surfaces the analogous
    engine error. Qualified select items follow SQLite's probed wire
    naming (``x.rowid`` → the PK name on an alias table via plain
    substitution, literal ``rowid`` on an implicit table via an AS
    alias). ``x.*`` items expand to the visible columns of exposed
    implicit tables. Returns (sql, used_implicit_tdefs) — the caller
    exposes those tables' hidden columns for the statement. Bare ``*``
    select items with an implicit table in scope abort resolution
    (returns the original sql and []) rather than leak hidden columns.
    """
    toks = tokens(sql)
    items = _select_item_heads(toks)
    out, pos = [], 0
    used: dict[int, object] = {}
    any_implicit = any(td.implicit_rowid for td in alias_tdefs.values())
    for k, (kind, text, s, e, _, _) in enumerate(toks):
        qual = (
            toks[k - 2][1].lower()
            if k >= 2 and toks[k - 1][1] == "." and toks[k - 2][0] == "word"
            else None
        )
        td = alias_tdefs.get(qual) if qual else None
        wl = text.lower()
        if kind == "op" and text == "*" and items[k]:
            if qual is None and any_implicit:
                return sql, []  # bare * can't be safely expanded here
            if td is not None and td.implicit_rowid:
                used[id(td)] = td
                expanded = ", ".join(f"{qual}.{c.name}" for c in td.visible_fields())
                # the qualifier + dot stay — strip them from the first column
                out.append(sql[pos:s] + expanded[len(qual) + 1 :])
                pos = e
        elif (
            kind == "word"
            and wl in _ROWID_NAMES
            and td is not None
            and td.rowid_column
            and wl not in {f.name.lower() for f in td.schema.fields}
        ):
            if td.implicit_rowid:
                used[id(td)] = td
            rep = td.rowid_column
            if items[k] and td.implicit_rowid:
                rep += " AS rowid"
            out.append(sql[pos:s] + rep)
            pos = e
    out.append(sql[pos:])
    return "".join(out), list(used.values())


def _select_item_heads(toks) -> list[bool]:
    """Per token: does it stand alone as a select-list item (modulo a
    ``qual.`` prefix) — inside an open SELECT list at that list's paren
    depth, after SELECT/DISTINCT/ALL/',' and before ',' or FROM? Commas
    inside calls or IN lists never fake an item position."""
    flags = [False] * len(toks)
    sel_depths: list[int] = []  # paren depths with an open SELECT list
    for k, (kind, text, _, _, depth, _) in enumerate(toks):
        w = text.lower() if kind in ("word", "op") else ""
        if w == ")":
            while sel_depths and sel_depths[-1] > depth:
                sel_depths.pop()
        elif w == "select":
            sel_depths.append(depth)
        elif w == "from" and sel_depths and sel_depths[-1] == depth:
            sel_depths.pop()
        elif sel_depths and sel_depths[-1] == depth and k + 1 < len(toks):
            j = k - 3 if k >= 2 and toks[k - 1][1] == "." else k - 1
            prev = toks[j][1].lower() if j >= 0 else ""
            flags[k] = toks[k + 1][1].lower() in (",", "from") and prev in (
                ",", "select", "distinct", "all",
            )
    return flags


def resolve_rowid(sql: str, tdef) -> str:
    """Substitute the table's rowid column for bare rowid tokens.

    INTEGER-PRIMARY-KEY alias tables: plain substitution — SQLite names
    a bare rowid select item after the PK column itself (probed:
    cur.description for ``SELECT rowid FROM t`` is ``id``), so no
    aliasing is needed anywhere.

    Implicit-rowid tables (hidden HIDDEN_ROWID storage column): SQLite
    names a bare rowid/_rowid_/oid select item literally ``rowid``
    (probed: ``SELECT oid, _rowid_`` → ['rowid', 'rowid']), so a token
    standing alone in a select list — preceded by SELECT/',' (modulo a
    table qualifier), followed by ',' or FROM at the same paren depth —
    becomes ``HIDDEN AS rowid``. Bare ``*`` / ``x.*`` select items are
    expanded to the visible column list because the query runs against
    a temporary view that exposes the hidden column (SQLite's ``*``
    never includes rowid). Single linear scan tracking string literals,
    backticks, paren depth and open SELECT lists so commas inside
    function calls or IN-lists can't fake a select-item position."""
    if not tdef or not tdef.rowid_column:
        return sql
    has_token = bool(_ROWID_RE.search(sql))
    # implicit tables also need bare-* expansion when the SQL runs
    # against a view exposing the hidden column (RETURNING *)
    if not has_token and not (tdef.implicit_rowid and "*" in sql):
        return sql
    cols = {f.name.lower() for f in tdef.schema.fields}
    rc = tdef.rowid_column

    if not tdef.implicit_rowid:

        def sub(m):
            return m.group(1) if m.group(1).lower() in cols else rc

        return _map_outside_strings(sql, lambda seg: _ROWID_RE.sub(sub, seg))

    visible = [f.name for f in tdef.visible_fields()]
    toks = tokens(sql)
    items = _select_item_heads(toks)
    out, pos = [], 0
    for k, (kind, text, s, e, _, _) in enumerate(toks):
        if kind == "op" and text == "*" and items[k]:
            qual = toks[k - 2][1] + "." if k >= 2 and toks[k - 1][1] == "." else ""
            # the qualifier (if any) is already emitted — drop it from
            # the first expanded column only
            expanded = ", ".join(f"{qual}{c}" for c in visible)
            out.append(sql[pos:s] + expanded[len(qual) :])
            pos = e
        elif kind == "word" and text.lower() in _ROWID_NAMES and text.lower() not in cols:
            out.append(sql[pos:s] + (f"{rc} AS rowid" if items[k] else rc))
            pos = e
    out.append(sql[pos:])
    return "".join(out)


def has_rowid_token(sql: str) -> bool:
    return bool(_ROWID_RE.search(sql))


# -- argument-aware SQLite call rewriting ----------------------------------

_ARG_FN_RE = re.compile(
    r"\b(char|max|min|sign|ltrim|rtrim|trim|typeof|quote|date|time|datetime|cast"
    r"|total|group_concat|round|strftime|json_array_length|json_extract|json_type"
    r"|json_array|json_object|json_quote"
    r"|json_set|json_insert|json_replace|json_remove"
    r"|json_group_array|json_group_object"
    r"|likely|unlikely|likelihood|hex|like|unicode|unixepoch|julianday"
    r"|log|floor|ceil|ceiling|mod|trunc|lower|upper|substr|substring"
    r"|printf|format_string|sqrt|acos|asin|acosh|atanh|power|pow|avg)\s*\(",
    re.I,
)

#: serialize ONE argument of any type to its JSON text — the
#: to_json(array(x)) bracket-strip trick keeps the argument's Spark type
#: (numbers unquoted, strings quoted+escaped, booleans, nulls)
_JV = "substr(to_json(array({a})), 2, length(to_json(array({a}))) - 2)"

#: a value argument that is itself a json-builder call carries SQLite's
#: JSON subtype: it embeds as raw JSON text, never re-quoted
_JSON_SUBTYPE_RE = re.compile(
    r"^\s*(json|json_array|json_object|json_quote|json_set|json_insert"
    r"|json_replace|json_remove|json_patch"
    r"|json_group_array|json_group_object)\s*\(",
    re.I,
)


def _jval(rewritten: str, raw: str) -> str:
    if _JSON_SUBTYPE_RE.match(raw):
        return rewritten
    return _JV.format(a=rewritten)

_SQLITE_TYPEOF_MAP = (
    "CASE WHEN ({a}) IS NULL THEN 'null' ELSE "
    "CASE typeof({a}) WHEN 'void' THEN 'null' WHEN 'string' THEN 'text' "
    "WHEN 'binary' THEN 'blob' WHEN 'boolean' THEN 'integer' "
    "WHEN 'tinyint' THEN 'integer' WHEN 'smallint' THEN 'integer' "
    "WHEN 'int' THEN 'integer' WHEN 'bigint' THEN 'integer' "
    "ELSE CASE WHEN typeof({a}) RLIKE '^(double|float|decimal)' THEN 'real' "
    "ELSE typeof({a}) END END END"
)

_DT_FMT = {"date": "yyyy-MM-dd", "time": "HH:mm:ss", "datetime": "yyyy-MM-dd HH:mm:ss"}


def _sqlite_datetime_expr(kind: str, args: list[str]) -> str | None:
    """date/time/datetime with SQLite modifier strings → Spark expr;
    None when a modifier is not a recognized literal (call left as-is).
    SQLite semantics: text in, text out (db/src/db.rs delegates all of
    this to SQLite's date functions)."""
    v, mods = args[0], [a.strip() for a in args[1:]]
    if mods and mods[0].lower() == "'unixepoch'":
        e = f"timestamp_seconds(CAST({v} AS BIGINT))"
        mods = mods[1:]
    elif mods and mods[0].lower() == "'julianday'":
        # the value is a julian day number (lang_datefunc)
        e = f"timestamp_seconds((CAST({v} AS DOUBLE) - 2440587.5) * 86400.0)"
        mods = mods[1:]
    else:
        # accept both full datetimes and bare time-of-day strings
        e = (
            f"coalesce(CAST({v} AS TIMESTAMP), "
            f"CAST(concat('1970-01-01 ', {v}) AS TIMESTAMP))"
        )
    for m in mods:
        step = re.match(r"^'([+-]?\d+)\s+(day|hour|minute|second|month|year)s?'$", m, re.I)
        if step:
            unit, n = step.group(2).upper(), step.group(1)
            if unit in ("MONTH", "YEAR"):
                # SQLite NORMALIZES month/year overflow (Jan 31 +1 month
                # = Mar 02, lang_datefunc) — Spark's add_months clamps.
                # Rebuild: first-of-month + months + (day-1) days, time
                # of day re-attached (r6 differential finding).
                months = n if unit == "MONTH" else f"({n}) * 12"
                e = (
                    f"(timestampadd(DAY, day({e}) - 1, "
                    f"timestampadd(MONTH, {months}, date_trunc('MONTH', {e}))) "
                    f"+ ({e} - date_trunc('DAY', {e})))"
                )
            else:
                e = f"timestampadd({unit}, {n}, {e})"
            continue
        start = re.match(r"^'start of (day|month|year)'$", m, re.I)
        if start:
            e = f"date_trunc('{start.group(1).upper()}', {e})"
            continue
        if m.lower() in ("'localtime'", "'utc'"):
            # engine sessions pin spark.sql.session.timeZone=UTC, where
            # both modifiers are identity transforms (SQLite converts
            # between UTC and the HOST zone — a UTC host, like this
            # container and the driver, sees no shift)
            continue
        wd = re.match(r"^'weekday (\d)'$", m, re.I)
        if wd:
            # advance to the NEXT weekday N (0=Sunday), no-op when the
            # date already falls on it (lang_datefunc; Spark dayofweek:
            # Sunday=1)
            n = int(wd.group(1))
            e = (
                f"timestampadd(DAY, pmod({n} - (dayofweek({e}) - 1) + 7, 7), {e})"
            )
            continue
        return None
    return f"date_format({e}, '{_DT_FMT[kind]}')"


# SQLite CAST affinity semantics (db delegates to SQLite): junk strings
# prefix-parse (CAST('12abc' AS INTEGER)=12, CAST('abc' AS INTEGER)=0),
# and the SQLite type names map to Spark types (TEXT→STRING, BLOB→
# BINARY, INTEGER is 64-bit). Only SQLite-dialect type names rewrite —
# Spark-native names (string/bigint/double/…) pass through untouched.
_CAST_INT_NAMES = {"integer", "int", "bigint", "smallint", "tinyint", "mediumint", "int2", "int8"}
_CAST_REAL_NAMES = {"real", "float", "double", "double precision"}
_CAST_TEXT_NAMES = {"text", "clob", "nchar", "nvarchar", "varchar", "character"}

_CAST_INT_WRAP = (
    "CASE WHEN ({x}) IS NULL THEN CAST(NULL AS BIGINT) ELSE coalesce("
    "try_cast(({x}) AS BIGINT), "
    "CAST(try_cast(({x}) AS DOUBLE) AS BIGINT), "
    "try_cast(regexp_extract(CAST(({x}) AS STRING), '^\\\\s*[+-]?[0-9]+', 0) AS BIGINT), "
    "CAST(0 AS BIGINT)) END"
)

_CAST_REAL_WRAP = (
    "CASE WHEN ({x}) IS NULL THEN CAST(NULL AS DOUBLE) ELSE coalesce("
    "try_cast(({x}) AS DOUBLE), "
    "try_cast(regexp_extract(CAST(({x}) AS STRING), "
    "'^\\\\s*[+-]?([0-9]+([.][0-9]*)?([eE][+-]?[0-9]+)?|[.][0-9]+)', 0) AS DOUBLE), "
    "CAST(0.0 AS DOUBLE)) END"
)


def _last_top_level_as(s: str) -> int:
    """Offset of the last top-level ``AS`` keyword in ``s`` (−1: none)."""
    return max(
        (t[2] for t in tokens(s) if t[4] == 0 and t[0] == "word" and t[1].upper() == "AS"),
        default=-1,
    )


def _rewrite_cast(arg: str) -> str | None:
    j = _last_top_level_as(arg)
    if j < 0:
        return None
    expr, typ = arg[:j].strip(), arg[j + 2 :].strip()
    base = re.sub(r"\s*\(.*\)$", "", typ).strip().lower()  # drop (n)/(p,s)
    if base in _CAST_TEXT_NAMES:
        return f"CAST({expr} AS STRING)"
    if base == "blob":
        return f"CAST({expr} AS BINARY)"
    if base in _CAST_INT_NAMES:
        return _CAST_INT_WRAP.format(x=expr)
    if base in _CAST_REAL_NAMES:
        return _CAST_REAL_WRAP.format(x=expr)
    return None


def _typed_json_extract(j: str, path_lit: str, keep_json_null: bool = False) -> str:
    """TYPED json_extract over VARIANT for a literal path (SQLite
    returns json ints as INTEGER, strings as raw TEXT, containers as
    json text — r6 finding; Jackson's get_json_object flattened all to
    text). Duplicate-key docs (VARIANT rejects, SQLite accepts) fall
    back to the Jackson extraction re-parsed as a variant; unquoted
    Jackson STRING results re-quote first (heuristic: anything not
    json-shaped), so only dup-key docs with json-shaped string values
    can mistype."""
    js = f"CAST(({j}) AS STRING)"
    jp = path_lit
    if "#" in jp:
        # '$[#-N]' from-end indexing — no variant_get path equivalent;
        # the Python json1 navigator extracts and re-serializes, and
        # try_parse_json restores the typed-VARIANT contract
        xt = f"try_parse_json(__json_extract_path({js}, {jp}))"
        if keep_json_null:
            return xt
        return f"(CASE WHEN is_variant_null({xt}) THEN NULL ELSE {xt} END)"
    ext = f"get_json_object({js}, {jp})"
    xt = (
        "(CASE WHEN try_parse_json(" + js + ") IS NOT NULL "
        "THEN try_variant_get(parse_json(" + js + "), " + jp + ") "
        "ELSE try_parse_json(CASE WHEN (" + ext + ") RLIKE "
        "'^(\\\\{|\\\\[|-?[0-9]|true$|false$|null$)' THEN (" + ext + ") "
        "ELSE concat('\"', replace(replace((" + ext + "), '\\\\', '\\\\\\\\'), "
        "'\"', '\\\\\"'), '\"') END) END)"
    )
    if keep_json_null:
        return xt
    # SQLite json_extract maps json null to SQL NULL (json_type keeps
    # the distinction, hence the flag)
    return f"(CASE WHEN is_variant_null({xt}) THEN NULL ELSE {xt} END)"


def _rewrite_one_call(
    name: str, args: list[str], raw_args: list[str] | None = None
) -> str | None:
    """Replacement text for one SQLite call (args already rewritten;
    ``raw_args`` holds the pre-rewrite text for syntax checks), or None
    to keep the original call."""
    n = name.lower()
    if n == "cast" and len(args) == 1:
        return _rewrite_cast(args[0])
    if n == "total" and len(args) == 1:
        # SQLite total(): sum over DOUBLE, 0.0 (never NULL) for no rows.
        # The per-value conversion is SQLite's REAL affinity — the
        # numeric-PREFIX parse, not Spark's full-string cast ('7abc'
        # contributes 7, '  -3.5x' contributes -3.5; the plain
        # CAST-AS-DOUBLE NULLed both — r13 aggregate-position probe)
        return (
            f"coalesce(sum({_CAST_REAL_WRAP.format(x=args[0])}), "
            "CAST(0.0 AS DOUBLE))"
        )
    if n == "group_concat":
        # SQLite's default separator is ','; Spark's string_agg 1-arg
        # form concatenates with no separator. DISTINCT keeps SQLite's
        # practical first-occurrence order via array_distinct over the
        # collected list (both engines leave the order formally
        # undefined; Spark's string_agg DISTINCT re-sorts, which never
        # matches)
        dm = re.match(r"(?is)^\s*DISTINCT\s+(.*)$", (raw_args or args)[0] if args else "")
        if dm and len(args) <= 2:
            inner = _rewrite_arg_fns(dm.group(1).strip())
            sep = args[1] if len(args) == 2 else "','"
            return (
                f"array_join(array_distinct(collect_list(CAST(({inner}) AS STRING))), {sep})"
            )
        if len(args) == 1:
            return f"string_agg({args[0]}, ',')"
        if len(args) == 2:
            return f"string_agg({args[0]}, {args[1]})"
        return None
    if n == "avg" and len(args) == 1 and not re.search(r"(?is)^\s*DISTINCT\b", (raw_args or args)[0]):
        # SQLite avg() applies REAL affinity per value: junk text counts
        # as 0.0 INTO THE DENOMINATOR (avg of ('x','y','z','3.5') is
        # 0.875, not 3.5 — r6 finding); Spark drops uncastable values.
        # The affinity wrap preserves the count basis; numeric inputs
        # pass through it unchanged.
        return f"avg({_CAST_REAL_WRAP.format(x=args[0])})"
    if n == "round" and len(args) in (1, 2):
        # SQLite round() always returns REAL (Spark preserves DECIMAL)
        return f"CAST(round({', '.join(args)}) AS DOUBLE)"
    if n == "log" and len(args) == 1:
        # SQLite log(X) is base-10 (Spark's is natural; ln stays ln)
        return f"log10({args[0]})"
    if n in ("floor", "ceil", "ceiling", "mod") and len(args) in (1, 2):
        # SQLite math functions return REAL (floor(2.7)=2.0); the
        # integer-input no-op case diverges (SQLite keeps INTEGER) —
        # documented in test_sqlite_fn_parity
        return f"CAST({n}({', '.join(args)}) AS DOUBLE)"
    if n == "trunc" and len(args) == 1:
        # numeric truncation toward zero (Spark's trunc is date-only)
        return f"CAST(CAST({args[0]} AS BIGINT) AS DOUBLE)"
    if n == "json_quote" and len(args) == 1:
        return _JV.format(a=args[0])
    if n in ("json_set", "json_insert", "json_replace") and len(args) >= 3 and len(args) % 2:
        # (path, value) pairs serialize per-argument (_JV) so SQL text
        # values insert as JSON strings and numbers keep their types —
        # exactly SQLite's json_set value rule. Values built by json
        # functions carry SQLite's JSON subtype and embed as raw JSON.
        mode = n[5:]
        pairs = ", ".join(
            f"concat('[', {_JV.format(a=args[i])}, ',', {_jval(args[i + 1], (raw_args or args)[i + 1])}, ']')"
            for i in range(1, len(args), 2)
        )
        return f"__json_mutate({args[0]}, '{mode}', concat('[', concat_ws(',', {pairs}), ']'))"
    if n == "json_remove" and len(args) >= 2:
        pairs = ", ".join(
            f"concat('[', {_JV.format(a=a)}, ',null]')" for a in args[1:]
        )
        return f"__json_mutate({args[0]}, 'remove', concat('[', concat_ws(',', {pairs}), ']'))"
    if n == "hex" and len(args) == 1:
        # SQLite hex(X) hexes the BYTES of X's text form (hex(3)='33');
        # Spark hexes numbers numerically. Blobs hex their raw bytes on
        # both sides; typeof() is static → the CASE constant-folds.
        a = args[0]
        # the 'blob' alternative keeps this stable when a fragment
        # passes through the rewriter twice (trigger bodies, view DML):
        # the second pass maps typeof() to storage-class names
        # hex(NULL) is '' in SQLite (never NULL)
        return (
            f"coalesce(CASE WHEN typeof({a}) IN ('binary', 'blob') THEN upper(hex({a})) "
            f"ELSE upper(hex(CAST({a} AS STRING))) END, '')"
        )
    if n in ("likely", "unlikely") and len(args) == 1:
        # planner-hint no-ops: pass the value through (SQLite core)
        return f"({args[0]})"
    if n == "likelihood" and len(args) == 2:
        return f"({args[0]})"
    if n == "julianday" and len(args) > 1:
        # julianday with modifiers: apply the datetime modifier chain,
        # then the single-arg julianday UDF converts
        inner = _sqlite_datetime_expr("datetime", args)
        if inner is None:
            return None
        return f"julianday(CAST({inner} AS TIMESTAMP))"
    if n == "unixepoch" and len(args) <= 1:
        # SQLite 3.38 unixepoch([ts]): seconds since the epoch as INTEGER
        if not args:
            return "unix_timestamp()"
        return (
            f"unix_timestamp(coalesce(CAST({args[0]} AS TIMESTAMP), "
            f"CAST(concat('1970-01-01 ', {args[0]}) AS TIMESTAMP)))"
        )
    if n == "unicode" and len(args) == 1:
        # code point of the first char; SQLite returns NULL for the
        # empty string (and char(0)'s empty result) where ascii gives 0
        return f"nullif(ascii({args[0]}), 0)"
    if n == "like" and len(args) in (2, 3):
        # SQLite like(PATTERN, STRING[, ESCAPE]) — argument order is the
        # REVERSE of the infix form, and the function is case-insensitive
        # like the operator (→ ILIKE)
        esc = f" ESCAPE {args[2]}" if len(args) == 3 else ""
        return f"(({args[1]}) ILIKE ({args[0]}){esc})"
    if n == "json_group_array" and len(args) == 1:
        # aggregate twin of json_array: per-row _jval serialization
        # (NULL rows serialize to the string 'null' via the to_json
        # trick, so collect_list never drops them), assembled in group
        # scan order; zero rows → '[]' like SQLite
        raws = raw_args or args
        return (
            f"concat('[', concat_ws(',', collect_list({_jval(args[0], raws[0])})), ']')"
        )
    if n == "json_group_object" and len(args) == 2:
        raws = raw_args or args
        return (
            f"concat('{{', concat_ws(',', collect_list(concat({_JV.format(a=args[0])}, ':', "
            f"{_jval(args[1], raws[1])}))), '}}')"
        )
    if n == "json_array":
        if not args:
            return "'[]'"
        raws = raw_args or args
        parts = ", ".join(_jval(a, raws[i]) for i, a in enumerate(args))
        return f"concat('[', concat_ws(',', {parts}), ']')"
    if n == "json_object":
        if not args:
            return "'{}'"
        if len(args) % 2:
            return None  # SQLite raises on odd arg count; leave to parse
        raws = raw_args or args
        pairs = ", ".join(
            f"concat({_JV.format(a=args[i])}, ':', {_jval(args[i + 1], raws[i + 1])})"
            for i in range(0, len(args), 2)
        )
        return f"concat('{{', concat_ws(',', {pairs}), '}}')"
    if n == "strftime" and len(args) == 2:
        # single-specifier formats with no date_format pattern equivalent
        fmt, t = args[0].strip(), args[1]
        ts = f"CAST({t} AS TIMESTAMP)"
        if fmt == "'%s'":
            return f"CAST(unix_timestamp({ts}) AS STRING)"
        if fmt == "'%w'":  # day of week 0-6, Sunday = 0
            return f"CAST(dayofweek({ts}) - 1 AS STRING)"
        if fmt == "'%W'":  # C-standard Monday-based week of year 00-53
            return (
                f"lpad(CAST(CAST(floor((dayofyear({ts}) - 1 + 7 - "
                f"pmod(dayofweek({ts}) + 5, 7)) / 7) AS INT) AS STRING), 2, '0')"
            )
        return None  # general formats go through the strftime macro
    if n == "char" and len(args) >= 1:
        # SQLite char() takes UNICODE codepoints; Spark's char() wraps
        # mod 256 (char(8364) gave '¬' — r6 differential finding).
        # codepoint → 4-byte big-endian → UTF-32 decode handles the
        # whole range incl. astral planes.
        def cp(a: str) -> str:
            return f"decode(to_binary(lpad(hex({a}), 8, '0'), 'hex'), 'UTF-32')"

        if len(args) == 1:
            return cp(args[0])
        return "concat(" + ", ".join(cp(a) for a in args) + ")"
    if n == "json_extract" and len(args) >= 2:
        lits = [(raw_args or args)[k].strip() for k in range(1, len(args))]
        if all(p.startswith("'") and p.endswith("'") for p in lits):
            xts = [_typed_json_extract(args[0], p) for p in lits]
            if len(xts) == 1:
                return xts[0]
            # multi-path form returns a JSON array TEXT of the values
            return "to_json(array(" + ", ".join(xts) + "))"
        if len(args) == 2:
            return f"get_json_object({args[0]}, {args[1]})"
        return None
    if n == "json_type" and len(args) == 2:
        p = (raw_args or args)[1].strip()
        if not (p.startswith("'") and p.endswith("'")):
            return None
        xt = _typed_json_extract(args[0], p, keep_json_null=True)
        return (
            f"(CASE WHEN ({xt}) IS NULL THEN NULL "
            f"WHEN is_variant_null({xt}) THEN 'null' "
            f"WHEN schema_of_variant({xt}) = 'STRING' THEN 'text' "
            f"WHEN schema_of_variant({xt}) = 'BOOLEAN' THEN "
            f"IF(CAST(({xt}) AS BOOLEAN), 'true', 'false') "
            f"WHEN schema_of_variant({xt}) RLIKE '^(BIGINT|INT|SMALLINT|TINYINT)' THEN 'integer' "
            f"WHEN schema_of_variant({xt}) RLIKE '^(DOUBLE|FLOAT|DECIMAL)' THEN 'real' "
            f"WHEN schema_of_variant({xt}) RLIKE '^ARRAY' THEN 'array' "
            f"ELSE 'object' END)"
        )
    if n == "json_array_length" and len(args) in (1, 2):
        if len(args) == 1:
            v = f"try_parse_json(CAST(({args[0]}) AS STRING))"
        else:
            p = (raw_args or args)[1].strip()
            if not (p.startswith("'") and p.endswith("'")):
                return None
            v = _typed_json_extract(args[0], p)
        # SQLite: arrays → element count, any valid non-array → 0,
        # missing path → NULL
        return (
            f"(CASE WHEN ({v}) IS NULL THEN "
            f"(CASE WHEN ({args[0]}) IS NULL THEN NULL ELSE json_array_length(CAST(({args[0]}) AS STRING)) END) "
            f"WHEN try_cast(({v}) AS ARRAY<VARIANT>) IS NULL THEN 0 "
            f"ELSE size(try_cast(({v}) AS ARRAY<VARIANT>)) END)"
        )
    if n in ("printf", "format_string") and len(args) >= 1:
        # SQLite printf COERCES args per conversion spec (%d of 3.7 is
        # '3', of '42abc' is '42' — the INT/REAL affinity parses); Java's
        # formatter throws on type mismatch (r6 finding). Only literal
        # format strings are analyzable; %q/%w rewrite to %s + quote
        # escaping.
        fmt = (raw_args or args)[0].strip()
        if fmt.startswith("'") and fmt.endswith("'") and len(fmt) >= 2:
            body = fmt[1:-1]
            spec_re = re.compile(r"%[-+ 0#]*\d*(?:\.\d+)?([diouxXeEfgGsqQwc%])")
            new_args = list(args)
            out_fmt, last, ai = [], 0, 1
            for mm in spec_re.finditer(body):
                sp = mm.group(1)
                out_fmt.append(body[last : mm.start()])
                frag = body[mm.start() : mm.end()]
                last = mm.end()
                if sp == "%":
                    out_fmt.append(frag)
                    continue
                if ai < len(new_args):
                    a = new_args[ai]
                    # SQLite printf renders NULL args as 0 / '' / (NULL)
                    # per spec (r6-probed), never the text 'null'
                    if sp in "dioxX":
                        new_args[ai] = f"coalesce({_CAST_INT_WRAP.format(x=a)}, 0)"
                        frag = frag[:-1] + ("d" if sp in "di" else sp)
                    elif sp in "eEfgG":
                        new_args[ai] = (
                            f"coalesce({_CAST_REAL_WRAP.format(x=a)}, CAST(0.0 AS DOUBLE))"
                        )
                    elif sp in "qQw":
                        qc = "''''" if sp in "qQ" else "'\"'"
                        dbl = "''''''" if sp in "qQ" else "'\"\"'"
                        new_args[ai] = (
                            f"coalesce(replace(CAST(({a}) AS STRING), {qc}, {dbl}), '(NULL)')"
                        )
                        frag = frag[:-1] + "s"
                    elif sp == "s":
                        new_args[ai] = f"coalesce(CAST(({a}) AS STRING), '')"
                ai += 1
                out_fmt.append(frag)
            out_fmt.append(body[last:])
            fmt2 = "'" + "".join(out_fmt) + "'"
            return "format_string(" + ", ".join([fmt2, *new_args[1:]]) + ")"
        return None
    if n in ("substr", "substring") and len(args) == 3:
        # SQLite substr edge semantics (the func.c algorithm): start 0
        # consumes one length unit, negative length takes the |Z| chars
        # BEFORE the start, left-edge crossings clamp (r6 differential
        # finding: substr('hello',0,3)='he', substr('hello',2,-1)='h').
        x, y, z = args
        L = f"length(CAST(({x}) AS STRING))"
        p1 = (
            f"(CASE WHEN ({y}) < 0 THEN greatest({L} + ({y}), 0) "
            f"WHEN ({y}) = 0 THEN 0 ELSE ({y}) - 1 END)"
        )
        p2 = (
            f"(CASE WHEN ({y}) < 0 AND {L} + ({y}) < 0 THEN ({z}) + {L} + ({y}) "
            f"WHEN ({y}) = 0 AND ({z}) > 0 THEN ({z}) - 1 ELSE ({z}) END)"
        )
        p1f = f"(CASE WHEN {p2} < 0 THEN greatest({p1} + {p2}, 0) ELSE {p1} END)"
        p2f = (
            f"(CASE WHEN {p2} < 0 THEN "
            f"(CASE WHEN {p1} + {p2} < 0 THEN {p1} ELSE -{p2} END) ELSE {p2} END)"
        )
        return f"substring(CAST(({x}) AS STRING), {p1f} + 1, greatest({p2f}, 0))"
    if n in ("lower", "upper") and len(args) == 1:
        # SQLite lower()/upper() fold ASCII ONLY (lower('ÄBC') = 'Äbc');
        # Spark's are full Unicode — translate() reproduces the ASCII-
        # only behavior exactly
        up, lo = "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
        src, dst = (up, lo) if n == "lower" else (lo, up)
        return f"translate(CAST(({args[0]}) AS STRING), '{src}', '{dst}')"
    if n in ("max", "min") and len(args) > 1:  # scalar form, not the aggregate
        # SQLite scalar max/min return NULL if ANY argument is NULL;
        # Spark's greatest/least skip NULLs (r6 differential finding)
        null_any = " OR ".join(f"({a}) IS NULL" for a in args)
        base = ("greatest(" if n == "max" else "least(") + ", ".join(args) + ")"
        return f"(CASE WHEN {null_any} THEN NULL ELSE {base} END)"
    if n in ("sqrt", "acos", "asin", "acosh", "atanh", "power", "pow") and args:
        # SQLite math functions return NULL on domain errors where the
        # JVM returns NaN (sqrt(-1), acos(2), pow(-8, .333) — r6)
        return f"nanvl({n}(" + ", ".join(args) + "), CAST(NULL AS DOUBLE))"
    if n == "sign" and len(args) == 1:
        return f"CAST(sign({args[0]}) AS BIGINT)"  # SQLite returns INTEGER
    if n in ("ltrim", "rtrim", "trim") and len(args) == 2:
        where = {"ltrim": "LEADING", "rtrim": "TRAILING", "trim": "BOTH"}[n]
        return f"TRIM({where} {args[1]} FROM {args[0]})"
    if n == "typeof" and len(args) == 1:
        return _SQLITE_TYPEOF_MAP.format(a=args[0])
    if n == "quote" and len(args) == 1:
        a = args[0]
        ra = (raw_args or args)[0].strip()
        if re.match(r"(?i)^X'[0-9a-f]*'$", ra):
            # blob LITERAL: statically known type → X'..' form (blob
            # COLUMNS keep the text fallback — Spark's static typing
            # can't hex() a value that might not be binary)
            return f"concat('X''', upper(hex({a})), '''')"
        # runtime branch on Spark's (constant-folding) typeof: numerics
        # render bare, booleans as SQLite's stored 1/0, text quoted.
        # Every branch must ANALYZE for any input type, so values reach
        # string ops via CAST(.. AS STRING) only. Branch vocabularies
        # include the SQLite STORAGE-CLASS names ('integer'/'real') so
        # the expansion stays correct when a fragment passes through the
        # rewriter twice (trigger bodies, view DML): the second pass
        # maps the emitted typeof() to storage classes. Booleans fold
        # into the integer branch via the true/false CASE because that
        # second pass reports them as 'integer'.
        return (
            f"CASE WHEN ({a}) IS NULL THEN 'NULL' "
            f"WHEN typeof({a}) IN "
            f"('boolean','tinyint','smallint','int','bigint','integer') THEN "
            f"CASE CAST(({a}) AS STRING) WHEN 'true' THEN '1' "
            f"WHEN 'false' THEN '0' ELSE CAST(({a}) AS STRING) END "
            f"WHEN typeof({a}) RLIKE '^(double|float|decimal|real)' THEN "
            f"CAST(CAST(CAST(({a}) AS STRING) AS DOUBLE) AS STRING) "
            f"ELSE concat('''', replace(CAST(({a}) AS STRING), '''', ''''''), '''') END"
        )
    if n in ("date", "time", "datetime") and (len(args) >= 2 or n in ("time", "datetime")):
        # 1-arg date(x) keeps Spark's DATE cast; time/datetime always
        # need the text formatting (Spark has no such builtins)
        return _sqlite_datetime_expr(n, args)
    return None


def _rewrite_arg_fns(sql: str) -> str:
    """Single left-to-right scan, string-literal aware; args are
    rewritten recursively FIRST, and replacement text is emitted
    without rescanning (no self-recursion on e.g. sign→sign)."""
    toks = tokens(sql)
    out, pos = [], 0
    for k, (kind, _, s, _, _, _) in enumerate(toks):
        m = _ARG_FN_RE.match(sql, s) if kind == "word" and s >= pos else None
        if not m or _table_position(toks, k):
            continue
        try:
            end = paren_end(sql, m.end() - 1)
        except ValueError:
            continue
        inner = sql[m.end() : end - 1]
        raw_args = split_top_level(inner)
        args = [_rewrite_arg_fns(a) for a in raw_args]
        out.append(sql[pos:s])
        pos = end
        if m.group(1).lower() == "total" and len(args) == 1:
            om = re.compile(r"\s*OVER\s*\(", re.I).match(sql, end)
            if om:
                # window form: the never-NULL coalesce must wrap the
                # WHOLE windowed aggregate (r6: the plain rewrite left
                # 'coalesce(sum(..), 0) OVER (..)', which doesn't parse)
                try:
                    oend = paren_end(sql, om.end() - 1)
                except ValueError:
                    oend = None
                if oend is not None:
                    over_txt = _rewrite_arg_fns(sql[end:oend])
                    # same per-value REAL-affinity prefix conversion as
                    # the scalar total() (r13)
                    out.append(
                        f"coalesce(sum({_CAST_REAL_WRAP.format(x=args[0])}) "
                        f"{over_txt}, CAST(0.0 AS DOUBLE))"
                    )
                    pos = oend
                    continue
        repl = _rewrite_one_call(m.group(1), args, raw_args)
        if repl is not None:
            out.append(repl)
        elif args:
            out.append(m.group(1) + "(" + ", ".join(args) + ")")
        else:
            out.append(sql[s:end])
    out.append(sql[pos:])
    return "".join(out)


# --------------------------------------------------------------------------
# Static-typing rewrites: SQLite integer division, literal cross-type
# comparison folding, string-affinity abs().  SQLite is dynamically
# typed per CELL; a static engine can still reproduce the dynamic rules
# wherever the storage classes are provable from the text alone (plus,
# optionally, INTEGER-affinity column names supplied by the session).
# Behavior parity: sqlite3-probed — 7/2=3 (truncation toward zero, so
# Spark's ``div`` matches exactly incl. negatives), 1 < '1' is 1
# (storage-class ordering NUMERIC < TEXT < BLOB, lang_datatype3.html §4.1,
# literals never affinity-convert), abs('12') is 12.0 REAL (numeric
# prefix conversion, always REAL for text/blob input).
# --------------------------------------------------------------------------

# storage classes for the typed passes
_CLS_INT, _CLS_REAL, _CLS_TEXT, _CLS_BLOB, _CLS_NULL, _CLS_UNKNOWN = range(6)
_CLS_RANK = {_CLS_INT: 0, _CLS_REAL: 0, _CLS_TEXT: 1, _CLS_BLOB: 2}
# text that SQLite's comparison-affinity conversion accepts as numeric
# (sqlite3-probed r8: whitespace-padded, signed, '5.', '.5', exponent
# forms convert; 'inf'/'nan'/'0x11'/'1_0'/'5x'/'' do not). \s over-
# accepts unicode spaces — erring toward "converts" just skips a fold.
_SQLITE_NUMERIC_TEXT = re.compile(
    r"^\s*[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?\s*$"
)

# functions that return INTEGER storage in both engines (pre- and
# post-rename spellings, since this pass re-runs on rewritten fragments)
_INT_RESULT_FNS = {
    "length", "char_length", "octet_length", "instr", "locate",
    "unicode", "ascii", "count", "changes", "total_changes",
    "last_insert_rowid", "bigint",
}

# cast-function forms the typed rewrites emit (r10): the plain
# CAST(x AS DOUBLE/BIGINT) spellings get wrapped by the SQLite
# CAST-affinity layer ('DOUBLE'/'BIGINT' are SQLite type names) and
# become opaque to later sweeps — double()/bigint() pass through and
# class as REAL/INT so emitted frags stay composable
_REAL_RESULT_FNS = {"double"}

_MUL_OPS = {"*", "/", "%"}
_ADD_OPS = {"+", "-"}

_SAFE_BEFORE_WORDS = {
    "select", "where", "and", "or", "not", "when", "then", "else",
    "on", "having", "by", "all", "distinct", "case",
}
_SAFE_AFTER_WORDS = {
    "and", "or", "then", "else", "end", "when", "as", "from", "where",
    "group", "order", "limit", "offset", "union", "intersect", "except",
    "is", "not", "in", "between", "like", "glob", "asc", "desc",
}


# --------------------------------------------------------------------------
# IN-list member affinity (r12, verdict #5). SQLite applies the LHS's
# comparison affinity to EVERY member of an IN list, exactly as it does
# to the RHS of '=' (datatype3.html §4.2; probed r12: i IN ('9', 0.0)
# matches i=9 and i=0, tx IN (7) matches tx='7', id IN (1.0,'2',X'33')
# mixes freely). Spark instead least-common-types the whole list and
# errors outright on BLOB mixes. Expanding a literal-member list into an
# OR chain of equalities hands each member to the existing
# comparison-affinity machinery (_try_fold_compare + the chain frags) —
# identical three-valued semantics (x IN (a,b) ≡ x=a OR x=b, NOT IN ≡
# NOT(...)). Subquery forms, table forms (IN t), empty lists and
# nondeterministic LHS (random()) pass through untouched. When the
# left neighbor of the operand is a same-precedence operator
# (= IS LIKE BETWEEN IN ...), SQLite binds LEFT ((x = y) IN (...)) —
# those shapes pass through rather than risk a wrong extent.
# --------------------------------------------------------------------------

_IN_STOP_WORDS = {
    "select", "where", "and", "or", "not", "when", "then", "else", "on",
    "having", "by", "case", "set", "from", "join", "between", "like",
    "escape", "limit", "offset", "union", "intersect", "except", "values",
    "group", "order", "distinct", "all", "as", "is", "in", "end", "exists",
    "collate", "asc", "desc", "glob", "match", "regexp", "cross", "inner",
    "left", "right", "full", "natural", "using", "returning",
}
_IN_LHS_BAIL_PREV = {
    "=", "==", "!=", "<>", "<", "<=", ">", ">=", "<<", ">>", "&", "|",
    "is", "like", "glob", "match", "regexp", "between", "in", "escape",
    "isnull", "notnull",
}
_IN_UNARY_OPENERS = _SAFE_BEFORE_WORDS | {"in", "like", "between", "is", "escape"}
_IN_EXPAND_MEMBER_CAP = 50


def _in_prim_start(toks, i: int):
    """Start token index of one primary ending at exclusive ``i``
    (paren group with optional call head, literal, or dotted
    identifier chain); None when toks[i-1] can't end a primary."""
    if i <= 0:
        return None
    t = toks[i - 1]
    if t[1] == ")":
        j = t[5]
        if j < 0:
            return None
        if (
            j > 0
            and toks[j - 1][0] in ("word", "qid")
            and not (toks[j - 1][0] == "word" and toks[j - 1][1].lower() in _IN_STOP_WORDS)
        ):
            j -= 1
        start = j
    elif t[0] in ("num", "str", "blob", "qid") or (
        t[0] == "word" and t[1].lower() not in _IN_STOP_WORDS
    ):
        start = i - 1
    else:
        return None
    while start >= 2 and toks[start - 1][1] == "." and toks[start - 2][0] in ("word", "qid"):
        start -= 2
    return start


def _in_lhs_start(toks, end: int):
    """Token index where an IN operand starts: primaries joined by
    binary + - * / % div || with unary-sign runs resolved by the
    value-ending-token rule (the r9 leading-sign discipline). None
    when no valid operand ends at ``end``."""
    start = _in_prim_start(toks, end)
    if start is None:
        return None
    while start > 0:
        p = toks[start - 1]
        pv = p[1].lower() if p[0] == "word" else p[1]
        if pv in ("*", "/", "%", "div", "||"):
            s2 = _in_prim_start(toks, start - 1)
            if s2 is None:
                return None
            start = s2
        elif pv in ("+", "-"):
            r = start - 1
            while r > 0 and toks[r - 1][1] in ("+", "-"):
                r -= 1
            if r == 0:
                return r
            before = toks[r - 1]
            bv = before[1].lower() if before[0] == "word" else before[1]
            value_ending = (
                before[0] in ("num", "str", "blob", "qid")
                or bv == ")"
                or (before[0] == "word" and bv not in _IN_UNARY_OPENERS)
            )
            if value_ending:
                # leftmost sign is a binary op — absorb it + the
                # primary that ends right before it (exclusive r)
                s2 = _in_prim_start(toks, r)
                if s2 is None:
                    return None
                start = s2
            else:
                return r  # all signs unary: they belong to the operand
        else:
            break
    return start


def _fwd_operand_end(toks, i: int):
    """Exclusive end token index of one operand starting at ``i``
    (forward mirror of :func:`_in_lhs_start`: primaries joined by
    tight ops, unary signs allowed after operators). None when toks[i]
    can't start a primary."""
    n = len(toks)

    def prim_end(j):
        while j < n and toks[j][1] in ("+", "-"):
            j += 1
        if j >= n:
            return None
        t = toks[j]
        if t[1] == "(":
            return t[5] + 1 if t[5] >= 0 else None
        if t[0] in ("num", "str", "blob", "qid") or (
            t[0] == "word" and t[1].lower() not in _IN_STOP_WORDS
        ):
            k = j + 1
            if t[0] == "word" and k < n and toks[k][1] == "(":
                return toks[k][5] + 1 if toks[k][5] >= 0 else None
            while k + 1 < n and toks[k][1] == "." and toks[k + 1][0] in ("word", "qid"):
                k += 2
            return k
        return None

    e = prim_end(i)
    if e is None:
        return None
    while e < n:
        t = toks[e]
        v = t[1].lower() if t[0] == "word" else t[1]
        if v in ("*", "/", "%", "div", "||", "+", "-"):
            e2 = prim_end(e + 1)
            if e2 is None:
                return e
            e = e2
        else:
            break
    return e


_FRAME_BOUND_WORDS = {"preceding", "following", "unbounded", "row"}


def _expand_between(sql: str) -> str:
    """``x [NOT] BETWEEN a AND b`` → ``(x >= a AND x <= b)`` (r12, the
    BETWEEN clause position): SQLite defines BETWEEN as exactly that
    conjunction INCLUDING the §4.2 comparison-affinity rules per bound
    (probed: tx BETWEEN 0 AND 99 text-compares '0'..'99';
    i+1 BETWEEN '1' AND '10' is storage-FALSE; blob bounds rank above
    text), so expanding hands each bound to the existing machinery.
    Window-frame BETWEEN (ROWS/RANGE/GROUPS ... PRECEDING/FOLLOWING)
    is guarded out; nondeterministic LHS (random) and same-precedence
    left neighbors bail like the IN expansion."""
    for _ in range(5):
        if not re.search(r"\bBETWEEN\b", sql, re.I):
            return sql
        toks = _typed_tokenize(sql)
        if toks is None:
            return sql
        n = len(toks)
        edits: list[tuple[int, int, str]] = []
        claimed: list[tuple[int, int]] = []
        for idx in range(n):
            t = toks[idx]
            if t[0] != "word" or t[1].lower() != "between":
                continue
            if (
                idx > 0
                and toks[idx - 1][0] == "word"
                and toks[idx - 1][1].lower() in ("rows", "range", "groups")
            ):
                continue  # window frame clause
            neg = (
                idx > 0
                and toks[idx - 1][0] == "word"
                and toks[idx - 1][1].lower() == "not"
            )
            lhs_end = idx - 1 if neg else idx
            lo = _in_lhs_start(toks, lhs_end)
            if lo is None:
                continue
            prev = toks[lo - 1] if lo > 0 else None
            if prev is not None:
                pv = prev[1].lower() if prev[0] == "word" else prev[1]
                if pv in _IN_LHS_BAIL_PREV:
                    continue
            # lower bound runs to BETWEEN's own AND at depth 0 — where
            # depth counts BOTH parens and CASE...END spans (r13 ADVICE:
            # an unparenthesized CASE lower bound carries its own ANDs,
            # e.g. CASE WHEN 1 AND 1 THEN 0 ELSE 9 END; treating CASE
            # like an opening paren keeps them out of the scan while the
            # verbatim text slice still yields a valid expansion)
            base, case_depth, and_i = t[4], 0, None
            for j in range(idx + 1, n):
                if toks[j][4] < base:
                    break  # the ')' closing the enclosing group
                if toks[j][4] > base or toks[j][0] != "word":
                    continue
                w = toks[j][1].lower()
                if w == "case":
                    case_depth += 1
                elif w == "end" and case_depth > 0:
                    case_depth -= 1
                elif case_depth == 0:
                    if w == "and":
                        and_i = j
                        break
                    if w in _FRAME_BOUND_WORDS:
                        break  # frame bound that slipped the prefix guard
            if and_i is None or and_i == idx + 1:
                continue
            up_lo = and_i + 1
            up_hi = _fwd_operand_end(toks, up_lo)
            if up_hi is None:
                continue
            if any(
                tt[0] == "word" and tt[1].lower() in _FRAME_BOUND_WORDS
                for tt in toks[idx + 1 : up_hi]
            ):
                continue
            lhs_text = sql[toks[lo][2] : toks[lhs_end - 1][3]]
            if re.search(r"\brandom", lhs_text, re.I):
                continue
            s0, e0 = toks[lo][2], toks[up_hi - 1][3]
            if any(not (e0 <= cs or s0 >= ce) for cs, ce in claimed):
                continue
            lot = sql[toks[idx + 1][2] : toks[and_i - 1][3]]
            upt = sql[toks[up_lo][2] : toks[up_hi - 1][3]]
            body = f"{lhs_text} >= {lot} AND {lhs_text} <= {upt}"
            rep = f"(NOT ({body}))" if neg else f"({body})"
            edits.append((s0, e0, rep))
            claimed.append((s0, e0))
        if not edits:
            return sql
        for s, e, r in sorted(edits, reverse=True):
            sql = sql[:s] + r + sql[e:]
    return sql


def _is_dotted_ident(toks, lo: int, hi: int) -> str | None:
    """Lowercased dotted-name text when toks[lo:hi] is exactly a bare
    dotted identifier chain (word . word ...), else None. Quoted
    identifiers and keywords are excluded — affinity belongs to bare
    dotted identifiers only (r9 probe)."""
    span = toks[lo:hi]
    if not span or len(span) % 2 == 0:
        return None
    for k, tt in enumerate(span):
        if k % 2 == 0:
            if tt[0] != "word" or tt[1].lower() in _IN_STOP_WORDS or (
                # literal words are literal-valued members, never columns
                len(span) == 1
                and tt[1].lower() in ("null", "true", "false")
            ):
                return None
        elif tt[1] != ".":
            return None
    return "".join(tt[1] for tt in span).lower()


def _cls_of_ident(name: str, cls_map) -> int | None:
    c = cls_map.get(name)
    if c is None and "." in name:
        c = cls_map.get(name.rsplit(".", 1)[1])
    return c


# SQL-literal regex for int-formed text ('\\s' in the statement text →
# \s after Spark's literal parse, matching session.py's canon pattern)
_INT_FORM_RE = r"'^\\s*[+-]?[0-9]+\\s*$'"


def _lhs_affinity_eq(lhs: str, lcls: int, m: str, mcls: int) -> str | None:
    """One ``lhs = member`` comparison under SQLite's IN-operator rule
    (datatype3.html §4.1, probed r12: the ephemeral RHS index applies
    ONLY the LHS affinity to each member value — ``tx IN (i)`` does
    not numeric-convert tx, unlike ``tx = i``). Emitted pre-converted
    and fully parenthesized so the later typed sweep leaves it alone
    (literal members stay on the '=' expansion, where bidirectional
    §4.2 coincides because literals carry no affinity). None = this
    member pair needs a runtime %!.15g REAL→TEXT rendering Spark
    doesn't have (TEXT lhs, REAL member) — caller bails the list."""
    if lcls == _CLS_TEXT:
        if mcls == _CLS_TEXT:
            return f"(({lhs}) = ({m}))"
        if mcls == _CLS_INT:
            # TEXT affinity renders the integer value as its decimal
            # text — CAST int→STRING matches SQLite exactly
            return f"(({lhs}) = CAST(({m}) AS STRING))"
        return None  # REAL member: %!.15g rendering unavailable
    # numeric-affinity lhs (INT/REAL storage class or NULL)
    if mcls in (_CLS_INT, _CLS_REAL):
        # numeric affinity leaves numeric values alone; SQLite compares
        # int vs real by exact value, Spark promotes — identical below
        # 2^53 (the documented cross-class compare exactness edge)
        return f"(({lhs}) = ({m}))"
    # TEXT member: numeric affinity converts a fully-numeric text to
    # INTEGER when int-formed-and-fits, else REAL; junk stays TEXT and
    # can never equal the numeric lhs (FALSE, not NULL — SQLite's
    # cross-class compare), with NULL propagation on either side
    big = f"try_cast(({m}) AS BIGINT)"
    dbl = f"try_cast(({m}) AS DOUBLE)"
    return (
        f"(CASE WHEN ({lhs}) IS NULL OR ({m}) IS NULL THEN CAST(NULL AS BOOLEAN) "
        f"WHEN ({m}) RLIKE {_INT_FORM_RE} AND {big} IS NOT NULL THEN ({lhs}) = {big} "
        f"WHEN {dbl} IS NOT NULL THEN ({lhs}) = {dbl} "
        f"ELSE FALSE END)"
    )


_CASE_BAIL_WORDS = {
    "and", "or", "not", "in", "between", "like", "glob", "match",
    "regexp", "is", "isnull", "notnull", "escape", "collate", "select",
    "case", "random", "randomblob",
}
_CASE_BAIL_OPS = {"=", "==", "!=", "<>", "<", "<=", ">", ">="}


def rewrite_simple_case(sql: str) -> str:
    """``CASE base WHEN w THEN …`` → ``CASE WHEN base = w THEN …``
    (r13, the CASE-operand clause position): SQLite defines the simple
    CASE as successive ``base = w`` comparisons INCLUDING the §4.2
    affinity rules, so desugaring routes each WHEN operand through the
    existing comparison machinery — ``CASE i+1 WHEN '10'`` must NOT
    match (chain base carries no affinity; Spark's native CASE coerces
    the text and matched — the r13 probe find). Bails per-CASE when the
    base or a WHEN operand carries depth-0 logic/comparison tokens
    (precedence would need parens, which hide operands from the
    affinity sweeps), nested CASE in the base, subqueries, parameters,
    or random() (the base must be duplicable). THEN/ELSE arms are left
    verbatim."""
    if not re.search(r"\bCASE\b", sql, re.I):
        return sql
    toks = _typed_tokenize(sql)
    if toks is None:
        return sql
    n = len(toks)

    def _span_ok(lo, hi, is_base):
        base = toks[lo][4] if lo < hi else 0
        for k in range(lo, hi):
            t = toks[k]
            v = t[1]
            if t[0] == "word":
                w = v.lower()
                if w in _CASE_BAIL_WORDS and (t[4] == base or w in (
                    "select", "case", "random", "randomblob"
                )):
                    return False
            elif t[4] == base and v in _CASE_BAIL_OPS:
                return False
            if "?" in v:
                return False
        return hi > lo

    edits: list[tuple[int, int, str]] = []
    for idx in range(n):
        t = toks[idx]
        if t[0] != "word" or t[1].lower() != "case":
            continue
        # walk this CASE at its own nesting level
        j, case_depth = idx + 1, 0
        base_lo, base_hi = idx + 1, None
        whens: list[int] = []  # WHEN-operand start token indices
        thens: list[int] = []  # matching THEN token indices
        pending_when = None
        ok = True
        while j < n:
            tt = toks[j]
            v = tt[1]
            if tt[4] < t[4]:
                ok = False  # the ')' closing the enclosing group
                break
            if tt[0] == "word" and tt[4] == t[4]:
                w = v.lower()
                if w == "case":
                    case_depth += 1
                elif w == "end":
                    if case_depth == 0:
                        break
                    case_depth -= 1
                elif case_depth == 0:
                    if w == "when":
                        if base_hi is None:
                            base_hi = j
                        if pending_when is not None:
                            ok = False
                            break
                        pending_when = j + 1
                    elif w == "then":
                        if pending_when is None:
                            ok = False
                            break
                        whens.append(pending_when)
                        thens.append(j)
                        pending_when = None
            j += 1
        if not ok or j >= n or base_hi is None or base_hi == idx + 1:
            continue  # searched CASE (no base) or unterminated
        if not _span_ok(base_lo, base_hi, True):
            continue
        if not all(_span_ok(w_, t_, False) for w_, t_ in zip(whens, thens)):
            continue
        base_text = sql[toks[base_lo][2] : toks[base_hi - 1][3]]
        # delete the base …
        edits.append((toks[base_lo][2], toks[base_hi][2], ""))
        # … and prefix every WHEN operand with "base = " (both sides
        # bare so the affinity/chain rewrites still see them)
        for w_ in whens:
            p = toks[w_][2]
            edits.append((p, p, f"{base_text} = "))
    if not edits:
        return sql
    for s, e, r in sorted(edits, reverse=True):
        sql = sql[:s] + r + sql[e:]
    return sql


def register_real_text_udf(spark) -> bool:
    """Register ``__sqlite_real_text(DOUBLE) → STRING`` — SQLite's
    %!.15g REAL→TEXT rendering (:func:`_sqlite_real_to_text`) as an
    Arrow-batched pandas UDF for RUNTIME column values (the r12 literal
    rewrite only covered statically-known reals). Python in the hot
    path is acceptable HERE because this is the SQLite-parity OLTP
    surface (the reference serializes statements behind a mutex) — the
    analytics catalog never routes through it. Returns False (and the
    rewrite pass stays off) when the platform's longdouble isn't the
    x87 layout the renderer was verified on."""
    global _REAL_TEXT_UDF_OK
    if not _x87_longdouble_ok():
        return False
    try:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _render(s):
            return pd.Series(
                [None if v is None or v != v else _sqlite_real_to_text(float(v))
                 for v in s],
                dtype="object",
            )

        spark.udf.register("__sqlite_real_text", pandas_udf(_render, "string"))
        _REAL_TEXT_UDF_OK = True
        return True
    except Exception:
        return False


# TEXT-conversion contexts for REAL-classed bare columns: each entry is
# (call name, 0-based argument positions that convert to text). SQLite
# renders the double with %!.15g in every one of these ('1e20' →
# '1.0e+20'), where Spark's implicit cast gives the Java form
# ('1.0E20'). quote() is EXCLUDED — it renders at %!.20e precision
# (probed: 20 significant digits), a different pipeline.
_REAL_TEXT_FN_ARGS = {
    "upper": (0,), "lower": (0,), "trim": (0,), "ltrim": (0,),
    "rtrim": (0,), "reverse": (0,), "length": (0,), "replace": (0,),
    "instr": (0, 1), "substr": (0,), "substring": (0,), "string_agg": (0,),
}


def rewrite_real_text_contexts(sql: str, cls_map) -> str:
    """Wrap REAL-affinity bare columns with ``__sqlite_real_text`` in
    the positions where SQLite converts them to text (r13): CAST-to-
    STRING (the already-rewritten CAST(x AS TEXT)), ``||`` concat
    members, ILIKE operands, and the direct text-taking arguments of
    the common string functions (_REAL_TEXT_FN_ARGS). Class-map-gated
    like rewrite_text_sums; runs AFTER rewrite_sqlite_fns so the
    TEXT→STRING / LIKE→ILIKE / group_concat→string_agg rewrites have
    landed. With cls_map None/empty only the STATIC literal fold runs
    (the INSERT VALUES path — no columns in scope there)."""
    if not _x87_longdouble_ok():
        return sql
    if not re.search(r"\|\||\bCAST\b|\bILIKE\b", sql, re.I) and not any(
        re.search(rf"\b{f}\s*\(", sql, re.I) for f in _REAL_TEXT_FN_ARGS
    ):
        return sql
    toks = _typed_tokenize(sql)
    if toks is None:
        return sql
    n = len(toks)
    edits: list[tuple[int, int, str]] = []

    def _real_ident(lo, hi):
        if not cls_map or not _REAL_TEXT_UDF_OK:
            return None
        ident = _is_dotted_ident(toks, lo, hi)
        if ident is not None and _cls_of_ident(ident, cls_map) == _CLS_REAL:
            return sql[toks[lo][2] : toks[hi - 1][3]]
        return None

    def _real_literal_text(lo, hi):
        """Rendered %!.15g text for a [sign] REAL numeric literal span
        (1e19 || 'x' must read '1.0e+19x' — static fold, no UDF)."""
        sign, j = 1, lo
        while j < hi and toks[j][1] in ("+", "-"):
            if toks[j][1] == "-":
                sign = -sign
            j += 1
        if j != hi - 1 or toks[j][0] != "num":
            return None
        text = toks[j][1]
        t2 = text[:-1] if text and text[-1] in "dD" else text
        if not re.search(r"[.eE]", t2) or t2.lower().startswith("0x"):
            return None  # integer literal: Spark's rendering matches
        try:
            fv = float(t2) * sign
        except ValueError:
            return None
        if math.isinf(fv) or fv != fv:
            return None
        return "'" + _sqlite_real_to_text(fv).replace("'", "''") + "'"

    def _wrap(lo, hi):
        txt = _real_ident(lo, hi)
        if txt is not None:
            edits.append(
                (toks[lo][2], toks[hi - 1][3], f"__sqlite_real_text({txt})")
            )
            return
        lit = _real_literal_text(lo, hi)
        if lit is not None:
            edits.append((toks[lo][2], toks[hi - 1][3], lit))

    def _ident_span_back(j):
        """(lo, hi) of a dotted identifier ENDING at token j, else None."""
        if j < 0 or toks[j][0] != "word":
            return None
        lo = j
        while lo - 2 >= 0 and toks[lo - 1][1] == "." and toks[lo - 2][0] == "word":
            lo -= 2
        return (lo, j + 1)

    def _ident_span_fwd(j):
        if j >= n or toks[j][0] != "word" or toks[j][1].lower() in _IN_STOP_WORDS:
            return None
        hi = j + 1
        while hi + 1 < n and toks[hi][1] == "." and toks[hi + 1][0] == "word":
            hi += 2
        if hi < n and toks[hi][1] == "(":
            return None  # call, not a column
        return (j, hi)

    def _back_span(j):
        got = _ident_span_back(j)
        if got:
            return got
        if 0 <= j < n and toks[j][0] == "num":
            return (j, j + 1)
        return None

    def _fwd_span(j):
        got = _ident_span_fwd(j)
        if got:
            return got
        k = j
        while k < n and toks[k][1] in ("+", "-"):
            k += 1  # after ||/ILIKE a sign is provably unary
        if k < n and toks[k][0] == "num":
            return (j, k + 1)
        return None

    for idx in range(n):
        t = toks[idx]
        v = t[1].lower() if t[0] == "word" else t[1]
        if v == "||" or (t[0] == "word" and v == "ilike"):
            got = _back_span(idx - 1)
            if got:
                _wrap(*got)
            got = _fwd_span(idx + 1)
            if got:
                _wrap(*got)
        elif t[0] == "word" and v == "cast" and idx + 1 < n and toks[idx + 1][1] == "(":
            # CAST(col AS STRING) — find the AS at depth 1
            close = toks[idx + 1][5]
            as_i = max(
                (
                    j
                    for j in range(idx + 2, close)
                    if toks[j][4] == t[4] + 1 and toks[j][0] == "word" and toks[j][1].lower() == "as"
                ),
                default=None,
            )
            if (
                as_i is not None
                and close == as_i + 2
                and toks[as_i + 1][0] == "word"
                and toks[as_i + 1][1].lower() in ("string", "text")
            ):
                lo_, hi_ = idx + 2, as_i
                # one paren level tolerated: every rewrite that
                # canonicalizes text conversion emits CAST((col) AS
                # STRING) — upper/lower via translate, the substr edge
                # algorithm, printf %s — so this ONE branch covers them
                if (
                    hi_ - lo_ >= 3
                    and toks[lo_][1] == "("
                    and toks[hi_ - 1][1] == ")"
                ):
                    lo_, hi_ = lo_ + 1, hi_ - 1
                _wrap(lo_, hi_)
        elif (
            t[0] == "word"
            and v in _REAL_TEXT_FN_ARGS
            and idx + 1 < n
            and toks[idx + 1][1] == "("
        ):
            # direct bare-column arguments at the listed positions
            close = toks[idx + 1][5]
            if close < 0:
                continue
            commas = [j for j in range(idx + 2, close) if toks[j][1] == "," and toks[j][4] == t[4] + 1]
            bounds = [idx + 1, *commas, close]
            for arg_no in _REAL_TEXT_FN_ARGS[v]:
                if arg_no + 1 < len(bounds):
                    _wrap(bounds[arg_no] + 1, bounds[arg_no + 1])
    seen_spans: list[tuple[int, int]] = []
    final = []
    for s, e, r in sorted(edits, reverse=True):
        if any(not (e <= cs or s >= ce) for cs, ce in seen_spans):
            continue
        seen_spans.append((s, e))
        final.append((s, e, r))
    for s, e, r in final:
        sql = sql[:s] + r + sql[e:]
    return sql


_REAL_TEXT_UDF_OK = False


def rewrite_text_sums(sql: str, cls_map) -> str:
    """``sum(tx)`` over a TEXT-affinity column applies SQLite's
    per-value numeric conversion (r13, the aggregate-argument
    position): sqlite3_value_numeric_type prefix-parses each text cell
    ('7abc' → 7, '  -3.5x' → -3.5, junk → 0), so the argument takes
    the REAL-affinity wrap. avg()/total() already did (r6/r13); sum
    needs the class map because a numeric column's sum must keep its
    native type. Documented edge: an all-int-formed TEXT column wires
    3.0 where SQLite wires 3 (the per-cell int-form class — mixed
    content is value-exact)."""
    if not cls_map or not re.search(r"\bsum\s*\(", sql, re.I):
        return sql
    toks = _typed_tokenize(sql)
    if toks is None:
        return sql
    n = len(toks)
    edits: list[tuple[int, int, str]] = []
    for idx in range(n):
        t = toks[idx]
        if t[0] != "word" or t[1].lower() != "sum":
            continue
        if idx + 1 >= n or toks[idx + 1][1] != "(" or toks[idx + 1][5] < 0:
            continue
        close = toks[idx + 1][5]
        ident = _is_dotted_ident(toks, idx + 2, close)
        if ident is None or _cls_of_ident(ident, cls_map) != _CLS_TEXT:
            continue
        arg = sql[toks[idx + 2][2] : toks[close - 1][3]]
        edits.append(
            (toks[idx + 2][2], toks[close - 1][3], _CAST_REAL_WRAP.format(x=arg))
        )
    for s, e, r in sorted(edits, reverse=True):
        sql = sql[:s] + r + sql[e:]
    return sql


def _expand_in_lists(sql: str, cls_map=None) -> str:
    """Expand ``lhs [NOT] IN (m1, m2, ...)`` with literal/expression
    members into the equivalent OR chain (see block comment above).
    Runs to fixpoint so nested IN lists inside members expand too.
    r13: with a column storage-class map, bare-column members expand
    too — under the LHS-affinity-only rule (:func:`_lhs_affinity_eq`),
    closing the ``tx IN (i)`` documented edge. Expression/call members
    still keep the whole list on the Spark path."""
    for _ in range(5):
        if not re.search(r"\bIN\s*\(", sql, re.I):
            return sql
        toks = _typed_tokenize(sql)
        if toks is None:
            return sql
        n = len(toks)
        edits: list[tuple[int, int, str]] = []
        claimed: list[tuple[int, int]] = []
        for idx in range(n):
            t = toks[idx]
            if t[0] != "word" or t[1].lower() != "in":
                continue
            if idx + 1 >= n or toks[idx + 1][1] != "(":
                continue
            close = toks[idx + 1][5]
            if close < 0 or close == idx + 2:
                continue
            bad = False
            members: list[tuple[int, int]] = []
            mstart = idx + 2
            for j in range(idx + 2, close):
                if toks[j][1] == "," and toks[j][4] == t[4] + 1:
                    if j == mstart:
                        bad = True
                        break
                    members.append((mstart, j))
                    mstart = j + 1
            if bad or mstart >= close:
                continue
            members.append((mstart, close))
            if len(members) > _IN_EXPAND_MEMBER_CAP:
                # A hundreds-member literal list (routine in generated
                # SQL) would expand into an equally large OR chain,
                # defeating Catalyst's InSet conversion and datasource
                # In pushdown (r13 ADVICE). Past the cap the list stays
                # on the Spark IN path — same policy as the chain
                # compiler's _CHAIN_MEMBER_CAP (documented edge: member
                # affinity conversion is skipped for oversize lists).
                continue
            # Classify members: 'lit' = literal-valued (literals, signs,
            # literal arithmetic, parameters) → expand to '=' (for a
            # no-affinity member the bidirectional §4.2 rule coincides
            # with SQLite's LHS-affinity-only IN rule); ('col', cls) =
            # bare dotted identifier with a known storage class → r13
            # pre-converted LHS-affinity comparison. Anything else
            # (calls, qids, expression members, unknown columns) keeps
            # the WHOLE list on the Spark path.
            kinds: list[tuple[str, int | None]] = []
            for ms, me in members:
                ident = _is_dotted_ident(toks, ms, me)
                if ident is not None and cls_map:
                    mc = _cls_of_ident(ident, cls_map)
                    if mc is None:
                        bad = True
                        break
                    kinds.append(("col", mc))
                    continue
                lit_ok = True
                for tt in toks[ms:me]:
                    if tt[0] == "qid" or (
                        tt[0] == "word"
                        and tt[1].lower()
                        not in ("null", "true", "false", "div")
                    ):
                        lit_ok = False
                        break
                if not lit_ok:
                    bad = True
                    break
                kinds.append(("lit", None))
            if bad:
                continue
            has_col = any(kd[0] == "col" for kd in kinds)
            neg = (
                idx > 0
                and toks[idx - 1][0] == "word"
                and toks[idx - 1][1].lower() == "not"
            )
            lhs_end = idx - 1 if neg else idx
            lo = _in_lhs_start(toks, lhs_end)
            if lo is None:
                continue
            prev = toks[lo - 1] if lo > 0 else None
            if prev is not None:
                pv = prev[1].lower() if prev[0] == "word" else prev[1]
                if pv in _IN_LHS_BAIL_PREV:
                    continue  # SQLite binds the operator chain left
            s0, e0 = toks[lo][2], toks[close][3]
            if any(not (e0 <= cs or s0 >= ce) for cs, ce in claimed):
                continue  # inside an outer expansion this round
            lhs_text = sql[toks[lo][2] : toks[lhs_end - 1][3]]
            if re.search(r"\brandom", lhs_text, re.I):
                continue  # must evaluate exactly once
            lcls = None
            if has_col:
                # column members need the LHS's affinity, which only a
                # bare classed column carries (a chain/expression LHS
                # applies NO conversion — that shape stays on the Spark
                # path, documented)
                lident = _is_dotted_ident(toks, lo, lhs_end)
                lcls = _cls_of_ident(lident, cls_map) if lident else None
                if lcls is None:
                    continue
                if lcls == _CLS_TEXT and any(
                    kd == ("col", _CLS_REAL) for kd in kinds
                ):
                    continue  # needs runtime %!.15g REAL→TEXT rendering
            # NO paren wrapping on the 'lit' arms: both operands use only
            # tighter-than-'=' operators by construction (the extent
            # grammar), and parens would hide bare columns / arithmetic
            # chains from the affinity and chain rewrites (the I4 find).
            # 'col' arms are pre-converted and wrapped on purpose.
            parts = []
            for (ms, me), kd in zip(members, kinds):
                mtext = sql[toks[ms][2] : toks[me - 1][3]]
                if kd[0] == "col":
                    eq = _lhs_affinity_eq(lhs_text, lcls, mtext, kd[1])
                    if eq is None:
                        parts = None
                        break
                    parts.append(eq)
                else:
                    parts.append(f"{lhs_text} = {mtext}")
            if parts is None:
                continue
            ors = " OR ".join(parts)
            rep = f"(NOT ({ors}))" if neg else f"({ors})"
            edits.append((s0, e0, rep))
            claimed.append((s0, e0))
        if not edits:
            return sql
        for s, e, r in sorted(edits, reverse=True):
            sql = sql[:s] + r + sql[e:]
    return sql


def _typed_tokenize(sql: str):
    """The code tokens of ``sql`` (:func:`tokens`; comments are
    whitespace), or None when the text holds something the typed passes
    must not touch: a character no lexical rule covers, or an
    unterminated literal or quoted identifier."""
    toks = tokens(sql)
    for kind, text, *_ in toks:
        if kind == "other" or (kind in ("str", "qid") and not _closed(text)):
            return None
    return toks


def _num_is_int(text: str) -> bool:
    return bool(re.fullmatch(r"\d+|0[xX][0-9A-Fa-f]+", text))


def _real_literal(v: float) -> str:
    """Exact DOUBLE literal in the D-suffix form. NOT ``CAST(x AS
    DOUBLE)``: 'DOUBLE' is a SQLite REAL type name, so the CAST-affinity
    layer wraps that form in the junk-string-prefix CASE — harmless for
    values but OPAQUE to the second typed sweep, which then can't
    compose the folded member with a runtime TEXT column ('9e1' / tx
    lost the column's prefix conversion — r10, found by the column-chain
    hypothesis machine)."""
    if math.isinf(v):
        return "double('Infinity')" if v > 0 else "double('-Infinity')"
    out = repr(v)
    if "e" not in out and "." not in out:
        out += ".0"
    return f"{out}D"


def _sqlite_arith_text_static(raw: str):
    """(int_formed, int_sql, real_sql) for a TEXT literal under SQLite's
    arithmetic NUMERIC conversion (sqlite3-probed r9: longest numeric
    prefix — '7abc'/2=3, ''/2=0, 'inf'/2=0, '7.5x'/2=3.75, '5.'/2=2.5;
    an integer-formed prefix that doesn't fit int64 converts REAL)."""
    t = raw.lstrip(" \t\r\n\f\v")
    m = re.match(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", t)
    if not m:
        return (True, "0", _real_literal(0.0))
    p = m.group(0)
    if re.fullmatch(r"[+-]?\d+", p) and -(2**63) <= int(p) < 2**63:
        return (True, str(int(p)), _real_literal(float(int(p))))
    return (False, None, _real_literal(_sqlite_text_to_real(raw)))


_X87_LONGDOUBLE = None


def _x87_longdouble_ok() -> bool:
    """True when numpy.longdouble is the x87 80-bit extended type
    (nmant == 63) that _sqlite_real_to_text's digit pipeline was
    verified bit-for-bit against. On aarch64 (IEEE quad) or
    longdouble==double platforms the last digit can shift, so the
    REAL-literal→TEXT comparison rewrite falls back to skipping —
    the prior conservative behavior (r13 ADVICE)."""
    global _X87_LONGDOUBLE
    if _X87_LONGDOUBLE is None:
        try:
            import numpy as np

            _X87_LONGDOUBLE = int(np.finfo(np.longdouble).nmant) == 63
        except Exception:
            _X87_LONGDOUBLE = False
    return _X87_LONGDOUBLE


def _sqlite_real_to_text(v: float) -> str:
    """SQLite 3.40's %!.15g REAL→TEXT rendering, emulated bit-for-bit
    INCLUDING its extended-precision digit pipeline (printf.c:
    LONGDOUBLE_TYPE normalization loops, the arRound double rounder,
    et_getdigit's 16-digit cap, rtz stripping with the '!' flag's
    '.0' floor). glibc's correctly-rounded %.15g disagrees with that
    pipeline in the LAST digit for near-half mantissas
    (7.290279102206975e+159 → sqlite '…697', glibc '…698' — found by
    the hypothesis renderer battery), so this follows the C code, not
    libc. numpy.longdouble is the x87 80-bit type the C build uses.
    Verified over the full float range (incl. subnormals) by
    test_real_text_rendering_matches_sqlite."""
    import numpy as np

    ld = np.longdouble
    neg = v < 0.0
    rv = ld(-v if neg else v)
    precision = 14  # %.15g: etGENERIC decrements once
    ar = (5e-01, 5e-02, 5e-03, 5e-04, 5e-05, 5e-06, 5e-07, 5e-08, 5e-09, 5e-10)
    idx = precision
    rounder = ar[idx % 10]
    while idx >= 10:
        rounder *= 1.0e-10  # double arithmetic, like the C rounder
        idx -= 10
    exp = 0
    if rv > 0:
        scale = ld(1.0)
        while rv >= ld(1e100) * scale and exp <= 350:
            scale *= ld(1e100)
            exp += 100
        while rv >= ld(1e10) * scale and exp <= 350:
            scale *= ld(1e10)
            exp += 10
        while rv >= ld(10.0) * scale and exp <= 350:
            scale *= ld(10.0)
            exp += 1
        rv = rv / scale
        while rv < ld(1e-8):
            rv *= ld(1e8)
            exp -= 8
        while rv < ld(1.0):
            rv *= ld(10.0)
            exp -= 1
        if exp > 350:
            return "-Inf" if neg else "Inf"
    rv = rv + ld(rounder)
    if rv >= ld(10.0):
        rv *= ld(0.1)
        exp += 1
    if exp < -4 or exp > precision:
        is_exp = True
    else:
        is_exp = False
        precision = precision - exp
    e2 = 0 if is_exp else exp
    nsd = 16

    def _digit():
        nonlocal rv, nsd
        if nsd <= 0:
            return "0"
        nsd -= 1
        d = int(rv)
        rv = (rv - ld(d)) * ld(10.0)
        return chr(d + 48)

    out = ["-"] if neg else []
    if e2 < 0:
        out.append("0")
    else:
        for _ in range(e2 + 1):
            out.append(_digit())
    out.append(".")
    e2 += 1
    while e2 < 0:
        out.append("0")
        precision -= 1
        e2 += 1
    while precision > 0:
        out.append(_digit())
        precision -= 1
    s = "".join(out).rstrip("0")
    if s.endswith("."):
        s += "0"
    if is_exp:
        sign = "+" if exp >= 0 else "-"
        es = abs(exp)
        s += f"e{sign}{es:02d}" if es < 100 else f"e{sign}{es}"
    return s


def _sqlite_text_to_real(s: str) -> float:
    """SQLite's text→REAL conversion: longest numeric prefix (optional
    sign, digits, '.', exponent only when digit-followed), junk → 0.0,
    bare sign keeps its signed zero (probed: abs('-') is -0.0)."""
    t = s.lstrip(" \t\r\n\f\v")
    m = re.match(r"([+-]?)(\d*)(?:\.(\d*))?", t)
    sign, ip, fp = m.group(1), m.group(2), m.group(3)
    rest = t[m.end():]
    exp = ""
    me = re.match(r"[eE]([+-]?\d+)", rest)
    if me and (ip or fp):
        exp = "e" + me.group(1)
    if not ip and fp is None:
        return -0.0 if sign == "-" else 0.0
    val = float((sign or "") + (ip or "0") + ("." + fp if fp else "") + exp)
    return val


# Runtime-conversion chains longer than this stay on Spark semantics
# (documented in COVERAGE.md B9). Frag size grows ~quadratically with
# '/' steps (measured r11: an all-division 10-member TEXT chain emits
# a 32 KB expression in 0.05 s — fine for Catalyst), so 10 is safe;
# the cap exists to bound pathological machine-generated SQL.
_CHAIN_MEMBER_CAP = 10


class _TypedPass:
    """One rewrite sweep over the token list; collects surgical
    (start, end, replacement) edits against the original text."""

    def __init__(self, toks, int_cols, sql: str = "", arrows: bool = False):
        self.toks = toks
        self.sql = sql
        # arrows=True: the pass runs on RAW SQLite-dialect text (before
        # _rewrite_json_arrows), where '->' / '->>' is ALWAYS a JSON
        # arrow — parse_primary may consume an arrow-postfix chain as a
        # single TEXT-class primary so the arithmetic machinery applies
        # SQLite's numeric-prefix conversion to the extracted value
        # (sqlite3-probed: '{"a":7}'->>'a' / 2 = 3). The session's
        # second sweep runs on REWRITTEN Spark text where '->' is a
        # lambda — arrow consumption must stay off there.
        self.arrows = arrows
        # accepted forms: a set of INTEGER column names (legacy), or a
        # {name: _CLS_*} map carrying every declared-affinity class
        # (r8 — enables cross-type compare folding on typed columns)
        if isinstance(int_cols, dict):
            self.col_classes = dict(int_cols)
        else:
            self.col_classes = {n: _CLS_INT for n in int_cols}
        self.int_cols = {n for n, c in self.col_classes.items() if c == _CLS_INT}
        self.edits: list[tuple[int, int, str]] = []
        # memoization (r7 fourth wave): scan() retries a chain parse at
        # EVERY token offset and parse_primary descends nested parens
        # via type_of_span — without caches that is exponential in
        # nesting depth (a 4-level json_array() expansion took minutes;
        # parse results are deterministic per position, so caching is
        # exact, and cached subspans replay into the caller's list)
        self._prim: dict[int, tuple | None] = {}
        self._span: dict[tuple[int, int], int] = {}

    # -- primary parsing ---------------------------------------------------

    def _after_arrow(self, i: int) -> bool:
        """True when toks[i] sits directly after a JSON ``->`` / ``->>``
        arrow (tokenized ``-``,``>`` / ``-``,``>>``, always adjacent in
        source — SQLite rejects ``- >>``).  Such a token is the arrow's
        RHS path operand, NOT an arithmetic operand; every arithmetic
        pass must leave it alone (r10, the left-operand twin of the r9
        string-BEFORE-arrow exclusion: ``data ->> 'price' * 2`` folded
        the path to its numeric prefix 0)."""
        toks = self.toks
        if i < 2:
            return False
        p = toks[i - 1]
        if p[1] == ">>":
            d = toks[i - 2]
            return d[1] == "-" and d[3] == p[2]
        if p[1] == ">" and toks[i - 2][1] == "-" and toks[i - 2][3] == p[2]:
            return True
        return False

    def _match_paren(self, i: int) -> int:
        """toks[i] is '(' → index of matching ')' token (or -1)."""
        return self.toks[i][5]

    def parse_primary(self, i: int, subspans: list):
        """Memoizing wrapper over :meth:`_parse_primary_uncached` —
        results (and the subspans a parse records) are deterministic
        per start position."""
        hit = self._prim.get(i)
        if hit is None:
            subs: list = []
            res0 = self._parse_primary_uncached(i, subs)
            if (
                self.arrows
                and res0 is not None
                and self.toks[i][1] not in ("+", "-")  # unary sign owns it
            ):
                res0 = self._consume_arrows(res0)
            hit = (res0, tuple(subs))
            self._prim[i] = hit
        res, subs = hit
        subspans.extend(subs)
        return res

    def _consume_arrows(self, res):
        """Extend a parsed primary across JSON ``->`` / ``->>`` postfix
        steps with literal RHS paths (the only form the arrow rewrite
        handles).  The result is the arrow EXTRACTION — dynamic in
        SQLite, TEXT-shaped on our wire — so it classes TEXT, letting
        ``j ->> 'a' * 2`` take the runtime numeric-prefix conversion."""
        j, cls, pure = res
        toks = self.toks
        n = len(toks)
        changed = False
        while (
            j + 2 < n
            and toks[j][1] == "-"
            and toks[j + 1][1] in (">", ">>")
            and toks[j][3] == toks[j + 1][2]  # adjacent: a real arrow
            and toks[j + 2][0] in ("str", "num")
        ):
            j += 3
            changed = True
        if changed:
            return (j, _CLS_TEXT, False)
        return res

    def _parse_primary_uncached(self, i: int, subspans: list):
        """Parse one primary starting at token i.  Returns
        (next_index, storage_class, is_pure_literal) or None.  Balanced
        sub-groups are recorded in ``subspans`` for recursive scanning."""
        toks = self.toks
        n = len(toks)
        if i >= n:
            return None
        sign = False
        while i < n and toks[i][1] in ("+", "-"):
            sign = True
            i += 1
        if i >= n:
            return None
        kind, text = toks[i][0], toks[i][1]
        if kind == "num":
            return (i + 1, _CLS_INT if _num_is_int(text) else _CLS_REAL, True)
        if kind == "str":
            # unary sign applies SQLite numeric conversion — the result
            # is numeric, not text; bail out of literal-class claims
            return (i + 1, _CLS_UNKNOWN if sign else _CLS_TEXT, not sign)
        if kind == "blob":
            return (i + 1, _CLS_UNKNOWN if sign else _CLS_BLOB, not sign)
        if kind == "word":
            wl = text.lower()
            if wl == "null":
                return (i + 1, _CLS_NULL, False)
            if wl in ("true", "false"):
                return (i + 1, _CLS_INT, False)
            if wl in ("case", "select", "exists", "interval"):
                return None
            if wl in _SAFE_BEFORE_WORDS or wl in (
                "in", "like", "between", "values", "set", "glob",
                "from", "group", "order", "limit", "offset", "as",
            ):
                # SQL keywords are NEVER primaries — 'WHERE (cond)'
                # otherwise parses as a FUNCTION CALL named WHERE,
                # letting _try_chain swallow the parenthesized condition
                # before the chain compiler sees it (r10, found by the
                # truthiness machine: (tx / tx) % X'3137' only got its
                # inner rewrite)
                return None
            if wl == "cast" and i + 1 < n and toks[i + 1][1] == "(":
                j = self._match_paren(i + 1)
                if j < 0:
                    return None
                subspans.append((i + 2, j))
                # type keyword(s): tokens after the LAST top-level AS
                inner = toks[i + 1][4] + 1
                as_pos = max(
                    (
                        k
                        for k in range(i + 2, j)
                        if toks[k][4] == inner and toks[k][0] == "word" and toks[k][1].lower() == "as"
                    ),
                    default=-1,
                )
                if as_pos < 0:
                    return None
                decl = " ".join(t[1] for t in toks[as_pos + 1 : j])
                d = decl.upper()
                if "INT" in d:
                    cls = _CLS_INT
                elif "CHAR" in d or "CLOB" in d or "TEXT" in d:
                    cls = _CLS_TEXT
                elif "REAL" in d or "FLOA" in d or "DOUB" in d:
                    cls = _CLS_REAL
                elif "BLOB" in d:
                    cls = _CLS_BLOB
                else:
                    cls = _CLS_UNKNOWN  # NUMERIC affinity is dynamic
                return (j + 1, cls, False)
            if i + 1 < n and toks[i + 1][1] == "(":
                j = self._match_paren(i + 1)
                if j < 0:
                    return None
                subspans.append((i + 2, j))
                if wl in _INT_RESULT_FNS:
                    cls = _CLS_INT
                elif wl in _REAL_RESULT_FNS or wl in ("avg", "total"):
                    # avg()/total() always return REAL (SQLite docs)
                    cls = _CLS_REAL
                elif wl in ("min", "max", "sum"):
                    # aggregate class follows the (single) argument:
                    # min/max of a TEXT column is TEXT, sum of INT is
                    # INT, sum of REAL is REAL (r11 HAVING battery —
                    # without this, HAVING max(tx) / 2 never takes the
                    # prefix conversion). Multi-arg scalar min/max are
                    # dynamic — class only when no top-level comma.
                    inner = toks[i + 1][4] + 1
                    single = not any(
                        toks[k2][1] == "," and toks[k2][4] == inner for k2 in range(i + 2, j)
                    )
                    acls = self.type_of_span(i + 2, j) if single else _CLS_UNKNOWN
                    if wl == "sum" and acls not in (_CLS_INT, _CLS_REAL):
                        acls = _CLS_UNKNOWN  # sum over TEXT is content-typed
                    cls = acls
                else:
                    cls = _CLS_UNKNOWN
                return (j + 1, cls, False)
            # plain (possibly dotted) identifier
            parts = [wl]
            while i + 2 < n and toks[i + 1][1] == "." and toks[i + 2][0] in ("word", "qid"):
                nxt = toks[i + 2]
                parts.append(nxt[1].strip('`"').lower())
                i += 2
            name = ".".join(parts)
            cls = self.col_classes.get(name, self.col_classes.get(parts[-1], _CLS_UNKNOWN))
            if sign and cls not in (_CLS_INT, _CLS_REAL):
                cls = _CLS_UNKNOWN  # unary minus numeric-converts TEXT/BLOB
            return (i + 1, cls, False)
        if kind == "qid":
            name = text.strip('`"').lower()
            cls = self.col_classes.get(name, _CLS_UNKNOWN)
            if sign and cls not in (_CLS_INT, _CLS_REAL):
                cls = _CLS_UNKNOWN
            return (i + 1, cls, False)
        if text == "(":
            j = self._match_paren(i)
            if j < 0:
                return None
            subspans.append((i + 1, j))
            return (j + 1, self.type_of_span(i + 1, j), False)
        return None

    def type_of_span(self, lo: int, hi: int) -> int:
        """Memoizing wrapper — span classes are deterministic."""
        key = (lo, hi)
        hit = self._span.get(key)
        if hit is None:
            hit = self._type_of_span_uncached(lo, hi)
            self._span[key] = hit
        return hit

    def _type_of_span_uncached(self, lo: int, hi: int) -> int:
        """Storage class of the expression in tokens [lo, hi): a chain
        of primaries joined by arithmetic ops, or a pure ||-chain
        (concat is always TEXT in SQLite — r9, lets a parenthesized
        wrapped chain take the arithmetic prefix conversion).
        Anything else → UNKNOWN."""
        subspans: list = []
        res = self.parse_primary(lo, subspans)
        if res is None:
            return _CLS_UNKNOWN
        i, cls, _ = res
        classes = [cls]
        ops = []
        while i < hi:
            t = self.toks[i]
            op = t[1].lower() if t[0] == "word" else t[1]
            if op in _MUL_OPS or op in _ADD_OPS or op in ("div", "||"):
                ops.append(op)
                res = self.parse_primary(i + 1, subspans)
                if res is None or res[0] > hi:
                    return _CLS_UNKNOWN
                i, cls, _ = res
                classes.append(cls)
            else:
                return _CLS_UNKNOWN
        if i != hi:
            return _CLS_UNKNOWN
        if len(classes) == 1:
            return classes[0]
        if "||" in ops:
            return _CLS_TEXT if all(o == "||" for o in ops) else _CLS_UNKNOWN
        if "/" in ops:
            return _CLS_UNKNOWN  # untyped division — a later sweep may fix
        if all(c == _CLS_INT for c in classes):
            return _CLS_INT
        if all(c in (_CLS_INT, _CLS_REAL) for c in classes):
            return _CLS_REAL
        return _CLS_UNKNOWN

    # -- passes ------------------------------------------------------------

    def scan(self, lo: int, hi: int) -> None:
        toks = self.toks
        i = lo
        while i < hi:
            t = toks[i]
            # abs(<text/blob literal>) → folded REAL literal
            if (
                t[0] == "word"
                and t[1].lower() == "abs"
                and i + 3 < hi
                and toks[i + 1][1] == "("
                and toks[i + 2][0] in ("str", "blob")
                and toks[i + 3][1] == ")"
            ):
                lit = toks[i + 2]
                if lit[0] == "blob":
                    raw = bytes.fromhex(lit[1][2:-1]).decode("latin-1")
                else:
                    raw = lit[1][1:-1].replace("''", "'")
                v = _sqlite_text_to_real(raw)
                if v < 0:  # SQLite's own rule: -0.0 is not < 0, stays
                    v = -v
                out = repr(v)
                if "e" not in out and "." not in out and "inf" not in out:
                    out += ".0"
                self.edits.append((t[2], toks[i + 3][3], out))
                i += 4
                continue
            # a decimal integral literal OUTSIDE int64 is REAL in SQLite
            # (typeof(9223372036854775808) = 'real'); Spark parses it as
            # DECIMAL(19,0) whose arithmetic then diverges from REAL.
            # Fold to the double literal. NOT when signed: SQLite parses
            # the full signed literal (-9223372036854775808 is INTEGER,
            # sqlite3-probed), and the chain fold handles signed members.
            if (
                t[0] == "num"
                and t[1][-1] not in "dD"
                and not t[1].lower().startswith("0x")
                and _num_is_int(t[1])
                and int(t[1]) >= 2**63
                and not self._after_arrow(i)
                and (i == 0 or toks[i - 1][1] not in ("+", "-", "."))
            ):
                self.edits.append(
                    (t[2], t[3], self._render_val(("r", float(int(t[1])), None)))
                )
                i += 1
                continue
            # || PRECEDENCE (r9, sqlite3-probed): SQLite binds || tighter
            # than ALL arithmetic ('a' || '7' * 2 = ('a'||'7')*2 = 0);
            # Spark binds * first. Parenthesize a ||-chain whenever an
            # arithmetic op is adjacent — parens are neutral otherwise.
            cw = self._try_concat_wrap(i, hi)
            if cw is not None:
                i = cw
                continue
            # cross-type comparison folding BEFORE the text-arith and
            # chain passes — either would otherwise consume a left-hand
            # arithmetic chain (`a*2 = '2x'`, `tx+1 = '1'`) and the
            # comparison would never fold (r9 for _try_chain; r12 for
            # _try_text_arith once mixed chains classed as numeric)
            fold = self._try_fold_compare(i, hi)
            if fold is not None:
                i = fold
                continue
            # TEXT/REAL-operand arithmetic → SQLite NUMERIC-affinity
            # rewrites (r9): prefix-converted division, int64-truncated %,
            # prefix-converted + - *
            tdiv = self._try_text_arith(i, hi)
            if tdiv is not None:
                i = tdiv
                continue
            # static TEXT literal in an ARITHMETIC position → its
            # NUMERIC-prefix literal (r9 fourth wave: closes 3+-member
            # STATIC chains — '7'/2/2=1, 1+'2'+'3'=6, '10'%'4'%'3'=2;
            # SQLite converts operands independently, so the
            # replacement is exact and the chain/% machinery finishes
            # the job on the next fixpoint pass). Unary '+' is a NO-OP
            # that keeps TEXT class (probed: +'7' < 2 is 0), so a '+'
            # to the left counts only when provably binary; '||'
            # neighbors keep the string (concat binds tighter).
            if t[0] == "str":
                pvv = nvv = None
                if i > 0:
                    p_ = toks[i - 1]
                    pvv = p_[1].lower() if p_[0] == "word" else p_[1]
                if i + 1 < len(toks):
                    n_ = toks[i + 1]
                    nvv = n_[1].lower() if n_[0] == "word" else n_[1]
                prev_arith = pvv in ("-", "*", "/", "%", "div") or (
                    pvv == "+"
                    and i >= 2
                    and (
                        toks[i - 2][0] in ("num", "str", "blob", "qid")
                        or toks[i - 2][1] == ")"
                    )
                )
                # '->' / '->>' tokenize as '-','>'(,'>') — a '-' that
                # starts a JSON arrow is NOT arithmetic (r9 regression:
                # '{"a":5}' ->> 'a' converted the json literal to 0)
                next_arith = nvv in ("+", "-", "*", "/", "%", "div") and not (
                    nvv == "-"
                    and i + 2 < len(toks)
                    and toks[i + 2][1] in (">", ">>")
                )
                if (
                    (prev_arith or next_arith)
                    and pvv != "||"
                    and nvv != "||"
                    # NEVER fold a % operand: the INTEGER-prefix parse
                    # ('9e1' % x reads 9) differs from the numeric-prefix
                    # value (90) this fold bakes in — the chain compiler
                    # owns % members with the correct modi (r10, found by
                    # the column-chain machine on '9e1' % tx)
                    and pvv != "%"
                    and nvv != "%"
                    and not self._after_arrow(i)
                ):
                    raw = t[1][1:-1].replace("''", "'")
                    f_, isql, rsql = _sqlite_arith_text_static(raw)
                    self.edits.append((t[2], t[3], isql if f_ is True else rsql))
                    i += 1
                    continue
            # multiplicative chain with provable-INT members → div
            chain = self._try_chain(i, hi)
            if chain is not None:
                i = chain
                continue
            if t[1] == "(":
                j = self._match_paren(i)
                if 0 < j:
                    self.scan(i + 1, j)
                    i = j + 1
                    continue
            i += 1

    _TEXT_DIV_PREFIX = (
        "regexp_extract(CAST(({m}) AS STRING), "
        "'^\\\\s*([+-]?([0-9]+([.][0-9]*)?([eE][+-]?[0-9]+)?|[.][0-9]+))', 1)"
    )

    _ARITH_OPS = ("+", "-", "*", "/", "%", "div")

    def _try_concat_wrap(self, i: int, hi: int):
        """Parenthesize a maximal ``P1 || P2 || ...`` chain when an
        arithmetic operator sits directly on either side — forcing
        SQLite's precedence (|| binds tighter than + - * / %,
        sqlite3-probed) onto Spark's parse (which binds * / % first).
        Wrapping is a pure grouping change, so it is safe even when
        the neighbor's sign is unary."""
        toks = self.toks
        if self._after_arrow(i):
            return None  # JSON arrow RHS — the arrow owns this token
        prev = toks[i - 1] if i > 0 else None
        pv = None
        if prev is not None:
            pv = prev[1].lower() if prev[0] == "word" else prev[1]
            if pv in ("||", "."):
                return None  # mid-chain / qualified name
            if pv in ("+", "-") and not (
                i >= 2
                and (
                    toks[i - 2][0] in ("num", "str", "blob", "qid")
                    or toks[i - 2][1] == ")"
                )
            ):
                # UNARY sign to the left: the sign is part of the
                # chain's first member ((-1)||'x') or of a member
                # mid-chain ('bi-'||-1||...) — the sign-position visit
                # owns the parse; wrapping from here would swallow or
                # regroup the sign (the r9 trigger-log regression)
                return None
        res = self.parse_primary(i, [])
        if res is None:
            return None
        j, _cls, _pure = res
        if j >= hi or toks[j][1] != "||":
            return None
        end = j
        while end < hi and toks[end][1] == "||":
            res = self.parse_primary(end + 1, [])
            if res is None:
                return None
            end = res[0]
        nv = None
        if end < len(toks):
            n_ = toks[end]
            nv = n_[1].lower() if n_[0] == "word" else n_[1]
        if pv in self._ARITH_OPS or nv in self._ARITH_OPS:
            span = self.sql[toks[i][2] : toks[end - 1][3]]
            self.edits.append((toks[i][2], toks[end - 1][3], f"({span})"))
            # interior rewrites of the embedded span happen on the next
            # fixpoint pass over the wrapped text
            return end
        return None  # no wrap: let scan descend into the chain normally

    _CHAIN_PAREN_KEYWORDS = _SAFE_BEFORE_WORDS | {
        "in", "like", "between", "values", "glob", "from", "group",
        "order", "limit", "offset", "as", "is", "asc", "desc", "union",
        "intersect", "except", "end", "escape", "collate", "set",
    }

    def _paren_owned_by_call(self, i: int) -> bool:
        """True when toks[i] is a '(' that is a FUNCTION CALL's argument
        list (an identifier word directly before it): a chain must not
        start there — it would consume the argument group plus trailing
        operators, splicing its replacement INSIDE the call (r11
        order-by machine find: pass 2 over `tx + bigint(1) + 2` folded
        `(1) + 2` to bigint(3), leaving `bigintbigint(3)`)."""
        toks = self.toks
        if i <= 0 or toks[i][1] != "(":
            return False
        p = toks[i - 1]
        return p[0] == "word" and p[1].lower() not in self._CHAIN_PAREN_KEYWORDS

    def _try_text_arith(self, i: int, hi: int):
        """2-member arithmetic under SQLite's dynamic NUMERIC-affinity
        rules (r9, flipping the docstring-listed 'runtime-typed int
        division' divergence and the % operand-truncation one):

        - TEXT operands convert by longest numeric prefix ('7abc' -> 7,
          '' -> 0, '7.5x' -> 7.5, all sqlite3-probed); an integer-formed
          prefix keeps INTEGER.
        - '/': two INTEGER operands divide integrally ('7'/2 = 3).
          Static pairs fold to ``div`` (full typeof parity); a TEXT
          COLUMN member gets the runtime prefix CASE whose mixed
          branches coerce to DOUBLE — VALUE parity, per-cell result
          typing documented.
        - '%': SQLite truncates BOTH operands to int64 ('7'%'2.5'=1.0,
          7.5%2=1.0 — NOT fmod), so REAL members rewrite too; result
          typed DOUBLE unless both members are statically INTEGER.
        - '+','-','*': int and double VALUES coincide, so TEXT members
          just prefix-convert (static pairs keep exact INTEGER typing).

        Scope: members must be bare columns / literals / signed numbers
        classed INT, REAL or TEXT; longer chains and concat-adjacent
        positions are left untouched. A leading sign run stays outside
        the rewrite for the multiplicative family (negation commutes
        with trunc div/mod and *); additive matches require no sign
        and no +/- to the left (float reassociation is not safe)."""
        toks = self.toks
        if self._after_arrow(i):
            return None  # JSON arrow RHS — the arrow owns this token
        if self._paren_owned_by_call(i):
            return None  # function-call argument list — the call owns it
        prev = toks[i - 1] if i > 0 else None
        pv = None
        if prev is not None:
            pv = prev[1].lower() if prev[0] == "word" else prev[1]
            # a tighter/equal-precedence chain to the left owns L
            # (`3 * t / 2` binds (3*t)/2; `a || t / 2` binds (a||t)/2)
            if pv in ("*", "/", "%", "div", "||", "."):
                return None
        # Leading sign handling. A sign run may be INSIDE the match
        # (parse_primary consumes it: `-2 + '7'` folds to 5 INTEGER)
        # only when it is provably UNARY — prev is an expression
        # opener, never a value-ending token (`1 - 2 + '7'` must not
        # re-bind). Otherwise the MULTIPLICATIVE family retries with
        # the sign run left OUTSIDE the span (negation commutes with
        # trunc div/mod and *); additive ops cannot (-(s+1) ≠ (-s)+1).
        has_sign = toks[i][1] in ("+", "-")
        sign_unary_ok = prev is None or pv in (
            "(", ",", ";", "=", "==", "<", ">", "<=", ">=", "<>", "!=",
        ) or pv in _SAFE_BEFORE_WORDS
        if not has_sign or sign_unary_ok:
            got = self._arith_attempt(i, hi, pv, allow_additive=True)
            if got is not None:
                return got
        if has_sign:
            base = i
            while base < hi and toks[base][1] in ("+", "-"):
                base += 1
            if base < hi:
                return self._arith_attempt(base, hi, pv, allow_additive=False)
        return None

    def _leaf_frag(self, lo_t: int, hi_t: int, cls: int, pure: bool):
        """(int_cond, int_expr, real_expr, int64_expr) for the member in
        tokens [lo_t, hi_t) under SQLite's dynamic NUMERIC-affinity
        conversion.  int_cond is True/False when statically known, else
        a SQL boolean; int_expr is only valid under the condition;
        real_expr is always valid; int64_expr is the ``%``-operand form
        (TEXT converts by the INTEGER-prefix parse — '9e1' % 2 reads 9,
        not 90; numerics truncate toward zero — all sqlite3-probed).
        Parenthesized/call members embed verbatim; their interiors get
        re-scanned on the next fixpoint pass over the replacement text
        (r9 fourth wave — needed for wrapped ||-chains and CAST members
        to take the prefix conversion)."""
        toks = self.toks
        m = self.sql[toks[lo_t][2] : toks[hi_t - 1][3]]
        if cls == _CLS_BLOB and pure:
            # blob literals convert like TEXT of their raw bytes
            # (sqlite3-probed r10: X'37' / 2 = 3, X'3137' % 5 = 2,
            # X'FF' + 1 = 1 — the byte string's numeric prefix)
            raw = bytes.fromhex(toks[lo_t][1][2:-1]).decode("latin-1")
            f, iv, rv = _sqlite_arith_text_static(raw)
            mm = re.match(r"\s*([+-]?\d+)", raw)
            modi = self._trunc64(int(mm.group(1))) if mm else 0
            return (f, iv, rv, str(modi))
        if cls == _CLS_TEXT and pure:
            raw = toks[lo_t][1][1:-1].replace("''", "'")
            f, iv, rv = _sqlite_arith_text_static(raw)
            mm = re.match(r"\s*([+-]?\d+)", raw)
            # INTEGER-prefix parse SATURATES past int64 (sqlite3-probed
            # r11: '99999999999999999999' % 7 = 0.0 via INT64_MAX)
            modi = self._trunc64(int(mm.group(1))) if mm else 0
            return (f, iv, rv, str(modi))
        if cls == _CLS_TEXT:
            p = self._TEXT_DIV_PREFIX.format(m=m)
            f = (
                f"(({m}) IS NOT NULL AND ({p} = '' OR "
                f"(({p}) NOT RLIKE '[.eE]' "
                f"AND try_cast({p} AS BIGINT) IS NOT NULL)))"
            )
            iv = f"coalesce(try_cast({p} AS BIGINT), bigint(0))"
            rv = (
                f"CASE WHEN ({m}) IS NULL THEN double(NULL) "
                f"ELSE coalesce(try_cast({p} AS DOUBLE), 0.0D) END"
            )
            # runtime INTEGER-prefix parse; a non-empty all-digit prefix
            # that overflows int64 SATURATES to the signed bound
            # (sqlite3-probed r11: '9223372036854775808' % 10 = 7.0)
            pfx = (
                f"regexp_extract(CAST(({m}) AS STRING), "
                f"'^\\\\s*([+-]?[0-9]+)', 1)"
            )
            modi = (
                f"CASE WHEN ({m}) IS NULL THEN bigint(NULL) "
                f"ELSE coalesce(try_cast({pfx} AS BIGINT), "
                f"CASE WHEN {pfx} = '' THEN bigint(0) "
                f"WHEN {pfx} LIKE '-%' THEN cast('-9223372036854775808' AS BIGINT) "
                f"ELSE bigint(9223372036854775807) END) END"
            )
            return (f, iv, rv, modi)
        if cls == _CLS_INT:
            return (True, f"({m})", f"double(({m}))", f"({m})")
        return (False, None, f"({m})", f"bigint(({m}))")

    # -- static chain evaluation (r10: integer-overflow promotion) --------

    @staticmethod
    def _trunc64(x):
        """SQLite CAST(... AS INTEGER): truncate toward zero, SATURATE
        at the int64 bounds (sqlite3-probed: 1e30 % 3 = 1.0 via the
        saturated 9223372036854775807; inf saturates too)."""
        if isinstance(x, float):
            if math.isnan(x):
                return 0
            if x >= 2**63:
                return 2**63 - 1
            if x <= -(2**63):
                return -(2**63)
            x = int(x)
        if x >= 2**63:
            return 2**63 - 1
        if x < -(2**63):
            return -(2**63)
        return x

    def _leaf_val(self, lo_t: int, hi_t: int, cls: int, pure: bool):
        """Exact static value of a pure-literal member:
        (kind 'i'|'r'|'n', number, int64-%-operand) or None when not
        statically evaluable.  Implements SQLite's literal rules:
        hex is 64-bit two's complement, a decimal integral literal
        outside int64 parses REAL, TEXT converts by numeric prefix
        (INTEGER-prefix parse for the % operand).  D-suffixed numbers
        are our own DOUBLE markers from a previous pass — skipped so
        re-runs on rewritten fragments stay idempotent."""
        if not pure:
            return None
        toks = self.toks
        sign, k = 1, lo_t
        while toks[k][1] in ("+", "-"):
            if toks[k][1] == "-":
                sign = -sign
            k += 1
        if k != hi_t - 1:
            return None
        kind, text = toks[k][0], toks[k][1]
        if kind == "num":
            if text[-1] in "dD" and not text.lower().startswith("0x"):
                return None
            if text.lower().startswith("0x"):
                v = int(text, 16)
                if v >= 2**64:
                    return None  # SQLite: 'hex literal too big' — leave
                if v >= 2**63:
                    v -= 2**64
                v *= sign
                return ("i", v, v)
            if _num_is_int(text):
                v = int(text) * sign
                if -(2**63) <= v < 2**63:
                    return ("i", v, v)
                x = float(v)
                return ("r", x, self._trunc64(x))
            x = float(text) * sign
            return ("r", x, self._trunc64(x))
        if kind == "blob" and sign == 1:
            raw = bytes.fromhex(text[2:-1]).decode("latin-1")
            t = raw.lstrip(" \t\r\n\f\v")
            m = re.match(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", t)
            mm = re.match(r"\s*([+-]?\d+)", raw)
            modi = self._trunc64(int(mm.group(1))) if mm else 0
            if not m:
                return ("i", 0, 0)
            p = m.group(0)
            if re.fullmatch(r"[+-]?\d+", p) and -(2**63) <= int(p) < 2**63:
                return ("i", int(p), modi)
            return ("r", _sqlite_text_to_real(raw), modi)
        if kind == "str" and sign == 1:
            raw = text[1:-1].replace("''", "'")
            t = raw.lstrip(" \t\r\n\f\v")
            m = re.match(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", t)
            mm = re.match(r"\s*([+-]?\d+)", raw)
            # prefix saturates at the int64 bounds (ADVICE r10)
            modi = self._trunc64(int(mm.group(1))) if mm else 0
            if not m:
                # no numeric prefix at all ('', 'abc', 'inf'): INTEGER 0
                # (_sqlite_arith_text_static agrees — ''/2 = 0 int)
                return ("i", 0, 0)
            p = m.group(0)
            if re.fullmatch(r"[+-]?\d+", p) and -(2**63) <= int(p) < 2**63:
                return ("i", int(p), modi)
            x = _sqlite_text_to_real(raw)
            return ("r", x, modi)
        return None

    @classmethod
    def _val_op(cls, op: str, va, vb):
        """SQLite's arithmetic on two static values — INT arithmetic
        that overflows int64 PROMOTES to the REAL computed from the
        original operands (sqlite3-probed: 9223372036854775807 + 1 =
        9.223372036854776e+18 = float(a) + float(b); INT_MIN / -1
        promotes; INT_MIN % -1 = 0 INTEGER); x/0 and x/0.0 are NULL;
        non-finite REAL results (inf-inf, inf/inf) are NULL like every
        math domain error, but inf itself survives (1e999 probes
        'real' inf)."""
        if va is None or vb is None:
            return None
        ka, a, _ma = va
        kb, b, _mb = vb
        if ka == "n" or kb == "n":
            return ("n", None, None)
        both_int = ka == "i" and kb == "i"
        if op == "%":
            ma, mb = va[2], vb[2]
            if mb == 0:
                return ("n", None, None)
            q = abs(ma) // abs(mb)
            if (ma < 0) != (mb < 0):
                q = -q
            r = ma - mb * q
            if both_int:
                return ("i", r, r)
            return ("r", float(r), cls._trunc64(float(r)))
        if op == "/":
            if both_int:
                if b == 0:
                    return ("n", None, None)
                q = abs(a) // abs(b)
                if (a < 0) != (b < 0):
                    q = -q
                if -(2**63) <= q < 2**63:
                    return ("i", q, q)
                x = float(a) / float(b)
                return ("r", x, cls._trunc64(x))
            if float(b) == 0.0:
                return ("n", None, None)
            x = float(a) / float(b)
            if math.isnan(x):
                return ("n", None, None)
            return ("r", x, cls._trunc64(x))
        if both_int:
            r = a + b if op == "+" else a - b if op == "-" else a * b
            if -(2**63) <= r < 2**63:
                return ("i", r, r)
            x = (
                float(a) + float(b)
                if op == "+"
                else float(a) - float(b) if op == "-" else float(a) * float(b)
            )
            return ("r", x, cls._trunc64(x))
        fa, fb = float(a), float(b)
        x = fa + fb if op == "+" else fa - fb if op == "-" else fa * fb
        if math.isnan(x):
            return ("n", None, None)
        return ("r", x, cls._trunc64(x))

    _POSITIONAL_STOP = frozenset(
        "select from where having limit offset union intersect except "
        "when then else case end on and or not in between as over "
        "values set returning".split()
    )

    def _in_positional_clause(self, i: int) -> bool:
        """True when token ``i`` starts a top-level item of an ORDER BY
        or GROUP BY clause. Spark resolves integer literals there as
        POSITIONAL references even through parentheses, while SQLite
        ordinals are bare-literal-only — so static INT folds rendered
        in these clauses must use the bigint(N) cast form. Backward
        scan: transparent through ')('-balanced groups and bare parens,
        stopped by a function call's '(' (word immediately before) or
        any clause keyword."""
        toks = self.toks
        j = i - 1
        while j >= 0:
            k, v, mate = toks[j][0], toks[j][1], toks[j][5]
            lv = v.lower() if k == "word" else v
            if v == ")" and mate >= 0:
                j = mate - 1  # a whole group before the token
                continue
            if v == "(":
                if j > 0 and toks[j - 1][0] == "word" and toks[j - 1][1].lower() not in (
                    "in", "values", "on", "and", "or", "not", "when", "then", "else",
                ):
                    return False  # function-call argument: never positional
                # bare grouping parens are transparent (Spark strips them)
            elif k == "word":
                if lv == "by" and j > 0 and toks[j - 1][1].lower() in ("order", "group"):
                    return True
                if lv in self._POSITIONAL_STOP:
                    return False
            j -= 1
        return False

    @staticmethod
    def _render_val(val) -> str:
        """Fold a static value to (parenthesized) SQL — parens keep a
        folded integer from turning into a positional ORDER BY ref."""
        k, v, _ = val
        if k == "n":
            # bare NULL: never positional, and parenthesized (NULL) hits
            # a Spark 4 parser quirk in WHERE position (UNRESOLVED_COLUMN
            # /ASSIGNMENT_ARITY instead of FILTER_NOT_BOOLEAN, so the
            # truthiness retry never fires — r10 truthiness machine find)
            return "NULL"
        if k == "i":
            return f"({v})"
        return f"({_real_literal(v)})"

    @staticmethod
    def _f_and(a, b):
        if a is False or b is False:
            return False
        if a is True:
            return b
        if b is True:
            return a
        return f"({a} AND {b})"

    @classmethod
    def _frag_op(cls, op: str, L, R):
        """Compose two member frags under one SQLite arithmetic op,
        yielding the RESULT's frag — this is what lets chains propagate
        int-formedness left-associatively ('9x'/2/2 must be
        (9 div 2) div 2 = 2, not 4.0/2 = 2.0; r10, closing the
        runtime 3+-member chain divergence).  Rules (sqlite3-probed):
        INT op INT stays INT ('/' divides integrally); any REAL member
        makes the result REAL; '%' int64-truncates BOTH operands and is
        REAL unless both were INT; a composed result is NUMERIC, so a
        later '%' truncates its VALUE toward zero (the INTEGER-prefix
        parse applies to TEXT STORAGE leaves only)."""
        fl, il, rl, ml = L
        fr, ir, rr, mr = R
        f = cls._f_and(fl, fr)
        if op == "%":
            iv = f"({ml} % {mr})"
            # the % value is always integral — its REAL repr is exact
            return (f, iv, f"double({iv})", iv)
        if op == "/":
            iv = None if f is False else f"({il} div {ir})"
            rcomp = f"({rl} / {rr})"
        else:  # + - * : int/double VALUES coincide — no runtime CASE
            iv = None if f is False else f"({il} {op} {ir})"
            rcomp = f"({rl} {op} {rr})"
        if f is True:
            rv = f"double({iv})" if op == "/" else rcomp
        elif f is False:
            rv = rcomp
        elif op == "/":
            rv = f"(CASE WHEN {f} THEN double({iv}) ELSE {rcomp} END)"
        else:
            rv = rcomp  # + - * values coincide int/double
        if f is True:
            mv = iv
        elif f is False:
            mv = f"bigint({rcomp})"
        else:
            mv = f"(CASE WHEN {f} THEN {iv} ELSE bigint({rcomp}) END)"
        return (f, iv, rv, mv)

    def _compile_mul(self, i: int, hi: int, state: dict):
        """Parse a multiplicative chain (primaries joined by * / %)
        starting at token i into a composed frag.  Returns
        (next_index, frag, n_members) or None.  '||' bails: concat
        binds tighter than arithmetic (the wrap pass owns it).  'div'
        is our own integer-division marker (an earlier _try_chain sweep
        rewrites all-INT '/' — 'tx + 1/2' reaches the affinity-aware
        sweep as 'tx + 1 div 2') and composes exactly like '/' on
        INT-class members."""
        toks = self.toks
        res = self._compile_member(i, hi, state)
        if res is None:
            return None
        j, frag, n, val = res
        while j < hi:
            t = toks[j]
            op = t[1].lower() if t[0] == "word" else t[1]
            if op == "||":
                return None
            if op == "div":
                op = "/"
            elif op not in ("*", "/", "%"):
                break
            res = self._compile_member(j + 1, hi, state)
            if res is None:
                return None
            k, f2, n2, v2 = res
            if op == "%" and not (frag[0] is True and f2[0] is True):
                state["modreal"] = True
            if op == "/" and self._f_and(frag[0], f2[0]) is not False:
                # integer division may apply at this step — if the WHOLE
                # chain doesn't stay statically INT (where _try_chain's
                # div rewrite handles it natively), the compiler must
                # emit or the int steps run as float division
                # (i / i / r lost the first int division — r10, found
                # by the column-chain hypothesis machine)
                state["intdiv"] = True
            val = self._val_op(op, val, v2)
            frag = self._frag_op(op, frag, f2)
            n += n2
            j = k
        return (j, frag, n, val)

    def _compile_member(self, i: int, hi: int, state: dict):
        """One chain member → (next_index, frag, n_members).  A
        parenthesized group whose interior is itself a compilable
        arithmetic chain compiles RECURSIVELY — '(tx+1)/2' must
        integer-divide when tx+1 is int-formed at runtime; classing the
        paren verbatim loses the interior's int-formedness.  (The outer
        chain's edit covers the paren span, so the interior's own
        scan-time edit is suppressed by the overlap pruning.)  Anything
        else (calls, CASE, row values, ||-chains) falls back to a
        verbatim leaf classed by parse_primary."""
        toks = self.toks
        if i >= hi or i >= len(toks):
            return None
        if toks[i][1] == "(":
            j = self._match_paren(i)
            if 0 < j < hi:
                inner_state: dict = {}
                inner = self._compile_add(i + 1, j, inner_state, True)
                if inner is not None and inner[0] == j:
                    state.update(inner_state)
                    return (j + 1, inner[1], inner[2], inner[3])
        res = self.parse_primary(i, [])
        if res is None:
            return None
        j, cls, pure = res
        if j > hi or cls not in (
            _CLS_INT, _CLS_REAL, _CLS_TEXT, _CLS_BLOB, _CLS_NULL,
        ):
            return None
        if cls == _CLS_NULL:
            # a NULL member poisons the whole chain in SQLite; the frag
            # keeps every path NULL-propagating (an earlier pass's own
            # NULL fold must stay composable — (2/0) / tx / X'37' hit
            # Spark's DOUBLE/BINARY mismatch natively; r10 machine find)
            return (
                j,
                (False, None, "double(NULL)", "bigint(NULL)"),
                1,
                ("n", None, None),
            )
        if cls == _CLS_BLOB and not pure:
            return None  # runtime blob columns stay unhandled
        if cls in (_CLS_TEXT, _CLS_BLOB):
            state["text"] = True
        return (
            j,
            self._leaf_frag(i, j, cls, pure),
            1,
            self._leaf_val(i, j, cls, pure),
        )

    def _compile_add(self, i: int, hi: int, state: dict, allow_additive: bool):
        """Parse an additive chain of multiplicative chains.  With
        allow_additive=False (sign-outside retry, or a +/- to the left
        that owns the first member) the parse stops before any
        top-level + or - — float addition does not reassociate."""
        res = self._compile_mul(i, hi, state)
        if res is None:
            return None
        j, frag, n, val = res
        toks = self.toks
        while allow_additive and j < hi:
            t = toks[j]
            op = t[1].lower() if t[0] == "word" else t[1]
            if op == "||":
                return None
            if op not in ("+", "-"):
                break
            res = self._compile_mul(j + 1, hi, state)
            if res is None:
                return None
            j2, frag2, n2, v2 = res
            val = self._val_op(op, val, v2)
            frag = self._frag_op(op, frag, frag2)
            n += n2
            j = j2
        return (j, frag, n, val)

    def _arith_attempt(self, i: int, hi: int, pv, allow_additive: bool):
        toks = self.toks
        state: dict = {}
        res = self._compile_add(
            i, hi, state, allow_additive and pv not in ("+", "-")
        )
        if res is None:
            return None
        k, frag, n, val = res
        # n > _CHAIN_MEMBER_CAP: expression size grows multiplicatively
        # with chain depth at '/' and '%' steps (each level embeds the
        # previous frag several times) — longer chains stay untouched,
        # documented.  Statically-valued chains fold to a literal
        # instead, so the cap doesn't apply there.
        if n < 2:
            return None
        nxt = toks[k] if k < len(toks) else None
        if nxt is not None:
            nv = nxt[1].lower() if nxt[0] == "word" else nxt[1]
            # a tighter/equal op to the right owns the last member; a
            # remaining +/- is legal only on the sign-outside retry
            # (additive consumption was off)
            if nv in ("*", "/", "%", "div", "||"):
                return None
        if val is not None:
            # whole chain is static: fold to SQLite's exact value —
            # this is where int64-overflow PROMOTION lands
            # (9223372036854775807 + 1 folds to the REAL literal)
            rendered = self._render_val(val)
            if val[0] == "i" and self._in_positional_clause(i):
                # Spark resolves integer literals in ORDER BY/GROUP BY
                # POSITIONALLY even when parenthesized (the parser
                # strips parens — r11 order-by machine find: 2/2 folded
                # to (1) silently sorted by column 1). The cast-call
                # form is never positional.
                rendered = f"bigint({val[1]})"
            self.edits.append((toks[i][2], toks[k - 1][3], rendered))
            return k
        # only emit the runtime rewrite when a conversion is actually
        # needed: a TEXT member anywhere, a '%' whose operands aren't
        # both statically INT, or an int-division step inside a chain
        # that doesn't stay statically INT end-to-end (the all-INT
        # case belongs to _try_chain's native div rewrite)
        needs = (
            state.get("text")
            or state.get("modreal")
            or (state.get("intdiv") and frag[0] is not True)
        )
        if n > _CHAIN_MEMBER_CAP or not needs:
            return None
        f, iv, rv, _ = frag
        repl = iv if f is True else rv
        self.edits.append((toks[i][2], toks[k - 1][3], repl))
        return k

    def _try_chain(self, i: int, hi: int):
        """Try to parse a multiplicative chain starting at token i; when
        every member is provably INTEGER, rewrite its '/' ops to div.
        Returns the index after the chain when one (with >= 2 members)
        was parsed, else None."""
        if self._after_arrow(i):
            # JSON arrow RHS: the chain's real left operand is the arrow
            # RESULT (unknown class), not the path literal — classing it
            # from the literal would mis-rewrite `data -> 2 / 4` to div
            return None
        if self._paren_owned_by_call(i):
            return None  # function-call argument list — the call owns it
        subspans: list = []
        res = self.parse_primary(i, subspans)
        if res is None:
            return None
        j, cls, _ = res
        classes = [cls]
        slash_toks = []
        while j < hi:
            t = self.toks[j]
            op = t[1].lower() if t[0] == "word" else t[1]
            if op in _MUL_OPS or op == "div":
                res = self.parse_primary(j + 1, subspans)
                if res is None:
                    break
                if op == "/":
                    slash_toks.append(t)
                j, cls, _ = res
                classes.append(cls)
            else:
                break
        if len(classes) < 2:
            # no chain consumed: do NOT scan the subspans here — the
            # caller's own descent visits them. Scanning in both places
            # doubled the work per nesting level (2^depth scans: a
            # 4-deep json_array() expansion took minutes — r7 hang
            # found by the scalar property machine)
            return None
        for lo_s, hi_s in subspans:
            self.scan(lo_s, hi_s)
        if slash_toks and all(c == _CLS_INT for c in classes):
            for t in slash_toks:
                self.edits.append((t[2], t[3], " div "))
        return j

    def _parse_operand(self, i: int, hi: int):
        """One comparison operand: a chain of primaries joined by
        + - * (classed by the type_of_span combination rules — all-INT
        → INT, INT/REAL mix → REAL). '/', '%', 'div' and '||' bail
        (dynamic result class / different type family). Extends the
        r8 single-primary operands to provably-typed chains (r9:
        t > a+1, a*2+1 < 'x' — sqlite3-probed: the chain carries NO
        affinity, so the storage-class rules apply to its class)."""
        subs: list = []
        res = self.parse_primary(i, subs)
        if res is None:
            return None
        j, cls, pure = res
        classes = [cls]
        members = [(i, j, cls, pure)]
        concat = None
        while j < hi:
            t = self.toks[j]
            opv = t[1].lower() if t[0] == "word" else t[1]
            if opv in ("+", "-", "*", "/", "%", "div"):
                if concat:
                    return None  # || mixed with arithmetic: bail
                concat = False
                # / and % class like + - * under SQLite's rules
                # (typeof probed r9: a/2 and a%2 are INTEGER, r/2 and
                # r%2 REAL — int division stays int, % int-truncates
                # but keeps a REAL result class for REAL operands)
                res = self.parse_primary(j + 1, subs)
                if res is None:
                    return None
                members.append((j + 1, res[0], res[1], res[2]))
                j, c2, p2 = res
                classes.append(c2)
                pure = pure and p2
            elif opv == "||":
                # pure ||-chain: concat is always TEXT class in SQLite
                # and NULL-propagates per member (r13 — lets
                # tx||'' = 7 take the storage-class fold; a chain
                # mixing || with arithmetic bails as before)
                if concat is False:
                    return None
                concat = True
                res = self.parse_primary(j + 1, subs)
                if res is None:
                    return None
                members.append((j + 1, res[0], res[1], res[2]))
                j, c2, p2 = res
                classes.append(c2)
                pure = pure and p2
            else:
                break
        if concat:
            if not all(
                c in (_CLS_INT, _CLS_REAL, _CLS_TEXT, _CLS_BLOB) for c in classes
            ):
                return None  # NULL-class member: chain is constant NULL
            return (j, _CLS_TEXT, pure, members)
        if len(classes) > 1:
            if all(c == _CLS_INT for c in classes):
                cls = _CLS_INT
            elif all(c in (_CLS_INT, _CLS_REAL) for c in classes):
                cls = _CLS_REAL
            elif all(
                c in (_CLS_INT, _CLS_REAL, _CLS_TEXT, _CLS_BLOB) for c in classes
            ):
                # arithmetic numeric-converts TEXT/BLOB members, so a
                # mixed chain is always numeric-or-NULL (storage rank
                # 0); the INT/REAL split is runtime-dynamic but no
                # rank-sensitive consumer needs it (r12 — tx+1 = '1'
                # must storage-class fold). NULL-class members bail
                # (a pure chain containing NULL is NULL, not a
                # foldable constant).
                cls = _CLS_REAL
            else:
                return None
        return (j, cls, pure, members)

    def _try_fold_compare(self, i: int, hi: int):
        """Cross-storage-class comparison rewrites.

        literal vs literal — fold to its constant (SQLite never coerces
        literals; ordering is NUMERIC < TEXT < BLOB).

        typed column vs literal (r8, SQLite's comparison-affinity rules,
        datatype3.html §4.2, all sqlite3-probed):
        - numeric column vs TEXT literal: SQLite applies NUMERIC
          affinity to the literal; a well-formed numeric text then
          compares numerically (the engine already does) — only a
          NON-numeric text folds, to the storage-class constant with
          NULL propagated from the column.
        - TEXT column vs INTEGER literal: SQLite applies TEXT affinity
          to the literal ('0x11' → '17') — rewrite the literal to its
          canonical text so the engine runs the same text compare
          (REAL literals are skipped: canonical-form mismatch risk).
        - any typed column vs BLOB literal: blob outranks everything —
          fold with NULL propagation."""
        toks = self.toks
        res = self._parse_operand(i, hi)
        if res is None:
            return None
        j, lcls, lpure, lmem = res
        if j >= hi:
            return None
        op = toks[j][1]
        if op not in ("=", "==", "!=", "<>", "<", "<=", ">", ">="):
            return None
        res = self._parse_operand(j + 1, hi)
        if res is None:
            return None
        k, rcls, rpure, rmem = res
        if k > hi:
            return None
        lr = _CLS_RANK.get(lcls)
        rr = _CLS_RANK.get(rcls)
        if lr is None or rr is None or lr == rr:
            return None
        # guards: the compared pair must be the WHOLE operands
        prev = toks[i - 1] if i > 0 else None
        if prev is not None:
            pv = prev[1].lower() if prev[0] == "word" else prev[1]
            if not (pv in ("(", ",", ";") or pv in _SAFE_BEFORE_WORDS):
                return None
        nxt = toks[k] if k < len(toks) else None
        if nxt is not None:
            nv = nxt[1].lower() if nxt[0] == "word" else nxt[1]
            if not (nv in (")", ",", ";") or nv in _SAFE_AFTER_WORDS):
                return None
        if op in ("=", "=="):
            val = False
        elif op in ("!=", "<>"):
            val = True
        elif op in ("<", "<="):
            val = lr < rr
        else:
            val = lr > rr
        if lpure and rpure:
            self.edits.append((toks[i][2], toks[k - 1][3], "TRUE" if val else "FALSE"))
            return k

        def _is_bare_column(lo: int, hi_: int) -> bool:
            # affinity belongs to COLUMNS (and CASTs) only — a signed
            # column or function result carries NO affinity
            # (sqlite3-probed: -a < t and length(t) > '5' compare by
            # storage class), so only bare dotted identifiers take the
            # affinity-aware paths
            for t_ in toks[lo:hi_]:
                if t_[0] not in ("word", "qid") and t_[1] != ".":
                    return False
            return toks[lo][0] in ("word", "qid")

        if not lpure and not rpure:
            if {lr, rr} != {0, 1}:
                return None
            l_col = _is_bare_column(i, j)
            r_col = _is_bare_column(j + 1, k)
            ltext = self.sql[toks[i][2] : toks[j - 1][3]]
            rtext = self.sql[toks[j + 1][2] : toks[k - 1][3]]
            if l_col and r_col:
                # two typed COLUMNS (r8): NUMERIC affinity applies to
                # the TEXT side PER ROW (datatype3.html §4.2 rule 1,
                # probed) — well-formed numeric text compares
                # numerically, the rest by storage class, NULL
                # propagates
                tside = ltext if lr == 1 else rtext
                lnum = f"CAST(({ltext}) AS DOUBLE)" if lr == 1 else f"({ltext})"
                rnum = f"CAST(({rtext}) AS DOUBLE)" if rr == 1 else f"({rtext})"
                rep = (
                    f"(CASE WHEN ({ltext}) IS NULL OR ({rtext}) IS NULL THEN NULL "
                    f"WHEN regexp_like(({tside}), "
                    "'^\\\\s*[+-]?([0-9]+(\\\\.[0-9]*)?|\\\\.[0-9]+)([eE][+-]?[0-9]+)?\\\\s*$') "
                    f"THEN ({lnum} {op} {rnum}) "
                    f"ELSE {'TRUE' if val else 'FALSE'} END)"
                )
                self.edits.append((toks[i][2], toks[k - 1][3], rep))
                return k
            # TEXT COLUMN vs a no-affinity INTEGER-class expression:
            # TEXT affinity applies to the expression — the compare
            # runs on its rendered text (probed: t > length(t) and
            # -a < t text-compare str(int) against the column)
            if lr == 1 and l_col and not r_col and rcls == _CLS_INT:
                self.edits.append(
                    (toks[j + 1][2], toks[k - 1][3], f"CAST(({rtext}) AS STRING)")
                )
                return k
            if rr == 1 and r_col and not l_col and lcls == _CLS_INT:
                self.edits.append(
                    (toks[i][2], toks[j - 1][3], f"CAST(({ltext}) AS STRING)")
                )
                return k
            return None
        # exactly one pure literal — the other side is a typed column
        # (or int-returning expression); spans in token indices
        if lpure:
            lit_cls, lit_lo, lit_hi = lcls, i, j
            col_cls, col_lo, col_hi = rcls, j + 1, k
        else:
            lit_cls, lit_lo, lit_hi = rcls, j + 1, k
            col_cls, col_lo, col_hi = lcls, i, j
        col_text = self.sql[toks[col_lo][2] : toks[col_hi - 1][3]]
        col_is_col = _is_bare_column(col_lo, col_hi)
        if lit_cls == _CLS_BLOB or col_cls == _CLS_BLOB:
            pass  # blob never affinity-converts: storage-class constant
        elif col_cls in (_CLS_INT, _CLS_REAL) and lit_cls == _CLS_TEXT:
            if not col_is_col:
                # no-affinity numeric EXPRESSION vs text literal: SQLite
                # applies no conversion at all — ALWAYS storage order
                # (probed: length(t) > '5' is 0 even though '5' is
                # numeric text)
                pass
            else:
                lit_tok = toks[lit_hi - 1]
                raw = lit_tok[1][1:-1].replace("''", "'")
                if _SQLITE_NUMERIC_TEXT.match(raw):
                    # NUMERIC affinity converts the text — but NOT by
                    # Spark's implicit cast to the column type, which
                    # NULLs real-formed text against an INTEGER column
                    # ('9e1' → bigint NULL; i NOT IN ('9e1') dropped
                    # every row — r12 machine find). Rewrite to the
                    # converted numeric literal: int-formed-and-fits →
                    # INTEGER, else the exact REAL (incl. inf overflow).
                    s_ = raw.strip()
                    if re.fullmatch(r"[+-]?\d+", s_) and -(2**63) <= int(s_) < 2**63:
                        num = str(int(s_))
                    else:
                        num = _real_literal(float(s_))
                    self.edits.append((toks[lit_lo][2], toks[lit_hi - 1][3], num))
                    return k
        elif col_cls == _CLS_TEXT and lit_cls in (_CLS_INT, _CLS_REAL) and col_is_col:
            # rewrite the literal (sign tokens included) to its TEXT
            # form — INT via str(int), REAL via SQLite's exact %!.15g
            # rendering (r12: the 'canonical-form mismatch risk' that
            # used to skip REAL literals is closed by
            # _sqlite_real_to_text; tx NOT IN (0.0) was the machine
            # find — the member must compare as text '0.0')
            ts = toks[lit_lo:lit_hi]
            sign, idx = 1, 0
            while idx < len(ts) and ts[idx][1] in ("+", "-"):
                if ts[idx][1] == "-":
                    sign = -sign
                idx += 1
            if idx != len(ts) - 1 or ts[idx][0] != "num":
                return None
            text = ts[idx][1]
            if lit_cls == _CLS_INT:
                try:
                    v = int(text, 16) if text.lower().startswith("0x") else int(text)
                except ValueError:
                    return None
                rep_lit = f"'{sign * v}'"
            else:
                t2 = text[:-1] if text[-1] in "dD" else text
                try:
                    fv = float(t2) * sign
                except ValueError:
                    return None
                if math.isinf(fv) or fv != fv:
                    return None  # overflow literals: documented divergence
                if not _x87_longdouble_ok():
                    return None  # non-x87 longdouble: skip the rewrite
                rep_lit = "'" + _sqlite_real_to_text(fv) + "'"
            self.edits.append((ts[0][2], ts[-1][3], rep_lit))
            return k
        elif (
            col_cls == _CLS_TEXT
            and lit_cls in (_CLS_INT, _CLS_REAL)
            and not col_is_col
            and len(rmem if lpure else lmem) > 1
        ):
            # multi-member TEXT-classed chain == a pure ||-concat (r13):
            # a concat result carries NO affinity (unlike a CAST), so
            # SQLite applies no conversion — always the storage-class
            # constant, NULL iff any member is NULL (concat
            # NULL-propagates), which is exactly the guard path below
            pass
        else:
            return None  # TEXT col vs REAL literal etc.: leave alone
        # NULL guard on the impure MEMBERS, not the chain text: SQLite
        # arithmetic is NULL iff some member is NULL (junk text converts
        # to 0), while Spark would NULL the whole chain on junk — so
        # `tx*2 >= 'a'` must guard (tx) IS NULL, never (tx*2) IS NULL
        # (r12). For a bare column the guard degenerates to the old
        # (col) IS NULL form.
        col_mem = rmem if lpure else lmem
        srcs = [
            self.sql[toks[s][2] : toks[e - 1][3]]
            for (s, e, _c, p_) in col_mem
            if not p_
        ]
        const = "TRUE" if val else "FALSE"
        if srcs:
            cond = " OR ".join(f"({t_}) IS NULL" for t_ in srcs)
            rep = f"(CASE WHEN {cond} THEN NULL ELSE {const} END)"
        else:
            rep = const
        self.edits.append((toks[i][2], toks[k - 1][3], rep))
        return k


def rewrite_typed_ops(
    sql: str, int_cols: frozenset = frozenset(), arrows: bool = False
) -> str:
    """Apply the static-typing rewrites (docstring at section head).
    ``int_cols`` optionally carries lowercased INTEGER-affinity column
    names (bare and alias-qualified) so column division types too.
    Unparseable text returns unchanged; runs to a fixpoint so
    parenthesized integer divisions type outer chains on later sweeps.
    The r9 rewrites intentionally spread one expression across passes
    (concat-wrap, then arithmetic rewrite, then interior re-scan of
    embedded members), so the safety cap must exceed the deepest such
    cascade — 10 covers several nesting levels (a ||-chain inside a
    CAST member inside another chain needs 4+); the no-edit early
    return keeps the common case at one pass."""
    for _ in range(10):
        toks = _typed_tokenize(sql)
        if toks is None:
            return sql
        p = _TypedPass(toks, int_cols, sql, arrows=arrows)
        try:
            p.scan(0, len(toks))
        except (ValueError, RecursionError):
            return sql
        if not p.edits:
            return sql
        edits = sorted(p.edits, key=lambda e: e[0], reverse=True)
        # overlapping edits: keep the earliest-starting (outermost) only
        pruned, last_start = [], None
        for s, e, r in edits:
            if last_start is not None and e > last_start:
                continue
            pruned.append((s, e, r))
            last_start = s
        for s, e, r in pruned:
            sql = sql[:s] + r + sql[e:]
    return sql


# --------------------------------------------------------------------------
# CREATE TRIGGER (r7 — closes the documented exclusion).  Row triggers
# only, like SQLite itself (lang_createtrigger.html: FOR EACH ROW is the
# only supported and the default behavior).
# --------------------------------------------------------------------------


@dataclass
class TriggerDef:
    name: str
    timing: str  # BEFORE | AFTER | INSTEAD OF
    event: str  # INSERT | UPDATE | DELETE
    of_cols: tuple  # UPDATE OF columns ((), = any column)
    table: str
    when_sql: str | None
    body: tuple  # statement SQL strings, in order
    source_sql: str
    temp: bool = False
    if_not_exists: bool = False


_TRIGGER_HEAD_RE = re.compile(
    rf"""^\s*CREATE\s+(?P<temp>TEMP(?:ORARY)?\s+)?TRIGGER\s+
        (?P<ine>IF\s+NOT\s+EXISTS\s+)?
        (?P<name>{_IDENT})\s+
        (?P<timing>BEFORE\s+|AFTER\s+|INSTEAD\s+OF\s+)?
        (?P<event>DELETE|INSERT|UPDATE)
        (?:\s+OF\s+(?P<ofcols>.+?))?\s+
        ON\s+(?P<table>{_IDENT})\s+
        (?:FOR\s+EACH\s+ROW\s+)?
    """,
    re.I | re.X | re.S,
)


def parse_create_trigger(sql: str) -> TriggerDef:
    """Parse CREATE TRIGGER into a :class:`TriggerDef`.  Raises
    ValueError with a SQLite-shaped message on malformed text."""
    source_sql = sql.strip().rstrip(";").strip()
    sql = blank_comments(sql)
    m = _TRIGGER_HEAD_RE.match(sql)
    if not m:
        raise ValueError('near "TRIGGER": syntax error')
    rest_at = m.end()
    when_sql = None
    begin_at = find_top_level(sql, "BEGIN", rest_at)
    if begin_at < 0:
        raise ValueError('near "BEGIN": syntax error')
    wm = re.match(r"\s*WHEN\b", sql[rest_at:begin_at], re.I)
    if wm:
        when_sql = sql[rest_at + wm.end() : begin_at].strip()
        if not when_sql:
            raise ValueError('near "BEGIN": syntax error')
    elif sql[rest_at:begin_at].strip():
        raise ValueError('near "BEGIN": syntax error')
    # the body: top-level ';'-separated statements up to the final END
    tail = sql[begin_at + len("BEGIN") :]
    toks = tokens(tail)
    k = len(toks) - (1 if toks and toks[-1][1] == ";" else 0)
    if not k or toks[k - 1][0] != "word" or toks[k - 1][1].upper() != "END":
        raise ValueError('near "END": syntax error')
    stmts = split_top_level(tail[: toks[k - 1][2]], ";")
    if not stmts:
        raise ValueError('near "END": syntax error')
    of_cols = tuple(unquote_ident(c) for c in split_top_level(m.group("ofcols") or ""))
    timing = re.sub(r"\s+", " ", (m.group("timing") or "BEFORE").strip().upper())
    return TriggerDef(
        name=unquote_ident(m.group("name")),
        timing=timing,
        event=m.group("event").upper(),
        of_cols=of_cols,
        table=unquote_ident(m.group("table")),
        when_sql=when_sql,
        body=tuple(stmts),
        source_sql=source_sql,
        temp=bool(m.group("temp")),
        if_not_exists=bool(m.group("ine")),
    )


_RAISE_RE = re.compile(r"\bRAISE\s*\(\s*(ABORT|ROLLBACK|FAIL|IGNORE)\s*(?:,\s*)?", re.I)

RAISE_MARKER = "\x01dust_raise\x01"
RAISE_IGNORE_MARKER = "\x01dust_raise_ignore\x01"


def rewrite_raise(sql: str) -> str:
    """RAISE(ABORT|ROLLBACK|FAIL, 'msg') → raise_error(marker || msg):
    Spark's raise_error throws lazily at evaluation, exactly SQLite's
    RAISE-as-expression semantics; the session converts the marked
    error back into the bare message (sqlite3-probed: the user sees
    just 'msg').  ABORT/ROLLBACK/FAIL all abort the whole statement
    here (copy-on-write statements are all-or-nothing; FAIL's
    keep-partial-changes nuance is not reproducible and documented).
    RAISE(IGNORE) (no message arg) gets its own marker — the session
    converts it into the per-row abandon signal (_TriggerIgnore)
    instead of an error (lang_createtrigger.html RAISE semantics,
    sqlite3-probed in test_triggers.py)."""

    def fix(seg: str) -> str:
        out, i = [], 0
        while True:
            m = _RAISE_RE.search(seg, i)
            if not m:
                out.append(seg[i:])
                return "".join(out)
            out.append(seg[i : m.start()])
            if m.group(1).upper() == "IGNORE":
                # RAISE(IGNORE) takes no message; the source's `)`
                # closes the raise_error call
                out.append(f"raise_error('{RAISE_IGNORE_MARKER}'")
            else:
                out.append(f"raise_error('{RAISE_MARKER}' || ")
            i = m.end()

    return _map_outside_strings(sql, fix)
