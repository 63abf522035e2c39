"""DustSession — the engine: batched execute/query with the reference's
API contract (reference db/src/db.rs), Spark-first.

Semantics reproduced (with file:line provenance):
- ``execute(Request)`` → per-statement ``Response``; empty statements
  skipped (db/src/db.rs:169-175); continue-on-error when
  non-transactional (db/src/db.rs:178-190), break + void batch when
  transactional (db/src/db.rs:184-188,200-206).
- ``query(Request)`` → list of ``Rows`` in the ``{columns,types,values}``
  contract (db/src/db.rs:223-290); DDL/DML through the query path
  executes and yields an empty Rows (mirrors rusqlite prepare/query_map
  behavior exercised at db/src/db.rs:694,737).
- ``last_insert_id`` is connection-level sticky state — an UPDATE
  response reports the id of the *previous* insert
  (db/src/db.rs:192-197; golden expectation at :396-401).
- SQLite-format constraint errors: ``UNIQUE constraint failed: t.c``
  (db/src/db.rs:373,762), ``NOT NULL constraint failed: t.c``,
  ``FOREIGN KEY constraint failed``; FK toggle ≈ PRAGMA foreign_keys
  (db/src/db.rs:7-9,120-140).
- Positional ``?`` binding, Integer/Real/Text (db/src/db.rs:312-321) —
  write statements inline-bind (single-writer, so no injection surface
  beyond what the reference has: it executes arbitrary SQL by design);
  read statements use Spark's native parameterized ``spark.sql``.

Spark-first mechanics: all expression evaluation — INSERT VALUES
literals, UPDATE SET expressions, WHERE predicates — happens inside
Catalyst via ``spark.sql`` rewrites; this module never interprets a
scalar expression itself (SURVEY.md §7.2). Writes are copy-on-write
DataFrame transforms published through the versioned catalog
(dust_spark.catalog).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from contextlib import contextmanager
from functools import reduce
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dust_spark import dialect
from dust_spark.catalog import Catalog, Overlay, TableState
from dust_spark.dialect import TableDef, statement_kind
from dust_spark.model import Request, Response, Rows, Statement, rows_from_dataframe


class DustError(Exception):
    """Engine error; message format mirrors SQLite where the reference
    asserts on exact text. ``row``: the failing row's place in the
    statement's row order, when a constraint pass reports it."""

    def __init__(self, msg: str = "", row: int | None = None):
        super().__init__(msg)
        self.row = row


class _TriggerIgnore(Exception):
    """RAISE(IGNORE) evaluated inside a trigger program — a control
    signal, not an error: the firing loop abandons the current row's
    remaining trigger programs (and, for BEFORE timing, the row change
    itself). Never escapes _fire_triggers."""


_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?P<rep>OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    rf"(?P<name>{dialect._IDENT})\s*(?:\((?P<cols>[^)]*)\))?\s+AS\s+(?P<sel>.*)$",
    re.S | re.I,
)


def bind_params(sql: str, params: list[Any]) -> str:
    """Inline positional ``?`` parameters as SQL literals (write path).

    Only Integer/Real/Text/None/bytes exist in the parameter domain
    (reference command/src/lib.rs:25-30 + our Null/Blob extension), so
    literal encoding is complete and unambiguous.
    """
    if not params:
        return sql
    sql, params = dialect.normalize_numbered_params(sql, params)
    it = iter(params)

    def bind(_m) -> str:
        try:
            return _sql_literal(next(it))
        except StopIteration:
            raise DustError("not enough parameters for statement") from None

    return dialect._map_outside_strings(sql, lambda seg: re.sub(r"\?", bind, seg))


def _sqlite_truthy(v: Any) -> bool:
    """SQLite truthiness of a Python-side value (trigger WHEN clause):
    numeric-prefix conversion, non-zero is true."""
    if v is None:
        return False
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return v != 0
    if isinstance(v, (bytes, bytearray)):
        return False
    from dust_spark.dialect import _sqlite_text_to_real

    return _sqlite_text_to_real(str(v)) != 0


def _sql_literal(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


class DustSession:
    """One engine session = one warehouse (disk mode) or a temp-view
    namespace (memory mode) — reference DB lifecycle A10
    (db/src/db.rs:77-117)."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        warehouse: str | None = None,
        deterministic_guard: bool = False,
        mixed_unions: bool = True,
    ):
        # mixed_unions (r12; DEFAULT-ON since r13 behind a row-count
        # gate): route top-level compound SELECTs over TABLE columns
        # whose arm types differ through the SQLite per-row combination
        # machinery (dialect.combine_compound_rows) instead of Spark's
        # unified-type set ops — closes the one remaining
        # row-count-level documented divergence (COVERAGE.md B9).
        # Cost profile measured for default-on: type-HOMOGENEOUS arms
        # (the overwhelmingly common case) bail on a schema-signature
        # check — per-arm ANALYSIS only, zero Spark jobs; heterogeneous
        # arms collect driver-side bounded by _SEQ_EXACT_ROWS per arm
        # (limit-pushed, so an oversized arm short-circuits its scan
        # and the whole compound falls back to the Spark-native path —
        # the scale trap is structurally impossible).
        self.mixed_unions = mixed_unions
        if warehouse:
            warehouse = self._resolve_dsn(warehouse)
        self.spark = spark or _default_session()
        # SQLite's lax dynamic typing: ANSI strictness off (SURVEY §4.2)
        self.spark.conf.set("spark.sql.ansi.enabled", "false")
        for ddl in dialect.SQLITE_FN_DDL:  # zero-cost expression macros
            try:
                self.spark.sql(ddl)
            except Exception:
                pass  # older Spark without SQL UDFs: functions unavailable
        from dust_spark import json1

        try:
            json1.register(self.spark)  # json_set/insert/replace/remove + json_each
        except Exception:
            pass  # older Spark without UDTF support
        # runtime REAL→TEXT rendering (%!.15g) for the text-conversion
        # contexts — x87-gated, see dialect.register_real_text_udf
        dialect.register_real_text_udf(self.spark)
        self.catalog = Catalog(self.spark, warehouse)
        self.deterministic_guard = deterministic_guard
        self._fk_enabled = False
        self._user_version = 0
        # connection-state pragmas (r10): knobs SQLite tracks per
        # connection with no behavioral meaning for this engine —
        # stored and echoed faithfully (defaults sqlite3-probed on the
        # python wrapper this repo differentials against)
        self._pragma_state: dict[str, Any] = {
            "cache_size": -2000,
            "busy_timeout": 5000,
            "synchronous": 2,
            "temp_store": 0,
            "locking_mode": "normal",
            "secure_delete": 1,
            "application_id": 0,
        }
        self._schema_version = 0
        # triggers currently firing (lowered names) — SQLite with its
        # default recursive_triggers=0 suppresses only RE-ENTRY of a
        # trigger already on the firing stack (direct or indirect
        # recursion); nested firing of OTHER triggers chains normally
        # (sqlite3-probed: t1-on-a inserting into b fires t2-on-b).
        # PRAGMA recursive_triggers=ON lifts the re-entry suppression;
        # the stack depth then caps recursion with SQLite's error
        self._trigger_stack: list[str] = []
        # SQLITE_MAX_TRIGGER_DEPTH default (r8; was 100 in r7 —
        # documented divergence now closed). Python recursion headroom
        # is raised on demand in _fire_triggers as the stack deepens.
        self._max_trigger_depth = 1000
        # INSERT...SELECT sources at or below this row count get the
        # exact sequential rowid/upsert semantics of a VALUES batch
        # (r10); larger sources keep the parallel monotone auto-id
        # approximation — same philosophy as the 100k-edge union-find
        # gate in graph.py
        self._SEQ_EXACT_ROWS = 10_000
        # (expression, schema) -> its "x" resolution (_dq_resolve)
        self._dq_memo: dict = {}
        self._recursive_triggers = False
        self._attached: dict[str, Catalog] = {}
        self._last_insert_id = 0
        # changes()/total_changes() connection state (most recent DML /
        # cumulative since open, like SQLite's C-level counters)
        self._changes = 0
        self._total_changes = 0
        # RETURNING support: query() arms capture before applying DML,
        # handlers leave the affected-row DataFrame here
        self._capture_returning = False
        self._returning_df: DataFrame | None = None
        self._rowid_tdef: TableDef | None = None  # set by _sql per query
        self._rowid_multi = False  # multi-table rowid resolution ran
        # explicit BEGIN/COMMIT transaction: the open overlay + the
        # statements to journal at COMMIT (connection state)
        self._explicit_tx: Overlay | None = None
        self._tx_pending: list[Statement] = []
        # savepoint stack (lang_savepoint.html): name (lowered — matching
        # is case-insensitive, sqlite3-probed), overlay snapshot, journal
        # checkpoint, and whether this savepoint opened the transaction
        self._sp_stack: list[dict] = []
        self._returning_table: str | None = None
        self._journal = os.path.join(warehouse, "journal.jsonl") if warehouse else None
        # continue the statement seq from max(manifest, journal tail) so a
        # crash between journal-append and publish can't reuse a seq
        self._journal_seq = self.catalog.journal_seq
        if self._journal and os.path.exists(self._journal):
            with open(self._journal) as f:
                for i, line in enumerate(l for l in f if l.strip()):
                    doc = json.loads(line)
                    self._journal_seq = max(self._journal_seq, doc.get("seq", i + 1))

    # -- DSN / open-mode parity (reference db/src/db.rs:76-117,304-309) --

    @staticmethod
    def format_dsn(path: str, dsn: str = "") -> str:
        """``file:{path}?{dsn}`` when dsn options are present, else the
        bare path (db/src/db.rs:304-309)."""
        return f"file:{path}?{dsn}" if dsn else path

    @staticmethod
    def _resolve_dsn(warehouse: str) -> str | None:
        """Accept ``file:path?opt=v&...`` DSN strings (SQLite URI
        filenames) for the warehouse: ``mode=memory`` or ``:memory:``
        selects memory mode; a path whose parent directory is missing
        fails like the reference ("unable to open database file: ...",
        db/src/db.rs:343-346 — SQLite creates the file, not its dirs)."""
        from urllib.parse import parse_qs

        path, opts = warehouse, {}
        if warehouse.startswith("file:"):
            rest = warehouse[5:]
            path, _, query = rest.partition("?")
            opts = {k: v[-1] for k, v in parse_qs(query).items()}
        if path == ":memory:" or opts.get("mode") == "memory":
            return None  # in-memory session
        parent = os.path.dirname(os.path.abspath(path))
        if not os.path.isdir(parent):
            raise DustError(f"unable to open database file: {path}")
        return path

    @classmethod
    def open(cls, path: str, spark: SparkSession | None = None) -> "DustSession":
        """File-backed session, created if absent (db/src/db.rs:77-79)."""
        return cls(spark, warehouse=path)

    @classmethod
    def open_with_dsn(cls, path: str, dsn: str, spark: SparkSession | None = None) -> "DustSession":
        """File-backed session with DSN options (db/src/db.rs:81-84)."""
        return cls(spark, warehouse=cls.format_dsn(path, dsn))

    @classmethod
    def open_in_memory(cls, spark: SparkSession | None = None) -> "DustSession":
        """In-memory session (db/src/db.rs:86-89)."""
        return cls(spark)

    @classmethod
    def open_in_memory_with_dsn(cls, dsn: str, spark: SparkSession | None = None) -> "DustSession":
        """In-memory session with DSN options (db/src/db.rs:91-94)."""
        return cls(spark, warehouse=cls.format_dsn(":memory:", dsn))

    # ------------------------------------------------------------------
    # public API (reference store/src/lib.rs Database trait)
    # ------------------------------------------------------------------

    def execute(self, req: Request) -> list[Response]:
        """Write batch (reference db/src/db.rs:154-209). Explicit
        BEGIN/COMMIT(END)/ROLLBACK statements open a CONNECTION-level
        transaction spanning statements and requests (legal SQLite via
        the reference pass-through): writes stage in one overlay and
        journal only at COMMIT, so an abandoned transaction replays as
        nothing. SQLite's probed error strings for misuse; explicit tx
        statements inside a request-level transaction are rejected
        loudly (the request wrapper IS a transaction)."""
        overlay = self._explicit_tx or Overlay(self.catalog)
        responses: list[Response] = []
        rollback = False
        for stmt in req.statements:
            if stmt.sql == "":  # skipped, no Response (db/src/db.rs:170-172)
                continue
            code = dialect.blank_comments(stmt.sql)
            kind = statement_kind(code)
            sp = (
                dialect.parse_savepoint_stmt(code)
                if kind in ("SAVEPOINT", "RELEASE", "ROLLBACK")
                else None
            )
            if sp is not None:
                try:
                    responses.append(self._savepoint_stmt(sp[0], sp[1], req, overlay))
                except DustError as e:
                    responses.append(Response(error=str(e)))
                    if req.transaction:
                        rollback = True
                        break
                continue
            if kind in ("BEGIN", "COMMIT", "END", "ROLLBACK"):
                try:
                    responses.append(self._explicit_tx_stmt(kind, req, overlay))
                    if self._explicit_tx is None and kind == "BEGIN":
                        self._explicit_tx = overlay
                except DustError as e:
                    responses.append(Response(error=str(e)))
                    if req.transaction:
                        rollback = True
                        break
                continue
            # statement-journal semantics: a statement failing AFTER
            # staging multi-table side effects (FK CASCADE/SET NULL puts
            # child states before a later constraint check raises) must
            # undo exactly its own work inside an open explicit tx
            tx_snap = overlay.snapshot() if self._explicit_tx is not None else None
            try:
                r = self._apply(overlay, stmt)
                if kind in ("INSERT", "REPLACE", "UPDATE", "DELETE"):
                    self._changes = r.rows_affected
                    self._total_changes += r.rows_affected
                responses.append(r)
                if self._explicit_tx is not None:
                    self._tx_pending.append(stmt)  # journal at COMMIT
                elif not req.transaction:
                    # write-ahead: journal first, then publish — a crash
                    # in between replays the statement onto the manifest
                    self._log_journal(stmt, False)
                    overlay.commit()
            except DustError as e:
                responses.append(Response(error=str(e)))
                if req.transaction:
                    if tx_snap is not None:
                        # request-tx over an open explicit tx: undo this
                        # statement's partial work; the explicit tx stays
                        overlay.restore_snapshot(tx_snap)
                    rollback = True
                    break  # tx: no further statements (db/src/db.rs:184-188)
                if self._explicit_tx is None:
                    overlay.rollback()
                elif re.match(
                    r"\s*(?:INSERT|UPDATE|DELETE|REPLACE)\s+OR\s+ROLLBACK\b",
                    # CTE-prefixed DML ('WITH ... INSERT OR ROLLBACK')
                    # carries the conflict clause on the inner statement
                    (dialect.split_with_prefix(stmt.sql) or (None, stmt.sql))[1],
                    re.I,
                ):
                    # OR ROLLBACK: the failed statement rolls back and
                    # CLOSES the open transaction (sqlite3-probed)
                    overlay.rollback()
                    self._explicit_tx = None
                    self._tx_pending = []
                    self._sp_stack = []
                    overlay = Overlay(self.catalog)
                else:
                    # inside an explicit tx a failed statement leaves
                    # prior staged work intact (SQLite: the statement
                    # aborts, the transaction stays open) — but its OWN
                    # partial side effects roll back to the checkpoint
                    if tx_snap is not None:
                        overlay.restore_snapshot(tx_snap)
        if req.transaction and self._explicit_tx is None:
            if rollback:
                overlay.rollback()
            else:
                for stmt in req.statements:
                    if stmt.sql:
                        self._log_journal(stmt, True)
                overlay.commit()
        if self._explicit_tx is None:
            # savepoints cannot outlive their transaction: the implicit
            # request-tx COMMIT (or autocommit) releases them all
            self._sp_stack = []
        return responses

    def _explicit_tx_stmt(self, kind: str, req: Request, overlay: Overlay) -> Response:
        if req.transaction:
            if kind == "BEGIN":
                raise DustError("cannot start a transaction within a transaction")
            raise DustError(
                f"cannot {'commit' if kind in ('COMMIT', 'END') else 'rollback'} - "
                "no transaction is active"
            )
        if kind == "BEGIN":
            if self._explicit_tx is not None:
                raise DustError("cannot start a transaction within a transaction")
            self._tx_pending = []
            return self._ok()  # caller records the overlay as the open tx
        if self._explicit_tx is None:
            raise DustError(
                f"cannot {'commit' if kind in ('COMMIT', 'END') else 'rollback'} - "
                "no transaction is active"
            )
        if kind in ("COMMIT", "END"):
            for p in self._tx_pending:
                self._log_journal(p, True)
            overlay.commit()
        else:
            overlay.rollback()
        self._explicit_tx = None
        self._tx_pending = []
        self._sp_stack = []  # COMMIT/ROLLBACK releases every savepoint
        return self._ok()

    def _savepoint_stmt(self, op: str, name: str, req: Request, overlay: Overlay) -> Response:
        """SAVEPOINT / RELEASE / ROLLBACK TO (lang_savepoint.html,
        sqlite3-probed): SAVEPOINT in autocommit opens a transaction the
        way BEGIN does; RELEASE pops through the most recent matching
        name (case-insensitive) and commits when that savepoint opened
        the transaction; ROLLBACK TO restores the savepoint's overlay
        snapshot and journal checkpoint but keeps the savepoint (and the
        transaction) alive for repeated rollbacks."""
        lname = name.lower()
        if op == "SAVEPOINT":
            starter = self._explicit_tx is None and not req.transaction
            if starter:
                self._tx_pending = []
            self._sp_stack.append(
                {
                    "name": lname,
                    "snap": overlay.snapshot(),
                    "pend": len(self._tx_pending),
                    "starter": starter,
                }
            )
            if starter:
                self._explicit_tx = overlay
            return self._ok()
        idx = next(
            (i for i in range(len(self._sp_stack) - 1, -1, -1) if self._sp_stack[i]["name"] == lname),
            None,
        )
        if idx is None:
            raise DustError(f"no such savepoint: {name}")
        entry = self._sp_stack[idx]
        if op == "ROLLBACK_TO":
            overlay.restore_snapshot(entry["snap"])
            self._tx_pending = self._tx_pending[: entry["pend"]]
            del self._sp_stack[idx + 1 :]
            return self._ok()
        # RELEASE: merge into parent — pop this savepoint and everything
        # above it; releasing the transaction-opening savepoint commits
        starter = entry["starter"]
        del self._sp_stack[idx:]
        if starter and self._explicit_tx is not None:
            for p in self._tx_pending:
                self._log_journal(p, True)
            overlay.commit()
            self._explicit_tx = None
            self._tx_pending = []
        return self._ok()

    def query(self, req: Request) -> list[Rows]:
        """Read batch (reference db/src/db.rs:223-290)."""
        results: list[Rows] = []
        for stmt in req.statements:
            if stmt.sql == "":
                continue
            code = dialect.blank_comments(stmt.sql)
            kind = statement_kind(code)
            if kind == "PRAGMA":
                results.append(self._pragma_query(code))
            elif kind in dialect.WRITE_KINDS or kind in ("CREATE_TABLE", "CREATE_INDEX", "CREATE_VIEW", "ATTACH", "DETACH"):
                # rusqlite happily runs DDL/DML through prepare/query_map
                # (exercised at db/src/db.rs:694,737) → empty result set,
                # unless a RETURNING clause projects the affected rows
                returning = None
                core = stmt.sql
                if kind in ("INSERT", "REPLACE", "UPDATE", "DELETE"):
                    # bind positional parameters across the WHOLE
                    # statement first — the projection may hold some
                    bound = bind_params(stmt.sql, list(stmt.parameters or []))
                    core, returning = dialect.strip_returning(bound)
                    stmt_core = Statement(core, [])
                else:
                    stmt_core = Statement(core, list(stmt.parameters or []))
                overlay = Overlay(self.catalog)
                err = None
                self._capture_returning = returning is not None
                self._returning_df = None
                try:
                    self._apply(overlay, stmt_core)
                    self._log_journal(stmt_core, False)
                    overlay.commit()
                except DustError as e:
                    overlay.rollback()
                    err = e
                finally:
                    self._capture_returning = False
                if err is not None:
                    raise err
                if returning is not None and self._returning_df is not None:
                    rdf = self._returning_df
                    rdf.createOrReplaceTempView("__dust_ret")
                    # alias as the target table so qualified refs
                    # (RETURNING t.col) resolve like SQLite's
                    alias = f" AS `{self._returning_table}`" if self._returning_table else ""
                    sel = dialect.rewrite_sqlite_fns(
                        f"SELECT {returning} FROM __dust_ret{alias}"
                    )
                    # RETURNING rowid is legal SQLite; __dust_ret carries
                    # the hidden rowid column for implicit tables, and
                    # resolve_rowid expands a bare * so it never leaks
                    rst = self.catalog.tables.get(self._returning_table or "")
                    if rst is not None:
                        sel = dialect.resolve_rowid(sel, rst.tdef)
                    out = self.spark.sql(sel)
                    results.append(rows_from_dataframe(out))
                    self._returning_df = None
                else:
                    results.append(Rows())
            else:
                # all-literal compound SELECTs evaluate statically with
                # SQLite's per-row dynamic typing (r11 — the one shape
                # where Spark's static column types change the ROW
                # COUNT: SELECT 1 UNION SELECT '1' is two rows)
                bound = dialect.blank_comments(
                    bind_params(stmt.sql, list(stmt.parameters))
                    if stmt.parameters
                    else stmt.sql
                )
                try:
                    # normalize static LIMIT/OFFSET expressions first so
                    # the static evaluator's int-only tail parser (and
                    # its error semantics) see SQLite's converted value
                    bound = dialect.rewrite_limit_offset(bound)
                    sc = dialect.try_static_compound(bound)
                except ValueError as e:
                    raise DustError(str(e)) from e
                if sc is not None:
                    results.append(self._rows_from_python(*sc))
                    continue
                if self.mixed_unions:
                    try:
                        mc = self._mixed_compound(bound)
                    except ValueError as e:
                        raise DustError(str(e)) from e
                    if mc is not None:
                        results.append(self._rows_from_python(*mc))
                        continue
                df = self._sql(stmt.sql, stmt.parameters)
                renamed = self._sqlite_column_names(stmt.sql, df)
                results.append(rows_from_dataframe(renamed if renamed is not None else df))
        return results

    def _mixed_compound(self, sql: str):
        """Flag-gated (``mixed_unions``, r12 — the COVERAGE.md B9
        mixed-type UNION item): SQLite per-row dynamic typing for
        compound SELECTs over TABLE columns. When the arms' Spark
        column types DISAGREE, each arm evaluates separately and the
        results combine driver-side with the SAME probed machinery the
        static-literal evaluator uses (dialect.combine_compound_rows,
        generalized to multi-row arms) — per-row storage classes
        survive, TEXT∪BLOB arms work, dedup keys are (class, value).
        Returns (names, rows) or None to fall back to the Spark path
        (same-type arms — where Spark's native set ops are already
        exact — non-SELECT arms, unmodeled tails). Representative
        choice on duplicate keys follows each arm's collected row
        order: the rowid scan order for the simple single-table arms
        this targets; plan-dependent arm orders (joins, aggregates)
        are approximate there — documented. Cost: one Spark job per
        arm plus a driver-side merge, bounded by the OLTP
        write-surface contract."""
        got = dialect._split_compound(sql)
        if got is None:
            return None
        arms, tail = got
        if any(not re.match(r"\s*SELECT\b", a, re.I) for _, a in arms):
            return None
        dfs = [self._sql(a, None) for _, a in arms]
        ncols = len(dfs[0].schema.fields)
        for (op, _), df in zip(arms[1:], dfs[1:]):
            if len(df.schema.fields) != ncols:
                raise DustError(
                    f"SELECTs to the left and right of {op} do not have "
                    "the same number of result columns"
                )
        sigs = [
            tuple(f.dataType.simpleString() for f in df.schema.fields) for df in dfs
        ]
        if all(s == sigs[0] for s in sigs):
            return None  # type-homogeneous: the Spark set ops are exact
        named = self._sqlite_column_names(arms[0][1], dfs[0])
        names = [f.name for f in (named if named is not None else dfs[0]).schema.fields]
        got_tail = dialect.parse_compound_tail(tail, names, ncols)
        if got_tail is None:
            return None
        order_terms, limit, offset = got_tail
        import decimal as _dec

        def _cell(v):
            # keep RAW storage classes for the (class, value) dedup and
            # ordering keys — the wire conversion (blob→hex text,
            # _json_value) happens downstream in _rows_from_python
            if isinstance(v, bool):
                return int(v)
            if isinstance(v, bytearray):
                return bytes(v)
            if isinstance(v, _dec.Decimal):
                return float(v)
            return v

        # r13 size gate (mixed_unions is default-on now): bound the
        # driver-side collect per arm; an arm past _SEQ_EXACT_ROWS rows
        # falls back to the Spark-native path (limit pushdown keeps the
        # probe cheap — the oversized scan short-circuits)
        cap = self._SEQ_EXACT_ROWS
        arm_rows = []
        for df in dfs:
            rws = df.limit(cap + 1).collect()
            if len(rws) > cap:
                return None
            arm_rows.append([[_cell(v) for v in row] for row in rws])
        ops_seq = [op for op, _ in arms[1:]]
        rows = dialect.combine_compound_rows(arm_rows, ops_seq, order_terms, ncols)
        if offset > 0:
            rows = rows[offset:]
        if limit is not None and limit >= 0:
            rows = rows[:limit]
        return (names, rows)

    @staticmethod
    def _rows_from_python(names: list[str], vrows: list[list]) -> Rows:
        """Rows from raw Python cells (the static-compound path): wire
        types from each column's first non-NULL storage class, like the
        reference's first-row sniffing (db/src/db.rs:245-257) extended
        past an all-NULL first row."""
        from dust_spark.model import DataType, _json_value

        if not vrows:
            return Rows()
        types = []
        for ci in range(len(names)):
            t = DataType.NULL
            for r in vrows:
                v = r[ci]
                if v is None:
                    continue
                if isinstance(v, bool) or isinstance(v, int):
                    t = DataType.INTEGER
                elif isinstance(v, float):
                    t = DataType.REAL
                elif isinstance(v, str):
                    t = DataType.TEXT
                else:
                    t = DataType.BLOB
                break
            types.append(t)
        return Rows(
            columns=list(names),
            types=types,
            values=[[_json_value(v) for v in r] for r in vrows],
        )

    def execute_string_stmt(self, sql: str, parameters: list[Any] | None = None) -> list[Response]:
        return self.execute(Request.single(sql, parameters))

    def query_string_stmt(self, sql: str, parameters: list[Any] | None = None) -> list[Rows]:
        return self.query(Request.single(sql, parameters))

    # FK toggle (reference db/src/db.rs:120-140)
    def enable_fk_constraints(self, enabled: bool) -> None:
        self._fk_enabled = enabled

    def fk_constraints(self) -> bool:
        return self._fk_enabled

    def close(self) -> None:
        for name in list(self.catalog.tables):
            self.spark.catalog.dropTempView(name)
        self.catalog.tables.clear()
        for alias in list(self._attached):
            self._detach_alias(alias)

    def compact_journal(self) -> None:
        """Log compaction (reference DOC/DESIGN.md:54-55: periodic
        snapshot + raft-log truncation): the parquet versions + manifest
        ARE the snapshot, so compaction just truncates the statement
        journal — recovery = load manifest, then replay the journal
        tail."""
        if self._journal and os.path.exists(self._journal):
            open(self._journal, "w").close()

    @staticmethod
    def replay(journal_path: str, spark: SparkSession | None = None, warehouse: str | None = None) -> "DustSession":
        """Rebuild engine state by re-executing the statement journal in
        order — the deterministic-replay guarantee the reference gets
        from its Raft log of SQL statements (DOC/DESIGN.md:47-49,
        README.md:30). Only works because journaled statements passed
        the determinism discipline when first executed."""
        sess = DustSession(spark, warehouse=warehouse)
        snapshot_seq = sess.catalog.journal_seq  # 0 for a fresh warehouse
        sess._journal_seq = snapshot_seq  # re-journal the tail from here
        # snapshot the lines up front: replaying appends to this same
        # file when warehouse == the journal's own warehouse
        with open(journal_path) as f:
            lines = [ln for ln in f if ln.strip()]
        for i, line in enumerate(lines):
            doc = json.loads(line)
            kind = statement_kind(dialect.blank_comments(doc["sql"]))
            pre_snapshot = doc.get("seq", i + 1) <= snapshot_seq
            if pre_snapshot and kind not in ("ATTACH", "DETACH"):
                continue  # data already in the manifest snapshot
            if pre_snapshot:
                # ATTACH/DETACH re-execute (alias state lives only in
                # the session) but must NOT re-journal — the journal
                # would otherwise grow a duplicate per recovery
                jp, sess._journal = sess._journal, None
                try:
                    sess.execute_string_stmt(doc["sql"], doc.get("parameters") or [])
                finally:
                    sess._journal = jp
            else:
                sess.execute_string_stmt(doc["sql"], doc.get("parameters") or [])
        return sess

    # ------------------------------------------------------------------
    # statement application
    # ------------------------------------------------------------------

    def _apply(self, overlay: Overlay, stmt: Statement) -> Response:
        raw = bind_params(stmt.sql, list(stmt.parameters or []))
        sql = dialect.rewrite_attached_names(
            dialect.rewrite_sqlite_fns(dialect.escape_raw_literals(raw)),
            self._attached_prefixes(),
        )
        # every statement parser reads ``code``, where comments are
        # spaces; CREATE TABLE / VIEW / TRIGGER also get the text as
        # written (sqlite_master.sql, CHECK labels, view column names)
        code = dialect.blank_comments(sql)
        kind = statement_kind(code)
        if kind in ("INSERT", "REPLACE", "UPDATE", "DELETE") and not self._capture_returning:
            _core, _ret = dialect.strip_returning(code)
            if _ret:
                # rusqlite: execute() refuses row-returning statements
                raise DustError("Execute returned results - did you mean to call query?")
        if kind == "ATTACH":
            return self._attach(code)
        if kind == "DETACH":
            return self._detach(code)
        if self.deterministic_guard and kind in ("INSERT", "UPDATE", "DELETE", "REPLACE"):
            reason = dialect.nondeterministic_reason(code)
            if reason:
                raise DustError(reason)
        # legal SQLite surface the engine deliberately excludes — reject
        # loudly instead of letting the statements fall through generic
        # paths with misleading errors (exclusion documented in
        # COVERAGE.md; reachable via the reference pass-through
        # db/src/db.rs:176 but unused by any reference test or tool)
        if kind == "CREATE_TRIGGER":
            # triggers store their RAW body/WHEN text: fragments are
            # rewritten exactly once at FIRE time (storing the rewritten
            # text double-rewrites — quote()'s expansion contains
            # typeof(), which a second pass re-maps to storage classes)
            return self._create_trigger(overlay, raw)
        if kind in ("SAVEPOINT", "RELEASE"):
            # well-formed savepoint statements are handled in execute();
            # reaching here means the name didn't parse
            raise DustError(f'near "{kind}": syntax error')
        try:
            if kind in ("CREATE_TABLE", "CREATE_INDEX", "CREATE_VIEW", "DROP", "ALTER"):
                # schema cookie bumps on every DDL statement (SQLite's
                # schema_version behavior; bump only on success)
                if kind == "CREATE_TABLE":
                    r = self._create_table(overlay, code, sql)
                elif kind == "CREATE_INDEX":
                    r = self._ok()  # accepted & ignored (SURVEY §2 B10)
                elif kind == "CREATE_VIEW":
                    r = self._create_view(code, sql)
                elif kind == "DROP":
                    r = self._drop_table(overlay, code)
                else:
                    r = self._alter_table(overlay, code)
                self._schema_version += 1
                return r
            if kind == "PRAGMA":
                return self._pragma_exec(code)
            if kind in ("VACUUM", "ANALYZE", "REINDEX"):
                if kind == "VACUUM" and self._explicit_tx is not None:
                    raise DustError("cannot VACUUM from within a transaction")
                return self._ok()  # maintenance statements: accepted no-ops
            if kind in ("INSERT", "REPLACE"):
                return self._insert(overlay, code)
            if kind in ("UPDATE", "DELETE"):
                # an UPDATE / DELETE reads every "x" as an identifier, as the
                # read path does; a retry with the token as 'x' re-runs it
                # from the statement's snapshot
                run = self._update if kind == "UPDATE" else self._delete
                snap = overlay.snapshot()
                return _dquote_retry(code, lambda c: run(overlay, c), lambda: overlay.restore_snapshot(snap))
            # SELECT & co through the execute path: SQLite's conn.execute
            # rejects row-returning statements
            raise DustError("Execute returned results - did you mean to call query?")
        except DustError:
            raise
        except Exception as e:  # AnalysisException etc. → message contract
            raise DustError(_clean_error(e)) from e

    def _ok(self, rows_affected: int = 0) -> Response:
        return Response(last_insert_id=self._last_insert_id, rows_affected=rows_affected)

    # -- DDL ------------------------------------------------------------

    def _create_table(self, overlay: Overlay, code: str, sql: str) -> Response:
        ctas = dialect.parse_ctas(code)
        if ctas is not None:
            return self._create_table_as(overlay, *ctas)
        try:
            tdef = dialect.parse_create_table(sql)
        except ValueError as e:
            raise DustError(str(e)) from e
        self._validate_fk_actions(tdef.foreign_keys)
        overlay = self._route(overlay, tdef.name)
        if tdef.name in self.catalog.views:
            if tdef.if_not_exists:
                return self._ok()
            raise DustError(f"view {tdef.name} already exists")
        if overlay.exists(tdef.name):
            if tdef.if_not_exists:
                return self._ok()
            raise DustError(f"table {tdef.name} already exists")
        df = self.spark.createDataFrame([], tdef.schema)
        st = overlay.catalog.materialize(tdef.name, TableState(tdef=tdef, df=df, version=0))
        overlay.put(tdef.name, st)
        return self._ok()

    def _dq_resolve(self, tdef: TableDef, expr: str) -> str:
        """A CHECK or generated-column expression of ``tdef`` with each
        "x" read as SQLite reads it: an identifier where it names a column
        of the table, else the string 'x' (``_dquote_retry`` over analysis
        of the table's empty frame). Decided once per text and schema;
        ``tdef`` keeps the text as written, for CHECK labels, sqlite_master
        and RENAME COLUMN."""
        if '"' not in expr:
            return expr
        key = (expr, tdef.schema.simpleString())
        if key not in self._dq_memo:
            df = self.spark.createDataFrame([], tdef.schema)

            def attempt(code: str) -> str:
                df.select(F.expr(self._dml_condition(dialect.rewrite_sqlite_fns(code), tdef)))
                return code

            try:
                self._dq_memo[key] = _dquote_retry(expr, attempt)
            except Exception:  # noqa: BLE001 — the statement reports it
                self._dq_memo[key] = expr
        return self._dq_memo[key]

    def _create_table_as(self, overlay: Overlay, name: str, if_not_exists: bool, sel: str) -> Response:
        """CREATE TABLE ... AS SELECT (implied SQLite surface): schema
        inferred from the SELECT, data snapshotted at creation; like
        SQLite the result has no declared constraints."""
        overlay = self._route(overlay, name)
        if overlay.exists(name):
            if if_not_exists:
                return self._ok()
            raise DustError(f"table {name} already exists")
        sel2, restore = self._resolve_read_rowid(dialect.rewrite_sqlite_fns(sel), overlay)
        try:
            df = self.spark.sql(sel2)
        finally:
            if restore is not None:
                restore()
        declared = {f.name: f.dataType.simpleString().upper() for f in df.schema.fields}
        # CTAS results are rowid tables in SQLite: assign a hidden
        # sequential rowid (select order, partition-offset indexed — no
        # single-task funnel for large results)
        df, n = self._with_insertion_index(df)
        df = df.withColumn(dialect.HIDDEN_ROWID, F.col("__rn").cast("long")).drop("__rn")
        tdef = TableDef(
            name=name,
            schema=df.schema,
            declared_types=declared,
            rowid_column=dialect.HIDDEN_ROWID,
        )
        st = overlay.catalog.materialize(
            name, TableState(tdef=tdef, df=df, high_water=n, version=0)
        )
        overlay.put(name, st)
        return self._ok()

    def _create_view(self, code: str, sql: str) -> Response:
        """CREATE [TEMP] VIEW [IF NOT EXISTS] name [(cols)] AS select —
        duplicate names error like SQLite ('view v already exists' /
        'table t already exists'); an explicit column list renames the
        select's output positionally. ``code`` is ``sql`` with its
        comments blanked; the select keeps them."""
        m = _CREATE_VIEW_RE.match(code)
        if not m:
            raise DustError(f'near "{sql.strip()[:40]}": syntax error')
        name = dialect.unquote_ident(m.group("name")).lower()
        if name in self.catalog.views and not m.group("rep"):
            if m.group("ine"):
                return self._ok()
            raise DustError(f"view {name} already exists")
        if name in self.catalog.tables:
            raise DustError(f"table {name} already exists")
        sel = sql[m.start("sel") :].strip().rstrip(";")
        if m.group("cols"):
            # positional rename: wrap with an aliasing projection
            inner = sel
            names = [dialect.unquote_ident(c.strip()) for c in m.group("cols").split(",")]
            probe = self.spark.sql(inner)
            if len(probe.columns) != len(names):
                raise DustError(
                    f"expected {len(probe.columns)} columns for {name} but got {len(names)}"
                )
            alias_list = ", ".join(
                f"`{src}` AS `{dst}`" for src, dst in zip(probe.columns, names)
            )
            sel = f"SELECT {alias_list} FROM ({inner})"
        self.spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sel}")
        self.catalog.views[name] = sel
        if self.catalog.warehouse:
            self.catalog._save_manifest()
        return self._ok()

    def _validate_fk_actions(self, fks) -> None:
        # the full SQLite action matrix is implemented (r7): NO ACTION /
        # RESTRICT / CASCADE / SET NULL / SET DEFAULT on both ON DELETE
        # and ON UPDATE (lang_foreignkeys.html; semantics sqlite3-probed
        # in test_fk_on_update_actions_sqlite_differential)
        allowed = ("NO ACTION", "RESTRICT", "CASCADE", "SET NULL", "SET DEFAULT")
        for fk in fks:
            if fk.on_update not in allowed:
                raise DustError(f"unsupported: ON UPDATE {fk.on_update}")
            if fk.on_delete not in allowed:
                raise DustError(f"unsupported: ON DELETE {fk.on_delete}")

    def _fk_children(self, overlay: Overlay, parent: str):
        """Yield ``(child, child state, fk)`` for every foreign key, in
        any attached catalog, that references ``parent``."""
        names: set[str] = set()
        for cat in [self.catalog, *self._attached.values()]:
            ov = overlay.sibling(cat)
            names |= set(cat.tables) | {n for n, cst in ov.staged.items() if cst is not None}
        for child in sorted(names):
            cst = self._route(overlay, child).get(child)
            if cst is None:
                continue
            for fk in cst.tdef.foreign_keys:
                if fk.ref_table == parent:
                    yield child, cst, fk

    def _fk_acts(self, overlay: Overlay, parent: str, assigned=None) -> list:
        """``(child, child state, fk, referenced columns)`` of every foreign
        key referencing ``parent`` whose ON DELETE action (``assigned`` is
        None) or ON UPDATE action is CASCADE, SET NULL or SET DEFAULT. As
        in SQLite, an UPDATE's actions run only when it assigns
        (``assigned``) a referenced column."""
        if not self._fk_enabled:
            return []
        acts = []
        for child, cst, fk in self._fk_children(overlay, parent):
            if (fk.on_delete if assigned is None else fk.on_update) in ("CASCADE", "SET NULL", "SET DEFAULT"):
                rcs = self._fk_ref_columns(overlay, cst.tdef, fk)
                if assigned is None or set(rcs) & set(assigned):
                    acts.append((child, cst, fk, rcs))
        return acts

    def _drop_table(self, overlay: Overlay, sql: str) -> Response:
        """DROP TABLE / VIEW / INDEX with SQLite's probed error strings
        (incl. the kind cross-checks: 'use DROP VIEW to delete view v'
        and vice versa). Indexes are accepted-and-ignored engine-wide,
        so DROP INDEX succeeds for any name ('no such index' only with
        no IF EXISTS and a name never created is indistinguishable here
        — accepted, matching the CREATE INDEX no-op posture)."""
        try:
            kind, name, if_exists = dialect.parse_drop(sql)
        except ValueError as e:
            raise DustError(str(e)) from e
        if kind == "INDEX":
            return self._ok()
        is_view = name in self.catalog.views
        if kind == "VIEW":
            if not is_view:
                if overlay.exists(name):
                    raise DustError(f"use DROP TABLE to delete table {name}")
                if if_exists:
                    return self._ok()
                raise DustError(f"no such view: {name}")
            self.catalog.views.pop(name, None)
            self.spark.catalog.dropTempView(name)
            # DROP VIEW drops its INSTEAD OF triggers with it (SQLite
            # lang_createtrigger.html, same cascade as DROP TABLE)
            for k in [
                k for k, t in self.catalog.triggers.items() if t["table"] == name
            ]:
                self.catalog.triggers.pop(k)
            if self.catalog.warehouse:
                self.catalog._save_manifest()
            return self._ok()
        if is_view:
            raise DustError(f"use DROP VIEW to delete view {name}")
        if kind == "TRIGGER":
            if name in self.catalog.triggers:
                self.catalog.triggers.pop(name)
                if self.catalog.warehouse:
                    self.catalog._save_manifest()
                return self._ok()
            if if_exists:
                return self._ok()
            raise DustError(f"no such trigger: {name}")
        overlay = self._route(overlay, name)
        if not overlay.exists(name):
            if if_exists:
                return self._ok()
            raise DustError(f"no such table: {name}")
        overlay.drop(name)
        # DROP TABLE drops its triggers with it (SQLite
        # lang_createtrigger.html: triggers are deleted automatically)
        dropped = [k for k, t in self.catalog.triggers.items() if t["table"] == name]
        for k in dropped:
            self.catalog.triggers.pop(k)
        if dropped and self.catalog.warehouse:
            self.catalog._save_manifest()
        return self._ok()

    # ------------------------------------------------------------------
    # triggers (r7 — closes the documented CREATE TRIGGER exclusion)
    # ------------------------------------------------------------------

    def _create_trigger(self, overlay: Overlay, sql: str) -> Response:
        """Row triggers, SQLite semantics (sqlite3-probed throughout):
        BEFORE (the default) / AFTER on tables and INSTEAD OF on views,
        for INSERT / UPDATE [OF cols] / DELETE, optional WHEN, NEW./OLD.
        references, RAISE(ABORT/ROLLBACK/FAIL).  Bodies execute per
        affected row in statement order, triggers in REVERSE creation
        order (probed — SQLite prepends to its trigger list); with
        recursive_triggers off (SQLite's default) only RE-ENTRY of a
        trigger already on the firing stack is suppressed — nested
        firing of other triggers chains normally.  Conflict paths fire
        too (all probed): upsert (BI per attempted row, then AI or
        BU/AU), REPLACE (BI+AI per batch row, displaced-row delete
        triggers suppressed like recursive_triggers=0), INSERT OR
        IGNORE (BI even for dropped violators), UPDATE...FROM (BU/AU).
        Bodies/WHEN store RAW SQL, rewritten exactly once at fire time.
        RAISE(IGNORE) (r7, probed): abandons the remainder of the
        current trigger program AND all later trigger programs for that
        row; raised during a BEFORE program (body or WHEN) it also
        skips the row change itself — not applied, not counted in
        changes(), its AFTER triggers never fire — while earlier side
        effects of the same program are kept.  Row-skip is wired on the
        plain INSERT / UPDATE / DELETE, UPDATE...FROM and INSTEAD OF
        paths; on the
        exotic replays (upsert conflict arms, REPLACE displaced rows,
        FK-action child triggers, LIMIT-ed DELETE/UPDATE) IGNORE
        abandons the row's remaining trigger programs but the set-based
        data change still applies (documented divergence, COVERAGE.md).
        Documented scope limits (COVERAGE.md): a BEFORE-only trigger
        body writing the trigger's OWN table is overwritten by the
        outer statement's batch apply (with both timings the
        interleaved loop runs post-mutation and own-table writes land;
        with a may-IGNORE BEFORE trigger the B programs all run
        pre-mutation, so a multi-row statement logs B1,B2,…,A1,A2
        where SQLite interleaves), and a body READING its own table
        during a multi-row statement sees the batch-applied state
        where SQLite interleaves row-at-a-time.
        """
        try:
            td = dialect.parse_create_trigger(sql)
        except ValueError as e:
            raise DustError(str(e)) from e
        tbl = td.table.lower()
        is_view = tbl in self.catalog.views
        if td.timing == "INSTEAD OF":
            if not is_view:
                if overlay.exists(tbl):
                    raise DustError(
                        f"cannot create INSTEAD OF trigger on table: {td.table}"
                    )
                raise DustError(f"no such table: main.{td.table}")
        elif is_view:
            raise DustError(f"cannot create {td.timing} trigger on view: {td.table}")
        key = td.name.lower()
        if key in self.catalog.triggers or overlay.exists(key):
            if td.if_not_exists:
                return self._ok()
            raise DustError(f"trigger {td.name} already exists")
        if not is_view and not overlay.exists(tbl):
            raise DustError(f"no such table: main.{td.table}")
        for s in td.body + ((td.when_sql,) if td.when_sql else ()):
            reason = dialect.nondeterministic_reason(s)
            if reason:
                raise DustError(reason)
        self.catalog.triggers[key] = {
            "name": td.name,
            "timing": td.timing,
            "event": td.event,
            "of": list(td.of_cols),
            "table": tbl,
            "when": td.when_sql,
            "body": list(td.body),
            "sql": td.source_sql,
        }
        if self.catalog.warehouse:
            self.catalog._save_manifest()
        self._schema_version += 1
        return self._ok()

    def _table_triggers(self, table: str, event: str, timing: str, assigned=None) -> list:
        """Matching triggers in FIRING order (reverse creation —
        sqlite3-probed); UPDATE OF lists filter on the assigned
        columns.  Triggers already on the firing stack are skipped
        (recursive_triggers off, SQLite's default: re-entry of the SAME
        trigger — directly or through a cycle — is suppressed, while
        nested firing of other triggers chains normally)."""
        on_stack = set() if self._recursive_triggers else set(self._trigger_stack)
        out = []
        for t in self.catalog.triggers.values():
            if t["table"] != table.lower() or t["event"] != event or t["timing"] != timing:
                continue
            if t["name"].lower() in on_stack:
                continue
            if event == "UPDATE" and t["of"] and assigned is not None:
                low = {c.lower() for c in assigned}
                if not any(c.lower() in low for c in t["of"]):
                    continue
            out.append(t)
        return list(reversed(out))

    def _subst_row_refs(self, sql: str, new, old, tdef: TableDef) -> str:
        """NEW.col / OLD.col → the row's values as SQL literals (rowid
        aliases resolve through the rowid column); a reference to the
        missing side raises SQLite's runtime error string."""
        ref_re = re.compile(
            rf"\b(new|old)\s*\.\s*({dialect._IDENT})", re.I
        )

        def repl(m):
            which = m.group(1).lower()
            col = dialect.unquote_ident(m.group(2))
            row = new if which == "new" else old
            shown = f"{m.group(1)}.{col}"
            if row is None:
                raise DustError(f"no such column: {shown}")
            cl = col.lower()
            keys_low = {k.lower(): k for k in row}
            if cl in ("rowid", "_rowid_", "oid") and cl not in keys_low and tdef.rowid_column:
                cl = tdef.rowid_column.lower()
            if cl not in keys_low:
                raise DustError(f"no such column: {shown}")
            return _sql_literal(row[keys_low[cl]])

        return dialect._map_outside_strings(sql, lambda seg: ref_re.sub(repl, seg))

    def _convert_raise(self, e: Exception) -> Exception:
        s = str(e)
        if dialect.RAISE_IGNORE_MARKER in s:
            return _TriggerIgnore()
        if dialect.RAISE_MARKER in s:
            msg = s.split(dialect.RAISE_MARKER, 1)[1]
            # raise_error wraps the text in Spark's USER_RAISED_EXCEPTION
            # scaffolding — keep the first line, strip the SQLSTATE tag
            # and trailing quotes: the user sees just SQLite's bare msg
            msg = msg.splitlines()[0]
            msg = re.sub(r"\s*\.?\s*SQLSTATE:.*$", "", msg).strip().strip(".").strip("'\"")
            return DustError(msg)
        if isinstance(e, DustError):
            return e
        return DustError(_clean_error(e))

    @staticmethod
    def _may_ignore(trigs: list) -> bool:
        """Static text probe: could firing these triggers raise
        RAISE(IGNORE)?  Used to route BEFORE firing pre-mutation so the
        ignored rows can be excluded from the batch apply; a false
        positive (the text in a string literal, or a never-taken
        branch) only costs the pre-mutation routing, never
        correctness."""
        pat = re.compile(r"\bRAISE\s*\(\s*IGNORE\s*\)", re.I)
        return any(
            pat.search(s)
            for t in trigs
            for s in (*t["body"], *((t["when"],) if t["when"] else ()))
        )

    @contextmanager
    def _trigger_level(self, key: str):
        """One level of trigger recursion: a trigger program, or the child
        statement of a foreign-key action (SQLite runs both as trigger
        programs). Depth-capped at SQLite's SQLITE_MAX_TRIGGER_DEPTH
        (1000) with its error string."""
        if len(self._trigger_stack) >= self._max_trigger_depth:
            raise DustError("too many levels of trigger recursion")
        # each level re-enters the statement executor (~tens of Python
        # frames per level): grow the interpreter's recursion limit ahead
        # of the stack so a depth-999 chain never trips RecursionError
        import sys

        need = (len(self._trigger_stack) + 16) * 60 + 1000
        if sys.getrecursionlimit() < need:
            sys.setrecursionlimit(need)
        self._trigger_stack.append(key)
        try:
            yield
        finally:
            self._trigger_stack.pop()

    def _fire_triggers(self, overlay: Overlay, tdef: TableDef, trigs: list, rows: list) -> set:
        """Fire ``trigs`` for each (old, new) row dict pair, per-row in
        statement order (SQLite's row-at-a-time model — the engine's
        SQL surface is the small-data reference-parity layer, so a
        driver-side loop over the affected rows is the faithful and
        bounded implementation; the Tier C pipeline operators never
        pass through here).

        Returns the indices of rows whose processing was abandoned by
        RAISE(IGNORE) (raised in a WHEN or a body — sqlite3-probed to
        behave identically): the row's remaining trigger programs are
        skipped here; callers firing BEFORE timing pre-mutation use the
        set to exclude those rows from the row change itself."""
        ignored: set = set()
        if not trigs or not rows:
            return ignored
        for idx, (old, new) in enumerate(rows):
            for t in trigs:
                key = t["name"].lower()
                if not self._recursive_triggers and key in self._trigger_stack:
                    continue  # re-entry through a cycle: suppressed
                with self._trigger_level(key):
                    try:
                        if t["when"]:
                            w = dialect.rewrite_raise(
                                self._subst_row_refs(t["when"], new, old, tdef)
                            )
                            try:
                                val = self._sql(f"SELECT ({w}) AS __t", None).collect()[0][0]
                            except Exception as e:  # noqa: BLE001
                                raise self._convert_raise(e) from e
                            if not _sqlite_truthy(val):
                                continue
                        for b in t["body"]:
                            bsql = dialect.rewrite_raise(
                                self._subst_row_refs(b, new, old, tdef)
                            )
                            try:
                                if bsql.lstrip().upper().startswith(("SELECT", "WITH")):
                                    # SELECT bodies evaluate for effect only
                                    # (RAISE throws at evaluation)
                                    self._sql(bsql, None).collect()
                                else:
                                    r = self._apply(overlay, Statement(sql=bsql, parameters=[]))
                                    self._total_changes += r.rows_affected or 0
                            except Exception as e:  # noqa: BLE001
                                raise self._convert_raise(e) from e
                    except _TriggerIgnore:
                        # abandon this row: remaining statements of this
                        # program AND all later programs for the row.
                        # Side effects already applied are kept (probed:
                        # IGNORE rolls nothing back). A nested trigger's
                        # IGNORE never reaches here — it is consumed by
                        # the inner statement's own firing loop.
                        ignored.add(idx)
                if idx in ignored:
                    break
        return ignored

    # ------------------------------------------------------------------
    # INSTEAD OF triggers — DML on views (r7)
    # ------------------------------------------------------------------

    def _instead_of(self, view: str, event: str, assigned=None) -> tuple[bool, list]:
        """(any trigger DEFINED for this view+event, firing list).

        The existence check ignores the firing stack — SQLite validates
        "is this view modifiable" at prepare time, so DML on a view
        whose only matching trigger is currently ON the stack is a
        silent no-op (sqlite3-probed: a self-recursive INSTEAD OF body
        neither errors nor recurses), while a view with NO matching
        trigger at all raises 'cannot modify'."""
        defined = [
            t
            for t in self.catalog.triggers.values()
            if t["table"] == view.lower()
            and t["timing"] == "INSTEAD OF"
            and t["event"] == event
            and not (
                event == "UPDATE"
                and t["of"]
                and assigned is not None
                and not any(
                    c.lower() in {a.lower() for a in assigned} for c in t["of"]
                )
            )
        ]
        firing = self._table_triggers(view, event, "INSTEAD OF", assigned)
        return bool(defined), firing

    @staticmethod
    def _view_row(cols: list, vals: tuple, ordinal: int) -> dict:
        """Row dict for NEW/OLD binding in a view trigger. SQLite gives
        view rows per-statement ordinal rowids (1-based; -1 for the NEW
        row of an INSERT — sqlite3-probed), exposed here as dict keys
        unless a real view column shadows the alias."""
        d = dict(zip(cols, vals))
        low = {c.lower() for c in cols}
        for alias in ("rowid", "_rowid_", "oid"):
            if alias not in low:
                d[alias] = ordinal
        return d

    @staticmethod
    def _scan_key(tdef) -> str:
        """SQL for SQLite's scan order over a table, the b-tree order:
        rowid ASC (frame order diverges as soon as a small explicit id
        is inserted after larger auto ids), or the PRIMARY KEY tuple on
        WITHOUT ROWID tables (sqlite3-probed)."""
        if tdef.rowid_column:
            return f"`{tdef.rowid_column}`"
        pk = ", ".join(f"`{c}`" for c in tdef.primary_key)
        return f"row_number() OVER (ORDER BY {pk})" if pk else "monotonically_increasing_id()"

    @staticmethod
    def _row_pairs(tdef, rows: DataFrame, update: bool) -> tuple[list, list]:
        """The (OLD, NEW) row pairs of ``rows`` with their ``__ord`` keys,
        in SQLite's firing order, ``__ord`` (``_scan_key``). An UPDATE's
        rows carry OLD as ``__old_<col>`` next to NEW; a DELETE's rows are
        OLD and have no NEW."""
        fields = [f.name for f in tdef.schema.fields]
        got = []
        for r in rows.collect():
            d = r.asDict()
            cur = {c: d[c] for c in fields}
            got.append((d["__ord"], ({c: d[f"__old_{c}"] for c in fields}, cur) if update else (cur, None)))
        got.sort(key=lambda g: g[0])
        return [p for _, p in got], [o for o, _ in got]

    def _row_triggers(
        self, overlay: Overlay, tdef, trig_b: list, trig_a: list, marked: DataFrame, update: bool, admit=None
    ):
        """The row triggers of an UPDATE or DELETE over its marked frame
        (``__m`` = 1 on the rows it changes, ``__ord`` their scan key):
        runs what must fire before the write and returns the ``__ord``
        keys of the rows to revert out of the change, and the step to
        run after the write.

        Rows fire in scan order, and ``admit(ord, old, new)`` (UPDATE
        OR IGNORE) decides row by row whether a change lands. BEFORE
        triggers alone fire before the write; with AFTER triggers both
        timings fire after it, interleaved per row (B1, A1, B2, ...) as
        SQLite logs them, so an AFTER body's writes to its own table
        land. A row that ``admit`` reverts fires its BEFORE triggers
        only (sqlite3-probed: its AFTER triggers neither change nor
        count). When a BEFORE trigger may RAISE(IGNORE), the interleave
        runs before the write instead, skipping the AFTER triggers of
        the rows it reverts.
        A body reading its own table sees the pre- or post-statement
        state where SQLite sees the row-partial image (documented)."""
        if not (trig_b or trig_a or admit):
            return [], lambda: None
        pairs, ords = self._row_pairs(tdef, marked.filter(F.col("__m") == 1), update)
        if trig_a and not (trig_b and self._may_ignore(trig_b)):
            ignored = [o for o, p in zip(ords, pairs) if admit and not admit(o, *p)]
            skip = set(ignored)

            def after():
                for o, p in zip(ords, pairs):
                    self._fire_triggers(overlay, tdef, trig_b, [p])
                    if o not in skip:
                        self._fire_triggers(overlay, tdef, trig_a, [p])

            return ignored, after
        ignored = []
        for o, p in zip(ords, pairs):
            if self._fire_triggers(overlay, tdef, trig_b, [p]) or (admit and not admit(o, *p)):
                ignored.append(o)
            else:
                self._fire_triggers(overlay, tdef, trig_a, [p])
        return ignored, lambda: None

    @staticmethod
    def _key_norm(tdef, c: str):
        """How column ``c``'s Spark collation compares a key value, for
        conflict matching in Python dicts (NOCASE/UTF8_LCASE → lower,
        RTRIM → rstrip(' ')), else 'kEy' misses a held 'Key' that the
        engine's own joins match; None when values compare as they
        are."""
        f = next((x for x in tdef.schema.fields if x.name == c), None)
        if f is not None and isinstance(f.dataType, T.StringType):
            ds = str(f.dataType)
            if "LCASE" in ds:
                return lambda v: v.lower() if isinstance(v, str) else v
            if "RTRIM" in ds:
                return lambda v: v.rstrip(" ") if isinstance(v, str) else v
        return None

    def _fire_view_triggers(self, overlay: Overlay, trigs: list, rows: list) -> Response:
        """Fire INSTEAD OF triggers and return the outer statement's
        response: rows_affected is 0 (sqlite3-probed: changes() after
        view DML is 0; the body's own DML lands in total_changes via
        the firing loop) and last_insert_rowid() is untouched (body
        inserts do not leak out of the trigger)."""
        import types

        vdef = types.SimpleNamespace(rowid_column=None)
        saved_lir = self._last_insert_id
        self._fire_triggers(overlay, vdef, trigs, rows)
        self._last_insert_id = saved_lir
        return Response(last_insert_id=saved_lir, rows_affected=0)

    def _view_insert(self, overlay: Overlay, ins) -> Response:
        view = ins.table
        defined, trigs = self._instead_of(view, "INSERT")
        if not defined:
            raise DustError(f"cannot modify {view} because it is a view")
        if ins.on_conflict is not None:
            raise DustError("cannot UPSERT a view")
        cols = self.spark.table(view).columns
        low = {c.lower(): c for c in cols}
        targets = list(cols)
        if ins.columns:
            targets = []
            for c in ins.columns:
                if c.lower() not in low:
                    raise DustError(f"table {view} has no column named {c}")
                targets.append(low[c.lower()])
        src = ins.source_sql.strip().rstrip(";")
        if re.match(r"DEFAULT\s+VALUES\s*$", src, re.I):
            raw = [tuple(None for _ in cols)]
            targets = list(cols)
        else:
            q = src if src.upper().startswith(("SELECT", "WITH")) else f"SELECT * FROM ({src})"
            try:
                collected = self._sql(q, None).collect()
            except Exception as e:  # noqa: BLE001
                raise self._convert_raise(e) from e
            raw = [tuple(r) for r in collected]
            for r in raw:
                if len(r) != len(targets):
                    if not ins.columns:
                        raise DustError(
                            f"table {view} has {len(targets)} columns but "
                            f"{len(r)} values were supplied"
                        )
                    raise DustError(f"{len(r)} values for {len(targets)} columns")
        rows = []
        for vals in raw:
            bound = dict(zip(targets, vals))
            rows.append(
                (None, self._view_row(cols, tuple(bound.get(c) for c in cols), -1))
            )
        return self._fire_view_triggers(overlay, trigs, rows)

    def _view_update(self, overlay: Overlay, up) -> Response:
        view = up.table
        assigned = [c for c, _ in up.sets]
        defined, trigs = self._instead_of(view, "UPDATE", assigned)
        if not defined:
            raise DustError(f"cannot modify {view} because it is a view")
        if up.from_sql:
            raise DustError(f"cannot modify {view} because it is a view")
        cols = self.spark.table(view).columns
        low = {c.lower(): c for c in cols}
        for c in assigned:
            if c.lower() not in low:
                raise DustError(f"no such column: {c}")
        # one pass evaluates the SET expressions against each OLD view
        # row (SQLite's semantics: expressions see the pre-update row)
        proj = ", ".join(
            f"({e}) AS __new_{i}" for i, (_, e) in enumerate(up.sets)
        )
        q = f"SELECT *, {proj} FROM {view}"
        if up.where:
            q += f" WHERE {up.where}"
        if up.tail:
            q += f" {up.tail}"
        if up.with_sql:
            q = f"{up.with_sql} {q}"
        try:
            collected = self._sql(q, None).collect()
        except Exception as e:  # noqa: BLE001
            raise self._convert_raise(e) from e
        rows = []
        for i, r in enumerate(collected):
            vals = tuple(r)[: len(cols)]
            old = self._view_row(cols, vals, i + 1)
            newvals = dict(zip(cols, vals))
            for j, (c, _) in enumerate(up.sets):
                newvals[low[c.lower()]] = r[len(cols) + j]
            new = self._view_row(cols, tuple(newvals[c] for c in cols), i + 1)
            rows.append((old, new))
        return self._fire_view_triggers(overlay, trigs, rows)

    def _view_delete(self, overlay: Overlay, de) -> Response:
        view = de.table
        defined, trigs = self._instead_of(view, "DELETE")
        if not defined:
            raise DustError(f"cannot modify {view} because it is a view")
        cols = self.spark.table(view).columns
        q = f"SELECT * FROM {view}"
        if de.where:
            q += f" WHERE {de.where}"
        if de.tail:
            q += f" {de.tail}"
        if de.with_sql:
            q = f"{de.with_sql} {q}"
        try:
            collected = self._sql(q, None).collect()
        except Exception as e:  # noqa: BLE001
            raise self._convert_raise(e) from e
        rows = [
            (self._view_row(cols, tuple(r), i + 1), None)
            for i, r in enumerate(collected)
        ]
        return self._fire_view_triggers(overlay, trigs, rows)

    def _alter_table(self, overlay: Overlay, sql: str) -> Response:
        """SQLite's full ALTER TABLE family (lang_altertable): ADD
        COLUMN, RENAME TO (child FK references follow the rename, like
        SQLite's schema rewrite), RENAME [COLUMN] (constraint metadata
        and FK references follow), DROP COLUMN (PRIMARY KEY / UNIQUE
        columns refuse with SQLite's error strings; checks referencing
        the column go with it, as for column-level CHECKs)."""
        import copy

        parsed = dialect.parse_alter(sql)
        kind, name = parsed[0], parsed[1]
        overlay = self._route(overlay, name)
        st = overlay.get(name)
        if st is None:
            raise DustError(f"no such table: {name}")
        tdef = copy.deepcopy(st.tdef)
        fields = [f.name for f in tdef.schema.fields]

        if kind == "add":
            sub = parsed[2]  # one-column TableDef from the ADD def
            self._validate_fk_actions(sub.foreign_keys)
            f_new = sub.schema.fields[0]
            col = f_new.name
            if col in fields:
                raise DustError(f"duplicate column name: {col}")
            # SQLite's ADD COLUMN restrictions (probed): no PK/UNIQUE,
            # NOT NULL requires a non-NULL default; existing rows take
            # the default value
            if sub.primary_key:
                raise DustError("Cannot add a PRIMARY KEY column")
            if any(u != sub.primary_key for u in sub.unique):
                raise DustError("Cannot add a UNIQUE column")
            default_sql = sub.defaults.get(col)
            if col in sub.not_null and (default_sql is None or default_sql.upper() == "NULL"):
                raise DustError("Cannot add a NOT NULL column with default value NULL")
            tdef.schema = tdef.schema.add(col, f_new.dataType, True)
            tdef.declared_types[col] = sub.declared_types.get(col, "")
            if col in sub.not_null:
                tdef.not_null.add(col)
            if default_sql is not None:
                tdef.defaults[col] = default_sql
            tdef.checks.extend(sub.checks)
            tdef.check_origins.extend([col] * len(sub.checks))
            tdef.foreign_keys.extend(sub.foreign_keys)
            tdef.source_sql = None  # sqlite_master sql re-synthesizes
            if col in sub.generated:
                tdef.generated[col] = sub.generated[col]
            if col in sub.generated:
                # ADD COLUMN ... GENERATED ALWAYS AS: compute for
                # existing rows (SQLite allows VIRTUAL adds)
                fill = F.expr(dialect.rewrite_sqlite_fns(self._dq_resolve(tdef, tdef.generated[col])))
            else:
                fill = (
                    F.expr(dialect.rewrite_sqlite_fns(default_sql))
                    if default_sql is not None
                    else F.lit(None)
                )
            new_df = st.df.withColumn(col, fill.cast(f_new.dataType))

        elif kind == "rename_table":
            new = parsed[2]
            if overlay.exists(new):  # incl. new == name, like SQLite
                raise DustError(
                    f"there is already another table or index with this name: {new}"
                )
            tdef.name = new
            if tdef.source_sql:
                # SQLite's schema rewrite: the stored sql gets the new
                # (quoted) table name
                tdef.source_sql = re.sub(
                    r"(CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?)"
                    rf"({dialect._IDENT})",
                    lambda m: m.group(1) + f'"{new}"',
                    tdef.source_sql,
                    count=1,
                    flags=re.I,
                )
            new_st = overlay.catalog.materialize(new, TableState(tdef, st.df, st.high_water, st.version + 1))
            overlay.put(new, new_st)
            if new != name:
                overlay.drop(name)
            # SQLite rewrites referencing FK clauses in other tables
            for other in list(overlay.catalog.tables):
                ost = overlay.get(other)
                if ost is None or other == new:
                    continue
                if any(fk.ref_table == name for fk in ost.tdef.foreign_keys):
                    otd = copy.deepcopy(ost.tdef)
                    for fk in otd.foreign_keys:
                        if fk.ref_table == name:
                            fk.ref_table = new
                    overlay.put(other, overlay.catalog.materialize(
                        other, TableState(otd, ost.df, ost.high_water, ost.version + 1)
                    ))
            return self._ok()

        elif kind == "rename_column":
            _, _, old, new = parsed
            if old not in fields:
                raise DustError(f'no such column: "{old}"')
            if new in fields:
                raise DustError(f"duplicate column name: {new}")
            word = re.compile(rf"\b{re.escape(old)}\b", re.I)
            tdef.schema = T.StructType(
                [
                    T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                    for f in tdef.schema.fields
                ]
            )
            ren = lambda c: new if c == old else c  # noqa: E731
            tdef.declared_types = {ren(c): d for c, d in tdef.declared_types.items()}
            tdef.primary_key = [ren(c) for c in tdef.primary_key]
            tdef.not_null = {ren(c) for c in tdef.not_null}
            tdef.unique = [[ren(c) for c in cs] for cs in tdef.unique]
            tdef.defaults = {ren(c): v for c, v in tdef.defaults.items()}
            if tdef.rowid_column == old:
                tdef.rowid_column = new
            for fk in tdef.foreign_keys:
                fk.columns = tuple(ren(c) for c in fk.columns)
            # constraint expressions follow the rename (SQLite's schema
            # rewrite); word-boundary substitution over the expr text, and
            # over an unnamed check's label (its text, dequoted)
            tdef.checks = [
                (word.sub(new, lbl) if lbl in (expr, dialect._check_label(expr)) else lbl, word.sub(new, expr))
                for lbl, expr in tdef.checks
            ]
            tdef.check_origins = [
                new if org == old else org for org in tdef.check_origins
            ]
            tdef.source_sql = None
            for other in list(overlay.catalog.tables):
                ost = overlay.get(other)
                if ost is None or other == name:
                    continue
                if any(fk.ref_table == name and old in fk.ref_columns for fk in ost.tdef.foreign_keys):
                    otd = copy.deepcopy(ost.tdef)
                    for fk in otd.foreign_keys:
                        if fk.ref_table == name and old in fk.ref_columns:
                            fk.ref_columns = tuple(new if c == old else c for c in fk.ref_columns)
                    overlay.put(other, overlay.catalog.materialize(
                        other, TableState(otd, ost.df, ost.high_water, ost.version + 1)
                    ))
            new_df = st.df.withColumnRenamed(old, new)

        else:  # drop_column
            col = parsed[2]
            if col not in fields:
                raise DustError(f'no such column: "{col}"')
            if col in tdef.primary_key:
                raise DustError(f'cannot drop PRIMARY KEY column: "{col}"')
            if any(col in cs for cs in tdef.unique):
                raise DustError(f'cannot drop UNIQUE column: "{col}"')
            word = re.compile(rf"\b{re.escape(col)}\b", re.I)
            visible = [
                f.name for f in tdef.visible_fields()
            ] if hasattr(tdef, "visible_fields") else fields
            if len([c for c in visible if c != dialect.HIDDEN_ROWID]) <= 1:
                raise DustError(f'cannot drop column "{col}": no other columns exist')
            # SQLite revalidates the whole schema after the drop: checks
            # carried by the dropped column vanish with it; any OTHER
            # check / generated column / view still referencing it makes
            # the drop fail (r6-probed error strings)
            origins = list(tdef.check_origins) + [None] * (
                len(tdef.checks) - len(tdef.check_origins)
            )
            for (lbl, expr), org in zip(tdef.checks, origins):
                if org != col and word.search(expr):
                    raise DustError(
                        f"error in table {name} after drop column: no such column: {col}"
                    )
            for gcol, gexpr in tdef.generated.items():
                if gcol != col and word.search(gexpr):
                    raise DustError(
                        f"error in table {name} after drop column: no such column: {col}"
                    )
            remaining = [
                f.name
                for f in tdef.schema.fields
                if f.name != col and f.name != dialect.HIDDEN_ROWID
            ]
            if all(c in tdef.generated for c in remaining):
                raise DustError(
                    f"error in table {name} after drop column: "
                    "must have at least one non-generated column"
                )
            tname_word = re.compile(rf"\b{re.escape(name)}\b", re.I)
            for vname, sel in overlay.catalog.views.items():
                if tname_word.search(sel) and word.search(sel):
                    raise DustError(
                        f"error in view {vname} after drop column: no such column: {col}"
                    )
            # own-column checks go silently; everything kept was already
            # validated not to reference the dropped column
            kept = [(c, o) for c, o in zip(tdef.checks, origins) if o != col]
            tdef.checks = [c for c, _ in kept]
            tdef.check_origins = [o for _, o in kept]
            tdef.schema = T.StructType([f for f in tdef.schema.fields if f.name != col])
            tdef.declared_types.pop(col, None)
            tdef.not_null.discard(col)
            tdef.defaults.pop(col, None)
            tdef.foreign_keys = [fk for fk in tdef.foreign_keys if col not in fk.columns]
            tdef.source_sql = None
            new_df = st.df.drop(col)

        new_st = overlay.catalog.materialize(name, TableState(tdef, new_df, st.high_water, st.version + 1))
        overlay.put(name, new_st)
        return self._ok()

    # -- ATTACH / DETACH (implied SQLite surface via the reference's
    # pass-through, db/src/db.rs:176) --------------------------------------

    def _attached_prefixes(self) -> dict[str, str]:
        return {alias: cat.view_prefix for alias, cat in self._attached.items()}

    def _route(self, overlay: Overlay, table: str) -> Overlay:
        """Pick the overlay owning ``table``: attached catalogs own the
        names carrying their view prefix (full DML parity — SQLite's
        ATTACH is read-write, and a transaction spans all attached
        databases atomically). Longest prefix wins: with aliases ``a``
        and ``a_b``, table ``__att_a_b_t`` must route to ``a_b``, not be
        claimed by ``a``'s shorter ``__att_a_`` prefix."""
        best = None
        for cat in self._attached.values():
            if table.startswith(cat.view_prefix) and (
                best is None or len(cat.view_prefix) > len(best.view_prefix)
            ):
                best = cat
        return overlay.sibling(best) if best is not None else overlay

    def _attach(self, sql: str) -> Response:
        try:
            path, alias = dialect.parse_attach(sql)
        except ValueError as e:
            raise DustError(str(e)) from e
        if alias in ("main", "temp") or alias in self._attached:
            raise DustError(f"database {alias} is already in use")
        wh = self._resolve_dsn(path) if path else None
        self._attached[alias] = Catalog(self.spark, wh, view_prefix=f"__att_{alias}_")
        return self._ok()

    def _detach(self, sql: str) -> Response:
        try:
            alias = dialect.parse_detach(sql)
        except ValueError as e:
            raise DustError(str(e)) from e
        if alias not in self._attached:
            raise DustError(f"no such database: {alias}")
        self._detach_alias(alias)
        return self._ok()

    def _detach_alias(self, alias: str) -> None:
        cat = self._attached.pop(alias)
        for name in list(cat.tables):
            self.spark.catalog.dropTempView(cat.view_name(name))

    # -- PRAGMA -----------------------------------------------------------

    def _pragma_exec(self, sql: str) -> Response:
        try:
            key, val, _arg = dialect.parse_pragma(sql)
        except ValueError as e:
            raise DustError(str(e)) from e
        setv = val if val is not None else _arg
        if key == "foreign_keys" and setv is not None:
            self._fk_enabled = bool(self._pragma_bool(self._pragma_unq(setv)))
        if key == "recursive_triggers" and setv is not None:
            self._recursive_triggers = bool(self._pragma_bool(self._pragma_unq(setv)))
        if key == "user_version" and setv is not None:
            self._user_version = self._pragma_atoi(self._pragma_unq(setv))
        else:
            # connection-state pragmas keep their side effects on the
            # execute path too (result discarded)
            self._pragma_conn_state(key, val, _arg)
        return self._ok()

    def _pragma_query(self, sql: str) -> Rows:
        try:
            key, val, arg = dialect.parse_pragma(sql)
        except ValueError as e:
            raise DustError(str(e)) from e
        setv = val if val is not None else arg
        if key == "foreign_keys":
            if setv is not None:
                self._fk_enabled = bool(self._pragma_bool(self._pragma_unq(setv)))
                return Rows()
            return Rows(columns=["foreign_keys"], types=["integer"], values=[[1 if self._fk_enabled else 0]])
        if key == "recursive_triggers":
            if setv is not None:
                self._recursive_triggers = bool(self._pragma_bool(self._pragma_unq(setv)))
                return Rows()
            return Rows(
                columns=["recursive_triggers"],
                types=["integer"],
                values=[[1 if self._recursive_triggers else 0]],
            )
        if key == "user_version":
            # settable per-connection schema cookie (PRAGMA user_version
            # = N); reads return the stored int, 0 initially like SQLite
            if setv is not None:
                self._user_version = self._pragma_atoi(self._pragma_unq(setv))
                return Rows()
            return Rows(columns=["user_version"], types=["integer"], values=[[self._user_version]])
        if key == "schema_version":
            # bumped on every DDL change (SQLite increments its schema
            # cookie the same way; absolute values are not contractual)
            return Rows(columns=["schema_version"], types=["integer"], values=[[self._schema_version]])
        if key == "table_info":
            # call-form pragma (SQLite PRAGMA table_info(t), implied
            # surface of the reference's SQLite pass-through)
            return self._pragma_table_info(arg or val)
        if key == "table_xinfo":
            return self._pragma_table_info(arg or val, xinfo=True)
        if key == "index_info":
            return self._pragma_index_info(arg or val)
        if key == "index_xinfo":
            return self._pragma_index_info(arg or val, xinfo=True)
        if key == "database_list":
            cols = ["seq", "name", "file"]
            values = [[0, "main", self.catalog.warehouse or ""]]
            for i, (alias, cat) in enumerate(sorted(self._attached.items()), start=2):
                values.append([i, alias, cat.warehouse or ""])
            return Rows(columns=cols, types=["integer", "text", "text"], values=values)
        if key == "foreign_key_list":
            return self._pragma_foreign_key_list(arg or val)
        if key == "index_list":
            return self._pragma_index_list(arg or val)
        got = self._pragma_conn_state(key, val, arg)
        if got is not None:
            return got
        return Rows()  # unknown pragmas: empty result, like SQLite

    @staticmethod
    def _pragma_unq(s) -> str:
        """Strip one layer of ''/"" quoting off a pragma value."""
        s = str(s).strip()
        if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
            s = s[1:-1].replace(s[0] * 2, s[0])
        return s

    @staticmethod
    def _pragma_atoi(s: str) -> int:
        """sqlite3Atoi: optional sign + digit prefix, NO whitespace
        skip (sqlite3-probed r11: busy_timeout='  77 ' reads 0,
        cache_size='12.7' reads 12, user_version='7y' reads 7)."""
        m = re.match(r"[+-]?\d+", s)
        return int(m.group(0)) if m else 0

    @classmethod
    def _pragma_bool(cls, s: str) -> int:
        """sqlite3GetBoolean: digit-leading → atoi != 0, else the name
        table (on/true/yes → 1), else 0."""
        t = s.lower()
        if t in ("on", "true", "yes"):
            return 1
        if re.match(r"[+-]?\d", t):
            return 1 if cls._pragma_atoi(t) != 0 else 0
        return 0

    def _pragma_conn_state(self, key: str, val, arg) -> Rows | None:
        """Informational / connection-state pragmas (r10; set-form
        parsing tightened r11 per ADVICE) — echo and set behavior
        sqlite3-probed on an in-memory db:
        - call form PRAGMA k(v) == assignment PRAGMA k=v (arg is the
          set value when val is absent);
        - quoted values accepted everywhere; integer values parse by
          the no-whitespace-skip sign+digit prefix (_pragma_atoi);
        - integrity_check/quick_check always 'ok';
        - journal_mode pinned 'memory' in memory mode; in disk mode
          only the six valid modes set, anything else echoes the
          stored mode;
        - synchronous follows getSafetyLevel: names off/full/extra
          (normal = no-match default 1), digit-leading atoi, then
          stored = ((v+1)&7 or 1) and reads echo stored-1 (probed:
          =7 reads 0, =99 reads 3, =5 reads 5, =-1 reads 1);
        - temp_store keys off the FIRST char '0'-'2' else
          default/file/memory else 0 (probed: =2.9 reads 2, =9
          reads 0);
        - busy_timeout clamps negatives to 0 and ECHOES;
        - locking_mode: invalid values echo the stored mode; the
          exclusive→normal transition echoes 'exclusive' once (the
          lock is held until released) while storing 'normal';
        - secure_delete: 'fast' → 2, else boolean, ECHOES;
        - cache_size/application_id set silently via atoi;
        - page_size pinned 4096, encoding pinned UTF-8, auto_vacuum
          pinned 0, freelist_count 0, wal_checkpoint (0,-1,-1);
          page_count reports the minimal layout (0 empty, 1 schema
          page + 1 per table — data-bearing growth is
          storage-engine-specific, documented)."""

        def one(v, typ="integer"):
            return Rows(columns=[key], types=[typ], values=[[v]])

        st = self._pragma_state
        raw = val if val is not None else arg
        setv = self._pragma_unq(raw) if raw is not None else None
        if key in ("integrity_check", "quick_check"):
            return one("ok", "text")
        if key == "journal_mode":
            if self.catalog.warehouse is None:
                return one("memory", "text")
            if setv is not None and setv.lower() in (
                "delete", "truncate", "persist", "memory", "wal", "off",
            ):
                st["journal_mode"] = setv.lower()
            return one(st.get("journal_mode", "delete"), "text")
        if key == "cache_size":
            if setv is not None:
                st["cache_size"] = self._pragma_atoi(setv)
                return Rows()
            return one(st["cache_size"])
        if key == "busy_timeout":
            if setv is not None:
                st["busy_timeout"] = max(0, self._pragma_atoi(setv))
            return one(st["busy_timeout"])
        if key == "synchronous":
            if setv is not None:
                m = {"off": 0, "false": 0, "on": 1, "yes": 1, "true": 1,
                     "full": 2, "extra": 3}
                t = setv.lower()
                if t in m:
                    v = m[t]
                elif re.match(r"\d", t):
                    v = self._pragma_atoi(t)
                else:
                    v = 1  # getSafetyLevel default ('normal' included)
                st["synchronous"] = (((v + 1) & 7) or 1) - 1
                return Rows()
            return one(st["synchronous"])
        if key == "temp_store":
            if setv is not None:
                if setv[:1] in ("0", "1", "2"):
                    st["temp_store"] = int(setv[0])
                else:
                    m = {"default": 0, "file": 1, "memory": 2}
                    st["temp_store"] = m.get(setv.lower(), 0)
                return Rows()
            return one(st["temp_store"])
        if key == "application_id":
            if setv is not None:
                st["application_id"] = self._pragma_atoi(setv)
                return Rows()
            return one(st["application_id"])
        if key == "locking_mode":
            if setv is not None:
                new = setv.lower()
                if new in ("normal", "exclusive"):
                    old = st["locking_mode"]
                    st["locking_mode"] = new
                    echo = "exclusive" if "exclusive" in (old, new) else "normal"
                    return one(echo, "text")
            return one(st["locking_mode"], "text")
        if key == "secure_delete":
            if setv is not None:
                if setv.lower() == "fast":
                    st["secure_delete"] = 2
                else:
                    st["secure_delete"] = self._pragma_bool(setv)
            return one(st["secure_delete"])
        if key == "page_size":
            if setv is not None:
                return Rows()  # initialized db: size is pinned, like SQLite
            return one(4096)
        if key == "encoding":
            if setv is not None:
                return Rows()
            return one("UTF-8", "text")
        if key == "auto_vacuum":
            if setv is not None:
                return Rows()  # initialized db ignores the set
            return one(0)
        if key == "freelist_count":
            return one(0)
        if key == "page_count":
            n = len(self.catalog.tables)
            return one(0 if n == 0 else 1 + n)
        if key == "wal_checkpoint":
            return Rows(
                columns=["busy", "log", "checkpointed"],
                types=["integer", "integer", "integer"],
                values=[[0, -1, -1]],
            )
        return None

    def _pragma_foreign_key_list(self, table: str | None) -> Rows:
        cols = ["id", "seq", "table", "from", "to", "on_update", "on_delete", "match"]
        types = ["integer", "integer", "text", "text", "text", "text", "text", "text"]
        st = self.catalog.tables.get((table or "").lower())
        values = []
        if st is not None:
            for i, fk in enumerate(st.tdef.foreign_keys):
                # actions are NO ACTION: the engine enforces RESTRICT
                # semantics only (reference surface has no cascades).
                # Composite keys emit one row per column with a shared
                # id and a per-column seq (sqlite3-probed layout)
                rcs = fk.ref_columns or (None,) * len(fk.columns)
                for seq, (c, rc) in enumerate(zip(fk.columns, rcs)):
                    values.append(
                        [i, seq, fk.ref_table, c, rc, fk.on_update, fk.on_delete, "NONE"]
                    )
        return Rows(columns=cols, types=types, values=values)

    def _pragma_index_list(self, table: str | None) -> Rows:
        """UNIQUE constraints surface as SQLite's implicit
        sqlite_autoindex_* rows (user CREATE INDEX is a no-op here, as
        documented — no rows for those)."""
        cols = ["seq", "name", "unique", "origin", "partial"]
        types = ["integer", "text", "integer", "text", "integer"]
        t = (table or "").lower()
        st = self.catalog.tables.get(t)
        values = []
        if st is not None:
            tdef = st.tdef
            n = 0
            for uniq in tdef.unique:
                if uniq == tdef.primary_key and tdef.rowid_column and not tdef.implicit_rowid:
                    continue  # INTEGER PRIMARY KEY IS the rowid: no index
                n += 1
                origin = "pk" if uniq == tdef.primary_key else "u"
                values.append([n - 1, f"sqlite_autoindex_{t}_{n}", 1, origin, 0])
        return Rows(columns=cols, types=types, values=values)

    def _pragma_table_info(self, table: str | None, xinfo: bool = False) -> Rows:
        cols = ["cid", "name", "type", "notnull", "dflt_value", "pk"]
        types = ["integer", "text", "text", "integer", "text", "integer"]
        if xinfo:
            # PRAGMA table_xinfo adds a hidden flag and shows generated
            # columns: 2 = VIRTUAL, 3 = STORED (sqlite3-probed); the
            # implicit hidden rowid is not a column and never appears
            cols = cols + ["hidden"]
            types = types + ["integer"]
        st = None
        if table:
            t = table.lower()
            if "." in t:
                alias, _, local = t.partition(".")
                cat = self._attached.get(alias)
                st = cat.tables.get(cat.view_name(local)) if cat else None
            else:
                st = self.catalog.tables.get(t)
                if st is None:
                    for cat in self._attached.values():
                        st = cat.tables.get(cat.view_name(t))
                        if st is not None:
                            break
        if st is None:
            return Rows(columns=cols, types=types, values=[])
        tdef = st.tdef
        pk_cols = tdef.primary_key or ([tdef.rowid_column] if tdef.rowid_column else [])
        values = []
        i = 0
        for f in tdef.schema.fields:
            if f.name == dialect.HIDDEN_ROWID:
                continue
            if f.name in tdef.generated and not xinfo:
                continue  # SQLite hides generated columns (table_xinfo shows them)
            decl = tdef.declared_types.get(f.name, f.dataType.simpleString().upper())
            notnull = 1 if f.name in tdef.not_null else 0
            dflt = tdef.defaults.get(f.name)
            # SQLite: pk = 1-based position within the primary key, else 0
            pk = pk_cols.index(f.name) + 1 if f.name in pk_cols else 0
            row = [i, f.name, decl, notnull, dflt, pk]
            if xinfo:
                hidden = 0
                if f.name in tdef.generated:
                    hidden = 3 if f.name in tdef.generated_stored else 2
                row.append(hidden)
            values.append(row)
            i += 1
        return Rows(columns=cols, types=types, values=values)

    def _pragma_index_info(self, index: str | None, xinfo: bool = False) -> Rows:
        """(seqno, cid, name) per indexed column, sqlite3-probed; the
        sqlite_autoindex_{t}_{n} name maps back to the table's nth
        surfaced UNIQUE constraint (same skip rule as index_list).
        index_xinfo adds desc/coll/key and the probed auxiliary rows:
        rowid tables append one (-1, NULL) rowid entry, WITHOUT ROWID
        tables append the remaining table columns as non-key rows;
        coll follows the column's declared collation (NOCASE columns
        report NOCASE)."""
        cols = ["seqno", "cid", "name"]
        types = ["integer", "integer", "text"]
        if xinfo:
            cols += ["desc", "coll", "key"]
            types += ["integer", "text", "integer"]
        m = re.match(r"sqlite_autoindex_(.+)_(\d+)$", (index or "").lower())
        st = self.catalog.tables.get(m.group(1)) if m else None
        values = []
        if st is not None:
            tdef = st.tdef

            def coll(cname: str) -> str:
                f = next((x for x in tdef.schema.fields if x.name == cname), None)
                if f is not None and isinstance(f.dataType, T.StringType) and "LCASE" in str(
                    f.dataType
                ):
                    return "NOCASE"
                return "BINARY"

            surfaced = [
                u
                for u in tdef.unique
                if not (u == tdef.primary_key and tdef.rowid_column and not tdef.implicit_rowid)
            ]
            idx = int(m.group(2)) - 1
            if 0 <= idx < len(surfaced):
                visible = [f.name for f in tdef.visible_fields()]
                key_cols = list(surfaced[idx])
                seqno = 0
                for c in key_cols:
                    row = [seqno, visible.index(c) if c in visible else -1, c]
                    if xinfo:
                        row += [0, coll(c), 1]
                    values.append(row)
                    seqno += 1
                if xinfo:
                    if tdef.rowid_column is not None:
                        values.append([seqno, -1, None, 0, "BINARY", 0])
                    else:
                        for c in visible:
                            if c in key_cols:
                                continue
                            values.append([seqno, visible.index(c), c, 0, coll(c), 0])
                            seqno += 1
        return Rows(columns=cols, types=types, values=values)

    # -- DML --------------------------------------------------------------

    def _insert(self, overlay: Overlay, sql: str) -> Response:
        ins = dialect.parse_insert(sql)
        overlay = self._route(overlay, ins.table)
        st = overlay.get(ins.table)
        if st is None:
            if ins.table in self.catalog.views:
                return self._view_insert(overlay, ins)
            raise DustError(f"no such table: {ins.table}")
        tdef = st.tdef
        schema_cols = [f.name for f in tdef.schema.fields]

        src_sql = ins.source_sql
        default_values = re.match(r"DEFAULT\s+VALUES\s*;?\s*$", src_sql, re.I | re.S) is not None
        values_src = default_values or src_sql.upper().startswith("VALUES")
        # positional inserts bind to the NON-generated columns only
        # (SQLite: generated columns are never insert targets); the
        # hidden rowid of an implicit table is auto-assigned, never
        # positionally bound
        insertable = [
            c for c in schema_cols if c not in tdef.generated and c != dialect.HIDDEN_ROWID
        ]
        if ins.columns and tdef.rowid_column:
            # INSERT INTO t(rowid, ...): a rowid name in the column list
            # binds the rowid column itself (alias or hidden), unless a
            # real column shadows it
            real = {c.lower() for c in schema_cols if c != dialect.HIDDEN_ROWID}
            ins.columns = [
                tdef.rowid_column
                if (c.lower() in ("rowid", "_rowid_", "oid") and c.lower() not in real)
                else c
                for c in ins.columns
            ]
        if default_values:
            # INSERT INTO t DEFAULT VALUES: one row, every column takes
            # its default (or NULL / the next rowid)
            src = self.spark.range(1).select()
            cols = []
        elif src_sql.upper().startswith("VALUES"):
            # static REAL literals in text contexts fold to SQLite's
            # %!.15g (r13: VALUES (1e19 || 'x') stores '1.0e+19x')
            src_sql = dialect.rewrite_real_text_contexts(src_sql, None)
            src = self.spark.sql(f"SELECT * FROM {src_sql}")
            cols = ins.columns or insertable
        else:
            # INSERT ... SELECT may reference rowid (e.g. copying ids
            # out of an implicit table) — same single-table resolution
            # + hidden-view exposure as the read path
            src_sql2, restore = self._resolve_read_rowid(src_sql, overlay)
            try:
                src = self.spark.sql(src_sql2)
            finally:
                if restore is not None:
                    restore()
            cols = ins.columns or insertable
        for g in tdef.generated:
            if g in cols:
                raise DustError(f'cannot INSERT into generated column "{g}"')
        if len(src.columns) != len(cols):
            if not ins.columns:
                # bare INSERT INTO t VALUES — SQLite's table-form string
                raise DustError(
                    f"table {ins.table} has {len(cols)} columns but "
                    f"{len(src.columns)} values were supplied"
                )
            raise DustError(f"{len(src.columns)} values for {len(cols)} columns")
        unknown = [c for c in cols if c not in schema_cols]
        if unknown:
            raise DustError(f"table {ins.table} has no column named {unknown[0]}")
        src = src.toDF(*cols)
        self._check_strict_types(tdef, src, [(c, c) for c in cols])

        # insertion-order row number (auto-id + last_insert_id semantics)
        if src_sql.upper().startswith("VALUES"):
            # literal batches are driver-sized: the global window is fine
            w = Window.orderBy(F.monotonically_increasing_id())
            src = src.withColumn("__rn", F.row_number().over(w))
            n_src = len(dialect.split_top_level(src_sql[len("VALUES"):]))
        else:
            # INSERT...SELECT can be billions of rows: per-partition
            # row_number + collected partition offsets keeps the same
            # (partition, row) total order as a global sort on
            # monotonically_increasing_id without funnelling the batch
            # through one task
            src, n_src = self._with_insertion_index(src)
        # exact sequential rowid/upsert semantics apply to VALUES batches
        # and to SMALL SELECT sources (r10, closing the last documented
        # rowid approximation): below the gate the source behaves exactly
        # like a literal batch — sequential auto-id closed form and the
        # sequential replay where row order decides the data. Above it,
        # bulk INSERT...SELECT keeps the parallel monotone approximation
        # (a sequential replay would collect billions of rows).
        exact_seq = values_src or n_src <= self._SEQ_EXACT_ROWS

        projected = []
        src_types = {fl.name: fl.dataType for fl in src.schema.fields}
        for f in tdef.schema.fields:
            if f.name in cols:
                c = self._affine_cast(
                    F.col(f.name), src_types.get(f.name), f.dataType
                )
            elif f.name in tdef.defaults:
                d_expr = F.expr(tdef.defaults[f.name])
                if re.fullmatch(r"\s*[-+]?\d+\s*", tdef.defaults[f.name]):
                    c = d_expr.cast(f.dataType)  # integer literal: exact
                else:
                    from pyspark.sql import types as _T

                    c = self._affine_cast(d_expr, _T.StringType(), f.dataType)
            else:
                c = F.lit(None).cast(f.dataType)
            projected.append(c.alias(f.name))
        new_rows = src.select(*projected, F.col("__rn"))
        new_rows = self._apply_generated(tdef, new_rows)

        rc = tdef.rowid_column
        fields = [f.name for f in tdef.schema.fields]
        action, targets, sets, where = self._conflict(tdef, ins, cols)
        t = ins.table
        trig = {
            "b": self._table_triggers(t, "INSERT", "BEFORE"),
            "a": self._table_triggers(t, "INSERT", "AFTER"),
            "db": [],
            "da": [],
            "ub": [],
            "ua": [],
        }
        if action == "replace" and self._recursive_triggers:
            # REPLACE fires DELETE triggers for the rows it displaces only
            # under PRAGMA recursive_triggers=ON (sqlite3-probed)
            trig["db"] = self._table_triggers(t, "DELETE", "BEFORE")
            trig["da"] = self._table_triggers(t, "DELETE", "AFTER")
        if action == "update":
            trig["ub"] = self._table_triggers(t, "UPDATE", "BEFORE", list(sets))
            trig["ua"] = self._table_triggers(t, "UPDATE", "AFTER", list(sets))
        if rc:
            # BEFORE INSERT reads an auto-assigned rowid as -1, and SQLite
            # allocates max(rowid)+1 only for a row that lands: remember
            # which ids are auto
            new_rows = new_rows.withColumn("__auto", F.col(rc).isNull())
        if ins.or_ignore:
            # OR IGNORE skips a row failing NOT NULL or CHECK, after its
            # BEFORE triggers. FK violations still ERROR: SQLite's conflict
            # algorithms do not apply to FOREIGN KEY constraints
            ok = F.lit(True)
            for c_ in sorted(tdef.not_null - {rc}):
                ok = ok & F.col(c_).isNotNull()
            for _lbl, expr in tdef.checks:
                ok = ok & F.expr(self._check_pass_sql(expr, tdef))
            new_rows = new_rows.withColumn("__ok", ok)
        if rc and (action == "replace" or not exact_seq):
            # REPLACE allocates a row's id before it resolves conflicts (a
            # row that a later one displaces has taken its id); above the
            # exactness gate ids take the parallel approximation up front
            new_rows = self._assign_rowids(st, new_rows, exact_seq)
        cand = new_rows.filter(F.col("__ok")) if ins.or_ignore else new_rows

        # SQLite's row loop decides the data (the sequential replay runs
        # before the write) when a BEFORE trigger may RAISE(IGNORE), or
        # when the outcome depends on row order: an in-batch key group
        # under DO UPDATE or under two or more key sets, an auto id a
        # later explicit id of the batch may meet, or a DO UPDATE arm
        # that changes a key a later row may meet. One Spark action looks
        # for the groups and ids; a single-row batch has neither
        replay = any(self._may_ignore(trig[k]) for k in ("b", "db", "ub") if trig[k])
        groups = targets if action == "update" or (exact_seq and len(targets) > 1) else []
        ids = exact_seq and bool(rc) and [rc] in targets and action != "replace"
        if not replay and n_src > 1 and (groups or ids):
            replay = self._batch_group(cand, groups, rc if ids else None, st.high_water)
        existing = st.df
        if not replay:
            if action is None:
                rows, rest = cand.withColumn("__w", F.lit(1)), existing
            else:
                rows, rest = self._resolve_keys(
                    cand, existing, targets, last=action == "replace", in_batch=n_src > 1 and not groups
                )
            if rc and exact_seq and action != "replace":
                rows = self._assign_rowids(st, rows, True, lands=F.col("__w") == 1)
            rows = rows.select(*fields, "__rn", "__w", F.lit(1).alias("__new"))
            if action == "update":
                moves = [c for c in dict.fromkeys((*targets[0], rc)) if c in sets] if exact_seq and n_src > 1 else []
                updated, rest, replay = self._upsert(tdef, ins, rows, existing, targets[0], sets, where, moves)
                rows = rows.unionByName(updated, allowMissingColumns=True)
        fires = any(trig.values())
        batch = []
        if replay or fires:
            batch = [
                (r["__rn"], bool(rc) and r["__auto"], not ins.or_ignore or r["__ok"], {c: r[c] for c in fields})
                for r in new_rows.orderBy("__rn").collect()
            ]

        def run():
            return self._insert_replay(overlay, st, ins, action, targets, sets, where, trig, batch)

        after = changes = None
        if replay:
            images, gone, changes = run()
            rows = self._images_frame(tdef, images)
            rest = existing
            if gone:
                idk = [rc] if rc else list(tdef.primary_key)
                gone_df = self.spark.createDataFrame(
                    list(gone), T.StructType([tdef.schema[c] for c in idk])
                )
                rest = existing.join(gone_df, idk, "left_anti").select(*existing.columns)
        elif fires and not (trig["a"] or trig["da"] or trig["ua"]):
            run()  # BEFORE triggers alone fire before the write
        elif fires:
            # with AFTER triggers both timings fire after the write,
            # interleaved per row (B1, A1, B2, ...) as SQLite logs them
            after = run

        # the write: ``rows`` holds each proposed batch row (``__w`` = 1
        # when it lands) and each row a DO UPDATE arm rewrote (``__new`` =
        # 0); ``rest`` is the rest of the table. One constraint pass checks
        # NOT NULL and CHECK on every proposed row (SQLite checks them
        # before it looks for a conflict) and keys and foreign keys on the
        # landing ones, with the change count (or the replay's), the
        # high-water and last_insert_rowid folded in
        w = F.col("__w") == 1
        new = w & (F.col("__new") == 1)
        stats = {"k": (F.when(new, F.lit(1)), F.count)}
        if changes is None:
            # REPLACE counts every row it inserts, the ones a later row
            # displaces included (sqlite3-probed)
            stats["n"] = (F.when(F.lit(True) if action == "replace" else w, F.lit(1)), F.count)
        if rc:
            stats["mx"] = (F.when(new, F.col(rc)), F.max)
            stats["last"] = (F.when(new, F.struct(F.col("__rn"), F.col(rc))), F.max)
        if self._capture_returning:
            # checkpoint once, reuse for BOTH the returning capture and
            # the table union — no double evaluation of the source plan
            rows = rows.localCheckpoint(eager=True)
            self._returning_df = rows.filter(w).orderBy("__rn").select(*fields)
            self._returning_table = t

        def check(restrict=None):
            return self._check_constraints(
                overlay,
                tdef,
                rows,
                changed=w,
                check_all=True,
                order=F.col("__rn"),
                # a row an arm rewrote held its key before the batch: a
                # batch row meeting that key fails at its own position
                key_order=F.when(F.col("__new") == 1, F.col("__rn")).otherwise(F.col("__rn") - F.lit(1 << 62)),
                rest=rest,
                ipk=rc in cols or (action == "update" and rc in sets),
                restrict=restrict,
                stats=stats,
                broadcast=exact_seq,
            )

        if action == "replace":
            # REPLACE deletes the rows it displaces before it inserts:
            # their ON DELETE actions see the table without them, so a
            # REPLACE that puts a key back still cascades
            idk = [rc] if rc else list(tdef.primary_key)
            own = self._fk_actions(overlay, t, st, rest, existing.join(rest, idk, "left_anti"), None, check)
            rest = rest if own is None else own.df
        out_df = rest.unionByName(rows.filter(w).select(*fields))
        if action == "update":
            # a DO UPDATE arm that moves a key takes its ON UPDATE actions,
            # in SQLite's row loop at the row that first rewrote it
            own = self._fk_actions(
                overlay, t, st, out_df, rows.filter(w & (F.col("__new") == 0)), sets, check, "__first" if replay else "__rn"
            )
            out_df = out_df if own is None else own.df
        # the parent side of the foreign keys, for the rows REPLACE
        # removed and the keys DO UPDATE moved
        removes = action in ("replace", "update")
        res = check((existing, out_df, "update" if action == "update" else "delete") if removes else None)
        n = int(res["n"]) if changes is None else changes
        k = int(res["k"])
        hw, last = st.high_water, self._last_insert_id
        if k and rc:
            hw, last = max(hw, int(res["mx"])), int(res["last"][rc])
        elif k:
            hw = last = hw + k
        if n:
            new_st = overlay.catalog.materialize(t, TableState(tdef, out_df, hw, st.version + 1))
            overlay.put(t, new_st)
        self._last_insert_id = last
        if after is not None:
            after()
            self._last_insert_id = last  # body inserts must not leak out
        return Response(last_insert_id=last, rows_affected=n)

    def _conflict(self, tdef: TableDef, ins, cols: list) -> tuple:
        """An INSERT's conflict action — None (ABORT), "ignore",
        "replace", "nothing" or "update" — with the key sets it resolves
        and, for DO UPDATE, the SET map and WHERE. An upsert's target
        defaults to every uniqueness constraint; a rowid set is left out
        where every id is auto-assigned (such ids never conflict), except
        as a DO UPDATE target."""
        rc = tdef.rowid_column
        if ins.on_conflict is None and not (ins.or_ignore or ins.or_replace):
            return None, [], {}, None
        sets, where = {}, None
        targets = [list(u) for u in tdef.unique]
        if rc and [rc] not in targets:
            targets.insert(0, [rc])  # the hidden rowid of an implicit table
        if ins.on_conflict is None:
            action = "ignore" if ins.or_ignore else "replace"
        else:
            action, target = ins.on_conflict[0], ins.on_conflict[1]
            # the hidden rowid counts as a constraint only where the batch
            # supplies rowids, else every 1-unique implicit table would look
            # multi-constraint to a targetless DO UPDATE
            targets = [s for s in targets if s != [rc] or not tdef.implicit_rowid or rc in cols]
            if not target:
                if action == "update" and len(targets) > 1:
                    # modern SQLite fires targetless DO UPDATE on any
                    # constraint; with several constraints the row pairing
                    # is ambiguous — require a target
                    raise DustError('near "DO": syntax error')
                if not targets:
                    raise DustError(
                        "ON CONFLICT clause does not match any PRIMARY KEY or UNIQUE constraint"
                    )
            else:
                # ON CONFLICT(rowid): legal SQLite — resolves to the rowid
                # column (alias or hidden) unless a real column shadows it
                real = {f.name for f in tdef.schema.fields if f.name != dialect.HIDDEN_ROWID}
                tgt = [
                    rc if (c.lower() in ("rowid", "_rowid_", "oid") and c.lower() not in real and rc) else c.lower()
                    for c in target
                ]
                # the explicit target must NAME an actual uniqueness
                # constraint (column order-insensitive) — SQLite rejects
                # 'ON CONFLICT(x)' on a table whose PK is (x, y) (r6)
                if frozenset(tgt) not in {frozenset(s) for s in targets}:
                    raise DustError(
                        "ON CONFLICT clause does not match any PRIMARY KEY or UNIQUE constraint"
                    )
                targets = [tgt]
            if action == "update":
                sets = dict(ins.on_conflict[2])
                names = [f.name for f in tdef.schema.fields]
                unknown = [c for c in sets if c not in names]
                if unknown:
                    raise DustError(f"no such column: {unknown[0]}")
                for g in tdef.generated:
                    if g in sets:
                        raise DustError(f'cannot UPDATE generated column "{g}"')
                where = ins.on_conflict[3] if len(ins.on_conflict) > 3 else None
                return action, targets, sets, where
        return action, [s for s in targets if s != [rc] or rc in cols], sets, where

    def _assign_rowids(self, st: TableState, rows: DataFrame, exact: bool, lands=None) -> DataFrame:
        """``rows`` with their NULL rowids auto-assigned: sequentially in
        ``__rn`` order (``_seq_rowids``), or above the exactness gate by
        the parallel partition-offset approximation (a sequential scan
        would serialize billions of rows through one task)."""
        rc = st.tdef.rowid_column
        c = F.col(rc)
        if exact:
            c = self._seq_rowids(c, st.high_water, lands)
        else:
            c = F.coalesce(c, F.lit(st.high_water) + F.col("__rn"))
        return rows.withColumn(rc, c.cast(st.tdef.schema[rc].dataType))

    @staticmethod
    def _seq_rowids(c, high_water: int, lands=None):
        """Rowid column ``c`` with its NULLs auto-assigned the way
        SQLite does, SEQUENTIALLY over the batch order ``__rn``: each
        NULL id takes (max rowid seen so far, incl. larger EXPLICIT ids
        earlier in this batch) + 1. Closed form: id(rn) = A(rn) +
        max(high_water, max_{j<=rn, explicit}(E(j) − A(j))) where A =
        running count of auto rows; all-auto batches reduce to
        high_water + row_number. Rows where ``lands`` is false do not
        land: they take no id from the sequence, and an auto one reads
        the id it would have taken (its ``excluded.rowid``)."""
        land = F.lit(True) if lands is None else lands
        run = Window.orderBy("__rn").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        a_run = F.sum(F.when(c.isNull() & land, 1).otherwise(0)).over(run)
        e_base = F.max(F.when(c.isNotNull() & land, c.cast("long") - a_run)).over(run)
        hw = F.lit(high_water).cast("long")
        top = a_run + F.greatest(hw, F.coalesce(e_base, hw))
        return F.coalesce(c, F.when(land, top).otherwise(top + 1))

    @staticmethod
    def _batch_group(rows: DataFrame, sets: list, rc: str | None, high_water: int) -> bool:
        """Whether two of ``rows`` share a key in any of the key ``sets``
        (NULL keys never conflict), or, given the rowid column ``rc``, an
        auto-id row comes before an explicit id above ``high_water`` (the
        id the auto row takes may be that one): one Spark action."""
        probes = [
            rows.na.drop(subset=s).groupBy(*s).agg((F.count("*") > 1).alias("x")).select("x")
            for s in sets
        ]
        if rc:
            auto = F.min(F.when(F.col("__auto"), F.col("__rn")))
            probes.append(rows.agg((auto < F.max(F.when(F.col(rc) > high_water, F.col("__rn")))).alias("x")))
        return bool(reduce(DataFrame.unionAll, probes).agg(F.max("x")).first()[0])

    @staticmethod
    def _resolve_keys(rows: DataFrame, existing: DataFrame, sets: list, last: bool, in_batch: bool):
        """Set-based conflict resolution, for a batch whose outcome does
        not depend on row order (one key set, or no two rows sharing a
        key): ``__w`` = 1 on the rows that land. First row per key wins
        (OR IGNORE, DO NOTHING, DO UPDATE), and a row meeting a key an
        existing row holds does not land; or the last row per key wins
        (REPLACE), and the existing rows holding a batch key are deleted.
        NULL keys never conflict; ``in_batch`` ranks the rows of each key.
        Returns ``(rows, rest of the table)``."""
        w = F.lit(True)
        rest = existing
        for i, s in enumerate(sets):
            if in_batch:
                rank = Window.partitionBy(*s).orderBy(F.col("__rn").desc() if last else F.col("__rn"))
                free = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in s])
                w = w & (free | (F.row_number().over(rank) == 1))
            if last:
                # a USING join moves the key columns first: restore the
                # table's column order
                rest = rest.join(rows.select(*s).na.drop().distinct(), s, "left_anti").select(*existing.columns)
            else:
                held = existing.select(*s).na.drop().distinct().withColumn(f"__h{i}", F.lit(1))
                rows = rows.join(held, s, "left").select(*rows.columns, f"__h{i}")
                w = w & F.col(f"__h{i}").isNull()
        rows = rows.withColumn("__w", w.cast("int"))
        return rows.drop(*[f"__h{i}" for i in range(len(sets))]), rest

    def _upsert(
        self, tdef: TableDef, ins, rows: DataFrame, existing: DataFrame, target: list, sets: dict, where, moves: list
    ):
        """SQLite upsert's DO UPDATE SET (INSERT ... ON CONFLICT(target)
        DO UPDATE), set-based: each proposed row of ``rows`` that meets an
        existing row's ``target`` key (``__w`` = 0) applies its arm to that
        row, ``excluded.x`` reading the proposed row. The caller takes this
        path only where no two batch rows share a target key, so each
        existing row meets at most one arm; SQLite's row loop
        (``_insert_replay``) decides the rest. A WHERE gates each arm
        (sqlite3-probed: WHERE false leaves the row untouched AND does not
        count toward changes(); excluded.* and bare/table-qualified target
        columns are legal). Returns (the updated rows, ordered at their
        arm's ``__rn``, with their pre-image as ``__old_<col>``; the rest
        of the table; whether an arm changed one of the key columns
        ``moves``, which a later batch row may then meet — one Spark
        action, only when ``moves`` is given)."""
        fields = [f.name for f in tdef.schema.fields]

        def strip(e: str) -> str:
            e = re.sub(r"\bexcluded\.", "__exc_", e, flags=re.I)
            # table-qualified target refs (SET n = u1.n * 10) are legal
            return re.sub(rf"\b{re.escape(ins.table)}\.", "", e, flags=re.I)

        upd = "__exc_m = 1" + (f" AND coalesce(({strip(where)}), false)" if where else "")
        projs = [
            f"CAST(CASE WHEN {upd} THEN ({strip(sets[f.name])}) ELSE `{f.name}` END "
            f"AS {f.dataType.simpleString()}) AS `{f.name}`"
            if f.name in sets
            else f"`{f.name}`"
            for f in tdef.schema.fields
        ] + [f"CASE WHEN {upd} THEN 1 ELSE 0 END AS __upd", "__xrn AS __rn"] + [f"`{c}` AS `__old_{c}`" for c in fields]
        exc = rows.filter(F.col("__w") == 0).select(
            F.lit(1).alias("__exc_m"),
            F.col("__rn").alias("__xrn"),
            *[F.col(c).alias(f"__exc_{c}") for c in fields],
        )
        cond = reduce(lambda a, b: a & b, [existing[c] == exc[f"__exc_{c}"] for c in target])
        joined = existing.join(exc, cond, "left")
        if ins.with_sql:
            # WITH-CTE upserts: the CTEs are visible to DO UPDATE SET/WHERE
            # subqueries too (sqlite3-probed, r8)
            joined.createOrReplaceTempView("__dust_upsert_stage")
            marked = self.spark.sql(f"{ins.with_sql} SELECT {', '.join(projs)} FROM __dust_upsert_stage")
        else:
            marked = joined.selectExpr(*projs)
        marked = self._apply_generated(tdef, marked).localCheckpoint(eager=True)
        hit = F.col("__upd") == 1
        updated = marked.filter(hit).select(
            *fields, "__rn", F.lit(1).alias("__w"), F.lit(0).alias("__new"), *[f"__old_{c}" for c in fields]
        )
        moved = bool(moves) and marked.agg(
            F.max(F.when(hit & ~reduce(lambda a, b: a & b, [F.col(c).eqNullSafe(F.col(f"__old_{c}")) for c in moves]), 1))
        ).first()[0] is not None
        return updated, marked.filter(~hit).select(*fields), moved

    @staticmethod
    def _key_rows(df: DataFrame, sets: list, rows: list) -> list:
        """The rows of ``df`` (as dicts) holding a key of the row dicts
        ``rows`` in any of the key ``sets``: one filter on the batch's own
        keys and one collect, so it stays bounded by the batch. NULL keys
        never conflict."""
        cond = None
        for s in sets:
            for k in {tuple(r[c] for c in s) for r in rows}:
                if None in k:
                    continue
                kc = reduce(lambda a, b: a & b, [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(s, k)])
                cond = kc if cond is None else (cond | kc)
        return [] if cond is None else [r.asDict() for r in df.filter(cond).collect()]

    def _images_frame(self, tdef: TableDef, images: list) -> DataFrame:
        """The replay's row images (rn, image, landed, new, pre-image,
        first rn) as the write tail's rows frame, a rewritten row's
        pre-image as ``__old_<col>`` and the row that first rewrote it as
        ``__first``; generated columns recompute from the base columns."""
        fs = tdef.schema.fields
        schema = T.StructType(
            list(fs)
            + [T.StructField(c, t) for c, t in (("__rn", T.LongType()), ("__w", T.IntegerType()), ("__new", T.IntegerType()))]
            + [T.StructField(f"__old_{f.name}", f.dataType) for f in fs]
            + [T.StructField("__first", T.LongType())]
        )
        data = [
            tuple(d.get(f.name) for f in fs) + (int(rn), w, n) + tuple((o or {}).get(f.name) for f in fs) + (int(f0),)
            for rn, d, w, n, o, f0 in images
        ]
        return self._apply_generated(tdef, self.spark.createDataFrame(data, schema))

    def _insert_replay(
        self, overlay: Overlay, st: TableState, ins, action, targets: list, sets: dict, where, trig: dict, batch: list
    ):
        """SQLite's INSERT row loop (insert.c) over ``batch``, the
        (rn, auto, ok, row) of every proposed row in statement order,
        firing the row triggers as it goes (all sqlite3-probed):

        - BEFORE INSERT fires (an auto rowid reads -1); RAISE(IGNORE)
          skips the row entirely — no insert, no displacement, no id;
        - a row failing NOT NULL or CHECK under OR IGNORE (``ok`` false)
          is skipped;
        - a row meeting a held key of ``targets``: IGNORE and DO NOTHING
          skip it; REPLACE deletes every row holding one of its keys,
          firing their DELETE triggers (``trig`` holds them only under
          recursive_triggers) — an ignored delete leaves the row in
          place, so the insert fails its UNIQUE constraint; DO UPDATE
          applies its WHERE gate and SET to the held row as it stands
          (evolving across the batch), fires BEFORE/AFTER UPDATE (a
          BEFORE RAISE(IGNORE) keeps the row as it was), and an arm that
          moves the key vacates its old slot — moving onto a held key is
          a UNIQUE error;
        - otherwise the row lands, an auto id taking max(rowid)+1 (which
          ``excluded.rowid`` reads even when the row does not land), and
          AFTER INSERT fires.

        Returns ``(images, gone, changes)``: the rows frame of the write
        tail as (rn, image, landed, new, pre-image, first rn) — every
        proposed row, the final image of each landed row, and of each
        existing row an arm rewrote with its image before the statement
        and the row that first rewrote it — the rowid (or
        PRIMARY KEY) of each existing row REPLACE deleted or an arm
        rewrote, and changes(), which counts every insert and every
        applied arm. A body reading its own table sees the pre- or
        post-statement state where SQLite sees the row-partial image
        (documented)."""
        tdef = st.tdef
        fields = [f.name for f in tdef.schema.fields]
        rc = tdef.rowid_column
        idk = [rc] if rc else list(tdef.primary_key)
        # collated key columns compare as the engine's joins do (r9)
        norms = [[self._key_norm(tdef, c) or (lambda v: v) for c in s] for s in targets]

        def key(i: int, row: dict):
            k = tuple(fn(row[c]) for fn, c in zip(norms[i], targets[i]))
            return None if None in k else k

        def label(s: list) -> str:
            return ", ".join(f"{tdef.name}.{'rowid' if c == dialect.HIDDEN_ROWID else c}" for c in s)

        def hold(e: list) -> None:
            for i in range(len(targets)):
                k = key(i, e[0])
                if k is not None:
                    cur[(i, k)] = e

        # (set, key) -> [image, origin] of the row holding the key; the
        # origin is ("old", rowid key) for a row of the table, or
        # ("new", rn) for a row of the batch
        cur: dict = {}
        for d in self._key_rows(st.df, targets, [row for *_, row in batch]):
            hold([{c: d[c] for c in fields}, ("old", tuple(d[c] for c in idk))])
        wp = (ins.with_sql + " ") if ins.with_sql else ""
        cur_max = st.high_water
        images, fresh, rewritten, gone, n = [], {}, {}, set(), 0
        for rn, auto, ok, row in batch:
            if trig["b"] and self._fire_triggers(
                overlay, tdef, trig["b"], [(None, dict(row, **{rc: -1}) if auto else row)]
            ):
                continue
            if not ok:
                continue
            if auto:
                row = dict(row, **{rc: cur_max + 1})
            images.append((rn, row, 0, 1, None, rn))
            hits = []
            for i in range(len(targets)):
                e = cur.get((i, key(i, row)))
                if e is not None and not any(e is h for h, _ in hits):
                    hits.append((e, i))
            if hits and action in ("ignore", "nothing"):
                continue
            if hits and action == "update":
                e = hits[0][0]
                old = e[0]
                try:
                    if where is not None:
                        pred = self._subst_upsert_expr(where, old, row, ins.table, fields)
                        if not _sqlite_truthy(self._sql(f"{wp}SELECT ({pred}) AS __t", None).collect()[0][0]):
                            continue
                    projs = [
                        f"CAST(({self._subst_upsert_expr(sets[f.name], old, row, ins.table, fields)}) "
                        f"AS {f.dataType.simpleString()}) AS `{f.name}`"
                        if f.name in sets
                        else f"{_sql_literal(old[f.name])} AS `{f.name}`"
                        for f in tdef.schema.fields
                    ]
                    nr = self._sql(wp + "SELECT " + ", ".join(projs), None).collect()[0]
                except Exception as ex:  # noqa: BLE001
                    raise self._convert_raise(ex) from ex
                new = {c: nr[c] for c in fields}
                if self._fire_triggers(overlay, tdef, trig["ub"], [(old, new)]):
                    continue  # RAISE(IGNORE): no AFTER UPDATE, the row keeps OLD
                self._fire_triggers(overlay, tdef, trig["ua"], [(old, new)])
                was, now = key(0, old), key(0, new)
                if now != was:
                    del cur[(0, was)]
                    if now is not None:
                        if (0, now) in cur:
                            raise DustError(f"UNIQUE constraint failed: {label(targets[0])}")
                        cur[(0, now)] = e
                e[0] = new
                if rc:
                    try:  # a moved rowid raises the max
                        cur_max = max(cur_max, int(new[rc]))
                    except (TypeError, ValueError):
                        pass
                n += 1
                kind, at = e[1]
                if kind == "old":  # keeps the row's image from before the statement
                    rewritten[at] = (rn, new, *(rewritten[at][2:] if at in rewritten else (old, rn)))
                else:
                    fresh[at] = new
                continue
            for e, i in hits:  # REPLACE (an ABORT statement resolves no keys)
                for kk in [kk for kk, v in cur.items() if v is e]:
                    del cur[kk]
                if self._fire_triggers(overlay, tdef, trig["db"], [(e[0], None)]):
                    raise DustError(f"UNIQUE constraint failed: {label(targets[i])}")
                self._fire_triggers(overlay, tdef, trig["da"], [(e[0], None)])
                kind, at = e[1]
                if kind == "old":
                    gone.add(at)
                else:
                    del fresh[at]
            if rc:
                try:
                    cur_max = max(cur_max, int(row[rc]))
                except (TypeError, ValueError):
                    pass
            fresh[rn] = row
            hold([row, ("new", rn)])
            n += 1
            self._fire_triggers(overlay, tdef, trig["a"], [(None, dict(row))])
        images += [(rn, d, 1, 1, None, rn) for rn, d in fresh.items()]
        images += [(rn, d, 1, 0, o, f0) for rn, d, o, f0 in rewritten.values()]
        return images, gone | set(rewritten), n

    @staticmethod
    def _subst_upsert_expr(
        expr: str, old: dict, exc: dict, table: str, fields: list
    ) -> str:
        """DO UPDATE SET/WHERE expression with row context folded to
        literals: excluded.x → the incoming row's value, table-qualified
        or bare column references → the (evolving) target row's value.
        Bare references skip function-call positions.

        Spliced literals enter the text as opaque placeholders restored
        in ONE final pass, never re-scanned by later substitutions — the
        old splice-in-place version let the bare-column pass see the X
        prefix of an injected X'..' blob literal as a column named 'x'
        and corrupted it (r8 ADVICE regression: any blob/dynamic column
        whose name matches a literal prefix). String extraction up front
        also fuses source-text blob literals (X'..') with their string
        into one unmatchable token, so originals are safe too."""
        low = {c.lower(): c for c in fields}
        nonce = uuid.uuid4().hex[:12]
        held: list[str] = []

        def hold(text: str) -> str:
            held.append(text)
            return f"__dustph{nonce}x{len(held) - 1}__"

        # 1. pull literals, "quoted" identifiers and comments out
        text = dialect._map_tokens(expr, dialect._OPAQUE, lambda t: t if t[0] == "`" else hold(t))

        def ref_sub(row: dict):
            def sub(m):
                name = m.group(1)
                if name.startswith(f"__dustph{nonce}"):
                    return m.group(0)  # quoted ref after the dot: leave
                return hold(_sql_literal(row.get(low.get(name.lower(), name))))

            return sub

        text = re.sub(r"\bexcluded\s*\.\s*(\w+)", ref_sub(exc), text, flags=re.I)
        text = re.sub(
            rf"\b{re.escape(table)}\s*\.\s*(\w+)", ref_sub(old), text, flags=re.I
        )

        def bare(m):
            name = m.group(1)
            if name.lower() in low:
                return hold(_sql_literal(old[low[name.lower()]]))
            return name

        text = re.sub(
            r"(?<![\w.\"'`])([A-Za-z_]\w*)\b(?!\s*\()(?!\s*\.)", bare, text
        )
        # single-pass restore: replacements are never re-scanned
        return re.sub(
            rf"__dustph{nonce}x(\d+)__", lambda m: held[int(m.group(1))], text
        )

    def _with_insertion_index(self, src: DataFrame) -> tuple[DataFrame, int]:
        """Add ``__rn`` = 1..n in insertion order, in parallel: tag rows
        with (partition id, intra-partition position), collect only the
        per-partition counts (numPartitions tiny rows), and offset each
        partition's row_numbers — the zipWithIndex construction in
        DataFrame form. A global Window.orderBy would serialize the
        whole batch through a single task. Returns the frame and its
        row count n."""
        from pyspark.sql import types as T

        # pin the tagging: the counts job and the final insert would
        # otherwise evaluate the source twice, and partition ids are not
        # guaranteed stable across evaluations (AQE re-plans, LIMIT) —
        # an unseen pid would silently drop rows through the inner join
        tagged = (
            src.withColumn("__mid", F.monotonically_increasing_id())
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        counts = sorted(
            (r["__pid"], r["n"])
            for r in tagged.groupBy("__pid").agg(F.count("*").alias("n")).collect()
        )
        offsets, acc = [], 0
        for pid, n in counts:
            offsets.append((pid, acc))
            acc += int(n)
        schema = T.StructType(
            [T.StructField("__pid", T.IntegerType()), T.StructField("__off", T.LongType())]
        )
        if not offsets:
            return src.withColumn("__rn", F.lit(1).cast("long")), 0  # empty source
        off_df = self.spark.createDataFrame(offsets, schema)
        pw = Window.partitionBy("__pid").orderBy("__mid")
        return (
            tagged.withColumn("__pos", F.row_number().over(pw))
            .join(F.broadcast(off_df), "__pid")
            .withColumn("__rn", (F.col("__off") + F.col("__pos")).cast("long"))
            .drop("__mid", "__pid", "__off", "__pos")
        ), acc

    @contextmanager
    def _exposed_rowid_view(self, overlay: Overlay, name: str, st: TableState, sql: str):
        """Expose the hidden rowid of an implicit table through its
        registered view for the duration of a DML statement, so
        subqueries referencing the table (the classic ``DELETE ...
        WHERE rowid NOT IN (SELECT MIN(rowid) ... GROUP BY ...)`` dedup
        idiom) can resolve rowid. The visible projection of the CURRENT
        state (staged if the DML published, else the original) is
        restored on exit, error or not."""
        tdef = st.tdef
        if not (tdef.implicit_rowid and dialect.has_rowid_token(sql)):
            yield
            return
        view = self.catalog.view_name(name)
        st.df.createOrReplaceTempView(view)
        try:
            yield
        finally:
            cur = overlay.get(name) or st
            cur.visible_df().createOrReplaceTempView(view)

    def _update(self, overlay: Overlay, sql: str) -> Response:
        up = dialect.parse_update(sql)
        overlay = self._route(overlay, up.table)
        st = overlay.get(up.table)
        if st is None:
            if up.table in self.catalog.views:
                return self._view_update(overlay, up)
            raise DustError(f"no such table: {up.table}")
        with self._exposed_rowid_view(overlay, up.table, st, sql):
            return self._update_impl(overlay, st, up)

    def _update_impl(self, overlay: Overlay, st: TableState, up) -> Response:
        tdef = st.tdef
        where = dialect.resolve_rowid(up.where or "TRUE", tdef)
        where = self._dml_condition(where, tdef)
        real = {f.name for f in tdef.schema.fields if f.name != dialect.HIDDEN_ROWID}
        assigned = {}
        for c, e in dict(up.sets).items():
            # UPDATE t SET rowid = ... binds the rowid column (alias or
            # hidden) unless a real column shadows the name
            if c.lower() in ("rowid", "_rowid_", "oid") and c.lower() not in real and tdef.rowid_column:
                c = tdef.rowid_column
            # SET expressions take the runtime/static REAL→TEXT
            # rendering pass too (r13 altitude: UPDATE t SET tx = r||''
            # must store '1.0e+20', not Java's '1.0E20')
            assigned[c] = dialect.rewrite_real_text_contexts(
                dialect.resolve_rowid(e, tdef), self._tdef_class_map(tdef)
            )
        unknown = [c for c in assigned if c not in [f.name for f in tdef.schema.fields]]
        if unknown:
            raise DustError(f"no such column: {unknown[0]}")
        for g in tdef.generated:
            if g in assigned:
                raise DustError(f'cannot UPDATE generated column "{g}"')

        trig_b = self._table_triggers(up.table, "UPDATE", "BEFORE", assigned)
        trig_a = self._table_triggers(up.table, "UPDATE", "AFTER", assigned)
        # one pre-image serves conflict resolution, the triggers' OLD rows
        # and the old→new key map of FK ON UPDATE actions
        olds = []
        if up.or_action or trig_b or trig_a or self._fk_acts(overlay, up.table, assigned):
            olds = [f"`{f.name}` AS `__old_{f.name}`" for f in tdef.schema.fields]
        if up.from_sql is not None:
            if up.tail is not None:
                raise DustError("unsupported: UPDATE ... FROM with ORDER BY/LIMIT")
            marked = self._update_from(overlay, st, up, where, assigned, olds)
            return self._ok(self._row_change(overlay, st, up.table, marked, trig_b, trig_a, assigned, up.or_action)[0])

        # WITH-CTE DML: the CTE list prefixes the rewrite so SET/WHERE
        # subqueries can reference it (SQLite CTE-DML semantics)
        with_prefix = (up.with_sql + " ") if up.with_sql else ""
        where = self._stage_where(st, up.table, where, up.tail, with_prefix)
        if tdef.strict and assigned:
            # STRICT: evaluate each SET expression uncast over the
            # matched rows and run the storage-class matrix on it
            sels = ", ".join(
                f"({e}) AS `__sv{i}`" for i, e in enumerate(assigned.values())
            )
            vdf = self.spark.sql(
                f"{with_prefix}SELECT {sels} FROM __dust_stage AS `{up.table}` "
                f"WHERE coalesce(({where}), false)"
            )
            self._check_strict_types(
                tdef, vdf, [(f"__sv{i}", c) for i, c in enumerate(assigned)]
            )
        projs = []
        for f in tdef.schema.fields:
            if f.name in assigned:
                # the affine conversion wraps the SET expression INSIDE
                # the branch: wrapping the whole CASE would let Spark
                # type-unify the THEN/ELSE pair (string + bigint →
                # DOUBLE) and corrupt int64 values on UNassigned rows
                # through the double round-trip (r12 probe)
                conv = self._affine_cast_sql(assigned[f.name], f.dataType)
                projs.append(
                    f"CAST((CASE WHEN ({where}) THEN {conv} ELSE `{f.name}` END) "
                    f"AS {f.dataType.simpleString()}) AS `{f.name}`"
                )
            else:
                projs.append(f"`{f.name}`")
        # alias the staged view as the target table so correlated
        # subqueries (SET v = (SELECT ... WHERE b.id = t.id)) resolve
        marked = self.spark.sql(
            f"{with_prefix}SELECT {', '.join(projs + olds)}, "
            f"CASE WHEN ({where}) THEN 1 ELSE 0 END AS __m, {self._scan_key(tdef)} AS __ord "
            f"FROM __dust_stage AS `{up.table}`"
        )
        return self._ok(self._row_change(overlay, st, up.table, marked, trig_b, trig_a, assigned, up.or_action)[0])

    def _stage_where(self, st: TableState, table: str, where: str, tail, with_prefix: str) -> str:
        """Stage ``st`` as ``__dust_stage`` for an UPDATE or DELETE and
        return the statement's WHERE over it. With an ORDER BY/LIMIT
        ``tail`` (SQLITE_ENABLE_UPDATE_DELETE_LIMIT) the WHERE matches
        are ranked by the ORDER BY, or in scan order when it has none
        (sqlite3-probed: rowid order, not frame order), and the WHERE is
        restricted to the LIMIT/OFFSET-selected victims' row ids."""
        if tail is None:
            st.df.createOrReplaceTempView("__dust_stage")
            return where
        rid_df = st.df.withColumn("__rid", F.expr(self._scan_key(st.tdef))).localCheckpoint(eager=True)
        rid_df.createOrReplaceTempView("__dust_stage")
        tail = dialect.resolve_rowid(tail, st.tdef)
        if not re.match(r"ORDER\s+BY\b", tail, re.I):
            tail = f"ORDER BY __rid {tail}"
        self.spark.sql(
            f"{with_prefix}SELECT __rid AS __vrid FROM __dust_stage AS `{table}` "
            f"WHERE coalesce(({where}), false) {tail}"
        ).localCheckpoint(eager=True).createOrReplaceTempView("__dust_victims")
        return "`__rid` IN (SELECT __vrid FROM __dust_victims)"

    def _row_change(
        self, overlay: Overlay, st: TableState, table: str, marked: DataFrame, trig_b: list, trig_a: list,
        assigned=None, or_action=None, fk_parent: str | None = None,
    ) -> tuple[int, TableState]:
        """The shared tail of every UPDATE, UPDATE...FROM, DELETE and
        foreign-key action, over the statement's marked frame: the
        table's columns (an UPDATE's post-image), ``__m`` (1 on the rows
        it changes), ``__ord`` (SQLite's scan order: the old rowid, or a
        monotone id on WITHOUT ROWID tables) and, when an UPDATE's
        conflict resolution, triggers or FK ON UPDATE actions need it,
        the pre-image as ``__old_<col>``. ``assigned`` holds an UPDATE's
        SET columns and is None on a DELETE; ``fk_parent`` names the
        parent table when this is the child statement of a foreign-key
        action. Returns the change count and the table's new state,
        written when a row changed, except by an action on its own table
        (the parent statement writes that)."""
        tdef = st.tdef
        fields = [f.name for f in tdef.schema.fields]
        update = assigned is not None
        if or_action == "replace":
            marked = self._update_replace(tdef, marked)
        if update:
            marked = self._apply_generated(tdef, marked)
        marked = marked.localCheckpoint(eager=True)
        if or_action == "replace":
            gone, marked = marked.filter(F.col("__drop")), marked.filter(~F.col("__drop")).drop("__drop")

        def revert(back) -> DataFrame:
            # reverted rows keep their OLD image and don't count toward
            # changes() (sqlite3-probed; a LIMIT does not backfill)
            return marked.select(
                *[F.when(back, F.col(f"__old_{c}")).otherwise(F.col(c)).alias(c) if update else c for c in fields],
                F.when(back, F.lit(0)).otherwise(F.col("__m")).alias("__m"),
                *[c for c in marked.columns if c not in fields and c != "__m"],
            )

        admit = None
        if or_action == "ignore":
            back, admit = self._update_ignore(tdef, assigned, marked, bool(trig_b or trig_a))
            if back is not None:
                marked = revert(back)
        ignored, after = self._row_triggers(overlay, tdef, trig_b, trig_a, marked, update, admit)
        if ignored and fk_parent is not None:
            # a child row a trigger's RAISE(IGNORE) keeps still holds the
            # parent's old key, which SQLite's statement counter reports
            raise DustError("FOREIGN KEY constraint failed")
        if ignored:
            marked = revert(F.col("__ord").isin(ignored)).localCheckpoint(eager=True)
        hit = F.col("__m") == 1
        new_df = (marked if update else marked.filter(~hit)).select(*fields)
        if self._capture_returning:
            self._returning_df = marked.filter(hit).select(*fields)
            self._returning_table = table

        # the FK actions run before the constraint pass (SQLite changes
        # the row, runs its actions, and checks immediate foreign keys at
        # the end of the statement); a self-referencing one changes the
        # post-image. One pass then returns the change count and the
        # rowid high-water: max(rowid) over the rows that stay, or the
        # monotone one of an AUTOINCREMENT table, which only a moved
        # rowid raises (sqlite3-probed)
        rc = tdef.rowid_column
        stats = {"n": (F.when(hit, F.lit(1)), F.count)}
        if rc and (not tdef.autoincrement or rc in (assigned or ())):
            stats["mx"] = (F.col(rc) if update else F.when(~hit, F.col(rc)), F.max)

        def check(restrict=None):
            return self._check_constraints(
                overlay,
                tdef,
                marked,
                changed=hit if update else None,
                order=F.col("__ord"),
                assigned=set(assigned) if update else None,
                rest=marked.filter(~hit),
                ipk=True,
                restrict=restrict,
                stats=stats,
            )

        own = None
        if or_action == "replace":
            # the rows REPLACE deletes take their ON DELETE actions
            own = self._fk_actions(overlay, table, st, new_df, gone, None, check)
            new_df = new_df if own is None else own.df
        own = self._fk_actions(overlay, table, st, new_df, marked.filter(hit), assigned, check, "__ord") or own
        if own is not None:
            new_df = own.df
        res = check((st.df, new_df, "update" if update else "delete"))
        n, hw = int(res["n"]), st.high_water
        if "mx" in stats:
            mx = int(res["mx"] or 0)
            hw = max(hw, mx) if tdef.autoincrement else mx
        if own is not None and not tdef.autoincrement:
            hw = own.high_water  # the self-referencing actions' rows
        new_st = TableState(tdef, new_df, hw, st.version + 1)
        if n and table != fk_parent:
            new_st = overlay.catalog.materialize(table, new_st)
            overlay.put(table, new_st)
        after()
        return n, new_st

    def _apply_generated(self, tdef: TableDef, df: DataFrame) -> DataFrame:
        """(Re)compute GENERATED ALWAYS AS columns from the current row
        values — applied after every insert projection and update
        post-image (sequential, so a generated column may reference an
        earlier one, like SQLite)."""
        from pyspark.sql import types as T

        for g, expr in tdef.generated.items():
            dtype = next(f.dataType for f in tdef.schema.fields if f.name == g)
            # the generated expression takes the DML-condition sweep
            # (IN/BETWEEN expansion + column affinity — r12: flag AS
            # (tx IN (7, '9e1')) used to DATATYPE_MISMATCH at insert);
            # boolean results store 0/1 like SQLite, and the value then
            # takes the write-affinity cast
            cond = self._dml_condition(dialect.rewrite_sqlite_fns(self._dq_resolve(tdef, expr)), tdef)
            val = F.expr(cond)
            try:
                rtype = df.select(val.alias("__g")).schema[0].dataType
            except Exception:
                rtype = None
            if isinstance(rtype, T.BooleanType):
                val = val.cast("long")
                rtype = T.LongType()
            df = df.withColumn(g, self._affine_cast(val, rtype, dtype))
        return df

    def _update_ignore(self, tdef: TableDef, assigned, marked: DataFrame, replay: bool):
        """UPDATE OR IGNORE, decided row by row in scan order as SQLite
        does (sqlite3-probed): a changed row keeps its update unless it
        fails NOT NULL or CHECK, or one of its new UNIQUE keys (the
        rowid's included) is held at that moment — by a row the
        statement leaves alone, by a row already updated to it, or by
        an updated row still at its old key (later in the scan, or
        itself reverted). FK violations still error: conflict
        algorithms don't apply to foreign keys.

        Returns ``(revert, admit)``. One Spark action first looks for a
        key that a changed row claims and another row holds or claims.
        Without one, no decision depends on the order: unless triggers
        fire (``replay``), ``revert`` marks the rows that fail NOT NULL
        or CHECK and nothing is collected. Otherwise ``admit(ord, old,
        new)`` is the test that ``_row_triggers`` runs on each changed
        row, collected to the driver, after its BEFORE triggers; it
        tracks the keys of the rows it lets through."""
        upd = F.col("__m") == 1
        bad = F.lit(False)
        for c in tdef.not_null & set(assigned):
            bad = bad | F.col(c).isNull()
        for _lbl, expr in tdef.checks:
            bad = bad | ~F.expr(self._check_pass_sql(expr, tdef))
        # only a set with an assigned (or generated) column can change key
        eff = set(assigned) | set(tdef.generated)
        sets = [list(u) for u in tdef.unique if eff & set(u)]
        if tdef.rowid_column in eff and [tdef.rowid_column] not in sets:
            sets.append([tdef.rowid_column])
        probes = []
        for u in sets:
            # each key's claimants (__c = 1) and its holder before the
            # statement; __i is the row, NULL for a row left alone
            keys = marked.filter(upd).select(*u, F.col("__ord").alias("__i"), F.lit(1).alias("__c"))
            keys = keys.unionByName(
                marked.select(
                    *[F.when(upd, F.col(f"__old_{c}")).otherwise(F.col(c)).alias(c) for c in u],
                    F.when(upd, F.col("__ord")).alias("__i"),
                    F.lit(0).alias("__c"),
                )
            ).na.drop(subset=u)
            clash = (F.max("__c") == 1) & (
                (F.count("__i") < F.count("*")) | (F.min("__i") < F.max("__i"))
            )
            probes.append(keys.groupBy(*u).agg(clash.alias("x")))
        clash = bool(probes) and bool(reduce(DataFrame.unionAll, probes).agg(F.max("x")).first()[0])
        if not (clash or replay):
            return upd & bad, None
        if not clash:
            sets = []
        failing = {r[0] for r in marked.filter(upd & bad).select("__ord").collect()}
        norms = [[self._key_norm(tdef, c) or (lambda v: v) for c in u] for u in sets]

        def key(i: int, row) -> tuple | None:
            vals = tuple(fn(row[c]) for fn, c in zip(norms[i], sets[i]))
            return None if None in vals else vals  # NULLs never conflict

        # the holder of every key an update claims: None for a row the
        # statement leaves alone, else the updated row's __ord
        held = []
        for i, u in enumerate(sets):
            at = marked.select(
                *[F.when(upd, F.col(f"__old_{c}")).otherwise(F.col(c)).alias(c) for c in u],
                F.when(upd, F.col("__ord")).alias("__h"),
            )
            claimed = at.join(marked.filter(upd).select(*u), u, "left_semi")
            held.append({key(i, r): r["__h"] for r in claimed.collect()})

        def admit(o, old: dict, new: dict) -> bool:
            keys = [key(i, new) for i in range(len(sets))]
            if o in failing or any(k is not None and h.get(k, o) != o for h, k in zip(held, keys)):
                return False
            for i, (h, k) in enumerate(zip(held, keys)):
                prev = key(i, old)
                if prev is not None and h.get(prev) == o:
                    del h[prev]
                if k is not None:
                    h[k] = o
            return True

        return None, admit

    @staticmethod
    def _update_replace(tdef: TableDef, marked: DataFrame) -> DataFrame:
        """UPDATE OR REPLACE over the set-based post-image
        (sqlite3-probed): rows conflicting with an updated row's new key
        are DELETED (flagged ``__drop``), the last updated row in scan
        order (``__ord``) winning the key; changes() counts only the
        updates, like SQLite.

        Residual divergence (documented): SQLite visits the rowids it
        collected up front, so a row that moves onto a later row's rowid
        (deleting it) is updated once more from there — key chains
        resolve set-based here. FK violations still error: conflict
        algorithms don't apply to foreign keys."""
        upd = F.col("__m") == 1
        drop = F.lit(False)
        for colset in tdef.unique:
            nullk = None
            for c in colset:
                cnd = F.col(c).isNull()
                nullk = cnd if nullk is None else (nullk | cnd)
            w = Window.partitionBy(*colset)
            grp_cnt = F.count("*").over(w)
            has_upd = F.max(F.when(upd, 1).otherwise(0)).over(w)
            last_upd = F.max(F.when(upd, F.col("__ord"))).over(w)
            drop = drop | (
                ~nullk & (grp_cnt > 1) & (has_upd == 1) & (F.col("__ord") != last_upd)
            )
        # windows can't sit in a WHERE: the caller filters on the flag
        return marked.withColumn("__drop", drop)

    def _update_from(
        self,
        overlay: Overlay,
        st: TableState,
        up: "dialect.UpdateStmt",
        where: str,
        assigned: dict[str, str],
        olds: list[str],
    ) -> DataFrame:
        """The marked frame of ``UPDATE t SET ... FROM src WHERE ...``
        (SQLite >= 3.33, reached through the reference's pass-through
        db/src/db.rs:176), with the pre-image columns ``olds``. Each
        target row takes the SET values from its LAST matching source
        row in source scan order (probed against sqlite3: with matches
        100,200,300 the row ends at 300); rows_affected counts distinct
        target rows with at least one match, value-change or not. For a
        non-plain-table FROM (subquery/join) SQLite documents the chosen
        row as unspecified — we use join-output order there."""
        tdef = st.tdef
        t = up.table
        with_prefix = (up.with_sql + " ") if up.with_sql else ""
        rid = st.df.withColumn("__rid", F.expr(self._scan_key(tdef))).localCheckpoint(eager=True)
        rid.createOrReplaceTempView("__dust_upd_t")

        from_clause = up.from_sql
        pos_expr = "monotonically_increasing_id()"
        m = re.match(
            rf"^\s*({dialect._IDENT})\s*(?:AS\s+(\w+)|(\w+))?\s*;?\s*$",
            up.from_sql,
            re.I,
        )
        if m:
            src_name = dialect.unquote_ident(m.group(1)).lower()
            alias = m.group(2) or m.group(3) or src_name
            src_st = self._route(overlay, src_name).get(src_name)
            if src_st is not None:
                src_st.df.withColumn(
                    "__pos", F.monotonically_increasing_id()
                ).localCheckpoint(eager=True).createOrReplaceTempView("__dust_upd_s")
                from_clause = f"__dust_upd_s AS `{alias}`"
                pos_expr = f"`{alias}`.__pos"

        sels = ", ".join(f"({e}) AS `__v{i}`" for i, e in enumerate(assigned.values()))
        matches = self.spark.sql(
            f"{with_prefix}SELECT `{t}`.__rid AS __rid, {pos_expr} AS __pos, {sels} "
            f"FROM __dust_upd_t AS `{t}`, {from_clause} WHERE ({where})"
        )
        w = Window.partitionBy("__rid").orderBy(F.col("__pos").desc())
        winners = (
            matches.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__pos")
            .withColumn("__hit", F.lit(1))
        )
        idx = {c: i for i, c in enumerate(assigned)}
        cols = []
        for f in tdef.schema.fields:
            if f.name in assigned:
                cols.append(
                    F.when(
                        F.col("__hit") == 1, F.col(f"__v{idx[f.name]}").cast(f.dataType)
                    )
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        return rid.join(winners, "__rid", "left").select(
            *cols,
            F.coalesce(F.col("__hit"), F.lit(0)).alias("__m"),
            F.col("__rid").alias("__ord"),
            *[F.expr(o) for o in olds],
        )

    def _delete(self, overlay: Overlay, sql: str) -> Response:
        de = dialect.parse_delete(sql)
        overlay = self._route(overlay, de.table)
        st = overlay.get(de.table)
        if st is None:
            if de.table in self.catalog.views:
                return self._view_delete(overlay, de)
            raise DustError(f"no such table: {de.table}")
        with self._exposed_rowid_view(overlay, de.table, st, sql):
            return self._delete_impl(overlay, st, de)

    def _delete_impl(self, overlay: Overlay, st: TableState, de) -> Response:
        tdef = st.tdef
        with_prefix = (de.with_sql + " ") if de.with_sql else ""
        where = "TRUE"
        if de.where is not None:
            where = self._dml_condition(dialect.resolve_rowid(de.where, tdef), tdef)
        where = self._stage_where(st, de.table, where, de.tail, with_prefix)
        # one marked copy of the stage: the count, the survivors' max
        # rowid and the parent-side FK check are one aggregate over it
        marked = self.spark.sql(
            f"{with_prefix}SELECT {', '.join(f'`{f.name}`' for f in tdef.schema.fields)}, "
            f"CASE WHEN ({where}) THEN 1 ELSE 0 END AS __m, {self._scan_key(tdef)} AS __ord "
            f"FROM __dust_stage AS `{de.table}`"
        )
        trig_b = self._table_triggers(de.table, "DELETE", "BEFORE")
        trig_a = self._table_triggers(de.table, "DELETE", "AFTER")
        return self._ok(self._row_change(overlay, st, de.table, marked, trig_b, trig_a)[0])

    def _check_strict_types(self, tdef: TableDef, df: DataFrame, pairs) -> None:
        """STRICT table type enforcement (sqlite3-probed matrix,
        lang_createtable.html#strict): BLOB columns take only blobs;
        TEXT takes anything except blobs (numbers stringify); REAL
        takes numbers and numeric text; INT/INTEGER additionally
        requires an integral value (2.0 and '3' pass, 1.5 and '3.7'
        raise as REAL, 'abc' raises as TEXT). ANY columns skip (stored
        through the TEXT affinity — typeof divergence documented in
        COVERAGE.md). pairs = [(df column, declared target column)]."""
        if not tdef.strict:
            return
        dtypes = {f.name: f.dataType for f in df.schema.fields}

        def storage_class(dt) -> str:
            if isinstance(dt, T.StringType):
                return "TEXT"
            if isinstance(dt, T.BinaryType):
                return "BLOB"
            if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
                return "REAL"
            if isinstance(dt, T.NullType):
                return "NULL"
            return "INTEGER"

        for src, tgt in pairs:
            decl = (tdef.declared_types.get(tgt) or "").strip()
            fam = decl.upper()
            if fam not in ("INT", "INTEGER", "REAL", "TEXT", "BLOB"):
                continue  # ANY / non-strict metadata columns
            scls = storage_class(dtypes[src])
            if scls == "NULL":
                continue
            c = F.col(src)

            def fail(vcls):
                raise DustError(
                    f"cannot store {vcls} value in {decl} column {tdef.name}.{tgt}"
                )

            if fam == "BLOB":
                if scls != "BLOB" and df.filter(c.isNotNull()).limit(1).count() > 0:
                    fail(scls)
            elif fam == "TEXT":
                if scls == "BLOB" and df.filter(c.isNotNull()).limit(1).count() > 0:
                    fail("BLOB")
            elif fam == "REAL":
                if scls == "BLOB":
                    if df.filter(c.isNotNull()).limit(1).count() > 0:
                        fail("BLOB")
                elif scls == "TEXT":
                    bad = c.isNotNull() & F.expr(f"try_cast(`{src}` AS DOUBLE)").isNull()
                    if df.filter(bad).limit(1).count() > 0:
                        fail("TEXT")
            else:  # INT / INTEGER
                if scls == "BLOB":
                    if df.filter(c.isNotNull()).limit(1).count() > 0:
                        fail("BLOB")
                elif scls == "TEXT":
                    d = F.expr(f"try_cast(`{src}` AS DOUBLE)")
                    if df.filter(c.isNotNull() & d.isNull()).limit(1).count() > 0:
                        fail("TEXT")
                    if df.filter(d.isNotNull() & (d != F.floor(d))).limit(1).count() > 0:
                        fail("REAL")
                elif scls == "REAL":
                    d = c.cast("double")
                    if df.filter(
                        c.isNotNull() & ((d != F.floor(d)) | F.isnan(d))
                    ).limit(1).count() > 0:
                        fail("REAL")

    def _fk_ref_columns(self, overlay: Overlay, child_tdef: TableDef, fk) -> tuple:
        """The parent key of ``fk`` in the parent's column names: its
        column list, or the parent's PRIMARY KEY for ``REFERENCES t``
        with none (SQLite lang_foreignkeys). An arity mismatch or a
        PK-less parent raises SQLite's 'foreign key mismatch'. Indexes
        are not recorded, so a key under a UNIQUE index is not checked
        for one."""
        if fk.ref_table == child_tdef.name:
            ptd = child_tdef
        else:
            pst = self._route(overlay, fk.ref_table).get(fk.ref_table)
            if pst is None:
                raise DustError(f"no such table: {fk.ref_table}")
            ptd = pst.tdef
        rcs = tuple(fk.ref_columns or ptd.primary_key)
        if not rcs or len(rcs) != len(fk.columns):
            raise DustError(
                f'foreign key mismatch - "{child_tdef.name}" referencing "{fk.ref_table}"'
            )
        names = {f.name.lower(): f.name for f in ptd.schema.fields}
        return tuple(names.get(c.lower(), c) for c in rcs)

    def _fk_actions(
        self, overlay: Overlay, table: str, st: TableState, post: DataFrame, changes: DataFrame, assigned, check,
        order: str | None = None,
    ) -> TableState | None:
        """SQLite's foreign-key actions for a statement that turns ``st``
        into ``post``: the ON DELETE actions of the rows it removed
        (``changes``, when ``assigned`` is None), or the ON UPDATE actions
        of the rows it changed (``changes``: ``__old_<col>`` next to the new
        image; ``assigned``: the SET columns). Each action is a statement on
        the child through the row-change tail, as in SQLite: ON DELETE
        CASCADE deletes the child rows of an old key, every other action
        updates their key columns (to the new key, NULL or the column
        default), with the child's triggers, generated columns, one
        constraint pass (its keys against ``post``: SQLite changes the
        parent row before its actions run) and the child's own actions.
        One Spark action finds the children that have rows to change.
        When an action fails, ``check()``, the statement's own constraint
        pass, runs first: SQLite checks a row's NOT NULL, CHECK and UNIQUE
        before its actions run, and foreign keys at the end of the
        statement. Its failure wins unless the actions of the rows before
        the failing one (``changes``' ``order`` column, when known) fail
        too. A failed statement's actions add nothing to total_changes().
        Returns the table's state after its self-referencing
        actions (None when none ran) for the caller to write."""
        update = assigned is not None
        acts = self._fk_acts(overlay, table, assigned)
        if not acts:
            return None

        def marked(child: TableState, fk, rcs: tuple) -> DataFrame:
            # the child's rows, __m on those holding an old key, with the
            # new key (__n<j>) they take on an ON UPDATE CASCADE
            ks = [f"__k{j}" for j in range(len(rcs))]
            old = [F.col(f"__old_{c}" if update else c).alias(k) for c, k in zip(rcs, ks)]
            if update:
                moved = reduce(lambda a, b: a | b, [~F.col(f"__old_{c}").eqNullSafe(F.col(c)) for c in rcs])
                hits = changes.filter(moved).select(*old, *[F.col(c).alias(f"__n{j}") for j, c in enumerate(rcs)])
            else:
                hits = changes.select(*old)
            if not any({c.lower() for c in u} == {c.lower() for c in rcs} for u in st.tdef.unique):
                hits = hits.distinct()  # a UNIQUE index is not enforced: a key may repeat
            on = reduce(lambda a, b: a & b, [F.col(c) == F.col(k) for c, k in zip(fk.columns, ks)])
            tdef = child.tdef
            joined = child.df.withColumn("__ord", F.expr(self._scan_key(tdef))).join(
                hits.withColumn("__hit", F.lit(1)), on, "left"
            )
            hit = F.col("__hit").isNotNull()
            action = fk.on_update if update else fk.on_delete
            fields = [f.name for f in tdef.schema.fields]
            if not update and action == "CASCADE":
                return joined.select(*fields, F.when(hit, 1).otherwise(0).alias("__m"), "__ord")
            new = {}
            for j, c in enumerate(fk.columns):
                d = tdef.defaults.get(c) if action == "SET DEFAULT" else None
                new[c] = F.col(f"__n{j}") if action == "CASCADE" else F.expr(d) if d is not None else F.lit(None)
            return joined.select(
                *[
                    F.when(hit, new[f.name].cast(f.dataType)).otherwise(F.col(f.name)).alias(f.name)
                    if f.name in new
                    else f.name
                    for f in tdef.schema.fields
                ],
                *[F.col(c).alias(f"__old_{c}") for c in fields],
                F.when(hit, 1).otherwise(0).alias("__m"),
                "__ord",
            )

        own_st = TableState(st.tdef, post, st.high_water, st.version)
        probe = reduce(
            lambda a, b: a.unionByName(b),
            [
                marked(own_st if child == table else cst, fk, rcs).select(
                    F.when(F.col("__m") == 1, F.lit(i)).alias("__a")
                )
                for i, (child, cst, fk, rcs) in enumerate(acts)
            ],
        )
        # one partition: under adaptive execution the exchange a global
        # aggregate needs is a Spark job of its own
        found = set(probe.coalesce(1).agg(F.collect_set("__a")).first()[0])
        if not found:
            return None
        # the children's constraint passes read the parent's post-image;
        # the caller's write replaces it, a failure rolls it back
        snap, total = overlay.snapshot(), self._total_changes
        self._route(overlay, table).put(table, own_st)
        own = None
        capture, self._capture_returning = self._capture_returning, False
        try:
            for i, (child, _, fk, rcs) in enumerate(acts):
                if i not in found:
                    continue
                cst = own_st if child == table else self._route(overlay, child).get(child)
                cols = list(fk.columns) if update or fk.on_delete != "CASCADE" else None
                event = "DELETE" if cols is None else "UPDATE"
                with self._trigger_level(" fk"):
                    n, res = self._row_change(
                        overlay,
                        cst,
                        child,
                        marked(cst, fk, rcs),
                        self._table_triggers(child, event, "BEFORE", cols),
                        self._table_triggers(child, event, "AFTER", cols),
                        cols,
                        fk_parent=table,
                    )
                self._total_changes += n  # an action's rows count, as a trigger body's do
                if child == table:
                    own = own_st = res
                    self._route(overlay, table).put(table, own_st)
        except DustError as act:
            self._total_changes = total
            first = act
            try:
                check()
            except DustError as e:
                if str(e) != "FOREIGN KEY constraint failed":
                    first = e
                    if order is not None and e.row is not None:
                        # SQLite runs each row's actions right after its
                        # own checks: an earlier row's failing action wins
                        # unless it fails a foreign key (checked at the end)
                        overlay.restore_snapshot(snap)
                        try:
                            early = changes.filter(F.col(order) < e.row)
                            self._fk_actions(overlay, table, st, post, early, assigned, lambda: None)
                        except DustError as pre:
                            first = e if str(pre) == "FOREIGN KEY constraint failed" else pre
                        self._total_changes = total
            raise first from None
        finally:
            self._capture_returning = capture
        return own

    @staticmethod
    def _refs(expr: str, col: str) -> bool:
        """Whether SQL text ``expr`` names column ``col`` (a name token,
        quoted or not) — the reference test SQLite applies before
        re-checking a CHECK or generated column on UPDATE."""
        return any(
            t[0] in ("word", "qid") and dialect.unquote_ident(t[1]).lower() == col.lower()
            for t in dialect.tokens(expr)
        )

    @staticmethod
    def _unique_order(tdef: TableDef) -> list[list[str]]:
        """UNIQUE sets other than the INTEGER PRIMARY KEY, in SQLite's
        check order. SQLite prepends each new index to the table's
        list, so the sets run in reverse declaration order
        (sqlite3-probed: ``UNIQUE a, b, c`` reports ``t.c``). The
        parser files a non-rowid PRIMARY KEY first; it goes back to its
        column's place, a composite one after the column-level sets."""
        sets = [list(u) for u in tdef.unique if u != [tdef.rowid_column]]
        pk = list(tdef.primary_key)
        if pk in sets:
            sets.remove(pk)
            names = [f.name for f in tdef.schema.fields]

            def later(u: list) -> bool:
                return len(u) > 1 or (
                    len(pk) == 1 and names.index(u[0]) > names.index(pk[0])
                )

            sets.insert(next((i for i, u in enumerate(sets) if later(u)), len(sets)), pk)
        return sets[::-1]

    def _check_constraints(
        self,
        overlay: Overlay,
        tdef: TableDef,
        rows: DataFrame,
        *,
        changed=None,
        check_all: bool = False,
        order=None,
        key_order=None,
        assigned=None,
        rest: DataFrame | None = None,
        ipk: bool = False,
        restrict: tuple | None = None,
        stats: dict | None = None,
        broadcast: bool = False,
    ):
        """The statement's constraint pass: ONE Spark action that returns
        the caller's ``stats`` aggregates over ``rows`` and raises the
        first failing constraint, with SQLite's error text.

        ``rows`` filtered by ``changed`` are the rows the statement
        writes (``changed=None``: it writes none, as in a DELETE), taken
        in ``order``; NOT NULL and CHECK test the written ones, or every
        row of ``rows`` (``check_all``). Of two written rows sharing a key,
        the later by ``key_order`` (default: ``order``) fails; ``rest`` is the rest of the table's post-image.
        ``stats`` maps a name to ``(column over rows, aggregate)``; the
        aggregate must ignore NULLs. ``restrict=(pre, post, dml)`` adds
        the parent side for NO ACTION / RESTRICT children of keys the
        statement removed from this table (in ``pre``, not in ``post``);
        on a one-row UPDATE, children of the key it added offset them.

        Precedence (sqlite3-probed): the first failing row wins; within
        a row, NOT NULL in column declaration order, then CHECK in
        declaration order, then the rowid (``ipk``), then the other
        UNIQUE sets in reverse declaration order; an immediate FOREIGN
        KEY failure is reported only when no row fails anything else.

        SQLite skips what cannot fail, and so does this pass. An UPDATE
        (``assigned`` = its SET columns) checks NOT NULL, CHECK, UNIQUE
        and child foreign keys only where they involve an assigned
        column, and only on the changed rows; the parent side only for
        keys it assigns. The caller drops the rowid set when every id
        is auto-assigned (``ipk``).

        Row-local tests are flag columns of the written rows; each
        UNIQUE set and foreign key is a tagged branch of the same
        union, the written rows broadcast against the table when the
        caller knows they are few (``broadcast``). Everything reduces
        as ``min(struct(is_fk, order, rank))``."""
        stats = stats or {}
        name = tdef.name
        eff = None  # columns the statement changes; None = every column
        if assigned is not None:
            eff = set(assigned)
            for g, e in tdef.generated.items():  # recomputed from what changed
                if any(self._refs(e, c) for c in eff):
                    eff.add(g)

        def touched(cs) -> bool:
            return eff is None or bool(eff & set(cs))

        def vio(fk: int, o, r) -> "F.Column":
            return F.struct(
                F.lit(fk).alias("f"), o.cast("long").alias("o"), F.lit(r).cast("int").alias("r")
            )

        def eq(left: list, right: list):
            cond = None
            for a, b in zip(left, right):
                cond = (a == b) if cond is None else (cond & (a == b))
            return cond

        def not_null(cs: list):
            cond = None
            for c in cs:
                cond = F.col(c).isNotNull() if cond is None else (cond & F.col(c).isNotNull())
            return cond

        msgs: list[str] = []
        flags = []
        branches: list[DataFrame] = []
        if changed is not None:
            for f_ in tdef.schema.fields:
                if f_.name in tdef.not_null and touched([f_.name]):
                    flags.append(F.col(f_.name).isNull())
                    msgs.append(f"NOT NULL constraint failed: {name}.{f_.name}")
            for label, expr in tdef.checks:
                if eff is None or any(self._refs(expr, c) for c in eff):
                    flags.append(~F.expr(self._check_pass_sql(expr, tdef)))
                    msgs.append(f"CHECK constraint failed: {label}")
            staged = rows.filter(changed)
            sets = []
            if ipk and tdef.rowid_column and touched([tdef.rowid_column]):
                label = "rowid" if tdef.implicit_rowid else tdef.rowid_column
                sets.append(([tdef.rowid_column], f"{name}.{label}"))
            sets += [
                (u, ", ".join(f"{name}.{c}" for c in u))
                for u in self._unique_order(tdef)
                if touched(u)
            ]
            for u, label in sets:
                r = len(msgs)
                msgs.append(f"UNIQUE constraint failed: {label}")
                ks = [f"__k{j}" for j in range(len(u))]
                qs = [f"__q{j}" for j in range(len(u))]
                keys = staged.filter(not_null(u)).select(
                    *[F.col(c).alias(k) for c, k in zip(u, ks)],
                    order.cast("long").alias("__o"),
                    (order if key_order is None else key_order).cast("long").alias("__ko"),
                )
                keys_b = F.broadcast(keys) if broadcast else keys
                if rest is not None:
                    # a written row meeting a key the table keeps
                    other = rest.select(*[F.col(c).alias(q) for c, q in zip(u, qs)])
                    branches.append(
                        other.join(keys_b, eq([F.col(q) for q in qs], [F.col(k) for k in ks]))
                        .select(vio(0, F.col("__o"), r).alias("__v"))
                    )
                # an earlier written row with the same key
                prior = keys.select(*[F.col(k).alias(q) for k, q in zip(ks, qs)], F.col("__ko").alias("__p"))
                cond = eq([F.col(k) for k in ks], [F.col(q) for q in qs]) & (F.col("__ko") > F.col("__p"))
                branches.append(
                    keys.join(F.broadcast(prior) if broadcast else prior, cond)
                    .select(vio(0, F.col("__o"), r).alias("__v"))
                )
        fk_rank = len(msgs)
        msgs.append("FOREIGN KEY constraint failed")
        if self._fk_enabled and changed is not None:
            for fk in tdef.foreign_keys:
                if not touched(fk.columns):
                    continue
                rcs = self._fk_ref_columns(overlay, tdef, fk)
                refs = [F.col(rc).alias(f"__ref{j}") for j, rc in enumerate(rcs)]
                if fk.ref_table == name:
                    parents = staged.select(*refs)
                    if rest is not None:
                        parents = parents.unionByName(rest.select(*refs))
                else:
                    ref_st = overlay.get(fk.ref_table)
                    if ref_st is None:
                        raise DustError(f"no such table: {fk.ref_table}")
                    parents = ref_st.df.select(*refs)
                on = eq([F.col(c) for c in fk.columns], [F.col(f"__ref{j}") for j in range(len(rcs))])
                branches.append(
                    staged.filter(not_null(fk.columns))
                    .join(parents, on, "left_anti")
                    .select(vio(1, F.lit(0), fk_rank).alias("__v"))
                )
        counts: list[DataFrame] = []
        if restrict is not None and self._fk_enabled:
            # SQLite's statement counter, per written row: +1 per child
            # of the old key, then, on UPDATE and only while the counter
            # is not zero, -1 per child of the new key (sqlite3-probed:
            # UPDATE p SET id = 99 WHERE id = 1 passes when a dangling
            # child points at 99). Over key sets that sum is exact for
            # one changed row; with several the skip depends on row
            # order, so they fail on any child of a removed key
            pre, post, dml = restrict
            for child, cst, fk in self._fk_children(overlay, name):
                if (fk.on_delete if dml == "delete" else fk.on_update) not in ("NO ACTION", "RESTRICT"):
                    continue  # its action (_fk_actions) leaves no child of a removed key
                rcs = self._fk_ref_columns(overlay, cst.tdef, fk)
                if not touched(rcs):
                    continue
                refs = [f"__ref{j}" for j in range(len(rcs))]

                def keys(df: DataFrame) -> DataFrame:
                    return df.select(*[F.col(rc).alias(r) for rc, r in zip(rcs, refs)]).na.drop()

                kids = (post if child == name else cst.df).filter(not_null(fk.columns))
                on = eq([F.col(c) for c in fk.columns], [F.col(r) for r in refs])
                sides = [(keys(pre).join(keys(post), refs, "left_anti"), "__fkp")]
                if dml == "update":
                    sides.append((keys(post).join(keys(pre), refs, "left_anti"), "__fkm"))
                for side, tag in sides:
                    counts.append(kids.join(side, on).select(F.lit(1).alias(tag)))
        if not flags and not branches and not counts and not stats:
            return None
        rank = F.coalesce(*[F.when(fl, F.lit(i)) for i, fl in enumerate(flags)]) if flags else None
        v = (
            F.when((F.lit(True) if check_all else changed) & rank.isNotNull(), vio(0, order, rank))
            if rank is not None
            else F.lit(None).cast("struct<f:int,o:bigint,r:int>")
        )
        tally = {}  # changed rows, children of removed keys, of added keys
        if counts:
            none = F.lit(None).cast("int")
            chg = F.when(changed, F.lit(1)) if changed is not None else none
            tally = {"__chg": chg, "__fkp": none, "__fkm": none}
        u = rows.select(
            v.alias("__v"),
            *[c.alias(t) for t, c in tally.items()],
            *[c.alias(f"__s_{k}") for k, (c, _) in stats.items()],
        )
        for b in branches + counts:
            u = u.unionByName(b, allowMissingColumns=True)
        res = u.agg(
            F.min("__v").alias("__v"),
            *[F.count(t).alias(t) for t in tally],
            *[fn(F.col(f"__s_{k}")).alias(k) for k, (_, fn) in stats.items()],
        ).collect()[0]
        if res["__v"] is not None:
            raise DustError(msgs[res["__v"]["r"]], res["__v"]["o"])
        if counts and res["__fkp"] and (res["__fkp"] > res["__fkm"] or res["__chg"] != 1):
            raise DustError(msgs[fk_rank])
        return res

    # ------------------------------------------------------------------
    # read path helpers
    # ------------------------------------------------------------------

    def _sql(self, sql: str, params: list[Any] | None) -> DataFrame:
        # SCALE SCOPE (r13, by design): this SQL surface is the
        # SQLite-parity OLTP path — the reference serializes every
        # statement behind a global mutex (http/src/service.rs:140)
        # against SQLite-sized tables. A no-PARTITION-BY ranking window
        # (RANK()/ROW_NUMBER()/NTILE() OVER (ORDER BY ...)) issued here
        # plans Spark's Exchange SinglePartition, which is the correct
        # trade at OLTP scale and a trap at analytics scale. The
        # scale-safe decompositions live in dust_spark.skew
        # (global_row_number / distributed_rank / broadcast_dense_rank)
        # and are what the analytics catalog uses (queries.py b5a/b5e);
        # they are NOT auto-routed from SQL because the right
        # decomposition depends on key cardinality (broadcast ranks
        # need low-cardinality keys; range-partition ranks pay two
        # passes), which this layer cannot know without stats. See
        # COVERAGE.md "Global windows in user SQL".
        #
        # SQLite's EXPLAIN QUERY PLAN prefix maps to plain EXPLAIN (the
        # plan text is engine-specific by nature in both systems)
        sql = re.sub(r"^(\s*)EXPLAIN\s+QUERY\s+PLAN\b", r"\1EXPLAIN", sql, flags=re.I)
        sql = dialect.escape_raw_literals(sql)
        # LIMIT/OFFSET expressions evaluate statically with SQLite's
        # OP_MustBeInt conversion (r12); runs ONCE at entry, before the
        # fragment-level rewrite layers
        try:
            sql = dialect.rewrite_limit_offset(sql)
            # window-frame offsets evaluate statically with SQLite's
            # non-negative-integer/number rule (r13) — before the
            # GROUPS/EXCLUDE rewrites so they see normalized bounds
            sql = dialect.rewrite_frame_bounds(sql)
        except ValueError as e:
            raise DustError(str(e)) from e
        sql = dialect.rewrite_sqlite_fns(sql)
        # IN-list member / BETWEEN bound affinity (r12): both expand to
        # plain comparisons BEFORE the affinity-aware sweep so each
        # member/bound takes the comparison-affinity rewrites exactly
        # like '=' (window-frame BETWEEN guarded out)
        cls_map = self._int_cols_in_scope(sql)
        # simple CASE desugars to searched CASE (r13) so WHEN operands
        # become '=' comparisons and take the affinity machinery
        sql = dialect.rewrite_simple_case(sql)
        sql = dialect._expand_between(sql)
        # r13: the class map lets bare-column members expand too, under
        # the LHS-affinity-only IN rule (closes the tx IN (i) edge)
        sql = dialect._expand_in_lists(sql, cls_map)
        # sum() over TEXT-affinity columns takes SQLite's per-value
        # numeric-prefix conversion (r13 aggregate-argument position)
        sql = dialect.rewrite_text_sums(sql, cls_map)
        # REAL columns in text-conversion contexts render with SQLite's
        # %!.15g via the __sqlite_real_text UDF (r13)
        sql = dialect.rewrite_real_text_contexts(sql, cls_map)
        # second typed-ops sweep, now column-affinity-aware: INTEGER
        # columns of the tables in scope make x/2 integer division,
        # exactly as their LongType storage implies
        sql = dialect.rewrite_typed_ops(sql, cls_map)
        sql = dialect.rewrite_attached_names(sql, self._attached_prefixes())
        # last_insert_rowid() is connection state in SQLite — inline the
        # session's current value as a literal (string-literal aware,
        # like every other rewrite layer: 'last_insert_rowid()' inside a
        # quoted string must not be mangled)
        _lir = re.compile(r"\blast_insert_rowid\s*\(\s*\)", re.I)
        _chg = re.compile(r"\btotal_changes\s*\(\s*\)", re.I)
        _chg1 = re.compile(r"\bchanges\s*\(\s*\)", re.I)

        def _conn_state(seg: str) -> str:
            seg = _lir.sub(str(int(self._last_insert_id)), seg)
            seg = _chg.sub(str(int(self._total_changes)), seg)
            return _chg1.sub(str(int(self._changes)), seg)

        sql = dialect._map_outside_strings(sql, _conn_state)
        if re.search(r"\bsqlite_(master|schema)\b", sql, re.I):
            self._register_sqlite_master()
        if re.search(r"\bsqlite_sequence\b", sql, re.I):
            self._register_sqlite_sequence()
        sql = self._register_pragma_tvfs(sql)
        # LAST text transform: double-quoted identifiers → backticks
        # (earlier rewrite layers treat "..." as opaque strings, which
        # protects the contents; Spark needs backticks to resolve them).
        # dq_source keeps the pre-conversion text for the deprecated
        # SQLite fallback: an UNRESOLVABLE double-quoted token is a
        # string literal (legal in the reference's own tests) — handled
        # by the UNRESOLVED_COLUMN retry below.
        dq_source = sql
        sql = dialect.dquote_idents_to_backticks(sql)
        fm = (
            dialect.UNSUPPORTED_FRAME_RE.search(sql)
            if re.search(r"\bOVER\s*\(", sql, re.I)  # frame clauses live in OVER()
            else None
        )
        if fm:
            # GROUPS frames rewrite to the dense_rank + RANGE
            # equivalence when the statement has the simple shape;
            # EXCLUDE clauses (and unrewritable GROUPS) stay loudly
            # rejected — no Spark window equivalent (EXCLUDE NO OTHERS,
            # the no-op default, was already stripped)
            if re.search(r"\bEXCLUDE\b", sql, re.I):
                # GROUPS first (peers == RANGE-on-dense_rank peers, so
                # EXCLUDE semantics carry over the rewritten frame),
                # then min/max EXCLUDE on RANGE frames (dense-rank
                # flank decomposition, r7), then invertible-aggregate
                # EXCLUDE frames by subtraction; anything else stays
                # rejected
                # non-straddling RANGE/GROUPS frames first: their
                # EXCLUDE clauses are provable no-ops and just strip
                base = dialect.strip_noop_excludes(sql)
                if re.search(r"\bGROUPS\b", base, re.I):
                    g = dialect.rewrite_groups_frames(base)
                    if g is not None:
                        base = g
                if re.search(r"\bEXCLUDE\b", base, re.I):
                    pre = dialect.rewrite_exclude_minmax_range(base)
                    alt = dialect.rewrite_exclude_frames(
                        pre if pre is not None else base
                    )
                    if alt is None:
                        alt = pre
                else:
                    # every EXCLUDE was a non-straddling no-op
                    alt = base
            else:
                alt = dialect.rewrite_groups_frames(sql)
            if alt is not None and not dialect.UNSUPPORTED_FRAME_RE.search(alt):
                sql = alt
            else:
                raise DustError(
                    f"unsupported: window frame clause {fm.group(0).upper()} "
                    "(SQLite GROUPS/EXCLUDE frames)"
                )
        sql, restore = self._resolve_read_rowid(sql, self._explicit_tx)
        if re.search(r"\bHAVING\b", sql, re.I):
            # PROACTIVE truthiness wrap for HAVING only (r11): Spark
            # silently CAST-coerces a string having-condition to
            # boolean ('7abc' -> NULL) instead of raising, so the
            # FILTER_NOT_BOOLEAN retry below can never fire there
            alt = dialect.wrap_where_truthy(sql, only_having=True)
            if alt is not None:
                sql = alt
        if params:
            sql, params = dialect.normalize_numbered_params(sql, params)

        def run(s: str) -> DataFrame:
            if params:
                return self.spark.sql(s, args=list(params))
            return self.spark.sql(s)

        first_err: Exception | None = None
        try:
            for _ in range(8):
                try:
                    return run(sql)
                except Exception as e:
                    if first_err is None:
                        first_err = e
                    msg = str(e)
                    if "UNRESOLVED_COLUMN" in msg:
                        # deprecated SQLite fallback: a double-quoted
                        # token that resolves to no column is a string
                        # literal — swap that ONE token and loop (the
                        # reference's own tests use "..." strings)
                        alt = dialect.dquote_to_literal(dq_source, _unresolved_name(msg))
                        if alt != dq_source:
                            dq_source = alt
                            sql = dialect.dquote_idents_to_backticks(dq_source)
                            continue
                        break
                    if "MISSING_AGGREGATION" in msg:
                        # SQLite's bare-columns-in-aggregate-query rule
                        alt = dialect.rewrite_bare_group_columns(sql)
                    elif "FILTER_NOT_BOOLEAN" in msg or "DATATYPE_MISMATCH" in msg:
                        # SQLite truthiness of non-boolean conditions
                        alt = dialect.wrap_where_truthy(sql)
                    else:
                        break
                    if alt is None or alt == sql:
                        break
                    sql = alt
            raise DustError(_clean_error(first_err)) from first_err
        finally:
            if restore is not None:
                restore()

    @staticmethod
    def _tdef_class_map(tdef) -> dict:
        """Lowercased column → dialect._CLS_* map from one table's
        declared types (the _int_cols_in_scope affinity rules, single
        table — feeds the DML-condition sweep)."""
        out: dict[str, int] = {}
        for col, decl in tdef.declared_types.items():
            d = (decl or "").upper()
            if "INT" in d:
                c = dialect._CLS_INT
            elif "CHAR" in d or "CLOB" in d or "TEXT" in d:
                c = dialect._CLS_TEXT
            elif not d or "BLOB" in d or d == "ANY":
                continue  # dynamic storage class: no provable rewrites
            else:
                c = dialect._CLS_REAL
            out[col.lower()] = c
        return out

    @staticmethod
    def _affine_cast(c, src_type, data_type):
        """SQLite INTEGER-affinity write conversion (r12): numeric TEXT
        converts through REAL and stores INTEGER only when lossless —
        '9e1' stores 90 where the plain Spark cast NULLed it, and '2.5'
        / 2.5 store NULL rather than a silently TRUNCATED 2 (SQLite
        would keep them REAL under flexible typing, which a typed
        BIGINT column cannot hold — documented divergence class).
        Integral sources keep the plain cast (a double round-trip
        would corrupt int64 values past 2^53); non-integer targets
        keep the plain cast (string→double/any→string already match).
        r13 (ADVICE): integer-formed TEXT takes the same exact-int64
        first branch as :meth:`_affine_cast_sql` — the string
        round-trip check catches '9007199254740993' (which the double
        detour silently rounded to …992) and '9223372036854775807'
        (which it NULLed), exactly like SQLite's sqlite3Atoi64 path;
        scale-0 decimals join the integral bypass."""
        from pyspark.sql import types as T

        if not isinstance(data_type, (T.LongType, T.IntegerType, T.ShortType)):
            return c.cast(data_type)
        if isinstance(
            src_type,
            (T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.BooleanType),
        ) or (isinstance(src_type, T.DecimalType) and src_type.scale == 0):
            return c.cast(data_type)
        big = c.cast("bigint")
        canon = F.regexp_replace(
            F.regexp_replace(F.trim(c.cast("string")), r"^\+", ""),
            r"^(-?)0+(?=[0-9])",
            r"$1",
        )
        exact = big.isNotNull() & (big.cast("string") == canon)
        dbl = c.cast("double")
        lossless = (
            dbl.isNotNull()
            & (dbl == F.floor(dbl))
            & (dbl >= F.lit(-9.223372036854776e18))
            & (dbl < F.lit(9.223372036854776e18))
        )
        return (
            F.when(exact, big.cast(data_type))
            .when(lossless, dbl.cast(data_type))
            .otherwise(F.lit(None).cast(data_type))
        )

    @staticmethod
    def _affine_cast_sql(e: str, data_type) -> str:
        """SQL-string form of :meth:`_affine_cast` for the UPDATE SET
        projection (r12): exact integral values pass through (the
        string round-trip check keeps int64 exactness — no double
        detour), numeric text/reals convert through REAL when lossless
        ('9e1' → 90), everything else stores NULL."""
        from pyspark.sql import types as T

        ds = data_type.simpleString()
        if not isinstance(data_type, (T.LongType, T.IntegerType, T.ShortType)):
            return f"CAST(({e}) AS {ds})"
        d = f"try_cast(({e}) AS DOUBLE)"
        b = f"try_cast(({e}) AS BIGINT)"
        canon = (
            f"regexp_replace(regexp_replace(trim(CAST(({e}) AS STRING)), "
            f"'^\\\\+', ''), '^(-?)0+(?=[0-9])', '$1')"
        )
        return (
            f"(CASE WHEN {b} IS NOT NULL AND CAST({b} AS STRING) = {canon} "
            f"THEN CAST({b} AS {ds}) "
            f"WHEN {d} IS NOT NULL AND {d} = FLOOR({d}) "
            f"AND {d} >= -9.223372036854776E18 AND {d} < 9.223372036854776E18 "
            f"THEN CAST({d} AS {ds}) ELSE CAST(NULL AS {ds}) END)"
        )

    def _check_pass_sql(self, expr: str, tdef) -> str:
        """CHECK pass-predicate for one constraint expression (r12):
        the same IN/BETWEEN expansions + affinity sweep as DML WHERE,
        then SQLite TRUTHINESS (numeric-prefix — CHECK('abc') always
        FAILS where the old try_cast-to-BOOLEAN silently passed), with
        NULL passing per SQLite's rule."""
        cond = self._dml_condition(dialect.rewrite_sqlite_fns(self._dq_resolve(tdef, expr)), tdef)
        return f"coalesce({dialect.truthy_expr(cond)}, true)"

    def _dml_condition(self, cond: str, tdef) -> str:
        """DML WHERE strings take the same IN/BETWEEN expansions and the
        column-affinity typed sweep as the read path (r12: the
        statement-level sweep in _apply runs class-less, so
        `UPDATE ... WHERE tx BETWEEN 0 AND 99` and
        `DELETE ... WHERE i IN ('9', 0.0)` silently kept Spark
        coercions — sqlite3-probed divergences)."""
        try:
            cmap = self._tdef_class_map(tdef)
            cond = dialect.rewrite_simple_case(cond)
            cond = dialect._expand_between(cond)
            cond = dialect._expand_in_lists(cond, cmap)
            return dialect.rewrite_typed_ops(cond, cmap)
        except Exception:
            return cond

    def _int_cols_in_scope(self, sql: str) -> dict:
        """Lowercased column-name → storage-class map (dialect._CLS_*)
        for the tables the statement references (bare + alias-
        qualified), feeding the column-aware typed-ops rewrites:
        integer division on INT columns (r7) and comparison-affinity
        folds on typed columns (r8). Only declared affinities that pin
        the ENGINE's storage class are included — an INT/TEXT/REAL-
        declared column here always holds that class or NULL, which is
        the provable-runtime-class premise the rewrites need.
        Typeless, BLOB-declared and STRICT ANY columns are DYNAMIC in
        SQLite (no coercion) and are excluded. A bare name is included
        only when every in-scope table defining it agrees on the class
        — an ambiguous reference would error in both engines anyway,
        but stay conservative."""
        try:
            aliases = dialect.parse_from_aliases(sql)
        except Exception:
            return {}

        def _aff(decl: str) -> int | None:
            # SQLite's affinity rules in their documented order
            # (datatype3.html §3.1); BLOB affinity and STRICT ANY mean
            # no coercion → dynamic storage class → excluded
            d = (decl or "").upper()
            if "INT" in d:
                return dialect._CLS_INT
            if "CHAR" in d or "CLOB" in d or "TEXT" in d:
                return dialect._CLS_TEXT
            if not d or "BLOB" in d or d == "ANY":
                return None
            # REAL/FLOA/DOUB and the NUMERIC bucket both store double
            # in this engine — REAL class for compare/div purposes
            return dialect._CLS_REAL

        out: dict[str, int] = {}
        bare: dict[str, int | None] = {}
        for alias, tname in aliases.items():
            st = self.catalog.tables.get(tname)
            if st is None:
                continue
            for col, decl in st.tdef.declared_types.items():
                c = _aff(decl)
                cl = col.lower()
                if c is not None:
                    out[f"{alias}.{cl}"] = c
                if cl in bare:
                    bare[cl] = bare[cl] if bare[cl] == c else None
                else:
                    bare[cl] = c
        out.update({c: k for c, k in bare.items() if k is not None})
        return out

    def _rowid_states(self, overlay: "Overlay | None") -> dict[str, TableState]:
        """Current name→state map for rowid resolution: committed tables
        with the overlay's staged entries layered on top (a table
        modified or created earlier in the same batch / explicit tx must
        resolve against its STAGED schema and df, not the committed one —
        ADVICE r5). Drops (staged None) disappear."""
        states: dict[str, TableState] = {
            n: st for n, st in self.catalog.tables.items() if st is not None
        }
        if overlay is not None:
            for n, st in overlay.staged.items():
                if st is None:
                    states.pop(n, None)
                else:
                    states[n] = st
        return states

    def _resolve_read_rowid(self, sql: str, overlay: "Overlay | None" = None):
        """Resolve bare rowid tokens against the single referenced rowid
        table (SQLite alias semantics); ambiguous multi-table SQL is
        left alone and surfaces SQLite's own "no such column". For an
        implicit-rowid table the hidden column is exposed through the
        table's view for this one statement — returns (sql, restore_cb)
        where restore_cb (or None) re-registers the visible projection;
        spark.sql analyzes eagerly, so restoring afterwards is safe.
        resolve_rowid expands any bare * so the hidden column can't
        leak through the exposure. ``overlay`` (write batches / explicit
        tx) makes both the exposure and the restore see staged state."""
        self._rowid_tdef = None
        self._rowid_multi = False
        if not dialect.has_rowid_token(sql):
            return sql, None
        if overlay is not None:
            # callers may hold a routed (attached-catalog) sibling; the
            # staged entries for main-catalog names live on the overlay
            # layered over self.catalog
            overlay = overlay.sibling(self.catalog)
        states = self._rowid_states(overlay)
        named = [
            (name, st)
            for name, st in states.items()
            if re.search(rf"\b{re.escape(name)}\b", sql, re.I) and st.tdef.rowid_column
        ]
        if len(named) > 1:
            return self._resolve_read_rowid_multi(sql, overlay)
        if len(named) != 1:
            return sql, None
        name, st = named[0]
        sql = dialect.resolve_rowid(sql, st.tdef)
        self._rowid_tdef = st.tdef
        if not st.tdef.implicit_rowid:
            return sql, None
        view = self.catalog.view_name(name)
        st.df.createOrReplaceTempView(view)

        def restore(name=name, view=view, st=st):
            cur = (overlay.get(name) if overlay is not None else self.catalog.tables.get(name)) or st
            cur.visible_df().createOrReplaceTempView(view)

        return sql, restore

    def _resolve_read_rowid_multi(self, sql: str, overlay: "Overlay | None" = None):
        """More than one rowid table referenced: alias-aware QUALIFIED
        resolution only (``a.rowid`` per FROM alias; a bare rowid token
        stays unresolved — SQLite raises 'no such column: rowid' there,
        sqlite3-probed). Exposes every implicit table an actually-used
        qualifier points at; Spark-derived output names are kept (the
        plain PK substitution and the AS-rowid item alias already
        produce SQLite's probed wire names)."""
        if overlay is not None:
            overlay = overlay.sibling(self.catalog)
        states = self._rowid_states(overlay)
        amap = {}
        for alias, tname in dialect.parse_from_aliases(sql).items():
            st = states.get(tname)
            if st is not None and st.tdef.rowid_column:
                amap[alias] = st.tdef
        if not amap:
            return sql, None
        new_sql, used = dialect.resolve_rowid_multi(sql, amap)
        if new_sql == sql and not used:
            return sql, None
        self._rowid_multi = True
        restores = []
        for td in used:
            st = states.get(td.name)
            if st is None:
                continue
            view = self.catalog.view_name(td.name)
            st.df.createOrReplaceTempView(view)
            restores.append((td.name, view, st))

        def restore():
            for name, view, st in restores:
                cur = (
                    overlay.get(name) if overlay is not None else self.catalog.tables.get(name)
                ) or st
                cur.visible_df().createOrReplaceTempView(view)

        return new_sql, (restore if restores else None)

    def _register_sqlite_master(self) -> None:
        """Materialize the sqlite_master / sqlite_schema catalog table
        (SQLite lang: type,name,tbl_name,rootpage,sql). Rows mirror
        SQLite's layout probed against sqlite3: tables in creation
        order with sequential rootpages from 2, each followed by its
        sqlite_autoindex_* rows (UNIQUE/PK constraints, skipping the
        INTEGER-PRIMARY-KEY rowid alias — same rule as PRAGMA
        index_list; user CREATE INDEX is accepted-and-ignored engine-
        wide, so no rows here either); views carry rootpage 0 and their
        CREATE text. The 'sql' column is the original CREATE TABLE text,
        re-synthesized canonically after column-level ALTERs."""
        rows = []
        page = 2
        seq_emitted = False
        for name, st in self.catalog.tables.items():
            if st is None:
                continue
            tdef = st.tdef
            rows.append(
                ("table", name, name, page, tdef.source_sql or dialect.synth_create_sql(tdef))
            )
            page += 1
            if tdef.autoincrement and not seq_emitted:
                # SQLite materializes sqlite_sequence right after the
                # first AUTOINCREMENT table (sqlite3-probed layout)
                rows.append(
                    (
                        "table",
                        "sqlite_sequence",
                        "sqlite_sequence",
                        page,
                        "CREATE TABLE sqlite_sequence(name,seq)",
                    )
                )
                page += 1
                seq_emitted = True
            n = 0
            for uniq in tdef.unique:
                if uniq == tdef.primary_key and tdef.rowid_column and not tdef.implicit_rowid:
                    continue
                n += 1
                rows.append(("index", f"sqlite_autoindex_{name}_{n}", name, page, None))
                page += 1
        for vname, sel in self.catalog.views.items():
            rows.append(("view", vname, vname, 0, f"CREATE VIEW {vname} AS {sel}"))
        for t in self.catalog.triggers.values():
            rows.append(("trigger", t["name"], t["table"], 0, t["sql"]))
        schema = T.StructType(
            [
                T.StructField("type", T.StringType()),
                T.StructField("name", T.StringType()),
                T.StructField("tbl_name", T.StringType()),
                T.StructField("rootpage", T.LongType()),
                T.StructField("sql", T.StringType()),
            ]
        )
        df = self.spark.createDataFrame(rows, schema)
        df.createOrReplaceTempView("sqlite_master")
        df.createOrReplaceTempView("sqlite_schema")

    _PRAGMA_TVF_RE = re.compile(
        r"\bpragma_(table_info|table_xinfo|index_list|index_info|index_xinfo"
        r"|foreign_key_list|database_list)\s*\(\s*(?:'([^']*)'|\"([^\"]*)\")?\s*\)",
        re.I,
    )

    def _register_pragma_tvfs(self, sql: str) -> str:
        """SQLite pragma table-valued functions (SELECT ... FROM
        pragma_table_info('t'), pragma.html#pragfunc): each call site
        materializes its PRAGMA rows as a temp view and the call text
        is substituted with the view name — joins, WHERE and aliases
        then work like any table."""
        if "pragma_" not in sql.lower():
            return sql
        n = 0

        def sub(m):
            nonlocal n
            key = m.group(1).lower()
            arg = m.group(2) if m.group(2) is not None else m.group(3)
            rows = self._pragma_query(f"PRAGMA {key}({arg})" if arg else f"PRAGMA {key}")
            n += 1
            view = f"__pragma_tvf_{n}"
            schema = T.StructType(
                [
                    T.StructField(c, T.LongType() if ty == "integer" else T.StringType())
                    for c, ty in zip(rows.columns, rows.types)
                ]
            )
            self.spark.createDataFrame(
                [tuple(r) for r in rows.values], schema
            ).createOrReplaceTempView(view)
            return view

        return self._pragma_tvf_sub(sql, sub)

    def _pragma_tvf_sub(self, sql: str, sub) -> str:
        # the argument is inside quotes, so a plain outside-strings map
        # would split the call: replace each whole call (quoted arg
        # included) whose head is a code token
        out, pos = [], 0
        for kind, _, s, *_ in dialect.tokens(sql):
            m = self._PRAGMA_TVF_RE.match(sql, s) if kind == "word" and s >= pos else None
            if m:
                out.append(sql[pos:s] + sub(m))
                pos = m.end()
        out.append(sql[pos:])
        return "".join(out)

    def _register_sqlite_sequence(self) -> None:
        """The AUTOINCREMENT bookkeeping table (sqlite3-probed: columns
        name/seq; one row per AUTOINCREMENT table once it has received
        an insert; seq survives DELETE — exactly the engine's monotone
        high-water for autoincrement tables)."""
        rows = [
            (name, st.high_water)
            for name, st in self.catalog.tables.items()
            if st is not None and st.tdef.autoincrement and st.high_water > 0
        ]
        schema = T.StructType(
            [T.StructField("name", T.StringType()), T.StructField("seq", T.LongType())]
        )
        self.spark.createDataFrame(rows, schema).createOrReplaceTempView("sqlite_sequence")

    def _sqlite_column_names(self, sql: str, df: DataFrame) -> DataFrame | None:
        """Best-effort SQLite output-column naming: unaliased expressions
        are named by their source text, bare (possibly qualified) column
        refs by the column name (reference golden at db/src/db.rs:497-504
        expects ``id || "_bar"``). A bare rowid/_rowid_/oid item follows
        SQLite's probed naming: the PK name on an INTEGER-PRIMARY-KEY
        alias table, literally ``rowid`` on an implicit-rowid table
        (``self._rowid_tdef`` is stashed by ``_sql`` when it resolved
        rowid against a single table). Returns None when the select list
        can't be confidently mapped (names then stay Spark-derived)."""
        if self._rowid_multi:
            # multi-table rowid resolution already shaped SQLite-correct
            # output names; the textual renamer would misname qualified
            # rowid items on alias tables
            return None
        if re.match(r"^\s*VALUES\s*\(", sql, re.I):
            # standalone VALUES row constructor: SQLite names the
            # columns column1..columnN (Spark: col1..colN)
            return df.toDF(
                *[f"column{c[3:]}" if re.fullmatch(r"col\d+", c) else c for c in df.columns]
            )
        sp = dialect.split_with_prefix(sql)
        if sp:
            sql = sp[1]  # CTE names don't shape the output columns
        m = re.match(r"^\s*SELECT\s+(?:DISTINCT\s+)?", dialect.blank_comments(sql), re.I)
        if not m:
            return None
        # the select items: top-level ','-separated tokens up to FROM. An
        # unaliased expression is named by its source text up to the
        # next token, comments included, as SQLite does
        rest = sql[m.end() :]
        items, cur = [], []
        for t in dialect.tokens(rest) + ((None, None, len(rest), None, 0, None),):
            if t[4] == 0 and (t[0] is None or t[1] in (",", ";") or t[1].upper() == "FROM"):
                if cur:
                    items.append((dialect._span(rest, cur), rest[cur[0][2] : t[2]].rstrip()))
                if t[1] != ",":
                    break
                cur = []
            else:
                cur.append(t)
        if not items:
            return None
        names: list[str] = []
        for item, text in items:
            am = re.search(rf"\s+AS\s+({dialect._IDENT})\s*$", item, re.I)
            if am:
                names.append(dialect.unquote_ident(am.group(1)))
            elif item == "*" or item.endswith(".*"):
                names.append("*")
            elif re.fullmatch(r"(?:`[^`]+`|\[[^\]]+\]|[A-Za-z_]\w*)(?:\s*\.\s*(?:`[^`]+`|\[[^\]]+\]|[A-Za-z_]\w*))*", item):
                # a bare column ref ([x] and `x` are names too): its name
                last = dialect.unquote_ident(dialect.tokens(item)[-1][1])
                rtd = self._rowid_tdef
                if (
                    rtd is not None
                    and last.lower() in ("rowid", "_rowid_", "oid")
                    and last.lower()
                    not in {f.name.lower() for f in rtd.visible_fields()}
                ):
                    names.append("rowid" if rtd.implicit_rowid else rtd.rowid_column)
                else:
                    names.append(last)
            else:
                names.append(text)
        n_stars = names.count("*")
        if n_stars > 1:
            return None
        if n_stars == 1:
            width = len(df.columns) - (len(names) - 1)
            if width < 0:
                return None
            i = names.index("*")
            expand = list(df.columns[i : i + width])
            if re.search(r"\bVALUES\s*\(", sql, re.I):
                # SELECT * FROM (VALUES ...): colN → SQLite's columnN
                expand = [
                    f"column{c[3:]}" if re.fullmatch(r"col\d+", c) else c for c in expand
                ]
            names = names[:i] + expand + names[i + 1 :]
        if len(names) != len(df.columns):
            return None
        return df.toDF(*names)

    # ------------------------------------------------------------------
    # journal (deterministic-replay residue of the Raft statement log,
    # reference DOC/DESIGN.md:47-49, README.md:30)
    # ------------------------------------------------------------------

    def _log_journal(self, stmt: Statement, transaction: bool) -> None:
        if not self._journal:
            return
        self._journal_seq += 1
        # the manifest saved by the following publish records this seq,
        # marking the statement as reflected in the snapshot
        self.catalog.journal_seq = self._journal_seq
        with open(self._journal, "a") as f:
            f.write(
                json.dumps(
                    {
                        "seq": self._journal_seq,
                        "sql": stmt.sql,
                        "parameters": list(stmt.parameters or []),
                        "transaction": transaction,
                    }
                )
                + "\n"
            )


_SQL_KEYWORDS = frozenset(
    "from where group order select limit having join on and or not as by".split()
)


def _dquote_retry(code: str, attempt, undo=None):
    """``attempt(code)`` with every "x" of ``code`` read as an identifier.
    SQLite's fallback for a double-quoted token that names no column in
    scope is a string literal: when Spark cannot resolve such a token,
    ``undo`` runs and the attempt repeats with the token as 'x'
    (sqlite3-probed: ``SET v = "nocol"`` stores 'nocol'). Any other error
    propagates."""
    while True:
        try:
            return attempt(dialect.dquote_idents_to_backticks(code))
        except DustError:
            raise
        except Exception as e:
            alt = dialect.dquote_to_literal(code, _unresolved_name(str(e)))
            if alt == code:
                raise
            if undo is not None:
                undo()
            code = alt


def _unresolved_name(msg: str) -> str | None:
    """The (dotted) column name of a Spark UNRESOLVED_COLUMN error."""
    if "UNRESOLVED_COLUMN" not in msg:
        return None
    if not re.search(r"name `((?:[^`]|``)+)`", msg):
        return None
    parts = re.findall(r"`((?:[^`]|``)+)`", msg.split("cannot be resolved")[0])
    return ".".join(parts) or None


def _clean_error(e: Exception) -> str:
    msg = str(e)
    m = re.search(r"TABLE_OR_VIEW_NOT_FOUND.*?`?([\w.]+)`? cannot be found", msg, re.S)
    if m:
        return f"no such table: {m.group(1).split('.')[-1]}"
    m = re.search(r"UNRESOLVED_ROUTINE[^`]*`([^`]+)`", msg, re.S)
    if m:
        if m.group(1).upper() == "RAISE":
            # trigger bodies rewrite RAISE before Spark sees it, so an
            # unresolved RAISE is by construction outside one
            return "RAISE() may only be used within a trigger-program"
        return f"no such function: {m.group(1)}"
    m = re.search(r"PARSE_SYNTAX_ERROR\] Syntax error at or near (?:'([^']*)'|(end of input))", msg)
    if m:
        if m.group(2) or not m.group(1):
            return "incomplete input"
        return f'near "{m.group(1)}": syntax error'
    m = re.search(r"UNRESOLVED_COLUMN[^`]*((?:`[^`]+`\.)*`[^`]+`)", msg, re.S)
    if m:
        name = m.group(1).replace("`", "")
        if name.lower() in _SQL_KEYWORDS:
            # 'SELECT FROM t': Spark resolves the keyword as a column
            # name; SQLite calls it what it is
            return f'near "{name}": syntax error'
        # multi-part names keep their qualifier, dotted like SQLite
        # ('no such column: ja.rowid', not just 'ja')
        return "no such column: " + name
    first = msg.strip().splitlines()[0] if msg.strip() else repr(e)
    return first


def _default_session() -> SparkSession:
    return (
        SparkSession.builder.master("local[*]")
        .appName("dust_spark")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
