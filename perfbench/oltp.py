"""Engine-statement workloads: a seeded statement stream driven into
``DustSession`` (directly, or through ``DustHttpService`` over loopback)
by one closed-loop client, and replayed into stdlib ``sqlite3``, whose
answers every Response, every Rows result and the final table contents
must match.

The stream comes in blocks with a fixed mix of operation kinds in a
seeded order, and a run consists of whole blocks, so every run weighs
the kinds alike. The program only ever sees the generated statements.
"""

from __future__ import annotations

import json
import os
import random
import sqlite3
import statistics
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from perfbench.stats import geomean, median_or_zero

KINDS = ("insert", "update", "delete", "select", "tx")
SETUPS = 3  # set-ups per run; setup_s is their median

_WORDS = ("alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "tango", None)


@dataclass
class Op:
    """One request: its statements, and sqlite3's answer to each."""

    kind: str
    statements: list[tuple[str, list]]
    transaction: bool = False
    expect: list = field(default_factory=list)
    violation: bool = False

    @property
    def read(self) -> bool:
        return self.kind == "select"


@dataclass
class Shape:
    """One engine workload: schema, preload and the per-block mix."""

    name: str
    ddl: list[str]
    block: dict[str, int]
    durable: bool
    block_s: float  # a block's duration on a 4-core box: sizes the run
    preload_accounts: int
    preload_txns: int = 0


POINT = Shape(
    name="oltp_point",
    ddl=[
        "CREATE TABLE acct (id INTEGER PRIMARY KEY, email TEXT NOT NULL UNIQUE, "
        "balance REAL NOT NULL CHECK(balance>=0), note TEXT)"
    ],
    # 60% point SELECT, 15% INSERT, 15% UPDATE, 10% DELETE
    block={"select": 12, "insert": 3, "update": 3, "delete": 2},
    durable=False,
    block_s=6.0,
    preload_accounts=2000,
)

DURABLE = Shape(
    name="oltp_durable",
    ddl=[
        "PRAGMA foreign_keys=ON",
        "CREATE TABLE acct (id INTEGER PRIMARY KEY, email TEXT NOT NULL UNIQUE, "
        "balance REAL NOT NULL CHECK(balance>=0), note TEXT)",
        "CREATE TABLE txn (id INTEGER PRIMARY KEY, acct_id INTEGER NOT NULL REFERENCES acct(id), "
        "amount REAL NOT NULL)",
    ],
    # 80% writes, half of them two-statement transactional batches
    block={"select": 2, "insert": 2, "update": 1, "delete": 1, "tx": 4},
    durable=True,
    block_s=10.0,
    preload_accounts=300,
    preload_txns=600,
)


class Reference:
    """sqlite3 replay of the stream; yields the expected answers."""

    def __init__(self):
        self.db = sqlite3.connect(":memory:", isolation_level=None)

    def run(self, op: Op) -> list:
        if op.read:
            out = []
            for sql, params in op.statements:
                cur = self.db.execute(sql, params)
                rows = [list(r) for r in cur.fetchall()]
                out.append(([d[0] for d in cur.description], rows) if rows else ([], []))
            return out
        out = []
        if op.transaction:
            self.db.execute("BEGIN")
        failed = False
        for sql, params in op.statements:
            try:
                cur = self.db.execute(sql, params)
            except sqlite3.Error as e:
                out.append((0, 0, str(e)))
                failed = True
                if op.transaction:
                    break
                continue
            out.append((cur.lastrowid or 0, max(cur.rowcount, 0), ""))
        if op.transaction:
            self.db.execute("ROLLBACK" if failed else "COMMIT")
        return out

    def table(self, name: str) -> list[list]:
        return [list(r) for r in self.db.execute(f"SELECT * FROM {name} ORDER BY id")]


class Stream:
    """Seeded statement generator. It draws keys from the reference's
    own state, so every UPDATE/DELETE/SELECT targets a live row and
    only the deliberate violations fail."""

    def __init__(self, shape: Shape, seed: int):
        self.shape = shape
        self.rng = random.Random(seed)
        self.ref = Reference()
        self.n_email = 0
        self.blocks = 0

    def _apply(self, op: Op) -> Op:
        op.expect = self.ref.run(op)
        return op

    def _ids(self, table: str) -> list[int]:
        return [r[0] for r in self.ref.db.execute(f"SELECT id FROM {table}")]

    def _email(self) -> str:
        self.n_email += 1
        return f"user{self.n_email}@example.org"

    def schema_ops(self) -> list[Op]:
        return [self._apply(Op("ddl", [(s, [])])) for s in self.shape.ddl]

    def preload_ops(self) -> list[Op]:
        ops = []
        rows = ", ".join(
            f"('{self._email()}', {self.rng.randrange(0, 40000) / 4}, "
            + ("NULL" if i % 7 == 0 else f"'{self.rng.choice(_WORDS[:-1])}'")
            + ")"
            for i in range(self.shape.preload_accounts)
        )
        ops.append(self._apply(Op("preload", [(f"INSERT INTO acct(email, balance, note) VALUES {rows}", [])])))
        if self.shape.preload_txns:
            n = self.shape.preload_accounts
            rows = ", ".join(
                f"({self.rng.randrange(1, n + 1)}, {self.rng.randrange(1, 4000) / 4})"
                for _ in range(self.shape.preload_txns)
            )
            ops.append(self._apply(Op("preload", [(f"INSERT INTO txn(acct_id, amount) VALUES {rows}", [])])))
        return ops

    def warmup_ops(self) -> list[Op]:
        """One whole block, run before timing starts."""
        return self.block()

    def op(self, kind: str, violation: bool = False) -> Op:
        rng, durable = self.rng, self.shape.durable
        accts = self._ids("acct")
        if kind == "select":
            sql = "SELECT id, email, balance, note FROM acct WHERE id = ?"
            return self._apply(Op(kind, [(sql, [rng.choice(accts)])]))
        if kind == "update":
            sql = "UPDATE acct SET balance = balance + ?, note = ? WHERE id = ?"
            params = [rng.randrange(1, 400) / 4, rng.choice(_WORDS), rng.choice(accts)]
            return self._apply(Op(kind, [(sql, params)]))
        if kind == "insert":
            if durable:
                sql = "INSERT INTO txn(acct_id, amount) VALUES (?, ?)"
                params = [rng.choice(accts), rng.randrange(1, 4000) / 4]
            else:
                sql = "INSERT INTO acct(email, balance, note) VALUES (?, ?, ?)"
                params = [self._email(), rng.randrange(0, 40000) / 4, rng.choice(_WORDS)]
            return self._apply(Op(kind, [(sql, params)]))
        if kind == "delete":
            table = "txn" if durable else "acct"
            sql = f"DELETE FROM {table} WHERE id = ?"
            return self._apply(Op(kind, [(sql, [rng.choice(self._ids(table))])]))
        # tx: open an account and post a first transaction against an
        # existing one; a violating batch fails on its second statement
        stmts = [
            ("INSERT INTO acct(email, balance, note) VALUES (?, ?, ?)",
             [self._email(), rng.randrange(0, 40000) / 4, rng.choice(_WORDS)]),
        ]
        if not violation:
            stmts.append(("INSERT INTO txn(acct_id, amount) VALUES (?, ?)",
                          [rng.choice(accts), rng.randrange(1, 4000) / 4]))
        else:
            which = rng.choice(("unique", "check", "fk"))
            if which == "unique":
                email = self.ref.db.execute(
                    "SELECT email FROM acct WHERE id = ?", [rng.choice(accts)]
                ).fetchone()[0]
                stmts.append(("INSERT INTO acct(email, balance, note) VALUES (?, ?, NULL)", [email, 1.0]))
            elif which == "check":
                stmts.append(("UPDATE acct SET balance = balance - ? WHERE id = ?",
                              [1e9, rng.choice(accts)]))
            else:
                stmts.append(("INSERT INTO txn(acct_id, amount) VALUES (?, ?)",
                              [max(accts) + 1000, 1.0]))
        return self._apply(Op("tx", stmts, transaction=True, violation=violation))

    def block(self) -> list[Op]:
        """One block: the shape's mix in seeded order. Every second
        block, the first included, carries one violating transactional
        batch."""
        kinds = [k for k, n in self.shape.block.items() for _ in range(n)]
        self.rng.shuffle(kinds)
        bad = -1
        if "tx" in kinds and self.blocks % 2 == 0:
            bad = [i for i, k in enumerate(kinds) if k == "tx"][self.rng.randrange(kinds.count("tx"))]
        self.blocks += 1
        return [self.op(k, violation=(i == bad)) for i, k in enumerate(kinds)]


# -- clients ----------------------------------------------------------


class TaggedSession:
    """Sets the Spark job group of the next request on the thread that
    runs it (the HTTP handler thread for the durable workload), so the
    status store can account each request's jobs."""

    def __init__(self, session, spark):
        self.session = session
        self._sc = spark.sparkContext
        self.group = "setup"

    def execute(self, req):
        self._sc.setJobGroup(self.group, self.group, False)
        return self.session.execute(req)

    def query(self, req):
        self._sc.setJobGroup(self.group, self.group, False)
        return self.session.query(req)


class DirectClient:
    def __init__(self, tagged: TaggedSession):
        self.tagged = tagged

    def call(self, op: Op) -> list:
        from dust_spark.model import Request, Statement

        req = Request(transaction=op.transaction, statements=[Statement(s, list(p)) for s, p in op.statements])
        if op.read:
            return [(r.columns, r.values) for r in self.tagged.query(req)]
        return [(r.last_insert_id, r.rows_affected, r.error) for r in self.tagged.execute(req)]


class HttpClient:
    def __init__(self, addr: tuple[str, int]):
        self.base = f"http://{addr[0]}:{addr[1]}"

    def call(self, op: Op) -> list:
        body = json.dumps({"request": {
            "transaction": op.transaction,
            "statements": [{"sql": s, "parameters": p} for s, p in op.statements],
        }}).encode()
        path = "/db/query" if op.read else "/db/execute"
        req = urllib.request.Request(self.base + path, data=body, headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                doc = json.loads(r.read())
        except urllib.error.HTTPError as e:
            return [("http", e.code, e.read().decode(errors="replace"))]
        if op.read:
            return [(d["columns"], d["values"]) for d in doc]
        return [(d.get("last_insert_id", 0), d.get("rows_affected", 0), d.get("error", "")) for d in doc]


def mismatch(op: Op, got: list) -> str | None:
    """None when the program answered exactly as sqlite3 did."""
    want = [tuple(x) for x in op.expect]
    got = [tuple(x) for x in got]
    if got != want:
        return f"{op.kind} {op.statements!r}: got {got!r}, sqlite3 {want!r}"
    return None


# -- runner -----------------------------------------------------------


@dataclass
class Sample:
    kind: str
    ms: float
    statements: int
    group: str
    committed: bool
    traced: bool
    cpu_ms: float
    jit_ms: float


class Engine:
    """One engine under test: a fresh DustSession (memory or disk
    warehouse), optionally behind the HTTP facade."""

    def __init__(self, spark, shape: Shape, warehouse: str | None):
        from dust_spark import DustSession

        self.warehouse = warehouse
        self.session = DustSession(spark, warehouse=warehouse)
        self.tagged = TaggedSession(self.session, spark)
        self.tracer = None  # a Tracer while a traced block runs
        self.service = None
        if shape.durable:
            from dust_spark.http_service import DustHttpService

            self.service = DustHttpService(self.tagged)
            self.service.start()
            self.client = HttpClient(self.service.listening_addr)
        else:
            self.client = DirectClient(self.tagged)

    def call(self, op: Op, group: str) -> tuple[list, float]:
        self.tagged.group = group
        tr = self.tracer
        if tr is not None:
            tr.request = group
            idx = tr.open("http.request" if self.service else "client.request")
        t0 = time.perf_counter()
        try:
            got = self.client.call(op)
        except Exception as e:  # counted as a failure, the run goes on
            got = [("exception", type(e).__name__, str(e).splitlines()[0][:200] if str(e) else "")]
        dt = time.perf_counter() - t0
        if tr is not None:
            tr.close(idx)
        return got, dt

    def close(self) -> None:
        if self.service is not None:
            self.service.stop()
        self.session.close()


def table_contents(session, name: str) -> list[list]:
    from dust_spark.model import Request

    rows = session.query(Request.single(f"SELECT * FROM {name} ORDER BY id"))[0]
    return [list(r) for r in rows.values]


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, number of version directories) under a warehouse."""
    total, versions = 0, 0
    for root, dirs, files in os.walk(path):
        versions += sum(1 for d in dirs if d.startswith("v") and d[1:].isdigit())
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total, versions


def run(spark, shape: Shape, seed: int, seconds: float, scratch: str, trace: bool) -> dict:
    """Set up ``SETUPS`` times (open the engine and create the schema;
    the median is reported), preload, warm up with one whole block, then
    time the blocks that take about ``seconds`` on a 4-core box, and at
    least two. Each timed request records its wall time and the CPU time
    the process tree spent on it. With ``trace``, every second request
    of each kind runs under layer spans."""
    from perfbench import sparkenv
    from perfbench.trace import Tracer, install_layers

    stream = Stream(shape, seed)
    schema = stream.schema_ops()
    failures: list[str] = []
    attempted = 0

    def check(ops: list[Op], answers: list) -> None:
        nonlocal attempted
        for op, got in zip(ops, answers):
            attempted += 1
            if (err := mismatch(op, got)) is not None:
                failures.append(err)

    def run_untimed(ops: list[Op], group: str) -> float:
        t0 = time.perf_counter()
        answers = [engine.call(op, group)[0] for op in ops]
        elapsed = time.perf_counter() - t0
        check(ops, answers)
        return elapsed

    setup_s: list[float] = []
    engine = None
    for rep in range(SETUPS):
        if engine is not None:
            engine.close()
        wh = os.path.join(scratch, f"warehouse{rep}") if shape.durable else None
        t0 = time.perf_counter()
        engine = Engine(spark, shape, wh)
        setup_s.append(time.perf_counter() - t0 + run_untimed(schema, "setup"))
    preload_s = run_untimed(stream.preload_ops(), "preload")
    warmup_s = run_untimed(stream.warmup_ops(), "warmup")

    samples: list[Sample] = []
    tracer = Tracer() if trace else None
    # a fixed number of blocks per run length. A traced run alternates
    # bare and traced requests of each kind, so both halves see the same
    # warm-up.
    n_blocks = max(2, round(seconds / shape.block_s))
    jvm = spark.sparkContext._gateway.proc.pid
    seen = dict.fromkeys(KINDS, 0)
    for _ in range(n_blocks):
        for op in stream.block():
            traced = trace and seen[op.kind] % 2 == 1
            seen[op.kind] += 1
            if traced:
                install_layers(tracer)
            engine.tracer = tracer if traced else None
            group = f"r{len(samples)}"
            c0, j0 = sparkenv.tree_cpu_s(), sparkenv.jit_cpu_s(jvm)
            try:
                got, dt = engine.call(op, group)
            finally:
                if traced:
                    tracer.uninstall()
            cpu_ms = (sparkenv.tree_cpu_s() - c0) * 1e3
            jit_ms = (sparkenv.jit_cpu_s(jvm) - j0) * 1e3
            check([op], [got])
            samples.append(Sample(op.kind, dt * 1e3, len(op.statements), group, not op.violation, traced, cpu_ms,
                                  jit_ms))
    engine.tracer = None

    # untimed checks and accounting
    tables = ["acct", "txn"] if shape.durable else ["acct"]
    for name in tables:
        attempted += 1
        got, want = table_contents(engine.session, name), stream.ref.table(name)
        if got != want:
            failures.append(f"final {name}: {len(got)} rows differ from sqlite3's {len(want)}")
    out = {
        "setup_s": setup_s,
        "preload_s": preload_s,
        "warmup_s": warmup_s,
        "samples": [vars(s) for s in samples],
        # Spark accounting is read for the traced run's per-layer metrics only
        "groups": {g: vars(v) for g, v in sparkenv.group_stats(spark, "r").items()} if trace else {},
        "attempted": attempted,
        "failures": failures,
    }
    if shape.durable:
        wh = engine.warehouse
        out["warehouse_bytes"], out["versions"] = dir_bytes(wh)
        journal = os.path.join(wh, "journal.jsonl")
        out["journal_bytes"] = os.path.getsize(journal) if os.path.exists(journal) else 0
        fresh = os.path.join(scratch, "fresh")
        for name in tables:
            spark.table(name).write.mode("overwrite").parquet(os.path.join(fresh, name))
        out["fresh_bytes"] = dir_bytes(fresh)[0]
    out["cached_mb"], out["cached_rdds"] = sparkenv.storage_census(spark)
    if tracer is not None:
        out["spans"] = tracer
    engine.close()
    return out


def kind_medians(samples: list[dict], key: str) -> dict[str, float]:
    """Per request kind, the median of ``key`` over its requests; a
    batch that rolled back is not a transaction of the ``tx`` kind."""
    by: dict[str, list[float]] = {}
    for s in samples:
        if s["committed"]:
            by.setdefault(s["kind"], []).append(s[key])
    return {k: statistics.median(v) for k, v in by.items()}


def end_to_end(rec: dict) -> dict:
    """Over the bare requests: the median set-up, and the CPU time per
    request as the geometric mean over kinds of each kind's median."""
    bare = [s for s in rec["samples"] if not s["traced"]]
    return {
        "setup_s": statistics.median(rec["setup_s"]),
        "cpu_ms_per_op": geomean(list(kind_medians(bare, "cpu_ms").values())),
    }


def per_layer(rec: dict, out: dict) -> dict:
    """Per-kind medians over requests: Spark accounting over every
    request, span-derived layer times over the traced blocks."""
    from perfbench.trace import analyse

    groups = rec["groups"]
    traced = [s for s in rec["samples"] if s["traced"]]
    layers = analyse(rec["spans"].spans)
    for k in KINDS:
        mine = [s for s in rec["samples"] if s["kind"] == k]
        if not mine:
            continue
        for m in ("jobs", "stages", "tasks", "cpu_ms"):
            out[f"spark.{k}.{m}"] = statistics.median(groups.get(s["group"], {}).get(m, 0) for s in mine)
        per = [layers.get(s["group"], {}) for s in traced if s["kind"] == k]
        if not per:
            continue
        for key, name in (
            ("session", f"session.{k}.ms"),
            ("session_self", f"session.{k}.self_ms"),
            ("dialect", f"dialect.{k}.ms"),
            ("catalog.materialize", f"catalog.{k}.materialize_ms"),
            ("catalog.materialize.calls", f"catalog.{k}.materialize_calls"),
            ("catalog.publish", f"catalog.{k}.publish_ms"),
        ):
            out[name] = statistics.median(p.get(key, 0.0) for p in per)
    sel = [layers.get(s["group"], {}) for s in traced if s["kind"] == "select"]
    out["model.select.rows_ms"] = median_or_zero([p.get("model.rows_from_dataframe", 0.0) for p in sel])
    if "warehouse_bytes" in rec:
        out["http.self_ms"] = median_or_zero(
            [layers[s["group"]]["http"] - layers[s["group"]]["session"] for s in traced if s["group"] in layers]
        )
        out["storage.warehouse_bytes"] = rec["warehouse_bytes"]
        out["storage.versions"] = rec["versions"]
        out["storage.journal_bytes"] = rec["journal_bytes"]
        out["storage.disk_bytes_per_user_byte"] = rec["warehouse_bytes"] / rec["fresh_bytes"]
    out["storage.cached_mb"] = rec["cached_mb"]
    bare = [s for s in rec["samples"] if not s["traced"]]
    traced_geo = geomean(list(kind_medians(traced, "ms").values()))
    bare_geo = geomean(list(kind_medians(bare, "ms").values()))
    out["trace.overhead_pct"] = 100.0 * (traced_geo / bare_geo - 1.0)
    out["jvm.jit_cpu_pct"] = 100.0 * sum(s["jit_ms"] for s in bare) / sum(s["cpu_ms"] for s in bare)
    return out
