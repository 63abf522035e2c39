"""Checks of the benchmark itself, without Spark: the sqlite3 and DuckDB
oracles catch a corrupted answer, the generators are deterministic, and
BENCHMARK.json names exactly the metrics the runner prints.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pytest

from perfbench import catalog, datagen, oltp
from perfbench.run import END_TO_END, PER_LAYER, ROOT, WORKLOADS


def _replay(shape: oltp.Shape, seed: int, blocks: int = 3) -> tuple[oltp.Stream, list, list]:
    """The stream, and a second sqlite3 database answering it the way a
    correct program would."""
    stream = oltp.Stream(shape, seed)
    ops = stream.schema_ops() + stream.preload_ops() + stream.warmup_ops()
    for _ in range(blocks):
        ops += stream.block()
    program = oltp.Reference()
    return stream, ops, [program.run(op) for op in ops]


@pytest.mark.parametrize("shape", [oltp.POINT, oltp.DURABLE], ids=lambda s: s.name)
def test_sqlite_check_accepts_a_correct_program(shape):
    stream, ops, answers = _replay(shape, seed=5)
    assert [oltp.mismatch(op, got) for op, got in zip(ops, answers)] == [None] * len(ops)
    assert any(op.violation for op in ops) == shape.durable
    kinds = {op.kind for op in ops}
    assert set(shape.block) <= kinds


def test_sqlite_check_catches_corrupted_responses():
    _, ops, answers = _replay(oltp.DURABLE, seed=6)
    write = next(i for i, op in enumerate(ops) if op.kind == "insert")
    lid, n, err = answers[write][0]
    assert oltp.mismatch(ops[write], [(lid + 1, n, err)]) is not None
    assert oltp.mismatch(ops[write], [(lid, n + 1, err)]) is not None
    bad = next(i for i, op in enumerate(ops) if op.violation)
    first, (_, _, msg) = answers[bad]
    assert msg  # sqlite3 refused the batch
    assert oltp.mismatch(ops[bad], [first, (0, 0, msg.upper())]) is not None
    assert oltp.mismatch(ops[bad], [first, (1, 1, "")]) is not None


def test_sqlite_check_catches_corrupted_rows():
    stream, ops, answers = _replay(oltp.POINT, seed=7)
    sel = next(i for i, op in enumerate(ops) if op.kind == "select")
    cols, rows = answers[sel][0]
    corrupt = [r[:] for r in rows]
    corrupt[0][2] += 0.25
    assert oltp.mismatch(ops[sel], [(cols, corrupt)]) is not None
    assert oltp.mismatch(ops[sel], [([], [])]) is not None
    # the final-contents check compares whole tables
    table = stream.ref.table("acct")
    assert table != table[:-1]


def test_stream_is_a_function_of_the_seed():
    a = [op.statements for op in _replay(oltp.POINT, 3, 2)[1]]
    b = [op.statements for op in _replay(oltp.POINT, 3, 2)[1]]
    c = [op.statements for op in _replay(oltp.POINT, 4, 2)[1]]
    assert a == b
    assert a != c


@pytest.fixture(scope="module")
def duck(tmp_path_factory):
    data = str(tmp_path_factory.mktemp("data"))
    rows = datagen.write(seed=1, sf=0.001, out_dir=data)
    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t + '.parquet')}')")
    yield con
    con.close()


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.tables(2, 0.001), datagen.tables(2, 0.001), datagen.tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])


def test_corpora_have_the_fixture_shape():
    t = datagen.tables(1, 0.01)
    texts = t["documents"].column("text").to_pylist()
    base = [s for s in texts if not s.endswith(" dup")]
    dups = [s[: -len(" dup")] for s in texts if s.endswith(" dup")]
    assert all(10 <= len(s.split()) <= 99 for s in base)
    assert {w for s in base for w in s.split()} == set(datagen.VOCAB)
    assert 0.02 < len(dups) / len(texts) < 0.08
    assert set(dups) <= set(base) and len(set(texts)) == len(texts)
    emb = np.stack(t["embeddings"].column("embedding").to_numpy(zero_copy_only=False)).astype(float)
    assert np.allclose(np.linalg.norm(emb, axis=1), 1, atol=1e-6)
    label = t["embeddings"].column("label").to_numpy()
    same = (label[:, None] == label[None, :]) & ~np.eye(len(label), dtype=bool)
    assert abs((emb @ emb.T)[same].mean()) < 0.02  # labels carry no geometry


def test_every_catalog_query_has_an_oracle():
    from dust_spark.queries import all_queries

    qs = all_queries()
    assert all(qs[n].oracle for n in catalog.QUERIES)


def test_duckdb_check_catches_corrupted_results(duck):
    from dust_spark.queries import all_queries

    want = duck.execute(all_queries()["b4a_groupby_aggs"].oracle).df()
    assert len(want) > 1
    assert catalog.compare(want.sample(frac=1, random_state=0), want) is None  # row order is free
    num = next(c for c in want.columns if pd.api.types.is_float_dtype(want[c]))
    off = want.copy()
    off.loc[0, num] = off.loc[0, num] * (1 + 1e-12)  # approximately equal is not equal
    assert catalog.compare(off, want) is not None
    assert catalog.compare(want.iloc[1:], want) is not None
    assert catalog.compare(want.rename(columns={num: "other"}), want) is not None
    key = next(c for c in want.columns if want[c].dtype == object)
    swapped = want.copy()
    swapped.loc[0, key] = "corrupted"
    assert catalog.compare(swapped, want) is not None


def test_cpu_reader_counts_child_processes():
    import subprocess
    import sys

    from perfbench.sparkenv import tree_cpu_s

    # a child that burns 0.3 s of CPU, then waits for a line on stdin
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ninput()"
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 10
        while tree_cpu_s() - before < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tree_cpu_s() - before >= 0.25  # the live child's CPU
    finally:
        child.communicate(b"\n", timeout=10)
    assert tree_cpu_s() - before >= 0.25  # and once it was reaped


def test_engine_cpu_metric_is_per_kind_medians():
    def sample(kind, cpu, committed=True, traced=False):
        return {"kind": kind, "ms": cpu / 2, "cpu_ms": cpu, "committed": committed, "traced": traced}

    rec = {"setup_s": [7.0, 1.5, 1.4], "samples": [
        sample("insert", 100), sample("insert", 300), sample("insert", 120),
        sample("tx", 400), sample("tx", 50, committed=False), sample("select", 1e6, traced=True),
    ]}
    e2e = oltp.end_to_end(rec)
    assert e2e["setup_s"] == 1.5
    assert e2e["cpu_ms_per_op"] == pytest.approx((120 * 400) ** 0.5)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {w["name"] for w in doc["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == PER_LAYER
