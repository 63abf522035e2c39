"""Catalog workload: a fixed subset of the declared queries (Tier B
relational shapes and Tier C operator queries) over seeded tables,
under ``bench.py``'s execution discipline (its interpret-small-input
codegen policy, its warm-up, and ``warm_shared_fixtures`` charged to
set-up). Every query runs cold and then warm, back to back; a run of
more than ``COLD_PASS_S + WARM_PASS_S`` seconds adds whole warm passes.

The cold run collects the result with ``toPandas()``, as the query
catalog's consumers and its oracle test run a query; warm runs write to
``bench.py``'s noop sink. Collecting once lets the untimed check compare
the timed runs' own results with their DuckDB oracles, with the
comparison of the repository's oracle test, instead of running every
query a third time.
"""

from __future__ import annotations

import os
import statistics
import time

import pytest

from perfbench import datagen, sparkenv
from perfbench.stats import geomean

SF = 0.01
# a cold and a warm pass of QUERIES on a 4-core box: they size the run
COLD_PASS_S = 20.0
WARM_PASS_S = 8.5

# one query per Tier B family: aggregation, windows, set operations,
# streaming windows, a multi-way join
TIER_B = (
    "b4a_groupby_aggs", "b5b_lag_lead", "b7c_intersect", "b11a_tumbling_window", "b13a_tpch_q3_shape",
)
# one or more per operators module, including the similarity kernels
# (c2f, c2i, c2k), a persisted index (c3j), the persisting funnel and
# MAD queries (c6f, c7h) and the rank family (c8d)
TIER_C = (
    "c2f_simhash_portable", "c2i_embedding_near_dup_portable", "c2k_semantic_dedup",
    "c3j_pq_ann", "c4g_tf_idf", "c5a_media_stats", "c6a_asof_max_order", "c6f_event_funnel",
    "c7h_mad_anomalies", "c8d_distributed_rank", "c9g_stratified_sample", "c10b_cluster_dedup",
)
QUERIES = TIER_B + TIER_C


def compare(got, want) -> str | None:
    """None when a result equals its oracle's under the rules of
    ``tests/test_correctness.py``, else the mismatch."""
    from tests.test_correctness import _compare

    try:
        _compare(got, want, "result")
    except (AssertionError, pytest.fail.Exception) as e:
        return str(e)
    return None


def run(spark, seed: int, seconds: float, scratch: str, trace: bool, data: str | None = None) -> dict:
    """Time the queries over tables generated from ``seed``, or over the
    parquet files in ``data`` when it is given."""
    import bench
    from dust_spark.queries import all_queries
    from dust_spark.queries_tierc import warm_shared_fixtures
    from dust_spark.tables import register_views
    from perfbench.trace import Tracer, install_layers

    if data is None:
        data = os.path.join(scratch, "data")
        rows = datagen.write(seed, SF, data)
    else:
        rows = {t[: -len(".parquet")]: None for t in sorted(os.listdir(data)) if t.endswith(".parquet")}
    qs = all_queries()
    order = sorted(QUERIES)  # bench.py's order
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    jvm = sc._gateway.proc.pid

    def codegen_for(name: str) -> None:
        spark.conf.set("spark.sql.codegen.wholeStage", str(not bench.interpret_small_input(qs[name], data)).lower())

    # set-up: views, bench.py's warm-up, shared fixtures
    sc.setJobGroup("setup", "setup", False)
    t0 = time.perf_counter()
    register_views(spark, data)
    qs["b3i_star_join"].fn(spark, data).write.format("noop").mode("overwrite").save()
    spark.range(0, cores * 2, 1, cores).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    codegen_for("c2c_ngram_jaccard_pairs")
    tf = time.perf_counter()
    warm_shared_fixtures(spark, data)
    fixtures_ms = (time.perf_counter() - tf) * 1e3
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    setup_s = time.perf_counter() - t0
    _, fixture_rdds = sparkenv.storage_census(spark)

    failures: list[str] = []
    runs: list[dict] = []  # one per timed execution

    attempted = 0

    results = {}  # the cold runs' collected results

    def execute(name: str, pass_no: int, traced: bool) -> None:
        nonlocal attempted
        attempted += 1
        group = f"q{pass_no}:{name}"
        codegen_for(name)
        sc.setJobGroup(group, group, False)
        if tracer is not None:
            tracer.request = group
        c0, j0 = sparkenv.tree_cpu_s(), sparkenv.jit_cpu_s(jvm)
        t0 = time.perf_counter()
        try:
            df = qs[name].fn(spark, data)
            t1 = time.perf_counter()
            if pass_no == 0:
                results[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # counted as a failure, the run goes on
            failures.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}")
            return
        t2 = time.perf_counter()
        cpu_ms = (sparkenv.tree_cpu_s() - c0) * 1e3
        jit_ms = (sparkenv.jit_cpu_s(jvm) - j0) * 1e3
        runs.append({"query": name, "pass": pass_no, "build_ms": (t1 - t0) * 1e3, "cpu_ms": cpu_ms,
                     "jit_ms": jit_ms,
                     "exec_ms": (t2 - t1) * 1e3, "ms": (t2 - t0) * 1e3, "group": group, "traced": traced})

    tracer = Tracer() if trace else None
    if tracer is not None:
        install_layers(tracer)
    try:
        for name in order:  # pass 0 cold, pass 1 warm, back to back
            execute(name, 0, trace)
            execute(name, 1, trace)
    finally:
        if tracer is not None:
            tracer.uninstall()
    if trace:
        # the tracing overhead: two more warm passes, each query bare in
        # one and traced in the other
        for flip in (0, 1):
            for i, name in enumerate(order):
                traced = i % 2 == flip
                if traced:
                    install_layers(tracer)
                try:
                    execute(name, 2 + flip, traced)
                finally:
                    tracer.uninstall()
    else:
        n_warm = max(1, round((seconds - COLD_PASS_S) / WARM_PASS_S))
        for pass_no in range(2, n_warm + 1):  # pass 1 is done
            for name in order:
                execute(name, pass_no, False)
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    cached_mb, cached_rdds = sparkenv.storage_census(spark)
    # Spark accounting is read for the traced run's per-layer metrics only
    groups = {g: vars(v) for g, v in sparkenv.group_stats(spark, "q").items()} if trace else {}

    # untimed oracle check of the cold runs' results
    import duckdb

    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t + '.parquet')}')")
    for name, got in results.items():
        attempted += 1
        try:
            err = compare(got, con.execute(qs[name].oracle).df())
        except Exception as e:
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
        if err is not None:
            failures.append(f"{name}: {err}")
    con.close()

    out = {
        "sf": SF,
        "rows": rows,
        "order": order,
        "setup_s": [setup_s],
        "fixtures_ms": fixtures_ms,
        "fixture_rdds": fixture_rdds,
        "runs": runs,
        "result_rows": {name: len(got) for name, got in results.items()},
        "groups": groups,
        "cached_mb": cached_mb,
        "cached_rdds": cached_rdds,
        "attempted": attempted,
        "failures": failures,
    }
    if tracer is not None:
        out["spans"] = tracer
    return out


def end_to_end(rec: dict) -> dict:
    """The set-up, and the CPU time per query execution: per query, the
    mean over its bare timed runs (one cold, the rest warm), then the
    geometric mean over queries."""
    per: dict[str, list[float]] = {}
    for r in rec["runs"]:
        if not r["traced"]:
            per.setdefault(r["query"], []).append(r["cpu_ms"])
    return {
        "setup_s": statistics.median(rec["setup_s"]),
        "cpu_ms_per_op": geomean([statistics.fmean(v) for v in per.values()]),
    }


def per_layer(rec: dict, out: dict) -> dict:
    """Per-layer totals over one cold and one warm execution of every
    query (passes 0 and 1, both traced)."""
    from perfbench.trace import analyse

    pair = [r for r in rec["runs"] if r["pass"] in (0, 1)]
    out["queries.build_ms"] = sum(r["build_ms"] for r in pair)
    out["queries.exec_ms"] = sum(r["exec_ms"] for r in pair)
    for r in pair:
        g = rec["groups"].get(r["group"], {})
        out["spark.query.jobs"] += g.get("jobs", 0)
        out["spark.query.stages"] += g.get("stages", 0)
        out["spark.query.cpu_ms"] += g.get("cpu_ms", 0.0)
        out["spark.query.shuffle_records"] += g.get("shuffle_records", 0)
    layers = analyse(rec["spans"].spans)
    for r in pair:
        for key, ms in layers.get(r["group"], {}).items():
            if key.startswith("operators."):
                out[key + ".ms"] += ms
    out["fixtures.setup_ms"] = rec["fixtures_ms"]
    out["fixtures.cached_rdds"] = rec["fixture_rdds"]
    out["storage.cached_mb"] = rec["cached_mb"]
    late = [r for r in rec["runs"] if r["pass"] > 1]
    traced = geomean([r["ms"] for r in late if r["traced"]])
    bare = geomean([r["ms"] for r in late if not r["traced"]])
    out["trace.overhead_pct"] = 100.0 * (traced / bare - 1.0)
    untraced = [r for r in rec["runs"] if not r["traced"]]
    out["jvm.jit_cpu_pct"] = 100.0 * sum(r["jit_ms"] for r in untraced) / sum(r["cpu_ms"] for r in untraced)
    return out
