#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload oltp_durable --seed 1 --seconds 24 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones (see perfbench/README.md).
The full record of the run (every sample, the stamp, and with
``--trace 1`` the per-job-group Spark accounting and the span file) is
written under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.oltp import KINDS  # noqa: E402
from perfbench.trace import OPERATOR_MODULES  # noqa: E402

# BENCHMARK.json lists oltp_durable and catalog: with oltp_point as a
# third workload the regression runs do not fit their time budget on a
# 4-core box. oltp_point runs the same way and prints the same metrics.
WORKLOADS = ("oltp_point", "oltp_durable", "catalog")

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
}

PER_LAYER = {
    **{f"spark.{k}.{m}": u for k in KINDS for m, u in
       (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("cpu_ms", "ms"))},
    **{f"session.{k}.{m}": "ms" for k in KINDS for m in ("ms", "self_ms")},
    **{f"dialect.{k}.ms": "ms" for k in KINDS},
    **{f"catalog.{k}.{m}": u for k in KINDS for m, u in
       (("materialize_ms", "ms"), ("materialize_calls", "count"), ("publish_ms", "ms"))},
    "model.select.rows_ms": "ms",
    "http.self_ms": "ms",
    "storage.warehouse_bytes": "B",
    "storage.versions": "count",
    "storage.journal_bytes": "B",
    "storage.disk_bytes_per_user_byte": "ratio",
    "storage.cached_mb": "MB",
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    "spark.query.jobs": "count",
    "spark.query.stages": "count",
    "spark.query.cpu_ms": "ms",
    "spark.query.shuffle_records": "count",
    **{f"operators.{m}.ms": "ms" for m in OPERATOR_MODULES},
    "fixtures.setup_ms": "ms",
    "fixtures.cached_rdds": "count",
    "trace.overhead_pct": "%",
    "jvm.jit_cpu_pct": "%",
}


# -- stamp ------------------------------------------------------------


def cpu_probe_ms() -> float:
    """Best of three timings of a fixed pure-Python loop: a marker of
    how fast this host ran the benchmark, next to ``loadavg``."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


def stamp(args, cores: int) -> dict:
    try:
        top, _, commit = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.partition("\n")
        commit = commit.strip() if os.path.realpath(top) == os.path.realpath(ROOT) else None
    except OSError:
        commit = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "dust_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                digest.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    digest.update(fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "data": args.data,
        "nproc": os.cpu_count(),
        "master": f"local[{cores}]",
        "loadavg_start": os.getloadavg()[0],
        "cpu_probe_ms_start": cpu_probe_ms(),
        "git_commit": commit,
        "source_sha256": digest.hexdigest(),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


# -- main -------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="catalog only: read these parquet tables instead of generating them")
    args = ap.parse_args(argv)
    if args.data is not None:
        if args.workload != "catalog":
            ap.error("--data applies to the catalog workload only")
        args.data = os.path.abspath(args.data)

    try:
        import dust_spark  # noqa: F401  (the program under test)
        import bench  # noqa: F401  (the catalog's execution discipline)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import catalog, oltp, sparkenv

    cores = os.cpu_count() or 1
    info = stamp(args, cores)
    results = os.path.join(ROOT, ".perfbench", "results")
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    os.makedirs(scratch, exist_ok=True)
    try:
        spark = sparkenv.start_spark(scratch, cores)
        try:
            if args.workload == "catalog":
                rec = catalog.run(spark, args.seed, args.seconds, scratch, bool(args.trace), args.data)
                e2e = catalog.end_to_end(rec)
                layer = catalog.per_layer(rec, dict.fromkeys(PER_LAYER, 0.0)) if args.trace else None
            else:
                shape = oltp.POINT if args.workload == "oltp_point" else oltp.DURABLE
                rec = oltp.run(spark, shape, args.seed, args.seconds, scratch, bool(args.trace))
                e2e = oltp.end_to_end(rec)
                layer = oltp.per_layer(rec, dict.fromkeys(PER_LAYER, 0.0)) if args.trace else None
        finally:
            sparkenv.stop_spark(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    info["loadavg_end"] = os.getloadavg()[0]
    info["cpu_probe_ms_end"] = cpu_probe_ms()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}" + ("-data" if args.data else "")
    spans = rec.pop("spans", None)
    if spans is not None:
        spans.dump(os.path.join(results, f"{tag}.spans.jsonl"))
    failures = rec["failures"]
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"stamp": info, "end_to_end": e2e, "per_layer": layer, **rec}, f, default=str)
    for line in failures[:20]:
        print(f"perfbench: mismatch: {line[:500]}", file=sys.stderr)
    metrics = layer if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": not failures,
        "attempted": rec["attempted"],
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
