"""Spark session for the benchmark, plus the readers that account for
what Spark did: per-job-group jobs/stages/tasks/CPU/shuffle from the
status store, and a census of cached RDD storage.

Everything Spark writes (local dirs, JVM temp files, SQL warehouse)
goes under the run's scratch directory, which the caller removes.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass


def start_spark(scratch: str, cores: int):
    """local[cores] session with bench.py's settings (shuffle partitions
    sized to cores, AQE, UTC, Arrow) and every on-disk side effect
    redirected into ``scratch``."""
    local = os.path.join(scratch, "spark-local")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # the cluster-manager variable overrides spark.local.dir; Python
    # workers import dust_spark from the checkout; no JVM writes its
    # perf-data file to /tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "spark-warehouse"))
        # keep every job of the run in the status store for the
        # per-group accounting read at the end
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _seq(seq):
    return (seq.apply(i) for i in range(seq.size()))


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_ms: float = 0.0
    shuffle_records: int = 0


def group_stats(spark, prefix: str = "") -> dict[str, GroupStats]:
    """Jobs, completed stages, completed tasks, executor CPU ms and
    shuffle-write records per job group (groups starting with
    ``prefix``), read from the application status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for job in _seq(store.jobsList(None)):
        grp = job.jobGroup()
        if not grp.isDefined() or not str(grp.get()).startswith(prefix):
            continue
        g = out.setdefault(str(grp.get()), GroupStats())
        g.jobs += 1
        g.stages += job.numCompletedStages()
        g.tasks += job.numCompletedTasks()
        for sid in _seq(job.stageIds()):
            stage_group[sid] = str(grp.get())
    gw = spark.sparkContext._gateway
    stages = store.stageList(  # all statuses, no details / quantiles
        gw.jvm.java.util.ArrayList(), False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    seen: set[tuple[int, int]] = set()
    for st in _seq(stages):
        sid = st.stageId()
        if sid not in stage_group or (sid, st.attemptId()) in seen:
            continue
        seen.add((sid, st.attemptId()))
        g = out[stage_group[sid]]
        g.cpu_ms += st.executorCpuTime() / 1e6
        g.shuffle_records += st.shuffleWriteRecords()
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the Spark JVM and its Python workers), including what they used in
    children they have reaped. Unlike wall time, it does not grow while
    a thread waits for a CPU."""
    me = os.getpid()
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # ppid; utime + stime + cutime + cstime
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ticks = 0
    for pid, (_, t) in procs.items():
        p = pid
        while p > 1 and p != me:
            p = procs[p][0] if p in procs else 0
        if p == me:
            ticks += t
    return ticks * _TICK_S


def jit_cpu_s(pid: int) -> float:
    """CPU seconds the JIT compiler threads of JVM ``pid`` have used
    (the JVM keeps them alive: -XX:-UseDynamicNumberOfCompilerThreads)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = stat[stat.rindex(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks * _TICK_S


def storage_census(spark) -> tuple[float, int]:
    """(MB of storage memory held by cached/persisted RDDs, number of
    such RDDs)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    rdds = jsc.statusStore().rddList(True)
    used = sum(r.memoryUsed() for r in _seq(rdds))
    return used / 2**20, rdds.size()
