"""Shared benchmark plumbing: per-run isolation, the Spark session,
percentiles and process-level resource readings.

Everything a run writes lands under one per-run work directory inside
the checkout (``.bench_work/``): the lake, the warehouse and metastore
(the run's cwd), ``SPARK_GRAFT_ARTIFACTS``, streaming checkpoints,
``SPARK_LOCAL_DIRS`` and JVM/Python temp files.
"""

from __future__ import annotations

import importlib.util
import math
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")

# Driver heap for local mode: the session default (16g) exceeds what a
# small shared host can give one benchmark process.
DRIVER_MEM = "3g"


def load_script(relpath: str):
    """Import a repository script that is not a package module, such as
    ``tools/sfgen.py`` or ``examples/run_imdb_pipeline.py``."""
    path = os.path.join(ROOT, relpath)
    name = "_bench_" + relpath.replace("/", "_").removesuffix(".py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(workload: str, seed: int) -> str:
    """Create this run's work dir, point every write of the program at
    it, chdir into it and return it. Must run before the JVM starts."""
    work = os.path.join(WORK_ROOT, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("artifacts", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    prior = os.environ.get("PYTHONPATH")
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_ARTIFACTS": os.path.join(work, "artifacts"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the package by module path
        "PYTHONPATH": ROOT + (os.pathsep + prior if prior else ""),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.chdir(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def build_session(app: str):
    """The program's own session factory, plus run isolation and UI
    retention settings (the traced run reads counters from the UI's
    status store; both modes keep the same settings)."""
    from aws_imdb_data_pipeline_spark.session import get_spark

    spark = get_spark(app, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(os.getcwd(), "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_quantile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it (the
    benchmark's tail rule); 0.9 needs 100 samples, fewer give lower."""
    return max(0.5, min(0.9, 1.0 - 10.0 / n)) if n else 0.5


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            out = [int(p) for p in f.read().split()]
    except OSError:
        pass
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS (VmHWM) of the driver JVM and every live process below
    it (the Python worker daemon and workers). The benchmark's own
    process is left out: its peak is the input generators' and oracles'."""
    pids, todo = [], [jvm_pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(_children(p))
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time across all collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def artifact_markers() -> dict[str, int]:
    """Completion markers under ``$SPARK_GRAFT_ARTIFACTS`` and their
    mtimes: a marker that appears or changes means an artifact build."""
    out = {}
    for root, _dirs, names in os.walk(os.environ["SPARK_GRAFT_ARTIFACTS"]):
        for n in names:
            if n in ("_meta.json", "meta.json"):
                p = os.path.join(root, n)
                out[p] = os.stat(p).st_mtime_ns
    return out
