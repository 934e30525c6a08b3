"""Process environment, Spark session and statistics shared by the workloads.

The benchmark keeps every file it touches inside the checkout it runs from:
inputs, Spark local dirs, JVM temp files and the span dump all live under
``.perfbench_work/`` (removed when the run ends) or ``.perfbench_out/``.
"""

from __future__ import annotations

import contextlib
import ctypes
import math
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aws_vpc_flow_log_appender_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# Fixed-size driver heap: the package's SPARK_DRIVER_MEMORY setting plus an
# equal initial size, so the heap never resizes during a run.  On a 4-vCPU
# VM, six seeds run alternately with the package default (16g cap, growing
# heap) gave the same medians, but the query_mix latency IQR/median fell
# from 0.30 to 0.06 and the decorate_stream one from 0.17 to 0.14.
DRIVER_MEMORY = "3g"


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark into
    ``work``; must run before the first SparkSession is created."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def start_session():
    """A fresh session from the package's own factory (local[nproc])."""
    from aws_vpc_flow_log_appender_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, however deep.

    Spark's Python worker daemons are started by the JVM and put in process
    groups of their own; when the JVM exits they are orphaned.  As a child
    subreaper this process inherits them, so ``reap_descendants`` can wait
    for each one to end.  SIGTERM and SIGHUP become ``SystemExit``, so the
    clean-up in ``run.main`` runs on those paths out too.
    """
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def _exit(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _exit)
    signal.signal(signal.SIGHUP, _exit)


def shutdown_jvm() -> None:
    """Stop the Py4J gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            # the JVM exits once its stdin closes; give its shutdown hooks
            # time, then make sure
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _descendants() -> list[int]:
    """Pids of every live process below this one."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z":
                parent[int(name)] = int(fields[1])
    me, out = os.getpid(), []
    for pid in parent:
        p = parent[pid]
        while p in parent and p != me:
            p = parent[p]
        if p == me:
            out.append(pid)
    return out


def reap_descendants(grace_s: float = 20.0) -> None:
    """Wait until every process this one started, and every process those
    started, has ended and been reaped; kill what is still running after
    ``grace_s`` seconds.  Needs ``adopt_orphans`` to have run first."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() >= deadline:
            for pid in _descendants():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            killed = True
        time.sleep(0.02)


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (the ``cpu`` line of
    /proc/stat): user, nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: time-varying host contention that moves every
    timing of a run."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has at least
    ten samples beyond it; the maximum when there are fewer than 11."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0
    rank = n - 10  # 1-based rank with exactly ten samples above it
    return v[rank - 1], 100.0 * rank / n


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in values) / len(values))
