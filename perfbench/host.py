"""Host pinning, session lifetime and host-level measurements.

Everything a run writes goes under its own run directory inside the
checkout: Spark scratch, Java and Python temp files, the tables and
the trace. The session is ``local[N]`` with N = ``nproc`` capped at 2
and at most N garbage-collector threads, so that a run leaves half of
a 4-core host to its neighbours and is slowed less by them; one BLAS
thread per process and a driver heap sized for a small box
(``SPARK_GRAFT_DRIVER_MEM``; the package default of 90g is for large
hosts).
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from pathlib import Path

MAX_CPUS = 2
DRIVER_MEM = "2g"


def pin_env(run_dir: Path) -> int:
    """Set the process environment before the JVM starts; returns N."""
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, spark-submit's launcher too: no hsperfdata files, which
    # the JVM writes to /tmp whatever its temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -XX:ParallelGCThreads={cpus} -XX:ConcGCThreads=1 -Djava.io.tmpdir={tmp}"
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    return cpus


def start_session(run_dir: Path):
    from rootstock_collective_state_sync_spark.session import get_spark

    tmp = run_dir / "tmp"
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # keep every job's status so the trace can count tasks
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm: int) -> float:
    """Peak resident set (``VmHWM``) of this driver process plus the JVM."""
    return (_hwm_kb("self") + _hwm_kb(jvm)) / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of all CPUs so far, from ``/proc/stat``:
    steal is time the hypervisor gave this host's CPUs to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen between two :func:`cpu_times` readings."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def host_probe_s(rounds: int = 5) -> float:
    """Median time of a fixed single-core hashing loop: a host-speed
    reference stored beside the results, to flag runs on a slow or
    contended host."""
    buf = b"\x5a" * (1 << 20)
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = b""
        for _ in range(16):
            h = hashlib.sha256(buf + h).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
