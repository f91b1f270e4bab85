"""The process environment and Spark settings every benchmark session
uses, sized for the machine it runs on.

- local[n] with n = the CPUs this process may run on.
- Driver heap = MemTotal / 8 from /proc/meminfo, clamped to 1-8 GiB.
- BLAS/OpenMP pools pinned to one thread: Spark already runs one Python
  worker per core.
- PYTHONPATH carries the checkout root, so the Python workers Spark
  forks import the package from the same source as the driver.
- Spark scratch, the JVM's and Python's temp files stay inside
  `.perfbench/` of the checkout.
- The remaining Spark settings are the ones bench.py uses.
"""

from __future__ import annotations

import os
import subprocess
import sys

_THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS")


def state_dir(root: str) -> str:
    return os.path.join(root, ".perfbench")


def configure_process(root: str) -> None:
    """Set before numpy or pyspark is imported; child processes inherit it."""
    for var in _THREAD_VARS:
        os.environ[var] = "1"
    tmp = os.path.join(state_dir(root), "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state_dir(root), "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    if root not in sys.path:
        sys.path.insert(0, root)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(8192, total_mb // 8))
    raise RuntimeError(f"no MemTotal in {meminfo}")


def spark_conf(root: str, event_log_dir: str | None = None) -> dict[str, str]:
    tmp = os.path.join(state_dir(root), "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.files.maxPartitionBytes": "64m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
        })
    return conf


def jvm_pid() -> int:
    """pid of the JVM PySpark launched for this process's session."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
