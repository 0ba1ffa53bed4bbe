"""Process environment, session lifetime and memory probes.

``configure()`` must run before pyspark is imported: it pins the core
count, Spark JVM heap and every temporary directory inside the
benchmark's work directory, so a run reads and writes only inside the
checkout.
"""

from __future__ import annotations

import os
import resource
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
SPARK_LOCAL = os.path.join(WORK, "spark-local")
API_ROOT = os.path.join(WORK, "api")  # the API's data root (ANALYTICS_DATA_ROOT)
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "3g"


def configure() -> None:
    for d in (TMP, SPARK_LOCAL, API_ROOT):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=SPARK_LOCAL,
        TMPDIR=TMP,
        ANALYTICS_DATA_ROOT=API_ROOT,
    )


def start_session(app: str, extra_conf: dict[str, str] | None = None):
    from data_ingestion_project_spark.session import build_session

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
        "spark.ui.showConsoleProgress": "false",
        **(extra_conf or {}),
    }
    spark = build_session(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Spark JVM VmHWM plus this process's ru_maxrss (both KiB)."""
    pid = jvm_pid()
    jvm = _vm_hwm_kb(pid) if pid else 0
    return (jvm + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def session_health(spark) -> tuple[int, float]:
    """(persisted RDDs, MiB held in memory or on disk by cached blocks)."""
    jsc = spark.sparkContext._jsc
    cached = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return jsc.getPersistentRDDs().size(), cached / 2**20


def stop_session(spark) -> None:
    """Stop Spark and wait for the Spark JVM (and with it the Python
    workers it forked) to exit: the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
