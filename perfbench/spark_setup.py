"""Session set-up as a job pays it, and a teardown that waits for the
JVM to end."""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep Spark's scratch files, Python temp files and the JVM's temp
    directory inside the benchmark's work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # get_spark's 8g default sizes a driver that collects; this one
    # holds a few lineage rows
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def open_session():
    """Create the session with ``get_spark`` at nproc threads, ship the
    package to the Python workers and wait for a trivial query.
    Returns (spark, seconds)."""
    import __spark_entry__
    from pdf_inspector_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", cpus=nproc(),
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']}"})
    spark.sparkContext.setLogLevel("ERROR")
    __spark_entry__._ensure_shipped(spark)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def close_session(spark) -> None:
    """Stop the session, then end the JVM (and with it the Python
    workers) and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)

