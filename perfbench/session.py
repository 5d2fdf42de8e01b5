"""Process environment and Spark session for one benchmark run.

Everything Spark, the JVM and Python workers write goes under the run's
work directory inside the checkout."""

from __future__ import annotations

import os
import tempfile
import time

# Driver heap: far below physical memory (``get_spark`` defaults to 16g,
# more than a 15 GB box has) and enough for the largest workload's
# 120k-row micro-batches.
DRIVER_MEM = "3g"


def configure_env(root: str, workdir: str) -> int:
    """Set the variables the session and its workers read; returns the core
    count the session will use."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the session starts, spark-submit's launcher included: temp
    # files in the run's directory and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    # workers (and the streaming source runner) import the package and the
    # benchmark's own source classes from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_GRAFT_STATE_STORE", None)
    time.tzset()
    tempfile.tempdir = tmp
    return cpus


def start_session(workdir: str):
    """The engine's own session (``get_spark``), with the benchmark's files
    kept in ``workdir``."""
    from opc2mongodb_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the live workload runs more triggers than the default 100
            # progress entries a query keeps
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def jvm_pid() -> int:
    """Process id of the driver JVM the session runs in."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
