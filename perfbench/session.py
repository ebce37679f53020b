"""The one pinned Spark session every workload runs on.

``CONF`` is the whole configuration; nothing else is read from the
environment except the core count. All scratch the JVM and the Python
workers write stays under the run's work directory.
"""

from __future__ import annotations

import os
import subprocess
import time

SHUFFLE_PARTITIONS = 4
HEAP = "1536m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def conf(work: str) -> dict[str, str]:
    n = cores()
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.default.parallelism": str(n),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # The heap is committed and touched up front, so the JVM's
        # resident size does not depend on when G1 chose to grow it.
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation":
            os.path.join(work, "checkpoints"),
        # JIT tier 1 only: the optimising tier's compiler threads kept
        # competing with the task slots for the cores for dozens of
        # passes, so a run's few measured passes moved with the host.
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def start(work: str):
    """Start the session; returns ``(spark, seconds)``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers inherit the JVM's environment.
    os.environ["TMPDIR"] = tmp
    t0 = time.perf_counter()
    builder = SparkSession.builder
    for k, v in conf(work).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
