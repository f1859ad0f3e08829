"""Spark session of a benchmark process: every file Spark, the JVM and the
Python workers write stays under the run's work directory, and the session,
its JVM and its workers are stopped and waited for at the end."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench.rss import descendants

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure_env(work: str, slots: int) -> None:
    """Point Spark's and the workers' temporary files at ``work``; size the
    shuffle to the slots (two partitions per slot, as the test suite's
    four-slot session has, not the 32 meant for a cluster) and the driver
    heap to the benchmark's few-MB inputs (1 GB, not the 8 GB default)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        TMPDIR=tmp,
        # the JVM that spark-submit runs first to build the driver's command
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(2 * slots),
        PYSPARK_PYTHON=sys.executable,
    )


def start_session(work: str, slots: int, event_log: str | None = None):
    from autoscan_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        # uncompressed: Spark 4 defaults to zstd, which Python cannot read here
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log,
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{slots}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def noop(df) -> None:
    """The benchmark's sink: run the whole plan, keep nothing."""
    df.write.format("noop").mode("overwrite").save()
