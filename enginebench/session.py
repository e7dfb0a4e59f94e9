"""SparkSession lifecycle for the benchmark, confined to one work dir.

The session is the engine's own ``anisearch_model_spark.session.get_spark``,
so a change to its settings shows in the benchmark.  This module only
caps driver memory below host RAM, points every file the run writes
(package zip, Spark scratch, JVM and Python temp files) into
``work_dir``, and on ``stop`` waits for the JVM to exit.
"""

from __future__ import annotations

import os
import tempfile


DRIVER_MEMORY = "2g"  # well below host RAM; the engine's default is 24g


def start(work_dir: str, cores: int):
    from anisearch_model_spark import session as engine_session

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # the JVM (and the Python workers it forks) inherit TMPDIR
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # get_spark writes the package zip it ships to its workers into /tmp
    # unless given a destination: lend it one inside the work dir
    package_zip = engine_session.package_zip
    engine_session.package_zip = lambda dest=None: package_zip(
        dest or os.path.join(work_dir, "anisearch_model_spark.zip"))
    try:
        spark = engine_session.get_spark(
            app_name="enginebench", cores=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            })
    finally:
        engine_session.package_zip = package_zip
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the gateway down and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when stdin closes
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
