"""The one local SparkSession factory: the tests, the scripts and the
profiling harnesses start their local session here, so the session shape
and the Python worker set-up are decided once. (The frozen `bench.py`
keeps its own builder; a cluster submit such as `scripts/submit_build.py`
takes its master from spark-submit.)"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_session(cores: int, heap: str | None = None,
                  work: str | None = None,
                  conf: dict[str, str] | None = None):
    """Start (or return the running) local SparkSession: no web UI or
    console progress bar, ERROR logging, and Python workers that run this
    interpreter and import the engine from this checkout.

    cores: task slots, `local[cores]`; also the shuffle partitions.
    heap:  the driver heap (`spark.driver.memory`, e.g. "4g"); None keeps
           Spark's default.
    work:  a directory for Spark's scratch files (`spark-local/`) and SQL
           warehouse (`warehouse/`); None keeps Spark's defaults.
    conf:  further settings, applied last, so they override the above.

    The worker environment goes into this process's environment before
    the JVM starts: the JVM, and every Python worker it forks, inherit it.
    Workers also get PYTHONSAFEPATH=1 (set for them only, through
    `spark.executorEnv`): the worker daemon runs as `python -m`, which
    would otherwise put the launching directory ahead of this checkout on
    `sys.path`, so a package of the same name there would shadow it.
    """
    from pyspark.sql import SparkSession
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + path)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("lucene-spark")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.executorEnv.PYTHONSAFEPATH", "1")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if heap is not None:
        b = b.config("spark.driver.memory", heap)
    if work is not None:
        b = (b.config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse")))
    if conf:
        b = b.config(map=conf)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
