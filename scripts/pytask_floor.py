"""Fixed cost of a Spark job, with and without Python tasks.

Runs six tiny probes, in this order, in perfbench's session shape
(local[min(2, nproc)], shuffle partitions = task slots, a fixed 1 GB
driver heap) and prints, for each, the median wall ms per op and the
Spark jobs per op:

  jvm_groupby_count      a JVM-only 2-task groupBy().count()
  apply_in_pandas        an identity groupBy().applyInPandas
  apply_in_arrow         an identity groupBy().applyInArrow
  create_df_list         createDataFrame(list of tuples).collect()
  create_df_arrow        createDataFrame(pyarrow.Table).collect()
  apply_in_pandas_engine an identity groupBy().applyInPandas whose UDF
                         imports lucene_7_x_9_x_spark

The gap between the JVM-only job and the identity UDFs is the per-task
Python floor: pyspark's worker calls `importlib.invalidate_caches()`
before every task, and Python re-reads pyspark.zip's directory once per
cached zip importer. No kernel I/O format removes it. `apply_in_pandas`,
`apply_in_arrow` and `create_df_list` still pay it, because their workers
never import the engine. `apply_in_pandas_engine` runs last: importing
the engine drops the archive importers of a reused worker
(`lucene_7_x_9_x_spark/_worker.py`), so after each worker's first task
it pays no floor. `create_df_arrow` is a LocalRelation (no job) while a
DataFrame over a Python list runs a job with a Python task.

Usage: python scripts/pytask_floor.py [reps]   (default 7)
The last stdout line is one JSON object {probe: {ms_per_op, jobs_per_op}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_7_x_9_x_spark.session import local_session


def engine_identity(pdf):
    import lucene_7_x_9_x_spark  # noqa: F401
    return pdf


def probes(spark):
    import pyarrow as pa
    from pyspark.sql import functions as F
    base = spark.range(0, 1000, 1, 2).withColumn("g", F.col("id") % 2)
    rows = [(i, float(i)) for i in range(10)]
    tbl = pa.table({"a": [a for a, _ in rows], "b": [b for _, b in rows]})
    return {
        "jvm_groupby_count":
            lambda: spark.range(0, 1000, 1, 2).groupBy().count().collect(),
        "apply_in_pandas": lambda: base.groupBy("g").applyInPandas(
            lambda pdf: pdf, schema=base.schema).collect(),
        "apply_in_arrow": lambda: base.groupBy("g").applyInArrow(
            lambda t: t, schema=base.schema).collect(),
        "create_df_list": lambda: spark.createDataFrame(
            rows, "a long, b double").collect(),
        "create_df_arrow": lambda: spark.createDataFrame(tbl).collect(),
        # last: the engine import makes every later task of these workers
        # zip-free, whatever its UDF
        "apply_in_pandas_engine": lambda: base.groupBy("g").applyInPandas(
            engine_identity, schema=base.schema).collect(),
    }


def measure(spark, fn, reps: int, group: str) -> dict:
    sc = spark.sparkContext
    fn()  # warm: JIT, the Python worker daemon, plan caches
    wall = []
    sc.setJobGroup(group, group)
    try:
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            wall.append((time.perf_counter() - t0) * 1000)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {"ms_per_op": round(statistics.median(wall), 1),
            "jobs_per_op": round(jobs / reps, 2)}


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    spark = local_session(
        min(2, os.cpu_count() or 1), heap="1g",
        conf={"spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch"})
    try:
        out = {}
        for name, fn in probes(spark).items():
            out[name] = measure(spark, fn, reps, f"floor-{name}")
            print(f"{name:22s} {out[name]['ms_per_op']:8.1f} ms/op "
                  f"{out[name]['jobs_per_op']:5.2f} jobs/op", flush=True)
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
