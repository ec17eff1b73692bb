"""The one local session factory (lucene_7_x_9_x_spark/session.py): the
shape it gives the test fixture, the worker environment it hands to
Python workers, and a guard that no other local session builder grows
back in the repo."""

import json
import os
import re
import subprocess
import sys

import pandas as pd

import lucene_7_x_9_x_spark
from lucene_7_x_9_x_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the only files allowed to build a session by hand: the factory, the
# frozen bench.py, the benchmark harness and the cluster submit (no master)
BUILDER_ALLOWED = {"lucene_7_x_9_x_spark/session.py", "bench.py",
                   "scripts/submit_build.py"}
BUILDER = re.compile(r"SparkSession\s*\.\s*builder")


def _worker_env(batches):
    for _ in batches:
        yield pd.DataFrame({"exe": [sys.executable],
                            "pkg": [lucene_7_x_9_x_spark.__file__]})


def test_fixture_session_shape(spark):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    assert sc.uiWebUrl is None
    assert (int(spark.conf.get("spark.sql.shuffle.partitions"))
            == sc.defaultParallelism)


def test_workers_run_this_interpreter_and_this_checkout(spark):
    rows = (spark.range(1, numPartitions=1)
            .mapInPandas(_worker_env, "exe string, pkg string").collect())
    assert len(rows) == 1
    assert session.ROOT == ROOT
    assert rows[0]["exe"] == sys.executable
    pkg = os.path.realpath(rows[0]["pkg"])
    assert pkg.startswith(os.path.realpath(ROOT) + os.sep)
    assert pkg == os.path.realpath(lucene_7_x_9_x_spark.__file__)


def test_no_other_session_builder():
    found = []
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [s for s in subdirs
                      if not s.startswith(".") and s != "__pycache__"]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
            if rel in BUILDER_ALLOWED or rel.startswith("perfbench/"):
                continue
            with open(path, encoding="utf-8") as fh:
                if BUILDER.search(fh.read()):
                    found.append(rel)
    assert not found, (f"build local sessions with "
                       f"lucene_7_x_9_x_spark.session.local_session: {found}")


_DECOY_PROBE = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from lucene_7_x_9_x_spark.session import local_session


def where(batches):
    import lucene_7_x_9_x_spark
    for _ in batches:
        yield pd.DataFrame({"pkg": [lucene_7_x_9_x_spark.__file__]})


spark = local_session(1, heap="512m")
try:
    row = (spark.range(1, numPartitions=1)
           .mapInPandas(where, "pkg string").collect()[0])
    print(json.dumps({"worker": row["pkg"],
                      "driver_env": os.environ.get("PYTHONSAFEPATH")}))
finally:
    spark.stop()
"""


def test_workers_ignore_a_package_in_the_launching_directory(tmp_path):
    """A worker imports the engine from this checkout even when the
    session is started from a directory holding a package of the same
    name; the setting that makes it so stays out of the driver's
    environment."""
    decoy = tmp_path / "lucene_7_x_9_x_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text("")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONSAFEPATH"}
    out = subprocess.run([sys.executable, "-c", _DECOY_PROBE, ROOT],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert os.path.realpath(got["worker"]) == \
        os.path.realpath(lucene_7_x_9_x_spark.__file__)
    assert got["driver_env"] is None
