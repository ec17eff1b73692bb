import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from lucene_7_x_9_x_spark.session import local_session
    # SPARK_TEST_MASTER is a local[N] master string
    master = os.environ.get("SPARK_TEST_MASTER", "local[8]")
    s = local_session(int(master[len("local["):-1]),
                      heap=os.environ.get("SPARK_TEST_DRIVER_MEM", "4g"))
    yield s
    s.stop()


@pytest.fixture()
def tmp_index_dir():
    d = tempfile.mkdtemp(prefix="lucene_spark_idx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
