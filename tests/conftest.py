import os
import shutil
import tempfile

import pytest

from ocr_application_spark.session import get_spark
from ocr_application_spark.sources.webpages import default_scratch

# get_spark's 48g default heap lets the local-mode block store keep
# cached and checkpointed blocks until the JVM outgrows a 16 GB host
# (the kernel OOM-kills it mid-suite); a bounded heap makes Spark
# evict to disk instead. The test data is sf0.01 at most.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_scratch():
    d = tempfile.mkdtemp(prefix="sparkgraft_", dir=default_scratch())
    yield d
    shutil.rmtree(d, ignore_errors=True)


def pytest_configure(config):
    os.makedirs(default_scratch(), exist_ok=True)
