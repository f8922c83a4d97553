from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small + fast for unit tests
# the session's 24g default heap is never collected down over a whole
# suite run: its driver JVM grew to 14 GB RSS and was OOM-killed on a
# 15 GB host, failing every test after it
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from crawl4ai_spark.session import get_spark

    s = get_spark(app_name="crawl4ai_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
