import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark

    s = get_spark(app_name="gdal-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """`jobs_in_group(group, fn)`: Spark job ids started by `fn()` under
    job group `group`. A sentinel job in a second group is awaited first:
    the status store applies listener events in order, so once the
    sentinel shows, every job `fn` started shows too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(group, fn):
        try:
            sc.setJobGroup(group, group)
            fn()
            sc.setJobGroup(group + "-sentinel", "sentinel")
            spark.range(1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(group + "-sentinel"):
            assert time.time() < deadline, "sentinel job never reached the status store"
            time.sleep(0.05)
        return list(tracker.getJobIdsForGroup(group))

    return run
