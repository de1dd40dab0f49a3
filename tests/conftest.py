import contextlib
import os
import sys
import uuid

import pytest

# test the checkout this file belongs to, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_loader_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    return SF_MEDIUM


class JobGroup:
    """A fresh Spark job group. ``start`` puts the calling thread's later
    jobs in it; ``job_ids`` lists the group's jobs once the listener bus
    has caught up with every finished job."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.name = f"test-jobs-{uuid.uuid4().hex}"

    def start(self) -> "JobGroup":
        self.sc.setJobGroup(self.name, "jobs counted by a test")
        return self

    def job_ids(self) -> list[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(self.sc.statusTracker().getJobIdsForGroup(self.name))


@contextlib.contextmanager
def job_group(spark):
    """Run the block's Spark jobs in a fresh ``JobGroup`` (yielded); the
    thread leaves every job group when the block exits."""
    group = JobGroup(spark).start()
    try:
        yield group
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
