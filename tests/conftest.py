import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_iceberg_lakehouse_workshop_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf01_dir():
    """The 2,000-vector scale of the same generated tables."""
    return os.path.join(os.path.dirname(SF_DIR), "sf0.1")


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn) -> (jobs, result)``: the Spark jobs ``fn`` runs,
    counted through a job tag of its own. Tags are thread-scoped and nest,
    so an op that tags or groups its own jobs still counts here; a job
    group would be overwritten by a ``setJobGroup`` inside ``fn``."""
    sc = spark.sparkContext

    def count(fn):
        tag = f"jobs-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            out = fn()
        finally:
            sc.removeJobTag(tag)
        jsc = sc._jsc.sc()
        # the status tracker reads the listener-fed status store
        jsc.listenerBus().waitUntilEmpty()
        return len(jsc.statusTracker().getJobIdsForTag(tag)), out

    return count
