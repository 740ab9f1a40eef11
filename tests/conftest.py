import shutil
import tempfile
import uuid

import pytest

from embulk_input_mixpanel_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_table_dir():
    d = tempfile.mkdtemp(prefix="laketbl-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` -> (fn's result, number of Spark jobs fn launched),
    counted under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store learns of jobs through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
