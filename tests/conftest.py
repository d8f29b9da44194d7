import os

import pytest

from wikidata_dump_processor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wdp-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(fn)`` -> (fn's result, ids of the Spark jobs it submitted
    from this thread), counted under a job group set for the call."""
    sc = spark.sparkContext

    def run(fn):
        group = f"probe-{os.urandom(4).hex()}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
