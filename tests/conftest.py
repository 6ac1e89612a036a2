import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from infoscience_imports_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_pages(spark):
    from infoscience_imports_spark.sources.synthetic import generate_web_pages

    return generate_web_pages(spark, 200, seed=42).cache()


@pytest.fixture
def jobs_submitted(spark):
    """``jobs_submitted(fn) -> (fn(), [job ids fn submitted])``: runs ``fn``
    under a fresh job group and reads the group's jobs from the status
    tracker — for asserting that building a plan runs no Spark job."""
    import uuid

    sc = spark.sparkContext

    def probe(fn):
        group = f"probe-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job-count probe")
        try:
            before = set(sc.statusTracker().getJobIdsForGroup(group))
            out = fn()
            after = set(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sorted(after - before)

    return probe
