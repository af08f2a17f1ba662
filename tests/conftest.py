import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parquet_on_fhir_spark.session import get_session  # noqa: E402

SF = "/root/testdata/sf0.001"
PATIENT = "/root/reference/examples/Patient.parquet"
OBSERVATION = "/root/reference/examples/Observation.parquet"


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), number of Spark jobs fn started)``,
    counted with ``statusTracker`` under a job group of its own."""
    sc = spark.sparkContext

    def count(fn):
        group = f"job-pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
