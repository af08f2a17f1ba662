import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parquet_on_fhir_spark import profile  # noqa: E402
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
    streaming micro-batches included (``profile.jobs``)."""

    def count(fn):
        with profile.jobs(spark) as started:
            out = fn()
        return out, len(started.ids)

    return count
