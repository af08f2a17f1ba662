"""The session factory: no per-Column call-site capture (about 7 py4j
round trips per Column call), and Python workers that import the
package from any working directory."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from parquet_on_fhir_spark import profile
from parquet_on_fhir_spark.fhir.annotations import annotate
from parquet_on_fhir_spark.fhir.decode import to_fhir_json

REPO = Path(__file__).resolve().parent.parent

# A Patient shaped like the benchmark's: partial dates with a precision
# extension on the primitive, repeating name and address, a choice type.
PATIENT_DDL = (
    "resourceType string, id string, gender string, birthDate string, "
    "_birthDate struct<extension: array<struct<url: string, valueCode: string>>>, "
    "name array<struct<use: string, family: string, given: array<string>>>, "
    "address array<struct<line: array<string>, city: string, "
    "postalCode: string, country: string>>, "
    "multipleBirthInteger bigint, multipleBirthBoolean boolean"
)


def test_session_disables_dataframe_debugging(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_session_puts_package_first_on_worker_path(spark):
    worker_path = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert worker_path[0] == str(REPO)
    assert worker_path.count(str(REPO)) == 1


@pytest.mark.parametrize("layer", ["annotate", "to_fhir_json"])
def test_expression_build_round_trips(spark, layer):
    """Building the annotation projection over a raw Patient frame, and
    the lossless decode over an annotated one, is Column construction
    only, with no Spark job: about 750 and 840 round trips. With
    call-site capture on, each Column call adds about 7 more, and the
    same builds send about 1,770 and 2,960."""
    df = spark.createDataFrame([], PATIENT_DDL)
    if layer == "annotate":
        build, bound = lambda: annotate(df), 1000
    else:
        annotated = annotate(df)
        build, bound = lambda: to_fhir_json(annotated, resource_type="Patient"), 1200
    with profile.py4j_commands(spark) as sent:
        build()
    assert len(sent) <= bound, len(sent)


@pytest.mark.slow
def test_workers_import_package_outside_repo(tmp_path):
    """A script run from another directory, with ``PYTHONPATH`` unset,
    that puts the repo on its own ``sys.path``: the ``mapInPandas``
    function of ``extract_links`` lives in the package, so its Python
    worker must import it too (q328 failed this way)."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from parquet_on_fhir_spark.session import get_session\n"
        "from parquet_on_fhir_spark.operators.html import extract_links\n"
        "spark = get_session('worker-path')\n"
        "pages = spark.createDataFrame(\n"
        "    [(1, 'http://a.example/', '<a href=\"/x\">x</a>')],\n"
        "    'doc_id long, url string, html string',\n"
        ")\n"
        "print(sorted(r.dst_url for r in extract_links(pages).collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "['http://a.example/x']"
