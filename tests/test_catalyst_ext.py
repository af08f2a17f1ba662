"""Injected Catalyst rule (SURVEY §4.1 v2): raw SQL text over annotated
tables gets implied __x_start conjuncts pushed into the Parquet scan —
no typed-API call — with semantics exactly preserved.

The extension must be registered at SparkSession creation, and the
session-scoped fixture's JVM may predate the jar config, so the whole
scenario runs in ONE subprocess with a fresh JVM (slow but honest; the
rule's unit semantics are covered by the inline A/B loop inside it).
"""

from __future__ import annotations

import pytest
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCENARIO = r"""
import sys
sys.path.insert(0, %r)
from parquet_on_fhir_spark.session import get_session
from pyspark.sql import functions as F
from parquet_on_fhir_spark.functions.partial_date import (
    fhir_date_start, fhir_date_end,
)

spark = get_session("catalyst-ext-test")
spark.sparkContext.setLogLevel("FATAL")
assert spark.conf.get("spark.sql.extensions", "") \
    == "org.pofs.spark.FhirAnnotationExtensions"

vals = [
    "2015", "2015-03", "2015-03-14", "2015-03-14T12:05Z",
    "2015-03-14T23:30:00+14:00", "2015-03-14T00:30:00-14:00",
    "2014-12-31", "2016-01-01", "garbage", "2015-13", "2015-02-30",
    None, "0001", "9999-12-31T23:59:59.999Z", "2015-03-14T12:05:30.123Z",
]
df = spark.createDataFrame(
    [(i, v) for i, v in enumerate(vals)], "id int, birthDate string"
)
ann = (
    df.withColumn("__birthDate_start", fhir_date_start(F.col("birthDate")))
    .withColumn("__birthDate_end", fhir_date_end(F.col("birthDate")))
)
base = sys.argv[1]
path = base + "/p.parquet"
ann.write.mode("overwrite").parquet(path)
spark.read.parquet(path).createOrReplaceTempView("p")
df.createOrReplaceTempView("raw")

# 1) pushdown: the implied annotation conjunct reaches PushedFilters
q = spark.sql("SELECT id FROM p WHERE birthDate >= '2015-03'")
plan = q._jdf.queryExecution().executedPlan().toString()
assert "__birthDate_start" in plan and "PushedFilters" in plan, plan
# toString truncates long filter lists; the Or(IsNull(...)) head of the
# implied conjunct is within the untruncated prefix
assert "Or(IsNull(__birthDate_start)" in plan, plan
assert "__birthDate_start#" in plan.split("Filter")[1], plan

# 2) semantics: extension results == plain string-predicate results
preds = [
    "birthDate >= '2015-03'", "birthDate > '2015'",
    "birthDate <= '2015-03-14'", "birthDate < '2015-03-14T12:05Z'",
    "birthDate = '2015-03'", "'2015-03' <= birthDate",
    "'2015-06' > birthDate", "birthDate = 'garbage'",
    "birthDate >= '2015-13'", "birthDate >= 'zzz'",
    "birthDate = '0001'",
    "birthDate >= '0001' AND birthDate <= '2015-03-14'",
]
for pred in preds:
    got = sorted(r.id for r in spark.sql(
        "SELECT id FROM p WHERE " + pred).collect())
    ref = sorted(r.id for r in spark.sql(
        "SELECT id FROM raw WHERE " + pred).collect())
    assert got == ref, (pred, got, ref)

# 3) idempotent under the fixpoint batch: exactly one implied conjunct
cond = q._jdf.queryExecution().optimizedPlan().toString()
assert cond.count("__birthDate_start#") <= 3, cond  # filter ref + output

# 4) numeric annotation path: CAST(elem) cmp literal implies a
#    __elem_numeric range conjunct (±1e-6 slack for the 6-dp rounding)
nvals = ["5.5", "10", "9", "0.0000005", "-3.25", "1e31", "junk", None,
         "5.5000004", "5.4999996",
         # large magnitudes: above ~1e10 double ulp exceeds 1e-6, so a
         # FIXED 1e-6 slack collapses (v-1e-6 == v) while the data
         # value's string->double cast can cross the literal — the
         # ulp-aware slack must keep these rows (ADVICE r8 high)
         "99999999999.999998", "100000000000.000002", "1e11",
         "1000000000000000.1", "-99999999999.999998"]
ndf = spark.createDataFrame(
    [(i, v) for i, v in enumerate(nvals)], "id int, riskScore string"
)
nann = ndf.withColumn(
    "__riskScore_numeric", F.col("riskScore").try_cast("decimal(38,6)")
)
npath = base + "/n.parquet"
nann.write.mode("overwrite").parquet(npath)
spark.read.parquet(npath).createOrReplaceTempView("pn")
ndf.createOrReplaceTempView("rawn")
for pred in [
    "try_cast(riskScore as double) > 5.5",
    "try_cast(riskScore as double) >= 9",
    "try_cast(riskScore as double) < 0.5",
    "try_cast(riskScore as double) = 5.5",
    "5.5 <= try_cast(riskScore as double)",
    "try_cast(riskScore as double) >= 1e11",
    "try_cast(riskScore as double) <= 1e11",
    "try_cast(riskScore as double) = 1e11",
    "try_cast(riskScore as double) > 99999999999.999997",
    "try_cast(riskScore as double) < -99999999999.999997",
    "try_cast(riskScore as double) >= 1000000000000000.0",
]:
    got = sorted(r.id for r in spark.sql(
        "SELECT id FROM pn WHERE " + pred).collect())
    ref = sorted(r.id for r in spark.sql(
        "SELECT id FROM rawn WHERE " + pred).collect())
    assert got == ref, (pred, got, ref)
nq = spark.sql("SELECT id FROM pn WHERE try_cast(riskScore as double) > 5.5")
nplan = nq._jdf.queryExecution().executedPlan().toString()
assert "Or(IsNull(__riskScore_numeric)" in nplan, nplan

# 5) randomized soundness sweep: generated dates x generated predicates
#    (all precisions, timezones, junk) must agree with the raw table —
#    property-level evidence for the monotonicity + slack argument
import random
rng = random.Random(8)
def rand_date():
    y, m, d = rng.randint(1990, 2030), rng.randint(1, 12), rng.randint(1, 28)
    p = rng.random()
    if p < 0.2: return f"{y:04d}"
    if p < 0.4: return f"{y:04d}-{m:02d}"
    if p < 0.6: return f"{y:04d}-{m:02d}-{d:02d}"
    tz = rng.choice(["Z", "+05:30", "-11:00", "+14:00"])
    sec = rng.choice(["", f":{rng.randint(0,59):02d}",
                      f":{rng.randint(0,59):02d}.{rng.randint(0,999):03d}"])
    return (f"{y:04d}-{m:02d}-{d:02d}T{rng.randint(0,23):02d}:"
            f"{rng.randint(0,59):02d}{sec}{tz}")
rvals = [rand_date() for _ in range(300)] + ["junk", "", None, "2020-99"]
rdf = spark.createDataFrame(
    [(i, v) for i, v in enumerate(rvals)], "id int, d string"
)
rann = (
    rdf.withColumn("__d_start", fhir_date_start(F.col("d")))
    .withColumn("__d_end", fhir_date_end(F.col("d")))
)
rpath = base + "/r.parquet"
rann.write.mode("overwrite").parquet(rpath)
spark.read.parquet(rpath).createOrReplaceTempView("pr")
rdf.createOrReplaceTempView("rawr")
for _ in range(25):
    op = rng.choice([">", ">=", "<", "<=", "="])
    lit = rng.choice(rvals[:300])
    pred = f"d {op} '{lit}'"
    got = sorted(r.id for r in spark.sql(
        "SELECT id FROM pr WHERE " + pred).collect())
    ref = sorted(r.id for r in spark.sql(
        "SELECT id FROM rawr WHERE " + pred).collect())
    assert got == ref, (pred, got[:5], ref[:5])
for k in (5, 12):  # 12 > inSetConversionThreshold -> the InSet path
    ins = rng.sample(rvals[:300], k)
    pred = "d IN (" + ", ".join(f"'{v}'" for v in ins) + ")"
    got = sorted(r.id for r in spark.sql(
        "SELECT id FROM pr WHERE " + pred).collect())
    ref = sorted(r.id for r in spark.sql(
        "SELECT id FROM rawr WHERE " + pred).collect())
    assert got == ref, pred

print("CATALYST_EXT_OK")
""" % (str(REPO),)


@pytest.mark.slow
def test_injected_rule_pushdown_and_semantics(tmp_path):
    r = subprocess.run(
        [sys.executable, "-c", SCENARIO, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(REPO),
    )
    assert "CATALYST_EXT_OK" in r.stdout, r.stdout[-2000:] + r.stderr[-3000:]
