"""Compute the expected results of the ``analytics`` ops with DuckDB.

Runs each op's registered DuckDB oracle over the tables in
``perfbench/data/sf0.01`` and stores row count plus order-insensitive
value hash in ``perfbench/expected_analytics.json``. The benchmark only
reads that file; neither its set-up nor its passes run DuckDB.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from parquet_on_fhir_spark.suite import all_queries  # noqa: E402
from tools.selfcheck import table_hash  # noqa: E402
from workloads import ANALYTICS_OPS, DATA_DIR  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA_DIR)):
        name = f.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{DATA_DIR}/{f}')"
        )
    specs = {q.name: q for q in all_queries()}
    out = {}
    for name in ANALYTICS_OPS:
        odf = con.execute(specs[name].oracle).df()
        rows = [
            tuple(None if v is pd.NaT else v for v in r)
            for r in odf.itertuples(index=False, name=None)
        ]
        out[name] = {"rows": len(rows), "hash": table_hash(list(odf.columns), rows)}
        print(name, out[name]["rows"], file=sys.stderr)
    with open(os.path.join(HERE, "expected_analytics.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
