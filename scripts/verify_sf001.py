#!/usr/bin/env python
"""Pre-driver verification: run selected registry queries against their
DuckDB oracles at the driver's sf0.01 scale, under the driver's own
protocol: a vanilla local[8] SparkSession (none of session.get_session's
settings) and an order-insensitive comparison of column-name-sorted
value rows (tests/oracle_utils.compare_to_oracle mirrors it).

Usage:
    python scripts/verify_sf001.py [query ...]
With no args, verifies the current _DRIVER_PRIORITY window plus every
registry query that has never appeared in a CORRECTNESS_r*.json.

Writes scripts/verify_sf001_results.json: {query: "pass" | "FAIL: ..."}.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from coverage_ledger import load_history  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from radient_spark.queries import QUERIES, _DRIVER_PRIORITY  # noqa: E402
from tests.oracle_utils import compare_to_oracle  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def main() -> None:
    if len(sys.argv) > 1:
        names = sys.argv[1:]
    else:
        os.chdir(REPO)  # load_history reads CORRECTNESS_r*.json here
        checked = load_history()
        never = [k for k in QUERIES if k not in checked]
        names = list(dict.fromkeys(list(_DRIVER_PRIORITY) + never))
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("radient_spark_verify")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, str] = {}
    t0 = time.time()
    for i, name in enumerate(names):
        fn, sql = QUERIES[name]
        start = time.time()
        try:
            if sql is None:
                df = fn(spark, SF_DIR)
                n = df.count()
                assert len(df.columns) > 0
                results[name] = f"pass (rows-only, {n} rows)"
            else:
                compare_to_oracle(fn(spark, SF_DIR), sql, SF_DIR)
                results[name] = "pass"
        except Exception as e:  # noqa: BLE001
            results[name] = "FAIL: " + "".join(
                traceback.format_exception_only(type(e), e)
            ).strip()[:500]
        print(
            f"[{i + 1}/{len(names)}] {name}: {results[name][:80]}"
            f" ({time.time() - start:.1f}s)",
            flush=True,
        )
    out = os.path.join(REPO, "scripts", "verify_sf001_results.json")
    with open(out, "w") as f:
        json.dump(
            {"sf_dir": SF_DIR, "elapsed_s": round(time.time() - t0, 1),
             "n": len(names),
             "n_fail": sum(1 for v in results.values() if v.startswith("FAIL")),
             "results": results},
            f, indent=1, sort_keys=True,
        )
    print(json.dumps({"n": len(names),
                      "n_fail": sum(1 for v in results.values()
                                    if v.startswith("FAIL"))}))


if __name__ == "__main__":
    main()
