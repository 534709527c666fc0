"""The driver's exact correctness window as a pytest artifact.

The per-round driver oracle-checks the FIRST 50 keys of the registry in
insertion order (queries.py _DRIVER_PRIORITY fronts the rotation batch)
at sf0.01 — this module parametrizes THAT window at THAT scale, so
"window verified 50/50" is one command with a test receipt instead of a
prose claim (round-9 VERDICT task 6):

    python -m pytest tests/ -m driver_protocol -q

It runs inside the normal suite too (the registry-wide sf0.001 sweep in
test_oracle.py stays the broad gate; this is the driver-scale gate on
the rotation front). Queries with no oracle get the driver's weaker
rows-only check. This module runs on the suite's get_session session;
session config fidelity is covered separately by
scripts/verify_sf001.py, which runs the same comparison on a vanilla
local[8] SparkSession, as the driver does.
"""

from __future__ import annotations

import pytest

from radient_spark.queries import QUERIES
from tests.oracle_utils import compare_to_oracle

DRIVER_SF = "/root/testdata/sf0.01"
WINDOW = list(QUERIES.items())[:50]


@pytest.mark.driver_protocol
@pytest.mark.parametrize(
    "name,entry", WINDOW, ids=[n for n, _ in WINDOW]
)
def test_driver_window(spark, name, entry):
    fn, sql = entry
    if sql is None:
        df = fn(spark, DRIVER_SF)
        assert df.count() >= 0
        assert len(df.columns) > 0
    else:
        compare_to_oracle(fn(spark, DRIVER_SF), sql, DRIVER_SF)
