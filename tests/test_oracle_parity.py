"""Every catalog query must match its DuckDB oracle at sf0.001 through
tools/check_oracle.compare_one — the round-end gate's own comparator
(Arrow fetch, Decimal tagging, type-class check), so pytest and the gate
cannot disagree (the external correctness run repeats this at sf0.01)."""

from __future__ import annotations

import pytest

from syntheticdata_pipeline__spark.plans import load_all
from tools.check_oracle import compare_one

from .conftest import SF_SMOKE

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)

REGISTRY = load_all()
BUILDS = {n: s.build for n, s in REGISTRY.items()}
ORACLES = {n: s.oracle for n, s in REGISTRY.items() if s.oracle is not None}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    ok = compare_one(spark, duck, name, BUILDS, ORACLES, sf_dir=SF_SMOKE)
    # PASS is True; a query without an oracle is a rows-only check (None)
    assert ok is (True if name in ORACLES else None), "see the verdict line above"
