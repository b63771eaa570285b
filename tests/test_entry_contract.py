"""Driver-contract sanity: every queries() entry runs at sf0.001 and
every oracle_sql() key has a matching query.  (Full DuckDB value
comparison lives in scripts/check_contract.py — run at sf0.01.)"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def test_oracle_keys_subset_of_queries():
    qs = E.queries()
    missing = set(E.oracle_sql()) - set(qs)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_runs(spark, name):
    df = E.queries()[name](spark, SF)
    assert df.columns  # stable schema
    assert df.count() >= 0


def test_entry_runs(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert df.columns == ["url", "cluster_id", "n_members"]
