"""Run every queries() entry against its oracle_sql() twin — the same check
the driver performs at sf0.01 (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import compare_spark_duck, register_views

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    register_views(c, SF_DIR)
    return c


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns  # stable schema


def test_registries_agree():
    """Every gate has an oracle and every oracle a gate, and every name the
    bench times is a gate — so retiring an operator cannot leave a half."""
    import bench

    gates = set(entrymod.queries())
    assert gates == set(entrymod.oracle_sql())
    for names in (bench.HEADLINE, bench.BUILD_OPS, bench.R01_BASKET):
        assert set(names) <= gates, sorted(set(names) - gates)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_vs_oracle(spark, con, name):
    q = entrymod.queries()[name]
    compare_spark_duck(q(spark, SF_DIR), con, entrymod.oracle_sql()[name])
