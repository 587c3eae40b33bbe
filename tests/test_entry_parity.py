"""Run every queries() entry against its oracle_sql() twin — the same check
the driver performs at sf0.01 (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter
from pathlib import Path

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


def test_no_unreferenced_definitions():
    """Every top-level def, class and simple assignment in the package is
    named at least once more somewhere in the code or its tests — so
    retiring a caller cannot leave its helper behind."""
    root = Path(__file__).resolve().parent.parent
    package = sorted((root / "searchengine_spark").rglob("*.py"))
    corpus = package + [root / "__spark_entry__.py", root / "bench.py"]
    corpus += sorted((root / "tests").rglob("*.py")) + sorted((root / "perfbench").rglob("*.py"))
    words = Counter(w for p in corpus for w in re.findall(r"\w+", p.read_text()))

    unreferenced = []
    for path in package:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            for name in names:
                if not (name.startswith("__") and name.endswith("__")) and words[name] < 2:
                    unreferenced.append(f"{path.relative_to(root)}:{name}")
    assert not unreferenced, "unreferenced: " + ", ".join(unreferenced)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_vs_oracle(spark, con, name):
    q = entrymod.queries()[name]
    compare_spark_duck(q(spark, SF_DIR), con, entrymod.oracle_sql()[name])
