from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def spark():
    from searchengine_spark.session import DEFAULT_CPUS, get_spark

    s = get_spark(
        master=f"local[{DEFAULT_CPUS}]", app_name="tests", shuffle_partitions=8
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01"):
        pass
    return con


def register_views(con, sf_dir: str) -> None:
    from searchengine_spark.sources.tables import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")


def compare_spark_duck(spark_df, con, sql: str, float_tol: float = 0.0):
    """Mimic the driver's check: row count, schema width, order-insensitive
    value equality with columns sorted by name."""
    sp = spark_df.toPandas()
    dk = con.execute(sql).df()
    sp = sp[sorted(sp.columns)]
    dk = dk[sorted(dk.columns)]
    assert list(sp.columns) == list(dk.columns), (list(sp.columns), list(dk.columns))
    assert len(sp) == len(dk), f"row count: spark={len(sp)} duck={len(dk)}"
    if len(sp) == 0:
        return sp, dk
    sp_s = sp.sort_values(by=list(sp.columns)).reset_index(drop=True)
    dk_s = dk.sort_values(by=list(dk.columns)).reset_index(drop=True)
    for c in sp_s.columns:
        a, b = sp_s[c], dk_s[c]
        if float_tol and str(a.dtype).startswith("float"):
            assert (abs(a - b) <= float_tol).all(), f"col {c} differs"
        else:
            av, bv = a.astype(str).tolist(), b.astype(str).tolist()
            assert av == bv, f"col {c} differs: {_first_diff(av, bv)}"
    return sp, dk


def _first_diff(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: spark={x!r} duck={y!r}"
    return "length mismatch"
