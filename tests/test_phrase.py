"""The columnar phrase family against its DuckDB twins, past the gates'
single two-term phrase: a three-term phrase, an adjacent repeated term, a
repeated term with another term between, and a phrase with a term missing
from the vocabulary. Each check covers ``serve.phrase_match``,
``serve.phrase_topk`` at gaps 0, 1 and 2, and ``serve.phrase_freq_topk``."""

from __future__ import annotations

import duckdb
import pytest

from searchengine_spark import oracles
from tests.conftest import compare_spark_duck, register_views

SF_DIR = "/root/testdata/sf0.001"
K = 50  # above every phrase's hit count here, so whole answers are compared
PHRASES = ["hash join", "the the", "big order scan", "line group line", "hash zzzqqqxxyy"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    register_views(c, SF_DIR)
    return c


@pytest.fixture(scope="module")
def idx(spark):
    from searchengine_spark.plans.gate_index import gate_index

    return gate_index(spark, SF_DIR)


@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_family_vs_oracle(spark, con, idx, phrase):
    from searchengine_spark.operators import serve

    terms = phrase.split()
    matched, _ = compare_spark_duck(
        serve.phrase_match(spark, idx, terms), con, oracles.phrase_match_sql(terms)
    )
    assert (len(matched) == 0) == ("zzzqqqxxyy" in phrase)
    for gap in (0, 1, 2):
        got = serve.phrase_topk(spark, idx, terms, k=K, gap=gap)
        if gap:
            sql = oracles.gap_phrase_topk_sql(terms, gap=gap, k=K)
        else:
            sql = oracles.phrase_topk_sql(terms, k=K)
        compare_spark_duck(got, con, sql)
    compare_spark_duck(
        serve.phrase_freq_topk(spark, idx, terms, k=K),
        con,
        oracles.phrase_freq_topk_sql(terms, k=K),
    )
