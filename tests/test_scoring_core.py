"""The one scoring core (``serve._scored``): every path that ranks BM25
over the columnar postings returns the same ``(doc_id, score_micros)``
list, repeated and out-of-vocabulary query terms included."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from searchengine_spark import oracles
from tests.conftest import compare_spark_duck, register_views
from tests.test_plans import SF_DIR as SF

K = 10
QUERIES = [
    ["spark", "hash", "join"],
    ["hash", "join", "hash"],  # a repeated term scores once
    ["the", "the", "zzzqqqxxyy"],  # repeated + out of vocabulary
    ["spark", "zzzqqqxxyy"],  # an OOV term adds nothing
    ["zzzqqqxxyy"],  # no lexicon term: every path is empty
]


@pytest.fixture(scope="module")
def idx(spark):
    from searchengine_spark.plans.gate_index import gate_index

    return gate_index(spark, SF)


@pytest.fixture(scope="module")
def docs(spark):
    from searchengine_spark.sources.tables import load_table

    return load_table(spark, SF, "documents")


def _ranked(rows) -> list[tuple[int, int]]:
    return sorted(
        ((int(r["doc_id"]), int(r["score_micros"])) for r in rows),
        key=lambda p: (-p[1], p[0]),
    )


@pytest.mark.parametrize("terms", QUERIES, ids=" ".join)
def test_bm25_paths_agree(spark, idx, docs, terms):
    from searchengine_spark.operators import serve
    from searchengine_spark.operators.results import search_results

    want = _ranked(serve.bm25_topk(spark, idx, terms, k=K).collect())
    assert len(want) == (0 if terms == ["zzzqqqxxyy"] else K)

    batch = serve.bm25_batch_topk(spark, idx, {"q": terms}, k=K).collect()
    assert _ranked(batch) == want
    assert [r["rank"] for r in sorted(batch, key=lambda r: r["rank"])] == list(
        range(1, len(want) + 1)
    )

    after = serve.bm25_search_after(spark, idx, terms, None, k=K).collect()
    assert _ranked(after) == want

    explain = serve.bm25_explain(spark, idx, terms, k=K)
    summed = explain.groupBy("doc_id").agg(
        F.sum("contrib_micros").alias("score_micros"),
        F.max("score_micros").alias("reported"),
    )
    rows = summed.collect()
    assert all(r["score_micros"] == r["reported"] for r in rows)
    assert _ranked(rows) == want

    rest = search_results(spark, idx, docs, terms, k=K).collect()
    assert [(r["doc_id"], r["score_micros"]) for r in sorted(rest, key=lambda r: r["rank"])] == want


@pytest.mark.parametrize("ranker", ["tfidf_topk", "bm25plus_topk"])
def test_repeated_term_scores_once_vs_oracle(spark, idx, ranker):
    """The oracle twins score a repeated query term once, as the core does."""
    from searchengine_spark.operators import serve

    con = duckdb.connect()
    register_views(con, SF)
    terms = ["hash", "join", "hash"]
    compare_spark_duck(
        getattr(serve, ranker)(spark, idx, terms, k=K),
        con,
        getattr(oracles, f"{ranker}_sql")(terms, k=K),
    )
