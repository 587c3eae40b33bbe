"""Result assembly (operators/results.py): snippet semantics + plan shape.

The reference materializes {term, url, title, snippet, id} per hit
(SearchService.convertDocumentsToResults, :391-423) with a 60-word centered,
bolded, ellipsized snippet (Indexer.getCenteredTermSnippets, :354-394).
These tests pin the simple-tokenizer snippet expression against hand-built
expectations, compare whole result rows with the DuckDB oracle, and audit
that assembling results never joins the <=k winners through a shuffle.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from searchengine_spark import oracles
from tests.conftest import compare_spark_duck, register_views
from tests.test_plans import SF_DIR, plan_of


def _snip(spark, text: str, term: str, n_words: int = 60) -> str | None:
    from searchengine_spark.operators.results import snippet_expr

    df = spark.createDataFrame([(text, term)], "text string, term string")
    # mirror production: the word array reaches snippet_expr as a real
    # attribute behind a Generate barrier, never as a Project alias
    words = df.select(
        "term", F.explode(F.array(F.split(F.col("text"), r"\s+"))).alias("w")
    )
    return words.select(
        snippet_expr(F.col("w"), F.col("term"), n_words).alias("s")
    ).collect()[0]["s"]


def test_snippet_short_doc_no_ellipses(spark):
    out = _snip(spark, "alpha beta gamma", "beta")
    assert out == "alpha <b>beta</b> gamma"


def test_snippet_bolds_every_window_match_and_punctuation(spark):
    # 'beta,' matches via the token split; both occurrences bolded
    out = _snip(spark, "alpha beta, gamma beta delta", "beta")
    assert out == "alpha <b>beta,</b> gamma <b>beta</b> delta"


def test_snippet_centered_window_with_ellipses(spark):
    words = [f"w{i}" for i in range(200)]
    words[100] = "needle"
    out = _snip(spark, " ".join(words), "needle")
    assert out is not None
    body = out.replace("... ", "", 1)
    assert body.endswith(" ...")
    core = body[: -len(" ...")].split(" ")
    # 60-word window centered on index 100: [70, 130)
    assert len(core) == 60
    assert core[0] == "w70" and core[-1] == "w129"
    assert core[30] == "<b>needle</b>"


def test_snippet_window_clips_at_start(spark):
    words = [f"w{i}" for i in range(100)]
    words[5] = "needle"
    out = _snip(spark, " ".join(words), "needle")
    # start clamps to 0 -> no leading ellipsis, trailing one present
    assert out is not None and not out.startswith("... ") and out.endswith(" ...")
    assert len(out[: -len(" ...")].split(" ")) == 60


def test_snippet_no_match_is_null(spark):
    assert _snip(spark, "alpha beta", "zzz") is None


def test_search_results_matches_reference_shape_and_never_shuffle_joins(spark):
    """Reference row shape, dense ranks in (score desc, doc_id asc) order,
    and no shuffled join: the winners' fields reach the documents scan as
    literals, not through a join."""
    from searchengine_spark.operators.results import search_results
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table

    idx = gate_index(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents")
    res = search_results(spark, idx, docs, ["spark", "hash", "join"], k=10)
    plan = plan_of(res)
    assert "SortMergeJoin" not in plan  # winners are broadcast, never shuffled
    rows = res.collect()
    assert 0 < len(rows) <= 10
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["url"].startswith("doc://")
        assert "<b>" in r["snippet"] and r["term"] in r["snippet"].lower()
    # ranks follow score desc, doc_id asc
    key = [(-r["score_micros"], r["doc_id"]) for r in rows]
    assert key == sorted(key)


@pytest.mark.parametrize(
    "terms",
    [["spark"], ["hash", "join"], ["spark", "hash", "join"], ["query", "plan", "the", "data"]],
)
def test_search_results_rows_match_oracle(spark, terms):
    """All seven result columns equal oracles.search_results_sql: score,
    Q12 snippet term, url/title and the snippet text itself."""
    from searchengine_spark.operators.results import search_results
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table

    idx = gate_index(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents")
    con = duckdb.connect()
    register_views(con, SF_DIR)
    sp, _ = compare_spark_duck(
        search_results(spark, idx, docs, terms, k=10),
        con,
        oracles.search_results_sql(terms, k=10),
    )
    assert len(sp) > 0
