"""Result assembly (operators/results.py): snippet semantics + plan shape.

The reference materializes {term, url, title, snippet, id} per hit
(SearchService.convertDocumentsToResults, :391-423) with a 60-word centered,
bolded, ellipsized snippet (Indexer.getCenteredTermSnippets, :354-394).
These tests pin the simple-tokenizer snippet renderer against hand-built
expectations and against the DuckDB oracle's snippet (edge texts and the
fixture corpus), compare whole result rows with the oracle, and audit that
assembling results never joins the <=k winners through a shuffle.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from searchengine_spark import oracles
from searchengine_spark.operators.results import render_snippet
from tests.conftest import compare_spark_duck, register_views, sql_plans
from tests.test_plans import SF_DIR


def test_snippet_short_doc_no_ellipses():
    out = render_snippet("alpha beta gamma", "beta")
    assert out == "alpha <b>beta</b> gamma"


def test_snippet_bolds_every_window_match_and_punctuation():
    # 'beta,' matches via the token split; both occurrences bolded
    out = render_snippet("alpha beta, gamma beta delta", "beta")
    assert out == "alpha <b>beta,</b> gamma <b>beta</b> delta"


def test_snippet_centered_window_with_ellipses():
    words = [f"w{i}" for i in range(200)]
    words[100] = "needle"
    out = render_snippet(" ".join(words), "needle")
    assert out is not None
    body = out.replace("... ", "", 1)
    assert body.endswith(" ...")
    core = body[: -len(" ...")].split(" ")
    # 60-word window centered on index 100: [70, 130)
    assert len(core) == 60
    assert core[0] == "w70" and core[-1] == "w129"
    assert core[30] == "<b>needle</b>"


def test_snippet_window_clips_at_start():
    words = [f"w{i}" for i in range(100)]
    words[5] = "needle"
    out = render_snippet(" ".join(words), "needle")
    # start clamps to 0 -> no leading ellipsis, trailing one present
    assert out is not None and not out.startswith("... ") and out.endswith(" ...")
    assert len(out[: -len(" ...")].split(" ")) == 60


def test_snippet_no_match_is_null():
    assert render_snippet("alpha beta", "zzz") is None


_FILLER = " ".join(f"f{i}" for i in range(90))
_EDGE_TEXTS = [
    "  key between leading and trailing whitespace  ",
    "tab\tseparated\tkey\twords\t",
    "vertical\x0btab\x0bkey\x0bis java whitespace",
    "no\xa0break\xa0key\xa0is one word, then key",  # \xa0 is not \s
    "\u212aey: the kelvin sign lowercases to k",
    "Ünïcödé ☃ títle — long enough that the key title clips at 48 chars",
    "crlf\r\nkey\r\nform\x0cfeed key",
    "KEY, (key); key.key " + _FILLER,
    _FILLER + " key " + _FILLER,
    _FILLER + " key",
    "",
    "nothing to see here",
    None,
]


def _oracle_rows(con, terms: list[str]) -> dict:
    k = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    return {
        int(r[0]): (r[1], r[2], r[3])
        for r in con.execute(
            "SELECT doc_id, term, snippet, title "
            f"FROM ({oracles.search_results_sql(terms, k=k)})"
        ).fetchall()
    }


def _rendered(texts: dict, want: dict) -> dict:
    return {
        d: (term, render_snippet(texts[d], term), texts[d][:48])
        for d, (term, _, _) in want.items()
    }


@pytest.mark.parametrize("term", ["key", "java", "k", "words"])
def test_render_snippet_matches_oracle_on_edge_texts(term):
    """render_snippet equals the DuckDB oracle's snippet (and the title
    equals its 48-char prefix) on whitespace, Unicode and clipping edge
    texts; a text with no matching word yields no row on either side."""
    con = duckdb.connect()
    docs = pd.DataFrame(
        {
            "doc_id": range(len(_EDGE_TEXTS)),
            "source": "edge",
            "text": _EDGE_TEXTS,
        }
    )
    con.register("documents", docs)
    texts = dict(enumerate(_EDGE_TEXTS))
    want = _oracle_rows(con, [term])
    assert want
    assert _rendered(texts, want) == want
    # every other text — empty, null, no match — renders no snippet
    assert all(render_snippet(t, term) is None for d, t in texts.items() if d not in want)


@pytest.mark.parametrize("terms", [["spark"], ["hash", "join"], ["the"], ["query", "data"]])
def test_render_snippet_matches_oracle_on_fixture_corpus(terms):
    """Every fixture document holding a query term: the oracle's snippet
    for its snippet term equals render_snippet's."""
    con = duckdb.connect()
    register_views(con, SF_DIR)
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    want = _oracle_rows(con, terms)
    assert len(want) > 10
    assert _rendered(texts, want) == want


def test_search_results_matches_reference_shape_and_never_shuffle_joins(spark):
    """Reference row shape, dense ranks in (score desc, doc_id asc) order,
    and no shuffled join: the winners' ids reach the documents scan as a
    pushed-down filter, not through a join."""
    from searchengine_spark.operators.results import search_results
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table

    idx = gate_index(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents")
    out = []
    plans = sql_plans(
        spark,
        lambda: out.append(search_results(spark, idx, docs, ["spark", "hash", "join"], k=10)),
    )
    assert not any("SortMergeJoin" in p for p in plans)
    rows = out[0].collect()
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
