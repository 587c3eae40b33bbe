"""REST serving twin (S10): spin the stdlib HTTP server over the gate index
and check the wire responses against the direct DataFrame paths — the same
reference surface SearchController.java:17-21 exposes."""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.parse
import urllib.request

import duckdb
import pytest

SF_SMALL = os.environ.get("PARITY_SMALL_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def api_server(spark):
    from searchengine_spark.jobs.serve_api import SearchAPI

    api = SearchAPI(spark, SF_SMALL)
    server = api.start(port=0)
    yield api, f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def _get(base: str, path: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(base + path, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_term_query_matches_dataframe_path(spark, api_server):
    from searchengine_spark.operators.results import search_results

    api, base = api_server
    status, body = _get(base, "/api/search?query=" + urllib.parse.quote("hash join"))
    assert status == 200
    assert body["total"] == len(body["results"]) > 0
    expected = search_results(
        spark, api.idx, api.documents, ["hash", "join"], k=10
    ).orderBy("rank").collect()
    assert len(expected) == body["total"]
    for got, exp in zip(body["results"], expected):
        assert got == {
            "term": exp["term"],
            "url": exp["url"],
            "title": exp["title"],
            "snippet": exp["snippet"],
            "id": exp["doc_id"],
        }
    # response rows carry exactly the reference's five fields
    assert set(body["results"][0]) == {"term", "url", "title", "snippet", "id"}


def test_phrase_query_filters_then_ranks(spark, api_server):
    from searchengine_spark.operators import serve

    api, base = api_server
    q = urllib.parse.quote('"hash join"')
    status, body = _get(base, f"/api/search?query={q}&k=25")
    assert status == 200 and body["total"] > 0
    phrase_docs = {
        r["doc_id"] for r in serve.phrase_match(spark, api.idx, ["hash", "join"]).collect()
    }
    got_ids = [r["id"] for r in body["results"]]
    assert set(got_ids) <= phrase_docs
    # phrase path is a FILTER on the term path's candidates: stricter or equal
    status2, unquoted = _get(base, f"/api/search?query=hash+join&k=25")
    assert status2 == 200
    assert body["total"] <= unquoted["total"]


@pytest.mark.parametrize("phrase", ["hash join", "the the", "hash zzzqqqxxyy"])
def test_phrase_ids_match_oracle(api_server, phrase):
    """Quoted queries over the wire return exactly oracles.phrase_topk_sql's
    ids in rank order: a common phrase, a repeated-term phrase and a phrase
    with a term absent from the lexicon (empty on both sides)."""
    from searchengine_spark import oracles
    from tests.conftest import register_views

    _, base = api_server
    status, body = _get(base, "/api/search?query=" + urllib.parse.quote(f'"{phrase}"'))
    assert status == 200
    con = duckdb.connect()
    register_views(con, SF_SMALL)
    want = [int(r[0]) for r in con.execute(oracles.phrase_topk_sql(phrase.split(), 10)).fetchall()]
    assert [r["id"] for r in body["results"]] == want
    assert (len(want) > 0) == (phrase != "hash zzzqqqxxyy")


def test_search_request_shape(spark, api_server, monkeypatch):
    """A plain or phrase request looks the lexicon up once and runs three
    Spark executions; the last is one plain documents scan with the winner
    ids pushed down — no postings, no exchange, no Generate."""
    from searchengine_spark.operators import serve
    from tests.conftest import sql_plans
    from tests.test_plans import assert_winner_scan

    api, _ = api_server
    lookup, calls = serve._qlex, []

    def counted(*a, **kw):
        calls.append(a[-1])
        return lookup(*a, **kw)

    monkeypatch.setattr(serve, "_qlex", counted)
    for q in ("hash join", '"hash join"'):
        calls.clear()
        hits = []
        plans = sql_plans(spark, lambda: hits.append(api.search(q)))
        assert hits[0], q
        assert len(calls) == 1, (q, calls)
        assert len(plans) == 3, (q, len(plans))
        assert_winner_scan(plans[-1])


def test_no_hit_and_errors(api_server):
    _, base = api_server
    status, body = _get(base, "/api/search?query=zzzqqqxxyy")
    assert status == 200 and body == {"results": [], "total": 0}
    status, _ = _get(base, "/api/other?query=x")
    assert status == 404
    status, _ = _get(base, "/api/search?query=x&k=notanint")
    assert status == 400


def test_did_you_mean_on_zero_results(api_server):
    """A zero-result query whose terms have Levenshtein-1 lexicon neighbors
    gets a did_you_mean correction; an uncorrectable one stays bare."""
    _, base = api_server
    status, body = _get(base, "/api/search?query=" + urllib.parse.quote("spack"))
    assert status == 200 and body["total"] == 0
    assert body["did_you_mean"] == "spark"
    # multi-term: every term corrects independently ("hsh"/"jin" are ED-1
    # of hash/join; a transposition like "jion" is ED-2 and must NOT fix)
    status, body = _get(base, "/api/search?query=" + urllib.parse.quote("hsh jin"))
    assert status == 200 and body["total"] == 0
    assert body["did_you_mean"] == "hash join"
    # hit queries never carry the field
    status, body = _get(base, "/api/search?query=hash")
    assert "did_you_mean" not in body and body["total"] > 0


def test_boolean_query_routes_to_set_algebra(spark, api_server):
    """AND/NOT queries over the wire return exactly the boolean hit set,
    ranked — and a malformed boolean falls back to plain term search."""
    from searchengine_spark.operators.boolquery import boolean_query

    api, base = api_server
    q = "hash AND NOT join"
    status, body = _get(base, "/api/search?query=" + urllib.parse.quote(q))
    assert status == 200
    allowed = {r.doc_id for r in boolean_query(spark, api.idx, q).collect()}
    got = {r["id"] for r in body["results"]}
    assert got and got <= allowed
    # malformed boolean (dangling operator) falls back to the words
    status2, body2 = _get(base, "/api/search?query=" + urllib.parse.quote("hash AND"))
    assert status2 == 200 and body2["total"] > 0


def test_boolean_request_looks_up_the_lexicon_once(spark, api_server):
    """A boolean request is three Spark executions like a plain one: one
    lexicon lookup, shared by the boolean filter and the ranking, then the
    top-k aggregate and the documents scan."""
    from tests.conftest import sql_plans

    api, _ = api_server
    lexicon_scan = "ReadSchema: struct<term:string,df:bigint"  # lexicon's leading columns
    for q in ("hash AND NOT join", "(hash OR spark) AND join"):
        hits = []
        plans = sql_plans(spark, lambda: hits.append(api.search(q)))
        assert hits[0], q
        assert len(plans) == 3, (q, len(plans))
        assert sum(lexicon_scan in p for p in plans) == 1, q


def test_wildcard_query_expands_prefix(api_server):
    api, base = api_server
    status, body = _get(base, "/api/search?query=" + urllib.parse.quote("spar*"))
    assert status == 200 and body["total"] > 0
    # every result's best term starts with the prefix
    assert all(r["term"].startswith("spar") for r in body["results"])


def test_suggest_route_matches_lexicon_prefix(spark, api_server):
    from pyspark.sql import functions as F

    api, base = api_server
    code, payload = _get(base, "/api/suggest?prefix=s&k=5")
    assert code == 200 and payload["total"] == len(payload["suggestions"]) > 0
    expected = [
        (r["term"], r["n"])
        for r in api.idx["lexicon"]
        .filter(F.col("term").startswith("s"))
        .select("term", F.col("cf").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(5)
        .collect()
    ]
    assert [(s["term"], s["count"]) for s in payload["suggestions"]] == expected
    # every suggestion honors the prefix
    assert all(s["term"].startswith("s") for s in payload["suggestions"])


def test_similar_route_matches_ann_bruteforce(spark, api_server):
    from searchengine_spark.operators import similarity

    api, base = api_server
    code, payload = _get(base, "/api/similar?id=3&k=4")
    assert code == 200 and payload["total"] == len(payload["neighbors"]) == 4
    expected = [
        (r["rank"], r["neighbor_id"], r["cosine_micros"])
        for r in similarity.ann_bruteforce_topk(
            api.embeddings, k=4, query_ids=[3]
        ).collect()
    ]
    got = [
        (n["rank"], n["neighbor_id"], n["cosine_micros"])
        for n in payload["neighbors"]
    ]
    assert got == expected
    assert all(n["neighbor_id"] != 3 for n in payload["neighbors"])  # self excluded
    # bad id is a 400, not a crash
    code, _ = _get(base, "/api/similar?id=abc")
    assert code == 400


def test_mlt_route_matches_dataframe_path(spark, api_server):
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table

    api, base = api_server
    code, payload = _get(base, "/api/mlt?id=3&k=4")
    assert code == 200 and payload["total"] == len(payload["similar"]) > 0
    idx = gate_index(spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents")
    want = [
        (r["doc_id"], r["score_micros"])
        for r in serve.more_like_this(spark, idx, docs, 3, k=4).collect()
    ]
    got = [(r["doc_id"], r["score_micros"]) for r in payload["similar"]]
    assert got == want
    assert all(r["doc_id"] != 3 and r["source"] for r in payload["similar"])
    code, _ = _get(base, "/api/mlt?id=abc")
    assert code == 400
    code, payload = _get(base, "/api/mlt?id=999999999")
    assert code == 200 and payload["total"] == 0


def test_explain_contribs_sum_to_score(api_server):
    api, base = api_server
    status, body = _get(
        base, "/api/explain?query=" + urllib.parse.quote("hash join")
    )
    assert status == 200 and body["total"] > 0
    by_doc: dict[int, list[dict]] = {}
    for r in body["explain"]:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rows in by_doc.items():
        assert sum(r["contrib_micros"] for r in rows) == rows[0]["score_micros"]


def test_stats_route_invariants(api_server):
    api, base = api_server
    status, body = _get(base, "/api/stats")
    assert status == 200
    assert body["n_docs"] > 0 and body["n_terms"] > 0
    assert body["max_df"] <= body["n_docs"]
    assert body["n_postings"] <= body["n_tokens"] == body["sum_dl"]


def test_history_suggest_route(api_server):
    """?source=history: demo-log fallback first, then recorded searches
    dominate — saveQuery/getSuggestions semantics over the wire."""
    api, base = api_server
    api._history.clear()  # earlier tests in this module ran searches
    # no recorded history yet -> synthetic demo log backs the route
    status, body = _get(base, "/api/suggest?prefix=spark&source=history")
    assert status == 200
    got = [s["query"] for s in body["suggestions"]]
    assert got[0] == "spark sql"  # highest demo-log count
    assert all(q.lower().startswith("spark") for q in got)
    # run searches (records history); counts fold case-insensitively and
    # the first-seen casing is preserved
    for q in ("Hash join", "hash join", "hash aggregate"):
        _get(base, "/api/search?query=" + urllib.parse.quote(q))
    status, body = _get(base, "/api/suggest?prefix=hash&source=history")
    assert status == 200
    assert [s["query"] for s in body["suggestions"]] == [
        "Hash join",
        "hash aggregate",
    ]
    assert [s["count"] for s in body["suggestions"]] == [2, 1]
    api._history.clear()  # leave the module-scoped server clean


def test_history_suggest_returns_queries_verbatim(api_server):
    """A recorded query holding ``${...}`` comes back as typed: the SQL
    parser's variable pass never sees it (no conf or environment leaks)."""
    api, base = api_server
    api._history.clear()
    queries = ["zz${env:HOME}", "zz${spark.app.name}", "zz$x"]
    for q in queries:
        _get(base, "/api/search?query=" + urllib.parse.quote(q))
    status, body = _get(base, "/api/suggest?prefix=zz&source=history")
    assert status == 200
    assert [s["query"] for s in body["suggestions"]] == queries
    api._history.clear()


def test_history_log_keeps_the_last_window(api_server):
    from searchengine_spark.jobs.serve_api import HISTORY_WINDOW

    api, _ = api_server
    api._history.clear()
    for i in range(HISTORY_WINDOW + 3):
        api.record_query(f"q{i}")
    assert len(api._history) == HISTORY_WINDOW
    assert api._history[0][1] == "q3" and api._history[-1][1] == f"q{HISTORY_WINDOW + 2}"
    api._history.clear()
