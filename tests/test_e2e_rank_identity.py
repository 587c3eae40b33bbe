"""End-to-end golden test: build the index over the synthetic corpus, run the
reference query set in compat + BM25 modes, and require rank-identical top-k
(doc ids exact; scores to 1e-9) versus the pure-Python oracle (SURVEY.md §5.3,
BASELINE.json north_star)."""

from __future__ import annotations

import math

import pytest

from searchengine_spark.operators.query import search_bm25, search_compat
from searchengine_spark.plans.build_index import build_index, load_index
from searchengine_spark.sources.corpus import generate_corpus, generate_corpus_pdf
from tests.oracle import OracleIndex

N_DOCS = 200

# reference query set (FIXTURES.md §2): term / multi-term / phrase / no-hit /
# stopword-heavy / hot-term / stem-quirk
QUERIES = [
    "spark",
    "index search engine",
    '"inverted index build"',
    "zzzznotaword",
    "the is in at of",
    "return import def",
    "tested testing meetings",
    "relational rational conditional",
]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    corpus = generate_corpus(spark, N_DOCS, seed=42, n_partitions=8)
    index_dir = str(tmp_path_factory.mktemp("index"))
    build_index(spark, corpus, index_dir)
    return load_index(spark, index_dir)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(generate_corpus_pdf(N_DOCS, seed=42))


def test_doc_ids_unique_and_dense(spark, index):
    n = index["documents"].count()
    ids = index["documents"].selectExpr("count(distinct doc_id) d", "min(doc_id) mn", "max(doc_id) mx").collect()[0]
    assert ids["d"] == n and ids["mn"] == 0 and ids["mx"] == n - 1


def test_doc_ids_match_oracle(spark, index, oracle):
    got = {
        (r["doc_id"], r["url"]) for r in index["documents"].select("doc_id", "url").collect()
    }
    want = {(doc_id, d["url"]) for doc_id, d in oracle.docs.items()}
    assert got == want


def test_doc_len_and_postings_match(spark, index, oracle):
    rows = index["postings"].select("term", "doc_id", "tf", "dl").collect()
    got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in rows}
    want = {}
    for term, posts in oracle.postings.items():
        for doc_id, tf in posts.items():
            want[(term, doc_id)] = (tf, oracle.docs[doc_id]["doc_len"])
    assert got == want


def test_pagerank_matches(spark, index, oracle):
    got = {r["doc_id"]: r["pagerank"] for r in index["documents"].select("doc_id", "pagerank").collect()}
    assert set(got) == set(oracle.pagerank)
    for d, pr in oracle.pagerank.items():
        assert math.isclose(got[d], pr, rel_tol=0, abs_tol=1e-9), (d, got[d], pr)


@pytest.mark.parametrize("query", QUERIES)
def test_compat_rank_identity(spark, index, oracle, query):
    got = search_compat(
        spark, index["postings"], index["lexicon"], index["documents"], query, k=10
    ).collect()
    want = oracle.search_compat(query, k=10)
    assert len(got) == len(want), (
        [(r["rank"], r["doc_id"], r["score"]) for r in got],
        [(r["rank"], r["doc_id"], r["score"]) for r in want],
    )
    for g, w in zip(got, want):
        assert g["doc_id"] == w["doc_id"], (query, g, w)
        assert g["rank"] == w["rank"]
        assert abs(g["score"] - w["score"]) <= 1e-9, (query, g["score"], w["score"])
        assert g["snippet"] == w["snippet"], (query, g["snippet"], w["snippet"])
        assert g["url"] == w["url"]


@pytest.mark.parametrize("query", ["spark", '"inverted index build"', "the is in at of"])
def test_compat_rank_identity_jvm_frontier(spark, index, oracle, query, monkeypatch):
    """The frontier path for wide frontiers (cached, semi-joined, no
    literal id list) ranks and snippets exactly as the literal path."""
    from searchengine_spark.operators import query as query_ops

    monkeypatch.setattr(query_ops, "_LITERAL_FRONTIER", 0)
    got = search_compat(
        spark, index["postings"], index["lexicon"], index["documents"], query, k=10
    ).collect()
    want = oracle.search_compat(query, k=10)
    assert [(g["rank"], g["doc_id"], g["snippet"], g["url"]) for g in got] == [
        (w["rank"], w["doc_id"], w["snippet"], w["url"]) for w in want
    ]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) <= 1e-9, (query, g["score"], w["score"])


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_rank_identity(spark, index, oracle, query):
    got = search_bm25(spark, index, query, k=10).collect()
    want = oracle.search_bm25(query, k=10)
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], (
        query,
        [(r["doc_id"], r["score"]) for r in got],
        [(r["doc_id"], r["score"]) for r in want],
    )
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) <= 1e-9


def test_sha256_invariant(spark, index):
    from searchengine_spark.operators.ingest import verify_sha256_invariant
    corpus = generate_corpus(spark, N_DOCS, seed=42)
    assert verify_sha256_invariant(corpus, index["documents"]) == 0
