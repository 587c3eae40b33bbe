"""Result assembly: the reference's search-response shape, index-served.

The reference materializes every hit as ``{term, url, title, snippet, id}``
(SearchService.convertDocumentsToResults, SearchService.java:391-423) with
``snippet = snippets[0]`` — the first pre-rendered 60-word window of the
page's last-processed term (quirks Q11/Q12). Round 1 covered this shape only
in the pytest oracle suite; this module gates it: BM25 top-k from the gate
index, then url/title and a 60-word centered snippet rendered at query time
for the <=k winners.

A request is three Spark executions (``result_rows``): one lexicon lookup;
one ``groupBy(doc_id)`` over the pruned postings — the ``serve._scored``
core every ranker shares — that computes the score, the snippet term and,
for a quoted phrase, the positional adjacency check together, then keeps
the bounded top-k; one plain documents scan that reads only
``(doc_id, source, text)`` of the <=k winners by pushed-down id — a single
stage, no exchange. The rows are then built on the driver in Python, once
per hit, as the reference's convertDocumentsToResults does in Java.

Snippet contract (:func:`render_snippet`; the simple-tokenizer analog of
Indexer.getCenteredTermSnippets, Indexer.java:354-394, which the DuckDB
oracle ``oracles.search_results_sql`` replicates — the Porter-stemmed
variant stays covered by tests/oracle.py):

- ``words = re.split(r"\\s+", text)`` under ``re.ASCII`` — Java's ``\\s``
  set ``[ \\t\\n\\x0b\\f\\r]`` (raw, punctuated words; ``\\xa0`` is
  not whitespace);
- a word *matches* the snippet term iff the term appears in the word's
  simple-token list (``re.split("[^a-z0-9]+", word.lower())``) — the same
  tokenizer that built the index, so every candidate doc has a match;
- the window centers on the FIRST matching word: ``start = max(0, i - 30)``,
  ``end = min(n, start + 60)``, ``start = max(0, end - 60)`` (the
  reference's clipping rules);
- matching words inside the window are wrapped in ``<b>..</b>``, words are
  space-joined, ``'... '`` / ``' ...'`` ellipses mark clipped edges;
- snippet term = the lexicographically LAST matched query term of the doc
  (the pinned Q12 "last processed term" order);
- a hit whose text is null or has no matching word is dropped (Q11).

The phrase check is ``serve._phrase_adjacent`` — the adjacency predicate
every phrase path shares — over the aggregate's per-doc positions arrays;
its lambda runs over the first phrase term's positions per candidate doc,
bounded by the phrase terms' posting mass.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.functions.tokenize import TOKEN_SPLIT_RE
from searchengine_spark.operators.literals import local_frame

SNIPPET_WORDS = 60
_RESULT_SCHEMA = (
    "rank int, doc_id long, term string, url string, title string, "
    "snippet string, score_micros long"
)
# Java's \s: [ \t\n\x0b\f\r] — re.ASCII keeps \xa0, \x1c-\x1f, \x85 out
_WORD_SPLIT = re.compile(r"\s+", re.ASCII)
_TOKEN_SPLIT = re.compile(TOKEN_SPLIT_RE)


class ResultRow(NamedTuple):
    """One hit, in ``_RESULT_SCHEMA`` order."""

    rank: int
    doc_id: int
    term: str
    url: str | None
    title: str
    snippet: str
    score_micros: int


def _word_matches(word: str, term: str) -> bool:
    """Word-vs-term match under the simple-tokenizer contract."""
    return term in _TOKEN_SPLIT.split(word.lower())


def render_snippet(text: str | None, term: str) -> str | None:
    """The ``SNIPPET_WORDS``-word window of ``text`` centered on the first word
    matching ``term``, matching words bolded, clipped edges ellipsized;
    None when ``text`` is null or no word matches (the module's snippet
    contract)."""
    if text is None:
        return None
    words = _WORD_SPLIT.split(text)
    i = next((j for j, w in enumerate(words) if _word_matches(w, term)), None)
    if i is None:
        return None
    n = len(words)
    end = min(n, max(0, i - SNIPPET_WORDS // 2) + SNIPPET_WORDS)
    start = max(0, end - SNIPPET_WORDS)
    body = " ".join(
        f"<b>{w}</b>" if _word_matches(w, term) else w for w in words[start:end]
    )
    return ("... " if start > 0 else "") + body + (" ..." if end < n else "")


def _topk(
    spark: SparkSession,
    idx: dict,
    rows: list,
    query_terms: list[str],
    k: int,
    doc_filter: DataFrame | None,
    phrase: bool,
) -> DataFrame:
    """The request's one top-k aggregate — the ``serve._scored`` core over
    the looked-up ``rows``, with ``serve._topk`` as its tail:
    ``(doc_id, score_micros, term)`` with ``term`` the doc's last matched
    query term (Q12) and, for a phrase, only docs holding it adjacently."""
    from searchengine_spark.operators import serve

    pos_aggs, pos = serve._positions(query_terms if phrase else [])
    top = serve._scored(
        spark,
        idx,
        query_terms,
        serve._bm25_contrib(idx["avgdl"]),
        F.max("term").alias("term"),
        *pos_aggs,
        rows=rows,
    )
    if phrase:
        top = top.filter(serve._phrase_adjacent(pos, query_terms))
    if doc_filter is not None:
        top = top.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
    return serve._topk(top.select("doc_id", "score_micros", "term"), k)


def result_rows(
    spark: SparkSession,
    idx: dict,
    documents: DataFrame,
    query_terms: list[str],
    k: int = 10,
    doc_filter: DataFrame | None = None,
    phrase: bool = False,
    rows: list | None = None,
) -> list[ResultRow]:
    """Index-served BM25 top-k assembled into the reference's response shape,
    as driver rows ``(rank, doc_id, term, url, title, snippet,
    score_micros)`` ordered by rank.

    Three Spark executions per call:

    1. one lexicon point lookup (``serve._qlex``) — its rows give the
       bucket pruning, the idf values and, for a phrase, the
       all-terms-present check;
    2. one top-k aggregate, the scoring core every ranker shares
       (``serve._scored`` over the looked-up rows, ``serve._topk`` as its
       tail): ``groupBy(doc_id)`` over the pruned postings computes the
       BM25 score (``serve._bm25_contrib``, the lexicon statistics read
       from literal term → value maps), the Q12 snippet term ``max(term)``
       and, for a phrase, each phrase term's positions, checked for
       adjacency in the same pass; the bounded top-k is collected;
    3. one documents scan with the <=k winner ids pushed down
       (``doc_id IN (...)``: parquet row-group pruning on the
       doc_id-clustered files — a join key never reaches the reader, so a
       join would decode the whole corpus's text column) that collects
       only ``(doc_id, source, text)``.

    Bound: the text of at most ``k`` documents crosses to the driver, and
    callers keep ``k <= serve_api.MAX_K`` (100). Each row is then built in
    Python: ``url = doc://{source}/{doc_id}`` and ``title`` = the first 48
    characters of the text (the compat fixture's derivation — documents
    carry no url/title columns), the snippet from :func:`render_snippet`,
    the Q11 drop of snippet-less hits, and the dense rank over the
    survivors by ``(score_micros desc, doc_id asc)``.

    ``phrase=True`` keeps only docs holding ``query_terms`` token-adjacent
    (``serve._phrase_adjacent``, the predicate every phrase path shares)
    BEFORE the top-k bound — the reference's filter-then-rank phrase flow
    (SearchService.handlePhraseSearch, SearchService.java:99-133) on true
    positional adjacency instead of snippet scans. ``doc_filter`` (a
    ``doc_id`` DataFrame, e.g. a boolean query's hit set) likewise
    restricts candidates before the bound. ``rows`` are ``query_terms``'
    lexicon rows when the caller has looked them up already (the REST
    boolean route, whose one lookup serves its filter too); step 1 is then
    skipped.
    """
    from searchengine_spark.operators import serve

    if rows is None:
        rows = serve._qlex(spark, idx, query_terms)
    if not rows or (phrase and not set(query_terms) <= {r["term"] for r in rows}):
        return []
    top = {
        int(r["doc_id"]): (int(r["score_micros"]), r["term"])
        for r in _topk(spark, idx, rows, query_terms, k, doc_filter, phrase).collect()
    }
    if not top:
        return []
    docs = sorted(
        documents.filter(F.col("doc_id").isin(list(top)))
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda r: (-top[r["doc_id"]][0], r["doc_id"]),
    )
    out: list[ResultRow] = []
    for doc_id, source, text in docs:
        score, term = top[doc_id]
        snippet = render_snippet(text, term)
        if snippet is not None:  # Q11: snippet-less hits are dropped
            out.append(
                ResultRow(
                    len(out) + 1,
                    doc_id,
                    term,
                    None if source is None else f"doc://{source}/{doc_id}",  # as SQL concat
                    text[:48],
                    snippet,
                    score,
                )
            )
    return out


def search_results(
    spark: SparkSession,
    idx: dict,
    documents: DataFrame,
    query_terms: list[str],
    k: int = 10,
    doc_filter: DataFrame | None = None,
    phrase: bool = False,
    rows: list | None = None,
) -> DataFrame:
    """:func:`result_rows` as a frame of ``_RESULT_SCHEMA`` — the gate's
    form of the rows REST serves. The three executions run at call time;
    the returned frame holds the <=k rows as literals."""
    return local_frame(
        spark,
        result_rows(spark, idx, documents, query_terms, k, doc_filter, phrase, rows),
        _RESULT_SCHEMA,
    )
