"""Result assembly: the reference's search-response shape, index-served.

The reference materializes every hit as ``{term, url, title, snippet, id}``
(SearchService.convertDocumentsToResults, SearchService.java:391-423) with
``snippet = snippets[0]`` — the first pre-rendered 60-word window of the
page's last-processed term (quirks Q11/Q12). Round 1 covered this shape only
in the pytest oracle suite; this module gates it: BM25 top-k from the gate
index, then url/title lookup and a 60-word centered snippet rendered at
query time for the <=k candidate docs.

A request is three Spark executions (``search_results``): one lexicon
lookup; one ``groupBy(doc_id)`` over the pruned postings that computes the
score, the snippet term and, for a quoted phrase, the positional adjacency
check together, then keeps the bounded top-k; one documents scan that
reads the <=k winners by pushed-down id and takes their scores and terms
from literal maps — no broadcast join and no second postings pass.

Snippet contract (the simple-tokenizer analog of
Indexer.getCenteredTermSnippets, Indexer.java:354-394, so the DuckDB oracle
can replicate it bit-for-bit — the Porter-stemmed variant stays covered by
tests/oracle.py):

- ``words = split(text, '\\s+')`` (raw, punctuated words);
- a word *matches* the snippet term iff the term appears in the word's
  simple-token list (``split(lower(word), '[^a-z0-9]+')``) — the same
  tokenizer that built the index, so every candidate doc has a match;
- the window centers on the FIRST matching word: ``start = max(0, i - 30)``,
  ``end = min(n, start + 60)``, ``start = max(0, end - 60)`` (the
  reference's clipping rules);
- matching words inside the window are wrapped in ``<b>..</b>``, words are
  space-joined, ``'... '`` / ``' ...'`` ellipses mark clipped edges;
- snippet term = the lexicographically LAST matched query term of the doc
  (the pinned Q12 "last processed term" order).

The snippet is Catalyst higher-order functions over <=k rows — the
per-element lambda interpretation cost is bounded by k, not corpus size.
The phrase check is ``serve._phrase_adjacent`` — the adjacency predicate
every phrase path shares — over the aggregate's per-doc positions arrays;
its lambda runs over the first phrase term's positions per candidate doc,
bounded by the phrase terms' posting mass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.functions.tokenize import TOKEN_SPLIT_RE

SNIPPET_WORDS = 60
_RESULT_SCHEMA = (
    "rank int, doc_id long, term string, url string, title string, "
    "snippet string, score_micros long"
)


def _word_matches(word: Column, term: Column) -> Column:
    """Word-vs-term match under the simple-tokenizer contract."""
    return F.array_contains(F.split(F.lower(word), TOKEN_SPLIT_RE), term)


def snippet_expr(words: Column, term: Column, n_words: int = SNIPPET_WORDS) -> Column:
    """60-word centered, bolded, ellipsized snippet as one Catalyst
    expression (null when the term never matches — callers on index-served
    candidates never see that).

    ``words`` must be a MATERIALIZED array attribute (not a Project alias
    of ``split(text, ...)``): Catalyst inlines aliases into higher-order-
    function lambdas, so an aliased split would re-run per word index —
    O(words^2) per doc (the dedup._token_ngrams trap). search_results
    materializes it through an ``explode(array(...))`` Generate barrier."""
    half = n_words // 2
    n = F.size(words)
    # first matching word index (0-based): filter the position sequence
    pos = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda j: _word_matches(F.element_at(words, j + 1), term),
    )
    i = F.get(pos, 0)  # null-safe (ANSI element_at throws on empty arrays)
    start = F.greatest(F.lit(0), i - half)
    end = F.least(n, start + n_words)
    start = F.greatest(F.lit(0), end - n_words)
    window = F.slice(words, start + 1, end - start)
    bolded = F.transform(
        window,
        lambda w: F.when(_word_matches(w, term), F.concat(F.lit("<b>"), w, F.lit("</b>"))).otherwise(w),
    )
    body = F.array_join(bolded, " ")
    return F.when(
        i.isNotNull(),
        F.concat(
            F.when(start > 0, F.lit("... ")).otherwise(F.lit("")),
            body,
            F.when(end < n, F.lit(" ...")).otherwise(F.lit("")),
        ),
    )


def _sql_literal(x: str | int | float) -> str:
    """``x`` as a Spark SQL literal of its exact value: a string, a bigint,
    or a double parsed back from its round-trip ``repr``."""
    if isinstance(x, str):
        return "'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(x, float):
        return f"CAST('{x!r}' AS DOUBLE)"
    return f"{int(x)}L"


def _literal_map(pairs: dict) -> Column:
    """A driver dict inlined into the plan as one literal map: the request's
    few idf values and <=k winner fields ride in the expression instead of
    a driver-built frame behind a broadcast join. Built as one SQL
    expression — one JVM call, where a ``lit`` per entry costs a round trip
    each."""
    entries = ", ".join(f"{_sql_literal(k)}, {_sql_literal(v)}" for k, v in pairs.items())
    return F.expr(f"map({entries})")


def _topk(
    idx: dict,
    rows: list,
    query_terms: list[str],
    k: int,
    doc_filter: DataFrame | None,
    phrase: bool,
) -> DataFrame:
    """The request's one top-k aggregate over the pruned postings:
    ``(doc_id, score_micros, term)`` with ``term`` the doc's last matched
    query term (Q12) and, for a phrase, only docs holding it adjacently."""
    from searchengine_spark.operators import serve

    idf = _literal_map({r["term"]: r["idf_bm25"] for r in rows})
    contrib = serve._bm25_contrib(idx["avgdl"])
    top, pos = serve._doc_positions(
        serve._pruned_postings(idx, rows).withColumn("idf_bm25", idf[F.col("term")]),
        query_terms if phrase else [],
        F.sum(F.round(contrib * 1e6).cast("long")).alias("score_micros"),
        F.max("term").alias("term"),
    )
    if phrase:
        top = top.filter(serve._phrase_adjacent(pos, query_terms))
    if doc_filter is not None:
        top = top.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
    return (
        top.select("doc_id", "score_micros", "term")
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def search_results(
    spark: SparkSession,
    idx: dict,
    documents: DataFrame,
    query_terms: list[str],
    k: int = 10,
    doc_filter: DataFrame | None = None,
    phrase: bool = False,
) -> DataFrame:
    """Index-served BM25 top-k assembled into the reference's response shape:
    ``(rank, doc_id, term, url, title, snippet, score_micros)``.

    Plan, three Spark executions per call (the last when the caller
    collects the returned frame):

    1. one lexicon point lookup (``serve._qlex``) — its rows give the
       bucket pruning, the idf values and, for a phrase, the
       all-terms-present check;
    2. one top-k aggregate over the pruned postings: ``groupBy(doc_id)``
       computes the BM25 score (the shared ``serve._bm25_contrib``, idf
       from a literal term→idf map), the Q12 snippet term ``max(term)``
       and, for a phrase, each phrase term's positions, checked for
       adjacency in the same pass; the bounded top-k is collected;
    3. one results scan: the documents scan with the <=k winner ids
       pushed down, each winner's score and term read from literal maps,
       then the snippet expression, the Q11 filter and the rank window.

    ``phrase=True`` keeps only docs holding ``query_terms`` token-adjacent
    (``serve._phrase_adjacent``, the predicate every phrase path shares)
    BEFORE the top-k bound — the
    reference's filter-then-rank phrase flow
    (SearchService.handlePhraseSearch, SearchService.java:99-133) on true
    positional adjacency instead of snippet scans. ``doc_filter`` (a
    ``doc_id`` DataFrame, e.g. a boolean query's hit set) likewise
    restricts candidates before the bound.
    """
    from pyspark.sql import Window

    from searchengine_spark.operators import serve

    rows = serve._qlex(spark, idx, query_terms)
    if not rows or (phrase and not set(query_terms) <= {r["term"] for r in rows}):
        return spark.createDataFrame([], _RESULT_SCHEMA)
    # the <=k winners are collected so their doc_ids PUSH DOWN into the
    # documents scan (parquet row-group pruning on the doc_id-clustered
    # files) — a join key never reaches the reader, so without this every
    # request would decode the whole corpus's text column
    top_rows = _topk(idx, rows, query_terms, k, doc_filter, phrase).collect()
    if not top_rows:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    score = {int(r["doc_id"]): int(r["score_micros"]) for r in top_rows}
    term = {int(r["doc_id"]): r["term"] for r in top_rows}
    # url/title derived exactly as the compat fixture does (documents.parquet
    # has no url/title columns): url = doc://{source}/{doc_id}, title = first
    # 48 chars — the convertDocumentsToResults field mapping
    doc_id = F.col("doc_id")
    barrier = documents.filter(doc_id.isin(list(score))).select(
        "doc_id",
        _literal_map(term)[doc_id].alias("term"),
        F.concat(
            F.lit("doc://"), F.col("source"), F.lit("/"), doc_id.cast("string")
        ).alias("url"),
        F.substring("text", 1, 48).alias("title"),
        _literal_map(score)[doc_id].alias("score_micros"),
        # Generate barrier: the word array becomes a real attribute,
        # evaluated once per row, before the per-word snippet lambdas touch it
        F.explode(F.array(F.split(F.col("text"), r"\s+"))).alias("_words"),
    )
    out = barrier.withColumn(
        "snippet", snippet_expr(F.col("_words"), F.col("term"))
    ).filter(F.col("snippet").isNotNull())  # Q11: empty-snippet hits dropped
    w = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.desc("score_micros"), F.asc("doc_id")
    )
    return out.select(
        F.row_number().over(w).alias("rank"),
        "doc_id",
        "term",
        "url",
        "title",
        "snippet",
        "score_micros",
    )
