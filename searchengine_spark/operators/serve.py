"""Index-served retrieval: every gated query answered from the prebuilt
gate index (plans/gate_index.py: a ``build_index`` run over the documents
table, plus the docvecs and impacts tables derived from it) instead of
re-tokenizing the corpus.

This is the engine's actual physical query path, mirroring the reference's
index-served lookups (SearchService.java:464-477 — per-term fetches against
the prebuilt ``Terms`` collection; our analog is a partition-pruned scan of
the term-bucketed postings/segments parquet):

- ONE tiny driver job per query collects the |q| lexicon rows (term, df,
  idf, bucket) — the point-lookup step;
- the postings scan is pruned to the query terms' bucket directories
  (partition pruning) plus a term predicate pushed to parquet;
- scoring joins the broadcast |q|-row lexicon back — no corpus scan, no
  per-query aggregate over the vocabulary, no driver-side avgdl job (avgdl
  is a manifest scalar).

Scores are bigint micros (round(score*1e6)) summed in integer space — exact,
associative, bit-identical across partition counts and engines (the same
contract the round-1 gates established).
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.codec import BM25_B, BM25_K1

_EMPTY_TOPK = "doc_id long, score_micros long"


def _qlex(spark: SparkSession, idx: dict, terms: list[str]) -> list:
    """The per-query point lookup: collect the query terms' lexicon rows."""
    uniq = list(dict.fromkeys(terms))
    return (
        idx["lexicon"]
        .filter(F.col("term").isin(uniq))
        .select("term", "df", "cf", "idf_bm25", "idf_compat", "bucket")
        .collect()
    )


def _pruned_postings(idx: dict, rows: list) -> DataFrame:
    """Postings scan restricted to the query terms: bucket partition pruning
    + term predicate pushdown."""
    buckets = sorted({int(r["bucket"]) for r in rows})
    terms = [r["term"] for r in rows]
    return idx["postings"].filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    )


def _doc_positions(
    post: DataFrame, terms: list[str], *aggs: Column
) -> tuple[DataFrame, dict[str, Column]]:
    """The per-doc positions of ``terms``: ONE ``groupBy(doc_id)`` over a
    term-pruned postings scan, with ``max(when(term == t, positions))`` per
    distinct term (postings are unique per (term, doc), so each max sees
    one non-null array; it is null when the doc lacks t) next to the
    caller's ``aggs``. Returns the frame and the term -> positions column
    map that :func:`_phrase_at` reads — no explode, no self-join."""
    distinct = list(dict.fromkeys(terms))
    per_doc = post.groupBy("doc_id").agg(
        *aggs,
        *[
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"_pos{i}")
            for i, t in enumerate(distinct)
        ],
    )
    return per_doc, {t: F.col(f"_pos{i}") for i, t in enumerate(distinct)}


def _phrase_at(
    pos: dict[str, Column], phrase_terms: list[str], stride: int = 1
) -> Callable[[Column], Column]:
    """The adjacency predicate: ``at(p)`` holds iff phrase term i sits at
    ``p + i*stride`` for every i (stride 1 = exact phrase; stride g+1 =
    exactly g wildcard tokens between consecutive terms). ``pos`` maps each
    distinct term to its per-doc positions array (:func:`_doc_positions`);
    a missing term's null array makes ``at`` null, i.e. no match. Applied
    to the first term's positions, ``exists`` is the phrase match and
    ``size(filter(...))`` the number of phrase occurrences."""

    def at(p: Column) -> Column:
        return reduce(
            operator.and_,
            [
                F.array_contains(pos[t], p + i * stride)
                for i, t in enumerate(phrase_terms[1:], 1)
            ],
            F.lit(True),
        )

    return at


def _phrase_adjacent(
    pos: dict[str, Column], phrase_terms: list[str], stride: int = 1
) -> Column:
    """True iff the doc holds ``phrase_terms`` at stride ``stride``."""
    return F.exists(pos[phrase_terms[0]], _phrase_at(pos, phrase_terms, stride))


def _lex_df(spark: SparkSession, rows: list) -> DataFrame:
    return spark.createDataFrame(
        [(r["term"], r["df"], r["idf_bm25"], r["idf_compat"]) for r in rows],
        "term string, df long, idf_bm25 double, idf_compat double",
    )


def postings_tf(spark: SparkSession, idx: dict) -> DataFrame:
    """The stored postings themselves (term, doc_id, tf)."""
    return idx["postings"].select("term", "doc_id", "tf")


def lexicon_stats(spark: SparkSession, idx: dict) -> DataFrame:
    return idx["lexicon"].select(
        "term",
        "df",
        F.round(F.col("idf_bm25") * 1e6).cast("long").alias("idf_bm25_micros"),
        F.round(F.col("idf_compat") * 1e6).cast("long").alias("idf_compat_micros"),
    )


def stopword_list(
    spark: SparkSession, idx: dict, df_pct_num: int = 60, df_pct_den: int = 100
) -> DataFrame:
    """(term, df, df_ppm) — corpus-DRIVEN stopword generation: terms whose
    document frequency exceeds ``df_pct_num/df_pct_den`` of the corpus,
    the analyzer-construction step behind Lucene's CommonTermsQuery
    cutoff and every per-domain stopword file (a code corpus stops
    ``return``/``import``, not ``the``). The keep/drop boundary is the
    integer cross-multiplication ``df * den > num * n_docs`` — no float
    ever touches the decision — and df_ppm is the exact integer
    ``df * 1e6 div n_docs`` for human inspection.

    Plan: a lexicon-only scan (vocabulary-sized, never the corpus) with
    a driver-constant n_docs from the index manifest; output is the
    broadcast-class denylist the query analyzers consume."""
    n_docs = int(idx["n_docs"])
    return (
        idx["lexicon"]
        .filter(F.col("df").cast("long") * df_pct_den > df_pct_num * n_docs)
        .select(
            "term",
            "df",
            F.expr(f"df * 1000000 div {n_docs}").cast("long").alias("df_ppm"),
        )
    )


def _bm25_contrib(avgdl: float) -> F.Column:
    """The per-posting BM25 contribution expression. ONE definition shared
    by the single-query and batch paths: the float op ORDER is load-bearing
    (micros parity with the DuckDB oracle and batch==single equality), so
    it must never exist in two copies."""
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    return F.col("idf_bm25") * (tf * (BM25_K1 + 1.0)) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.lit(avgdl))
    )


def bm25_scores(
    spark: SparkSession, idx: dict, query_terms: list[str]
) -> DataFrame:
    """Un-limited BM25 candidate scores served from the index:
    (doc_id, score_micros) for every doc matching ≥1 query term.

    Plan: pruned postings scan → broadcast join of the |q|-row lexicon →
    per-doc bigint aggregate. Zero corpus scans, zero per-query driver
    aggregates. ``bm25_topk`` adds the bounded top-k; callers that filter
    candidates first (e.g. the REST phrase path) consume this directly so
    the limit applies AFTER their filter."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    contrib = _bm25_contrib(idx["avgdl"])
    return (
        post.join(F.broadcast(_lex_df(spark, rows)), "term")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
    )


def bm25_topk(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 10
) -> DataFrame:
    """BM25 top-k served from the index: (doc_id, score_micros) — the
    bounded-heap (TakeOrderedAndProject) tail over ``bm25_scores``."""
    return (
        bm25_scores(spark, idx, query_terms)
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_explain(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 10
) -> DataFrame:
    """Lucene-``explain``-style score breakdown: for each top-k document,
    one row per matched query term carrying the integers that produced the
    ranking — (doc_id, term, tf, df, contrib_micros, score_micros). The
    relevance-debugging surface every production engine ships beside its
    ranker; a row's contribs sum exactly to its score by construction.

    Plan shape: the SAME pruned-postings scan + broadcast lexicon join as
    :func:`bm25_scores` (one shared `_bm25_contrib` expression, so explain
    can never drift from the ranking it explains), a bounded top-k heap on
    the per-doc sums, and a broadcast semi-join back onto the ≤ k·|q|
    contribution rows. Zero corpus scans."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame(
            [],
            "doc_id long, term string, tf long, df long, "
            "contrib_micros long, score_micros long",
        )
    post = _pruned_postings(idx, rows)
    contrib = _bm25_contrib(idx["avgdl"])
    scored = post.join(F.broadcast(_lex_df(spark, rows)), "term").select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        "df",
        F.round(contrib * 1e6).cast("long").alias("contrib_micros"),
    )
    topk = (
        scored.groupBy("doc_id")
        .agg(F.sum("contrib_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )
    return scored.join(F.broadcast(topk), "doc_id").select(
        "doc_id", "term", "tf", "df", "contrib_micros", "score_micros"
    )


def bm25_search_after(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    cursor: tuple[int, int] | None,
    k: int = 10,
) -> DataFrame:
    """Cursor (search_after) pagination over the BM25 ranking — the
    scale-correct deep-paging primitive (Elasticsearch ``search_after``,
    Lucene ``searchAfter``): page N+1 is "the top-k rows strictly AFTER the
    cursor in the total order (score_micros DESC, doc_id ASC)", so every
    page costs one bounded top-k over the pruned postings scan. OFFSET
    pagination re-scores and SORTS past offset+k rows per page — page 1000
    of a hot query at 10^12 docs is a cluster-wide sort; the cursor
    predicate instead prunes candidates before the heap, and the total
    order (doc_id ties are unique) makes pages disjoint and exhaustive.

    ``cursor`` is (score_micros, doc_id) of the previous page's last row;
    None serves page 1."""
    scores = bm25_scores(spark, idx, query_terms)
    if cursor is not None:
        cs, cd = int(cursor[0]), int(cursor[1])
        scores = scores.filter(
            (F.col("score_micros") < cs)
            | ((F.col("score_micros") == cs) & (F.col("doc_id") > cd))
        )
    return scores.orderBy(F.desc("score_micros"), F.asc("doc_id")).limit(k)


def bm25_page(
    spark: SparkSession, idx: dict, query_terms: list[str], page: int, k: int = 10
) -> DataFrame:
    """Page ``page`` (1-based) of the BM25 ranking by chained search_after
    cursors: each prior page contributes only its k-row last-row cursor (a
    driver scalar, the PageRank-loop pattern) — no offset sort anywhere."""
    cursor = None
    for _ in range(page - 1):
        rows = bm25_search_after(spark, idx, query_terms, cursor, k=k).collect()
        if len(rows) < k:  # ranking exhausted — later pages are empty
            return spark.createDataFrame([], _EMPTY_TOPK)
        last = rows[-1]
        cursor = (int(last["score_micros"]), int(last["doc_id"]))
    return bm25_search_after(spark, idx, query_terms, cursor, k=k)


def bm25_topk_pruned(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    max_postings: int = 64,
    salts: int = 8,
) -> DataFrame:
    """Static index pruning (Carmel et al. 2001 / impact-ordered lists):
    each query term contributes only its top ``max_postings`` postings by
    impact proxy (tf desc, doc_id asc); idf stays the FULL-index value, as
    in real pruned indexes. The latency/recall trade every web-scale serving
    tier ships — at 10^12 docs a stopword's posting list is bounded to a
    constant instead of scanned.

    The per-term truncation is the two-phase salted grouped top-k from
    :func:`bm25_batch_topk` (no single partition ever holds a hot term's
    full posting list). Scoring/tie-breaks share the single-definition
    :func:`_bm25_contrib` micros contract, so the DuckDB oracle replicates
    the pruned ranking bit-for-bit."""
    from pyspark.sql import Window

    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    order = [F.desc("tf"), F.asc("doc_id")]
    partial = Window.partitionBy("term", F.pmod(F.col("doc_id"), F.lit(salts))).orderBy(
        *order
    )
    final = Window.partitionBy("term").orderBy(*order)
    pruned = (
        post.withColumn("_pr", F.row_number().over(partial))
        .filter(F.col("_pr") <= max_postings)
        .withColumn("_r", F.row_number().over(final))
        .filter(F.col("_r") <= max_postings)
        .drop("_pr", "_r")
    )
    contrib = _bm25_contrib(idx["avgdl"])
    return (
        pruned.join(F.broadcast(_lex_df(spark, rows)), "term")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_tiered(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    max_postings: int = 64,
    salts: int = 8,
) -> DataFrame:
    """Two-phase tiered retrieval (the Lucene/production refinement of
    static pruning): phase 1 generates CANDIDATES from each query term's
    champion list (top ``max_postings`` postings by tf desc, doc_id asc —
    the :func:`bm25_topk_pruned` truncation); phase 2 re-scores the
    candidate union with the EXACT full-fidelity BM25 over ALL the
    candidates' query-term postings. Unlike champion-only scoring, a doc
    reached through one term's champion list still gets credit for its
    non-champion postings on the other terms — the standard
    accuracy/latency middle tier between pruned and exhaustive.

    Scale shape: phase 1 is the salted grouped top-k (bounded per term —
    a stopword costs a constant, not its posting list); phase 2's scan is
    the same bucket-pruned postings read semi-joined down to
    ≤ |q|·max_postings candidate docs before any scoring work. Both
    phases share the single-definition :func:`_bm25_contrib` micros
    contract."""
    from pyspark.sql import Window

    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    order = [F.desc("tf"), F.asc("doc_id")]
    partial = Window.partitionBy("term", F.pmod(F.col("doc_id"), F.lit(salts))).orderBy(
        *order
    )
    final = Window.partitionBy("term").orderBy(*order)
    cands = (
        post.withColumn("_pr", F.row_number().over(partial))
        .filter(F.col("_pr") <= max_postings)
        .withColumn("_r", F.row_number().over(final))
        .filter(F.col("_r") <= max_postings)
        .select("doc_id")
        .distinct()
    )
    contrib = _bm25_contrib(idx["avgdl"])
    return (
        post.join(cands, "doc_id", "left_semi")
        .join(F.broadcast(_lex_df(spark, rows)), "term")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_batch_topk(
    spark: SparkSession,
    idx: dict,
    queries: dict[str, list[str]],
    k: int = 10,
    salts: int = 8,
) -> DataFrame:
    """Batch query evaluation: BM25 top-k for a whole query SET in one
    index pass — (query_id, rank, doc_id, score_micros).

    The reference replays its query set one request at a time
    (SearchService handles a single query per call); at cluster scale the
    right shape for offline evaluation / relevance sweeps is to score all
    queries in one job: ONE pruned postings scan over the union of the
    queries' terms, a broadcast (query_id, term) map fanning each posting
    to the queries that want it, and one (query_id, doc_id) aggregate.
    Per-posting cost is unchanged; the scan and shuffle amortize across
    |Q| queries.

    The grouped top-k is two-phase so no single partition ever holds a hot
    query's full candidate set (the round-1 unpartitioned-window lesson):
    rank within (query_id, doc_id mod salts) slots first — a partial,
    map-sided cut to <= salts*k rows per query — then rank the survivors
    per query_id. Scores are the same bigint-micros contract as
    :func:`bm25_scores`, so the batch output row for a query equals the
    single-query ``bm25_topk`` output."""
    scored = _batch_scores(spark, idx, queries)
    if scored is None:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, score_micros long"
        )
    return _grouped_topk(scored, k, salts)


def _batch_scores(
    spark: SparkSession, idx: dict, queries: dict[str, list[str]]
) -> DataFrame | None:
    """(query_id, doc_id, score_micros) for the whole query set in one
    pruned index pass — the shared scoring core of bm25_batch_topk and
    hard_negatives. None when no query term exists in the lexicon."""
    qmap = [
        (qid, t)
        for qid, terms in sorted(queries.items())
        for t in dict.fromkeys(terms)
    ]
    rows = _qlex(spark, idx, [t for _, t in qmap])
    if not rows:
        return None
    post = _pruned_postings(idx, rows)
    qdf = spark.createDataFrame(qmap, "query_id string, term string")
    contrib = _bm25_contrib(idx["avgdl"])
    return (
        post.join(F.broadcast(_lex_df(spark, rows)), "term")
        .join(F.broadcast(qdf), "term")
        .select(
            "query_id", "doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
    )


def _grouped_topk(scored: DataFrame, k: int, salts: int = 8) -> DataFrame:
    """Two-phase per-query top-k (rank within (query_id, doc_id mod salts)
    slots, then per query) — no single partition ever holds a hot query's
    full candidate set."""
    from pyspark.sql import Window

    order = [F.desc("score_micros"), F.asc("doc_id")]
    partial = Window.partitionBy(
        "query_id", F.pmod(F.col("doc_id"), F.lit(salts))
    ).orderBy(*order)
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("_pr", F.row_number().over(partial))
        .filter(F.col("_pr") <= k)
        .withColumn("rank", F.row_number().over(final).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_micros")
    )


def tfidf_topk(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 10
) -> DataFrame:
    """Reference-style TF-IDF top-k (tf/totalTerms · ln(N/(1+df)), quirks
    Q15/Q9) served from the index."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    contrib = (F.col("tf").cast("double") / F.col("dl").cast("double")) * F.col(
        "idf_compat"
    )
    return (
        post.join(F.broadcast(_lex_df(spark, rows)), "term")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def term_search_all(
    spark: SparkSession, idx: dict, query_terms: list[str]
) -> DataFrame:
    """Posting-list intersection (J5) over the stored postings."""
    uniq = list(dict.fromkeys(query_terms))
    rows = _qlex(spark, idx, uniq)
    if len(rows) < len(uniq):  # a term with no postings → empty intersection
        return spark.createDataFrame([], "doc_id long")
    return (
        _pruned_postings(idx, rows)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"))  # postings unique per (term,doc)
        .filter(F.col("n_terms") == len(uniq))
        .select("doc_id")
    )


def term_search_any(
    spark: SparkSession, idx: dict, query_terms: list[str]
) -> DataFrame:
    """Posting-list union (O4)."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], "doc_id long")
    return _pruned_postings(idx, rows).select("doc_id").distinct()


def term_search_except(
    spark: SparkSession,
    idx: dict,
    include_terms: list[str],
    exclude_terms: list[str],
) -> DataFrame:
    """ALL include terms and NONE of the exclude terms (O4' EXCEPT) — one
    pruned postings pass, one per-doc aggregate."""
    inc, exc = set(include_terms), set(exclude_terms)
    rows = _qlex(spark, idx, sorted(inc | exc))
    found = {r["term"] for r in rows}
    if not inc <= found:  # an include term with no postings → empty
        return spark.createDataFrame([], "doc_id long")
    flags = spark.createDataFrame(
        [(t, t in inc, t in exc) for t in sorted(inc | exc)],
        "term string, is_inc boolean, is_exc boolean",
    )
    return (
        _pruned_postings(idx, rows)
        .join(F.broadcast(flags), "term")
        .groupBy("doc_id")
        .agg(
            F.count_distinct(F.when(F.col("is_inc"), F.col("term"))).alias("n_inc"),
            F.max(F.col("is_exc").cast("int")).alias("any_exc"),
        )
        .filter((F.col("n_inc") == len(inc)) & (F.col("any_exc") == 0))
        .select("doc_id")
    )


def phrase_match(
    spark: SparkSession, idx: dict, phrase_terms: list[str], gap: int = 0
) -> DataFrame:
    """Exact token-adjacent phrase, served from the STORED positions arrays
    (the reference stored positions but never used them — quirk Q10; we use
    them, and from the index rather than re-tokenizing). ``gap`` > 0 is the
    exact-gap phrase ("hash ? join", exactly ``gap`` wildcard tokens between
    consecutive terms — the SpanNear/wildcard-slot pattern): term i at
    p + i·(gap+1). One per-doc positions aggregate over the phrase terms'
    pruned postings, filtered by the shared adjacency predicate."""
    assert len(phrase_terms) >= 2 and gap >= 0
    rows = _qlex(spark, idx, phrase_terms)
    found = {r["term"] for r in rows}
    if not set(phrase_terms) <= found:
        return spark.createDataFrame([], "doc_id long")
    per_doc, pos = _doc_positions(_pruned_postings(idx, rows), phrase_terms)
    return per_doc.filter(_phrase_adjacent(pos, phrase_terms, gap + 1)).select(
        "doc_id"
    )


def phrase_freq_topk(
    spark: SparkSession, idx: dict, phrase_terms: list[str], k: int = 10
) -> DataFrame:
    """Lucene-PhraseQuery-style SCORED phrase retrieval: unlike
    :func:`phrase_topk` (which BM25-scores the constituent terms of
    phrase-matching docs), the ranking signal here is the PHRASE itself —
    tf = the number of exact phrase occurrences in the doc, saturated by
    the shared BM25 tf curve, weighted by the SUM of the constituent
    terms' idfs (Lucene's PhraseWeight = Σ idf with phrase freq):
    ``score = (Σ idf_t) · pf·(k1+1) / (pf + k1·(1−b+b·dl/avgdl))``.
    (doc_id, phrase_freq, score_micros).

    Served from the stored positions arrays: the :func:`phrase_match`
    per-doc positions aggregate (which also carries dl), with the phrase
    starts counted (``size(filter(...))``) instead of tested for existence.
    The float tree is textually pinned to the oracle (idf sum in phrase
    order, same saturation expression as _bm25_contrib). Work is bounded by
    the phrase terms' posting masses — the same pruned scan and single
    aggregate phrase_match does."""
    assert len(phrase_terms) >= 2
    rows = _qlex(spark, idx, phrase_terms)
    by_term = {r["term"]: r for r in rows}
    if not set(phrase_terms) <= set(by_term):
        return spark.createDataFrame(
            [], "doc_id long, phrase_freq long, score_micros long"
        )
    # idf sum in PHRASE order — the oracle adds the same scalar subqueries
    # left-to-right, so the float sum order is identical
    idf_sum = 0.0
    for t in phrase_terms:
        idf_sum = idf_sum + float(by_term[t]["idf_bm25"])
    per_doc, pos = _doc_positions(
        _pruned_postings(idx, rows), phrase_terms, F.max("dl").alias("dl")
    )
    starts = F.filter(pos[phrase_terms[0]], _phrase_at(pos, phrase_terms))
    pf = per_doc.select(
        "doc_id", "dl", F.size(starts).cast("long").alias("phrase_freq")
    ).filter(F.col("phrase_freq") > 0)
    pfd = F.col("phrase_freq").cast("double")
    dl = F.col("dl").cast("double")
    score = F.lit(idf_sum) * (pfd * (BM25_K1 + 1.0)) / (
        pfd + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.lit(idx["avgdl"]))
    )
    return (
        pf.select(
            "doc_id",
            "phrase_freq",
            F.round(score * 1e6).cast("long").alias("score_micros"),
        )
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def span_first_topk(
    spark: SparkSession, idx: dict, term: str, k: int = 10, max_pos: int = 8
) -> DataFrame:
    """Lucene SpanFirstQuery analog: BM25 top-k among documents whose
    FIRST occurrence of ``term`` falls within the leading ``max_pos``
    token positions — the "matches near the start of the doc" constraint
    behind title/lead-paragraph boosting when there is no field structure.
    (doc_id, first_pos, score_micros).

    Served entirely from the stored positions arrays: the pruned postings
    row for the term carries its sorted positions, so the first occurrence
    is ``element_at(positions, 1)`` — no corpus pass, no explode; scoring
    shares the single-definition :func:`_bm25_contrib` tree with full-index
    idf. Plan: |1-term| lexicon lookup → bucket-pruned postings scan →
    array head filter → bounded top-k heap."""
    rows = _qlex(spark, idx, [term])
    if not rows:
        return spark.createDataFrame(
            [], "doc_id long, first_pos long, score_micros long"
        )
    post = _pruned_postings(idx, rows)
    contrib = _bm25_contrib(idx["avgdl"])
    return (
        post.withColumn("first_pos", F.element_at("positions", 1).cast("long"))
        .filter(F.col("first_pos") < max_pos)
        .join(F.broadcast(_lex_df(spark, rows)), "term")
        .select(
            "doc_id",
            "first_pos",
            F.round(contrib * 1e6).cast("long").alias("score_micros"),
        )
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def prefix_suggest(
    spark: SparkSession, idx: dict, prefix: str, k: int = 5
) -> DataFrame:
    """Top-k suggestion terms by corpus frequency — a lexicon-only scan
    (StartsWith prunes against parquet term min/max), no corpus pass."""
    return (
        idx["lexicon"]
        .filter(F.col("term").startswith(prefix))
        .select("term", F.col("cf").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(k)
    )


def synth_query_log(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic synthetic query-history log — (seq, query), built
    DISTRIBUTED (spark.range + JVM expressions; oracle twin recomputes it
    with the same arithmetic). The 16-slot vocabulary cycle gives distinct
    frequencies plus an exact tie ('stream window' / 'spark shuffle'), a
    blank slot (saveQuery's ``!query.trim()`` guard), and one query whose
    FIRST occurrence is ucfirst-cased (seq 5 → 'Spark join') so the
    case-preservation quirk is observable."""
    vocab = [
        "spark sql", "spark sql", "spark sql", "spark sql", "spark sql",
        "spark join", "spark join", "spark join",
        "hash join", "hash join", "hash join",
        "sort merge", "sort merge",
        "stream window",
        "spark shuffle",
        "",
    ]
    arr = F.array(*[F.lit(v) for v in vocab])
    q = F.element_at(arr, (F.col("id") % 16).cast("int") + 1)
    cased = F.when(
        F.col("seq") % 7 == 5,
        F.concat(F.upper(F.expr("substring(q, 1, 1)")), F.expr("substring(q, 2)")),
    ).otherwise(F.col("q"))
    return (
        spark.range(n)
        .select(F.col("id").alias("seq"), q.alias("q"))
        .select("seq", cased.alias("query"))
    )


def history_suggest(
    spark: SparkSession, log: DataFrame, prefix: str, k: int = 5
) -> DataFrame:
    """(rank, query, n) — top-k suggestions ranked by the USER'S past query
    counts, the reference frontend's suggestion semantics
    (suggestionService.js:6-31) turned into a distributed aggregate:

    - saveQuery folds case-insensitively (count += 1 on a lowercase match)
      and keeps the casing of the FIRST occurrence; blank queries are never
      saved (``!query.trim()``);
    - getSuggestions filters ``lower(query) startswith lower(prefix)``,
      sorts by count desc — JS ``Array.sort`` is stable, so ties keep the
      history's insertion order, i.e. ascending first-occurrence seq — and
      returns the stored (first-seen-case) query strings, top 5.

    Plan: one map-side-combined groupBy on lower(query) (count + min
    (seq, query) struct = first occurrence), prefix filter, top-k sort —
    a query log is orders of magnitude smaller than the corpus, and the
    aggregate is associative, so this is one small shuffle at any scale.
    The per-user localStorage becomes a (user-partitionable) log table —
    the same operator serves per-user or global history."""
    from pyspark.sql import Window

    hist = (
        log.filter(F.trim("query") != "")
        .groupBy(F.lower(F.col("query")).alias("qkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("seq", "query")).alias("first"),
        )
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("n"), F.asc("first_seq"))
    return (
        hist.filter(F.col("qkey").startswith(prefix.lower()))
        .select(
            F.col("first.query").alias("query"),
            "n",
            F.col("first.seq").alias("first_seq"),
        )
        .orderBy(F.desc("n"), F.asc("first_seq"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "query", "n")
    )


def facet_counts(
    spark: SparkSession,
    idx: dict,
    docs: DataFrame,
    query_terms: list[str],
    facets: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Faceted search: (facet, value, n_docs) histogram over the documents
    matching ANY query term — the sidebar counts every search UI renders
    next to results.

    Plan: pruned postings scan → distinct candidate doc_ids → one doc-side
    equi-join to fetch the facet columns → ``stack`` unpivots all facets in
    a single projection → ONE map-side-combined aggregate. The unpivot
    means |facets| histograms cost one shuffle, not |facets| passes."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], "facet string, value string, n_docs long")
    cands = _pruned_postings(idx, rows).select("doc_id").distinct()
    pairs = ", ".join(f"'{c}', {c}" for c in facets)
    return (
        docs.join(cands, "doc_id")
        .select(F.expr(f"stack({len(facets)}, {pairs}) AS (facet, value)"))
        .groupBy("facet", "value")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def search_diversified(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    per_host: int = 2,
    n_hosts: int = 7,
    salts: int = 8,
) -> DataFrame:
    """Host-diversified top-k: at most ``per_host`` results from any one
    host (the synthetic URL space's host key), then the global top-k —
    result diversification as every production SERP applies it.

    The per-host cap is the two-phase grouped top-k (the round-1
    unpartitioned-window lesson): rank within (host, doc_id mod salts)
    slots first — a partial cut to <= salts*per_host rows per host — then
    rank the survivors per host, so no single partition ever holds a hot
    host's full candidate set. Output: (rank, doc_id, host, score_micros).
    """
    from pyspark.sql import Window

    scores = bm25_scores(spark, idx, query_terms).withColumn(
        "host",
        F.concat(F.lit("host"), F.pmod(F.col("doc_id"), F.lit(n_hosts)).cast("string")),
    )
    order = [F.desc("score_micros"), F.asc("doc_id")]
    w_slot = Window.partitionBy("host", F.pmod(F.col("doc_id"), F.lit(salts))).orderBy(
        *order
    )
    w_host = Window.partitionBy("host").orderBy(*order)
    capped = (
        scores.withColumn("sr", F.row_number().over(w_slot))
        .filter(F.col("sr") <= per_host)
        .withColumn("hr", F.row_number().over(w_host))
        .filter(F.col("hr") <= per_host)
    )
    top = capped.orderBy(*order).limit(k)
    w_all = Window.partitionBy(F.col("doc_id") % 1).orderBy(*order)
    return top.select(
        F.row_number().over(w_all).cast("int").alias("rank"),
        "doc_id",
        "host",
        "score_micros",
    )


MAX_WILDCARD_TERMS = 64  # bounded dictionary expansion (Lucene maxExpansions)


def expand_prefix(
    idx: dict, prefix: str, max_expansions: int = MAX_WILDCARD_TERMS
) -> list:
    """Dictionary prefix expansion: the lexicon rows whose term starts with
    ``prefix`` — StartsWith prunes on parquet term min/max, and the
    expansion is BOUNDED (alphabetical, like Lucene's maxExpansions cap) so
    a one-character prefix over a web-scale vocabulary can never collect an
    unbounded list to the driver. Empty prefixes are rejected (they'd match
    the whole dictionary). The ONE prefix-expansion definition — the
    wildcard operator and the REST twin both route here."""
    if not prefix:
        raise ValueError("empty wildcard prefix matches the entire dictionary")
    return (
        idx["lexicon"]
        .filter(F.col("term").startswith(prefix))
        .select("term", "bucket")
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )


def wildcard_search(
    spark: SparkSession, idx: dict, prefix: str, max_expansions: int = MAX_WILDCARD_TERMS
) -> DataFrame:
    """Wildcard (``prefix*``) term search: dictionary prefix scan → bounded
    term expansion → ONE pruned postings pass.

    The classic wildcard plan (Lucene's automaton-on-dictionary, here the
    prefix special case): the lexicon scan prunes on parquet term min/max
    (StartsWith pushdown) and returns at most ``max_expansions`` matching
    terms with their postings buckets — a bounded driver round-trip, the
    same step class as ``_qlex``. The expanded (bucket, term) set then
    drives the identical partition-pruned postings lookup exact queries
    use, so the corpus never rescans. Union-of-terms semantics grouped per
    doc: (doc_id, n_terms, total_tf)."""
    rows = expand_prefix(idx, prefix, max_expansions)
    if not rows:
        return spark.createDataFrame([], "doc_id long, n_terms long, total_tf long")
    return (
        _pruned_postings(idx, rows)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").alias("total_tf"),
        )
    )


def _deletion_keys() -> F.Column:
    """SymSpell key set for the ``term`` column: the term itself plus every
    1-character deletion. Two words are Levenshtein<=1 neighbors only if
    their key sets intersect (delete-match covers equal/insert/delete/
    substitute), so an equi-join on keys replaces the O(|V|) per-query
    edit-distance scan."""
    dels = F.expr(
        "transform(sequence(1, length(term)), "
        "i -> concat(substring(term, 1, i-1), substring(term, i+1, length(term))))"
    )
    return F.array_union(F.array(F.col("term")), dels)


def fuzzy_suggest(spark: SparkSession, idx: dict, word: str, k: int = 5) -> DataFrame:
    """Did-you-mean: top-k lexicon terms within Levenshtein distance 1 of
    ``word``, ranked (distance asc, corpus frequency desc, term asc).

    The reference's suggestion path is exact-prefix only (the
    SearchService suggestion lookups); this extends it with the
    standard SymSpell deletion-neighborhood design: candidates come from an
    equi-join between the query's deletion keys (|word|+1 strings, a
    broadcast ``isin``) and the lexicon's deletion keys. At scale the
    exploded (key, term) table is materialized once next to the lexicon and
    bucket-joined — per query the work is |word|+1 key lookups, never a
    vocabulary scan. Deletion intersection admits transposition false
    positives (ED=2), so candidates pass a final ``levenshtein() <= 1``
    verify — the output is exact Levenshtein semantics, generated the
    scalable way."""
    w = word.lower()
    qkeys = [w] + [w[:i] + w[i + 1 :] for i in range(len(w))]
    cand = (
        idx["lexicon"]
        .select("term", "cf", F.explode(_deletion_keys()).alias("key"))
        .filter(F.col("key").isin(qkeys))
        .groupBy("term")
        .agg(F.max("cf").alias("n"))
    )
    return (
        cand.withColumn("dist", F.levenshtein(F.col("term"), F.lit(w)).cast("int"))
        .filter(F.col("dist") <= 1)
        .select("term", "dist", "n")
        .orderBy(F.asc("dist"), F.desc("n"), F.asc("term"))
        .limit(k)
    )


def fuzzy_suggest_multi(
    spark: SparkSession, idx: dict, words: list[str], k: int = 1
) -> DataFrame:
    """fuzzy_suggest for a word SET in one job: (word, term, dist, n) — the
    top-k Levenshtein<=1 neighbors per input word, ranked like
    :func:`fuzzy_suggest`. All words' deletion keys go into ONE broadcast
    (key, word) map joined against the exploded lexicon keys, so correcting
    an m-term query costs one pass, not m sequential jobs."""
    from pyspark.sql import Window

    pairs = []
    for w in dict.fromkeys(x.lower() for x in words):
        for key in dict.fromkeys([w] + [w[:i] + w[i + 1 :] for i in range(len(w))]):
            pairs.append((key, w))
    if not pairs:
        return spark.createDataFrame([], "word string, term string, dist int, n long")
    kdf = spark.createDataFrame(pairs, "key string, word string")
    cand = (
        idx["lexicon"]
        .select("term", "cf", F.explode(_deletion_keys()).alias("key"))
        .join(F.broadcast(kdf), "key")
        .groupBy("word", "term")
        .agg(F.max("cf").alias("n"))
        .withColumn("dist", F.levenshtein(F.col("term"), F.col("word")).cast("int"))
        .filter(F.col("dist") <= 1)
    )
    w = Window.partitionBy("word").orderBy(F.asc("dist"), F.desc("n"), F.asc("term"))
    return (
        cand.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("word", "term", "dist", "n")
    )


def unigram_logprob(spark: SparkSession, idx: dict) -> DataFrame:
    """Per-document mean unigram surprisal (the in-sandbox analog of the
    CCNet/KenLM perplexity quality filter): for each document,
    ``mean_nll_micros = (sum over terms of round(tf * ln(total_tokens/cf)
    * 1e6)) div doc_len``.

    Served entirely from the index: postings (term, doc_id, tf, dl) join the
    lexicon's corpus frequencies — both sides are bucketed by term hash, so
    at scale this is a co-partitioned join with no corpus scan; the total
    token count is the manifest's ``sum_dl`` scalar (every kept token adds 1
    to exactly one tf). Contributions round to bigint micros before the
    per-doc sum, so the result is exact and partition-count-invariant."""
    total = F.lit(float(idx["sum_dl"]))
    contrib = (
        idx["postings"]
        .select("term", "doc_id", "tf", "dl")
        .join(idx["lexicon"].select("term", "cf"), "term")
        .select(
            "doc_id",
            "dl",
            F.round(
                F.col("tf").cast("double")
                * F.log(total / F.col("cf").cast("double"))
                * F.lit(1e6)
            )
            .cast("long")
            .alias("c_micros"),
        )
    )
    return (
        contrib.groupBy("doc_id", "dl")
        .agg(F.sum("c_micros").alias("s"))
        .select(
            "doc_id",
            F.col("dl").cast("long").alias("dl"),
            F.expr("s div dl").alias("mean_nll_micros"),
        )
    )


def proximity_match(
    spark: SparkSession, idx: dict, term_a: str, term_b: str, slop: int = 3
) -> DataFrame:
    """Proximity search: (doc_id, min_dist) for docs where ``term_a`` and
    ``term_b`` occur within ``slop`` raw-split positions — the generalized
    form of adjacency phrase match (slop >= 1 contains every phrase hit).

    Served from the stored positional postings: the per-doc positions
    aggregate of the two terms (one bucket-pruned scan, one
    ``groupBy(doc_id)``), then the min pairwise |pa - pb| folds array-side
    (nested transform over the two position lists — bounded by the per-doc
    term frequencies, no explode, no join)."""
    rows = _qlex(spark, idx, [term_a, term_b])
    present = {r["term"] for r in rows}
    if term_a not in present or term_b not in present:
        return spark.createDataFrame([], "doc_id long, min_dist long")
    # term_a == term_b degenerates to "every doc containing the term"
    # (each occurrence pairs with itself, min_dist 0) — the same answer the
    # SQL twin gives, so the pair stays symmetric even at the edge
    per_doc, pos = _doc_positions(_pruned_postings(idx, rows), [term_a, term_b])
    min_dist = F.array_min(
        F.flatten(
            F.transform(
                pos[term_a],
                lambda x: F.transform(pos[term_b], lambda y: F.abs(x - y)),
            )
        )
    ).cast("long")
    return per_doc.select("doc_id", min_dist.alias("min_dist")).filter(
        F.col("min_dist") <= slop  # also drops docs lacking either term
    )


def ordered_proximity_match(
    spark: SparkSession, idx: dict, term_a: str, term_b: str, slop: int = 3
) -> DataFrame:
    """Ordered proximity: docs where ``term_a`` occurs BEFORE ``term_b``
    within ``slop`` positions — (doc_id, min_gap), gap = pb - pa >= 1. The
    directional refinement of ``proximity_match`` (phrase queries are the
    slop=1 special case); same physical shape: the two terms' per-doc
    positions aggregate, the min positive gap folded array-side."""
    rows = _qlex(spark, idx, [term_a, term_b])
    present = {r["term"] for r in rows}
    if term_a not in present or term_b not in present:
        return spark.createDataFrame([], "doc_id long, min_gap long")
    per_doc, pos = _doc_positions(_pruned_postings(idx, rows), [term_a, term_b])
    gaps = F.filter(
        F.flatten(
            F.transform(pos[term_a], lambda x: F.transform(pos[term_b], lambda y: y - x))
        ),
        lambda v: v >= 1,
    )
    return per_doc.select(
        "doc_id", F.array_min(gaps).cast("long").alias("min_gap")
    ).filter(F.col("min_gap") <= slop)  # also drops docs with no positive gap


def synonym_bm25_topk(
    spark: SparkSession, idx: dict, groups: dict[str, list[str]], k: int = 10
) -> DataFrame:
    """Synonym-group BM25 top-k: each group scores as ONE macro-term —
    tf(group, doc) = Σ member tfs in the doc, df(group) = docs containing
    ANY member, idf from the group df — the standard synonym-expansion
    semantics (Lucene's SynonymQuery), not a bag of independent terms (which
    would double-count near-duplicate vocabulary).

    Plan: one pruned postings pass for the union of member terms, a
    broadcast term→group map, a (group, doc) aggregate, a |groups|-row df
    aggregate broadcast back for idf, then the usual bigint-micros fold and
    bounded top-k. Output: (doc_id, score_micros)."""
    from searchengine_spark.operators.ir import idf_bm25_expr

    all_terms = sorted({t for ts in groups.values() for t in ts})
    rows = _qlex(spark, idx, all_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    gmap = spark.createDataFrame(
        [(t, g) for g, ts in sorted(groups.items()) for t in sorted(set(ts))],
        "term string, grp string",
    )
    gposts = (
        post.join(F.broadcast(gmap), "term")
        .groupBy("grp", "doc_id")
        .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"))
    )
    glex = (
        gposts.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("df"))
        .select("grp", idf_bm25_expr(idx["n_docs"]).alias("idf_bm25"))
    )
    contrib = _bm25_contrib(idx["avgdl"])
    return (
        gposts.join(F.broadcast(glex), "grp")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def doc_keywords(spark: SparkSession, idx: dict, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: the top-k terms of EVERY document by
    reference-style tf-idf — (doc_id, rank, term, tfidf_micros).

    This is the corpus-wide grouped top-k (tag clouds, related-terms
    features, doc summarization inputs). Unlike the per-query serving
    paths it deliberately touches the whole index once: postings join the
    lexicon idf — on disk both sides are bucketed by the same term hash,
    so at scale this is a co-partitioned join (the unigram_logprob shape)
    — then one window per doc_id. The window group is bounded by the
    document's distinct-term count (never a hot key: a document has
    bounded length, unlike a query term), so no salting is needed; the
    shuffle is one exchange of (doc, term, score) rows."""
    contrib = (F.col("tf").cast("double") / F.col("dl").cast("double")) * F.col(
        "idf_compat"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_micros"), F.asc("term")
    )
    return (
        idx["postings"]
        .select("term", "doc_id", "tf", "dl")
        .join(idx["lexicon"].select("term", "idf_compat"), "term")
        .select(
            "doc_id",
            "term",
            F.round(contrib * 1e6).cast("long").alias("tfidf_micros"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf_micros")
    )


# ---------------------------------------------------------------- compat gate

_COMPAT_FIXTURES: dict = {}


def compat_fixture(spark: SparkSession, sf_dir: str) -> dict:
    """Fixture index for gating the reference's compat scorer
    (Ranker.java:74-97) end-to-end over the driver's ``documents`` table.

    Derived deterministically so the DuckDB oracle can reproduce every
    column (the full-pipeline index uses the Porter/crude-stem tokenizer,
    which is not SQL-expressible — tokenization here is the simple gate
    tokenizer; the stemming quirks stay covered by the pytest oracle suite):

    - postings: the gate index's, plus header flags from the first
      occurrence position — h1: minpos<5, h2: 5≤minpos<15, h3: 15≤minpos<30
      (disjoint, the markdown-header analog for headerless plain text);
    - documents: url = ``doc://{source}/{doc_id}``, title = first 48 chars,
      content = text, pagerank = the exact-integer PageRank twin
      (graph_demo.pagerank_integer, 5 iterations) cast to double — integer-
      valued doubles, so pr/max_pr ratios are bit-identical cross-engine.
    """
    import os

    from searchengine_spark.operators.graph_demo import pagerank_integer
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _COMPAT_FIXTURES:
        return _COMPAT_FIXTURES[key]
    idx = gate_index(spark, sf_dir)
    minpos = F.element_at("positions", 1)  # positions stored sorted
    post = idx["postings"].select(
        "term",
        "doc_id",
        "tf",
        "dl",
        "positions",
        (minpos < 5).alias("term_h1"),
        ((minpos >= 5) & (minpos < 15)).alias("term_h2"),
        ((minpos >= 15) & (minpos < 30)).alias("term_h3"),
    )
    lex = idx["lexicon"].select("term", "df", "idf_bm25", "idf_compat")
    # documents side (url/title + the 5-iteration integer PageRank) is a
    # build artifact like the index itself — disk-cached next to it, keyed
    # by the same content digest, so serving never re-runs the PR loop
    docs_cache = os.path.join(idx["dir"], "compat_documents")
    if not os.path.exists(os.path.join(docs_cache, "_SUCCESS")):
        if os.path.exists(docs_cache):  # torn previous write — rebuild
            import shutil

            shutil.rmtree(docs_cache, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents")
        pr = pagerank_integer(docs, iterations=5)
        tmp = docs_cache + f".tmp{os.getpid()}"
        (
            docs.select(
                "doc_id",
                F.concat(
                    F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string")
                ).alias("url"),
                F.substring("text", 1, 48).alias("title"),
                F.col("text").alias("content"),
            )
            .join(pr, "doc_id")
            .withColumn("pagerank", F.col("rank_scaled").cast("double"))
            .drop("rank_scaled")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, docs_cache)  # atomic publish, same as the index
        except OSError:  # concurrent builder won the race — identical bytes
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    documents = spark.read.parquet(docs_cache)
    out = {"postings": post, "lexicon": lex, "documents": documents}
    _COMPAT_FIXTURES[key] = out
    return out


def compat_topk(spark: SparkSession, sf_dir: str, query: str, k: int = 10) -> DataFrame:
    """The reference's full ranking pipeline (0.4·tfidf/max + 0.3·pr/max +
    0.7·titleMatches/|Q_words| + min(header, 0.45), quirks Q3/Q9/Q14/Q15)
    gated end-to-end: (rank, doc_id, url, title, score_micros).

    Runs query.search_compat over the compat fixture. The Q11 has-snippet
    filter is provably a no-op on this corpus (plain space-separated text +
    Porter-fixed query terms → every candidate's term is findable), so the
    SQL oracle omits it; tests/test_compat_gate.py asserts the invariant.
    """
    from searchengine_spark.operators.query import search_compat

    fx = compat_fixture(spark, sf_dir)
    res = search_compat(
        spark, fx["postings"], fx["lexicon"], fx["documents"], query, k=k
    )
    return res.select(
        "rank",
        "doc_id",
        "url",
        "title",
        F.round(F.col("score") * 1e6).cast("long").alias("score_micros"),
    )


def qld_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    mu: float = 100.0,
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai & Lafferty
    2001) — the language-model family beside BM25, served from the same
    index: rank by ``Σ_t∈q ln(1 + tf·|C| / (μ·cf)) + |q|·ln(μ/(dl+μ))``
    (the rank-equivalent decomposition of ``Σ ln((tf + μ·p(t|C))/(dl+μ))``
    with the doc-independent ``Σ ln p(t|C)`` dropped).

    Physical shape is identical to :func:`bm25_scores`: the |q|-row lexicon
    point lookup supplies cf, the postings scan is bucket-pruned, |C| is
    the manifest's ``sum_dl`` scalar, and contributions round to bigint
    micros before the per-doc sum (the doc-level dl term rounds separately,
    added once) — exact and partition-count-invariant. Query terms missing
    from the lexicon are OOV-dropped (they'd contribute the same
    -inf-background to every doc), matching retrieval practice.

    Output: (doc_id, score_micros) top-k, ties by doc_id."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    nq = float(len(rows))
    total = float(idx["sum_dl"])
    post = _pruned_postings(idx, rows)
    cfmap = spark.createDataFrame(
        [(r["term"], r["cf"]) for r in rows], "term string, cf long"
    )
    term_c = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("tf").cast("double") * F.lit(total))
            / (F.lit(mu) * F.col("cf").cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    doc_c = F.round(
        F.lit(nq) * F.log(F.lit(mu) / (F.col("dl").cast("double") + F.lit(mu))) * F.lit(1e6)
    ).cast("long")
    return (
        post.join(F.broadcast(cfmap), "term")
        .select("doc_id", "dl", term_c.alias("c_micros"))
        .groupBy("doc_id", "dl")
        .agg(F.sum("c_micros").alias("s"))
        .select("doc_id", (F.col("s") + doc_c).alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def qld_jm_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    lam: float = 0.5,
) -> DataFrame:
    """Query-likelihood ranking with Jelinek-Mercer smoothing (the
    fixed-interpolation sibling of :func:`qld_topk`'s Dirichlet prior):
    rank by ``Σ_t∈q∩d ln(1 + ((1-λ)/λ) · (tf/dl) · (|C|/cf))`` — the
    rank-equivalent decomposition of ``Σ ln((1-λ)·tf/dl + λ·cf/|C|)``
    with the doc-independent ``Σ ln(λ·p(t|C))`` dropped. Unlike Dirichlet
    there is no per-doc background term, so only matched postings score.

    Physical shape is qld_topk's exactly: |q|-row lexicon point lookup for
    cf, bucket-pruned postings scan, manifest ``sum_dl`` scalar, per-posting
    contribution rounded to bigint micros before the per-doc sum (exact,
    partition-count-invariant). OOV query terms drop.

    Output: (doc_id, score_micros) top-k, ties by doc_id."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    total = float(idx["sum_dl"])
    ratio = (1.0 - lam) / lam
    post = _pruned_postings(idx, rows)
    cfmap = spark.createDataFrame(
        [(r["term"], r["cf"]) for r in rows], "term string, cf long"
    )
    term_c = F.round(
        F.log(
            F.lit(1.0)
            + F.lit(ratio)
            * (F.col("tf").cast("double") * F.lit(total))
            / (F.col("dl").cast("double") * F.col("cf").cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    return (
        post.join(F.broadcast(cfmap), "term")
        .select("doc_id", term_c.alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


# log2(e) and 2π as fixed double literals: both engines must parse the SAME
# constant so the PL2 float trees stay bit-identical (log2(x) is spelled
# ln(x)·INV_LN2 on both sides rather than trusting two libm log2s to agree)
PL2_INV_LN2 = 1.4426950408889634
PL2_TWO_PI = 6.283185307179586


def pl2_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    c: float = 1.0,
) -> DataFrame:
    """PL2 ranking from the Divergence-From-Randomness framework (Amati &
    van Rijsbergen 2002) — Poisson model, Laplace after-effect,
    normalization 2; the third classical ranking family (after BM25 and the
    LM smoothers) and Terrier's default::

        tfn = tf · log2(1 + c·avgdl/dl)
        score_t = (tfn·log2(tfn/λ_t) + (λ_t − tfn)·log2 e
                   + 0.5·log2(2π·tfn)) / (tfn + 1)      λ_t = cf_t / N

    Physical shape is :func:`qld_topk`'s exactly: |q|-row lexicon point
    lookup supplies cf (λ is a per-term Python scalar — same IEEE division
    the oracle performs in SQL), bucket-pruned postings scan, avgdl/N from
    the manifest, per-posting contribution rounded to bigint micros before
    the per-doc sum (exact, partition-count-invariant). log2 is spelled
    ``ln(x)·log2(e)`` with the constant as a fixed literal on BOTH engines
    so the trees match bit-for-bit. OOV query terms drop.

    Output: (doc_id, score_micros) top-k, ties by doc_id."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    n_docs = float(idx["n_docs"])
    avgdl = float(idx["avgdl"])
    post = _pruned_postings(idx, rows)
    lam_map = spark.createDataFrame(
        [(r["term"], float(r["cf"]) / n_docs) for r in rows],
        "term string, lam double",
    )
    inv, two_pi = F.lit(PL2_INV_LN2), F.lit(PL2_TWO_PI)
    dl_d = F.col("dl").cast("double")
    tfn = F.col("tf").cast("double") * (
        F.log(F.lit(1.0) + (F.lit(c) * F.lit(avgdl)) / dl_d) * inv
    )
    lam = F.col("lam")
    score = (
        tfn * (F.log(tfn / lam) * inv)
        + (lam - tfn) * inv
        + F.lit(0.5) * (F.log(two_pi * tfn) * inv)
    ) / (tfn + F.lit(1.0))
    c_micros = F.round(score * F.lit(1e6)).cast("long")
    return (
        post.join(F.broadcast(lam_map), "term")
        .select("doc_id", c_micros.alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def sdm_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    mu: float = 2000.0,
    window: int = 8,
    lam_t: float = 0.85,
    lam_o: float = 0.10,
    lam_u: float = 0.05,
) -> DataFrame:
    """Sequential Dependence Model ranking (Metzler & Croft, SIGIR'05) —
    the term-dependence MRF ranker production engines (Indri/Galago) run
    when plain bags-of-words underrank phrase-coherent documents: a
    weighted sum of three Dirichlet-smoothed LM feature classes::

        λ_T Σ_i    f(q_i, d)            unigram
        λ_O Σ_adj  f(#1(q_i q_i+1), d)  ordered adjacency
        λ_U Σ_adj  f(#uwN(q_i q_i+1), d) unordered co-occurrence in a
                                         N-token window

    Each f is the rank-equivalent Dirichlet decomposition qld_topk uses —
    matched rows score ``λ·ln(1 + tf_f·|C| / (μ·cf_f))`` and every
    candidate doc carries one length penalty
    ``-(λ_T·n_uni + (λ_O+λ_U)·n_pairs)·ln(dl+μ)`` — so the whole model is
    index-served: postings give unigram tf/dl, the STORED positions give
    the pair counts (ordered: equi-join on p+1; unordered: width-``window``
    bucket join probing 3 buckets, exactly equivalent to the |Δp|≤N-1
    filter but never quadratic in doc length), and pair collection
    frequencies are 1-row in-plan aggregates of the pair-count tables
    (no driver actions). Positions are raw-split positions (quirk Q4),
    so adjacency/window distances match the phrase/proximity family; the
    pair features COUNT windows per doc, so they keep their own position
    explode + join rather than the phrase family's existence predicate
    (``_phrase_adjacent``).

    Contract details the DuckDB twin mirrors: unigram sum over UNIQUE
    in-vocabulary terms; pairs = adjacent ORIGINAL query positions with
    both terms in vocabulary, a≠b, deduplicated; every feature
    contribution rounds to bigint micros before the per-doc sum.

    Output: (doc_id, score_micros) top-k, ties by doc_id."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    vocab = {r["term"] for r in rows}
    uni = [t for t in dict.fromkeys(query_terms) if t in vocab]
    pairs = list(
        dict.fromkeys(
            (a, b)
            for a, b in zip(query_terms, query_terms[1:])
            if a in vocab and b in vocab and a != b
        )
    )
    total = float(idx["sum_dl"])
    post = _pruned_postings(idx, rows)
    cfmap = spark.createDataFrame(
        [(r["term"], r["cf"]) for r in rows], "term string, cf long"
    )
    uni_c = F.round(
        F.lit(lam_t)
        * F.log(
            F.lit(1.0)
            + (F.col("tf").cast("double") * F.lit(total))
            / (F.lit(mu) * F.col("cf").cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    contribs = [
        post.join(F.broadcast(cfmap), "term").select(
            "doc_id", uni_c.alias("c_micros")
        )
    ]
    # one length penalty per candidate doc (docs matching >= 1 query term)
    coef = -(lam_t * len(uni) + (lam_o + lam_u) * len(pairs))
    cand = post.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    contribs.append(
        cand.select(
            "doc_id",
            F.round(
                F.lit(coef)
                * F.log(F.col("dl").cast("double") + F.lit(mu))
                * F.lit(1e6)
            )
            .cast("long")
            .alias("c_micros"),
        )
    )
    if pairs:
        pos = post.select("doc_id", "term", F.explode("positions").alias("p"))
        for a, b in pairs:
            pa = pos.filter(F.col("term") == a).select("doc_id", F.col("p").alias("pa"))
            pb = pos.filter(F.col("term") == b).select(
                F.col("doc_id").alias("_id"), F.col("p").alias("pb")
            )
            tfo = (
                pa.join(pb, (pa.doc_id == pb._id) & (pb.pb == pa.pa + 1))
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("tfp"))
            )
            # bucketed unordered-window join: pa probes buckets b0-1..b0+1,
            # covering every |pa-pb| <= window-1 pair without a per-doc
            # positions cross join
            pa_b = pa.select(
                "doc_id",
                "pa",
                F.explode(
                    F.array(
                        *[
                            (F.floor(F.col("pa") / window) + F.lit(off)).alias("b")
                            for off in (-1, 0, 1)
                        ]
                    )
                ).alias("bk"),
            )
            pb_b = pb.select(
                "_id", "pb", F.floor(F.col("pb") / window).alias("bk")
            )
            tfu = (
                pa_b.join(pb_b, (pa_b.doc_id == pb_b._id) & (pa_b.bk == pb_b.bk))
                .filter(F.abs(F.col("pa") - F.col("pb")) <= window - 1)
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("tfp"))
            )
            for frame, lam in ((tfo, lam_o), (tfu, lam_u)):
                cfp = frame.agg(F.sum("tfp").cast("double").alias("_cfp"))
                contribs.append(
                    frame.crossJoin(F.broadcast(cfp)).select(
                        "doc_id",
                        F.round(
                            F.lit(lam)
                            * F.log(
                                F.lit(1.0)
                                + (F.col("tfp").cast("double") * F.lit(total))
                                / (F.lit(mu) * F.col("_cfp"))
                            )
                            * F.lit(1e6)
                        )
                        .cast("long")
                        .alias("c_micros"),
                    )
                )
    out = contribs[0]
    for c in contribs[1:]:
        out = out.unionByName(c)
    return (
        out.groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def bm25f_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    head_positions: int = 8,
    w_head: float = 2.0,
    w_body: float = 1.0,
) -> DataFrame:
    """Field-weighted BM25 (BM25F, Zaragoza et al. CIKM'04, shared-length
    simplification): occurrences in the document's "head" field (the first
    ``head_positions`` raw token positions — title/lead analog, the modern
    form of the reference's header boost) weigh ``w_head``, the rest
    ``w_body``; the weighted tf is length-normalized once and saturated
    ``tfw/(k1+tfw)``, so a head hit can't be out-accumulated by sheer body
    repetition (the failure mode of per-field score summing).

    Served ENTIRELY from the index: the stored positional postings give
    per-field tfs as ``size(filter(positions, p < H))`` — no corpus scan,
    no per-field index. Same pruned-scan + broadcast-lexicon shape and
    bigint-micros contract as :func:`bm25_scores`.

    Output: (doc_id, score_micros) top-k."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    tf_h = F.size(
        F.filter(F.col("positions"), lambda p: p < F.lit(head_positions))
    ).cast("double")
    tf_b = F.col("tf").cast("double") - tf_h
    dl = F.col("dl").cast("double")
    tfw = (F.lit(w_head) * tf_h + F.lit(w_body) * tf_b) / (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / F.lit(idx["avgdl"])
    )
    c = F.round(
        F.col("idf_bm25") * (tfw / (F.lit(BM25_K1) + tfw)) * F.lit(1e6)
    ).cast("long")
    return (
        post.join(F.broadcast(_lex_df(spark, rows)), "term")
        .select("doc_id", c.alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_maxp_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    passage_size: int = 32,
) -> DataFrame:
    """Passage-level BM25 with max-passage document scoring (the MaxP
    aggregation of passage retrieval — Callan SIGIR'94 passage evidence;
    popularized as "MaxP" by Dai & Callan SIGIR'19): the document is split
    into fixed non-overlapping ``passage_size``-token windows over the RAW
    split positions (the same position space the phrase/proximity operators
    use), each passage is scored independently, and the document's score is
    its best passage. Long files (the common case in a source-code corpus)
    stop winning on sheer accumulated tf — a doc must have one locally
    dense region.

    Served ENTIRELY from the stored positional postings: passage tf is a
    regrouping of the positions array (``floor(pos / P)``), no corpus scan.
    Fixed-length windows make BM25's length normalization a constant, so the
    per-passage contribution reduces to the saturation form
    ``idf · tf(k1+1)/(tf+k1)``. The per-(doc,term,passage) contribution is
    rounded to micros BEFORE the passage sum and the per-doc max — integer
    space end-to-end, bit-identical to the DuckDB oracle. Ties between a
    doc's equal-scoring passages break to the EARLIEST passage.

    Both shuffles key on doc_id-derived keys, so hot query terms spread
    across docs (no single-reducer risk at scale).

    Output: (doc_id, passage_id, score_micros) top-k."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame(
            [], "doc_id long, passage_id long, score_micros long"
        )
    post = _pruned_postings(idx, rows)
    ptf = (
        post.select("doc_id", "term", F.explode("positions").alias("pos"))
        .groupBy(
            "doc_id",
            "term",
            F.floor(F.col("pos") / passage_size).cast("long").alias("passage_id"),
        )
        .agg(F.count("*").alias("ptf"))
    )
    tf = F.col("ptf").cast("double")
    contrib = F.col("idf_bm25") * (tf * F.lit(BM25_K1 + 1.0)) / (tf + F.lit(BM25_K1))
    pscores = (
        ptf.join(F.broadcast(_lex_df(spark, rows)), "term")
        .select(
            "doc_id",
            "passage_id",
            F.round(contrib * 1e6).cast("long").alias("c_micros"),
        )
        .groupBy("doc_id", "passage_id")
        .agg(F.sum("c_micros").alias("s"))
    )
    # deterministic per-doc argmax: max score, earliest passage on ties —
    # a struct max in one hash aggregate (no window, no single partition)
    best = pscores.groupBy("doc_id").agg(
        F.max(
            F.struct(F.col("s").alias("s"), (-F.col("passage_id")).alias("np"))
        ).alias("m")
    )
    return (
        best.select(
            "doc_id",
            (-F.col("m.np")).cast("long").alias("passage_id"),
            F.col("m.s").alias("score_micros"),
        )
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def ltr_features(
    spark: SparkSession, idx: dict, query_terms: list[str]
) -> DataFrame:
    """Per-(query, candidate-doc) ranking-feature export — the feature-join
    step of a learning-to-rank training pipeline (LETOR-style feature
    vectors): for every doc matching >=1 query term, the classic lexical
    features a downstream ranker trains on, all from ONE pruned postings
    scan + broadcast lexicon join + ONE per-doc aggregate:

    - n_matched      distinct query terms present (coordination),
    - sum_tf         total matched-term frequency,
    - dl             doc length (kept tokens),
    - min_pos        earliest raw-split position of any matched term
                     (title/lead-proximity proxy, cf. the reference's
                     title boost Ranker.java:52-57),
    - bm25_micros    the bm25_scores contract (same _bm25_contrib),
    - tfidf_micros   the reference-compat tf/dl * ln(N/(1+df)) sum.

    The reference computes ad-hoc per-page components at query time
    (Ranker.aggregatePageData, Ranker.java:30-72); this is that accumulator
    re-expressed as a distributed feature materialization whose output IS
    training data. Integer-micros columns keep the export bit-identical
    across engines and partition counts."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame(
            [],
            "doc_id long, n_matched long, sum_tf long, dl long, "
            "min_pos long, bm25_micros long, tfidf_micros long",
        )
    post = _pruned_postings(idx, rows)
    bm25_c = F.round(_bm25_contrib(idx["avgdl"]) * 1e6).cast("long")
    tfidf_c = F.round(
        (F.col("tf").cast("double") / F.col("dl").cast("double"))
        * F.col("idf_compat")
        * 1e6
    ).cast("long")
    return (
        post.join(F.broadcast(_lex_df(spark, rows)), "term")
        .select(
            "doc_id",
            "tf",
            "dl",
            F.element_at("positions", 1).cast("long").alias("first_pos"),
            bm25_c.alias("bm25_c"),
            tfidf_c.alias("tfidf_c"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matched"),  # postings are unique per (term, doc)
            F.sum("tf").cast("long").alias("sum_tf"),
            F.max("dl").cast("long").alias("dl"),
            F.min("first_pos").alias("min_pos"),
            F.sum("bm25_c").alias("bm25_micros"),
            F.sum("tfidf_c").alias("tfidf_micros"),
        )
    )


def prf_expansion_topk(
    spark: SparkSession,
    idx: dict,
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 3,
    expand_weight: float = 0.5,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio-style): run the
    original query, take the top ``fb_docs`` results as assumed-relevant,
    pick the ``fb_terms`` strongest non-query terms from them (Σ tf · idf),
    and re-rank with ``original terms @ 1.0 + expansion terms @
    expand_weight`` — the classic two-pass relevance-feedback loop.

    Every stage keeps the index-served shape: pass 1 is
    :func:`bm25_topk` (pruned postings scan, bounded heap); the feedback
    term vectors come from a doc_id-pruned fetch of the <= fb_docs
    documents re-tokenized (bounded driver rows — at scale this is the
    same step class as the lexicon point lookup, never an index scan by
    doc); pass 2 is one pruned postings scan over |q| + fb_terms terms
    with a broadcast per-term weight. All selection keys are bigint micros
    (round-half-away-from-zero), so the expansion choice and the final
    ranking are bit-identical to the SQL twin.

    Output: (doc_id, score_micros) top-k."""
    from searchengine_spark.functions.tokenize import exploded_tokens

    orig = list(dict.fromkeys(query_terms))
    fb_ids = [
        r["doc_id"] for r in bm25_topk(spark, idx, orig, k=fb_docs).collect()
    ]
    weights = {t: 1.0 for t in orig}
    if fb_ids:
        fb_tf = (
            exploded_tokens(docs.filter(F.col("doc_id").isin(fb_ids)))
            .filter(~F.col("term").isin(orig))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("sum_tf"))
            .collect()
        )
        if fb_tf:
            tf_map = {r["term"]: int(r["sum_tf"]) for r in fb_tf}
            lex = _qlex(spark, idx, sorted(tf_map))
            import math

            def _micros(x: float) -> int:
                return int(math.copysign(math.floor(abs(x) + 0.5), x))

            scored = sorted(
                (
                    (-_micros(tf_map[r["term"]] * r["idf_bm25"] * 1e6), r["term"])
                    for r in lex
                ),
            )[:fb_terms]
            for _, t in scored:
                weights[t] = expand_weight
    rows = _qlex(spark, idx, sorted(weights))
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    wlex = spark.createDataFrame(
        [(r["term"], r["idf_bm25"], weights[r["term"]]) for r in rows],
        "term string, idf_bm25 double, w double",
    )
    contrib = _bm25_contrib(idx["avgdl"])
    return (
        post.join(F.broadcast(wlex), "term")
        .select(
            "doc_id",
            F.round(F.col("w") * contrib * F.lit(1e6)).cast("long").alias("c_micros"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def hybrid_rrf_topk(
    spark: SparkSession,
    idx: dict,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    r: int = 50,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid lexical+vector retrieval via Reciprocal Rank Fusion:
    ``rrf(d) = Σ_lists 1/(rrf_k + rank_list(d))`` over the BM25 top-``r``
    and the embedding-cosine top-``r`` (Cormack/Clarke/Büttcher RRF,
    rrf_k=60 — the fusion every hybrid search stack ships).

    Both input rankings are the engine's own gated paths: the lexical side
    is the index-served :func:`bm25_scores` (pruned postings scan, bigint
    micros), the vector side is the exact int64-matmul cosine
    (similarity.ann_bruteforce_topk with a single query vector). Each side
    is cut to ``r`` rows BEFORE fusion — at 100 TB the fusion operates on
    2r driver-scale rows per query, never on the candidate sets — and the
    contribution ``round(1e6/(rrf_k+rank))`` is an integer function of the
    integer rank, so the fused score is exact on any engine.

    Output: (rank, doc_id, rrf_micros); doc_id is the shared id space of
    the documents and embeddings tables."""
    from pyspark.sql import Window

    from searchengine_spark.operators.similarity import ann_bruteforce_topk

    order = [F.desc("score_micros"), F.asc("doc_id")]
    w1 = Window.partitionBy(F.col("doc_id") % 1)  # single-valued, non-foldable
    lex = (
        bm25_scores(spark, idx, query_terms)
        .orderBy(*order)
        .limit(r)
        .select(
            "doc_id",
            F.row_number().over(w1.orderBy(*order)).alias("lrank"),
        )
    )
    vec = ann_bruteforce_topk(embeddings, k=r, query_ids=[query_vec_id]).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vrank")
    )
    contrib = lambda c: F.coalesce(  # noqa: E731 — tiny local expr builder
        F.round(F.lit(1e6) / (F.lit(rrf_k) + F.col(c))).cast("long"), F.lit(0)
    )
    # outer-union fusion as id-union + two broadcast LEFT joins: Spark
    # cannot broadcast a FULL OUTER join (it planned a sort-merge exchange
    # even for these <= r-row sides), while left joins build-right broadcast
    ids = lex.select("doc_id").union(vec.select("doc_id")).distinct()
    fused = (
        ids.join(F.broadcast(lex), "doc_id", "left")
        .join(F.broadcast(vec), "doc_id", "left")
        .select("doc_id", (contrib("lrank") + contrib("vrank")).alias("rrf_micros"))
        .orderBy(F.desc("rrf_micros"), F.asc("doc_id"))
        .limit(k)
    )
    w_final = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.desc("rrf_micros"), F.asc("doc_id")
    )
    return fused.select(
        F.row_number().over(w_final).cast("int").alias("rank"),
        "doc_id",
        "rrf_micros",
    )


def bm25_topk_blockmax(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 10
) -> DataFrame:
    """BM25 top-k via VECTORIZED block-max pruning (interval sweep) over
    the compressed segments — doc-at-a-time WAND pays an interpreted loop
    per posting, so in a Python executor pruning must happen at block
    granularity with numpy scoring to actually pay off. Hash-identical to
    ``bm25_topk`` (same oracle, same integer-micros contract)."""
    from searchengine_spark.operators.segments import blockmax_topk_micros

    return blockmax_topk_micros(
        spark, idx["segments"], idx["lexicon"], query_terms, idx["avgdl"], k=k
    )


def shard_selection(
    spark: SparkSession, idx: dict, query_terms: list[str], n_shards: int = 8
) -> DataFrame:
    """CORI resource ranking (Callan, Lu & Croft SIGIR'95) — the shard
    router of selective search: score every index shard for a query so a
    100 TB deployment broadcasts the query only to the most promising
    shards instead of all of them. Shards here are ``doc_id mod n_shards``
    (hash allocation — balanced, the policy the segment layout already
    uses for buckets).

    Per (shard, term): ``T = df_s / (df_s + 50 + 150·cw_s/avg_cw)`` (df
    saturated by shard size), ``I = ln((S+0.5)/sf_t) / ln(S+1)`` (shard-
    level idf), belief ``0.4 + 0.6·T·I``; a shard's score is the sum over
    query terms of the belief in bigint micros (absent terms contribute
    the 0.4 default belief). Output: (shard_id, score_micros) for all S
    shards, ranked.

    Shape: the df_s table comes from the pruned postings scan (|q| terms);
    the shard collection sizes cw_s are one full pass over per-doc lengths
    — at scale that is an index-BUILD-time statistic published with the
    manifest, recomputed here per query only because the gate index stores
    no shard stats table; S and |q| are tiny, so the belief grid is a
    broadcast cross join. No corpus scan, no hot keys."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], "shard_id long, score_micros long")
    post = _pruned_postings(idx, rows)
    shard = F.pmod(F.col("doc_id"), F.lit(n_shards)).alias("shard_id")
    dfs = post.groupBy(shard, "term").agg(F.count(F.lit(1)).alias("df_s"))
    doclen = (
        idx["postings"].groupBy("doc_id").agg(F.max("dl").alias("dl"))
    )
    cw = (
        doclen.select(shard, "dl")
        .groupBy("shard_id")
        .agg(F.sum("dl").cast("long").alias("cw"))
    )
    avg_cw = float(idx["sum_dl"]) / float(n_shards)
    spine = spark.range(n_shards).select(F.col("id").alias("shard_id"))
    qterms = spark.createDataFrame([(r["term"],) for r in rows], "term string")
    grid = spine.crossJoin(F.broadcast(qterms))
    d = grid.join(dfs, ["shard_id", "term"], "left").select(
        "shard_id", "term", F.coalesce("df_s", F.lit(0)).cast("long").alias("df_s")
    )
    sft = (
        d.filter(F.col("df_s") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("sf_t"))
    )
    t_part = F.col("df_s").cast("double") / (
        F.col("df_s").cast("double")
        + F.lit(50.0)
        + F.lit(150.0) * (F.col("cw").cast("double") / F.lit(avg_cw))
    )
    i_part = F.log(
        F.lit(float(n_shards) + 0.5) / F.col("sf_t").cast("double")
    ) / F.log(F.lit(float(n_shards) + 1.0))
    belief = F.lit(0.4) + F.lit(0.6) * t_part * i_part
    return (
        d.join(F.broadcast(sft), "term")
        .join(F.broadcast(cw), "shard_id")
        .select(
            "shard_id", F.round(belief * 1e6).cast("long").alias("b_micros")
        )
        .groupBy("shard_id")
        .agg(F.sum("b_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("shard_id"))
    )


def _conjunctive_positives(
    spark: SparkSession, idx: dict, queries: dict[str, list[str]]
) -> DataFrame:
    """(query_id, doc_id) deterministic pseudo-qrels: per query, the lowest
    doc_id matching ALL requested terms (queries with a corpus-absent term
    have no positive). Shared by hard_negatives and rank_metrics."""
    qmap = [
        (qid, t)
        for qid, terms in sorted(queries.items())
        for t in dict.fromkeys(terms)
    ]
    rows = _qlex(spark, idx, [t for _, t in qmap])
    post = _pruned_postings(idx, rows)
    qdf = spark.createDataFrame(qmap, "query_id string, term string")
    n_req = qdf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_req"))
    matched = (
        post.select("term", "doc_id")
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))  # postings unique per (term, doc)
    )
    return (
        matched.join(F.broadcast(n_req), "query_id")
        .filter(F.col("n_hit") == F.col("n_req"))
        .groupBy("query_id")
        .agg(F.min("doc_id").alias("doc_id"))
    )


def hard_negatives(
    spark: SparkSession,
    idx: dict,
    queries: dict[str, list[str]],
    k: int = 10,
    salts: int = 8,
) -> DataFrame:
    """BM25 hard-negative mining — the negative-sampling pass of a
    dense-retriever / LTR training pipeline (as in public DPR-style
    recipes: the strongest lexically-matching non-relevant docs make the
    best training negatives): for every query, the top-k BM25 candidates
    EXCLUDING the query's positive document.

    The positive is derived deterministically (no external labels in this
    sandbox): the lowest doc_id matching ALL the query's requested terms
    (conjunctive semantics; if any term is corpus-absent the query has no
    positive and its top-k is unfiltered — mirrored by the oracle).

    One pruned index pass serves the whole query set: the shared
    :func:`_batch_scores` aggregate, a per-query 1-row positive aggregate
    broadcast into an anti-join, and the salted two-phase grouped top-k —
    no corpus scan, no single-reducer hot spots.

    Output: (query_id, rank, doc_id, score_micros)."""
    scored = _batch_scores(spark, idx, queries)
    if scored is None:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, score_micros long"
        )
    positives = _conjunctive_positives(spark, idx, queries)
    negatives = scored.join(
        F.broadcast(positives), ["query_id", "doc_id"], "left_anti"
    )
    return _grouped_topk(negatives, k, salts)


def rank_metrics(
    spark: SparkSession,
    idx: dict,
    queries: dict[str, list[str]],
    k: int = 10,
) -> DataFrame:
    """Offline ranking evaluation — the relevance-sweep step a search team
    runs on every ranker change (TREC-style hit@k / MRR@k / nDCG@k): score
    the whole query set in one index pass (:func:`_batch_scores`), find
    each query's relevant doc in the top-k, and emit per-query metrics.

    Qrels are the deterministic :func:`_conjunctive_positives` pseudo-
    labels (one relevant doc per query), so with a single positive
    ``rr = 1/rank`` and ``ndcg = ln(2)/ln(rank+1)`` (ideal DCG = 1); both
    freeze to bigint micros. Queries whose positive misses the top-k (or
    that have no positive) emit zeros — the spine is the query list, so
    every query gets exactly one row.

    Output: (query_id, hit, rr_micros, ndcg_micros)."""
    spine = spark.createDataFrame(
        [(qid,) for qid in sorted(queries)], "query_id string"
    )
    scored = _batch_scores(spark, idx, queries)
    if scored is None:
        return spine.select(
            "query_id",
            F.lit(0).cast("long").alias("hit"),
            F.lit(0).cast("long").alias("rr_micros"),
            F.lit(0).cast("long").alias("ndcg_micros"),
        )
    ranked = _grouped_topk(scored, k)
    positives = _conjunctive_positives(spark, idx, queries)
    hits = ranked.join(F.broadcast(positives), ["query_id", "doc_id"]).select(
        "query_id",
        F.lit(1).cast("long").alias("hit"),
        F.round(F.lit(1e6) / F.col("rank").cast("double"))
        .cast("long")
        .alias("rr_micros"),
        F.round(
            (F.log(F.lit(2.0)) / F.log(F.col("rank").cast("double") + F.lit(1.0)))
            * F.lit(1e6)
        )
        .cast("long")
        .alias("ndcg_micros"),
    )
    return spine.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce("hit", F.lit(0)).cast("long").alias("hit"),
        F.coalesce("rr_micros", F.lit(0)).cast("long").alias("rr_micros"),
        F.coalesce("ndcg_micros", F.lit(0)).cast("long").alias("ndcg_micros"),
    )


def qpp_predictors(
    spark: SparkSession, idx: dict, queries: dict[str, list[str]]
) -> DataFrame:
    """Pre-retrieval query performance prediction (the QPP literature's
    dictionary-statistics predictors — avgIDF, maxIDF, avgICTF, SCQ): score
    how hard each query looks BEFORE running it, from lexicon statistics
    alone. A serving tier uses this to route queries (easy → pruned/tier-1
    index, hard → full index + feedback), so the predictor must cost one
    dictionary point lookup — this one touches |Q·terms| lexicon rows and
    nothing else (no postings, no corpus).

    Per present term: ``idf`` is the BM25 idf, ``ictf = ln(total/cf)``,
    ``scq = (1 + ln(cf)) · idf``; each freezes to micros before the
    per-query aggregates (integer sums/avgs, ``div`` floor). Queries whose
    terms are all corpus-absent emit a zero row (n_terms = 0).

    Output: (query_id, n_terms, avg_idf_micros, max_idf_micros,
    avg_ictf_micros, scq_sum_micros)."""
    qmap = [
        (qid, t)
        for qid, terms in sorted(queries.items())
        for t in dict.fromkeys(terms)
    ]
    spine = spark.createDataFrame(
        [(qid,) for qid in sorted(queries)], "query_id string"
    )
    if not qmap:
        return spine.select(
            "query_id",
            *[
                F.lit(0).cast("long").alias(c)
                for c in (
                    "n_terms",
                    "avg_idf_micros",
                    "max_idf_micros",
                    "avg_ictf_micros",
                    "scq_sum_micros",
                )
            ],
        )
    qdf = spark.createDataFrame(qmap, "query_id string, term string")
    total = F.lit(float(idx["sum_dl"]))
    # term predicate pushed into the lexicon scan; the |Q·terms| query map
    # is the broadcast side (never the dictionary)
    lex = (
        idx["lexicon"]
        .filter(F.col("term").isin([t for _, t in qmap]))
        .select("term", "cf", "idf_bm25")
    )
    cf = F.col("cf").cast("double")
    per_term = lex.join(F.broadcast(qdf), "term").select(
        "query_id",
        F.round(F.col("idf_bm25") * 1e6).cast("long").alias("idf_m"),
        F.round(F.log(total / cf) * 1e6).cast("long").alias("ictf_m"),
        F.round((F.lit(1.0) + F.log(cf)) * F.col("idf_bm25") * 1e6)
        .cast("long")
        .alias("scq_m"),
    )
    agg = per_term.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.expr("sum(idf_m) div count(*)").alias("avg_idf_micros"),
        F.max("idf_m").alias("max_idf_micros"),
        F.expr("sum(ictf_m) div count(*)").alias("avg_ictf_micros"),
        F.sum("scq_m").alias("scq_sum_micros"),
    )
    return spine.join(F.broadcast(agg), "query_id", "left").select(
        "query_id",
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in (
                "n_terms",
                "avg_idf_micros",
                "max_idf_micros",
                "avg_ictf_micros",
                "scq_sum_micros",
            )
        ],
    )


def collapse_topk(
    spark: SparkSession,
    idx: dict,
    docs: DataFrame,
    query_terms: list[str],
    field: str = "source",
    k: int = 10,
) -> DataFrame:
    """Field-collapsed top-k (Lucene / Elasticsearch ``collapse``): at most
    ONE result per value of ``field`` — the best-scoring doc of each group
    (ties: lowest doc_id) — then the global top-k of the group winners.
    The one-result-per-site SERP rule the reference's UI would need the
    moment two crawled pages share a host.

    Plan: index-served BM25 candidate scores → one doc-side equi-join to
    fetch the collapse key → per-group ``max(struct(score, -doc_id))``
    argmax — a map-side-combinable hash aggregate, NOT a row_number window,
    so a hot group never funnels its full candidate set through one task —
    → bounded top-k heap. Output: (group_key, doc_id, score_micros)."""
    scores = bm25_scores(spark, idx, query_terms)
    best = (
        scores.join(docs.select("doc_id", F.col(field).alias("group_key")), "doc_id")
        .groupBy("group_key")
        .agg(
            F.max(
                F.struct(
                    F.col("score_micros"),
                    (-F.col("doc_id")).alias("neg_id"),
                    F.col("doc_id"),
                )
            ).alias("w")
        )
        .select(
            "group_key",
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.score_micros").alias("score_micros"),
        )
    )
    return best.orderBy(F.desc("score_micros"), F.asc("doc_id")).limit(k)


def more_like_this(
    spark: SparkSession,
    idx: dict,
    docs: DataFrame,
    src_doc_id: int,
    k: int = 10,
    max_query_terms: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Lucene-style MoreLikeThis: treat a document as the query. Select the
    source doc's ``max_query_terms`` most representative terms by
    round(tf · idf_bm25 · 1e6) (ties: term asc) among terms with
    df >= ``min_df``, then BM25-rank the corpus with that term set,
    excluding the source doc itself — the "similar pages" link beside every
    search result.

    The term-vector fetch is a doc_id point lookup on ``documents``
    (parquet predicate pushdown) re-tokenized — the same bounded step class
    as the lexicon point lookup, never an index scan by doc_id; at scale a
    forward index / term-vector store makes it a true point read. The
    selection keys are bigint micros (round-half-away-from-zero over the
    identical float expression), so the chosen term set — and therefore the
    final ranking — is bit-identical to the SQL twin.

    Output: (doc_id, score_micros) top-k over the rest of the corpus."""
    import math

    from searchengine_spark.functions.tokenize import exploded_tokens

    src_tf = (
        exploded_tokens(docs.filter(F.col("doc_id") == src_doc_id))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    if not src_tf:
        return spark.createDataFrame([], _EMPTY_TOPK)
    tf_map = {r["term"]: int(r["tf"]) for r in src_tf}
    lex = _qlex(spark, idx, sorted(tf_map))

    def _micros(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    ranked = sorted(
        (
            (-_micros(tf_map[r["term"]] * r["idf_bm25"] * 1e6), r["term"])
            for r in lex
            if int(r["df"]) >= min_df
        ),
    )[:max_query_terms]
    terms = [t for _, t in ranked]
    if not terms:
        return spark.createDataFrame([], _EMPTY_TOPK)
    return (
        bm25_scores(spark, idx, terms)
        .filter(F.col("doc_id") != src_doc_id)
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def federated_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    n_shards: int = 5,
    k: int = 10,
) -> DataFrame:
    """Scatter-gather distributed serving: the corpus is routed onto
    ``n_shards`` index shards (rendezvous hashing on doc_id — the exact
    routing the index builder would use), each shard computes its own
    bounded top-k using GLOBAL collection statistics (df/idf/avgdl travel
    with the query, as web serving tiers ship them from the broker), and
    the broker merges the S small lists. Because every doc lives on exactly
    one shard and per-doc scores don't depend on the shard, the merged
    result EQUALS the single-index top-k — the oracle is bm25_topk's own
    SQL, so the gate proves the scatter-gather plan lossless.

    The per-shard top-k is the two-phase salted grouped heap (never a
    single partition per shard); the merge is a bounded S·k-row sort.
    Output: (doc_id, score_micros)."""
    from searchengine_spark.operators.routing import route_expr

    scored = bm25_scores(spark, idx, query_terms).withColumn(
        "query_id", route_expr(F.col("doc_id"), n_shards).cast("string")
    )
    local = _grouped_topk(scored, k)  # per-shard bounded lists
    return (
        local.orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score_micros")
    )


def compound_split(
    spark: SparkSession, idx: dict, word: str, k: int = 5
) -> DataFrame:
    """Dictionary compound-word splitting (query segmentation — the Lucene
    DictionaryCompoundWordTokenFilter analog): split an out-of-vocabulary
    query word into two in-dictionary terms ("hashjoin" → hash + join),
    ranked by the weaker half's corpus frequency (least(cf1, cf2) — a rare
    half makes the whole segmentation implausible), ties by p1 asc.

    The |word|-1 split candidates are a driver constant; each side is one
    isin-pruned lexicon point lookup joined back broadcast — the same
    bounded dictionary-step class as fuzzy_suggest's deletion keys. No
    corpus access at all. Output: (p1, p2, cf_min) top-k."""
    word = word.strip().lower()
    pairs = [(word[:i], word[i:]) for i in range(1, len(word))]
    if not pairs:
        return spark.createDataFrame([], "p1 string, p2 string, cf_min long")
    cand = spark.createDataFrame(pairs, "p1 string, p2 string")
    lex = idx["lexicon"].select("term", "cf")
    l1 = (
        lex.filter(F.col("term").isin([p for p, _ in pairs]))
        .withColumnRenamed("term", "p1")
        .withColumnRenamed("cf", "cf1")
    )
    l2 = (
        lex.filter(F.col("term").isin([s for _, s in pairs]))
        .withColumnRenamed("term", "p2")
        .withColumnRenamed("cf", "cf2")
    )
    return (
        cand.join(F.broadcast(l1), "p1")
        .join(F.broadcast(l2), "p2")
        .select(
            "p1", "p2", F.least("cf1", "cf2").cast("long").alias("cf_min")
        )
        .orderBy(F.desc("cf_min"), F.asc("p1"))
        .limit(k)
    )


def mmr_topk(
    spark: SparkSession,
    idx: dict,
    embeddings: DataFrame,
    query_terms: list[str],
    k: int = 10,
    r: int = 50,
    lam_ppm: int = 700_000,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    SIGIR'98): greedily build the result list so each pick trades relevance
    against redundancy with what's already shown —
    ``argmax_d λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` — the
    embedding-aware diversifier beside the per-host cap of
    :func:`search_diversified`.

    Exact-integer contract: stage 1 is the gated BM25 top-``r`` (bigint
    micros); relevance normalizes to ppm by integer floor division against
    the candidate max; sim is the shared quantize→int64-dot→sqrt→round
    cosine micros; the pick score ``lam_ppm·rel_ppm − (1e6−lam_ppm)·
    max_sim_micros`` is pure int64 (≤7e11), ties to smallest doc_id; the
    first pick has no redundancy term (max over ∅ = 0). The DuckDB oracle
    unrolls the k greedy steps as chained CTEs and replays every integer.

    Scale shape: the corpus is touched only by the stage-1 pruned-postings
    bounded heap; the greedy loop sees ≤ r rows in ONE Arrow group
    (O(r²) sims, r=50 → 2,450 pairs), exactly the bounded-candidate shape
    of :func:`rerank_ce_topk` — per-query cost is constant in corpus size,
    and a multi-query batch parallelizes across groups.

    Output: (rank, doc_id, mmr_score, bm25_micros), k rows."""
    import numpy as np
    import pandas as pd

    from searchengine_spark.operators.similarity import _micros_np, _quantize_np

    cand = bm25_topk(spark, idx, query_terms, k=r).withColumnRenamed(
        "score_micros", "bm25_micros"
    )
    emb = embeddings.select(F.col("vec_id").alias("doc_id"), "embedding")
    feats = cand.join(emb, "doc_id")
    lam, mu, kk = int(lam_ppm), 1_000_000 - int(lam_ppm), int(k)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                {"rank": [], "doc_id": [], "mmr_score": [], "bm25_micros": []}
            ).astype("int64")
        ids = pdf["doc_id"].to_numpy(np.int64)
        bm = pdf["bm25_micros"].to_numpy(np.int64)
        V = _quantize_np(np.stack(pdf["embedding"].to_numpy()))
        rel = (bm * 1_000_000) // int(bm.max())
        dot = V @ V.T  # int64-exact: 64 dims × 1e12/term < 2^63
        nrm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
        sim = _micros_np(1e6 * dot.astype(np.float64) / np.outer(nrm, nrm))
        n = len(ids)
        remaining = np.ones(n, bool)
        sel: list[int] = []
        ranks, out_ids, scores, bms = [], [], [], []
        for rank in range(1, min(kk, n) + 1):
            msim = (
                sim[:, sel].max(axis=1) if sel else np.zeros(n, np.int64)
            )
            score = lam * rel - mu * msim
            m = score[remaining].max()
            tied = np.where((score == m) & remaining)[0]
            pick = int(tied[np.argmin(ids[tied])])
            remaining[pick] = False
            sel.append(pick)
            ranks.append(rank)
            out_ids.append(int(ids[pick]))
            scores.append(int(score[pick]))
            bms.append(int(bm[pick]))
        return pd.DataFrame(
            {"rank": ranks, "doc_id": out_ids, "mmr_score": scores, "bm25_micros": bms}
        ).astype({"rank": "int32", "doc_id": "int64", "mmr_score": "int64", "bm25_micros": "int64"})

    return (
        feats.groupBy(F.lit(0).alias("_g"))
        .applyInPandas(
            lambda _, pdf: greedy(pdf),
            "rank int, doc_id long, mmr_score long, bm25_micros long",
        )
        .orderBy("rank")
    )


def rerank_ce_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    n_candidates: int = 50,
) -> DataFrame:
    """Two-stage retrieve-then-rerank: BM25 recalls ``n_candidates`` from
    the index, then an Arrow-batched scorer re-ranks them — the
    cross-encoder serving shape (retrieve cheap, rerank expensive on a
    bounded candidate set) every neural search stack runs. Output
    (doc_id, ce_micros, bm25_micros), top-k by (ce DESC, doc_id ASC).

    The "model" here is a frozen hashed-weights surrogate so the gate stays
    deterministic and DuckDB-reproducible: per query term t,
    w_t = int(md5(t)[:6], 16) / 16^6 ∈ [0,1), and the pair score is
    Σ_t round(1e6 · w_t · tf_t/(tf_t+1)) + round(5e5 · n_hit/|q|) — term
    saturation features under a fixed random projection, integer-rounded
    per feature BEFORE summation (partition-order independent). A real
    cross-encoder slots in at exactly this point: same bounded candidate
    batches, same Arrow transfer, the numpy expression replaced by a
    forward pass over the same batches.

    Scale shape: stage 1 is the ordinary pruned-postings BM25 top-N (a
    bounded heap); stage 2 touches only N rows per query — the expensive
    scorer NEVER sees the corpus. Candidate features (per-term tf) arrive
    as one small join of the candidate set against the already-pruned
    postings (both sides ≤ N·|q| rows); a GPU-backed scorer would pin its
    batch size via ``spark.sql.execution.arrow.maxRecordsPerBatch`` (the
    candidate set here is already ≤ n_candidates rows per batch). The
    final top-k is a bounded heap over N rows."""
    import hashlib
    import math

    import pandas as pd

    cand = bm25_topk(spark, idx, query_terms, k=n_candidates).withColumnRenamed(
        "score_micros", "bm25_micros"
    )
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame(
            [], "doc_id long, ce_micros long, bm25_micros long"
        )
    post = _pruned_postings(idx, rows).select("term", "doc_id", "tf")
    feats = (
        cand.join(post, "doc_id")
        .groupBy("doc_id", "bm25_micros")
        .agg(
            F.collect_list(F.struct("term", "tf")).alias("hits"),
        )
    )
    uniq = list(dict.fromkeys(query_terms))
    n_q = len(uniq)
    weights = {
        t: int(hashlib.md5(t.encode()).hexdigest()[:6], 16) / float(16**6)
        for t in uniq
    }

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_ids, out_ce, out_bm = [], [], []
            for doc_id, bm, hits in zip(
                pdf["doc_id"], pdf["bm25_micros"], pdf["hits"]
            ):
                ce = 0
                n_hit = 0
                for h in hits:
                    w = weights.get(h["term"])
                    if w is None:
                        continue
                    n_hit += 1
                    tf = float(h["tf"])
                    # round half-away-from-zero (all contributions ≥ 0):
                    # matches Spark F.round / DuckDB round, NOT Python's
                    # banker's round
                    ce += int(math.floor(1e6 * w * (tf / (tf + 1.0)) + 0.5))
                ce += int(math.floor(5e5 * (float(n_hit) / float(n_q)) + 0.5))
                out_ids.append(int(doc_id))
                out_ce.append(ce)
                out_bm.append(int(bm))
            yield pd.DataFrame(
                {"doc_id": out_ids, "ce_micros": out_ce, "bm25_micros": out_bm}
            ).astype("int64")

    scored = feats.mapInPandas(
        score, "doc_id long, ce_micros long, bm25_micros long"
    )
    return scored.orderBy(F.desc("ce_micros"), F.asc("doc_id")).limit(k)


def significant_terms(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 20
) -> DataFrame:
    """Significant-terms aggregation (Elasticsearch ``significant_terms`` /
    JLH): terms overrepresented in the query's HIT SET relative to the whole
    corpus — "what is this result set about?" The text-analytics sibling of
    facet_counts (which histograms metadata; this mines the content itself).

    score = (fg_pct - bg_pct) * (fg_pct / bg_pct)   [JLH]
      fg_pct = fg_df / n_hits   (term's doc freq within the hit set)
      bg_pct = bg_df / n_docs   (term's corpus doc freq, from the lexicon)

    Physical plan (scale shape): the hit set comes from the PRUNED postings
    scan of the query terms (partition pruning, |q| buckets); the foreground
    pass joins the FORWARD index (docvecs, doc_id-bucketed) to the hit set
    on its own partition key — the hit set broadcasts when small, and when
    it doesn't, the doc-keyed side shuffles on the key it is already
    bucketed by (never the term-bucketed postings re-keyed by doc);
    background df is a lexicon point read, never a second corpus scan.
    n_hits is an
    in-plan 1-row broadcast aggregate (no driver collect). Candidates where
    fg_pct <= bg_pct are dropped with an INTEGER cross-multiplication
    predicate (fg_df*n_docs > bg_df*n_hits) so the keep/drop boundary can
    never float-drift between engines; only the reported score is float,
    rounded once to micros. Query terms themselves are excluded (they are
    trivially significant). Top-k is a bounded TakeOrderedAndProject.

    Reference analog: SearchService.java's result pages only histogram
    metadata; this is the §2.8 aggregate family extended to hit-set mining.
    """
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, score_micros long"
        )
    hits = _pruned_postings(idx, rows).select("doc_id").distinct()
    n_docs = int(idx["n_docs"])
    fg = (
        idx["docvecs"]
        .select("term", "doc_id")
        .join(hits, "doc_id")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_df"))
    )
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    lex = idx["lexicon"].select("term", F.col("df").alias("bg_df"))
    uniq = list(dict.fromkeys(query_terms))
    fg_pct = F.col("fg_df").cast("double") / F.col("n_hits").cast("double")
    bg_pct = F.col("bg_df").cast("double") / F.lit(float(n_docs))
    score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    return (
        fg.join(lex, "term")
        .crossJoin(F.broadcast(nh))
        .filter(~F.col("term").isin(uniq))
        .filter(F.col("fg_df") * F.lit(n_docs) > F.col("bg_df") * F.col("n_hits"))
        .select(
            "term",
            "fg_df",
            "bg_df",
            F.round(score * 1e6).cast("long").alias("score_micros"),
        )
        .orderBy(F.desc("score_micros"), F.asc("term"))
        .limit(k)
    )


def term_vectors(
    spark: SparkSession, idx: dict, doc_ids: list[int]
) -> DataFrame:
    """Per-document term vectors from the FORWARD index (Lucene
    ``TermVectors`` / ES ``_termvectors``): (doc_id, term, tf,
    positions_csv) for the requested documents.

    The inverted postings are bucketed by TERM, so a by-doc fetch against
    them would scan every bucket; the gate index therefore also stores
    ``docvecs`` — the same rows re-bucketed by ``pmod(doc_id, N_BUCKETS)``.
    The lookup prunes to the requested docs' bucket directories (partition
    pruning) plus a doc_id predicate pushed to parquet — a true point read,
    independent of corpus size; at 10^12 docs it touches |docs| buckets.
    Positions are the stored raw-split-array offsets (quirk Q4 contract),
    rendered as a sorted CSV string so both engines hash identically.
    """
    from searchengine_spark.operators.postings import N_BUCKETS

    uniq = sorted({int(d) for d in doc_ids})
    buckets = sorted({d % N_BUCKETS for d in uniq})
    dv = idx["docvecs"].filter(
        F.col("dbucket").isin(buckets) & F.col("doc_id").isin(uniq)
    )
    pos_csv = F.array_join(
        F.transform(F.array_sort("positions"), lambda p: p.cast("string")), ","
    )
    return dv.select("doc_id", "term", "tf", pos_csv.alias("positions_csv"))


def corrected_search(
    spark: SparkSession, idx: dict, query: str, k: int = 10
) -> DataFrame:
    """Spell-corrected search: the query-understanding front-end composed
    end-to-end — every query word is replaced by its top fuzzy_suggest
    candidate (Levenshtein<=1, ranked dist asc / corpus freq desc / term
    asc; an in-vocabulary word is its own distance-0 winner, so no special
    case), then BM25 top-k runs over the corrected term set. Words with no
    ED<=1 neighbor in the lexicon drop out, like a term the analyzer
    produced but the index never saw.

    Scale shape: correction is ONE SymSpell deletion-key pass for the whole
    word set (fuzzy_suggest_multi) collected to the driver — ≤|q| rows, the
    same bounded point-lookup contract as _qlex — then the standard pruned
    index serve. No vocabulary scan, no corpus scan.
    """
    words = [w for w in query.lower().split() if w]
    corr = fuzzy_suggest_multi(spark, idx, words, k=1).collect()
    corrected = list(dict.fromkeys(r["term"] for r in corr))
    if not corrected:
        return spark.createDataFrame([], _EMPTY_TOPK)
    return bm25_topk(spark, idx, corrected, k=k)


def phrase_topk(
    spark: SparkSession, idx: dict, phrase_terms: list[str], k: int = 10, gap: int = 0
) -> DataFrame:
    """Ranked phrase query: exact-phrase filter (stored positional postings,
    the :func:`phrase_match` candidate set, exact-gap when ``gap`` > 0) then
    BM25 over the phrase's terms — Lucene's PhraseQuery *scored*, not just
    matched. Both legs are the engine's gated paths; the join keeps scoring
    work at |candidates|, and the top-k heap runs after the filter (the
    limit applies to phrase hits, not to the raw term candidates)."""
    cand = phrase_match(spark, idx, phrase_terms, gap)
    return (
        bm25_scores(spark, idx, phrase_terms)
        .join(cand, "doc_id")
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def hybrid_combmnz_topk(
    spark: SparkSession,
    idx: dict,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    r: int = 50,
) -> DataFrame:
    """CombMNZ score fusion (Fox & Shaw 1994) — the normalized-SCORE member
    of the fusion family beside the rank-based RRF gate: each list's top-r
    scores min-max normalize to [0, 1e6] integers, and
    ``fused = n_lists_hit · Σ norm`` rewards docs found by both retrievers.

    Same bounded shape as hybrid_rrf_topk: both inputs are the engine's own
    gated rankings cut to r rows before fusion; min/max are 1-row broadcast
    aggregates over those r rows; the only float op is the one rounded
    normalization division over exact integer differences."""
    from pyspark.sql import Window

    from searchengine_spark.operators.similarity import ann_bruteforce_topk

    order = [F.desc("score_micros"), F.asc("doc_id")]
    lex = bm25_scores(spark, idx, query_terms).orderBy(*order).limit(r)
    vec = ann_bruteforce_topk(embeddings, k=r, query_ids=[query_vec_id]).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("cosine_micros").alias("score_micros"),
    )

    def norm(df: DataFrame, out: str) -> DataFrame:
        mm = df.agg(
            F.min("score_micros").alias("mn"), F.max("score_micros").alias("mx")
        )
        nrm = F.when(F.col("mx") == F.col("mn"), F.lit(1_000_000).cast("long")).otherwise(
            F.round(
                F.lit(1e6)
                * (F.col("score_micros") - F.col("mn")).cast("double")
                / (F.col("mx") - F.col("mn")).cast("double")
            ).cast("long")
        )
        return df.crossJoin(F.broadcast(mm)).select("doc_id", nrm.alias(out))

    lexn, vecn = norm(lex, "lnorm"), norm(vec, "vnorm")
    ids = lexn.select("doc_id").union(vecn.select("doc_id")).distinct()
    nz = (
        F.col("lnorm").isNotNull().cast("long")
        + F.col("vnorm").isNotNull().cast("long")
    )
    fused = (
        ids.join(F.broadcast(lexn), "doc_id", "left")
        .join(F.broadcast(vecn), "doc_id", "left")
        .select(
            "doc_id",
            (nz * (F.coalesce(F.col("lnorm"), F.lit(0)) + F.coalesce(F.col("vnorm"), F.lit(0)))).alias(
                "combmnz_micros"
            ),
        )
        .orderBy(F.desc("combmnz_micros"), F.asc("doc_id"))
        .limit(k)
    )
    w_final = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.desc("combmnz_micros"), F.asc("doc_id")
    )
    return fused.select(
        F.row_number().over(w_final).cast("int").alias("rank"),
        "doc_id",
        "combmnz_micros",
    )


def cluster_results(
    spark: SparkSession,
    idx: dict,
    embeddings: DataFrame,
    query_terms: list[str],
    r: int = 50,
    n_clusters: int = 3,
    iterations: int = 2,
) -> DataFrame:
    """Search-result clustering (the Carrot2 / SERP-"topics" family): the
    BM25 top-r candidate set grouped by nearest corpus-trained k-means
    centroid — (doc_id, cluster_id, cosine_micros). Users see the result
    page folded into topic groups instead of a flat list.

    Composition of gated paths only: the candidate list is the index-served
    BM25 top-r; the topic model is kmeans_centroids (deterministic Lloyd's,
    a k×dim driver constant); assignment is the same broadcast-join +
    bounded per-vector window as the trained-IVF gate. At scale the
    candidate set is r rows per query — clustering work is r·k cosines,
    independent of corpus size."""
    from pyspark.sql import Window

    from searchengine_spark.operators.similarity import (
        _quantized,
        cosine_micros_qq,
        kmeans_centroids,
    )

    order = [F.desc("score_micros"), F.asc("doc_id")]
    cand = bm25_scores(spark, idx, query_terms).orderBy(*order).limit(r).select("doc_id")
    vecs = embeddings.join(
        F.broadcast(cand), embeddings["vec_id"] == cand["doc_id"]
    ).select("doc_id", "embedding")

    crows = kmeans_centroids(embeddings, k=n_clusters, iterations=iterations).collect()
    bycid: dict[int, dict[int, int]] = {}
    for row in crows:
        bycid.setdefault(row["cid"], {})[row["i"]] = row["val"]
    cents = spark.createDataFrame(
        [
            (cid, [vals[i] for i in range(len(vals))])
            for cid, vals in sorted(bycid.items())
        ],
        "cid int, _cent array<bigint>",
    )
    cm = vecs.join(F.broadcast(cents)).select(
        "doc_id",
        "cid",
        cosine_micros_qq(_quantized(F.col("embedding")), F.col("_cent")).alias(
            "cosine_micros"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cosine_micros"), F.asc("cid"))
    return (
        cm.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("cid").alias("cluster_id"), "cosine_micros")
    )


def front_coded_dictionary(
    spark: SparkSession, idx: dict, block: int = 16, n_buckets: int = 16
) -> DataFrame:
    """Front-coded term dictionary (the Lucene/classic-IR prefix-compressed
    lexicon layout): within each block of ``block`` sorted terms, the leader
    is stored whole and every following term stores only
    (prefix_len, suffix) relative to its predecessor — sorted dictionaries
    share long prefixes, so this typically removes 30-60% of dictionary
    bytes. Output: (bucket, blk, slot, term, prefix_len, suffix, df); a
    reader reconstructs term_i = term_{i-1}[:prefix_len] + suffix.

    Scale shape: coding is per-bucket (engine-portable md5 bucket — the
    serving lexicon's Spark-hash bucket is not recomputable in SQL), so the
    sort window is partitioned by bucket (|V|/n_buckets terms each), never a
    global single-partition sort; common-prefix length is an in-row
    expression (monotone prefix-match count), no extra shuffle beyond the
    one per-bucket sort."""
    from pyspark.sql import Window

    lex = idx["lexicon"].select("term", "df")
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 2), 16, 10).cast("int")
        % n_buckets
    )
    w = Window.partitionBy("bucket").orderBy("term")
    t = (
        lex.withColumn("bucket", bucket)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("prev", F.lag("term").over(w))
        .withColumn("blk", F.expr(f"(rn - 1) div {int(block)}"))
        .withColumn("slot", ((F.col("rn") - 1) % block).cast("int"))
    )
    cpl = F.when(F.col("slot") == 0, F.lit(0)).otherwise(
        F.expr(
            "size(filter(sequence(1, least(length(term), length(prev))), "
            "i -> substring(term, 1, i) = substring(prev, 1, i)))"
        )
    )
    t = t.withColumn("prefix_len", cpl.cast("int"))
    return t.select(
        "bucket",
        "blk",
        "slot",
        "term",
        "prefix_len",
        F.expr("substring(term, prefix_len + 1)").alias("suffix"),
        "df",
    )


def bm25_impact_topk(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 10
) -> DataFrame:
    """Quantized-impact serving (the Anserini/impact-index tier, the shape
    learned-sparse models like SPLADE serve through): every posting's BM25
    contribution was frozen AT INDEX TIME to an 8-bit level of the global
    max contribution (the gate index's ``impacts/`` + the ``max_contrib``
    manifest scalar), so query-time scoring is a pure integer sum — no
    doc-length join, no idf lookup, no float op anywhere in the plan.

    The price is score resolution (ties are common at 8 bits; doc_id breaks
    them deterministically) — the classic efficiency/fidelity trade this
    tier makes. Plan: bucket-pruned impacts scan → one hash aggregate →
    bounded top-k heap."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], "doc_id long, impact_score long")
    buckets = sorted({int(r["bucket"]) for r in rows})
    terms = [r["term"] for r in rows]
    imp = idx["impacts"].filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    )
    return (
        imp.groupBy("doc_id")
        .agg(F.sum("impact").cast("long").alias("impact_score"))
        .orderBy(F.desc("impact_score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_boosted_topk(
    spark: SparkSession, idx: dict, boosts: dict[str, float], k: int = 10
) -> DataFrame:
    """Per-term query boosting (Lucene ``term^boost`` / ES query weights):
    BM25 with each term's contribution scaled by its query-side boost —
    contribution tree unchanged, one extra multiply before the micros
    rounding. Same pruned-index plan as bm25_topk; the boost map rides in
    the |q|-row broadcast lexicon frame."""
    terms = list(boosts.keys())
    rows = _qlex(spark, idx, terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    lex = spark.createDataFrame(
        [
            (r["term"], r["df"], r["idf_bm25"], float(boosts[r["term"]]))
            for r in rows
        ],
        "term string, df long, idf_bm25 double, boost double",
    )
    contrib = F.col("boost") * _bm25_contrib(idx["avgdl"])
    return (
        post.join(F.broadcast(lex), "term")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def nrt_two_tier_topk(
    spark: SparkSession,
    idx: dict,
    delta_docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Near-real-time two-tier serving (the Lucene NRT-reader / fresh-
    segment design): queries answered from the SEALED index UNION a small
    not-yet-indexed delta batch, with corpus statistics merged at query
    time — documents become searchable without an index rebuild, and the
    ranking is EXACTLY what a full rebuild over (corpus ∪ delta) would
    produce (the driver gate hashes it against that rebuild's oracle).

    Statistics merge (the part naive two-tier serving gets wrong):
      df'_t  = sealed df_t + delta df_t       (term-level, |q| rows)
      N'     = sealed n_docs + |delta|
      avgdl' = (sealed Σdl + delta Σdl) / N'
    idf recomputes from the merged counts with the same Spark ln-expression
    the sealed lexicon used, so both tiers score on one consistent model.

    Scale shape: the sealed side stays the pruned postings scan; the delta
    side tokenizes only the delta batch (the "in-memory segment" — bounded
    by the refresh interval, not the corpus); the stats merge costs two
    bounded aggregates (|q| rows + 1 row). No sealed-index rewrite."""
    from searchengine_spark.functions.tokenize import doc_len, exploded_tokens
    from searchengine_spark.operators.ir import idf_bm25_expr

    uniq = list(dict.fromkeys(query_terms))
    rows = _qlex(spark, idx, uniq)
    sealed_df = {r["term"]: int(r["df"]) for r in rows}

    ddls = delta_docs.select("doc_id", doc_len(F.col("text")).alias("dl"))
    dstats = ddls.agg(
        F.count(F.lit(1)).alias("c"), F.sum("dl").alias("s")
    ).collect()[0]
    n_delta, sum_dl_delta = int(dstats["c"]), int(dstats["s"] or 0)
    dpost = (
        exploded_tokens(delta_docs)
        .filter(F.col("term").isin(uniq))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(ddls, "doc_id")
    )
    delta_df = {
        r["term"]: int(r["n"])
        for r in dpost.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    n_merged = int(idx["n_docs"]) + n_delta
    avgdl = (
        float(int(idx["sum_dl"]) + sum_dl_delta) / float(n_merged)
        if n_merged
        else 1.0
    )
    terms_present = sorted(set(sealed_df) | set(delta_df))
    if not terms_present:
        return spark.createDataFrame([], _EMPTY_TOPK)
    merged_lex = spark.createDataFrame(
        [(t, sealed_df.get(t, 0) + delta_df.get(t, 0)) for t in terms_present],
        "term string, df long",
    ).select("term", idf_bm25_expr(n_merged).alias("idf_bm25"))

    sealed_rows = [r for r in rows]  # postings pruned by the sealed lexicon
    sealed_post = (
        _pruned_postings(idx, sealed_rows).select("term", "doc_id", "tf", "dl")
        if sealed_rows
        else None
    )
    union = dpost.select("term", "doc_id", "tf", "dl")
    if sealed_post is not None:
        union = sealed_post.unionByName(union)
    contrib = _bm25_contrib(avgdl)
    return (
        union.join(F.broadcast(merged_lex), "term")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def common_terms_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    cutoff_ppm: int = 500_000,
) -> DataFrame:
    """Common-terms query (ES ``cutoff_frequency`` / Lucene
    CommonTermsQuery): rare query terms drive candidate generation, while
    stopword-frequency terms (df > cutoff fraction of the corpus) only
    CONTRIBUTE to scores inside that candidate set — a stopword in the
    query stops costing a corpus-sized posting traversal for ranking
    membership. The classic query-time defense against stopword-laden
    queries, complementary to index-side static pruning.

    Rare/common split is an INTEGER cross-multiplication over the |q|-row
    lexicon lookup (df·1e6 <= cutoff_ppm·N — no float boundary). Candidates
    come from the rare terms' pruned postings only; the common terms'
    postings are doc_id-semi-joined down to the candidate set before
    scoring. All-common queries degenerate to plain bm25_topk."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    n_docs = int(idx["n_docs"])
    required = [
        r for r in rows if int(r["df"]) * 1_000_000 <= cutoff_ppm * n_docs
    ]
    if not required:
        return bm25_topk(spark, idx, query_terms, k=k)
    cand = _pruned_postings(idx, required).select("doc_id").distinct()
    post = _pruned_postings(idx, rows).join(cand, "doc_id")
    contrib = _bm25_contrib(idx["avgdl"])
    return (
        post.join(F.broadcast(_lex_df(spark, rows)), "term")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def rbo_rankings(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 10
) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010) between two of the engine's
    own rankers (BM25 vs Dirichlet QLD) on the same query — the top-weighted
    ranking-similarity metric used to compare retrieval systems when no
    qrels exist (the complement of rank_metrics, which needs judgments).

    Truncated RBO@k with persistence p = 9/10, computed EXACTLY in integer
    arithmetic: p^(d-1) = 9^(d-1)/10^(d-1), so each depth's contribution is
    (1e9 · 9^(d-1) · X_d) div (10^d · d) nanos with X_d = |A_{1..d} ∩
    B_{1..d}| — no libm pow anywhere, hence no cross-engine ulp drift.
    Output: one row (pair, rbo_nanos, overlap_at_k).

    Scale shape: both inputs are bounded k-row rankings; everything after
    them is driver-scale (k² comparisons)."""
    from pyspark.sql import Window

    one = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.desc("score_micros"), F.asc("doc_id")
    )
    a = bm25_topk(spark, idx, query_terms, k=k).select(
        "doc_id", F.row_number().over(one).alias("ar")
    )
    b = qld_topk(spark, idx, query_terms, k=k).select(
        "doc_id", F.row_number().over(one).alias("br")
    )
    pairs = a.join(b, "doc_id").select("ar", "br")
    depths = spark.createDataFrame(
        [(d, 9 ** (d - 1), 10**d) for d in range(1, k + 1)],
        "d int, p9 long, p10 long",
    )
    xd = (
        depths.join(
            pairs, (pairs["ar"] <= depths["d"]) & (pairs["br"] <= depths["d"]), "left"
        )
        .groupBy("d", "p9", "p10")
        .agg(F.count("ar").alias("xd"))
    )
    contrib = F.expr("(1000000000 * p9 * xd) div (p10 * d)")
    return xd.select(
        F.lit("bm25_vs_qld").alias("pair"),
        contrib.alias("c"),
        F.when(F.col("d") == k, F.col("xd")).otherwise(F.lit(0)).alias("ov"),
    ).groupBy("pair").agg(
        F.sum("c").cast("long").alias("rbo_nanos"),
        F.sum("ov").cast("long").alias("overlap_at_k"),
    )


def index_stats(spark: SparkSession, idx: dict) -> DataFrame:
    """The index-statistics endpoint (Lucene CheckIndex summary / ES
    ``_stats`` shape): one row of corpus-level invariants — doc count,
    vocabulary size, posting count, total token mass, hottest-term df.
    Everything is a map-side-combinable aggregate over lexicon-sized data;
    nothing touches postings row-by-row (n_postings == Σ df because
    postings are unique per (term, doc))."""
    lex = idx["lexicon"]
    return (
        lex.agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum("cf").cast("long").alias("n_tokens"),
            F.max("df").cast("long").alias("max_df"),
        )
        .withColumn("n_docs", F.lit(int(idx["n_docs"])).cast("long"))
        .withColumn("sum_dl", F.lit(int(idx["sum_dl"])).cast("long"))
        .select("n_docs", "n_terms", "n_postings", "n_tokens", "max_df", "sum_dl")
    )


def bm25_topk_tombstoned(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    tombstoned_mod: int = 7,
    k: int = 10,
) -> DataFrame:
    """Deletion-aware serving with TOMBSTONES (the Lucene liveDocs
    behavior): deleted documents disappear from results immediately, but
    collection statistics (df, N, avgdl) stay STALE until the next
    compaction folds the deletes in — scoring uses the sealed index's
    numbers, the tombstone set only filters candidates. This is the
    documented, deliberate semantics of every segment-based engine (fixing
    the stats per-delete would mean rewriting the index on every delete).

    The tombstone set here is doc_id % tombstoned_mod == 0 (synthesized
    in-query, the oracle replicates it); at scale it is the broadcast
    side of a LEFT ANTI join — deletes are rare relative to the corpus.
    Composes with compaction_plan: the merge that policy schedules is
    exactly where tombstones and stats reconcile."""
    scores = bm25_scores(spark, idx, query_terms)
    live = scores.filter(F.pmod(F.col("doc_id"), F.lit(tombstoned_mod)) != 0)
    return live.orderBy(F.desc("score_micros"), F.asc("doc_id")).limit(k)


def bm25plus_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    delta: float = 1.0,
) -> DataFrame:
    """BM25+ (Lv & Zhai CIKM 2011): the lower-bounded tf normalization —
    every matched term contributes at least ``idf·δ``, fixing plain BM25's
    over-penalization of very long documents (where tf/(tf+k1·norm) → 0 and
    a long doc containing the term can score below a short doc not
    containing it at all). Same pruned-index plan as bm25_topk; the only
    change is ``+ δ`` inside the shared contribution tree before the idf
    multiply."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame([], _EMPTY_TOPK)
    post = _pruned_postings(idx, rows)
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    contrib = F.col("idf_bm25") * (
        (tf * (BM25_K1 + 1.0))
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.lit(idx["avgdl"])))
        + F.lit(float(delta))
    )
    return (
        post.join(F.broadcast(_lex_df(spark, rows)), "term")
        .select("doc_id", F.round(contrib * 1e6).cast("long").alias("c_micros"))
        .groupBy("doc_id")
        .agg(F.sum("c_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )


def borda_fusion_topk(
    spark: SparkSession,
    idx: dict,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    r: int = 50,
) -> DataFrame:
    """Borda-count fusion — the positional-voting member of the fusion
    family beside RRF (reciprocal) and CombMNZ (normalized score): each
    list awards a doc ``r - rank + 1`` points, absent docs award 0, fused
    score is the pure-integer point sum. Same bounded two-list shape as the
    other fusion gates; ties by doc_id."""
    from pyspark.sql import Window

    from searchengine_spark.operators.similarity import ann_bruteforce_topk

    order = [F.desc("score_micros"), F.asc("doc_id")]
    one = Window.partitionBy(F.col("doc_id") % 1).orderBy(*order)
    lex = (
        bm25_scores(spark, idx, query_terms)
        .orderBy(*order)
        .limit(r)
        .select("doc_id", (F.lit(r) - F.row_number().over(one) + 1).alias("lpts"))
    )
    vec = ann_bruteforce_topk(embeddings, k=r, query_ids=[query_vec_id]).select(
        F.col("neighbor_id").alias("doc_id"),
        (F.lit(r) - F.col("rank") + 1).cast("long").alias("vpts"),
    )
    ids = lex.select("doc_id").union(vec.select("doc_id")).distinct()
    fused = (
        ids.join(F.broadcast(lex), "doc_id", "left")
        .join(F.broadcast(vec), "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("lpts"), F.lit(0)) + F.coalesce(F.col("vpts"), F.lit(0)))
            .cast("long")
            .alias("borda_points"),
        )
        .orderBy(F.desc("borda_points"), F.asc("doc_id"))
        .limit(k)
    )
    w_final = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.desc("borda_points"), F.asc("doc_id")
    )
    return fused.select(
        F.row_number().over(w_final).cast("int").alias("rank"),
        "doc_id",
        "borda_points",
    )


def _ltr_candidate_features(
    spark: SparkSession, idx: dict, query_terms: list[str], r: int
):
    """ONE definition of the LTR candidate feature table shared by the
    trainer and the model server (so a feature change can never apply to
    training and silently miss serving): BM25 top-r candidates with
    integer-micros features x1 = minmax score, x2 = coordination ppm,
    x3 = minmax doc length, and the deterministic conjunctive label y.
    Returns a localCheckpointed r-row frame (doc_id, x1, x2, x3, y), or
    None when no query term exists."""
    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return None
    # distinct terms IN THE QUERY LITERAL (not just lexicon hits) — the
    # oracle twins (oracles.py ltr_*) define n_q the same way, so an
    # out-of-vocabulary query term lowers x2/y identically on both sides
    n_q = len(dict.fromkeys(query_terms))
    order = [F.desc("score_micros"), F.asc("doc_id")]
    cand = bm25_scores(spark, idx, query_terms).orderBy(*order).limit(r)
    matched = (
        _pruned_postings(idx, rows)
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nm"), F.max("dl").alias("dl"))
    )
    base = cand.join(matched, "doc_id")
    mm = base.agg(
        F.max("score_micros").alias("smax"), F.max("dl").alias("dlmax")
    )
    x1 = F.round(
        F.lit(1e6) * F.col("score_micros").cast("double") / F.col("smax").cast("double")
    ).cast("long")
    x3 = F.round(
        F.lit(1e6) * F.col("dl").cast("double") / F.col("dlmax").cast("double")
    ).cast("long")
    return (
        base.crossJoin(F.broadcast(mm))
        .select(
            "doc_id",
            x1.alias("x1"),
            F.expr(f"(nm * 1000000) div {n_q}").alias("x2"),
            x3.alias("x3"),
            F.when(F.col("nm") == n_q, F.lit(1)).otherwise(F.lit(0)).alias("y"),
        )
        .localCheckpoint()  # tiny (r rows); freeze so iterations share it
    )


def ltr_rerank_topk(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    k: int = 10,
    r: int = 50,
    iterations: int = 3,
    lr_den: int = 4000,
) -> DataFrame:
    """Serve with the model ltr_train_logistic just trained — the
    train-then-rank loop closed inside the engine. The sigmoid is monotone,
    so ranking by the raw integer logit z = w·x needs NO float at serve
    time: z is an exact int64 (micros·micros scale), reported as
    z div 1e6 micros. Output: (rank, doc_id, ltr_score_micros)."""
    from pyspark.sql import Window

    wts = {
        row["j"]: int(row["weight_micros"])
        for row in ltr_train_logistic(
            spark, idx, query_terms, r=r, iterations=iterations, lr_den=lr_den
        ).collect()
    }
    feats = _ltr_candidate_features(spark, idx, query_terms, r)
    if not wts or feats is None:
        return spark.createDataFrame(
            [], "rank int, doc_id long, ltr_score_micros long"
        )
    z = (
        F.lit(wts[0]).cast("long") * F.lit(1_000_000).cast("long")
        + F.lit(wts[1]).cast("long") * F.col("x1")
        + F.lit(wts[2]).cast("long") * F.col("x2")
        + F.lit(wts[3]).cast("long") * F.col("x3")
    )
    scored = (
        feats.select("doc_id", z.alias("_z"))
        .select("doc_id", F.expr("_z div 1000000").alias("ltr_score_micros"))
        .orderBy(F.desc("ltr_score_micros"), F.asc("doc_id"))
        .limit(k)
    )
    w_final = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.desc("ltr_score_micros"), F.asc("doc_id")
    )
    return scored.select(
        F.row_number().over(w_final).cast("int").alias("rank"),
        "doc_id",
        "ltr_score_micros",
    )


def ltr_train_logistic(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    r: int = 50,
    iterations: int = 3,
    lr_den: int = 4000,
) -> DataFrame:
    """Learning-to-rank model TRAINING inside the engine: pointwise
    logistic regression over the BM25 top-r candidates' ranking features —
    the training step that consumes what ``ltr_features`` exports. Labels
    are deterministic conjunctive relevance (doc matches ALL query terms);
    features are integer-micros normalized (bias, minmax BM25 score,
    coordination ppm, minmax doc length).

    Determinism contract (the k-means/HITS pattern applied to gradient
    descent): weights live in integer MICROS; each row's per-feature
    gradient contribution is rounded to integer nanos BEFORE the sum, so
    the gradient is an exact associative integer total on any engine and
    any partition count; the update w -= trunc(grad_nanos / (n·lr_den)) is
    exact truncate-toward-zero division in both engines (DuckDB's ``//``
    truncates; Python's floors, so the driver matches DuckDB explicitly).
    The only floats are each row's fixed
    4-term dot product and one sigmoid — identical expression trees in
    Spark and the unrolled DuckDB oracle.

    Scale shape: one candidate generation (bounded r per query), then per
    iteration ONE map-side-combinable 4-column aggregate over the feature
    table — full-batch GD over 10^9 candidate rows is iterations × one
    aggregate scan, no driver-side data beyond the 4 weight integers.

    Output: (j, weight_micros) for j = 0(bias), 1(score), 2(coord), 3(dl).
    """
    feats = _ltr_candidate_features(spark, idx, query_terms, r)
    if feats is None:
        return spark.createDataFrame([], "j int, weight_micros long")
    n = feats.count()
    w = [0, 0, 0, 0]
    xs = [F.lit(1_000_000).cast("long"), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(iterations):
        z_int = (
            F.lit(w[0]).cast("long") * F.lit(1_000_000).cast("long")
            + F.lit(w[1]).cast("long") * F.col("x1")
            + F.lit(w[2]).cast("long") * F.col("x2")
            + F.lit(w[3]).cast("long") * F.col("x3")
        )
        sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-(z_int.cast("double") / F.lit(1e12))))
        aggs = [
            F.sum(
                F.round((sig - F.col("y").cast("double")) * xj.cast("double") * F.lit(1000.0)).cast(
                    "long"
                )
            ).alias(f"g{j}")
            for j, xj in enumerate(xs)
        ]
        g = feats.agg(*aggs).collect()[0]

        def _tdiv(a: int, b: int) -> int:  # truncate toward zero = DuckDB //
            q = abs(a) // b
            return -q if a < 0 else q

        w = [w[j] - _tdiv(int(g[f"g{j}"]), n * lr_den) for j in range(4)]
    return spark.createDataFrame(
        [(j, int(w[j])) for j in range(4)], "j int, weight_micros long"
    )


def ltr_train_pairwise(
    spark: SparkSession,
    idx: dict,
    query_terms: list[str],
    r: int = 50,
    iterations: int = 3,
    lr_den: int = 4000,
) -> DataFrame:
    """Pairwise learning-to-rank training (the RankNet objective with a
    linear scorer): minimize −log σ(s(pos) − s(neg)) over all
    (positive, negative) candidate pairs — the ranking-native loss beside
    the pointwise trainer, sharing its feature table, integer-exactness
    contract (per-pair gradient contributions rounded to nanos before the
    associative sum; truncating-division updates) and its unrolled-GD
    DuckDB twin. The bias feature cancels in every pair difference, so its
    weight provably stays 0 — the pairwise objective is translation-
    invariant, which the gate exhibits rather than hides.

    Scale shape: the pair table is |pos|·|neg| ≤ r² rows PER QUERY (never
    corpus-scale — candidates were already cut to r); each iteration is one
    map-side-combinable aggregate over it."""
    feats = _ltr_candidate_features(spark, idx, query_terms, r)
    if feats is None:
        return spark.createDataFrame([], "j int, weight_micros long")
    pos = feats.filter(F.col("y") == 1).select(
        F.col("x1").alias("px1"), F.col("x2").alias("px2"), F.col("x3").alias("px3")
    )
    neg = feats.filter(F.col("y") == 0).select(
        F.col("x1").alias("nx1"), F.col("x2").alias("nx2"), F.col("x3").alias("nx3")
    )
    pairs = (
        pos.crossJoin(neg)
        .select(
            (F.col("px1") - F.col("nx1")).alias("d1"),
            (F.col("px2") - F.col("nx2")).alias("d2"),
            (F.col("px3") - F.col("nx3")).alias("d3"),
        )
        .localCheckpoint()
    )
    n_pairs = pairs.count()
    if n_pairs == 0:
        return spark.createDataFrame(
            [(j, 0) for j in range(4)], "j int, weight_micros long"
        )
    w = [0, 0, 0, 0]

    def _tdiv(a: int, b: int) -> int:  # truncate toward zero = DuckDB //
        q = abs(a) // b
        return -q if a < 0 else q

    for _ in range(iterations):
        zd_int = (
            F.lit(w[1]).cast("long") * F.col("d1")
            + F.lit(w[2]).cast("long") * F.col("d2")
            + F.lit(w[3]).cast("long") * F.col("d3")
        )
        sig = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(zd_int.cast("double") / F.lit(1e12)))
        )
        aggs = [
            F.sum(
                F.round(
                    (sig - F.lit(1.0)) * F.col(f"d{j}").cast("double") * F.lit(1000.0)
                ).cast("long")
            ).alias(f"g{j}")
            for j in (1, 2, 3)
        ]
        g = pairs.agg(*aggs).collect()[0]
        for j in (1, 2, 3):
            w[j] = w[j] - _tdiv(int(g[f"g{j}"]), n_pairs * lr_den)
    return spark.createDataFrame(
        [(j, int(w[j])) for j in range(4)], "j int, weight_micros long"
    )


def highlight_fragments(
    spark: SparkSession,
    idx: dict,
    documents: DataFrame,
    query_terms: list[str],
    k: int = 10,
    frag_window: int = 4,
    max_frags: int = 3,
) -> DataFrame:
    """Multi-fragment highlighting (the Lucene UnifiedHighlighter shape,
    generalizing search_results' single snippet): for each BM25 top-k
    winner, up to ``max_frags`` token windows around query-term matches,
    overlapping windows merged gaps-and-islands style, fragments ranked by
    match count (ties: earliest first).

    Plan: the winners come from the gated bm25_topk; their match positions
    come from the PRUNED postings' stored position lists (no corpus
    re-scan); islands build with per-doc windows (bounded by matches per
    doc); only the ≤ k winning docs' raw text is fetched, and the fragment
    text is an array slice of the raw split array — positions index that
    array (quirk Q4 contract), so the slice is exact in both engines.

    Output: (doc_id, frag_seq, start_pos, end_pos, n_matches, fragment).
    """
    from pyspark.sql import Window

    rows = _qlex(spark, idx, query_terms)
    if not rows:
        return spark.createDataFrame(
            [],
            "doc_id long, frag_seq int, start_pos long, end_pos long, "
            "n_matches long, fragment string",
        )
    winners = bm25_topk(spark, idx, query_terms, k=k).select("doc_id")
    hits = (
        _pruned_postings(idx, rows)
        .join(F.broadcast(winners), "doc_id")
        .select("doc_id", F.explode("positions").alias("pos"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos", 1, -(10**9)).over(w_doc)
    islands = hits.withColumn(
        "new_island", (gap > 2 * frag_window).cast("int")
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w_doc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    frags = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("mn"),
        F.max("pos").alias("mx"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.desc("n_matches"), F.asc("mn")
    )
    top = (
        frags.withColumn("frag_seq", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("frag_seq") <= max_frags)
        .select(
            "doc_id",
            "frag_seq",
            F.greatest(F.col("mn") - frag_window, F.lit(0)).alias("start_pos"),
            (F.col("mx") + frag_window).alias("end_pos"),
            "n_matches",
        )
    )
    from searchengine_spark.functions.tokenize import tokens_array

    toks = documents.join(F.broadcast(winners), "doc_id").select(
        "doc_id", tokens_array(F.col("text")).alias("_t")
    )
    # clamp end to the array, slice 1-based, join with single spaces
    frag = F.array_join(
        F.slice(
            F.col("_t"),
            (F.col("start_pos") + 1).cast("int"),
            (
                F.least(F.col("end_pos"), F.size("_t") - 1)
                - F.col("start_pos")
                + 1
            ).cast("int"),
        ),
        " ",
    )
    return top.join(toks, "doc_id").select(
        "doc_id",
        "frag_seq",
        "start_pos",
        F.least(F.col("end_pos"), (F.size("_t") - 1).cast("long")).alias("end_pos"),
        "n_matches",
        frag.alias("fragment"),
    )
