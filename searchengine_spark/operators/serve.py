"""Index-served retrieval: every gated query answered from the prebuilt
gate index (plans/gate_index.py: one ``build_index`` run over the
documents table) instead of re-tokenizing the corpus.

This is the engine's actual physical query path, mirroring the reference's
index-served lookups (SearchService.java:464-477 — per-term fetches against
the prebuilt ``Terms`` collection, then one TF-IDF sum). Every lexical
ranker that sums per-posting contributions, REST's included, scores through
ONE core, :func:`_scored` (the few that cannot say why in their docstrings):

- ONE tiny driver job per query collects the |q| lexicon rows (term, df,
  cf, idf, bucket) — the point-lookup step (:func:`_qlex`);
- the postings scan is pruned to the query terms' bucket directories
  (partition pruning) plus a term predicate pushed to parquet; a ranker
  may narrow it further (candidate sets, a position window, passages);
- the |q| rows' statistics ride into the scan as literal term -> value
  maps (:func:`_lex_stats`) — no join on lexicon rows, no corpus scan, no
  driver-side avgdl job (avgdl is a manifest scalar);
- each posting's contribution, a ranker-supplied Column, is rounded to
  bigint micros and summed per doc; :func:`_topk` is the one bounded tail.

Scores are bigint micros (round(score*1e6)) summed in integer space — exact,
associative, bit-identical across partition counts and engines (the same
contract the round-1 gates established).
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.codec import BM25_B, BM25_K1
from searchengine_spark.operators.literals import literal_map, local_frame

_EMPTY_TOPK = "doc_id long, score_micros long"
# the lexicon statistics _scored can attach, with their SQL types
_LEX_STATS = {"df": "bigint", "cf": "bigint", "idf_bm25": "double", "idf_compat": "double"}


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


def _lex_stats(rows: list, names: tuple[str, ...]) -> dict[str, Column]:
    """The lexicon rows' statistics ``names`` as columns of a scan's
    ``term``: one literal term -> value map per statistic, looked up in the
    plan instead of a join. Typed, so an empty ``rows`` still resolves."""
    return {
        c: literal_map({r["term"]: r[c] for r in rows}, f"map<string,{_LEX_STATS[c]}>")[
            F.col("term")
        ]
        for c in names
    }


def _scored(
    spark: SparkSession,
    idx: dict,
    terms: list[str],
    contrib: Column,
    *aggs: Column,
    stats: tuple[str, ...] = ("idf_bm25",),
    rows: list | None = None,
    narrow: Callable[[DataFrame], DataFrame] | None = None,
    by: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """The scoring core every lexical ranker goes through: lexicon point
    lookup (:func:`_qlex`, skipped when the caller passes the ``rows`` it
    already holds) → bucket/term-pruned postings scan, which ``narrow``
    may cut further → the lexicon ``stats`` the ranker reads, attached from
    literal maps (:func:`_lex_stats`) → ``sum(round(contrib * 1e6))`` per
    ``by`` group as ``score_micros``, beside the caller's ``aggs``.

    ``contrib`` is the ranker's per-posting expression over the scan's
    columns (tf, dl, positions) and ``stats`` (any of df, cf, idf_bm25,
    idf_compat). A query with no lexicon term yields an empty frame of the
    same shape. :func:`_topk` is the bounded tail."""
    if rows is None:
        rows = _qlex(spark, idx, terms)
    post = _pruned_postings(idx, rows)
    if narrow is not None:
        post = narrow(post)
    return (
        post.withColumns(_lex_stats(rows, stats))
        .groupBy(*by)
        .agg(F.sum(F.round(contrib * 1e6).cast("long")).alias("score_micros"), *aggs)
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The bounded top-k tail (TakeOrderedAndProject): score_micros desc,
    doc_id asc."""
    return scored.orderBy(F.desc("score_micros"), F.asc("doc_id")).limit(k)


def _positions(terms: list[str]) -> tuple[list[Column], dict[str, Column]]:
    """Per-doc positions aggregates of ``terms``: ``max(when(term == t,
    positions))`` per distinct term (postings are unique per (term, doc),
    so each max sees one non-null array; it is null when the doc lacks t),
    and the term -> positions column map that :func:`_phrase_at` reads."""
    distinct = list(dict.fromkeys(terms))
    return (
        [
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"_pos{i}")
            for i, t in enumerate(distinct)
        ],
        {t: F.col(f"_pos{i}") for i, t in enumerate(distinct)},
    )


def _doc_positions(
    post: DataFrame, terms: list[str], *aggs: Column
) -> tuple[DataFrame, dict[str, Column]]:
    """The per-doc positions of ``terms``: ONE ``groupBy(doc_id)`` over a
    term-pruned postings scan with the :func:`_positions` aggregates next
    to the caller's ``aggs`` — no explode, no self-join."""
    pos_aggs, pos = _positions(terms)
    return post.groupBy("doc_id").agg(*aggs, *pos_aggs), pos


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
    by every BM25 path: the float op ORDER is load-bearing (micros parity
    with the DuckDB oracle and batch==single equality), so it must never
    exist in two copies."""
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    return F.col("idf_bm25") * (tf * (BM25_K1 + 1.0)) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.lit(avgdl))
    )


def bm25_scores(
    spark: SparkSession, idx: dict, query_terms: list[str]
) -> DataFrame:
    """Un-limited BM25 candidate scores served from the index:
    (doc_id, score_micros) for every doc matching ≥1 query term — the
    :func:`_scored` core with the BM25 contribution. ``bm25_topk`` adds the
    bounded top-k; callers that filter candidates first (e.g.
    :func:`phrase_topk`) consume this directly so the limit applies AFTER
    their filter."""
    return _scored(spark, idx, query_terms, _bm25_contrib(idx["avgdl"]))


def bm25_topk(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 10
) -> DataFrame:
    """BM25 top-k served from the index: (doc_id, score_micros) — the
    bounded-heap (TakeOrderedAndProject) tail over ``bm25_scores``."""
    return _topk(bm25_scores(spark, idx, query_terms), k)


def bm25_explain(
    spark: SparkSession, idx: dict, query_terms: list[str], k: int = 10
) -> DataFrame:
    """Lucene-``explain``-style score breakdown: for each top-k document,
    one row per matched query term carrying the integers that produced the
    ranking — (doc_id, term, tf, df, contrib_micros, score_micros). The
    relevance-debugging surface every production engine ships beside its
    ranker; a row's contribs sum exactly to its score by construction.

    Plan shape: the :func:`_scored` core grouped by (doc_id, term) — one
    posting per group, so each group's sum is that posting's contribution
    (the shared `_bm25_contrib` expression, so explain can never drift from
    the ranking it explains) — then a bounded top-k heap on the per-doc
    sums and a broadcast semi-join back onto the ≤ k·|q| contribution rows.
    Zero corpus scans."""
    contribs = _scored(
        spark,
        idx,
        query_terms,
        _bm25_contrib(idx["avgdl"]),
        F.max("tf").cast("long").alias("tf"),
        F.max("df").alias("df"),
        stats=("idf_bm25", "df"),
        by=("doc_id", "term"),
    ).withColumnRenamed("score_micros", "contrib_micros")
    top = _topk(
        contribs.groupBy("doc_id").agg(F.sum("contrib_micros").alias("score_micros")), k
    )
    return contribs.join(F.broadcast(top), "doc_id").select(
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
    return _topk(scores, k)


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
            return local_frame(spark, [], _EMPTY_TOPK)
        last = rows[-1]
        cursor = (int(last["score_micros"]), int(last["doc_id"]))
    return bm25_search_after(spark, idx, query_terms, cursor, k=k)


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
    to the queries that want it, and one (query_id, doc_id) aggregate —
    the :func:`_scored` core grouped by (query_id, doc_id). Per-posting
    cost is unchanged; the scan and shuffle amortize across |Q| queries.

    The grouped top-k is two-phase (:func:`_grouped_topk`). Scores are the
    same bigint-micros contract as :func:`bm25_scores`, so the batch output
    row for a query equals the single-query ``bm25_topk`` output."""
    qmap = [
        (qid, t)
        for qid, terms in sorted(queries.items())
        for t in dict.fromkeys(terms)
    ]
    qdf = local_frame(spark, qmap, "query_id string, term string")
    scored = _scored(
        spark,
        idx,
        [t for _, t in qmap],
        _bm25_contrib(idx["avgdl"]),
        narrow=lambda post: post.join(F.broadcast(qdf), "term"),
        by=("query_id", "doc_id"),
    )
    return _grouped_topk(scored, k, salts)


def _grouped_topk(scored: DataFrame, k: int, salts: int) -> DataFrame:
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
    contrib = (F.col("tf").cast("double") / F.col("dl").cast("double")) * F.col(
        "idf_compat"
    )
    return _topk(_scored(spark, idx, query_terms, contrib, stats=("idf_compat",)), k)

def term_search_all(
    spark: SparkSession, idx: dict, query_terms: list[str]
) -> DataFrame:
    """Posting-list intersection (J5) over the stored postings."""
    uniq = list(dict.fromkeys(query_terms))
    rows = _qlex(spark, idx, uniq)
    if len(rows) < len(uniq):  # a term with no postings → empty intersection
        return local_frame(spark, [], "doc_id long")
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
        return local_frame(spark, [], "doc_id long")
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
        return local_frame(spark, [], "doc_id long")
    term = F.col("term")
    return (
        _pruned_postings(idx, rows)
        .groupBy("doc_id")
        .agg(
            F.count_distinct(F.when(term.isin(sorted(inc)), term)).alias("n_inc"),
            F.max(term.isin(sorted(exc)).cast("int")).alias("any_exc"),
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
        return local_frame(spark, [], "doc_id long")
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
    aggregate phrase_match does. Not through :func:`_scored`: the scored
    unit is the doc's phrase count, known only after the positions
    aggregate, not a per-posting contribution."""
    assert len(phrase_terms) >= 2
    rows = _qlex(spark, idx, phrase_terms)
    by_term = {r["term"]: r for r in rows}
    if not set(phrase_terms) <= set(by_term):
        return local_frame(
            spark,
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
    return _topk(
        pf.select(
            "doc_id",
            "phrase_freq",
            F.round(score * 1e6).cast("long").alias("score_micros"),
        ),
        k,
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
    idf. Plan: the :func:`_scored` core with the array head filter as its
    narrowed scan → bounded top-k heap."""
    first_pos = F.element_at("positions", 1).cast("long")
    scored = _scored(
        spark,
        idx,
        [term],
        _bm25_contrib(idx["avgdl"]),
        F.max("first_pos").alias("first_pos"),
        narrow=lambda post: post.withColumn("first_pos", first_pos).filter(
            F.col("first_pos") < max_pos
        ),
    )
    return _topk(scored.select("doc_id", "first_pos", "score_micros"), k)


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


def next_word_suggest(spark: SparkSession, sf_dir: str, word: str, k: int = 5) -> DataFrame:
    """Bigram-model autocomplete: the top-k words FOLLOWING ``word`` in the
    corpus, by occurrence — the next-word analog of the prefix suggester.
    The word filter is pushed below the position-adjacency self-join, so
    the joined left side is only the query word's occurrences."""
    from searchengine_spark.functions.tokenize import adjacent_token_pairs, exploded_tokens
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = adjacent_token_pairs(exploded_tokens(docs, with_pos=True))
    return (
        pairs.filter(F.col("t0") == word)
        .groupBy(F.col("t1").alias("term"))
        .agg(F.count(F.lit(1)).alias("n"))
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
        return local_frame(spark, [], "facet string, value string, n_docs long")
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
    top = _topk(capped, k)
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
        return local_frame(spark, [], "doc_id long, n_terms long, total_tf long")
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
        return local_frame(spark, [], "word string, term string, dist int, n long")
    kdf = local_frame(spark, pairs, "key string, word string")
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
        return local_frame(spark, [], "doc_id long, min_dist long")
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
        return local_frame(spark, [], "doc_id long, min_gap long")
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

    Plan: the :func:`_scored` core over the union of member terms, its scan
    narrowed to macro-term postings: a broadcast term→group map, a (group,
    doc) aggregate and a |groups|-row df aggregate broadcast back for the
    group idf, which the narrowed rows carry in place of the lexicon's.
    Then the usual bigint-micros fold and bounded top-k. Output: (doc_id,
    score_micros)."""
    from searchengine_spark.operators.ir import idf_bm25_expr

    gmap = local_frame(
        spark,
        [(t, g) for g, ts in sorted(groups.items()) for t in sorted(set(ts))],
        "term string, grp string",
    )

    def macro_terms(post: DataFrame) -> DataFrame:
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
        return gposts.join(F.broadcast(glex), "grp").withColumnRenamed("grp", "term")

    all_terms = sorted({t for ts in groups.values() for t in ts})
    return _topk(
        _scored(
            spark, idx, all_terms, _bm25_contrib(idx["avgdl"]), stats=(), narrow=macro_terms
        ),
        k,
    )


def doc_keywords(spark: SparkSession, idx: dict, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: the top-k terms of EVERY document by
    reference-style tf-idf — (doc_id, rank, term, tfidf_micros).

    This is the corpus-wide grouped top-k (tag clouds, related-terms
    features, doc summarization inputs). Unlike the per-query serving
    paths it deliberately touches the whole index once: postings join the
    lexicon idf — on disk both sides are bucketed by the same term hash,
    so at scale this is a co-partitioned join — then one window per
    doc_id. The window group is bounded by the document's distinct-term
    count (never a hot key: a document has bounded length, unlike a query
    term), so no salting is needed; the shuffle is one exchange of (doc,
    term, score) rows."""
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
COMPAT_DOCUMENTS_VERSION = 1


def _build_compat_documents(spark: SparkSession, sf_dir: str, base: str) -> None:
    """The compat fixture's documents table into ``base`` (assumed empty/tmp)."""
    import os

    from searchengine_spark.operators.graph_demo import pagerank_integer
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pr = pagerank_integer(docs, iterations=5)
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
        .write.parquet(os.path.join(base, "documents"))
    )


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

    from searchengine_spark.plans.gate_index import cached_index, gate_index

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
    # build artifact like the index itself — disk-cached beside it, keyed
    # by the same content digest, so serving never re-runs the PR loop
    documents = cached_index(
        spark,
        sf_dir,
        "compat",
        COMPAT_DOCUMENTS_VERSION,
        _build_compat_documents,
        lambda spark_, base: {"documents": spark_.read.parquet(os.path.join(base, "documents"))},
    )["documents"]
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

    Physical shape is :func:`bm25_scores`': the :func:`_scored` core with
    cf from the |q| lexicon rows and |C| the manifest's ``sum_dl`` scalar;
    contributions round to bigint micros before the per-doc sum (the
    doc-level dl term rounds separately, added once) — exact and
    partition-count-invariant. Query terms missing from the lexicon are
    OOV-dropped (they'd contribute the same -inf-background to every doc),
    matching retrieval practice.

    Output: (doc_id, score_micros) top-k, ties by doc_id."""
    rows = _qlex(spark, idx, query_terms)
    total = float(idx["sum_dl"])
    term_c = F.log(
        F.lit(1.0)
        + (F.col("tf").cast("double") * F.lit(total))
        / (F.lit(mu) * F.col("cf").cast("double"))
    )
    doc_c = F.round(
        F.lit(float(len(rows)))
        * F.log(F.lit(mu) / (F.col("dl").cast("double") + F.lit(mu)))
        * F.lit(1e6)
    ).cast("long")
    scored = _scored(
        spark, idx, query_terms, term_c, F.max("dl").alias("dl"), stats=("cf",), rows=rows
    )
    return _topk(scored.select("doc_id", (F.col("score_micros") + doc_c).alias("score_micros")), k)


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

    Physical shape is qld_topk's: the :func:`_scored` core with cf from the
    |q| lexicon rows and the manifest ``sum_dl`` scalar. OOV query terms
    drop.

    Output: (doc_id, score_micros) top-k, ties by doc_id."""
    total = float(idx["sum_dl"])
    ratio = (1.0 - lam) / lam
    contrib = F.log(
        F.lit(1.0)
        + F.lit(ratio)
        * (F.col("tf").cast("double") * F.lit(total))
        / (F.col("dl").cast("double") * F.col("cf").cast("double"))
    )
    return _topk(_scored(spark, idx, query_terms, contrib, stats=("cf",)), k)


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

    Physical shape is :func:`qld_topk`'s: the :func:`_scored` core with cf
    from the |q| lexicon rows (λ is one IEEE division, the same the oracle
    performs in SQL), avgdl/N from the manifest. log2 is spelled
    ``ln(x)·log2(e)`` with the constant as a fixed literal on BOTH engines
    so the trees match bit-for-bit. OOV query terms drop.

    Output: (doc_id, score_micros) top-k, ties by doc_id."""
    inv, two_pi = F.lit(PL2_INV_LN2), F.lit(PL2_TWO_PI)
    dl_d = F.col("dl").cast("double")
    tfn = F.col("tf").cast("double") * (
        F.log(F.lit(1.0) + (F.lit(c) * F.lit(float(idx["avgdl"]))) / dl_d) * inv
    )
    lam = F.col("cf").cast("double") / F.lit(float(idx["n_docs"]))
    score = (
        tfn * (F.log(tfn / lam) * inv)
        + (lam - tfn) * inv
        + F.lit(0.5) * (F.log(two_pi * tfn) * inv)
    ) / (tfn + F.lit(1.0))
    return _topk(_scored(spark, idx, query_terms, score, stats=("cf",)), k)


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

    Only the unigram feature goes through the :func:`_scored` core: a pair
    feature's tf is a per-doc window count and its cf an aggregate over
    those counts, neither a per-posting contribution with lexicon stats.

    Contract details the DuckDB twin mirrors: unigram sum over UNIQUE
    in-vocabulary terms; pairs = adjacent ORIGINAL query positions with
    both terms in vocabulary, a≠b, deduplicated; every feature
    contribution rounds to bigint micros before the per-doc sum.

    Output: (doc_id, score_micros) top-k, ties by doc_id."""
    rows = _qlex(spark, idx, query_terms)
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
    uni_c = F.lit(lam_t) * F.log(
        F.lit(1.0)
        + (F.col("tf").cast("double") * F.lit(total))
        / (F.lit(mu) * F.col("cf").cast("double"))
    )
    contribs = [
        _scored(spark, idx, query_terms, uni_c, stats=("cf",), rows=rows).select(
            "doc_id", F.col("score_micros").alias("c_micros")
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
    out = reduce(DataFrame.unionByName, contribs)
    return _topk(out.groupBy("doc_id").agg(F.sum("c_micros").alias("score_micros")), k)


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
    no per-field index. The :func:`_scored` core and bigint-micros contract
    of :func:`bm25_scores`.

    Output: (doc_id, score_micros) top-k."""
    tf_h = F.size(
        F.filter(F.col("positions"), lambda p: p < F.lit(head_positions))
    ).cast("double")
    tf_b = F.col("tf").cast("double") - tf_h
    dl = F.col("dl").cast("double")
    tfw = (F.lit(w_head) * tf_h + F.lit(w_body) * tf_b) / (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / F.lit(idx["avgdl"])
    )
    contrib = F.col("idf_bm25") * (tfw / (F.lit(BM25_K1) + tfw))
    return _topk(_scored(spark, idx, query_terms, contrib), k)


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
    regrouping of the positions array (``floor(pos / P)``), no corpus scan —
    the :func:`_scored` core over that narrowed scan, grouped by (doc_id,
    passage_id). Fixed-length windows make BM25's length normalization a
    constant, so the per-passage contribution reduces to the saturation form
    ``idf · tf(k1+1)/(tf+k1)``. The per-(doc,term,passage) contribution is
    rounded to micros BEFORE the passage sum and the per-doc max — integer
    space end-to-end, bit-identical to the DuckDB oracle. Ties between a
    doc's equal-scoring passages break to the EARLIEST passage.

    Both shuffles key on doc_id-derived keys, so hot query terms spread
    across docs (no single-reducer risk at scale).

    Output: (doc_id, passage_id, score_micros) top-k."""

    def passages(post: DataFrame) -> DataFrame:
        return (
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
    pscores = _scored(
        spark, idx, query_terms, contrib, narrow=passages, by=("doc_id", "passage_id")
    )
    # deterministic per-doc argmax: max score, earliest passage on ties —
    # a struct max in one hash aggregate (no window, no single partition)
    best = pscores.groupBy("doc_id").agg(
        F.max(
            F.struct(F.col("score_micros").alias("s"), (-F.col("passage_id")).alias("np"))
        ).alias("m")
    )
    return _topk(
        best.select(
            "doc_id",
            (-F.col("m.np")).cast("long").alias("passage_id"),
            F.col("m.s").alias("score_micros"),
        ),
        k,
    )


def _micros(x: float) -> int:
    """round(x) half away from zero — Spark's ``round`` and DuckDB's, not
    Python's banker's rounding — for driver-side selection keys."""
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


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
    doc); pass 2 is the :func:`_scored` core over |q| + fb_terms terms
    with a literal per-term weight map. All selection keys are bigint
    micros (round-half-away-from-zero), so the expansion choice and the
    final ranking are bit-identical to the SQL twin.

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
            scored = sorted(
                (-_micros(tf_map[r["term"]] * r["idf_bm25"] * 1e6), r["term"])
                for r in lex
            )[:fb_terms]
            for _, t in scored:
                weights[t] = expand_weight
    w = literal_map(weights, "map<string,double>")[F.col("term")]
    contrib = w * _bm25_contrib(idx["avgdl"])
    return _topk(_scored(spark, idx, sorted(weights), contrib), k)


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
    bm25 = _topk(bm25_scores(spark, idx, query_terms), r).select(
        "doc_id",
        F.row_number().over(w1.orderBy(*order)).alias("lrank"),
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
    ids = bm25.select("doc_id").union(vec.select("doc_id")).distinct()
    fused = (
        ids.join(F.broadcast(bm25), "doc_id", "left")
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
    ``bm25_topk`` (same oracle, same integer-micros contract). Not through
    :func:`_scored`: it decodes the segment blobs, not the columnar
    postings. The segments are the index's own (``ensure_segments``:
    encoded on the first call if the build did not publish them)."""
    from searchengine_spark.operators.segments import blockmax_topk_micros
    from searchengine_spark.plans.build_index import ensure_segments

    return blockmax_topk_micros(
        spark, ensure_segments(spark, idx["dir"]), idx["lexicon"], query_terms, idx["avgdl"], k=k
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
    return _topk(best, k)


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
    from searchengine_spark.functions.tokenize import exploded_tokens

    src_tf = (
        exploded_tokens(docs.filter(F.col("doc_id") == src_doc_id))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    if not src_tf:
        return local_frame(spark, [], _EMPTY_TOPK)
    tf_map = {r["term"]: int(r["tf"]) for r in src_tf}
    lex = _qlex(spark, idx, sorted(tf_map))
    ranked = sorted(
        (
            (-_micros(tf_map[r["term"]] * r["idf_bm25"] * 1e6), r["term"])
            for r in lex
            if int(r["df"]) >= min_df
        ),
    )[:max_query_terms]
    terms = [t for _, t in ranked]
    if not terms:
        return local_frame(spark, [], _EMPTY_TOPK)
    return _topk(bm25_scores(spark, idx, terms).filter(F.col("doc_id") != src_doc_id), k)


def compound_split(
    spark: SparkSession, idx: dict, word: str, k: int = 5
) -> DataFrame:
    """Dictionary compound-word splitting (query segmentation — the Lucene
    DictionaryCompoundWordTokenFilter analog): split an out-of-vocabulary
    query word into two in-dictionary terms ("hashjoin" → hash + join),
    ranked by the weaker half's corpus frequency (least(cf1, cf2) — a rare
    half makes the whole segmentation implausible), ties by p1 asc.

    The |word|-1 split candidates are a driver constant; their halves are
    ONE isin-pruned lexicon point lookup (the :func:`_qlex` step class), and
    the ≤ |word|-1 candidates rank on the driver. No corpus access at all.
    Output: (p1, p2, cf_min) top-k."""
    word = word.strip().lower()
    pairs = [(word[:i], word[i:]) for i in range(1, len(word))]
    parts = sorted({p for pair in pairs for p in pair})
    cf = {
        r["term"]: int(r["cf"])
        for r in idx["lexicon"].filter(F.col("term").isin(parts)).select("term", "cf").collect()
    }
    ranked = sorted(
        ((p1, p2, min(cf[p1], cf[p2])) for p1, p2 in pairs if p1 in cf and p2 in cf),
        key=lambda row: (-row[2], row[0]),
    )[:k]
    return local_frame(spark, ranked, "p1 string, p2 string, cf_min long")


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
    (O(r²) sims, r=50 → 2,450 pairs) — per-query cost is constant in
    corpus size, and a multi-query batch parallelizes across groups.

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
    return _topk(bm25_scores(spark, idx, phrase_terms).join(cand, "doc_id"), k)


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
    bm25 = _topk(bm25_scores(spark, idx, query_terms), r)
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

    bm25n, vecn = norm(bm25, "lnorm"), norm(vec, "vnorm")
    ids = bm25n.select("doc_id").union(vecn.select("doc_id")).distinct()
    nz = (
        F.col("lnorm").isNotNull().cast("long")
        + F.col("vnorm").isNotNull().cast("long")
    )
    fused = (
        ids.join(F.broadcast(bm25n), "doc_id", "left")
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

    cand = _topk(bm25_scores(spark, idx, query_terms), r).select("doc_id")
    vecs = embeddings.join(
        F.broadcast(cand), embeddings["vec_id"] == cand["doc_id"]
    ).select("doc_id", "embedding")

    crows = kmeans_centroids(embeddings, k=n_clusters, iterations=iterations).collect()
    bycid: dict[int, dict[int, int]] = {}
    for row in crows:
        bycid.setdefault(row["cid"], {})[row["i"]] = row["val"]
    cents = local_frame(
        spark,
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


def bm25_boosted_topk(
    spark: SparkSession, idx: dict, boosts: dict[str, float], k: int = 10
) -> DataFrame:
    """Per-term query boosting (Lucene ``term^boost`` / ES query weights):
    BM25 with each term's contribution scaled by its query-side boost —
    contribution tree unchanged, one extra multiply before the micros
    rounding. Same :func:`_scored` plan as bm25_topk; the boosts ride in a
    literal term -> boost map."""
    boost = literal_map({t: float(b) for t, b in boosts.items()}, "map<string,double>")
    contrib = boost[F.col("term")] * _bm25_contrib(idx["avgdl"])
    return _topk(_scored(spark, idx, list(boosts), contrib), k)


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
    n_docs = int(idx["n_docs"])
    required = [
        r for r in rows if int(r["df"]) * 1_000_000 <= cutoff_ppm * n_docs
    ]
    narrow = None
    if required:
        cand = _pruned_postings(idx, required).select("doc_id").distinct()

        def narrow(post: DataFrame) -> DataFrame:
            return post.join(cand, "doc_id")

    scored = _scored(
        spark, idx, query_terms, _bm25_contrib(idx["avgdl"]), rows=rows, narrow=narrow
    )
    return _topk(scored, k)


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
    containing it at all). Same :func:`_scored` plan as bm25_topk; the only
    change is ``+ δ`` inside the shared contribution tree before the idf
    multiply."""
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    contrib = F.col("idf_bm25") * (
        (tf * (BM25_K1 + 1.0))
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.lit(idx["avgdl"])))
        + F.lit(float(delta))
    )
    return _topk(_scored(spark, idx, query_terms, contrib), k)


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
    bm25 = _topk(bm25_scores(spark, idx, query_terms), r).select(
        "doc_id", (F.lit(r) - F.row_number().over(one) + 1).alias("lpts")
    )
    vec = ann_bruteforce_topk(embeddings, k=r, query_ids=[query_vec_id]).select(
        F.col("neighbor_id").alias("doc_id"),
        (F.lit(r) - F.col("rank") + 1).cast("long").alias("vpts"),
    )
    ids = bm25.select("doc_id").union(vec.select("doc_id")).distinct()
    fused = (
        ids.join(F.broadcast(bm25), "doc_id", "left")
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

    Plan: the winners are bm25_topk's, scored by the :func:`_scored` core
    over the one lexicon lookup the fragments reuse; their match positions
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
        return local_frame(
            spark,
            [],
            "doc_id long, frag_seq int, start_pos long, end_pos long, "
            "n_matches long, fragment string",
        )
    winners = _topk(
        _scored(spark, idx, query_terms, _bm25_contrib(idx["avgdl"]), rows=rows), k
    ).select("doc_id")
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
