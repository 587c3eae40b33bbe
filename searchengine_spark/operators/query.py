"""Query entry points: term + phrase search, compat + BM25 modes
(SURVEY.md §3.1-3.2).

Determinism contract (north rule: rank-identical across N / 4N executors):
every float accumulation per doc is computed as a fold over the
term-sorted contribution list (``_det_sum``) instead of a shuffle-order
``SUM`` — same addends in the same order on any cluster size, so scores are
bit-identical to the pure-Python oracle. Ties break by ascending doc_id.

Snippets (quirks Q5/Q11/Q12) are computed lazily at query time for candidate
docs only — the reference pre-renders every snippet for every (term, page)
at index time (Indexer.java:273), which at 10^12 files would dominate index
size; deferring them to the ~k candidate docs is the Spark-first win.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.functions.textproc import (
    find_exact_sentence,
    query_tokenize,
    query_words,
    snippet_windows,
)
from searchengine_spark.operators.serve import _bm25_contrib, _doc_positions, _phrase_adjacent
from searchengine_spark.operators.scoring import (
    H1_WEIGHT,
    H2_WEIGHT,
    H3_WEIGHT,
    PAGERANK_WEIGHT,
    TFIDF_WEIGHT,
    TITLE_WEIGHT,
)


def is_phrase_query(query: str) -> bool:
    """SearchService.isPhraseSearch (:93-95)."""
    return query.startswith('"') and query.endswith('"') and len(query) > 2


def _det_sum(sorted_structs: Column, field: str) -> Column:
    """Deterministic float fold over an array<struct> already sorted by term."""
    return F.aggregate(sorted_structs, F.lit(0.0), lambda acc, x: acc + x[field])


def _candidates(postings: DataFrame, lexicon: DataFrame, spark: SparkSession, terms: list[str]) -> DataFrame:
    # the isin predicate reaches the parquet scan (PushedFilters) and skips
    # decode+hash of non-matching rows BEFORE the join machinery — measured
    # 3.4x on the 1.6M-doc postings scan vs the bare broadcast join (a join
    # key is never pushed down; an explicit filter is)
    # the isin filter already restricts both sides to exactly the query's
    # distinct terms, so no separate q-terms join is needed: one broadcast
    # of the |q|-row filtered lexicon is the whole join machinery
    uniq = list(dict.fromkeys(terms))
    return postings.filter(F.col("term").isin(uniq)).join(
        F.broadcast(lexicon.filter(F.col("term").isin(uniq))), "term"
    )


# ---------------------------------------------------------------- snippets

_SNIPPET_SCHEMA = (
    "doc_id long, term string, snippet_first string, has_any boolean, "
    "phrase_snippet string, url string, title string"
)


def _snippets_udf(phrase: str | None):
    """mapInPandas over (doc_id, term, content, url, title): compute the
    reference's 60-word centered snippets (Q5) for the (doc, term) pair;
    report the first snippet, emptiness (Q11), and — in phrase mode — the
    re-bolded phrase snippet (SearchService.handlePhraseResults :135-163)
    or null if no snippet contains the boundary-exact phrase. url/title
    pass through so result assembly needs ONE pruned documents scan per
    frontier round, not a second metadata fetch job."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, term, content, url, title in zip(
                pdf["doc_id"], pdf["term"], pdf["content"], pdf["url"], pdf["title"]
            ):
                snips = snippet_windows(term, content, 60)
                first = snips[0] if snips else None
                phrase_snip = None
                if phrase is not None:
                    for s in snips:
                        plain = s.replace("<b>", "").replace("</b>", "")
                        if find_exact_sentence(phrase, plain) != -1:
                            start = plain.find(phrase)
                            end = start + len(phrase)
                            if end >= len(plain):
                                end = len(plain) - 1
                            phrase_snip = plain[:start] + "<b>" + phrase + "</b>" + plain[end:]
                            break
                rows.append((doc_id, term, first, bool(snips), phrase_snip, url, title))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "term", "snippet_first", "has_any",
                    "phrase_snippet", "url", "title",
                ],
            )

    return fn


def _phrase_filter_udf(phrase: str):
    """mapInPandas: keep (doc_id, term) rows whose snippets contain the
    boundary-exact phrase (checkPhraseInPage, SearchService.java:165-176) —
    the compat phrase semantics (quirk Q10: snippet-scan, not positions)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = []
            for doc_id, term, content in zip(pdf["doc_id"], pdf["term"], pdf["content"]):
                ok = False
                for s in snippet_windows(term, content, 60):
                    plain = s.replace("<b>", "").replace("</b>", "")
                    if find_exact_sentence(phrase, plain) != -1:
                        ok = True
                        break
                keep.append((doc_id, term, ok))
            out = pd.DataFrame(keep, columns=["doc_id", "term", "keep"])
            yield out[out["keep"]][["doc_id", "term"]]

    return fn


# ---------------------------------------------------------------- compat search


def search_compat(
    spark: SparkSession,
    postings: DataFrame,
    lexicon: DataFrame,
    documents: DataFrame,
    query: str,
    k: int = 10,
) -> DataFrame:
    """Full reference pipeline (SearchService.processSearchQuery):
    returns (rank, doc_id, url, title, score, snippet)."""
    phrase = query[1:-1] if is_phrase_query(query) else None
    terms = query_tokenize(phrase if phrase is not None else query)
    qwords = query_words(query)  # Q3: raw query incl. quotes
    if not terms:
        return spark.createDataFrame(
            [], "rank int, doc_id long, url string, title string, score double, snippet string"
        )

    matched = _candidates(postings, lexicon, spark, terms)

    if phrase is not None:
        content_side = documents.select("doc_id", "content")
        survivors = (
            matched.select("doc_id", "term")
            .distinct()
            .join(content_side, "doc_id")
            .mapInPandas(_phrase_filter_udf(phrase), "doc_id long, term string")
        )
        matched = matched.join(survivors, ["doc_id", "term"], "left_semi")

    # Score from postings only, then ONE slim per-doc join for title/pagerank
    # AFTER the aggregate. The old shape joined url/title onto every
    # (doc, term) posting row and shuffled those strings through the groupBy —
    # for a hot term that is |candidates|·|terms| wide rows; this shape
    # shuffles slim numeric rows and joins one row per candidate doc.
    lower_title = F.lower(F.col("title"))
    tm = None
    for w in qwords:
        c = F.when(lower_title.contains(w.lower()), 1).otherwise(0)
        tm = c if tm is None else tm + c

    rows = matched.select(
        "doc_id",
        "term",
        ((F.col("tf").cast("double") / F.col("dl").cast("double")) * F.col("idf_compat")).alias("_tfidf"),
        (
            F.when(F.col("term_h1"), H1_WEIGHT).otherwise(0.0)
            + F.when(F.col("term_h2"), H2_WEIGHT).otherwise(0.0)
            + F.when(F.col("term_h3"), H3_WEIGHT).otherwise(0.0)
        ).alias("_hdr"),
    )

    # Per-doc fold as a PIVOT: each doc has at most one posting row per query
    # term, so max(when(term==t, x)) recovers t's single contribution and the
    # score is the left-assoc sum over the sorted term list with
    # coalesce(·, 0.0) for absent terms. Bit-identical to the term-sorted
    # collect_list fold (x + 0.0 == x bitwise; -0.0 contributions are
    # impossible: tf/dl > 0 and ln never returns -0.0) — and it keeps the
    # aggregate inside native hash-agg codegen instead of building and
    # lambda-folding an array per doc (the interpreted F.aggregate was the
    # hot path for every-doc terms at 1.6M candidates). The DuckDB oracle
    # computes this same pivot shape (oracles.compat_topk_sql).
    sorted_terms = sorted(dict.fromkeys(terms))
    pivot_aggs = []
    for i, t in enumerate(sorted_terms):
        pivot_aggs.append(F.max(F.when(F.col("term") == t, F.col("_tfidf"))).alias(f"_tf{i}"))
        pivot_aggs.append(F.max(F.when(F.col("term") == t, F.col("_hdr"))).alias(f"_hd{i}"))
    tf_fold: Column = F.lit(0.0)
    hd_fold: Column = F.lit(0.0)
    for i in range(len(sorted_terms)):
        tf_fold = tf_fold + F.coalesce(F.col(f"_tf{i}"), F.lit(0.0))
        hd_fold = hd_fold + F.coalesce(F.col(f"_hd{i}"), F.lit(0.0))

    per_doc = (
        rows.groupBy("doc_id")
        .agg(
            *pivot_aggs,
            F.count(F.lit(1)).alias("_nterms"),
            F.max("term").alias("last_term"),  # Q12: pinned last-in-sorted-order term
        )
        .join(documents.select("doc_id", "title", "pagerank"), "doc_id")
        .select(
            "doc_id",
            tf_fold.alias("tfidf_sum"),
            hd_fold.alias("header_score"),
            # the reference adds the title-match count once per matched term
            # row; the count depends only on the title, so it factors as
            # tm · n_term_rows — integer-identical to the per-row sum
            ((tm if tm is not None else F.lit(0)) * F.col("_nterms")).alias("title_matches"),
            F.col("pagerank").alias("pr"),
            "last_term",
        )
    )

    # per_doc feeds two consumers — the 1-row maxima aggregate and the
    # frontier top-n. No persist: the shared shuffle under both is
    # deduplicated by ReuseExchange (measured: persisting per_doc DOUBLED
    # compat p50 at 1.6M docs by paying a cache materialization instead).

    # A6 max-normalizers (Ranker.java:88-89) as a 1-row aggregate broadcast
    # back over the candidates — NOT an unpartitioned window, which would
    # move the whole candidate set of a hot term onto a single task.
    # Degenerate-max guards: when every candidate's tfidf_sum (or pagerank)
    # is 0, the reference would compute 0/0 = NaN (Ranker.java:88-89 — it
    # never happens there because PR always runs). We define the normalized
    # term as 0 instead, mirrored in tests/oracle.py, so indexes built with
    # with_pagerank=False still rank sanely.
    maxima = per_doc.agg(
        F.max("tfidf_sum").alias("_max_tfidf"), F.max("pr").alias("_max_pr")
    )
    max_tfidf = F.col("_max_tfidf")
    max_pr = F.col("_max_pr")
    tfidf_term = F.when(max_tfidf != 0.0, F.col("tfidf_sum") / max_tfidf).otherwise(0.0)
    pr_term = F.when(max_pr != 0.0, F.col("pr") / max_pr).otherwise(0.0)
    scored = per_doc.crossJoin(F.broadcast(maxima)).select(
        "doc_id",
        "last_term",
        (
            F.lit(TFIDF_WEIGHT) * tfidf_term
            + F.lit(PAGERANK_WEIGHT) * pr_term
            + F.lit(TITLE_WEIGHT) * (F.col("title_matches").cast("double") / F.lit(float(len(qwords))))
            + F.least(F.col("header_score"), F.lit(H1_WEIGHT))
        ).alias("score"),
    )

    # assembly: rank-first snippet overfetch. The Q11 has-snippet filter
    # (and the phrase re-bold, Q10) only decides which already-ranked docs
    # SURVIVE — it never raises a score — so the global top-k survivors are
    # contained in the top-n candidates for any n with ≥ k survivors inside.
    # Collect the leading n = max(4k, 50) candidates, push their doc_ids
    # down to the documents scan (parquet row-group pruning on the
    # doc_id-clustered files), snippet exactly those rows, and widen the
    # frontier only if the filter starved the top k (rare: quirk Q2 terms).
    # The previous shape — snippets for EVERY candidate of a hot term —
    # scanned all content and was the 20-30 s tail at 1.6M docs; this loop
    # touches O(k) docs and one pruned scan per round.
    out_schema = "rank int, doc_id long, url string, title string, score double, snippet string"
    n = max(4 * k, 50)
    checked: dict[int, object] = {}  # doc_id -> snippet Row (carries url/title) | None
    while True:
        frontier = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(n).collect()
        todo = [r for r in frontier if r["doc_id"] not in checked]
        if todo:
            ids = [int(r["doc_id"]) for r in todo]
            pairs = spark.createDataFrame(
                [(int(r["doc_id"]), r["last_term"]) for r in todo], "doc_id long, term string"
            )
            if len(ids) <= 10_000:
                pruned_docs = documents.filter(F.col("doc_id").isin(ids))
            else:  # pathological widening: avoid a giant IN expression
                pruned_docs = documents.join(F.broadcast(pairs.select("doc_id")), "doc_id", "left_semi")
            # ONE pruned scan + ONE job per round: snippets and url/title
            # metadata come back together (the UDF passes url/title through)
            snips = (
                pruned_docs.select("doc_id", "content", "url", "title")
                .join(F.broadcast(pairs), "doc_id")
                .mapInPandas(_snippets_udf(phrase), _SNIPPET_SCHEMA)
                .collect()
            )
            smap = {r["doc_id"]: r for r in snips}
            for r in todo:
                checked[r["doc_id"]] = smap.get(r["doc_id"])
        survivors: list[tuple] = []
        for r in frontier:  # frontier is already in final (score, doc_id) order
            s = checked.get(r["doc_id"])
            if s is None:
                continue
            if phrase is not None:
                if s["phrase_snippet"] is None:
                    continue
                text = s["phrase_snippet"]
            else:
                if not s["has_any"]:  # Q11
                    continue
                text = s["snippet_first"]
            survivors.append((r, s, text))
            if len(survivors) >= k:
                break
        if len(survivors) >= k or len(frontier) < n:
            break  # top k found, or every candidate already checked
        n *= 4
    rows = [
        (i + 1, int(r["doc_id"]), s["url"], s["title"], float(r["score"]), text)
        for i, (r, s, text) in enumerate(survivors[:k])
    ]
    return spark.createDataFrame(rows, out_schema)


# ---------------------------------------------------------------- BM25 search


def search_bm25(
    spark: SparkSession,
    postings: DataFrame,
    lexicon: DataFrame,
    documents: DataFrame,
    query: str,
    k: int = 10,
) -> DataFrame:
    """BM25 mode: (rank, doc_id, url, score). Phrase queries use correct
    positional adjacency (our fix of quirk Q10): the stemmed terms at
    consecutive positions of the stored positions arrays (the index
    positions count skipped tokens, Q4, but consecutive kept tokens still
    differ by 1 unless a short/stopword token intervened — matching the
    reference's *index*, not raw text), checked by the shared
    ``serve._phrase_adjacent`` predicate."""
    phrase = query[1:-1] if is_phrase_query(query) else None
    terms = query_tokenize(phrase if phrase is not None else query)
    if not terms:
        return spark.createDataFrame([], "rank int, doc_id long, url string, score double")

    matched = _candidates(postings, lexicon, spark, terms)

    if phrase is not None and len(terms) >= 2:
        per_doc, pos = _doc_positions(matched, terms)
        adjacent = per_doc.filter(_phrase_adjacent(pos, terms)).select("doc_id")
        matched = matched.join(adjacent, "doc_id", "left_semi")

    # deterministic fold for the BM25 sum as well
    stats = documents.agg(F.sum("doc_len").alias("s"), F.count(F.lit(1)).alias("c")).collect()[0]
    avgdl = (float(stats["s"]) / float(stats["c"])) if stats["c"] else 1.0
    contrib = _bm25_contrib(avgdl)

    per_doc = (
        matched.select("doc_id", "term", contrib.alias("_c"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "_c"))).alias("_contribs"))
        .select("doc_id", _det_sum(F.col("_contribs"), "_c").alias("score"))
        .join(documents.select("doc_id", "url"), "doc_id")
    )
    from pyspark.sql import Window

    ranked = per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return ranked.select(
        F.row_number()
            .over(
                # rank over the already-limited <=k rows; the single-valued
                # partition key (non-foldable, so the optimizer keeps it) is
                # intentional — bounded input, and no spurious "No Partition
                # Defined" warning from an empty partition spec
                Window.partitionBy(F.col("doc_id") % 1).orderBy(F.desc("score"), F.asc("doc_id"))
            )
            .alias("rank"),
        "doc_id",
        "url",
        "score",
    )
