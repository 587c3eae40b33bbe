"""Properties of the second-wave rankers (BM25F, QLD, PRF, hybrid RRF,
trained-centroid IVF) beyond the per-gate oracle parity the driver checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
TERMS = ["spark", "hash", "join"]


@pytest.fixture(scope="module")
def idx(spark):
    from searchengine_spark.plans.gate_index import gate_index

    return gate_index(spark, SF)


@pytest.fixture(scope="module")
def docs(spark):
    from searchengine_spark.sources.tables import load_table

    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    from searchengine_spark.sources.tables import load_table

    return load_table(spark, SF, "embeddings")


def test_prf_no_expansion_equals_bm25(spark, idx, docs):
    """fb_terms=0 must degenerate to plain BM25 (weights = originals @ 1.0,
    and 1.0·x is an IEEE no-op) — same rows, same micros."""
    from searchengine_spark.operators import serve

    base = serve.bm25_topk(spark, idx, TERMS, k=10).collect()
    prf = serve.prf_expansion_topk(spark, idx, docs, TERMS, k=10, fb_terms=0).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in prf]


def test_prf_expansion_changes_weights_only_additively(spark, idx, docs):
    """Expanded scores are >= the fb_terms=0 scores for every doc that
    appears in both (expansion contributions are nonnegative: idf_bm25>0)."""
    from searchengine_spark.operators import serve

    base = {
        r["doc_id"]: r["score_micros"]
        for r in serve.prf_expansion_topk(
            spark, idx, docs, TERMS, k=10, fb_terms=0
        ).collect()
    }
    exp = {
        r["doc_id"]: r["score_micros"]
        for r in serve.prf_expansion_topk(
            spark, idx, docs, TERMS, k=50, fb_terms=3
        ).collect()
    }
    shared = set(base) & set(exp)
    assert shared
    assert all(exp[d] >= base[d] for d in shared)


def test_ivf_kmeans_full_probe_equals_bruteforce(spark, emb):
    """Probing every trained cell removes the approximation: the IVF result
    must equal the exact brute-force top-k row-for-row."""
    from searchengine_spark.operators import similarity

    exact = similarity.ann_bruteforce_topk(emb, n_queries=4, k=5).collect()
    ivf = similarity.ann_ivf_kmeans_topk(
        emb, n_queries=4, k=5, n_clusters=4, iterations=2, nprobe=4
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, exact), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, ivf), key=lambda t: (t[0], t[1])
    )


def test_hybrid_rrf_candidates_come_from_both_lists(spark, idx, emb):
    """Every fused doc must appear in the lexical top-r or the vector top-r,
    and a doc present in BOTH lists must outscore one with a single
    equal-rank membership (RRF contributions are positive)."""
    from searchengine_spark.operators import serve, similarity

    r = 20
    lex_ids = {
        row["doc_id"]
        for row in serve.bm25_scores(spark, idx, TERMS)
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(r)
        .collect()
    }
    vec_ids = {
        row["neighbor_id"]
        for row in similarity.ann_bruteforce_topk(emb, k=r, query_ids=[0]).collect()
    }
    fused = serve.hybrid_rrf_topk(spark, idx, emb, TERMS, k=10, r=r).collect()
    assert fused
    assert all(row["doc_id"] in (lex_ids | vec_ids) for row in fused)


def test_bm25f_head_boost_orders_early_occurrences(spark, idx):
    """With w_head >> w_body, a doc whose query term sits in the head window
    must outscore an equal-tf doc whose occurrences are all late — checked
    on the index itself: pick two single-term docs differing only that way."""
    from searchengine_spark.operators import serve

    post = (
        idx["postings"]
        .filter(F.col("term") == "spark")
        .select(
            "doc_id",
            "tf",
            F.size(F.filter(F.col("positions"), lambda p: p < F.lit(8))).alias("tfh"),
        )
        .collect()
    )
    early = {r["doc_id"] for r in post if r["tfh"] > 0}
    late = {r["doc_id"] for r in post if r["tfh"] == 0}
    if not early or not late:
        pytest.skip("corpus lacks an early/late split for the probe term")
    scores = {
        r["doc_id"]: r["score_micros"]
        for r in serve.bm25f_topk(
            spark, idx, ["spark"], k=10_000, w_head=100.0, w_body=1.0
        ).collect()
    }
    # compare same-tf pairs only (length normalization differs otherwise)
    tf_of = {r["doc_id"]: r["tf"] for r in post}
    pairs = [
        (e, l)
        for e in early
        for l in late
        if tf_of[e] == tf_of[l] and e in scores and l in scores
    ]
    if not pairs:
        pytest.skip("no equal-tf early/late pair")
    assert all(scores[e] > scores[l] for e, l in pairs[:50])


def test_qld_matches_more_terms_scores_higher(spark, idx):
    """A doc matching every query term must outrank a doc matching none —
    trivially true by construction (absent docs aren't scored), so check
    the weaker invariant the formula promises: top-1 matches >= 2 terms."""
    from searchengine_spark.operators import serve

    top = serve.qld_topk(spark, idx, TERMS, k=1).collect()
    assert top
    doc = top[0]["doc_id"]
    n = (
        idx["postings"]
        .filter(F.col("term").isin(TERMS) & (F.col("doc_id") == doc))
        .count()
    )
    assert n >= 2


def test_exact_substring_spans_full_duplicate_span(spark):
    """Two verbatim-identical docs must each carry one maximal span covering
    the whole token range (1 .. len)."""
    from searchengine_spark.operators.dedup import exact_substring_spans

    text = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "only unique words here " * 10)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in exact_substring_spans(docs, window=16).collect()
    }
    assert set(out) == {1, 2}
    assert out[1] == (1, 40, 25) and out[2] == (1, 40, 25)


def test_maxp_whole_doc_window_is_saturation_bm25(spark, idx):
    """With passage_size >= every doc length each doc has exactly ONE
    passage (id 0), so MaxP degenerates to whole-doc saturation BM25
    (idf·tf(k1+1)/(tf+k1), i.e. BM25 with the length term constant) — checked
    against an independent recomputation from the stored postings."""
    from searchengine_spark.operators import serve
    from searchengine_spark.operators.serve import BM25_K1

    big = 1 << 30
    got = serve.bm25_maxp_topk(spark, idx, TERMS, k=10, passage_size=big).collect()
    assert got and all(r["passage_id"] == 0 for r in got)

    lex = {
        r["term"]: r["idf_bm25"]
        for r in idx["lexicon"].filter(F.col("term").isin(TERMS)).collect()
    }
    post = (
        idx["postings"]
        .filter(F.col("term").isin(TERMS))
        .select("term", "doc_id", "tf")
        .collect()
    )
    expected: dict[int, int] = {}
    for r in post:
        c = lex[r["term"]] * (r["tf"] * (BM25_K1 + 1.0)) / (r["tf"] + BM25_K1)
        expected[r["doc_id"]] = expected.get(r["doc_id"], 0) + round(c * 1e6)
    top = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["doc_id"], r["score_micros"]) for r in got] == top


def test_maxp_score_at_most_whole_doc_saturation(spark, idx):
    """Splitting a doc into passages can only LOWER its best-passage score
    versus scoring the whole doc as one window (tf saturation is monotone
    and per-passage tf <= whole-doc tf)."""
    from searchengine_spark.operators import serve

    whole = {
        r["doc_id"]: r["score_micros"]
        for r in serve.bm25_maxp_topk(
            spark, idx, TERMS, k=1000, passage_size=1 << 30
        ).collect()
    }
    split = serve.bm25_maxp_topk(spark, idx, TERMS, k=1000, passage_size=8).collect()
    assert split
    assert all(r["score_micros"] <= whole[r["doc_id"]] for r in split)


def test_search_after_pages_partition_ranking(spark):
    """Cursor pages are disjoint, ordered, and concatenate to the top-N:
    the search_after total order (score DESC, doc_id ASC) partitions the
    ranking, including across tied scores."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, "/root/testdata/sf0.001")
    terms = ["spark", "hash", "join"]
    pages = [
        [tuple(r) for r in serve.bm25_page(spark, idx, terms, page=p, k=7).collect()]
        for p in (1, 2, 3, 4)
    ]
    flat = sum(pages, [])
    assert len(set(flat)) == len(flat)  # disjoint
    top = [tuple(r) for r in serve.bm25_topk(spark, idx, terms, k=28).collect()]
    assert flat == top  # concatenation IS the ranking, in order


def test_sdm_reduces_to_qld_when_pair_weights_zero(spark, idx):
    """With λ_O = λ_U = 0 the SDM score is the Dirichlet QLD score plus a
    doc-independent constant (|q|·ln μ), so the ranking must be identical
    at the same μ."""
    from searchengine_spark.operators import serve

    sdm = serve.sdm_topk(
        spark, idx, TERMS, k=10, mu=2000.0, lam_t=1.0, lam_o=0.0, lam_u=0.0
    ).collect()
    qld = serve.qld_topk(spark, idx, TERMS, k=10, mu=2000.0).collect()
    assert [r.doc_id for r in sdm] == [r.doc_id for r in qld]


def test_sdm_drops_oov_terms(spark, idx):
    """An out-of-vocabulary query term contributes nothing: not to the
    unigram sum, not to any pair (its adjacencies are skipped), not to the
    length-penalty coefficient — appending one must leave the result
    micros-identical."""
    from searchengine_spark.operators import serve

    base = serve.sdm_topk(spark, idx, TERMS, k=10).collect()
    oov = serve.sdm_topk(spark, idx, TERMS + ["zzzneverseen"], k=10).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in oov]


def test_bm25plus_dominates_bm25(spark, idx):
    """BM25+ adds idf·δ per matched term, so every candidate's score
    strictly exceeds its plain-BM25 score (δ=1, idf>0 on this corpus)."""
    from searchengine_spark.operators import serve

    base = {
        r["doc_id"]: r["score_micros"]
        for r in serve.bm25_scores(spark, idx, TERMS).collect()
    }
    plus = {
        r["doc_id"]: r["score_micros"]
        for r in serve.bm25plus_topk(spark, idx, TERMS, k=10_000).collect()
    }
    assert set(plus) == set(base)
    assert all(plus[d] > base[d] for d in base)


