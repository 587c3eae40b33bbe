"""Corpus-distribution analytics + containment dedup + rerank serving:
semantic properties the hash gates can't see (sign/zero structure of KL,
Zipf slope direction, containment of a literal subset, rerank bounds)."""

from __future__ import annotations

from searchengine_spark.operators import corpusstats, dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_domain_kl_zero_for_identical_distributions(spark):
    # both sources have the exact same unigram distribution → KL == 0
    rows = [
        (0, "alpha beta beta gamma", "s0"),
        (1, "alpha beta beta gamma", "s1"),
    ]
    out = {
        r["source"]: r for r in corpusstats.domain_kl_drift(_docs(spark, rows)).collect()
    }
    assert out["s0"]["kl_nanos"] == 0 and out["s1"]["kl_nanos"] == 0
    assert out["s0"]["n_tokens"] == 4


def test_domain_kl_positive_for_disjoint_vocab(spark):
    rows = [
        (0, "alpha alpha alpha alpha", "s0"),
        (1, "beta beta beta beta", "s1"),
    ]
    out = corpusstats.domain_kl_drift(_docs(spark, rows)).collect()
    # each source's distribution is maximally far from the 50/50 corpus:
    # KL = ln(2) ≈ 0.6931e9 nanos, identical for both by symmetry
    vals = sorted(r["kl_nanos"] for r in out)
    assert vals[0] == vals[1]
    assert abs(vals[0] - 693_147_181) <= 2  # ln(2) in nanos


def test_zipf_slope_sign_and_shape(spark):
    # geometric frequencies: term_i repeated 2^(8-i) times → ln f linear in
    # i but convex in ln(rank); the OLS slope must be strongly negative
    rows = []
    did = 0
    for i in range(8):
        for _ in range(2 ** (8 - i)):
            rows.append((did, f"term{i}", "s"))
            did += 1
    out = corpusstats.zipf_slope(_docs(spark, rows), top_n=100).collect()[0]
    assert out["n_terms"] == 8
    assert out["slope_micros"] < -1_000_000  # steeper than -1
    assert out["intercept_micros"] > 0


def test_containment_catches_subset_quote(spark):
    # doc 1 quotes doc 0 verbatim inside much longer text: Jaccard is low
    # but containment(doc0 ⊂ doc1) is exactly 1.0
    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(60))
    rows = [
        (0, quote, "s"),
        (1, filler + " " + quote + " " + filler.replace("w", "v"), "s"),
    ]
    docs = _docs(spark, rows)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["containment_ppm"]
        for r in dedup.containment_pairs(
            docs, n=3, threshold_ppm=100_000, max_shingle_df=None
        ).collect()
    }
    assert pairs[(0, 1)] == 1_000_000  # every shingle of the quote is in doc 1
    assert (1, 0) not in pairs  # reverse containment is far below threshold
    jac = dedup.ngram_jaccard_pairs(docs, n=3, threshold_micros=0).collect()
    jrow = [r for r in jac if r["doc_a"] == 0 and r["doc_b"] == 1][0]
    assert jrow["jaccard_micros"] < 100_000  # Jaccard misses what containment sees


def test_containment_df_cap_drops_hot_shingles(spark):
    # a boilerplate shingle shared by everyone is excluded by the df cap,
    # so no pair survives on boilerplate alone
    boiler = "all rights reserved worldwide"
    rows = [(i, f"u{i} v{i} {boiler}", "s") for i in range(12)]
    out = dedup.containment_pairs(
        _docs(spark, rows), n=3, threshold_ppm=100_000, max_shingle_df=4
    ).collect()
    assert out == []


def test_heaps_law_sublinear_growth(spark):
    # doc i introduces exactly ONE new term plus i repeats of a common one:
    # V grows linearly in docs while N grows quadratically → β ≈ 0.5
    rows = [(i, "t" + str(i) + (" common" * (i + 1)), "s") for i in range(40)]
    out = corpusstats.heaps_law(_docs(spark, rows), n_checkpoints=10).collect()[0]
    assert out["n_terms"] == 10
    assert 300_000 < out["slope_micros"] < 900_000  # strictly sublinear, ~0.5

    # the driver corpus has a tiny CLOSED vocabulary: growth saturates at
    # the first checkpoint, so the fitted β degenerates to exactly 0 —
    # the right answer for that corpus, and the gate hash pins it
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sat = corpusstats.heaps_law(docs, n_checkpoints=10).collect()[0]
    assert sat["n_terms"] == 10 and sat["slope_micros"] == 0


def test_crawl_schedule_slots_dense_per_host(spark):
    from searchengine_spark.operators.fetch import crawl_schedule
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = crawl_schedule(docs, n_hosts=7, delay_ms=500).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host) == 7
    for host, rows in by_host.items():
        slots = sorted(r["slot"] for r in rows)
        assert slots == list(range(1, len(rows) + 1))  # dense, no gaps/dups
        for r in rows:
            assert r["fetch_offset_ms"] == (r["slot"] - 1) * 500
