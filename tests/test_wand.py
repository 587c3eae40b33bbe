"""Segment top-k executors == brute force (property, SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.operators import codec
from searchengine_spark.operators.segments import (
    _blockmax_seg_shard,
    _exhaustive_seg_shard,
    _micros,
    phrase_topk_micros,
)

IDFS = {"alpha": 2.3, "beta": 0.7, "gamma": 4.1, "delta": 1.0}
AVGDL = 80.0


def brute_force_micros(term_postings, k):
    """Per-doc sum of per-term micros contributions, ordered by score desc
    then doc id."""
    scores: dict[int, int] = {}
    for term, posts in term_postings.items():
        for doc_id, tf, dl in posts:
            c = codec.bm25_contrib(np.array([tf]), np.array([dl]), IDFS[term], AVGDL)
            scores[doc_id] = scores.get(doc_id, 0) + int(_micros(c)[0])
    return sorted(((s, d) for d, s in scores.items()), key=lambda t: (-t[0], t[1]))[:k]


def term_blocks_of(term_postings, block_size):
    term_blocks = {}
    for term, posts in term_postings.items():
        posts = sorted(posts)
        ids = np.array([p[0] for p in posts], dtype=np.uint64)
        tfs = np.array([p[1] for p in posts], dtype=np.uint64)
        dls = np.array([p[2] for p in posts], dtype=np.uint64)
        blocks = codec.encode_blocks(
            ids, tfs, dls, [[] for _ in posts], idf=IDFS[term], avgdl=AVGDL,
            block_size=block_size,
        )
        for b in blocks:
            b["bucket"] = 0
            b["shard"] = 0
            b["term"] = term
        term_blocks[term] = blocks
    return term_blocks


def _posting_lists(min_size: int):
    return st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3000),
            st.integers(min_value=1, max_value=30),
            st.integers(min_value=5, max_value=500),
        ),
        min_size=min_size,
        max_size=300,
        unique_by=lambda t: t[0],
    )


def _term_postings():
    return st.dictionaries(
        st.sampled_from(["alpha", "beta", "gamma", "delta"]),
        # short lists, and lists long enough (> 32 blocks of 2) to take the
        # block-bound path beside the eagerly decoded one
        st.one_of(_posting_lists(1), _posting_lists(65)),
        min_size=1,
        max_size=4,
    )


# block_size=16 → ≤19 blocks/term (all-eager path); block_size=2 → up to
# 150 blocks (block-level bounds + mixed eager/block path)
BLOCK_SIZES = (16, 2)


@given(_term_postings(), st.integers(min_value=1, max_value=12))
@settings(max_examples=80, deadline=None)
def test_wand_equals_bruteforce(term_postings, k):
    """Block-max WAND (interval sweep) == brute force, in exact micros:
    pruning never changes the answer."""
    want = brute_force_micros(term_postings, k)
    for bs in BLOCK_SIZES:
        bm = _blockmax_seg_shard(term_blocks_of(term_postings, bs), IDFS, AVGDL, k)
        assert [(s, d) for s, d, _ in bm] == want, bs


@given(_term_postings(), st.integers(min_value=1, max_value=12))
@settings(max_examples=80, deadline=None)
def test_blockmax_and_seg_exhaustive_equal_wand(term_postings, k):
    """The no-skipping reference (decode all) returns exactly what block-max
    WAND returns, and both equal brute force."""
    want = brute_force_micros(term_postings, k)
    for bs in BLOCK_SIZES:
        bm = _blockmax_seg_shard(term_blocks_of(term_postings, bs), IDFS, AVGDL, k)
        ex = _exhaustive_seg_shard(term_blocks_of(term_postings, bs), IDFS, AVGDL, k)
        assert [(s, d) for s, d, _ in ex] == [(s, d) for s, d, _ in bm], bs
        assert [(s, d) for s, d, _ in ex] == want, bs


def test_phrase_micros_equals_columnar(spark):
    """The segments-served scored phrase (positions decoded from blobs)
    must equal the columnar phrase_topk row-for-row in exact micros."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.build_index import ensure_segments
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, "/root/testdata/sf0.001")
    seg = ensure_segments(spark, idx["dir"])

    def micros(phrase):
        return phrase_topk_micros(spark, seg, idx["lexicon"], phrase, idx["avgdl"], k=10)

    cols = serve.phrase_topk(spark, idx, ["hash", "join"], k=10).collect()
    wand = micros(["hash", "join"]).collect()
    assert [tuple(r) for r in cols] == [tuple(r) for r in wand] and cols
    # absent term -> unmatchable phrase, empty on both paths
    assert micros(["hash", "zzznope"]).count() == 0


def test_phrase_freq_consistent_with_phrase_match(spark):
    """phrase_freq_topk's doc set == phrase_match's (same adjacency), and
    every phrase_freq >= 1; score is monotone in pf for equal dl."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, "/root/testdata/sf0.001")
    phrase = ["hash", "join"]
    match_ids = {r["doc_id"] for r in serve.phrase_match(spark, idx, phrase).collect()}
    scored = serve.phrase_freq_topk(spark, idx, phrase, k=10_000).collect()
    assert {r["doc_id"] for r in scored} == match_ids
    assert all(r["phrase_freq"] >= 1 for r in scored)


def test_span_first_topk_bounds(spark):
    """Every result's first occurrence is inside the window, and the doc
    set equals the brute positions check at gate scale."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, "/root/testdata/sf0.001")
    out = serve.span_first_topk(spark, idx, "spark", k=10_000, max_pos=8).collect()
    assert all(0 <= r["first_pos"] < 8 for r in out)
    brute = (
        idx["postings"]
        .filter(F.col("term") == "spark")
        .select("doc_id", F.element_at("positions", 1).alias("fp"))
        .filter(F.col("fp") < 8)
        .count()
    )
    assert len(out) == brute
