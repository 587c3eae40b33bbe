"""Codec round-trip properties (SURVEY.md §5.2) — hypothesis-driven."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.operators.codec import (
    decode_block,
    decode_positions,
    encode_blocks,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert varint_decode(varint_encode(arr), len(arr)).tolist() == values


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**12),  # doc_id
            st.integers(min_value=1, max_value=1000),  # tf
            st.integers(min_value=1, max_value=100000),  # doc_len
            st.lists(st.integers(min_value=0, max_value=10**6), min_size=0, max_size=20),
        ),
        min_size=1,
        max_size=400,
        unique_by=lambda t: t[0],
    ),
    st.floats(min_value=0.01, max_value=20.0),
)
@settings(max_examples=60, deadline=None)
def test_block_roundtrip(postings, idf):
    postings.sort(key=lambda t: t[0])
    doc_ids = np.array([p[0] for p in postings], dtype=np.uint64)
    tfs = np.array([p[1] for p in postings], dtype=np.uint64)
    dls = np.array([p[2] for p in postings], dtype=np.uint64)
    positions = [sorted(p[3]) for p in postings]
    blocks = encode_blocks(doc_ids, tfs, dls, positions, idf=idf, avgdl=50.0, block_size=64)

    got_ids, got_tfs, got_dls, got_pos = [], [], [], []
    for b in blocks:
        i, t, d = decode_block(b)
        got_ids += i.tolist()
        got_tfs += t.tolist()
        got_dls += d.tolist()
        got_pos += [p.tolist() for p in decode_positions(b)]
        assert b["skip_doc_id"] == int(i[-1])
    assert got_ids == doc_ids.astype(np.int64).tolist()
    assert got_tfs == tfs.astype(np.int64).tolist()
    assert got_dls == dls.astype(np.int64).tolist()
    assert got_pos == positions

    # block_max is a true upper bound of every contribution in the block
    from searchengine_spark.operators.codec import bm25_contrib

    for b in blocks:
        i, t, d = decode_block(b)
        contribs = bm25_contrib(t, d, idf, 50.0)
        assert (contribs <= b["block_max_score"] + 1e-12).all()


def test_bitpack_roundtrip_and_width():
    """FOR bit-packing: exact roundtrip across widths (0, 1-bit, boundary
    powers of two, 63-bit), and the packed size is the predicted
    ceil(n*b/8) + 1 header byte."""
    import numpy as np

    from searchengine_spark.operators.codec import bitpack_decode, bitpack_encode

    cases = [
        np.array([], dtype=np.uint64),
        np.array([0], dtype=np.uint64),
        np.array([0, 1, 1, 0, 1], dtype=np.uint64),
        np.array([1, 2, 4, 8, 16, 255, 256, 257], dtype=np.uint64),
        np.array([2**40, 1, 2**63 - 1, 7], dtype=np.uint64),
        np.arange(1000, dtype=np.uint64) * 37 + 5,
    ]
    for v in cases:
        buf = bitpack_encode(v)
        out = bitpack_decode(buf, len(v))
        assert out.tolist() == v.tolist()
        if len(v):
            b = max(1, int(v.max()).bit_length())
            assert len(buf) == 1 + (len(v) * b + 7) // 8
        assert buf[0] >= 1


def test_bitpack_beats_varint_on_small_gaps():
    """Dense posting gaps (the common case) pack tighter than varint: 1000
    gaps of ≤15 cost 4 bits each packed vs a full byte each varinted."""
    import numpy as np

    from searchengine_spark.operators.codec import bitpack_encode, varint_encode

    gaps = (np.arange(1000, dtype=np.uint64) % 15) + 1
    assert len(bitpack_encode(gaps)) < len(varint_encode(gaps)) / 1.9


def test_bm25_contrib_column_equals_numpy(spark):
    """The two BM25 forms — ``serve._bm25_contrib`` (Column, every
    postings-served scorer) and ``codec.bm25_contrib`` (numpy, every
    segment-served scorer) — agree to the bit, so to the micro, over random
    (tf, dl, idf, avgdl)."""
    from searchengine_spark.operators.codec import bm25_contrib
    from searchengine_spark.operators.serve import _bm25_contrib

    rng = np.random.default_rng(7)
    tf = rng.integers(1, 1000, 300)
    dl = rng.integers(1, 100_000, 300)
    idf = rng.uniform(0.01, 20.0, 300)
    rows = [(int(a), int(b), float(c)) for a, b, c in zip(tf, dl, idf)]
    df = spark.createDataFrame(rows, "tf int, dl long, idf_bm25 double")
    for avgdl in (1.0, 37.5, float(rng.uniform(1.0, 5000.0))):
        got = [r["c"] for r in df.select(_bm25_contrib(avgdl).alias("c")).collect()]
        want = [float(bm25_contrib(np.array([a]), np.array([b]), c, avgdl)[0]) for a, b, c in rows]
        assert got == want
