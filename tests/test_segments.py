"""Segment path end-to-end: the block-max and phrase top-k over the
compressed segments must rank like the uncompressed BM25 join path, with
micros scores within rounding of its float scores."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators.query import search_bm25
from searchengine_spark.operators.segments import blockmax_topk_micros, phrase_topk_micros
from searchengine_spark.functions.textproc import query_tokenize
from searchengine_spark.plans.build_index import build_index, load_index
from searchengine_spark.sources.corpus import generate_corpus

N_DOCS = 200

QUERIES = ["spark", "index search engine", "return import def", "tested testing meetings"]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    corpus = generate_corpus(spark, N_DOCS, seed=42, n_partitions=8)
    index_dir = str(tmp_path_factory.mktemp("segidx"))
    build_index(spark, corpus, index_dir)
    return {**load_index(spark, index_dir), "dir": index_dir}


def _assert_same_ranking(got, want, n_terms: int) -> None:
    """Same doc ids in the same order; each micros score within one
    rounding step per term of the float score (each term contribution is
    rounded before the sum)."""
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score_micros"] - round(w["score"] * 1e6)) <= n_terms, (g, w)


def test_avgdl_from_manifest(index):
    """load_index's manifest avgdl equals the documents table's mean doc_len."""
    stats = index["documents"].agg(F.sum("doc_len").alias("s"), F.count(F.lit(1)).alias("c")).collect()[0]
    assert index["avgdl"] == float(stats["s"]) / float(stats["c"])


@pytest.mark.parametrize("query", QUERIES)
def test_wand_equals_join_path(spark, index, query):
    terms = query_tokenize(query)
    got = blockmax_topk_micros(
        spark, index["segments"], index["lexicon"], terms, index["avgdl"], k=10
    ).collect()
    want = search_bm25(
        spark, index["postings"], index["lexicon"], index["documents"], query, k=10
    ).collect()
    assert got
    _assert_same_ranking(got, want, len(set(terms)))


def test_segment_compression_ratio(index):
    """Compressed segments must actually compress: binary blobs smaller than
    raw 8-byte-per-posting encoding."""
    seg = index["segments"]
    row = seg.agg(
        F.sum(F.length("doc_ids_delta_varint")).alias("b"),
        F.sum("n_postings").alias("n"),
    ).collect()[0]
    assert row["b"] < 8 * row["n"]


def test_merge_associativity(spark, index, tmp_path_factory):
    """Union of partition-local segment merges == single-shot build: encoding
    the same postings in two halves then merging yields identical decoded
    postings (SURVEY.md §5.2)."""
    from searchengine_spark.operators.segments import encode_segments, merge_segments
    from searchengine_spark.operators import codec

    post = index["postings"]
    lex = index["lexicon"]
    avgdl = index["avgdl"]
    half_a = post.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    half_b = post.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    merged = merge_segments(
        encode_segments(half_a, lex, avgdl), encode_segments(half_b, lex, avgdl)
    )
    single = encode_segments(post, lex, avgdl)

    def decode_all(df):
        out = {}
        for row in df.collect():
            b = row.asDict()
            ids, tfs, dls = codec.decode_block(b)
            key = (b["shard"], b["term"])
            cur = out.setdefault(key, [])
            cur += list(zip(ids.tolist(), tfs.tolist(), dls.tolist()))
        return {k: sorted(v) for k, v in out.items()}

    assert decode_all(merged) == decode_all(single)


def _parquet_files_per_dir(table_dir: str) -> dict[str, list[str]]:
    """{partition dir name: paths of the parquet files in it}."""
    return {
        d: [
            os.path.join(table_dir, d, f)
            for f in os.listdir(os.path.join(table_dir, d))
            if f.endswith(".parquet")
        ]
        for d in os.listdir(table_dir)
        if "=" in d
    }


def test_one_file_per_bucket_shard(spark, index, tmp_path_factory):
    """Segment encode clusters on (bucket, shard), so the bucket-partitioned
    write puts one file per shard in each bucket=* directory instead of one
    per encode task."""
    # single-shard index: exactly one file per bucket directory
    files = _parquet_files_per_dir(os.path.join(index["dir"], "segments"))
    assert files and {len(f) for f in files.values()} == {1}

    # multi-shard index: each (bucket, shard) group lies in exactly one
    # file (two shards of a bucket may share a file when they hash to the
    # same task)
    import pyarrow.parquet as pq

    corpus = generate_corpus(spark, N_DOCS, seed=42, n_partitions=8)
    multi_dir = str(tmp_path_factory.mktemp("segidx_multi"))
    build_index(spark, corpus, multi_dir, with_pagerank=False, shard_span=N_DOCS // 4)
    n_shards = []
    for d, paths in _parquet_files_per_dir(os.path.join(multi_dir, "segments")).items():
        per_file = [set(pq.read_table(p, columns=["shard"])["shard"].to_pylist()) for p in paths]
        union = set().union(*per_file)
        assert sum(map(len, per_file)) == len(union), (d, per_file)
        n_shards.append(len(union))
    assert max(n_shards) > 1


def test_gate_index_one_file_per_bucket(spark, index):
    """The gate index's postings, segments and docvecs directories hold one
    parquet file per bucket (one shard at this size), and so do the
    postings build_index publishes from a corpus."""
    from searchengine_spark.plans.gate_index import gate_index

    base = gate_index(spark, "/root/testdata/sf0.001")["dir"]
    tables = [os.path.join(base, t) for t in ("postings", "segments", "docvecs")]
    for table in tables + [os.path.join(index["dir"], "postings")]:
        files = _parquet_files_per_dir(table)
        assert files and {len(f) for f in files.values()} == {1}, (table, files)


@pytest.mark.parametrize(
    "query",
    [
        '"index build"',  # both terms survive index tokenization → matches
        # "inverted" crude-stems to "inver" at index time but Porter-stems to
        # "invert" at query time (quirk Q2) → exact phrase unmatchable even
        # though the raw text contains it — both paths must agree on empty
        '"inverted index build"',
    ],
)
def test_wand_phrase_equals_join_path(spark, index, query):
    """Phrase top-k served from compressed segments == positional phrase
    over raw postings (same docs, scores within rounding)."""
    phrase_terms = query_tokenize(query[1:-1])
    got = phrase_topk_micros(
        spark, index["segments"], index["lexicon"], phrase_terms, index["avgdl"], k=10
    ).collect()
    want = search_bm25(
        spark, index["postings"], index["lexicon"], index["documents"], query, k=10
    ).collect()
    _assert_same_ranking(got, want, len(set(phrase_terms)))


def test_wand_phrase_repeated_term(spark, index):
    """Repeated-term phrase must use the FULL term sequence for adjacency —
    dedup-before-adjacency would match the shortened phrase (review finding)."""
    from searchengine_spark.operators.segments import _phrase_micros_in_shard
    import numpy as np
    from searchengine_spark.operators import codec

    # craft one shard: doc 1 has "spark spark", doc 2 only "spark data spark"
    def blocks_for(postings):  # {doc: positions}
        ids = np.array(sorted(postings), dtype=np.uint64)
        tfs = np.array([len(postings[d]) for d in sorted(postings)], dtype=np.uint64)
        dls = np.array([10] * len(ids), dtype=np.uint64)
        pos = [postings[d] for d in sorted(postings)]
        bl = codec.encode_blocks(ids, tfs, dls, pos, idf=1.0, avgdl=10.0)
        for b in bl:
            b["term"] = "spark"
        return bl

    term_blocks = {"spark": blocks_for({1: [0, 1], 2: [0, 2]})}
    got = _phrase_micros_in_shard(term_blocks, ["spark", "spark"], {"spark": 1.0}, 10.0, 10)
    assert [d for _, d, _ in got] == [1]  # only doc 1 has adjacent repeat

    # and via the public API on the real index: "index index" (never adjacent)
    got2 = phrase_topk_micros(
        spark, index["segments"], index["lexicon"], ["index", "index"], index["avgdl"], k=5
    ).collect()
    want2 = search_bm25(
        spark, index["postings"], index["lexicon"], index["documents"],
        '"index index"', k=5,
    ).collect()
    _assert_same_ranking(got2, want2, 1)


def test_run_queries_cli_matches_bm25(spark, index, capsys):
    """``run_queries --mode wand`` prints rank, doc_id, url, score_micros
    per hit, with the same doc ids and urls as ``--mode bm25``, for a plain
    and a phrase query."""
    import json

    from searchengine_spark.jobs import run_queries

    # main() re-applies session confs (AQE off for serving) to the shared
    # session; put them back for the rest of the suite
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for query in ["index search engine", '"index build"']:
            out = {}
            for mode in ("wand", "bm25"):
                argv = ["--index", index["dir"], "--query", query, "--mode", mode]
                assert run_queries.main(argv) == 0
                lines = capsys.readouterr().out.splitlines()
                out[mode] = [json.loads(ln) for ln in lines if ln.startswith("{")]
            assert out["wand"], query
            assert all(list(r) == ["rank", "doc_id", "url", "score_micros"] for r in out["wand"])
            assert [(r["doc_id"], r["url"]) for r in out["wand"]] == [
                (r["doc_id"], r["url"]) for r in out["bm25"]
            ], query
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_compaction_plan_policy():
    """Size-tiered planner: same-tier generations group oldest-first, tiers
    with one member stay untouched, groups cap at max_merge."""
    from searchengine_spark.operators.segments import plan_compaction

    sizes = {"g0": 100, "g1": 120, "g2": 110, "g3": 5000, "g4": 90, "g5": 130}
    plan = plan_compaction(sizes, tier_ratio=4.0, min_merge=2, max_merge=4)
    flat = [n for g in plan for n in g]
    assert "g3" in sizes and "g3" not in flat  # lone big tier untouched
    assert all(len(g) >= 2 for g in plan)
    assert flat == sorted(flat)  # oldest-first, deterministic
    assert max(len(g) for g in plan) <= 4


def test_compaction_preserves_postings(spark):
    """Compacting four single-quarter generations must decode to exactly
    the postings of a single-shot build (the merge-associativity property,
    exercised through the planner + executor)."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators.segments import (
        _segments_from_docs,
        compact_generations,
        decode_postings,
        plan_compaction,
    )
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    gens = {
        f"g{q}": _segments_from_docs(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == q), shard_span=64
        )
        for q in range(4)
    }
    plan = plan_compaction({name: 1000 for name in gens})  # same tier -> one group
    assert plan == [[f"g{q}" for q in range(4)]]
    compacted = compact_generations(gens, plan)
    assert len(compacted) == 1
    got = {
        (r.term, r.doc_id, r.tf)
        for r in decode_postings(next(iter(compacted.values()))).collect()
    }
    want = {
        (r.term, r.doc_id, r.tf)
        for r in decode_postings(_segments_from_docs(docs, shard_span=64)).collect()
    }
    assert got == want
