"""Resume + determinism guarantees (north rule: checkpoint-resumable;
rank-identity across parallelism levels)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark.plans.build_index import build_index, ensure_segments, load_index
from searchengine_spark.sources.corpus import generate_corpus, generate_corpus_pdf

N_DOCS = 120


def _index_hashes(spark, index) -> dict:
    """Content hashes of every index table (order-insensitive)."""
    cols = {
        "documents": ["doc_id", "url", "content_sha256", "doc_len"],
        "postings": ["term", "doc_id", "tf", "dl", F.to_json("positions")],
        "lexicon": ["term", "df", "cf", "bucket"],
        "segments": ["shard", "term", "block_id", "doc_ids_delta_varint", "tfs_varint"],
    }
    return {
        t: index[t].select(F.bit_xor(F.xxhash64(*c)).alias("h")).collect()[0]["h"]
        for t, c in cols.items()
        if t in index  # a documents-table build publishes no documents
    }


def _documents(spark):
    """A documents table (doc_id, text): the gate index's input shape."""
    texts = generate_corpus_pdf(N_DOCS, seed=42)["content"].tolist()[:N_DOCS]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(N_DOCS), "text": texts}),
        "doc_id long, text string",
    )


def _kill_resume(spark, tmp_path_factory, monkeypatch, frame, **kw) -> set:
    """Build ``frame`` uninterrupted, then kill a second build inside the
    lexicon stage and resume it: the resumed index must hash identically.
    Returns the stages the resumed build recorded."""
    ref_dir = str(tmp_path_factory.mktemp("ref"))
    build_index(spark, frame, ref_dir, **kw)
    ref = _index_hashes(spark, _with_segments(spark, ref_dir))

    # killed build: blow up inside the lexicon stage on the first attempt
    kill_dir = str(tmp_path_factory.mktemp("kill"))
    import searchengine_spark.operators.postings as postings_ops

    real = postings_ops.build_lexicon
    calls = {"n": 0}

    def bomb(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("simulated kill during lexicon stage")

    monkeypatch.setattr(postings_ops, "build_lexicon", bomb)
    with pytest.raises(RuntimeError):
        build_index(spark, frame, kill_dir, **kw)
    assert calls["n"] == 1
    monkeypatch.setattr(postings_ops, "build_lexicon", real)

    # resume must complete and produce a byte-identical index
    build_index(spark, frame, kill_dir, **kw)
    with open(os.path.join(kill_dir, "_manifest.json")) as f:
        stages = set(json.load(f)["stages"])
    got = _index_hashes(spark, _with_segments(spark, kill_dir))
    assert got == ref
    return stages


def _with_segments(spark, index_dir: str) -> dict:
    """The index's tables, segments included: a documents-table build
    publishes none, so they are encoded here (``ensure_segments``)."""
    return {**load_index(spark, index_dir), "segments": ensure_segments(spark, index_dir)}


def test_kill_resume_identical(spark, tmp_path_factory, monkeypatch):
    corpus = generate_corpus(spark, N_DOCS, seed=42, n_partitions=4)
    stages = _kill_resume(spark, tmp_path_factory, monkeypatch, corpus)
    # and the earlier stages were NOT recomputed: manifest fingerprints match
    assert stages >= {"documents_raw", "postings", "lexicon", "segments"}


def test_kill_resume_identical_documents(spark, tmp_path_factory, monkeypatch):
    """The gate index's build: a documents table under the simple analyzer
    keeps its doc_ids, skips ingest, publishes no segments and resumes the
    same way (its segments, encoded afterwards, hash identically too)."""
    stages = _kill_resume(
        spark, tmp_path_factory, monkeypatch, _documents(spark), analyzer="simple"
    )
    assert stages == {"postings", "lexicon"}


def test_gate_index_manifest_and_lineage(spark, tmp_path, monkeypatch):
    """The gate index is a build_index run: its directory holds the build
    manifest (with the scalars that replaced meta.json) and lineage rows
    for postings and lexicon, and for segments once they are encoded."""
    from searchengine_spark.plans.gate_index import gate_index

    sf = tmp_path / "sf"
    sf.mkdir()
    _documents(spark).toPandas().to_parquet(sf / "documents.parquet", index=False)
    monkeypatch.setenv("TMPDIR", str(tmp_path))  # the gate-index cache root
    idx = gate_index(spark, str(sf))

    with open(os.path.join(idx["dir"], "_manifest.json")) as f:
        lex = json.load(f)["stages"]["lexicon"]["metrics"]
    assert (lex["n_docs"], lex["sum_dl"]) == (idx["n_docs"], idx["sum_dl"])
    assert idx["n_docs"] == N_DOCS and idx["avgdl"] == idx["sum_dl"] / N_DOCS > 0
    assert not os.path.exists(os.path.join(idx["dir"], "meta.json"))

    def lineage_stages() -> set:
        lineage = spark.read.parquet(os.path.join(idx["dir"], "lineage"))
        return {r["stage"] for r in lineage.select("stage").distinct().collect()}

    assert lineage_stages() == {"postings", "lexicon"}
    ensure_segments(spark, idx["dir"])
    assert lineage_stages() == {"postings", "lexicon", "segments"}
    # the documents' own ids, not ingest-assigned ones
    doc_ids = {r["doc_id"] for r in idx["postings"].select("doc_id").distinct().collect()}
    assert doc_ids <= set(range(N_DOCS)) and len(doc_ids) > N_DOCS // 2


def test_cached_index_removes_superseded_versions(spark, tmp_path, monkeypatch):
    """Publishing ``probe3-<digest>`` deletes the lower versions of
    ``probe`` and nothing else: not the same version under another digest,
    not a newer version, not another name (one sharing the prefix
    included)."""
    from searchengine_spark.plans.gate_index import _cache_root, cached_index

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    root = _cache_root()
    seeded = ["probe2-0123456789abcdef", "probe3-fedcba9876543210",
              "probe4-0123456789abcdef", "other2-0123456789abcdef",
              "probes1-0123456789abcdef"]
    for d in seeded:
        os.makedirs(os.path.join(root, d))

    def build(spark, sf_dir, base):
        open(os.path.join(base, "built"), "w").close()

    idx = cached_index(
        spark, str(tmp_path / "sf"), "probe", 3, build, lambda spark, base: {"dir": base}
    )
    assert os.path.exists(os.path.join(idx["dir"], "built"))
    assert sorted(os.listdir(root)) == sorted(seeded[1:] + [os.path.basename(idx["dir"])])


def test_partitioning_independence(spark, tmp_path_factory):
    """Same corpus, different partition counts → identical index content
    (the sandbox proxy for N vs 4N executors; doc_ids are rank-based)."""
    corpus = generate_corpus(spark, N_DOCS, seed=42)
    a_dir = str(tmp_path_factory.mktemp("p3"))
    b_dir = str(tmp_path_factory.mktemp("p8"))
    build_index(spark, corpus.repartition(3), a_dir, n_partitions=3)
    build_index(spark, corpus.repartition(8), b_dir, n_partitions=8)
    a = _index_hashes(spark, load_index(spark, a_dir))
    b = _index_hashes(spark, load_index(spark, b_dir))
    assert a == b


def test_lineage_metrics_present(spark, tmp_path_factory):
    corpus = generate_corpus(spark, N_DOCS, seed=42, n_partitions=4)
    d = str(tmp_path_factory.mktemp("lin"))
    build_index(spark, corpus, d)
    lineage = spark.read.parquet(f"{d}/lineage")
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"documents", "postings", "lexicon", "segments"} <= stages
    post_row = lineage.filter(F.col("stage") == "postings").limit(1).collect()[0]
    assert post_row["postings_out"] > 0
    assert post_row["bytes_compressed"] > 0
    assert post_row["skew_ratio"] >= 1.0
    assert post_row["input_fingerprint"]


def test_no_pagerank_documents_keep_every_raw_row(spark, tmp_path):
    """A build without PageRank publishes documents_raw row for row, each
    with ``pagerank == 0.0``, in the documents schema."""
    from searchengine_spark import schemas

    d = str(tmp_path / "idx")
    build_index(spark, generate_corpus(spark, N_DOCS, seed=7), d, with_pagerank=False)
    raw = spark.read.parquet(os.path.join(d, "documents_raw"))
    docs = load_index(spark, d)["documents"]
    assert docs.columns == schemas.DOCUMENTS.names
    key = ["doc_id", "url", "content_sha256"]
    assert sorted(docs.select(*key).collect()) == sorted(raw.select(*key).collect())
    assert raw.count() > 0
    assert {r["pagerank"] for r in docs.select("pagerank").distinct().collect()} == {0.0}
