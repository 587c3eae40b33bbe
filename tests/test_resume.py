"""Resume + determinism guarantees (north rule: checkpoint-resumable;
rank-identity across parallelism levels)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark.plans.build_index import build_index, load_index
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
    Returns the resumed manifest's stages."""
    ref_dir = str(tmp_path_factory.mktemp("ref"))
    build_index(spark, frame, ref_dir, **kw)
    ref = _index_hashes(spark, load_index(spark, ref_dir))

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
    got = _index_hashes(spark, load_index(spark, kill_dir))
    assert got == ref

    with open(os.path.join(kill_dir, "_manifest.json")) as f:
        return set(json.load(f)["stages"])


def test_kill_resume_identical(spark, tmp_path_factory, monkeypatch):
    corpus = generate_corpus(spark, N_DOCS, seed=42, n_partitions=4)
    stages = _kill_resume(spark, tmp_path_factory, monkeypatch, corpus)
    # and the earlier stages were NOT recomputed: manifest fingerprints match
    assert stages >= {"documents_raw", "postings", "lexicon", "segments"}


def test_kill_resume_identical_documents(spark, tmp_path_factory, monkeypatch):
    """The gate index's build: a documents table under the simple analyzer
    keeps its doc_ids, skips ingest and resumes the same way."""
    stages = _kill_resume(
        spark, tmp_path_factory, monkeypatch, _documents(spark), analyzer="simple"
    )
    assert stages == {"postings", "lexicon", "segments"}


def test_gate_index_manifest_and_lineage(spark, tmp_path, monkeypatch):
    """The gate index is a build_index run: its directory holds the build
    manifest (with the scalars that replaced meta.json) and lineage rows
    for postings, lexicon and segments."""
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
    lineage = spark.read.parquet(os.path.join(idx["dir"], "lineage"))
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"postings", "lexicon", "segments"} <= stages
    # the documents' own ids, not ingest-assigned ones
    doc_ids = {r["doc_id"] for r in idx["postings"].select("doc_id").distinct().collect()}
    assert doc_ids <= set(range(N_DOCS)) and len(doc_ids) > N_DOCS // 2


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
