"""Structured Streaming smoke: file source → tokenize → foreachBatch sink,
and watermarked fingerprint dedup — each drained synchronously."""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import functions as F

from searchengine_spark.operators.postings import _reference_postings
from searchengine_spark.schemas import CORPUS


def test_stream_corpus_to_postings(spark, tmp_path):
    from searchengine_spark.sources.corpus import generate_corpus
    from searchengine_spark.streaming.ingest import stream_corpus_to_postings

    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "post")
    ckpt = str(tmp_path / "ckpt")
    generate_corpus(spark, 50, seed=42).write.parquet(corpus_dir)

    q = stream_corpus_to_postings(spark, corpus_dir, out_dir, ckpt)
    q.awaitTermination(120)  # availableNow trigger → terminates when drained

    batches = [d for d in os.listdir(out_dir) if d.startswith("batch=")]
    assert batches
    post = spark.read.parquet(os.path.join(out_dir, "*"))

    # the stream tokenizes exactly as the batch build does: the same corpus,
    # given the stream's doc-id expression, through the batch tokenizer
    docs = spark.read.schema(CORPUS).parquet(corpus_dir).withColumn(
        "doc_id", F.abs(F.xxhash64("repo", "path", "commit")) % F.lit(1 << 60)
    )
    cols = ["doc_id", "term", "tf", "positions", "dl", "term_h1", "term_h2", "term_h3"]

    def rows(df):
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        )

    streamed = rows(post)
    assert streamed
    assert streamed == rows(_reference_postings(docs))


def test_stream_batch_publish_is_atomic(spark, tmp_path):
    """The postings sink publishes ``batch=<id>`` by tmp write + rename: a
    batch whose write raises leaves no visible ``batch=<id>`` (and no tmp
    directory), and a failed replay of a published batch keeps its rows."""
    import pytest

    from searchengine_spark.streaming.ingest import publish_batch

    out_dir = str(tmp_path / "post")
    good = spark.range(3).withColumnRenamed("id", "doc_id")
    bad = good.select(F.raise_error(F.lit("simulated write failure")).alias("doc_id"))

    publish_batch(good, 0, out_dir)
    with pytest.raises(Exception, match="simulated write failure"):
        publish_batch(bad, 1, out_dir)
    with pytest.raises(Exception, match="simulated write failure"):
        publish_batch(bad, 0, out_dir)
    assert os.listdir(out_dir) == ["batch=0"]
    rows = spark.read.parquet(os.path.join(out_dir, "batch=0")).collect()
    assert sorted(r["doc_id"] for r in rows) == [0, 1, 2]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming fingerprint dedup == batch dropDuplicates on fingerprint
    when all rows fall inside the watermark: same fingerprint SET, exactly
    one survivor each (which arrival survives is a streaming-order detail,
    so the assertion is set-level)."""
    import datetime as dt

    from searchengine_spark.streaming.ingest import stream_dedup_pages

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (f"http://h/{i}", f"fp{i % 4}", t0 + dt.timedelta(minutes=i), f"body {i}")
        for i in range(12)
    ]
    src = str(tmp_path / "pages")
    ckpt = str(tmp_path / "dckpt")
    batch = spark.createDataFrame(
        rows, "url string, fingerprint string, fetched_at timestamp, content string"
    )
    batch.write.parquet(src)

    q = stream_dedup_pages(spark, src, ckpt, queryName="dedup_stream_t")
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream_t").collect()
    want_fps = {r["fingerprint"] for r in batch.dropDuplicates(["fingerprint"]).collect()}
    assert {r["fingerprint"] for r in got} == want_fps == {"fp0", "fp1", "fp2", "fp3"}
    assert len(got) == len(want_fps)  # exactly one survivor per fingerprint


