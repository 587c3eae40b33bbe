"""Structured Streaming extension (SURVEY.md §2.9: not required by the north
rule — the reference has no streaming — but the natural Spark-first growth
path: ingest new commits continuously instead of batch re-crawl).

Two streaming operators:

- ``stream_corpus_to_postings``: file-source stream over corpus parquet
  drops → the batch build's tokenizer (``mapInArrow`` of
  ``emit_postings_arrow``, which runs unchanged on streaming DFs) →
  postings appended via ``foreachBatch`` (each micro-batch is an idempotent
  publish of ``batch=<id>`` through the batch build's write-tmp/rename
  ``lineage.publish_stage``, so a reader never sees a half-written batch
  and a replayed batch replaces its earlier copy).
- ``stream_dedup_pages``: the crawler's fingerprint dedup as a watermarked
  stream (``dropDuplicatesWithinWatermark``).

Tested with the file source and an ``availableNow`` trigger (synchronous
drain) in tests/test_streaming.py; on a cluster the source swaps to
kafka/iceberg-cdc without touching the transforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.functions.textproc_udfs import POSTINGS_SCHEMA, emit_postings_arrow
from searchengine_spark.plans import lineage as lin
from searchengine_spark.schemas import CORPUS


def stream_corpus_to_postings(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuously tokenize newly-arrived corpus files into postings.

    Streaming doc ids: rank-assignment needs a global sort, which streams
    can't do — instead each row gets a stable 60-bit content-derived id
    (xxhash64 of the natural key, masked positive). Collision probability at
    10^9 docs ≈ 4e-4; the batch compaction job re-assigns dense rank ids.
    """
    stream = (
        spark.readStream.schema(CORPUS)
        .option("maxFilesPerTrigger", 8)
        .parquet(corpus_dir)
    )
    with_ids = stream.withColumn(
        "doc_id",
        F.abs(F.xxhash64("repo", "path", "commit")) % F.lit(1 << 60),
    )
    postings = with_ids.select("doc_id", "content").mapInArrow(
        emit_postings_arrow, POSTINGS_SCHEMA
    )

    return (
        postings.writeStream.outputMode("append")
        .foreachBatch(lambda batch_df, batch_id: publish_batch(batch_df, batch_id, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def publish_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """The postings stream's sink: publish the micro-batch as
    ``out_dir/batch=<batch_id>`` (write to ``_tmp_batch=<id>``, rename), so
    a write that fails leaves no ``batch=<id>`` and a replay replaces it."""
    lin.publish_stage(batch_df, out_dir, f"batch={batch_id}")


def stream_dedup_pages(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    queryName: str = "dedup_stream",
    watermark: str = "1 hour",
):
    """Streaming crawl dedup — the crawler's visited/fingerprint sets
    (F5/F6, Crawler.java:56-78) as a stream: keep the FIRST page per content
    fingerprint, dropping re-fetches that arrive within the watermark
    horizon (``dropDuplicatesWithinWatermark``).

    State is bounded by the watermark: a fingerprint's dedup key is evicted
    once event time passes fetched_at + watermark, so unlike a batch
    ``dropDuplicates`` (or an unwatermarked streaming one) the state store
    never grows with the full crawl history — re-crawls beyond the horizon
    legitimately re-enter (content may have changed; the batch crawl_delta
    path reconciles). Page schema: (url, fingerprint, fetched_at, content).
    """
    schema = "url string, fingerprint string, fetched_at timestamp, content string"
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    deduped = stream.withWatermark("fetched_at", watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
