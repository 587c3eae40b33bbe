"""End-to-end index build (SURVEY.md §3.3 "ours"):

corpus scan → ingest (sha256 invariant, dedup, deterministic doc_ids)
→ tokenizer (map-only postings) → salted lexicon agg → compressed
segments → edges → PageRank → documents finalize — each stage atomically
published with lineage metrics, resumable at stage granularity. A
documents table skips ingest and the edges/PageRank/documents stages: its
postings, lexicon and segments are the gate index (plans/gate_index.py).

Orchestration discipline: every stage runs exactly ONE Spark action (its
write); row counts and byte sizes come from the written parquet footers on
the driver, lineage rows are driver-side pyarrow appends, and scalar stats
(n_docs, sum_dl, avgdl) are threaded through the manifest instead of
re-counted. At 10^12 scale the same structure holds — per-stage metadata
is O(files), not O(rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators import ingest, postings as postings_ops
from searchengine_spark.operators.pagerank import extract_edges, pagerank
from searchengine_spark.plans import lineage as lin


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    n_partitions: int | None = None,
    with_pagerank: bool = True,
    n_salts: int | None = None,
    shard_span: int | None = None,
    analyzer: str = "reference",
) -> dict:
    """Build (or resume) the full index under ``index_dir``.

    ``corpus`` is a corpus (repo, path, commit, content, ...), which runs
    through ingest, edges and PageRank, or a documents table (doc_id, text,
    ...), indexed in place under its own doc_ids; the schema says which.
    ``analyzer`` is the tokenizer (operators/postings.py): ``reference``
    for rank-identity with the reference, ``simple`` for the split the
    DuckDB oracles compute.

    Returns a metrics dict (per-stage wall/rows). Safe to re-run: stages
    whose input fingerprint matches the manifest are skipped, and a killed
    run resumes from the last published stage (tests/test_resume.py).
    """
    manifest = lin.IndexManifest(index_dir)
    # the analyzer is part of every stage's input: switching it rebuilds
    fp = f"{analyzer}:{lin.corpus_fingerprint(corpus)}"

    def stage_path(stage: str) -> str:
        return os.path.join(index_dir, stage)

    documents_input = "doc_id" in corpus.columns

    # ---- stage: documents (ingest + doc ids; corpus input) ------------------
    if not documents_input and not manifest.is_done("documents_raw", fp):
        with lin.StageTimer() as t:
            docs = ingest.build_documents(corpus, n_partitions)
            lin.publish_stage(docs, index_dir, "documents_raw")
            cached = getattr(docs, "_sespark_persisted", None)
            if cached is not None:  # the id-assignment cache is now dead weight
                cached.unpersist()
        parts = lin.partition_metrics(stage_path("documents_raw"))
        n_docs = sum(p["rows"] for p in parts)
        lin.append_lineage(spark, index_dir, "documents", fp, parts, 0, 0, 1.0, t.wall_ms)
        manifest.mark_done("documents_raw", fp, {"wall_ms": t.wall_ms, "n_docs": n_docs})
    if documents_input:
        docs = corpus.select("doc_id", F.col("text").alias("content"))
        n_docs = int(fp.rsplit(":", 1)[1])  # the fingerprint ends with the row count
    else:
        docs = spark.read.parquet(stage_path("documents_raw"))
        n_docs = manifest.stage_metrics()["documents_raw"]["n_docs"]

    # ---- stage: postings (tokenize) -----------------------------------------
    if not manifest.is_done("postings", fp):
        with lin.StageTimer() as t:
            post = postings_ops.build_postings(docs, analyzer)
            # clustered on bucket, so each bucket=* directory is one file.
            # The vocab is unknown pre-lexicon; n_docs is the standard proxy
            # ceiling for it, spread over the bucket files
            lin.publish_stage(
                post.repartition("bucket"),
                index_dir,
                "postings",
                partition_by=["bucket"],
                options=lin.term_bloom_options(n_docs // postings_ops.N_BUCKETS),
            )
        parts = lin.partition_metrics(stage_path("postings"))
        n_post = sum(p["rows"] for p in parts)
        lin.append_lineage(spark, index_dir, "postings", fp, parts, n_post, 0, 1.0, t.wall_ms)
        manifest.mark_done("postings", fp, {"wall_ms": t.wall_ms, "postings": n_post})
    post = spark.read.parquet(stage_path("postings"))
    n_post = manifest.stage_metrics()["postings"]["postings"]

    # ---- stage: lexicon (salted df/idf agg) + corpus scalars + skew ---------
    if not manifest.is_done("lexicon", fp):
        salts = n_salts or postings_ops.choose_salts(
            n_post, int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
        with lin.StageTimer() as t:
            lex = postings_ops.build_lexicon(post, n_docs, salts)
            lin.publish_stage(lex, index_dir, "lexicon")
            # one tiny narrow agg over the WRITTEN lexicon for both scalars:
            # term-bucket skew (the lineage skew_ratio the north rule asks
            # for) from the df counts, and sum_dl from sum(cf) — cf rode the
            # lexicon shuffle, and sum(cf) == sum(tf) over all postings ==
            # sum(dl) (every kept token adds 1 to both, under either
            # analyzer), so the stage never re-scans postings.
            stats = (
                spark.read.parquet(stage_path("lexicon"))
                .groupBy("bucket")
                .agg(F.sum("df").alias("n"), F.sum("cf").alias("c"))
                .agg(
                    F.max("n").alias("mx"),
                    F.avg("n").alias("mean"),
                    F.sum("c").alias("sum_dl"),
                )
                .collect()[0]
            )
        skew = float(stats["mx"]) / float(stats["mean"]) if stats["mean"] else 1.0
        sum_dl = int(stats["sum_dl"] or 0)
        avgdl = float(sum_dl) / n_docs if n_docs else 1.0
        parts = lin.partition_metrics(stage_path("lexicon"))
        lin.append_lineage(spark, index_dir, "lexicon", fp, parts, 0, 0, skew, t.wall_ms)
        manifest.mark_done(
            "lexicon",
            fp,
            {
                "wall_ms": t.wall_ms,
                "n_salts": salts,
                "skew_ratio": skew,
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "avgdl": avgdl,
            },
        )
    avgdl = manifest.stage_metrics()["lexicon"]["avgdl"]
    skew = manifest.stage_metrics()["lexicon"]["skew_ratio"]

    # ---- stage: compressed segments (delta+varint+block-max) ----------------
    if not manifest.is_done("segments", fp):
        from searchengine_spark.operators.segments import encode_segments

        lex = spark.read.parquet(stage_path("lexicon"))
        # shard_span = docs per index shard. A deterministic layout constant
        # derived from CORPUS size only (never cluster size — rank-identity
        # across N/4N executors depends on that): aim for >=256 shards so the
        # encode stage parallelizes even on small/tiny-vocab corpora, floor
        # 4096 docs/shard (block-metadata amortization), cap 2^20 (at 10^12
        # files that still yields ~10^6 shards x vocab groups).
        env_span = os.environ.get("SPARK_GRAFT_SHARD_SPAN")
        span = shard_span or (
            int(env_span) if env_span else min(1 << 20, max(4096, n_docs // 256))
        )
        n_terms = sum(p["rows"] for p in lin.partition_metrics(stage_path("lexicon")))
        with lin.StageTimer() as t:
            seg = encode_segments(post, lex, avgdl, shard_span=span)
            lin.publish_stage(
                seg,
                index_dir,
                "segments",
                partition_by=["bucket"],
                # encode clusters on (bucket, shard), so each bucket=* dir
                # holds one file per shard and each file sees
                # ~vocab/N_BUCKETS terms
                options=lin.term_bloom_options(n_terms // postings_ops.N_BUCKETS),
            )
        parts = lin.partition_metrics(stage_path("segments"))
        seg_bytes = sum(p["bytes"] for p in parts)
        lin.append_lineage(spark, index_dir, "segments", fp, parts, n_post, seg_bytes, skew, t.wall_ms)
        manifest.mark_done(
            "segments",
            fp,
            {"wall_ms": t.wall_ms, "bytes": seg_bytes, "avgdl": avgdl, "shard_span": span},
        )

    # ---- stage: edges + pagerank → documents finalize (corpus input) --------
    if not documents_input and not manifest.is_done("documents_final", fp):
        with lin.StageTimer() as t:
            edges = extract_edges(docs)
            lin.publish_stage(edges, index_dir, "edges")
            edges = spark.read.parquet(stage_path("edges"))
            if with_pagerank:
                pr = pagerank(docs, edges)
            else:
                pr = docs.select("doc_id").withColumn("pagerank", F.lit(0.0))
            # doc_len comes from the postings table (Q15: kept tokens only)
            dl = post.groupBy("doc_id").agg(F.first("dl").alias("doc_len"))
            final = (
                docs.join(pr, "doc_id", "left")
                .join(dl, "doc_id", "left")
                .withColumn("pagerank", F.coalesce("pagerank", F.lit(0.0)))
                .withColumn("doc_len", F.coalesce("doc_len", F.lit(0)))
            )
            lin.publish_stage(final, index_dir, "documents")
        parts = lin.partition_metrics(stage_path("documents"))
        lin.append_lineage(spark, index_dir, "documents_final", fp, parts, 0, 0, 1.0, t.wall_ms)
        manifest.mark_done("documents_final", fp, {"wall_ms": t.wall_ms})

    metrics: dict = {"input_fingerprint": fp, "n_docs": n_docs, "n_postings": n_post}
    metrics.update(manifest.stage_metrics())
    return metrics


def load_index(spark: SparkSession, index_dir: str) -> dict:
    """The index tables as DataFrames (those the build published: a
    documents-table input has no ``documents`` or ``edges``), plus
    ``avgdl``: the build manifest's lexicon-stage scalar, so a query needs
    no job over documents for it."""
    out: dict = {"avgdl": lin.IndexManifest(index_dir).stage_metrics()["lexicon"]["avgdl"]}
    for table in ("documents", "postings", "lexicon", "edges", "segments"):
        path = os.path.join(index_dir, table)
        if os.path.exists(path):
            out[table] = spark.read.parquet(path)
    return out
