"""End-to-end index build (SURVEY.md §3.3 "ours"):

corpus scan → ingest (sha256 invariant, dedup, deterministic doc_ids)
→ tokenizer (map-only postings) → salted lexicon agg → compressed
segments → edges → PageRank → documents finalize — each stage atomically
published with lineage metrics, resumable at stage granularity. A
documents table skips ingest, segments and the edges/PageRank/documents
stages: its postings and lexicon are the gate index (plans/gate_index.py),
and :func:`ensure_segments` encodes its segments on first use.

Orchestration discipline: few Spark actions per stage, counted as SQL
executions on a 1,530-doc corpus: the input fingerprint 1 (its row count
also sizes ingest's boundary sample), documents_raw 3 (boundary-key
sample, per-bucket id counts, write; 2 when the corpus is small enough to
need no boundaries), postings 1 (write), lexicon 2 (write, then one tiny
aggregate over the written lexicon for skew and sum_dl), segments 1
(write), documents_final 2 without PageRank (edges and documents writes)
plus PageRank's iterations with it. Row counts and byte sizes come from
the written parquet footers on the driver, lineage rows are driver-side
pyarrow appends, and scalar stats (n_docs, sum_dl, avgdl) are threaded
through the manifest instead of re-counted. At 10^12 scale the same
structure holds — per-stage metadata is O(files), not O(rows).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark import schemas
from searchengine_spark.operators import ingest, postings as postings_ops
from searchengine_spark.operators.pagerank import extract_edges, pagerank
from searchengine_spark.plans import lineage as lin

_STAGE_SCHEMAS = {
    "documents_raw": schemas.DOCUMENTS_RAW,
    "lexicon": schemas.LEXICON,
    "segments": schemas.SEGMENTS,
    "edges": schemas.EDGES,
    "documents": schemas.DOCUMENTS,
}


def read_stage(spark: SparkSession, index_dir: str, stage: str, analyzer: str) -> DataFrame:
    """A published stage, read with its schema from schemas.py (the postings'
    depends on the ``analyzer``): a stage published with no rows may hold no
    parquet file to infer one from, and still reads as a typed, empty table."""
    if stage == "postings":
        schema = schemas.POSTINGS_REFERENCE if analyzer == "reference" else schemas.POSTINGS
    else:
        schema = _STAGE_SCHEMAS[stage]
    return spark.read.schema(schema).parquet(os.path.join(index_dir, stage))


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
    n_rows = int(fp.rsplit(":", 1)[1])  # the fingerprint ends with the row count

    def stage_path(stage: str) -> str:
        return os.path.join(index_dir, stage)

    def read(stage: str) -> DataFrame:
        return read_stage(spark, index_dir, stage, analyzer)

    documents_input = "doc_id" in corpus.columns

    # ---- stage: documents (ingest + doc ids; corpus input) ------------------
    if not documents_input and not manifest.is_done("documents_raw", fp):
        with lin.StageTimer() as t:
            with ingest.build_documents(corpus, n_partitions, n_rows) as docs:
                lin.publish_stage(docs, index_dir, "documents_raw")
        parts = lin.partition_metrics(stage_path("documents_raw"))
        n_docs = sum(p["rows"] for p in parts)
        lin.append_lineage(spark, index_dir, "documents", fp, parts, 0, 0, 1.0, t.wall_ms)
        manifest.mark_done("documents_raw", fp, {"wall_ms": t.wall_ms, "n_docs": n_docs})
    if documents_input:
        docs = corpus.select("doc_id", F.col("text").alias("content"))
        n_docs = n_rows
    else:
        docs = read("documents_raw")
        n_docs = manifest.stage_metrics()["documents_raw"]["n_docs"]

    # ---- stage: postings (tokenize) -----------------------------------------
    if not manifest.is_done("postings", fp):
        # segments derive from the postings, and ensure_segments keeps a
        # published segments table: drop the old postings' copy
        shutil.rmtree(stage_path("segments"), ignore_errors=True)
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
    post = read("postings")
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
                read("lexicon")
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

    # ---- stage: compressed segments (corpus input; a documents table's are
    # encoded on first use) ----------------------------------------------------
    if not documents_input:
        ensure_segments(spark, index_dir, shard_span)

    # ---- stage: edges + pagerank → documents finalize (corpus input) --------
    if not documents_input and not manifest.is_done("documents_final", fp):
        with lin.StageTimer() as t:
            edges = extract_edges(docs)
            lin.publish_stage(edges, index_dir, "edges")
            edges = read("edges")
            if with_pagerank:
                final = docs.join(pagerank(docs, edges), "doc_id", "left").withColumn(
                    "pagerank", F.coalesce("pagerank", F.lit(0.0))
                )
            else:  # the constant in place: no join of docs with its own doc_ids
                final = docs.withColumn("pagerank", F.lit(0.0))
            # doc_len comes from the postings table (Q15: kept tokens only)
            dl = post.groupBy("doc_id").agg(F.first("dl").alias("doc_len"))
            final = final.join(dl, "doc_id", "left").withColumn(
                "doc_len", F.coalesce("doc_len", F.lit(0))
            )
            lin.publish_stage(final, index_dir, "documents")
        parts = lin.partition_metrics(stage_path("documents"))
        lin.append_lineage(spark, index_dir, "documents_final", fp, parts, 0, 0, 1.0, t.wall_ms)
        manifest.mark_done("documents_final", fp, {"wall_ms": t.wall_ms})

    metrics: dict = {"input_fingerprint": fp, "n_docs": n_docs, "n_postings": n_post}
    # re-read: ensure_segments records its stage through its own manifest
    metrics.update(lin.IndexManifest(index_dir).stage_metrics())
    return metrics


def ensure_segments(
    spark: SparkSession, index_dir: str, shard_span: int | None = None
) -> DataFrame:
    """The index's compressed segments (delta+varint blocks with skip
    pointers and block-max scores, operators/segments.py), encoded from its
    published postings and lexicon on the first call and read back on every
    later one.

    A corpus build calls it as its segments stage. A documents-table build
    (the gate index) publishes only postings and lexicon, so the block-max
    and segment-served positional paths call it on first use and a process
    that serves only the columnar tables runs no Python UDF.

    The encode is recorded like any stage: manifest entry (wall_ms, bytes,
    avgdl, shard_span) under the lexicon's input fingerprint, and lineage
    rows. Several processes may share the index (the gate cache): each
    encodes into its own tmp directory, the first rename publishes, and the
    others read the winner's table (``lin.publish_stage(replace=False)``);
    a segments table on disk always derives from the postings beside it,
    because republishing the postings removes it."""
    manifest = lin.IndexManifest(index_dir)
    fp = manifest.fingerprint("lexicon")
    analyzer = manifest.analyzer()
    if not manifest.is_done("segments", fp):
        from searchengine_spark.operators.segments import encode_segments

        stages = manifest.stage_metrics()
        n_docs, avgdl = stages["lexicon"]["n_docs"], stages["lexicon"]["avgdl"]
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
        post = read_stage(spark, index_dir, "postings", analyzer)
        lex = read_stage(spark, index_dir, "lexicon", analyzer)
        n_terms = sum(p["rows"] for p in lin.partition_metrics(os.path.join(index_dir, "lexicon")))
        with lin.StageTimer() as t:
            seg = encode_segments(post, lex, avgdl, shard_span=span)
            published = lin.publish_stage(
                seg,
                index_dir,
                "segments",
                partition_by=["bucket"],
                # encode clusters on (bucket, shard), so each bucket=* dir
                # holds one file per shard and each file sees
                # ~vocab/N_BUCKETS terms
                options=lin.term_bloom_options(n_terms // postings_ops.N_BUCKETS),
                replace=False,
            )
        if published:
            parts = lin.partition_metrics(os.path.join(index_dir, "segments"))
            seg_bytes = sum(p["bytes"] for p in parts)
            lin.append_lineage(
                spark, index_dir, "segments", fp, parts,
                stages["postings"]["postings"], seg_bytes,
                stages["lexicon"]["skew_ratio"], t.wall_ms,
            )
            manifest.mark_done(
                "segments",
                fp,
                {"wall_ms": t.wall_ms, "bytes": seg_bytes, "avgdl": avgdl, "shard_span": span},
            )
    return read_stage(spark, index_dir, "segments", analyzer)


def load_index(spark: SparkSession, index_dir: str) -> dict:
    """The index tables as DataFrames (those on disk: a documents-table
    input has no ``documents`` or ``edges``, and no ``segments`` until
    :func:`ensure_segments` encodes them), each read with
    its schema (:func:`read_stage`), plus ``avgdl``: the build manifest's
    lexicon-stage scalar, so a query needs no job over documents for it."""
    manifest = lin.IndexManifest(index_dir)
    analyzer = manifest.analyzer()
    out: dict = {"avgdl": manifest.stage_metrics()["lexicon"]["avgdl"]}
    for table in ("documents", "postings", "lexicon", "edges", "segments"):
        if os.path.exists(os.path.join(index_dir, table)):
            out[table] = read_stage(spark, index_dir, table, analyzer)
    return out
