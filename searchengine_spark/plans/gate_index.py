"""Gate index: the prebuilt inverted index that SERVES the driver-gate
retrieval queries (bm25/tfidf/phrase/term_search/prefix/lexicon).

Round-1 shipped the compressed-segment + WAND physical layer but answered
every gated retrieval query by re-tokenizing the raw corpus per query (2-3
corpus scans + a driver collect each). This module is the fix: tokenize the
``documents`` table ONCE into

- ``postings/``  (bucket, term, doc_id, tf, dl, positions) — parquet,
  **partitioned by term-hash bucket** so a query's scan touches only its
  terms' directories (partition pruning ≙ the reference's per-term Mongo
  point lookups, SearchService.java:464-477);
- ``lexicon/``   (term, df, cf, idf_bm25, idf_compat, bucket) — one row per
  term; query serving collects its |q| rows in one tiny job;
- ``segments/``  compressed delta+varint blocks with skip pointers and
  block-max scores (operators/segments.py) — the block-max-WAND serve path;
- ``meta.json``  n_docs / sum_dl scalars (avgdl = sum_dl/n_docs, computed
  identically in the DuckDB oracles).

The build is content-addressed: the cache key hashes the documents parquet
(path, mtime, size) plus a layout version, so driver runs at different scale
factors never collide and a regenerated corpus invalidates the cache. The
publish is atomic (build into ``*.tmp``, rename) so concurrent query
processes can't observe a half-built index.

Tokenization here is the simple JVM-side tokenizer (functions/tokenize.py:
lower + split on non-alnum), i.e. exactly what the DuckDB oracle computes —
the gates verify the INDEX-SERVED physical path against the same SQL oracles
the corpus-scan path matched in round 1.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.functions.tokenize import doc_len, exploded_tokens
from searchengine_spark.operators.ir import idf_bm25_expr, idf_compat_expr
from searchengine_spark.sources.tables import load_table

GATE_INDEX_VERSION = 5  # v5: one segments/docvecs file per bucket
N_BUCKETS = 64

# in-memory cache: (spark appId, digest) -> handles dict
_LOADED: dict[tuple[str, str], dict] = {}


def _cache_root() -> str:
    return os.path.join(os.environ.get("TMPDIR", "/tmp"), "sespark_gate_index")


def _digest(sf_dir: str) -> str:
    """Content key for the documents table: path + parquet file stats."""
    path = os.path.join(sf_dir, "documents.parquet")
    parts = [f"v{GATE_INDEX_VERSION}"]
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, f))
            parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{path}:{st.st_mtime_ns}:{st.st_size}")
    else:  # catalog identifier — key on the name only
        parts.append(sf_dir)
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


def build_gate_index(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Build the gate index into ``base`` (assumed empty/tmp)."""
    docs = load_table(spark, sf_dir, "documents")

    # postings with positions: ONE tokenize pass, grouped by (term, doc).
    # Positions index the raw split array (empties retained) — the same
    # contract as the oracles and the phrase operators (quirk Q4 analog).
    toks = exploded_tokens(docs, with_pos=True)
    dls = docs.select("doc_id", doc_len(F.col("text")).alias("dl"))
    post = (
        toks.groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.array_sort(F.collect_list("pos")).alias("positions"),
        )
        .join(dls, "doc_id")
        .withColumn("bucket", F.pmod(F.hash("term"), F.lit(N_BUCKETS)).cast("int"))
    )
    from searchengine_spark.plans.lineage import partition_metrics, term_bloom_options

    post.write.mode("overwrite").options(**term_bloom_options(1 << 14)).partitionBy(
        "bucket"
    ).parquet(os.path.join(base, "postings"))
    post = spark.read.parquet(os.path.join(base, "postings"))

    # docvecs: the FORWARD index (Lucene stored term vectors) — the same
    # (doc, term, tf, positions) rows re-bucketed by doc_id so a per-doc
    # point lookup prunes to ONE directory instead of scanning every term
    # bucket. Serves term_vectors / MoreLikeThis-style doc fetches.
    # Clustered by dbucket so each dbucket=* dir is one file, not one per
    # scan task.
    post.select(
        F.pmod(F.col("doc_id"), F.lit(N_BUCKETS)).cast("int").alias("dbucket"),
        "doc_id",
        "term",
        "tf",
        "positions",
    ).repartition("dbucket").write.mode("overwrite").partitionBy("dbucket").parquet(
        os.path.join(base, "docvecs")
    )

    # scalars (one tiny narrow agg over the documents scan)
    stats = dls.agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("c")).collect()[0]
    n_docs = int(stats["c"])
    sum_dl = int(stats["s"] or 0)

    # lexicon: df / corpus frequency / both idf definitions, from the
    # written postings (postings are unique per (term, doc) → count == df)
    lex = (
        post.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .select(
            "term",
            "df",
            "cf",
            idf_bm25_expr(n_docs).alias("idf_bm25"),
            idf_compat_expr(n_docs).alias("idf_compat"),
            F.pmod(F.hash("term"), F.lit(N_BUCKETS)).cast("int").alias("bucket"),
        )
    )
    lex.write.mode("overwrite").parquet(os.path.join(base, "lexicon"))
    # bloom size for the bucket-partitioned segments/impacts files: distinct
    # terms per file, as build_index sizes its segments
    terms_per_bucket = sum(
        p["rows"] for p in partition_metrics(os.path.join(base, "lexicon"))
    ) // N_BUCKETS

    # compressed segments (delta+varint+block-max) — the WAND serve path
    from searchengine_spark.operators.segments import encode_segments

    avgdl = (float(sum_dl) / float(n_docs)) if n_docs else 1.0
    seg_in = post.select("term", "doc_id", "tf", F.col("dl").alias("doc_len"), "positions")
    span = min(1 << 20, max(512, n_docs // 64))
    seg = encode_segments(
        seg_in, spark.read.parquet(os.path.join(base, "lexicon")), avgdl, shard_span=span
    )
    seg.write.mode("overwrite").options(
        **term_bloom_options(terms_per_bucket)
    ).partitionBy("bucket").parquet(os.path.join(base, "segments"))

    # quantized-impact postings (Anserini-style impact index): each
    # posting's BM25 contribution frozen to an 8-bit level of the GLOBAL
    # max contribution — the serving tier where scoring is a pure integer
    # sum with no doc-length or idf lookup at query time. One postings
    # pass; the max-contribution scalar rides in meta.json.
    from searchengine_spark.operators.serve import BM25_B, BM25_K1

    avgdl_d = (float(sum_dl) / float(n_docs)) if n_docs else 1.0
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    contrib = F.col("idf_bm25") * (tf_d * (BM25_K1 + 1.0)) / (
        tf_d + BM25_K1 * (1.0 - BM25_B + BM25_B * dl_d / F.lit(avgdl_d))
    )
    imp_in = post.join(
        F.broadcast(
            spark.read.parquet(os.path.join(base, "lexicon")).select(
                "term", "idf_bm25"
            )
        ),
        "term",
    ).select("bucket", "term", "doc_id", contrib.alias("_c"))
    max_contrib = imp_in.agg(F.max("_c").alias("m")).collect()[0]["m"]
    max_contrib = float(max_contrib) if max_contrib is not None else 1.0
    imp_in.select(
        "bucket",
        "term",
        "doc_id",
        F.floor(F.lit(255.0) * F.col("_c") / F.lit(max_contrib))
        .cast("int")
        .alias("impact"),
    ).write.mode("overwrite").options(
        **term_bloom_options(terms_per_bucket)
    ).partitionBy("bucket").parquet(os.path.join(base, "impacts"))

    with open(os.path.join(base, "meta.json"), "w") as f:
        json.dump(
            {
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "shard_span": span,
                "max_contrib": max_contrib,
            },
            f,
        )


def gate_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build-or-load the gate index for ``sf_dir``.

    Returns {postings, lexicon, segments: DataFrame, n_docs, avgdl, dir}.
    Disk-cached across processes (driver gate + bench share one build);
    the returned handles are memoized per Spark application.
    """
    dig = _digest(sf_dir)
    key = (spark.sparkContext.applicationId, dig)
    if key in _LOADED:
        return _LOADED[key]

    base = os.path.join(_cache_root(), dig)
    if not os.path.exists(os.path.join(base, "meta.json")):
        tmp = base + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        build_gate_index(spark, sf_dir, tmp)
        try:
            os.rename(tmp, base)  # atomic publish
        except OSError:  # lost a concurrent-build race — use the winner
            shutil.rmtree(tmp, ignore_errors=True)

    with open(os.path.join(base, "meta.json")) as f:
        meta = json.load(f)
    n_docs = int(meta["n_docs"])
    idx = {
        "postings": spark.read.parquet(os.path.join(base, "postings")),
        "lexicon": spark.read.parquet(os.path.join(base, "lexicon")),
        "segments": spark.read.parquet(os.path.join(base, "segments")),
        "docvecs": spark.read.parquet(os.path.join(base, "docvecs")),
        "impacts": spark.read.parquet(os.path.join(base, "impacts")),
        "max_contrib": float(meta.get("max_contrib", 1.0)),
        "n_docs": n_docs,
        "sum_dl": int(meta["sum_dl"]),
        "avgdl": (float(meta["sum_dl"]) / float(n_docs)) if n_docs else 1.0,
        "dir": base,
    }
    _LOADED[key] = idx
    return idx
