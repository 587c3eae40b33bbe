"""Fixed StructTypes for every table in the engine (SURVEY.md §1.2).

The reference's schema is dynamic BSON (DBController.java builds documents ad
hoc); ours is declared once here and validated at ingest.
"""

from __future__ import annotations

from pyspark.sql import types as T

# BASELINE.json input_hint: the Iceberg-shaped corpus of source-code repos
CORPUS = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("url", T.StringType(), False),  # repo/path@commit
        T.StructField("title", T.StringType(), False),  # basename(path)
        T.StructField("content", T.StringType(), False),
        T.StructField("content_sha256", T.StringType(), False),  # ingest invariant
        T.StructField("fingerprint", T.StringType(), False),  # dedup key (F4)
        T.StructField("headers", T.ArrayType(T.BooleanType()), False),  # [h1,h2,h3]
        T.StructField("doc_len", T.LongType(), False),  # totalTerms (Q15)
        T.StructField("pagerank", T.DoubleType(), True),
    ]
)

POSTINGS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
        T.StructField("dl", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),  # postings.bucket_of
    ]
)

LEXICON = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),  # collection freq (sum tf)
        T.StructField("idf_compat", T.DoubleType(), False),  # ln(N/(1+df)) Q9
        T.StructField("idf_bm25", T.DoubleType(), False),  # Robertson
        T.StructField("bucket", T.IntegerType(), False),  # postings.bucket_of
    ]
)

# field order mirrors operators/segments.py::SEGMENT_SCHEMA exactly
SEGMENTS = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),  # postings.bucket_of
        T.StructField("shard", T.IntegerType(), False),  # doc_id // shard_span
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n_postings", T.IntegerType(), False),
        T.StructField("doc_ids_delta_varint", T.BinaryType(), False),
        T.StructField("tfs_varint", T.BinaryType(), False),
        T.StructField("doc_lens_varint", T.BinaryType(), False),
        T.StructField("positions_blob", T.BinaryType(), False),
        T.StructField("skip_doc_id", T.LongType(), False),  # max doc_id in block
        T.StructField("block_max_score", T.DoubleType(), False),  # BM25 upper bound
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src_doc_id", T.LongType(), False),
        T.StructField("dst_doc_id", T.LongType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("postings_out", T.LongType(), False),
        T.StructField("bytes_compressed", T.LongType(), False),
        T.StructField("skew_ratio", T.DoubleType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("input_fingerprint", T.StringType(), False),
    ]
)

TOPK_RESULT = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)
