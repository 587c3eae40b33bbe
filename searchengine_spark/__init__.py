"""searchengine_spark — a PySpark-native inverted-index + BM25 analytics engine.

A from-scratch, Spark-first reimplementation of the *capabilities* of the
reference engine (Safan05/SearchEngine: crawl → MongoDB inverted index →
TF-IDF/PageRank ranker; see SURVEY.md). The architecture is columnar
DataFrames end-to-end: Catalyst plans the scans/joins/aggregations, and the
only Python crossings are a small set of vectorized Arrow (pandas) UDFs for
tokenization, posting-list codecs, and block-max WAND query execution.

Modules
-------
- ``session``       SparkSession factory tuned for local[N] and cluster runs
- ``schemas``       fixed StructTypes for every table (corpus → index)
- ``sources``       corpus generation/IO (Iceberg-shaped, parquet fallback)
- ``functions``     tokenizers (quirk-faithful + simple), Porter stemmer, hashing
- ``operators``     ingest, postings, codec, segments, pagerank, scoring,
                    query, serve, dedup, similarity, textstats, corpusstats
- ``plans``         end-to-end jobs (build_index) + lineage/resume protocol
- ``streaming``     Structured Streaming ingest extension
"""

__version__ = "0.1.0"
