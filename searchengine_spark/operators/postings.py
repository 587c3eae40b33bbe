"""Postings emission + lexicon aggregation (SURVEY.md §2.3 T3, §2.4 A1-A3).

Two analyzers produce the same postings layout (doc_id, term, tf,
positions, dl, bucket):

- ``reference`` — the quirk-faithful tokenizer UDF (crude-stem + Porter,
  functions/textproc.py), needed for rank-identity with the reference. It
  emits one row per **(doc, term)** with tf/positions already folded per
  doc — tokenizing needs NO shuffle (the reference's per-term Mongo upsert
  storm, DBController.java:84-127, becomes a map-only stage; the build's
  only postings shuffle clusters the write by bucket);
- ``simple`` — the JVM-side split (functions/tokenize.py: lower + split on
  ``[^a-z0-9]+``) that the DuckDB oracles compute, with positions over the
  raw split array; one posexplode pass grouped by (term, doc_id).

The wide operations are:

- the lexicon df aggregation, keyed by ``term`` — hot "code stopwords"
  (return/import/def) make this skewed at 10^12 scale, so it runs as a
  **salted two-phase aggregate** (north rule: "salted repartitioning to
  defuse stopword-term skew");
- the segment encode (operators/segments.py), keyed by (bucket, shard).

Every term-keyed index table is partitioned on the one term-bucket rule,
:func:`bucket_of`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.functions.textproc_udfs import POSTINGS_SCHEMA, emit_postings_arrow
from searchengine_spark.functions.tokenize import doc_len, exploded_tokens
from searchengine_spark.operators.ir import idf_bm25_expr, idf_compat_expr

ANALYZERS = ("reference", "simple")

# Term-hash buckets: the write partition of postings, segments and impacts
# and a lexicon column, so a query's scan touches only its terms' bucket
# directories (partition pruning ≙ the reference's per-term Mongo point
# lookups, SearchService.java:464-477). The trigram index buckets grams
# the same way.
N_BUCKETS = 64


def bucket_of(col: str = "term") -> Column:
    """``pmod(hash(col), N_BUCKETS)`` — the one term-bucket rule."""
    return F.pmod(F.hash(col), F.lit(N_BUCKETS)).cast("int")


DEFAULT_SALTS = 16


def build_postings(documents: DataFrame, analyzer: str = "reference") -> DataFrame:
    """documents(doc_id, content, ...) → postings (doc_id, term, tf,
    positions, dl, ..., bucket) under ``analyzer`` (see the module doc)."""
    if analyzer == "reference":
        post = _reference_postings(documents)
    elif analyzer == "simple":
        post = _simple_postings(documents)
    else:
        raise ValueError(f"analyzer must be one of {ANALYZERS}, got {analyzer!r}")
    return post.withColumn("bucket", bucket_of())


def _reference_postings(documents: DataFrame) -> DataFrame:
    """The tokenizer UDF, map-only.

    If the input arrives in fewer splits than the cluster has cores (small
    files coalesced by the scan planner), repartition up first — the
    tokenizer is the CPU-bound stage and must use every core. At real scale
    the file splits already exceed core count and this is a no-op."""
    narrow = documents.select("doc_id", "content")
    parallelism = documents.sparkSession.sparkContext.defaultParallelism
    # Driver-side file metadata only (no .rdd access — that would force an
    # RDD conversion plan); small-file coalescing is the case we care about,
    # a big file splits into >1 task on its own.
    n_files = len(documents.inputFiles()) or 1
    if n_files < parallelism:
        narrow = narrow.repartition(parallelism)
    return narrow.mapInArrow(emit_postings_arrow, POSTINGS_SCHEMA)


def _simple_postings(documents: DataFrame) -> DataFrame:
    """The JVM split, grouped by (term, doc_id). Positions index the raw
    split array (empties retained) — the same contract as the oracles and
    the phrase operators (quirk Q4 analog); dl counts the non-empty tokens.
    Cast to the reference analyzer's column types."""
    toks = exploded_tokens(documents, text_col="content", with_pos=True)
    dls = documents.select("doc_id", doc_len(F.col("content")).cast("long").alias("dl"))
    return (
        toks.groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("tf"),
            F.array_sort(F.collect_list("pos")).alias("positions"),
        )
        .join(dls, "doc_id")
        .select("doc_id", "term", "tf", "positions", "dl")
    )


def build_lexicon(postings: DataFrame, n_docs: int, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """(term, df, cf, idf_compat, idf_bm25, bucket) via salted two-phase
    aggregation.

    Phase 1 groups by (term, salt) where salt = pmod(hash(doc_id), S) —
    every reducer sees at most |postings(term)|/S rows of a hot term.
    Phase 2 sums the S partials per term. Postings are unique per (term,
    doc), so count == countDistinct(doc) (the reference's df double-count on
    re-index, quirk Q7, is structurally impossible here).

    ``cf`` (collection frequency, sum of tf) rides the same shuffle for
    free; sum(cf) over the tiny lexicon equals sum(tf) over all postings
    equals sum(dl) over all docs (every kept token adds 1 to both), so
    the build derives avgdl from the lexicon footprint instead of paying a
    second full postings scan.

    Phase 2 runs on an explicit ``shuffle.partitions``-way hash of term
    (AQE leaves an explicit count alone) and sorts each partition by term,
    so the written files depend only on the lexicon's content. Left to AQE,
    the partition boundaries follow the phase-1 byte counts, which follow
    how the scan packed the postings files into splits — and that order
    breaks ties between equal-sized files by directory listing order.
    """
    partial = (
        postings.withColumn("_salt", F.pmod(F.hash("doc_id"), F.lit(n_salts)))
        .groupBy("term", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_partial_df"),
            F.sum("tf").alias("_partial_cf"),
        )
    )
    n_out = int(postings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        partial.repartition(n_out, "term")
        .groupBy("term")
        .agg(
            F.sum("_partial_df").alias("df"),
            F.sum("_partial_cf").alias("cf"),
        )
        .select(
            "term",
            "df",
            "cf",
            idf_compat_expr(n_docs).alias("idf_compat"),
            idf_bm25_expr(n_docs).alias("idf_bm25"),
            bucket_of().alias("bucket"),
        )
        .sortWithinPartitions("term")
    )


TARGET_ROWS_PER_REDUCER = 5_000_000


def choose_salts(n_postings: int, n_partitions: int) -> int:
    """Salt count sized to the data: a worst-case hot term owning ~10% of
    all postings must fan out into partials of ≤ TARGET_ROWS_PER_REDUCER
    rows, and never fewer salts than partitions (so a hot term can occupy
    every reducer). Bounded above to keep the phase-2 row count sane."""
    if n_postings <= 0:
        return DEFAULT_SALTS
    hot_term_rows = n_postings // 10
    by_volume = math.ceil(hot_term_rows / TARGET_ROWS_PER_REDUCER)
    return int(min(4096, max(DEFAULT_SALTS, n_partitions, by_volume)))
