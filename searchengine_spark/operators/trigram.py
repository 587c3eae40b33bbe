"""Materialized trigram index — the code-search physical layer.

``textstats.substring_search`` / ``regex_search`` already implement the
trigram-prefilter QUERY semantics of Google Code Search (Cox, "Regular
Expression Matching with a Trigram Index", 2012, public) and Zoekt, but
compute the per-doc trigram set in-plan, i.e. every query re-derives the
trigrams from the raw corpus. This module materializes the trigram
postings ONCE, bucketed by the same hash rule as the term postings
(``postings.bucket_of``) and cached by the same content-addressed
build-or-load helper as the gate index (``gate_index.cached_index``) — so
substring/regex queries become pruned index lookups:

- ``grams/``  (bucket, gram, doc_id) parquet, **partitioned by gram-hash
  bucket** with per-file gram bloom filters, one row per DISTINCT trigram
  per document (Zoekt's ngram→docs map). A query touching g trigrams scans
  at most g of the 64 bucket directories.

Query plan (identical to the reference-style term serve path):
candidate doc_ids = the docs containing EVERY trigram of the needle
(pruned postings scan → groupBy(doc_id) having count == |trigrams|),
then ONLY the candidates pay the exact ``instr``/``regexp_count`` verify
against the documents table (a doc_id equi-join, not a corpus scan).

Correct by construction: the trigram prefilter only removes documents
that cannot contain the needle, and the verify step recomputes the exact
predicate — so the output is bit-identical to the full-scan operators and
the gates reuse ``oracles.substring_search_sql`` / ``regex_search_sql``
unchanged.

Scale: the index build is one map-side pass (lower → per-doc distinct
trigrams array-side → explode) plus one bucket-partitioned write — no
join, one shuffle (the partitioned write). |grams| ≤ |text| rows per doc
and the trigram vocabulary is tiny (≤ charset³), so bucket partitioning
by gram hash spreads hot grams' postings across files within a bucket
while partition pruning keeps a query's scan to its own grams.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.postings import N_BUCKETS, bucket_of
from searchengine_spark.sources.tables import load_table

TRIGRAM_INDEX_VERSION = 1


def trigrams_of(literal: str) -> list[str]:
    """The distinct trigrams of a lowered query literal (sorted for
    deterministic plans)."""
    lit = literal.lower()
    return sorted({lit[i : i + 3] for i in range(len(lit) - 2)})


def doc_trigrams(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(gram, doc_id, bucket): one row per distinct trigram per document.

    The lowered text materializes once through a Generate barrier (the
    same CollapseProject-inlining guard as textstats._lowered_text), the
    per-doc trigram set is built array-side (transform + array_distinct —
    no row explosion until the final postings explode), then exploded."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(F.lower(F.col(text_col)))).alias("t"),
    ).filter(F.length("t") >= 3)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("t") - 2),
            lambda i: F.col("t").substr(i, F.lit(3)),
        )
    )
    return base.select("doc_id", F.explode(grams).alias("gram")).select(
        "gram",
        "doc_id",
        bucket_of("gram").alias("bucket"),
    )


def build_trigram_index(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Build the trigram index into ``base`` (assumed empty/tmp)."""
    from searchengine_spark.plans.lineage import term_bloom_options

    grams = doc_trigrams(load_table(spark, sf_dir, "documents"))
    grams.write.mode("overwrite").options(
        **term_bloom_options(1 << 14, column="gram")
    ).partitionBy("bucket").parquet(os.path.join(base, "grams"))


def trigram_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build-or-load the trigram index for ``sf_dir``: {grams, dir}."""
    from searchengine_spark.plans.gate_index import cached_index

    def load(spark_: SparkSession, base: str) -> dict:
        return {"grams": spark_.read.parquet(os.path.join(base, "grams")), "dir": base}

    return cached_index(
        spark, sf_dir, "tri", TRIGRAM_INDEX_VERSION, build_trigram_index, load
    )


_BUCKET_MEMO: dict[str, int] = {}


def _buckets_for(spark: SparkSession, tris: list[str]) -> list[int]:
    """Driver-side buckets for a gram set — pmod(hash(gram), N_BUCKETS)
    evaluated in ONE tiny local-relation job (avoids reimplementing
    Murmur3 in Python), memoized per gram across queries."""
    missing = [g for g in tris if g not in _BUCKET_MEMO]
    if missing:
        rows = (
            spark.createDataFrame([(g,) for g in missing], "gram string")
            .select(
                "gram",
                bucket_of("gram").alias("b"),
            )
            .collect()
        )
        for r in rows:
            _BUCKET_MEMO[r["gram"]] = int(r["b"])
    return sorted({_BUCKET_MEMO[g] for g in tris})


def _candidates_all(spark: SparkSession, idx: dict, tris: list[str]) -> DataFrame:
    """doc_ids containing EVERY gram in ``tris``: pruned postings scan
    (bucket partition pruning + gram pushdown) → conjunctive count. Grams
    are distinct per doc in the index, so count == |tris| ⇔ all present."""
    buckets = _buckets_for(spark, tris)
    pruned = idx["grams"].filter(
        F.col("bucket").isin(buckets) & F.col("gram").isin(tris)
    )
    return (
        pruned.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .filter(F.col("n_grams") == len(tris))
        .select("doc_id")
    )


def substring_search_indexed(
    spark: SparkSession, idx: dict, docs: DataFrame, needle: str
) -> DataFrame:
    """Index-served substring query: (doc_id, first_pos), bit-identical to
    textstats.substring_search (same oracle). Needles shorter than 3 chars
    have no trigrams → full-scan fallback (the Cox design's escape hatch)."""
    from searchengine_spark.operators.textstats import substring_search

    tl = needle.lower()
    tris = trigrams_of(tl)
    if not tris:
        return substring_search(docs, needle)
    cand = _candidates_all(spark, idx, tris)
    verified = docs.join(cand, "doc_id").select(
        "doc_id", F.instr(F.lower("text"), tl).cast("long").alias("first_pos")
    )
    return verified.filter(F.col("first_pos") > 0)


def regex_search_indexed(
    spark: SparkSession, idx: dict, docs: DataFrame, pattern: str
) -> DataFrame:
    """Index-served regex query: (doc_id, n_matches), bit-identical to
    textstats.regex_search. Literal-alternation patterns (the common
    code-search shape) take the OR-of-ANDs candidate union; anything else
    falls back to the full-scan operator (general trigram extraction per
    Cox 2012 is the documented extension point)."""
    import re

    from searchengine_spark.operators.textstats import regex_search

    alts = pattern.lower().split("|")
    if not all(re.fullmatch(r"[a-z0-9 ]+", a) for a in alts):
        return regex_search(docs, pattern)
    per_alt = [trigrams_of(a) for a in alts]
    if any(not tris for tris in per_alt):
        return regex_search(docs, pattern)
    cand = _candidates_all(spark, idx, per_alt[0])
    for tris in per_alt[1:]:
        cand = cand.unionByName(_candidates_all(spark, idx, tris))
    cand = cand.distinct()
    pl = pattern.lower().replace("'", "''")
    verified = docs.join(cand, "doc_id").select(
        "doc_id",
        F.expr(f"regexp_count(lower(text), '{pl}')").cast("long").alias("n_matches"),
    )
    return verified.filter(F.col("n_matches") > 0)
