"""Gate index: the index that serves the driver-gate retrieval queries
(bm25/tfidf/phrase/term_search/prefix/lexicon), REST (jobs/serve_api.py)
and the ``search`` benchmark workload.

It is one ``build_index`` run (plans/build_index.py) over the sf's
``documents`` table with the ``simple`` analyzer: lower + split on
non-alnum, positions over the raw split — exactly what the DuckDB oracles
compute, so the gates check the index-served path against the same SQL.
That run publishes, with its manifest, lineage rows and stage-level
resume:

- ``postings/``  (doc_id, term, tf, positions, dl, bucket), one file per
  term-hash ``bucket=*`` directory, so a query's scan touches only its
  terms' directories (partition pruning ≙ the reference's per-term Mongo
  point lookups, SearchService.java:464-477);
- ``lexicon/``   (term, df, cf, idf_compat, idf_bm25, bucket) — query
  serving collects its |q| rows in one tiny job;
- ``segments/``  compressed delta+varint blocks with skip pointers and
  block-max scores (operators/segments.py) — the block-max serve path;
- ``_manifest.json`` with the n_docs / sum_dl / avgdl scalars (avgdl =
  sum_dl/n_docs, computed identically in the DuckDB oracles).

Derived here from the published postings and lexicon:

- ``docvecs/``  the forward index (Lucene stored term vectors): the same
  (doc, term, tf, positions) rows bucketed by ``pmod(doc_id, N_BUCKETS)``,
  so a per-doc lookup prunes to one directory. Read by
  ``serve.term_vectors`` and ``serve.significant_terms``;
- ``impacts/``  each posting's BM25 contribution frozen to an 8-bit level
  of the global max contribution (``max_contrib``, in the manifest) — the
  Anserini-style impact tier read by ``serve.bm25_impact_topk``.

:func:`cached_index` is the content-addressed build-or-load cache (the
trigram index uses it too): the key hashes the documents parquet (path,
mtime, size) plus a layout version, so driver runs at different scale
factors never collide and a regenerated corpus invalidates the cache. The
publish is atomic (build into ``*.tmp<pid>``, rename), so concurrent query
processes can't observe a half-built index.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.postings import N_BUCKETS
from searchengine_spark.operators.serve import _bm25_contrib
from searchengine_spark.plans import lineage as lin
from searchengine_spark.plans.build_index import build_index, load_index
from searchengine_spark.sources.tables import load_table

GATE_INDEX_VERSION = 6  # v6: a build_index run (manifest, lineage, dl column)

# in-memory cache: (spark appId, cache key) -> handles dict
_LOADED: dict[tuple[str, str], dict] = {}


def _cache_root() -> str:
    return os.path.join(os.environ.get("TMPDIR", "/tmp"), "sespark_gate_index")


def _digest(sf_dir: str) -> str:
    """Content key for the documents table: path + parquet file stats."""
    path = os.path.join(sf_dir, "documents.parquet")
    parts = []
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


def cached_index(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    version: int,
    build: Callable[[SparkSession, str, str], None],
    load: Callable[[SparkSession, str], dict],
) -> dict:
    """Build-or-load the ``name`` index of ``sf_dir``: ``build(spark,
    sf_dir, dir)`` fills an empty directory once per (content digest,
    version) on disk, and ``load(spark, dir)``'s handles are memoized per
    Spark application."""
    key = f"{name}{version}-{_digest(sf_dir)}"
    memo = (spark.sparkContext.applicationId, key)
    if memo in _LOADED:
        return _LOADED[memo]

    base = os.path.join(_cache_root(), key)
    if not os.path.isdir(base):
        tmp = base + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(spark, sf_dir, tmp)
        try:
            os.rename(tmp, base)  # atomic publish
        except OSError:  # lost a concurrent-build race — use the winner
            shutil.rmtree(tmp, ignore_errors=True)
    _LOADED[memo] = load(spark, base)
    return _LOADED[memo]


def build_gate_index(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Build the gate index into ``base`` (assumed empty/tmp)."""
    m = build_index(spark, load_table(spark, sf_dir, "documents"), base, analyzer="simple")
    post = spark.read.parquet(os.path.join(base, "postings"))
    lex = spark.read.parquet(os.path.join(base, "lexicon"))

    # docvecs, clustered by dbucket so each dbucket=* dir is one file
    docvecs = post.select(
        F.pmod(F.col("doc_id"), F.lit(N_BUCKETS)).cast("int").alias("dbucket"),
        "doc_id",
        "term",
        "tf",
        "positions",
    )
    lin.publish_stage(docvecs.repartition("dbucket"), base, "docvecs", partition_by=["dbucket"])

    # impacts: one postings pass; bloom sized like the segments files
    imp_in = post.join(F.broadcast(lex.select("term", "idf_bm25")), "term").select(
        "bucket", "term", "doc_id", _bm25_contrib(m["lexicon"]["avgdl"]).alias("_c")
    )
    max_contrib = imp_in.agg(F.max("_c").alias("m")).collect()[0]["m"]
    max_contrib = float(max_contrib) if max_contrib is not None else 1.0
    impacts = imp_in.select(
        "bucket",
        "term",
        "doc_id",
        F.floor(F.lit(255.0) * F.col("_c") / F.lit(max_contrib)).cast("int").alias("impact"),
    )
    n_terms = sum(p["rows"] for p in lin.partition_metrics(os.path.join(base, "lexicon")))
    lin.publish_stage(
        impacts,
        base,
        "impacts",
        partition_by=["bucket"],
        options=lin.term_bloom_options(n_terms // N_BUCKETS),
    )
    lin.IndexManifest(base).mark_done("impacts", m["input_fingerprint"], {"max_contrib": max_contrib})


def _load_gate_index(spark: SparkSession, base: str) -> dict:
    stats = lin.IndexManifest(base).stage_metrics()
    return {
        **load_index(spark, base),
        "docvecs": spark.read.parquet(os.path.join(base, "docvecs")),
        "impacts": spark.read.parquet(os.path.join(base, "impacts")),
        "max_contrib": stats["impacts"]["max_contrib"],
        "n_docs": stats["lexicon"]["n_docs"],
        "sum_dl": stats["lexicon"]["sum_dl"],
        "dir": base,
    }


def gate_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build-or-load the gate index for ``sf_dir``.

    Returns {postings, lexicon, segments, docvecs, impacts: DataFrame,
    max_contrib, n_docs, sum_dl, avgdl, dir}. Disk-cached across processes
    (driver gate + bench share one build); the returned handles are
    memoized per Spark application.
    """
    return cached_index(
        spark, sf_dir, "gate", GATE_INDEX_VERSION, build_gate_index, _load_gate_index
    )
