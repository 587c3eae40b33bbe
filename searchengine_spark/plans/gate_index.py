"""Gate index: the index that serves the driver-gate retrieval queries
(bm25/tfidf/phrase/term_search/prefix/lexicon), REST (jobs/serve_api.py)
and the ``search`` benchmark workload.

It is exactly one ``build_index`` run (plans/build_index.py) over the sf's
``documents`` table with the ``simple`` analyzer: lower + split on
non-alnum, positions over the raw split — exactly what the DuckDB oracles
compute, so the gates check the index-served path against the same SQL.
Nothing is derived after the build; the run publishes, with its manifest,
lineage rows and stage-level resume, the columnar tables only:

- ``postings/``  (doc_id, term, tf, positions, dl, bucket), one file per
  term-hash ``bucket=*`` directory, so a query's scan touches only its
  terms' directories (partition pruning ≙ the reference's per-term Mongo
  point lookups, SearchService.java:464-477);
- ``lexicon/``   (term, df, cf, idf_compat, idf_bm25, bucket) — query
  serving collects its |q| rows in one tiny job;
- ``_manifest.json`` with the n_docs / sum_dl / avgdl scalars (avgdl =
  sum_dl/n_docs, computed identically in the DuckDB oracles).

Building and serving these runs in the JVM alone: no pandas/Arrow UDF, so
a REST process (jobs/serve_api.py) never starts a Python worker. The
compressed ``segments/`` (delta+varint blocks with skip pointers and
block-max scores, operators/segments.py) are encoded on first use by
``build_index.ensure_segments(spark, idx["dir"])``, which every
segment-served path calls (``serve.bm25_topk_blockmax`` and the ``*_wand``
gates); the encode publishes into the cached directory atomically and is
recorded in its manifest and lineage.

:func:`cached_index` is the content-addressed build-or-load cache (the
trigram index and the compat gate's documents table use it too, each in
its own directory): the key hashes the documents parquet (path,
mtime, size) plus a layout version, so driver runs at different scale
factors never collide and a regenerated corpus invalidates the cache. The
publish is atomic (build into ``*.tmp<pid>``, rename), so concurrent query
processes can't observe a half-built index. A publish removes the same
name's directories of lower versions, which no current build can load.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import SparkSession

from searchengine_spark.plans import lineage as lin
from searchengine_spark.plans.build_index import build_index, load_index
from searchengine_spark.sources.tables import load_table

GATE_INDEX_VERSION = 8  # v8: columnar tables only; segments encoded on first use

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
    Spark application. Publishing a build deletes the ``name`` directories
    of every lower version (any digest); newer versions and other names
    stay."""
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
        else:
            _remove_superseded(name, version)
    _LOADED[memo] = load(spark, base)
    return _LOADED[memo]


def _remove_superseded(name: str, version: int) -> None:
    """Delete ``{name}{v}-*`` under the cache root for every ``v < version``."""
    pattern = re.compile(rf"^{re.escape(name)}(\d+)-")
    root = _cache_root()
    for entry in os.listdir(root):
        m = pattern.match(entry)
        if m and int(m.group(1)) < version:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


def build_gate_index(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Build the gate index into ``base`` (assumed empty/tmp)."""
    build_index(spark, load_table(spark, sf_dir, "documents"), base, analyzer="simple")


def _load_gate_index(spark: SparkSession, base: str) -> dict:
    lex = lin.IndexManifest(base).stage_metrics()["lexicon"]
    return {
        **load_index(spark, base),
        "n_docs": lex["n_docs"],
        "sum_dl": lex["sum_dl"],
        "dir": base,
    }


def gate_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build-or-load the gate index for ``sf_dir``.

    Returns {postings, lexicon: DataFrame, avgdl, n_docs, sum_dl, dir}
    (``segments`` too if some process has encoded them; segment-served
    paths read them through ``ensure_segments(spark, dir)``). Disk-cached
    across processes
    (driver gate + bench share one build); the returned handles are
    memoized per Spark application.
    """
    return cached_index(
        spark, sf_dir, "gate", GATE_INDEX_VERSION, build_gate_index, _load_gate_index
    )
