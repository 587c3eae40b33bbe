"""Corpus → documents ingest (SURVEY.md §2.2 F1-F6, §1.2).

All row-level work is Spark built-ins (whole-stage codegen): sha256 invariant,
content fingerprint, URL key, dedup. The one scale-sensitive step is the
deterministic dense ``doc_id`` assignment — done with a two-phase
sampled-boundary bucket + offset technique instead of a single global window
(which would serialize on one task at 10^12 rows). IDs depend only on the
total order of the unique key (repo, path, commit), so they are identical at
any parallelism level — the north rule's rank-identity between N and 4N
executors hinges on this (monotonically_increasing_id is rejected for
exactly that reason, SURVEY.md §4.2-5).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from searchengine_spark.operators.literals import literal_map, local_frame

SORT_KEY = ["repo", "path", "commit"]


def with_invariants(corpus: DataFrame) -> DataFrame:
    """Add url/title/sha256/fingerprint/headers columns (pure built-ins).

    - ``content_sha256``: the per-row ingest invariant (BASELINE.json).
    - ``fingerprint``: the reference's content fingerprint
      (Normalize.java:14-36: NFD → ASCII fold → collapse whitespace →
      lowercase → MD5 → base64). For ASCII corpora NFD+fold is the identity,
      so the whole expression stays JVM-side; non-ASCII corpora can swap in a
      pandas-UDF fingerprint without touching callers.
    - ``headers``: [has #, has ##, has ###] markdown analog of h1-h3 presence
      (Indexer.java:216-219).
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col("content"), r"\s+", " ")))
    return (
        corpus.withColumn("url", F.concat_ws("", F.concat_ws("/", "repo", "path"), F.lit("@"), F.col("commit")))
        .withColumn("title", F.element_at(F.split("path", "/"), -1))
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
        .withColumn("fingerprint", F.base64(F.unhex(F.md5(norm))))
        .withColumn(
            "headers",
            F.array(
                F.col("content").rlike(r"(?m)^# "),
                F.col("content").rlike(r"(?m)^## "),
                F.col("content").rlike(r"(?m)^### "),
            ),
        )
    )


def dedup(docs: DataFrame) -> DataFrame:
    """Dedup by URL then by content fingerprint (Crawler.java:56-78, F5/F6).

    Deterministic winner: smallest (repo, path, commit) — a min_by per key,
    expressed as a window row_number so it is one shuffle per key column.
    """
    w_url = Window.partitionBy("url").orderBy(*SORT_KEY)
    w_fp = Window.partitionBy("fingerprint").orderBy(*SORT_KEY)
    return (
        docs.withColumn("_rn", F.row_number().over(w_url))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _sample_boundaries(
    sample_from: DataFrame,
    n_buckets: int,
    target_per_bucket: int = 128,
    n_rows: int | None = None,
) -> list[tuple[str, str, str]]:
    """Deterministic range boundaries over the (repo,path,commit) key:
    hash-filter a ~``n_buckets·target_per_bucket``-row sample (same rows at
    any parallelism — the filter is a pure row predicate, not a reservoir),
    sort on the driver, take every len/n_buckets-th key. Boundaries need not
    be exact quantiles — they only balance bucket sizes, never affect the
    assigned ids. ``n_rows`` is ``sample_from``'s row count when the caller
    has it already (else one count job)."""
    if n_buckets <= 1:
        return []
    n = sample_from.count() if n_rows is None else n_rows
    want = n_buckets * target_per_bucket
    if n <= want:
        return []  # tiny input → one bucket is fine
    mod = max(1, n // want)
    keys = (
        sample_from.select(*SORT_KEY)
        .filter(F.pmod(F.xxhash64(*SORT_KEY), F.lit(mod)) == 0)
        .collect()
    )
    tuples = sorted((r["repo"], r["path"], r["commit"]) for r in keys)
    if len(tuples) < n_buckets:
        return []
    step = len(tuples) / n_buckets
    bounds: list[tuple[str, str, str]] = []
    for i in range(1, n_buckets):
        t = tuples[int(i * step)]
        if not bounds or t > bounds[-1]:
            bounds.append(t)
    return bounds


@contextmanager
def assign_doc_ids(
    docs: DataFrame,
    n_partitions: int | None = None,
    sample_from: DataFrame | None = None,
    n_rows: int | None = None,
) -> Iterator[DataFrame]:
    """Yields ``docs`` with a dense, deterministic doc_id = rank in the
    global (repo,path,commit) order — two-phase assignment with a
    *data-derived* range bucket:

    1. bucket = #(sampled boundaries <= key): a pure, order-preserving
       function of the row, computed map-side (no range exchange, no
       reliance on physical partition ids — so nothing needs checkpointing
       to stay stable across re-evaluation);
    2. per-bucket counts (one tiny agg on the persisted slim rows) →
       cumulative offsets, inlined as one literal map (bucket-count sized);
    3. doc_id = offset(bucket) + row_number within bucket ordered by key —
       one hash exchange total.

    Replaces the earlier repartitionByRange + eager localCheckpoint design,
    which paid an extra full evaluation for Spark's boundary-sampling job
    plus a range exchange *and* a window hash exchange; profiling showed
    that chain scaling backwards 8→32 cores on small-row inputs (fixed
    per-shuffle costs dominate). ``sample_from`` lets the caller supply a
    cheap key source (the raw corpus scan, column-pruned) so boundary
    sampling never evaluates the upstream dedup/fingerprint pipeline, and
    ``n_rows`` its row count when the caller has counted it already.
    The boundary count is a load-balance knob only: ids are rank-in-global-
    order at any bucket count, so results stay identical across N/4N
    parallelism. At cluster scale use n_partitions ~ executors·4; the O(B)
    per-row boundary scan is a vectorized struct-compare (swap in a binary
    search via a sorted-array higher-order expr if B grows past ~10^3).

    The persisted slim rows serve exactly two consumers (the counts agg and
    the yielded plan), so they live as long as the ``with`` block: consume
    the frame inside it. On exit — a failed or killed write too — they are
    released, so no build pins a slim-table copy in a long-lived session.
    """
    from pyspark import StorageLevel

    spark = docs.sparkSession
    if n_partitions is None:
        n_partitions = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)

    src = sample_from if sample_from is not None else docs
    bounds = _sample_boundaries(src, n_partitions, n_rows=n_rows)
    if bounds:
        barr = F.array(
            *[
                F.struct(
                    F.lit(r).alias("repo"), F.lit(p).alias("path"), F.lit(c).alias("commit")
                )
                for r, p, c in bounds
            ]
        )
        key = F.struct(F.col("repo"), F.col("path"), F.col("commit"))
        bucket = F.size(F.filter(barr, lambda b: b <= key))
    else:
        # single bucket; non-foldable zero so the window below keeps a real
        # partition spec (no "No Partition Defined" single-task warning)
        bucket = F.pmod(F.xxhash64("repo"), F.lit(1))
    bucketed = docs.withColumn("_bucket", bucket.cast("int")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        counts = {
            r["_bucket"]: r["cnt"]
            for r in bucketed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        offsets = {}
        acc = 0
        for b in sorted(counts):
            offsets[b] = acc
            acc += counts[b]
        # typed, so an empty corpus (no buckets) still resolves the lookup
        offset = literal_map(offsets, "map<bigint,bigint>")
        w = Window.partitionBy("_bucket").orderBy(*SORT_KEY)
        yield (
            bucketed.withColumn("_rn", F.row_number().over(w))
            .withColumn(
                "doc_id",
                (offset[F.col("_bucket").cast("long")] + F.col("_rn") - 1).cast("long"),
            )
            .drop("_bucket", "_rn")
        )
    finally:
        bucketed.unpersist()


@contextmanager
def build_documents(
    corpus: DataFrame, n_partitions: int | None = None, n_rows: int | None = None
) -> Iterator[DataFrame]:
    """Yields corpus → documents (without doc_len/pagerank, added by later
    stages); consume it inside the ``with`` block (see assign_doc_ids).
    ``n_rows`` is the corpus's row count if the caller has it (build_index
    takes it from the corpus fingerprint), saving boundary sampling a count.

    The dedup windows + doc_id bucket/ordinal passes all run over a SLIM
    projection (keys + derived metadata, no content) — at 10^12-file scale
    those are three shuffles of ~200-byte rows instead of full documents.
    Content crosses at most ONE shuffle, in the final join back on the
    table's primary key (repo, path, commit); when the id side fits under
    the broadcast threshold it crosses none. Precondition: (repo, path,
    commit) is unique in the input (the Iceberg table's identity — the url
    and fingerprint dedups still collapse logical duplicates).
    """
    slim = with_invariants(corpus).drop("content", "lang")
    # boundary sampling reads keys straight off the (column-pruned) corpus
    # scan — never through the fingerprint/dedup pipeline above
    with assign_doc_ids(
        dedup(slim), n_partitions, sample_from=corpus.select(*SORT_KEY), n_rows=n_rows
    ) as ids:
        yield ids.join(corpus.select(*SORT_KEY, "lang", "content"), list(SORT_KEY))


def verify_sha256_invariant(corpus: DataFrame, documents: DataFrame) -> int:
    """Ingest invariant (BASELINE.json input_hint): every surviving document
    row carries sha2(content,256) equal to its corpus row. Returns violation
    count (0 == pass). Anti-join keyed on the natural key + hash."""
    c = corpus.select("repo", "path", "commit", F.sha2("content", 256).alias("expected"))
    d = documents.select("repo", "path", "commit", F.col("content_sha256").alias("actual"))
    return (
        d.join(c, ["repo", "path", "commit"], "left")
        .filter((F.col("expected").isNull()) | (F.col("expected") != F.col("actual")))
        .count()
    )


def apply_exclusions(corpus: DataFrame, rules: list[dict]) -> DataFrame:
    """Exclusion-rule filter — the corpus analog of robots.txt denylists
    (RobotsTxtHandler.java:31-78, SURVEY.md S3): drop rows whose repo/path
    matches any rule. Rules are a tiny broadcast table; the check is a
    broadcast LEFT ANTI join on prefix/lang predicates (the reference's
    per-URL prefix scan, vectorized).

    rule: {"repo_prefix": str|None, "path_prefix": str|None, "lang": str|None}
    — conjunctive within a rule, disjunctive across rules.
    """
    spark = corpus.sparkSession
    if not rules:
        return corpus
    deny = local_frame(
        spark,
        [
            (r.get("repo_prefix"), r.get("path_prefix"), r.get("lang"))
            for r in rules
        ],
        "repo_prefix string, path_prefix string, lang string",
    )
    cond = (
        (deny.repo_prefix.isNull() | corpus.repo.startswith(deny.repo_prefix))
        & (deny.path_prefix.isNull() | corpus.path.startswith(deny.path_prefix))
        & (deny.lang.isNull() | (corpus.lang == deny.lang))
    )
    return corpus.join(F.broadcast(deny), cond, "left_anti")


def crawl_delta(
    old: DataFrame, new: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Snapshot diff between two crawl generations: (doc_id, status) with
    status in {added, removed, changed, same} — the incremental-recrawl
    primitive behind the already-indexed skip (F10): only 'added'/'changed'
    rows re-enter the tokenize/index pipeline, 'removed' rows queue for
    deletion from the index.

    Shape: each side reduces to (doc_id, content md5) — a slim projection,
    the same no-content-shuffle rule the ingest dedup follows — then ONE
    full-outer equi-join on doc_id decides the status. At 10^12 files both
    sides bucket by doc_id on disk, making the join co-partitioned; content
    never crosses the wire, only 16-byte digests."""
    o = old.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("_om"))
    n = new.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("_nm"))
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_om").isNull(), F.lit("added"))
        .when(F.col("_nm").isNull(), F.lit("removed"))
        .when(F.col("_om") == F.col("_nm"), F.lit("same"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )
