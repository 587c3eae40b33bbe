"""Edges extraction + PageRank fixpoint (SURVEY.md §2.7 P1/P2).

Reference semantics (Indexer.java:106-169, quirk Q13), re-expressed as a
DataFrame join-aggregate loop:

    new = (1-d)/N + d * Σ_incoming(rank/outdeg) + d * danglingSum/N
    d = 0.85, ≤50 iterations, converged when every |new-old| ≤ 1e-4.

Scale notes: each iteration is one shuffle (edges ⋈ ranks on src, then
groupBy dst); ``localCheckpoint`` every few iterations cuts the lineage
chain that would otherwise grow linearly in iterations. Ranks are doubles —
the convergence check tolerates executor-order float variance (1e-4 ≫ ULP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.operators.literals import local_frame

DAMPING = 0.85
MAX_ITERATIONS = 50
CONVERGENCE = 1e-4
CHECKPOINT_EVERY = 5

# generator plants lines "import pkg{K}.mod{I}" (sources/corpus.py); the path
# analog key is the mod number in src/pkg{K}/mod{I}.{ext}
_IMPORT_RE = r"import pkg\d+\.mod(\d+)"
_PATH_KEY_RE = r"mod(\d+)\."


def extract_edges(documents: DataFrame) -> DataFrame:
    """(src_doc_id, dst_doc_id) from import lines — the link-graph analog
    (Indexer.java:86-103). Targets outside the corpus drop out via the inner
    join (left-semi semantics of Indexer.java:227 / J3)."""
    targets = documents.select(
        F.col("doc_id").alias("dst_doc_id"),
        F.regexp_extract("path", _PATH_KEY_RE, 1).alias("_mod_key"),
    ).filter(F.col("_mod_key") != "")
    imports = (
        documents.select(
            F.col("doc_id").alias("src_doc_id"),
            F.explode(F.regexp_extract_all("content", F.lit(_IMPORT_RE), 1)).alias("_mod_key"),
        )
    )
    return (
        imports.join(targets, "_mod_key")
        .filter(F.col("src_doc_id") != F.col("dst_doc_id"))
        .select("src_doc_id", "dst_doc_id")
        .distinct()
    )


def pagerank(
    documents: DataFrame,
    edges: DataFrame,
    damping: float = DAMPING,
    max_iterations: int = MAX_ITERATIONS,
    convergence: float = CONVERGENCE,
) -> DataFrame:
    """(doc_id, pagerank). Faithful to the reference loop incl. uniform
    dangling-mass redistribution each iteration (quirk Q13)."""
    spark = documents.sparkSession
    nodes = documents.select("doc_id")
    n = nodes.count()
    if n == 0:
        return local_frame(spark, [], "doc_id long, pagerank double")

    outdeg = edges.groupBy("src_doc_id").agg(F.count(F.lit(1)).alias("outdeg"))
    # edges with per-src outdegree attached, reused every iteration
    e = edges.join(outdeg, "src_doc_id").select("src_doc_id", "dst_doc_id", "outdeg")
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    src_set = outdeg.select(F.col("src_doc_id").alias("doc_id"))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n

    for it in range(max_iterations):
        dangling = (
            ranks.join(src_set, "doc_id", "left_anti").agg(F.sum("rank").alias("s")).collect()[0]["s"]
        ) or 0.0
        dangling_factor = damping * dangling / n

        contrib = (
            e.join(ranks, e.src_doc_id == ranks.doc_id)
            .select(F.col("dst_doc_id").alias("doc_id"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("doc_id")
            .agg(F.sum("c").alias("in_sum"))
        )
        new_ranks = (
            nodes.join(contrib, "doc_id", "left")
            .select(
                "doc_id",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.lit(dangling_factor)).alias(
                    "new_rank"
                ),
            )
        )
        joined = ranks.join(new_ranks, "doc_id")
        max_delta = joined.agg(F.max(F.abs(F.col("new_rank") - F.col("rank"))).alias("d")).collect()[0]["d"]
        ranks = joined.select("doc_id", F.col("new_rank").alias("rank"))
        if (it + 1) % CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=True)
        if max_delta is not None and max_delta <= convergence:
            break

    return ranks.select("doc_id", F.col("rank").alias("pagerank"))
