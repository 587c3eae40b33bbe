"""Physical-layout operators: multi-dimensional clustering keys.

``zorder_layout`` computes the Z-order (Morton) key that write-time
clustering sorts by — THE data-layout primitive for 100 TB scan pruning
(Delta OPTIMIZE ZORDER, Iceberg sort orders, Hudi clustering all use it).
A table range-partitioned and sorted by the interleaved key keeps rows
that are close in EVERY clustered dimension inside the same parquet row
groups, so min/max footer stats prune scans for predicates on user_id,
on event time, or on both — where a single-column sort only ever prunes
one of them.

Everything is exact integer arithmetic (min/max normalize → fixed-width
scale → bit interleave), so the DuckDB oracle reproduces the key
bit-for-bit and the operator is engine-portable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.operators.literals import local_frame


def _interleave(x: Column, y: Column, bits: int) -> Column:
    """Morton-interleave two ``bits``-wide non-negative ints: bit i of x
    lands at position 2i, bit i of y at 2i+1. A static expression tree
    (2·bits shift/mask/or terms) that stays inside whole-stage codegen."""
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a + b, parts)


def zorder_layout(
    events: DataFrame,
    bits: int = 16,
    n_groups: int = 64,
) -> DataFrame:
    """(event_id, zval, file_group): the Z-order clustering key over
    (user_id, event time) plus the file-group id a writer would
    range-partition by.

    Each dimension is min/max-normalized to ``bits`` bits with exact
    integer arithmetic — sx = ⌊(v − min)·(2^bits − 1) / (max − min)⌋ —
    then bit-interleaved; ``file_group`` is the top log2(n_groups) bits of
    the key, so group boundaries are fixed Z-curve ranges (a pure function
    of the key: no sort, no sampling pass needed to assign groups).

    Scale shape: the min/max bounds are ONE 4-value aggregate broadcast
    back as a 1-row cross join; everything else is a map-only projection
    (no shuffle, no Python). The actual rewrite step a writer runs —
    ``df.repartitionByRange(n_groups, "file_group", "zval")
    .sortWithinPartitions("zval")`` — then gives every output file a tight
    (user, time) bounding box, which is what parquet min/max pruning needs
    to skip files on either predicate dimension at 100 TB.
    """
    assert n_groups & (n_groups - 1) == 0, "n_groups must be a power of two"
    group_bits = n_groups.bit_length() - 1
    src = events.select(
        "event_id",
        F.col("user_id").cast("long").alias("u"),
        # seconds granularity keeps (t-lo)·(2^bits-1) far inside int64
        # (micros × 65535 would overflow at ~14-year spans); an exact
        # integer floor in both engines (div here, // in DuckDB). The NTZ
        # cast is safe: the session TZ is pinned UTC, so the epoch equals
        # DuckDB's naive epoch_us.
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("t"),
    )
    bounds = src.agg(
        F.min("u").alias("u_lo"),
        F.max("u").alias("u_hi"),
        F.min("t").alias("t_lo"),
        F.max("t").alias("t_hi"),
    )
    top = (1 << bits) - 1
    # exact-integer scale: rebase to corpus-start FIRST, then multiply and
    # integer-divide — `div` is exact int64 floor division (no double pass,
    # so no 2^53 precision cliff), mirrored by DuckDB's `//`
    sx = F.expr(
        f"((u - u_lo) * {top}) div greatest(1, u_hi - u_lo)"
    )
    sy = F.expr(
        f"((t - t_lo) * {top}) div greatest(1, t_hi - t_lo)"
    )
    return (
        src.crossJoin(F.broadcast(bounds))
        .select("event_id", sx.alias("sx"), sy.alias("sy"))
        .select(
            "event_id",
            _interleave(F.col("sx"), F.col("sy"), bits).alias("zval"),
        )
        .select(
            "event_id",
            "zval",
            F.shiftright(F.col("zval"), 2 * bits - group_bits).alias("file_group"),
        )
    )


def docid_reorder_gain(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(layout, total_varint_bytes, n_postings) — measure the posting-list
    compression gain from SIMILARITY-CLUSTERED doc-id assignment: the
    index-layout technique (Blandford–Blelloch document reordering, the
    BP/recursive-bisection family Lucene and PISA apply before writing
    segments) where similar docs get adjacent ids so delta gaps shrink and
    varint/FOR blocks pack tighter.

    Two layouts are costed on the SAME postings: ``original`` (ids as
    ingested) and ``clustered`` (ids = rank by the first MinHash band key,
    zero-padded so lexicographic == numeric order, ties by doc_id — docs
    sharing near-dup structure become neighbors). Cost model = exact
    varint bytes of the per-term delta gaps (1 byte per 7 bits, CASE
    ladder — no float log), the same encoding the segment codec ships.

    Plan/scale: the band key is one corpus-pass MinHash (the shared
    _minhash_wide aggregate); the clustered rank uses the two-phase
    ordered-bucket pattern (epoch_shuffle): per-bucket row_number + a
    broadcast prefix-sum of bucket counts — the bucket is a PREFIX of the
    sort key (first 3 pad digits), so order is preserved without a global
    window. Gap windows partition per term — the same per-list locality
    the segment writer already exploits (at scale gaps are computed within
    doc-range shards exactly as segments.py does)."""
    from pyspark.sql import Window

    from searchengine_spark.functions.tokenize import exploded_tokens
    from searchengine_spark.operators.dedup import _minhash_wide

    spark = docs.sparkSession
    wide = _minhash_wide(docs, 4, id_col, text_col)
    band_key = F.concat_ws(
        ",", *[F.lpad(F.col(f"m{j}").cast("string"), 10, "0") for j in range(4)]
    )
    # keyed spans the bucket-count collect job AND the mapping plan —
    # materialize the slim (doc_id, bk, b) frame so the MinHash corpus
    # pass runs once, not once per consumer
    keyed = wide.select(F.col(id_col), band_key.alias("bk")).withColumn(
        "b", F.substring("bk", 1, 3)
    ).localCheckpoint(eager=True)
    counts = sorted(
        (r["b"], r["n"])
        for r in keyed.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for b, n in counts:
        offsets.append((b, acc))
        acc += n
    off = local_frame(spark, offsets, "b string, off long")
    w = Window.partitionBy("b").orderBy(F.asc("bk"), F.asc(id_col))
    mapping = (
        keyed.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(off), "b")
        .select(F.col(id_col), (F.col("off") + F.col("r") - 1).cast("long").alias("nid"))
    )
    # post is joined inside cost() twice (original + clustered layouts) —
    # materialize the token explode+distinct once across both calls
    post = (
        exploded_tokens(docs, id_col, text_col)
        .select(id_col, "term")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def cost(ids: DataFrame, layout: str) -> DataFrame:
        wt = Window.partitionBy("term").orderBy(F.asc("nid"))
        gaps = (
            post.join(ids, id_col)
            .withColumn("prev", F.lag("nid").over(wt))
            .select(
                "term",
                F.when(F.col("prev").isNull(), F.col("nid") + 1)
                .otherwise(F.col("nid") - F.col("prev"))
                .alias("g"),
            )
        )
        nbytes = (
            F.when(F.col("g") < 128, 1)
            .when(F.col("g") < 16384, 2)
            .when(F.col("g") < 2097152, 3)
            .when(F.col("g") < 268435456, 4)
            .otherwise(5)
        )
        # FOR/bit-packing cost: exact bit width of each gap (CASE ladder,
        # no float log) — the finer-grained measure where clustering shows
        # up even when every gap already fits one varint byte
        nbits = F.lit(40)
        for w_ in range(39, 0, -1):
            nbits = F.when(F.col("g") < (1 << w_), w_).otherwise(nbits)
        return gaps.agg(
            F.sum(nbytes).cast("long").alias("total_varint_bytes"),
            F.sum(nbits).cast("long").alias("total_gap_bits"),
            F.count(F.lit(1)).cast("long").alias("n_postings"),
        ).select(
            F.lit(layout).alias("layout"),
            "total_varint_bytes",
            "total_gap_bits",
            "n_postings",
        )

    orig = docs.select(F.col(id_col), F.col(id_col).cast("long").alias("nid"))
    return cost(orig, "original").unionByName(cost(mapping, "clustered"))
