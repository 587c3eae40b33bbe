"""Distributed cardinality sketches — the sub-linear-state analytics a
100 TB engine runs where exact distinct counts would shuffle the world.

HyperLogLog here is **engine-portable and deterministic**: the hash is the
repo's standard 60-bit md5 prefix (identical in Spark, numpy, and DuckDB),
the register index is its top 8 bits, and the rank comes from `bin()`
string length (verified bit-identical across engines) — so the sketch
itself is hash-gateable, unlike Spark's built-in ``approx_count_distinct``
whose HLL++ registers are engine-private.

The scale story is the merge operator: a register vector merges by
elementwise MAX — associative and commutative, so Spark's map-side combine
IS the sketch union, per-partition sketches fold without ever seeing each
other's inputs, and sketches of different corpora (or index segments)
union in O(registers). ``hll_estimate`` applies the standard bias-corrected
estimator with the small-range (linear counting) correction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.functions.tokenize import exploded_tokens

HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
W_BITS = 60 - HLL_P  # rank domain: the low 52 bits of the 60-bit hash


def hll_registers(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(bucket, rho): the non-empty registers of an HLL(p=8) sketch of the
    corpus' DISTINCT-TERM cardinality.

    No ``distinct`` pass is needed: max over the multiset equals max over
    the set (the MinHash lesson), so the plan is one row-local projection
    plus ONE map-side-combined groupBy(bucket).max — shuffle traffic is at
    most 256 rows per map partition regardless of corpus size."""
    h = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10)
        .cast("long")
        .alias("h")
    )
    rows = exploded_tokens(docs, text_col=text_col).select(h)
    w = F.col("h").bitwiseAND(F.lit((1 << W_BITS) - 1))
    rho = (
        F.when(w == 0, F.lit(W_BITS + 1))
        .otherwise(F.lit(W_BITS + 1) - F.length(F.bin(w)))
        .cast("long")
    )
    return (
        rows.select(
            F.expr(f"shiftright(h, {W_BITS})").cast("long").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two sketches = elementwise register max — O(registers)."""
    return a.unionByName(b).groupBy("bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: list[tuple[int, int]]) -> float:
    """Bias-corrected HLL estimate (Flajolet et al. 2007) from (bucket, rho)
    rows; absent buckets count as empty (rho 0). Includes the small-range
    linear-counting correction — driver-side arithmetic over 256 values."""
    regs = [0] * HLL_M
    for bucket, rho in registers:
        regs[int(bucket)] = max(regs[int(bucket)], int(rho))
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    raw = alpha * HLL_M * HLL_M / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    if raw <= 2.5 * HLL_M and zeros:
        return HLL_M * math.log(HLL_M / zeros)
    return raw


CMS_D = 4  # hash rows
CMS_W = 256  # counters per row


def cms_counters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(row, col, n): the non-zero counters of a Count-Min sketch of TOKEN
    OCCURRENCE frequencies — the bounded-memory heavy-hitter / frequency
    oracle (point estimate = min over rows of counter[r][h_r(term)], never
    an underestimate).

    Each token occurrence lands in CMS_D (row, col) cells via salted md5
    hashes — a row-local 4-way fan-out, then ONE map-side-combined count
    aggregate whose shuffle is at most d*w rows per map partition. Counters
    merge by elementwise SUM (associative), so per-partition sketches fold
    for free, exactly like the HLL registers fold by max."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("row"),
                (
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"cms{r}:"), F.col("term"))), 1, 15),
                        16,
                        10,
                    ).cast("long")
                    % CMS_W
                )
                .cast("int")
                .alias("col"),
            )
            for r in range(CMS_D)
        ]
    )
    return (
        exploded_tokens(docs, text_col=text_col)
        .select(F.explode(cells).alias("c"))
        .select(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(counters: list[tuple[int, int, int]], term: str) -> int:
    """Point frequency estimate: min over rows of the term's counter —
    driver-side arithmetic, guaranteed >= the true count."""
    import hashlib

    cells = {(int(r), int(c)): int(n) for r, c, n in counters}
    est = None
    for r in range(CMS_D):
        h = int(hashlib.md5(f"cms{r}:{term}".encode()).hexdigest()[:15], 16) % CMS_W
        v = cells.get((r, h), 0)
        est = v if est is None else min(est, v)
    return int(est or 0)


BLOOM_M = 65536  # bit positions
BLOOM_K = 4  # hash functions


def _bloom_pos_array(key_col: str, m: int, k: int):
    """The k salted-md5 bit positions of a key — same 60-bit hash family as
    the HLL/CMS sketches, so the DuckDB twin is a literal transcription."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"bloom{i}:"), F.col(key_col))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % m
            )
            for i in range(k)
        ]
    )


def bloom_positions(
    keys: DataFrame, key_col: str = "key", m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """The set-bit positions of a Bloom filter over ``keys`` — the crawler's
    visited set (F5's "have we fetched this url?") in O(m) state instead of
    O(urls): at 10^11 urls an exact visited set is terabytes of state per
    frontier worker; a Bloom filter answers "definitely new / probably seen"
    in a fixed budget, and the one-sided error is safe for crawling (a false
    positive skips a re-fetch, never corrupts).

    Representation is the DISTINCT position set (<= m rows, one bigint
    each) rather than packed 64-bit words: packing is a storage-layer
    detail (64x fewer rows) that is NOT engine-portable — DuckDB raises on
    ``1::BIGINT << 63`` — while the position set is exactly as mergeable
    (union = distinct-union, associative) and hash-gateable. The plan is a
    row-local k-way fan-out then ONE map-side-combined distinct: shuffle
    traffic is at most m rows per map partition regardless of key count,
    the same fold shape as the HLL max and the CMS sum."""
    return (
        keys.select(F.explode(_bloom_pos_array(key_col, m, k)).alias("pos"))
        .distinct()
    )


def bloom_probe(
    positions: DataFrame,
    probes: DataFrame,
    key_col: str = "key",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Membership probe: a key is ``maybe_present`` iff ALL k of its bit
    positions are set (no false negatives; false-positive rate set by the
    m/n load factor). The filter side is <= m rows, so it broadcasts; the
    probe side stays partitioned — the visited-check inside the frontier
    expansion join (crawl_frontier_bfs) at any scale."""
    expanded = probes.select(
        key_col, F.explode(_bloom_pos_array(key_col, m, k)).alias("pos")
    )
    hit = expanded.join(
        F.broadcast(positions.withColumn("hit", F.lit(1))), "pos", "left"
    )
    return hit.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("maybe_present")
    )

