"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), token n-gram Jaccard, MinHash signatures + LSH band
pairs, and SimHash — each expressed with Spark built-ins only (zero Python
crossings) so the whole pipeline stays inside whole-stage codegen and the
DuckDB oracle can reproduce it exactly.

Engine-portable hashing: token/shingle ids derive from ``md5`` (identical in
Spark and DuckDB) — first 15 hex chars → 60-bit integer — rather than from
engine-private hash functions. MinHash permutations are the classic
``(a*x + b) mod p`` family with p = 2^31-1 and x pre-reduced mod p so all
arithmetic stays in 64-bit range.

Scale notes: the Jaccard self-join is candidate-generated by shared shingle;
``max_shingle_df`` drops ubiquitous shingles (the quadratic hot keys) before
the join — the same stop-shingle defusal every production near-dup pipeline
applies. MinHash/LSH replaces the quadratic join entirely at 10^12 scale:
band buckets are the join key, cost is linear in corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.functions.tokenize import exploded_tokens
from searchengine_spark.plans.persist_registry import track as _track

MERSENNE31 = 2147483647  # 2^31 - 1


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, canonical_doc_id, n_copies) — exact content dedup with a
    deterministic canonical representative (min id)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _token_ngrams(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """Distinct token n-grams per doc as (id, shingle string).

    Built entirely array-side: ``slice`` windows over the token array +
    ``array_distinct``, so shingling is a zero-shuffle map stage (the old
    shape — n-1 positional self-joins plus a global ``distinct`` — shuffled
    the token stream n+1 times). Adjacency note: the regex split only yields
    empty tokens at the array ends (consecutive separators collapse), so
    consecutive non-empty tokens ARE raw-position-adjacent — the filtered
    array loses no positional information."""
    from searchengine_spark.functions.tokenize import tokens_array

    arr = F.filter(tokens_array(F.col(text_col)), lambda t: t != F.lit(""))
    # Materialize the token array through a Generate barrier: Catalyst
    # inlines Project aliases into lambda bodies, so referencing ``arr``
    # from inside ``transform``'s lambda would re-run split+filter PER
    # ELEMENT (O(len²) per doc — measured 13× slower). ``explode(array(x))``
    # evaluates x exactly once per row and exposes it as a real attribute
    # the optimizer cannot collapse through.
    toks = docs.select(F.col(id_col), F.explode(F.array(arr)).alias("toks"))
    t = F.col("toks")
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def exact_substring_spans(
    docs: DataFrame,
    window: int = 16,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    via: str = "arrow",
) -> DataFrame:
    """Exact-substring dedup à la Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"): find every maximal token span that
    is verbatim-shared across documents, as the byte-range drop-list a
    training pipeline consumes.

    Instead of a suffix array (a sequential construction), the distributed
    formulation hashes every ``window``-token sliding window (stride 1),
    keeps the fingerprints occurring in >= ``min_docs`` DISTINCT docs, and
    merges each doc's hit positions into maximal runs (gaps-and-islands:
    run id = pos - row_number). A span of L>window shared tokens shows up
    as L-window+1 consecutive window hits, so the merged run recovers the
    full span — the same output a suffix-array pass gives for spans >=
    window tokens.

    Window emission has two physical paths with identical output (same
    tokenization, same md5-of-joined-window fingerprint — property-tested
    equal):

    - ``via="arrow"`` (default): one ``mapInPandas`` stage — tokenize,
      join, md5 per window in C (hashlib) over Arrow batches. The window
      loop is pure map work, so the Python crossing costs one Arrow
      round-trip and nothing else; measured ~25× faster than the Catalyst
      form at bench scale because higher-order-function lambdas
      (``transform`` + per-element ``slice``/``concat_ws``/``md5``) are
      interpreted per element outside codegen and materialize
      ``window``× the token bytes.
    - ``via="catalyst"``: the all-built-ins form (zero Python crossings),
      kept as the engine-portable twin the equality property checks.

    Scale shape (both paths): windows are linear in corpus tokens and
    emitted map-side (no shuffle); the duplicate filter is one
    map-side-combinable aggregate on fp; the islands window partitions by
    doc (bounded by doc length, never hot). Output:
    (doc_id, span_start, span_end, n_windows) — token positions, 1-based
    inclusive."""
    if via == "arrow":
        wins = _windows_arrow(docs, window, id_col, text_col)
    else:
        wins = _windows_catalyst(docs, window, id_col, text_col)
    return _merge_duplicate_spans(wins, window, min_docs, id_col)


def _windows_catalyst(
    docs: DataFrame, window: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, fp) sliding-window fingerprints, Spark built-ins only."""
    from searchengine_spark.functions.tokenize import tokens_array

    arr = F.filter(tokens_array(F.col(text_col)), lambda t: t != F.lit(""))
    # Generate barrier: materialize the token array (see _token_ngrams)
    toks = docs.select(F.col(id_col), F.explode(F.array(arr)).alias("toks"))
    t = F.col("toks")
    wins_arr = F.when(
        F.size(t) >= window,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (window - 1)),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(t, i, window))).alias("fp"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,fp:string>>"))
    return toks.select(F.col(id_col), F.explode(wins_arr).alias("w")).select(
        F.col(id_col), F.col("w.pos").alias("pos"), F.col("w.fp").alias("fp")
    )


def _windows_arrow(
    docs: DataFrame, window: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, fp) sliding-window fingerprints via one mapInPandas stage.

    Tokenization mirrors functions.tokenize.tokens_array exactly
    (lower → split ``[^a-z0-9]+`` → drop empties; ASCII-identical across
    Python/JVM/DuckDB), and fp is the same full md5 hexdigest of the
    space-joined window, so the emitted rows are row-identical to
    :func:`_windows_catalyst` (tests/test_pipeline_ops property)."""
    import hashlib
    import re

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, docs.schema[id_col].dataType),
            StructField("pos", LongType()),
            StructField("fp", StringType()),
        ]
    )
    w = window

    flush_rows = 262_144  # bound per-yield memory regardless of doc length

    def emit(batches):
        import pandas as pd

        splitter = re.compile("[^a-z0-9]+")
        md5 = hashlib.md5
        ids, poss, fps = [], [], []
        for pdf in batches:
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in splitter.split(text.lower()) if t]
                n = len(toks)
                for i in range(n - w + 1):
                    ids.append(doc_id)
                    poss.append(i + 1)
                    fps.append(md5(" ".join(toks[i : i + w]).encode()).hexdigest())
                if len(ids) >= flush_rows:
                    yield pd.DataFrame({id_col: ids, "pos": poss, "fp": fps})
                    ids, poss, fps = [], [], []
        if ids:
            yield pd.DataFrame({id_col: ids, "pos": poss, "fp": fps})

    return docs.select(id_col, text_col).mapInPandas(emit, out_schema)


def _merge_duplicate_spans(
    wins: DataFrame, window: int, min_docs: int, id_col: str
) -> DataFrame:
    """Cross-doc duplicate filter + gaps-and-islands span merge over a
    (id, pos, fp) window frame."""
    from pyspark.sql import Window as W

    dups = (
        wins.groupBy("fp")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
    )
    hits = wins.join(dups.select("fp"), "fp").select(F.col(id_col), "pos")
    w_doc = W.partitionBy(id_col).orderBy("pos")
    runs = hits.withColumn("_rid", F.col("pos") - F.row_number().over(w_doc))
    return (
        runs.groupBy(id_col, "_rid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(window - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(F.col(id_col), "span_start", "span_end", "n_windows")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold_micros: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by token n-gram Jaccard ≥ threshold.

    (doc_a, doc_b, jaccard_micros), doc_a < doc_b. Integer micros — exact in
    both engines."""
    sh = _token_ngrams(docs, n, id_col, text_col)
    if max_shingle_df is not None:
        sh = _track(sh.persist())  # feeds the df agg AND the anti join
        hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") > max_shingle_df
        )
        sh = sh.join(hot.select("shingle"), "shingle", "left_anti")
    sh = _track(sh.persist())  # feeds sizes AND both join sides; aggregate-sized
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.lit(1e6)
                * F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            )
            .cast("long")
            .alias("jaccard_micros"),
        )
        .filter(F.col("jaccard_micros") >= threshold_micros)
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold_ppm: int = 500_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 64,
) -> DataFrame:
    """Directed near-dup pairs by shingle CONTAINMENT ≥ threshold:
    (doc_a, doc_b, containment_ppm) where containment = |A∩B| / |A|
    (A = doc_a's distinct token n-gram set), doc_a ≠ doc_b.

    Containment (Broder 1997's other resemblance measure) catches what
    Jaccard misses: a short document wholly quoted inside a long one has
    tiny Jaccard (the union is large) but containment 1.0 — the
    subset-duplication case (boilerplate inclusion, quote farms, wrapper
    pages) a training-data pipeline must catch. Directed: A⊂B and B⊂A are
    different facts, so both orientations are emitted when they clear the
    threshold.

    Scale shape: identical to ``ngram_jaccard_pairs`` — candidates come
    from the shared-shingle equi-join with the ``max_shingle_df``
    stop-shingle defusal ON BY DEFAULT (a ubiquitous shingle is a
    quadratic hot key; dropping df>cap shingles bounds every join group),
    sizes are doc-keyed aggregates joined back, and the ppm score is
    integer-exact in both engines. Cost is linear in surviving
    (shingle, doc) pairs.
    """
    sh = _token_ngrams(docs, n, id_col, text_col)
    if max_shingle_df is not None:
        sh = _track(sh.persist())  # feeds the df agg AND the anti join
        hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") > max_shingle_df
        )
        sh = sh.join(hot.select("shingle"), "shingle", "left_anti")
    sh = _track(sh.persist())  # feeds sizes AND both join sides; aggregate-sized
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.lit(1e6) * F.col("inter").cast("double") / F.col("sz_a").cast("double")
            )
            .cast("long")
            .alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
    )


def decontaminate(
    docs: DataFrame,
    n: int = 5,
    bench_mod: int = 17,
    bench_rem: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_hit_shingles) for every
    training doc sharing at least one token ``n``-gram with the benchmark
    set — the standard eval-leakage check a training-data pipeline runs
    before export (n-gram overlap, as in public LM data-prep pipelines).

    The benchmark set here is carved deterministically out of the corpus
    itself (docs with ``doc_id % bench_mod == bench_rem``) so the gate
    needs no external data; in production it is a separate small table.
    Benchmark shingle sets are tiny relative to the corpus (eval suites,
    not training data), so the join is a broadcast — the corpus-side scan
    is one pass, no shuffle of training-doc shingles."""
    sh = _token_ngrams(docs, n, id_col, text_col)
    is_bench = F.pmod(F.col(id_col), F.lit(bench_mod)) == F.lit(bench_rem)
    bench_sh = sh.filter(is_bench).select("shingle").distinct()
    return (
        sh.filter(~is_bench)
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


def _token_hash31(term_col: Column) -> Column:
    """Engine-portable token hash: md5 → 60-bit int → mod (2^31-1)."""
    h60 = F.conv(F.substring(F.md5(term_col), 1, 15), 16, 10).cast("long")
    return h60 % F.lit(MERSENNE31)


def _minhash_wide(
    docs: DataFrame, n_perms: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, m0..m{n_perms-1}) — all permutation minima in ONE
    map-side-combined hash aggregate.

    ``min`` is duplicate-insensitive, so no per-doc ``distinct`` over the
    token stream is needed, and folding every permutation as its own agg
    expression means the shuffle carries |docs| rows of n_perms partial
    minima instead of n_perms × |token stream| rows (the old crossJoin
    layout). a·x+b stays < 2^36 — safely inside long arithmetic."""
    toks = exploded_tokens(docs, id_col, text_col).select(
        F.col(id_col), _token_hash31(F.col("term")).alias("x")
    )
    aggs = [
        F.min(
            (F.lit(2 * j + 1) * F.col("x") + F.lit(j * j + 7)) % F.lit(MERSENNE31)
        ).alias(f"m{j}")
        for j in range(n_perms)
    ]
    return toks.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    docs: DataFrame, n_perms: int = 16, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, perm_id, minhash) — long-format MinHash over distinct tokens.

    Permutation j: h_j(x) = ((2j+1)·x + j²+7) mod (2^31-1). Long format keeps
    the schema engine-portable (no array-typed columns in the compare); the
    unpivot (``stack``) runs over the already-aggregated |docs|-row table."""
    wide = _minhash_wide(docs, n_perms, id_col, text_col)
    stack_args = ", ".join(f"{j}, m{j}" for j in range(n_perms))
    return wide.select(
        F.col(id_col),
        F.expr(f"stack({n_perms}, {stack_args}) as (perm_id, minhash)"),
    )


def minhash_bands(
    docs: DataFrame,
    n_perms: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, band_id, band_key) — LSH band buckets: band key = the
    ordered minhash tuple of the band. Shared by the pair join
    (minhash_lsh_pairs) and the clustering star edges
    (components.dedup_clusters). Band keys are string-built straight from
    the wide signature row — no second aggregate."""
    wide = _minhash_wide(docs, n_perms, id_col, text_col)
    # ceil-divide: a trailing partial band keeps every permutation, matching
    # the oracle's perm_id // rows_per_band grouping (floor division here
    # silently DROPPED leftover perms for non-divisible settings)
    n_bands = (n_perms + rows_per_band - 1) // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{i}").cast("string")
                        for i in range(
                            b * rows_per_band,
                            min((b + 1) * rows_per_band, n_perms),
                        )
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return wide.select(F.col(id_col), F.explode(bands).alias("_b")).select(
        F.col(id_col), F.col("_b.band_id"), F.col("_b.band_key")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_perms: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: int = 16,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band. (doc_a, doc_b)
    distinct, a < b.

    The only join is on (band_id, band_key) buckets — linear in corpus
    size for bounded bucket sizes. On duplicate-dense corpora a hot bucket
    of m docs emits m² pairs, and a plain self-join lands that whole m²
    on ONE task (measured at sf0.1: a 2646-doc bucket → 3.5M pairs on a
    single core). The join is therefore SALTED as a triangle grid: each
    doc gets a deterministic chunk c = hash(id) mod salt, side A is
    replicated to chunk combos (c, j≥c) and side B to (i≤c, c), and the
    join key becomes (band_id, band_key, i, j) — every unordered pair
    lands in exactly one of the salt·(salt+1)/2 combos, so per-task work
    is bounded by (m/salt)² and hot buckets spread across the cluster.
    least/greatest re-orients pairs (chunk order is not id order);
    cross-band duplicates die in the final distinct, same as before.
    Output set is IDENTICAL to the unsalted join. Downstream consumers
    that only need CONNECTIVITY (clustering) must still use the star
    edges (components.dedup_clusters), which are linear in bucket size."""
    # one corpus pass (tokenize + minhash agg) feeds BOTH join sides —
    # materialize it once instead of once per side
    bands = minhash_bands(docs, n_perms, rows_per_band, id_col, text_col).localCheckpoint(
        eager=True
    )
    a = (
        bands.select(F.col(id_col).alias("doc_a"), "band_id", "band_key")
        .withColumn("i", F.pmod(_token_hash31(F.col("doc_a").cast("string")), F.lit(salt)).cast("int"))
        .withColumn("j", F.explode(F.sequence(F.col("i"), F.lit(salt - 1))))
        # AQE coalesces the small-in-BYTES bands table to ~1 partition, but
        # the downstream m² pair emission is huge in ROWS — spread the
        # triangle grid across the cluster BEFORE the probe-side join and
        # the partial distinct-aggregate. The explicit partition count is
        # deliberate: a bare repartition(keys) gets re-coalesced by AQE
        # (measured: 3 tasks doing 12.6M-pair emission at sf0.1; 4× faster
        # with the count pinned to the cluster's parallelism).
        .repartition(
            2 * docs.sparkSession.sparkContext.defaultParallelism,
            "band_id",
            "band_key",
            "i",
            "j",
        )
    )
    b = (
        bands.select(F.col(id_col).alias("doc_b"), "band_id", "band_key")
        .withColumn("j", F.pmod(_token_hash31(F.col("doc_b").cast("string")), F.lit(salt)).cast("int"))
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.col("j"))))
    )
    return (
        a.join(b, ["band_id", "band_key", "i", "j"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )


def simhash(
    docs: DataFrame, n_bits: int = 32, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) — tf-weighted SimHash fingerprint over 60-bit md5
    token hashes; bit b set iff Σ(±tf over tokens) > 0. Integer sums only —
    exact in both engines."""
    tf = (
        exploded_tokens(docs, id_col, text_col)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long").alias("h"),
            "tf",
        )
    )
    bits = tf.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
        "h",
        "tf",
    ).select(
        F.col(id_col),
        "bit",
        F.when(F.expr("shiftright(h, bit)").bitwiseAND(F.lit(1)) == 1, F.col("tf"))
        .otherwise(-F.col("tf"))
        .alias("w"),
    )
    return (
        bits.groupBy(id_col, "bit")
        .agg(F.sum("w").alias("s"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("simhash")
        )
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    n_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance: ``(doc_a, doc_b,
    hamming)`` for every pair with ``bit_count(sig_a XOR sig_b) <=
    max_hamming`` — the pair-enumeration member of the SimHash family
    (``simhash`` emits the signatures; this joins them).

    Banded exactness: each signature splits into ``n_bands`` disjoint
    contiguous bit bands and candidates must share at least one full band.
    With ``max_hamming < n_bands`` the pigeonhole principle guarantees the
    banded plan returns EXACTLY the all-pairs result (<= max_hamming
    differing bits cannot touch all n_bands disjoint bands), so this
    approximate-shaped plan is hash-gated against a brute-force quadratic
    DuckDB twin at gate scale. The only join is an equi-join on
    (band_id, band_key) — linear in corpus size for bounded buckets; at
    web scale use n_bits=64 with 16-bit bands so random band collisions are
    ~|corpus|/2^16 per bucket. As with minhash_lsh_pairs, enumerating pairs
    on a dup-dense corpus is inherently |pairs|-sized; consumers that only
    need connectivity must use star edges (components.dedup_clusters).
    """
    if n_bits % n_bands != 0:
        raise ValueError("n_bits must be divisible by n_bands")
    if max_hamming >= n_bands:
        raise ValueError("banded recall is exact only for max_hamming < n_bands")
    r = n_bits // n_bands
    sigs = simhash(docs, n_bits=n_bits, id_col=id_col, text_col=text_col)
    bands = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band_id"),
    ).select(
        F.col(id_col),
        "simhash",
        "band_id",
        F.expr(f"shiftright(simhash, band_id * {r})")
        .bitwiseAND(F.lit((1 << r) - 1))
        .alias("band_key"),
    )
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "band_id", "band_key"
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "band_id", "band_key"
    )
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.expr("sig_a ^ sig_b")).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_cosine_dups(
    embeddings: DataFrame,
    threshold_micros: int = 900_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    n_planes: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold — the
    embedding-space member of the dedup family.

    **Default (scale) path**: banded hyperplane-LSH candidate generation +
    exact integer-cosine verification. Each vector gets an ``n_planes``-bit
    signature (integer plane dots — similarity.hyperplane_signatures), split
    into ``n_planes/rows_per_band`` bands; candidate pairs share at least one
    full band (one equi-join on (band_id, band_key) — linear in corpus size,
    never the O(N²) self-join). Every candidate is verified with the same
    quantized-integer cosine, so precision is exact; recall is set by the
    band count. The path is deterministic end-to-end and hash-gated against
    a DuckDB oracle that reproduces the banding exactly
    (oracles.embedding_cosine_dups_sql).

    ``exact=True`` keeps the all-pairs O(N²) broadcast nested-loop join —
    the small-scale oracle/recall-measurement mode only (tests assert the
    LSH output is a subset of this and report recall).
    """
    from searchengine_spark.operators.similarity import (
        lsh_bands,
        rowwise_cosine_micros,
    )

    if exact:
        a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        bands = lsh_bands(embeddings, n_planes, rows_per_band, dim, id_col, vec_col)
        a = bands.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
        b = bands.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
        cand = (
            a.join(b, ["band_id", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    return rowwise_cosine_micros(
        pairs, "_va", "_vb", [("id_a", "long"), ("id_b", "long")]
    ).filter(F.col("cosine_micros") >= threshold_micros)


def line_dedup(
    docs: DataFrame,
    line_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_lines, n_kept, kept_md5) — corpus-level line deduplication
    (the CCNet/RefinedWeb pass: boilerplate lines repeat across pages, so a
    line survives only at its globally FIRST occurrence).

    The synthetic corpus has no newlines, so "lines" are fixed windows of
    ``line_tokens`` tokens (the strip_html seasoning pattern: the
    structure is synthesized identically in the DuckDB oracle). A line is
    kept iff its (doc_id, line_id) is the minimum over all occurrences of
    its md5 — duplicate lines WITHIN a doc also collapse to the first.
    ``kept_md5`` certifies the surviving text (lines rejoined in order).

    Scale shape: explode is a map stage behind a Generate barrier (token
    array materialized once per doc); the winner choice is one map-side-
    combinable min-struct aggregate on the line hash; the keep decision is
    an equi-join back on the hash (hot boilerplate lines are a single
    reduced row on the build side, never a quadratic pair set); per-doc
    rollups shuffle on doc_id. Everything is linear in total token count.
    """
    from searchengine_spark.functions.tokenize import tokens_array

    arr = F.filter(tokens_array(F.col(text_col)), lambda t: t != F.lit(""))
    # Generate barrier: expose the token array as a real attribute so the
    # per-line slice cannot be collapsed into a per-element re-split.
    base = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(F.array(arr)).alias("arr"))
        .withColumn("dl", F.size("arr"))
        .filter(F.col("dl") > 0)
    )
    lines = (
        base.select(
            "doc_id",
            "arr",
            F.explode(
                F.sequence(F.lit(0), F.floor((F.col("dl") - 1) / line_tokens).cast("int"))
            ).alias("line_id"),
        )
        .select(
            "doc_id",
            F.col("line_id").cast("long").alias("line_id"),
            F.concat_ws(
                " ", F.slice(F.col("arr"), F.col("line_id") * line_tokens + 1, line_tokens)
            ).alias("line"),
        )
        .withColumn("h", F.md5("line"))
    )
    winners = lines.groupBy("h").agg(F.min(F.struct("doc_id", "line_id")).alias("w"))
    kept = lines.join(winners, "h").filter(
        (F.col("doc_id") == F.col("w.doc_id")) & (F.col("line_id") == F.col("w.line_id"))
    )
    totals = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_id", "line"))),
                    lambda x: x["line"],
                ),
            )
        ).alias("kept_md5"),
    )
    return totals.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS plagiarism-detection selector): hash every token
    k-gram, slide a w-hash window over the hash sequence, and select each
    window's minimum (leftmost on ties). Guarantees: any shared substring of
    >= w+k-1 tokens contributes at least one COMMON selected fingerprint,
    while only ~2/(w+1) of all k-gram hashes are stored — the storage/recall
    trade every code-clone and near-dup index at scale runs on.

    Entirely array-side per document: k-gram keys and the per-window minima
    are Catalyst ``transform``/``slice``/``array_min`` over materialized
    arrays (two Generate barriers — see _token_ngrams for why), so the
    operator is a zero-shuffle map stage; compute is O(len·w) per doc with
    w a small constant. Docs shorter than k tokens select nothing; docs
    with fewer than w k-grams form a single window (global minimum).

    The selection key is ``<15-hex-md5><'-'><zero-padded pos>`` — fixed
    width, so string ``min`` orders by (hash asc, pos asc) identically in
    Spark and DuckDB. Output: (doc_id, pos, fp) distinct selected
    fingerprints, pos = 1-based k-gram position."""
    from searchengine_spark.functions.tokenize import tokens_array

    arr = F.filter(tokens_array(F.col(text_col)), lambda t: t != F.lit(""))
    toks = docs.select(F.col(id_col), F.explode(F.array(arr)).alias("toks"))
    t = F.col("toks")
    keys_arr = F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.concat(
                F.substring(F.md5(F.concat_ws(" ", F.slice(t, i, k))), 1, 15),
                F.lit("-"),
                F.lpad(i.cast("string"), 8, "0"),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # second Generate barrier: the window pass indexes keys per element
    keyed = toks.select(F.col(id_col), F.explode(F.array(keys_arr)).alias("keys"))
    ks = F.col("keys")
    n_wins = F.greatest(F.lit(1), F.size(ks) - (w - 1))
    sel = F.when(
        F.size(ks) >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_wins),
                lambda j: F.array_min(F.slice(ks, j, w)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    picked = keyed.select(F.col(id_col), F.explode(sel).alias("key"))
    return picked.select(
        F.col(id_col),
        F.substring(F.col("key"), 17, 8).cast("long").alias("pos"),
        F.substring(F.col("key"), 1, 15).alias("fp"),
    )


def semdedup(
    embeddings: DataFrame,
    n_clusters: int = 4,
    iterations: int = 2,
    threshold_micros: int = 350_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embeddings, then drop near-duplicates WITHIN each
    cluster only — pairwise cost falls from O(N²) to O(Σ|cluster|²), and at
    scale k grows with N so cluster sizes (and therefore per-group memory
    and compute) stay bounded.

    Deterministic end-to-end: centroids come from the gated integer k-means
    trainer (similarity.kmeans_centroids); assignment is max integer-cosine
    with ties to the smallest centroid id; within a cluster, members are
    ordered by (centroid_cosine ASC, id ASC) — the paper keeps the points
    LEAST similar to the centroid — and a member is dropped when any
    earlier member is ≥ threshold cosine-similar (the upper-triangle rule,
    so transitive chains collapse to the highest-priority member). Kept
    pairs are therefore always < threshold apart.

    Physical shape: centroids are a (k × dim) driver constant; assignment
    is one broadcast join + a k-row-per-vector window; the triangle rule
    runs per cluster in ONE Arrow group (numpy int64 Gram matmul over the
    quantized vectors — the identical 1e6·dot/(‖a‖‖b‖) micros tree as every
    other cosine, so the whole decision table is hash-gated against a
    DuckDB twin that embeds the k-means oracle verbatim).

    Output: (vec_id, cell, cent_cos_micros, keep) — the full decision table.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from searchengine_spark.operators.similarity import (
        _micros_np,
        _quantize_np,
        _quantized,
        cosine_micros_qq,
        kmeans_centroids,
    )

    spark = embeddings.sparkSession
    crows = kmeans_centroids(
        embeddings, k=n_clusters, iterations=iterations,
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).collect()
    bycid: dict[int, dict[int, int]] = {}
    for r in crows:
        bycid.setdefault(r["cid"], {})[r["i"]] = r["val"]
    cents = spark.createDataFrame(
        [(cid, [vals[i] for i in range(len(vals))]) for cid, vals in sorted(bycid.items())],
        "cell int, _cent array<bigint>",
    )
    cm_all = (
        embeddings.select(id_col, vec_col)
        .join(F.broadcast(cents))
        .select(
            id_col,
            vec_col,
            "cell",
            cosine_micros_qq(_quantized(F.col(vec_col)), F.col("_cent")).alias("_cm"),
        )
    )
    w_vec = Window.partitionBy(id_col).orderBy(F.desc("_cm"), F.asc("cell"))
    assign = (
        cm_all.withColumn("_rn", F.row_number().over(w_vec))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, "cell", F.col("_cm").alias("cent_cos_micros"))
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        cm = pdf["cent_cos_micros"].to_numpy()
        order = np.lexsort((ids, cm))  # priority: lowest centroid-cos, tie id asc
        Q = _quantize_np(np.stack(pdf[vec_col].to_numpy()))[order]
        nrm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        M = _micros_np((1e6 * (Q @ Q.T).astype(np.float64)) / np.outer(nrm, nrm))
        mask = M >= threshold_micros
        mask[np.tril_indices(len(Q))] = False  # only priority-EARLIER rows count
        dup_sorted = mask.any(axis=0)
        keep = np.empty(len(Q), dtype=np.int64)
        keep[order] = (~dup_sorted).astype(np.int64)
        out = pdf[[id_col, "cell", "cent_cos_micros"]].copy()
        out["keep"] = keep
        return out

    return assign.groupBy("cell").applyInPandas(
        fn, f"{id_col} long, cell int, cent_cos_micros long, keep long"
    )


def _sample_pairs(pairs: DataFrame, sample_den: int) -> DataFrame:
    """Deterministic 1/sample_den pair sample: keep iff
    md5("doc_a:doc_b") (first 15 hex digits) mod sample_den == 0 —
    engine-portable, uniform over pairs."""
    ph = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_a").cast("string"),
                    F.lit(":"),
                    F.col("doc_b").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return pairs.filter(ph % sample_den == 0)


def minhash_calibration(
    docs: DataFrame,
    n_perms: int = 16,
    rows_per_band: int = 4,
    sample_den: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sketch-quality evaluation of the MinHash estimator against ground
    truth: for every LSH candidate pair, compare the estimated Jaccard
    (fraction of agreeing permutations) with the EXACT distinct-token
    Jaccard, aggregated per estimate level —
    (est_matches, est_ppm, n_pairs, sum_exact_ppm, mean_exact_ppm).

    This is the measurement a pipeline owner runs before trusting a
    dedup threshold: each row says "pairs the sketch scores est_ppm
    actually average mean_exact_ppm", i.e. the estimator's calibration
    curve (E[est] = J is the MinHash guarantee; the curve shows the
    finite-n_perms spread). Bucketing by the integer match count (0..16)
    keeps every value exact — no float bins.

    Scale shape: candidates come from the banded LSH join (linear in
    corpus for bounded buckets — the gated minhash_lsh_pairs plan); the
    exact-Jaccard pass joins candidate pairs to the distinct-token table
    twice (pair-bounded, NOT corpus-quadratic: work = Σ over candidate
    pairs of |A|+|B|); the final aggregate is ≤ n_perms+1 rows. The
    signature comparison is a broadcast-size join of the |docs|-row wide
    signature table onto the pair list.

    ``sample_den``: calibration is a MEASUREMENT, so at scale you sample
    the pair population instead of ground-truthing all of it — keep a pair
    iff md5("doc_a:doc_b") mod sample_den == 0 (deterministic, engine-
    portable, uniform over pairs; 1 = exhaustive). A dup-dense corpus can
    emit ~100× more candidate pairs than docs, and the exact-Jaccard pass
    is the only part of the pipeline that touches raw token sets per pair.
    """
    from searchengine_spark.functions.tokenize import exploded_tokens

    pairs = minhash_lsh_pairs(docs, n_perms, rows_per_band, id_col, text_col)
    if sample_den > 1:
        pairs = _sample_pairs(pairs, sample_den)
    # the candidate pair list feeds both per-doc feature joins — without a
    # lineage cut the banded LSH join re-runs once per consumer (measured:
    # 12 source scans / 27 exchanges in the old 3-branch plan). Materialize
    # the slim (doc_a, doc_b) frame once; same pattern as
    # segments.incremental_reindex's crawl_delta.
    pairs = pairs.localCheckpoint(eager=True)
    # ONE corpus pass builds the whole per-doc feature row: the distinct
    # token set (collect_set — exact Jaccard side) AND all permutation
    # minima (min is duplicate-insensitive, so the same non-distinct token
    # stream feeds both). The old plan exploded tokens per candidate pair
    # and shuffled Σ|A| rows (~35M at sf0.1) through a second join; here
    # the exact intersection is a map-side array_intersect on the joined
    # feature arrays — per-pair work Σ(|A|+|B|), nothing wide shuffled.
    toks = exploded_tokens(docs, id_col, text_col).select(
        F.col(id_col), _token_hash31(F.col("term")).alias("x")
    )
    feat = (
        toks.groupBy(id_col)
        .agg(
            F.collect_set("x").alias("xs"),
            *[
                F.min(
                    (F.lit(2 * j + 1) * F.col("x") + F.lit(j * j + 7)) % F.lit(MERSENNE31)
                ).alias(f"m{j}")
                for j in range(n_perms)
            ],
        )
        .localCheckpoint(eager=True)
    )
    fa = feat.select(
        F.col(id_col).alias("doc_a"),
        F.col("xs").alias("xa"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(n_perms)],
    )
    fb = feat.select(
        F.col(id_col).alias("doc_b"),
        F.col("xs").alias("xb"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(n_perms)],
    )
    # est_matches + exact_ppm in ONE projection — no est⋈exact pair join
    per_pair = (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            sum(
                [
                    F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
                    for j in range(n_perms)
                ],
                F.lit(0),
            ).cast("int").alias("est_matches"),
            F.size(F.array_intersect("xa", "xb")).cast("long").alias("inter"),
            F.size("xa").cast("long").alias("sa"),
            F.size("xb").cast("long").alias("sb"),
        )
        .select(
            "doc_a",
            "doc_b",
            "est_matches",
            F.expr("inter * 1000000 div (sa + sb - inter)").alias("exact_ppm"),
        )
    )
    return (
        per_pair
        .groupBy("est_matches")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("exact_ppm").cast("long").alias("sum_exact_ppm"),
        )
        .select(
            "est_matches",
            F.expr(f"est_matches * 1000000 div {n_perms}").cast("long").alias("est_ppm"),
            "n_pairs",
            "sum_exact_ppm",
            F.expr("sum_exact_ppm div n_pairs").cast("long").alias("mean_exact_ppm"),
        )
    )
