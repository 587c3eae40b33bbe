"""Deterministic stratified sampling — the corpus-rebalancing step of a
training-data pipeline (e.g. downsample the dominant language before
export). A training-data-pipeline operator; the reference engine has no
sampling stage.

Spark's ``df.sample`` is seeded per-partition and therefore NOT stable
across partition counts or engines. Instead each row gets a uniform
position in [0, 1e6) from an engine-portable content hash (md5 of a
salted key, first 15 hex chars → 60-bit int, mod 1e6 — the same trick as
dedup._token_hash31), and a row is kept iff its position falls under its
stratum's rate. The decision is a pure row-local function of (key,
stratum): no shuffle, no RNG state, identical output on any cluster size
and in the DuckDB oracle — and re-running the pipeline re-selects the
same rows (resumable exports).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.operators.literals import local_frame

PPM = 1_000_000


def _hash_ppm(key: Column, salt: str) -> Column:
    """Uniform [0, 1e6) position from md5(salt || key) — engine-portable."""
    h60 = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15), 16, 10
    ).cast("long")
    return h60 % F.lit(PPM)


def stratified_sample(
    docs: DataFrame,
    rates_ppm: dict[str, int],
    default_ppm: int,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "sample:",
) -> DataFrame:
    """(doc_id, stratum) rows kept by a per-stratum Bernoulli sample with
    deterministic hash positions. ``rates_ppm`` maps stratum value → keep
    rate in parts-per-million; strata not listed use ``default_ppm``."""
    rate = None
    for value, ppm in sorted(rates_ppm.items()):
        cond = F.when(F.col(stratum_col) == value, F.lit(ppm))
        rate = cond if rate is None else rate.when(F.col(stratum_col) == value, F.lit(ppm))
    rate = F.lit(default_ppm) if rate is None else rate.otherwise(F.lit(default_ppm))
    return docs.filter(_hash_ppm(F.col(id_col), salt) < rate).select(
        id_col, stratum_col
    )


def temperature_mix(
    docs: DataFrame,
    target_frac_ppm: int = 500_000,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "mix:",
) -> DataFrame:
    """Temperature-based language rebalancing (alpha = 0.5): sample so each
    stratum's share of the output is proportional to sqrt(count) instead of
    count — the multilingual-corpus mixing rule (upweight tail languages,
    downweight the head) used by large-scale pretraining pipelines.

    Per-stratum keep rate: with w_l = sqrt(c_l)/Σ sqrt(c) the target draw
    share, rate_l = min(1, target_frac * w_l * total / c_l). sqrt is
    IEEE-exact-rounded and every float op sits in one literal expression
    tree mirrored by the DuckDB oracle, so the ppm rates — and therefore
    the kept rows — are bit-identical across engines. Keep decisions reuse
    the stratified_sample md5-position trick: pure row-local, stable across
    partition counts and reruns.

    Plan shape: one map-side-combined count per stratum (a |strata|-row
    frame), rates derived in-plan and broadcast-joined back, then a
    scan-and-filter — no shuffle of the corpus, no driver collect.
    """
    c = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("c")
    )
    s = c.withColumn(
        "sl", F.floor(F.sqrt(F.col("c").cast("double")) * F.lit(1e6)).cast("long")
    )
    tot = s.agg(
        F.sum("c").cast("long").alias("total"), F.sum("sl").cast("long").alias("s_sum")
    )
    rate = s.crossJoin(F.broadcast(tot)).select(
        "stratum",
        F.least(
            F.lit(PPM).cast("long"),
            F.floor(
                (
                    F.lit(float(target_frac_ppm))
                    * F.col("sl").cast("double")
                    * F.col("total").cast("double")
                )
                / (F.col("s_sum").cast("double") * F.col("c").cast("double"))
            ).cast("long"),
        ).alias("keep_ppm"),
    )
    return (
        docs.join(F.broadcast(rate), docs[stratum_col] == rate["stratum"])
        .filter(_hash_ppm(F.col(id_col), salt) < F.col("keep_ppm"))
        .select(id_col, stratum_col)
    )


def dsir_weights(
    docs: DataFrame,
    n_buckets: int = 64,
    bench_mod: int = 17,
    bench_rem: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023 — public): score every candidate training
    doc by how much more likely its hashed-n-gram features are under a
    small TARGET distribution than under the RAW pool, so the pipeline can
    resample the pool toward the target domain. The target here is the
    same deterministic in-corpus slice the decontamination gate uses
    (``doc_id % bench_mod == bench_rem``); in production it is a separate
    high-quality table.

    Features are occurrence-counted unigrams ('u:'||term) and
    position-adjacent bigrams ('b:'||t0||' '||t1) hashed into ``n_buckets``
    buckets (md5 60-bit → mod 2^31-1 → mod B, the engine-portable
    dedup._token_hash31 chain). Each distribution is add-one smoothed over
    the B buckets; the per-bucket log-ratio is frozen to bigint micros —
    each side rounded separately, so the table is exact — and a doc's
    weight is the integer dot product count·log_ratio. Everything after
    the token explode is integer arithmetic: bit-identical across engines
    and partition counts.

    Plan shape at scale: the feature stream is linear in corpus tokens and
    aggregates map-side into two B-row tables; the spine/log-ratio frame is
    B rows broadcast back onto the per-(doc,bucket) counts; the only
    corpus-sized shuffle keys on (doc_id, bucket) — no hot keys, no driver
    collect. Output: (doc_id, weight_micros) for every non-target doc.
    """
    from searchengine_spark.functions.tokenize import (
        adjacent_token_pairs,
        exploded_tokens,
    )
    from searchengine_spark.operators.dedup import _token_hash31

    toks = exploded_tokens(docs, id_col, text_col, with_pos=True)
    uni = toks.select(id_col, F.concat(F.lit("u:"), F.col("term")).alias("feat"))
    bi = adjacent_token_pairs(toks).select(
        id_col,
        F.concat(F.lit("b:"), F.col("t0"), F.lit(" "), F.col("t1")).alias("feat"),
    )
    feats = uni.unionByName(bi).select(
        id_col, (_token_hash31(F.col("feat")) % F.lit(n_buckets)).alias("bucket")
    )
    is_bench = F.pmod(F.col(id_col), F.lit(bench_mod)) == F.lit(bench_rem)

    target_b = feats.filter(is_bench).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("pc")
    )
    raw_b = feats.filter(~is_bench).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("qc")
    )
    spine = docs.sparkSession.range(n_buckets).select(F.col("id").alias("bucket"))
    counts = (
        spine.join(target_b, "bucket", "left")
        .join(raw_b, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("pc", F.lit(0)).cast("long").alias("pc"),
            F.coalesce("qc", F.lit(0)).cast("long").alias("qc"),
        )
    )
    tot = counts.agg(
        F.sum("pc").cast("long").alias("pt"), F.sum("qc").cast("long").alias("qt")
    )
    smooth = float(n_buckets)
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.round(
                F.log(
                    (F.col("pc").cast("double") + F.lit(1.0))
                    / (F.col("pt").cast("double") + F.lit(smooth))
                )
                * F.lit(1e6)
            ).cast("long")
            - F.round(
                F.log(
                    (F.col("qc").cast("double") + F.lit(1.0))
                    / (F.col("qt").cast("double") + F.lit(smooth))
                )
                * F.lit(1e6)
            ).cast("long")
        ).alias("lr_micros"),
    )
    doc_feat = (
        feats.filter(~is_bench)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        doc_feat.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("lr_micros")).cast("long").alias("weight_micros"))
    )


def epoch_shuffle(docs: DataFrame, epoch: int, n_buckets: int = 256) -> DataFrame:
    """Deterministic global training-order shuffle: every epoch is a fixed
    permutation of the corpus, reproducible on any cluster size — the
    "seeded epoch shuffle" every large-scale training run needs so a
    restarted job resumes mid-epoch at the same position.

    The sort key is md5('epoch:<e>:<doc_id>') — uniform and engine-portable.
    The global rank is computed WITHOUT a single-partition window: the key's
    first byte is an ORDERED bucket (hex-string order == bucket-value
    order), so rank = per-bucket row_number + a broadcast prefix-sum of the
    256 bucket counts (a two-phase distributed prefix sum). At 10^12 docs
    this is one hash exchange on the bucket plus a 256-row driver job.

    Output: (pos, doc_id) with pos = 1..N in shuffled order."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    h = F.md5(F.concat(F.lit(f"epoch:{epoch}:"), F.col("doc_id").cast("string")))
    # first two hex chars = 256 ordered buckets (prefix of the sort key)
    keyed = docs.select(
        F.col("doc_id"),
        h.alias("h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("b"),
    )
    counts = sorted(
        (r["b"], r["n"])
        for r in keyed.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for b, n in counts:
        offsets.append((b, acc))
        acc += n
    off = local_frame(spark, offsets, "b int, off long")
    w = Window.partitionBy("b").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        keyed.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(off), "b")
        .select(
            (F.col("off") + F.col("r")).cast("long").alias("pos"),
            "doc_id",
        )
    )


def quality_tiers(spark, idx: dict, docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank each
    document inside its language by mean unigram surprisal (lower = more
    fluent) and split into exact terciles — tier 0 = head, 1 = middle,
    2 = tail. The head/middle/tail split is how CommonCrawl-scale corpora
    gate what reaches training.

    The per-language rank avoids a one-partition-per-language sort: the
    surprisal in micros is bucketed equi-width (bucket = value div 1e5 — a
    prefix of the sort key, so bucket order == value order), rank =
    row_number within (lang, bucket) + a broadcast prefix-sum of the
    (lang, bucket) counts. A hot language therefore never funnels through
    a single task; the offsets job is |langs| × |buckets| rows.

    Docs with no kept tokens have no surprisal and are excluded (same rows
    absent in the SQL twin). Output: (doc_id, lang, mean_nll_micros, tier).
    """
    from pyspark.sql import Window

    from searchengine_spark.operators.serve import unigram_logprob

    width = 100_000
    nll = unigram_logprob(spark, idx).select("doc_id", "mean_nll_micros")
    keyed = nll.join(docs.select("doc_id", "lang"), "doc_id").withColumn(
        "vb", F.expr(f"mean_nll_micros div {width}")
    )
    counts = (
        keyed.groupBy("lang", "vb").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    by_lang: dict = {}
    for r in sorted(counts, key=lambda r: (r["lang"], r["vb"])):
        by_lang.setdefault(r["lang"], []).append((r["vb"], r["n"]))
    rows, totals = [], {}
    for lang, buckets in by_lang.items():
        acc = 0
        for vb, n in buckets:
            rows.append((lang, vb, acc))
            acc += n
        totals[lang] = acc
    off = local_frame(spark, rows, "lang string, vb long, off long")
    tot = local_frame(spark, list(totals.items()), "lang string, n_lang long")
    w = Window.partitionBy("lang", "vb").orderBy(
        F.asc("mean_nll_micros"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(off), ["lang", "vb"])
        .join(F.broadcast(tot), "lang")
        .select(
            "doc_id",
            "lang",
            "mean_nll_micros",
            F.expr("CAST((off + r - 1) * 3 div n_lang AS INT)").alias("tier"),
        )
    )


def weighted_sample_topn(
    docs: DataFrame,
    n: int = 100,
    salt: str = "wsample",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly n rows — the
    Efraimidis–Spirakis A-ES scheme (IPL 2006): key_i = u_i^(1/w_i) with
    u_i uniform, keep the n largest keys. One pass, one bounded heap —
    THE distributed way to draw a quality- or length-weighted corpus
    subsample (weighted reservoir semantics with no reservoir state).

    Determinism/portability: u derives from md5(salt‖id) (the engine-
    portable _hash_ppm), mapped to (0,1) as (2·ppm+1)/2e6 so ln(u) is
    always finite; the comparison key is ln(u)/w in integer nanos
    (monotone in u^(1/w), identical in both engines). Output
    (doc_id, key_nanos), top-n by (key DESC, doc_id ASC) — a bounded
    TakeOrderedAndProject over a map-only projection: no shuffle at all.
    """
    u = (F.lit(2.0) * _hash_ppm(F.col(id_col).cast("string"), salt) + F.lit(1.0)) / F.lit(
        2e6
    )
    key = F.round(F.log(u) / F.col(weight_col).cast("double") * 1e9).cast("long")
    return (
        docs.select(F.col(id_col), key.alias("key_nanos"))
        .orderBy(F.desc("key_nanos"), F.asc(id_col))
        .limit(n)
    )


def curriculum_order(spark, idx: dict, docs: DataFrame) -> DataFrame:
    """(pos, doc_id, tier) — curriculum training order: the corpus sorted
    by ascending quality tier (:func:`quality_tiers` — fluent head first)
    with a deterministic md5 shuffle WITHIN each tier, the
    easy-to-hard/quality-first ordering curriculum-learning pipelines feed
    the trainer (and the resumable analog of "train on head data first").

    Global positions come from the two-phase ordered-bucket rank (the
    epoch_shuffle pattern): the bucket (tier, first md5 byte) is a PREFIX
    of the sort key, so per-bucket row_number + a broadcast prefix-sum of
    the ≤ 3·256 bucket counts yields the exact global rank with no
    single-partition window at any scale."""
    from pyspark.sql import Window

    qt = quality_tiers(spark, idx, docs).select("doc_id", "tier")
    h = F.md5(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")))
    # keyed feeds BOTH the bucket-count collect job and the final ranked
    # plan — materialize the slim (doc_id, tier, h, b) frame once so the
    # quality_tiers corpus pass runs once, not once per consumer
    keyed = qt.select(
        "doc_id",
        "tier",
        h.alias("h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("b"),
    ).localCheckpoint(eager=True)
    counts = sorted(
        ((r["tier"], r["b"]), r["n"])
        for r in keyed.groupBy("tier", "b").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    rows, acc = [], 0
    for (tier, b), n in counts:
        rows.append((tier, b, acc))
        acc += n
    off = local_frame(spark, rows, "tier long, b int, off long")
    w = Window.partitionBy("tier", "b").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        keyed.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(off), ["tier", "b"])
        .select(
            (F.col("off") + F.col("r")).cast("long").alias("pos"),
            "doc_id",
            "tier",
        )
    )
