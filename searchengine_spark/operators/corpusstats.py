"""Corpus-distribution analytics for training-data curation.

Two operators a 100 TB data-mixing pipeline runs over the whole corpus:

- ``domain_kl_drift`` — per-source unigram KL divergence against the
  corpus-wide distribution, the standard drift / domain-mixing diagnostic
  (which sources are "off-distribution" and by how much) used when tuning
  per-domain sampling weights.
- ``zipf_slope`` — least-squares fit of the Zipf exponent over the top-N
  term frequencies, the corpus-health statistic (natural text sits near
  slope −1; a pipeline bug — boilerplate explosion, tokenizer regression —
  moves it) and the input to lexicon/posting-skew capacity planning.

Beside them sit the plain corpus-text counts: ``heavy_hitter_terms``,
``doc_length_histogram`` and ``top_bigrams``.

All are expressed with Spark built-ins only and integer fixed-point
accumulation so the DuckDB oracle reproduces them bit-exactly: every
per-row double is rounded to an integer BEFORE any cross-row sum, because
floating-point addition order differs across partitionings but integer
sums do not (the same determinism contract as the micros scores in
operators/serve.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark.functions.tokenize import (
    adjacent_token_pairs,
    doc_len,
    exploded_tokens,
)
from searchengine_spark.sources.tables import load_table


def domain_kl_drift(docs: DataFrame, source_col: str = "source") -> DataFrame:
    """(source, n_tokens, kl_nanos): KL(P_source ‖ P_corpus) over unigram
    token distributions, in integer nanos (1e-9).

    KL = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) with p_s = c_st/n_s, p_c = c_t/n.
    Every term t with c_st > 0 also has c_t > 0, so the log is always
    finite; the per-term contribution is rounded to nanos (bigint) before
    the per-source sum so the total is partition-order independent.

    Scale shape: one tokenize pass feeds a (source, term) aggregate and a
    (term) aggregate — both map-side combinable; per-source totals derive
    from the first (no extra corpus scan); the only join is
    (source,term)⋈(term), keyed on term — co-partitioned aggregates, never
    a corpus-sized side. The corpus total is a 1-row broadcast. Output is
    |sources| rows.
    """
    from searchengine_spark.functions.tokenize import tokens_array

    # carry the source through the explode: one corpus pass, no doc_id join
    toks = docs.select(
        F.col(source_col).alias("src"),
        F.explode(tokens_array(F.col("text"))).alias("term"),
    ).filter(F.col("term") != "")
    st = toks.groupBy("src", "term").agg(F.count(F.lit(1)).alias("c_st")).persist()
    per_src = st.groupBy("src").agg(F.sum("c_st").alias("n_s"))
    per_term = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    n_total = st.agg(F.sum("c_st").alias("n_tot"))
    contrib = (
        st.join(per_term, "term")
        .join(per_src, "src")
        .crossJoin(F.broadcast(n_total))
        .select(
            "src",
            "n_s",
            F.round(
                (F.col("c_st").cast("double") / F.col("n_s").cast("double"))
                * F.log(
                    (F.col("c_st").cast("double") * F.col("n_tot").cast("double"))
                    / (F.col("n_s").cast("double") * F.col("c_t").cast("double"))
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("contrib_nanos"),
        )
    )
    return (
        contrib.groupBy("src")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.sum("contrib_nanos").alias("kl_nanos"),
        )
        .select(F.col("src").alias("source"), "n_tokens", "kl_nanos")
    )


def _ols_fixed_point(xy: DataFrame) -> DataFrame:
    """OLS over an (x, y) frame of milli-fixed-point bigints → one row
    (n_terms, slope_micros, intercept_micros). Slope/intercept derive from
    EXACT integer sums, so both engines turn identical bigints into
    identical doubles; the intercept is reported in natural-log units
    (divide the milli scale back out)."""
    sums = xy.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_terms").cast("double")
    num = (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / n
    return sums.select(
        "n_terms",
        F.round(slope * 1e6).cast("long").alias("slope_micros"),
        F.round(intercept / 1e3 * 1e6).cast("long").alias("intercept_micros"),
    )


def zipf_slope(docs: DataFrame, top_n: int = 1000) -> DataFrame:
    """One row (n_terms, slope_micros, intercept_micros): OLS fit of
    ln(freq) against ln(rank) over the ``top_n`` most frequent terms
    (rank 1 = most frequent; ties broken by term ASC so the rank order is
    total and engine-independent).

    Fixed-point contract: x = round(ln(rank)·1e3), y = round(ln(freq)·1e3)
    per term (bigint), then exact integer sums Sx, Sy, Sxx, Sxy; slope and
    intercept come out of the closed form on those exact integers, so both
    engines compute identical doubles from identical bigints. Magnitudes:
    |x|,|y| ≤ ~5e4 at any corpus size, so n·Sxy ≤ ~2.5e15 — far inside
    int64.

    Scale shape: the term-frequency aggregate is map-side combined; the
    top-N cut is a bounded heap (TakeOrderedAndProject); only the N
    surviving rows (a constant, default 1000) pass through the rank window
    — the single-partition window is bounded by the constant, never by the
    corpus. The final reduction is a 1-row aggregate.
    """
    freqs = (
        exploded_tokens(docs)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(top_n)
    )
    # rank over exactly top_n rows: bounded, not corpus-sized (see docstring)
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    xy = freqs.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * 1e3)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1e3).cast("long").alias("y"),
    )
    return _ols_fixed_point(xy)


def heaps_law(docs: DataFrame, n_checkpoints: int = 10) -> DataFrame:
    """One row (n_terms, slope_micros, intercept_micros): Heaps'-law fit
    V = K·N^β of vocabulary size against corpus token count, measured at
    ``n_checkpoints`` doc-id-ordered prefixes and OLS-fit in log-log space
    (slope = β, intercept = ln K). The capacity-planning statistic for a
    growing index: it predicts lexicon/posting-list-count growth as the
    corpus scales to 100 TB.

    Checkpoint c_i = floor(max_doc_id·i/K); at each checkpoint,
    N_i = Σ dl over docs ≤ c_i and V_i = |{t : first_doc(t) ≤ c_i}|. Both
    derive from per-doc / per-term AGGREGATES of one tokenize pass
    (doc-length table, first-occurrence table) fanned out over the K-row
    broadcast checkpoint table — K× aggregate rows, never K× the corpus.
    Same milli fixed-point OLS contract as ``zipf_slope``.
    """
    toks = exploded_tokens(docs)
    dls = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).persist()
    first = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    cps = (
        dls.agg(F.max("doc_id").alias("mx"))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(n_checkpoints))).alias("i"),
            "mx",
        )
        .select(
            "i",
            # exact int64 floor division (Spark `div` ≡ DuckDB `//`)
            F.expr(f"(mx * i) div {n_checkpoints}").alias("ck"),
        )
    )
    n_i = (
        dls.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") <= F.col("ck"))
        .groupBy("i")
        .agg(F.sum("dl").alias("n_tok"))
    )
    v_i = (
        first.crossJoin(F.broadcast(cps))
        .filter(F.col("fd") <= F.col("ck"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    xy = n_i.join(v_i, "i").select(
        F.round(F.log(F.col("n_tok").cast("double")) * 1e3).cast("long").alias("x"),
        F.round(F.log(F.col("v").cast("double")) * 1e3).cast("long").alias("y"),
    )
    return _ols_fixed_point(xy)


def heavy_hitter_terms(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Exact heavy hitters: top-k terms by total occurrences across the
    corpus (ties by term asc) — the A-series hot-key detector feeding the
    salted-agg decision."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        exploded_tokens(docs)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("occurrences"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("occurrences"), F.asc("term"))
        .limit(k)
    )


def doc_length_histogram(spark: SparkSession, sf_dir: str, bucket_width: int = 10) -> DataFrame:
    """Token-count histogram over documents (width-10 buckets) — the
    doc-length distribution every BM25 tuning session starts from."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (doc_len(F.col("text")) / bucket_width).cast("long") * bucket_width
    return (
        docs.select(bucket.alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def top_bigrams(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k token bigrams by occurrence (ties by bigram asc) — n-gram
    statistics over the corpus (position-adjacent pairs, empties skipped)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = adjacent_token_pairs(exploded_tokens(docs, with_pos=True))
    return (
        pairs.select(F.concat_ws(" ", "t0", "t1").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("bigram"))
        .limit(k)
    )
