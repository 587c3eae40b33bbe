"""Code search, analyzer pieces and corpus statistics over the documents
table: substring/regex search with a trigram prefilter, symbol
definitions/references and identifier subtokens; HTML stripping and ASCII
folding; token counts, document fingerprints, PMI collocations and
percolation (stored queries matched against incoming documents).

All pure Spark built-ins (whole-stage codegen; no UDFs); ratios reported as
bigint micros so the DuckDB oracle matches exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.functions.tokenize import TOKEN_SPLIT_RE


def _tokens(text_col: str) -> Column:
    return F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, n_chars, mean_token_len_micros) —
    whitespace/regex token counting entirely array-side (no explode, no
    shuffle: a pure map over the scan)."""
    toks = _tokens(text_col)
    total_len = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.when(n > 0, F.round(F.lit(1e6) * total_len.cast("double") / n.cast("double")).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("mean_token_len_micros"),
    )


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, content_md5, normalized_md5, token_set_md5) — exact,
    whitespace-insensitive, and order-insensitive fingerprints (the F4
    fingerprint family of Normalize.java:14-36 generalized)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    tokset = F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens(text_col))))
    return docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_md5"),
        F.md5(norm).alias("normalized_md5"),
        F.md5(tokset).alias("token_set_md5"),
    )


def strip_html(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, stripped_md5, n_tag_chars) — the F12 tag-strip operator
    (``regexp_replace(html, '<[^>]*>', '')``, SearchService.java:276)
    gated over a deterministically HTML-wrapped rendering of each doc.

    The corpus is plain text (no tags to strip — the reason F12 was N/A in
    round 1), so the gate synthesizes the HTML in-query: wrap the doc in
    ``<html><body><p id="{doc_id}">..</p></body></html>`` and turn every
    space into a ``</p> <p>`` paragraph break. Stripping must return the
    original text exactly (tag removal leaves the inter-tag space), which
    the md5 certifies; ``n_tag_chars`` = how many characters the strip
    removed. Pure built-ins — one map over the scan, no shuffle."""
    html = F.concat(
        F.lit('<html><body><p id="'),
        F.col(id_col).cast("string"),
        F.lit('">'),
        F.regexp_replace(F.col(text_col), " ", "</p> <p>"),
        F.lit("</p></body></html>"),
    )
    stripped = F.regexp_replace(html, "<[^>]*>", "")
    return docs.select(
        F.col(id_col),
        F.md5(stripped).alias("stripped_md5"),
        (F.length(html) - F.length(stripped)).cast("long").alias("n_tag_chars"),
    )


def pmi_top_pairs(docs: DataFrame, k: int = 20, min_count: int = 5) -> DataFrame:
    """Top-k collocations by pointwise mutual information: bigrams scored
    ``pmi = ln((c_xy * n1 * n1) / (n2 * c_x * c_y))`` where n1/n2 are the
    corpus unigram/bigram totals — the standard collocation-detection pass
    (Church & Hanks 1990) a corpus-analytics user runs next to raw bigram
    counts (``top_bigrams`` ranks by frequency; PMI ranks by association).

    Shape at scale: one tokenize pass feeds both the unigram aggregate and
    the position-adjacency bigram aggregate (two map-side-combined groupBys);
    the min_count filter shrinks the bigram table BEFORE its two term-keyed
    joins against the unigram counts, and both join sides are term-keyed
    aggregates (AQE broadcasts the small side at small scale, shuffle-hash
    joins co-keyed tables at web scale — never a corpus-sized side). The
    n1/n2 totals are 1-row aggregates cross-joined back in the SAME plan
    (no eager driver jobs); both are exact integers, so the doubles match
    the oracle's. Scores are bigint micros.
    """
    from searchengine_spark.functions.tokenize import adjacent_token_pairs, exploded_tokens

    toks = exploded_tokens(docs, with_pos=True)
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    # the bigram aggregate has two consumers (the n2 total and the scored
    # join) — persist it so the adjacency self-join runs once; the cache is
    # the aggregate (distinct bigrams), not the corpus, and spills to disk
    bi = (
        adjacent_token_pairs(toks)
        .groupBy("t0", "t1")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .persist()
    )
    n1df = toks.agg(F.count(F.lit(1)).cast("double").alias("_n1"))
    n2df = bi.agg(F.coalesce(F.sum("cxy"), F.lit(0)).cast("double").alias("_n2"))
    ua = uni.select(F.col("term").alias("t0"), F.col("c1").alias("cx"))
    ub = uni.select(F.col("term").alias("t1"), F.col("c1").alias("cy"))
    scored = (
        bi.filter(F.col("cxy") >= min_count)
        .join(ua, "t0")
        .join(ub, "t1")
        .crossJoin(F.broadcast(n1df))
        .crossJoin(F.broadcast(n2df))
        .select(
            F.concat_ws(" ", "t0", "t1").alias("bigram"),
            F.col("cxy").alias("n"),
            F.round(
                F.log(
                    (F.col("cxy").cast("double") * F.col("_n1") * F.col("_n1"))
                    / (
                        F.col("_n2")
                        * F.col("cx").cast("double")
                        * F.col("cy").cast("double")
                    )
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("pmi_micros"),
        )
    )
    return scored.orderBy(F.desc("pmi_micros"), F.asc("bigram")).limit(k)


def substring_search(
    docs: DataFrame, needle: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Substring (code-search) query: (doc_id, first_pos) for every doc
    whose text contains ``needle`` — served by the trigram-prefilter design
    of Google Code Search (Cox, "Regular Expression Matching with a
    Trigram Index", 2012, public): a document can match only if it
    contains EVERY trigram of the needle, so the cheap set test prunes the
    expensive scan, and only survivors pay the exact ``instr`` verify.

    Here the trigram set is computed in-plan (row-local: the lowered text
    materializes once through a Generate barrier — the lambda-inlining
    trap — then one transform + array_intersect; no explode of the
    character stream, no shuffle at all). At index scale the trigram
    postings are PREBUILT and bucket-partitioned exactly like term
    postings, turning the prefilter into the same pruned equi-join the
    term gates use; the in-plan form keeps the identical two-phase shape.
    Needles shorter than 3 chars skip the prefilter (no trigrams exist).
    first_pos is 1-based (instr/strpos convention in both engines)."""
    tl = needle.lower()
    base = _lowered_text(docs, id_col, text_col)
    pred = _trigram_prefilter([tl])
    if pred is not None:
        base = base.filter(pred)
    return base.select(
        "doc_id", F.instr(F.col("t"), tl).cast("long").alias("first_pos")
    ).filter(F.col("first_pos") > 0)


def _lowered_text(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, t=lower(text)) with ``t`` materialized through a Generate
    barrier, so downstream higher-order-function lambdas read a real
    attribute instead of re-lowering the whole text per element
    (CollapseProject inlining trap)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(F.lower(F.col(text_col)))).alias("t"),
    )


def _trigrams_of(literal: str) -> list[str]:
    return sorted({literal[i : i + 3] for i in range(len(literal) - 2)})


def _trigram_prefilter(literals: list[str]) -> Column | None:
    """Candidate predicate over the ``t`` column: the doc contains every
    trigram of at least ONE of the literals (the OR-of-ANDs trigram query
    of the Code Search design). None when any literal is too short to
    constrain (its trigram set is empty → every doc is a candidate)."""
    per_literal = [_trigrams_of(lit.lower()) for lit in literals]
    if any(not tris for tris in per_literal):
        return None
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("t") - 2),
            lambda i: F.col("t").substr(i, F.lit(3)),
        )
    )
    pred = None
    for tris in per_literal:
        lit_tris = F.array(*[F.lit(g) for g in tris])
        branch = F.size(F.array_intersect(grams, lit_tris)) == len(tris)
        pred = branch if pred is None else (pred | branch)
    return (F.length("t") >= 3) & pred


def regex_search(
    docs: DataFrame, pattern: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Regex (code-search) query: (doc_id, n_matches) for every doc whose
    lowered text matches ``pattern`` — the regex layer of the trigram
    design: when the pattern is a top-level alternation of plain literals
    (the common code-search shape, e.g. ``spark|merge``), candidates must
    contain every trigram of SOME alternative (OR-of-ANDs), and only
    survivors pay the regexp scan. Patterns outside that subset (classes,
    quantifiers, groups) skip the prefilter and verify over the full scan —
    the general trigram extraction (Cox 2012) is a documented extension
    point. The pattern must sit in the Java∩RE2 common dialect (no
    backrefs, no lookaround) so Spark and the DuckDB oracle agree; n_matches counts
    non-overlapping matches (regexp_count / len(regexp_extract_all))."""
    alts = pattern.lower().split("|")
    literals = alts if all(re.fullmatch(r"[a-z0-9 ]+", a) for a in alts) else None
    base = _lowered_text(docs, id_col, text_col)
    if literals:
        pred = _trigram_prefilter(literals)
        if pred is not None:
            base = base.filter(pred)
    return base.select(
        "doc_id",
        F.expr(f"regexp_count(t, '{pattern.lower()}')").cast("long").alias("n_matches"),
    ).filter(F.col("n_matches") > 0)


def symbol_definitions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, kind, symbol) — the symbol-definition index of a code-search
    engine (Zoekt/ctags-style "go to definition"): every ``def name(`` and
    ``class Name`` declaration, extracted per document.

    The corpus is word-soup (no code), so the gate seasons each doc with a
    deterministic code header derived from doc_id (the strip_html
    in-query synthesis pattern): ``def fn_{id%37}(arg):`` and
    ``class Cls_{id%23}:`` lines prepended to the text. Extraction is
    ``regexp_extract_all`` in the Java∩RE2 common dialect — one map over
    the scan, no shuffle; at scale the output is the (symbol-keyed,
    bucket-partitioned) definitions table point lookups hit."""
    did = F.col(id_col)
    seasoned = F.concat(
        F.lit("def fn_"),
        (did % 37).cast("string"),
        F.lit("(arg):\n    pass\nclass Cls_"),
        (did % 23).cast("string"),
        F.lit(":\n    pass\n"),
        F.col(text_col),
    )
    fn_pat = r"def ([a-zA-Z_][a-zA-Z0-9_]*)\s*\("
    cls_pat = r"class ([a-zA-Z_][a-zA-Z0-9_]*)"
    funcs = docs.select(
        did,
        F.lit("function").alias("kind"),
        F.explode(F.regexp_extract_all(seasoned, F.lit(fn_pat), 1)).alias("symbol"),
    )
    classes = docs.select(
        did,
        F.lit("class").alias("kind"),
        F.explode(F.regexp_extract_all(seasoned, F.lit(cls_pat), 1)).alias("symbol"),
    )
    return funcs.unionByName(classes)


def symbol_references(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, kind, symbol) — the find-usages postings of a code-search
    engine (the xref table of Zoekt/Kythe-style tooling): every call site
    ``call fn(…)`` and instantiation ``new Cls(…)`` in a document, keyed by
    the referenced symbol. This is the linear table "find all references"
    reads directly and "go to definition" joins against
    :func:`symbol_definitions` — one row per usage, NEVER a def×ref pair
    join (a popular symbol has millions of callers; the rollup that needs
    both sides is :func:`symbol_xref_counts`).

    The corpus is word-soup, so the gate seasons each doc with
    deterministic call sites referencing OTHER docs' symbols (the
    symbol_definitions seasoning pattern): ``call fn_{(id+1)%37}(0)`` and
    ``new Cls_{(id+5)%23}(0)`` prepended to the text. Extraction is
    ``regexp_extract_all`` in the Java∩RE2 common dialect — one map over
    the scan, no shuffle."""
    did = F.col(id_col)
    seasoned = F.concat(
        F.lit("call fn_"),
        ((did + 1) % 37).cast("string"),
        F.lit("(0) new Cls_"),
        ((did + 5) % 23).cast("string"),
        F.lit("(0) "),
        F.col(text_col),
    )
    call_pat = r"call ([a-zA-Z_][a-zA-Z0-9_]*)\s*\("
    new_pat = r"new ([a-zA-Z_][a-zA-Z0-9_]*)\s*\("
    calls = docs.select(
        did,
        F.lit("function").alias("kind"),
        F.explode(F.regexp_extract_all(seasoned, F.lit(call_pat), 1)).alias("symbol"),
    )
    news = docs.select(
        did,
        F.lit("class").alias("kind"),
        F.explode(F.regexp_extract_all(seasoned, F.lit(new_pat), 1)).alias("symbol"),
    )
    return calls.unionByName(news)


def symbol_xref_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(kind, symbol, n_defs, n_refs) — the per-symbol xref rollup: how
    many documents define the symbol and how many reference it (the
    "used by N files" badge / dead-code signal).

    Scale note: this deliberately does NOT join definitions to references
    row-by-row — symbols are hot keys (every caller of a popular function
    lands on one join key), so each side collapses to ~|symbol vocabulary|
    rows with a map-side-combined distinct count FIRST, and the two tiny
    aggregates full-outer-join at the end. The linear usage list is
    :func:`symbol_references`; the pair fanout never materializes."""
    defs = (
        symbol_definitions(docs, id_col=id_col, text_col=text_col)
        .groupBy("kind", "symbol")
        .agg(F.countDistinct("doc_id").alias("n_defs"))
    )
    refs = (
        symbol_references(docs, id_col=id_col, text_col=text_col)
        .groupBy("kind", "symbol")
        .agg(F.countDistinct("doc_id").alias("n_refs"))
    )
    return (
        defs.join(refs, ["kind", "symbol"], "full_outer")
        .select(
            "kind",
            "symbol",
            F.coalesce("n_defs", F.lit(0)).cast("long").alias("n_defs"),
            F.coalesce("n_refs", F.lit(0)).cast("long").alias("n_refs"),
        )
    )


def ident_subtokens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(subtoken, df) — the identifier-splitting tokenizer of code search:
    camelCase and snake_case identifiers index under their constituent
    words (``getValueFast`` → get/value/fast), so a query for ``value``
    finds them.

    Seasoned like :func:`symbol_definitions`: each doc carries two
    deterministic identifiers (``getValue{id%13}Fast``,
    ``set_value_slow_{id%7}``). The split is the standard two-step:
    lowercase-to-uppercase boundaries become spaces (regexp_replace with a
    backreference — Spark ``$1 $2`` / RE2 ``\\1 \\2`` spellings, same
    semantics), then lowercase and split on ``[_ ]``. One map + one
    count-distinct aggregate keyed by subtoken — the postings-df shape."""
    did = F.col(id_col)
    seasoned = F.concat(
        F.lit("getValue"),
        (did % 13).cast("string"),
        F.lit("Fast set_value_slow_"),
        (did % 7).cast("string"),
        F.lit(" "),
        F.col(text_col),
    )
    idents = F.regexp_extract_all(
        seasoned, F.lit(r"[a-zA-Z_][a-zA-Z0-9_]*"), 0
    )
    split = F.lower(
        F.regexp_replace(
            F.concat_ws(" ", idents), r"([a-z0-9])([A-Z])", r"$1 $2"
        )
    )
    toks = F.filter(F.split(split, "[_ ]+"), lambda t: t != F.lit(""))
    sub = docs.select(did, F.explode(F.array_distinct(toks)).alias("subtoken"))
    return sub.groupBy("subtoken").agg(F.count(F.lit(1)).alias("df"))


def percolate_matches(
    docs: DataFrame,
    queries: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reverse search / percolation (the Elasticsearch percolate-query
    pattern): match a STORED query set against incoming documents — the
    alerting/subscription primitive ("notify me when a doc matching my
    query arrives"). A query matches a doc when ALL its terms occur
    (the same conjunctive semantics as term_search_all).

    One tokenize pass over the incoming batch; the query map is a
    broadcast |Q·terms|-row literal; the distinct-hit count aggregates
    map-side keyed by (doc, query) — linear in batch tokens, no corpus
    or index access at all (this is the operator you run on the ingest
    stream BEFORE indexing).

    Output: (doc_id, query_id) for every matching pair."""
    from searchengine_spark.functions.tokenize import exploded_tokens
    from searchengine_spark.operators.literals import local_frame

    spark = docs.sparkSession
    qmap = [
        (qid, t)
        for qid, terms in sorted(queries.items())
        for t in dict.fromkeys(terms)
    ]
    if not qmap:
        return local_frame(spark, [], "doc_id long, query_id string")
    qdf = local_frame(spark, qmap, "query_id string, term string")
    n_req = qdf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_req"))
    toks = exploded_tokens(docs, id_col, text_col).distinct()
    hits = (
        toks.join(F.broadcast(qdf), "term")
        .groupBy(id_col, "query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        hits.join(F.broadcast(n_req), "query_id")
        .filter(F.col("n_hit") == F.col("n_req"))
        .select(id_col, "query_id")
    )


ACCENT_FROM = "éïüñàçøö"
ACCENT_TO = "eiunacoo"
_ACCENT_WORDS = ["café", "naïve", "zürich", "señor", "à-propos", "façade", "smørbrød"]


def ascii_fold(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """ASCII/accent folding (the Lucene ``ASCIIFoldingFilter`` analyzer
    component): diacritics map to their base letters BEFORE tokenization so
    "café" and "cafe" hit the same posting list — required the moment a
    code corpus carries non-English comments or doc strings.

    The synthetic corpus is pure ASCII, so — the strip_html seasoning
    pattern — each doc is seasoned in-query with an accented marker word
    chosen by doc_id; both engines fold with the same explicit
    ``translate`` character map (no ICU dependency, parity by
    construction). Output: (term, df) for each folded marker term — the
    postings a fold-less analyzer would have missed entirely. One map over
    the scan, one small aggregate."""
    did = F.col(id_col)
    marker = F.element_at(
        F.array(*[F.lit(w) for w in _ACCENT_WORDS]), (did % len(_ACCENT_WORDS) + 1).cast("int")
    )
    seasoned = F.concat(F.col(text_col), F.lit(" "), marker)
    folded = F.translate(F.lower(seasoned), ACCENT_FROM, ACCENT_TO)
    toks = docs.select(
        did.alias("doc_id"),
        F.explode(F.split(folded, "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    folded_markers = sorted(
        {
            t
            for w in _ACCENT_WORDS
            for t in w.translate(str.maketrans(ACCENT_FROM, ACCENT_TO))
            .lower()
            .replace("-", " ")
            .split()
        }
    )
    return (
        toks.filter(F.col("term").isin(folded_markers))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )
