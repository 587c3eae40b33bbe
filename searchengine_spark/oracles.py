"""ANSI/DuckDB oracle SQL for every oracle-checkable query in
``__spark_entry__.queries()``.

Each SQL string is the *semantic* twin of the corresponding Spark DataFrame
plan: same tokenizer regex, same float expression trees, same
round-to-bigint-micros trick so sums are exact and order-insensitive in both
engines. Column aliases match the Spark side exactly (the driver sorts
columns by name before hashing).
"""

from __future__ import annotations

TOKEN_SPLIT_RE = "[^a-z0-9]+"
# Java's \s (results.render_snippet's word split); RE2's \s lacks \x0b
_JAVA_WS_RE = "[\\t\\n\\v\\f\\r ]+"

# shared CTE: non-empty tokens per doc over the `documents` view
_TOKENS_CTE = f"""
toks AS (
  SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t
  FROM documents
),
terms_ne AS (
  SELECT doc_id, unnest(t) AS term FROM toks
),
terms AS (
  SELECT doc_id, term FROM terms_ne WHERE term <> ''
),
post AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM terms GROUP BY 1, 2
),
dls AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                         x -> x <> ''))::BIGINT AS dl
  FROM documents
)
"""


def _terms_values(terms: list[str]) -> str:
    rows = ", ".join(f"('{t}')" for t in terms)
    return f"(VALUES {rows}) AS q(term)"


def postings_sql() -> str:
    return f"WITH {_TOKENS_CTE} SELECT term, doc_id, tf FROM post"


def lexicon_sql() -> str:
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
SELECT term,
       count(DISTINCT doc_id)::BIGINT AS df,
       CAST(round(ln(1.0 + (n.n_docs - count(DISTINCT doc_id) + 0.5)
                            / (count(DISTINCT doc_id) + 0.5)) * 1e6) AS BIGINT)
         AS idf_bm25_micros,
       CAST(round(ln(n.n_docs / (count(DISTINCT doc_id) + 1.0)) * 1e6) AS BIGINT)
         AS idf_compat_micros
FROM post, n
GROUP BY term, n.n_docs
"""


def _bm25_scores_cte(
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    q_cte: str | None = None,
) -> str:
    """CTE chain (appended after _TOKENS_CTE) ending in
    ``scores(doc_id, score_micros)`` — shared by every BM25-scored oracle.
    ``q_cte`` replaces the literal VALUES query-term set with a SELECT
    (e.g. the spell-corrected term set) — it must yield a ``term`` column."""
    q_body = q_cte or f"SELECT term FROM {_terms_values(terms)}"
    return f"""n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
q AS (SELECT DISTINCT term FROM ({q_body})),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n
  WHERE lex.term IN (SELECT term FROM q)
),
scored AS (
  SELECT post.doc_id,
         CAST(round(idf.idf_bm25 * (post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl))
                    * 1e6) AS BIGINT) AS c_micros
  FROM post
  JOIN q ON post.term = q.term
  JOIN idf ON post.term = idf.term
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
),
scores AS (
  SELECT doc_id, sum(c_micros)::BIGINT AS score_micros
  FROM scored GROUP BY doc_id
)"""


def bm25_topk_sql(terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms, k1, b)}
SELECT doc_id, score_micros FROM scores
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def bm25_explain_sql(
    terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """Twin of serve.bm25_explain: the per-(doc, term) contribution rows of
    the top-k docs — same idf/contrib float tree as _bm25_scores_cte."""
    uniq = list(dict.fromkeys(terms))
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
q AS (SELECT term FROM {_terms_values(uniq)}),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n
  WHERE lex.term IN (SELECT term FROM q)
),
det AS (
  SELECT post.doc_id, post.term, post.tf::BIGINT AS tf, lex.df,
         CAST(round(idf.idf_bm25 * (post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl))
                    * 1e6) AS BIGINT) AS contrib_micros
  FROM post
  JOIN q ON post.term = q.term
  JOIN idf ON post.term = idf.term
  JOIN lex ON post.term = lex.term
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
),
topk AS (
  SELECT doc_id, sum(contrib_micros)::BIGINT AS score_micros
  FROM det GROUP BY 1
  ORDER BY score_micros DESC, doc_id ASC LIMIT {k}
)
SELECT det.doc_id, det.term, det.tf, det.df, det.contrib_micros, topk.score_micros
FROM det JOIN topk USING (doc_id)
"""


def bm25_page_sql(
    terms: list[str], page: int, k: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """Twin of serve.bm25_page: rows (page-1)·k+1 … page·k of the total
    order (score DESC, doc_id ASC). The cursor-chained Spark path returns
    exactly this slice because doc_id ties make the order total, so pages
    partition the ranking."""
    lo, hi = (page - 1) * k, page * k
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms, k1, b)},
ranked AS (
  SELECT doc_id, score_micros,
         row_number() OVER (ORDER BY score_micros DESC, doc_id ASC) AS rn
  FROM scores
)
SELECT doc_id, score_micros FROM ranked WHERE rn > {lo} AND rn <= {hi}
"""


def bm25_maxp_topk_sql(
    terms: list[str], k: int = 10, passage_size: int = 32, k1: float = 1.2
) -> str:
    """Twin of serve.bm25_maxp_topk: fixed ``passage_size``-token windows
    over the raw split positions, per-passage saturation BM25
    (length normalization is constant for fixed windows), per-doc max with
    earliest-passage tie-break. Micros rounded per (doc, term, passage)
    BEFORE the passage sum and the doc max — same integer contract."""
    return f"""
WITH {_TOKENS_CTE},
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
q AS (SELECT term FROM {_terms_values(terms)}),
lex AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n WHERE lex.term IN (SELECT term FROM q)
),
ptf AS (
  SELECT doc_id, term, CAST(pos // {passage_size} AS BIGINT) AS passage_id,
         count(*)::BIGINT AS tf
  FROM pos WHERE term IN (SELECT term FROM q)
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT ptf.doc_id, ptf.passage_id,
         CAST(round(idf.idf_bm25 * (ptf.tf * {k1 + 1.0}) / (ptf.tf + {k1})
                    * 1e6) AS BIGINT) AS c_micros
  FROM ptf JOIN idf ON ptf.term = idf.term
),
pscores AS (
  SELECT doc_id, passage_id, sum(c_micros)::BIGINT AS score_micros
  FROM scored GROUP BY 1, 2
),
best AS (
  SELECT doc_id, passage_id, score_micros,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micros DESC, passage_id ASC) AS rn
  FROM pscores
)
SELECT doc_id, passage_id, score_micros FROM best WHERE rn = 1
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def line_dedup_sql(line_tokens: int = 8) -> str:
    """Twin of dedup.line_dedup: fixed token windows as synthetic lines, a
    line survives only at its globally first (doc_id, line_id) occurrence."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                     x -> x <> '') AS arr
  FROM documents
),
nz AS (SELECT doc_id, arr, len(arr) AS dl FROM toks WHERE len(arr) > 0),
ln AS (
  SELECT doc_id, unnest(range(0, (dl - 1) // {line_tokens} + 1)) AS line_id, arr
  FROM nz
),
lines AS (
  SELECT doc_id, line_id::BIGINT AS line_id,
         array_to_string(
           arr[line_id * {line_tokens} + 1 : line_id * {line_tokens} + {line_tokens}],
           ' ') AS line
  FROM ln
),
rn AS (
  SELECT doc_id, line_id, line,
         row_number() OVER (PARTITION BY md5(line)
                            ORDER BY doc_id ASC, line_id ASC) AS rn
  FROM lines
),
totals AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM lines GROUP BY 1),
kept AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY line_id)) AS kept_md5
  FROM rn WHERE rn = 1 GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines,
       coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       coalesce(k.kept_md5, md5('')) AS kept_md5
FROM totals t LEFT JOIN kept k USING (doc_id)
"""


def facet_counts_sql(terms: list[str], facets: tuple[str, ...] = ("lang", "source")) -> str:
    """Twin of serve.facet_counts: per-facet value counts over the docs
    matching ANY query term."""
    branches = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS facet, {c} AS value, count(*)::BIGINT AS n_docs "
        f"FROM j GROUP BY 2"
        for c in facets
    )
    return f"""
WITH {_TOKENS_CTE},
hits AS (SELECT DISTINCT doc_id FROM post
         WHERE term IN (SELECT term FROM {_terms_values(terms)})),
j AS (SELECT d.* FROM documents d JOIN hits USING (doc_id))
{branches}
"""


def search_diversified_sql(
    terms: list[str],
    k: int = 10,
    per_host: int = 2,
    n_hosts: int = 7,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Twin of serve.search_diversified: per-host result cap then global
    top-k over the BM25 candidate scores."""
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms, k1, b)},
hosted AS (
  SELECT doc_id, score_micros,
         'host' || (doc_id % {n_hosts})::VARCHAR AS host
  FROM scores
),
capped AS (
  SELECT doc_id, score_micros, host,
         row_number() OVER (PARTITION BY host
                            ORDER BY score_micros DESC, doc_id ASC) AS hr
  FROM hosted
)
SELECT CAST(row_number() OVER (ORDER BY score_micros DESC, doc_id ASC) AS INT)
         AS rank,
       doc_id, host, score_micros
FROM capped WHERE hr <= {per_host}
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def tfidf_topk_sql(terms: list[str], k: int = 10) -> str:
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
q AS (SELECT DISTINCT term FROM {_terms_values(terms)}),
lex AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1),
idf AS (
  SELECT lex.term, ln(n.n_docs / (lex.df + 1.0)) AS idf_compat
  FROM lex, n WHERE lex.term IN (SELECT term FROM q)
),
scored AS (
  SELECT post.doc_id,
         CAST(round((post.tf::DOUBLE / dls.dl::DOUBLE) * idf.idf_compat * 1e6)
              AS BIGINT) AS c_micros
  FROM post
  JOIN q ON post.term = q.term
  JOIN idf ON post.term = idf.term
  JOIN dls ON post.doc_id = dls.doc_id
)
SELECT doc_id, sum(c_micros)::BIGINT AS score_micros
FROM scored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def term_search_all_sql(terms: list[str]) -> str:
    n = len(set(terms))
    return f"""
WITH {_TOKENS_CTE},
q AS (SELECT term FROM {_terms_values(terms)})
SELECT terms.doc_id
FROM terms JOIN q ON terms.term = q.term
GROUP BY terms.doc_id
HAVING count(DISTINCT terms.term) = {n}
"""


def phrase_match_sql(phrase_terms: list[str]) -> str:
    # positions over the RAW split array (empties retained) — matches
    # posexplode on the Spark side
    conds = " AND ".join(
        f"p{i}.term = '{t}' AND p{i}.pos = p0.pos + {i}"
        for i, t in enumerate(phrase_terms)
        if i > 0
    )
    joins = "\n".join(
        f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id"
        for i in range(1, len(phrase_terms))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
)
SELECT DISTINCT p0.doc_id
FROM pos p0
{joins}
WHERE p0.term = '{phrase_terms[0]}' AND {conds}
"""


# ====================================================================
# dedup / similarity / textstats / relational oracles
# ====================================================================

MERSENNE31 = 2147483647


def exact_dedup_sql() -> str:
    return """
SELECT md5(text) AS fingerprint,
       min(doc_id)::BIGINT AS canonical_doc_id,
       count(*)::BIGINT AS n_copies
FROM documents GROUP BY md5(text)
"""


def _shingles_cte(n: int) -> str:
    """Distinct token n-grams with positions over the raw split array
    (empties retained for positions, filtered as tokens) — mirrors
    operators/dedup.py::_token_ngrams exactly."""
    joins = "\n".join(
        f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.pos = p0.pos + {i} AND p{i}.term <> ''"
        for i in range(1, n)
    )
    shingle = " || ' ' || ".join(f"p{i}.term" for i in range(n))
    return f"""
toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS t FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos FROM toksarr
),
shingles AS (
  SELECT DISTINCT p0.doc_id, {shingle} AS shingle
  FROM pos p0
  {joins}
  WHERE p0.term <> ''
)
"""


def ngram_jaccard_sql(
    n: int = 3,
    threshold_micros: int = 100000,
    df_cap_min: int | None = None,
    df_cap_den: int = 100,
) -> str:
    """With ``df_cap_min`` set, ubiquitous shingles (doc frequency >
    max(df_cap_min, ceil_div(n_docs, df_cap_den))) are dropped before the
    candidate join — the stop-shingle defusal mirrored from
    dedup.ngram_jaccard_pairs(max_shingle_df=...). Pure integer arithmetic
    so both engines compute the identical cap."""
    src = "shingles"
    cap_ctes = ""
    if df_cap_min is not None:
        cap_ctes = f""",
cap AS (SELECT greatest({df_cap_min}, (count(*) + {df_cap_den - 1}) // {df_cap_den})::BIGINT AS c
        FROM documents),
hot AS (SELECT shingle FROM shingles GROUP BY shingle
        HAVING count(*) > (SELECT c FROM cap)),
kept AS (SELECT s.* FROM shingles s LEFT JOIN hot USING (shingle)
         WHERE hot.shingle IS NULL)"""
        src = "kept"
    return f"""
WITH {_shingles_cte(n)}{cap_ctes},
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM {src} GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
  FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(round(1e6 * i / (sa.sz + sb.sz - i)) AS BIGINT) AS jaccard_micros
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(round(1e6 * i / (sa.sz + sb.sz - i)) AS BIGINT) >= {threshold_micros}
"""


def _perms_values(n_perms: int) -> str:
    return ", ".join(f"({j}, {2 * j + 1}, {j * j + 7})" for j in range(n_perms))


_TOKHASH_CTE = f"""
toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS t FROM documents
),
terms AS (
  SELECT doc_id, unnest(t) AS term FROM toksarr
),
tok AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % {MERSENNE31} AS x
  FROM terms WHERE term <> ''
)
"""


def minhash_sql(n_perms: int = 16) -> str:
    return f"""
WITH {_TOKHASH_CTE},
perms(perm_id, a, b) AS (VALUES {_perms_values(n_perms)})
SELECT tok.doc_id, perms.perm_id::INT AS perm_id,
       min((perms.a * tok.x + perms.b) % {MERSENNE31})::BIGINT AS minhash
FROM tok CROSS JOIN perms
GROUP BY 1, 2
"""


def minhash_lsh_pairs_sql(n_perms: int = 16, rows_per_band: int = 4) -> str:
    return f"""
WITH {_TOKHASH_CTE},
perms(perm_id, a, b) AS (VALUES {_perms_values(n_perms)}),
sig AS (
  SELECT tok.doc_id, perms.perm_id,
         min((perms.a * tok.x + perms.b) % {MERSENNE31})::BIGINT AS minhash
  FROM tok CROSS JOIN perms GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, (perm_id // {rows_per_band})::INT AS band_id,
         string_agg(minhash::VARCHAR, ',' ORDER BY perm_id) AS band_key
  FROM sig GROUP BY 1, 2
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def _simhash_cte(n_bits: int = 32) -> str:
    """CTE chain ending in ``sigs(doc_id, simhash)`` — shared by the
    signature gate and the Hamming-pairs gate."""
    return f"""toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS t FROM documents
),
terms AS (SELECT doc_id, unnest(t) AS term FROM toksarr),
tf AS (
  SELECT doc_id, CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h,
         count(*)::BIGINT AS tf
  FROM terms WHERE term <> '' GROUP BY 1, 2
),
bits AS (
  SELECT doc_id, r.range AS bit,
         sum(CASE WHEN (h >> r.range) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM tf CROSS JOIN range({n_bits}) r
  GROUP BY 1, 2
),
sigs AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
)"""


def simhash_sql(n_bits: int = 32) -> str:
    return f"""
WITH {_simhash_cte(n_bits)}
SELECT doc_id, simhash FROM sigs
"""


def simhash_hamming_pairs_sql(n_bits: int = 32, max_hamming: int = 3) -> str:
    """Brute-force quadratic twin of dedup.simhash_hamming_pairs — the banded
    Spark plan is exact for max_hamming < n_bands, so the all-pairs scan is a
    valid oracle at gate scale."""
    return f"""
WITH {_simhash_cte(n_bits)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def ann_bruteforce_sql(n_queries: int = 8, k: int = 5) -> str:
    q = "list_transform(qv, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    c = "list_transform(cv, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {n_queries}
),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {q} AS qq, {c.replace('cv', 'e.embedding')} AS cc
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(round(1e6 * CAST(list_sum(list_transform(list_zip(qq, cc), p -> p[1] * p[2])) AS DOUBLE)
              / (sqrt(CAST(list_sum(list_transform(qq, x -> x * x)) AS DOUBLE))
                 * sqrt(CAST(list_sum(list_transform(cc, x -> x * x)) AS DOUBLE)))) AS BIGINT)
           AS cosine_micros
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cosine_micros FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_micros DESC, neighbor_id ASC)::INT AS rank
  FROM scored
) WHERE rank <= {k}
"""


def symbol_definitions_sql() -> str:
    """Twin of textstats.symbol_definitions: same seasoned code header
    (chr(10) newlines), same Java∩RE2 extraction patterns."""
    season = (
        "'def fn_' || (doc_id % 37)::VARCHAR || '(arg):' || chr(10) || "
        "'    pass' || chr(10) || 'class Cls_' || (doc_id % 23)::VARCHAR || "
        "':' || chr(10) || '    pass' || chr(10) || text"
    )
    return f"""
WITH seasoned AS (SELECT doc_id, {season} AS s FROM documents)
SELECT doc_id, 'function' AS kind,
       unnest(regexp_extract_all(s, 'def ([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\(', 1)) AS symbol
FROM seasoned
UNION ALL
SELECT doc_id, 'class' AS kind,
       unnest(regexp_extract_all(s, 'class ([a-zA-Z_][a-zA-Z0-9_]*)', 1)) AS symbol
FROM seasoned
"""


_XREF_REFS_CTE = (
    "refs_raw AS (SELECT doc_id, 'call fn_' || ((doc_id + 1) % 37)::VARCHAR || "
    "'(0) new Cls_' || ((doc_id + 5) % 23)::VARCHAR || '(0) ' || text AS s "
    "FROM documents), "
    "refs AS ("
    "SELECT doc_id, 'function' AS kind, "
    "unnest(regexp_extract_all(s, 'call ([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\(', 1)) AS symbol "
    "FROM refs_raw "
    "UNION ALL "
    "SELECT doc_id, 'class' AS kind, "
    "unnest(regexp_extract_all(s, 'new ([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\(', 1)) AS symbol "
    "FROM refs_raw)"
)


def symbol_references_sql() -> str:
    """Twin of textstats.symbol_references: same seasoned call sites, same
    Java∩RE2 extraction patterns."""
    return f"""
WITH {_XREF_REFS_CTE}
SELECT doc_id, kind, symbol FROM refs
"""


def symbol_xref_counts_sql() -> str:
    """Twin of textstats.symbol_xref_counts: per-side distinct-doc rollups
    full-outer-joined on (kind, symbol) — never a def×ref pair join."""
    season = (
        "'def fn_' || (doc_id % 37)::VARCHAR || '(arg):' || chr(10) || "
        "'    pass' || chr(10) || 'class Cls_' || (doc_id % 23)::VARCHAR || "
        "':' || chr(10) || '    pass' || chr(10) || text"
    )
    return f"""
WITH seasoned AS (SELECT doc_id, {season} AS s FROM documents),
defs AS (
  SELECT doc_id, 'function' AS kind,
         unnest(regexp_extract_all(s, 'def ([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\(', 1)) AS symbol
  FROM seasoned
  UNION ALL
  SELECT doc_id, 'class' AS kind,
         unnest(regexp_extract_all(s, 'class ([a-zA-Z_][a-zA-Z0-9_]*)', 1)) AS symbol
  FROM seasoned
),
{_XREF_REFS_CTE},
d AS (SELECT kind, symbol, count(DISTINCT doc_id) AS n_defs FROM defs GROUP BY 1, 2),
r AS (SELECT kind, symbol, count(DISTINCT doc_id) AS n_refs FROM refs GROUP BY 1, 2)
SELECT COALESCE(d.kind, r.kind) AS kind,
       COALESCE(d.symbol, r.symbol) AS symbol,
       COALESCE(d.n_defs, 0)::BIGINT AS n_defs,
       COALESCE(r.n_refs, 0)::BIGINT AS n_refs
FROM d FULL OUTER JOIN r ON d.kind = r.kind AND d.symbol = r.symbol
"""


def ident_subtokens_sql() -> str:
    """Twin of textstats.ident_subtokens. Replacement backrefs are \\1 \\2
    (RE2) vs Spark's $1 $2 — different spelling, same semantics — and
    DuckDB regexp_replace needs the 'g' flag to match Spark's global
    default."""
    season = (
        "'getValue' || (doc_id % 13)::VARCHAR || 'Fast set_value_slow_' || "
        "(doc_id % 7)::VARCHAR || ' ' || text"
    )
    return f"""
WITH seasoned AS (SELECT doc_id, {season} AS s FROM documents),
ids AS (
  SELECT doc_id,
         array_to_string(regexp_extract_all(s, '[a-zA-Z_][a-zA-Z0-9_]*', 0), ' ') AS joined
  FROM seasoned
),
subs AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(
           string_split_regex(
             lower(regexp_replace(joined, '([a-z0-9])([A-Z])', '\\1 \\2', 'g')),
             '[_ ]+'),
           x -> x <> '')) AS subtoken
  FROM ids
)
SELECT subtoken, count(*)::BIGINT AS df FROM subs GROUP BY subtoken
"""


def ann_filtered_sql(n_queries: int = 8, k: int = 5, label_value: int = 1) -> str:
    """Twin of similarity.ann_filtered_topk: the brute-force oracle with the
    metadata predicate on the candidate side only."""
    q = "list_transform(qv, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    c = "list_transform(e.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {n_queries}
),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {q} AS qq, {c} AS cc
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id AND e.label = {label_value}
),
scored AS (
  SELECT query_id, neighbor_id, {_cos_micros_sql("qq", "cc")} AS cosine_micros
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cosine_micros FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_micros DESC, neighbor_id ASC)::INT AS rank
  FROM scored
) WHERE rank <= {k}
"""


def qld_topk_sql(terms: list[str], k: int = 10, mu: float = 100.0) -> str:
    """Twin of serve.qld_topk: Dirichlet query-likelihood, same float tree
    (ln(1 + tf·total/(μ·cf)) per posting, |q|·ln(μ/(dl+μ)) once per doc,
    both rounded to micros before summing)."""
    uniq = list(dict.fromkeys(terms))
    return f"""
WITH {_TOKENS_CTE},
tot AS (SELECT sum(dl)::DOUBLE AS t FROM dls),
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM post GROUP BY 1),
q AS (SELECT term FROM {_terms_values(uniq)}),
qcf AS (SELECT cf.term, cf.cf FROM cf JOIN q USING (term)),
nqv AS (SELECT count(*)::DOUBLE AS nq FROM qcf),
matched AS (
  SELECT post.doc_id, dls.dl,
         CAST(round(ln(1.0 + (post.tf::DOUBLE * tot.t)
                             / ({mu} * qcf.cf::DOUBLE)) * 1e6) AS BIGINT) AS c
  FROM post JOIN qcf USING (term) JOIN dls USING (doc_id) CROSS JOIN tot
),
agg AS (SELECT doc_id, dl, sum(c)::BIGINT AS s FROM matched GROUP BY 1, 2)
SELECT doc_id,
       s + CAST(round(nqv.nq * ln({mu} / (dl::DOUBLE + {mu})) * 1e6) AS BIGINT)
         AS score_micros
FROM agg CROSS JOIN nqv
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def qld_jm_topk_sql(terms: list[str], k: int = 10, lam: float = 0.5) -> str:
    """Twin of serve.qld_jm_topk: Jelinek-Mercer query likelihood, same
    float tree (ln(1 + ((1-λ)/λ)·tf·total/(dl·cf)) per posting, rounded to
    micros before the per-doc sum; no doc-level background term)."""
    uniq = list(dict.fromkeys(terms))
    ratio = (1.0 - lam) / lam
    return f"""
WITH {_TOKENS_CTE},
tot AS (SELECT sum(dl)::DOUBLE AS t FROM dls),
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM post GROUP BY 1),
q AS (SELECT term FROM {_terms_values(uniq)}),
qcf AS (SELECT cf.term, cf.cf FROM cf JOIN q USING (term)),
matched AS (
  SELECT post.doc_id,
         CAST(round(ln(1.0 + {ratio} * (post.tf::DOUBLE * tot.t)
                             / (dls.dl::DOUBLE * qcf.cf::DOUBLE)) * 1e6)
              AS BIGINT) AS c
  FROM post JOIN qcf USING (term) JOIN dls USING (doc_id) CROSS JOIN tot
)
SELECT doc_id, sum(c)::BIGINT AS score_micros
FROM matched GROUP BY 1
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def pl2_topk_sql(terms: list[str], k: int = 10, c: float = 1.0) -> str:
    """Twin of serve.pl2_topk: DFR PL2 with normalization 2, same float
    tree — tfn = tf·(ln(1 + c·avgdl/dl)·INV_LN2), λ = cf/N as one double
    division, (tfn·(ln(tfn/λ)·INV) + (λ−tfn)·INV + 0.5·(ln(2π·tfn)·INV))
    / (tfn+1), rounded to micros per posting before the per-doc sum. The
    log2(e)/2π literals are the exact constants serve.PL2_INV_LN2 /
    PL2_TWO_PI embed on the Spark side."""
    inv, two_pi = "1.4426950408889634", "6.283185307179586"
    uniq = list(dict.fromkeys(terms))
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM post GROUP BY 1),
q AS (SELECT term FROM {_terms_values(uniq)}),
qlam AS (
  SELECT cf.term, cf.cf::DOUBLE / n.n_docs AS lam FROM cf CROSS JOIN n
  WHERE cf.term IN (SELECT term FROM q)
),
scored AS (
  SELECT post.doc_id,
         CAST(round((
             tfn * (ln(tfn / lam) * {inv})
             + (lam - tfn) * {inv}
             + 0.5 * (ln({two_pi} * tfn) * {inv})
           ) / (tfn + 1.0) * 1e6) AS BIGINT) AS c
  FROM (
    SELECT post.doc_id, post.term, qlam.lam,
           post.tf::DOUBLE
             * (ln(1.0 + ({c} * avg_dl.avgdl) / dls.dl::DOUBLE) * {inv}) AS tfn
    FROM post
    JOIN qlam USING (term)
    JOIN dls USING (doc_id)
    CROSS JOIN avg_dl
  ) post
)
SELECT doc_id, sum(c)::BIGINT AS score_micros
FROM scored GROUP BY 1
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def sdm_topk_sql(
    terms: list[str],
    k: int = 10,
    mu: float = 2000.0,
    window: int = 8,
    lam_t: float = 0.85,
    lam_o: float = 0.10,
    lam_u: float = 0.05,
) -> str:
    """Twin of serve.sdm_topk — same float trees per feature class
    (unigram / ordered-adjacency / unordered-window Dirichlet
    decompositions, each rounded to micros), same candidate set and
    length-penalty coefficient. Assumes the baked ``terms`` are all
    in-vocabulary (true for the gate query set); positions are raw-split
    positions like the phrase/proximity twins."""
    uni = list(dict.fromkeys(terms))
    pairs = list(
        dict.fromkeys((a, b) for a, b in zip(terms, terms[1:]) if a != b)
    )
    coef = -(lam_t * len(uni) + (lam_o + lam_u) * len(pairs))
    pair_ctes, pair_selects = [], []
    for i, (a, b) in enumerate(pairs):
        pair_ctes.append(
            f"""
o{i} AS (
  SELECT a.doc_id, count(*)::BIGINT AS tfp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{a}' AND b.term = '{b}'
  GROUP BY 1
),
ocf{i} AS (SELECT sum(tfp)::DOUBLE AS v FROM o{i}),
u{i} AS (
  SELECT a.doc_id, count(*)::BIGINT AS tfp
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
                       AND abs(a.pos - b.pos) <= {window - 1}
  WHERE a.term = '{a}' AND b.term = '{b}'
  GROUP BY 1
),
ucf{i} AS (SELECT sum(tfp)::DOUBLE AS v FROM u{i})"""
        )
        pair_selects.append(
            f"""
  SELECT o{i}.doc_id,
         CAST(round({lam_o!r} * ln(1.0 + (o{i}.tfp::DOUBLE * tot.t)
                                   / ({mu!r} * ocf{i}.v)) * 1e6) AS BIGINT) AS c
  FROM o{i} CROSS JOIN tot CROSS JOIN ocf{i}
  UNION ALL
  SELECT u{i}.doc_id,
         CAST(round({lam_u!r} * ln(1.0 + (u{i}.tfp::DOUBLE * tot.t)
                                   / ({mu!r} * ucf{i}.v)) * 1e6) AS BIGINT) AS c
  FROM u{i} CROSS JOIN tot CROSS JOIN ucf{i}"""
        )
    pair_cte_sql = ("," + ",".join(pair_ctes)) if pair_ctes else ""
    pair_union = (
        ("  UNION ALL" + "  UNION ALL".join(pair_selects)) if pair_selects else ""
    )
    return f"""
WITH {_TOKENS_CTE},
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
),
tot AS (SELECT sum(dl)::DOUBLE AS t FROM dls),
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM post GROUP BY 1),
q AS (SELECT term FROM {_terms_values(uni)}),
cand AS (SELECT DISTINCT post.doc_id FROM post JOIN q USING (term)){pair_cte_sql},
contrib AS (
  SELECT post.doc_id,
         CAST(round({lam_t!r} * ln(1.0 + (post.tf::DOUBLE * tot.t)
                                   / ({mu!r} * cf.cf::DOUBLE)) * 1e6) AS BIGINT) AS c
  FROM post JOIN q USING (term) JOIN cf USING (term) CROSS JOIN tot
  UNION ALL
  SELECT cand.doc_id,
         CAST(round({coef!r} * ln(dls.dl::DOUBLE + {mu!r}) * 1e6) AS BIGINT) AS c
  FROM cand JOIN dls USING (doc_id)
{pair_union}
)
SELECT doc_id, sum(c)::BIGINT AS score_micros
FROM contrib GROUP BY 1
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def bm25f_topk_sql(
    terms: list[str],
    k: int = 10,
    head_positions: int = 8,
    w_head: float = 2.0,
    w_body: float = 1.0,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Twin of serve.bm25f_topk: per-field tfs recomputed from raw-split
    positions (0-based, empties retained — the stored-positions
    convention), shared length normalization, same saturation tree."""
    uniq = list(dict.fromkeys(terms))
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(uniq, k1, b)},
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
),
ppost AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf,
         count(CASE WHEN pos < {head_positions} THEN 1 END)::BIGINT AS tf_h
  FROM pos WHERE term <> '' GROUP BY 1, 2
),
fpost AS (
  SELECT ppost.doc_id, ppost.term,
         ({w_head} * ppost.tf_h + {w_body} * (ppost.tf - ppost.tf_h))
           / ({1.0 - b} + {b} * dls.dl / avg_dl.avgdl) AS tfw
  FROM ppost JOIN dls ON ppost.doc_id = dls.doc_id CROSS JOIN avg_dl
  WHERE ppost.term IN (SELECT term FROM q)
),
fscored AS (
  SELECT fpost.doc_id,
         CAST(round(idf.idf_bm25 * (fpost.tfw / ({k1} + fpost.tfw)) * 1e6)
              AS BIGINT) AS c
  FROM fpost JOIN idf ON fpost.term = idf.term
)
SELECT doc_id, sum(c)::BIGINT AS score_micros
FROM fscored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def prf_expansion_sql(
    terms: list[str],
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 3,
    expand_weight: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Twin of serve.prf_expansion_topk: BM25 pass 1 → top-fb_docs feedback
    set → strongest non-query terms by round(Σtf · idf · 1e6) → weighted
    BM25 pass 2. Expansion selection and both score folds are bigint micros,
    so the whole two-pass pipeline is hash-comparable."""
    uniq = list(dict.fromkeys(terms))
    orig_in = ", ".join(f"'{t}'" for t in uniq)
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(uniq, k1, b)},
fb AS (
  SELECT doc_id FROM scores ORDER BY score_micros DESC, doc_id ASC LIMIT {fb_docs}
),
fbt AS (
  SELECT post.term, sum(post.tf)::BIGINT AS sum_tf
  FROM post JOIN fb USING (doc_id)
  WHERE post.term NOT IN ({orig_in})
  GROUP BY post.term
),
fbidf AS (
  SELECT fbt.term, fbt.sum_tf,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM fbt JOIN lex USING (term) CROSS JOIN n
),
expq AS (
  SELECT term, idf_bm25 FROM (
    SELECT term, idf_bm25,
           row_number() OVER (
             ORDER BY CAST(round(sum_tf * idf_bm25 * 1e6) AS BIGINT) DESC, term ASC
           ) AS r
    FROM fbidf
  ) WHERE r <= {fb_terms}
),
wq AS (
  SELECT term, idf_bm25, 1.0 AS w FROM idf
  UNION ALL
  SELECT term, idf_bm25, {expand_weight} AS w FROM expq
),
wscored AS (
  SELECT post.doc_id,
         CAST(round(wq.w * (wq.idf_bm25 * (post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl)))
                    * 1e6) AS BIGINT) AS c
  FROM post JOIN wq ON post.term = wq.term
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
)
SELECT doc_id, sum(c)::BIGINT AS score_micros
FROM wscored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def hybrid_rrf_sql(
    terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    r: int = 50,
    rrf_k: int = 60,
) -> str:
    """Twin of serve.hybrid_rrf_topk: BM25 top-r ∪ cosine top-r fused by
    reciprocal rank — each side's rank comes from the same gated ordering
    (score desc, id asc), contributions are round(1e6/(rrf_k+rank))."""
    qq = "list_transform(qv.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    cc = "list_transform(e.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms)},
lex_ranked AS (
  SELECT doc_id, lrank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_micros DESC, doc_id ASC) AS lrank
    FROM scores
  ) WHERE lrank <= {r}
),
vec_scored AS (
  SELECT e.vec_id AS doc_id, {_cos_micros_sql(qq, cc)} AS cosine_micros
  FROM embeddings e
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {query_vec_id}) qv
  WHERE e.vec_id <> {query_vec_id}
),
vec_ranked AS (
  SELECT doc_id, vrank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cosine_micros DESC, doc_id ASC) AS vrank
    FROM vec_scored
  ) WHERE vrank <= {r}
),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         coalesce(CAST(round(1e6 / ({rrf_k} + l.lrank)) AS BIGINT), 0)
         + coalesce(CAST(round(1e6 / ({rrf_k} + v.vrank)) AS BIGINT), 0)
           AS rrf_micros
  FROM lex_ranked l FULL OUTER JOIN vec_ranked v ON l.doc_id = v.doc_id
)
SELECT rank, doc_id, rrf_micros FROM (
  SELECT row_number() OVER (ORDER BY rrf_micros DESC, doc_id ASC)::INT AS rank,
         doc_id, rrf_micros
  FROM fused
) WHERE rank <= {k}
"""


def token_stats_sql() -> str:
    return """
WITH toksarr AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       len(t)::BIGINT AS n_tokens,
       len(list_distinct(t))::BIGINT AS n_distinct,
       length(text)::BIGINT AS n_chars,
       CASE WHEN len(t) > 0
            THEN CAST(round(1e6 * CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                      / len(t)) AS BIGINT)
            ELSE 0 END AS mean_token_len_micros
FROM toksarr
"""


def doc_fingerprints_sql() -> str:
    return """
WITH toksarr AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       md5(text) AS content_md5,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS normalized_md5,
       md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS token_set_md5
FROM toksarr
"""


# ------------------------------------------------------------------ corpus text

def term_search_any_sql(terms: list[str]) -> str:
    """Union-of-term-results semantics (the reference's handleTermSearch
    Set union, SearchService.java:466-476 / SURVEY.md A8+O4)."""
    return f"""
WITH {_TOKENS_CTE},
q AS (SELECT term FROM {_terms_values(terms)})
SELECT DISTINCT terms.doc_id
FROM terms JOIN q ON terms.term = q.term
"""


def heavy_hitter_terms_sql(k: int = 20) -> str:
    return f"""
WITH {_TOKENS_CTE}
SELECT term, count(*)::BIGINT AS occurrences, count(DISTINCT doc_id)::BIGINT AS df
FROM terms GROUP BY term
ORDER BY occurrences DESC, term ASC
LIMIT {k}
"""


def doc_length_histogram_sql(bucket_width: int = 10) -> str:
    return f"""
WITH dls AS (
  SELECT len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> ''))::BIGINT AS dl
  FROM documents
)
SELECT (dl // {bucket_width}) * {bucket_width} AS len_bucket,
       count(*)::BIGINT AS n_docs
FROM dls GROUP BY 1
"""


def top_bigrams_sql(k: int = 20) -> str:
    return f"""
WITH toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS t FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos FROM toksarr
)
SELECT a.term || ' ' || b.term AS bigram, count(*)::BIGINT AS occurrences
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term <> '' AND b.term <> ''
GROUP BY 1
ORDER BY occurrences DESC, bigram ASC
LIMIT {k}
"""


def term_search_except_sql(include_terms: list[str], exclude_terms: list[str]) -> str:
    n = len(set(include_terms))
    return f"""
WITH {_TOKENS_CTE}
SELECT terms.doc_id
FROM terms JOIN {_terms_values(include_terms)} ON terms.term = q.term
GROUP BY terms.doc_id
HAVING count(DISTINCT terms.term) = {n}
EXCEPT
SELECT DISTINCT terms.doc_id
FROM terms JOIN {_terms_values(exclude_terms).replace(" AS q(term)", " AS qe(term)")} ON terms.term = qe.term
"""


def _cos_micros_sql(a: str, b: str) -> str:
    """Cosine-in-micros over two pre-quantized BIGINT list expressions —
    the same expression tree as similarity.cosine_micros (integer dot/norm
    sums, float only in the final sqrt/divide)."""
    return (
        f"CAST(round(1e6 * CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])) AS DOUBLE)"
        f" / (sqrt(CAST(list_sum(list_transform({a}, x -> x * x)) AS DOUBLE))"
        f" * sqrt(CAST(list_sum(list_transform({b}, x -> x * x)) AS DOUBLE)))) AS BIGINT)"
    )


_QUANT_EMB = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"


def _sig_sql(vec_expr: str, n_planes: int, dim: int = 64) -> str:
    """Hyperplane LSH signature over a pre-quantized BIGINT list — the
    integer plane components are compile-time literals (functions/planes.py),
    so the sign of every plane dot is an exact integer comparison identical
    to the Spark/numpy side."""
    from searchengine_spark.functions.planes import plane_ints

    parts = []
    for comps in plane_ints(n_planes, dim):
        lit = "[" + ", ".join(str(c) for c in comps) + "]::BIGINT[]"
        parts.append(
            f"(CASE WHEN list_sum(list_transform(list_zip({vec_expr}, {lit}),"
            f" p -> p[1] * p[2])) > 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(parts)


def ann_lsh_sql(
    n_queries: int = 8,
    k: int = 5,
    n_planes: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
) -> str:
    """Exact replica of similarity.ann_lsh_topk: integer hyperplane
    signatures → banded (OR-amplified) candidates → integer-cosine rerank."""
    n_bands = n_planes // rows_per_band
    return f"""
WITH qe AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
sig AS (SELECT vec_id, v, {_sig_sql('v', n_planes, dim)} AS s FROM qe),
bands AS (
  SELECT vec_id, b.range AS band_id,
         substr(s, (b.range * {rows_per_band} + 1)::INT, {rows_per_band}) AS band_key
  FROM sig CROSS JOIN range({n_bands}) b
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bands q JOIN bands c
    ON q.band_id = c.band_id AND q.band_key = c.band_key
  WHERE q.vec_id < {n_queries} AND c.vec_id <> q.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_cos_micros_sql('qv.v', 'cv.v')} AS cosine_micros
  FROM cand
  JOIN qe qv ON qv.vec_id = cand.query_id
  JOIN qe cv ON cv.vec_id = cand.neighbor_id
)
SELECT query_id, rank, neighbor_id, cosine_micros FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_micros DESC, neighbor_id ASC)::INT AS rank
  FROM scored
) WHERE rank <= {k}
"""


def ann_lsh_multiprobe_sql(
    n_queries: int = 8,
    k: int = 5,
    n_planes: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
) -> str:
    """Twin of similarity.ann_lsh_multiprobe_topk: the query side probes its
    band key plus every Hamming-1 neighbor key."""
    n_bands = n_planes // rows_per_band
    return f"""
WITH qe AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
sig AS (SELECT vec_id, v, {_sig_sql('v', n_planes, dim)} AS s FROM qe),
bands AS (
  SELECT vec_id, b.range AS band_id,
         substr(s, (b.range * {rows_per_band} + 1)::INT, {rows_per_band}) AS band_key
  FROM sig CROSS JOIN range({n_bands}) b
),
qprobes AS (
  SELECT vec_id AS query_id, band_id, band_key
  FROM bands WHERE vec_id < {n_queries}
  UNION ALL
  SELECT vec_id, band_id,
         substr(band_key, 1, f.range::INT)
         || (CASE WHEN substr(band_key, (f.range + 1)::INT, 1) = '1'
                  THEN '0' ELSE '1' END)
         || substr(band_key, (f.range + 2)::INT)
  FROM bands CROSS JOIN range({rows_per_band}) f
  WHERE vec_id < {n_queries}
),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qprobes q JOIN bands c
    ON q.band_id = c.band_id AND q.band_key = c.band_key
  WHERE c.vec_id <> q.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_cos_micros_sql('qv.v', 'cv.v')} AS cosine_micros
  FROM cand
  JOIN qe qv ON qv.vec_id = cand.query_id
  JOIN qe cv ON cv.vec_id = cand.neighbor_id
)
SELECT query_id, rank, neighbor_id, cosine_micros FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_micros DESC, neighbor_id ASC)::INT AS rank
  FROM scored
) WHERE rank <= {k}
"""


def embedding_cosine_dups_sql(
    threshold_micros: int = 900_000,
    exact: bool = False,
    n_planes: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
) -> str:
    """Default: the banded-LSH candidate path (dedup.embedding_cosine_dups'
    scale-safe default) reproduced exactly — signatures, band split,
    bucket join, integer-cosine verify. ``exact=True`` is the all-pairs
    small-scale twin."""
    if exact:
        return f"""
WITH qe AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_cos_micros_sql('a.v', 'b.v')} AS cosine_micros
  FROM qe a JOIN qe b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_micros FROM scored
WHERE cosine_micros >= {threshold_micros}
"""
    n_bands = n_planes // rows_per_band
    return f"""
WITH qe AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
sig AS (SELECT vec_id, v, {_sig_sql('v', n_planes, dim)} AS s FROM qe),
bands AS (
  SELECT vec_id, b.range AS band_id,
         substr(s, (b.range * {rows_per_band} + 1)::INT, {rows_per_band}) AS band_key
  FROM sig CROSS JOIN range({n_bands}) b
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM bands a JOIN bands b2
    ON a.band_id = b2.band_id AND a.band_key = b2.band_key AND a.vec_id < b2.vec_id
),
scored AS (
  SELECT id_a, id_b, {_cos_micros_sql('va.v', 'vb.v')} AS cosine_micros
  FROM cand JOIN qe va ON va.vec_id = id_a JOIN qe vb ON vb.vec_id = id_b
)
SELECT id_a, id_b, cosine_micros FROM scored
WHERE cosine_micros >= {threshold_micros}
"""


def ann_pq_sql(
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    centroid_stride: int = 16,
    m: int = 8,
    dim: int = 64,
) -> str:
    """Twin of similarity.ann_pq_topk: product quantization with asymmetric
    distance, all in exact int64 (quantized micros, squared-L2), ties on
    (distance, index/id) — bit-identical to the numpy path."""
    sub = dim // m
    limit = n_centroids * centroid_stride
    return f"""
WITH qv AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
cent AS (
  SELECT (vec_id // {centroid_stride})::INT AS j, v
  FROM qv WHERE vec_id % {centroid_stride} = 0 AND vec_id < {limit}
),
subsp AS (SELECT r.range::INT AS s FROM range({m}) r),
csub AS (SELECT j, s, v[s*{sub}+1 : s*{sub}+{sub}] AS cv FROM cent, subsp),
vsub AS (SELECT vec_id, s, v[s*{sub}+1 : s*{sub}+{sub}] AS vv FROM qv, subsp),
dist AS (
  SELECT vsub.vec_id, vsub.s, csub.j,
         CAST(list_sum(list_transform(list_zip(vv, cv),
                                      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
  FROM vsub JOIN csub ON vsub.s = csub.s
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
    FROM dist
  ) WHERE rn = 1
),
adc AS (
  SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id, sum(qd.d)::BIGINT AS adc_dist
  FROM codes c
  JOIN dist qd ON qd.s = c.s AND qd.j = c.code
  WHERE qd.vec_id < {n_queries} AND c.vec_id <> qd.vec_id
  GROUP BY 1, 2
)
SELECT query_id, rank, neighbor_id, adc_dist FROM (
  SELECT query_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist ASC, neighbor_id ASC) AS INT) AS rank,
         neighbor_id, adc_dist
  FROM adc
) WHERE rank <= {k}
"""


def kmeans_sql(k: int = 4, iterations: int = 2) -> str:
    """Unrolled twin of similarity.kmeans_centroids (the HITS pattern): per
    iteration, integer-cosine argmax assignment (ties → smallest cid) and a
    half-away-from-zero pure-integer mean update; empty clusters keep the
    previous centroid."""
    parts = [
        f"""qv AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
vrows AS (SELECT vec_id, generate_subscripts(v, 1)::INT - 1 AS i, unnest(v) AS val
          FROM qv),
vn AS (SELECT vec_id, sum(val * val) AS n2 FROM vrows GROUP BY 1),
c0 AS (SELECT vec_id::INT AS cid, generate_subscripts(v, 1)::INT - 1 AS i,
              unnest(v)::BIGINT AS val
       FROM qv WHERE vec_id < {k})"""
    ]
    for t in range(iterations):
        c, cn, dot = f"c{t}", f"cn{t}", f"dot{t}"
        asg, su, nc = f"asg{t}", f"sums{t}", f"c{t + 1}"
        parts.append(
            f"""{cn} AS (SELECT cid, sum(val * val) AS n2 FROM {c} GROUP BY 1),
{dot} AS (
  SELECT v.vec_id, c.cid, sum(v.val * c.val) AS d
  FROM vrows v JOIN {c} c ON v.i = c.i GROUP BY 1, 2
),
{asg} AS (
  SELECT vec_id, cid FROM (
    SELECT {dot}.vec_id, {dot}.cid,
           row_number() OVER (
             PARTITION BY {dot}.vec_id
             ORDER BY CAST(round(1e6 * {dot}.d::DOUBLE
                        / (sqrt(vn.n2::DOUBLE) * sqrt({cn}.n2::DOUBLE))) AS BIGINT)
                      DESC, {dot}.cid ASC) AS rn
    FROM {dot}
    JOIN vn ON {dot}.vec_id = vn.vec_id
    JOIN {cn} ON {dot}.cid = {cn}.cid
  ) WHERE rn = 1
),
{su} AS (
  SELECT a.cid, v.i, sum(v.val)::BIGINT AS s, count(*)::BIGINT AS n
  FROM {asg} a JOIN vrows v ON a.vec_id = v.vec_id GROUP BY 1, 2
),
{nc} AS (
  SELECT c.cid, c.i,
         CASE WHEN s.n IS NULL THEN c.val
              WHEN s.s >= 0 THEN (2 * s.s + s.n) // (2 * s.n)
              ELSE -((2 * (-s.s) + s.n) // (2 * s.n))
         END AS val
  FROM {c} c LEFT JOIN {su} s ON c.cid = s.cid AND c.i = s.i
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT cid, i, val::BIGINT AS val FROM c{iterations}"
    )


def ann_ivf_kmeans_sql(
    n_queries: int = 8,
    k: int = 5,
    n_clusters: int = 4,
    iterations: int = 2,
    nprobe: int = 2,
) -> str:
    """Twin of similarity.ann_ivf_kmeans_topk: the k-means oracle embedded
    verbatim as the centroid source, integer-cosine assignment/probing, and
    the shared quantized-cosine rerank inside the probed cells."""
    qq = _cos_micros_sql("q.v", "c.v")
    return f"""
WITH cents AS (SELECT cid, i, val FROM ({kmeans_sql(n_clusters, iterations)})),
qv AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
vrows AS (SELECT vec_id, generate_subscripts(v, 1)::INT - 1 AS i, unnest(v) AS val
          FROM qv),
vn AS (SELECT vec_id, sum(val * val) AS n2 FROM vrows GROUP BY 1),
cn AS (SELECT cid, sum(val * val) AS n2 FROM cents GROUP BY 1),
dotc AS (
  SELECT v.vec_id, c.cid, sum(v.val * c.val) AS d
  FROM vrows v JOIN cents c ON v.i = c.i GROUP BY 1, 2
),
cm AS (
  SELECT dotc.vec_id, dotc.cid,
         CAST(round(1e6 * dotc.d::DOUBLE
              / (sqrt(vn.n2::DOUBLE) * sqrt(cn.n2::DOUBLE))) AS BIGINT) AS cm
  FROM dotc JOIN vn ON dotc.vec_id = vn.vec_id JOIN cn ON dotc.cid = cn.cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cm DESC, cid ASC) AS rn
    FROM cm
  ) WHERE rn = 1
),
probed AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cm DESC, cid ASC) AS rn
    FROM cm WHERE vec_id < {n_queries}
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probed p JOIN assign a ON p.cell = a.cell
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id, {qq} AS cosine_micros
  FROM cand
  JOIN qv q ON q.vec_id = cand.query_id
  JOIN qv c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, rank, neighbor_id, cosine_micros FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_micros DESC, neighbor_id ASC)::INT AS rank
  FROM scored
) WHERE rank <= {k}
"""


def ann_ivf_sql(
    n_queries: int = 8, k: int = 5, centroid_stride: int = 64, nprobe: int = 2
) -> str:
    return f"""
WITH qe AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM qe WHERE vec_id % {centroid_stride} = 0),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_micros_sql('e.v', 'c.cv')} DESC, c.cell ASC) AS rn
    FROM qe e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM qe WHERE vec_id < {n_queries}),
probed AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_micros_sql('q.qv', 'c.cv')} DESC, c.cell ASC) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_cos_micros_sql('p.qv', 'a.v')} AS cosine_micros
  FROM assign a JOIN probed p ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, rank, neighbor_id, cosine_micros FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_micros DESC, neighbor_id ASC)::INT AS rank
  FROM scored
) WHERE rank <= {k}
"""


def compat_topk_sql(terms: list[str], query: str, k: int = 10) -> str:
    """DuckDB twin of serve.compat_topk / query.search_compat — the
    reference's Ranker.java:74-97 formula:

        0.4·tfidfSum/maxTfIdf + 0.3·pr/maxPr
        + 0.7·titleMatches/|Query_Words| + min(headerScore, 0.45)

    Float-exactness: the Spark side folds per-term doubles in term-sorted
    order starting from 0.0; here the fold is an explicit left-associated
    pivot sum over the sorted term list with ``coalesce(x, 0.0)`` for absent
    terms — adding +0.0 is IEEE-exact, so both folds produce bit-identical
    doubles. PageRank comes from the exact-integer twin (integer-valued
    doubles), and the final score is rounded to bigint micros.

    ``query`` must tokenize to ``terms`` unchanged (Porter-fixed words).
    Query_Words comes from the reference's broken Q3 split (for a plain
    multi-word query that is the single whole lowered string), computed here
    by the same python function the Spark side uses.
    """
    from searchengine_spark.functions.textproc import query_words

    ts = sorted(set(terms))
    in_list = ", ".join(f"'{t}'" for t in ts)
    qws = [w.lower().replace("'", "''") for w in query_words(query)]
    tm_expr = " + ".join(
        f"(CASE WHEN contains(lower(dx.title), '{w}') THEN 1 ELSE 0 END)" for w in qws
    )
    qw_div = repr(float(len(qws)))

    def _fold(col: str) -> str:
        expr = "0.0"
        for t in ts:
            expr = f"({expr} + coalesce(max(CASE WHEN term = '{t}' THEN {col} END), 0.0))"
        return expr

    pr_cte = pagerank_integer_sql_import()
    return f"""
WITH toksc AS (
  SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t FROM documents
),
posc AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos FROM toksc
),
dlsc AS (
  SELECT doc_id, len(list_filter(t, x -> x <> ''))::BIGINT AS dl FROM toksc
),
nq AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
postq AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf, min(pos)::BIGINT AS minpos
  FROM posc WHERE term IN ({in_list}) GROUP BY 1, 2
),
lexq AS (SELECT term, count(*)::BIGINT AS df FROM postq GROUP BY 1),
prq AS (SELECT doc_id, rank_scaled FROM ({pr_cte}) AS _p),
docsx AS (
  SELECT doc_id,
         'doc://' || source || '/' || doc_id::VARCHAR AS url,
         substr(text, 1, 48) AS title
  FROM documents
),
rows_ AS (
  SELECT p.doc_id, p.term,
         (CAST(p.tf AS DOUBLE) / CAST(d.dl AS DOUBLE)) * ln(nq.n_docs / (lexq.df + 1.0)) AS tfidf,
         (CASE WHEN p.minpos < 5 THEN 0.45
               WHEN p.minpos < 15 THEN 0.25
               WHEN p.minpos < 30 THEN 0.1 ELSE 0.0 END) AS hdr,
         ({tm_expr}) AS tm
  FROM postq p
  JOIN dlsc d USING (doc_id)
  JOIN lexq USING (term)
  JOIN docsx dx USING (doc_id)
  CROSS JOIN nq
),
per_doc AS (
  SELECT doc_id,
         {_fold('tfidf')} AS tfidf_sum,
         {_fold('hdr')} AS header_score,
         sum(tm)::BIGINT AS title_matches
  FROM rows_ GROUP BY doc_id
),
per_doc_pr AS (
  SELECT pd.*, dx.url, dx.title,
         CAST(coalesce(pr.rank_scaled, 0) AS DOUBLE) AS pr
  FROM per_doc pd
  JOIN docsx dx USING (doc_id)
  LEFT JOIN prq pr USING (doc_id)
),
mx AS (SELECT max(tfidf_sum) AS mt, max(pr) AS mp FROM per_doc_pr),
scored AS (
  SELECT doc_id, url, title,
         (((0.4 * (CASE WHEN mt <> 0.0 THEN tfidf_sum / mt ELSE 0.0 END))
           + (0.3 * (CASE WHEN mp <> 0.0 THEN pr / mp ELSE 0.0 END)))
          + (0.7 * (CAST(title_matches AS DOUBLE) / {qw_div})))
         + least(header_score, 0.45) AS score
  FROM per_doc_pr CROSS JOIN mx
)
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank,
       doc_id, url, title,
       CAST(round(score * 1e6) AS BIGINT) AS score_micros
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def pagerank_integer_sql_import() -> str:
    from searchengine_spark.operators.graph_demo import pagerank_integer_sql

    return pagerank_integer_sql(iterations=5)


def prefix_suggest_sql(prefix: str, k: int = 5) -> str:
    # starts_with (not LIKE): the Spark side is a literal startswith, so
    # LIKE metacharacters in the prefix must not act as wildcards
    p = prefix.replace("'", "''")
    return f"""
WITH {_TOKENS_CTE}
SELECT term, count(*)::BIGINT AS n
FROM terms WHERE starts_with(term, '{p}')
GROUP BY term ORDER BY n DESC, term ASC LIMIT {k}
"""


def substring_search_sql(needle: str) -> str:
    """Twin of textstats.substring_search: trigram prefilter (equivalent by
    construction — it only removes docs LACKING a needle trigram) + exact
    1-based strpos verify."""
    tl = needle.lower().replace("'", "''")
    tris = sorted({tl[i : i + 3] for i in range(len(tl) - 2)})
    tri_filter = ""
    if tris:
        lit = "[" + ", ".join(f"'{g}'" for g in tris) + "]"
        tri_filter = f"""
  AND length(t) >= 3
  AND len(list_intersect(list_distinct(
        list_transform(range(1, length(t) - 1), i -> substr(t, i, 3))), {lit}))
      = {len(tris)}"""
    return f"""
WITH b AS (SELECT doc_id, lower(text) AS t FROM documents WHERE TRUE{tri_filter})
SELECT doc_id, strpos(t, '{tl}')::BIGINT AS first_pos
FROM b WHERE strpos(t, '{tl}') > 0
"""


def regex_search_sql(pattern: str) -> str:
    """Twin of textstats.regex_search: literal-alternation trigram
    prefilter (equivalent by construction) + regexp count verify."""
    pl = pattern.lower().replace("'", "''")
    import re as _re

    alts = pattern.lower().split("|")
    tri_filter = ""
    if all(_re.fullmatch(r"[a-z0-9 ]+", a) for a in alts):
        branches = []
        for a in alts:
            tris = sorted({a[i : i + 3] for i in range(len(a) - 2)})
            if not tris:
                branches = []
                break
            lit = "[" + ", ".join(f"'{g}'" for g in tris) + "]"
            branches.append(
                f"len(list_intersect(list_distinct("
                f"list_transform(range(1, length(t) - 1), i -> substr(t, i, 3))), {lit}))"
                f" = {len(tris)}"
            )
        if branches:
            tri_filter = f"\n  AND length(t) >= 3 AND ({' OR '.join(branches)})"
    return f"""
WITH b AS (SELECT doc_id, lower(text) AS t FROM documents WHERE TRUE{tri_filter})
SELECT doc_id, len(regexp_extract_all(t, '{pl}'))::BIGINT AS n_matches
FROM b WHERE len(regexp_extract_all(t, '{pl}')) > 0
"""


def wildcard_search_sql(prefix: str) -> str:
    """Union-of-terms wildcard (`prefix*`) twin of serve.wildcard_search."""
    return f"""
WITH {_TOKENS_CTE}
SELECT doc_id, count(*)::BIGINT AS n_terms, sum(tf)::BIGINT AS total_tf
FROM post WHERE term LIKE '{prefix}%' GROUP BY doc_id
"""


def search_results_sql(terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """Result-assembly oracle (operators/results.py::search_results): BM25
    top-k re-ranked into the reference's response shape
    ``(rank, doc_id, term, url, title, snippet, score_micros)`` — snippet is
    the 60-word window centered on the FIRST word matching the doc's last
    (max) matched query term, bolded/ellipsized exactly as
    Indexer.getCenteredTermSnippets does, under the simple-tokenizer word
    match (a raw word matches iff the term is in its token split)."""
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
q AS (SELECT DISTINCT term FROM {_terms_values(terms)}),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n
  WHERE lex.term IN (SELECT term FROM q)
),
scored AS (
  SELECT post.doc_id,
         CAST(round(idf.idf_bm25 * (post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl))
                    * 1e6) AS BIGINT) AS c_micros
  FROM post
  JOIN q ON post.term = q.term
  JOIN idf ON post.term = idf.term
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
),
topk AS (
  SELECT doc_id, sum(c_micros)::BIGINT AS score_micros
  FROM scored GROUP BY doc_id
  ORDER BY score_micros DESC, doc_id ASC
  LIMIT {k}
),
lastterm AS (
  SELECT post.doc_id, max(post.term) AS term
  FROM post
  JOIN q ON post.term = q.term
  JOIN topk ON post.doc_id = topk.doc_id
  GROUP BY post.doc_id
),
words AS (
  SELECT d.doc_id, string_split_regex(d.text, '{_JAVA_WS_RE}') AS w
  FROM documents d JOIN topk USING (doc_id)
),
wordpos AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS idx
  FROM words
),
matchpos AS (
  SELECT wp.doc_id, lt.term, min(wp.idx) AS i
  FROM wordpos wp JOIN lastterm lt USING (doc_id)
  WHERE list_contains(string_split_regex(lower(wp.word), '{TOKEN_SPLIT_RE}'),
                      lt.term)
  GROUP BY wp.doc_id, lt.term
),
win AS (
  SELECT mp.doc_id, mp.term,
         len(w.w) AS n_words,
         greatest(0, least(len(w.w), greatest(0, mp.i - 30) + 60) - 60) AS s,
         least(len(w.w), greatest(0, mp.i - 30) + 60) AS e
  FROM matchpos mp JOIN words w USING (doc_id)
),
snip AS (
  SELECT w.doc_id, win.term, win.s, win.e, win.n_words,
         array_to_string(
           list_transform(
             w.w[win.s + 1 : win.e],
             x -> CASE WHEN list_contains(
                          string_split_regex(lower(x), '{TOKEN_SPLIT_RE}'),
                          win.term)
                       THEN '<b>' || x || '</b>' ELSE x END),
           ' ') AS body
  FROM words w JOIN win USING (doc_id)
)
SELECT row_number() OVER (ORDER BY t.score_micros DESC, t.doc_id ASC) AS rank,
       t.doc_id,
       snip.term,
       'doc://' || d.source || '/' || t.doc_id AS url,
       substring(d.text, 1, 48) AS title,
       (CASE WHEN snip.s > 0 THEN '... ' ELSE '' END)
         || snip.body
         || (CASE WHEN snip.e < snip.n_words THEN ' ...' ELSE '' END) AS snippet,
       t.score_micros
FROM topk t
JOIN snip USING (doc_id)
JOIN documents d USING (doc_id)
"""


def percolate_matches_sql(queries: dict[str, list[str]]) -> str:
    """Twin of textstats.percolate_matches: conjunctive stored-query match
    over the incoming docs' distinct token sets."""
    esc = lambda s: s.replace("'", "''")
    pairs = ", ".join(
        f"('{esc(qid)}', '{esc(t)}')"
        for qid, terms in sorted(queries.items())
        for t in dict.fromkeys(terms)
    )
    return f"""
WITH {_TOKENS_CTE},
qmap(query_id, term) AS (VALUES {pairs}),
nreq AS (SELECT query_id, count(*)::BIGINT AS n_req FROM qmap GROUP BY 1),
dt AS (SELECT DISTINCT doc_id, term FROM terms),
hits AS (
  SELECT dt.doc_id, qmap.query_id, count(*)::BIGINT AS n_hit
  FROM dt JOIN qmap USING (term) GROUP BY 1, 2
)
SELECT hits.doc_id, hits.query_id
FROM hits JOIN nreq USING (query_id)
WHERE hits.n_hit = nreq.n_req
"""


def decontaminate_sql(n: int = 5, bench_mod: int = 17, bench_rem: int = 3) -> str:
    """Twin of dedup.decontaminate: distinct token n-gram overlap between
    each training doc and the deterministic benchmark slice."""
    return f"""
WITH {_shingles_cte(n)},
bench AS (
  SELECT DISTINCT shingle FROM shingles WHERE doc_id % {bench_mod} = {bench_rem}
)
SELECT s.doc_id, count(*)::BIGINT AS n_hit_shingles
FROM shingles s JOIN bench USING (shingle)
WHERE s.doc_id % {bench_mod} <> {bench_rem}
GROUP BY 1
"""


def dedup_clusters_sql(n_perms: int = 16, rows_per_band: int = 8) -> str:
    """Twin of components.dedup_clusters: recursive reachability over the
    symmetrized MinHash-LSH candidate pairs, component = min reachable id.
    The Spark side computes the same fixpoint by min-label propagation —
    both are exact integer results."""
    return f"""
WITH RECURSIVE {_TOKHASH_CTE},
perms(perm_id, a, b) AS (VALUES {_perms_values(n_perms)}),
sig AS (
  SELECT tok.doc_id, perms.perm_id,
         min((perms.a * tok.x + perms.b) % {MERSENNE31})::BIGINT AS minhash
  FROM tok CROSS JOIN perms GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, (perm_id // {rows_per_band})::INT AS band_id,
         string_agg(minhash::VARCHAR, ',' ORDER BY perm_id) AS band_key
  FROM sig GROUP BY 1, 2
),
edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sym AS (
  SELECT doc_a, doc_b FROM edges
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM edges
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, s.doc_b FROM reach JOIN sym s ON s.doc_a = reach.r
)
SELECT id AS doc_id, min(r)::BIGINT AS component_id FROM reach GROUP BY 1
"""


def exact_substring_spans_sql(window: int = 16, min_docs: int = 2) -> str:
    """Twin of dedup.exact_substring_spans: stride-1 window fingerprints,
    cross-doc duplicate filter, gaps-and-islands span merge. DuckDB
    ``range`` is end-exclusive (positions 1..len-W+1 → range(1, len-W+2))
    and list slicing ``t[a:b]`` is 1-based inclusive (== F.slice)."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                     x -> x <> '') AS t
  FROM documents
),
wins AS (
  SELECT doc_id, pos::BIGINT AS pos,
         md5(array_to_string(t[pos:pos + {window - 1}], ' ')) AS fp
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {window} + 2)) AS pos
        FROM toks WHERE len(t) >= {window})
),
dups AS (
  SELECT fp FROM wins GROUP BY fp HAVING count(DISTINCT doc_id) >= {min_docs}
),
hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN dups USING (fp)),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM hits
)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) + {window - 1})::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM runs GROUP BY doc_id, rid
"""


def dedup_survivors_sql(n_perms: int = 16, rows_per_band: int = 8) -> str:
    """Twin of components.dedup_survivors: one aggregate over the clusters
    gate's SQL, embedded verbatim."""
    return f"""
SELECT component_id AS doc_id, count(*)::BIGINT AS cluster_size
FROM ({dedup_clusters_sql(n_perms, rows_per_band)})
GROUP BY component_id
"""


def cluster_cap_sample_sql(
    max_per_cluster: int = 2, n_perms: int = 16, rows_per_band: int = 8
) -> str:
    """Twin of components.cluster_cap_sample: row_number by ascending id
    within each cluster of the clusters gate's SQL, capped."""
    return f"""
SELECT doc_id, component_id, rank FROM (
  SELECT doc_id, component_id,
         row_number() OVER (PARTITION BY component_id ORDER BY doc_id)::INT AS rank
  FROM ({dedup_clusters_sql(n_perms, rows_per_band)})
) WHERE rank <= {max_per_cluster}
"""


def strip_html_sql() -> str:
    """Twin of textstats.strip_html: the same synthesized HTML wrapping and
    the same ``<[^>]*>`` strip (regexp_replace needs the 'g' flag — DuckDB
    defaults to first-match, Spark to global)."""
    return """
WITH h AS (
  SELECT doc_id,
         '<html><body><p id="' || doc_id::VARCHAR || '">'
           || replace(text, ' ', '</p> <p>') || '</p></body></html>' AS html
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(html, '<[^>]*>', '', 'g')) AS stripped_md5,
       CAST(length(html) - length(regexp_replace(html, '<[^>]*>', '', 'g'))
            AS BIGINT) AS n_tag_chars
FROM h
"""


def fetch_pages_sql(n_hosts: int = 7) -> str:
    """Twin of fetch.fetch_pages(deterministic_fake=True) over
    fetch.synth_urls: fake content = md5(url) wrapped in the html shell,
    sha256 over the same string (DuckDB sha256/md5 take VARCHAR and return
    lowercase hex — same as hashlib hexdigest)."""
    return f"""
WITH u AS (
  SELECT 'http://host' || (doc_id % {n_hosts})::VARCHAR || '.example/'
           || doc_id::VARCHAR AS url
  FROM documents
)
SELECT url,
       200 AS status,
       '<html><body>' || md5(url) || '</body></html>' AS content,
       sha256('<html><body>' || md5(url) || '</body></html>') AS content_sha256
FROM u
"""


def fuzzy_suggest_sql(word: str, k: int = 5) -> str:
    """Brute-force twin of serve.fuzzy_suggest: the oracle scans the whole
    vocabulary with levenshtein() (O(|V|) — fine for an oracle), while the
    Spark side must produce the identical set via the SymSpell deletion-key
    join. A signature/key bug on the scalable path fails the hash."""
    w = word.lower().replace("'", "''")
    return f"""
WITH {_TOKENS_CTE},
lex AS (SELECT term, count(*)::BIGINT AS n FROM terms GROUP BY 1)
SELECT term, levenshtein(term, '{w}')::INT AS dist, n
FROM lex
WHERE levenshtein(term, '{w}') <= 1
ORDER BY dist ASC, n DESC, term ASC
LIMIT {k}
"""


def pmi_top_pairs_sql(k: int = 20, min_count: int = 5) -> str:
    return f"""
WITH toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos FROM toksarr
),
tok AS (SELECT doc_id, term, pos FROM pos WHERE term <> ''),
uni AS (SELECT term, count(*)::BIGINT AS c1 FROM tok GROUP BY 1),
bi AS (
  SELECT a.term AS t0, b.term AS t1, count(*)::BIGINT AS cxy
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
n1 AS (SELECT count(*)::DOUBLE AS v FROM tok),
n2 AS (SELECT sum(cxy)::DOUBLE AS v FROM bi)
SELECT t0 || ' ' || t1 AS bigram, cxy AS n,
       CAST(round(ln((cxy::DOUBLE * n1.v * n1.v)
                     / (n2.v * ua.c1::DOUBLE * ub.c1::DOUBLE)) * 1e6) AS BIGINT)
         AS pmi_micros
FROM bi
JOIN uni ua ON ua.term = bi.t0
JOIN uni ub ON ub.term = bi.t1
CROSS JOIN n1 CROSS JOIN n2
WHERE cxy >= {min_count}
ORDER BY pmi_micros DESC, bigram ASC
LIMIT {k}
"""


def bm25_batch_topk_sql(
    queries: dict[str, list[str]], k: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """Per-query replica of bm25_topk_sql over a (query_id, term) VALUES map
    — the single-query scoring expression verbatim, grouped by query_id,
    top-k'd with a per-query row_number window."""
    esc = lambda s: s.replace("'", "''")
    pairs = ", ".join(
        f"('{esc(qid)}', '{esc(t)}')"
        for qid, terms in sorted(queries.items())
        for t in dict.fromkeys(terms)
    )
    if not pairs:  # empty query set: the Spark side returns an empty frame
        return (
            "SELECT '' AS query_id, 0::INT AS rank, 0::BIGINT AS doc_id,"
            " 0::BIGINT AS score_micros WHERE FALSE"
        )
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
qmap(query_id, term) AS (VALUES {pairs}),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n
  WHERE lex.term IN (SELECT term FROM qmap)
),
scored AS (
  SELECT qmap.query_id, post.doc_id,
         CAST(round(idf.idf_bm25 * (post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl))
                    * 1e6) AS BIGINT) AS c_micros
  FROM post
  JOIN qmap ON post.term = qmap.term
  JOIN idf ON post.term = idf.term
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
),
agg AS (
  SELECT query_id, doc_id, sum(c_micros)::BIGINT AS score_micros
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT query_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_micros DESC, doc_id ASC) AS INT)
           AS rank,
         doc_id, score_micros
  FROM agg
)
SELECT query_id, rank, doc_id, score_micros FROM ranked WHERE rank <= {k}
"""


def doc_keywords_sql(k: int = 3) -> str:
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
lex AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1),
idf AS (SELECT lex.term, ln(n.n_docs / (lex.df + 1.0)) AS idf_compat FROM lex, n),
scored AS (
  SELECT post.doc_id, post.term,
         CAST(round((post.tf::DOUBLE / dls.dl::DOUBLE) * idf.idf_compat * 1e6)
              AS BIGINT) AS tfidf_micros
  FROM post
  JOIN idf ON post.term = idf.term
  JOIN dls ON post.doc_id = dls.doc_id
),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf_micros DESC, term ASC) AS INT)
           AS rank,
         term, tfidf_micros
  FROM scored
)
SELECT doc_id, rank, term, tfidf_micros FROM ranked WHERE rank <= {k}
"""


def host_stats_sql(n_hosts: int = 7) -> str:
    return f"""
SELECT 'host' || (doc_id % {n_hosts})::VARCHAR AS host,
       count(*)::BIGINT AS n_pages,
       sum(length(text))::BIGINT AS total_text_chars,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT source)::BIGINT AS n_sources
FROM documents GROUP BY 1
"""


def proximity_match_sql(term_a: str, term_b: str, slop: int = 3) -> str:
    """Docs where term_a and term_b occur within ``slop`` raw-split
    positions; min_dist computed over all position pairs (the same
    all-pairs-within-doc contract as the Spark nested-transform)."""
    a = term_a.replace("'", "''")
    b = term_b.replace("'", "''")
    return f"""
WITH toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toksarr
),
pa AS (SELECT doc_id, list(pos) AS ps FROM pos WHERE term = '{a}' GROUP BY 1),
pb AS (SELECT doc_id, list(pos) AS ps FROM pos WHERE term = '{b}' GROUP BY 1)
SELECT pa.doc_id,
       list_min(flatten(list_transform(pa.ps,
                x -> list_transform(pb.ps, y -> abs(x - y)))))::BIGINT AS min_dist
FROM pa JOIN pb USING (doc_id)
WHERE list_min(flatten(list_transform(pa.ps,
          x -> list_transform(pb.ps, y -> abs(x - y))))) <= {slop}
"""


def ordered_proximity_sql(term_a: str, term_b: str, slop: int = 3) -> str:
    """Twin of serve.ordered_proximity_match: min positive gap pb - pa."""
    a = term_a.replace("'", "''")
    b = term_b.replace("'", "''")
    return f"""
WITH toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toksarr
),
pa AS (SELECT doc_id, list(pos) AS ps FROM pos WHERE term = '{a}' GROUP BY 1),
pb AS (SELECT doc_id, list(pos) AS ps FROM pos WHERE term = '{b}' GROUP BY 1),
g AS (
  SELECT pa.doc_id,
         list_min(list_filter(flatten(list_transform(pa.ps,
                  x -> list_transform(pb.ps, y -> y - x))), v -> v >= 1))::BIGINT
           AS min_gap
  FROM pa JOIN pb USING (doc_id)
)
SELECT doc_id, min_gap FROM g WHERE min_gap <= {slop}
"""


def synonym_bm25_sql(groups: dict[str, list[str]], k: int = 10,
                     k1: float = 1.2, b: float = 0.75) -> str:
    """Twin of serve.synonym_bm25_topk: macro-term tf sums, group df → idf,
    the shared contribution expression tree, bigint-micros fold."""
    pairs = ", ".join(
        f"('{t}', '{g}')" for g, ts in sorted(groups.items()) for t in sorted(set(ts))
    )
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
gm(term, grp) AS (VALUES {pairs}),
gp AS (
  SELECT gm.grp, post.doc_id, sum(post.tf)::BIGINT AS tf, max(dls.dl) AS dl
  FROM post JOIN gm ON post.term = gm.term
  JOIN dls ON post.doc_id = dls.doc_id
  GROUP BY 1, 2
),
glex AS (
  SELECT grp, ln(1.0 + (n.n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf_bm25
  FROM gp, n GROUP BY grp, n.n_docs
),
scored AS (
  SELECT gp.doc_id,
         CAST(round(glex.idf_bm25 * (gp.tf * {k1 + 1.0})
                    / (gp.tf + {k1} * (1.0 - {b} + {b} * gp.dl / avg_dl.avgdl))
                    * 1e6) AS BIGINT) AS c_micros
  FROM gp JOIN glex ON gp.grp = glex.grp CROSS JOIN avg_dl
)
SELECT doc_id, sum(c_micros)::BIGINT AS score_micros
FROM scored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def next_word_suggest_sql(word: str, k: int = 5) -> str:
    w = word.replace("'", "''")
    return f"""
WITH toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos FROM toksarr
)
SELECT b.term AS term, count(*)::BIGINT AS n
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = '{w}' AND b.term <> ''
GROUP BY 1 ORDER BY n DESC, term ASC LIMIT {k}
"""


# snapshot B of the recrawl gates, synthesized from `documents` with the
# doc_id%10 rules (3 removed, 5 changed, 7 re-added under +1e9) — shared by
# crawl_delta_sql and incremental_reindex_sql; the Spark side synthesizes
# the identical frame (__spark_entry__._snapshot_b)
_SNAPSHOT_B_CTE = """neu AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 5 THEN text || ' updated' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 3
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 7
)"""


def crawl_delta_sql() -> str:
    """Twin of the crawl_delta gate: snapshot B synthesized with the same
    doc_id%10 rules (3 removed, 5 changed, 7 re-added under +1e9)."""
    return f"""
WITH old AS (SELECT doc_id, text FROM documents),
{_SNAPSHOT_B_CTE},
o AS (SELECT doc_id, md5(text) AS m FROM old),
n AS (SELECT doc_id, md5(text) AS m FROM neu)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.m = n.m THEN 'same'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def incremental_reindex_sql() -> str:
    """Twin of the incremental_reindex gate: the postings of a FULL rebuild
    of snapshot B — the incremental path (tombstone-delete + delta encode +
    merge) must decode to exactly this."""
    return f"""
WITH {_SNAPSHOT_B_CTE},
toks AS (SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t FROM neu),
terms AS (SELECT doc_id, unnest(t) AS term FROM toks)
SELECT term, doc_id, count(*)::BIGINT AS tf
FROM terms WHERE term <> '' GROUP BY 1, 2
"""


def frontier_bfs_sql(seed_below: int = 5, max_depth: int = 4) -> str:
    """Twin of fetch.frontier_bfs over the synthetic edge graph: min-depth
    reachability via a depth-bounded recursive CTE (shares _EDGES_SQL with
    the PageRank/HITS twins)."""
    from searchengine_spark.operators.graph_demo import _EDGES_SQL

    return f"""
WITH RECURSIVE {_EDGES_SQL},
bfs(doc_id, depth) AS (
  SELECT doc_id, 0 FROM nodes WHERE doc_id < {seed_below}
  UNION ALL
  SELECT e.dst, b.depth + 1
  FROM bfs b JOIN edges e ON e.src = b.doc_id
  WHERE b.depth < {max_depth}
)
SELECT doc_id, min(depth)::INT AS depth FROM bfs GROUP BY 1
"""


def collapse_topk_sql(
    terms: list[str], field: str = "source", k: int = 10,
    k1: float = 1.2, b: float = 0.75,
) -> str:
    """Twin of serve.collapse_topk: BM25 scores → one winner per ``field``
    value (score desc, doc_id asc) → global top-k of the winners."""
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms, k1, b)},
keyed AS (
  SELECT s.doc_id, s.score_micros, d.{field} AS group_key
  FROM scores s JOIN documents d ON s.doc_id = d.doc_id
),
best AS (
  SELECT group_key, doc_id, score_micros FROM (
    SELECT group_key, doc_id, score_micros,
           row_number() OVER (PARTITION BY group_key
                              ORDER BY score_micros DESC, doc_id ASC) AS r
    FROM keyed
  ) WHERE r = 1
)
SELECT group_key, doc_id, score_micros FROM best
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def more_like_this_sql(
    src_doc_id: int, k: int = 10, max_query_terms: int = 5, min_df: int = 2,
    k1: float = 1.2, b: float = 0.75,
) -> str:
    """Twin of serve.more_like_this: the WHOLE pipeline in SQL — source-doc
    term vector → top max_query_terms by round(tf·idf·1e6) (term-asc ties,
    df >= min_df) → BM25 over that term set excluding the source doc."""
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
),
src AS (SELECT term, tf FROM post WHERE doc_id = {src_doc_id}),
cand AS (
  SELECT src.term, src.tf,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM src JOIN lex USING (term) CROSS JOIN n
  WHERE lex.df >= {min_df}
),
q AS (
  SELECT term, idf_bm25 FROM (
    SELECT term, idf_bm25,
           row_number() OVER (
             ORDER BY CAST(round(tf * idf_bm25 * 1e6) AS BIGINT) DESC, term ASC
           ) AS r
    FROM cand
  ) WHERE r <= {max_query_terms}
),
mscored AS (
  SELECT post.doc_id,
         CAST(round(q.idf_bm25 * (post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl))
                    * 1e6) AS BIGINT) AS c
  FROM post JOIN q ON post.term = q.term
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
  WHERE post.doc_id <> {src_doc_id}
)
SELECT doc_id, sum(c)::BIGINT AS score_micros
FROM mscored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def shard_routing_sql(n_shards: int) -> str:
    """Twin of routing.rendezvous_route: per-doc argmax over the md5-derived
    60-bit (doc, shard) weights; ties (never observed) toward larger s."""
    return f"""
WITH spine AS (SELECT unnest(range(0, {n_shards})) AS s),
w AS (
  SELECT d.doc_id, spine.s,
         CAST(('0x' || substr(md5('route:' || d.doc_id || ':' || spine.s), 1, 15))
              AS BIGINT) AS wt
  FROM documents d CROSS JOIN spine
)
SELECT doc_id, s::INT AS shard FROM (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY wt DESC, s DESC) AS r
  FROM w
) WHERE r = 1
"""


def shard_rebalance_moves_sql(n_from: int, n_to: int) -> str:
    """Twin of routing.rebalance_moves: the rendezvous argmax at both
    fleet sizes, keeping only docs whose route changes."""

    def route(n: int, alias: str) -> str:
        return f"""
(SELECT doc_id, s::INT AS {alias} FROM (
  SELECT d.doc_id, spine.s,
         row_number() OVER (PARTITION BY d.doc_id ORDER BY
           CAST(('0x' || substr(md5('route:' || d.doc_id || ':' || spine.s), 1, 15))
                AS BIGINT) DESC, spine.s DESC) AS r
  FROM documents d CROSS JOIN (SELECT unnest(range(0, {n})) AS s) spine
) WHERE r = 1)"""

    return f"""
SELECT a.doc_id, a.shard_from, b.shard_to
FROM {route(n_from, "shard_from")} a
JOIN {route(n_to, "shard_to")} b USING (doc_id)
WHERE a.shard_from <> b.shard_to
"""


def winnowing_sql(k: int = 5, w: int = 4) -> str:
    """Twin of dedup.winnowing_fingerprints: same fixed-width
    '<15-hex-md5>-<lpad pos>' keys, per-window list_min, distinct."""
    return f"""
WITH toksarr AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                     x -> x <> '') AS t
  FROM documents
),
keys AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {k} THEN
           list_transform(range(1, len(t) - {k - 1} + 1),
             i -> substr(md5(array_to_string(t[i:i+{k - 1}], ' ')), 1, 15)
                  || '-' || lpad(CAST(i AS VARCHAR), 8, '0'))
         ELSE CAST([] AS VARCHAR[]) END AS ks
  FROM toksarr
),
sel AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, greatest(1, len(ks) - {w - 1}) + 1),
                          j -> list_min(ks[j:j+{w - 1}]))) AS s
  FROM keys WHERE len(ks) >= 1
)
SELECT doc_id,
       CAST(substr(key, 17, 8) AS BIGINT) AS pos,
       substr(key, 1, 15) AS fp
FROM (SELECT doc_id, unnest(s) AS key FROM sel)
"""


def compound_split_sql(word: str, k: int = 5) -> str:
    """Twin of serve.compound_split: all split points of ``word`` joined
    twice against the dictionary, ranked by least corpus frequency."""
    n = len(word)
    return f"""
WITH {_TOKENS_CTE},
lex AS (SELECT term, sum(tf)::BIGINT AS cf FROM post GROUP BY 1),
splits AS (
  SELECT substr('{word}', 1, i) AS p1, substr('{word}', i + 1) AS p2
  FROM (SELECT unnest(range(1, {n})) AS i)
)
SELECT s.p1, s.p2, least(a.cf, b.cf)::BIGINT AS cf_min
FROM splits s JOIN lex a ON s.p1 = a.term JOIN lex b ON s.p2 = b.term
ORDER BY cf_min DESC, p1 ASC
LIMIT {k}
"""


def rp_project_sql(out_dim: int = 16, dim: int = 64) -> str:
    """Twin of similarity.rp_project: the (out_dim × dim) integer plane
    matrix is the same functions/planes.py compile-time constant, embedded
    as list literals; each reduced coordinate is an exact integer dot."""
    from searchengine_spark.functions.planes import plane_ints

    dots = []
    for comps in plane_ints(out_dim, dim):
        lit = "[" + ", ".join(str(c) for c in comps) + "]::BIGINT[]"
        dots.append(
            f"list_sum(list_transform(list_zip(v, {lit}), p -> p[1] * p[2]))"
        )
    proj = "[" + ", ".join(dots) + "]"
    return f"""
WITH qv AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
proj AS (SELECT vec_id, {proj} AS p FROM qv)
SELECT vec_id, generate_subscripts(p, 1)::INT - 1 AS j, unnest(p)::BIGINT AS val
FROM proj
"""


def sq8_codes_sql() -> str:
    """Twin of similarity.sq8_codes: per-dimension min/max over the
    quantized values, half-up integer scaling to 0..255 (numerator is
    non-negative, so floor == truncate and `//` matches Spark `div`)."""
    return f"""
WITH qv AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
vrows AS (SELECT vec_id, generate_subscripts(v, 1)::INT - 1 AS i, unnest(v) AS val
          FROM qv),
stats AS (SELECT i, min(val) AS lo, max(val) AS hi FROM vrows GROUP BY 1)
SELECT v.vec_id, v.i,
       (CASE WHEN s.hi = s.lo THEN 0
             ELSE (2 * 255 * (v.val - s.lo) + (s.hi - s.lo)) // (2 * (s.hi - s.lo))
        END)::BIGINT AS code
FROM vrows v JOIN stats s ON v.i = s.i
"""


def semdedup_sql(
    n_clusters: int = 4,
    iterations: int = 2,
    threshold_micros: int = 350_000,
) -> str:
    """Twin of dedup.semdedup: the k-means oracle embedded verbatim as the
    centroid source, integer-cosine assignment (ties → smallest cid), and
    the within-cluster upper-triangle drop rule over the (centroid_cosine
    ASC, id ASC) priority order."""
    cos = _cos_micros_sql("x.v", "y.v")
    return f"""
WITH cents AS (SELECT cid, i, val FROM ({kmeans_sql(n_clusters, iterations)})),
qv AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
vrows AS (SELECT vec_id, generate_subscripts(v, 1)::INT - 1 AS i, unnest(v) AS val
          FROM qv),
vn AS (SELECT vec_id, sum(val * val) AS n2 FROM vrows GROUP BY 1),
cn AS (SELECT cid, sum(val * val) AS n2 FROM cents GROUP BY 1),
dotc AS (
  SELECT v.vec_id, c.cid, sum(v.val * c.val) AS d
  FROM vrows v JOIN cents c ON v.i = c.i GROUP BY 1, 2
),
cm AS (
  SELECT dotc.vec_id, dotc.cid,
         CAST(round(1e6 * dotc.d::DOUBLE
              / (sqrt(vn.n2::DOUBLE) * sqrt(cn.n2::DOUBLE))) AS BIGINT) AS cm
  FROM dotc JOIN vn ON dotc.vec_id = vn.vec_id JOIN cn ON dotc.cid = cn.cid
),
assign AS (
  SELECT vec_id, cid AS cell, cm AS cent_cm FROM (
    SELECT vec_id, cid, cm,
           row_number() OVER (PARTITION BY vec_id ORDER BY cm DESC, cid ASC) AS rn
    FROM cm
  ) WHERE rn = 1
),
simpairs AS (
  SELECT b.vec_id AS dropped
  FROM assign a
  JOIN assign b ON a.cell = b.cell
    AND (a.cent_cm < b.cent_cm
         OR (a.cent_cm = b.cent_cm AND a.vec_id < b.vec_id))
  JOIN qv x ON x.vec_id = a.vec_id
  JOIN qv y ON y.vec_id = b.vec_id
  WHERE {cos} >= {threshold_micros}
),
dups AS (SELECT DISTINCT dropped AS vec_id FROM simpairs)
SELECT a.vec_id, a.cell::INT AS cell, a.cent_cm::BIGINT AS cent_cos_micros,
       (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS keep
FROM assign a LEFT JOIN dups d USING (vec_id)
"""


def domain_kl_drift_sql() -> str:
    """Twin of corpusstats.domain_kl_drift: per-source unigram KL divergence
    vs the corpus distribution, per-term contribution rounded to nanos
    BEFORE the per-source sum (the integer fixed-point determinism
    contract)."""
    return f"""
WITH tk AS (
  SELECT source AS src,
         unnest(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}')) AS term
  FROM documents
),
tok AS (SELECT src, term FROM tk WHERE term <> ''),
st AS (SELECT src, term, count(*)::BIGINT AS c_st FROM tok GROUP BY 1, 2),
ns AS (SELECT src, sum(c_st)::BIGINT AS n_s FROM st GROUP BY 1),
ct AS (SELECT term, sum(c_st)::BIGINT AS c_t FROM st GROUP BY 1),
nt AS (SELECT sum(c_st)::BIGINT AS n_tot FROM st),
contrib AS (
  SELECT st.src, ns.n_s,
         CAST(round((st.c_st::DOUBLE / ns.n_s::DOUBLE)
                    * ln((st.c_st::DOUBLE * nt.n_tot::DOUBLE)
                         / (ns.n_s::DOUBLE * ct.c_t::DOUBLE))
                    * 1e9) AS BIGINT) AS contrib_nanos
  FROM st JOIN ct USING (term) JOIN ns USING (src) CROSS JOIN nt
)
SELECT src AS source,
       max(n_s)::BIGINT AS n_tokens,
       sum(contrib_nanos)::BIGINT AS kl_nanos
FROM contrib GROUP BY src
"""


def zipf_slope_sql(top_n: int = 1000) -> str:
    """Twin of corpusstats.zipf_slope: OLS of milli-scaled ln(freq) on
    ln(rank) over the top-N terms, slope/intercept derived from EXACT
    integer sums (identical bigints in both engines → identical doubles)."""
    return f"""
WITH {_TOKENS_CTE},
freqs AS (
  SELECT term, count(*)::BIGINT AS c FROM terms GROUP BY 1
  ORDER BY c DESC, term ASC LIMIT {top_n}
),
xy AS (
  SELECT CAST(round(ln((row_number() OVER (ORDER BY c DESC, term ASC))::DOUBLE)
                    * 1e3) AS BIGINT) AS x,
         CAST(round(ln(c::DOUBLE) * 1e3) AS BIGINT) AS y
  FROM freqs
),
s AS (
  SELECT count(*)::BIGINT AS n_terms,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
  FROM xy
)
SELECT n_terms,
       CAST(round(((n_terms * sxy - sx * sy)::DOUBLE
                   / (n_terms * sxx - sx * sx)::DOUBLE) * 1e6) AS BIGINT)
         AS slope_micros,
       CAST(round((sy::DOUBLE
                   - ((n_terms * sxy - sx * sy)::DOUBLE
                      / (n_terms * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
                  / n_terms::DOUBLE / 1e3 * 1e6) AS BIGINT)
         AS intercept_micros
FROM s
"""


def containment_pairs_sql(
    n: int = 3, threshold_ppm: int = 500_000, max_shingle_df: int = 64
) -> str:
    """Twin of dedup.containment_pairs: directed shingle containment
    |A∩B|/|A| ≥ threshold over df-capped distinct token n-grams."""
    return f"""
WITH {_shingles_cte(n)},
hot AS (SELECT shingle FROM shingles GROUP BY shingle
        HAVING count(*) > {max_shingle_df}),
kept AS (SELECT s.* FROM shingles s LEFT JOIN hot USING (shingle)
         WHERE hot.shingle IS NULL),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM kept GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(round(1e6 * i / sa.sz) AS BIGINT) AS containment_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
WHERE CAST(round(1e6 * i / sa.sz) AS BIGINT) >= {threshold_ppm}
"""


def heaps_law_sql(n_checkpoints: int = 10) -> str:
    """Twin of corpusstats.heaps_law: V = K·N^β fit over doc-id-ordered
    prefix checkpoints, milli fixed-point OLS on exact integer sums."""
    return f"""
WITH {_TOKENS_CTE},
fd AS (SELECT term, min(doc_id)::BIGINT AS fd FROM terms GROUP BY 1),
mx AS (SELECT max(doc_id)::BIGINT AS m FROM dls WHERE dl > 0),
cps AS (SELECT r.i, (mx.m * r.i) // {n_checkpoints} AS ck
        FROM range(1, {n_checkpoints + 1}) AS r(i), mx),
n_i AS (
  SELECT cps.i, sum(dls.dl)::BIGINT AS n_tok
  FROM dls, cps WHERE dls.doc_id <= cps.ck GROUP BY 1
),
v_i AS (
  SELECT cps.i, count(*)::BIGINT AS v
  FROM fd, cps WHERE fd.fd <= cps.ck GROUP BY 1
),
xy AS (
  SELECT CAST(round(ln(n_tok::DOUBLE) * 1e3) AS BIGINT) AS x,
         CAST(round(ln(v::DOUBLE) * 1e3) AS BIGINT) AS y
  FROM n_i JOIN v_i USING (i)
),
s AS (
  SELECT count(*)::BIGINT AS n_terms,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
  FROM xy
)
SELECT n_terms,
       CAST(round(((n_terms * sxy - sx * sy)::DOUBLE
                   / (n_terms * sxx - sx * sx)::DOUBLE) * 1e6) AS BIGINT)
         AS slope_micros,
       CAST(round((sy::DOUBLE
                   - ((n_terms * sxy - sx * sy)::DOUBLE
                      / (n_terms * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
                  / n_terms::DOUBLE / 1e3 * 1e6) AS BIGINT)
         AS intercept_micros
FROM s
"""


def crawl_schedule_sql(n_hosts: int = 7, delay_ms: int = 500) -> str:
    """Twin of fetch.crawl_schedule: per-host fetch queue in md5 shuffle
    order, slot = per-host row_number (the oracle ranks directly; the Spark
    side computes the identical sequence via the two-phase ordered-bucket
    pattern so no host-sized window partition exists)."""
    return f"""
WITH keyed AS (
  SELECT doc_id,
         'host' || (doc_id % {n_hosts})::VARCHAR AS host,
         md5('fetch:' || doc_id) AS h
  FROM documents
),
ranked AS (
  SELECT doc_id, host,
         row_number() OVER (PARTITION BY host ORDER BY h ASC, doc_id ASC)
           AS slot
  FROM keyed
)
SELECT doc_id, host, slot::BIGINT AS slot,
       ((slot - 1) * {delay_ms})::BIGINT AS fetch_offset_ms
FROM ranked
"""


def mmr_topk_sql(
    terms: list[str], k: int = 10, r: int = 50, lam_ppm: int = 700_000
) -> str:
    """Twin of serve.mmr_topk: the k greedy MMR steps unrolled as chained
    CTEs (the kmeans/sdm unrolling pattern). Every quantity is the same
    integer the Spark side computes: BM25 micros candidates, floor-division
    ppm relevance, quantized cosine micros sims, int64 pick scores, ties to
    smallest doc_id; step 1 has no redundancy term."""
    lam, mu = int(lam_ppm), 1_000_000 - int(lam_ppm)
    steps, sels = [], ["sel1"]
    for i in range(2, k + 1):
        steps.append(f"""
sel{i} AS MATERIALIZED (
  SELECT rel.doc_id, rel.bm25_micros,
         {lam} * rel.rel_ppm - {mu} * (
           SELECT max(sim.s) FROM sim JOIN picked{i - 1} p
           ON sim.da = rel.doc_id AND sim.db = p.doc_id
         ) AS mmr_score, {i}::INT AS rank
  FROM rel
  WHERE rel.doc_id NOT IN (SELECT doc_id FROM picked{i - 1})
  ORDER BY mmr_score DESC, rel.doc_id ASC LIMIT 1
),
picked{i} AS MATERIALIZED (
  SELECT doc_id FROM picked{i - 1} UNION ALL SELECT doc_id FROM sel{i}
)""")
        sels.append(f"sel{i}")
    union = "\nUNION ALL\n".join(
        f"SELECT rank, doc_id, mmr_score, bm25_micros FROM {s}" for s in sels
    )
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms)},
cand AS MATERIALIZED (
  SELECT doc_id, score_micros AS bm25_micros FROM scores
  ORDER BY score_micros DESC, doc_id ASC LIMIT {r}
),
qe AS (SELECT vec_id AS doc_id, {_QUANT_EMB} AS v FROM embeddings),
c AS (SELECT cand.doc_id, cand.bm25_micros, qe.v FROM cand JOIN qe USING (doc_id)),
mx AS (SELECT max(bm25_micros) AS m FROM c),
rel AS MATERIALIZED (
  SELECT doc_id, bm25_micros, (bm25_micros * 1000000) // mx.m AS rel_ppm
  FROM c CROSS JOIN mx
),
sim AS MATERIALIZED (
  SELECT a.doc_id AS da, b.doc_id AS db, {_cos_micros_sql("a.v", "b.v")} AS s
  FROM c a JOIN c b ON a.doc_id <> b.doc_id
),
sel1 AS MATERIALIZED (
  SELECT doc_id, bm25_micros, {lam} * rel_ppm AS mmr_score, 1::INT AS rank
  FROM rel ORDER BY mmr_score DESC, doc_id ASC LIMIT 1
),
picked1 AS MATERIALIZED (SELECT doc_id FROM sel1),{",".join(steps)}
SELECT rank, doc_id, mmr_score, bm25_micros FROM ({union})
ORDER BY rank
"""


def knn_graph_sql(
    k: int = 3,
    n_planes: int = 16,
    rows_per_band: int = 8,
    dim: int = 64,
    max_bucket: int = 1024,
) -> str:
    """Exact replica of similarity.knn_graph: integer hyperplane signatures
    → bucket-capped banded self-join candidates → integer-cosine rerank →
    per-vector top-k."""
    n_bands = n_planes // rows_per_band
    return f"""
WITH qe AS (SELECT vec_id, {_QUANT_EMB} AS v FROM embeddings),
sig AS (SELECT vec_id, v, {_sig_sql('v', n_planes, dim)} AS s FROM qe),
bands AS (
  SELECT vec_id, b.range AS band_id,
         substr(s, (b.range * {rows_per_band} + 1)::INT, {rows_per_band}) AS band_key
  FROM sig CROSS JOIN range({n_bands}) b
),
kept AS (
  SELECT bands.* FROM bands
  JOIN (SELECT band_id, band_key FROM bands GROUP BY 1, 2
        HAVING count(*) <= {max_bucket}) ok
    USING (band_id, band_key)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS neighbor_id
  FROM kept a JOIN kept c
    ON a.band_id = c.band_id AND a.band_key = c.band_key
  WHERE c.vec_id <> a.vec_id
),
scored AS (
  SELECT cand.vec_id, cand.neighbor_id,
         {_cos_micros_sql('sv.v', 'dv.v')} AS cosine_micros
  FROM cand
  JOIN qe sv ON sv.vec_id = cand.vec_id
  JOIN qe dv ON dv.vec_id = cand.neighbor_id
)
SELECT vec_id, rank, neighbor_id, cosine_micros FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cosine_micros DESC, neighbor_id ASC)::INT AS rank
  FROM scored
) WHERE rank <= {k}
"""


def corrected_search_sql(query: str, k: int = 10) -> str:
    """Twin of serve.corrected_search: brute-force Levenshtein top-1
    correction per query word (the fuzzy_suggest ranking contract), then
    the shared BM25 scores CTE over the DISTINCT corrected term set."""
    words = [w.replace("'", "''") for w in query.lower().split() if w]
    vals = ", ".join(f"('{w}')" for w in words)
    corr_q = "SELECT DISTINCT term FROM corr WHERE r = 1"
    return f"""
WITH {_TOKENS_CTE},
qwords AS (SELECT word FROM (VALUES {vals}) AS w(word)),
vocab AS (SELECT term, count(*)::BIGINT AS cnt FROM terms GROUP BY 1),
corr AS (
  SELECT qwords.word, vocab.term,
         row_number() OVER (
           PARTITION BY qwords.word
           ORDER BY levenshtein(vocab.term, qwords.word) ASC,
                    vocab.cnt DESC, vocab.term ASC
         ) AS r
  FROM qwords JOIN vocab ON levenshtein(vocab.term, qwords.word) <= 1
),
{_bm25_scores_cte([], q_cte=corr_q)}
SELECT doc_id, score_micros FROM scores
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def compaction_plan_sql(shard_span: int = 16, merge_factor: int = 4) -> str:
    """Twin of segments.compaction_plan: integer-log2 tiers via
    length(bin(size))-1, (size desc, segment_id asc) packing, full groups
    of merge_factor only."""
    return f"""
WITH dls AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                         x -> x <> ''))::BIGINT AS dl
  FROM documents
),
stats AS (
  SELECT (doc_id // {shard_span})::BIGINT AS segment_id,
         sum(dl)::BIGINT AS size_tokens
  FROM dls GROUP BY 1
),
ranked AS (
  SELECT segment_id, size_tokens,
         (length(bin(size_tokens)) - 1)::INT AS tier,
         ((row_number() OVER (
             PARTITION BY (length(bin(size_tokens)) - 1)
             ORDER BY size_tokens DESC, segment_id ASC) - 1)
          // {merge_factor})::BIGINT AS merge_seq
  FROM stats
),
grouped AS (
  SELECT tier, merge_seq, segment_id, size_tokens,
         count(*) OVER (PARTITION BY tier, merge_seq) AS n_members,
         sum(size_tokens) OVER (PARTITION BY tier, merge_seq)::BIGINT AS merge_total
  FROM ranked
)
SELECT tier, merge_seq, segment_id, size_tokens, merge_total
FROM grouped WHERE n_members = {merge_factor}
"""


def phrase_topk_sql(phrase_terms: list[str], k: int = 10) -> str:
    """Twin of serve.phrase_topk: adjacency candidates (raw split-array
    positions) semi-joined into the shared BM25 scores CTE."""
    conds = " AND ".join(
        f"p{i}.term = '{t}' AND p{i}.pos = p0.pos + {i}"
        for i, t in enumerate(phrase_terms)
        if i > 0
    )
    joins = "\n".join(
        f"JOIN posx p{i} ON p{i}.doc_id = p0.doc_id"
        for i in range(1, len(phrase_terms))
    )
    return f"""
WITH {_TOKENS_CTE},
posx AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
),
cand AS (
  SELECT DISTINCT p0.doc_id
  FROM posx p0
{joins}
  WHERE p0.term = '{phrase_terms[0]}' AND {conds}
),
{_bm25_scores_cte(phrase_terms)}
SELECT s.doc_id, s.score_micros
FROM scores s JOIN cand USING (doc_id)
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def hybrid_combmnz_sql(
    terms: list[str], query_vec_id: int = 0, k: int = 10, r: int = 50
) -> str:
    """Twin of serve.hybrid_combmnz_topk: per-list min-max normalization to
    [0, 1e6] integers over the top-r rows, fused = n_lists_hit * sum."""
    qq = "list_transform(qv.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    cc = "list_transform(e.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    norm = (
        "CASE WHEN mx = mn THEN CAST(1000000 AS BIGINT) ELSE "
        "CAST(round(1e6 * CAST((score_micros - mn) AS DOUBLE)"
        " / CAST((mx - mn) AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms)},
lex_ranked AS (
  SELECT doc_id, score_micros FROM (
    SELECT doc_id, score_micros,
           row_number() OVER (ORDER BY score_micros DESC, doc_id ASC) AS lrank
    FROM scores
  ) WHERE lrank <= {r}
),
lex_norm AS (
  SELECT doc_id, {norm} AS lnorm
  FROM lex_ranked
  CROSS JOIN (SELECT min(score_micros) AS mn, max(score_micros) AS mx
              FROM lex_ranked) mm
),
vec_scored AS (
  SELECT e.vec_id AS doc_id, {_cos_micros_sql(qq, cc)} AS score_micros
  FROM embeddings e
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {query_vec_id}) qv
  WHERE e.vec_id <> {query_vec_id}
),
vec_ranked AS (
  SELECT doc_id, score_micros FROM (
    SELECT doc_id, score_micros,
           row_number() OVER (ORDER BY score_micros DESC, doc_id ASC) AS vrank
    FROM vec_scored
  ) WHERE vrank <= {r}
),
vec_norm AS (
  SELECT doc_id, {norm} AS vnorm
  FROM vec_ranked
  CROSS JOIN (SELECT min(score_micros) AS mn, max(score_micros) AS mx
              FROM vec_ranked) mm
),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         ((CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN v.doc_id IS NULL THEN 0 ELSE 1 END))::BIGINT
         * (coalesce(l.lnorm, 0) + coalesce(v.vnorm, 0)) AS combmnz_micros
  FROM lex_norm l FULL OUTER JOIN vec_norm v ON l.doc_id = v.doc_id
)
SELECT rank, doc_id, combmnz_micros FROM (
  SELECT row_number() OVER (ORDER BY combmnz_micros DESC, doc_id ASC)::INT AS rank,
         doc_id, combmnz_micros
  FROM fused
) WHERE rank <= {k}
"""


def cluster_results_sql(
    terms: list[str], r: int = 50, n_clusters: int = 3, iterations: int = 2
) -> str:
    """Twin of serve.cluster_results: k-means oracle embedded verbatim as
    the centroid source, BM25 top-r candidates, integer-cosine argmax
    assignment (ties -> smallest cid)."""
    return f"""
WITH cents AS (SELECT cid, i, val FROM ({kmeans_sql(n_clusters, iterations)})),
{_TOKENS_CTE},
{_bm25_scores_cte(terms)},
cand AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_micros DESC, doc_id ASC) AS rn
    FROM scores
  ) WHERE rn <= {r}
),
qv AS (
  SELECT e.vec_id AS doc_id, {_QUANT_EMB.replace('embedding', 'e.embedding')} AS v
  FROM embeddings e JOIN cand ON e.vec_id = cand.doc_id
),
vrows AS (SELECT doc_id, generate_subscripts(v, 1)::INT - 1 AS i, unnest(v) AS val
          FROM qv),
vn AS (SELECT doc_id, sum(val * val) AS n2 FROM vrows GROUP BY 1),
cn2 AS (SELECT cid, sum(val * val) AS n2 FROM cents GROUP BY 1),
dotc AS (
  SELECT v.doc_id, c.cid, sum(v.val * c.val) AS d
  FROM vrows v JOIN cents c ON v.i = c.i GROUP BY 1, 2
),
cm AS (
  SELECT dotc.doc_id, dotc.cid,
         CAST(round(1e6 * dotc.d::DOUBLE
              / (sqrt(vn.n2::DOUBLE) * sqrt(cn2.n2::DOUBLE))) AS BIGINT) AS cosine_micros
  FROM dotc JOIN vn ON dotc.doc_id = vn.doc_id JOIN cn2 ON dotc.cid = cn2.cid
)
SELECT doc_id, cid AS cluster_id, cosine_micros FROM (
  SELECT doc_id, cid, cosine_micros,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cosine_micros DESC, cid ASC) AS rn
  FROM cm
) WHERE rn = 1
"""


def bm25_boosted_topk_sql(
    boosts: dict[str, float], k: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """Twin of serve.bm25_boosted_topk: boost * the shared contribution
    tree, rounded once to micros."""
    vals = ", ".join(f"('{t}', {float(w)!r})" for t, w in boosts.items())
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
q AS (SELECT term, CAST(boost AS DOUBLE) AS boost
      FROM (VALUES {vals}) AS v(term, boost)),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n
  WHERE lex.term IN (SELECT term FROM q)
),
scored AS (
  SELECT post.doc_id,
         CAST(round(q.boost * (idf.idf_bm25 * (post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl)))
                    * 1e6) AS BIGINT) AS c_micros
  FROM post
  JOIN q ON post.term = q.term
  JOIN idf ON post.term = idf.term
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
)
SELECT doc_id, sum(c_micros)::BIGINT AS score_micros
FROM scored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def common_terms_topk_sql(
    terms: list[str],
    k: int = 10,
    cutoff_ppm: int = 500_000,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Twin of serve.common_terms_topk (assumes >=1 rare term, which the
    gate's query guarantees): candidates from rare terms only, all terms
    score inside the candidate set."""
    return f"""
WITH {_TOKENS_CTE},
ni AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
q AS (SELECT term FROM {_terms_values(terms)}),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n
  WHERE lex.term IN (SELECT term FROM q)
),
req AS (
  SELECT lex.term FROM lex, ni
  WHERE lex.term IN (SELECT term FROM q)
    AND lex.df * 1000000 <= {cutoff_ppm} * ni.n_docs
),
cand AS (
  SELECT DISTINCT doc_id FROM post WHERE term IN (SELECT term FROM req)
),
scored AS (
  SELECT post.doc_id,
         CAST(round(idf.idf_bm25 * (post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl))
                    * 1e6) AS BIGINT) AS c_micros
  FROM post
  JOIN q ON post.term = q.term
  JOIN idf ON post.term = idf.term
  JOIN cand ON post.doc_id = cand.doc_id
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
)
SELECT doc_id, sum(c_micros)::BIGINT AS score_micros
FROM scored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def index_stats_sql() -> str:
    return f"""
WITH {_TOKENS_CTE},
lex AS (
  SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
  FROM post GROUP BY 1
)
SELECT (SELECT count(*)::BIGINT FROM documents) AS n_docs,
       count(*)::BIGINT AS n_terms,
       sum(df)::BIGINT AS n_postings,
       sum(cf)::BIGINT AS n_tokens,
       max(df)::BIGINT AS max_df,
       (SELECT sum(dl)::BIGINT FROM dls) AS sum_dl
FROM lex
"""


def ascii_fold_sql() -> str:
    """Twin of textstats.ascii_fold: identical seasoning (marker word by
    doc_id), identical explicit translate map, same tokenize-after-fold."""
    from searchengine_spark.operators.textstats import (
        ACCENT_FROM,
        ACCENT_TO,
        _ACCENT_WORDS,
    )

    words = ", ".join(f"'{w}'" for w in _ACCENT_WORDS)
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
    marker_list = ", ".join(f"'{t}'" for t in folded_markers)
    return f"""
WITH seasoned AS (
  SELECT doc_id,
         text || ' ' || ([{words}])[(doc_id % {len(_ACCENT_WORDS)})::INT + 1]
           AS text2
  FROM documents
),
folded AS (
  SELECT doc_id,
         translate(lower(text2), '{ACCENT_FROM}', '{ACCENT_TO}') AS ftext
  FROM seasoned
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(ftext, '[^a-z0-9]+')) AS term
  FROM folded
)
SELECT term, count(DISTINCT doc_id)::BIGINT AS df
FROM toks
WHERE term IN ({marker_list})
GROUP BY term
"""


def bm25plus_topk_sql(
    terms: list[str],
    k: int = 10,
    delta: float = 1.0,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Twin of serve.bm25plus_topk: idf · (saturated_tf + δ)."""
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
q AS (SELECT DISTINCT term FROM {_terms_values(terms)}),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n
  WHERE lex.term IN (SELECT term FROM q)
),
scored AS (
  SELECT post.doc_id,
         CAST(round(idf.idf_bm25 * ((post.tf * {k1 + 1.0})
                    / (post.tf + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl))
                    + {float(delta)!r})
                    * 1e6) AS BIGINT) AS c_micros
  FROM post
  JOIN q ON post.term = q.term
  JOIN idf ON post.term = idf.term
  JOIN dls ON post.doc_id = dls.doc_id
  CROSS JOIN avg_dl
)
SELECT doc_id, sum(c_micros)::BIGINT AS score_micros
FROM scored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def borda_fusion_sql(
    terms: list[str], query_vec_id: int = 0, k: int = 10, r: int = 50
) -> str:
    """Twin of serve.borda_fusion_topk: r - rank + 1 points per list,
    integer point sums, absent docs award 0."""
    qq = "list_transform(qv.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    cc = "list_transform(e.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms)},
lex_ranked AS (
  SELECT doc_id, ({r} - lrank + 1)::BIGINT AS lpts FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_micros DESC, doc_id ASC) AS lrank
    FROM scores
  ) WHERE lrank <= {r}
),
vec_scored AS (
  SELECT e.vec_id AS doc_id, {_cos_micros_sql(qq, cc)} AS cosine_micros
  FROM embeddings e
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {query_vec_id}) qv
  WHERE e.vec_id <> {query_vec_id}
),
vec_ranked AS (
  SELECT doc_id, ({r} - vrank + 1)::BIGINT AS vpts FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cosine_micros DESC, doc_id ASC) AS vrank
    FROM vec_scored
  ) WHERE vrank <= {r}
),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         (coalesce(l.lpts, 0) + coalesce(v.vpts, 0))::BIGINT AS borda_points
  FROM lex_ranked l FULL OUTER JOIN vec_ranked v ON l.doc_id = v.doc_id
)
SELECT rank, doc_id, borda_points FROM (
  SELECT row_number() OVER (ORDER BY borda_points DESC, doc_id ASC)::INT AS rank,
         doc_id, borda_points
  FROM fused
) WHERE rank <= {k}
"""


def highlight_fragments_sql(
    terms: list[str],
    k: int = 10,
    frag_window: int = 4,
    max_frags: int = 3,
) -> str:
    """Twin of serve.highlight_fragments: BM25 top-k winners, query-term
    match positions, gaps-and-islands window merge, per-doc fragment rank
    (n_matches desc, start asc), raw-split-array slice joined with ' '."""
    return f"""
WITH {_TOKENS_CTE},
{_bm25_scores_cte(terms)},
winners AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_micros DESC, doc_id ASC) AS rn
    FROM scores
  ) WHERE rn <= {k}
),
toksraw AS (
  SELECT doc_id, string_split_regex(lower(text), '{TOKEN_SPLIT_RE}') AS t
  FROM documents JOIN winners USING (doc_id)
),
posx AS (
  SELECT tr.doc_id, unnest(tr.t) AS term, generate_subscripts(tr.t, 1) - 1 AS pos
  FROM toksraw tr
),
hits AS (
  SELECT doc_id, pos FROM posx
  WHERE term IN (SELECT term FROM q)
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos, 1, -1000000000)
                      OVER (PARTITION BY doc_id ORDER BY pos)
                   > {2 * frag_window} THEN 1 ELSE 0 END AS new_island
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
frags AS (
  SELECT doc_id, island, min(pos) AS mn, max(pos) AS mx,
         count(*)::BIGINT AS n_matches
  FROM islands GROUP BY 1, 2
),
top AS (
  SELECT doc_id, frag_seq, greatest(mn - {frag_window}, 0)::BIGINT AS start_pos,
         (mx + {frag_window})::BIGINT AS end_pos, n_matches
  FROM (
    SELECT doc_id, mn, mx, n_matches,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n_matches DESC, mn ASC)::INT AS frag_seq
    FROM frags
  ) WHERE frag_seq <= {max_frags}
)
SELECT top.doc_id, top.frag_seq, top.start_pos,
       least(top.end_pos, len(tr.t) - 1)::BIGINT AS end_pos, top.n_matches,
       array_to_string(
         list_slice(tr.t, top.start_pos + 1,
                    least(top.end_pos, len(tr.t) - 1) + 1), ' ') AS fragment
FROM top JOIN toksraw tr ON top.doc_id = tr.doc_id
"""


def _robots_ctes(n_hosts: int = 7, user_agent: str = "SparkCrawler/1.0") -> str:
    """Shared CTE block: synthetic robots bodies (twin of
    fetch.synth_robots_bodies) + the stateful section parse (twin of
    fetch.parse_robots) as a per-host last_value(... IGNORE NULLS) window."""
    return f"""
hosts AS (SELECT unnest(range(0, {n_hosts})) AS i),
bodies AS (
  SELECT 'host' || i::VARCHAR || '.example' AS host,
         CASE WHEN i % 3 = 2 THEN '' ELSE concat_ws(chr(10),
           '# robots for host' || i::VARCHAR,
           '',
           'User-agent: OtherBot',
           'Disallow: /private',
           '',
           CASE WHEN i % 3 = 0 THEN 'User-agent: *'
                ELSE 'User-agent: {user_agent}' END,
           'Disallow: /p' || i::VARCHAR,
           'Disallow: /q' || i::VARCHAR || '/deep',
           CASE WHEN i % 3 = 1 THEN 'Disallow: /1' END,
           'disallow: /lowercase-ignored',
           'Disallow:',
           'Crawl-delay: 1',
           CASE WHEN i = 6 THEN 'Disallow: /' END,
           'User-agent: ThirdBot',
           'Disallow: /x'
         ) END AS content
  FROM hosts
),
rlines AS (
  SELECT host, pos, trim(line) AS line FROM (
    SELECT host, unnest(l) AS line, generate_subscripts(l, 1) AS pos
    FROM (SELECT host, string_split(content, chr(10)) AS l FROM bodies)
  )
),
rstate AS (
  SELECT host, pos, line,
         last_value(CASE WHEN starts_with(line, 'User-agent:')
                         THEN trim(substring(line, 12)) END IGNORE NULLS)
           OVER (PARTITION BY host ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur_ua
  FROM rlines
),
rrules AS (
  SELECT host, pos::INT AS line_no,
         trim(substring(line, 10)) AS disallow_prefix
  FROM rstate
  WHERE cur_ua IN ('*', '{user_agent}')
    AND regexp_full_match(line, 'Disallow:\\s*(.+)')
)"""


def robots_rules_sql(n_hosts: int = 7) -> str:
    """Twin of fetch.parse_robots over fetch.synth_robots_bodies:
    section-state parse with the reference quirks (case-sensitive
    prefixes, empty-Disallow no-op, allow-on-missing)."""
    return f"""
WITH {_robots_ctes(n_hosts)}
SELECT host, line_no, disallow_prefix
FROM rrules
ORDER BY host, line_no
"""


def robots_filtered_fetch_sql(n_hosts: int = 7) -> str:
    """Twin of the fetch->parse->filter pipeline: synth_urls filtered by
    robots_allowed (host match AND (rule = '/' OR path prefix)) then fake
    transport; RobotsTxtHandler.isAllowed semantics vectorized."""
    return f"""
WITH {_robots_ctes(n_hosts)},
u AS (
  SELECT 'http://host' || (doc_id % {n_hosts})::VARCHAR || '.example/'
           || doc_id::VARCHAR AS url,
         'host' || (doc_id % {n_hosts})::VARCHAR || '.example' AS host,
         '/' || doc_id::VARCHAR AS path
  FROM documents
),
allowed AS (
  SELECT u.url FROM u
  WHERE NOT EXISTS (
    SELECT 1 FROM rrules r
    WHERE r.host = u.host
      AND (r.disallow_prefix = '/' OR starts_with(u.path, r.disallow_prefix))
  )
)
SELECT url,
       sha256('<html><body>' || md5(url) || '</body></html>') AS content_sha256
FROM allowed
"""


def history_suggest_sql(prefix: str = "s", k: int = 5, n: int = 64) -> str:
    """Twin of serve.history_suggest over serve.synth_query_log: fold case
    per lowercased query (arg_min keeps the first-seen casing), blank rows
    dropped, count-desc with first-seen-seq tie-break (the JS stable sort),
    top-k."""
    vocab = (
        "['spark sql', 'spark sql', 'spark sql', 'spark sql', 'spark sql', "
        "'spark join', 'spark join', 'spark join', "
        "'hash join', 'hash join', 'hash join', "
        "'sort merge', 'sort merge', "
        "'stream window', "
        "'spark shuffle', "
        "'']"
    )
    return f"""
WITH qlog AS (
  SELECT s AS seq,
         CASE WHEN s % 7 = 5
              THEN upper(substring(q, 1, 1)) || substring(q, 2)
              ELSE q END AS query
  FROM (
    SELECT s, ({vocab})[(s % 16)::INT + 1] AS q
    FROM (SELECT unnest(range(0, {n})) AS s)
  )
),
hist AS (
  SELECT lower(query) AS qkey, count(*)::BIGINT AS n,
         min(seq) AS first_seq, arg_min(query, seq) AS query
  FROM qlog WHERE trim(query) <> ''
  GROUP BY 1
)
SELECT row_number() OVER (ORDER BY n DESC, first_seq ASC)::INT AS rank,
       query, n
FROM hist
WHERE starts_with(qkey, '{prefix.lower()}')
ORDER BY rank
LIMIT {k}
"""


def minhash_calibration_sql(
    n_perms: int = 16, rows_per_band: int = 4, sample_den: int = 1
) -> str:
    """Twin of dedup.minhash_calibration: LSH candidate pairs (md5-sampled
    at 1/sample_den), per-pair signature agreement count vs exact
    distinct-token Jaccard (integer ppm), aggregated per estimate level."""
    samp = (
        ""
        if sample_den <= 1
        else f"""
  WHERE CAST(('0x' || substr(md5(a.doc_id::VARCHAR || ':' || b.doc_id::VARCHAR), 1, 15)) AS BIGINT) % {sample_den} = 0"""
    )
    return f"""
WITH {_TOKHASH_CTE},
perms(perm_id, a, b) AS (VALUES {_perms_values(n_perms)}),
sig AS (
  SELECT tok.doc_id, perms.perm_id,
         min((perms.a * tok.x + perms.b) % {MERSENNE31})::BIGINT AS minhash
  FROM tok CROSS JOIN perms GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, (perm_id // {rows_per_band})::INT AS band_id,
         string_agg(minhash::VARCHAR, ',' ORDER BY perm_id) AS band_key
  FROM sig GROUP BY 1, 2
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id{samp}
),
est AS (
  SELECT p.doc_a, p.doc_b,
         sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)::INT
           AS est_matches
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.perm_id = sa.perm_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM tok GROUP BY 1),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS n_inter
  FROM pairs p
  JOIN tok ta ON ta.doc_id = p.doc_a
  JOIN tok tb ON tb.doc_id = p.doc_b AND tb.x = ta.x
  GROUP BY 1, 2
),
exact AS (
  SELECT p.doc_a, p.doc_b,
         coalesce(i.n_inter, 0) * 1000000
           // (za.sz + zb.sz - coalesce(i.n_inter, 0)) AS exact_ppm
  FROM pairs p
  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sizes za ON za.doc_id = p.doc_a
  JOIN sizes zb ON zb.doc_id = p.doc_b
)
SELECT e.est_matches,
       (e.est_matches * 1000000 // {n_perms})::BIGINT AS est_ppm,
       count(*)::BIGINT AS n_pairs,
       sum(x.exact_ppm)::BIGINT AS sum_exact_ppm,
       (sum(x.exact_ppm) // count(*))::BIGINT AS mean_exact_ppm
FROM est e
JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
GROUP BY 1
"""


def repo_dependency_edges_sql() -> str:
    """Twin of graph_demo.repo_dependency_edges over the shared symbol
    seasoning CTEs: distinct (symbol, repo) sides, symbol-keyed join,
    cross-repo filter, per-(from, to) distinct-symbol count."""
    season_def = (
        "'def fn_' || (doc_id % 37)::VARCHAR || '(arg):' || chr(10) || "
        "'    pass' || chr(10) || 'class Cls_' || (doc_id % 23)::VARCHAR || "
        "':' || chr(10) || '    pass' || chr(10) || text"
    )
    return f"""
WITH dseason AS (SELECT doc_id, {season_def} AS s FROM documents),
defs AS (
  SELECT doc_id, 'function' AS kind,
         unnest(regexp_extract_all(s, 'def ([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\(', 1)) AS symbol
  FROM dseason
  UNION ALL
  SELECT doc_id, 'class' AS kind,
         unnest(regexp_extract_all(s, 'class ([a-zA-Z_][a-zA-Z0-9_]*)', 1)) AS symbol
  FROM dseason
),
{_XREF_REFS_CTE},
d AS (
  SELECT DISTINCT defs.kind || ':' || defs.symbol AS sym, dd.source AS to_repo
  FROM defs JOIN documents dd USING (doc_id)
),
r AS (
  SELECT DISTINCT refs.kind || ':' || refs.symbol AS sym, dd.source AS from_repo
  FROM refs JOIN documents dd USING (doc_id)
)
SELECT from_repo, to_repo, count(DISTINCT sym)::BIGINT AS n_symbols
FROM r JOIN d USING (sym)
WHERE from_repo <> to_repo
GROUP BY 1, 2
"""


def repo_rank_sql(iterations: int = 5) -> str:
    """Twin of graph_demo.repo_rank: the repo_dependency_edges CTEs feed an
    unweighted repo edge table; the pagerank_integer recursive scheme runs
    over ALL repos (isolated/leaf repos are dangling)."""
    season_def = (
        "'def fn_' || (doc_id % 37)::VARCHAR || '(arg):' || chr(10) || "
        "'    pass' || chr(10) || 'class Cls_' || (doc_id % 23)::VARCHAR || "
        "':' || chr(10) || '    pass' || chr(10) || text"
    )
    from searchengine_spark.operators.graph_demo import DAMP_DEN, DAMP_NUM, SCALE

    return f"""
WITH RECURSIVE
dseason AS (SELECT doc_id, {season_def} AS s FROM documents),
defs AS (
  SELECT doc_id, 'function' AS kind,
         unnest(regexp_extract_all(s, 'def ([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\(', 1)) AS symbol
  FROM dseason
  UNION ALL
  SELECT doc_id, 'class' AS kind,
         unnest(regexp_extract_all(s, 'class ([a-zA-Z_][a-zA-Z0-9_]*)', 1)) AS symbol
  FROM dseason
),
{_XREF_REFS_CTE},
dside AS (
  SELECT DISTINCT defs.kind || ':' || defs.symbol AS sym, dd.source AS to_repo
  FROM defs JOIN documents dd USING (doc_id)
),
rside AS (
  SELECT DISTINCT refs.kind || ':' || refs.symbol AS sym, dd.source AS from_repo
  FROM refs JOIN documents dd USING (doc_id)
),
edges AS (
  SELECT DISTINCT rside.from_repo AS src, dside.to_repo AS dst
  FROM rside JOIN dside USING (sym)
  WHERE rside.from_repo <> dside.to_repo
),
nodes AS (SELECT DISTINCT source AS node FROM documents),
n AS (SELECT count(*)::BIGINT AS n FROM nodes),
outdeg AS (SELECT src, count(*)::BIGINT AS od FROM edges GROUP BY 1),
pr(it, node, r) AS (
  SELECT 0, node, ({SCALE} // n.n)::BIGINT FROM nodes, n
  UNION ALL
  SELECT it + 1, node, base + contrib + dang FROM (
    SELECT p.it AS it, nd.node AS node,
           (({SCALE} * 15 // 100) // (SELECT n FROM n))::BIGINT AS base,
           coalesce((SELECT sum((p2.r * {DAMP_NUM} // {DAMP_DEN}) // o.od)
                     FROM pr p2 JOIN edges e ON e.src = p2.node
                     JOIN outdeg o ON o.src = e.src
                     WHERE e.dst = nd.node AND p2.it = p.it), 0)::BIGINT AS contrib,
           (((SELECT coalesce(sum(p3.r), 0) FROM pr p3
              WHERE p3.it = p.it AND p3.node NOT IN (SELECT src FROM outdeg))
             * {DAMP_NUM} // {DAMP_DEN}) // (SELECT n FROM n))::BIGINT AS dang
    FROM (SELECT DISTINCT it FROM pr) p, nodes nd
    WHERE p.it < {iterations}
  )
)
SELECT node AS repo, r AS rank_scaled FROM pr WHERE it = {iterations}
"""


def stopword_list_sql(df_pct_num: int = 60, df_pct_den: int = 100) -> str:
    """Twin of serve.stopword_list: integer cross-multiplication keep
    boundary over the recomputed lexicon df."""
    return f"""
WITH {_TOKENS_CTE},
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post GROUP BY 1
)
SELECT term, df, (df * 1000000 // n.n_docs)::BIGINT AS df_ppm
FROM lex, n
WHERE df * {df_pct_den} > {df_pct_num} * n.n_docs
"""


def span_first_topk_sql(term: str, k: int = 10, max_pos: int = 8) -> str:
    """Twin of serve.span_first_topk: first raw-split position per doc
    (0-based, empties retained — the shared positions convention), BM25
    single-term scoring with full-index idf."""
    return f"""
WITH {_TOKENS_CTE},
posx AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
),
firstpos AS (
  SELECT doc_id, min(pos)::BIGINT AS first_pos
  FROM posx WHERE term = '{term}' GROUP BY 1
),
{_bm25_scores_cte([term])}
SELECT s.doc_id, f.first_pos, s.score_micros
FROM scores s JOIN firstpos f USING (doc_id)
WHERE f.first_pos < {max_pos}
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""


def phrase_freq_topk_sql(
    phrase_terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """Twin of serve.phrase_freq_topk: adjacency-chain occurrence count
    per doc, idf sum in phrase order (left-assoc scalar adds), same
    saturation tree as the shared BM25 contribution."""
    conds = " AND ".join(
        f"p{i}.term = '{t}' AND p{i}.pos = p0.pos + {i}"
        for i, t in enumerate(phrase_terms)
        if i > 0
    )
    joins = "\n".join(
        f"JOIN posx p{i} ON p{i}.doc_id = p0.doc_id"
        for i in range(1, len(phrase_terms))
    )
    idf_sum = " + ".join(
        f"(SELECT idf_bm25 FROM idf WHERE term = '{t}')" for t in phrase_terms
    )
    terms_in = ", ".join(f"'{t}'" for t in phrase_terms)
    return f"""
WITH {_TOKENS_CTE},
posx AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
),
occ AS (
  SELECT DISTINCT p0.doc_id, p0.pos AS p0
  FROM posx p0
{joins}
  WHERE p0.term = '{phrase_terms[0]}' AND {conds}
),
pf AS (SELECT doc_id, count(*)::BIGINT AS phrase_freq FROM occ GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
avg_dl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dls),
lex AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM post
  WHERE term IN ({terms_in}) GROUP BY 1
),
idf AS (
  SELECT lex.term,
         ln(1.0 + (n.n_docs - lex.df + 0.5) / (lex.df + 0.5)) AS idf_bm25
  FROM lex, n
)
SELECT pf.doc_id, pf.phrase_freq,
       CAST(round(({idf_sum})
                  * (pf.phrase_freq * {k1 + 1.0})
                  / (pf.phrase_freq + {k1} * (1.0 - {b} + {b} * dls.dl / avg_dl.avgdl))
                  * 1e6) AS BIGINT) AS score_micros
FROM pf JOIN dls ON pf.doc_id = dls.doc_id CROSS JOIN avg_dl
ORDER BY score_micros DESC, pf.doc_id ASC
LIMIT {k}
"""


def gap_phrase_topk_sql(phrase_terms: list[str], gap: int = 1, k: int = 10) -> str:
    """Twin of serve.gap_phrase_topk: positions chain with stride gap+1,
    constituents' BM25 over the candidate docs."""
    stride = gap + 1
    conds = " AND ".join(
        f"p{i}.term = '{t}' AND p{i}.pos = p0.pos + {i * stride}"
        for i, t in enumerate(phrase_terms)
        if i > 0
    )
    joins = "\n".join(
        f"JOIN posx p{i} ON p{i}.doc_id = p0.doc_id"
        for i in range(1, len(phrase_terms))
    )
    return f"""
WITH {_TOKENS_CTE},
posx AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
),
cand AS (
  SELECT DISTINCT p0.doc_id
  FROM posx p0
{joins}
  WHERE p0.term = '{phrase_terms[0]}' AND {conds}
),
{_bm25_scores_cte(phrase_terms)}
SELECT s.doc_id, s.score_micros
FROM scores s JOIN cand USING (doc_id)
ORDER BY score_micros DESC, doc_id ASC
LIMIT {k}
"""
