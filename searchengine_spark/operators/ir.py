"""The two idf definitions every lexicon and scorer shares (SURVEY.md
§2.3-§2.4): df/idf are per-term columns of the lexicon (reference: $inc df
per insert, DBController.java:105 — we count distinct docs, quirk Q7
fixed), computed once at build time and read by every query path.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def idf_bm25_expr(n_docs: int, df_col: str = "df") -> F.Column:
    """Robertson ln(1 + (N-df+0.5)/(df+0.5)) — the ONE definition every
    consumer (lexicon, top-k scorers, oracles-by-construction) shares."""
    n = F.lit(float(n_docs))
    df_ = F.col(df_col).cast("double")
    return F.log(F.lit(1.0) + (n - df_ + 0.5) / (df_ + 0.5))


def idf_compat_expr(n_docs: int, df_col: str = "df") -> F.Column:
    """The reference's ln(N/(1+df)) (Indexer.java:184, quirk Q9 — may go
    negative; reproduced for compat scoring)."""
    return F.log(F.lit(float(n_docs)) / (F.col(df_col).cast("double") + 1.0))
