"""Expected search answers from the package's DuckDB oracle SQL, and the
comparison that turns a wrong answer into a failed operation."""

from __future__ import annotations

import re

import duckdb
import pandas as pd

from searchengine_spark.oracles import phrase_topk_sql, search_results_sql


def connect(documents: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("documents", documents)
    return con


def expected_ids(con: duckdb.DuckDBPyConnection, query: str, k: int) -> list[int]:
    """Doc ids, in rank order, that ``GET /api/search?query=`` must return.

    A quoted query is a phrase: the positional phrase match filters the
    documents before BM25 ranks them. Any other query is a plain BM25 top-k
    assembled into result rows."""
    raw = query.strip()
    is_phrase = len(raw) >= 2 and raw.startswith('"') and raw.endswith('"')
    terms = [t for t in re.split(r"[^a-z0-9]+", raw.strip('"').lower()) if t]
    if not terms:
        return []
    if is_phrase and len(terms) >= 2:
        sql = phrase_topk_sql(terms, k)
    else:
        sql = f"SELECT doc_id FROM ({search_results_sql(terms, k)}) r ORDER BY rank"
    return [int(r[0]) for r in con.execute(sql).fetchall()]


def wrong_answers(
    queries: list[str], expected: list[list[int]], got: list[list[int] | None]
) -> list[str]:
    """One line per query whose answer is missing, empty or differs from
    the oracle's (every benchmark query has at least one hit)."""
    return [
        f"query {q!r}: got {g}, oracle {e}"
        for q, e, g in zip(queries, expected, got, strict=True)
        if not e or g != e
    ]
