"""Boolean query language: AND / OR / NOT with parentheses over index terms.

The reference exposes plain multi-term queries plus ALL/ANY/EXCEPT modes
(SearchService.java query handling); real engines layer a full boolean
algebra on the same postings primitives. This module supplies the parser +
planner: a recursive-descent parse of ``a AND (b OR c) AND NOT d`` into an
AST, then per-leaf partition-pruned postings lookups (the same
bucket+term-pushdown scans exact queries use — each leaf costs one
per-term point lookup, never a corpus pass) combined with pure set algebra:
inner join for AND, union-distinct for OR, left-anti for AND NOT. Every
set operation is an equi-join/agg on doc_id — shuffle-partitioned by the
key, no driver-side evaluation, deterministic output.

Grammar (keywords are UPPERCASE-only, the Lucene classic-parser
convention — lowercase "and"/"or"/"not" are ordinary search terms, so a
natural-language query never flips meaning; implicit AND by juxtaposition):

    expr   := orexp
    orexp  := andexp (OR andexp)*
    andexp := unary ((AND)? unary)*      # "a b" == "a AND b"
    unary  := NOT unary | '(' expr ')' | TERM

NOT binds tightest and is only legal intersected with at least one positive
sibling (Lucene's MUST_NOT rule): a pure negation would mean "the whole
corpus minus X", which no index should enumerate — it is rejected at plan
time. Double negation is rejected for the same reason.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.literals import local_frame
from searchengine_spark.operators.serve import _pruned_postings, _qlex

_TOKEN_RE = re.compile(r"\(|\)|[a-z0-9]+", re.IGNORECASE)
_KEYWORDS = {"AND", "OR", "NOT"}  # exact match — uppercase only


class BoolQueryError(ValueError):
    """Malformed boolean query (syntax error or unsatisfiable negation)."""


def parse(query: str) -> tuple:
    """Parse to an AST of ('term', t) | ('and', [..]) | ('or', [..]) |
    ('not', child) tuples. Raises BoolQueryError on malformed input."""
    toks = _TOKEN_RE.findall(query)
    if not toks:
        raise BoolQueryError("empty query")
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def take() -> str:
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def is_kw(t: str | None, kw: str) -> bool:
        return t == kw  # keywords are uppercase-only (module docstring)

    def parse_or() -> tuple:
        parts = [parse_and()]
        while is_kw(peek(), "OR"):
            take()
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def parse_and() -> tuple:
        parts = [parse_unary()]
        while True:
            t = peek()
            if is_kw(t, "AND"):
                take()
                parts.append(parse_unary())
            elif t is not None and t != ")" and not is_kw(t, "OR"):
                parts.append(parse_unary())  # implicit AND
            else:
                break
        return parts[0] if len(parts) == 1 else ("and", parts)

    def parse_unary() -> tuple:
        t = peek()
        if t is None:
            raise BoolQueryError("unexpected end of query")
        if is_kw(t, "NOT"):
            take()
            child = parse_unary()
            if child[0] == "not":
                raise BoolQueryError("double negation is not supported")
            return ("not", child)
        if t == "(":
            take()
            node = parse_or()
            if peek() != ")":
                raise BoolQueryError("missing ')'")
            take()
            return node
        if t == ")":
            raise BoolQueryError("unexpected ')'")
        if t in _KEYWORDS:
            raise BoolQueryError(f"keyword {t!r} where a term was expected")
        take()
        return ("term", t.lower())

    node = parse_or()
    if pos != len(toks):
        raise BoolQueryError(f"trailing input at token {toks[pos]!r}")
    _validate(node, negatable=False)
    return node


def _validate(node: tuple, negatable: bool) -> None:
    """Reject NOT outside an AND with >=1 positive sibling."""
    kind = node[0]
    if kind == "not":
        if not negatable:
            raise BoolQueryError(
                "NOT is only valid intersected with a positive clause"
            )
        _validate(node[1], negatable=False)
    elif kind == "and":
        if all(c[0] == "not" for c in node[1]):
            raise BoolQueryError("conjunction of only negations")
        for c in node[1]:
            _validate(c, negatable=True)
    elif kind == "or":
        for c in node[1]:
            _validate(c, negatable=False)


def leaf_terms(node: tuple) -> set[str]:
    kind = node[0]
    if kind == "term":
        return {node[1]}
    if kind == "not":
        return leaf_terms(node[1])
    return set().union(*(leaf_terms(c) for c in node[1]))


def positive_leaf_terms(node: tuple) -> set[str]:
    """Leaf terms NOT under a negation — the ones whose BM25 contribution
    can be non-zero on the query's hit set (a NOT-ed term is absent from
    every surviving doc by construction, so ranking over it is pure waste)."""
    kind = node[0]
    if kind == "term":
        return {node[1]}
    if kind == "not":
        return set()
    return set().union(*(positive_leaf_terms(c) for c in node[1]))


def boolean_query(
    spark: SparkSession, idx: dict, query: str | tuple, rows: list | None = None
) -> DataFrame:
    """Evaluate a boolean query against the gate index → distinct doc_ids.

    One lexicon lookup resolves every leaf term's postings bucket, then each
    leaf is a pruned postings point lookup; the AST folds bottom-up with
    doc_id set algebra. Terms absent from the lexicon evaluate to the empty
    set (standard boolean-retrieval semantics). ``query`` may be a raw
    string or an already-parsed AST (callers that also need the leaf terms
    parse once and pass the tuple); ``rows`` are the leaf terms' lexicon
    rows (``serve._qlex``) when the caller has looked them up already, as
    the REST route does to rank with the same rows."""
    ast = parse(query) if isinstance(query, str) else query
    if rows is None:
        rows = _qlex(spark, idx, sorted(leaf_terms(ast)))
    posts = _pruned_postings(idx, rows).select("term", "doc_id") if rows else None
    empty = local_frame(spark, [], "doc_id long")

    def leaf(t: str) -> DataFrame:
        if posts is None:
            return empty
        return posts.filter(F.col("term") == t).select("doc_id")

    def ev(node: tuple) -> DataFrame:
        kind = node[0]
        if kind == "term":
            return leaf(node[1])
        if kind == "or":
            return reduce(DataFrame.unionByName, (ev(c) for c in node[1])).distinct()
        # and: intersect positives, then subtract negations
        pos = [ev(c) for c in node[1] if c[0] != "not"]
        neg = [ev(c[1]) for c in node[1] if c[0] == "not"]
        acc = reduce(lambda a, b: a.join(b, "doc_id"), pos)
        for n in neg:
            acc = acc.join(n, "doc_id", "left_anti")
        return acc

    return ev(ast)


def boolean_query_sql(query: str) -> str:
    """ANSI set-algebra twin generated from the SAME AST: AND → INTERSECT,
    OR → UNION (distinct), AND NOT → EXCEPT."""
    from searchengine_spark.oracles import _TOKENS_CTE

    ast = parse(query)

    def sql(node: tuple) -> str:
        kind = node[0]
        if kind == "term":
            return f"SELECT doc_id FROM post WHERE term = '{node[1]}'"
        if kind == "or":
            return "(" + " UNION ".join(sql(c) for c in node[1]) + ")"
        pos = [c for c in node[1] if c[0] != "not"]
        neg = [c[1] for c in node[1] if c[0] == "not"]
        q = " INTERSECT ".join(sql(c) for c in pos)
        for n in neg:
            q += " EXCEPT " + sql(n)
        return "(" + q + ")"

    top = sql(ast)
    if not top.startswith("("):
        top = "(" + top + ")"
    return f"WITH {_TOKENS_CTE}\nSELECT doc_id FROM {top} AS q"
