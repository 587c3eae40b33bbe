"""Arrow-vectorized UDF wrappers around the quirk-faithful tokenizer.

These are the ONLY Python crossings on the index-build hot path (SURVEY.md
§2.9). Everything arrives/leaves as Arrow batches via ``mapInPandas``; the
regex passes are pandas ``.str`` vectorized, the Porter stemmer is a cached
dict map (amortized per unique token — text columns are highly repetitive).

Per-row semantics are defined by ``functions/textproc.py`` — the exact same
Python functions the pure-Python oracle uses, so fixture equality is by
construction and any divergence is a Spark-plumbing bug, not a tokenizer one.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa

from searchengine_spark.functions.textproc import index_tokenize

_HEADING = re.compile(r"(?m)^(#{1,3})\s*(.*)$")

POSTINGS_SCHEMA = (
    "doc_id long, term string, tf int, positions array<int>, dl long, "
    "term_h1 boolean, term_h2 boolean, term_h3 boolean"
)


def _heading_lines(content: str) -> tuple[list[str], list[str], list[str]]:
    """Markdown heading text per level — the corpus analog of the page's
    h1/h2/h3 elements (Indexer.java:216-219)."""
    h: tuple[list[str], list[str], list[str]] = ([], [], [])
    for m in _HEADING.finditer(content):
        h[len(m.group(1)) - 1].append(m.group(2).lower())
    return h


def emit_postings_arrow(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
    """mapInArrow twin of :func:`emit_postings` — identical rows, but the
    output batch is built as native pyarrow arrays (flat value buffers +
    offsets for the positions lists). Skipping the pandas object-dtype
    round-trip cuts the serialization cost of the ~30 output rows per input
    doc by ~2×; semantics are byte-identical to the pandas path (same
    per-doc iteration order).
    """
    for batch in batches:
        names = batch.schema.names
        doc_ids = batch.column(names.index("doc_id")).to_pylist()
        contents = batch.column(names.index("content")).to_pylist()
        col_doc: list[int] = []
        col_term: list[str] = []
        col_tf: list[int] = []
        col_dlen: list[int] = []
        col_h1: list[bool] = []
        col_h2: list[bool] = []
        col_h3: list[bool] = []
        pos_flat: list[int] = []
        pos_offsets: list[int] = [0]
        for doc_id, content in zip(doc_ids, contents):
            tf, positions, total = index_tokenize(content)
            if not tf:
                continue
            h1, h2, h3 = _heading_lines(content)
            terms = list(tf.keys())
            n = len(terms)
            col_doc.extend([doc_id] * n)
            col_term.extend(terms)
            col_tf.extend(tf.values())
            col_dlen.extend([total] * n)
            for t in terms:
                pos_flat.extend(positions[t])
                pos_offsets.append(len(pos_flat))
            for col, lines in ((col_h1, h1), (col_h2, h2), (col_h3, h3)):
                if lines:
                    joined = "\n".join(lines)
                    col.extend((t in joined) for t in terms)
                else:
                    col.extend([False] * n)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(col_doc, pa.int64()),
                pa.array(col_term, pa.string()),
                pa.array(col_tf, pa.int32()),
                pa.ListArray.from_arrays(
                    pa.array(pos_offsets, pa.int32()), pa.array(pos_flat, pa.int32())
                ),
                pa.array(col_dlen, pa.int64()),
                pa.array(col_h1, pa.bool_()),
                pa.array(col_h2, pa.bool_()),
                pa.array(col_h3, pa.bool_()),
            ],
            names=[
                "doc_id", "term", "tf", "positions", "dl",
                "term_h1", "term_h2", "term_h3",
            ],
        )


def emit_postings(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: (doc_id, content) batches → one row per (doc, term).

    tf / positions / dl follow computeTFWithPositions exactly (quirks
    Q1/Q2/Q4/Q15); term_h{1,2,3} is the reference's per-term header flag —
    the *stemmed* term substring-matched against raw lowercased heading text
    (Indexer.java:257-270, quirk in SURVEY.md T5).
    """
    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [], "term": [], "tf": [], "positions": [], "dl": [],
            "term_h1": [], "term_h2": [], "term_h3": [],
        }
        for doc_id, content in zip(pdf["doc_id"].values, pdf["content"].values):
            tf, positions, total = index_tokenize(content)
            if not tf:
                continue
            h1, h2, h3 = _heading_lines(content)
            terms = list(tf.keys())
            n = len(terms)
            out["doc_id"].extend([doc_id] * n)
            out["term"].extend(terms)
            out["tf"].extend(tf.values())
            out["positions"].extend(positions[t] for t in terms)
            out["dl"].extend([total] * n)
            # substring test against the '\n'-joined heading text is exactly
            # equivalent to any(term in line): terms never contain '\n'
            for col, lines in (("term_h1", h1), ("term_h2", h2), ("term_h3", h3)):
                if lines:
                    joined = "\n".join(lines)
                    out[col].extend((t in joined) for t in terms)
                else:
                    out[col].extend([False] * n)
        yield pd.DataFrame(out)


DOCMETA_SCHEMA = "doc_id long, doc_len long, h1 boolean, h2 boolean, h3 boolean"


def emit_docmeta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-doc totalTerms + page-level heading-presence flags
    (Indexer.java:216-219)."""
    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"].values, pdf["content"].values):
            _, _, total = index_tokenize(content)
            h1, h2, h3 = _heading_lines(content)
            rows.append((doc_id, total, bool(h1), bool(h2), bool(h3)))
        yield pd.DataFrame(rows, columns=["doc_id", "doc_len", "h1", "h2", "h3"])
