"""REST serving twin of the reference's search API (S10).

The reference exposes ``GET /api/search?query=`` returning
``{"results": [{term,url,title,snippet,id}...], "total": n}`` with
CORS enabled (controller/SearchController.java:17-21 routes into
SearchService.processSearchQuery; config/WebConfig.java:10-15 opens CORS).
This module is the PySpark-native twin: a stdlib ``ThreadingHTTPServer``
front end over the index-served query paths — no web framework needed, and
the long-lived ``SparkSession`` plays the role the reference's Spring
container + Mongo connection pool play.

Query routing mirrors SearchService.processSearchQuery:

- quoted query (``isPhraseSearch``, SearchService.java:93-95) → phrase
  path: positional adjacency over the stored postings (correct-by-
  positions, unlike the reference's snippet-scan, quirk Q10) filters
  candidates, THEN BM25 ranks the survivors (filter-then-rank, the
  reference's flow at :99-133);
- plain query → term path: index-served BM25 top-k with url/title/snippet
  assembly (results.result_rows = convertDocumentsToResults shape).

Result rows carry exactly the reference's five fields
(SearchService.java:391-423): ``term, url, title, snippet, id``
(id = doc_id — our analog of the Mongo ObjectId).

Per request, a plain, phrase or boolean search is three Spark executions:
one lexicon point lookup (for a boolean query, one for the filter and the
ranking together); one top-k aggregate over the pruned postings that
scores, picks each doc's snippet term and (for a phrase) checks adjacency
in the same pass; one plain documents scan, a single stage with the <=k
winner ids pushed down, that collects their ``(doc_id, source, text)``.
The <=k result rows — url, title, snippet, rank — are then built in Python
on the driver (results.result_rows), the snippet contract's one renderer.

Scale: the HTTP layer is driver-side only; every request runs the same
partition-pruned plans the gated queries run, so a serving deployment is
one long-lived Spark application per replica with the index on shared
storage — the reference's "Spring app over a shared MongoDB" topology,
re-expressed.

Run:
    spark-submit --py-files sespark.zip searchengine_spark/jobs/serve_api.py \\
        --sf-dir /root/testdata/sf0.001 [--port 8080]
"""

from __future__ import annotations

import argparse
import itertools
import json
import re
import sys
import threading
import urllib.parse
from collections import deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from searchengine_spark.operators.literals import local_frame

MAX_K = 100
# the history suggester ranks the most recent searches only: the log is
# inlined into each suggestion's plan, so its size is that plan's size
HISTORY_WINDOW = 500


class SearchAPI:
    """Query engine behind the HTTP handler: gate index + documents table,
    loaded once (build-or-load) at construction — requests never rebuild."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        from searchengine_spark.plans.gate_index import gate_index
        from searchengine_spark.sources.tables import load_table

        self.spark = spark
        self.idx = gate_index(spark, sf_dir)
        self.documents = load_table(spark, sf_dir, "documents")
        # (seq, query) saveQuery log, the last HISTORY_WINDOW searches
        self._history: deque[tuple[int, str]] = deque(maxlen=HISTORY_WINDOW)
        self._seq = itertools.count()
        try:
            self.embeddings = load_table(spark, sf_dir, "embeddings")
        except Exception:  # corpus dirs without an embeddings table
            self.embeddings = None

    @staticmethod
    def parse_query(raw: str) -> tuple[list[str], bool]:
        """(terms, is_phrase). Phrase = wrapped in double quotes
        (SearchService.java:93-95); terms via the simple gate tokenizer."""
        raw = raw.strip()
        is_phrase = len(raw) >= 2 and raw.startswith('"') and raw.endswith('"')
        if is_phrase:
            raw = raw[1:-1]
        terms = [t for t in re.split(r"[^a-z0-9]+", raw.lower()) if t]
        return terms, is_phrase

    # a query routes to the boolean planner when it uses the operator
    # keywords or grouping parens (the phrase path, being quoted, never does)
    _BOOL_RE = re.compile(r"\b(AND|OR|NOT)\b|[()]")
    MAX_WILDCARD_TERMS = 16  # bounded expansion, like Lucene's maxExpansions

    def search(self, raw_query: str, k: int = 10) -> list[dict]:
        """Ranked result dicts in the reference's response-row shape.

        Routing (extends SearchService.processSearchQuery): quoted →
        phrase filter-then-rank; contains AND/OR/NOT/parens → boolean
        set-algebra filter over the leaf terms, then rank; a single
        ``prefix*`` token → dictionary expansion (bounded) then rank;
        plain → BM25 top-k."""
        from searchengine_spark.operators import serve
        from searchengine_spark.operators.results import result_rows

        terms, is_phrase = self.parse_query(raw_query)
        raw_s = raw_query.strip()
        doc_filter = rows = None
        if not is_phrase and self._BOOL_RE.search(raw_s):
            from searchengine_spark.operators.boolquery import (
                BoolQueryError,
                boolean_query,
                leaf_terms,
                parse,
                positive_leaf_terms,
            )

            try:
                ast = parse(raw_s)  # parsed ONCE; the planner reuses the AST
                # one lexicon lookup serves the filter and the ranking
                rows = serve._qlex(self.spark, self.idx, sorted(leaf_terms(ast)))
                doc_filter = boolean_query(self.spark, self.idx, ast, rows)
                # rank over positive leaves only — a NOT-ed term is absent
                # from every surviving doc, so scoring it is a wasted scan
                terms = sorted(positive_leaf_terms(ast))
                rows = [r for r in rows if r["term"] in terms]
            except BoolQueryError:
                pass  # malformed boolean → plain term search over its words
        elif not is_phrase and raw_s.endswith("*") and len(raw_s) >= 2 and " " not in raw_s:
            prefix = raw_s[:-1].lower()
            if prefix:  # bare "*" would match the whole dictionary — reject
                expanded = [
                    r["term"]
                    for r in serve.expand_prefix(
                        self.idx, prefix, self.MAX_WILDCARD_TERMS
                    )
                ]
                if expanded:
                    terms = expanded
        if not terms:
            return []
        hits = result_rows(
            self.spark,
            self.idx,
            self.documents,
            terms,
            k=k,
            doc_filter=doc_filter,
            phrase=is_phrase and len(terms) >= 2,
            rows=rows,
        )
        return [
            {
                "term": r.term,
                "url": r.url,
                "title": r.title,
                "snippet": r.snippet,
                "id": r.doc_id,
            }
            for r in hits
        ]

    def suggest_query(self, raw_query: str) -> str | None:
        """Did-you-mean for a zero-result query: every term's best
        Levenshtein<=1 lexicon neighbor in ONE job
        (serve.fuzzy_suggest_multi — all terms' SymSpell deletion keys in a
        single broadcast map joined against the lexicon keys). Returns the
        corrected query string, or None when no term improves (every term
        already exists at dist 0 or has no neighbor)."""
        from searchengine_spark.operators import serve

        terms, _ = self.parse_query(raw_query)
        if not terms:
            return None
        best = {
            r["word"]: (r["term"], r["dist"])
            for r in serve.fuzzy_suggest_multi(
                self.spark, self.idx, terms, k=1
            ).collect()
        }
        out, changed = [], False
        for t in terms:
            term, dist = best.get(t, (t, 0))
            out.append(term if dist > 0 else t)
            changed = changed or dist > 0
        return " ".join(out) if changed else None

    def suggest_prefix(self, prefix: str, k: int = 5) -> list[dict]:
        """Autocomplete: top-k lexicon terms under a prefix (the A9/O3
        suggestion path as a live route — one dictionary range scan)."""
        from searchengine_spark.operators import serve

        prefix = prefix.strip().lower()
        if not prefix:
            return []
        rows = serve.prefix_suggest(self.spark, self.idx, prefix, k=k).collect()
        return [{"term": r[0], "count": int(r[1])} for r in rows]

    def record_query(self, query: str) -> None:
        """saveQuery twin (suggestionService.js:16-30): append to the
        in-process query log; blank queries are never saved. The log is the
        localStorage analog — a real deployment swaps in a log table. The
        oldest entry drops out once the log holds HISTORY_WINDOW."""
        if query.strip():
            self._history.append((next(self._seq), query))

    def suggest_history(self, prefix: str, k: int = 5) -> list[dict]:
        """History-ranked autocomplete (getSuggestions twin): queries the
        user actually ran, case-folded counts, first-seen casing, stable
        count-desc order. Falls back to the synthetic demo log when no
        query has been recorded yet."""
        from searchengine_spark.operators import serve

        prefix = prefix.strip()
        if not prefix:
            return []
        if self._history:
            log = local_frame(self.spark, self._history, "seq long, query string")
        else:
            log = serve.synth_query_log(self.spark, 64)
        rows = serve.history_suggest(self.spark, log, prefix, k=k).collect()
        return [{"query": r["query"], "count": int(r["n"])} for r in rows]

    def similar(self, vec_id: int, k: int = 5) -> list[dict]:
        """Vector similar-items route: exact cosine top-k neighbors of one
        stored embedding (the single-query form of ann_bruteforce_topk —
        the query vector is a driver constant, the corpus side is one
        Arrow-batched integer matmul pass)."""
        from searchengine_spark.operators import similarity

        if self.embeddings is None:
            return []
        rows = similarity.ann_bruteforce_topk(
            self.embeddings, k=k, query_ids=[int(vec_id)]
        ).collect()
        return [
            {
                "neighbor_id": int(r["neighbor_id"]),
                "rank": int(r["rank"]),
                "cosine_micros": int(r["cosine_micros"]),
            }
            for r in rows
        ]

    def more_like(self, doc_id: int, k: int = 5) -> list[dict]:
        """"Similar pages" route: MoreLikeThis over the gate index — the
        source doc's top tf·idf terms as the query, source excluded. The
        <=k winners' metadata comes from one isin-pruned documents fetch."""
        from pyspark.sql import functions as F

        from searchengine_spark.operators import serve

        rows = serve.more_like_this(
            self.spark, self.idx, self.documents, int(doc_id), k=k
        ).collect()
        if not rows:
            return []
        meta = {
            r["doc_id"]: r["source"]
            for r in self.documents.filter(
                F.col("doc_id").isin([r["doc_id"] for r in rows])
            )
            .select("doc_id", "source")
            .collect()
        }
        return [
            {
                "doc_id": int(r["doc_id"]),
                "score_micros": int(r["score_micros"]),
                "source": meta.get(r["doc_id"]),
            }
            for r in rows
        ]

    def explain(self, raw_query: str, k: int = 10) -> list[dict]:
        """Relevance-debugging route (Lucene ``explain``): per-(doc, term)
        contribution breakdown of the top-k — the gated bm25_explain path
        on the wire."""
        from searchengine_spark.operators import serve

        terms, _ = self.parse_query(raw_query)
        if not terms:
            return []
        rows = serve.bm25_explain(self.spark, self.idx, terms, k=k).collect()
        return [
            {
                "doc_id": int(r["doc_id"]),
                "term": r["term"],
                "tf": int(r["tf"]),
                "df": int(r["df"]),
                "contrib_micros": int(r["contrib_micros"]),
                "score_micros": int(r["score_micros"]),
            }
            for r in rows
        ]

    def stats(self) -> dict:
        """Index-statistics route (ES ``_stats`` shape) — the gated
        index_stats one-row summary."""
        from searchengine_spark.operators import serve

        row = serve.index_stats(self.spark, self.idx).collect()[0]
        return {c: int(row[c]) for c in row.asDict()}

    def start(self, port: int = 0) -> ThreadingHTTPServer:
        """Bind and serve on a daemon thread; returns the server (port via
        ``server.server_address[1]``, stop via ``server.shutdown()``)."""
        server = ThreadingHTTPServer(("127.0.0.1", port), _make_handler(self))
        threading.Thread(target=server.serve_forever, daemon=True).start()
        return server


def _make_handler(api: SearchAPI):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # quiet under pytest
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            # WebConfig.java:10-15 — CORS open for the frontend
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (stdlib naming)
            parsed = urllib.parse.urlparse(self.path)
            qs = urllib.parse.parse_qs(parsed.query)
            try:
                k = min(MAX_K, max(1, int(qs.get("k", ["10"])[0])))
            except ValueError:
                self._send(400, {"error": "bad k"})
                return
            if parsed.path == "/api/suggest":
                # ?source=history ranks by the user's past queries
                # (suggestionService.js twin); default stays corpus-frequency
                try:
                    if qs.get("source", [""])[0] == "history":
                        terms = api.suggest_history(qs.get("prefix", [""])[0], k=k)
                    else:
                        terms = api.suggest_prefix(qs.get("prefix", [""])[0], k=k)
                except Exception as exc:
                    self._send(500, {"error": str(exc)})
                    return
                self._send(200, {"suggestions": terms, "total": len(terms)})
                return
            if parsed.path == "/api/similar":
                try:
                    vec_id = int(qs.get("id", [""])[0])
                except ValueError:
                    self._send(400, {"error": "bad id"})
                    return
                try:
                    neighbors = api.similar(vec_id, k=k)
                except Exception as exc:
                    self._send(500, {"error": str(exc)})
                    return
                self._send(200, {"neighbors": neighbors, "total": len(neighbors)})
                return
            if parsed.path == "/api/mlt":
                try:
                    doc_id = int(qs.get("id", [""])[0])
                except ValueError:
                    self._send(400, {"error": "bad id"})
                    return
                try:
                    similar_docs = api.more_like(doc_id, k=k)
                except Exception as exc:
                    self._send(500, {"error": str(exc)})
                    return
                self._send(200, {"similar": similar_docs, "total": len(similar_docs)})
                return
            if parsed.path == "/api/explain":
                try:
                    rows = api.explain(qs.get("query", [""])[0], k=k)
                except Exception as exc:
                    self._send(500, {"error": str(exc)})
                    return
                self._send(200, {"explain": rows, "total": len(rows)})
                return
            if parsed.path == "/api/stats":
                try:
                    payload = api.stats()
                except Exception as exc:
                    self._send(500, {"error": str(exc)})
                    return
                self._send(200, payload)
                return
            if parsed.path != "/api/search":
                self._send(404, {"error": "not found"})
                return
            query = qs.get("query", [""])[0]
            try:
                results = api.search(query, k=k)
                api.record_query(query)  # feed the history suggester
            except Exception as exc:  # surface, don't kill the server
                self._send(500, {"error": str(exc)})
                return
            # SearchResponse shape (SearchService.java:87-90), extended
            # with a did_you_mean correction when nothing matched
            payload = {"results": results, "total": len(results)}
            if not results:
                try:
                    dym = api.suggest_query(query)
                except Exception:
                    dym = None
                if dym:
                    payload["did_you_mean"] = dym
            self._send(200, payload)

    return Handler


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--port", type=int, default=8080)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from searchengine_spark.session import get_spark

    # serving session: AQE off (same rationale as run_queries — adaptive
    # re-planning buys nothing on k-row plans and costs driver round-trips)
    spark = get_spark(
        master=args.master,
        app_name="serve_api",
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    api = SearchAPI(spark, args.sf_dir)
    server = api.start(port=args.port)
    print(f"listening on http://127.0.0.1:{server.server_address[1]}/api/search")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    sys.exit(main())
