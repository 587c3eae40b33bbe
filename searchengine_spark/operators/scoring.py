"""Query-time scoring: reference-compat (Ranker.java) and BM25 modes.

The compat scorer reproduces Ranker.java:30-97 exactly (quirks Q3, Q9, Q14,
Q15), but as ONE hash aggregate + ONE per-query window instead of the
reference's N+1 Mongo lookups per posting (SearchService.java:301-302):

    score = 0.4 * tfIdfSum/maxTfIdf            (tf = freq/totalTerms)
          + 0.3 * pagerank/maxPageRank
          + 0.7 * titleMatches/|Query_Words|
          + min(headerScore, 0.45)

- maxTfIdf / maxPageRank are per-query maxima over the candidate set (A6) —
  a cross-candidate window, not a global constant;
- headerScore accumulates 0.45/0.25/0.1 per matched (term,doc) posting with
  term-level header flags, capped at 0.45 (Q14);
- titleMatches counts query-word containment in the title once per matched
  posting row (so multi-term matches inflate it — reference behavior);
- Query_Words comes from the broken split regex (Q3).
"""

from __future__ import annotations

TITLE_WEIGHT = 0.7
H1_WEIGHT, H2_WEIGHT, H3_WEIGHT = 0.45, 0.25, 0.1
TFIDF_WEIGHT = 0.4
PAGERANK_WEIGHT = 0.3
