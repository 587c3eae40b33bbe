"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-k on sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query (same column names).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from searchengine_spark import oracles
from searchengine_spark.operators import serve
from searchengine_spark.plans.build_index import ensure_segments
from searchengine_spark.plans.gate_index import gate_index
from searchengine_spark.sources.tables import load_table

SF0001 = "/root/testdata/sf0.001"

# fixed reference query set over the documents vocabulary
BM25_TERMS = ["spark", "hash", "join"]
TFIDF_TERMS = ["merge", "sort", "window"]
ALL_TERMS = ["vector", "stream", "window"]
PHRASE = ["hash", "join"]
# compat-gate query: words must be Porter-fixed points (query_tokenize
# returns them unchanged) so the DuckDB oracle needs no stemmer
COMPAT_QUERY = "hash join window"
COMPAT_TERMS = ["hash", "join", "window"]
FUZZY_WORD = "spack"  # ED-1 from "spark" (and "stack"): exercises substitution
# corrected-search gate: one substitution typo, one deletion typo, one
# in-vocab word (its own distance-0 winner), one unfixable OOV (drops out)
CORRECTED_QUERY = "spack joim window qqqqzz"
COMPOUND_WORD = "hashjoin"  # OOV concatenation of two dictionary terms
# batch-evaluation gate: three queries (incl. overlapping terms) in one pass
BATCH_QUERIES = {
    "q_bm25": BM25_TERMS,
    "q_tfidf": TFIDF_TERMS,
    "q_mixed": ["spark", "stream"],
}
TOPK = 10
# boolean-algebra gate: parens + implicit/explicit AND + OR + NOT
BOOL_QUERY = "(spark AND stream) OR (hash AND NOT join)"
# synonym-group gate: two macro-terms over the corpus vocabulary
SYNONYM_GROUPS = {"g_sortmerge": ["sort", "merge"], "g_streamwin": ["stream", "window"]}
# MoreLikeThis gate: any corpus doc works; 3 exists at every sf
MLT_DOC = 3
# per-term query boosts (Lucene term^boost) — exact binary doubles
BOOSTS = {"spark": 2.0, "hash": 1.0, "join": 0.5}
# common-terms gate: one rare driver term ("dup", df≈5%) + two
# stopword-frequency terms (df≈75%) — candidates come from "dup" only
COMMON_TERMS_QUERY = ["dup", "spark", "join"]
# rendezvous-routing gate: shard count (the S→S+1 property is pytest-only)
N_SHARDS_ROUTE = 5


def _shard_routing(spark: SparkSession, sf: str) -> DataFrame:
    from searchengine_spark.operators.routing import rendezvous_route

    return rendezvous_route(_docs(spark, sf), N_SHARDS_ROUTE)


def _shard_rebalance_moves(spark: SparkSession, sf: str) -> DataFrame:
    from searchengine_spark.operators.routing import rebalance_moves

    return rebalance_moves(_docs(spark, sf), N_SHARDS_ROUTE, N_SHARDS_ROUTE + 1)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: BM25 top-k over documents at sf0.001, served from the
    prebuilt gate index (build-or-load, then a pruned postings lookup)."""
    from searchengine_spark.session import ship_package

    ship_package(spark)  # harness-created sessions: workers get the package
    return serve.bm25_topk(spark, gate_index(spark, SF0001), BM25_TERMS, k=TOPK)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.fetch import crawl_schedule

    return crawl_schedule(_docs(spark, sf_dir), n_hosts=7, delay_ms=500)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from searchengine_spark.operators import corpusstats, dedup, segments, similarity, textstats

    def emb(spark, sf):
        return load_table(spark, sf, "embeddings")

    out = {
        # --- inverted index / retrieval, SERVED FROM THE BUILT INDEX ---
        # (plans/gate_index.py: one build_index run per sf over the documents
        # table; every entry below is a partition-pruned index lookup, not a
        # corpus re-tokenization — SURVEY.md §2.3-2.6, §3)
        "postings_tf": lambda spark, sf: serve.postings_tf(spark, gate_index(spark, sf)),
        "lexicon_stats": lambda spark, sf: serve.lexicon_stats(spark, gate_index(spark, sf)),
        # corpus-driven stopword generation (integer df-fraction boundary)
        # exact-gap phrase ("hash ? join"): wildcard-slot SpanNear pattern
        "gap_phrase_topk": lambda spark, sf: serve.phrase_topk(
            spark, gate_index(spark, sf), PHRASE, k=TOPK, gap=1
        ),
        # PhraseQuery-style scoring: phrase occurrence count drives the tf
        "phrase_freq_topk": lambda spark, sf: serve.phrase_freq_topk(
            spark, gate_index(spark, sf), PHRASE, k=TOPK
        ),
        # SpanFirstQuery analog: term within the first max_pos positions
        "span_first_topk": lambda spark, sf: serve.span_first_topk(
            spark, gate_index(spark, sf), BM25_TERMS[0], k=TOPK, max_pos=8
        ),
        "stopword_list": lambda spark, sf: serve.stopword_list(
            spark, gate_index(spark, sf), df_pct_num=60
        ),
        # index statistics endpoint (CheckIndex / ES _stats shape)
        "index_stats": lambda spark, sf: serve.index_stats(
            spark, gate_index(spark, sf)
        ),
        "bm25_topk": lambda spark, sf: serve.bm25_topk(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # the compressed-segment physical path: VECTORIZED block-max
        # pruning (interval sweep — block-granular skipping + numpy
        # scoring, the executor shape that actually beats exhaustive in a
        # Python worker), same oracle as the columnar path
        "bm25_topk_blockmax": lambda spark, sf: serve.bm25_topk_blockmax(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # common-terms query (ES cutoff_frequency): rare terms drive
        # candidates, stopword-frequency terms only contribute scores
        "common_terms_topk": lambda spark, sf: serve.common_terms_topk(
            spark, gate_index(spark, sf), COMMON_TERMS_QUERY, k=TOPK
        ),
        # per-term query boosting (term^boost), same pruned-index plan
        "bm25_boosted_topk": lambda spark, sf: serve.bm25_boosted_topk(
            spark, gate_index(spark, sf), BOOSTS, k=TOPK
        ),
        # Lucene-explain-style relevance debugging: per-(doc, term)
        # contribution breakdown of the top-k, one shared contrib expr with
        # the ranking path so explain can never drift from it
        "bm25_explain": lambda spark, sf: serve.bm25_explain(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # cursor (search_after) deep paging: page 3 via chained k-row
        # cursors — no offset sort at any page depth
        "bm25_page3": lambda spark, sf: serve.bm25_page(
            spark, gate_index(spark, sf), BM25_TERMS, page=3, k=TOPK
        ),
        "tfidf_topk": lambda spark, sf: serve.tfidf_topk(
            spark, gate_index(spark, sf), TFIDF_TERMS, k=TOPK
        ),
        # batch evaluation: the whole query set scored in ONE pruned index
        # pass (two-phase salted grouped top-k)
        "bm25_batch_topk": lambda spark, sf: serve.bm25_batch_topk(
            spark, gate_index(spark, sf), BATCH_QUERIES, k=TOPK
        ),
        "term_search_all": lambda spark, sf: serve.term_search_all(
            spark, gate_index(spark, sf), ALL_TERMS
        ),
        "phrase_match": lambda spark, sf: serve.phrase_match(
            spark, gate_index(spark, sf), PHRASE
        ),
        # ranked phrase query: exact-phrase candidate filter, then BM25
        # over the phrase terms (Lucene PhraseQuery scored)
        "phrase_topk": lambda spark, sf: serve.phrase_topk(
            spark, gate_index(spark, sf), PHRASE, k=TOPK
        ),
        # the same scored phrase served from the COMPRESSED segments
        # (positions decoded from blobs, in-shard adjacency + micros BM25)
        "phrase_topk_wand": lambda spark, sf: segments.phrase_topk_micros(
            spark, ensure_segments(spark, (idx := gate_index(spark, sf))["dir"]), idx["lexicon"],
            PHRASE, idx["avgdl"], k=TOPK,
        ),
        # proximity (within-k positions) — the sloppy-phrase generalization
        "proximity_match": lambda spark, sf: serve.proximity_match(
            spark, gate_index(spark, sf), PHRASE[0], PHRASE[1], slop=3
        ),
        # the same proximity query served from the COMPRESSED segments
        "proximity_match_wand": lambda spark, sf: segments.proximity_match_segments(
            spark, ensure_segments(spark, (idx := gate_index(spark, sf))["dir"]), idx["lexicon"],
            PHRASE[0], PHRASE[1], slop=3,
        ),
        # directional variant: term_a BEFORE term_b within k positions
        "proximity_ordered": lambda spark, sf: serve.ordered_proximity_match(
            spark, gate_index(spark, sf), PHRASE[0], PHRASE[1], slop=3
        ),
        # ...and its directional sibling from the segments
        "ordered_proximity_wand": lambda spark, sf: segments.ordered_proximity_segments(
            spark, ensure_segments(spark, (idx := gate_index(spark, sf))["dir"]), idx["lexicon"],
            PHRASE[0], PHRASE[1], slop=3,
        ),
        # synonym-group scoring (Lucene SynonymQuery semantics: macro-term
        # tf sum, group df -> idf)
        "synonym_topk": lambda spark, sf: serve.synonym_bm25_topk(
            spark, gate_index(spark, sf), SYNONYM_GROUPS, k=TOPK
        ),
        # field-weighted BM25F: early-position "head" occurrences boosted
        # via the stored positional postings (no corpus scan, no 2nd index)
        "bm25f_topk": lambda spark, sf: serve.bm25f_topk(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # passage-level BM25, max-passage doc scoring (MaxP) — fixed token
        # windows regrouped from the STORED positions, best passage wins
        "bm25_maxp_topk": lambda spark, sf: serve.bm25_maxp_topk(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # pseudo-relevance-feedback expansion (Rocchio two-pass): top docs
        # of pass 1 donate expansion terms, pass 2 re-ranks with weights
        "prf_expansion_topk": lambda spark, sf: serve.prf_expansion_topk(
            spark, gate_index(spark, sf), _docs(spark, sf), BM25_TERMS, k=TOPK
        ),
        # BM25+ lower-bounded tf normalization (Lv & Zhai 2011)
        "bm25plus_topk": lambda spark, sf: serve.bm25plus_topk(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # Borda-count fusion — positional voting beside RRF/CombMNZ
        "borda_fusion_topk": lambda spark, sf: serve.borda_fusion_topk(
            spark, gate_index(spark, sf), emb(spark, sf), BM25_TERMS, k=TOPK, r=50
        ),
        # Dirichlet query-likelihood ranking (Zhai & Lafferty) — the LM
        # ranking family beside BM25, served from the same pruned index scan
        "qld_topk": lambda spark, sf: serve.qld_topk(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # Jelinek-Mercer query likelihood — the fixed-interpolation LM
        # smoother beside the Dirichlet one, identical physical shape
        "qld_jm_topk": lambda spark, sf: serve.qld_jm_topk(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # DFR PL2 (Poisson + Laplace + normalization-2) — the third
        # classical ranking family, served from the same pruned index scan
        "pl2_topk": lambda spark, sf: serve.pl2_topk(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # sequential dependence model (Metzler-Croft MRF): unigram +
        # ordered-adjacency + unordered-window Dirichlet features, all
        # served from the stored positional postings
        "sdm_topk": lambda spark, sf: serve.sdm_topk(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK
        ),
        # hybrid lexical+vector retrieval: BM25 top-r and cosine top-r fused
        # by reciprocal rank (RRF) — each side is the engine's own gated path
        "hybrid_rrf_topk": lambda spark, sf: serve.hybrid_rrf_topk(
            spark, gate_index(spark, sf), emb(spark, sf), BM25_TERMS, k=TOPK, r=50
        ),
        # normalized-score fusion (CombMNZ) beside the rank-based RRF:
        # min-max to [0,1e6] integers per list, boost multi-list hits
        "hybrid_combmnz_topk": lambda spark, sf: serve.hybrid_combmnz_topk(
            spark, gate_index(spark, sf), emb(spark, sf), BM25_TERMS, k=TOPK, r=50
        ),
        # MMR diversification: BM25 top-r recall, greedy relevance-vs-
        # redundancy selection over embedding cosines in one bounded Arrow
        # group (the embedding-aware diversifier beside the per-host cap)
        "mmr_topk": lambda spark, sf: serve.mmr_topk(
            spark, gate_index(spark, sf), emb(spark, sf), BM25_TERMS, k=TOPK, r=50
        ),
        # SERP result clustering (Carrot2 shape): BM25 top-r grouped by
        # nearest corpus-trained k-means centroid
        "cluster_results": lambda spark, sf: serve.cluster_results(
            spark, gate_index(spark, sf), emb(spark, sf), BM25_TERMS, r=50
        ),
        "term_search_any": lambda spark, sf: serve.term_search_any(
            spark, gate_index(spark, sf), ALL_TERMS
        ),
        "term_search_except": lambda spark, sf: serve.term_search_except(
            spark, gate_index(spark, sf), ALL_TERMS[:2], [ALL_TERMS[2]]
        ),
        # full boolean algebra (parser + set-algebra planner) over the index
        "boolean_query": lambda spark, sf: _boolean_query(spark, sf),
        # SERP sidebar: per-facet value histograms over the query's hit set
        "facet_counts": lambda spark, sf: serve.facet_counts(
            spark, gate_index(spark, sf), _docs(spark, sf), BM25_TERMS
        ),
        # result diversification: per-host cap then global top-k
        "search_diversified": lambda spark, sf: serve.search_diversified(
            spark, gate_index(spark, sf), BM25_TERMS, k=TOPK, per_host=2, n_hosts=7
        ),
        # field collapsing (Lucene/ES `collapse`): one winner per source,
        # argmax as a map-side-combinable hash agg — never a window
        "collapse_topk": lambda spark, sf: serve.collapse_topk(
            spark, gate_index(spark, sf), _docs(spark, sf), BM25_TERMS, k=TOPK
        ),
        # MoreLikeThis: a document as the query — top tf·idf terms of the
        # source doc (micros-selected), BM25 over them, source excluded
        "more_like_this": lambda spark, sf: serve.more_like_this(
            spark, gate_index(spark, sf), _docs(spark, sf), MLT_DOC, k=TOPK
        ),
        # rendezvous (HRW) shard routing: stateless argmax over md5
        # weights; grow S→S+1 moves only ≈1/(S+1) of keys, never between
        # old shards (tests/test_pipeline_ops.py asserts the property)
        "shard_routing": lambda spark, sf: _shard_routing(spark, sf),
        # elastic resharding: the exact move set when the fleet grows
        # S→S+1 (rendezvous minimal disruption, ≈1/(S+1) of the corpus)
        "shard_rebalance_moves": lambda spark, sf: _shard_rebalance_moves(spark, sf),
        # the reference's own ranking formula (Ranker.java:74-97: weighted
        # tfidf/pagerank/title/header-cap), gated end-to-end incl. url/title
        # result assembly
        "compat_topk": lambda spark, sf: serve.compat_topk(
            spark, sf, COMPAT_QUERY, k=TOPK
        ),
        # multi-fragment highlighting (UnifiedHighlighter shape): merged
        # token windows around index-served match positions, ranked
        "highlight_fragments": lambda spark, sf: serve.highlight_fragments(
            spark, gate_index(spark, sf), _docs(spark, sf), BM25_TERMS, k=TOPK
        ),
        # result assembly (SearchService.convertDocumentsToResults shape:
        # term/url/title/snippet/id + rank/score) — snippet rendered at query
        # time over the <=k winners, bolding/ellipses per the reference
        "search_results": lambda spark, sf: _search_results(spark, sf),
        "pagerank_integer": lambda spark, sf: _pagerank_integer(spark, sf),
        # HITS hubs/authorities (exact-integer twin, same edge graph as PR)
        "hits_scores": lambda spark, sf: _hits_scores(spark, sf),
        # personalized PageRank: teleport to a seed set — proximity-to-seeds
        # ranking ("related pages"), exact-integer like its uniform sibling
        "ppr_scores": lambda spark, sf: _ppr_scores(spark, sf),
        # degree-orientation triangle counting (clustering-coefficient
        # numerator) over the same synthetic link graph
        "graph_triangles": lambda spark, sf: _graph_triangles(spark, sf),
        # anchor-text propagation: in-link anchor phrases credited to the
        # TARGET doc (the rank-pages-for-terms-they-don't-contain signal)
        "anchor_terms": lambda spark, sf: _anchor_terms(spark, sf),
        # Adamic-Adar link prediction: non-edge pairs scored by
        # Σ 1/ln(deg) over common neighbors (integer micros credits)
        "link_prediction_aa": lambda spark, sf: _link_prediction(spark, sf),
        # deterministic label-propagation communities (most-frequent
        # neighbor label, ties to smallest), fixed 5 rounds
        "graph_communities": lambda spark, sf: _graph_communities(spark, sf),
        # repo-level dependency graph from cross-repo symbol def/ref joins
        "repo_dependency_edges": lambda spark, sf: _repo_dependency_edges(spark, sf),
        # PageRank over the repo dependency graph (repo-importance ranking)
        "repo_rank": lambda spark, sf: _repo_rank(spark, sf),
        "prefix_suggest": lambda spark, sf: serve.prefix_suggest(
            spark, gate_index(spark, sf), "s", k=5
        ),
        # query-HISTORY-ranked suggestions (suggestionService.js semantics:
        # case-folded counts, first-seen casing, stable-sort tie-break)
        "history_suggest": lambda spark, sf: serve.history_suggest(
            spark, serve.synth_query_log(spark, 64), "s", k=5
        ),
        # wildcard (prefix*) search: dictionary prefix scan -> bounded term
        # expansion -> one pruned postings pass (Lucene's automaton plan)
        "wildcard_search": lambda spark, sf: serve.wildcard_search(
            spark, gate_index(spark, sf), "s"
        ),
        # code-search substring query: trigram prefilter + exact verify
        # ("park" is a substring of "spark" — not a term, by design)
        "substring_search": lambda spark, sf: textstats.substring_search(
            _docs(spark, sf), "park"
        ),
        # regex code-search: literal-alternation trigram prefilter + verify
        "regex_search": lambda spark, sf: textstats.regex_search(
            _docs(spark, sf), "spark|merge"
        ),
        # the same two queries served from the MATERIALIZED trigram index
        # (Zoekt/Code-Search physical layer: bucket-pruned gram postings →
        # conjunctive candidates → doc-join verify), same oracles
        "substring_search_indexed": lambda spark, sf: _substring_indexed(spark, sf),
        "regex_search_indexed": lambda spark, sf: _regex_indexed(spark, sf),
        # code-search symbol index: def/class declarations per doc (seasoned
        # code header — go-to-definition's backing table)
        "symbol_definitions": lambda spark, sf: textstats.symbol_definitions(
            _docs(spark, sf)
        ),
        # find-usages (xref) postings: call/instantiation sites keyed by
        # the referenced symbol — the linear table, never a def×ref join
        "symbol_references": lambda spark, sf: textstats.symbol_references(
            _docs(spark, sf)
        ),
        # per-symbol defs/refs rollup ("used by N files"): each side
        # aggregates to |vocab| rows BEFORE the tiny full-outer join
        "symbol_xref_counts": lambda spark, sf: textstats.symbol_xref_counts(
            _docs(spark, sf)
        ),
        # symbol-importance ranking: exact-integer PageRank over the
        # def→ref symbol dependency graph (call-graph PageRank, the
        # code-search importance signal)
        "symbol_rank": lambda spark, sf: _symbol_rank(spark, sf),
        # identifier-splitting tokenizer: camelCase/snake_case subtoken df
        "ident_subtokens": lambda spark, sf: textstats.ident_subtokens(
            _docs(spark, sf)
        ),
        # did-you-mean: SymSpell deletion-key join over the lexicon; the
        # oracle brute-forces levenshtein over the vocabulary
        "fuzzy_suggest": lambda spark, sf: serve.fuzzy_suggest(
            spark, gate_index(spark, sf), FUZZY_WORD, k=5
        ),
        # the composed query-understanding pipeline: per-word top-1 fuzzy
        # correction (one deletion-key pass), then BM25 over the corrected
        # term set — typos fixed, unfixable words dropped
        "corrected_search": lambda spark, sf: serve.corrected_search(
            spark, gate_index(spark, sf), CORRECTED_QUERY, k=TOPK
        ),
        # query segmentation: OOV word split into two dictionary terms,
        # ranked by the weaker half's corpus frequency
        "compound_split": lambda spark, sf: serve.compound_split(
            spark, gate_index(spark, sf), COMPOUND_WORD, k=5
        ),
        # corpus-wide grouped top-k: every doc's top tf-idf keywords
        "doc_keywords": lambda spark, sf: serve.doc_keywords(
            spark, gate_index(spark, sf), k=3
        ),
        # --- dedup family (training-data pipeline) ---
        "dedup_exact": lambda spark, sf: dedup.exact_dedup_groups(_docs(spark, sf)),
        "dedup_ngram_jaccard": lambda spark, sf: _ngram_jaccard_capped(spark, sf),
        "minhash_signatures": lambda spark, sf: dedup.minhash_signatures(
            _docs(spark, sf), n_perms=16
        ),
        # MinHash estimator calibration: per-estimate-level exact-Jaccard
        # means over the LSH candidate pairs (sketch-quality measurement)
        "minhash_calibration": lambda spark, sf: dedup.minhash_calibration(
            _docs(spark, sf), sample_den=4
        ),
        "minhash_lsh_pairs": lambda spark, sf: dedup.minhash_lsh_pairs(
            _docs(spark, sf), n_perms=16, rows_per_band=8
        ),
        "simhash": lambda spark, sf: dedup.simhash(_docs(spark, sf), n_bits=32),
        # SimHash pair enumeration: banded band-bucket join, EXACT for
        # max_hamming < n_bands (pigeonhole) — oracle is the brute-force twin
        "simhash_hamming_pairs": lambda spark, sf: dedup.simhash_hamming_pairs(
            _docs(spark, sf), n_bits=32, n_bands=4, max_hamming=3
        ),
        # near-dup clustering: connected components (min-label fixpoint)
        # over the MinHash-LSH candidate graph
        "dedup_clusters": lambda spark, sf: _dedup_clusters(spark, sf),
        # exact-substring span dedup (Lee et al. 2022): maximal token spans
        # shared verbatim across docs — the drop-list, as merged runs of
        # duplicated sliding windows
        "exact_substring_spans": lambda spark, sf: dedup.exact_substring_spans(
            _docs(spark, sf), window=16, min_docs=2
        ),
        # the dedup keep-list: one canonical doc (+ cluster size) per
        # near-dup cluster — what downstream stages semi-join against
        "dedup_survivors": lambda spark, sf: _dedup_survivors(spark, sf),
        # soft dedup: keep up to m docs per near-dup cluster (salted
        # two-phase per-cluster selection — a mega-cluster never lands
        # its membership on one window task)
        "dedup_cap_sample": lambda spark, sf: _dedup_cap_sample(spark, sf),
        # corpus-level line dedup (CCNet/RefinedWeb boilerplate pass): a
        # line survives only at its globally first occurrence; lines are
        # seasoned 8-token windows (corpus has no newlines)
        "line_dedup": lambda spark, sf: dedup.line_dedup(
            _docs(spark, sf), line_tokens=8
        ),
        # directed shingle containment (|A∩B|/|A|): catches subset
        # duplication (a short doc quoted inside a long one) that Jaccard
        # misses; stop-shingle df cap on by default
        "dedup_containment": lambda spark, sf: dedup.containment_pairs(
            _docs(spark, sf), n=3, threshold_ppm=500_000, max_shingle_df=64
        ),
        # eval-leakage check: n-gram overlap vs the deterministic benchmark
        # slice of the corpus
        "decontaminate": lambda spark, sf: dedup.decontaminate(_docs(spark, sf), n=5),
        # per-host politeness fetch queue (bounded-QPS crawl schedule);
        # slots via the two-phase ordered-bucket pattern, never a
        # host-sized window partition
        "crawl_schedule": lambda spark, sf: _crawl_schedule(spark, sf),
        # incremental build: two half-corpus segment sets merged, decoded
        # back to postings — codec + merge_segments gated in one hash row
        "incremental_merge_postings": lambda spark, sf: _incremental_postings(spark, sf),
        # the index lifecycle end-to-end: crawl delta -> tombstone-delete ->
        # delta encode -> merge == full rebuild of the new snapshot
        "incremental_reindex": lambda spark, sf: _incremental_reindex(spark, sf),
        # same lifecycle driven by the crawler's changed-doc LIST (the
        # realistic 10^12-file input) — no full-snapshot md5 diff; every
        # stage delta-bounded, result == full rebuild of snapshot B
        "incremental_reindex_delta_list": lambda spark, sf: _incremental_reindex_delta_list(
            spark, sf
        ),
        # tiered merge policy (Lucene TieredMergePolicy shape): which
        # same-size-tier segments merge next, full groups only
        "compaction_plan": lambda spark, sf: _compaction_plan(spark, sf),
        # the ALTERNATIVE posting codec (FOR bit-packing, Lucene PackedInts
        # family) encode->decode hash-gated like the varint path
        "bitpacked_postings": lambda spark, sf: _bitpacked_postings(spark, sf),
        # --- similarity search ---
        "ann_cosine_topk": lambda spark, sf: similarity.ann_bruteforce_topk(
            emb(spark, sf), n_queries=8, k=5
        ),
        "ann_lsh_topk": lambda spark, sf: similarity.ann_lsh_topk(
            emb(spark, sf), n_queries=8, k=5
        ),
        "ann_ivf_topk": lambda spark, sf: similarity.ann_ivf_topk(
            emb(spark, sf), n_queries=8, k=5, centroid_stride=64, nprobe=2
        ),
        # ALL-vectors kNN graph (graph-curation backbone): LSH band-bucket
        # self-join candidates (bucket-capped), exact integer-cosine verify
        "knn_graph": lambda spark, sf: similarity.knn_graph(
            emb(spark, sf), k=3, n_planes=16, rows_per_band=8, max_bucket=1024
        ),
        # deterministic Lloyd's k-means: the centroid trainer the IVF/PQ
        # seeded selections swap in for (exact-integer, unrolled SQL twin)
        "kmeans_centroids": lambda spark, sf: similarity.kmeans_centroids(
            emb(spark, sf), k=4, iterations=2
        ),
        # multi-probe LSH: each band probes its bucket + all Hamming-1
        # buckets — the recall knob that needs no extra tables
        "ann_lsh_multiprobe_topk": lambda spark, sf: similarity.ann_lsh_multiprobe_topk(
            emb(spark, sf), n_queries=8, k=5
        ),
        # filtered vector search: metadata predicate pushed into the scan
        # BEFORE scoring (the constrained-ANN query of production stores)
        "ann_filtered_topk": lambda spark, sf: similarity.ann_filtered_topk(
            emb(spark, sf), n_queries=8, k=5, label_value=1
        ),
        # IVF over the TRAINED k-means centroids — the swap-in the seeded
        # ivf_assignments documents, gated end-to-end (train -> assign ->
        # probe -> exact rerank)
        "ann_ivf_kmeans_topk": lambda spark, sf: similarity.ann_ivf_kmeans_topk(
            emb(spark, sf), n_queries=8, k=5, n_clusters=4, iterations=2, nprobe=2
        ),
        # product quantization + asymmetric distance: the memory-compression
        # ANN family (billion-vector scans as m-code lookups)
        "ann_pq_topk": lambda spark, sf: similarity.ann_pq_topk(
            emb(spark, sf), n_queries=8, k=5, n_centroids=16, centroid_stride=16
        ),
        # synthetic embeddings have no true near-identical pairs (max pair
        # cosine ~0.51), so the gate threshold 0.35 selects the top ~0.1%
        # most-similar pairs — same operator, non-empty check. Default mode
        # is the banded-LSH candidate path (linear at scale); the oracle
        # replicates the banding exactly.
        "embedding_cosine_dups": lambda spark, sf: dedup.embedding_cosine_dups(
            emb(spark, sf), threshold_micros=350_000
        ),
        # SemDeDup (cluster-then-dedup-within): pairwise cost O(Σ|cluster|²)
        # — k grows with N at scale so per-group memory stays bounded
        "semdedup": lambda spark, sf: dedup.semdedup(
            emb(spark, sf), n_clusters=4, iterations=2, threshold_micros=350_000
        ),
        # Johnson–Lindenstrauss signed random projection: map-only integer
        # plane dots — the distance-preserving sketch for two-stage ANN
        "embedding_rp_project": lambda spark, sf: similarity.rp_project(
            emb(spark, sf), out_dim=16
        ),
        # scalar int8 quantization (SQ8): per-dimension corpus min/max +
        # integer scaling — 4× smaller vectors, pure codegen
        "embedding_sq8": lambda spark, sf: similarity.sq8_codes(emb(spark, sf)),
        # --- crawl-side plumbing (S2/F12 analogs) ---
        # distributed fetch with host-partitioned politeness; deterministic
        # fake transport (sandbox has no network), oracle-recomputed content
        "fetch_pages": lambda spark, sf: _fetch_pages(spark, sf),
        # robots.txt body parse -> per-host Disallow prefixes (S3 completed:
        # UA sections, case-sensitive quirks, allow-on-missing)
        "robots_rules": lambda spark, sf: _robots_rules(spark, sf),
        # the crawl-family e2e: fetch robots -> parse -> allow-filter the
        # frontier -> fetch the surviving URLs (sha256 ingest invariant)
        "robots_filtered_fetch": lambda spark, sf: _robots_filtered_fetch(spark, sf),
        # HTML tag strip (SearchService.java:276) over in-query-synthesized
        # HTML wrapping of each doc
        "strip_html": lambda spark, sf: textstats.strip_html(_docs(spark, sf)),
        # analyzer component: accent/ASCII folding before tokenization
        # (Lucene ASCIIFoldingFilter), seasoned accented markers
        "ascii_fold": lambda spark, sf: textstats.ascii_fold(_docs(spark, sf)),
        # --- text analysis ---
        "token_stats": lambda spark, sf: textstats.token_stats(_docs(spark, sf)),
        # crawl analytics: per-host rollup over the synthetic URL space
        "host_stats": lambda spark, sf: _host_stats(spark, sf),
        # incremental recrawl: snapshot diff (added/removed/changed/same)
        "crawl_delta": lambda spark, sf: _crawl_delta(spark, sf),
        # the crawler's outer loop: BFS frontier expansion with a visited
        # set over the synthetic link graph (depth = min hops from seeds)
        "crawl_frontier_bfs": lambda spark, sf: _frontier_bfs(spark, sf),
        # bigram-model next-word autocomplete
        "next_word_suggest": lambda spark, sf: serve.next_word_suggest(
            spark, sf, "hash", k=5
        ),
        # percolation / reverse search: match the stored query set against
        # incoming docs BEFORE indexing (alerting/subscription primitive)
        "percolate_matches": lambda spark, sf: textstats.percolate_matches(
            _docs(spark, sf), BATCH_QUERIES
        ),
        "doc_fingerprints": lambda spark, sf: textstats.doc_fingerprints(_docs(spark, sf)),
        # winnowing (MOSS) fingerprint selection: per-window k-gram minima,
        # zero-shuffle array-side selection, ~2/(w+1) storage
        "winnowing_fingerprints": lambda spark, sf: dedup.winnowing_fingerprints(
            _docs(spark, sf)
        ),
        "heavy_hitter_terms": corpusstats.heavy_hitter_terms,
        "doc_length_histogram": corpusstats.doc_length_histogram,
        "top_bigrams": corpusstats.top_bigrams,
        # collocation mining: bigram PMI (association), next to top_bigrams
        # (frequency)
        "pmi_top_pairs": lambda spark, sf: textstats.pmi_top_pairs(
            _docs(spark, sf), k=20, min_count=5
        ),
        # per-source unigram KL divergence vs the corpus — the domain-drift
        # / mixing-weight diagnostic (integer-nanos fixed-point sums)
        "domain_kl_drift": lambda spark, sf: corpusstats.domain_kl_drift(
            _docs(spark, sf)
        ),
        # Zipf-exponent OLS fit over the top-1000 term frequencies — the
        # corpus-health statistic (exact integer sums → identical doubles)
        "zipf_slope": lambda spark, sf: corpusstats.zipf_slope(
            _docs(spark, sf), top_n=1000
        ),
        # Heaps'-law V = K·N^β vocabulary-growth fit over doc-id prefix
        # checkpoints — predicts lexicon growth for capacity planning
        "heaps_law": lambda spark, sf: corpusstats.heaps_law(
            _docs(spark, sf), n_checkpoints=10
        ),
    }
    return {k: _release_scoped(v) for k, v in out.items()}


def _release_scoped(fn):
    """Unpersist the previous gate's tracked operator-internal persists
    before this gate runs (ADVICE r04: a 50-gate driver session otherwise
    accumulates executor storage without bound). Releasing is safe — any
    still-lazy frame recomputes from source — and multi-consumer reuse
    stays intact within the gate that persisted."""

    def run(spark, sf_dir):
        from searchengine_spark.plans.persist_registry import release_tracked

        release_tracked()
        return fn(spark, sf_dir)

    return run


def _substring_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators import trigram

    return trigram.substring_search_indexed(
        spark, trigram.trigram_index(spark, sf_dir), _docs(spark, sf_dir), "park"
    )


def _regex_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators import trigram

    return trigram.regex_search_indexed(
        spark, trigram.trigram_index(spark, sf_dir), _docs(spark, sf_dir), "spark|merge"
    )


# stop-shingle cap (dedup_ngram_jaccard gate): integer-exact in both engines
NGRAM_DF_CAP_MIN = 16
NGRAM_DF_CAP_DEN = 100  # cap = max(16, ceil_div(n_docs, 100))


def _ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators import dedup

    n_docs = _docs(spark, sf_dir).count()
    cap = max(NGRAM_DF_CAP_MIN, (n_docs + NGRAM_DF_CAP_DEN - 1) // NGRAM_DF_CAP_DEN)
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold_micros=100_000, max_shingle_df=cap
    )


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.components import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), n_perms=16, rows_per_band=8)


def _dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.components import dedup_survivors

    return dedup_survivors(_docs(spark, sf_dir), n_perms=16, rows_per_band=8)


def _dedup_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.components import cluster_cap_sample

    return cluster_cap_sample(
        _docs(spark, sf_dir), max_per_cluster=2, n_perms=16, rows_per_band=8
    )


def _boolean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.boolquery import boolean_query

    return boolean_query(spark, gate_index(spark, sf_dir), BOOL_QUERY)


def _boolean_query_sql() -> str:
    from searchengine_spark.operators.boolquery import boolean_query_sql

    return boolean_query_sql(BOOL_QUERY)


def _incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.segments import incremental_build_postings

    return incremental_build_postings(_docs(spark, sf_dir), shard_span=64)


def _bitpacked_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.segments import bitpacked_postings_roundtrip

    return bitpacked_postings_roundtrip(_docs(spark, sf_dir), shard_span=64)


def _compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.segments import compaction_plan

    return compaction_plan(_docs(spark, sf_dir), shard_span=16, merge_factor=4)


def _snapshot_b(old: DataFrame) -> DataFrame:
    """Snapshot B synthesized in-query from the documents table (the
    strip_html seasoning pattern): doc_id%10==3 removed,
    doc_id%10==5 text-appended (changed), doc_id%10==7 re-added under a
    shifted id (added). The oracle builds the identical snapshot
    (oracles._SNAPSHOT_B_CTE)."""
    from pyspark.sql import functions as F

    did = F.col("doc_id")
    new = old.filter(did % 10 != 3).withColumn(
        "text",
        F.when(did % 10 == 5, F.concat(F.col("text"), F.lit(" updated"))).otherwise(
            F.col("text")
        ),
    )
    added = old.filter(did % 10 == 7).select(
        (did + 1_000_000_000).alias("doc_id"), "text"
    )
    return new.unionByName(added)


def _crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.ingest import crawl_delta

    old = _docs(spark, sf_dir).select("doc_id", "text")
    return crawl_delta(old, _snapshot_b(old))


def _incremental_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.segments import incremental_reindex_postings

    old = _docs(spark, sf_dir).select("doc_id", "text")
    return incremental_reindex_postings(old, _snapshot_b(old), shard_span=64)


def _incremental_reindex_delta_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changed-list entry point (VERDICT r04 ask #2): the (doc_id, status)
    delta is synthesized closed-form from the same modulus classes
    _snapshot_b uses — exactly the list a recrawl scheduler hands the
    indexer — so NO snapshot diff runs anywhere in the plan. Oracle: the
    full-rebuild tokenization of snapshot B (same twin as
    incremental_reindex — the two paths must agree bit-for-bit)."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators.segments import incremental_reindex_from_list

    old = _docs(spark, sf_dir).select("doc_id", "text")
    did = F.col("doc_id")
    delta = (
        old.filter(did % 10 == 3).select("doc_id", F.lit("removed").alias("status"))
        .unionByName(
            old.filter(did % 10 == 5).select(
                "doc_id", F.lit("changed").alias("status")
            )
        )
        .unionByName(
            old.filter(did % 10 == 7).select(
                (did + 1_000_000_000).alias("doc_id"),
                F.lit("added").alias("status"),
            )
        )
    )
    return incremental_reindex_from_list(
        old, _snapshot_b(old), delta, shard_span=64
    )


def _frontier_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from searchengine_spark.operators.fetch import frontier_bfs
    from searchengine_spark.operators.graph_demo import synthetic_edges

    docs = _docs(spark, sf_dir)
    nodes = docs.select("doc_id")
    return frontier_bfs(
        nodes,
        synthetic_edges(docs),
        nodes.filter(F.col("doc_id") < 5),
        max_depth=4,
    )


def _host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.fetch import host_stats

    return host_stats(_docs(spark, sf_dir), n_hosts=7)


def _fetch_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.fetch import fetch_pages, synth_urls

    return fetch_pages(
        synth_urls(_docs(spark, sf_dir), n_hosts=7), deterministic_fake=True
    )


def _robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.fetch import parse_robots, synth_robots_bodies

    return parse_robots(synth_robots_bodies(spark, n_hosts=7))


def _robots_filtered_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.fetch import (
        fetch_pages,
        parse_robots,
        robots_allowed,
        synth_robots_bodies,
        synth_urls,
    )

    rules = parse_robots(synth_robots_bodies(spark, n_hosts=7))
    allowed = robots_allowed(synth_urls(_docs(spark, sf_dir), n_hosts=7), rules)
    return fetch_pages(allowed, deterministic_fake=True).select(
        "url", "content_sha256"
    )


def _search_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.results import search_results

    return search_results(
        spark, gate_index(spark, sf_dir), _docs(spark, sf_dir), BM25_TERMS, k=TOPK
    )


def _pagerank_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import pagerank_integer

    return pagerank_integer(_docs(spark, sf_dir), iterations=5)


def _graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import triangle_count

    return triangle_count(_docs(spark, sf_dir))


def _symbol_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import symbol_rank

    return symbol_rank(_docs(spark, sf_dir), iterations=5)


def _symbol_rank_sql() -> str:
    from searchengine_spark.operators.graph_demo import symbol_rank_sql

    return symbol_rank_sql(iterations=5)


def _link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import link_prediction_aa

    return link_prediction_aa(_docs(spark, sf_dir), k=20)


def _repo_dependency_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import repo_dependency_edges

    return repo_dependency_edges(_docs(spark, sf_dir))


def _repo_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import repo_rank

    return repo_rank(_docs(spark, sf_dir), iterations=5)


def _graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import label_propagation

    return label_propagation(_docs(spark, sf_dir), iterations=5)


def _graph_triangles_sql() -> str:
    from searchengine_spark.operators.graph_demo import triangle_count_sql

    return triangle_count_sql()


def _link_prediction_sql() -> str:
    from searchengine_spark.operators.graph_demo import link_prediction_aa_sql

    return link_prediction_aa_sql(k=20)


def _graph_communities_sql() -> str:
    from searchengine_spark.operators.graph_demo import label_propagation_sql

    return label_propagation_sql(iterations=5)


def _hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import hits_integer

    return hits_integer(_docs(spark, sf_dir), iterations=5)


def _ppr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import personalized_pagerank_integer

    return personalized_pagerank_integer(_docs(spark, sf_dir), iterations=5, seed_below=3)


def _anchor_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.operators.graph_demo import anchor_terms

    return anchor_terms(_docs(spark, sf_dir), n_anchor_tokens=3)


def _anchor_terms_sql() -> str:
    from searchengine_spark.operators.graph_demo import anchor_terms_sql

    return anchor_terms_sql(n_anchor_tokens=3)


def _ppr_scores_sql() -> str:
    from searchengine_spark.operators.graph_demo import personalized_pagerank_sql

    return personalized_pagerank_sql(iterations=5, seed_below=3)


def _hits_scores_sql() -> str:
    from searchengine_spark.operators.graph_demo import hits_integer_sql

    return hits_integer_sql(iterations=5)


def _pagerank_integer_sql() -> str:
    from searchengine_spark.operators.graph_demo import pagerank_integer_sql

    return pagerank_integer_sql(iterations=5)


def oracle_sql() -> dict[str, str]:
    return {
        "postings_tf": oracles.postings_sql(),
        "lexicon_stats": oracles.lexicon_sql(),
        "stopword_list": oracles.stopword_list_sql(df_pct_num=60),
        "span_first_topk": oracles.span_first_topk_sql(BM25_TERMS[0], k=TOPK, max_pos=8),
        "phrase_freq_topk": oracles.phrase_freq_topk_sql(PHRASE, k=TOPK),
        "gap_phrase_topk": oracles.gap_phrase_topk_sql(PHRASE, gap=1, k=TOPK),
        "index_stats": oracles.index_stats_sql(),
        "bm25_topk": oracles.bm25_topk_sql(BM25_TERMS, k=TOPK),
        # the segment path answers the SAME oracle as the columnar path —
        # the compressed index is hash-gated, not just property-tested
        "bm25_topk_blockmax": oracles.bm25_topk_sql(BM25_TERMS, k=TOPK),
        "bm25_boosted_topk": oracles.bm25_boosted_topk_sql(BOOSTS, k=TOPK),
        "common_terms_topk": oracles.common_terms_topk_sql(COMMON_TERMS_QUERY, k=TOPK),
        "bm25_page3": oracles.bm25_page_sql(BM25_TERMS, page=3, k=TOPK),
        "bm25_explain": oracles.bm25_explain_sql(BM25_TERMS, k=TOPK),
        "tfidf_topk": oracles.tfidf_topk_sql(TFIDF_TERMS, k=TOPK),
        "bm25_batch_topk": oracles.bm25_batch_topk_sql(BATCH_QUERIES, k=TOPK),
        "term_search_all": oracles.term_search_all_sql(ALL_TERMS),
        "hybrid_rrf_topk": oracles.hybrid_rrf_sql(BM25_TERMS, k=TOPK, r=50),
        "qld_topk": oracles.qld_topk_sql(BM25_TERMS, k=TOPK),
        "bm25plus_topk": oracles.bm25plus_topk_sql(BM25_TERMS, k=TOPK),
        "borda_fusion_topk": oracles.borda_fusion_sql(BM25_TERMS, k=TOPK, r=50),
        "qld_jm_topk": oracles.qld_jm_topk_sql(BM25_TERMS, k=TOPK),
        "sdm_topk": oracles.sdm_topk_sql(BM25_TERMS, k=TOPK),
        "pl2_topk": oracles.pl2_topk_sql(BM25_TERMS, k=TOPK),
        "prf_expansion_topk": oracles.prf_expansion_sql(BM25_TERMS, k=TOPK),
        "bm25f_topk": oracles.bm25f_topk_sql(BM25_TERMS, k=TOPK),
        "bm25_maxp_topk": oracles.bm25_maxp_topk_sql(BM25_TERMS, k=TOPK),
        "term_search_any": oracles.term_search_any_sql(ALL_TERMS),
        "term_search_except": oracles.term_search_except_sql(ALL_TERMS[:2], [ALL_TERMS[2]]),
        "boolean_query": _boolean_query_sql(),
        "facet_counts": oracles.facet_counts_sql(BM25_TERMS),
        "search_diversified": oracles.search_diversified_sql(
            BM25_TERMS, k=TOPK, per_host=2, n_hosts=7
        ),
        "collapse_topk": oracles.collapse_topk_sql(BM25_TERMS, k=TOPK),
        "more_like_this": oracles.more_like_this_sql(MLT_DOC, k=TOPK),
        "shard_routing": oracles.shard_routing_sql(N_SHARDS_ROUTE),
        "shard_rebalance_moves": oracles.shard_rebalance_moves_sql(
            N_SHARDS_ROUTE, N_SHARDS_ROUTE + 1
        ),
        "ann_ivf_topk": oracles.ann_ivf_sql(n_queries=8, k=5, centroid_stride=64, nprobe=2),
        # the approximate LSH path is deterministic (integer plane dots), so
        # even recall<1 output is hash-checkable — no more rows-only gate
        "ann_lsh_topk": oracles.ann_lsh_sql(n_queries=8, k=5),
        "kmeans_centroids": oracles.kmeans_sql(k=4, iterations=2),
        "ann_filtered_topk": oracles.ann_filtered_sql(n_queries=8, k=5, label_value=1),
        "ann_lsh_multiprobe_topk": oracles.ann_lsh_multiprobe_sql(n_queries=8, k=5),
        "ann_ivf_kmeans_topk": oracles.ann_ivf_kmeans_sql(
            n_queries=8, k=5, n_clusters=4, iterations=2, nprobe=2
        ),
        "ann_pq_topk": oracles.ann_pq_sql(
            n_queries=8, k=5, n_centroids=16, centroid_stride=16
        ),
        "embedding_cosine_dups": oracles.embedding_cosine_dups_sql(threshold_micros=350_000),
        "semdedup": oracles.semdedup_sql(
            n_clusters=4, iterations=2, threshold_micros=350_000
        ),
        "embedding_rp_project": oracles.rp_project_sql(out_dim=16),
        "embedding_sq8": oracles.sq8_codes_sql(),
        "prefix_suggest": oracles.prefix_suggest_sql("s", k=5),
        "history_suggest": oracles.history_suggest_sql("s", k=5, n=64),
        "wildcard_search": oracles.wildcard_search_sql("s"),
        "substring_search": oracles.substring_search_sql("park"),
        "regex_search": oracles.regex_search_sql("spark|merge"),
        # the index-served twins answer the SAME oracles (correct by
        # construction: prefilter only prunes, verify recomputes exactly)
        "substring_search_indexed": oracles.substring_search_sql("park"),
        "regex_search_indexed": oracles.regex_search_sql("spark|merge"),
        "symbol_definitions": oracles.symbol_definitions_sql(),
        "symbol_references": oracles.symbol_references_sql(),
        "symbol_xref_counts": oracles.symbol_xref_counts_sql(),
        "symbol_rank": _symbol_rank_sql(),
        "ident_subtokens": oracles.ident_subtokens_sql(),
        "fuzzy_suggest": oracles.fuzzy_suggest_sql(FUZZY_WORD, k=5),
        "corrected_search": oracles.corrected_search_sql(CORRECTED_QUERY, k=TOPK),
        "compound_split": oracles.compound_split_sql(COMPOUND_WORD, k=5),
        "doc_keywords": oracles.doc_keywords_sql(k=3),
        "hits_scores": _hits_scores_sql(),
        "ppr_scores": _ppr_scores_sql(),
        "graph_triangles": _graph_triangles_sql(),
        "link_prediction_aa": _link_prediction_sql(),
        "graph_communities": _graph_communities_sql(),
        "repo_dependency_edges": oracles.repo_dependency_edges_sql(),
        "repo_rank": oracles.repo_rank_sql(iterations=5),
        "pmi_top_pairs": oracles.pmi_top_pairs_sql(k=20, min_count=5),
        "domain_kl_drift": oracles.domain_kl_drift_sql(),
        "zipf_slope": oracles.zipf_slope_sql(top_n=1000),
        "heaps_law": oracles.heaps_law_sql(n_checkpoints=10),
        "crawl_schedule": oracles.crawl_schedule_sql(n_hosts=7, delay_ms=500),
        "knn_graph": oracles.knn_graph_sql(
            k=3, n_planes=16, rows_per_band=8, max_bucket=1024
        ),
        "mmr_topk": oracles.mmr_topk_sql(BM25_TERMS, k=TOPK, r=50),
        "compat_topk": oracles.compat_topk_sql(COMPAT_TERMS, COMPAT_QUERY, k=TOPK),
        "search_results": oracles.search_results_sql(BM25_TERMS, k=TOPK),
        "highlight_fragments": oracles.highlight_fragments_sql(BM25_TERMS, k=TOPK),
        "pagerank_integer": _pagerank_integer_sql(),
        "phrase_match": oracles.phrase_match_sql(PHRASE),
        "phrase_topk": oracles.phrase_topk_sql(PHRASE, k=TOPK),
        "phrase_topk_wand": oracles.phrase_topk_sql(PHRASE, k=TOPK),
        "hybrid_combmnz_topk": oracles.hybrid_combmnz_sql(BM25_TERMS, k=TOPK, r=50),
        "cluster_results": oracles.cluster_results_sql(BM25_TERMS, r=50),
        "proximity_match": oracles.proximity_match_sql(PHRASE[0], PHRASE[1], slop=3),
        "proximity_match_wand": oracles.proximity_match_sql(
            PHRASE[0], PHRASE[1], slop=3
        ),
        "proximity_ordered": oracles.ordered_proximity_sql(PHRASE[0], PHRASE[1], slop=3),
        "ordered_proximity_wand": oracles.ordered_proximity_sql(
            PHRASE[0], PHRASE[1], slop=3
        ),
        "synonym_topk": oracles.synonym_bm25_sql(SYNONYM_GROUPS, k=TOPK),
        "host_stats": oracles.host_stats_sql(n_hosts=7),
        "crawl_delta": oracles.crawl_delta_sql(),
        "crawl_frontier_bfs": oracles.frontier_bfs_sql(seed_below=5, max_depth=4),
        "next_word_suggest": oracles.next_word_suggest_sql("hash", k=5),
        "dedup_exact": oracles.exact_dedup_sql(),
        "line_dedup": oracles.line_dedup_sql(line_tokens=8),
        "anchor_terms": _anchor_terms_sql(),
        "dedup_ngram_jaccard": oracles.ngram_jaccard_sql(
            n=3,
            threshold_micros=100_000,
            df_cap_min=NGRAM_DF_CAP_MIN,
            df_cap_den=NGRAM_DF_CAP_DEN,
        ),
        "minhash_signatures": oracles.minhash_sql(n_perms=16),
        "minhash_calibration": oracles.minhash_calibration_sql(sample_den=4),
        "minhash_lsh_pairs": oracles.minhash_lsh_pairs_sql(n_perms=16, rows_per_band=8),
        "simhash": oracles.simhash_sql(n_bits=32),
        "simhash_hamming_pairs": oracles.simhash_hamming_pairs_sql(
            n_bits=32, max_hamming=3
        ),
        "dedup_clusters": oracles.dedup_clusters_sql(n_perms=16, rows_per_band=8),
        "dedup_survivors": oracles.dedup_survivors_sql(n_perms=16, rows_per_band=8),
        "dedup_cap_sample": oracles.cluster_cap_sample_sql(
            max_per_cluster=2, n_perms=16, rows_per_band=8
        ),
        "exact_substring_spans": oracles.exact_substring_spans_sql(window=16, min_docs=2),
        "decontaminate": oracles.decontaminate_sql(n=5),
        "dedup_containment": oracles.containment_pairs_sql(
            n=3, threshold_ppm=500_000, max_shingle_df=64
        ),
        # the merged-and-decoded segments must equal the corpus tokenization
        "incremental_merge_postings": oracles.postings_sql(),
        "incremental_reindex": oracles.incremental_reindex_sql(),
        # same twin: the delta-list path must also equal the full rebuild
        "incremental_reindex_delta_list": oracles.incremental_reindex_sql(),
        "compaction_plan": oracles.compaction_plan_sql(shard_span=16, merge_factor=4),
        # bit-packed encode->decode must reproduce the corpus tokenization
        "bitpacked_postings": oracles.postings_sql(),
        "ann_cosine_topk": oracles.ann_bruteforce_sql(n_queries=8, k=5),
        "fetch_pages": oracles.fetch_pages_sql(n_hosts=7),
        "robots_rules": oracles.robots_rules_sql(n_hosts=7),
        "robots_filtered_fetch": oracles.robots_filtered_fetch_sql(n_hosts=7),
        "strip_html": oracles.strip_html_sql(),
        "ascii_fold": oracles.ascii_fold_sql(),
        "token_stats": oracles.token_stats_sql(),
        "percolate_matches": oracles.percolate_matches_sql(BATCH_QUERIES),
        "doc_fingerprints": oracles.doc_fingerprints_sql(),
        "winnowing_fingerprints": oracles.winnowing_sql(),
        "heavy_hitter_terms": oracles.heavy_hitter_terms_sql(),
        "doc_length_histogram": oracles.doc_length_histogram_sql(),
        "top_bigrams": oracles.top_bigrams_sql(),
    }
