"""Physical-plan audits: assert the optimizations SCALE.md claims are in
the executed plan, so a refactor cannot silently lose them.

Every assertion here is a property that matters at 100 TB and is invisible
to result-correctness tests: filter/column pushdown into the parquet scan,
broadcast (not shuffle) joins for small sides, partition pruning on the
bucket-partitioned segment store, and bounded top-k (TakeOrderedAndProject,
never a global sort).
"""

from __future__ import annotations

import contextlib
import io
import os
import re

from pyspark.sql import functions as F

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_column_pruning(spark):
    from searchengine_spark.sources.tables import load_table

    orders = load_table(spark, SF_DIR, "orders")
    q = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_totalprice")
    plan = plan_of(q)
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1].split("\n")[0]
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "o_orderkey" in read_schema and "o_comment" not in read_schema


def test_segment_query_prunes_bucket_partitions(spark, tmp_path):
    """The compressed segment store is partitioned by term-hash bucket; a
    query for specific terms must scan only those bucket directories."""
    from searchengine_spark.plans.build_index import build_index, load_index
    from searchengine_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(spark, 300, seed=7)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, corpus, idx_dir, with_pagerank=False)
    idx = load_index(spark, idx_dir)

    seg = idx["segments"]
    some_bucket = seg.select("bucket").first()["bucket"]
    pruned = seg.filter(F.col("bucket").isin([int(some_bucket)]))
    plan = plan_of(pruned)
    # bucket filter must land in PartitionFilters (dir pruning), not as a
    # post-scan Filter over all files
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "bucket" in pf


def test_exact_dedup_single_shuffle(spark):
    """exact dedup = one hash-aggregate exchange, no join, no sort."""
    from searchengine_spark.operators import dedup
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(dedup.exact_dedup_groups(docs))
    assert plan.count("Exchange") <= 2  # partial/final agg exchange (+AQE read)
    assert "Join" not in plan and "Sort" not in plan


def test_ann_bruteforce_is_one_scan_no_join(spark):
    """The numpy-matmul brute force ships the |Q|-row query set as a driver
    constant: the plan must be scan → MapInPandas → window over the tiny
    per-batch top-k — no join of any kind, no |Q|×N row blowup."""
    from searchengine_spark.operators import similarity
    from searchengine_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(similarity.ann_bruteforce_topk(emb, n_queries=4, k=3))
    assert "MapInPandas" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_serve_bm25_prunes_and_broadcasts(spark):
    """Index-served BM25: postings scan pruned to the query terms' bucket
    directories (PartitionFilters), lexicon statistics read from literal
    maps (no join at all), bounded top-k, and nothing big shuffled."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    plan = plan_of(serve.bm25_topk(spark, idx, ["spark", "hash"], k=10))
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "bucket" in pf
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_positional_matches_are_one_aggregate(spark):
    """Phrase, phrase-freq and both proximity checks read the query terms'
    positions from ONE groupBy(doc_id) over the pruned postings: no
    explode (Generate), no self-join, a single shuffle."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    for df in (
        serve.phrase_match(spark, idx, ["big", "order", "scan"]),
        serve.phrase_freq_topk(spark, idx, ["hash", "join"], k=10),
        serve.proximity_match(spark, idx, "hash", "join", slop=3),
        serve.ordered_proximity_match(spark, idx, "hash", "join", slop=3),
    ):
        plan = plan_of(df)
        tree = plan.split("\n\n")[0]
        assert "Generate" not in plan and "Join" not in plan, tree
        assert tree.count("Exchange") == 1, tree
        assert "bucket" in plan.split("PartitionFilters")[1].split("\n")[0]


def test_serve_wand_prunes_buckets(spark):
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    plan = plan_of(serve.bm25_topk_blockmax(spark, idx, ["spark", "hash"], k=10))
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "bucket" in pf
    assert "TakeOrderedAndProject" in plan


def test_candidates_pushes_term_filter(spark, tmp_path):
    """query._candidates must land the query-term predicate in the postings
    scan's PushedFilters — a broadcast join key alone never reaches the
    reader, and losing the filter re-costs every compat/BM25 query a full
    postings decode (measured 3.4x at 1.6M docs)."""
    from searchengine_spark.operators.query import _candidates
    from searchengine_spark.plans.build_index import build_index, load_index
    from searchengine_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(spark, 200, seed=11)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, corpus, idx_dir, with_pagerank=False)
    idx = load_index(spark, idx_dir)
    plan = plan_of(_candidates(idx["postings"], idx["lexicon"], spark, ["spark", "hash"]))
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "term" in pushed and "In(" in pushed


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set joins broadcast — training-doc shingles
    must never shuffle for the overlap check."""
    from searchengine_spark.operators import dedup
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(dedup.decontaminate(docs, n=3))
    assert "BroadcastHashJoin" in plan


def test_batch_topk_two_phase_windows(spark):
    """bm25_batch_topk must (a) broadcast the query map, (b)
    run the partial rank keyed by (query_id, salt) BEFORE the per-query
    rank — never a single window over an unreduced candidate set — and
    (c) keep the postings side a pruned scan (no sort-merge join)."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    df = serve.bm25_batch_topk(
        spark, idx, {"qa": ["spark", "hash"], "qb": ["merge"]}, k=5
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # two Window nodes: the salted partial cut feeds the final per-query rank
    assert plan.count("Window") >= 2
    assert "pmod" in plan  # the salt key is present in the partial window
    # the partial filter sits between the windows, cutting rows before the
    # final per-query exchange
    assert "_pr" in plan


def test_fuzzy_suggest_is_lexicon_only(spark):
    """fuzzy_suggest must touch ONLY the lexicon (never postings/segments/
    corpus) and cut candidates with the key filter before any aggregation."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    plan = plan_of(serve.fuzzy_suggest(spark, idx, "spack", k=5))
    assert "lexicon" in plan
    assert "postings" not in plan and "segments" not in plan
    assert "documents.parquet" not in plan
    assert "TakeOrderedAndProject" in plan  # bounded top-k, no global sort


def assert_winner_scan(plan: str) -> None:
    """``plan`` is one plain documents scan, a single stage: every scan in it
    reads the documents, the winner ids are pushed into the reader
    (PushedFilters In), and nothing is exchanged, generated or lambda-mapped."""
    scans = re.findall(r"Location: \w+ \[(.*?)\]", plan)
    assert scans and all("documents" in loc for loc in scans), scans
    assert len(re.findall(r"^\(\d+\) Scan ", plan, re.M)) == len(scans)
    pushed = plan.split("PushedFilters: ")[1].split("\n")[0]
    assert "In(doc_id" in pushed, pushed
    for node in ("Exchange", "Generate", "lambda"):
        assert node not in plan, node


def test_search_results_pushes_winner_ids_into_scans(spark):
    """Result assembly never scans the corpus: the search_results gate runs
    three executions (lexicon lookup, top-k aggregate, documents scan), and
    the last is one pushed-down documents scan."""
    from searchengine_spark.operators.results import search_results
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table
    from tests.conftest import sql_plans

    idx = gate_index(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents")
    out = []
    plans = sql_plans(
        spark, lambda: out.append(search_results(spark, idx, docs, ["spark", "hash"], k=5))
    )
    assert out[0].count() > 0
    assert len(plans) == 3
    assert_winner_scan(plans[-1])


def test_wildcard_search_prunes_postings(spark):
    """Wildcard search = dictionary prefix expansion + ONE pruned postings
    pass: the postings scan carries the bucket+term pushdown (never a full
    postings sweep), and the corpus is never touched."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    plan = plan_of(serve.wildcard_search(spark, idx, "s"))
    assert "documents.parquet" not in plan
    pushed = plan.split("PushedFilters")[1].split("\n")[0] if "PushedFilters" in plan else ""
    assert "In(term" in pushed or "In(bucket" in pushed
    assert "SortMergeJoin" not in plan  # no join at all: filter + one agg


def test_synonym_topk_broadcasts_and_bounds(spark):
    """Synonym scoring: group map and group lexicon join broadcast (never
    shuffle the postings side twice), top-k is a bounded heap."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    plan = plan_of(
        serve.synonym_bm25_topk(spark, idx, {"g": ["spark", "stream"]}, k=5)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bm25f_and_qld_share_the_pruned_serving_shape(spark):
    """BM25F and QLD are per-posting expression swaps inside the SAME
    ``serve._scored`` plan as BM25: bucket partition pruning, lexicon
    statistics from literal maps (no join), bounded top-k, no corpus scan."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    for df in (
        serve.bm25f_topk(spark, idx, ["spark", "hash"], k=10),
        serve.qld_topk(spark, idx, ["spark", "hash"], k=10),
    ):
        plan = plan_of(df)
        assert "PartitionFilters" in plan
        assert "bucket" in plan.split("PartitionFilters")[1].split("\n")[0]
        assert "Join" not in plan
        assert "TakeOrderedAndProject" in plan
        assert "SortMergeJoin" not in plan
        assert "documents" not in plan  # index-served: no corpus scan


def test_ann_filtered_pushes_label_into_scan(spark):
    """Filtered vector search is the PRE-filter strategy: the label
    predicate must reach the parquet scan (PushedFilters), and the label
    column must not survive into the scored projection."""
    from searchengine_spark.operators import similarity
    from searchengine_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(similarity.ann_filtered_topk(emb, n_queries=4, k=5, label_value=1))
    assert "PushedFilters" in plan
    assert "label" in plan.split("PushedFilters")[1].split("\n")[0]


def test_hybrid_rrf_fuses_bounded_sides(spark):
    """RRF fusion: both retriever sides are bounded BEFORE the join — the
    plan carries the lexical bounded top-k (TakeOrderedAndProject) and no
    sort-merge join anywhere (two <= r-row frames join broadcast-side)."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table

    idx = gate_index(spark, SF_DIR)
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(serve.hybrid_rrf_topk(spark, idx, emb, ["spark", "hash"], k=10, r=20))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_exact_substring_spans_windows_by_doc_only(spark):
    """The only window in the span merge partitions by doc_id (bounded by
    doc length) — never an unkeyed or fp-keyed window."""
    from searchengine_spark.operators.dedup import exact_substring_spans
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(exact_substring_spans(docs, window=16))
    assert "No Partition Defined" not in plan
    # Spark 4 formatted plans carry the partition key on the
    # windowspecdefinition argument lines (a line containing "Window"
    # never also says "partition", so matching on that would be vacuous)
    spec_lines = [
        line for line in plan.splitlines() if "windowspecdefinition" in line
    ]
    assert spec_lines and all("doc_id" in line for line in spec_lines)


def test_maxp_serves_from_pruned_postings_no_window(spark):
    """Passage MaxP: bucket-pruned postings scan, lexicon statistics from
    literal maps, the per-doc best passage via hash aggregate (struct max)
    — no corpus scan, no join, no window, bounded top-k."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    plan = plan_of(serve.bm25_maxp_topk(spark, idx, ["spark", "hash"], k=10))
    assert "documents.parquet" not in plan
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1].split("\n")[0]
    assert "Window" not in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_routing_is_scan_only_projection(spark):
    """Rendezvous routing must be a pure per-row projection: no exchange,
    no join, no window — at 10^12 docs it fuses into the feeding scan."""
    from searchengine_spark.operators.routing import rendezvous_route
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(rendezvous_route(docs, 5))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_collapse_topk_is_hash_agg_not_window(spark):
    """Field collapsing: the per-group argmax must be a hash aggregate
    (map-side combinable), never a row_number window over the candidates."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table

    idx = gate_index(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(serve.collapse_topk(spark, idx, docs, ["spark", "hash"], k=10))
    assert "Window" not in plan
    assert "HashAggregate" in plan and "TakeOrderedAndProject" in plan


def test_search_after_is_bounded_heap_with_cursor_pushdown(spark):
    """Deep paging: the cursor page must still be a bounded top-k heap
    (TakeOrderedAndProject) over the pruned postings scan — no offset
    sort, no SortMergeJoin, cursor predicate applied before the heap."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    plan = plan_of(
        serve.bm25_search_after(spark, idx, ["spark", "hash"], (123456, 7), k=10)
    )
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "score_micros" in plan  # cursor filter on the aggregate output


def test_xref_counts_never_pair_joins(spark):
    """The defs/refs rollup joins two per-symbol AGGREGATES (vocab-sized),
    never the raw def×ref row sets: both join inputs must sit above a
    HashAggregate, and the distinct counts must be partial (map-side)."""
    from searchengine_spark.operators.textstats import symbol_xref_counts
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(symbol_xref_counts(docs))
    # count(DISTINCT doc_id) plans as partial_count(distinct ...) — the
    # map-side-combined form — once per side (defs, refs), and the final
    # join is the full-outer merge of those two vocab-sized aggregates
    assert plan.count("partial_count(distinct") == 2
    assert "FullOuter" in plan
    # the join sees ONLY aggregate output columns, never raw doc rows
    join_line = next(ln for ln in plan.splitlines() if "FullOuter" in ln)
    assert "doc_id" not in join_line


def test_zipf_slope_bounded_heap_not_global_sort(spark):
    """The top-N term cut must be a bounded heap (TakeOrderedAndProject)
    over the map-side-combined frequency aggregate — never a vocab-wide
    global Sort; the rank window then sees only the N-row constant."""
    from searchengine_spark.operators.corpusstats import zipf_slope
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(zipf_slope(docs, top_n=1000))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan  # term-freq agg is map-side combined


def test_domain_kl_joins_aggregates_only(spark):
    """domain_kl_drift joins (src,term)-, (term)- and (src)-keyed
    AGGREGATES of one tokenize pass; the 1-row corpus total must come back
    as a broadcast nested-loop (cross) join, and no raw-token side may
    reach a SortMergeJoin."""
    from searchengine_spark.operators.corpusstats import domain_kl_drift
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(domain_kl_drift(docs))
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row n_tot cross join
    assert "SortMergeJoin" not in plan  # per-term/per-src sides broadcast
    # the (src,term) aggregate is persisted: all four consumers read the
    # cached relation, so the corpus is tokenized exactly once
    assert "InMemoryTableScan" in plan


def test_crawl_schedule_windows_are_bucketed(spark):
    """Every window in the schedule plan must be partitioned by (host,
    bucket) or by host over the 256-row bucket-count table — never by host
    alone over raw frontier rows, and never unpartitioned."""
    from searchengine_spark.operators.fetch import crawl_schedule
    from searchengine_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(crawl_schedule(docs, n_hosts=7))
    assert "No Partition Defined" not in plan
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs and all("host" in l for l in specs)
    # the row_number window (the one over row data) must carry the bucket
    rank_specs = [l for l in specs if "row_number" in l]
    assert rank_specs and all(" b#" in l or "b#" in l for l in rank_specs)


def test_knn_graph_co_keyed_join_no_cartesian(spark):
    """The kNN-graph candidate stage must be the bands⋈bands equi-join on
    (band_id, band_key) — no CartesianProduct / BroadcastNestedLoopJoin
    anywhere (a |V|² plan would 'work' at test scale and melt at 10^9)."""
    from searchengine_spark.operators.similarity import knn_graph
    from searchengine_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(knn_graph(emb, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pl2_topk_plan_shape(spark):
    """PL2 must share the BM25 serving shape: λ from the literal cf map
    (no join), bounded top-k heap, no window."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)
    plan = plan_of(serve.pl2_topk(spark, idx, ["spark", "hash", "join"], k=10))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_mmr_topk_corpus_side_is_bounded(spark):
    """MMR's expensive stage (the Arrow greedy group) must sit above the
    bounded BM25 top-r, and candidate enrichment must not cross-join:
    no cartesian anywhere, exactly one Python/Arrow group stage."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index
    from searchengine_spark.sources.tables import load_table

    idx = gate_index(spark, SF_DIR)
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(serve.mmr_topk(spark, idx, emb, ["spark", "hash", "join"], k=10, r=50))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # the stage-1 candidate heap


def test_round2_wave2_plan_shapes(spark):
    """Plan audit for the second-wave round-2 operators: phrase top-k is a
    bounded heap, not a global sort."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, SF_DIR)

    p = plan_of(serve.phrase_topk(spark, idx, ["hash", "join"], k=10))
    assert "TakeOrderedAndProject" in p
