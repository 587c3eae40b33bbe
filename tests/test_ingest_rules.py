"""S3 exclusion-rule filter (robots.txt analog) + fingerprint edge cases."""

from pyspark.sql import functions as F

from searchengine_spark.operators.ingest import apply_exclusions, with_invariants
from searchengine_spark.sources.corpus import generate_corpus


def test_apply_exclusions(spark):
    corpus = generate_corpus(spark, 100, seed=42)
    total = corpus.count()
    out = apply_exclusions(
        corpus,
        [
            {"repo_prefix": "org0/"},
            {"path_prefix": "docs/"},
            {"lang": "md", "path_prefix": "README"},
        ],
    )
    kept = out.collect()
    assert 0 < len(kept) < total
    for r in kept:
        assert not r["repo"].startswith("org0/")
        assert not r["path"].startswith("docs/")
        assert not (r["lang"] == "md" and r["path"].startswith("README"))
    # empty rules = identity
    assert apply_exclusions(corpus, []).count() == total


def test_documents_from_fully_excluded_corpus(spark, tmp_path):
    """Rules that drop every file leave an empty documents frame, not an
    analysis error: the doc-id offsets map is typed even with no buckets.
    The whole build then publishes typed, empty stages (a partitioned write
    of no rows leaves no parquet file, so each stage is read with its
    schema), and a query over the index finds nothing."""
    from searchengine_spark import schemas
    from searchengine_spark.operators import serve
    from searchengine_spark.operators.ingest import build_documents
    from searchengine_spark.plans.build_index import build_index, load_index

    corpus = apply_exclusions(generate_corpus(spark, 20, seed=3), [{"repo_prefix": ""}])
    with build_documents(corpus) as docs:
        assert "doc_id" in docs.columns
        assert docs.collect() == []

    # no PageRank: its eager localCheckpoints would outlive the test and be
    # released by Spark's ContextCleaner at an arbitrary later moment
    metrics = build_index(spark, corpus, str(tmp_path / "idx"), with_pagerank=False)
    assert metrics["n_docs"] == 0 and metrics["n_postings"] == 0
    idx = load_index(spark, str(tmp_path / "idx"))
    assert [f.name for f in idx["postings"].schema] == schemas.POSTINGS_REFERENCE.names
    assert [f.name for f in idx["documents"].schema] == schemas.DOCUMENTS.names
    for table in ("documents", "postings", "lexicon", "edges", "segments"):
        assert idx[table].count() == 0, table
    assert serve.bm25_topk(spark, idx, ["spark", "join"]).collect() == []


def test_fingerprint_whitespace_insensitive(spark):
    df = spark.createDataFrame(
        [("r", "a", "c1", "txt", "hello   world"), ("r", "b", "c2", "txt", "hello world")],
        "repo string, path string, commit string, lang string, content string",
    )
    fps = [r["fingerprint"] for r in with_invariants(df).collect()]
    assert fps[0] == fps[1]  # collapsed whitespace -> same fingerprint


def test_doc_ids_equal_global_rank_at_any_bucket_count(spark):
    """assign_doc_ids must produce EXACTLY rank-in-(repo,path,commit)-order
    regardless of how many sampled-boundary buckets it uses — the bucket
    count is a load-balance knob, never a semantic one (north-rule
    rank-identity across N/4N parallelism rides on this)."""
    from searchengine_spark.operators.ingest import SORT_KEY, assign_doc_ids

    corpus = generate_corpus(spark, 300, seed=7).select(*SORT_KEY)
    expected = {
        (r["repo"], r["path"], r["commit"]): i
        for i, r in enumerate(
            sorted(corpus.collect(), key=lambda r: (r["repo"], r["path"], r["commit"]))
        )
    }
    for n_buckets in (1, 3, 16):
        with assign_doc_ids(corpus, n_partitions=n_buckets) as ids:
            got = ids.collect()
        assert len(got) == len(expected)
        for r in got:
            assert r["doc_id"] == expected[(r["repo"], r["path"], r["commit"])], n_buckets


def test_robots_parse_semantics(spark):
    """RobotsTxtHandler.java:42-55 quirk fidelity: UA sections gate rules,
    case-sensitive prefixes, empty Disallow is a no-op, 404 hosts parse to
    nothing (allow-on-missing)."""
    from searchengine_spark.operators.fetch import parse_robots, synth_robots_bodies

    rules = parse_robots(synth_robots_bodies(spark, n_hosts=7)).collect()
    by_host = {}
    for r in rules:
        by_host.setdefault(r["host"], []).append(r["disallow_prefix"])
    # 404 hosts (i%3==2) contribute no rules — allow-on-missing
    assert "host2.example" not in by_host and "host5.example" not in by_host
    # wildcard section hosts
    assert sorted(by_host["host0.example"]) == ["/p0", "/q0/deep"]
    # exact-UA section hosts get the extra numeric-prefix rule
    assert sorted(by_host["host1.example"]) == ["/1", "/p1", "/q1/deep"]
    # whole-site rule surfaces as "/"
    assert "/" in by_host["host6.example"]
    # other-UA sections, lowercase disallow:, empty Disallow:, Crawl-delay
    # never leak into the rule table
    flat = [p for ps in by_host.values() for p in ps]
    assert "/private" not in flat and "/x" not in flat
    assert "/lowercase-ignored" not in flat and "" not in flat


def test_robots_fetch_parse_filter_pipeline(spark):
    """Crawl-family e2e: synth frontier -> robots parse -> allow filter ->
    fetch; whole-site and prefix rules drop exactly the right URLs."""
    from searchengine_spark.operators.fetch import (
        fetch_pages,
        parse_robots,
        robots_allowed,
        synth_robots_bodies,
    )

    urls = spark.createDataFrame(
        [
            ("http://host0.example/42",),      # no matching rule -> kept
            ("http://host0.example/p0/a",),    # /p0 prefix -> dropped
            ("http://host1.example/15",),      # /1 prefix -> dropped
            ("http://host1.example/25",),      # kept
            ("http://host2.example/p2",),      # 404 host, no rules -> kept
            ("http://host6.example/anything",),# whole-site "/" -> dropped
            ("http://other.example/p0",),      # unknown host -> kept
        ],
        "url string",
    )
    rules = parse_robots(synth_robots_bodies(spark, n_hosts=7))
    allowed = robots_allowed(urls, rules)
    kept = sorted(r["url"] for r in allowed.collect())
    assert kept == [
        "http://host0.example/42",
        "http://host1.example/25",
        "http://host2.example/p2",
        "http://other.example/p0",
    ]
    fetched = fetch_pages(allowed, deterministic_fake=True).collect()
    assert len(fetched) == 4 and all(r["status"] == 200 for r in fetched)
