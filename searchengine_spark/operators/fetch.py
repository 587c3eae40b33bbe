"""Distributed page fetch (S2) — the crawler's HTTP stage as Spark plumbing.

The reference fetches each page twice with jsoup, a 10 s timeout, and a
fixed User-Agent (Crawler.java:66-69; Indexer.java:207-210 re-fetches — the
double-fetch anti-pattern our batch design removes by materializing content
once). This module makes the Spark-side plumbing real and testable without
network access:

- **host-partitioned politeness**: URLs repartition by host so each host's
  requests land in one task and are issued sequentially with ``delay_s``
  between them — per-host rate limiting without any coordination service,
  the idiom a distributed crawler needs at any scale;
- **Arrow-batched transport**: one ``mapInPandas`` crossing; the transport
  function runs per URL inside the batch (network-bound, not CPU-bound, so
  a row loop inside the Arrow batch is the right shape);
- **deterministic fake mode** for tests/gates: content derives from
  ``md5(url)`` so the DuckDB oracle reproduces every row bit-for-bit; the
  real transport (stdlib ``urllib``, timeout, UA header) is written but
  raises cleanly when the sandbox has no route out.

Output carries ``sha256(content)`` — the per-row ingest invariant the
north rule pins (input_hint: "content sha256 equality").
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_UA = "SparkCrawler/1.0"  # the reference's MyCrawler/1.0 analog
FETCH_SCHEMA = "url string, status int, content string, content_sha256 string"


def _fake_response(url: str) -> tuple[int, str]:
    """Deterministic fake transport: status 200, content derived from
    md5(url) — replicated exactly by oracles.fetch_pages_sql."""
    digest = hashlib.md5(url.encode("utf-8")).hexdigest()
    return 200, f"<html><body>{digest}</body></html>"


def _real_response(url: str, timeout_s: float, user_agent: str) -> tuple[int, str]:
    """Real transport (stdlib urllib, UA + timeout per Crawler.java:66-69).
    Exercised over genuine TCP against a loopback HTTP server
    (tests/test_pipeline_ops.py::test_fetch_pages_real_transport_loopback:
    real statuses/bodies/UA-on-the-wire, 404 → (code, ""), unreachable →
    (0, "")); only EXTERNAL-network reachability remains environment-bound
    in this sandbox."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, headers={"User-Agent": user_agent})
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            return resp.status, resp.read().decode("utf-8", errors="replace")
    except urllib.error.HTTPError as e:
        return e.code, ""
    except (urllib.error.URLError, OSError):
        return 0, ""  # unreachable / timeout — status 0, retried upstream


def fetch_pages(
    urls: DataFrame,
    url_col: str = "url",
    deterministic_fake: bool = False,
    timeout_s: float = 10.0,
    delay_s: float = 0.0,
    user_agent: str = DEFAULT_UA,
) -> DataFrame:
    """(url, status, content, content_sha256) — one row per input URL.

    Plan: project the url column → hash-repartition by host (politeness
    unit) → one mapInPandas transport crossing. Downstream joins back on
    ``url`` for any metadata the caller kept."""
    import time

    host = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    parts = urls.select(F.col(url_col).alias("url")).repartition(
        F.coalesce(F.nullif(host, F.lit("")), F.col(url_col))
    )

    def transport(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for url in pdf["url"]:
                if deterministic_fake:
                    status, content = _fake_response(url)
                else:
                    status, content = _real_response(url, timeout_s, user_agent)
                    if delay_s:
                        time.sleep(delay_s)  # per-host pacing (urls of one
                        # host are co-partitioned, so this is a host-local gap)
                sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
                rows.append((url, status, content, sha))
            yield pd.DataFrame(
                rows, columns=["url", "status", "content", "content_sha256"]
            )

    return parts.mapInPandas(transport, FETCH_SCHEMA)


def synth_urls(docs: DataFrame, n_hosts: int = 7, id_col: str = "doc_id") -> DataFrame:
    """Deterministic URL table for the fetch gate: one URL per doc spread
    over ``n_hosts`` hosts (so the politeness repartition actually groups)."""
    return docs.select(
        F.concat(
            F.lit("http://host"),
            F.pmod(F.col(id_col), F.lit(n_hosts)).cast("string"),
            F.lit(".example/"),
            F.col(id_col).cast("string"),
        ).alias("url")
    )


def host_stats(docs: DataFrame, n_hosts: int = 7, id_col: str = "doc_id") -> DataFrame:
    """Per-host crawl rollup over the synthetic URL space: (host, n_pages,
    total_text_chars, n_langs, n_sources) — the aggregation a crawler uses
    to budget politeness delays and per-domain quotas. One
    map-side-combined groupBy on the host key (bounded cardinality =
    number of hosts); distinct counts stay inside the same aggregate."""
    host = F.concat(
        F.lit("host"), F.pmod(F.col(id_col), F.lit(n_hosts)).cast("string")
    )
    return (
        docs.select(
            host.alias("host"),
            F.length(F.col("text")).alias("_chars"),
            "lang",
            "source",
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("_chars").cast("long").alias("total_text_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )


def frontier_bfs(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, depth) — breadth-first frontier expansion from ``seeds``
    over a link graph: the crawler's outer loop (fetch a level, extract
    links, drop already-visited, enqueue the rest), expressed as the
    iterative DataFrame set-expansion it is. depth = minimum hops from any
    seed, guaranteed by level order; unreachable nodes are absent.

    Each level is one join (edges x frontier) + a distinct + an anti-join
    against the visited set — all keyed shuffles, linear in the frontier's
    out-edges; ``localCheckpoint`` cuts the growing lineage per level like
    every iterative loop here. The visited set is a DataFrame, never
    driver state, so frontier size is unbounded by driver memory."""
    frontier = seeds.select(F.col(id_col).alias("doc_id")).distinct()
    frontier = frontier.localCheckpoint(eager=True)
    visited = frontier
    out = frontier.withColumn("depth", F.lit(0).cast("int"))
    e = edges.select(F.col("src").alias("doc_id"), "dst")
    for d in range(1, max_depth + 1):
        nxt = (
            e.join(frontier, "doc_id")
            .select(F.col("dst").alias("doc_id"))
            .distinct()
            .join(visited, "doc_id", "left_anti")
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        out = out.unionByName(nxt.withColumn("depth", F.lit(d).cast("int")))
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return out.join(nodes.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi")


def crawl_schedule(
    docs: DataFrame,
    n_hosts: int = 7,
    delay_ms: int = 500,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, host, slot, fetch_offset_ms): the politeness fetch schedule —
    every host's frontier becomes an ordered queue with one fetch per
    ``delay_ms`` (the distributed analog of the reference's fixed crawler
    thread pool + per-fetch timeout, Crawler.java:19-20,66-69: there, 5
    threads rate-limit implicitly; here the QPS bound is explicit per host
    and the frontier can be any size).

    Queue order within a host is the md5 shuffle order ('fetch:'||doc_id) —
    deterministic, engine-portable, and free of path-locality runs (crawl
    traps that would serialize against one URL subtree). The per-host
    sequence number is computed WITHOUT a host-sized window partition:
    the key's first hex byte is an ORDERED bucket, so slot = per-(host,
    bucket) row_number + a per-host 256-row prefix-sum window — the
    two-phase rank, run per group. A hot host with 10^8
    frontier URLs costs 256 bounded tasks, never one giant window task.
    """
    from pyspark.sql import Window

    host = F.concat(
        F.lit("host"), F.pmod(F.col(id_col), F.lit(n_hosts)).cast("string")
    )
    h = F.md5(F.concat(F.lit("fetch:"), F.col(id_col).cast("string")))
    keyed = docs.select(
        F.col(id_col),
        host.alias("host"),
        h.alias("h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("b"),
    )
    counts = keyed.groupBy("host", "b").agg(F.count(F.lit(1)).alias("n"))
    # per-host prefix sum over the ≤256 bucket rows: a BOUNDED window
    woff = (
        Window.partitionBy("host")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "host",
        "b",
        F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("off"),
    )
    wr = Window.partitionBy("host", "b").orderBy(F.asc("h"), F.asc(id_col))
    return (
        keyed.withColumn("r", F.row_number().over(wr))
        .join(offsets, ["host", "b"])
        .select(
            F.col(id_col),
            "host",
            (F.col("off") + F.col("r")).cast("long").alias("slot"),
            ((F.col("off") + F.col("r") - 1) * F.lit(delay_ms))
            .cast("long")
            .alias("fetch_offset_ms"),
        )
    )


# ---------------------------------------------------------------------------
# robots.txt family (S3): fetch → parse → per-URL allow filter
# ---------------------------------------------------------------------------

def synth_robots_bodies(spark, n_hosts: int = 7) -> DataFrame:
    """Deterministic synthetic robots.txt fetch results for the gate
    corpus hosts — (host, status, content), built DISTRIBUTED with JVM
    expressions (spark.range + concat), reproduced bit-for-bit by
    oracles.robots_rules_sql.

    Body layout exercises every branch of the reference parser
    (RobotsTxtHandler.java:42-55): a comment, an OtherBot section (must be
    ignored), a matching section (``*`` for hosts ``i%3==0``, the exact
    crawler UA for ``i%3==1``), a lowercase ``disallow:`` line (the
    reference regex is case-sensitive — ignored), an EMPTY ``Disallow:``
    (regex needs a non-empty path — ignored), a ``Crawl-delay`` line
    (ignored), a whole-site ``Disallow: /`` on host 6, and a trailing
    ThirdBot section (ignored). Hosts ``i%3==2`` 404 (allow-on-missing:
    RobotsTxtHandler.java:56-58 leaves the denylist empty on fetch error).

    Real mode is ``fetch_pages(hosts + '/robots.txt')`` — same downstream
    parse; this synthesizer replaces only the transport.
    """
    i = F.col("id")
    s = i.cast("string")
    ua_line = F.when(i % 3 == 0, F.lit("User-agent: *")).otherwise(
        F.lit(f"User-agent: {DEFAULT_UA}")
    )
    # concat_ws skips NULL args — conditional lines appear only when set
    body = F.concat_ws(
        "\n",
        F.concat(F.lit("# robots for host"), s),
        F.lit(""),
        F.lit("User-agent: OtherBot"),
        F.lit("Disallow: /private"),
        F.lit(""),
        ua_line,
        F.concat(F.lit("Disallow: /p"), s),
        F.concat(F.lit("Disallow: /q"), s, F.lit("/deep")),
        F.when(i % 3 == 1, F.lit("Disallow: /1")),
        F.lit("disallow: /lowercase-ignored"),
        F.lit("Disallow:"),
        F.lit("Crawl-delay: 1"),
        F.when(i == 6, F.lit("Disallow: /")),
        F.lit("User-agent: ThirdBot"),
        F.lit("Disallow: /x"),
    )
    status = F.when(i % 3 == 2, F.lit(404)).otherwise(F.lit(200))
    return spark.range(n_hosts).select(
        F.concat(F.lit("host"), s, F.lit(".example")).alias("host"),
        status.cast("int").alias("status"),
        F.when(status == 200, body).otherwise(F.lit("")).alias("content"),
    )


def parse_robots(bodies: DataFrame, user_agent: str = DEFAULT_UA) -> DataFrame:
    """(host, line_no, disallow_prefix) — parse fetched robots.txt bodies
    into the per-host Disallow prefix table, with the reference parser's
    exact semantics (RobotsTxtHandler.java:42-55):

    - lines are trimmed; a ``User-agent:`` line (case-sensitive prefix)
      opens a section; the section applies iff its value (chars after
      position 11, trimmed) equals ``*`` or the crawler UA exactly;
    - inside an applying section, any line fully matching
      ``Disallow:\\s*(.+)`` contributes chars after position 9, trimmed,
      as a disallow prefix (so an empty ``Disallow:`` is a no-op and a
      lowercase ``disallow:`` never matches);
    - a host whose body is empty (fetch error / 404) contributes no rules
      — allow-on-missing.

    Plan is pure JVM: split + posexplode, then the section state is a
    running ``last(ua, ignorenulls)`` window per host ordered by line
    position — no Python, one narrow shuffle on host. At scale the state
    window is per-host and robots bodies are tiny (few KB), so a hot host
    costs one small task; rules feed a broadcast join downstream.
    """
    from pyspark.sql import Window

    lines = bodies.select(
        "host", F.posexplode(F.split("content", "\n")).alias("pos", "raw")
    ).select("host", "pos", F.trim("raw").alias("line"))
    ua_val = F.when(
        F.col("line").startswith("User-agent:"),
        F.trim(F.expr("substring(line, 12)")),
    )
    w = Window.partitionBy("host").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    st = lines.select(
        "host",
        "pos",
        "line",
        F.last(ua_val, ignorenulls=True).over(w).alias("cur_ua"),
    )
    return (
        st.filter(
            F.col("cur_ua").isin("*", user_agent)
            & F.col("line").rlike(r"^Disallow:\s*(.+)$")
        )
        .select(
            "host",
            (F.col("pos") + 1).cast("int").alias("line_no"),
            F.trim(F.expr("substring(line, 10)")).alias("disallow_prefix"),
        )
    )


def robots_allowed(urls: DataFrame, rules: DataFrame, url_col: str = "url") -> DataFrame:
    """Filter a URL frontier by parsed robots rules — the distributed form
    of RobotsTxtHandler.isAllowed (RobotsTxtHandler.java:60-74): a URL is
    dropped iff its host has a rule that is ``/`` (whole site) or whose
    prefix starts the URL's path; URLs on hosts with no rules pass
    (different-domain / allow-on-missing semantics).

    Plan: extract (host, path) from the URL, broadcast LEFT ANTI join
    against the rules table on the prefix predicate — the same shape as
    ingest.apply_exclusions. Rules are per-host denylists (tiny: robots
    files are KBs), so broadcast is always right even at a 10^12-URL
    frontier; the anti-join is map-side, zero shuffle of the frontier.
    """
    host = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    path = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/]*(/.*)?$", 1)
    u = urls.withColumn("_host", host).withColumn("_path", path)
    r = rules.select(
        F.col("host").alias("_rhost"), F.col("disallow_prefix").alias("_pre")
    )
    cond = (F.col("_host") == F.col("_rhost")) & (
        (F.col("_pre") == "/") | F.col("_path").startswith(F.col("_pre"))
    )
    return u.join(F.broadcast(r), cond, "left_anti").drop("_host", "_path")
