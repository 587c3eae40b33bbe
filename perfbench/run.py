"""Repo benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

Run from the root of a checkout (the directory holding
``searchengine_spark/``). Every input is generated from ``--seed``; every
answer is checked; the last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the run wraps the calls into the program's layers with spans, reads
Spark's own job, stage and SQL metrics, prints a per-layer table, writes
every span to ``.perfbench_work/trace-<workload>-<seed>.json`` and reports
the per-layer metrics. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.parse
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("build", "search")
BUILD_DOCS, BUILD_TERMS = 1500, 20000
SEARCH_DOCS, SEARCH_TERMS = 500, 20000
# search op: the mean round trip of the first requests a freshly built index
# serves (a phrase, 2 and 3 terms). Later requests speed up over ~30 requests
# at a pace that differs from JVM to JVM; see README.md
FIRST_REQUESTS = 3
N_QUERIES = 500  # more than one run can send; the run cycles through them
PROBE_QUERIES, PROBE_TERMS = 1, 2  # build check: block-max top-k == exhaustive top-k
INDEX_TABLES = ("postings", "lexicon", "segments", "documents")
STAGES = ("documents_raw", "postings", "lexicon", "segments", "documents_final")
# publish_stage names that belong to the documents_final stage span
STAGE_OF = {"edges": "documents_final", "documents": "documents_final"}


def host_block(heap: str) -> dict:
    import pyarrow
    import pyspark

    mem = _meminfo()
    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": mem["MemTotal"],
        "heap": heap,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": subprocess.run(
            ["java", "-version"], capture_output=True, text=True
        ).stderr.split("\n")[0],
    }


def _meminfo() -> dict[str, int]:
    with open("/proc/meminfo") as f:
        return {ln.split(":")[0]: int(ln.split()[1]) for ln in f}


def jvm_heap() -> str:
    """A sixth of MemAvailable, whole GiB, clamped to 1-2 GiB: on a host
    with room to spare both sides of a comparison get the same 2g."""
    gib = _meminfo()["MemAvailable"] // (6 << 20)
    return f"{max(1, min(2, gib))}g"


def fits(times: list[float], t_end: float, at_least: int = 1) -> bool:
    """Start another operation while fewer than ``at_least`` ran, else only
    if one more, as long as the last, ends inside the window: a run
    measures ``at_least`` operations and stays within ``--seconds`` (plus
    one) however long operations take."""
    return len(times) < at_least or time.perf_counter() + times[-1] <= t_end


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """Shared state of one benchmark process."""

    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "local"))
        self.heap = jvm_heap()
        os.environ.update(
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            TMPDIR=self.work,  # gate-index cache root: cold every run
            SPARK_DRIVER_MEMORY=self.heap,
            SPARK_GRAFT_CPUS=str(os.cpu_count()),
        )
        self.tracer = tracing.Tracer() if args.trace else None
        self.failures: list[str] = []
        self.attempted = 0
        self.spark = None
        self.session_s = 0.0
        self.index_ratio = 0.0  # index bytes per input content byte
        self.info: dict = {}  # workload figures printed on the line before the result

    def span(self, name: str, **kw):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **kw)

    def start_spark(self):
        from searchengine_spark.session import get_spark

        t0 = time.perf_counter()
        n = os.cpu_count()
        self.spark = get_spark(
            master=f"local[{n}]",
            shuffle_partitions=n,  # the program default, max(n, 8), is sized for 8+ cores
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.status = tracing.SparkStatus(self.spark)
        self.session_s = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait until it and its Python
        workers have exited."""
        if self.spark is None:
            return
        pids = tracing.proc_sample().pids
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        left = tracing.wait_gone(pids)
        if left:
            self.failures.append(f"processes still running at exit: {left}")


# ------------------------------------------------------------------ build


def run_build(r: Run) -> dict:
    from searchengine_spark.operators import ingest
    from searchengine_spark.operators.segments import (
        blockmax_topk_micros,
        seg_exhaustive_topk_micros,
    )
    from searchengine_spark.plans import build_index as bi
    from searchengine_spark.plans import lineage

    t_setup = time.perf_counter()
    spark = r.start_spark()
    corpus = gen.generate(r.args.seed, BUILD_DOCS, BUILD_TERMS)
    frame = gen.corpus_frame(corpus)
    src = os.path.join(r.work, "corpus.parquet")
    frame.to_parquet(src, index=False)
    content_bytes = sum(len(t.encode()) for t in corpus.texts)

    if r.tracer is not None:  # one span per stage write: build_index calls lin.publish_stage
        publish = lineage.publish_stage

        def traced_publish(df, index_dir, stage, *a, **kw):
            with r.tracer.span("stage:" + STAGE_OF.get(stage, stage)) as sp:
                sp.extra["proc0"] = tracing.proc_sample()
                try:
                    return publish(df, index_dir, stage, *a, **kw)
                finally:
                    sp.extra["proc1"] = tracing.proc_sample()

        lineage.publish_stage = traced_publish

    def build(i: int) -> tuple[float, dict, str]:
        out = os.path.join(r.work, f"index{i}")  # empty dir: no manifest resume
        df = spark.read.parquet(src)
        with r.span("build_index") as sp:
            t0 = time.perf_counter()
            m = bi.build_index(spark, df, out, with_pagerank=False)
            wall = time.perf_counter() - t0
        if sp is not None:
            sp.extra["skew_ratio"] = m["lexicon"]["skew_ratio"]
        return wall, m, out

    _, m0, out0 = build(0)  # warm-up: the first build is ~40% slower
    setup_s = time.perf_counter() - t_setup
    ref_bytes = {t: dir_bytes(os.path.join(out0, t)) for t in INDEX_TABLES}

    walls, i, t_end = [], 1, time.perf_counter() + r.args.seconds
    while fits(walls, t_end):
        wall, m, out = build(i)
        walls.append(wall)
        r.attempted += 1
        bad = [s for s in STAGES if "wall_ms" not in m.get(s, {})]
        got = {t: dir_bytes(os.path.join(out, t)) for t in INDEX_TABLES}
        if bad:
            r.failures.append(f"build {i}: stages without wall_ms: {bad}")
        elif m["n_postings"] != m0["n_postings"] or m["n_postings"] <= 0:
            r.failures.append(f"build {i}: n_postings {m['n_postings']} != {m0['n_postings']}")
        elif got != ref_bytes:
            r.failures.append(f"build {i}: output bytes {got} != {ref_bytes}")
        if i > 1:
            shutil.rmtree(os.path.join(r.work, f"index{i - 1}"), ignore_errors=True)
        i += 1

    # untimed checks on the last build
    idx = bi.load_index(spark, out)
    if ingest.verify_sha256_invariant(spark.read.parquet(src), idx["documents"]) != 0:
        r.failures.append("sha256 invariant violated")
    # probe terms come from the built lexicon: the index tokenizer stems
    lex = sorted(row["term"] for row in idx["lexicon"].select("term").collect())
    rng = gen.np.random.default_rng(r.args.seed)
    avgdl = m["lexicon"]["avgdl"]
    for _ in range(PROBE_QUERIES):
        terms = [str(t) for t in rng.choice(lex, size=PROBE_TERMS, replace=False)]
        args = (spark, idx["segments"], idx["lexicon"], terms, avgdl)
        a = [tuple(x) for x in blockmax_topk_micros(*args, k=10).collect()]
        b = [tuple(x) for x in seg_exhaustive_topk_micros(*args, k=10).collect()]
        if a != b or not a:
            r.failures.append(f"probe {terms}: blockmax {a} != exhaustive {b}")

    r.index_ratio = sum(ref_bytes.values()) / content_bytes
    r.info = {
        "input_sha256": gen.input_hash(frame),
        "builds": len(walls),
        "build_docs_per_s": corpus.n_docs * len(walls) / sum(walls),
    }
    return {"setup_s": setup_s, "op_ms": 1000 * walls[0]}


# ----------------------------------------------------------------- search


def run_search(r: Run) -> dict:
    import numpy as np

    import oracle
    from searchengine_spark.jobs.serve_api import SearchAPI

    t_setup = time.perf_counter()
    spark = r.start_spark()
    corpus = gen.generate(r.args.seed, SEARCH_DOCS, SEARCH_TERMS)
    docs = gen.documents_frame(corpus)
    sf = os.path.join(r.work, "sf")
    os.makedirs(sf)
    docs.to_parquet(os.path.join(sf, "documents.parquet"), index=False)
    content_bytes = sum(len(t.encode()) for t in corpus.texts)
    t_index = time.perf_counter()
    with r.span("gate_index"):
        api = SearchAPI(spark, sf)
    t_index = time.perf_counter() - t_index
    index_bytes = sum(dir_bytes(os.path.join(api.idx["dir"], t)) for t in ("postings", "lexicon", "segments"))
    r.index_ratio = index_bytes / content_bytes
    server = api.start(0)
    url = f"http://127.0.0.1:{server.server_address[1]}/api/search?query="

    if r.tracer is not None:  # the handler calls api.search: span it per request
        plain = api.search

        def traced_search(q, k=10):
            with r.tracer.span("SearchAPI.search"):
                return plain(q, k)

        api.search = traced_search

    def get(q: str) -> list[int] | None:
        try:
            with urllib.request.urlopen(url + urllib.parse.quote(q), timeout=60) as resp:
                return [row["id"] for row in json.load(resp)["results"]]
        except Exception as exc:  # counted as a wrong answer below
            r.failures.append(f"query {q!r}: {exc}")
            return None

    queries = gen.search_queries(corpus, np.random.default_rng(r.args.seed), N_QUERIES)
    setup_s = time.perf_counter() - t_setup

    lat, got, t_end = [], [], time.perf_counter() + r.args.seconds
    while fits(lat, t_end, FIRST_REQUESTS):
        q = queries[len(got) % N_QUERIES]
        with r.span("request", request=len(got)):
            t0 = time.perf_counter()
            got.append(get(q))
            lat.append(time.perf_counter() - t0)
    server.shutdown()
    server.server_close()
    r.attempted = len(got)

    con = oracle.connect(docs)
    sent = queries[: len(got)]
    expected = [oracle.expected_ids(con, q, 10) for q in sent]
    r.failures += oracle.wrong_answers(sent, expected, got)
    r.info = {
        "input_sha256": gen.input_hash(docs),
        "requests": len(got),
        "gate_index_s": t_index,
        "requests_per_s": len(lat) / sum(lat),
        "p50_ms": 1000 * statistics.median(lat),
        "min_ms": 1000 * min(lat),
        "latencies_ms": [round(1000 * t, 1) for t in lat],
    }
    return {"setup_s": setup_s, "op_ms": 1000 * statistics.mean(lat[:FIRST_REQUESTS])}


# ------------------------------------------------------------- per layer


def innermost(spans: list[tracing.Span], i: int, t: float) -> int:
    """The deepest span under span ``i`` that is open at time ``t``."""
    for j in range(len(spans) - 1, i, -1):
        s = spans[j]
        if s.start <= t <= s.end and _under(spans, j, i):
            return j
    return i


def _under(spans: list[tracing.Span], j: int, i: int) -> bool:
    while j is not None and j != i:
        j = spans[j].parent
    return j == i


def subtree(spans: list[tracing.Span], roots: list[int]) -> list[tracing.Span]:
    """The spans under ``roots`` (roots included), parents re-indexed."""
    keep = [j for j in range(len(spans)) if any(_under(spans, j, i) for i in roots)]
    pos = {j: n for n, j in enumerate(keep)}
    return [dataclasses.replace(spans[j], parent=pos.get(spans[j].parent)) for j in keep]


def layer_metrics(r: Run, workload: str) -> dict:
    """Per-operation figures every workload has, from the spans and from
    Spark's status store; prints the workload's own per-layer table and
    the self time of every span name."""
    tr = r.tracer
    op_name = "build_index" if workload == "build" else "request"
    ops = [i for i, s in enumerate(tr.spans) if s.name == op_name]
    # the operations op_ms covers: the first measured build, the first requests
    ops = ops[1:2] if workload == "build" else ops[:FIRST_REQUESTS]
    execs = r.status.executions(tr.spans[0].start - 1, time.time())
    sites = tracing.CallSites()
    per_op = []
    for i in ops:
        op = tr.spans[i]
        mine = [x for x in execs if op.start <= x.start <= op.end]
        for x in mine:
            name = "exec:" + ":".join(p for p in sites.function(x.call_site) if p)
            tr.add(name, x.start, min(x.end, op.end), innermost(tr.spans, i, x.start))
        spark_s = tracing.union_length([(x.start, min(x.end, op.end)) for x in mine])
        per_op.append(
            {
                "wall": op.end - op.start,
                "spark": spark_s,
                "jobs": sum(x.jobs for x in mine),
                "tasks": sum(x.tasks for x in mine),
                "files": sum(x.files_read for x in mine),
                "rows": sum(x.rows_scanned for x in mine),
                "shuffle": sum(x.shuffle_write_bytes for x in mine),
                "execs": len(mine),
            }
        )
    detail = (build_detail if workload == "build" else search_detail)(r, ops, execs)
    tracing.dump(tr.spans, os.path.join(ROOT, ".perfbench_work", f"trace-{workload}-{r.args.seed}.json"))
    for k, v in sorted(detail.items()):
        print(f"layer {k} = {v:.6g}")
    for k, v in sorted(tracing.self_times(subtree(tr.spans, ops)).items()):
        print(f"self_s {k} = {v:.6g}")

    def med(key: str) -> float:
        return statistics.median(p[key] for p in per_op)

    return {
        "op.wall_ms": 1000 * med("wall"),
        "op.spark_ms": 1000 * med("spark"),
        "op.non_spark_ms": 1000 * (med("wall") - med("spark")),
        "op.executions": med("execs"),
        "op.jobs": med("jobs"),
        "op.tasks": med("tasks"),
        "op.files_read": med("files"),
        "op.rows_scanned": med("rows"),
        "op.shuffle_write_bytes": med("shuffle"),
        "index.bytes_per_content_byte": r.index_ratio,
    }


def build_detail(r: Run, ops: list[int], execs) -> dict:
    """Per-stage wall, CPU, Arrow and Spark figures of the measured builds."""
    tr = r.tracer
    out: dict[str, float] = {}
    for i in ops:
        op = tr.spans[i]
        stages = [s for s in tr.spans if s.parent == i and s.name.startswith("stage:")]
        inner = tracing.union_length([(s.start, s.end) for s in stages])
        out["build.orchestration_s"] = out.get("build.orchestration_s", 0) + (op.end - op.start - inner)
        out["build.skew_ratio"] = op.extra["skew_ratio"]
        for s in stages:
            key = "build." + s.name[len("stage:") :]
            p0, p1 = s.extra["proc0"], s.extra["proc1"]
            mine = [x for x in execs if s.start <= x.start <= s.end]
            for name, v in (
                ("wall_s", s.end - s.start),
                ("jvm_cpu_s", p1.jvm_cpu_s - p0.jvm_cpu_s),
                ("py_cpu_s", p1.py_cpu_s - p0.py_cpu_s),
                ("arrow_to_py_bytes", sum(x.arrow_to_py_bytes for x in mine)),
                ("arrow_from_py_bytes", sum(x.arrow_from_py_bytes for x in mine)),
                ("shuffle_write_bytes", sum(x.shuffle_write_bytes for x in mine)),
                ("spill_bytes", sum(x.spill_bytes for x in mine)),
                ("tasks", sum(x.tasks for x in mine)),
                ("failed_tasks", sum(x.failed_tasks for x in mine)),
                ("output_bytes", sum(x.output_bytes for x in mine)),
            ):
                out[f"{key}.{name}"] = out.get(f"{key}.{name}", 0) + v
    n = len(ops)
    out = {k: (v if k == "build.skew_ratio" else v / n) for k, v in out.items()}
    # orchestration is the build span minus its stage spans, so the two add
    # up to the build wall time; what can go wrong is a stage without a span
    seen = {s.name[len("stage:") :] for s in tr.spans if s.name.startswith("stage:")}
    if seen != set(STAGES):
        r.failures.append(f"trace: stage spans {sorted(seen)} != {sorted(STAGES)}")
    return out


def search_detail(r: Run, ops: list[int], execs) -> dict:
    """Per-request time by the program function that submitted each Spark
    job, the API gap and the HTTP round-trip share."""
    tr = r.tracer
    by_fn: dict[str, float] = {}
    count: dict[str, int] = {}
    http, gap = [], []
    for i in ops:
        op = tr.spans[i]
        calls = [s for s in tr.spans if s.parent == i and s.name == "SearchAPI.search"]
        jobs = [s for s in tr.spans if s.request == op.request and s.name.startswith("exec:")]
        for s in jobs:
            by_fn[s.name] = by_fn.get(s.name, 0.0) + (s.end - s.start)
            count[s.name] = count.get(s.name, 0) + 1
        api_s = sum(s.end - s.start for s in calls)
        jobs_s = tracing.union_length([(s.start, s.end) for s in jobs])
        http.append(op.end - op.start - api_s)
        gap.append(api_s - jobs_s)
    n = len(ops)
    out = {f"search.{k[5:]}.ms_per_request": 1000 * v / n for k, v in by_fn.items()}
    out.update({f"search.{k[5:]}.jobs_per_request": v / n for k, v in count.items()})
    out["search.http_ms"] = 1000 * statistics.median(http)
    out["search.api_gap_ms"] = 1000 * statistics.median(gap)
    return out


# ------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "searchengine_spark")):  # not a checkout
        print("run from the root of a checkout holding searchengine_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # on SIGTERM unwind through the finally below: stop the JVM, drop the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    r = Run(args)
    try:
        with tracing.PeakRss() as rss:
            e2e = (run_build if args.workload == "build" else run_search)(r)
            e2e["peak_rss_mb"] = rss.peak_bytes / 1e6
            metrics = layer_metrics(r, args.workload) if args.trace else e2e
    finally:
        r.stop()
        shutil.rmtree(r.work, ignore_errors=True)
    for f in r.failures[:20]:
        print("FAILED", f)
    print(
        json.dumps(
            {
                "host": host_block(r.heap),
                "session_s": r.session_s,
                "index_bytes_per_content_byte": r.index_ratio,
                "end_to_end": e2e,  # in a traced run too: the difference is the tracing overhead
                **r.info,
            }
        )
    )
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    print(
        json.dumps(
            {
                "correct": not r.failures,
                "attempted": max(1, r.attempted),
                "failed": min(len(r.failures), max(1, r.attempted)),
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if not r.failures else 1


if __name__ == "__main__":
    sys.exit(main())
