"""The gate index is columnar-only: a fresh build publishes postings and
lexicon, serving it (SearchAPI and its requests) runs no Python UDF, and
the compressed segments are encoded on first use by ``ensure_segments`` —
once, recorded in the manifest and lineage, and ranking like the columnar
BM25 path."""

from __future__ import annotations

import json
import os
import re

import pytest

from tests.conftest import sql_plans

SF_SMALL = "/root/testdata/sf0.001"
# physical operators that ship rows to a pyspark worker
PYTHON_NODE = re.compile(r"MapIn(Arrow|Pandas)|\w*EvalPython|\w*InPandas")
QUERIES = [["hash", "join"], ["spark", "hash", "join"], ["window"]]


def _manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "_manifest.json")) as f:
        return json.load(f)["stages"]


def _lineage_rows(spark, index_dir: str) -> list[tuple]:
    return sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(index_dir, "lineage")).collect()
    )


@pytest.fixture(scope="module")
def fresh(spark, tmp_path_factory):
    """A gate index built cold in its own cache root, and the plans of
    everything a SearchAPI process runs: construction (which builds the
    index), a plain and a phrase search, and one call of every other route
    but ``/api/similar`` (whose ANN scan is a pandas UDF over the
    embeddings, not the index)."""
    from searchengine_spark.jobs.serve_api import SearchAPI
    from searchengine_spark.plans import gate_index as gi

    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("TMPDIR", str(tmp_path_factory.mktemp("gate_cache")))
        mp.setattr(gi, "_LOADED", {})
        out: dict = {}

        def serve() -> None:
            api = SearchAPI(spark, SF_SMALL)
            out["hits"] = [api.search("hash join"), api.search('"hash join"')]
            api.record_query("hash join")
            out["routes"] = [
                api.search("hash AND NOT join"),
                api.search("spar*"),
                api.suggest_query("hsh jin"),
                api.suggest_prefix("spa"),
                api.suggest_history("ha"),
                api.more_like(out["hits"][0][0]["id"]),
                api.explain("hash join"),
                api.stats(),
            ]
            out["api"] = api

        out["plans"] = sql_plans(spark, serve)
        out["dir"] = out["api"].idx["dir"]
        out["listing"] = sorted(os.listdir(out["dir"]))
        out["stages"] = _manifest(out["dir"])
        out["lineage"] = _lineage_rows(spark, out["dir"])
        yield out


def test_fresh_gate_index_is_columnar_only(fresh):
    assert "segments" not in fresh["listing"]
    assert set(fresh["stages"]) == {"postings", "lexicon"}
    assert "segments" not in fresh["api"].idx
    assert {r[0] for r in fresh["lineage"]} == {"postings", "lexicon"}


def test_search_api_runs_no_python(fresh):
    """Building the gate index and serving a plain and a phrase search
    (and the other index routes) plan no operator that hands rows to a
    Python worker."""
    assert all(fresh["hits"]) and all(fresh["routes"])
    assert len(fresh["plans"]) > 6  # the build's and both requests' executions
    found = [m.group(0) for p in fresh["plans"] for m in PYTHON_NODE.finditer(p)]
    assert not found, found


def test_ensure_segments_once(spark, fresh):
    """The first call encodes (a Python UDF plan, which the check above
    would have caught), publishes ``segments/`` and records it; the second
    runs no Spark execution and changes nothing on disk."""
    from searchengine_spark.plans.build_index import ensure_segments

    base = fresh["dir"]
    first = sql_plans(spark, lambda: ensure_segments(spark, base))
    assert any(PYTHON_NODE.search(p) for p in first)

    stages = _manifest(base)
    assert {s: stages[s] for s in fresh["stages"]} == fresh["stages"]
    seg = stages["segments"]
    assert seg["input_fingerprint"] == stages["lexicon"]["input_fingerprint"]
    assert set(seg["metrics"]) == {"wall_ms", "bytes", "avgdl", "shard_span"}
    assert seg["metrics"]["avgdl"] == stages["lexicon"]["metrics"]["avgdl"]
    listing = sorted(os.listdir(base))
    assert listing == sorted(fresh["listing"] + ["segments"])
    lineage = _lineage_rows(spark, base)
    assert any(r[0] == "segments" for r in lineage)

    again = {}
    assert sql_plans(spark, lambda: again.setdefault("seg", ensure_segments(spark, base))) == []
    assert again["seg"].count() > 0
    assert _manifest(base) == stages
    assert sorted(os.listdir(base)) == listing
    assert _lineage_rows(spark, base) == lineage


def test_losing_publish_reads_the_winner(spark, fresh, monkeypatch):
    """A process that encodes while another publishes (simulated: the
    manifest check misses the recorded segments) loses the rename: it drops
    its tmp copy, leaves the winner's files, manifest and lineage as they
    are, and reads the winner's table."""
    from searchengine_spark.plans import lineage as lin
    from searchengine_spark.plans.build_index import ensure_segments

    base = fresh["dir"]
    want = ensure_segments(spark, base).collect()
    seg_dir = os.path.join(base, "segments")

    def files():
        return sorted(
            (os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, fs in os.walk(seg_dir)
            for f in fs
        )

    before = (files(), _manifest(base), _lineage_rows(spark, base))
    monkeypatch.setattr(lin.IndexManifest, "is_done", lambda self, stage, fp: False)
    got = ensure_segments(spark, base).collect()
    monkeypatch.undo()
    assert sorted(got) == sorted(want)
    assert (files(), _manifest(base), _lineage_rows(spark, base)) == before
    assert not [e for e in os.listdir(base) if e.startswith("_tmp_")]


@pytest.mark.parametrize("terms", QUERIES, ids=" ".join)
def test_segment_topk_equals_columnar(spark, fresh, terms):
    """On the gate index, block-max == exhaustive segment scan ==
    ``serve.bm25_topk``, row for row in integer micros."""
    from searchengine_spark.operators import serve
    from searchengine_spark.operators.segments import (
        blockmax_topk_micros,
        seg_exhaustive_topk_micros,
    )
    from searchengine_spark.plans.build_index import ensure_segments

    idx = fresh["api"].idx
    seg = ensure_segments(spark, idx["dir"])
    args = (spark, seg, idx["lexicon"], terms, idx["avgdl"])
    want = [tuple(r) for r in serve.bm25_topk(spark, idx, terms, k=10).collect()]
    assert want
    assert [tuple(r) for r in blockmax_topk_micros(*args, k=10).collect()] == want
    assert [tuple(r) for r in seg_exhaustive_topk_micros(*args, k=10).collect()] == want
    assert [tuple(r) for r in serve.bm25_topk_blockmax(spark, idx, terms, k=10).collect()] == want


def test_manifest_keeps_other_processes_stages(tmp_path):
    """Recording a stage re-reads the manifest: a writer holding an older
    copy does not drop the stage another writer recorded meanwhile."""
    from searchengine_spark.plans.lineage import IndexManifest

    a, b = IndexManifest(str(tmp_path)), IndexManifest(str(tmp_path))
    a.mark_done("lexicon", "fp", {"n": 1})
    b.mark_done("segments", "fp", {"n": 2})
    stages = IndexManifest(str(tmp_path)).stage_metrics()
    assert stages == {"lexicon": {"n": 1}, "segments": {"n": 2}}
    assert sorted(os.listdir(tmp_path)) == ["_manifest.json"]


def _mark_many(index_dir: str, stage: str, times: int, start) -> None:
    from searchengine_spark.plans.lineage import IndexManifest

    m = IndexManifest(index_dir)  # read once: every later write merges
    start.wait(timeout=60)
    for i in range(times):
        m.mark_done(stage, "fp", {"i": i})


def test_manifest_concurrent_writers_keep_every_stage(tmp_path):
    """More writer processes than cores, each recording its own stage over
    and over: the manifest ends with every stage at its last value (a
    read-modify-write without the lock loses some)."""
    import multiprocessing

    from searchengine_spark.plans.lineage import IndexManifest

    n, times = min(os.cpu_count() or 2, 8) + 2, 200
    ctx = multiprocessing.get_context("spawn")
    start = ctx.Barrier(n)
    procs = [
        ctx.Process(target=_mark_many, args=(str(tmp_path), f"s{k}", times, start))
        for k in range(n)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    assert not any(p.is_alive() for p in procs)
    assert all(p.exitcode == 0 for p in procs)
    stages = IndexManifest(str(tmp_path)).stage_metrics()
    assert stages == {f"s{k}": {"i": times - 1} for k in range(n)}
