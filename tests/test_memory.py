"""Memory sized by the work: the driver heap is committed on demand, driver
rows enter plans as JVM literals (so a session runs one pyspark worker
pool), and ingest's persisted slim rows live only as long as their build."""

from __future__ import annotations

import ast
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Modules still allowed to build frames from Python rows: the corpus
# generator (a pandas frame, decoded from Arrow in the JVM) and the operator
# families awaiting retirement (ROADMAP open item 3).
_PYTHON_ROWS_ALLOWED = {
    "sources/corpus.py",
    "operators/similarity.py",
    "operators/dedup.py",
}


def test_driver_heap_committed_on_demand(monkeypatch):
    from searchengine_spark.session import driver_java_options

    monkeypatch.delenv("SPARK_PRETOUCH", raising=False)
    opts = driver_java_options("6g").split()
    assert opts == ["-XX:+UseTransparentHugePages"]
    assert not any(o.startswith("-Xms") for o in opts)

    monkeypatch.setenv("SPARK_PRETOUCH", "1")
    opts = driver_java_options("6g").split()
    assert "-Xms6g" in opts and "-XX:+AlwaysPreTouch" in opts
    assert "-XX:+UseTransparentHugePages" in opts


def test_no_python_rows_frames():
    """``spark.createDataFrame(<python rows>)`` is a Python RDD relation,
    which starts a second pyspark worker pool beside the pandas UDFs'."""
    pkg = os.path.join(REPO, "searchengine_spark")
    found = []
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if not name.endswith(".py") or rel in _PYTHON_ROWS_ALLOWED:
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            found += [
                f"{rel}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr == "createDataFrame"
            ]
    assert not found, found


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([], "doc_id long, score_micros long"),
        (
            [("it's", 1, 0.1, True), ("a\\b", None, 1e-300, False), (None, 7, None, None)],
            "term string, df long, idf double, flag boolean",
        ),
        ([(3, [1, 2, 3]), (4, [])], "cid int, _cent array<bigint>"),
        ([(2, 0.5)], "j int, lam double"),
        (
            [
                ("${x}", float("nan"), -(2**63)),
                ("${env:HOME} ${spark.app.name} $ $$ \\${x}", float("inf"), 2**63 - 1),
                ("a\nb\tc\r\x00'\\u0024", float("-inf"), 0),
                ("${sparkconf:spark.app.name}", -0.0, -1),
            ],
            "s string, d double, n long",
        ),
    ],
    ids=["empty", "scalars_and_nulls", "arrays", "int_and_double", "edge_values"],
)
def test_local_frame_equals_create_dataframe(spark, rows, schema):
    """Same schema and rows; ``repr`` compares NaN and -0.0 exactly, and no
    ``${...}`` in a string is expanded by the SQL parser."""
    from searchengine_spark.operators.literals import local_frame

    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert list(map(repr, got.collect())) == list(map(repr, want.collect()))


def test_local_frame_refuses_past_max_rows(spark, monkeypatch):
    from searchengine_spark.operators import literals

    monkeypatch.setattr(literals, "MAX_LOCAL_ROWS", 2)
    assert literals.local_frame(spark, [(1,), (2,)], "x long").count() == 2
    with pytest.raises(ValueError, match="MAX_LOCAL_ROWS"):
        literals.local_frame(spark, [(1,), (2,), (3,)], "x long")


def test_literal_map_typed_empty(spark):
    """An empty typed map resolves a lookup (null); ``$`` keys come back
    verbatim."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators.literals import literal_map

    empty = literal_map({}, "map<bigint,bigint>")
    assert [r[0] for r in spark.range(2).select(empty[F.col("id")]).collect()] == [None, None]
    m = literal_map({"${env:HOME}": "${spark.app.name}"})
    got = spark.range(1).select(m[F.lit("${env:HOME}")]).collect()[0][0]
    assert got == "${spark.app.name}"


def test_failed_documents_write_releases_ingest_cache(spark, tmp_path, monkeypatch):
    """A build whose documents write fails leaves no persisted frame behind.

    Compares persisted RDD ids, not counts: the ContextCleaner may free RDDs
    that earlier tests left behind at any moment inside the window."""
    from searchengine_spark.plans import lineage
    from searchengine_spark.plans.build_index import build_index
    from searchengine_spark.sources.corpus import generate_corpus

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    publish = lineage.publish_stage
    written = []

    def failing_publish(df, index_dir, stage, *a, **kw):
        if stage == "documents_raw":
            written.append(persisted() - before)
            raise RuntimeError("documents write failed")
        return publish(df, index_dir, stage, *a, **kw)

    corpus = generate_corpus(spark, 60, seed=3)
    before = persisted()
    monkeypatch.setattr(lineage, "publish_stage", failing_publish)
    with pytest.raises(RuntimeError, match="documents write failed"):
        build_index(spark, corpus, str(tmp_path / "idx"), with_pagerank=False)
    (cached,) = written
    assert len(cached) == 1  # the id assignment's slim rows were cached
    assert not persisted() - before  # ... and released, nothing else left


def test_release_tracked_logs_only_live_session_failures(caplog, monkeypatch):
    """A frame of a stopped session is dropped silently; an unpersist that
    fails on a live session is logged, and the frames after it are still
    released."""
    from types import SimpleNamespace

    from py4j.protocol import Py4JError

    from searchengine_spark.plans import persist_registry as reg

    def frame(live: bool, fails: bool):
        def unpersist(blocking):
            if fails:
                raise Py4JError("unpersist failed")

        ctx = SimpleNamespace(_jsc=object() if live else None)
        return SimpleNamespace(
            unpersist=unpersist, sparkSession=SimpleNamespace(sparkContext=ctx)
        )

    monkeypatch.setattr(reg, "_TRACKED", [])
    for f in (frame(True, False), frame(True, True), frame(False, True)):
        reg.track(f)
    with caplog.at_level("ERROR", logger=reg.__name__):
        assert reg.release_tracked() == 1
    assert len(caplog.records) == 1 and "unpersist failed" in caplog.text
    assert reg.release_tracked() == 0
