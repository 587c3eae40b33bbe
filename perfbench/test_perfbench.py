"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout: the oracle test imports the package's
DuckDB oracle SQL.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

import gen  # noqa: E402
import spread  # noqa: E402
import tracing  # noqa: E402


def _hash(seed: int) -> str:
    c = gen.generate(seed, 60, 500)
    return gen.input_hash(gen.corpus_frame(c), gen.documents_frame(c))


def test_same_seed_same_input_hash():
    assert _hash(7) == _hash(7)


def test_other_seed_other_input_hash():
    assert _hash(7) != _hash(8)


def test_generated_text_shape():
    c = gen.generate(3, 100, 1000)
    assert c.n_docs == 102  # 100 unique + 2% exact duplicates
    assert c.texts[100] in c.texts[:100] and c.texts[101] in c.texts[:100]
    body = c.texts[0].split("\n")
    assert [ln.split()[0] for ln in body[:2]] == ["import", "import"]
    assert all(w.isalpha() and w.islower() for w in body[2].split())


def test_query_mix():
    c = gen.generate(3, 100, 1000)
    qs = gen.search_queries(c, np.random.default_rng(0), 30)
    phrases = [q for q in qs if q.startswith('"')]
    assert len(phrases) == 30 // gen.PHRASE_EVERY
    assert all(len(q.strip('"').split()) == 2 for q in phrases)
    assert all(1 <= len(q.split()) <= 3 for q in qs if not q.startswith('"'))


def test_window_starts_only_operations_that_fit():
    import time

    import run

    now = time.perf_counter()
    assert run.fits([], now - 1.0)  # every run measures at least one
    assert run.fits([2.0], now + 5.0)
    assert not run.fits([2.0], now + 1.0)
    assert run.fits([2.0, 2.0], now - 1.0, at_least=3)  # search: its first three requests
    assert not run.fits([2.0, 2.0, 2.0], now + 1.0, at_least=3)


def test_relative_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    assert spread.relative_spread(vals) == pytest.approx((10.275 - 9.725) / 10.0)  # exclusive quartiles


def test_oracle_flags_a_planted_wrong_answer():
    oracle = pytest.importorskip("oracle")
    c = gen.generate(5, 80, 300)
    con = oracle.connect(gen.documents_frame(c))
    qs = gen.search_queries(c, np.random.default_rng(5), 10)
    expected = [oracle.expected_ids(con, q, 10) for q in qs]
    assert all(expected), "every generated query has a hit"
    assert oracle.wrong_answers(qs, expected, [list(e) for e in expected]) == []
    planted = [list(e) for e in expected]
    planted[3] = planted[3][::-1] if len(planted[3]) > 1 else [10**9]
    planted[9] = None  # a failed request
    bad = oracle.wrong_answers(qs, expected, planted)
    assert len(bad) == 2 and repr(qs[3]) in bad[0] and repr(qs[9]) in bad[1]


def _spans(*rows):
    return [tracing.Span(n, s, e, parent=p) for n, s, e, p in rows]


def test_self_time_subtracts_children():
    spans = _spans(("op", 0.0, 10.0, None), ("a", 1.0, 4.0, 0), ("b", 5.0, 6.0, 0))
    st = tracing.self_times(spans)
    assert st == pytest.approx({"op": 6.0, "a": 3.0, "b": 1.0})


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = _spans(("op", 0.0, 10.0, None), ("a", 1.0, 5.0, 0), ("b", 3.0, 7.0, 0), ("c", 9.0, 12.0, 0))
    assert tracing.self_times(spans)["op"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_sums_spans_of_one_name():
    spans = _spans(("op", 0.0, 2.0, None), ("op", 3.0, 4.0, None), ("x", 0.5, 1.0, 0))
    assert tracing.self_times(spans)["op"] == pytest.approx(2.5)


def test_tracer_nests_and_inherits_request():
    t = tracing.Tracer()
    with t.span("request", request=4):
        with t.span("inner"):
            pass
    assert t.spans[1].parent == 0 and t.spans[1].request == 4
    assert t.spans[0].start <= t.spans[1].start <= t.spans[1].end <= t.spans[0].end


@pytest.mark.parametrize(
    "text,want",
    [
        ("1,234", 1234.0),
        ("12.5 KiB", 12.5 * 1024),
        ("total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 2))", 3.0 * (1 << 20)),
    ],
)
def test_sql_metric_text(text, want):
    assert tracing.metric_value(text) == want
