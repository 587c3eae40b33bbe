"""Scoped tracking for operator-internal ``persist()`` frames.

Several operators persist an intermediate that feeds multiple consumers of
the RETURNED lazy DataFrame (merge_segments' two inputs, delete_docs'
segment split, the dedup shingle tables, _segments_from_docs' doc batch).
They cannot unpersist before returning — the caller hasn't acted yet — so
in a long driver session (50 gates, one SparkSession) the cached blocks
accumulated without bound (ADVICE r04).  ``track`` registers such frames;
``release_tracked`` unpersists everything registered so far.  The gate
entry points (``__spark_entry__.queries()`` wrappers) call
``release_tracked()`` before each gate runs, which bounds live cache to a
single gate's working set while keeping the multi-consumer reuse within
the gate that created it.

Deliberately NOT tracked: ``localCheckpoint(eager=True)`` frames — their
cached RDD *is* the data (lineage is truncated), so unpersisting one while
a dependent lazy frame is alive would make the result unrecomputable.
Those are reclaimed by Spark's ContextCleaner when the Python references
drop (per-gate locals, so GC-bounded), and they are few and small
(sampled-pairs / distinct-token frames).
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame for deferred release."""
    _TRACKED.append(df)
    return df


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked frame (safe: unpersist only drops the cache;
    any still-lazy dependent recomputes from source).  Returns the number
    of frames released. A frame whose session was stopped has nothing
    cached left and is dropped silently; any other unpersist failure is
    logged, and the remaining frames are still released."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Py4JError:
            # a stopped session fails inside the JVM; pyspark marks it by
            # dropping the context's Java handle
            if df.sparkSession.sparkContext._jsc is not None:
                log.exception("release_tracked: unpersist failed")
    return n
