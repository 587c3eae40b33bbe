"""Checkpoint/lineage/resume protocol (north rule: "checkpoint-resumable with
per-partition lineage + metrics").

The reference's resumability is a frontier collection rewritten every 5 min
(Crawler.java:138-163) plus an isIndexed flag (Indexer.java:203-206). Ours is
the Spark-native equivalent:

- every build stage writes its output table to ``_tmp_<stage>`` and renames
  to the final dir — an atomic publish, so a killed build never leaves a
  half-visible stage;
- a ``_manifest.json`` records completed stages + their input fingerprint;
  resume = skip stages whose fingerprint matches (the left-anti-join skip of
  SURVEY.md F10, done at stage granularity);
- a ``lineage`` parquet table appends one row per (stage, partition) with
  rows/postings/bytes/skew/wall-time metrics.

Because every stage is a deterministic function of the corpus (doc_ids are
rank-based, tokenization is pure), a resumed build is byte-identical to an
uninterrupted one — asserted in tests/test_resume.py.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class IndexManifest:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.path = os.path.join(index_dir, "_manifest.json")
        os.makedirs(index_dir, exist_ok=True)
        self._data = {"stages": {}, "input_fingerprint": None}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._data = json.load(f)

    def is_done(self, stage: str, input_fingerprint: str) -> bool:
        info = self._data["stages"].get(stage)
        return bool(info) and info.get("input_fingerprint") == input_fingerprint

    def mark_done(self, stage: str, input_fingerprint: str, metrics: dict) -> None:
        self._data["stages"][stage] = {
            "input_fingerprint": input_fingerprint,
            "metrics": metrics,
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._data, f, indent=2)
        os.replace(tmp, self.path)

    def stage_metrics(self) -> dict:
        return {s: i.get("metrics", {}) for s, i in self._data["stages"].items()}


def corpus_fingerprint(corpus: DataFrame) -> str:
    """Order-insensitive content fingerprint of the input: xor of per-row
    hashes + row count. One cheap aggregate; drives stage-skip decisions.
    A documents table (``doc_id``, ``text``) hashes each text with its id; a
    corpus hashes each content with its (repo, path, commit) key."""
    if "doc_id" in corpus.columns:
        row_hash = F.xxhash64("doc_id", F.sha2("text", 256))
    else:
        row_hash = F.xxhash64(F.sha2("content", 256), "repo", "path", "commit")
    row = corpus.agg(F.bit_xor(row_hash).alias("x"), F.count(F.lit(1)).alias("c")).collect()[0]
    return f"{row['x']}:{row['c']}"


def term_bloom_options(expected_ndv: int, column: str = "term") -> dict[str, str]:
    """Parquet bloom filter on the ``term`` column for index-table writes.

    Term-keyed serve paths push ``term = / term IN`` into the scan; parquet
    min/max stats barely prune them because applyInPandas/shuffle output
    interleaves terms across row groups (wide min/max ranges), while a
    row-group bloom answers "term definitely absent" exactly where it
    matters: point lookups against a 100 TB postings/segments table skip
    every row group that lacks the query's terms. Size by the expected
    distinct terms PER FILE (vocab / write-partition fan-out), not the
    global vocab — oversizing just burns the per-row-group bloom budget."""
    return {
        f"parquet.bloom.filter.enabled#{column}": "true",
        f"parquet.bloom.filter.expected.ndv#{column}": str(max(1024, int(expected_ndv))),
    }


def publish_stage(
    df: DataFrame,
    index_dir: str,
    stage: str,
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> str:
    """Write-to-tmp + atomic rename publish of one stage table."""
    final = os.path.join(index_dir, stage)
    tmp = os.path.join(index_dir, f"_tmp_{stage}")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    writer = df.write.mode("overwrite")
    if options:
        writer = writer.options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)
    return final


def partition_metrics(stage_dir: str) -> list[dict]:
    """Per-output-partition (parquet file) row counts + bytes, read from the
    parquet footers on the driver — zero Spark jobs. The physical output
    file IS the resumable partition unit of the stage."""
    import pyarrow.parquet as pq

    out = []
    pid = 0
    for root, _dirs, files in os.walk(stage_dir):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            meta = pq.ParquetFile(path).metadata
            out.append(
                {"partition_id": pid, "rows": int(meta.num_rows), "bytes": os.path.getsize(path)}
            )
            pid += 1
    return out


def append_lineage(
    spark,
    index_dir: str,
    stage: str,
    input_fingerprint: str,
    per_partition: list[dict],
    postings_out: int,
    bytes_compressed: int,
    skew_ratio: float,
    wall_ms: int,
) -> None:
    """Append lineage rows — driver-side pyarrow write (metrics rows are
    tiny; burning a Spark job per stage on them would dominate small builds)."""
    import pandas as pd

    rows = [
        (
            stage,
            p["partition_id"],
            "completed",
            p["rows"],
            postings_out,
            int(p.get("bytes", 0)) or bytes_compressed,
            float(skew_ratio),
            wall_ms,
            input_fingerprint,
        )
        for p in per_partition
    ] or [(stage, -1, "completed", 0, postings_out, bytes_compressed, float(skew_ratio), wall_ms, input_fingerprint)]
    pdf = pd.DataFrame(
        rows,
        columns=[
            "stage", "partition_id", "status", "rows_in", "postings_out",
            "bytes_compressed", "skew_ratio", "wall_ms", "input_fingerprint",
        ],
    )
    ldir = os.path.join(index_dir, "lineage")
    os.makedirs(ldir, exist_ok=True)
    pdf.to_parquet(os.path.join(ldir, f"{stage}-{wall_ms}-{abs(hash(input_fingerprint)) % 10**9}.parquet"), index=False)


class StageTimer:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False
