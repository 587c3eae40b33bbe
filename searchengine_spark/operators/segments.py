"""Segment encode/decode + block-max top-k query execution
(SURVEY.md §4.2-2/3; north rule: "groupBy-term into delta-gap +
varint-compressed posting lists with per-block skip pointers and block-max
scores, merge partition-local segments into a global index").

Physical design (doc-sharded, term-bucketed):

- **shard** = contiguous doc_id range (``doc_id // shard_span``). Each shard
  holds the postings of its docs for every term — a partition-local index
  segment. Doc-range sharding keeps delta-gaps small (better compression)
  and makes query execution embarrassingly parallel: block-max top-k runs
  per shard, and a TakeOrderedAndProject merges the per-shard heaps.
  Hot terms split across shards automatically — no single reducer ever sees
  a whole stopword-term posting list (skew defusal at encode time).
- **bucket** = ``postings.bucket_of()`` — the write partition column, so
  a query touches only the parquet directories of its terms' buckets
  (partition pruning ≙ the reference's Mongo point lookups,
  SearchService.java:471).

Encode clusters its input on ``ENCODE_KEY`` = (bucket, shard): one hash
partition per key, sorted on (bucket, shard, term, doc_id), then a
``mapInPandas`` batch codec. A (shard, term) group — at most one term's
postings within one shard, bounded by shard_span docs — stays whole in one
task because bucket is a function of term. Since the write partitions on
bucket, each ``bucket=*`` directory gets at most one file per shard it
holds (one file when there is one shard), not one per encode task: term
partitions stay large contiguous column chunks, as the columnar
inverted-index layout (ICDE 2025) assumes.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators import codec
from searchengine_spark.operators.literals import local_frame
from searchengine_spark.operators.postings import build_postings, bucket_of
from searchengine_spark.plans.persist_registry import track as _track

# Hash-partition key of every segment encode/re-encode. Keying on bucket
# (not term) makes each bucket=* output directory one file per shard;
# keeping shard in the key keeps encode parallelism at N_BUCKETS x n_shards.
ENCODE_KEY = ("bucket", "shard")

SEGMENT_SCHEMA = (
    "bucket int, shard int, term string, block_id int, n_postings int, "
    "doc_ids_delta_varint binary, tfs_varint binary, doc_lens_varint binary, "
    "positions_blob binary, skip_doc_id long, block_max_score double"
)


def encode_segments(
    postings: DataFrame,
    lexicon: DataFrame,
    avgdl: float,
    shard_span: int = 1 << 20,
) -> DataFrame:
    """postings + lexicon → compressed segment blocks.

    ``shard_span`` bounds the group size per (shard, term): at most
    shard_span postings, independent of term hotness — this is the encode-
    side skew defusal. 2^20 docs/shard at ~1 KB/posting keeps any group well
    under executor memory at any corpus size.
    """
    enriched = (
        postings.select("term", "doc_id", "tf", "dl", "positions")
        .join(F.broadcast(lexicon.select("term", "idf_bm25")), "term")
        .withColumn("shard", (F.col("doc_id") / F.lit(shard_span)).cast("int"))
        .withColumn("bucket", bucket_of())
        .withColumn("avgdl", F.lit(avgdl))
        # explicit partition count on the grouping keys: the encode is
        # PYTHON-heavy but byte-light, and AQE's size-based coalescing
        # otherwise funnels every codec group through 1-4 tasks (measured:
        # single-task encode stages dominating the build gates). Keyed on
        # ENCODE_KEY so the bucket-partitioned write gets one file per
        # (bucket, shard), not one per (bucket, task): on a 1,530-doc build
        # (4 cores) that is 64 files instead of 512 and half the stage time.
        .repartition(
            2 * postings.sparkSession.sparkContext.defaultParallelism, *ENCODE_KEY
        )
        # sortWithinPartitions + mapInPandas instead of groupBy.applyInPandas:
        # the per-group pandas crossing cost ~300 µs/group, and a realistic
        # Zipf vocabulary makes most groups 1-3 postings (measured: 250k
        # groups → the encode stage ran 77 s for a 5k-doc corpus). The batch
        # codec (codec.encode_blocks_batch) varint-encodes whole Arrow
        # batches once and slices at block boundaries — same bytes, ~10×
        # less Python/pandas overhead, and the sort feeds the merge/read
        # paths the same (shard, term, doc_id) order within each bucket.
        .sortWithinPartitions(*ENCODE_KEY, "term", "doc_id")
    )
    return enriched.mapInPandas(_encode_sorted_partition, SEGMENT_SCHEMA)


def _encode_sorted_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Encode a partition of (bucket, shard, term, doc_id)-sorted enriched postings
    into segment block rows. Arrow hands the partition as multiple batches
    and a (shard, term) group may straddle a batch boundary, so the tail
    group of each batch is carried into the next one and flushed at end."""
    cols = [c.split()[0] for c in SEGMENT_SCHEMA.split(", ")]
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        # hold back the (contiguous, sorted) tail rows of the last group
        last_shard = pdf["shard"].iloc[-1]
        last_term = pdf["term"].iloc[-1]
        tail_n = int(
            ((pdf["shard"].values == last_shard) & (pdf["term"].values == last_term)).sum()
        )
        head = pdf.iloc[: len(pdf) - tail_n]
        carry = pdf.iloc[len(pdf) - tail_n :]
        if len(head):
            yield _encode_batch_pdf(head, cols)
    if carry is not None and len(carry):
        yield _encode_batch_pdf(carry, cols)


def _encode_batch_pdf(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    shard = pdf["shard"].to_numpy()
    term = pdf["term"].to_numpy()
    gchange = np.ones(len(pdf), dtype=bool)
    gchange[1:] = (shard[1:] != shard[:-1]) | (term[1:] != term[:-1])
    out = codec.encode_blocks_batch(
        pdf["doc_id"].to_numpy(),
        pdf["tf"].to_numpy(),
        pdf["dl"].to_numpy(),
        pdf["positions"].to_numpy(),
        pdf["idf_bm25"].to_numpy(),
        float(pdf["avgdl"].iloc[0]),
        gchange,
    )
    rs = out["row_start"]
    return pd.DataFrame(
        {
            "bucket": pdf["bucket"].to_numpy()[rs],
            "shard": shard[rs],
            "term": term[rs],
            "block_id": out["block_id"],
            "n_postings": out["n_postings"],
            "doc_ids_delta_varint": out["doc_ids_delta_varint"],
            "tfs_varint": out["tfs_varint"],
            "doc_lens_varint": out["doc_lens_varint"],
            "positions_blob": out["positions_blob"],
            "skip_doc_id": out["skip_doc_id"],
            "block_max_score": out["block_max_score"],
        },
        columns=cols,
    )


def merge_segments(
    a: DataFrame, b: DataFrame, small_b: bool = False
) -> DataFrame:
    """Merge two partition-local segment sets into one global index.

    Only (shard, term) groups present in BOTH inputs need the decode →
    concat → re-encode; every other block passes through UNTOUCHED — no
    decode, no Python crossing, original per-block max scores kept. This
    is the property that makes incremental reindex cost ∝ the delta's
    affected blocks instead of ∝ the index (the r04 --reindex-datum
    measurement: the old re-encode-everything merge made a 1% delta cost
    3× a full rebuild). Associative — asserted by tests/test_segments.py
    (union of partial merges == single-shot build).

    ``small_b=True`` (the incremental case: ``b`` is a delta-bounded
    segment set) removes every index-wide shuffle: b's distinct key set
    broadcasts into a map-side semi over ``a`` — the surviving keys are
    delta-bounded, so the overlap set itself broadcasts into the hot/cold
    splits and the whole merge is ONE in-memory pass over ``a`` plus the
    reencode of the delta-bounded hot groups. Default mode is the one-step
    merge of ``_merge_all`` (both sides can be half the index; AQE picks
    the join strategies from runtime sizes)."""
    if not small_b:
        return _merge_all([a, b])
    # each input feeds THREE consumers (overlap keys, hot semi, cold anti);
    # persist both so an in-plan segment encode runs once, not 3× (measured:
    # the unpersisted split tripled the gate's full-corpus encode)
    a = _track(a.persist())
    b = _track(b.persist())
    kb = F.broadcast(b.select("shard", "term").distinct())
    overlap = F.broadcast(
        a.select("shard", "term").join(kb, ["shard", "term"], "left_semi").distinct()
    )
    both = a.unionByName(b)
    hot = both.join(overlap, ["shard", "term"], "left_semi")
    cold = both.join(overlap, ["shard", "term"], "left_anti")
    return cold.unionByName(_reencode(hot))


def _merge_all(parts: list[DataFrame]) -> DataFrame:
    """Merge k segment sets in ONE step: their union, tagged by input, is
    persisted once (it feeds the overlap keys, the hot semi and the cold
    anti); only (shard, term) groups held by two or more inputs decode →
    concat → re-encode, and every other block passes through untouched.
    Folding k inputs through k-1 nested pairwise merges instead grew the
    plan geometrically (each merge reads its input three times), and with
    it every plan string Spark renders per AQE stage: compacting four
    quarter-corpus generations took ~2 min on 4 cores and ran a 2 GiB
    driver heap out of memory rendering those strings."""
    from functools import reduce

    tagged = _track(
        reduce(
            DataFrame.unionByName,
            [p.withColumn("_part", F.lit(i)) for i, p in enumerate(parts)],
        ).persist()
    )
    overlap = (
        tagged.groupBy("shard", "term")
        .agg((F.min("_part") < F.max("_part")).alias("_shared"))
        .filter("_shared")
        .select("shard", "term")
    )
    both = tagged.drop("_part")
    hot = both.join(overlap, ["shard", "term"], "left_semi")
    cold = both.join(overlap, ["shard", "term"], "left_anti")
    return cold.unionByName(_reencode(hot))


def _reencode(segments: DataFrame, drop_ids: frozenset | None = None) -> DataFrame:
    """Decode → (optionally drop tombstoned docs) → re-encode every
    (shard, term) group — the rewrite kernel of merge_segments/delete_docs.

    Same batch-vectorized shape as ``encode_segments``: sorted partitions +
    ``mapInPandas`` instead of a per-group ``applyInPandas`` (on realistic
    vocabularies most groups are a single tiny block, so the per-group
    pandas crossing dominated the merge/delete rewrite). Blocks still
    decode individually (they are independent varint blobs) but all groups
    of a batch re-encode in ONE ``encode_blocks_batch`` call. idf/avgdl
    aren't stored in blocks; the max of a group's input block maxima is a
    valid (conservative) per-block WAND upper bound and is applied to all
    of the group's output blocks, exactly as the per-group path did."""
    cols = [c.split()[0] for c in SEGMENT_SCHEMA.split(", ")]
    drop_arr = (
        np.fromiter(drop_ids, dtype=np.int64, count=len(drop_ids))
        if drop_ids
        else None
    )

    def regroup_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        shard_b = pdf["shard"].to_numpy()
        term_b = pdf["term"].to_numpy()
        bucket_b = pdf["bucket"].to_numpy()
        bms_b = pdf["block_max_score"].to_numpy()
        # group id per BLOCK row (input sorted by bucket, shard, term, block_id)
        gchg_b = np.ones(len(pdf), dtype=bool)
        gchg_b[1:] = (shard_b[1:] != shard_b[:-1]) | (term_b[1:] != term_b[:-1])
        gid_b = np.cumsum(gchg_b) - 1
        g_starts = np.flatnonzero(gchg_b)
        ub_per_group = np.maximum.reduceat(bms_b, g_starts)
        # decode every block (independent varint blobs)
        ids_l, tfs_l, dls_l, pos_l = [], [], [], []
        for row in pdf.to_dict("records"):
            i, t, d = codec.decode_block(row)
            ids_l.append(i)
            tfs_l.append(t)
            dls_l.append(d)
            pos_l.extend(codec.decode_positions(row))
        counts = np.fromiter((len(x) for x in ids_l), dtype=np.int64, count=len(ids_l))
        ids = np.concatenate(ids_l).astype(np.int64)
        tfs = np.concatenate(tfs_l)
        dls = np.concatenate(dls_l)
        gid = np.repeat(gid_b, counts)
        blk_row = np.repeat(np.arange(len(pdf), dtype=np.int64), counts)
        if drop_arr is not None:
            keep = ~np.isin(ids, drop_arr)
            ids, tfs, dls, gid, blk_row = (
                ids[keep], tfs[keep], dls[keep], gid[keep], blk_row[keep]
            )
            kept_idx = np.flatnonzero(keep)
            pos_l = [pos_l[j] for j in kept_idx]
            if not len(ids):
                return pd.DataFrame({c: [] for c in cols}, columns=cols)
        # postings of a group come from multiple blocks (both merge inputs)
        # — order by (group, doc_id); lexsort is stable → deterministic
        order = np.lexsort((ids, gid))
        ids, tfs, dls, gid, blk_row = (
            ids[order], tfs[order], dls[order], gid[order], blk_row[order]
        )
        pos_s = [pos_l[j] for j in order]
        gchg = np.ones(len(ids), dtype=bool)
        gchg[1:] = gid[1:] != gid[:-1]
        out = codec.encode_blocks_batch(
            ids, tfs, dls, pos_s, np.ones(len(ids)), 1.0, gchg
        )
        rs = out["row_start"]
        src = blk_row[rs]  # a source block row of each output block's group
        return pd.DataFrame(
            {
                "bucket": bucket_b[src],
                "shard": shard_b[src],
                "term": term_b[src],
                "block_id": out["block_id"],
                "n_postings": out["n_postings"],
                "doc_ids_delta_varint": out["doc_ids_delta_varint"],
                "tfs_varint": out["tfs_varint"],
                "doc_lens_varint": out["doc_lens_varint"],
                "positions_blob": out["positions_blob"],
                "skip_doc_id": out["skip_doc_id"],
                "block_max_score": ub_per_group[gid[rs]],
            },
            columns=cols,
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            last_shard = pdf["shard"].iloc[-1]
            last_term = pdf["term"].iloc[-1]
            tail_n = int(
                (
                    (pdf["shard"].values == last_shard)
                    & (pdf["term"].values == last_term)
                ).sum()
            )
            head = pdf.iloc[: len(pdf) - tail_n]
            carry = pdf.iloc[len(pdf) - tail_n :]
            if len(head):
                yield regroup_batch(head)
        if carry is not None and len(carry):
            yield regroup_batch(carry)

    # same AQE-coalesce defusal and (bucket, shard) clustering as
    # encode_segments: codec work is Python-heavy but byte-light — pin the
    # partition count
    return (
        segments.repartition(
            2 * segments.sparkSession.sparkContext.defaultParallelism, *ENCODE_KEY
        )
        .sortWithinPartitions(*ENCODE_KEY, "term", "block_id", "skip_doc_id")
        .mapInPandas(fn, SEGMENT_SCHEMA)
    )


def decode_postings(segments: DataFrame) -> DataFrame:
    """Decode compressed segment blocks back to plain (term, doc_id, tf)
    postings rows — the inverse of ``encode_segments``. Used to hash-gate
    the codec + merge path end-to-end (gate ``incremental_merge_postings``:
    two half-corpus builds merged must decode to exactly the single-shot
    postings). Embarrassingly parallel: each block decodes independently."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms: list[str] = []
            ids: list[np.ndarray] = []
            tfs: list[np.ndarray] = []
            for row in pdf.to_dict("records"):
                i, t, _ = codec.decode_block(row)
                terms += [row["term"]] * len(i)
                ids.append(i)
                tfs.append(t)
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_id": np.concatenate(ids).astype(np.int64) if ids else np.array([], dtype=np.int64),
                    "tf": np.concatenate(tfs).astype(np.int64) if tfs else np.array([], dtype=np.int64),
                }
            )

    return segments.mapInPandas(decode, "term string, doc_id long, tf long")


def _segments_from_docs(docs: DataFrame, shard_span: int = 64) -> DataFrame:
    """Tokenize → postings (+positions) → compressed segments for one doc
    batch, with batch-local idf/avgdl statistics (they feed only the
    block-max upper bounds — conservative after merge, exactly a real
    rolling index whose early segments carry stale statistics)."""
    from searchengine_spark.functions.tokenize import doc_len
    from searchengine_spark.operators.ir import idf_bm25_expr

    # the doc batch feeds three evaluations (stats collect job, postings,
    # doc-length side) and is often an expensive join/filter plan in the
    # incremental paths — persist so it computes once (measured: the
    # delta-segment encode of a 40% snapshot delta cost 2× the FULL
    # corpus encode before this, purely from re-evaluating the semi-join)
    docs = _track(docs.persist())
    post = build_postings(
        docs.select("doc_id", F.col("text").alias("content")), analyzer="simple"
    )
    stats = docs.agg(
        F.sum(doc_len(F.col("text"))).alias("s"), F.count(F.lit(1)).alias("c")
    ).collect()[0]
    n = int(stats["c"] or 0)
    avgdl = (float(stats["s"]) / n) if n else 1.0
    lex = post.groupBy("term").agg(F.count(F.lit(1)).alias("df")).select(
        "term", idf_bm25_expr(n).alias("idf_bm25")
    )
    return encode_segments(post, lex, avgdl, shard_span=shard_span)


def delete_docs(
    segments: DataFrame,
    deleted: DataFrame,
    shard_span: int = 64,
    deleted_terms: DataFrame | None = None,
) -> DataFrame:
    """Delete documents from a compressed segment index — the tombstone
    merge of an LSM/Lucene-style index lifecycle.

    Only the doc-range shards that actually CONTAIN deleted ids are
    rewritten (decode → drop → re-encode); every other shard's blocks pass
    through untouched — at 10^12 files a recrawl delta touches a tiny
    fraction of shards, so the rewrite cost is proportional to the delta,
    not the index. The delete set ships to executors as a broadcast
    tombstone set (bounded by the delta size, the standard live-docs
    design); a full-corpus-scale purge would instead anti-join decoded
    postings against the delete table and re-encode.

    ``deleted_terms`` (optional, (shard, term) pairs — the terms the
    deleted docs actually contain, computable delta-bounded by tokenizing
    just the tombstoned docs) narrows the rewrite from whole shards to
    exactly the groups whose blocks can hold a tombstoned posting: a
    deleted doc d contributes postings only to (shard(d), t) for t ∈ d,
    so any other group in the shard passes through untouched. On a real
    vocabulary (~10⁶ terms) this shrinks the per-shard rewrite from |V|
    groups to |terms(d)| — the key-set broadcasts (delta-bounded)."""
    segments = _track(segments.persist())  # two consumers (affected + untouched)
    ids = frozenset(r["doc_id"] for r in deleted.select("doc_id").distinct().collect())
    if not ids:
        return segments
    shards = sorted({i // shard_span for i in ids})
    in_shards = segments.filter(F.col("shard").isin(shards))
    untouched = segments.filter(~F.col("shard").isin(shards))
    if deleted_terms is not None:
        keys = F.broadcast(deleted_terms.select("shard", "term").distinct())
        affected = in_shards.join(keys, ["shard", "term"], "left_semi")
        untouched = untouched.unionByName(
            in_shards.join(keys, ["shard", "term"], "left_anti")
        )
    else:
        affected = in_shards
    return untouched.unionByName(_reencode(affected, drop_ids=ids))


def incremental_reindex_postings(
    old: DataFrame,
    new: DataFrame,
    shard_span: int = 64,
    seg_a: DataFrame | None = None,
    decode: bool = True,
) -> DataFrame:
    """Incremental reindex, gated at the postings level: diff two crawl
    snapshots (``ingest.crawl_delta``), tombstone-delete the removed and
    changed docs from snapshot A's compressed index, encode ONLY the added
    and changed docs of snapshot B into a delta segment set, merge, and
    decode back to (term, doc_id, tf) — which must equal a full rebuild of
    snapshot B (the driver gate checks it against the DuckDB tokenization
    of the synthesized snapshot). This is the index half of F10
    (already-indexed skip) at corpus scale: re-tokenization cost is
    proportional to the delta, index rewrite cost to the affected shards.

    ``seg_a``: pass snapshot A's ALREADY-BUILT segment table to skip the
    in-plan rebuild — in the real lifecycle the old index is a persisted
    artifact, so the marginal reindex cost is delta-encode + tombstone
    rewrite + merge only (what ``bench.py --reindex-datum`` times).
    ``decode=False`` returns the merged SEGMENTS (the rewrite output)
    instead of decoding back to postings — the decode is a full-corpus
    verification pass for the gate, not part of the rewrite cost."""
    from searchengine_spark.operators.ingest import crawl_delta

    # the diff feeds two consumers (tombstone collect + fresh semi-join) —
    # persist the slim (doc_id, status) frame so the full-outer md5 diff
    # evaluates once, not once per consumer (~12 B/row, freed with the app)
    delta = _track(crawl_delta(old, new).persist())
    return incremental_reindex_from_list(
        old, new, delta, shard_span=shard_span, seg_a=seg_a, decode=decode
    )


def incremental_reindex_from_list(
    old: DataFrame,
    new: DataFrame,
    delta: DataFrame,
    shard_span: int = 64,
    seg_a: DataFrame | None = None,
    decode: bool = True,
) -> DataFrame:
    """Incremental reindex driven by the crawler's CHANGED-DOC LIST — the
    (doc_id, status∈{added,removed,changed}) frame a recrawl scheduler
    already has — instead of a full-snapshot md5 diff (VERDICT r04 ask #2).

    The snapshot-diff path (``incremental_reindex_postings``) carries one
    O(corpus) term: ``crawl_delta``'s full-outer join over 10^12 (doc_id,
    md5) rows — map-only and slim, but still a pass over both snapshots
    that at sf0.1 costs a fixed ~5 s regardless of delta size, making a 1%
    delta LOSE to a full rebuild at small scale. Here every input is
    delta-bounded: tombstone set = the list's removed/changed rows,
    delta-encode = tokenize only the list's added/changed docs (semi-join
    pushes the doc_id filter to the parquet scan), stale-terms narrowing =
    tokenize only the tombstoned docs. The one remaining corpus-
    proportional term is the tombstone REWRITE of affected (shard, term)
    groups — proportional to the delta's shard footprint, the F10
    (already-indexed skip, ``Indexer.java:203-206``) cost model at corpus
    scale. Result is hash-equal to a full rebuild of snapshot B (gated:
    ``incremental_reindex_delta_list``)."""
    stale = delta.filter(F.col("status").isin("removed", "changed")).select("doc_id")
    fresh = delta.filter(F.col("status").isin("added", "changed")).select("doc_id")
    if seg_a is None:
        seg_a = _segments_from_docs(old, shard_span)
    seg_delta = _segments_from_docs(new.join(fresh, "doc_id", "left_semi"), shard_span)
    # tokenize ONLY the tombstoned docs (delta-bounded) to get the exact
    # (shard, term) groups their postings live in — delete_docs then
    # rewrites those groups instead of every term group of the shard
    from searchengine_spark.functions.tokenize import exploded_tokens

    stale_terms = (
        exploded_tokens(old.join(stale, "doc_id", "left_semi"))
        .select(
            (F.col("doc_id") / F.lit(shard_span)).cast("int").alias("shard"), "term"
        )
        .distinct()
    )
    # shard-prune the index BEFORE delete+merge: shards containing no
    # stale and no fresh doc can't change — they bypass the whole rewrite
    # path (no join, no persist, no reencode; at 10^12 files with a
    # shard-partitioned disk layout this filter is partition pruning, so
    # the untouched majority of the index is never even read). The shard
    # list is delta-bounded: one tiny collect over the delta's doc ids.
    shard_of = lambda c: (c / F.lit(shard_span)).cast("int")  # noqa: E731
    affected = sorted(
        r["shard"]
        for r in stale.select(shard_of(F.col("doc_id")).alias("shard"))
        .union(fresh.select(shard_of(F.col("doc_id")).alias("shard")))
        .distinct()
        .collect()
    )
    # the split only pays when a real majority of shards is untouched — a
    # scattered delta at this shard_span can touch nearly every shard, and
    # then the two isin filters just add a second pass over the index.
    # Shard-count estimate from the corpus doc-id range (column-pruned
    # stats scan — at a real deployment this is a manifest scalar);
    # added-doc shards (new ids beyond the old range) don't exist in
    # seg_a, so they are excluded from the affected fraction.
    max_id = old.agg(F.max("doc_id").alias("m")).collect()[0]["m"] or 0
    n_shards = int(max_id) // shard_span + 1
    affected_existing = [s for s in affected if s < n_shards]
    if affected and len(affected_existing) <= 0.5 * n_shards:
        seg_in = seg_a.filter(F.col("shard").isin(affected))
        seg_out = seg_a.filter(~F.col("shard").isin(affected))
    else:
        seg_in, seg_out = seg_a, None
    pruned = delete_docs(seg_in, stale, shard_span, deleted_terms=stale_terms)
    # b (the delta segments) is delta-bounded → map-only merge over seg_in
    merged = merge_segments(pruned, seg_delta, small_b=True)
    if seg_out is not None:
        merged = seg_out.unionByName(merged)
    return decode_postings(merged) if decode else merged


def incremental_build_postings(docs: DataFrame, shard_span: int = 64) -> DataFrame:
    """Incremental index build, gated at the postings level: split the
    corpus into two batches (doc_id parity — so every doc-range shard
    receives blocks from BOTH batches and the merge genuinely exercises
    decode → concat → re-encode, not pass-through), encode each batch into
    compressed segments with its own batch-local statistics, merge with
    ``merge_segments``, and decode the merged segments back to (term,
    doc_id, tf). Equal to the single-shot build's postings by construction
    — the driver gate checks that against the DuckDB corpus-tokenization
    oracle, which closes the loop on the delta+varint codec AND the merge
    in one hash row.

    Batch-local idf/avgdl feed only the block-max score upper bounds
    (conservative after merge — _reencode keeps the max), exactly the
    situation of a real rolling index where early segments carry stale
    statistics (shared helper: _segments_from_docs)."""
    even = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    odd = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    merged = merge_segments(
        _segments_from_docs(even, shard_span), _segments_from_docs(odd, shard_span)
    )
    return decode_postings(merged)


# ------------------------------------------------------------------ top-k

def _micros(x: np.ndarray) -> np.ndarray:
    """round(x*1e6) half-up, elementwise, as int64 — the integer-micros
    contract every gate uses (same result as Spark ``F.round(col*1e6)`` /
    DuckDB ``round(x*1e6)`` for the positive scores that occur here)."""
    return np.floor(x * 1e6 + 0.5).astype(np.int64)


def _exhaustive_seg_shard(
    term_blocks: dict[str, list[dict]],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
) -> list[tuple[int, int, None]]:
    """Exhaustive segment-served scorer: decode EVERY block of every query
    term, score all postings vectorized (numpy), one bincount aggregate,
    top-k. The no-skipping reference the block-max executor is checked and
    measured against — same decode path, same vectorized style, so the
    timing difference is the pruning, not the execution engine."""
    doc_list: list[np.ndarray] = []
    con_list: list[np.ndarray] = []
    for t, bl in term_blocks.items():
        for b in bl:
            ids, tfs, dls = codec.decode_block(b)
            con_list.append(_micros(codec.bm25_contrib(tfs, dls, idfs[t], avgdl)))
            doc_list.append(ids.astype(np.int64))
    if not doc_list:
        return []
    return _topk_of(np.concatenate(doc_list), np.concatenate(con_list), k)


def _topk_of(docs: np.ndarray, cons: np.ndarray, k: int) -> list[tuple[int, int, None]]:
    """Per-doc micros sums of (doc, contribution) pairs, top-k by score desc
    then doc id. float64 bincount weights are exact here: micro
    contributions are < 2^27 each and a query sums a handful of terms."""
    u, inv = np.unique(docs, return_inverse=True)
    sc = np.bincount(inv, weights=cons.astype(np.float64)).astype(np.int64)
    sel = np.lexsort((u, -sc))[:k]
    return [(sc[i].item(), int(u[i]), None) for i in sel]


def _blockmax_seg_shard(
    term_blocks: dict[str, list[dict]],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
) -> list[tuple[int, int, None]]:
    """Vectorized block-max pruning (interval sweep): doc-at-a-time WAND
    is exact but pays an interpreted-Python loop per posting — at bench
    scale that costs more than it skips. Here pruning happens at BLOCK
    granularity and scoring stays vectorized:

    1. block boundaries of all query terms partition doc-id space into
       elementary intervals; each interval's upper bound is the sum of the
       covering blocks' block-max scores;
    2. intervals process in descending-UB order — the top-k threshold θ
       rises fastest, and once the next UB < θ NO remaining interval can
       contain a top-k doc (exact early exit, same bound argument as WAND);
    3. surviving intervals decode only their covering blocks (cached) and
       score all their postings vectorized (bincount per interval — each
       doc lives in exactly one interval, so scores never split).

    Terms with few blocks (≤ ``_EAGER_BLOCKS`` — the rare/mid tail, decode
    cost bounded by df) are decoded EAGERLY and contribute their EXACT
    per-interval max to the bound instead of a whole-block max. This is
    what makes the bound bite: a rare term's single block spans the whole
    shard, so its block max would inflate every interval's UB and nothing
    would ever prune; with the exact per-interval maxes, hot-only
    intervals bound at bmax(hot)+0 and fall below θ as soon as the top-k
    fills with rare-term docs — the standard head/tail split of block-max
    pruning, done at decode granularity.

    Scores and bounds are integer micros (each contribution rounded
    before the sum; rounding is monotone, so a rounded block max still
    bounds the rounded contributions). Bit-identical to the exhaustive
    scorer / columnar BM25 (UB comparisons use ``>= θ`` so equal-score
    smaller doc-id ties are never pruned)."""
    terms = [t for t, bl in term_blocks.items() if bl]
    if not terms:
        return []

    _EAGER_BLOCKS = 32
    eager: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    binfo = {}
    for t in terms:
        bl = sorted(term_blocks[t], key=lambda b: b["block_id"])
        if len(bl) <= _EAGER_BLOCKS:
            parts = [codec.decode_block(b) for b in bl]
            ids = np.concatenate([p[0] for p in parts]).astype(np.int64)
            tfs = np.concatenate([p[1] for p in parts])
            dls = np.concatenate([p[2] for p in parts])
            eager[t] = (ids, _micros(codec.bm25_contrib(tfs, dls, idfs[t], avgdl)))
            continue
        his = np.array([b["skip_doc_id"] for b in bl], dtype=np.int64)
        los = np.empty_like(his)
        los[0] = -1
        los[1:] = his[:-1]  # block j owns doc range (los[j], his[j]]
        bm = _micros(np.array([b["block_max_score"] for b in bl], dtype=np.float64))
        binfo[t] = (los, his, bm, bl)

    if not binfo:
        # every term eager (small shard / rare-only query): plain
        # vectorized exhaustive over the already-decoded arrays
        return _topk_of(
            np.concatenate([v[0] for v in eager.values()]),
            np.concatenate([v[1] for v in eager.values()]),
            k,
        )

    bounds = np.unique(np.concatenate([v[1] for v in binfo.values()]))
    max_eager = max((int(v[0][-1]) for v in eager.values() if len(v[0])), default=-1)
    if max_eager > bounds[-1]:  # eager postings past the last block range
        bounds = np.append(bounds, max_eager)
    prev = np.empty_like(bounds)
    prev[0] = -1
    prev[1:] = bounds[:-1]
    ub = np.zeros(len(bounds), dtype=np.int64)
    cover = {}
    for t, (los, his, bm, bl) in binfo.items():
        idx = np.searchsorted(his, bounds)  # block whose hi >= interval end
        valid = idx < len(his)
        safe = np.minimum(idx, len(his) - 1)
        c = valid & (los[safe] < bounds)  # boundaries never straddle blocks
        ub[c] += bm[idx[c]]
        cover[t] = (idx, c)
    for t, (ids, con) in eager.items():
        if not len(ids):
            continue
        # exact per-interval max contribution (interval of doc d: the
        # first bound >= d, since intervals are (prev, bound])
        iv = np.searchsorted(bounds, ids, side="left")
        starts = np.flatnonzero(np.r_[True, iv[1:] != iv[:-1]])
        ub[iv[starts]] += np.maximum.reduceat(con, starts)

    order = np.argsort(-ub, kind="stable")
    heap: list[tuple[int, int]] = []  # (score, -doc) min-heap of top-k
    decoded: dict[tuple[str, int], tuple] = {}
    for ii in order:
        # UB-descending: once the heap is full and this interval's UB is
        # strictly below θ, no remaining interval can contain a top-k doc.
        # UB == θ still processes — an equal-score doc with a smaller id
        # must be allowed to displace the current kth.
        if len(heap) >= k and ub[ii] < heap[0][0]:
            break
        lo, hi = int(prev[ii]), int(bounds[ii])
        doc_list, con_list = [], []
        for t, (ids, con) in eager.items():
            s = int(np.searchsorted(ids, lo, side="right"))
            e = int(np.searchsorted(ids, hi, side="right"))
            if s < e:
                doc_list.append(ids[s:e])
                con_list.append(con[s:e])
        for t, (los, his, bm, bl) in binfo.items():
            idx_t, c_t = cover[t]
            if not c_t[ii]:
                continue
            bj = int(idx_t[ii])
            key = (t, bj)
            got = decoded.get(key)
            if got is None:
                got = codec.decode_block(bl[bj])
                decoded[key] = got
            ids, tfs, dls = got
            s = int(np.searchsorted(ids, lo, side="right"))
            e = int(np.searchsorted(ids, hi, side="right"))
            if s == e:
                continue
            con_list.append(
                _micros(codec.bm25_contrib(tfs[s:e], dls[s:e], idfs[t], avgdl))
            )
            doc_list.append(ids[s:e].astype(np.int64))
        if not doc_list:
            continue
        docs = np.concatenate(doc_list)
        cons = np.concatenate(con_list)
        u, inv = np.unique(docs, return_inverse=True)
        sc = np.bincount(inv, weights=cons.astype(np.float64)).astype(np.int64)
        for d, s_ in zip(u.tolist(), sc.tolist()):
            item = (s_, -d)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heappushpop(heap, item)
    return [(s_, -nd, None) for s_, nd in sorted(heap, reverse=True)]


def _lookup_pruned_scan(
    segments: DataFrame, lexicon: DataFrame, terms: list[str]
) -> tuple[dict[str, float], DataFrame]:
    """The lookup every segment-served query starts with: one tiny |q|-row
    lexicon collect (idf + write bucket) → the segment scan pruned to those
    buckets' directories (partition pruning) and terms (pushed predicate).
    Returns ({term: idf} of the query terms in the lexicon, pruned scan)."""
    rows = (
        lexicon.filter(F.col("term").isin(terms))
        .select("term", "idf_bm25", bucket_of().alias("bucket"))
        .collect()
    )
    idfs = {r["term"]: r["idf_bm25"] for r in rows}
    buckets = sorted({int(r["bucket"]) for r in rows})
    return idfs, segments.filter(F.col("bucket").isin(buckets) & F.col("term").isin(list(idfs)))


def _pruned_topk_micros(
    spark: SparkSession,
    segments: DataFrame,
    lexicon: DataFrame,
    query_terms: list[str],
    avgdl: float,
    k: int,
    shard_fn,
) -> DataFrame:
    """Shared driver plan of the segment-served top-k queries: lexicon
    lookup + pruned scan (:func:`_lookup_pruned_scan`) → per-shard integer
    top-k (``shard_fn(term_blocks, idfs, avgdl, k)`` in applyInPandas) →
    global TakeOrderedAndProject merge of ≤ k rows per shard. ONE
    definition so a pruning-predicate or fast-path fix can never apply to
    one scorer and silently miss another."""
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        return local_frame(spark, [], "doc_id long, score_micros long")
    idfs, pruned = _lookup_pruned_scan(segments, lexicon, terms)
    if not idfs:
        return local_frame(spark, [], "doc_id long, score_micros long")

    def run_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        term_blocks: dict[str, list[dict]] = {}
        for row in pdf.to_dict("records"):
            term_blocks.setdefault(row["term"], []).append(row)
        top = shard_fn(term_blocks, idfs, avgdl, k)
        return pd.DataFrame(
            [(int(d), int(s)) for s, d, _ in top], columns=["doc_id", "score_micros"]
        ).astype({"doc_id": "int64", "score_micros": "int64"})

    per_shard = pruned.groupBy("shard").applyInPandas(
        run_shard, "doc_id long, score_micros long"
    )
    return per_shard.orderBy(F.desc("score_micros"), F.asc("doc_id")).limit(k)


def blockmax_topk_micros(
    spark: SparkSession,
    segments: DataFrame,
    lexicon: DataFrame,
    query_terms: list[str],
    avgdl: float,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k over the compressed segments with vectorized block-max
    pruning (interval sweep, ``_blockmax_seg_shard``): (doc_id,
    score_micros), bit-identical to the columnar ``sum(round(contrib*1e6))``
    BM25, so it answers the same DuckDB oracle."""
    return _pruned_topk_micros(
        spark, segments, lexicon, query_terms, avgdl, k,
        _blockmax_seg_shard,
    )


def seg_exhaustive_topk_micros(
    spark: SparkSession,
    segments: DataFrame,
    lexicon: DataFrame,
    query_terms: list[str],
    avgdl: float,
    k: int = 10,
) -> DataFrame:
    """Exhaustive segment-served BM25 (``_exhaustive_seg_shard``): decode
    and score every block, no pruning — the same-engine reference the
    block-max executor is checked and benched against."""
    return _pruned_topk_micros(
        spark, segments, lexicon, query_terms, avgdl, k,
        _exhaustive_seg_shard,
    )


def plan_compaction(
    generation_bytes: dict[str, int],
    tier_ratio: float = 4.0,
    min_merge: int = 2,
    max_merge: int = 8,
) -> list[list[str]]:
    """Size-tiered compaction planner over index generations — the policy
    half of the LSM/Lucene merge lifecycle (``merge_segments`` +
    ``delete_docs`` are the mechanism half).

    Generations bucket into tiers by floor(log_{tier_ratio}(bytes)); any
    tier holding >= min_merge generations yields merge groups of up to
    max_merge members (oldest-first within a tier, by name — deterministic).
    Merging same-tier generations keeps write amplification O(log total /
    log ratio) per posting, the standard size-tiered bound; the planner is
    pure driver-side arithmetic over one size per generation (never row
    data), so it costs nothing at any index size."""
    if max_merge < min_merge:
        raise ValueError("max_merge must be >= min_merge")

    def tier_of(size: int) -> int:
        # multiply-up bucketing instead of float log: math.log(243, 3.0)
        # is 4.999999999999999, so int(log) misassigns exact tier
        # boundaries; growing the bound by repeated multiplication keeps
        # power-of-ratio sizes on the correct side
        tier, bound = 0, tier_ratio
        while size >= bound:
            bound *= tier_ratio
            tier += 1
        return tier

    tiers: dict[int, list[str]] = {}
    for name in sorted(generation_bytes):
        tiers.setdefault(tier_of(max(1, int(generation_bytes[name]))), []).append(name)
    plans: list[list[str]] = []
    for _, members in sorted(tiers.items()):
        while len(members) >= min_merge:
            group, members = members[:max_merge], members[max_merge:]
            plans.append(group)
    return plans


def compact_generations(generations: dict[str, DataFrame], plan: list[list[str]]):
    """Execute a compaction plan: each group merges in one step into one
    generation (``_merge_all``: decode → concat → re-encode per shared
    (shard, term) group — cost linear in the group's blocks); generations
    outside any group pass through untouched. Returns the new
    name → segments mapping."""
    merged: dict[str, DataFrame] = {}
    grouped = {name for group in plan for name in group}
    for group in plan:
        merged["+".join(group)] = _merge_all([generations[g] for g in group])
    for name, df in generations.items():
        if name not in grouped:
            merged[name] = df
    return merged


def compaction_plan(
    docs: DataFrame, shard_span: int = 16, merge_factor: int = 4
) -> DataFrame:
    """Tiered segment-merge planning (Lucene ``TieredMergePolicy`` shape):
    group same-size-tier segments into merges of ``merge_factor``, leaving
    each tier's remainder to wait for future flushes — the policy that keeps
    a rolling index's segment count O(merge_factor · log(total/flush)).

    One merge output row per (merge, member): (tier, merge_seq, segment_id,
    size_tokens, merge_total). Tier is the INTEGER log2 of the segment size
    via ``length(bin(size)) - 1`` — exact in both engines, no float-boundary
    drift at powers of two. Within a tier, segments pack into merges in
    (size desc, segment_id asc) order; only full groups of ``merge_factor``
    are scheduled.

    The size statistic here is the segment's token count (sum of doc_len
    over its doc range): deterministic from the corpus, so the DuckDB twin
    recomputes it and the policy logic is hash-gated end-to-end. In
    production the same planner runs over the per-segment byte/row stats the
    build persists in its lineage manifest (plans/lineage.py) — swap the
    stats source, keep the plan. Scale shape: the stats table has one row
    per segment (corpus_size/shard_span); every window is partitioned by
    tier over that bounded table — nothing here touches postings.

    Sibling: :func:`plan_compaction` is the driver-side GENERATION-level
    planner (a handful of named index generations, pure Python arithmetic,
    executed by :func:`compact_generations`); this operator is the
    distributed SEGMENT-level form for stats tables too large to collect —
    same tiered policy, gated hash-exact against the DuckDB twin.
    """
    from searchengine_spark.functions.tokenize import doc_len
    from pyspark.sql import Window

    stats = (
        docs.select(
            F.expr(f"doc_id div {int(shard_span)}").alias("segment_id"),
            doc_len(F.col("text")).alias("dl"),
        )
        .groupBy("segment_id")
        .agg(F.sum("dl").cast("long").alias("size_tokens"))
    )
    tier = (F.length(F.bin(F.col("size_tokens"))) - 1).cast("int")
    w = Window.partitionBy("tier").orderBy(
        F.desc("size_tokens"), F.asc("segment_id")
    )
    # integer division (the repo's exactness convention): the DuckDB twin
    # uses //, and a keep/group boundary must never cross through a double
    ranked = (
        stats.withColumn("tier", tier)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("merge_seq", F.expr(f"(_rn - 1) div {int(merge_factor)}").cast("long"))
        .drop("_rn")
    )
    grp = Window.partitionBy("tier", "merge_seq")
    return (
        ranked.withColumn("n_members", F.count(F.lit(1)).over(grp))
        .withColumn("merge_total", F.sum("size_tokens").over(grp).cast("long"))
        .filter(F.col("n_members") == merge_factor)
        .select("tier", "merge_seq", "segment_id", "size_tokens", "merge_total")
    )


BITPACKED_SCHEMA = (
    "term string, shard int, n_postings int, ids_packed binary, tfs_packed binary"
)


def bitpacked_postings_roundtrip(docs: DataFrame, shard_span: int = 64) -> DataFrame:
    """The ALTERNATIVE posting-list codec, gated end-to-end: delta-gap +
    Frame-of-Reference bit-packing (codec.bitpack_encode — the Lucene
    PackedInts family) instead of varint. Per (term, doc-range shard) the
    sorted doc-id gaps and tfs each pack at their block's max bit width;
    decode is one vectorized unpack per block, no per-byte branching.

    Returned decoded back to (term, doc_id, tf), so the driver gate hashes
    the whole encode→decode path against the corpus-tokenization oracle —
    the same closure the varint path gets from incremental_merge_postings.
    Scale shape matches encode_segments: group size is capped by shard_span
    regardless of term hotness, every group one Arrow crossing."""
    from searchengine_spark.functions.tokenize import exploded_tokens

    post = (
        exploded_tokens(docs)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("shard", F.expr(f"doc_id div {int(shard_span)}").cast("int"))
    )

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy(np.uint64)
        deltas = ids.copy()
        deltas[1:] = ids[1:] - ids[:-1]
        tfs = pdf["tf"].to_numpy(np.uint64)
        return pd.DataFrame(
            [
                (
                    pdf["term"].iloc[0],
                    int(pdf["shard"].iloc[0]),
                    len(ids),
                    codec.bitpack_encode(deltas),
                    codec.bitpack_encode(tfs),
                )
            ],
            columns=["term", "shard", "n_postings", "ids_packed", "tfs_packed"],
        )

    seg = post.groupBy("term", "shard").applyInPandas(enc, BITPACKED_SCHEMA)

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms: list[str] = []
            ids_out: list[np.ndarray] = []
            tfs_out: list[np.ndarray] = []
            for row in pdf.to_dict("records"):
                n = int(row["n_postings"])
                ids = np.cumsum(codec.bitpack_decode(bytes(row["ids_packed"]), n))
                tfs = codec.bitpack_decode(bytes(row["tfs_packed"]), n)
                terms += [row["term"]] * n
                ids_out.append(ids)
                tfs_out.append(tfs)
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_id": np.concatenate(ids_out).astype(np.int64)
                    if ids_out
                    else np.array([], dtype=np.int64),
                    "tf": np.concatenate(tfs_out).astype(np.int64)
                    if tfs_out
                    else np.array([], dtype=np.int64),
                }
            )

    return seg.mapInPandas(dec, "term string, doc_id long, tf long")


def _phrase_micros_in_shard(
    term_blocks: dict[str, list[dict]],
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
) -> list[tuple[int, int, None]]:
    """Exact phrase top-k within one shard in **bigint micros**: decode
    positions for docs present in ALL phrase terms' lists, keep the
    position-adjacent ones (over the FULL term sequence, so a repeated term
    must repeat adjacently), and score them with each term contribution
    rounded to micros BEFORE the sum — the integer contract of the columnar
    phrase_topk oracle."""
    per_term: list[dict[int, tuple]] = []  # doc -> (positions, tf, dl)
    for t in terms:
        blocks = term_blocks.get(t)
        if not blocks:
            return []
        entry: dict[int, tuple] = {}
        for b in sorted(blocks, key=lambda x: x["block_id"]):
            ids, tfs, dls = codec.decode_block(b)
            poss = codec.decode_positions(b)
            for d, p, tf, dl in zip(ids.tolist(), poss, tfs.tolist(), dls.tolist()):
                entry[d] = (p, tf, dl)
        per_term.append(entry)
    cand = set(per_term[0])
    for pm in per_term[1:]:
        cand &= set(pm)
    hits = []
    for d in sorted(cand):
        first = per_term[0][d][0]
        rest = [set(pm[d][0].tolist()) for pm in per_term[1:]]
        if any(all((p + i + 1) in rest[i] for i in range(len(rest))) for p in first.tolist()):
            hits.append(d)
    if not hits:
        return []
    score = np.zeros(len(hits), dtype=np.int64)
    for t in sorted(set(terms)):
        pm = per_term[terms.index(t)]
        tf = np.array([pm[d][1] for d in hits], dtype=np.int64)
        dl = np.array([pm[d][2] for d in hits], dtype=np.int64)
        score += _micros(codec.bm25_contrib(tf, dl, idfs[t], avgdl))
    docs = np.array(hits, dtype=np.int64)
    sel = np.lexsort((docs, -score))[:k]
    return [(score[i].item(), int(docs[i]), None) for i in sel]


def phrase_topk_micros(
    spark: SparkSession,
    segments: DataFrame,
    lexicon: DataFrame,
    phrase_terms: list[str],
    avgdl: float,
    k: int = 10,
) -> DataFrame:
    """Scored phrase query served ENTIRELY from the compressed segments
    (positions decoded from the blobs, adjacency checked in-shard, BM25 in
    exact micros) — the physical twin of serve.phrase_topk, under the same
    DuckDB oracle. Shares _pruned_topk_micros' driver plan with the block-max
    top-k, so partition pruning and the bounded per-shard heap are one
    definition."""
    ordered = list(phrase_terms)

    def shard_fn(term_blocks, idfs, avgdl_, k_):
        return _phrase_micros_in_shard(term_blocks, ordered, idfs, avgdl_, k_)

    return _pruned_topk_micros(
        spark, segments, lexicon, ordered, avgdl, k, shard_fn
    )


def _positions_by_doc(pdf: pd.DataFrame, terms: list[str]) -> dict[str, dict[int, np.ndarray]]:
    """{term: {doc_id: positions}} decoded from one shard's block rows."""
    per_term: dict[str, dict[int, np.ndarray]] = {t: {} for t in terms}
    for row in pdf.to_dict("records"):
        entry = per_term[row["term"]]
        ids, _, _ = codec.decode_block(row)
        for d, p in zip(ids.tolist(), codec.decode_positions(row)):
            entry[d] = p
    return per_term


def proximity_match_segments(
    spark: SparkSession,
    segments: DataFrame,
    lexicon: DataFrame,
    term_a: str,
    term_b: str,
    slop: int = 3,
) -> DataFrame:
    """Proximity search served ENTIRELY from the compressed segments:
    (doc_id, min_dist) for docs where the two terms occur within ``slop``
    raw-split positions, positions decoded from the blobs in-shard — the
    physical twin of serve.proximity_match under the same oracle. Same
    lookup + pruned scan (:func:`_lookup_pruned_scan`) and per-shard Arrow
    group as the top-k paths; a doc's pair work is bounded by its two term
    frequencies."""
    terms = list(dict.fromkeys([term_a, term_b]))
    present, pruned = _lookup_pruned_scan(segments, lexicon, terms)
    if term_a not in present or term_b not in present:
        return local_frame(spark, [], "doc_id long, min_dist long")

    def run_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        per_term = _positions_by_doc(pdf, terms)
        pa, pb = per_term[term_a], per_term[term_b]
        out = []
        for d in set(pa) & set(pb):
            md = int(np.abs(pa[d][:, None].astype(np.int64)
                            - pb[d][None, :].astype(np.int64)).min())
            if md <= slop:
                out.append((d, md))
        return pd.DataFrame(out, columns=["doc_id", "min_dist"]).astype("int64")

    return pruned.groupBy("shard").applyInPandas(
        run_shard, "doc_id long, min_dist long"
    )


def ordered_proximity_segments(
    spark: SparkSession,
    segments: DataFrame,
    lexicon: DataFrame,
    term_a: str,
    term_b: str,
    slop: int = 3,
) -> DataFrame:
    """Ordered proximity (a BEFORE b within ``slop``) served from the
    compressed segments — (doc_id, min_gap), gap = pb − pa ≥ 1 — the
    directional sibling of :func:`proximity_match_segments`, same shard
    shape, same oracle as the columnar ordered_proximity_match."""
    terms = list(dict.fromkeys([term_a, term_b]))
    present, pruned = _lookup_pruned_scan(segments, lexicon, terms)
    if term_a not in present or term_b not in present:
        return local_frame(spark, [], "doc_id long, min_gap long")

    def run_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        per_term = _positions_by_doc(pdf, terms)
        pa, pb = per_term[term_a], per_term[term_b]
        out = []
        for d in set(pa) & set(pb):
            gaps = (pb[d][None, :].astype(np.int64)
                    - pa[d][:, None].astype(np.int64)).reshape(-1)
            gaps = gaps[gaps >= 1]
            if gaps.size and int(gaps.min()) <= slop:
                out.append((d, int(gaps.min())))
        return pd.DataFrame(out, columns=["doc_id", "min_gap"]).astype("int64")

    return pruned.groupBy("shard").applyInPandas(
        run_shard, "doc_id long, min_gap long"
    )
