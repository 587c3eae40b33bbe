"""Structured Streaming smoke: file source → tokenize → foreachBatch sink,
and watermarked tumbling window — drained synchronously (no Kafka in
sandbox)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_stream_corpus_to_postings(spark, tmp_path):
    from searchengine_spark.sources.corpus import generate_corpus
    from searchengine_spark.streaming.ingest import stream_corpus_to_postings

    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "post")
    ckpt = str(tmp_path / "ckpt")
    generate_corpus(spark, 50, seed=42).write.parquet(corpus_dir)

    q = stream_corpus_to_postings(spark, corpus_dir, out_dir, ckpt)
    q.awaitTermination(120)  # availableNow trigger → terminates when drained

    batches = [d for d in os.listdir(out_dir) if d.startswith("batch=")]
    assert batches
    post = spark.read.parquet(os.path.join(out_dir, "*"))
    assert post.count() > 0
    assert set(post.columns) >= {"doc_id", "term", "tf", "positions", "dl"}
    # same tokenizer as batch: spot-check one term exists
    assert post.filter(F.col("term") == "spark").count() > 0


def test_stream_events_hourly(spark, tmp_path):
    from searchengine_spark.streaming.ingest import stream_events_hourly

    events_dir = "/root/testdata/sf0.001"
    src = str(tmp_path / "events")
    spark.read.parquet(f"{events_dir}/events.parquet").write.parquet(src)
    ckpt = str(tmp_path / "eckpt")

    q = stream_events_hourly(spark, src, ckpt, queryName="t_hourly")
    q.processAllAvailable()
    got = spark.sql("SELECT * FROM t_hourly").collect()
    q.stop()
    assert got
    # streaming result == batch result (same window + micros sum)
    batch = (
        spark.read.parquet(f"{events_dir}/events.parquet")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("value_micros"))
        .collect()
    )
    assert {tuple(r) for r in got} == {tuple(r) for r in batch}


def test_multimodal_pipeline(spark):
    from searchengine_spark.operators.multimodal import (
        frame_sample_plan,
        image_features,
        make_fake_media,
    )

    media = make_fake_media(spark, 30)
    feats = image_features(media, deterministic_fake=True).collect()
    assert feats and all(16 <= r["width"] <= 256 for r in feats)
    # deterministic: same blob -> same features
    again = image_features(media, deterministic_fake=True).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))

    frames = frame_sample_plan(media, every_n_seconds=5)
    rows = frames.collect()
    assert rows and all(r["frame_ts_sec"] % 5 == 0 for r in rows)

    # real decode is an explicit stub
    import pytest as _pytest

    with _pytest.raises(Exception):
        image_features(media, deterministic_fake=False).collect()


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: a session opened in batch 1 must
    close (and emit) when batch 2 — fed through a checkpoint RESTART —
    brings an event past the 30-min gap. Proves cross-batch state."""
    import datetime as dt

    import pandas as pd

    from searchengine_spark.streaming.stateful import stream_sessionize

    events_dir = tmp_path / "events"
    ckpt = str(tmp_path / "ckpt_sess")
    events_dir.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(name, rows):
        df = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        df["ts"] = df["ts"].astype("datetime64[us]")  # Spark reads µs, not ns
        df.to_parquet(events_dir / name, index=False)

    # batch 1: user 1 has two events 10 min apart (one open session);
    # user 2 has one event
    write_batch("b1.parquet", [
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=10), 1, "click", 1.0, "{}"),
        (3, t0, 2, "view", 1.0, "{}"),
    ])
    out_dir = str(tmp_path / "sessions")
    q = stream_sessionize(spark, str(events_dir), out_dir, ckpt)
    q.awaitTermination(120)

    def read_sessions():
        import glob
        files = glob.glob(os.path.join(out_dir, "batch=*", "*.parquet"))
        if not files:
            return []
        return spark.read.parquet(os.path.join(out_dir, "*")).collect()

    assert len(read_sessions()) == 0  # nothing closed yet

    # batch 2 (restart from checkpoint): user 1 event 2h later → closes the
    # batch-1 session (2 events) and opens a new one
    write_batch("b2.parquet", [
        (4, t0 + dt.timedelta(hours=2), 1, "click", 1.0, "{}"),
    ])
    q2 = stream_sessionize(spark, str(events_dir), out_dir, ckpt)
    q2.awaitTermination(120)
    rows = read_sessions()
    out = {(r["user_id"], r["n_events"]) for r in rows}
    assert (1, 2) in out  # the batch-1 session survived the restart intact
    closed = [r for r in rows if r["user_id"] == 1 and r["n_events"] == 2][0]
    assert closed["session_end_us"] - closed["session_start_us"] == 10 * 60 * 1_000_000


def test_multimodal_audio_and_resize(spark):
    from searchengine_spark.operators.multimodal import (
        audio_features,
        image_resize,
        make_fake_media,
    )

    media = make_fake_media(spark, 30)
    auds = audio_features(media, deterministic_fake=True).collect()
    assert auds and all(r["sample_rate"] in (8000, 16000, 44100, 48000) for r in auds)
    assert all(500 <= r["duration_ms"] < 60_500 for r in auds)

    resized = image_resize(media, 64, 48, deterministic_fake=True).collect()
    assert resized and all(len(r["blob"]) == 64 * 48 for r in resized)
    # deterministic: same blob -> same resized bytes
    again = image_resize(media, 64, 48, deterministic_fake=True).collect()
    assert sorted(r["blob"] for r in resized) == sorted(r["blob"] for r in again)

    import pytest as _pytest
    with _pytest.raises(Exception):
        audio_features(media, deterministic_fake=False).collect()


def test_real_wav_bmp_decode(spark):
    """The REAL stdlib decode seam: spec-valid WAV/BMP containers built
    JVM-side, parsed with wave/struct, stats matching the synthesis
    closed form exactly; fake blobs still raise for compressed codecs."""
    from searchengine_spark.operators.multimodal import (
        audio_features,
        bmp_decode_stats,
        image_features,
        make_bmp_media,
        make_fake_media,
        make_wav_media,
        wav_decode_stats,
    )

    wav = make_wav_media(spark, 9)
    for r in wav_decode_stats(wav).collect():
        i = r["media_id"]
        ns = 100 + (i * 37) % 400
        sv = [
            u if u < 32768 else u - 65536
            for u in ((i * 7919 + t * 104729) % 65536 for t in range(ns))
        ]
        assert r["sample_rate"] == [8000, 16000, 22050, 44100][i % 4]
        assert r["n_samples"] == ns and r["n_bytes"] == 44 + 2 * ns
        assert (r["sum_abs"], r["sum_sq"]) == (
            sum(abs(s) for s in sv),
            sum(s * s for s in sv),
        )
        assert (r["max_s"], r["min_s"]) == (max(sv), min(sv))

    bmp = make_bmp_media(spark, 9)
    for r in bmp_decode_stats(bmp).collect():
        i = r["media_id"]
        w, h = 4 + i % 5, 3 + i % 4
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_bytes"] == 54 + ((3 * w + 3) // 4) * 4 * h
        assert r["sum_r"] == sum(
            (i * 3 + x * 7 + y * 11) % 256 for x in range(w) for y in range(h)
        )
        # orientation-sensitive: wrong bottom-up handling fails this
        assert r["wsum_r"] == sum(
            y * ((i * 3 + x * 7 + y * 11) % 256)
            for x in range(w)
            for y in range(h)
        )

    # real RIFF/AVI chunk-tree parse: frame count/order + row order pinned
    from searchengine_spark.operators.multimodal import (
        avi_decode_stats,
        make_avi_media,
    )

    avi = make_avi_media(spark, 9)
    for r in avi_decode_stats(avi).collect():
        i = r["media_id"]
        w, h, nf = 4 + i % 3, 3 + i % 2, 2 + i % 3
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, nf)
        assert r["n_bytes"] == 224 + nf * (((3 * w + 3) // 4) * 4 * h + 8)
        pix = [(x, y, f) for x in range(w) for y in range(h) for f in range(nf)]
        R = lambda x, y, f: (i * 3 + x * 7 + y * 11 + f * 19) % 256
        assert r["sum_r"] == sum(R(*p) for p in pix)
        assert r["fsum_r"] == sum(p[2] * R(*p) for p in pix)  # frame order
        assert r["wsum_r"] == sum(p[1] * R(*p) for p in pix)  # row order

    # the generic feature operators route real WAV/BMP through the same seam
    assert len(audio_features(wav, deterministic_fake=False).collect()) == 9
    assert len(image_features(bmp, deterministic_fake=False).collect()) == 9
    # compressed codecs still require external libs
    import pytest as _pytest

    with _pytest.raises(Exception):
        image_features(
            make_fake_media(spark, 6), deterministic_fake=False
        ).collect()


def test_stream_sessionize_out_of_order(spark, tmp_path):
    """A late event (earlier than the open session's end) must be absorbed
    without regressing the session end — a following event inside the TRUE
    gap must not split the session."""
    import datetime as dt

    import glob

    import pandas as pd

    from searchengine_spark.streaming.stateful import stream_sessionize

    events_dir = tmp_path / "events"
    ckpt = str(tmp_path / "ckpt_ooo")
    out_dir = str(tmp_path / "sessions_ooo")
    events_dir.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(name, rows):
        df = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(events_dir / name, index=False)

    write_batch("b1.parquet", [(1, t0, 1, "c", 1.0, "{}")])
    q = stream_sessionize(spark, str(events_dir), out_dir, ckpt)
    q.awaitTermination(120)

    # batch 2: late event 10 min BEFORE t0 (absorbed), then one 25 min
    # after t0 (within gap of the true last=t0) — must stay ONE session
    write_batch("b2.parquet", [
        (2, t0 - dt.timedelta(minutes=10), 1, "c", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=25), 1, "c", 1.0, "{}"),
        (4, t0 + dt.timedelta(hours=3), 1, "c", 1.0, "{}"),  # closes it
    ])
    q2 = stream_sessionize(spark, str(events_dir), out_dir, ckpt)
    q2.awaitTermination(120)

    rows = (
        spark.read.parquet(os.path.join(out_dir, "*")).collect()
        if glob.glob(os.path.join(out_dir, "batch=*", "*.parquet"))
        else []
    )
    closed = [r for r in rows if r["user_id"] == 1 and r["n_events"] == 3]
    assert closed, f"expected one 3-event session, got {rows}"
    s = closed[0]
    assert s["session_start_us"] == int((t0 - dt.timedelta(minutes=10)).timestamp() * 1e6)
    assert s["session_end_us"] == int((t0 + dt.timedelta(minutes=25)).timestamp() * 1e6)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming fingerprint dedup == batch dropDuplicates on fingerprint
    when all rows fall inside the watermark: same fingerprint SET, exactly
    one survivor each (which arrival survives is a streaming-order detail,
    so the assertion is set-level)."""
    import datetime as dt

    from searchengine_spark.streaming.ingest import stream_dedup_pages

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (f"http://h/{i}", f"fp{i % 4}", t0 + dt.timedelta(minutes=i), f"body {i}")
        for i in range(12)
    ]
    src = str(tmp_path / "pages")
    ckpt = str(tmp_path / "dckpt")
    batch = spark.createDataFrame(
        rows, "url string, fingerprint string, fetched_at timestamp, content string"
    )
    batch.write.parquet(src)

    q = stream_dedup_pages(spark, src, ckpt, queryName="dedup_stream_t")
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream_t").collect()
    want_fps = {r["fingerprint"] for r in batch.dropDuplicates(["fingerprint"]).collect()}
    assert {r["fingerprint"] for r in got} == want_fps == {"fp0", "fp1", "fp2", "fp3"}
    assert len(got) == len(want_fps)  # exactly one survivor per fingerprint


def test_stream_trending_equals_batch_gate(spark, tmp_path):
    """The drained trending stream, ranked by the shared rank_windows
    consumer, must equal the batch trending_topk gate row-for-row — the
    streaming==batch contract for the sliding-window top-k family."""
    from searchengine_spark.operators.relational import rank_windows, trending_topk
    from searchengine_spark.streaming.ingest import stream_trending

    events_dir = "/root/testdata/sf0.001"
    src = str(tmp_path / "events")
    spark.read.parquet(f"{events_dir}/events.parquet").write.parquet(src)
    ckpt = str(tmp_path / "tckpt")

    q = stream_trending(spark, src, ckpt, queryName="t_trending")
    q.processAllAvailable()
    streamed = rank_windows(spark.sql("SELECT * FROM t_trending"), k=3).collect()
    q.stop()
    assert streamed
    batch = trending_topk(spark, events_dir, window_min=360, slide_min=60, k=3).collect()
    assert {tuple(r) for r in streamed} == {tuple(r) for r in batch}


def test_stream_attribution_equals_batch_gate(spark, tmp_path):
    """The drained watermarked stream-stream interval join must equal the
    batch events_attribution gate row-for-row — the streaming==batch
    contract for the two-sided-state join family."""
    from searchengine_spark.operators.relational import events_attribution
    from searchengine_spark.streaming.ingest import stream_attribution

    events_dir = "/root/testdata/sf0.001"
    src = str(tmp_path / "events")
    spark.read.parquet(f"{events_dir}/events.parquet").write.parquet(src)
    ckpt = str(tmp_path / "ackpt")

    q = stream_attribution(spark, src, ckpt, queryName="t_attr", window_min=360)
    q.processAllAvailable()
    streamed = spark.sql("SELECT * FROM t_attr").collect()
    q.stop()
    assert streamed
    batch = events_attribution(spark, events_dir, window_min=360).collect()
    assert {tuple(r) for r in streamed} == {tuple(r) for r in batch}


def test_media_decode_negative_paths(spark):
    """Corrupt-container behavior is pinned for all three kinds (VERDICT
    r04 ask #7): truncation, bad magic and unsupported codecs must raise
    (or flag) deterministically — never mis-parse short rows into
    plausible stats."""
    import pytest

    from searchengine_spark.operators.multimodal import (
        _decode_avi,
        _decode_bmp,
        _decode_wav,
        make_avi_media,
        make_bmp_media,
        make_corrupt_media,
        make_wav_media,
        media_decode_validate,
    )

    wav = bytes(make_wav_media(spark, 1).collect()[0]["blob"])
    bmp = bytes(make_bmp_media(spark, 1).collect()[0]["blob"])
    avi = bytes(make_avi_media(spark, 1).collect()[0]["blob"])
    # happy paths decode
    assert _decode_wav(wav)[0] == 8000
    assert _decode_bmp(bmp)[0] == 4
    assert _decode_avi(avi)[2] == 2
    # truncated data chunk / pixel array / frame: deterministic raise
    with pytest.raises(ValueError, match="truncated WAV"):
        _decode_wav(wav[:-7])
    with pytest.raises(ValueError, match="truncated BMP"):
        _decode_bmp(bmp[:-7])
    with pytest.raises(ValueError, match="truncated"):
        _decode_avi(avi[:-7])
    # wrong magic
    with pytest.raises(ValueError, match="not a BMP"):
        _decode_bmp(b"XM" + bmp[2:])
    with pytest.raises(ValueError, match="not an AVI"):
        _decode_avi(b"X" + avi[1:])
    # unsupported codec fields
    with pytest.raises(NotImplementedError):
        _decode_bmp(bmp[:28] + b"\x08\x00" + bmp[30:])
    avi_dc = bytes(
        make_avi_media(spark, 1, frame_fourcc_hex="30306463").collect()[0]["blob"]
    )
    with pytest.raises(NotImplementedError, match="00dc"):
        _decode_avi(avi_dc)
    # the flagging operator classifies every (kind, class) combination
    out = media_decode_validate(make_corrupt_media(spark, 8)).collect()
    expected = {0: "ok", 1: "malformed", 2: "malformed", 3: "unsupported"}
    assert len(out) == 24
    for r in out:
        assert r["status"] == expected[r["media_id"] % 4], (
            r["kind"], r["media_id"], r["status"]
        )
