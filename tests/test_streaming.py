"""Structured Streaming fresh-link ingest: micro-batch drain, at-least-once
replay absorbed by the seen set, checkpointed restart (ST1-ST5)."""

import os

import pytest
from pyspark.sql import functions as F

from news_crawler_spark import streaming, synth
from news_crawler_spark.engine import CrawlEngine


@pytest.fixture()
def engine(spark, tmp_path):
    eng = CrawlEngine(spark, str(tmp_path / "wd"))
    eng.ingest(synth.build_seed_list(spark, 200))
    return eng


def _write_batch(spark, directory, lo, hi, name):
    df = synth.build_seed_list(spark, hi).filter(F.col("discovery_time") >= F.lit(
        synth.seed_row(lo)["discovery_time"]))
    df.coalesce(1).write.mode("append").parquet(directory)
    _ = name


def test_streaming_ingest_dedups_and_checkpoints(spark, engine, tmp_path):
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    before = engine.catalog.read("pending", engine.catalog.latest_round()).count()

    # batch 1: seeds [200, 260) — new urls + some dup rediscoveries
    _write_batch(spark, src, 200, 260, "b1")
    streaming.drain_available(engine, src, ckpt)
    r1 = engine.catalog.latest_round()
    after1 = engine.catalog.read("pending", r1).count()
    assert after1 > before  # some new URLs admitted

    # batch 2 = replay of batch 1 (at-least-once) + fresh [260, 300)
    _write_batch(spark, src, 200, 300, "b2")
    streaming.drain_available(engine, src, ckpt)
    r2 = engine.catalog.latest_round()
    assert r2 > r1
    pend = engine.catalog.read("pending", r2)
    # no canonical URL appears twice despite the replay
    n = pend.count()
    assert pend.select("canonical_url").distinct().count() == n

    # the streaming checkpoint must not re-deliver already-read files
    streaming.drain_available(engine, src, ckpt)
    assert engine.catalog.latest_round() == r2  # isEmpty batch → no round

    # final frontier equals a pure-batch run over the same 300 seeds
    eng2 = CrawlEngine(spark, str(tmp_path / "wd2"))
    eng2.ingest(synth.build_seed_list(spark, 300))
    want = {r.canonical_url for r in
            eng2.catalog.read("pending", 0).select("canonical_url").collect()}
    got = {r.canonical_url for r in pend.select("canonical_url").collect()}
    assert got == want


def test_cursor_cut_stream_stateful(spark, tmp_path):
    """applyInPandasWithState cursor: batch 2 re-delivers batch 1's links
    plus fresh ones; only the fresh ones come out, state survives the
    micro-batch boundary via the checkpoint."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    os.makedirs(src, exist_ok=True)

    synth.build_seed_list(spark, 60).coalesce(1).write.mode("append").parquet(src)
    stream = streaming.cursor_cut_stream(streaming.read_seed_stream(spark, src))
    q = (stream.writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination()
    first = spark.read.parquet(out_dir).count()
    assert first > 0

    # batch 2: everything from batch 1 again (re-delivery) + nothing new
    synth.build_seed_list(spark, 60).coalesce(1).write.mode("append").parquet(src)
    q = (streaming.cursor_cut_stream(streaming.read_seed_stream(spark, src))
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination()
    after_replay = spark.read.parquet(out_dir).count()
    # per-source cursor drops every re-delivered link
    assert after_replay == first

    # batch 3: genuinely fresh discoveries → emitted
    extra = synth.build_seed_list(spark, 90).filter(
        F.col("discovery_time") > F.lit(synth.seed_row(59)["discovery_time"]))
    extra.coalesce(1).write.mode("append").parquet(src)
    q = (streaming.cursor_cut_stream(streaming.read_seed_stream(spark, src))
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.read.parquet(out_dir).count() > after_replay


def test_discovery_rates_watermark(spark, tmp_path):
    """Watermarked windowed agg (1-min windows, 2-min watermark): late
    rows inside the watermark are counted, later-than-watermark rows are
    dropped from the aggregate, finalized windows are emitted exactly
    once (append mode)."""
    import os
    import time as _time
    from datetime import datetime

    from news_crawler_spark import streaming

    src = tmp_path / "rates_src"
    src.mkdir()

    def write_batch(name, rows, mtime):
        df = spark.createDataFrame(
            [("s1", f"https://h/{i}", ts, ts) for i, ts in enumerate(rows)],
            "source string, url string, published_ts timestamp, discovery_time timestamp",
        )
        p = str(src / name)
        df.coalesce(1).write.mode("overwrite").parquet(p)
        os.utime(p, (mtime, mtime))  # file-source processes in mtime order
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (mtime, mtime))

    out = str(tmp_path / "rates_out")
    ckpt = str(tmp_path / "rates_ckpt")

    def drain():
        # one availableNow run per deposited file ⇒ hard batch boundaries;
        # the watermark persists in the checkpoint across runs
        stream = spark.readStream.schema(
            "source string, url string, published_ts timestamp, discovery_time timestamp"
        ).parquet(str(src) + "/*")
        q = streaming.start_rate_monitor(
            stream, out, ckpt, window_duration="1 minute", watermark="2 minutes"
        )
        q.awaitTermination()

    t0 = _time.time()
    # batch 1: two rows in window 10:00, one at 10:05 → watermark → 10:03
    write_batch("b1", [datetime(2024, 6, 1, 10, 0, 10),
                       datetime(2024, 6, 1, 10, 0, 40),
                       datetime(2024, 6, 1, 10, 5, 0)], t0)
    drain()
    # batch 2: 10:00:50's window END (10:01) is behind the watermark
    # (10:03) → dropped from the aggregate; 10:03:30's window end
    # (10:04) outruns it → counted. (Spark's late filter gates on the
    # WINDOW's end, not the row's raw event time — a row in a
    # still-open window is counted even when the row itself is older
    # than the watermark.)
    write_batch("b2", [datetime(2024, 6, 1, 10, 0, 50),
                       datetime(2024, 6, 1, 10, 3, 30)], t0 + 10)
    drain()
    # batch 3: advance watermark far enough to finalize everything ≤10:08
    write_batch("b3", [datetime(2024, 6, 1, 10, 10, 0)], t0 + 20)
    drain()
    got = {
        (r.window_start.strftime("%H:%M"), r.n_links)
        for r in spark.read.parquet(out).collect()
    }
    assert ("10:00", 2) in got          # late 10:00:50 was NOT added
    assert ("10:03", 1) in got          # in-watermark late row counted
    assert ("10:05", 1) in got
    assert not any(w == "10:10" for w, _ in got)  # never finalized


def test_fetch_audit_join_stream_buffers_both_sides(spark, tmp_path):
    """Stream-stream inner join: a link whose outcome only arrives in the
    NEXT micro-batch (and an outcome whose link arrives later) must still
    match — both sides buffer in state — while an outcome slower than the
    1-hour horizon never matches."""
    import time as _time
    from datetime import datetime

    links_dir = tmp_path / "l"
    outs_dir = tmp_path / "o"
    links_dir.mkdir()
    outs_dir.mkdir()
    t = datetime(2024, 6, 1, 10, 0, 0)
    dt = datetime(2024, 6, 1, 0, 0, 0)

    def write(d, name, rows, schema, mtime):
        p = str(d / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        os.utime(p, (mtime, mtime))
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (mtime, mtime))

    lsch = "source string, url string, published_ts timestamp, discovery_time timestamp"
    osch = "url string, fetch_ts timestamp, status string"
    t0 = _time.time()
    # batch 0: link A (outcome comes later); outcome B (link comes later)
    write(links_dir, "b0", [("s", "https://h/a", t, dt)], lsch, t0)
    write(outs_dir, "b0",
          [("https://h/b", datetime(2024, 6, 1, 10, 30, 0), "completed")],
          osch, t0)
    # batch 1: outcome A (in horizon), link B, link C whose outcome is
    # 2h late (outside the horizon) and link D with no outcome at all
    write(links_dir, "b1",
          [("s", "https://h/b", t, dt), ("s", "https://h/c", t, dt),
           ("s", "https://h/d", t, dt)], lsch, t0 + 10)
    write(outs_dir, "b1",
          [("https://h/a", datetime(2024, 6, 1, 10, 59, 59), "completed"),
           ("https://h/c", datetime(2024, 6, 1, 12, 0, 0), "failed")],
          osch, t0 + 10)

    out_dir = str(tmp_path / "out")
    q = (
        streaming.fetch_audit_join_stream(
            # each batch is a subdirectory → glob, as in the rates test
            streaming.read_seed_stream(spark, str(links_dir) + "/*", max_files_per_trigger=1),
            streaming.read_outcome_stream(spark, str(outs_dir) + "/*", max_files_per_trigger=1),
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {(r.url, r.status) for r in spark.read.parquet(out_dir).collect()}
    # A matched across batches (link b0 → outcome b1), B matched in the
    # other direction (outcome b0 → link b1); C's outcome missed the
    # horizon, D never completed — inner join emits neither.
    assert got == {("https://h/a", "completed"), ("https://h/b", "completed")}
