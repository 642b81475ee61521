"""S11 embed-status machine: per-source batching, status transitions,
and kill/resume idempotence (no doc embedded twice, none skipped)."""

import pytest
from pyspark.sql import functions as F

from news_crawler_spark.embed_scheduler import EmbedScheduler


@pytest.fixture()
def docs(spark):
    rows = [
        (f"d{i:03d}", f"src{i % 3}", f"title {i}", f"summary words {i}")
        for i in range(90)
    ]
    rows.append(("dempty", "src0", "", ""))  # P8: empty embed text dropped
    return spark.createDataFrame(
        rows, "doc_id string, source string, title string, summary string"
    )


def test_drain_batches_per_source(spark, docs, tmp_path):
    sched = EmbedScheduler(spark, str(tmp_path / "wd"), batch_per_source=10)
    sched.ingest(docs)
    stats = sched.run()
    # 90 docs / 3 sources / batch 10 → 3 full rounds of 30
    assert [s.embedded for s in stats] == [30, 30, 30]
    assert stats[-1].pending_left == 0
    # drained: the latest pending slice is empty, and every doc with
    # embed text has exactly one vector (dempty has none)
    last = sched.catalog.latest_round()
    pend = sched.catalog.read("embed_pending", last)
    assert pend.columns == ["doc_id", "source", "published_ts", "embed_text"]
    assert pend.count() == 0
    vecs = sched.vectors()
    ids = [r.doc_id for r in vecs.select("doc_id").collect()]
    assert sorted(ids) == sorted(r.doc_id for r in docs.collect() if r.doc_id != "dempty")
    # every vector has the declared dim and a source tag
    bad = vecs.filter(
        (F.size("vector") != F.col("dim")) | F.col("source").isNull()
    ).count()
    assert bad == 0


def test_drain_order_is_oldest_first(spark, tmp_path):
    """Reference fidelity: the per-source claim drains OLDEST first
    (database_manager.py:296-297 ORDER BY published_datetime ASC), with
    doc_id breaking ties — so round 1's vectors are exactly the k oldest
    (published_ts, doc_id) docs of each source."""
    from datetime import datetime, timedelta

    base = datetime(2024, 5, 1)
    rows = [
        (
            f"d{i:03d}",
            f"src{i % 2}",
            f"title {i}",
            f"summary {i}",
            base + timedelta(hours=(i * 37) % 60),  # shuffled timestamps
        )
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, source string, title string, summary string, "
        "published_ts timestamp",
    )
    sched = EmbedScheduler(spark, str(tmp_path / "wd"), batch_per_source=7)
    sched.ingest(docs)
    sched.step(1)
    got = {
        r.doc_id for r in sched.catalog.read("vectors", 1).select("doc_id").collect()
    }
    want = set()
    for src in ("src0", "src1"):
        members = sorted(
            ((ts, did) for did, s, _, _, ts in rows if s == src),
        )[:7]
        want |= {did for _, did in members}
    assert got == want


def test_duplicate_doc_ids_drain_to_zero(spark, tmp_path):
    """Round-3 advice: duplicate doc_ids in the ingest input must not
    desync the arithmetic pending_left (claim counted both copies, the
    anti-join removed both) — ingest dedups per doc_id, the drain ends
    at pending_left == 0, and each id is embedded exactly once."""
    rows = [
        (f"d{i:02d}", f"src{i % 2}", f"title {i}", f"summary {i}")
        for i in range(40)
    ]
    dup = rows + rows[:15]  # 15 ids delivered twice
    docs = spark.createDataFrame(
        dup, "doc_id string, source string, title string, summary string"
    )
    sched = EmbedScheduler(spark, str(tmp_path / "wd"), batch_per_source=8)
    sched.ingest(docs)
    stats = sched.run()
    assert stats[-1].pending_left == 0
    vecs = sched.vectors()
    assert vecs.count() == 40
    assert vecs.select("doc_id").distinct().count() == 40
    assert sched.catalog.read(
        "embed_pending", sched.catalog.latest_round()
    ).count() == 0


def test_resume_no_double_embed_none_skipped(spark, docs, tmp_path):
    wd = str(tmp_path / "wd")
    sched = EmbedScheduler(spark, wd, batch_per_source=10)
    sched.ingest(docs)
    sched.step(1)  # one committed round, then "crash"

    # simulate a crash mid-round 2: uncommitted partial writes on disk
    pend = sched.catalog.read("embed_pending", 1)
    sched.catalog.write("embed_pending", 2, pend.limit(5))   # garbage
    sched.catalog.write(
        "vectors", 2,
        spark.createDataFrame(
            [], "doc_id string, vector array<float>, dim int, source string"),
    )

    resumed = EmbedScheduler(spark, wd, batch_per_source=10)  # new process
    resumed.run()
    vecs = resumed.vectors()
    assert vecs.count() == 90
    assert vecs.select("doc_id").distinct().count() == 90     # no doubles
    # none skipped: the embedded set is exactly the non-empty ingest set
    want = {f"d{i:03d}" for i in range(90)}
    assert {r.doc_id for r in vecs.select("doc_id").collect()} == want
    # deterministic vectors: re-embedding a doc in a fresh run matches
    one = vecs.filter(F.col("doc_id") == "d007").collect()[0]
    from news_crawler_spark.operators.embed import embed_text
    assert [round(x, 5) for x in one.vector] == [
        round(x, 5) for x in embed_text("title 7. summary words 7")
    ]
