"""The exact seen check and its persisted state: ``seen_keys`` is one
range-sorted base snapshot ⊕ per-ingest deltas, folded on the
``compact_every`` cadence, and every admission is the
``seen_set.unseen_only`` anti-join against it. Pinned here: what a fold
writes, when compaction fires, what a probe reads, that the state
survives restarts, crashes and re-attaching engines, that it runs on a
``file://`` root, and that a missing base fails loudly instead of
re-admitting the seen set."""

import os
import re
import shutil
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from news_crawler_spark import schemas, synth
from news_crawler_spark.engine import CrawlEngine
from news_crawler_spark.functions.urls import with_url_columns
from news_crawler_spark.operators.seen_set import (
    dedup_first_wins,
    ingest_batch,
    unseen_only,
)


def _round_dirs(wd: str, table: str) -> list[str]:
    d = os.path.join(wd, table)
    if not os.path.isdir(d):
        return []
    return sorted(x for x in os.listdir(d) if x.startswith("round="))


def _seen_urls(eng: CrawlEngine) -> set[str]:
    latest = eng.catalog.latest_round()
    return {r.canonical_url for r in eng._read_seen_keys(latest).collect()}


def _files(path: str) -> dict[str, tuple[int, float]]:
    return {
        os.path.join(r, f): (
            os.path.getsize(os.path.join(r, f)),
            os.path.getmtime(os.path.join(r, f)),
        )
        for r, _d, fs in os.walk(path)
        for f in fs
    }


# ------------------------------------------------------------ seen check unit
def test_store_unseen_no_state_falls_back_exact(spark, tmp_path):
    """With no seen state yet (round 0) the check must not declare the
    whole batch new: ``ingest_batch(cand, None)`` is still the exact
    first-wins dedup, identical to the anti-join against an empty seen
    set; and an engine with no committed state refuses an incremental
    ingest instead of admitting everything."""
    cand = with_url_columns(synth.build_seed_list(spark, 300), "url")
    key = lambda df: sorted(  # noqa: E731
        (r.url_hash, r.canonical_url, r.url)
        for r in df.select("url_hash", "canonical_url", "url").collect()
    )
    no_state = ingest_batch(cand, None)
    empty = spark.createDataFrame([], "url_hash long, canonical_url string")
    assert key(no_state) == key(ingest_batch(cand, empty))
    assert key(no_state) == key(dedup_first_wins(cand))
    n = no_state.count()
    assert n == no_state.select("canonical_url").distinct().count()
    assert 0 < n < 300  # the synth seeds carry canonical duplicates

    eng = CrawlEngine(spark, str(tmp_path / "fresh"))
    with pytest.raises(RuntimeError, match="ingest"):
        eng.ingest_incremental(synth.build_seed_list(spark, 50))


# ---------------------------------------------------------- fold / compaction
def test_fold_writes_only_delta_bytes(spark, tmp_path):
    """An incremental ingest is O(|batch|) I/O on the seen side: it
    writes a delta for the new keys only, and the base snapshot is left
    untouched (same files, sizes and mtimes — not rewritten)."""
    wd = str(tmp_path / "fold")
    eng = CrawlEngine(spark, wd, compact_every=100)
    eng.ingest(synth.build_seed_list(spark, 3000))
    base_dir = os.path.join(wd, "seen_keys", "round=0")
    before = _files(base_dir)
    assert before
    n = eng.ingest_incremental(synth.build_seed_list(spark, 3060))
    assert n > 0
    assert _files(base_dir) == before
    assert _round_dirs(wd, "seen_keys") == ["round=0"]
    assert _round_dirs(wd, "seen_keys_delta") == ["round=1"]
    delta = eng.catalog.read("seen_keys_delta", 1)
    assert delta.count() == n
    base_bytes = sum(s for s, _t in before.values())
    delta_bytes = sum(
        s for s, _t in _files(os.path.join(wd, "seen_keys_delta", "round=1")).values()
    )
    assert 0 < delta_bytes < base_bytes / 10, (delta_bytes, base_bytes)


def test_engine_triggers_filter_rebuild_on_overflow(spark, tmp_path_factory):
    """The seen_keys base is rebuilt through the ENGINE once the deltas
    since the last base would reach ``compact_every``: with
    compact_every=3, ingests 1 and 2 write deltas, ingest 3 writes a new
    base holding base ⊕ both deltas ⊕ its own keys, and the superseded
    snapshots are pruned after the commit. Admission stays exact."""
    wd = str(tmp_path_factory.mktemp("rebuild"))
    eng = CrawlEngine(spark, wd, compact_every=3)
    eng.ingest(synth.build_seed_list(spark, 200))
    for i in (1, 2):
        eng.ingest_incremental(synth.build_seed_list(spark, 200 + 30 * i))
        assert _round_dirs(wd, "seen_keys") == ["round=0"]
    assert _round_dirs(wd, "seen_keys_delta") == ["round=1", "round=2"]
    eng.ingest_incremental(synth.build_seed_list(spark, 290))
    assert _round_dirs(wd, "seen_keys") == ["round=3"]
    assert _round_dirs(wd, "seen_keys_delta") == []
    base = {r.canonical_url for r in eng.catalog.read("seen_keys", 3).collect()}
    admitted = {
        r.canonical_url
        for r in eng.catalog.read("pending", 3).select("canonical_url").collect()
    }
    assert base == admitted
    # still exact after the rebuild: full redelivery admits nothing
    assert eng.ingest_incremental(synth.build_seed_list(spark, 290)) == 0


def test_engine_seen_keys_bounded_and_correct(spark, tmp_path_factory):
    """After many incremental ingests the seen_keys table stays at one
    base + <compact_every deltas (old deltas pruned post-commit), and its
    content is exactly the admitted canonical-key set."""
    wd = str(tmp_path_factory.mktemp("sk"))
    eng = CrawlEngine(spark, wd, compact_every=3)
    eng.ingest(synth.build_seed_list(spark, 200))
    for i in range(1, 8):
        eng.ingest_incremental(synth.build_seed_list(spark, 200 + 30 * i))
    assert len(_round_dirs(wd, "seen_keys_delta")) < 3
    # compaction fired (base moved past round 0) and superseded bases
    # were pruned — exactly one base remains
    base_dirs = _round_dirs(wd, "seen_keys")
    assert base_dirs != ["round=0"] and len(base_dirs) == 1, base_dirs
    latest = eng.catalog.latest_round()
    got = {r.canonical_url for r in eng._read_seen_keys(latest).collect()}
    want = {
        r.canonical_url
        for r in eng.catalog.read("pending", latest)
        .select("canonical_url")
        .collect()
    }
    assert got == want and len(got) > 300  # 410 seeds minus canonical dups


def _cursor_rows(admitted):
    """Spark reference for the cursors: per source, ``max_by`` of the
    link under ``struct(published_ts, url_hash)`` over ALL admitted rows."""
    pick = F.max_by(
        F.struct(
            F.col("canonical_url").alias("last_url"), "published_ts", "url_hash"
        ),
        F.struct("published_ts", "url_hash"),
    ).alias("__c")
    return admitted.groupBy("source").agg(pick).select("source", "__c.*")


def test_engine_cursor_fold_matches_full_recompute(spark, tmp_path_factory):
    """The per-source cursors folded poll by poll (prev ⊕ batch max, on
    the driver) equal a full Spark recompute over the pending slice they
    describe, after every poll. One poll carries the order's edge cases:
    a null ``published_ts`` (loses to any real one; the only link of a
    new source still becomes its cursor), two links of one source at one
    new timestamp (``url_hash`` picks), and links at the very timestamp
    of a source's current cursor (prev against batch by ``url_hash``)."""
    wd = str(tmp_path_factory.mktemp("cur"))
    eng = CrawlEngine(spark, wd)
    eng.ingest(synth.build_seed_list(spark, 150))

    def folded_equals_full() -> dict:
        latest = eng.catalog.latest_round()
        folded = {
            r.source: (r.last_url, r.published_ts, r.url_hash)
            for r in eng.catalog.read("cursors", latest).collect()
        }
        full = {
            r.source: (r.last_url, r.published_ts, r.url_hash)
            for r in _cursor_rows(eng.catalog.read("pending", latest)).collect()
        }
        assert folded == full and len(folded) > 0
        return folded

    eng.ingest_incremental(synth.build_seed_list(spark, 260))
    before = folded_equals_full()
    newest = max(ts for _u, ts, _h in before.values())
    tie = before["tasnim"][1]
    disc = datetime(2024, 6, 1)

    def row(source, url, ts):
        return {"source": source, "url": url, "published_ts": ts, "discovery_time": disc}

    edge = [
        row("isna", "https://www.isna.ir/news/99000001/null-ts", None),
        row("fresh", "https://www.isna.ir/news/99000002/only-null", None),
        row("irna", "https://www.irna.ir/news/99000003/same-ts-a", newest + timedelta(days=1)),
        row("irna", "https://www.irna.ir/news/99000004/same-ts-b", newest + timedelta(days=1)),
    ] + [
        row("tasnim", f"https://www.tasnimnews.com/fa/news/1403/01/01/9900001{k}/at-cursor-ts", tie)
        for k in range(6)
    ]
    assert eng.ingest_incremental(spark.createDataFrame(edge, schemas.SEED_LIST)) == len(edge)
    after = folded_equals_full()
    assert after["isna"] == before["isna"]  # the null timestamp lost
    assert after["fresh"][0].endswith("/only-null") and after["fresh"][1] is None
    assert "same-ts" in after["irna"][0]
    # the tie with the old cursor was live: a new link won it on url_hash
    assert after["tasnim"][1] == tie and after["tasnim"][0].endswith("at-cursor-ts")

    eng.ingest_incremental(synth.build_seed_list(spark, 300))
    folded_equals_full()


def test_engine_done_compaction_bounds_dirs(spark, tmp_path_factory):
    """Step rounds fold `done` into done_base on the compact_every
    cadence; per-round delta dirs at or before the base are pruned, and
    final_frontier still matches the uncompacted truth (row counts by
    status checked against a twin with compaction effectively off)."""
    seeds = synth.build_seed_list(spark, 300)
    wd = str(tmp_path_factory.mktemp("dc"))
    eng = CrawlEngine(spark, wd, compact_every=3)
    eng.ingest(seeds)
    eng.run(max_rounds=7)
    assert len(_round_dirs(wd, "done")) <= 3  # deltas since the last base only
    assert os.path.isdir(os.path.join(wd, "done_base"))

    wd2 = str(tmp_path_factory.mktemp("dc_off"))
    eng2 = CrawlEngine(spark, wd2, compact_every=100)
    eng2.ingest(seeds)
    eng2.run(max_rounds=7)
    by_status = lambda e: {  # noqa: E731
        (r.status, r["count"])
        for r in e.final_frontier().groupBy("status").count().collect()
    }
    assert by_status(eng) == by_status(eng2)


# --------------------------------------------------------------------- probe
def test_probe_plan_never_moves_state(spark, tmp_path_factory):
    """The seen probe of an incremental ingest reads the seen_keys base ⊕
    its deltas and nothing else: after crawl rounds have written done and
    pending snapshots, no file of the crawl state enters the probe's
    plan, and it touches at most compact_every seen_keys snapshots."""
    wd = str(tmp_path_factory.mktemp("probe_plan"))
    eng = CrawlEngine(spark, wd, compact_every=3)
    eng.ingest(synth.build_seed_list(spark, 150))
    eng.run(max_rounds=2)
    eng.ingest_incremental(synth.build_seed_list(spark, 190))
    eng.ingest_incremental(synth.build_seed_list(spark, 230))
    prev = eng.catalog.latest_round()
    assert _round_dirs(wd, "done") and _round_dirs(wd, "pending")

    cand = with_url_columns(synth.build_seed_list(spark, 270), "url")
    probe = ingest_batch(cand, eng._read_seen_keys(prev))
    want = probe.count()
    files = probe.inputFiles()
    assert files
    tables = {f.split("/round=")[0].rsplit("/", 1)[-1] for f in files}
    assert tables <= {"seen_keys", "seen_keys_delta"}, tables
    snapshots = {re.sub(r"(/round=\d+)/.*", r"\1", f) for f in files}
    assert len(snapshots) <= eng.compact_every, snapshots
    # the probe is the exact admission: it equals the next ingest
    assert eng.ingest_incremental(synth.build_seed_list(spark, 270)) == want > 0


def test_probe_fails_loudly_when_base_invisible(spark, tmp_path):
    """A seen probe that cannot see the base snapshot must RAISE, not
    report everything unseen (that would re-admit the crawled set):
    plan a probe, yank the base dir out from under it, then run it; and
    an engine whose base is gone refuses to ingest."""
    wd = tmp_path / "vanish"
    eng = CrawlEngine(spark, str(wd))
    eng.ingest(synth.build_seed_list(spark, 200))
    cand = with_url_columns(synth.build_seed_list(spark, 260), "url")
    probe = unseen_only(dedup_first_wins(cand), eng._read_seen_keys(0))
    shutil.move(str(wd / "seen_keys"), str(wd / "gone"))
    with pytest.raises(Exception, match="(?i)exist|not found|FileNotFound"):
        probe.count()
    with pytest.raises(RuntimeError, match="no seen_keys base"):
        CrawlEngine(spark, str(wd)).ingest_incremental(
            synth.build_seed_list(spark, 260)
        )


# ---------------------------------------------------- restart / attach / crash
def test_engine_prefilter_state_survives_restart(spark, tmp_path_factory):
    """A fresh engine instance on the same workdir — after crawl rounds
    and a poll — checks links against the PERSISTED seen state: full
    redelivery admits 0, and the next batch admits exactly what an
    uninterrupted twin admits."""
    def first_half(wd):
        eng = CrawlEngine(spark, wd)
        eng.ingest(synth.build_seed_list(spark, 250))
        eng.run(max_rounds=2)
        eng.ingest_incremental(synth.build_seed_list(spark, 330))
        return eng

    wd = str(tmp_path_factory.mktemp("restart"))
    first_half(wd)

    eng2 = CrawlEngine(spark, wd)
    assert eng2.ingest_incremental(synth.build_seed_list(spark, 330)) == 0
    n = eng2.ingest_incremental(synth.build_seed_list(spark, 380))

    ref = first_half(str(tmp_path_factory.mktemp("restart_ref")))
    n_ref = ref.ingest_incremental(synth.build_seed_list(spark, 380))
    assert n == n_ref > 0
    assert _seen_urls(eng2) == _seen_urls(ref)


def test_engine_attach_prefilter_to_existing_catalog(spark, tmp_path_factory):
    """An engine attached to a catalog written with a different compaction
    cadence reads the base ⊕ deltas that catalog holds — it never
    assumes its own cadence — so it re-admits none of the historical
    seen set and keeps folding onto it exactly."""
    def history(wd, compact_every):
        eng = CrawlEngine(spark, wd, compact_every=compact_every)
        eng.ingest(synth.build_seed_list(spark, 200))
        for hi in (230, 260, 290):
            eng.ingest_incremental(synth.build_seed_list(spark, hi))
        return eng

    wd = str(tmp_path_factory.mktemp("attach"))
    history(wd, compact_every=2)
    assert _round_dirs(wd, "seen_keys") != ["round=0"]  # compacted base
    assert _round_dirs(wd, "seen_keys_delta")  # ... with a live delta on it

    eng2 = CrawlEngine(spark, wd, compact_every=8)
    assert eng2.ingest_incremental(synth.build_seed_list(spark, 290)) == 0
    n = eng2.ingest_incremental(synth.build_seed_list(spark, 320))

    ref = history(str(tmp_path_factory.mktemp("attach_ref")), compact_every=8)
    assert n == ref.ingest_incremental(synth.build_seed_list(spark, 320)) > 0
    assert _seen_urls(eng2) == _seen_urls(ref)


def test_streaming_ingest_with_persistent_filter(spark, tmp_path_factory):
    """A poll of a freshly started engine checks a landed seed batch
    against the seen state persisted by an earlier instance: it admits
    the same set as an uninterrupted twin, and redelivering the same
    batch admits nothing and leaves pending as it was."""
    def history(wd):
        eng = CrawlEngine(spark, wd)
        eng.ingest(synth.build_seed_list(spark, 200))
        eng.ingest_incremental(synth.build_seed_list(spark, 230))
        return eng

    wd = str(tmp_path_factory.mktemp("st_wd"))
    history(wd)
    src = os.path.join(str(tmp_path_factory.mktemp("st_src")), "batch1")
    synth.build_seed_list(spark, 260).coalesce(1).write.mode("overwrite").parquet(src)

    eng = CrawlEngine(spark, wd)
    assert eng.ingest_incremental(spark.read.parquet(src)) > 0
    after = eng.catalog.latest_round()
    assert after > 1
    n_pending = eng.catalog.read("pending", after).count()

    ref = history(str(tmp_path_factory.mktemp("st_ref")))
    assert ref.ingest_incremental(synth.build_seed_list(spark, 260)) > 0
    assert _seen_urls(eng) == _seen_urls(ref)

    assert eng.ingest_incremental(spark.read.parquet(src)) == 0  # the replay
    latest = eng.catalog.latest_round()
    assert latest > after  # ... ran ...
    assert eng.catalog.read("pending", latest).count() == n_pending  # ... admitting 0
    assert _seen_urls(eng) == _seen_urls(ref)


def test_engine_crash_mid_compaction_never_readmits(spark, tmp_path_factory):
    """Crash window: an ingest whose seen_keys compaction wrote a new base
    at its round, then died before the commit. That base is an
    uncommitted dir holding keys never admitted to pending; a fresh
    engine must drop it, so full redelivery admits 0 and the links the
    crashed batch carried are still admitted, exactly as on a clean
    twin."""
    wd = str(tmp_path_factory.mktemp("crash_compact"))
    eng1 = CrawlEngine(spark, wd, compact_every=100)
    eng1.ingest(synth.build_seed_list(spark, 200))
    eng1.ingest_incremental(synth.build_seed_list(spark, 260))
    committed = eng1.catalog.latest_round()

    # mimic the in-flight ingest of the 320-seed batch: its compaction
    # (forced now) writes a seen_keys base at the uncommitted round, and
    # then the process dies before pending or the commit marker land
    crash_round = committed + 1
    eng1.compact_every = 1
    in_flight = with_url_columns(synth.build_seed_list(spark, 320), "url")
    eng1._write_seen_keys(
        crash_round,
        in_flight.select("url_hash", "canonical_url"),
        eng1._read_seen_keys(committed),
    )
    assert eng1.catalog.exists("seen_keys", crash_round)
    assert eng1.catalog.latest_round() == committed
    del eng1

    eng2 = CrawlEngine(spark, wd, compact_every=100)
    # full redelivery of everything committed: zero re-admissions
    assert eng2.ingest_incremental(synth.build_seed_list(spark, 260)) == 0
    # and the crashed batch's genuinely new links still get through
    n = eng2.ingest_incremental(synth.build_seed_list(spark, 320))

    ref = CrawlEngine(spark, str(tmp_path_factory.mktemp("crash_ref")))
    ref.ingest(synth.build_seed_list(spark, 200))
    ref.ingest_incremental(synth.build_seed_list(spark, 260))
    assert n == ref.ingest_incremental(synth.build_seed_list(spark, 320)) > 0
    assert _seen_urls(eng2) == _seen_urls(ref)


# ------------------------------------------------------- storage portability
def test_engine_end_to_end_on_file_uri_root(spark, tmp_path):
    """Full engine run (ingest → crawl → views) with the catalog root
    given as a file:// URI gives the same pops as a plain path — pins
    that the commit markers, base+delta folding, GC pruning and accreted
    reads all go through fsio."""
    wd_plain = str(tmp_path / "plain")
    wd_uri = "file://" + str(tmp_path / "uri")
    results = {}
    for wd in (wd_plain, wd_uri):
        eng = CrawlEngine(spark, wd)
        eng.ingest(synth.build_seed_list(spark, 150))
        eng.run()
        results[wd] = sorted(
            (r.round, r.url_hash)
            for r in eng.pops_in_order().select("round", "url_hash").collect()
        )
    assert results[wd_uri] == results[wd_plain]
    assert len(results[wd_uri]) > 0
