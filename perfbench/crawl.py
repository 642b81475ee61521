"""``crawl`` workload: a historical batch crawl of a seed list, then a
fresh link poll against the crawled state.

Phase 1 (batch): ``CrawlEngine.ingest`` of a seeded window of the
``synth.seed_row`` sequence (~20% duplicate articles behind dirty URL
variants, ~40% of URLs on one hot host), then one throughput-budget
round. The hot host's budget covers only part of its URLs, so the round
pops over the whole pending slice and leaves a large one to rewrite; the
poll drains it. Reported as ``batch_cpu_ms_per_row`` = CPU of ingest +
round per fetched URL (ok + failed).

Phase 2 (requests): back-to-back poll cycles, one client, at least
``MIN_CYCLES``. A cycle hands a batch to ``ingest_incremental`` (half of
it links already admitted, half the next window of the sequence) and runs
the ``step`` that fetches the batch's new links; it is timed from the
hand-off until that step commits. ``request_cpu_p50_s`` is the median CPU
of a cycle. The batch phase is also the polls' base: the seen set is
several times a batch.

Timings are CPU time of the process tree (``common.tree_cpu_s``); the
wall-clock figures are the ``wall.*`` per-layer metrics.

All inputs are generated from ``--seed`` (it picks the window start
``lo``) and materialized to parquet before the timer starts, so the
timed region holds only engine work. The engine runs with its defaults;
the politeness table is workload input.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path
from urllib.parse import urlsplit

from . import common

# workload size (full runs) ---------------------------------------------------
SIZES = {
    "full": {"seeds": 2000, "batch": 800, "warm": 200},
    "tiny": {"seeds": 240, "batch": 60, "warm": 40},
}
MIN_CYCLES = 1
WARM_LO = 1_000_000  # start of the warm-up window, past every timed one


def window_start(seed: int) -> int:
    """The seed picks ``lo`` in a band small next to the window, so the
    in-window duplicate share (synth duplicates point at any earlier
    article) stays close to the sequence's ~20% for every seed."""
    return 8 * (seed % 64)


def politeness(spark, n_seeds: int):
    """Throughput budgets: every host may pop its whole share in one
    round except the hot host, capped at a quarter of the seed list."""
    from news_crawler_spark import schemas, synth

    hot = max(synth.SOURCES, key=lambda s: s[2])[1]
    rows = []
    for r in synth.politeness_rows():
        b = max(1, n_seeds // 4) if r["host"] == hot else n_seeds
        rows.append({"host": r["host"], "max_per_round": b, "bucket_capacity": b})
    return spark.createDataFrame(rows, schema=schemas.POLITENESS)


def seed_rows(lo: int, hi: int) -> list[dict]:
    """``synth.build_seed_list(spark, hi, lo=lo)``'s rows, generated on
    the driver so the same rows feed both the engine and the checks."""
    from news_crawler_spark import synth

    return [synth.seed_row(i) for i in range(lo, hi)]


def materialize(spark, rows: list[dict], path: Path):
    """Write seed rows as one parquet file (UTC-adjusted timestamps, read
    back as the session's UTC timestamps) and return the engine's view."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from news_crawler_spark import schemas

    path.mkdir(parents=True, exist_ok=True)
    ts = pa.timestamp("us", tz="UTC")
    table = pa.table({
        "source": pa.array([r["source"] for r in rows], pa.string()),
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "published_ts": pa.array([r["published_ts"] for r in rows], ts),
        "discovery_time": pa.array([r["discovery_time"] for r in rows], ts),
    })
    pq.write_table(table, path / "part-0.parquet")
    return spark.read.schema(schemas.SEED_LIST).parquet(str(path))


def canonical_set(rows: list[dict]) -> set[str]:
    from news_crawler_spark.functions.urls import canonicalize_one

    out = set()
    for r in rows:
        cu = canonicalize_one(r["url"])
        if cu is not None:
            out.add(cu)
    return out


def robots_allows(canonical_url: str) -> bool:
    """Longest matching prefix wins, allow beats deny on a tie, no match
    allows — evaluated here independently of the engine."""
    from news_crawler_spark import synth

    parts = urlsplit(canonical_url)
    path = parts.path or "/"
    best = (-1, "allow")
    for r in synth.robots_rows():
        if r["host"] != parts.hostname or not path.startswith(r["path_prefix"]):
            continue
        cand = (len(r["path_prefix"]), r["rule_kind"])
        if cand[0] > best[0] or (cand[0] == best[0] and cand[1] == "allow"):
            best = cand
    return best[1] == "allow"


def poll_rows(lo: int, n_seeds: int, batch: int, c: int) -> list[dict]:
    """Poll batch ``c``: half redelivered links from the batch window,
    half the next unseen window of the sequence."""
    half = batch // 2
    old = lo + (c * half) % max(1, n_seeds - half)
    new_lo = lo + n_seeds + c * half
    return seed_rows(old, old + half) + seed_rows(new_lo, new_lo + half)


def run(spark, work: Path, seed: int, seconds: float, tracer, res: common.Result,
        size_name: str = "full", corrupt: bool = False) -> None:
    from news_crawler_spark.engine import CrawlEngine

    size = SIZES[size_name]
    n, lo = size["seeds"], window_start(seed)
    with common.CpuTimer() as t_setup:
        pol = politeness(spark, n)
        hist_rows = seed_rows(lo, lo + n)
        seed_df = materialize(spark, hist_rows, work / "in" / "hist")
        batch_rows = poll_rows(lo, n, size["batch"], 0)
        batch_df = materialize(spark, batch_rows, work / "in" / "poll0")
        # warm-up: ingest + one round of a small window far from the timed
        # ones, on an engine of its own, so the timed phases run JIT-compiled code
        warm_lo = WARM_LO + lo
        warm = CrawlEngine(spark, str(work / "warm"), politeness=pol)
        warm.ingest(materialize(spark, seed_rows(warm_lo, warm_lo + size["warm"]), work / "in" / "warm"))
        warm.step(1)
        wd = work / "crawl"
        eng = CrawlEngine(spark, str(wd), politeness=pol)
        settle = common.jit_settle(spark)
    res.setup(t_setup)
    res.report.append(f"crawl setup: wall={t_setup.wall:.3f}s cpu={t_setup.cpu:.2f}s jit settle={settle:.1f}s")

    # ---- phase 1: historical batch crawl (timed) -----------------------------
    with tracer.span("historical"), common.CpuTimer() as t_batch:
        res.attempted += 2
        with tracer.span("engine.ingest", jobs=True, walk=wd):
            eng.ingest(seed_df)
        with tracer.span("engine.step", jobs=True, walk=wd):
            round1 = eng.step(1)
    res.metrics["batch_cpu_ms_per_row"] = 1000.0 * t_batch.cpu / round1.popped
    res.metrics["wall.batch_per_s"] = round1.popped / t_batch.wall

    # ---- phase 2: fresh link polls, closed loop (timed per cycle) -------------
    cycles = []  # (latency_s, admitted, ingest_round, step_stats, batch_rows, cpu_s)
    clock = common.Clock(seconds)
    c = 0
    with tracer.span("poll"):
        while c < MIN_CYCLES or not clock.expired():
            res.attempted += 1
            with tracer.span("cycle", cycle=c), common.CpuTimer() as t:
                with tracer.span("engine.ingest_incremental", jobs=True, walk=wd):
                    admitted = eng.ingest_incremental(batch_df)
                r_in = eng.catalog.latest_round()
                with tracer.span("engine.step", jobs=True, walk=wd):
                    st = eng.step(r_in + 1)
            cycles.append((t.wall, admitted, r_in, st, batch_rows, t.cpu))
            c += 1
            if c < MIN_CYCLES or not clock.expired():
                # next batch, generated outside the cycle timer
                batch_rows = poll_rows(lo, n, size["batch"], c)
                batch_df = materialize(spark, batch_rows, work / "in" / f"poll{c}")
    # one link-to-document sample per admitted link, for the tails
    samples = [(lat, cpu) for lat, admitted, *_, cpu in cycles for _ in range(admitted)]
    res.metrics["request_cpu_p50_s"] = statistics.median([c[-1] for c in cycles])
    tail = common.tail_percentile(len(samples))
    res.metrics["request.cpu_tail_s"] = common.percentile([s[1] for s in samples], tail)
    res.metrics["wall.request_p50_s"] = statistics.median([lat for lat, *_ in cycles])
    res.metrics["wall.request_tail_s"] = common.percentile([s[0] for s in samples], tail)
    res.report.append(
        f"crawl: fetched={round1.popped} batch wall={t_batch.wall:.3f}s cpu={t_batch.cpu:.2f}s cycles="
        + ",".join(f"{lat:.3f}s/{cpu:.2f}cpu/{a}" for lat, a, *_, cpu in cycles)
        + f" link_samples={len(samples)} (tail=p{tail}, the highest with >=10 beyond)"
    )

    if tracer.enabled:
        _replay(spark, work, eng, seed_df, cycles, pol, tracer, res, round1, t_batch)

    t_c = time.perf_counter()
    _check(eng, hist_rows, round1, cycles, res, corrupt)
    res.report.append(f"crawl checks: {time.perf_counter() - t_c:.3f}s")


# ------------------------------------------------------------------ checks
def _check(eng, hist_rows, round1, cycles, res, corrupt: bool) -> None:
    from pyspark.sql import functions as F
    from news_crawler_spark import schemas

    seen = canonical_set(hist_rows)
    expected_total = len(seen) + (1 if corrupt else 0)
    lineage = {
        r["round"]: r
        for r in eng.lineage()
        .groupBy("round")
        .agg(
            F.sum("popped").alias("popped"),
            F.sum("fetched_ok").alias("ok"),
            F.sum("fetched_fail").alias("fail"),
        )
        .collect()
    }
    docs = {
        r["fetched_round"]: r["count"]
        for r in eng.documents().groupBy("fetched_round").count().collect()
    }

    def round_ok(s) -> bool:
        lin = lineage.get(s.round_no)
        if s.popped == 0:
            return lin is None or lin["popped"] == 0
        return (
            lin is not None
            and lin["popped"] == s.popped
            and lin["ok"] + lin["fail"] == s.popped
            and lin["ok"] == s.fetched_ok
            and docs.get(s.round_no, 0) == s.fetched_ok
        )

    if not res.check(round_ok(round1), "round 1: popped != ok + failed or docs != ok"):
        res.failed += 1

    new_links: set[str] = set()
    for i, (_lat, admitted, _r, st, rows, _cpu) in enumerate(cycles):
        want = canonical_set(rows) - seen - new_links
        ok = res.check(admitted == len(want), f"poll {i}: admitted {admitted} != expected {len(want)}")
        ok = res.check(round_ok(st), f"poll {i}: step popped != ok + failed or docs != ok") and ok
        new_links |= want
        expected_total += len(want)
        if not ok:
            res.failed += 1

    final = eng.final_frontier()
    agg = final.agg(F.count("*").alias("n"), F.countDistinct("canonical_url").alias("d")).first()
    if not res.check(
        agg["n"] == agg["d"] == expected_total,
        f"final frontier: {agg['n']} rows, {agg['d']} distinct, expected {expected_total}",
    ):
        res.failed += 1

    states = (
        final.filter(F.col("canonical_url").isin(sorted(new_links)) if new_links else F.lit(False))
        .select("canonical_url", "status", "tried_count")
        .collect()
    )
    bad = [
        r["canonical_url"]
        for r in states
        if not (
            r["status"] in (schemas.STATUS_COMPLETED, schemas.STATUS_FAILED)
            or (r["status"] == schemas.STATUS_PENDING and r["tried_count"] >= 1)
            or (r["status"] == schemas.STATUS_PENDING and not robots_allows(r["canonical_url"]))
        )
    ]
    if not res.check(len(states) == len(new_links) and not bad,
                     f"poll links: {len(states)}/{len(new_links)} found, {len(bad)} not fetched"):
        res.failed += 1


# ------------------------------------------------------------------ replay
def _replay(spark, work, eng, seed_df, cycles, pol, tracer, res, round1, t_batch) -> None:
    """Per-layer attribution: one round of the same inputs through each
    layer's public function, each output forced (persisted and counted)
    before the next span starts, so each span holds that layer's work."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from news_crawler_spark import schemas
    from news_crawler_spark.catalog import SnapshotCatalog
    from news_crawler_spark.functions.urls import with_url_columns
    from news_crawler_spark.operators import frontier, seen_set
    from news_crawler_spark.operators.extract import documents_from_fetch_extract
    from news_crawler_spark.operators.fetch import fetch_extract_pages

    held = []

    def force(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        return df, df.count()

    m = res.metrics
    with tracer.span("replay"):
        with tracer.span("functions.urls", jobs=True):
            cand, n_cand = force(with_url_columns(seed_df, "url"))
        with tracer.span("seen_set.dedup", jobs=True):
            fresh, _ = force(seen_set.dedup_first_wins(cand))
        pending, _ = force(fresh.select(
            "url", "canonical_url", "url_hash", "host", "source",
            F.pmod(F.col("url_hash"), F.lit(3)).cast("int").alias("priority"),
            "published_ts", "discovery_time",
            F.lit(schemas.STATUS_PENDING).alias("status"),
            F.lit(0).alias("tried_count"),
            F.lit(None).cast("int").alias("last_tried_round"),
        ))
        budgets = (
            pending.select("host").distinct()
            .join(pol, "host", "left")
            .select("host", F.least("bucket_capacity", "max_per_round").alias("budget"))
        )
        salts = frontier.salts_for_budget(pol.agg(F.max("bucket_capacity")).first()[0])
        with tracer.span("frontier.pop", jobs=True):
            eligible = frontier.eligible(pending)
            allowed = frontier.allowed_by_robots(eligible, eng.robots)
            popped, n_popped = force(frontier.pop_round(allowed, budgets, salts=salts))
        denied = eligible.count() - allowed.count()
        # the engine sizes its fetch stage by rows: ~500 per task, <= 2 x cores
        parts = max(1, min(2 * spark.sparkContext.defaultParallelism, (n_popped + 499) // 500))
        with tracer.span("fetch", jobs=True):
            fetched, _ = force(fetch_extract_pages(popped, partitions=parts))
        n_ok = fetched.filter("ok").count()
        with tracer.span("extract", jobs=True):
            docs, n_docs = force(documents_from_fetch_extract(fetched))
        spans_per_doc = docs.agg(F.avg(F.size("spans"))).first()[0] or 0.0
        cat_dir = work / "replay-catalog"
        with tracer.span("catalog.write", jobs=True, walk=cat_dir):
            SnapshotCatalog(spark, str(cat_dir)).write("docs", 1, docs)

        # the seen anti-join of the first poll, against the seen keys the
        # engine held before that poll (base + deltas committed before it)
        first_round = cycles[0][2]
        base_r = eng.catalog.latest_existing("seen_keys", first_round - 1)
        seen_df = eng.catalog.read("seen_keys", base_r)
        for r in range(base_r + 1, first_round):
            if eng.catalog.exists("seen_keys_delta", r):
                seen_df = seen_df.unionByName(eng.catalog.read("seen_keys_delta", r))
        poll_df = spark.read.schema(schemas.SEED_LIST).parquet(str(work / "in" / "poll0"))
        poll_fresh, _ = force(seen_set.dedup_first_wins(with_url_columns(poll_df, "url")))
        with tracer.span("seen_set.unseen", jobs=True):
            _, n_unseen = force(seen_set.unseen_only(poll_fresh, seen_df))
    for df in held:
        df.unpersist()

    dur = tracer.duration

    def one(name):
        return dur(tracer.named(name)[0])

    step1, *poll_steps = tracer.named("engine.step")
    incs = tracer.named("engine.ingest_incremental")
    hist_engine = tracer.named("engine.ingest") + [step1]
    poll_engine = incs + poll_steps
    m["functions.urls.s"] = one("functions.urls")
    m["seen_set.dedup.s"] = one("seen_set.dedup")
    m["seen_set.unseen.s"] = one("seen_set.unseen")
    m["seen_set.admit_ratio"] = sum(a for _l, a, *_ in cycles) / sum(len(c[4]) for c in cycles)
    m["frontier.pop.s"] = one("frontier.pop")
    m["frontier.popped_rows"] = n_popped
    m["frontier.robots_denied_rows"] = denied
    m["fetch.s"] = one("fetch")
    m["fetch.urls_per_s"] = n_popped / one("fetch")
    m["fetch.ok_ratio"] = n_ok / n_popped
    m["extract.s"] = one("extract")
    m["extract.spans_per_doc"] = spans_per_doc
    m["catalog.write.s"] = one("catalog.write")
    m["catalog.bytes_written_per_url"] = sum(s["bytes_written"] for s in hist_engine) / round1.popped
    m["catalog.files_written_per_round"] = statistics.median([s["files_written"] for s in hist_engine + poll_engine])
    m["engine.ingest.s"] = one("engine.ingest")
    m["engine.ingest_incremental.s"] = statistics.median([dur(s) for s in incs])
    m["engine.step.s"] = dur(step1)
    m["engine.poll_step.s"] = statistics.median([dur(s) for s in poll_steps])
    layers_r1 = sum(one(x) for x in ("frontier.pop", "fetch", "extract", "catalog.write"))
    m["engine.step_glue_s"] = dur(step1) - layers_r1
    m["engine.jobs_per_round"] = statistics.median([s["jobs"] for s in poll_engine])
    m["engine.stages_per_round"] = statistics.median([s["stages"] for s in poll_engine])
    m["engine.tasks_per_round"] = statistics.median([s["tasks"] for s in poll_engine])
    phases = [tracer.named("historical")[0], tracer.named("poll")[0]]
    m["trace.overhead_share"] = tracer.overhead_s / sum(dur(s) for s in phases)
    res.report.append(
        f"crawl replay: candidates={n_cand} popped={n_popped} ok={n_ok} docs={n_docs} "
        f"unseen={n_unseen} robots_denied={denied}; traced batch_per_s="
        f"{res.metrics['wall.batch_per_s']:.1f} (batch wall {t_batch.wall:.3f}s); round-1 step "
        f"{dur(step1):.3f}s = layers {layers_r1:.3f}s + glue {m['engine.step_glue_s']:.3f}s"
    )
