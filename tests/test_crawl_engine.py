"""End-to-end crawl fixtures: seen-set, ordering, spans, state machine,
resume — Spark engine vs the pure-Python reference-semantics oracle
(FIXTURES.md §3 contracts 1-4)."""

import pytest
from pyspark.sql import functions as F

from news_crawler_spark import oracle, synth
from news_crawler_spark.engine import CrawlEngine
from news_crawler_spark.schemas import STATUS_COMPLETED, STATUS_FAILED, STATUS_PENDING

N_SEED = 400


@pytest.fixture(scope="module")
def seed_rows():
    return [synth.seed_row(i) for i in range(N_SEED)]


@pytest.fixture(scope="module")
def oracle_result(seed_rows):
    return oracle.crawl(seed_rows)


@pytest.fixture(scope="module")
def engine_run(spark, tmp_path_factory, seed_rows):
    wd = str(tmp_path_factory.mktemp("engine"))
    eng = CrawlEngine(spark, wd)
    eng.ingest(synth.build_seed_list(spark, N_SEED))
    stats = eng.run()
    return eng, stats


def test_seed_generator_matches_spark_side(spark, seed_rows):
    df = synth.build_seed_list(spark, N_SEED).orderBy("discovery_time").collect()
    assert len(df) == N_SEED
    for got, want in zip(df, seed_rows):
        assert got.url == want["url"]
        assert got.source == want["source"]
        assert got.published_ts == want["published_ts"]


def test_url_seen_set_exact_match(engine_run, oracle_result):
    """Contract 1: engine's admitted canonical set == oracle's (first wins)."""
    eng, _ = engine_run
    # the admitted set survives in the live frontier (pending ∪ done);
    # the round-0 pending snapshot itself is GC'd once superseded
    frontier = eng.final_frontier()
    got = {r.canonical_url for r in frontier.select("canonical_url").collect()}
    assert got == set(oracle_result.seen.keys())
    # first-discovered wins: spot-check discovery times match the oracle's
    disc = {r.canonical_url: r.discovery_time for r in
            frontier.select("canonical_url", "discovery_time").collect()}
    for cu, e in oracle_result.seen.items():
        assert disc[cu] == e.discovery_time, f"wrong winner for {cu}"


def test_crawl_ordering_exact_match(engine_run, oracle_result):
    """Contract 2: the (round, host, url) pop sequence matches exactly."""
    eng, _ = engine_run
    got = [(r.round, r.host, r.canonical_url)
           for r in eng.pops_in_order().collect()]
    want = sorted(
        oracle_result.pops,
        key=lambda p: (p[0], p[1]),
    )  # stable: within (round, host) oracle order is already the pop order
    assert len(got) == len(want)
    assert got == want


def test_final_state_machine(engine_run, oracle_result):
    """Retry semantics: completed/failed/tried_count match the oracle."""
    eng, _ = engine_run
    rows = eng.final_frontier().select(
        "canonical_url", "status", "tried_count"
    ).collect()
    got = {r.canonical_url: (r.status, r.tried_count) for r in rows}
    robots = synth.robots_rows()
    for cu, e in oracle_result.seen.items():
        if not oracle._robots_allows(robots, e.host, cu):
            # robots-denied URLs stay pending forever (never popped)
            assert got[cu] == (STATUS_PENDING, 0)
        else:
            assert got[cu] == (e.status, e.tried_count), cu
    assert len(got) == len(oracle_result.seen)
    # failure injection really exercised both branches
    statuses = {s for s, _ in got.values()}
    assert STATUS_COMPLETED in statuses and STATUS_FAILED in statuses


def test_span_sequence_equality(engine_run, oracle_result):
    """Contract 3: per-document spans match the independent oracle extractor
    on (kind, text, media_ref, order)."""
    eng, _ = engine_run
    got_docs = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in eng.documents().select("doc_id", "spans").collect()
    }
    want_docs = {d[0]: d[2] for d in oracle_result.docs}
    assert set(got_docs) == set(want_docs)
    for doc_id, want in want_docs.items():
        assert got_docs[doc_id] == want, f"span mismatch in {doc_id}"
    # interleaving is real: some doc has both kinds
    assert any(
        {k for k, *_ in spans} == {"text", "image"} for spans in got_docs.values()
    )


def test_lineage_totals(engine_run, oracle_result):
    eng, _ = engine_run
    got = eng.lineage().agg(
        F.sum("popped").alias("p"), F.sum("fetched_ok").alias("ok"),
        F.sum("fetched_fail").alias("fail"), F.sum("marked_failed").alias("mf"),
    ).collect()[0]
    want_p = sum(l[2] for l in oracle_result.lineage)
    want_ok = sum(l[3] for l in oracle_result.lineage)
    want_fail = sum(l[4] for l in oracle_result.lineage)
    want_mf = sum(l[5] for l in oracle_result.lineage)
    assert (got.p, got.ok, got.fail, got.mf) == (want_p, want_ok, want_fail, want_mf)


def test_resume_equals_uninterrupted(spark, seed_rows, engine_run, tmp_path_factory):
    """Contract 4: stop after 2 rounds, resume with a fresh engine →
    identical pop log and final frontier."""
    eng_full, _ = engine_run
    wd = str(tmp_path_factory.mktemp("resume"))
    eng1 = CrawlEngine(spark, wd)
    eng1.ingest(synth.build_seed_list(spark, N_SEED))
    eng1.step(1)
    eng1.step(2)
    # simulate a crash: partially written round 3 without commit
    eng1.catalog.write("pops", 3, eng1.catalog.read("pops", 2))
    del eng1
    eng2 = CrawlEngine(spark, wd)
    eng2.run()
    got = [(r.round, r.host, r.canonical_url) for r in eng2.pops_in_order().collect()]
    want = [(r.round, r.host, r.canonical_url) for r in eng_full.pops_in_order().collect()]
    assert got == want
    f1 = {(r.canonical_url, r.status, r.tried_count)
          for r in eng_full.final_frontier().collect()}
    f2 = {(r.canonical_url, r.status, r.tried_count)
          for r in eng2.final_frontier().collect()}
    assert f1 == f2


def test_incremental_ingest_dedups(spark, engine_run):
    """ST2/ST3: re-delivered links are absorbed; only new URLs admitted.
    Batches admitted after the crawl quiesced are crawled by the next
    ``run`` to the oracle's final state of every batch crawled as one,
    also when each call runs in a fresh engine on the workdir (a kill
    between the calls)."""
    eng, _ = engine_run
    redelivered = synth.build_seed_list(spark, 50)  # all already seen
    n = eng.ingest_incremental(redelivered)
    assert n == 0
    fresh = synth.build_seed_list(spark, N_SEED + 40).filter(
        F.col("discovery_time")
        >= F.lit(synth.seed_row(N_SEED)["discovery_time"])
    )
    n2 = eng.ingest_incremental(fresh)
    # the 40 new indexes contain some duplicates of earlier articles
    assert 0 < n2 <= 40
    eng.run()
    # every robots-allowed URL drained; only denied ones may stay pending
    from news_crawler_spark.operators import frontier as fops
    left = fops.allowed_by_robots(
        fops.eligible(eng.catalog.read("pending", eng.catalog.latest_round())),
        eng.robots,
    ).count()
    assert left == 0

    later = synth.build_seed_list(spark, N_SEED + 80, lo=N_SEED + 40)
    assert CrawlEngine(spark, eng.catalog.root).ingest_incremental(later) > 0
    last = CrawlEngine(spark, eng.catalog.root)
    last.run()
    rows = last.final_frontier().select("canonical_url", "status", "tried_count")
    got = {r.canonical_url: (r.status, r.tried_count) for r in rows.collect()}
    seen = oracle.crawl([synth.seed_row(i) for i in range(N_SEED + 80)]).seen
    assert got == {cu: (e.status, e.tried_count) for cu, e in seen.items()}


def test_poll_cycle_scans_no_python_rdd(spark, tmp_path_factory):
    """A poll cycle (``ingest_incremental`` + ``step``) on an engine given
    list-built robots and politeness tables: no executed plan scans a
    python RDD (each such scan starts python workers per task), and the
    cycle stays within 32 Spark jobs — the per-round tiny tables are
    built on the driver, not by a Spark job each."""
    from test_plans import executed_plans, jobs_of

    wd = str(tmp_path_factory.mktemp("poll_jobs"))
    eng = CrawlEngine(
        spark,
        wd,
        robots=spark.createDataFrame(synth.robots_rows()),
        politeness=spark.createDataFrame(synth.politeness_rows()),
    )
    eng.ingest(synth.build_seed_list(spark, 300))
    eng.step(1)

    def cycle():
        admitted = eng.ingest_incremental(synth.build_seed_list(spark, 500, lo=200))
        return admitted, eng.step(eng.catalog.latest_round() + 1)

    (admitted, stats), jobs = jobs_of(spark, cycle)
    assert admitted > 0 and stats.popped > 0
    plans = executed_plans(spark, jobs)
    assert plans and not [p for p in plans if "ExistingRDD" in p]
    assert len(jobs) <= 32, len(jobs)


def test_first_wins_dedup_nulls_lose(spark):
    """A NULL discovery_time must LOSE first-wins dedup (asc_nulls_last),
    not win via struct comparison's nulls-first field ordering."""
    from datetime import datetime

    from news_crawler_spark.operators.seen_set import dedup_first_wins

    batch = spark.createDataFrame(
        [
            (1, "https://h/a", "https://h/a", None),
            (1, "https://h/a", "https://h/a", datetime(2024, 6, 1)),
            (2, "https://h/b", "https://h/b", None),
        ],
        "url_hash long, canonical_url string, url string, discovery_time timestamp",
    )
    got = {r.url_hash: r.discovery_time for r in dedup_first_wins(batch).collect()}
    assert got[1] == datetime(2024, 6, 1)   # real timestamp beats NULL
    assert got[2] is None                    # all-NULL group still survives


def test_robots_prefix_matches_oracle_on_rule_boundaries(spark):
    """The prefix robots matcher keeps exactly the oracle's survivors
    (longest match wins, allow wins a tie, no match allows) over a seed
    frontier plus probes on every synth host's rule boundaries."""
    from news_crawler_spark.functions.urls import with_url_columns
    from news_crawler_spark.operators.frontier import allowed_by_robots

    seeds = with_url_columns(synth.build_seed_list(spark, 400), "url")
    # rule-boundary probes next to the seeds: exact prefix, inside,
    # sibling that only shares the characters, and the deep deny
    probes = spark.createDataFrame(
        [
            (host, f"https://{host}{path}")
            for _source, host, _w in synth.SOURCES
            for path in ("/", "/private", "/private/x", "/privatex",
                         "/news/8400001", "/news/84000019/a")
        ],
        "host string, canonical_url string",
    )
    frontier = seeds.select("host", "canonical_url").unionByName(probes)
    robots = synth.robots_df(spark)
    prefix = {r.canonical_url for r in allowed_by_robots(frontier, robots).collect()}
    rows = synth.robots_rows()
    every = {(r.host, r.canonical_url) for r in frontier.collect()}
    assert prefix == {u for h, u in every if oracle._robots_allows(rows, h, u)}
    denied = {u for _h, u in every} - prefix
    assert any("/news/8400001" in u for u in denied)
    assert len(denied) > len(synth.SOURCES)  # every host's /private denied


def test_apportion_budget_hamilton_exact(spark):
    """Largest-remainder apportionment: budgets sum to the total
    exactly, quotas never under-allocate the floor, leftovers go to the
    largest remainders with host tie-break — checked against a python
    twin on a skewed rank vector, plus the all-equal tie edge."""
    from news_crawler_spark.operators import frontier as fops

    ranks = {"h%02d" % i: (i + 1) ** 2 for i in range(17)}
    df = spark.createDataFrame(list(ranks.items()), "host string, rank long")
    total = 103
    got = {r.host: r.budget for r in fops.apportion_budget(df, total).collect()}

    R = sum(ranks.values())
    quota = {h: total * r // R for h, r in ranks.items()}
    rem = {h: total * r % R for h, r in ranks.items()}
    left = total - sum(quota.values())
    plus = sorted(ranks, key=lambda h: (-rem[h], h))[:left]
    want = {h: quota[h] + (1 if h in plus else 0) for h in ranks}
    assert got == want, (got, want)
    assert sum(got.values()) == total

    # all-equal ranks, total not divisible: ties broken by host name
    eq = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 5)], "host string, rank long"
    )
    got_eq = {r.host: r.budget for r in fops.apportion_budget(eq, 10).collect()}
    assert got_eq == {"a": 4, "b": 3, "c": 3}, got_eq


def test_apportioned_budgets_drive_pop_round(spark):
    """Composition: rank → apportion_budget → pop_round. The per-host
    popped counts equal min(budget, pending(host)) and the global pop
    total never exceeds the apportioned ceiling — the g2→T1 loop a
    globally-QPS-capped crawl runs every round."""
    import datetime as dt

    from pyspark.sql import functions as F

    from news_crawler_spark.operators import frontier as fops

    ranks = spark.createDataFrame(
        [("a.example", 60), ("b.example", 30), ("c.example", 10)],
        "host string, rank long",
    )
    budgets = fops.apportion_budget(ranks, 10)
    got_b = {r.host: r.budget for r in budgets.collect()}
    assert got_b == {"a.example": 6, "b.example": 3, "c.example": 1}, got_b

    base = dt.datetime(2024, 1, 1)
    rows = [
        (h, i, base + dt.timedelta(seconds=i))
        for h in ("a.example", "b.example", "c.example")
        for i in range(8)
    ]
    pend = spark.createDataFrame(
        rows, "host string, url_hash long, published_ts timestamp"
    ).select(
        "host",
        "url_hash",
        F.lit(0).cast("int").alias("priority"),
        "published_ts",
        F.lit("pending").alias("status"),
        F.lit(0).alias("tried_count"),
    )
    popped = fops.pop_round(fops.eligible(pend), budgets, salts=4)
    per_host = {
        r.host: r.n
        for r in popped.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert per_host == {"a.example": 6, "b.example": 3, "c.example": 1}, per_host


def test_apportion_budget_empty_and_zero_rank(spark):
    """Empty or all-zero rank input apportions nothing instead of
    raising (the guard a composed pipeline hits when a quality gate
    filters a corpus to zero rows)."""
    from news_crawler_spark.operators import frontier as fops

    empty = spark.createDataFrame([], "host string, rank long")
    assert fops.apportion_budget(empty, 100).count() == 0
    zeros = spark.createDataFrame([("a", 0), ("b", 0)], "host string, rank long")
    got = {r.host: r.budget for r in fops.apportion_budget(zeros, 100).collect()}
    assert got == {"a": 0, "b": 0}
