"""Long-run GC audit (round-4 verdict item 8): after many rounds and
incremental ingests, EVERY state table's snapshot-dir count is bounded by
a function of compact_every alone — never O(rounds). docs is the one
deliberate exception (append-only data product, Iceberg-append analog).

A 10^6-poll deployment that accretes one directory per round per table
dies of metadata long before it dies of data; this pins the contract
that superseded snapshots are pruned post-commit everywhere."""

import os

from news_crawler_spark import synth
from news_crawler_spark.engine import CrawlEngine

COMPACT = 4


def _round_dirs(wd: str, table: str) -> list[str]:
    d = os.path.join(wd, table)
    if not os.path.isdir(d):
        return []
    return [x for x in os.listdir(d) if x.startswith("round=")]


def test_gc_bounded_dirs_long_run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("gc"))
    politeness = spark.createDataFrame(
        [
            {"host": h, "max_per_round": 4, "bucket_capacity": 8}
            for _s, h, _w in synth.SOURCES
        ],
        schema="host string, max_per_round int, bucket_capacity int",
    )
    eng = CrawlEngine(
        spark,
        wd,
        politeness=politeness,
        default_refill=4,
        compact_every=COMPACT,
    )
    eng.ingest(synth.build_seed_list(spark, 500))
    step_rounds = 0
    for burst in range(8):
        step_rounds += len(eng.run(max_rounds=4))
        eng.ingest_incremental(synth.build_seed_list(spark, 520 + 40 * burst))
    total_rounds = eng.catalog.latest_round()
    assert total_rounds >= 35 and step_rounds >= 30  # a real soak, not 3 rounds

    # bounds depend ONLY on compact_every — the boundedness contract
    bounds = {
        "pending": 2,              # newest full slice (+1 transient)
        "done": COMPACT,
        "done_base": 2,
        "pops": COMPACT,
        "pops_base": 2,
        "lineage": COMPACT,
        "lineage_base": 2,
        "tokens": 2,
        "cursors": 2,
        "seen_keys": 2,
        "seen_keys_delta": COMPACT,
    }
    for table, bound in bounds.items():
        dirs = _round_dirs(wd, table)
        assert len(dirs) <= bound, (table, sorted(dirs))
    # docs accretes by design: exactly one snapshot per STEP round
    assert len(_round_dirs(wd, "docs")) == step_rounds
    # total parquet file count across non-docs tables is bounded too
    n_files = sum(
        len(files)
        for t in bounds
        for _root, _dirs, files in os.walk(os.path.join(wd, t))
        if os.path.isdir(os.path.join(wd, t))
    )
    assert n_files < 2500, n_files

    # GC must not have eaten live state: the engine still runs, resumes,
    # and the frontier census is consistent
    assert eng.final_frontier().count() > 0
    resumed = CrawlEngine(
        spark, wd, politeness=politeness, default_refill=4,
        compact_every=COMPACT,
    )
    stats = resumed.run(max_rounds=2)
    assert stats and stats[0].popped > 0
