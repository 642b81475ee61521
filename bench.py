"""Benchmark harness — prints ONE JSON line.

Three sections, mirroring BASELINE.md's targets:

1. headline analytic queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
   local[$SPARK_GRAFT_CPUS] — per-query seconds in "queries";
2. crawl-engine throughput: deterministic synthetic frontier → rounds of
   pop → fetch → extract → MERGE; reports fetched-URLs/sec and
   frontier-ops/sec (the BASELINE.json metric; reference peak is
   ~40-50 pages/sec at 5 processes, news_historical_page_scheduler.py:39);
3. scaling evidence (north rule ≥0.8 from N to 4N executors, evidenced
   in-sandbox as local[8] vs local[32] on the identical fetch+extract
   job): throughput at both + efficiency = thr(4N) / (4 · thr(N)).

Usage: python bench.py            # full run (one JSON line on stdout)
       python bench.py --quick    # sf0.01-sized sanity run
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from news_crawler_spark import analytics, synth  # noqa: E402
from news_crawler_spark.functions.urls import with_url_columns  # noqa: E402
from news_crawler_spark.operators.fetch import fetch_extract_pages  # noqa: E402
from news_crawler_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "a1_count_by_status",
    "a4_daily_pivot",
    "a5_below_median_days",
    "j1_anti_join_unseen",
    "j2_first_wins_dedup",
    "j6_audit_join",
    "j7_broadcast_dims",
    "t1_frontier_pop",
    "t4_latest_cursor",
    "v1_cosine_topk",
    "d1_exact_dedup",
    "d3_minhash_lsh",
    "d4_simhash_pairs",
    "d5_dup_clusters",
    "x1_lang_confusion",
    "x2_quality_by_source",
    "x3_token_stats",
    "x5_winnow_fingerprints",
    "v6_keyword_topk",
    "j9_docs_vectors_reconcile",
    "v7_ts_range_topk",
    "d6_simhash128_pairs",
    "j10_frontier_machine",
    "j11_token_bucket_replay",
    "m1_interleaved_spans",
    "m2_media_pipeline",
    "f1_jalali_calendar",
    "f2_persian_datetime_parse",
    "v8_signlsh_pairs",
    "s4_windowed_rates",
    "x6_stratified_sample",
    "x7_holdout_split",
    "x8_token_packing",
    "x9_decontamination",
    "x10_repetition",
    "x11_pii_scrub",
    "x12_boilerplate",
    "v10_kmeans",
    "v11_pq_adc_topk",
    "v12_ivfpq_topk",
    "x13_bm25",
    "x14_corpus_build",
    "t6_asof_join",
    "t7_range_join",
    "x15_kmv_vocab",
    "a8_sessionization",
    "x16_countmin_heavy",
    "x17_length_quantiles",
    "x31_quantile_sketch",
    "x18_incremental_neardup",
    "a9_rollup",
    "x19_dup_spans",
    "g1_host_rank",
    "x20_substring_strip",
    "x21_semdedup",
    "x22_dsir_select",
    "j14_aimd_budget_replay",
    "g2_budget_apportion",
    "t8_recrawl_schedule",
    "x23_temperature_mixture",
    "x24_gopher_rules",
    "p12_canonical_collapse",
    "x25_unigram_entropy",
    "x26_semdedup_blocked",
    "x27_semantic_clusters",
    "s5_stream_dedup",
    "x28_bigram_logprob",
    "s6_stream_enrich",
    "m3_interleaved_pack",
    "m4_media_integrity",
    "x29_cluster_reps",
    "x30_shard_manifest",
    "s7_stream_stream_join",
    "x32_bpe_pair_counts",
    "x33_bpe_merges",
    "x34_bpe_encode",
    "g3_redirect_resolve",
    "d7_mirror_hosts",
    "c1_crawl_delay",
    "c2_rendezvous_shards",
    "t9_change_rate_recrawl",
    "v13_sq8_topk",
    "g4_anchor_summary",
    "p13_trap_templates",
    "m5_image_neardup",
    "p14_robots_wildcards",
    "p15_registered_domain",
    "f3_surt_key",
    "g5_hits",
    "g6_mirror_clusters",
    "j15_domain_budget_pop",
    "g7_opic_cash",
    "g8_trustrank",
    "g9_crawl_depth",
    "c3_robots_sitemaps",
    "k2_segment_archive",
    "k3_cdx_latest",
    "d8_cdc_chunks",
    "x35_hll_registers",
    "m6_content_sniff",
    "x36_containment",
    "k4_revalidation",
    "k5_snapshot_diff",
    "m7_charset_sniff",
    "c5_drain_eta",
    "t10_sitemap_staleness",
    "p16_dust_rules",
    "g10_connected_components",
    "s8_sitemap_tree",
    "t11_refresh_allocation",
    "x37_ccnet_split",
    "v14_binary_topk",
]

# Gate-replay scaffolds: queries whose wall-clock is dominated by
# multi-round replay/stream-restart scaffolding built to make the
# correctness gate deterministic, not by the operator under test
# (j10/j11 = 4-5 unrolled frontier rounds, s1/s4 = real streaming runs
# with per-batch checkpoints). Reported as their own subtotal so a
# regression in ENGINE operators is never masked by scaffold noise
# (round-4 verdict nit #3).
GATE_REPLAY = {
    "j10_frontier_machine",
    "j11_token_bucket_replay",
    "j14_aimd_budget_replay",
    "s1_stream_cursor_cut",
    "s4_windowed_rates",
    "s5_stream_dedup",
    "s6_stream_enrich",
    "s7_stream_stream_join",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# every section's scratch (crawl workdirs, probe inputs, filter-store
# catalogs) lives under ONE per-run root that main() deletes at exit, so
# a long bench session never accretes state on disk (ADVICE round 4)
_SCRATCH_ROOT: str | None = None


def scratch(prefix: str) -> str:
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="bench_scratch_")
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    out: dict[str, float] = {}
    # warm the JVM/codegen/parquet-footer caches on a throwaway aggregate
    # so the first timed query doesn't absorb ~5s of session warmup
    analytics.load(spark, sf_dir, "orders").groupBy("o_orderstatus").count().count()
    for name in HEADLINE:
        fn = analytics.QUERIES[name]
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        out[name] = round(dt, 3)
        log(f"  {name}: {dt:.2f}s ({n} rows)")
    return out


# headline queries re-run at a synthesized 10× documents/embeddings
# slice — the per-query scale ratio is the evidence for which plans
# grow linearly and which superlinearly (round-4 verdict item 7)
SF1_QUERIES = [
    "d1_exact_dedup",
    "d2_ngram_jaccard",
    "d3_minhash_lsh",
    "d4_simhash_pairs",
    "d6_simhash128_pairs",
    "x1_lang_confusion",
    "x3_token_stats",
    "x5_winnow_fingerprints",
    "v1_cosine_topk",
    "v8_signlsh_pairs",
    "m1_interleaved_spans",
    "x15_kmv_vocab",
    "t6_asof_join",
    "a8_sessionization",
    "x19_dup_spans",
    "g1_host_rank",
    "x21_semdedup",
    "x22_dsir_select",
    "m3_interleaved_pack",
    "x29_cluster_reps",
    "x30_shard_manifest",
    "v11_pq_adc_topk",
    "v12_ivfpq_topk",
    # the BPE pair: x32 is the corpus-scale stage (should scale ~10×),
    # x33 adds the vocab-sized merge loop on top — the x33−x32 gap
    # should be nearly flat across the 10× slice (loop cost is
    # O(|vocab|), and the suffixed shard tokens only grow the vocab ~10×
    # while the corpus grows 10× in rows too)
    "x32_bpe_pair_counts",
    "x33_bpe_merges",
    # the encode pass is corpus-scale (tokenize + broadcast vocab probe +
    # doc_id reassembly shuffle) — should track the 10× row growth
    "x34_bpe_encode",
    # mirror detection: hosts stay fixed (40+40) while each host's
    # content set grows 10× — the content-key self-join must grow
    # linearly (keys stay ≤2-hosted; the df_cap guard bounds fanout)
    "d7_mirror_hosts",
]


def synth_sf1_dir(spark, src_dir: str, copies: int = 10) -> str:
    """A deterministic sf1-shaped slice: ``copies`` shards of the sf0.1
    documents/embeddings. Shard s>0 re-keys ids (+s·10⁶), suffixes every
    TOKEN with the shard digit (so no shingle survives across shards —
    within-shard duplicate structure is preserved exactly, cross-shard
    near-dups are zero, and dup/near-dup pair counts scale ~linearly
    like a real corpus rather than quadratically like naive
    replication), and rotates embedding components by s (preserves
    within-shard cosine geometry, decorrelates shards)."""
    dst = scratch("sf1_")
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    shards = []
    for s in range(copies):
        text = (
            F.col("text")
            if s == 0
            else F.regexp_replace("text", r"(\S+)", f"$1{s}")
        )
        shards.append(
            docs.select(
                (F.col("doc_id") + s * 1_000_000).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
            )
        )
    out = shards[0]
    for sh in shards[1:]:
        out = out.unionByName(sh)
    out.withColumn("n_chars", F.length("text").cast("long")).repartition(
        max(8, spark.sparkContext.defaultParallelism)
    ).write.parquet(f"{dst}/documents.parquet")

    emb = spark.read.parquet(f"{src_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    eshards = []
    for s in range(copies):
        rolled = (
            F.col("embedding")
            if s == 0
            else F.concat(
                F.slice("embedding", s + 1, dim - s), F.slice("embedding", 1, s)
            )
        )
        eshards.append(
            emb.select(
                (F.col("vec_id") + s * 1_000_000).alias("vec_id"),
                rolled.alias("embedding"),
                "label",
            )
        )
    eout = eshards[0]
    for sh in eshards[1:]:
        eout = eout.unionByName(sh)
    eout.write.parquet(f"{dst}/embeddings.parquet")

    # events: 10 shards re-keyed on (event_id, user_id) with ts/type
    # untouched — the key space stays 5 event_types over the same 30
    # days, so per-key densities grow 10× like a real traffic increase
    # (t6's quotes-per-type, a8's users both scale realistically)
    ev = spark.read.parquet(f"{src_dir}/events.parquet")
    vshards = [
        ev.select(
            (F.col("event_id") + s * 10_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + s * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for s in range(copies)
    ]
    vout = vshards[0]
    for sh in vshards[1:]:
        vout = vout.unionByName(sh)
    vout.repartition(max(8, spark.sparkContext.defaultParallelism)).write.parquet(
        f"{dst}/events.parquet"
    )
    return dst


def _v8_tuned(spark, sf_dir: str):
    """v8 with its documented scale rule applied: bits_per_table ≈
    log2(n / target_bucket_occupancy). At FIXED bits the banded join is
    quadratic in bucket occupancy (10× vectors → ~100× candidate pairs
    — measured 34 s at a 5k-vector slice vs 2-3 s at 500), so the
    operator's 100 TB contract is that bucket width tracks corpus size;
    the sf1 probe runs it as contracted and records the bits used."""
    from news_crawler_spark.operators import similarity

    emb = analytics.load(spark, sf_dir, "embeddings")
    bits = similarity.signlsh_bits_for(emb.count())
    return (
        similarity.lsh_cosine_pairs(
            emb, threshold=analytics.V8_COS_THRESHOLD, bits_per_table=bits
        ),
        bits,
    )


def _x21_tuned(spark, sf_dir: str):
    """SemDeDup with its documented scale rule applied: k ≈
    n / target_cell_occupancy, so within-cell pair work stays
    linear·occupancy instead of quadratic-per-cell (the gate's fixed
    k=8 is a correctness shape, not the at-scale contract — same
    argument as _v8_tuned's bits). Returns (df, k)."""
    from news_crawler_spark.operators import similarity

    emb = analytics.load(spark, sf_dir, "embeddings")
    k = max(8, emb.count() // 250)
    return (
        similarity.semdedup(emb, seed_ids=tuple(range(k)), iters=3),
        k,
    )


def sf1_probe(spark, sf_dir: str, baseline: dict[str, float]) -> dict:
    """Run SF1_QUERIES once at the 10× slice; report wall and the ratio
    vs the same query's same-session sf0.1 time (same VM window, so the
    ratio survives day-to-day contention). v8 runs with log-scaled
    bucket bits at BOTH scales (see _v8_tuned) — its fixed-bits HEADLINE
    setting is a correctness-gate shape, not the at-scale contract."""
    import shutil

    dst = synth_sf1_dir(spark, sf_dir)
    out: dict = {}
    try:
        for name in SF1_QUERIES:
            if name in ("v8_signlsh_pairs", "x21_semdedup"):
                tuned = _v8_tuned if name == "v8_signlsh_pairs" else _x21_tuned
                t0 = time.perf_counter()
                df0, size0 = tuned(spark, sf_dir)
                df0.count()
                base = time.perf_counter() - t0
                t0 = time.perf_counter()
                df1, size1 = tuned(spark, dst)
                n = df1.count()
                dt = time.perf_counter() - t0
                out[name] = {
                    "sf1_sec": round(dt, 3),
                    "sf01_sec": round(base, 3),
                    "ratio": round(dt / base, 1),
                    "rows": n,
                    ("bits" if name == "v8_signlsh_pairs" else "k"): [size0, size1],
                }
            else:
                fn = analytics.QUERIES[name]
                base = baseline.get(name)
                if base is None:
                    # not in the HEADLINE — time the sf0.1 side here
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).count()
                    base = round(time.perf_counter() - t0, 3)
                t0 = time.perf_counter()
                n = fn(spark, dst).count()
                dt = time.perf_counter() - t0
                out[name] = {
                    "sf1_sec": round(dt, 3),
                    "sf01_sec": base,
                    "ratio": round(dt / base, 1) if base else None,
                    "rows": n,
                }
            log(f"  sf1 {name}: {out[name]['sf1_sec']}s ({n} rows, "
                f"ratio {out[name]['ratio']})")
    finally:
        shutil.rmtree(dst, ignore_errors=True)
    return out


def _crawl_once(spark, n_seed: int, rounds: int) -> dict[str, float]:
    """One crawl run over a fresh synthetic frontier with wide-open
    politeness budgets (throughput mode: the budget ceiling, not the
    network, is the limit)."""
    import tempfile

    from news_crawler_spark.engine import CrawlEngine

    refill = max(n_seed // (rounds * 3), 1000)
    politeness = spark.createDataFrame(
        [
            {"host": h, "max_per_round": refill, "bucket_capacity": 2 * refill}
            for _s, h, _w in synth.SOURCES
        ],
        schema="host string, max_per_round int, bucket_capacity int",
    )
    wd = scratch("crawl_")
    eng = CrawlEngine(spark, wd, politeness=politeness, default_refill=refill)
    t0 = time.perf_counter()
    eng.ingest(synth.build_seed_list(spark, n_seed))
    t_ingest = time.perf_counter() - t0
    admitted = eng.catalog.read("pending", 0).count()
    t1 = time.perf_counter()
    stats = eng.run(max_rounds=rounds)
    t_rounds = time.perf_counter() - t1
    fetched = sum(s.fetched_ok + s.fetched_fail for s in stats)
    popped = sum(s.popped for s in stats)
    frontier_ops = admitted + popped + fetched  # admits + pops + MERGEs
    log(
        f"  crawl: admitted={admitted} popped={popped} fetched={fetched} "
        f"rounds={len(stats)} ingest={t_ingest:.1f}s rounds_t={t_rounds:.1f}s"
    )
    out = {
        "seed_urls": n_seed,
        "admitted": admitted,
        "fetched": fetched,
        "rounds": len(stats),
        "ingest_sec": round(t_ingest, 2),
        "rounds_sec": round(t_rounds, 2),
        "fetched_urls_per_sec": round(fetched / t_rounds, 1),
        "frontier_ops_per_sec": round(frontier_ops / (t_ingest + t_rounds), 1),
    }
    # free the workdir now — a 1M-seed rep leaves GBs of frontier state,
    # and crawl_bench runs several reps back to back
    shutil.rmtree(wd, ignore_errors=True)
    return out


def crawl_bench(spark, n_seed: int, rounds: int, reps: int = 3) -> dict:
    """Medians of ``reps`` independent crawl runs — this VM's wall clock
    swings ±50% with background steal (the round-2 headline moved −21%/
    +40% across same-code runs), so a single run is noise. The canonical
    fetched_urls_per_sec is the median; per-rep values are kept so a
    contended run is visible instead of silently poisoning the number."""
    import statistics

    runs = [_crawl_once(spark, n_seed, rounds) for _ in range(reps)]
    med = statistics.median(r["fetched_urls_per_sec"] for r in runs)
    by_med = min(runs, key=lambda r: abs(r["fetched_urls_per_sec"] - med))
    out = dict(by_med)
    out["fetched_urls_per_sec"] = med
    out["frontier_ops_per_sec"] = statistics.median(
        r["frontier_ops_per_sec"] for r in runs
    )
    out["reps_urls_per_sec"] = [r["fetched_urls_per_sec"] for r in runs]
    out["reps_rounds_sec"] = [r["rounds_sec"] for r in runs]
    return out


def snowball_bench(
    spark, n_seed: int, universe: int, max_cycles: int = 3
) -> dict:
    """Open-web discovery throughput: seeds → run_snowball for a bounded
    number of cycles against a large synthetic article universe. Reports
    total fetched, discovery cycles run, and fetched-URLs/s INCLUSIVE of
    the per-cycle link-extraction + incremental-ingest cost — the number
    that tells you what snowballing adds on top of the closed-frontier
    crawl (the crawl section's URLs/s is the baseline)."""
    from news_crawler_spark.engine import CrawlEngine
    from news_crawler_spark import synth as _synth

    # throughput-mode politeness (same shape as _crawl_once): the
    # DISCOVERY overhead is what this section measures, not the token
    # bucket ceiling — default budgets would turn each cycle into
    # hundreds of 60-URL rounds
    refill = max(n_seed // 6, 1000)
    politeness = spark.createDataFrame(
        [
            {"host": h, "max_per_round": refill, "bucket_capacity": 2 * refill}
            for _s, h, _w in synth.SOURCES
        ],
        schema="host string, max_per_round int, bucket_capacity int",
    )
    wd = scratch("snowball_")
    eng = CrawlEngine(spark, wd, politeness=politeness, default_refill=refill)
    eng.ingest(_synth.build_seed_list(spark, n_seed))
    admitted0 = eng.final_frontier().count()
    t0 = time.perf_counter()
    stats = eng.run_snowball(
        max_cycles=max_cycles, universe=universe, max_rounds=4
    )
    dt = time.perf_counter() - t0
    fetched = sum(s.fetched_ok + s.fetched_fail for s in stats)
    seen = eng.final_frontier().count()
    return {
        "seed_urls": n_seed,
        "admitted_seeds": admitted0,
        "universe": universe,
        "max_cycles": max_cycles,
        "rounds": len(stats),
        "fetched": fetched,
        "seen_total": seen,
        "discovered": seen - admitted0,
        "wall_sec": round(dt, 2),
        "fetched_urls_per_sec": round(fetched / dt, 1) if dt else None,
    }


def cc_algorithm_ab(spark, reps: int = 2) -> dict:
    """duplicate_clusters backend A/B — measured basis for the
    algorithm-choice guidance in the docstring: min-label propagation
    pays O(diameter) rounds (each one full-edge-list shuffle), the
    two-star recurrence O(log²) contracting rounds. Two graph shapes:
    ``cliques`` = 20k near-dup-style components of ≤6 nodes (diameter
    ~2 — label prop's home turf), ``chain`` = one 3000-node path (the
    redirect/mirror-family shape where label prop needs 3000 rounds and
    is capped here at 60 to keep the arm bounded — the cap itself is
    the finding: the answer comes back WRONG-silent-split, while
    two-star converges exactly)."""
    import statistics
    import warnings

    from news_crawler_spark.operators import dedup as dd

    cliq = spark.range(100_000).select(
        (F.col("id") % 20_000).alias("c"), F.col("id").alias("n")
    ).select(
        (F.col("c") * 10 + F.pmod(F.col("n"), F.lit(5))).alias("a_id"),
        (F.col("c") * 10 + F.pmod(F.col("n") + 1, F.lit(5))).alias("b_id"),
    )
    chain = spark.range(2999).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    out: dict = {}
    for name, pairs in (("cliques", cliq), ("chain", chain)):
        pairs = pairs.localCheckpoint(eager=True)
        for algo in ("label", "twostar"):
            ts = []
            n_out = None
            for _ in range(reps):
                t0 = time.perf_counter()
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore")
                    res = dd.duplicate_clusters(
                        pairs, max_iters=60, algorithm=algo
                    )
                    n_out = res.select("cluster_id").distinct().count()
                ts.append(time.perf_counter() - t0)
            out[f"{name}_{algo}_sec"] = round(statistics.median(ts), 2)
            out[f"{name}_{algo}_clusters"] = n_out
    # the chain is ONE component: label prop at 60 capped rounds leaves
    # it split (clusters > 1), two-star must close it exactly
    out["chain_twostar_exact"] = out["chain_twostar_clusters"] == 1
    return out


def ann_probe(
    spark, n_vectors: int = 200_000, dim: int = 64, n_cells: int = 64, reps: int = 3
) -> dict:
    """Scan-cost evidence for the v9 layout at ANN scale: ``n_vectors``
    synthetic vectors written PARTITIONED by their IVF cell, then
    brute-force cosine top-k (full scan) vs ``ivf_probe_topk`` (dynamic
    partition pruning reads ~1/n_cells of the files) on the SAME table,
    interleaved reps. Cells here are hash-assigned — this probe measures
    the scan-cost mechanics (pruned bytes → pruned wall), not recall;
    recall belongs to the centroid assignment (v5's multiprobe dial)."""
    import statistics

    from news_crawler_spark.operators import similarity

    base = scratch("ann_")

    def gen(it):
        import numpy as np

        for pdf in it:
            ids = pdf["id"].to_numpy()
            # deterministic pseudo-vectors: fract(sin(k)·43758.5453) per
            # (id, j) — bench-only synthesis, nothing oracles it
            k = ids[:, None] * dim + np.arange(dim)[None, :]
            v = np.sin(k.astype(np.float64)) * 43758.5453125
            v = (v - np.floor(v) - 0.5).astype(np.float32)
            yield __import__("pandas").DataFrame(
                {
                    "vec_id": ids,
                    "embedding": list(v),
                    "label": (ids % n_cells).astype("int32"),
                }
            )

    (
        spark.range(n_vectors)
        .repartition(max(8, spark.sparkContext.defaultParallelism))
        .mapInPandas(gen, "vec_id long, embedding array<float>, label int")
        .write.partitionBy("label")
        .parquet(f"{base}/emb")
    )
    part = spark.read.parquet(f"{base}/emb")
    ts_brute, ts_probe = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        similarity.topk_cosine(part, 7, k=10).collect()
        ts_brute.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        similarity.ivf_probe_topk(part, 7, k=10).collect()
        ts_probe.append(time.perf_counter() - t0)
    out = {
        "n_vectors": n_vectors,
        "dim": dim,
        "n_cells": n_cells,
        "brute_sec": round(statistics.median(ts_brute), 2),
        "probe_sec": round(statistics.median(ts_probe), 2),
        "brute_reps": [round(t, 2) for t in ts_brute],
        "probe_reps": [round(t, 2) for t in ts_probe],
    }
    out["speedup"] = round(out["brute_sec"] / out["probe_sec"], 2)
    log(
        f"  ann: brute {out['brute_sec']}s vs pruned probe "
        f"{out['probe_sec']}s ({out['speedup']}x, {n_cells} cells)"
    )
    return out


def semdedup_prune_probe(
    spark, n_small: int = 200_000, dim: int = 64, occupancy: int = 2_500, reps: int = 3
) -> dict:
    """Scale + tier evidence for the SemDeDup prune (x21's pair stage in
    isolation): hash-assigned cells at CONSTANT occupancy (k = n/occ, the
    operator's documented sizing rule).

    Two claims measured: (a) the GEMM tier (semdedup_prune_blocked,
    fixture-pinned bit-identical to the expression tier) doubles in wall
    when the corpus doubles — linear·occupancy, never the fixed-k
    quadratic; (b) the expression tier's interpreted ArrayAggregate
    per-pair cost, measured on a small slice and reported as ns/pair
    next to the GEMM tier's — the reason the blocked tier exists.
    Forcing note: aggregate ``kept`` rather than count() — a bare count
    lets Catalyst ELIMINATE the row-preserving left join and with it
    the entire pair stage (measured 0.4 s for a "125 M-pair" run)."""
    import statistics

    from pyspark.sql import functions as F

    from news_crawler_spark.operators import similarity

    def vectors(n):
        def gen(it):
            import numpy as np

            for pdf in it:
                ids = pdf["id"].to_numpy()
                k = ids[:, None] * dim + np.arange(dim)[None, :]
                v = np.sin(k.astype(np.float64)) * 43758.5453125
                v = (v - np.floor(v) - 0.5).astype(np.float64)
                q = np.floor(v * similarity.SIGNLSH_QUANT + 0.5).astype(np.int64)
                yield __import__("pandas").DataFrame(
                    {
                        "vec_id": ids,
                        "cell": (ids % (n // occupancy)).astype("int64"),
                        "iv": list(q),
                        "n2": (q * q).sum(axis=1),
                    }
                )

        return (
            spark.range(n)
            .repartition(max(8, spark.sparkContext.defaultParallelism))
            .mapInPandas(
                gen, "vec_id long, cell long, iv array<long>, n2 long"
            )
            .localCheckpoint(eager=True)
        )

    def force(df) -> int:
        return int(df.agg(F.sum("kept")).collect()[0][0])

    def pairs_of(n: int) -> int:
        return (n // occupancy) * (occupancy * (occupancy - 1) // 2)

    out: dict = {"occupancy": occupancy, "dim": dim}

    # (b) expression tier on a small slice — per-pair interpretation cost
    n_expr = max(occupancy * 4, 10_000)
    v = vectors(n_expr)
    t0 = time.perf_counter()
    force(similarity.semdedup_prune(v))
    expr_sec = time.perf_counter() - t0
    out["expression_tier"] = {
        "n": n_expr,
        "sec": round(expr_sec, 2),
        "ns_per_pair": round(expr_sec * 1e9 / pairs_of(n_expr), 0),
    }

    # (a) GEMM tier at n and 2n
    walls = {}
    for n in (n_small, 2 * n_small):
        v = vectors(n)
        force(similarity.semdedup_prune_blocked(v))  # warm arrow/codegen
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            force(similarity.semdedup_prune_blocked(v))
            ts.append(time.perf_counter() - t0)
        walls[n] = statistics.median(ts)
        out[f"n{n}"] = {
            "sec": round(walls[n], 2),
            "reps": [round(t, 2) for t in ts],
            "cells": n // occupancy,
            "ns_per_pair": round(walls[n] * 1e9 / pairs_of(n), 1),
        }
    out["ratio_2x"] = round(walls[2 * n_small] / walls[n_small], 2)
    out["tier_speedup_per_pair"] = round(
        out["expression_tier"]["ns_per_pair"]
        / out[f"n{2 * n_small}"]["ns_per_pair"],
        1,
    )
    log(
        f"  semdedup prune (GEMM tier): {out[f'n{n_small}']['sec']}s @ "
        f"{n_small} → {out[f'n{2 * n_small}']['sec']}s @ {2 * n_small} "
        f"(ratio {out['ratio_2x']}x, occ {occupancy}); expression tier "
        f"{out['expression_tier']['ns_per_pair']:.0f} ns/pair vs GEMM "
        f"{out[f'n{2 * n_small}']['ns_per_pair']} ns/pair "
        f"({out['tier_speedup_per_pair']}x)"
    )
    return out


def cosine_pairs_probe(spark, sf_dir: str, reps: int = 3) -> dict:
    """Tier A/B for x27's pair stage (cosine_pairs_int) on the REAL
    embeddings table: the expression tier (integer dup test inside the
    join condition, interpreted ArrayAggregate per candidate) vs the
    blocked GEMM tier (float64 matmul, exact by the <2^53 argument,
    boundary band re-checked in python ints). Same pair set by
    construction — tier identity is fixture-pinned in
    test_pipeline_ops — so this measures pure wall ratio."""
    from news_crawler_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb.localCheckpoint(eager=True)
    out: dict = {"n_vectors": emb.count()}
    for tier in ("expression", "blocked"):
        ts, pairs = [], 0
        for _ in range(reps):
            t0 = time.perf_counter()
            pairs = similarity.cosine_pairs_int(emb, tier=tier).count()
            ts.append(round(time.perf_counter() - t0, 2))
        out[tier] = {"sec": sorted(ts)[len(ts) // 2], "reps": ts, "pairs": pairs}
    out["tier_speedup"] = round(
        out["expression"]["sec"] / max(out["blocked"]["sec"], 1e-9), 1
    )
    log(
        f"  cosine_pairs_int: expression {out['expression']['sec']}s vs "
        f"GEMM {out['blocked']['sec']}s on {out['n_vectors']} vectors "
        f"({out['tier_speedup']}x, {out['expression']['pairs']} pairs)"
    )
    return out


def temporal_join_probe(
    spark,
    n_quotes: int = 60_000,
    n_probes: int = 120_000,
    n_keys: int = 100,
    reps: int = 3,
) -> dict:
    """As-of join design evidence (t6, operators/joins.py), three arms on
    the SAME uniform input: (a) NAIVE - the plan Catalyst gives the
    direct formulation ``join(key AND qts <= pts)`` + max_by: a
    SortMergeJoin whose range residual makes it all-pairs per key
    (~|p_k|*|q_k| comparisons); (b) asof_join (union-tag-window); (c)
    asof_join_bucketed. Then the SKEW cases at skew_scale x that size -
    one key holding 50% and then 95% of both sides, window vs bucketed
    only (the naive hot key would be billions of comparisons; that
    cliff is the point). The two hot fractions bracket the documented
    crossover: bucketing pays ~2x extra shuffle passes, so it loses
    while the hot key still sorts inside one task's budget (50%) and
    wins severalfold once the single hot task dominates wall-clock
    (95% - the regime a 1000-executor cluster with a billion-row hot
    host lives in permanently). Interleaved reps; every arm is forced
    through its match column (count(q_qid)) so the window can't be
    pruned; matched-probe counts asserted equal across same-input arms."""
    import statistics

    from news_crawler_spark.operators import joins

    span = 30 * 86400  # 30 days of event time
    big = 33  # skew arms run at big x the naive-feasible size

    def mk(n, hot_mod: int, side: str, id_name: str):
        key = F.pmod(
            F.xxhash64(F.concat(F.lit(side + "k"), F.col("id").cast("string"))),
            F.lit(n_keys),
        )
        if hot_mod:  # id % hot_mod != 0 -> key 0 (hot fraction = 1 - 1/mod)
            key = F.when(F.col("id") % hot_mod != 0, F.lit(0)).otherwise(key)
        ts = (
            F.lit(1704067200)
            + F.pmod(
                F.xxhash64(F.concat(F.lit(side + "t"), F.col("id").cast("string"))),
                F.lit(span),
            )
        ).cast("timestamp")
        return spark.range(n).select(
            F.col("id").alias(id_name), key.cast("long").alias("k"), ts.alias("ts")
        )

    def quotes(hot_mod, scale=1):
        return mk(n_quotes * scale, hot_mod, "q", "qid").withColumn(
            "px", (F.col("qid") % 1000).cast("double")
        )

    def probes(hot_mod, scale=1):
        return mk(n_probes * scale, hot_mod, "p", "pid")

    def force(df, col):  # evaluate the match column, return matched count
        return df.agg(F.count(col).alias("n")).collect()[0]["n"]

    def naive():
        q, p = quotes(0).alias("q"), probes(0).alias("p")
        j = p.join(
            q, (F.col("p.k") == F.col("q.k")) & (F.col("q.ts") <= F.col("p.ts"))
        )
        best = j.groupBy("pid").agg(
            F.max_by(F.col("qid"), F.struct(F.col("q.ts"), F.col("qid"))).alias(
                "q_qid"
            )
        )
        return force(best, "q_qid")

    def window(hot_mod, scale=1):
        return force(
            joins.asof_join(
                probes(hot_mod, scale), quotes(hot_mod, scale), "k",
                quote_tiebreak="qid",
            ),
            "q_qid",
        )

    def bucketed(hot_mod, scale=1):
        return force(
            joins.asof_join_bucketed(
                probes(hot_mod, scale), quotes(hot_mod, scale), "k",
                bucket_seconds=6 * 3600, quote_tiebreak="qid",
            ),
            "q_qid",
        )

    arms = {
        "naive": naive,
        "window": lambda: window(0),
        "bucketed": lambda: bucketed(0),
        "skew50_window": lambda: window(2, big),
        "skew50_bucketed": lambda: bucketed(2, big),
        "skew95_window": lambda: window(20, big),
        "skew95_bucketed": lambda: bucketed(20, big),
    }
    times = {a: [] for a in arms}
    counts = {}
    for _ in range(reps):
        for a, fn in arms.items():
            t0 = time.perf_counter()
            counts[a] = fn()
            times[a].append(time.perf_counter() - t0)
    assert counts["naive"] == counts["window"] == counts["bucketed"], counts
    assert counts["skew50_window"] == counts["skew50_bucketed"], counts
    assert counts["skew95_window"] == counts["skew95_bucketed"], counts
    out = {
        "n_quotes": n_quotes,
        "n_probes": n_probes,
        "n_keys": n_keys,
        "skew_scale": big,
        **{f"{a}_sec": round(statistics.median(ts), 2) for a, ts in times.items()},
        "reps": {a: [round(t, 2) for t in ts] for a, ts in times.items()},
    }
    out["naive_over_window"] = round(out["naive_sec"] / out["window_sec"], 2)
    out["skew95_window_over_bucketed"] = round(
        out["skew95_window_sec"] / out["skew95_bucketed_sec"], 2
    )
    log(
        f"  temporal: naive {out['naive_sec']}s vs window {out['window_sec']}s "
        f"({out['naive_over_window']}x); skew95 window "
        f"{out['skew95_window_sec']}s vs bucketed {out['skew95_bucketed_sec']}s "
        f"({out['skew95_window_over_bucketed']}x); skew50 "
        f"{out['skew50_window_sec']}s vs {out['skew50_bucketed_sec']}s "
        f"(crossover evidence)"
    )
    return out


def skew_probe(spark, n_urls: int, reps: int = 3) -> dict:
    """X4 hot-host salting under REAL skew (round-3 verdict item 4): a
    frontier where ONE host holds ~50% of the URLs, through the fused
    fetch+extract stage three ways — uniform hosts (reference), skewed
    salted (the engine default: repartition on (host, url_hash salt)),
    and skewed UNSALTED (salts=1 → the hot host collapses onto one
    task). Interleaved reps so VM steal hits all arms equally. The
    claim under test: salted-skewed stays within ~1.3× of uniform,
    while unsalted pays ~the hot host serially."""
    import statistics
    import tempfile

    base = scratch("skew_")
    uniform_path = base + "/uniform.parquet"
    skew_path = base + "/skew.parquet"
    prepare_probe_input(spark, n_urls, uniform_path)
    (
        spark.read.parquet(uniform_path)
        .withColumn(
            "host",
            F.when(
                F.pmod(F.col("url_hash"), F.lit(2)) == 0, F.lit("hot.example.org")
            ).otherwise(F.col("host")),
        )
        .write.mode("overwrite")
        .parquet(skew_path)
    )
    uniform = spark.read.parquet(uniform_path)
    skewed = spark.read.parquet(skew_path)
    arms = {
        "uniform_salted": lambda: fetch_extract_pages(uniform).count(),
        "skew_salted": lambda: fetch_extract_pages(skewed).count(),
        "skew_unsalted": lambda: fetch_extract_pages(skewed, salts=1).count(),
    }
    ts: dict[str, list[float]] = {k: [] for k in arms}
    for k, fn in arms.items():
        fn()  # warm codegen/workers once per arm
    for _ in range(reps):
        for k, fn in arms.items():
            t0 = time.perf_counter()
            fn()
            ts[k].append(time.perf_counter() - t0)
    out: dict = {"probe_urls": n_urls, "hot_host_share": 0.5}
    for k in arms:
        out[f"{k}_sec"] = round(statistics.median(ts[k]), 2)
        out[f"{k}_reps"] = [round(t, 2) for t in ts[k]]
    out["salted_vs_uniform"] = round(
        out["skew_salted_sec"] / out["uniform_salted_sec"], 2
    )
    out["unsalted_vs_salted"] = round(
        out["skew_unsalted_sec"] / out["skew_salted_sec"], 2
    )
    log(
        f"  skew: uniform {out['uniform_salted_sec']}s, salted "
        f"{out['skew_salted_sec']}s ({out['salted_vs_uniform']}x of uniform), "
        f"unsalted {out['skew_unsalted_sec']}s "
        f"({out['unsalted_vs_salted']}x of salted)"
    )
    return out


def surt_prune_probe(spark, n_urls: int, reps: int = 3) -> dict:
    """The f3 SURT claim MEASURED, not just asserted: a frontier written
    range-sorted by surt_key answers a per-domain prefix range with
    file/row-group min/max skipping (each of the 32 sorted files covers
    a disjoint key range — the scan touches ~1), while the same rows in
    a hash layout spread every domain across every file, so the same
    pushed predicate decodes the whole table. Same files-per-layout,
    same pushed filter, interleaved reps; the delta is pure layout."""
    import statistics

    from news_crawler_spark.functions.urls import surt_key_col

    base = scratch("surt_")
    n_dom = 256
    urls = spark.range(n_urls).select(
        F.concat(
            F.lit("https://sub"),
            (F.col("id") % 7).cast("string"),
            F.lit(".site"),
            (F.col("id") % n_dom).cast("string"),
            F.lit(".com/p/"),
            F.col("id").cast("string"),
        ).alias("canonical_url"),
        F.xxhash64("id").alias("url_hash"),
    )
    keyed = urls.withColumn("surt_key", surt_key_col("canonical_url"))
    sorted_path, hashed_path = base + "/sorted", base + "/hashed"
    (
        keyed.repartitionByRange(32, "surt_key")
        .sortWithinPartitions("surt_key")
        .write.mode("overwrite")
        .parquet(sorted_path)
    )
    keyed.repartition(32, "url_hash").write.mode("overwrite").parquet(hashed_path)

    lo, hi = "com,site42,", "com,site42-"  # '-' = ',' + 1: the prefix range

    def files_intersecting(path: str) -> tuple[int, int, int, int]:
        """(files the range intersects, total files, row groups
        intersecting, total row groups) by parquet FOOTER STATS — the
        deterministic layout evidence: this is exactly what a
        stats-aware reader must open, independent of VM noise/page
        cache (at this SF the wall-clock is job-overhead-bound; at
        100 TB the intersecting-file count IS the IO bill)."""
        import glob

        import pyarrow.parquet as pq

        fi = ft = ri = rt = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["surt_key"]
            gmin, gmax = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn, mx = mn.decode(), mx.decode()
                rt += 1
                if mn < hi and mx >= lo:
                    ri += 1
                gmin = mn if gmin is None else min(gmin, mn)
                gmax = mx if gmax is None else max(gmax, mx)
            ft += 1
            if gmin is not None and gmin < hi and gmax >= lo:
                fi += 1
        return fi, ft, ri, rt

    def arm(path):
        df = spark.read.parquet(path)
        return (
            df.where((F.col("surt_key") >= lo) & (F.col("surt_key") < hi))
            .agg(F.count(F.lit(1)), F.sum(F.length("canonical_url")))
            .collect()[0][0]
        )

    # the pushed-filter contract behind the measurement (also asserted
    # in test_plans.py): the range reaches the parquet scan
    plan = (
        spark.read.parquet(sorted_path)
        .where((F.col("surt_key") >= lo) & (F.col("surt_key") < hi))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pushed = "PushedFilters: [IsNotNull(surt_key), GreaterThanOrEqual(surt_key" in plan

    rows = arm(sorted_path)
    assert rows == arm(hashed_path)
    ts: dict[str, list[float]] = {"sorted": [], "hashed": []}
    for _ in range(reps):
        for name, path in (("sorted", sorted_path), ("hashed", hashed_path)):
            t0 = time.perf_counter()
            arm(path)
            ts[name].append(time.perf_counter() - t0)
    s_fi, s_ft, s_ri, s_rt = files_intersecting(sorted_path)
    h_fi, h_ft, h_ri, h_rt = files_intersecting(hashed_path)
    out = {
        "n_urls": n_urls,
        "n_domains": n_dom,
        "rows_in_range": rows,
        "filter_pushed": pushed,
        "sorted_files_in_range": f"{s_fi}/{s_ft}",
        "hashed_files_in_range": f"{h_fi}/{h_ft}",
        "sorted_rowgroups_in_range": f"{s_ri}/{s_rt}",
        "hashed_rowgroups_in_range": f"{h_ri}/{h_rt}",
        "sorted_sec": round(statistics.median(ts["sorted"]), 3),
        "hashed_sec": round(statistics.median(ts["hashed"]), 3),
        "sorted_reps": [round(t, 3) for t in ts["sorted"]],
        "hashed_reps": [round(t, 3) for t in ts["hashed"]],
    }
    out["wall_note"] = (
        "wall-clock is job-overhead-bound at this SF (the whole table "
        "decodes in ~0.1s on 32 cores); the files_in_range counts are "
        "the scale signal — a stats-aware reader opens that fraction"
    )
    log(
        f"  surt_prune: stats-pruned files {out['sorted_files_in_range']} sorted"
        f" vs {out['hashed_files_in_range']} hashed; wall {out['sorted_sec']}s"
        f" vs {out['hashed_sec']}s (overhead-bound; pushed={pushed})"
    )
    return out


def d3_profile(spark, sf_dir: str) -> dict:
    """Stage split of the heaviest query (d3 MinHash+LSH): signature
    build vs banding/candidates vs exact verify (round-3 verdict item 7
    — know WHERE the 11.8 s goes before trying to shrink it)."""
    from pyspark import StorageLevel

    from news_crawler_spark.operators import dedup

    docs = analytics.load(spark, sf_dir, "documents")
    out: dict = {}
    t0 = time.perf_counter()
    mh = dedup.with_minhash(docs).persist(StorageLevel.MEMORY_AND_DISK)
    out["n_docs"] = mh.count()  # materializes shingles + 128-hash sigs
    out["signature_sec"] = round(time.perf_counter() - t0, 2)

    bands, rows_per_band = 64, 2
    band_col = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    b.cast("long"),
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                ).alias("bucket"),
            ),
        )
    )
    buckets = mh.select("doc_id", band_col.alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    t0 = time.perf_counter()
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out["n_candidates"] = cand.count()
    out["banding_sec"] = round(time.perf_counter() - t0, 2)

    sets = mh.select("doc_id", "sh")
    t0 = time.perf_counter()
    verified = (
        cand.join(
            sets.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sh", "sh_a"),
            "a_id",
        )
        .join(
            sets.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sh", "sh_b"),
            "b_id",
        )
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.6)
    )
    out["n_pairs"] = verified.count()
    out["verify_sec"] = round(time.perf_counter() - t0, 2)
    mh.unpersist()
    log(
        f"  d3 split: signatures {out['signature_sec']}s, banding "
        f"{out['banding_sec']}s ({out['n_candidates']} cands), verify "
        f"{out['verify_sec']}s ({out['n_pairs']} pairs)"
    )
    return out


def prepare_probe_input(spark, n_urls: int, path: str) -> None:
    """Materialize the popped-frontier stand-in once (deterministic), so
    both scaling runs read identical input — mirroring an engine round,
    which always reads the frontier from storage."""
    seed = synth.build_seed_list(spark, n_urls)
    cand = (
        with_url_columns(seed, "url")
        .withColumn("priority", F.pmod(F.col("url_hash"), F.lit(3)).cast("int"))
        .withColumn("tried_count", F.lit(0))
    )
    cand.write.mode("overwrite").parquet(path)


def fetch_extract_job(spark, path: str) -> int:
    """One engine fetch round: read frontier slice → fused fetch+extract
    (single python stage, salted explicit partitioning) → count."""
    return fetch_extract_pages(spark.read.parquet(path)).count()


def _burn(_arg):
    t = time.perf_counter()
    x = 0
    while time.perf_counter() - t < 0.5:
        x += 1
    return x


def hw_parallel_ceiling(lo: int = 8, hi: int = 32) -> float:
    """Pure-CPU spin-loop scaling lo→hi processes. Kept for reference
    ONLY: it measures register-file arithmetic with zero memory traffic,
    which over-states what an allocation-heavy python workload can reach
    (round-1 postmortem: 0.967 spin vs 0.64 for the real per-row work).
    ``workload_ceiling`` below is the honest ceiling."""
    import multiprocessing as mp

    rates = {}
    for n in (lo, hi):
        with mp.Pool(n) as p:
            rates[n] = sum(p.map(_burn, range(n)))
    return round(rates[hi] / rates[lo] / (hi / lo), 3)


def workload_ceiling(n_urls: int = 160_000, lo: int = 8, hi: int = 32) -> float:
    """What lo→hi python processes deliver on the EXACT per-row work of
    the fetch stage (synth fetch + extract + json), no Spark at all —
    mp.Pool over the same row count. This is the ceiling Spark's python
    stage should be judged against: it carries the same allocator and
    memory-bandwidth pressure the spin loop hides."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
    from profile_scaling import pool_run

    t_lo = pool_run(n_urls, lo, 64, False)
    t_hi = pool_run(n_urls, hi, 64, False)
    return round(t_lo / t_hi / (hi / lo), 3)


def scaling_probe(
    path_small: str,
    n_small: int,
    path_big: str,
    n_big: int,
) -> dict[str, float]:
    """Two-cluster-size evidence for the north rule (N vs 4N executors,
    in-sandbox local[8] vs local[32] on identical input).

    Two probe sizes, because round-1's single 160k probe mismeasured:
    the fused stage carries ~2.5 s of size-independent overhead (job
    setup, shuffle barrier, task launch), which at a 7 s runtime eats the
    speedup and reads as "Spark doesn't scale". At 4× the rows the
    overhead amortizes and the same job scales at the workload ceiling.
    8→32 numbers are medians of 3 (this VM's wall clock swings ±50%);
    the 2→8 datapoint stays within physical cores (the honest N→4N pair
    on a 32-vCPU/16-physical-core box).
    """
    import statistics

    out: dict[str, float] = {"probe_urls": n_small, "probe_urls_big": n_big}

    def run_level(cores: int, path: str, n: int, reps: int) -> float:
        spark = get_spark(app_name=f"bench_scale_{cores}", cores=cores,
                          shuffle_partitions=cores)
        fetch_extract_job(spark, path)  # warm python workers + codegen
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fetch_extract_job(spark, path)
            ts.append(time.perf_counter() - t0)
        spark.stop()
        dt = statistics.median(ts)
        log(f"  scaling local[{cores}] n={n}: {dt:.2f}s = {n/dt:.0f} urls/s "
            f"(reps {[round(t, 1) for t in ts]})")
        return dt

    t32_big = run_level(32, path_big, n_big, reps=3)
    t8_big = run_level(8, path_big, n_big, reps=3)
    t32_small = run_level(32, path_small, n_small, reps=1)
    t8_small = run_level(8, path_small, n_small, reps=1)
    t2_small = run_level(2, path_small, n_small, reps=1)

    out["local32_sec"] = round(t32_big, 2)
    out["local8_sec"] = round(t8_big, 2)
    out["local32_urls_per_sec"] = round(n_big / t32_big, 1)
    out["local8_urls_per_sec"] = round(n_big / t8_big, 1)
    out["efficiency_2_to_8"] = round(t2_small / t8_small / 4, 3)
    out["efficiency_8_to_32_small"] = round(t8_small / t32_small / 4, 3)
    out["efficiency_8_to_32"] = round(t8_big / t32_big / 4, 3)
    out["workload_ceiling_8_to_32"] = workload_ceiling()
    out["hw_ceiling_8_to_32"] = hw_parallel_ceiling(8, 32)
    log(
        f"  efficiency 2→8: {out['efficiency_2_to_8']}, "
        f"8→32 @ {n_small}: {out['efficiency_8_to_32_small']}, "
        f"8→32 @ {n_big}: {out['efficiency_8_to_32']} "
        f"(workload ceiling {out['workload_ceiling_8_to_32']}, "
        f"spin ceiling {out['hw_ceiling_8_to_32']})"
    )
    return out


def main() -> None:
    try:
        _main()
    finally:
        if _SCRATCH_ROOT is not None:
            shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)


def _main() -> None:
    quick = "--quick" in sys.argv
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01" if quick else "/root/testdata/sf0.1"
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_seed = 20_000 if quick else 120_000
    n_probe = 20_000 if quick else 160_000
    n_probe_big = 80_000 if quick else 640_000

    t_total = time.perf_counter()
    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=cpus)
    log(f"== headline queries @ {sf_dir} (local[{cpus}]) ==")
    queries = run_queries(spark, sf_dir)
    if quick:
        queries_sf1 = None
    else:
        log("== sf1 scale probe (10x documents/embeddings) ==")
        queries_sf1 = sf1_probe(spark, sf_dir, queries)
    log("== crawl engine throughput (medians of 3) ==")
    crawl = crawl_bench(spark, n_seed, rounds=4, reps=2 if quick else 3)
    log("== crawl scale-soak (1M seeds) ==")
    crawl_1m = crawl_bench(
        spark, 100_000 if quick else 1_000_000, rounds=4, reps=1 if quick else 2
    )
    log("== snowball discovery (open-web mode, bounded cycles) ==")
    log("== connected-components algorithm A/B (label vs two-star) ==")
    cc_ab = cc_algorithm_ab(spark, reps=1 if quick else 2)
    snowball = snowball_bench(
        spark,
        2_000 if quick else 20_000,
        universe=10_000 if quick else 100_000,
        max_cycles=3,
    )
    log("== skew probe (hot host 50%) ==")
    skew = skew_probe(spark, 40_000 if quick else 160_000, reps=2 if quick else 3)
    log("== surt range-pruning probe (sorted vs hashed layout) ==")
    surt_prune = surt_prune_probe(
        spark, 200_000 if quick else 4_000_000, reps=2 if quick else 3
    )
    log("== ann scan-cost probe (brute vs pruned) ==")
    ann = ann_probe(spark, 50_000 if quick else 200_000, reps=2 if quick else 3)
    log("== semdedup prune probe (linear at constant occupancy) ==")
    semdedup = semdedup_prune_probe(
        spark, 50_000 if quick else 200_000, reps=2 if quick else 3
    )
    log("== cosine pair-tier probe (expression vs GEMM) ==")
    cos_pairs = cosine_pairs_probe(spark, sf_dir, reps=2 if quick else 3)
    log("== temporal-join probe (naive vs window vs bucketed) ==")
    temporal = temporal_join_probe(
        spark,
        n_quotes=20_000 if quick else 60_000,
        n_probes=40_000 if quick else 120_000,
        reps=2 if quick else 3,
    )
    log("== d3 stage profile ==")
    d3_split = d3_profile(spark, sf_dir)
    import tempfile

    probe_path = scratch("probe_") + "/cand.parquet"
    probe_big_path = scratch("probeb_") + "/cand.parquet"
    prepare_probe_input(spark, n_probe, probe_path)
    prepare_probe_input(spark, n_probe_big, probe_big_path)
    spark.stop()
    log("== scaling probe (N vs 4N cores) ==")
    scaling = scaling_probe(probe_path, n_probe, probe_big_path, n_probe_big)
    total = time.perf_counter() - t_total

    print(
        json.dumps(
            {
                "metric": "bench_suite_seconds",
                "value": round(sum(queries.values()), 3),
                "unit": "sec",
                "queries": queries,
                "queries_engine_seconds": round(
                    sum(t for q, t in queries.items() if q not in GATE_REPLAY), 3
                ),
                "queries_gate_seconds": round(
                    sum(t for q, t in queries.items() if q in GATE_REPLAY), 3
                ),
                "queries_sf1": queries_sf1,
                "sf": sf,
                "crawl": crawl,
                "crawl_1m": crawl_1m,
                "snowball": snowball,
                "cc_ab": cc_ab,
                "skew": skew,
                "surt_prune": surt_prune,
                "ann": ann,
                "semdedup_prune": semdedup,
                "cosine_pairs": cos_pairs,
                "temporal_join": temporal,
                "d3_profile": d3_split,
                "scaling": scaling,
                "total_wall_sec": round(total, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
