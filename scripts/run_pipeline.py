"""End-to-end pipeline driver: one command from discovery to search.

The full composed surface a user of the reference system runs today,
re-expressed on this engine:

  discovery (archive/RSS/sitemap scans, string-date parse, cursor cut)
    → crawl engine (frontier rounds: pop → fetch+extract → MERGE)
    → dedup (exact + MinHash-LSH pairs → duplicate clusters → keep
      canonical docs)
    → embed scheduler (resumable pending→completed drain)
    → semantic search (query text → cosine top-k with payload)

Local smoke:
    python scripts/run_pipeline.py --workdir /tmp/pipe --days 3

Cluster: same spark-submit shape as run_crawl.py (package_pyfiles.py →
--py-files). Every stage is resumable from the workdir: discovery
cursors, crawl rounds, and embed rounds each commit snapshots.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from news_crawler_spark import sources, synth  # noqa: E402
from news_crawler_spark.embed_scheduler import EmbedScheduler  # noqa: E402
from news_crawler_spark.engine import CrawlEngine  # noqa: E402
from news_crawler_spark.operators import dedup, embed, kv  # noqa: E402
from news_crawler_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="discovery→crawl→dedup→embed→search")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--days", type=int, default=3, help="discovery day span")
    ap.add_argument("--pages-per-day", type=int, default=4)
    ap.add_argument("--query", default="economy oil market")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--dim", type=int, default=32)
    ap.add_argument("--master", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="pipeline", cores=args.cpus, master=args.master)
    out: dict = {}
    t0 = time.perf_counter()

    # 1. discovery: feed snapshots → fresh links + new cursors
    pages = sources.synth_feed_pages(spark, days=args.days,
                                     pages_per_day=args.pages_per_day)
    fresh, cursors = sources.discover(spark, pages)
    out["discovered_links"] = fresh.count()

    # 2. crawl: frontier rounds to quiescence (resumes if workdir exists)
    eng = CrawlEngine(spark, os.path.join(args.workdir, "crawl"))
    if eng.catalog.latest_round() is None:
        eng.ingest(fresh)
    stats = eng.run()
    docs = eng.documents()
    out["crawl_rounds"] = len(stats)
    out["documents"] = docs.count()

    # 3. dedup: exact + near-dup clusters → canonical docs only
    content = docs.select(
        "doc_id",
        F.concat_ws(" ", "title", "summary").alias("text"),
    )
    clusters = dedup.duplicate_clusters(
        dedup.minhash_lsh_pairs(content, threshold=0.6)
    )
    keep = (
        docs.join(clusters, "doc_id", "left")
        .filter(F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("doc_id")))
        .drop("cluster_id")
    )
    out["canonical_docs"] = keep.count()
    out["near_dup_removed"] = out["documents"] - out["canonical_docs"]

    # 3a. media: the docs are INTERLEAVED text+media — materialize the
    # span media_refs as a binary media table (payload in its own
    # column, pruning-friendly) and reduce to fixed-width features; the
    # features, not the bytes, are what downstream training joins on
    from news_crawler_spark.operators import multimodal

    media = multimodal.media_table(keep)
    feats = multimodal.extract_media_features(media, dim=16)
    media_dir = os.path.join(args.workdir, "media_features")
    feats.write.mode("overwrite").parquet(media_dir)
    out["media_items"] = spark.read.parquet(media_dir).count()

    # 3b. price feed → KV latest-value cache (K6): the TGJU collector
    # analog — poll sweeps fold into one latest-row-per-symbol snapshot
    # (collectors/tgju_collector.py:96-108 → redis SET key val EX ttl),
    # then the TTL read filter gives "latest price unless stale"
    obs = synth.price_observations(spark, polls=12)
    first = obs.filter(F.col("obs_id") < 6 * len(synth.PRICE_SYMBOLS))
    rest = obs.filter(F.col("obs_id") >= 6 * len(synth.PRICE_SYMBOLS))
    cache = kv.merge_latest(
        kv.upsert_latest(first, tiebreak="obs_id"), rest, tiebreak="obs_id"
    )
    price_dir = os.path.join(args.workdir, "prices")
    cache.coalesce(1).write.mode("overwrite").parquet(price_dir)
    cache = spark.read.parquet(price_dir)
    as_of = obs.agg(F.max("ts")).collect()[0][0]
    fresh_prices = kv.valid_at(cache, F.lit(as_of), ttl_seconds=1800)
    out["price_symbols"] = cache.count()
    out["price_fresh"] = fresh_prices.count()
    out["price_usd"] = cache.filter(
        F.col("symbol") == "price_dollar_rl"
    ).collect()[0].price

    # 4. embed: resumable pending→completed drain over canonical docs
    sched = EmbedScheduler(spark, os.path.join(args.workdir, "embed"),
                           dim=args.dim, batch_per_source=500)
    if sched.catalog.latest_round() is None:
        sched.ingest(keep)
    sched.run()
    vecs = sched.vectors()
    out["vectors"] = vecs.count()

    # 5. training-corpus export: Gopher rule gate → token-budget shard
    # packing → temperature-scaled per-source mixture quotas — the
    # crawl-to-training handoff (the x14/x23/x24 operators composed over
    # REAL crawled docs instead of the testdata tables)
    from news_crawler_spark.operators import sampling
    from news_crawler_spark.operators import text as text_ops

    corpus = keep.select(
        "doc_id",
        F.concat_ws(" ", "title", "summary").alias("text"),
        "source",
    )
    # the synthetic crawl vocabulary carries no English stopwords, so the
    # stopword rule is REPORTED (out["gopher_stop_fail"]) but not
    # enforced on this corpus; the structural rules gate admission
    flags = text_ops.gopher_flags(corpus)
    out["gopher_stop_fail"] = flags.filter(F.col("stop_ok") == 0).count()
    passing = corpus.join(
        flags.filter(
            (F.col("count_ok") == 1)
            & (F.col("mwl_ok") == 1)
            & (F.col("alpha_ok") == 1)
        ).select("doc_id"),
        "doc_id",
    )
    packed = sampling.pack_token_shards(passing, budget=2048, n_shards=8)
    corpus_dir = os.path.join(args.workdir, "corpus")
    packed.write.mode("overwrite").parquet(corpus_dir)
    packed = spark.read.parquet(corpus_dir)
    out["corpus_docs"] = packed.count()
    out["corpus_bins"] = packed.agg(
        F.count_distinct("shard", "bin_id")
    ).collect()[0][0]
    quotas = sampling.temperature_mixture(passing, total=10_000)
    out["mixture_quotas"] = {
        r.source: r.quota for r in quotas.collect()
    }

    # 6. search
    hits = embed.search(vecs, keep, args.query, k=args.k, dim=args.dim)
    out["query"] = args.query
    out["hits"] = [
        {"doc_id": r.doc_id, "score": r.score, "title": r.title}
        for r in hits.select("doc_id", "score", "title").collect()
    ]
    out["wall_sec"] = round(time.perf_counter() - t0, 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
