"""spark-submit entrypoint for the crawl engine.

Local smoke:
    python scripts/run_crawl.py --workdir /tmp/crawl --seeds 5000

Cluster (the north-rule deployment shape):
    python scripts/package_pyfiles.py         # → dist/news_crawler_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/news_crawler_spark.zip \\
        scripts/run_crawl.py --master inherit \\
        --workdir hdfs:///crawl/run1 --seeds 1000000 --rounds 100

The workdir is the snapshot catalog root: re-running with the same
workdir RESUMES from the last committed round (checkpoint/resume is the
default behavior, not a flag).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from news_crawler_spark import synth  # noqa: E402
from news_crawler_spark.engine import CrawlEngine  # noqa: E402
from news_crawler_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="news_crawler_spark crawl driver")
    ap.add_argument("--workdir", required=True, help="snapshot catalog root")
    ap.add_argument("--seeds", type=int, default=10_000,
                    help="synthetic seed-list size (ignored on resume)")
    ap.add_argument("--rounds", type=int, default=1000, help="max rounds")
    ap.add_argument("--refill", type=int, default=20,
                    help="default per-host token refill per round")
    ap.add_argument("--master", default=None,
                    help="'inherit' under spark-submit; default local[N]")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--compact-every", type=int, default=8,
                    help="compaction interval (rounds) of the done, seen-key, "
                         "pops and lineage logs")
    args = ap.parse_args()

    spark = get_spark(app_name="crawl_run", cores=args.cpus, master=args.master)
    eng = CrawlEngine(spark, args.workdir, default_refill=args.refill,
                      compact_every=args.compact_every)

    t0 = time.perf_counter()
    if eng.catalog.latest_round() is None:
        eng.ingest(synth.build_seed_list(spark, args.seeds))
        print(f"ingested {args.seeds} seeds", file=sys.stderr)
    else:
        print(
            f"resuming from round {eng.catalog.latest_round()}", file=sys.stderr
        )
    stats = eng.run(max_rounds=args.rounds)
    dt = time.perf_counter() - t0
    fetched = sum(s.fetched_ok + s.fetched_fail for s in stats)
    print(
        json.dumps(
            {
                "rounds": len(stats),
                "fetched": fetched,
                "wall_sec": round(dt, 1),
                "fetched_per_sec": round(fetched / dt, 1) if dt else None,
                "pending_left": stats[-1].pending_left if stats else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
