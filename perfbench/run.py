"""Benchmark entry point.

    python3 perfbench/run.py --workload {crawl,corpus} --seed N --seconds S --trace {0,1}

Runs one workload in this process on Spark ``local[nproc]`` and prints,
as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Exits 1 when an
output check fails or an operation raises, and 2 without a result when
the program under test is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import traceback
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common, metrics  # noqa: E402

WORKLOADS = ("crawl", "corpus")


def run_workload(spark, work: Path, workload: str, seed: int, seconds: float, trace: bool,
                 t_session: common.CpuTimer, size: str = "full", corrupt: bool = False) -> common.Result:
    """One workload on an open session; an operation that raises counts
    as failed and fails the run."""
    from perfbench import corpus, crawl
    from perfbench.tracer import Tracer

    res = common.Result()
    res.setup(t_session)
    tracer = Tracer(spark, trace)
    mod = crawl if workload == "crawl" else corpus
    try:
        mod.run(spark, work, seed, seconds, tracer, res, size_name=size, corrupt=corrupt)
    except Exception:  # noqa: BLE001 — reported as a failed operation
        traceback.print_exc()
        res.failed += 1
        res.attempted = max(res.attempted, 1)
        res.check(False, "an operation raised")
    res.metrics["session.get_spark.s"] = t_session.wall
    res.metrics["peak_rss_mb"] = common.peak_rss_mb(spark)
    if trace:
        out = common.ROOT / ".bench_out" / f"trace-{workload}-seed{seed}.json"
        tracer.write(out)
        res.report.append(f"spans written to {out.relative_to(common.ROOT)}")
        for name, t in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            res.report.append(f"  self {name:32s} {t:9.3f} s")
        res.report.append(f"  tracer overhead {tracer.overhead_s:.3f} s")
    return res


def to_json(res: common.Result, trace: bool) -> dict:
    names = metrics.PER_LAYER if trace else metrics.END_TO_END
    return {
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            k: {"value": float(res.metrics.get(k, 0.0)), "unit": unit} for k, unit in names.items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not common.program_present():
        print(f"news_crawler_spark not found under {common.ROOT}", file=sys.stderr)
        return 2
    work = common.work_dir(args.workload)
    common.prepare_env(work)
    spark = None
    try:
        with common.CpuTimer() as t_session:
            spark = common.start_spark(work)
        res = run_workload(spark, work, args.workload, args.seed, args.seconds, bool(args.trace),
                           t_session)
    finally:
        common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in res.report:
        print(line)
    for what in res.check_failures:
        print(f"CHECK FAILED: {what}")
    print(json.dumps(to_json(res, bool(args.trace))), flush=True)
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
