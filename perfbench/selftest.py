"""Benchmark self-test at tiny sizes (about two minutes on 4 cores).

    python3 perfbench/selftest.py

Runs each workload untraced and traced on one Spark session and asserts
that every metric named in ``BENCHMARK.json`` is printed with the unit
``perfbench/metrics.py`` gives it, that a correct run passes its checks,
and that a corrupted expected output makes the checks fail. Exits 0 when
all of that holds.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common, metrics  # noqa: E402
from perfbench.run import WORKLOADS, run_workload, to_json  # noqa: E402


def check_benchmark_json(errors: list[str]) -> None:
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        errors.append("BENCHMARK.json workloads differ from run.WORKLOADS")
    for key, table in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in spec[key]}
        if listed != table:
            errors.append(f"BENCHMARK.json {key} differs from metrics.py: {sorted(set(listed) ^ set(table))}")


def check_output(out: dict, trace: bool, errors: list[str], label: str) -> None:
    json.loads(json.dumps(out))  # serializable as one line
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{label}: keys {sorted(out)}")
    if not isinstance(out["attempted"], int) or out["attempted"] < 1:
        errors.append(f"{label}: attempted={out['attempted']!r}")
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    got = out["metrics"]
    if set(got) != set(want):
        errors.append(f"{label}: metrics {sorted(set(got) ^ set(want))} missing or extra")
    for name, unit in want.items():
        m = got.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), float):
            errors.append(f"{label}: {name} printed as {m!r}, want a number in {unit}")
    if not trace:
        zero = [k for k, m in got.items() if not m["value"] > 0]
        if zero:
            errors.append(f"{label}: end-to-end metrics not positive: {zero}")


def main() -> int:
    if not common.program_present():
        print("news_crawler_spark not found", file=sys.stderr)
        return 2
    errors: list[str] = []
    check_benchmark_json(errors)
    work = common.work_dir("selftest")
    common.prepare_env(work)
    spark = None
    try:
        with common.CpuTimer() as t_session:
            spark = common.start_spark(work)
        for workload in WORKLOADS:
            for trace, corrupt in ((False, False), (True, True)):
                label = f"{workload} trace={int(trace)} corrupt={int(corrupt)}"
                wdir = work / f"{workload}-{int(trace)}"
                wdir.mkdir()
                (wdir / "tmp").mkdir()
                res = run_workload(spark, wdir, workload, seed=7, seconds=1, trace=trace,
                                   t_session=t_session, size="tiny", corrupt=corrupt)
                check_output(to_json(res, trace), trace, errors, label)
                if corrupt and res.correct:
                    errors.append(f"{label}: a corrupted expected output passed the checks")
                if not corrupt and not res.correct:
                    errors.append(f"{label}: checks failed: {res.check_failures}")
                print(f"{label}: correct={res.correct} attempted={res.attempted} "
                      f"failed={res.failed} checks={res.check_failures}", flush=True)
    finally:
        common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"SELFTEST FAILED: {e}")
    print("selftest ok" if not errors else f"selftest: {len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
