"""Shared plumbing for the benchmark: process environment, the Spark
session, latency statistics, memory readings and the run result.

Everything the benchmark writes lands under the checkout: Spark's local
and temp dirs, the JVM temp dir and the workload state all live in one
per-run directory under ``.bench_work/`` that is removed when the run
ends; traces go to ``.bench_out/``.
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM = ROOT / "news_crawler_spark"


def program_present() -> bool:
    return (PROGRAM / "engine.py").is_file() and (PROGRAM / "session.py").is_file()


def work_dir(workload: str) -> Path:
    d = ROOT / ".bench_work" / f"{workload}-{os.getpid()}"
    if d.exists():
        shutil.rmtree(d)
    (d / "tmp").mkdir(parents=True)
    return d


def prepare_env(work: Path) -> None:
    """Point every temp/scratch location of the driver, the JVM and the
    Python workers into ``work`` and make the package importable by the
    workers. Must run before pyspark starts the JVM."""
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the session default (48g) is sized for a large host; the heap only
    # bounds growth, it does not change the plans
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def local_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Path):
    """Spark ``local[nproc]`` through the program's own session factory."""
    from news_crawler_spark.session import get_spark

    tmp = work / "tmp"
    # a fixed-size heap (-Xms = the session's -Xmx) keeps the JVM from
    # resizing it run to run, which made peak RSS jump by ~8%
    heap = os.environ["SPARK_DRIVER_MEM"]
    return get_spark(
        app_name="perfbench",
        cores=local_cores(),
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed set of JIT compiler threads, so tree_cpu_s can leave
            # out their time (a compiler thread that exits takes it along)
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    if spark is None:
        return
    gw = getattr(spark.sparkContext, "_gateway", None)
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# --------------------------------------------------------------- statistics
def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples strictly above its rank."""
    if n <= beyond:
        raise ValueError(f"{n} samples cannot have {beyond} beyond a percentile")
    return math.floor(100.0 * (n - beyond) / n)


# ---------------------------------------------------------------------- cpu
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str]:
    """``/proc/<pid>/stat`` from field 3 (state) on; the command name in
    field 2 may hold spaces, so split after its closing parenthesis."""
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        s = f.read()
    return s[s.rindex(")") + 2:].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (``C1/C2 CompilerThre``)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii", errors="replace") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            total += sum(int(x) for x in _stat_fields(f"{pid}/task/{tid}")[11:13])
        except (OSError, IndexError):
            continue
    return total


def jit_settle(spark, quiet_s: float = 0.5, limit_s: float = 20.0) -> float:
    """Wait until the JVM's JIT compiler threads have been idle for
    ``quiet_s``, at most ``limit_s``; return the seconds waited.

    Called at the end of set-up, so every run starts its timers with the
    warm-up's compile queue drained, however fast the host let the
    compiler work through it."""
    proc = getattr(getattr(spark.sparkContext, "_gateway", None), "proc", None)
    t0 = time.perf_counter()
    if proc is None:
        return 0.0
    last = _jit_ticks(proc.pid)
    while time.perf_counter() - t0 < limit_s:
        time.sleep(quiet_s)
        now = _jit_ticks(proc.pid)
        if now == last:
            break
        last = now
    return time.perf_counter() - t0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, own + reaped children) of ``root``
    (this process by default) and every live descendant: the driver, the
    JVM, and the Python daemon and workers it forks, less the JVM's JIT
    compiler threads.

    The kernel reports these as the task's exact run time, rounded to a
    clock tick, and never counts time the hypervisor stole from the vCPU.
    That is why the end-to-end metrics are CPU time: on a shared host the
    wall time of the same work moves with the neighbours' load. JIT
    compilation is left out because it is a warm-up cost that runs on
    its own threads whenever they get a CPU: at the same point of two
    runs it had done different amounts of work, and over a long-running
    engine it amortizes to nothing."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    java: set[int] = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(name)
            with open(f"/proc/{name}/comm", encoding="ascii", errors="replace") as c:
                if c.read().strip() == "java":
                    java.add(int(name))
        except (OSError, IndexError):
            continue  # exited while we looked
        pid = int(name)
        parent[pid] = int(f[1])
        ticks[pid] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        children.setdefault(pp, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0) - (_jit_ticks(pid) if pid in java else 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


class CpuTimer:
    """Wall and process-tree CPU time of a block: ``with CpuTimer() as t:``
    then ``t.wall`` and ``t.cpu`` (seconds)."""

    def __enter__(self):
        self._cpu = tree_cpu_s()
        self._wall = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._wall
        self.cpu = tree_cpu_s() - self._cpu
        return False


# ------------------------------------------------------------------- memory
def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus its JVM."""
    kb = _vm_hwm_kb("self")
    proc = getattr(getattr(spark.sparkContext, "_gateway", None), "proc", None)
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


# ------------------------------------------------------------------- result
@dataclass
class Result:
    """What one run reports: operations attempted/failed, check
    failures, and the metric values by name."""

    attempted: int = 0
    failed: int = 0
    check_failures: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    report: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.check_failures.append(what)
        return ok

    def setup(self, t: "CpuTimer") -> None:
        """Count a set-up block: ``setup_s`` is its CPU time, ``wall.setup_s``
        its wall time."""
        self.metrics["setup_s"] = self.metrics.get("setup_s", 0.0) + t.cpu
        self.metrics["wall.setup_s"] = self.metrics.get("wall.setup_s", 0.0) + t.wall

    @property
    def correct(self) -> bool:
        return not self.check_failures and self.failed == 0


class Clock:
    """Wall-clock deadline for a closed loop."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.seconds = seconds

    def expired(self) -> bool:
        return time.perf_counter() - self.t0 >= self.seconds
