"""SparkSession factory tuned for this engine.

Local mode here stands in for a multi-executor cluster: every conf below is
chosen so the same code runs unchanged on a 1000-executor cluster against
~100 TB — AQE for runtime re-planning and skew-join splitting, Arrow for all
pandas-UDF exchanges, UTC session timezone so results are comparable with
the DuckDB oracle, and shuffle partitions sized to cores locally (on a real
cluster you would leave AQE's coalescing to pick the number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Broadcast threshold: politeness/robots/source dims are tiny; 64 MB keeps
# them broadcast even at large rule counts.
_BROADCAST_THRESHOLD = str(64 * 1024 * 1024)

# Driver heap cap: local mode runs every executor inside the driver JVM.
_MAX_DRIVER_MEM_MB = 48 * 1024


def _default_driver_memory() -> str:
    """Half of this host's MemTotal, capped at 48g — a fixed 48g heap
    on a smaller machine lets the JVM grow until the kernel kills it."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(total_mb // 2, _MAX_DRIVER_MEM_MB)}m"
    except OSError:
        pass
    return f"{_MAX_DRIVER_MEM_MB}m"


def get_spark(
    app_name: str = "news_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — correct for local mode; on a
    cluster AQE coalescing re-sizes post-shuffle partitions anyway.

    ``spark.driver.memory`` is $SPARK_DRIVER_MEM when set, else half of
    the host's memory capped at 48g.

    ``master``: explicit master URL; ``"inherit"`` sets NO master so the
    one provided by ``spark-submit --master`` wins (cluster deployment,
    scripts/run_crawl.py); default is ``local[cores]``.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)

    builder = SparkSession.builder
    if master != "inherit":
        builder = builder.master(master or f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", _BROADCAST_THRESHOLD)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # runtime bloom-filter join pre-filtering for large anti/semi joins
        # (note: runtimeFilter.semiJoinReduction hangs session startup on
        # this pyspark build — do not enable it)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # push moderate IN-lists down to parquet (default 10): rowgroup
        # min/max stats prune an ``isin`` filter on a scan only if the
        # In predicate actually reaches the reader.
        # Capped at 300 — parquet evaluates a pushed In as a
        # RECURSIVE Or tree, and ~2000 values overflowed the executor
        # stack (scala.MatchError: StackOverflowError in FileScanRDD)
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "300")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark, int(cores))
    return spark


def _warm_python_workers(spark: SparkSession, cores: int) -> None:
    """Pre-fork the Python worker pool once per session: with
    ``spark.python.worker.reuse`` (default on) the pool persists, so the
    first pandas/Arrow stage of a session otherwise pays cores× (fork +
    pandas/numpy import + Arrow init) inside whatever query happens to
    run it — measured several seconds at local[32], billed to one
    arbitrary operator. One throwaway concurrent mapInPandas job at
    session build absorbs it where a production long-running driver
    would: at startup. Guarded so repeated get_spark() calls on the
    same context warm only once; never fails session creation."""
    sc = spark.sparkContext
    if getattr(sc, "_ncs_python_workers_warm", False):
        return
    sc._ncs_python_workers_warm = True

    def _w(batches):
        import time as _t

        import numpy  # noqa: F401  (preload the worker's heavy imports)
        import pandas  # noqa: F401

        _t.sleep(0.2)  # hold the worker so all tasks fork distinct ones
        yield from batches

    try:
        sc.setJobDescription("session warmup: python worker pool")
        spark.range(0, cores, 1, max(1, cores)).mapInPandas(
            _w, "id long"
        ).count()
    except Exception:  # pragma: no cover — warmup must never break startup
        pass
    finally:
        sc.setJobDescription(None)
