"""Metric names and units the benchmark prints; ``BENCHMARK.json`` lists
the same names (the self-test asserts they agree)."""

# Timings are CPU seconds of the driver, the JVM and the Python workers
# (``common.tree_cpu_s``); their wall-clock twins are the ``wall.*``
# per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "batch_cpu_ms_per_row": "ms",
    "request_cpu_p50_s": "s",
}

# layer metric -> unit. A layer the workload does not run reports 0.
PER_LAYER = {
    "wall.setup_s": "s",
    "wall.batch_per_s": "1/s",
    "wall.request_p50_s": "s",
    "wall.request_tail_s": "s",
    "request.cpu_tail_s": "s",
    "session.get_spark.s": "s",
    "functions.urls.s": "s",
    "seen_set.dedup.s": "s",
    "seen_set.unseen.s": "s",
    "seen_set.admit_ratio": "ratio",
    "frontier.pop.s": "s",
    "frontier.popped_rows": "rows",
    "frontier.robots_denied_rows": "rows",
    "fetch.s": "s",
    "fetch.urls_per_s": "1/s",
    "fetch.ok_ratio": "ratio",
    "extract.s": "s",
    "extract.spans_per_doc": "spans/doc",
    "catalog.write.s": "s",
    "catalog.bytes_written_per_url": "B/url",
    "catalog.files_written_per_round": "files/round",
    "engine.ingest.s": "s",
    "engine.ingest_incremental.s": "s",
    "engine.step.s": "s",
    "engine.poll_step.s": "s",
    "engine.step_glue_s": "s",
    "engine.jobs_per_round": "jobs/round",
    "engine.stages_per_round": "stages/round",
    "engine.tasks_per_round": "tasks/round",
    "dedup.minhash_lsh.s": "s",
    "dedup.clusters.s": "s",
    "dedup.pairs": "pairs",
    "similarity.semdedup.s": "s",
    "analytics.x14.s": "s",
    "similarity.topk.s": "s",
    "text.bm25.s": "s",
    "search.jobs_per_query": "jobs/query",
    "trace.overhead_share": "ratio",
}
