"""Physical-plan assertions: the optimizations SURVEY.md §4 claims come
free from Catalyst must actually appear in the plans — predicate pushdown
to the parquet scan, column pruning, broadcast joins, top-k as
TakeOrderedAndProject (never a global sort), and whole-stage codegen —
and the searches served from a per-DataFrame index start the Spark jobs
they claim (counted per job group)."""

import uuid

from pyspark.sql import functions as F

from news_crawler_spark import analytics
from news_crawler_spark.operators import frontier as fops
from news_crawler_spark.operators import similarity
from news_crawler_spark.operators import text as text_ops
from news_crawler_spark import synth

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def jobs_of(spark, action):
    """Run ``action`` under a fresh job group; return its result and the
    ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"plans-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def executed_plans(spark, job_ids) -> list[str]:
    """Physical plans of the SQL executions that ran ``job_ids``."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if any(e.jobs().contains(j) for j in job_ids)
    ]


def explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select("event_id")
    )
    p = explain_formatted(df)
    assert "PushedFilters" in p and "event_type" in p.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    p = explain_formatted(df)
    rs = p.split("ReadSchema")[1][:200]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_topk_is_take_ordered(spark):
    """Top-k is served from an index built once per embeddings
    DataFrame: the first search builds it with one job, a repeat search
    on the same object starts none and returns the same rows."""
    emb = analytics.load(spark, SF, "embeddings")

    def search():
        return similarity.topk_cosine(emb, analytics.QUERY_VEC_ID, k=10).collect()

    first, built = jobs_of(spark, search)
    again, jobs = jobs_of(spark, search)
    assert len(built) == 1 and jobs == []
    assert again == first and len(first) == 10


def test_robots_filter_has_no_shuffle(spark):
    """The robots evaluation must not shuffle the frontier (broadcast +
    higher-order functions only)."""
    from news_crawler_spark.functions.urls import with_url_columns

    frontier = with_url_columns(synth.build_seed_list(spark, 100))
    out = fops.allowed_by_robots(frontier, synth.robots_df(spark))
    p = plan(out)
    import re

    # the rules side may shuffle (tiny groupBy(host) before broadcast);
    # the frontier side must not — no shuffle keyed by frontier columns
    shuffles = re.findall(r"Exchange (?:hash|range)partitioning\(([^)]*)\)", p)
    for cols in shuffles:
        assert "url_hash" not in cols and "canonical_url" not in cols, p
    assert "BroadcastHashJoin" in p


def test_anti_join_broadcasts_small_popped(spark):
    """next-pending anti-join: small popped side must broadcast."""
    big = spark.range(0, 100000).select(
        F.col("id").alias("url_hash"), F.concat(F.lit("u"), "id").alias("canonical_url")
    )
    small = big.limit(50)
    p = plan(big.join(small, ["url_hash", "canonical_url"], "left_anti"))
    assert "Broadcast" in p


def filtered_search_plan(spark, monkeypatch, query) -> str:
    """Run an analytics filtered search twice over the same loaded
    tables (the first call builds the vector index) and return the
    executed plan of the second call, which must run exactly one job —
    the payload predicate's id scan — and read no vector column."""
    load, frames = analytics.load, {}

    def same_frames(spark, sf, table):
        if table not in frames:
            frames[table] = load(spark, sf, table)
        return frames[table]

    monkeypatch.setattr(analytics, "load", same_frames)
    want = query(spark, SF).collect()
    got, jobs = jobs_of(spark, lambda: query(spark, SF).collect())
    assert got == want
    assert len(jobs) == 1, jobs
    (p,) = executed_plans(spark, jobs)
    assert "embedding" not in p, p
    return p


def test_v4_payload_filter_below_scoring(spark, monkeypatch):
    """v4: the payload predicate runs on the payload side only, pushed
    into its scan, as the one job a warm filtered search starts; the
    surviving ids then select rows of the cached vector index
    (filter-then-score, never score-everything-then-filter)."""
    p = filtered_search_plan(spark, monkeypatch, analytics.v4_filtered_topk)
    assert "n_chars" in p and "src3" in p, p


def test_v6_keyword_filter_below_scoring(spark, monkeypatch):
    """v6: keyword + full-text predicates evaluate on the payload side
    in the search's one job, reading no vector — same contract as v4."""
    p = filtered_search_plan(spark, monkeypatch, analytics.v6_keyword_topk)
    assert "array_contains" in p and "Contains" in p, p


def test_v7_ts_range_filter_below_scoring(spark, monkeypatch):
    """v7: the published-timestamp RANGE predicate evaluates on the
    payload side in the search's one job, reading no vector — completes
    the reference's payload-index trio (source v4, keywords/full-text
    v6, published_timestamp v7)."""
    p = filtered_search_plan(spark, monkeypatch, analytics.v7_ts_range_topk)
    assert "ts" in p and "2024-01-01" in p, p


def test_embed_claim_is_salted_two_phase(spark):
    """S11 batch claim: the per-source window must rank within
    (source, salt) first — parallelism sources×salts, not sources."""
    import tempfile

    from news_crawler_spark.embed_scheduler import EmbedScheduler

    docs = spark.createDataFrame(
        [(f"d{i}", f"s{i % 2}", f"t{i}", f"w{i}") for i in range(20)],
        "doc_id string, source string, title string, summary string",
    )
    sched = EmbedScheduler(spark, tempfile.mkdtemp(), batch_per_source=5)
    pending = docs.selectExpr(
        "doc_id",
        "source",
        "cast(null as timestamp) AS published_ts",
        "concat(title, '. ', summary) AS embed_text",
    )
    p = plan(sched._claim(pending))
    assert "xxhash64" in p and p.count("Window") >= 2, p


def test_m1_span_extract_single_python_pass(spark):
    """m1: page construction is pure codegen'd expressions feeding ONE
    MapInPandas extract pass — no join, no aggregate, and no exchange
    beyond the tiny-input round-robin spread."""
    df = analytics.m1_interleaved_spans(spark, SF)
    p = plan(df)
    assert p.count("MapInPandas") == 1
    assert "Join" not in p and "HashAggregate" not in p
    exchanges = [l for l in p.splitlines() if "Exchange" in l]
    assert all("RoundRobinPartitioning" in l for l in exchanges), p


def test_k1_cache_fold_is_aggregate_not_window(spark):
    """K6: the LWW cache fold must be max_by AGGREGATES (map-side
    partial combine — the shuffle carries |symbols| rows per wave, not
    |observations|) and the as-of head must broadcast; a window
    implementation would shuffle every observation."""
    from news_crawler_spark.operators import kv

    e = spark.read.parquet(f"{SF}/events.parquet")
    obs = e.select(
        F.concat_ws(
            "_", "event_type", F.pmod(F.col("user_id"), F.lit(5))
        ).alias("symbol"),
        "ts",
        F.col("value").alias("price"),
        F.col("event_id").alias("obs_id"),
    )
    waves = [obs.filter(F.pmod(F.col("obs_id"), F.lit(3)) == i) for i in range(3)]
    cache = kv.upsert_latest(waves[0], key="symbol", ts_col="ts", tiebreak="obs_id")
    for w in waves[1:]:
        cache = kv.merge_latest(cache, w, key="symbol", ts_col="ts", tiebreak="obs_id")
    head = e.agg(F.max("ts").alias("__as_of"))
    p = plan(
        kv.valid_at(cache.crossJoin(F.broadcast(head)), F.col("__as_of"), 7200)
    )
    assert "Window" not in p, p
    assert "max_by" in p or "HashAggregate" in p
    # partial aggregation before the exchange = map-side combine
    assert "partial_max_by" in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_x13_bm25_plan_shape(spark):
    """BM25 scores from postings built once per documents DataFrame by
    one aggregate over the exploded tokens; repeat searches on the same
    object, with the same or other terms, start no Spark job."""
    docs = analytics.load(spark, SF, "documents")

    def search(terms):
        return lambda: text_ops.bm25_topk(docs, terms, k=10).collect()

    first, built = jobs_of(spark, search(analytics.BM25_TERMS))
    again, jobs = jobs_of(spark, search(analytics.BM25_TERMS))
    _, other_jobs = jobs_of(spark, search(("window", "dup", "absent")))
    assert built and jobs == [] and other_jobs == []
    assert again == first and len(first) == 10
    p = "\n".join(executed_plans(spark, built))
    assert "Generate" in p and "HashAggregate" in p, p


def test_v10_kmeans_assign_is_broadcast(spark):
    """k-means ships its k centroids to every task inside the plan (the
    driver holds them between iterations), so an assignment is a
    projection — an array_min over (dist, cell) structs — and the update
    a hash aggregate: no join, no per-vector window sort and no
    SortAggregate (a min over structs would be one), neither in the
    iterations nor in the final assignment."""
    from news_crawler_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out, jobs = jobs_of(
        spark, lambda: similarity.kmeans_cells(emb, seed_ids=(0, 1, 2, 3), iters=2)
    )
    p = "\n".join(executed_plans(spark, jobs) + [plan(out)])
    assert "HashAggregate" in p, p
    for node in ("Join", "CartesianProduct", "Window", "SortAggregate"):
        assert node not in p, (node, p)


def test_t6_asof_is_window_not_range_join(spark):
    """The as-of join must never plan as a range comparison join
    (BroadcastNestedLoop/Cartesian = O(|probes|·|quotes|)): the
    union-tag-window form is Window + hash/sort aggregation only, and
    the bucketed carry computation stays a Window over bucket
    summaries."""
    from news_crawler_spark.operators import joins

    e = spark.read.parquet(f"{SF}/events.parquet")
    quotes = (
        e.filter(F.col("event_id") % 10 == 0)
        .groupBy("event_type", "ts")
        .agg(
            F.max("event_id").alias("quote_id"),
            F.max_by("value", "event_id").alias("px"),
        )
    )
    probes = e.filter(F.col("event_id") % 10 != 0).select(
        "event_id", "event_type", "ts"
    )
    p = plan(
        joins.asof_join_bucketed(
            probes,
            quotes,
            on="event_type",
            bucket_seconds=86400,
            tolerance_seconds=21600,
            quote_tiebreak="quote_id",
        )
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_t7_range_join_is_equi_bucketed(spark):
    """The containment join must reach the join operator as an EQUI join
    on (key, bucket) — SortMergeJoin or BroadcastHashJoin — with the
    exact predicate as a join condition/filter, never a
    BroadcastNestedLoopJoin over the raw inequality."""
    from news_crawler_spark.operators import joins
    from news_crawler_spark.operators.dedup import md5_hash64

    e = spark.read.parquet(f"{SF}/events.parquet")
    # every 37th event opens a 1 min - 2 h interval on its event_type
    dur = 60 + F.pmod(
        md5_hash64(F.concat(F.lit("iv:"), F.col("event_id").cast("string"))),
        F.lit(7200),
    )
    intervals = e.filter(F.col("event_id") % 37 == 0).select(
        F.col("event_id").alias("interval_id"),
        "event_type",
        F.col("ts").alias("start_ts"),
        (F.col("ts").cast("timestamp").cast("long") + dur)
        .cast("timestamp")
        .cast(e.schema["ts"].dataType.simpleString())
        .alias("end_ts"),
    )
    points = e.filter(F.col("event_id") % 37 != 0).select(
        "event_id", "event_type", "ts"
    )
    p = plan(
        joins.range_join_bucketed(
            points, intervals, bucket_seconds=3600, on="event_type"
        )
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p)


def test_x15_kmv_two_phase_bounded(spark):
    """The KMV sketch aggregation must be the two-phase bounded form:
    collect_set appears only under per-partition / per-group hash
    aggregates (ObjectHashAggregate), with no window sort over the full
    hash set and no nested-loop join anywhere."""
    from news_crawler_spark.operators import dedup, sketch, text

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hashed = (
        docs.withColumn("__toks", text.tokens_col("text"))
        .select(
            "doc_id",
            "source",
            F.explode(dedup.shingles_from_tokens(F.col("__toks"))).alias("g"),
        )
        .select("doc_id", "source", sketch.md5_hash60(F.col("g")).alias("h"))
    )
    direct = sketch.kmv_bottom_k(hashed, ["source"], "h", 128)
    shards = [
        sketch.kmv_bottom_k(
            hashed.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i),
            ["source"],
            "h",
            128,
        )
        for i in range(4)
    ]
    merged = sketch.kmv_merge(shards, ["source"], 128).withColumnRenamed(
        "mins", "mins_merged"
    )
    p = plan(sketch.with_kmv_estimate(direct, 128).join(merged, "source"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "ObjectHashAggregate" in p


def test_x16_countmin_estimate_join_is_broadcast(spark):
    """Count-min point queries join against a depth×width table (tiny by
    construction): that join must broadcast, and nothing in the query
    may plan a nested loop."""
    from news_crawler_spark.operators import sketch

    e = spark.read.parquet(f"{SF}/events.parquet")
    table = sketch.countmin_table(e, ["event_type"], "user_id", 4, 64)
    keys = e.select("event_type", "user_id").distinct()
    p = plan(
        sketch.countmin_estimate(keys, table, ["event_type"], "user_id", 4, 64)
    )
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


# Spark jobs the corpus build (x14 + d5 + x21 at sf0.001, each result
# persisted and counted) starts: 38 measured (11 + 11 + 16), plus 10%
CORPUS_BUILD_JOBS = 41


def test_corpus_build_jobs_and_no_python_tasks(spark):
    """The corpus build runs on the JVM and starts no job that only
    recomputes or re-checks something: none of its plans holds a Python
    stage (MinHash, shingles and k-means are expressions) or a
    SortAggregate, and the three queries stay within their job budget."""
    from pyspark import StorageLevel

    total = 0
    for name in ("x14_corpus_build", "d5_dup_clusters", "x21_semdedup"):

        def build():
            df = getattr(analytics, name)(spark, SF).persist(StorageLevel.MEMORY_AND_DISK)
            df.count()
            return df

        df, jobs = jobs_of(spark, build)
        df.unpersist()
        p = "\n".join(executed_plans(spark, jobs))
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "SortAggregate"):
            assert node not in p, (name, node)
        total += len(jobs)
    assert total <= CORPUS_BUILD_JOBS, total


def test_x21_semdedup_pairs_join_is_cell_equi(spark):
    """SemDeDup's pair generation must shuffle on the CELL key (an
    equi-join: pair work = Σ_c |c|²) with the integer dup test riding
    inside the join condition — a CartesianProduct / nested-loop means
    Catalyst failed to extract the cell equality and the operator
    degenerated to corpus-quadratic."""
    from news_crawler_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan(similarity.semdedup(emb, seed_ids=(0, 1), iters=2))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "cell" in p, p


def test_x29_reps_are_partial_aggregate_no_window(spark):
    """x29: the survivor selection must be a partial (map-side) max_by
    aggregate on cluster_id — never a per-cluster window sort."""
    from news_crawler_spark.operators import dedup as dedup_ops

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(dedup_ops.cluster_representatives(clusters, docs))
    assert "Window" not in p, p
    assert "partial_max_by" in p or ("max_by" in p and "partial" in p.lower()), p


def test_x31_qsketch_two_phase_bounded(spark):
    """The quantile sketch must aggregate in the x15 two-phase bounded
    shape (ObjectHashAggregate over per-partition slices), with no
    nested loop anywhere and no full-table window sort feeding the
    SAMPLE side."""
    from news_crawler_spark.operators import sketch

    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("v_micro"),
    )
    direct = sketch.qsketch_bottom_k(e, ["event_type"], "event_id", "v_micro", 256)
    shards = [
        sketch.qsketch_bottom_k(
            e.filter(F.pmod(F.col("event_id"), F.lit(4)) == i),
            ["event_type"], "event_id", "v_micro", 256,
        )
        for i in range(4)
    ]
    merged = sketch.qsketch_merge(shards, ["event_type"], 256).withColumnRenamed(
        "sample", "sample_merged"
    )
    probs = [("p50_est", 1, 2), ("p90_est", 9, 10), ("p99_est", 99, 100)]
    p = plan(sketch.qsketch_quantiles(direct, probs).join(merged, "event_type"))
    assert "ObjectHashAggregate" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_bucketed_id_join_colocates_no_exchange(spark, tmp_path):
    """The docstring claim behind payload_filtered_topk / the embed
    reconcile — 'at scale both sides are bucketed by id so the join
    co-locates' — demonstrated: both tables written bucketBy(8, vec_id),
    the id join plans a SortMergeJoin with ZERO Exchange on either side
    (Bucketed: true, all buckets selected). The shuffle a 10⁹-row
    vectors⋈payload join would otherwise pay disappears at the layout
    level."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/wh'")
    try:
        emb = spark.read.parquet(SF + "/embeddings.parquet")
        emb.write.bucketBy(8, "vec_id").sortBy("vec_id").mode(
            "overwrite"
        ).saveAsTable("bdemo.vecs")
        emb.select("vec_id", "label").write.bucketBy(8, "vec_id").sortBy(
            "vec_id"
        ).mode("overwrite").saveAsTable("bdemo.payload")
        j = spark.table("bdemo.vecs").hint("merge").join(
            spark.table("bdemo.payload"), "vec_id"
        )
        p = explain_formatted(j)
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, p
        assert "Bucketed: true" in p, p
    finally:
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")


def test_aqe_splits_skewed_join_partitions(spark):
    """X4's salting covers the python fetch stage; SHUFFLE-JOIN skew is
    handled by AQE's skew-join — prove the knob engages on this session
    config and splits the hot partition with identical results. The
    byte thresholds are lowered for the probe (the defaults are sized
    for executor-scale partitions, not a local test): at production
    sizes the same plan rewrite fires at the default 256MB threshold."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        K = 200
        left = spark.range(1_000_000).select(
            F.when(F.col("id") % 2 == 0, 7)
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(K)))
            .alias("k"),
            F.col("id").alias("lv"),
        )
        right = spark.range(K).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
        )

        def total(skew_on):
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower()
            )
            agg = left.join(right, "k").agg(
                F.sum(F.col("lv") + F.col("rv")).alias("s")
            )
            s = agg.collect()[0]["s"]
            return s, agg._jdf.queryExecution().executedPlan().toString()

        s_on, p_on = total(True)
        s_off, p_off = total(False)
        assert s_on == s_off  # the rewrite never changes the answer
        assert "skew=true" in p_on, p_on
        assert "skew=true" not in p_off
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
