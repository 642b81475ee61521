"""``corpus`` workload: analytics over stored articles, no crawl layer.

Set-up writes a fixed synthetic corpus (``documents`` + ``embeddings``
parquet, the shape of the repo's sf0.1 test tables: 10-100 words over a
30-word vocabulary, ~5% near-duplicates tagged ``dup``, a few exact
copies, unit-norm 64-d vectors with 10 labels) — the same corpus on every
seed — and warms the search plans with one top-k and two BM25 searches.

Batch phase: one pass over the build queries ``x14_corpus_build``,
``d5_dup_clusters`` and ``x21_semdedup``, each result persisted and
counted so the whole output is materialized; ``batch_cpu_ms_per_row`` =
CPU of the pass per corpus row (documents + embeddings).

Request phase: a closed loop, one client, of seeded top-10 searches,
one ``similarity.topk_cosine`` to two ``text.bm25_topk`` in turn, each
forced with ``.collect()``; ``request_cpu_p50_s`` is the median CPU of a
search, over at least ``min_searches`` of them. The seed picks the query
vectors and terms.

Timings are CPU time of the process tree (``common.tree_cpu_s``); the
wall-clock figures are the ``wall.*`` per-layer metrics.

Checks, after the timers: the build results, collected from the
persisted outputs, value-match their DuckDB twins in ``analytics``
(``X14_SQL``, ``D5_SQL``, ``X21_SQL``), and every timed search
value-matches the ``V1_SQL`` / ``X13_SQL`` shape with its seeded
parameters.
"""

from __future__ import annotations

import random
import statistics
import time
from collections import Counter
from decimal import Decimal
from pathlib import Path

from . import common
from .tracer import Tracer

SIZES = {
    "full": {"docs": 800, "vecs": 300, "warm_searches": 12, "min_searches": 24},
    "tiny": {"docs": 300, "vecs": 120, "warm_searches": 3, "min_searches": 12},
}
CORPUS_SEED = 42  # the corpus is fixed; --seed picks the queries
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "de", "es", "fr")
BUILD = ("x14_corpus_build", "d5_dup_clusters", "x21_semdedup")
BUILD_SQL = {"x14_corpus_build": "X14_SQL", "d5_dup_clusters": "D5_SQL", "x21_semdedup": "X21_SQL"}


def write_corpus(out: Path, n_docs: int, n_vecs: int, seed: int = CORPUS_SEED) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier doc
            words = [w for w in texts[int(rng.integers(0, i))].split(" ") if w != "dup"]
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        out / "documents.parquet",
    )
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }),
        out / "embeddings.parquet",
    )


def queries(seed: int, n: int, n_vecs: int) -> list[tuple]:
    """Searches alternating one (topk, vec_id) with two (bm25, terms).

    A BM25 search costs about twice a cosine top-k here; with a 1:1 mix
    the median falls in the gap between the two latency modes and jumps
    between them from run to run (19% spread over ten seeds). At 1:2 the
    median and the p75 both fall inside the BM25 mode."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        if i % 3 == 0:
            out.append(("topk", rng.randrange(n_vecs)))
        else:
            out.append(("bm25", ("dup", *rng.sample([w for w in VOCAB if w != "dup"], 2))))
    return out


# ------------------------------------------------------------ DuckDB twins
def twin_sql(kind: str, arg) -> str:
    """The analytics oracle SQL with this search's parameters."""
    from news_crawler_spark import analytics

    if kind == "topk":
        q = analytics.QUERY_VEC_ID
        sql = analytics.V1_SQL.replace(f"vec_id = {q})", f"vec_id = {arg})").replace(
            f"vec_id <> {q}", f"vec_id <> {arg}")
    else:
        sql = analytics.X13_SQL.replace(repr(analytics.BM25_TERMS), repr(tuple(arg)))
    want = f"vec_id <> {arg}" if kind == "topk" else repr(tuple(arg))
    if want not in sql:
        raise RuntimeError(f"could not parameterize the {kind} twin")
    return sql


def _norm(v):
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(round(v, 6))
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def same_rows(cols: list[str], rows, twin_cols: list[str], twin_rows) -> bool:
    """Order-insensitive value match keyed by column name."""
    if sorted(cols) != sorted(twin_cols):
        return False

    def bag(cs, rs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        return Counter(tuple(_norm(r[i]) for i in order) for r in rs)

    return bag(cols, rows) == bag(twin_cols, twin_rows)


class Twins:
    def __init__(self, corpus_dir: Path):
        import duckdb

        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir / (t + '.parquet')}'")

    def rows(self, sql: str) -> tuple[list[str], list]:
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def close(self) -> None:
        self.con.close()


# --------------------------------------------------------------------- run
def build_pass(spark, sf: str, tracer) -> dict:
    """Every build query, its result persisted and counted so the whole
    output is materialized; returns the persisted DataFrames."""
    from pyspark import StorageLevel
    from news_crawler_spark import analytics

    out = {}
    for name in BUILD:
        # inside the span: d5 and x21 run their iterations eagerly when called
        with tracer.span(f"analytics.{name}", jobs=True):
            df = getattr(analytics, name)(spark, sf).persist(StorageLevel.MEMORY_AND_DISK)
            df.count()
        out[name] = df
    return out


def _search(docs, emb, q):
    from news_crawler_spark.operators import similarity, text

    kind, arg = q
    if kind == "topk":
        df = similarity.topk_cosine(emb, arg, k=10)
    else:
        df = text.bm25_topk(docs, arg, k=10)
    return df.columns, df.collect()


def run(spark, work: Path, seed: int, seconds: float, tracer, res: common.Result,
        size_name: str = "full", corrupt: bool = False) -> None:
    from news_crawler_spark import analytics

    size = SIZES[size_name]
    with common.CpuTimer() as t_setup:
        cdir = work / "corpus"
        write_corpus(cdir, size["docs"], size["vecs"])
        sf = str(cdir)
        docs, emb = analytics.load(spark, sf, "documents"), analytics.load(spark, sf, "embeddings")
        # warm-up: one build pass and a run of searches with other
        # parameters, so the timed phases run JIT-compiled code
        for df in build_pass(spark, sf, Tracer(spark, False)).values():
            df.unpersist()
        for q in queries(seed + 1_000_003, size["warm_searches"], size["vecs"]):
            _search(docs, emb, q)
        settle = common.jit_settle(spark)
    res.setup(t_setup)
    res.report.append(f"corpus setup: wall={t_setup.wall:.3f}s cpu={t_setup.cpu:.2f}s jit settle={settle:.1f}s")

    # ---- batch phase: one build pass (timed) ---------------------------------
    rows = size["docs"] + size["vecs"]
    with tracer.span("build"), common.CpuTimer() as t_build:
        res.attempted += len(BUILD)
        built = build_pass(spark, sf, tracer)
    res.metrics["batch_cpu_ms_per_row"] = 1000.0 * t_build.cpu / rows
    res.metrics["wall.batch_per_s"] = rows / t_build.wall
    results = {name: (df.columns, df.collect()) for name, df in built.items()}
    for df in built.values():
        df.unpersist()

    # ---- request phase: closed-loop searches ---------------------------------
    plan = queries(seed, 10_000, size["vecs"])
    done = []  # (query, latency, cols, rows, cpu)
    clock = common.Clock(seconds)
    with tracer.span("search"):
        while len(done) < size["min_searches"] or not clock.expired():
            q = plan[len(done)]
            res.attempted += 1
            name = "similarity.topk" if q[0] == "topk" else "text.bm25"
            with tracer.span(name, jobs=True), common.CpuTimer() as t:
                cols, out = _search(docs, emb, q)
            done.append((q, t.wall, cols, out, t.cpu))
    lats, cpus = [d[1] for d in done], [d[4] for d in done]
    res.metrics["request_cpu_p50_s"] = common.percentile(cpus, 50)
    tail = common.tail_percentile(len(lats))
    res.metrics["request.cpu_tail_s"] = common.percentile(cpus, tail)
    res.metrics["wall.request_p50_s"] = common.percentile(lats, 50)
    res.metrics["wall.request_tail_s"] = common.percentile(lats, tail)
    res.report.append(
        f"corpus: build wall={t_build.wall:.3f}s cpu={t_build.cpu:.2f}s "
        f"rows={ {k: len(v[1]) for k, v in results.items()} } searches={len(lats)} "
        f"(tail=p{tail}, the highest with >=10 beyond)"
    )

    if tracer.enabled:
        _replay(spark, sf, docs, tracer, res)

    # ---- checks (outside the timed window) -----------------------------------
    t_c = time.perf_counter()
    twins = Twins(cdir)
    try:
        for name in BUILD:
            tc, tr = twins.rows(getattr(analytics, BUILD_SQL[name]))
            cols, rows = results[name]
            if corrupt and name == BUILD[0]:
                rows = rows[1:]
            if not res.check(same_rows(cols, rows, tc, tr), f"{name}: result differs from its DuckDB twin"):
                res.failed += 1
        for q, _lat, cols, rows, _cpu in done:
            tc, tr = twins.rows(twin_sql(*q))
            if not res.check(same_rows(cols, rows, tc, tr), f"search {q}: differs from its DuckDB twin"):
                res.failed += 1
    finally:
        twins.close()
    res.report.append(f"corpus checks: {time.perf_counter() - t_c:.3f}s")


def _replay(spark, sf, docs, tracer, res) -> None:
    """d5 split at its layer boundary: the MinHash-LSH pair stage forced
    on its own, then the clustering over the persisted pairs."""
    from pyspark import StorageLevel
    from news_crawler_spark import analytics
    from news_crawler_spark.operators import dedup

    with tracer.span("replay"):
        with tracer.span("dedup.minhash_lsh", jobs=True):
            pairs = dedup.minhash_lsh_pairs(docs, threshold=analytics.JACCARD_THRESHOLD)
            pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
            n_pairs = pairs.count()
        with tracer.span("dedup.clusters", jobs=True):
            dedup.duplicate_clusters(pairs).count()
        pairs.unpersist()

    dur = tracer.duration
    m = res.metrics
    m["dedup.minhash_lsh.s"] = dur(tracer.named("dedup.minhash_lsh")[0])
    m["dedup.clusters.s"] = dur(tracer.named("dedup.clusters")[0])
    m["dedup.pairs"] = n_pairs
    m["similarity.semdedup.s"] = dur(tracer.named("analytics.x21_semdedup")[0])
    m["analytics.x14.s"] = dur(tracer.named("analytics.x14_corpus_build")[0])
    searches = tracer.named("similarity.topk") + tracer.named("text.bm25")
    m["similarity.topk.s"] = statistics.median([dur(s) for s in tracer.named("similarity.topk")])
    m["text.bm25.s"] = statistics.median([dur(s) for s in tracer.named("text.bm25")])
    m["search.jobs_per_query"] = statistics.median([s["jobs"] for s in searches])
    phases = tracer.named("build") + tracer.named("search")
    m["trace.overhead_share"] = tracer.overhead_s / sum(dur(s) for s in phases)
    res.report.append(
        f"corpus replay: pairs={n_pairs}; d5 real {dur(tracer.named('analytics.d5_dup_clusters')[0]):.3f}s "
        f"vs lsh+clusters {m['dedup.minhash_lsh.s'] + m['dedup.clusters.s']:.3f}s"
    )
