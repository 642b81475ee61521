"""Vector similarity search over an embedding column.

The reference's search surface is Qdrant cosine top-10 with payload
(search_news.py:64-88; HNSW config vector_db_manager.py:135-147). The
exact-match equivalents here (SURVEY.md T5/E2):

- brute-force cosine top-k: JVM-side fold (zip_with + aggregate) — the
  oracle-able baseline; at 100 TB this is one scan + a k-row final sort
  (Spark's TakeOrderedAndProject, no full sort, no collect).
- IVF-style probed search: restrict the scan to the query's cell
  (partition pruning on the cell column turns top-k into a scan of
  1/n_cells of the data) — the scale path. Here cells come from the
  given ``label`` column; ``ivf_assign`` builds cells from centroids
  when none exist.
- cosine near-dup pairs: block self-join for the pipeline dedup tier.

All math in double precision, deterministic fold order, rounded on
output so the DuckDB oracle (list_cosine_similarity) hashes identically.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda s, x: s + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_cosine(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against the stored vector ``query_vec_id``.

    The 1-row query side is broadcast; the scan side never shuffles —
    the plan is Scan → Project(cosine) → TakeOrderedAndProject(k).
    """
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q))
        .withColumn("score", F.round(cosine(F.col(vec_col), F.col("__qvec")), 4))
        .drop("__qvec", vec_col)
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def ivf_probe_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style search: probe only the query's cell. With the table
    written partitioned by the cell column, Catalyst prunes every other
    partition — the scan cost drops by ~n_cells at identical code."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec"), F.col(cell_col).alias("__qcell")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q), on=F.col(cell_col) == F.col("__qcell"))
        .withColumn("score", F.round(cosine(F.col(vec_col), F.col("__qvec")), 4))
        .drop("__qvec", "__qcell", vec_col)
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def payload_filtered_topk(
    embeddings: DataFrame,
    payload: DataFrame,
    predicate: Column,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Payload-filtered cosine top-k — the reference's filtered Qdrant
    search (search_news.py:83-88 filters by source/keywords/published
    timestamp against the payload indexes built in
    create_vector_db_index.py:77-98).

    ``payload`` carries one row per vector id with the filterable
    attributes (id_col must match). The predicate is applied to the
    payload BEFORE anything touches a vector: Catalyst pushes it into the
    payload scan, the surviving ids semi-join the vector table (at scale
    both sides are bucketed by id, so this is a co-located join), and
    only the filtered slice is scored. The plan ends in
    TakeOrderedAndProject(k) — no global sort, no post-scoring filter.
    """
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec")
    )
    keep_ids = payload.filter(predicate).select(id_col)
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .join(keep_ids, id_col, "left_semi")
        .join(F.broadcast(q))
        .withColumn("score", F.round(cosine(F.col(vec_col), F.col("__qvec")), 4))
        .drop("__qvec", vec_col)
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def cell_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Per-cell element-wise mean vector — the IVF coarse quantizer's
    codebook, computed from the existing cell assignment. One groupBy;
    centroid count = n_cells (tiny) → always broadcastable."""
    dim_arr = F.col(vec_col).cast("array<double>")
    return (
        embeddings.groupBy(cell_col)
        .agg(F.array_agg(dim_arr).alias("vs"), F.count("*").alias("n"))
        .select(
            F.col(cell_col).alias("cell"),
            F.transform(
                F.sequence(F.lit(0), F.size(F.element_at("vs", 1)) - 1),
                lambda i: F.aggregate(
                    "vs", F.lit(0.0), lambda s, v: s + F.element_at(v, (i + 1).cast("int"))
                )
                / F.col("n"),
            ).alias("centroid"),
        )
    )


def ivf_multiprobe_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
) -> DataFrame:
    """Multiprobe IVF: rank cells by centroid similarity to the query and
    scan only the ``n_probe`` best — the recall/cost dial every real IVF
    index exposes (probing 1 cell misses neighbors that fell just across
    a cell boundary; probing all is brute force). Scan cost =
    n_probe/n_cells of the table; with the table written partitioned by
    the cell column, the non-probed partitions are pruned at the source.

    Plan shape: centroids (tiny) broadcast → top-n_probe cell ids (tiny)
    broadcast-semi-join the vector scan → TakeOrderedAndProject(k)."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec")
    )
    cents = cell_centroids(embeddings, vec_col, cell_col)
    probed = (
        cents.join(F.broadcast(q))
        .withColumn("__cscore", cosine(F.col("centroid"), F.col("__qvec")))
        .orderBy(F.desc("__cscore"), F.col("cell"))
        .limit(n_probe)
        .select(F.col("cell").alias(cell_col))
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(probed), cell_col, "left_semi")
        .join(F.broadcast(q))
        .withColumn("score", F.round(cosine(F.col(vec_col), F.col("__qvec")), 4))
        .drop("__qvec", vec_col)
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One k-means-style assignment pass: centroids = per-seed-cell mean
    (seed cell = vec_id mod n_cells — deterministic, no RNG), then each
    vector moves to its nearest centroid. Centroids are tiny → broadcast;
    the big side is a single scan. Iterate for real k-means."""
    seeded = embeddings.withColumn("__cell", F.pmod(F.col(id_col), F.lit(n_cells)))
    dim_arr = F.col(vec_col).cast("array<double>")
    cents = (
        seeded.groupBy("__cell")
        .agg(F.array_agg(dim_arr).alias("vs"), F.count("*").alias("n"))
        .select(
            F.col("__cell").alias("cell"),
            F.transform(
                F.sequence(F.lit(0), F.size(F.element_at("vs", 1)) - 1),
                lambda i: F.aggregate(
                    "vs", F.lit(0.0), lambda s, v: s + F.element_at(v, (i + 1).cast("int"))
                )
                / F.col("n"),
            ).alias("centroid"),
        )
    )
    assigned = (
        embeddings.join(F.broadcast(cents))
        .withColumn("__d", cosine(F.col(vec_col), F.col("centroid")))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.desc("__d"), F.col("cell"))
            ),
        )
        .filter(F.col("__rk") == 1)
        .select(*embeddings.columns, F.col("cell"))
    )
    return assigned


# Lloyd tier crossover, in distance evaluations (n_points × k) per
# assignment pass at this engine's dim-64 vectors: the GEMM tier pays a
# fixed per-iteration toll (a k-row collect job + the Arrow round trip),
# the expression tier pays interpreted ArrayAggregate per eval.
# Measured (local[32], warm, interleaved reps): 2k×8 = 16k evals ties
# (1.7 s both), 2k vectors × 8 sub × 16 codes = 256k evals blocked wins
# (1.35 vs 1.40 s warm, 2.1 vs 4.9 s cold), 20k×80 = 1.6M evals blocked
# wins 2.3× (2.2 vs 5.0 s) — so the boundary sits near 10⁵ and GROWS
# in blocked's favor with size (the semdedup_prune_blocked curve).
_LLOYD_BLOCKED_MIN_EVALS = 100_000


def kmeans_cells(
    embeddings: DataFrame,
    seed_ids: tuple[int, ...] = tuple(range(8)),
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    return_centroids: bool = False,
) -> DataFrame:
    """Exact-integer Lloyd's k-means over the embedding column —
    corpus clustering for training-mixture balancing (group docs by
    embedding region, then sample/weight per cluster). ``ivf_assign``
    is one float assignment pass; this is the full loop, made
    BIT-DETERMINISTIC so a SQL twin reproduces every iteration:

    - components quantized to BIGINTs via the proven sign-LSH recipe
      (``quantize_vec``: floor(v·1e6+0.5) — no round-half tie rules);
    - distances are integer squared-L2 (|diff|² ≤ (2·2⁶⁰ᵏ)²·dim ≪ 2⁶³
      at unit-scale dim-64 embeddings), ties broken by cell id;
    - centroid update is floor(sum/n) per component: sums ≤ 2⁶³ stay
      exact, the double division is correctly rounded and cannot cross
      an integer boundary for rationals this size, so floor(double) ==
      the true rational floor in BOTH engines.

    Init: cell c = the quantized vector of seed_ids[c] (deterministic,
    no RNG). An emptied cell simply drops out of later iterations —
    identical behavior in the SQL twin.

    Shape per iteration: one broadcast join against k centroid rows
    (k ≈ 8-65k, always broadcastable) + one posexplode groupBy on
    (cell, component) for the update — both linear in rows·dim, no
    all-pairs anywhere; per-iteration centroids are eagerly
    checkpointed (8 rows) so the lineage stays O(1) deep however many
    iterations run (the d5 label-propagation pattern). At 100 TB run
    the update on a deterministic hash-sample of the corpus (the
    codebook needs ~10⁶ points, not 10¹⁰) and keep the final full-scan
    assignment — same operators, one extra filter.

    Returns ``(vec_id, cell, dist)`` — the final assignment — or, with
    ``return_centroids``, the tuple ``(assignment, centroids)`` where
    centroids is the ``(cell, cv)`` frame the final assignment used.
    """
    # Tier choice, size-adaptive (both tiers bit-identical —
    # kmeans_assign_blocked's <2⁵³ argument, fixture-pinned): see
    # _LLOYD_BLOCKED_MIN_EVALS for the measured crossover. The count
    # runs on the SOURCE frame, where a parquet-backed scan answers it
    # from footer stats — not on the quantized projection.
    use_blocked = (
        embeddings.count() * max(1, len(seed_ids)) >= _LLOYD_BLOCKED_MIN_EVALS
    )

    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    )
    if use_blocked:
        # the GEMM assignment reads ‖v‖² per row; the expression tier
        # derives the distance directly and never needs it
        sq = F.aggregate(
            F.zip_with("iv", "iv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        vecs = vecs.withColumn("n2", sq)
    vecs = vecs.localCheckpoint(eager=True)
    cents = (
        vecs.filter(F.col("vec_id").isin(*seed_ids))
        .select(F.col("vec_id").alias("cell"), F.col("iv").alias("cv"))
        .localCheckpoint(eager=True)
    )

    def assign(cent: DataFrame) -> DataFrame:
        if use_blocked:
            return kmeans_assign_blocked(vecs, cent)
        d = F.aggregate(
            F.zip_with("iv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return (
            vecs.join(F.broadcast(cent))
            .withColumn("dist", d)
            .groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cell")).alias("m"))
            .select(
                "vec_id", F.col("m.cell").alias("cell"), F.col("m.dist").alias("dist")
            )
        )

    def _mean_fn(key, pdf):
        # floor(sum/n) per component with the SAME arithmetic as the
        # expression tier (exact int64 sum → IEEE double division →
        # floor), so the update is bit-identical to the posexplode +
        # floor(sum/count) chain — at 1/dim the shuffled rows
        import numpy as np
        import pandas as pd

        V = np.stack(pdf["iv"].to_numpy()).astype(np.int64)
        cv = np.floor(V.sum(axis=0).astype(np.float64) / len(pdf)).astype(
            np.int64
        )
        return pd.DataFrame({"cell": [key[0]], "cv": [cv]})

    def update(a: DataFrame) -> DataFrame:
        if use_blocked:
            return (
                a.select("vec_id", "cell")
                .join(vecs, "vec_id")
                .select("cell", "iv")
                .groupBy("cell")
                .applyInPandas(_mean_fn, "cell long, cv array<long>")
            )
        return (
            a.join(vecs, "vec_id")
            .select("cell", F.posexplode("iv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.floor(F.sum("x") / F.count("*")).alias("cx"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("ps"))
            .select("cell", F.transform("ps", lambda s: s["cx"]).alias("cv"))
        )

    for _ in range(iters - 1):
        cents = update(assign(cents)).localCheckpoint(eager=True)
    if return_centroids:
        # (assignment, the centroids that PRODUCED it) — what a
        # residual quantizer (ivfpq_topk_rerank) needs
        return assign(cents), cents
    return assign(cents)


def _score_at_least(threshold: float) -> Column:
    """``cosine(va, vb)`` rounded to 4 places, EVALUATED ONCE, with
    sub-threshold rows dropped — as one Generate expression.

    The obvious ``withColumn("score", …).filter(score >= t)`` is a trap:
    PushDownPredicates substitutes the projected expression into the
    predicate (and here, into the join condition), so every candidate
    pair paid the cosine aggregate TWICE. Exploding a 0/1-element
    conditional array computes the score once per row and drops the row
    when the array is empty — a filter Catalyst cannot tear apart. Same
    let_bound discipline as the winnow/simhash fixes (text.let_bound)."""
    from .text import let_bound

    return F.explode(
        let_bound(
            F.round(cosine(F.col("va"), F.col("vb")), 4),
            lambda s: F.when(s >= F.lit(threshold), F.array(s)).otherwise(
                F.array().cast("array<double>")
            ),
        )
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a<b, cosine >= threshold).

    Exact block self-join — the oracle tier. At 100 TB scale, bucket by a
    sign-LSH of the vector first (simhash the float signs against fixed
    hyperplanes) and join within buckets; the verify math is this same
    expression.

    The probe side is spread to cluster parallelism first: a small
    parquet table scans as 1-2 partitions, and the broadcast self-join
    inherits that, serializing n²/2 interpreted cosine evaluations onto
    as many cores (measured 36-46 s for x27's 2 M pairs on 2 tasks;
    ~4 s spread across 32). No-op when the input already has ≥ cores
    partitions — the spread_for_cpu contract.
    """
    from .dedup import spread_for_cpu

    a = spread_for_cpu(embeddings).select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb")
    )
    return a.join(b, F.col("a_id") < F.col("b_id")).select(
        "a_id", "b_id", _score_at_least(threshold).alias("score")
    )


# sign-LSH quantization scale: components become floor(v·1e6 + 0.5)
# BIGINTs, so every bucket computation below is exact integer arithmetic
SIGNLSH_QUANT = 1_000_000


def signlsh_bits_for(n_vectors: int, target_occupancy: int = 5, floor: int = 8) -> int:
    """The sizing rule ``lsh_cosine_pairs`` callers must apply at scale:
    bits_per_table ≈ log2(n / target_occupancy). The banded candidate
    join is QUADRATIC in bucket occupancy (expected pairs ≈ tables ·
    2^bits · C(n/2^bits, 2)), so fixed bits turn a 10× corpus into
    ~100× candidate pairs; one extra bit per corpus doubling keeps the
    candidate volume linear in n. Raising bits lowers per-table recall
    for a fixed table count; compensate with n_tables when the threshold
    regime demands it (recall = 1-(1-p^bits)^tables, p = 1-acos(c)/π)."""
    import math

    return max(floor, math.ceil(math.log2(max(n_vectors, 2) / target_occupancy)))


def hyperplane_weights(n_bits: int, dim: int, seed_tag: str) -> list[list[int]]:
    """Integer hyperplane components from a pure string spec:
    ``w(i, j) = int(md5(f"hp:{seed_tag}:{i}:{j}")[:6], 16) - 2**23``.

    24-bit signed-centered weights keep the quantized dot product exactly
    representable in one BIGINT (|dot| ≤ dim · |q|max · 2²³ ≈ 2⁵³ at
    dim 64 with unit-scale embeddings), so Spark and the DuckDB oracle
    compute the SAME bucket bit-for-bit — a SQL twin recomputes this
    spec with SQL md5 over generate_series; nothing is shared but the
    spec string. Uniform symmetric weights are a valid random-hyperplane
    family (collision probability monotone in angle), and deriving them
    here (driver-side, n_bits·dim hashes, no Spark job) is cheaper than
    the round-4 design's per-row xxhash64 of every (bit, dim)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp:{seed_tag}:{i}:{j}".encode()).hexdigest()[:6], 16)
            - (1 << 23)
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def quantize_vec(vec: Column) -> Column:
    """``floor(v·1e6 + 0.5)`` per component — floor(+0.5) rounds
    identically in every engine (no round-half tie rules), making the
    sketch deterministic across Spark and the SQL twin. Expression form
    of the quantization (the production sketch does the same arithmetic
    in numpy float64, which is the same IEEE double)."""
    return F.transform(
        _as_double(vec),
        lambda x: F.floor(x * F.lit(float(SIGNLSH_QUANT)) + F.lit(0.5)).cast("long"),
    )


def _sign_lsh_buckets_udf(tables: list[list[list[int]]], dim: int):
    """Arrow-batched sketch: all tables' buckets for a batch of vectors
    as ONE int64 matmul. quantize (floor(v·1e6+0.5) in float64 = Spark's
    double), dots = Q @ Wᵀ, sign-weight by 2^(j mod bits), per-table
    sums. Exact integer arithmetic throughout (|dot| ≤ dim·|q|·2²³ ≈
    2⁵³ ≪ int64), so a DuckDB twin still recomputes the buckets
    bit-for-bit.

    Why a pandas UDF and not expressions: the higher-order-function
    formulation (transform/aggregate/zip_with over a tables·bits literal
    weight matrix) evaluated interpreted per element and re-derived the
    shared dot array per output column — its sketch stage alone took
    35 s for 500 vectors where the whole matmul-sketched query runs in
    ~3.5 s warm (measured; BENCH.md round 5). This is the "built-ins
    genuinely can't express it efficiently" case: a dense integer
    GEMM."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n_tables, bits = len(tables), len(tables[0])
    W = np.array([row for t in tables for row in t], dtype=np.int64)  # (T·B, dim)
    pow_vec = np.array(
        [1 << (j % bits) for j in range(n_tables * bits)], dtype=np.int64
    )

    @pandas_udf(ArrayType(LongType()))
    def buckets_fn(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        Q = np.floor(V * SIGNLSH_QUANT + 0.5).astype(np.int64)  # (n, dim)
        D = Q @ W.T                                             # (n, T·B)
        B = np.where(D > 0, pow_vec, 0).reshape(len(Q), n_tables, bits).sum(axis=2)
        return pd.Series(list(B))

    return buckets_fn


def lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 8,
    bits_per_table: int = 8,
    dim: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Scale path for ``cosine_pairs``: sign-LSH bucketing, then exact
    cosine verification of candidates only.

    Each of ``n_tables`` hash tables buckets on ``bits_per_table`` sign
    bits; pairs colliding in ≥1 table are verified with the exact cosine
    expression. Candidate volume is O(n·tables + collisions) instead of
    O(n²). Recall for a pair at cosine c is 1-(1-p^b)^t with
    p = 1-acos(c)/π — tests/test_pipeline_ops.py pins recall vs the
    exact op. Since round 5 the sketch is integer-exact (quantized
    components × md5-derived integer hyperplanes), so the WHOLE pipeline
    — buckets, candidates, verified pairs — is value-hash-gated against
    a DuckDB twin that recomputes it (v8_signlsh_pairs), closing the
    round-4 verdict's "recall-pinned only" gap.

    The 1-row ``first()`` reads the vector dimension (hyperplanes are
    dim-shaped); pass ``dim`` to skip it.
    """
    from pyspark import StorageLevel

    if dim is None:
        first = embeddings.select(vec_col).first()
        if first is None:
            return embeddings.sparkSession.createDataFrame(
                [], "a_id long, b_id long, score double"
            )
        dim = len(first[0])
    tables = [
        hyperplane_weights(bits_per_table, dim, f"t{t}") for t in range(n_tables)
    ]
    buckets_fn = _sign_lsh_buckets_udf(tables, dim)
    sketched = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        buckets_fn(F.col(vec_col)).alias("__bk"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    buckets = sketched.select(
        "vid", F.posexplode("__bk").alias("table", "bucket")
    )
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["table", "bucket"])
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("a_id"), F.col("y.vid").alias("b_id"))
        .distinct()
    )
    vecs = sketched.select("vid", "vec")
    out = (
        cand.join(vecs.withColumnRenamed("vid", "a_id").withColumnRenamed("vec", "va"), "a_id")
        .join(vecs.withColumnRenamed("vid", "b_id").withColumnRenamed("vec", "vb"), "b_id")
        .select("a_id", "b_id", _score_at_least(threshold).alias("score"))
    )
    # materialize, then release the persisted sketches (cache-lifetime
    # hygiene — same reasoning as dedup.minhash_lsh_pairs).
    # materialize=False keeps the plan lazy so tests can assert its
    # shape (bucketed equi-join, never an all-pairs nested loop).
    if not materialize:
        return out
    out = out.localCheckpoint(eager=True)
    sketched.unpersist()
    return out


# SemDeDup similarity threshold τ = 0.45 as a pure rational: τ² =
# SEMDEDUP_TAU_NUM / SEMDEDUP_TAU_DEN, so the cosine test can be
# cross-multiplied into integers and replayed bit-for-bit by a SQL twin.
SEMDEDUP_TAU_NUM = 2025
SEMDEDUP_TAU_DEN = 10_000


def _quantized_with_norm(
    embeddings: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """``(vec_id, iv, n2)`` — quantized components + integer squared
    norm, the prepared frame every integer-exact cosine test consumes
    (semdedup, cosine_pairs_int)."""
    qv = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    )
    sq = F.aggregate(
        F.zip_with("iv", "iv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return qv.select("vec_id", "iv", sq.alias("n2"))


def cosine_pairs_int(
    embeddings: DataFrame,
    tau_num: int = SEMDEDUP_TAU_NUM,
    tau_den: int = SEMDEDUP_TAU_DEN,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tier: str = "expression",
) -> DataFrame:
    """All pairs (a<b) with cosine ≥ τ under the INTEGER-EXACT criterion
    (τ² = tau_num/tau_den): components quantized to BIGINT
    (``quantize_vec``), test cross-multiplied to
    ``dot > 0 AND dot²·tau_den ≥ tau_num·‖a‖²·‖b‖²`` — zero float drift,
    so a SQL twin replays the pair set bit-for-bit in HUGEINT (the
    x21/x26 exactness pattern applied to the v3 pair graph).

    Two tiers, same output by construction:

    - ``expression``: block self-join with the dup test IN the join
      condition (failing candidates never materialize; the
      PushDownPredicates single-eval discipline of ``semdedup_prune``).
      Interpreted ArrayAggregate per candidate — the oracle tier.
    - ``blocked``: float64 GEMM (exact: dot's partial sums are integers
      < 2⁵³); the τ² comparison (≈2⁹³) is decided in float64 with a
      ±1e-9 relative guard band re-checked in exact python ints — the
      ``semdedup_prune_blocked`` argument, measured there ~35× over the
      interpreted fold. Two size regimes, same pair set (see
      ``_cosine_pairs_int_blocked``): a BOUNDED broadcast b side below
      ``_COSINE_BCAST_MAX`` rows, a fully distributed block-pair GEMM
      above it — no driver-side full-matrix collect anywhere. Either
      way the dot count is exhaustively O(n²); sub-quadratic needs
      bucketing first (sign-LSH ``lsh_cosine_pairs`` or the semdedup
      cells) with this same integer test as the verify.

    Returns ``(a_id, b_id)`` — the pair graph ``duplicate_clusters``
    consumes (x27). For scored float pairs, ``cosine_pairs`` is the
    operator; this one trades the score column for engine-independent
    exactness and the GEMM fast path.
    """
    v = _quantized_with_norm(embeddings, vec_col, id_col)
    if tier == "blocked":
        return _cosine_pairs_int_blocked(v, tau_num=tau_num, tau_den=tau_den)
    a = v.select(
        F.col("vec_id").alias("a_id"),
        F.col("iv").alias("va"),
        F.col("n2").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("iv").alias("vb"),
        F.col("n2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dec = "decimal(38,0)"
    dup = (dot > F.lit(0)) & (
        dot.cast(dec) * dot.cast(dec) * F.lit(tau_den).cast(dec)
        >= F.lit(tau_num).cast(dec) * F.col("na").cast(dec) * F.col("nb").cast(dec)
    )
    return a.join(b, (F.col("a_id") < F.col("b_id")) & dup).select("a_id", "b_id")


_COSINE_BCAST_MAX = 65536  # rows: bounded-broadcast regime ceiling


def _int_pair_mask(D, n2a, n2b, tau_num: int, tau_den: int, extra_mask):
    """Shared decision kernel: integer dup test over a float64 dot block
    (exact below 2⁵³) with the ±1e-9 guard band re-checked in exact
    python ints. Returns the boolean keep mask."""
    import numpy as np

    lhs = (D * D) * float(tau_den)
    rhs = float(tau_num) * (n2a[:, None] * n2b[None, :])
    pos = (D > 0) & extra_mask
    sure = pos & (lhs >= rhs * (1.0 + 1e-9))
    band = pos & ~sure & (lhs >= rhs * (1.0 - 1e-9))
    if band.any():
        bi, bj = np.nonzero(band)
        for i, j in zip(bi.tolist(), bj.tolist()):
            d = int(round(D[i, j]))
            if d * d * tau_den >= tau_num * int(round(n2a[i])) * int(
                round(n2b[j])
            ):
                sure[i, j] = True
    return sure


def _cosine_pairs_int_blocked(
    v: DataFrame, tau_num: int, tau_den: int
) -> DataFrame:
    """GEMM tier of ``cosine_pairs_int`` over a prepared
    ``(vec_id, iv, n2)`` frame — two regimes, identical pair set:

    - ``n ≤ _COSINE_BCAST_MAX``: the b side is a BOUNDED collect (≤ the
      constant, the codebook-collect discipline) shipped in the task
      closure (PySpark broadcasts a pickled command over 1 MB itself and
      ties that broadcast to the RDD's lifetime); each partition GEMMs
      against it masked to ``b_id > a_id``.
    - larger n: fully distributed block-pair GEMM — rows hash into
      ``nb = ⌈n/4096⌉`` (≤128) blocks, each row is replicated to its
      ``nb`` unordered block pairs, and one ``applyInPandas`` task
      GEMMs each pair with per-task memory bounded by TWO blocks. The
      driver never holds the matrix; the exhaustive O(n²) dot count is
      unchanged (that is the tier's contract — sub-quadratic needs
      bucketing first: sign-LSH ``lsh_cosine_pairs`` or the semdedup
      cells, with this integer test as the verify)."""
    import numpy as np

    from .dedup import spread_for_cpu

    # ONE bounded job decides the regime AND is the small-regime collect:
    # a limit(MAX+1) either returns the whole table (≤ MAX rows — the
    # bounded regime) or proves it is larger
    probe = v.limit(_COSINE_BCAST_MAX + 1).collect()
    if not probe:
        return v.sparkSession.createDataFrame([], "a_id long, b_id long")

    if len(probe) <= _COSINE_BCAST_MAX:
        rows = sorted(probe, key=lambda r: r[0])
        mats = (
            np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.float64),
            np.array([r[2] for r in rows], dtype=np.float64),
        )

        def pairs(it):
            ids_all, Q_all, n2_all = mats
            for pdf in it:
                if not len(pdf):
                    continue
                ids = pdf["vec_id"].to_numpy()
                B = np.stack(pdf["iv"].to_numpy()).astype(np.float64)
                n2 = pdf["n2"].to_numpy().astype(np.float64)
                D = B @ Q_all.T  # exact: every partial sum an integer < 2^53
                sure = _int_pair_mask(
                    D, n2, n2_all, tau_num, tau_den,
                    ids[:, None] < ids_all[None, :],
                )
                ai, bj = np.nonzero(sure)
                yield pd.DataFrame({"a_id": ids[ai], "b_id": ids_all[bj]})

        return spread_for_cpu(v).mapInPandas(pairs, "a_id long, b_id long")

    v = v.localCheckpoint(eager=True)  # the explode below re-reads it nb×
    n = v.count()
    nb = min(128, -(-n // 4096))

    def block_pairs(key, pdf):
        import numpy as np

        g1, g2 = int(key[0]), int(key[1])
        ids = pdf["vec_id"].to_numpy()
        Q = np.stack(pdf["iv"].to_numpy()).astype(np.float64)
        n2 = pdf["n2"].to_numpy().astype(np.float64)
        blk = pdf["__b"].to_numpy()
        D = Q @ Q.T
        mask = ids[:, None] < ids[None, :]
        if g1 != g2:
            # cross-block pairs only — within-block pairs belong to the
            # (b, b) group so no pair is ever emitted twice
            mask &= blk[:, None] != blk[None, :]
        sure = _int_pair_mask(D, n2, n2, tau_num, tau_den, mask)
        ai, bj = np.nonzero(sure)
        return pd.DataFrame({"a_id": ids[ai], "b_id": ids[bj]})

    blocks = v.withColumn("__b", F.pmod(F.col("vec_id"), F.lit(nb)))
    rep = blocks.withColumn(
        "__k", F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))
    ).select(
        F.least("__b", "__k").alias("__g1"),
        F.greatest("__b", "__k").alias("__g2"),
        "vec_id",
        "iv",
        "n2",
        "__b",
    )
    return rep.groupBy("__g1", "__g2").applyInPandas(
        block_pairs, "a_id long, b_id long"
    )


def semdedup(
    embeddings: DataFrame,
    seed_ids: tuple[int, ...] = tuple(range(8)),
    iters: int = 3,
    tau_num: int = SEMDEDUP_TAU_NUM,
    tau_den: int = SEMDEDUP_TAU_DEN,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tier: str = "expression",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus by embedding with the
    exact-integer k-means (``kmeans_cells``), then WITHIN each cell drop
    every document that has a ≥τ-cosine twin with a smaller id — the
    near-duplicate-*meaning* tier that byte-level MinHash/SimHash (d3/d4)
    cannot see, applied to the crawl corpus the way SemDeDup prunes
    LAION/C4 before training.

    Exactness: components quantized to BIGINT (``quantize_vec``); the
    cosine ≥ τ test is cross-multiplied into pure integers —
    ``dot > 0 AND dot²·tau_den ≥ tau_num·‖a‖²·‖b‖²`` with τ² =
    tau_num/tau_den — evaluated in decimal(38,0) (dot ≤ dim·QUANT² ≈
    6.4e13 at unit-scale dim-64, dot² ≈ 4e27 ≪ 10³⁸), so the DuckDB twin
    replays it in HUGEINT with zero float drift.

    Scale shape (the SemDeDup design point): the self-join is keyed on
    the CELL, so pair work is Σ_c |c|², never corpus-quadratic — at 10¹⁰
    docs size k ≈ N/occupancy so cells stay ~10³ and the join is
    linear·occupancy. The dup test lives IN the join condition, so
    failing candidates never materialize and the dot expression is
    evaluated exactly once per candidate (the PushDownPredicates
    re-evaluation trap — see ``_score_at_least``).

    Returns ``(vec_id, cell, kept, witness)``; kept=0 rows carry the
    smallest same-cell dup partner as the witness.
    """
    cells = kmeans_cells(
        embeddings, seed_ids=seed_ids, iters=iters, vec_col=vec_col, id_col=id_col
    ).select("vec_id", "cell")
    qv = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    )
    sq = F.aggregate(
        F.zip_with("iv", "iv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # one small frame feeds both join sides and the final left join;
    # checkpoint it so the 3-iteration k-means lineage runs once.
    v = (
        cells.join(qv, "vec_id")
        .select("vec_id", "cell", "iv", sq.alias("n2"))
        .localCheckpoint(eager=True)
    )
    prune = semdedup_prune_blocked if tier == "blocked" else semdedup_prune
    return prune(v, tau_num=tau_num, tau_den=tau_den)


def semdedup_prune(
    v: DataFrame,
    tau_num: int = SEMDEDUP_TAU_NUM,
    tau_den: int = SEMDEDUP_TAU_DEN,
) -> DataFrame:
    """The within-cell prune stage of ``semdedup``, over a prepared
    ``(vec_id, cell, iv, n2)`` frame (quantized vector + its integer
    squared norm). Exposed separately because the CELLS need not come
    from Lloyd's: at ≥10⁸ vectors assign cells with ``ivf_assign``
    against a sampled codebook (or any hash/routing scheme) — Lloyd's
    full assignment is n·k integer distances, quadratic once k tracks
    corpus size, while the prune itself stays linear·occupancy at any
    scale: double the corpus at constant occupancy → ~double the
    wall."""
    a = v.select(
        F.col("vec_id").alias("a_id"),
        "cell",
        F.col("iv").alias("va"),
        F.col("n2").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("cell").alias("cell_b"),
        F.col("iv").alias("vb"),
        F.col("n2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dec = "decimal(38,0)"
    dup = (dot > F.lit(0)) & (
        dot.cast(dec) * dot.cast(dec) * F.lit(tau_den).cast(dec)
        >= F.lit(tau_num).cast(dec) * F.col("na").cast(dec) * F.col("nb").cast(dec)
    )
    pairs = a.join(
        b,
        (F.col("cell") == F.col("cell_b")) & (F.col("a_id") < F.col("b_id")) & dup,
    )
    drops = pairs.groupBy(F.col("b_id").alias("vec_id")).agg(
        F.min("a_id").alias("witness")
    )
    return (
        v.select("vec_id", "cell")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("witness").isNull().cast("int").alias("kept"),
            "witness",
        )
    )


def semdedup_prune_blocked(
    v: DataFrame,
    tau_num: int = SEMDEDUP_TAU_NUM,
    tau_den: int = SEMDEDUP_TAU_DEN,
) -> DataFrame:
    """The GEMM tier of ``semdedup_prune`` — same contract, same output,
    bit-identical results (fixture-pinned equality), ~35× faster at 10⁵
    vectors (BENCH.md ``semdedup_prune`` probe).

    Why a pandas UDF: the expression tier evaluates its dot as an
    interpreted ArrayAggregate once per candidate pair (~560 ns/pair
    measured — CodegenFallback, the fold never enters whole-stage
    codegen), so a 2 500-occupancy cell pays 2500²·560 ns ≈ 3.5 s of
    pure interpretation. One matrix product per cell does the same
    occ²·dim multiplies at BLAS speed. This is the "built-ins genuinely
    can't express it efficiently" case, the v8 sketch argument.

    Exactness: quantized components ≤ QUANT (~5·10⁵ at unit scale), so
    every dot partial sum ≤ dim·QUANT² ≈ 1.6·10¹³ < 2⁵³ — the float64
    GEMM is EXACT (every intermediate is an integer below the mantissa
    limit). The τ² comparison needs ~2⁹³ (dot²·τ_den), so it is decided
    in float64 with a guard band: pairs within 10⁻⁹ relative of the
    boundary are re-checked in exact python integers (float64's 2⁻⁵²
    relative error makes the band conservative by ~10⁷×, and it is
    near-empty in practice — the recheck is O(dups), not O(pairs)).

    Memory: one occ²-float64 triangle per cell (~50 MB at occ 2 500) —
    bounded by the occupancy contract, the same knob that bounds the
    expression tier's pair volume. Cells stream through applyInPandas
    one group per batch; nothing global.
    """
    import numpy as np
    import pandas as pd

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        cell = pdf["cell"].iloc[0]
        Q = np.stack(pdf["iv"].to_numpy()[order]).astype(np.float64)
        n2 = pdf["n2"].to_numpy()[order].astype(np.float64)
        D = Q @ Q.T  # exact: every partial sum an integer < 2^53
        lhs = (D * D) * float(tau_den)
        rhs = float(tau_num) * (n2[:, None] * n2[None, :])
        upper = np.triu(np.ones_like(D, dtype=bool), k=1)
        pos = (D > 0) & upper
        sure = pos & (lhs >= rhs * (1.0 + 1e-9))
        band = pos & ~sure & (lhs >= rhs * (1.0 - 1e-9))
        if band.any():
            bi, bj = np.nonzero(band)
            for i, j in zip(bi.tolist(), bj.tolist()):
                d = int(round(D[i, j]))
                if d * d * tau_den >= tau_num * int(round(n2[i])) * int(
                    round(n2[j])
                ):
                    sure[i, j] = True
        has_dup = sure.any(axis=0)
        first = sure.argmax(axis=0)  # ids sorted asc → first True = min id
        witness = np.where(has_dup, ids[first], 0)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": np.full(len(ids), cell, dtype=np.int64),
                "kept": (~has_dup).astype(np.int32),
                "witness": pd.array(
                    [int(w) if h else None for w, h in zip(witness, has_dup)],
                    dtype="Int64",
                ),
            }
        )

    return v.groupBy("cell").applyInPandas(
        prune, "vec_id long, cell long, kept int, witness long"
    )


def kmeans_assign_blocked(v: DataFrame, cents: DataFrame) -> DataFrame:
    """GEMM tier of the Lloyd assignment step — bit-identical to
    ``kmeans_cells``'s expression ``assign`` (fixture-pinned), for the
    scale regime where k tracks corpus size and the expression tier's
    n·k interpreted ArrayAggregate distances dominate (the
    ``semdedup_prune_blocked`` argument applied to assignment; at 10⁸+
    vectors pair it with a hash-sampled codebook — the kmeans_cells
    docstring's scale recipe — so the full corpus pays ONE GEMM
    assignment pass and no Lloyd iterations).

    Exactness: dist = n2v + n2c − 2·dot, every term an integer ≤
    ~6·10¹³ < 2⁵³, and dot's float64 GEMM partial sums are integers
    < 2⁵³ — the whole computation is exact in float64. Ties broken by
    smallest cell id (centroids sorted by cell; ``argmin`` returns the
    first minimum) — the expression tier's ``min(struct(dist, cell))``
    rule.

    ``v`` is ``(vec_id, iv, n2)`` (quantized vectors); ``cents`` is
    ``(cell, cv)`` — collected driver-side (k rows, the broadcast-dim
    discipline: k ≤ ~10⁵ even at corpus scale). Returns
    ``(vec_id, cell, dist)``.
    """
    import numpy as np
    import pandas as pd

    rows = sorted(cents.collect(), key=lambda r: r[0])
    cells = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([r[1] for r in rows], dtype=np.float64)
    n2c = (C * C).sum(axis=1)

    def assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            Q = np.stack(pdf["iv"].to_numpy()).astype(np.float64)
            n2v = pdf["n2"].to_numpy().astype(np.float64)
            D = n2v[:, None] + n2c[None, :] - 2.0 * (Q @ C.T)
            best = D.argmin(axis=1)  # first min = smallest cell id
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cells[best],
                    "dist": D[np.arange(len(best)), best].astype(np.int64),
                }
            )

    return v.mapInPandas(assign, "vec_id long, cell long, dist long")


# --------------------------------------------------------------------------
# Product quantization (Jégou/Douze/Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) — the COMPRESSED 10⁹-vector tier.
# brute force scans dim·4 bytes/vector; IVF prunes cells but still reads
# full vectors inside them; PQ reads n_sub CODE BYTES per vector (dim 64 →
# 8 bytes, a 32× scan-size cut) and scores candidates against a query
# lookup table with n_sub integer adds — the memory-bound regime where a
# 10⁹-vector scan fits a node. Recall is approximate (quantization error);
# the production recipe is PQ-scan → exact re-rank of the top slice with
# topk_cosine, same as IVF's probe/verify split.
#
# Everything is bit-deterministic on the kmeans_cells recipe (quantized
# BIGINT components, integer squared-L2, code-id tie-break, floor(sum/n)
# centroid update, seed codebook = first k_codes vectors), so a DuckDB
# twin replays codebook training, encoding, AND the ADC scan exactly —
# v11 value-hashes every code word and every ADC distance.

PQ_SUB = 8
PQ_K = 16
PQ_ITERS = 2


def pq_codebooks(
    embeddings: DataFrame,
    n_sub: int = PQ_SUB,
    k_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-subspace codebooks: split each quantized vector into ``n_sub``
    contiguous subvectors (dim must divide evenly) and run exact-integer
    Lloyd's independently per subspace. Init: code c of every subspace =
    the subvector of vec_id c (deterministic, no RNG — the v10 seeding).
    An emptied code drops out, identically in the SQL twin.

    Shape: one posexplode (rows×n_sub subvector rows, each 1/n_sub the
    width) + per iteration one broadcast join against ≤ n_sub·k_codes
    codebook rows and one partial-agg groupBy — linear, no all-pairs.
    At 100 TB train on a deterministic hash-sample (codebooks need ~10⁶
    points); encoding (``pq_encode``) stays a full-scan map with the
    codebook inlined as a literal.

    Returns ``(sub, code, cv array<long>)``.
    """
    qv = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    )
    return pq_codebooks_iv(qv, n_sub=n_sub, k_codes=k_codes, iters=iters)


def _pq_assign_blocked(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """GEMM tier of the per-subspace Lloyd assignment — the
    ``kmeans_assign_blocked`` argument applied to subvector rows:
    codebook collected driver-side (≤ n_sub·k_codes tiny rows), batches
    grouped by subspace, dist = ‖s‖² − 2·s·c + ‖c‖² in int64 (every
    term < 2⁵³ — exact), ``argmin`` first-minimum over codes sorted
    ascending ≡ the expression tier's ``min(struct(dist, code))``
    lowest-code tie rule. Input ``(vec_id, sub, svec)``; output
    ``(vec_id, sub, code)``."""
    import numpy as np
    import pandas as pd

    by_sub = {}
    for r in cb.collect():
        by_sub.setdefault(r["sub"], []).append((r["code"], r["cv"]))
    mats = {
        s: (
            np.array([c for c, _ in sorted(rows)], dtype=np.int64),
            np.array([cv for _, cv in sorted(rows)], dtype=np.int64),
        )
        for s, rows in by_sub.items()
    }

    def assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            out_code = np.empty(len(pdf), dtype=np.int64)
            svals = pdf["sub"].to_numpy()
            V = np.stack(pdf["svec"].to_numpy()).astype(np.int64)
            for s in np.unique(svals):
                idx = np.nonzero(svals == s)[0]
                cids, CV = mats[int(s)]
                S = V[idx]
                d = (
                    (S * S).sum(axis=1)[:, None]
                    - 2 * (S @ CV.T)
                    + (CV * CV).sum(axis=1)[None, :]
                )
                out_code[idx] = cids[np.argmin(d, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "sub": svals,
                    "code": out_code.astype(np.int32),
                }
            )

    return sv.select("vec_id", "sub", "svec").mapInPandas(
        assign, "vec_id long, sub int, code int"
    )


def pq_codebooks_iv(
    ivdf: DataFrame,
    n_sub: int = PQ_SUB,
    k_codes: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """``pq_codebooks`` over an already-integer ``(vec_id, iv)`` frame —
    the entry point residual quantization (ivfpq) uses, where iv is a
    residual rather than a quantized embedding."""
    qv = ivdf
    sd = (F.size("iv") / n_sub).cast("int")
    sub_slices = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda m: F.slice("iv", m.cast("int") * sd + 1, sd),
    )
    sv = qv.select(
        "vec_id", F.posexplode(sub_slices).alias("sub", "svec")
    ).localCheckpoint(eager=True)

    cb = (
        sv.filter(F.col("vec_id") < k_codes)
        .select("sub", F.col("vec_id").cast("int").alias("code"), F.col("svec").alias("cv"))
        .localCheckpoint(eager=True)
    )

    # size-adaptive tier: see _LLOYD_BLOCKED_MIN_EVALS for the measured
    # crossover. Counted on the SOURCE frame (a parquet-backed count is
    # a footer-stats job — the projection is pruned away), n_sub
    # subvector rows per vector.
    use_blocked = ivdf.count() * n_sub * k_codes >= _LLOYD_BLOCKED_MIN_EVALS

    dist = F.aggregate(
        F.zip_with("svec", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def _mean_fn(key, pdf):
        # bit-identical to the posexplode + floor(sum/count) chain
        # (exact int64 sum → IEEE double division → floor), without
        # exploding (sub, code, pos) rows — the kmeans_cells update
        import numpy as np
        import pandas as pd

        V = np.stack(pdf["svec"].to_numpy()).astype(np.int64)
        cv = np.floor(
            V.sum(axis=0).astype(np.float64) / len(pdf)
        ).astype(np.int64)
        return pd.DataFrame(
            {"sub": [key[0]], "code": [key[1]], "cv": [cv]}
        )

    for _ in range(iters - 1):
        if use_blocked:
            a = _pq_assign_blocked(sv, cb)
            cb = (
                a.join(sv, ["vec_id", "sub"])
                .select("sub", "code", "svec")
                .groupBy("sub", "code")
                .applyInPandas(_mean_fn, "sub int, code int, cv array<long>")
                .localCheckpoint(eager=True)
            )
        else:
            a = (
                sv.join(F.broadcast(cb), "sub")
                .withColumn("dist", dist)
                .groupBy("vec_id", "sub")
                .agg(F.min(F.struct("dist", "code")).alias("m"))
                .select("vec_id", "sub", F.col("m.code").alias("code"))
            )
            cb = (
                a.join(sv, ["vec_id", "sub"])
                .select("sub", "code", F.posexplode("svec").alias("pos", "x"))
                .groupBy("sub", "code", "pos")
                .agg(F.floor(F.sum("x") / F.count("*")).alias("cx"))
                .groupBy("sub", "code")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("ps")
                )
                .select(
                    "sub", "code", F.transform("ps", lambda s: s["cx"]).alias("cv")
                )
                .localCheckpoint(eager=True)
            )
    return cb


def _collect_codebook(codebook) -> dict[int, list[tuple[int, list[int]]]]:
    """codebook DataFrame (or pre-collected rows) → {sub: [(code, cv)…]
    sorted by code}. Bounded: ≤ n_sub·k_codes rows (≤ a few thousand)."""
    rows = codebook if isinstance(codebook, list) else codebook.collect()
    by_sub: dict[int, list[tuple[int, list[int]]]] = {}
    for r in rows:
        by_sub.setdefault(r["sub"], []).append((r["code"], [int(x) for x in r["cv"]]))
    for s in by_sub:
        by_sub[s].sort()
    return by_sub


def pq_encode(
    embeddings: DataFrame,
    codebook,
    code_base: int = PQ_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iv_col: str | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as its per-subspace nearest-code ids — the
    compression scan. The codebook ships inside the task closure (≤
    n_sub·k_codes tiny rows — the broadcast-dim regime) and the argmin
    runs as a vectorized integer kernel over whole Arrow batches
    (guide §4.2: distribution/IO in Spark, per-batch math in numpy):
    no join, no shuffle, ONE scan-shaped pass over the table — the plan
    a 10⁹-row encode needs (plan-asserted exchange/join-free in
    test_plans). The previous expression tier folded a per-row
    (best_dist, best_code) accumulator through interpreted
    ArrayAggregate — measured 6× the whole encode wall at sf0.1 for
    identical codes.

    Exactness: quantization is floor(x·QUANT + 0.5) in IEEE float64
    (identical to ``quantize_vec``'s double arithmetic); distances are
    int64 sums of squared int64 differences (components ≤ ~2·QUANT, so
    every partial sum < 2⁵³ — no overflow, no rounding);
    ``np.argmin`` returns the FIRST minimal index and codes are sorted
    ascending, so the LOWEST code wins ties — the twin's ORDER BY
    dist, code (pinned bit-for-bit in tests/test_pq.py).

    Returns ``(vec_id, codes array<int>, code_word long)``, ``vec_id``
    keeping the input id column's type, where
    code_word = Σ codes[m]·code_base^m — the whole code in one BIGINT
    (n_sub·log2(code_base) ≤ 63 bits; 32 at the 8×16 default), the
    column an ADC scan actually reads.

    ``iv_col`` names an ALREADY-integer array column to encode instead
    of quantizing ``vec_col`` (the residual path); ``extra_cols`` pass
    through beside the codes (e.g. the coarse cell id).
    """
    import numpy as np

    by_sub = _collect_codebook(codebook)
    n_sub = len(by_sub)
    sd = len(by_sub[0][0][1])
    mults = np.array([code_base**m for m in range(n_sub)], dtype=np.int64)
    subs = [
        (
            np.array([c for c, _ in by_sub[m]], dtype=np.int64),
            np.array([cv for _, cv in by_sub[m]], dtype=np.int64),
        )
        for m in range(n_sub)
    ]
    src = iv_col if iv_col is not None else vec_col
    quantize = iv_col is None
    quant = float(SIGNLSH_QUANT)

    def enc_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[src].to_numpy())
            if quantize:
                V = np.floor(V.astype(np.float64) * quant + 0.5).astype(np.int64)
            else:
                V = V.astype(np.int64)
            codes = np.empty((len(pdf), n_sub), dtype=np.int64)
            for m, (cids, CV) in enumerate(subs):
                S = V[:, m * sd : (m + 1) * sd]
                # ‖s‖² − 2·s·c + ‖c‖² — all int64, exact
                d = (
                    (S * S).sum(axis=1)[:, None]
                    - 2 * (S @ CV.T)
                    + (CV * CV).sum(axis=1)[None, :]
                )
                codes[:, m] = cids[np.argmin(d, axis=1)]
            out = pdf[["vec_id", *extra_cols]].copy()
            out["codes"] = list(codes.astype(np.int32))
            out["code_word"] = codes @ mults
            yield out

    id_type = embeddings.select(F.col(id_col)).schema.fields[0].dataType.simpleString()
    extra_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in embeddings.select(*extra_cols).schema.fields
    )
    return embeddings.select(
        F.col(id_col).alias("vec_id"), *extra_cols, F.col(src)
    ).mapInPandas(
        enc_fn,
        schema=f"vec_id {id_type}{extra_schema}, codes array<int>, code_word long",
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebook,
    query_iv: list[int],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    UNquantized-by-codebook; one n_sub×k_codes lookup table of exact
    integer partial distances lut[m][c] = ‖q_m − cv_{m,c}‖² is built
    driver-side and inlined as a literal, and every row's approximate
    distance is n_sub table adds over its code array. No join, no
    shuffle: a single codes-column scan into TakeOrderedAndProject
    (plan-asserted) — the 8-bytes-per-vector scan regime.

    Returns top-k ``(vec_id, code_word, adc_dist)`` by (adc_dist, vec_id)
    — the total order that makes LIMIT deterministic in both engines.
    """
    by_sub = _collect_codebook(codebook)
    n_sub = len(by_sub)
    sd = len(by_sub[0][0][1])
    base = 1 + max(c for entries in by_sub.values() for c, _ in entries)
    lut = [0] * (n_sub * base)
    for m, entries in by_sub.items():
        q_m = query_iv[m * sd : (m + 1) * sd]
        for c, cv in entries:
            lut[m * base + c] = sum((a - b) * (a - b) for a, b in zip(q_m, cv))
    lutl = F.lit(lut)

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(
            lutl,
            (m * base + F.element_at("codes", (m + 1).cast("int")) + 1).cast("int"),
        ),
    )
    return (
        encoded.select("vec_id", "code_word", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )


def quantize_list(vec) -> list[int]:
    """Driver-side twin of ``quantize_vec`` for a single collected row —
    floor(x·QUANT + 0.5) in IEEE double, the identical arithmetic."""
    import math

    return [int(math.floor(float(x) * SIGNLSH_QUANT + 0.5)) for x in vec]


def pq_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_sub: int = PQ_SUB,
    k_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train → encode → ADC-scan, composed: the full PQ search path.
    The codebook is collected once (bounded n_sub·k_codes rows) and
    reused by both the encode literals and the ADC lookup table; the
    query vector is a 1-row bounded collect."""
    cb_rows = pq_codebooks(
        embeddings, n_sub=n_sub, k_codes=k_codes, iters=iters,
        vec_col=vec_col, id_col=id_col,
    ).collect()
    qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).head()
    query_iv = quantize_list(qrow[0])
    enc = pq_encode(
        embeddings, cb_rows, code_base=k_codes, vec_col=vec_col, id_col=id_col
    )
    return pq_adc_topk(enc, cb_rows, query_iv, k=k)


def pq_topk_rerank(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    r_cand: int = 100,
    n_sub: int = PQ_SUB,
    k_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The production PQ recipe: ADC-scan for ``r_cand`` candidates,
    then EXACT integer-L2 re-rank of just those — quantization error
    costs candidate-list width, not final precision (measured on the
    synthetic embeddings: ADC-only recall@10 = 0.2 vs exact; rerank of
    the top-100 = 0.6, top-150 = 0.8 — near-random vectors are PQ's
    worst case, and the dial is ``r_cand``).

    Scale shape: the candidate set is a bounded collect (≤ r_cand
    rows), re-fetched via an ``isin`` filter — an In-pushdown the
    parquet scan prunes with (session.py raises the In-pushdown
    threshold for it), so the re-rank touches ~r_cand rows of a 10⁹-row table, joined
    broadcast back to their ADC scores. Total order (dist, vec_id) on
    the output keeps LIMIT deterministic for the v11 twin.
    """
    cb_rows = pq_codebooks(
        embeddings, n_sub=n_sub, k_codes=k_codes, iters=iters,
        vec_col=vec_col, id_col=id_col,
    ).collect()
    qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).head()
    query_iv = quantize_list(qrow[0])
    enc = pq_encode(
        embeddings, cb_rows, code_base=k_codes, vec_col=vec_col, id_col=id_col
    )
    cand_rows = pq_adc_topk(enc, cb_rows, query_iv, k=r_cand).collect()
    cand = embeddings.sparkSession.createDataFrame(
        cand_rows, "vec_id long, code_word long, adc_dist long"
    )
    exact = F.aggregate(
        F.zip_with(
            quantize_vec(F.col(vec_col)), F.lit(query_iv), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    fetched = (
        embeddings.filter(F.col(id_col).isin([r["vec_id"] for r in cand_rows]))
        .select(F.col(id_col).alias("vec_id"), exact.alias("dist"))
    )
    return (
        fetched.join(F.broadcast(cand), "vec_id")
        .select("vec_id", "code_word", "adc_dist", "dist")
        .orderBy("dist", "vec_id")
        .limit(k)
    )


def ivfpq_topk_rerank(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    r_cand: int = 100,
    n_probe: int = 2,
    seed_ids: tuple[int, ...] = tuple(range(8)),
    iters: int = 3,
    n_sub: int = PQ_SUB,
    k_codes: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ — the production composition of the two gated ANN tiers
    (the FAISS IVFPQ index shape): coarse k-means cells PRUNE the scan
    (only the ``n_probe`` cells nearest the query are read — written
    partitioned-by-cell this is v9's partition pruning), PQ codes over
    the CELL RESIDUALS compress what is read (residuals are tighter
    than raw vectors, so the same codebook budget quantizes finer), an
    ADC scan with one lookup table PER PROBED CELL scores candidates,
    and the exact integer-L2 re-rank finishes. Everything reuses the
    bit-deterministic recipes of v10 (coarse cells) and v11 (PQ), so
    the v12 DuckDB twin replays the whole composition value-exactly.

    Scale shape: coarse assignment is the v10 broadcast loop; the
    residual is one broadcast join (k centroid rows) inside the encode
    scan; probing is driver-side over k centroid rows (bounded); the
    ADC scan reads only probed cells (isin → partition pruning on a
    cell-partitioned table); the re-rank fetches ≤ r_cand rows by id.

    Returns top-k ``(vec_id, cell, code_word, adc_dist, dist)`` by
    (dist, vec_id).
    """
    assigned, cents = kmeans_cells(
        embeddings, seed_ids=seed_ids, iters=iters,
        vec_col=vec_col, id_col=id_col, return_centroids=True,
    )
    qv = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    )
    rv = (
        qv.join(assigned.select("vec_id", "cell"), "vec_id")
        .join(F.broadcast(cents), "cell")
        .select(
            "vec_id", "cell",
            F.zip_with("iv", "cv", lambda a, b: a - b).alias("riv"),
        )
        .localCheckpoint(eager=True)
    )
    cb_rows = pq_codebooks_iv(
        rv.select("vec_id", F.col("riv").alias("iv")),
        n_sub=n_sub, k_codes=k_codes, iters=pq_iters,
    ).collect()
    enc = pq_encode(
        rv, cb_rows, code_base=k_codes, id_col="vec_id",
        iv_col="riv", extra_cols=("cell",),
    )

    # ---- driver-side probe: rank cells by integer L2 to the query ----
    q_iv = quantize_list(
        embeddings.filter(F.col(id_col) == query_id).select(vec_col).head()[0]
    )
    cent_rows = sorted((r["cell"], [int(x) for x in r["cv"]]) for r in cents.collect())
    probed = sorted(
        cent_rows,
        key=lambda cc: (sum((a - b) * (a - b) for a, b in zip(q_iv, cc[1])), cc[0]),
    )[:n_probe]
    probed_cells = [c for c, _ in probed]

    # ---- one ADC lookup table per probed cell, from its residual query ----
    by_sub = _collect_codebook(cb_rows)
    sd = len(by_sub[0][0][1])
    base = 1 + max(c for entries in by_sub.values() for c, _ in entries)
    lut = [0] * (len(probed) * n_sub * base)
    for ci, (_cell, cv_cell) in enumerate(probed):
        qr = [a - b for a, b in zip(q_iv, cv_cell)]
        for m, entries in by_sub.items():
            q_m = qr[m * sd : (m + 1) * sd]
            for c, cv in entries:
                lut[ci * n_sub * base + m * base + c] = sum(
                    (a - b) * (a - b) for a, b in zip(q_m, cv)
                )
    lutl = F.lit(lut)
    cell_idx = F.col("cell")
    for ci, c in enumerate(probed_cells):
        cell_idx = F.when(F.col("cell") == c, F.lit(ci)).otherwise(cell_idx)
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(
            lutl,
            (
                cell_idx * (n_sub * base)
                + m * base
                + F.element_at("codes", (m + 1).cast("int"))
                + 1
            ).cast("int"),
        ),
    )
    cand_rows = (
        enc.filter(F.col("cell").isin(probed_cells))
        .select("vec_id", "cell", "code_word", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(r_cand)
        .collect()
    )

    # ---- exact re-rank of the candidate slice ----
    cand = embeddings.sparkSession.createDataFrame(
        cand_rows, "vec_id long, cell long, code_word long, adc_dist long"
    )
    exact = F.aggregate(
        F.zip_with(
            quantize_vec(F.col(vec_col)), F.lit(q_iv), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    fetched = (
        embeddings.filter(F.col(id_col).isin([r["vec_id"] for r in cand_rows]))
        .select(F.col(id_col).alias("vec_id"), exact.alias("dist"))
    )
    return (
        fetched.join(F.broadcast(cand), "vec_id")
        .select("vec_id", "cell", "code_word", "adc_dist", "dist")
        .orderBy("dist", "vec_id")
        .limit(k)
    )


def sq8_encode(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Symmetric per-dimension INT8 scalar quantization — the simplest
    member of the quantized-ANN family (sign-LSH 1 bit, SQ8 8 bits, PQ
    ~1 byte/subspace): codes are 1 byte/dim, a 4× scan-size cut vs
    float32 (8× vs double) with far better distance fidelity than PQ's
    shared codebooks, the usual first tier a vector store enables.

    Returns ``(vec_id, iv, q8)``: ``iv`` the micro-quantized integer
    components (the engine-exactness substrate every similarity tier
    shares) and ``q8[d] = ((iv[d] + m[d])·127) div m[d] − 127`` with
    ``m[d] = max(1, max|iv[d]|)`` over the corpus — the +m offset keeps
    every operand NON-NEGATIVE so integer floor-division agrees between
    engines (negative `div` truncates toward zero on Spark but floors
    in DuckDB — the documented t8 boundary trap, sidestepped rather
    than special-cased), lands exactly in [−127, 127] with no clamp,
    and needs no float ratio anywhere.

    Scale shape: training is ONE single-row aggregate (per-dim max|iv|
    as ``dim`` agg expressions — no explode, no shuffle beyond the
    final agg) broadcast back as a 1-row cross join; encoding is a
    pure projection. Nothing driver-side."""
    qv = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    )
    ma = qv.agg(
        F.array(
            *[
                F.greatest(
                    F.max(F.abs(F.element_at("iv", d + 1))), F.lit(1)
                ).cast("long")
                for d in range(dim)
            ]
        ).alias("__ma")
    )
    return qv.crossJoin(F.broadcast(ma)).select(
        "vec_id",
        "iv",
        F.expr(
            "transform(iv, (x, i) -> ((x + element_at(__ma, i + 1)) * 127)"
            " div element_at(__ma, i + 1) - 127)"
        ).alias("q8"),
    )


def _dot_int(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq8_topk_rerank(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    r_cand: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Inner-product top-k over SQ8 codes with exact re-rank — the SQ8
    counterpart of ``pq_topk_rerank``: scan the 1-byte/dim codes for
    the top ``r_cand`` by integer int8 dot product (a
    TakeOrderedAndProject over a pure projection — per-partition top-k,
    k-row driver merge, never a global sort), then re-rank just those
    by the exact integer dot on the full-precision ``iv`` components.
    Both scores ride along in the output, so the value hash pins the
    quantizer, the candidate ordering (q8_dot DESC, vec_id — total),
    and the re-rank at once."""
    enc = sq8_encode(embeddings, vec_col=vec_col, id_col=id_col, dim=dim)
    qrow = F.broadcast(
        enc.where(F.col("vec_id") == query_id).select(
            F.col("q8").alias("__qq8"), F.col("iv").alias("__qiv")
        )
    )
    scored = (
        enc.where(F.col("vec_id") != query_id)
        .crossJoin(qrow)
        .select(
            "vec_id",
            _dot_int(F.col("q8"), F.col("__qq8")).alias("q8_dot"),
            "iv",
            "__qiv",
        )
    )
    cand = scored.orderBy(F.col("q8_dot").desc(), "vec_id").limit(r_cand)
    return (
        cand.select(
            "vec_id",
            "q8_dot",
            _dot_int(F.col("iv"), F.col("__qiv")).alias("exact_dot"),
        )
        .orderBy(F.col("exact_dot").desc(), "vec_id")
        .limit(k)
    )


def binary_encode(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """1-bit-per-dimension sign quantization — the extreme end of the
    quantized-ANN ladder (binary 1 bit / sign-LSH projections / SQ8 /
    PQ): ``bit[d] = iv[d] ≥ 0``, packed into two 32-bit words carried
    as BIGINTs. Two words, not one 64-bit word, on purpose: the d=63
    bit is the sign bit of a packed int64, and summing ``2^63`` terms
    overflows signed 64-bit in BOTH engines (HUGEINT on one side,
    ANSI abort on the other) — half-words keep every partial sum
    < 2^32 so the pack is plain integer addition everywhere.

    8 bytes/vector vs 256 for float32 — a 32× scan-size cut, and
    Hamming similarity is two xor + popcount ops per candidate, the
    cheapest distance there is. Returns (vec_id, iv, b_lo, b_hi)."""
    if dim % 2 != 0:
        raise ValueError(f"binary_encode packs two half-words; dim must be even, got {dim}")
    qv = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    )
    half = dim // 2

    def pack(lo: int) -> Column:
        # element_at (1-based) — SQL bracket indexing is 0-based in Spark
        terms = " + ".join(
            f"IF(element_at(iv, {lo + d + 1}) >= 0, CAST({1 << d} AS BIGINT), 0L)"
            for d in range(half)
        )
        return F.expr(terms)

    return qv.select(
        "vec_id", "iv", pack(0).alias("b_lo"), pack(half).alias("b_hi")
    )


def binary_topk_rerank(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    r_cand: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Hamming candidate scan over the 1-bit codes + exact re-rank —
    ``sq8_topk_rerank``'s shape at the far end of the compression
    ladder: candidate similarity ``ham_sim = dim − popcount(xor)``
    ranks a scan that reads 8 bytes/vector, the top ``r_cand`` rows
    (TakeOrderedAndProject — per-partition top-k, never a global sort)
    re-rank by the exact integer dot on the full components. Both
    scores ride along so the value hash pins the pack, the Hamming
    ordering (ham_sim DESC, vec_id — total), and the re-rank at once."""
    enc = binary_encode(embeddings, vec_col=vec_col, id_col=id_col, dim=dim)
    qrow = F.broadcast(
        enc.where(F.col("vec_id") == query_id).select(
            F.col("b_lo").alias("__qlo"),
            F.col("b_hi").alias("__qhi"),
            F.col("iv").alias("__qiv"),
        )
    )
    ham = (
        F.lit(dim)
        - F.expr("bit_count(b_lo ^ __qlo)")
        - F.expr("bit_count(b_hi ^ __qhi)")
    ).cast("long")
    cand = (
        enc.where(F.col("vec_id") != query_id)
        .crossJoin(qrow)
        .select("vec_id", ham.alias("ham_sim"), "iv", "__qiv")
        .orderBy(F.col("ham_sim").desc(), "vec_id")
        .limit(r_cand)
    )
    return (
        cand.select(
            "vec_id",
            "ham_sim",
            _dot_int(F.col("iv"), F.col("__qiv")).alias("exact_dot"),
        )
        .orderBy(F.col("exact_dot").desc(), "vec_id")
        .limit(k)
    )
