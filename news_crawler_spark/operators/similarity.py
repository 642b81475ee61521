"""Vector similarity search and semantic dedup over an embedding column.

The reference's search surface is Qdrant cosine top-10 with payload
filters (search_news.py:64-88; HNSW config vector_db_manager.py:135-147).
The exact-match equivalents here (SURVEY.md T5/E2):

- brute-force cosine top-k (``topk_cosine``): JVM-side fold (zip_with +
  aggregate) — one scan + a k-row final sort (Spark's
  TakeOrderedAndProject, no full sort, no collect);
- payload-filtered top-k (``payload_filtered_topk``): the same scoring
  over only the vectors whose payload row passes the predicate;
- SemDeDup (``semdedup``): exact-integer k-means cells
  (``kmeans_cells``), then a within-cell integer-exact cosine ≥ τ prune.

Search math is double precision with a deterministic fold order, rounded
on output so the DuckDB oracle (list_cosine_similarity) hashes
identically; k-means and SemDeDup run on quantized BIGINT components, so
their DuckDB twin replays them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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


# quantization scale: components become floor(v·1e6 + 0.5) BIGINTs, so
# the k-means distances and the SemDeDup cosine test are exact integer
# arithmetic (analytics.X21_SQL quantizes with the same constant)
QUANT = 1_000_000


def quantize_vec(vec: Column) -> Column:
    """``floor(v·1e6 + 0.5)`` per component — floor(+0.5) rounds
    identically in every engine (no round-half tie rules), so Spark and
    the DuckDB twin of x21 derive the same BIGINT vector from the same
    IEEE double."""
    return F.transform(
        _as_double(vec),
        lambda x: F.floor(x * F.lit(float(QUANT)) + F.lit(0.5)).cast("long"),
    )


def kmeans_cells(
    embeddings: DataFrame,
    seed_ids: tuple[int, ...] = tuple(range(8)),
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact-integer Lloyd's k-means over the embedding column — the
    cells ``semdedup`` prunes within. Made BIT-DETERMINISTIC so a SQL
    twin reproduces every iteration:

    - components quantized to BIGINTs (``quantize_vec``:
      floor(v·1e6+0.5) — no round-half tie rules);
    - distances are integer squared-L2 (|diff|² ≤ (2·10⁶)²·dim ≪ 2⁶³
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

    Returns ``(vec_id, cell, dist)`` — the final assignment.
    """
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    ).localCheckpoint(eager=True)
    cents = (
        vecs.filter(F.col("vec_id").isin(*seed_ids))
        .select(F.col("vec_id").alias("cell"), F.col("iv").alias("cv"))
        .localCheckpoint(eager=True)
    )

    def assign(cent: DataFrame) -> DataFrame:
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

    def update(a: DataFrame) -> DataFrame:
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
    return assign(cents)


# SemDeDup similarity threshold τ = 0.45 as a pure rational: τ² =
# SEMDEDUP_TAU_NUM / SEMDEDUP_TAU_DEN, so the cosine test can be
# cross-multiplied into integers and replayed bit-for-bit by a SQL twin.
SEMDEDUP_TAU_NUM = 2025
SEMDEDUP_TAU_DEN = 10_000


def semdedup(
    embeddings: DataFrame,
    seed_ids: tuple[int, ...] = tuple(range(8)),
    iters: int = 3,
    tau_num: int = SEMDEDUP_TAU_NUM,
    tau_den: int = SEMDEDUP_TAU_DEN,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus by embedding with the
    exact-integer k-means (``kmeans_cells``), then WITHIN each cell drop
    every document that has a ≥τ-cosine twin with a smaller id — the
    near-duplicate-*meaning* tier that byte-level MinHash (d5) cannot
    see, applied to the crawl corpus the way SemDeDup prunes LAION/C4
    before training.

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
    evaluated exactly once per candidate (a projected score filtered
    afterwards would be evaluated again: PushDownPredicates substitutes
    the projection into the predicate).

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
    return semdedup_prune(v, tau_num=tau_num, tau_den=tau_den)


def semdedup_prune(
    v: DataFrame,
    tau_num: int = SEMDEDUP_TAU_NUM,
    tau_den: int = SEMDEDUP_TAU_DEN,
) -> DataFrame:
    """The within-cell prune stage of ``semdedup``, over a prepared
    ``(vec_id, cell, iv, n2)`` frame (quantized vector + its integer
    squared norm). Exposed separately because the CELLS need not come
    from Lloyd's: at ≥10⁸ vectors assign cells against a sampled
    codebook (or any hash/routing scheme) — Lloyd's full assignment is
    n·k integer distances, quadratic once k tracks corpus size, while
    the prune itself stays linear·occupancy at any scale: double the
    corpus at constant occupancy → ~double the wall."""
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
