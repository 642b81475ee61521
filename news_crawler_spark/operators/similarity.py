"""Vector similarity search and semantic dedup over an embedding column.

The reference's search surface is Qdrant cosine top-10 with payload
filters (search_news.py:64-88; HNSW config vector_db_manager.py:135-147),
answered from the index Qdrant already holds. The exact-match
equivalents here (SURVEY.md T5/E2):

- brute-force cosine top-k (``topk_cosine``) over ``vector_index``: the
  float64 vector matrix, its row norms and the non-vector columns,
  collected through Arrow once per embeddings DataFrame and kept in
  driver memory (``cached_index``). A search scores the matrix in numpy
  and returns its k rows as an Arrow-backed local DataFrame, so a repeat
  search over the same DataFrame starts no Spark job;
- payload-filtered top-k (``payload_filtered_topk``): the payload
  predicate runs in Spark, one job that collects the surviving ids; only
  those rows of the cached matrix are scored;
- SemDeDup (``semdedup``): exact-integer k-means cells
  (``kmeans_cells``, centroids held on the driver, each assignment a
  projection), then a within-cell integer-exact cosine ≥ τ prune.

Search math is the arithmetic Spark's ``aggregate(zip_with(...))`` fold
did: double precision, every dot product and squared norm summed left to
right, rounded on output as Spark's ``round`` rounds (``spark_round``),
so the DuckDB oracle (list_cosine_similarity) hashes identically;
k-means and SemDeDup run in Spark on quantized BIGINT components, so
their DuckDB twin replays them bit-for-bit.
"""

from __future__ import annotations

import weakref
from decimal import ROUND_HALF_UP, Context, Decimal
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# DataFrame -> {column arguments: index}. A DataFrame is a fixed plan over
# a fixed file listing, and committed catalog snapshots are never
# rewritten, so an index stays valid for as long as its DataFrame lives;
# the weak key drops it with the object.
_INDEXES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def cached_index(df: DataFrame, key: tuple, build: Callable[[DataFrame], object]):
    """``build(df)`` on the first call for this DataFrame object and
    ``key``; the stored result after that (threads racing on a first call
    may each build; any result is valid). The result must not reference
    ``df``, or the weak key would never die."""
    per_df = _INDEXES.setdefault(df, {})
    if key not in per_df:
        per_df[key] = build(df)
    return per_df[key]


_DECIMAL = Context(prec=1000, rounding=ROUND_HALF_UP)


def spark_round(x, digits: int) -> np.ndarray:
    """Spark's ``round(x, digits)`` over a float64 array: HALF_UP on the
    decimal string Java prints for x (``BigDecimal(Double.toString(x))``),
    back to the nearest double. Python's and numpy's ``round`` round the
    binary value half-even instead, so 0.00015 becomes 0.0001 there and
    0.0002 here. Values away from a decimal half-way point round in
    numpy; the rest go through ``Decimal``."""
    x = np.asarray(x, dtype=np.float64)
    scale = 10.0**digits
    y = x * scale
    out = np.floor(y + 0.5) / scale
    unit = Decimal(1).scaleb(-digits)
    exact = ~(np.abs(y - np.floor(y) - 0.5) > 1e-6) | ~(np.abs(y) < 2.0**52)
    for i in np.flatnonzero(exact):
        v = float(x[i])
        out[i] = float(_DECIMAL.quantize(Decimal(repr(v)), unit)) if np.isfinite(v) else v
    return out + 0.0  # BigDecimal has no -0


def top_k(scores: np.ndarray, ids, k: int) -> np.ndarray:
    """Positions of the ``k`` highest scores, ties by id ascending: the
    rows ``orderBy(desc("score"), id).limit(k)`` keeps, in its order."""
    t = pa.table({"score": pa.array(scores, pa.float64()), "id": ids})
    order = pc.sort_indices(
        t, [("score", "descending"), ("id", "ascending")], null_placement="at_start"
    )
    return order[:k].to_numpy()


class VectorIndex(NamedTuple):
    rows: pa.Table  # every column but the vector column
    m: np.ndarray  # the vectors as float64, one row per row of ``rows``
    norms: np.ndarray
    vec_type: pa.DataType


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``Σ_j a[:, j]·b[..., j]`` summed left to right from 0.0, as Spark's
    ``aggregate(zip_with(a, b, x*y), 0.0, s + x)`` folds; numpy's ``@``
    sums pairwise and differs in the last bits."""
    acc = np.zeros(len(a))
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[..., j]
    return acc


def vector_index(embeddings: DataFrame, vec_col: str = "embedding") -> VectorIndex:
    """The cached search index of ``embeddings``: one Spark job collects
    the DataFrame through Arrow on the first search; the index holds the
    whole vector table in driver memory for the DataFrame's lifetime."""

    def build(df: DataFrame) -> VectorIndex:
        t = df.toArrow()
        vecs = t.column(vec_col).combine_chunks()
        flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        m = flat.reshape(len(vecs), len(flat) // max(len(vecs), 1))
        rows = t.drop_columns([vec_col]).combine_chunks()
        return VectorIndex(rows, m, np.sqrt(_fold(m, m)), vecs.type)

    return cached_index(embeddings, ("vectors", vec_col), build)


def cosine_scores(index: VectorIndex, q: np.ndarray, rows: np.ndarray, digits: int) -> np.ndarray:
    """``round(dot(v, q) / (‖v‖·‖q‖), digits)`` for the vectors ``rows``."""
    q_norm = np.sqrt(_fold(q[None, :], q))
    return spark_round(_fold(index.m[rows], q) / (index.norms[rows] * q_norm), digits)


def _mask(values: pa.ChunkedArray) -> np.ndarray:
    return pc.fill_null(values, False).to_numpy(zero_copy_only=False)


def topk_cosine(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against the stored vector ``query_vec_id``
    (none if no row has that id), scores rounded to 4, ties by id.

    Scores every other vector in ``vector_index(embeddings, vec_col)``,
    which the first search over this DataFrame object builds with one
    Spark job and which holds the corpus in driver memory; the k rows
    come back as a local DataFrame, so later searches start no job.
    """
    return _cosine_topk(embeddings, None, query_vec_id, k, vec_col, id_col)


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

    ``payload`` carries the filterable attributes keyed by ``id_col``.
    The predicate runs in Spark on the payload side only — Catalyst
    pushes it into the payload scan, and no vector column is read — as
    one job that collects the surviving ids. Only those rows of
    ``vector_index(embeddings, vec_col)`` (built on the first search over
    this DataFrame object, held in driver memory) are then scored: a
    semi-join, filter-then-score, never score-everything-then-filter.
    """
    keep = payload.filter(predicate).select(id_col).toArrow().column(0)
    return _cosine_topk(embeddings, keep, query_vec_id, k, vec_col, id_col)


def _cosine_topk(embeddings, keep, query_vec_id, k, vec_col, id_col) -> DataFrame:
    index = vector_index(embeddings, vec_col)
    ids = index.rows.column(id_col)
    cand = pc.not_equal(ids, query_vec_id)
    if keep is not None:
        keep = keep.combine_chunks().cast(ids.type)
        cand = pc.and_(cand, pc.is_in(ids, value_set=keep, skip_nulls=True))
    rows = np.flatnonzero(_mask(cand))
    # a query id on several rows scores each candidate once per row
    queries = np.flatnonzero(_mask(pc.equal(ids, query_vec_id)))
    scores = np.concatenate(
        [np.empty(0)] + [cosine_scores(index, index.m[q], rows, 4) for q in queries]
    )
    hits = index.rows.take(np.tile(rows, len(queries)))
    top = top_k(scores, hits.column(id_col), k)
    out = hits.take(top).append_column("score", pa.array(scores[top], pa.float64()))
    return embeddings.sparkSession.createDataFrame(out)


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


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

    Shape: the quantized vectors are checkpointed once; the k × dim
    centroid matrix lives on the driver and enters the plan as one flat
    literal. Assignment is a projection: each vector's ``array_min`` over
    its k ``(dist, cell)`` structs (struct order, so the smaller cell
    wins a distance tie). No join, no window, no sort. The update is ONE
    hash aggregate on (cell, component) — floor(sum / count) — collected
    through Arrow as the next iteration's matrix; an iteration runs one
    Spark job per stage of that aggregate, the final assignment none.
    Every row computes k·dim squared differences and the plan carries
    k·dim literals, so this form is for codebooks up to a few hundred
    cells (SemDeDup sizes k to the corpus: at ~10³ cells or more, assign
    against a sampled codebook instead — the cells need not come from
    Lloyd's, see ``semdedup_prune``).

    Returns ``(vec_id, cell, dist, iv)`` — the final assignment, with the
    quantized vector ``semdedup`` prunes on.
    """
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("iv")
    ).localCheckpoint(eager=True)
    id_type = vecs.schema["vec_id"].dataType

    def centroids(rows: DataFrame) -> tuple[np.ndarray, np.ndarray]:
        """(cell ids, k × dim matrix), in cell order, from ``(cell, pos,
        cx)`` rows collected through Arrow."""
        t = rows.toArrow()
        cell, pos, cx = (t.column(c).to_numpy() for c in ("cell", "pos", "cx"))
        cells = np.unique(cell)
        mat = np.zeros((len(cells), int(pos.max()) + 1 if len(pos) else 0), np.int64)
        mat[np.searchsorted(cells, cell), pos] = cx
        return cells, mat

    def assign(cells: np.ndarray, mat: np.ndarray) -> DataFrame:
        if not len(cells):
            return vecs.select(
                "vec_id",
                F.lit(None).cast(id_type).alias("cell"),
                F.lit(None).cast("long").alias("dist"),
                "iv",
            ).limit(0)
        # the centroids as ONE flat literal (a numpy array crosses to the
        # JVM in one call); cell k's vector is its k-th dim-long slice
        dim = mat.shape[1]
        flat, ids = F.lit(mat.ravel()), F.lit(cells)
        per_cell = F.transform(
            F.sequence(F.lit(0), F.lit(len(cells) - 1)),
            lambda k: F.struct(
                F.aggregate(
                    F.zip_with(
                        "iv", F.slice(flat, k * dim + 1, dim), lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.element_at(ids, k + 1).cast(id_type).alias("cell"),
            ),
        )
        return vecs.select("vec_id", F.array_min(per_cell).alias("m"), "iv").select(
            "vec_id", "m.cell", "m.dist", "iv"
        )

    def update(a: DataFrame) -> tuple[np.ndarray, np.ndarray]:
        return centroids(
            a.select("cell", F.posexplode("iv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.floor(F.sum("x") / F.count("*")).alias("cx"))
        )

    cents = centroids(
        vecs.filter(F.col("vec_id").isin(*seed_ids)).select(
            F.col("vec_id").alias("cell"), F.posexplode("iv").alias("pos", "cx")
        )
    )
    for _ in range(iters - 1):
        cents = update(assign(*cents))
    return assign(*cents)


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
    linear·occupancy. ``kmeans_cells`` holds its k × dim centroids on
    the driver and puts them in the plan, which bounds this composition
    to a few hundred cells; at larger k take the cells from a sampled
    codebook and call ``semdedup_prune`` directly. The dup test lives
    IN the join condition, so failing candidates never materialize and the dot expression is
    evaluated exactly once per candidate (a projected score filtered
    afterwards would be evaluated again: PushDownPredicates substitutes
    the projection into the predicate).

    Returns ``(vec_id, cell, kept, witness)``; kept=0 rows carry the
    smallest same-cell dup partner as the witness.
    """
    sq = F.aggregate(
        F.zip_with("iv", "iv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # one small frame feeds both join sides and the final left join;
    # checkpoint it so the 3-iteration k-means lineage runs once.
    v = (
        kmeans_cells(
            embeddings, seed_ids=seed_ids, iters=iters, vec_col=vec_col, id_col=id_col
        )
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
