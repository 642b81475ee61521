"""Deterministic corpus sampling for training-data pipelines.

A 100 TB training corpus is never consumed whole: it is SPLIT
(reproducible train/val/test holdouts that survive re-runs and corpus
growth) and SAMPLED (per-source rates that shape the training mix —
up-weighting curated sources, down-weighting crawl bulk). Both must be
pure functions of a stable document key, never of randomness or row
order: a re-crawl that re-ingests a document must land it in the SAME
split (or leakage silently contaminates eval sets), and adding a new
source must not reshuffle the old ones.

Both operators here hash the key with the first 64 bits of md5 under a
caller-chosen seed tag and compare the bucket (``pmod(h, 10^6)``) to
rate thresholds — one JVM-side expression per row, no shuffle at all
(a pure filter/projection: Catalyst pushes it beneath whatever comes
next, and at scale it composes with partition pruning). md5 rather
than xxhash64 so a second engine can recompute membership exactly
(dedup.md5_hash64 — same rationale as the SimHash/MinHash sketches).

Reference tie-in: the reference has no sampling tier (its corpus fits
one Postgres), but its deterministic-id discipline
(vector_db_manager.py:250 derives point ids from URLs so re-upserts
are stable) is the same invariant these operators extend to corpus
membership.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash64

# bucket resolution: rates are exact multiples of 1e-6 (ppm). Integer
# thresholds make the SQL twin's arithmetic exact — no float rounding
# at the membership boundary in either engine.
BUCKETS = 1_000_000


def sample_bucket(key: Column, seed: str) -> Column:
    """Stable per-key bucket in [0, BUCKETS): ``pmod(md5_64("{seed}:" ||
    key), 10^6)``. Uniform (md5), independent across seed tags, and
    reproducible from any engine with md5."""
    h = md5_hash64(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    return F.pmod(h, F.lit(BUCKETS)).cast("int")


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float] | None = None,
    seed: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hash bucket — the
    reproducible train/val/test holdout. ``splits`` maps name →
    fraction (must sum to ≤ 1; any remainder falls into the LAST
    split, so the default covers everything). Assignment is a pure
    projection: membership depends only on (seed, key), so re-ingested
    duplicates of a document always land in the same split and eval
    contamination cannot creep in across runs.
    """
    if splits is None:
        splits = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not splits:
        raise ValueError("splits must not be empty")
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    bucket = sample_bucket(F.col(key_col), seed)
    names = list(splits)
    expr = None
    cum = 0
    for name in names[:-1]:
        cum += int(round(splits[name] * BUCKETS))
        cond = bucket < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def pack_token_shards(
    df: DataFrame,
    budget: int,
    n_shards: int,
    key_col: str = "doc_id",
    n_tokens: str | None = None,
    seed: str = "shard",
) -> DataFrame:
    """Deterministic token-budget packing: assign every document a
    shard (hash of its key), order documents within the shard by key,
    and cut the running token stream into ``budget``-token bins —
    ``(key, shard, n_tokens, tok_start, bin_id)``, the layout a
    sequence-packing trainer consumes (concatenate a bin, split at the
    budget boundary). ``n_tokens`` names a column that already holds
    each document's whitespace token count (analytics.x14 carries it
    from its single tokenization pass); without it the ``text`` column
    is split here.

    Scale shape: ONE shuffle on the shard id, then a per-shard window
    cumsum. Parallelism = ``n_shards`` — size it to the cluster (a
    global ORDER BY cumsum would serialize the corpus through one
    partition; hashing keys to shards first makes packing
    embarrassingly parallel and REPRODUCIBLE: a document's (shard,
    position) depends only on the keys in its shard, and shards are
    independent)."""
    from pyspark.sql import Window

    from .text import token_count

    base = df.select(
        F.col(key_col),
        (sample_bucket(F.col(key_col), seed) % F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        (F.col(n_tokens) if n_tokens else token_count("text"))
        .cast("long")
        .alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(key_col)
    return base.withColumn(
        "tok_start", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).withColumn("bin_id", F.floor(F.col("tok_start") / F.lit(budget)))


def stratified_sample(
    df: DataFrame,
    rates: DataFrame,
    group_col: str,
    key_col: str,
    seed: str = "sample",
) -> DataFrame:
    """Per-group deterministic sampling: keep a row iff its hash bucket
    falls under its group's rate threshold. ``rates`` carries one row
    per group: ``(group_col, rate double)`` — the training-mix recipe
    (tiny, broadcast; groups absent from it are dropped, rate 1.0
    keeps everything). Expected kept fraction per group = rate, exact
    in distribution and REPRODUCIBLE row-for-row: re-running on a
    grown corpus keeps every previously-kept row (membership never
    depends on the other rows, unlike reservoir/limit sampling).
    """
    thresholds = rates.select(
        F.col(group_col),
        (F.round(F.col("rate") * BUCKETS)).cast("int").alias("__thresh"),
    )
    bucket = sample_bucket(F.col(key_col), seed)
    return (
        df.join(F.broadcast(thresholds), group_col)
        .filter(bucket < F.col("__thresh"))
        .drop("__thresh")
    )


def temperature_mixture(
    docs: DataFrame,
    total: int,
    temperature: float = 0.5,
    group_col: str = "source",
) -> DataFrame:
    """Temperature-scaled mixture quotas — the multilingual-corpus
    sampling rule (sample groups ∝ n^T, T<1 upweights small
    sources/languages; the mT5/XLM-R recipe) as exact integers: per-group
    weights w_g = round(n_g^T · 10⁶) quantized to BIGINT (sqrt for the
    canonical T=0.5 — correctly-rounded IEEE, so every engine quantizes
    the same value), then a Hamilton apportionment of ``total``
    across groups (``frontier.apportion_budget``), so Σ quotas == total
    exactly and a SQL twin replays weight quantization AND the
    largest-remainder assignment. Only T=0.5 is engine-portable
    bit-for-bit (general pow is not correctly rounded); other
    temperatures carry an ulp-at-the-round-boundary caveat: like ln, pow
    may differ in its last ulp between engines, and a weight that lands
    on a rounding boundary can then quantize differently.

    Returns ``(source, n_docs, quota)``. Scale: one count aggregate
    (O(groups) rows) + the apportionment's two 1-row aggregates.
    """
    from .frontier import apportion_budget

    counts = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.count("*").alias("n_docs")
    )
    if abs(temperature - 0.5) < 1e-12:
        # sqrt, not pow(x, .5): sqrt is correctly rounded IEEE, pow is not
        w = F.sqrt(F.col("n_docs").cast("double"))
    else:
        w = F.pow(F.col("n_docs").cast("double"), F.lit(float(temperature)))
    ranks = counts.select(
        F.col("source").alias("host"),
        F.round(w * F.lit(1_000_000.0)).cast("long").alias("rank"),
    )
    return (
        counts.join(
            apportion_budget(ranks, total).withColumnRenamed("host", "source"),
            "source",
        )
        .select("source", "n_docs", F.col("budget").alias("quota"))
    )
