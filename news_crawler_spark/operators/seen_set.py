"""URL-seen set: first-discovered-wins dedup + anti-join against the frontier.

Reference semantics: ``INSERT ... ON CONFLICT (link) DO NOTHING`` on a
unique link index (database_manager.py:255-280, db_models.py:40) — i.e. the
first discovery of a canonical URL wins and later re-discoveries are
dropped, both within a batch and against everything already known.

Spark-first restatement (SURVEY.md §2.3 J1/J2):
  1. within-batch dedup: ``row_number() == 1`` over
     ``partitionBy(url_hash).orderBy(discovery_time, url)`` — deterministic
     first-wins (never ``dropDuplicates``, whose survivor is
     partition-order-dependent);
  2. cross-batch: ``left_anti`` hash join against the seen set on
     ``url_hash`` (+ canonical_url to be safe under 64-bit collisions).

At 100 TB the anti-join is the hot path; Spark's runtime bloom-filter
join reduction (spark.sql.optimizer.runtime.bloomFilter.enabled, see
session.py) injects a bloom pre-filter on the scan side automatically, so
the engine carries no approximate-membership pre-pass of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_first_wins(
    batch: DataFrame,
    key: str = "url_hash",
    order: tuple[str, ...] = ("discovery_time", "canonical_url", "url"),
) -> DataFrame:
    """Keep the first-discovered row per key with a total, deterministic
    order (ties broken by canonical_url, then raw url, so reruns are
    bit-identical).

    Implemented as ``min_by(struct(*), struct(order))`` — an aggregate,
    not a window: partial (map-side) combine shrinks the shuffle to one
    survivor per key per partition, where a window would shuffle and sort
    every duplicate. At web-scale batch ratios (~20% dups) that's the
    difference between shuffling 10^10 and ~8·10^9 rows — and no sort.

    NULL semantics: struct comparison sorts a NULL field FIRST, which
    would let a null discovery_time beat every real timestamp — the
    opposite of the window's ``asc_nulls_last``. Each order key is
    therefore prefixed with its is-null flag (false < true), so NULLs
    lose ties exactly like ``asc_nulls_last``.
    """
    cols = batch.columns
    order_keys = []
    for c in order:
        order_keys.append(F.col(c).isNull())
        order_keys.append(F.col(c))
    pick = F.min_by(F.struct(*cols), F.struct(*order_keys)).alias("__r")
    return batch.groupBy(key).agg(pick).select("__r.*")


def unseen_only(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Anti-join: candidates whose canonical URL is not in the seen set.

    Joins on (url_hash, canonical_url): the hash keeps the join narrow and
    shuffle-friendly; the string equality guards 64-bit collisions.
    """
    seen_keys = seen.select("url_hash", "canonical_url")
    return candidates.join(seen_keys, ["url_hash", "canonical_url"], "left_anti")


def ingest_batch(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Full ON-CONFLICT-DO-NOTHING equivalent: within-batch first-wins dedup,
    then drop anything already seen. Returns the rows to insert."""
    fresh = dedup_first_wins(candidates)
    if seen is not None:
        fresh = unseen_only(fresh, seen)
    return fresh
