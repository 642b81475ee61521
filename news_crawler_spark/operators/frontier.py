"""Frontier priority pop + politeness budgets + robots filtering.

Reference semantics (SURVEY.md §2.5 T1, §2.9):
- pop = oldest-pending-first per source with a LIMIT
  (``ORDER BY published_datetime ASC LIMIT n`` over pending ∧ tried<3,
  database_manager.py:135-166)
- per-source concurrency cap (asyncio.Semaphore(5),
  collectors/isna/pages_collector.py:137-152) and bulk_size=20
  (config.py:28) — i.e. a per-host per-round budget
- link ownership / allow rules (news_sources/__init__.py:27-29)

Spark-first restatement: one window ranking per round —
``row_number() over (partitionBy(host) orderBy(priority, published_ts,
url_hash))`` capped by a broadcast-joined per-host budget. The ordering
key is total (url_hash tie-break) so the popped set is deterministic under
any partitioning — this is the crawl-ordering contract.

Scale notes (10^10-row frontier):
- the eligibility filter (status/tried_count) is a parquet-pushed predicate.
- ``pop_round`` ranks with :func:`salted_top_k`, a two-phase salted
  top-k: phase 1 ranks within (host, url_hash mod salts) — salts× the
  parallelism of a plain per-host window and each group's sort stops
  mattering past its budget; phase 2 re-ranks the ≤ budget·salts
  survivors per host. Identical result to the single-window plan (same
  total order), fraction of the sort work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import schemas

# Columns that define the deterministic pop order within a host.
POP_ORDER = ("priority", "published_ts", "url_hash")


def eligible(frontier: DataFrame, max_retries: int = schemas.MAX_RETRIES) -> DataFrame:
    """pending ∧ tried_count < max_retries (P2+P3) — pushdown-friendly."""
    return frontier.filter(
        (F.col("status") == schemas.STATUS_PENDING)
        & (F.col("tried_count") < F.lit(max_retries))
    )


def allowed_by_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Longest-matching-prefix robots evaluation — broadcast join + pure
    higher-order functions, ZERO shuffle on the frontier side.

    Rules are collected per host (tiny: one row per live host) and
    broadcast; each URL filters its host's rule array to prefixes of its
    path and takes the max by (prefix length, allow-beats-deny-on-tie) —
    all inside whole-stage codegen. No match ⇒ allow. The earlier design
    windowed by canonical_url, which re-shuffled the entire pending set
    every round — fatal at 10^10 rows; this one is a map-side-only pass.
    """
    from ..functions.urls import path_col

    from .text import let_bound

    rules_by_host = robots.groupBy("host").agg(
        F.collect_list(F.struct("path_prefix", "rule_kind")).alias("__rules")
    )
    joined = frontier.join(F.broadcast(rules_by_host), "host", "left")

    # max by (length, allow=1/deny=0): allow wins equal-length ties —
    # pinned by the crawl fixtures (same tie rule as the python oracle).
    # The URL path is let_bound: captured inline, the regexp extraction
    # would re-run once PER RULE per row (lambdas re-evaluate captured
    # expressions) — with real robots files of hundreds of prefixes per
    # host that is the whole stage's cost.
    def best_rule(p):
        matching = F.filter(
            F.coalesce(
                F.col("__rules"),
                F.array().cast("array<struct<path_prefix:string,rule_kind:string>>"),
            ),
            lambda r: p.startswith(r["path_prefix"]),
        )
        return F.array_max(
            F.transform(
                matching,
                lambda r: F.struct(
                    F.length(r["path_prefix"]).alias("len"),
                    F.when(r["rule_kind"] == "allow", 1).otherwise(0).alias("is_allow"),
                ),
            )
        )

    best = let_bound(path_col("canonical_url"), best_rule)
    return (
        joined.withColumn("__best", best)
        .filter(F.col("__best").isNull() | (F.col("__best.is_allow") == 1))
        .drop("__rules", "__best")
    )


def pop_round(
    frontier: DataFrame,
    budgets: DataFrame,
    default_budget: int = 20,
    salts: int = 64,
) -> DataFrame:
    """Pop this round's fetch set: per-host top-k by (priority,
    published_ts, url_hash), k = that host's current token budget.

    ``budgets`` is a small (host, budget) DataFrame — broadcast.

    Ranked by :func:`salted_top_k` over (host, url_hash mod salts).
    Salt sizing: phase 2's input is ≤ salts × budget rows per host, and
    phase 1 only prunes while its salt groups (≈ rows/host/salts) exceed
    the budget — so large budgets want FEWER salts (j11's cap-1000
    budgets with 64 salts made phase 1 a no-op and phase 2 a full
    re-sort: 3.7× slower than salts=8 at sf0.1 for identical output).
    Use :func:`salts_for_budget` when the budget cap is known.
    """
    el = frontier.join(
        F.broadcast(budgets.select("host", "budget")), "host", "left"
    ).withColumn("budget", F.coalesce(F.col("budget"), F.lit(default_budget)))
    return salted_top_k(
        el,
        ["host"],
        [F.col(c).asc_nulls_last() for c in POP_ORDER],
        F.col("budget"),
        F.pmod(F.col("url_hash"), F.lit(salts)),
    ).drop("budget")


def salted_top_k(
    df: DataFrame, group: list[str], order: list[Column], k: Column, salt: Column
) -> DataFrame:
    """The rows of ``df`` ranked ≤ ``k`` within their ``group`` by
    ``order`` (a total order), as a two-phase salted top-k. A single
    window over ``partitionBy(group)`` caps parallelism at the number of
    groups (≈5 hosts here) and sorts the whole hot group — fatal on a
    10^10-row frontier. Instead:

      phase 1: window over (group, salt) — salts× the parallelism,
               each (group, salt) keeps its own top-k;
      phase 2: window over group on the ≤ k·salts survivors.

    Any row in the true per-group top-k is in its salt group's top-k
    (same total order), so the result is identical to the single-window
    plan — asserted by the crawl-ordering fixtures. An empty ``group``
    ranks the whole frame."""
    w1 = Window.partitionBy(*group, salt).orderBy(*order)
    pruned = (
        df.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= k)
        .drop("__rn1")
    )
    w2 = Window.partitionBy(*group).orderBy(*order)
    return (
        pruned.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def salts_for_budget(
    max_budget: int, target_phase2: int = 8192, max_salts: int = 64
) -> int:
    """Salt count for :func:`pop_round` given the largest per-host budget
    a caller can issue: bounds phase 2's per-host input (salts × budget)
    at ``target_phase2`` rows while keeping as much phase-1 parallelism
    as that allows. Small politeness budgets (≤ ~128) keep the full
    ``max_salts``; j11-style cap-1000 budgets drop to 8."""
    return max(1, min(max_salts, target_phase2 // max(1, max_budget)))


def apportion_budget(
    ranks: DataFrame,
    total: int,
    node_col: str = "host",
    rank_col: str = "rank",
    salts: int = 64,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global per-round
    fetch budget across hosts, proportional to an integer rank signal
    (e.g. a host rank from the link graph): budget_h = ⌊T·r_h/R⌋ plus
    one of the T − Σ⌊·⌋ leftover units for the largest remainders (ties
    by host) —
    Σ budgets == T exactly, every step integer arithmetic, so a SQL twin
    replays it bit-for-bit. This is how a rank signal becomes the
    per-host budget column ``pop_round`` consumes when the crawl has a
    global politeness/QPS ceiling rather than per-host constants.

    Scale shape: two 1-row aggregates (R, then the leftover count L —
    the engine's one-row-collect discipline, never a row collect), and
    the +1 set is picked by the SAME :func:`salted_top_k` ``pop_round``
    uses, with no group (phase 1 ranks within a salt of the host hash,
    phase 2 ranks the ≤ salts·L survivors), so there is no single-task
    global window over the host table. Quota math rides a broadcast of the 1-row total; the host
    table is scanned twice (quota pass + top-L pass) and shuffled once.
    """
    row = ranks.agg(F.sum(rank_col).cast("long")).collect()[0][0]
    if row is None or row <= 0:
        # empty input or all-zero ranks: nothing to apportion
        return ranks.select(
            F.col(node_col).alias("host"), F.lit(0).cast("long").alias("budget")
        )
    r_tot = int(row)
    q = ranks.select(
        F.col(node_col).alias("host"),
        F.expr(f"(cast({total} as bigint) * {rank_col}) div {r_tot}").alias(
            "quota"
        ),
        F.pmod(F.lit(total).cast("long") * F.col(rank_col), F.lit(r_tot)).alias(
            "rem"
        ),
    )
    leftover = int(total - q.agg(F.sum("quota")).collect()[0][0])
    if leftover == 0:
        return q.select("host", F.col("quota").cast("long").alias("budget"))
    plus = salted_top_k(
        q,
        [],
        [F.desc("rem"), F.col("host")],
        F.lit(leftover),
        F.pmod(F.xxhash64("host"), F.lit(salts)),
    ).select("host", F.lit(1).cast("long").alias("__plus"))
    return q.join(plus, "host", "left").select(
        "host",
        (F.col("quota") + F.coalesce("__plus", F.lit(0))).cast("long").alias("budget"),
    )
