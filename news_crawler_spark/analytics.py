"""The analytic query workload: every SURVEY.md §2 operator that is
SQL-expressible, as (Spark implementation, DuckDB oracle SQL) pairs over
the driver's testdata tables.

Mapping (FIXTURES.md §1): `events` stands in for the frontier (ts-ordered,
keyed, 5 event types ≈ 5 sources/hosts), `documents`/`embeddings` carry the
training-data-pipeline operators, TPC-H tables carry the join/agg shapes of
the reference's audit notebook (process_historical_news.ipynb cells 4-12).

Conventions (driver compare = row-count + schema + order-insensitive
value-hash):
- every computed column is aliased identically in Spark and SQL;
- doubles that aggregate floating sums are rounded (2-4 dp) on BOTH sides
  so summation order can't flip the hash;
- counts stay BIGINT on both sides (DuckDB ``sum`` is cast ::BIGINT,
  Spark int-typed results are cast to long).

Scale notes are on each operator's module (operators/*.py); queries here
are thin compositions, so Catalyst sees one declarative plan per query
(filters pushed to the parquet scan, dims broadcast, top-k as
TakeOrderedAndProject — verified in tests/test_plans.py).
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup, similarity, text

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
QUERY_VEC_ID = 7
NEARDUP_COS_THRESHOLD = 0.45
JACCARD_THRESHOLD = 0.6
POP_K = 20


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _stream_shuffle_partitions(*staged_dirs: str) -> int:
    """Scale-adaptive shuffle/state partition count for the availableNow
    gate streams (s1/s4/s5/s6/s7): derived from the staged input bytes
    (guide §2.2 — size post-shuffle partitions to the data, not to a
    constant), clamped to [4, 256]. The gate's micro-batches are a few
    MB, so a session-wide ``spark.sql.shuffle.partitions`` (= cores)
    spreads them over 32 state-store instances — 32 state commits + 32
    sink files PER micro-batch of overhead, measured 2× the whole stream
    wall at sf0.1 for identical output. At larger inputs the same rule
    scales the partition count back up (8 MB per state partition); a
    real Kafka deployment sizes this to sustained throughput instead —
    override with $NCS_STREAM_SHUFFLE_PARTITIONS."""
    import os

    env = os.environ.get("NCS_STREAM_SHUFFLE_PARTITIONS")
    if env:
        return int(env)
    n_bytes = 0
    for d in staged_dirs:
        for root, _dirs, files in os.walk(d):
            n_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return max(4, min(256, -(-n_bytes // (8 * 1024 * 1024))))


class _stream_conf:
    """Context manager: pin ``spark.sql.shuffle.partitions`` for the
    duration of a gate stream run, restoring the session value after.
    State partition count is fixed at the stream's FIRST start, so the
    setting must wrap ``start()``; results are partition-count
    independent (grouping/join/dedup semantics), only the state-store
    and sink-file fan-out changes."""

    def __init__(self, spark, n_partitions: int):
        self.spark, self.n = spark, n_partitions

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


# ===========================================================================
# A — aggregation / audit queries (reference notebook analogs)

def a1_count_by_status(spark, sf):
    """A1: count by (status, priority) — groupBy of the frontier-state audit."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


A1_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders GROUP BY 1, 2
"""


def a2_data_quality(spark, sf):
    """A2: conditional data-quality counts (empty/short docs per source)."""
    d = load(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)).cast("long").alias("n_short"),
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0))
            / F.count("*"),
            4,
        ).alias("pct_short"),
    )


A2_SQL = """
SELECT source,
       count(*) AS n_docs,
       (count(*) FILTER (n_chars < 200))::BIGINT AS n_short,
       round(100.0 * (count(*) FILTER (n_chars < 200)) / count(*), 4) AS pct_short
FROM documents GROUP BY 1
"""


def a3_freshness(spark, sf):
    """A3: min/max/age per key (per-source freshness audit)."""
    return (
        load(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts")))
            .cast("long")
            .alias("span_days"),
        )
    )


A3_SQL = """
SELECT event_type, min(ts) AS min_ts, max(ts) AS max_ts,
       date_diff('day', min(ts)::DATE, max(ts)::DATE)::BIGINT AS span_days
FROM events GROUP BY 1
"""


def a4_daily_pivot(spark, sf):
    """A4: daily counts pivoted by type, densified over the full date range
    (sequence+explode so zero-activity days appear — the outage surface)."""
    e = load(spark, sf, "events")
    days = (
        e.agg(
            F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    counts = (
        e.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    out = days.join(counts, "day", "left")
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in EVENT_TYPES]
    )


A4_SQL = """
WITH bounds AS (SELECT min(ts::DATE) AS lo, max(ts::DATE) AS hi FROM events),
days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds),
c AS (SELECT ts::DATE AS day, event_type, count(*) AS n FROM events GROUP BY 1, 2)
SELECT d.day,
       coalesce(max(CASE WHEN event_type = 'click' THEN n END), 0)::BIGINT AS click,
       coalesce(max(CASE WHEN event_type = 'error' THEN n END), 0)::BIGINT AS error,
       coalesce(max(CASE WHEN event_type = 'purchase' THEN n END), 0)::BIGINT AS purchase,
       coalesce(max(CASE WHEN event_type = 'signup' THEN n END), 0)::BIGINT AS signup,
       coalesce(max(CASE WHEN event_type = 'view' THEN n END), 0)::BIGINT AS view
FROM days d LEFT JOIN c ON c.day = d.day
GROUP BY d.day
"""


def a5_below_median_days(spark, sf):
    """A5: outage shape — per-type daily counts under the per-type median
    (reference flags days <10% of median; threshold generalized)."""
    e = load(spark, sf, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    med = daily.groupBy("event_type").agg(
        F.round(F.median("n"), 4).alias("median_n")
    )
    return (
        daily.join(med, "event_type")
        .filter(F.col("n") < F.col("median_n"))
        .select("event_type", "day", "n", "median_n")
    )


A5_SQL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*) AS n FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, round(median(n)::DOUBLE, 4) AS median_n FROM daily GROUP BY 1
)
SELECT daily.event_type, day, n, median_n
FROM daily JOIN med ON daily.event_type = med.event_type
WHERE n < median_n
"""


def a5b_outage_days(spark, sf):
    """A5 with the reference's EXACT threshold: flag days with activity
    below 10% of the per-type median daily count
    (process_historical_news.ipynb cell 10, outage_threshold_percent=0.10).
    Densified over the full day range first, so zero-activity days — the
    actual outage surface — are flagged too (a day absent from the raw
    groupBy can never be below any threshold). On healthy synthetic data
    this is correctly empty; tests/test_analytics_ops.py injects a gap and
    asserts it is flagged."""
    e = load(spark, sf, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    grid = (
        e.agg(F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
        .crossJoin(daily.select("event_type").distinct())
    )
    dense = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    med = dense.groupBy("event_type").agg(
        F.round(F.median("n"), 4).alias("median_n")
    )
    return (
        dense.join(F.broadcast(med), "event_type")
        .filter(F.col("n") < 0.10 * F.col("median_n"))
        .select("event_type", "day", "n", "median_n")
    )


A5B_SQL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*) AS n FROM events GROUP BY 1, 2
), grid AS (
  SELECT t.event_type, d.day
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (
    SELECT unnest(generate_series(min(ts)::DATE, max(ts)::DATE,
                                  INTERVAL 1 DAY))::DATE AS day
    FROM events
  ) d
), dense AS (
  SELECT g.event_type, g.day, coalesce(daily.n, 0)::BIGINT AS n
  FROM grid g LEFT JOIN daily
    ON daily.event_type = g.event_type AND daily.day = g.day
), med AS (
  SELECT event_type, round(median(n)::DOUBLE, 4) AS median_n
  FROM dense GROUP BY 1
)
SELECT dense.event_type, day, n, median_n
FROM dense JOIN med ON dense.event_type = med.event_type
WHERE n < 0.10 * median_n
"""


def a6_value_stats(spark, sf):
    """A6: numeric aggregate battery per key (running-counter analog)."""
    return (
        load(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.round(F.min("value"), 4).alias("min_value"),
        )
    )


A6_SQL = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       round(avg(value), 4) AS avg_value, round(max(value), 4) AS max_value,
       round(min(value), 4) AS min_value
FROM events GROUP BY 1
"""


def a7_retry_histogram(spark, sf):
    """A6-ref: histogram over a small-int column (tried_count analog)."""
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_linenumber")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
    )


A7_SQL = """
SELECT l_linenumber, count(*) AS n, round(avg(l_quantity), 4) AS avg_qty
FROM lineitem GROUP BY 1
"""


def a9_rollup(spark, sf):
    """Multi-level rollup in ONE pass: (event_type, day) subtotals, per-
    type totals, and the grand total from a single ROLLUP aggregate —
    Spark plans grouping sets as one Expand + one shuffled aggregate
    (partial aggregation intact), never three scans of the fact table.
    lvl is the grouping_id bitmask (0 = leaf, 1 = per-type, 3 = grand),
    identical to DuckDB's GROUPING(); the float total is rounded to 2 dp
    on both sides so summation order can't flip the hash."""
    e = load(spark, sf, "events")
    return (
        e.withColumn("day", F.to_date("ts"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.grouping_id().cast("int").alias("lvl"),
        )
    )


A9_SQL = """
WITH d AS (SELECT event_type, ts::DATE AS day, value FROM events)
SELECT event_type, day, count(*)::BIGINT AS n,
       round(sum(value), 2) AS sum_value,
       grouping(event_type, day)::INT AS lvl
FROM d GROUP BY ROLLUP (event_type, day)
"""


A8_GAP_SECONDS = 1800


def a8_sessionization(spark, sf):
    """Gap-based sessionization under the hard gate
    (operators/sessions.sessionize): each user's event stream splits
    into sessions wherever the whole-second gap exceeds 30 min; output
    is one row per session (count, bounds, duration), so one misplaced
    split anywhere breaks the hash. Ordering ties pinned by event_id;
    gap arithmetic truncates to seconds on BOTH sides (events.ts
    carries microseconds)."""
    from .operators import sessions

    e = load(spark, sf, "events")
    s = sessions.sessionize(
        e, key="user_id", ts_col="ts", gap_seconds=A8_GAP_SECONDS,
        tiebreak="event_id",
    )
    tl = F.col("ts").cast("timestamp").cast("long")
    return s.groupBy("user_id", "session_no").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(tl) - F.min(tl)).cast("long").alias("duration_s"),
    )


A8_SQL = f"""
WITH o AS (
  SELECT user_id, ts, floor(epoch(ts))::BIGINT AS tl,
         lag(floor(epoch(ts))::BIGINT)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tl,
         event_id
  FROM events
), m AS (
  SELECT user_id, ts, tl,
         sum(CASE WHEN prev_tl IS NULL OR tl - prev_tl > {A8_GAP_SECONDS}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
  FROM o
)
SELECT user_id, session_no, count(*)::BIGINT AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       (max(tl) - min(tl))::BIGINT AS duration_s
FROM m GROUP BY 1, 2
"""


# ===========================================================================
# J — joins / set ops (seen-set & audit shapes)

def j1_anti_join_unseen(spark, sf):
    """J1: the seen-set anti-join shape — orders with no lineitem
    ("candidate links not in the seen set")."""
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        o.join(li, "o_orderkey", "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_unmatched"))
    )


J1_SQL = """
SELECT o_orderstatus, count(*) AS n_unmatched
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
GROUP BY 1
"""


def j2_first_wins_dedup(spark, sf):
    """J2: first-wins dedup — earliest event per (user_id, event_type),
    deterministic tie-break (the ON CONFLICT DO NOTHING survivor rule)."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


J2_SQL = """
SELECT user_id, event_type, event_id, ts
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


def j6_audit_join(spark, sf):
    """J6: links⟕articles reconciliation — left join + per-key distinct
    counts of matched/unmatched."""
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem").select(F.col("l_orderkey"))
    joined = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    return joined.groupBy("o_orderstatus").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count("l_orderkey").alias("n_items"),
        F.countDistinct(
            F.when(F.col("l_orderkey").isNull(), F.col("o_orderkey"))
        ).alias("n_without_items"),
    )


J6_SQL = """
SELECT o_orderstatus,
       count(DISTINCT o_orderkey) AS n_orders,
       count(l_orderkey) AS n_items,
       count(DISTINCT CASE WHEN l_orderkey IS NULL THEN o_orderkey END) AS n_without_items
FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


def j7_broadcast_dims(spark, sf):
    """J7: broadcast dimension lookups — fact⋈customer⋈nation⋈region."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


J7_SQL = """
SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def j8_json_props(spark, sf):
    """Semi-structured props: JSON field extraction + aggregate."""
    e = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


J8_SQL = """
SELECT event_type,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       count(json_extract_string(props, '$.k')) AS n_with_k,
       round(avg(json_extract_string(props, '$.k')::BIGINT)::DOUBLE, 4) AS avg_k
FROM events GROUP BY 1
"""


J10_BUDGET = 40
J10_ROUNDS = 4
J10_MAX_RETRIES = 3


def j10_frontier_machine(spark, sf):
    """J3/J5/ST4 under the hard oracle gate: the frontier status machine
    replayed for 4 rounds over a synthetic frontier derived
    deterministically from the events table (url_hash = md5-derived
    long, host = event_type, priority = pmod(hash,3), fetch outcome =
    pure function pmod(hash,10)≠0 — all DuckDB-reproducible). Each round
    pops the per-host top-BUDGET by (priority, published_ts, url_hash)
    through the REAL salted two-phase pop operator
    (operators/frontier.pop_round) and applies the engine's MERGE rule
    (ok → completed; fail → tried+1, failed at max_retries); the oracle
    replays the same transitions with 4 unrolled window-rank CTEs.
    Output: the (status, tried_count) census after round 4.

    Merge-on-read replay (same shape as j11 and the engine itself):
    the base frontier is immutable and only the ≤ hosts·budget popped
    rows per round accumulate in a checkpointed ``overlay``; each
    round's eligibility is base ⟕̸ broadcast(overlay keys) ∪ pending
    overlay rows. Checkpointing the whole merged frontier per round
    re-materialized O(|frontier|) 4 times over — the overlay keeps the
    per-round write at O(|popped so far|) (≤ 800 rows here)."""
    from .operators import frontier as frontier_ops
    from .operators.dedup import md5_hash64

    e = load(spark, sf, "events")
    base = e.select(
        md5_hash64(F.concat(F.lit("u"), F.col("event_id").cast("string"))).alias(
            "url_hash"
        ),
        F.col("event_type").alias("host"),
        F.col("ts").alias("published_ts"),
    )
    # materialize the derived frontier ONCE: each round's job (and the
    # final census) otherwise re-derives the md5 keys from its own
    # events scan and re-codegens the derivation tree per round —
    # measured ~0.25 s/round warm and several seconds cold on j11's
    # identical shape
    frontier = base.select(
        "url_hash",
        "host",
        F.pmod(F.col("url_hash"), F.lit(3)).cast("int").alias("priority"),
        "published_ts",
        F.lit("pending").alias("status"),
        F.lit(0).alias("tried_count"),
    ).localCheckpoint(eager=True)
    budgets = (
        frontier.select("host").distinct().withColumn("budget", F.lit(J10_BUDGET))
    )
    overlay = frontier.filter(F.lit(False)).localCheckpoint(eager=True)
    ok = F.pmod(F.col("url_hash"), F.lit(10)) != 0
    for _ in range(J10_ROUNDS):
        merged = frontier.join(
            F.broadcast(overlay.select("url_hash")), "url_hash", "left_anti"
        ).unionByName(overlay)
        popped = frontier_ops.pop_round(
            frontier_ops.eligible(merged, J10_MAX_RETRIES), budgets
        )
        updated = (
            popped.withColumn(
                "tried_count",
                F.when(ok, F.col("tried_count")).otherwise(F.col("tried_count") + 1),
            )
            .withColumn(
                "status",
                F.when(ok, F.lit("completed"))
                .when(F.col("tried_count") >= J10_MAX_RETRIES, F.lit("failed"))
                .otherwise(F.lit("pending")),
            )
        )
        overlay = (
            overlay.join(popped.select("url_hash"), "url_hash", "left_anti")
            .unionByName(updated)
            .localCheckpoint(eager=True)
        )
    final = frontier.join(
        F.broadcast(overlay.select("url_hash")), "url_hash", "left_anti"
    ).unionByName(overlay)
    return final.groupBy("status", "tried_count").agg(F.count("*").alias("n"))


_J10_H = (
    "((('0x' || substring(md5('u' || event_id::VARCHAR), 1, 8))::BIGINT"
    " + CASE WHEN ('0x' || substring(md5('u' || event_id::VARCHAR), 1, 8))::BIGINT"
    " >= 2147483648 THEN -4294967296 ELSE 0 END) * 4294967296"
    " + ('0x' || substring(md5('u' || event_id::VARCHAR), 9, 8))::BIGINT)"
)


def _j10_round_sql(prev: str, cur: str) -> str:
    b, r = J10_BUDGET, J10_MAX_RETRIES
    return f"""
{cur} AS (
  SELECT s.url_hash, s.host, s.priority, s.published_ts,
         CASE WHEN e.rn <= {b} THEN
                CASE WHEN ((s.url_hash % 10) + 10) % 10 <> 0 THEN 'completed'
                     WHEN s.tried + 1 >= {r} THEN 'failed'
                     ELSE 'pending' END
              ELSE s.status END AS status,
         CASE WHEN e.rn <= {b} AND ((s.url_hash % 10) + 10) % 10 = 0
              THEN s.tried + 1 ELSE s.tried END AS tried
  FROM {prev} s LEFT JOIN (
    SELECT url_hash,
           row_number() OVER (PARTITION BY host
                              ORDER BY priority, published_ts, url_hash) AS rn
    FROM {prev} WHERE status = 'pending' AND tried < {r}
  ) e USING (url_hash)
)"""


J10_SQL = (
    f"""
WITH r0 AS (
  SELECT h AS url_hash, event_type AS host,
         (((h % 3) + 3) % 3)::INT AS priority, ts AS published_ts,
         'pending' AS status, 0 AS tried
  FROM (SELECT {_J10_H} AS h, event_type, ts FROM events)
),"""
    + ",".join(
        _j10_round_sql(f"r{i}", f"r{i + 1}") for i in range(J10_ROUNDS)
    )
    + f"""
SELECT status, tried::INT AS tried_count, count(*) AS n
FROM r{J10_ROUNDS} GROUP BY 1, 2
"""
)


J11_REFILL = 700
J11_CAP = 1000
J11_ROUNDS = 5
J11_MAX_RETRIES = 3


def j11_token_bucket_replay(spark, sf):
    """C1 under the hard gate: per-host token-bucket politeness with
    CARRY, replayed through the real pop operator. Each round budget =
    min(cap, tokens + refill) (the engine's _budgets expression), the
    per-host top-budget pops through frontier.pop_round, the j10 MERGE
    rule applies, and tokens_next = budget − popped(host). Parameters
    are sized so that at the gate's sf0.01 both regimes engage: hosts
    drain below budget around round 4 (carry accumulates) and the
    bucket cap clips the refill in round 5. Output: final (host,
    status) census joined with each host's leftover tokens.

    Merge-on-read replay, the engine's own state shape: the base
    frontier is IMMUTABLE (scanned from parquet each round, never
    rewritten), and only popped rows accumulate in a small ``overlay``
    (≤ hosts × cap per round), latest-status-per-url. Eligibility is
    base ⟕̸ broadcast(overlay keys) ∪ pending overlay rows, so the
    per-round materialization is O(|popped so far|), not O(|frontier|)
    — checkpointing the whole merged frontier each round was 4× slower
    at sf0.1 and would be fatal at 10^10 rows.

    ONE Spark job per round: popped rows are stamped with the round
    number (``__r``) before folding into the overlay checkpoint, so
    this round's per-host pop counts — the only thing the token fold
    needs — come from a cheap re-scan of the already-materialized
    overlay (filter ``__r == i``) instead of a second job that
    re-executes the pop. ``tokens`` stays a lazy 5-row plan over
    checkpointed leaves, cut each round by a lazy localCheckpoint that
    piggybacks on the next round's job (an eager one would be a whole
    extra job for 5 rows).

    ``salts=8``, not pop_round's default 64: phase-2 input per host is
    salts × budget, and with this query's cap-1000 budgets 64 salts
    would keep up to 64 000 survivors per host — more than the whole
    sf0.1 frontier, i.e. phase 1 would prune nothing (measured 3.7×
    slower). Pick salts ≈ target-phase-2-rows / budget; the engine's
    ≤20-row budgets keep the default 64."""
    from .operators import frontier as frontier_ops
    from .operators.dedup import md5_hash64

    e = load(spark, sf, "events")
    base = e.select(
        md5_hash64(F.concat(F.lit("u"), F.col("event_id").cast("string"))).alias(
            "url_hash"
        ),
        F.col("event_type").alias("host"),
        F.pmod(
            md5_hash64(F.concat(F.lit("u"), F.col("event_id").cast("string"))),
            F.lit(3),
        ).cast("int").alias("priority"),
        F.col("ts").alias("published_ts"),
        F.lit("pending").alias("status"),
        F.lit(0).alias("tried_count"),
        F.lit(-1).cast("int").alias("__r"),
    ).localCheckpoint(eager=True)  # derive-once: the j10 frontier note
    overlay = base.filter(F.lit(False)).localCheckpoint(eager=True)
    tokens = (
        base.select("host").distinct().withColumn("tokens", F.lit(0).cast("long"))
    )
    ok = F.pmod(F.col("url_hash"), F.lit(10)) != 0
    for i in range(J11_ROUNDS):
        budgets = tokens.select(
            "host",
            F.least(F.lit(J11_CAP).cast("long"), F.col("tokens") + F.lit(J11_REFILL))
            .alias("budget"),
        )
        merged = base.join(
            F.broadcast(overlay.select("url_hash")), "url_hash", "left_anti"
        ).unionByName(overlay)
        popped = frontier_ops.pop_round(
            frontier_ops.eligible(merged, J11_MAX_RETRIES).drop("__r"),
            budgets,
            salts=8,
        )
        updated = (
            popped.withColumn(
                "tried_count",
                F.when(ok, F.col("tried_count")).otherwise(F.col("tried_count") + 1),
            )
            .withColumn(
                "status",
                F.when(ok, F.lit("completed"))
                .when(F.col("tried_count") >= J11_MAX_RETRIES, F.lit("failed"))
                .otherwise(F.lit("pending")),
            )
            .withColumn("__r", F.lit(i).cast("int"))
        )
        overlay = (
            overlay.join(popped.select("url_hash"), "url_hash", "left_anti")
            .unionByName(updated)
            .localCheckpoint(eager=True)
        )
        tokens = (
            budgets.join(
                overlay.filter(F.col("__r") == i)
                .groupBy("host")
                .agg(F.count("*").alias("__n")),
                "host",
                "left",
            )
            .select(
                "host",
                (F.col("budget") - F.coalesce("__n", F.lit(0)))
                .cast("long")
                .alias("tokens"),
            )
            .localCheckpoint(eager=False)
        )
    final = base.join(
        F.broadcast(overlay.select("url_hash")), "url_hash", "left_anti"
    ).unionByName(overlay)
    return (
        final.groupBy("host", "status")
        .agg(F.count("*").alias("n"))
        .join(tokens, "host")
    )


def _j11_round_sql(i: int) -> str:
    prev, cur = f"s{i}", f"s{i + 1}"
    tp, tc = f"tk{i}", f"tk{i + 1}"
    r = J11_MAX_RETRIES
    return f"""
b{i + 1} AS (
  SELECT host, least({J11_CAP}, tokens + {J11_REFILL}) AS budget FROM {tp}
),
pops{i + 1} AS (
  SELECT e.url_hash, e.host
  FROM (SELECT url_hash, host,
               row_number() OVER (PARTITION BY host
                   ORDER BY priority, published_ts, url_hash) AS rn
        FROM {prev} WHERE status = 'pending' AND tried < {r}) e
  JOIN b{i + 1} USING (host)
  WHERE e.rn <= budget
),
{cur} AS (
  SELECT s.url_hash, s.host, s.priority, s.published_ts,
         CASE WHEN p.url_hash IS NOT NULL THEN
                CASE WHEN ((s.url_hash % 10) + 10) % 10 <> 0 THEN 'completed'
                     WHEN s.tried + 1 >= {r} THEN 'failed'
                     ELSE 'pending' END
              ELSE s.status END AS status,
         CASE WHEN p.url_hash IS NOT NULL AND ((s.url_hash % 10) + 10) % 10 = 0
              THEN s.tried + 1 ELSE s.tried END AS tried
  FROM {prev} s LEFT JOIN pops{i + 1} p USING (url_hash)
),
{tc} AS (
  SELECT b.host, (b.budget - coalesce(p.n, 0))::BIGINT AS tokens
  FROM b{i + 1} b LEFT JOIN (
    SELECT host, count(*) AS n FROM pops{i + 1} GROUP BY 1
  ) p USING (host)
)"""


J11_SQL = (
    f"""
WITH s0 AS (
  SELECT h AS url_hash, event_type AS host,
         (((h % 3) + 3) % 3)::INT AS priority, ts AS published_ts,
         'pending' AS status, 0 AS tried
  FROM (SELECT {_J10_H} AS h, event_type, ts FROM events)
),
tk0 AS (SELECT DISTINCT event_type AS host, 0::BIGINT AS tokens FROM events),"""
    + ",".join(_j11_round_sql(i) for i in range(J11_ROUNDS))
    + f"""
SELECT s.host, s.status, count(*)::BIGINT AS n, min(t.tokens)::BIGINT AS tokens
FROM s{J11_ROUNDS} s JOIN tk{J11_ROUNDS} t ON s.host = t.host
GROUP BY 1, 2
"""
)


J14_ROUNDS = 5
J14_INIT = 4
J14_INC = 3
J14_CAP = 20
J14_MIN = 2
J14_MAX_RETRIES = 2


def j14_aimd_budget_replay(spark, sf):
    """Adaptive per-host politeness under the hard gate: AIMD budgets
    (additive increase on a clean round, multiplicative decrease on any
    failure — the congestion-control rule a polite crawler applies to
    per-host fetch rates when servers start erroring) replayed through
    the REAL pop (frontier.pop_round over eligible) and the j10 MERGE
    rule. Where j11's token bucket is a FIXED refill policy, this is the
    FEEDBACK policy layered on top: budget_{i+1} = max(MIN, ⌊budget/2⌋)
    if the host failed this round, else min(CAP, budget + INC); fetch
    failure is url_hash arithmetic (pmod 7), so the DuckDB twin unrolls
    the same 5 rounds and the value hash pins every pop, every status
    transition and every budget step. At sf0.01 every host both halves
    and re-grows within the 5 rounds (≈14% failure odds per pop at
    budgets 2-20), so both AIMD branches are under the gate.

    Same merge-on-read overlay + round-stamp shape as j11 (immutable
    base, O(|popped|) per-round state, ONE Spark job per round) — see
    j11's docstring for why that is the 10^10-row plan."""
    from .operators import frontier as frontier_ops
    from .operators.dedup import md5_hash64

    e = load(spark, sf, "events")
    h = md5_hash64(F.concat(F.lit("u"), F.col("event_id").cast("string")))
    base = e.select(
        h.alias("url_hash"),
        F.col("event_type").alias("host"),
        F.pmod(h, F.lit(3)).cast("int").alias("priority"),
        F.col("ts").alias("published_ts"),
        F.lit("pending").alias("status"),
        F.lit(0).alias("tried_count"),
        F.lit(-1).cast("int").alias("__r"),
    ).localCheckpoint(eager=True)  # derive-once: the j10 frontier note
    overlay = base.filter(F.lit(False)).localCheckpoint(eager=True)
    bud = (
        base.select("host")
        .distinct()
        .withColumn("budget", F.lit(J14_INIT).cast("long"))
    )
    ok = F.pmod(F.col("url_hash"), F.lit(7)) != 0
    for i in range(J14_ROUNDS):
        merged = base.join(
            F.broadcast(overlay.select("url_hash")), "url_hash", "left_anti"
        ).unionByName(overlay)
        popped = frontier_ops.pop_round(
            frontier_ops.eligible(merged, J14_MAX_RETRIES).drop("__r"),
            bud,
            salts=8,
        )
        updated = (
            popped.withColumn(
                "tried_count",
                F.when(ok, F.col("tried_count")).otherwise(F.col("tried_count") + 1),
            )
            .withColumn(
                "status",
                F.when(ok, F.lit("completed"))
                .when(F.col("tried_count") >= J14_MAX_RETRIES, F.lit("failed"))
                .otherwise(F.lit("pending")),
            )
            .withColumn("__r", F.lit(i).cast("int"))
        )
        overlay = (
            overlay.join(popped.select("url_hash"), "url_hash", "left_anti")
            .unionByName(updated)
            .localCheckpoint(eager=True)
        )
        # AIMD fold from the already-materialized overlay (the j11
        # round-stamp trick: no second job re-executing the pop)
        fails = (
            overlay.filter((F.col("__r") == i) & (F.col("status") != "completed"))
            .groupBy("host")
            .agg(F.count("*").alias("__nf"))
        )
        bud = (
            bud.join(fails, "host", "left")
            .select(
                "host",
                F.when(
                    F.coalesce("__nf", F.lit(0)) > 0,
                    F.greatest(
                        F.lit(J14_MIN).cast("long"),
                        F.floor(F.col("budget") / F.lit(2)).cast("long"),
                    ),
                )
                .otherwise(
                    F.least(
                        F.lit(J14_CAP).cast("long"), F.col("budget") + F.lit(J14_INC)
                    )
                )
                .alias("budget"),
            )
            .localCheckpoint(eager=False)
        )
    final = base.join(
        F.broadcast(overlay.select("url_hash")), "url_hash", "left_anti"
    ).unionByName(overlay)
    return (
        final.groupBy("host", "status")
        .agg(F.count("*").alias("n"))
        .join(bud, "host")
    )


def _j14_round_sql(i: int) -> str:
    prev, cur = f"s{i}", f"s{i + 1}"
    r = J14_MAX_RETRIES
    return f"""
pops{i + 1} AS (
  SELECT e.url_hash, e.host
  FROM (SELECT url_hash, host,
               row_number() OVER (PARTITION BY host
                   ORDER BY priority, published_ts, url_hash) AS rn
        FROM {prev} WHERE status = 'pending' AND tried < {r}) e
  JOIN b{i} USING (host)
  WHERE e.rn <= budget
),
{cur} AS (
  SELECT s.url_hash, s.host, s.priority, s.published_ts,
         CASE WHEN p.url_hash IS NOT NULL THEN
                CASE WHEN ((s.url_hash % 7) + 7) % 7 <> 0 THEN 'completed'
                     WHEN s.tried + 1 >= {r} THEN 'failed'
                     ELSE 'pending' END
              ELSE s.status END AS status,
         CASE WHEN p.url_hash IS NOT NULL AND ((s.url_hash % 7) + 7) % 7 = 0
              THEN s.tried + 1 ELSE s.tried END AS tried
  FROM {prev} s LEFT JOIN pops{i + 1} p USING (url_hash)
),
f{i + 1} AS (
  SELECT host, count(*) AS nf FROM pops{i + 1}
  WHERE ((url_hash % 7) + 7) % 7 = 0 GROUP BY 1
),
b{i + 1} AS (
  SELECT b.host,
         (CASE WHEN coalesce(f.nf, 0) > 0
               THEN greatest({J14_MIN}, floor(b.budget / 2)::BIGINT)
               ELSE least({J14_CAP}, b.budget + {J14_INC}) END)::BIGINT AS budget
  FROM b{i} b LEFT JOIN f{i + 1} f USING (host)
)"""


J14_SQL = (
    f"""
WITH s0 AS (
  SELECT h AS url_hash, event_type AS host,
         (((h % 3) + 3) % 3)::INT AS priority, ts AS published_ts,
         'pending' AS status, 0 AS tried
  FROM (SELECT {_J10_H} AS h, event_type, ts FROM events)
),
b0 AS (SELECT DISTINCT event_type AS host, {J14_INIT}::BIGINT AS budget
       FROM events),"""
    + ",".join(_j14_round_sql(i) for i in range(J14_ROUNDS))
    + f"""
SELECT s.host, s.status, count(*)::BIGINT AS n, min(b.budget)::BIGINT AS budget
FROM s{J14_ROUNDS} s JOIN b{J14_ROUNDS} b ON s.host = b.host
GROUP BY 1, 2
"""
)


def f1_jalali_calendar(spark, sf):
    """F3 (exact Jalali↔Gregorian, the reference's date backbone) under
    the HARD gate. 460 years of md5-derived dates (1800-03-01 + pmod(h,
    168000) days → Gregorian 1800–2260, Jalali 1179–1639) run through
    the REAL vectorized UDFs — ``with_jalali_columns``
    (gregorian_to_jalali) and ``jalali_to_date`` back — plus the S1
    archive-URL builder over the Jalali fields. The span crosses the
    33-year-cycle breaks 1181/1210/1635, every leap-year class, and the
    before-Nowruz negative-k branch. The DuckDB oracle re-derives the
    whole jalaali algorithm in pure unrolled SQL (JDN arithmetic +
    breaks-table fold; validated cell-by-cell against the python
    reference over this exact span before landing) and pins roundtrip =
    identity. persian.py:72-153; reference uses jdatetime throughout
    its collectors (e.g. utils/date_utils.py)."""
    from .functions import persian
    from .operators.dedup import md5_hash64

    e = load(spark, sf, "events")
    h = md5_hash64(F.concat(F.lit("u"), F.col("event_id").cast("string")))
    days = (
        e.select(F.pmod(h, F.lit(168000)).cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    dated = days.select(
        F.date_add(F.to_date(F.lit("1800-03-01")), F.col("k")).alias("g"), "n"
    )
    j = persian.with_jalali_columns(dated, "g")
    back = persian.jalali_to_date(F.col("jy"), F.col("jm"), F.col("jd"))
    return j.select(
        F.date_format("g", "yyyy-MM-dd").alias("g_date"),
        "jy",
        "jm",
        "jd",
        "n",
        F.date_format(back, "yyyy-MM-dd").alias("roundtrip"),
        persian.archive_url(
            F.lit("https://www.isna.ir"), F.col("jy"), F.col("jm"), F.col("jd")
        ).alias("url"),
    )


_F1_BREAKS = [
    -61, 9, 38, 199, 426, 686, 756, 818, 1111, 1181, 1210,
    1635, 2060, 2097, 2192, 2262, 2324, 2394, 2456, 3178,
]

F1_SQL = f"""
WITH ks AS (
  SELECT ((({_J10_H} % 168000) + 168000) % 168000)::INT AS k,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1
),
dates AS (
  SELECT DATE '1800-03-01' + k AS g, n,
         year(DATE '1800-03-01' + k) AS gy,
         month(DATE '1800-03-01' + k) AS gm,
         day(DATE '1800-03-01' + k) AS gd
  FROM ks
),
gg AS (SELECT *, CASE WHEN gm <= 2 THEN -1 ELSE 0 END AS m8 FROM dates),
jdns AS (
  SELECT g, n, gy, gm, gd,
    ((gy + m8 + 100100) * 1461) // 4
      + (153 * ((gm + 9) % 12) + 2) // 5
      + gd - 34840408
      - (((gy + 100100 + m8) // 100) * 3) // 4 + 752 AS jdn
  FROM gg
),
dj AS (SELECT *, 4*jdn + 139361631
         + ((4*jdn + 183187720) // 146097) * 3 // 4 * 4 - 3908 AS j FROM jdns),
dj2 AS (SELECT *, ((j % 1461) // 4) * 5 + 308 AS i FROM dj),
jy0 AS (
  SELECT g, n, jdn,
    (j // 1461 - 100100
       + CASE WHEN ((i // 153) % 12 + 1) <= 2 THEN 1 ELSE 0 END) - 621 AS jy
  FROM dj2
),
breaks(idx, b) AS (VALUES {", ".join(f"({i}, {b})" for i, b in enumerate(_F1_BREAKS))}),
iv AS (
  SELECT b1.idx, b1.b AS jp, b2.b AS jm_b, b2.b - b1.b AS jump
  FROM breaks b1 JOIN breaks b2 ON b2.idx = b1.idx + 1
),
cal AS (
  SELECT y.g, y.n, y.jdn, y.jy,
    -14 + coalesce(SUM(CASE WHEN y.jy >= iv.jm_b
                            THEN (iv.jump // 33) * 8 + (iv.jump % 33) // 4 END), 0)
      AS leapj_base,
    max(CASE WHEN y.jy >= iv.jp AND y.jy < iv.jm_b THEN iv.jp END) AS jp,
    max(CASE WHEN y.jy >= iv.jp AND y.jy < iv.jm_b THEN iv.jump END) AS jump
  FROM jy0 y CROSS JOIN iv
  GROUP BY 1, 2, 3, 4
),
cal2 AS (SELECT *, jy - jp AS nn FROM cal),
cal3 AS (
  SELECT *, leapj_base + (nn // 33) * 8 + ((nn % 33) + 3) // 4
       + CASE WHEN (jump % 33) = 4 AND jump - nn = 4 THEN 1 ELSE 0 END AS leapj,
    (jy + 621) // 4 - (((jy + 621) // 100 + 1) * 3) // 4 - 150 AS leapg
  FROM cal2
),
cal4 AS (
  SELECT *, 20 + leapj - leapg AS march,
    CASE WHEN jump - nn < 6 THEN nn - jump + ((jump + 4) // 33) * 33 ELSE nn END AS n2
  FROM cal3
),
cal5 AS (SELECT *, ((n2 + 1) % 33 - 1) % 4 AS leap FROM cal4),
mar AS (
  SELECT *,
    (((jy + 621) + 100100) * 1461) // 4
      + (153 * ((3 + 9) % 12) + 2) // 5
      + march - 34840408
      - ((((jy + 621) + 100100) // 100) * 3) // 4 + 752 AS jdn1f
  FROM cal5
),
kk AS (SELECT g, n, jy, leap, jdn - jdn1f AS k FROM mar),
jal AS (
  SELECT g, n,
    CASE WHEN k >= 0 THEN jy ELSE jy - 1 END AS jy2,
    CASE WHEN k >= 0 AND k <= 185 THEN 1 + k // 31
         WHEN k >= 0 THEN 7 + (k - 186) // 30
         ELSE 7 + (k + 179 + CASE WHEN leap = 1 THEN 1 ELSE 0 END) // 30
    END AS jm2,
    CASE WHEN k >= 0 AND k <= 185 THEN (k % 31) + 1
         WHEN k >= 0 THEN ((k - 186) % 30) + 1
         ELSE ((k + 179 + CASE WHEN leap = 1 THEN 1 ELSE 0 END) % 30) + 1
    END AS jd2
  FROM kk
)
SELECT strftime(g, '%Y-%m-%d') AS g_date,
       jy2::INT AS jy, jm2::INT AS jm, jd2::INT AS jd, n,
       strftime(g, '%Y-%m-%d') AS roundtrip,
       printf('https://www.isna.ir/page/archive.xhtml?mn=%d&wide=0&dy=%d&ms=0&pi=1&yr=%d',
              jm2::INT, jd2::INT, jy2::INT) AS url
FROM jal
"""


def f2_persian_datetime_parse(spark, sf):
    """The COMPOSED F2+F3+F4 pipeline — the path every ISNA page date
    takes (digit translation → ZWNJ cleanup → regex → month-name map →
    Jalali→Gregorian → Tehran→UTC; reference
    collectors/isna/links_crawler.py:171-206) — under the hard gate in
    one value-hash. md5-derived (jy, jm, jd, hh, mm) fields are rendered
    as REAL Persian datetime strings (Persian digits, month names from
    the Farvardin..Esfand table, an occasional weekday prefix carrying a
    ZWNJ so the F8 cleanup is on the hot path), then parsed back by the
    real ``parse_persian_datetime``. The DuckDB twin assembles the same
    strings and derives the UTC instant via the unrolled jalaali SQL
    (f1's breaks-table fold, inverted to Jalali→JDN→date) and ICU's
    Asia/Tehran rules.

    Coverage: jy 1360-1420 (Gregorian 1981-2042) spans the no-DST 80s,
    the 1991-2022 DST era (so both +3:30 and +4:30 offsets are hit) and
    the post-2022 fixed offset. jy < 1360 is EXCLUDED deliberately:
    JDK and ICU tzdata disagree by 30 min on Iran's disputed 1977-1980
    history (measured: Jalali 1357 ≈ Nov 1978 differs), so a gate there
    would pin tzdata trivia, not this engine. hh ∈ 1..22 keeps every
    local time existing and unambiguous (Iran's DST transitions happen
    at midnight: 00:xx can be nonexistent, 23:xx ambiguous — engines
    may legally resolve those differently); jd ≤ 29 is valid in every
    Jalali month."""
    from .functions import persian
    from .operators.dedup import md5_hash64

    e = load(spark, sf, "events")
    h = md5_hash64(F.concat(F.lit("p"), F.col("event_id").cast("string")))
    jy = 1360 + F.pmod(h, F.lit(61))
    jm = 1 + F.pmod(h, F.lit(12))
    jd = 1 + F.pmod(h, F.lit(29))
    hh = 1 + F.pmod(h, F.lit(22))
    mm = F.pmod(h, F.lit(53))

    month_map = F.create_map(
        *[
            x
            for i, n in enumerate(persian.PERSIAN_MONTHS)
            for x in (F.lit(i + 1), F.lit(n))
        ]
    )

    def p(c):  # latin digits → Persian digits (inverse of the parser's F1)
        return F.translate(
            c.cast("string"), persian.LATIN_DIGITS, persian.PERSIAN_DIGITS
        )

    weekday = (
        F.when(F.pmod(h, F.lit(5)) == 0, F.lit("سه‌شنبه ")).otherwise(F.lit(""))
    )
    raw = F.concat(
        weekday, p(jd), F.lit(" "), month_map[jm], F.lit(" "), p(jy),
        F.lit(" - "), p(hh), F.lit(":"), p(F.format_string("%02d", mm)),
    )
    grouped = e.select(raw.alias("raw"), "event_id").groupBy("raw").agg(
        F.count("*").alias("n_rows"), F.min("event_id").alias("first_event")
    )
    return grouped.select(
        "raw",
        "n_rows",
        "first_event",
        persian.parse_persian_datetime(F.col("raw")).alias("utc_ts"),
    )


_F2_H = _J10_H.replace("md5('u'", "md5('p'")
_F2_MONTHS = ", ".join(
    f"({i + 1}, '{n}')"
    for i, n in enumerate(
        ["فروردین", "اردیبهشت", "خرداد", "تیر", "مرداد", "شهریور",
         "مهر", "آبان", "آذر", "دی", "بهمن", "اسفند"]
    )
)

F2_SQL = f"""
WITH f AS (
  SELECT event_id,
         1360 + (({_F2_H} % 61) + 61) % 61 AS jy,
         1 + (({_F2_H} % 12) + 12) % 12 AS jm,
         1 + (({_F2_H} % 29) + 29) % 29 AS jd,
         1 + (({_F2_H} % 22) + 22) % 22 AS hh,
         (({_F2_H} % 53) + 53) % 53 AS mi,
         (({_F2_H} % 5) + 5) % 5 = 0 AS wd
  FROM events
),
months(m, name) AS (VALUES {_F2_MONTHS}),
breaks(idx, b) AS (VALUES {", ".join(f"({i}, {b})" for i, b in enumerate(_F1_BREAKS))}),
iv AS (
  SELECT b1.idx, b1.b AS jp, b2.b AS jm_b, b2.b - b1.b AS jump
  FROM breaks b1 JOIN breaks b2 ON b2.idx = b1.idx + 1
),
jys AS (SELECT DISTINCT jy FROM f),
cal AS (
  SELECT y.jy,
    -14 + coalesce(SUM(CASE WHEN y.jy >= iv.jm_b
                            THEN (iv.jump // 33) * 8 + (iv.jump % 33) // 4 END), 0)
      AS leapj_base,
    max(CASE WHEN y.jy >= iv.jp AND y.jy < iv.jm_b THEN iv.jp END) AS jp,
    max(CASE WHEN y.jy >= iv.jp AND y.jy < iv.jm_b THEN iv.jump END) AS jump
  FROM jys y CROSS JOIN iv GROUP BY 1
),
cal2 AS (SELECT *, jy - jp AS nn FROM cal),
cal3 AS (
  SELECT *, leapj_base + (nn // 33) * 8 + ((nn % 33) + 3) // 4
       + CASE WHEN (jump % 33) = 4 AND jump - nn = 4 THEN 1 ELSE 0 END AS leapj,
    (jy + 621) // 4 - (((jy + 621) // 100 + 1) * 3) // 4 - 150 AS leapg
  FROM cal2
),
cal4 AS (SELECT jy, 20 + leapj - leapg AS march FROM cal3),
mar AS (
  SELECT jy, march,
    (((jy + 621) + 100100) * 1461) // 4
      + (153 * ((3 + 9) % 12) + 2) // 5
      + march - 34840408
      - ((((jy + 621) + 100100) // 100) * 3) // 4 + 752 AS jdn1f
  FROM cal4
),
g AS (
  SELECT f.*, DATE '1970-01-01'
         + (mar.jdn1f
            + CASE WHEN f.jm <= 6 THEN (f.jm - 1) * 31
                   ELSE 186 + (f.jm - 7) * 30 END
            + f.jd - 1 - 2440588)::INT AS gdate
  FROM f JOIN mar ON mar.jy = f.jy
),
strs AS (
  SELECT g.*,
    (CASE WHEN wd THEN 'سه‌شنبه ' ELSE '' END)
      || translate(jd::VARCHAR, '0123456789', '۰۱۲۳۴۵۶۷۸۹')
      || ' ' || months.name || ' '
      || translate(jy::VARCHAR, '0123456789', '۰۱۲۳۴۵۶۷۸۹')
      || ' - ' || translate(hh::VARCHAR, '0123456789', '۰۱۲۳۴۵۶۷۸۹')
      || ':' || translate(printf('%02d', mi), '0123456789', '۰۱۲۳۴۵۶۷۸۹') AS raw,
    ((gdate::TIMESTAMP + hh * INTERVAL 1 HOUR + mi * INTERVAL 1 MINUTE)
       AT TIME ZONE 'Asia/Tehran') AT TIME ZONE 'UTC' AS utc_ts
  FROM g JOIN months ON months.m = g.jm
)
SELECT raw, count(*)::BIGINT AS n_rows, min(event_id) AS first_event,
       any_value(utc_ts) AS utc_ts
FROM strs GROUP BY raw
"""


P9_SEGS = ["news", "archive", "admin", "tag", "static"]
P9_RULES = [
    ("click", "/admin", "deny"),
    ("error", "/admin", "deny"),
    ("purchase", "/admin", "deny"),
    ("signup", "/admin", "deny"),
    ("view", "/admin", "deny"),
    ("click", "/archive", "deny"),
    ("click", "/archive/2024", "allow"),
    ("error", "/", "deny"),
    ("error", "/news", "allow"),
    ("purchase", "/tag", "deny"),
    ("purchase", "/tag", "allow"),
    ("view", "/static", "deny"),
]


def p9_robots_filter(spark, sf):
    """P9 under the hard gate: longest-prefix robots evaluation through
    the REAL operator (frontier.allowed_by_robots — broadcast rules +
    higher-order functions, zero frontier-side shuffle, the same pass
    the crawl engine runs; reference link_validator semantics). URLs
    derive from events (host = event_type, two path depths so the
    /archive vs /archive/2024 override does real work); the rule set
    exercises every branch: longer-prefix override, root-deny with
    carve-out, equal-length allow-beats-deny tie, deny-only, and
    no-match ⇒ allow. The oracle scores each URL's matching rules with
    max(2·prefix_len + is_allow) — equivalent to the operator's
    lexicographic (len, allow) array_max. Output: per (host, first
    path segment) census of allowed URLs."""
    from .operators import frontier as frontier_ops

    e = load(spark, sf, "events")
    seg = F.element_at(
        F.array(*[F.lit(s) for s in P9_SEGS]),
        (F.pmod(F.col("event_id"), F.lit(5)) + 1).cast("int"),
    )
    deep = F.pmod(F.col("event_id"), F.lit(3)) == 0
    path = F.concat(
        F.lit("/"),
        seg,
        F.when(deep, F.lit("/2024/")).otherwise(F.lit("/")),
        F.col("event_id").cast("string"),
    )
    urls = e.select(
        "event_id",
        F.col("event_type").alias("host"),
        seg.alias("seg"),
        F.concat(F.lit("https://"), F.col("event_type"), path).alias(
            "canonical_url"
        ),
    )
    rules = spark.createDataFrame(
        P9_RULES, "host string, path_prefix string, rule_kind string"
    )
    return (
        frontier_ops.allowed_by_robots(urls, rules)
        .groupBy("host", "seg")
        .agg(F.count("*").alias("n_allowed"))
    )


_P9_VALUES = ", ".join(f"('{h}', '{p}', '{k}')" for h, p, k in P9_RULES)

P9_SQL = f"""
WITH urls AS (
  SELECT event_id, event_type AS host,
         (['news', 'archive', 'admin', 'tag', 'static'])
             [(((event_id % 5) + 5) % 5) + 1] AS seg,
         '/' || (['news', 'archive', 'admin', 'tag', 'static'])
             [(((event_id % 5) + 5) % 5) + 1]
             || CASE WHEN ((event_id % 3) + 3) % 3 = 0
                     THEN '/2024/' ELSE '/' END
             || event_id::VARCHAR AS path
  FROM events
),
rules(host, path_prefix, rule_kind) AS (VALUES {_P9_VALUES}),
scored AS (
  SELECT u.event_id, u.host, u.seg,
         max(2 * length(r.path_prefix)
             + CASE WHEN r.rule_kind = 'allow' THEN 1 ELSE 0 END) AS best
  FROM urls u
  LEFT JOIN rules r
    ON u.host = r.host AND starts_with(u.path, r.path_prefix)
  GROUP BY 1, 2, 3
)
SELECT host, seg, count(*)::BIGINT AS n_allowed
FROM scored
WHERE best IS NULL OR best % 2 = 1
GROUP BY 1, 2
"""


# P11 trap filter: seven URL shapes keyed by event_id % 7 — one per trap
# rule plus two benign shapes and a rule-priority collision (the cycle
# shape also carries a session param, pinning the CASE order).
P11_MIDDLES = [
    "/news/",                                          # ok
    "/tag/a/tag/a/tag/",                               # cycle (beats session)
    "/2024/01/02/03/",                                 # calendar
    "/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=",           # params (9 > 8)
    "/p?ref=x&PHPSESSID=",                             # session (case-folded)
    "/a/b/c/d/e/f/g/h/i/j/k/l/m/",                     # depth (14 > 12)
    "/news/item?page=",                                # ok (benign params)
]
P11_SUFFIXES = ["", "?sid=9", "", "", "", "", "&sort=asc"]


def p11_trap_filter(spark, sf):
    """P11 under the hard gate: spider-trap admission filtering through
    the REAL operator (frontier.url_trap_flags — regexp split +
    higher-order array expressions, zero shuffle before the census
    groupBy). URLs derive from events: event_id % 7 picks one of seven
    shapes — one per trap rule (depth / cycle / calendar / params /
    session), two benign, and the cycle shape also carries a session
    param so the rule-priority CASE order is value-hashed. The oracle
    recomputes every feature (segment list, repeat census, digit
    segments, param list, session probe) from the same URL strings in
    DuckDB list lambdas. Output: per (host, trap_reason) count +
    event_id checksum."""
    from .operators import frontier as frontier_ops

    e = load(spark, sf, "events")
    cls = (F.pmod(F.col("event_id"), F.lit(7)) + 1).cast("int")
    middle = F.element_at(F.array(*[F.lit(m) for m in P11_MIDDLES]), cls)
    suffix = F.element_at(F.array(*[F.lit(s) for s in P11_SUFFIXES]), cls)
    urls = e.select(
        "event_id",
        F.col("event_type").alias("host"),
        F.concat(
            F.lit("https://"),
            F.col("event_type"),
            middle,
            F.col("event_id").cast("string"),
            suffix,
        ).alias("canonical_url"),
    )
    return (
        frontier_ops.url_trap_flags(urls)
        .groupBy("host", "trap_reason")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum("event_id").alias("sum_id"),
        )
    )


_P11_MIDDLES_SQL = "[" + ", ".join(f"'{m}'" for m in P11_MIDDLES) + "]"
_P11_SUFFIXES_SQL = "[" + ", ".join(f"'{s}'" for s in P11_SUFFIXES) + "]"

P11_SQL = rf"""
WITH urls AS (
  SELECT event_id, event_type AS host,
         'https://' || event_type
           || ({_P11_MIDDLES_SQL})[(((event_id % 7) + 7) % 7) + 1]
           || event_id::VARCHAR
           || ({_P11_SUFFIXES_SQL})[(((event_id % 7) + 7) % 7) + 1]
           AS canonical_url
  FROM events
),
parts AS (
  SELECT event_id, host,
         list_filter(string_split(regexp_extract(canonical_url,
             '^[a-z]+://[^/?#]+([^?#]*)', 1), '/'), s -> s <> '') AS segs,
         list_filter(string_split(regexp_extract(canonical_url,
             '\?([^#]*)', 1), '&'), p -> p <> '') AS params
  FROM urls
),
feat AS (
  SELECT event_id, host,
         len(segs) AS depth,
         CASE WHEN len(segs) = 0 THEN 0
              ELSE list_max(list_transform(segs,
                       s -> len(list_filter(segs, t -> t = s)))) END AS seg_repeat,
         len(list_filter(segs, s -> regexp_matches(s, '^[0-9]+$'))) AS digit_segs,
         len(params) AS n_params,
         len(list_filter(params, p -> list_contains(
             ['sessionid','phpsessid','jsessionid','sid','cfid','cftoken'],
             lower(string_split(p, '=')[1])))) > 0 AS has_session
  FROM parts
)
SELECT host,
       CASE WHEN depth > 12 THEN 'depth'
            WHEN seg_repeat > 2 THEN 'cycle'
            WHEN digit_segs > 3 THEN 'calendar'
            WHEN n_params > 8 THEN 'params'
            WHEN has_session THEN 'session'
            ELSE 'ok' END AS trap_reason,
       count(*)::BIGINT AS n_urls,
       sum(event_id)::BIGINT AS sum_id
FROM feat
GROUP BY 1, 2
"""


def p13_trap_templates(spark, sf):
    """P13: BEHAVIORAL crawler-trap detection under the hard gate
    (frontier.trap_templates) — p11 rejects URLs whose SHAPE is
    suspicious pre-fetch; this catches the traps whose shape looks
    legitimate by comparing, per (host, URL template), how many
    DISTINCT URLs were fetched vs how many DISTINCT contents came back
    (calendar grids and faceted search mint unbounded URL spaces over
    near-constant content). Input BY CONSTRUCTION sweeps the whole
    decision surface: two pure-trap hosts (one boilerplate content
    under /cal/{d}/page-{d}), exact-hex-template hosts with all-unique
    content, and a /tag/{d} family whose content granularity steps
    n/2 → n/4 → n/8 → n/16 across hosts so the 1/4 threshold is
    crossed in both directions INCLUDING the exact boundary
    (cross-multiplied integers, no float ratio) — plus a single-URL
    path per host that the min_urls=20 guard must exempt no matter how
    diverse its content. The twin replays template canonicalization
    with regexp_replace(...,'g') (Spark replaces all matches by
    default) and the same distinct-aggregation, so the value hash pins
    the hex-before-digit template rule, both distinct counts, the
    integer threshold, and the min_urls guard."""
    from .operators import frontier as frontier_ops

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    hid = eid % 8
    host = F.concat(F.lit("h"), hid.cast("string"))
    sid = lambda n: F.expr(f"event_id div {n}").cast("string")
    path = (
        F.when(
            hid.isin(0, 1),
            F.concat(F.lit("/cal/"), sid(100), F.lit("/page-"), eid.cast("string")),
        )
        .when(
            hid == 2,
            F.concat(
                F.lit("/article/"),
                F.substring(F.md5(F.concat(F.lit("tp"), eid.cast("string"))), 1, 16),
                F.lit("-"),
                eid.cast("string"),
            ),
        )
        .when(hid == 3, F.concat(F.lit("/article/"), eid.cast("string")))
        .otherwise(F.concat(F.lit("/tag/"), eid.cast("string")))
    )
    content = (
        F.when(hid.isin(0, 1), F.concat(F.lit("boiler-h"), hid.cast("string")))
        .when(hid.isin(2, 3), F.concat(F.lit("c"), eid.cast("string")))
        .when(hid == 4, F.concat(F.lit("c"), sid(16)))
        .when(hid == 5, F.concat(F.lit("c"), sid(32)))
        .when(hid == 6, F.concat(F.lit("c"), sid(64)))
        .otherwise(F.concat(F.lit("c"), sid(128)))
    )
    pages = e.select(
        host.alias("host"), path.alias("path"), content.alias("content_key")
    ).unionAll(
        e.select(
            host.alias("host"),
            F.lit("/static/about").alias("path"),
            F.concat(F.lit("k"), eid.cast("string")).alias("content_key"),
        )
    )
    return frontier_ops.trap_templates(pages, min_urls=20, num=1, den=4).orderBy(
        "host", "template"
    )


P13_SQL = """
WITH pages AS (
  SELECT
    'h' || (event_id % 8)::VARCHAR AS host,
    CASE
      WHEN event_id % 8 IN (0, 1)
        THEN '/cal/' || (event_id // 100)::VARCHAR || '/page-' || event_id::VARCHAR
      WHEN event_id % 8 = 2
        THEN '/article/' || substring(md5('tp' || event_id::VARCHAR), 1, 16)
             || '-' || event_id::VARCHAR
      WHEN event_id % 8 = 3 THEN '/article/' || event_id::VARCHAR
      ELSE '/tag/' || event_id::VARCHAR
    END AS path,
    CASE
      WHEN event_id % 8 IN (0, 1) THEN 'boiler-h' || (event_id % 8)::VARCHAR
      WHEN event_id % 8 IN (2, 3) THEN 'c' || event_id::VARCHAR
      WHEN event_id % 8 = 4 THEN 'c' || (event_id // 16)::VARCHAR
      WHEN event_id % 8 = 5 THEN 'c' || (event_id // 32)::VARCHAR
      WHEN event_id % 8 = 6 THEN 'c' || (event_id // 64)::VARCHAR
      ELSE 'c' || (event_id // 128)::VARCHAR
    END AS content_key
  FROM events
  UNION ALL
  SELECT 'h' || (event_id % 8)::VARCHAR, '/static/about', 'k' || event_id::VARCHAR
  FROM events
),
t AS (
  SELECT host,
         regexp_replace(regexp_replace(path, '[0-9a-f]{16,}', '{h}', 'g'),
                        '[0-9]+', '{d}', 'g') AS template,
         path, content_key
  FROM pages
),
agg AS (
  SELECT host, template,
         count(DISTINCT path)::BIGINT AS n_urls,
         count(DISTINCT content_key)::BIGINT AS n_content
  FROM t GROUP BY host, template
)
SELECT host, template, n_urls, n_content,
       (n_urls >= 20 AND n_content * 4 <= n_urls * 1) AS is_trap
FROM agg ORDER BY host, template
"""


# Shared by p14's Spark query and its DuckDB twin: the full RFC 9309
# grammar in one rule set — prefix wildcard, longer-allow override,
# wildcard+anchor, plain prefix, an exact-length allow/deny tie, a
# two-wildcard pattern, and an anchored exact match.
P14_RULES = [
    ("/private*", "deny"),
    ("/private/public*", "allow"),
    ("/*.pdf$", "deny"),
    ("/search", "deny"),
    ("/a*c", "deny"),
    ("/ab*", "allow"),
    ("/cal/*/page-*", "deny"),
    ("/doc/$", "deny"),
]


def p14_robots_wildcards(spark, sf):
    """P14: RFC 9309 wildcard robots under the hard gate
    (frontier.allowed_by_robots_wildcards) — the full grammar big sites
    ship ('*' any-run incl. empty, trailing '$' end-anchor), evaluated
    as a greedy segment fold in pure codegen string ops (locate/
    startswith/endswith — no regex compilation, no UDF) against a
    broadcast per-host rule set: zero shuffle on the frontier side.
    Twelve URL shapes sweep every decision: unmatched default-allow,
    deny-prefix, LONGER allow overriding a deny, '$' rejecting a
    longer suffix ('.pdfx' survives '/*.pdf$'), an equal-length
    allow/deny tie (allow wins), a two-wildcard in-order match and its
    out-of-order non-match, and an anchored exact '/doc/$' that denies
    '/doc/' but nothing under it. The DuckDB twin evaluates the SAME
    rules through an independent formulation — pattern→regex
    conversion (dot-escaped, '*'→'.*', '^'/'$' anchors) + longest-
    match-wins window — so the value hash pins the two implementations
    of the grammar against each other on every row."""
    from .operators import frontier as frontier_ops

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    ids = eid.cast("string")
    k = eid % 12
    host = F.concat(F.lit("h"), (eid % 5).cast("string"), F.lit(".example"))
    path = (
        F.when(k == 0, F.concat(F.lit("/news/"), ids))
        .when(k == 1, F.concat(F.lit("/private/p"), ids))
        .when(k == 2, F.concat(F.lit("/private/public/"), ids))
        .when(k == 3, F.concat(F.lit("/doc/"), ids, F.lit(".pdf")))
        .when(k == 4, F.concat(F.lit("/doc/"), ids, F.lit(".pdfx")))
        .when(k == 5, F.concat(F.lit("/search/q"), ids))
        .when(k == 6, F.concat(F.lit("/abc"), ids))
        .when(k == 7, F.concat(F.lit("/ax"), ids, F.lit("c")))
        .when(k == 8, F.concat(F.lit("/cal/"), ids, F.lit("/page-"), ids))
        .when(k == 9, F.concat(F.lit("/cal/"), ids, F.lit("/index")))
        .when(k == 10, F.lit("/doc/"))
        .otherwise(F.lit("/private/public"))
    )
    fr = e.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("canonical_url"),
    )
    rules = spark.createDataFrame(
        [(f"h{i}.example", pat, kind) for i in range(5) for pat, kind in P14_RULES],
        "host string, pattern string, rule_kind string",
    )
    return (
        frontier_ops.allowed_by_robots_wildcards(fr, rules)
        .select("host", "canonical_url")
        .orderBy("canonical_url")
    )


P14_SQL = """
WITH urls AS (
  SELECT event_id,
         'h' || (event_id % 5)::VARCHAR || '.example' AS host,
         CASE event_id % 12
           WHEN 0 THEN '/news/' || event_id::VARCHAR
           WHEN 1 THEN '/private/p' || event_id::VARCHAR
           WHEN 2 THEN '/private/public/' || event_id::VARCHAR
           WHEN 3 THEN '/doc/' || event_id::VARCHAR || '.pdf'
           WHEN 4 THEN '/doc/' || event_id::VARCHAR || '.pdfx'
           WHEN 5 THEN '/search/q' || event_id::VARCHAR
           WHEN 6 THEN '/abc' || event_id::VARCHAR
           WHEN 7 THEN '/ax' || event_id::VARCHAR || 'c'
           WHEN 8 THEN '/cal/' || event_id::VARCHAR || '/page-' || event_id::VARCHAR
           WHEN 9 THEN '/cal/' || event_id::VARCHAR || '/index'
           WHEN 10 THEN '/doc/'
           ELSE '/private/public'
         END AS path
  FROM events
),
rules(pattern, rule_kind) AS (VALUES
  ('/private*', 'deny'), ('/private/public*', 'allow'), ('/*.pdf$', 'deny'),
  ('/search', 'deny'), ('/a*c', 'deny'), ('/ab*', 'allow'),
  ('/cal/*/page-*', 'deny'), ('/doc/$', 'deny')
),
m AS (
  SELECT u.event_id, r.rule_kind,
         row_number() OVER (
           PARTITION BY u.event_id
           ORDER BY length(r.pattern) DESC, (r.rule_kind = 'allow') DESC
         ) AS rn
  FROM urls u JOIN rules r ON regexp_matches(
    u.path,
    '^' || replace(replace(
             CASE WHEN r.pattern LIKE '%$'
                  THEN left(r.pattern, length(r.pattern) - 1)
                  ELSE r.pattern END,
             '.', '[.]'), '*', '.*')
        || CASE WHEN r.pattern LIKE '%$' THEN '$' ELSE '' END)
),
best AS (SELECT event_id, rule_kind FROM m WHERE rn = 1)
SELECT u.host, 'https://' || u.host || u.path AS canonical_url
FROM urls u LEFT JOIN best b USING (event_id)
WHERE b.rule_kind IS NULL OR b.rule_kind = 'allow'
ORDER BY canonical_url
"""


# ===========================================================================
# T — frontier ordering / top-k / cursors

def t1_frontier_pop(spark, sf):
    """T1: the frontier pop — per-key oldest-first top-k with total-order
    tie-break (the crawl-ordering kernel)."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= POP_K)
        .select("event_type", "event_id", "ts", "rn")
    )


T1_SQL = f"""
SELECT event_type, event_id, ts,
       row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
FROM events
QUALIFY rn <= {POP_K}
"""


def t3_cursor_cut(spark, sf):
    """T3: incremental-cursor cut — per key, rows strictly newer than the
    last-seen cursor (cursor = newest 'marker' row per key)."""
    e = load(spark, sf, "events")
    cur = (
        e.filter(F.col("event_id") % 100 == 0)
        .groupBy("event_type")
        .agg(F.max("ts").alias("cursor_ts"))
    )
    return (
        e.join(F.broadcast(cur), "event_type")
        .filter(F.col("ts") > F.col("cursor_ts"))
        .groupBy("event_type", "cursor_ts")
        .agg(F.count("*").alias("n_fresh"))
        .select("event_type", "cursor_ts", "n_fresh")
    )


T3_SQL = """
WITH cur AS (
  SELECT event_type, max(ts) AS cursor_ts FROM events
  WHERE event_id % 100 = 0 GROUP BY 1
)
SELECT e.event_type, cursor_ts, count(*) AS n_fresh
FROM events e JOIN cur ON e.event_type = cur.event_type
WHERE e.ts > cur.cursor_ts
GROUP BY 1, 2
"""


def t4_latest_cursor(spark, sf):
    """T4: new-cursor extraction — max_by per key."""
    return (
        load(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.max_by("event_id", "ts").alias("last_event_id"),
            F.max("ts").alias("last_ts"),
        )
    )


T4_SQL = """
SELECT event_type, arg_max(event_id, ts) AS last_event_id, max(ts) AS last_ts
FROM events GROUP BY 1
"""


# ===========================================================================
# K/S — KV price cache (K6) and embed-drain schedule (S11)

K1_TTL_SECONDS = 7200
K1_WAVES = 3


def k1_price_cache(spark, sf):
    """K6 under the hard gate: the TGJU price cache — latest value per
    symbol with a last-write-wins fold and a TTL read filter
    (redis_cache_manager.py:24-40 ``set(key, value, ex=ttl)`` restated
    as a snapshot table). Price observations derive from events
    (symbol = event_type + user_id%5 → 25 symbols); the observation
    stream is split into 3 waves by obs_id and folded through the REAL
    kv operators (upsert_latest, then merge_latest per wave — the
    per-poll MERGE), then read through valid_at(as_of = newest
    observation, ttl 2h), which expires symbols last quoted >2h before
    the feed's head. The fold equals the global per-symbol arg_max
    because (ts, obs_id) totally orders observations — the oracle
    states that closed form."""
    from .operators import kv

    e = load(spark, sf, "events")
    obs = e.select(
        F.concat_ws(
            "_", "event_type", F.pmod(F.col("user_id"), F.lit(5))
        ).alias("symbol"),
        "ts",
        F.col("value").alias("price"),
        F.col("event_id").alias("obs_id"),
    )
    waves = [
        obs.filter(F.pmod(F.col("obs_id"), F.lit(K1_WAVES)) == i)
        for i in range(K1_WAVES)
    ]
    cache = kv.upsert_latest(waves[0], key="symbol", ts_col="ts", tiebreak="obs_id")
    for w in waves[1:]:
        cache = kv.merge_latest(cache, w, key="symbol", ts_col="ts", tiebreak="obs_id")
    head = e.agg(F.max("ts").alias("__as_of"))
    return (
        kv.valid_at(
            cache.crossJoin(F.broadcast(head)),
            F.col("__as_of"),
            K1_TTL_SECONDS,
        )
        .select("symbol", "ts", "price", "obs_id")
    )


K1_SQL = f"""
WITH obs AS (
  SELECT event_type || '_' || (((user_id % 5) + 5) % 5)::VARCHAR AS symbol,
         ts, value AS price, event_id AS obs_id
  FROM events
)
SELECT symbol, ts, price, obs_id
FROM (
  SELECT *, row_number() OVER (PARTITION BY symbol
                               ORDER BY ts DESC, obs_id DESC) AS rn
  FROM obs
)
WHERE rn = 1
  AND ts >= (SELECT max(ts) FROM events) - to_seconds({K1_TTL_SECONDS})
"""


def _md5_h_sql(expr: str) -> str:
    """DuckDB twin of operators.dedup.md5_hash64 over the string SQL
    expression ``expr``: hi/lo 32-bit md5 halves packed into one signed
    BIGINT with Java's shiftleft sign wrap on the hi half."""
    m = f"md5({expr})"
    hi = f"('0x' || substring({m}, 1, 8))::BIGINT"
    lo = f"('0x' || substring({m}, 9, 8))::BIGINT"
    return (
        f"(({hi} + CASE WHEN {hi} >= 2147483648 THEN -4294967296 ELSE 0 END)"
        f" * 4294967296 + {lo})"
    )


K2_SEGMENTS = 8


def k2_segment_archive(spark, sf):
    """WARC-style archival segments (operators/archive.pack_segments +
    read_records) under the hard gate — the Common Crawl storage shape
    the reference's per-row MySQL writers don't have: records
    concatenated into immutable segment blobs + a byte-offset index,
    so one document read is a ranged GET, never a scan. This query
    runs the FULL roundtrip on the documents table: encode → header →
    md5 segment assignment → running-offset window → ordered binary
    fold into 8 blobs → index-join range read → decode; the output is
    every doc's (segment_id, offset, length) plus the text read BACK
    OUT of the blobs. The oracle recomputes the layout arithmetically
    (utf-8 OCTET lengths — the Persian corpus makes bytes ≠ chars
    real) and takes text from the source table, so a value-hash match
    proves byte-exact reassembly: any drift in header bytes, offset
    math, fold order, or the substring read breaks it."""
    from .operators import archive

    docs = load(spark, sf, "documents")
    index, segments = archive.pack_segments(docs, n_segments=K2_SEGMENTS)
    return archive.read_records(index, segments).orderBy("doc_id")


K2_SQL = f"""
WITH rec AS (
  SELECT doc_id,
         ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT
           % {K2_SEGMENTS} AS segment_id,
         octet_length(encode(text)) AS pl,
         octet_length(encode('WARC ' || doc_id::VARCHAR || ' '
           || octet_length(encode(text))::VARCHAR || chr(10))) AS hdr,
         text
  FROM documents
),
laid AS (
  SELECT doc_id, segment_id, (hdr + pl)::BIGINT AS length, text,
         COALESCE(sum(hdr + pl) OVER (
           PARTITION BY segment_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS "offset"
  FROM rec
)
SELECT doc_id, segment_id, "offset", length, text
FROM laid ORDER BY doc_id
"""


# ===========================================================================
# T6/T7 — temporal joins (operators/joins.py): as-of and range containment

T6_TOL_SECONDS = 21600
T6_BUCKET_SECONDS = 86400


def t6_asof_join(spark, sf):
    """The AS-OF join under the hard gate (operators/joins.
    asof_join_bucketed — the time-bucketed 100 TB path, row-identical to
    the plain union-tag-window form by tests/test_joins.py): every
    non-quote event gains the newest quote event (event_id % 10 == 0) on
    its event_type with quote_ts <= probe_ts and at most 6 h stale; the
    oracle is DuckDB's NATIVE ``ASOF LEFT JOIN``. Quotes are pre-deduped
    per (key, ts) by max event_id so ordering ties never differ between
    engines; staleness arithmetic truncates to whole seconds on BOTH
    sides (events.ts carries microseconds)."""
    from .operators import joins

    e = load(spark, sf, "events")
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
    return joins.asof_join_bucketed(
        probes,
        quotes,
        on="event_type",
        bucket_seconds=T6_BUCKET_SECONDS,
        tolerance_seconds=T6_TOL_SECONDS,
        quote_tiebreak="quote_id",
    )


_T6_FRESH = (
    f"floor(epoch(p.ts))::BIGINT - floor(epoch(q.ts))::BIGINT"
    f" <= {T6_TOL_SECONDS}"
)

T6_SQL = f"""
WITH q AS (
  SELECT event_type, ts, max(event_id) AS quote_id,
         arg_max(value, event_id) AS px
  FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2
), p AS (
  SELECT event_id, event_type, ts FROM events WHERE event_id % 10 <> 0
)
SELECT p.event_id, p.event_type, p.ts,
       CASE WHEN {_T6_FRESH} THEN q.ts END AS q_ts,
       CASE WHEN {_T6_FRESH} THEN q.quote_id END AS q_quote_id,
       CASE WHEN {_T6_FRESH} THEN q.px END AS q_px
FROM p ASOF LEFT JOIN q
  ON p.event_type = q.event_type AND p.ts >= q.ts
"""


T7_BUCKET_SECONDS = 3600


def t7_range_join(spark, sf):
    """The RANGE (containment) join under the hard gate
    (operators/joins.range_join_bucketed): every 37th event opens an
    md5-derived 1 min – 2 h interval on its event_type; every other
    event inside one is a match. Output pins the exact pair multiset per
    interval (count + sum of matched event_ids) so a single extra or
    missing pair breaks the hash. The Spark plan is the bucketed
    equi-join (never BroadcastNestedLoop — asserted in test_plans); the
    oracle is the direct inequality join. Interval ends truncate to
    whole seconds in both engines."""
    from .operators import joins
    from .operators.dedup import md5_hash64

    e = load(spark, sf, "events")
    dur = 60 + F.pmod(
        md5_hash64(F.concat(F.lit("iv:"), F.col("event_id").cast("string"))),
        F.lit(7200),
    )
    intervals = e.filter(F.col("event_id") % 37 == 0).select(
        F.col("event_id").alias("interval_id"),
        "event_type",
        F.col("ts").alias("start_ts"),
        # whole-second end (ts is NTZ; session tz is UTC, so the round
        # trip through TIMESTAMP is value-preserving truncation)
        (F.col("ts").cast("timestamp").cast("long") + dur)
        .cast("timestamp")
        .cast(e.schema["ts"].dataType.simpleString())
        .alias("end_ts"),
    )
    points = e.filter(F.col("event_id") % 37 != 0).select(
        "event_id", "event_type", "ts"
    )
    pairs = joins.range_join_bucketed(
        points, intervals, bucket_seconds=T7_BUCKET_SECONDS, on="event_type"
    )
    return (
        pairs.groupBy("i_interval_id", "event_type")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("event_id").cast("long").alias("sum_point_ids"),
        )
        .withColumnRenamed("i_interval_id", "interval_id")
    )


_T7_H = _md5_h_sql("'iv:' || event_id::VARCHAR")

T7_SQL = f"""
WITH iv AS (
  SELECT event_id AS interval_id, event_type, ts AS start_ts,
         date_trunc('second', ts)
           + to_seconds(60 + ((({_T7_H}) % 7200) + 7200) % 7200) AS end_ts
  FROM events WHERE event_id % 37 = 0
), p AS (
  SELECT event_id, event_type, ts FROM events WHERE event_id % 37 <> 0
)
SELECT iv.interval_id, iv.event_type, count(*)::BIGINT AS n_points,
       sum(p.event_id)::BIGINT AS sum_point_ids
FROM p JOIN iv ON p.event_type = iv.event_type
              AND p.ts >= iv.start_ts AND p.ts <= iv.end_ts
GROUP BY 1, 2
"""


E1_BATCH_PER_SOURCE = 6
E1_SALTS = 4
E1_ROUNDS = 5
_E1_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC


def e1_embed_drain_schedule(spark, sf):
    """S11 under the hard gate: the embed scheduler's drain ORDER.
    Replays the real claim operator (embed_scheduler.claim_batch — the
    per-source oldest-first salted two-phase top-k, database_manager.py
    296-297 ``ORDER BY published_datetime ASC LIMIT batch``) for 5
    rounds over a pending table derived from documents, emitting each
    claimed doc's round number. published_ts derives deterministically
    from doc_id (md5-minutes offset from 2024-01-01; every 11th doc
    NULL, pinning the nulls-last rule). The oracle is the closed form
    iterated claim-k must equal: round = 1 + (oldest-first rank − 1)/k
    within each source."""
    from . import embed_scheduler as es
    from .operators.dedup import md5_hash64

    d = load(spark, sf, "documents")
    h = md5_hash64(F.concat(F.lit("p"), F.col("doc_id").cast("string")))
    pending = d.select(
        "doc_id",
        "source",
        F.when(F.pmod(h, F.lit(11)) == 0, F.lit(None).cast("timestamp"))
        .otherwise(
            (F.lit(_E1_EPOCH) + 60 * F.pmod(h, F.lit(14400))).cast("timestamp")
        )
        .alias("published_ts"),
    )
    out = None
    for rnd in range(1, E1_ROUNDS + 1):
        claimed = es.claim_batch(pending, E1_BATCH_PER_SOURCE, salts=E1_SALTS)
        tagged = claimed.select(
            "doc_id", "source", F.lit(rnd).cast("int").alias("round_no")
        ).localCheckpoint(eager=True)
        out = tagged if out is None else out.unionByName(tagged)
        pending = pending.join(
            tagged.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
    return out


_E1_H = _md5_h_sql("'p' || doc_id::VARCHAR")

E1_SQL = f"""
WITH pend AS (
  SELECT doc_id, source,
         CASE WHEN (({_E1_H} % 11) + 11) % 11 = 0 THEN NULL
              ELSE TIMESTAMP '2024-01-01 00:00:00'
                   + to_seconds(60 * ((({_E1_H} % 14400) + 14400) % 14400))
         END AS published_ts
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY published_ts ASC NULLS LAST, doc_id) AS rn
  FROM pend
)
SELECT doc_id, source, (1 + (rn - 1) // {E1_BATCH_PER_SOURCE})::INT AS round_no
FROM ranked
WHERE rn <= {E1_ROUNDS * E1_BATCH_PER_SOURCE}
"""


def s3_sitemap_keys(spark, sf):
    """S6/F9 under the hard gate: the Shargh base64(json) sitemap key
    (collectors/shargh/historical_links_collector.py:61-79 builds
    base64({"model": …, "date": …}) request keys per archive day)
    through the REAL builtin-only expression
    (persian.sitemap_key_base64: to_json(struct) → base64). Day ×
    model cells derive from events; the oracle rebuilds the key with
    DuckDB's to_json(struct_pack(...)) + base64 — a value-hash match
    pins the exact byte encoding (field order, no whitespace, UTF-8)."""
    from .functions.persian import sitemap_key_base64

    e = load(spark, sf, "events")
    cells = (
        e.select(
            F.col("event_type").alias("model"),
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
        )
        .groupBy("model", "d")
        .agg(F.count("*").alias("n"))
    )
    return cells.select(
        "model",
        "d",
        sitemap_key_base64("model", "d").alias("sitemap_key"),
        "n",
    )


S3_SQL = """
SELECT event_type AS model, strftime(ts, '%Y-%m-%d') AS d,
       base64(encode(to_json(struct_pack(
           model := event_type,
           date := strftime(ts, '%Y-%m-%d')))::VARCHAR)) AS sitemap_key,
       count(*)::BIGINT AS n
FROM events GROUP BY 1, 2
"""


def s2_feed_discovery(spark, sf):
    """S3-S5/P4-P6/F5 under the hard gate: feed-page link collection
    through the REAL ``sources.collect_links`` pass. Each event becomes
    one feed item (page = (source, day, event_id%4), built with a real
    collect_list so the explode works on true multi-item pages); half
    the items travel as RSS (RFC-822 pub_raw) and half as sitemap
    (ISO-8601), so the string round-trip — date_format here, the
    operator's try_to_timestamp + weekday strip on the way back — is
    what the oracle checks: parsed timestamps are second-truncated, and
    the DuckDB twin recomputes the survivors from timestamp arithmetic
    alone (it never sees the strings). Noise channels: every md5-slot-7
    item is a digit-free section URL (P6), slot 8 leaks a future day
    (P5), slot 9 spills the previous day (P4). Output: per (source,
    day) census of surviving links + newest parsed timestamp."""
    from . import sources
    from .operators.dedup import md5_hash64

    e = load(spark, sf, "events")
    h = md5_hash64(F.concat(F.lit("f"), F.col("event_id").cast("string")))
    noise = F.pmod(h, F.lit(10))
    pub_ts = (
        F.when(noise == 8, F.col("ts") + F.expr("INTERVAL 1 DAY"))
        .when(noise == 9, F.col("ts") - F.expr("INTERVAL 1 DAY"))
        .otherwise(F.col("ts"))
    )
    kind = (
        F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.lit("rss"))
        .otherwise(F.lit("sitemap"))
    )
    url = (
        F.when(
            noise == 7,
            F.concat(
                F.lit("https://"),
                F.col("event_type"),
                F.lit(".example.com/section/overview"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"),
                F.col("event_type"),
                F.lit(".example.com/news/"),
                F.col("event_id").cast("string"),
            )
        )
    )
    pub_raw = (
        F.when(kind == "rss", F.date_format(pub_ts, "EEE, dd MMM yyyy HH:mm:ss Z"))
        .otherwise(F.date_format(pub_ts, "yyyy-MM-dd'T'HH:mm:ssXXX"))
    )
    items = e.select(
        F.col("event_type").alias("source"),
        kind.alias("feed_kind"),
        F.to_date("ts").alias("day"),
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("page_idx"),
        F.struct(
            url.alias("url"),
            F.lit(None).cast("timestamp").alias("published_ts"),
            pub_raw.alias("pub_raw"),
        ).alias("it"),
    )
    pages = items.groupBy("source", "feed_kind", "day", "page_idx").agg(
        F.collect_list("it").alias("items")
    )
    return (
        sources.collect_links(pages)
        .groupBy("source", "day")
        .agg(
            F.count("*").alias("n_links"),
            F.max("published_ts").alias("newest_ts"),
        )
    )


_S2_H = _md5_h_sql("'f' || event_id::VARCHAR")
_S2_NOISE = f"(({_S2_H} % 10) + 10) % 10"

S2_SQL = f"""
WITH pub AS (
  SELECT event_type AS source, ts::DATE AS day,
         {_S2_NOISE} AS noise,
         CASE WHEN {_S2_NOISE} = 8 THEN ts + INTERVAL 1 DAY
              WHEN {_S2_NOISE} = 9 THEN ts - INTERVAL 1 DAY
              ELSE ts END AS pub_ts
  FROM events
)
SELECT source, day, count(*)::BIGINT AS n_links,
       max(date_trunc('second', pub_ts)) AS newest_ts
FROM pub
WHERE noise <> 7 AND pub_ts::DATE = day
GROUP BY 1, 2
"""


# ===========================================================================
# V — vector similarity (T5/E2 + training-pipeline ANN)

def v1_cosine_topk(spark, sf):
    """T5/E2: brute-force cosine top-10 (the Qdrant-search oracle)."""
    return similarity.topk_cosine(load(spark, sf, "embeddings"), QUERY_VEC_ID, k=10)


V1_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS score
FROM embeddings e, q
WHERE e.vec_id <> {QUERY_VEC_ID}
ORDER BY score DESC, e.vec_id
LIMIT 10
"""


def v2_ivf_probe(spark, sf):
    """ANN scale path: probe only the query's IVF cell (label column)."""
    return similarity.ivf_probe_topk(load(spark, sf, "embeddings"), QUERY_VEC_ID, k=5)


V2_SQL = f"""
WITH q AS (SELECT embedding AS qe, label AS ql FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS score
FROM embeddings e, q
WHERE e.vec_id <> {QUERY_VEC_ID} AND e.label = q.ql
ORDER BY score DESC, e.vec_id
LIMIT 5
"""


def v9_ivf_partitioned(spark, sf):
    """v2's 100 TB claim DEMONSTRATED: the vector table written
    partitioned by its IVF cell, probed through the same
    ``ivf_probe_topk`` — the query's cell arrives via a broadcast join,
    so Spark's dynamic partition pruning turns the scan into a read of
    ONLY that cell's files (PartitionFilters: dynamicpruning#…,
    plan-asserted in tests/test_plans.py). This is the layout the module
    doc promises for 10^9-vector search (scan cost = 1/n_cells); the
    partitioned write here is gate scaffolding at SF scale. Results are
    byte-identical to v2 (same oracle)."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="v9_ivf_")
    try:
        load(spark, sf, "embeddings").write.partitionBy("label").parquet(
            f"{work}/emb"
        )
        part = spark.read.parquet(f"{work}/emb")
        out = similarity.ivf_probe_topk(part, QUERY_VEC_ID, k=5).select(
            "vec_id",
            # partition-dir inference must not drift the dtype vs the
            # base table (and the oracle): pin label back to int
            F.col("label").cast("int").alias("label"),
            "score",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


V9_SQL = V2_SQL


KMEANS_K = 8
KMEANS_ITERS = 3


def v10_kmeans(spark, sf):
    """Exact-integer Lloyd's k-means (similarity.kmeans_cells) — corpus
    clustering for training-mixture balancing, run for 3 full
    iterations. Every iteration is bit-deterministic (quantized BIGINT
    components, integer squared-L2, cell-id tie-break, floor(sum/n)
    centroid update), so the DuckDB twin replays the SAME 3 iterations
    from the same 8 seeds and the value hash pins every final
    assignment and distance — one doc drifting across any iteration's
    cell boundary breaks the gate."""
    return (
        similarity.kmeans_cells(
            load(spark, sf, "embeddings"),
            seed_ids=tuple(range(KMEANS_K)),
            iters=KMEANS_ITERS,
        )
        .orderBy("vec_id")
    )


def _kmeans_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration: assignment a{i} from centroids
    c{i-1}, then (for non-final iterations) centroid update c{i}."""
    return f"""
d{i} AS (
  SELECT v.vec_id, c.cell,
         list_sum([ (v.iv[j] - c.cv[j]) * (v.iv[j] - c.cv[j])
                    for j in generate_series(1, len(v.iv)) ])::BIGINT AS dist
  FROM qv v CROSS JOIN c{i - 1} c
),
a{i} AS (
  SELECT vec_id, cell, dist FROM (
    SELECT vec_id, cell, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d{i}) WHERE rn = 1
),
s{i} AS (
  SELECT a.cell, j, floor(sum(v.iv[j])::DOUBLE / count(*))::BIGINT AS cx
  FROM a{i} a JOIN qv v USING (vec_id),
       unnest(generate_series(1, 64)) AS t(j)
  GROUP BY a.cell, j
),
c{i} AS (SELECT cell, list(cx ORDER BY j) AS cv FROM s{i} GROUP BY cell)"""


# the shared unrolled-Lloyd CTE chain (qv → c0 → iterations → dF → final
# assignment aF): V10_SQL pins the clustering itself, X21_SQL composes the
# SAME chain under SemDeDup — one definition so both gates replay identical
# iterations.
_KMEANS_CTES = (
    f"""qv AS (
  SELECT vec_id,
         [floor(x::DOUBLE * {similarity.SIGNLSH_QUANT} + 0.5)::BIGINT
          for x in embedding] AS iv
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cell, iv AS cv FROM qv WHERE vec_id < {KMEANS_K}
),"""
    + ",".join(_kmeans_iter_sql(i) for i in range(1, KMEANS_ITERS))
    + f""",
dF AS (
  SELECT v.vec_id, c.cell,
         list_sum([ (v.iv[j] - c.cv[j]) * (v.iv[j] - c.cv[j])
                    for j in generate_series(1, len(v.iv)) ])::BIGINT AS dist
  FROM qv v CROSS JOIN c{KMEANS_ITERS - 1} c
),
aF AS (
  SELECT vec_id, cell, dist FROM (
    SELECT vec_id, cell, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM dF) WHERE rn = 1
)"""
)

V10_SQL = f"""
WITH {_KMEANS_CTES}
SELECT vec_id, cell, dist FROM aF
ORDER BY vec_id
"""


def x21_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023) under the hard gate: the v10 k-means
    cells + a within-cell integer-exact cosine≥τ prune — semantic
    near-dup removal, the tier byte-level d3/d4 cannot see. The entire
    pipeline is integer arithmetic after quantization (the cosine test
    cross-multiplied into decimal(38,0) / HUGEINT), so the DuckDB twin
    replays clustering AND pruning bit-for-bit; one doc drifting across
    a cell boundary or a threshold flips kept/witness and breaks the
    value hash."""
    return (
        similarity.semdedup(
            load(spark, sf, "embeddings"),
            seed_ids=tuple(range(KMEANS_K)),
            iters=KMEANS_ITERS,
        )
        .orderBy("vec_id")
    )


X21_SQL = f"""
WITH {_KMEANS_CTES},
vv AS (
  SELECT a.vec_id, a.cell, q.iv,
         list_sum([ q.iv[j] * q.iv[j]
                    for j in generate_series(1, len(q.iv)) ])::BIGINT AS n2
  FROM aF a JOIN qv q ON a.vec_id = q.vec_id
),
pr0 AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.n2 AS na, b.n2 AS nb,
         list_sum([ a.iv[j] * b.iv[j]
                    for j in generate_series(1, len(a.iv)) ])::BIGINT AS dot
  FROM vv a JOIN vv b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
dr AS (
  SELECT b_id AS vec_id, min(a_id) AS witness
  FROM pr0
  WHERE dot > 0
    AND dot::HUGEINT * dot * {similarity.SEMDEDUP_TAU_DEN}
        >= {similarity.SEMDEDUP_TAU_NUM}::HUGEINT * na * nb
  GROUP BY 1
)
SELECT v.vec_id, v.cell, (dr.witness IS NULL)::INT AS kept, dr.witness
FROM vv v LEFT JOIN dr ON v.vec_id = dr.vec_id
ORDER BY v.vec_id
"""


PQ_RERANK_CAND = 100


def v11_pq_adc_topk(spark, sf):
    """Product-quantized ANN search (Jégou et al., TPAMI 2011) under the
    hard gate: per-subspace exact-integer codebook training (the v10
    Lloyd recipe run independently on 8 subvector slices), a
    literal-inlined encode scan (8 code BYTES per vector — the 32×
    scan-size cut that makes a 10⁹-vector scan memory-resident), an ADC
    lookup-table scan for the top-100 candidates, and the exact
    integer-L2 re-rank of just those. Every stage is bit-deterministic,
    so the DuckDB twin replays training, encoding, the ADC ordering,
    AND the re-rank — one vector drifting across any code boundary
    flips a code_word or an adc_dist and breaks the value hash."""
    return similarity.pq_topk_rerank(
        load(spark, sf, "embeddings"),
        QUERY_VEC_ID,
        k=10,
        r_cand=PQ_RERANK_CAND,
    )


_PQ_SD = 64 // similarity.PQ_SUB
_PQ_MULTS = ", ".join(
    f"({m}, {similarity.PQ_K ** m})" for m in range(similarity.PQ_SUB)
)

V11_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         [floor(x::DOUBLE * {similarity.SIGNLSH_QUANT} + 0.5)::BIGINT
          for x in embedding] AS iv
  FROM embeddings
),
sv AS (
  SELECT vec_id, m AS sub,
         [iv[m * {_PQ_SD} + j] for j in generate_series(1, {_PQ_SD})] AS svec
  FROM qv, unnest(generate_series(0, {similarity.PQ_SUB - 1})) AS t(m)
),
c0 AS (
  SELECT sub, vec_id::INT AS code, svec AS cv FROM sv
  WHERE vec_id < {similarity.PQ_K}
),
d1 AS (
  SELECT s.vec_id, s.sub, c.code,
         list_sum([ (s.svec[j] - c.cv[j]) * (s.svec[j] - c.cv[j])
                    for j in generate_series(1, {_PQ_SD}) ])::BIGINT AS dist
  FROM sv s JOIN c0 c ON s.sub = c.sub
),
a1 AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM d1) WHERE rn = 1
),
u1 AS (
  SELECT a.sub, a.code, j,
         floor(sum(s.svec[j])::DOUBLE / count(*))::BIGINT AS cx
  FROM a1 a JOIN sv s USING (vec_id, sub),
       unnest(generate_series(1, {_PQ_SD})) AS t(j)
  GROUP BY a.sub, a.code, j
),
c1 AS (SELECT sub, code, list(cx ORDER BY j) AS cv FROM u1 GROUP BY sub, code),
dE AS (
  SELECT s.vec_id, s.sub, c.code,
         list_sum([ (s.svec[j] - c.cv[j]) * (s.svec[j] - c.cv[j])
                    for j in generate_series(1, {_PQ_SD}) ])::BIGINT AS dist
  FROM sv s JOIN c1 c ON s.sub = c.sub
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM dE) WHERE rn = 1
),
wrd AS (
  SELECT vec_id, sum(code::BIGINT * mul)::BIGINT AS code_word
  FROM enc JOIN (VALUES {_PQ_MULTS}) AS mm(sub, mul) USING (sub)
  GROUP BY vec_id
),
qs AS (SELECT sub, svec FROM sv WHERE vec_id = {QUERY_VEC_ID}),
lut AS (
  SELECT c.sub, c.code,
         list_sum([ (q.svec[j] - c.cv[j]) * (q.svec[j] - c.cv[j])
                    for j in generate_series(1, {_PQ_SD}) ])::BIGINT AS pd
  FROM c1 c JOIN qs q USING (sub)
),
adc AS (
  SELECT e.vec_id, sum(l.pd)::BIGINT AS adc_dist
  FROM enc e JOIN lut l USING (sub, code)
  GROUP BY e.vec_id
),
cand AS (
  SELECT a.vec_id, w.code_word, a.adc_dist
  FROM adc a JOIN wrd w USING (vec_id)
  ORDER BY a.adc_dist, a.vec_id LIMIT {PQ_RERANK_CAND}
),
qq AS (SELECT iv FROM qv WHERE vec_id = {QUERY_VEC_ID})
SELECT c.vec_id, c.code_word, c.adc_dist,
       list_sum([ (v.iv[j] - q.iv[j]) * (v.iv[j] - q.iv[j])
                  for j in generate_series(1, len(v.iv)) ])::BIGINT AS dist
FROM cand c JOIN qv v USING (vec_id) CROSS JOIN qq q
ORDER BY dist, c.vec_id LIMIT 10
"""


IVFPQ_N_PROBE = 2


def v12_ivfpq_topk(spark, sf):
    """IVF-PQ (the FAISS index shape) under the hard gate: v10's coarse
    k-means cells prune the scan to the 2 cells nearest the query,
    v11's PQ quantizes the CELL RESIDUALS (finer than raw vectors at
    the same code budget — measured recall@10 0.9 vs flat-PQ 0.6 at
    identical 8×16 codes), ADC scores each probed cell against its own
    residual lookup table, and the exact integer-L2 re-rank finishes.
    The twin composes the SAME unrolled Lloyd chain v10/x21 replay
    (_KMEANS_CTES) with the v11 PQ chain run on residuals — every
    cell id, code word, ADC distance, and re-rank distance is
    value-hashed."""
    return similarity.ivfpq_topk_rerank(
        load(spark, sf, "embeddings"),
        QUERY_VEC_ID,
        k=10,
        r_cand=PQ_RERANK_CAND,
        n_probe=IVFPQ_N_PROBE,
        seed_ids=tuple(range(KMEANS_K)),
        iters=KMEANS_ITERS,
    )


V12_SQL = f"""
WITH {_KMEANS_CTES},
rv AS (
  SELECT a.vec_id, a.cell,
         [ q.iv[j] - c.cv[j] for j in generate_series(1, len(q.iv)) ] AS riv
  FROM aF a JOIN qv q USING (vec_id)
       JOIN c{KMEANS_ITERS - 1} c ON a.cell = c.cell
),
rsv AS (
  SELECT vec_id, cell, m AS sub,
         [riv[m * {_PQ_SD} + j] for j in generate_series(1, {_PQ_SD})] AS svec
  FROM rv, unnest(generate_series(0, {similarity.PQ_SUB - 1})) AS t(m)
),
p0 AS (
  SELECT sub, vec_id::INT AS code, svec AS cv FROM rsv
  WHERE vec_id < {similarity.PQ_K}
),
pd1 AS (
  SELECT s.vec_id, s.sub, c.code,
         list_sum([ (s.svec[j] - c.cv[j]) * (s.svec[j] - c.cv[j])
                    for j in generate_series(1, {_PQ_SD}) ])::BIGINT AS dist
  FROM rsv s JOIN p0 c ON s.sub = c.sub
),
pa1 AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM pd1) WHERE rn = 1
),
pu1 AS (
  SELECT a.sub, a.code, j,
         floor(sum(s.svec[j])::DOUBLE / count(*))::BIGINT AS cx
  FROM pa1 a JOIN rsv s USING (vec_id, sub),
       unnest(generate_series(1, {_PQ_SD})) AS t(j)
  GROUP BY a.sub, a.code, j
),
pc1 AS (SELECT sub, code, list(cx ORDER BY j) AS cv FROM pu1 GROUP BY sub, code),
pdE AS (
  SELECT s.vec_id, s.sub, c.code,
         list_sum([ (s.svec[j] - c.cv[j]) * (s.svec[j] - c.cv[j])
                    for j in generate_series(1, {_PQ_SD}) ])::BIGINT AS dist
  FROM rsv s JOIN pc1 c ON s.sub = c.sub
),
penc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM pdE) WHERE rn = 1
),
pwrd AS (
  SELECT vec_id, sum(code::BIGINT * mul)::BIGINT AS code_word
  FROM penc JOIN (VALUES {_PQ_MULTS}) AS mm(sub, mul) USING (sub)
  GROUP BY vec_id
),
qq AS (SELECT iv FROM qv WHERE vec_id = {QUERY_VEC_ID}),
probed AS (
  SELECT c.cell FROM c{KMEANS_ITERS - 1} c CROSS JOIN qq q
  ORDER BY list_sum([ (q.iv[j] - c.cv[j]) * (q.iv[j] - c.cv[j])
                      for j in generate_series(1, len(q.iv)) ])::BIGINT, c.cell
  LIMIT {IVFPQ_N_PROBE}
),
qr AS (
  SELECT c.cell,
         [ q.iv[j] - c.cv[j] for j in generate_series(1, len(q.iv)) ] AS qriv
  FROM c{KMEANS_ITERS - 1} c CROSS JOIN qq q
  WHERE c.cell IN (SELECT cell FROM probed)
),
qrs AS (
  SELECT cell, m AS sub,
         [qriv[m * {_PQ_SD} + j] for j in generate_series(1, {_PQ_SD})] AS qsv
  FROM qr, unnest(generate_series(0, {similarity.PQ_SUB - 1})) AS t(m)
),
plut AS (
  SELECT q.cell, c.sub, c.code,
         list_sum([ (q.qsv[j] - c.cv[j]) * (q.qsv[j] - c.cv[j])
                    for j in generate_series(1, {_PQ_SD}) ])::BIGINT AS pd
  FROM pc1 c JOIN qrs q ON c.sub = q.sub
),
adcv AS (
  SELECT e.vec_id, r.cell, sum(l.pd)::BIGINT AS adc_dist
  FROM penc e
       JOIN (SELECT vec_id, cell FROM rv) r USING (vec_id)
       JOIN plut l ON l.cell = r.cell AND l.sub = e.sub AND l.code = e.code
  GROUP BY 1, 2
),
cand AS (
  SELECT a.vec_id, a.cell, w.code_word, a.adc_dist
  FROM adcv a JOIN pwrd w USING (vec_id)
  ORDER BY a.adc_dist, a.vec_id LIMIT {PQ_RERANK_CAND}
)
SELECT c.vec_id, c.cell, c.code_word, c.adc_dist,
       list_sum([ (v.iv[j] - q.iv[j]) * (v.iv[j] - q.iv[j])
                  for j in generate_series(1, len(v.iv)) ])::BIGINT AS dist
FROM cand c JOIN qv v USING (vec_id) CROSS JOIN qq q
ORDER BY dist, c.vec_id LIMIT 10
"""


def v13_sq8_topk(spark, sf):
    """INT8 scalar-quantized ANN (similarity.sq8_topk_rerank) under the
    hard gate — the remaining member of the quantized-search family
    (sign-LSH 1 bit / SQ8 8 bits / PQ 4 bits-per-subspace): per-dim
    symmetric int8 codes trained by ONE single-row max|component|
    aggregate, encoded as a pure projection whose +m offset keeps every
    division operand non-negative (so Spark's truncating `div` and
    DuckDB's flooring `//` agree by construction instead of by
    special-case), scanned for the top-100 by integer int8 dot product
    (TakeOrderedAndProject — never a global sort), and re-ranked
    exactly on the micro-quantized components. Both scores ride along,
    so the value hash pins the trained scales, every code, the
    candidate ordering and the re-rank at once."""
    return similarity.sq8_topk_rerank(
        load(spark, sf, "embeddings"),
        QUERY_VEC_ID,
        k=10,
        r_cand=PQ_RERANK_CAND,
    )


V13_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         [floor(x::DOUBLE * {similarity.SIGNLSH_QUANT} + 0.5)::BIGINT
          for x in embedding] AS iv
  FROM embeddings
),
mx AS (
  SELECT j, greatest(max(abs(iv[j])), 1)::BIGINT AS m
  FROM qv, unnest(generate_series(1, 64)) AS t(j)
  GROUP BY j
),
ma AS (SELECT list(m ORDER BY j) AS ml FROM mx),
enc AS (
  SELECT vec_id, iv,
         [ ((iv[j] + ml[j]) * 127) // ml[j] - 127
           for j in generate_series(1, 64) ] AS q8
  FROM qv, ma
),
q AS (SELECT q8 AS qq8, iv AS qiv FROM enc WHERE vec_id = {{qid}}),
scored AS (
  SELECT e.vec_id,
         list_sum([ e.q8[j] * q.qq8[j]
                    for j in generate_series(1, 64) ])::BIGINT AS q8_dot,
         e.iv, q.qiv
  FROM enc e, q WHERE e.vec_id <> {{qid}}
),
cand AS (
  SELECT * FROM scored ORDER BY q8_dot DESC, vec_id LIMIT {PQ_RERANK_CAND}
)
SELECT vec_id, q8_dot,
       list_sum([ iv[j] * qiv[j]
                  for j in generate_series(1, 64) ])::BIGINT AS exact_dot
FROM cand
ORDER BY exact_dot DESC, vec_id LIMIT 10
""".replace("{qid}", str(QUERY_VEC_ID))


N_PROBE = 3


def v5_ivf_multiprobe(spark, sf):
    """Multiprobe IVF: rank cells by centroid cosine, scan the best
    N_PROBE cells only, exact top-k within them. The recall/cost dial of
    a real IVF index (v2 probes 1 cell; brute force probes all)."""
    return similarity.ivf_multiprobe_topk(
        load(spark, sf, "embeddings"), QUERY_VEC_ID, k=10, n_probe=N_PROBE
    )


V5_SQL = f"""
WITH ex AS (
  SELECT label,
         unnest(embedding) AS x,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
comp AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
cents AS (SELECT label, list(m ORDER BY i) AS c FROM comp GROUP BY 1),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
ranked AS (
  SELECT label FROM cents, q
  ORDER BY list_cosine_similarity(c::DOUBLE[], qe::DOUBLE[]) DESC, label
  LIMIT {N_PROBE}
)
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS score
FROM embeddings e JOIN ranked r ON e.label = r.label, q
WHERE e.vec_id <> {QUERY_VEC_ID}
ORDER BY score DESC, e.vec_id
LIMIT 10
"""


V4_SOURCES = ("src3", "src7")
V4_MIN_CHARS = 200


def v4_filtered_topk(spark, sf):
    """Payload-filtered vector search — the reference's real search shape
    (search_news.py:83-88: every query filters by source and published
    range against payload indexes, create_vector_db_index.py:77-98).
    Payload = the documents table keyed by the same id; predicate =
    source IN (...) AND n_chars >= threshold; filter applied BEFORE
    scoring (plan-asserted in tests/test_plans.py)."""
    emb = load(spark, sf, "embeddings")
    payload = load(spark, sf, "documents").select(
        F.col("doc_id").alias("vec_id"), "source", "n_chars"
    )
    pred = F.col("source").isin(*V4_SOURCES) & (F.col("n_chars") >= V4_MIN_CHARS)
    return similarity.payload_filtered_topk(
        emb, payload, pred, QUERY_VEC_ID, k=10
    )


V4_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS score
FROM embeddings e
JOIN documents d ON d.doc_id = e.vec_id, q
WHERE e.vec_id <> {QUERY_VEC_ID}
  AND d.source IN {V4_SOURCES}
  AND d.n_chars >= {V4_MIN_CHARS}
ORDER BY score DESC, e.vec_id
LIMIT 10
"""


V6_KEYWORD = "vector"
V6_TEXT_TERM = "merge"


def v6_keyword_topk(spark, sf):
    """Keyword + full-text filtered vector search — the reference builds
    a KEYWORD payload index and a dedicated full-text index and filters
    real searches on them (create_vector_db_index.py:77-98 keyword/text
    payload schemas; qdrant_full_text_search_index.py). The testdata
    documents carry no keywords column, so keywords := the first 6
    whitespace tokens of the text (computed identically in the DuckDB
    oracle); predicate = array_contains(keywords, kw) AND full-text
    contains(term) — applied on the payload side BEFORE any vector is
    touched (same plan contract as v4, asserted in tests/test_plans.py)."""
    emb = load(spark, sf, "embeddings")
    payload = load(spark, sf, "documents").select(
        F.col("doc_id").alias("vec_id"),
        "text",
        F.slice(F.split(F.col("text"), " "), 1, 6).alias("keywords"),
    )
    pred = F.array_contains(F.col("keywords"), V6_KEYWORD) & F.col(
        "text"
    ).contains(V6_TEXT_TERM)
    return similarity.payload_filtered_topk(emb, payload, pred, QUERY_VEC_ID, k=10)


V6_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS score
FROM embeddings e
JOIN documents d ON d.doc_id = e.vec_id, q
WHERE e.vec_id <> {QUERY_VEC_ID}
  AND list_contains(list_slice(string_split(d.text, ' '), 1, 6), '{V6_KEYWORD}')
  AND d.text LIKE '%{V6_TEXT_TERM}%'
ORDER BY score DESC, e.vec_id
LIMIT 10
"""


# window chosen to be non-empty AND selective for the vec_id-covering
# event ids at every SF (3/500 at sf0.001, 44/500 at sf0.01, 405/2000 at
# sf0.1 — low event_ids carry early-January timestamps)
V7_TS_LO = "2024-01-01 01:00:00"
V7_TS_HI = "2024-01-01 04:00:00"


def v7_ts_range_topk(spark, sf):
    """Published-timestamp RANGE filter below vector scoring — the third
    leg of the reference's payload-index trio (create_vector_db_index.py
    :90-98 builds source/keywords/published_timestamp indexes; real
    searches range-filter on published_timestamp, search_news.py:83-88).
    The testdata documents carry no timestamp, so the payload is the
    events table (event_id keys cover every vec_id, ts is a real
    timestamp column); predicate = ts ∈ [lo, hi) applied on the payload
    side BEFORE any vector is touched (same plan contract as v4/v6,
    asserted in tests/test_plans.py)."""
    emb = load(spark, sf, "embeddings")
    payload = load(spark, sf, "events").select(
        F.col("event_id").alias("vec_id"), F.col("ts").alias("published_ts")
    )
    pred = (F.col("published_ts") >= F.lit(V7_TS_LO).cast("timestamp")) & (
        F.col("published_ts") < F.lit(V7_TS_HI).cast("timestamp")
    )
    return similarity.payload_filtered_topk(emb, payload, pred, QUERY_VEC_ID, k=10)


V7_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS score
FROM embeddings e
JOIN events ev ON ev.event_id = e.vec_id, q
WHERE e.vec_id <> {QUERY_VEC_ID}
  AND ev.ts >= TIMESTAMP '{V7_TS_LO}'
  AND ev.ts < TIMESTAMP '{V7_TS_HI}'
ORDER BY score DESC, e.vec_id
LIMIT 10
"""


def j9_docs_vectors_reconcile(spark, sf):
    """Docs⟕vectors collection-health audit: per-source count drift and
    dim consistency (monitor_collection.py:50-57 article-vs-point counts;
    vector_db_manager.py:99-121 dim check). n_missing/n_dims are the
    alarm columns; healthy = (0, 1) everywhere."""
    from .operators.embed import reconcile_docs_vectors

    return reconcile_docs_vectors(
        load(spark, sf, "documents"),
        load(spark, sf, "embeddings"),
        doc_id_col="doc_id",
        vec_id_col="vec_id",
        group_col="source",
    ).orderBy("source")


J9_SQL = """
SELECT d.source,
       count(*) AS n_docs,
       count(e.vec_id) AS n_vectors,
       count(*) - count(e.vec_id) AS n_missing,
       count(DISTINCT len(e.embedding)) AS n_dims
FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


def v3_embedding_neardup(spark, sf):
    """Embedding-cosine near-duplicate pairs (exact tier)."""
    return similarity.cosine_pairs(
        load(spark, sf, "embeddings"), threshold=NEARDUP_COS_THRESHOLD
    )


V3_SQL = f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
      >= {NEARDUP_COS_THRESHOLD}
"""


V8_COS_THRESHOLD = 0.35


def v8_signlsh_pairs(spark, sf):
    """Sign-LSH embedding near-dup pairs — the 10^9-vector SCALE path of
    v3 (the reference's ANN surface, vector_db_manager.py:135-147) under
    the hard gate. The sketch is integer-exact since round 5: components
    quantized to floor(v·1e6+0.5) BIGINTs, hyperplanes md5-derived
    integers, so the DuckDB twin RECOMPUTES the buckets bit-for-bit from
    the same string spec, then candidate pairs (collide in ≥1 of 8
    tables × 8 bits) are verified with the exact cosine — buckets,
    candidate generation AND verification all value-hash-checked.
    Probabilistic recall (pairs the banding misses) is pinned separately
    in tests/test_pipeline_ops.py; THIS row pins that Spark and a
    second engine agree on what the operator emits."""
    return similarity.lsh_cosine_pairs(
        load(spark, sf, "embeddings"), threshold=V8_COS_THRESHOLD
    ).orderBy("a_id", "b_id")


V8_SQL = f"""
WITH w AS (
  SELECT t, i,
         [('0x' || substr(md5('hp:t' || t || ':' || i || ':' || j), 1, 6))::BIGINT
          - {1 << 23} for j in generate_series(0, 63)] AS wv
  FROM generate_series(0, 7) g1(t), generate_series(0, 7) g2(i)
),
q AS (
  SELECT vec_id,
         [floor(x::DOUBLE * {similarity.SIGNLSH_QUANT} + 0.5)::BIGINT
          for x in embedding] AS qv
  FROM embeddings
),
bits AS (
  SELECT q.vec_id, w.t, w.i,
         CASE WHEN list_sum(list_transform(generate_series(1, 64),
                                           k -> qv[k] * wv[k])) > 0
              THEN (1::BIGINT << i) ELSE 0 END AS bit
  FROM q CROSS JOIN w
),
buckets AS (SELECT vec_id, t AS tbl, sum(bit)::BIGINT AS bucket FROM bits GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
  FROM buckets x JOIN buckets y
    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.a_id, c.b_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS score
FROM cand c
JOIN embeddings a ON a.vec_id = c.a_id
JOIN embeddings b ON b.vec_id = c.b_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
      >= {V8_COS_THRESHOLD}
ORDER BY a_id, b_id
"""


# ===========================================================================
# D — document dedup family

def d1_exact_dedup(spark, sf):
    """Exact dedup: md5 hash-groupBy with canonical-id election."""
    return dedup.exact_duplicates(load(spark, sf, "documents"))


D1_SQL = """
SELECT md5(text) AS fp, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


_JACCARD_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             for i in generate_series(1, len(t) - 2)]) AS s
       FROM toks WHERE len(t) >= 3),
e AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (
  SELECT e1.doc_id AS a_id, e2.doc_id AS b_id, count(*) AS common
  FROM e e1 JOIN e e2 ON e1.shingle = e2.shingle AND e1.doc_id < e2.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(common / (sa.n + sb.n - common), 4) AS jaccard
FROM pairs JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
WHERE round(common / (sa.n + sb.n - common), 4) >= {JACCARD_THRESHOLD}
"""


def d2_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard near-dup pairs (inverted-index self-join)."""
    return dedup.ngram_jaccard_pairs(
        load(spark, sf, "documents"), threshold=JACCARD_THRESHOLD
    )


D2_SQL = _JACCARD_ORACLE


def _minhash_pairs_shared(spark, sf) -> DataFrame:
    """The MinHash-LSH pair graph d3/d5/x29 all consume. Each caller
    recomputes it from the parquet inputs — a round-5-era module-level
    memo keyed on (application, sf) was removed in the optimization
    round: cross-query result reuse is measurement gaming, not
    optimization, and the vectorized signature kernel (with_minhash)
    made the recompute cheap anyway."""
    return dedup.minhash_lsh_pairs(
        load(spark, sf, "documents"), threshold=JACCARD_THRESHOLD
    )


def d3_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup pairs, exact-verified. Oracle = the exact
    Jaccard SQL: at r=2,b=64 a true 0.6-pair escapes the candidate set
    with p≈4e-13, so LSH output == exact output (see operators/dedup.py)."""
    return _minhash_pairs_shared(spark, sf)


D3_SQL = _JACCARD_ORACLE


def d5_dup_clusters(spark, sf):
    """Duplicate CLUSTERS from near-dup pairs: connected components over
    the MinHash-LSH pair graph, canonical id = min doc_id per component
    (iterative min-label propagation; the oracle closes the same graph
    with a recursive CTE). This is the dedup pipeline's actual output —
    'keep one of these k' — not just the pair list."""
    return dedup.duplicate_clusters(_minhash_pairs_shared(spark, sf))


# shared pair-graph closure (D5 consumes it directly; X29 extends it
# with the representative-selection aggregate)
_D5_GRAPH = f"""
WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
shj AS (SELECT doc_id,
               list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                              for i in generate_series(1, len(t) - 2)]) AS s
        FROM toks WHERE len(t) >= 3),
ej AS (SELECT doc_id, unnest(s) AS shingle FROM shj),
szj AS (SELECT doc_id, len(s) AS n FROM shj),
cpairs AS (
  SELECT e1.doc_id AS a_id, e2.doc_id AS b_id, count(*) AS common
  FROM ej e1 JOIN ej e2 ON e1.shingle = e2.shingle AND e1.doc_id < e2.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT a_id, b_id
  FROM cpairs JOIN szj sa ON sa.doc_id = a_id JOIN szj sb ON sb.doc_id = b_id
  WHERE round(common / (sa.n + sb.n - common), 4) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT a_id AS u, b_id AS v FROM jpairs
          UNION SELECT b_id, a_id FROM jpairs),
reach(n, m) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
)"""

D5_SQL = _D5_GRAPH + """
SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
"""


def x29_cluster_reps(spark, sf):
    """Near-dup cluster representative selection — the keep/drop step a
    dedup pipeline ends with (operators/dedup.cluster_representatives):
    d5's connected components joined back to the corpus, one row per
    cluster with the survivor (most tokens, ties to smallest doc_id),
    the member count, and the tokens the drop removes. Selection is a
    single max_by over the composite integer order key (no window); the
    oracle closes the same pair graph recursively and replays the same
    arg_max."""
    from .operators import dedup as dedup_ops

    clusters = dedup_ops.duplicate_clusters(_minhash_pairs_shared(spark, sf))
    return dedup_ops.cluster_representatives(
        clusters, load(spark, sf, "documents")
    ).orderBy("cluster_id")


X29_SQL = _D5_GRAPH + """,
clus AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n),
tk AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
       FROM documents),
j AS (SELECT c.cluster_id, c.doc_id, t.n_tokens,
             t.n_tokens * 4294967296 - c.doc_id AS ordk
      FROM clus c JOIN tk t USING (doc_id))
SELECT cluster_id, arg_max(doc_id, ordk) AS rep_doc_id,
       count(*)::BIGINT AS n_members,
       (sum(n_tokens) - max(n_tokens))::BIGINT AS dup_tokens
FROM j GROUP BY cluster_id ORDER BY cluster_id
"""


def d4_simhash_pairs(spark, sf):
    """SimHash near-dup pairs (hamming <= 8), banded with complete recall
    (9 bands ⇒ pigeonhole guarantees every ≤8-bit pair shares a chunk).
    Token hashes are md5-derived so DuckDB can reproduce the sketch
    bit-for-bit: the oracle recomputes SimHash per doc and takes exact
    all-pairs hamming — banding must find exactly that set."""
    return (
        dedup.simhash_pairs(load(spark, sf, "documents"), max_hamming=8)
        .withColumn("hamming", F.col("hamming").cast("int"))
    )


# DuckDB SimHash twin: per-token 64-bit hash = first 16 md5 hex chars,
# split as two 32-bit words (hi = hex 1-8 → simhash bits 32..63, lo =
# hex 9-16 → bits 0..31) to stay inside signed BIGINT; per-bit ±1 votes,
# sign → bit; hamming = popcount(xor) summed over the two words.
D4_SQL = """
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        s -> ('0x' || substring(md5(s), 1, 8))::BIGINT) AS hi,
         list_transform(string_split(text, ' '),
                        s -> ('0x' || substring(md5(s), 9, 8))::BIGINT) AS lo
  FROM documents
),
words AS MATERIALIZED (
  SELECT doc_id,
         list_sum([CASE WHEN list_sum(list_transform(hi,
                     h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN (1::BIGINT << b) ELSE 0 END
                   for b in generate_series(0, 31)])::BIGINT AS hi32,
         list_sum([CASE WHEN list_sum(list_transform(lo,
                     h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN (1::BIGINT << b) ELSE 0 END
                   for b in generate_series(0, 31)])::BIGINT AS lo32
  FROM toks
)
SELECT a_id, b_id, hamming FROM (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         (bit_count(xor(a.hi32, b.hi32)) + bit_count(xor(a.lo32, b.lo32)))::INT
           AS hamming
  FROM words a JOIN words b ON a.doc_id < b.doc_id
) WHERE hamming <= 8
"""


def d6_simhash128_pairs(spark, sf):
    """128-bit SimHash near-dup pairs (hamming ≤ 8) — the 10^9+-docs
    dedup path (operators/dedup.py: ~14-bit chunks → 16384 bucket values
    per band vs the 64-bit sketch's 128, two orders of magnitude fewer
    accidental candidate collisions). Sketch = two independent 64-bit
    SimHashes over the two md5 words of each token, so DuckDB can
    recompute it bit-for-bit; the oracle takes exact all-pairs hamming
    over the recomputed 128-bit sketch — banding must find exactly that
    set."""
    return dedup.simhash128_pairs(
        load(spark, sf, "documents"), max_hamming=8
    ).withColumn("hamming", F.col("hamming").cast("int"))


# DuckDB 128-bit twin: four 32-bit sketch words from the four md5 hex
# octets (w1 = hex 1-16 → sh_w1's lo/hi halves, w2 = hex 17-32 → sh_w2),
# per-bit ±1 votes per word, hamming = sum of the four popcounts — the
# same two-32-bit-halves packing as D4_SQL, doubled.
_D6_WORD = """
         list_sum([CASE WHEN list_sum(list_transform({col},
                     h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN (1::BIGINT << b) ELSE 0 END
                   for b in generate_series(0, 31)])::BIGINT AS {col}32
"""

D6_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        s -> ('0x' || substring(md5(s), 1, 8))::BIGINT) AS w1hi,
         list_transform(string_split(text, ' '),
                        s -> ('0x' || substring(md5(s), 9, 8))::BIGINT) AS w1lo,
         list_transform(string_split(text, ' '),
                        s -> ('0x' || substring(md5(s), 17, 8))::BIGINT) AS w2hi,
         list_transform(string_split(text, ' '),
                        s -> ('0x' || substring(md5(s), 25, 8))::BIGINT) AS w2lo
  FROM documents
),
words AS MATERIALIZED (
  SELECT doc_id,
{_D6_WORD.format(col="w1hi")},
{_D6_WORD.format(col="w1lo")},
{_D6_WORD.format(col="w2hi")},
{_D6_WORD.format(col="w2lo")}
  FROM toks
)
SELECT a_id, b_id, hamming FROM (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         (bit_count(xor(a.w1hi32, b.w1hi32)) + bit_count(xor(a.w1lo32, b.w1lo32))
          + bit_count(xor(a.w2hi32, b.w2hi32)) + bit_count(xor(a.w2lo32, b.w2lo32)))::INT
           AS hamming
  FROM words a JOIN words b ON a.doc_id < b.doc_id
) WHERE hamming <= 8
"""


# ===========================================================================
# X — text analysis

def x1_lang_confusion(spark, sf):
    """Language-ID heuristic vs labeled lang: confusion counts."""
    d = load(spark, sf, "documents")
    return (
        d.withColumn("pred_lang", text.predict_lang("text"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


_STOPS_SQL = ", ".join(f"'{s}'" for s in text.EN_STOPWORDS)

X1_SQL = f"""
WITH t AS (
  SELECT lang,
         CASE WHEN len(list_filter(string_split(text, ' '),
                                   x -> x IN ({_STOPS_SQL})))
              / len(string_split(text, ' ')) > 0.05
              THEN 'en' ELSE 'unk' END AS pred_lang
  FROM documents
)
SELECT lang, pred_lang, count(*) AS n FROM t GROUP BY 1, 2
"""


def x2_quality_by_source(spark, sf):
    """Quality scoring: per-source average composite quality."""
    d = load(spark, sf, "documents")
    return (
        d.withColumn("q", text.quality_score("text"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.round(F.avg("q"), 4).alias("avg_quality"))
    )


X2_SQL = f"""
WITH t AS (
  SELECT source,
         round(0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
             + 0.4 * (len(list_distinct(string_split(text, ' ')))
                      / len(string_split(text, ' ')))
             + 0.2 * greatest(1.0 - abs(len(list_filter(string_split(text, ' '),
                                                        x -> x IN ({_STOPS_SQL})))
                                        / len(string_split(text, ' ')) - 0.06) / 0.06,
                              0.0), 4) AS q
  FROM documents
)
SELECT source, count(*) AS n_docs, round(avg(q), 4) AS avg_quality
FROM t GROUP BY 1
"""


def x3_token_stats(spark, sf):
    """Token counting (whitespace + BPE-ish regex) per source."""
    d = load(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.sum(text.token_count("text")).cast("long").alias("total_tokens"),
        F.max(text.token_count("text")).cast("long").alias("max_tokens"),
        F.round(F.avg(text.token_count("text")), 4).alias("avg_tokens"),
        F.sum(text.bpe_ish_token_count("text")).cast("long").alias("total_bpe_tokens"),
    )


X3_SQL = f"""
SELECT source,
       sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
       max(len(string_split(text, ' ')))::BIGINT AS max_tokens,
       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
       sum(len(regexp_extract_all(text, '{text.BPE_TOKEN_RE}')))::BIGINT AS total_bpe_tokens
FROM documents GROUP BY 1
"""


def x4_fingerprints(spark, sf):
    """Document fingerprinting: md5 of normalized text, row-level."""
    d = load(spark, sf, "documents")
    return d.select("doc_id", text.fingerprint("text").alias("fp"))


X4_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def x5_winnow_fingerprints(spark, sf):
    """Rolling-hash winnowing fingerprints (SIGMOD'03): min hash per
    sliding window over the word-3-gram hash sequence — the partial-
    overlap fingerprint (shared runs of ≥6 tokens share a fingerprint).
    One row per (doc_id, fingerprint)."""
    d = dedup.spread_for_cpu(load(spark, sf, "documents"))
    return d.select(
        "doc_id",
        F.explode(text.winnow_fingerprints("text", n=3, window=4)).alias("fp"),
    )


# DuckDB twin: same md5-derived 64-bit gram hashes (hi/lo 32-bit halves
# packed into a signed BIGINT — (hi<<32)|lo computed as hi*2^32 shifted
# into the signed range to dodge BIGINT overflow), same windowing incl.
# the short-doc collapse to a single whole-sequence window.
X5_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
          for i in generate_series(1, len(t) - 2)] AS g
  FROM toks WHERE len(t) >= 3
),
hs AS (
  SELECT doc_id,
         list_transform(g, s ->
           (((('0x' || substring(md5(s), 1, 8))::BIGINT + CASE
               WHEN ('0x' || substring(md5(s), 1, 8))::BIGINT >= 2147483648
               THEN -4294967296 ELSE 0 END) * 4294967296)
            + ('0x' || substring(md5(s), 9, 8))::BIGINT)) AS h
  FROM grams
),
wins AS (
  SELECT doc_id,
         [list_min(h[j : least(j + 3, len(h))])
          for j in generate_series(1, greatest(len(h) - 3, 1))] AS w
  FROM hs
)
SELECT doc_id, unnest(list_distinct(w)) AS fp FROM wins
"""


def _md5h_sql(arg: str) -> str:
    """DuckDB SQL for dedup.md5_hash64(arg) — the first 64 bits of md5
    packed as a signed BIGINT (hi word sign-adjusted like Java
    shiftleft), parameterized over the hashed expression."""
    hi = f"('0x' || substring(md5({arg}), 1, 8))::BIGINT"
    lo = f"('0x' || substring(md5({arg}), 9, 8))::BIGINT"
    return (
        f"(({hi} + CASE WHEN {hi} >= 2147483648 THEN -4294967296 ELSE 0 END)"
        f" * 4294967296 + {lo})"
    )


def x6_stratified_sample(spark, sf):
    """Deterministic per-source sampling — the training-mix operator
    (operators/sampling.stratified_sample): every source gets a rate
    derived from its index ((idx mod 5 + 1)/10), membership = hash
    bucket under the rate threshold. Output is the KEPT rows
    themselves, so the value hash pins exact membership: the property
    that makes the sample reproducible (a re-run, or the same corpus
    grown, keeps exactly the same rows) rather than merely
    rate-accurate."""
    from .operators import sampling

    docs = load(spark, sf, "documents")
    rates = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (
                (F.pmod(F.substring("source", 4, 10).cast("int"), F.lit(5)) + 1)
                / 10.0
            ).alias("rate"),
        )
    )
    return (
        sampling.stratified_sample(docs, rates, "source", "doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


X6_SQL = f"""
WITH r AS (
  SELECT source,
         (CAST(substr(source, 4) AS INT) % 5 + 1) / 10.0 AS rate
  FROM (SELECT DISTINCT source FROM documents)
),
b AS (
  SELECT doc_id, source,
         (({_md5h_sql("'sample:' || doc_id")} % 1000000) + 1000000) % 1000000
           AS bucket
  FROM documents
)
SELECT b.doc_id, b.source
FROM b JOIN r USING (source)
WHERE bucket < CAST(round(rate * 1000000) AS INT)
ORDER BY doc_id
"""


def x7_holdout_split(spark, sf):
    """Reproducible train/val/test holdout (operators/sampling.
    hash_split, 80/10/10): split = pure function of (seed, doc_id), so
    re-ingested documents can never migrate between splits across runs
    (the eval-leakage invariant). Per (source, split) counts plus
    first/last doc ids — the ids pin boundary assignments, not just
    the rates."""
    from .operators import sampling

    out = sampling.hash_split(
        load(spark, sf, "documents"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return (
        out.groupBy("source", "split")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "split")
    )


X7_SQL = f"""
WITH b AS (
  SELECT doc_id, source,
         (({_md5h_sql("'split:' || doc_id")} % 1000000) + 1000000) % 1000000
           AS bucket
  FROM documents
),
s AS (
  SELECT doc_id, source,
         CASE WHEN bucket < 800000 THEN 'train'
              WHEN bucket < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT source, split, count(*)::BIGINT AS n,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM s GROUP BY source, split
ORDER BY source, split
"""


def x10_repetition(spark, sf):
    """C4/Gopher-family repetition scoring (text.dup_ngram_fraction):
    per-document fraction of duplicate token occurrences (n=1) and
    duplicate 3-gram occurrences — the intra-document boilerplate
    signal corpus-level dedup cannot see. One row per document; both
    ratios value-hashed."""
    docs = load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.round(text.dup_ngram_fraction("text", 1), 4).alias("dup1"),
        F.round(text.dup_ngram_fraction("text", 3), 4).alias("dup3"),
    ).orderBy("doc_id")


X10_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, t,
         [list_aggregate(t[i:i+2], 'string_agg', ' ')
          for i in generate_series(1, len(t) - 2)] AS g3
  FROM toks
)
SELECT doc_id,
       CASE WHEN len(t) < 1 THEN 0.0
            ELSE round(1.0 - len(list_distinct(t))::DOUBLE / len(t), 4) END AS dup1,
       CASE WHEN len(t) < 3 THEN 0.0
            ELSE round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 4) END AS dup3
FROM g ORDER BY doc_id
"""


def x11_pii_scrub(spark, sf):
    """PII detection + scrubbing (operators/pii): the synthetic corpus
    carries no PII, so the query first WEAVES deterministic PII into the
    text — an email for doc_id%3==0, an IPv4 for doc_id%5==0, a phone
    for doc_id%7==0, pure arithmetic both engines construct identically
    — then runs the real single-scan operator. The value hash pins the
    per-kind match counts AND the md5 of the scrubbed text, so a regex
    dialect drift (Java vs RE2) or a placeholder-order bug breaks the
    gate, not just a count."""
    from .operators import pii

    d = F.col("doc_id")
    woven = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" contact user"), d.cast("string"), F.lit("@example.org")
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(
                    F.lit(" node 10."),
                    (d % 256).cast("string"),
                    F.lit("."),
                    (d % 97).cast("string"),
                    F.lit("."),
                    (d % 200).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" call +98"), F.format_string("%07d", d % 10000000)),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        pii.with_pii(woven)
        .select(
            "doc_id",
            F.col("n_email").cast("int").alias("n_email"),
            F.col("n_ipv4").cast("int").alias("n_ipv4"),
            F.col("n_phone").cast("int").alias("n_phone"),
            F.md5("text_scrubbed").alias("scrub_md5"),
        )
        .orderBy("doc_id")
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{8,15}"

X11_SQL = f"""
WITH woven AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || doc_id || '@example.org' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' node 10.' || (doc_id % 256) || '.' || (doc_id % 97)
                 || '.' || (doc_id % 200) ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call +98' || printf('%07d', doc_id % 10000000) ELSE '' END
    AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text, '{_PII_EMAIL}'))::INT AS n_email,
  len(regexp_extract_all(text, '{_PII_IPV4}'))::INT AS n_ipv4,
  len(regexp_extract_all(text, '{_PII_PHONE}'))::INT AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '{_PII_EMAIL}', '<EMAIL>', 'g'),
      '{_PII_IPV4}', '<IP>', 'g'),
      '{_PII_PHONE}', '<PHONE>', 'g')) AS scrub_md5
FROM woven ORDER BY doc_id
"""


def x12_boilerplate(spark, sf):
    """CCNet/RefinedWeb-style paragraph-level boilerplate dedup
    (operators/dedup.strip_boilerplate): an exactly-8-token subscribe
    header is woven onto every even doc_id (deterministic, both engines
    construct it; 8 tokens so the chunk grid of the original text is
    unchanged), then the real operator chunks, counts per-(source,
    paragraph) document frequency, anti-joins the ≥5-doc paragraphs out
    and rebuilds each document in order. The hash pins per-doc paragraph
    totals, survivors, and the md5 of the rebuilt text — the even docs
    must come back byte-identical to their unwoven selves."""
    woven = load(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("subscribe to "),
                F.col("source"),
                F.lit(" newsletter for daily updates now "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        dedup.strip_boilerplate(woven, para_tokens=8, min_docs=5)
        .select(
            "doc_id",
            "n_paras",
            "n_kept",
            F.md5("text_clean").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


X12_SQL = """
WITH woven AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 2 = 0
              THEN 'subscribe to ' || source
                   || ' newsletter for daily updates now ' || text
              ELSE text END AS text
  FROM documents
),
toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM woven),
paras AS (
  SELECT doc_id, source, c AS pos,
         array_to_string(t[c*8+1 : c*8+8], ' ') AS para
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t)/8.0) AS INT) - 1)) AS u(c)
),
ph AS (SELECT doc_id, source, pos, para, md5(para) AS h FROM paras),
boiler AS (
  SELECT source, h FROM ph GROUP BY source, h
  HAVING count(DISTINCT doc_id) >= 5
),
kept AS (SELECT ph.* FROM ph ANTI JOIN boiler USING (source, h)),
reb AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(para, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_paras FROM ph GROUP BY doc_id)
SELECT t.doc_id, t.n_paras,
       COALESCE(r.n_kept, 0)::BIGINT AS n_kept,
       md5(COALESCE(r.text_clean, '')) AS clean_md5
FROM tot t LEFT JOIN reb r USING (doc_id)
ORDER BY doc_id
"""


BM25_TERMS = ("dup", "table", "window")


def x13_bm25(spark, sf):
    """BM25 ranked retrieval (text.bm25_topk) — the lexical ranking the
    reference's dedicated full-text index serves, over one rare term
    ('dup' — the planted-duplicate marker, df ≈ 5% of docs) and two
    common ones. idf is rounded to 6 decimals in BOTH engines before
    use, making every per-term contribution bit-identical IEEE
    arithmetic; the value hash pins the whole top-10 (doc AND score),
    so a drift in tf, df, length normalization or the tie-break order
    breaks the gate."""
    return text.bm25_topk(load(spark, sf, "documents"), BM25_TERMS, k=10)


X13_SQL = f"""
WITH toked AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toked),
ex AS (
  SELECT doc_id, len(t)::DOUBLE AS dl, unnest(t) AS term FROM toked
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf, max(dl) AS dl
  FROM ex WHERE term IN {BM25_TERMS!r}
  GROUP BY 1, 2
),
df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY 1),
w AS (
  SELECT term, round(ln(1.0 + (g.n - df.df + 0.5) / (df.df + 0.5)), 6) AS idf,
         g.avgdl
  FROM df CROSS JOIN g
)
SELECT tf.doc_id,
       round(sum(w.idf * ((tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + (0.75 * tf.dl) / w.avgdl)))), 4) AS score
FROM tf JOIN w USING (term)
GROUP BY 1
ORDER BY score DESC, doc_id
LIMIT 10
"""


def x14_corpus_build(spark, sf):
    """The training-corpus build END-TO-END, composed from the
    first-class operators and value-hashed as ONE query: quality gate
    (text.quality_score ≥ 0.5) → exact dedup keeping the canonical
    min-id copy → 5% md5 eval split → decontamination
    (dedup.cross_contamination, 4-grams: train docs sharing ≥1 gram
    with eval are dropped) → token-budget shard packing
    (sampling.pack_token_shards). The output is what a trainer mounts:
    (doc_id, shard, n_tokens, tok_start, bin_id) for every surviving
    document. A drift in ANY stage — a score boundary, a dedup
    canonical, one contaminated doc sneaking through, one packing
    offset — shifts downstream offsets and breaks the hash, so the gate
    pins the stages AND their composition."""
    from .operators import sampling
    from .operators.dedup import md5_hash64

    q = (
        load(spark, sf, "documents")
        .filter(text.quality_score("text") >= 0.5)
        .select("doc_id", "text")
    )
    canon = (
        q.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    dd = q.join(canon, "doc_id", "left_semi")
    lab = dd.withColumn(
        "__e",
        F.pmod(
            md5_hash64(F.concat(F.lit("eval:"), F.col("doc_id").cast("string"))),
            F.lit(20),
        )
        == 0,
    )
    train = lab.filter(~F.col("__e")).drop("__e")
    ev = lab.filter(F.col("__e")).drop("__e")
    contaminated = dedup.cross_contamination(train, ev, n=4).select("doc_id")
    clean = train.join(contaminated, "doc_id", "left_anti")
    return sampling.pack_token_shards(clean, budget=2048, n_shards=8).orderBy(
        "doc_id"
    )


X14_SQL = f"""
WITH q AS (
  SELECT doc_id, text FROM documents
  WHERE round(0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
      + 0.4 * (len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')))
      + 0.2 * greatest(1.0 - abs(len(list_filter(string_split(text, ' '),
                                                 x -> x IN ({_STOPS_SQL})))
                                 / len(string_split(text, ' ')) - 0.06) / 0.06,
                       0.0), 4) >= 0.5
),
canon AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
dd AS (SELECT q.* FROM q SEMI JOIN canon USING (doc_id)),
lab AS (
  SELECT doc_id, text,
         (({_md5h_sql("'eval:' || doc_id")} % 20) + 20) % 20 = 0 AS is_eval
  FROM dd
),
toks AS (SELECT doc_id, is_eval, string_split(text, ' ') AS t FROM lab),
grams AS (
  SELECT doc_id, is_eval,
         unnest(list_distinct([list_aggregate(t[i:i+3], 'string_agg', ' ')
                               for i in generate_series(1, len(t) - 3)])) AS g
  FROM toks WHERE len(t) >= 4
),
evg AS (SELECT DISTINCT g FROM grams WHERE is_eval),
cont AS (SELECT DISTINCT doc_id FROM grams JOIN evg USING (g) WHERE NOT is_eval),
clean AS (
  SELECT doc_id, text FROM lab
  WHERE NOT is_eval AND doc_id NOT IN (SELECT doc_id FROM cont)
),
b AS (
  SELECT doc_id,
         ((((({_md5h_sql("'shard:' || doc_id")} % 1000000) + 1000000) % 1000000)
           % 8))::INT AS shard,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM clean
),
c AS (
  SELECT doc_id, shard, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT
           AS tok_start
  FROM b
)
SELECT doc_id, shard, n_tokens, tok_start, (tok_start // 2048)::BIGINT AS bin_id
FROM c ORDER BY doc_id
"""


X15_K = 128


def x15_kmv_vocab(spark, sf):
    """KMV bottom-k distinct sketch under the hard gate
    (operators/sketch.py): distinct word-3-gram shingles per source —
    the cardinality that sizes MinHash/LSH dedup planning — estimated
    with a k=128 bottom-k sketch over md5-derived 60-bit hashes, PLUS
    the zero-error merge property: the corpus splits into 4 shards by
    doc_id, each shard sketches independently, and the merged sketch
    must equal the direct one (``merged_equal`` — the oracle states
    TRUE, so any merge bug breaks the value hash). The estimate is
    exact-integer (k−1)·2^60 div h_k in both engines (DECIMAL(38,0) div
    / HUGEINT floor division — no IEEE); ``exact_distinct`` rides along
    for honesty (the sketch is genuinely approximate here: ~1 100–1 550
    true shingles per source vs k=128)."""
    from .operators import sketch

    d = load(spark, sf, "documents")
    hashed = (
        d.withColumn("__toks", text.tokens_col("text"))
        .select(
            "doc_id",
            "source",
            F.explode(dedup.shingles_from_tokens(F.col("__toks"))).alias("g"),
        )
        .select("doc_id", "source", sketch.md5_hash60(F.col("g")).alias("h"))
    )
    direct = sketch.kmv_bottom_k(hashed, ["source"], "h", X15_K)
    shards = [
        sketch.kmv_bottom_k(
            hashed.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i),
            ["source"],
            "h",
            X15_K,
        )
        for i in range(4)
    ]
    merged = sketch.kmv_merge(shards, ["source"], X15_K).withColumnRenamed(
        "mins", "mins_merged"
    )
    exact = (
        hashed.select("source", "h")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("exact_distinct"))
    )
    return (
        sketch.with_kmv_estimate(direct, X15_K)
        .join(merged, "source")
        .join(exact, "source")
        .select(
            "source",
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            F.size("mins").cast("int").alias("n_mins"),
            F.when(F.size("mins") >= X15_K, F.element_at("mins", X15_K)).alias(
                "h_k"
            ),
            F.col("estimate").cast("long").alias("estimate"),
            (F.col("mins") == F.col("mins_merged")).alias("merged_equal"),
        )
    )


X15_SQL = f"""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id, source,
              list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             for i in generate_series(1, len(t) - 2)]) AS s
       FROM toks WHERE len(t) >= 3),
h AS (SELECT DISTINCT source, ('0x' || substring(md5(g), 1, 15))::BIGINT AS h
      FROM (SELECT source, unnest(s) AS g FROM sh)),
r AS (SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM h)
SELECT source,
       max(n)::BIGINT AS exact_distinct,
       least(max(n), {X15_K})::INT AS n_mins,
       max(CASE WHEN rn = {X15_K} THEN h END) AS h_k,
       CASE WHEN max(n) >= {X15_K}
            THEN (({X15_K - 1}::HUGEINT * {1 << 60}::HUGEINT)
                  // max(CASE WHEN rn = {X15_K} THEN h END)::HUGEINT)::BIGINT
            ELSE max(n)::BIGINT END AS estimate,
       TRUE AS merged_equal
FROM r GROUP BY 1
"""


X16_DEPTH = 4
X16_WIDTH = 64
X16_TOPK = 10


def x16_countmin_heavy(spark, sf):
    """Count-min frequency sketch under the hard gate
    (operators/sketch.countmin_*): per event_type, the top-10 heaviest
    user_ids by exact count, each carrying its estimate from a 4×64
    count-min table built over the full stream — the oracle recomputes
    table, point queries, and ranking exactly, so the (always ≥ exact)
    collision bias is pinned, not hidden. merged_equal additionally
    witnesses the cell-wise shard merge: the table re-built from 4
    disjoint event shards and summed must equal the direct table
    (the oracle states TRUE; any merge bug breaks the hash)."""
    from .operators import sketch

    # derive-once: the direct table + 4 shard tables each re-evaluated
    # the per-row cell hashes over their own events scan; one
    # checkpointed projection feeds all five (A/B'd: x16 2.2-3.0 s with
    # vs 2.4-3.8 s without at sf0.1 — unlike x15, where the same
    # checkpoint LOST to the map-side-combined per-arm aggregation and
    # was reverted)
    e = load(spark, sf, "events").select(
        "event_type", "event_id", "user_id"
    ).localCheckpoint(eager=True)
    table = sketch.countmin_table(
        e, ["event_type"], "user_id", X16_DEPTH, X16_WIDTH
    )
    shards = [
        sketch.countmin_table(
            e.filter(F.pmod(F.col("event_id"), F.lit(4)) == i),
            ["event_type"],
            "user_id",
            X16_DEPTH,
            X16_WIDTH,
        )
        for i in range(4)
    ]
    merged = sketch.countmin_merge(shards, ["event_type"]).withColumnRenamed(
        "n", "n_merged"
    )
    flag = (
        table.join(merged, ["event_type", "r", "c"], "full")
        .groupBy("event_type")
        .agg(
            (
                F.sum(
                    F.when(
                        F.coalesce(F.col("n"), F.lit(-1))
                        != F.coalesce(F.col("n_merged"), F.lit(-1)),
                        1,
                    ).otherwise(0)
                )
                == 0
            ).alias("merged_equal")
        )
    )
    exact = e.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("exact_n")
    )
    est = sketch.countmin_estimate(
        exact.select("event_type", "user_id"),
        table,
        ["event_type"],
        "user_id",
        X16_DEPTH,
        X16_WIDTH,
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("exact_n"), "user_id")
    return (
        exact.join(est, ["event_type", "user_id"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= X16_TOPK)
        .join(F.broadcast(flag), "event_type")
        .select(
            "event_type", "user_id", "exact_n", "cm_estimate", "rk", "merged_equal"
        )
    )


def _md5_h60_sql(expr: str) -> str:
    """DuckDB twin of sketch.md5_hash60: positive 60-bit md5 prefix."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


_X16_CELL = _md5_h60_sql("'cm' || t.r::VARCHAR || ':' || user_id::VARCHAR")

X16_SQL = f"""
WITH cell AS (
  SELECT e.event_type, e.user_id, t.r::INT AS r,
         ({_X16_CELL} % {X16_WIDTH})::INT AS c
  FROM events e CROSS JOIN generate_series(0, {X16_DEPTH - 1}) AS t(r)
),
tab AS (SELECT event_type, r, c, count(*) AS n FROM cell GROUP BY 1, 2, 3),
exact AS (
  SELECT event_type, user_id, count(*)::BIGINT AS exact_n
  FROM events GROUP BY 1, 2
),
probe AS (
  SELECT x.event_type, x.user_id, t.r::INT AS r,
         ({_X16_CELL} % {X16_WIDTH})::INT AS c
  FROM exact x CROSS JOIN generate_series(0, {X16_DEPTH - 1}) AS t(r)
),
est AS (
  SELECT p.event_type, p.user_id, min(tab.n)::BIGINT AS cm_estimate
  FROM probe p JOIN tab USING (event_type, r, c) GROUP BY 1, 2
),
rk AS (
  SELECT exact.event_type, exact.user_id, exact_n, cm_estimate,
         row_number() OVER (PARTITION BY exact.event_type
                            ORDER BY exact_n DESC, exact.user_id) AS rk
  FROM exact JOIN est USING (event_type, user_id)
)
SELECT event_type, user_id, exact_n, cm_estimate, rk::INT AS rk,
       TRUE AS merged_equal
FROM rk WHERE rk <= {X16_TOPK}
"""


def x17_length_quantiles(spark, sf):
    """Exact discrete quantiles (p50/p90/p99) of document length per
    source — the thresholds a corpus curator reads off before setting
    length filters. percentile_disc semantics computed EXPLICITLY (the
    value at row ceil(q·n) in (n_chars, doc_id) order) so both engines
    run pure integer arithmetic — interpolating percentile() would pit
    Spark's IEEE evaluation order against DuckDB's. One shuffle, one
    sort, two fused windows (the sessionize pattern); at 100 TB the
    same numbers come from percentile_approx on the full corpus or this
    exact form on a hash sample — this operator is the calibration-
    grade exact path."""
    d = load(spark, sf, "documents").select("source", "n_chars", "doc_id")
    wo = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    r = d.withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count("*").over(wn)
    )
    pick = lambda num, den: F.max(  # noqa: E731 — value at rank ceil(q·n)
        F.when(F.col("rn") == F.expr(f"({num} * n + {num}) div {den}"), F.col("n_chars"))
    ).cast("long")
    return r.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        pick(1, 2).alias("p50"),
        pick(9, 10).alias("p90"),
        pick(99, 100).alias("p99"),
    )


X17_SQL = """
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, max(n)::BIGINT AS n_docs,
       max(CASE WHEN rn = (1 * n + 1) // 2 THEN n_chars END)::BIGINT AS p50,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END)::BIGINT AS p90,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN n_chars END)::BIGINT AS p99
FROM r GROUP BY 1
"""


X31_K = 256
X31_PROBS = [("p50_est", 1, 2), ("p90_est", 9, 10), ("p99_est", 99, 100)]


def x31_quantile_sketch(spark, sf):
    """Hash-sample quantile sketch under the hard gate
    (operators/sketch.qsketch_*) — the third sketch leg (KMV =
    cardinality, count-min = frequency, this = quantiles) and x17's
    at-scale path: per event_type, keep the k=256 events with smallest
    md5(event_id) — a deterministic uniform row sample, a pure function
    of the row SET (unlike KLL/t-digest, whose merge-tree order
    dependence no SQL twin could replay) — and read p50/p90/p99 of the
    micro-unit event value off the sample's order statistics with the
    exact x17 rank rule. The exact quantiles ride along so the sampling
    error is pinned, not hidden; ``merged_equal`` witnesses the
    zero-error shard merge (4 disjoint event shards sketch
    independently, merged ≡ direct — the oracle states TRUE). Types
    here hold ~2k events at sf0.01 / ~20k at sf0.1 vs k=256, so the
    sketch is genuinely approximate in the gate's regime."""
    from .operators import sketch

    e = load(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("v_micro"),
    )
    direct = sketch.qsketch_bottom_k(e, ["event_type"], "event_id", "v_micro", X31_K)
    shards = [
        sketch.qsketch_bottom_k(
            e.filter(F.pmod(F.col("event_id"), F.lit(4)) == i),
            ["event_type"], "event_id", "v_micro", X31_K,
        )
        for i in range(4)
    ]
    merged = sketch.qsketch_merge(shards, ["event_type"], X31_K).withColumnRenamed(
        "sample", "sample_merged"
    )
    wo = Window.partitionBy("event_type").orderBy("v_micro", "event_id")
    wn = Window.partitionBy("event_type")
    r = e.withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count("*").over(wn)
    )
    pick = lambda num, den: F.max(  # noqa: E731 — x17's exact rank rule
        F.when(
            F.col("rn") == F.expr(f"({num} * n + {den - 1}) div {den}"),
            F.col("v_micro"),
        )
    ).cast("long")
    exact = r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        pick(1, 2).alias("p50"),
        pick(9, 10).alias("p90"),
        pick(99, 100).alias("p99"),
    )
    return (
        sketch.qsketch_quantiles(direct, X31_PROBS)
        .join(merged, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_events",
            "sample_n",
            "p50_est",
            "p90_est",
            "p99_est",
            "p50",
            "p90",
            "p99",
            (F.col("sample") == F.col("sample_merged")).alias("merged_equal"),
        )
    )


X31_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type,
         floor(value * 1000000 + 0.5)::BIGINT AS v_micro
  FROM events
),
h AS (
  SELECT event_type, v_micro,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY ('0x' || substring(md5(event_id::VARCHAR), 1, 15))::BIGINT
         ) AS hrn
  FROM ev
),
samp AS (
  SELECT event_type, v_micro,
         row_number() OVER (PARTITION BY event_type ORDER BY v_micro) AS rn,
         count(*) OVER (PARTITION BY event_type) AS s
  FROM h WHERE hrn <= {X31_K}
),
est AS (
  SELECT event_type, max(s)::INT AS sample_n,
         max(CASE WHEN rn = (1 * s + 1) // 2 THEN v_micro END)::BIGINT AS p50_est,
         max(CASE WHEN rn = (9 * s + 9) // 10 THEN v_micro END)::BIGINT AS p90_est,
         max(CASE WHEN rn = (99 * s + 99) // 100 THEN v_micro END)::BIGINT AS p99_est
  FROM samp GROUP BY 1
),
rx AS (
  SELECT event_type, v_micro,
         row_number() OVER (PARTITION BY event_type ORDER BY v_micro, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
ex AS (
  SELECT event_type, max(n)::BIGINT AS n_events,
         max(CASE WHEN rn = (1 * n + 1) // 2 THEN v_micro END)::BIGINT AS p50,
         max(CASE WHEN rn = (9 * n + 9) // 10 THEN v_micro END)::BIGINT AS p90,
         max(CASE WHEN rn = (99 * n + 99) // 100 THEN v_micro END)::BIGINT AS p99
  FROM rx GROUP BY 1
)
SELECT e.event_type, x.n_events, e.sample_n, e.p50_est, e.p90_est, e.p99_est,
       x.p50, x.p90, x.p99, TRUE AS merged_equal
FROM est e JOIN ex x USING (event_type)
"""


def x18_incremental_neardup(spark, sf):
    """Incremental content dedup under the hard gate
    (operators/dedup.incremental_simhash_pairs): the corpus splits into
    a BASE (doc_id % 5 != 0) and a new BATCH (doc_id % 5 == 0); output
    is every (batch, base) pair within hamming 8 of the 64-bit SimHash
    — the per-poll "is this new article a near-copy of anything we
    hold?" question, answered without ever pairing the base against
    itself. The oracle recomputes the sketch per doc (the d4 twin) and
    takes exact cross-side all-pairs hamming — the banded batch×base
    join must find exactly that set."""
    d = load(spark, sf, "documents")
    return dedup.incremental_simhash_pairs(
        d.filter(F.col("doc_id") % 5 != 0),
        d.filter(F.col("doc_id") % 5 == 0),
        max_hamming=8,
    ).withColumn("hamming", F.col("hamming").cast("int"))


X18_SQL = """
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        s -> ('0x' || substring(md5(s), 1, 8))::BIGINT) AS hi,
         list_transform(string_split(text, ' '),
                        s -> ('0x' || substring(md5(s), 9, 8))::BIGINT) AS lo
  FROM documents
),
words AS MATERIALIZED (
  SELECT doc_id,
         list_sum([CASE WHEN list_sum(list_transform(hi,
                     h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN (1::BIGINT << b) ELSE 0 END
                   for b in generate_series(0, 31)])::BIGINT AS hi32,
         list_sum([CASE WHEN list_sum(list_transform(lo,
                     h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN (1::BIGINT << b) ELSE 0 END
                   for b in generate_series(0, 31)])::BIGINT AS lo32
  FROM toks
)
SELECT batch_id, base_id, hamming FROM (
  SELECT n.doc_id AS batch_id, o.doc_id AS base_id,
         (bit_count(xor(n.hi32, o.hi32)) + bit_count(xor(n.lo32, o.lo32)))::INT
           AS hamming
  FROM words n JOIN words o
    ON n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
) WHERE hamming <= 8
"""


def x19_dup_spans(spark, sf):
    """Position-level exact-substring dedup (operators/dedup.
    duplicate_spans) — the Lee-et-al.-2021 pass that finds repeated
    PASSAGES document-level dedup keeps: every 8-token window occurring
    ≥2× corpus-wide marks its range, per-doc overlapping windows merge
    into maximal (tok_start, tok_end] spans. Spark streams 8-byte
    chained-xxhash64 window hashes (no window strings in flight); the
    oracle recomputes the windows as literal strings, so a 64-bit hash
    collision, an off-by-one in the window grid, or a wrong
    gaps-and-islands break condition all break the value hash."""
    return dedup.duplicate_spans(
        load(spark, sf, "documents"), window=8, min_count=2
    ).orderBy("doc_id", "tok_start")


X19_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wins AS (
  SELECT doc_id, c::INT AS pos, array_to_string(t[c+1 : c+8], ' ') AS w
  FROM toks, unnest(generate_series(0, len(t) - 8)) AS u(c)
  WHERE len(t) >= 8
),
freq AS (SELECT w FROM wins GROUP BY w HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM wins JOIN freq USING (w)),
flg AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flg
)
SELECT doc_id, min(pos)::INT AS tok_start, (max(pos) + 8)::INT AS tok_end,
       count(*)::BIGINT AS n_windows
FROM isl GROUP BY doc_id, island ORDER BY doc_id, tok_start
"""


def x20_substring_strip(spark, sf):
    """The strip stage over x19's spans (dedup.strip_duplicate_spans):
    every duplicated 8-token span removed, document rebuilt in token
    order — the hash pins per-doc token totals, removed-token counts,
    and the md5 of every rebuilt text, so the span grid, the interval
    filter, and the untouched-doc passthrough are all value-checked."""
    return (
        dedup.strip_duplicate_spans(
            load(spark, sf, "documents"), window=8, min_count=2
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_tokens",
            F.md5("text_clean").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


X20_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wins AS (
  SELECT doc_id, c::INT AS pos, array_to_string(t[c+1 : c+8], ' ') AS w
  FROM toks, unnest(generate_series(0, len(t) - 8)) AS u(c)
  WHERE len(t) >= 8
),
freq AS (SELECT w FROM wins GROUP BY w HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM wins JOIN freq USING (w)),
flg AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flg
),
spans AS (
  SELECT doc_id, min(pos) AS tok_start, max(pos) + 8 AS tok_end
  FROM isl GROUP BY doc_id, island
),
tok AS (
  SELECT doc_id, c::INT AS pos, t[c+1] AS tok
  FROM toks, unnest(generate_series(0, len(t) - 1)) AS u(c)
),
kept AS (
  SELECT k.doc_id, k.pos, k.tok FROM tok k
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = k.doc_id
                      AND k.pos >= s.tok_start AND k.pos < s.tok_end)
),
reb AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks)
SELECT tot.doc_id, tot.n_tokens,
       (tot.n_tokens - COALESCE(r.n_kept, 0))::BIGINT AS n_dup_tokens,
       md5(COALESCE(r.text_clean, '')) AS clean_md5
FROM tot LEFT JOIN reb r USING (doc_id)
ORDER BY doc_id
"""


DSIR_TARGET_LANG = "de"
DSIR_TOP_M = 100


def x22_dsir_select(spark, sf):
    """DSIR importance-weighted data selection (text.dsir_select) under
    the hard gate: tilt the crawl corpus toward the lang='de' target
    domain by hashed-token log-ratio weights, keep the top 100. Buckets
    are md5-derived from the token string (both engines recompute them),
    log-ratios quantized to integer micro-nats, per-doc weights exact
    integer sums — the twin replays feature hashing, smoothing,
    quantization and the top-m cut; one document crossing the selection
    boundary breaks the hash."""
    return text.dsir_select(
        load(spark, sf, "documents"),
        F.col("lang") == DSIR_TARGET_LANG,
        m=DSIR_TOP_M,
    )


X22_SQL = f"""
WITH tok AS (
  SELECT doc_id, (lang = '{DSIR_TARGET_LANG}')::INT AS is_t,
         ('0x' || substr(md5(t.term), 1, 6))::BIGINT
           % {text.DSIR_BUCKETS} AS bucket
  FROM documents, unnest(string_split(text, ' ')) AS t(term)
),
got AS (
  SELECT bucket, count(*)::BIGINT AS cr, sum(is_t)::BIGINT AS ct
  FROM tok GROUP BY 1
),
cnt AS (
  SELECT g.bucket, coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
  FROM (SELECT unnest(generate_series(0, {text.DSIR_BUCKETS - 1}))::BIGINT
          AS bucket) g
  LEFT JOIN got ON g.bucket = got.bucket
),
tot AS (SELECT sum(cr)::BIGINT AS r_tot, sum(ct)::BIGINT AS t_tot FROM cnt),
lr AS (
  SELECT bucket,
         round(ln( ((ct + 1)::DOUBLE * (r_tot + {text.DSIR_BUCKETS})::DOUBLE)
                 / ((cr + 1)::DOUBLE * (t_tot + {text.DSIR_BUCKETS})::DOUBLE) )
               * {text.DSIR_LOG_SCALE})::BIGINT AS lr
  FROM cnt, tot
)
SELECT doc_id, sum(lr)::BIGINT AS weight
FROM tok JOIN lr USING (bucket)
GROUP BY 1
ORDER BY weight DESC, doc_id
LIMIT {DSIR_TOP_M}
"""


def _g1_edges(spark, sf, limit_events: int | None = None) -> DataFrame:
    """Deterministic host link graph from the events table (the j-gate
    md5 synthesis convention): 200 hosts, one candidate edge per event,
    with every 4th event pointing into a 10-host hub set — the
    in-degree skew real link graphs have (news front pages, CDNs).
    ``limit_events`` keeps only ``event_id < limit_events`` rows —
    g9 uses it to get a SPARSE graph (≈2 out-edges/host) where BFS
    depth actually spreads over several levels."""
    ev = load(spark, sf, "events")
    if limit_events is not None:
        ev = ev.where(F.col("event_id") < limit_events)
    h = lambda tag: F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), F.col("event_id").cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    e = ev.select(
        (h("gs") % 200).alias("src"),
        F.when(F.col("event_id") % 4 == 0, h("gd") % 10)
        .otherwise(h("gd") % 200)
        .alias("dst"),
    )
    return e.filter(F.col("src") != F.col("dst")).distinct()


def g1_host_rank(spark, sf):
    """Host-level PageRank (operators/graph.pagerank_int) over a
    200-host link graph with a planted 10-host hub set — the frontier
    priority signal (rank joins pending URLs by host; pop orders on
    it). 3 iterations of exact integer arithmetic (scaled ranks, div
    floor division, dangling mass dropped identically), so the
    unrolled-CTE DuckDB twin replays every iteration bit-for-bit and
    the value hash pins all 200 final ranks — a drift in the degree
    join, the damping split, or the hub skew handling breaks it."""
    from .operators import graph

    return (
        graph.pagerank_int(_g1_edges(spark, sf), iters=3)
        .select(F.col("node").alias("host"), "rank")
        .orderBy("host")
    )


_G1_EDGE_SQL = """
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT
      ('0x' || substring(md5('gs' || event_id::VARCHAR), 1, 4))::BIGINT % 200
        AS src,
      CASE WHEN event_id % 4 = 0
           THEN ('0x' || substring(md5('gd' || event_id::VARCHAR), 1, 4))::BIGINT % 10
           ELSE ('0x' || substring(md5('gd' || event_id::VARCHAR), 1, 4))::BIGINT % 200
      END AS dst
    FROM events
  ) WHERE src <> dst
),
nodes AS (SELECT DISTINCT h FROM (SELECT src AS h FROM edges
                                  UNION SELECT dst FROM edges)),
deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src)
"""

_G1_STEP = """
c{i} AS (
  SELECT e.dst AS h, sum(r.r // d.outdeg)::BIGINT AS contrib
  FROM edges e JOIN deg d ON e.src = d.src JOIN r{p} r ON r.h = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.h, (150000 + (85 * COALESCE(c.contrib, 0)) // 100)::BIGINT AS r
  FROM nodes n LEFT JOIN c{i} c ON c.h = n.h
)
"""

# shared PageRank CTE body (edges → deg → r0..r3): G1_SQL pins the ranks,
# G2_SQL apportions a budget from the SAME unrolled iterations.
_G1_BODY = (
    _G1_EDGE_SQL.strip()
    + ",\nr0 AS (SELECT h, 1000000::BIGINT AS r FROM nodes),"
    + ",".join(_G1_STEP.strip().format(i=i, p=i - 1) for i in (1, 2, 3))
)

G1_SQL = (
    "WITH " + _G1_BODY + "\nSELECT h AS host, r AS rank FROM r3 ORDER BY host"
)


def g5_hits(spark, sf):
    """HITS hubs & authorities (operators/graph.hits_int) over the g1
    link graph — PageRank's complement for crawl scheduling: authority
    = linked-to by good hubs (content priority), hub = links to good
    authorities (recrawl-cadence priority for section fronts/sitemaps).
    3 iterations, each sum max-normalized to ``(v · scale) div max(v)``
    in exact integer arithmetic, so the unrolled-CTE DuckDB twin
    replays every half-iteration bit-for-bit — a drift in the in/out
    edge orientation, the normalization guard, or the dangling-node
    zeroing breaks the value hash on all 200 hosts."""
    from .operators import graph

    return (
        graph.hits_int(_g1_edges(spark, sf), iters=3)
        .select(F.col("node").alias("host"), "auth", "hub")
        .orderBy("host")
    )


# MATERIALIZED: each a{i} references ar{i} twice (sum + its max guard)
# and feeds two consumers — plain inlining re-expands the whole chain
# per reference, 2^iterations scans (the x33 BPE-loop trap; measured
# 33s → sub-second here)
_G5_STEP = """
ar{i} AS MATERIALIZED (
  SELECT e.dst AS h, sum(hb.v)::BIGINT AS v
  FROM edges e JOIN h{p} hb ON hb.h = e.src GROUP BY e.dst
),
a{i} AS MATERIALIZED (
  SELECT n.h,
         ((coalesce(s.v, 0) * 1000000)
          // (SELECT greatest(max(v), 1) FROM ar{i}))::BIGINT AS v
  FROM nodes n LEFT JOIN ar{i} s ON s.h = n.h
),
hr{i} AS MATERIALIZED (
  SELECT e.src AS h, sum(a.v)::BIGINT AS v
  FROM edges e JOIN a{i} a ON a.h = e.dst GROUP BY e.src
),
h{i} AS MATERIALIZED (
  SELECT n.h,
         ((coalesce(s.v, 0) * 1000000)
          // (SELECT greatest(max(v), 1) FROM hr{i}))::BIGINT AS v
  FROM nodes n LEFT JOIN hr{i} s ON s.h = n.h
)
"""

G5_SQL = (
    "WITH "
    + _G1_EDGE_SQL.strip()
    + ",\nh0 AS (SELECT h, 1000000::BIGINT AS v FROM nodes),"
    + ",".join(_G5_STEP.strip().format(i=i, p=i - 1) for i in (1, 2, 3))
    + "\nSELECT a3.h AS host, a3.v AS auth, h3.v AS hub"
    + " FROM a3 JOIN h3 ON a3.h = h3.h ORDER BY host"
)


def g7_opic_cash(spark, sf):
    """Integer OPIC (operators/graph.opic_cash) under the hard gate —
    the ONLINE importance scheduler (Abiteboul WWW 2003; Nutch's
    default): 3 greedy rounds of fetching the k=20 richest hosts on
    the g1 link graph, cash moving to history and splitting ``div
    outdeg`` across out-links. Unlike g1/g5 (offline scores over the
    complete graph) the fetch ORDER feeds back into the scores, so the
    twin must replay the greedy rank-cut of every round: a drift in
    the tie-break (cash desc, host asc), the fetched-dangling cash
    drop, or the zero-then-receive same-round transfer breaks the
    value hash on all 200 (cash, history) pairs."""
    from .operators import graph

    return (
        graph.opic_cash(_g1_edges(spark, sf), rounds=3, k=20)
        .select(F.col("node").alias("host"), "cash", "history")
        .orderBy("host")
    )


_G7_STEP = """
f{i} AS MATERIALIZED (
  SELECT node, cash, history,
         (row_number() OVER (ORDER BY cash DESC, node)) <= 20 AS fetch
  FROM s{p}
),
c{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(f.cash // d.outdeg)::BIGINT AS contrib
  FROM edges e
  JOIN deg d ON d.src = e.src
  JOIN f{i} f ON f.node = e.src AND f.fetch
  GROUP BY e.dst
),
s{i} AS MATERIALIZED (
  SELECT f.node,
         (CASE WHEN f.fetch THEN 0 ELSE f.cash END
          + coalesce(c.contrib, 0))::BIGINT AS cash,
         (f.history
          + CASE WHEN f.fetch THEN f.cash ELSE 0 END)::BIGINT AS history
  FROM f{i} f LEFT JOIN c{i} c USING (node)
)
"""

G7_SQL = (
    "WITH "
    + _G1_EDGE_SQL.strip()
    + ",\ns0 AS (SELECT h AS node, 1000000::BIGINT AS cash,"
    + " 0::BIGINT AS history FROM nodes),"
    + ",".join(_G7_STEP.strip().format(i=i, p=i - 1) for i in (1, 2, 3))
    + "\nSELECT node AS host, cash, history FROM s3 ORDER BY host"
)


def g8_trustrank(spark, sf):
    """Integer TrustRank (operators/graph.trustrank_int) over the g1
    link graph with the planted 10-host hub set as the TRUSTED seeds —
    the anti-spam arm of the link-priority family (g1 global PageRank,
    g5 HITS, g7 online OPIC, g8 trust-capped): teleport mass lands on
    vetted hosts only, so a host scores only if a link path from a
    trusted one reaches it, and link farms with no trusted in-path
    converge to 0. Generalizes the reference's fixed five-source
    whitelist (collectors/{isna,irna,...} are a degenerate seed set)
    to an open frontier. 3 iterations of the exact-integer g1
    pipeline (scaled trust, div floor division, seed-only base term),
    so the unrolled-CTE DuckDB twin replays every iteration
    bit-for-bit — a drift in the seed indicator join, the teleport
    gating, or the damping split breaks the value hash on all 200
    hosts."""
    from .operators import graph

    seeds = spark.range(10).select(F.col("id").alias("node"))
    return (
        graph.trustrank_int(_g1_edges(spark, sf), seeds, iters=3)
        .select(F.col("node").alias("host"), "trust")
        .orderBy("host")
    )


_G8_STEP = """
c{i} AS (
  SELECT e.dst AS h, sum(r.r // d.outdeg)::BIGINT AS contrib
  FROM edges e JOIN deg d ON e.src = d.src JOIN r{p} r ON r.h = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.h,
         ((CASE WHEN n.h < 10 THEN 150000 ELSE 0 END)
          + (85 * COALESCE(c.contrib, 0)) // 100)::BIGINT AS r
  FROM nodes n LEFT JOIN c{i} c ON c.h = n.h
)
"""

G8_SQL = (
    "WITH " + _G1_EDGE_SQL.strip()
    + ",\nr0 AS (SELECT h, (CASE WHEN h < 10 THEN 1000000 ELSE 0 END)::BIGINT"
    + " AS r FROM nodes),"
    + ",".join(_G8_STEP.strip().format(i=i, p=i - 1) for i in (1, 2, 3))
    + "\nSELECT h AS host, r AS trust FROM r3 ORDER BY host"
)


G9_EDGE_LIMIT = 400
G9_MAX_DEPTH = 4


def g9_crawl_depth(spark, sf):
    """BFS crawl depth (operators/graph.bfs_depth) from the 10 trusted
    hub hosts over a SPARSE slice of the g1 graph (event_id < 400 →
    ≈2 out-edges/host, so depth actually spreads over several levels
    and some hosts stay unreached) — depth-limited crawling, the
    oldest frontier policy there is: every production crawler caps hop
    distance from its seeds, and depth is the classic within-host
    tie-breaker under j15's per-domain budgets. One broadcast join +
    one min-agg per level, integer-exact by construction, so the
    level-by-level unrolled DuckDB twin replays the min-plus
    recurrence bit-for-bit — a drift in the seed depth-0 anchoring,
    the min over multiple in-paths, or the level cap breaks the value
    hash (seeds must stay depth 0 even when re-entered by an edge)."""
    from .operators import graph

    seeds = spark.range(10).select(F.col("id").alias("node"))
    return (
        graph.bfs_depth(
            _g1_edges(spark, sf, limit_events=G9_EDGE_LIMIT),
            seeds,
            max_depth=G9_MAX_DEPTH,
        )
        .select(F.col("node").alias("host"), "depth")
        .orderBy("host")
    )


_G9_STEP = """
d{i} AS (
  SELECT h, min(depth)::BIGINT AS depth FROM (
    SELECT h, depth FROM d{p}
    UNION ALL
    SELECT e.dst AS h, d.depth + 1 AS depth
    FROM edges e JOIN d{p} d ON e.src = d.h
  ) GROUP BY h
)
"""

G9_SQL = (
    "WITH "
    + _G1_EDGE_SQL.strip().replace(
        "FROM events", f"FROM events WHERE event_id < {G9_EDGE_LIMIT}"
    )
    + ",\nd0 AS (SELECT id::BIGINT AS h, 0::BIGINT AS depth FROM range(10) t(id)),"
    + ",".join(
        _G9_STEP.strip().format(i=i, p=i - 1) for i in range(1, G9_MAX_DEPTH + 1)
    )
    + f"\nSELECT h AS host, depth FROM d{G9_MAX_DEPTH} ORDER BY host"
)


G2_TOTAL = 1000


def g2_budget_apportion(spark, sf):
    """Rank → budget: largest-remainder (Hamilton) apportionment of a
    global fetch budget across the g1 PageRank hosts
    (frontier.apportion_budget) — Σ budgets == T exactly, leftovers to
    the largest remainders with host tie-break, every step integer.
    The twin recomputes the same unrolled PageRank (the g1 CTE body)
    and replays quota/remainder/leftover assignment; one unit moving
    between hosts breaks the hash."""
    from .operators import frontier as frontier_ops
    from .operators import graph

    ranks = graph.pagerank_int(_g1_edges(spark, sf), iters=3).select(
        F.col("node").alias("host"), "rank"
    )
    return frontier_ops.apportion_budget(ranks, G2_TOTAL).orderBy("host")


G2_SQL = (
    "WITH "
    + _G1_BODY
    + f""",
ranks AS (SELECT h AS host, r AS rank FROM r3),
tot AS (SELECT sum(rank)::BIGINT AS R FROM ranks),
q AS (
  SELECT host,
         ({G2_TOTAL}::BIGINT * rank) // R AS quota,
         ({G2_TOTAL}::BIGINT * rank) % R AS rem
  FROM ranks, tot
),
lo AS (SELECT ({G2_TOTAL} - sum(quota))::BIGINT AS L FROM q),
ord AS (
  SELECT host, quota,
         row_number() OVER (ORDER BY rem DESC, host) AS rn
  FROM q
)
SELECT host,
       (quota + CASE WHEN rn <= L THEN 1 ELSE 0 END)::BIGINT AS budget
FROM ord, lo
ORDER BY host
"""
)


def g3_redirect_resolve(spark, sf):
    """Redirect-chain collapse (operators/graph.resolve_redirects) under
    the hard gate: 301/canonical chains must resolve to their TERMINAL
    url-hash before the seen-set insert — otherwise every alias
    spelling of a moved page re-enters the frontier and is re-fetched
    once per hop (the reference meets the same chains via
    requests/Playwright auto-follow; here resolution is an explicit
    set-at-a-time operator). Input BY CONSTRUCTION from event ids:
    1 250 eight-node chains (event_id div 8 groups; p<7 edges to the
    successor id), every 10th group closed into an 8-cycle — so the
    operator must report exact terminals + hop counts for 1 125 chains
    and flag all 8×125 loop members cyclic with NULLed terminals. The
    Spark side is POINTER JUMPING (3 doubling self-joins for the 7-hop
    cap, not 7 walks); the DuckDB twin is a generic WITH RECURSIVE
    walker over the same edge map, so the value hash pins terminal
    identity, exact hop arithmetic through the path composition, and
    the cycle flag for every src at once."""
    from .operators import graph

    e = load(spark, sf, "events")
    p = F.col("event_id") % 8
    g = F.expr("event_id div 8")
    edges = e.where((p < 7) | (g % 10 == 0)).select(
        F.col("event_id").alias("src"),
        F.when(p < 7, F.col("event_id") + 1).otherwise(g * 8).alias("dst"),
    )
    return graph.resolve_redirects(edges, max_hops=8).orderBy("src")


G3_SQL = """
WITH RECURSIVE edges AS (
  SELECT event_id AS src,
         CASE WHEN event_id % 8 < 7 THEN event_id + 1
              ELSE (event_id // 8) * 8 END AS dst
  FROM events
  WHERE event_id % 8 < 7 OR (event_id // 8) % 10 = 0
),
walk(src, cur, hops) AS (
  SELECT src, dst, 1::BIGINT FROM edges
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.cur
  WHERE w.hops < 16
),
term AS (
  SELECT w.src, w.cur AS terminal, w.hops
  FROM walk w LEFT JOIN edges e ON e.src = w.cur
  WHERE e.src IS NULL
)
SELECT s.src,
       t.terminal,
       t.hops,
       (t.src IS NULL) AS cyclic
FROM (SELECT DISTINCT src FROM edges) s
LEFT JOIN term t USING (src)
ORDER BY src
"""


def g4_anchor_summary(spark, sf):
    """In-link anchor-text profile (operators/graph.anchor_summary)
    under the hard gate: for every target page the top-3 anchor texts
    by in-link count, with total in-links and distinct-anchor counts
    riding along — the classic web-corpus target-description signal
    (anchor text describes the TARGET; quality/search pipelines
    aggregate it per URL before indexing). Input BY CONSTRUCTION from
    event ids with g1's hub skew (every 4th link lands on a 10-host
    hub set, so hot targets see ~20× the in-links of the tail) and a
    16-word md5-derived anchor vocabulary so counts genuinely collide
    and the rank tie-break (count desc, anchor asc) is exercised. The
    Spark plan aggregates on (dst, anchor) FIRST — map-side partial
    aggregation absorbs the hub skew before any shuffle — and only
    then ranks over the ≤16 pre-aggregated rows per target; the twin
    replays the same two-level pipeline, so the value hash pins the
    counts, both window totals, and every tie-break."""
    from .operators import graph

    ev = load(spark, sf, "events")
    h = lambda tag: F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), F.col("event_id").cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    links = ev.select(
        F.when(F.col("event_id") % 4 == 0, h("gd") % 10)
        .otherwise(h("gd") % 200)
        .alias("dst"),
        F.concat(F.lit("a"), (h("ga") % 16).cast("string")).alias("anchor"),
    )
    return graph.anchor_summary(links, k=3).orderBy("dst", "rank")


G4_SQL = """
WITH links AS (
  SELECT
    CASE WHEN event_id % 4 = 0
         THEN ('0x' || substring(md5('gd' || event_id::VARCHAR), 1, 4))::BIGINT % 10
         ELSE ('0x' || substring(md5('gd' || event_id::VARCHAR), 1, 4))::BIGINT % 200
    END AS dst,
    'a' || (('0x' || substring(md5('ga' || event_id::VARCHAR), 1, 4))::BIGINT % 16)::VARCHAR
      AS anchor
  FROM events
),
pa AS (SELECT dst, anchor, count(*)::BIGINT AS cnt FROM links GROUP BY dst, anchor),
r AS (
  SELECT dst, anchor, cnt,
         row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor)::BIGINT AS rank,
         sum(cnt) OVER (PARTITION BY dst)::BIGINT AS n_inlinks,
         count(*) OVER (PARTITION BY dst)::BIGINT AS n_anchors
  FROM pa
)
SELECT dst, anchor, cnt, rank, n_inlinks, n_anchors
FROM r WHERE rank <= 3 ORDER BY dst, rank
"""


def _d7_pages(spark, sf):
    """The d7/g6 shared synthetic mirror corpus (see d7_mirror_hosts)."""
    d = load(spark, sf, "documents")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mh"), F.col("doc_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 40
    )
    ck = F.substring(F.md5("text"), 1, 16)
    pages = (
        d.select(h.alias("host"), ck.alias("content_key"))
        .unionByName(
            d.where(F.col("doc_id") % 4 == 0).select(
                (h + 40).alias("host"), ck.alias("content_key")
            )
        )
        .unionByName(
            d.select(
                h.alias("host"), F.lit("boilerplate-chrome").alias("content_key")
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 8 == 1).select(
                (h + 40).alias("host"),
                F.substring(
                    F.md5(F.concat(F.lit("u"), F.col("doc_id").cast("string"))),
                    1,
                    16,
                ).alias("content_key"),
            )
        )
    )
    return pages


def d7_mirror_hosts(spark, sf):
    """Mirror-site detection (operators/dedup.mirror_hosts) under the
    hard gate: host pairs sharing most of their distinct content are
    mirrors — the crawl collapses their politeness budgets onto one
    (the reference's fixed 5-source list can't meet mirrors; a
    web-scale frontier meets them constantly). Input BY CONSTRUCTION:
    every doc lands on one of 40 md5-derived hosts keyed by
    md5(text); every 4th doc is ALSO re-hosted on a +40 mirror host,
    every 8th-plus-1 doc plants UNIQUE junk on that mirror host (so
    the containment ratio genuinely varies across pairs and the
    is_mirror flag discriminates), and a 'boilerplate-chrome' key sits
    on ALL 40 base hosts — hosted in more places than df_cap=20, it
    must be dropped by the inverted-index cap or 780 spurious pairs
    (and every n) shift the value hash. Exact-integer containment
    (10·shared ≥ 8·min(n_a,n_b)); twin replays the same relational
    pipeline over the identically-constructed pages."""
    from .operators import dedup

    return dedup.mirror_hosts(
        _d7_pages(spark, sf), min_shared=2, df_cap=20
    ).orderBy("host_a", "host_b")


def g6_mirror_clusters(spark, sf):
    """Mirror-host CLUSTERS — the step d7's pairs exist for: connected
    components over the is_mirror pair graph (dedup.duplicate_clusters,
    min-label propagation), giving each mirror family ONE canonical
    host (the component min). That canonical is what the crawl
    actually keys on — politeness budgets, the seen-set's host column,
    and frontier quotas all collapse onto it, so a 3-way mirror costs
    one host's budget instead of three (pairs alone can't say that:
    a↔b and b↔c pairs don't name a survivor). The twin closes the SAME
    d7 pair pipeline with a recursive CTE and takes the same
    component-min, so a wrong pair surviving the containment flag, a
    split component, or a non-min canonical all break the value hash."""
    from .operators import dedup

    pairs = dedup.mirror_hosts(_d7_pages(spark, sf), min_shared=2, df_cap=20)
    mp = pairs.where(F.col("is_mirror")).select(
        F.col("host_a").alias("a_id"), F.col("host_b").alias("b_id")
    )
    return dedup.duplicate_clusters(mp).select(
        F.col("doc_id").alias("host"),
        F.col("cluster_id").alias("canonical_host"),
    ).orderBy("host")


# shared d7/g6 CTE body: synthetic mirror corpus → capped inverted
# index → containment-flagged host pairs
_D7_BODY = """
pages AS (
  SELECT ('0x' || substring(md5('mh' || doc_id::VARCHAR), 1, 4))::BIGINT % 40
           AS host,
         substring(md5(text), 1, 16) AS content_key
  FROM documents
  UNION ALL
  SELECT ('0x' || substring(md5('mh' || doc_id::VARCHAR), 1, 4))::BIGINT % 40
           + 40,
         substring(md5(text), 1, 16)
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT ('0x' || substring(md5('mh' || doc_id::VARCHAR), 1, 4))::BIGINT % 40,
         'boilerplate-chrome'
  FROM documents
  UNION ALL
  SELECT ('0x' || substring(md5('mh' || doc_id::VARCHAR), 1, 4))::BIGINT % 40
           + 40,
         substring(md5('u' || doc_id::VARCHAR), 1, 16)
  FROM documents WHERE doc_id % 8 = 1
),
p AS (SELECT DISTINCT host, content_key FROM pages),
pc AS (
  SELECT host, content_key FROM p
  WHERE content_key IN (
    SELECT content_key FROM p GROUP BY 1 HAVING count(*) <= 20)
),
sizes AS (SELECT host, count(*)::BIGINT AS n FROM pc GROUP BY 1),
pairs AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*)::BIGINT AS shared
  FROM pc a JOIN pc b USING (content_key)
  WHERE a.host < b.host
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
flags AS (
  SELECT host_a, host_b, shared, sa.n AS n_a, sb.n AS n_b,
         (10 * shared >= 8 * least(sa.n, sb.n)) AS is_mirror
  FROM pairs
  JOIN sizes sa ON sa.host = pairs.host_a
  JOIN sizes sb ON sb.host = pairs.host_b
)"""

D7_SQL = (
    "WITH " + _D7_BODY
    + "\nSELECT host_a, host_b, shared, n_a, n_b, is_mirror"
    + " FROM flags ORDER BY host_a, host_b"
)

G6_SQL = (
    "WITH RECURSIVE " + _D7_BODY
    + """,
medges AS (
  SELECT host_a AS u, host_b AS v FROM flags WHERE is_mirror
  UNION
  SELECT host_b, host_a FROM flags WHERE is_mirror
),
mreach(n, m) AS (
  SELECT u, u FROM medges
  UNION
  SELECT r.n, e.v FROM mreach r JOIN medges e ON e.u = r.m
)
SELECT n AS host, min(m) AS canonical_host FROM mreach GROUP BY n ORDER BY host
"""
)


def c1_crawl_delay(spark, sf):
    """Robots Crawl-delay → politeness rates (frontier.
    crawl_delay_tokens) under the hard gate — the seam between the
    robots surface (p9) and the token buckets (j11): parse raw
    robots.txt bodies and size each host's per-round token refill from
    the effective crawl-delay (agent section beats *, else default;
    tokens = min(cap, round div delay)). The reference sleeps a
    hard-coded interval between fetches
    (collectors' fixed time.sleep loops); at web scale the politeness
    rate is host-specific and comes from this directive. Input BY
    CONSTRUCTION: 30 hosts whose bodies vary over every parse path —
    mixed-case directives (case-insensitivity pinned), a *-section
    delay omitted on every 4th host (default fallback), a NewsBot
    section on every 3rd (precedence), junk Disallow lines throughout
    — so the value hash pins sectionization (running user-agent
    count), case folding, the precedence max_by, the integer div and
    the cap at once; the twin replays the same relational parse."""
    from .operators import frontier as frontier_ops

    e = load(spark, sf, "events").where(F.col("event_id") < 30)
    eid = F.col("event_id")
    star = F.when(
        eid % 4 != 1,
        F.concat(F.lit("Crawl-Delay: "), (eid % 7 + 1).cast("string")),
    ).otherwise(F.lit("# crawl-delay omitted"))
    bot = F.when(
        eid % 3 == 0,
        F.concat(
            F.lit("\nUser-Agent: NewsBot\nCrawl-delay: "),
            (eid % 5 + 1).cast("string"),
        ),
    ).otherwise(F.lit(""))
    robots = e.select(
        F.concat(F.lit("h"), eid.cast("string")).alias("host"),
        F.concat(F.lit("User-agent: *\nDisallow: /private\n"), star, bot).alias(
            "robots_txt"
        ),
    )
    return frontier_ops.crawl_delay_tokens(
        robots, agent="newsbot", default_delay=2, round_seconds=30, cap=10
    ).orderBy("host")


C1_SQL = """
WITH r AS (
  SELECT 'h' || event_id::VARCHAR AS host,
         'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
         CASE WHEN event_id % 4 <> 1
              THEN 'Crawl-Delay: ' || (event_id % 7 + 1)::VARCHAR
              ELSE '# crawl-delay omitted' END ||
         CASE WHEN event_id % 3 = 0
              THEN chr(10) || 'User-Agent: NewsBot' || chr(10) ||
                   'Crawl-delay: ' || (event_id % 5 + 1)::VARCHAR
              ELSE '' END AS robots_txt
  FROM events WHERE event_id < 30
),
lines AS (
  SELECT host, t.i AS pos, lower(trim(parts[t.i])) AS line
  FROM (SELECT host, string_split(robots_txt, chr(10)) AS parts FROM r),
       unnest(range(1, len(parts) + 1)) AS t(i)
),
l AS (
  SELECT host, pos, line,
         sum(CASE WHEN line LIKE 'user-agent:%' THEN 1 ELSE 0 END)
           OVER (PARTITION BY host ORDER BY pos) AS sec
  FROM lines
),
uas AS (SELECT host, sec, trim(split_part(line, ':', 2)) AS ua
        FROM l WHERE line LIKE 'user-agent:%'),
delays AS (SELECT host, sec,
                  TRY_CAST(trim(split_part(line, ':', 2)) AS BIGINT) AS delay
           FROM l WHERE line LIKE 'crawl-delay:%'),
cand AS (
  SELECT d.host, d.delay,
         CASE WHEN u.ua = 'newsbot' THEN 2 ELSE 1 END AS prec
  FROM delays d JOIN uas u USING (host, sec)
  WHERE u.ua IN ('newsbot', '*') AND d.delay IS NOT NULL
),
eff AS (SELECT host, arg_max(delay, prec * 1000000 - delay) AS delay
        FROM cand GROUP BY host)
SELECT r.host,
       coalesce(e.delay, 2)::BIGINT AS delay,
       least(10, 30 // coalesce(e.delay, 2))::BIGINT AS tokens
FROM r LEFT JOIN eff e USING (host)
ORDER BY host
"""


def c3_robots_sitemaps(spark, sf):
    """Robots ``Sitemap:`` directive extraction (frontier.
    robots_sitemaps) under the hard gate — the discovery seam: the
    reference hard-codes each source's sitemap URL
    (collectors/tasnim, collectors/donya sitemap scans); the sitemaps
    protocol says hosts ADVERTISE them in robots.txt, and this closes
    robots → sitemap → s2 article discovery for an open frontier.
    Input BY CONSTRUCTION: 42 hosts whose bodies weave every parse
    path — mixed-case ``SiteMap :`` with whitespace before the colon
    and a tab after it plus a trailing CR (space-only trim() drops BOTH — the CRLF-body trap, pinned), uppercase
    URL host with mixed-case path (host folds, PATH BYTES preserved),
    a no-space ``sitemap:`` cross-host CDN line (cross_host=1), a
    ``sitemap-index:`` near-miss that must NOT match, a relative
    value and an ftp:// value that must drop, and an exact duplicate
    line that distinct must collapse — so the value hash pins the
    directive regex, first-colon value split, case policy, scheme
    gate, host extraction and the dedup at once."""
    from .operators import frontier as frontier_ops

    e = load(spark, sf, "events").where(F.col("event_id") < 42)
    eid = F.col("event_id")
    es = eid.cast("string")
    l2 = F.when(
        eid % 2 == 0,
        F.concat(
            F.lit("Sitemap: https://h"),
            es,
            F.lit(".example/sitemap-"),
            (eid % 5).cast("string"),
            F.lit(".xml"),
        ),
    ).otherwise(
        F.concat(
            F.lit("SiteMap :\thttps://H"),
            es,
            F.lit(".EXAMPLE/News-"),
            es,
            F.lit(".XML\r"),
        )
    )
    body = F.concat_ws(
        "\n",
        F.lit("User-agent: *"),
        l2,
        F.when(
            eid % 3 == 0,
            F.concat(F.lit("sitemap:https://cdn.example/h"), es, F.lit("/s.xml")),
        ).otherwise(F.lit("")),
        F.when(
            eid % 4 == 0,
            F.concat(
                F.lit("sitemap-index: https://h"), es, F.lit(".example/ignored.xml")
            ),
        ).otherwise(F.lit("")),
        F.when(eid % 5 == 0, F.lit("Sitemap: /relative/sitemap.xml")).otherwise(
            F.lit("")
        ),
        F.when(
            eid % 6 == 0,
            F.concat(F.lit("Sitemap: ftp://h"), es, F.lit(".example/s.xml")),
        ).otherwise(F.lit("")),
        F.when(eid % 7 == 0, l2).otherwise(F.lit("")),
        F.lit("Disallow: /private"),
    )
    robots = e.select(
        F.concat(F.lit("h"), es, F.lit(".example")).alias("host"),
        body.alias("robots_txt"),
    )
    return frontier_ops.robots_sitemaps(robots).orderBy("host", "sitemap_url")


_C3_L2 = (
    "CASE WHEN event_id % 2 = 0"
    " THEN 'Sitemap: https://h' || event_id::VARCHAR || '.example/sitemap-'"
    " || (event_id % 5)::VARCHAR || '.xml'"
    " ELSE 'SiteMap :' || chr(9) || 'https://H' || event_id::VARCHAR"
    " || '.EXAMPLE/News-' || event_id::VARCHAR || '.XML' || chr(13) END"
)

C3_SQL = f"""
WITH r AS (
  SELECT 'h' || event_id::VARCHAR || '.example' AS host,
         'User-agent: *' || chr(10) ||
         {_C3_L2} || chr(10) ||
         CASE WHEN event_id % 3 = 0
              THEN 'sitemap:https://cdn.example/h' || event_id::VARCHAR || '/s.xml'
              ELSE '' END || chr(10) ||
         CASE WHEN event_id % 4 = 0
              THEN 'sitemap-index: https://h' || event_id::VARCHAR || '.example/ignored.xml'
              ELSE '' END || chr(10) ||
         CASE WHEN event_id % 5 = 0
              THEN 'Sitemap: /relative/sitemap.xml' ELSE '' END || chr(10) ||
         CASE WHEN event_id % 6 = 0
              THEN 'Sitemap: ftp://h' || event_id::VARCHAR || '.example/s.xml'
              ELSE '' END || chr(10) ||
         CASE WHEN event_id % 7 = 0 THEN {_C3_L2} ELSE '' END || chr(10) ||
         'Disallow: /private' AS robots_txt
  FROM events WHERE event_id < 42
),
lines AS (
  SELECT host, trim(parts[t.i], ' ' || chr(9) || chr(13)) AS line
  FROM (SELECT host, string_split(robots_txt, chr(10)) AS parts FROM r),
       unnest(range(1, len(parts) + 1)) AS t(i)
),
cand AS (
  SELECT host, trim(substr(line, strpos(line, ':') + 1), ' ' || chr(9) || chr(13)) AS sitemap_url
  FROM lines WHERE regexp_matches(lower(line), '^sitemap[ \\t]*:')
),
ok AS (
  SELECT host, sitemap_url,
         lower(regexp_extract(sitemap_url, '^[a-zA-Z]+://([^/]+)', 1))
           AS sitemap_host
  FROM cand
  WHERE lower(sitemap_url) LIKE 'http://%'
     OR lower(sitemap_url) LIKE 'https://%'
)
SELECT DISTINCT host, sitemap_url, sitemap_host,
       (CASE WHEN sitemap_host <> host THEN 1 ELSE 0 END)::BIGINT AS cross_host
FROM ok ORDER BY host, sitemap_url
"""


def c2_rendezvous_shards(spark, sf):
    """Rendezvous (highest-random-weight) host→fetcher-shard assignment
    (frontier.rendezvous_assign) under the hard gate. Politeness makes
    host affinity mandatory — one token bucket per host must live in
    one place — and hash-mod assignment reshuffles nearly every host's
    affinity on a fleet resize; rendezvous moves only the keys the new
    shard wins (the property that makes the north rule's N→4N resize a
    warm-cache event, pinned separately in test_crawl_engine). The
    assignment itself is a PURE PROJECTION (sequence → transform →
    array_max, no shuffle/join/state — plan-asserted). 200 md5-named
    hosts over 8 shards; the twin recomputes every per-shard 60-bit
    weight and takes the same lexicographic argmax via a HUGEINT
    composite key, so the value hash pins the weight derivation and
    the tie order for all 1600 (host, shard) weights at once."""
    from .operators import frontier as frontier_ops

    e = load(spark, sf, "events").where(F.col("event_id") < 200)
    hosts = e.select(
        F.concat(F.lit("h"), F.col("event_id").cast("string")).alias("host")
    )
    return frontier_ops.rendezvous_assign(hosts, n_shards=8).orderBy("host")


C2_SQL = """
WITH hosts AS (
  SELECT 'h' || event_id::VARCHAR AS host FROM events WHERE event_id < 200
),
w AS (
  SELECT host, s.s AS shard,
         ('0x' || substring(md5(host || '#' || s.s::VARCHAR || 'rv'), 1, 15))
           ::BIGINT AS wt
  FROM hosts, (SELECT unnest(range(0, 8)) AS s) s
)
SELECT host,
       arg_max(shard, wt::HUGEINT * 8 + shard)::INT AS shard
FROM w GROUP BY host ORDER BY host
"""


def t9_change_rate_recrawl(spark, sf):
    """Per-page adaptive recrawl (sources.change_rate_schedule) under
    the hard gate — the Cho & Garcia-Molina Poisson change-rate
    estimator, page-granular where t8 is source-granular: λ̂·I =
    −ln((n−X+½)/(n+½)) from n polls with X observed changes, next
    visit clamped to [I, 30I]. Exact integers throughout: doubling
    clears the ½-corrections so lam_micro = L(2n+1) − L(2(n−X)+1)
    with L(x)=round(ln(x)·10⁶) (the x25 micro-nat discipline), and
    the interval is one integer division with the X=0 never-changed
    case taking the max branch explicitly (ANSI-safe). Input BY
    CONSTRUCTION: 100 pages whose per-poll change flag fires when an
    md5 draw mod 100 falls below the page id — page 0 never changes
    (pins the zero branch + max clamp), high pages change almost
    every poll (pins the min clamp), the middle sweeps the whole
    estimator curve; twin replays counts, both micro-nat roundings,
    the division and both clamps."""
    from . import sources as src

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    draw = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cg"), eid.cast("string"))), 1, 4),
            16,
            10,
        ).cast("long")
        % 100
    )
    polls = e.select(
        (eid % 100).alias("page_id"), (draw < eid % 100).alias("changed")
    )
    return src.change_rate_schedule(polls, interval_s=3600, max_factor=30).orderBy(
        "page_id"
    )


T9_SQL = """
WITH polls AS (
  SELECT event_id % 100 AS page_id,
         (('0x' || substring(md5('cg' || event_id::VARCHAR), 1, 4))::BIGINT
            % 100) < (event_id % 100) AS changed
  FROM events
),
agg AS (
  SELECT page_id, count(*)::BIGINT AS n_polls,
         sum(CASE WHEN changed THEN 1 ELSE 0 END)::BIGINT AS n_changed
  FROM polls GROUP BY 1
),
lam AS (
  SELECT page_id, n_polls, n_changed,
         (round(ln(2 * n_polls + 1) * 1000000)
          - round(ln(2 * (n_polls - n_changed) + 1) * 1000000))::BIGINT
           AS lam_micro
  FROM agg
)
SELECT page_id, n_polls, n_changed, lam_micro,
       (CASE WHEN lam_micro > 0
             THEN least(108000, greatest(3600, 3600000000 // lam_micro))
             ELSE 108000 END)::BIGINT AS next_interval_s
FROM lam ORDER BY page_id
"""


def p12_canonical_collapse(spark, sf):
    """F6-F7 under the hard gate: the PRODUCTION URL canonicalizer (the
    Arrow-batched pandas UDF, functions/urls.py — RFC-3986 normalize the
    reference relies on for its seen-set keys,
    utils/url_utils canonicalization in the reference collectors) run
    over woven variant URLs whose canonical form both engines know BY
    CONSTRUCTION (the x11 PII-weave trick): per event, one of four
    variants — tracking-params suffix, scheme-less, protocol-relative,
    uppercase-host + default-:443 + doubled path slash — all of which
    must collapse to https://h{id%50}.example/p/{id//7}. The twin builds
    that canonical directly from the id arithmetic, so the value hash
    pins scheme-defaulting, tracking-strip, host-lowercasing,
    default-port drop and slash collapse across every event id at once
    (golden tests pin the same rules case-by-case)."""
    from .functions.urls import canonicalize_url

    e = load(spark, sf, "events")
    # group key = event_id div 4: four consecutive ids hit the four
    # variant kinds exactly once each, so every canonical group must
    # collapse 4 distinct raw spellings → n_variants == 4 everywhere
    k = F.expr("(event_id div 4) % 50")
    m = F.expr("event_id div 4")
    base = F.concat(F.lit("h"), k, F.lit(".example/p/"), m)
    raw = (
        F.when(
            F.col("event_id") % 4 == 0,
            F.concat(F.lit("https://"), base, F.lit("?utm_source=a&utm_medium=b")),
        )
        .when(F.col("event_id") % 4 == 1, base)
        .when(F.col("event_id") % 4 == 2, F.concat(F.lit("//"), base))
        .otherwise(
            F.concat(
                F.lit("https://H"), k, F.lit(".EXAMPLE:443/p//"), m
            )
        )
    )
    return (
        e.select(F.col("event_id"), canonicalize_url(raw).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("event_id").alias("first_event"),
        )
        .orderBy("canonical_url")
    )


P12_SQL = """
SELECT 'https://h' || ((event_id // 4) % 50) || '.example/p/'
         || (event_id // 4) AS canonical_url,
       count(*)::BIGINT AS n_variants,
       min(event_id)::BIGINT AS first_event
FROM events
GROUP BY 1
ORDER BY 1
"""


def x25_unigram_entropy(spark, sf):
    """Per-doc token unigram entropy (text.unigram_entropy) under the
    hard gate: the integer numerator n·L(n) − Σ c·L(c) with L =
    round(ln·10⁶) — no engine-side division, so single-token-type docs
    pin exactly 0 and every other doc's value hash is micro-nat
    exact."""
    return text.unigram_entropy(load(spark, sf, "documents")).orderBy("doc_id")


X25_SQL = """
WITH tok AS (
  SELECT doc_id, t.t FROM documents,
         unnest(string_split(text, ' ')) AS t(t)
),
c AS (SELECT doc_id, t, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
s AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         sum(c * round(ln(c::DOUBLE) * 1000000)::BIGINT)::BIGINT AS s
  FROM c GROUP BY 1
)
SELECT doc_id, n_tokens,
       (n_tokens * round(ln(n_tokens::DOUBLE) * 1000000)::BIGINT - s)::BIGINT
         AS h_num
FROM s
ORDER BY doc_id
"""


def x28_bigram_logprob(spark, sf):
    """Per-doc log-prob under a corpus-self-trained Laplace bigram LM
    (text.bigram_logprob) — the CCNet/KenLM quality signal, under the
    hard gate as exact integers: lp_num = Σ L(c_uv+1) − L(c_u+V) in
    micro-nats (x25's L = round(ln·10⁶) discipline), n_bigrams
    alongside, so the twin replays model training AND scoring
    bit-for-bit with no float division anywhere."""
    return text.bigram_logprob(load(spark, sf, "documents")).orderBy("doc_id")


X28_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
bi AS (
  SELECT doc_id, tk[i] AS u, tk[i + 1] AS v
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
  WHERE len(tk) >= 2
),
vocab AS (
  SELECT count(DISTINCT t.t)::BIGINT AS vsz
  FROM toks, unnest(tk) AS t(t)
),
cuv AS (SELECT u, v, count(*)::BIGINT AS cuv FROM bi GROUP BY 1, 2),
cu AS (SELECT u, sum(cuv)::BIGINT AS cu FROM cuv GROUP BY 1),
model AS (
  SELECT u, v,
         round(ln((cuv + 1)::DOUBLE) * 1000000)::BIGINT
           - round(ln((cu + vsz)::DOUBLE) * 1000000)::BIGINT AS l
  FROM cuv JOIN cu USING (u) CROSS JOIN vocab
),
sc AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_bigrams, sum(m.l)::BIGINT AS lp_num
  FROM bi b JOIN model m ON b.u = m.u AND b.v = m.v
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(sc.lp_num, 0)::BIGINT AS lp_num
FROM documents d LEFT JOIN sc USING (doc_id)
ORDER BY doc_id
"""


def x32_bpe_pair_counts(spark, sf):
    """The pair-count step of BPE tokenizer training (Sennrich'16,
    text.bpe_adjacent_pairs) under the hard gate: seed the vocabulary
    with the BPE-ish regex tokens (X3's inference regex), split each
    distinct word into character symbols, and count adjacent symbol
    pairs weighted by corpus word frequency — the statistic every merge
    iteration ranks on. Top-200 pairs, total-ordered by (n DESC, a, b)
    so the LIMIT set is deterministic.

    Scale shape: the ONLY corpus-scale stage is the word-frequency
    groupBy (one shuffle on the token string, map-side combined); the
    pair explode and the final aggregate run on the vocab-sized
    word-frequency table, so a 100 TB corpus pays one aggregation pass
    and the rest is kilobytes."""
    seg = text.bpe_init_segmentation(load(spark, sf, "documents"))
    return (
        text.bpe_adjacent_pairs(seg)
        .select(F.concat_ws(" ", "a", "b").alias("pair"), "n")
        .orderBy(F.desc("n"), "pair")
        .limit(200)
    )


X32_SQL = f"""
WITH words AS (
  SELECT w, count(*)::BIGINT AS wc
  FROM (SELECT unnest(regexp_extract_all(text, '{text.BPE_TOKEN_RE}')) AS w
        FROM documents)
  GROUP BY 1
),
pairs AS (
  SELECT chars[t.i] || ' ' || chars[t.i + 1] AS pair, wc
  FROM (SELECT wc, regexp_extract_all(w, '.') AS chars FROM words
        WHERE len(w) >= 2),
       unnest(range(1, len(chars))) AS t(i)
)
SELECT pair, sum(wc)::BIGINT AS n
FROM pairs GROUP BY 1
ORDER BY n DESC, pair LIMIT 200
"""


# Number of unrolled BPE merge iterations in the x33 gate (shared between
# the Spark loop and the generated DuckDB twin).
BPE_MERGES = 6


def x33_bpe_merges(spark, sf):
    """The full BPE merge LOOP under the hard gate: 6 training
    iterations (text.bpe_train) over the corpus word-frequency table,
    returning every word's final segmentation — so the value hash pins
    each iteration's argmax pair (count DESC, lexicographic tie-break)
    AND the greedy left-to-right merge semantics inside every word
    (overlapping candidates in equal-symbol runs resolve first-wins:
    'aaaa' → 'aa aa', never 'a aa a').

    The DuckDB twin unrolls the same 6 iterations (the f1/v10
    discipline) with the merge expressed relationally: candidate
    positions → consecutive-run islands (pos − row_number) → odd ranks
    within each island are the greedily selected merges — provably the
    fold's choice, because overlap is only possible between consecutive
    candidates, i.e. inside equal-symbol runs.

    Scale shape: iteration cost is O(vocabulary), not O(corpus) — the
    corpus is touched once to build word frequencies (x32's stage); the
    loop then shuffles only the (word, count, symbols) table, exactly
    how subword-nmt/HF trainers scale."""
    seg = text.bpe_train(
        text.bpe_init_segmentation(load(spark, sf, "documents")), BPE_MERGES
    )
    return seg.select(
        "w", "wc", F.array_join("syms", " ").alias("seg")
    ).orderBy("w")


def _bpe_iter_sql(i: int) -> str:
    """One unrolled BPE merge iteration: pair counts pc{i} from seg{i-1},
    argmax best{i}, candidate starts → island parity selection sel{i},
    then the rebuilt segmentation seg{i} (selected start emits the merged
    symbol, the following position is dropped, positions renumber)."""
    p = i - 1
    # MATERIALIZED everywhere: seg{p} is referenced three times per
    # iteration and best{i}/sel{i} two-three times — DuckDB inlines
    # plain CTEs, so without materialization the unrolled query grows
    # 3^BPE_MERGES copies of the corpus scan (observed as an
    # fd-exhaustion failure before it even got slow).
    return f"""
pc{i} AS MATERIALIZED (
  SELECT a, b, sum(wc)::BIGINT AS n FROM (
    SELECT w, wc, s AS a, lead(s) OVER (PARTITION BY w ORDER BY pos) AS b
    FROM seg{p})
  WHERE b IS NOT NULL GROUP BY 1, 2
),
best{i} AS MATERIALIZED (SELECT a, b FROM pc{i} ORDER BY n DESC, a, b LIMIT 1),
cand{i} AS MATERIALIZED (
  SELECT w, pos, row_number() OVER (PARTITION BY w ORDER BY pos) AS rn FROM (
    SELECT g.w, g.pos, g.s, lead(g.s) OVER (PARTITION BY g.w ORDER BY g.pos) AS nx
    FROM seg{p} g) x, best{i}
  WHERE x.s = best{i}.a AND x.nx = best{i}.b
),
sel{i} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos, row_number() OVER (PARTITION BY w, pos - rn ORDER BY pos) AS k
    FROM cand{i}) WHERE k % 2 = 1
),
seg{i} AS MATERIALIZED (
  SELECT g.w, g.wc,
         row_number() OVER (PARTITION BY g.w ORDER BY g.pos) AS pos,
         CASE WHEN m.pos IS NOT NULL THEN (SELECT a || b FROM best{i})
              ELSE g.s END AS s
  FROM seg{p} g
  LEFT JOIN sel{i} m ON g.w = m.w AND g.pos = m.pos
  LEFT JOIN sel{i} k ON g.w = k.w AND g.pos = k.pos + 1
  WHERE k.pos IS NULL
)"""


# The shared training chain: words → seg0 → BPE_MERGES unrolled merge
# iterations. X33 reads the final segmentation off it; X34 composes the
# corpus encode on top.
_BPE_CHAIN_SQL = (
    f"""
WITH words AS (
  SELECT w, count(*)::BIGINT AS wc
  FROM (SELECT unnest(regexp_extract_all(text, '{text.BPE_TOKEN_RE}')) AS w
        FROM documents)
  GROUP BY 1
),
seg0 AS MATERIALIZED (
  SELECT w, wc, t.i AS pos, chars[t.i] AS s
  FROM (SELECT w, wc, regexp_extract_all(w, '.') AS chars FROM words),
       unnest(range(1, len(chars) + 1)) AS t(i)
),"""
    + ",".join(_bpe_iter_sql(i) for i in range(1, BPE_MERGES + 1))
)

X33_SQL = (
    _BPE_CHAIN_SQL
    + f"""
SELECT w, wc, string_agg(s, ' ' ORDER BY pos) AS seg
FROM seg{BPE_MERGES} GROUP BY w, wc ORDER BY w
"""
)


def x34_bpe_encode(spark, sf):
    """The production side of the trainer: ENCODE the corpus with the
    learned vocabulary. You never re-run merges per token occurrence —
    the trained table already holds every distinct word's final
    segmentation, so corpus encoding is tokenize → broadcast-join the
    vocab-sized segmentation map → per-doc order-sensitive reassembly.
    At 100 TB that is one scan over the corpus with a map-side join
    (the vocabulary broadcasts; zipfian token skew is irrelevant to a
    broadcast probe) and one shuffle on doc_id to reassemble.

    Output pins the encoding end-to-end per document: word count, BPE
    token count, and an md5 over the full in-order segmentation string
    — one symbol out of place anywhere in any document breaks the
    value hash. Empty-token docs pass through with md5('').

    posexplode_outer (not posexplode) keeps a null-word row for docs
    whose token array is empty, so the doc_id aggregate covers every
    document and no join-back to `docs` — which would be a second
    corpus-side shuffle — is needed. The vocab probe is then a LEFT
    broadcast join: the null word misses the map and contributes
    count(w)=0, sum(size)=null→0, concat_ws('')→md5('')."""
    docs = load(spark, sf, "documents")
    vocab = text.bpe_train(text.bpe_init_segmentation(docs), BPE_MERGES)
    toks = docs.select(
        "doc_id",
        F.posexplode_outer(
            F.regexp_extract_all("text", F.lit(text.BPE_TOKEN_RE), F.lit(0))
        ).alias("pos", "w"),
    )
    return (
        toks.join(F.broadcast(vocab.select("w", "syms")), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("w").cast("long").alias("n_words"),
            F.coalesce(F.sum(F.size("syms")), F.lit(0))
            .cast("long")
            .alias("n_bpe_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "pos",
                                    F.concat_ws(" ", "syms").alias("s"),
                                )
                            )
                        ),
                        lambda x: x["s"],
                    ),
                )
            ).alias("seg_md5"),
        )
        .orderBy("doc_id")
    )


X34_SQL = (
    _BPE_CHAIN_SQL
    + f""",
segmap AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS n_syms, string_agg(s, ' ' ORDER BY pos) AS sw
  FROM seg{BPE_MERGES} GROUP BY w
),
dtoks AS (
  SELECT doc_id, tk[t.i] AS w, t.i AS pos
  FROM (SELECT doc_id, regexp_extract_all(text, '{text.BPE_TOKEN_RE}') AS tk
        FROM documents),
       unnest(range(1, len(tk) + 1)) AS t(i)
),
enc AS (
  SELECT d.doc_id,
         count(*)::BIGINT AS n_words,
         sum(m.n_syms)::BIGINT AS n_bpe_tokens,
         md5(string_agg(m.sw, ' ' ORDER BY d.pos)) AS seg_md5
  FROM dtoks d JOIN segmap m USING (w)
  GROUP BY 1
)
SELECT doc_id,
       coalesce(e.n_words, 0)::BIGINT AS n_words,
       coalesce(e.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens,
       coalesce(e.seg_md5, md5('')) AS seg_md5
FROM documents LEFT JOIN enc e USING (doc_id)
ORDER BY doc_id
"""
)


def x24_gopher_rules(spark, sf):
    """Gopher rule-based quality gate (text.gopher_flags) under the hard
    gate: per-doc supporting counts and per-rule flags, every rule a
    cross-multiplied integer comparison, so the twin reproduces each
    flag bit-for-bit. One codegen'd scan, no shuffle."""
    return text.gopher_flags(load(spark, sf, "documents")).orderBy("doc_id")


X24_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_tokens,
         list_sum([len(x) for x in toks])::BIGINT AS tok_chars,
         len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))::BIGINT
           AS n_alpha,
         len(list_filter(toks, x -> x IN {text.EN_STOPWORDS}))::BIGINT
           AS n_stops
  FROM t
)
SELECT doc_id, n_tokens, tok_chars, n_alpha, n_stops,
       (n_tokens >= {text.GOPHER_MIN_TOKENS}
        AND n_tokens <= {text.GOPHER_MAX_TOKENS})::INT AS count_ok,
       ({text.GOPHER_MWL_MIN} * n_tokens <= tok_chars
        AND tok_chars <= {text.GOPHER_MWL_MAX} * n_tokens)::INT AS mwl_ok,
       ({text.GOPHER_ALPHA_DEN} * n_alpha
        >= {text.GOPHER_ALPHA_NUM} * n_tokens)::INT AS alpha_ok,
       (n_stops >= {text.GOPHER_MIN_STOPS})::INT AS stop_ok,
       (n_tokens >= {text.GOPHER_MIN_TOKENS}
        AND n_tokens <= {text.GOPHER_MAX_TOKENS}
        AND {text.GOPHER_MWL_MIN} * n_tokens <= tok_chars
        AND tok_chars <= {text.GOPHER_MWL_MAX} * n_tokens
        AND {text.GOPHER_ALPHA_DEN} * n_alpha
            >= {text.GOPHER_ALPHA_NUM} * n_tokens
        AND n_stops >= {text.GOPHER_MIN_STOPS})::INT AS passes
FROM c
ORDER BY doc_id
"""


def x27_semantic_clusters(spark, sf):
    """Semantic near-dup CLUSTERS: connected components over the
    exact-cosine pair graph (duplicate_clusters' min-label propagation,
    the d5 operator re-targeted at embedding space) — the 'keep one of
    these k paraphrases' output a semantic dedup pipeline actually
    consumes, where v3/x21 stop at pairs/witnesses.

    Since round 5 the pair stage is ``cosine_pairs_int`` at τ=0.45
    (τ² = 2025/10000 — the SemDeDup rational, same threshold as v3's
    float tier): the integer-exact criterion unlocks the GEMM blocked
    tier in production (pair stage 19 s → ~2 s at sf0.1; expression ≡
    blocked fixture-pinned in test_pipeline_ops), and the DuckDB twin
    replays the pair set in HUGEINT with zero float drift before
    closing it with the recursive CTE (the D5 twin pattern)."""
    return dedup.duplicate_clusters(
        similarity.cosine_pairs_int(
            load(spark, sf, "embeddings"),
            tau_num=similarity.SEMDEDUP_TAU_NUM,
            tau_den=similarity.SEMDEDUP_TAU_DEN,
            tier="blocked",
        )
    ).orderBy("doc_id")


X27_SQL = f"""
WITH RECURSIVE qn AS (
  SELECT vec_id,
         [floor(x::DOUBLE * {similarity.SIGNLSH_QUANT} + 0.5)::BIGINT
          for x in embedding] AS iv
  FROM embeddings
),
nn AS (
  SELECT vec_id, iv,
         list_sum([ iv[j] * iv[j]
                    for j in generate_series(1, len(iv)) ])::BIGINT AS n2
  FROM qn
),
pr AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.n2 AS na, b.n2 AS nb,
         list_sum([ a.iv[j] * b.iv[j]
                    for j in generate_series(1, len(a.iv)) ])::BIGINT AS dot
  FROM nn a JOIN nn b ON a.vec_id < b.vec_id
),
jpairs AS (
  SELECT a_id, b_id FROM pr
  WHERE dot > 0
    AND dot::HUGEINT * dot * {similarity.SEMDEDUP_TAU_DEN}
        >= {similarity.SEMDEDUP_TAU_NUM}::HUGEINT * na * nb
),
edges AS (SELECT a_id AS u, b_id AS v FROM jpairs
          UNION SELECT b_id, a_id FROM jpairs),
reach(n, m) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
)
SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
ORDER BY doc_id
"""


def x26_semdedup_blocked(spark, sf):
    """x21's PRODUCTION tier under the hard gate (the v8 pattern —
    gate what production runs): the SAME k-means cells pruned through
    the Arrow/GEMM path (similarity.semdedup_prune_blocked). Output is
    bit-identical to the expression tier by construction (float64 GEMM
    exact below 2⁵³ + python-int boundary recheck; fixture-pinned), so
    the oracle IS X21's SQL — one engine-side drift between the tiers
    and exactly one of the two rows breaks."""
    return (
        similarity.semdedup(
            load(spark, sf, "embeddings"),
            seed_ids=tuple(range(KMEANS_K)),
            iters=KMEANS_ITERS,
            tier="blocked",
        )
        .orderBy("vec_id")
    )


X23_TOTAL = 10_000


def x23_temperature_mixture(spark, sf):
    """Temperature-scaled corpus mixing (sampling.temperature_mixture):
    per-language training quotas ∝ n^0.5 (T=0.5 upweights low-resource
    languages — the mT5/XLM-R sampling rule), quantized to integer
    micro-weights and apportioned by the SAME Hamilton largest-remainder
    operator g2 gates for crawl budgets. Σ quotas == 10 000 exactly; the
    twin replays sqrt-quantization, quota, remainder and the leftover
    tie-break."""
    from .operators import sampling

    return sampling.temperature_mixture(
        load(spark, sf, "documents"), total=X23_TOTAL, group_col="lang"
    ).orderBy("source")


X23_SQL = f"""
WITH n AS (
  SELECT lang AS source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1
),
r AS (
  SELECT source, n_docs,
         round(sqrt(n_docs::DOUBLE) * 1000000)::BIGINT AS rank FROM n
),
tot AS (SELECT sum(rank)::BIGINT AS R FROM r),
q AS (
  SELECT source, n_docs,
         ({X23_TOTAL}::BIGINT * rank) // R AS quota,
         ({X23_TOTAL}::BIGINT * rank) % R AS rem
  FROM r, tot
),
lo AS (SELECT ({X23_TOTAL} - sum(quota))::BIGINT AS L FROM q),
ord AS (
  SELECT source, n_docs, quota,
         row_number() OVER (ORDER BY rem DESC, source) AS rn
  FROM q
)
SELECT source, n_docs,
       (quota + CASE WHEN rn <= L THEN 1 ELSE 0 END)::BIGINT AS quota
FROM ord, lo
ORDER BY source
"""


T8_WINDOW_S = 3 * 86400
T8_TARGET = 50
T8_MIN_S = 60
T8_MAX_S = 86400


def t8_recrawl_schedule(spark, sf):
    """Freshness-driven recrawl scheduling (sources.recrawl_schedule):
    per-source next-poll interval sized so a poll catches ~TARGET new
    items, from the trailing-window discovery rate — the rate→cadence
    loop of the reference's fresh-links scheduler
    (news_fresh_links_scheduler.py:29-68). Exact integer ceil-division
    on epoch seconds; the twin replays window cut, counts and clamps."""
    from . import sources as src

    return src.recrawl_schedule(
        load(spark, sf, "events"),
        window_s=T8_WINDOW_S,
        target_batch=T8_TARGET,
        min_s=T8_MIN_S,
        max_s=T8_MAX_S,
    ).orderBy("source")


# floor(epoch(...)) and NOT epoch(...)::BIGINT in the twin: DuckDB's
# double→BIGINT cast ROUNDS the fractional second where Spark's
# timestamp→long cast floors it — boundary events would land on different
# sides of the window cut
T8_SQL = f"""
WITH mx AS (SELECT max(ts) AS mx FROM events),
n AS (
  SELECT event_type AS source, count(*)::BIGINT AS n_recent
  FROM events, mx
  WHERE floor(epoch(ts))::BIGINT > floor(epoch(mx))::BIGINT - {T8_WINDOW_S}
  GROUP BY 1
)
SELECT source, n_recent,
       least({T8_MAX_S},
             greatest({T8_MIN_S},
                      ({T8_WINDOW_S * T8_TARGET}::BIGINT + n_recent - 1)
                        // n_recent))::BIGINT AS next_poll_s
FROM n
ORDER BY source
"""


def x8_token_packing(spark, sf):
    """Token-budget shard packing (operators/sampling.pack_token_shards)
    — the sequence-packing layout a trainer consumes: docs hashed to 8
    shards, per-shard key-ordered running token offsets, 2048-token
    bins. One row per document; the value hash pins every offset and
    bin boundary (an off-by-one in the cumsum or the floor shows up as
    a hash break, not a rate drift)."""
    from .operators import sampling

    return sampling.pack_token_shards(
        load(spark, sf, "documents"), budget=2048, n_shards=8
    ).orderBy("doc_id")


X8_SQL = f"""
WITH b AS (
  SELECT doc_id,
         ((((({_md5h_sql("'shard:' || doc_id")} % 1000000) + 1000000) % 1000000)
           % 8))::INT AS shard,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT
           AS tok_start
  FROM b
)
SELECT doc_id, shard, n_tokens, tok_start, (tok_start // 2048)::BIGINT AS bin_id
FROM c ORDER BY doc_id
"""


def x30_shard_manifest(spark, sf):
    """Training-shard sink round-trip + manifest: the corpus is WRITTEN
    as parquet partitioned by the x8 shard assignment (the layout a
    trainer's data loader consumes), read BACK, and summarized into the
    shard manifest — docs, tokens, bytes, and an order-insensitive
    content checksum (sum of md5-derived per-doc fingerprints) per
    shard. The oracle computes the same manifest straight from the
    table, so a hash match proves the partitioned write→read round
    trip lost, duplicated, and mutated nothing — the sink-side gate
    (K-family) for the corpus handoff. Scratch dir is gate scaffolding;
    at scale the write is the job's terminal stage on object storage."""
    import shutil
    import tempfile

    from .operators.dedup import md5_hash64
    from .operators.sampling import sample_bucket
    from .operators.text import token_count

    work = tempfile.mkdtemp(prefix="x30_shards_")
    try:
        docs = load(spark, sf, "documents").select(
            "doc_id",
            "text",
            (sample_bucket(F.col("doc_id"), "shard") % F.lit(8))
            .cast("int")
            .alias("shard"),
        )
        docs.write.partitionBy("shard").parquet(f"{work}/corpus")
        back = spark.read.parquet(f"{work}/corpus")
        fp = F.pmod(
            md5_hash64(
                F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
            ),
            F.lit(1_000_000_000_000),
        )
        out = (
            back.groupBy(F.col("shard").cast("int").alias("shard"))
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum(token_count("text")).cast("long").alias("n_tokens"),
                F.sum(F.length("text")).cast("long").alias("n_chars"),
                F.sum(fp).cast("long").alias("checksum"),
            )
            .orderBy("shard")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


X30_SQL = f"""
WITH b AS (
  SELECT doc_id, text,
         ((((({_md5h_sql("'shard:' || doc_id")} % 1000000) + 1000000) % 1000000)
           % 8))::INT AS shard,
         (({_md5h_sql("doc_id || ':' || text")} % 1000000000000)
          + 1000000000000) % 1000000000000 AS fp
  FROM documents
)
SELECT shard, count(*)::BIGINT AS n_docs,
       sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
       sum(len(text))::BIGINT AS n_chars,
       sum(fp)::BIGINT AS checksum
FROM b GROUP BY shard ORDER BY shard
"""


def x9_decontamination(spark, sf):
    """Eval-set decontamination (operators/dedup.cross_contamination):
    a 5% md5-assigned eval split, then every TRAIN document sharing ≥1
    distinct 4-gram with any eval document, with the shared-gram count
    — the train/test leakage check run before a benchmark-bearing
    corpus ships. Spark joins chained-xxhash64 gram hashes (the scale
    path: 8 B/gram, eval side broadcast); the oracle joins the gram
    STRINGS — agreement also witnesses the hashed grams' fidelity."""
    from .operators import dedup as dedup_ops
    from .operators.dedup import md5_hash64

    docs = load(spark, sf, "documents")
    is_eval = (
        F.pmod(
            md5_hash64(F.concat(F.lit("eval:"), F.col("doc_id").cast("string"))),
            F.lit(20),
        )
        == 0
    )
    labeled = docs.withColumn("__is_eval", is_eval)
    train = labeled.filter(~F.col("__is_eval")).drop("__is_eval")
    ev = labeled.filter(F.col("__is_eval")).drop("__is_eval")
    return dedup_ops.cross_contamination(train, ev, n=4).orderBy("doc_id")


X9_SQL = f"""
WITH lab AS (
  SELECT doc_id, text,
         (({_md5h_sql("'eval:' || doc_id")} % 20) + 20) % 20 = 0 AS is_eval
  FROM documents
),
toks AS (SELECT doc_id, is_eval, string_split(text, ' ') AS t FROM lab),
grams AS (
  SELECT doc_id, is_eval,
         unnest(list_distinct([list_aggregate(t[i:i+3], 'string_agg', ' ')
                               for i in generate_series(1, len(t) - 3)])) AS g
  FROM toks WHERE len(t) >= 4
),
ev AS (SELECT DISTINCT g FROM grams WHERE is_eval)
SELECT doc_id, count(*)::BIGINT AS n_shared
FROM grams JOIN ev USING (g)
WHERE NOT is_eval
GROUP BY doc_id
ORDER BY doc_id
"""


# ===========================================================================
# M — interleaved text+media spans (the input_hint table shape, under the
# hard oracle gate)
#
# The driver's ``documents`` table is plain text, so these queries derive
# the interleaved-span documents DETERMINISTICALLY from it (both engines
# can): tokens → 8-token paragraphs, an image span after every 3rd
# paragraph, markup dialect = doc_id mod 3 (covering all three selector
# families of operators/extract.py). The Spark side then runs the REAL
# page→spans extractor (the same mapInPandas regex pass the crawl engine
# uses — collectors/isna/page_parser.py:12-182 and peers in the
# reference), while the DuckDB oracle computes the expected span sequence
# INDEPENDENTLY from the token arithmetic, never seeing the markup. A
# hash match is therefore exactly the north-rule invariant: span-sequence
# equality (kind, text, media_ref, order) per document, across all three
# markup dialects.

M1_PARA_TOKENS = 8     # tokens per text span
M1_IMG_EVERY = 3       # an image span after every 3rd paragraph
# dialect index d = doc_id mod 3 picks (source, tag set); sources chosen
# so extract.SOURCE_DIALECT maps them onto the three selector configs
_M1_SOURCES = ["isna", "tasnim", "shargh"]          # classic, divs, spans
_M1_T_PRE = ["<title>", '<h1 class="title">', '<meta name="title" content="']
_M1_T_POST = ["</title>", "</h1>", '">']
_M1_P_PRE = ["<p>", '<div class="item-text">', '<span class="body-text">']
_M1_P_POST = ["</p>", "</div>", "</span>"]
_M1_I_PRE = ['<img src="', '<figure data-src="', '<img data-original="']
_M1_I_POST = ['">', '"></figure>', '">']


def _m1_pages(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) → fetched-page rows (payload = per-dialect
    markup with interleaved paragraph/image tags) in the shape
    ``extract_documents`` consumes. Pure built-in expressions — the
    construction is the deterministic stand-in for the fetch stage."""
    d = F.pmod(F.col("doc_id"), F.lit(3)).cast("int")

    def pick(vals):
        return F.element_at(F.array(*[F.lit(v) for v in vals]), d + 1)

    toks = F.split(F.col("text"), " ")
    n_para = F.ceil(F.size(toks) / F.lit(float(M1_PARA_TOKENS))).cast("int")
    p_pre, p_post = pick(_M1_P_PRE), pick(_M1_P_POST)
    i_pre, i_post = pick(_M1_I_PRE), pick(_M1_I_POST)
    img_ref = lambda k: F.concat(  # noqa: E731
        F.lit("img-"), F.col("doc_id").cast("string"), F.lit("-"),
        k.cast("int").cast("string"),
    )
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_para - 1),
            lambda c: F.concat(
                p_pre,
                F.array_join(F.slice(toks, c * M1_PARA_TOKENS + 1, M1_PARA_TOKENS), " "),
                p_post,
                F.when(
                    (c + 1) % M1_IMG_EVERY == 0,
                    F.concat(i_pre, img_ref((c + 1) / M1_IMG_EVERY), i_post),
                ).otherwise(F.lit("")),
            ),
        ),
        "",
    )
    page = F.concat(
        pick(_M1_T_PRE),
        F.lit("doc "), F.col("doc_id").cast("string"),
        pick(_M1_T_POST),
        body,
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("url_hash"),
        F.concat(
            F.lit("https://synthetic.local/doc/"), F.col("doc_id").cast("string")
        ).alias("canonical_url"),
        pick(_M1_SOURCES).alias("source"),
        F.lit("synthetic.local").alias("host"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("published_ts"),
        F.lit(True).alias("ok"),
        page.alias("payload"),
    )


def _m1_extracted(spark, sf) -> DataFrame:
    from .operators import extract

    pages = dedup.spread_for_cpu(_m1_pages(load(spark, sf, "documents")))
    return extract.extract_documents(pages)


def m1_interleaved_spans(spark, sf):
    """Span-sequence equality under the hard gate: one row per extracted
    span, (doc_id, title, offset, kind, text, media_ref). The Spark rows
    come out of the real regex extractor over the built markup; the
    oracle recomputes the sequence from token arithmetic alone — any
    dialect's parser drifting (order, offsets, a tag family, the title
    selector) breaks the value hash."""
    return (
        _m1_extracted(spark, sf)
        .select("doc_id", "title", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            "title",
            F.col("s.offset").alias("offset"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )


# expected sequence from token arithmetic: paragraph c sits at position
# c + c//3 (c//3 images precede it); image k (1-based) follows paragraph
# 3k-1 at position 4k-1. doc_id in the output is the extractor's hex id
# (printf %016x of the integer id).
M1_SQL = f"""
WITH base AS (
  SELECT doc_id, printf('%016x', doc_id) AS hid,
         string_split(text, ' ') AS toks,
         CAST(ceil(len(string_split(text, ' ')) / {float(M1_PARA_TOKENS)}) AS INT)
           AS np
  FROM documents
),
textspans AS (
  SELECT hid AS doc_id, 'doc ' || doc_id AS title,
         (c + c // {M1_IMG_EVERY})::INT AS "offset",
         'text' AS kind,
         array_to_string(
           toks[c*{M1_PARA_TOKENS}+1 : c*{M1_PARA_TOKENS}+{M1_PARA_TOKENS}], ' '
         ) AS text,
         NULL::VARCHAR AS media_ref
  FROM base, unnest(generate_series(0, np - 1)) AS u(c)
),
imgspans AS (
  SELECT hid AS doc_id, 'doc ' || doc_id AS title,
         ({M1_IMG_EVERY + 1}*k - 1)::INT AS "offset",
         'image' AS kind,
         NULL::VARCHAR AS text,
         'img-' || doc_id || '-' || k AS media_ref
  FROM base, unnest(generate_series(1, np // {M1_IMG_EVERY})) AS g(k)
)
SELECT * FROM textspans UNION ALL SELECT * FROM imgspans
"""


def m2_media_pipeline(spark, sf):
    """Multimodal plumbing under the hard gate: the m1 span docs feed
    ``media_table`` (payload synthesis), ``frame_sample`` (row-explosion
    demux) and ``resize_image`` (fixed-size thumbnails); output is one
    row per media item with the sizes each stage is contracted to
    produce. The oracle recomputes every size from one sha256 per ref
    (payload length = 256 + 4·seed[0] by construction), so a drift in
    payload synthesis, frame slicing/stride, or thumbnail sizing breaks
    the hash. The feature-histogram path stays fixture-tested (DuckDB
    cannot hash blobs, so the keystream is not SQL-expressible)."""
    from .operators import multimodal

    # three downstream branches (sizes, frames, thumbs) read the media
    # rows — materialize once so payload synthesis runs once
    media = multimodal.media_table(_m1_extracted(spark, sf)).localCheckpoint(
        eager=True
    )
    frames = (
        multimodal.frame_sample(media)
        .groupBy("media_ref")
        .agg(F.count("*").cast("int").alias("n_frames"))
    )
    thumbs = multimodal.resize_image(media).select(
        "media_ref", F.length("payload").cast("int").alias("thumb_bytes")
    )
    return (
        media.select("media_ref", "kind", F.col("meta.n_bytes").alias("n_bytes"))
        .join(frames, "media_ref")
        .join(thumbs, "media_ref")
    )


M2_SQL = """
WITH base AS (
  SELECT doc_id,
         CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) AS np
  FROM documents
),
refs AS (
  SELECT DISTINCT 'img-' || doc_id || '-' || k AS media_ref
  FROM base, unnest(generate_series(1, np // 3)) AS g(k)
),
sized AS (
  SELECT media_ref,
         (256 + 4 * ('0x' || substr(sha256(media_ref), 1, 2))::INT)::INT AS n_bytes
  FROM refs
)
SELECT media_ref, 'image' AS kind, n_bytes,
       (((n_bytes // 64) + 3) // 4)::INT AS n_frames,
       256::INT AS thumb_bytes
FROM sized
"""


M3_BUDGET = 2048       # tokens per packed training sequence
M3_IMG_TOKENS = 64     # fixed vision-token cost of a media span
M3_SHARDS = 8


def m3_interleaved_pack(spark, sf):
    """Interleaved sequence packing under the hard gate
    (operators/multimodal.pack_interleaved): the m1 span stream laid
    out as the multimodal trainer's token stream — text spans cost
    their token count, image spans a fixed 64 vision tokens, docs
    hashed to 8 shards, per-shard running offsets, 2048-token bins,
    and a ``crosses`` flag on every span straddling a bin boundary
    (where a media span forces padding). The Spark rows come from the
    REAL extractor over built markup; the oracle recomputes spans,
    costs, shards and offsets from token arithmetic alone — any drift
    in span order, a cost rule, the shard hash, or the cumsum breaks
    the value hash."""
    from .operators import multimodal

    return multimodal.pack_interleaved(
        _m1_extracted(spark, sf),
        budget=M3_BUDGET,
        n_shards=M3_SHARDS,
        image_tokens=M3_IMG_TOKENS,
    ).orderBy("doc_id", "offset")


M3_SQL = f"""
WITH base AS (
  SELECT doc_id, printf('%016x', doc_id) AS hid,
         string_split(text, ' ') AS toks,
         CAST(ceil(len(string_split(text, ' ')) / {float(M1_PARA_TOKENS)}) AS INT)
           AS np
  FROM documents
),
spans AS (
  SELECT hid AS doc_id, (c + c // {M1_IMG_EVERY})::INT AS "offset",
         'text' AS kind,
         len(toks[c*{M1_PARA_TOKENS}+1 : c*{M1_PARA_TOKENS}+{M1_PARA_TOKENS}])::BIGINT
           AS cost
  FROM base, unnest(generate_series(0, np - 1)) AS u(c)
  UNION ALL
  SELECT hid AS doc_id, ({M1_IMG_EVERY + 1}*k - 1)::INT AS "offset",
         'image' AS kind, {M3_IMG_TOKENS}::BIGINT AS cost
  FROM base, unnest(generate_series(1, np // {M1_IMG_EVERY})) AS g(k)
),
sharded AS (
  SELECT *,
         (((({_md5h_sql("'mshard:' || doc_id")} % 1000000) + 1000000) % 1000000)
          % {M3_SHARDS})::INT AS shard
  FROM spans
),
packed AS (
  SELECT *,
         (sum(cost) OVER (PARTITION BY shard ORDER BY doc_id, "offset"
                          ROWS UNBOUNDED PRECEDING) - cost)::BIGINT AS tok_start
  FROM sharded
)
SELECT doc_id, "offset", kind, cost, shard, tok_start,
       (tok_start // {M3_BUDGET})::BIGINT AS bin_id,
       CASE WHEN (tok_start + cost - 1) // {M3_BUDGET} != tok_start // {M3_BUDGET}
            THEN 1 ELSE 0 END::INT AS crosses
FROM packed ORDER BY doc_id, "offset"
"""


def m4_media_integrity(spark, sf):
    """Media-reference integrity audit under the hard gate
    (operators/multimodal.media_integrity): span-level image refs
    reconciled against the media payload table — ``missing`` = a span
    whose bytes were lost, ``orphan`` = stored bytes nothing
    references. Loss is WOVEN deterministically (md5-selected ~9% of
    refs dropped from the stored side, plus synthetic orphan blobs for
    every 97th doc) so both engines expect the exact same audit rows;
    the Spark side runs the real media_table payload synthesis and the
    real full-outer reconcile."""
    from .operators import multimodal
    from .operators.dedup import md5_hash64

    extracted = _m1_extracted(spark, sf)
    media = multimodal.media_table(extracted)
    lost = (
        F.pmod(
            md5_hash64(F.concat(F.lit("lose:"), F.col("media_ref"))), F.lit(11)
        )
        == 0
    )
    stored = media.filter(~lost).select("media_ref")
    orphans = (
        load(spark, sf, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select(
            F.concat(F.lit("img-x-"), F.col("doc_id").cast("string")).alias(
                "media_ref"
            )
        )
    )
    return multimodal.media_integrity(
        extracted, stored.unionByName(orphans)
    ).orderBy("media_ref")


M4_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(ceil(len(string_split(text, ' ')) / {float(M1_PARA_TOKENS)}) AS INT)
           AS np
  FROM documents
),
refs AS (
  SELECT DISTINCT 'img-' || doc_id || '-' || k AS media_ref
  FROM base, unnest(generate_series(1, np // {M1_IMG_EVERY})) AS g(k)
),
stored AS (
  SELECT media_ref FROM refs
  WHERE NOT ((({_md5h_sql("'lose:' || media_ref")} % 11) + 11) % 11 = 0)
  UNION ALL
  SELECT 'img-x-' || doc_id FROM documents WHERE doc_id % 97 = 0
)
SELECT media_ref,
       CASE WHEN s.media_ref IS NULL THEN 'missing' ELSE 'orphan' END AS status
FROM refs r FULL OUTER JOIN stored s USING (media_ref)
WHERE r.media_ref IS NULL OR s.media_ref IS NULL
ORDER BY media_ref
"""


# ===========================================================================
# S — Structured Streaming under the hard gate
#
def m5_image_neardup(spark, sf):
    """Perceptual IMAGE near-dup under the hard gate
    (multimodal.image_ahash64 + image_neardup_pairs): re-encodes /
    recompressions / watermark stamps of the same picture land within a
    few bits of each other's 64-bit average-hash, and the training
    pipeline dedups them through the SAME banded-pigeonhole machinery
    as near-dup text (dedup._banded64, verify-before-distinct). Input
    BY CONSTRUCTION: one 64-cell bi-level thumbnail per document —
    groups of 5 doc_ids share an md5-derived base image, variant v
    flips v%5 md5-chosen cells (flip PARITY, so colliding flip
    positions cancel exactly as a real double-edit would) — and
    because cells are bi-level around the mean, hash hamming ==
    exact cell symmetric-difference: pairwise distances sweep 0..8
    across the radius-3 cut, so the gate pins complete recall at the
    radius, the exact hamming arithmetic, the bit-63 two's-complement
    packing, AND rejection above the radius. The DuckDB twin rebuilds
    cells → mean bits → packed hash (sign bit via -2^63 summand) →
    4×16-bit bands → band join → bit_count(xor) verify, all relational."""
    from .operators import multimodal

    d = load(spark, sf, "documents")

    # thumbnail construction as a vectorized batch kernel (guide §4.2):
    # the expression form ran 64 md5s per DOC plus a per-cell flip filter
    # as interpreted HOFs (~half the query wall at sf0.1); here one md5
    # per (group, cell) — shared by the 5 docs of a group via a
    # per-batch memo — and numpy parity/flip. Arithmetic is identical to
    # the twin: h4 = first 4 md5 hex chars as int, base = (h4%2)*255,
    # cell flips when its md5-chosen position count is odd.
    def _thumbs_kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        def h4(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

        base_memo: dict[int, object] = {}
        for pdf in batches:
            out_id, out_cells = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                g, nf = did // 5, did % 5
                base = base_memo.get(g)
                if base is None:
                    base = np.array(
                        [h4(f"im{g}-{i}") % 2 * 255 for i in range(64)],
                        dtype=np.int64,
                    )
                    base_memo[g] = base
                parity = np.zeros(64, dtype=np.int64)
                for j in range(1, nf + 1):
                    parity[h4(f"fp{did}-{j}") % 64] ^= 1
                out_id.append(did)
                out_cells.append(
                    np.where(parity == 1, 255 - base, base).tolist()
                )
            if out_id:
                yield pd.DataFrame({"doc_id": out_id, "cells": out_cells})

    thumbs = (
        dedup.spread_for_cpu(d.select("doc_id"))
        .mapInPandas(_thumbs_kernel, "doc_id long, cells array<int>")
    )
    return multimodal.image_neardup_pairs(
        thumbs, cells_col="cells", id_col="doc_id", max_hamming=3
    ).orderBy("id_a", "id_b")


M5_SQL = """
WITH docs AS (
  SELECT doc_id, doc_id // 5 AS g, (doc_id % 5)::INT AS f FROM documents
),
fpos AS (
  SELECT doc_id,
         ('0x' || substring(md5('fp' || doc_id::VARCHAR || '-' || j::VARCHAR), 1, 4))::BIGINT % 64 AS p
  FROM docs, unnest(generate_series(1, f)) AS t(j)
),
flips AS (SELECT doc_id, p, count(*)::BIGINT AS cnt FROM fpos GROUP BY 1, 2),
cells AS (
  SELECT d.doc_id, s.i,
         CASE WHEN COALESCE(fl.cnt, 0) % 2 = 1 THEN 255 - b.v ELSE b.v END AS cell
  FROM docs d
  CROSS JOIN unnest(generate_series(0, 63)) AS s(i)
  LEFT JOIN flips fl ON fl.doc_id = d.doc_id AND fl.p = s.i
  JOIN LATERAL (
    SELECT (('0x' || substring(md5('im' || d.g::VARCHAR || '-' || s.i::VARCHAR), 1, 4))::BIGINT % 2) * 255 AS v
  ) b ON TRUE
),
bits AS (
  SELECT doc_id, i,
         CASE WHEN cell * 64 > sum(cell) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS bit
  FROM cells
),
hashes AS (
  SELECT doc_id,
         sum(CASE WHEN bit = 0 THEN 0
                  WHEN i = 63 THEN -9223372036854775808
                  ELSE 1::BIGINT << i::INT END)::BIGINT AS h
  FROM bits GROUP BY doc_id
),
banded AS (
  SELECT doc_id, h, b.band, (h >> (b.band * 16)) & 65535 AS chunk
  FROM hashes, unnest(generate_series(0, 3)) AS b(band)
),
pairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         bit_count(xor(x.h, y.h))::BIGINT AS hamming
  FROM banded x JOIN banded y ON x.band = y.band AND x.chunk = y.chunk
  WHERE x.doc_id < y.doc_id AND bit_count(xor(x.h, y.h)) <= 3
)
SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b
"""


# The stateful streaming cursor (ST3, streaming.cursor_cut_stream —
# applyInPandasWithState, the reference's last-link JSON cache as true
# streaming state) normally gets only fixture checks; here it runs as a
# REAL two-micro-batch availableNow stream whose output is
# SQL-expressible: batch 1 (even event_ids) all passes (empty state),
# batch 2 (odd) passes only rows strictly beyond batch 1's per-source
# (published_ts, url) cursor. Batch boundaries are pinned by writing the
# two batches as separate files with forced mtime order and
# maxFilesPerTrigger=1.

def s1_stream_cursor_cut(spark, sf):
    """ST3 stateful cursor cut, driven end-to-end through Structured
    Streaming (file source → applyInPandasWithState → parquet sink,
    availableNow) and returned as the sink's static rows.

    The two-file staging (toPandas → parquet, mtime-pinned) is gate
    scaffolding to make the micro-batch boundary deterministic at test
    scale; the production source is Kafka (streaming.py module doc), and
    the operator under test is fully distributed either way."""
    import os
    import tempfile
    import time

    from . import streaming as streaming_mod

    work = tempfile.mkdtemp(prefix="s1_stream_")
    seeds_dir = os.path.join(work, "seeds")
    os.makedirs(seeds_dir)
    ev = load(spark, sf, "events").select(
        F.col("event_type").alias("source"),
        F.concat(
            F.lit("https://synthetic.local/e/"), F.col("event_id").cast("string")
        ).alias("url"),
        F.col("ts").alias("published_ts"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("discovery_time"),
        F.pmod("event_id", F.lit(2)).alias("par"),
    )
    now = time.time()
    # ONE driver collect, sliced in pandas (the s5 staging shape)
    pdf = ev.toPandas()
    cols = ["source", "url", "published_ts", "discovery_time"]
    for i in (0, 1):
        path = os.path.join(seeds_dir, f"batch{i}.parquet")
        pdf[pdf["par"] == i][cols].to_parquet(
            path, coerce_timestamps="us", index=False  # Spark reads µs
        )
        os.utime(path, (now - 200 + 100 * i, now - 200 + 100 * i))
    out_dir = os.path.join(work, "out")
    with _stream_conf(spark, _stream_shuffle_partitions(seeds_dir)):
        q = (
            streaming_mod.cursor_cut_stream(
                streaming_mod.read_seed_stream(
                    spark, seeds_dir, max_files_per_trigger=1
                )
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):  # partial sink must never be read
            q.stop()
            raise TimeoutError("s1 availableNow stream did not drain in 600s")
    # materialize the sink, then drop the whole staging tree: this query
    # runs repeatedly from the bench HEADLINE and must not accrete
    # checkpoint/sink state across a session (ADVICE round 4)
    out = (
        spark.read.parquet(out_dir)
        .select("source", "url", "published_ts")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def s5_stream_dedup(spark, sf):
    """ST2 exactly-once under the hard gate: a two-micro-batch
    availableNow run (the s1 scaffold) where batch 1 REDELIVERS every
    event_id%10==0 row of batch 0 — the at-least-once Kafka producer —
    through streaming.dedup_stream (dropDuplicatesWithinWatermark on
    the link key). The sink must contain every event exactly once: a
    dedup failure double-emits the redelivered rows and breaks
    rows_match before the hash is even compared. The oracle is the
    plain DISTINCT over the same construction."""
    import os
    import tempfile
    import time

    from . import streaming as streaming_mod

    work = tempfile.mkdtemp(prefix="s5_dedup_")
    seeds_dir = os.path.join(work, "seeds")
    os.makedirs(seeds_dir)
    ev = load(spark, sf, "events").select(
        F.col("event_type").alias("source"),
        F.concat(
            F.lit("https://synthetic.local/e/"), F.col("event_id").cast("string")
        ).alias("url"),
        F.col("ts").alias("published_ts"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("discovery_time"),
        F.pmod("event_id", F.lit(2)).alias("par"),
        F.pmod("event_id", F.lit(10)).alias("mod10"),
    )
    # ONE driver collect, sliced in pandas: the two-file staging is gate
    # scaffolding, and collecting per branch re-ran the events scan +
    # projection once per file (3 Spark jobs → 1; rows identical)
    pdf = ev.toPandas()
    cols = ["source", "url", "published_ts", "discovery_time"]
    b0 = pdf[pdf["par"] == 0][cols]
    # redeliver a deterministic slice of batch 0 (byte-identical rows)
    b1 = __import__("pandas").concat(
        [pdf[pdf["par"] == 1][cols], pdf[pdf["mod10"] == 0][cols]]
    )
    now = time.time()
    for i, b in ((0, b0), (1, b1)):
        path = os.path.join(seeds_dir, f"batch{i}.parquet")
        b.to_parquet(path, coerce_timestamps="us", index=False)
        os.utime(path, (now - 200 + 100 * i, now - 200 + 100 * i))
    out_dir = os.path.join(work, "out")
    with _stream_conf(spark, _stream_shuffle_partitions(seeds_dir)):
        q = (
            streaming_mod.dedup_stream(
                streaming_mod.read_seed_stream(
                    spark, seeds_dir, max_files_per_trigger=1
                )
            )
            .select("source", "url", "published_ts")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("s5 availableNow stream did not drain in 600s")
    out = (
        spark.read.parquet(out_dir)
        .select("source", "url", "published_ts")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


S5_SQL = """
SELECT event_type AS source,
       'https://synthetic.local/e/' || event_id AS url,
       ts AS published_ts
FROM events
"""


def s6_stream_enrich(spark, sf):
    """Stream-static enrichment under the hard gate: a two-micro-batch
    availableNow run (the s5 scaffold) through streaming.enrich_stream —
    each batch of links LEFT-broadcast-joined to a static per-source
    config table (priority, politeness budget, md5-derived so the twin
    rebuilds it bit-for-bit; a deterministic quarter of the sources is
    deliberately ABSENT from the config to exercise the left-join
    pass-through defaults). Stateless per batch — the third streaming
    operator kind after stateful cursors (s1) and watermarked dedup
    (s5): a dropped unconfigured row or a config drift breaks
    rows_match/hash outright."""
    import os
    import tempfile
    import time

    from . import streaming as streaming_mod

    work = tempfile.mkdtemp(prefix="s6_enrich_")
    seeds_dir = os.path.join(work, "seeds")
    os.makedirs(seeds_dir)
    ev = load(spark, sf, "events").select(
        F.col("event_type").alias("source"),
        F.concat(
            F.lit("https://synthetic.local/e/"), F.col("event_id").cast("string")
        ).alias("url"),
        F.col("ts").alias("published_ts"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("discovery_time"),
        F.pmod("event_id", F.lit(2)).alias("par"),
    )
    now = time.time()
    # ONE driver collect, sliced in pandas (the s5 staging shape)
    pdf = ev.toPandas()
    cols = ["source", "url", "published_ts", "discovery_time"]
    for i in (0, 1):
        path = os.path.join(seeds_dir, f"batch{i}.parquet")
        pdf[pdf["par"] == i][cols].to_parquet(
            path, coerce_timestamps="us", index=False
        )
        os.utime(path, (now - 200 + 100 * i, now - 200 + 100 * i))

    def hx(tag):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(tag), F.col("source"))), 1, 8), 16, 10
        ).cast("long")

    dims = (
        load(spark, sf, "events")
        .select(F.col("event_type").alias("source"))
        .distinct()
        .where(F.pmod(hx("c"), F.lit(4)) != 0)
        .select(
            "source",
            F.pmod(hx("p"), F.lit(10)).cast("int").alias("priority"),
            (F.lit(1) + F.pmod(hx("b"), F.lit(5))).cast("int").alias("budget"),
        )
    )
    out_dir = os.path.join(work, "out")
    with _stream_conf(spark, _stream_shuffle_partitions(seeds_dir)):
        q = (
            streaming_mod.enrich_stream(
                streaming_mod.read_seed_stream(
                    spark, seeds_dir, max_files_per_trigger=1
                ),
                dims,
            )
            .select(
                "source",
                "url",
                F.coalesce("priority", F.lit(-1)).cast("int").alias("priority"),
                F.coalesce("budget", F.lit(1)).cast("int").alias("budget"),
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("s6 availableNow stream did not drain in 600s")
    out = (
        spark.read.parquet(out_dir)
        .select("source", "url", "priority", "budget")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


S6_SQL = """
WITH dims AS (
  SELECT source,
         (('0x' || substring(md5('p' || source), 1, 8))::BIGINT % 10)::INT
           AS priority,
         (1 + ('0x' || substring(md5('b' || source), 1, 8))::BIGINT % 5)::INT
           AS budget
  FROM (SELECT DISTINCT event_type AS source FROM events)
  WHERE ('0x' || substring(md5('c' || source), 1, 8))::BIGINT % 4 <> 0
)
SELECT e.event_type AS source,
       'https://synthetic.local/e/' || e.event_id::VARCHAR AS url,
       coalesce(d.priority, -1)::INT AS priority,
       coalesce(d.budget, 1)::INT AS budget
FROM events e LEFT JOIN dims d ON e.event_type = d.source
"""


def s7_stream_stream_join(spark, sf):
    """The audit join (J6) as a true STREAM-STREAM inner join under the
    hard gate (streaming.fetch_audit_join_stream) — the fourth streaming
    operator kind after stateful cursors (s1), watermarked dedup (s5)
    and stream-static enrichment (s6): both the discovery topic and the
    fetch-outcome topic are unbounded, and the two-file-per-side
    availableNow staging interleaves them so that HALF the matches pair
    a batch-0 row with a batch-1 row from the other stream — a join that
    failed to buffer either side in state drops those matches and breaks
    rows_match outright.

    Outcomes are md5-derived from the link itself (fetch delay in
    [0, 90) minutes, status 80/20), so the DuckDB twin rebuilds both
    streams bit-for-bit; the 1-hour event-time horizon in the join
    condition then filters exactly the outcomes slower than the audit
    window (2/3 survive, deterministically). Watermarks (90 days ≫ the
    30-day event span) are the state-eviction knob: generous here so the
    gate is late-free, production-sized in a real deployment."""
    import os
    import tempfile
    import time

    from . import streaming as streaming_mod

    work = tempfile.mkdtemp(prefix="s7_ssjoin_")
    links_dir = os.path.join(work, "links")
    outs_dir = os.path.join(work, "outcomes")
    os.makedirs(links_dir)
    os.makedirs(outs_dir)

    def hx(tag):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(tag), F.col("url"))), 1, 8), 16, 10
        ).cast("long")

    links = load(spark, sf, "events").select(
        F.col("event_type").alias("source"),
        F.concat(
            F.lit("https://synthetic.local/e/"), F.col("event_id").cast("string")
        ).alias("url"),
        F.col("ts").alias("published_ts"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("discovery_time"),
        F.pmod("event_id", F.lit(2)).alias("par"),
    )
    outcomes = links.select(
        "url",
        F.timestamp_add(
            "SECOND", F.pmod(hx("d"), F.lit(5400)).cast("int"), F.col("published_ts")
        ).alias("fetch_ts"),
        F.when(F.pmod(hx("s"), F.lit(10)) < 8, F.lit("completed"))
        .otherwise(F.lit("failed"))
        .alias("status"),
        # batch split deliberately DIFFERENT from the link split (mod 3 vs
        # mod 2) so outcome arrival order crosses link arrival order
        F.when(F.pmod(hx("d"), F.lit(3)) == 0, F.lit(0)).otherwise(F.lit(1)).alias("par"),
    )
    now = time.time()
    # ONE driver collect per topic, sliced in pandas (4 Spark jobs → 2)
    for d, frame in ((links_dir, links), (outs_dir, outcomes)):
        pdf = frame.toPandas()
        cols = [c for c in pdf.columns if c != "par"]
        for i in (0, 1):
            path = os.path.join(d, f"batch{i}.parquet")
            pdf[pdf["par"] == i][cols].to_parquet(
                path, coerce_timestamps="us", index=False
            )
            os.utime(path, (now - 200 + 100 * i, now - 200 + 100 * i))
    out_dir = os.path.join(work, "out")
    with _stream_conf(spark, _stream_shuffle_partitions(links_dir, outs_dir)):
        q = (
            streaming_mod.fetch_audit_join_stream(
                streaming_mod.read_seed_stream(
                    spark, links_dir, max_files_per_trigger=1
                ),
                streaming_mod.read_outcome_stream(
                    spark, outs_dir, max_files_per_trigger=1
                ),
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("s7 availableNow stream did not drain in 600s")
    out = (
        spark.read.parquet(out_dir)
        .select("source", "url", "published_ts", "fetch_ts", "status")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


S7_SQL = """
WITH l AS (
  SELECT event_type AS source,
         'https://synthetic.local/e/' || event_id::VARCHAR AS url,
         ts AS published_ts
  FROM events
),
o AS (
  SELECT url,
         published_ts
           + (('0x' || substring(md5('d' || url), 1, 8))::BIGINT % 5400)
             * INTERVAL 1 SECOND AS fetch_ts,
         CASE WHEN ('0x' || substring(md5('s' || url), 1, 8))::BIGINT % 10 < 8
              THEN 'completed' ELSE 'failed' END AS status
  FROM l
)
SELECT l.source, l.url, l.published_ts, o.fetch_ts, o.status
FROM l JOIN o ON l.url = o.url
 AND o.fetch_ts >= l.published_ts
 AND o.fetch_ts < l.published_ts + INTERVAL 1 HOUR
"""


S1_SQL = """
WITH seeds AS (
  SELECT event_type AS source,
         'https://synthetic.local/e/' || event_id AS url,
         ts AS published_ts,
         event_id % 2 AS par
  FROM events
),
cur AS (
  SELECT source, published_ts AS c_ts, url AS c_url
  FROM (SELECT *, row_number() OVER (PARTITION BY source
                  ORDER BY published_ts DESC, url DESC) AS rn
        FROM seeds WHERE par = 0)
  WHERE rn = 1
)
SELECT source, url, published_ts FROM seeds WHERE par = 0
UNION ALL
-- LEFT join + NULL-cursor pass-through: a source with no batch-1 rows has
-- empty stream state, so ALL its batch-2 rows pass the operator (ADVICE
-- round 4: an inner join would drop them and only matched by accident of
-- every source having both parities at every SF)
SELECT s.source, s.url, s.published_ts
FROM seeds s LEFT JOIN cur USING (source)
WHERE s.par = 1
  AND (c_ts IS NULL
       OR s.published_ts > c_ts
       OR (s.published_ts = c_ts AND s.url > c_url))
"""


def s4_windowed_rates(spark, sf):
    """ST1/A4's streaming twin under the hard gate: the watermarked
    windowed discovery-rate monitor (streaming.discovery_rates — the
    Prometheus-rate analog of the reference's per-poll link counters,
    news_fresh_links_scheduler.py:29-68) driven through THREE real
    availableNow runs sharing one checkpoint (the fixture-proven
    batch-boundary pattern: one parquet file deposited per run, the
    watermark persists in the checkpoint between runs).

    Event times are derived from event_id so the three batches overlap:
    batch 0 spans minutes 0-30, batch 1 minutes 20-50 (its tail behind
    batch 0's watermark is DROPPED), batch 2 minutes 40-70 plus
    stragglers in minutes 0-10 (all dropped). The DuckDB twin replays
    the same watermark evolution batch-by-batch: wm_k = max(event time
    through batch k) - 2min; a batch-k row survives iff its WINDOW END
    > wm_{k-1} (Spark's late-row filter gates on the window's end, not
    the row's raw event time — established empirically against the
    boundary window; the row-time model diverges at the partial-minute
    boundary); append mode emits exactly the windows whose end ≤ final
    watermark. Seconds are constructed ≡ batch+1 (mod 3) so no event
    time ever ties a watermark and no window end (sec=0) ties either —
    both comparators are boundary-free and the hash is stable."""
    import os
    import tempfile
    import time

    from . import streaming as streaming_mod

    work = tempfile.mkdtemp(prefix="s4_rates_")
    seeds_dir = os.path.join(work, "seeds")
    os.makedirs(seeds_dir)
    eid = F.col("event_id")
    batch = eid % 3
    minute = (
        F.when(batch == 0, eid % 31)
        .when(batch == 1, eid % 31 + 20)
        .otherwise(F.when(eid % 13 == 0, eid % 11).otherwise(eid % 31 + 40))
    )
    sec = 1 + batch + 3 * (eid % 17)
    ev = load(spark, sf, "events").select(
        F.col("event_type").alias("source"),
        F.concat(
            F.lit("https://synthetic.local/e/"), eid.cast("string")
        ).alias("url"),
        F.col("ts").alias("published_ts"),
        F.timestamp_add(
            "SECOND",
            minute * 60 + sec,
            F.lit("2024-06-01 10:00:00").cast("timestamp"),
        ).alias("discovery_time"),
        batch.alias("batch"),
    )
    out_dir, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    now = time.time()
    # ONE driver collect, sliced per run (4 Spark jobs → 1). The state
    # partition count is derived from the staged bytes at the FIRST run
    # (Spark pins it in the checkpoint; the three batches are same-sized
    # slices of one table, so batch 0 is a representative sample).
    pdf = ev.toPandas()
    cols = ["source", "url", "published_ts", "discovery_time"]
    n_parts = None
    for i in (0, 1, 2):
        path = os.path.join(seeds_dir, f"batch{i}.parquet")
        pdf[pdf["batch"] == i][cols].to_parquet(
            path, coerce_timestamps="us", index=False
        )
        os.utime(path, (now - 300 + 100 * i,) * 2)
        if n_parts is None:
            n_parts = _stream_shuffle_partitions(seeds_dir)
        with _stream_conf(spark, n_parts):
            q = streaming_mod.start_rate_monitor(
                streaming_mod.read_seed_stream(spark, seeds_dir),
                out_dir,
                ckpt,
                window_duration="1 minute",
                watermark="2 minutes",
            )
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError("s4 availableNow run did not drain in 600s")
    out = (
        spark.read.parquet(out_dir)
        .select("window_start", "window_end", "source", "n_links")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


S4_SQL = """
WITH seeds AS (
  SELECT event_type AS source, event_id % 3 AS batch,
         TIMESTAMP '2024-06-01 10:00:00' + (
           (CASE WHEN event_id % 3 = 0 THEN event_id % 31
                 WHEN event_id % 3 = 1 THEN event_id % 31 + 20
                 WHEN event_id % 13 = 0 THEN event_id % 11
                 ELSE event_id % 31 + 40 END) * 60
           + 1 + (event_id % 3) + 3 * (event_id % 17)
         ) * INTERVAL 1 SECOND AS dt
  FROM events
),
m AS (SELECT batch, max(dt) AS bmax FROM seeds GROUP BY 1),
-- watermark after batch k = running max event time - the 2-min delay
wm AS (SELECT batch, max(bmax) OVER (ORDER BY batch) - INTERVAL 2 MINUTE AS wm_after
       FROM m),
-- a batch-k row survives iff its WINDOW END outruns wm_{k-1} (Spark's
-- late filter gates on the window end, not the row's event time)
kept AS (
  SELECT s.* FROM seeds s
  LEFT JOIN wm w ON w.batch = s.batch - 1
  WHERE w.wm_after IS NULL
     OR date_trunc('minute', s.dt) + INTERVAL 1 MINUTE > w.wm_after
),
fwm AS (SELECT max(dt) - INTERVAL 2 MINUTE AS v FROM seeds),
agg AS (
  SELECT date_trunc('minute', dt) AS window_start, source, count(*) AS n_links
  FROM kept GROUP BY 1, 2
)
-- append mode: only windows finalized by the FINAL watermark ever emit
SELECT window_start, window_start + INTERVAL 1 MINUTE AS window_end,
       source, n_links
FROM agg, fwm
WHERE window_start + INTERVAL 1 MINUTE <= fwm.v
"""


def p15_registered_domain(spark, sf):
    """P15: registered-domain (eTLD+1) extraction under the hard gate —
    the public-suffix prevailing-rule algorithm (publicsuffix.org: plain
    / ``*.``-wildcard / ``!``-exception rules, exception beats all, then
    most labels) over a host sweep that hits every branch: plain 1- and
    2-label suffixes, longest-beats-short (``co.uk`` over ``uk``), the
    wildcard (``*.ck`` → public suffix ``w.ck``), its exception
    (``!www.ck`` → registered domain ``www.ck`` even for
    ``sub.www.ck``), unknown-TLD default, and bare-public-suffix hosts
    whose registered domain is NULL. ``domain_hosts`` rolls the host
    count up per registered domain — the politeness/budget grouping key
    an open-frontier crawl needs (the reference's fixed seed list never
    does, SURVEY §2.9). Scale shape: suffix candidates are generated
    JVM-side per DISTINCT host, rules broadcast, one max_by aggregate —
    every exchange O(|hosts|) (functions/domains.py). The DuckDB twin
    re-implements the prevailing-rule window independently
    (unnest(range) lateral + row_number), so the value hash pins the two
    formulations of the PSL semantics against each other."""
    from .functions import domains

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    idv = (eid % 97).cast("string")
    k = eid % 10
    host = (
        F.when(k == 0, F.concat(F.lit("news"), idv, F.lit(".example.com")))
        .when(k == 1, F.concat(F.lit("a.b.site"), idv, F.lit(".co.uk")))
        .when(k == 2, F.concat(F.lit("site"), idv, F.lit(".uk")))
        .when(k == 3, F.concat(F.lit("x.y.deep"), idv, F.lit(".ac.ir")))
        .when(k == 4, F.concat(F.lit("foo"), idv, F.lit(".weird")))
        .when(k == 5, F.lit("sub.www.ck"))
        .when(k == 6, F.concat(F.lit("any"), idv, F.lit(".w"), idv, F.lit(".ck")))
        .when(k == 7, F.concat(F.lit("b"), idv, F.lit(".ck")))
        .when(k == 8, F.lit("co.uk"))
        .otherwise(F.concat(F.lit("m"), idv, F.lit(".example.org")))
    )
    hosts = e.select(host.alias("host")).distinct()
    out = domains.registered_domain_map(hosts, domains.suffix_rules_df(spark))
    w = Window.partitionBy("registered_domain")
    return out.select(
        "host",
        "public_suffix",
        "registered_domain",
        F.when(
            F.col("registered_domain").isNotNull(),
            F.count("registered_domain").over(w),
        )
        .cast("bigint")
        .alias("domain_hosts"),
    ).orderBy("host")


P15_SQL = """
WITH hosts AS (
  SELECT DISTINCT CASE event_id % 10
    WHEN 0 THEN 'news' || (event_id % 97)::VARCHAR || '.example.com'
    WHEN 1 THEN 'a.b.site' || (event_id % 97)::VARCHAR || '.co.uk'
    WHEN 2 THEN 'site' || (event_id % 97)::VARCHAR || '.uk'
    WHEN 3 THEN 'x.y.deep' || (event_id % 97)::VARCHAR || '.ac.ir'
    WHEN 4 THEN 'foo' || (event_id % 97)::VARCHAR || '.weird'
    WHEN 5 THEN 'sub.www.ck'
    WHEN 6 THEN 'any' || (event_id % 97)::VARCHAR || '.w'
                || (event_id % 97)::VARCHAR || '.ck'
    WHEN 7 THEN 'b' || (event_id % 97)::VARCHAR || '.ck'
    WHEN 8 THEN 'co.uk'
    ELSE 'm' || (event_id % 97)::VARCHAR || '.example.org'
  END AS host FROM events
),
lab AS (SELECT host, string_split(host, '.') AS L,
               len(string_split(host, '.'))::BIGINT AS n FROM hosts),
cand AS (SELECT host, n, L, unnest(range(1, n + 1))::BIGINT AS k FROM lab),
cand2 AS (SELECT host, n, k,
                 array_to_string(L[n - k + 1:n], '.') AS suffix FROM cand),
rules(rule) AS (VALUES ('com'),('org'),('net'),('ir'),('co.ir'),('ac.ir'),
                       ('uk'),('co.uk'),('org.uk'),('ck'),('*.ck'),('!www.ck')),
rn AS (
  SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
              WHEN rule LIKE '*.%' THEN substr(rule, 3)
              ELSE rule END AS suffix,
         CASE WHEN rule LIKE '!%' THEN 'exception'
              WHEN rule LIKE '*.%' THEN 'wildcard'
              ELSE 'normal' END AS kind
  FROM rules
),
rn2 AS (
  SELECT suffix, kind,
         len(string_split(suffix, '.')) + (kind = 'wildcard')::INT AS rule_labels,
         len(string_split(suffix, '.'))
           + CASE kind WHEN 'wildcard' THEN 1
                       WHEN 'exception' THEN -1 ELSE 0 END AS ps_labels
  FROM rn
),
m AS (
  SELECT c.host, r.ps_labels,
         row_number() OVER (
           PARTITION BY c.host
           ORDER BY (r.kind = 'exception') DESC, r.rule_labels DESC,
                    (r.kind = 'normal') DESC
         ) AS rk
  FROM cand2 c JOIN rn2 r ON c.suffix = r.suffix
  WHERE r.kind <> 'wildcard' OR c.n > c.k
),
best AS (SELECT host, ps_labels FROM m WHERE rk = 1),
res AS (
  SELECT l.host, l.L, l.n,
         greatest(coalesce(b.ps_labels, 1), 1)::BIGINT AS ps
  FROM lab l LEFT JOIN best b USING (host)
),
named AS (
  SELECT host,
         array_to_string(L[n - ps + 1:n], '.') AS public_suffix,
         CASE WHEN n > ps
              THEN array_to_string(L[n - ps:n], '.') END AS registered_domain
  FROM res
)
SELECT host, public_suffix, registered_domain,
       CASE WHEN registered_domain IS NOT NULL
            THEN count(*) OVER (PARTITION BY registered_domain) END::BIGINT
         AS domain_hosts
FROM named ORDER BY host
"""


def f3_surt_key(spark, sf):
    """F3 (engine-original scalar): SURT keys — the Heritrix/CommonCrawl
    sort-friendly URL transform (``https://a.blog.example.com/x?q=1`` →
    ``com,example,blog,a)/x?q=1``). Reversed host labels make
    lexicographic order group a registered domain's URLs CONTIGUOUSLY,
    so a frontier or URL index range-partitioned by surt_key gets
    per-domain locality (politeness scans, trap audits, recrawl sweeps
    each touch one partition range — min/max pruning on sorted parquet)
    instead of hashing a domain across the cluster. ``pos`` is the
    1-based rank of each URL within its host's run — the per-domain
    contiguity witness the gate value-hashes. Spark derives the key from
    the assembled URL through the REAL extraction path (the codegen'd
    regex trio in functions/urls.surt_key_col — no parse_url, no UDF);
    the twin assembles it from the parts it synthesized, so a host/path/
    query mis-parse on either side breaks the hash."""
    from .functions import urls as urlfns

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    ids = eid.cast("string")
    k = eid % 6
    host = (
        F.when(k == 0, F.lit("www.example.com"))
        .when(k == 1, F.lit("a.news.example.com"))
        .when(k == 2, F.lit("b.news.example.com"))
        .when(k == 3, F.concat(F.lit("site"), (eid % 7).cast("string"), F.lit(".co.uk")))
        .when(k == 4, F.lit("zzz.org"))
        .otherwise(F.lit("single"))
    )
    path = (
        F.when(eid % 3 == 0, F.concat(F.lit("/news/"), ids))
        .when(eid % 3 == 1, F.lit("/"))
        .otherwise(F.concat(F.lit("/p/"), ids, F.lit("/x")))
    )
    q = F.when(eid % 4 == 0, F.concat(F.lit("?q="), ids, F.lit("&r=2"))).otherwise(
        F.lit("")
    )
    df = e.select(
        F.concat(F.lit("https://"), host, path, q).alias("canonical_url")
    )
    keyed = df.select(
        "canonical_url", urlfns.surt_key_col("canonical_url").alias("surt_key")
    ).withColumn("surt_host", F.substring_index(F.col("surt_key"), ")", 1))
    w = Window.partitionBy("surt_host").orderBy("surt_key")
    return keyed.select(
        "canonical_url",
        "surt_key",
        "surt_host",
        F.row_number().over(w).cast("bigint").alias("pos"),
    ).orderBy("canonical_url", "pos")


F3_SQL = """
WITH parts AS (
  SELECT CASE event_id % 6
           WHEN 0 THEN 'www.example.com'
           WHEN 1 THEN 'a.news.example.com'
           WHEN 2 THEN 'b.news.example.com'
           WHEN 3 THEN 'site' || (event_id % 7)::VARCHAR || '.co.uk'
           WHEN 4 THEN 'zzz.org'
           ELSE 'single'
         END AS host,
         CASE event_id % 3
           WHEN 0 THEN '/news/' || event_id::VARCHAR
           WHEN 1 THEN '/'
           ELSE '/p/' || event_id::VARCHAR || '/x'
         END AS path,
         CASE WHEN event_id % 4 = 0
              THEN '?q=' || event_id::VARCHAR || '&r=2' ELSE '' END AS q
  FROM events
),
s AS (
  SELECT 'https://' || host || path || q AS canonical_url,
         array_to_string(list_reverse(string_split(host, '.')), ',')
           || ')' || path || q AS surt_key,
         array_to_string(list_reverse(string_split(host, '.')), ',') AS surt_host
  FROM parts
)
SELECT canonical_url, surt_key, surt_host,
       row_number() OVER (PARTITION BY surt_host ORDER BY surt_key)::BIGINT AS pos
FROM s ORDER BY canonical_url, pos
"""


J15_BUDGET = 7

_J15_H = (
    "((('0x' || substring(md5('j15u' || event_id::VARCHAR), 1, 8))::BIGINT"
    " + CASE WHEN ('0x' || substring(md5('j15u' || event_id::VARCHAR), 1, 8))::BIGINT"
    " >= 2147483648 THEN -4294967296 ELSE 0 END) * 4294967296"
    " + ('0x' || substring(md5('j15u' || event_id::VARCHAR), 9, 8))::BIGINT)"
)


def j15_domain_budget_pop(spark, sf):
    """The p15 composition under the hard gate: politeness budgets
    grouped by REGISTERED DOMAIN, popped through the real pop operator.
    ``a.blog.x.com`` and ``b.blog.x.com`` are one origin server — a
    per-host bucket would politely hit it once per subdomain spelling
    (subdomain-farm sites mint thousands). Here the frontier's hosts
    map through the real ``domains.with_registered_domain`` (broadcast
    host→domain map, the URL frame never shuffles), the politeness key
    becomes ``coalesce(registered_domain, host)`` (a bare public
    suffix like ``b7.ck`` stays its own key — NULL regd is the PSL
    contract, not a gap), and ``frontier_ops.pop_round`` pops the
    per-KEY top-budget: a domain's three subdomains together get 7
    slots, not 21. WHICH origin hosts survive depends on the
    cross-host (priority, published_ts, url_hash) order inside each
    domain, so the value hash pins the grouping, the PSL mapping, the
    coalesce fallback, and the two-phase salted top-k at once. The
    twin derives the politeness key independently from the synthesis
    shape (p15 already pins the PSL algorithm itself) and replays the
    pop as one ranking window."""
    from .functions import domains
    from .operators import frontier as frontier_ops
    from .operators.dedup import md5_hash64

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    d = (eid % 40).cast("string")
    host = F.when(eid % 5 == 4, F.concat(F.lit("b"), d, F.lit(".ck"))).otherwise(
        F.concat(
            F.lit("sub"), (eid % 3).cast("string"), F.lit(".site"), d, F.lit(".com")
        )
    )
    h = md5_hash64(F.concat(F.lit("j15u"), eid.cast("string")))
    fr = e.select(
        host.alias("origin_host"),
        h.alias("url_hash"),
        F.pmod(h, F.lit(3)).cast("int").alias("priority"),
        F.col("ts").alias("published_ts"),
    )
    keyed = domains.with_registered_domain(
        fr, domains.suffix_rules_df(spark), host_col="origin_host"
    )
    pend = keyed.select(
        F.coalesce(F.col("registered_domain"), F.col("origin_host")).alias("host"),
        "origin_host",
        "url_hash",
        "priority",
        "published_ts",
    )
    budgets = pend.select("host").distinct().withColumn(
        "budget", F.lit(J15_BUDGET)
    )
    popped = frontier_ops.pop_round(
        pend, budgets, default_budget=J15_BUDGET, salts=8
    )
    return popped.select(
        F.col("host").alias("politeness_key"),
        "origin_host",
        "url_hash",
        "priority",
    ).orderBy("politeness_key", "url_hash")


J15_SQL = f"""
WITH u AS (
  SELECT CASE WHEN event_id % 5 = 4
              THEN 'b' || (event_id % 40)::VARCHAR || '.ck'
              ELSE 'sub' || (event_id % 3)::VARCHAR || '.site'
                   || (event_id % 40)::VARCHAR || '.com' END AS origin_host,
         CASE WHEN event_id % 5 = 4
              THEN 'b' || (event_id % 40)::VARCHAR || '.ck'
              ELSE 'site' || (event_id % 40)::VARCHAR || '.com'
         END AS politeness_key,
         {_J15_H} AS url_hash,
         ((({_J15_H}) % 3) + 3) % 3 AS priority,
         ts AS published_ts
  FROM events
),
r AS (
  SELECT politeness_key, origin_host, url_hash, priority,
         row_number() OVER (
           PARTITION BY politeness_key
           ORDER BY priority, published_ts, url_hash
         ) AS rn
  FROM u
)
SELECT politeness_key, origin_host, url_hash, priority::INT AS priority
FROM r WHERE rn <= {J15_BUDGET}
ORDER BY politeness_key, url_hash
"""


# ===========================================================================
# K3 — CDX latest-capture resolution (operators/archive.cdx_resolve)

K3_URLS = 500  # distinct urlkeys in the synthesized capture stream


def k3_cdx_latest(spark, sf):
    """CDX-index resolution under the hard gate (operators/archive.
    cdx_resolve): the "what is the current content of this URL, and
    which capture stores its bytes" query a WARC archive answers from
    its CDX index — latest capture per SURT urlkey plus WARC-revisit
    accounting (a re-fetch whose digest matches an earlier capture
    stores no payload; the index must point reads at the ORIGINAL
    record). The capture stream is synthesized from events: ~|events|/
    {K3_URLS} captures per urlkey, capture_ts = event_id (unique →
    deterministic arg-max), content version cycling (event_id%7)%3 so
    most urlkeys see revisits AND content churn. The twin replays both
    aggregation levels with arg_max, so a wrong revisit count, a
    latest-capture tie-break, or a payload pointer at the wrong
    generation all break the value hash. Scale shape is cdx_resolve's:
    two map-side-combined aggs keyed on urlkey, shuffle carries digest
    summaries, never captures."""
    from .operators import archive

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    uid = eid % K3_URLS
    urlkey = F.concat(
        F.lit("com,site"),
        (uid % 37).cast("string"),
        F.lit(")/a/"),
        uid.cast("string"),
    )
    caps = e.select(
        urlkey.alias("urlkey"),
        eid.alias("capture_ts"),
        F.md5(
            F.concat(urlkey, F.lit("#"), ((eid % 7) % 3).cast("string"))
        ).alias("digest"),
    )
    return archive.cdx_resolve(caps).orderBy("urlkey")


K3_SQL = f"""
WITH caps AS (
  SELECT 'com,site' || ((event_id % {K3_URLS}) % 37)::VARCHAR || ')/a/'
           || (event_id % {K3_URLS})::VARCHAR AS urlkey,
         event_id AS capture_ts,
         md5('com,site' || ((event_id % {K3_URLS}) % 37)::VARCHAR || ')/a/'
           || (event_id % {K3_URLS})::VARCHAR || '#'
           || ((event_id % 7) % 3)::VARCHAR) AS digest
  FROM events
),
pd AS (
  SELECT urlkey, digest, count(*) AS n,
         min(capture_ts) AS first_ts, max(capture_ts) AS last_ts
  FROM caps GROUP BY urlkey, digest
)
SELECT urlkey,
       sum(n)::BIGINT AS n_captures,
       count(*)::BIGINT AS n_digests,
       (sum(n) - count(*))::BIGINT AS n_revisits,
       max(last_ts) AS latest_ts,
       arg_max(digest, last_ts) AS latest_digest,
       arg_max(first_ts, last_ts) AS latest_payload_ts,
       arg_max(first_ts, last_ts) < max(last_ts) AS latest_is_revisit
FROM pd GROUP BY urlkey ORDER BY urlkey
"""


# ===========================================================================
# D8 — content-defined chunking (operators/dedup.cdc_chunks)

D8_WINDOW = 4
D8_DIVISOR = 16


def d8_cdc_chunks(spark, sf):
    """Content-defined chunking under the hard gate (operators/dedup.
    cdc_chunks — the rsync/LBFS/FastCDC dedup partition, the tier the
    suite lacked: fixed-grid spans find repeated passages, CDC finds
    the STORAGE dedup unit that survives insertions on re-crawled
    pages). Output = the corpus chunk store: one row per distinct
    chunk content with occurrence/document counts and the chunk's
    token length. The twin recomputes boundaries from literal window
    strings (same md5 rule), reassembles chunks with gaps-and-islands
    + ordered string_agg, and aggregates by chunk md5 — so a boundary
    off-by-one, a wrong window slice, a chunk split/join drift, or a
    reassembly-order bug each change some chunk's content hash and
    break the value hash. Chunking itself is shuffle-free per-row
    expression work; the only shuffle is this groupBy on the 16-byte
    chunk hash, map-side combined."""
    from .operators import dedup

    docs = load(spark, sf, "documents")
    ch = dedup.cdc_chunks(docs, window=D8_WINDOW, divisor=D8_DIVISOR)
    return (
        ch.select(F.md5("chunk_text").alias("chunk_md5"), "doc_id", "n_tokens")
        .groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("n_tokens").cast("int").alias("n_tokens"),
        )
        .orderBy("chunk_md5")
    )


D8_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
cand AS (
  SELECT doc_id, u.i::INT AS i
  FROM toks, unnest(generate_series({D8_WINDOW}, len(t) - 1)) AS u(i)
  WHERE ('0x' || substring(md5(array_to_string(
            t[u.i - {D8_WINDOW} + 1 : u.i], ' ')), 1, 12))::BIGINT
        % {D8_DIVISOR} = 0
),
tokpos AS (
  SELECT doc_id, u.j::INT AS j, t[u.j] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS u(j)
),
seq AS (
  SELECT tp.doc_id, tp.j, tp.tok,
         CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END AS b
  FROM tokpos tp LEFT JOIN cand c ON c.doc_id = tp.doc_id AND c.i = tp.j
),
assigned AS (
  SELECT doc_id, j, tok,
         COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_idx
  FROM seq
),
chunks AS (
  SELECT doc_id, chunk_idx,
         string_agg(tok, ' ' ORDER BY j) AS chunk_text,
         count(*)::INT AS n_tokens
  FROM assigned GROUP BY doc_id, chunk_idx
)
SELECT md5(chunk_text) AS chunk_md5,
       count(*)::BIGINT AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       min(n_tokens)::INT AS n_tokens
FROM chunks GROUP BY chunk_md5 ORDER BY chunk_md5
"""


# ===========================================================================
# X35 — HyperLogLog register file (operators/sketch.hll_registers)


def x35_hll_registers(spark, sf):
    """The HLL cardinality sketch's full register state under the hard
    gate (operators/sketch.hll_registers/hll_merge — the fixed-size,
    max-mergeable complement to x15's KMV; see the module note for why
    both exist). Values are per-source URL-ish ids collapsed in runs
    of 3, so duplicates genuinely exercise the max-idempotence. The
    Spark side sketches the two doc_id parity halves SEPARATELY and
    merges them (hll_merge), while the twin sketches the whole table
    directly — a green row therefore ALSO proves merge ≡ direct, the
    property that lets 10^10-URL shards sketch independently. Only the
    float estimate (hll_estimate) stays outside the gate; it is
    computed from exactly these integers and pytest-bounded."""
    from .operators import sketch

    docs = load(spark, sf, "documents")
    vals = docs.select(
        "source",
        F.col("doc_id").alias("doc_id"),
        F.concat(
            F.lit("u"), (F.col("doc_id") - F.col("doc_id") % 3).cast("string")
        ).alias("v"),
    )
    halves = [
        sketch.hll_registers(vals.filter(F.col("doc_id") % 2 == i), ["source"], "v")
        for i in (0, 1)
    ]
    return sketch.hll_merge(halves, ["source"]).orderBy("source", "bucket")


X35_SQL = """
WITH h AS (
  SELECT source, md5('u' || (doc_id - doc_id % 3)::VARCHAR) AS hx
  FROM documents
),
r AS (
  SELECT source,
         ('0x' || substring(hx, 1, 2))::BIGINT AS bucket,
         ('0x' || substring(hx, 3, 14))::BIGINT AS suffix
  FROM h
)
SELECT source, bucket::INT AS bucket,
       max(CASE WHEN suffix = 0 THEN 57
                ELSE 57 - length(bin(suffix)) END)::INT AS max_rho
FROM r GROUP BY source, bucket ORDER BY source, bucket
"""


# ===========================================================================
# M6 — magic-byte content sniffing (operators/multimodal.sniff_content_type)

# magic-prefix hex by synthesis slot (slot 9 = no magic), and the mime a
# correct sniffer must report for each slot
_M6_MAGICS = [
    "255044462D",          # %PDF-
    "89504E470D0A1A0A",    # PNG
    "FFD8FF",              # JPEG
    "474946383761",        # GIF87a
    "504B0304",            # zip
    "1F8B",                # gzip
    "3C21444F4354595045",  # <!DOCTYPE
    "3C68746D6C",          # <html
    "524946460000000057454250",  # RIFF····WEBP
    "",                    # bare text body
]
_M6_MIMES = [
    "application/pdf",
    "image/png",
    "image/jpeg",
    "image/gif",
    "application/zip",
    "application/gzip",
    "text/html",
    "text/html",
    "image/webp",
    "application/octet-stream",
]


def m6_content_sniff(spark, sf):
    """Magic-byte content-type sniffing under the hard gate
    (operators/multimodal.sniff_content_type): the crawl fetch path
    must route payloads to decoders by their BYTES, not the
    Content-Type header real servers routinely get wrong (the
    reference trusts whatever requests/BS4 sees — it has no binary
    routing at all). Payloads are synthesized binary: one of 9 magic
    prefixes (or none) + a utf-8 body, with an independently-cycled
    DECLARED type so header-vs-bytes mismatches genuinely occur. The
    output is the (declared, sniffed) confusion matrix with a
    mismatch flag — the twin rebuilds the same blobs with unhex/
    encode and replays the prefix CASE over the hex, so a wrong
    signature length, a missed container subtype (WEBP needs bytes
    0-3 AND 8-11), or an order-of-checks drift each move matrix
    counts. Scale shape: sniffing is a pure codegen projection over
    the first 12 bytes; the only shuffle is the tiny confusion-matrix
    groupBy."""
    from .operators import multimodal

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    magic = None
    for i, hx in enumerate(_M6_MAGICS):
        c = eid % 10 == i
        v = F.unhex(F.lit(hx))
        magic = F.when(c, v) if magic is None else magic.when(c, v)
    declared = None
    for i, mime in enumerate(_M6_MIMES):
        c = (eid * 3 + 1) % 10 == i
        v = F.lit(mime)
        declared = F.when(c, v) if declared is None else declared.when(c, v)
    payload = F.concat(
        magic, F.encode(F.concat(F.lit("body"), eid.cast("string")), "UTF-8")
    )
    rows = e.select(
        declared.alias("declared"),
        multimodal.sniff_content_type(payload).alias("sniffed"),
    )
    return (
        rows.groupBy("declared", "sniffed")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("is_match", F.col("declared") == F.col("sniffed"))
        .orderBy("declared", "sniffed")
    )


_M6_MAGIC_CASE = " ".join(
    f"WHEN event_id % 10 = {i} THEN '{hx}'" for i, hx in enumerate(_M6_MAGICS)
)
_M6_MIME_CASE = " ".join(
    f"WHEN (event_id * 3 + 1) % 10 = {i} THEN '{m}'"
    for i, m in enumerate(_M6_MIMES)
)

M6_SQL = f"""
WITH blobs AS (
  SELECT CASE {_M6_MIME_CASE} END AS declared,
         unhex(CASE {_M6_MAGIC_CASE} END)
           || encode('body' || event_id::VARCHAR) AS payload
  FROM events
),
sn AS (
  SELECT declared, substring(hex(payload), 1, 24) AS h FROM blobs
),
sniffed AS (
  SELECT declared,
         CASE
           WHEN substring(h, 1, 10) = '255044462D' THEN 'application/pdf'
           WHEN substring(h, 1, 16) = '89504E470D0A1A0A' THEN 'image/png'
           WHEN substring(h, 1, 6)  = 'FFD8FF' THEN 'image/jpeg'
           WHEN substring(h, 1, 12) = '474946383761' THEN 'image/gif'
           WHEN substring(h, 1, 12) = '474946383961' THEN 'image/gif'
           WHEN substring(h, 1, 8)  = '504B0304' THEN 'application/zip'
           WHEN substring(h, 1, 4)  = '1F8B' THEN 'application/gzip'
           WHEN substring(h, 1, 18) = '3C21444F4354595045' THEN 'text/html'
           WHEN substring(h, 1, 10) = '3C68746D6C' THEN 'text/html'
           WHEN substring(h, 1, 8) = '52494646'
                AND substring(h, 17, 8) = '57454250' THEN 'image/webp'
           ELSE 'application/octet-stream'
         END AS sniffed
  FROM sn
)
SELECT declared, sniffed, count(*)::BIGINT AS n,
       declared = sniffed AS is_match
FROM sniffed GROUP BY declared, sniffed ORDER BY declared, sniffed
"""


# ===========================================================================
# X36 — asymmetric shingle containment (operators/dedup.containment_pairs)

X36_PCT = 80


def x36_containment(spark, sf):
    """Asymmetric n-gram containment under the hard gate
    (operators/dedup.containment_pairs — Broder's C(A,B) =
    |S(A)∩S(B)|/|S(A)|): the inclusion detector Jaccard is blind to —
    a 60%-prefix excerpt of a long article scores Jaccard ≈ 0.6·|A|/
    |B| (arbitrarily small) but containment 1.0. The corpus is
    documents plus a synthesized 60%-token-prefix excerpt (id
    −(doc_id+1)) for every doc_id % 5 == 0 — guaranteed
    high-containment/low-Jaccard pairs. Membership is integer
    cross-multiplication (100·common ≥ pct·min(|A|,|B|)); the twin
    recomputes shingle sets as literal strings, so a hash collision,
    a distinct-shingle drift, or a wrong normalization side all break
    the value hash. Shape: d2's inverted-index self-join + df_cap
    skew guard, counts partial-aggregated."""
    from .operators import dedup

    docs = load(spark, sf, "documents").select("doc_id", "text")
    t = F.split(F.col("text"), " ")
    excerpts = (
        docs.filter((F.col("doc_id") % 5 == 0) & (F.size(t) >= 5))
        .select(
            (-(F.col("doc_id") + 1)).alias("doc_id"),
            F.array_join(
                F.slice(t, 1, F.expr("(size(split(text, ' ')) * 3) div 5")), " "
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(excerpts)
    return dedup.containment_pairs(corpus, threshold_pct=X36_PCT).orderBy(
        "a_id", "b_id"
    )


X36_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id,
         array_to_string(t[1 : (len(t) * 3) // 5], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE doc_id % 5 = 0 AND len(t) >= 5
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
sh AS (SELECT doc_id,
              list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             for i in generate_series(1, len(t) - 2)]) AS s
       FROM toks WHERE len(t) >= 3),
e AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (
  SELECT e1.doc_id AS a_id, e2.doc_id AS b_id, count(*)::BIGINT AS common
  FROM e e1 JOIN e e2 ON e1.shingle = e2.shingle AND e1.doc_id < e2.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, common,
       sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
       round(common / sa.n, 4) AS c_ab,
       round(common / sb.n, 4) AS c_ba
FROM pairs JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
WHERE 100 * common >= {X36_PCT} * least(sa.n, sb.n)
ORDER BY a_id, b_id
"""


# ===========================================================================
# K4 — conditional-GET revalidation accounting (operators/archive.
# revalidation_plan)


def k4_revalidation(spark, sf):
    """Conditional-GET (If-None-Match / 304) accounting under the hard
    gate (operators/archive.revalidation_plan): the recrawl BANDWIDTH
    model — t8/t9 decide when to refetch, this decides what each
    refetch transfers. A refetch whose digest equals the IMMEDIATELY
    PREVIOUS capture's is a 304 (header-only; body bytes saved); the
    semantic line vs k3's WARC-revisit is pinned by the same synthetic
    capture stream (version cycling (event_id%7)%3 produces A-A runs =
    304s AND A-B-A returns = revisits-but-NOT-304s, so the two
    accountings genuinely differ on this corpus). The twin replays the
    lag-window classification and the rollup, so a wrong validator
    scope (any-earlier vs previous), an off-by-one on the first
    capture, or bytes credited to the wrong class all break the value
    hash. Scale shape: ONE shuffle on urlkey — the window
    hash-partitions, the final agg reuses that partitioning (no second
    exchange, plan-asserted in test_archive)."""
    from .operators import archive

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    uid = eid % K3_URLS
    urlkey = F.concat(
        F.lit("com,site"),
        (uid % 37).cast("string"),
        F.lit(")/a/"),
        uid.cast("string"),
    )
    caps = e.select(
        urlkey.alias("urlkey"),
        eid.alias("capture_ts"),
        F.md5(
            F.concat(urlkey, F.lit("#"), ((eid % 7) % 3).cast("string"))
        ).alias("digest"),
        (F.lit(100) + eid % 900).cast("long").alias("n_bytes"),
    )
    return archive.revalidation_plan(caps).orderBy("urlkey")


K4_SQL = f"""
WITH caps AS (
  SELECT 'com,site' || ((event_id % {K3_URLS}) % 37)::VARCHAR || ')/a/'
           || (event_id % {K3_URLS})::VARCHAR AS urlkey,
         event_id AS capture_ts,
         md5('com,site' || ((event_id % {K3_URLS}) % 37)::VARCHAR || ')/a/'
           || (event_id % {K3_URLS})::VARCHAR || '#'
           || ((event_id % 7) % 3)::VARCHAR) AS digest,
         100 + event_id % 900 AS n_bytes
  FROM events
),
cls AS (
  SELECT urlkey, n_bytes,
         CASE WHEN lag(digest) OVER w IS NULL THEN 1 ELSE 0 END AS is_first,
         CASE WHEN lag(digest) OVER w = digest THEN 1 ELSE 0 END AS nm
  FROM caps WINDOW w AS (PARTITION BY urlkey ORDER BY capture_ts)
)
SELECT urlkey,
       count(*)::BIGINT AS n_captures,
       (count(*) - sum(is_first))::BIGINT AS n_refetches,
       sum(nm)::BIGINT AS n_not_modified,
       (count(*) - sum(is_first) - sum(nm))::BIGINT AS n_modified,
       sum(n_bytes * nm)::BIGINT AS bytes_saved,
       sum(n_bytes * (1 - nm))::BIGINT AS bytes_fetched
FROM cls GROUP BY urlkey ORDER BY urlkey
"""


# ===========================================================================
# K5 — crawl snapshot diff (operators/archive.snapshot_diff)


def k5_snapshot_diff(spark, sf):
    """Snapshot diff under the hard gate (operators/archive.
    snapshot_diff): the per-cycle index-maintenance classification a
    continuous crawl publishes — added / gone / changed / unchanged —
    over two synthesized latest-capture tables (old = urlkeys with
    event_id%7 != 0 at content v0; new = urlkeys with event_id%11 != 3,
    content bumped to v1 iff event_id%13 == 0), so all four statuses
    are populated with known counts. Output = per-status count plus a
    sum-of-embedded-ids checksum, so a row landing in the wrong class
    moves BOTH aggregates of two classes. Scale shape: one full-outer
    join on urlkey and a pure null-pattern projection; on the f3
    surt-sorted layout the join is two co-ordered scans."""
    from .operators import archive

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    urlkey = F.concat(F.lit("u"), eid.cast("string"))
    old = e.filter(eid % 7 != 0).select(
        urlkey.alias("urlkey"),
        F.md5(F.concat(urlkey, F.lit("#0"))).alias("digest"),
    )
    new = e.filter(eid % 11 != 3).select(
        urlkey.alias("urlkey"),
        F.md5(
            F.concat(
                urlkey,
                F.lit("#"),
                (eid % 13 == 0).cast("int").cast("string"),
            )
        ).alias("digest"),
    )
    return (
        archive.snapshot_diff(old, new)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.sum(F.substring("urlkey", 2, 24).cast("long"))
            .cast("long")
            .alias("sum_id"),
        )
        .orderBy("status")
    )


K5_SQL = """
WITH oldv AS (
  SELECT 'u' || event_id::VARCHAR AS urlkey,
         md5('u' || event_id::VARCHAR || '#0') AS d
  FROM events WHERE event_id % 7 <> 0
),
newv AS (
  SELECT 'u' || event_id::VARCHAR AS urlkey,
         md5('u' || event_id::VARCHAR || '#' ||
             (CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END)::VARCHAR) AS d
  FROM events WHERE event_id % 11 <> 3
),
j AS (
  SELECT coalesce(oldv.urlkey, newv.urlkey) AS urlkey,
         CASE WHEN oldv.urlkey IS NULL THEN 'added'
              WHEN newv.urlkey IS NULL THEN 'gone'
              WHEN oldv.d <> newv.d THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM oldv FULL OUTER JOIN newv ON oldv.urlkey = newv.urlkey
)
SELECT status, count(*)::BIGINT AS n_urls,
       sum(substring(urlkey, 2)::BIGINT)::BIGINT AS sum_id
FROM j GROUP BY status ORDER BY status
"""


# ===========================================================================
# M7 — charset sniffing (operators/multimodal.sniff_charset)

# per-slot (BOM hex, ASCII body prefix) — event_id appended to the body
_M7_SLOTS = [('EFBBBF', '<html>bom-utf8 '), ('FEFF', 'bom-16be '), ('FFFE', 'bom-16le '), ('', '<meta ChArSeT="UTF-8"><p>'), ('', '<meta charset=ISO-8859-1><p>'), ('', '<meta http-equiv="Content-Type" content="text/html; charset=UTF8">'), ('EFBBBF', '<meta charset="koi8-r">'), ('', 'xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx<meta charset="utf-8">'), ('', 'plain text '), ('', "<meta charset='koi8-r'>")]


def m7_charset_sniff(spark, sf):
    """Charset sniffing under the hard gate (operators/multimodal.
    sniff_charset — the decode half of the byte router, beside m6's
    dispatch half): payloads are synthesized binary covering every
    decision arm — the three BOMs, quoted/bare/http-equiv meta
    declarations, WHATWG label normalization (ISO-8859-1 label MEANS
    windows-1252; UTF8 folds to utf-8), BOM-beats-meta precedence, a
    declaration pushed past the 1024-byte prescan window (must be
    ignored), an undeclared page (windows-1252 default), and an
    unknown label (koi8-r passes through). The twin rebuilds the same
    bodies as literal strings (pure ASCII, so ISO-8859-1 decode is
    byte-identity) and replays BOM CASE + regex + label normalization
    + default — a wrong precedence, a regex drift, a normalization
    miss, or a prescan-window off-by-enough each move slot counts.
    Scale shape: a pure codegen projection over ≤1027 bytes per row;
    the only shuffle is the tiny (slot, charset) matrix groupBy."""
    from .operators import multimodal

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    slot = (eid % 10).cast("int")
    bom = None
    body = None
    for i, (hx, prefix) in enumerate(_M7_SLOTS):
        c = eid % 10 == i
        b = F.unhex(F.lit(hx))
        t = F.concat(F.lit(prefix), eid.cast("string"))
        bom = F.when(c, b) if bom is None else bom.when(c, b)
        body = F.when(c, t) if body is None else body.when(c, t)
    payload = F.concat(bom, F.encode(body, "UTF-8"))
    rows = e.select(
        slot.alias("slot"),
        multimodal.sniff_charset(payload).alias("charset"),
    )
    return (
        rows.groupBy("slot", "charset")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("slot", "charset")
    )


_M7_BOM_CASE = " ".join(
    f"WHEN event_id % 10 = {i} THEN '{hx}'"
    for i, (hx, _) in enumerate(_M7_SLOTS)
)
_M7_BODY_CASE = " ".join(
    "WHEN event_id % 10 = {i} THEN '{p}' || event_id::VARCHAR".format(
        i=i, p=prefix.replace("'", "''")
    )
    for i, (_, prefix) in enumerate(_M7_SLOTS)
)

M7_SQL = f"""
WITH blobs AS (
  SELECT (event_id % 10)::INT AS slot,
         CASE {_M7_BOM_CASE} END AS bom,
         CASE {_M7_BODY_CASE} END AS body
  FROM events
),
lab AS (
  SELECT slot, bom,
         regexp_extract(lower(substring(body, 1, 1024)),
           'charset\\s*=\\s*["'']?\\s*([a-z0-9._:+-]+)', 1) AS label
  FROM blobs
),
sn AS (
  SELECT slot,
         CASE WHEN bom = 'EFBBBF' THEN 'utf-8'
              WHEN bom = 'FEFF' THEN 'utf-16be'
              WHEN bom = 'FFFE' THEN 'utf-16le'
              WHEN label IN ('utf-8', 'utf8', 'unicode-1-1-utf-8')
                THEN 'utf-8'
              WHEN label IN ('iso-8859-1', 'iso8859-1', 'latin1', 'l1',
                             'us-ascii', 'ascii', 'windows-1252',
                             'cp1252', 'x-cp1252')
                THEN 'windows-1252'
              WHEN label IN ('utf-16', 'utf-16le', 'unicodefeff')
                THEN 'utf-16le'
              WHEN label = 'utf-16be' THEN 'utf-16be'
              WHEN label = '' THEN 'windows-1252'
              ELSE label END AS charset
  FROM lab
)
SELECT slot, charset, count(*)::BIGINT AS n
FROM sn GROUP BY slot, charset ORDER BY slot, charset
"""


# ===========================================================================
# C5 — per-host frontier drain ETA (operators/frontier.drain_eta)


def c5_drain_eta(spark, sf):
    """Frontier drain ETA under the hard gate (operators/frontier.
    drain_eta): the capacity-planning signal politeness creates —
    pending backlog ÷ per-round token budget = rounds before a host's
    queue empties; a host over the cap is bottlenecked by POLITENESS,
    not compute, and adding executors cannot help it (the inverse of
    the X4 skew lesson: salting fixes hot-host COMPUTE skew, nothing
    fixes a token-bucket ceiling but budget policy). Frontier
    synthesized from events (97 hosts, 2/3 pending); budgets cover
    the first 48 hosts (5-11 tokens), the rest exercise the default
    branch. The twin replays the ceil-div and cap exactly. Scale
    shape: ONE combiner-reduced groupBy(host) over the frontier +
    a broadcast budget dim; pure integer projection after."""
    from .operators import frontier

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    fr = e.select(
        F.concat(F.lit("h"), (eid % 97).cast("string")).alias("host"),
        F.when(eid % 3 != 0, "pending").otherwise("completed").alias("status"),
    )
    budgets = spark.range(48).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        (F.lit(5) + F.col("id") % 7).cast("long").alias("budget"),
    )
    return frontier.drain_eta(fr, budgets, default_budget=20, rounds_cap=150).orderBy(
        "host"
    )


C5_SQL = """
WITH fr AS (
  SELECT 'h' || (event_id % 97)::VARCHAR AS host
  FROM events WHERE event_id % 3 <> 0
),
p AS (SELECT host, count(*)::BIGINT AS n_pending FROM fr GROUP BY host),
b AS (SELECT 'h' || id::VARCHAR AS host, (5 + id % 7)::BIGINT AS budget
      FROM range(48) t(id))
SELECT p.host, p.n_pending,
       coalesce(b.budget, 20)::BIGINT AS budget,
       ((p.n_pending + coalesce(b.budget, 20) - 1)
         // coalesce(b.budget, 20))::BIGINT AS rounds_to_drain,
       ((p.n_pending + coalesce(b.budget, 20) - 1)
         // coalesce(b.budget, 20)) > 150 AS over_cap
FROM p LEFT JOIN b USING (host) ORDER BY host
"""


# ===========================================================================
# T10 — sitemap-lastmod staleness (sources.sitemap_staleness)


def t10_sitemap_staleness(spark, sf):
    """Sitemap-driven recrawl selection under the hard gate
    (sources.sitemap_staleness): what the origin ADVERTISES changed
    (sitemap lastmod) vs what the archive HOLDS (latest capture) —
    the third recrawl loop beside t8 (observed discovery rate) and t9
    (per-page change history), and the cheapest (one sitemap fetch
    covers 50k URLs). Entries are synthesized with DUPLICATE urls
    (many event_ids map to one url — pins the max-lastmod collapse);
    captures skip every 11th url (pins 'unseen') and carry an
    independent timestamp stream so stale and fresh both populate.
    The twin replays the collapse, the left join, and the
    classification. Scale shape: the archive side is never shuffled —
    broadcast left-semi prune to ≤|entries| rows, then a broadcast
    left join that preserves every advertised URL."""
    from . import sources as src

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    url = F.concat(F.lit("u"), (eid % 700).cast("string"))
    entries = e.filter(eid % 2 == 0).select(
        url.alias("url"),
        (eid % 90000 + 10000).cast("long").alias("lastmod_ts"),
    )
    captures = (
        e.filter((eid % 700) % 11 != 2)
        .groupBy(url.alias("url"))
        .agg(F.max(eid % 95000).cast("long").alias("latest_ts"))
    )
    return src.sitemap_staleness(entries, captures).orderBy("url")


T10_SQL = """
WITH e AS (
  SELECT 'u' || (event_id % 700)::VARCHAR AS url,
         max(event_id % 90000 + 10000)::BIGINT AS lastmod_ts
  FROM events WHERE event_id % 2 = 0 GROUP BY 1
),
c AS (
  SELECT 'u' || (event_id % 700)::VARCHAR AS url,
         max(event_id % 95000)::BIGINT AS latest_ts
  FROM events WHERE (event_id % 700) % 11 <> 2 GROUP BY 1
)
SELECT e.url, e.lastmod_ts, c.latest_ts,
       CASE WHEN c.latest_ts IS NULL THEN 'unseen'
            WHEN e.lastmod_ts > c.latest_ts THEN 'stale'
            ELSE 'fresh' END AS status,
       (CASE WHEN c.latest_ts IS NOT NULL AND e.lastmod_ts > c.latest_ts
             THEN e.lastmod_ts - c.latest_ts ELSE 0 END)::BIGINT AS staleness_s
FROM e LEFT JOIN c USING (url) ORDER BY url
"""


def p16_dust_rules(spark, sf):
    """DUST parameter-rule mining under the hard gate
    (operators/dust.mine_param_rules): learn per-host which query
    parameters are content-neutral from (url, digest) evidence — the
    learned upgrade of the canonicalizer's static tracking-strip list
    (the reference dedups links on the raw URL string,
    news_fresh_links_scheduler.py:53-54, so a session param re-admits
    the page forever). Synthetic corpus: per item, all 8 presence
    combos of {sid (item-keyed value), ref=aff, page=2}; the digest
    depends on (host, item, page) only — so removing sid or ref always
    finds the residual combo with the SAME digest (support), removing
    page always finds it with a DIFFERENT one (violation), and the
    twin replays the explode → signature join → evidence counts on raw
    signature strings where the operator joins on their xxhash64.
    Scale shape: explode factor |params| ≤ 3, an equi-join on 8-byte
    hashes against a distinct signature table, partial-agg counts —
    never the classic DUST O(n²) pairwise walk."""
    from .operators import dust

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    h = F.expr("(event_id div 8) % 4").cast("string")
    item = F.expr("event_id div 8")
    v = eid % 8
    empty = F.array().cast("array<string>")
    params = F.array_sort(
        F.concat(
            F.when(
                v % 2 == 1,
                F.array(F.concat(F.lit("sid="), (item % 97).cast("string"))),
            ).otherwise(empty),
            F.when((v % 4) >= 2, F.array(F.lit("ref=aff"))).otherwise(empty),
            F.when(v >= 4, F.array(F.lit("page=2"))).otherwise(empty),
        )
    )
    url = F.concat(
        F.lit("https://h"),
        h,
        F.lit(".example/i/"),
        item.cast("string"),
        F.when(
            F.size(params) > 0, F.concat(F.lit("?"), F.concat_ws("&", params))
        ).otherwise(F.lit("")),
    )
    digest = F.md5(
        F.concat(
            F.lit("d"),
            h,
            F.lit(":"),
            item.cast("string"),
            F.when(v >= 4, F.lit(":p2")).otherwise(F.lit("")),
        )
    )
    pages = e.select(url.alias("url"), digest.alias("digest"))
    return dust.mine_param_rules(pages, min_support=3).orderBy("host", "param")


P16_SQL = """
WITH u AS (
  SELECT ((event_id // 8) % 4)::VARCHAR AS h,
         (event_id // 8)::VARCHAR AS item,
         event_id % 8 AS v
  FROM events
),
urls AS (
  SELECT 'h' || h || '.example' AS host,
         '/i/' || item AS path,
         list_sort(
           (CASE WHEN v % 2 = 1
                 THEN ['sid=' || (item::BIGINT % 97)::VARCHAR]
                 ELSE []::VARCHAR[] END)
           || (CASE WHEN (v % 4) >= 2 THEN ['ref=aff'] ELSE []::VARCHAR[] END)
           || (CASE WHEN v >= 4 THEN ['page=2'] ELSE []::VARCHAR[] END)
         ) AS params,
         md5('d' || h || ':' || item
             || CASE WHEN v >= 4 THEN ':p2' ELSE '' END) AS digest
  FROM u
),
targets AS (
  SELECT DISTINCT
         host || path || '?'
           || coalesce(array_to_string(params, '&'), '') AS sig,
         digest AS t_digest
  FROM urls
),
cand AS (
  SELECT host,
         split_part(p, '=', 1) AS param,
         -- array_to_string([]) is NULL in DuckDB (Spark's concat_ws is '')
         host || path || '?'
           || coalesce(
                array_to_string(list_filter(params, x -> x <> p), '&'), '')
           AS rsig,
         digest
  FROM (SELECT host, path, params, digest, unnest(params) AS p FROM urls)
)
SELECT c.host, c.param,
       sum(CASE WHEN c.digest = t.t_digest THEN 1 ELSE 0 END)::BIGINT
         AS support,
       sum(CASE WHEN c.digest <> t.t_digest THEN 1 ELSE 0 END)::BIGINT
         AS violations,
       (sum(CASE WHEN c.digest <> t.t_digest THEN 1 ELSE 0 END) = 0
        AND sum(CASE WHEN c.digest = t.t_digest THEN 1 ELSE 0 END) >= 3)
         AS removable
FROM cand c JOIN targets t ON c.rsig = t.sig
GROUP BY 1, 2
ORDER BY host, param
"""


def g10_connected_components(spark, sf):
    """Two-star connected components under the hard gate
    (operators/graph.connected_components_twostar — Kiveris et al.'s
    alternating large-star/small-star, the O(log²)-round, hub-absorbing
    alternative to d5's O(diameter) min-label propagation). Synthetic
    graph: 10-node chains over a 2990-node id space, with every
    100-block's base additionally wired to its +20 and +50 chains — so
    components of three merged chains coexist with untouched chains,
    duplicate edges arrive from event multiplicity, and the diameter
    (≥12 through a merged component) forces real alternation rounds.
    The oracle is algorithm-independent: a recursive label-spread CTE
    computing min(reachable id) per node — so a value-hash match proves
    the star contraction lands on exactly the component minima."""
    from .operators.graph import connected_components_twostar

    e = load(spark, sf, "events")
    u = (F.col("event_id") % 2990).cast("long")
    chain = e.filter(u % 10 != 9).select(u.alias("u"), (u + 1).alias("v"))
    m20 = e.filter(u % 100 == 0).select(u.alias("u"), (u + 20).alias("v"))
    m50 = e.filter(u % 100 == 0).select(u.alias("u"), (u + 50).alias("v"))
    edges = chain.unionByName(m20).unionByName(m50)
    return connected_components_twostar(edges).orderBy("node")


G10_SQL = """
WITH RECURSIVE base AS (
  SELECT DISTINCT u, v FROM (
    SELECT event_id % 2990 AS u, event_id % 2990 + 1 AS v
    FROM events WHERE (event_id % 2990) % 10 <> 9
    UNION ALL
    SELECT event_id % 2990, event_id % 2990 + 20
    FROM events WHERE (event_id % 2990) % 100 = 0
    UNION ALL
    SELECT event_id % 2990, event_id % 2990 + 50
    FROM events WHERE (event_id % 2990) % 100 = 0
  )
),
sym AS (
  SELECT u, v FROM base UNION SELECT v AS u, u AS v FROM base
),
reach AS (
  SELECT u AS node, u AS lab FROM sym
  UNION
  SELECT s.v AS node, r.lab FROM reach r JOIN sym s ON s.u = r.node
)
SELECT node::BIGINT AS node, min(lab)::BIGINT AS component
FROM reach GROUP BY node ORDER BY node
"""


def s8_sitemap_tree(spark, sf):
    """Nested sitemap-index expansion under the hard gate
    (sources.sitemap_tree): robots.txt advertises INDEX files
    (c3_robots_sitemaps), indexes list more sitemaps, urlsets list
    pages — the 50k-entries-per-file cap forces every big site into
    this tree, and the reference's flat per-source sitemap readers
    never recurse. Synthetic forest from events: four roots, each with
    three child indexes and two leaf sitemaps per child, PLUS a diamond
    (i0 also lists its sibling's leaf — min-depth dedup), a cycle (i2
    points back at its root — visited-set cut), urls attached at every
    file level, and the same url string appearing in many files. The
    oracle is a recursive CTE walking the index edges to min file
    depth, then joining urlset entries — algorithm-independent of the
    operator's level-unrolled visited-set BFS."""
    from . import sources as src

    e = load(spark, sf, "events")
    eid = F.col("event_id")
    a = (eid % 4).cast("string")
    b = ((eid / 4).cast("long") % 3).cast("string")
    c = ((eid / 12).cast("long") % 2).cast("string")
    r_loc = F.concat(F.lit("r"), a)
    i_loc = F.concat(F.lit("i"), a, F.lit("_"), b)
    s_loc = F.concat(i_loc, F.lit("_"), c)
    url = F.concat(F.lit("u"), (eid % 5000).cast("string"))
    idx1 = e.select(r_loc.alias("loc"), i_loc.alias("child")).distinct()
    idx2 = e.select(i_loc.alias("loc"), s_loc.alias("child")).distinct()
    diamond = (
        e.filter(eid % 4 == 0)
        .select(
            F.lit("i0_0").alias("loc"),
            F.concat(F.lit("i0_1_"), c).alias("child"),
        )
        .distinct()
    )
    cycle = e.select(
        F.concat(F.lit("i"), a, F.lit("_2")).alias("loc"), r_loc.alias("child")
    ).distinct()
    kind_s = F.lit("sitemap").alias("kind")
    leaf_s = e.select(s_loc.alias("loc"), url.alias("child"))
    leaf_r = e.filter(eid % 17 == 0).select(r_loc.alias("loc"), url.alias("child"))
    edges = (
        idx1.unionByName(idx2)
        .unionByName(diamond)
        .unionByName(cycle)
        .select("loc", "child", kind_s)
        .unionByName(
            leaf_s.unionByName(leaf_r).select(
                "loc", "child", F.lit("url").alias("kind")
            )
        )
    )
    roots = e.select(r_loc.alias("root")).distinct()
    return src.sitemap_tree(edges, roots, max_depth=5).orderBy(
        "root", "url", "depth"
    )


S8_SQL = """
WITH RECURSIVE
ev AS (
  SELECT event_id % 4 AS a, (event_id // 4) % 3 AS b,
         (event_id // 12) % 2 AS c, event_id % 5000 AS un,
         event_id AS eid
  FROM events
),
idx AS (
  SELECT DISTINCT 'r' || a::VARCHAR AS loc,
         'i' || a::VARCHAR || '_' || b::VARCHAR AS child FROM ev
  UNION
  SELECT DISTINCT 'i' || a::VARCHAR || '_' || b::VARCHAR,
         'i' || a::VARCHAR || '_' || b::VARCHAR || '_' || c::VARCHAR FROM ev
  UNION
  SELECT DISTINCT 'i0_0', 'i0_1_' || c::VARCHAR FROM ev WHERE a = 0
  UNION
  SELECT DISTINCT 'i' || a::VARCHAR || '_2', 'r' || a::VARCHAR FROM ev
),
leaves AS (
  SELECT 'i' || a::VARCHAR || '_' || b::VARCHAR || '_' || c::VARCHAR AS loc,
         'u' || un::VARCHAR AS url FROM ev
  UNION ALL
  SELECT 'r' || a::VARCHAR, 'u' || un::VARCHAR FROM ev WHERE eid % 17 = 0
),
roots AS (SELECT DISTINCT 'r' || a::VARCHAR AS root FROM ev),
walk AS (
  SELECT root, root AS loc, 1 AS depth FROM roots
  UNION
  SELECT w.root, i.child, w.depth + 1
  FROM walk w JOIN idx i ON i.loc = w.loc WHERE w.depth < 5
),
files AS (SELECT root, loc, min(depth) AS depth FROM walk GROUP BY 1, 2)
SELECT f.root, l.url, min(f.depth)::BIGINT AS depth
FROM files f JOIN leaves l ON l.loc = f.loc
GROUP BY 1, 2 ORDER BY root, url, depth
"""


def t11_refresh_allocation(spark, sf):
    """Budget-optimal refresh frequencies under the hard gate
    (sources.refresh_allocation — Cho & Garcia-Molina TODS'03): t8/t9/
    t10 SCORE pages for recrawl; this ALLOCATES a global crawl budget
    across them by exact greedy marginal-freshness gain, via a
    Lagrange-threshold binary search (O(log scale) combiner-reduced
    probes; only the tie boundary is ever sorted — see PLANS.md t11).
    Pages = 4000 ids with change rates 1+(id*7919) mod 50; budget 9000
    of 32000 possible crawl steps, cutting mid-table so the θ search,
    the zero-gain floor, and the (page_id, f) tie-break all land under
    the value hash. The twin is the explode + global-rank greedy — the
    textbook formulation the operator deliberately avoids at scale —
    so a match proves the θ-search IS the greedy optimum."""
    from . import sources as src

    e = load(spark, sf, "events")
    pages = (
        e.select((F.col("event_id") % 4000).cast("long").alias("page_id"))
        .distinct()
        .select(
            "page_id",
            (1 + (F.col("page_id") * 7919) % 50).cast("long").alias("lam"),
        )
    )
    return src.refresh_allocation(pages, budget=9000, f_max=8).orderBy(
        "page_id"
    )


T11_SQL = """
WITH p AS (
  SELECT page_id, 1 + (page_id * 7919) % 50 AS lam
  FROM (SELECT DISTINCT event_id % 4000 AS page_id FROM events)
),
steps AS (
  SELECT page_id, lam, f,
         (1000000000::BIGINT * lam) // ((lam + f) * (lam + f - 1)) AS gain
  FROM p, generate_series(1, 8) AS t(f)
),
sel AS (
  SELECT page_id,
         row_number() OVER (ORDER BY gain DESC, page_id, f) AS rn
  FROM steps WHERE gain >= 1
),
won AS (
  SELECT page_id, count(*) AS n FROM sel WHERE rn <= 9000 GROUP BY 1
)
SELECT p.page_id::BIGINT AS page_id, p.lam::BIGINT AS lam,
       coalesce(won.n, 0)::BIGINT AS f_alloc
FROM p LEFT JOIN won USING (page_id)
ORDER BY page_id
"""


def x37_ccnet_split(spark, sf):
    """The CCNet head/middle/tail selection step under the hard gate
    (text.ccnet_split — Wenzek et al. LREC'20): per-source perplexity
    terciles over the REAL corpus, composing two already-gated
    components — x28's corpus-self-trained bigram cost (exact integer
    milli-nats per bigram) and x31's deterministic hash-sample
    quantile sketch for the tercile thresholds (bounded two-phase
    aggregate; never a per-group global sort). The twin replays model
    training, scoring, the md5 bottom-k sample, the x17 rank rule, and
    every boundary CASE bit-for-bit; unscorable docs (<2 tokens) take
    CCNet's convention and land in tail with a NULL cost."""
    return text.ccnet_split(load(spark, sf, "documents")).orderBy("doc_id")


X37_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
bi AS (
  SELECT doc_id, tk[i] AS u, tk[i + 1] AS v
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
  WHERE len(tk) >= 2
),
vocab AS (
  SELECT count(DISTINCT t.t)::BIGINT AS vsz
  FROM toks, unnest(tk) AS t(t)
),
cuv AS (SELECT u, v, count(*)::BIGINT AS cuv FROM bi GROUP BY 1, 2),
cu AS (SELECT u, sum(cuv)::BIGINT AS cu FROM cuv GROUP BY 1),
model AS (
  SELECT u, v,
         round(ln((cuv + 1)::DOUBLE) * 1000000)::BIGINT
           - round(ln((cu + vsz)::DOUBLE) * 1000000)::BIGINT AS l
  FROM cuv JOIN cu USING (u) CROSS JOIN vocab
),
sc AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_bigrams, sum(m.l)::BIGINT AS lp_num
  FROM bi b JOIN model m ON b.u = m.u AND b.v = m.v
  GROUP BY 1
),
d AS (
  SELECT doc.doc_id, doc.source AS grp,
         CASE WHEN sc.n_bigrams > 0
              THEN (1000 * -sc.lp_num) // sc.n_bigrams END AS ppl
  FROM documents doc LEFT JOIN sc USING (doc_id)
),
h AS (
  SELECT grp, ppl,
         row_number() OVER (
           PARTITION BY grp
           ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         ) AS hrn
  FROM d WHERE ppl IS NOT NULL
),
samp AS (
  SELECT grp, ppl,
         row_number() OVER (PARTITION BY grp ORDER BY ppl) AS rn,
         count(*) OVER (PARTITION BY grp) AS s
  FROM h WHERE hrn <= 256
),
thr AS (
  SELECT grp,
         max(CASE WHEN rn = (1 * s + 2) // 3 THEN ppl END)::BIGINT AS t33,
         max(CASE WHEN rn = (2 * s + 2) // 3 THEN ppl END)::BIGINT AS t66
  FROM samp GROUP BY 1
)
SELECT d.doc_id, d.grp AS "group", d.ppl::BIGINT AS ppl_milli,
       CASE WHEN d.ppl IS NULL THEN 'tail'
            WHEN d.ppl <= t.t33 THEN 'head'
            WHEN d.ppl <= t.t66 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM d LEFT JOIN thr t ON d.grp = t.grp
ORDER BY doc_id
"""


def v14_binary_topk(spark, sf):
    """Binary (1-bit/dim) quantized ANN under the hard gate
    (similarity.binary_topk_rerank) — the extreme end of the
    quantization ladder the repo now covers completely (binary /
    sign-LSH / SQ8 / PQ / IVF-PQ): sign bits packed into two 32-bit
    words (two, not one — the d=63 bit is the int64 sign bit and the
    pack-by-sum overflows both engines; half-words keep every partial
    sum < 2^32), Hamming candidate scan at 8 bytes/vector via
    xor+popcount, exact integer re-rank. The twin replays the pack,
    the (ham_sim DESC, vec_id) candidate order, and the re-rank."""
    return similarity.binary_topk_rerank(
        load(spark, sf, "embeddings"),
        QUERY_VEC_ID,
        k=10,
        r_cand=PQ_RERANK_CAND,
    )


V14_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         [floor(x::DOUBLE * {similarity.SIGNLSH_QUANT} + 0.5)::BIGINT
          for x in embedding] AS iv
  FROM embeddings
),
b AS (
  SELECT vec_id, iv,
         list_sum([CASE WHEN iv[d] >= 0 THEN (1::BIGINT << (d - 1))
                        ELSE 0 END
                   for d in generate_series(1, 32)])::BIGINT AS b_lo,
         list_sum([CASE WHEN iv[d] >= 0 THEN (1::BIGINT << (d - 33))
                        ELSE 0 END
                   for d in generate_series(33, 64)])::BIGINT AS b_hi
  FROM qv
),
q AS (
  SELECT b_lo AS qlo, b_hi AS qhi, iv AS qiv
  FROM b WHERE vec_id = {QUERY_VEC_ID}
),
h AS (
  SELECT vec_id, iv, qiv,
         (64 - bit_count(xor(b_lo, qlo))
             - bit_count(xor(b_hi, qhi)))::BIGINT AS ham_sim
  FROM b, q WHERE vec_id <> {QUERY_VEC_ID}
),
cand AS (
  SELECT * FROM h ORDER BY ham_sim DESC, vec_id LIMIT {PQ_RERANK_CAND}
)
SELECT vec_id, ham_sim,
       list_sum([iv[j] * qiv[j]
                 for j in generate_series(1, 64)])::BIGINT AS exact_dot
FROM cand ORDER BY exact_dot DESC, vec_id LIMIT 10
"""


# ===========================================================================
# registry

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "a1_count_by_status": a1_count_by_status,
    "a2_data_quality": a2_data_quality,
    "a3_freshness": a3_freshness,
    "a4_daily_pivot": a4_daily_pivot,
    "a5_below_median_days": a5_below_median_days,
    "a5b_outage_days": a5b_outage_days,
    "a6_value_stats": a6_value_stats,
    "a7_retry_histogram": a7_retry_histogram,
    "a8_sessionization": a8_sessionization,
    "a9_rollup": a9_rollup,
    "j1_anti_join_unseen": j1_anti_join_unseen,
    "j2_first_wins_dedup": j2_first_wins_dedup,
    "j6_audit_join": j6_audit_join,
    "j7_broadcast_dims": j7_broadcast_dims,
    "j8_json_props": j8_json_props,
    "j9_docs_vectors_reconcile": j9_docs_vectors_reconcile,
    "j10_frontier_machine": j10_frontier_machine,
    "j11_token_bucket_replay": j11_token_bucket_replay,
    "f1_jalali_calendar": f1_jalali_calendar,
    "f2_persian_datetime_parse": f2_persian_datetime_parse,
    "p9_robots_filter": p9_robots_filter,
    "p11_trap_filter": p11_trap_filter,
    "t1_frontier_pop": t1_frontier_pop,
    "t3_cursor_cut": t3_cursor_cut,
    "t4_latest_cursor": t4_latest_cursor,
    "t6_asof_join": t6_asof_join,
    "t7_range_join": t7_range_join,
    "k1_price_cache": k1_price_cache,
    "e1_embed_drain_schedule": e1_embed_drain_schedule,
    "s2_feed_discovery": s2_feed_discovery,
    "s3_sitemap_keys": s3_sitemap_keys,
    "v1_cosine_topk": v1_cosine_topk,
    "v2_ivf_probe": v2_ivf_probe,
    "v3_embedding_neardup": v3_embedding_neardup,
    "v4_filtered_topk": v4_filtered_topk,
    "v5_ivf_multiprobe": v5_ivf_multiprobe,
    "v6_keyword_topk": v6_keyword_topk,
    "v7_ts_range_topk": v7_ts_range_topk,
    "v8_signlsh_pairs": v8_signlsh_pairs,
    "v9_ivf_partitioned": v9_ivf_partitioned,
    "v10_kmeans": v10_kmeans,
    "v11_pq_adc_topk": v11_pq_adc_topk,
    "v12_ivfpq_topk": v12_ivfpq_topk,
    "d1_exact_dedup": d1_exact_dedup,
    "d2_ngram_jaccard": d2_ngram_jaccard,
    "d3_minhash_lsh": d3_minhash_lsh,
    "d4_simhash_pairs": d4_simhash_pairs,
    "d5_dup_clusters": d5_dup_clusters,
    "d6_simhash128_pairs": d6_simhash128_pairs,
    "x1_lang_confusion": x1_lang_confusion,
    "x2_quality_by_source": x2_quality_by_source,
    "x3_token_stats": x3_token_stats,
    "x4_fingerprints": x4_fingerprints,
    "x5_winnow_fingerprints": x5_winnow_fingerprints,
    "x6_stratified_sample": x6_stratified_sample,
    "x7_holdout_split": x7_holdout_split,
    "x8_token_packing": x8_token_packing,
    "x9_decontamination": x9_decontamination,
    "x10_repetition": x10_repetition,
    "x11_pii_scrub": x11_pii_scrub,
    "x12_boilerplate": x12_boilerplate,
    "x13_bm25": x13_bm25,
    "x14_corpus_build": x14_corpus_build,
    "x15_kmv_vocab": x15_kmv_vocab,
    "x16_countmin_heavy": x16_countmin_heavy,
    "x17_length_quantiles": x17_length_quantiles,
    "x31_quantile_sketch": x31_quantile_sketch,
    "x18_incremental_neardup": x18_incremental_neardup,
    "x19_dup_spans": x19_dup_spans,
    "g1_host_rank": g1_host_rank,
    "x20_substring_strip": x20_substring_strip,
    "m1_interleaved_spans": m1_interleaved_spans,
    "m2_media_pipeline": m2_media_pipeline,
    "s1_stream_cursor_cut": s1_stream_cursor_cut,
    "s4_windowed_rates": s4_windowed_rates,
    "x21_semdedup": x21_semdedup,
    "x22_dsir_select": x22_dsir_select,
    "j14_aimd_budget_replay": j14_aimd_budget_replay,
    "g2_budget_apportion": g2_budget_apportion,
    "t8_recrawl_schedule": t8_recrawl_schedule,
    "x23_temperature_mixture": x23_temperature_mixture,
    "x24_gopher_rules": x24_gopher_rules,
    "p12_canonical_collapse": p12_canonical_collapse,
    "x25_unigram_entropy": x25_unigram_entropy,
    "x28_bigram_logprob": x28_bigram_logprob,
    "x32_bpe_pair_counts": x32_bpe_pair_counts,
    "x33_bpe_merges": x33_bpe_merges,
    "x34_bpe_encode": x34_bpe_encode,
    "g3_redirect_resolve": g3_redirect_resolve,
    "g4_anchor_summary": g4_anchor_summary,
    "p13_trap_templates": p13_trap_templates,
    "p14_robots_wildcards": p14_robots_wildcards,
    "p15_registered_domain": p15_registered_domain,
    "g5_hits": g5_hits,
    "g6_mirror_clusters": g6_mirror_clusters,
    "j15_domain_budget_pop": j15_domain_budget_pop,
    "g7_opic_cash": g7_opic_cash,
    "g8_trustrank": g8_trustrank,
    "c3_robots_sitemaps": c3_robots_sitemaps,
    "k2_segment_archive": k2_segment_archive,
    "g9_crawl_depth": g9_crawl_depth,
    "f3_surt_key": f3_surt_key,
    "d7_mirror_hosts": d7_mirror_hosts,
    "c1_crawl_delay": c1_crawl_delay,
    "c2_rendezvous_shards": c2_rendezvous_shards,
    "k3_cdx_latest": k3_cdx_latest,
    "d8_cdc_chunks": d8_cdc_chunks,
    "x35_hll_registers": x35_hll_registers,
    "m6_content_sniff": m6_content_sniff,
    "x36_containment": x36_containment,
    "t9_change_rate_recrawl": t9_change_rate_recrawl,
    "v13_sq8_topk": v13_sq8_topk,
    "x26_semdedup_blocked": x26_semdedup_blocked,
    "x27_semantic_clusters": x27_semantic_clusters,
    "s5_stream_dedup": s5_stream_dedup,
    "s6_stream_enrich": s6_stream_enrich,
    "s7_stream_stream_join": s7_stream_stream_join,
    "m3_interleaved_pack": m3_interleaved_pack,
    "m4_media_integrity": m4_media_integrity,
    "m5_image_neardup": m5_image_neardup,
    "x29_cluster_reps": x29_cluster_reps,
    "x30_shard_manifest": x30_shard_manifest,
    "k4_revalidation": k4_revalidation,
    "k5_snapshot_diff": k5_snapshot_diff,
    "m7_charset_sniff": m7_charset_sniff,
    "c5_drain_eta": c5_drain_eta,
    "t10_sitemap_staleness": t10_sitemap_staleness,
    "p16_dust_rules": p16_dust_rules,
    "g10_connected_components": g10_connected_components,
    "s8_sitemap_tree": s8_sitemap_tree,
    "t11_refresh_allocation": t11_refresh_allocation,
    "x37_ccnet_split": x37_ccnet_split,
    "v14_binary_topk": v14_binary_topk,
}

ORACLES: dict[str, str] = {
    "a1_count_by_status": A1_SQL,
    "a2_data_quality": A2_SQL,
    "a3_freshness": A3_SQL,
    "a4_daily_pivot": A4_SQL,
    "a5_below_median_days": A5_SQL,
    "a5b_outage_days": A5B_SQL,
    "a6_value_stats": A6_SQL,
    "a7_retry_histogram": A7_SQL,
    "a8_sessionization": A8_SQL,
    "a9_rollup": A9_SQL,
    "j1_anti_join_unseen": J1_SQL,
    "j2_first_wins_dedup": J2_SQL,
    "j6_audit_join": J6_SQL,
    "j7_broadcast_dims": J7_SQL,
    "j8_json_props": J8_SQL,
    "j9_docs_vectors_reconcile": J9_SQL,
    "j10_frontier_machine": J10_SQL,
    "j11_token_bucket_replay": J11_SQL,
    "f1_jalali_calendar": F1_SQL,
    "f2_persian_datetime_parse": F2_SQL,
    "p9_robots_filter": P9_SQL,
    "p11_trap_filter": P11_SQL,
    "t1_frontier_pop": T1_SQL,
    "t3_cursor_cut": T3_SQL,
    "t4_latest_cursor": T4_SQL,
    "t6_asof_join": T6_SQL,
    "t7_range_join": T7_SQL,
    "k1_price_cache": K1_SQL,
    "e1_embed_drain_schedule": E1_SQL,
    "s2_feed_discovery": S2_SQL,
    "s3_sitemap_keys": S3_SQL,
    "v1_cosine_topk": V1_SQL,
    "v2_ivf_probe": V2_SQL,
    "v3_embedding_neardup": V3_SQL,
    "v4_filtered_topk": V4_SQL,
    "v5_ivf_multiprobe": V5_SQL,
    "v6_keyword_topk": V6_SQL,
    "v7_ts_range_topk": V7_SQL,
    "v8_signlsh_pairs": V8_SQL,
    "v9_ivf_partitioned": V9_SQL,
    "v10_kmeans": V10_SQL,
    "v11_pq_adc_topk": V11_SQL,
    "v12_ivfpq_topk": V12_SQL,
    "d1_exact_dedup": D1_SQL,
    "d2_ngram_jaccard": D2_SQL,
    "d3_minhash_lsh": D3_SQL,
    "d4_simhash_pairs": D4_SQL,
    "d5_dup_clusters": D5_SQL,
    "d6_simhash128_pairs": D6_SQL,
    "x1_lang_confusion": X1_SQL,
    "x2_quality_by_source": X2_SQL,
    "x3_token_stats": X3_SQL,
    "x4_fingerprints": X4_SQL,
    "x5_winnow_fingerprints": X5_SQL,
    "x6_stratified_sample": X6_SQL,
    "x7_holdout_split": X7_SQL,
    "x8_token_packing": X8_SQL,
    "x9_decontamination": X9_SQL,
    "x10_repetition": X10_SQL,
    "x11_pii_scrub": X11_SQL,
    "x12_boilerplate": X12_SQL,
    "x13_bm25": X13_SQL,
    "x14_corpus_build": X14_SQL,
    "x15_kmv_vocab": X15_SQL,
    "x16_countmin_heavy": X16_SQL,
    "x17_length_quantiles": X17_SQL,
    "x31_quantile_sketch": X31_SQL,
    "x18_incremental_neardup": X18_SQL,
    "x19_dup_spans": X19_SQL,
    "g1_host_rank": G1_SQL,
    "x20_substring_strip": X20_SQL,
    "m1_interleaved_spans": M1_SQL,
    "m2_media_pipeline": M2_SQL,
    "s1_stream_cursor_cut": S1_SQL,
    "s4_windowed_rates": S4_SQL,
    "x21_semdedup": X21_SQL,
    "x22_dsir_select": X22_SQL,
    "j14_aimd_budget_replay": J14_SQL,
    "g2_budget_apportion": G2_SQL,
    "t8_recrawl_schedule": T8_SQL,
    "x23_temperature_mixture": X23_SQL,
    "x24_gopher_rules": X24_SQL,
    "p12_canonical_collapse": P12_SQL,
    "x25_unigram_entropy": X25_SQL,
    "x28_bigram_logprob": X28_SQL,
    "x32_bpe_pair_counts": X32_SQL,
    "x33_bpe_merges": X33_SQL,
    "x34_bpe_encode": X34_SQL,
    "g3_redirect_resolve": G3_SQL,
    "g4_anchor_summary": G4_SQL,
    "p13_trap_templates": P13_SQL,
    "p14_robots_wildcards": P14_SQL,
    "p15_registered_domain": P15_SQL,
    "g5_hits": G5_SQL,
    "g6_mirror_clusters": G6_SQL,
    "j15_domain_budget_pop": J15_SQL,
    "g7_opic_cash": G7_SQL,
    "g8_trustrank": G8_SQL,
    "c3_robots_sitemaps": C3_SQL,
    "k2_segment_archive": K2_SQL,
    "g9_crawl_depth": G9_SQL,
    "f3_surt_key": F3_SQL,
    "d7_mirror_hosts": D7_SQL,
    "c1_crawl_delay": C1_SQL,
    "c2_rendezvous_shards": C2_SQL,
    "k3_cdx_latest": K3_SQL,
    "d8_cdc_chunks": D8_SQL,
    "x35_hll_registers": X35_SQL,
    "m6_content_sniff": M6_SQL,
    "x36_containment": X36_SQL,
    "t9_change_rate_recrawl": T9_SQL,
    "v13_sq8_topk": V13_SQL,
    "x26_semdedup_blocked": X21_SQL,
    "x27_semantic_clusters": X27_SQL,
    "s5_stream_dedup": S5_SQL,
    "s6_stream_enrich": S6_SQL,
    "s7_stream_stream_join": S7_SQL,
    "m3_interleaved_pack": M3_SQL,
    "m4_media_integrity": M4_SQL,
    "m5_image_neardup": M5_SQL,
    "x29_cluster_reps": X29_SQL,
    "x30_shard_manifest": X30_SQL,
    "k4_revalidation": K4_SQL,
    "k5_snapshot_diff": K5_SQL,
    "m7_charset_sniff": M7_SQL,
    "c5_drain_eta": C5_SQL,
    "t10_sitemap_staleness": T10_SQL,
    "p16_dust_rules": P16_SQL,
    "g10_connected_components": G10_SQL,
    "s8_sitemap_tree": S8_SQL,
    "t11_refresh_allocation": T11_SQL,
    "x37_ccnet_split": X37_SQL,
    "v14_binary_topk": V14_SQL,
}
