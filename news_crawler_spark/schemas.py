"""Explicit StructTypes for every engine table (no schema inference).

Mirrors the reference's data model (SURVEY.md §1):
- frontier        ← reference `news_links` table (db_models.py:26-81) +
                    retry columns (alembic 20251209175903:30-64), plus the
                    derived columns a distributed engine needs (canonical
                    url, 64-bit hash, host, priority, discovery time).
- robots_rules / politeness ← validate_link (news_sources/__init__.py:27-29)
                    and the concurrency knobs (config.py:27-36).
- cursors         ← last-link JSON cache (cache_manager.py:12-16,54-69).
- lineage         ← the reference's Prometheus counters / crawl stats
                    (news_historical_page_scheduler.py:410-469) as a table.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# status enum (db_models.py:18-21)
STATUS_PENDING = "pending"
STATUS_COMPLETED = "completed"
STATUS_FAILED = "failed"

MAX_RETRIES = 3  # config.py:31; database_manager.py:25

SEED_LIST = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("published_ts", T.TimestampType(), True),
        T.StructField("discovery_time", T.TimestampType(), True),
    ]
)

FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),     # xxhash64(canonical)
        T.StructField("host", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("published_ts", T.TimestampType(), True),
        T.StructField("discovery_time", T.TimestampType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("tried_count", T.IntegerType(), False),
        T.StructField("last_tried_round", T.IntegerType(), True),
    ]
)

ROBOTS_RULES = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("rule_kind", T.StringType(), False),  # 'allow' | 'deny'
        T.StructField("path_prefix", T.StringType(), False),
    ]
)

POLITENESS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("max_per_round", T.IntegerType(), False),   # bucket refill
        T.StructField("bucket_capacity", T.IntegerType(), False), # bucket cap
    ]
)

CURSORS = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("last_url", T.StringType(), True),
        T.StructField("published_ts", T.TimestampType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# carried token-bucket balance per host (the next round's carry)
TOKENS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("tokens", T.IntegerType(), False),
    ]
)

# every admitted canonical URL (the reference's unique link index)
SEEN_KEYS = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("canonical_url", T.StringType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("popped", T.LongType(), False),
        T.StructField("fetched_ok", T.LongType(), False),
        T.StructField("fetched_fail", T.LongType(), False),
        T.StructField("marked_failed", T.LongType(), False),
    ]
)

# the corpus tables the build and search queries read (analytics.load):
# stored articles and their embedding vectors, keyed by the same id
CORPUS_DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)
