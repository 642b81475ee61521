"""Structured Streaming variant of the fresh-link pipeline (SURVEY.md §2.8).

The reference's fresh pipeline is an APScheduler 15 s poll producing link
batches to Kafka, consumed at-least-once with manual offset commits and
ON-CONFLICT dedup (news_fresh_links_scheduler.py:175,
broker_manager.py:123,198-218). The batch engine (engine.py) is the
authoritative design — deterministic ordering is the contract, and
wall-clock micro-batch triggers would break it — but the *streaming
semantics* map cleanly onto Structured Streaming, and this module provides
that surface:

- source: any streaming DataFrame with the seed-list schema (in
  production ``spark.readStream.format("kafka")`` + ``from_json``; in
  tests a file-source directory of parquet seed batches);
- per-micro-batch: canonicalize → first-wins dedup → idempotent MERGE
  into the engine's frontier via ``CrawlEngine.ingest_incremental`` —
  the same ON-CONFLICT-DO-NOTHING semantics, so at-least-once delivery
  (Kafka re-reads, restarts) never duplicates a URL (ST2/ST5);
- checkpointing: Spark's streaming checkpoint tracks source offsets, and
  the engine's snapshot catalog commits atomically per batch — a crash
  between the two replays the batch, which the seen-set absorbs
  (exactly-once *effective*);
- the per-source cursor table (ST3, cache_manager.py:54-69) is updated
  by ``ingest_incremental`` each batch.

15 s cadence ⇒ ``trigger(processingTime="15 seconds")``; tests use
``availableNow`` for deterministic drains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import schemas
from .engine import CrawlEngine


def read_seed_stream(spark, directory: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stand-in for the Kafka links topic: a directory where
    each parquet file is one producer batch (schema = schemas.SEED_LIST).
    ``maxFilesPerTrigger`` is the backpressure knob (ST6 analog of
    maxOffsetsPerTrigger)."""
    reader = spark.readStream.schema(schemas.SEED_LIST)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(directory)


def start_ingest_stream(
    engine: CrawlEngine,
    seed_stream: DataFrame,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Run the fresh-link ingest as a streaming query.

    ``foreachBatch`` hands each micro-batch to the engine's idempotent
    incremental ingest: the batch becomes a committed discovery round,
    deduped against the full seen set. Batches are tiny next to the
    frontier, so the per-batch cost is the anti-join of |batch| rows
    against the seen set (Spark's runtime bloom filter prunes the seen
    side) — NOT a frontier rewrite per event.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotence: if this batch replays after a crash, every URL in
        # it is already in the seen set and admits 0 rows.
        if batch_df.isEmpty():
            return
        engine.ingest_incremental(batch_df)

    writer = seed_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger is None:
        trigger = {"availableNow": True}
    return writer.trigger(**trigger).start()


def drain_available(engine: CrawlEngine, directory: str, checkpoint_dir: str) -> None:
    """Convenience: ingest everything currently in ``directory`` and stop
    (availableNow trigger) — the deterministic test/batch-catchup mode."""
    q = start_ingest_stream(
        engine,
        read_seed_stream(engine.spark, directory),
        checkpoint_dir,
        trigger={"availableNow": True},
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# watermarked windowed aggregation: discovery-rate monitoring (ST1/A4 analog)

def discovery_rates(
    seed_stream: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-source discovered-links-per-window counts with late-data
    handling — the streaming twin of the batch daily-pivot audit (A4) and
    the operational rate counters the reference logs per poll
    (news_fresh_links_scheduler.py's per-batch link counts).

    ``withWatermark(discovery_time, watermark)`` bounds state: a window
    is finalized (and its state evicted) once the watermark passes its
    end, and any ROW whose event time is older than the current watermark
    is dropped from the aggregate — Spark gates on the row's event time,
    not on whether its window is still open (pinned in
    tests/test_streaming.py). Out-of-order links newer than the watermark
    still count. A dropped link loses only its monitoring count — the
    downstream seen-set MERGE (ingest) still absorbs the link itself, so
    the crawl never loses a URL. Append output mode ⇒ each
    (window, source) row is emitted exactly once, when final — safe to
    sink to the lineage table.
    """
    return (
        seed_stream.withWatermark("discovery_time", watermark)
        .groupBy(
            F.window("discovery_time", window_duration).alias("w"),
            "source",
        )
        .agg(F.count("*").alias("n_links"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "source",
            "n_links",
        )
    )


def start_rate_monitor(
    seed_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    trigger: dict | None = None,
):
    """Run ``discovery_rates`` as an append-mode streaming query into a
    parquet sink (finalized windows only; checkpointed/resumable)."""
    rates = discovery_rates(seed_stream, window_duration, watermark)
    writer = (
        rates.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger is None:
        trigger = {"availableNow": True}
    return writer.trigger(**trigger).start()


# ---------------------------------------------------------------------------
# custom stateful operator: per-source cursor cut as streaming state (ST3)

def cursor_cut_stream(seed_stream: DataFrame) -> DataFrame:
    """T3/ST3 as a true stateful streaming operator: per-source
    ``applyInPandasWithState`` keeping the newest link seen so far and
    emitting only links strictly newer than the stored cursor.

    This is the streaming twin of the reference's last-link JSON cache
    (cache_manager.py:54-69): state = (last_ts, last_url) per source,
    checkpoint-persisted by Spark, updated per micro-batch. Late or
    re-delivered links (≤ cursor) are dropped at the operator — the
    seen-set MERGE downstream remains the correctness backstop.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = schemas.SEED_LIST
    state_schema = "last_ts timestamp, last_url string"

    def update(key, pdfs, state: GroupState):
        (source,) = key
        if state.exists:
            last_ts, last_url = state.get
        else:
            last_ts, last_url = None, None
        fresh_parts = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["published_ts", "url"])
            if last_ts is not None:
                newer = pdf[
                    (pdf["published_ts"] > last_ts)
                    | ((pdf["published_ts"] == last_ts) & (pdf["url"] > last_url))
                ]
            else:
                newer = pdf
            if len(newer):
                fresh_parts.append(newer)
                tail = newer.iloc[-1]
                last_ts, last_url = tail["published_ts"], tail["url"]
        if last_ts is not None:
            state.update((last_ts, last_url))
        if fresh_parts:
            yield pd.concat(fresh_parts)[
                ["source", "url", "published_ts", "discovery_time"]
            ]

    return seed_stream.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(
    seed_stream: DataFrame, dims: DataFrame, key: str = "source"
) -> DataFrame:
    """Stream-static enrichment: join each micro-batch of links against
    a static per-source config table (priority, politeness budget —
    the reference keeps this in per-collector settings,
    collectors/*/config usage) via a LEFT broadcast join.

    Semantics worth gating: the static side is re-resolved every
    micro-batch (a file/catalog-backed dims table picks up config
    edits between batches without restarting the query); the join is
    STATELESS — nothing is checkpointed, unlike cursor_cut_stream /
    dedup_stream — and the LEFT side means a link from an unconfigured
    source passes through with NULL config for the consumer to
    default, never silently dropped (an inner join would drop
    links from unconfigured sources).

    Scale shape: broadcast keeps the stream side shuffle-free — per
    batch the plan is scan → BroadcastHashJoin, no exchange on the
    (unbounded) stream relation; the dims table is source-cardinality
    sized (thousands), never the frontier."""
    return seed_stream.join(F.broadcast(dims), key, "left")


def read_outcome_stream(
    spark, directory: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stand-in for the fetch-outcome topic (the worker →
    coordinator completion records; schema = schemas.FETCH_OUTCOME)."""
    reader = spark.readStream.schema(schemas.FETCH_OUTCOME)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(directory)


def fetch_audit_join_stream(
    links: DataFrame,
    outcomes: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "90 days",
) -> DataFrame:
    """The audit join (J6) as a STREAM-STREAM inner join — the fourth
    streaming operator kind after stateful cursors (cursor_cut_stream),
    watermarked dedup (dedup_stream) and stream-static enrichment
    (enrich_stream): BOTH sides are unbounded, so Spark must buffer each
    side in state and match arrivals in either order (a link discovered
    in micro-batch 0 joins an outcome that only arrives in batch 1, and
    vice versa).

    The reference runs this reconciliation as a batch SQL join over its
    links/news tables (the J6 audit); in a streaming deployment the
    discovery topic and the fetch-completion topic are separate Kafka
    streams and this operator is the live version of the same check.

    Semantics worth pinning: the join condition carries an EVENT-TIME
    range (``fetch_ts ∈ [published_ts, published_ts + horizon)``) — an
    outcome slower than ``horizon`` does not audit-match its link (it is
    a recrawl candidate, not a fresh fetch). Together with the
    watermarks on both sides this bounds the join state: a buffered link
    can be evicted once the outcome-side watermark passes
    ``published_ts + horizon``, a buffered outcome once the link-side
    watermark passes ``fetch_ts`` (Spark derives both eviction rules
    from the range condition). State is therefore O(arrival rate ×
    (watermark + horizon)), never O(history).

    Scale shape: per micro-batch the plan is a symmetric hash join keyed
    on url — each side shuffles once on the join key and probes the
    other side's keyed state store; no broadcast, no nested loop, and
    the range predicate is evaluated inside the keyed match (url equality
    is the partitioning key), so a hot horizon never fans out."""
    l = links.withWatermark("published_ts", watermark).alias("l")
    o = outcomes.withWatermark("fetch_ts", watermark).alias("o")
    return l.join(
        o,
        F.expr(
            "l.url = o.url"
            " AND o.fetch_ts >= l.published_ts"
            f" AND o.fetch_ts < l.published_ts + INTERVAL {horizon}"
        ),
        "inner",
    ).select("l.source", "l.url", "l.published_ts", "o.fetch_ts", "o.status")


def dedup_stream(seed_stream: DataFrame, within: str = "40 days") -> DataFrame:
    """ST2's exactly-once surface as a NATIVE streaming operator:
    ``dropDuplicatesWithinWatermark`` on the canonical link key — the
    stream-side twin of the batch seen-set anti-join (J1), absorbing
    producer redeliveries (the at-least-once Kafka topic) BEFORE the
    sink instead of relying solely on the sink MERGE's idempotence.

    State shape: one entry per link key, expired once the event-time
    watermark passes ``within`` — the knob that bounds state to the
    redelivery horizon (a producer that may repeat a link for up to H
    hours needs ``within ≥ H``, nothing more; an unbounded
    ``dropDuplicates`` would grow state with the full crawl history).
    First occurrence wins — redelivered copies are byte-identical
    upstream rows, so emission is deterministic either way."""
    return seed_stream.withWatermark("published_ts", within).dropDuplicatesWithinWatermark(
        ["url"]
    )
