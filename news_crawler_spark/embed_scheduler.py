"""Embed-status machine (SURVEY.md S11): drain pending documents into the
vector store in resumable, per-source-batched rounds.

Reference semantics: articles carry an embedding status; the historical
embedding scheduler repeatedly claims a batch of pending articles per
news source, embeds them, upserts vectors, and marks them completed —
resume-safe because claiming and completion are separate DB states
(news_historical_embedding_scheduler.py:50-259,
database_manager.py:290-348 fetch_pending_news / mark_news_as_processed).

Spark restatement on the same SnapshotCatalog commit protocol as the
crawl engine (catalog.py): one committed round =

  pending(r-1) ──two-phase salted top-k per source──▶ claimed batch
        ──embed (mapInPandas, E1)──▶ vectors(r)   [append-only]
        ──anti-join──▶ pending(r)                 [rewrite of the slice]

Idempotence/resume: a crash between rounds leaves the last committed
round authoritative; re-running ``step`` overwrites the uncommitted
outputs. A doc leaves ``pending`` in exactly the round whose ``vectors``
snapshot contains it, so "no doc embedded twice, none skipped" holds
under kill/resume — pinned by tests/test_embed_scheduler.py.

Scale shape: per-round I/O is O(|pending| + batch); vectors are
append-only; the per-source batch pick uses the same salted two-phase
top-k as the frontier pop (window parallelism = sources × salts, never
just sources).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import SnapshotCatalog
from .operators.embed import DEFAULT_DIM, embed_documents, embed_text_col
from .operators.frontier import salted_top_k, salts_for_budget


def claim_batch(pending: DataFrame, k: int, salts: int | None = None) -> DataFrame:
    """Per-source batch claim: deterministic OLDEST-FIRST top-k by
    (published_ts, doc_id) within each source — the reference drains
    pending articles oldest first (database_manager.py:296-297,
    323-324 ``ORDER BY published_datetime ASC LIMIT batch``); doc_id
    breaks ties and orders docs with no timestamp (nulls last).
    Two-phase salted window (``frontier.salted_top_k``) — identical
    output to a single per-source window, salts× its parallelism.
    Module-level so the analytics query (e1_embed_drain_schedule)
    replays the exact operator the scheduler runs. ``salts=None`` sizes the salt count to the batch size
    (phase 2's per-source input is salts × k — see
    frontier.salts_for_budget); pass an int to pin it."""
    if salts is None:
        salts = salts_for_budget(k, max_salts=16)
    return salted_top_k(
        pending,
        ["source"],
        [F.asc_nulls_last("published_ts"), F.asc("doc_id")],
        F.lit(k),
        F.pmod(F.xxhash64("doc_id"), F.lit(salts)),
    )


@dataclass
class EmbedRoundStats:
    round_no: int
    embedded: int
    pending_left: int


class EmbedScheduler:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        dim: int = DEFAULT_DIM,
        batch_per_source: int = 100,
        salts: int | None = None,
    ):
        self.spark = spark
        self.catalog = SnapshotCatalog(spark, workdir)
        self.dim = dim
        self.batch_per_source = batch_per_source
        self.salts = salts
        # cached pending count, carried arithmetically across rounds
        # (pending' = pending - claimed) instead of re-reading and
        # counting the freshly written slice every round; None = count
        # once on first step / resume (same pattern as CrawlEngine)
        self._pending_left: int | None = None

    # ------------------------------------------------------------------
    def ingest(self, docs: DataFrame) -> None:
        """Documents → embed round 0: project the embed text (P10) and
        drop empties (P8); every ``embed_pending`` row is pending. ``docs``
        needs doc_id, source, and title/summary columns (the engine's
        documents table shape);
        ``published_ts`` is carried when present so the drain order can
        match the reference's oldest-first claim
        (database_manager.py:296-297 ORDER BY published_datetime ASC)."""
        ts = (
            F.col("published_ts")
            if "published_ts" in docs.columns
            else F.lit(None).cast("timestamp")
        )
        pending = (
            docs.select(
                "doc_id",
                "source",
                ts.alias("published_ts"),
                embed_text_col().alias("embed_text"),
            )
            .filter(F.coalesce(F.trim("embed_text"), F.lit("")) != "")
        )
        # one row per doc_id (deterministic min-row pick): duplicate ids
        # in the input would otherwise desync the arithmetic pending_left
        # (claim counts both copies; the doc_id anti-join removes both),
        # leaving run() to report pending>0 on a drained table — and
        # would upsert the same vector id twice (round-3 advice)
        pending = (
            pending.groupBy("doc_id")
            .agg(
                F.min_by(
                    F.struct("source", "published_ts", "embed_text"),
                    F.struct("published_ts", "source", "embed_text"),
                ).alias("__r")
            )
            .select("doc_id", "__r.*")
        )
        self.catalog.write("embed_pending", 0, pending)
        self.catalog.write(
            "vectors",
            0,
            self.spark.createDataFrame(
                [], "doc_id string, vector array<float>, dim int, source string"
            ),
        )
        self.catalog.commit(0)

    # ------------------------------------------------------------------
    def _claim(self, pending: DataFrame) -> DataFrame:
        return claim_batch(pending, self.batch_per_source, self.salts)

    def step(self, round_no: int) -> EmbedRoundStats:
        prev = round_no - 1
        pending = self.catalog.read("embed_pending", prev)
        if self._pending_left is None:
            self._pending_left = pending.count()
        claimed = self._claim(pending).cache()
        n_claimed = claimed.count()

        vectors = embed_documents(
            claimed, dim=self.dim, text_expr=F.col("embed_text")
        ).join(claimed.select("doc_id", "source"), "doc_id")

        next_pending = pending.join(
            claimed.select("doc_id"), "doc_id", "left_anti"
        )

        self.catalog.write("vectors", round_no, vectors)
        self.catalog.write("embed_pending", round_no, next_pending)
        # pending_left by arithmetic, not a rescan of the written slice;
        # the cache updates only after the commit so a crashed step's
        # retry cannot apply the decrement twice
        pending_left = self._pending_left - n_claimed
        self.catalog.commit(round_no)
        # post-commit GC: only the newest pending slice is ever read
        # (vectors stay — they are the append-only data product)
        self.catalog.prune_upto("embed_pending", round_no - 1)
        self._pending_left = pending_left
        claimed.unpersist()
        return EmbedRoundStats(round_no, n_claimed, pending_left)

    def run(self, max_rounds: int = 1000) -> list[EmbedRoundStats]:
        """Drain pending to empty from the last committed round — safe on
        a fresh scheduler or a crashed workdir (resume)."""
        self.catalog.drop_uncommitted()
        start = self.catalog.latest_round()
        if start is None:
            raise RuntimeError("ingest() first — no committed round 0")
        stats: list[EmbedRoundStats] = []
        rnd = start + 1
        while rnd <= start + max_rounds:
            s = self.step(rnd)
            stats.append(s)
            if s.embedded == 0 or s.pending_left == 0:
                break
            rnd += 1
        return stats

    # ------------------------------------------------------------------
    def vectors(self) -> DataFrame:
        """All vectors embedded so far (append-only union)."""
        return self.catalog.read_all("vectors")
