"""The crawl engine: deterministic round-based frontier iteration.

One round = one pure-DataFrame job, the Spark restatement of the
reference's ``process_batch`` loop
(news_historical_page_scheduler.py:268-528, SURVEY.md §3.2):

  pending ∧ tried<3  ──robots──▶  per-host top-k pop (token budgets)
        ──fetch (mapInPandas)──▶  ok? extract spans → documents
                                  fail? tried_count+1 (FAILED at 3)
        ──MERGE status──▶ next frontier snapshot (+ lineage, pops, tokens)

Determinism contract: every pop is ranked by the total order
(priority, published_ts, url_hash) within a host, budgets evolve by the
same token arithmetic as the oracle, and fetch outcomes are a pure function
of the canonical URL — so the (round, host, url) pop sequence and the final
seen-set/status map are bit-reproducible under any partitioning, any
parallelism, and across kill/resume.

Scale shape (10^10-row frontier):
- only the *pending* slice is ever rewritten; completed/failed rows are
  append-only (catalog.py) — per-round I/O is O(|pending| + |popped|),
  not O(|frontier|).
- per-round dataflow: one broadcast join (budgets), one two-phase salted
  top-k (parallelism = hosts × salts, never just hosts), one
  hash-partitioned anti-join keyed by url_hash (popped side broadcasts
  when small). Robots rules evaluate as a broadcast join + higher-order
  functions — zero shuffle on the frontier side. The fetch stage is ONE
  fused python pass (fetch+extract), explicitly partitioned by rows (not
  bytes — AQE's byte-based coalescing undersizes CPU-bound python stages).
- frontier-sized data never reaches the driver. Tables of one row per
  host or source do: the robots and politeness dims are collected once
  per engine (robots stays a local relation, so no robots scan starts
  python workers), and each round's budgets, tokens, cursors, lineage
  and ``RoundStats`` come from per-host or per-source aggregate
  ``collect()``s and are written from the driver (catalog.write_rows) —
  no Spark job per tiny table.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas, synth
from .catalog import SnapshotCatalog
from .functions.urls import with_url_columns
from .operators import frontier as frontier_ops
from .operators import seen_set
from .operators.extract import documents_from_fetch_extract
from .operators.fetch import fetch_extract_pages


@dataclass
class RoundStats:
    round_no: int
    popped: int
    fetched_ok: int
    fetched_fail: int
    pending_left: int


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        robots: DataFrame | None = None,
        politeness: DataFrame | None = None,
        default_refill: int = 20,
        max_retries: int = schemas.MAX_RETRIES,
        compact_every: int = 8,
    ):
        self.spark = spark
        self.catalog = SnapshotCatalog(spark, workdir)
        # the dims are a few rows per host, collected once: robots is held
        # as a local relation (a DataFrame built from a python list scans
        # through python workers every time a round reads it), politeness
        # as host → (max_per_round, bucket_capacity) for the driver-side
        # budgets
        robots = robots if robots is not None else synth.robots_df(spark)
        self.robots = spark.createDataFrame(robots.toArrow())
        if politeness is None:
            politeness = synth.politeness_df(spark)
        self._buckets = {
            r["host"]: (r["max_per_round"], r["bucket_capacity"])
            for r in politeness.toArrow().to_pylist()
        }
        self.default_refill = default_refill
        self.max_retries = max_retries
        self.compact_every = max(1, compact_every)
        # cached eligible-pending count, maintained by lineage arithmetic
        # (eligible' = eligible - popped + re-pended); None = recount once
        self._eligible_left: int | None = None
        # pop_round salt count sized to the largest configured budget
        # (salts × budget bounds the phase-2 re-rank input per host)
        caps = [c for _refill, c in self._buckets.values() if c is not None]
        self._pop_salts = frontier_ops.salts_for_budget(
            max(caps + [2 * default_refill])
        )

    # ------------------------------------------------------------ state reads
    def _read_accreted(self, table: str, upto_round: int) -> DataFrame:
        """Generic base+delta read for an append-only table folded on the
        compaction cadence: newest ``{table}_base`` snapshot ⊕ per-round
        deltas after it. Bounds the read to O(compact_every) dirs however
        many rounds have run (done since round 2 for ``done``; round 4
        extends it to the ``pops``/``lineage`` logs)."""
        if upto_round is None:
            # callers pass catalog.latest_round(): None = nothing committed
            # yet — the same clean signal the old read_all path raised
            # (ADVICE round 4: range(lo+1, None+1) was a TypeError)
            raise FileNotFoundError(f"no committed snapshots for {table}")
        base_r = self.catalog.latest_existing(f"{table}_base", upto_round)
        df, lo = None, -1
        if base_r is not None:
            df = self.catalog.read(f"{table}_base", base_r)
            lo = base_r
        for r in range(lo + 1, upto_round + 1):
            if self.catalog.exists(table, r):
                d = self.catalog.read(table, r)
                df = d if df is None else df.unionByName(d)
        if df is None:
            raise FileNotFoundError(f"no committed snapshots for {table}")
        return df

    def _read_pending(self, round_no: int) -> DataFrame:
        return self.catalog.read("pending", round_no, schemas.FRONTIER)

    def _read_done(self, upto_round: int) -> DataFrame:
        """All completed/failed rows through ``upto_round``."""
        return self._read_accreted("done", upto_round)

    # --------------------------------------------------------------- seen keys
    # ``seen_keys`` = every (url_hash, canonical_url) ever admitted — the
    # reference's unique link index (db_models.py:40). Kept as one range-
    # sorted base snapshot + O(compact_every) per-ingest deltas, so the
    # per-poll seen side reads a BOUNDED number of snapshots instead of
    # unioning one `done` dir per round forever (round-2 verdict item 2).
    def _read_seen_keys(self, upto_round: int) -> DataFrame:
        base_r = self.catalog.latest_existing("seen_keys", upto_round)
        if base_r is None:
            raise RuntimeError("no seen_keys base — ingest() first")
        df = self.catalog.read("seen_keys", base_r, schemas.SEEN_KEYS)
        for r in range(base_r + 1, upto_round + 1):
            if self.catalog.exists("seen_keys_delta", r):
                df = df.unionByName(
                    self.catalog.read("seen_keys_delta", r, schemas.SEEN_KEYS)
                )
        return df

    def _write_seen_base(self, round_no: int, keys: DataFrame) -> None:
        """A fresh ``seen_keys`` base, range-partitioned and sorted on
        url_hash. No predicate reaches a scan of it: each poll's
        anti-join (``seen_set.unseen_only``) reads every key of the base
        and its deltas, so the sort lets no row group be skipped."""
        parts = max(4, self.spark.sparkContext.defaultParallelism)
        self.catalog.write(
            "seen_keys",
            round_no,
            keys.repartitionByRange(parts, "url_hash").sortWithinPartitions("url_hash"),
        )

    def _write_seen_keys(
        self, round_no: int, new_keys: DataFrame, seen_prev: DataFrame
    ) -> None:
        """Delta write; every ``compact_every``-th ingest folds base+deltas
        into a fresh base, which bounds the snapshots a poll reads."""
        base_r = self.catalog.latest_existing("seen_keys", round_no - 1)
        n_deltas = sum(
            1
            for r in range(base_r + 1, round_no)
            if self.catalog.exists("seen_keys_delta", r)
        )
        if n_deltas + 1 >= self.compact_every:
            self._write_seen_base(round_no, seen_prev.unionByName(new_keys))
        else:
            self.catalog.write("seen_keys_delta", round_no, new_keys.coalesce(4))

    def _prune_seen_deltas(self) -> None:
        """Post-commit: drop snapshots superseded by a newer base/fold —
        deltas at or before the newest seen_keys base and older bases
        (read paths only ever touch the newest of each, so a crash
        mid-prune just leaves unread garbage)."""
        latest = self.catalog.latest_round()
        if latest is None:
            return
        base_r = self.catalog.latest_existing("seen_keys", latest)
        if base_r is not None:
            self.catalog.prune_upto("seen_keys_delta", base_r)
            self.catalog.prune_upto("seen_keys", base_r - 1)
        cur_r = self.catalog.latest_existing("cursors", latest)
        if cur_r is not None:
            self.catalog.prune_upto("cursors", cur_r - 1)
        self.catalog.prune_upto("tokens", latest - 1)
        self.catalog.prune_upto("pending", latest - 1)

    # ----------------------------------------------------------------- cursors
    # cursors(source, last_url, published_ts, url_hash, round): the newest
    # admitted link per source under the (published_ts, url_hash) total
    # order. The ordering keys are persisted precisely so the next batch
    # FOLDS into them (prev ⊕ batch-max) instead of re-aggregating the
    # whole pending slice per poll (round-2 verdict item 3).
    @staticmethod
    def _newest_per_source(admitted: DataFrame) -> list[dict]:
        """One aggregate over admitted rows, collected: per source, the
        row count ``n`` and the newest link (Spark's ``max_by`` order)."""
        pick = F.max_by(
            F.struct(
                F.col("canonical_url").alias("last_url"),
                "published_ts",
                "url_hash",
            ),
            F.struct("published_ts", "url_hash"),
        ).alias("__c")
        agg = admitted.groupBy("source").agg(F.count("*").alias("n"), pick)
        return agg.select("source", "n", "__c.*").toArrow().to_pylist()

    @staticmethod
    def _fold_cursors(
        prev: list[dict], batch: list[dict], round_no: int
    ) -> list[dict]:
        """prev ⊕ batch on the driver, in the order ``max_by`` uses on
        ``struct(published_ts, url_hash)``: a null timestamp sorts below
        every real one, and ``url_hash`` breaks ties."""

        def key(r):
            return (r["published_ts"] is not None, r["published_ts"], r["url_hash"])

        best: dict[str, dict] = {}
        for r in prev + batch:
            cur = best.get(r["source"])
            if cur is None or key(r) > key(cur):
                best[r["source"]] = r
        cols = ("source", "last_url", "published_ts", "url_hash")
        return [
            {**{c: r[c] for c in cols}, "round": round_no}
            for _src, r in sorted(best.items())
        ]

    # ------------------------------------------------------------------ ingest
    @staticmethod
    def _admit(seed: DataFrame, seen: DataFrame | None) -> DataFrame:
        """Seed links → the pending rows they admit: canonicalized,
        hashed, first-wins deduplicated and, when ``seen`` is given, not
        already seen; each row pending, untried, with its priority."""
        fresh = seen_set.ingest_batch(with_url_columns(seed, "url"), seen)
        return fresh.select(
            "url",
            "canonical_url",
            "url_hash",
            "host",
            "source",
            F.pmod(F.col("url_hash"), F.lit(3)).cast("int").alias("priority"),
            "published_ts",
            "discovery_time",
            F.lit(schemas.STATUS_PENDING).alias("status"),
            F.lit(0).alias("tried_count"),
            F.lit(None).cast("int").alias("last_tried_round"),
        )

    def ingest(self, seed: DataFrame) -> None:
        """Seed list → frontier round 0: canonicalize, hash, first-wins
        dedup (the URL-seen set), initial pending state, seen-keys base,
        per-source cursors.
        """
        self.catalog.write("pending", 0, self._admit(seed, seen=None))
        self.catalog.write_rows("done", 0, [], schemas.FRONTIER)
        # derive downstream state from the WRITTEN snapshot — recomputing
        # from the admitted rows would re-run seed→canonicalize→dedup
        admitted = self._read_pending(0)
        self._write_seen_base(0, admitted.select("url_hash", "canonical_url"))
        cursors = self._fold_cursors([], self._newest_per_source(admitted), 0)
        self.catalog.write_rows("cursors", 0, cursors, schemas.CURSORS)
        self.catalog.write_rows("tokens", 0, [], schemas.TOKENS)
        self.catalog.commit(0)
        self._eligible_left = None  # recount on first step

    def ingest_incremental(self, seed: DataFrame) -> int:
        """Fresh-pipeline ingest (ST2/ST3): a new seed batch becomes its own
        committed *discovery round* — deduped against every canonical URL
        ever admitted and merged into the pending slice. Returns the number
        of new URLs admitted.

        This is the engine analog of the 15 s link-poll: at-least-once
        re-delivery of old links is absorbed here exactly like the
        reference's ON CONFLICT DO NOTHING (database_manager.py:272-273).
        Steady-state cost per poll is O(|batch|) work + a bounded number
        of snapshot reads: the seen side is the compacted ``seen_keys``
        base ⊕ ≤compact_every deltas (never a per-round `done` union),
        and the cursors fold prev ⊕ batch instead of re-scanning
        pending.
        """
        # a crashed earlier attempt may have left uncommitted round dirs
        # (say, a compacted seen_keys base at the round this call is about
        # to commit); clean first so a direct ingest_incremental() after a
        # crash (without run()) never commits a half-written snapshot
        self.catalog.drop_uncommitted()
        prev = self.catalog.latest_round()
        if prev is None:
            raise RuntimeError("ingest() first — no committed round 0")
        round_no = prev + 1
        prev_pending = self._read_pending(prev)
        seen = self._read_seen_keys(prev)
        new_rows = self._admit(seed, seen).cache()
        # one aggregate: the admitted count and the batch's cursor rows
        # (it also materializes the cache the writes below read)
        batch = self._newest_per_source(new_rows)
        n_new = sum(r["n"] for r in batch)
        # discovery round = pure additions (nothing popped)
        self.catalog.write("pending", round_no, prev_pending.unionByName(new_rows))
        # tokens are unchanged by a discovery round — metadata-only copy,
        # not a Spark read+write job
        self.catalog.copy_snapshot("tokens", prev, round_no)
        new_keys = new_rows.select("url_hash", "canonical_url")
        self._write_seen_keys(round_no, new_keys, seen)
        prev_cur_r = self.catalog.latest_existing("cursors", prev)
        prev_cursors = self.catalog.read_rows("cursors", prev_cur_r, schemas.CURSORS)
        cursors = self._fold_cursors(prev_cursors, batch, round_no)
        self.catalog.write_rows("cursors", round_no, cursors, schemas.CURSORS)
        self.catalog.commit(round_no)
        self._prune_seen_deltas()
        new_rows.unpersist()
        if self._eligible_left is not None:
            self._eligible_left += n_new  # admitted rows are all eligible
        return n_new

    # ------------------------------------------------------------------ rounds
    def _budgets(
        self, allowed: DataFrame, tokens_round: int
    ) -> dict[str, tuple[int, int]]:
        """Token-bucket refill per host with allowed pending work, from
        one per-host count of ``allowed`` (collected) and the carried
        tokens (read on the driver): host → (budget, pops). budget =
        min(cap, carry + refill); pops = min(budget, backlog) is exactly
        the number of rows ``pop_round`` takes for the host."""
        carry = {
            r["host"]: r["tokens"]
            for r in self.catalog.read_rows("tokens", tokens_round, schemas.TOKENS)
        }
        out = {}
        for r in allowed.groupBy("host").count().collect():
            refill, cap = self._buckets.get(r["host"], (None, None))
            refill = self.default_refill if refill is None else refill
            cap = 2 * self.default_refill if cap is None else cap
            budget = min(cap, (carry.get(r["host"]) or 0) + refill)
            out[r["host"]] = (budget, max(0, min(budget, r["count"])))
        return out

    def _budget_frame(self, budgets: dict[str, tuple[int, int]]) -> DataFrame:
        """The (host, budget) dim ``pop_round`` joins, as a local
        relation."""
        return self.spark.createDataFrame(pa.table({
            "host": pa.array(list(budgets), pa.string()),
            "budget": pa.array([b for b, _n in budgets.values()], pa.int32()),
        }))

    def step(self, round_no: int) -> RoundStats:
        """Execute round ``round_no`` (requires round ``round_no-1``
        committed). Idempotent: re-running after a crash overwrites the
        uncommitted outputs and commits once."""
        prev = round_no - 1
        pending = self._read_pending(prev)

        eligible = frontier_ops.eligible(pending, self.max_retries)
        allowed = frontier_ops.allowed_by_robots(eligible, self.robots)
        # budgets are collected once: they drive the pop, size the fetch
        # stage and, less the pops, become the next round's tokens
        budgets = self._budgets(allowed, prev)
        popped = frontier_ops.pop_round(
            allowed, self._budget_frame(budgets), salts=self._pop_salts
        ).cache()

        # size the python fetch stage by ROWS, not bytes (each row costs
        # ~1 ms of python): ~500 rows/task, capped at 2×cores; tiny rounds
        # stay single-task instead of paying 2×cores task launches
        n_popped = sum(n for _b, n in budgets.values())
        sc = self.spark.sparkContext
        parts = max(1, min(2 * sc.defaultParallelism, (n_popped + 499) // 500))
        fetched = fetch_extract_pages(popped, partitions=parts).cache()
        docs = documents_from_fetch_extract(fetched).withColumn(
            "fetched_round", F.lit(round_no)
        )

        # ---- per-round accounting: one aggregate over the fetch outcomes
        # (it also materializes the popped and fetched caches) -------------
        per_host = (
            fetched.groupBy("host")
            .agg(
                F.count("*").alias("popped"),
                F.sum(F.col("ok").cast("long")).alias("fetched_ok"),
                F.sum((~F.col("ok")).cast("long")).alias("fetched_fail"),
                F.sum(
                    ((~F.col("ok")) & (F.col("tried_count") + 1 >= self.max_retries))
                    .cast("long")
                ).alias("marked_failed"),
            )
            .collect()
        )
        lineage = sorted(
            ({"round": round_no, **r.asDict()} for r in per_host),
            key=lambda r: r["host"],
        )
        n_ok = sum(r["fetched_ok"] for r in lineage)
        n_fail = sum(r["fetched_fail"] for r in lineage)
        n_marked_failed = sum(r["marked_failed"] for r in lineage)
        tokens_next = [
            {"host": h, "tokens": b - n} for h, (b, n) in budgets.items()
        ]

        # ---- MERGE-equivalent state transition ----------------------------
        outcomes = fetched.select(
            "url_hash",
            "canonical_url",
            F.col("ok"),
        )
        updated = (
            popped.join(outcomes, ["url_hash", "canonical_url"], "inner")
            .withColumn(
                "tried_count",
                F.when(F.col("ok"), F.col("tried_count")).otherwise(
                    F.col("tried_count") + 1
                ),
            )
            .withColumn(
                "status",
                F.when(F.col("ok"), F.lit(schemas.STATUS_COMPLETED))
                .when(
                    F.col("tried_count") >= self.max_retries,
                    F.lit(schemas.STATUS_FAILED),
                )
                .otherwise(F.lit(schemas.STATUS_PENDING)),
            )
            .withColumn("last_tried_round", F.lit(round_no))
            .drop("ok")
        )
        still_pending = updated.filter(F.col("status") == schemas.STATUS_PENDING)
        finished = updated.filter(F.col("status") != schemas.STATUS_PENDING)

        next_pending = (
            pending.join(
                popped.select("url_hash", "canonical_url"),
                ["url_hash", "canonical_url"],
                "left_anti",
            )
            .unionByName(still_pending)
        )
        pops_log = popped.select(
            F.lit(round_no).alias("round"),
            "host",
            "canonical_url",
            "priority",
            "published_ts",
            "url_hash",
        )

        self.catalog.write("pending", round_no, next_pending)
        # done is append-only; on the compaction cadence the per-round
        # snapshots fold into a ``done_base`` snapshot so the read path
        # touches O(compact_every) dirs, not one per round forever. The
        # base/delta split (instead of an in-place merged "done" write)
        # keeps a crash between commit and prune from double-counting:
        # the read path ignores deltas at or before the newest base.
        compact_done = round_no % self.compact_every == 0
        if compact_done:
            self.catalog.write(
                "done_base",
                round_no,
                self._read_done(prev).unionByName(finished),
            )
        else:
            self.catalog.write("done", round_no, finished.coalesce(4))
        self.catalog.write("docs", round_no, docs)
        self.catalog.write("pops", round_no, pops_log.coalesce(4))
        lineage_tbl = self.catalog.write_rows(
            "lineage", round_no, lineage, schemas.LINEAGE
        )
        self.catalog.write_rows("tokens", round_no, tokens_next, schemas.TOKENS)
        if compact_done:
            # fold the pops/lineage LOGS on the same cadence (round-4 GC:
            # without this, one tiny dir per round accretes forever — at
            # 10^6 polls that is 10^6 directories of metadata). docs is
            # exempt: it is the append-only DATA product (Iceberg-append
            # analog), not a log.
            parts = max(4, self.spark.sparkContext.defaultParallelism)
            deltas = (
                ("pops", pops_log),
                ("lineage", self.spark.createDataFrame(lineage_tbl)),
            )
            for table, delta in deltas:
                try:
                    prior = self._read_accreted(table, prev)
                    merged = prior.unionByName(delta)
                except FileNotFoundError:
                    merged = delta
                self.catalog.write(
                    f"{table}_base", round_no, merged.coalesce(parts)
                )

        # pending_left by lineage arithmetic — NOT a rescan of the written
        # pending slice (at 10^10 rows that second scan per round is real
        # I/O): every popped row leaves the eligible set, and the failed-
        # but-retryable ones re-enter it. The baseline is counted once per
        # engine lifetime (fresh start or resume), then carried.
        if self._eligible_left is None:
            self._eligible_left = pending.filter(
                (F.col("status") == schemas.STATUS_PENDING)
                & (F.col("tried_count") < self.max_retries)
            ).count()
        pending_left = self._eligible_left - n_popped + (n_fail - n_marked_failed)
        self.catalog.commit(round_no)
        # post-commit GC: every prune below removes only snapshots that a
        # read at any committed round can no longer resolve to (the newer
        # base/snapshot this round just committed supersedes them), so a
        # crash mid-prune just leaves unread garbage for the next round.
        if compact_done:
            self.catalog.prune_upto("done", round_no)
            self.catalog.prune_upto("done_base", round_no - 1)
            for table in ("pops", "lineage"):
                self.catalog.prune_upto(table, round_no)
                self.catalog.prune_upto(f"{table}_base", round_no - 1)
        # tokens: only the newest snapshot is ever read (next step's prev)
        self.catalog.prune_upto("tokens", round_no - 1)
        # pending: only the newest slice is ever reread
        self.catalog.prune_upto("pending", round_no - 1)
        # cache update only after the commit: a failed commit + step retry
        # would otherwise apply the recurrence twice
        self._eligible_left = pending_left
        popped.unpersist()
        fetched.unpersist()
        return RoundStats(round_no, n_popped, n_ok, n_popped - n_ok, pending_left)

    def run(self, max_rounds: int = 1000) -> list[RoundStats]:
        """Run from the last committed round to quiescence. Safe to call on
        a fresh engine (after ingest) or on a crashed workdir (resume)."""
        self.catalog.drop_uncommitted()
        start = self.catalog.latest_round()
        if start is None:
            raise RuntimeError("ingest() first — no committed round 0")
        stats: list[RoundStats] = []
        rnd = start + 1
        while rnd <= start + max_rounds:
            s = self.step(rnd)
            stats.append(s)
            if s.popped == 0 or s.pending_left == 0:
                break
            rnd += 1
        return stats

    # ------------------------------------------------------------------ views
    def pops_in_order(self) -> DataFrame:
        """The authoritative crawl-order log: (round, host, url) sorted by
        the same total order the oracle uses."""
        return self._read_accreted("pops", self.catalog.latest_round()).orderBy(
            "round", "host", "priority", "published_ts", "url_hash"
        )

    def lineage(self) -> DataFrame:
        """Per-(round, host) fetch counters — the Prometheus-metrics
        analog (base ⊕ deltas; folded on the compaction cadence)."""
        return self._read_accreted("lineage", self.catalog.latest_round())

    def final_frontier(self) -> DataFrame:
        last = self.catalog.latest_round()
        pending = self._read_pending(last)
        done = self._read_done(last)
        return pending.unionByName(done)

    def documents(self) -> DataFrame:
        return self.catalog.read_all("docs")
