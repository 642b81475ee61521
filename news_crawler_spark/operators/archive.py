"""WARC-style archival segments: concatenated records + byte-offset index.

The reference stores each crawled article as a row in MySQL
(``news_storage/`` writers); web-scale crawls store fetched content the
Common Crawl way instead — records CONCATENATED into large immutable
segment blobs plus a (doc → segment, offset, length) index, so reading
one document is a ranged GET on object storage, never a scan, and the
segment count (not the document count) sets the file-listing and
small-object bill. This module is that layout as pure DataFrame ops:

- ``pack_segments``: assign each document to a segment (md5 bucket —
  deterministic, so both engines and any re-run agree), prefix each
  payload with a tiny ASCII header (``WARC <doc_id> <payload-bytes>\\n``
  — enough to re-identify a record when walking a blob without the
  index, the property real WARC headers exist for), compute per-record
  byte offsets with one running-sum window INSIDE each segment, and
  fold the records into one binary blob per segment with an ordered
  ``aggregate`` — all JVM-side (encode/concat/substring are codegen'd
  on binary; no Python touches the bytes).
- ``read_records``: the range-read path — join the index against the
  (few, broadcast) segment blobs and slice ``substring(blob,
  payload_offset+1, payload_length)``; locally the substring stands in
  for the ranged GET, and the decode back to text is byte-exact.

Scale shape: records shuffle ONCE on segment_id (16-byte key + the
record bytes — the unavoidable write path); the running-offset window
and the ordered fold both run per segment partition. Segment size is
controlled by ``n_segments`` at call site (at 100 TB you size it so a
blob is a few hundred MB — the object-store sweet spot); the index is
the only thing later queries shuffle. Reads never open a blob a doc_id
doesn't live in — the index prunes blobs the way partition pruning prunes
a partitioned table's directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_segments(
    docs: DataFrame,
    n_segments: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Pack ``(id, text)`` rows into archival segments.

    Returns ``(index, segments)``: the index carries one row per doc —
    ``(doc_id, segment_id, offset, length, payload_offset,
    payload_length)`` in BYTES (utf-8 octets, not characters — the
    Persian corpus makes the difference real) — and ``segments`` one
    row per segment ``(segment_id, blob, n_records, total_bytes)``.
    Offsets are 0-based from the start of the blob; ``offset`` points
    at the record header, ``payload_offset`` past it. Records are laid
    out in ``id`` order within a segment — deterministic, re-run
    identical (the j-gate md5 convention)."""
    payload = F.encode(F.col(text_col).cast("string"), "UTF-8")
    header = F.encode(
        F.concat(
            F.lit("WARC "),
            F.col(id_col).cast("string"),
            F.lit(" "),
            F.octet_length(payload).cast("string"),
            F.lit("\n"),
        ),
        "UTF-8",
    )
    seg = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("long")
        % n_segments
    )
    rec = docs.select(
        F.col(id_col).alias("doc_id"),
        seg.alias("segment_id"),
        F.concat(header, payload).alias("record"),
        F.octet_length(header).cast("long").alias("__hdr"),
        F.octet_length(payload).cast("long").alias("payload_length"),
    ).withColumn("length", (F.col("__hdr") + F.col("payload_length")))
    w = (
        Window.partitionBy("segment_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    indexed = rec.withColumn(
        "offset", F.coalesce(F.sum("length").over(w), F.lit(0)).cast("long")
    ).withColumn("payload_offset", (F.col("offset") + F.col("__hdr")).cast("long"))
    index = indexed.select(
        "doc_id",
        "segment_id",
        "offset",
        F.col("length").cast("long").alias("length"),
        "payload_offset",
        F.col("payload_length").cast("long").alias("payload_length"),
    )
    segments = (
        indexed.groupBy("segment_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("offset", "record"))).alias("__recs"),
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.sum("length").cast("long").alias("total_bytes"),
        )
        .select(
            "segment_id",
            F.expr(
                "aggregate(__recs, cast('' as binary),"
                " (acc, r) -> concat(acc, r.record))"
            ).alias("blob"),
            "n_records",
            "total_bytes",
        )
    )
    return index, segments


def read_records(index: DataFrame, segments: DataFrame) -> DataFrame:
    """The range-read path: slice each indexed record's payload back out
    of its segment blob and decode — ``(doc_id, segment_id, offset,
    length, text)``, byte-exact vs the packed input. Blobs are few and
    broadcast; the substring is the local stand-in for a ranged GET on
    object storage (offset/length are exactly the HTTP Range header a
    cluster reader sends)."""
    return index.join(
        F.broadcast(segments.select("segment_id", "blob")), "segment_id"
    ).select(
        "doc_id",
        "segment_id",
        "offset",
        "length",
        F.decode(
            F.expr("substring(blob, payload_offset + 1, payload_length)"),
            "UTF-8",
        ).alias("text"),
    )


def cdx_resolve(captures: DataFrame) -> DataFrame:
    """CDX-index latest-capture resolution with revisit accounting.

    A long-running crawl captures the same URL many times; the archive
    index (Common Crawl / Wayback CDX: one line per capture, keyed by
    SURT urlkey + timestamp + content digest) answers "what is the
    CURRENT content of this URL, and which capture actually stores its
    bytes?" — because a re-fetch whose digest matches an earlier capture
    is written as a *revisit* record that points at the original instead
    of storing the payload again (WARC ``revisit`` semantics; the
    reference re-stores every fetch as a fresh MySQL row,
    news_storage/news_repository.py, so it has no revisit notion).

    Input: ``(urlkey, capture_ts, digest)`` — one row per capture;
    ``capture_ts`` must be unique within a urlkey (real CDX timestamps
    are second-resolution and deduped at write). Output, one row per
    urlkey:

    - ``n_captures`` / ``n_digests`` — total captures and distinct
      contents; ``n_revisits = n_captures - n_digests`` (every capture
      after the first with a given digest stored no payload).
    - ``latest_ts`` / ``latest_digest`` — the newest capture.
    - ``latest_payload_ts`` — where the newest capture's BYTES live:
      the first time its digest was ever captured (the record a ranged
      GET must read; equals latest_ts iff the newest capture was fresh).
    - ``latest_is_revisit`` — whether the newest capture deduped.

    Scale shape: two aggregations, both keyed by urlkey, both map-side
    combined — the first collapses captures to one row per (urlkey,
    digest), the second reduces the (few) digest rows per urlkey with
    ``max_by`` on last-capture time. No window over the capture stream,
    no self-join; the shuffle carries digest summaries, not captures. A
    10^10-capture index resolves with byte traffic proportional to
    distinct contents."""
    per_digest = captures.groupBy("urlkey", "digest").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("capture_ts").alias("first_ts"),
        F.max("capture_ts").alias("last_ts"),
    )
    return per_digest.groupBy("urlkey").agg(
        F.sum("n").cast("long").alias("n_captures"),
        F.count(F.lit(1)).cast("long").alias("n_digests"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_revisits"),
        F.max("last_ts").alias("latest_ts"),
        F.max_by("digest", "last_ts").alias("latest_digest"),
        F.max_by("first_ts", "last_ts").alias("latest_payload_ts"),
        (F.max_by("first_ts", "last_ts") < F.max("last_ts")).alias(
            "latest_is_revisit"
        ),
    )


def revalidation_plan(captures: DataFrame) -> DataFrame:
    """Conditional-GET (If-None-Match / 304) accounting per urlkey —
    how much of the recrawl bill a validator-aware fetcher avoids.

    A recrawl scheduler (t8/t9) decides WHEN to refetch; HTTP
    revalidation decides HOW MUCH a refetch costs: send the previous
    capture's validator (ETag ≡ content digest here) and a
    well-behaved origin answers ``304 Not Modified`` with NO body
    whenever the content is unchanged *since the immediately previous
    capture*. That "since the previous capture" is the semantic line
    between this and ``cdx_resolve``'s WARC-revisit accounting: a
    revisit dedups against ANY earlier capture (an A-B-A history makes
    the second A a revisit), but a conditional GET only carries the
    LAST capture's validator, so the second A transfers its full body
    (the previous digest was B). The reference refetches
    unconditionally and re-stores every body
    (collectors/*/news_crawler.py + news_storage writers — no
    validator is kept anywhere), so at 10^10 URLs its recrawl bill is
    every page, every time.

    Input: ``(urlkey, capture_ts, digest, n_bytes)`` — one row per
    capture, ``capture_ts`` unique within a urlkey, ``n_bytes`` the
    body size that capture transferred (or would have). Output, one
    row per urlkey:

    - ``n_captures`` / ``n_refetches`` — total captures; captures
      after the first (only those can revalidate).
    - ``n_not_modified`` — refetches whose digest equals the previous
      capture's (a 304: header-only exchange).
    - ``n_modified = n_refetches − n_not_modified``.
    - ``bytes_saved`` — sum of body bytes over 304s (never sent).
    - ``bytes_fetched`` — first capture + every modified body.

    Scale shape: ONE shuffle on urlkey — the lag window hash-partitions
    on urlkey and the final aggregation reuses that partitioning
    (Catalyst emits no second exchange; plan-asserted in tests). The
    shuffle carries captures once; no self-join, no second pass."""
    w = Window.partitionBy("urlkey").orderBy("capture_ts")
    not_mod = (
        F.lag("digest").over(w).isNotNull()
        & (F.col("digest") == F.lag("digest").over(w))
    ).cast("int")
    first = F.lag("digest").over(w).isNull().cast("int")
    classified = captures.select(
        "urlkey",
        "n_bytes",
        not_mod.alias("__nm"),
        first.alias("__first"),
    )
    return classified.groupBy("urlkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_captures"),
        (F.count(F.lit(1)) - F.sum("__first")).cast("long").alias("n_refetches"),
        F.sum("__nm").cast("long").alias("n_not_modified"),
        (F.count(F.lit(1)) - F.sum("__first") - F.sum("__nm"))
        .cast("long")
        .alias("n_modified"),
        F.sum(F.col("n_bytes") * F.col("__nm")).cast("long").alias("bytes_saved"),
        F.sum(F.col("n_bytes") * (1 - F.col("__nm")))
        .cast("long")
        .alias("bytes_fetched"),
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Classify every URL across two crawl snapshots: ``added`` (new
    only), ``gone`` (old only), ``changed`` (both, digest differs),
    ``unchanged`` — the index-maintenance diff a continuous crawl
    publishes per cycle (what must be re-extracted, what must be
    tombstoned downstream). The reference has no snapshot notion at
    all — its MySQL table only ever accretes rows.

    Inputs: two frames of ``(urlkey, digest)``, one row per URL per
    snapshot (the shape ``cdx_resolve``'s latest_digest produces).
    Output: ``(urlkey, status, old_digest, new_digest)``, one row per
    URL present in either snapshot.

    Scale shape: ONE full-outer join on urlkey and nothing else. Both
    sides are latest-capture tables (|URLs|, not |captures|); stored
    surt-sorted/bucketed on urlkey (the f3 layout) the join needs no
    shuffle at all — two co-ordered scans merge. Statuses are a pure
    projection over the join's null pattern."""
    o = old.select(
        F.col("urlkey"), F.col("digest").alias("old_digest")
    )
    n = new.select(
        F.col("urlkey"), F.col("digest").alias("new_digest")
    )
    j = o.join(n, "urlkey", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "gone")
        .when(F.col("old_digest") != F.col("new_digest"), "changed")
        .otherwise("unchanged")
    )
    return j.select("urlkey", status.alias("status"), "old_digest", "new_digest")
