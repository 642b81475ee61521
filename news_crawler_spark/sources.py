"""Link-discovery sources: archive/RSS/sitemap scans as dataflow
(SURVEY.md §2.1 S1-S6, §2.2 P4-P6, §2.5 T2-T4).

The reference discovers links by paginating per-day HTML archives (ISNA
collectors/isna/daily_links_collector.py:138-186, IRNA :122-175), RSS
feeds (collectors/irna/fresh_links_collector.py:28-103), and per-day
sitemaps (Tasnim collectors/tasnim/daily_links_collector.py:23-67, Donya
:62-118, Shargh :61-166) — per-row Python loops over parsed pages.

Spark restatement: discovery snapshots land as ONE table
``feed_pages(source, feed_kind, day, page_idx, items array<struct<...>>)``
(each row = one fetched archive page / feed / sitemap, whatever the
transport), and link collection is a single declarative pass:
explode → day-window filter (P4) → future-date skip (P5) → non-article
URL filter (P6) → newest-first order (T2) → per-source cursor cut (T3)
→ new cursors (T4). In-sandbox the snapshots are synthesized
deterministically from the same hash functions as the page corpus.
"""

from __future__ import annotations

from datetime import date, datetime, time, timedelta
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import synth
from .functions.xxh64 import xxh64_str

FEED_PAGES_SCHEMA = (
    "source string, feed_kind string, day date, page_idx int, "
    "items array<struct<url:string,published_ts:timestamp,pub_raw:string>>"
)

# F5: raw date-string transports, per feed kind. RSS pubDate arrives as
# RFC-822 (collectors/irna/fresh_links_collector.py:73-77); sitemap
# lastmod as ISO-8601 (donyaye_eghtesad/daily_links_collector.py:77,105).
# Archive pages carry Persian datetimes, parsed upstream (functions/
# persian.py) into typed timestamps.
_RFC822_KINDS = ("rss",)
_ISO_KINDS = ("sitemap", "sitemap_index", "sitemap_b64")

_FEED_KIND = {"isna": "archive", "irna": "rss", "tasnim": "sitemap",
              "donya": "sitemap_index", "shargh": "sitemap_b64"}

_EPOCH_DAY = date(2024, 6, 1)


def _u(h: int) -> int:
    return h & 0xFFFFFFFFFFFFFFFF


def feed_page_items(source: str, day: date, page_idx: int) -> list[dict]:
    """Deterministic items of one discovery page: mostly same-day article
    URLs, plus the noise the reference filters out — a few next-day items
    (P5 future-date skip), prev-day spillover (P4 day-window), and
    digit-free section URLs (P6 non-article filter)."""
    key = f"page:{source}:{day.isoformat()}:{page_idx}"
    n = 6 + _u(xxh64_str(key)) % 6
    items = []
    for slot in range(n):
        h = _u(xxh64_str(f"{key}:{slot}"))
        art_key = h % 5000
        src, _host, url = synth.clean_url(art_key)
        if src != source:  # keep per-source pages on their own URLs
            url = url.replace(_host_of(src), _host_of(source))
        kind = h % 10
        if kind == 7:  # non-article URL: no digits (P6)
            url = f"https://{_host_of(source)}/section/politics-overview"
            ts = datetime.combine(day, time(12, 0))
        elif kind == 8:  # future-dated leak (P5)
            ts = datetime.combine(day + timedelta(days=1), time(1, 0))
        elif kind == 9:  # previous-day spillover (P4)
            ts = datetime.combine(day - timedelta(days=1), time(23, 0))
        else:
            ts = datetime.combine(day, time(0, 0)) + timedelta(
                seconds=int(h % 86400)
            )
        # F5: RSS/sitemap transports carry the date as a STRING only —
        # the typed timestamp must come from parsing it (collect_links);
        # archive items are born typed (Persian datetime path).
        fk = _FEED_KIND[source]
        if fk in _RFC822_KINDS:
            items.append({
                "url": url, "published_ts": None,
                "pub_raw": ts.strftime("%a, %d %b %Y %H:%M:%S +0000"),
            })
        elif fk in _ISO_KINDS:
            items.append({
                "url": url, "published_ts": None,
                "pub_raw": ts.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
            })
        else:
            items.append({"url": url, "published_ts": ts, "pub_raw": None})
    return items


def _host_of(source: str) -> str:
    return {s: h for s, h, _w in synth.SOURCES}[source]


def synth_feed_pages(
    spark: SparkSession, days: int = 3, pages_per_day: int = 4
) -> DataFrame:
    """Synthetic discovery snapshot table — distributed generation, one
    row per (source, day, page)."""
    srcs = [s for s, _h, _w in synth.SOURCES]
    n = len(srcs) * days * pages_per_day
    rng = spark.range(0, n, numPartitions=spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                source = srcs[i % len(srcs)]
                day = _EPOCH_DAY + timedelta(days=(i // len(srcs)) % days)
                page_idx = i // (len(srcs) * days)
                rows.append(
                    {
                        "source": source,
                        "feed_kind": _FEED_KIND[source],
                        "day": day,
                        "page_idx": page_idx,
                        "items": feed_page_items(source, day, page_idx),
                    }
                )
            yield pd.DataFrame(rows)

    return rng.mapInPandas(gen, schema=FEED_PAGES_SCHEMA)


def parse_pub_date(feed_kind: Column | str, pub_raw: Column | str) -> Column:
    """F5: typed timestamp from the transport's raw date string.

    RSS pubDate is RFC-822 ("Mon, 03 Jun 2024 14:22:05 +0000",
    collectors/irna/fresh_links_collector.py:73-77); sitemap lastmod is
    ISO-8601 ("2024-06-03T14:22:05+00:00",
    donyaye_eghtesad/daily_links_collector.py:77,105). Spark's pattern
    letter 'E' is format-only, so the RFC-822 weekday prefix is stripped
    before ``to_timestamp`` — exactly what feedparser does with it
    (ignores it; the date fields are authoritative). Unparseable strings
    → NULL → dropped by the day-window filter, never a job abort:
    ``try_to_timestamp``, because ANSI ``to_timestamp`` aborts the whole
    job on one malformed feed entry — at web scale there is always one.
    """
    kind = F.col(feed_kind) if isinstance(feed_kind, str) else feed_kind
    raw = F.col(pub_raw) if isinstance(pub_raw, str) else pub_raw
    rfc822 = F.try_to_timestamp(
        F.regexp_replace(raw, r"^[A-Za-z]{3},\s*", ""),
        F.lit("dd MMM yyyy HH:mm:ss Z"),
    )
    iso = F.try_to_timestamp(raw, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX"))
    return F.when(kind.isin(*_RFC822_KINDS), rfc822).otherwise(iso)


def collect_links(feed_pages: DataFrame) -> DataFrame:
    """S1-S6 link collection as one declarative pass.

    explode(items) → type the publish date (born-typed for archive kinds,
    string-parsed RFC-822/ISO for RSS/sitemap kinds — F5) → keep same-day
    articles only (P4+P5: ``to_date(ts) == page day`` subsumes both the
    day-window and the future-date skip) → drop URLs without a digit (P6,
    shargh/historical_links_collector.py:133-136) → newest-first (T2).
    One scan, no python.
    """
    it = F.explode("items").alias("it")
    return (
        feed_pages.select("source", "feed_kind", "day", it)
        .select(
            "source",
            "day",
            F.col("it.url").alias("url"),
            F.coalesce(
                F.col("it.published_ts"),
                parse_pub_date(F.col("feed_kind"), F.col("it.pub_raw")),
            ).alias("published_ts"),
        )
        .filter(F.to_date("published_ts") == F.col("day"))     # P4 + P5
        .filter(F.col("url").rlike("[0-9]"))                    # P6
        .orderBy(F.desc("published_ts"), F.desc("url"))         # T2
    )


def cursor_cut(links: DataFrame, cursors: DataFrame) -> DataFrame:
    """T3: per-source 'take until last seen' — keep links strictly newer
    in the feed order than the cursor URL (the reference iterates
    newest→oldest and stops at ``last_seen_link``,
    collectors/irna/fresh_links_collector.py:125-137).

    ``cursors`` is small (one row per source: source, last_url) →
    broadcast. Links whose source has no cursor pass through whole.

    Feed order is (published_ts DESC, url DESC) — ONE tie-break direction
    everywhere: "newer" means the tuple (published_ts, url) is strictly
    greater, which is exactly what ``latest_cursors`` maximizes. A late
    link that ties the cursor's timestamp is kept iff its url sorts
    above the cursor url, so a sweep never drops a link that a later
    sweep would have kept.
    """
    w = Window.partitionBy("source").orderBy(
        F.desc("published_ts"), F.desc("url")
    )
    ranked = links.withColumn("__rn", F.row_number().over(w))
    cur = ranked.join(
        F.broadcast(cursors.select("source", "last_url")), "source", "left"
    )
    cut_rank = (
        cur.filter(F.col("url") == F.col("last_url"))
        .groupBy("source")
        .agg(F.min("__rn").alias("__cut"))
    )
    return (
        cur.join(F.broadcast(cut_rank), "source", "left")
        .filter(F.col("__cut").isNull() | (F.col("__rn") < F.col("__cut")))
        .drop("__rn", "__cut", "last_url")
    )


def latest_cursors(links: DataFrame) -> DataFrame:
    """T4: the new per-source cursor = newest link in this sweep."""
    return links.groupBy("source").agg(
        F.max_by("url", F.struct("published_ts", "url")).alias("last_url"),
        F.max("published_ts").alias("last_ts"),
    )


def discover(
    spark: SparkSession,
    feed_pages: DataFrame,
    cursors: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full discovery sweep: (fresh links ready for engine ingest, new
    cursors). The output schema matches schemas.SEED_LIST + day."""
    links = collect_links(feed_pages)
    if cursors is not None:
        links = cursor_cut(links, cursors)
    fresh = links.select(
        "source",
        "url",
        "published_ts",
        F.col("published_ts").alias("discovery_time"),
    )
    return fresh, latest_cursors(links)

