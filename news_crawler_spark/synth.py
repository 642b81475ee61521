"""Deterministic synthetic crawl corpus — replaces the network in-sandbox.

Everything is a pure function of the row index / URL via XXH64, so the
engine (Spark, vectorized) and the pytest oracle (pure Python) reconstruct
identical inputs with no shared state, no wall clock, no RNG state.

URL shapes mirror the reference's five sources (FIXTURES.md §2.1):
  ISNA    collectors/isna/daily_links_collector.py:12-14
  IRNA    collectors/irna/daily_links_collector.py:11-12
  Tasnim  collectors/tasnim/daily_links_collector.py:15
  Donya   collectors/donyaye_eghtesad/daily_links_collector.py:20-21
  Shargh  collectors/shargh/historical_links_collector.py:38-39

Dirty variants exercise canonicalization (missing scheme crawlers.py:20-21,
protocol-relative collectors/shargh/pages_collector.py:232-235, fragments,
utm params, uppercase hosts) and ~20% duplicates exercise the seen set
(ON CONFLICT DO NOTHING, database_manager.py:272-273). Host frequencies are
skewed (one dominant host) to exercise salting.

The synthetic page payload is a mini-markup of interleaved <p>/<img> blocks
derived from hash(url) — the extract stage parses it into (kind, text,
media_ref, offset) spans, and the pure-Python oracle extractor parses it
independently for the span-equality fixture. ~5% of fetches fail
(hash-selected) to drive tried_count/FAILED transitions
(database_manager.py:92-133).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .functions.xxh64 import xxh64_str
from . import schemas

# (source, host, weight) — ISNA dominates → hot-host skew
SOURCES = [
    ("isna", "www.isna.ir", 8),
    ("irna", "www.irna.ir", 5),
    ("tasnim", "www.tasnimnews.com", 3),
    ("donya", "donya-e-eqtesad.com", 2),
    ("shargh", "www.sharghdaily.com", 2),
]
_WEIGHT_TOTAL = sum(w for _, _, w in SOURCES)
_CUM = []
_acc = 0
for _s, _h, _w in SOURCES:
    _acc += _w
    _CUM.append((_acc, _s, _h))

_EPOCH_PUB = datetime(2024, 1, 1, tzinfo=timezone.utc)
_EPOCH_DISC = datetime(2024, 6, 1, tzinfo=timezone.utc)

_WORDS = (
    "news economy sport politics tech culture health energy market oil "
    "bank trade science art film society world city water power road"
).split()


def _u(h: int) -> int:
    """signed→unsigned 64-bit"""
    return h & 0xFFFFFFFFFFFFFFFF


def _slug(key: int) -> str:
    ws = []
    for j in range(3):
        ws.append(_WORDS[_u(xxh64_str(f"w:{key}:{j}")) % len(_WORDS)])
    return "-".join(ws)


def clean_url(art_key: int) -> tuple[str, str, str]:
    """(source, host, clean canonical-form URL) for article identity
    ``art_key`` — the canonical target every dirty variant resolves to."""
    pick = _u(xxh64_str(f"src:{art_key}")) % _WEIGHT_TOTAL
    for cum, source, host in _CUM:
        if pick < cum:
            break
    nid = 84000000 + art_key
    slug = _slug(art_key)
    if source in ("isna", "irna"):
        url = f"https://{host}/news/{nid}/{slug}"
    elif source == "tasnim":
        d = _u(xxh64_str(f"d:{art_key}")) % 28 + 1
        url = f"https://{host}/fa/news/1403/01/{d:02d}/{nid}/{slug}"
    else:
        section = _WORDS[_u(xxh64_str(f"sec:{art_key}")) % 6]
        url = f"https://{host}/{section}/{nid}-{slug}"
    return source, host, url


def dirty_variant(url: str, variant: int) -> str:
    """Apply a canonicalization-noise variant (all resolve to ``url``)."""
    v = variant % 8
    if v == 1:
        return url.removeprefix("https://")          # missing scheme
    if v == 2:
        return "//" + url.removeprefix("https://")   # protocol-relative
    if v == 3:
        scheme, rest = url.split("://", 1)
        host, path = rest.split("/", 1)
        return f"{scheme}://{host.upper()}/{path}"   # uppercase host
    if v == 4:
        return url + "#section-2"                    # fragment
    if v == 5:
        return url + "?utm_source=tg&utm_medium=social"  # tracking params
    if v == 6:
        scheme, rest = url.split("://", 1)
        host, path = rest.split("/", 1)
        return f"{scheme}://{host}:443/{path}"       # default port
    if v == 7:
        return url.replace("/news/", "/news//x/../") # dot segments
    return url


def seed_row(i: int) -> dict:
    """Pure function index → seed-list row. ~20% duplicates (a later row
    re-discovers an earlier article through a different dirty variant)."""
    h = _u(xxh64_str(f"seed:{i}"))
    if i > 0 and h % 5 == 0:
        art_key = (h >> 8) % i          # duplicate of an earlier article
    else:
        art_key = i
    source, _host, url = clean_url(art_key)
    variant = _u(xxh64_str(f"var:{i}")) % 8
    pub = _EPOCH_PUB + timedelta(
        seconds=int(_u(xxh64_str(f"pub:{art_key}")) % (90 * 86400))
    )
    disc = _EPOCH_DISC + timedelta(seconds=i)
    return {
        "source": source,
        "url": dirty_variant(url, variant),
        "published_ts": pub.replace(tzinfo=None),
        "discovery_time": disc.replace(tzinfo=None),
    }


def build_seed_list(
    spark: SparkSession, n: int, partitions: int | None = None, lo: int = 0
) -> DataFrame:
    """Distributed seed-list generation: ``spark.range`` + ``mapInPandas``
    (each partition generates its own rows — scales linearly, no driver
    materialization). ``lo`` slices a later window of the same
    deterministic sequence (incremental-discovery batches)."""
    rng = spark.range(lo, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([seed_row(int(i)) for i in pdf["id"]])

    return rng.mapInPandas(gen, schema=schemas.SEED_LIST)


# ---------------------------------------------------------------------------
# synthetic pages (the "network")

def page_ok(canonical_url: str) -> bool:
    """~5% of fetches fail, hash-selected (failure injection)."""
    return _u(xxh64_str(f"page:{canonical_url}")) % 20 != 0


# Per-source markup dialects (F12): the reference ships five hand-written
# per-source parser families (collectors/isna/page_parser.py:12-182,
# collectors/shargh/pages_collector.py:191-355 and peers) because each
# site wraps the same logical content in different markup. The synthetic
# twin reproduces that: same content (title words, paragraph words, image
# refs — all hash-derived), three wrapper dialects keyed by source.
_HOST_SRC = {h: s for s, h, _w in SOURCES}
SOURCE_DIALECT = {
    "isna": "classic", "irna": "classic",          # <title>/<p>/<img src>
    "tasnim": "divs", "donya": "divs",             # <h1>/<div class>/<figure>
    "shargh": "spans",                             # <meta>/<span class>/<img data-original>
}

_DIALECT_WRAP = {
    "classic": {
        "title": "<title>{0}</title>",
        "text": "<p>{0}</p>",
        "image": '<img src="{0}">',
    },
    "divs": {
        "title": '<h1 class="title">{0}</h1>',
        "text": '<div class="item-text">{0}</div>',
        "image": '<figure data-src="{0}"></figure>',
    },
    "spans": {
        "title": '<meta name="title" content="{0}">',
        "text": '<span class="body-text">{0}</span>',
        "image": '<img data-original="{0}">',
    },
}


def source_of_url(canonical_url: str) -> str:
    """source name from the URL's host (dialect lookup key)."""
    host = canonical_url.split("://", 1)[-1].split("/", 1)[0].split(":", 1)[0]
    return _HOST_SRC.get(host.lower(), "isna")


def page_payload(canonical_url: str) -> str:
    """Deterministic mini-markup: title + interleaved text/image blocks,
    wrapped in the source's markup dialect. Content is dialect-invariant
    (pure function of the URL hash), so span-sequence equality across the
    engine parser / oracle parser / any dialect holds on (kind, text,
    media_ref, offset)."""
    wrap = _DIALECT_WRAP[SOURCE_DIALECT[source_of_url(canonical_url)]]
    h = _u(xxh64_str(f"page:{canonical_url}"))
    n_blocks = 3 + h % 6
    parts = [wrap["title"].format(f"{_slug(h % 100000)} {h % 997}")]
    for b in range(n_blocks):
        hb = _u(xxh64_str(f"span:{canonical_url}:{b}"))
        if hb % 4 == 0:
            parts.append(wrap["image"].format(f"img://{hb % 1000000}.jpg"))
        else:
            words = " ".join(
                _WORDS[_u(xxh64_str(f"pw:{canonical_url}:{b}:{k}")) % len(_WORDS)]
                for k in range(4 + hb % 12)
            )
            parts.append(wrap["text"].format(words))
    return "\n".join(parts)


def page_fetch_ms(canonical_url: str) -> int:
    return 20 + _u(xxh64_str(f"lat:{canonical_url}")) % 480


# ---------------------------------------------------------------------------
# small dimension tables (broadcast-joined at query time)

def robots_rows() -> list[dict]:
    """Allow/deny prefix rules. The deny on isna's /news/841* prefix makes
    robots filtering observable in the crawl fixtures."""
    rows = []
    for _source, host, _w in SOURCES:
        rows.append({"host": host, "rule_kind": "deny", "path_prefix": "/private"})
        rows.append({"host": host, "rule_kind": "allow", "path_prefix": "/"})
    rows.append({"host": "www.isna.ir", "rule_kind": "deny", "path_prefix": "/news/8400001"})
    return rows


def politeness_rows() -> list[dict]:
    """Per-host token buckets; refill mirrors the reference's bulk_size=20
    / max_concurrent=5 scale (config.py:27-32)."""
    refill = {"www.isna.ir": 20, "www.irna.ir": 15, "www.tasnimnews.com": 10,
              "donya-e-eqtesad.com": 8, "www.sharghdaily.com": 8}
    return [
        {"host": h, "max_per_round": r, "bucket_capacity": 2 * r}
        for h, r in refill.items()
    ]


def _local_df(spark: SparkSession, rows: list[dict], schema) -> DataFrame:
    """A local relation (built through Arrow): scanning it starts no
    python worker, unlike ``createDataFrame(rows)``'s python RDD."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    )


def robots_df(spark: SparkSession) -> DataFrame:
    return _local_df(spark, robots_rows(), schemas.ROBOTS_RULES)


def politeness_df(spark: SparkSession) -> DataFrame:
    return _local_df(spark, politeness_rows(), schemas.POLITENESS)


# ---------------------------------------------------------------------------
# synthetic price feed (K6: the TGJU collector's shape)

# the reference polls currency / gold / coin prices into the Redis cache
# (collectors/tgju_collector.py:96-108 — price_dollar_rl, price_eur, sekee,
# geram18, ...; redis_cache_manager.py:24-40 SET key value EX ttl)
PRICE_SYMBOLS = [
    "price_dollar_rl", "price_eur", "price_gbp",
    "geram18", "sekee", "crypto-bitcoin",
]
_EPOCH_PRICE = datetime(2024, 6, 10, 8, 0, 0, tzinfo=timezone.utc)


def price_row(symbol: str, poll: int, interval_s: int = 300) -> dict:
    """Pure function (symbol, poll index) → one price observation: a
    hash-driven deterministic walk, timestamped at poll cadence."""
    base = 1000 + _u(xxh64_str(f"pricebase:{symbol}")) % 900_000
    delta = (_u(xxh64_str(f"price:{symbol}:{poll}")) % 2001) - 1000  # ±0.1%·base
    ts = _EPOCH_PRICE + timedelta(seconds=poll * interval_s)
    return {
        "symbol": symbol,
        "price": round(base * (1.0 + delta / 1_000_000.0), 2),
        "ts": ts.replace(tzinfo=None),
        "obs_id": poll * len(PRICE_SYMBOLS) + PRICE_SYMBOLS.index(symbol),
    }


def price_observations(
    spark: SparkSession, polls: int = 12, interval_s: int = 300
) -> DataFrame:
    """All observations of ``polls`` poll sweeps (a tiny dimension-sized
    feed — one row per symbol per poll; the CACHE, not the feed, is the
    scale object here)."""
    rows = [
        price_row(s, p, interval_s) for p in range(polls) for s in PRICE_SYMBOLS
    ]
    return spark.createDataFrame(
        rows, "symbol string, price double, ts timestamp, obs_id long"
    )
