"""Extract stage: fetched page payload → interleaved (text|image) spans.

Reference behavior (SURVEY.md F12-F14): per-source CSS-selector extraction
of title / body paragraphs / images / keywords
(collectors/isna/pages_collector.py:183-248, page_parser.py:12-182 and
peers), paragraphs joined with '\n' (pages_collector.py:219-222), keywords
capped at 10 with length<50 (isna_source.py:63-77).

Here the page markup is the synthetic mini-markup; extraction is a
vectorized ``mapInPandas`` pass (Arrow batches; regex per batch — in
production this is selectolax/BS4 per batch, same shape). Output preserves
document order as ``offset`` so span-sequence equality (kind, text,
media_ref, order) can be asserted against the pure-Python oracle extractor
(news_crawler_spark/oracle.py — an independent line-based parser).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# F12: per-source selector configs — the Spark restatement of the
# reference's five hand-written parser families
# (collectors/isna/page_parser.py:12-182 vs
# collectors/shargh/pages_collector.py:191-355 and peers). Instead of one
# class per source, ONE data-driven config per markup dialect: a combined
# block regex (group 1 = text, group 2 = image ref, matched in document
# order) and a title regex. The dict is tiny and is shipped to executors
# inside the serialized task closure — the same mechanism as an explicit
# ``sc.broadcast`` of a collected config-dim table, which is where these
# rows would come from in production.
SELECTOR_CONFIGS = {
    "classic": {
        "block": r"<p>(.*?)</p>|<img src=\"(.*?)\">",
        "title": r"<title>(.*?)</title>",
    },
    "divs": {
        "block": r"<div class=\"item-text\">(.*?)</div>|<figure data-src=\"(.*?)\"></figure>",
        "title": r"<h1 class=\"title\">(.*?)</h1>",
    },
    "spans": {
        "block": r"<span class=\"body-text\">(.*?)</span>|<img data-original=\"(.*?)\">",
        "title": r"<meta name=\"title\" content=\"(.*?)\">",
    },
}
# source → dialect (mirrors synth.SOURCE_DIALECT; unknown sources fall
# back to the classic dialect like the reference's generic parser)
SOURCE_DIALECT = {
    "isna": "classic", "irna": "classic",
    "tasnim": "divs", "donya": "divs",
    "shargh": "spans",
}

_COMPILED = {
    d: (re.compile(cfg["block"], re.S), re.compile(cfg["title"], re.S))
    for d, cfg in SELECTOR_CONFIGS.items()
}


EXTRACTED_SCHEMA = (
    "doc_id string, url string, source string, host string, "
    "title string, summary string, keywords array<string>, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "published_ts timestamp, published_epoch long"
)


def parse_spans(payload: str, source: str = "isna") -> list[dict]:
    """Engine-side parser: regex scan of the source's markup dialect in
    document order (F12 — selector set picked per source)."""
    block_re, _ = _COMPILED[SOURCE_DIALECT.get(source, "classic")]
    spans: list[dict] = []
    for off, m in enumerate(block_re.finditer(payload)):
        text, img = m.group(1), m.group(2)
        if img is not None:
            spans.append({"kind": "image", "text": None, "media_ref": img, "offset": off})
        else:
            spans.append({"kind": "text", "text": text, "media_ref": None, "offset": off})
    return spans


def doc_fields(payload: str, source: str = "isna") -> tuple:
    """(title, summary, keywords, spans) from a page payload — the shared
    kernel of both extract paths (standalone + fused fetch_extract).
    ``source`` selects the markup dialect's selector config (F12)."""
    spans = parse_spans(payload, source)
    _, title_re = _COMPILED[SOURCE_DIALECT.get(source, "classic")]
    tm = title_re.search(payload)
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    # keywords: first word of each paragraph, len<50, cap 10 (F14)
    kws = [t.split(" ", 1)[0] for t in texts if t][:10]
    kws = [k for k in kws if len(k) < 50]
    return (tm.group(1) if tm else None, texts[0] if texts else None, kws, spans)


def extract_documents(fetched: DataFrame) -> DataFrame:
    """ok-pages → document rows with span arrays. doc_id is the hex of the
    canonical URL's xxhash64 (deterministic; F10 analog of uuid5-from-URL).
    """
    ok = fetched.filter(F.col("ok"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                title, summary, kws, spans = doc_fields(r.payload, r.source)
                rows.append(
                    {
                        "doc_id": format(r.url_hash & 0xFFFFFFFFFFFFFFFF, "016x"),
                        "url": r.canonical_url,
                        "source": r.source,
                        "host": r.host,
                        "title": title,
                        "summary": summary,
                        "keywords": kws,
                        "spans": spans,
                        "published_ts": r.published_ts,
                        "published_epoch": (
                            int(pd.Timestamp(r.published_ts).timestamp())
                            if r.published_ts is not None
                            else None
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "url", "source", "host", "title", "summary",
                    "keywords", "spans", "published_ts", "published_epoch",
                ],
            )

    return ok.mapInPandas(run, schema=EXTRACTED_SCHEMA)


def documents_from_fetch_extract(fused: DataFrame) -> DataFrame:
    """Fused fetch_extract output → the documents schema. doc_id and
    published_epoch are derived JVM-side (hex/unix_timestamp built-ins)."""
    return fused.filter(F.col("ok")).select(
        F.lpad(F.lower(F.hex("url_hash")), 16, "0").alias("doc_id"),
        F.col("canonical_url").alias("url"),
        "source",
        "host",
        "title",
        "summary",
        "keywords",
        "spans",
        "published_ts",
        F.unix_timestamp("published_ts").alias("published_epoch"),
    )
