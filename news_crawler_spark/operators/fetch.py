"""Fetch stage: popped frontier rows → fetched, extracted pages.

The reference fetches with async Playwright under a semaphore
(collectors/isna/pages_collector.py:55-181 and peers, SURVEY.md S7/S8).
Here the network is replaced in-sandbox by the deterministic synthetic
page generator (synth.page_payload / page_ok) — but the *plumbing* is the
real design: ``mapInPandas`` over the popped batch repartitioned by host,
iterator form so per-partition session setup (browser/HTTP pool in
production) is amortized across Arrow batches, one partition ≈ one polite
client per host group.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import synth


_CARRY = [
    "url", "canonical_url", "url_hash", "host", "source", "priority",
    "published_ts", "discovery_time", "tried_count",
]


def _salted(popped: DataFrame, partitions: int | None, salts: int | None) -> DataFrame:
    """Repartition a popped batch for the python fetch stage.

    - explicit partition count (2×cores default): AQE coalesces shuffles
      by BYTES, which undersizes a CPU-bound python stage by 10-50× (a
      fetch row costs ~1 ms of python but only ~300 B);
    - salt count ≫ partitions (16× default) so the (host, salt) keys
      spread evenly — with only ~5 hosts the unsalted key space is 5.
    """
    sc = popped.sparkSession.sparkContext
    if partitions is None:
        partitions = max(2 * sc.defaultParallelism, 16)
    if salts is None:
        salts = 16 * partitions
    salt = F.pmod(F.col("url_hash"), F.lit(salts))
    return popped.repartition(partitions, F.col("host"), salt)


# fused fetch+extract: one python pass, no payload through Arrow ----------

_RAW_SCHEMA = (
    "url string, canonical_url string, url_hash long, host string, "
    "source string, priority int, published_ts timestamp, "
    "discovery_time timestamp, tried_count int, "
    "ok boolean, fetch_ms int, doc_json string"
)

_DOC_STRUCT = (
    "struct<title:string,summary:string,keywords:array<string>,"
    "spans:array<struct<kind:string,text:string,media_ref:string,offset:int>>>"
)


def fetch_extract_pages(
    popped: DataFrame, partitions: int | None = None, salts: int | None = None
) -> DataFrame:
    """Fetch + extract in ONE ``mapInPandas`` pass.

    The engine's hot path: chaining two python stages ships the raw page
    payload through Arrow and doubles worker hand-offs; fusing keeps the
    payload worker-local and emits only the (small) structured result.

    The structured result crosses Arrow as ONE json string per row and is
    exploded to native nested columns JVM-side with ``from_json``
    (codegen). Building array<struct> columns from python objects is
    allocation-bound and was the measured scalability ceiling of the whole
    stage — a string column + JVM parse is ~3× cheaper and scales with
    cores. Same documents as fetching the payload and running
    ``extract.extract_documents`` over it, as a second python stage —
    asserted by tests/test_pipeline_ops.py, which runs both paths.
    """
    import json

    from .extract import doc_fields  # local import: avoid module cycle

    src = _salted(popped.select(*_CARRY), partitions, salts)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls = pdf["canonical_url"]
            pdf = pdf.copy()
            oks = urls.map(synth.page_ok)
            pdf["ok"] = oks
            pdf["fetch_ms"] = urls.map(synth.page_fetch_ms).astype("int32")
            docs = []
            for u, ok, src in zip(urls, oks, pdf["source"]):
                if not ok:
                    docs.append(None)
                    continue
                t, s, k, sp = doc_fields(synth.page_payload(u), src)
                docs.append(
                    json.dumps(
                        {"title": t, "summary": s, "keywords": k, "spans": sp},
                        ensure_ascii=False,
                        separators=(",", ":"),
                    )
                )
            pdf["doc_json"] = docs
            yield pdf

    raw = src.mapInPandas(run, schema=_RAW_SCHEMA)
    doc = F.from_json(F.col("doc_json"), _DOC_STRUCT)
    return raw.select(
        *_CARRY,
        "ok",
        "fetch_ms",
        doc["title"].alias("title"),
        doc["summary"].alias("summary"),
        doc["keywords"].alias("keywords"),
        doc["spans"].alias("spans"),
    )
