"""Multimodal column plumbing: media as opaque binary + typed metadata,
processed with Arrow-batched ``mapInPandas``.

The reference stores image URLs as a JSON list on the article row
(db_models.py:103; extraction collectors/isna/pages_collector.py:210-213).
A training-data pipeline needs the *bytes* as a first-class column:
``media_table`` turns the image spans of extracted documents into one row
per media item, and ``extract_media_features`` turns those bytes into a
fixed-width feature vector. The image codec libraries are not in this
container, so the payload and the decode step are STUBBED (deterministic
fake bytes and a byte-histogram "decoder", clearly marked); the
Spark-side plumbing — schema, batch shape, UDF signatures — is real and
tested.

Design rules:
- binary payloads ride in their own column so column pruning keeps them
  out of every query that doesn't touch them (parquet reads skip the
  whole column chunk);
- all media work is ``mapInPandas`` over Arrow batches of the session's
  ``maxRecordsPerBatch`` (10000 for every stage, see session.py);
- feature extraction emits fixed-width arrays, never re-emits the bytes
  (the output of a media stage should be orders of magnitude smaller than
  its input).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)


def synth_media_payload(media_ref: str) -> bytes:
    """Deterministic fake media bytes (sha256-keystream) — the in-sandbox
    stand-in for fetched image bytes."""
    seed = hashlib.sha256(media_ref.encode()).digest()
    n = 256 + seed[0] * 4
    out = bytearray()
    block = seed
    while len(out) < n:
        block = hashlib.sha256(block).digest()
        out.extend(block)
    return bytes(out[:n])


def media_table(spans_docs: DataFrame) -> DataFrame:
    """Documents (spans arrays) → one row per media span with payload +
    typed metadata. Payload synthesis is a vectorized mapInPandas stage
    (in production: the fetch stage's byte responses)."""
    refs = (
        spans_docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "image")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )

    def attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["media_ref"].map(synth_media_payload)
            meta = [
                {
                    "format": "fake/raw",
                    "width": 32 + p[0],
                    "height": 32 + p[1],
                    "n_bytes": len(p),
                }
                for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": "image",
                    "payload": payloads,
                    "meta": meta,
                }
            )

    return refs.mapInPandas(attach, schema=MEDIA_SCHEMA)


FEATURES_SCHEMA = (
    "media_ref string, kind string, n_bytes int, "
    "feature array<float>, feat_norm double"
)


def extract_media_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Media bytes → fixed-width feature vector. The *fake decoder*:
    byte-histogram over ``dim`` buckets, L1-normalized — deterministic,
    numpy-vectorized per Arrow batch. In production replace the histogram
    with a real decode + model forward; the stage signature, batch shape
    and output schema stay identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            norms = []
            for p in pdf["payload"]:
                arr = np.frombuffer(p, dtype=np.uint8)
                hist = np.bincount(arr // (256 // dim), minlength=dim).astype("float64")
                total = hist.sum()
                vec = (hist / total) if total else hist
                feats.append(vec.astype("float32"))
                norms.append(float(np.sqrt((vec * vec).sum())))
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "feature": feats,
                    "feat_norm": norms,
                }
            )

    return media.select("media_ref", "kind", "payload").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )
