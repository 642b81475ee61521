"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed with Arrow-batched ``mapInPandas``.

The reference stores image URLs as a JSON list on the article row
(db_models.py:103; extraction collectors/isna/pages_collector.py:210-213).
A training-data pipeline needs the *bytes* as a first-class column. The
image/audio codec libraries are not in this container, so the decode step
is STUBBED (deterministic fake decoder, clearly marked); the Spark-side
plumbing — schema, batch shape, partition sizing, UDF signatures — is real
and tested.

Design rules that survive 100 TB:
- binary payloads ride in their own column so column pruning keeps them
  out of every query that doesn't touch them (parquet reads skip the
  whole column chunk);
- all media work is ``mapInPandas`` over Arrow batches, with
  ``maxRecordsPerBatch`` tuned down for fat rows (see session.py);
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


def pack_interleaved(
    spans_docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 8,
    image_tokens: int = 64,
) -> DataFrame:
    """Interleaved (text+media) sequence packing — the multimodal analog
    of ``sampling.pack_token_shards``: lay the span stream out as the
    token stream a multimodal trainer consumes, where a text span costs
    its whitespace-token count and a media span costs a fixed
    ``image_tokens`` budget (the vision-encoder patch count — the
    MM1/Flamingo-style interleaved packing rule). One row per span:
    ``(doc_id, offset, kind, shard, cost, tok_start, bin_id, crosses)``.

    Layout contract (same as the text packer): documents hash to
    ``n_shards`` independent shards, spans order by (doc_id, offset)
    within their shard, ``tok_start`` is the running offset, ``bin_id``
    the ``budget``-token sequence the span STARTS in, and ``crosses``
    flags a span straddling a bin boundary — text spans split there;
    a media span cannot split, so the trainer pads to the boundary
    (``crosses`` counts exactly the spans that decision touches).

    Scale shape: one shuffle on the shard id, then a per-shard window
    cumsum — parallelism = ``n_shards`` (size to the cluster), shards
    reproducible independently. No global ORDER BY anywhere."""
    from pyspark.sql import Window

    from .sampling import sample_bucket

    spans = spans_docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.when(F.col("s.kind") == "image", F.lit(image_tokens))
        .otherwise(F.size(F.split(F.col("s.text"), " ")))
        .cast("long")
        .alias("cost"),
    )
    sharded = spans.withColumn(
        "shard",
        (sample_bucket(F.col("doc_id"), "mshard") % F.lit(n_shards)).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id", "offset")
    return (
        sharded.withColumn("tok_start", F.sum("cost").over(w) - F.col("cost"))
        .withColumn("bin_id", F.floor(F.col("tok_start") / F.lit(budget)))
        .withColumn(
            "crosses",
            (
                F.floor((F.col("tok_start") + F.col("cost") - 1) / F.lit(budget))
                != F.col("bin_id")
            ).cast("int"),
        )
    )


def media_integrity(spans_docs: DataFrame, media: DataFrame) -> DataFrame:
    """Reconcile span-level media references against the media payload
    table: ``missing`` = a span references bytes that aren't there (a
    fetch/decode loss), ``orphan`` = stored bytes no document references
    (retention waste). The audit every interleaved corpus needs before
    training — a missing ref becomes a hole in the token stream.

    Scale shape: both sides reduce to DISTINCT 8-byte-ish ref keys
    before a single full-outer shuffle join on ``media_ref``; payload
    columns are pruned out at the scan (never shuffled)."""
    refs = (
        spans_docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "image")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    have = media.select("media_ref").distinct()
    j = refs.withColumn("referenced", F.lit(1)).join(
        have.withColumn("stored", F.lit(1)), "media_ref", "full_outer"
    )
    return j.filter(
        F.col("referenced").isNull() | F.col("stored").isNull()
    ).select(
        "media_ref",
        F.when(F.col("stored").isNull(), F.lit("missing"))
        .otherwise(F.lit("orphan"))
        .alias("status"),
    )


def image_ahash64(
    thumbs: DataFrame,
    cells_col: str = "cells",
    id_col: str = "media_ref",
    n_cells: int = 64,
) -> DataFrame:
    """64-bit average-hash (aHash) over a decoded thumbnail's cell
    intensities — the classic perceptual image fingerprint: bit i is set
    when cell i is brighter than the image mean. The mean test is EXACT
    integer cross-multiplication (cell·n > Σcells, no float division),
    and the packed hash is a sum of disjoint per-bit constants (bit 63's
    constant is -2^63, the two's-complement sign bit — the only packing
    DuckDB's overflow-checked ``<<`` can replay), so any engine
    recomputes it bit-identically.

    Input: one row per image with ``cells_col`` = array of ``n_cells``
    integer intensities (a decoded thumbnail's cells; the hash contract
    only needs integers). Output ``(doc_id, simhash)``
    — named to feed straight into dedup's banded-pigeonhole machinery.

    Scale shape: a pure projection (whole-stage codegen, no UDF, no
    shuffle) — 10^9 images cost one map pass."""
    if n_cells != 64:
        raise ValueError("image_ahash64 packs exactly 64 bits")
    c = F.col(cells_col)
    total = F.aggregate(
        c, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    packed = None
    for i in range(64):
        const = (1 << i) if i < 63 else -(1 << 63)
        bit = F.when(
            F.element_at(c, i + 1).cast("long") * 64 > total,
            F.lit(const).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed + bit
    return thumbs.select(F.col(id_col).alias("doc_id"), packed.alias("simhash"))


def image_neardup_pairs(
    thumbs: DataFrame,
    cells_col: str = "cells",
    id_col: str = "media_ref",
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-duplicate IMAGES across the corpus: all pairs whose 64-bit
    perceptual hashes differ in at most ``max_hamming`` bits — resized
    re-encodes, recompressions, and watermark stamps of the same picture
    hash within a few bits of each other, and a training pipeline dedups
    them exactly like near-dup text. Reuses dedup's 64-bit hamming
    banding (dedup._banded64: n_bands = max_hamming+1 pigeonhole →
    complete recall at the radius) and its verify-BEFORE-distinct order:
    the exact bit_count(xor) filter is a per-row expression on the raw
    banded join output, so the dedup shuffle only ever sees true pairs,
    never the n²/2^chunk candidate stream (verifying after the
    distinct was measured 10× slower on the text sketches). Output
    (id_a, id_b, hamming), hamming exact."""
    from . import dedup

    if n_bands is None:
        n_bands = max_hamming + 1
    sh = image_ahash64(thumbs, cells_col=cells_col, id_col=id_col)
    banded = dedup._banded64(sh, n_bands)
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "chunk"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            "hamming",
        )
        .dropDuplicates(["id_a", "id_b"])
    )


# magic-byte signatures: (hex-of-prefix, offset, mime). Checked in listed
# order — first hit wins, longer/more-specific signatures first. RIFF is
# a container: bytes 0-3 'RIFF' + bytes 8-11 'WEBP' is the image, plain
# RIFF alone stays unknown (wav/avi need their own subtype check).
_MAGIC = [
    ("25504446 2D", 0, "application/pdf"),          # %PDF-
    ("89504E47 0D0A1A0A", 0, "image/png"),
    ("FFD8FF", 0, "image/jpeg"),
    ("47494638 37 61", 0, "image/gif"),             # GIF87a
    ("47494638 39 61", 0, "image/gif"),             # GIF89a
    ("504B0304", 0, "application/zip"),
    ("1F8B", 0, "application/gzip"),
    ("3C21444F 43 54 59 50 45", 0, "text/html"),    # <!DOCTYPE
    ("3C68746D 6C", 0, "text/html"),                # <html
]
_WEBP_RIFF, _WEBP_TAG = "52494646", "57454250"      # RIFF @0, WEBP @8


def sniff_content_type(payload: Column) -> Column:
    """Magic-byte content-type detection over an opaque ``binary``
    column — the crawl-side truth test for the Content-Type header,
    which real servers get wrong constantly (HTML error pages served
    as image/*, gzip served as text/html): a fetch pipeline that
    routes payloads to decoders by the HEADER corrupts its media
    table, so the router must sniff. This is the WHATWG-style
    prefix-signature core (the deterministic subset: no byte-pattern
    masks, no text/binary heuristics) as one codegen'd CASE over
    ``hex(substring(payload, 1, 12))`` — a pure projection, no UDF,
    no shuffle; 10^9 payloads cost one map pass over their first 12
    bytes. Unknown prefixes → 'application/octet-stream'."""
    head = F.hex(F.substring(payload, 1, 12))
    expr = None
    for sig, off, mime in _MAGIC:
        hexsig = sig.replace(" ", "")
        cond = F.substring(head, off * 2 + 1, len(hexsig)) == hexsig
        expr = F.when(cond, mime) if expr is None else expr.when(cond, mime)
    webp = (F.substring(head, 1, 8) == _WEBP_RIFF) & (
        F.substring(head, 17, 8) == _WEBP_TAG
    )
    return expr.when(webp, "image/webp").otherwise("application/octet-stream")


# WHATWG encoding-label normalization (the subset a news crawl meets).
# Keys are lowercased labels as they appear in meta declarations; note
# the spec-mandated surprises: latin-1 / ascii labels MEAN windows-1252
# (https://encoding.spec.whatwg.org "Names and labels"), and a bare
# "utf-16" label decodes as little-endian.
_CHARSET_LABELS = [
    (("utf-8", "utf8", "unicode-1-1-utf-8"), "utf-8"),
    (
        (
            "iso-8859-1",
            "iso8859-1",
            "latin1",
            "l1",
            "us-ascii",
            "ascii",
            "windows-1252",
            "cp1252",
            "x-cp1252",
        ),
        "windows-1252",
    ),
    (("utf-16", "utf-16le", "unicodefeff"), "utf-16le"),
    (("utf-16be",), "utf-16be"),
]

_CHARSET_RE = r"""charset\s*=\s*["']?\s*([a-z0-9._:+-]+)"""
_CHARSET_DEFAULT = "windows-1252"


def sniff_charset(payload: Column, scan_bytes: int = 1024) -> Column:
    """Text-encoding detection over an opaque ``binary`` payload — the
    decode half of the router ``sniff_content_type`` is the dispatch
    half of: once bytes are known to be text/html, which decoder turns
    them into the string the extract stage shingles? Getting this
    wrong silently corrupts every downstream text operator (dedup
    hashes, span extraction, quality scores), and the reference never
    decides it at all — requests/BS4 guess for it per response
    (collectors use ``response.text``), which is exactly the
    non-reproducible per-row behavior a deterministic pipeline can't
    have.

    WHATWG-ordered decision, all codegen'd (no UDF, no shuffle — a
    pure projection over ≤``scan_bytes`` bytes per row):

    1. **BOM wins** (spec step 1, overrides everything): ``EF BB BF``
       → utf-8, ``FE FF`` → utf-16be, ``FF FE`` → utf-16le.
    2. **Meta prescan**: decode the first ``scan_bytes`` BYTES as
       ISO-8859-1 (bijective byte→char, so the slice-then-decode is
       exact and cheap), lowercase, and regex the first
       ``charset = "label"`` occurrence — matches both
       ``<meta charset=…>`` and the ``http-equiv`` form, quoted or
       bare. The label is normalized per the WHATWG registry subset
       above (latin-1/ascii labels MEAN windows-1252; bare utf-16 is
       LE). Unknown labels pass through lowercased — routing them is
       the caller's trust decision, like m6's cross-host sitemaps.
    3. **Default**: windows-1252 (the spec's catch-all for unlabeled
       legacy content).

    Deliberately omitted (and documented so the boundary is honest):
    the spec's full prescan tokenizer (comment/attribute state
    machine) and content-byte frequency heuristics — both are
    sequential scans that would need Python; the regex core covers the
    declarations real pages carry."""
    head = F.hex(F.substring(payload, 1, 3))
    label = F.regexp_extract(
        F.lower(F.decode(F.substring(payload, 1, scan_bytes), "ISO-8859-1")),
        _CHARSET_RE,
        1,
    )
    norm = None
    for aliases, canon in _CHARSET_LABELS:
        cond = label.isin(*aliases)
        norm = F.when(cond, canon) if norm is None else norm.when(cond, canon)
    norm = norm.when(label == "", _CHARSET_DEFAULT).otherwise(label)
    return (
        F.when(F.substring(head, 1, 6) == "EFBBBF", "utf-8")
        .when(F.substring(head, 1, 4) == "FEFF", "utf-16be")
        .when(F.substring(head, 1, 4) == "FFFE", "utf-16le")
        .otherwise(norm)
    )
