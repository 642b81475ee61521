"""URL canonicalization + hashing (the seen-set key).

Reference behaviors folded in (SURVEY.md §2.7 F6/F7/F10):
- protocol defaulting ``https://`` when the scheme is missing
  (crawlers.py:18-36, utils.py:39-41)
- protocol-relative ``//host/path`` resolution
  (collectors/shargh/pages_collector.py:230-248)
- deterministic id from the URL (uuid5 in vector_db_manager.py:250 →
  64-bit xxhash here, per the north rule)

plus RFC-3986 normalization: lowercase scheme/host, strip default ports,
remove dot segments, drop fragments, drop tracking query params.

Canonicalization is a vectorized pandas UDF (Arrow-batched; no row-at-a-time
Spark UDF). Host extraction and hashing stay JVM-side
(``parse_url`` / ``xxhash64`` built-ins) so they participate in
whole-stage codegen and the 100 TB hot path never crosses into Python.
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://")
_TRACKING_EXACT = {"fbclid", "gclid", "yclid", "msclkid", "ref", "mc_cid", "mc_eid"}
_TRACKING_PREFIX = ("utm_",)
_DEFAULT_PORT = {"http": "80", "https": "443"}


def canonicalize_one(raw: str | None) -> str | None:
    """Canonicalize a single URL. Shared by the pandas UDF and the pure-
    Python test oracle so both sides agree by construction; golden-case
    tests pin the behavior itself."""
    if raw is None:
        return None
    s = raw.strip()
    if not s:
        return None
    if s.startswith("//"):
        s = "https:" + s
    elif not _SCHEME_RE.match(s):
        s = "https://" + s
    try:
        parts = urlsplit(s)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    if not host.isascii():
        # IDN → punycode (IDNA ACE form): the reference's domain space is
        # Persian, where 'همشهری.ir' and its xn-- spelling are the SAME
        # origin — without this fold they get different url_hash keys and
        # the seen-set admits the page twice. Already-encoded xn-- hosts
        # are ASCII and pass through untouched; a host the codec rejects
        # (empty/oversized label) cannot be resolved by any client, so it
        # is dropped like any other unparseable link.
        try:
            host = host.encode("idna").decode("ascii")
        except UnicodeError:
            return None
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORT.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    # RFC 3986 §5.2.4 remove dot segments; keep trailing slash semantics
    norm = posixpath.normpath(path)
    if norm == ".":
        norm = "/"
    if path.endswith("/") and not norm.endswith("/"):
        norm += "/"
    # collapse duplicate slashes that normpath leaves at the start
    norm = re.sub(r"/{2,}", "/", norm)
    query_pairs = [
        (k, v)
        for k, v in parse_qsl(parts.query, keep_blank_values=True)
        if k not in _TRACKING_EXACT and not k.lower().startswith(_TRACKING_PREFIX)
    ]
    query = urlencode(query_pairs)
    return urlunsplit((scheme, netloc, norm, query, ""))


@F.pandas_udf(T.StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalizer (Arrow batches of ~10k URLs per call)."""
    return urls.map(canonicalize_one)


def url_hash_col(canonical: Column | str) -> Column:
    """64-bit id of a canonical URL — JVM-side xxhash64 (seed 42)."""
    return F.xxhash64(F.col(canonical) if isinstance(canonical, str) else canonical)


_HOST_RE = r"^[a-z][a-z0-9+.\-]*://([^/:?#]+)"
_PATH_RE = r"^[a-z][a-z0-9+.\-]*://[^/?#]*(/[^?#]*)?"


def host_col(canonical: Column | str) -> Column:
    """Host of a canonical URL — JVM-side regexp (codegen'd).

    NOT ``parse_url``: that builds a java.net.URI per row and measures
    ~3 ms/row on this build (100× this regex). Canonical URLs always carry
    a scheme and a lowercase host, so the regex is total here.
    """
    c = F.col(canonical) if isinstance(canonical, str) else canonical
    return F.regexp_extract(c, _HOST_RE, 1)


def path_col(canonical: Column | str) -> Column:
    """URL path ('' → '/') — same regexp rationale as ``host_col``."""
    c = F.col(canonical) if isinstance(canonical, str) else canonical
    p = F.regexp_extract(c, _PATH_RE, 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def with_url_columns(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canonical_url``, ``host``, ``url_hash`` and drop rows whose URL
    fails to canonicalize (reference drops unparseable links)."""
    out = df.withColumn("canonical_url", canonicalize_url(F.col(url_col)))
    out = out.filter(F.col("canonical_url").isNotNull())
    return out.withColumn("host", host_col("canonical_url")).withColumn(
        "url_hash", url_hash_col("canonical_url")
    )
