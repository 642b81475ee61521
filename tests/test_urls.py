"""Canonicalization + hashing: golden cases and Spark/Python parity."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from news_crawler_spark.functions.urls import canonicalize_one, canonicalize_url, with_url_columns
from news_crawler_spark.functions.xxh64 import xxh64_str

GOLDEN = [
    # protocol defaulting (crawlers.py:20-21)
    ("www.isna.ir/news/1/a", "https://www.isna.ir/news/1/a"),
    # protocol-relative (shargh/pages_collector.py:232-235)
    ("//www.isna.ir/news/1/a", "https://www.isna.ir/news/1/a"),
    # host lowercase + default port + fragment
    ("https://WWW.ISNA.IR:443/news/1/a#frag", "https://www.isna.ir/news/1/a"),
    ("http://Host.com:80/x", "http://host.com/x"),
    # non-default port kept
    ("http://host.com:8080/p/?b=2&a=1", "http://host.com:8080/p/?b=2&a=1"),
    # tracking params stripped, others kept in order
    ("https://a.ir/p?utm_source=t&q=2&fbclid=x&r=3", "https://a.ir/p?q=2&r=3"),
    # dot segments + duplicate slashes
    ("https://a.ir/news//x/../1/a", "https://a.ir/news/1/a"),
    # empty path
    ("https://www.isna.ir", "https://www.isna.ir/"),
    # trailing slash preserved
    ("https://a.ir/sec/", "https://a.ir/sec/"),
    # whitespace
    ("  https://a.ir/x  ", "https://a.ir/x"),
    # IDN hosts fold to punycode (ACE), so the Unicode and xn-- spellings
    # of the same origin share one url_hash; paths/queries untouched
    ("https://müller.de/x?q=1", "https://xn--mller-kva.de/x?q=1"),
    ("https://همشهری.ir/news/1", "https://xn--wgbf4chc31f.ir/news/1"),
    ("https://xn--wgbf4chc31f.ir/news/1", "https://xn--wgbf4chc31f.ir/news/1"),
    ("https://ПРИМЕР.рф/x", "https://xn--e1afmkfd.xn--p1ai/x"),
]


@pytest.mark.parametrize("raw,want", GOLDEN)
def test_canonicalize_golden(raw, want):
    assert canonicalize_one(raw) == want


def test_canonicalize_rejects_garbage():
    assert canonicalize_one("") is None
    assert canonicalize_one(None) is None
    assert canonicalize_one("https://") is None


def test_canonicalize_idempotent():
    for raw, want in GOLDEN:
        assert canonicalize_one(want) == want


def test_xxh64_matches_spark_builtin(spark):
    strings = ["", "a", "ab", "abc", "hello world", "x" * 31, "x" * 32,
               "x" * 33, "x" * 100, "پیام فارسی", "https://a.ir/x?q=1"]
    rows = spark.createDataFrame([(s,) for s in strings], "s string").select(
        "s", F.xxhash64("s").alias("h")
    ).collect()
    for r in rows:
        assert xxh64_str(r.s) == r.h, f"xxh64 mismatch for {r.s!r}"


def test_with_url_columns_matches_python(spark):
    raws = [r for r, _ in GOLDEN]
    df = spark.createDataFrame([(r,) for r in raws], "url string")
    got = {r.url: (r.canonical_url, r.host, r.url_hash)
           for r in with_url_columns(df).collect()}
    for raw in raws:
        cu = canonicalize_one(raw)
        assert got[raw][0] == cu
        assert got[raw][2] == xxh64_str(cu)


def test_pandas_udf_batch():
    # direct call of the underlying pandas function
    fn = canonicalize_url.func
    out = fn(pd.Series([g[0] for g in GOLDEN]))
    assert list(out) == [g[1] for g in GOLDEN]
