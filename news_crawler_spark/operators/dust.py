"""DUST parameter-rule mining — LEARN which query parameters are
content-neutral (session ids, affiliate tags, tracking params) from crawl
evidence, instead of hardcoding the strip list.

The canonicalizer (functions/urls.py) ships the reference's static
tracking-param list; the reference itself dedups links by raw URL string
(news_fresh_links_scheduler.py:53-54 counts "unique links produced" with
no canonicalization at all), so any site-specific session parameter
re-admits the same page forever. At web scale the strip list must be
mined per host from observed (url, content-digest) pairs — the parameter
fragment of the DUST algorithm (Bar-Yossef, Keidar, Schwartz, "Do Not
Crawl in the DUST: Different URLs with Similar Text", WWW'07).

Spark-first reshaping — NO pairwise URL comparison:

1. Parse each URL into (host, path, sorted param list) with codegen'd
   regex/split expressions (no UDF, no java.net.URI per row).
2. Each URL with params P emits |P| candidate rows: (host, key(p),
   residual-signature) where the residual signature hashes
   (host, path, P \\ {p}).
3. One equi-join of candidates against the DISTINCT
   (full-signature, digest) table: a match with the SAME digest is
   support for "key(p) is removable"; a match with a DIFFERENT digest is
   a violation. URLs whose residual combination was never crawled match
   nothing and contribute no evidence either way.
4. groupBy (host, param): a rule is emitted when violations == 0 and
   support >= min_support.

Scale shape: the explode factor is |params| (single digits by
construction of real URLs), the join key is an 8-byte xxhash64, and both
the join build side and the final groupBy carry (host, key) cardinality —
so 10^10 URLs cost one map-side explode, one hash join on longs, and one
partially-aggregated count. Never O(n^2); the classic DUST pairwise
candidate generation is replaced by signature lookup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _empty_str_array() -> Column:
    return F.array().cast("array<string>")


def split_url(url: Column) -> tuple[Column, Column, Column]:
    """(host, path, sorted param array) via codegen'd expressions.

    ``path`` is everything between the authority and the first ``?``;
    a missing query yields an empty param array. Parameters are sorted
    so signature equality means set equality (duplicate identical
    ``k=v`` strings collapse in evidence counting, which only ever
    strengthens a violation, never hides one). ``host`` is normalized
    for KEYING — lowercased, port stripped — so rules mined from
    canonical URLs apply to ported/uppercased raw spellings too; it is
    not suitable for URL reconstruction (apply keeps the raw authority).
    """
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1)),
        r":\d+$",
        "",
    )
    path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^?#]*)", 1)
    # anchor the query to the PRE-fragment portion: a '?' that first
    # appears inside the fragment (https://h/p#frag?x=1) is fragment
    # text, not a query — the unanchored form minted bogus param
    # evidence from it (ADVICE round 5). The prefix cannot cross a '?',
    # so the query starts at the FIRST one (p?a=1?b=2 → "a=1?b=2")
    query = F.regexp_extract(url, r"^[^#?]*\?([^#]*)", 1)
    params = F.when(query == "", _empty_str_array()).otherwise(
        F.array_sort(F.split(query, "&"))
    )
    return host, path, params


def mine_param_rules(pages: DataFrame, min_support: int = 3) -> DataFrame:
    """Mine per-host removable-parameter rules from (url, digest) pairs.

    ``pages``: columns ``url`` (string), ``digest`` (string — any stable
    content fingerprint, e.g. the md5 of the extracted text).

    Returns (host, param, support, violations, removable) — one row per
    (host, param key) that produced at least one piece of evidence.
    """
    host, path, params = split_url(F.col("url"))
    parsed = pages.select(
        host.alias("host"),
        path.alias("path"),
        params.alias("params"),
        F.col("digest"),
    )
    # targets: every crawled (host, path, param-set) with its digest(s)
    full_sig = F.xxhash64("host", "path", F.concat_ws("&", "params"))
    targets = parsed.select(
        full_sig.alias("sig"), F.col("digest").alias("t_digest")
    ).distinct()
    # candidates: one row per (URL, param) — what if this param vanished?
    cand = parsed.select(
        "host",
        "path",
        "params",
        "digest",
        F.explode("params").alias("p"),
    ).select(
        "host",
        F.substring_index("p", "=", 1).alias("param"),
        F.xxhash64(
            "host", "path", F.concat_ws("&", F.array_remove("params", F.col("p")))
        ).alias("rsig"),
        "digest",
    )
    ev = cand.join(targets, cand["rsig"] == targets["sig"])
    return (
        ev.groupBy("host", "param")
        .agg(
            F.sum(F.when(F.col("digest") == F.col("t_digest"), 1).otherwise(0))
            .cast("long")
            .alias("support"),
            F.sum(F.when(F.col("digest") != F.col("t_digest"), 1).otherwise(0))
            .cast("long")
            .alias("violations"),
        )
        .withColumn(
            "removable",
            (F.col("violations") == 0) & (F.col("support") >= min_support),
        )
    )


def apply_param_rules(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Rewrite ``urls.url`` by dropping every removable param its host
    learned — the consumption side of :func:`mine_param_rules`, applied
    ahead of the seen-set so learned DUST aliases collapse to one key.

    ``rules`` is broadcast (|hosts| x |param keys| rows — tiny by
    construction), so the 10^10-row URL side is never shuffled.
    """
    host, path, params = split_url(F.col("url"))
    # rules side keyed on its own column name so the final drop never
    # swallows a caller's ``host`` column
    drop = (
        rules.filter("removable")
        .groupBy(F.col("host").alias("__rules_host"))
        .agg(F.array_sort(F.collect_set("param")).alias("drop_keys"))
    )
    parsed = urls.withColumn("__host", host).withColumn("__path", path).withColumn(
        "__params", params
    )
    kept = F.filter(
        "__params",
        lambda p: ~F.array_contains(
            F.coalesce(F.col("drop_keys"), _empty_str_array()),
            F.substring_index(p, "=", 1),
        ),
    )
    rebuilt = F.concat(
        # raw scheme+authority verbatim (the keyed __host is lowercased
        # and port-stripped; reconstruction must not touch either —
        # that is the canonicalizer's decision, not this operator's)
        F.regexp_extract("url", r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+)", 1),
        F.col("__path"),
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.concat_ws("&", kept))).otherwise(
            F.lit("")
        ),
        # the original '#fragment' verbatim — a rewrite that fired used
        # to silently drop it (ADVICE round 5)
        F.regexp_extract("url", r"(#.*)$", 1),
    )
    # rewrite ONLY when the URL parsed as absolute AND actually loses a
    # param; dirty spellings (scheme-less, protocol-relative — the
    # canonicalizer's job, not ours) pass through byte-identical
    safe = F.when(
        (F.col("__host") != "") & (F.size(kept) < F.size("__params")), rebuilt
    ).otherwise(F.col("url"))
    return (
        parsed.join(
            F.broadcast(drop),
            parsed["__host"] == drop["__rules_host"],
            "left",
        )
        .withColumn("rewritten_url", safe)
        .drop("__host", "__path", "__params", "__rules_host", "drop_keys")
    )
