"""Discovery-source operators: S1-S6 scan semantics, P4-P6 filters,
T3 cursor cut vs a pure-python oracle, T4 cursor extraction."""

import pytest
from pyspark.sql import functions as F

from news_crawler_spark import sources


@pytest.fixture(scope="module")
def pages(spark):
    return sources.synth_feed_pages(spark, days=3, pages_per_day=4).cache()


@pytest.fixture(scope="module")
def links(spark, pages):
    return sources.collect_links(pages).cache()


def test_filters_applied(spark, pages, links):
    rows = links.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.published_ts.date() == r.day          # P4 + P5
        assert any(ch.isdigit() for ch in r.url)       # P6
    # the raw pages DID contain noise that the filters removed
    raw = pages.select(F.explode("items").alias("it"), "day").collect()
    assert any(
        x.it.published_ts is not None and x.it.published_ts.date() != x.day
        for x in raw
    )
    assert any(not any(c.isdigit() for c in x.it.url) for x in raw)
    assert len(rows) < len(raw)
    # F5: RSS/sitemap items arrive with STRING dates only — the typed
    # published_ts in the output had to come from the parse path
    assert any(x.it.published_ts is None and x.it.pub_raw is not None for x in raw)


def test_string_date_parsing_golden(spark):
    """F5 golden: RFC-822 (RSS pubDate) and ISO-8601 (sitemap lastmod)
    strings parse to the exact UTC instant; garbage parses to NULL."""
    from datetime import datetime

    df = spark.createDataFrame(
        [
            ("rss", "Mon, 03 Jun 2024 14:22:05 +0000"),
            ("rss", "Tue, 31 Dec 2024 23:59:59 +0330"),
            ("sitemap", "2024-06-03T14:22:05+00:00"),
            ("sitemap_index", "2024-06-03T17:52:05+03:30"),
            ("sitemap_b64", "2024-02-29T00:00:00+00:00"),
            ("rss", "not a date"),
            ("sitemap", "2024-13-99T99:00:00+00:00"),
        ],
        "feed_kind string, pub_raw string",
    )
    got = [
        r.ts
        for r in df.select(
            sources.parse_pub_date("feed_kind", "pub_raw").alias("ts")
        ).collect()
    ]
    assert got == [
        datetime(2024, 6, 3, 14, 22, 5),
        datetime(2024, 12, 31, 20, 29, 59),   # +0330 → UTC
        datetime(2024, 6, 3, 14, 22, 5),
        datetime(2024, 6, 3, 14, 22, 5),      # +03:30 → UTC
        datetime(2024, 2, 29, 0, 0),
        None,
        None,
    ]


def test_all_feed_kinds_present(spark, pages):
    kinds = {r.feed_kind for r in pages.select("feed_kind").distinct().collect()}
    assert kinds == {"archive", "rss", "sitemap", "sitemap_index", "sitemap_b64"}


def test_cursor_cut_matches_python_oracle(spark, links):
    ordered = {}
    for r in links.collect():
        ordered.setdefault(r.source, []).append(r)
    for s in ordered:
        # feed order = (published_ts, url) tuple DESC — the one tie-break
        # direction shared by cursor_cut / latest_cursors
        ordered[s].sort(key=lambda r: (r.published_ts, r.url), reverse=True)
    # cursor = the 5th-newest link per source
    cursors = [
        {"source": s, "last_url": rs[4].url} for s, rs in ordered.items() if len(rs) > 5
    ]
    cur_df = spark.createDataFrame(cursors, "source string, last_url string")
    got = sources.cursor_cut(links, cur_df)
    got_by_src = {}
    for r in got.collect():
        got_by_src.setdefault(r.source, set()).add(r.url)
    for s, rs in ordered.items():
        if len(rs) > 5:
            want = {r.url for r in rs[:4]}  # strictly newer than the cursor
            assert got_by_src.get(s, set()) == want, s
        else:
            assert got_by_src.get(s, set()) == {r.url for r in rs}


def test_cursor_tie_break_matches_streaming(spark):
    """A link that TIES the cursor's published_ts is kept iff its url is
    tuple-greater — the order ``latest_cursors`` maximizes, so a late
    same-timestamp link is never permanently dropped between sweeps
    (ADVICE round-1 item)."""
    from datetime import datetime

    ts = datetime(2024, 6, 1, 12, 0)
    links = spark.createDataFrame(
        [
            ("s", "https://h/9-old", datetime(2024, 6, 1, 11, 0)),
            ("s", "https://h/1-tie-below", ts),
            ("s", "https://h/5-cursor", ts),
            ("s", "https://h/7-tie-above", ts),
            ("s", "https://h/2-newer", datetime(2024, 6, 1, 13, 0)),
        ],
        "source string, url string, published_ts timestamp",
    )
    cur = spark.createDataFrame(
        [("s", "https://h/5-cursor")], "source string, last_url string"
    )
    got = {r.url for r in sources.cursor_cut(links, cur).collect()}
    assert got == {"https://h/2-newer", "https://h/7-tie-above"}
    # and latest_cursors picks the tuple-max, consistent with the cut
    new_cur = sources.latest_cursors(links).collect()[0]
    assert new_cur.last_url == "https://h/2-newer"


def test_latest_cursors(spark, links):
    cur = {r.source: r.last_url for r in sources.latest_cursors(links).collect()}
    rows = links.collect()
    for s in cur:
        newest = max(
            (r for r in rows if r.source == s),
            key=lambda r: (r.published_ts, r.url),
        )
        assert cur[s] == newest.url


def test_discover_feeds_engine(spark, pages, tmp_path):
    from news_crawler_spark.engine import CrawlEngine

    fresh, cursors = sources.discover(spark, pages)
    eng = CrawlEngine(spark, str(tmp_path / "wd"))
    eng.ingest(fresh)
    pend = eng.catalog.read("pending", 0)
    n = pend.count()
    assert 0 < n <= fresh.count()  # dedup may collapse rediscoveries
    assert pend.select("canonical_url").distinct().count() == n
    assert cursors.count() == 5
