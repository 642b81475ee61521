"""DUST parameter-rule mining (operators/dust.py).

Hand-built corpus where the truth is known by construction: ``sid`` and
``ref`` never change the digest, ``page`` always does, ``lone`` appears
only once (no residual target — no evidence at all)."""

import pytest
from pyspark.sql import functions as F

from news_crawler_spark.operators import dust


def _pages(spark):
    rows = []
    # 5 items x all 4 combos of {sid, ref}; digest depends on item only
    for item in range(5):
        sid = f"sid={item * 7}"
        for has_sid in (0, 1):
            for has_ref in (0, 1):
                params = sorted(
                    ([sid] if has_sid else []) + (["ref=aff"] if has_ref else [])
                )
                q = "?" + "&".join(params) if params else ""
                rows.append(
                    (f"https://a.example/i/{item}{q}", f"d{item}")
                )
    # page param CHANGES content: both versions crawled for 3 items
    for item in range(3):
        rows.append((f"https://a.example/p/{item}", f"d{item}"))
        rows.append((f"https://a.example/p/{item}?page=2", f"d{item}p2"))
    # a param with no residual evidence (its base combo never crawled)
    rows.append(("https://a.example/only?lone=1", "dx"))
    return spark.createDataFrame(rows, "url string, digest string")


def test_mine_param_rules_learns_neutral_params(spark):
    rules = {
        r.param: r
        for r in dust.mine_param_rules(_pages(spark), min_support=3).collect()
    }
    assert rules["sid"].removable and rules["sid"].violations == 0
    assert rules["ref"].removable and rules["ref"].violations == 0
    # sid removal is witnessed from {sid} and {sid,ref} URLs: 2 per item
    assert rules["sid"].support == 10
    assert rules["ref"].support == 10
    # page matched its base combo but the digest differed every time
    assert not rules["page"].removable
    assert rules["page"].support == 0 and rules["page"].violations == 3
    # no evidence row at all for the orphan param
    assert "lone" not in rules


def test_min_support_gates_the_rule(spark):
    rules = {
        r.param: r
        for r in dust.mine_param_rules(_pages(spark), min_support=11).collect()
    }
    assert not rules["sid"].removable  # support 10 < 11
    assert rules["sid"].violations == 0


def test_param_order_does_not_matter(spark):
    a = spark.createDataFrame(
        [
            ("https://h.example/x?b=2&a=1&sid=9", "d1"),
            ("https://h.example/x?a=1&b=2", "d1"),
            ("https://h.example/y?sid=3&b=2&a=1", "d2"),
            ("https://h.example/y?b=2&a=1", "d2"),
            ("https://h.example/z?a=1&sid=4&b=2", "d3"),
            ("https://h.example/z?a=1&b=2", "d3"),
        ],
        "url string, digest string",
    )
    rules = {r.param: r for r in dust.mine_param_rules(a).collect()}
    assert rules["sid"].removable and rules["sid"].support == 3


def test_same_sig_two_digests_counts_as_violation(spark):
    # an unstable page: identical URL params, flapping content
    a = spark.createDataFrame(
        [
            ("https://h.example/x?sid=1", "d1"),
            ("https://h.example/x", "d1"),
            ("https://h.example/x", "d2"),
        ],
        "url string, digest string",
    )
    r = {x.param: x for x in dust.mine_param_rules(a, min_support=1).collect()}
    assert r["sid"].support == 1 and r["sid"].violations == 1
    assert not r["sid"].removable


def test_apply_param_rules_rewrites_learned_aliases(spark):
    rules = dust.mine_param_rules(_pages(spark), min_support=3)
    urls = spark.createDataFrame(
        [
            ("https://a.example/i/99?page=2&ref=aff&sid=42",),
            ("https://a.example/i/99?sid=42",),
            ("https://b.example/i/1?sid=42",),  # host with no learned rules
            ("https://a.example/plain",),
        ],
        "url string",
    )
    out = {
        r.url: r.rewritten_url
        for r in dust.apply_param_rules(urls, rules).collect()
    }
    assert out["https://a.example/i/99?page=2&ref=aff&sid=42"] == (
        "https://a.example/i/99?page=2"
    )
    assert out["https://a.example/i/99?sid=42"] == "https://a.example/i/99"
    assert out["https://b.example/i/1?sid=42"] == "https://b.example/i/1?sid=42"
    assert out["https://a.example/plain"] == "https://a.example/plain"


def test_fragment_urls_parse_and_rebuild_safely(spark):
    """ADVICE round 5: a '?' first appearing inside the '#fragment' is
    fragment text, not a query (no bogus param evidence, byte-identical
    pass-through), and a rewrite that fires on a fragment-carrying URL
    must keep the fragment. The query starts at the FIRST '?': a later
    '?' is query text, never a second query start."""
    rules = dust.mine_param_rules(_pages(spark), min_support=3)
    urls = spark.createDataFrame(
        [
            ("https://a.example/i/9#frag?sid=42",),   # '?' only in fragment
            ("https://a.example/i/9?sid=42#frag",),   # real query + fragment
            ("https://a.example/i/9?sid=42&page=1#x",),
            ("https://a.example/i/9?page=1?sid=42",),  # one param, key page
        ],
        "url string",
    )
    out = {
        r.url: r.rewritten_url
        for r in dust.apply_param_rules(urls, rules).collect()
    }
    assert out["https://a.example/i/9#frag?sid=42"] == (
        "https://a.example/i/9#frag?sid=42"
    )
    assert out["https://a.example/i/9?sid=42#frag"] == "https://a.example/i/9#frag"
    assert out["https://a.example/i/9?sid=42&page=1#x"] == (
        "https://a.example/i/9?page=1#x"
    )
    assert out["https://a.example/i/9?page=1?sid=42"] == (
        "https://a.example/i/9?page=1?sid=42"
    )
    parts = spark.createDataFrame([("https://h/p?a=1?b=2",)], "url string")
    host, path, params = dust.split_url(F.col("url"))
    got = parts.select(host.alias("h"), path.alias("p"), params.alias("q")).first()
    assert (got.h, got.p, list(got.q)) == ("h", "/p", ["a=1?b=2"])


def test_mine_plan_has_no_cartesian_and_bounded_shuffle(spark):
    plan = dust.mine_param_rules(_pages(spark))._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_synthetic_net_session_param_is_content_neutral():
    from news_crawler_spark import synth

    u = "https://www.isna.ir/news/1402060503999/x"
    assert synth.content_key(u) == u
    assert synth.content_key(u + "?nsid=abc") == u
    assert synth.content_key(u + "?nsid=abc&page=2") == u + "?page=2"
    assert synth.page_payload(u + "?nsid=abc") == synth.page_payload(u)
    assert synth.page_ok(u + "?nsid=abc") == synth.page_ok(u)
    assert synth.page_payload(u + "?page=2") != synth.page_payload(u)


def test_engine_learns_dust_rules_from_own_crawl(spark, tmp_path_factory):
    """End-to-end loop: crawl a corpus woven with session-id aliases and
    content-bearing page params, then mine rules from the engine's own
    documents table — nsid must come out removable, page must not."""
    from news_crawler_spark.engine import CrawlEngine
    from news_crawler_spark import synth

    wd = str(tmp_path_factory.mktemp("dust_engine"))
    eng = CrawlEngine(spark, wd)
    base = synth.build_seed_list(spark, 40)
    variants = []
    for i, r in enumerate(base.limit(30).collect()):  # bounded test weave
        d = r.asDict()
        sep = "&" if "?" in d["url"] else "?"
        variants.append({**d, "url": d["url"] + sep + f"nsid=s{i}x"})
        variants.append({**d, "url": d["url"] + sep + "page=2"})
    seeds = base.unionByName(
        spark.createDataFrame(variants, base.schema)
    )
    eng.ingest(seeds)
    for _ in eng.run():
        pass
    rules = {r.param: r for r in eng.dust_rules(min_support=2).collect()}
    nsid = [v for k, v in rules.items() if k == "nsid"]
    assert nsid and all(v.removable and v.violations == 0 for v in nsid)
    assert "page" in rules
    assert not rules["page"].removable and rules["page"].violations > 0


def test_learned_rules_feed_the_next_crawl(spark, tmp_path_factory):
    """Full circle: crawl #1 over session-aliased seeds -> mine rules ->
    crawl #2 configured with those rules admits each aliased page ONCE
    (the nsid variants collapse onto their clean twins at ingest), while
    content-bearing page variants stay distinct."""
    from news_crawler_spark.engine import CrawlEngine
    from news_crawler_spark import synth

    base = synth.build_seed_list(spark, 40)
    # weave only ABSOLUTE spellings: learned rules deliberately skip
    # scheme-less/protocol-relative dirt (the canonicalizer owns those)
    absolute = [
        r.asDict()
        for r in base.collect()
        if r.url.startswith("http")
    ][:30]
    assert len(absolute) >= 10
    variants = []
    for i, d in enumerate(absolute):
        sep = "&" if "?" in d["url"] else "?"
        variants.append({**d, "url": d["url"] + sep + f"nsid=s{i}x"})
        variants.append({**d, "url": d["url"] + sep + "page=2"})
    seeds = base.unionByName(spark.createDataFrame(variants, base.schema))

    wd1 = str(tmp_path_factory.mktemp("dust_c1"))
    e1 = CrawlEngine(spark, wd1)
    e1.ingest(seeds)
    n1 = e1.final_frontier().count()
    for _ in e1.run():
        pass
    # min_support=1: hosts with few woven rows (plus 5% failure
    # injection) can have a single witness; the violation gate still
    # rejects `page` — support thresholds are a production knob, the
    # loop under test is mine -> configure -> collapse
    rules = e1.dust_rules(min_support=1)

    wd2 = str(tmp_path_factory.mktemp("dust_c2"))
    e2 = CrawlEngine(spark, wd2, param_rules=rules)
    e2.ingest(seeds)
    n2 = e2.final_frontier().count()
    # expectations from the pure-python canonicalizer twin: crawl #2
    # must admit exactly the distinct canonicals of base+page variants
    # (every surviving nsid alias would show up as n2 > exp2). Fragment
    # spellings ('...#section-2?nsid=...') already collapse in crawl #1
    # — the canonicalizer strips fragments — which the twin accounts
    # for identically.
    from news_crawler_spark.functions.urls import canonicalize_one

    base_urls = [r.url for r in base.collect()]
    nsid_urls = [v["url"] for v in variants if "nsid=" in v["url"]]
    page_urls = [v["url"] for v in variants if v["url"].endswith("page=2")]
    exp1 = len({canonicalize_one(u) for u in base_urls + nsid_urls + page_urls})
    exp2 = len({canonicalize_one(u) for u in base_urls + page_urls})
    assert n1 == exp1
    assert n2 == exp2
    assert n2 < n1
    urls = [r.url for r in e2.final_frontier().select("url").collect()]
    assert not any("nsid=" in u for u in urls)
    assert any("page=2" in u for u in urls)


def test_apply_param_rules_preserves_caller_host_column(spark):
    rules = dust.mine_param_rules(_pages(spark), min_support=3)
    urls = spark.createDataFrame(
        [("https://a.example/i/9?sid=1", "my-host-value")],
        "url string, host string",
    )
    out = dust.apply_param_rules(urls, rules).collect()[0]
    assert out.host == "my-host-value"
    assert out.rewritten_url == "https://a.example/i/9"
