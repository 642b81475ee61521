"""Embedding stage + search pipeline: determinism, dim/norm contracts,
P8/P10 projections, end-to-end crawl→embed→search (E1/E2, §3.3)."""

import math

import pytest

from news_crawler_spark import synth
from news_crawler_spark.engine import CrawlEngine
from news_crawler_spark.operators import embed


@pytest.fixture(scope="module")
def crawl_docs(spark, tmp_path_factory):
    eng = CrawlEngine(spark, str(tmp_path_factory.mktemp("embed_wd")))
    eng.ingest(synth.build_seed_list(spark, 120))
    eng.step(1)
    eng.step(2)
    return eng.documents().cache()


def test_embed_deterministic_unit_vectors(spark, crawl_docs):
    out = embed.embed_documents(crawl_docs, dim=16).cache()
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.dim == 16 and len(r.vector) == 16
        assert abs(math.sqrt(sum(v * v for v in r.vector)) - 1.0) < 1e-5
    # bit-for-bit reproducible (pure function of the text)
    again = {r.doc_id: r.vector for r in embed.embed_documents(crawl_docs, dim=16).collect()}
    for r in rows:
        assert again[r.doc_id] == r.vector


def test_embed_matches_python_oracle(spark, crawl_docs):
    texts = {
        r.doc_id: r.t
        for r in crawl_docs.select(
            "doc_id", embed.embed_text_col().alias("t")
        ).collect()
    }
    got = {r.doc_id: r.vector for r in embed.embed_documents(crawl_docs, dim=8).collect()}
    for doc_id, vec in list(got.items())[:10]:
        want = embed.embed_text(texts[doc_id], 8)
        assert all(abs(a - b) < 1e-6 for a, b in zip(vec, want))


def test_empty_text_filtered(spark):
    df = spark.createDataFrame(
        [("a", "t", "s"), ("b", None, None), ("c", "", "")],
        "doc_id string, title string, summary string",
    )
    out = embed.embed_documents(df, dim=4)
    assert {r.doc_id for r in out.collect()} == {"a"}


def test_search_end_to_end(spark, crawl_docs):
    vectors = embed.embed_documents(crawl_docs, dim=16).cache()
    # query with an existing document's text → that doc must rank #1
    target = crawl_docs.select(
        "doc_id", embed.embed_text_col().alias("t")
    ).orderBy("doc_id").first()
    hits = embed.search(vectors, crawl_docs, target.t, k=5, dim=16).collect()
    assert hits[0].doc_id == target.doc_id
    assert abs(hits[0].score - 1.0) < 1e-4
    assert len(hits) == 5
    assert hits[0].title is not None  # payload joined
    scores = [h.score for h in hits]
    assert scores == sorted(scores, reverse=True)
