"""The searches served from a per-DataFrame index (``text.bm25_topk``,
``similarity.topk_cosine``) against their DuckDB twins (``X13_SQL``,
``V1_SQL``) on small hand-made corpora with the awkward rows: null and
empty text, duplicate ids, repeated and absent query terms, k past the
number of hits, a missing query id, and two DataFrames searched in turn
(an index must never answer for another DataFrame). Rows compare by
``repr``, so scores must match bit for bit."""

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from news_crawler_spark import analytics
from news_crawler_spark.operators import similarity, text


def _twin(table: str, rows: pa.Table, sql: str) -> list[str]:
    con = duckdb.connect()
    try:
        con.register(table, rows)
        return [repr(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def _x13(terms, k):
    sql = analytics.X13_SQL.replace(repr(analytics.BM25_TERMS), repr(tuple(terms)))
    return sql.replace("LIMIT 10", f"LIMIT {k}")


def _v1(query_vec_id, k):
    q = analytics.QUERY_VEC_ID
    return (
        analytics.V1_SQL.replace(f"vec_id = {q})", f"vec_id = {query_vec_id})")
        .replace(f"vec_id <> {q}", f"vec_id <> {query_vec_id}")
        .replace("LIMIT 10", f"LIMIT {k}")
    )


def test_bm25_index_matches_x13_twin(spark):
    corpus_a = [
        (1, "dup table window"),
        (2, None),
        (3, ""),
        (4, "table table dup"),
        (4, "window dup"),  # a second row under doc_id 4
        (5, "a b c"),
        (6, "dup"),
        (7, "table  window window"),
        (8, "row scan table dup merge"),
    ]
    corpus_b = [(10 + i, t) for i, t in enumerate(["dup dup", "merge table", "window", "scan"])]
    frames = {}
    for name, rows in (("a", corpus_a), ("b", corpus_b)):
        frames[name] = (
            spark.createDataFrame(rows, "doc_id long, text string"),
            pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}),
        )
    queries = [
        ("a", ("dup", "dup", "table"), 3),  # repeated term counts once
        ("a", ("zzz", "window"), 50),  # absent term; k past the hits
        ("b", ("dup", "merge"), 10),
        ("a", ("dup", "merge", "window"), 10),
        ("b", ("zzz", "yyy"), 10),  # no hit at all
    ]
    for name, terms, k in queries:
        df, rows = frames[name]
        got = [repr(tuple(r)) for r in text.bm25_topk(df, terms, k=k).collect()]
        assert got == _twin("documents", rows, _x13(terms, k)), (name, terms)
    assert len(text.bm25_topk(frames["a"][0], ("dup", "table"), k=50).collect()) == 5


def test_topk_index_matches_v1_twin(spark):
    rng = np.random.default_rng(7)

    def corpus(n, ids):
        v = rng.standard_normal((n, 16)).astype(np.float32)
        rows = pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 5, n), pa.int32()),
        })
        return spark.createDataFrame(rows), rows

    frames = {"a": corpus(40, range(40)), "b": corpus(25, range(100, 125))}
    queries = [
        ("a", 3, 10),
        ("b", 107, 10),
        ("a", 3, 100),  # k past the number of vectors
        ("a", 999, 10),  # no vector has this id
        ("b", 3, 10),  # id of the other corpus
        ("b", 124, 5),
    ]
    for name, qid, k in queries:
        df, rows = frames[name]
        got = [repr(tuple(r)) for r in similarity.topk_cosine(df, qid, k=k).collect()]
        assert got == _twin("embeddings", rows, _v1(qid, k)), (name, qid, k)
    assert similarity.topk_cosine(frames["a"][0], 999).collect() == []
    assert len(similarity.topk_cosine(frames["a"][0], 3, k=100).collect()) == 39


def test_spark_round_matches_f_round(spark):
    """``spark_round`` equals ``F.round`` bit for bit, on decimal
    half-way values (where HALF_UP on Java's decimal string and
    half-even on the binary value part ways) and on random doubles."""
    halves = [0.00005, 0.12345, -0.00005, 1.00005, 0.00015, -0.00015, 2.675, 0.0000005]
    halves += [(2 * i + 1) * 5e-5 for i in range(300)]
    halves += [-(2 * i + 1) * 5e-7 for i in range(300)]
    rng = np.random.default_rng(3)
    values = halves + list(rng.standard_normal(500)) + list(rng.random(200) * 1e-3)
    values += [0.0, -0.0, -1e-9, 123456.78905, 1e17 + 0.5]
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    for digits in (4, 6):
        want = [r[0] for r in df.select(F.round("x", digits)).collect()]
        got = similarity.spark_round(np.array(values), digits)
        assert [repr(float(g)) for g in got] == [repr(w) for w in want], digits
        # the half-way inputs are where Python's round goes the other way
        assert any(round(v, digits) != w for v, w in zip(values, want))
