"""Every analytics query against its DuckDB twin at sf0.01: each
``<prefix>_<name>(spark, sf)`` and its ``<PREFIX>_SQL`` must return the
same column set, the same row count and the same rows, compared
order-insensitively with floats by ``repr`` (both sides round
explicitly, so a match is bit-exact)."""

import math
import os

import duckdb
import pytest

from news_crawler_spark import analytics

SF = "/root/testdata/sf0.01"

QUERY_NAMES = [
    # the reference's analysis notebook
    "a1_count_by_status",
    "a2_data_quality",
    "a3_freshness",
    "a4_daily_pivot",
    "a5_below_median_days",
    "a5b_outage_days",
    "a6_value_stats",
    "a7_retry_histogram",
    # engine operators replayed in DuckDB
    "j10_frontier_machine",
    "j11_token_bucket_replay",
    "p9_robots_filter",
    "f1_jalali_calendar",
    "f2_persian_datetime_parse",
    "m1_interleaved_spans",
    "e1_embed_drain_schedule",
    # search
    "v1_cosine_topk",
    "v4_filtered_topk",
    "v6_keyword_topk",
    "v7_ts_range_topk",
    "x13_bm25",
    # corpus build
    "x14_corpus_build",
    "d5_dup_clusters",
    "x21_semdedup",
]


def twin_name(query: str) -> str:
    return query.split("_", 1)[0].upper() + "_SQL"


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # exact: both sides round explicitly, so the doubles must be
        # bit-identical
        return repr(v)
    return str(v)


def canon(rows, cols):
    return sorted(tuple(norm_cell(r[c]) for c in sorted(cols)) for r in rows)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for f in sorted(os.listdir(SF)):
        if f.endswith(".parquet"):
            c.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{SF}/{f}'")
    yield c
    c.close()


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_duckdb_twin(spark, con, name):
    df = getattr(analytics, name)(spark, SF)
    sp_cols = df.columns
    sp_rows = [r.asDict() for r in df.collect()]
    res = con.sql(getattr(analytics, twin_name(name)))
    du_cols = list(res.columns)
    du_rows = [dict(zip(du_cols, r)) for r in res.fetchall()]
    assert sorted(sp_cols) == sorted(du_cols)
    assert len(sp_rows) == len(du_rows)
    a, b = canon(sp_rows, sp_cols), canon(du_rows, du_cols)
    assert a == b, [(x, y) for x, y in zip(a, b) if x != y][:3]
