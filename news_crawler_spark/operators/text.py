"""Text-analysis operators for a large-scale training-data pipeline.

The reference's text handling is per-row CPython (content cleaning
collectors/isna/isna_source.py:100-112, quality filters
collectors/shargh/pages_collector.py:270-277,329-335, embed-text projection
vector_db_manager.py:205-215). Here every feature operator is a pure
``pyspark.sql.functions`` expression — JVM-side, whole-stage-codegen'd,
no Python in the hot path — so it survives a 100 TB scan unchanged.
Search is the exception: ``bm25_topk`` builds its postings with one
Spark aggregate per corpus DataFrame and answers each query from them
in numpy on the driver, as the reference's full-text index answers from
an index already built.

Operators:
- tokenization (whitespace tokens and their count)
- quality scoring (length / distinct-ratio / stopword-ratio mix), the
  gate of the corpus build (analytics.x14)
- Gopher-style rule flags (``gopher_flags``, run by run_pipeline.py)
- BM25 top-k search (``bm25_topk``)
- ``let_bound``, the one-evaluation binding for higher-order lambdas

``quality_score`` is checked through x14's DuckDB twin, ``bm25_topk``
through ``analytics.X13_SQL``; tests/test_text_features.py pins
``bm25_topk`` and ``gopher_flags`` against Python twins.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import cached_index, spark_round, top_k

# Tiny deterministic English stopword list — shared with the DuckDB oracle
# (keep in sync with analytics.py SQL strings).
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokens (the corpus is single-space separated; for raw
    web text use ``F.split(col, '\\\\s+')`` — same shape)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens_col(text))


def stopword_hits(tokens: Column) -> Column:
    stops = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stops, t)))


def quality_score(text: Column | str) -> Column:
    """Composite quality in [0,1]-ish: favors long, lexically diverse,
    naturally-stopworded text (the P7 content-quality filter generalized
    to a score). Deterministic closed form, shared with the SQL oracle."""
    toks = tokens_col(text)
    n = F.size(toks)
    length_part = F.least(n / F.lit(100.0), F.lit(1.0))
    diversity = F.size(F.array_distinct(toks)) / n
    stop = stopword_hits(toks) / n
    stop_part = F.lit(1.0) - F.abs(stop - F.lit(0.06)) / F.lit(0.06)
    return F.round(
        F.lit(0.4) * length_part + F.lit(0.4) * diversity
        + F.lit(0.2) * F.greatest(stop_part, F.lit(0.0)),
        4,
    )


def let_bound(value: Column, body) -> Column:
    """Real let-binding for higher-order expressions: evaluate ``value``
    ONCE and hand the bound variable to ``body``.

    Spark lambdas re-evaluate captured EXPRESSIONS at every use site —
    the trap behind round 1's O(tokens²) shingles and round 2's
    64-md5s-per-token SimHash. Wrapping the value in a 1-element array
    and transforming over it makes it a bound NamedLambdaVariable inside
    ``body`` (evaluated once per row), at the cost of one array alloc.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


class _Postings(NamedTuple):
    lists: dict  # term -> positions of its postings
    doc: np.ndarray  # per posting: code of its doc id in ``ids``
    tf: np.ndarray
    dl: np.ndarray
    ids: pa.Array  # distinct doc ids
    n: float
    avgdl: float


def _bm25_postings(docs: DataFrame, text_col: str, id_col: str) -> _Postings:
    """One Spark aggregate, collected through Arrow: a row per (doc id,
    term) with its tf and dl. posexplode_outer marks each input row once
    (position 0, or null for a null text), so the same rows also carry
    the corpus stats: N counts input rows, avgdl averages their non-null
    lengths."""
    toks = tokens_col(text_col)
    first = F.col("pos").isNull() | (F.col("pos") == 0)
    t = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).cast("double").alias("dl"),
            F.posexplode_outer(toks).alias("pos", "term"),
        )
        .groupBy("doc_id", "term")
        .agg(
            F.count("term").cast("double").alias("tf"),
            F.max("dl").alias("dl"),
            F.count_if(first).alias("n_rows"),
            F.sum(F.when(first, F.col("dl"))).alias("dl_sum"),
            F.count(F.when(first, F.col("dl"))).alias("n_dl"),
        )
        .toArrow()
    )
    n = float(pc.sum(t.column("n_rows")).as_py() or 0)
    n_dl = pc.sum(t.column("n_dl")).as_py() or 0
    avgdl = (pc.sum(t.column("dl_sum")).as_py() or 0.0) / n_dl if n_dl else np.nan
    t = t.filter(pc.is_valid(t.column("term")))
    docs_enc = t.column("doc_id").combine_chunks().dictionary_encode("encode")
    terms = t.column("term").combine_chunks().dictionary_encode()
    codes = terms.indices.to_numpy()
    ends = np.cumsum(np.bincount(codes, minlength=len(terms.dictionary)))
    by_term = np.split(np.argsort(codes, kind="stable"), ends[:-1])
    return _Postings(
        lists=dict(zip(terms.dictionary.to_pylist(), by_term)),
        doc=docs_enc.indices.to_numpy(),
        tf=t.column("tf").to_numpy(),
        dl=t.column("dl").to_numpy(),
        ids=docs_enc.dictionary,
        n=n,
        avgdl=avgdl,
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval over the corpus — the lexical counterpart
    to the vector searches in operators/similarity (the reference pairs
    its Qdrant vector index with a dedicated full-text index,
    qdrant_full_text_search_index.py / create_vector_db_index.py:77-98;
    BM25 is what that index ranks with). Robertson/Sparck-Jones idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` with the standard tf
    saturation and length normalization.

    Returns the top-``k`` ``(doc_id, score)`` by score desc, id asc.

    The postings (term → doc id, tf, dl) and the corpus stats (N, avgdl)
    are an index in driver memory, built by one Spark aggregate on the
    first search over this DataFrame object and cached for its lifetime
    (``similarity.cached_index``). A query scores only its distinct
    terms' posting lists in numpy and returns its k rows as a local
    DataFrame, so a repeat search starts no Spark job.

    Determinism across engines: idf is rounded to 6 decimals before
    use — N, df, tf, dl, avgdl are all exactly representable doubles
    and IEEE ×/÷ are correctly rounded, so after the idf round every
    per-term contribution is bit-identical here and in the SQL twin;
    the only engine-varying step left is the ≤|terms|-element sum
    (ulp-level), absorbed by the final round to 4.
    """
    ix = cached_index(
        docs, ("bm25", text_col, id_col), lambda d: _bm25_postings(d, text_col, id_col)
    )
    lists = [ix.lists[t] for t in dict.fromkeys(query_terms) if t in ix.lists]
    df = np.array([len(p) for p in lists], dtype=np.int64)
    idf = np.repeat(spark_round(np.log(1.0 + (ix.n - df + 0.5) / (df + 0.5)), 6), df)
    p = np.concatenate([np.empty(0, np.int64)] + lists)
    tf, dl = ix.tf[p], ix.dl[p]
    contrib = idf * (tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / ix.avgdl)))
    hit_docs, per_hit = np.unique(ix.doc[p], return_inverse=True)
    scores = spark_round(np.bincount(per_hit, weights=contrib, minlength=len(hit_docs)), 4)
    ids = ix.ids.take(hit_docs)
    top = top_k(scores, ids, k)
    return docs.sparkSession.createDataFrame(
        pa.table({"doc_id": ids.take(top), "score": pa.array(scores[top], pa.float64())})
    )


# Gopher-rules thresholds as pure rationals (cross-multiplied below —
# no float division anywhere, so every flag is engine-exact):
# mean word length in [3, 10]; ≥80% alphabetic tokens; ≥2 stopword hits;
# token count in [5, 10_000].
GOPHER_MIN_TOKENS = 5
GOPHER_MAX_TOKENS = 10_000
GOPHER_MWL_MIN = 3
GOPHER_MWL_MAX = 10
GOPHER_ALPHA_NUM = 4  # alpha_tokens/tokens ≥ 4/5
GOPHER_ALPHA_DEN = 5
GOPHER_MIN_STOPS = 2


def gopher_flags(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1) as
    one codegen'd projection — the rule-based gate a training pipeline
    runs before any model-based filter: token-count bounds, mean word
    length 3-10, ≥80% alphabetic tokens, ≥2 stopword hits. Every rule is
    a cross-multiplied INTEGER comparison (mean-word-length ∈ [3,10] ⇔
    3·n ≤ Σ|tok| ≤ 10·n), so a SQL twin reproduces each flag exactly —
    no ratio ever materializes as a float.

    Returns the supporting counts and per-rule flags plus the combined
    ``passes`` — keep the counts in the output so a failed doc is
    attributable without recomputation. One scan, no shuffle, no UDF
    (the x11/x2 plan shape).
    """
    toks = tokens_col(text_col)
    n = F.size(toks)
    chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    stops = stopword_hits(toks)
    n_ok = (n >= GOPHER_MIN_TOKENS) & (n <= GOPHER_MAX_TOKENS)
    mwl_ok = (F.lit(GOPHER_MWL_MIN) * n <= chars) & (
        chars <= F.lit(GOPHER_MWL_MAX) * n
    )
    alpha_ok = F.lit(GOPHER_ALPHA_DEN) * alpha >= F.lit(GOPHER_ALPHA_NUM) * n
    stop_ok = stops >= GOPHER_MIN_STOPS
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_tokens"),
        chars.cast("long").alias("tok_chars"),
        alpha.cast("long").alias("n_alpha"),
        stops.cast("long").alias("n_stops"),
        n_ok.cast("int").alias("count_ok"),
        mwl_ok.cast("int").alias("mwl_ok"),
        alpha_ok.cast("int").alias("alpha_ok"),
        stop_ok.cast("int").alias("stop_ok"),
        (n_ok & mwl_ok & alpha_ok & stop_ok).cast("int").alias("passes"),
    )
