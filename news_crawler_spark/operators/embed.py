"""Embedding stage + semantic search (SURVEY.md §2.12 E1/E2, §3.3).

The reference embeds articles in chunked batches via an external API
(embedding_service.py:453-531; dim 768/1024/1536 by provider,
config.py:184-217), upserts vectors to Qdrant keyed by uuid5(url)
(vector_db_manager.py:242-292), and serves cosine top-10 search
(search_news.py:64-88). The embed text is ``title + ". " + summary``
falling back to content, newlines collapsed (vector_db_manager.py:205-215).

Here:
- the embed-text projection (P10) is pure expressions;
- the embedder is a deterministic hash-based synthetic model behind the
  same ``mapInPandas`` stage a real model forward would use (iterator
  form → model loads once per partition; Arrow batches ≈ the reference's
  ≤100-doc API chunks);
- empty texts are filtered before embedding (P8,
  embedding_service.py:217-220) and the output dim is schema-enforced
  (the reference's dim-validation, embedding_service.py:98-159);
- search = embed the query (driver-side, same function) → brute-force
  cosine top-k over the driver-side vector index the first search builds
  (``similarity.vector_index``) → join payloads on the k hits.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.xxh64 import xxh64
from . import similarity

DEFAULT_DIM = 64


def embed_text(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic synthetic embedding: dim hash-derived components in
    [-1, 1], L2-normalized. Pure function of the text — the python oracle
    and the Spark stage share this exact code."""
    base = xxh64(text.encode("utf-8"))
    vals = np.empty(dim, dtype=np.float64)
    for i in range(dim):
        h = xxh64(f"e:{base}:{i}".encode())
        vals[i] = (h / float(1 << 63)) - 1.0
    n = float(np.sqrt((vals * vals).sum()))
    return [float(v) for v in (vals / n if n else vals)]


def embed_text_col(title: Column | str = "title", summary: Column | str = "summary",
                   content: Column | str | None = None) -> Column:
    """P10: ``title + '. ' + summary``, else content; newlines → spaces
    (vector_db_manager.py:205-215) — pure expressions."""
    t = F.col(title) if isinstance(title, str) else title
    s = F.col(summary) if isinstance(summary, str) else summary
    # empty parts become NULL so concat_ws skips them ("" + "" must not
    # produce the bare separator ". ")
    joined = F.nullif(
        F.concat_ws(". ", F.nullif(F.trim(t), F.lit("")), F.nullif(F.trim(s), F.lit(""))),
        F.lit(""),
    )
    if content is not None:
        c = F.col(content) if isinstance(content, str) else content
        joined = F.coalesce(joined, c)
    return F.regexp_replace(joined, "[\\n\\r]+", " ")


def embed_documents(
    docs: DataFrame,
    dim: int = DEFAULT_DIM,
    id_col: str = "doc_id",
    text_expr: Column | None = None,
) -> DataFrame:
    """Documents → (doc_id, vector, dim). Empty texts dropped (P8)."""
    text = text_expr if text_expr is not None else embed_text_col()
    src = (
        docs.select(F.col(id_col).alias("doc_id"), text.alias("__text"))
        .filter(F.trim(F.col("__text")) != "")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a real model would load here, once per partition
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "vector": [embed_text(t, dim) for t in pdf["__text"]],
                    "dim": np.int32(dim),
                }
            )

    return src.mapInPandas(run, schema="doc_id string, vector array<float>, dim int")


def search(
    embeddings: DataFrame,
    documents: DataFrame,
    query_text: str,
    k: int = 10,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """§3.3: embed the query, cosine top-k over the vectors, join payload.

    The query is embedded on the driver (ONE string — the same thing the
    reference does before calling Qdrant) and scored against
    ``similarity.vector_index(embeddings, "vector")``, the vectors held
    in driver memory, built by one Spark job on the first search over
    this ``embeddings`` object; scores are rounded to 6. Only the k best
    rows become a DataFrame, so the payload join touches k rows.
    """
    index = similarity.vector_index(embeddings, "vector")
    scores = similarity.cosine_scores(
        index, np.array(embed_text(query_text, dim)), np.arange(len(index.m)), 6
    )
    top = similarity.top_k(scores, index.rows.column("doc_id"), k)
    vectors = pa.array(list(index.m[top]), index.vec_type)
    hits = (
        index.rows.take(top)
        .append_column("vector", vectors)
        .append_column("score", pa.array(scores[top], pa.float64()))
        .select(embeddings.columns + ["score"])
    )
    return (
        embeddings.sparkSession.createDataFrame(hits)
        .join(documents, "doc_id", "left")
        .orderBy(F.desc("score"), "doc_id")
    )
