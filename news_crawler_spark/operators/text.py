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
- tokenization (whitespace + a BPE-ish regex token count)
- language ID (stopword-hit heuristic over n-gram-free token sets)
- quality scoring (length / distinct-ratio / stopword-ratio mix)
- document fingerprinting: whole-doc (md5 of normalized text) AND
  partial-overlap winnowing fingerprints (the SIGMOD'03 rolling-hash
  scheme — shared token runs share a fingerprint)

tests/test_pipeline_ops.py pins each; ``bm25_topk`` has its DuckDB twin
``analytics.X13_SQL``.
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

# BPE-ish token regex: runs of letters OR runs of digits OR single
# non-alphanumeric-non-space symbols (a crude byte-pair seed vocabulary).
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokens (the corpus is single-space separated; for raw
    web text use ``F.split(col, '\\\\s+')`` — same shape)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count of BPE-ish regex tokens — JVM-side ``regexp_count``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def stopword_hits(tokens: Column) -> Column:
    stops = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stops, t)))


def stopword_ratio(text: Column | str) -> Column:
    toks = tokens_col(text)
    return stopword_hits(toks) / F.size(toks)


def predict_lang(text: Column | str, threshold: float = 0.05) -> Column:
    """Heuristic language ID: English iff the stopword ratio clears the
    threshold (reference has no langid; this is the training-pipeline op)."""
    return F.when(stopword_ratio(text) > F.lit(threshold), F.lit("en")).otherwise(
        F.lit("unk")
    )


def distinct_token_ratio(text: Column | str) -> Column:
    toks = tokens_col(text)
    return F.size(F.array_distinct(toks)) / F.size(toks)


def mean_token_len(text: Column | str) -> Column:
    toks = tokens_col(text)
    return F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    ) / F.size(toks)


def dup_ngram_fraction(text: Column | str, n: int = 3) -> Column:
    """Fraction of n-gram OCCURRENCES that are repeats of an earlier
    n-gram in the same document: 1 − distinct/total — the
    C4/Gopher-family repetition rule (boilerplate, listicles and
    degenerate generations repeat locally even when globally unique, so
    corpus-level dedup never catches them). Pure codegen'd expressions:
    grams as chained positions over the token array, distinct via
    array_distinct. 0.0 for docs shorter than n tokens (nothing to
    repeat)."""
    toks = tokens_col(text)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    # CASE branches evaluate lazily, so the sequence() above never sees
    # a short doc (where size-n < 0 would make it descend)
    return F.when(F.size(toks) < F.lit(n), F.lit(0.0)).otherwise(
        let_bound(
            grams,
            lambda g: 1.0 - F.size(F.array_distinct(g)) / F.size(g),
        )
    )


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


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    lowercase text (F10 analog; md5 so the DuckDB oracle reproduces it)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(c), "\\s+", " ")))


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


def winnow_fingerprints(
    text: Column | str, n: int = 3, window: int = 4
) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the rolling-hash document fingerprint): hash every word ``n``-gram,
    slide a ``window`` over the hash sequence, keep each window's
    minimum, dedup. Guarantees: any shared run of ≥ n+window-1 tokens
    between two documents shares ≥1 fingerprint — the partial-overlap
    detector that whole-document hashes (``fingerprint``) cannot be.

    Pure higher-order expressions; hashes are md5-derived 64-bit values
    (same construction as dedup.md5_hash64) so the DuckDB oracle
    reproduces them exactly. Match documents on exploded fingerprints
    via an inverted-index join — same shape as ngram_jaccard_pairs.

    Both the token array and the gram-hash array are ``let_bound`` —
    inline they are re-evaluated per element / per window (measured
    292 s → 7.2 s for the x5 query at sf0.1, identical output).
    """
    from .dedup import md5_hash64

    c = F.col(text) if isinstance(text, str) else text

    def with_toks(ts: Column) -> Column:
        # order-preserving n-grams (no distinct) — winnowing needs the
        # positional hash sequence
        grams = F.transform(
            F.sequence(F.lit(0), F.size(ts) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ts, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )

        def with_hashes(hs: Column) -> Column:
            n_wins = F.size(hs) - window + 1
            wins = F.transform(
                F.sequence(F.lit(1), F.greatest(n_wins, F.lit(1))),
                lambda j: F.array_min(F.slice(hs, j, window)),
            )
            return F.array_distinct(wins)

        # short docs (fewer grams than the window) collapse to one
        # window = min over all grams — mirrored by the SQL oracle
        return F.when(
            F.size(ts) >= n, let_bound(F.transform(grams, md5_hash64), with_hashes)
        ).otherwise(F.array().cast("array<long>"))

    return let_bound(F.split(c, " "), with_toks)


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


def with_text_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """All features in one projection — single scan, fully codegen'd."""
    return docs.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        F.round(stopword_ratio(text_col), 6).alias("stop_ratio"),
        predict_lang(text_col).alias("pred_lang"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fp"),
    )


# DSIR hashed-feature space and weight quantum: log-ratios are scaled to
# integer MICRO-NATS (round(ln·1e6)) so per-document weights are exact
# integer sums — engine-portable the same way bm25_topk's 6-decimal idf is.
DSIR_BUCKETS = 64
DSIR_LOG_SCALE = 1_000_000


def dsir_select(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int = DSIR_BUCKETS,
    m: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    score every document by how much its hashed token features look like
    a TARGET domain versus the RAW corpus, and keep the top-``m`` — the
    importance-resampling step a training-mixture pipeline runs to tilt
    a generic crawl toward a domain (here deterministic top-m instead of
    Gumbel sampling, so a SQL twin replays the selection exactly).

    Mechanics: tokens hash into ``n_buckets`` via md5 (both engines
    recompute the SAME bucket from the token string — the d4/v8 recipe);
    per-bucket Laplace-smoothed log-ratios ``ln(p_target/p_raw)`` are
    quantized to integer micro-nats (``round(ln·1e6)``: counts and
    totals are exactly representable doubles, IEEE ÷/× are correctly
    rounded, so the only engine-varying step is ln's last ulp — absorbed
    by the rounding, the bm25 idf argument); a document's weight is then
    the exact INTEGER sum ``Σ count_doc[b]·lr[b]`` — no float
    accumulation anywhere, so ties and the top-m cut are deterministic.

    Scale shape: one token explode → broadcast join against the
    ``n_buckets``-row log-ratio table → one map-side-combining sum per
    doc_id → TakeOrderedAndProject(m). The bucket/total aggregates are
    O(n_buckets)-row partials; nothing driver-side. At 100 TB the
    explode is the same single pass x3/x13 make, and the final top-m
    never globally sorts.

    Returns ``(doc_id, weight)`` — weight in micro-nats, top-m by
    (weight desc, doc_id).
    """
    spark = docs.sparkSession
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        target_pred.cast("int").alias("is_t"),
        F.explode(tokens_col(text_col)).alias("term"),
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("term"), 1, 6), 16, 10).cast("long")
        % F.lit(n_buckets),
    )
    got = toks.groupBy("bucket").agg(
        F.count("*").alias("cr"), F.sum("is_t").alias("ct")
    )
    # left-join against the full bucket range: an unhit bucket still
    # contributes its smoothed prior to the log-ratio table
    counts = (
        spark.range(n_buckets)
        .select(F.col("id").alias("bucket"))
        .join(got, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    tot = counts.agg(
        F.sum("cr").alias("r_tot"), F.sum("ct").alias("t_tot")
    )
    b = F.lit(n_buckets)
    ratio = (
        (F.col("ct") + 1).cast("double") * (F.col("r_tot") + b).cast("double")
    ) / (
        (F.col("cr") + 1).cast("double") * (F.col("t_tot") + b).cast("double")
    )
    lr_tbl = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(F.log(ratio) * F.lit(float(DSIR_LOG_SCALE)))
        .cast("long")
        .alias("lr"),
    )
    weights = (
        toks.join(F.broadcast(lr_tbl), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("lr").alias("weight"))
    )
    return weights.orderBy(F.desc("weight"), "doc_id").limit(m)


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


def unigram_entropy(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token unigram entropy — the language-model-free
    degenerate-text signal of the CCNet/C4 family (a keyboard-mash or
    single-token-spam page has near-zero entropy; natural text sits
    high), complementing x10's repetition fractions with a
    distribution-shape view.

    Exact-integer formulation: with L(x) = round(ln(x)·10⁶) (micro-nats,
    the DSIR/bm25 quantization argument), Shannon entropy
    H = ln n − (Σ c_i·ln c_i)/n is emitted as the INTEGER numerator
    ``h_num = n·L(n) − Σ c_i·L(c_i)`` plus ``n_tokens`` — true entropy
    = h_num / (n·10⁶) nats, but no division ever happens engine-side,
    so the value hash is exact (single-token-type docs give exactly 0).

    Scale shape: one explode → one (doc, token) count → one per-doc sum
    — the x3 token pass with one extra aggregation level; no UDF.
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("t")
    )
    lmicro = lambda c: F.round(F.log(c.cast("double")) * F.lit(1_000_000.0)).cast(  # noqa: E731
        "long"
    )
    per_tok = toked.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * lmicro(F.col("c"))).alias("__s"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") * lmicro(F.col("n_tokens")) - F.col("__s"))
            .cast("long")
            .alias("h_num"),
        )
    )


def bigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document log-probability under a bigram language model
    trained on the corpus itself with add-one (Laplace) smoothing — the
    CCNet/KenLM perplexity-style quality signal: boilerplate and
    keyboard-mash score far below natural text, and unlike x25's
    entropy it is ORDER-sensitive (shuffled tokens keep entropy but
    lose bigram probability).

    Exact-integer formulation (the x25 micro-nat discipline): with
    L(x) = round(ln(x)·10⁶),

        lp_num = Σ_{bigrams (u,v)} [ L(c(u,v)+1) − L(c(u·)+V) ]

    where c(u,v) = corpus bigram count, c(u·) = count of bigrams
    starting at u, V = corpus unigram vocabulary size. True average
    log-prob = lp_num / (n_bigrams·10⁶) nats — no engine-side division,
    so the value hash is exact; docs with fewer than two tokens emit
    (0, 0).

    Scale shape: the model is built with one (u,v) shuffle; the prefix
    totals c(u·) derive from the model itself (GROUP BY u over
    model-sized input — never a second pass over the corpus), V is a
    one-row broadcast, and scoring is a single fact-side join on the
    composite (u,v) key — finer-grained than a join on u alone, which
    matters because token frequency is zipfian and the hot-word skew
    lands on the model-sized side, not the corpus-sided shuffle. No
    UDF anywhere.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("__tk")
    )
    bi = (
        base.where(F.size("__tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(__tk) - 2),"
                    " i -> struct(__tk[i] AS u, __tk[i+1] AS v))"
                )
            ).alias("__b"),
        )
        .select("doc_id", "__b.u", "__b.v")
    )
    lmicro = lambda c: F.round(F.log(c.cast("double")) * F.lit(1_000_000.0)).cast(  # noqa: E731
        "long"
    )
    vocab = base.select(F.explode("__tk").alias("t")).agg(
        F.count_distinct("t").alias("__V")
    )
    cuv = bi.groupBy("u", "v").agg(F.count("*").alias("__cuv"))
    cu = cuv.groupBy("u").agg(F.sum("__cuv").alias("__cu"))
    model = (
        cuv.join(cu, "u")
        .crossJoin(F.broadcast(vocab))
        .select(
            "u",
            "v",
            (lmicro(F.col("__cuv") + 1) - lmicro(F.col("__cu") + F.col("__V"))).alias(
                "__l"
            ),
        )
    )
    scored = (
        bi.join(model, ["u", "v"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("__l").cast("long").alias("lp_num"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("lp_num", F.lit(0)).cast("long").alias("lp_num"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (the byte-pair-encoding merge loop, Sennrich'16) —
# the tokenizer-TRAINING side of the pipeline whose inference side is
# bpe_ish_token_count (X3). The reference tokenizes with a fixed regex
# (its collectors never train a vocabulary); a training-data engine needs
# the trainer itself, and its two stages have very different scale shapes:
#
#   1. the WORD-FREQUENCY table — the only corpus-scale pass (one shuffle
#      on the token string, map-side combined);
#   2. the MERGE LOOP — every iteration touches only the vocab-sized
#      (word, count, symbols) table: count adjacent symbol pairs weighted
#      by word count, pick the argmax pair (count DESC, then lexicographic
#      — fully deterministic), greedily merge it left-to-right inside
#      every word. This is exactly how production BPE trainers
#      (subword-nmt, HuggingFace tokenizers) structure the work; at 100 TB
#      the corpus pass dominates and the loop stays cheap because its
#      input is the vocabulary, never the corpus.
#
# The greedy merge is a pure Catalyst fold (F.aggregate with a
# (emitted-prefix, pending-symbol) struct accumulator) — JVM-side, no
# Python. The argmax pair is LEFT-joined in as a broadcast 1-row frame
# (never collected), so the whole loop is declarative; localCheckpoint
# per iteration truncates the growing lineage (the d5/v10 pattern).


def bpe_init_segmentation(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus → (w, wc, syms): the word-frequency table with each word
    split into single-character symbols. The ONE corpus-scale stage."""
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(text_col, F.lit(BPE_TOKEN_RE), F.lit(0))
        ).alias("w")
    )
    return (
        toks.groupBy("w")
        .agg(F.count("*").cast("long").alias("wc"))
        .withColumn("syms", F.split("w", ""))
    )


def bpe_adjacent_pairs(seg: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-symbol pair counts weighted by word count.
    Words with a single symbol have no pairs and are filtered before the
    explode (sequence(1, 0) would generate a DESCENDING range)."""
    return (
        seg.where(F.size("syms") >= 2)
        .select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms)-1), i -> struct("
                    "element_at(syms, i) AS a, element_at(syms, i+1) AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wc").cast("long").alias("n"))
    )


def _bpe_merge_fold(syms: Column, a: Column, b: Column) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) into a||b as a
    Catalyst fold: the accumulator carries the emitted prefix plus one
    pending symbol; a pending `a` followed by `b` emits the merged
    symbol and clears the carry (so overlapping candidates — only
    possible in equal-symbol runs — resolve exactly like subword-nmt's
    left-to-right scan: 'a a a' → 'aa a'). NULL a/b (no pair left to
    merge anywhere in the vocab) is the identity: the first WHEN catches
    the carry handoff and `carry == a` is never true."""

    def emit(out, carry):
        return F.struct(out.alias("out"), carry.alias("carry"))

    null_s = F.lit(None).cast("string")
    return F.aggregate(
        syms,
        emit(F.array().cast("array<string>"), null_s),
        lambda acc, x: F.when(acc["carry"].isNull(), emit(acc["out"], x))
        .when(
            (acc["carry"] == a) & (x == b),
            emit(F.concat(acc["out"], F.array(F.concat(a, b))), null_s),
        )
        .otherwise(emit(F.concat(acc["out"], F.array(acc["carry"])), x)),
        lambda acc: F.when(acc["carry"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["carry"]))
        ),
    )


def bpe_train(seg: DataFrame, num_merges: int) -> DataFrame:
    """Run ``num_merges`` BPE merge iterations over a (w, wc, syms)
    segmentation and return the final segmentation. Deterministic: the
    merged pair per iteration is argmax by (count DESC, a ASC, b ASC).

    Each iteration is one vocab-sized shuffle (the pair count) plus a
    broadcast of the single winning pair LEFT-joined onto the
    segmentation (join on TRUE: an empty winner — nothing left to merge
    — passes every word through the fold identity instead of wiping the
    frame, and the loop becomes a no-op from there on)."""
    for _ in range(num_merges):
        best = (
            bpe_adjacent_pairs(seg)
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .select(F.col("a").alias("_ba"), F.col("b").alias("_bb"))
        )
        seg = (
            seg.join(F.broadcast(best), F.lit(True), "left")
            .select(
                "w",
                "wc",
                _bpe_merge_fold(
                    F.col("syms"), F.col("_ba"), F.col("_bb")
                ).alias("syms"),
            )
            .localCheckpoint(eager=True)
        )
    return seg


def ccnet_split(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_k: int = 256,
) -> DataFrame:
    """The CCNet selection step (Wenzek et al., "CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data", LREC'20): split
    each group's documents into perplexity terciles — ``head`` (most
    natural text, kept for LM training), ``middle``, ``tail`` (usually
    dropped). Composes two gated components: the quality score is
    x28's corpus-self-trained bigram cost (exact integer milli-nats
    per bigram; order-sensitive, unlike entropy), and the tercile
    thresholds come from x31's deterministic hash-sample quantile
    sketch — NOT a per-group global sort, which is the textbook ntile
    formulation and exactly what dies first at 10^9 docs/group.

    Scale shape: scoring is bigram_logprob's one corpus shuffle +
    model-sized joins; the sketch is a bounded two-phase aggregate
    (≤ sample_k rows per group ever cross the wire); assignment is a
    broadcast threshold join + one CASE projection. Docs too short to
    score (< 2 tokens) get a NULL cost and land in ``tail`` —
    CCNet's convention for unscorable text.

    Output: (doc_id, group, ppl_milli, bucket). ``ppl_milli`` =
    floor(1000 · −lp_num / n_bigrams) — positive, smaller = better —
    exact integer floor division, so the DuckDB twin reproduces every
    boundary decision bit-for-bit.
    """
    from . import sketch as sketch_ops

    scored = bigram_logprob(docs, text_col, id_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(group_col).alias("group")
    )
    sc = base.join(scored, "doc_id").withColumn(
        "ppl_milli",
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("(1000 * -lp_num) DIV n_bigrams"),
        ).cast("long"),
    )
    sk = sketch_ops.qsketch_bottom_k(
        sc.filter(F.col("ppl_milli").isNotNull()),
        ["group"],
        "doc_id",
        "ppl_milli",
        sample_k,
    )
    thr = sketch_ops.qsketch_quantiles(
        sk, [("t33", 1, 3), ("t66", 2, 3)]
    ).select("group", "t33", "t66")
    return (
        sc.join(F.broadcast(thr), "group", "left")
        .select(
            "doc_id",
            "group",
            "ppl_milli",
            F.when(F.col("ppl_milli").isNull(), F.lit("tail"))
            .when(F.col("ppl_milli") <= F.col("t33"), F.lit("head"))
            .when(F.col("ppl_milli") <= F.col("t66"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
