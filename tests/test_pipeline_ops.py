"""Training-data-pipeline operators: dedup (exact / MinHash), similarity
search, multimodal plumbing, sampling — Spark vs independent pure-Python
oracles on the sf0.001 testdata tables."""

import struct

import pytest
from pyspark.sql import functions as F

from news_crawler_spark.functions.xxh64 import xxh64
from news_crawler_spark.operators import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist at module teardown: a session-lifetime cache entry for the
    # FULL documents scan makes Spark's CacheManager substitute the cached
    # relation into LATER modules' plans, defeating the column pruning that
    # test_plans asserts (the InMemoryRelation prints its cached child's
    # full ReadSchema) — an ordering-dependent flake, not a real regression.
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def doc_rows(docs):
    return {r.doc_id: r.text for r in docs.collect()}


# -- python twins -----------------------------------------------------------

def _signed(u):
    return u - (1 << 64) if u >= (1 << 63) else u


def py_hash_i(s: str, i: int) -> int:
    """Twin of dedup._hash_with_index over strings: xxhash64(i::long, s)."""
    seed = xxh64(struct.pack("<q", i), 42)
    return _signed(xxh64(s.encode(), seed))


def py_hash_i_long(h: int, i: int) -> int:
    """Twin of dedup._hash_with_index over a hashed shingle (long):
    xxhash64(i::long, h) — Spark hashes the 8 little-endian bytes."""
    seed = xxh64(struct.pack("<q", i), 42)
    return _signed(xxh64(struct.pack("<Q", h & ((1 << 64) - 1)), seed))


def py_shingles(txt: str, n: int = 3) -> set[str]:
    toks = txt.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)} if len(toks) >= n else set()


def py_hashed_shingles(txt: str, n: int = 3) -> set[int]:
    """Twin of dedup.with_hashed_shingles: token hashes chained through
    xxhash64 (each arg's hash seeds the next), never a gram string."""
    mask = (1 << 64) - 1
    th = [xxh64(t.encode(), 42) for t in txt.split(" ")]
    out = set()
    for i in range(len(th) - n + 1):
        seed = 42
        for h in th[i : i + n]:
            seed = xxh64(struct.pack("<Q", h & mask), seed)
        out.add(seed)
    return out


def py_minhash(txt: str, num_hashes: int = 128) -> list[int]:
    hs = py_hashed_shingles(txt)  # hashed shingles
    return [min(py_hash_i_long(h, i) for h in hs) for i in range(num_hashes)]


def py_jaccard_pairs(doc_rows, threshold=0.6, n=3):
    sh = {d: py_shingles(t, n) for d, t in doc_rows.items() if py_shingles(t, n)}
    ids = sorted(sh)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if round(j, 4) >= threshold:
                out.add((a, b))
    return out


# -- dedup ------------------------------------------------------------------


def test_short_docs_drop_out_of_shingle_pipelines(spark):
    """A doc with fewer than n tokens has no shingles: it must vanish
    from with_hashed_shingles (not surface as an empty array whose
    all-NULL MinHash signature could band-collide) and must never pair."""
    rows = [
        ("short", "only two"),
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id for r in dedup.with_hashed_shingles(df).collect()}
    assert got == {"a", "b"}
    pairs = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_lsh_pairs(df, threshold=0.6).collect()
    }
    assert pairs == {("a", "b")}


def test_hashed_shingles_match_python_twin(spark, docs, doc_rows):
    got = {
        r.doc_id: set(r.sh)
        for r in dedup.with_hashed_shingles(docs.limit(8)).collect()
    }
    signed = lambda v: v - (1 << 64) if v >= (1 << 63) else v  # noqa: E731
    for doc_id, sh in got.items():
        want = {signed(h) for h in py_hashed_shingles(doc_rows[doc_id])}
        assert sh == want, doc_id


def test_minhash_signature_matches_python_twin(spark, docs, doc_rows):
    got = {
        r.doc_id: list(r.sig)
        for r in dedup.with_minhash(docs.limit(5), num_hashes=16).collect()
    }
    for doc_id, sig in got.items():
        assert sig == py_minhash(doc_rows[doc_id], 16)[: len(sig)], doc_id


def test_lsh_equals_exact_jaccard(spark, docs, doc_rows):
    lsh = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    assert lsh == py_jaccard_pairs(doc_rows, 0.6)


def _jobs_of(spark, action):
    """Run ``action`` under a fresh job group; return its result and the
    ids of the Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"ops-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_for_cpu_never_runs_its_input(spark):
    """spread_for_cpu decides without executing its input: on a fresh
    semi-joined documents frame (its plan holds a shuffle, whose stages
    AQE would run to report a partition count) it starts no Spark job,
    while a plain one-partition scan is still spread over the cores."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    canon = d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    semi = d.join(canon.select("doc_id"), "doc_id", "left_semi")
    _, jobs = _jobs_of(spark, lambda: dedup.spread_for_cpu(semi))
    assert jobs == []

    cores = spark.sparkContext.defaultParallelism
    assert d.rdd.getNumPartitions() < cores
    assert dedup.spread_for_cpu(d).rdd.getNumPartitions() == cores


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc")], "doc_id long, text string"
    )
    got = {r.fp: (r.canonical_id, r.n_copies) for r in dedup.exact_duplicates(df).collect()}
    assert sorted(got.values()) == [(1, 2), (3, 1)]


# -- similarity -------------------------------------------------------------

def test_topk_cosine_matches_numpy(spark):
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in rows}
    q = vecs[7]
    scores = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
        if vid != 7
    }
    want = sorted(scores.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))[:10]
    got = [(r.vec_id, r.score) for r in similarity.topk_cosine(emb, 7, k=10).collect()]
    assert [(v, round(s, 4)) for v, s in want] == got


# -- multimodal -------------------------------------------------------------

def test_media_plumbing(spark):
    spans_docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text", "text": "hi", "media_ref": None, "offset": 0},
                    {"kind": "image", "text": None, "media_ref": "img://1.jpg", "offset": 1},
                    {"kind": "image", "text": None, "media_ref": "img://2.jpg", "offset": 2},
                ],
            ),
            (
                "d2",
                [{"kind": "image", "text": None, "media_ref": "img://1.jpg", "offset": 0}],
            ),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = multimodal.media_table(spans_docs)
    rows = {r.media_ref: r for r in media.collect()}
    assert set(rows) == {"img://1.jpg", "img://2.jpg"}  # distinct refs
    for ref, r in rows.items():
        assert r.payload == multimodal.synth_media_payload(ref)
        assert r.meta.n_bytes == len(r.payload)
    feats = {r.media_ref: r for r in multimodal.extract_media_features(media).collect()}
    for ref, r in feats.items():
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-5  # L1-normalized histogram
        assert r.n_bytes == rows[ref].meta.n_bytes


def _py_expected_spans(doc_id: int, text: str, para=8, img_every=3):
    """Independent python twin of the m1 expected span sequence: 8-token
    paragraphs, an image after every 3rd, positions by construction."""
    toks = text.split(" ")
    np_ = -(-len(toks) // para)
    seq = []
    for c in range(np_):
        seq.append(("text", " ".join(toks[c * para:(c + 1) * para]), None))
        if (c + 1) % img_every == 0:
            seq.append(("image", None, f"img-{doc_id}-{(c + 1) // img_every}"))
    return [(k, t, m, off) for off, (k, t, m) in enumerate(seq)]


def test_m1_span_equality_all_dialects(spark, tmp_path):
    """The m1 pipeline end-to-end on one doc per markup dialect: the real
    regex extractor's span sequence equals the arithmetic twin — the
    north-rule invariant (kind, text, media_ref, order) per dialect."""
    from news_crawler_spark import analytics

    texts = {
        0: " ".join(f"w{i}" for i in range(20)),   # classic (isna), 3 paras
        1: " ".join(f"x{i}" for i in range(25)),   # divs (tasnim), 4 paras
        2: " ".join(f"y{i}" for i in range(49)),   # spans (shargh), 7 paras
    }
    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    ).coalesce(1).write.parquet(p)
    out = analytics.m1_interleaved_spans(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 3
    for doc_id, text in texts.items():
        hid = format(doc_id, "016x")
        rows = sorted(by_doc[hid], key=lambda r: r.offset)
        assert rows[0].title == f"doc {doc_id}"
        got = [(r.kind, r.text, r.media_ref, r.offset) for r in rows]
        assert got == _py_expected_spans(doc_id, text), f"dialect {doc_id % 3}"
    # dialect coverage: every doc produced at least one image span
    assert all(
        any(r.kind == "image" for r in rows) for rows in by_doc.values()
    )

    # media sizes from the same spans, pinned to the python synth path
    media = multimodal.media_table(analytics._m1_extracted(spark, str(tmp_path)))
    m2 = {r.media_ref: r.meta.n_bytes for r in media.collect()}
    assert m2  # at least one media item
    for ref, n_bytes in m2.items():
        assert n_bytes == len(multimodal.synth_media_payload(ref))


# -- fetch/extract path parity -----------------------------------------------

def _fetch_pages(popped):
    """Two-stage twin of fetch_extract_pages' fetch half: one row per
    popped URL with its raw page payload (None when the fetch fails),
    the input ``extract.extract_documents`` parses."""
    from news_crawler_spark import synth

    cols = ["canonical_url", "url_hash", "host", "source", "published_ts"]

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["ok"] = pdf["canonical_url"].map(synth.page_ok)
            pdf["payload"] = [
                synth.page_payload(u) if ok else None
                for u, ok in zip(pdf["canonical_url"], pdf["ok"])
            ]
            yield pdf

    return popped.select(*cols).mapInPandas(
        run,
        "canonical_url string, url_hash long, host string, source string, "
        "published_ts timestamp, ok boolean, payload string",
    )


def test_fused_fetch_extract_matches_two_stage(spark):
    from news_crawler_spark import synth
    from news_crawler_spark.functions.urls import with_url_columns
    from news_crawler_spark.operators.extract import (
        documents_from_fetch_extract,
        extract_documents,
    )
    from news_crawler_spark.operators.fetch import fetch_extract_pages

    cand = (
        with_url_columns(synth.build_seed_list(spark, 300))
        .withColumn("priority", F.pmod(F.col("url_hash"), F.lit(3)).cast("int"))
        .withColumn("tried_count", F.lit(0))
    ).cache()

    two_stage = extract_documents(_fetch_pages(cand))
    fused = documents_from_fetch_extract(fetch_extract_pages(cand))

    def key(df):
        return {
            r.doc_id: (r.url, r.title, r.summary, tuple(r.keywords),
                       tuple((s.kind, s.text, s.media_ref, s.offset) for s in r.spans),
                       r.published_epoch)
            for r in df.collect()
        }

    a, b = key(two_stage), key(fused)
    assert a == b and len(a) > 0


def test_signlsh_quantization_parity(spark):
    """The invariant every integer-exact twin of the quantized vectors
    rests on: a numpy-float64 quantization (floor(v·1e6+0.5), as the
    python brute forces of the k-means and SemDeDup tests compute it)
    equals EXACTLY what the catalyst expression ``quantize_vec``
    computes (both are IEEE-double arithmetic), for every component of
    every real embedding."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    expr = {
        r.vec_id: r.q
        for r in emb.select(
            "vec_id", similarity.quantize_vec(F.col("embedding")).alias("q")
        ).collect()
    }
    for r in emb.collect():
        v = np.asarray(r.embedding, dtype=np.float64)
        q = np.floor(v * similarity.QUANT + 0.5).astype(np.int64)
        assert q.tolist() == expr[r.vec_id]


def test_per_source_dialect_span_equality(spark):
    """F12: each source's markup dialect parses to identical logical spans
    via the engine regex configs AND the independent oracle affix parser;
    the raw markup itself must differ across dialects."""
    from news_crawler_spark import synth
    from news_crawler_spark.operators.extract import doc_fields, parse_spans
    from news_crawler_spark.oracle import extract_spans_oracle

    payloads = {}
    for art_key in range(200):
        src, _host, url = synth.clean_url(art_key)
        payloads.setdefault(synth.SOURCE_DIALECT[src], (src, url))
        if len(payloads) == 3:
            break
    assert len(payloads) == 3  # all three dialects exercised
    seen_markup = set()
    for dialect, (src, url) in payloads.items():
        payload = synth.page_payload(url)
        seen_markup.add(payload.split("\n")[0][:10])
        engine_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in parse_spans(payload, src)
        ]
        oracle_spans = extract_spans_oracle(payload, src)
        assert engine_spans == oracle_spans and len(engine_spans) >= 3, dialect
        title, summary, kws, _ = doc_fields(payload, src)
        assert title and summary and kws, dialect
        # wrong config must NOT parse this dialect (selector is load-bearing)
        other = {"classic": "divs", "divs": "spans", "spans": "classic"}[dialect]
        wrong_src = [s for s, d in synth.SOURCE_DIALECT.items() if d == other][0]
        assert parse_spans(payload, wrong_src) == []
    assert len(seen_markup) == 3  # three genuinely different markups


def test_duplicate_clusters_matches_union_find(spark):
    """Iterative min-label propagation == python union-find on the same
    pair graph (chain, clique, isolated pair, and a long path that needs
    multiple propagation rounds)."""
    pairs = [
        (1, 2), (2, 3),                 # chain -> {1,2,3}
        (10, 11), (10, 12), (11, 12),   # clique -> {10,11,12}
        (20, 21),                       # pair
        (30, 31), (31, 32), (32, 33), (33, 34), (34, 35),  # long path
    ]
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    got = {r.doc_id: r.cluster_id
           for r in dedup.duplicate_clusters(df).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    want = {n: find(n) for n in parent}
    assert got == want
    assert got[35] == 30 and got[3] == 1 and got[12] == 10


def test_duplicate_clusters_warns_when_unconverged(spark):
    """A component wider than max_iters hops must WARN (labels still
    moving → silently-split clusters otherwise)."""
    import warnings

    chain = [(i, i + 1) for i in range(12)]  # diameter 12
    df = spark.createDataFrame(chain, "a_id long, b_id long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.duplicate_clusters(df, max_iters=3).collect()
    assert any("did not converge" in str(w.message) for w in caught)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {r.doc_id: r.cluster_id
               for r in dedup.duplicate_clusters(df, max_iters=20).collect()}
    assert not any("did not converge" in str(w.message) for w in caught)
    assert set(got.values()) == {0}


# ------------------------------------------------------------- sampling (r5)
def test_hash_split_total_disjoint_stable(spark):
    """Every row lands in exactly one split; assignment is a pure
    function of (seed, key) — independent of row order, partitioning,
    and the other rows (the eval-leakage invariant)."""
    from news_crawler_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    n = docs.count()
    assert out.count() == n                                   # total
    assert out.select("doc_id").distinct().count() == n      # one split each
    full = {r.doc_id: r.split for r in out.select("doc_id", "split").collect()}
    # a 10%-subset, reshuffled, assigns identically
    sub = docs.filter(F.col("doc_id") % 10 == 3).repartition(7)
    sub_out = sampling.hash_split(
        sub, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    for r in sub_out.select("doc_id", "split").collect():
        assert full[r.doc_id] == r.split
    # fractions land near their targets (md5 uniformity at n=500)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / n - 0.8) < 0.06
    assert abs(counts.get("val", 0) / n - 0.1) < 0.05
    assert abs(counts.get("test", 0) / n - 0.1) < 0.05


def test_stratified_sample_reproducible_under_growth(spark):
    """Membership never depends on the other rows: sampling a GROWN
    corpus keeps exactly the previously-kept rows plus new ones (the
    property reservoir/limit sampling lacks), and per-group kept
    fractions track their rates."""
    from news_crawler_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rates = docs.select("source").distinct().select(
        "source",
        ((F.pmod(F.substring("source", 4, 10).cast("int"), F.lit(5)) + 1) / 10.0)
        .alias("rate"),
    )
    half = docs.filter(F.col("doc_id") % 2 == 0)
    kept_half = {
        r.doc_id
        for r in sampling.stratified_sample(half, rates, "source", "doc_id")
        .select("doc_id").collect()
    }
    kept_full = {
        r.doc_id
        for r in sampling.stratified_sample(docs, rates, "source", "doc_id")
        .select("doc_id").collect()
    }
    assert kept_half == {d for d in kept_full if d % 2 == 0}
    # rate accuracy per group, loose bound at ~25 rows/group
    got = (
        sampling.stratified_sample(docs, rates, "source", "doc_id")
        .groupBy("source").agg(F.count("*").alias("k"))
    )
    tot = docs.groupBy("source").agg(F.count("*").alias("n"))
    joined = got.join(tot, "source").join(rates, "source").collect()
    for r in joined:
        assert abs(r.k / r.n - r.rate) < 0.25, (r.source, r.k, r.n, r.rate)


def test_pack_token_shards_offsets_exact(spark):
    """Packing invariants, recomputed in python from the output: within
    every shard (key-ordered) tok_start is the exact running token sum,
    bin_id = tok_start // budget, and every document appears exactly
    once — the trainer-facing contract (concatenate a bin, cut at the
    budget boundary)."""
    from news_crawler_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.pack_token_shards(docs, budget=2048, n_shards=8).collect()
    assert len(out) == docs.count()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.tok_start == cum, (shard, r.doc_id)
            assert r.bin_id == cum // 2048
            cum += r.n_tokens


def test_cross_contamination_matches_string_grams(spark, docs, doc_rows):
    """The hashed-gram join reports exactly the string-gram overlap (the
    property the x9 oracle also witnesses): python twin over 4-gram
    STRING sets."""
    from news_crawler_spark.operators import dedup as dedup_ops

    ids = sorted(doc_rows)
    ev_ids = set(ids[::7])
    lab = docs.withColumn("is_eval", F.col("doc_id").isin([int(i) for i in ev_ids]))
    built = dedup_ops.with_gram_hashes(lab, n=4, passthrough=("is_eval",))
    got = {
        r.doc_id: r.n_shared
        for r in dedup_ops.cross_contamination(built.localCheckpoint(eager=True)).collect()
    }

    def grams(txt, n=4):
        t = txt.split(" ")
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    ev_grams = set().union(*(grams(doc_rows[i]) for i in ev_ids))
    want = {}
    for d in ids:
        if d in ev_ids:
            continue
        k = len(grams(doc_rows[d]) & ev_grams)
        if k:
            want[d] = k
    assert got == want


def test_kmeans_separates_planted_clusters(spark):
    """Two tight planted clusters + deterministic seeds: Lloyd's must
    pull every point to its cluster's seed cell by the final iteration,
    and re-running must reproduce the assignment exactly (the
    bit-determinism the v10 oracle depends on)."""
    from news_crawler_spark.operators import similarity

    # cluster A hugs (1, 0, 0, 0); cluster B hugs (0, 1, 0, 0); the two
    # seeds (ids 0 and 1) start one in each cluster
    rows = []
    for i in range(6):
        rows.append((i, [1.0 - 0.01 * i, 0.01 * i, 0.0, 0.0]))
    for i in range(6, 12):
        rows.append((i, [0.01 * (i - 6), 1.0 - 0.01 * (i - 6), 0.0, 0.0]))
    # seed 1 starts INSIDE cluster A (id 1 is an A point), so iteration
    # 1 must re-pull the centroid toward B's mass for the test to pass
    rows[1] = (1, [0.05, 0.95, 0.0, 0.0])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = {
        r.vec_id: r.cell
        for r in similarity.kmeans_cells(emb, seed_ids=(0, 1), iters=3).collect()
    }
    assert len(out) == 12
    assert all(out[i] == 0 for i in range(12) if i != 1 and i < 6), out
    assert all(out[i] == 1 for i in list(range(6, 12)) + [1]), out

    again = {
        r.vec_id: r.cell
        for r in similarity.kmeans_cells(emb, seed_ids=(0, 1), iters=3).collect()
    }
    assert again == out


def test_semdedup_prunes_within_cell_only(spark):
    """SemDeDup on two planted clusters: near-identical twins inside a
    cell collapse to the min-id survivor (witness = that id); equally
    similar vectors in DIFFERENT cells are untouched (the within-cell
    approximation is the operator's contract); re-running reproduces
    the output exactly."""
    from news_crawler_spark.operators import similarity

    rows = [
        # cell 0: ids 0,1,2 mutually near-identical; id 3 orthogonal-ish
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.998, 0.02, 0.0, 0.0]),
        (3, [0.6, 0.0, 0.0, 0.8]),
        # cell 1: ids 4,5 near-identical twins of EACH OTHER
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.01, 0.999, 0.0, 0.0]),
        # id 6 sits in cell 1 but is far from everything in it
        (6, [0.0, 0.6, 0.8, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cell, r.kept, r.witness)
        for r in similarity.semdedup(
            emb, seed_ids=(0, 4), iters=2, tau_num=9801, tau_den=10_000
        ).collect()
    }
    assert len(out) == 7
    # min-id survivors keep; twins drop with the smallest partner as witness
    assert out[0] == (0, 1, None)
    assert out[1] == (0, 0, 0)
    assert out[2] == (0, 0, 0)
    assert out[3][1] == 1  # dissimilar: kept despite sharing cell 0
    assert out[4] == (4, 1, None)
    assert out[5] == (4, 0, 4)
    assert out[6][1] == 1

    again = {
        r.vec_id: (r.cell, r.kept, r.witness)
        for r in similarity.semdedup(
            emb, seed_ids=(0, 4), iters=2, tau_num=9801, tau_den=10_000
        ).collect()
    }
    assert again == out


def test_temperature_mixture_upweights_small_groups(spark):
    """T=0.5 mixing: quotas sum to the total exactly, and the small
    group's share strictly exceeds its raw proportion (the rule's whole
    point) while the big group's share shrinks."""
    from news_crawler_spark.operators import sampling

    rows = [("big", i) for i in range(900)] + [("small", i) for i in range(100)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    got = {
        r.source: (r.n_docs, r.quota)
        for r in sampling.temperature_mixture(df, total=1000).collect()
    }
    assert got["big"][0] == 900 and got["small"][0] == 100
    assert got["big"][1] + got["small"][1] == 1000
    # raw share would be 100; sqrt share = 10/(30+10) = 250
    assert got["small"][1] == 250, got


def test_semdedup_prune_blocked_equals_expression(spark):
    """``semdedup_prune`` on a deterministic pseudo-random corpus in 6
    given cells equals a python big-int brute force of the within-cell
    rule ``dot > 0 ∧ dot²·τ_den ≥ τ_num·‖a‖²·‖b‖²`` (kept flags and
    min-id witnesses), including cells with zero dups and a planted
    exact-duplicate pair."""
    import numpy as np

    from news_crawler_spark.operators import similarity

    n, dim, cells = 600, 16, 6
    ks = np.arange(n)[:, None] * dim + np.arange(dim)[None, :]
    vv = np.sin(ks.astype(np.float64)) * 43758.5453125
    vv = vv - np.floor(vv) - 0.5
    vv[5] = vv[11]  # planted exact dup inside cell 5 % 6
    rows = [
        (int(i), int(i % cells), [float(x) for x in vv[i]]) for i in range(n)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, cell long, embedding array<double>"
    )
    sq = F.aggregate(
        F.zip_with("iv", "iv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    v = emb.select(
        "vec_id",
        "cell",
        similarity.quantize_vec(F.col("embedding")).alias("iv"),
    ).select("vec_id", "cell", "iv", sq.alias("n2"))
    got = {
        r.vec_id: (r.cell, r.kept, r.witness)
        for r in similarity.semdedup_prune(v).collect()
    }

    # the same rule in python ints over numpy's floor(v·1e6+0.5)
    # (test_signlsh_quantization_parity pins it equal to quantize_vec)
    q = [
        [int(x) for x in row]
        for row in np.floor(vv * similarity.QUANT + 0.5).astype(np.int64)
    ]
    n2 = [sum(x * x for x in row) for row in q]
    num, den = similarity.SEMDEDUP_TAU_NUM, similarity.SEMDEDUP_TAU_DEN
    witness = {}
    for b in range(n):
        for a in range(b % cells, b, cells):  # same cell, smaller id, ascending
            d = sum(x * y for x, y in zip(q[a], q[b]))
            if d > 0 and d * d * den >= num * n2[a] * n2[b]:
                witness[b] = a
                break
    want = {
        i: (i % cells, 0 if i in witness else 1, witness.get(i))
        for i in range(n)
    }
    assert got == want
    assert 0 < len(witness) < n  # some cells prune, most vectors survive
    assert got[11] == (5, 0, 5)  # planted pair collapses onto the min id


def test_kmeans_assign_blocked_equals_expression(spark):
    """``kmeans_cells(iters=1)`` — one assignment against the seed
    centroids — equals a numpy int64 argmin of the squared-L2 distance
    over the 4 quantized seed vectors (cell and distance for every
    vector), and the duplicate-centroid tie goes to the smaller cell
    id: seeds 0 and 1 are identical, so cell 1 never wins."""
    import numpy as np

    from news_crawler_spark.operators import similarity

    n, dim = 300, 16
    ks = np.arange(n)[:, None] * dim + np.arange(dim)[None, :]
    vv = np.sin(ks.astype(np.float64)) * 43758.5453125
    vv = vv - np.floor(vv) - 0.5
    vv[1] = vv[0]  # seeds 0 and 1 identical -> every tie resolves to cell 0
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vv[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    seeds = (0, 1, 2, 3)
    got = {
        r.vec_id: (r.cell, r.dist)
        for r in similarity.kmeans_cells(emb, seed_ids=seeds, iters=1).collect()
    }

    Q = np.floor(vv * similarity.QUANT + 0.5).astype(np.int64)
    C = Q[list(seeds)]
    D = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # exact: < 2^63
    best = D.argmin(axis=1)  # first minimum = smallest cell id
    want = {
        i: (seeds[best[i]], int(D[i, best[i]])) for i in range(n)
    }
    assert got == want
    assert got[1] == (0, 0)  # the planted tie resolved to the smaller cell
    assert 1 not in {c for c, _ in got.values()}


def test_cluster_representatives_survivor_rule(spark):
    """Longest-copy-wins with ties to the smallest id, and dup_tokens =
    member tokens minus the survivor's."""
    from news_crawler_spark.operators import dedup as dedup_ops

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)], "doc_id long, cluster_id long"
    )
    docs = spark.createDataFrame(
        [
            (1, "a b"),            # 2 tokens
            (2, "a b c d"),        # 4 — survivor of cluster 1
            (3, "a b c"),          # 3
            (7, "x y z"),          # 3 — ties with 9 → smaller id wins
            (9, "p q r"),          # 3
        ],
        "doc_id long, text string",
    )
    got = {
        r.cluster_id: r
        for r in dedup_ops.cluster_representatives(clusters, docs).collect()
    }
    assert got[1].rep_doc_id == 2 and got[1].n_members == 3
    assert got[1].dup_tokens == 2 + 3
    assert got[7].rep_doc_id == 7 and got[7].dup_tokens == 3


# ---------------------------------------------------------------- containment


class TestContainmentPairs:
    def test_excerpt_contained_but_jaccard_blind(self, spark):
        body = " ".join(f"w{i * 13 % 997}" for i in range(300))
        excerpt = " ".join(body.split(" ")[:60])
        df = spark.createDataFrame(
            [(1, body), (2, excerpt)], "doc_id long, text string"
        )
        rows = dedup.containment_pairs(df, threshold_pct=80).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.a_id, r.b_id) == (1, 2)
        assert r.c_ba == 1.0 and r.common == r.n_b  # excerpt fully inside
        # and the symmetric tier misses it at its own threshold
        assert py_jaccard_pairs({1: body, 2: excerpt}, threshold=0.6) == set()

    def test_threshold_is_integer_exact(self, spark):
        """10 shingles, 8 common → exactly 80%: the >= must admit it;
        7 common (70%) must not."""
        # doc B = 12 tokens -> 10 shingles; doc A shares first 10/9 tokens
        toks = [f"t{i}" for i in range(12)]
        b = " ".join(toks)
        a8 = " ".join(toks[:10] + ["zz", "qq", "rr", "ss"])   # 8 common shingles
        a7 = " ".join(toks[:9] + ["zz", "qq", "rr", "ss", "uu"])  # 7 common
        df = spark.createDataFrame(
            [(1, a8), (2, b)], "doc_id long, text string"
        )
        assert dedup.containment_pairs(df, threshold_pct=80).count() == 1
        df2 = spark.createDataFrame(
            [(1, a7), (2, b)], "doc_id long, text string"
        )
        assert dedup.containment_pairs(df2, threshold_pct=80).count() == 0

    def test_direction_scores(self, spark):
        body = " ".join(f"x{i}" for i in range(50))
        sub = " ".join(body.split(" ")[:20])
        df = spark.createDataFrame(
            [(10, sub), (20, body)], "doc_id long, text string"
        )
        r = dedup.containment_pairs(df, threshold_pct=80).collect()[0]
        # a_id < b_id ordering; containment of the SMALL set is 1.0
        assert (r.a_id, r.b_id) == (10, 20)
        assert r.c_ab == 1.0 and r.c_ba < 1.0
