"""Training-data-pipeline operators: dedup (exact / Jaccard / MinHash /
SimHash), similarity search, text features, multimodal plumbing — Spark
vs independent pure-Python oracles on the sf0.001 testdata tables."""

import struct

import pytest
from pyspark.sql import functions as F

from news_crawler_spark import sources
from news_crawler_spark.functions.xxh64 import xxh64
from news_crawler_spark.operators import (
    dedup,
    frontier,
    multimodal,
    similarity,
    text,
)

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


def py_simhash(txt: str, token_hash: str = "md5") -> int:
    import hashlib

    votes = [0] * 64
    for t in txt.split(" "):
        if token_hash == "md5":
            u = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        else:
            u = xxh64(t.encode(), 42)
        for b in range(64):
            votes[b] += 1 if (u >> b) & 1 else -1
    out = 0
    for b in range(64):
        if votes[b] > 0:
            out |= 1 << b
    return _signed(out)


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

def test_string_shingles_match_python_twin(spark, docs, doc_rows):
    """dedup.with_shingles is the string-side reference form — the set
    the DuckDB oracles and py_jaccard_pairs compute Jaccard over. The
    production path (with_hashed_shingles) never materializes these
    strings; this pins the reference form they stand in for."""
    got = {
        r.doc_id: set(r.shingles)
        for r in dedup.with_shingles(docs.limit(8)).collect()
    }
    for doc_id, sh in got.items():
        assert sh == py_shingles(doc_rows[doc_id]), doc_id


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


def _null_beside_wide_sketches(spark, doc_rows, sketch):
    """One NULL text and one text whose sketch exceeds 2^53 (not a
    float64-representable value) in EVERY input partition. There are
    defaultParallelism partitions, so spread_for_cpu leaves them in
    place and each Arrow batch holds both. Returns (frame, the wide
    text's doc_id)."""
    wide = next(
        (d, t) for d, t in sorted(doc_rows.items())
        if all(abs(v) > 2**53 and int(float(v)) != v for v in sketch(t))
    )
    parts = spark.sparkContext.defaultParallelism
    rows = []
    for p in range(parts):
        rows += [(-1 - p, None), (wide[0] if p == 0 else 10**6 + p, wide[1])]
    df = spark.sparkContext.parallelize(rows, parts).toDF("doc_id long, text string")
    return df, wide[0]


def test_simhash_matches_python_twin(spark, docs, doc_rows):
    for th in ("md5", "xxhash64"):
        got = {
            r.doc_id: r.simhash
            for r in dedup.with_simhash(docs.limit(10), token_hash=th).collect()
        }
        for doc_id, sh in got.items():
            assert sh == py_simhash(doc_rows[doc_id], th), (th, doc_id)
        # a NULL text sketches NULL and leaves its batch-mates bit-exact
        df, wide_id = _null_beside_wide_sketches(
            spark, doc_rows, lambda t, th=th: [py_simhash(t, th)]
        )
        want = py_simhash(doc_rows[wide_id], th)
        for r in dedup.with_simhash(df, token_hash=th).collect():
            assert r.simhash == (None if r.doc_id < 0 else want), (th, r.doc_id)


def test_lsh_equals_exact_jaccard(spark, docs, doc_rows):
    want = py_jaccard_pairs(doc_rows, 0.6)
    exact = {
        (r.a_id, r.b_id)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    assert exact == want
    assert lsh == want


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


def test_simhash_pairs_complete_at_radius(spark, docs, doc_rows):
    """Default banding (n_bands = max_hamming + 1) must be COMPLETE: the
    banded output equals the exact all-pairs hamming<=8 set."""
    rows = dedup.simhash_pairs(docs, max_hamming=8).collect()
    sh = {d: py_simhash(t) for d, t in doc_rows.items()}
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
            if ham <= 8:
                want[(a, b)] = ham
    got = {(r.a_id, r.b_id): r.hamming for r in rows}
    assert got == want


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


# -- text -------------------------------------------------------------------

def test_text_features(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en", "s", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = text.with_text_features(df).collect()[0]
    assert r.n_tokens == 6
    assert r.n_bpe_tokens == 6
    assert r.stop_ratio == round(3 / 6, 6)  # the, on, the
    assert r.pred_lang == "en"
    assert 0.0 <= r.quality <= 1.0
    assert len(r.fp) == 32


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "A  b\tc"), (2, "a b c")], "doc_id long, text string"
    )
    fps = [r.fp for r in df.select(text.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


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
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8")


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
    frames = (
        multimodal.frame_sample(media)
        .groupBy("media_ref")
        .agg(F.count("*").alias("n_frames"))
    )
    thumbs = multimodal.resize_image(media).select(
        "media_ref", F.length("payload").alias("thumb_bytes")
    )
    m2 = {
        r.media_ref: r
        for r in media.select("media_ref", F.col("meta.n_bytes").alias("n_bytes"))
        .join(frames, "media_ref")
        .join(thumbs, "media_ref")
        .collect()
    }
    assert m2  # at least one media item
    for ref, r in m2.items():
        n = len(multimodal.synth_media_payload(ref))
        assert r.n_bytes == n
        assert r.n_frames == ((n // 64) + 3) // 4
        assert r.thumb_bytes == 256


def py_ahash64(cells):
    """Straight-line python twin of multimodal.image_ahash64 (two's
    complement 64-bit int, bit i set when cell_i*64 > sum)."""
    total = sum(cells)
    h = 0
    for i, c in enumerate(cells):
        if c * 64 > total:
            h += (1 << i) if i < 63 else -(1 << 63)
    return h


def test_image_ahash64_packing_and_mean(spark):
    """Bit placement (incl. bit 63 = the two's-complement sign bit),
    the exact integer mean test (a cell EQUAL to the mean is NOT set),
    and the all-equal image (no bit set, hash 0)."""
    a = [255] + [0] * 63                       # only bit 0
    b = [0] * 63 + [255]                       # only bit 63 → negative hash
    c = [7] * 64                               # all == mean → 0
    d = [4, 8] * 32                            # alternating above/below mean
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "media_ref long, cells array<int>"
    )
    got = {
        r.doc_id: r.simhash
        for r in multimodal.image_ahash64(df, id_col="media_ref").collect()
    }
    assert got == {k: py_ahash64(v) for k, v in [(1, a), (2, b), (3, c), (4, d)]}
    assert got[1] == 1
    assert got[2] == -(1 << 63)
    assert got[3] == 0


def test_image_neardup_pairs_radius(spark):
    """Complete recall at the radius and rejection above it: bi-level
    images where hash hamming == cell symmetric-difference. Base vs
    1/3/4-flip variants → pairs at hamming 1, 3, 4 (4 rejected at
    max_hamming=3); the 1-flip vs 3-flip pair differs in 4 cells
    (disjoint flips) and must be rejected too."""
    base = [255 if i % 2 == 0 else 0 for i in range(64)]

    def flip(cells, positions):
        out = list(cells)
        for p in positions:
            out[p] = 255 - out[p]
        return out

    imgs = [
        (0, base),
        (1, flip(base, [5])),            # hamming(0,1) = 1
        (2, flip(base, [10, 20, 30])),   # hamming(0,2) = 3
        (3, flip(base, [1, 2, 3, 4])),   # hamming(0,3) = 4 → rejected
    ]
    df = spark.createDataFrame(imgs, "media_ref long, cells array<int>")
    rows = multimodal.image_neardup_pairs(df, id_col="media_ref", max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert got[(0, 1)] == 1
    assert got[(0, 2)] == 3
    assert (0, 3) not in got
    assert (1, 2) not in got  # disjoint flips: 1+3 = 4 > radius
    assert (1, 3) not in got  # 5 cells apart
    assert set(got) == {(0, 1), (0, 2)}


# -- fetch/extract path parity -----------------------------------------------

def test_fused_fetch_extract_matches_two_stage(spark):
    from news_crawler_spark import synth
    from news_crawler_spark.functions.urls import with_url_columns
    from news_crawler_spark.operators.extract import (
        documents_from_fetch_extract,
        extract_documents,
    )
    from news_crawler_spark.operators.fetch import fetch_extract_pages, fetch_pages

    cand = (
        with_url_columns(synth.build_seed_list(spark, 300))
        .withColumn("priority", F.pmod(F.col("url_hash"), F.lit(3)).cast("int"))
        .withColumn("tried_count", F.lit(0))
    ).cache()

    two_stage = extract_documents(fetch_pages(cand))
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


def test_resize_and_frame_sample_plumbing(spark):
    media = spark.createDataFrame(
        [
            ("m1", "image", multimodal.synth_media_payload("m1")),
            ("m2", "video", multimodal.synth_media_payload("m2")),
        ],
        "media_ref string, kind string, payload binary",
    )
    # resize: every output payload exactly width*height bytes, meta synced
    small = {r.media_ref: r for r in multimodal.resize_image(media, 8, 8).collect()}
    for ref, r in small.items():
        assert len(r.payload) == 64 and r.meta.n_bytes == 64
        assert r.meta.width == 8 and r.meta.height == 8
    # deterministic: same input bytes → same thumbnail
    again = {r.media_ref: r.payload
             for r in multimodal.resize_image(media, 8, 8).collect()}
    assert {k: v.payload for k, v in small.items()} == again
    # frame sampling: every_n-th fixed-size frame, indices correct
    frames = multimodal.frame_sample(media, frame_bytes=32, every_n=2).collect()
    by_ref = {}
    for fr in frames:
        assert fr.n_bytes == 32 and fr.frame_idx % 2 == 0
        by_ref.setdefault(fr.media_ref, []).append(fr.frame_idx)
    raw = {r.media_ref: r.payload for r in media.collect()}
    for ref, idxs in by_ref.items():
        n_frames = len(raw[ref]) // 32
        assert sorted(idxs) == list(range(0, n_frames, 2))
        # frame content slices the original payload
        f0 = [f.frame for f in frames if f.media_ref == ref and f.frame_idx == 0][0]
        assert bytes(f0) == bytes(raw[ref][:32])


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


def py_simhash128(txt: str) -> tuple[int, int]:
    """Two independent 64-bit sketches from the two md5 words."""
    import hashlib

    out = []
    for word in (0, 1):
        votes = [0] * 64
        for t in txt.split(" "):
            hx = hashlib.md5(t.encode()).hexdigest()
            u = int(hx[16 * word : 16 * word + 16], 16)
            for b in range(64):
                votes[b] += 1 if (u >> b) & 1 else -1
        w = 0
        for b in range(64):
            if votes[b] > 0:
                w |= 1 << b
        out.append(_signed(w))
    return tuple(out)


def test_simhash128_matches_python_twin(spark, docs, doc_rows):
    got = {
        r.doc_id: (r.sh_w1, r.sh_w2)
        for r in dedup.with_simhash128(docs.limit(10)).collect()
    }
    for doc_id, sh in got.items():
        assert sh == py_simhash128(doc_rows[doc_id]), doc_id
    # the shared md5 kernel: a NULL text leaves both words of its
    # batch-mates bit-exact
    df, wide_id = _null_beside_wide_sketches(spark, doc_rows, py_simhash128)
    want = py_simhash128(doc_rows[wide_id])
    for r in dedup.with_simhash128(df).collect():
        got_r = (r.sh_w1, r.sh_w2)
        assert got_r == ((None, None) if r.doc_id < 0 else want), r.doc_id


def test_simhash128_pairs_complete_at_radius(spark, docs, doc_rows):
    """128-bit banding (bands split across the two words, never straddling
    the word boundary) must be COMPLETE at the radius — output equals the
    exact all-pairs hamming128<=8 set."""
    rows = dedup.simhash128_pairs(docs, max_hamming=8).collect()
    sh = {d: py_simhash128(t) for d, t in doc_rows.items()}
    ids = sorted(sh)
    mask = (1 << 64) - 1
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(((sh[a][0] ^ sh[b][0]) & mask)).count("1") + bin(
                ((sh[a][1] ^ sh[b][1]) & mask)
            ).count("1")
            if h <= 8:
                want[(a, b)] = h
    got = {(r.a_id, r.b_id): r.hamming for r in rows}
    assert got == want


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


def test_winnow_fingerprint_overlap_guarantee(spark):
    """Winnowing guarantee: documents sharing a run of >= n+window-1 (=6)
    tokens share at least one fingerprint; disjoint-vocabulary documents
    share none. Fingerprints are deterministic across runs."""
    shared = "alpha beta gamma delta epsilon zeta"        # 6-token run
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"five six seven {shared} eight"),
            (3, "red green blue cyan magenta yellow black white"),
        ],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id", text.winnow_fingerprints("text", n=3, window=4).alias("fps")
    ).collect()
    fps = {r.doc_id: set(r.fps) for r in out}
    assert fps[1] & fps[2]                 # shared run ⇒ shared fingerprint
    assert not (fps[1] & fps[3])           # disjoint vocab ⇒ none
    assert not (fps[2] & fps[3])
    again = {r.doc_id: set(r.fps) for r in df.select(
        "doc_id", text.winnow_fingerprints("text", n=3, window=4).alias("fps")
    ).collect()}
    assert again == fps                    # deterministic
    # short docs: < n tokens → no fingerprints; >= n but < n+window-1 → 1 window
    tiny = spark.createDataFrame([(9, "a b"), (10, "a b c d")], "doc_id long, text string")
    trows = {r.doc_id: list(r.fps) for r in tiny.select(
        "doc_id", text.winnow_fingerprints("text", n=3, window=4).alias("fps")).collect()}
    assert trows[9] == [] and len(trows[10]) == 1


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


def test_incremental_simhash_pairs_cross_only(spark, docs, doc_rows):
    """incremental_simhash_pairs(base, batch) must equal the exact
    cross-side all-pairs hamming<=8 set — complete at the radius, NO
    base-base or batch-batch pairs, batch_id/base_id sides correct."""
    from pyspark.sql import functions as F

    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    rows = dedup.incremental_simhash_pairs(base, batch, max_hamming=8).collect()
    sh = {d: py_simhash(t) for d, t in doc_rows.items()}
    want = {}
    for a in sh:  # batch side
        if a % 5 != 0:
            continue
        for b in sh:  # base side
            if b % 5 == 0:
                continue
            ham = bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
            if ham <= 8:
                want[(a, b)] = ham
    got = {(r.batch_id, r.base_id): r.hamming for r in rows}
    assert got == want
    assert all(a % 5 == 0 and b % 5 != 0 for a, b in got)


def test_mirror_clusters_collapse_chained_pairs(spark):
    """A 3-way mirror family discovered only as CHAINED pairs (a↔b and
    b↔c share enough content; a↔c alone would not) must still collapse
    to one canonical host = the component min — the property pair
    output alone cannot express (the g6 close of d7)."""
    from news_crawler_spark.operators import dedup

    # hosts 1,2,3: content k0..k9 on all three via overlapping halves,
    # host 9 isolated with its own keys
    rows = (
        [(1, f"k{i}") for i in range(6)]
        + [(2, f"k{i}") for i in range(10)]
        + [(3, f"k{i}") for i in range(4, 10)]
        + [(9, f"z{i}") for i in range(5)]
    )
    pages = spark.createDataFrame(rows, "host long, content_key string")
    pairs = dedup.mirror_hosts(pages, min_shared=2, df_cap=20)
    flagged = {(r.host_a, r.host_b): r.is_mirror for r in pairs.collect()}
    # 1↔2 share 6 of min(6,10), 2↔3 share 6 of min(10,6) → mirrors;
    # 1↔3 share only k4,k5 = 2 of 6 → NOT a mirror pair
    assert flagged[(1, 2)] and flagged[(2, 3)] and not flagged[(1, 3)]
    mp = pairs.where(F.col("is_mirror")).select(
        F.col("host_a").alias("a_id"), F.col("host_b").alias("b_id")
    )
    got = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(mp).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def py_pagerank_int(edges, iters=3, num=85, den=100, scale=1_000_000):
    """Straight-line python twin of graph.pagerank_int (exact ints)."""
    nodes = sorted({n for e in edges for n in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (scale * (den - num)) // den
    r = {n: scale for n in nodes}
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for s, d in edges:
            contrib[d] += r[s] // outdeg[s]
        r = {n: base + (num * contrib[n]) // den for n in nodes}
    return r


def test_pagerank_planted_hub_matches_python_twin(spark):
    """A 7-node star (1..6 -> 0, 0 -> 1) plus a detached 2-cycle: the
    hub must rank highest, node 1 (fed by the whole hub's mass) second,
    and every value must equal the integer twin bit-for-bit."""
    from news_crawler_spark.operators import graph

    edges = [(i, 0) for i in range(1, 7)] + [(0, 1), (8, 9), (9, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r["rank"] for r in graph.pagerank_int(df, iters=3).collect()}
    assert got == py_pagerank_int(edges)
    order = sorted(got, key=lambda n: -got[n])
    assert order[0] == 0 and order[1] == 1


def py_hits_int(edges, iters=3, scale=1_000_000):
    """Straight-line python twin of graph.hits_int (exact ints)."""
    nodes = sorted({n for e in edges for n in e})
    hub = {n: scale for n in nodes}
    for _ in range(iters):
        a_raw = {n: 0 for n in nodes}
        for s, d in edges:
            a_raw[d] += hub[s]
        mx = max(max(a_raw.values()), 1)
        auth = {n: (v * scale) // mx for n, v in a_raw.items()}
        h_raw = {n: 0 for n in nodes}
        for s, d in edges:
            h_raw[s] += auth[d]
        mx = max(max(h_raw.values()), 1)
        hub = {n: (v * scale) // mx for n, v in h_raw.items()}
    return auth, hub


def test_hits_planted_structure_matches_python_twin(spark):
    """A bipartite hub/authority structure (0,1 each link to 10,11,12;
    10..12 link nowhere; plus a stray 5->10): hubs 0,1 must carry max
    hub score and zero auth, 10..12 max-class auth and zero hub, and
    every value must equal the integer twin bit-for-bit."""
    from news_crawler_spark.operators import graph

    edges = [(s, d) for s in (0, 1) for d in (10, 11, 12)] + [(5, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.auth, r.hub) for r in graph.hits_int(df, iters=3).collect()}
    auth, hub = py_hits_int(edges)
    assert got == {n: (auth[n], hub[n]) for n in auth}
    assert got[0][1] == 1_000_000 and got[0][0] == 0
    assert got[10][0] == 1_000_000 and got[10][1] == 0
    assert got[5][1] < got[0][1]  # stray hub links to fewer authorities


def test_hits_broadcasts_score_vectors(spark):
    """Per half-iteration the edge list must join the score vector via
    broadcast — no sort-merge join anywhere in the final plan."""
    from news_crawler_spark.operators import graph

    df = spark.createDataFrame([(i, (i * 7) % 20) for i in range(40)],
                               "src long, dst long")
    out = graph.hits_int(df, iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def py_opic(edges, rounds=3, k=20, scale=1_000_000):
    """Straight-line python twin of graph.opic_cash (exact ints)."""
    nodes = sorted({n for e in edges for n in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    cash = {n: scale for n in nodes}
    hist = {n: 0 for n in nodes}
    for _ in range(rounds):
        fetch = set(sorted(nodes, key=lambda n: (-cash[n], n))[:k])
        contrib = {n: 0 for n in nodes}
        for s, d in edges:
            if s in fetch:
                contrib[d] += cash[s] // outdeg[s]
        new = {}
        for n in nodes:
            new[n] = (0 if n in fetch else cash[n]) + contrib[n]
            if n in fetch:
                hist[n] += cash[n]
        cash = new
    return cash, hist


def test_opic_greedy_rounds_match_python_twin(spark):
    """A hub-and-chain graph through 3 greedy rounds of k=2: every cash
    and history value must equal the integer twin bit-for-bit, the hub
    (fed by both fetched leaves) must accumulate the most history, and
    a fetched node's cash must move to history (not vanish) while a
    fetched DANGLING node's cash deterministically drops."""
    from news_crawler_spark.operators import graph

    # 1,2 -> 0 (hub); 0 -> 3 -> 4 (chain); 4 dangling
    edges = [(1, 0), (2, 0), (0, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: (r.cash, r.history)
        for r in graph.opic_cash(df, rounds=3, k=2).collect()
    }
    cash, hist = py_opic(edges, rounds=3, k=2)
    assert got == {n: (cash[n], hist[n]) for n in cash}
    # the hub was fetched (its cash banked); circulating cash only
    # LEAKS (div remainders, fetched dangling nodes) — never inflates
    assert hist[0] > 0
    assert sum(cash.values()) <= len(cash) * 1_000_000


def test_pagerank_feeds_frontier_priority(spark):
    """The scheduling hook: rank joins pending URLs by host and becomes
    the pop order (priority = -rank, POP_ORDER is ascending) — the
    hub host's URL must pop ahead of the leaf hosts'."""
    from news_crawler_spark.operators import frontier as fops
    from news_crawler_spark.operators import graph

    edges = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    ranks = graph.pagerank_int(
        spark.createDataFrame(edges, "src long, dst long"), iters=2
    )
    twin = py_pagerank_int(edges, iters=2)
    want_order = [f"h{n}" for n in sorted(twin, key=lambda n: (-twin[n], n))]
    pending = spark.createDataFrame(
        [(f"h{n}", 100 + n, 0) for n in range(5)],
        "host string, url_hash long, published_ts long",
    ).join(
        ranks.withColumn("host", F.concat(F.lit("h"), F.col("node"))),
        "host",
    ).select("host", "url_hash", "published_ts", (-F.col("rank")).alias("priority"))
    budgets = spark.createDataFrame([("h0", 1)], "host string, budget int")
    popped = fops.pop_round(pending, budgets, default_budget=1, salts=4)
    by_prio = sorted(popped.collect(), key=lambda r: r.priority)
    assert [r.host for r in by_prio][:2] == want_order[:2]


def py_trustrank_int(edges, seeds, iters=3, num=85, den=100, scale=1_000_000):
    """Straight-line python twin of graph.trustrank_int (exact ints)."""
    nodes = sorted({n for e in edges for n in e} | set(seeds))
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (scale * (den - num)) // den
    r = {n: (scale if n in seeds else 0) for n in nodes}
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for s, d in edges:
            contrib[d] += r[s] // outdeg[s]
        r = {
            n: (base if n in seeds else 0) + (num * contrib[n]) // den
            for n in nodes
        }
    return r


def test_trustrank_blocks_unreachable_farm(spark):
    """Trusted chain 0->1->2 plus a detached link farm 7<->8 that also
    mass-links INTO node 9: with seeds={0}, trust flows down the chain
    (0 > 1 > 2 > 0-for-the-farm), the farm and its target converge to
    exactly 0 despite their in-links, and every value equals the
    integer twin bit-for-bit. Same edges under plain PageRank give the
    farm nodes NON-zero rank — the anti-spam property is the diff."""
    from news_crawler_spark.operators import graph

    edges = [(0, 1), (1, 2), (7, 8), (8, 7), (7, 9), (8, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.trust
        for r in graph.trustrank_int(df, seeds, iters=3).collect()
    }
    assert got == py_trustrank_int(edges, {0})
    assert got[0] > got[1] > got[2] > 0
    assert got[7] == got[8] == got[9] == 0
    pr = {r.node: r["rank"] for r in graph.pagerank_int(df, iters=3).collect()}
    assert pr[9] > 0  # plain PageRank pays the farm; TrustRank doesn't


def test_trustrank_seed_outside_edge_graph_kept(spark):
    """A seed with no edges at all must still appear with the pure
    teleport fixed point (trust = base), not vanish from the output."""
    from news_crawler_spark.operators import graph

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(5,)], "node long")
    got = {
        r.node: r.trust
        for r in graph.trustrank_int(df, seeds, iters=3).collect()
    }
    assert got[5] == 150_000 and got[1] == 0 and got[2] == 0


def test_bfs_depth_shortest_path_and_cap(spark):
    """Chain 0->1->2->3->4->5 with a shortcut 0->3 and a back-edge
    3->0: depth is the SHORTEST path (3 via the shortcut = 1, not 3),
    the seed stays 0 even though 3->0 re-enters it, the cap drops
    nodes beyond max_depth (5 is 3 hops via shortcut — present at
    max_depth=3, absent at 2), and unreached components never appear."""
    from news_crawler_spark.operators import graph

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 3), (3, 0), (8, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.depth for r in graph.bfs_depth(df, seeds, max_depth=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2, 5: 3}
    got2 = {r.node: r.depth for r in graph.bfs_depth(df, seeds, max_depth=2).collect()}
    assert got2 == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}


def test_bfs_depth_broadcasts_reached_vector(spark):
    """Per level the edge list must meet the reached vector via
    broadcast — no sort-merge join in the final plan (the g1/g5/g7/g8
    vector contract)."""
    from news_crawler_spark.operators import graph

    df = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(40)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    out = graph.bfs_depth(df, seeds, max_depth=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


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


def test_pack_interleaved_mixed_costs(spark):
    """Interleaved packing invariants on a hand-built span frame: text
    spans cost their token count, image spans the fixed vision budget,
    offsets are exact running sums in (doc_id, offset) order within a
    shard, and the crosses flag marks exactly the boundary-straddlers."""
    from news_crawler_spark.operators import multimodal

    spans_docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text", "text": "a b c", "media_ref": None, "offset": 0},
                    {"kind": "image", "text": None, "media_ref": "m1", "offset": 1},
                    {"kind": "text", "text": "d", "media_ref": None, "offset": 2},
                ],
            ),
            (
                "d2",
                [{"kind": "text", "text": "x y", "media_ref": None, "offset": 0}],
            ),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = multimodal.pack_interleaved(
        spans_docs, budget=4, n_shards=1, image_tokens=6
    ).collect()
    assert len(out) == 4
    rows = sorted(out, key=lambda r: (r.doc_id, r.offset))
    assert [r.cost for r in rows] == [3, 6, 1, 2]
    # one shard → global order (d1,0) (d1,1) (d1,2) (d2,0)
    assert [r.tok_start for r in rows] == [0, 3, 9, 10]
    assert [r.bin_id for r in rows] == [0, 0, 2, 2]
    # the image span starts at 3 and ends at 8 → crosses the 4-token cut;
    # d2's span (10..11) stays inside bin 2
    assert [r.crosses for r in rows] == [0, 1, 0, 0]


def test_media_integrity_missing_and_orphan(spark):
    """The reconcile reports exactly the planted holes: a referenced ref
    absent from the media side and a stored ref nothing references."""
    from news_crawler_spark.operators import multimodal

    spans_docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "image", "text": None, "media_ref": "keep", "offset": 0},
                    {"kind": "image", "text": None, "media_ref": "lost", "offset": 1},
                    {"kind": "text", "text": "t", "media_ref": None, "offset": 2},
                ],
            ),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [("keep",), ("extra",)], "media_ref string"
    )
    got = {
        r.media_ref: r.status
        for r in multimodal.media_integrity(spans_docs, media).collect()
    }
    assert got == {"lost": "missing", "extra": "orphan"}


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


def py_resolve_redirects(edges, max_hops=32):
    """Straight-line python twin of graph.resolve_redirects, with the
    SAME documented cap: chains longer than 2^ceil(log2(max_hops)) are
    reported cyclic."""
    from news_crawler_spark.operators.graph import _doubling_iters

    cap = 1 << _doubling_iters(max_hops)
    nxt = dict(edges)
    out = {}
    for s in nxt:
        cur, hops = s, 0
        while cur in nxt and hops < cap:
            cur, hops = nxt[cur], hops + 1
        if cur in nxt:  # still redirecting: loop or over-cap chain
            out[s] = (None, None, True)
        else:
            out[s] = (cur, hops, False)
    return out


def test_resolve_redirects_chains_cycles_and_cap(spark):
    """Every structural case at once: a 3-hop chain (+ a branch
    converging into it), a self-loop, a 2-cycle, a chain INTO that
    cycle, and a 9-hop chain under max_hops=8 — whose head must be
    flagged cyclic by the documented power-of-two cap while its second
    node (exactly 8 hops from the terminal) still resolves."""
    from news_crawler_spark.operators import graph

    edges = (
        [(1, 2), (2, 3), (3, 4), (10, 3)]
        + [(20, 20), (30, 31), (31, 30), (40, 30)]
        + [(50 + i, 51 + i) for i in range(9)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = graph.resolve_redirects(df, max_hops=8).collect()
    got = {r.src: (r.terminal, r.hops, r.cyclic) for r in rows}
    assert got == py_resolve_redirects(edges, max_hops=8)
    assert got[1] == (4, 3, False)
    assert got[50] == (None, None, True)  # 9 hops > cap 8
    assert got[51] == (59, 8, False)  # exactly at the cap
    assert got[40] == (None, None, True)  # feeds a loop


def test_resolve_redirects_join_count_is_logarithmic():
    """The scale claim: 32-hop resolution is 5 doubling joins, not 32
    walks (and the cap never needs more than one join)."""
    from news_crawler_spark.operators.graph import _doubling_iters

    assert _doubling_iters(32) == 5
    assert _doubling_iters(8) == 3
    assert _doubling_iters(2) == 1
    assert _doubling_iters(1) == 1


def py_anchor_summary(links, k=3):
    """Straight-line python twin of graph.anchor_summary."""
    cnt = {}
    for dst, a in links:
        cnt[(dst, a)] = cnt.get((dst, a), 0) + 1
    out = {}
    for dst in {d for d, _ in cnt}:
        per = sorted(
            ((a, c) for (d, a), c in cnt.items() if d == dst),
            key=lambda t: (-t[1], t[0]),
        )
        n_in = sum(c for _, c in per)
        for rank, (a, c) in enumerate(per[:k], start=1):
            out[(dst, a)] = (c, rank, n_in, len(per))
    return out


def test_anchor_summary_ranks_ties_and_totals(spark):
    """Top-k anchors per target: count-desc rank with anchor-asc
    tie-break, totals over ALL anchors (not just the kept top-k), a
    >k target whose tail anchor is cut, and a single-link target."""
    from news_crawler_spark.operators import graph

    links = (
        [(1, "home")] * 5
        + [(1, "news")] * 3
        + [(1, "blog")] * 3  # ties with news → blog ranks first
        + [(1, "misc")]  # rank 4 → cut at k=3, but counted in totals
        + [(2, "solo")]
    )
    df = spark.createDataFrame(links, "dst long, anchor string")
    rows = graph.anchor_summary(df, k=3).collect()
    got = {(r.dst, r.anchor): (r.cnt, r["rank"], r.n_inlinks, r.n_anchors) for r in rows}
    assert got == py_anchor_summary(links, k=3)
    assert got[(1, "blog")] == (3, 2, 12, 4)
    assert got[(1, "news")] == (3, 3, 12, 4)
    assert (1, "misc") not in got
    assert got[(2, "solo")] == (1, 1, 1, 1)


def py_mirror_hosts(rows, min_shared=2, num=8, den=10, df_cap=1000):
    """Straight-line python twin of dedup.mirror_hosts (exact ints)."""
    p = set(rows)
    hf = {}
    for _, c in p:
        hf[c] = hf.get(c, 0) + 1
    pc = {(h, c) for h, c in p if hf[c] <= df_cap}
    n = {}
    for h, _ in pc:
        n[h] = n.get(h, 0) + 1
    byc = {}
    for h, c in pc:
        byc.setdefault(c, []).append(h)
    shared = {}
    for hs in byc.values():
        for a in hs:
            for b in hs:
                if a < b:
                    shared[(a, b)] = shared.get((a, b), 0) + 1
    return {
        (a, b): (s, n[a], n[b], den * s >= num * min(n[a], n[b]))
        for (a, b), s in shared.items()
        if s >= min_shared
    }


def test_mirror_hosts_ratio_cap_and_threshold(spark):
    """A full mirror (flag true), a partial mirror diluted below the
    80% containment bar (flag false), a sub-min_shared pair (dropped),
    and a boilerplate key on every host that df_cap must drop before
    it fabricates pairs — all vs the python twin."""
    from news_crawler_spark.operators import dedup

    rows = (
        # hosts 1/2: full mirror (3 shared, n=3 each)
        [(1, f"c{i}") for i in range(3)]
        + [(2, f"c{i}") for i in range(3)]
        # hosts 3/4: 2 shared, the SMALLER side diluted to n=3 ->
        # 10*2 < 8*min(3,5): containment fails on both sides, false
        + [(3, f"d{i}") for i in range(2)]
        + [(3, "own3")]
        + [(4, f"d{i}") for i in range(2)]
        + [(4, f"junk{i}") for i in range(3)]
        # hosts 5/6: only 1 shared -> below min_shared, no row
        + [(5, "e0"), (6, "e0")]
        # boilerplate on every host, df_cap=4 < 6 hosts -> dropped
        + [(h, "boiler") for h in range(1, 7)]
    )
    df = spark.createDataFrame(rows, "host long, content_key string")
    got = {
        (r.host_a, r.host_b): (r.shared, r.n_a, r.n_b, r.is_mirror)
        for r in dedup.mirror_hosts(df, min_shared=2, df_cap=4).collect()
    }
    assert got == py_mirror_hosts(rows, min_shared=2, df_cap=4)
    assert got[(1, 2)] == (3, 3, 3, True)
    assert got[(3, 4)] == (2, 3, 5, False)
    assert (5, 6) not in got


# ---------------------------------------------------------------- CDC chunks


def _py_cdc(text: str, window: int = 4, divisor: int = 16):
    import hashlib

    t = text.split(" ")
    n = len(t)
    bounds = [
        i
        for i in range(window, n)
        if int(
            hashlib.md5(" ".join(t[i - window : i]).encode()).hexdigest()[:12],
            16,
        )
        % divisor
        == 0
    ] + [n]
    starts = [0] + bounds[:-1]
    return [" ".join(t[s:e]) for s, e in zip(starts, bounds)]


class TestCdcChunks:
    def _chunks(self, spark, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.cdc_chunks(df).collect()
        got = {}
        for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
            got.setdefault(r.doc_id, []).append(r.chunk_text)
        return got

    def test_matches_python_oracle(self, spark, docs):
        sample = docs.select("doc_id", "text").limit(30).collect()
        got = self._chunks(spark, [(r.doc_id, r.text) for r in sample])
        for r in sample:
            assert got[r.doc_id] == _py_cdc(r.text), r.doc_id

    def test_short_and_degenerate_docs(self, spark):
        got = self._chunks(
            spark, [(1, "a b c"), (2, "solo"), (3, "a  b")]  # incl. empty token
        )
        assert got[1] == ["a b c"]  # n-1 < window → single chunk
        assert got[2] == ["solo"]
        assert got[3] == ["a  b"]

    def test_roundtrip_rebuilds_text(self, spark, docs):
        ch = dedup.cdc_chunks(docs)
        rebuilt = ch.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("rebuilt")
        )
        bad = (
            rebuilt.join(docs.select("doc_id", "text"), "doc_id")
            .filter(F.col("rebuilt") != F.col("text"))
            .count()
        )
        assert bad == 0

    def test_shift_resistance(self, spark):
        """THE CDC property: an insertion near the front leaves every
        chunk after the edit's window horizon identical — a fixed-size
        grid would shift all of them."""
        base = " ".join(f"tok{i * 7 % 101}" for i in range(400))
        edited = "inserted " + base
        a = _py_cdc(base)
        b = _py_cdc(edited)
        got = self._chunks(spark, [(1, base), (2, edited)])
        assert got[1] == a and got[2] == b
        # boundaries strictly after the edit's window horizon depend only
        # on local content, so the chunk streams share their entire
        # suffix — only the leading ≤2 chunks (which contain the edit or
        # a boundary the edit created/destroyed) may differ
        k = 0
        while k < min(len(a), len(b)) and a[-1 - k] == b[-1 - k]:
            k += 1
        assert k >= len(a) - 2 and k >= len(b) - 2, (len(a), len(b), k)

    def test_expected_chunk_length(self, spark, docs):
        """divisor=16 → mean chunk length in the right decade (sanity
        on the boundary rate, not an exact pin)."""
        stats = dedup.cdc_chunks(docs).agg(F.avg("n_tokens")).collect()[0][0]
        assert 6 < stats < 60, stats


# ---------------------------------------------------------------- sniffing


class TestContentSniff:
    def _sniff(self, spark, payloads):
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            "i long, payload binary",
        )
        out = df.select(
            "i", multimodal.sniff_content_type(F.col("payload")).alias("ct")
        ).collect()
        return [r.ct for r in sorted(out, key=lambda r: r.i)]

    def test_known_magics(self, spark):
        cases = [
            (b"%PDF-1.7 rest", "application/pdf"),
            (b"\x89PNG\r\n\x1a\nchunk", "image/png"),
            (b"\xff\xd8\xff\xe0jfif", "image/jpeg"),
            (b"GIF87a....", "image/gif"),
            (b"GIF89a....", "image/gif"),
            (b"PK\x03\x04docx", "application/zip"),
            (b"\x1f\x8bgz", "application/gzip"),
            (b"<!DOCTYPE html>", "text/html"),
            (b"<html><body>", "text/html"),
            (b"RIFF\x00\x01\x02\x03WEBPVP8", "image/webp"),
            (b"plain text here", "application/octet-stream"),
            (b"RIFF\x00\x01\x02\x03WAVEfmt", "application/octet-stream"),
        ]
        assert self._sniff(spark, [p for p, _ in cases]) == [m for _, m in cases]

    def test_short_and_empty_payloads(self, spark):
        got = self._sniff(spark, [b"", b"\x1f", b"\x1f\x8b", b"<h"])
        assert got == [
            "application/octet-stream",
            "application/octet-stream",
            "application/gzip",
            "application/octet-stream",
        ]

    def test_prefix_magic_inside_body_not_sniffed(self, spark):
        """Only the PREFIX counts — magic bytes later in the payload
        must not trigger (the sniffer reads 12 bytes, period)."""
        got = self._sniff(spark, [b"xx%PDF-", b"ab\xff\xd8\xff"])
        assert got == ["application/octet-stream"] * 2


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
        assert dedup.ngram_jaccard_pairs(df, threshold=0.6).count() == 0

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


# ---------------------------------------------------------------- charset


class TestCharsetSniff:
    def _sniff(self, spark, payloads, **kw):
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            "i long, payload binary",
        )
        out = df.select(
            "i", multimodal.sniff_charset(F.col("payload"), **kw).alias("cs")
        ).collect()
        return [r.cs for r in sorted(out, key=lambda r: r.i)]

    def test_bom_detection(self, spark):
        got = self._sniff(
            spark,
            [b"\xef\xbb\xbfx", b"\xfe\xffx", b"\xff\xfex", b"no bom"],
        )
        assert got == ["utf-8", "utf-16be", "utf-16le", "windows-1252"]

    def test_meta_declarations(self, spark):
        cases = [
            (b'<meta charset="utf-8">', "utf-8"),
            (b"<meta charset=UTF8>", "utf-8"),          # bare + fold
            (b"<meta charset='iso-8859-1'>", "windows-1252"),  # WHATWG map
            (b"<META CHARSET = ascii >x", "windows-1252"),
            (
                b'<meta http-equiv="Content-Type" '
                b'content="text/html; charset=utf-16">',
                "utf-16le",                              # bare utf-16 is LE
            ),
            (b'<meta charset="koi8-r">', "koi8-r"),      # passthrough
        ]
        assert self._sniff(spark, [p for p, _ in cases]) == [
            c for _, c in cases
        ]

    def test_bom_beats_meta(self, spark):
        got = self._sniff(spark, [b'\xef\xbb\xbf<meta charset="koi8-r">'])
        assert got == ["utf-8"]

    def test_prescan_window_bounds_the_scan(self, spark):
        inside = b"x" * 100 + b'<meta charset="utf-8">'
        outside = b"x" * 1100 + b'<meta charset="utf-8">'
        assert self._sniff(spark, [inside, outside]) == [
            "utf-8", "windows-1252"
        ]
        # the window is a parameter: widen it and the same bytes decode
        assert self._sniff(spark, [outside], scan_bytes=2048) == ["utf-8"]

    def test_non_ascii_bytes_before_meta_are_harmless(self, spark):
        # ISO-8859-1 decode is total: arbitrary high bytes before the
        # declaration can't break the scan
        got = self._sniff(spark, [b"\x80\x81\xfe<meta charset=utf-8>"])
        assert got == ["utf-8"]


# ---------------------------------------------------------------- drain ETA


class TestDrainEta:
    def _run(self, spark, **kw):
        fr = spark.createDataFrame(
            [("a", "pending")] * 7
            + [("a", "completed")] * 3
            + [("b", "pending")] * 41
            + [("c", "completed")],
            "host string, status string",
        )
        budgets = spark.createDataFrame(
            [("a", 3), ("b", 2)], "host string, budget long"
        )
        out = frontier.drain_eta(fr, budgets, **kw)
        return {r.host: r for r in out.collect()}

    def test_ceil_div_and_cap(self, spark):
        got = self._run(spark, rounds_cap=10)
        # a: 7 pending / budget 3 -> ceil = 3 rounds, under cap
        assert (got["a"].n_pending, got["a"].rounds_to_drain) == (7, 3)
        assert not got["a"].over_cap
        # b: 41 / 2 -> 21 rounds, over cap
        assert (got["b"].rounds_to_drain, got["b"].over_cap) == (21, True)
        # c has no pending rows -> absent entirely
        assert "c" not in got

    def test_default_budget_branch(self, spark):
        fr = spark.createDataFrame(
            [("zz", "pending")] * 5, "host string, status string"
        )
        budgets = spark.createDataFrame([], "host string, budget long")
        r = frontier.drain_eta(fr, budgets, default_budget=4).collect()[0]
        assert (r.budget, r.rounds_to_drain) == (4, 2)

    def test_zero_budget_host_is_over_cap(self, spark):
        """ADVICE round 5: a host whose politeness rows carry budget 0
        can never drain — it must classify over_cap=true (NULL eta),
        not NULL/ANSI-error through the ceil-div."""
        fr = spark.createDataFrame(
            [("z0", "pending")] * 5 + [("ok", "pending")] * 4,
            "host string, status string",
        )
        budgets = spark.createDataFrame(
            [("z0", 0), ("ok", 2)], "host string, budget long"
        )
        got = {r.host: r for r in frontier.drain_eta(fr, budgets).collect()}
        assert got["z0"].rounds_to_drain is None and got["z0"].over_cap
        assert (got["ok"].rounds_to_drain, got["ok"].over_cap) == (2, False)


# ----------------------------------------------------------- sitemap stale


class TestSitemapStaleness:
    def test_classification_and_dup_collapse(self, spark):
        entries = spark.createDataFrame(
            [
                ("u1", 100), ("u1", 250),   # dup url -> max lastmod 250
                ("u2", 100),
                ("u3", 100),
            ],
            "url string, lastmod_ts long",
        )
        captures = spark.createDataFrame(
            [("u1", 200), ("u2", 500)], "url string, latest_ts long"
        )
        got = {r.url: r for r in sources.sitemap_staleness(
            entries, captures).collect()}
        assert got["u1"].status == "stale" and got["u1"].staleness_s == 50
        assert got["u2"].status == "fresh" and got["u2"].staleness_s == 0
        assert got["u3"].status == "unseen" and got["u3"].latest_ts is None
        assert got["u1"].lastmod_ts == 250  # dup collapsed to max

    def test_archive_side_never_shuffled(self, spark):
        """The scale contract: both joins broadcast the bounded sitemap
        side — the capture table must not appear under a SortMergeJoin
        or an Exchange feeding one."""
        entries = spark.createDataFrame(
            [("u1", 1)], "url string, lastmod_ts long"
        )
        captures = spark.createDataFrame(
            [("u1", 2)], "url string, latest_ts long"
        )
        plan = (
            sources.sitemap_staleness(entries, captures)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") == 2 or plan.count(
            "BroadcastExchange"
        ) >= 2, plan

