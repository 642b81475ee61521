"""Product-quantization tier (similarity.pq_*): exactness vs a pure-python
integer twin, planted-duplicate behavior, and the rerank recall bound the
docstrings claim. The v11 gate query re-checks the whole path against an
unrolled DuckDB twin at sf0.01; these tests pin the semantics on inputs
small enough to replay in python ints."""

import math

import pytest

from news_crawler_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"
N_SUB, K, ITERS, QID = 8, 16, 2, 7


def _quant(vec):
    return [int(math.floor(float(x) * sim.SIGNLSH_QUANT + 0.5)) for x in vec]


def _l2(a, b):
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _twin(Q, n_sub, k, iters):
    """The full PQ pipeline in python ints: codebooks, codes, words."""
    dim = len(next(iter(Q.values())))
    sd = dim // n_sub

    def sub(iv, m):
        return iv[m * sd : (m + 1) * sd]

    cb = {(m, c): sub(Q[c], m) for m in range(n_sub) for c in range(k)}
    for _ in range(iters - 1):
        assign = {
            (v, m): min(
                (_l2(sub(iv, m), cv), c) for (mm, c), cv in cb.items() if mm == m
            )[1]
            for v, iv in Q.items()
            for m in range(n_sub)
        }
        nb = {}
        for m in range(n_sub):
            for c in range(k):
                mem = [
                    sub(Q[v], m)
                    for (v, mm), cc in assign.items()
                    if mm == m and cc == c
                ]
                if mem:
                    nb[(m, c)] = [
                        int(math.floor(sum(col) / len(mem))) for col in zip(*mem)
                    ]
        cb = nb
    codes = {
        v: [
            min((_l2(sub(iv, m), cv), c) for (mm, c), cv in cb.items() if mm == m)[1]
            for m in range(n_sub)
        ]
        for v, iv in Q.items()
    }
    words = {v: sum(cs[m] * k**m for m in range(n_sub)) for v, cs in codes.items()}
    return cb, codes, words, sd


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def quantized(emb):
    return {r["vec_id"]: _quant(r["embedding"]) for r in emb.collect()}


def test_pq_codebooks_and_encode_match_python_twin(emb, quantized):
    cb_t, codes_t, words_t, _sd = _twin(quantized, N_SUB, K, ITERS)

    cb_rows = sim.pq_codebooks(emb, n_sub=N_SUB, k_codes=K, iters=ITERS).collect()
    got_cb = {(r["sub"], r["code"]): list(r["cv"]) for r in cb_rows}
    assert got_cb == cb_t

    want = {v: (codes_t[v], words_t[v]) for v in codes_t}
    enc = sim.pq_encode(emb, cb_rows, code_base=K).collect()
    got = {r["vec_id"]: (list(r["codes"]), r["code_word"]) for r in enc}
    assert got == want

    # an int-typed id column keeps its type through the encode kernel
    emb_int = emb.withColumn("vec_id", emb["vec_id"].cast("int"))
    enc_int = sim.pq_encode(emb_int, cb_rows, code_base=K)
    assert enc_int.schema["vec_id"].dataType.simpleString() == "int"
    got_int = {r["vec_id"]: (list(r["codes"]), r["code_word"]) for r in enc_int.collect()}
    assert got_int == want


def test_pq_adc_topk_matches_twin_and_reranks(emb, quantized):
    cb_t, codes_t, _words, sd = _twin(quantized, N_SUB, K, ITERS)
    qiv = quantized[QID]
    lut = {
        (m, c): _l2(qiv[m * sd : (m + 1) * sd], cv) for (m, c), cv in cb_t.items()
    }
    adc_t = {
        v: sum(lut[(m, cs[m])] for m in range(N_SUB)) for v, cs in codes_t.items()
    }
    twin_top = sorted((d, v) for v, d in adc_t.items())[:10]

    cb_rows = sim.pq_codebooks(emb, n_sub=N_SUB, k_codes=K, iters=ITERS).collect()
    enc = sim.pq_encode(emb, cb_rows, code_base=K)
    got = sim.pq_adc_topk(enc, cb_rows, qiv, k=10).collect()
    assert [(r["adc_dist"], r["vec_id"]) for r in got] == twin_top
    # the composed entry point is the same pipeline
    composed = sim.pq_topk(emb, QID, k=10).collect()
    assert [(r["adc_dist"], r["vec_id"]) for r in composed] == twin_top

    # recall: ADC alone is the candidate generator (worst case: these
    # near-random vectors); rerank of the top-100 recovers most of the
    # exact top-10 (measured 0.6 / 0.2 — pinned with slack for K/seed
    # changes, not expected to drift on fixed inputs)
    exact_ids = {v for _, v in sorted((_l2(qiv, iv), v) for v, iv in quantized.items())[:10]}
    adc_ids = {v for _, v in twin_top}
    assert len(exact_ids & adc_ids) / 10 >= 0.1
    rer = sim.pq_topk_rerank(emb, QID, k=10, r_cand=100).collect()
    assert len(exact_ids & {r["vec_id"] for r in rer}) / 10 >= 0.5
    # rerank output is exact-distance ordered, query itself first at dist 0
    assert rer[0]["vec_id"] == QID and rer[0]["dist"] == 0
    dists = [r["dist"] for r in rer]
    assert dists == sorted(dists)


def test_pq_planted_duplicate_shares_code_word(spark):
    # 40 dim-16 vectors; vec 30 is an exact copy of vec 5 → identical
    # codes, identical code_word, identical (minimal) ADC distance to a
    # query at vec 5.
    rows = []
    for i in range(40):
        src = 5 if i == 30 else i
        rows.append(
            (i, [((src * 31 + j * 17) % 101 - 50) / 50.0 for j in range(16)])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = sim.pq_codebooks(df, n_sub=4, k_codes=4, iters=2).collect()
    enc = sim.pq_encode(df, cb, code_base=4)
    got = {r["vec_id"]: r["code_word"] for r in enc.collect()}
    assert got[30] == got[5]
    qiv = _quant(rows[5][1])
    # identical codes ⇒ identical ADC distance (ADC scores the CODES, so
    # a copy is indistinguishable from its original at this tier)
    adc = {r["vec_id"]: r["adc_dist"] for r in sim.pq_adc_topk(enc, cb, qiv, k=40).collect()}
    assert adc[30] == adc[5]
    # the exact re-rank separates them from everything else: both at
    # true distance 0, ordered by vec_id
    rer = sim.pq_topk_rerank(df, 5, k=2, r_cand=40, n_sub=4, k_codes=4, iters=2).collect()
    assert [(r["vec_id"], r["dist"]) for r in rer] == [(5, 0), (30, 0)]


def test_ivfpq_matches_python_twin_and_beats_flat_pq_recall(emb, quantized):
    # full composed twin: coarse Lloyd (k=8, 3 iters) → residuals →
    # PQ(8×16, 2 iters) → probe 2 cells → per-cell ADC → exact re-rank
    K_CELLS, ITERS, NPROBE, RCAND = 8, 3, 2, 100
    cents = {c: quantized[c] for c in range(K_CELLS)}
    for _ in range(ITERS - 1):
        asg = {
            v: min((_l2(iv, cv), c) for c, cv in cents.items())[1]
            for v, iv in quantized.items()
        }
        nc = {}
        for c in set(asg.values()):
            mem = [quantized[v] for v, cc in asg.items() if cc == c]
            nc[c] = [int(math.floor(sum(col) / len(mem))) for col in zip(*mem)]
        cents = nc
    asg = {
        v: min((_l2(iv, cv), c) for c, cv in cents.items())[1]
        for v, iv in quantized.items()
    }
    R = {v: [a - b for a, b in zip(quantized[v], cents[asg[v]])] for v in quantized}
    cb, codes, words, sd = _twin(R, N_SUB, K, 2)

    qiv = quantized[QID]
    probed = sorted(cents, key=lambda c: (_l2(qiv, cents[c]), c))[:NPROBE]
    adc = {}
    for v in quantized:
        if asg[v] not in probed:
            continue
        qr = [a - b for a, b in zip(qiv, cents[asg[v]])]
        adc[v] = sum(
            _l2(qr[m * sd : (m + 1) * sd], cb[(m, codes[v][m])]) for m in range(N_SUB)
        )
    cand = sorted((d, v) for v, d in adc.items())[:RCAND]
    rer = sorted((_l2(qiv, quantized[v]), v) for _, v in cand)[:10]
    twin = [(v, asg[v], words[v], adc[v], d) for d, v in rer]

    got = sim.ivfpq_topk_rerank(
        emb, QID, k=10, r_cand=RCAND, n_probe=NPROBE,
        seed_ids=tuple(range(K_CELLS)), iters=ITERS,
    ).collect()
    assert [
        (r["vec_id"], r["cell"], r["code_word"], r["adc_dist"], r["dist"]) for r in got
    ] == twin

    # residual quantization is finer than flat PQ at the same 8×16 code
    # budget: measured recall@10 = 0.9 here vs 0.6 for pq_topk_rerank
    # (deterministic on these fixed inputs; pinned with slack)
    exact_ids = {
        v for _, v in sorted((_l2(qiv, iv), v) for v, iv in quantized.items())[:10]
    }
    assert len(exact_ids & {r["vec_id"] for r in got}) / 10 >= 0.7


def test_sq8_encode_range_scales_and_determinism(spark):
    """SQ8 codes land exactly in [-127, 127] with the extremes hit by
    the per-dim max components (q8 = +127 at iv = +m, 0-centered), the
    trained scale is per-dimension (a small dim-1 value still spans the
    full code range), and encoding is recomputation-stable."""
    from news_crawler_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.001]),
        (1, [-1.0, -0.001]),
        (2, [0.5, 0.0005]),
        (3, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: list(r.q8) for r in sim.sq8_encode(df, dim=2).collect()}
    got2 = {r.vec_id: list(r.q8) for r in sim.sq8_encode(df, dim=2).collect()}
    assert got == got2
    assert got[0] == [127, 127]  # both dims at their own max
    assert got[1] == [-127, -127]
    assert got[3] == [0, 0]
    # half-scale: ((m/2 + m)*127) div m - 127 = 63 (floor), per dim
    assert got[2] == [63, 63]
    assert all(-127 <= c <= 127 for cs in got.values() for c in cs)


def test_sq8_topk_finds_planted_neighbors(spark):
    """The quantized scan must surface the exact-dot winners: vectors
    colinear with the query rank by magnitude, orthogonal ones fall
    out, and q8_dot / exact_dot agree on the ordering for the planted
    geometry (scores ride along for the gate's value hash)."""
    from news_crawler_spark.operators import similarity as sim

    dim = 4
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]  # query
    rows += [(i, [1.0 / i, 0.0, 0.0, 0.0]) for i in range(1, 6)]  # colinear
    rows += [(10 + i, [0.0, 1.0, 0.5, 0.25]) for i in range(3)]  # orthogonal
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.sq8_topk_rerank(df, query_id=0, k=3, r_cand=5, dim=dim).collect()
    assert [r.vec_id for r in out] == [1, 2, 3]
    assert out[0].exact_dot > out[1].exact_dot > out[2].exact_dot
    assert out[0].q8_dot >= out[1].q8_dot >= out[2].q8_dot
