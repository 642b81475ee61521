"""Text-quality feature twins that need their own edge fixtures
(separate from the corpus-driven checks in test_pipeline_ops)."""


def test_dup_ngram_fraction_twin(spark):
    """Repetition ratios vs a python twin, including the short-doc and
    fully-repetitive edges."""
    from news_crawler_spark.operators import text as text_ops
    from pyspark.sql import functions as F

    rows = [
        ("a", "x y z x y z x y z"),          # heavy 3-gram repetition
        ("b", "all distinct tokens here"),   # none
        ("c", "t t t t"),                    # all-duplicate tokens
        ("d", "just two"),                   # shorter than n=3
        ("e", "one"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r.doc_id: (r.d1, r.d3)
        for r in df.select(
            "doc_id",
            F.round(text_ops.dup_ngram_fraction("text", 1), 4).alias("d1"),
            F.round(text_ops.dup_ngram_fraction("text", 3), 4).alias("d3"),
        ).collect()
    }

    def twin(t, n):
        toks = t.split(" ")
        if len(toks) < n:
            return 0.0
        g = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return round(1.0 - len(set(g)) / len(g), 4)

    for d, t in rows:
        assert got[d] == (twin(t, 1), twin(t, 3)), d


def test_bm25_matches_python_twin(spark):
    """BM25 scores and ranking vs a straightforward python twin,
    including a doc with no query terms (absent from output) and the
    rare-term boost dominating a common-term pile-up."""
    import math

    from news_crawler_spark.operators import text as text_ops

    rows = [
        (1, "rare common common common"),
        (2, "common common common common common common"),
        (3, "other words only here"),
        (4, "rare rare common other pad pad pad pad"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.doc_id, r.score)
        for r in text_ops.bm25_topk(df, ("rare", "common"), k=10).collect()
    ]

    n = len(rows)
    dls = {d: len(t.split(" ")) for d, t in rows}
    avgdl = sum(dls.values()) / n
    tfs = {d: {} for d, _ in rows}
    for d, t in rows:
        for w in t.split(" "):
            if w in ("rare", "common"):
                tfs[d][w] = tfs[d].get(w, 0) + 1
    dfs = {w: sum(1 for d in tfs if w in tfs[d]) for w in ("rare", "common")}
    exp = []
    for d in tfs:
        if not tfs[d]:
            continue
        s = 0.0
        for w, tf in tfs[d].items():
            idf = round(math.log(1 + (n - dfs[w] + 0.5) / (dfs[w] + 0.5)), 6)
            s += idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls[d] / avgdl)))
        exp.append((d, round(s, 4)))
    exp.sort(key=lambda x: (-x[1], x[0]))
    assert got == exp
    # doc 1 wins: one rare hit on the SHORTEST doc — length
    # normalization beats doc 4's double rare hit at twice the length
    assert got[0][0] == 1
    assert all(d != 3 for d, _ in got)  # no query terms -> not retrieved


def test_duplicate_spans_planted(spark):
    """Planted repeated passages: a 12-token licence block shared by two
    docs must come back as ONE maximal span covering exactly its token
    range in each doc (5 overlapping windows merged); an 8-token block
    repeated twice INSIDE one doc counts toward min_count; unique text
    yields nothing."""
    from news_crawler_spark.operators import dedup

    lic = " ".join(f"lic{i}" for i in range(12))     # 12-token shared block
    rep = " ".join(f"rep{i}" for i in range(8))      # 8-token intra-doc block
    rows = [
        (0, f"{lic} u0a u0b u0c"),                   # block at tokens [0, 12)
        (1, f"u1a u1b {lic}"),                       # block at tokens [2, 14)
        (2, f"u2a {rep} u2b u2c u2d u2e u2f {rep}"), # twice in one doc
        (3, "plain unique text with no repeats at all beyond window size x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.doc_id, r.tok_start, r.tok_end, r.n_windows)
        for r in dedup.duplicate_spans(df, window=8, min_count=2).collect()
    )
    # 12-token block at offset o -> dup windows at o..o+4 (5 windows),
    # merged span [o, o+12)
    assert out == [
        (0, 0, 12, 5),
        (1, 2, 14, 5),
        (2, 1, 9, 1),    # first rep occurrence: tokens [1, 9)
        (2, 14, 22, 1),  # second: tokens [14, 22), gap > window -> two spans
    ]


def test_duplicate_spans_adjacent_merge(spark):
    """Back-to-back duplicated windows (pos == prev + window, zero
    overlap) merge into one span; a doc shorter than the window is
    dropped before the explode."""
    from news_crawler_spark.operators import dedup

    a = " ".join(f"a{i}" for i in range(4))
    b = " ".join(f"b{i}" for i in range(4))
    c = " ".join(f"c{i}" for i in range(4))
    # doc 0: A B C A B C -> windows at 0 (A B) and 8 (C A... wait) —
    # plant exactly: tokens 0-7 = A+B, 8-15 = C+A; make both windows dup
    # by repeating the full 16-token run in doc 1 at an offset
    run = f"{a} {b} {c} {a}"
    rows = [(0, f"{run} z0 z1"), (1, f"y0 y1 y2 {run}"), (2, "short text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.doc_id, r.tok_start, r.tok_end)
        for r in dedup.duplicate_spans(df, window=8, min_count=2).collect()
    )
    # 16-token run -> 9 dup windows 0..8 (doc0) / 3..11 (doc1), one span each
    assert out == [(0, 0, 16), (1, 3, 19)]


def test_strip_duplicate_spans_rebuild(spark):
    """The strip composes with the span finder: shared licence block
    removed from both docs, surrounding text byte-identical, untouched
    docs pass through with n_dup_tokens=0."""
    from news_crawler_spark.operators import dedup

    lic = " ".join(f"lic{i}" for i in range(12))
    rows = [
        (0, f"{lic} u0a u0b u0c"),
        (1, f"u1a u1b {lic}"),
        (2, "entirely unique text nothing repeated here beyond the window a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.strip_duplicate_spans(df, window=8, min_count=2).collect()
    }
    assert (out[0].n_tokens, out[0].n_dup_tokens) == (15, 12)
    assert out[0].text_clean == "u0a u0b u0c"
    assert (out[1].n_tokens, out[1].n_dup_tokens) == (14, 12)
    assert out[1].text_clean == "u1a u1b"
    assert out[2].n_dup_tokens == 0 and out[2].text_clean == rows[2][1]


def test_dsir_select_matches_python_twin(spark):
    """DSIR weights vs a python twin (same md5 buckets, same Laplace
    smoothing, same micro-nat quantization): target-vocabulary docs must
    outrank off-target docs, and every weight must match the twin
    exactly — the integer-sum determinism the x22 oracle relies on."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from news_crawler_spark.operators import text as text_ops

    rows = [
        (0, "de", "zug bahn zug bahn strasse"),
        (1, "de", "bahn strasse zug zug"),
        (2, "en", "cat dog cat dog bird"),
        (3, "en", "dog bird cat bird"),
        (4, "en", "zug bahn cat dog"),  # mixed: between the two groups
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: r.weight
        for r in text_ops.dsir_select(
            docs, F.col("lang") == "de", n_buckets=8, m=5
        ).collect()
    }

    B, S = 8, 1_000_000

    def bucket(term):
        return int(hashlib.md5(term.encode()).hexdigest()[:6], 16) % B

    cr = [0] * B
    ct = [0] * B
    for _, lang, t in rows:
        for term in t.split(" "):
            cr[bucket(term)] += 1
            ct[bucket(term)] += lang == "de"
    r_tot, t_tot = sum(cr), sum(ct)
    lr = [
        round(
            math.log(((ct[b] + 1) * (r_tot + B)) / ((cr[b] + 1) * (t_tot + B))) * S
        )
        for b in range(B)
    ]
    want = {
        did: sum(lr[bucket(term)] for term in t.split(" "))
        for did, _, t in rows
    }
    assert got == want, (got, want)
    # the de-vocabulary docs outrank the off-target ones; the mixed doc
    # sits strictly between the two groups
    assert min(want[0], want[1]) > want[4] > max(want[2], want[3]), want


def test_gopher_flags_edges(spark):
    """Each rule trips on its own planted edge: too-short doc, mean word
    length out of both bounds, non-alpha flood, no stopwords."""
    from news_crawler_spark.operators import text as text_ops

    rows = [
        (0, "the quick brown fox jumps over the crazy dogs today"),  # all pass
        (1, "the a of"),                                     # too few tokens
        (2, "the of supercalifragilistic extraordinarily " + "x" * 0 +
            "incomprehensibilities antidisestablishmentarianism neuropsychopharmacologist"),
        (3, "the of 123 456 789 777 888 999 000 111"),       # alpha < 80%
        (4, "cat dog bird fish mouse horse goat sheep"),     # no stopwords
        (5, "a b c d e f g h i j"),                          # mwl < 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.count_ok, r.mwl_ok, r.alpha_ok, r.stop_ok, r.passes)
        for r in text_ops.gopher_flags(df).collect()
    }
    assert got[0] == (1, 1, 1, 1, 1), got
    assert got[1][0] == 0 and got[1][4] == 0
    assert got[2][1] == 0, got  # mean word length > 10
    assert got[3][2] == 0, got
    assert got[4] == (1, 1, 1, 0, 0), got
    assert got[5][1] == 0, got  # mean word length < 3


def test_unigram_entropy_twin(spark):
    """Entropy numerator vs a python twin; the all-same-token doc is
    exactly 0 and the all-distinct doc is exactly n*L(n)."""
    import math

    from news_crawler_spark.operators import text as text_ops

    rows = [
        (0, "a a a a a"),                  # zero entropy
        (1, "a b c d e"),                  # max entropy: L(c)=ln(1)=0
        (2, "a a b b b c"),
        (3, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.h_num)
        for r in text_ops.unigram_entropy(df).collect()
    }

    def L(x):
        return round(math.log(x) * 1_000_000)

    def twin(t):
        toks = t.split(" ")
        n = len(toks)
        cs = {}
        for w in toks:
            cs[w] = cs.get(w, 0) + 1
        return (n, n * L(n) - sum(c * L(c) for c in cs.values()))

    for d, t in rows:
        assert got[d] == twin(t), (d, got[d], twin(t))
    assert got[0][1] == 0
    assert got[3] == (1, 0)
    assert got[1][1] == 5 * L(5)


def test_bigram_logprob_twin(spark):
    """Bigram-LM score vs a full python twin (model training + scoring
    + Laplace smoothing), including the <2-token doc pinned to (0, 0)
    and the repeated-bigram doc whose c(u,v)>1 exercises smoothing."""
    import math

    from news_crawler_spark.operators import text as text_ops

    rows = [
        (0, "the cat sat on the cat"),   # "the cat" twice
        (1, "the cat ran"),
        (2, "dog"),                      # no bigrams -> (0, 0)
        (3, "on the cat sat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.lp_num)
        for r in text_ops.bigram_logprob(df).collect()
    }

    def L(x):
        return round(math.log(x) * 1_000_000)

    cuv, cu, vocab = {}, {}, set()
    for _, t in rows:
        toks = t.split(" ")
        vocab.update(toks)
        for u, v in zip(toks, toks[1:]):
            cuv[(u, v)] = cuv.get((u, v), 0) + 1
            cu[u] = cu.get(u, 0) + 1
    V = len(vocab)

    def twin(t):
        toks = t.split(" ")
        bgs = list(zip(toks, toks[1:]))
        return (
            len(bgs),
            sum(L(cuv[(u, v)] + 1) - L(cu[u] + V) for u, v in bgs),
        )

    for d, t in rows:
        assert got[d] == twin(t), (d, got[d], twin(t))
    assert got[2] == (0, 0)
    # smoothed probabilities are < 1, so every scored doc is strictly
    # negative in micro-nats
    assert all(lp < 0 for n, lp in got.values() if n > 0)


def test_bpe_train_matches_python_twin(spark):
    """bpe_train vs a literal pure-python BPE trainer (subword-nmt
    semantics: argmax pair by (count, lexicographic), greedy
    left-to-right merge) on a corpus engineered for the traps:
    equal-symbol runs ('aaaa': overlapping candidates must resolve
    first-wins), ties (argmax must break lexicographically), and a
    single-symbol word (no pairs, must survive every iteration)."""
    from news_crawler_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            ("d1", "abab abab xaaa xaaa xaaa aaaa b"),
            ("d2", "low lower lowest low low newest newest"),
        ],
        "doc_id string, text string",
    )
    n_merges = 8
    got = {
        r.w: (r.wc, tuple(r.syms))
        for r in text_ops.bpe_train(
            text_ops.bpe_init_segmentation(docs), n_merges
        ).collect()
    }

    # pure-python twin over the same regex tokens
    import re

    toks = []
    for _, t in docs.collect():
        toks += re.findall("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]", t)
    freq = {}
    for w in toks:
        freq[w] = freq.get(w, 0) + 1
    seg = {w: list(w) for w in freq}
    for _ in range(n_merges):
        counts = {}
        for w, syms in seg.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq[w]
        if not counts:
            break
        (a, b) = min(counts, key=lambda p: (-counts[p], p))
        for w, syms in seg.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seg[w] = out

    assert got == {w: (freq[w], tuple(seg[w])) for w in freq}


def test_bpe_merge_fold_exhaustive_two_symbol_space(spark):
    """The greedy-merge fold, proven over the COMPLETE space where
    overlap traps live: every sequence over {a,b} of length 1..6 (126
    words), merged under both (a,a) — the equal-symbol overlapping
    case — and (a,b). One Spark job per pair vs the literal python
    left-to-right scan."""
    from itertools import product

    from news_crawler_spark.operators import text as text_ops
    from pyspark.sql import functions as F

    words = [
        "".join(p)
        for n in range(1, 7)
        for p in product("ab", repeat=n)
    ]

    def py_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    df = spark.createDataFrame(
        [(w, list(w)) for w in words], "w string, syms array<string>"
    )
    for a, b in (("a", "a"), ("a", "b")):
        got = {
            r.w: tuple(r.m)
            for r in df.select(
                "w",
                text_ops._bpe_merge_fold(
                    F.col("syms"), F.lit(a), F.lit(b)
                ).alias("m"),
            ).collect()
        }
        want = {w: tuple(py_merge(list(w), a, b)) for w in words}
        assert got == want, (a, b)


def test_ccnet_split_terciles_and_unscorable_tail(spark):
    from news_crawler_spark.operators import text as text_ops

    rows = []
    # 60 scorable docs in one group with varied repetitiveness
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    for i in range(60):
        body = " ".join(words[(i + j) % (2 + i % 4)] for j in range(12))
        rows.append((i, body, "s1"))
    rows.append((900, "solo", "s1"))  # single token: unscorable
    rows.append((901, "", "s1"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = text_ops.ccnet_split(docs).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert len(out) == 62
    # unscorable docs land in tail with NULL cost
    tail_ids = {r.doc_id for r in by_bucket["tail"]}
    assert {900, 901} <= tail_ids
    assert all(
        r.ppl_milli is None for r in out if r.doc_id in (900, 901)
    )
    # roughly tercile-sized buckets over the 60 scorable docs
    n_head = len(by_bucket["head"])
    n_mid = len(by_bucket.get("middle", []))
    assert 10 <= n_head <= 30 and 10 <= n_mid <= 30
    # every head doc scores no worse than every tail doc
    max_head = max(r.ppl_milli for r in by_bucket["head"])
    min_tail = min(
        r.ppl_milli for r in by_bucket["tail"] if r.ppl_milli is not None
    )
    assert max_head <= min_tail
