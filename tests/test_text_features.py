"""Text-quality feature twins that need their own edge fixtures
(separate from the corpus-driven checks in test_pipeline_ops)."""


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
