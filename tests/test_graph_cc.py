"""Two-star connected components (operators/graph.py).

Truth is pinned three ways: hand-built graphs with known components, a
cross-check against dedup.duplicate_clusters (min-label propagation —
an INDEPENDENT algorithm for the same contract), and a long-chain case
where label propagation needs O(n) rounds but two-star stays O(log²)."""

import warnings

import pytest

from news_crawler_spark.operators import dedup
from news_crawler_spark.operators.graph import connected_components_twostar


def _cc(spark, edge_list, **kw):
    e = spark.createDataFrame(edge_list, "u long, v long")
    return {
        r.node: r.component
        for r in connected_components_twostar(e, **kw).collect()
    }


def test_basic_shapes(spark):
    # chain 0-1-2-3, triangle 10-11-12, pair 20-21, star 30<-{31,32,33}
    edges = [
        (0, 1), (1, 2), (2, 3),
        (10, 11), (11, 12), (12, 10),
        (21, 20),
        (31, 30), (32, 30), (33, 30),
    ]
    out = _cc(spark, edges)
    assert out == {
        0: 0, 1: 0, 2: 0, 3: 0,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30,
    }


def test_duplicate_and_reversed_edges_are_harmless(spark):
    out = _cc(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)])
    assert out == {1: 1, 2: 1, 3: 1}


def test_long_chain_converges_in_logarithmic_rounds(spark):
    # a 200-node chain: min-label propagation needs ~200 rounds; the
    # two-star recurrence must finish well inside 20
    edges = [(i, i + 1) for i in range(200)]
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warns -> fail
        out = _cc(spark, edges, max_rounds=20)
    assert set(out.values()) == {0}
    assert len(out) == 201


def test_hub_skew(spark):
    # one 500-degree hub plus a disjoint pair
    edges = [(5000, i) for i in range(500)] + [(9000, 9001)]
    out = _cc(spark, edges)
    assert out[5000] == 0 and out[499] == 0
    assert out[9000] == 9000 and out[9001] == 9000


def test_agrees_with_min_label_propagation(spark):
    # deterministic pseudo-random graph: both algorithms must emit the
    # identical (node -> min-of-component) map
    edges = []
    x = 7
    for _ in range(300):
        x = (x * 1103515245 + 12345) % (2**31)
        u, v = x % 97, (x // 97) % 97
        if u != v:
            edges.append((u, v))
    star = _cc(spark, edges)
    pairs = spark.createDataFrame(
        [(u, v) for u, v in edges], "a_id long, b_id long"
    )
    prop = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert star == prop


def test_nonconvergence_warns(spark):
    edges = [(i, i + 1) for i in range(64)]
    e = spark.createDataFrame(edges, "u long, v long")
    with pytest.warns(RuntimeWarning, match="did not stabilize"):
        connected_components_twostar(e, max_rounds=1).collect()


def test_nonconvergence_still_one_row_per_node(spark):
    """ADVICE round 5: at the round cap the star edge set may hold
    several (u, v) rows per node — the output must still honor the
    one-row-per-node contract (coarser ids are the documented
    degradation, duplicate rows are not)."""
    edges = [(i, i + 1) for i in range(64)]
    e = spark.createDataFrame(edges, "u long, v long")
    with pytest.warns(RuntimeWarning, match="did not stabilize"):
        rows = connected_components_twostar(e, max_rounds=1).collect()
    assert len(rows) == len({r.node for r in rows}) == 65


def test_auto_falls_back_to_twostar_on_long_chains(spark):
    """The default path must never return silently split clusters. A
    40-node chain at max_iters=5 exceeds label propagation's reach;
    algorithm='auto' must warn and return the EXACT single component, while algorithm='label' keeps the
    warn-and-return-coarse behavior for the A/B harness."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "a_id long, b_id long"
    )
    with pytest.warns(RuntimeWarning, match="two-star"):
        got = dedup.duplicate_clusters(pairs, max_iters=5).collect()
    assert {r.cluster_id for r in got} == {0}
    assert len(got) == 41
    with pytest.warns(RuntimeWarning, match="did not converge"):
        coarse = dedup.duplicate_clusters(
            pairs, max_iters=5, algorithm="label"
        ).collect()
    assert len({r.cluster_id for r in coarse}) > 1


def test_label_propagation_convergence_boundary(spark):
    """Label 0 needs 4 rounds to reach the far end of a 5-node chain, and
    a 5th round to see no label change. So label propagation warns at
    max_iters=4 although its labels are already whole, warns and returns
    the split clustering at max_iters=3, and is silent at max_iters=5."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "a_id long, b_id long"
    )

    def run(max_iters):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = {
                r.doc_id: r.cluster_id
                for r in dedup.duplicate_clusters(
                    pairs, max_iters=max_iters, algorithm="label"
                ).collect()
            }
        return got, any("did not converge" in str(w.message) for w in caught)

    got, warned = run(4)
    assert warned and got == {i: 0 for i in range(5)}
    got, warned = run(3)
    assert warned and got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 1}
    got, warned = run(5)
    assert not warned and got == {i: 0 for i in range(5)}


def test_duplicate_clusters_twostar_backend(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "a_id long, b_id long",
    )
    a = {
        (r.doc_id, r.cluster_id)
        for r in dedup.duplicate_clusters(pairs, algorithm="twostar").collect()
    }
    b = {
        (r.doc_id, r.cluster_id)
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert a == b
    with pytest.raises(ValueError, match="label|twostar"):
        dedup.duplicate_clusters(pairs, algorithm="nope")
