"""Connected components over an undirected edge list, for the corpus
build's near-duplicate clusters (analytics d5).

``dedup.duplicate_clusters`` runs min-label propagation, which needs
O(diameter) rounds; when it does not converge within its round cap it
falls back to ``connected_components_twostar`` here: the alternating
large-star/small-star recurrence, O(log² n) rounds whatever the
diameter, each round's result eagerly localCheckpoint'ed so the lineage
stays O(1) deep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node u connects each STRICTLY LARGER
    neighbor to min(Γ(u) ∪ {u}). Output is deduped and self-loop-free."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least("__mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge toward its larger
    endpoint, then every node u connects its ≤-neighbors AND itself to
    the minimum of that closed ≤-neighborhood."""
    o = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = o.groupBy("u").agg(F.min("v").alias("m"))  # v < u always ⇒ min < u
    return (
        o.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(m.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_twostar(
    edges: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Undirected ``(u, v)`` edges → ``(node, component)`` where
    ``component`` is the minimum node id in the connected component —
    the same contract as ``dedup.duplicate_clusters`` but via the
    alternating large-star/small-star recurrence (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Why a second algorithm for the same answer: min-label propagation
    moves labels ONE hop per round (O(diameter) rounds — fine for
    near-dup cliques, fatal for a 10^6-long redirect/mirror chain), and
    every round shuffles the full edge list. The two-star recurrence
    contracts paths like pointer doubling — O(log²) rounds on any graph
    shape, edges strictly shrink toward their component minimum — and
    both stars reduce via a ``min`` combiner keyed by one endpoint, so
    a 10^8-degree hub (the CDN host every mirror links; the boilerplate
    cluster every page near-dups) is absorbed map-side instead of
    serializing one reducer. Convergence is checked with ONE scalar
    count per double-round (the star-edge count is monotone after
    stabilization); ``localCheckpoint`` truncates lineage per round.

    The reference never needs this (its five-source link graph is
    host-partitioned by construction, crawlers.py); an open crawl's
    mirror/redirect graph does.
    """
    e0 = (
        edges.select(F.col("u").cast("long").alias("u"),
                     F.col("v").cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = e0
    prev_sig = None
    for _ in range(max_rounds):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        # converged ⇔ the star edge set is stable: after stabilization
        # every edge is (node, component-min), so (count, sum-hash) is a
        # sufficient signature — one tiny scalar collect per round
        # bit_xor, not sum: a sum of 64-bit hashes overflows LongType
        # (an error under ANSI mode); xor is an exact set signature here
        # because the edge set is distinct
        sig = cur.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        import warnings

        warnings.warn(
            f"connected_components_twostar did not stabilize within "
            f"max_rounds={max_rounds}; component ids may still be "
            "coarser than the true minimum. Raise max_rounds.",
            RuntimeWarning,
            stacklevel=2,
        )
        # a non-stabilized edge set may still hold several (u, v) rows
        # per node; the final left join would then emit duplicate rows
        # per node ON TOP of the coarser ids the warning promises —
        # reduce to each node's best-known (minimum) target so the
        # one-row-per-node output contract holds unconditionally
        # (ADVICE round 5)
        cur = cur.groupBy("u").agg(F.min("v").alias("v"))
    # star form: every non-root points at its component min; roots are
    # absent from the u side and label themselves
    return (
        nodes.join(cur, nodes["node"] == cur["u"], "left")
        .select(
            "node",
            F.coalesce(F.col("v"), F.col("node")).cast("long").alias("component"),
        )
    )
