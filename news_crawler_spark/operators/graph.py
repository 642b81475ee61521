"""Link-graph analysis for crawl scheduling.

The reference crawls a fixed five-source seed list; a web-scale frontier
needs a signal for WHICH hosts deserve budget first. Host-level PageRank
over the discovered link graph is the classic one (the frontier's
priority column is exactly where it plugs in: ``rank`` joins onto
pending URLs by host and ``frontier.pop_batch`` orders on it).

Expressed Spark-first: per iteration one broadcast join of the (small —
one row per HOST, not per URL) rank vector against the edge list and one
groupBy(dst) sum — map-side partial aggregation absorbs hub-host
in-degree skew the same way the dedup tiers absorb hot shingles. The
rank vector is eagerly localCheckpoint'ed each iteration (O(1)-deep
lineage, the ``duplicate_clusters``/k-means pattern).

All arithmetic is EXACT INTEGER (scaled ranks, ``div`` floor division)
so a DuckDB twin replays every iteration bit-identically — the same
determinism contract as the integer k-means (v10): no IEEE
evaluation-order drift between engines, ever. Dangling mass (nodes with
no out-edges) is dropped rather than redistributed — documented,
deterministic, and identical in both engines; for crawl prioritization
the relative order is what matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000,
) -> DataFrame:
    """Integer PageRank over ``(src, dst)`` edges → ``(node, rank)``.

    rank⁰ = ``scale`` for every node; per iteration each node with
    out-degree d contributes ``rank div d`` to every successor and
    rank' = base + (damping_num · Σ contribs) div damping_den, with
    base = (scale · (den − num)) div den. Every step is integer-exact,
    so an unrolled-CTE SQL twin matches bit-for-bit.

    Scale shape: the edge list is the big table — it is joined once with
    the out-degree (computed once, checkpointed) and then per iteration
    ONLY against the broadcast rank vector (|hosts| rows, a few MB for
    10⁷ hosts at 16 B/row); the per-iteration shuffle is the groupBy(dst)
    partial-agg sum. Nothing driver-side, no collect."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__outdeg"))
    # (src, dst, outdeg) reused every iteration — cut it once; lazily each
    # iteration would rescan + re-shuffle the degree join
    ej = e.join(deg, "src").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    base = (scale * (damping_den - damping_num)) // damping_den
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for it in range(iters):
        if it > 0:
            # materialize the PREVIOUS iteration before broadcasting it:
            # O(1)-deep lineage (the duplicate_clusters pattern) and the
            # broadcast input is a plain frame, not a replayed plan. The
            # final iteration stays lazy so callers see its real plan.
            ranks = ranks.localCheckpoint(eager=True)
        contrib = (
            ej.join(F.broadcast(ranks), ej["src"] == ranks["node"])
            .select("dst", F.expr("rank div __outdeg").alias("__share"))
            .groupBy("dst")
            .agg(F.sum("__share").alias("__contrib"))
        )
        # contrib is ≤ |hosts| rows — same size class as the rank vector,
        # so the rank rebuild broadcasts it rather than shuffling nodes
        ranks = nodes.join(
            F.broadcast(contrib), nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_num} * coalesce(__contrib, 0L))"
                    f" div {damping_den}"
                )
            ).alias("rank"),
        )
    return ranks


def hits_int(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Integer HITS (Kleinberg hubs & authorities) over ``(src, dst)``
    edges → ``(node, auth, hub)``.

    PageRank (above) scores a host by who links to IT; HITS splits the
    signal in two — an *authority* score (linked to by good hubs: the
    article pages worth fetching) and a *hub* score (links to good
    authorities: the section fronts and sitemaps worth RE-fetching
    often). A crawl scheduler uses both: authorities seed content
    priority, hubs seed the recrawl cadence (t8/t9 plug in there).

    hub⁰ = ``scale``; per iteration auth = Σ hub over in-edges then
    hub = Σ auth over out-edges, each sum rescaled to ``(v · scale)
    div max(v)`` — the normalization that keeps classic HITS from
    blowing up, done in exact integer arithmetic so a DuckDB twin
    can replay every iteration bit-for-bit (the pagerank_int
    determinism contract). Nodes without in-edges get auth 0,
    without out-edges hub 0; max() is guarded to ≥1 identically in
    both engines.

    Scale shape (the pagerank recipe): per half-iteration ONE broadcast
    of the |hosts|-row score vector against the edge list + one
    partial-agg groupBy sum (hub in-degree skew collapses map-side),
    the 1-row max broadcast back as a cross join; score vectors are
    eagerly localCheckpoint'ed (O(1)-deep lineage). Nothing
    driver-side, no collect."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.withColumn("score", F.lit(scale).cast("long"))
    auth = None

    def _step(scores: DataFrame, edge_key: str, group_key: str) -> DataFrame:
        raw = (
            e.join(F.broadcast(scores), e[edge_key] == scores["node"])
            .groupBy(group_key)
            .agg(F.sum("score").alias("__v"))
        )
        mx = raw.agg(F.greatest(F.max("__v"), F.lit(1).cast("long")).alias("__mx"))
        return (
            nodes.join(F.broadcast(raw), nodes["node"] == raw[group_key], "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(f"(coalesce(__v, 0L) * {scale}) div __mx").alias("score"),
            )
        )

    for it in range(iters):
        if it > 0:
            hub = hub.localCheckpoint(eager=True)
        # authorities from current hubs, then hubs from NEW authorities
        auth = _step(hub, "src", "dst").localCheckpoint(eager=True)
        hub = _step(auth, "dst", "src")
    return auth.select("node", F.col("score").alias("auth")).join(
        F.broadcast(hub.select("node", F.col("score").alias("hub"))), "node"
    )


def opic_cash(
    edges: DataFrame,
    rounds: int = 3,
    k: int = 20,
    scale: int = 1_000_000,
) -> DataFrame:
    """Integer OPIC (Abiteboul et al., WWW 2003: On-line Page Importance
    Computation — the adaptive scheduler Nutch shipped) over ``(src,
    dst)`` edges → ``(node, cash, history)`` after ``rounds`` greedy
    fetch rounds of ``k`` hosts each.

    PageRank/HITS (above) are OFFLINE scores — they need the whole graph
    before the crawl can be prioritized. OPIC is the online one: every
    node starts with equal cash; each round the k richest nodes are
    "fetched" — their cash moves to history and splits ``cash div
    outdeg`` across their out-neighbors — so importance concentrates
    WHILE the crawl runs and hubs are re-fetched as their cash
    re-accumulates. ``history + cash`` converges to importance; the
    greedy policy IS the frontier ordering.

    Determinism contract (the g1/g5 twin rules): all-integer cash
    (initial = ``scale``), ``div`` floor division on the split (the
    remainder and the cash of fetched dangling nodes vanish —
    deterministic and identical in both engines), fetch set = rank ≤ k
    by (cash desc, node asc) so ties never depend on partitioning.

    Scale shape: cash/history live on the |hosts|-row vector (the
    pagerank recipe — broadcast against the edge list, partial-agg
    groupBy(dst) absorbs hub in-degree skew map-side). The fetch-set
    rank is a window over that host-dim vector: |hosts| rows through
    one sort per round — the frame is host-level by construction,
    never URL-level (at 10^7 hosts switch the rank to the two-phase
    salted top-k in frontier.pop_round; same order, same output)."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__outdeg"))
    ej = e.join(deg, "src").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    state = nodes.select(
        "node",
        F.lit(scale).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("history"),
    )
    w = Window.orderBy(F.col("cash").desc(), F.col("node").asc())
    for r in range(rounds):
        if r > 0:
            state = state.localCheckpoint(eager=True)
        ranked = state.withColumn("__fetch", F.row_number().over(w) <= k)
        contrib = (
            ej.join(
                F.broadcast(ranked.where("__fetch").select("node", "cash")),
                ej["src"] == F.col("node"),
            )
            .select("dst", F.expr("cash div __outdeg").alias("__share"))
            .groupBy("dst")
            .agg(F.sum("__share").alias("__contrib"))
        )
        state = (
            ranked.join(
                F.broadcast(contrib), ranked["node"] == contrib["dst"], "left"
            )
            .select(
                "node",
                (
                    F.when(F.col("__fetch"), F.lit(0).cast("long")).otherwise(
                        F.col("cash")
                    )
                    + F.coalesce(F.col("__contrib"), F.lit(0).cast("long"))
                ).alias("cash"),
                (
                    F.col("history")
                    + F.when(F.col("__fetch"), F.col("cash")).otherwise(
                        F.lit(0).cast("long")
                    )
                ).alias("history"),
            )
        )
    return state


def _doubling_iters(max_hops: int) -> int:
    """Joins needed to follow up to max_hops redirects by path doubling:
    after k rounds a row has composed up to 2^k consecutive edges."""
    k = 0
    while (1 << k) < max_hops:
        k += 1
    return max(1, k)


def resolve_redirects(edges: DataFrame, max_hops: int = 32) -> DataFrame:
    """Collapse redirect chains to their terminal URL — ``(src, dst)``
    is a FUNCTIONAL redirect map (301/308/canonical-link, one out-edge
    per src; the seen-set's keyed upsert guarantees that upstream).
    Returns ``(src, terminal, hops, cyclic)``: for acyclic chains
    ``terminal`` is the first node with no out-edge and ``hops`` the
    exact chain length; a src on or into a redirect loop — or a chain
    longer than 2^ceil(log2(max_hops)) ≥ max_hops — gets
    ``terminal=NULL, hops=NULL, cyclic=true`` (crawl policy: loops are
    traps, never enqueue them).

    Why this exists: without chain collapse every alias spelling of a
    moved page re-enters the frontier and is re-fetched once per hop;
    resolving to the terminal BEFORE the seen-set insert makes the
    whole chain one key.

    Scale shape: POINTER JUMPING, not hop-by-hop walking —
    ``_doubling_iters(max_hops)`` self-joins (5 for the default 32)
    instead of one join per hop, each a single hash join of the
    resolution frame against itself on ``cur``; a 10^10-edge map with
    30-hop chains costs 5 shuffles, not 30. The frame is
    localCheckpoint'ed between rounds (O(1)-deep lineage, the
    ``pagerank_int``/``duplicate_clusters`` pattern; the final round
    stays lazy so callers see a real plan). Terminal detection is one
    left join against the distinct src set. Nothing driver-side, no
    collect, no per-row Python.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    f = e.select(
        "src",
        F.col("dst").alias("cur"),
        F.lit(1).cast("long").alias("hops"),
    )
    for it in range(_doubling_iters(max_hops)):
        if it > 0:
            f = f.localCheckpoint(eager=True)
        b = f.select(
            F.col("src").alias("__b_src"),
            F.col("cur").alias("__b_cur"),
            F.col("hops").alias("__b_hops"),
        )
        # compose: a path of ≤2^it hops ending at cur extends by the
        # (≤2^it)-hop path STARTING at cur, if one exists; rows already
        # at a terminal find no match and pass through unchanged
        f = f.join(b, f["cur"] == b["__b_src"], "left").select(
            "src",
            F.coalesce("__b_cur", "cur").alias("cur"),
            (F.col("hops") + F.coalesce("__b_hops", F.lit(0)))
            .cast("long")
            .alias("hops"),
        )
    has_out = e.select(F.col("src").alias("cur")).distinct().withColumn(
        "__has_out", F.lit(True)
    )
    return f.join(has_out, "cur", "left").select(
        "src",
        F.when(F.col("__has_out").isNull(), F.col("cur")).alias("terminal"),
        F.when(F.col("__has_out").isNull(), F.col("hops"))
        .cast("long")
        .alias("hops"),
        F.col("__has_out").isNotNull().alias("cyclic"),
    )


def anchor_summary(links: DataFrame, k: int = 3) -> DataFrame:
    """In-link anchor-text profile per target page — the classic
    web-corpus signal (anchor text describes the TARGET better than
    its own body; search and quality pipelines aggregate it per URL).
    Input ``(dst, anchor)`` — one row per discovered link; output one
    row per (dst, top-k anchor): the anchor's count, its rank, and the
    target's totals (``n_inlinks``, ``n_anchors``) riding along.

    Scale shape: popular pages have millions of in-links (the hub skew
    g1's graph plants), but the FIRST aggregation is on (dst, anchor)
    — map-side partial aggregation absorbs the hot dst before any
    shuffle, and the per-dst window that ranks anchors then runs over
    ≤ |distinct anchors per page| pre-aggregated rows, not |in-links|.
    Never a window over the raw link table."""
    per_anchor = links.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("dst").orderBy(F.col("cnt").desc(), F.col("anchor"))
    totals = Window.partitionBy("dst")
    return (
        per_anchor.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("n_inlinks", F.sum("cnt").over(totals).cast("long"))
        .withColumn("n_anchors", F.count(F.lit(1)).over(totals).cast("long"))
        .where(F.col("rank") <= k)
        .select("dst", "anchor", "cnt", "rank", "n_inlinks", "n_anchors")
    )


def trustrank_int(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000,
) -> DataFrame:
    """Integer TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB 2004)
    over ``(src, dst)`` edges and a ``(node)`` trusted-seed set →
    ``(node, trust)``.

    PageRank (above) is spammable — a link farm manufactures rank out
    of thin air. TrustRank biases the teleport to a hand-vetted seed
    set, so score can only REACH a host through a link path from a
    trusted one; farm clusters with no trusted in-path converge to 0.
    For the crawl scheduler this is the anti-spam arm of the priority
    trio: g1 ranks by global link mass, g7 adapts online, g8 caps both
    by trust reachability (the reference's fixed five-source whitelist,
    ``collectors/*``, IS a degenerate seed set — this is the operator
    that generalizes it to an open frontier).

    Same skeleton and determinism contract as ``pagerank_int`` — the
    ONLY change is the teleport term: ``base`` lands on seed nodes
    only (trust⁰ likewise), everything else is the identical integer
    pipeline, so an unrolled-CTE DuckDB twin can replay every
    iteration bit-for-bit. Scale shape unchanged: the
    seed set is a dim (hundreds of vetted hosts real-world) joined
    broadcast onto the |hosts|-row vector; the edge list only ever
    meets the broadcast rank vector."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__outdeg"))
    ej = e.join(deg, "src").localCheckpoint(eager=True)
    sd = seeds.select(F.col("node").cast("long").alias("node")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(sd)
        .distinct()
        .join(F.broadcast(sd.withColumn("__seed", F.lit(True))), "node", "left")
        .select("node", F.coalesce("__seed", F.lit(False)).alias("__seed"))
        .localCheckpoint(eager=True)
    )
    base = (scale * (damping_den - damping_num)) // damping_den
    seed_base = F.when(F.col("__seed"), F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(F.col("__seed"), F.lit(scale))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("trust"),
    )
    for it in range(iters):
        if it > 0:
            ranks = ranks.localCheckpoint(eager=True)
        contrib = (
            ej.join(F.broadcast(ranks), ej["src"] == ranks["node"])
            .select("dst", F.expr("trust div __outdeg").alias("__share"))
            .groupBy("dst")
            .agg(F.sum("__share").alias("__contrib"))
        )
        ranks = nodes.join(
            F.broadcast(contrib), nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                seed_base
                + F.expr(
                    f"({damping_num} * coalesce(__contrib, 0L))"
                    f" div {damping_den}"
                )
            ).cast("long").alias("trust"),
        )
    return ranks


def bfs_depth(edges: DataFrame, seeds: DataFrame, max_depth: int = 4) -> DataFrame:
    """Breadth-first crawl depth over ``(src, dst)`` edges from a
    ``(node)`` seed set → ``(node, depth)`` for every node within
    ``max_depth`` hops (depth = length of the SHORTEST link path from
    any seed).

    Depth-limited crawling is the oldest frontier policy there is
    (every production crawler caps hop distance from its seeds —
    beyond a few hops lies the infinite calendar/session-id tail that
    p11/p13 catch by shape; this catches it by distance). The depth
    column is also the classic tie-breaker under j15's per-domain
    budgets: shallow pages first within a host.

    Spark-first shape: one broadcast join + one min-agg per level —
    the (node, depth) vector is host-dim (|reached nodes| rows),
    broadcast against the edge list exactly like the g1/g5/g7/g8 rank
    vectors; the per-level shuffle is the partial-agg ``min(depth)``
    groupBy, which absorbs hub fan-in map-side. Levels are unrolled
    (max_depth is small by policy — that is the point of the cap), the
    vector localCheckpoint'ed per level (O(1)-deep lineage). Unlike
    g3's pointer-doubling (which composes PATHS and needs the chain
    relation), min-plus BFS re-expands from the full reached set, so
    linear unrolling is the right recurrence. Integer-exact by
    construction (depths are counters), so a DuckDB twin can replay
    every level bit-for-bit."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    reached = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for level in range(max_depth):
        expanded = (
            e.join(F.broadcast(reached), e["src"] == reached["node"])
            .select(F.col("dst").alias("node"), (F.col("depth") + 1).alias("depth"))
            .unionByName(reached.select("node", "depth"))
            .groupBy("node")
            .agg(F.min("depth").cast("long").alias("depth"))
        )
        # last level stays lazy so callers see the real plan
        reached = (
            expanded.localCheckpoint(eager=True)
            if level < max_depth - 1
            else expanded
        )
    return reached


# ---------------------------------------------------------------------------
# connected components: alternating large-star / small-star


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
