"""Document deduplication family for the training-data pipeline.

The reference dedups only URLs (unique link index, db_models.py:40); a
100 TB corpus additionally needs *content* dedup. Tiers, all expressed
Spark-first:

- exact:       md5-groupBy (one shuffle on a 16-byte key)
- MinHash+LSH: ONE signature path, on the JVM: ``with_minhash`` =
               ``with_hashed_shingles`` + ``minhash_signature``, xxhash64
               over hashed shingles inside higher-order array functions
               (no Python task), banded bucketing, candidate join,
               exact-Jaccard verify on hashed sets — the scale path
               (O(n·bands) shuffle)
- clusters:    connected components over near-dup pairs (iterative
               min-label propagation, one aggregate per round, its
               convergence count observed on the round's own job) — the
               pipeline's final output
- contamination: corpus documents sharing an n-gram with an eval set
               (``cross_contamination``, the x14 decontamination pass)
- survivors:   one representative per dup cluster, longest copy wins
               (``cluster_representatives``)
- containment: pairs where one shingle set lies mostly inside the
               other, which Jaccard misses (``containment_pairs``)

Hash provenance: shingle/MinHash hashes are Spark's builtin ``xxhash64``
(seed 42), bit-identical to the pure-Python twin in functions/xxh64.py;
``md5_hash64`` gives md5-derived 64-bit values a DuckDB twin can
recompute exactly. Nothing depends on partitioning.

Scale notes: shingles travel as 8-byte hashes everywhere (3-5× smaller
shuffles than strings; Jaccard identical up to 64-bit collisions, which
the string-side sf0.01 oracle would catch). The correctness oracle of
``minhash_lsh_pairs`` is the pure-Python all-pairs Jaccard of
tests/test_pipeline_ops.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import tokens_col


def spread_for_cpu(df: DataFrame) -> DataFrame:
    """Guard for expression-bound stages over small inputs: a tiny
    parquet table scans as ONE partition (file-size-based splitting), so
    a per-row-heavy stage (the span extraction of analytics.m1)
    serializes on one core. Repartition up to the cluster
    parallelism ONLY when the input has fewer partitions than cores; at
    real scale (inputs already ≥ cores partitions) this is a no-op, so
    no extra shuffle is introduced where it would hurt.

    The decision never runs ``df``. An input whose physical plan holds
    an exchange or a subquery is returned as it is: its partitioning is
    set by that shuffle (and by AQE, which sizes it to the data), and
    asking such a plan for its partitions runs its shuffle stages, which
    the caller's action would then run again. For any other plan,
    building its RDD starts no job, so its partition count is read."""
    sc = df.sparkSession.sparkContext
    physical = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in physical or "Subquery" in physical:
        return df
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


# --------------------------------------------------------------------------
# exact

def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    canonical (minimum) id and the copy count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# shingles

def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* token array —
    pure higher-order functions (transform over a position sequence).

    ``toks`` MUST be a projected column, not an inline ``split(...)``
    expression: higher-order lambdas re-evaluate captured expressions per
    element, so an inline split turns this into O(tokens²) per row
    (measured 4.4 ms/doc → 0.1 ms/doc after materializing).
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    # guard: docs shorter than n tokens have no shingles (sequence would
    # otherwise count downward and element_at(…,0) would throw)
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def with_gram_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, n_tokens, sh: array<long>[, *passthrough]) for EVERY
    row: its whitespace token count and its distinct word n-grams as
    64-bit xxhash64 values (empty below n tokens).

    Everything downstream (inverted index, MinHash signatures, verify
    intersections, contamination) operates on the hashes, never the
    strings: an 8-byte long vs a ~25-byte shingle string is a 3-5×
    smaller shuffle and a cheaper sort/intersect, and Jaccard over
    hashed sets equals Jaccard over the strings up to 64-bit collisions
    (p ≈ m²/2⁶⁴ per doc pair — vanishing; the sf0.01 DuckDB string-side
    oracle would catch any).

    The shingle hash is computed WITHOUT ever materializing the n-gram
    string: each token is hashed once, and a shingle's hash is the
    chained ``xxhash64(th_i, …, th_{i+n-1})`` over the n consecutive
    token hashes (Spark chains multi-arg hashing by feeding the previous
    hash in as the next seed — reproduced by the pytest twin). The
    string path (token slice → concat_ws → hash a ~25-byte string per
    shingle) was measured at 2× the cost of this arithmetic-only form
    at sf0.1 (1.0 s → 0.27 s for the shingle stage, exp round 4): every
    token's bytes are hashed n times either way, but the concat
    allocates and copies each gram before hashing it.

    A filter on ``sh`` above this projection would re-evaluate the
    whole gram expression (PushDownPredicates substitutes it into the
    pushed predicate); filter on ``n_tokens`` instead, as
    ``with_hashed_shingles`` does, or materialize first."""
    extra = [F.col(c) for c in passthrough]
    th = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("__toks"), *extra
    ).select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th"),
        *extra,
    )
    idx = F.sequence(F.lit(0), F.size(F.col("__th")) - n)
    # __th is a PROJECTED column (cheap lambda capture — a reference,
    # not a re-evaluated expression; see shingles_from_tokens note)
    grams = F.transform(
        idx,
        lambda i: F.xxhash64(
            *[F.element_at(F.col("__th"), (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    # CASE evaluates lazily, so sequence() never sees a short doc (where
    # it would count downward and element_at(…, 0) would throw)
    sh = F.when(F.col("n_tokens") >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<long>")
    )
    return th.select("doc_id", "n_tokens", sh.alias("sh"), *extra)


def with_hashed_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, sh: array<long>[, *passthrough]) — ``with_gram_hashes``
    without the docs shorter than n tokens: an empty set has no Jaccard
    pairs, and an all-NULL MinHash signature must never reach the
    banding join. The drop filters ``n_tokens``, which the optimizer
    pushes below the gram projection as a plain ``size(split(text))``
    test (≥n tokens ⇔ sh non-empty)."""
    return (
        with_gram_hashes(docs, text_col, id_col, n, passthrough)
        .filter(F.col("n_tokens") >= n)
        .select("doc_id", "sh", *passthrough)
    )


# --------------------------------------------------------------------------
# cross-table contamination (decontamination pre-pass)

def cross_contamination(grams: DataFrame, eval_col: str = "is_eval") -> DataFrame:
    """Corpus documents sharing ≥1 distinct n-gram with ANY eval
    document → ``(doc_id, n_shared)`` — the decontamination pre-pass a
    training-data pipeline runs before a benchmark-bearing corpus ships
    (train/test n-gram overlap is the standard leakage check).

    Input: ONE materialized ``(doc_id, sh, eval_col)`` frame holding the
    corpus rows (``eval_col`` false) and the eval rows (true), with
    their hashed n-gram sets (``with_gram_hashes``: 8 B/gram, no gram
    strings in flight). analytics.x14 builds it in its single pass: the
    quality gate, the canonical dedup, the eval label, the grams and the
    token counts come from one scan into one localCheckpoint, and this
    join, the anti-join and the packing all read that checkpoint.

    The frame must be materialized (checkpointed or cached): the
    optimizer's InferFiltersFromGenerate adds ``size(sh) > 0`` above
    each explode and PushDownPredicates substitutes the ENTIRE
    chained-xxhash gram expression into that inferred filter at the
    scan (measured on x9 at sf0.1, 8.0 s → 2.3 s with the cut); a
    checkpoint gives the explodes a plain column to scan.

    Shape: the eval grams BROADCAST (an eval set is a benchmark —
    10³-10⁵ docs — so its grams fit an executor; for a pathological eval
    side drop the hint and this degrades to a plain shuffled semi-join)
    and the corpus grams semi-join them, so a gram repeated across eval
    docs needs no distinct (and no shuffle) first. The corpus side is a
    pure scan → explode → broadcast semi-join → partial-agg pipeline: no
    corpus-side shuffle of gram rows, only the final per-doc count.
    ``n_shared`` counts the corpus doc's DISTINCT grams seen in eval
    (gram arrays are distinct by construction)."""
    tr = grams.filter(~F.col(eval_col)).select(
        "doc_id", F.explode("sh").alias("g")
    )
    ev = grams.filter(F.col(eval_col)).select(F.explode("sh").alias("g"))
    return tr.join(F.broadcast(ev), "g", "left_semi").groupBy("doc_id").agg(
        F.count("*").alias("n_shared")
    )


# --------------------------------------------------------------------------
# MinHash + LSH

def _hash_with_index(value: Column, i: Column) -> Column:
    """h_i(value) = xxhash64(i::long, value) — Spark chains multi-arg
    hashing by using the previous hash as the next seed, reproduced by
    functions/xxh64.py for the pytest oracle."""
    return F.xxhash64(i.cast("long"), value)


def minhash_signature(shingle_hashes: Column, num_hashes: int = 128) -> Column:
    """Array of ``num_hashes`` min-hashes over HASHED shingles — all
    JVM-side higher-order functions: for each i, min over shingles of
    xxhash64(i, shingle_hash). Re-hashing an 8-byte long per (i, shingle)
    instead of the full shingle string cuts the signature cost from
    O(hashes·shingles·strlen) to O(hashes·shingles·8B) — the signature
    build was the measured bulk of d3's runtime."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(shingle_hashes, lambda h: _hash_with_index(h, i))
        ),
    )


def with_minhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 128,
) -> DataFrame:
    """(doc_id, sh, sig) — hashed shingle sets (``with_hashed_shingles``:
    docs shorter than n tokens drop) plus their ``num_hashes``-wide
    MinHash signatures (``minhash_signature``), all JVM-side
    expressions: no Python task runs."""
    sh = with_hashed_shingles(docs, text_col, id_col, n)
    return sh.select(
        "doc_id",
        "sh",
        minhash_signature(F.col("sh"), num_hashes).alias("sig"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    bands b=num_hashes/rows_per_band, rows r=rows_per_band: candidate
    recall for a pair at jaccard j is 1-(1-j^r)^b — at r=2,b=64 a 0.6-pair
    is missed with p≈4e-13, so the verified output matches exact
    all-pairs Jaccard (the Python twin in tests/test_pipeline_ops.py).
    The candidate join shuffles
    O(n·bands) band-bucket rows, never O(n²); the verify join ships
    hashed shingle arrays (8 B/shingle), not the strings.

    The signatures are checkpointed once (one job) and read by both
    banding sides and both verify sides; the two verify joins read the
    same ``(doc_id, sh)`` frame, so AQE reuses one broadcast for both.
    The pairs come back lazy: their consumer runs the banding and the
    verify inside its own first job (``duplicate_clusters`` reads its
    pairs exactly once).
    """
    bands = num_hashes // rows_per_band
    mh = with_minhash(docs, text_col, id_col, n, num_hashes).localCheckpoint(eager=True)
    band_col = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    b.cast("long"),
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                ).alias("bucket"),
            ),
        )
    )
    buckets = mh.select("doc_id", band_col.alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .distinct()
    )
    sets = mh.select("doc_id", "sh")
    verified = (
        cand.join(sets.alias("a"), F.col("a_id") == F.col("a.doc_id"))
        .join(sets.alias("b"), F.col("b_id") == F.col("b.doc_id"))
        .select("a_id", "b_id", F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.size("sh_a") + F.size("sh_b") - F.col("common")), 4),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("a_id", "b_id", "jaccard")
    )
    return verified


# --------------------------------------------------------------------------
# duplicate clusters (connected components over near-dup pairs)

def duplicate_clusters(
    pairs: DataFrame, max_iters: int = 50, algorithm: str = "auto"
) -> DataFrame:
    """Near-dup PAIRS → CLUSTERS: (doc_id, cluster_id) where cluster_id =
    the minimum doc_id in the pair-graph's connected component. This is
    the step a real dedup pipeline ends with — pairs say "these two are
    dups", clusters say "keep ONE of these k" (canonical = min id, the
    same survivor rule as ``exact_duplicates``).

    Iterative min-label propagation (the large-star/small-star family
    without the orientation tricks): every node starts labeled with
    itself; each round every node takes the min label in its closed
    neighborhood; converged when no label changes. O(diameter) rounds —
    near-dup components are tiny cliques/chains, so 2-4 rounds in
    practice. A node carries its adjacency list with its label, so a
    round is one aggregate over the messages (the node's own row, its
    label to each neighbor) and never joins; the pairs are read once, by
    the first round. ``localCheckpoint`` per round truncates the lineage
    so the plan does not grow with iterations (the classic
    iterative-Spark footgun), and the round's changed-label count is an
    observed metric of that checkpoint's job, so the convergence check
    starts no job of its own.

    ``algorithm="twostar"`` delegates to
    ``graph.connected_components_twostar`` — same (doc_id, cluster_id =
    component min) contract, agreement pinned in tests/test_graph_cc.py.
    Choose it when the pair graph might hold LONG chains (redirect/
    mirror families) or mega-degree hubs (boilerplate clusters): label
    propagation pays O(diameter) rounds and one full-edge shuffle per
    round; two-star pays O(log²) rounds with min-combiner-absorbed skew.
    For ordinary near-dup output (tiny cliques), label propagation's
    2-4 cheap rounds win.

    ``algorithm="auto"`` (the default) runs label propagation and, if a
    component's diameter exceeds ``max_iters`` (labels still moving at
    the round cap), RE-RUNS via two-star instead of returning the
    silently split clustering — the measured failure mode (a 3k-node
    chain at 60 capped rounds returned 2,940 clusters instead of 1,
    BENCH.md round-5 A/B) is now unreachable from the default path.
    ``algorithm="label"`` keeps the warn-and-return behavior for
    callers that bound diameter themselves (and for the A/B harness).
    """
    if algorithm == "twostar":
        from .graph import connected_components_twostar

        edges = pairs.select(
            F.col("a_id").alias("u"), F.col("b_id").alias("v")
        )
        out = connected_components_twostar(edges, max_rounds=max_iters)
        return out.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )
    if algorithm not in ("label", "auto"):
        raise ValueError(
            f"algorithm must be auto|label|twostar, got {algorithm!r}"
        )
    # both directions of every pair from ONE read of it: the pairs are
    # read once, by the first round, however lazy they are (a lazy
    # all-pairs input re-read per round cost 146 s instead of ~4 s for
    # x27 at sf0.1 when rounds joined against it)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
                F.struct(F.col("b_id").alias("u"), F.col("a_id").alias("v")),
            )
        ).alias("e")
    ).select("e.*")
    # state: (node, nbrs, label, own) — a node's adjacency list rides
    # with its label, so a round is ONE aggregate and never joins. Every
    # node starts labeled with itself, so the first round reads the
    # edges alone: label = least(node, min(nbrs)); ``own`` is the label
    # the node had before the round.
    state = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.collect_list("v").alias("nbrs"), F.min("v").alias("nmin"))
        .select("node", "nbrs", F.least("node", "nmin").alias("label"), F.col("node").alias("own"))
    )
    id_type = state.schema["node"].dataType

    def next_round(state: DataFrame) -> DataFrame:
        # every node sends its label to itself (with its adjacency list)
        # and to each neighbor; a node's new label is the min it receives
        msg = F.explode(
            F.concat(
                F.array(F.struct(F.col("node").alias("to"), "label", "nbrs")),
                F.transform(
                    "nbrs",
                    lambda nb: F.struct(
                        nb.alias("to"),
                        F.col("label").alias("label"),
                        F.lit(None).cast(T.ArrayType(id_type)).alias("nbrs"),
                    ),
                ),
            )
        )
        return (
            state.select(msg.alias("m"))
            .select("m.*")
            .groupBy(F.col("to").alias("node"))
            .agg(
                # only the node's own message carries its list
                F.flatten(F.collect_list("nbrs")).alias("nbrs"),
                F.min("label").alias("label"),
                F.min(F.when(F.col("nbrs").isNotNull(), F.col("label"))).alias("own"),
            )
        )

    changed = -1
    for r in range(max_iters):
        if r:
            state = next_round(state)
        # the changed-label count rides on the round's checkpoint job
        obs = Observation()
        state = (
            state.observe(obs, F.count_if(F.col("label") < F.col("own")).alias("n"))
            .drop("own")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["n"]
        if changed == 0:
            break
    if changed != 0:
        import warnings

        if algorithm == "auto":
            # a component's diameter exceeds max_iters: the label answer
            # would be SILENTLY split into several clusters. Fall back
            # to the chain-safe O(log²)-round backend and return the
            # exact components (no code path may return
            # coarser-than-true labels without raising).
            warnings.warn(
                f"duplicate_clusters: label propagation did not converge "
                f"within max_iters={max_iters} (a component's diameter "
                "is longer); re-running via the two-star backend for "
                "exact components.",
                RuntimeWarning,
                stacklevel=2,
            )
            # two-star rounds are O(log² n), not one-hop — its own
            # default cap applies, not the label-sized max_iters
            return duplicate_clusters(pairs, algorithm="twostar")
        # min-label moves one hop per round, so a component whose
        # diameter exceeds max_iters would exit here SILENTLY split into
        # several clusters — surface it instead of returning wrong ids
        warnings.warn(
            f"duplicate_clusters did not converge within max_iters="
            f"{max_iters}: some connected component has a longer "
            "diameter and its labels are still moving — its docs are "
            "split across multiple cluster_ids. Raise max_iters.",
            RuntimeWarning,
            stacklevel=2,
        )
    return state.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


# --------------------------------------------------------------------------
# md5-derived 64-bit hashes

def md5_hash64(value: Column) -> Column:
    """64-bit token hash from the first 16 hex chars of md5 — chosen so a
    DuckDB oracle can reproduce it exactly (DuckDB lacks xxhash64 but has
    md5): hi/lo 32-bit halves parsed from hex, packed into one signed
    long (Java shiftleft wraps bit 63 into the sign, deterministically)."""
    hx = F.md5(value)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


# --------------------------------------------------------------------------
# cluster survivors and containment pairs

def cluster_representatives(
    clusters: DataFrame,
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dup clusters → the keep/drop decision: one row per cluster with
    the representative document (most whitespace tokens, ties to the
    smallest id — "keep the longest copy", the CCNet/RefinedWeb
    survivor rule), the member count, and ``dup_tokens`` — the tokens
    the drop decision removes from the corpus (the dedup savings line
    every corpus report quotes).

    The selection is a single ``max_by`` aggregate over the composite
    order key ``n_tokens * 2^32 - doc_id`` (strictly monotone in
    (n_tokens asc, doc_id desc), unique because ids are) — map-side
    partial aggregation, one shuffle on cluster_id, no window sort."""
    from .text import token_count

    toks = docs.select(
        F.col(key_col).alias("doc_id"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    j = clusters.join(toks, "doc_id")
    ordk = F.col("n_tokens") * F.lit(4294967296) - F.col("doc_id")
    return j.groupBy("cluster_id").agg(
        F.max_by(F.col("doc_id"), ordk).alias("rep_doc_id"),
        F.count("*").cast("long").alias("n_members"),
        (F.sum("n_tokens") - F.max("n_tokens")).cast("long").alias("dup_tokens"),
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 80,
    df_cap: int | None = 100_000,
) -> DataFrame:
    """All pairs (a<b) where one document's shingle set is ≥
    ``threshold_pct``% CONTAINED in the other's — the asymmetric
    complement to the Jaccard tier (``minhash_lsh_pairs``): Jaccard
    punishes size mismatch (a 50-token quote inside a 5000-token article
    scores ~0.01), so syndicated-inclusion / quoted-boilerplate / expanded-
    rewrite relations are invisible to it. Broder's containment
    ``C(A,B) = |S(A)∩S(B)| / |S(A)|`` is the standard fix; the pair
    qualifies when ``max(C(A,B), C(B,A)) = common/min(|A|,|B|)``
    crosses the threshold — evaluated as INTEGER cross-multiplication
    (``100·common ≥ pct·min``), so no float decides membership.

    Output: ``(a_id, b_id, common, n_a, n_b, c_ab, c_ba)`` with the
    directional scores rounded to 4dp for reporting (membership never
    reads them).

    An inverted index over hashed shingles with a stop-shingle ``df_cap``
    guard (one shingle in k docs is k²/2 join rows — the cap is the skew
    ceiling); shingle sets materialize once, the self-join is
    on 8-byte hashes, and the per-pair count partial-aggregates."""
    sh = with_hashed_shingles(docs, text_col, id_col, n).localCheckpoint(eager=True)
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    if df_cap is not None:
        freq = inv.groupBy("shingle").agg(F.count("*").alias("df"))
        inv = inv.join(freq.filter(F.col("df") <= df_cap), "shingle", "left_semi")
    pairs = (
        inv.alias("x")
        .join(inv.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .agg(F.count("*").cast("long").alias("common"))
    )
    na = sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_sh", "n_a")
    nb = sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_sh", "n_b")
    return (
        pairs.join(na, "a_id")
        .join(nb, "b_id")
        .filter(
            F.lit(100) * F.col("common")
            >= F.lit(threshold_pct) * F.least("n_a", "n_b")
        )
        .select(
            "a_id",
            "b_id",
            "common",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("common") / F.col("n_a"), 4).alias("c_ab"),
            F.round(F.col("common") / F.col("n_b"), 4).alias("c_ba"),
        )
    )
