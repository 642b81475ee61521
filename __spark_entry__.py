"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (A4 daily pivot — scan, agg,
pivot, range-densify in one plan) at sf0.001. ``queries()`` exposes every
SQL-expressible operator from SURVEY.md §2 plus the training-data-pipeline
operators (dedup / similarity / text analysis); ``oracle_sql()`` gives the
DuckDB equivalent for EVERY query (39/39 — d4/d6 SimHash use md5-derived
token hashes precisely so DuckDB can recompute the sketch; round 4 adds
d6 128-bit SimHash, v7 timestamp-range filtered search, j10 — the
frontier status machine replayed through the real pop+MERGE operators
against an unrolled window-rank SQL twin — and m1/m2: the interleaved
text+media span extractor and the media plumbing under the hard gate,
where the oracle recomputes the expected span sequence / media sizes
independently of the markup, so a value-hash match IS the north rule's
span-sequence-equality invariant — and s1: the applyInPandasWithState
streaming cursor driven through a real two-micro-batch availableNow
run, its emitted rows matched against a window-rank SQL twin. Round 5
adds v8 — the sign-LSH embedding near-dup scale path, made
integer-exact (quantized components × md5-derived integer hyperplanes)
so DuckDB recomputes buckets, candidates and verified pairs bit-for-bit
— s4: the watermarked windowed rate monitor driven through three real
availableNow runs and matched against a batch-sequential watermark
twin, f2: the composed Persian-datetime parse (digits → ZWNJ →
regex → month map → Jalali calendar → Tehran→UTC) in one value-hash,
and v9: the IVF table written partitioned by cell and probed through
dynamic partition pruning — the 1/n_cells scan-cost layout
plan-asserted and value-matched against v2's oracle — plus x11: PII
detection/scrubbing with deterministically woven PII so both engines
see the same matches, and x12: CCNet-style paragraph-level boilerplate
dedup with a chunk-aligned woven header, even docs required to rebuild
byte-identical to their unwoven selves, v10: exact-integer Lloyd's
k-means whose three iterations the DuckDB twin replays bit-for-bit,
x13: BM25 ranked retrieval with idf quantized so both engines'
contributions are bit-identical, and x14: the corpus build end-to-end
— quality → dedup → eval split → decontaminate → shard-pack — as one
value-hashed composition. Late round 5 closes the loop on the
training-mixture and adaptive-crawl surfaces: x21 SemDeDup (v10's
k-means cells + within-cell integer-exact cosine prune), x22 DSIR
importance-weighted selection (md5 buckets, micro-nat log-ratios,
integer weight sums), x23 temperature-scaled mixing quotas (n^0.5
micro-weights through the Hamilton apportionment), j14 AIMD adaptive
politeness budgets replayed through the real pop/MERGE loop, g2
rank→budget apportionment from the g1 PageRank, t8 freshness-driven
recrawl scheduling, x24 the Gopher rule gate as cross-multiplied
integer flags, x25 unigram entropy as an exact integer numerator, p12
the production URL canonicalizer collapsing four woven variant
spellings per page, x26 the SemDeDup GEMM production tier against
x21's own oracle, x27 semantic near-dup clusters over the
integer-exact cosine pair graph (cosine_pairs_int, expression + GEMM
tiers bit-identical), x28 per-doc log-prob under a corpus-self-trained
add-one bigram LM in exact micro-nat integers, and s6 stream-static
LEFT broadcast enrichment through a real two-micro-batch run — every
one value-hash-gated against a DuckDB twin. The closing session adds
the interleaved-payload training surface: m3 multimodal sequence
packing (text spans cost tokens, media spans a fixed vision-token
budget; per-shard running offsets, bin cuts and boundary flags — the
MM1/Flamingo-style packing rule over the REAL extractor's span
stream), m4 the media-reference integrity audit (span refs FULL-OUTER
reconciled against the payload table, with deterministically woven
loss + orphan blobs so both engines expect the same audit rows), x29
near-dup cluster representative selection (d5's components closed to
the keep/drop decision: longest copy survives, dup_tokens = the
savings line), and x30 the training-shard sink round-trip — the
corpus written as shard-partitioned parquet, read BACK, and
manifest-checksummed, so a value-hash match proves the partitioned
write→read round trip lost, duplicated, and mutated nothing). The
final session adds the compressed ANN tiers: v11 product quantization
(exact-integer per-subspace Lloyd codebooks, a literal-inlined
joinless encode scan, ADC lookup-table top-k, and the exact re-rank —
the twin replays training, encoding, ADC ordering and re-rank), and
v12 IVF-PQ, the production composition (v10's coarse cells prune the
scan to n_probe cells, PQ runs on the CELL RESIDUALS, per-cell ADC
tables score, the exact re-rank finishes — one twin composes the
unrolled Lloyd chain with the PQ chain). It closes with s7 — the audit
reconciliation as a true STREAM-STREAM inner join (both topics
unbounded, each side buffered in keyed state, an event-time horizon in
the join condition bounding that state; the gate's crossed batch
splits force half the matches across micro-batch boundaries) — and the
BPE tokenizer trainer: x32 gates the pair-count statistic (one
corpus-scale shuffle, everything after vocab-sized) and x33 the full
6-iteration merge loop (greedy left-to-right merge as a Catalyst fold,
argmax pair broadcast-joined, nothing collected), whose DuckDB twin
unrolls the same iterations relationally via consecutive-run island
parity — and x34 the corpus ENCODE with the trained vocabulary
(tokenize → broadcast segmentation map → in-order per-doc reassembly,
pinned by an md5 over every document's full segmentation).

The closing session completes the web-crawl operator surface itself:
g3 redirect-chain collapse (pointer jumping — log₂(max_hops) doubling
self-joins, cycle members flagged as traps, twin a generic WITH
RECURSIVE walker), d7 mirror-host detection (capped content-key
inverted index, exact-integer containment flag), c1 robots Crawl-delay
parsing into per-host token refills (sectionized line parse, agent
beats *, try_cast under ANSI), c2 rendezvous host→shard ownership (a
pure zero-shuffle projection whose N→N+1 resize moves only the new
shard's keys), and t9 per-page adaptive recrawl via the
Cho–Garcia-Molina change-rate estimator in exact integer micro-nats.

The final additions round out the adaptive-crawl loop end to end: p16
DUST parameter-rule mining (learn per-host content-neutral query
params from (url, digest) evidence — residual-signature equi-join, no
pairwise walk; the engine mines its own crawl via dust_rules()), g10
two-star connected components (Kiveris et al. — O(log²)-round,
hub-skew-absorbing; oracle is an algorithm-independent recursive
label-spread CTE), s8 nested sitemap-INDEX tree expansion with root
attribution (visited-set BFS over bounded FILES, URLs only emitted;
recursive-CTE twin), and t11 budget-optimal refresh allocation (Cho &
Garcia-Molina freshness greedy via Lagrange-threshold binary search —
no global sort; the twin IS the textbook global-rank greedy, so the
match proves the θ-search equals the optimum). Last in: x37, the
CCNet head/middle/tail split (x28's integer bigram cost bucketed by
x31's sketch terciles — never a per-group sort), and v14, binary
1-bit quantized ANN (sign bits in two 32-bit words, Hamming scan,
exact re-rank) completing the compression ladder. Engine-level and
fixture-pinned rather than SQL-gated: the open-web snowball mode
(crawl → extract embedded links → admit unseen → fixpoint, equal to
a pure-python BFS-closure oracle on all four status sets, incl.
crash-resume) and the DUST loop (mine strip rules from own docs,
apply at next ingest).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from news_crawler_spark import analytics  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return analytics.a4_daily_pivot(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(analytics.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (same column aliases)."""
    return dict(analytics.ORACLES)
