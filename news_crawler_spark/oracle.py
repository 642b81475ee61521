"""Pure-Python reference-semantics oracle for the crawl fixtures.

Simulates, in plain dicts/lists, exactly what the reference system does
end-to-end, so pytest can assert the Spark engine matches:

- URL-seen set: first-discovered-wins on canonical URL
  (ON CONFLICT (link) DO NOTHING — database_manager.py:272-273);
- crawl ordering: per round, per host, pending ∧ tried<3 ordered by
  (priority, published_ts, url_hash) taking min(budget) rows
  (database_manager.py:135-166 generalized per-host; bulk_size config.py:28);
- politeness token buckets: tokens = min(cap, tokens + refill) per round,
  consumed by pops (semaphore/bulk-size analog, config.py:27-32);
- robots longest-prefix allow/deny (news_sources/__init__.py:27-29);
- retry state machine: failure → tried_count+1, FAILED at max
  (database_manager.py:92-133);
- span extraction: an INDEPENDENT line-based parser of the synthetic
  markup (the engine uses a regex scanner) for span-sequence equality.

No Spark, no pandas — this is the trusted side of every fixture.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urlsplit

from .functions.urls import canonicalize_one
from .functions.xxh64 import xxh64_str
from . import synth
from .schemas import MAX_RETRIES, STATUS_COMPLETED, STATUS_FAILED, STATUS_PENDING


# ---------------------------------------------------------------------------
# independent span extractor (line-based, vs the engine's regex scanner)

# per-dialect line prefixes/suffixes (F12) — independent of the engine's
# SELECTOR_CONFIGS regexes: this parser slices fixed affixes per line.
_DIALECT_AFFIXES = {
    "classic": {"text": ("<p>", "</p>"), "image": ('<img src="', '">')},
    "divs": {
        "text": ('<div class="item-text">', "</div>"),
        "image": ('<figure data-src="', '"></figure>'),
    },
    "spans": {
        "text": ('<span class="body-text">', "</span>"),
        "image": ('<img data-original="', '">'),
    },
}


def extract_spans_oracle(payload: str, source: str = "isna") -> list[tuple]:
    """payload → [(kind, text, media_ref, offset)] parsed line-by-line
    with the source dialect's affixes (engine uses regexes — F12)."""
    aff = _DIALECT_AFFIXES[synth.SOURCE_DIALECT.get(source, "classic")]
    spans = []
    off = 0
    for line in payload.split("\n"):
        line = line.strip()
        tp, ts = aff["text"]
        ip, isuf = aff["image"]
        if line.startswith(tp) and line.endswith(ts):
            spans.append(("text", line[len(tp):-len(ts)], None, off))
            off += 1
        elif line.startswith(ip) and line.endswith(isuf):
            spans.append(("image", None, line[len(ip):-len(isuf)], off))
            off += 1
    return spans


# ---------------------------------------------------------------------------
# frontier simulation

@dataclass
class OracleEntry:
    url: str
    canonical_url: str
    url_hash: int
    host: str
    source: str
    priority: int
    published_ts: object
    discovery_time: object
    status: str = STATUS_PENDING
    tried_count: int = 0


@dataclass
class OracleResult:
    seen: dict            # canonical_url -> OracleEntry (first wins)
    pops: list            # [(round, host, canonical_url)] in pop order
    docs: list            # [(doc_id, canonical_url, spans)]
    lineage: list = field(default_factory=list)  # [(round, host, popped, ok, fail, failed)]


def _robots_allows(rules: list[dict], host: str, canonical_url: str) -> bool:
    path = urlsplit(canonical_url).path or "/"
    best_len, best_kind = -1, "allow"
    for r in rules:
        if r["host"] != host or not path.startswith(r["path_prefix"]):
            continue
        plen = len(r["path_prefix"])
        # longest prefix wins; tie → 'allow' beats 'deny' (pinned, matches engine)
        if plen > best_len or (plen == best_len and r["rule_kind"] < best_kind):
            best_len, best_kind = plen, r["rule_kind"]
    return best_kind == "allow"


def ingest(seed_rows: list[dict]) -> dict:
    """Canonicalize + first-wins dedup. Returns canonical_url -> OracleEntry.

    seed_rows must be in discovery order (they are: discovery_time = epoch+i).
    """
    seen: dict[str, OracleEntry] = {}
    for r in seed_rows:
        cu = canonicalize_one(r["url"])
        if cu is None or cu in seen:
            continue
        h = xxh64_str(cu)
        seen[cu] = OracleEntry(
            url=r["url"],
            canonical_url=cu,
            url_hash=h,
            host=urlsplit(cu).hostname,
            source=r["source"],
            # Python's floored % equals Spark's pmod on the signed hash
            priority=int(h % 3),
            published_ts=r["published_ts"],
            discovery_time=r["discovery_time"],
        )
    return seen


def crawl(
    seed_rows: list[dict],
    robots: list[dict] | None = None,
    politeness: list[dict] | None = None,
    max_rounds: int = 1000,
    default_refill: int = 20,
) -> OracleResult:
    """Run the full crawl simulation to quiescence (or max_rounds)."""
    robots = robots if robots is not None else synth.robots_rows()
    politeness = politeness if politeness is not None else synth.politeness_rows()
    pol = {p["host"]: p for p in politeness}

    seen = ingest(seed_rows)
    entries = list(seen.values())
    # robots filtering happens at pop time in the engine; equivalent to
    # filtering the eligible set once (rules are static within a run)
    allowed = [e for e in entries if _robots_allows(robots, e.host, e.canonical_url)]

    tokens: dict[str, int] = {}
    pops, docs, lineage = [], [], []
    rnd = 1  # engine round 0 is the ingest snapshot; pops start at round 1
    while rnd <= max_rounds:
        pending = [
            e for e in allowed
            if e.status == STATUS_PENDING and e.tried_count < MAX_RETRIES
        ]
        if not pending:
            break
        by_host: dict[str, list[OracleEntry]] = {}
        for e in pending:
            by_host.setdefault(e.host, []).append(e)
        popped_this_round = []
        for host in sorted(by_host):
            cfg = pol.get(host, {})
            refill = cfg.get("max_per_round", default_refill)
            cap = cfg.get("bucket_capacity", 2 * default_refill)
            tokens[host] = min(cap, tokens.get(host, 0) + refill)
            budget = tokens[host]
            if budget <= 0:
                continue
            by_host[host].sort(
                key=lambda e: (e.priority, e.published_ts, e.url_hash)
            )
            take = by_host[host][:budget]
            tokens[host] -= len(take)
            popped_this_round.extend(take)
            n_ok = n_fail = n_failed = 0
            for e in take:
                pops.append((rnd, host, e.canonical_url))
                if synth.page_ok(e.canonical_url):
                    e.status = STATUS_COMPLETED
                    doc_id = format(e.url_hash & 0xFFFFFFFFFFFFFFFF, "016x")
                    docs.append(
                        (doc_id, e.canonical_url,
                         extract_spans_oracle(
                             synth.page_payload(e.canonical_url), e.source
                         ))
                    )
                    n_ok += 1
                else:
                    e.tried_count += 1
                    n_fail += 1
                    if e.tried_count >= MAX_RETRIES:
                        e.status = STATUS_FAILED
                        n_failed += 1
            lineage.append((rnd, host, len(take), n_ok, n_fail, n_failed))
        if not popped_this_round:
            break
        rnd += 1
    return OracleResult(seen=seen, pops=pops, docs=docs, lineage=lineage)
