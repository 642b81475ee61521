"""operators/sessions.py — gap-based sessionization vs a pure-Python
oracle, including threshold-boundary gaps and equal-timestamp ties."""

import datetime as dt
import hashlib

from news_crawler_spark.operators import sessions

EPOCH = dt.datetime(2024, 1, 1)


def _h(s: str, mod: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod


def _mk(spark, n=400, gap=60):
    """Deterministic stream: 3 users, md5-spread gaps that straddle the
    threshold (gap-1, gap, gap+1 all occur), plus planted equal-ts pairs."""
    rows, t = [], {u: 0 for u in ("u1", "u2", "u3")}
    for i in range(n):
        u = ("u1", "u2", "u3")[_h(f"u{i}", 3)]
        t[u] += _h(f"d{i}", 2 * gap + 3)  # 0..2*gap+2 → 0 plants equal ts
        rows.append((u, EPOCH + dt.timedelta(seconds=t[u]), i))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long")
    return df, rows


def _py_sessions(rows, gap):
    by_u = {}
    for u, ts, eid in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        lst = by_u.setdefault(u, [])
        tl = int(ts.timestamp())
        if not lst or tl - lst[-1][1] > gap:
            lst.append([1, tl, {eid}])  # n, last_tl, ids
        else:
            lst[-1][0] += 1
            lst[-1][1] = tl
            lst[-1][2].add(eid)
    return {
        (u, i + 1): (s[0], frozenset(s[2]))
        for u, ss in by_u.items()
        for i, s in enumerate(ss)
    }


def test_sessionize_matches_python_oracle(spark):
    gap = 60
    df, rows = _mk(spark, gap=gap)
    out = sessions.sessionize(
        df, key="user_id", ts_col="ts", gap_seconds=gap, tiebreak="event_id"
    )
    got = {}
    for r in out.collect():
        k = (r.user_id, r.session_no)
        n, ids = got.get(k, (0, frozenset()))
        got[k] = (n + 1, ids | {r.event_id})
    assert got == _py_sessions(rows, gap)


def test_boundary_gap_stays_in_session(spark):
    """A gap EXACTLY equal to gap_seconds does not split (split is >)."""
    df = spark.createDataFrame(
        [
            ("u", EPOCH, 1),
            ("u", EPOCH + dt.timedelta(seconds=60), 2),
            ("u", EPOCH + dt.timedelta(seconds=121), 3),
        ],
        "user_id string, ts timestamp, event_id long",
    )
    out = sessions.sessionize(df, gap_seconds=60, tiebreak="event_id")
    got = {r.event_id: r.session_no for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2}


def test_single_sort_plan(spark):
    """Both window passes (lag + running sum) must share ONE shuffle and
    ONE sort on (key, ts, tiebreak) — Catalyst fuses same-spec windows."""
    df, _ = _mk(spark, n=50)
    out = sessions.sessionize(df, gap_seconds=60, tiebreak="event_id")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "CartesianProduct" not in p
