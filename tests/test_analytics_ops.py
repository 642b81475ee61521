"""Analytics-layer operators that need behavior beyond the DuckDB oracle:
a5b outage detection on injected gaps, v4 payload-filtered vector search
vs a numpy oracle; and a source-level guard that the operator modules
carry no function without a program caller."""

import ast
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from news_crawler_spark import analytics
from news_crawler_spark.operators import similarity

SF = "/root/testdata/sf0.001"


def test_a5b_flags_injected_outage(spark, tmp_path):
    """The reference's outage rule (day < 10% of median daily count,
    process_historical_news.ipynb cell 10): inject one dead day and one
    near-dead day into an otherwise steady stream; both must be flagged,
    healthy days must not."""
    rows = []
    eid = 0
    for d in range(1, 11):  # 2024-03-01 .. 2024-03-10
        if d == 5:
            n = 0      # full outage: the densify path must surface it
        elif d == 7:
            n = 1      # partial outage: 1 < 0.1 * median(20)
        else:
            n = 20
        for i in range(n):
            rows.append((eid, datetime(2024, 3, d, 8, 0, i % 60), 1, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/events.parquet")
    got = {(r.day.isoformat(), r.n) for r in analytics.a5b_outage_days(spark, sf_dir).collect()}
    assert got == {("2024-03-05", 0), ("2024-03-07", 1)}


def test_a5b_empty_on_healthy_data(spark):
    assert analytics.a5b_outage_days(spark, SF).count() == 0


def test_v4_payload_filter_matches_numpy(spark):
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    payload = docs.select(F.col("doc_id").alias("vec_id"), "source", "n_chars")
    pred = F.col("n_chars") >= 150
    got = similarity.payload_filtered_topk(
        emb, payload, pred, query_vec_id=7, k=5
    ).collect()

    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}
    keep = {r.doc_id for r in docs.collect() if r.n_chars >= 150}
    q = vecs[7]
    scored = sorted(
        (
            (-round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 4), vid)
            for vid, v in vecs.items()
            if vid != 7 and vid in keep
        ),
    )[:5]
    want = [(vid, -s) for s, vid in scored]
    assert [(r.vec_id, r.score) for r in got] == want
    # the unfiltered top-k differs => the filter is semantically load-bearing
    unfiltered = similarity.topk_cosine(emb, 7, k=5).collect()
    assert {r.vec_id for r in unfiltered} != {r.vec_id for r in got} or len(keep) == len(vecs)


def test_salts_for_budget_bounds():
    from news_crawler_spark.operators.frontier import salts_for_budget

    assert salts_for_budget(20) == 64          # politeness-scale budgets keep max
    assert salts_for_budget(128) == 64
    assert salts_for_budget(1000) == 8         # j11-scale caps shrink
    assert salts_for_budget(100_000) == 1      # degenerate: plain per-host window
    assert salts_for_budget(0) == 64


def test_pop_round_salt_invariant(spark):
    """pop_round returns the identical set for any salt count (each salt
    group keeps its own top-budget, so the true per-host top-k always
    survives phase 1)."""
    from news_crawler_spark.operators import frontier as fops
    from pyspark.sql import functions as F

    rows = [
        {
            "url_hash": i * 2654435761 % (1 << 31),
            "host": f"h{i % 3}",
            "priority": i % 4,
            "status": "pending",
            "tried_count": 0,
        }
        for i in range(400)
    ]
    frontier = spark.createDataFrame(rows).withColumn(
        "published_ts", F.lit(None).cast("timestamp")
    )
    budgets = spark.createDataFrame(
        [{"host": f"h{i}", "budget": 37} for i in range(3)]
    )
    outs = [
        sorted(
            (r.host, r.url_hash)
            for r in fops.pop_round(frontier, budgets, salts=s).collect()
        )
        for s in (1, 8, 64)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == 3 * 37


def test_query_and_oracle_registries_stay_aligned():
    """The public ``(spark, sf)`` query functions in analytics are
    exactly the ones tests/test_oracles.py checks, and each has its
    ``<PREFIX>_SQL`` twin: a query added without a twin, or left out of
    the oracle test, fails here."""
    import inspect

    from news_crawler_spark import analytics
    from test_oracles import QUERY_NAMES, twin_name

    defined = {
        name
        for name, fn in vars(analytics).items()
        if inspect.isfunction(fn)
        and fn.__module__ == analytics.__name__
        and not name.startswith("_")
        and list(inspect.signature(fn).parameters) == ["spark", "sf"]
    }
    assert defined == set(QUERY_NAMES)
    assert len(QUERY_NAMES) == len(set(QUERY_NAMES))
    for name in QUERY_NAMES:
        assert isinstance(getattr(analytics, twin_name(name), None), str), name


# program code (tests excluded) that counts as a caller, and the operator
# modules whose public functions must each be reached from it
PROGRAM_DIRS = ("news_crawler_spark", "scripts", "perfbench")
CALLER_GUARDED_MODULES = (
    "news_crawler_spark/operators/similarity.py",
    "news_crawler_spark/operators/embed.py",
)


def _referenced_names(node) -> set[str]:
    """Identifiers a syntax tree uses: bare names, attribute names
    (``similarity.topk_cosine``) and imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_similarity_functions_all_have_a_program_caller():
    """Every public top-level function of a guarded module is reached
    from program code: it is referenced by another program file, by the
    module's top-level statements, or by a function of the module that is
    itself reached. A function only tests call — or only other unreached
    functions call — fails here, so a deleted test-only tier cannot creep
    back. Parses source only; no Spark."""
    root = Path(__file__).resolve().parent.parent
    refs = {
        f: _referenced_names(ast.parse(f.read_text()))
        for d in PROGRAM_DIRS
        for f in (root / d).rglob("*.py")
    }
    for rel in CALLER_GUARDED_MODULES:
        path = root / rel
        tree = ast.parse(path.read_text())
        funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        reached = set().union(*(r for f, r in refs.items() if f != path))
        for n in tree.body:
            if not isinstance(n, ast.FunctionDef):
                reached |= _referenced_names(n)
        todo = [name for name in funcs if name in reached]
        while todo:
            new = (_referenced_names(funcs[todo.pop()]) & funcs.keys()) - reached
            reached |= new
            todo.extend(new)
        orphans = sorted(
            name for name in funcs if not name.startswith("_") and name not in reached
        )
        assert not orphans, f"{rel}: no program caller for {orphans}"
