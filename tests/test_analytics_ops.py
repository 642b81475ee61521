"""Analytics-layer operators that need behavior beyond the DuckDB oracle:
a5b outage detection on injected gaps, v4 payload-filtered vector search
vs a numpy oracle; and source-level guards that every program function
is reachable from the program's entry points and that no file imports a
name it never uses."""

import ast
import copy
from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

from news_crawler_spark import analytics
from news_crawler_spark.operators import similarity
from test_oracles import QUERY_NAMES, twin_name

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


# Where a run of the program starts. "<glob>" runs each file's top-level
# code (scripts and the benchmark run as programs); "<file>:<name>" also
# uses that name (a function, class, constant or method); "<file>:*" uses
# every top-level name of the file.
REPO = Path(__file__).resolve().parent.parent
PROGRAM_DIRS = ("news_crawler_spark", "scripts")
PACKAGE_ALL = next(
    ast.literal_eval(n.value)
    for n in ast.parse((REPO / "news_crawler_spark/__init__.py").read_text()).body
    if isinstance(n, ast.Assign) and getattr(n.targets[0], "id", None) == "__all__"
)
ROOTS = (
    "scripts/*.py",
    "perfbench/*.py",
    *(f"news_crawler_spark/__init__.py:{name}" for name in PACKAGE_ALL),
    # the analytics queries, each checked against its DuckDB twin
    *(f"news_crawler_spark/analytics.py:{name}" for name in QUERY_NAMES),
    *(f"news_crawler_spark/analytics.py:{twin_name(name)}" for name in QUERY_NAMES),
    # the Python reference the crawl tests compare the engine against, and
    # the engine's crawl-order view they compare it with
    "news_crawler_spark/oracle.py:*",
    "news_crawler_spark/engine.py:pops_in_order",
    # the test seam for a non-POSIX filesystem
    "news_crawler_spark/functions/fsio.py:register_filesystem",
)

# Program code no entry point reaches that tier-1 still tests. It goes in
# batches, each with the tests that check only it (ROADMAP item 8). The
# guard matches this table exactly, so the table only shrinks: new
# unreached code fails, and so does an entry that was deleted or gained
# a caller. "(module)" marks a module no reached code imports. The
# table grew once, by the six private helpers of joins and sketch, when
# the guard stopped exempting private names: a deletion batch had left
# a private helper behind unseen.
AWAITING_DELETION = {
    "news_crawler_spark/operators/dedup.py": (
        "shingles_from_tokens", "exact_duplicates", "cluster_representatives",
        "containment_pairs",
    ),
    "news_crawler_spark/operators/joins.py": (
        "(module)", "asof_join", "asof_join_bucketed", "range_join_bucketed",
        "_emit", "_epoch", "_keys", "_probe_side", "_quote_side",
    ),
    "news_crawler_spark/operators/sampling.py": ("hash_split", "stratified_sample"),
    "news_crawler_spark/operators/sessions.py": ("(module)", "sessionize"),
    "news_crawler_spark/operators/sketch.py": (
        "(module)", "md5_hash60", "kmv_bottom_k", "kmv_merge", "with_kmv_estimate",
        "countmin_table", "countmin_merge", "countmin_estimate",
        "qsketch_bottom_k", "qsketch_merge", "qsketch_quantiles",
        "hll_registers", "hll_merge", "hll_estimate", "_cm_cell",
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _uses(node, package: str) -> tuple[set[str], set[str]]:
    """Identifiers a syntax tree uses (bare names, attribute names
    such as ``similarity.topk_cosine``, imported names) and the modules
    it imports, with their parent packages."""
    names, modules = set(), set()

    def imported(module: str) -> None:
        parts = module.split(".")
        modules.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))

    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.Import):
            for a in n.names:
                imported(a.name)
                names.add(a.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                up = package.split(".")[: len(package.split(".")) - n.level + 1]
                base = ".".join(up + ([n.module] if n.module else []))
            imported(base)
            for a in n.names:
                modules.add(f"{base}.{a.name}")
                names.add(a.name)
    return names, modules


def _defined_name(node) -> str:
    """The name a top-level function, class or single-name assignment
    defines, walked once it is reached; "" for dunders and every other
    statement, which run when the module loads."""
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        name = node.name
    elif isinstance(node, ast.Assign) and len(node.targets) == 1:
        name = getattr(node.targets[0], "id", "")
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        name = getattr(node.target, "id", "")
    else:
        return ""
    return "" if name.startswith("__") else name


def test_every_program_function_is_reachable():
    """Every top-level function, class and constant of every module
    under news_crawler_spark/ and scripts/, and every method of a
    reached class, private names included and dunders excepted, is
    reached from ``ROOTS``. A module counts only when reached code
    imports it, so its top-level statements (and hooks such as a package
    ``__getattr__``) run; a name is reached when reached code uses it
    and its module counts, a method when reached code uses its name and
    its class is reached. A reached class runs its body and its dunder
    methods; a constant's value and a method's body are walked only once
    they are reached. A function only tests call, or only other
    unreached code calls, fails here, and so does a module no reached
    code imports, unless ``AWAITING_DELETION`` names it. Parses source
    only; no Spark."""
    files = {
        _module_name(p): p
        for d in (*PROGRAM_DIRS, "perfbench")
        for p in sorted((REPO / d).rglob("*.py"))
    }
    # defs: (module, "name") and (module, "Class.method") → the node
    # walked once it is reached; a class's node is its body less methods
    defs, body, package, assigned = {}, {}, {}, set()
    for mod, path in files.items():
        package[mod] = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
        body[mod] = []
        for n in ast.parse(path.read_text()).body:
            name = _defined_name(n)
            if not name:
                body[mod].append(n)
                continue
            if not isinstance(n, (ast.FunctionDef, ast.ClassDef)):
                assigned.add((mod, name))
            elif isinstance(n, ast.ClassDef):
                methods = [
                    m for m in n.body
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("__")
                ]
                for m in methods:
                    defs[(mod, f"{name}.{m.name}")] = m
                n = copy.copy(n)
                n.body = [b for b in n.body if b not in methods]
            defs[(mod, name)] = n

    loaded, reached, used = set(), set(), set()

    def visit(node, mod):
        names, modules = _uses(node, package[mod])
        used.update(names)
        for m in modules:
            load(m)

    def load(mod):
        if mod in files and mod not in loaded:
            loaded.add(mod)
            for n in body[mod]:
                visit(n, mod)

    for root in ROOTS:
        pattern, _, name = root.partition(":")
        paths = sorted(REPO.glob(pattern))
        assert paths, root
        for path in paths:
            mod = _module_name(path)
            load(mod)
            if name == "*":
                used.update(n for m, n in defs if m == mod and "." not in n)
            elif name:
                used.add(name)
    grown = True
    while grown:
        grown = False
        for (mod, name), node in defs.items():
            owner, _, attr = name.rpartition(".")
            live = (mod, owner) in reached if owner else mod in loaded
            if (mod, name) not in reached and live and attr in used:
                reached.add((mod, name))
                visit(node, mod)
                grown = True

    orphans = set()
    for mod, path in files.items():
        rel = path.relative_to(REPO).as_posix()
        if rel.split("/")[0] not in PROGRAM_DIRS:
            continue
        if mod not in loaded:
            orphans.add(f"{rel}:(module)")
        for m, name in defs:
            owner = name.rpartition(".")[0]
            # a method counts once its class is reached, a constant once
            # its module is imported ("(module)" covers the rest)
            scope = (m, owner) in reached if owner else (m, name) not in assigned or m in loaded
            if m == mod and (m, name) not in reached and scope:
                orphans.add(f"{rel}:{name}")
    awaiting = {f"{rel}:{name}" for rel, names in AWAITING_DELETION.items() for name in names}
    new = sorted(orphans - awaiting)
    assert not new, "unreachable from ROOTS:\n" + "\n".join(new)
    gone = sorted(awaiting - orphans)
    assert not gone, "reached or deleted, so off AWAITING_DELETION:\n" + "\n".join(gone)


def _unused_imports(path: Path) -> list[str]:
    """``<file>:<line> <name>`` for each name the file imports and never
    uses: not as a bare name, not as the base of an attribute, not in
    ``__all__``. An import on a line marked ``# noqa: F401`` is kept on
    purpose (a preload run for its side effect)."""
    text = path.read_text()
    lines = text.splitlines()
    tree = ast.parse(text)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for n in tree.body:
        if isinstance(n, ast.Assign) and getattr(n.targets[0], "id", "") == "__all__":
            used.update(ast.literal_eval(n.value))
    rel = path.relative_to(REPO).as_posix()
    return [
        f"{rel}:{n.lineno} {bound}"
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        and getattr(n, "module", None) != "__future__"
        and "# noqa: F401" not in lines[n.lineno - 1]
        for a in n.names
        if (bound := a.asname or a.name.split(".")[0]) not in used
    ]


def test_no_unused_imports():
    """No program or test file imports a name it never uses. Parses
    source only; no Spark."""
    unused = [
        hit
        for d in (*PROGRAM_DIRS, "tests")
        for path in sorted((REPO / d).rglob("*.py"))
        for hit in _unused_imports(path)
    ]
    assert not unused, "imported and never used:\n" + "\n".join(unused)
