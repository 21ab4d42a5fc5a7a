"""The graph loops' shared loop, ``graph._iterate`` (module docstring):
pagerank, label_propagation, kcore, connected_components and
near_dup_clusters return the reference rows, run no more construction jobs
than before it, free their caches and superseded checkpoints once
the result is dropped, and do not depend on the shuffle partitioning or
AQE."""

import gc
import itertools
import warnings
from collections import Counter

import pytest

from rasgoql_spark.functions.dedup import dedup_minhash, near_dup_clusters
from rasgoql_spark.functions.graph import (
    connected_components,
    kcore,
    label_propagation,
    pagerank,
)

# a 12-node chain (no cap below 11 levels converges on it, and kcore peels
# it one layer per round from both ends), a 10-leaf hub closing a triangle,
# NULL endpoints, a self-loop and duplicate/reverse edges
EDGES = (
    [(i, i + 1) for i in range(1, 12)]
    + [(100, j) for j in range(101, 111)]
    + [(101, 102), (102, 100)]
    + [(50, None), (None, 51), (7, 7), (3, 2), (1, 2)]
)


def _docs():
    """Four groups of six near copies (one token of twelve replaced) and a
    singleton."""
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()
    docs = [(99, "lone unique doc text here with nothing shared")]
    for g in range(4):
        for j in range(6):
            toks = [f"{w}{g}" for w in words]
            toks[j] = f"x{j}"
            docs.append((g * 10 + j, " ".join(toks)))
    return docs


def _min(values):
    values = [v for v in values if v is not None]
    return min(values) if values else None


def _cc_ref(cap):
    """Min-label propagation, ``cap`` levels, with Spark's NULL semantics:
    a NULL source joins nothing, a NULL node takes its senders' minimum."""
    directed = set(EDGES) | {(b, a) for a, b in EDGES}
    lab = {a: a for a, _ in directed}
    for _ in range(cap):
        msgs = {}
        for a, b in directed:
            if a is not None:
                msgs.setdefault(b, []).append(lab[a])
        lab = {v: _min([lab[v]] + msgs.get(v, [])) for v in lab}
    return sorted(lab.items(), key=repr)


def _simple():
    return {(a, b) for a, b in EDGES if a is not None and b is not None and a != b} | {
        (b, a) for a, b in EDGES if a is not None and b is not None and a != b}


def _lpa_ref(rounds):
    edges = _simple()
    lab = {a: a for a, _ in edges}
    for _ in range(rounds):
        counts = Counter((b, lab[a]) for a, b in edges)
        best = {}
        for (v, label), c in counts.items():
            best[v] = min(best.get(v, (0, label)), (-c, label))
        lab = {v: label for v, (_, label) in best.items()}
    return sorted(lab.items(), key=repr)


def _kcore_ref(k, cap):
    """(rows, stabilized) of the k-core peel capped at ``cap`` rounds."""
    edges = _simple()
    stable = not edges
    for _ in range(cap if edges else 0):
        deg = Counter(a for a, _ in edges)
        new = {(a, b) for a, b in edges if deg[a] >= k and deg[b] >= k}
        stable = len(new) in (0, len(edges))
        edges = new
        if stable:
            break
    return sorted(Counter(a for a, _ in edges).items(), key=repr), stable


def _components(pairs, ids):
    parent = {i: i for i in ids}

    def root(i):
        while parent[i] != i:
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return sorted(((i, root(i)) for i in ids), key=repr)


_GROUPS = itertools.count()


def _construct(spark, fn):
    """``(result, construction jobs)``: the jobs run while ``fn`` builds the
    result, counted by job group."""
    sc = spark.sparkContext
    group = f"graph-loops-{next(_GROUPS)}"
    sc.setJobGroup(group, "construction jobs")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _persisted(spark):
    gc.collect()
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _pagerank_py(iterations, damping=0.85, round_to=9):
    """pagerank in plain Python, with Spark's NULL semantics: a NULL node
    counts and is ranked, but no join matches it, so the mass it sends and
    receives is lost."""
    edges = set(EDGES)
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    deg = Counter(a for a, _ in edges)
    n = len(nodes)
    rank = {v: round(1.0 / n, round_to) for v in nodes}
    for _ in range(iterations):
        dm = sum(rank[v] for v in nodes if deg[v] == 0)
        inflow = Counter()
        for a, b in edges:
            if a is not None and b is not None:
                inflow[b] += rank[a] / deg[a]
        rank = {v: round((1 - damping) / n + damping * (inflow[v] + dm / n), round_to)
                for v in nodes}
    return rank


# (case, construction jobs measured before the shared loop, truncations
# the loop leaves to the ContextCleaner). The jobs were measured at
# local[4], 4 shuffle partitions, AQE on, the most of five runs (under AQE,
# label_propagation's count varies by one from run to run); the shared loop must
# not add any. The truncations left are the last one of each loop and every
# one of label_propagation, which has no round action to supersede them.
_CASES = {
    "pagerank_3": (lambda e, d: pagerank(e, "src", "dst", iterations=3), 21, 0),
    "pagerank_7": (lambda e, d: pagerank(e, "src", "dst", iterations=7), 43, 1),
    "cc_2": (lambda e, d: connected_components(e, "src", "dst", max_iterations=2), 11, 1),
    "cc_20": (lambda e, d: connected_components(e, "src", "dst"), 51, 1),
    "lpa_3": (lambda e, d: label_propagation(e, "src", "dst", iterations=3), 15, 1),
    "lpa_7": (lambda e, d: label_propagation(e, "src", "dst", iterations=7), 24, 2),
    "kcore": (lambda e, d: kcore(e, "src", "dst", k=2), 46, 1),
    "kcore_capped": (lambda e, d: kcore(e, "src", "dst", k=2, max_iterations=4), 27, 1),
    "near_dup_clusters": (
        lambda e, d: near_dup_clusters(d, "text", "doc_id", threshold=0.5), 19, 1),
}


@pytest.fixture(scope="module")
def frames(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    docs = spark.createDataFrame(_docs(), "doc_id long, text string")
    return edges, docs


@pytest.mark.parametrize("name", list(_CASES))
def test_loop_rows_jobs_and_release(spark, frames, name):
    edges, docs = frames
    fn, parent_jobs, left = _CASES[name]
    before = _persisted(spark)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out, jobs = _construct(spark, lambda: fn(edges, docs))
    assert jobs <= parent_jobs
    # a frame derived from the result outlives it: what the result's
    # release frees must not be what the derived frame reads
    derived = out.select("*")
    del out
    rows = _rows(derived)
    unstable = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    if name.startswith("pagerank"):
        # a plain-Python replay, up to the last rounded digit (its sums run
        # in another order)
        ref = _pagerank_py(int(name.split("_")[1]))
        assert [r[0] for r in rows] == sorted(ref, key=repr)
        assert all(abs(r[1] - ref[r[0]]) < 1e-8 for r in rows)
    elif name.startswith("cc"):
        assert rows == _cc_ref(int(name.split("_")[1]))
    elif name.startswith("lpa"):
        assert rows == _lpa_ref(int(name.split("_")[1]))
    elif name.startswith("kcore"):
        ref, stable = _kcore_ref(2, 4 if name == "kcore_capped" else 20)
        assert rows == ref
        assert bool(unstable) == (not stable)
        assert stable == (name == "kcore")
    else:
        pairs = dedup_minhash(docs, "text", "doc_id", threshold=0.5, mode="pairs")
        ids = [d for d, _ in _docs()]
        assert rows == _components(
            [(r["ID_A"], r["ID_B"]) for r in pairs.collect()], ids)
        del pairs
    del derived
    assert _persisted(spark) <= before + left


def test_loops_are_partition_invariant(spark, frames):
    """ROADMAP 4(a): the four loops and near_dup_clusters return identical
    rows at spark.sql.shuffle.partitions 1, 7 and 32 and with AQE off, on
    capped (non-converged) and converged settings. With AQE off nothing
    runs while a truncation is built, so a checkpoint released before its
    successor was materialized fails the next read."""
    edges, docs = frames
    runs = [
        lambda: pagerank(edges, "src", "dst", iterations=7),
        lambda: connected_components(edges, "src", "dst", max_iterations=3),
        lambda: connected_components(edges, "src", "dst"),
        lambda: label_propagation(edges, "src", "dst", iterations=7),
        lambda: kcore(edges, "src", "dst", k=2),
        lambda: near_dup_clusters(docs, "text", "doc_id", threshold=0.5, max_iterations=2),
    ]

    def results():
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            return [_rows(run()) for run in runs]

    base = results()
    assert all(base)
    for conf in [
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.shuffle.partitions": "7"},
        {"spark.sql.shuffle.partitions": "32"},
        {"spark.sql.adaptive.enabled": "false"},
    ]:
        saved = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            got = results()
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        for n, rows in enumerate(base):
            assert got[n] == rows, (conf, n)


def test_pagerank_renderers_match_execution_on_null_endpoints(spark, frames):
    """The rendered pagerank and its DuckDB oracle treat a NULL node with
    out-edges as the executed loop does: not dangling, so its rank mass is
    not redistributed. Without the NULL-endpoint edges they always agreed."""
    import duckdb

    from rasgoql_spark.functions.graph import _r_pagerank, pagerank_oracle_sql

    edges, _ = frames
    via_df = _rows(pagerank(edges, "src", "dst", iterations=3))
    edges.createOrReplaceTempView("__pr_null_edges")
    via_sql = _rows(spark.sql(_r_pagerank("__pr_null_edges", "src", "dst", iterations=3)))
    assert via_sql == via_df
    con = duckdb.connect()
    con.execute("CREATE TABLE pr_edges (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO pr_edges VALUES (?, ?)", EDGES)
    oracle = sorted(con.execute(
        pagerank_oracle_sql("SELECT src, dst FROM pr_edges", iterations=3)).fetchall(), key=repr)
    assert [r[0] for r in oracle] == [r[0] for r in via_df]
    assert all(abs(a[1] - b[1]) < 1e-9 for a, b in zip(oracle, via_df))
