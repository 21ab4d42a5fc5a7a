"""Graph transforms over edge tables: PageRank (Brin & Page 1998), label
propagation, k-core, triangle counts and min-label connected components.

Link-graph authority is a first-class crawl-curation signal: Common Crawl
publishes host-level link graphs and rank files precisely so pipelines can
weight or gate documents by the linking structure of their origin. Every
transform here is pure DataFrame iteration — no GraphX/graphframes
dependency (neither ships with a stock PySpark container).

Determinism contract (same idea as cluster.kmeans_cluster): every rank is
rounded to ``round_to`` decimals after each iteration, absorbing
double-summation order differences across engines and partitionings, so the
whole fixed-iteration computation replays as unrolled ANSI SQL — the DuckDB
oracle does exactly that. The renderers replay every loop unrolled, round
for round, whatever the executed loop truncates or caches.

Loop contract. ``pagerank``, ``label_propagation``, ``kcore`` and the
min-label loop behind ``connected_components`` and
``dedup.near_dup_clusters`` (:func:`min_label_components`) run through one
loop, :func:`_iterate`. Each caller supplies its step (one round) and,
where it has one, its round action: pagerank's dangling-mass collect,
kcore's edge count, the min-label changed-count. ``_iterate`` owns the rest:

- Cadence. Round ``r``'s state is truncated when ``r`` is a multiple of
  ``every``: every two-level batch of the min-label loop, every 3rd round
  of the others. pagerank runs its last update outside ``_iterate``, so it
  never truncates its last round. In a loop whose step reads its input
  more than once (pagerank, kcore) a state that is not truncated is
  scoped-cached instead. The round action then reads the state, and a true
  result ends the loop early.
- Truncation. :func:`_truncate` is the package's one ``localCheckpoint``.
  It cuts the Catalyst plan when it is called, but stores nothing until a
  job reads the state: the next round action, or the result's own action.
  Under AQE the call does run the upstream shuffle stages, as jobs of the
  chain's construction; with AQE off it runs none.
- Release. Once the loop's round action has materialized a truncation,
  everything the state held before it is released: earlier truncations and
  round caches, the initial state's included. The round caches held after
  it go back to the caller, which ties them to its result with
  ``release_with``. Three other release points are unsafe. A plain cached
  successor does not free its predecessors: ``unpersist()`` makes Spark
  re-cache dependents that are not yet loaded, so later round caches would
  recompute the whole unrolled lineage (measured: 2 -> 381 Exchanges in
  pagerank's final plan). A truncation is not freed before its successor
  is materialized: the next read of the successor fails with
  ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. And a truncation no round action
  superseded (the last one, and every one of label_propagation, which has
  no round action) is not freed with the result: a frame derived from the
  result, such as ``out.select(...)``, can outlive ``out`` and still read
  it. The JVM's ContextCleaner frees it once no plan references it.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ParameterException, TransformRenderingException
from ..operators._util import resolve_col
from ..registry import renderer, spark_transform
from ._cache import (
    is_checkpoint,
    register_checkpoint,
    release_now,
    release_with,
    scoped_persist,
)


def _edge_list(df: DataFrame, src: str, dst: str) -> DataFrame:
    """``df``'s edge columns as ``(__src, __dst)``."""
    s, d = resolve_col(df, src), resolve_col(df, dst)
    return df.select(F.col(s).alias("__src"), F.col(d).alias("__dst"))


def _undirected(half: DataFrame, distinct: bool) -> DataFrame:
    """The scoped-cached undirected edge list of ``half``'s ``(__src,
    __dst)`` edges: each one in both directions. ``distinct`` gives the
    simple graph label_propagation and kcore run on: NULL endpoints and
    self-loops drop, duplicate and reverse edges collapse."""
    if distinct:
        half = half.filter(
            F.col("__src").isNotNull() & F.col("__dst").isNotNull()
            & (F.col("__src") != F.col("__dst"))
        )
    both = half.union(
        half.select(F.col("__dst").alias("__src"), F.col("__src").alias("__dst"))
    )
    return scoped_persist(both.dropDuplicates() if distinct else both)


def _undirected_sql(source: str, src: str, dst: str, h: str, e: str) -> list:
    """:func:`_undirected`'s simple graph as two CTEs: ``h`` the distinct
    half, ``e`` both directions."""
    return [
        f"{h} AS (SELECT DISTINCT {src} AS src, {dst} AS dst FROM {source} "
        f"WHERE {src} IS NOT NULL AND {dst} IS NOT NULL AND {src} <> {dst})",
        f"{e} AS (SELECT src, dst FROM {h} UNION SELECT dst, src FROM {h})",
    ]


def _truncate(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s plan with a local checkpoint, registered so that
    ``release_now`` can free its blocks once no plan reads them (module
    docstring)."""
    return register_checkpoint(df.localCheckpoint(eager=eager))


def _iterate(state, step, rounds, every, act=None, cache=False):
    """Run ``rounds`` rounds of ``step`` from ``state`` under the module's
    loop contract. ``act(state)`` is the round action, run on each
    truncated or cached state; a true result ends the loop. ``cache`` marks
    a step that reads its input more than once. ``_iterate`` takes over the
    initial state's cache or truncation. Returns ``(state, held)``: the
    last state and the round caches it still holds, for ``release_with``."""
    held = [state] if state.is_cached or is_checkpoint(state) else []
    for r in range(1, rounds + 1):
        state = step(state)
        cut = r % every == 0
        if cut or cache:
            state = _truncate(state) if cut else scoped_persist(state)
            held.append(state)
        if act is None:
            continue
        stop = act(state)
        if cut:
            # newest first: no released cache has a dependent left to re-cache
            release_now(*reversed(held[:-1]))
            del held[:-1]
        if stop:
            break
    return state, [h for h in held if not is_checkpoint(h)]


RANK_ROUND_MAX = 15


def _check_pagerank(damping: float, iterations: int, round_to: int) -> None:
    if not 0.0 < damping < 1.0:
        raise ParameterException("damping must be in (0, 1)")
    if iterations < 0:
        raise ParameterException("iterations must be >= 0")
    if not 1 <= round_to <= RANK_ROUND_MAX:
        raise ParameterException(f"round_to must be in [1, {RANK_ROUND_MAX}]")


@spark_transform("pagerank", category="graph", streaming_ok=False)
def pagerank(
    df: DataFrame,
    src: str,
    dst: str,
    damping: float = 0.85,
    iterations: int = 3,
    round_to: int = 9,
) -> DataFrame:
    """PageRank over the edge list ``df[src] -> df[dst]``.

    Returns ``(NODE, PAGERANK)`` for every node appearing as source or
    target. Duplicate edges collapse to one; nodes with no out-edges
    (dangling) redistribute their mass uniformly each iteration — the
    standard formulation, so ranks sum to ~1.

    Scale: ranks and out-degrees are slim ``(node, double)`` tables; each
    iteration is one edges-by-src join + one sum-by-dst shuffle — partial
    aggregation combines map-side, AQE handles skewed hub nodes. The
    dangling mass is a one-row aggregate collected as one scalar
    (never a collect of node data).
    """
    _check_pagerank(damping, iterations, round_to)
    edges = scoped_persist(_edge_list(df, src, dst).dropDuplicates(["__src", "__dst"]))
    # ONE endpoint-explode aggregation replaces the union+dedup node build,
    # the separate out-degree aggregation, and the nodes-x-outdeg join
    # (round 13): each edge contributes (src, 1) and (dst, 0); summing per
    # node yields the distinct node set WITH its out-degree — deg 0 IS the
    # dangling flag. Exact integers, so the node set, degrees, and every
    # downstream rank are unchanged; two full shuffles and one persisted
    # frame fewer in the loop-invariant build.
    node_stats = scoped_persist(
        edges.select(F.col("__src").alias("__node"), F.lit(1).alias("__e"))
        .union(edges.select(F.col("__dst").alias("__node"), F.lit(0).alias("__e")))
        .groupBy("__node")
        .agg(F.sum("__e").alias("__deg"))
    )
    n = node_stats.count()  # bounded driver scalar (node count), like BPE's loop
    if n == 0:
        release_now(edges, node_stats)
        return node_stats.select(
            F.col("__node").alias("NODE"), F.lit(0.0).alias("PAGERANK")
        )
    # loop-invariant frames, built ONCE: degree pre-joined onto edges (the
    # per-iteration plan then needs only ranks-by-src join + sum-by-dst),
    # and the dangling FLAG carried on the node frame itself (round 13) —
    # the per-iteration dangling mass is then a filter+sum over ranks
    # instead of a semi-join, removing one join and its shuffle per
    # iteration (same rows summed, order noise absorbed by the
    # per-iteration round like every other aggregate here)
    edges_deg = scoped_persist(
        edges.join(
            node_stats.filter(F.col("__deg") > 0)
            .select(F.col("__node").alias("__src"), "__deg"),
            on="__src",
        )
    )
    nodes_meta = node_stats.select("__node", (F.col("__deg") == 0).alias("__dang"))
    base = (1.0 - damping) / n
    ranks = nodes_meta.select(
        "__node", "__dang", F.round(F.lit(1.0 / n), round_to).alias("__r")
    )
    masses: list[float] = []

    def dangling_mass(r):
        # one collected scalar (round 13): the one-row aggregate used to ride a
        # crossJoin(broadcast(...)) — under AQE that broadcast is its own
        # job cascade per iteration, and the scalar must synchronize before
        # the next level either way. Collecting the single double and
        # re-embedding it as a literal is bit-exact (the same aggregated
        # double) and drops one broadcast exchange + one join per iteration
        masses.append(r.filter(F.col("__dang")).agg(
            F.coalesce(F.sum("__r"), F.lit(0.0)).alias("__dm")
        ).first()["__dm"])

    def update(r):
        contrib = (
            edges_deg.join(r, edges_deg["__src"] == r["__node"])
            .select(F.col("__dst").alias("__node"), (F.col("__r") / F.col("__deg")).alias("__c"))
            .groupBy("__node")
            .agg(F.sum("__c").alias("__sum"))
        )
        return nodes_meta.join(contrib, on="__node", how="left").select(
            "__node", "__dang",
            F.round(
                F.lit(base)
                + damping
                * (F.coalesce(F.col("__sum"), F.lit(0.0)) + F.lit(float(masses[-1])) / n),
                round_to,
            ).alias("__r"),
        )

    held: list = []
    if iterations:
        # each rank level feeds two readers (the mass collect and the next
        # update): the first is cached here, the rest by _iterate
        ranks = scoped_persist(ranks)
        dangling_mass(ranks)
        ranks, held = _iterate(
            ranks, update, iterations - 1, 3, act=dangling_mass, cache=True
        )
        ranks = update(ranks)
    out = ranks.select(F.col("__node").alias("NODE"), F.col("__r").alias("PAGERANK"))
    return release_with(out, edges, node_stats, edges_deg, *held)


PAGERANK_RENDER_MAX_ITER = 6


@renderer("pagerank")
def _r_pagerank(
    source, src, dst, damping=0.85, iterations=3, round_to=9
) -> str:
    """Unrolled replay of the fixed-iteration loop in Spark SQL (the same
    technique as :func:`pagerank_oracle_sql`, emitted in Spark dialect):
    per-iteration ROUND absorbs summation-order differences, so the
    rendered text reproduces the executed ranks exactly. Float literals are
    CAST AS DOUBLE — a bare ``0.85`` is DECIMAL in Spark SQL and would
    change the arithmetic. Each unrolled level references its predecessor
    twice (neighbor-sum + dangling mass), so plan size grows ~2^iterations
    when Catalyst inlines the CTEs; rendering is capped at
    ``PAGERANK_RENDER_MAX_ITER`` iterations (the DataFrame path has no
    cap: it truncates its plan every 3rd round, module docstring)."""
    _check_pagerank(damping, iterations, round_to)
    if iterations > PAGERANK_RENDER_MAX_ITER:
        raise TransformRenderingException(
            "pagerank renders unrolled iterations; iterations > "
            f"{PAGERANK_RENDER_MAX_ITER} produces an impractically large plan "
            "(each level references the previous twice)"
        )
    d = f"CAST({float(damping)!r} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    rt = int(round_to)
    n = "(SELECT c FROM __pr_nn)"
    parts = [
        f"__pr_e AS (SELECT DISTINCT {src} AS src, {dst} AS dst FROM {source})",
        "__pr_nodes AS (SELECT src AS node FROM __pr_e "
        "UNION SELECT dst FROM __pr_e)",
        "__pr_nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM __pr_nodes)",
        "__pr_outdeg AS (SELECT src, COUNT(*) AS deg FROM __pr_e GROUP BY src)",
        f"__pr_r0 AS (SELECT node, ROUND({one} / {n}, {rt}) AS r FROM __pr_nodes)",
    ]
    for i in range(int(iterations)):
        p, q = f"__pr_r{i}", f"__pr_r{i + 1}"
        # dangling = no out-degree row; null-safe, so a NULL node with
        # out-edges is not dangling, as on the executed path
        parts.append(
            f"__pr_d{i} AS (SELECT COALESCE(SUM({p}.r), CAST(0.0 AS DOUBLE)) AS dm "
            f"FROM {p} LEFT JOIN __pr_outdeg o ON {p}.node <=> o.src "
            "WHERE o.deg IS NULL)"
        )
        parts.append(
            f"__pr_c{i} AS (SELECT e.dst AS node, SUM({p}.r / o.deg) AS s "
            f"FROM __pr_e e JOIN {p} ON e.src = {p}.node "
            "JOIN __pr_outdeg o ON e.src = o.src GROUP BY e.dst)"
        )
        parts.append(
            f"{q} AS (SELECT n.node, ROUND(({one} - {d}) / {n} + {d} * ("
            f"COALESCE(c.s, CAST(0.0 AS DOUBLE)) + d.dm / {n}), {rt}) AS r "
            f"FROM __pr_nodes n LEFT JOIN __pr_c{i} c ON n.node = c.node "
            f"CROSS JOIN __pr_d{i} d)"
        )
    return (
        "SELECT * FROM (WITH " + ", ".join(parts)
        + f" SELECT node AS NODE, r AS PAGERANK FROM __pr_r{int(iterations)}"
        ") __pr_out"
    )


def pagerank_oracle_sql(
    edges_sql: str,
    damping: float = 0.85,
    iterations: int = 3,
    round_to: int = 9,
) -> str:
    """Unrolled ANSI-SQL replay of :func:`pagerank` for DuckDB oracles.

    ``edges_sql`` must yield columns ``src, dst``; the returned query yields
    ``NODE, PAGERANK`` and matches the Spark result bit-for-bit under the
    shared per-iteration rounding."""
    d = damping
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) c FROM nodes)",
        "outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) deg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, ROUND(1.0 / (SELECT c FROM nn), {round_to}) r FROM nodes)",
    ]
    for i in range(iterations):
        p, q = f"r{i}", f"r{i + 1}"
        parts.append(
            f"{q} AS (SELECT nodes.node, ROUND((1 - {d}) / (SELECT c FROM nn) + {d} * ("
            f"COALESCE(c.s, 0) + (SELECT COALESCE(SUM({p}.r), 0) FROM {p} "
            f"LEFT JOIN outdeg ON {p}.node IS NOT DISTINCT FROM outdeg.src "
            "WHERE outdeg.deg IS NULL)"
            f" / (SELECT c FROM nn)), {round_to}) r FROM nodes LEFT JOIN "
            f"(SELECT e.dst, SUM({p}.r / outdeg.deg) s FROM e "
            f"JOIN {p} ON e.src = {p}.node JOIN outdeg ON e.src = outdeg.src "
            f"GROUP BY e.dst) c ON nodes.node = c.dst)"
        )
    return (
        ", ".join(parts)
        + f" SELECT node AS NODE, r AS PAGERANK FROM r{iterations}"
    )


def check_max_iterations(max_iterations: int) -> None:
    """The iteration cap contract of the min-label loop's callers
    (:func:`connected_components`, ``dedup.near_dup_clusters``), of
    :func:`kcore` and of their renderers."""
    if max_iterations < 1:
        raise ParameterException("max_iterations must be >= 1")


def min_label_components(half: DataFrame, max_iterations: int):
    """Min-label propagation over the undirected graph of ``half``'s
    ``(__src, __dst)`` edges: the one connected-components loop behind
    :func:`connected_components` and ``dedup.near_dup_clusters``.

    Returns ``(labels, edges)``: ``labels`` is ``(__id, __lab)`` for every
    edge endpoint, ``__lab`` the minimum id reachable within
    ``max_iterations`` propagation levels; ``edges`` is the symmetrized
    edge cache the labels read, which the caller ties to its own output
    with ``release_with``.

    Each round is a batch of TWO plain propagation levels (one when a
    single level is left) with ONE action, a count that fuses the
    convergence check: the second level carries each node's PREVIOUS label
    through the min-aggregation — labels holds exactly one row per id, so
    max(__old) recovers it (msgs contribute nulls, which aggregates
    ignore), and min(__lab) aggregates the same union rows as a plain
    level. The loop was measured job-cascade-bound, not compute-bound
    (round 14: 88 jobs for 4 core-seconds of task work on the sf0.1
    entry), so this halves its actions and drops the join of new labels
    back to old ones. Every batch is truncated: each level references the
    previous frame twice (union + msgs), so an uncut plan costs the planner
    2^k shared-subtree paths at every plan build. Early exit checks the
    batch's LAST transition: min-propagation is monotone, so an unchanged
    last level is a fixpoint, and the output equals the plain loop's.

    NOT taken: a pointer-doubling shortcut (lab <- lab-of-lab) converges
    in O(log diameter) rounds and measured 2.8 s here — but
    max_iterations is part of the operator contract (the .sql() renderer
    unrolls exactly N plain propagation levels and the renderer-parity
    fixtures pin capped, non-converged graphs), and shortcut rounds
    advance further per round than the rendered SQL. The label at every
    level is the plain one-level recurrence, bit-identical at every cap."""
    edges = _undirected(half, distinct=False)
    labels = _truncate(
        edges.select(F.col("__src").alias("__id"))
        .dropDuplicates()
        .withColumn("__lab", F.col("__id")),
        eager=True,
    )
    lab_type = labels.schema["__lab"].dataType

    def _level(lab_frame, with_old: bool):
        msgs = edges.join(
            lab_frame.withColumnRenamed("__id", "__src"), on="__src"
        ).select(F.col("__dst").alias("__id"), "__lab")
        if not with_old:
            return (
                lab_frame.unionByName(msgs)
                .groupBy("__id").agg(F.min("__lab").alias("__lab"))
            )
        return (
            lab_frame.select("__id", "__lab", F.col("__lab").alias("__old"))
            .unionByName(msgs.withColumn("__old", F.lit(None).cast(lab_type)))
            .groupBy("__id")
            .agg(F.min("__lab").alias("__lab"), F.max("__old").alias("__old"))
        )

    levels = iter([2] * (max_iterations // 2) + [1] * (max_iterations % 2))

    def batch(state):
        lab = state.select("__id", "__lab")
        if next(levels) == 2:
            lab = _level(lab, with_old=False)
        return _level(lab, with_old=True)

    def unchanged(state):
        return state.filter(~F.col("__lab").eqNullSafe(F.col("__old"))).count() == 0

    state, _ = _iterate(labels, batch, (max_iterations + 1) // 2, 1, act=unchanged)
    return state.select("__id", "__lab"), edges


@spark_transform("connected_components", category="graph", streaming_ok=False)
def connected_components(
    df: DataFrame,
    src: str,
    dst: str,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components of the undirected graph induced by the edge
    list: ``(NODE, COMPONENT)`` where COMPONENT is the minimum node id
    reachable from NODE. ``dedup.near_dup_clusters`` runs the same loop
    (:func:`min_label_components`) over its near-dup pair graph; this form
    clusters arbitrary relation graphs (URL redirect chains, citation/link
    groups, entity-resolution match pairs) without routing through the
    text-dedup API.

    Scale: each level is one slim (node, label) join + min-aggregation;
    converges in <= component-diameter levels with an early-exit count,
    two levels per action.
    """
    check_max_iterations(max_iterations)
    labels, edges = min_label_components(
        _edge_list(df, src, dst).dropDuplicates(), max_iterations
    )
    out = labels.select(F.col("__id").alias("NODE"), F.col("__lab").alias("COMPONENT"))
    return release_with(out, edges)


CC_RENDER_MAX_ITER = 24


@renderer("connected_components")
def _r_connected_components(source, src, dst, max_iterations=20) -> str:
    """Unrolled min-label propagation in Spark SQL, also the propagation
    core of the ``near_dup_clusters`` renderer. Level ``i+1`` takes the
    per-node MIN label over ``__cc_e`` (symmetrized edges PLUS self-loops)
    joined to level ``i``. The self-loops make each level a SINGLE
    reference to its predecessor — the labels-union-messages form would
    reference it twice and explode exponentially under CTE inlining
    (measured: a 20-level double-reference chain kills the driver;
    single-reference runs in seconds).

    The executed loop early-exits on convergence; extra unrolled rounds are
    no-ops on an already-converged labeling (min over a fixed point is the
    fixed point), so replaying all ``max_iterations`` rounds is
    result-equal. The final SELECT left-joins the node list: a NULL
    endpoint never matches its own self-loop join, so without it the
    rendered output would drop the (NULL, NULL) row the executed groupBy
    keeps."""
    check_max_iterations(max_iterations)
    if max_iterations > CC_RENDER_MAX_ITER:
        raise TransformRenderingException(
            "connected_components renders unrolled propagation rounds; "
            f"max_iterations > {CC_RENDER_MAX_ITER} produces an impractically "
            "deep plan (~1s of scheduling per level)"
        )
    parts = [
        f"__cc_h AS (SELECT DISTINCT {src} AS src, {dst} AS dst FROM {source})",
        "__cc_n AS (SELECT DISTINCT src AS node FROM "
        "(SELECT src, dst FROM __cc_h UNION ALL SELECT dst, src FROM __cc_h))",
        "__cc_e AS (SELECT src, dst FROM __cc_h "
        "UNION ALL SELECT dst, src FROM __cc_h "
        "UNION ALL SELECT node, node FROM __cc_n)",
        "__cc_l0 AS (SELECT node, node AS lab FROM __cc_n)",
    ] + [
        f"__cc_l{i + 1} AS (SELECT e.dst AS node, MIN(l.lab) AS lab "
        f"FROM __cc_e e JOIN __cc_l{i} l ON e.src = l.node GROUP BY e.dst)"
        for i in range(int(max_iterations))
    ]
    return (
        "SELECT * FROM (WITH " + ", ".join(parts)
        + " SELECT n.node AS NODE, l.lab AS COMPONENT FROM __cc_n n "
        f"LEFT JOIN __cc_l{int(max_iterations)} l ON n.node = l.node"
        ") __cc_out"
    )


@spark_transform("triangle_count", category="graph", streaming_ok=False)
def triangle_count(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-node triangle counts of the undirected simple graph induced by
    the edge list (self-loops and duplicate/reverse edges collapse; null
    endpoints drop).

    Degree-ordered edge orientation (Schank & Wagner 2005, the standard
    distributed formulation): each undirected edge is directed from its
    lower-(degree, id) endpoint, so every triangle {a,b,c} is found exactly
    once as the wedge a->b, a->c closed by b->c. Wedge generation cost is
    Σ outdeg² with outdeg bounded by ~√m after orientation — the hub-node
    quadratic blowup of naive wedge counting cannot happen. Returns
    ``(NODE, TRIANGLES)`` for every node in the edge set, zeros included.

    Scale: three equi-joins on slim id columns + one count — all
    shuffle-hash/AQE territory, no collects, no Python. Skewed residual
    wedges (a few same-degree hubs) are AQE-skew-split like any join.
    """
    s, d = resolve_col(df, src), resolve_col(df, dst)
    canon = scoped_persist(
        df.filter(F.col(s).isNotNull() & F.col(d).isNotNull() & (F.col(s) != F.col(d)))
        .select(F.least(s, d).alias("__lo"), F.greatest(s, d).alias("__hi"))
        .dropDuplicates()
    )  # feeds deg (twice via the union) AND the orientation join: without
    # the cache the full upstream scan+distinct re-executes per consumer
    deg = scoped_persist(
        canon.select(F.col("__lo").alias("__node"))
        .unionAll(canon.select(F.col("__hi").alias("__node")))
        .groupBy("__node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    dl = deg.select(F.col("__node").alias("__lo"), F.col("__deg").alias("__dl"))
    dh = deg.select(F.col("__node").alias("__hi"), F.col("__deg").alias("__dh"))
    keep = F.col("__dl") <= F.col("__dh")  # tie -> lo first (lo < hi always)
    oriented = scoped_persist(
        canon.join(dl, on="__lo").join(dh, on="__hi").select(
            F.when(keep, F.col("__lo")).otherwise(F.col("__hi")).alias("__a"),
            F.when(keep, F.col("__hi")).otherwise(F.col("__lo")).alias("__b"),
            F.when(keep, F.col("__dh")).otherwise(F.col("__dl")).alias("__degb"),
        )
    )
    e2 = oriented.select(
        F.col("__a"), F.col("__b").alias("__c"), F.col("__degb").alias("__degc")
    )
    wedges = oriented.join(e2, on="__a").filter(
        (F.col("__degb") < F.col("__degc"))
        | ((F.col("__degb") == F.col("__degc")) & (F.col("__b") < F.col("__c")))
    )
    closer = oriented.select(
        F.col("__a").alias("__b"), F.col("__b").alias("__c")
    )
    tris = wedges.join(closer, on=["__b", "__c"]).select("__a", "__b", "__c")
    tris = scoped_persist(tris)
    counts = (
        tris.select(F.col("__a").alias("__node"))
        .unionAll(tris.select(F.col("__b").alias("__node")))
        .unionAll(tris.select(F.col("__c").alias("__node")))
        .groupBy("__node")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    out = deg.join(counts, on="__node", how="left").select(
        F.col("__node").alias("NODE"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("TRIANGLES"),
    )
    return release_with(out, canon, deg, oriented, tris)


@renderer("triangle_count")
def _r_triangle_count(source, src, dst) -> str:
    """Engine-portable CTE replay of the oriented-wedge algorithm (LEAST/
    GREATEST/ROW-free — plain joins and counts, identical in Spark SQL and
    DuckDB)."""
    parts = [
        f"__tc_c AS (SELECT DISTINCT LEAST({src}, {dst}) AS lo, "
        f"GREATEST({src}, {dst}) AS hi FROM {source} "
        f"WHERE {src} IS NOT NULL AND {dst} IS NOT NULL AND {src} <> {dst})",
        "__tc_d AS (SELECT node, COUNT(*) AS deg FROM "
        "(SELECT lo AS node FROM __tc_c UNION ALL SELECT hi FROM __tc_c) "
        "GROUP BY node)",
        "__tc_o AS (SELECT CASE WHEN dl.deg <= dh.deg THEN c.lo ELSE c.hi END AS a, "
        "CASE WHEN dl.deg <= dh.deg THEN c.hi ELSE c.lo END AS b, "
        "CASE WHEN dl.deg <= dh.deg THEN dh.deg ELSE dl.deg END AS degb "
        "FROM __tc_c c JOIN __tc_d dl ON c.lo = dl.node "
        "JOIN __tc_d dh ON c.hi = dh.node)",
        "__tc_t AS (SELECT w.a, w.b, w.c FROM "
        "(SELECT e1.a, e1.b, e2.b AS c FROM __tc_o e1 JOIN __tc_o e2 "
        "ON e1.a = e2.a AND (e1.degb < e2.degb OR "
        "(e1.degb = e2.degb AND e1.b < e2.b))) w "
        "JOIN __tc_o e ON w.b = e.a AND w.c = e.b)",
        "__tc_n AS (SELECT node, COUNT(*) AS n FROM "
        "(SELECT a AS node FROM __tc_t UNION ALL SELECT b FROM __tc_t "
        "UNION ALL SELECT c FROM __tc_t) GROUP BY node)",
    ]
    return (
        "SELECT * FROM (WITH " + ", ".join(parts)
        + " SELECT d.node AS NODE, CAST(COALESCE(t.n, 0) AS BIGINT) AS TRIANGLES "
        "FROM __tc_d d LEFT JOIN __tc_n t ON d.node = t.node"
        ") __tc_out"
    )


LP_RENDER_MAX_ITER = 8


@spark_transform("label_propagation", category="graph", streaming_ok=False)
def label_propagation(
    df: DataFrame,
    src: str,
    dst: str,
    iterations: int = 2,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) made
    deterministic: labels start as node ids; each round every node adopts
    its neighbors' MOST FREQUENT label, ties broken by smallest label.
    Fixed ``iterations`` (no convergence stop — synchronous LPA can
    oscillate on bipartite structures, so a bounded round count is the
    reproducible contract). Returns ``(NODE, LABEL)`` over the undirected
    simple graph induced by the edges (self-loops/duplicates collapse,
    null endpoints drop).

    Scale: per round one edges-by-src join + one (node,label) count + one
    per-node top-1 min-struct aggregation (both aggregations combine
    map-side) — the same slim-id shuffle profile as pagerank.
    """
    if iterations < 1:
        raise ParameterException("iterations must be >= 1")
    edges = _undirected(_edge_list(df, src, dst), distinct=True)
    labels = edges.select(F.col("__src").alias("__node")).dropDuplicates().withColumn(
        "__lab", F.col("__node")
    )

    # No per-level caches (round 14): each label level feeds exactly ONE
    # reader (the next round's join; the last feeds the output), so the
    # rounds between truncations are one lazy plan.
    def lpa_round(labels):
        counts = (
            edges.join(labels, edges["__src"] == labels["__node"])
            .groupBy(F.col("__dst").alias("__n2"), F.col("__lab"))
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        # per-node top-1 as an aggregation, not a row_number window
        # (round 14): min over (-count, label) structs is exactly the
        # window's (count desc, label asc) first row — field-wise struct
        # comparison is the ORDER BY semantics for any orderable label
        # type, and (node, label) rows are unique after the groupBy, so
        # the argmin is the same row. The window shape paid a full sort of
        # the (node, label, count) table inside its exchange; the
        # aggregation pre-reduces map-side to one row per node per
        # partition before shuffling, and sorts nothing.
        return (
            counts.groupBy(F.col("__n2").alias("__node"))
            .agg(F.min(F.struct(
                (-F.col("__cnt")).alias("__nc"), F.col("__lab").alias("__l")
            )).alias("__m"))
            .select("__node", F.col("__m.__l").alias("__lab"))
        )

    labels, _ = _iterate(labels, lpa_round, iterations, 3)
    out = labels.select(F.col("__node").alias("NODE"), F.col("__lab").alias("LABEL"))
    return release_with(out, edges)


@renderer("label_propagation")
def _r_label_propagation(source, src, dst, iterations=2) -> str:
    """Unrolled engine-portable replay: each level references its
    predecessor ONCE (counts -> window top-1), so plan depth is linear —
    the same single-reference invariant as _r_connected_components. Capped
    at ``LP_RENDER_MAX_ITER`` levels."""
    if iterations < 1:
        raise ParameterException("iterations must be >= 1")
    if iterations > LP_RENDER_MAX_ITER:
        raise TransformRenderingException(
            "label_propagation renders unrolled rounds; iterations > "
            f"{LP_RENDER_MAX_ITER} produces an impractically deep plan"
        )
    parts = _undirected_sql(source, src, dst, "__lp_h", "__lp_e") + [
        "__lp_l0 AS (SELECT DISTINCT src AS node, src AS lab FROM __lp_e)",
    ]
    for i in range(int(iterations)):
        parts.append(
            f"__lp_l{i + 1} AS (SELECT node, lab FROM "
            f"(SELECT e.dst AS node, l.lab, "
            "ROW_NUMBER() OVER (PARTITION BY e.dst "
            "ORDER BY COUNT(*) DESC, l.lab ASC) AS rn "
            f"FROM __lp_e e JOIN __lp_l{i} l ON e.src = l.node "
            "GROUP BY e.dst, l.lab) x WHERE rn = 1)"
        )
    return (
        "SELECT * FROM (WITH " + ", ".join(parts)
        + f" SELECT node AS NODE, lab AS LABEL FROM __lp_l{int(iterations)}"
        ") __lp_out"
    )


KCORE_RENDER_MAX_ITER = 6


@spark_transform("kcore", category="graph", streaming_ok=False)
def kcore(
    df: DataFrame,
    src: str,
    dst: str,
    k: int,
    max_iterations: int = 20,
) -> DataFrame:
    """k-core membership of the undirected simple graph: iteratively peel
    nodes of degree < ``k`` until stable (Seidman 1983). Returns
    ``(NODE, DEGREE)`` for the surviving nodes — DEGREE is the within-core
    degree (≥ k by construction). The classic link-graph curation gate:
    pages outside a reasonable core are orphans/link-farm tendrils.

    RENDER CONTRACT: the default ``max_iterations=20`` favors execution
    correctness (deep peels — long chains shed one layer per round), but
    the SQL renderer unrolls the peel and caps at
    ``KCORE_RENDER_MAX_ITER`` (6) levels, so a DEFAULT-PARAMS CHAIN
    EXECUTES FINE BUT ``.sql()``/``to_dbt()`` RAISES — pass
    ``max_iterations <= 6`` (and confirm the peel converges within it: a
    ``RuntimeWarning`` fires when the loop exhausts without stabilizing)
    to keep a chain renderable. Executed-N and rendered-N are result-equal
    round for round either way.

    Scale: each round is one degree aggregate + two semi-joins on slim id
    columns; early-exits when the edge count stabilizes (≤ peel-depth
    rounds).
    """
    if k < 1:
        raise ParameterException("k must be >= 1")
    check_max_iterations(max_iterations)
    edges = _undirected(_edge_list(df, src, dst), distinct=True)
    sizes = [edges.count()]

    def peel(edges):
        deg = edges.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
        keep = deg.filter(F.col("__deg") >= k).select("__src")
        # dst-side semi first, src-side LAST (round 14): the surviving edge
        # set then leaves the round hash-partitioned by __src — the key the
        # NEXT round's degree aggregation and src-side semi-join need — so
        # truncated rounds hand their partitioning straight to the next
        # round. The two semi-joins are filters; order cannot change the
        # result.
        return (
            edges.join(keep.withColumnRenamed("__src", "__dst"), on="__dst",
                       how="left_semi")
            .join(keep, on="__src", how="left_semi")
        )

    def stable(edges):
        sizes.append(edges.count())
        return sizes[-1] in (0, sizes[-2])

    edges, held = _iterate(
        edges, peel, max_iterations if sizes[0] else 0, 3, act=stable, cache=True
    )
    # every round ran and the last one still peeled
    if len(sizes) > max_iterations and sizes[-1] not in (0, sizes[-2]):
        warnings.warn(
            f"kcore: peel did not stabilize within max_iterations="
            f"{max_iterations}; the result is a partially-peeled graph "
            "— raise max_iterations for the exact k-core",
            RuntimeWarning,
            stacklevel=2,
        )
    out = (
        edges.groupBy("__src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("DEGREE"))
        .select(F.col("__src").alias("NODE"), "DEGREE")
    )
    return release_with(out, *held)


@renderer("kcore")
def _r_kcore(source, src, dst, k, max_iterations=20) -> str:
    """Unrolled peel in engine-portable SQL. Extra rounds past the fixed
    point are no-ops (a stable edge set reproduces itself), so replaying a
    FIXED round count is result-equal to the executed early-exit loop —
    provided the executed loop converged within the same count. Each level
    references its predecessor three times (degree + two keeps), so the
    render caps at ``KCORE_RENDER_MAX_ITER`` levels; the DataFrame path
    has no cap (it truncates its plan every 3rd round, module docstring)."""
    if k < 1:
        raise ParameterException("k must be >= 1")
    check_max_iterations(max_iterations)
    if max_iterations > KCORE_RENDER_MAX_ITER:
        raise TransformRenderingException(
            "kcore renders unrolled peel rounds; max_iterations > "
            f"{KCORE_RENDER_MAX_ITER} produces an impractically large plan "
            "(each level references the previous three times)"
        )
    parts = _undirected_sql(source, src, dst, "__kc_h", "__kc_e0")
    for i in range(int(max_iterations)):
        p, q = f"__kc_e{i}", f"__kc_e{i + 1}"
        parts.append(
            f"__kc_k{i} AS (SELECT src AS node FROM {p} "
            f"GROUP BY src HAVING COUNT(*) >= {int(k)})"
        )
        parts.append(
            f"{q} AS (SELECT e.src, e.dst FROM {p} e "
            f"JOIN __kc_k{i} a ON e.src = a.node "
            f"JOIN __kc_k{i} b ON e.dst = b.node)"
        )
    last = f"__kc_e{int(max_iterations)}"
    return (
        "SELECT * FROM (WITH " + ", ".join(parts)
        + f" SELECT src AS NODE, CAST(COUNT(*) AS BIGINT) AS DEGREE FROM {last} "
        "GROUP BY src"
        ") __kc_out"
    )
