"""Deduplication operators (north-star extension; SURVEY §7.2 M7):
exact, minhash-LSH, simhash, n-gram Jaccard and containment,
embedding-cosine, exact substring.

The near-duplicate pipeline. ``dedup_minhash``, ``minhash_similarity``,
``dedup_ngram_jaccard``, ``ngram_containment``, ``dedup_simhash``,
``dedup_embedding``, ``dedup_against(method='minhash')``,
``minhash_index``/``update_minhash_index`` and ``winnow.dedup_winnow``
run the same six stages, one shared helper each; the operators differ
only in the candidate key and the verify score.

1. Front end (``_shingle_sets``, ``minhash_signatures``): a staged,
   row-local ``(__id, __sh)`` shingle-set projection, plus the minhash
   vector ``__mh`` for the banded operators.
2. Exact-duplicate collapse (``_annotate_sets`` over ``_annotate_groups``):
   one representative per identical shingle set (``_set_fp``), behind a
   guard that skips the collapse when no group exceeds
   ``COLLAPSE_MIN_GROUP``. The candidate join runs over representatives
   only (``_reps``), so exact copies cannot form hot buckets.
3. Candidate join (``_candidate_pairs``): only slim ``(id, key)`` rows
   (band key, shingle posting, sign bucket, fingerprint) cross the
   shuffle; the output is distinct ``(__id_a, __id_b)`` pairs, a self-join
   kept at ``__id_a < __id_b`` or a cross-corpus join.
4. Verify (``_attach``): the per-side arrays (``__sh``, ``__mh``, ``__fp``)
   attach to surviving candidate pairs only, and the exact score is
   computed there (``_jaccard_pairs`` for set Jaccard).
5. Expand (``_expand_collapsed``): representative-level pairs go back to
   member level. Members share their representative's signature, so two
   docs collide iff their representatives collide and identical sets
   score exactly 1.0; the collapse never changes the result.
6. Filter (``functions/_filter.py``, shared with every other
   filter-mode operator): mode='filter' is the input minus the larger id
   of every pair. ``check_mode`` runs up front; ``reread_input`` persists
   a mid-chain input across its two reads (the pipeline and the
   anti-join's left side; the cluster operators' shared ``_clusters``
   applies the same rule); ``finish`` drops the ids.

The renderers reproduce the plain (uncollapsed) path with the same
stages: ``_shingle_sets_sql``, ``_cand_sql``, ``_attach_sql``,
``_jaccard_sql`` and ``_filter.drop_sql``.

Design for 100 TB:
- Exact dedup is a fingerprint hash-groupBy — one shuffle on a 128-bit key.
- MinHash/LSH never compares all pairs: signatures are computed row-local
  with JVM array expressions (no Python), candidate pairs come from
  band-bucket equi-joins (shuffle on band key), and only candidates pay the
  exact-Jaccard verification.
- SimHash bands the 32-bit signature into 4 bytes; by pigeonhole any pair
  within Hamming distance 3 shares a band.
- Embedding dedup buckets by random-hyperplane sign signatures, so the
  pairwise cosine check runs within buckets only.
All hashes are md5-derived (functions/_hash.py) so DuckDB oracles can
replicate every stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import resolve_col, spread
from ..registry import renderer, spark_transform
from ._cache import release_now, release_with, scoped_persist
from ._filter import check_mode, drop_sql, finish, released_on_error, reread_input
from ._index import (
    PersistedIndex,
    check_fresh,
    check_target,
    loaded,
    materialize,
    read_frames,
    read_params,
    save_artifact,
)
from ._hash import (
    MERSENNE, md5_int, norm_fp, shingles_expr, shingles_spark_sql, tokens_expr,
)


@spark_transform("dedup_exact", category="dedup", streaming_ok=False)
def dedup_exact(df: DataFrame, text: str, id_col: str, keep: str = "min") -> DataFrame:
    """Exact dedup on the normalized-content fingerprint: keep one row per
    fingerprint (min or max id — deterministic). One hash shuffle."""
    from .text import fingerprint

    t, i = resolve_col(df, text), resolve_col(df, id_col)
    fp = fingerprint(df, t, name="__fp")
    order = F.col(i).asc() if keep == "min" else F.col(i).desc()
    w = Window.partitionBy("__fp").orderBy(order)
    return fp.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn", "__fp")


@renderer("dedup_exact")
def _r_dedup_exact(source, text, id_col, keep="min") -> str:
    from .text import _norm_sql

    direction = "ASC" if keep == "min" else "DESC"
    return (
        f"SELECT * EXCEPT (__rn) FROM (SELECT *, ROW_NUMBER() OVER "
        f"(PARTITION BY md5({_norm_sql(text)}) ORDER BY {id_col} {direction}) AS __rn "
        f"FROM {source}) WHERE __rn = 1"
    )


def _jaccard(frame: DataFrame, a: str = "__sh_a", b: str = "__sh_b"):
    """Exact set Jaccard of two attached shingle sets. Stages ``|A∩B|`` as
    a real column (``__ji``) and derives ``|A∪B| = |A| + |B| − |A∩B|``
    arithmetically — exact because every shingle column here is
    ``shingles_expr`` output, which is ``array_distinct``'ed (a SET). Saves
    building the union array per candidate pair (guide §2.3: shuffle/compute
    fewer bytes); the staged column keeps the intersect evaluated once (it
    is referenced by both terms — the repo's HOF/CSE staging rule). Both
    terms are cast to double, so the division is bit-identical to the
    renderers' ``size(array_union(...))`` form (``_jaccard_sql``). Returns
    ``(frame, jaccard)``; an empty union scores 0.0."""
    frame = frame.withColumn("__ji", F.size(F.array_intersect(a, b)))
    inter = F.col("__ji").cast("double")
    un = (F.size(a) + F.size(b) - F.col("__ji")).cast("double")
    return frame, F.when(un > 0, inter / un).otherwise(F.lit(0.0))


def _shingle_sets(df: DataFrame, text: str, id_col: str, shingle_size: int) -> DataFrame:
    """The front end: ``(__id, __sh)`` distinct word shingles per document.

    STAGED projections, deliberately: a lambda that captures a non-trivial
    expression re-evaluates it PER ARRAY ELEMENT (no invariant hoisting in
    Spark's higher-order functions). Each stage binds the previous result
    to a column referenced >1× downstream, which also stops Catalyst's
    CollapseProject from re-inlining it. Measured 25× faster than the
    single-expression form at sf0.1."""
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    staged_t = spread(df).select(F.col(i).alias("__id"), tokens_expr(F.col(t)).alias("__t"))
    return staged_t.select("__id", shingles_expr(F.col("__t"), shingle_size).alias("__sh"))


def minhash_signatures(
    df: DataFrame,
    text: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """(id, shingles, minhash columns) per document — the shared LSH
    front-end. Row-local JVM expressions only; embarrassingly parallel.

    The md5 base hash is computed ONCE per shingle into an int array
    (``__hv``); all ``num_hashes`` affine minhashes derive from that array.
    Without this staging Catalyst re-evaluates md5+conv per hash member —
    measured 16× slower at sf0.1. Empty shingle sets get sentinel MERSENNE
    (matches no non-empty doc).
    """
    staged_sh = _shingle_sets(df, text, id_col, shingle_size)
    # One aggregate pass computes ALL minhashes: fold over the md5-hashed
    # shingle array, zip_with(least) against a running minimum vector — md5
    # runs exactly once per shingle, not once per hash member.
    init = F.array_repeat(F.lit(MERSENNE).cast("bigint"), num_hashes)

    def step(acc, h):
        member = F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda j: (h * (2 * j + 1) + (j * 12345 + 1)) % F.lit(MERSENNE),
        )
        return F.zip_with(acc, member, lambda x, y: F.least(x, y))

    mh = F.aggregate(F.transform(F.col("__sh"), md5_int), init, step)
    return staged_sh.select("__id", "__sh", mh.alias("__mh"))


# Largest exact-duplicate group size below which the collapse machinery is
# skipped: groups this small cannot form hot band buckets (the extra
# candidate pairs are bounded by C(n,2) per group), and the window +
# expansion overhead exceeds the saving. Hot crawls (boilerplate pages with
# thousands of copies) sail past this and collapse as before.
COLLAPSE_MIN_GROUP = 16


def _annotate_groups(
    sig: DataFrame,
    group_key: Column,
    non_empty: Column,
    probe_key: Column | None = None,
    guard: bool = True,
) -> tuple[DataFrame, bool, tuple]:
    """Append ``(__rep, __ne)`` to a signature table: the exact-duplicate
    group representative (per-group minimum id) and the non-empty flag.
    Returns ``(annotated, has_dups, caches)`` — ``annotated`` is already
    persisted (or a free projection over a persisted base); callers must
    NOT persist again and should pass ``caches`` to ``release_with``.

    With ``guard`` (default), the signature table is persisted FIRST and a
    slim pre-count measures the LARGEST exact-duplicate group (two-stage
    max-of-counts over the probe key; the aggregate doubles as the cache
    materialization, so the guard costs no extra pipeline scan). The
    collapse exists to stop HOT buckets — its cost (window shuffle +
    expansion joins) only pays off when some group is large; a corpus
    whose biggest group is ≤ ``COLLAPSE_MIN_GROUP`` adds at most
    C(COLLAPSE_MIN_GROUP, 2) extra candidate pairs per group to the band
    join, so the plain path is both correct (the collapse is purely an
    optimization — identical sets band-collide and score 1.0 regardless)
    and faster. ``probe_key`` may be any CHEAP function of the
    duplicate-defining content (e.g. ``F.hash`` of the minhash vector,
    itself set-functional) — probe collisions only OVER-estimate group
    size, i.e. conservatively take the always-correct collapse path;
    ``group_key`` (the exact fingerprint, often a pricier md5-of-sorted
    expression) is only evaluated on the collapse path. Hot corpora run
    ONE window shuffle on the group key off the cache, force-materialize
    the annotated result, then eagerly free the base cache — steady-state
    memory is one cached table either way."""
    base = scoped_persist(sig.withColumn("__ne", non_empty))
    if guard:
        pk = probe_key if probe_key is not None else group_key
        row = (
            base.groupBy(pk.alias("__pk"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.max("__c").alias("m"))
            .first()
        )
        if (row["m"] or 0) <= COLLAPSE_MIN_GROUP:
            return base.withColumn("__rep", F.col("__id")), False, (base,)
    w = Window.partitionBy("__g")
    annotated = scoped_persist(
        base.withColumn("__g", group_key)
        .withColumn("__rep", F.min("__id").over(w))
        .drop("__g")
    )
    annotated.count()  # bounded action: window runs ONCE off the base cache
    release_now(base)
    return annotated, True, (annotated,)


def _set_fp() -> Column:
    """Exact fingerprint of the shingle SET ``__sh`` (order-free: sorted
    before hashing), the group key of every set-keyed collapse and the
    distinct-set count of ``_capped_postings``."""
    return F.md5(F.concat_ws("\x1f", F.array_sort("__sh")))


def _annotate_sets(sig: DataFrame) -> tuple[DataFrame, bool, tuple]:
    """``_annotate_groups`` for a shingle-set table: grouped by
    ``_set_fp``, ``__ne`` = non-empty set. The guard probes a cheap
    set-functional hash — the minhash vector when ``sig`` carries one
    (itself an order-free function of the set), else the sorted set."""
    probe = F.hash("__mh") if "__mh" in sig.columns else F.hash(F.array_sort("__sh"))
    return _annotate_groups(sig, _set_fp(), F.size("__sh") > 0, probe_key=probe)


def _reps(annotated: DataFrame) -> DataFrame:
    """One row per exact-duplicate group: its representative."""
    return annotated.filter(F.col("__id") == F.col("__rep"))


def _dup_score() -> Column:
    """Score of a pair inside one exact-duplicate group: 1.0, or 0.0 for
    the (single) empty group — the empty-set / zero-vector branch of the
    exact scores."""
    return F.when(F.col("__ne"), F.lit(1.0)).otherwise(F.lit(0.0))


def _side(frame: DataFrame, s: str, *cols: str, keys=()) -> DataFrame:
    """One side of a candidate pair: ``__id`` as ``__id_{s}`` and each of
    ``cols`` as ``{col}_{s}``; ``keys`` pass through unrenamed."""
    return frame.select(
        F.col("__id").alias(f"__id_{s}"), *keys,
        *[F.col(c).alias(f"{c}_{s}") for c in cols],
    )


def _candidate_pairs(
    keyed: DataFrame, key: str, other: DataFrame | None = None, carry=()
) -> DataFrame:
    """The candidate join: distinct ``(__id_a, __id_b)`` pairs of keyed
    rows ``(__id, key)`` that share a key. Alone, ``keyed`` joins itself
    and keeps ``__id_a < __id_b``; with ``other`` (already in the b-side
    shape ``(__id_b, key)`` a MinHashIndex stores) it is the cross-corpus
    join. ``carry`` columns ride the join as ``{col}_a``/``{col}_b`` — they
    must be functions of the id, so dropping duplicate pairs keeps them
    exact — which spares a verify attach."""
    a = _side(keyed, "a", *carry, keys=(key,))
    b = _side(keyed, "b", *carry, keys=(key,)) if other is None else other
    pairs = a.join(b, on=key)
    if other is None:
        pairs = pairs.filter(F.col("__id_a") < F.col("__id_b"))
    cols = [f"{c}_{s}" for s in "ab" for c in carry]
    return pairs.select("__id_a", "__id_b", *cols).dropDuplicates(["__id_a", "__id_b"])


def _attach(
    cand: DataFrame, cols, sides: DataFrame, other: DataFrame | None = None
) -> DataFrame:
    """The verify attach: join the per-side arrays ``cols`` of ``sides``
    (keyed by ``__id``) onto candidate pairs as ``{col}_a`` on ``__id_a``
    and, from ``other`` (default ``sides``), as ``{col}_b`` on ``__id_b`` —
    arrays travel only with pairs that survived the slim candidate join."""
    cand = cand.join(_side(sides, "a", *cols), on="__id_a")
    return cand.join(_side(sides if other is None else other, "b", *cols), on="__id_b")


def _jaccard_pairs(
    cand: DataFrame, reps: DataFrame, threshold: float,
    other: DataFrame | None = None, ids=("ID_A", "ID_B"),
) -> DataFrame:
    """Verify candidate pairs by exact shingle-set Jaccard: ``(ids...,
    JACCARD)`` for pairs at or above ``threshold``."""
    cand, jac = _jaccard(_attach(cand, ("__sh",), reps, other))
    return (
        cand.withColumn("JACCARD", jac)
        .filter(F.col("JACCARD") >= threshold)
        .select(F.col("__id_a").alias(ids[0]), F.col("__id_b").alias(ids[1]), "JACCARD")
    )


def _bands_long(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Slim ``(__id, __band)`` table from a minhash signature table: md5 over
    each band's signature slice, exploded one row per band — the only thing
    that flows through an LSH candidate-join shuffle."""
    rpb = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                ",", F.lit(b), *[F.col("__mh")[b * rpb + r] for r in range(rpb)]
            )
        )
        for b in range(bands)
    ]
    return sig.select("__id", F.explode(F.array(*band_cols)).alias("__band"))


def _ref_bands(reps: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """A reference corpus's band table in the b-side shape
    ``(__id_b, __band)`` that ``MinHashIndex`` stores and saves."""
    return _bands_long(reps, num_hashes, bands).withColumnRenamed("__id", "__id_b")


def _check_bands(num_hashes: int, bands, threshold: float | None = None) -> int:
    """The one banding check: ``bands`` must be a positive int dividing
    ``num_hashes``. Given the verify ``threshold`` (dedup_minhash only),
    ``bands='auto'`` first resolves through the ``minhash_tune`` S-curve.
    Returns the band count."""
    if threshold is not None and bands == "auto":
        bands = minhash_tune(threshold, num_hashes)["bands"]
    if not isinstance(bands, int) or isinstance(bands, bool) or bands < 1:
        raise ParameterException(
            "bands must be a positive int" + (" or 'auto'" if threshold is not None else "")
        )
    if num_hashes % bands != 0:
        raise ParameterException("num_hashes must be divisible by bands")
    return bands


def _expand_collapsed(
    rep_pairs: DataFrame,
    members: DataFrame,
    mode: str,
    score_col: str,
    intra_score: Column,
    keep,
    has_dups: bool = True,
    require_ne: bool = False,
    live_reps: DataFrame | None = None,
    swap=None,
) -> DataFrame:
    """Expand representative-level LSH pairs back to member level.

    ``require_ne``: exclude intra-group pairs (and star edges) of
    EMPTY-signature groups. For inverted-index candidate generation an
    empty shingle set owns no posting, so the plain path can never pair
    two empty docs — the collapse path must not either, even when a
    degenerate ``threshold <= 0`` lets a 0.0 intra score through ``keep``.
    (MinHash is different: empty docs share the sentinel signature and DO
    band-collide on the plain path, so its call site leaves this False.)

    ``live_reps``: optional one-column ``(__rep)`` frame restricting intra
    pairs / star edges to groups with at least one SURVIVING posting under
    a document-frequency cap (see ``_capped_postings``) — the collapse
    path's mirror of the plain path's "a pair needs a shared live posting"
    rule. Cross-group pairs need no filter: they only exist because a live
    posting joined them.

    ``has_dups=False`` (the guarded-collapse fast path — every group is a
    singleton, so reps ARE the members) skips the expansion joins entirely:
    rep-level pairs are already member-level and intra-group pairs are
    empty.

    ``members`` is the annotated table (``__id, __rep, __ne`` are read) —
    one row per input doc with its exact-duplicate group representative
    (see ``_annotate_groups``). Members share their representative's
    signature, so two docs collide on a band iff their reps collide —
    rep-level results are exact.

    mode='pairs': full member-level ``(ID_A, ID_B, score)``. Cross-group
    pairs inherit the rep pair's score (identical sets ⇒ identical
    similarity); same-group pairs score ``intra_score`` and pass through the
    ``keep`` predicate. Inherently quadratic inside exact-duplicate groups —
    that is the contract of 'pairs', not an implementation artifact.
    ``swap`` (asymmetric scores): maps a score to its mirror, applied to a
    cross-group pair whose id normalization (least, greatest) reverses the
    representatives' order.
    mode='edges' (and the 'filter' internals): connectivity-preserving
    ``(ID_A, ID_B)`` — rep-level pairs plus ONE star edge per exact copy
    (join-free: just a filter on ``members``), O(n + rep_pairs) rows.
    Connected components (and the dropped-id set ``ID_B``) are identical to
    the full expansion's.
    """
    if not has_dups:
        return rep_pairs if mode == "pairs" else rep_pairs.select("ID_A", "ID_B")
    imembers = members.filter(F.col("__ne")) if require_ne else members
    if live_reps is not None:
        imembers = imembers.join(live_reps, on="__rep", how="left_semi")
    if mode in ("edges", "filter"):
        star = (
            imembers.filter(F.col("__id") != F.col("__rep"))
            .filter(keep(intra_score))
            .select(F.col("__rep").alias("ID_A"), F.col("__id").alias("ID_B"))
        )
        return rep_pairs.select("ID_A", "ID_B").unionByName(star)
    ma = members.select(F.col("__rep").alias("ID_A"), F.col("__id").alias("__xa"))
    mb = members.select(F.col("__rep").alias("ID_B"), F.col("__id").alias("__xb"))
    score = F.col(score_col)
    if swap is not None:
        score = F.when(F.col("__xa") > F.col("__xb"), swap(score)).otherwise(score)
    cross = (
        rep_pairs.join(ma, on="ID_A")
        .join(mb, on="ID_B")
        .select(
            F.least("__xa", "__xb").alias("ID_A"),
            F.greatest("__xa", "__xb").alias("ID_B"),
            score.alias(score_col),
        )
    )
    m1 = imembers.select("__rep", "__ne", F.col("__id").alias("__xa"))
    m2 = imembers.select("__rep", F.col("__id").alias("__xb"))
    intra = (
        m1.join(m2, on="__rep")
        .filter(F.col("__xa") < F.col("__xb"))
        .withColumn(score_col, intra_score)
        .filter(keep(F.col(score_col)))
        .select(F.col("__xa").alias("ID_A"), F.col("__xb").alias("ID_B"), score_col)
    )
    return cross.unionByName(intra)


def _capped_postings(
    rep_base: DataFrame, max_doc_freq: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Slim ``(__id, __s)`` inverted-index postings for the candidate
    self-join, optionally capped by shingle document frequency.

    The uncapped inverted index is the scale-killer of exact n-gram dedup:
    a shingle shared by ``df`` DISTINCT documents ("terms of service",
    boilerplate sentences the exact-dup collapse cannot merge) makes the
    posting self-join emit O(df²) candidate pairs. ``max_doc_freq`` drops
    postings whose shingle appears in more than that many distinct shingle
    SETS before the join, bounding any single posting's contribution to
    C(cap, 2). Recall contract: a pair is missed only if EVERY shingle the
    two documents share is ultra-common (df > cap) — exactly the pairs
    whose evidence is pure boilerplate.

    df counts DISTINCT shingle sets (via the set fingerprint), not raw
    rows, so the plain path (residual exact duplicates ≤ COLLAPSE_MIN_GROUP
    still present) and the collapse path (one representative per set) see
    the SAME frequencies and produce identical results; the DuckDB oracle
    mirrors the distinct-set count. Returns ``(postings, live_reps)`` where
    ``live_reps`` is the one-column set of ids that still own ≥1 posting —
    ``None`` when uncapped (then "live" == "non-empty", already tracked by
    ``__ne``). The df aggregate and the filter join both key on the shingle,
    the same key as the downstream self-join, so the extra step rides the
    exchange the join needs anyway.
    """
    inv = rep_base.select("__id", F.explode("__sh").alias("__s"))
    if max_doc_freq is None:
        return inv, None
    inv_fp = rep_base.select(
        _set_fp().alias("__fp"), "__id", F.explode("__sh").alias("__s")
    )
    dfreq = (
        inv_fp.groupBy("__s")
        .agg(F.countDistinct("__fp").alias("__df"))
        .filter(F.col("__df") <= max_doc_freq)
        .select("__s")
    )
    capped = inv_fp.join(dfreq, on="__s").select("__id", "__s")
    live = capped.select(F.col("__id").alias("__rep")).distinct()
    return capped, live


def _check_doc_freq(max_doc_freq) -> None:
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ParameterException("max_doc_freq must be >= 1 (or None)")


@spark_transform("dedup_minhash", category="dedup", streaming_ok=False)
def dedup_minhash(
    df: DataFrame,
    text: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int | str = 4,
    shingle_size: int = 3,
    threshold: float = 0.5,
    mode: str = "pairs",
) -> DataFrame:
    """MinHash + LSH near-duplicate detection (SURVEY §7.2 M7): the
    module's near-dup pipeline with ``num_hashes`` minhashes cut into
    ``bands`` band keys as the candidate key and exact shingle-set Jaccard
    as the verify score.
    bands='auto' picks the banding from the S-curve optimizer
    (``minhash_tune(threshold, num_hashes)``) so the LSH knee sits at the
    verification threshold — candidate recall/cost tracks the threshold the
    caller actually asked for instead of a fixed 4×4 split.
    mode='pairs': (ID_A, ID_B, JACCARD) for near-dup pairs.
    mode='filter': input rows minus any doc near-duplicate of a smaller id.
    mode='edges': connectivity-preserving edge list (ID_A, ID_B) — rep-level
    near-dup pairs plus one star edge per exact copy, O(n + rep_pairs) rows
    where 'pairs' is inherently quadratic inside exact-duplicate groups.

    Skew note: exact duplicates (20-30% of real web crawls) share identical
    signatures and would collide on EVERY band — a 100k-copy boilerplate page
    puts ~10^10 candidate pairs in one bucket; the collapse makes the band
    self-join see each distinct shingle set once.
    """
    bands = _check_bands(num_hashes, bands, threshold)
    check_mode(mode)
    df, inp = reread_input(df, mode)
    # persisted inside: the annotated signature table feeds the band join,
    # both verify sides AND the member expansion; released with the result
    sig, has_dups, caches = _annotate_sets(
        minhash_signatures(df, text, id_col, num_hashes, shingle_size)
    )
    reps = _reps(sig)
    cand = _candidate_pairs(_bands_long(reps, num_hashes, bands), "__band")
    out = _expand_collapsed(
        _jaccard_pairs(cand, reps, threshold), sig, mode, "JACCARD",
        _dup_score(), lambda c: c >= threshold, has_dups=has_dups,
    )
    return finish(df, id_col, mode, out, *caches, *inp)


@spark_transform("ngram_containment", category="dedup", streaming_ok=False)
def ngram_containment(
    df: DataFrame,
    text: str,
    id_col: str,
    shingle_size: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-duplicate detection by shingle CONTAINMENT
    (|A∩B|/|A| — public measure, Broder 1997): finds documents largely
    CONTAINED in another even when Jaccard is low because the containing
    document is much longer — quote farms, boilerplate-wrapped articles,
    concatenated dumps. ``dedup_minhash``'s symmetric Jaccard misses
    exactly these (a 100-word doc pasted into a 10k-word page has
    J ≈ 0.01 but containment 1.0), and MinHash-LSH band recall is itself
    governed by Jaccard — so candidates come from the exact inverted
    shingle index (any pair with containment > 0 shares a posting), not
    from bands.

    Output ``(ID_A, ID_B, CONT_A_IN_B, CONT_B_IN_A)`` for candidate pairs
    (ID_A < ID_B) where the LARGER direction ≥ ``threshold``; containment
    of an empty shingle set scores 0.0. Exact but shuffle-heavier than
    sketch methods (prefer sketches beyond ~10^8 docs). ``max_doc_freq``
    caps posting document frequency (see ``_capped_postings`` for the
    recall contract); ``None`` disables the cap.
    """
    _check_doc_freq(max_doc_freq)
    sig, has_dups, caches = _annotate_sets(_shingle_sets(df, text, id_col, shingle_size))
    reps = _reps(sig)
    inv, live = _capped_postings(reps, max_doc_freq)
    cand = _attach(_candidate_pairs(inv, "__s"), ("__sh",), reps)
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    c_ab = F.when(F.size("__sh_a") > 0, inter / F.size("__sh_a")).otherwise(F.lit(0.0))
    c_ba = F.when(F.size("__sh_b") > 0, inter / F.size("__sh_b")).otherwise(F.lit(0.0))
    rep_pairs = (
        cand.withColumn("CONT_A_IN_B", c_ab)
        .withColumn("CONT_B_IN_A", c_ba)
        .filter(F.greatest("CONT_A_IN_B", "CONT_B_IN_A") >= threshold)
        .select(
            F.col("__id_a").alias("ID_A"), F.col("__id_b").alias("ID_B"),
            F.struct(
                F.col("CONT_A_IN_B").alias("ab"), F.col("CONT_B_IN_A").alias("ba")
            ).alias("__sc"),
        )
    )
    # identical sets contain each other fully; an empty set owns no
    # posting, so its copies never pair (require_ne), and under
    # max_doc_freq only groups still owning a live posting do (live_reps)
    out = _expand_collapsed(
        rep_pairs, sig, "pairs", "__sc",
        F.struct(F.lit(1.0).alias("ab"), F.lit(1.0).alias("ba")),
        lambda c: F.greatest(c["ab"], c["ba"]) >= threshold,
        has_dups=has_dups, require_ne=True, live_reps=live,
        swap=lambda c: F.struct(c["ba"].alias("ab"), c["ab"].alias("ba")),
    ).select(
        "ID_A", "ID_B",
        F.col("__sc.ab").alias("CONT_A_IN_B"), F.col("__sc.ba").alias("CONT_B_IN_A"),
    )
    return release_with(out, *caches)


@spark_transform("near_dup_clusters", category="dedup", streaming_ok=False)
def near_dup_clusters(
    df: DataFrame,
    text: str,
    id_col: str,
    method: str = "minhash",
    threshold: float = 0.5,
    max_iterations: int = 20,
    **kwargs,
) -> DataFrame:
    """Transitive near-duplicate clusters: ``CLUSTER_ID`` = the minimum doc
    id reachable through the near-dup pair graph (pairwise filtering keeps
    B when A~B and B~C but drops A and C independently; training-data dedup
    wants ONE canonical doc per connected component).

    Distributed connected components by iterative min-label propagation:
    each round joins the (slim, 2-column) edge list with current labels and
    takes the per-node min — converges in ≤ graph-diameter rounds (near-dup
    components are shallow; ``max_iterations`` bounds adversarial chains).
    Candidate pairs come from the banded LSH path (``method`` = 'minhash' or
    'simhash'), so the whole pipeline stays far from all-pairs; the labels
    come from ``graph.min_label_components``, the loop behind
    ``connected_components``. Output: ``(id_col, CLUSTER_ID)`` for every
    input row (singletons own themselves).
    """
    _, out, caches = _clusters(
        df, text, id_col, method, threshold, max_iterations, **kwargs
    )
    return release_with(out, *caches)


def _clusters(
    df: DataFrame,
    text: str,
    id_col: str,
    method: str = "minhash",
    threshold: float = 0.5,
    max_iterations: int = 20,
    **kwargs,
) -> tuple[DataFrame, DataFrame, tuple]:
    """``near_dup_clusters``' pipeline, shared by the three operators built
    on it. Each reads ``df`` again after the clustering's eager jobs (the
    final join back to the input), so a mid-chain input is persisted once
    here (``reread_input``), at the outermost consumer. Returns ``(df,
    clusters, caches)``: the input to read from, the ``(id_col,
    CLUSTER_ID)`` frame, and the caches the caller ties to its result with
    ``release_with``."""
    from .graph import check_max_iterations, min_label_components

    check_max_iterations(max_iterations)
    i = resolve_col(df, id_col)
    if method not in ("minhash", "simhash"):
        raise ParameterException("method must be 'minhash' or 'simhash'")
    df, inp = reread_input(df)
    # 'edges' mode: rep-level pairs + star edges — same connected components
    # as the full pair set at O(n + rep_pairs) rows, where 'pairs' is
    # quadratic inside exact-duplicate groups (a 100k-copy page would emit
    # ~5·10^9 intra-group pairs that all carry the same label information).
    # The pair frame itself is not kept, so its signature caches free before
    # the loop runs; the loop reads only its own edge cache.
    with released_on_error(*inp):
        pairs = (
            dedup_minhash(df, text, id_col, threshold=threshold, mode="edges", **kwargs)
            if method == "minhash"
            else dedup_simhash(df, text, id_col, mode="edges", **kwargs)
        ).select(F.col("ID_A").alias("__src"), F.col("ID_B").alias("__dst"))
        labels, edges = min_label_components(pairs, max_iterations)
    # CLUSTER_ID stays in the id column's native type: a bigint cast on a
    # string doc-id column would NULL every label and make dedup_by_cluster's
    # (id == CLUSTER_ID) filter drop all rows.
    out = df.select(F.col(i)).join(
        labels.withColumnRenamed("__id", i), on=i, how="left"
    ).select(
        F.col(i),
        F.coalesce("__lab", F.col(i)).cast(df.schema[i].dataType).alias("CLUSTER_ID"),
    )
    return df, out, (edges, *inp)


@spark_transform("dedup_by_cluster", category="dedup", streaming_ok=False)
def dedup_by_cluster(
    df: DataFrame,
    text: str,
    id_col: str,
    method: str = "minhash",
    threshold: float = 0.5,
    **kwargs,
) -> DataFrame:
    """Keep ONE canonical row (minimum id) per transitive near-dup cluster —
    the filter-mode counterpart of ``near_dup_clusters`` and the strongest
    dedup guarantee: A~B~C collapses to A even when A and C never pair
    directly. Input rows whose id equals their cluster id survive."""
    i = resolve_col(df, id_col)
    df, clusters, caches = _clusters(df, text, id_col, method, threshold, **kwargs)
    reps = clusters.filter(F.col(i) == F.col("CLUSTER_ID")).select(i)
    return release_with(df.join(reps, on=i, how="left_semi"), *caches)


@spark_transform("dedup_soft", category="dedup", streaming_ok=False)
def dedup_soft(
    df: DataFrame,
    text: str,
    id_col: str,
    method: str = "minhash",
    threshold: float = 0.5,
    power: float = 1.0,
    round_to: int = 6,
    **kwargs,
) -> DataFrame:
    """Duplicate-aware REWEIGHTING — the soft alternative to hard dedup
    (public technique: SoftDedup, He et al. ACL 2024 — down-weight
    duplicated content instead of deleting it, preserving coverage while
    removing the duplication bias from the training distribution). Every
    row survives, annotated with ``CLUSTER_ID`` (transitive near-dup
    component, :func:`near_dup_clusters`), ``DUP_COUNT`` (component
    size), and ``SAMPLE_WEIGHT`` = ``round(DUP_COUNT^-power, round_to)``
    — 1.0 for unique docs, 1/n per member of an n-way duplicate cluster
    (``power`` sharpens/softens the penalty; the weights feed
    ``importance_sample(weight="SAMPLE_WEIGHT", ...)`` or a
    loss-weighting column).

    Scale shape = near_dup_clusters (banded LSH candidates, min-label
    propagation over rep-level edges) plus one count aggregation on the
    slim (id, cluster) frame and two key joins — no new corpus-sized
    shuffle beyond the clustering it composes.
    """
    if power <= 0:
        raise ParameterException("power must be > 0")
    i = resolve_col(df, id_col)
    df, clusters, caches = _clusters(df, text, id_col, method, threshold, **kwargs)
    sizes = clusters.groupBy("CLUSTER_ID").agg(
        F.count(F.lit(1)).cast("bigint").alias("DUP_COUNT")
    )
    lab = clusters.join(sizes, on="CLUSTER_ID").withColumn(
        "SAMPLE_WEIGHT",
        F.round(F.pow(F.col("DUP_COUNT").cast("double"), -float(power)),
                round_to),
    )
    return release_with(df.join(lab, on=i, how="inner"), *caches)


def _simhash_over_hashes(hashes: Column, bits: int = 32) -> Column:
    """SimHash from a pre-computed distinct token-hash array: per bit, sum ±1
    votes; bit set if the sum is positive. JVM array expressions only —
    callers must stage the hash array in its own column so md5 runs once per
    token, not once per bit."""
    sig = F.lit(0).cast("bigint")
    for b in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )
        sig = sig + F.when(vote > 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0))
    return sig


@spark_transform("dedup_simhash", category="dedup", streaming_ok=False)
def dedup_simhash(
    df: DataFrame,
    text: str,
    id_col: str,
    hamming_threshold: int = 3,
    mode: str = "pairs",
) -> DataFrame:
    """SimHash near-dup detection over a 32-bit signature (SURVEY §7.2 M7).

    Banding: 4 bytes; pigeonhole guarantees any pair within Hamming distance
    3 collides on ≥1 byte-band. Verification = bit_count(xor) ≤ threshold.
    mode='pairs' → (ID_A, ID_B, HAMMING); mode='signatures' → per-doc
    (id, SIMHASH); mode='edges' → connectivity-preserving (ID_A, ID_B)
    (see ``_expand_collapsed``); mode='filter' → input rows minus any doc
    within the Hamming threshold of a smaller id.

    Skew note: docs sharing a 32-bit signature (every exact duplicate, plus
    genuine hamming-0 neighbors) would collide on all 4 bands; the band
    self-join runs over one representative per DISTINCT signature, and
    same-signature pairs (HAMMING = 0 by definition) are expanded afterwards.
    """
    inp: tuple = ()
    if mode != "signatures":
        check_mode(mode)
        df, inp = reread_input(df, mode)
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    sig = spread(df).select(
        F.col(i).alias("__id"),
        F.array_distinct(F.transform(tokens_expr(F.col(t)), md5_int)).alias("__hv"),
    ).select("__id", _simhash_over_hashes(F.col("__hv")).alias("SIMHASH"))
    if mode == "signatures":
        return sig.select(F.col("__id").alias(i), "SIMHASH")
    sig, has_dups, caches = _annotate_groups(sig, F.col("SIMHASH"), F.lit(True))
    band_keys = _reps(sig).select(
        "__id",
        "SIMHASH",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":", F.lit(b), F.shiftright("SIMHASH", b * 8).bitwiseAND(F.lit(255))
                    )
                    for b in range(4)
                ]
            )
        ).alias("__band"),
    )
    # the 8-byte signatures ride the band join, so verifying needs no attach
    ham = F.bit_count(F.col("SIMHASH_a").bitwiseXOR(F.col("SIMHASH_b")))
    rep_pairs = (
        _candidate_pairs(band_keys, "__band", carry=("SIMHASH",))
        .withColumn("HAMMING", ham)
        .filter(F.col("HAMMING") <= hamming_threshold)
        .select(F.col("__id_a").alias("ID_A"), F.col("__id_b").alias("ID_B"), "HAMMING")
    )
    out = _expand_collapsed(
        rep_pairs, sig, mode, "HAMMING",
        F.lit(0).cast("integer"), lambda c: c <= hamming_threshold,
        has_dups=has_dups,
    )
    return finish(df, id_col, mode, out, *caches, *inp)


def _md5_int_spark_sql(x: str = "x") -> str:
    """Spark-SQL rendering of _hash.md5_int."""
    return f"CAST(conv(substr(md5({x}), 1, 8), 16, 10) AS BIGINT)"


def _shingle_sets_sql(source, text, id_col, shingle_size) -> str:
    """SQL twin of ``_shingle_sets``: the staged ``(__id, __sh)`` table."""
    from .text import _tokens_sql

    return (
        f"(SELECT __id, {shingles_spark_sql('__t', shingle_size)} AS __sh "
        f"FROM (SELECT {id_col} AS __id, {_tokens_sql(text)} AS __t "
        f"FROM {source}))"
    )


def _cand_sql(keyed: str, key: str) -> str:
    """SQL twin of ``_candidate_pairs`` (self-join form): distinct
    ``(__ida, __idb)`` pairs of ``keyed`` rows sharing ``key``."""
    return (
        f"(SELECT DISTINCT a.__id AS __ida, b.__id AS __idb FROM {keyed} a "
        f"JOIN {keyed} b ON a.{key} = b.{key} AND a.__id < b.__id)"
    )


def _attach_sql(cand: str, tbl: str) -> str:
    """SQL twin of ``_attach``: candidate pairs ``c`` joined to both
    sides' rows of ``tbl`` as ``sa`` and ``sb``."""
    return (
        f"{cand} c JOIN {tbl} sa ON sa.__id = c.__ida "
        f"JOIN {tbl} sb ON sb.__id = c.__idb"
    )


def _jaccard_sql(a: str = "sa", b: str = "sb") -> str:
    """SQL twin of ``_jaccard``: exact set Jaccard of ``a.__sh`` and
    ``b.__sh``, in the ``size(array_union(...))`` form."""
    un = f"size(array_union({a}.__sh, {b}.__sh))"
    return (
        f"CASE WHEN {un} > 0 THEN "
        f"CAST(size(array_intersect({a}.__sh, {b}.__sh)) AS DOUBLE) / {un} "
        f"ELSE CAST(0.0 AS DOUBLE) END"
    )


def _jaccard_pairs_sql(tbl: str, cand: str, threshold) -> str:
    """SQL twin of ``_jaccard_pairs`` over a shingle table and its
    candidate pairs."""
    return (
        f"SELECT __ida AS ID_A, __idb AS ID_B, JACCARD FROM "
        f"(SELECT c.__ida, c.__idb, {_jaccard_sql()} AS JACCARD FROM "
        f"{_attach_sql(cand, tbl)}) WHERE JACCARD >= {threshold}"
    )


def _simhash_spark_sql(hv: str = "__hv", bits: int = 32) -> str:
    """Spark-SQL rendering of _simhash_over_hashes over a staged
    bigint-hash-array column: per bit, ±1 votes folded with aggregate()."""
    terms = []
    for b in range(bits):
        vote = (
            f"aggregate({hv}, CAST(0 AS BIGINT), (acc, h) -> acc + "
            f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        )
        terms.append(
            f"CASE WHEN {vote} > 0 THEN CAST({2 ** b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
        )
    return "(" + " + ".join(terms) + ")"


@renderer("dedup_simhash")
def _r_dedup_simhash(
    source, text, id_col, hamming_threshold=3, mode="pairs"
) -> str:
    """Plain all-pairs rendering: the byte-band candidate join is a
    result-preserving optimization ONLY while the pigeonhole guarantee
    holds (4 bands over 32 bits recall every pair within Hamming distance
    3), so pairs/filter render for ``hamming_threshold <= 3`` and raise
    above it — there the executed banded path is deliberately lossy and no
    single-pass SQL reproduces it. The exact-duplicate collapse needs no
    special casing (identical signatures pair at HAMMING = 0 either way).
    mode='edges' is connectivity-equal but not row-equal to plain pairs. NOTE: the signature subquery inlines at each reference
    (pairs joins it twice) — executed-SQL recompute the DataFrame path
    avoids by persisting; the render is an export artifact."""
    from ..errors import TransformRenderingException
    from .text import _tokens_sql

    sig_tbl = (
        f"(SELECT __id, {_simhash_spark_sql()} AS SIMHASH FROM "
        f"(SELECT {id_col} AS __id, array_distinct(transform("
        f"{_tokens_sql(text)}, x -> {_md5_int_spark_sql()})) AS __hv "
        f"FROM {source}))"
    )
    if mode == "signatures":
        return f"SELECT __id AS {id_col}, SIMHASH FROM {sig_tbl}"
    if mode not in ("pairs", "filter") or hamming_threshold > 3:
        raise TransformRenderingException(
            "dedup_simhash renders for mode='signatures', or modes "
            "'pairs'/'filter' with hamming_threshold <= 3 (the 4-band "
            "pigeonhole recall bound; above it the banded path is lossy)"
        )
    ham = "bit_count(a.SIMHASH ^ b.SIMHASH)"
    pairs = (
        f"SELECT a.__id AS ID_A, b.__id AS ID_B, {ham} AS HAMMING "
        f"FROM {sig_tbl} a JOIN {sig_tbl} b ON a.__id < b.__id "
        f"WHERE {ham} <= {int(hamming_threshold)}"
    )
    return pairs if mode == "pairs" else drop_sql(source, id_col, pairs)


def _minhash_sig_spark_sql(sh: str, num_hashes: int) -> str:
    """Spark-SQL rendering of minhash_signatures' one-pass fold: md5 each
    shingle once, fold elementwise minima of the affine hash family."""
    member = (
        f"transform(sequence(0, {num_hashes - 1}), "
        f"j -> (h * (2 * j + 1) + (j * 12345 + 1)) % CAST({MERSENNE} AS BIGINT))"
    )
    return (
        f"aggregate(transform({sh}, x -> {_md5_int_spark_sql()}), "
        f"array_repeat(CAST({MERSENNE} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, {member}, (x, y) -> least(x, y)))"
    )


@renderer("dedup_minhash")
def _r_dedup_minhash(
    source, text, id_col, num_hashes=16, bands=4, shingle_size=3,
    threshold=0.5, mode="pairs",
) -> str:
    """Full banded rendering: signature fold -> band md5s -> band equi-join
    -> exact Jaccard on shingle sets -> threshold. LSH banding is part of
    the semantics (non-colliding pairs are deliberately absent), so the SQL
    reproduces it rather than falling back to all-pairs; the exact-dup
    collapse is result-preserving (identical sets share every band and
    score exactly 1.0). bands='auto' resolves through the same
    minhash_tune S-curve the DataFrame path uses. mode='edges' is a
    connectivity artifact, not row-equal to plain pairs — not rendered."""
    from ..errors import TransformRenderingException

    if mode not in ("pairs", "filter"):
        raise TransformRenderingException(
            "dedup_minhash renders for mode='pairs'/'filter' only "
            "(edges is a multi-stage connectivity artifact)"
        )
    mh_tbl, cand = _banded_minhash_sql(
        source, text, id_col, num_hashes, bands, shingle_size, threshold
    )
    pairs = _jaccard_pairs_sql(mh_tbl, cand, threshold)
    return pairs if mode == "pairs" else drop_sql(source, id_col, pairs)


@spark_transform("dedup_ngram_jaccard", category="dedup", streaming_ok=False)
def dedup_ngram_jaccard(
    df: DataFrame,
    text: str,
    id_col: str,
    shingle_size: int = 3,
    threshold: float = 0.5,
    mode: str = "pairs",
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs via inverted-index candidate
    generation: explode shingles, self-join on shingle, dedup candidate
    pairs, verify exact Jaccard (SURVEY §7.2 M7). Exact but
    shuffle-heavier than minhash — prefer dedup_minhash beyond ~10^8 docs
    (documented trade-off).

    Skew note: exact duplicates share every posting, so the inverted-index
    self-join runs over one representative per distinct shingle SET
    (identical sets ⇒ Jaccard exactly 1.0, expanded back afterwards) —
    a 100k-copy page contributes ONE doc to each posting list instead of
    turning every one of its shingles into a 100k-deep hot posting.

    ``max_doc_freq`` caps the OTHER skew source the collapse cannot touch:
    a shingle shared by many DISTINCT documents (common phrases,
    boilerplate) whose posting self-join is O(df²). Postings with df >
    ``max_doc_freq`` distinct shingle sets are dropped before the join
    (see ``_capped_postings``); a pair is then missed only if every
    shingle it shares is that common. ``None`` disables the cap (exact,
    unbounded)."""
    _check_doc_freq(max_doc_freq)
    check_mode(mode)
    df, inp = reread_input(df, mode)
    sig, has_dups, caches = _annotate_sets(_shingle_sets(df, text, id_col, shingle_size))
    reps = _reps(sig)
    inv, live = _capped_postings(reps, max_doc_freq)
    out = _expand_collapsed(
        _jaccard_pairs(_candidate_pairs(inv, "__s"), reps, threshold), sig, mode,
        "JACCARD", _dup_score(), lambda c: c >= threshold,
        has_dups=has_dups, require_ne=True, live_reps=live,
    )
    return finish(df, id_col, mode, out, *caches, *inp)


def _inverted_cand_sql(source, text, id_col, shingle_size, max_doc_freq):
    """Spark-SQL rendering of the capped inverted-index candidate pipeline
    shared by the dedup_ngram_jaccard / ngram_containment renderers:
    returns ``(shingle_table_sql, candidate_pairs_sql)``. Renders the PLAIN
    path — the exact-dup collapse is a result-preserving optimization, and
    the df cap counts DISTINCT shingle sets (COUNT(DISTINCT array_sort)),
    so the rendered SQL reproduces the executed results exactly."""
    sh_tbl = _shingle_sets_sql(source, text, id_col, shingle_size)
    inv0 = f"(SELECT __id, array_sort(__sh) AS __ss, explode(__sh) AS __s FROM {sh_tbl})"
    if max_doc_freq is None:
        inv = f"(SELECT __id, __s FROM {inv0})"
    else:
        live = (
            f"(SELECT __s FROM (SELECT __s, COUNT(DISTINCT __ss) AS __df "
            f"FROM {inv0} GROUP BY __s) WHERE __df <= {int(max_doc_freq)})"
        )
        inv = (
            f"(SELECT i.__id, i.__s FROM {inv0} i JOIN {live} l ON i.__s = l.__s)"
        )
    return sh_tbl, _cand_sql(inv, "__s")


@renderer("dedup_ngram_jaccard")
def _r_dedup_ngram_jaccard(
    source, text, id_col, shingle_size=3, threshold=0.5, mode="pairs",
    max_doc_freq=1000,
) -> str:
    from ..errors import TransformRenderingException

    if mode not in ("pairs", "filter"):
        raise TransformRenderingException(
            "dedup_ngram_jaccard renders for mode='pairs'/'filter' only "
            "(edges is a multi-stage connectivity artifact)"
        )
    sh_tbl, cand = _inverted_cand_sql(source, text, id_col, shingle_size, max_doc_freq)
    pairs = _jaccard_pairs_sql(sh_tbl, cand, threshold)
    return pairs if mode == "pairs" else drop_sql(source, id_col, pairs)


@renderer("ngram_containment")
def _r_ngram_containment(
    source, text, id_col, shingle_size=3, threshold=0.5, max_doc_freq=1000
) -> str:
    sh_tbl, cand = _inverted_cand_sql(source, text, id_col, shingle_size, max_doc_freq)

    def cont(denom):
        return (
            f"CASE WHEN size({denom}.__sh) > 0 THEN "
            f"CAST(size(array_intersect(sa.__sh, sb.__sh)) AS DOUBLE) / "
            f"size({denom}.__sh) ELSE CAST(0.0 AS DOUBLE) END"
        )

    return (
        f"SELECT __ida AS ID_A, __idb AS ID_B, CONT_A_IN_B, CONT_B_IN_A FROM "
        f"(SELECT c.__ida, c.__idb, {cont('sa')} AS CONT_A_IN_B, "
        f"{cont('sb')} AS CONT_B_IN_A FROM {_attach_sql(cand, sh_tbl)}) "
        f"WHERE greatest(CONT_A_IN_B, CONT_B_IN_A) >= {threshold}"
    )


def _hyperplane_sign(vec: Column, j: int) -> Column:
    """Pseudo-random hyperplane sign for plane j: dot(vec, h_j) > 0 where
    h_j[i] = +1 if ((i·2654435761 + j·40503) mod 97) < 48 else −1. Pure
    integer arithmetic — reproducible in any engine."""
    signed = F.zip_with(
        vec,
        F.transform(
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda i: F.when(
                (i * F.lit(2654435761) + F.lit(j * 40503)) % 97 < 48, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        ),
        lambda v, s: v.cast("double") * s,
    )
    dot = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
    return (dot > 0).cast("int")


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays in double precision (JVM)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, x: acc + x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _cosine_sql(a: str, b: str) -> str:
    """Spark-SQL text of :func:`cosine_expr` — SAME formula structure
    (unnormalized dot / product of norms, zero-guard) so rendered-SQL
    parity is bit-exact with the DataFrame path at any rounding."""
    dot = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )

    def norm(v):
        return (
            f"sqrt(aggregate(transform({v}, x -> CAST(x AS DOUBLE) * "
            f"CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
        )

    na, nb = norm(a), norm(b)
    return (
        f"CASE WHEN {na} > 0 AND {nb} > 0 THEN {dot} / ({na} * {nb}) "
        f"ELSE CAST(0.0 AS DOUBLE) END"
    )


def minhash_tune(
    threshold: float,
    num_hashes: int = 16,
    false_positive_weight: float = 1.0,
    false_negative_weight: float = 1.0,
) -> dict:
    """Pick the LSH banding (bands, rows_per_band) for a target Jaccard
    ``threshold`` — the standard S-curve analysis (Leskovec/Rajaraman/
    Ullman, *Mining of Massive Datasets* §3.4, public): a pair with
    Jaccard s collides on >= 1 of b bands of r rows with probability
    1 - (1 - s^r)^b, and the curve's knee sits near (1/b)^(1/r).

    Scans every divisor b of ``num_hashes`` and scores the weighted sum
    of the false-positive area (collision probability below the
    threshold) and false-negative area (miss probability above it),
    integrated numerically — the datasketch-style tuning objective.
    Returns {"bands", "rows_per_band", "knee", "fp_area", "fn_area"}.
    Driver-side math only (no Spark); feed the result to
    ``dedup_minhash(num_hashes=..., bands=...)``.

    >>> minhash_tune(0.5, 16)["bands"]
    4
    """
    if not 0.0 < threshold < 1.0:
        raise ParameterException("threshold must be in (0, 1)")
    if num_hashes < 1:
        raise ParameterException("num_hashes must be >= 1")
    best = None
    steps = 200
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            collide = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += collide / steps
            else:
                fn += (1.0 - collide) / steps
        score = false_positive_weight * fp + false_negative_weight * fn
        cand = {
            "bands": b,
            "rows_per_band": r,
            "knee": round((1.0 / b) ** (1.0 / r), 6),
            "fp_area": round(fp, 6),
            "fn_area": round(fn, 6),
        }
        if best is None or score < best[0]:
            best = (score, cand)
    return best[1]


def _sql_id_literal(x) -> str:
    if isinstance(x, bool) or not isinstance(x, (int, float)):
        return "'" + str(x).replace("'", "''") + "'"
    return str(x)


@spark_transform("dedup_embedding", category="dedup", streaming_ok=False)
def dedup_embedding(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_planes: int = 8,
    method: str = "lsh",
    round_scores: int | None = 6,
    mode: str = "pairs",
) -> DataFrame:
    """Embedding near-dup pairs by cosine ≥ threshold (SURVEY §7.2 M7).

    method='lsh': random-hyperplane sign signature buckets candidates —
    cosine runs within buckets only (the scale path; approximate recall).
    method='brute': all-pairs — exact, quadratic; for oracles/small tables.
    ``round_scores`` rounds the cosine before thresholding so results are
    reproducible across engines/float orderings. Output (ID_A, ID_B, COSINE).
    mode='edges' returns the connectivity-preserving (ID_A, ID_B) form;
    mode='filter' returns the input rows minus any row embedding-duplicate
    of a smaller id.

    Skew note: byte-identical vectors (re-crawled pages, default embeddings)
    all land in the same sign bucket; with ``round_scores`` set (the
    default) the bucket join runs over one representative per DISTINCT
    vector and same-vector pairs expand back at cosine exactly 1.0 (zero
    vectors: 0.0). With round_scores=None the raw fp cosine of an identical
    pair is not exactly 1.0 (sqrt(S)² ≠ S), so the collapse is skipped to
    preserve bit-identical output.
    """
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    if method not in ("lsh", "brute"):
        raise ParameterException("method must be 'lsh' or 'brute'")
    check_mode(mode)
    collapse = round_scores is not None
    if not collapse and mode != "pairs":
        raise ParameterException("mode='edges'/'filter' requires round_scores")
    df, inp = reread_input(df, mode)
    base = spread(df).select(F.col(i).alias("__id"), F.col(v).alias("__vec"))
    if method == "lsh":
        sig = F.concat_ws(
            "", *[_hyperplane_sign(F.col("__vec"), j).cast("string") for j in range(num_planes)]
        )
    else:
        sig = F.lit(1)
    base = base.withColumn("__sig", sig)
    if collapse:
        gkey = F.md5(
            F.concat_ws(",", F.transform(F.col("__vec"), lambda x: x.cast("string")))
        )
        nz = (
            F.aggregate(
                F.transform(F.col("__vec"), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0
        )
        base, has_dups, caches = _annotate_groups(
            base, gkey, nz, probe_key=F.hash("__vec")
        )
        pair_src = _reps(base)
    else:
        pair_src, has_dups, caches = base, False, ()
    # one sign bucket per vector, so the bucket join emits each pair once
    left = pair_src.select(
        F.col("__id").alias("__id_a"), F.col("__vec").alias("__v_a"), "__sig"
    )
    right = pair_src.select(
        F.col("__id").alias("__id_b"), F.col("__vec").alias("__v_b"), "__sig"
    )
    cos = cosine_expr(F.col("__v_a"), F.col("__v_b"))
    if round_scores is not None:
        cos = F.round(cos, round_scores)
    rep_pairs = (
        left.join(right, on="__sig")
        .filter(F.col("__id_a") < F.col("__id_b"))
        .withColumn("COSINE", cos)
        .filter(F.col("COSINE") >= threshold)
        .select(F.col("__id_a").alias("ID_A"), F.col("__id_b").alias("ID_B"), "COSINE")
    )
    out = _expand_collapsed(
        rep_pairs, base, mode, "COSINE", _dup_score(), lambda c: c >= threshold,
        has_dups=has_dups,
    )
    return finish(df, id_col, mode, out, *caches, *inp)


@renderer("dedup_embedding")
def _r_dedup_embedding(
    source, vec_col, id_col, threshold=0.95, num_planes=8, method="lsh",
    round_scores=6, mode="pairs",
) -> str:
    """Plain all-pairs rendering: the exact-duplicate collapse inside the
    DataFrame path is a result-preserving optimization (intra pairs score
    a literal 1.0, equal to the rounded cosine of identical vectors at
    round_scores >= 1), so pairs/filter render as the straightforward
    brute formula. mode='edges' is NOT renderable (its star-edge form is
    connectivity-equal but not row-equal to plain pairs); neither is the
    LSH bucket path."""
    from ..errors import TransformRenderingException

    if method != "brute" or mode not in ("pairs", "filter") or (
        round_scores is None or round_scores < 1
    ):
        raise TransformRenderingException(
            "dedup_embedding is SQL-renderable only for method='brute' with "
            "mode in ('pairs', 'filter') and round_scores >= 1"
        )
    cos = f"ROUND({_cosine_sql('a.__v', 'b.__v')}, {int(round_scores)})"
    side = f"(SELECT {id_col} AS __id, {vec_col} AS __v FROM {source})"
    pairs = (
        f"SELECT a.__id AS ID_A, b.__id AS ID_B, {cos} AS COSINE "
        f"FROM {side} a CROSS JOIN {side} b "
        f"WHERE a.__id < b.__id AND {cos} >= {threshold}"
    )
    return pairs if mode == "pairs" else drop_sql(source, id_col, pairs)


@spark_transform("dedup_against", category="dedup", streaming_ok=False)
def dedup_against(
    df: DataFrame,
    text: str,
    id_col: str,
    reference: DataFrame | None = None,
    ref_text: str | None = None,
    ref_id: str | None = None,
    method: str = "exact",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.5,
    mode: str = "filter",
    index: "MinHashIndex | None" = None,
) -> DataFrame:
    """Incremental dedup: drop (mode='filter') or score (mode='pairs')
    documents in ``df`` that duplicate an EXISTING reference corpus — the
    production shape of dedup, where each new crawl batch is cleaned against
    the already-accepted training set instead of re-deduping the world.

    method='exact': normalized-content fingerprint membership — the shuffle
    carries only ``(id, 16-byte md5)`` per side and the reference reduces to
    distinct fingerprints.
    method='minhash': cross-corpus LSH — band-bucket equi-join between the
    batch's and the reference's band tables (slim ``(id, band)`` rows only),
    exact Jaccard computed on surviving candidates alone.

    mode='pairs' returns ``(ID, REF_ID, JACCARD)`` (exact matches score 1.0).
    Neither side is unconditionally broadcast — AQE picks broadcast when the
    batch (typical case) is small; both signature tables are scope-cached and
    released with the result (functions/_cache.py).

    With a prebuilt ``index`` (method='minhash' only) the ``reference`` frame
    is optional — the index carries the whole reference side. If both are
    passed, the reference row count is checked against the count recorded in
    the index at build time, so a stale index can't silently under-dedup.
    """
    check_mode(mode, ("filter", "pairs"))
    if reference is None and index is None:
        raise ParameterException(
            "dedup_against needs a reference frame or a prebuilt MinHashIndex"
        )
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    if reference is not None and index is None:
        # ref columns are only consumed when the reference side is actually
        # built here; on the index path the reference serves the row-count
        # fingerprint check alone, so its column names need not match
        rt = resolve_col(reference, ref_text or text)
        ri = resolve_col(reference, ref_id or id_col)
    if method == "exact":
        if reference is None or index is not None:
            # fail fast on both mismatches: an index can't serve the exact
            # path, and passing one alongside a reference would otherwise
            # leave rt/ri unresolved (the index path above skips them)
            raise ParameterException(
                "method='exact' requires a reference frame and no index "
                "(MinHashIndex only serves method='minhash')"
            )
        df, inp = reread_input(df, mode)
        a = df.select(F.col(i).alias("__id"), norm_fp(F.col(t)).alias("__fp"))
        b = reference.select(F.col(ri).alias("__rid"), norm_fp(F.col(rt)).alias("__fp"))
        if mode == "pairs":
            return a.join(b, "__fp").select(
                F.col("__id").alias("ID"),
                F.col("__rid").alias("REF_ID"),
                F.lit(1.0).alias("JACCARD"),
            )
        matched = a.join(b.select("__fp").dropDuplicates(), "__fp", "leftsemi")
        return finish(df, id_col, mode, matched, *inp, key="__id")
    if method == "minhash":
        bands = _check_bands(num_hashes, bands)
        if index is not None:
            # prebuilt reference index (minhash_index): skip the whole
            # reference-side signature/collapse/banding phase — the
            # amortized production path, identical results by construction
            if (index.num_hashes, index.bands, index.shingle_size) != (
                num_hashes, bands, shingle_size,
            ):
                raise ParameterException(
                    "MinHashIndex was built with different "
                    "num_hashes/bands/shingle_size than this call"
                )
            # a stale index silently under-dedups. Omit reference entirely
            # (it is unused on the index path) to skip the count.
            check_fresh(index, reference)
        df, inp = reread_input(df, mode)
        # Exact-duplicate collapse on BOTH corpora: a boilerplate page with
        # 100k copies in the ACCEPTED reference corpus would otherwise sit
        # in every band bucket 100k deep.
        sig_a, _, caches = _annotate_sets(
            minhash_signatures(df, t, i, num_hashes, shingle_size)
        )
        if index is not None:
            sig_b, rep_b, bb = index.sig, index.reps, index.bands_long
        else:
            sig_b, _, caches_b = _annotate_sets(
                minhash_signatures(reference, rt, ri, num_hashes, shingle_size)
            )
            rep_b = _reps(sig_b)
            bb = _ref_bands(rep_b, num_hashes, bands)
            caches += caches_b
        caches += inp
        rep_a = _reps(sig_a)
        cand = _candidate_pairs(_bands_long(rep_a, num_hashes, bands), "__band", other=bb)
        rep_pairs = _jaccard_pairs(cand, rep_a, threshold, other=rep_b, ids=("ID", "REF_ID"))
        if mode == "pairs":
            ma = sig_a.select(F.col("__rep").alias("ID"), F.col("__id").alias("__xa"))
            mb = sig_b.select(F.col("__rep").alias("REF_ID"), F.col("__id").alias("__xb"))
            pairs = (
                rep_pairs.join(ma, on="ID")
                .join(mb, on="REF_ID")
                .select(
                    F.col("__xa").alias("ID"),
                    F.col("__xb").alias("REF_ID"),
                    "JACCARD",
                )
            )
            return release_with(pairs, *caches)
        # a batch doc matches some reference doc iff its REP matches some
        # reference rep — the dropped set expands join-free off sig_a
        matched = rep_pairs.select(F.col("ID").alias("__rep")).dropDuplicates()
        dupes = sig_a.join(matched, on="__rep", how="left_semi").select(
            F.col("__id").alias("ID")
        )
        return finish(df, id_col, mode, dupes, *caches, key="ID")
    raise ParameterException("method must be 'exact' or 'minhash'")


@renderer("dedup_against")
def _r_dedup_against(
    source,
    text,
    id_col,
    reference,
    ref_text=None,
    ref_id=None,
    method="exact",
    num_hashes=16,
    bands=4,
    shingle_size=3,
    threshold=0.5,
    mode="filter",
) -> str:
    from ..errors import TransformRenderingException
    from .text import _norm_sql

    if method != "exact":
        raise TransformRenderingException(
            "dedup_against is SQL-renderable only for method='exact' "
            "(minhash is a multi-stage LSH band join)"
        )
    et, eri = ref_text or text, ref_id or id_col
    ref_fps = f"SELECT DISTINCT md5({_norm_sql(f'r.{et}')}) AS __fp FROM {reference} r"
    if mode == "pairs":
        return (
            f"SELECT s.{id_col} AS ID, r.{eri} AS REF_ID, 1.0 AS JACCARD "
            f"FROM {source} s JOIN {reference} r "
            f"ON md5({_norm_sql(f's.{text}')}) = md5({_norm_sql(f'r.{et}')})"
        )
    matched = (
        f"SELECT s.{id_col} AS ID FROM {source} s LEFT SEMI JOIN ({ref_fps}) f "
        f"ON md5({_norm_sql(f's.{text}')}) = f.__fp"
    )
    return drop_sql(source, id_col, matched, key="ID")


@spark_transform("dedup_keep_best", category="dedup", streaming_ok=False)
def dedup_keep_best(
    df: DataFrame,
    text: str,
    id_col: str,
    score_col: str,
    method: str = "minhash",
    threshold: float = 0.5,
    **kwargs,
) -> DataFrame:
    """Keep the BEST row per transitive near-dup cluster — like
    ``dedup_by_cluster`` but the survivor maximizes ``score_col`` (ties →
    minimum id) instead of being the minimum id. The practical form of
    cluster dedup for training corpora: among near-identical crawls keep
    the longest / highest-quality copy, not an arbitrary one.

    Scale: clustering is the same label-propagation as
    ``near_dup_clusters``; survivor selection is ONE window shuffle on the
    (already slim) cluster id."""
    i = resolve_col(df, id_col)
    s = resolve_col(df, score_col)
    df, clusters, caches = _clusters(df, text, id_col, method, threshold, **kwargs)
    scored = clusters.select(i, "CLUSTER_ID").join(
        df.select(F.col(i), F.col(s).alias("__score")), on=i
    )
    w = Window.partitionBy("CLUSTER_ID").orderBy(
        F.col("__score").desc(), F.col(i).asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select(i)
    )
    return release_with(df.join(best, on=i, how="left_semi"), *caches)


@spark_transform("minhash_similarity", category="dedup", streaming_ok=False)
def minhash_similarity(
    df: DataFrame,
    text: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    min_est: float = 0.0,
) -> DataFrame:
    """Signature-agreement Jaccard ESTIMATE next to the exact Jaccard for
    every LSH candidate pair — the threshold-calibration diagnostic for the
    minhash family (public property: P[minhash_i(A)=minhash_i(B)] = J(A,B),
    so the fraction of agreeing signature components is an unbiased J
    estimator with stderr ~ sqrt(J(1-J)/num_hashes)). Run it on a corpus
    sample to pick ``dedup_minhash`` thresholds/band counts with evidence
    instead of folklore.

    Output: (ID_A, ID_B, EST_JACCARD, JACCARD) for banded candidates with
    ``EST_JACCARD >= min_est``. EST is k/num_hashes (exact binary fraction —
    no rounding needed cross-engine); JACCARD is the exact set ratio.
    """
    bands = _check_bands(num_hashes, bands)
    sig, has_dups, caches = _annotate_sets(
        minhash_signatures(df, text, id_col, num_hashes, shingle_size)
    )
    reps = _reps(sig)
    cand = _attach(
        _candidate_pairs(_bands_long(reps, num_hashes, bands), "__band"),
        ("__sh", "__mh"), reps,
    )
    agree = F.size(
        F.filter(F.zip_with("__mh_a", "__mh_b", lambda x, y: x == y), lambda b: b)
    )
    est = agree.cast("double") / F.lit(float(num_hashes))
    cand, jac = _jaccard(cand)
    rep_pairs = cand.select(
        F.col("__id_a").alias("ID_A"),
        F.col("__id_b").alias("ID_B"),
        F.struct(est.alias("e"), jac.alias("j")).alias("__sc"),
    )
    # identical shingle sets have identical signatures: est is exactly 1.0
    intra = F.struct(F.lit(1.0).alias("e"), _dup_score().alias("j"))
    expanded = _expand_collapsed(
        rep_pairs, sig, "pairs", "__sc", intra,
        lambda c: c["e"] >= min_est, has_dups=has_dups,
    )
    out = expanded.filter(F.col("__sc.e") >= min_est).select(
        "ID_A",
        "ID_B",
        F.col("__sc.e").alias("EST_JACCARD"),
        F.col("__sc.j").alias("JACCARD"),
    )
    return release_with(out, *caches)


def _banded_minhash_sql(
    source, text, id_col, num_hashes: int, bands, shingle_size: int,
    threshold: float | None = None,
) -> tuple:
    """Shared Spark-SQL rendering of the banded-LSH candidate pipeline
    (signature fold -> band md5s -> band equi-join) used by both the
    dedup_minhash and minhash_similarity renderers — one source of truth so
    a banding/shingle change can never silently diverge between them.
    Returns ``(mh_tbl, cand)``. NOTE: the signature subquery is inlined at
    each reference in the final statement (cand a/b + both verification
    sides = up to 4x recompute when the rendered SQL is EXECUTED) — the
    DataFrame path persists this intermediate instead; the render is the
    reference/export artifact, not the scale path. ``threshold`` resolves
    bands='auto' (dedup_minhash only, see ``_check_bands``)."""
    bands = _check_bands(num_hashes, bands, threshold)
    rpb = num_hashes // bands
    band_exprs = ", ".join(
        "md5(concat_ws(',', {b}, {hs}))".format(
            b=b, hs=", ".join(f"__mh[{b * rpb + r}]" for r in range(rpb))
        )
        for b in range(bands)
    )
    mh_tbl = (
        f"(SELECT __id, __sh, {_minhash_sig_spark_sql('__sh', num_hashes)} AS __mh "
        f"FROM {_shingle_sets_sql(source, text, id_col, shingle_size)})"
    )
    bands_long = f"(SELECT __id, explode(array({band_exprs})) AS __band FROM {mh_tbl})"
    return mh_tbl, _cand_sql(bands_long, "__band")


@renderer("minhash_similarity")
def _r_minhash_similarity(
    source, text, id_col, num_hashes=16, bands=4, shingle_size=3, min_est=0.0
) -> str:
    """Full banded rendering (NOT plain all-pairs): LSH banding is the
    operator's semantics here — non-colliding pairs are deliberately
    absent — so the SQL reproduces signature → band md5s → band equi-join
    → est/exact scores, the same pipeline the DuckDB oracle replays. The
    exact-dup collapse is result-preserving (identical sets ⇒ identical
    signatures ⇒ est 1.0 on every band) and renders as the plain path."""
    mh_tbl, cand = _banded_minhash_sql(
        source, text, id_col, num_hashes, bands, shingle_size
    )
    est = (
        "CAST(size(filter(zip_with(sa.__mh, sb.__mh, (x, y) -> x = y), "
        f"b -> b)) AS DOUBLE) / {float(num_hashes)}"
    )
    return (
        f"SELECT ID_A, ID_B, EST_JACCARD, JACCARD FROM "
        f"(SELECT c.__ida AS ID_A, c.__idb AS ID_B, {est} AS EST_JACCARD, "
        f"{_jaccard_sql()} AS JACCARD FROM {_attach_sql(cand, mh_tbl)}) "
        f"WHERE EST_JACCARD >= {float(min_est)}"
    )


@spark_transform("source_overlap", category="dedup", streaming_ok=False)
def source_overlap(
    df: DataFrame,
    text: str,
    group_col: str,
    min_shared: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise exact-content overlap between corpus partitions (sources,
    snapshots, domains) — the mix-design diagnostic: which feeds are
    copying which, and how much does adding feed B really add on top of A.

    For every unordered group pair (A < B) with at least ``min_shared``
    shared normalized fingerprints: ``GROUP_A, GROUP_B, SHARED_FPS,
    JACCARD`` (shared / union of the two distinct-fingerprint sets,
    rounded).

    Scale: reduces the corpus to DISTINCT slim ``(group, fp)`` rows first
    (one shuffle, partial-agg combined); the self-join is an fp equi-join
    whose fan-out is bounded by groups-per-fingerprint (<= number of
    groups, independent of corpus size); per-group totals are a tiny
    second aggregate joined onto group-pair rows.
    """
    t, g = resolve_col(df, text), resolve_col(df, group_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(t)), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )
    gf = scoped_persist(
        df.select(F.col(g).alias("__g"), F.md5(norm).alias("__fp"))
        .dropDuplicates(["__g", "__fp"])
    )
    totals = gf.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    a = gf.select(F.col("__g").alias("GROUP_A"), "__fp")
    b = gf.select(F.col("__g").alias("GROUP_B"), "__fp")
    shared = (
        a.join(b, on="__fp")
        .filter(F.col("GROUP_A") < F.col("GROUP_B"))
        .groupBy("GROUP_A", "GROUP_B")
        .agg(F.count(F.lit(1)).alias("SHARED_FPS"))
        .filter(F.col("SHARED_FPS") >= min_shared)
    )
    out = (
        shared.join(totals.select(F.col("__g").alias("GROUP_A"), F.col("__n").alias("__na")), on="GROUP_A")
        .join(totals.select(F.col("__g").alias("GROUP_B"), F.col("__n").alias("__nb")), on="GROUP_B")
        .select(
            "GROUP_A",
            "GROUP_B",
            "SHARED_FPS",
            F.round(
                F.col("SHARED_FPS")
                / (F.col("__na") + F.col("__nb") - F.col("SHARED_FPS")),
                round_to,
            ).alias("JACCARD"),
        )
    )
    return release_with(out, gf)


class MinHashIndex(PersistedIndex):
    """Reusable reference-side MinHash index for ``dedup_against``: the
    annotated signature table, its exact-dup representatives, and the
    banded rep table — everything the cross-corpus band join consumes.
    Build ONCE over the accepted corpus with ``minhash_index`` and pass to
    every batch's ``dedup_against(..., index=...)`` — the production shape
    (mirrors ``similarity.IVFIndex``): signature+banding is the expensive
    phase and is identical for every batch; reusing it makes per-batch cost
    independent of reference size beyond the (slim, cached) band join.
    Release, staleness and artifacts: see :mod:`._index`; ``caches`` are
    the frames ``release()`` frees."""

    _PARAMS = "num_hashes int, bands int, shingle_size int, n_docs long"

    def __init__(self, sig, reps, bands_long, num_hashes, bands, shingle_size,
                 caches, n_docs=None):
        super().__init__(n_docs, owned=caches)
        self.sig = sig
        self.reps = reps
        self.bands_long = bands_long
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_size = shingle_size


def minhash_index(
    reference: DataFrame,
    text: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
) -> MinHashIndex:
    """Build a reusable :class:`MinHashIndex` over a reference corpus —
    the same signature / exact-dup-collapse / banding pipeline
    ``dedup_against(method='minhash')`` runs internally, persisted for
    reuse across batches. Frames stay cached until ``release()``."""
    bands = _check_bands(num_hashes, bands)
    sig, _, caches = _annotate_sets(
        minhash_signatures(reference, text, id_col, num_hashes, shingle_size)
    )
    reps = _reps(sig)
    bands_long, _ = materialize(_ref_bands(reps, num_hashes, bands))
    return MinHashIndex(
        sig, reps, bands_long, num_hashes, bands, shingle_size,
        tuple(caches) + (bands_long,),
        # counted off the cached signature table (one row per input doc),
        # so the fingerprint cannot drift from the rows actually indexed
        n_docs=sig.count(),
    )


@renderer("source_overlap")
def _r_source_overlap(source, text, group_col, min_shared=1, round_to=6) -> str:
    norm = (
        f"trim(regexp_replace(regexp_replace(lower({text}), '[^a-z0-9\\\\s]', ' '), "
        f"'\\\\s+', ' '))"
    )
    gf = f"SELECT DISTINCT {group_col} AS __g, md5({norm}) AS __fp FROM {source}"
    tot = f"SELECT __g, COUNT(*) AS __n FROM ({gf}) GROUP BY __g"
    sh = (
        f"SELECT a.__g AS GROUP_A, b.__g AS GROUP_B, COUNT(*) AS SHARED_FPS "
        f"FROM ({gf}) a JOIN ({gf}) b ON a.__fp = b.__fp AND a.__g < b.__g "
        f"GROUP BY a.__g, b.__g HAVING COUNT(*) >= {min_shared}"
    )
    return (
        f"SELECT sh.GROUP_A, sh.GROUP_B, sh.SHARED_FPS, "
        f"round(sh.SHARED_FPS / (ta.__n + tb.__n - sh.SHARED_FPS), {round_to}) AS JACCARD "
        f"FROM ({sh}) sh JOIN ({tot}) ta ON sh.GROUP_A = ta.__g "
        f"JOIN ({tot}) tb ON sh.GROUP_B = tb.__g"
    )


def update_minhash_index(
    index: MinHashIndex,
    new_docs: DataFrame,
    text: str,
    id_col: str,
) -> MinHashIndex:
    """Fold a batch of newly-ACCEPTED documents into an existing
    :class:`MinHashIndex` without rebuilding the reference side — the
    corpus-refresh step of the incremental dedup loop (clean a crawl batch
    with ``dedup_against``/``stream_dedup_against``, accept the survivors,
    fold them in here so the NEXT batch dedups against them too).

    Only the new documents pay the signature/collapse/banding pipeline;
    the existing index's frames are reused as-is and the returned index
    unions them. Exact-duplicate groups that SPAN the old corpus and the
    new batch stay split into (at most) one rep per increment — the
    collapse is purely an optimization, so results are identical, with a
    bounded extra candidate per split group; rebuild with
    :func:`minhash_index` on the major-refresh cadence to re-collapse.
    Document ids must stay unique across increments (caller contract).
    Returns a NEW index; the old one remains usable — ``release()``
    whichever you keep when done (shared frames tolerate double release).
    """
    new_sig, _, new_caches = _annotate_sets(
        minhash_signatures(new_docs, text, id_col, index.num_hashes,
                           index.shingle_size)
    )
    new_reps = _reps(new_sig)
    new_bands = _ref_bands(new_reps, index.num_hashes, index.bands)
    # both tables save_minhash_index writes are persisted and materialized
    # here, so saving the update never re-reads the artifact its base was
    # loaded from (the load -> update -> save-to-the-same-path refresh loop)
    sig, n = materialize(index.sig.unionByName(new_sig))
    reps = index.reps.unionByName(new_reps)
    bands_long, _ = materialize(index.bands_long.unionByName(new_bands))
    return MinHashIndex(
        sig, reps, bands_long, index.num_hashes, index.bands,
        index.shingle_size,
        index._owned + tuple(new_caches) + (sig, bands_long),
        n_docs=None if index.n_docs is None else n,
    )


def save_minhash_index(index: MinHashIndex, path: str) -> str:
    """Persist a :class:`MinHashIndex` as parquet (``{path}/sig``,
    ``{path}/bands``) plus a one-row params table — rebuild the reference
    side on the corpus-refresh cadence, load per crawl batch."""
    return save_artifact(
        index, path, {"sig": index.sig, "bands": index.bands_long}
    )


def load_minhash_index(spark, path: str, persist: bool = True) -> MinHashIndex:
    """Load a :func:`save_minhash_index` artifact; ``persist`` pins the
    frames for multi-batch reuse (``release()`` when done)."""
    prm = read_params(spark, path, MinHashIndex)
    sig, bands_long = read_frames(spark, path, ("sig", "bands"), persist)
    return loaded(MinHashIndex(
        sig, _reps(sig), bands_long,
        int(prm["num_hashes"]), int(prm["bands"]), int(prm["shingle_size"]),
        (sig, bands_long) if persist else (), n_docs=prm["n_docs"],
    ), path)


@renderer("near_dup_clusters")
def _r_near_dup_clusters(
    source, text, id_col, method="minhash", threshold=0.5,
    max_iterations=20, **kwargs
) -> str:
    """Candidate-pair SQL (the banded minhash / pigeonhole simhash
    renderers) fed to the ``connected_components`` renderer, left-joined
    back to the input ids with ``COALESCE(component, id)`` — the executed
    path's shape over the same shared loop.

    Result-equal to the executed path even though execution propagates
    over mode='edges' (rep pairs + star edges) and the render over plain
    pairs: the two graphs have identical connected components (the edges
    mode is the documented connectivity-preserving compression of pairs),
    and label propagation converges to the component minimum on both.
    Exactness therefore requires convergence within ``max_iterations`` on
    both graphs — their diameters differ by at most 2 (the star hop inside
    exact-duplicate groups), so the default 20 holds for any real corpus;
    adversarial near-dup chains longer than ``max_iterations`` hops are
    already out of contract for the executed operator."""
    from .graph import _r_connected_components

    if method == "minhash":
        pairs = _r_dedup_minhash(
            source, text, id_col, threshold=threshold, mode="pairs", **kwargs
        )
    elif method == "simhash":
        pairs = _r_dedup_simhash(source, text, id_col, mode="pairs", **kwargs)
    else:
        raise ParameterException("method must be 'minhash' or 'simhash'")
    components = _r_connected_components(
        f"({pairs}) __nc_p", "ID_A", "ID_B", max_iterations
    )
    return (
        f"SELECT s.{id_col}, COALESCE(c.COMPONENT, s.{id_col}) AS CLUSTER_ID "
        f"FROM {source} s LEFT JOIN ({components}) c ON s.{id_col} = c.NODE"
    )


@renderer("dedup_by_cluster")
def _r_dedup_by_cluster(
    source, text, id_col, method="minhash", threshold=0.5, **kwargs
) -> str:
    """Survivor filter over the rendered cluster labeling: a row survives
    iff its id IS its cluster id (the minimum of its component)."""
    clusters = _r_near_dup_clusters(
        source, text, id_col, method=method, threshold=threshold, **kwargs
    )
    return (
        f"SELECT s.* FROM {source} s LEFT SEMI JOIN ({clusters}) c "
        f"ON s.{id_col} = c.{id_col} AND c.{id_col} = c.CLUSTER_ID"
    )


@renderer("dedup_soft")
def _r_dedup_soft(
    source, text, id_col, method="minhash", threshold=0.5, power=1.0,
    round_to=6, **kwargs
) -> str:
    """Reweighting over the rendered cluster labeling: the labeling CTE
    is named ONCE (nested WITH — the logreg/snapshot renderer precedent)
    so the unrolled propagation program is not inlined twice."""
    if power <= 0:
        raise ParameterException("power must be > 0")
    clusters = _r_near_dup_clusters(
        source, text, id_col, method=method, threshold=threshold, **kwargs
    )
    return (
        f"WITH __soft_c AS ({clusters}), "
        "__soft_z AS (SELECT CLUSTER_ID, CAST(COUNT(1) AS BIGINT) AS "
        "DUP_COUNT FROM __soft_c GROUP BY CLUSTER_ID) "
        f"SELECT s.*, c.CLUSTER_ID, z.DUP_COUNT, "
        f"ROUND(POW(CAST(z.DUP_COUNT AS DOUBLE), {-float(power)!r}), "
        f"{int(round_to)}) AS SAMPLE_WEIGHT "
        f"FROM {source} s JOIN __soft_c c ON s.{id_col} = c.{id_col} "
        "JOIN __soft_z z ON c.CLUSTER_ID = z.CLUSTER_ID"
    )


@renderer("dedup_keep_best")
def _r_dedup_keep_best(
    source, text, id_col, score_col, method="minhash", threshold=0.5, **kwargs
) -> str:
    """Best-of-cluster survivor selection over the rendered labeling: one
    ROW_NUMBER window per cluster (score DESC, id ASC — Spark's default
    DESC NULLS LAST matches the executed F.desc ordering)."""
    clusters = _r_near_dup_clusters(
        source, text, id_col, method=method, threshold=threshold, **kwargs
    )
    best = (
        f"SELECT {id_col} FROM (SELECT c.{id_col}, ROW_NUMBER() OVER "
        "(PARTITION BY c.CLUSTER_ID ORDER BY s.__score DESC, "
        f"c.{id_col} ASC) AS __rn FROM ({clusters}) c JOIN "
        f"(SELECT {id_col}, {score_col} AS __score FROM {source}) s "
        f"ON c.{id_col} = s.{id_col}) WHERE __rn = 1"
    )
    return (
        f"SELECT s.* FROM {source} s LEFT SEMI JOIN ({best}) b "
        f"ON s.{id_col} = b.{id_col}"
    )


# --- exact >=k-token substring dedup (round 12) ----------------------------

@spark_transform("dedup_substring", category="dedup", streaming_ok=False)
def dedup_substring(
    df: DataFrame,
    text: str,
    id_col: str,
    min_tokens: int = 20,
    max_doc_freq: int | None = 1000,
    mode: str = "pairs",
    max_positions: int | None = 20,
) -> DataFrame:
    """EXACT substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    criterion): find every MAXIMAL run of >= ``min_tokens`` consecutive
    tokens shared verbatim by two documents, at ANY alignment. The
    alignment-INSENSITIVE completion of ``dedup_spans`` (which is fixed-
    granularity: a duplicate block shifted by one token misses every span
    boundary; this operator catches it at any offset) — the last classic
    dedup mode of the family.

    Distributed re-expression of the paper's suffix array: every
    ``min_tokens``-token sliding shingle keeps its POSITION, candidates
    come from the exact inverted shingle index (two docs share a
    >=min_tokens run iff they share a positioned shingle), and maximal
    runs re-assemble per (pair, diagonal): matches at (pa, pb) and
    (pa+1, pb+1) are consecutive cells of one common substring, so the
    classic islands trick (pa - row_number over the diagonal) groups each
    maximal run, whose token length is run_cells + min_tokens - 1.

    mode='pairs' (default): ``(ID_A, ID_B, START_A, START_B,
    MATCH_TOKENS)`` — one row per maximal shared run (ID_A < ID_B;
    1-based token positions). mode='filter': keep-min greedy — drop every
    document that shares a run with a smaller-id document. mode='clean':
    the paper's actual output — delete the shared-run TOKENS from the
    later document of every pair (the first occurrence survives intact),
    merging overlapping deletions, and append ``TEXT_DEDUPED`` (rebuilt
    from the surviving normalized tokens, the dedup_spans convention) and
    ``TOKENS_REMOVED``.

    Scale: exact-duplicate documents collapse
    to one representative before the posting self-join (guarded
    ``_annotate_groups`` — 10^8 identical copies meet as ONE rep, and
    member pairs re-expand afterwards, self-alignments included), only
    slim (id, pos, fp128) triples cross the candidate shuffle, and the
    run window partitions by (pair, diagonal) — bounded by the longest
    common run, never the corpus. ``max_doc_freq`` caps posting frequency
    counted over DISTINCT documents-by-content (collapse-invariant, the
    dedup_ngram_jaccard contract): boilerplate shingles shared by more
    distinct documents than the cap are dropped BEFORE the join, trading
    recall on >cap-hot runs (a capped mid-run shingle splits that run) —
    ``None`` disables. Within-document pathological repetition is bounded
    by ``max_positions`` (round 13): only the FIRST ``max_positions``
    occurrences of each shingle per document enter the index, so a
    generation-loop doc repeating one k-token shingle r times contributes
    at most max_positions^2 (not r^2) alignment rows per candidate pair
    — the trade is that runs revisiting a >cap-repeated shingle report
    only their first ``max_positions`` alignments (clean corpora are
    unaffected); ``None`` disables, or pre-clean with
    remove_repeated_spans for the paper-exact result on loopy corpora.
    """
    check_mode(mode, ("pairs", "filter", "clean"))
    if min_tokens < 2:
        raise ParameterException("min_tokens must be >= 2")
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ParameterException("max_doc_freq must be >= 1 (or None)")
    if max_positions is not None and max_positions < 1:
        raise ParameterException("max_positions must be >= 1 (or None)")
    k = int(min_tokens)
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    df, inp = reread_input(df, mode)
    base = spread(df).select(
        F.col(i).alias("__id"), tokens_expr(F.col(t)).alias("__t")
    )
    cached, has_dups, caches = _annotate_groups(
        base,
        F.md5(F.concat_ws("\x1f", "__t")),
        F.size("__t") >= k,
        probe_key=F.hash("__t"),
    )
    rep = cached.filter((F.col("__id") == F.col("__rep")) & F.col("__ne"))
    # positioned shingle fingerprints, built row-local BEFORE the explode
    # (slicing after explode would re-materialize the token array per
    # shingle — O(tokens^2) memory per doc)
    fp_arr = F.transform(
        F.sequence(F.lit(1), F.size("__t") - k + 1),
        lambda j: F.md5(F.concat_ws(" ", F.slice("__t", j, F.lit(k)))),
    )
    # max_positions applies ROW-LOCALLY inside the explode (round 13) —
    # same kept set as the ROW_NUMBER window the oracle replays, zero
    # shuffle (see _capped_positioned_explode)
    sh = _capped_positioned_explode(rep, fp_arr, max_positions, "__id")
    if max_doc_freq is not None:
        # df counted over distinct documents-BY-CONTENT == distinct reps
        live_fp = (
            sh.groupBy("__fp")
            .agg(F.count_distinct("__id").alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("__fp")
        )
        sh = sh.join(live_fp, on="__fp", how="left_semi")
    inv = scoped_persist(sh)
    la = inv.select(F.col("__id").alias("__ia"),
                    F.col("__pos").alias("__pa"), "__fp")
    lb = inv.select(F.col("__id").alias("__ib"),
                    F.col("__pos").alias("__pb"), "__fp")
    al = la.join(lb, on="__fp").filter(F.col("__ia") < F.col("__ib"))
    if has_dups:
        # self-alignment table per duplicated rep: the run set every
        # member PAIR of that exact-dup group shares (symmetric — it
        # contains both (pa, pb) and (pb, pa), so expansion needs no flip)
        dup_reps = (
            cached.groupBy("__rep")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= 2)
            .select("__rep")
        )
        inv_dup = inv.join(
            dup_reps.select(F.col("__rep").alias("__id")),
            on="__id", how="left_semi",
        )
        self_al = (
            inv_dup.select(F.col("__id").alias("__ia"),
                           F.col("__pos").alias("__pa"), "__fp")
            .join(inv_dup.select(F.col("__id").alias("__ib"),
                                 F.col("__pos").alias("__pb"), "__fp"),
                  on="__fp")
            .filter(F.col("__ia") == F.col("__ib"))
        )
        al = al.unionByName(self_al)
    w = Window.partitionBy("__ia", "__ib", F.col("__pa") - F.col("__pb")).orderBy("__pa")
    runs = (
        al.withColumn("__diag", F.col("__pa") - F.col("__pb"))
        .withColumn("__grp", F.col("__pa") - F.row_number().over(w))
        .groupBy("__ia", "__ib", "__diag", "__grp")
        .agg(
            F.min("__pa").cast("bigint").alias("START_A"),
            F.min("__pb").cast("bigint").alias("START_B"),
            (F.count(F.lit(1)) + k - 1).cast("bigint").alias("MATCH_TOKENS"),
        )
        .select(F.col("__ia").alias("ID_A"), F.col("__ib").alias("ID_B"),
                "START_A", "START_B", "MATCH_TOKENS")
    )
    if has_dups:
        members = cached.select("__id", "__rep")
        cross = runs.filter(F.col("ID_A") != F.col("ID_B"))
        ma = members.select(F.col("__rep").alias("ID_A"), F.col("__id").alias("__xa"))
        mb = members.select(F.col("__rep").alias("ID_B"), F.col("__id").alias("__xb"))
        flip = F.col("__xa") > F.col("__xb")
        out_cross = (
            cross.join(ma, on="ID_A").join(mb, on="ID_B")
            .select(
                F.least("__xa", "__xb").alias("ID_A"),
                F.greatest("__xa", "__xb").alias("ID_B"),
                F.when(flip, F.col("START_B")).otherwise(F.col("START_A")).alias("START_A"),
                F.when(flip, F.col("START_A")).otherwise(F.col("START_B")).alias("START_B"),
                "MATCH_TOKENS",
            )
        )
        selfp = runs.filter(F.col("ID_A") == F.col("ID_B"))
        m1 = members.select("__rep", F.col("__id").alias("__xa"))
        m2 = members.select("__rep", F.col("__id").alias("__xb"))
        gpairs = (
            m1.join(m2, on="__rep")
            .filter(F.col("__xa") < F.col("__xb"))
            .select(F.col("__rep").alias("ID_A"), "__xa", "__xb")
        )
        out_intra = selfp.join(gpairs, on="ID_A").select(
            F.col("__xa").alias("ID_A"), F.col("__xb").alias("ID_B"),
            "START_A", "START_B", "MATCH_TOKENS",
        )
        pairs = out_cross.unionByName(out_intra)
    else:
        pairs = runs
    if mode != "clean":
        return finish(df, id_col, mode, pairs, inv, *caches, *inp)
    # mode='clean' — the paper's actual output: delete the shared-run
    # tokens from the LATER document of every pair (keep-min keeps the
    # first occurrence intact), merge overlapping deletions per doc, and
    # rebuild the survivor text. Merged intervals are DISJOINT and each
    # spans >= min_tokens, so a doc carries at most tokens/min_tokens of
    # them — the per-doc collect_list is bounded by doc length, never by
    # how many partners matched it.
    iv = pairs.select(
        F.col("ID_B").alias("__id"),
        F.col("START_B").alias("__s"),
        (F.col("START_B") + F.col("MATCH_TOKENS") - 1).alias("__e"),
    ).dropDuplicates(["__id", "__s", "__e"])
    wiv = Window.partitionBy("__id").orderBy("__s", "__e")
    prev_end = F.max("__e").over(wiv.rowsBetween(Window.unboundedPreceding, -1))
    iv = iv.withColumn(
        "__new", (F.col("__s") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).withColumn(
        "__g", F.sum("__new").over(wiv.rowsBetween(Window.unboundedPreceding, 0))
    )
    merged = iv.groupBy("__id", "__g").agg(
        F.min("__s").alias("__s"), F.max("__e").alias("__e")
    )
    per_doc = merged.groupBy("__id").agg(
        F.collect_list(F.struct("__s", "__e")).alias("__iv"),
        F.sum(F.col("__e") - F.col("__s") + 1).cast("bigint")
        .alias("TOKENS_REMOVED"),
    )
    joined = cached.select("__id", "__t").join(per_doc, on="__id", how="left")
    covered = lambda idx: F.exists(  # noqa: E731
        F.col("__iv"),
        lambda v: (v["__s"] <= idx) & (idx <= v["__e"]),
    )
    kept_toks = F.when(F.col("__iv").isNull(), F.col("__t")).otherwise(
        F.filter(F.col("__t"), lambda x, j: ~covered(j + 1))
    )
    out = joined.select(
        "__id",
        F.concat_ws(" ", kept_toks).alias("TEXT_DEDUPED"),
        F.coalesce(F.col("TOKENS_REMOVED"), F.lit(0).cast("bigint"))
        .alias("TOKENS_REMOVED"),
    )
    res = df.join(out, F.col(i) == F.col("__id"), "inner").drop("__id")
    return release_with(res, inv, *caches)


@renderer("dedup_substring")
def _r_dedup_substring(
    source, text, id_col, min_tokens=20, max_doc_freq=1000, mode="pairs",
    max_positions=20, _input_columns=(),
) -> str:
    """Renders the PLAIN path (all doc pairs; the exact-dup collapse is a
    result-preserving optimization) with the df cap counted over DISTINCT
    token sequences — exactly the executed semantics, the
    _inverted_cand_sql convention. The per-(doc, fp) position cap renders
    per document id, which equals the executed per-representative cap
    because identical contents have identical position sets."""
    from .text import _tokens_sql

    check_mode(mode, ("pairs", "filter", "clean"))
    if min_tokens < 2:
        raise ParameterException("min_tokens must be >= 2")
    k = int(min_tokens)
    toks = (
        f"(SELECT {id_col} AS __id, md5(concat_ws(chr(31), __t)) AS __ck, __t "
        f"FROM (SELECT {id_col}, {_tokens_sql(text)} AS __t FROM {source}))"
    )
    sh = (
        f"(SELECT __id, __ck, CAST(__p0 + 1 AS BIGINT) AS __pos, __fp FROM "
        f"(SELECT __id, __ck, "
        f"posexplode(transform(sequence(1, size(__t) - {k} + 1), "
        f"j -> md5(concat_ws(' ', slice(__t, j, {k}))))) AS (__p0, __fp) "
        f"FROM {toks} WHERE size(__t) >= {k}))"
    )
    if max_positions is not None:
        sh = (
            f"(SELECT __id, __ck, __pos, __fp FROM (SELECT *, ROW_NUMBER() "
            f"OVER (PARTITION BY __id, __fp ORDER BY __pos) AS __pn "
            f"FROM {sh}) WHERE __pn <= {int(max_positions)})"
        )
    if max_doc_freq is not None:
        live = (
            f"(SELECT __fp FROM (SELECT __fp, COUNT(DISTINCT __ck) AS __df "
            f"FROM {sh} GROUP BY __fp) WHERE __df <= {int(max_doc_freq)})"
        )
        inv = f"(SELECT s.__id, s.__pos, s.__fp FROM {sh} s JOIN {live} l ON s.__fp = l.__fp)"
    else:
        inv = f"(SELECT __id, __pos, __fp FROM {sh})"
    al = (
        f"(SELECT a.__id AS __ia, b.__id AS __ib, a.__pos AS __pa, "
        f"b.__pos AS __pb FROM {inv} a JOIN {inv} b "
        f"ON a.__fp = b.__fp AND a.__id < b.__id)"
    )
    runs = (
        f"(SELECT __ia, __ib, __pa - __pb AS __diag, "
        f"__pa - ROW_NUMBER() OVER (PARTITION BY __ia, __ib, __pa - __pb "
        f"ORDER BY __pa) AS __grp, __pa, __pb FROM {al})"
    )
    pairs = (
        f"SELECT __ia AS ID_A, __ib AS ID_B, "
        f"CAST(MIN(__pa) AS BIGINT) AS START_A, "
        f"CAST(MIN(__pb) AS BIGINT) AS START_B, "
        f"CAST(COUNT(1) + {k} - 1 AS BIGINT) AS MATCH_TOKENS "
        f"FROM {runs} GROUP BY __ia, __ib, __diag, __grp"
    )
    if mode == "pairs":
        return pairs
    if mode == "filter":
        return drop_sql(source, id_col, pairs)
    # mode='clean': merge each later doc's deletion intervals (islands over
    # running max end), then a positional HOF filter rebuilds the text
    iv0 = (
        f"(SELECT DISTINCT ID_B AS __id, START_B AS __s, "
        f"START_B + MATCH_TOKENS - 1 AS __e FROM ({pairs}))"
    )
    ivn = (
        f"(SELECT *, CASE WHEN __s > COALESCE(MAX(__e) OVER ("
        f"PARTITION BY __id ORDER BY __s, __e "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) "
        f"THEN 1 ELSE 0 END AS __new FROM {iv0})"
    )
    ivg = (
        f"(SELECT *, SUM(__new) OVER (PARTITION BY __id ORDER BY __s, __e "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __g FROM {ivn})"
    )
    mg = (
        f"(SELECT __id, __g, MIN(__s) AS __s, MAX(__e) AS __e "
        f"FROM {ivg} GROUP BY __id, __g)"
    )
    pd_tbl = (
        f"(SELECT __id, collect_list(struct(__s, __e)) AS __iv, "
        f"CAST(SUM(__e - __s + 1) AS BIGINT) AS __removed "
        f"FROM {mg} GROUP BY __id)"
    )
    kept = (
        "CASE WHEN p.__iv IS NULL THEN t.__t ELSE "
        "filter(t.__t, (x, j) -> NOT exists(p.__iv, "
        "v -> v.__s <= j + 1 AND j + 1 <= v.__e)) END"
    )
    sel = ", ".join(f"s.{c}" for c in _input_columns)
    return (
        f"SELECT {sel}, concat_ws(' ', {kept}) AS TEXT_DEDUPED, "
        f"COALESCE(p.__removed, CAST(0 AS BIGINT)) AS TOKENS_REMOVED "
        f"FROM {source} s JOIN {toks} t ON t.__id = s.{id_col} "
        f"LEFT JOIN {pd_tbl} p ON p.__id = s.{id_col}"
    )


# --- incremental substring dedup: SubstringIndex + dedup_against_substring -

def _capped_positioned_explode(frame: DataFrame, fp_arr: Column, cap,
                               *keep: str) -> DataFrame:
    """``(keep..., __pos, __fp)`` positioned-fingerprint postings with the
    keep-first-``cap``-per-fingerprint repetition bound applied ROW-LOCALLY
    (round 13, guide §2.4): sort the per-row ``(f, p)`` structs (field-wise
    struct ordering == fingerprint asc, position asc), then element ``j``
    survives iff ``j <= cap`` or the element ``cap`` places earlier carries
    a DIFFERENT fingerprint — in a (f, p)-sorted array that test is exactly
    "occurrence rank <= cap". The kept row set is identical to the
    ROW_NUMBER-window formulation (:func:`_cap_positions`, which the DuckDB
    oracles replay), but the bound costs one O(n log n) per-row array sort
    instead of a full Exchange + external sort of the corpus-sized posting
    table — the one shuffle the substring family paid that its data did
    not require. ``cap=None`` keeps the plain positional explode (no sort).
    The sorted array is staged as a real column and referenced twice (the
    filter target and the look-back ``element_at``), which keeps
    CollapseProject from re-inlining the sort per reference (the round-1
    HOF staging rule); the look-back is guarded by a lazy CASE WHEN so
    ``element_at`` never sees an index < 1.

    PRECONDITION (round 14, ADVICE r13): the ``keep`` columns must
    uniquely identify rows of ``frame`` — this cap is per ROW, while the
    windowed oracle formulation is per KEY. All current call sites
    satisfy it (rep is one row per __id; contents/fresh are
    dropDuplicates'd per __ck; the batch side is per-row ids). A caller
    passing duplicate keep-keys would silently keep more postings than
    :func:`_cap_positions` and break the oracle-equivalence contract."""
    pairs = F.transform(
        fp_arr,
        lambda f, j: F.struct(f.alias("f"), (j + 1).cast("bigint").alias("p")),
    )
    if cap is None:
        ex = frame.select(*keep, F.explode(pairs).alias("__x"))
    else:
        c = int(cap)
        staged = frame.withColumn("__fps", F.array_sort(pairs))
        kept = F.filter(
            F.col("__fps"),
            lambda x, j: F.when(j < F.lit(c), F.lit(True)).otherwise(
                F.element_at(F.col("__fps"), j - F.lit(c) + 1)["f"] != x["f"]
            ),
        )
        ex = staged.select(*keep, F.explode(kept).alias("__x"))
    return ex.select(*keep, F.col("__x")["p"].alias("__pos"),
                     F.col("__x")["f"].alias("__fp"))


def _positioned_postings(docs: DataFrame, text_col: str, id_col: str,
                         k: int, cap=None) -> DataFrame:
    """(__id, __ck, __pos, __fp): 1-based positioned k-token shingle
    md5 fingerprints plus the full-content key, built row-local before the
    explode (the dedup_substring discipline — never slice after explode).
    ``cap`` applies the keep-first per-fingerprint repetition bound
    row-locally (see :func:`_capped_positioned_explode`)."""
    toks = tokens_expr(F.col(text_col))
    staged = docs.select(
        F.col(id_col).alias("__id"), toks.alias("__t")
    ).withColumn("__ck", F.md5(F.concat_ws("\x1f", "__t")))
    fp_arr = F.transform(
        F.sequence(F.lit(1), F.size("__t") - k + 1),
        lambda j: F.md5(F.concat_ws(" ", F.slice("__t", j, F.lit(k)))),
    )
    return _capped_positioned_explode(
        staged.filter(F.size("__t") >= k), fp_arr, cap, "__id", "__ck"
    )


def _cap_positions(postings: DataFrame, cap, key: str) -> DataFrame:
    """Within-document repetition bound (round 13): keep only the FIRST
    ``cap`` positions of each shingle fingerprint per document (or per
    distinct content, for content-keyed index postings). A doc repeating
    one k-token shingle r times — the generation-loop pathology —
    otherwise contributes O(r^2) alignment rows per candidate pair and in
    the self-alignment table; the cap bounds that at cap^2 per (pair, fp).
    Keep-first is deterministic and exactly oracle-expressible
    (ROW_NUMBER over (key, fp) by position); the recall trade is that a
    run revisiting a >cap-repeated shingle reports only its first ``cap``
    alignments (clean corpora are unaffected — no (doc, fp) exceeds the
    cap). ``None`` disables.

    Round 13: this windowed form is the REFERENCE implementation (it is
    what the DuckDB oracles replay); the production paths apply the same
    bound row-locally inside the explode (:func:`_capped_positioned_explode`
    — no posting-table shuffle) and a test pins the two formulations
    equal on a generation-loop corpus."""
    if cap is None:
        return postings
    w = Window.partitionBy(key, "__fp").orderBy("__pos")
    return (
        postings.withColumn("__pn", F.row_number().over(w))
        .filter(F.col("__pn") <= int(cap))
        .drop("__pn")
    )


# sentinel default for dedup_against_substring's max_doc_freq: lets the
# guard distinguish "caller omitted the cap" (use the index's baked-in cap)
# from "caller explicitly requested a conflicting cap" (raise). Resolves to
# 1000 — substring_index's own default — on the build-from-reference path.
class _MdfDefault(int):
    __slots__ = ()


_MDF_DEFAULT = _MdfDefault(1000)
# same trick for dedup_against_substring's max_positions (index default 20)
_MPOS_DEFAULT = _MdfDefault(20)


class SubstringIndex(PersistedIndex):
    """Reusable reference-side index for :func:`dedup_against_substring`:
    positioned shingle postings keyed by CONTENT (one posting set per
    distinct token sequence — 10^8 identical copies index once), the
    uncapped (fp, content) table the df cap derives from, and the
    content→member-id table pairs-mode expansion reads. Content keying
    makes :func:`update_substring_index` EXACTLY rebuild-equivalent (no
    fitted state, no representative relabeling — the binary-index
    property, unlike the IVF/PQ updates). Release, staleness and
    artifacts: see :mod:`._index`; ``caches`` are the frames ``release()``
    frees."""

    _PARAMS = ("min_tokens int, max_doc_freq long, n_docs long, "
               "max_positions long, bucket_by_fp long")
    # artifacts without max_positions predate the cap: uncapped
    _DEFAULTS = {"max_doc_freq": None, "n_docs": None, "max_positions": None,
                 "bucket_by_fp": None}

    def __init__(self, inv, fpck, members, min_tokens, max_doc_freq,
                 caches, n_docs=None, max_positions=None):
        super().__init__(n_docs, owned=caches)
        self.inv = inv              # (__ck, __pos, __fp) — df- and position-capped
        self.fpck = fpck            # (__fp, __ck) distinct — UNcapped
        self.members = members      # (__ck, __id) every reference doc
        self.min_tokens = min_tokens
        self.max_doc_freq = max_doc_freq
        self.max_positions = max_positions  # per-(content, fp) position cap


def _substring_live_fps(fpck: DataFrame, max_doc_freq) -> DataFrame | None:
    if max_doc_freq is None:
        return None
    return (
        fpck.groupBy("__fp").agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= int(max_doc_freq)).select("__fp")
    )


def substring_index(
    reference: DataFrame,
    text: str,
    id_col: str,
    min_tokens: int = 20,
    max_doc_freq: int | None = 1000,
    max_positions: int | None = 20,
) -> SubstringIndex:
    """Build a reusable :class:`SubstringIndex` over the accepted corpus —
    the reference side of exact >=min_tokens-token substring screening,
    persisted for reuse across crawl batches (per-batch cost independent
    of how the reference was built). The df cap counts DISTINCT reference
    contents, the dedup_substring contract; ``max_positions`` bounds
    within-document repetition per the dedup_substring round-13
    contract (first ``max_positions`` occurrences of a shingle per
    distinct content)."""
    if min_tokens < 2:
        raise ParameterException("min_tokens must be >= 2")
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ParameterException("max_doc_freq must be >= 1 (or None)")
    if max_positions is not None and max_positions < 1:
        raise ParameterException("max_positions must be >= 1 (or None)")
    rt, ri = resolve_col(reference, text), resolve_col(reference, id_col)
    toks = tokens_expr(F.col(rt))
    base = spread(reference).select(
        F.col(ri).alias("__id"), toks.alias("__t")
    ).withColumn("__ck", F.md5(F.concat_ws("\x1f", "__t")))
    members, n_docs = materialize(base.select("__ck", "__id"))
    contents = base.select("__ck", "__t").dropDuplicates(["__ck"])
    k = int(min_tokens)
    fp_arr = F.transform(
        F.sequence(F.lit(1), F.size("__t") - k + 1),
        lambda j: F.md5(F.concat_ws(" ", F.slice("__t", j, F.lit(k)))),
    )
    # row-local max_positions bound (round 13) — identical kept set to
    # the windowed formulation, no posting-table shuffle
    sh = _capped_positioned_explode(
        contents.filter(F.size("__t") >= k), fp_arr, max_positions, "__ck"
    )
    fpck = scoped_persist(sh.select("__fp", "__ck").distinct())
    live = _substring_live_fps(fpck, max_doc_freq)
    inv, _ = materialize(
        sh if live is None else sh.join(live, on="__fp", how="left_semi")
    )
    return SubstringIndex(inv, fpck, members, k, max_doc_freq,
                          (members, fpck, inv), n_docs=n_docs,
                          max_positions=max_positions)


def update_substring_index(
    index: SubstringIndex,
    new_docs: DataFrame,
    text: str,
    id_col: str,
) -> SubstringIndex:
    """Fold a new accepted batch into a :class:`SubstringIndex` —
    EXACTLY rebuild-equivalent (content-keyed postings carry no fitted
    state): contents already indexed add only member rows; genuinely new
    contents add their postings; the df cap re-evaluates over the merged
    (fp, content) table, so fingerprints that crossed the cap drop their
    postings exactly as a rebuild would. Update cost is O(new batch) plus
    one filter pass over the old postings (newly-dead fps only) and one
    count of the merged (content, id) member table."""
    nt, ni = resolve_col(new_docs, text), resolve_col(new_docs, id_col)
    k = index.min_tokens
    toks = tokens_expr(F.col(nt))
    base = spread(new_docs).select(
        F.col(ni).alias("__id"), toks.alias("__t")
    ).withColumn("__ck", F.md5(F.concat_ws("\x1f", "__t")))
    # materialized here: saving the update must not re-read the member
    # table of the artifact its base was loaded from (the load -> update
    # -> save-to-the-same-path refresh loop)
    members, n = materialize(
        index.members.unionByName(base.select("__ck", "__id"))
    )
    fresh = (
        base.select("__ck", "__t").dropDuplicates(["__ck"])
        .join(index.members.select("__ck").distinct(), on="__ck",
              how="left_anti")
    )
    fp_arr = F.transform(
        F.sequence(F.lit(1), F.size("__t") - k + 1),
        lambda j: F.md5(F.concat_ws(" ", F.slice("__t", j, F.lit(k)))),
    )
    # rebuild-equivalence holds: the position cap is per distinct CONTENT,
    # and `fresh` contents are disjoint from already-indexed ones
    # (row-local bound — see _capped_positioned_explode)
    sh_new = _capped_positioned_explode(
        fresh.filter(F.size("__t") >= k), fp_arr, index.max_positions, "__ck"
    )
    fpck = scoped_persist(
        index.fpck.unionByName(sh_new.select("__fp", "__ck")).distinct()
    )
    live = _substring_live_fps(fpck, index.max_doc_freq)
    merged = index.inv.unionByName(sh_new)
    inv, _ = materialize(
        merged if live is None
        else merged.join(live, on="__fp", how="left_semi")
    )
    return SubstringIndex(
        inv, fpck, members, k, index.max_doc_freq,
        (members, fpck, inv),
        n_docs=None if index.n_docs is None else n,
        max_positions=index.max_positions,
    )


def _substring_bucket_table(path: str) -> str:
    """Deterministic catalog name for a bucketed postings table at
    ``path`` — re-registerable from any session (in-memory catalog
    metadata does not survive the session; the files and the params row
    do)."""
    import hashlib

    return "substr_inv_" + hashlib.md5(path.encode()).hexdigest()[:12]


def save_substring_index(index: SubstringIndex, path: str,
                         bucket_by_fp: int | None = None) -> str:
    """Persist as parquet (``{path}/inv``, ``{path}/fpck``,
    ``{path}/members``) plus a one-row params table.

    ``bucket_by_fp`` (round 13): write the postings as a Spark BUCKETED
    external table clustered by ``__fp`` into that many buckets. A
    loaded bucketed index reports HashPartitioning(__fp) to the planner,
    so the per-batch candidate join shuffles ONLY the batch side — the
    index side (the corpus-scale frame) has no Exchange
    (test_plans.test_substring_index_bucketed_join_no_index_exchange).
    Pick buckets ~ corpus postings / target partition size; the batch
    side is exchanged into the same bucket count per screen."""
    check_target(index, path)
    frames = {"fpck": index.fpck, "members": index.members}
    if bucket_by_fp is not None:
        if bucket_by_fp < 1:
            raise ParameterException("bucket_by_fp must be >= 1 (or None)")
        tbl = _substring_bucket_table(path)
        index.inv.sparkSession.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            index.inv.write.mode("overwrite").format("parquet")
            .bucketBy(int(bucket_by_fp), "__fp").sortBy("__fp")
            .option("path", f"{path}/inv")
            .saveAsTable(tbl)
        )
    else:
        frames = {"inv": index.inv, **frames}
    return save_artifact(index, path, frames, bucket_by_fp=bucket_by_fp)


def load_substring_index(spark, path: str, persist: bool = True) -> SubstringIndex:
    """Load a :func:`save_substring_index` artifact; ``persist`` pins the
    frames for multi-batch reuse (``release()`` when done). A
    ``bucket_by_fp`` artifact re-registers its postings as the bucketed
    catalog table (idempotent), so every batch screen reuses the
    shuffle-free index side; bucketed postings are NOT persist-pinned —
    caching would hide the scan's bucket spec behind an InMemoryRelation
    and parquet re-reads are what the bucketing amortizes anyway."""
    prm = read_params(spark, path, SubstringIndex)
    nb = prm["bucket_by_fp"]
    if nb is not None:
        tbl = _substring_bucket_table(path)
        if spark.catalog.tableExists(tbl):
            # the artifact may have been re-saved with a different bucket
            # count since this session registered the table — stale bucket
            # metadata would silently mis-prune, so verify and re-register
            desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
            cur = next((r["data_type"] for r in desc
                        if r["col_name"] == "Num Buckets"), None)
            if cur is None or int(cur) != nb:
                spark.sql(f"DROP TABLE {tbl}")
            else:
                # same bucket count but possibly re-saved files at the
                # same path — drop the stale cached file listing
                spark.catalog.refreshTable(tbl)
        if not spark.catalog.tableExists(tbl):
            spark.sql(
                f"CREATE TABLE {tbl} (__ck STRING, __pos BIGINT, "
                f"__fp STRING) USING PARQUET CLUSTERED BY (__fp) "
                f"INTO {nb} BUCKETS LOCATION '{path}/inv'"
            )
        inv = spark.table(tbl)
        frames = read_frames(spark, path, ("fpck", "members"), persist)
        fpck, members = frames
    else:
        frames = read_frames(spark, path, ("inv", "fpck", "members"), persist)
        inv, fpck, members = frames
    return loaded(SubstringIndex(
        inv, fpck, members, int(prm["min_tokens"]), prm["max_doc_freq"],
        tuple(frames) if persist else (), n_docs=prm["n_docs"],
        max_positions=prm["max_positions"],
    ), path)


@spark_transform("dedup_against_substring", category="dedup", streaming_ok=False)
def dedup_against_substring(
    df: DataFrame,
    text: str,
    id_col: str,
    reference: DataFrame | None = None,
    ref_text: str | None = None,
    ref_id: str | None = None,
    min_tokens: int = 20,
    max_doc_freq: int | None = _MDF_DEFAULT,
    mode: str = "filter",
    index: SubstringIndex | None = None,
    max_positions: int | None = _MPOS_DEFAULT,
) -> DataFrame:
    """Incremental EXACT substring screening — the cross-corpus member of
    the ``dedup_against`` family (exact fingerprints / minhash / bloom /
    embedding / THIS): drop (mode='filter') or report (mode='pairs')
    batch documents sharing a verbatim >= ``min_tokens``-token run with
    ANY document of the accepted reference corpus, at any alignment — the
    per-crawl-batch form of :func:`dedup_substring` (and the
    decontamination shape for eval-set substring leaks).

    mode='pairs' returns ``(ID, REF_ID, START, REF_START, MATCH_TOKENS)``
    — one row per maximal shared run per reference document (reference
    documents with identical content each appear; the index stores their
    postings ONCE and expands members afterwards).

    With a prebuilt ``index`` (:func:`substring_index`, foldable with
    :func:`update_substring_index` — exactly rebuild-equivalent — and
    persistable via save/load) the ``reference`` frame is optional and
    per-batch cost is the batch's shingling plus one fingerprint
    equi-join against the capped postings; if both are passed, the
    reference row count is checked against the index's ``n_docs``
    fingerprint. The df cap counts
    DISTINCT REFERENCE contents only — batch composition never changes
    which reference shingles are live (incremental decisions depend on
    accepted-corpus state alone). Batch docs are not exact-dup collapsed
    (the batch is the small side by nature; identical batch docs simply
    repeat their own rows). ``max_positions`` (round 13) bounds
    within-document repetition on BOTH sides — first ``max_positions``
    occurrences of a shingle per document/content, the dedup_substring
    contract; with a prebuilt index the cap is baked into its postings
    (explicit conflicting values raise, omitting uses the index's).
    """
    check_mode(mode, ("filter", "pairs"))
    if reference is None and index is None:
        raise ParameterException(
            "dedup_against_substring needs a reference frame or a prebuilt "
            "SubstringIndex"
        )
    if index is not None:
        if index.min_tokens != int(min_tokens):
            raise ParameterException(
                f"index was built with min_tokens={index.min_tokens}, "
                f"call requested {min_tokens}"
            )
        if max_doc_freq is not _MDF_DEFAULT:
            # only an EXPLICITLY passed cap is checked — the df cap is
            # baked into the index's postings, so a conflicting request
            # would otherwise silently screen at the index's cap (r12
            # advice); omitting the param means "use the index's cap"
            req_mdf = None if max_doc_freq is None else int(max_doc_freq)
            if index.max_doc_freq != req_mdf:
                raise ParameterException(
                    f"index was built with "
                    f"max_doc_freq={index.max_doc_freq}, call requested "
                    f"{req_mdf} — pass the matching value or omit it"
                )
        if max_positions is not _MPOS_DEFAULT:
            # same contract for the round-13 position cap — it is baked
            # into the index's postings too
            req_mp = None if max_positions is None else int(max_positions)
            if index.max_positions != req_mp:
                raise ParameterException(
                    f"index was built with "
                    f"max_positions={index.max_positions}, call requested "
                    f"{req_mp} — pass the matching value or omit it"
                )
        check_fresh(index, reference)
        idx, built = index, None
    else:
        idx = built = substring_index(
            reference, ref_text or text, ref_id or id_col,
            min_tokens=min_tokens, max_doc_freq=max_doc_freq,
            max_positions=max_positions,
        )
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    df, inp = reread_input(df, mode)
    k = idx.min_tokens
    # the batch side gets the same within-doc repetition bound as the
    # index side — the alignment blowup is the r x s product of both
    # (applied row-locally inside the explode; see
    # _capped_positioned_explode)
    sh_b = _positioned_postings(
        spread(df), t, i, k, cap=idx.max_positions
    ).select(
        F.col("__id").alias("__bid"), F.col("__pos").alias("__bpos"), "__fp"
    )
    al = sh_b.join(
        idx.inv.select("__ck", F.col("__pos").alias("__rpos"), "__fp"),
        on="__fp",
    )
    w = Window.partitionBy(
        "__bid", "__ck", F.col("__bpos") - F.col("__rpos")
    ).orderBy("__bpos")
    runs = (
        al.withColumn("__diag", F.col("__bpos") - F.col("__rpos"))
        .withColumn("__grp", F.col("__bpos") - F.row_number().over(w))
        .groupBy("__bid", "__ck", "__diag", "__grp")
        .agg(
            F.min("__bpos").cast("bigint").alias("START"),
            F.min("__rpos").cast("bigint").alias("REF_START"),
            (F.count(F.lit(1)) + k - 1).cast("bigint").alias("MATCH_TOKENS"),
        )
    )
    if mode == "pairs":
        runs = runs.join(idx.members, on="__ck").select(
            F.col("__bid").alias("ID"), F.col("__id").alias("REF_ID"),
            "START", "REF_START", "MATCH_TOKENS",
        )
    owned = () if built is None else built._owned
    return finish(df, id_col, mode, runs, *owned, *inp, key="__bid")


@renderer("dedup_against_substring")
def _r_dedup_against_substring(
    source, text, id_col, reference, ref_text=None, ref_id=None,
    min_tokens=20, max_doc_freq=1000, mode="filter", max_positions=20,
) -> str:
    """Naive cross-corpus replay (content-keyed postings are a
    result-preserving optimization): reference shingles df-capped over
    DISTINCT reference contents, fingerprint equi-join, per-(batch doc,
    reference content, diagonal) maximal runs, member expansion."""
    from .text import _tokens_sql

    check_mode(mode, ("filter", "pairs"))
    if min_tokens < 2:
        raise ParameterException("min_tokens must be >= 2")
    k = int(min_tokens)
    rt, ri = ref_text or text, ref_id or id_col

    def postings(src, idc, txt):
        toks = (
            f"(SELECT {idc} AS __id, md5(concat_ws(chr(31), __t)) AS __ck, __t "
            f"FROM (SELECT {idc}, {_tokens_sql(txt)} AS __t FROM {src}))"
        )
        return (
            f"(SELECT __id, __ck, CAST(__p0 + 1 AS BIGINT) AS __pos, __fp FROM "
            f"(SELECT __id, __ck, "
            f"posexplode(transform(sequence(1, size(__t) - {k} + 1), "
            f"j -> md5(concat_ws(' ', slice(__t, j, {k}))))) AS (__p0, __fp) "
            f"FROM {toks} WHERE size(__t) >= {k}))"
        )

    def cap(src):
        if max_positions is None:
            return src
        return (
            f"(SELECT __id, __ck, __pos, __fp FROM (SELECT *, ROW_NUMBER() "
            f"OVER (PARTITION BY __id, __fp ORDER BY __pos) AS __pn "
            f"FROM {src}) WHERE __pn <= {int(max_positions)})"
        )

    rsh = cap(postings(reference, ri, rt))
    bsh = cap(postings(source, id_col, text))
    if max_doc_freq is not None:
        live = (
            f"(SELECT __fp FROM (SELECT __fp, COUNT(DISTINCT __ck) AS __df "
            f"FROM {rsh} GROUP BY __fp) WHERE __df <= {int(max_doc_freq)})"
        )
        rinv = (
            f"(SELECT r.__id, r.__ck, r.__pos, r.__fp FROM {rsh} r "
            f"JOIN {live} l ON r.__fp = l.__fp)"
        )
    else:
        rinv = rsh
    al = (
        f"(SELECT b.__id AS __bid, r.__id AS __rid, b.__pos AS __bpos, "
        f"r.__pos AS __rpos FROM {bsh} b JOIN {rinv} r ON b.__fp = r.__fp)"
    )
    runs = (
        f"(SELECT __bid, __rid, __bpos - __rpos AS __diag, "
        f"__bpos - ROW_NUMBER() OVER (PARTITION BY __bid, __rid, "
        f"__bpos - __rpos ORDER BY __bpos) AS __grp, __bpos, __rpos FROM {al})"
    )
    pairs = (
        f"SELECT __bid AS ID, __rid AS REF_ID, "
        f"CAST(MIN(__bpos) AS BIGINT) AS START, "
        f"CAST(MIN(__rpos) AS BIGINT) AS REF_START, "
        f"CAST(COUNT(1) + {k} - 1 AS BIGINT) AS MATCH_TOKENS "
        f"FROM {runs} GROUP BY __bid, __rid, __diag, __grp"
    )
    return pairs if mode == "pairs" else drop_sql(source, id_col, pairs, key="ID")
