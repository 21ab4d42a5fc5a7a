"""Similarity search over embedding columns (north-star extension;
SURVEY §7.2 M7): brute-force cosine top-k as the exact baseline, an
LSH-bucketed variant as the scale path.

Scale notes: the query side is assumed small relative to the corpus and is
broadcast — the corpus never shuffles. Cosine is computed with JVM array
expressions (zip_with + aggregate) in double precision; no Python UDF in the
hot path. The LSH variant prunes the corpus per query to matching
hyperplane-sign buckets, trading recall for a ~2^planes fan-in reduction.
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
    check_type,
    loaded,
    materialize,
    read_frames,
    read_params,
    read_vectors,
    save_artifact,
    vector_table,
)
from ._litfast import centroid_array_lit
from .dedup import _cosine_sql, _hyperplane_sign, _sql_id_literal, cosine_expr


@spark_transform("similarity_search", category="similarity", streaming_ok=False)
def similarity_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame | None = None,
    query_ids=None,
    k: int = 10,
    method: str = "brute",
    num_planes: int = 6,
    round_scores: int | None = 6,
) -> DataFrame:
    """Top-k nearest corpus rows per query by cosine similarity.

    Queries come either as a DataFrame (same vec/id columns) or as
    ``query_ids`` selecting rows of the corpus itself. method='brute' scans
    the whole corpus per query (exact); method='lsh' compares only rows in
    the query's hyperplane-sign bucket (approximate, may return <k).
    Output (QUERY_ID, MATCH_ID, COSINE, RANK) excluding self-matches.
    """
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    corpus = spread(df).select(F.col(i).alias("MATCH_ID"), F.col(v).alias("__cvec"))
    if queries is None:
        if query_ids is None:
            raise ParameterException("pass queries or query_ids")
        qdf = df.filter(F.col(i).isin(list(query_ids)))
    else:
        qdf = queries
    q = qdf.select(
        F.col(resolve_col(qdf, i)).alias("QUERY_ID"),
        F.col(resolve_col(qdf, v)).alias("__qvec"),
    )
    if method == "brute":
        joined = corpus.crossJoin(F.broadcast(q))
    elif method == "lsh":
        csig = F.concat_ws(
            "", *[_hyperplane_sign(F.col("__cvec"), j).cast("string") for j in range(num_planes)]
        )
        qsig = F.concat_ws(
            "", *[_hyperplane_sign(F.col("__qvec"), j).cast("string") for j in range(num_planes)]
        )
        joined = corpus.withColumn("__sig", csig).join(
            F.broadcast(q.withColumn("__sig", qsig)), on="__sig"
        )
    else:
        raise ParameterException("method must be 'brute' or 'lsh'")
    cos = cosine_expr(F.col("__qvec"), F.col("__cvec"))
    if round_scores is not None:
        cos = F.round(cos, round_scores)
    scored = (
        joined.filter(F.col("QUERY_ID") != F.col("MATCH_ID"))
        .withColumn("COSINE", cos)
    )
    w = Window.partitionBy("QUERY_ID").orderBy(F.col("COSINE").desc(), F.col("MATCH_ID").asc())
    return (
        scored.withColumn("RANK", F.row_number().over(w))
        .filter(F.col("RANK") <= k)
        .select("QUERY_ID", "MATCH_ID", "COSINE", "RANK")
    )


def _with_normalized(df: DataFrame, vec_col: str, out_col: str = "__nvec") -> DataFrame:
    """Append a unit-normalized copy of an array column. The norm is staged
    in its own column and referenced twice downstream, which stops
    CollapseProject from re-inlining the fold into the per-element lambda
    (the round-1 HOF staging lesson). After normalization, cosine == dot —
    every downstream pairwise score drops from dot+2 norms to one dot."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        df.withColumn("__vnorm", norm)
        .withColumn(
            out_col,
            F.when(
                F.col("__vnorm") > 0,
                F.transform(v, lambda x: x.cast("double") / F.col("__vnorm")),
            ).otherwise(F.transform(v, lambda x: F.lit(0.0))),
        )
        .drop("__vnorm")
    )


def _dot(a, b):
    """Sequential-fold dot product — the same evaluation order in both
    engines, so every replayed score folds bit-identically."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _check_dim(df: DataFrame, vec_col: str, dim: int | None,
               what: str) -> int | None:
    """Raise unless ``df``'s first non-NULL ``vec_col`` vector has ``dim``
    components (``dim=None`` only reads it) — the index-side dimension
    guard (uniform-dim assumption, one ``first()`` job). Returns the dim
    read, None when every vector is NULL. A mismatched batch would
    otherwise zip_with into NULL sims and NULL probe/centroid ids:
    silently joinless or unsearchable rows, not an error. NULL vectors are
    skipped, since ``size(NULL)`` is NULL under ANSI."""
    first = df.filter(F.col(vec_col).isNotNull()).select(
        F.size(F.col(vec_col)).alias("d")
    ).first()
    got = None if first is None else int(first["d"])
    if got is not None and dim is not None and got != dim:
        raise ParameterException(
            f"{what} vectors have dim {got} but the index covers dim {dim}"
        )
    return got


def _centroid_array(cents: list) -> "F.Column":
    """[(cid, [floats])] → literal array<struct<c, v>> — k·dim literals, tiny
    for any sane centroid count; embedding it makes assignment a pure
    shuffle-free projection (the corpus never joins or explodes).

    Built as ONE ``F.expr`` SQL string instead of per-element ``F.lit``
    Column calls: each Column op is a py4j round trip, and k·dim of them
    (2,752 at sf0.1's auto-k) cost ~1.4 s of pure driver-side plan
    construction PER CALL — measured as ~85% of update_ivf_index's bench
    time and a large share of every inline-fit IVF entry
    (bench/results/creep_breakdown.json). The parsed expression tree is
    value- and schema-identical (double literals round-trip via repr), so
    plans, results, and semanticHash-based caching are unaffected."""
    return centroid_array_lit(cents, id_type="bigint")


def _sims_expr(cents, nvec_col: str = "__nvec", round_to: int | None = None):
    """array<struct<s: sim, nc: -cid>> per row — one dot per centroid,
    rounded to ``round_to`` dp under the rounded kmeans contract (None:
    the raw dot, no ``F.round`` node). ``cents`` is either the Python
    centroid list (embedded as literals) or a Column already holding the
    array<struct<c, v>> (broadcast fallback)."""
    carr = cents if isinstance(cents, Column) else _centroid_array(cents)

    def sim(ce):
        s = _dot(F.col(nvec_col), ce["v"])
        return s if round_to is None else F.round(s, round_to)

    return F.transform(
        carr, lambda ce: F.struct(sim(ce).alias("s"), (-ce["c"]).alias("nc"))
    )


def _argmax_cid(cents, nvec_col: str = "__nvec", round_to: int | None = None):
    """cid of the highest-cosine centroid (ties → lowest cid via -cid max)."""
    best = F.array_max(_sims_expr(cents, nvec_col, round_to))
    return (-best["nc"]).cast("bigint")


# Above this many centroids the literal-array plan grows linearly with k
# (100 TB corpora want k in the thousands); switch to a one-row broadcast.
IVF_LITERAL_CENTROID_MAX = 256


def _resolve_k(num_centroids, n: int) -> int:
    """``num_centroids='auto'`` → ``max(8, ceil(sqrt(n)))`` — the standard
    IVF sizing (k ≈ √n balances list length n/k against probe cost k), so
    the index keeps its corpus×nprobe/k candidate bound as the corpus
    grows instead of relying on a hand-tuned constant. Auto-k rides the
    existing >``IVF_LITERAL_CENTROID_MAX`` one-row-broadcast fallback, so
    the plan stays O(1) in k at any corpus size (√10^10 ≈ 10^5 centroids)."""
    if isinstance(num_centroids, str):
        if num_centroids != "auto":
            raise ParameterException("num_centroids must be an int or 'auto'")
        import math

        return max(8, math.ceil(math.sqrt(max(n, 0))))
    if num_centroids < 1:
        raise ParameterException("num_centroids must be >= 1")
    return int(num_centroids)


def _resolve_nprobe(nprobe, k: int) -> int:
    """``nprobe='auto'`` → ``min(k, max(4, ceil(sqrt(k))))`` — probe count
    grows with the list count (√k keeps the probed fraction shrinking as
    k grows while candidates-per-query ~ n^(3/4) stays sublinear); a fixed
    nprobe with auto-k would silently shrink recall as the corpus grows."""
    if isinstance(nprobe, str):
        if nprobe != "auto":
            raise ParameterException("nprobe must be an int or 'auto'")
        import math

        return min(k, max(4, math.ceil(math.sqrt(k))))
    if nprobe < 1:
        raise ParameterException("nprobe must be >= 1")
    return int(nprobe)


def _attach_centroids(df: DataFrame, cents: list):
    """Make the centroid array available to per-row expressions; returns
    ``(df, centroid_array, drop_cols)``.

    k ≤ IVF_LITERAL_CENTROID_MAX: embed k·dim literals — assignment stays a
    pure shuffle-free projection with zero join.
    k > max: ship the centroids as a ONE-ROW broadcast crossJoin instead —
    the corpus still never shuffles (broadcast nested-loop against a single
    row) and plan size stays O(1) in k."""
    if len(cents) <= IVF_LITERAL_CENTROID_MAX:
        return df, _centroid_array(cents), []
    cent_df = df.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "c bigint, v array<double>",
    )
    one_row = cent_df.agg(F.collect_list(F.struct("c", "v")).alias("__cents"))
    return df.crossJoin(F.broadcast(one_row)), F.col("__cents"), ["__cents"]


def _probe_lists(qdf: DataFrame, cents, nprobe: int, id_col: str,
                 vec_col: str, round_to: int | None = None,
                 carry: tuple = ()) -> DataFrame:
    """The probe step of every IVF-family scorer (flat IVF in both modes,
    IVF-PQ): explode each query row to its ``nprobe`` nearest inverted
    lists, ``(id_col, vec_col, *carry, __cid)`` — one row per (query,
    probed centroid). Selection is a shuffle-free sort+slice over the
    per-row sims array (struct sort: sim desc, ties → lowest cid because
    nc = -cid). ``round_to`` rounds each sim first (the rounded replay
    contract; None keeps the raw dot, bit-identical to the unrounded fit).
    Above ``IVF_LITERAL_CENTROID_MAX`` centroids the array arrives by the
    one-row broadcast of :func:`_attach_centroids`. ``carry`` names extra
    query columns kept through the explosion (IVF-PQ's ADC LUT)."""
    qbase, qcarr, _qd = _attach_centroids(qdf, cents)
    sims = _sims_expr(qcarr, vec_col, round_to)
    return qbase.select(
        id_col, vec_col, *carry,
        F.explode(F.slice(F.sort_array(sims, asc=False), 1, nprobe)).alias("__p"),
    ).select(id_col, vec_col, *carry,
             (-F.col("__p")["nc"]).cast("bigint").alias("__cid"))


def _ivf_lists(df: DataFrame, vec_col: str, id_col: str, num_centroids,
               index: "IVFIndex | None" = None, round_to: int | None = None):
    """The inverted lists a flat-IVF search, join or dedup scores against:
    ``(lists, centroids, cached)`` with ``lists`` = ``(__id, __v, __cid)``,
    ``__v`` the stored unit vector. A prebuilt ``index`` serves its frame
    (``cached`` None). Inline, ``df`` is fit with one pass of the one
    Lloyd loop (:func:`~.cluster.lloyd_fit`) under one of two contracts:
    the unrounded IVF fit of :func:`_ivf_assign`, or — ``round_to`` set —
    the kmeans_cluster rounded-determinism contract (9-dp unit vectors and
    centroids, ``round_to``-dp argmax) that the ``.sql()`` replay mirrors.
    Callers release ``cached`` with their final result."""
    if index is not None:
        frame, cents, cached = index.frame, index.centroids, None
    elif round_to is None:
        frame, cents, cached = _ivf_assign(df, vec_col, id_col, num_centroids, 1)
    else:
        from .cluster import Lloyd, _unit_corpus, lloyd_fit

        cached = _unit_corpus(df, resolve_col(df, vec_col), resolve_col(df, id_col))
        kc = _resolve_k(num_centroids,
                        cached.count() if isinstance(num_centroids, str) else 0)
        (cents,) = lloyd_fit(Lloyd(cached, kc, 1, round_to))
        base, carr, _ad = _attach_centroids(cached, cents)
        lists = base.select(
            "__id", F.col("__u").alias("__v"),
            _argmax_cid(carr, "__u", round_to).alias("__cid"),
        )
        return lists, cents, cached
    lists = frame.select(
        "__id", F.col("__nvec").alias("__v"), F.col("CENTROID_ID").alias("__cid")
    )
    return lists, cents, cached


def _ivf_queries(df: DataFrame, v: str, i: str, cents: list,
                 round_to: int | None, what: str) -> DataFrame:
    """The ``(__qid, __qv)`` query frame of a batch-shaped flat-IVF caller
    (join, dedup): the dimension guard against the centroids, then the
    normalization of the fit's contract (``round_to`` None: the unrounded
    unit vector; else the 9-dp rounded one). ``spread()`` first, so the
    probe ranking of a narrow batch does not run in one task."""
    if cents:
        _check_dim(df, v, len(cents[0][1]), what)
    q = spread(df).select(F.col(i).alias("__qid"), F.col(v).alias("__qvec"))
    if round_to is None:
        q = _with_normalized(q, "__qvec", "__qv")
    else:
        from .cluster import _unit_rounded

        q = _unit_rounded(q, "__qvec", "__qv")
    return q.select("__qid", "__qv")


def _ivf_scores(q: DataFrame, lists: DataFrame, cents: list, nprobe: int,
                mid: str, round_scores: int | None = None,
                probe_round: int | None = None,
                hint: str | None = None) -> DataFrame:
    """The flat-IVF candidate scorer shared by search, join and dedup, in
    both modes: queries ``(__qid, __qv)`` × inverted lists ``(__id, __v,
    __cid)`` (:func:`_ivf_lists`) → ``(__qid, mid, __score)`` for every
    candidate in each query's ``nprobe`` probed lists (self-matches
    included — callers filter). A NULL vector is neither a query nor a
    candidate. Probing is :func:`_probe_lists` (``probe_round`` = the
    rounded contract's probe rounding), candidates form by an equi-join on
    the list id, and the score is the dot of the two unit vectors, rounded
    to ``round_scores`` dp when set. ``hint`` is the caller's join hint for
    the probe frame (``"broadcast"`` when the query side is bounded; None
    keeps the join AQE-skew-eligible on hot lists). It lands after
    probing, where the >256-centroid crossJoin cannot absorb it."""
    probes = _probe_lists(q.filter(F.col("__qv").isNotNull()), cents, nprobe,
                          "__qid", "__qv", probe_round)
    if hint is not None:
        probes = probes.hint(hint)
    score = _dot(F.col("__qv"), F.col("__v"))
    if round_scores is not None:
        score = F.round(score, round_scores)
    return (
        lists.filter(F.col("__v").isNotNull())
        .select(F.col("__id").alias(mid), "__v", "__cid")
        .join(probes, on="__cid")
        .select("__qid", mid, score.alias("__score"))
    )


def _topk(scored: DataFrame, mid: str, k: int, asc: bool = False,
          refine: tuple | None = None, rerank_factor: int = 1,
          hint: str | None = None) -> DataFrame:
    """The top-k step of every IVF, binary and IVF-PQ search and join: each
    query's best ``k`` rows of a ``(__qid, mid, __score)`` frame, ordered
    by ``__score`` (desc for similarities, ``asc`` for distances such as
    Hamming) and then ``mid`` asc, with an int ``RANK`` appended. The
    filter on the rank lets Spark prune with WindowGroupLimit before the
    window's shuffle.

    ``refine`` is the two-stage rerank: ``(candidates, queries, score)``
    with candidates ``(mid, …)``, queries ``(__qid, …)`` and the caller's
    exact score Column over their columns (binary: rounded
    ``cosine_expr``; IVF-PQ: the rounded dot of stored unit vectors). The
    first stage keeps ``k · rerank_factor`` survivors per query, only they
    join back to the two frames, and ``score`` — a similarity, ranked desc
    — picks the final ``k``. The survivor set is fixed by the first
    ordering's score and id tie-break, so replay stays exact. ``hint`` is
    the caller's join hint for the survivors and queries."""
    def top(frame: DataFrame, keep: int, asc: bool) -> DataFrame:
        score = F.col("__score").asc() if asc else F.col("__score").desc()
        w = Window.partitionBy("__qid").orderBy(score, F.col(mid).asc())
        ranked = frame.withColumn("RANK", F.row_number().over(w).cast("int"))
        return ranked.filter(F.col("RANK") <= keep)

    if refine is None:
        return top(scored, k, asc)
    cands, queries, score = refine
    survivors = top(scored, k * rerank_factor, asc).select("__qid", mid)
    if hint is not None:
        survivors, queries = survivors.hint(hint), queries.hint(hint)
    refined = (
        cands.join(survivors, on=mid).join(queries, on="__qid")
        .select("__qid", mid, score.alias("__score"))
    )
    return top(refined, k, False)


def _topk_sql(rel: str, k: int, asc: bool = False, refine=None,
              rerank_factor: int = 1) -> str:
    """SQL twin of :func:`_topk` over a ``(__qid, __mid, __score)``
    relation → ``(__qid, __mid, __score, RANK)``. ``refine`` maps the
    survivors' relation to the refined ``(__qid, __mid, __score)`` one."""
    def top(rel: str, keep: int, asc: bool) -> str:
        return (
            f"SELECT __qid, __mid, __score, RANK FROM (SELECT *, "
            f"CAST(ROW_NUMBER() OVER (PARTITION BY __qid ORDER BY __score "
            f"{'ASC' if asc else 'DESC'}, __mid ASC) AS INT) AS RANK "
            f"FROM ({rel})) WHERE RANK <= {int(keep)}"
        )

    if refine is None:
        return top(rel, k, asc)
    return top(refine(top(rel, int(k) * int(rerank_factor), asc)), k, False)


def _probe_sql(prefix: str, kcents: str, kassign, query: str, nprobe: int,
               round_to: int) -> list:
    """SQL twin of the rounded probe step, as four named CTEs:
    ``{prefix}_cents`` (c, v), the corpus assignment ``{prefix}_asg``
    (__id, c), the queries ``{prefix}_q`` (qid, __u) without NULL vectors,
    and ``{prefix}_probe`` (qid, c) — each query's ``nprobe`` best lists
    by rounded sim desc, ties → lowest c. ``kcents``/``kassign`` come from
    ``cluster._kmeans_render_parts``."""
    from .cluster import _dot_sql

    sim = f"round({_dot_sql('t.__u', 's.v')}, {int(round_to)})"
    return [
        f"{prefix}_cents AS (SELECT c, v FROM {kcents})",
        f"{prefix}_asg AS (SELECT __id, c FROM {kassign(prefix + '_cents')})",
        f"{prefix}_q AS (SELECT qid, __u FROM ({query}) __q "
        f"WHERE __u IS NOT NULL)",
        f"{prefix}_probe AS (SELECT qid, c FROM (SELECT t.qid, s.c, "
        f"ROW_NUMBER() OVER (PARTITION BY t.qid ORDER BY {sim} DESC, "
        f"s.c ASC) AS rn FROM {prefix}_q t CROSS JOIN {prefix}_cents s) "
        f"WHERE rn <= {int(nprobe)})",
    ]


@spark_transform("build_ivf_index", category="similarity", streaming_ok=False)
def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_centroids: int | str = "auto",
    iterations: int = 1,
) -> DataFrame:
    """IVF inverted-list index: (id, vec, centroid_id) with k-means-lite
    centroids (deterministic seed = lowest-id vectors, ``iterations`` Lloyd
    refinement passes). ``num_centroids="auto"`` (default) sizes
    k = max(8, ceil(√n)) from the corpus count — see ``_resolve_k``.

    100 TB design: vectors are unit-normalized ONCE (cosine becomes a plain
    dot); the k centroids are collected to the driver (k·dim floats — a
    bounded action like the discovery caps) and embedded as a literal array,
    so every assignment pass is a shuffle-free projection — the corpus never
    joins, explodes, or shuffles for assignment. Only the Lloyd re-average
    shuffles, and it ships slim (cid, pos, value) triples. Above
    ``IVF_LITERAL_CENTROID_MAX`` (256) centroids the literal plan would grow
    linearly with k, so the centroid array ships as a one-row broadcast
    instead — same shuffle-free corpus, O(1) plan size.
    """
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    indexed, _, cached = _ivf_assign(df, vec_col, id_col, num_centroids, iterations)
    out = indexed.select(
        F.col("__id").alias(i), F.col("__vec").alias(v), "CENTROID_ID"
    )
    return release_with(out, cached)


def _ivf_assign(df, vec_col, id_col, num_centroids, iterations):
    """(normalized corpus with CENTROID_ID, centroid list, scoped cache):
    the unrounded IVF fit (:func:`~.cluster.lloyd_fit` with ``round_to``
    None) of every build and inline IVF call. The normalized corpus is
    persisted ONCE and reused by the seed collect, every Lloyd pass, and
    the final assignment (5 consumers otherwise recompute the
    normalization fold per pass); callers release it with the result. It
    keeps the raw ``__vec``, which ``build_ivf_index`` returns."""
    from .cluster import Lloyd, lloyd_fit

    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    cached = scoped_persist(_with_normalized(
        spread(df).select(F.col(i).alias("__id"), F.col(v).alias("__vec")), "__vec"
    ))
    if isinstance(num_centroids, str):
        # auto-k needs the corpus size; the count doubles as the cache
        # materialization the seed collect would otherwise pay
        num_centroids = _resolve_k(num_centroids, cached.count())
    else:
        num_centroids = _resolve_k(num_centroids, 0)
    (cents,) = lloyd_fit(Lloyd(cached, num_centroids, iterations, vec="__nvec"))
    fbase, fcarr, fdrop = _attach_centroids(cached, cents)
    final = fbase.withColumn("CENTROID_ID", _argmax_cid(fcarr)).drop(*fdrop)
    return final, cents, cached


class IVFIndex(PersistedIndex):
    """Reusable IVF index: the persisted (id, normalized-vector, centroid)
    frame plus the centroid list. Build ONCE with ``ivf_index`` and pass to
    any number of ``similarity_search_ivf`` calls — the production shape:
    index build is the expensive phase (seed collect + Lloyd pass);
    per-query search is a broadcast probe join over the cached frame.
    Release, staleness and artifacts: see :mod:`._index`."""

    _UNIT = "vectors"

    def __init__(self, frame: DataFrame, centroids: list, n_docs: int | None = None):
        super().__init__(n_docs, owned=(frame,))
        self.frame = frame
        self.centroids = centroids


def ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_centroids: int | str = "auto",
    iterations: int = 1,
) -> IVFIndex:
    """Build a reusable ``IVFIndex`` (see class doc). The internal frame
    stays persisted until ``release()`` — deliberate: amortizing the build
    across searches is the point."""
    final, cents, cached = _ivf_assign(df, vec_col, id_col, num_centroids, iterations)
    final, n = materialize(final)
    release_now(cached)
    return IVFIndex(final, cents, n_docs=n)


def save_ivf_index(index: IVFIndex, path: str) -> str:
    """Persist an :class:`IVFIndex` as parquet (``{path}/frame`` = the
    assigned normalized corpus, ``{path}/centroids``, ``{path}/params``) —
    the cross-job form of the index: build on the corpus-refresh cadence,
    load per query batch."""
    spark = index.frame.sparkSession
    return save_artifact(index, path, {
        "frame": index.frame.select("__id", "__nvec", "CENTROID_ID"),
        "centroids": vector_table(spark, index.centroids, "c bigint"),
    })


def load_ivf_index(spark, path: str, persist: bool = True) -> IVFIndex:
    """Load a :func:`save_ivf_index` artifact. ``persist`` pins the frame
    for multi-search reuse (call ``release()`` when done). The centroid
    list is a bounded driver collect (k·dim doubles), same as at build."""
    prm = read_params(spark, path, IVFIndex)
    (frame,) = read_frames(spark, path, ("frame",), persist)
    cents = read_vectors(spark, f"{path}/centroids", "c")
    return loaded(IVFIndex(frame, cents, n_docs=prm["n_docs"]), path)


def update_ivf_index(
    index: IVFIndex,
    new_vecs: DataFrame,
    vec_col: str,
    id_col: str,
) -> IVFIndex:
    """Fold a batch of new vectors into an existing :class:`IVFIndex`
    without re-fitting — the corpus-refresh step of the incremental ANN
    loop.

    Only the new batch pays normalization + assignment, and it assigns
    against the index's EXISTING centroids (no Lloyd pass), so per-batch
    cost is independent of corpus size; searches against the returned
    index see the union. Centroids drift from the true k-means of the
    grown corpus over time — rebuild with :func:`ivf_index` on the
    major-refresh cadence (the standard IVF practice). Vector ids must
    stay unique across increments (caller contract). Returns a NEW index;
    the old one remains usable — ``release()`` whichever you keep.
    """
    v, i = resolve_col(new_vecs, vec_col), resolve_col(new_vecs, id_col)
    if index.centroids:
        _check_dim(new_vecs, v, len(index.centroids[0][1]), "batch")
    nbase = _with_normalized(
        spread(new_vecs).select(F.col(i).alias("__id"), F.col(v).alias("__vec")),
        "__vec",
    )
    abase, carr, adrop = _attach_centroids(nbase, index.centroids)
    assigned = abase.withColumn("CENTROID_ID", _argmax_cid(carr)).drop(*adrop)
    cols = ["__id", "__nvec", "CENTROID_ID"]
    merged, n = materialize(
        index.frame.select(*cols).unionByName(assigned.select(*cols))
    )
    return IVFIndex(merged, index.centroids, n_docs=n)


@spark_transform("embedding_join_ivf", category="similarity", streaming_ok=False)
def embedding_join_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    other=None,
    other_vec: str | None = None,
    other_id: str | None = None,
    k: int = 1,
    num_centroids: int | str = "auto",
    nprobe: int | str = "auto",
    right_prefix: str = "MATCH_",
    round_scores: int | None = 6,
    rounded: bool = False,
    index: "IVFIndex | None" = None,
) -> DataFrame:
    """ANN semantic join: attach each left row's top-``k`` most-similar
    rows from ``other`` (or a prebuilt ``index``) by embedding cosine,
    probing only the ``nprobe`` nearest IVF inverted lists per left row —
    the join-shaped form of ``similarity_search_ivf`` and the scale path
    where ``embedding_join(method='brute')`` would broadcast-scan the full
    right corpus per left row. Appends ``{right_prefix}ID``, ``COSINE``,
    ``RANK`` (approximate recall; left rows with no candidate drop — an
    inner join, matching embedding_join).

    100 TB shape: candidates form by an equi-join on CENTROID_ID — the
    corpus side carries corpus/num_centroids rows per key and the query
    side |left|·nprobe slim (id, nvec) rows, so per-left-row cost is
    corpus × nprobe / num_centroids. ``num_centroids`` must grow with the
    corpus; the default ``"auto"`` sizes it as max(8, ceil(√n)) — the
    standard IVF sizing — and ``nprobe="auto"`` follows with
    max(4, ceil(√k)), so recall does not silently shrink as the corpus
    grows (see ``_resolve_k``/``_resolve_nprobe``). num_centroids is also
    the join's key cardinality, so it sets the shuffle parallelism
    ceiling; IVF list sizes are naturally imbalanced (hot centroids =
    dense embedding regions), and the candidate join is AQE-skew-eligible
    (no broadcast hint on the probe side — see test_plans.py). Above 256
    centroids the probe-selection array ships as a one-row broadcast
    (plan size O(1) in k). With a prebuilt ``index`` the expensive fit is
    amortized across batches and ``other`` is not needed.

    Matches with ``{right_prefix}ID`` equal to the left row's id are
    excluded (and NULL ids never join) — consistent with embedding_join /
    similarity_search's self-match rule. For cross-corpus joins where the
    two id namespaces can coincide, remap one side's ids first (a
    coincidentally equal right id would otherwise be dropped).

    ``rounded=True`` (round 9, opt-in) swaps the unrounded fit for the
    kmeans_cluster rounded-determinism contract so the join replays
    exactly in SQL — this mode has a ``.sql()`` renderer and a DuckDB
    hash oracle (dbt/SQL parity for an ANN join). Inline-only (``index``
    must be None), explicit int sizing required to render, same join
    shape and AQE-skew eligibility as the default.
    """
    odf = other.df if hasattr(other, "df") else other
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    round_to = _rounded_mode(rounded, index, round_scores)
    if rounded and odf is None:
        raise ParameterException(
            "embedding_join_ivf needs a right-side frame (other=...)"
        )
    if index is not None:
        check_fresh(index, odf, "right-side")
    elif odf is None:
        raise ParameterException(
            "embedding_join_ivf needs a right-side frame (other=...) or "
            "a prebuilt IVFIndex"
        )
    lists, cents, cached = _ivf_lists(
        odf, other_vec or vec_col, other_id or id_col, num_centroids, index,
        round_to,
    )
    mid = f"{right_prefix}ID"
    scored = _ivf_scores(
        _ivf_queries(df, v, i, cents, round_to, "left"), lists, cents,
        _resolve_nprobe(nprobe, len(cents)), mid, round_scores, round_to,
    )
    matches = _topk(scored.filter(F.col("__qid") != F.col(mid)), mid, k)
    out = df.join(
        matches.select(F.col("__qid").alias(i), mid,
                       F.col("__score").alias("COSINE"), "RANK"),
        on=i, how="inner",
    )
    return out if cached is None else release_with(out, cached)


def _rounded_mode(rounded: bool, index, round_scores) -> int | None:
    """The probe/score rounding of a flat-IVF call: ``round_scores`` in
    the replayable ``rounded=True`` mode (inline-only, int required),
    None in the default unrounded one."""
    if not rounded:
        return None
    if index is not None:
        raise ParameterException(
            "rounded=True is the replayable inline mode; prebuilt "
            "IVFIndex artifacts hold the unrounded fit"
        )
    if round_scores is None:
        raise ParameterException(
            "rounded=True scores by the rounded replay contract; "
            "round_scores must be an int"
        )
    return round_scores


def _r_ivf_ranked(caller, corpus, vec_col, id_col, query, k, num_centroids,
                  nprobe, round_scores) -> tuple:
    """The SQL replay of the rounded flat-IVF path, shared by the search
    and join renderers: the kmeans_cluster renderer's one-pass fit over
    ``corpus``, the probe CTEs (:func:`_probe_sql`) for the ``query``
    relation ``(qid, __u)`` — ``query(nv)`` gets the normalized corpus —
    and the rounded dot over probed lists ranked by :func:`_topk_sql`.
    Returns ``(ctes, ranked)``; ``ranked`` is ``(__qid, __mid, __score,
    RANK)``."""
    from ..errors import TransformRenderingException
    from .cluster import _dot_sql, _kmeans_render_parts

    if isinstance(num_centroids, str) or isinstance(nprobe, str):
        raise TransformRenderingException(
            "auto sizing resolves from the corpus count at run time; pass "
            "explicit num_centroids/nprobe to render"
        )
    if round_scores is None:
        raise ParameterException("rounded=True requires an int round_scores")
    if k < 1:
        raise ParameterException("k must be >= 1")
    nv, kcents, kassign = _kmeans_render_parts(
        corpus, vec_col, id_col, num_centroids, 1, round_scores, caller,
    )
    ctes = _probe_sql("__ivf", kcents, kassign, query(nv), nprobe,
                      round_scores)
    cos = f"round({_dot_sql('q.__u', 't.__u')}, {int(round_scores)})"
    scored = (
        f"SELECT p.qid AS __qid, t.__id AS __mid, {cos} AS __score "
        f"FROM {nv} t JOIN __ivf_asg a ON a.__id = t.__id "
        f"JOIN __ivf_probe p ON p.c = a.c "
        f"JOIN __ivf_q q ON q.qid = p.qid "
        f"WHERE t.__id <> p.qid AND t.__u IS NOT NULL"
    )
    return ctes, _topk_sql(scored, k)


@renderer("embedding_join_ivf")
def _r_embedding_join_ivf(source, vec_col, id_col, other=None,
                          other_vec=None, other_id=None, k=1,
                          num_centroids="auto", nprobe="auto",
                          right_prefix="MATCH_", round_scores=6,
                          rounded=False, index=None) -> str:
    """Renders ONLY ``rounded=True`` with a named right-side table — the
    default unrounded fit stays the documented exclusion. Same composition
    as the similarity_search_ivf renderer with the fit over ``other`` and
    the probes over every left row."""
    from ..errors import TransformRenderingException
    from .cluster import _unit_norm_sql

    if not rounded or index is not None or other in (None, "<dataframe>"):
        raise TransformRenderingException(
            "embedding_join_ivf is SQL-renderable only with rounded=True "
            "and a named right-side table (the default unrounded contract "
            "would be ULP-flaky in replay; a prebuilt index is an external "
            "artifact)"
        )
    ctes, ranked = _r_ivf_ranked(
        "embedding_join_ivf", other, other_vec or vec_col,
        other_id or id_col,
        lambda nv: (
            "SELECT __id AS qid, __u FROM "
            f"{_unit_norm_sql(vec_col, id_col, source)} __ivf_qnv"
        ),
        k, num_centroids, nprobe, round_scores,
    )
    mid = f"{right_prefix}ID"
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT s.*, m.__mid AS {mid}, m.__score AS COSINE, m.RANK "
        f"FROM {source} s JOIN ({ranked}) m ON m.__qid = s.{id_col}"
        f") __rivfj_out"
    )


@spark_transform("dedup_against_embedding", category="dedup", streaming_ok=False)
def dedup_against_embedding(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    reference: DataFrame | None = None,
    ref_vec: str | None = None,
    ref_id: str | None = None,
    threshold: float = 0.9,
    method: str = "brute",
    num_centroids: int | str = "auto",
    nprobe: int | str = "auto",
    mode: str = "filter",
    round_scores: int | None = 6,
    index=None,
    pq_m: int = 4,
    pq_codebook_size: int = 8,
    pq_iterations: int = 1,
    residual: bool = False,
    max_hamming: int = 6,
    n_words: int | None = None,
) -> DataFrame:
    """Incremental SEMANTIC dedup: drop (mode='filter') or score
    (mode='pairs') batch rows whose embedding is near-identical (cosine >=
    ``threshold``) to ANY vector in an existing REFERENCE corpus — the
    embedding-space member of the incremental family (exact fingerprints:
    ``dedup_against``/``dedup_against_bloom``; shingle LSH:
    ``dedup_against(method='minhash')``; this: paraphrase/reformat dups
    n-grams cannot see, against the accepted training set instead of
    within-batch).

    method='brute' (exact): the BATCH side broadcasts and the reference
    corpus streams through — the corpus never shuffles (the
    decontaminate_embedding shape with the big side reversed: here the
    reference is the large side and the batch is small by nature).
    method='ivf' (scale path, approximate recall): the batch probes its
    ``nprobe`` nearest inverted lists of an IVF index over the reference —
    per-batch cost ~ reference × nprobe / num_centroids, and with a
    prebuilt ``index`` (``ivf_index``/``load_ivf_index``, foldable with
    ``update_ivf_index``) the fit is amortized so per-batch cost is
    independent of reference size. ``num_centroids``/``nprobe`` default to
    ``"auto"`` (√n / √k — see ``_resolve_k``). mode='pairs' returns
    ``(ID, REF_ID, COSINE)`` for matches.

    If both ``reference`` and ``index`` are passed, the reference row
    count is checked against the index's ``n_docs`` fingerprint.

    method='binary' (extreme-scale regime): both sides pack per-component
    signs into 32-bit words (``binary_quantize``) and a batch row is
    flagged when its HAMMING distance to ANY reference signature is <=
    ``max_hamming`` (Charikar's bound: expected Hamming ≈ dim·θ/π, so 6
    of 64 bits ≈ cosine 0.96) — at a billion reference vectors the whole
    signature table is 8 GB, the one semantic-dedup form whose reference
    state fits in executor memory outright. Integer-exact (full hash
    oracle + renderer, no rounding contract); mode='pairs' returns
    ``(ID, REF_ID, HAMMING)``. A prebuilt :class:`BinaryIndex`
    (``binary_index``/``load_binary_index``, foldable with
    ``update_binary_index`` — which, having no fitted state, matches a
    full rebuild EXACTLY, unlike the IVF/PQ updates) skips the per-batch
    reference re-pack: the reference read drops from full-width vectors
    to the 8-byte signatures. ``n_words`` (= ceil(dim/32); binary method
    only) is derived from the data by default; pass it explicitly so
    ``.sql()`` chains can both execute AND render (the renderer cannot
    see the data's dim) — it is validated against the derived value at
    execution, the ``binary_quantize`` contract. Dim guards sample the
    first non-NULL vector only (uniform-dim assumption — see
    :func:`similarity_search_binary`); ``binary_index`` aggregate-checks
    uniformity at its one-time build.

    method='ivfpq' (billion-vector regime): candidates come from the same
    probe shape as 'ivf', but the reference side is an :class:`~.pq.
    IVFPQIndex` — the batch-vs-corpus check reads ``m`` small-int PQ codes
    per candidate instead of the full vector (a 64-d float64 corpus scans
    64x fewer bytes), the memory-bounded form incremental semantic dedup
    needs once the accepted corpus outgrows executor memory. Scores are
    ADC approximations of cosine (still reported in the ``COSINE`` column
    for mode-uniformity); the whole path keeps the rounded exact-replay
    contract of ``similarity_search_ivfpq`` (``round_scores`` is the
    contract's rounding and must not be None), so it carries a full hash
    oracle. ``pq_m``/``pq_codebook_size``/``pq_iterations``/``residual``
    size the inline PQ fit; a prebuilt ``index`` (``ivfpq_index`` /
    ``load_ivfpq_index``, foldable with ``update_ivfpq_index``) amortizes
    both fits so per-batch cost is independent of reference size.
    """
    check_mode(mode, ("filter", "pairs"))
    if method not in ("brute", "ivf", "ivfpq", "binary"):
        raise ParameterException(
            "method must be 'brute', 'ivf', 'ivfpq' or 'binary'"
        )
    if reference is None and index is None:
        raise ParameterException(
            "dedup_against_embedding needs a reference frame or a prebuilt "
            "index (IVFIndex for method='ivf', IVFPQIndex for 'ivfpq', "
            "BinaryIndex for 'binary')"
        )
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    df, inp = reread_input(df, mode)
    # held: the pinned input plus any inline-built index frame, released
    # with the FINAL result (the r5 scoped-cache liveness lesson — tying
    # them to an intermediate would free the index before the action runs)
    with released_on_error(*inp) as held:
        measure = "COSINE"
        if method == "brute":
            if reference is None or index is not None:
                raise ParameterException(
                    "method='brute' requires a reference frame and no index "
                    "(IVFIndex only serves method='ivf')"
                )
            rv = resolve_col(reference, ref_vec or vec_col)
            ri = resolve_col(reference, ref_id or id_col)
            q = _with_normalized(
                df.select(F.col(i).alias("__qid"), F.col(v).alias("__qvec")),
                "__qvec", "__qn",
            ).select("__qid", "__qn")
            r = _with_normalized(
                spread(reference).select(
                    F.col(ri).alias("__rid"), F.col(rv).alias("__rvec")
                ),
                "__rvec", "__rn",
            ).select("__rid", "__rn")
            cos = _dot(F.col("__qn"), F.col("__rn"))
            if round_scores is not None:
                cos = F.round(cos, round_scores)
            scored = r.crossJoin(F.broadcast(q)).withColumn("__score", cos)
        elif method == "binary":
            if max_hamming < 0:
                raise ParameterException("max_hamming must be >= 0")
            if index is not None:
                check_type(index, BinaryIndex, "method='binary'")
                check_fresh(index, reference)
            elif reference is None:
                raise ParameterException(
                    "method='binary' needs a reference frame or a prebuilt "
                    "BinaryIndex"
                )
            rv, ri = ref_vec or vec_col, ref_id or id_col
            nw = _sign_packing(df, v, n_words, "batch", index,
                               (reference, rv, "reference"))
            scored = _hamming_scores(
                _packed(df, i, v, nw, "__qid", "__qsig"),
                _signatures(index, reference, ri, rv, nw, "__rid"), "__rid",
                max_hamming=max_hamming,
            )
            measure = "HAMMING"
        elif method == "ivfpq":
            from .pq import IVFPQIndex, _adc_scores, _ivfpq_queries, ivfpq_index

            if round_scores is None:
                raise ParameterException(
                    "method='ivfpq' scores by the rounded replay contract; "
                    "round_scores must be an int"
                )
            if index is not None:
                check_type(index, IVFPQIndex, "method='ivfpq'")
                check_fresh(index, reference)
                pidx = index
            else:
                rv = resolve_col(reference, ref_vec or vec_col)
                ri = resolve_col(reference, ref_id or id_col)
                kc = (
                    num_centroids if isinstance(num_centroids, int)
                    else _resolve_k(num_centroids, reference.count())
                )
                pidx = ivfpq_index(
                    reference, rv, ri, num_centroids=kc, coarse_iterations=1,
                    m=pq_m, codebook_size=pq_codebook_size,
                    iterations=pq_iterations, round_to=round_scores,
                    residual=residual,
                )
                held.append(pidx.frame)
            q = _ivfpq_queries(df, v, i, pidx, "batch")
            # the batch is the small side by the operator's contract: its probe
            # frame broadcasts, so the reference/PQ frame never shuffles
            scored = _adc_scores(
                q, pidx, _resolve_nprobe(nprobe, len(pidx.centroids)), "__rid",
                hint="broadcast",
            )
        else:
            if index is not None:
                check_type(index, IVFIndex, "method='ivf'")
                check_fresh(index, reference)
            lists, cents, inline = _ivf_lists(
                reference, ref_vec or vec_col, ref_id or id_col, num_centroids,
                index,
            )
            if inline is not None:
                held.append(inline)
            scored = _ivf_scores(
                _ivf_queries(df, v, i, cents, None, "batch"), lists, cents,
                _resolve_nprobe(nprobe, len(cents)), "__rid", round_scores,
            )
    if measure == "COSINE":
        scored = scored.filter(F.col("__score") >= threshold)
    if mode == "pairs":
        scored = scored.select(
            F.col("__qid").alias("ID"), F.col("__rid").alias("REF_ID"),
            F.col("__score").alias(measure),
        )
    return finish(df, id_col, mode, scored, *held, key="__qid")


def _topk_matches_sql(
    corpus_table, corpus_id, corpus_vec, query_sql, k, round_scores,
) -> str:
    """Shared SELECT for the brute top-k renderers: score every
    (query, corpus) pair with :func:`_cosine_sql` (same formula structure
    as the DataFrame path), rank per query by (COSINE desc, MATCH_ID asc),
    keep RANK <= k; self-matches excluded (the operators' documented
    single-id-namespace rule)."""
    cos = _cosine_sql("q.__qv", "c.__cv")
    if round_scores is not None:
        cos = f"ROUND({cos}, {int(round_scores)})"
    return (
        f"SELECT QUERY_ID, MATCH_ID, COSINE, RANK FROM ("
        f"SELECT QUERY_ID, MATCH_ID, COSINE, "
        f"ROW_NUMBER() OVER (PARTITION BY QUERY_ID ORDER BY COSINE DESC, MATCH_ID ASC) AS RANK "
        f"FROM (SELECT q.__qid AS QUERY_ID, c.__cid AS MATCH_ID, "
        f"{cos} AS COSINE "
        f"FROM (SELECT {corpus_id} AS __cid, {corpus_vec} AS __cv "
        f"FROM {corpus_table}) c CROSS JOIN ({query_sql}) q "
        f"WHERE q.__qid <> c.__cid)"
        f") WHERE RANK <= {int(k)}"
    )


@renderer("similarity_search")
def _r_similarity_search(
    source, vec_col, id_col, queries=None, query_ids=None, k=10,
    method="brute", num_planes=6, round_scores=6,
) -> str:
    from ..errors import TransformRenderingException

    if method != "brute" or queries == "<dataframe>":
        raise TransformRenderingException(
            "similarity_search is SQL-renderable only for method='brute' "
            "with query_ids or a named/chain queries table (the LSH bucket "
            "path is not rendered)"
        )
    if queries is not None:
        qsql = (
            f"SELECT {id_col} AS __qid, {vec_col} AS __qv FROM {queries}"
        )
    elif query_ids is not None:
        ids = ", ".join(_sql_id_literal(x) for x in query_ids)
        qsql = (
            f"SELECT {id_col} AS __qid, {vec_col} AS __qv FROM {source} "
            f"WHERE {id_col} IN ({ids})"
        )
    else:
        raise TransformRenderingException("pass queries or query_ids")
    return _topk_matches_sql(source, id_col, vec_col, qsql, k, round_scores)


def _nvec_subquery_sql(table, id_expr, vec_expr, id_alias, vec_alias) -> str:
    """Spark-SQL rendering of _with_normalized over one side: stages the
    norm in its own column (referenced twice — same double-accumulation
    order as the DataFrame fold, so parity is bit-exact)."""
    norm = (
        f"sqrt(aggregate(transform(__v, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return (
        f"(SELECT {id_alias}, CASE WHEN __n > 0 THEN "
        f"transform(__v, x -> CAST(x AS DOUBLE) / __n) "
        f"ELSE transform(__v, x -> CAST(0.0 AS DOUBLE)) END AS {vec_alias} "
        f"FROM (SELECT {id_expr} AS {id_alias}, {vec_expr} AS __v, "
        f"{norm} AS __n FROM {table}))"
    )


@renderer("dedup_against_embedding")
def _r_dedup_against_embedding(
    source, vec_col, id_col, reference=None, ref_vec=None, ref_id=None,
    threshold=0.9, method="brute", num_centroids="auto", nprobe="auto",
    mode="filter", round_scores=6, index=None, pq_m=4, pq_codebook_size=8,
    pq_iterations=1, residual=False, max_hamming=6, n_words=None,
) -> str:
    from ..errors import TransformRenderingException

    if method == "binary" and index is None and reference is not None:
        # integer-exact replay: packed signatures both sides, xor+popcount
        # threshold; n_words must be explicit (dim unknowable at render
        # time — the binary_quantize renderer's guard)
        check_mode(mode, ("filter", "pairs"))
        if max_hamming < 0:
            raise ParameterException("max_hamming must be >= 0")
        if n_words is None:
            raise TransformRenderingException(
                "dedup_against_embedding(method='binary') renders only "
                "with an explicit n_words (= ceil(dim/32))"
            )
        scored = _hamming_sql(
            _packed_sql(source, id_col, vec_col, n_words, "__qid", "__qsig"),
            _packed_sql(reference, ref_id or id_col, ref_vec or vec_col,
                        n_words),
            max_hamming,
        )
        pairs = (
            f"SELECT __qid AS ID, __mid AS REF_ID, __score AS HAMMING "
            f"FROM ({scored})"
        )
        return pairs if mode == "pairs" else drop_sql(source, id_col, pairs, key="ID")
    if method != "brute" or index is not None or reference is None:
        raise TransformRenderingException(
            "dedup_against_embedding is SQL-renderable only for "
            "method='brute' or method='binary' with a reference table "
            "(the IVF/IVF-PQ paths are multi-stage fit + probe joins; the "
            "ivfpq replay is exercised by its DuckDB gate oracle instead)"
        )
    q = _nvec_subquery_sql(source, id_col, vec_col, "__qid", "__qn")
    r = _nvec_subquery_sql(
        reference, ref_id or id_col, ref_vec or vec_col, "__rid", "__rn"
    )
    dot = (
        "aggregate(zip_with(__qn, __rn, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    cos = f"ROUND({dot}, {round_scores})" if round_scores is not None else dot
    pairs = (
        f"SELECT __qid AS ID, __rid AS REF_ID, __cos AS COSINE FROM "
        f"(SELECT __qid, __rid, {cos} AS __cos FROM {r} r CROSS JOIN {q} q) "
        f"WHERE __cos >= {threshold}"
    )
    return pairs if mode == "pairs" else drop_sql(source, id_col, pairs, key="ID")


@spark_transform("similarity_search_ivf", category="similarity", streaming_ok=False)
def similarity_search_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids,
    k: int = 10,
    num_centroids: int | str = "auto",
    nprobe: int | str = "auto",
    round_scores: int | None = 6,
    rounded: bool = False,
    index: "IVFIndex | None" = None,
) -> DataFrame:
    """ANN top-k via an IVF index: queries probe their ``nprobe`` nearest
    centroids and scan only those inverted lists — cost ~ corpus × nprobe /
    num_centroids per query instead of the full corpus (approximate recall).

    The persisted index holds PRE-NORMALIZED vectors, so the per-candidate
    score is a single dot product; probe selection is a shuffle-free
    sort+slice over the literal centroid array (no centroid join, no
    per-query window). Output (QUERY_ID, MATCH_ID, COSINE, RANK).

    ``num_centroids="auto"`` (default) sizes k = max(8, ceil(√n)) and
    ``nprobe="auto"`` = max(4, ceil(√k)), so the index keeps its candidate
    bound and recall as the corpus grows (see ``_resolve_k``).

    Pass a prebuilt ``index`` (from ``ivf_index``) to skip the build phase
    entirely — the amortized production path; results are identical to the
    inline build with the same parameters.

    ``rounded=True`` (round 9, opt-in) swaps the unrounded fit for the
    kmeans_cluster rounded-determinism contract (9-dp unit vectors and
    centroid components, ``round_scores``-dp argmax/probe comparisons), so
    the whole search replays exactly in SQL: this mode has a ``.sql()``
    renderer and a DuckDB hash oracle — for users who need dbt/SQL parity
    on an ANN search. The default stays unrounded (marginally better
    centroids, no replay). Rounded mode is inline-only (``index`` must be
    None — IVFIndex artifacts store the unrounded fit) and one Lloyd pass,
    matching the inline build."""
    round_to = _rounded_mode(rounded, index, round_scores)
    if rounded and not query_ids:
        raise ParameterException("query_ids must be non-empty")
    lists, cents, cached = _ivf_lists(df, vec_col, id_col, num_centroids,
                                      index, round_to)
    q = lists.filter(F.col("__id").isin(list(query_ids))).select(
        F.col("__id").alias("__qid"), F.col("__v").alias("__qv")
    )
    scored = _ivf_scores(
        q, lists, cents, _resolve_nprobe(nprobe, len(cents)), "MATCH_ID",
        round_scores, round_to, hint="broadcast",
    )
    out = _topk(scored.filter(F.col("__qid") != F.col("MATCH_ID")),
                "MATCH_ID", k).select(
        F.col("__qid").alias("QUERY_ID"), "MATCH_ID",
        F.col("__score").alias("COSINE"), "RANK",
    )
    return out if cached is None else release_with(out, cached)


@renderer("similarity_search_ivf")
def _r_similarity_search_ivf(source, vec_col, id_col, query_ids, k=10,
                             num_centroids="auto", nprobe="auto",
                             round_scores=6, rounded=False,
                             index=None) -> str:
    """Renders ONLY the opt-in ``rounded=True`` contract (round 9): the
    default mode fits unrounded centroids, whose SQL replay would be
    ULP-flaky — the family's long-documented renderer exclusion. The
    rounded replay composes the kmeans_cluster renderer chains (one Lloyd
    pass, matching the inline build) with the probe ranking and a rounded
    dot scan over probed lists."""
    from ..errors import TransformRenderingException

    if not rounded or index is not None:
        raise TransformRenderingException(
            "similarity_search_ivf is SQL-renderable only with "
            "rounded=True and an inline fit (the default unrounded "
            "contract would be ULP-flaky in replay; a prebuilt index is "
            "an external artifact)"
        )
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    qlist = ", ".join(_sql_id_literal(q) for q in query_ids)
    ctes, ranked = _r_ivf_ranked(
        "similarity_search_ivf", source, vec_col, id_col,
        lambda nv: (
            f"SELECT __id AS qid, __u FROM {nv} __ivf_qnv "
            f"WHERE __id IN ({qlist})"
        ),
        k, num_centroids, nprobe, round_scores,
    )
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT __qid AS QUERY_ID, __mid AS MATCH_ID, __score AS COSINE, "
        f"RANK FROM ({ranked})) __rivf_out"
    )


@spark_transform("knn_classify", category="similarity", streaming_ok=False)
def knn_classify(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    query_ids,
    k: int = 5,
) -> DataFrame:
    """Majority-label k-NN over the similarity search — demo composition of
    similarity_search + aggregation. Output (QUERY_ID, PREDICTED_LABEL)."""
    i, lbl = resolve_col(df, id_col), resolve_col(df, label_col)
    nn = similarity_search(df, vec_col, id_col, query_ids=query_ids, k=k)
    labeled = nn.join(
        df.select(F.col(i).alias("MATCH_ID"), F.col(lbl).alias("__lbl")), on="MATCH_ID"
    )
    counts = labeled.groupBy("QUERY_ID", "__lbl").agg(F.count(F.lit(1)).alias("__votes"))
    w = Window.partitionBy("QUERY_ID").orderBy(F.col("__votes").desc(), F.col("__lbl").asc())
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("QUERY_ID", F.col("__lbl").alias("PREDICTED_LABEL"))
    )


@renderer("knn_classify")
def _r_knn_classify(source, vec_col, id_col, label_col, query_ids, k=5) -> str:
    """Composes the similarity_search brute renderer (the operator is that
    search + a majority-vote window), so the two renderings can never
    diverge on cosine/ranking semantics."""
    nn = _r_similarity_search(
        source, vec_col, id_col, query_ids=query_ids, k=k, method="brute"
    )
    counts = (
        f"(SELECT nn.QUERY_ID, d.{label_col} AS __lbl, COUNT(1) AS __votes "
        f"FROM ({nn}) nn JOIN {source} d ON d.{id_col} = nn.MATCH_ID "
        f"GROUP BY nn.QUERY_ID, d.{label_col})"
    )
    return (
        f"SELECT QUERY_ID, __lbl AS PREDICTED_LABEL FROM "
        f"(SELECT *, ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
        f"ORDER BY __votes DESC, __lbl ASC) AS __rn FROM {counts}) "
        f"WHERE __rn = 1"
    )


@spark_transform("quantize_embeddings", category="similarity")
def quantize_embeddings(
    df: DataFrame, vec_col: str, id_col: str | None = None, bits: int = 8
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard 4×
    storage/bandwidth compression for embedding corpora (public technique,
    e.g. FAISS SQ8): scale = max|x| / 127, q_i = floor(x_i/scale + 0.5).
    Appends ``Q_SCALE`` (double) and ``Q_VEC`` (array<int> in [-127, 127]);
    zero vectors quantize to zeros with scale 0. Row-local JVM expressions —
    shuffle-free at any scale. ``floor(x + 0.5)`` rather than round() so
    Spark and the DuckDB oracle tie-break .5 identically."""
    if bits != 8:
        raise ParameterException("only bits=8 is supported")
    v = resolve_col(df, vec_col)
    absmax = F.aggregate(
        F.col(v),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    staged = df.withColumn("Q_SCALE", absmax / F.lit(127.0))
    q = F.transform(
        F.col(v),
        lambda x: F.when(
            F.col("Q_SCALE") > 0,
            F.floor(x.cast("double") / F.col("Q_SCALE") + 0.5).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return staged.withColumn("Q_VEC", q)


@renderer("quantize_embeddings")
def _r_quantize_embeddings(source, vec_col, id_col=None, bits=8) -> str:
    absmax = f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    q = (
        f"transform({vec_col}, x -> CASE WHEN Q_SCALE > 0 THEN "
        f"CAST(floor(CAST(x AS DOUBLE) / Q_SCALE + 0.5) AS INT) ELSE 0 END)"
    )
    return (
        f"SELECT *, {q} AS Q_VEC FROM "
        f"(SELECT *, {absmax} / 127.0 AS Q_SCALE FROM {source})"
    )


def _sign_words_sql(vec_col: str, n_words: int) -> str:
    """SQL for packing a vector's per-component signs (x > 0) into
    ``n_words`` 32-bit words carried as bigints: word w holds bit i for
    component w·32+i. 32-bit words rather than 64 so the shifted bit
    (max 2^31) never touches a bigint's sign bit — both engines then
    agree on the integer value without wraparound semantics entering the
    contract. Components beyond the vector's length contribute 0 (short
    vectors pack as if zero-padded); a NULL vector packs to a NULL
    signature, never to the all-negative one. ONE definition serves the DataFrame
    path (via F.expr — pyspark's shiftleft binding wants a Python-int
    shift, the SQL function takes a column) and the renderer, so packing
    parity holds by construction."""
    word = (
        "aggregate(transform(sequence(0, 31), i -> CASE WHEN "
        f"CAST(try_element_at({vec_col}, CAST(w * 32 + i + 1 AS INT)) AS DOUBLE) > 0 "
        "THEN shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc | x)"
    )
    return (
        f"CASE WHEN {vec_col} IS NOT NULL THEN "
        f"transform(sequence(0, {int(n_words) - 1}), w -> {word}) END"
    )


def _sign_words_expr(vec_name: str, n_words: int) -> Column:
    return F.expr(_sign_words_sql(vec_name, n_words))


@spark_transform("binary_quantize", category="similarity", streaming_ok=False)
def binary_quantize(df: DataFrame, vec_col: str, id_col: str | None = None,
                    n_words: int | None = None) -> DataFrame:
    """Append ``SIGN_BITS`` (array<bigint> of 32-bit words): the 1-bit
    sign quantization of the embedding — 64-dim float64 compresses 256×
    to 8 bytes, the most aggressive memory-bounded form of the
    quantization ladder (float64 → int8 ``quantize_embeddings`` → m-int
    PQ codes → sign bits). Hamming distance between sign vectors tracks
    angular distance (Charikar 2002 SimHash bound: P[bit differs] =
    θ/π), which is what :func:`similarity_search_binary` ranks by.
    Row-local JVM integer expressions — shuffle-free at any scale, and
    exactly replayable (sign tests and bit ops have no float-accumulation
    ambiguity)."""
    v = resolve_col(df, vec_col)
    nw = _sign_packing(df, v, n_words, "input")
    return df.withColumn("SIGN_BITS", _sign_words_expr(f"`{v}`", nw))


@renderer("binary_quantize")
def _r_binary_quantize(source, vec_col, id_col=None, n_words=None) -> str:
    """The DataFrame path sizes ``n_words`` from the data (ceil(dim/32)),
    which the renderer cannot see — so rendering REQUIRES the explicit
    ``n_words`` chain parameter (validated against the data at execution
    time), the same resolve-at-run-time guard shape as the auto-sizing
    renderers. A silent default would truncate >64-dim corpora."""
    from ..errors import TransformRenderingException

    if n_words is None:
        raise TransformRenderingException(
            "binary_quantize renders only with an explicit n_words "
            "(= ceil(dim/32)); the vector dimension is unknowable at "
            "render time"
        )
    return (
        f"SELECT *, {_sign_words_sql(vec_col, n_words)} "
        f"AS SIGN_BITS FROM {source}"
    )


class BinaryIndex(PersistedIndex):
    """Reusable 1-bit signature index: the persisted ``(__rid, __sig)``
    frame (``n_words`` 32-bit words per row — 8 bytes at 64 dims) plus
    the packing geometry. Build once with :func:`binary_index` and pass
    to any number of ``dedup_against_embedding(method='binary')`` calls —
    without it each batch re-scans and re-packs the full-width reference
    vectors (512 B/row at 64-dim float64); with it the per-batch
    reference read is the 8-byte signatures only. Release, staleness and
    artifacts: see :mod:`._index`. ``dim`` records the EXACT build-time
    vector dimension — word count alone is too coarse a geometry guard (a
    48-dim batch also packs to 2 words but its top 16 sign bits are
    zero-padding, silently inflating every Hamming distance)."""

    _PARAMS = "n_words int, n_docs long, dim int"
    _DEFAULTS = {"n_docs": None, "dim": None}
    _UNIT = "vectors"

    def __init__(self, frame: DataFrame, n_words: int,
                 n_docs: int | None = None, dim: int | None = None):
        super().__init__(n_docs, owned=(frame,))
        self.frame = frame
        self.n_words = n_words
        self.dim = dim


def _check_packing(index: BinaryIndex, dim: int | None, n_words,
                   what: str) -> int:
    """Raise unless ``dim``-dim ``what`` vectors (None: no vector read) and
    an explicit ``n_words`` fit ``index``'s sign packing; returns its word
    count. The exact dim guards indexes that recorded it, the word count
    the artifacts saved before ``dim`` was."""
    if dim is not None and index.dim is not None and dim != index.dim:
        raise ParameterException(
            f"{what} vectors have dim {dim} but the index was built over "
            f"dim {index.dim}"
        )
    if n_words is not None and int(n_words) != index.n_words:
        raise ParameterException(
            f"n_words={int(n_words)} but the index was built with "
            f"{index.n_words}"
        )
    if dim is not None and max(1, (dim + 31) // 32) != index.n_words:
        raise ParameterException(
            f"{what} vectors pack to {max(1, (dim + 31) // 32)} words but "
            f"the index was built with {index.n_words}"
        )
    return int(index.n_words)


def _sign_packing(df: DataFrame, vec_col: str, n_words, what: str,
                  index: BinaryIndex | None = None, other: tuple | None = None,
                  empty: str | None = None) -> int:
    """The binary family's packing check, shared by ``binary_quantize``,
    search, join and dedup: read ``df``'s dim (:func:`_check_dim`, one
    job; ``empty`` is raised when no vector is non-NULL) and return the
    word count to pack with. Against an ``index`` it comes from
    :func:`_check_packing`. Otherwise ``other`` = ``(frame, vec_col,
    name)`` is the right side an inline join or dedup packs too, whose dim
    must agree, and it derives as ceil(dim/32) — an explicit
    ``n_words`` (the ``.sql()`` render contract) must equal them."""
    dim = _check_dim(df, vec_col, None, what)
    if dim is None and empty is not None:
        raise ParameterException(empty)
    if index is not None:
        return _check_packing(index, dim, n_words, what)
    if other is not None:
        odf, ov, owhat = other
        odim = _check_dim(odf, resolve_col(odf, ov), None, owhat)
        if dim is not None and odim is not None and dim != odim:
            raise ParameterException(f"{what} dim {dim} != {owhat} dim {odim}")
        dim = odim if dim is None else dim
    derived = max(1, ((dim or 0) + 31) // 32)
    if n_words is not None and dim is not None and int(n_words) != derived:
        raise ParameterException(
            f"n_words={int(n_words)} but the {dim}-dim vectors pack to "
            f"{derived} words"
        )
    return derived if n_words is None else int(n_words)


def _packed(df: DataFrame, id_col: str, vec_col: str, n_words: int,
            id_alias: str, sig: str = "__sig") -> DataFrame:
    """``(id_alias, sig)``: ``df``'s vectors packed to sign words."""
    return df.select(
        F.col(resolve_col(df, id_col)).alias(id_alias),
        _sign_words_expr(f"`{resolve_col(df, vec_col)}`", n_words).alias(sig),
    )


def _signatures(index: BinaryIndex | None, df: DataFrame | None,
                id_col: str, vec_col: str, n_words: int,
                mid: str) -> DataFrame:
    """The ``(mid, __sig)`` reference side of a binary search, join or
    dedup: the prebuilt index's stored signatures, else ``df`` packed."""
    if index is not None:
        return index.frame.select(F.col("__rid").alias(mid), "__sig")
    return _packed(spread(df), id_col, vec_col, n_words, mid)


def _hamming_scores(q: DataFrame, r: DataFrame, mid: str,
                    max_hamming: int | None = None, bands: tuple | None = None,
                    exclude_self: bool = False) -> DataFrame:
    """The binary candidate scorer shared by search, join and dedup:
    queries ``(__qid, __qsig)`` × references ``(mid, __sig)`` →
    ``(__qid, mid, __score)``, the Hamming distance (xor + popcount per
    32-bit word, summed as bigint), at most ``max_hamming`` when set. A
    NULL signature (a NULL vector) is neither a query nor a candidate.

    ``bands=None`` broadcasts the bounded query side onto the reference
    scan (8 B/row at 64 dims; search and dedup). ``bands=(n_words, nb)``
    is the join's pigeonhole band equi-join (:func:`_nibble_band_keys`):
    no broadcast and no cross product, and one row per pair survives
    (a pair can agree on several bands). ``exclude_self`` drops id-equal
    pairs before scoring."""
    q = q.filter(F.col("__qsig").isNotNull())
    r = r.filter(F.col("__sig").isNotNull())
    if bands is None:
        pairs = r.crossJoin(F.broadcast(q))
    else:
        def banded(frame: DataFrame, key: str, sig: str) -> DataFrame:
            return frame.select(key, sig, F.explode(
                F.array(*_nibble_band_keys(sig, *bands))).alias("__band"))

        pairs = banded(q, "__qid", "__qsig").join(
            banded(r, mid, "__sig"), on="__band")
    if exclude_self:
        pairs = pairs.filter(F.col("__qid") != F.col(mid))
    ham = F.aggregate(
        F.zip_with(
            F.col("__qsig"), F.col("__sig"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = pairs.select("__qid", mid, ham.alias("__score"))
    if max_hamming is not None:
        scored = scored.filter(F.col("__score") <= max_hamming)
    return scored if bands is None else scored.dropDuplicates(["__qid", mid])


def _cosine_refine(cands: DataFrame, queries: DataFrame, round_scores):
    """The binary rerank's :func:`_topk` refine: candidates ``(mid,
    __cvec)`` and queries ``(__qid, __qvec)`` scored by exact cosine,
    rounded to ``round_scores`` dp when set."""
    cos = cosine_expr(F.col("__qvec"), F.col("__cvec"))
    return cands, queries, cos if round_scores is None else F.round(cos, round_scores)


def _packed_sql(table: str, id_col: str, vec_col: str, n_words: int,
                id_alias: str = "__mid", sig: str = "__sig") -> str:
    """SQL twin of :func:`_packed`."""
    return (
        f"(SELECT {id_col} AS {id_alias}, "
        f"{_sign_words_sql(vec_col, int(n_words))} AS {sig} FROM {table})"
    )


def _hamming_sql(q: str, r: str, max_hamming: int | None = None,
                 exclude_self: bool = False) -> str:
    """SQL twin of :func:`_hamming_scores` as the plain all-pairs join:
    packed queries ``(__qid, __qsig)`` × references ``(__mid, __sig)`` →
    ``(__qid, __mid, __score)``. The band join is a result-preserving
    optimization (pigeonhole recall at ``max_hamming`` is exact), so the
    replay needs no bands."""
    ham = (
        "aggregate(zip_with(q.__qsig, r.__sig, (a, b) -> "
        "CAST(bit_count(a ^ b) AS BIGINT)), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x)"
    )
    keep = "q.__qsig IS NOT NULL AND r.__sig IS NOT NULL"
    if exclude_self:
        keep += " AND q.__qid <> r.__mid"
    rel = (
        f"SELECT q.__qid, r.__mid, {ham} AS __score "
        f"FROM {r} r CROSS JOIN {q} q WHERE {keep}"
    )
    if max_hamming is None:
        return rel
    return f"SELECT * FROM ({rel}) WHERE __score <= {int(max_hamming)}"


def _cosine_refine_sql(cands: str, cand_id: str, cand_vec: str, queries: str,
                       query_id: str, query_vec: str, round_scores):
    """SQL twin of :func:`_cosine_refine`, as a :func:`_topk_sql` refine:
    the survivors join back to the candidate and query tables by id."""
    cos = _cosine_sql(f"qv.{query_vec}", f"cv.{cand_vec}")
    if round_scores is not None:
        cos = f"ROUND({cos}, {int(round_scores)})"
    return lambda h: (
        f"SELECT h.__qid, h.__mid, {cos} AS __score FROM ({h}) h "
        f"JOIN {cands} cv ON cv.{cand_id} = h.__mid "
        f"JOIN {queries} qv ON qv.{query_id} = h.__qid"
    )


def binary_index(reference: DataFrame, vec_col: str, id_col: str) -> BinaryIndex:
    """Build a reusable :class:`BinaryIndex` over a reference corpus —
    one row-local packing pass, persisted until ``release()``."""
    rv, ri = resolve_col(reference, vec_col), resolve_col(reference, id_col)
    # One-time build: a full min/max(size) aggregate is cheap here and
    # catches mixed-dimension corpora outright (per-batch paths sample
    # only the first row and DOCUMENT the uniform-dim assumption — a
    # longer vector would silently lose sign bits beyond n_words*32).
    ext = reference.select(
        F.min(F.size(F.col(rv))).alias("lo"),
        F.max(F.size(F.col(rv))).alias("hi"),
    ).first()
    if ext is None or ext["lo"] is None:
        raise ParameterException("reference is empty")
    if int(ext["lo"]) != int(ext["hi"]):
        raise ParameterException(
            f"reference vectors have mixed dimensions ({int(ext['lo'])}.."
            f"{int(ext['hi'])}) — sign packing requires a uniform dim"
        )
    dim = int(ext["lo"])
    n_words = max(1, (dim + 31) // 32)
    frame, n = materialize(_packed(spread(reference), ri, rv, n_words, "__rid"))
    return BinaryIndex(frame, n_words, n_docs=n, dim=dim)


def save_binary_index(index: BinaryIndex, path: str) -> str:
    """Persist a :class:`BinaryIndex` as parquet (``{path}/frame``,
    ``{path}/params``) — the cross-job artifact form."""
    return save_artifact(
        index, path, {"frame": index.frame.select("__rid", "__sig")}
    )


def load_binary_index(spark, path: str, persist: bool = True) -> BinaryIndex:
    """Load a :func:`save_binary_index` artifact. ``persist`` pins the
    signature frame for multi-batch reuse (call ``release()`` when done);
    artifacts saved before ``dim`` was recorded load with ``dim=None``,
    which skips the exact-dim guard and keeps the word-count one."""
    prm = read_params(spark, path, BinaryIndex)
    (frame,) = read_frames(spark, path, ("frame",), persist)
    return loaded(BinaryIndex(frame, int(prm["n_words"]), n_docs=prm["n_docs"],
                              dim=prm["dim"]), path)


def update_binary_index(index: BinaryIndex, new_vecs: DataFrame,
                        vec_col: str, id_col: str) -> BinaryIndex:
    """Fold a batch into an existing :class:`BinaryIndex`: only the batch
    pays packing (and packing has no fitted state, so — unlike the
    IVF/PQ updates — there is NO drift: update-then-check equals a full
    rebuild exactly; pytest-pinned). Ids must stay unique across
    increments; returns a NEW index, eagerly materialized."""
    v, i = resolve_col(new_vecs, vec_col), resolve_col(new_vecs, id_col)
    _check_packing(index, _check_dim(new_vecs, v, None, "batch"), None, "batch")
    merged, n = materialize(index.frame.select("__rid", "__sig").unionByName(
        _packed(spread(new_vecs), i, v, index.n_words, "__rid")
    ))
    return BinaryIndex(merged, index.n_words, n_docs=n, dim=index.dim)


@spark_transform("similarity_search_binary", category="similarity", streaming_ok=False)
def similarity_search_binary(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids,
    k: int = 10,
    rerank: bool = False,
    rerank_factor: int = 4,
    round_scores: int | None = 6,
    n_words: int | None = None,
    index: "BinaryIndex | None" = None,
) -> DataFrame:
    """Top-``k`` nearest corpus rows per query by HAMMING distance over
    1-bit sign quantization (:func:`binary_quantize`): the extreme end of
    the memory-bounded ladder — a 64-dim float64 corpus scans as 8 bytes
    per candidate (256× fewer than raw, 4× fewer than the m=8 PQ codes),
    and the per-pair cost is two XOR+popcount word ops instead of any
    float math. Recall tracks the SimHash angular bound; rerank the
    top-k' (k' ≈ 4k) with exact cosine when precision matters.

    Output (QUERY_ID, MATCH_ID, HAMMING, RANK) — ascending Hamming,
    ties -> lowest MATCH_ID; self-matches excluded. Integer-exact in
    both engines, so the operator carries a full hash oracle and a
    ``.sql()`` renderer with no rounding contract at all.

    ``rerank=True`` is the production two-stage pattern: the Hamming
    stage keeps ``k · rerank_factor`` candidates per query (the cheap
    8-byte scan does the winnowing), then ONLY those survivors pay an
    exact cosine against the full vectors — output
    (QUERY_ID, MATCH_ID, COSINE, RANK), cosine desc. The survivor set is
    integer-determined (Hamming + id tie-break), so the mode stays
    exactly replayable with the standard rounded-cosine policy
    (``round_scores``).

    100 TB shape: signs pack row-locally (no shuffle), the bounded query
    side broadcasts, and the corpus-side scan reads only the packed
    words; the per-query top-k window is WindowGroupLimit-prunable like
    the other search operators. The rerank join touches queries × k ·
    rerank_factor rows — never the corpus.

    ``n_words`` (= ceil(dim/32)) is derived from the data by default and
    validated when passed explicitly; pass it explicitly on ``.sql()``
    chains — the renderer cannot see the data and refuses to guess.

    UNIFORM-DIM ASSUMPTION: the dim guard samples the FIRST non-NULL
    vector only (a full-corpus aggregate per call would defeat the
    cheap-scan point of this operator). In a mixed-dimension corpus, vectors longer than
    dim lose sign bits beyond n_words*32 and shorter ones zero-pad,
    silently skewing Hamming distances — enforce uniform dims upstream
    (``binary_index`` DOES aggregate-check this at its one-time build).

    A prebuilt ``index`` (round 10: :func:`binary_index` /
    :func:`load_binary_index`, foldable with ``update_binary_index``)
    skips the per-call corpus re-pack — the Hamming scan reads the stored
    8-byte signatures instead of full-width vectors, the amortized
    production regime. ``df`` is still the authoritative vector source
    for ``rerank=True``'s exact-cosine stage (and the dim guard); as with
    ``similarity_search_ivfpq``, the ``n_docs`` staleness fingerprint is
    CALLER-CHECKED on the search path — compare ``index.n_docs`` yourself
    before searching a possibly-stale artifact."""
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    if index is not None:
        check_type(index, BinaryIndex, "similarity_search_binary")
    nw = _sign_packing(df, v, n_words, "corpus", index, empty="input is empty")
    packed = _signatures(index, df, i, v, nw, "MATCH_ID")
    q = packed.filter(F.col("MATCH_ID").isin(list(query_ids))).select(
        F.col("MATCH_ID").alias("__qid"), F.col("__sig").alias("__qsig")
    )
    # survivors only pay the vector read: the tiny (queries x k x factor)
    # id frame broadcasts onto a second corpus projection, so the Hamming
    # scan stays 8 bytes/candidate and the corpus never shuffles
    refine = None if not rerank else _cosine_refine(
        df.select(F.col(i).alias("MATCH_ID"), F.col(v).alias("__cvec")),
        df.select(F.col(i).alias("__qid"), F.col(v).alias("__qvec"))
        .filter(F.col("__qid").isin(list(query_ids))),
        round_scores,
    )
    top = _topk(
        _hamming_scores(q, packed, "MATCH_ID", exclude_self=True), "MATCH_ID",
        k, asc=True, refine=refine, rerank_factor=rerank_factor,
        hint="broadcast",
    )
    return top.select(
        F.col("__qid").alias("QUERY_ID"), "MATCH_ID",
        F.col("__score").alias("COSINE" if rerank else "HAMMING"), "RANK",
    )


@renderer("similarity_search_binary")
def _r_similarity_search_binary(source, vec_col, id_col, query_ids, k=10,
                                rerank=False, rerank_factor=4,
                                round_scores=6, n_words=None,
                                index=None) -> str:
    """Integer-exact replay: same packing words, xor + bit_count per word,
    ascending-Hamming window. Without rerank there is no rounding
    contract anywhere; rerank mode adds the standard rounded-cosine
    policy over the integer-determined survivor set."""
    if index is not None:
        from ..errors import TransformRenderingException

        raise TransformRenderingException(
            "similarity_search_binary renders the inline packing; a "
            "prebuilt index is an external artifact the renderer cannot "
            "replay"
        )
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    if n_words is None:
        from ..errors import TransformRenderingException

        raise TransformRenderingException(
            "similarity_search_binary renders only with an explicit "
            "n_words (= ceil(dim/32)); the vector dimension is unknowable "
            "at render time"
        )
    qlist = ", ".join(_sql_id_literal(q) for q in query_ids)
    packed = _packed_sql(source, id_col, vec_col, n_words)
    q = (
        f"(SELECT __mid AS __qid, __sig AS __qsig FROM {packed} __q "
        f"WHERE __mid IN ({qlist}))"
    )
    refine = None if not rerank else _cosine_refine_sql(
        source, id_col, vec_col, source, id_col, vec_col, round_scores)
    ranked = _topk_sql(_hamming_sql(q, packed, exclude_self=True), k,
                       asc=True, refine=refine, rerank_factor=rerank_factor)
    return (
        f"SELECT __qid AS QUERY_ID, __mid AS MATCH_ID, __score AS "
        f"{'COSINE' if rerank else 'HAMMING'}, RANK FROM ({ranked})"
    )


def _nibble_band_keys(sig: str, n_words: int, nb: int) -> list:
    """Pigeonhole band keys over a packed sign signature: the
    ``n_words * 8`` nibbles (4-bit groups) partition into ``nb`` contiguous
    bands; any pair within Hamming distance ``nb - 1`` agrees on at least
    one whole band (pigeonhole), so a band equi-join has EXACT recall at
    that threshold — the multi-index hashing decomposition (Norouzi,
    Punjani & Fleet, CVPR 2012, public technique). One F.expr per band
    (integer shifts/masks — replayed verbatim by the oracle)."""
    nn = n_words * 8
    keys = []
    for b in range(nb):
        lo, hi = b * nn // nb, (b + 1) * nn // nb
        parts = [f"'{b}'"] + [
            f"(shiftright(element_at({sig}, {p // 8 + 1}), {4 * (p % 8)}) & 15)"
            for p in range(lo, hi)
        ]
        keys.append(F.expr("concat_ws(':', " + ", ".join(parts) + ")"))
    return keys


@spark_transform("embedding_join_binary", category="similarity", streaming_ok=False)
def embedding_join_binary(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    other=None,
    other_vec: str | None = None,
    other_id: str | None = None,
    k: int = 1,
    max_hamming: int = 6,
    rerank: bool = False,
    rerank_factor: int = 4,
    round_scores: int | None = 6,
    right_prefix: str = "MATCH_",
    n_words: int | None = None,
    index: "BinaryIndex | None" = None,
) -> DataFrame:
    """The BIG-BIG semantic join: attach each left row's top-``k`` right
    rows within Hamming distance ``max_hamming`` over 1-bit sign
    signatures (:func:`binary_quantize`) — the one join in the ANN family
    with NO broadcast and NO per-query corpus scan, so it survives a
    billion×billion shape. Candidates come from a pigeonhole band
    equi-join (multi-index hashing, Norouzi et al. 2012): the signature's
    nibbles split into ``max_hamming + 1`` bands, and any pair within the
    threshold agrees on at least one whole band — EXACT recall, not
    probabilistic, so the operator carries a full integer hash oracle and
    a ``.sql()`` renderer. Appends ``{right_prefix}ID``, ``HAMMING``,
    ``RANK`` (ascending Hamming, ties → lowest right id); inner join
    (left rows with no candidate in range drop); id-equal matches
    excluded (the join family's single-namespace rule); fewer than ``k``
    matches when fewer right rows sit inside the threshold — the bound is
    the contract (unbounded top-k needs a corpus scan per row; use
    ``embedding_join_ivf``/``_ivfpq`` for that regime).

    100 TB shape: both sides pack row-locally to 8 B/row signatures
    (64-dim), explode to ``max_hamming + 1`` slim band rows each, and
    shuffle ONLY on the band key — per-row cost is bands × (key bytes),
    independent of either corpus size; the verify stage pays 2
    xor+popcount word ops per colliding pair. Skew: exact-duplicate
    signature clusters collide on every band (the dedup_simhash skew
    note); no broadcast hint anywhere, so the band join stays
    AQE-skew-eligible. ``max_hamming`` must stay below ``n_words * 8``
    (nibble granularity bounds the band count; Charikar's bound says
    Hamming 6 of 64 bits already means cosine ≈ 0.96, so useful
    thresholds sit far below the cap).

    ``rerank=True`` keeps ``k · rerank_factor`` Hamming survivors per
    left row, reranks ONLY those by exact cosine over the full vectors
    (requires the right-side ``other`` frame for its vectors — a
    signatures-only ``index`` cannot serve the rerank stage), and returns
    ``COSINE`` instead of ``HAMMING`` — the survivor set is
    integer-determined, so the mode stays exactly replayable under the
    standard rounded-cosine policy (``round_scores``).

    A prebuilt :class:`BinaryIndex` (``binary_index``/
    ``load_binary_index``, foldable with ``update_binary_index``) skips
    the per-call right-side re-pack; ``n_docs`` staleness is checked when
    both ``other`` and ``index`` are passed. ``n_words`` follows the
    ``binary_quantize`` contract (derived from data, validated when
    explicit, required by the renderer). Uniform-dim assumption as
    documented on :func:`similarity_search_binary`."""
    if k < 1:
        raise ParameterException("k must be >= 1")
    if max_hamming < 0:
        raise ParameterException("max_hamming must be >= 0")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    odf = other.df if hasattr(other, "df") else other
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    ov, oi = other_vec or vec_col, other_id or id_col
    if index is not None:
        check_type(index, BinaryIndex, "embedding_join_binary")
        if rerank and odf is None:
            raise ParameterException(
                "rerank=True needs the right-side vectors (other=...); a "
                "BinaryIndex holds signatures only"
            )
        check_fresh(index, odf, "right-side")
    elif odf is None:
        raise ParameterException(
            "embedding_join_binary needs a right-side frame (other=...)"
            " or a prebuilt BinaryIndex"
        )
    nw = _sign_packing(df, v, n_words, "left", index, (odf, ov, "right"),
                       empty="left side is empty")
    nb = max_hamming + 1
    if nb > nw * 8:
        raise ParameterException(
            f"max_hamming={max_hamming} needs {nb} bands but the "
            f"{nw * 8}-nibble signature supports at most {nw * 8} — use "
            "the IVF/IVF-PQ join for looser thresholds"
        )
    # survivors only pay the vector read — the join-back frames are
    # queries × k · factor rows, never a corpus
    refine = None if not rerank else _cosine_refine(
        odf.select(F.col(resolve_col(odf, oi)).alias("__rid"),
                   F.col(resolve_col(odf, ov)).alias("__cvec")),
        df.select(F.col(i).alias("__qid"), F.col(v).alias("__qvec")),
        round_scores,
    )
    top = _topk(
        _hamming_scores(
            _packed(df, i, v, nw, "__qid", "__qsig"),
            _signatures(index, odf, oi, ov, nw, "__rid"), "__rid",
            max_hamming=max_hamming, bands=(nw, nb), exclude_self=True,
        ),
        "__rid", k, asc=True, refine=refine, rerank_factor=rerank_factor,
    )
    matches = top.select(
        F.col("__qid").alias(i), F.col("__rid").alias(f"{right_prefix}ID"),
        F.col("__score").alias("COSINE" if rerank else "HAMMING"), "RANK",
    )
    return df.join(matches, on=i, how="inner")


@renderer("embedding_join_binary")
def _r_embedding_join_binary(source, vec_col, id_col, other=None,
                             other_vec=None, other_id=None, k=1,
                             max_hamming=6, rerank=False, rerank_factor=4,
                             round_scores=6, right_prefix="MATCH_",
                             n_words=None, index=None) -> str:
    """Plain all-pairs rendering (the _r_dedup_simhash precedent): the
    banded candidate join is a result-preserving optimization — pigeonhole
    recall at ``max_hamming`` is EXACT — so the render replays the
    equivalent Hamming-thresholded pair join + window directly. Requires
    explicit ``n_words`` (the binary family's render contract)."""
    from ..errors import TransformRenderingException

    if index is not None:
        raise TransformRenderingException(
            "embedding_join_binary renders the inline packing; a prebuilt "
            "index is an external artifact the renderer cannot replay"
        )
    if other is None:
        raise TransformRenderingException(
            "embedding_join_binary renders only with a right-side table "
            "(other=...)"
        )
    if n_words is None:
        raise TransformRenderingException(
            "embedding_join_binary renders only with an explicit n_words "
            "(= ceil(dim/32)); the vector dimension is unknowable at "
            "render time"
        )
    if k < 1:
        raise ParameterException("k must be >= 1")
    if max_hamming < 0:
        raise ParameterException("max_hamming must be >= 0")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    ov, oi = other_vec or vec_col, other_id or id_col
    scored = _hamming_sql(
        _packed_sql(source, id_col, vec_col, n_words, "__qid", "__qsig"),
        _packed_sql(other, oi, ov, n_words), max_hamming, exclude_self=True,
    )
    refine = None if not rerank else _cosine_refine_sql(
        other, oi, ov, source, id_col, vec_col, round_scores)
    ranked = _topk_sql(scored, k, asc=True, refine=refine,
                       rerank_factor=rerank_factor)
    return (
        f"SELECT s.*, m.__mid AS {right_prefix}ID, m.__score AS "
        f"{'COSINE' if rerank else 'HAMMING'}, m.RANK FROM {source} s "
        f"JOIN ({ranked}) m ON m.__qid = s.{id_col}"
    )


@spark_transform("embedding_join", category="similarity", streaming_ok=False)
def embedding_join(
    df: DataFrame,
    other,
    vec_col: str,
    id_col: str,
    other_vec: str | None = None,
    other_id: str | None = None,
    k: int = 1,
    method: str = "brute",
    num_planes: int = 6,
    right_prefix: str = "MATCH_",
    round_scores: int | None = 6,
) -> DataFrame:
    """Semantic join: attach each left row's top-``k`` most-similar rows
    from ``other`` by embedding cosine — the join-shaped form of
    ``similarity_search`` (entity resolution, cross-corpus linking,
    retrieval labeling). Appends ``{right_prefix}ID``, ``COSINE``, ``RANK``;
    left rows keep all columns (left rows with no candidate — possible
    under method='lsh' bucketing — are dropped, an inner join).

    method='brute' is exact (right side broadcast against every left row —
    right must be the smaller corpus); method='lsh' buckets both sides by
    hyperplane signature so only same-bucket pairs score — the scale path
    when both sides are large.
    """
    odf = other.df if hasattr(other, "df") else other
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    ov = resolve_col(odf, other_vec or vec_col)
    oi = resolve_col(odf, other_id or id_col)
    matches = similarity_search(
        odf.select(F.col(oi).alias(i), F.col(ov).alias(v)),
        vec_col=v,
        id_col=i,
        queries=df.select(F.col(i), F.col(v)),
        k=k,
        method=method,
        num_planes=num_planes,
        round_scores=round_scores,
    ).select(
        F.col("QUERY_ID").alias(i),
        F.col("MATCH_ID").alias(f"{right_prefix}ID"),
        "COSINE",
        "RANK",
    )
    return df.join(matches, on=i, how="inner")


@renderer("embedding_join")
def _r_embedding_join(
    source, other, vec_col, id_col, other_vec=None, other_id=None, k=1,
    method="brute", num_planes=6, right_prefix="MATCH_", round_scores=6,
) -> str:
    from ..errors import TransformRenderingException

    if method != "brute" or other == "<dataframe>":
        raise TransformRenderingException(
            "embedding_join is SQL-renderable only for method='brute' with "
            "a named/chain right table"
        )
    qsql = f"SELECT {id_col} AS __qid, {vec_col} AS __qv FROM {source}"
    matches = _topk_matches_sql(
        other, other_id or id_col, other_vec or vec_col, qsql, k,
        round_scores,
    )
    return (
        f"SELECT * FROM {source} JOIN ("
        f"SELECT QUERY_ID AS {id_col}, MATCH_ID AS {right_prefix}ID, "
        f"COSINE, RANK FROM ({matches})) USING ({id_col})"
    )
