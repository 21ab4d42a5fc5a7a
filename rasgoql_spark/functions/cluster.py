"""Deterministic Lloyd fits over embedding columns, and the k-means
operators built on them (spherical k-means and product-quantization
codebooks — Lloyd's algorithm, public technique). Corpus-level document
clustering is a standard LLM-pipeline step: topic bucketing for mixture
design, cluster-based quality triage, semantic sharding.

One loop, three contracts. :func:`lloyd_fit` is the package's only
executed Lloyd loop: it owns the lowest-id seed collect, the pass (assign,
``posexplode``, one mean per (book, code, position), one ``collect``,
re-assembly on the driver), the update rule, and the fusion of several
independent fits' passes under one union (one collect per pass level).
Callers hand it :class:`Lloyd` records; a record's fields are the
contract:

- **rounded spherical** (``round_to`` set, ``m`` 0 — kmeans_cluster,
  semantic_dedup, rounded flat IVF, the IVF-PQ coarse quantizer): argmax
  over ``round_to``-rounded cosines, ties -> lowest centroid id;
  9-dp-rounded seeds and means, re-normalized; an empty cluster keeps its
  previous centroid.
- **PQ codebooks** (``m`` >= 1 — pq_encode, pq_search, IVF-PQ): per
  subspace, argmin over ``round_to``-rounded squared L2, ties -> lowest
  code; 9-dp-rounded seeds and means, no re-normalization; an empty code
  keeps its centroid.
- **unrounded IVF** (``round_to`` None — build_ivf_index, ivf_index,
  inline unrounded IVF): raw seeds and means, re-normalized; an empty
  cluster is dropped.

Seeds are always the vectors of the LOWEST ids. The rounding of the
rounded contracts absorbs summation-order differences across engines and
Spark partitionings, so seed, passes and final assignment replay
bit-for-bit as unrolled ANSI SQL (:func:`_lloyd_sql`, the one SQL twin of
the loop), which is what the DuckDB oracles do.

100 TB design: vectors normalize row-locally; the k centroids are a
bounded driver collect (k·dim doubles) re-embedded as literals, so every
assignment pass is a shuffle-free projection — the corpus never joins or
explodes for assignment. Above ``similarity.IVF_LITERAL_CENTROID_MAX``
(256) centroids the literal expression tree would grow linearly with k
(semantic_dedup's ``k="auto"`` mandates k ≈ n/5000 — k≈200,000 at 1B
docs), so the shared ``_attach_centroids`` helper ships the centroid array
as a ONE-ROW broadcast instead: the corpus still never shuffles
(broadcast nested-loop against a single row) and plan size stays O(1) in
k. Only the Lloyd re-average shuffles, and it ships slim (book, code,
pos, value) tuples with partial combine. Python never touches row data.

No counterpart in the reference; cites the public algorithm only.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import resolve_col, spread
from ..registry import renderer, spark_transform
from ._cache import release_with, scoped_persist
from ._filter import drop_sql, finish, reread_input
from ._litfast import centroid_array_lit
from .similarity import _argmax_cid, _attach_centroids

CENT_ROUND = 9  # decimals kept on centroid components (both engines)
# skip semantic_dedup's exact-dup collapse when the largest identical-vector
# group is at most this size (the pair join handles small groups exactly;
# same guard pattern as dedup.COLLAPSE_MIN_GROUP)
SEM_COLLAPSE_MIN_GROUP = 16


def _unit_rounded(df: DataFrame, vec_col: str, out_col: str = "__u") -> DataFrame:
    """Append a unit-normalized, 9-dp-rounded double copy of ``vec_col``.
    The norm is staged in its own column (HOF staging rule — see
    similarity._with_normalized); zero-norm vectors pass through as plain
    double casts."""
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
                F.transform(v, lambda x: F.round(x.cast("double") / F.col("__vnorm"), CENT_ROUND)),
            ).otherwise(F.transform(v, lambda x: x.cast("double"))),
        )
        .drop("__vnorm")
    )


def _unit_corpus(df: DataFrame, v: str, i: str,
                 rotation: list | None = None) -> DataFrame:
    """The persisted corpus of every rounded fit: the slim ``(__id, __u)``
    with ``__u`` the 9-dp unit vector of column ``v`` — pre-rotated by
    ``rotation`` (IVF-PQ's ``rotate=True``) when given. Nothing downstream
    reads the raw vector, so it is not cached; callers release the frame
    with their result."""
    base = _unit_rounded(
        spread(df).select(F.col(i).alias("__id"), F.col(v).alias("__vec")), "__vec"
    )
    if rotation is not None:
        from .pq import _rotate_expr

        base = base.withColumn("__u", _rotate_expr("__u", rotation))
    return scoped_persist(base.select("__id", "__u"))


def _sq_dist(a: Column, b) -> Column:
    """Sequential-fold squared L2 — same evaluation order both engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _code_expr(sub_col: str, codebook: list, round_to: int) -> Column:
    """argmin code over ROUNDED squared distances; ties -> lowest code."""
    # one F.expr call, not codes·dim py4j F.lit round trips — see _litfast
    cents = centroid_array_lit(codebook, id_type="int")
    dists = F.transform(
        cents,
        lambda ce: F.struct(
            F.round(_sq_dist(F.col(sub_col), ce["v"]), round_to).alias("d"),
            ce["c"].alias("c"),
        ),
    )
    return F.array_min(dists)["c"]


def _codes(books: list, round_to: int) -> Column:
    """``array<int>`` of the per-subspace PQ codes over the ``__s{s}``
    columns of :func:`_stage_subvectors`."""
    return F.array(*[_code_expr(f"__s{s}", b, round_to) for s, b in enumerate(books)])


def _stage_subvectors(df: DataFrame, m: int, d_sub: int, u_col: str = "__u") -> DataFrame:
    """Materialize each subspace slice behind a projection boundary (HOF
    staging rule): the argmin lambda evaluates its input once per codebook
    entry, so it must reference a plain column, not the slice expression."""
    return df.withColumns(
        {f"__s{s}": F.slice(F.col(u_col), s * d_sub + 1, d_sub) for s in range(m)}
    )


def _renorm_py(vec: list) -> list:
    s = sum(x * x for x in vec) ** 0.5
    return [round(x / s, CENT_ROUND) for x in vec] if s > 0 else list(vec)


def _norm_py(vec: list) -> list:
    s = sum(x * x for x in vec) ** 0.5
    return [x / s for x in vec] if s > 0 else [0.0 for _ in vec]


class Lloyd(NamedTuple):
    """One Lloyd recurrence handed to :func:`lloyd_fit`, its contract as
    data (see the module docstring): ``k`` lowest-id seeds from column
    ``vec`` of the persisted ``frame`` and ``iterations`` passes over it.
    ``round_to`` None is the unrounded IVF contract; ``m`` >= 1 trains
    ``m`` PQ codebooks over ``d_sub``-wide slices instead of one set of
    spherical centroids."""

    frame: DataFrame
    k: int
    iterations: int
    round_to: int | None = None
    m: int = 0
    d_sub: int = 0
    vec: str = "__u"


def _seed_rows(frame: DataFrame, n: int, vec: str = "__u") -> list:
    """The one lowest-id seed collect: column ``vec`` of the ``n``
    lowest-``__id`` rows of ``frame`` — one TakeOrdered job."""
    return frame.orderBy("__id").limit(n).select(vec).collect()


def _seed_books(fit: Lloyd, rows: list) -> list:
    """The fit's initial books from lowest-id-first seed rows."""
    vecs = [r[fit.vec] for r in rows[:fit.k]]
    if fit.round_to is None:
        return [[(c, list(v)) for c, v in enumerate(vecs)]]
    vecs = [[round(float(x), CENT_ROUND) for x in v] for v in vecs]
    if not fit.m:
        return [list(enumerate(vecs))]
    d = fit.d_sub
    return [[(c, v[s * d:(s + 1) * d]) for c, v in enumerate(vecs)]
            for s in range(fit.m)]


def _pass(fit: Lloyd, books: list, off: int) -> DataFrame:
    """One Lloyd pass of ``fit`` as a slim aggregation: every row assigned
    against the current ``books``, then ``(__b, __c, __pos, __m)`` — the
    mean of position ``__pos`` over the rows of code ``__c`` in book
    ``__b`` (numbered from ``off``, so fused fits never share a key). The
    means collect as books·codes·dim rows (bounded) and re-assemble on the
    driver, which skips a second shuffle round."""
    if fit.m:
        d = fit.d_sub
        sub = F.transform(
            F.sequence(F.lit(0), F.lit(fit.m - 1)),
            lambda s: F.struct(
                (s + off).alias("__b"),
                F.element_at("__codes", s + 1).cast("bigint").alias("__c"),
                F.slice("__u", s * d + 1, d).alias("__v"),
            ),
        )
        keyed = (
            _stage_subvectors(fit.frame, fit.m, d)
            .withColumn("__codes", _codes(books, fit.round_to))
            .select(F.explode(sub).alias("__x")).select("__x.*")
        )
    else:
        base, carr, _drop = _attach_centroids(fit.frame, books[0])
        keyed = base.select(
            F.lit(off).alias("__b"),
            _argmax_cid(carr, fit.vec, fit.round_to).alias("__c"),
            F.col(fit.vec).alias("__v"),
        )
    mean = F.avg("__x")
    if fit.round_to is not None:
        mean = F.round(mean, CENT_ROUND)
    return (
        keyed.select("__b", "__c", F.posexplode("__v").alias("__pos", "__x"))
        .groupBy("__b", "__c", "__pos")
        .agg(mean.alias("__m"))
    )


def _update(fit: Lloyd, book: list, means: dict) -> list:
    """The fit's update rule over one book, given the pass means
    ``{code: {pos: mean}}`` of that book."""
    out = []
    for c, old in book:
        d = means.get(c)
        if d is None:
            # rounded contracts keep an empty cluster's centroid; the
            # unrounded IVF fit drops it
            if fit.round_to is not None:
                out.append((c, old))
            continue
        vec = [d[p] for p in range(len(d))]
        if not fit.m:
            vec = _renorm_py(vec) if fit.round_to is not None else _norm_py(vec)
        out.append((c, vec))
    return out


def lloyd_fit(*fits: Lloyd, seed_rows: list | None = None) -> list:
    """Run every fit in ``fits`` to its ``iterations`` and return each
    one's result: the ``[(cid, vector)]`` centroid list of a spherical fit,
    the ``m`` ``[(code, vector)]`` codebooks of a PQ fit.

    Seeds come from ONE lowest-id collect over the first fit's frame
    (:func:`_seed_rows`), unless the caller passes ``seed_rows`` it
    already collected — lowest-id-first rows holding each fit's ``vec``
    column, at least ``k`` of them when the corpus has ``k`` rows. The
    IVF-PQ build does, since the same collect is its dimension probe and
    cache fill.

    Independent fits run pass-fused: pass level j unions the slim
    aggregation of every fit that still has a pass j, and ONE ``collect``
    returns them all — max(iterations) collects instead of their sum (plan-level
    fusion rather than driver threads, which were measured slower on a
    shared core pool). Each branch aggregates by its own keys before the
    union, so every rounded mean is the value the fit alone produces."""
    if seed_rows is None:
        seed_rows = _seed_rows(fits[0].frame, max(f.k for f in fits), fits[0].vec)
    books, offs = [], []
    for f in fits:
        offs.append(len(books))
        books += _seed_books(f, seed_rows)
    for j in range(max(f.iterations for f in fits)):
        live = [(f, o, o + max(f.m, 1)) for f, o in zip(fits, offs) if j < f.iterations]
        fused = reduce(DataFrame.unionByName,
                       [_pass(f, books[lo:hi], lo) for f, lo, hi in live])
        means: dict = {}
        for r in fused.collect():
            means.setdefault(r["__b"], {}).setdefault(r["__c"], {})[r["__pos"]] = r["__m"]
        for f, lo, hi in live:
            for b in range(lo, hi):
                books[b] = _update(f, books[b], means.get(b, {}))
    return [books[o:o + f.m] if f.m else books[o] for f, o in zip(fits, offs)]


@spark_transform("kmeans_cluster", category="similarity", streaming_ok=False)
def kmeans_cluster(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iterations: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Append ``CLUSTER_ID`` (bigint, 0..k-1): spherical k-means assignment
    after ``iterations`` deterministic Lloyd passes from lowest-id seeds.
    A cluster left empty by a pass keeps its previous centroid.
    """
    if k < 1:
        raise ParameterException("k must be >= 1")
    if iterations < 0:
        raise ParameterException("iterations must be >= 0")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    cached = _unit_corpus(df, v, i)
    (cents,) = lloyd_fit(Lloyd(cached, k, iterations, round_to))
    fbase, fcarr, _fdrop = _attach_centroids(cached, cents)
    out_assign = fbase.select(
        F.col("__id").alias(i), _argmax_cid(fcarr, "__u", round_to).alias("CLUSTER_ID")
    )
    return release_with(
        df.join(out_assign, on=i, how="inner").select(*df.columns, "CLUSTER_ID"),
        cached,
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _unit_norm_sql(vec_col: str, id_col: str, source: str,
                   extra_cols: tuple = ()) -> str:
    """Normalized-corpus subquery shared by the vector renderers — the SQL
    mirror of :func:`_unit_rounded`: ``(__id[, extra...], __u)`` with the
    9-dp unit rounding, zero-norm vectors passing through as plain double
    casts. One definition so the normalization contract (CENT_ROUND, the
    zero-norm branch, the staged __vnorm column) can never drift between
    the kmeans / embedding_outliers / semantic_dedup / pq renderers."""
    unit = (
        f"CASE WHEN __vnorm > 0 THEN "
        f"transform({vec_col}, x -> round(CAST(x AS DOUBLE) / __vnorm, {CENT_ROUND})) "
        f"ELSE transform({vec_col}, x -> CAST(x AS DOUBLE)) END"
    )
    extra = "".join(f"{c}, " for c in extra_cols)
    return (
        f"(SELECT __id, {extra}{unit} AS __u FROM "
        f"(SELECT {id_col} AS __id, {extra}{vec_col}, "
        f"sqrt(aggregate(transform({vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) AS __vnorm FROM {source}))"
    )


def _norm_sql(arr: str) -> str:
    return (
        f"sqrt(aggregate(transform({arr}, x -> x * x), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )


@renderer("kmeans_cluster")
def _r_kmeans_cluster(source, vec_col, id_col, k=8, iterations=1, round_to=6) -> str:
    """Unrolled replay of the rounded spherical fit in Spark SQL
    (:func:`_lloyd_sql`), then the final assignment joined back onto the
    source rows. The DataFrame path collects the per-iteration means to
    the driver and embeds them as literals; the rendered SQL computes them
    in-flight — equality holds because assignments compare ROUNDED sims
    (the same argmin-robustness contract the DuckDB oracle relies on). The
    normalized-input subquery inlines at each reference (seeds + per-
    iteration assign/mean + final assign) — executed-SQL recompute the
    DataFrame path avoids by persisting; the render is an export artifact."""
    nv, cents_sql, assign = _kmeans_render_parts(
        source, vec_col, id_col, k, iterations, round_to, "kmeans_cluster"
    )
    final = assign(cents_sql)
    return (
        f"SELECT s.*, f.c AS CLUSTER_ID FROM {source} s "
        f"JOIN {final} f ON f.__id = s.{id_col}"
    )


def _mean_sql(exploded: str, key: str = "", out: str = "mv") -> str:
    """SQL twin of the pass mean: over ``exploded`` rows ``([key,] pos,
    val)``, the 9-dp-rounded mean of each position re-assembled in
    position order as array ``out`` (one row per ``key``, or one row)."""
    k, g = (f"{key}, ", f" GROUP BY {key}") if key else ("", "")
    return (
        f"SELECT {k}transform(array_sort(collect_list(struct(pos, m))), "
        f"e -> e.m) AS {out} FROM (SELECT {k}pos, round(avg(val), {CENT_ROUND}) "
        f"AS m FROM ({exploded}) GROUP BY {k}pos){g}"
    )


def _lloyd_sql(rel: str, k: int, iterations: int, round_to: int,
               l2: bool = False):
    """SQL twin of one rounded :func:`lloyd_fit` book over ``rel``
    ``(__id, __u)``: returns ``(cents, assign)`` — the post-Lloyd relation
    ``(c, v)`` and a function rendering the assignment ``(__id, c)``
    against any centroid relation. Seeds are the ``k`` lowest ids; the
    assignment ranks ``round_to``-rounded cosines desc (``l2``: rounded
    squared L2 asc, int codes — one PQ subspace), ties -> lowest c; each
    pass takes the 9-dp mean (re-normalized unless ``l2``) and an empty
    cluster keeps its previous centroid."""
    if l2:
        score = ("aggregate(zip_with(t.__u, s.v, (x, y) -> (x - y) * (x - y)), "
                 "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
        order, ctype = "ASC", "INT"
    else:
        score, order, ctype = _dot_sql("t.__u", "s.v"), "DESC", "BIGINT"
    prev = (
        f"(SELECT CAST(ROW_NUMBER() OVER (ORDER BY __id) - 1 AS {ctype}) AS c, "
        f"__u AS v FROM (SELECT __id, __u FROM {rel} ORDER BY __id LIMIT {int(k)}))"
    )

    def assign(cents_sql: str) -> str:
        return (
            f"(SELECT __id, c FROM (SELECT t.__id, s.c, ROW_NUMBER() OVER "
            f"(PARTITION BY t.__id ORDER BY round({score}, {int(round_to)}) "
            f"{order}, s.c ASC) AS rn FROM {rel} t CROSS JOIN {cents_sql} s) "
            f"WHERE rn = 1)"
        )

    mv = "m.mv" if l2 else (
        f"CASE WHEN {_norm_sql('m.mv')} > 0 THEN "
        f"transform(m.mv, x -> round(x / {_norm_sql('m.mv')}, {CENT_ROUND})) "
        f"ELSE m.mv END"
    )
    for _ in range(int(iterations)):
        mm = _mean_sql(
            f"SELECT a.c, posexplode(t.__u) AS (pos, val) FROM {rel} t "
            f"JOIN {assign(prev)} a ON a.__id = t.__id", "c",
        )
        prev = (
            f"(SELECT p.c, COALESCE({mv}, p.v) AS v FROM {prev} p "
            f"LEFT JOIN ({mm}) m ON p.c = m.c)"
        )
    return prev, assign


def _kmeans_render_parts(source, vec_col, id_col, k, iterations, round_to,
                         caller: str, nv_override: str | None = None):
    """The rounded spherical fit's SQL for the replay renderers (kmeans,
    semantic_dedup, rounded IVF, IVF-PQ's coarse quantizer): returns
    ``(nv, cents_sql, assign_fn)`` — the normalized-corpus subquery, then
    :func:`_lloyd_sql`'s centroid relation and assignment. ``nv_override``
    swaps the normalized-corpus relation for a caller-built one exposing
    ``(__id, __u)`` — the rotated-PQ hook (pass a NAMED CTE: the relation
    is referenced by the seeds and every Lloyd pass, and an inline 64x64
    rotation literal would explode the statement)."""
    from ..errors import TransformRenderingException

    if k < 1:
        raise ParameterException("k must be >= 1")
    if iterations < 0:
        raise ParameterException("iterations must be >= 0")
    if iterations > 8:
        raise TransformRenderingException(
            f"{caller} renders unrolled Lloyd passes; iterations > 8 "
            "produces an impractically large statement"
        )
    nv = nv_override or _unit_norm_sql(vec_col, id_col, source)
    return (nv, *_lloyd_sql(nv, k, iterations, round_to))


@spark_transform("embedding_outliers", category="similarity", streaming_ok=False)
def embedding_outliers(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bottom: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Append ``CENTROID_SIM`` (cosine to the corpus centroid direction,
    rounded) and ``IS_OUTLIER`` (true for the ``bottom`` fraction by exact
    interpolated percentile) — embedding-space anomaly triage: encoder
    failures, off-domain content, and mojibake land far from the corpus
    centroid. The deterministic-rounding contract matches kmeans_cluster
    (9-dp centroid components, ``round_to``-dp sims), so the whole
    computation replays exactly in SQL.

    Scale: the centroid is ONE elementwise-mean aggregation shipping slim
    (pos, value) pairs with partial combine; it returns as a one-row
    broadcast, so scoring is a shuffle-free projection over the corpus.
    The threshold is a single percentile aggregate, also broadcast back.
    No driver-side data, no window over the corpus.
    """
    if not 0.0 <= bottom <= 1.0:
        raise ParameterException("bottom must be in [0, 1]")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    base = _unit_corpus(df, v, i)
    mean_row = (
        base.select(F.posexplode("__u").alias("__pos", "__v"))
        .groupBy("__pos")
        .agg(F.round(F.avg("__v"), CENT_ROUND).alias("__m"))
    )
    c0 = mean_row.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__m"))), lambda s: s["__m"]
        ).alias("__c0")
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("__c0"), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    cent = (
        c0.withColumn("__n", norm)
        .select(
            F.when(
                F.col("__n") > 0,
                F.transform(F.col("__c0"), lambda x: F.round(x / F.col("__n"), CENT_ROUND)),
            )
            .otherwise(F.col("__c0"))
            .alias("__cent")
        )
    )
    dot = F.aggregate(
        F.zip_with("__u", "__cent", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    sims = base.crossJoin(F.broadcast(cent)).select(
        "__id", F.round(dot, round_to).alias("CENTROID_SIM")
    )
    thr = sims.agg(
        F.round(F.percentile("CENTROID_SIM", F.lit(bottom)), round_to).alias("__thr")
    )
    scored = (
        sims.crossJoin(F.broadcast(thr))
        .withColumn("IS_OUTLIER", F.col("CENTROID_SIM") <= F.col("__thr"))
        .select(F.col("__id").alias(i), "CENTROID_SIM", "IS_OUTLIER")
    )
    return release_with(df.join(scored, on=i, how="inner"), base)


@renderer("embedding_outliers")
def _r_embedding_outliers(source, vec_col, id_col, bottom=0.05, round_to=6) -> str:
    """Single-pass replay of the centroid/percentile pipeline in Spark SQL
    (same determinism contract as the kmeans renderer: 9-dp centroid
    components, ``round_to``-dp sims, exact interpolated ``percentile``).
    The multi-referenced sims relation is a named CTE inside a subquery
    wrapper — ``SELECT * FROM (WITH ...)`` — so the rendered text embeds at
    any chain position without colliding with the outer CTE list."""
    if not 0.0 <= bottom <= 1.0:
        raise ParameterException("bottom must be in [0, 1]")
    nv = (
        f"__eo_nv AS (SELECT * FROM "
        f"{_unit_norm_sql(vec_col, id_col, source)} __eo_base)"
    )
    c0 = "__eo_c0 AS (" + _mean_sql(
        "SELECT posexplode(__u) AS (pos, val) FROM __eo_nv", out="c"
    ) + ")"
    cent = (
        f"__eo_cent AS (SELECT CASE WHEN {_norm_sql('c')} > 0 THEN "
        f"transform(c, x -> round(x / {_norm_sql('c')}, {CENT_ROUND})) "
        "ELSE c END AS cent FROM __eo_c0)"
    )
    sims = (
        f"__eo_sims AS (SELECT __id, round({_dot_sql('__u', 'cent')}, "
        f"{int(round_to)}) AS CENTROID_SIM FROM __eo_nv CROSS JOIN __eo_cent)"
    )
    thr = (
        "__eo_thr AS (SELECT round(percentile(CENTROID_SIM, "
        f"CAST({float(bottom)!r} AS DOUBLE)), {int(round_to)}) AS t FROM __eo_sims)"
    )
    return (
        f"SELECT * FROM (WITH {nv}, {c0}, {cent}, {sims}, {thr} "
        "SELECT s.*, x.CENTROID_SIM, x.CENTROID_SIM <= t.t AS IS_OUTLIER "
        f"FROM {source} s JOIN __eo_sims x ON s.{id_col} = x.__id "
        "CROSS JOIN __eo_thr t) __eo_out"
    )


def _semantic_candidates(
    withu: DataFrame,
    threshold: float,
    round_to: int,
    max_cluster_size: int | None,
):
    """Rep-level candidate machinery for :func:`semantic_dedup`.

    Exact-duplicate collapse (same rationale as ``dedup_minhash``'s
    skew guard): rows whose rounded unit vectors are bitwise identical
    always land in the same cluster and score a rounded cosine equal to the
    group's self-cosine, so every member above the group's lowest id is
    decided WITHOUT entering the O(cluster²) pair join — a crawl corpus
    with 100k copies of one boilerplate page contributes ONE rep. The
    collapse is result-preserving: a member's only sub-threshold case is
    the all-zero vector (self-cosine 0), and a zero vector can't be
    dropped by any external neighbor either (all its cosines are 0).
    Vectors containing NULL elements never collapse (per-row unique key):
    their cosines are NULL, so the original semantics keep them.

    ``max_cluster_size`` (optional) additionally chunks the surviving reps
    inside each cluster by id order, bounding candidate pairs at
    ``reps_in_cluster × max_cluster_size`` even when distinct-but-near
    vectors pile into one cluster. Pairs across chunks are not compared —
    a documented recall trade the caller opts into; leave it None for the
    exact SemDeDup semantics.

    Returns ``(reps, pairs, member_drops, caches)`` where ``pairs`` carries
    ``__ida/__idb/__cos``, ``member_drops`` bare ``__id`` rows, and
    ``caches`` the persisted frames the caller must release.
    """
    # null-safe group key: vectors containing a NULL element (or NULL
    # vectors) must never collapse with anything — concat_ws silently skips
    # NULLs, so [0.6, NULL, 0.8] would otherwise collide with [0.6, 0.8]
    # and be over-dropped (their cosines are NULL and the pair join keeps
    # them). Such rows get a per-row unique key; clean vectors key on
    # size + components (size disambiguates NULL vs empty).
    has_null = F.col("__u").isNull() | F.exists(
        F.col("__u"), lambda x: x.isNull()
    )
    vec_key = F.md5(
        F.concat(
            F.coalesce(F.size("__u"), F.lit(-1)).cast("string"),
            F.lit(":"),
            F.concat_ws(",", F.transform(F.col("__u"), lambda x: x.cast("string"))),
        )
    )
    gk = F.when(
        has_null, F.concat(F.lit("row:"), F.col("__id").cast("string"))
    ).otherwise(vec_key)
    # keyed is the one corpus-wide cache: it feeds the guard pre-count and
    # (on the skip path) both sides of the rep pair join; the pre-count
    # doubles as its materialization
    keyed = scoped_persist(withu.withColumn("__gk", gk))
    # Collapse guard (one slim pre-count pass; both paths are result-
    # preserving). Unlike dedup_minhash's band join — where a small group
    # adds at most C(group,2) pairs — semantic_dedup's pairs form within
    # whole CLUSTERS, so duplicate MASS matters even when every group is
    # small: a corpus that is 90% ten-copy groups grows the pair join
    # ~100x if left uncollapsed. Skip the window only when the largest
    # group is small AND duplicates are a trivial fraction of the corpus.
    row = (
        keyed.groupBy("__gk")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.max("__c").alias("mx"),
            F.count(F.lit(1)).alias("groups"),
            F.sum("__c").alias("rows"),
        )
        .first()
    )
    max_group = row["mx"] or 0
    dup_rows = (row["rows"] or 0) - (row["groups"] or 0)
    if max_group <= SEM_COLLAPSE_MIN_GROUP and (
        dup_rows <= max(SEM_COLLAPSE_MIN_GROUP, 0.02 * (row["rows"] or 0))
    ):
        reps = keyed.select("__id", "CLUSTER_ID", "__u")
        member_drops = withu.select("__id").limit(0)
        caches: tuple = (keyed,)
    else:
        # hot corpus: g (= keyed + rep annotation) feeds three consumers
        # (member_drops, both pair-join sides); persist so the group window
        # runs once over the cached input, not three times
        g = scoped_persist(keyed.withColumn(
            "__rep", F.min("__id").over(Window.partitionBy("__gk"))
        ))
        selfdot = F.aggregate(
            F.zip_with("__u", "__u", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        member_drops = (
            g.filter(F.col("__id") != F.col("__rep"))
            .withColumn("__selfcos", F.round(selfdot, round_to))
            .filter(F.col("__selfcos") >= threshold)
            .select("__id")
        )
        reps = g.filter(F.col("__id") == F.col("__rep")).select(
            "__id", "CLUSTER_ID", "__u"
        )
        caches = (keyed, g)
    if max_cluster_size is not None:
        wc = Window.partitionBy("CLUSTER_ID").orderBy("__id")
        reps = reps.withColumn(
            "__chunk",
            F.floor((F.row_number().over(wc) - F.lit(1)) / F.lit(max_cluster_size)),
        )
    else:
        reps = reps.withColumn("__chunk", F.lit(0))
    a = reps.select(
        F.col("__id").alias("__ida"), "CLUSTER_ID", "__chunk",
        F.col("__u").alias("__ua"),
    )
    b = reps.select(
        F.col("__id").alias("__idb"), "CLUSTER_ID", "__chunk",
        F.col("__u").alias("__ub"),
    )
    dot = F.aggregate(
        F.zip_with("__ua", "__ub", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, on=["CLUSTER_ID", "__chunk"])
        .filter(F.col("__ida") < F.col("__idb"))
        .withColumn("__cos", F.round(dot, round_to))
    )
    return reps, pairs, member_drops, caches


@spark_transform("semantic_dedup", category="similarity", streaming_ok=False)
def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: "int | str" = 8,
    iterations: int = 1,
    threshold: float = 0.9,
    round_to: int = 6,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public technique: Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): cluster embeddings with the deterministic
    spherical k-means above, then inside each cluster drop every row that
    has a LOWER-id neighbor with cosine >= ``threshold`` (rounded to
    ``round_to`` before the compare — the same tie-stability contract as
    the assignment step). Keeps original columns plus ``CLUSTER_ID``.

    Scale: the cosine self-join runs per-cluster (equi-join on
    CLUSTER_ID), so candidate pairs are O(sum of squared cluster sizes)
    instead of O(n^2) — ``k`` tunes the bound and MUST grow with the
    corpus. Pass ``k="auto"`` to derive ``k = max(8, ceil(n / 5000))``
    (mean cluster ~5000; one count() pass). Exact-duplicate embeddings are
    collapsed to one representative before the pair join (result-
    preserving — see ``_semantic_candidates``), so duplicate-heavy crawl
    skew can't go quadratic no matter what ``k`` is. For a hard ceiling on
    adversarially tight clusters, ``max_cluster_size`` chunks each
    cluster's reps by id order — pairs across chunks are then not
    compared (bounded-recall trade, off by default). The drop set ships
    as bare ids for one anti-join. With default ``max_cluster_size=None``
    the op is deterministic and exactly replayable by the DuckDB oracle.
    """
    if not -1.0 <= threshold <= 1.0:
        raise ParameterException("threshold must be in [-1, 1]")
    if max_cluster_size is not None and max_cluster_size < 2:
        raise ParameterException("max_cluster_size must be >= 2")
    if isinstance(k, str) and k != "auto":
        raise ParameterException("k must be an int or 'auto'")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    # df is read by the count, the corpus cache and the labeled drop
    df, inp = reread_input(df)
    if k == "auto":
        import math

        k = max(8, math.ceil(df.count() / 5000))
    # one normalized corpus cache shared by the fit, the pair join, and
    # the final assignment (round 13): composing kmeans_cluster here used
    # to normalize the corpus TWICE (once inside its own cache, once for
    # the pair join's __u) and persisted the full-width joined frame; the
    # slim (__id, __u, CLUSTER_ID) frame below is the only thing every
    # consumer needs, and the interpreted k x dim assignment fold still
    # evaluates once (asg is the persisted boundary)
    cached = _unit_corpus(df, v, i)
    (cents,) = lloyd_fit(Lloyd(cached, k, iterations, round_to))
    fbase, fcarr, _fdrop = _attach_centroids(cached, cents)
    asg = scoped_persist(fbase.select(
        "__id", "__u", _argmax_cid(fcarr, "__u", round_to).alias("CLUSTER_ID")
    ))
    _, pairs, member_drops, caches = _semantic_candidates(
        asg, threshold, round_to, max_cluster_size
    )
    drops = (
        pairs.filter(F.col("__cos") >= threshold)
        .select(F.col("__idb").alias("__id"))
        .unionByName(member_drops)
    )
    labeled = df.join(
        asg.select(F.col("__id").alias(i), "CLUSTER_ID"), on=i, how="inner"
    ).select(*df.columns, "CLUSTER_ID")
    return finish(labeled, i, "filter", drops, cached, asg, *caches, *inp, key="__id")

@renderer("semantic_dedup")
def _r_semantic_dedup(
    source, vec_col, id_col, k=8, iterations=1, threshold=0.9, round_to=6,
    max_cluster_size=None,
) -> str:
    """Plain-path replay in Spark SQL: unrolled kmeans assignment (the
    kmeans_cluster renderer, caps included), then the in-cluster pair join
    over ALL rows — the executed exact-duplicate collapse is a documented
    result-preserving optimization (a collapsed member's drop decision
    equals its rep-pair cosine, which the plain join scores directly), so
    the rendered text reproduces the executed rows exactly. ``k="auto"``
    needs a corpus count (render-time unknown) and ``max_cluster_size``
    changes results by contract (bounded-recall chunking) — both raise."""
    from ..errors import TransformRenderingException

    if not -1.0 <= threshold <= 1.0:
        raise ParameterException("threshold must be in [-1, 1]")
    if isinstance(k, str):
        raise TransformRenderingException(
            "semantic_dedup renders for integer k only (k='auto' derives "
            "k from a corpus count the renderer cannot run)"
        )
    if max_cluster_size is not None:
        raise TransformRenderingException(
            "semantic_dedup renders the exact (unchunked) semantics only; "
            "max_cluster_size is a bounded-recall execution knob"
        )
    kmeans_sql = _r_kmeans_cluster(
        source, vec_col, id_col, k=k, iterations=iterations, round_to=round_to
    )
    withu = (
        f"__sd_u AS (SELECT * FROM "
        f"{_unit_norm_sql(vec_col, id_col, '__sd_a', extra_cols=('CLUSTER_ID',))}"
        " __sd_base)"
    )
    drops = (
        f"SELECT b.__id FROM __sd_u a JOIN __sd_u b "
        f"ON a.CLUSTER_ID = b.CLUSTER_ID AND a.__id < b.__id "
        f"WHERE round({_dot_sql('a.__u', 'b.__u')}, {int(round_to)}) >= "
        f"CAST({float(threshold)!r} AS DOUBLE)"
    )
    return (
        f"SELECT * FROM (WITH __sd_a AS ({kmeans_sql}), {withu} "
        f"{drop_sql('__sd_a', id_col, drops, key='__id')}) __sd_out"
    )
