"""Product quantization (PQ) for embedding columns — Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search" (public technique).
Vectors are unit-normalized, split into ``m`` subspaces, and each subspace
is vector-quantized against its own ``codebook_size``-entry codebook, so a
64-d float vector compresses to ``m`` small ints. ``pq_search`` scores by
asymmetric distance computation (ADC): the query stays full-precision and
dot(q, reconstruction(x)) decomposes EXACTLY into per-subspace lookups —
one table lookup per subspace per candidate, no vector math in the scan.

Determinism contract (same as kmeans_cluster): lowest-id seeds, sub-vector
distances rounded to ``round_to`` before every argmin (ties -> lowest code),
codebook components rounded to 9 dp after every Lloyd mean. The training
replay is therefore exact SQL, which the pq_encode oracle runs; pq_search
gets an IVF-style verification-summary oracle (ADC top-k against the exact
brute-force ranking).

100 TB design: codebooks are a bounded driver collect (m · codebook_size ·
dim/m = dim · codebook_size doubles) embedded as literals — encoding and
ADC scoring are shuffle-free projections; the corpus never joins for
assignment. Training aggregations ship slim (subspace, code, pos, value)
tuples with partial combine, all m subspaces in ONE aggregation pass per
Lloyd iteration. Python never touches row data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import resolve_col, spread
from ..registry import renderer as _renderer, spark_transform
from ._cache import release_now, release_with, scoped_persist
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
from ._litfast import double_array_lit, double_matrix_lit
from .cluster import (
    CENT_ROUND,
    Lloyd,
    _codes,
    _seed_rows,
    _stage_subvectors,
    _unit_corpus,
    _unit_rounded,
    lloyd_fit,
)
from .similarity import (
    _argmax_cid,
    _attach_centroids,
    _check_dim,
    _dot,
    _probe_lists,
    _probe_sql,
    _topk,
    _topk_sql,
)


def _pq_seeds(cached: DataFrame, n: int, m: int) -> tuple:
    """The one lowest-id collect of a PQ build over the persisted
    ``(__id, __u)`` corpus: ``n`` seed rows, which double as the emptiness
    check, the dimension probe and the cache fill. Returns ``(seed_rows,
    d_sub)``; releases ``cached`` before raising."""
    rows = _seed_rows(cached, n)
    if not rows:
        release_now(cached)
        raise ParameterException("input is empty")
    dim = len(rows[0]["__u"])
    if m < 1 or dim % m != 0:
        release_now(cached)
        raise ParameterException(f"m must divide the vector dimension ({dim})")
    return rows, dim // m


def _pq_fit(df: DataFrame, v: str, i: str, m: int, codebook_size: int,
            iterations: int, round_to: int) -> tuple:
    """The staged corpus and trained codebooks of pq_encode / pq_search:
    ``(staged, books, cached)`` — ``staged`` is the persisted ``cached``
    corpus with its subvector columns, ``books`` the ``m`` codebooks."""
    cached = _unit_corpus(df, v, i)
    seeds, d_sub = _pq_seeds(cached, max(int(codebook_size), 1), m)
    (books,) = lloyd_fit(
        Lloyd(cached, codebook_size, iterations, round_to, m, d_sub), seed_rows=seeds
    )
    return _stage_subvectors(cached, m, d_sub), books, cached


@spark_transform("pq_encode", category="similarity", streaming_ok=False)
def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Append ``PQ_CODE`` (array<int>, length ``m``): the product-quantized
    compression of the unit-normalized vector. ~dim·4-byte floats become m
    small ints — the memory layout that makes billion-vector ANN fit."""
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    staged, books, cached = _pq_fit(df, v, i, m, codebook_size, iterations, round_to)
    out = staged.select(F.col("__id").alias(i), _codes(books, round_to).alias("PQ_CODE"))
    return release_with(
        df.join(out, on=i, how="inner").select(*df.columns, "PQ_CODE"), cached
    )


def rotation_matrix(seed: int, dim: int, sweeps: int = 4) -> list[list[float]]:
    """Deterministic orthogonal pre-rotation for PQ: the composition of
    ``sweeps * dim`` Givens rotations whose plane ``(i, j)`` and angle
    derive from ``md5(f"{seed}:{t}")`` — pure, platform-stable, and
    regenerable from ``(seed, dim, sweeps)`` alone. Random rotation is
    the standard cheap pre-conditioner of the OPQ family (Ge et al.,
    CVPR 2013 evaluate it as the baseline their learned rotation
    improves on; Jégou et al. 2011 §V.D note structured vectors hurt PQ
    without it): it spreads variance evenly across the ``m`` subspaces so
    no codebook starves on a low-energy block. LEARNED OPQ (the SVD
    alternation) is deliberately excluded: a data-derived matrix cannot
    be replayed by the sf-agnostic DuckDB oracle, and this repo's PQ
    family keeps full independent in-SQL replays — the matrix here is a
    closed-form literal both engines regenerate from the spec
    (the ``projection_signs`` precedent, rproj.py).

    Entries are rounded to ``CENT_ROUND`` dp so the literal is compact
    and byte-identical cross-engine; the rounding perturbs orthogonality
    by ≤ dim·5e-10 per component, far below the 6-dp score round."""
    import hashlib
    import math

    if dim < 2:
        raise ParameterException("rotation needs dim >= 2")
    if sweeps < 1:
        raise ParameterException("rotation_sweeps must be >= 1")
    mat = [[1.0 if a == b else 0.0 for b in range(dim)] for a in range(dim)]
    for t in range(sweeps * dim):
        h = hashlib.md5(f"{seed}:{t}".encode()).hexdigest()
        i = int(h[:8], 16) % dim
        j = int(h[8:16], 16) % (dim - 1)
        if j >= i:
            j += 1
        theta = (int(h[16:24], 16) / 0xFFFFFFFF) * 2.0 * math.pi
        c, s = math.cos(theta), math.sin(theta)
        for r in range(dim):
            a, b = mat[r][i], mat[r][j]
            mat[r][i] = a * c + b * s
            mat[r][j] = b * c - a * s
    # python round() is fine here: the SAME rounded literal is embedded in
    # both engines (no cross-engine rounding semantics in play)
    return [[round(x, CENT_ROUND) for x in row] for row in mat]


def _rotate_expr(u_col: str, mat: list) -> Column:
    """Rotated copy of a staged unit vector column: component ``i`` is the
    sequential fold dot(R[i], u) rounded at CENT_ROUND — the same
    fold/round shape as every other replayed dot in the PQ family, so the
    oracle's ``list_sum`` replays it bit-for-bit."""
    rl = double_matrix_lit([list(r) for r in mat])
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(mat))),
        lambda i: F.round(
            _dot(F.element_at(rl, i.cast("int")), F.col(u_col)), CENT_ROUND
        ),
    )


def _rotate_sql(mat: list, nv: str, engine: str = "spark") -> str:
    """The rotated-corpus relation as SQL over a normalized relation
    ``nv`` exposing ``(__id, __u)`` (Spark dialect) — the exact replay of
    :func:`_rotate_expr` for the renderers. The matrix ships once as an
    array-of-arrays literal."""
    rows = ", ".join(
        "array(" + ", ".join(repr(float(x)) for x in row) + ")"
        for row in mat
    )
    dim = len(mat)
    rot = (
        f"transform(sequence(1, {dim}), i -> round(aggregate(zip_with("
        f"element_at(array({rows}), i), __u, (r, x) -> r * x), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), {CENT_ROUND}))"
    )
    return f"(SELECT __id, {rot} AS __u FROM {nv} __pq_rot)"


def _pq_render_parts(source, vec_col, id_col, m, codebook_size, iterations,
                     round_to, caller: str, vec_source: str | None = None):
    """Per-subspace SQL of the PQ codebook fit for the pq_encode /
    pq_search / IVF-PQ renderers: for each subspace returns ``(sub,
    codebook, assign)`` — the subvector relation ``(__id, __u)``, the
    post-Lloyd codebook relation (:func:`~.cluster._lloyd_sql` with
    ``l2``), and the final code assignment — all as inline subqueries.
    Subvector bounds derive row-locally (``size(u) DIV m``) since the
    renderer never sees the data. ``vec_source`` overrides the relation
    subvectors slice from (must expose ``(__id, __u)``) — the
    residual-IVFPQ hook, where the PQ fit runs over vector-minus-assigned-
    centroid instead of the normalized corpus."""
    from ..errors import TransformRenderingException
    from .cluster import _lloyd_sql, _unit_norm_sql

    if m < 1:
        raise ParameterException("m must be >= 1")
    if iterations < 0:
        raise ParameterException("iterations must be >= 0")
    if iterations > 8 or m > 16:
        raise TransformRenderingException(
            f"{caller} renders unrolled per-subspace Lloyd passes; "
            "iterations > 8 or m > 16 produces an impractically large "
            "statement"
        )
    nv = vec_source or _unit_norm_sql(vec_col, id_col, source)
    parts = []
    for s_ix in range(int(m)):
        sub = (
            f"(SELECT __id, slice(__u, {s_ix} * (size(__u) DIV {int(m)}) + 1, "
            f"size(__u) DIV {int(m)}) AS __u FROM {nv} __pq_nv)"
        )
        cb, assign = _lloyd_sql(sub, codebook_size, iterations, round_to, l2=True)
        parts.append((sub, cb, assign(cb)))
    return parts


@_renderer("pq_encode")
def _r_pq_encode(source, vec_col, id_col, m=4, codebook_size=8, iterations=1,
                 round_to=6) -> str:
    """Unrolled replay of the PQ codebook fit in Spark SQL, one
    :func:`_pq_render_parts` chain per subspace, with the final
    per-subspace codes assembled into PQ_CODE. Equality with the DataFrame
    path (driver-collected codebooks as literals) holds through the
    rounded-distance argmin robustness contract. The normalized corpus
    inlines at each reference — executed-SQL recompute; the render is an
    export artifact."""
    parts = _pq_render_parts(
        source, vec_col, id_col, m, codebook_size, iterations, round_to,
        "pq_encode",
    )
    joins = " ".join(
        f"JOIN {a} f{j} ON f{j}.__id = s.{id_col}"
        for j, (_, _, a) in enumerate(parts)
    )
    arr = ", ".join(f"f{j}.c" for j in range(int(m)))
    return f"SELECT s.*, array({arr}) AS PQ_CODE FROM {source} s {joins}"


@spark_transform("pq_search", category="similarity", streaming_ok=False)
def pq_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: list,
    k: int = 10,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-``k`` by ADC over PQ codes: for each query, the score
    against candidate x is dot(q, reconstruction(x)) = sum_s LUT_s[code_s] —
    ``m`` array lookups per candidate, embedded as literals, so the scan is
    a shuffle-free projection. Output (QUERY_ID, MATCH_ID, ADC_SCORE, RANK);
    queries never match themselves. The exactness ceiling is the codebook
    resolution — calibrate with the verification summary the oracle query
    runs (containment in the exact top-50)."""
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    staged, books, cached = _pq_fit(df, v, i, m, codebook_size, iterations, round_to)
    encoded = staged.select("__id", _codes(books, round_to).alias("__codes"))
    qrows = (
        staged.filter(F.col("__id").isin([int(q) for q in query_ids]))
        .select("__id", *[f"__s{s}" for s in range(m)])
        .collect()
    )
    if not qrows:
        raise ParameterException("none of query_ids is present in the corpus")
    luts = {
        int(r["__id"]): [
            [
                sum(a * b for a, b in zip(r[f"__s{s}"], vec))
                for _, vec in books[s]
            ]
            for s in range(m)
        ]
        for r in qrows
    }
    per_query = []
    for qid in sorted(luts):
        lut = luts[qid]
        score = F.round(
            sum(
                F.element_at(
                    double_array_lit(list(lut[s])),
                    F.element_at("__codes", s + 1) + 1,
                )
                for s in range(m)
            ),
            round_to,
        )
        per_query.append(
            encoded.filter(F.col("__id") != qid).select(
                F.lit(qid).cast("bigint").alias("QUERY_ID"),
                F.col("__id").alias("MATCH_ID"),
                score.alias("ADC_SCORE"),
            )
        )
    union = per_query[0]
    for p in per_query[1:]:
        union = union.unionByName(p)
    w = Window.partitionBy("QUERY_ID").orderBy(
        F.col("ADC_SCORE").desc(), F.col("MATCH_ID").asc()
    )
    out = (
        union.withColumn("RANK", F.row_number().over(w).cast("int"))
        .filter(F.col("RANK") <= k)
    )
    return release_with(out, cached)


class IVFPQIndex(PersistedIndex):
    """Reusable IVF-PQ index: the persisted ``(__id, __u, __cid, __codes)``
    frame plus the coarse centroids and per-subspace PQ codebooks. Build
    ONCE with :func:`ivfpq_index` and pass to any number of
    ``similarity_search_ivfpq`` calls — the amortized production shape
    (index build is the expensive phase: two deterministic fits; per-query
    search is a bounded probe + a codes-only candidate scan). Release,
    staleness and artifacts: see :mod:`._index`. The ``n_docs``
    fingerprint is CALLER-CHECKED on the search path:
    ``similarity_search_ivfpq(index=...)`` searches whatever frame the
    index holds without comparing ``n_docs`` to the passed ``df`` (the
    prebuilt path ignores ``df`` for candidates by design, so there is no
    authoritative frame to compare against — unlike ``embedding_join_ivf``,
    whose ``other`` frame IS the claimed corpus and is count-checked)."""

    # the rotation matrix regenerates from its spec; only the spec
    # persists (rotated=False -> seed/sweeps ignored)
    _PARAMS = ("m int, d_sub int, round_to int, n_docs long, residual boolean, "
               "rotated boolean, rotation_seed int, rotation_sweeps int")
    _DEFAULTS = {"n_docs": None, "residual": False, "rotated": False,
                 "rotation_seed": 0, "rotation_sweeps": 4}
    _UNIT = "vectors"

    def __init__(self, frame: DataFrame, centroids: list, books: list,
                 m: int, d_sub: int, round_to: int, n_docs: int | None = None,
                 residual: bool = False, rotation: list | None = None,
                 rotation_seed: int = 0, rotation_sweeps: int = 4):
        super().__init__(n_docs, owned=(frame,))
        self.frame = frame
        self.centroids = centroids
        self.books = books
        self.m = m
        self.d_sub = d_sub
        self.round_to = round_to
        # residual=True: PQ codes encode (vector - assigned coarse centroid)
        # — the full IVFADC formulation; scoring must add the coarse term
        self.residual = residual
        # rotation: the deterministic orthogonal pre-rotation matrix
        # (rotation_matrix(seed, dim, sweeps)) the corpus was built under;
        # the frame's __u holds ROTATED vectors, so in-frame queries need
        # no extra work but external batch sides (dedup/join) must rotate
        # with the same matrix before probing. None = identity/off.
        self.rotation = rotation
        self.rotation_seed = rotation_seed
        self.rotation_sweeps = rotation_sweeps


def _cent_vec_of_cid(df: DataFrame, cents: list, cid_col: str = "__cid",
                     out_col: str = "__cv"):
    """Attach ``out_col`` = the centroid vector of the row's ``cid_col``.
    ``cents`` must be the cid-ordered ``[(cid, vec)]`` list (cids 0..k-1).
    Small k embeds an array<array<double>> literal (positional lookup —
    shuffle-free projection); above the literal cap the centroids ship as
    a k-row broadcast equi-join instead, same trade as _attach_centroids."""
    from .similarity import IVF_LITERAL_CENTROID_MAX

    if len(cents) <= IVF_LITERAL_CENTROID_MAX:
        mat = double_matrix_lit([list(vec) for _, vec in cents])
        return df.withColumn(
            out_col, F.element_at(mat, (F.col(cid_col) + 1).cast("int"))
        )
    cent_df = df.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in vec]) for c, vec in cents],
        f"{cid_col} bigint, {out_col} array<double>",
    )
    return df.join(F.broadcast(cent_df), on=cid_col)


def ivfpq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_centroids: int = 8,
    coarse_iterations: int = 1,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
    residual: bool = False,
    rotate: bool = False,
    rotation_seed: int = 0,
    rotation_sweeps: int = 4,
    rotation_dim: int | None = None,
) -> IVFPQIndex:
    """Build a reusable :class:`IVFPQIndex`: deterministic rounded coarse
    kmeans (kmeans_cluster contract) + per-subspace PQ codebooks
    (pq_encode contract), with the corpus stored as unit-rounded vectors,
    inverted-list ids, and m-int PQ codes. The frame stays persisted until
    ``release()`` — amortizing the two fits across searches is the point.

    ``residual=True`` is the full IVFADC formulation (Jégou et al. 2011
    §III): PQ quantizes ``vector - assigned_coarse_centroid`` instead of
    the vector itself, so the codebooks spend their resolution on the
    (much smaller) within-list spread — materially better recall at the
    same code budget. Centroid components are 9-dp-rounded by the shared
    contract and doubles subtract exactly, so the residuals — and with
    them the whole fit — keep the exact-replay determinism of the
    no-residual path; scoring adds the per-candidate coarse term
    dot(query, centroid[cid]).

    ``rotate=True`` (round 10) pre-rotates the unit-normalized corpus by
    the deterministic orthogonal matrix
    ``rotation_matrix(rotation_seed, dim, rotation_sweeps)`` before both
    fits — the random-rotation pre-conditioner of the OPQ family (see
    :func:`rotation_matrix` for the public-technique citation and why the
    LEARNED OPQ rotation is deliberately excluded). Rotation preserves
    dot products, so scores still approximate the ORIGINAL cosine; the
    stored ``__u`` holds rotated vectors, in-frame queries need no extra
    work, and external batch sides rotate via ``index.rotation``. The
    whole path stays inside the exact-replay contract (the matrix is a
    closed-form literal; each rotated component is the same fold/round
    shape as every other replayed dot). Composes with ``residual=True``
    (the residual is taken in rotated space)."""
    if num_centroids < 1:
        raise ParameterException("num_centroids must be >= 1")
    if coarse_iterations < 0:
        raise ParameterException("coarse_iterations must be >= 0")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    rotation = None
    if rotate:
        dfirst = df.select(F.size(F.col(resolve_col(df, vec_col))).alias("d")).first()
        if dfirst is None:
            raise ParameterException("input is empty")
        # rotation_dim exists so .sql() chains can render (dim is
        # unknowable at render time); validated against the data — the
        # binary_quantize n_words contract
        if rotation_dim is not None and int(rotation_dim) != int(dfirst["d"]):
            raise ParameterException(
                f"rotation_dim={int(rotation_dim)} but the vectors have "
                f"dim {int(dfirst['d'])}"
            )
        rotation = rotation_matrix(rotation_seed, int(dfirst["d"]), rotation_sweeps)
    # slim persisted corpus (__id, __u): the __s subvector slices are
    # cheap row-local projections their (few) consumers recompute above
    # the cache, with the same once-per-row HOF staging guarantee
    cached = _unit_corpus(df, v, i, rotation)
    # ONE TakeOrdered job collects the lowest-id rows for BOTH fits' seeds
    # and doubles as the dim probe + cache materialization
    seed_rows, d_sub = _pq_seeds(cached, max(int(num_centroids), int(codebook_size)), m)
    coarse = Lloyd(cached, num_centroids, coarse_iterations, round_to)
    if residual:
        # the residual PQ fit consumes the coarse result (codes quantize
        # vector - assigned centroid), so the two fits run one after the
        # other; the residual takes the ``__u`` seat the PQ fit reads
        (cents,) = lloyd_fit(coarse, seed_rows=seed_rows)
        abase, carr, _adrop = _attach_centroids(cached, cents)
        assigned = abase.withColumn("__cid", _argmax_cid(carr, "__u", round_to))
        rcached = scoped_persist(_cent_vec_of_cid(assigned, cents).select(
            "__id", "__cid", F.col("__u").alias("__orig"),
            F.zip_with("__u", F.col("__cv"), lambda x, y: x - y).alias("__u"),
        ))
        (books,) = lloyd_fit(Lloyd(rcached, codebook_size, iterations, round_to, m, d_sub))
        frame, n = materialize(_stage_subvectors(rcached, m, d_sub).select(
            "__id", F.col("__orig").alias("__u"), "__cid",
            _codes(books, round_to).alias("__codes"),
        ))
        release_now(rcached)
    else:
        # independent fits: one pass-fused loop, one collect per level
        cents, books = lloyd_fit(
            coarse, Lloyd(cached, codebook_size, iterations, round_to, m, d_sub),
            seed_rows=seed_rows,
        )
        abase, carr, _adrop = _attach_centroids(_stage_subvectors(cached, m, d_sub), cents)
        frame, n = materialize(abase.select(
            "__id", "__u", _argmax_cid(carr, "__u", round_to).alias("__cid"),
            _codes(books, round_to).alias("__codes"),
        ))
    release_now(cached)
    return IVFPQIndex(
        frame, cents, books, m, d_sub, round_to, n_docs=n, residual=residual,
        rotation=rotation, rotation_seed=rotation_seed,
        rotation_sweeps=rotation_sweeps,
    )


def save_ivfpq_index(index: IVFPQIndex, path: str) -> str:
    """Persist an :class:`IVFPQIndex` as parquet (``{path}/frame``,
    ``{path}/centroids``, ``{path}/books``, ``{path}/params``) — the
    cross-job artifact form."""
    spark = index.frame.sparkSession
    return save_artifact(index, path, {
        "frame": index.frame.select("__id", "__u", "__cid", "__codes"),
        "centroids": vector_table(spark, index.centroids, "c bigint"),
        "books": vector_table(spark, [
            (s, c, v) for s, book in enumerate(index.books) for c, v in book
        ], "s int, c int"),
    }, rotated=index.rotation is not None)


def load_ivfpq_index(spark, path: str, persist: bool = True) -> IVFPQIndex:
    """Load a :func:`save_ivfpq_index` artifact; centroid/codebook collects
    are bounded (k·dim + m·codebook_size·d_sub doubles), same as at build."""
    prm = read_params(spark, path, IVFPQIndex)
    (frame,) = read_frames(spark, path, ("frame",), persist)
    m, d_sub = int(prm["m"]), int(prm["d_sub"])
    rseed, rsweeps = int(prm["rotation_seed"]), int(prm["rotation_sweeps"])
    rot = rotation_matrix(rseed, m * d_sub, rsweeps) if prm["rotated"] else None
    cents = read_vectors(spark, f"{path}/centroids", "c")
    books = [[] for _ in range(m)]
    for s, c, v in read_vectors(spark, f"{path}/books", "s", "c"):
        books[s].append((c, v))
    return loaded(IVFPQIndex(
        frame, cents, books, m, d_sub, int(prm["round_to"]), n_docs=prm["n_docs"],
        residual=bool(prm["residual"]), rotation=rot,
        rotation_seed=rseed if rot is not None else 0,
        rotation_sweeps=rsweeps if rot is not None else 4,
    ), path)


def update_ivfpq_index(
    index: IVFPQIndex,
    new_vecs: DataFrame,
    vec_col: str,
    id_col: str,
) -> IVFPQIndex:
    """Fold a batch into an existing :class:`IVFPQIndex` without re-fitting
    (as update_ivf_index does): only the batch pays normalization
    + assignment + encoding against the EXISTING centroids/codebooks, so
    per-batch cost is independent of corpus size; centroids and codebooks
    drift from the grown corpus's optimum — rebuild on the major-refresh
    cadence. Returns a NEW index; ids must stay unique across increments."""
    v, i = resolve_col(new_vecs, vec_col), resolve_col(new_vecs, id_col)
    # F.slice / zip_with would silently truncate a mismatched-dim batch
    # into wrong codes (inline builds are protected by _pq_seeds'
    # divisibility check; the fold-in path checks the index's geometry)
    _check_dim(new_vecs, v, index.m * index.d_sub, "batch")
    base = _unit_rounded(
        spread(new_vecs).select(F.col(i).alias("__id"), F.col(v).alias("__vec")),
        "__vec",
    )
    if index.rotation is not None:
        # replay the build-time pre-rotation exactly — codes/centroids
        # live in rotated space
        base = base.withColumn("__u", _rotate_expr("__u", index.rotation))
    abase, carr, _adrop = _attach_centroids(base, index.centroids)
    withcid = abase.withColumn("__cid", _argmax_cid(carr, "__u", index.round_to))
    if index.residual:
        # codes encode the residual vs the assigned coarse centroid — the
        # batch must replay the build-time encoding exactly
        res = _cent_vec_of_cid(withcid, index.centroids).withColumn(
            "__r", F.zip_with("__u", F.col("__cv"), lambda x, y: x - y)
        )
        enc = _stage_subvectors(
            res.select("__id", "__cid", F.col("__u").alias("__orig"),
                       F.col("__r").alias("__u")),
            index.m, index.d_sub,
        )
    else:
        enc = _stage_subvectors(withcid, index.m, index.d_sub)
    assigned = enc.withColumn("__codes", _codes(index.books, index.round_to))
    if index.residual:
        assigned = assigned.select(
            "__id", F.col("__orig").alias("__u"), "__cid", "__codes"
        )
    cols = ["__id", "__u", "__cid", "__codes"]
    merged, n = materialize(
        index.frame.select(*cols).unionByName(assigned.select(*cols))
    )
    return IVFPQIndex(
        merged, index.centroids, index.books, index.m, index.d_sub,
        index.round_to, n_docs=n, residual=index.residual,
        rotation=index.rotation, rotation_seed=index.rotation_seed,
        rotation_sweeps=index.rotation_sweeps,
    )


def _adc_query_luts(qdf: DataFrame, idx: IVFPQIndex,
                    q_u_col: str = "__qu") -> DataFrame:
    """Attach the ADC lookup table to the QUERY frame, BEFORE the probe
    explosion — the classic ADC preparation (Jégou 2011 §V.A) in DataFrame
    form. ``__lut[s][c] = dot(q_sub_s, book_s[c])`` depends only on the
    query vector, never on the probed list, so computing it here runs the
    m·cb·d_sub mult-adds once per QUERY instead of once per (query,
    probed list) row — an nprobe-× cut of the probe-preparation cost
    (round-13 measurement: probes+LUT 1.19 s → 0.76 s at nprobe=4).
    After it, per-candidate work is m array lookups instead of m
    d_sub-element folds, the broadcast payload carries LUTs instead of
    vectors, and the candidate scan reads only ``(__id, __cid, __codes)``
    — zero vector bytes on the big side.

    Bit-parity: each LUT value is the same sequential JVM fold the
    per-pair form computed, just evaluated earlier over the identical
    doubles (verified bitwise over 1.02M LUT entries), so scores are
    bit-identical and the SQL replay (list_sum LUTs) is unchanged.
    Subvector slices are staged as columns before the transform lambda
    references them (the HOF staging rule — the lambda body evaluates
    once per codebook entry)."""
    staged = qdf.withColumns({
        f"__qs{s}": F.slice(F.col(q_u_col), s * idx.d_sub + 1, idx.d_sub)
        for s in range(idx.m)
    })
    # closure factory, NOT a default-arg lambda: F.transform dispatches on
    # the lambda's arity, so `lambda bv, s=s` would receive the element
    # INDEX as s
    def _lut_for(s: int):
        return F.transform(
            double_matrix_lit([list(vec) for _, vec in idx.books[s]]),
            lambda bv: _dot(F.col(f"__qs{s}"), bv),
        )

    luts = [_lut_for(s) for s in range(idx.m)]
    return staged.withColumn("__lut", F.array(*luts)).drop(
        *[f"__qs{s}" for s in range(idx.m)]
    )


def _cid_barrier(col: str) -> Column:
    """Constraint-propagation barrier: a value-exact identity
    (``shuffle`` of a one-element array) whose NONDETERMINISTIC flag stops
    Catalyst from treating the column as an alias of its defining
    expression. Needed on expression-valued equi-join keys (the inverted-
    list id is an argmax over HOF lambdas on both sides): without it,
    InferFiltersFromConstraints substitutes one side's defining expression
    across the join equality, and the lambda-bound attributes inside it
    cannot be rewritten to the other side — Spark builds an invalid plan
    (``INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND`` on the staged normalization
    column) whenever the index cache is not substituted first (e.g. the
    caller dropped the ``release_with`` anchor and the scoped cache was
    evicted; recompute must ALWAYS be plan-valid — the module's own
    correctness-safety invariant). The barrier costs one 1-element array
    per row and changes no value, no type, and no join strategy (AQE
    still broadcasts small sides)."""
    return F.expr(f"shuffle(array({col}))[0]")


def _adc_pair_score(idx: IVFPQIndex) -> Column:
    """ADC score over the (probe ⨯ candidate) join of :func:`_adc_scores`:
    m array lookups into ``__lut`` by the candidate's PQ codes, plus the
    precomputed ``__qc`` coarse term leading the left-associated sum for
    residual indexes (FP addition is order-sensitive at the round
    boundary, so the term order matches the SQL replay exactly)."""
    terms = [
        F.element_at(
            F.element_at("__lut", s + 1),
            (F.element_at("__codes", s + 1) + 1).cast("int"),
        )
        for s in range(idx.m)
    ]
    if idx.residual:
        total = F.col("__qc")
    else:
        total, terms = terms[0], terms[1:]
    for t in terms:
        total = total + t
    return F.round(total, idx.round_to)


def _ivfpq_queries(df: DataFrame, v: str, i: str, idx: IVFPQIndex,
                   what: str) -> DataFrame:
    """The ``(__qid, __qu)`` query frame of a batch-shaped IVF-PQ caller
    (``embedding_join_ivfpq``, ``dedup_against_embedding(method='ivfpq')``):
    dimension guard against the index, then unit-rounding and — for a
    rotated index — the build-time rotation, so queries probe and build
    LUTs in the space the codes live in (rotation preserves the dot, so
    scores still approximate the ORIGINAL cosine). ``spread()`` runs first:
    the batch is often a narrow single-partition scan, and everything up
    to the candidate join — normalization, the m·cb·d_sub LUT fold, probe
    ranking — would otherwise run in ONE task (round 13: 0.9 s serial per
    call at the bench sizing)."""
    _check_dim(df, v, idx.m * idx.d_sub, what)
    q = _unit_rounded(
        spread(df).select(F.col(i).alias("__qid"), F.col(v).alias("__qvec")),
        "__qvec", "__qu",
    ).select("__qid", "__qu")
    if idx.rotation is not None:
        q = q.withColumn("__qu", _rotate_expr("__qu", idx.rotation))
    return q


def _adc_scores(q: DataFrame, idx: IVFPQIndex, nprobe: int, mid: str,
                hint: str | None = None) -> DataFrame:
    """The IVF-PQ candidate path shared by search, join and dedup: a query
    frame ``(__qid, __qu)`` in the index's space → ``(__qid, mid,
    __score)`` for every candidate in the query's ``nprobe`` probed lists,
    scored by ADC (self-matches included — callers filter).

    Rows whose query vector is NULL drop before probing: they have no
    neighbours. Each remaining query gets its ADC LUTs
    (:func:`_adc_query_luts`), explodes to its rounded top-``nprobe``
    lists, and — residual indexes only — takes the coarse term
    dot(q, centroid[cid]) per (query, list) row, never per candidate.
    The query vector then drops, so the candidate equi-join on the
    inverted-list id ships LUTs, not vectors, and the corpus side reads
    only ``(__id, __cid, __codes)``. The key passes through
    :func:`_cid_barrier` on both sides.

    ``hint`` is the caller's join hint for the probe frame (``"broadcast"``
    when its query side is small by contract; None leaves the choice to
    AQE). It lands here, after probing, because a hint on the raw query
    frame would be absorbed by the >256-centroid crossJoin inside the
    probe step and never reach the candidate join."""
    probes = _probe_lists(
        _adc_query_luts(q.filter(F.col("__qu").isNotNull()), idx, "__qu"),
        idx.centroids, nprobe, "__qid", "__qu", idx.round_to,
        carry=("__lut",),
    )
    if idx.residual:
        probes = _cent_vec_of_cid(probes, idx.centroids).withColumn(
            "__qc", _dot(F.col("__qu"), F.col("__cv"))
        ).drop("__cv")
    probes = probes.drop("__qu").withColumn("__cid", _cid_barrier("__cid"))
    if hint is not None:
        probes = probes.hint(hint)
    return (
        idx.frame.select(
            F.col("__id").alias(mid),
            _cid_barrier("__cid").alias("__cid"), "__codes",
        )
        .join(probes, on="__cid")
        .select("__qid", mid, _adc_pair_score(idx).alias("__score"))
    )


def _exact_refine(idx: IVFPQIndex, mid: str, q: DataFrame) -> tuple:
    """The IVFADC+R refine of Jégou et al. 2011 §V as a
    :func:`~.similarity._topk` refine: the ADC survivors pay an exact
    rounded cosine between the ``(__qid, __qu)`` query vectors and the
    index's stored full-width unit vectors. Under rotation both sides live
    in rotated space, where the dot equals the original cosine."""
    return (
        idx.frame.select(F.col("__id").alias(mid), F.col("__u").alias("__cu")),
        q,
        F.round(_dot(F.col("__qu"), F.col("__cu")), idx.round_to),
    )


@spark_transform("similarity_search_ivfpq", category="similarity", streaming_ok=False)
def similarity_search_ivfpq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: list,
    k: int = 10,
    num_centroids: int = 8,
    nprobe: int = 2,
    coarse_iterations: int = 1,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
    residual: bool = False,
    rotate: bool = False,
    rotation_seed: int = 0,
    rotation_sweeps: int = 4,
    rotation_dim: int | None = None,
    rerank: bool = False,
    rerank_factor: int = 4,
    index: "IVFPQIndex | None" = None,
) -> DataFrame:
    """IVF-PQ approximate top-``k`` (Jégou et al. 2011's IVFADC;
    ``residual=True`` is the full residual formulation — PQ codes quantize
    vector-minus-assigned-centroid and scoring adds the coarse term
    dot(query, centroid[cid]) per candidate, better recall at the same
    code budget; the default quantizes raw vectors):
    a deterministic spherical-kmeans coarse quantizer partitions
    the corpus into ``num_centroids`` inverted lists; each query probes its
    ``nprobe`` highest-cosine lists; candidates inside the probed lists are
    scored by ADC over their PQ codes. Output (QUERY_ID, MATCH_ID,
    ADC_SCORE, RANK); queries never match themselves; fewer than ``k`` rows
    when the probed lists hold fewer candidates.

    Unlike ``similarity_search_ivf`` (unrounded centroids, auto sizing —
    the production scale path), this operator keeps the full rounded
    determinism contract of ``kmeans_cluster`` + ``pq_encode`` (rounded
    argmax/argmin, 9-dp centroid components), so the ENTIRE pipeline —
    coarse fit, probing, PQ fit, ADC ranking — replays exactly in SQL:
    it has a full DuckDB hash oracle and a ``.sql()`` renderer, the first
    ANN operator with either.

    100 TB design: the candidate scan reads (id, centroid_id, m small ints)
    — the PQ compression is what makes the inverted lists fit in memory at
    billion-vector scale (64-d float64 -> 4 bytes here, a 128x reduction).
    Coarse assignment and PQ encoding are shuffle-free projections against
    driver-collected literals (bounded: k·dim + m·codebook_size·d_sub
    doubles); the probe frame is bounded (queries × nprobe rows) and
    broadcast, so the corpus never shuffles for candidate selection —
    the only corpus-wide movement is the per-query top-k window over
    ~n·nprobe/num_centroids candidates.

    ``rerank=True`` (round 10) is the IVFADC+R refinement of Jégou et
    al. 2011 §V ("Searching in one billion vectors"): the ADC stage keeps
    ``k · rerank_factor`` candidates per query (the compressed-code scan
    does the winnowing), then ONLY those survivors pay an exact rounded
    cosine against the stored full-width unit vectors — output switches to
    (QUERY_ID, MATCH_ID, COSINE, RANK), cosine desc (the
    similarity_search_binary rerank convention). The survivor set is
    determined by the rounded ADC ordering (score + id tie-break), so the
    mode stays inside the exact-replay contract: full hash oracle and
    ``.sql()`` renderer like the plain path. The refine join touches
    queries × k · rerank_factor rows — never the corpus — and under
    ``rotate=True`` both sides live in rotated space, where the dot equals
    the original cosine (orthogonal invariance).

    Pass a prebuilt ``index`` (from :func:`ivfpq_index` /
    :func:`load_ivfpq_index`) to skip both fits — the amortized production
    path; sizing parameters then come from the index and results are
    identical to an inline build with the same parameters.

    Missing-id semantics: ids in ``query_ids`` that are absent from the
    corpus are silently dropped; if NONE are present this (DataFrame) path
    raises ``ParameterException``. The ``.sql()`` renderer diverges on the
    none-present case — pure SQL has no side channel for the guard, so the
    rendered statement returns an empty result instead (same class of
    documented render-only divergence as the other render guards). A
    query id whose vector is NULL has no neighbours and returns no rows."""
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if nprobe < 1:
        raise ParameterException("nprobe must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    if index is not None:
        idx, own = index, False
    else:
        idx, own = (
            ivfpq_index(
                df, vec_col, id_col, num_centroids, coarse_iterations,
                m, codebook_size, iterations, round_to, residual=residual,
                rotate=rotate, rotation_seed=rotation_seed,
                rotation_sweeps=rotation_sweeps, rotation_dim=rotation_dim,
            ),
            True,
        )
    # the query rows are a bounded collect (len(query_ids) rows —
    # pq_search's existing contract); it doubles as the none-present
    # guard. The query frame re-enters as a LOCAL frame (the floats
    # round-trip exactly; a NULL vector stays NULL and drops in the
    # scorer), so no corpus self-join exists and one action executes the
    # whole search: the shared ADC candidate path, its probe frame
    # broadcast onto the codes-only corpus scan, then the top-k window.
    qrows = (
        idx.frame.filter(F.col("__id").isin([int(q) for q in query_ids]))
        .select("__id", "__u")
        .collect()
    )
    if not qrows:
        raise ParameterException("none of query_ids is present in the corpus")
    qdf = df.sparkSession.createDataFrame(
        [(int(r["__id"]), r["__u"]) for r in qrows],
        "__qid bigint, __qu array<double>",
    )
    scored = _adc_scores(qdf, idx, nprobe, "MATCH_ID", hint="broadcast")
    scored = scored.filter(F.col("__qid") != F.col("MATCH_ID"))
    out = _topk(scored, "MATCH_ID", k,
                refine=_exact_refine(idx, "MATCH_ID", qdf) if rerank else None,
                rerank_factor=rerank_factor, hint="broadcast")
    out = out.select(
        F.col("__qid").alias("QUERY_ID"), "MATCH_ID",
        F.col("__score").alias("COSINE" if rerank else "ADC_SCORE"), "RANK",
    )
    return release_with(out, idx.frame) if own else out


def _r_ivfpq_ranked(caller, corpus, vec_col, id_col, query, k,
                    num_centroids, nprobe, coarse_iterations, m,
                    codebook_size, iterations, round_to, residual, rotate,
                    rotation_seed, rotation_sweeps, rotation_dim, rerank,
                    rerank_factor) -> tuple:
    """The SQL replay of the IVF-PQ search path, shared by the search and
    join renderers: the kmeans_cluster renderer's coarse-fit chains and
    the pq_encode renderer's per-subspace Lloyd chains over ``corpus``,
    then the ADC scan restricted to (assignment, probe) centroid matches
    and the per-query top-k window — with the IVFADC+R refine when
    ``rerank``. Returns ``(ctes, ranked)``: the WITH list, and a SELECT of
    ``(__qid, __mid, __score, RANK)`` each public renderer wraps.

    ``query(nv, rotated)`` renders the query relation ``(qid, __u)``:
    ``nv`` is the normalized (and rotated) corpus relation, ``rotated``
    maps a normalized relation into the index's space. Query rows with a
    NULL vector drop, as in :func:`_adc_scores`. Query LUT slices always
    come from the query vectors — for residual indexes the corpus codes
    were fit on residuals, the queries were not (Jégou 2011 §V.A) — and
    the residual ADC sum leads with the per-(query, list) coarse term,
    left-associated like the DataFrame path (it matters at the round
    boundary)."""
    from ..errors import TransformRenderingException
    from .cluster import _dot_sql, _kmeans_render_parts, _unit_norm_sql

    if k < 1:
        raise ParameterException("k must be >= 1")
    if num_centroids < 1:
        raise ParameterException("num_centroids must be >= 1")
    if nprobe < 1:
        raise ParameterException("nprobe must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    ctes, mat, nv_override = [], None, None
    if rotate:
        if rotation_dim is None:
            raise TransformRenderingException(
                f"{caller}(rotate=True) renders only with an explicit "
                "rotation_dim (the vector dimension is unknowable at render "
                "time — the binary n_words contract)"
            )
        mat = rotation_matrix(int(rotation_seed), int(rotation_dim),
                              int(rotation_sweeps))
        # NAMED CTE: the rotated corpus is referenced by the seeds, every
        # Lloyd pass and the probe — inlining the dim x dim literal at
        # each site would explode the statement
        ctes.append("__ivfpq_rnv AS "
                    + _rotate_sql(mat, _unit_norm_sql(vec_col, id_col, corpus)))
        nv_override = "__ivfpq_rnv"

    def rotated(rel: str) -> str:
        return rel if mat is None else _rotate_sql(mat, rel)

    nv, kcents, kassign = _kmeans_render_parts(
        corpus, vec_col, id_col, num_centroids, coarse_iterations, round_to,
        caller, nv_override=nv_override,
    )
    # the centroids and the queries are named once: assignment, probe,
    # residual construction, coarse term and LUT slices all read them
    ctes += _probe_sql("__ivfpq", kcents, kassign, query(nv, rotated), nprobe,
                       round_to)
    vec_source = nv if rotate else None
    if residual:
        ctes.append(
            f"__ivfpq_rv AS (SELECT t.__id, zip_with(t.__u, c.v, "
            f"(x, y) -> x - y) AS __u FROM {nv} t "
            f"JOIN __ivfpq_asg a ON a.__id = t.__id "
            f"JOIN __ivfpq_cents c ON c.c = a.c)"
        )
        vec_source = "__ivfpq_rv"
        ctes.append(
            f"__ivfpq_qc AS (SELECT t.qid, s.c AS cid, "
            f"{_dot_sql('t.__u', 's.v')} AS cv FROM __ivfpq_q t "
            f"CROSS JOIN __ivfpq_cents s)"
        )
    parts = _pq_render_parts(
        corpus, vec_col, id_col, m, codebook_size, iterations, round_to,
        caller, vec_source=vec_source,
    )
    d_sub_sql = f"(size(__u) DIV {int(m)})"
    for j, (_sub, cb, a) in enumerate(parts):
        ctes.append(f"__pq_cb{j} AS (SELECT c, v FROM {cb})")
        ctes.append(f"__pq_f{j} AS (SELECT __id, c FROM {a})")
        ctes.append(
            f"__pq_q{j} AS (SELECT qid, slice(__u, {j} * {d_sub_sql} + 1, "
            f"{d_sub_sql}) AS v FROM __ivfpq_q)"
        )
    score = " + ".join(
        _dot_sql(f"__pq_q{j}.v", f"__pq_b{j}.v") for j in range(int(m))
    )
    q_joins = " ".join(
        f"JOIN __pq_q{j} ON __pq_q{j}.qid = __ivfpq_probe.qid"
        for j in range(int(m))
    )
    if residual:
        score = f"__ivfpq_qc.cv + {score}"
        q_joins += (
            " JOIN __ivfpq_qc ON __ivfpq_qc.qid = __ivfpq_probe.qid "
            "AND __ivfpq_qc.cid = __ivfpq_asg.c"
        )
    code_joins = " ".join(
        f"JOIN __pq_f{j} ON __pq_f{j}.__id = cnd.{id_col} "
        f"JOIN __pq_cb{j} __pq_b{j} ON __pq_b{j}.c = __pq_f{j}.c"
        for j in range(int(m))
    )
    scored = (
        f"SELECT __ivfpq_probe.qid AS __qid, cnd.{id_col} AS __mid, "
        f"round({score}, {int(round_to)}) AS __score "
        f"FROM {corpus} cnd {code_joins} "
        f"JOIN __ivfpq_asg ON __ivfpq_asg.__id = cnd.{id_col} "
        f"JOIN __ivfpq_probe ON __ivfpq_probe.c = __ivfpq_asg.c {q_joins} "
        f"WHERE cnd.{id_col} <> __ivfpq_probe.qid"
    )

    refine = None
    if rerank:
        # IVFADC+R refine replay: the ADC-ranked survivor set (rounded
        # score + id tie-break — integer-determined given the replayed
        # fit) joins back to the staged unit vectors for the exact cosine
        refine = lambda c: (  # noqa: E731
            f"SELECT c.__qid, c.__mid, round("
            f"{_dot_sql('qn.__u', 'tn.__u')}, {int(round_to)}) AS __score "
            f"FROM ({c}) c JOIN __ivfpq_q qn ON qn.qid = c.__qid "
            f"JOIN {nv} tn ON tn.__id = c.__mid"
        )
    return ctes, _topk_sql(scored, k, refine=refine,
                           rerank_factor=rerank_factor)


@_renderer("similarity_search_ivfpq")
def _r_similarity_search_ivfpq(source, vec_col, id_col, query_ids, k=10,
                               num_centroids=8, nprobe=2, coarse_iterations=1,
                               m=4, codebook_size=8, iterations=1,
                               round_to=6, residual=False, rotate=False,
                               rotation_seed=0, rotation_sweeps=4,
                               rotation_dim=None, rerank=False,
                               rerank_factor=4, index=None) -> str:
    """Full SQL replay of the IVF-PQ pipeline — the first renderable ANN
    operator (the similarity_search_ivf family is excluded by its unrounded
    contract; this operator rounds by contract precisely to be replayable).
    The shared :func:`_r_ivfpq_ranked` core over ``source``, with the
    queries read from the normalized (rotated) corpus itself — the same
    doubles the executed path collects from the index frame."""
    from ..errors import TransformRenderingException

    if index is not None:
        raise TransformRenderingException(
            "similarity_search_ivfpq renders the inline fit; a prebuilt "
            "index is an external artifact the renderer cannot replay"
        )
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    qlist = ", ".join(str(int(q)) for q in query_ids)
    ctes, ranked = _r_ivfpq_ranked(
        "similarity_search_ivfpq", source, vec_col, id_col,
        lambda nv, rotated: (
            f"SELECT __id AS qid, __u FROM {nv} __q WHERE __id IN ({qlist})"
        ),
        k, num_centroids, nprobe, coarse_iterations, m, codebook_size,
        iterations, round_to, residual, rotate, rotation_seed,
        rotation_sweeps, rotation_dim, rerank, rerank_factor,
    )
    score = "COSINE" if rerank else "ADC_SCORE"
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT CAST(__qid AS BIGINT) AS QUERY_ID, __mid AS MATCH_ID, "
        f"__score AS {score}, RANK FROM ({ranked})) __ivfpq_out"
    )


@spark_transform("embedding_join_ivfpq", category="similarity", streaming_ok=False)
def embedding_join_ivfpq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    other=None,
    other_vec: str | None = None,
    other_id: str | None = None,
    k: int = 1,
    num_centroids: int | str = 8,
    nprobe: int | str = 2,
    coarse_iterations: int = 1,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
    residual: bool = False,
    rotate: bool = False,
    rotation_seed: int = 0,
    rotation_sweeps: int = 4,
    rotation_dim: int | None = None,
    rerank: bool = False,
    rerank_factor: int = 4,
    right_prefix: str = "MATCH_",
    index: "IVFPQIndex | None" = None,
) -> DataFrame:
    """ANN semantic join at PQ memory footprint: attach each left row's
    top-``k`` most-similar rows from ``other`` (or a prebuilt
    :class:`IVFPQIndex`) by ADC-approximated cosine over the right side's
    PQ codes — the operator a 100 TB semantic-enrichment join (every doc →
    its nearest neighbors in a billion-vector corpus) actually needs once
    the right corpus outgrows what ``embedding_join_ivf`` can hold as
    full-width vectors. Appends ``{right_prefix}ID``, ``COSINE`` (the ADC
    approximation, reported under the family's uniform column name — the
    ``dedup_against_embedding(method='ivfpq')`` convention), ``RANK``;
    inner join (left rows with no candidate drop); matches with
    ``{right_prefix}ID`` equal to the left row's id are excluded and NULL
    ids never join — the embedding_join family's shared single-namespace
    rule (remap one side's ids first when two disjoint namespaces can
    coincide).

    100 TB shape: the right corpus stores (id, cid, m small ints) — the
    candidate scan reads ZERO vector bytes on the big side (a 64-d
    float64 corpus reads 64× fewer bytes than embedding_join_ivf's probed
    scan). Each left row probes its ``nprobe`` highest rounded-cosine
    inverted lists; the probe frame carries per-query ADC lookup tables
    (the shared :func:`_adc_scores` path — m·codebook_size doubles per
    row, SMALLER than the query vector whenever m·codebook_size < dim)
    instead of query vectors, so after the equi-join on the centroid id
    the per-candidate work is m array lookups. The candidate join carries NO
    broadcast hint — the left side may be the full corpus (unlike the
    dedup form, whose batch side is small by contract), so the plan stays
    AQE-skew-eligible on hot inverted lists and AQE promotes small probe
    sides to broadcast on its own (the embedding_join_ivf posture).

    Keeps the full rounded determinism contract of
    ``similarity_search_ivfpq`` (rounded coarse fit, rounded probe
    selection, ADC folds rounded at ``round_to``), so the inline-fit form
    replays exactly in SQL: full DuckDB hash oracle + ``.sql()`` renderer.
    ``residual=True`` is the IVFADC residual formulation (coarse term
    first, left-associated — FP addition is order-sensitive at the round
    boundary). A prebuilt ``index`` (``ivfpq_index``/``load_ivfpq_index``,
    foldable with ``update_ivfpq_index``) amortizes both fits, with the
    ``n_docs`` staleness fingerprint checked against ``other`` when both
    are passed; results match an inline build with the same parameters.

    ``rerank=True`` (round 10) is the IVFADC+R refinement (Jégou et al.
    2011 §V) in join shape: the ADC stage keeps ``k · rerank_factor``
    candidates per left row, then only those survivors pay an exact
    rounded cosine against the index's stored full-width unit vectors —
    ``COSINE`` becomes the exact rounded cosine instead of the ADC
    approximation, same output columns. The refine join touches
    |left| × k × rerank_factor rows, never the right corpus; under
    ``rotate=True`` both sides already live in rotated space where the
    dot equals the original cosine. The survivor set is determined by
    the rounded ADC ordering, so the mode keeps the full replay
    contract (hash oracle + ``.sql()`` renderer).

    Reference parity: the join-shaped member of SURVEY §2's similarity
    extensions (reference has no ANN join; composes its join +
    aggregate semantics with the public IVFADC technique, Jégou 2011)."""
    if k < 1:
        raise ParameterException("k must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    if round_to is None:
        raise ParameterException(
            "embedding_join_ivfpq scores by the rounded replay contract; "
            "round_to must be an int"
        )
    from .similarity import _resolve_k, _resolve_nprobe

    odf = other.df if hasattr(other, "df") else other
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    if index is not None:
        check_type(index, IVFPQIndex, "embedding_join_ivfpq")
        check_fresh(index, odf, "right-side")
        idx, own = index, False
    else:
        if odf is None:
            raise ParameterException(
                "embedding_join_ivfpq needs a right-side frame (other=...) "
                "or a prebuilt IVFPQIndex"
            )
        ov = resolve_col(odf, other_vec or vec_col)
        oi = resolve_col(odf, other_id or id_col)
        kc = (
            num_centroids if isinstance(num_centroids, int)
            else _resolve_k(num_centroids, odf.count())
        )
        idx, own = (
            ivfpq_index(
                odf, ov, oi, num_centroids=kc,
                coarse_iterations=coarse_iterations, m=m,
                codebook_size=codebook_size, iterations=iterations,
                round_to=round_to, residual=residual, rotate=rotate,
                rotation_seed=rotation_seed,
                rotation_sweeps=rotation_sweeps, rotation_dim=rotation_dim,
            ),
            True,
        )
    mid = f"{right_prefix}ID"
    q = _ivfpq_queries(df, v, i, idx, "left")
    # NO broadcast hint: the left side may be the full corpus (unlike the
    # dedup form, whose batch side is small by contract), so the candidate
    # and refine joins stay AQE-skew-eligible on hot inverted lists and
    # AQE promotes small sides to broadcast on its own
    scored = _adc_scores(
        q, idx, _resolve_nprobe(nprobe, len(idx.centroids)), mid
    ).filter(F.col("__qid") != F.col(mid))
    matches = _topk(scored, mid, k,
                    refine=_exact_refine(idx, mid, q) if rerank else None,
                    rerank_factor=rerank_factor)
    out = df.join(
        matches.select(F.col("__qid").alias(i), mid,
                       F.col("__score").alias("COSINE"), "RANK"),
        on=i, how="inner",
    )
    return release_with(out, idx.frame) if own else out


@_renderer("embedding_join_ivfpq")
def _r_embedding_join_ivfpq(source, vec_col, id_col, other=None,
                            other_vec=None, other_id=None, k=1,
                            num_centroids=8, nprobe=2, coarse_iterations=1,
                            m=4, codebook_size=8, iterations=1, round_to=6,
                            residual=False, rotate=False, rotation_seed=0,
                            rotation_sweeps=4, rotation_dim=None,
                            rerank=False, rerank_factor=4,
                            right_prefix="MATCH_", index=None) -> str:
    """Full SQL replay of the PQ-coded ANN join: the shared
    :func:`_r_ivfpq_ranked` core with the fit chains running over the
    RIGHT table and a table-shaped query side — every left row normalizes
    (shared ``_unit_norm_sql`` contract), rotates with the corpus when
    ``rotate``, probes and scores exactly as the search does; left scalar
    columns join back at the end."""
    from ..errors import TransformRenderingException
    from .cluster import _unit_norm_sql

    if index is not None:
        raise TransformRenderingException(
            "embedding_join_ivfpq renders the inline fit; a prebuilt "
            "index is an external artifact the renderer cannot replay"
        )
    if other is None:
        raise TransformRenderingException(
            "embedding_join_ivfpq renders only with a right-side table "
            "(other=...)"
        )
    if isinstance(num_centroids, str) or isinstance(nprobe, str):
        raise TransformRenderingException(
            "auto sizing resolves from the corpus count at run time; pass "
            "explicit num_centroids/nprobe to render"
        )
    if round_to is None:
        raise ParameterException(
            "embedding_join_ivfpq scores by the rounded replay contract; "
            "round_to must be an int"
        )
    ctes, ranked = _r_ivfpq_ranked(
        "embedding_join_ivfpq", other, other_vec or vec_col,
        other_id or id_col,
        lambda nv, rotated: (
            "SELECT __id AS qid, __u FROM "
            f"{rotated(_unit_norm_sql(vec_col, id_col, source))} __q"
        ),
        k, num_centroids, nprobe, coarse_iterations, m, codebook_size,
        iterations, round_to, residual, rotate, rotation_seed,
        rotation_sweeps, rotation_dim, rerank, rerank_factor,
    )
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT s.*, m.__mid AS {right_prefix}ID, m.__score AS COSINE, "
        f"m.RANK FROM {source} s JOIN ({ranked}) m ON m.__qid = s.{id_col}"
        f") __ivfpqj_out"
    )


@_renderer("pq_search")
def _r_pq_search(source, vec_col, id_col, query_ids, k=10, m=4,
                 codebook_size=8, iterations=1, round_to=6) -> str:
    """ADC replay over the unrolled PQ fit: candidate codes come from the
    same per-subspace Lloyd chains as the pq_encode renderer; each
    (query, candidate) score is the sum over subspaces of
    dot(query_subvector, codebook[code]) computed in-flight by joining the
    candidate's code against the post-Lloyd codebook relation — the exact
    join-form of the DataFrame path's driver-collected lookup tables (both
    sides fold the dot product sequentially over array order, so the
    doubles match bit-for-bit before the shared ROUND). Top-k per query by
    the same (score DESC, id ASC) window."""
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    parts = _pq_render_parts(
        source, vec_col, id_col, m, codebook_size, iterations, round_to,
        "pq_search",
    )
    qlist = ", ".join(str(int(q)) for q in query_ids)
    # one CTE per subspace for the codebook and the code assignment, plus a
    # per-subspace query-slice relation; named CTEs keep the corpus-wide
    # Lloyd chains single-definition
    ctes = []
    for j, (sub, cb, a) in enumerate(parts):
        ctes.append(f"__pq_cb{j} AS (SELECT c, v FROM {cb})")
        ctes.append(f"__pq_f{j} AS (SELECT __id, c FROM {a})")
        ctes.append(
            f"__pq_q{j} AS (SELECT __id AS qid, __u AS v FROM {sub} "
            f"WHERE __id IN ({qlist}))"
        )
    dot = (
        "aggregate(zip_with(__pq_q{j}.v, __pq_b{j}.v, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    score = " + ".join(dot.replace("{j}", str(j)) for j in range(int(m)))
    code_joins = " ".join(
        f"JOIN __pq_f{j} ON __pq_f{j}.__id = s.{id_col} "
        f"JOIN __pq_cb{j} __pq_b{j} ON __pq_b{j}.c = __pq_f{j}.c"
        for j in range(int(m))
    )
    q_joins = " ".join(
        f"JOIN __pq_q{j} ON __pq_q{j}.qid = __pq_q0.qid"
        for j in range(1, int(m))
    )
    scored = (
        f"SELECT CAST(__pq_q0.qid AS BIGINT) AS QUERY_ID, "
        f"s.{id_col} AS MATCH_ID, "
        f"round({score}, {int(round_to)}) AS ADC_SCORE "
        f"FROM {source} s {code_joins} CROSS JOIN __pq_q0 {q_joins} "
        f"WHERE s.{id_col} <> __pq_q0.qid"
    )
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT QUERY_ID, MATCH_ID, ADC_SCORE, RANK FROM ("
        f"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
        f"ORDER BY ADC_SCORE DESC, MATCH_ID ASC) AS INT) AS RANK "
        f"FROM ({scored})) WHERE RANK <= {int(k)}) __pq_out"
    )
