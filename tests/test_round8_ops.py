"""Round-8 operator tests: bands="auto" S-curve banding in dedup_minhash
(minhash_tune wiring), and the scalar-only gate projection convention for
dedup_embedding filter mode."""

import pytest

import rasgoql_spark as rql
from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions.dedup import minhash_tune


@pytest.fixture()
def near_dup_docs(spark):
    """Two near-dup docs sharing most shingles, one unrelated doc."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tomorrow"),
        (3, "completely different content about spark partitions"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _minhash_pairs(df, **kw):
    out = rql.get_transform("dedup_minhash").apply(
        df, text="text", id_col="doc_id", **kw)
    return {(r["ID_A"], r["ID_B"]) for r in out.collect()}


def test_bands_auto_resolves_via_minhash_tune(near_dup_docs):
    # threshold 0.2 tunes to 8 bands of 2; the result must equal an explicit
    # bands=8 run exactly (auto is pure parameter resolution, no new path)
    tuned = minhash_tune(0.2, 16)
    assert (tuned["bands"], tuned["rows_per_band"]) == (8, 2)
    auto = _minhash_pairs(near_dup_docs, threshold=0.2, bands="auto")
    explicit = _minhash_pairs(near_dup_docs, threshold=0.2, bands=8)
    assert auto == explicit
    assert (1, 2) in auto
    # one banding check serves every banded entry point: a non-int,
    # non-positive or non-dividing band count is a parameter error ('auto'
    # resolves only where the verify threshold tunes it: dedup_minhash)
    from rasgoql_spark.functions.dedup import (
        _r_minhash_similarity,
        dedup_against,
        minhash_index,
    )

    sim = rql.get_transform("minhash_similarity").apply
    kw = {"text": "text", "id_col": "doc_id"}
    for bad in (0, -4, 5, "auto", 2.0, True):
        if bad != "auto":
            with pytest.raises(ParameterException):
                _minhash_pairs(near_dup_docs, threshold=0.2, bands=bad)
        with pytest.raises(ParameterException):
            sim(near_dup_docs, bands=bad, **kw)
        with pytest.raises(ParameterException):
            dedup_against(near_dup_docs, reference=near_dup_docs,
                          method="minhash", bands=bad, **kw)
        with pytest.raises(ParameterException):
            minhash_index(near_dup_docs, bands=bad, **kw)
        with pytest.raises(ParameterException):
            _r_minhash_similarity("docs", bands=bad, **kw)


def test_bands_auto_differs_from_default_banding_at_low_threshold(spark):
    """A concrete borderline pair (4 of 14 words swapped, exact J = 1/7 —
    far below the 4x4 knee of 0.707, above the 16x1 knee of 0.0625) that
    the default 4-row bands deterministically MISS and the auto-resolved
    1-row bands RECALL — i.e. bands='auto' at a low threshold changes what
    the LSH can find, which is the reason the optimizer exists. The
    signatures are md5-based and seedless, so the collision outcome is
    deterministic and pinned. The optimizer itself must also be
    threshold-sensitive."""
    t1 = minhash_tune(0.2, 16)
    t2 = minhash_tune(0.9, 16)
    assert t1["bands"] != t2["bands"]
    assert t1["knee"] < t2["knee"]

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi"
    swapped = "alpha beta gamma delta epsilon omicron eta pi iota rho lam sigma nu xi"
    df = spark.createDataFrame([(1, base), (2, swapped)], ["doc_id", "text"])
    # exact J = 0.1428...; threshold 0.1 tunes to 16 bands of 1
    assert (1, 2) not in _minhash_pairs(df, threshold=0.1, bands=4)
    assert (1, 2) in _minhash_pairs(df, threshold=0.1, bands="auto")


def test_bands_invalid_raises(near_dup_docs):
    with pytest.raises(ParameterException):
        _minhash_pairs(near_dup_docs, threshold=0.2, bands="automatic")
    with pytest.raises(ParameterException):
        _minhash_pairs(near_dup_docs, threshold=0.2, bands=5)  # 16 % 5 != 0


def test_dedup_embedding_filter_gate_is_scalar_only(spark):
    """The r7 red row: the gate query must not return array columns (the
    driver's pandas canonicalizer cannot sort them). Regression-pin the
    projection, not just the operator."""
    import __spark_entry__ as entry

    df = entry.queries()["dedup_embedding_filter"](spark, "/root/testdata/sf0.001")
    from pyspark.sql.types import ArrayType

    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, ArrayType)]
    assert not bad, f"gate query returns array columns {bad}"
    assert "vec_id" in df.columns


def test_colliding_hash_plans_both_unpersist(spark, monkeypatch):
    """r8 _cache fix (ADVICE r7): when two genuinely DIFFERENT plans collide
    on semanticHash, the zero-count release must unpersist BOTH registered
    frames — the old count-only bookkeeping skipped the first-released
    frame's unpersist forever (a permanent cache leak). Forced collision via
    a monkeypatched hash; real 32-bit collisions are rare but inevitable in
    a long-lived session."""
    from rasgoql_spark.functions import _cache

    def cached(df):
        # the frames' OWN storage levels: immune to other tests' persisted
        # RDDs and to their GC finalizers firing mid-assertion (global
        # getPersistentRDDs counts made this flaky under the full suite)
        lv = df.storageLevel
        return lv.useMemory or lv.useDisk

    monkeypatch.setattr(_cache, "_sem_hash", lambda df: 0xC0111DE)
    a = _cache.scoped_persist(spark.range(10).selectExpr("id * 2 AS x"))
    b = _cache.scoped_persist(spark.range(10).selectExpr("id * 3 AS y"))
    a.count(), b.count()
    assert cached(a) and cached(b)
    _cache.release_now(a)  # count 2 -> 1: nothing may free yet
    assert cached(a) and cached(b)
    _cache.release_now(b)  # zero: BOTH collided frames must free
    assert not cached(a) and not cached(b)
    assert 0xC0111DE not in _cache._ENTRIES


def test_litfast_literals_match_per_element_construction(spark):
    """_litfast (r8 perf): the one-call F.expr literal must be value- and
    schema-identical to the per-element F.lit construction it replaced —
    including exponent-formatted doubles — and fall back cleanly on
    non-finite values (which have no SQL literal form)."""
    from pyspark.sql import functions as F

    from rasgoql_spark.functions._litfast import (
        centroid_array_lit,
        double_array_lit,
    )

    vals = [0.5, -0.0, 1e-22, -3.75e18, 123456.789012345678, 2.0 ** -1074]
    old = F.array(*[F.lit(float(x)) for x in vals])
    row = spark.range(1).select(
        (double_array_lit(vals) == old).alias("eq")).first()
    assert row.eq

    cents = [(0, vals), (7, [x * -1.5 for x in vals])]
    for id_type in ("bigint", "int"):
        old_c = F.array(*[
            F.struct(F.lit(int(c)).cast(id_type).alias("c"),
                     F.array(*[F.lit(float(x)) for x in v]).alias("v"))
            for c, v in cents])
        new_c = centroid_array_lit(cents, id_type=id_type)
        a = spark.range(1).select(old_c.alias("z"))
        b = spark.range(1).select(new_c.alias("z"))
        assert a.schema == b.schema
        assert a.first() == b.first()

    # non-finite fallback still builds a working literal
    bad = [(1, [float("nan"), 1.0])]
    out = spark.range(1).select(
        centroid_array_lit(bad)[0]["v"][1].alias("x")).first()
    assert out.x == 1.0


def test_pq_adc_quality_floor(spark):
    """The PQ quality property the old pq_search gate asserted (top-10 ADC
    hits >= 5 inside the exact top-50), pinned HERE at a scale where it is
    stable (sf0.001, measured {5,7,7,8,8}) instead of in the driver gate —
    at sf0.1 it genuinely fails for some queries (approximation quality of
    m=8 x 16 codes on random 64-d embeddings, not a bug). The driver gate
    now hash-verifies the ADC implementation exactly instead."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    ds = entry._s(spark, "/root/testdata/sf0.001").dataset("embeddings")
    pq = ds.pq_search(
        vec_col="embedding", id_col="vec_id", query_ids=[0, 1, 2, 3, 4],
        k=10, m=8, codebook_size=16, iterations=2,
    ).df.select("QUERY_ID", "MATCH_ID")
    b50 = ds.similarity_search(
        vec_col="embedding", id_col="vec_id", query_ids=[0, 1, 2, 3, 4], k=50
    ).df.select("QUERY_ID", "MATCH_ID", "RANK")
    hits = (
        pq.join(b50, ["QUERY_ID", "MATCH_ID"], "left")
        .groupBy("QUERY_ID")
        .agg(F.sum(F.when(F.col("RANK").isNotNull(), 1).otherwise(0)).alias("h"))
        .collect()
    )
    assert len(hits) == 5
    for r in hits:
        assert r.h >= 5, f"query {r.QUERY_ID}: only {r.h} of 10 in exact top-50"


def test_parquet_memo_hits_and_invalidates(spark, tmp_path):
    """r8 _read_parquet memo: same (session, path, content) returns the SAME
    DataFrame object (no re-inference); overwriting the file changes the
    signature and must produce a fresh frame with the new data."""
    import rasgoql_spark as rql

    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id AS a").write.mode("overwrite").parquet(p)
    s = rql.RasgoSession(spark, data_dir=str(tmp_path))
    d1 = s.table_df(p)
    d2 = s.table_df(p)
    assert d1 is d2
    assert d1.count() == 5
    # overwrite -> new signature -> fresh read sees the new rowcount
    spark.range(9).selectExpr("id AS a").write.mode("overwrite").parquet(p)
    d3 = s.table_df(p)
    assert d3 is not d1
    assert d3.count() == 9


def test_filter_modes_preserve_schema_order(spark, session):
    """r8 review finding: filter-mode operators used df.join(..., on=id,
    how='left_anti') whose USING join hoists the id column to position 0 —
    so a source whose id is NOT first came back reordered, and rendered
    'SELECT s.*' SQL diverged from the executed column order. Filter modes
    (and the kmeans/pq appends) are now schema-preserving; pin it on a
    table whose id sits in the middle."""
    docs = session.dataset("documents").df.selectExpr("text", "doc_id", "lang")
    emb = session.dataset("embeddings").df.selectExpr(
        "embedding", "vec_id", "label")
    import rasgoql_spark as rql

    t = rql.get_transform
    out = t("dedup_minhash").apply(
        docs, text="text", id_col="doc_id", threshold=0.2, mode="filter")
    assert out.columns == ["text", "doc_id", "lang"]
    out = t("dedup_against").apply(
        docs, text="text", id_col="doc_id",
        reference=docs.filter("doc_id % 10 = 0"), method="exact")
    assert out.columns == ["text", "doc_id", "lang"]
    out = t("kmeans_cluster").apply(emb, vec_col="embedding", id_col="vec_id", k=4)
    assert out.columns == ["embedding", "vec_id", "label", "CLUSTER_ID"]
    out = t("pq_encode").apply(
        emb, vec_col="embedding", id_col="vec_id", m=4, codebook_size=8)
    assert out.columns == ["embedding", "vec_id", "label", "PQ_CODE"]


# ---------------------------------------------------------------------------
# similarity_search_ivfpq (IVF-PQ ANN: deterministic coarse quantizer + ADC)
# ---------------------------------------------------------------------------


def _ivfpq(session, **kw):
    return session.dataset("embeddings").similarity_search_ivfpq(
        vec_col="embedding", id_col="vec_id", **kw
    ).df


def test_ivfpq_full_probe_equals_pq_search(session):
    """Probing every inverted list disables the IVF pruning, so the result
    must equal pq_search's ADC ranking EXACTLY (same staging, same
    codebooks, same LUT doubles, same tie rule) — pins that the coarse
    quantizer only ever PRUNES and the scoring paths cannot drift."""
    full = _ivfpq(
        session, query_ids=[0, 1, 2], k=10,
        num_centroids=4, nprobe=4, m=4, codebook_size=8, iterations=1,
    )
    pq = session.dataset("embeddings").pq_search(
        vec_col="embedding", id_col="vec_id", query_ids=[0, 1, 2], k=10,
        m=4, codebook_size=8, iterations=1,
    ).df
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, pq.collect()))


def test_ivfpq_probe_restricts_candidates(session):
    """nprobe=1 candidates must all come from the query's single probed
    list — verified against an independent kmeans-contract assignment of
    the matches (same centroids arise from the shared lloyd_fit seed
    path), and the result must be a subset of the full-probe ranking's
    candidate pool."""
    narrow = _ivfpq(
        session, query_ids=[0, 1, 2], k=50,
        num_centroids=4, nprobe=1, m=4, codebook_size=8, iterations=1,
    ).collect()
    wide = _ivfpq(
        session, query_ids=[0, 1, 2], k=500,
        num_centroids=4, nprobe=4, m=4, codebook_size=8, iterations=1,
    ).collect()
    assert narrow, "nprobe=1 returned nothing"
    wide_pairs = {(r["QUERY_ID"], r["MATCH_ID"]) for r in wide}
    narrow_pairs = {(r["QUERY_ID"], r["MATCH_ID"]) for r in narrow}
    assert narrow_pairs <= wide_pairs
    # pruning is real: fewer candidates reachable with 1 of 4 lists
    assert len(narrow_pairs) < len(wide_pairs)
    # scores agree with the full-probe run on the shared pairs (ADC is
    # independent of the probe set)
    wide_scores = {(r["QUERY_ID"], r["MATCH_ID"]): r["ADC_SCORE"] for r in wide}
    for r in narrow:
        assert wide_scores[(r["QUERY_ID"], r["MATCH_ID"])] == r["ADC_SCORE"]


def test_ivfpq_no_self_match_and_rank_contract(session):
    out = _ivfpq(session, query_ids=[0, 5], k=7, num_centroids=4, nprobe=2)
    rows = out.collect()
    assert all(r["QUERY_ID"] != r["MATCH_ID"] for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["QUERY_ID"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["RANK"])
        assert [r["RANK"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 7
        scores = [r["ADC_SCORE"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_ivfpq_parameter_validation(session):
    import pytest as _pytest

    ds = session.dataset("embeddings")
    for kw in (
        dict(query_ids=[]),
        dict(query_ids=[0], k=0),
        dict(query_ids=[0], num_centroids=0),
        dict(query_ids=[0], nprobe=0),
        dict(query_ids=[0], coarse_iterations=-1),
    ):
        with _pytest.raises(ParameterException):
            ds.similarity_search_ivfpq(
                vec_col="embedding", id_col="vec_id", **kw
            ).df.collect()


# ---------------------------------------------------------------------------
# classifier_eval (confusion + PRECISION/RECALL/F1 + tie-corrected AUC)
# ---------------------------------------------------------------------------


def _eval_row(spark, rows, threshold=0.5):
    df = spark.createDataFrame(rows, ["y", "s"])
    out = rql.get_transform("classifier_eval").apply(
        df, label_col="y", score_col="s", threshold=threshold)
    return out.collect()[0].asDict()


def test_classifier_eval_known_metrics_with_score_ties(spark):
    """Hand-checked frame including a tied score across classes: the
    Mann-Whitney average-rank AUC counts a tied (pos, neg) pair as 0.5."""
    rows = [(1, 0.9), (1, 0.8), (0, 0.7), (1, 0.6),
            (0, 0.4), (0, 0.4), (1, 0.4), (0, 0.1)]
    m = _eval_row(spark, rows)
    pos = [s for y, s in rows if y == 1]
    neg = [s for y, s in rows if y == 0]
    auc = sum(
        1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
    ) / (len(pos) * len(neg))
    assert m["N"] == 8 and m["N_POS"] == 4 and m["N_NEG"] == 4
    assert (m["TP"], m["FP"], m["FN"], m["TN"]) == (3, 1, 1, 3)
    assert m["ACCURACY"] == 0.75
    assert m["PRECISION"] == 0.75 and m["RECALL"] == 0.75 and m["F1"] == 0.75
    assert m["AUC"] == round(auc, 6)


def test_classifier_eval_degenerate_classes_null_guards(spark):
    # all positive: no negatives -> AUC/TN-dependent metrics guard to NULL
    m = _eval_row(spark, [(1, 0.9), (1, 0.2)])
    assert m["N_NEG"] == 0 and m["AUC"] is None
    assert m["RECALL"] == 0.5  # one of two positives over threshold
    # no predicted positives -> PRECISION NULL, F1 NULL
    m2 = _eval_row(spark, [(1, 0.1), (0, 0.2)], threshold=0.9)
    assert m2["PRECISION"] is None and m2["F1"] is None and m2["RECALL"] == 0.0


def test_classifier_eval_nonzero_labels_are_positive(spark):
    # truth contract: any nonzero label counts as positive (e.g. -1/2)
    m = _eval_row(spark, [(2, 0.9), (-1, 0.8), (0, 0.1)])
    assert m["N_POS"] == 2 and m["N_NEG"] == 1
    assert m["TP"] == 2 and m["FP"] == 0 and m["AUC"] == 1.0


def test_ivfpq_prebuilt_index_matches_inline(session, tmp_path):
    """ivfpq_index -> search == inline fit with the same parameters; a
    save/load round trip preserves results exactly (the artifact stores
    the same doubles); update_ivfpq_index makes new vectors findable
    without re-fitting."""
    from rasgoql_spark.functions.pq import (
        ivfpq_index, load_ivfpq_index, save_ivfpq_index,
        similarity_search_ivfpq, update_ivfpq_index,
    )

    emb = session.dataset("embeddings").df
    kw = dict(num_centroids=4, coarse_iterations=1, m=4, codebook_size=8,
              iterations=1)
    inline = sorted(map(tuple, similarity_search_ivfpq(
        emb, "embedding", "vec_id", [0, 1, 2], k=10, nprobe=2, **kw
    ).collect()))

    idx = ivfpq_index(emb, "embedding", "vec_id", **kw)
    assert idx.n_docs == emb.count()
    pre = sorted(map(tuple, similarity_search_ivfpq(
        emb, "embedding", "vec_id", [0, 1, 2], k=10, nprobe=2, index=idx
    ).collect()))
    assert pre == inline

    path = str(tmp_path / "ivfpq_idx")
    save_ivfpq_index(idx, path)
    loaded = load_ivfpq_index(emb.sparkSession, path)
    assert loaded.n_docs == idx.n_docs
    assert (loaded.m, loaded.d_sub, loaded.round_to) == (idx.m, idx.d_sub, idx.round_to)
    via_loaded = sorted(map(tuple, similarity_search_ivfpq(
        emb, "embedding", "vec_id", [0, 1, 2], k=10, nprobe=2, index=loaded
    ).collect()))
    assert via_loaded == inline

    # update: fold a synthetic near-duplicate of vector 0 into the index;
    # a full probe must now retrieve it for query 0
    from pyspark.sql import functions as F

    batch = emb.filter("vec_id = 0").select(
        F.lit(900000).cast("bigint").alias("vec_id"), "embedding", "label")
    grown = update_ivfpq_index(loaded, batch, "embedding", "vec_id")
    assert grown.n_docs == idx.n_docs + 1
    hits = similarity_search_ivfpq(
        emb, "embedding", "vec_id", [0], k=3, nprobe=4, index=grown
    ).collect()
    assert any(r["MATCH_ID"] == 900000 and r["RANK"] == 1 for r in hits)
    idx.release(); loaded.release(); grown.release()


def test_ivfpq_quality_floor_vs_full_probe(spark):
    """IVF pruning quality, pinned on the deterministic corpus: at
    num_centroids=8 / nprobe=3 (the gate sizing), every query's top-10
    must keep >= 5 of the full-probe (pq_search-equivalent) top-10
    (measured {9,9,5,9,6} on the deterministic corpus) — probing 3 of 8
    lists keeps at least half the ADC winners for every query. Stability
    comes from the seedless deterministic fits; a probe-ranking or
    assignment regression shows up here as a recall drop the exact-replay
    oracle alone would not flag (the oracle replays WHATEVER the pipeline
    does; this pins that what it does stays useful)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    ds = entry._s(spark, "/root/testdata/sf0.001").dataset("embeddings")
    kw = dict(vec_col="embedding", id_col="vec_id",
              query_ids=[0, 1, 2, 3, 4], k=10,
              num_centroids=8, coarse_iterations=1,
              m=8, codebook_size=16, iterations=0)
    pruned = ds.similarity_search_ivfpq(nprobe=3, **kw).df.select(
        "QUERY_ID", "MATCH_ID")
    full = ds.similarity_search_ivfpq(nprobe=8, **kw).df.select(
        "QUERY_ID", "MATCH_ID")
    hits = (
        full.join(pruned.withColumn("__hit", F.lit(1)),
                  ["QUERY_ID", "MATCH_ID"], "left")
        .groupBy("QUERY_ID")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("h"))
        .collect()
    )
    assert len(hits) == 5
    assert all(r["h"] >= 5 for r in hits), [(r["QUERY_ID"], r["h"]) for r in hits]


def test_classifier_eval_null_scores_excluded_from_auc(spark):
    """NULL scores count as pred-negative in the confusion pass but are
    excluded from BOTH sides of the AUC (numerator levels and the P*N
    normalizer) — ranking an unscored row is undefined, and engines
    disagree on where a NULL level sorts."""
    rows = [(1, 0.9), (0, 0.1), (1, None), (0, None)]
    df = spark.createDataFrame(rows, "y long, s double")
    m = rql.get_transform("classifier_eval").apply(
        df, label_col="y", score_col="s").collect()[0].asDict()
    assert m["N"] == 4 and m["N_POS"] == 2
    assert m["TP"] == 1 and m["FN"] == 1  # null-score positive -> pred-neg
    assert m["AUC"] == 1.0  # over the scored pair only


def test_ivfpq_missing_query_ids_raise(session):
    import pytest as _pytest

    with _pytest.raises(ParameterException):
        session.dataset("embeddings").similarity_search_ivfpq(
            vec_col="embedding", id_col="vec_id", query_ids=[10**9],
            num_centroids=4,
        ).df.collect()
