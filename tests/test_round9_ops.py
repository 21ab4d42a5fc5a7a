"""Round-9 additions: residual IVFADC (Jégou et al. 2011 §III), the IVF-PQ
incremental dedup path (dedup_against_embedding method='ivfpq'), and the
geometry/type guards around the two-index-class API."""

import pytest
from pyspark.sql import functions as F

from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions.pq import (
    IVFPQIndex,
    ivfpq_index,
    load_ivfpq_index,
    save_ivfpq_index,
    similarity_search_ivfpq,
    update_ivfpq_index,
)
from rasgoql_spark.functions.similarity import (
    dedup_against_embedding,
    ivf_index,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_dedup_ivfpq_degenerate_pq_equals_brute(emb):
    """With codebook_size >= |reference| and iterations=0, every reference
    subvector is its own seed codebook entry, so PQ reconstruction is exact
    and — at full probe — the ADC pairs equal the brute cosine pairs
    bit-for-bit. Pins the whole probe+ADC pipeline to the exact baseline."""
    ref = emb.filter("vec_id < 40")
    batch = emb.filter("vec_id >= 480")
    approx = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, threshold=0.2,
        method="ivfpq", num_centroids=4, nprobe=4, mode="pairs",
        pq_m=4, pq_codebook_size=40, pq_iterations=0,
    )
    brute = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, threshold=0.2,
        method="brute", mode="pairs",
    )
    a = {(r["ID"], r["REF_ID"]): r["COSINE"] for r in approx.collect()}
    b = {(r["ID"], r["REF_ID"]): r["COSINE"] for r in brute.collect()}
    assert a.keys() == b.keys() and a
    assert all(a[k] == b[k] for k in a)


def test_dedup_ivfpq_filter_drops_flagged(emb):
    ref = emb.filter("vec_id < 450")
    batch = emb.filter("vec_id >= 450")
    pairs = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, threshold=0.3,
        method="ivfpq", num_centroids=8, nprobe=3, mode="pairs",
        pq_m=8, pq_codebook_size=16, pq_iterations=0,
    )
    kept = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, threshold=0.3,
        method="ivfpq", num_centroids=8, nprobe=3, mode="filter",
        pq_m=8, pq_codebook_size=16, pq_iterations=0,
    )
    flagged = {r["ID"] for r in pairs.select("ID").distinct().collect()}
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    all_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert kept_ids == all_ids - flagged
    assert kept.columns == batch.columns


def test_dedup_ivfpq_prebuilt_matches_inline(emb):
    ref = emb.filter("vec_id < 450")
    batch = emb.filter("vec_id >= 450")
    kw = dict(threshold=0.3, method="ivfpq", nprobe=3, mode="pairs")
    inline = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, num_centroids=8,
        pq_m=8, pq_codebook_size=16, pq_iterations=0, **kw,
    )
    idx = ivfpq_index(
        ref, "embedding", "vec_id", num_centroids=8, coarse_iterations=1,
        m=8, codebook_size=16, iterations=0,
    )
    pre = dedup_against_embedding(
        batch, "embedding", "vec_id", index=idx, **kw,
    )
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, pre.collect()))
    idx.release()


def test_residual_search_inline_matches_prebuilt(emb):
    kw = dict(num_centroids=8, coarse_iterations=1, m=8,
              codebook_size=16, iterations=0)
    idx = ivfpq_index(emb, "embedding", "vec_id", residual=True, **kw)
    s1 = similarity_search_ivfpq(
        emb, "embedding", "vec_id", [0, 1, 2], k=10, nprobe=3,
        residual=True, **kw,
    )
    s2 = similarity_search_ivfpq(
        emb, "embedding", "vec_id", [0, 1, 2], k=10, nprobe=3, index=idx,
    )
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    idx.release()


def test_residual_improves_recall_with_trained_coarse(emb):
    """Residual coding spends the PQ budget on the within-list spread —
    the recall argument for the IVFADC formulation. The win is conditional
    on a CONVERGED coarse quantizer (3 Lloyd passes here): with a 1-pass
    coarse fit the residuals are miscentered and plain PQ matches or beats
    residual on this corpus (measured, round 9 — see SCALING.md). Top-10
    overlap with the exact ranking at full probe, so probe choice is not
    a factor; everything is deterministic, so the margin is stable."""
    from rasgoql_spark.functions.similarity import similarity_search

    qids = [0, 1, 2, 3, 4]
    exact = similarity_search(
        emb, "embedding", "vec_id", query_ids=qids, k=10, method="brute",
    )
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["QUERY_ID"], set()).add(r["MATCH_ID"])

    def recall(residual):
        res = similarity_search_ivfpq(
            emb, "embedding", "vec_id", qids, k=10, num_centroids=10,
            nprobe=10, coarse_iterations=3, m=16, codebook_size=16,
            iterations=2, residual=residual,
        )
        got = {}
        for r in res.collect():
            got.setdefault(r["QUERY_ID"], set()).add(r["MATCH_ID"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        return hits / sum(len(truth[q]) for q in truth)

    r_res, r_plain = recall(True), recall(False)
    assert r_res > r_plain
    assert r_res >= 0.5  # measured 0.54 vs 0.48 on this corpus


def test_residual_save_load_roundtrip(emb, tmp_path, index_artifacts):
    idx = ivfpq_index(
        emb, "embedding", "vec_id", num_centroids=8, coarse_iterations=1,
        m=8, codebook_size=16, iterations=0, residual=True,
    )
    path = str(tmp_path / "ivfpq_res")
    save_ivfpq_index(idx, path)
    loaded = load_ivfpq_index(emb.sparkSession, path)
    assert loaded.residual is True
    assert index_artifacts.params(emb.sparkSession, path) == {
        "m": 8, "d_sub": 8, "round_to": 6, "n_docs": idx.n_docs,
        "residual": True, "rotated": False, "rotation_seed": 0,
        "rotation_sweeps": 4}
    assert index_artifacts.rows(loaded.frame) == index_artifacts.rows(idx.frame)
    assert (loaded.centroids, loaded.books) == (idx.centroids, idx.books)
    # an artifact saved before residual coding and rotation existed loads
    # as the plain, unrotated index those artifacts hold
    index_artifacts.drop_params(
        emb.sparkSession, path, "residual", "rotated", "rotation_seed",
        "rotation_sweeps")
    old = load_ivfpq_index(emb.sparkSession, path)
    assert (old.residual, old.rotation, old.rotation_seed,
            old.rotation_sweeps, old.n_docs) == (False, None, 0, 4, idx.n_docs)
    old.release()
    a = similarity_search_ivfpq(emb, "embedding", "vec_id", [7, 8], k=5, index=idx)
    b = similarity_search_ivfpq(emb, "embedding", "vec_id", [7, 8], k=5, index=loaded)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    idx.release()
    loaded.release()


def test_residual_update_encodes_duplicate_identically(emb):
    """A folded-in vector identical to an indexed one must land in the same
    list with the same PQ codes — catches an update path that forgets the
    residual subtraction (raw-vector codes would differ)."""
    ref = emb.filter("vec_id < 200")
    idx = ivfpq_index(
        ref, "embedding", "vec_id", num_centroids=8, coarse_iterations=1,
        m=8, codebook_size=16, iterations=0, residual=True,
    )
    dup = ref.filter("vec_id = 5").withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    idx2 = update_ivfpq_index(idx, dup, "embedding", "vec_id")
    rows = {
        int(r["__id"]): (int(r["__cid"]), list(r["__codes"]))
        for r in idx2.frame.filter("__id in (5, 100005)").collect()
    }
    assert rows[5] == rows[100005]
    assert idx2.residual is True and idx2.n_docs == 201
    idx.release()
    idx2.release()


def test_update_ivfpq_dim_guard(emb):
    idx = ivfpq_index(emb.filter("vec_id < 100"), "embedding", "vec_id")
    bad = emb.filter("vec_id >= 100 AND vec_id < 110").withColumn(
        "embedding", F.slice("embedding", 1, 32)
    )
    with pytest.raises(ParameterException, match="dim 32"):
        update_ivfpq_index(idx, bad, "embedding", "vec_id")
    idx.release()


def test_dedup_ivfpq_batch_dim_guard(emb):
    idx = ivfpq_index(emb.filter("vec_id < 100"), "embedding", "vec_id")
    bad = emb.filter("vec_id >= 100").withColumn(
        "embedding", F.slice("embedding", 1, 16)
    )
    with pytest.raises(ParameterException, match="dim 16"):
        dedup_against_embedding(
            bad, "embedding", "vec_id", index=idx, method="ivfpq",
            mode="pairs",
        ).collect()
    idx.release()


def test_index_type_guards(emb):
    small = emb.filter("vec_id < 50")
    pq_idx = ivfpq_index(small, "embedding", "vec_id")
    ivf_idx = ivf_index(small, "embedding", "vec_id", num_centroids=4)
    with pytest.raises(ParameterException, match="IVFPQIndex"):
        dedup_against_embedding(
            small, "embedding", "vec_id", index=ivf_idx, method="ivfpq",
        )
    with pytest.raises(ParameterException, match="IVFIndex"):
        dedup_against_embedding(
            small, "embedding", "vec_id", index=pq_idx, method="ivf",
        )
    with pytest.raises(ParameterException, match="round_scores"):
        dedup_against_embedding(
            small, "embedding", "vec_id", index=pq_idx, method="ivfpq",
            round_scores=None,
        )
    pq_idx.release()
    ivf_idx.release()


def test_dedup_ivfpq_stale_index_fingerprint(emb):
    ref = emb.filter("vec_id < 100")
    idx = ivfpq_index(ref, "embedding", "vec_id")
    grown = emb.filter("vec_id < 150")
    with pytest.raises(ParameterException, match="fold the new vectors"):
        dedup_against_embedding(
            emb.filter("vec_id >= 450"), "embedding", "vec_id",
            reference=grown, index=idx, method="ivfpq",
        )
    idx.release()


def test_residual_renderer_parity(emb, spark):
    """Rendered SQL (Spark dialect) executes to the exact DataFrame result
    for residual=True — the composed coarse-fit + residual-PQ replay."""
    from rasgoql_spark.functions.pq import _r_similarity_search_ivfpq

    emb.createOrReplaceTempView("__r9_emb")
    kw = dict(query_ids=[0, 1, 2], k=8, num_centroids=8, nprobe=3,
              coarse_iterations=1, m=4, codebook_size=8, iterations=1)
    df_res = similarity_search_ivfpq(
        emb, "embedding", "vec_id", residual=True, **kw,
    )
    sql = _r_similarity_search_ivfpq(
        "__r9_emb", "embedding", "vec_id", residual=True, **kw,
    )
    assert sorted(map(tuple, df_res.collect())) == sorted(
        map(tuple, spark.sql(sql).collect())
    )


def test_residual_large_k_broadcast_fallback(emb):
    """num_centroids above IVF_LITERAL_CENTROID_MAX (256) switches both
    the assignment array (_attach_centroids) and the residual centroid
    lookup (_cent_vec_of_cid) to broadcast forms — same values, O(1) plan
    size. Pin inline == prebuilt on that path so the fallback can never
    silently diverge from the literal path's contract."""
    small = emb.filter("vec_id < 400")
    kw = dict(num_centroids=300, coarse_iterations=1, m=4,
              codebook_size=8, iterations=0)
    idx = ivfpq_index(small, "embedding", "vec_id", residual=True, **kw)
    s1 = similarity_search_ivfpq(
        small, "embedding", "vec_id", [0, 1], k=5, nprobe=3,
        residual=True, **kw,
    )
    s2 = similarity_search_ivfpq(
        small, "embedding", "vec_id", [0, 1], k=5, nprobe=3, index=idx,
    )
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    # dedup over the same large-k residual index exercises the probe-frame
    # LUT path's broadcast lookup too
    batch = emb.filter("vec_id >= 480")
    pairs = dedup_against_embedding(
        batch, "embedding", "vec_id", index=idx, method="ivfpq",
        threshold=0.2, nprobe=3, mode="pairs",
    )
    assert pairs.count() >= 0  # executes the broadcast-fallback plan
    idx.release()


def test_binary_quantize_matches_bit_reference(emb):
    """Packed sign words equal a pure-Python bit-level reference — pins
    the little-endian 32-bit word layout both renderers and the DuckDB
    oracle replay."""
    from rasgoql_spark.functions.similarity import binary_quantize

    out = binary_quantize(emb.filter("vec_id < 20"), "embedding", "vec_id")
    rows = {r["vec_id"]: (list(r["embedding"]), list(r["SIGN_BITS"]))
            for r in out.collect()}

    def ref_pack(v):
        return [
            sum((1 << i) for i in range(32)
                if w * 32 + i < len(v) and v[w * 32 + i] > 0)
            for w in range(2)
        ]

    assert rows and all(ref_pack(v) == sig for v, sig in rows.values())


def test_similarity_search_binary_hamming_and_renderers(emb, spark):
    """Hamming ranking matches a Python popcount reference; both .sql()
    renderers reproduce the DataFrame results exactly (integer replay —
    no rounding contract)."""
    from rasgoql_spark.functions.similarity import (
        _r_binary_quantize,
        _r_similarity_search_binary,
        binary_quantize,
        similarity_search_binary,
    )

    emb.createOrReplaceTempView("__r9_bin_emb")
    out = similarity_search_binary(emb, "embedding", "vec_id", [0, 1], k=5)
    got = {(r["QUERY_ID"], r["MATCH_ID"]): r["HAMMING"] for r in out.collect()}
    packed = {r["vec_id"]: list(r["SIGN_BITS"]) for r in binary_quantize(
        emb, "embedding", "vec_id").select("vec_id", "SIGN_BITS").collect()}
    for (q, m), h in got.items():
        ref = sum(bin(a ^ b).count("1") for a, b in zip(packed[q], packed[m]))
        assert ref == h
    # ranking is the true k-smallest (ties by MATCH_ID)
    for q in (0, 1):
        all_h = sorted(
            (sum(bin(a ^ b).count("1") for a, b in zip(packed[q], packed[m])), m)
            for m in packed if m != q
        )[:5]
        assert {(q, m) for _, m in all_h} == {k for k in got if k[0] == q}
    sql1 = spark.sql(_r_similarity_search_binary(
        "__r9_bin_emb", "embedding", "vec_id", [0, 1], k=5, n_words=2))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, sql1.collect()))
    bq = binary_quantize(emb, "embedding", "vec_id")
    sql2 = spark.sql(_r_binary_quantize("__r9_bin_emb", "embedding", n_words=2))
    a = sorted((r["vec_id"], tuple(r["SIGN_BITS"]))
               for r in bq.select("vec_id", "SIGN_BITS").collect())
    b = sorted((r["vec_id"], tuple(r["SIGN_BITS"]))
               for r in sql2.select("vec_id", "SIGN_BITS").collect())
    assert a == b


def test_similarity_search_binary_guards(emb):
    from rasgoql_spark.functions.similarity import similarity_search_binary

    with pytest.raises(ParameterException, match="query_ids"):
        similarity_search_binary(emb, "embedding", "vec_id", [])
    with pytest.raises(ParameterException, match="k must"):
        similarity_search_binary(emb, "embedding", "vec_id", [0], k=0)


def test_similarity_search_binary_rerank(emb, spark):
    """Two-stage search: the cosine rerank over Hamming survivors must
    (a) rank by true cosine within the survivor set, (b) beat or match
    the raw Hamming ranking's recall vs the exact brute top-10, and
    (c) replay exactly through the renderer."""
    from rasgoql_spark.functions.similarity import (
        _r_similarity_search_binary,
        similarity_search,
        similarity_search_binary,
    )

    qids = [0, 1, 2, 3, 4]
    exact = similarity_search(emb, "embedding", "vec_id", query_ids=qids, k=10)
    truth, got_h, got_r = {}, {}, {}
    for r in exact.collect():
        truth.setdefault(r["QUERY_ID"], set()).add(r["MATCH_ID"])
    plain = similarity_search_binary(emb, "embedding", "vec_id", qids, k=10)
    rer = similarity_search_binary(
        emb, "embedding", "vec_id", qids, k=10, rerank=True, rerank_factor=4)
    for r in plain.collect():
        got_h.setdefault(r["QUERY_ID"], set()).add(r["MATCH_ID"])
    for r in rer.collect():
        got_r.setdefault(r["QUERY_ID"], set()).add(r["MATCH_ID"])
    rc = lambda g: sum(  # noqa: E731
        len(truth[q] & g.get(q, set())) for q in truth
    ) / sum(len(truth[q]) for q in truth)
    assert rc(got_r) >= rc(got_h)
    assert rer.columns == ["QUERY_ID", "MATCH_ID", "COSINE", "RANK"]
    emb.createOrReplaceTempView("__r9_bin_emb2")
    sql = spark.sql(_r_similarity_search_binary(
        "__r9_bin_emb2", "embedding", "vec_id", qids, k=10,
        rerank=True, rerank_factor=4, n_words=2))
    assert sorted(map(tuple, rer.collect())) == sorted(map(tuple, sql.collect()))
    with pytest.raises(ParameterException, match="rerank_factor"):
        similarity_search_binary(
            emb, "embedding", "vec_id", qids, rerank=True, rerank_factor=0)


def test_dedup_against_binary(emb, spark):
    """Binary signature dedup: pairs match a Python popcount reference at
    the threshold; filter mode drops exactly the flagged ids; both modes
    render to SQL that reproduces the DataFrame results; guards fire."""
    from rasgoql_spark.functions.similarity import (
        _r_dedup_against_embedding,
        binary_quantize,
    )

    ref = emb.filter("vec_id < 450")
    batch = emb.filter("vec_id >= 450")
    pairs = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, method="binary",
        max_hamming=20, mode="pairs")
    got = {(r["ID"], r["REF_ID"]): r["HAMMING"] for r in pairs.collect()}
    packed = {r["vec_id"]: list(r["SIGN_BITS"]) for r in binary_quantize(
        emb, "embedding", "vec_id").select("vec_id", "SIGN_BITS").collect()}
    expect = {
        (q, c): sum(bin(a ^ b).count("1") for a, b in zip(packed[q], packed[c]))
        for q in packed if q >= 450 for c in packed if c < 450
    }
    assert got == {k: v for k, v in expect.items() if v <= 20}
    kept = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, method="binary",
        max_hamming=20, mode="filter")
    flagged = {q for (q, _c) in got}
    assert {r["vec_id"] for r in kept.select("vec_id").collect()} == (
        {q for q in packed if q >= 450} - flagged)
    assert kept.columns == batch.columns
    # renderers
    emb.createOrReplaceTempView("__r9_dab")
    for mode in ("pairs", "filter"):
        sql = _r_dedup_against_embedding(
            "(SELECT * FROM __r9_dab WHERE vec_id >= 450)", "embedding",
            "vec_id", reference="(SELECT * FROM __r9_dab WHERE vec_id < 450)",
            method="binary", max_hamming=20, mode=mode, n_words=2)
        via_sql = spark.sql(sql)
        via_df = pairs if mode == "pairs" else kept
        assert sorted(map(tuple, via_df.collect())) == sorted(
            map(tuple, via_sql.collect()))
    with pytest.raises(ParameterException, match="takes a BinaryIndex"):
        dedup_against_embedding(
            batch, "embedding", "vec_id", reference=ref, method="binary",
            index=ivf_index(ref.limit(50), "embedding", "vec_id",
                            num_centroids=4))
    with pytest.raises(ParameterException, match="max_hamming"):
        dedup_against_embedding(
            batch, "embedding", "vec_id", reference=ref, method="binary",
            max_hamming=-1)


def test_binary_index_lifecycle(emb, tmp_path, index_artifacts):
    """BinaryIndex: prebuilt == inline, update == full rebuild EXACTLY
    (packing has no fitted state — the one drift-free index family),
    save/load round-trips, and the type/staleness/geometry guards fire."""
    from rasgoql_spark.functions.similarity import (
        binary_index,
        load_binary_index,
        save_binary_index,
        update_binary_index,
    )

    ref = emb.filter("vec_id < 400")
    batch = emb.filter("vec_id >= 480")
    kw = dict(method="binary", max_hamming=20, mode="pairs")
    inline = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, **kw)
    idx = binary_index(ref, "embedding", "vec_id")
    pre = dedup_against_embedding(batch, "embedding", "vec_id", index=idx, **kw)
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, pre.collect()))
    # update == rebuild, exactly
    grown = emb.filter("vec_id < 450")
    rebuilt = binary_index(grown, "embedding", "vec_id")
    updated = update_binary_index(
        idx, emb.filter("vec_id >= 400 AND vec_id < 450"), "embedding", "vec_id")
    a = dedup_against_embedding(batch, "embedding", "vec_id", index=rebuilt, **kw)
    b = dedup_against_embedding(batch, "embedding", "vec_id", index=updated, **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert updated.n_docs == 450
    # save/load
    path = str(tmp_path / "binidx")
    save_binary_index(updated, path)
    loaded = load_binary_index(emb.sparkSession, path)
    assert loaded.n_words == updated.n_words and loaded.n_docs == 450
    assert index_artifacts.params(emb.sparkSession, path) == {
        "n_words": 2, "n_docs": 450, "dim": 64}
    assert index_artifacts.rows(loaded.frame) == index_artifacts.rows(
        updated.frame)
    c = dedup_against_embedding(batch, "embedding", "vec_id", index=loaded, **kw)
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, c.collect()))
    # an artifact saved before dim was recorded loads with dim=None: the
    # word-count guard still holds
    index_artifacts.drop_params(emb.sparkSession, path, "dim")
    old = load_binary_index(emb.sparkSession, path)
    assert (old.n_words, old.n_docs, old.dim) == (2, 450, None)
    c = dedup_against_embedding(batch, "embedding", "vec_id", index=old, **kw)
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, c.collect()))
    old.release()
    # guards
    with pytest.raises(ParameterException, match="BinaryIndex"):
        dedup_against_embedding(
            batch, "embedding", "vec_id", method="binary",
            index=ivf_index(ref.limit(40), "embedding", "vec_id",
                            num_centroids=4))
    with pytest.raises(ParameterException, match="fold the new"):
        dedup_against_embedding(
            batch, "embedding", "vec_id", reference=grown, index=idx, **kw)
    with pytest.raises(ParameterException, match="dim 32"):
        update_binary_index(
            idx, batch.withColumn("embedding", F.slice("embedding", 1, 32)),
            "embedding", "vec_id")
    for i_ in (idx, rebuilt, updated, loaded):
        i_.release()


def test_binary_n_words_and_dim_guards(emb, spark):
    """Round-9 review fixes: renderers REQUIRE explicit n_words (a silent
    default would truncate >64-dim corpora in the exported SQL); explicit
    n_words is validated against the data at execution; BinaryIndex
    records the exact build dim, so a same-word-count different-dim batch
    is rejected instead of silently inflating Hamming distances."""
    import rasgoql_spark as rql
    from rasgoql_spark.functions.similarity import (
        _r_binary_quantize,
        _r_dedup_against_embedding,
        _r_similarity_search_binary,
        binary_index,
        binary_quantize,
        similarity_search_binary,
        update_binary_index,
    )

    with pytest.raises(rql.TransformRenderingException, match="n_words"):
        _r_binary_quantize("t", "embedding")
    with pytest.raises(rql.TransformRenderingException, match="n_words"):
        _r_similarity_search_binary("t", "embedding", "vec_id", [0])
    with pytest.raises(rql.TransformRenderingException, match="n_words"):
        _r_dedup_against_embedding(
            "t", "embedding", "vec_id", reference="r", method="binary")
    with pytest.raises(ParameterException, match="mode must"):
        _r_dedup_against_embedding(
            "t", "embedding", "vec_id", reference="r", method="binary",
            mode="scores", n_words=2)
    with pytest.raises(ParameterException, match="max_hamming"):
        _r_dedup_against_embedding(
            "t", "embedding", "vec_id", reference="r", method="binary",
            max_hamming=-1, n_words=2)
    # execution-side n_words validation
    with pytest.raises(ParameterException, match="pack to 2 words"):
        binary_quantize(emb, "embedding", "vec_id", n_words=3)
    with pytest.raises(ParameterException, match="pack to 2 words"):
        similarity_search_binary(emb, "embedding", "vec_id", [0], n_words=5)
    # chain-level render with explicit n_words works end-to-end
    session = rql.RasgoSession(spark, data_dir="/root/testdata/sf0.001")
    chain = session.dataset("embeddings").binary_quantize(
        vec_col="embedding", id_col="vec_id", n_words=2)
    session.dataset("embeddings").df.createOrReplaceTempView("embeddings")
    a = sorted((r["vec_id"], tuple(r["SIGN_BITS"]))
               for r in chain.df.select("vec_id", "SIGN_BITS").collect())
    b = sorted((r["vec_id"], tuple(r["SIGN_BITS"]))
               for r in spark.sql(chain.sql()).select("vec_id", "SIGN_BITS").collect())
    assert a == b
    # exact-dim guard: a 48-dim batch also packs to 2 words but must be
    # rejected against a 64-dim index
    idx = binary_index(emb.filter("vec_id < 100"), "embedding", "vec_id")
    assert idx.dim == 64
    short = emb.filter("vec_id >= 480").withColumn(
        "embedding", F.slice("embedding", 1, 48))
    with pytest.raises(ParameterException, match="dim 48"):
        dedup_against_embedding(
            short, "embedding", "vec_id", index=idx, method="binary",
            mode="pairs").collect()
    with pytest.raises(ParameterException, match="dim 48"):
        update_binary_index(idx, short, "embedding", "vec_id")
    idx.release()
    # r10 advice fix: dedup_against_embedding now accepts n_words (the
    # renderer required it, so a chain could never both execute and
    # render binary dedup) and validates it like binary_quantize
    ref = emb.filter("vec_id < 100")
    batch = emb.filter("vec_id >= 480")
    with pytest.raises(ParameterException, match="pack to 2 words"):
        dedup_against_embedding(
            batch, "embedding", "vec_id", reference=ref, method="binary",
            n_words=5, mode="pairs")
    ok = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, method="binary",
        n_words=2, max_hamming=20, mode="pairs")
    same = dedup_against_embedding(
        batch, "embedding", "vec_id", reference=ref, method="binary",
        max_hamming=20, mode="pairs")
    assert sorted(map(tuple, ok.collect())) == sorted(
        map(tuple, same.collect()))
    # the right side's and binary_quantize's dims come from the first
    # non-NULL vector: a NULL first row used to raise TypeError
    from rasgoql_spark.functions.similarity import embedding_join_binary

    ref_rest = ref.filter("vec_id > 0")
    ref_null_first = ref.filter("vec_id = 0").withColumn(
        "embedding", F.when(F.lit(False), F.col("embedding"))
    ).unionByName(ref_rest)
    for run in (
        lambda r: embedding_join_binary(
            batch, "embedding", "vec_id", other=r, k=2, max_hamming=15),
        lambda r: dedup_against_embedding(
            batch, "embedding", "vec_id", reference=r, method="binary",
            max_hamming=20, mode="pairs"),
    ):
        assert sorted(map(tuple, run(ref_null_first).collect())) == sorted(
            map(tuple, run(ref_rest).collect()))
    packed = binary_quantize(ref_null_first, "embedding", "vec_id")
    assert packed.filter("vec_id = 0").first()["SIGN_BITS"] is None
    # r10 advice fix: binary_index aggregate-checks dim uniformity at its
    # one-time build (mixed dims would silently skew Hamming distances)
    mixed = ref.union(short.select(*ref.columns))
    with pytest.raises(ParameterException, match="mixed dimensions"):
        binary_index(mixed, "embedding", "vec_id")


def test_update_ivf_index_dim_guard(emb):
    """Symmetry with update_ivfpq_index's guard: a mismatched-dim batch
    would otherwise zip_with into NULL sims and a NULL centroid id —
    silently unsearchable rows, not an error."""
    from rasgoql_spark.functions.similarity import (
        ivf_index,
        update_ivf_index,
    )

    idx = ivf_index(emb.filter("vec_id < 100"), "embedding", "vec_id",
                    num_centroids=4)
    bad = emb.filter("vec_id >= 480").withColumn(
        "embedding", F.slice("embedding", 1, 16))
    with pytest.raises(ParameterException, match="dim 16"):
        update_ivf_index(idx, bad, "embedding", "vec_id")
    ok = update_ivf_index(
        idx, emb.filter("vec_id >= 480"), "embedding", "vec_id")
    assert ok.n_docs == 120
    idx.release()
    ok.release()
