"""Round-6 operator tests: n-gram containment pairs, IVF-accelerated
embedding join, and the IVF index lifecycle (save/load/update)."""

import pytest
from pyspark.sql import functions as F

import rasgoql_spark as rql

SF_DIR = "/root/testdata/sf0.001"


# -------------------------------------------------------- ngram_containment

@pytest.fixture()
def contain_docs(spark):
    short = "alpha beta gamma delta epsilon zeta eta theta"
    # the long doc CONTAINS the short doc's full token run -> containment of
    # short-in-long is 1.0 while Jaccard is low (long has many extra shingles)
    filler = " ".join(f"word{j} filler{j} extra{j}" for j in range(30))
    long_doc = filler + " " + short + " " + filler.replace("word", "tail")
    other = "completely unrelated content about distributed query engines"
    return spark.createDataFrame(
        [(1, short), (2, long_doc), (3, other)], ["doc_id", "text"]
    )


def test_containment_catches_doc_in_doc(contain_docs):
    out = rql.get_transform("ngram_containment").apply(
        contain_docs, text="text", id_col="doc_id", threshold=0.9)
    rows = {(r["ID_A"], r["ID_B"]): r for r in out.collect()}
    assert (1, 2) in rows, rows
    r = rows[(1, 2)]
    assert r["CONT_A_IN_B"] == 1.0          # short fully inside long
    assert r["CONT_B_IN_A"] < 0.2           # long not inside short
    # symmetric Jaccard on the same corpus misses the pair at any
    # moderate threshold — the reason this operator exists
    jac = rql.get_transform("dedup_minhash").apply(
        contain_docs, text="text", id_col="doc_id", threshold=0.5, mode="pairs").collect()
    assert all((p["ID_A"], p["ID_B"]) != (1, 2) for p in jac)


def test_containment_collapse_path_matches_plain(spark, monkeypatch):
    """Forcing the exact-dup collapse must not change results: duplicate
    copies inherit their rep's containments; intra-group pairs score 1.0."""
    import rasgoql_spark.functions.dedup as dd

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{j} filler{j}" for j in range(25))
    long_doc = filler + " " + short + " tail marker"
    rows = [(1, short), (2, long_doc), (3, short), (4, long_doc)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def run():
        out = rql.get_transform("ngram_containment").apply(
            df, text="text", id_col="doc_id", threshold=0.9)
        return {
            (r["ID_A"], r["ID_B"]): (r["CONT_A_IN_B"], r["CONT_B_IN_A"])
            for r in out.collect()
        }

    monkeypatch.setattr(dd, "COLLAPSE_MIN_GROUP", 10_000)  # plain path
    plain = run()
    monkeypatch.setattr(dd, "COLLAPSE_MIN_GROUP", -1)      # collapse path
    collapsed = run()
    assert plain == collapsed and plain
    assert plain[(1, 3)] == (1.0, 1.0)      # exact copies
    assert plain[(1, 2)][0] == 1.0          # inherited by every copy pair
    assert plain[(3, 4)][0] == 1.0          # swapped-orientation inheritance


def test_containment_empty_docs_never_pair(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "real content words here")], ["doc_id", "text"])
    out = rql.get_transform("ngram_containment").apply(
        df, text="text", id_col="doc_id", threshold=0.0).collect()
    # empty shingle sets share no posting -> never candidates (and their
    # containment is 0.0 by definition anyway)
    assert out == []


# ------------------------------------------------------- embedding_join_ivf

def test_embedding_join_ivf_full_probe_equals_brute(session):
    """nprobe == num_centroids probes every inverted list -> candidates =
    whole corpus -> results identical to the exact brute join (both round
    cosines to 6dp)."""
    emb = session.dataset("embeddings").df
    left = emb.filter("vec_id >= 250")
    right = emb.filter("vec_id < 250")
    ivf = rql.get_transform("embedding_join_ivf").apply(
        left, vec_col="embedding", id_col="vec_id", other=right, k=2,
        num_centroids=8, nprobe=8)
    brute = rql.get_transform("embedding_join").apply(
        left, other=right, vec_col="embedding", id_col="vec_id", k=2)
    key = lambda r: (r["vec_id"], r["RANK"], r["MATCH_ID"], r["COSINE"])  # noqa: E731
    assert sorted(map(key, ivf.select("vec_id", "RANK", "MATCH_ID", "COSINE").collect())) \
        == sorted(map(key, brute.select("vec_id", "RANK", "MATCH_ID", "COSINE").collect()))
    # left columns survive the join
    assert "embedding" in ivf.columns and "label" in ivf.columns


def test_embedding_join_ivf_index_path_identical(session):
    from rasgoql_spark.functions.similarity import ivf_index

    emb = session.dataset("embeddings").df
    left = emb.filter("vec_id >= 400")
    right = emb.filter("vec_id < 400")
    idx = ivf_index(right, "embedding", "vec_id", num_centroids=8)
    try:
        inline = rql.get_transform("embedding_join_ivf").apply(
            left, vec_col="embedding", id_col="vec_id", other=right, k=2,
            num_centroids=8, nprobe=4)
        via_idx = rql.get_transform("embedding_join_ivf").apply(
            left, vec_col="embedding", id_col="vec_id", k=2, nprobe=4,
            index=idx)
        key = lambda r: (r["vec_id"], r["RANK"], r["MATCH_ID"])  # noqa: E731
        assert sorted(map(key, inline.select("vec_id", "RANK", "MATCH_ID").collect())) \
            == sorted(map(key, via_idx.select("vec_id", "RANK", "MATCH_ID").collect()))
    finally:
        idx.release()


def test_embedding_join_ivf_validation(session):
    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.similarity import (
        dedup_against_embedding,
        embedding_join_ivf,
        ivf_index,
    )

    emb = session.dataset("embeddings").df
    with pytest.raises(ParameterException):
        rql.get_transform("embedding_join_ivf").apply(
            emb, vec_col="embedding", id_col="vec_id")  # no other, no index
    # a batch whose dim differs from the index's is an error, not k
    # NULL-COSINE matches (join) or a silently kept row (dedup filter)
    right = emb.filter("vec_id < 400")
    short = emb.filter("vec_id >= 400").withColumn(
        "embedding", F.slice("embedding", 1, 4))
    idx = ivf_index(right, "embedding", "vec_id", num_centroids=8)
    try:
        for run in (
            lambda: embedding_join_ivf(
                short, "embedding", "vec_id", other=right, num_centroids=8,
                nprobe=3),
            lambda: embedding_join_ivf(
                short, "embedding", "vec_id", other=right, num_centroids=8,
                nprobe=3, rounded=True),
            lambda: embedding_join_ivf(
                short, "embedding", "vec_id", nprobe=3, index=idx),
        ):
            with pytest.raises(ParameterException,
                               match="left vectors have dim 4 but the index "
                                     "covers dim 64"):
                run()
        for mode in ("pairs", "filter"):
            for kw in ({"reference": right, "num_centroids": 8},
                       {"index": idx}):
                with pytest.raises(ParameterException,
                                   match="batch vectors have dim 4 but the "
                                         "index covers dim 64"):
                    dedup_against_embedding(
                        short, "embedding", "vec_id", method="ivf",
                        nprobe=3, mode=mode, **kw)
    finally:
        idx.release()


# ------------------------------------------------- IVF index lifecycle

def test_ivf_index_save_load_roundtrip(session, tmp_path_factory,
                                      index_artifacts):
    from rasgoql_spark.functions.similarity import (
        ivf_index, load_ivf_index, save_ivf_index)

    emb = session.dataset("embeddings").df
    idx = ivf_index(emb, "embedding", "vec_id", num_centroids=8)
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    try:
        save_ivf_index(idx, path)
        loaded = load_ivf_index(session.spark, path)
        assert loaded.n_docs == idx.n_docs
        assert index_artifacts.params(session.spark, path) == {
            "n_docs": idx.n_docs}
        assert index_artifacts.rows(loaded.frame) == index_artifacts.rows(
            idx.frame.select("__id", "__nvec", "CENTROID_ID"))
        assert loaded.centroids == [
            (c, [float(x) for x in v]) for c, v in idx.centroids]
        a = rql.get_transform("similarity_search_ivf").apply(
            emb, vec_col="embedding", id_col="vec_id",
            query_ids=[0, 1], k=5, index=idx)
        b = rql.get_transform("similarity_search_ivf").apply(
            emb, vec_col="embedding", id_col="vec_id",
            query_ids=[0, 1], k=5, index=loaded)
        key = lambda r: (r["QUERY_ID"], r["RANK"], r["MATCH_ID"])  # noqa: E731
        assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))
        loaded.release()
    finally:
        idx.release()


def test_update_ivf_index_folds_batch_in(session):
    from rasgoql_spark.functions.similarity import ivf_index, update_ivf_index

    emb = session.dataset("embeddings").df
    old = emb.filter("vec_id < 300")
    batch = emb.filter("vec_id >= 300 AND vec_id < 350")
    idx = ivf_index(old, "embedding", "vec_id", num_centroids=8)
    n_old = idx.n_docs
    cents_before = [(c, list(v)) for c, v in idx.centroids]  # deep copy —
    # identity comparison against idx.centroids could never fail
    updated = update_ivf_index(idx, batch, "embedding", "vec_id")
    try:
        assert updated.n_docs == n_old + batch.count()
        assert [(c, list(v)) for c, v in updated.centroids] == cents_before
        # a batch vector queried against the updated index finds ITSELF's
        # exact duplicate region: search for a batch id must return hits,
        # and every batch id must be present exactly once in the frame
        frame_ids = updated.frame.groupBy("__id").count()
        assert frame_ids.filter("count > 1").count() == 0
        assert updated.frame.filter("__id >= 300 AND __id < 350").count() == 50
        hits = rql.get_transform("similarity_search_ivf").apply(
            emb, vec_col="embedding", id_col="vec_id",
            query_ids=[301], k=3, index=updated)
        assert hits.count() == 3
        # assignment of the batch agrees with assigning against the same
        # centroids from scratch (the no-re-fit contract)
        refit = update_ivf_index(idx, batch, "embedding", "vec_id")
        a = {(r["__id"], r["CENTROID_ID"])
             for r in updated.frame.filter("__id >= 300").collect()}
        b = {(r["__id"], r["CENTROID_ID"])
             for r in refit.frame.filter("__id >= 300").collect()}
        assert a == b
        refit.frame.unpersist()
    finally:
        updated.frame.unpersist()
        idx.release()


# -------------------------------------------- dedup_against_embedding

def test_dedup_against_embedding_brute(session):
    """Batch rows near-identical to a reference vector drop; pairs mode
    scores them; results match a hand-computed cosine check."""
    spark = session.spark
    ref = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(1, [0.999, 0.01, 0.0, 0.0]),   # ~ref 100
         (2, [0.0, 0.0, 1.0, 0.0]),      # novel
         (3, [0.02, 0.998, 0.0, 0.0])],  # ~ref 101
        "vec_id long, embedding array<double>")
    kept = rql.get_transform("dedup_against_embedding").apply(
        batch, vec_col="embedding", id_col="vec_id", reference=ref,
        threshold=0.99)
    assert {r["vec_id"] for r in kept.collect()} == {2}
    pairs = rql.get_transform("dedup_against_embedding").apply(
        batch, vec_col="embedding", id_col="vec_id", reference=ref,
        threshold=0.99, mode="pairs").collect()
    assert {(r["ID"], r["REF_ID"]) for r in pairs} == {(1, 100), (3, 101)}
    assert all(r["COSINE"] >= 0.99 for r in pairs)


def test_dedup_against_embedding_ivf_matches_brute_at_full_probe(session):
    """nprobe == num_centroids scans every inverted list -> the IVF path
    must reproduce the brute path exactly (same 6dp rounding)."""
    emb = session.dataset("embeddings").df
    batch = emb.filter("vec_id >= 450")
    ref = emb.filter("vec_id < 450")
    kw = dict(vec_col="embedding", id_col="vec_id", threshold=0.8)
    brute = rql.get_transform("dedup_against_embedding").apply(
        batch, reference=ref, method="brute", mode="pairs", **kw)
    ivf = rql.get_transform("dedup_against_embedding").apply(
        batch, reference=ref, method="ivf", mode="pairs",
        num_centroids=8, nprobe=8, **kw)
    key = lambda r: (r["ID"], r["REF_ID"], r["COSINE"])  # noqa: E731
    assert sorted(map(key, brute.collect())) == sorted(map(key, ivf.collect()))


def test_dedup_against_embedding_index_path_and_guards(session):
    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.similarity import ivf_index, update_ivf_index

    emb = session.dataset("embeddings").df
    batch = emb.filter("vec_id >= 450")
    ref = emb.filter("vec_id < 450")
    idx = ivf_index(ref, "embedding", "vec_id", num_centroids=8)
    try:
        inline = rql.get_transform("dedup_against_embedding").apply(
            batch, vec_col="embedding", id_col="vec_id", reference=ref,
            method="ivf", num_centroids=8, nprobe=4, threshold=0.8,
            mode="pairs")
        via_idx = rql.get_transform("dedup_against_embedding").apply(
            batch, vec_col="embedding", id_col="vec_id", index=idx,
            method="ivf", nprobe=4, threshold=0.8, mode="pairs")
        key = lambda r: (r["ID"], r["REF_ID"])  # noqa: E731
        assert sorted(map(key, inline.collect())) == sorted(map(key, via_idx.collect()))
        # stale-index fingerprint guard (reference no longer matches n_docs)
        with pytest.raises(ParameterException):
            rql.get_transform("dedup_against_embedding").apply(
                batch, vec_col="embedding", id_col="vec_id",
                reference=ref.limit(10), index=idx, method="ivf")
        # brute + index is a typed fail-fast (the dedup_against lesson)
        with pytest.raises(ParameterException):
            rql.get_transform("dedup_against_embedding").apply(
                batch, vec_col="embedding", id_col="vec_id",
                reference=ref, index=idx, method="brute")
        with pytest.raises(ParameterException):
            rql.get_transform("dedup_against_embedding").apply(
                batch, vec_col="embedding", id_col="vec_id",
                reference=ref, method="cosine-ish")
        # after folding the batch in, every batch vector self-matches
        updated = update_ivf_index(idx, batch, "embedding", "vec_id")
        kept = rql.get_transform("dedup_against_embedding").apply(
            batch, vec_col="embedding", id_col="vec_id", index=updated,
            method="ivf", nprobe=8, threshold=0.999999)
        assert kept.count() == 0  # all batch rows are now in the reference
        updated.frame.unpersist()
    finally:
        idx.release()


def test_containment_dominates_jaccard_on_real_corpus(session):
    """Mathematical invariant on the real documents table: J = |∩|/|∪| <=
    |∩|/|A| = containment (|A| <= |∪|), and both ops share the exact
    inverted-index candidate set — so Jaccard pairs at threshold t must be
    a strict subset of containment pairs at t, with max-containment >= J
    pairwise."""
    docs = session.dataset("documents").df
    thr = 0.3
    jac = {
        (r["ID_A"], r["ID_B"]): r["JACCARD"]
        for r in rql.get_transform("dedup_ngram_jaccard").apply(
            docs, text="text", id_col="doc_id", threshold=thr,
            mode="pairs").collect()
    }
    cont = {
        (r["ID_A"], r["ID_B"]): max(r["CONT_A_IN_B"], r["CONT_B_IN_A"])
        for r in rql.get_transform("ngram_containment").apply(
            docs, text="text", id_col="doc_id", threshold=thr).collect()
    }
    assert jac, "fixture must produce Jaccard pairs"
    assert set(jac) <= set(cont)
    for pair, j in jac.items():
        assert cont[pair] >= j - 1e-12, (pair, cont[pair], j)


# -------------------------------------------------- importance_sample

def test_importance_sample_weighted_and_deterministic(spark):
    df = spark.createDataFrame(
        [(i, 10.0 if i % 10 == 0 else 1.0) for i in range(1000)],
        "id long, w double")
    tr = rql.get_transform("importance_sample")
    a = {r["id"] for r in tr.apply(df, weight="w", id_col="id", n=100).collect()}
    b = {r["id"] for r in tr.apply(df, weight="w", id_col="id", n=100).collect()}
    assert a == b and len(a) == 100           # deterministic, exact size
    heavy = sum(1 for i in a if i % 10 == 0)
    # 100 heavy rows carry 10/19 of total weight; without-replacement the
    # expected heavy count is ~45; uniform sampling would give ~10
    assert 25 <= heavy <= 70, heavy
    # a different seed redraws
    c = {r["id"] for r in tr.apply(df, weight="w", id_col="id", n=100,
                                   seed="v2").collect()}
    assert c != a
    # null / non-positive weights are excluded (zero probability)
    df2 = spark.createDataFrame([(1, 0.0), (2, None), (3, -1.0), (4, 2.0)],
                                "id long, w double")
    assert [r["id"] for r in tr.apply(df2, weight="w", id_col="id", n=4)
            .collect()] == [4]
    with pytest.raises(rql.ParameterException):
        tr.apply(df, weight="w", id_col="id", n=0)


def test_importance_sample_plans_take_ordered(spark):
    df = spark.createDataFrame([(i, float(i + 1)) for i in range(100)],
                               "id long, w double")
    out = rql.get_transform("importance_sample").apply(
        df, weight="w", id_col="id", n=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan    # per-partition heaps, no sort
