"""The shared near-duplicate pipeline (functions/dedup.py module docstring)
and the shared filter step (functions/_filter.py): parameter checks run
before any Spark job or cache, every operator on the pipeline returns the
same rows whatever the shuffle partitioning, and every filter-mode
operator caches a mid-chain input once and frees it with its result."""

import gc

import pytest
from pyspark.sql import functions as F

import rasgoql_spark as rql
from rasgoql_spark.errors import ParameterException


def _persisted_ids(sc):
    gc.collect()
    return {int(k) for k in sc._jsc.getPersistentRDDs().keys()}


_VEC_OPS = ("dedup_embedding", "decontaminate_embedding", "dedup_against_embedding")


@pytest.mark.parametrize("transform", [
    "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard", "dedup_embedding",
    "decontaminate", "decontaminate_embedding", "dedup_against",
    "dedup_against_embedding", "dedup_substring", "dedup_against_substring",
])
def test_bad_mode_raises_before_any_job_or_cache(spark, transform):
    """An unknown mode must be rejected up front: no Spark job runs and no
    signature table is left persisted (it used to run the collapse guard's
    jobs first and leak the cache it had pinned)."""
    sc = spark.sparkContext
    if transform in _VEC_OPS:
        df = spark.createDataFrame(
            [(i, [float(i), 1.0, 0.5]) for i in range(5)], "vec_id long, embedding array<float>")
        kw = {"vec_col": "embedding", "id_col": "vec_id"}
    else:
        df = spark.createDataFrame(
            [(i, f"alpha beta gamma delta doc{i % 2}") for i in range(5)], ["doc_id", "text"])
        kw = {"text": "text", "id_col": "doc_id"}
    if transform.startswith("decontaminate"):
        kw["eval_table"] = df
    elif transform.startswith("dedup_against"):
        kw["reference"] = df
    before = _persisted_ids(sc)
    group = f"bad-mode-{transform}"
    sc.setJobGroup(group, "bad mode must not run jobs")
    try:
        with pytest.raises(ParameterException, match="mode must be"):
            rql.get_transform(transform).apply(df, mode="bogus", **kw)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert _persisted_ids(sc) - before == set()


def _docs(spark, session):
    """The test documents plus planted exact copies (one group above
    COLLAPSE_MIN_GROUP), near copies and empty texts, so every stage of
    the pipeline has rows to get wrong."""
    docs = session.dataset("documents").df.select("doc_id", "text")
    copies = docs.filter("doc_id < 30").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = docs.filter("doc_id < 30").select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" tail words")).alias("text"))
    hot = spark.range(20).select((F.col("id") + 300000).alias("doc_id")).crossJoin(
        docs.filter("doc_id = 3").select("text"))
    empty = spark.createDataFrame([(400001, ""), (400002, "...")], "doc_id long, text string")
    return docs.unionByName(copies).unionByName(near).unionByName(hot).unionByName(empty)


# the planted 20-copy group exceeds COLLAPSE_MIN_GROUP, so every operator
# takes the collapse path; the plain path is forced for ngram_containment
# (COLLAPSE_MIN_GROUP 10,000), whose expansion is the one that swaps scores
_RUNS = [
    ("dedup_minhash", {"threshold": 0.3, "mode": "pairs"}, None),
    ("dedup_minhash", {"threshold": 0.3, "mode": "edges"}, None),
    ("dedup_minhash", {"threshold": 0.3, "mode": "filter"}, None),
    ("minhash_similarity", {"min_est": 0.25}, None),
    ("dedup_ngram_jaccard", {"threshold": 0.3, "max_doc_freq": 4}, None),
    ("ngram_containment", {"threshold": 0.5, "max_doc_freq": 4}, None),
    ("ngram_containment", {"threshold": 0.5, "max_doc_freq": 4}, 10_000),
    ("dedup_simhash", {"mode": "pairs"}, None),
    ("dedup_winnow", {"threshold": 0.5}, None),
]


def test_near_dup_family_is_partition_invariant(spark, session, monkeypatch):
    """ROADMAP 4(a): the merged operators return identical rows at
    spark.sql.shuffle.partitions 1, 7 and 32 and with AQE off, on both
    collapse paths."""
    import rasgoql_spark.functions.dedup as dd

    df = _docs(spark, session)
    settings = [
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.shuffle.partitions": "7"},
        {"spark.sql.shuffle.partitions": "32"},
        {"spark.sql.adaptive.enabled": "false"},
    ]
    default_group = dd.COLLAPSE_MIN_GROUP

    def results():
        out = {}
        for n, (name, kw, group) in enumerate(_RUNS):
            monkeypatch.setattr(dd, "COLLAPSE_MIN_GROUP", group or default_group)
            frame = rql.get_transform(name).apply(df, text="text", id_col="doc_id", **kw)
            out[n] = sorted(tuple(r) for r in frame.collect())
        return out

    base = results()
    assert all(base.values()), [_RUNS[n] for n, v in base.items() if not v]
    for conf in settings:
        saved = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            got = results()
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        for n, rows in base.items():
            assert got[n] == rows, (conf, _RUNS[n])


@pytest.mark.parametrize("transform, kw", [
    ("near_dup_clusters", {}),
    ("dedup_by_cluster", {}),
    ("dedup_soft", {}),
    ("dedup_keep_best", {"score_col": "score"}),
])
def test_cluster_family_persists_a_mid_chain_input(spark, session, transform, kw):
    """The cluster operators read their input again after the clustering's
    eager jobs. A mid-chain input (an aggregate upstream) is persisted once,
    at the outermost operator, cached while the result is alive and freed
    with it; the rows equal the scan-rooted run's."""
    from pyspark import StorageLevel

    from rasgoql_spark.functions import _cache

    docs = session.dataset("documents").df.select(
        "doc_id", "text", F.length("text").alias("score"))
    mid = docs.groupBy("doc_id", "text", "score").count().drop("count")
    op = rql.get_transform(transform)
    want = sorted(tuple(r) for r in op.apply(
        docs, text="text", id_col="doc_id", threshold=0.3, **kw).collect())
    out = op.apply(mid, text="text", id_col="doc_id", threshold=0.3, **kw)
    assert sorted(tuple(r) for r in out.collect()) == want
    assert mid.storageLevel != StorageLevel.NONE
    assert _cache._ENTRIES[mid.semanticHash()][0] == 1
    del out
    gc.collect()
    assert mid.storageLevel == StorageLevel.NONE


def _filter_case(session, case):
    """``(input, kwargs)`` of one filter-mode operator run over the test
    documents or embeddings, against a reference sharing part of them."""
    docs = session.dataset("documents").df.select("doc_id", "text")
    emb = session.dataset("embeddings").df.select("vec_id", "embedding")
    ref_docs = docs.filter("doc_id < 100").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text")
    ref_emb = emb.filter("vec_id < 100").select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    text = {"text": "text", "id_col": "doc_id"}
    vec = {"vec_col": "embedding", "id_col": "vec_id"}
    name, _, method = case.partition("-")
    kw = {
        "decontaminate": dict(text, eval_table=docs.filter("doc_id < 20").select("text"),
                              ngram=3, mode="filter"),
        "decontaminate_embedding": dict(
            vec, eval_table=emb.filter("vec_id < 20").select("embedding"), mode="filter"),
        "dedup_against": dict(text, reference=ref_docs, method="exact"),
        "dedup_substring": dict(text, min_tokens=8, mode="filter"),
        "dedup_against_substring": dict(text, reference=ref_docs, min_tokens=8),
        "dedup_against_bloom": dict(text, reference=ref_docs, bits_log2=12),
        "semantic_dedup": dict(vec, k=8),
        "dedup_against_embedding": dict(vec, reference=ref_emb, method=method,
                                        num_centroids=4),
    }[name]
    return (emb if "vec_col" in kw else docs), name, kw


@pytest.mark.parametrize("case", [
    "decontaminate", "decontaminate_embedding", "dedup_against", "dedup_substring",
    "dedup_against_substring", "dedup_against_bloom", "semantic_dedup",
    "dedup_against_embedding-brute", "dedup_against_embedding-ivf",
    "dedup_against_embedding-ivfpq", "dedup_against_embedding-binary",
])
def test_filter_mode_persists_a_mid_chain_input(spark, session, case):
    """Every filter-mode operator reads its input twice (the scoring and
    the drop), with eager jobs in between for most. Through the shared
    filter step (functions/_filter.py) a mid-chain input is persisted
    once, cached while the result is alive and freed with it; the rows
    equal the scan-rooted run's."""
    from pyspark import StorageLevel

    from rasgoql_spark.functions import _cache

    frame, name, kw = _filter_case(session, case)
    mid = frame.groupBy(*frame.columns).count().drop("count")
    op = rql.get_transform(name)
    want = sorted(tuple(r) for r in op.apply(frame, **kw).collect())
    out = op.apply(mid, **kw)
    assert sorted(tuple(r) for r in out.collect()) == want
    assert mid.storageLevel != StorageLevel.NONE
    assert _cache._ENTRIES[mid.semanticHash()][0] == 1
    del out
    gc.collect()
    assert mid.storageLevel == StorageLevel.NONE


@pytest.mark.parametrize("method", ["ivf", "ivfpq"])
def test_rejected_batch_frees_the_inline_index(spark, session, method):
    """dedup_against_embedding builds an inline index before its batch dim
    guard runs; when the guard rejects the batch, the index cache and the
    pinned mid-chain input are both freed (the index cache used to stay
    persisted)."""
    sc = spark.sparkContext
    emb = session.dataset("embeddings").df.select("vec_id", "embedding")
    bad = emb.filter("vec_id >= 100").withColumn("embedding", F.slice("embedding", 1, 16))
    mid = bad.groupBy("vec_id", "embedding").count().drop("count")
    for batch in (bad, mid):
        before = _persisted_ids(sc)
        with pytest.raises(ParameterException, match="dim 16"):
            rql.get_transform("dedup_against_embedding").apply(
                batch, vec_col="embedding", id_col="vec_id",
                reference=emb.filter("vec_id < 100"), method=method, num_centroids=4)
        assert _persisted_ids(sc) - before == set()
