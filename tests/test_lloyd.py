"""The one Lloyd loop (functions/cluster.lloyd_fit): the fused IVF-PQ
build equals its two fits run one after the other, each contract's rule
for an emptied cluster, and the construction jobs of every fit's callers."""

import itertools
import math

import pytest

from rasgoql_spark.functions._cache import release_now
from rasgoql_spark.functions.cluster import (
    Lloyd, _unit_corpus, kmeans_cluster, lloyd_fit)
from rasgoql_spark.functions.pq import ivfpq_index, pq_encode, pq_search
from rasgoql_spark.functions.similarity import ivf_index

DIM = 16


def _vec(i):
    return [math.sin((i + 1) * (j + 3) * 0.37) + (0.5 if j == i % DIM else 0.0)
            for j in range(DIM)]


@pytest.fixture(scope="module")
def corpus(spark):
    """400 x 16 vectors, ids 0..399."""
    return spark.createDataFrame(
        [(i, _vec(i)) for i in range(400)], "vec_id bigint, embedding array<double>"
    )


@pytest.fixture(scope="module")
def dup_seeds(spark):
    """The three lowest ids hold one identical vector: with k=3 the seeds
    coincide, every row ties to centroid 0 and clusters 1 and 2 empty."""
    same = _vec(0)
    return spark.createDataFrame(
        [(i, same if i < 3 else _vec(i)) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs it ran)``, counted by job group."""
    sc = spark.sparkContext
    group = f"lloyd-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, "construction jobs")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_fused_ivfpq_build_equals_sequential_fits(corpus):
    kw = dict(num_centroids=5, m=4, codebook_size=6, round_to=6)
    idx = ivfpq_index(corpus, "embedding", "vec_id", coarse_iterations=1,
                      iterations=2, **kw)
    cached = _unit_corpus(corpus, "embedding", "vec_id")
    try:
        (cents,) = lloyd_fit(Lloyd(cached, 5, 1, 6))
        (books,) = lloyd_fit(Lloyd(cached, 6, 2, 6, m=4, d_sub=DIM // 4))
    finally:
        release_now(cached)
    idx.release()
    assert idx.centroids == cents
    assert idx.books == books


def test_empty_cluster_rule_per_contract(dup_seeds):
    idx = ivfpq_index(dup_seeds, "embedding", "vec_id", num_centroids=3,
                      coarse_iterations=1, m=2, codebook_size=3, iterations=1)
    # rounded spherical and PQ keep an emptied centroid
    assert [c for c, _ in idx.centroids] == [0, 1, 2]
    assert [[c for c, _ in book] for book in idx.books] == [[0, 1, 2]] * 2
    idx.release()
    # the unrounded IVF fit drops it
    flat = ivf_index(dup_seeds, "embedding", "vec_id", num_centroids=3,
                     iterations=1)
    assert [c for c, _ in flat.centroids] == [0]
    flat.release()


@pytest.mark.parametrize("iterations,jobs", [(1, 3), (2, 5)])
def test_kmeans_construction_jobs(spark, corpus, iterations, jobs):
    _, n = _jobs(spark, lambda: kmeans_cluster(
        corpus, "embedding", "vec_id", k=8, iterations=iterations))
    assert n == jobs


@pytest.mark.parametrize("ci,pi,residual,jobs", [
    (1, 1, False, 7), (2, 1, False, 9), (1, 3, False, 11), (1, 1, True, 9),
])
def test_ivfpq_construction_jobs(spark, corpus, ci, pi, residual, jobs):
    idx, n = _jobs(spark, lambda: ivfpq_index(
        corpus, "embedding", "vec_id", num_centroids=8, coarse_iterations=ci,
        m=4, codebook_size=8, iterations=pi, residual=residual))
    idx.release()
    assert n == jobs


@pytest.mark.parametrize("kw,jobs", [
    ({}, 9), ({"num_centroids": 8, "iterations": 2}, 8),
])
def test_ivf_construction_jobs(spark, corpus, kw, jobs):
    idx, n = _jobs(spark, lambda: ivf_index(corpus, "embedding", "vec_id", **kw))
    idx.release()
    assert n == jobs


@pytest.mark.parametrize("iterations,jobs", [(0, 1), (1, 3), (2, 5)])
def test_pq_encode_reads_dim_from_the_seed_collect(spark, corpus, iterations, jobs):
    """One job fewer than a separate dimension probe before the seeds."""
    _, n = _jobs(spark, lambda: pq_encode(
        corpus, "embedding", "vec_id", m=4, codebook_size=8,
        iterations=iterations))
    assert n == jobs


def test_pq_search_reads_dim_from_the_seed_collect(spark, corpus):
    _, n = _jobs(spark, lambda: pq_search(
        corpus, "embedding", "vec_id", [0, 1], k=5, m=4, codebook_size=8,
        iterations=1))
    assert n == 4
