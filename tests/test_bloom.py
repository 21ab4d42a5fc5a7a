"""Bloom-filter incremental dedup: exactness (bloom+confirm == plain
anti-join even with a tiny, collision-heavy filter), precomputed-bits reuse,
and the no-false-negatives guarantee."""

import pytest
from pyspark.sql import functions as F

import rasgoql_spark as rql
from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions.bloom import bloom_bits


def _docs(spark, n=60):
    rows = [(i, f"document body number {i % 20} with shared tail") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bloom_matches_exact_anti_join(spark):
    df = _docs(spark)
    ref = df.filter("doc_id % 4 = 0")
    bloom = rql.get_transform("dedup_against_bloom").apply(
        df, text="text", id_col="doc_id", reference=ref, bits_log2=14
    )
    exact = rql.get_transform("dedup_against").apply(
        df, text="text", id_col="doc_id", reference=ref, method="exact"
    )
    assert sorted(r["doc_id"] for r in bloom.collect()) == sorted(
        r["doc_id"] for r in exact.collect()
    )


def test_bloom_tiny_filter_still_exact(spark):
    """2^8 bits over 20 distinct fingerprints x 3 hashes -> heavy
    false-positive traffic; the exact confirm must absorb all of it."""
    df = _docs(spark, 200)
    ref = df.filter("doc_id < 40")
    bloom = rql.get_transform("dedup_against_bloom").apply(
        df, text="text", id_col="doc_id", reference=ref, bits_log2=8
    )
    exact = rql.get_transform("dedup_against").apply(
        df, text="text", id_col="doc_id", reference=ref, method="exact"
    )
    assert sorted(r["doc_id"] for r in bloom.collect()) == sorted(
        r["doc_id"] for r in exact.collect()
    )


def test_bloom_precomputed_bits_reused_across_batches(spark):
    """The production shape: build the bit table once over the accepted
    corpus, feed it to every batch."""
    ref = _docs(spark, 40)
    bits = bloom_bits(ref, "text", bits_log2=12, num_hashes=3)
    assert bits.columns == ["BIT"]
    n_bits = bits.count()
    assert 0 < n_bits <= 20 * 3  # <= distinct fps x hashes

    batch = _docs(spark, 100).filter("doc_id >= 40")
    out = rql.get_transform("dedup_against_bloom").apply(
        batch, text="text", id_col="doc_id", reference=ref, bits_log2=12, bits=bits
    )
    # every batch doc's normalized content exists in ref (texts cycle mod 20)
    assert out.count() == 0


def test_bloom_clean_batch_passes_through(spark):
    ref = spark.createDataFrame(
        [(i, f"reference only {i}") for i in range(30)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(i, f"fresh crawl page {i}") for i in range(30)], "doc_id long, text string"
    )
    out = rql.get_transform("dedup_against_bloom").apply(
        batch, text="text", id_col="doc_id", reference=ref, bits_log2=16
    )
    assert out.count() == 30


def test_bloom_param_validation(spark):
    df = _docs(spark, 5)
    with pytest.raises(ParameterException):
        bloom_bits(df, "text", bits_log2=4)
    with pytest.raises(ParameterException):
        bloom_bits(df, "text", num_hashes=0)


def test_bloom_index_matches_inline_and_validates(spark):
    from rasgoql_spark.functions.bloom import bloom_index

    df = _docs(spark, 120)
    ref = df.filter("doc_id % 3 = 0")
    idx = bloom_index(ref, "text", bits_log2=12, num_hashes=3)
    try:
        with_idx = rql.get_transform("dedup_against_bloom").apply(
            df, text="text", id_col="doc_id", reference=ref,
            bits_log2=12, index=idx)
        inline = rql.get_transform("dedup_against_bloom").apply(
            df, text="text", id_col="doc_id", reference=ref, bits_log2=12)
        assert sorted(r["doc_id"] for r in with_idx.collect()) == sorted(
            r["doc_id"] for r in inline.collect())
        with pytest.raises(ParameterException):
            rql.get_transform("dedup_against_bloom").apply(
                df, text="text", id_col="doc_id", reference=ref,
                bits_log2=16, index=idx)  # parameter mismatch
    finally:
        idx.release()


def test_bloom_index_save_load_roundtrip(spark, tmp_path, index_artifacts):
    from rasgoql_spark.functions.bloom import (
        bloom_index, load_bloom_index, save_bloom_index)

    df = _docs(spark, 90)
    ref = df.filter("doc_id % 4 = 0")
    idx = bloom_index(ref, "text", bits_log2=12, num_hashes=3)
    path = save_bloom_index(idx, str(tmp_path / "bloomidx"))
    rows = index_artifacts.rows
    want = [rows(idx.bits), rows(idx.fps)]
    idx.release()

    loaded = load_bloom_index(spark, path)
    try:
        assert (loaded.bits_log2, loaded.num_hashes) == (12, 3)
        assert index_artifacts.params(spark, path) == {
            "bits_log2": 12, "num_hashes": 3, "n_docs": ref.count()}
        assert [rows(loaded.bits), rows(loaded.fps)] == want
        # an artifact saved before the n_docs fingerprint loads without it
        index_artifacts.drop_params(spark, path, "n_docs")
        old = load_bloom_index(spark, path)
        assert (old.bits_log2, old.num_hashes, old.n_docs) == (12, 3, None)
        old.release()
        out = rql.get_transform("dedup_against_bloom").apply(
            df, text="text", id_col="doc_id", reference=ref,
            bits_log2=12, index=loaded)
        exact = rql.get_transform("dedup_against").apply(
            df, text="text", id_col="doc_id", reference=ref, method="exact")
        assert sorted(r["doc_id"] for r in out.collect()) == sorted(
            r["doc_id"] for r in exact.collect())
    finally:
        loaded.release()


def test_update_bloom_index_matches_rebuild(spark):
    """Bloom update is a set-union: updated index must equal a full
    rebuild exactly (bits, fps, and dedup results)."""
    from rasgoql_spark.functions.bloom import (
        bloom_index, dedup_against_bloom, update_bloom_index)

    ref = spark.createDataFrame(
        [(0, "accepted page one"), (1, "accepted page two")],
        "doc_id long, text string")
    newly = spark.createDataFrame(
        [(10, "newly accepted page three"), (11, "accepted page one")],
        "doc_id long, text string")
    full = ref.unionByName(newly)
    upd = update_bloom_index(bloom_index(ref, "text"), newly, "text")
    reb = bloom_index(full, "text")
    try:
        assert sorted(r["BIT"] for r in upd.bits.collect()) == \
               sorted(r["BIT"] for r in reb.bits.collect())
        batch = spark.createDataFrame(
            [(90, "newly accepted page three"), (91, "novel content")],
            "doc_id long, text string")
        k_upd = {r["doc_id"] for r in dedup_against_bloom(
            batch, "text", "doc_id", index=upd).collect()}
        k_reb = {r["doc_id"] for r in dedup_against_bloom(
            batch, "text", "doc_id", index=reb).collect()}
        assert k_upd == k_reb == {91}
    finally:
        upd.release()
        reb.release()
