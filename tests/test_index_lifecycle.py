"""The persisted-index lifecycle every reusable index shares
(``rasgoql_spark/functions/_index.py``): artifact saves that cannot
destroy the artifact a loaded index reads, and which frames an updated
index's ``release()`` frees."""

import pytest

from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions import bloom, cms, dedup, pq, similarity, sketch

E = ("embedding", "vec_id")
T = ("text", "doc_id")

# kind -> (input, build, update, save, load, saved frames, persisted frames)
CASES = {
    "ivf": (
        "vec", lambda r: similarity.ivf_index(r, *E, num_centroids=2),
        lambda i, b: similarity.update_ivf_index(i, b, *E),
        similarity.save_ivf_index, similarity.load_ivf_index,
        lambda i: [i.frame.select("__id", "__nvec", "CENTROID_ID")],
        lambda i: [i.frame],
    ),
    "binary": (
        "vec", lambda r: similarity.binary_index(r, *E),
        lambda i, b: similarity.update_binary_index(i, b, *E),
        similarity.save_binary_index, similarity.load_binary_index,
        lambda i: [i.frame], lambda i: [i.frame],
    ),
    "ivfpq": (
        "vec", lambda r: pq.ivfpq_index(r, *E, num_centroids=2, m=2,
                                        codebook_size=4, iterations=0),
        lambda i, b: pq.update_ivfpq_index(i, b, *E),
        pq.save_ivfpq_index, pq.load_ivfpq_index,
        lambda i: [i.frame], lambda i: [i.frame],
    ),
    "minhash": (
        "text", lambda r: dedup.minhash_index(r, *T),
        lambda i, b: dedup.update_minhash_index(i, b, *T),
        dedup.save_minhash_index, dedup.load_minhash_index,
        lambda i: [i.sig, i.bands_long], lambda i: [i.bands_long],
    ),
    "substring": (
        "text", lambda r: dedup.substring_index(r, *T, min_tokens=3),
        lambda i, b: dedup.update_substring_index(i, b, *T),
        dedup.save_substring_index, dedup.load_substring_index,
        lambda i: [i.inv, i.fpck, i.members],
        lambda i: [i.inv, i.fpck, i.members],
    ),
    "bloom": (
        "text", lambda r: bloom.bloom_index(r, "text", bits_log2=10),
        lambda i, b: bloom.update_bloom_index(i, b, "text"),
        bloom.save_bloom_index, bloom.load_bloom_index,
        lambda i: [i.bits, i.fps], lambda i: [i.bits, i.fps],
    ),
    "cms": (
        "text", lambda r: cms.cms_index(r, "text"),
        lambda i, b: cms.update_cms_index(i, b),
        cms.save_cms_index, cms.load_cms_index,
        lambda i: [i.sketches], lambda i: [i.sketches],
    ),
    "hll": (
        "text", lambda r: sketch.hll_index(r, "doc_id"),
        lambda i, b: sketch.update_hll_index(i, b),
        sketch.save_hll_index, sketch.load_hll_index,
        lambda i: [i.sketches], lambda i: [i.sketches],
    ),
}


@pytest.fixture(scope="module")
def inputs(spark):
    """(reference, batch) per input shape: two text documents plus one to
    fold in, eight 4-dim vectors plus two."""
    text = spark.createDataFrame(
        [(0, "the first accepted page about spark joins"),
         (1, "a second accepted page about broadcast hints")],
        "doc_id long, text string")
    text_new = spark.createDataFrame(
        [(2, "a third page folded in later on refresh")],
        "doc_id long, text string")
    vec = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5) + 0.5 for j in range(4)])
         for i in range(8)], "vec_id long, embedding array<double>")
    vec_new = spark.createDataFrame(
        [(i, [float((i * 5 + j) % 3) + 0.25 for j in range(4)])
         for i in range(8, 10)], "vec_id long, embedding array<double>")
    return {"text": (text, text_new), "vec": (vec, vec_new)}


@pytest.mark.parametrize("kind", sorted(CASES))
def test_saving_loaded_index_over_its_own_artifact_raises(
        spark, tmp_path, inputs, index_artifacts, kind):
    """A loaded index's frames read the artifact's own files. Saving it
    back to that path used to delete those files before the write read
    them (FILE_NOT_EXIST), leaving an artifact that no longer loaded
    (UNABLE_TO_INFER_SCHEMA). The save now raises before deleting
    anything, for persisted and unpersisted loads alike, and the artifact
    still loads unchanged. The refresh loop — load, update, save to the
    same path — still works, because an update materializes every frame
    the save writes."""
    source, build, update, save, load, saved, _ = CASES[kind]
    ref, batch = inputs[source]
    rows = index_artifacts.rows
    path = str(tmp_path / kind)
    built = build(ref)
    save(built, path)
    want = [rows(f) for f in saved(built)]
    built.release()
    for persist in (True, False):
        idx = load(spark, path, persist=persist)
        for target in (path, path + "/", "file:" + path):
            with pytest.raises(ParameterException, match="loaded from"):
                save(idx, target)
        idx.release()
        again = load(spark, path)
        assert [rows(f) for f in saved(again)] == want
        again.release()
        # expected refresh content, from an update that never saw the path
        twin = update(build(ref), batch)
        grown = [rows(f) for f in saved(twin)]
        twin.release()
        base = load(spark, path, persist=persist)
        upd = update(base, batch)
        save(upd, path)  # nothing reads upd's frames before this save
        upd.release()
        base.release()
        fresh = load(spark, path)
        assert [rows(f) for f in saved(fresh)] == grown
        fresh.release()
        built = build(ref)
        save(built, path)
        built.release()


@pytest.mark.parametrize("kind", sorted(CASES))
def test_updated_index_release_ownership(inputs, kind):
    """An update owns the frames it persisted. Releasing an updated IVF,
    IVF-PQ, Binary, Substring, CMS or HLL index leaves its base index
    cached; releasing an updated Bloom or MinHash index frees the whole
    increment chain, the base's frames included."""
    source, build, update, _, _, _, persisted = CASES[kind]
    ref, batch = inputs[source]
    base = build(ref)
    upd = update(base, batch)
    try:
        assert all(f.storageLevel.useMemory for f in persisted(base))
        upd.release()
        assert not any(f.storageLevel.useMemory for f in persisted(upd))
        chain = kind in ("bloom", "minhash")
        assert [f.storageLevel.useMemory for f in persisted(base)] == [
            not chain] * len(persisted(base))
    finally:
        base.release()
