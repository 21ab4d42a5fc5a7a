"""LLM-pipeline operator tests: dedup finds planted near-dups, similarity
ranks a vector's neighbor first, multimodal plumbing preserves schema/batch."""

import pytest
from pyspark.sql import functions as F

import rasgoql_spark as rql


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = base + " tonight"                     # near-duplicate of base
    other = "completely different content about spark query engines and shuffles"
    rows = [(1, base), (2, near), (3, other), (4, "short text"), (5, base)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keeps_min_id(docs):
    out = rql.get_transform("dedup_exact").apply(docs, text="text", id_col="doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 5 not in ids          # 5 is an exact dup of 1
    assert ids == {1, 2, 3, 4}


def test_dedup_minhash_finds_planted_pair(docs):
    pairs = rql.get_transform("dedup_minhash").apply(
        docs, text="text", id_col="doc_id", threshold=0.5).collect()
    got = {(r["ID_A"], r["ID_B"]) for r in pairs}
    assert (1, 2) in got and (1, 5) in got    # near-dup and exact dup
    assert all(r["JACCARD"] >= 0.5 for r in pairs)


def test_dedup_minhash_filter_mode(docs):
    out = rql.get_transform("dedup_minhash").apply(
        docs, text="text", id_col="doc_id", threshold=0.5, mode="filter")
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids and 5 not in ids and 3 in ids


def test_dedup_simhash_near_dup_low_hamming(docs):
    pairs = rql.get_transform("dedup_simhash").apply(
        docs, text="text", id_col="doc_id", hamming_threshold=8).collect()
    got = {(r["ID_A"], r["ID_B"]): r["HAMMING"] for r in pairs}
    assert got.get((1, 5)) == 0               # identical text → identical signature
    assert (1, 2) in got


def test_dedup_ngram_jaccard(docs):
    pairs = rql.get_transform("dedup_ngram_jaccard").apply(
        docs, text="text", id_col="doc_id", threshold=0.5).collect()
    got = {(r["ID_A"], r["ID_B"]) for r in pairs}
    assert (1, 5) in got and (1, 2) in got and (1, 3) not in got


def test_similarity_search_finds_nearest(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(20, 8)).astype("float32")
    vecs[1] = vecs[0] + rng.normal(scale=0.01, size=8).astype("float32")  # planted NN
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = rql.get_transform("similarity_search").apply(
        df, vec_col="embedding", id_col="vec_id", query_ids=[0], k=3).collect()
    by_rank = {r["RANK"]: r for r in out}
    assert by_rank[1]["MATCH_ID"] == 1 and by_rank[1]["COSINE"] > 0.99
    assert len(out) == 3 and all(r["QUERY_ID"] == 0 for r in out)


def test_dedup_embedding_brute_vs_lsh_recall(session):
    emb = session.dataset("embeddings")
    brute = emb.dedup_embedding(vec_col="embedding", id_col="vec_id",
                                threshold=0.35, method="brute").df.count()
    lsh = emb.dedup_embedding(vec_col="embedding", id_col="vec_id",
                              threshold=0.35, method="lsh").df.count()
    assert brute > 0
    assert 0 < lsh <= brute                    # LSH is a subset (approximate recall)


def test_text_quality_ranges(session):
    out = session.dataset("documents").text_quality(text="text").df
    row = out.agg(F.min("QUALITY_SCORE"), F.max("QUALITY_SCORE"),
                  F.min("ALPHA_RATIO"), F.max("ALPHA_RATIO")).collect()[0]
    assert 0.0 <= row[0] and row[1] <= 1.0 and 0.0 <= row[2] and row[3] <= 1.0


def test_language_id_majority_en(session):
    out = session.dataset("documents").language_id(text="text").df
    en = out.filter("LANG_PRED = 'en'").count()
    assert en > out.count() * 0.5              # corpus is english word soup


def test_language_id_model_beats_heuristic_on_multilingual_fixture(spark):
    """Round 13: the trainable hashed char-trigram NB path must match or
    beat the stopword heuristic on a held-out multilingual fixture —
    including sentences with NO stopword hits, where the heuristic can
    only answer 'unknown' but char trigrams still carry the signal."""
    from rasgoql_spark.functions.text import language_id

    train_rows = [
        ("the cat sat on the mat and it was happy for hours", "en"),
        ("a quick brown fox jumps over that lazy sleeping dog", "en"),
        ("it is raining today and the streets of the town are wet", "en"),
        ("el perro corre en la casa y los gatos duermen alli", "es"),
        ("la escuela de los ninos esta cerca del mercado grande", "es"),
        ("que bonito dia hace hoy en las playas del sur", "es"),
        ("le chien est dans la maison et les chats dorment", "fr"),
        ("les enfants jouent dans le jardin pour une heure", "fr"),
        ("je voudrais une tasse du cafe dans ce petit bistro", "fr"),
        ("der hund ist in dem haus und die katzen schlafen", "de"),
        ("die kinder spielen im garten mit den kleinen vogeln", "de"),
        ("ich moechte heute zu dem grossen markt in der stadt", "de"),
    ]
    test_rows = [
        (1, "the weather was lovely and it made everyone happy", "en"),
        (2, "quick foxes jump over lazy dogs near green hills", "en"),
        (3, "los perros grandes corren por las calles del pueblo", "es"),
        (4, "ninos y gatos duermen cuando hace calor alli", "es"),
        (5, "les chiens dorment dans une petite maison du village", "fr"),
        (6, "je joue avec ce chat pour une heure dans ce jardin", "fr"),
        (7, "die grossen hunde schlafen im kleinen haus", "de"),
        (8, "ich spiele mit dem vogel in dem garten der stadt", "de"),
    ]
    train = spark.createDataFrame(train_rows, "text STRING, lang STRING")
    test = spark.createDataFrame(test_rows, "id BIGINT, text STRING, lang STRING")

    def acc(df, col):
        rows = df.collect()
        return sum(1 for r in rows if r[col] == r["lang"]) / len(rows)

    a_model = acc(language_id(test, "text", name="P", method="model",
                              id_col="id", train=train, train_label="lang"),
                  "P")
    a_heur = acc(language_id(test, "text", name="P"), "P")
    assert a_model >= a_heur
    assert a_model >= 0.85


def test_language_id_model_bootstrap_and_empty_doc_fallback(spark):
    """train=None bootstraps labels from the heuristic's confident rows;
    zero-ngram docs fall back to the prior-only argmax (never NULL)."""
    from rasgoql_spark.functions.text import language_id

    rows = [
        (1, "the cat and the dog sat in the house for the day", "en"),
        (2, "the children played in the park and it was fun", "en"),
        (3, "el perro y el gato duermen en la casa del pueblo", "es"),
        (4, "los ninos juegan en el parque y se divierten", "es"),
        (5, "", None),
        (6, "12345 67890 !!!", None),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING, lang STRING")
    out = language_id(df, "text", name="LP", method="model", id_col="id")
    got = {r["id"]: (r["LP"], r["LP_SCORE"]) for r in out.collect()}
    assert got[1][0] == "en" and got[3][0] == "es"
    # empty / letterless docs get the prior-only fallback, deterministic
    assert got[5][0] is not None and got[6][0] is not None
    assert got[5] == got[6]


def test_language_id_model_validation(spark):
    from rasgoql_spark.functions.text import language_id

    df = spark.createDataFrame([(1, "abc")], "id BIGINT, text STRING")
    with pytest.raises(rql.ParameterException):
        language_id(df, "text", method="model")          # id_col required
    with pytest.raises(rql.ParameterException):
        language_id(df, "text", method="nope")
    with pytest.raises(rql.ParameterException):
        language_id(df, "text", method="model", id_col="id",
                    train=df, train_text="text")         # train_label required


def test_binary_meta_and_image_stub_schema(session):
    chain = (session.dataset("documents")
             .attach_binary(source_col="text", name="CONTENT"))
    meta = chain.binary_meta(binary_col="CONTENT").df
    assert {"BYTE_LENGTH", "CONTENT_MD5", "MAGIC_PREFIX"} <= set(meta.columns)
    img = chain.image_meta(binary_col="CONTENT", id_col="doc_id").df
    assert [f.name for f in img.schema.fields] == [
        "DOC_ID", "WIDTH", "HEIGHT", "MODE", "DECODER"]
    sample = img.limit(5).collect()
    assert all(1 <= r["WIDTH"] <= 640 and r["DECODER"] == "stub" for r in sample)


def test_image_stub_error_mode(session):
    img = (session.dataset("documents")
           .attach_binary(source_col="text", name="CONTENT")
           .image_meta(binary_col="CONTENT", id_col="doc_id", fake="error").df)
    with pytest.raises(Exception, match="NotImplementedError|image decoding"):
        img.collect()


def test_frame_sample_fanout(session):
    out = (session.dataset("documents")
           .attach_binary(source_col="text", name="CONTENT")
           .frame_sample(binary_col="CONTENT", id_col="doc_id", num_frames=3).df)
    per_doc = out.groupBy("DOC_ID").count().agg(F.max("count")).collect()[0][0]
    assert per_doc == 3


def test_scoped_caches_released_on_gc(spark, session):
    import gc
    import time

    sc = spark.sparkContext

    def persisted_ids() -> set:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    def settle_until_gone(owned: set) -> set:
        # finalizer-driven unpersists may need more than one collection
        # round to drain — generations, resurrection queues, and the
        # JVM-side async unpersist all add latency (seconds, when the
        # machine is loaded). Track the SPECIFIC RDD ids this test created:
        # global counts flake because OTHER tests' lingering finalizers
        # drain their own frames concurrently (observed as `11 > 13`
        # failures under the full suite).
        deadline = time.time() + 15.0
        while True:
            gc.collect()
            still = persisted_ids() & owned
            if not still or time.time() > deadline:
                return still
            time.sleep(0.2)  # don't busy-spin gc + py4j while draining

    before = persisted_ids()
    docs = session.dataset("documents").df.limit(150)
    out = rql.get_transform("dedup_minhash").apply(
        docs, text="text", id_col="doc_id", threshold=0.2)
    out.count()
    owned = persisted_ids() - before
    assert owned  # cache active while result alive
    del out
    assert settle_until_gone(owned) == set()  # released with the result

    emb = session.dataset("embeddings").df
    out2 = rql.get_transform("similarity_search_ivf").apply(
        emb, vec_col="embedding", id_col="vec_id", query_ids=[0, 1], k=3)
    out2.count()
    owned2 = persisted_ids() - before
    del out2
    assert settle_until_gone(owned2) == set()


def _png_bytes(w, h, color_type=6):
    return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, color_type, 0, 0, 0]))


def _jpeg_bytes(w, h, ncomp=3):
    sof = b"\xff\xc0" + (8 + 3 * ncomp).to_bytes(2, "big") + bytes([8]) \
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
    return b"\xff\xd8" + app0 + sof


def test_image_meta_real_header_decode(spark):
    rows = [
        (1, _png_bytes(640, 480)),
        (2, _jpeg_bytes(1024, 768)),
        (3, b"GIF89a" + (12).to_bytes(2, "little") + (34).to_bytes(2, "little")),
        (4, b"not an image"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, CONTENT binary")
    out = rql.get_transform("image_meta").apply(df, binary_col="CONTENT", id_col="doc_id")
    got = {r["DOC_ID"]: (r["WIDTH"], r["HEIGHT"], r["MODE"], r["DECODER"])
           for r in out.collect()}
    assert got[1] == (640, 480, "RGBA", "header")
    assert got[2] == (1024, 768, "RGB", "header")
    assert got[3] == (12, 34, "P", "header")
    assert got[4][3] == "stub"  # unrecognized bytes fall through to the fake


def test_near_dup_clusters_transitive(spark):
    # A~B and B~C but A's and C's texts differ enough that A~C is NOT a
    # direct pair — transitivity must still pool them into one cluster
    base = "the quick brown fox jumps over the lazy dog again and again "
    # at threshold 0.75: J(1,2)=0.80 and J(2,3)=0.88 pass, J(1,3)=0.71 does
    # NOT — docs 1 and 3 connect only through 2
    rows = [
        (1, base * 8),
        (2, base * 8 + "alpha beta gamma"),
        (3, base * 8 + "alpha beta gamma delta epsilon"),
        (10, "unrelated words entirely here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = rql.get_transform("dedup_minhash").apply(
        df, text="text", id_col="doc_id", threshold=0.75)
    direct = {(r["ID_A"], r["ID_B"]) for r in pairs.collect()}
    assert (1, 3) not in direct and {(1, 2), (2, 3)} <= direct
    out = rql.get_transform("near_dup_clusters").apply(
        df, text="text", id_col="doc_id", threshold=0.75)
    got = {r["doc_id"]: r["CLUSTER_ID"] for r in out.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == 10  # singleton keeps its own id


def test_ivf_recall_against_brute(session):
    """ANN quality evidence: IVF top-10 must recover most of the exact
    brute-force top-10 at nprobe=4/16 centroids."""
    emb = session.dataset("embeddings").df
    qids = [0, 1, 2, 3, 4]
    brute = rql.get_transform("similarity_search").apply(
        emb, vec_col="embedding", id_col="vec_id", query_ids=qids, k=10)
    ivf = rql.get_transform("similarity_search_ivf").apply(
        emb, vec_col="embedding", id_col="vec_id", query_ids=qids, k=10)
    exact = {(r["QUERY_ID"], r["MATCH_ID"]) for r in brute.collect()}
    approx = {(r["QUERY_ID"], r["MATCH_ID"]) for r in ivf.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_stratified_sample(session, spark):
    # deterministic key path: per-stratum modulo fractions
    out = rql.get_transform("stratified_sample").apply(
        session.dataset("documents").df,
        stratify_by="lang", fractions={"en": 0.5, "de": 0.1}, key="doc_id")
    got = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    full = {r["lang"]: r["count"] for r in
            session.dataset("documents").df.groupBy("lang").count().collect()}
    assert set(got) <= {"en", "de"}  # unlisted strata drop (sampleBy parity)
    assert 0 < got.get("en", 0) < full["en"]
    # seeded sampleBy path with a single float
    out2 = rql.get_transform("stratified_sample").apply(
        session.dataset("documents").df, stratify_by="lang", fractions=0.3)
    assert 0 < out2.count() < session.dataset("documents").df.count()


def test_mix_datasets_proportions(session):
    docs = session.dataset("documents").df
    a = docs.filter("doc_id % 3 = 0")
    b = docs.filter("doc_id % 3 = 1")
    c = docs.filter("doc_id % 3 = 2")
    out = rql.get_transform("mix_datasets").apply(
        a, others=[b, c], weights=[0.6, 0.3, 0.1], key="doc_id")
    counts = {r["MIX_SOURCE"]: r["count"]
              for r in out.groupBy("MIX_SOURCE").count().collect()}
    total = sum(counts.values())
    # the 0.6-weight source is availability-limited (scale = n0/0.6) → kept
    # nearly whole; proportions should be within a few points of targets
    for idx, w in [(0, 0.6), (1, 0.3), (2, 0.1)]:
        assert abs(counts.get(idx, 0) / total - w) < 0.08, (idx, counts)
    # deterministic: same inputs → same rows
    out2 = rql.get_transform("mix_datasets").apply(
        a, others=[b, c], weights=[0.6, 0.3, 0.1], key="doc_id")
    assert out.exceptAll(out2).count() == 0


def test_corpus_stats_chain_and_sql(session):
    out = session.dataset("documents").corpus_stats(text="text", group_by=["lang"])
    rows = {r["lang"]: r for r in out.df.collect()}
    full = session.dataset("documents").df.count()
    assert sum(r["N_DOCS"] for r in rows.values()) == full
    assert all(r["UNIQUE_FINGERPRINTS"] <= r["N_DOCS"] for r in rows.values())
    session.dataset("documents").df.createOrReplaceTempView("documents")
    via_sql = session.spark.sql(out.sql())
    assert via_sql.columns == out.df.columns


def test_text_chunk_coverage_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                               "doc_id long, text string")
    out = rql.get_transform("text_chunk").apply(
        df, text="text", id_col="doc_id", chunk_size=40, overlap=10)
    rows = sorted(out.collect(), key=lambda r: (r["doc_id"], r["CHUNK_INDEX"]))
    d1 = [r for r in rows if r["doc_id"] == 1]
    # stride 30: chunks start at 0,30,60 → 3 chunks; last has 40 tokens? 60+40=100 ✓
    assert [r["CHUNK_INDEX"] for r in d1] == [0, 1, 2]
    assert [r["CHUNK_TOKENS"] for r in d1] == [40, 40, 40]
    assert d1[1]["CHUNK_TEXT"].split()[0] == "w30"      # overlap honored
    assert d1[0]["CHUNK_TEXT"].split()[-1] == "w39"
    # every token covered exactly once per stride window start
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["CHUNK_TOKENS"] == 2  # short doc → 1 chunk
    assert not [r for r in rows if r["doc_id"] == 3]    # empty doc → none


def test_pack_sequences_budget(spark):
    rows = [(i, "g", 100) for i in range(10)]  # 10 docs × 100 tokens
    df = spark.createDataFrame(rows, "doc_id long, grp string, TOKEN_COUNT long")
    out = rql.get_transform("pack_sequences").apply(
        df, token_count_col="TOKEN_COUNT", order_by=["doc_id"], budget=250, by=["grp"])
    packs = {r["doc_id"]: r["PACK_ID"] for r in out.collect()}
    # starts at 0,100,200,300,... → floor(start/250): 0,0,0,1,1,2,2,2,3,3
    assert [packs[i] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]


def test_dedup_against_exact(spark, docs):
    ref = spark.createDataFrame(
        [(101, "The quick brown fox jumps over the lazy dog and runs far away home!"),
         (102, "reference only content nothing like the batch")],
        ["doc_id", "text"])
    # 101 normalizes to doc 1/5's text -> both dropped in filter mode
    out = rql.get_transform("dedup_against").apply(
        docs, text="text", id_col="doc_id", reference=ref, method="exact")
    assert {r["doc_id"] for r in out.collect()} == {2, 3, 4}
    pairs = rql.get_transform("dedup_against").apply(
        docs, text="text", id_col="doc_id", reference=ref,
        method="exact", mode="pairs").collect()
    assert {(r["ID"], r["REF_ID"]) for r in pairs} == {(1, 101), (5, 101)}
    assert all(r["JACCARD"] == 1.0 for r in pairs)
    # exact + an index is a typed fail-fast (the index only serves minhash);
    # previously this path hit a NameError on the unresolved ref columns
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.dedup import minhash_index

    idx = minhash_index(ref, "text", "doc_id")
    try:
        with _pytest.raises(ParameterException):
            rql.get_transform("dedup_against").apply(
                docs, text="text", id_col="doc_id", reference=ref,
                method="exact", index=idx)
    finally:
        idx.release()


def test_dedup_against_minhash_cross_corpus(spark, docs):
    ref = spark.createDataFrame(
        [(201, "the quick brown fox jumps over the lazy dog and runs far away tonight"),
         (202, "unrelated reference material about databases")],
        ["doc_id", "text"])
    pairs = rql.get_transform("dedup_against").apply(
        docs, text="text", id_col="doc_id", reference=ref,
        method="minhash", threshold=0.5, mode="pairs").collect()
    matched = {(r["ID"], r["REF_ID"]) for r in pairs}
    assert (1, 201) in matched and (5, 201) in matched  # near-dups of ref 201
    assert all(r["JACCARD"] >= 0.5 for r in pairs)
    assert not any(rid == 202 for _, rid in matched)
    out = rql.get_transform("dedup_against").apply(
        docs, text="text", id_col="doc_id", reference=ref,
        method="minhash", threshold=0.5, mode="filter")
    kept = {r["doc_id"] for r in out.collect()}
    assert 3 in kept and 4 in kept and 1 not in kept


def test_ngram_counts_term_and_doc_frequency(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")], ["doc_id", "text"])
    tf = {r["NGRAM"]: r["N_OCCURRENCES"] for r in rql.get_transform(
        "ngram_counts").apply(df, text="text", n=2).collect()}
    # doc1: "a b","b a","a b"; doc2: "a b","b c"; doc3 too short
    assert tf == {"a b": 3, "b a": 1, "b c": 1}
    dfreq = {r["NGRAM"]: r["N_OCCURRENCES"] for r in rql.get_transform(
        "ngram_counts").apply(df, text="text", n=2, per_doc_distinct=True).collect()}
    assert dfreq == {"a b": 2, "b a": 1, "b c": 1}
    top = rql.get_transform("ngram_counts").apply(
        df, text="text", n=2, top_k=1).collect()
    assert [(r["NGRAM"], r["N_OCCURRENCES"]) for r in top] == [("a b", 3)]


def _wav_bytes(ch, sr, bits, nsamples):
    import struct

    ba = ch * bits // 8
    br = sr * ba
    data_size = nsamples * ba
    return (b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr, br, ba, bits)
            + b"data" + struct.pack("<I", data_size))


def test_audio_meta_real_wav_header_decode(spark):
    rows = [
        (1, _wav_bytes(2, 44100, 16, 44100)),   # 1000 ms stereo
        (2, _wav_bytes(1, 16000, 16, 8000)),    # 500 ms mono
        (3, b"not audio at all"),               # falls back to stub
    ]
    df = spark.createDataFrame(rows, ["doc_id", "content"])
    out = {r["DOC_ID"]: r for r in rql.get_transform("audio_meta").apply(
        df, binary_col="content", id_col="doc_id").collect()}
    assert (out[1]["CHANNELS"], out[1]["SAMPLE_RATE"], out[1]["DURATION_MS"],
            out[1]["DECODER"]) == (2, 44100, 1000, "header")
    assert (out[2]["CHANNELS"], out[2]["SAMPLE_RATE"], out[2]["DURATION_MS"]) \
        == (1, 16000, 500)
    assert out[3]["DECODER"] == "stub"


def test_audio_meta_error_mode(spark):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame([(1, b"junk")], ["doc_id", "content"])
    bad = rql.get_transform("audio_meta").apply(
        df, binary_col="content", id_col="doc_id", fake="error")
    with _pytest.raises(Exception):
        bad.collect()


def _mp4_bytes(dur_ms, w, h, ts=1000):
    import struct

    def be32(x):
        return struct.pack(">I", x)

    matrix = be32(0x00010000) + be32(0) * 3 + be32(0x00010000) + be32(0) * 3 \
        + be32(0x40000000)
    mvhd = (be32(108) + b"mvhd" + b"\x00\x00\x00\x00" + be32(0) * 2 + be32(ts)
            + be32(dur_ms * ts // 1000) + be32(0x00010000)
            + struct.pack(">H", 0x0100) + b"\x00" * 2 + b"\x00" * 8 + matrix
            + b"\x00" * 24 + be32(2))
    tkhd = (be32(92) + b"tkhd" + be32(7) + be32(0) * 2 + be32(1) + be32(0)
            + be32(dur_ms) + b"\x00" * 8 + b"\x00" * 8 + matrix
            + be32(w << 16) + be32(h << 16))
    moov = be32(216) + b"moov" + mvhd + be32(100) + b"trak" + tkhd
    return be32(16) + b"ftyp" + b"isom" + be32(0x200) + moov


def test_video_meta_real_mp4_header_decode(spark):
    rows = [
        (1, _mp4_bytes(61000, 1920, 1080)),
        (2, _mp4_bytes(500, 64, 48)),
        (3, b"definitely not a video"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "content"])
    out = {r["DOC_ID"]: r for r in rql.get_transform("video_meta").apply(
        df, binary_col="content", id_col="doc_id").collect()}
    assert (out[1]["WIDTH"], out[1]["HEIGHT"], out[1]["DURATION_MS"],
            out[1]["DECODER"]) == (1920, 1080, 61000, "header")
    assert (out[2]["WIDTH"], out[2]["HEIGHT"], out[2]["DURATION_MS"]) \
        == (64, 48, 500)
    assert out[3]["DECODER"] == "stub"


def test_near_dup_clusters_string_ids(spark):
    """CLUSTER_ID must stay in the id column's native type: a bigint cast on
    string doc ids would NULL every label and dedup_by_cluster would then
    silently drop ALL rows."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        ("doc-a", base * 8),
        ("doc-b", base * 8 + "alpha beta gamma"),
        ("doc-z", "unrelated words entirely here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = rql.get_transform("near_dup_clusters").apply(
        df, text="text", id_col="doc_id", threshold=0.5)
    assert dict(out.dtypes)["CLUSTER_ID"] == "string"
    got = {r["doc_id"]: r["CLUSTER_ID"] for r in out.collect()}
    assert None not in got.values()
    assert got["doc-a"] == got["doc-b"] == "doc-a"
    assert got["doc-z"] == "doc-z"
    kept = rql.get_transform("dedup_by_cluster").apply(
        df, text="text", id_col="doc_id", threshold=0.5)
    assert {r["doc_id"] for r in kept.collect()} == {"doc-a", "doc-z"}


def test_mix_datasets_string_key(spark):
    """Hash-based sampling must work for non-numeric keys (raw pmod on a
    string column returned NULL → silently zero rows)."""
    rows = [(f"doc-{i}", i % 2) for i in range(10_000)]
    docs = spark.createDataFrame(rows, "doc_id string, half int")
    a = docs.filter("half = 0").drop("half")
    b = docs.filter("half = 1").drop("half")
    out = rql.get_transform("mix_datasets").apply(
        a, others=[b], weights=[0.7, 0.3], key="doc_id")
    counts = {r["MIX_SOURCE"]: r["count"]
              for r in out.groupBy("MIX_SOURCE").count().collect()}
    total = sum(counts.values())
    assert total > 0 and counts.get(1, 0) > 0
    assert abs(counts.get(1, 0) / total - 0.3) < 0.08
    out2 = rql.get_transform("mix_datasets").apply(
        a, others=[b], weights=[0.7, 0.3], key="doc_id")
    assert out.exceptAll(out2).count() == 0  # deterministic


def test_mix_datasets_sub_percent_weight(spark):
    """The 10000-slot modulo grid must not quantize a 0.4% weight to zero
    (the old 100-slot grid rounded it to a whole-percent slot). Needs an id
    range wide enough to be uniform mod 10000."""
    ids = spark.range(0, 100_000).withColumnRenamed("id", "doc_id")
    a = ids.filter("doc_id % 2 = 0")
    b = ids.filter("doc_id % 2 = 1")
    out = rql.get_transform("mix_datasets").apply(
        a, others=[b], weights=[0.996, 0.004], key="doc_id")
    counts = {r["MIX_SOURCE"]: r["count"]
              for r in out.groupBy("MIX_SOURCE").count().collect()}
    assert counts.get(1, 0) > 0, "sub-percent source must not vanish"
    total = sum(counts.values())
    assert counts[1] / total < 0.01


def test_lsh_hot_bucket_collapse(spark):
    """Exact-duplicate groups must not explode the LSH band self-joins:
    5000 identical copies collapse to ONE representative before banding, so
    the connectivity outputs stay O(n) instead of O(n²) candidate pairs."""
    n = 5000
    copies = spark.range(n).selectExpr(
        "id AS doc_id",
        "'the same boilerplate page text repeated on every mirror site' AS text")
    extra = spark.createDataFrame(
        [(n + 7, "a completely different document about unrelated topics entirely")],
        "doc_id long, text string")
    df = copies.union(extra)
    edges = rql.get_transform("dedup_minhash").apply(
        df, text="text", id_col="doc_id", mode="edges")
    assert edges.count() == n - 1  # one star edge per copy, no rep pairs
    kept = rql.get_transform("dedup_minhash").apply(
        df, text="text", id_col="doc_id", mode="filter")
    assert kept.count() == 2  # group representative + the unrelated doc
    clusters = rql.get_transform("near_dup_clusters").apply(
        df, text="text", id_col="doc_id")
    sizes = {r["CLUSTER_ID"]: r["count"]
             for r in clusters.groupBy("CLUSTER_ID").count().collect()}
    assert sizes[0] == n and sizes[n + 7] == 1
    sim_edges = rql.get_transform("dedup_simhash").apply(
        df, text="text", id_col="doc_id", mode="edges")
    assert sim_edges.count() <= n  # n-1 star edges (+ possible rep pair)


def test_dedup_pairs_mode_exact_dup_group_parity(spark):
    """'pairs' mode must still emit the full quadratic pair set inside an
    exact-duplicate group (that IS the pairs contract), each at J = 1.0."""
    n = 40
    copies = spark.range(n).selectExpr(
        "id AS doc_id",
        "'identical content for the whole duplicate group of documents' AS text")
    pairs = rql.get_transform("dedup_minhash").apply(
        copies, text="text", id_col="doc_id", mode="pairs")
    rows = pairs.collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(r["JACCARD"] == 1.0 and r["ID_A"] < r["ID_B"] for r in rows)
    sim = rql.get_transform("dedup_simhash").apply(
        copies, text="text", id_col="doc_id", mode="pairs")
    srows = sim.collect()
    assert len(srows) == n * (n - 1) // 2
    assert all(r["HAMMING"] == 0 for r in srows)
    ng = rql.get_transform("dedup_ngram_jaccard").apply(
        copies, text="text", id_col="doc_id")
    assert ng.count() == n * (n - 1) // 2


def test_dedup_against_reference_skew_collapse(spark):
    """Exact-duplicate groups in the ACCEPTED reference corpus must collapse
    before the cross-corpus band join; member-level pairs expand back
    exactly (one pair per reference copy)."""
    n = 3000
    boiler = "subscribe to our newsletter for updates and exclusive offers today"
    ref = spark.range(n).selectExpr("id AS doc_id", f"'{boiler}' AS text")
    batch = spark.createDataFrame(
        [(100_000, boiler), (100_001, "a genuinely novel document with fresh content")],
        "doc_id long, text string")
    pairs = rql.get_transform("dedup_against").apply(
        batch, text="text", id_col="doc_id", reference=ref, method="minhash",
        mode="pairs")
    rows = pairs.collect()
    assert len(rows) == n  # the matching batch doc pairs with EVERY ref copy
    assert all(r["ID"] == 100_000 and r["JACCARD"] == 1.0 for r in rows)
    kept = rql.get_transform("dedup_against").apply(
        batch, text="text", id_col="doc_id", reference=ref, method="minhash",
        mode="filter")
    assert {r["doc_id"] for r in kept.collect()} == {100_001}


def test_dedup_embedding_identical_vector_collapse(spark):
    """Identical vectors collapse before the bucket join: edges output is
    O(n); pairs mode still expands the full set at COSINE exactly 1.0."""
    import numpy as np
    rng = np.random.default_rng(3)
    v = [float(x) for x in rng.normal(size=8)]
    other = [float(x) for x in rng.normal(size=8)]
    n = 500
    rows = [(j, v) for j in range(n)] + [(10_000, other)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    edges = rql.get_transform("dedup_embedding").apply(
        df, vec_col="embedding", id_col="vec_id", mode="edges")
    assert edges.count() == n - 1  # star only (other vec not near-dup)
    pairs = rql.get_transform("dedup_embedding").apply(
        df, vec_col="embedding", id_col="vec_id")
    rows2 = pairs.collect()
    assert len(rows2) == n * (n - 1) // 2
    assert all(r["COSINE"] == 1.0 for r in rows2)


def test_sample_to_token_budget(session):
    d = session.dataset("documents").token_count(text="text")
    tc = {r["doc_id"]: r["TOKEN_COUNT"]
          for r in d.df.select("doc_id", "TOKEN_COUNT").collect()}
    out = rql.get_transform("sample_to_token_budget").apply(
        d.df, token_count_col="TOKEN_COUNT", budget=5000, id_col="doc_id")
    kept = [r["doc_id"] for r in out.select("doc_id").collect()]
    total = sum(tc[i] for i in kept)
    # minimal priority-prefix >= budget: total crosses the line, and
    # dropping the highest-priority kept doc falls back under it
    assert total >= 5000
    assert total - max(tc[i] for i in kept) < 5000
    assert out.columns == d.df.columns  # schema passthrough, no helper cols
    # deterministic across runs
    out2 = rql.get_transform("sample_to_token_budget").apply(
        d.df, token_count_col="TOKEN_COUNT", budget=5000, id_col="doc_id")
    assert sorted(r["doc_id"] for r in out2.select("doc_id").collect()) \
        == sorted(kept)
    # budget beyond corpus size keeps everything; non-positive keeps nothing
    assert rql.get_transform("sample_to_token_budget").apply(
        d.df, token_count_col="TOKEN_COUNT", budget=10**12,
        id_col="doc_id").count() == d.df.count()
    assert rql.get_transform("sample_to_token_budget").apply(
        d.df, token_count_col="TOKEN_COUNT", budget=0,
        id_col="doc_id").count() == 0


# ---------------------------------------------------------------- source_overlap

def test_source_overlap_planted(spark):
    from rasgoql_spark.functions.dedup import source_overlap

    rows = [
        (0, "shared one", "A"), (1, "only a", "A"), (2, "shared two", "A"),
        (3, "shared one", "B"), (4, "only b", "B"),
        (5, "shared one", "C"), (6, "shared two", "C"), (7, "only c", "C"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["GROUP_A"], r["GROUP_B"]): (r["SHARED_FPS"], r["JACCARD"])
           for r in source_overlap(df, "text", "source").collect()}
    # A: {one, a, two}; B: {one, b}; C: {one, two, c}
    assert out[("A", "B")][0] == 1
    assert out[("A", "C")][0] == 2
    assert out[("B", "C")][0] == 1
    assert out[("A", "C")][1] == round(2 / (3 + 3 - 2), 6)


def test_source_overlap_min_shared_and_duplicates_within_group(spark):
    from rasgoql_spark.functions.dedup import source_overlap

    rows = [
        (0, "x", "A"), (1, "x", "A"),   # dup inside A counts once
        (2, "x", "B"),
        (3, "y", "C"),                   # no overlap with anyone
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = source_overlap(df, "text", "source").collect()
    assert len(out) == 1 and out[0]["SHARED_FPS"] == 1
    assert out[0]["JACCARD"] == 1.0  # both sides have exactly {x}
    assert source_overlap(df, "text", "source", min_shared=2).count() == 0


# ---------------------------------------------------------------- char_entropy

def test_char_entropy_values(spark):
    import math

    from rasgoql_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, ""), (3, None), (4, "abcd")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["CHAR_ENTROPY"] for r in char_entropy(df, "text").collect()}
    assert out[0] == 0.0                      # single repeated char
    assert out[1] == round(math.log(2), 6)    # uniform over 2 chars
    assert out[2] == 0.0 and out[3] == 0.0    # empty / NULL
    assert out[4] == round(math.log(4), 6)    # uniform over 4 chars


# ---------------------------------------------------------------- MinHashIndex

def test_minhash_index_matches_inline_build(spark):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.dedup import dedup_against, minhash_index

    texts = ["the quick brown fox jumps over the lazy dog near the river bank",
             "a completely different sentence about spark shuffles and joins",
             "the quick brown fox jumps over the lazy dog near the river edge",
             "numerical linear algebra on distributed matrices with pyspark"]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100 + i, t + " extra") for i, t in enumerate(texts[:2])]
        + [(200, "entirely novel content with no overlap whatsoever here")],
        "doc_id long, text string")

    idx = minhash_index(ref, "text", "doc_id")
    try:
        with_idx = dedup_against(
            batch, "text", "doc_id", ref, method="minhash",
            threshold=0.2, mode="pairs", index=idx)
        inline = dedup_against(
            batch, "text", "doc_id", ref, method="minhash",
            threshold=0.2, mode="pairs")
        key = lambda r: (r["ID"], r["REF_ID"], round(r["JACCARD"], 9))
        assert sorted(map(key, with_idx.collect())) == sorted(map(key, inline.collect()))
        # two batches reuse one index
        out2 = dedup_against(
            batch, "text", "doc_id", ref, method="minhash",
            threshold=0.2, mode="filter", index=idx)
        assert out2.count() >= 1  # the novel doc survives
        with _pytest.raises(ParameterException):
            dedup_against(batch, "text", "doc_id", ref, method="minhash",
                          num_hashes=32, bands=4, index=idx)
    finally:
        idx.release()


def test_minhash_index_save_load_roundtrip(spark, tmp_path, index_artifacts):
    from rasgoql_spark.functions.dedup import (
        dedup_against, load_minhash_index, minhash_index, save_minhash_index)

    texts = ["the quick brown fox jumps over the lazy dog tonight",
             "completely different content about query optimizers",
             "the quick brown fox jumps over the lazy dog this morning"]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, texts[0] + " again"), (200, "novel text with no overlap at all")],
        "doc_id long, text string")

    idx = minhash_index(ref, "text", "doc_id")
    path = save_minhash_index(idx, str(tmp_path / "mhidx"))
    rows = index_artifacts.rows
    want = [rows(idx.sig), rows(idx.bands_long)]
    idx.release()

    loaded = load_minhash_index(spark, path)
    try:
        assert index_artifacts.params(spark, path) == {
            "num_hashes": 16, "bands": 4, "shingle_size": 3, "n_docs": 3}
        assert [rows(loaded.sig), rows(loaded.bands_long)] == want
        # an artifact saved before the n_docs fingerprint loads without it
        index_artifacts.drop_params(spark, path, "n_docs")
        old = load_minhash_index(spark, path)
        assert (old.num_hashes, old.bands, old.shingle_size, old.n_docs) == (
            16, 4, 3, None)
        old.release()
        with_loaded = dedup_against(
            batch, "text", "doc_id", ref, method="minhash",
            threshold=0.2, mode="pairs", index=loaded)
        inline = dedup_against(
            batch, "text", "doc_id", ref, method="minhash",
            threshold=0.2, mode="pairs")
        key = lambda r: (r["ID"], r["REF_ID"], round(r["JACCARD"], 9))
        assert sorted(map(key, with_loaded.collect())) == sorted(
            map(key, inline.collect()))
    finally:
        loaded.release()


def test_minhash_index_reference_optional_and_fingerprint(spark):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.dedup import dedup_against, minhash_index

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "completely different second document about spark partitioning",
        "a third reference document mentioning shuffles and broadcasts",
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, texts[0] + " tail")], "doc_id long, text string")
    idx = minhash_index(ref, "text", "doc_id")
    try:
        assert idx.n_docs == 3
        # reference omitted entirely: the index carries the reference side
        no_ref = dedup_against(
            batch, "text", "doc_id", method="minhash",
            threshold=0.2, mode="pairs", index=idx)
        with_ref = dedup_against(
            batch, "text", "doc_id", ref, method="minhash",
            threshold=0.2, mode="pairs", index=idx)
        key = lambda r: (r["ID"], r["REF_ID"], round(r["JACCARD"], 9))
        assert sorted(map(key, no_ref.collect())) == sorted(
            map(key, with_ref.collect()))
        # a reference that doesn't match the index's build-time row count
        # is rejected instead of silently under-deduping
        stale = ref.limit(2)
        with _pytest.raises(ParameterException):
            dedup_against(batch, "text", "doc_id", stale, method="minhash",
                          threshold=0.2, mode="pairs", index=idx)
        # no reference AND no index is a parameter error
        with _pytest.raises(ParameterException):
            dedup_against(batch, "text", "doc_id", method="minhash")
        # exact method cannot run off an index
        with _pytest.raises(ParameterException):
            dedup_against(batch, "text", "doc_id", method="exact", index=idx)
    finally:
        idx.release()


def test_dedup_against_index_path_ignores_reference_columns(spark):
    """On the index path the reference frame serves only the row-count
    fingerprint check, so differently-named columns must not error."""
    from rasgoql_spark.functions.dedup import dedup_against, minhash_index

    ref = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "an entirely different reference document about joins")],
        "rid long, body string")
    batch = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog today then")],
        "doc_id long, text string")
    idx = minhash_index(ref, "body", "rid")
    try:
        out = dedup_against(batch, "text", "doc_id", reference=ref,
                            method="minhash", threshold=0.2, mode="pairs",
                            index=idx)
        assert out.count() >= 1
    finally:
        idx.release()


def test_update_minhash_index_matches_rebuild(spark):
    """Incrementally-updated index must produce the same dedup_against
    results as a full rebuild over the grown corpus."""
    from rasgoql_spark.functions.dedup import (
        dedup_against, minhash_index, update_minhash_index)

    old_texts = [
        "the first accepted corpus document about spark partitioning",
        "a second accepted page describing broadcast joins in detail",
    ]
    new_texts = [
        "a freshly accepted page on watermark state in streaming joins",
        "the first accepted corpus document about spark partitioning",  # dup of old
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(old_texts)], "doc_id long, text string")
    newly = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(new_texts)],
        "doc_id long, text string")
    full = ref.unionByName(newly)
    idx_old = minhash_index(ref, "text", "doc_id")
    idx_upd = update_minhash_index(idx_old, newly, "text", "doc_id")
    idx_full = minhash_index(full, "text", "doc_id")
    try:
        assert idx_upd.n_docs == 4
        batch = spark.createDataFrame(
            [(900, old_texts[0] + " tail"),
             (901, new_texts[0] + " tail"),
             (902, "an entirely novel crawl document with no duplicates")],
            "doc_id long, text string")
        key = lambda r: (r["ID"], r["REF_ID"], round(r["JACCARD"], 9))
        p_upd = sorted(map(key, dedup_against(
            batch, "text", "doc_id", method="minhash", threshold=0.2,
            mode="pairs", index=idx_upd).collect()))
        p_full = sorted(map(key, dedup_against(
            batch, "text", "doc_id", method="minhash", threshold=0.2,
            mode="pairs", index=idx_full).collect()))
        assert p_upd == p_full and p_upd
        f_upd = {r["doc_id"] for r in dedup_against(
            batch, "text", "doc_id", method="minhash", threshold=0.2,
            mode="filter", index=idx_upd).collect()}
        f_full = {r["doc_id"] for r in dedup_against(
            batch, "text", "doc_id", method="minhash", threshold=0.2,
            mode="filter", index=idx_full).collect()}
        assert f_upd == f_full == {902}
    finally:
        idx_upd.release()
        idx_full.release()


def test_language_id_model_zero_ngram_label_not_predictable(spark):
    """A training label whose docs all normalize to zero char-ngrams has
    no likelihood model — its smoothed score would otherwise beat every
    real label on unmatched buckets. It must never win the argmax for a
    non-empty doc (it remains reachable only via the empty-doc prior
    fallback), matching the oracle's FROM-tg candidate label set."""
    from rasgoql_spark.functions.text import language_id

    train = spark.createDataFrame([
        ("the cat sat on the mat and the dog slept", "en"),
        ("el perro corre en la casa y los gatos duermen", "es"),
        ("1234 5678 !!!", "xx"),          # normalizes to '' — no ngrams
        ("9999 ----", "xx"),
    ], "text STRING, lang STRING")
    test = spark.createDataFrame([
        (1, "completely unrelated zzz qqq vvv words here"),
    ], "id BIGINT, text STRING")
    out = language_id(test, "text", name="LP", method="model",
                      id_col="id", train=train, train_label="lang").collect()
    assert out[0]["LP"] in ("en", "es")


def test_language_id_model_empty_training_set_raises(spark):
    from rasgoql_spark.functions.text import language_id

    df = spark.createDataFrame([(1, "1234 !!!"), (2, "5678 ???")],
                               "id BIGINT, text STRING")
    with pytest.raises(rql.ParameterException, match="training set is empty"):
        language_id(df, "text", method="model", id_col="id")


def test_language_id_model_pivot_matches_label_fanout(spark, monkeypatch):
    """Round 14: the pivoted scoring path (per-bucket ln-P arrays, one
    histogram join, row-local struct-min argmax) must return EXACTLY the
    frame the general label fan-out path returns — same predictions, same
    6dp scores, including ties (equal-likelihood labels -> lexicographically
    smallest) and the empty-doc prior fallback."""
    from rasgoql_spark.functions import text as text_mod
    from rasgoql_spark.functions.text import language_id

    train_rows = [
        ("the cat sat on the mat and it was happy for hours", "en"),
        ("a quick brown fox jumps over that lazy sleeping dog", "en"),
        ("el perro corre en la casa y los gatos duermen alli", "es"),
        ("la escuela de los ninos esta cerca del mercado grande", "es"),
        # twin labels trained on IDENTICAL text: every doc scores them
        # equally, so the argmax must fall to the lexicographic tiebreak
        ("zz yy xx ww vv uu tt ss rr qq pp oo", "tie_a"),
        ("zz yy xx ww vv uu tt ss rr qq pp oo", "tie_b"),
    ]
    test_rows = [
        (1, "the weather was lovely and it made everyone happy"),
        (2, "los perros grandes corren por las calles del pueblo"),
        (3, "zz yy xx ww vv uu tt"),       # tie: must predict tie_a
        (4, "qqqq zzzz glyph burst"),       # mostly-unseen trigrams
        (5, ""),                            # empty doc -> prior fallback
    ]
    train = spark.createDataFrame(train_rows, "text STRING, lang STRING")
    test = spark.createDataFrame(test_rows, "id BIGINT, text STRING")

    def run():
        return sorted(map(tuple, language_id(
            test, "text", name="P", method="model", id_col="id",
            train=train, train_label="lang",
        ).select("id", "P", "P_SCORE").collect()))

    got_pivot = run()
    monkeypatch.setattr(text_mod, "_PIVOT_MAX_LABELS", 0)
    got_fanout = run()
    assert got_pivot == got_fanout
    tie = dict((r[0], r[1]) for r in got_pivot)
    assert tie[3] == "tie_a"


def test_union_via_sizes_matches_array_union_exactly(spark):
    """|A∪B| derived arithmetically from the staged |A∩B| (_jaccard_terms)
    must verify EXACTLY like ``size(array_union(...))`` — same pairs,
    bit-identical JACCARD — across the four call sites' shapes: near dups,
    exact dups (intra 1.0), an empty doc, and a no-overlap collision
    candidate. Three sites are pinned against their own renderers (which
    keep the array_union form); dedup_against has no minhash renderer and
    is pinned against an exact Python set-Jaccard."""
    from rasgoql_spark.functions import dedup as _d
    from rasgoql_spark.functions._hash import shingles_expr, tokens_expr

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, base), (2, base + " tonight"), (3, base), (4, ""),
        (5, "completely different content about spark query engines"),
        (6, "short text"), (7, base + " tonight again"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    df.createOrReplaceTempView("__union_fixture")

    def rows_of(frame):
        return sorted(tuple(r) for r in frame.collect())

    sites = [
        ("dedup_minhash", _d._r_dedup_minhash, {"threshold": 0.2}),
        ("dedup_ngram_jaccard", _d._r_dedup_ngram_jaccard, {"threshold": 0.2}),
        ("minhash_similarity", _d._r_minhash_similarity, {}),
    ]
    for name, render, kw in sites:
        executed = rql.get_transform(name).apply(
            df, text="text", id_col="doc_id", **kw)
        rendered = spark.sql(render("__union_fixture", "text", "doc_id", **kw))
        assert rendered.columns == executed.columns, name
        got = rows_of(executed)
        assert got == rows_of(rendered), name
        assert len(got) > 0, name  # the planted near-dup pairs verified

    shingles = {
        r["doc_id"]: set(r["sh"]) for r in df.select(
            "doc_id", shingles_expr(tokens_expr(F.col("text")), 3).alias("sh")
        ).collect()
    }

    def jaccard(a, b):
        union = len(shingles[a] | shingles[b])
        return len(shingles[a] & shingles[b]) / union if union else 0.0

    against = rows_of(rql.get_transform("dedup_against").apply(
        df.filter("doc_id >= 4"), text="text", id_col="doc_id",
        reference=df.filter("doc_id < 4"), method="minhash",
        threshold=0.2, mode="pairs"))
    assert {(i, r) for i, r, _ in against} == {(7, 1), (7, 2), (7, 3)}
    for i, r, j in against:
        assert j == jaccard(i, r), (i, r)


def _path_docs(spark, null_id: bool = False):
    """Docs 1..5 form a near-dup PATH at threshold 0.8: each is a 60-token
    window shifted 4 tokens from its predecessor, so adjacent docs have
    J=0.87 and docs two apart J=0.76 — doc 1 reaches doc 5 only through
    4 hops. Doc 6 is a singleton; ``null_id`` adds a NULL-id doc."""
    words = [f"w{i}" for i in range(80)]
    rows = [(k + 1, " ".join(words[4 * k: 4 * k + 60])) for k in range(5)]
    rows.append((6, "unrelated words entirely here nothing shared at all"))
    if null_id:
        rows.append((None, "another lone document about something else"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_clusters_rejects_max_iterations_below_one(spark):
    """A cap below one level is an error on BOTH paths (the executed path
    used to return every document as its own cluster)."""
    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.dedup import (_r_near_dup_clusters,
                                               near_dup_clusters)

    df = _path_docs(spark)
    for bad in (0, -1):
        with pytest.raises(ParameterException):
            near_dup_clusters(df, "text", "doc_id", max_iterations=bad)
        with pytest.raises(ParameterException):
            _r_near_dup_clusters("docs", "text", "doc_id", max_iterations=bad)


def test_near_dup_clusters_capped_trajectory_matches_connected_components(spark):
    """Capped below the path's diameter, near_dup_clusters must stop at
    exactly connected_components' labeling of the same mode='edges' pairs,
    joined back with COALESCE(component, id)."""
    from rasgoql_spark.functions.dedup import dedup_minhash, near_dup_clusters
    from rasgoql_spark.functions.graph import connected_components

    df = _path_docs(spark)
    direct = rql.get_transform("dedup_minhash").apply(
        df, text="text", id_col="doc_id", threshold=0.8)
    assert {(r["ID_A"], r["ID_B"]) for r in direct.collect()} == {
        (1, 2), (2, 3), (3, 4), (4, 5)}
    edges = dedup_minhash(df, "text", "doc_id", threshold=0.8, mode="edges")
    for cap in (1, 2, 3):
        got = {r["doc_id"]: r["CLUSTER_ID"] for r in near_dup_clusters(
            df, "text", "doc_id", threshold=0.8, max_iterations=cap).collect()}
        comp = connected_components(edges, "ID_A", "ID_B", max_iterations=cap)
        want = {r["doc_id"]: r["CLUSTER_ID"] for r in df.join(
            comp, df.doc_id == comp.NODE, "left").select(
            "doc_id", F.coalesce("COMPONENT", "doc_id").alias("CLUSTER_ID")
        ).collect()}
        assert got == want
        assert got == {**{j: max(1, j - cap) for j in range(1, 6)}, 6: 6}


def test_near_dup_clusters_renderer_matches_executed(spark):
    """On a converged fixture the rendered SQL equals the executed frame,
    and a NULL doc_id gets a NULL CLUSTER_ID on both paths."""
    from rasgoql_spark.functions.dedup import (_r_near_dup_clusters,
                                               near_dup_clusters)

    df = _path_docs(spark, null_id=True)
    df.createOrReplaceTempView("__ndc_path_docs")
    executed = near_dup_clusters(df, "text", "doc_id", threshold=0.8)
    rendered = spark.sql(_r_near_dup_clusters(
        "__ndc_path_docs", "text", "doc_id", threshold=0.8))
    assert rendered.columns == executed.columns
    assert executed.count() == rendered.count() == 7
    assert executed.exceptAll(rendered).count() == 0
    assert rendered.exceptAll(executed).count() == 0
    got = {r["doc_id"]: r["CLUSTER_ID"] for r in rendered.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, None: None}
