"""dedup_substring: exact >=k-token substring dedup (Lee et al. 2021 —
ExactSubstr), round 12."""

import pytest

from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions.dedup import _r_dedup_substring, dedup_substring


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "XX alpha beta gamma delta epsilon zeta eta theta iota kappa YY"),
        (3, "totally different words here nothing shared with others at all"),
        (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (5, "prefix words alpha beta gamma delta epsilon zeta eta theta "
            "iota kappa suffix tail"),
    ]
    return spark.createDataFrame(rows, "id BIGINT, text STRING")


def test_maximal_runs_at_any_alignment(docs):
    """The shared 10-token run is found at EVERY offset pairing (the
    alignment-insensitivity dedup_spans lacks), as ONE maximal run per
    pair — never split into shingle fragments."""
    out = {(r["ID_A"], r["ID_B"]): (r["START_A"], r["START_B"], r["MATCH_TOKENS"])
           for r in dedup_substring(docs, "text", "id", min_tokens=5).collect()}
    assert out[(1, 2)] == (1, 2, 10)     # copy shifted by one token
    assert out[(1, 4)] == (1, 1, 10)     # exact duplicate
    assert out[(1, 5)] == (1, 3, 10)     # embedded mid-document
    assert out[(2, 5)] == (2, 3, 10)
    assert len(out) == 6                 # one maximal run per matching pair
    assert not any(3 in pair for pair in out)   # unrelated doc never pairs


def test_run_shorter_than_min_tokens_not_reported(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d X Y Z W")],
        "id BIGINT, text STRING")
    assert dedup_substring(df, "text", "id", min_tokens=5).count() == 0
    out = dedup_substring(df, "text", "id", min_tokens=4).collect()
    assert [(r["START_A"], r["START_B"], r["MATCH_TOKENS"]) for r in out] == \
        [(1, 1, 4)]


def test_filter_mode_keep_min(docs):
    kept = sorted(r["id"] for r in
                  dedup_substring(docs, "text", "id", min_tokens=5,
                                  mode="filter").collect())
    assert kept == [1, 3]


def test_renderer_parity(docs, spark):
    docs.createOrReplaceTempView("__dsub_src")
    for mode in ("pairs", "filter"):
        sql = _r_dedup_substring("__dsub_src", "text", "id", min_tokens=5,
                                 mode=mode)
        via = sorted(map(tuple, spark.sql(sql).collect()))
        direct = sorted(map(tuple,
                            dedup_substring(docs, "text", "id", min_tokens=5,
                                            mode=mode).collect()))
        assert via == direct


def test_collapse_path_matches_plain_semantics(spark):
    """>16 identical copies trigger the exact-dup collapse; the expanded
    result (cross pairs + intra self-alignments) must equal the plain-path
    renderer run over the same data."""
    rows = [(i, "one two three four five six seven eight") for i in range(20)]
    rows += [(100, "pre one two three four five six seven eight post"),
             (101, "unrelated text goes here with completely other tokens")]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING")
    direct = sorted(map(tuple,
                        dedup_substring(df, "text", "id",
                                        min_tokens=6).collect()))
    df.createOrReplaceTempView("__dsub_col")
    via = sorted(map(tuple, spark.sql(
        _r_dedup_substring("__dsub_col", "text", "id", min_tokens=6)
    ).collect()))
    assert direct == via
    # 20 copies -> C(20,2)=190 intra pairs (full 8-token run) + 20 cross
    assert len(direct) == 190 + 20


def test_self_repeat_produces_off_diagonal_runs(spark):
    """Identical docs that repeat a block internally match at OFF-diagonal
    alignments too (the naive pair semantics the collapse must preserve)."""
    txt = "a b c d e a b c d e"
    df = spark.createDataFrame(
        [(i, txt) for i in range(20)], "id BIGINT, text STRING")
    direct = dedup_substring(df, "text", "id", min_tokens=5)
    df.createOrReplaceTempView("__dsub_rep")
    via = sorted(map(tuple, spark.sql(
        _r_dedup_substring("__dsub_rep", "text", "id", min_tokens=5)
    ).collect()))
    assert sorted(map(tuple, direct.collect())) == via
    runs = {(r["START_A"], r["START_B"], r["MATCH_TOKENS"])
            for r in direct.filter("ID_A = 0 AND ID_B = 1").collect()}
    # diag 0 full run + the two shifted 5-token alignments
    assert runs == {(1, 1, 10), (1, 6, 5), (6, 1, 5)}


def test_max_doc_freq_caps_hot_shingles(spark):
    """A run shared by more DISTINCT documents than the cap is dropped
    before the join (recall contract); distinct-content counting means
    exact copies never consume the cap."""
    rows = [(i, f"unique{i} common one two three four five tail{i}")
            for i in range(10)]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING")
    assert dedup_substring(df, "text", "id", min_tokens=6,
                           max_doc_freq=5).count() == 0
    assert dedup_substring(df, "text", "id", min_tokens=6,
                           max_doc_freq=None).count() == 45


def test_validation(docs):
    with pytest.raises(ParameterException):
        dedup_substring(docs, "text", "id", min_tokens=1)
    with pytest.raises(ParameterException):
        dedup_substring(docs, "text", "id", mode="edges")
    with pytest.raises(ParameterException):
        dedup_substring(docs, "text", "id", max_doc_freq=0)


def test_clean_mode_removes_later_copies(docs):
    """mode='clean' (the paper's actual output): the run tokens vanish
    from the LATER document of each pair, merged across partners; the
    first occurrence survives intact; text rebuilds from the surviving
    normalized tokens."""
    from rasgoql_spark.functions.dedup import dedup_substring

    out = {r["id"]: (r["TEXT_DEDUPED"], r["TOKENS_REMOVED"])
           for r in dedup_substring(docs, "text", "id", min_tokens=5,
                                    mode="clean").collect()}
    assert out[1] == ("alpha beta gamma delta epsilon zeta eta theta iota kappa", 0)
    assert out[2] == ("xx yy", 10)
    assert out[3][1] == 0                       # unrelated doc untouched
    assert out[4] == ("", 10)                   # exact dup fully removed
    assert out[5] == ("prefix words suffix tail", 10)


def test_clean_mode_merges_overlapping_intervals(spark):
    """Two partners matching OVERLAPPING regions of the same doc delete
    the union once (interval merge), not double-count."""
    from rasgoql_spark.functions.dedup import dedup_substring

    rows = [
        (1, "a b c d e f g h"),                 # matches doc 3 tokens 1-8
        (2, "c d e f g h i j"),                 # matches doc 3 tokens 3-10
        (3, "a b c d e f g h i j k l"),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING")
    out = {r["id"]: (r["TEXT_DEDUPED"], r["TOKENS_REMOVED"])
           for r in dedup_substring(df, "text", "id", min_tokens=5,
                                    mode="clean").collect()}
    # doc 3 loses tokens 1-10 (merged [1,8] U [3,10]) exactly once
    assert out[3] == ("k l", 10)
    assert out[1][1] == 0                       # smallest partner survives
    assert out[2][1] == 6                       # loses its overlap with doc 1


def test_clean_mode_renderer_parity(docs, spark):
    from rasgoql_spark.functions.dedup import _r_dedup_substring, dedup_substring

    docs.createOrReplaceTempView("__dsub_clean")
    sql = _r_dedup_substring("__dsub_clean", "text", "id", min_tokens=5,
                             mode="clean", _input_columns=("id", "text"))
    via = sorted(map(tuple, spark.sql(sql).collect()))
    direct = sorted(map(tuple,
                        dedup_substring(docs, "text", "id", min_tokens=5,
                                        mode="clean").collect()))
    assert via == direct


# --- incremental form: SubstringIndex + dedup_against_substring ------------

@pytest.fixture(scope="module")
def ref_bat(spark):
    ref = spark.createDataFrame([
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (102, "reference only words with no overlap whatsoever here today"),
    ], "doc_id BIGINT, text STRING")
    bat = spark.createDataFrame([
        (1, "XX alpha beta gamma delta epsilon zeta eta theta iota kappa YY"),
        (2, "clean new document with fresh content nothing borrowed at all"),
    ], "doc_id BIGINT, text STRING")
    return ref, bat


def test_against_substring_pairs_and_filter(ref_bat):
    from rasgoql_spark.functions.dedup import dedup_against_substring

    ref, bat = ref_bat
    pairs = sorted(map(tuple, dedup_against_substring(
        bat, "text", "doc_id", reference=ref, min_tokens=5,
        mode="pairs").collect()))
    # batch doc 1 shares the 10-token run with BOTH identical ref copies
    assert pairs == [(1, 100, 2, 1, 10), (1, 101, 2, 1, 10)]
    kept = dedup_against_substring(
        bat, "text", "doc_id", reference=ref, min_tokens=5, mode="filter")
    assert sorted(r["doc_id"] for r in kept.collect()) == [2]


def test_against_substring_renderer_parity(ref_bat, spark):
    from rasgoql_spark.functions.dedup import (
        _r_dedup_against_substring, dedup_against_substring)

    ref, bat = ref_bat
    ref.createOrReplaceTempView("__das_ref")
    bat.createOrReplaceTempView("__das_bat")
    for mode in ("pairs", "filter"):
        sql = _r_dedup_against_substring(
            "__das_bat", "text", "doc_id", "__das_ref", min_tokens=5,
            mode=mode)
        via = sorted(map(tuple, spark.sql(sql).collect()))
        direct = sorted(map(tuple, dedup_against_substring(
            bat, "text", "doc_id", reference=ref, min_tokens=5,
            mode=mode).collect()))
        assert via == direct


def test_substring_index_update_is_rebuild_equivalent(ref_bat):
    """Content-keyed postings carry no fitted state: folding a batch in
    must equal a full rebuild BIT-FOR-BIT (the binary-index property),
    including cap re-evaluation over the merged corpus."""
    from rasgoql_spark.functions.dedup import (
        dedup_against_substring, substring_index, update_substring_index)

    ref, bat = ref_bat
    idx = substring_index(ref.filter("doc_id < 102"), "text", "doc_id",
                          min_tokens=5)
    folded = update_substring_index(idx, ref.filter("doc_id = 102"),
                                    "text", "doc_id")
    rebuilt = substring_index(ref, "text", "doc_id", min_tokens=5)
    a = sorted(map(tuple, dedup_against_substring(
        bat, "text", "doc_id", index=folded, min_tokens=5,
        mode="pairs").collect()))
    b = sorted(map(tuple, dedup_against_substring(
        bat, "text", "doc_id", index=rebuilt, min_tokens=5,
        mode="pairs").collect()))
    assert a == b
    assert folded.n_docs == rebuilt.n_docs == 3
    assert sorted(map(tuple, folded.inv.collect())) == \
        sorted(map(tuple, rebuilt.inv.collect()))
    folded.release(); rebuilt.release(); idx.release()


def test_substring_index_cap_reevaluates_on_update(spark):
    """A shingle under the cap before an update and over it after must
    drop its OLD postings too — the rebuild-equivalence edge."""
    from rasgoql_spark.functions.dedup import (
        dedup_against_substring, substring_index, update_substring_index)

    mk = lambda i: (i, f"shared one two three four five unique{i} tail")  # noqa: E731
    ref1 = spark.createDataFrame([mk(i) for i in range(3)],
                                 "doc_id BIGINT, text STRING")
    ref2 = spark.createDataFrame([mk(i) for i in range(3, 6)],
                                 "doc_id BIGINT, text STRING")
    bat = spark.createDataFrame(
        [(1, "xx shared one two three four five yy")],
        "doc_id BIGINT, text STRING")
    idx = substring_index(ref1, "text", "doc_id", min_tokens=6,
                          max_doc_freq=4)
    before = dedup_against_substring(
        bat, "text", "doc_id", index=idx, min_tokens=6, mode="pairs").count()
    assert before == 3            # under cap: all 3 ref docs match
    folded = update_substring_index(idx, ref2, "text", "doc_id")
    after = dedup_against_substring(
        bat, "text", "doc_id", index=folded, min_tokens=6,
        mode="pairs").count()
    assert after == 0             # df=6 distinct contents > cap=4: dropped
    folded.release(); idx.release()


def test_substring_index_save_load_and_staleness(ref_bat, spark, tmp_path,
                                                index_artifacts):
    from rasgoql_spark.functions.dedup import (
        dedup_against_substring, load_substring_index, save_substring_index,
        substring_index)

    ref, bat = ref_bat
    idx = substring_index(ref, "text", "doc_id", min_tokens=5)
    save_substring_index(idx, str(tmp_path / "sidx"))
    loaded = load_substring_index(spark, str(tmp_path / "sidx"))
    assert loaded.n_docs == 3 and loaded.min_tokens == 5
    assert index_artifacts.params(spark, str(tmp_path / "sidx")) == {
        "min_tokens": 5, "max_doc_freq": 1000, "n_docs": 3,
        "max_positions": 20, "bucket_by_fp": -1}
    rows = index_artifacts.rows
    assert [rows(f) for f in (loaded.inv, loaded.fpck, loaded.members)] == [
        rows(f) for f in (idx.inv, idx.fpck, idx.members)]
    a = sorted(map(tuple, dedup_against_substring(
        bat, "text", "doc_id", index=loaded, min_tokens=5,
        mode="pairs").collect()))
    b = sorted(map(tuple, dedup_against_substring(
        bat, "text", "doc_id", index=idx, min_tokens=5,
        mode="pairs").collect()))
    assert a == b
    # staleness fingerprint: index no longer matches the passed reference
    from rasgoql_spark.errors import ParameterException as PE
    with pytest.raises(PE, match="n_docs|reference docs"):
        dedup_against_substring(
            bat, "text", "doc_id", reference=ref.filter("doc_id < 102"),
            index=loaded, min_tokens=5)
    # min_tokens mismatch rejected before any work
    with pytest.raises(PE, match="min_tokens"):
        dedup_against_substring(bat, "text", "doc_id", index=loaded,
                                min_tokens=7)
    # an artifact saved before the position cap and bucketing existed
    # loads uncapped and unbucketed
    index_artifacts.drop_params(spark, str(tmp_path / "sidx"),
                                "max_positions", "bucket_by_fp")
    old = load_substring_index(spark, str(tmp_path / "sidx"))
    assert (old.min_tokens, old.max_doc_freq, old.n_docs,
            old.max_positions) == (5, 1000, 3, None)
    assert rows(old.inv) == rows(loaded.inv)
    old.release()
    loaded.release(); idx.release()


def test_explicit_max_doc_freq_conflict_with_index_raises(ref_bat):
    """r12 advice: the df cap is baked into the index's postings — an
    EXPLICITLY passed conflicting cap must raise (silently screening at
    the index's cap hides the conflict); omitting it uses the index's."""
    from rasgoql_spark.functions.dedup import (
        dedup_against_substring, substring_index)

    ref, bat = ref_bat
    idx = substring_index(ref, "text", "doc_id", min_tokens=5,
                          max_doc_freq=7)
    try:
        # omitted => index's cap, works
        assert dedup_against_substring(
            bat, "text", "doc_id", index=idx, min_tokens=5,
            mode="filter").count() == 1
        # explicit matching cap also works
        assert dedup_against_substring(
            bat, "text", "doc_id", index=idx, min_tokens=5,
            max_doc_freq=7, mode="filter").count() == 1
        with pytest.raises(ParameterException, match="max_doc_freq"):
            dedup_against_substring(bat, "text", "doc_id", index=idx,
                                    min_tokens=5, max_doc_freq=3)
        with pytest.raises(ParameterException, match="max_doc_freq"):
            dedup_against_substring(bat, "text", "doc_id", index=idx,
                                    min_tokens=5, max_doc_freq=None)
    finally:
        idx.release()


def test_max_positions_bounds_generation_loop_corpus(spark):
    """Round 13: the within-doc repetition bound is ENFORCED by default —
    a generation-loop doc repeating one k-token shingle r times enters
    the index with at most max_positions occurrences per fingerprint, so
    alignments are cap^2-bounded per (pair, fp) instead of r^2."""
    from pyspark.sql import functions as SF

    from rasgoql_spark.functions.dedup import (
        _cap_positions, _positioned_postings, dedup_substring)

    r = 300
    loop = "the model repeats this phrase " * r      # 5-token phrase, r times
    rows = [(1, loop.strip()),
            (2, "intro the model repeats this phrase and then moves on")]
    docs = spark.createDataFrame(rows, "id BIGINT, text STRING")

    # capped postings: no (doc, fp) exceeds the cap
    capped = _cap_positions(
        _positioned_postings(docs, "text", "id", 5), 20, "__id")
    per = capped.groupBy("__id", "__fp").count().agg(SF.max("count")).first()[0]
    assert per <= 20
    # the 5-token loop cycles through 5 distinct shingle fingerprints;
    # uncapped, doc 1 carries ~r positions PER fp (r^2 self-alignments) —
    # capped, the whole posting list is <= 5 fps x 20 positions + edges
    n_capped = capped.filter("__id = 1").count()
    assert n_capped <= 5 * 20 + 10
    n_uncapped = _positioned_postings(docs, "text", "id", 5)\
        .filter("__id = 1").count()
    assert n_uncapped >= 5 * (r - 2)   # the blowup the cap removes

    # the operator still reports the cross-doc shared run, bounded
    pairs = dedup_substring(docs, "text", "id", min_tokens=5,
                            max_doc_freq=None).collect()
    assert any(p["ID_A"] == 1 and p["ID_B"] == 2 for p in pairs)
    # and max_positions=None restores the unbounded paper-exact path
    assert dedup_substring(
        docs, "text", "id", min_tokens=5, max_doc_freq=None,
        max_positions=None, mode="filter").count() == 1


def test_max_positions_postings_and_alignments_invariant_in_r(spark):
    """The max_positions bound makes a generation-loop doc's capped
    postings and candidate alignments INVARIANT in its repeat count r
    (uncapped they grow O(r) and O(r^2)); the cross-doc run is still
    reported at every r."""
    from pyspark.sql import functions as SF

    from rasgoql_spark.functions.dedup import (
        _cap_positions, _positioned_postings, dedup_substring)

    seen = set()
    for r in (300, 1_000, 3_000):
        loop = ("the model repeats this phrase " * r).strip()
        docs = spark.createDataFrame(
            [(1, loop),
             (2, "intro the model repeats this phrase and then moves on")],
            "id BIGINT, text STRING")
        p = _cap_positions(_positioned_postings(docs, "text", "id", 5), 20, "__id")
        la = p.select(SF.col("__id").alias("ia"), SF.col("__pos").alias("pa"), "__fp")
        lb = p.select(SF.col("__id").alias("ib"), SF.col("__pos").alias("pb"), "__fp")
        alignments = la.join(lb, on="__fp").filter("ia <= ib").count()
        seen.add((p.count(), alignments))
        pairs = dedup_substring(docs, "text", "id", min_tokens=5,
                                max_doc_freq=None).collect()
        assert any(q["ID_A"] == 1 and q["ID_B"] == 2 for q in pairs), r
    assert len(seen) == 1, seen


def test_row_local_cap_equals_windowed_cap(spark):
    """Round 13 optimization: the production position cap is applied
    row-locally inside the explode (_capped_positioned_explode — no
    posting-table shuffle); this pins its kept row set EQUAL to the
    windowed reference formulation (_cap_positions, what the DuckDB
    oracles replay) on a generation-loop corpus with interleaved repeats,
    for several cap values including 1 and None."""
    from pyspark.sql import functions as SF

    from rasgoql_spark.functions.dedup import (
        _cap_positions, _positioned_postings)

    rows = [
        (1, ("alpha beta gamma " * 50).strip()),          # 3-token loop
        (2, "alpha beta gamma delta " + "alpha beta gamma " * 7),
        (3, "one two three four five six seven"),          # clean doc
        (4, "x y " * 40 + "alpha beta gamma"),             # 2-token loop
    ]
    docs = spark.createDataFrame(rows, "id BIGINT, text STRING")
    for cap in (None, 1, 3, 20):
        ref = _cap_positions(
            _positioned_postings(docs, "text", "id", 3), cap, "__id")
        got = _positioned_postings(docs, "text", "id", 3, cap=cap)
        cols = ["__id", "__ck", "__pos", "__fp"]
        only_ref = ref.select(cols).exceptAll(got.select(cols)).count()
        only_got = got.select(cols).exceptAll(ref.select(cols)).count()
        assert only_ref == 0 and only_got == 0, (cap, only_ref, only_got)
        if cap is not None:
            per = (got.groupBy("__id", "__fp").count()
                   .agg(SF.max("count")).first()[0])
            assert per <= cap
    # the row-local path must plan shuffle-free: no Exchange below the
    # explode (the windowed form pays one)
    plan = _positioned_postings(docs, "text", "id", 3, cap=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_max_positions_baked_into_index_roundtrip_and_conflict(ref_bat, tmp_path):
    """The position cap is index state: save/load preserves it, update
    applies it to new contents, and an explicit conflicting value raises
    (the max_doc_freq contract)."""
    from rasgoql_spark.functions.dedup import (
        dedup_against_substring, load_substring_index, save_substring_index,
        substring_index)

    ref, bat = ref_bat
    idx = substring_index(ref, "text", "doc_id", min_tokens=5,
                          max_positions=7)
    try:
        assert idx.max_positions == 7
        save_substring_index(idx, str(tmp_path / "subidx"))
        loaded = load_substring_index(ref.sparkSession,
                                      str(tmp_path / "subidx"))
        try:
            assert loaded.max_positions == 7
            # omitted => index's cap; explicit match ok; conflict raises
            assert dedup_against_substring(
                bat, "text", "doc_id", index=loaded, min_tokens=5,
                mode="filter").count() == 1
            assert dedup_against_substring(
                bat, "text", "doc_id", index=loaded, min_tokens=5,
                max_positions=7, mode="filter").count() == 1
            with pytest.raises(ParameterException, match="max_positions"):
                dedup_against_substring(bat, "text", "doc_id", index=loaded,
                                        min_tokens=5, max_positions=3)
        finally:
            loaded.release()
    finally:
        idx.release()


def test_bucketed_index_rebucket_refreshes_stale_catalog(ref_bat, tmp_path):
    """Re-saving a bucketed artifact with a DIFFERENT bucket count must
    refresh the session's catalog entry on load — stale bucket metadata
    over re-bucketed files would silently mis-prune."""
    from rasgoql_spark.functions.dedup import (
        dedup_against_substring, load_substring_index, save_substring_index,
        substring_index)

    ref, bat = ref_bat
    spark = ref.sparkSession
    path = str(tmp_path / "subidx")
    idx = substring_index(ref, "text", "doc_id", min_tokens=5)
    try:
        save_substring_index(idx, path, bucket_by_fp=2)
        l1 = load_substring_index(spark, path)
        n1 = dedup_against_substring(bat, "text", "doc_id", index=l1,
                                     min_tokens=5, mode="pairs").count()
        l1.release()
        save_substring_index(idx, path, bucket_by_fp=4)
        l2 = load_substring_index(spark, path)
        n2 = dedup_against_substring(bat, "text", "doc_id", index=l2,
                                     min_tokens=5, mode="pairs").count()
        l2.release()
        assert n1 == n2 == 2
    finally:
        idx.release()
        from rasgoql_spark.functions.dedup import _substring_bucket_table

        spark.sql(f"DROP TABLE IF EXISTS {_substring_bucket_table(path)}")
