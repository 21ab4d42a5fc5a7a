"""Curation operator tests: decontamination flags eval overlap, PII scrubbing
redacts + counts, URL extraction, repetition signals, deterministic shuffle."""

import pytest
from pyspark.sql import functions as F

import rasgoql_spark as rql


@pytest.fixture(scope="module")
def corpus(spark):
    # docs 1 and 2 share long runs with the eval set; 3 is clean
    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, eval_text + " extra tail words here"),           # heavy overlap
        (2, "prefix words " + eval_text),                    # heavy overlap
        (3, "totally unrelated content about joins and shuffles in spark"),
        (4, ""),                                             # empty doc
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def eval_set(spark):
    return spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        ["eval_id", "text"],
    )


def test_decontaminate_scores(corpus, eval_set):
    out = rql.get_transform("decontaminate").apply(
        corpus, text="text", id_col="doc_id", eval_table=eval_set, ngram=4
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["NGRAM_MATCHED"] > 0 and rows[2]["NGRAM_MATCHED"] > 0
    assert rows[3]["NGRAM_MATCHED"] == 0
    assert rows[4]["NGRAM_TOTAL"] == 0 and rows[4]["CONTAMINATION"] == 0.0
    # doc 1: tokens = 8 eval + 4 tail = 12 → 9 distinct 4-grams, 5 from eval
    assert rows[1]["NGRAM_TOTAL"] == 9 and rows[1]["NGRAM_MATCHED"] == 5
    assert abs(rows[1]["CONTAMINATION"] - 5 / 9) < 1e-6


def test_decontaminate_filter_drops_contaminated(corpus, eval_set):
    out = rql.get_transform("decontaminate").apply(
        corpus, text="text", id_col="doc_id", eval_table=eval_set,
        ngram=4, threshold=0.3, mode="filter",
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {3, 4}


def test_pii_scrub(spark):
    rows = [
        (1, "mail user3@example.com or 10.0.12.7 phone +1 415-555-0042 end"),
        (2, "two a.b@c.de f@g.hi ips 255.255.255.255 1.1.1.1 tel 123-456-7890"),
        (3, "no pii here just words 42"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in
           rql.get_transform("pii_scrub").apply(df, text="text").collect()}
    assert out[1]["text"] == "mail <EMAIL> or <IP> phone <PHONE> end"
    assert (out[1]["PII_EMAILS"], out[1]["PII_IPS"], out[1]["PII_PHONES"]) == (1, 1, 1)
    assert (out[2]["PII_EMAILS"], out[2]["PII_IPS"], out[2]["PII_PHONES"]) == (2, 2, 1)
    assert out[3]["text"] == "no pii here just words 42"
    assert (out[3]["PII_EMAILS"], out[3]["PII_IPS"], out[3]["PII_PHONES"]) == (0, 0, 0)


def test_extract_urls(spark):
    df = spark.createDataFrame(
        [(1, "see https://Example.com/a and http://example.com/b plus https://other.org"),
         (2, "no links")],
        ["id", "text"],
    )
    out = {r["id"]: r for r in
           rql.get_transform("extract_urls").apply(df, text="text").collect()}
    assert out[1]["URL_COUNT"] == 3
    assert out[1]["DOMAINS"] == ["example.com", "other.org"]
    assert out[2]["URL_COUNT"] == 0 and out[2]["URLS"] == []


def test_repetition_stats(spark):
    repeated = "same line\nsame line\nother line\n\n"
    wordy = "word word word word unique"
    df = spark.createDataFrame([(1, repeated), (2, wordy)], ["id", "text"])
    out = {r["id"]: r for r in
           rql.get_transform("repetition_stats").apply(df, text="text").collect()}
    assert out[1]["N_LINES"] == 3
    assert abs(out[1]["DUP_LINE_RATIO"] - (1 - 2 / 3)) < 1e-6
    assert abs(out[2]["WORD_REP_RATIO"] - (1 - 2 / 5)) < 1e-6
    assert abs(out[2]["MEAN_WORD_LEN"] - 22 / 5) < 1e-6


def test_shuffle_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["id"])
    t = rql.get_transform("shuffle_deterministic")
    a = [r["id"] for r in t.apply(df, key="id", seed=1).collect()]
    b = [r["id"] for r in t.apply(df, key="id", seed=1).collect()]
    c = [r["id"] for r in t.apply(df, key="id", seed=2).collect()]
    assert a == b                      # same seed → identical order
    assert a != c                      # different seed → different permutation
    assert sorted(a) == list(range(100)) == sorted(c)  # content preserved
    assert a != list(range(100))       # actually shuffled


def test_decontaminate_chain_with_table_name(session):
    # eval_table passed as a registered table name through the chain API
    out = (session.dataset("documents")
           .decontaminate(text="text", id_col="doc_id",
                          eval_table="documents", ngram=5))
    row = out.df.filter(F.col("NGRAM_TOTAL") > 0).limit(1).collect()
    # self-decontamination: every doc fully contaminated by construction
    assert row and row[0]["NGRAM_MATCHED"] == row[0]["NGRAM_TOTAL"]


def test_remove_boilerplate_drops_common_lines(spark):
    import rasgoql_spark as rql

    rows = [
        (1, "alpha unique line\nCopyright Footer\nbeta content"),
        (2, "gamma words here\ncopyright footer"),
        (3, "delta solo\nCOPYRIGHT FOOTER  \nepsilon"),
        (4, "no boilerplate at all"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in rql.get_transform("remove_boilerplate").apply(
        df, text="text", id_col="doc_id", min_doc_frequency=3).collect()}
    assert out[1]["text"] == "alpha unique line\nbeta content"  # casing kept
    assert out[2]["text"] == "gamma words here"
    assert out[3]["text"] == "delta solo\nepsilon"
    assert out[4]["text"] == "no boilerplate at all"
    assert out[5]["text"] == "" and out[5]["N_LINES_REMOVED"] == 0
    assert all(out[d]["N_LINES_REMOVED"] == 1 for d in (1, 2, 3))


def test_quality_filter_rules(spark):
    import rasgoql_spark as rql

    rows = [
        (1, "one two three four five six seven eight nine ten"),   # passes
        (2, "spam spam spam spam spam spam spam spam spam spam"),  # rep ratio
        (3, "tiny"),                                               # too short
        (4, "a b c d e f g h i j"),                                # word len 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(text="text", min_tokens=5, max_word_rep_ratio=0.5,
              min_mean_word_len=2.0)
    kept = {r["doc_id"] for r in rql.get_transform("quality_filter")
            .apply(df, **kw).collect()}
    assert kept == {1}
    flags = {r["doc_id"]: r["QUALITY_PASS"] for r in rql.get_transform(
        "quality_filter").apply(df, mode="flag", **kw).collect()}
    assert flags == {1: True, 2: False, 3: False, 4: False}


def test_full_training_pipeline_end_to_end(session, tmp_path):
    """The complete corpus-curation pipeline composes as one chain:
    quality gate -> PII scrub -> boilerplate removal -> exact dedup ->
    eval decontamination -> deterministic shuffle -> sharded sink."""
    import glob

    import pyarrow.parquet as pq

    docs = session.dataset("documents")
    ev = docs.filter(filter_statements=["doc_id % 25 = 0"])
    cleaned = (
        docs
        .quality_filter(text="text", min_tokens=10, max_word_rep_ratio=0.9)
        .pii_scrub(text="text")
        .remove_boilerplate(text="text", id_col="doc_id", min_doc_frequency=400)
        .dedup_exact(text="text", id_col="doc_id")
        .decontaminate(text="text", id_col="doc_id", eval_table=ev,
                       ngram=5, threshold=0.5, mode="filter")
        .shuffle_deterministic(key="doc_id", seed=13)
    )
    n = cleaned.df.count()
    assert 0 < n <= docs.df.count()
    # eval docs (fully contaminated against themselves) must be gone
    assert cleaned.df.filter("doc_id % 25 = 0").count() == 0
    # deterministic: same seed, same first row
    first = cleaned.df.first()["doc_id"]
    assert first == (
        docs.quality_filter(text="text", min_tokens=10, max_word_rep_ratio=0.9)
        .pii_scrub(text="text")
        .remove_boilerplate(text="text", id_col="doc_id", min_doc_frequency=400)
        .dedup_exact(text="text", id_col="doc_id")
        .decontaminate(text="text", id_col="doc_id", eval_table=ev,
                       ngram=5, threshold=0.5, mode="filter")
        .shuffle_deterministic(key="doc_id", seed=13)
        .df.first()["doc_id"]
    )
    out = str(tmp_path / "corpus_shards")
    cleaned.save_shards(out, rows_per_shard=100, num_shards=2)
    files = glob.glob(out + "/*.parquet")
    assert files and sum(pq.read_metadata(f).num_rows for f in files) == n


def test_unigram_logprob_self_scored(session, spark):
    out = session.dataset("documents").unigram_logprob(text="text", id_col="doc_id")
    df = out.df
    rows = df.select("doc_id", "AVG_LOGPROB", "OOV_RATIO").collect()
    assert len(rows) == session.dataset("documents").df.count()
    # self-scored: every token is in-vocab (distinct tokens << cap)
    assert all(r["OOV_RATIO"] == 0.0 for r in rows)
    assert all(r["AVG_LOGPROB"] < 0.0 for r in rows)
    # renderer parity
    session.dataset("documents").df.createOrReplaceTempView("documents")
    via = spark.sql(out.sql())
    a = {r["doc_id"]: (r["AVG_LOGPROB"], r["OOV_RATIO"]) for r in df.collect()}
    b = {r["doc_id"]: (r["AVG_LOGPROB"], r["OOV_RATIO"]) for r in via.collect()}
    assert a == b


def test_unigram_logprob_reference_and_edge_cases(spark):
    import rasgoql_spark as rql
    from pyspark.sql import functions as F

    ref = spark.createDataFrame(
        [(1, "common common common words here"), (2, "common words again")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(10, "common words"),          # fully in-vocab, frequent tokens
         (11, "zebra quark"),           # fully OOV
         (12, ""),                      # empty → 0.0 / 0.0
         (13, "common zebra")],         # half OOV
        "doc_id long, text string")
    out = rql.get_transform("unigram_logprob").apply(
        docs, text="text", id_col="doc_id", reference=ref)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[10]["OOV_RATIO"] == 0.0
    assert got[11]["OOV_RATIO"] == 1.0
    assert got[12]["AVG_LOGPROB"] == 0.0 and got[12]["OOV_RATIO"] == 0.0
    assert got[13]["OOV_RATIO"] == 0.5
    # frequent-token doc scores strictly higher than OOV doc
    assert got[10]["AVG_LOGPROB"] > got[11]["AVG_LOGPROB"]


URL_CASES = [
    (1, "HTTP://WWW.Example.com:80/a//b/?utm_source=x&b=2&a=1#frag"),
    (2, "http://example.com/a/b?a=1&b=2"),
    (3, "https://Example.COM:443/"),
    (4, "https://example.com"),
    (5, "https://example.com./path/?fbclid=abc"),
    (6, "ftp://example.com/x"),
    (7, None),
    (8, "  https://www.example.com/a/b/?ref=nav&x=1  "),
    (9, "https://example.com:8443/p?gclid=1&msclkid=2&utm_=3"),
    (10, "http://example.com/a/b?b=2&a=1"),
]


def test_url_normalize(spark):
    df = spark.createDataFrame(URL_CASES, "id long, url string")
    out = rql.get_transform("url_normalize").apply(df, url="url")
    rows = {r["id"]: r["URL_CANON"] for r in out.collect()}
    # equivalent surface forms canonicalize identically
    assert rows[1] == rows[2] == rows[10] == "http://example.com/a/b?a=1&b=2"
    assert rows[3] == rows[4] == "https://example.com"
    assert rows[5] == "https://example.com/path"      # trailing host dot + fbclid
    assert rows[8] == "https://example.com/a/b?x=1"   # ref stripped, x kept
    assert rows[9] == "https://example.com:8443/p"    # non-default port kept
    assert rows[6] == "ftp://example.com/x"           # non-http passthrough
    assert rows[7] is None


def test_dedup_url(spark):
    df = spark.createDataFrame(URL_CASES, "id long, url string")
    out = rql.get_transform("dedup_url").apply(df, url="url", id_col="id")
    assert sorted(r["id"] for r in out.select("id").collect()) \
        == [1, 3, 5, 6, 7, 8, 9]
    flag = rql.get_transform("dedup_url").apply(
        df, url="url", id_col="id", mode="flag")
    dups = {r["id"]: r["URL_DUP"] for r in flag.collect()}
    assert dups == {1: False, 2: True, 3: False, 4: True, 5: False, 6: False,
                    7: False, 8: False, 9: False, 10: True}
    mx = rql.get_transform("dedup_url").apply(
        df, url="url", id_col="id", keep="max")
    assert sorted(r["id"] for r in mx.select("id").collect()) \
        == [4, 5, 6, 7, 8, 9, 10]  # NULL url (7) always kept


def test_round4_pipeline_end_to_end(session, tmp_path):
    """The round-4 curation pipeline: text normalization -> winnow overlap
    dedup -> bigram LM scoring -> quality cut on the LM score ->
    token-budget sampling -> sharded JSONL sink, plus a mixture_weights
    report. Heavy multi-join stages are MATERIALIZED between steps (persist
    here; save() to a table in production) — composing them lazily makes
    every downstream consumer re-execute the dedup anti-join and the LM
    count joins, the classic pipeline-boundary mistake."""
    import glob

    import rasgoql_spark as rql

    docs = session.dataset("documents").filter(
        filter_statements=["doc_id < 150"])
    deduped = (
        docs
        .text_normalize(text="text", name="text")
        .dedup_winnow(text="text", id_col="doc_id", threshold=0.6, mode="filter")
        .df.persist()
    )
    n_dedup = deduped.count()
    assert 0 < n_dedup <= 150

    scored = (
        rql.SQLChain(session, deduped, "r4_deduped")
        .bigram_logprob(text="text", id_col="doc_id")
        .df.persist()
    )
    med = scored.approxQuantile("AVG_BIGRAM_LOGPROB", [0.5], 0.0)[0]
    kept = rql.SQLChain(session, scored, "r4_scored").filter(
        filter_statements=[f"AVG_BIGRAM_LOGPROB >= {med}"])

    budgeted = kept.token_count(text="text").sample_to_token_budget(
        token_count_col="TOKEN_COUNT", budget=5000, id_col="doc_id", seed=11)
    n_rows = budgeted.df.count()
    assert 0 < n_rows <= n_dedup
    total = budgeted.df.agg({"TOKEN_COUNT": "sum"}).collect()[0][0]
    assert total <= 5000 + 400  # budget + one overshoot doc

    report = kept.mixture_weights(domain="lang").df.collect()
    assert abs(sum(r["WEIGHT"] for r in report) - 1.0) < 1e-4

    out = str(tmp_path / "r4_shards")
    budgeted.save_shards(out, rows_per_shard=50, num_shards=2, file_format="json")
    files = glob.glob(out + "/*.json")
    assert files
    n_lines = sum(1 for f in files for _ in open(f))
    assert n_lines == n_rows
    deduped.unpersist()
    scored.unpersist()


# ---------------------------------------------------------------- pseudonymize

def test_pseudonymize_join_consistency_and_nulls(spark):
    from rasgoql_spark.functions.curation import pseudonymize

    a = spark.createDataFrame([(1, "x"), (2, "y"), (None, "z")], "uid long, v string")
    b = spark.createDataFrame([(1, "p"), (3, "q")], "uid long, w string")
    pa = pseudonymize(a, ["uid"], salt="s")
    pb = pseudonymize(b, ["uid"], salt="s")
    joined = pa.join(pb, on="uid")
    assert joined.count() == 1  # uid=1 still matches across tables
    row = {r["v"]: r["uid"] for r in pa.collect()}
    assert row["z"] is None  # NULL stays NULL
    assert row["x"] is not None and len(row["x"]) == 16
    # different salt unlinks
    pb2 = pseudonymize(b, ["uid"], salt="other")
    assert pa.join(pb2, on="uid").count() == 0


def test_pseudonymize_validation(spark):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.curation import pseudonymize

    df = spark.createDataFrame([(1,)], "uid long")
    with _pytest.raises(ParameterException):
        pseudonymize(df, ["uid"], salt="")
    with _pytest.raises(ParameterException):
        pseudonymize(df, ["uid"], salt="s", length=2)


def test_pseudonymize_render_escapes_salt(session, spark):
    # a salt containing quotes/backslashes must render into executable SQL
    # that matches the DataFrame transform, not break the query text
    from rasgoql_spark.functions.curation import pseudonymize

    salt = "o'br\\ien's"
    ds = session.dataset("documents")
    ds.df.createOrReplaceTempView("documents")
    chained = ds.pseudonymize(columns=["source"], salt=salt, length=12)
    sql = chained.sql()
    via_sql = {r["doc_id"]: r["source"] for r in spark.sql(sql).collect()}
    via_df = {
        r["doc_id"]: r["source"]
        for r in pseudonymize(ds.df, ["source"], salt=salt, length=12)
        .collect()
    }
    assert via_sql == via_df and via_df
    # cross-dialect: an ANSI-literal engine (DuckDB keeps '\' as-is; Spark's
    # default parser eats one) must compute the SAME pseudonyms from the
    # rendered artifact — the renderer may not rely on backslash doubling.
    # (sha2(x,256) -> sha256(x) is a function-NAME translation, not a
    # literal-semantics one.)
    import duckdb

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{session.data_dir}/documents.parquet')"
    )
    duck_sql = sql.replace("sha2(", "sha256(").replace("), 256)", "))")
    via_duck = {
        r[0]: r[1]
        for r in con.sql(
            f"SELECT doc_id, source FROM ({duck_sql})"
        ).fetchall()
    }
    assert via_duck == via_df


def test_filter_mode_input_cache_is_selective(spark, corpus, eval_set):
    """Round 14: filter mode persists its input across its two consumers
    (scoring pipeline + anti-join left) ONLY when the input embeds real
    computed work. Scan/local inputs re-read cheaper than they cache; a
    mid-chain input (window/aggregate upstream) gets exactly one scoped
    persist, released with the result."""
    import gc

    from pyspark.sql import Window

    from rasgoql_spark.functions import _cache
    from rasgoql_spark.functions._cache import cheap_to_recompute

    # the helper's verdicts: per-row work over a relation is cheap ...
    assert cheap_to_recompute(corpus)
    assert cheap_to_recompute(corpus.filter("doc_id > 1").select("doc_id", "text"))
    # ... anything with a window / aggregate / join upstream is not
    w = Window.partitionBy("doc_id").orderBy("doc_id")
    heavy = (
        corpus.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )
    assert not cheap_to_recompute(heavy)
    assert not cheap_to_recompute(
        corpus.groupBy("doc_id").agg(F.first("text").alias("text"))
    )

    dec = rql.get_transform("decontaminate")
    # cheap input: no input cache registered
    gc.collect()
    n0 = len(_cache._ENTRIES)
    out_cheap = dec.apply(
        corpus, text="text", id_col="doc_id", eval_table=eval_set,
        ngram=4, threshold=0.3, mode="filter",
    )
    assert len(_cache._ENTRIES) == n0
    assert {r["doc_id"] for r in out_cheap.collect()} == {3, 4}

    # mid-chain input: one scoped persist, same survivors (doc_id is unique,
    # so the rn=1 window keeps every row), released when the result drops
    out_heavy = dec.apply(
        heavy, text="text", id_col="doc_id", eval_table=eval_set,
        ngram=4, threshold=0.3, mode="filter",
    )
    assert len(_cache._ENTRIES) == n0 + 1
    assert {r["doc_id"] for r in out_heavy.collect()} == {3, 4}
    del out_heavy
    gc.collect()
    assert len(_cache._ENTRIES) == n0


def test_warm_rerun_reuses_generated_code(session):
    """A chain rebuilt and re-run against the same engine must not recompile
    its generated classes: the curation chain plus near_dup_clusters
    compiles more classes than Spark's default 100-entry codegen cache
    holds, so without default_spark's larger cache every re-run evicted and
    recompiled them (~116 compiles on the test documents)."""
    codegen = session.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    url = (
        "SELECT doc_id, text, lang, CASE WHEN doc_id % 4 = 0 THEN "
        "concat('HTTP://WWW.Site', CAST(doc_id % 97 AS STRING), '.com:80/a/?b=2&a=1#f') "
        "ELSE concat('https://site', CAST(doc_id AS STRING), '.org/p') END AS url "
        "FROM {{source_table}}"
    )

    def run():
        docs = session.dataset("documents")
        ev = docs.filter(filter_statements=["doc_id % 50 = 3"])
        c = docs.apply(sql=url).url_normalize(url="url").dedup_url(url="url", id_col="doc_id")
        c = c.decontaminate(text="text", id_col="doc_id", eval_table=ev, ngram=5,
                            threshold=0.5, mode="filter")
        c = c.quality_filter(text="text", min_tokens=20, max_word_rep_ratio=0.6)
        c = c.dedup_minhash(text="text", id_col="doc_id", threshold=0.5, mode="filter")
        en = c.filter(filter_statements=["lang = 'en'"])
        rest = c.filter(filter_statements=["lang <> 'en'"])
        mixed = en.mix_datasets(others=[rest], weights=[3, 1], key="doc_id")
        ndc = docs.filter(filter_statements=["doc_id % 6 = 1"]).near_dup_clusters(
            text="text", id_col="doc_id", threshold=0.5)
        return mixed.df.count(), ndc.df.count()

    first = run()
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    assert run() == first
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before <= 10
