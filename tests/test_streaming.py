"""True Structured-Streaming tests: file-source micro-batches through the same
transform surface, results checked against the batch plan."""

import os

import pytest
from pyspark.sql import functions as F

import rasgoql_spark as rql
from rasgoql_spark.streaming.ops import read_events_stream

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Split events into 3 parquet files so the file source produces 3
    micro-batches (maxFilesPerTrigger=1)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    session = rql.RasgoSession(spark, data_dir=SF_DIR)
    ev = session.dataset("events").df
    ev.repartition(3).write.mode("overwrite").parquet(out)
    return out


def _run_stream(df, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return df.sparkSession.table(name)


def test_tumbling_window_stream_matches_batch(spark, events_stream_dir):
    sdf = read_events_stream(spark, events_stream_dir)
    chain_fn = rql.get_transform("tumbling_window").apply
    streamed = _run_stream(
        chain_fn(sdf, ts="ts", duration="1 hour",
                 aggregations={"event_id": ["COUNT"]}, group_by=["event_type"],
                 watermark="2 hours"),
        "t_tumble")
    batch = chain_fn(spark.read.parquet(events_stream_dir), ts="ts",
                     duration="1 hour", aggregations={"event_id": ["COUNT"]},
                     group_by=["event_type"])
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_session_window_stream_runs(spark, events_stream_dir):
    sdf = read_events_stream(spark, events_stream_dir)
    out = rql.get_transform("session_window_agg").apply(
        sdf, ts="ts", gap="30 minutes",
        aggregations={"event_id": ["COUNT"]}, group_by=["user_id"],
        watermark="2 hours")
    got = _run_stream(out, "t_session")
    assert got.count() > 0
    assert {"SESSION_START", "SESSION_END", "user_id", "EVENT_ID_COUNT"} <= set(got.columns)


def test_stream_dedup_requires_watermark(spark, events_stream_dir):
    sdf = read_events_stream(spark, events_stream_dir)
    with pytest.raises(rql.ParameterException):
        rql.get_transform("stream_dedup").apply(sdf, keys=["user_id"])


def test_stream_dedup_with_watermark(spark, events_stream_dir):
    sdf = read_events_stream(spark, events_stream_dir)
    # watermark wider than the data's time span: randomly-split files mean
    # each micro-batch spans the full range, so a narrow watermark would
    # (correctly) drop cross-batch late rows — not what this test checks
    deduped = rql.get_transform("stream_dedup").apply(
        sdf, keys=["event_id"], ts="ts", watermark="24000 hours")
    q = (deduped.writeStream.format("memory").queryName("t_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("t_dedup")
    assert got.count() == spark.read.parquet(events_stream_dir).count()  # ids unique


def test_foreach_batch_sink_to_table(spark, events_stream_dir, tmp_path, drop_table):
    from rasgoql_spark.streaming.ops import write_stream_to_table

    drop_table("t_sink")
    sdf = read_events_stream(spark, events_stream_dir)
    filtered = sdf.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value")
    q = write_stream_to_table(filtered, "t_sink", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    sunk = spark.table("t_sink").count()
    expected = (spark.read.parquet(events_stream_dir)
                .filter(F.col("event_type") == "purchase").count())
    assert sunk == expected


def test_chain_api_on_streaming_df(spark, events_stream_dir):
    """Streaming DataFrames flow through the same SQLChain transform surface;
    batch-only transforms are rejected up front."""
    session = rql.RasgoSession(spark)
    sdf = read_events_stream(spark, events_stream_dir)
    chain = rql.SQLChain(session, sdf, "events_stream")
    filtered = chain.filter(filter_statements=["event_type = 'click'"]) \
                    .math(math_ops=["value * 2"], names=["V2"])
    assert filtered.df.isStreaming
    with pytest.raises(rql.ParameterException):
        filtered.aggregate(group_by=["user_id"], aggregations={"value": ["SUM"]})


def test_session_stream_api(spark, events_stream_dir):
    """session.stream() gives the chainable API over a streaming source."""
    import rasgoql_spark as rql

    session = rql.RasgoSession(spark)
    chain = (session.stream(events_stream_dir, max_files_per_trigger=1)
             .filter(filter_statements=["value > 50"])
             .tumbling_window(ts="ts", duration="1 hour",
                              aggregations={"event_id": ["COUNT"]},
                              group_by=["event_type"], watermark="2 hours"))
    assert chain.df.isStreaming
    got = _run_stream(chain.df, "t_sess_api")
    assert got.count() > 0


def test_stream_sessionize_stateful_matches_batch(spark, tmp_path_factory):
    """Custom stateful operator (applyInPandasWithState): sessions emitted by
    the stream must be exactly batch sessions (subset — sessions still open
    at end-of-stream flush only when the watermark passes their timeout)."""
    import time as _time

    out = str(tmp_path_factory.mktemp("events_ranged"))
    session = rql.RasgoSession(spark, data_dir=SF_DIR)
    ev = session.dataset("events").df
    # micro-batches must arrive in event-time order (the file source orders
    # by modification time): write three disjoint time slices sequentially
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    for i in range(3):
        part = ev.filter(
            (F.col("ts") >= lo + i * span)
            & ((F.col("ts") < lo + (i + 1) * span) if i < 2 else (F.col("ts") <= hi))
        )
        part.coalesce(1).write.mode("append").parquet(out)
        _time.sleep(1.1)
    sdf = read_events_stream(spark, out)
    tr = rql.get_transform("stream_sessionize")
    streamed = tr.apply(sdf, entity="user_id", ts="ts",
                        gap_minutes=1440, watermark="1 second")
    q = (streamed.writeStream.format("memory").queryName("t_sessionize")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("t_sessionize").collect()}
    batch = tr.apply(spark.read.parquet(out), entity="user_id", ts="ts",
                     gap_minutes=1440)
    expected = {tuple(r) for r in batch.collect()}
    assert len(got) > 0
    assert got <= expected
    # with in-order batches + tiny watermark, most sessions should close
    assert len(got) >= len(expected) * 0.5


def test_stream_sessionize_batch_mode(spark):
    session = rql.RasgoSession(spark, data_dir=SF_DIR)
    out = session.dataset("events").stream_sessionize(
        entity="user_id", ts="ts", gap_minutes=1440)
    df = out.df
    assert df.columns == ["user_id", "SESSION_START", "SESSION_END", "N_EVENTS"]
    # N_EVENTS sums back to the event count
    total = df.agg(F.sum("N_EVENTS")).collect()[0][0]
    assert total == session.dataset("events").df.count()


def test_curation_ops_on_stream_match_batch(spark, tmp_path_factory):
    """Row-local curation ops (pii_scrub / repetition_stats / extract_urls)
    run unchanged on a streaming frame and produce the batch answer."""
    out = str(tmp_path_factory.mktemp("docs_stream"))
    session = rql.RasgoSession(spark, data_dir=SF_DIR)
    docs = session.dataset("documents").df.limit(100)
    docs.repartition(2).write.mode("overwrite").parquet(out)

    sdf = (spark.readStream.schema(docs.schema)
           .option("maxFilesPerTrigger", 1).parquet(out))
    chain = (rql.SQLChain(session, sdf, "docs_stream")
             .pii_scrub(text="text")
             .repetition_stats(text="text"))
    assert chain.df.isStreaming
    q = (chain.df.writeStream.format("memory").queryName("t_curation")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("t_curation")

    batch = rql.SQLChain(session, spark.read.parquet(out), "docs_batch") \
        .pii_scrub(text="text").repetition_stats(text="text").df
    assert got.count() == batch.count() == 100
    s_cols = sorted(got.columns)
    assert s_cols == sorted(batch.columns)
    a = {r["doc_id"]: r for r in got.collect()}
    b = {r["doc_id"]: r for r in batch.collect()}
    assert all(a[k]["WORD_REP_RATIO"] == b[k]["WORD_REP_RATIO"] for k in b)


def test_stream_sessionize_out_of_order_microbatch(spark, tmp_path_factory):
    """A late-but-within-watermark event arriving in a LATER micro-batch with
    a timestamp inside the stored session must widen the session (min/max
    merge), never shrink SESSION_END to the late event's timestamp."""
    import time as _time
    from datetime import datetime

    out = str(tmp_path_factory.mktemp("events_ooo"))

    def write_batch(rows):
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        df.coalesce(1).write.mode("append").parquet(out)
        _time.sleep(1.1)

    t = lambda m: datetime(2024, 1, 1, m // 60, m % 60)
    # batch 1: user 1 session spans [00:00, 00:10]
    write_batch([(1, t(0)), (1, t(10))])
    # batch 2: LATE event at 00:05 (inside the stored session; watermark is
    # 60 min so it is accepted) + a far-future user-2 event that pushes the
    # watermark past user 1's session timeout (00:10 + 30 min gap)
    write_batch([(1, t(5)), (2, t(600))])
    # batch 3: advances processing so user 1's event-time timeout fires
    write_batch([(3, t(1200))])

    sdf = read_events_stream(spark, out)
    streamed = rql.get_transform("stream_sessionize").apply(
        sdf, entity="user_id", ts="ts", gap_minutes=30, watermark="60 minutes")
    q = (streamed.writeStream.format("memory").queryName("t_sessionize_ooo")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["user_id"]: r for r in spark.table("t_sessionize_ooo").collect()}
    assert 1 in got, "user 1 session should have closed via event-time timeout"
    sess = got[1]
    assert sess["SESSION_START"] == t(0)
    assert sess["SESSION_END"] == t(10), (
        "late event must not shrink SESSION_END")
    assert sess["N_EVENTS"] == 3


def test_stream_join_stream_stream_matches_batch(spark, tmp_path_factory):
    """True stream-stream join: two file-source streams joined on key with
    an event-time proximity bound must emit exactly the batch join rows."""
    import time as _time
    from datetime import datetime

    d1 = str(tmp_path_factory.mktemp("sj_left"))
    d2 = str(tmp_path_factory.mktemp("sj_right"))
    t = lambda m: datetime(2024, 1, 1, m // 60, m % 60)
    lrows = [(1, t(0), "a"), (1, t(30), "b"), (2, t(10), "c")]
    rrows = [(1, t(5), 10.0), (1, t(300), 20.0), (2, t(12), 30.0), (3, t(1), 40.0)]
    ldf = spark.createDataFrame(lrows, "user_id long, ts timestamp, tag string")
    rdf = spark.createDataFrame(rrows, "user_id long, ts timestamp, amount double")
    ldf.coalesce(1).write.mode("overwrite").parquet(d1)
    _time.sleep(1.1)
    rdf.coalesce(1).write.mode("overwrite").parquet(d2)

    ls = spark.readStream.schema(ldf.schema).option("maxFilesPerTrigger", 1).parquet(d1)
    rs = spark.readStream.schema(rdf.schema).option("maxFilesPerTrigger", 1).parquet(d2)
    tr = rql.get_transform("stream_join")
    joined = tr.apply(ls, other=rs, keys="user_id", left_ts="ts",
                      within="10 minutes", watermark="1 hour")
    assert joined.df.isStreaming if hasattr(joined, "df") else joined.isStreaming
    q = (joined.writeStream.format("memory").queryName("t_stream_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["tag"], r["R_amount"])
           for r in spark.table("t_stream_join").collect()}
    batch = tr.apply(ldf, other=rdf, keys="user_id", left_ts="ts",
                     within="10 minutes", watermark="1 hour")
    expected = {(r["user_id"], r["tag"], r["R_amount"]) for r in batch.collect()}
    # (1,a)~10.0 within 5min; (2,c)~30.0 within 2min; t(300) and user 3 excluded
    assert expected == {(1, "a", 10.0), (2, "c", 30.0)}
    assert got == expected


def test_round3_rowlocal_ops_on_stream_match_batch(spark, tmp_path_factory):
    """Row-local round-3 ops (real-BPE token_count, bpe_encode,
    sentence_split) run unchanged on a streaming frame and produce the
    batch answer."""
    out = str(tmp_path_factory.mktemp("docs_stream_r3"))
    session = rql.RasgoSession(spark, data_dir=SF_DIR)
    docs = session.dataset("documents").df.limit(60)
    docs.repartition(2).write.mode("overwrite").parquet(out)
    sdf = (spark.readStream.schema(docs.schema)
           .option("maxFilesPerTrigger", 1).parquet(out))
    chain = (rql.SQLChain(session, sdf, "docs_stream_r3")
             .token_count(text="text", method="bpe", name="BPE_N")
             .bpe_encode(text="text"))
    assert chain.df.isStreaming
    q = (chain.df.writeStream.format("memory").queryName("t_r3_rowlocal")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: (r["BPE_N"], tuple(r["BPE_TOKENS"])) for r in
           spark.table("t_r3_rowlocal").collect()}
    batch = (rql.SQLChain(session, spark.read.parquet(out), "docs_b3")
             .token_count(text="text", method="bpe", name="BPE_N")
             .bpe_encode(text="text")).df
    exp = {r["doc_id"]: (r["BPE_N"], tuple(r["BPE_TOKENS"])) for r in batch.collect()}
    assert got == exp and len(got) == 60


def test_stream_join_left_outer_emits_unmatched_after_watermark(spark, tmp_path_factory):
    """Left-outer stream-stream join: an unmatched left row must emit with
    NULL right columns once the watermark passes its join window (state
    eviction), not hang in state forever."""
    import time as _time
    from datetime import datetime

    d1 = str(tmp_path_factory.mktemp("sjo_left"))
    d2 = str(tmp_path_factory.mktemp("sjo_right"))
    from datetime import timedelta
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)

    def wb(path, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(path)
        _time.sleep(1.1)

    ls = "user_id long, ts timestamp, tag string"
    rs = "user_id long, ts timestamp, amount double"
    # batch 1: matched pair (user 1) + unmatched left (user 2)
    wb(d1, [(1, t(0), "m"), (2, t(0), "u")], ls)
    wb(d2, [(1, t(2), 5.0)], rs)
    # batches 2-3: far-future rows on BOTH sides push the global watermark
    # far past user 2's join window, then one more batch evicts state
    for m in (600, 1200, 1800):
        wb(d1, [(9, t(m), "wm")], ls)
        wb(d2, [(9, t(m), 0.0)], rs)

    sl = spark.readStream.schema(spark.createDataFrame([], ls).schema) \
        .option("maxFilesPerTrigger", 1).parquet(d1)
    sr = spark.readStream.schema(spark.createDataFrame([], rs).schema) \
        .option("maxFilesPerTrigger", 1).parquet(d2)
    joined = rql.get_transform("stream_join").apply(
        sl, other=sr, keys="user_id", left_ts="ts",
        within="5 minutes", watermark="10 minutes", join_type="left_outer")
    q = (joined.writeStream.format("memory").queryName("t_sj_outer")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.table("t_sj_outer").collect()
    got = {(r["user_id"], r["tag"]): r["R_amount"] for r in rows}
    assert got[(1, "m")] == 5.0  # matched pair
    assert (2, "u") in got and got[(2, "u")] is None  # evicted with NULLs


def test_round4_rowlocal_ops_on_stream_match_batch(spark, tmp_path_factory):
    """Row-local round-4 ops (winnow_fingerprint, text_normalize) run
    unchanged on a streaming frame and produce the batch answer."""
    out = str(tmp_path_factory.mktemp("docs_stream_r4"))
    session = rql.RasgoSession(spark, data_dir=SF_DIR)
    docs = session.dataset("documents").df.limit(60)
    docs.repartition(2).write.mode("overwrite").parquet(out)
    sdf = (spark.readStream.schema(docs.schema)
           .option("maxFilesPerTrigger", 1).parquet(out))
    chain = (rql.SQLChain(session, sdf, "docs_stream_r4")
             .winnow_fingerprint(text="text")
             .text_normalize(text="text", strip_punct=True))
    assert chain.df.isStreaming
    q = (chain.df.writeStream.format("memory").queryName("t_r4_rowlocal")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: (tuple(r["WINNOW_FP"]), r["N_FP"], r["TEXT_NORM"]) for r in
           spark.table("t_r4_rowlocal").collect()}
    batch = (rql.SQLChain(session, spark.read.parquet(out), "docs_b4")
             .winnow_fingerprint(text="text")
             .text_normalize(text="text", strip_punct=True)).df
    exp = {r["doc_id"]: (tuple(r["WINNOW_FP"]), r["N_FP"], r["TEXT_NORM"]) for r in batch.collect()}
    assert got == exp and len(got) == 60


def test_write_stream_shards(spark, events_stream_dir, tmp_path):
    """Streaming corpus -> sharded sink: every micro-batch lands as bounded
    shard files; total rows across all batch directories equal the input."""
    import glob
    import json

    from rasgoql_spark.streaming.ops import write_stream_shards

    sdf = read_events_stream(spark, events_stream_dir)
    out = str(tmp_path / "stream_shards")
    ckpt = str(tmp_path / "ckpt")
    q = write_stream_shards(
        sdf.select("event_id", "event_type"), out, ckpt,
        rows_per_shard=500, num_shards=2)
    q.awaitTermination(120)
    batch_dirs = glob.glob(out + "/batch=*")
    assert len(batch_dirs) >= 2  # one per micro-batch (3 input files)
    n = 0
    for f in glob.glob(out + "/batch=*/*.json"):
        with open(f) as fh:
            for line in fh:
                json.loads(line)
                n += 1
    expected = spark.read.parquet(events_stream_dir).count()
    assert n == expected


def test_round4_late_rowlocal_ops_on_stream_match_batch(spark, tmp_path_factory):
    """char_entropy, pseudonymize, and random_projection are row-local and
    run unchanged on streaming frames, matching the batch answer."""
    out = str(tmp_path_factory.mktemp("docs_stream_r4b"))
    session = rql.RasgoSession(spark, data_dir=SF_DIR)
    docs = session.dataset("documents").df.limit(40)
    docs.repartition(2).write.mode("overwrite").parquet(out)
    sdf = (spark.readStream.schema(docs.schema)
           .option("maxFilesPerTrigger", 1).parquet(out))

    def build(chain):
        return (chain.char_entropy(text="text")
                     .pseudonymize(columns=["source"], salt="s9"))

    chain = build(rql.SQLChain(session, sdf, "docs_stream_r4b"))
    assert chain.df.isStreaming
    q = (chain.df.writeStream.format("memory").queryName("t_r4b_rowlocal")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: (r["CHAR_ENTROPY"], r["source"]) for r in
           spark.table("t_r4b_rowlocal").collect()}
    batch = build(rql.SQLChain(session, spark.read.parquet(out), "docs_b4b")).df
    exp = {r["doc_id"]: (r["CHAR_ENTROPY"], r["source"]) for r in batch.collect()}
    assert got == exp and len(got) == 40


def test_random_projection_on_stream_requires_in_dim(spark, tmp_path_factory):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.rproj import random_projection

    out = str(tmp_path_factory.mktemp("emb_stream"))
    session = rql.RasgoSession(spark, data_dir=SF_DIR)
    emb = session.dataset("embeddings").df.limit(20)
    emb.write.mode("overwrite").parquet(out)
    sdf = (spark.readStream.schema(emb.schema)
           .option("maxFilesPerTrigger", 1).parquet(out))
    with _pytest.raises(ParameterException):
        random_projection(sdf, "embedding", out_dim=4)  # no inference on streams
    proj = random_projection(sdf, "embedding", out_dim=4, in_dim=64)
    q = (proj.selectExpr("vec_id", "PROJ").writeStream.format("memory")
         .queryName("t_rproj_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["vec_id"]: tuple(r["PROJ"]) for r in spark.table("t_rproj_stream").collect()}
    exp = {r["vec_id"]: tuple(r["PROJ"]) for r in
           random_projection(spark.read.parquet(out), "embedding",
                             out_dim=4, in_dim=64).select("vec_id", "PROJ").collect()}
    assert got == exp and len(got) == 20


def test_stream_dedup_against_minhash_index(spark, tmp_path_factory):
    """Streaming crawl-ingest: micro-batches dedup against a prebuilt
    MinHashIndex; only novel docs reach the sink, across batches."""
    from rasgoql_spark.functions.dedup import minhash_index
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sda")
    ref_texts = [
        "the accepted corpus document about spark partitioning strategies",
        "another accepted page describing broadcast joins in great detail",
        "a third well known boilerplate subscribe to our newsletter page",
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], "doc_id long, text string")
    idx = minhash_index(ref, "text", "doc_id")
    try:
        # two input files -> two micro-batches (maxFilesPerTrigger=1)
        b1 = [(100, ref_texts[0] + " tail"), (101, "a genuinely novel document one")]
        b2 = [(200, ref_texts[2]), (201, "another genuinely novel document two")]
        src = str(tmp / "in")
        spark.createDataFrame(b1, "doc_id long, text string").coalesce(1) \
            .write.mode("append").parquet(src)
        spark.createDataFrame(b2, "doc_id long, text string").coalesce(1) \
            .write.mode("append").parquet(src)
        sdf = (spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", 1).parquet(src))
        sink = str(tmp / "out")
        q = stream_dedup_against(
            sdf, "text", "doc_id", checkpoint=str(tmp / "ckpt"),
            sink_path=sink, index=idx, threshold=0.3)
        q.awaitTermination(180)
        kept = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
        assert kept == {101, 201}
    finally:
        idx.release()


def test_stream_dedup_against_bloom_index(spark, tmp_path_factory):
    from rasgoql_spark.functions.bloom import bloom_index
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdab")
    ref = spark.createDataFrame(
        [(0, "exact boilerplate page content"), (1, "second accepted page")],
        "doc_id long, text string")
    idx = bloom_index(ref, "text")
    try:
        src = str(tmp / "in")
        spark.createDataFrame(
            [(10, "exact boilerplate page content"), (11, "fresh content here")],
            "doc_id long, text string").coalesce(1).write.parquet(src)
        sdf = (spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", 1).parquet(src))
        sink = str(tmp / "out")
        q = stream_dedup_against(
            sdf, "text", "doc_id", checkpoint=str(tmp / "ckpt"),
            sink_path=sink, index=idx)
        q.awaitTermination(180)
        kept = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
        assert kept == {11}
    finally:
        idx.release()


def test_stream_dedup_against_validation(spark, tmp_path_factory):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdav")
    batch = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ParameterException):
        stream_dedup_against(batch, "text", "doc_id",
                             checkpoint=str(tmp / "c"), sink_path=str(tmp / "o"),
                             reference=batch)
    src = str(tmp / "in")
    batch.write.parquet(src)
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src)
    with _pytest.raises(ParameterException):
        stream_dedup_against(sdf, "text", "doc_id", checkpoint=str(tmp / "c"),
                             sink_path=str(tmp / "o"))  # no reference/index
    with _pytest.raises(ParameterException):
        stream_dedup_against(sdf, "text", "doc_id", checkpoint=str(tmp / "c"),
                             reference=batch)  # no sink
    # invalid method on the plain-reference path must fail BEFORE .start(),
    # not per-batch inside foreachBatch
    with _pytest.raises(ParameterException):
        stream_dedup_against(sdf, "text", "doc_id", checkpoint=str(tmp / "c"),
                             sink_path=str(tmp / "o"), reference=batch,
                             method="simhash")
    # r10 advice fix: a negative max_hamming must also fail BEFORE
    # .start(), not surface per-batch as a wrapped StreamingQueryException
    with _pytest.raises(ParameterException, match="max_hamming"):
        stream_dedup_against(sdf, "text", "doc_id", checkpoint=str(tmp / "c"),
                             sink_path=str(tmp / "o"), reference=batch,
                             method="binary", max_hamming=-1)


def test_stream_dedup_against_bloom_method_reference(spark, tmp_path_factory):
    """method='bloom' with a plain reference frame maps to
    dedup_against_bloom (bloom prefilter + exact confirm) — output equals
    the exact path."""
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdab")
    ref = spark.createDataFrame(
        [(0, "accepted page one"), (1, "accepted page two")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "accepted page one"), (11, "a genuinely novel document")],
        "doc_id long, text string")
    src = str(tmp / "in")
    batch.write.parquet(src)
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = stream_dedup_against(
        sdf, "text", "doc_id", checkpoint=str(tmp / "c"),
        sink_path=str(tmp / "out"), reference=ref, method="bloom")
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp / "out")).collect()
    assert {r["doc_id"] for r in got} == {11}


def test_stream_dedup_against_table_sink_exactly_once(spark, tmp_path_factory):
    """A replayed micro-batch must REPLACE its rows in the table sink, not
    append duplicates: the sink table is partitioned by __batch_id and each
    batch dynamic-overwrites only its own partition. Replay is simulated by
    re-running the drained source under a FRESH checkpoint (same input, same
    batch id 0) against the same table."""
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdatx")
    ref = spark.createDataFrame(
        [(0, "accepted page one")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "accepted page one"), (11, "a novel document")],
        "doc_id long, text string")
    src = str(tmp / "in")
    batch.write.parquet(src)
    table = "sdat_exactly_once_sink"
    mk = lambda: spark.readStream.schema(  # noqa: E731
        "doc_id long, text string").parquet(src)
    try:
        q = stream_dedup_against(
            mk(), "text", "doc_id", checkpoint=str(tmp / "c1"),
            sink_table=table, reference=ref)
        q.awaitTermination(120)
        assert [r["doc_id"] for r in spark.table(table).collect()] == [11]
        # replay: fresh checkpoint reprocesses the same input as batch 0
        q2 = stream_dedup_against(
            mk(), "text", "doc_id", checkpoint=str(tmp / "c2"),
            sink_table=table, reference=ref)
        q2.awaitTermination(120)
        rows = spark.table(table).collect()
        assert [r["doc_id"] for r in rows] == [11], rows  # no duplicate
        # a genuinely NEW batch under the live checkpoint lands in its own
        # partition without clobbering batch 0
        spark.createDataFrame(
            [(12, "another novel document")], "doc_id long, text string"
        ).write.mode("append").parquet(src)
        q3 = stream_dedup_against(
            mk(), "text", "doc_id", checkpoint=str(tmp / "c2"),
            sink_table=table, reference=ref)
        q3.awaitTermination(120)
        got = spark.table(table).collect()
        assert sorted(r["doc_id"] for r in got) == [11, 12]
        assert len({r["__batch_id"] for r in got}) == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_dedup_against_guards(spark, tmp_path_factory):
    """One-time staleness/type guards: a stale index or a wrong index type
    is rejected BEFORE the stream starts, never per micro-batch. The
    staleness check is the one every index path shares
    (``_index.check_fresh``): each batch site that takes both an index and
    the frame it claims to cover, and stream_dedup_against for every index
    type, rejects a frame one row short of ``n_docs`` and accepts the
    matching one; the prebuilt searches, which take no such frame, do not
    check."""
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.bloom import bloom_index, dedup_against_bloom
    from rasgoql_spark.functions.dedup import (
        dedup_against,
        dedup_against_substring,
        minhash_index,
        substring_index,
    )
    from rasgoql_spark.functions.pq import (
        embedding_join_ivfpq,
        ivfpq_index,
        similarity_search_ivfpq,
    )
    from rasgoql_spark.functions.similarity import (
        binary_index,
        dedup_against_embedding,
        embedding_join_binary,
        embedding_join_ivf,
        ivf_index,
        similarity_search_binary,
    )
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdag")
    ref = spark.createDataFrame(
        [(0, "accepted page one"), (1, "accepted page two")],
        "doc_id long, text string")
    src = str(tmp / "in")
    ref.write.parquet(src)
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src)
    vref = spark.createDataFrame(
        [(i, [float(i == j) + 0.1 for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<double>")
    vbatch = vref.filter("vec_id < 2")
    E = ("embedding", "vec_id")
    mh = minhash_index(ref, "text", "doc_id")
    bl = bloom_index(ref, "text")
    sub = substring_index(ref, "text", "doc_id", min_tokens=2)
    ivf = ivf_index(vref, *E, num_centroids=2)
    ivfpq = ivfpq_index(vref, *E, num_centroids=2, m=2, codebook_size=4,
                        iterations=0)
    binary = binary_index(vref, *E)
    # (index, reference, call(frame)) for every batch staleness site
    batch_sites = [
        (mh, ref, lambda r: dedup_against(
            ref, "text", "doc_id", r, method="minhash", index=mh)),
        (bl, ref, lambda r: dedup_against_bloom(
            ref, "text", "doc_id", r, index=bl)),
        (sub, ref, lambda r: dedup_against_substring(
            ref, "text", "doc_id", r, min_tokens=2, index=sub)),
        (ivf, vref, lambda r: dedup_against_embedding(
            vbatch, *E, r, method="ivf", index=ivf)),
        (ivf, vref, lambda r: embedding_join_ivf(
            vbatch, *E, other=r, index=ivf)),
        (ivfpq, vref, lambda r: dedup_against_embedding(
            vbatch, *E, r, method="ivfpq", index=ivfpq)),
        (ivfpq, vref, lambda r: embedding_join_ivfpq(
            vbatch, *E, other=r, nprobe=2, index=ivfpq)),
        (binary, vref, lambda r: dedup_against_embedding(
            vbatch, *E, r, method="binary", index=binary)),
        (binary, vref, lambda r: embedding_join_binary(
            vbatch, *E, other=r, index=binary)),
    ]
    try:
        assert bl.n_docs == 2
        kw = dict(checkpoint=str(tmp / "c"), sink_path=str(tmp / "o"))
        for idx, full, call in batch_sites:
            assert idx.n_docs == full.count()
            with _pytest.raises(ParameterException, match="fold the new"):
                call(full.limit(idx.n_docs - 1))
            call(full)
        for idx, full in ((mh, ref), (bl, ref), (sub, ref), (ivf, vref),
                          (ivfpq, vref), (binary, vref)):
            with _pytest.raises(ParameterException, match="fold the new"):
                stream_dedup_against(sdf, "text", "doc_id",
                                     reference=full.limit(1), index=idx, **kw)
        # the prebuilt searches search the index and take no reference
        similarity_search_ivfpq(vbatch, *E, [0], k=1, nprobe=2, index=ivfpq)
        similarity_search_binary(vbatch, *E, [0], k=1, index=binary)
        with _pytest.raises(ParameterException):
            stream_dedup_against(sdf, "text", "doc_id", index=object(), **kw)
        with _pytest.raises(ParameterException):
            stream_dedup_against(sdf, "text", "doc_id", index=mh,
                                 method="exact", **kw)
        with _pytest.raises(ParameterException):
            stream_dedup_against(sdf, "text", "doc_id", index=bl,
                                 method="minhash", **kw)
    finally:
        for idx in (mh, bl, sub, ivf, ivfpq, binary):
            idx.release()


def test_update_bloom_index_release_frees_increment_chain(spark):
    """Releasing only the UPDATED bloom index must unpersist the source
    index's frames too (the natural keep-the-new loop must not leak)."""
    from rasgoql_spark.functions.bloom import bloom_index, update_bloom_index

    ref = spark.createDataFrame([(0, "page a")], "doc_id long, text string")
    newly = spark.createDataFrame([(1, "page b")], "doc_id long, text string")
    old = bloom_index(ref, "text")
    upd = update_bloom_index(old, newly, "text")
    assert upd.n_docs == 2
    assert old.bits.storageLevel.useMemory  # still cached pre-release
    upd.release()
    assert not old.bits.storageLevel.useMemory
    assert not old.fps.storageLevel.useMemory
    assert not upd.bits.storageLevel.useMemory


def test_stream_dedup_against_ivf_index(spark, tmp_path_factory):
    """Semantic streaming ingest: micro-batches dedup against a prebuilt
    IVF embedding index; batch vectors near-identical to reference vectors
    drop, novel ones flow to the sink. Batch semantics = the
    dedup_against_embedding ivf path (oracle-green)."""
    from rasgoql_spark.functions.similarity import ivf_index
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdaivf")
    ref = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(10, [0.999, 0.001, 0.0, 0.0]),      # ~ref 0 -> drops
         (11, [0.5, 0.5, 0.5, 0.5])],         # novel -> kept
        "vec_id long, embedding array<double>")
    src = str(tmp / "in")
    batch.write.parquet(src)
    sdf = spark.readStream.schema(
        "vec_id long, embedding array<double>").parquet(src)
    idx = ivf_index(ref, "embedding", "vec_id", num_centroids=2)
    try:
        q = stream_dedup_against(
            sdf, "embedding", "vec_id", checkpoint=str(tmp / "c"),
            sink_path=str(tmp / "out"), index=idx, threshold=0.99, nprobe=2)
        q.awaitTermination(120)
        got = spark.read.parquet(str(tmp / "out")).collect()
        assert {r["vec_id"] for r in got} == {11}
        # stale-reference guard fires before .start()
        import pytest as _pytest

        from rasgoql_spark.errors import ParameterException
        with _pytest.raises(ParameterException):
            stream_dedup_against(
                sdf, "embedding", "vec_id", checkpoint=str(tmp / "c2"),
                sink_path=str(tmp / "o2"), index=idx, reference=ref.limit(1))
    finally:
        idx.release()


def test_stream_dedup_against_ivfpq_index(spark, tmp_path_factory):
    """Round 9: the memory-bounded streaming semantic path — micro-batches
    dedup against a prebuilt IVF-PQ index (candidates scanned as m
    small-int codes). With codebook_size >= |reference| and iterations=0
    the PQ reconstruction is exact, so the drop/keep decisions equal the
    exact-cosine path (the degenerate-PQ pin); replay from a fresh
    checkpoint over the same input reproduces the sink exactly
    (idempotent path sink). Fold-in with update_ivfpq_index keeps the
    stream's next batches checking against the grown corpus."""
    from rasgoql_spark.functions.pq import ivfpq_index, update_ivfpq_index
    from rasgoql_spark.functions.similarity import dedup_against_embedding
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdaivfpq")
    ref = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(10, [0.999, 0.001, 0.0, 0.0]),      # ~ref 0 -> drops
         (11, [0.5, 0.5, 0.5, 0.5])],         # novel -> kept
        "vec_id long, embedding array<double>")
    src = str(tmp / "in")
    batch.write.parquet(src)
    mk = lambda: spark.readStream.schema(  # noqa: E731
        "vec_id long, embedding array<double>").parquet(src)
    idx = ivfpq_index(
        ref, "embedding", "vec_id", num_centroids=2, m=2, codebook_size=4,
        iterations=0)
    try:
        q = stream_dedup_against(
            mk(), "embedding", "vec_id", checkpoint=str(tmp / "c"),
            sink_path=str(tmp / "out"), index=idx, threshold=0.99, nprobe=2)
        q.awaitTermination(120)
        got = {r["vec_id"] for r in spark.read.parquet(str(tmp / "out")).collect()}
        assert got == {11}
        # replay idempotency: fresh checkpoint, same input, same sink
        q2 = stream_dedup_against(
            mk(), "embedding", "vec_id", checkpoint=str(tmp / "c_replay"),
            sink_path=str(tmp / "out"), index=idx, threshold=0.99, nprobe=2)
        q2.awaitTermination(120)
        got2 = {r["vec_id"] for r in spark.read.parquet(str(tmp / "out")).collect()}
        assert got2 == {11}
        # method validation + stale-reference guard fire before .start()
        import pytest as _pytest

        from rasgoql_spark.errors import ParameterException
        with _pytest.raises(ParameterException, match="conflicts"):
            stream_dedup_against(
                mk(), "embedding", "vec_id", checkpoint=str(tmp / "cx"),
                sink_path=str(tmp / "ox"), index=idx, method="minhash")
        with _pytest.raises(ParameterException, match="fold the new"):
            stream_dedup_against(
                mk(), "embedding", "vec_id", checkpoint=str(tmp / "cy"),
                sink_path=str(tmp / "oy"), index=idx, reference=ref.limit(1))
        # corpus-refresh: fold the accepted novel doc in. The build-time
        # codebooks cannot represent the novel direction (the documented
        # no-refit drift trade — rebuild on the major-refresh cadence), so
        # a later duplicate of it scores only ADC 0.5 and passes this
        # threshold; what the fold-in DOES guarantee is registration
        # (n_docs grows, the row is scanned as a candidate) and exact
        # near-ref batches still drop against the grown index.
        accepted = spark.createDataFrame(
            [(11, [0.5, 0.5, 0.5, 0.5])], "vec_id long, embedding array<double>")
        idx2 = update_ivfpq_index(idx, accepted, "embedding", "vec_id")
        assert idx2.n_docs == 5
        batch2 = spark.createDataFrame(
            [(20, [0.5, 0.5, 0.5, 0.5]),      # dup of folded-in 11: kept
             (21, [0.0, 0.0, 0.0, 1.0])],     # == ref 3 -> drops
            "vec_id long, embedding array<double>")
        src2 = str(tmp / "in2")
        batch2.write.parquet(src2)
        sdf2 = spark.readStream.schema(
            "vec_id long, embedding array<double>").parquet(src2)
        q3 = stream_dedup_against(
            sdf2, "embedding", "vec_id", checkpoint=str(tmp / "c2"),
            sink_path=str(tmp / "out2"), index=idx2, threshold=0.99, nprobe=2)
        q3.awaitTermination(120)
        got3 = {r["vec_id"] for r in spark.read.parquet(str(tmp / "out2")).collect()}
        assert got3 == {20}
        # ...and the folded-in row IS a scanned candidate for its dup
        pairs = dedup_against_embedding(
            batch2, vec_col="embedding", id_col="vec_id", index=idx2,
            method="ivfpq", threshold=0.45, nprobe=2, mode="pairs")
        assert (11 in {r["REF_ID"] for r in pairs.collect()
                       if r["ID"] == 20})
    finally:
        idx.release()


def test_stream_table_sink_guards_and_empty_replay(spark, tmp_path_factory, drop_table):
    """Two exactly-once corner cases: (a) a pre-existing NON-partitioned
    sink table is refused loudly (dynamic overwrite would silently
    truncate it every batch); (b) a replayed batch whose recomputed output
    is EMPTY clears the rows it wrote last time (drop-partition path)."""
    import pytest as _pytest

    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdatg")
    ref_none = spark.createDataFrame([(99, "zzz")], "doc_id long, text string")
    ref_all = spark.createDataFrame(
        [(0, "only document text")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "only document text")], "doc_id long, text string")
    src = str(tmp / "in")
    batch.write.parquet(src)
    mk = lambda: spark.readStream.schema(  # noqa: E731
        "doc_id long, text string").parquet(src)

    # (a) legacy non-partitioned table with the same name -> typed refusal
    legacy = "sdat_legacy_plain"
    drop_table(legacy)
    batch.withColumn("__batch_id", F.lit(0)).write.saveAsTable(legacy)
    try:
        q = stream_dedup_against(
            mk(), "text", "doc_id", checkpoint=str(tmp / "ca"),
            sink_table=legacy, reference=ref_none)
        with _pytest.raises(Exception, match="not.*partitioned by __batch_id"):
            q.awaitTermination(120)
            q.processAllAvailable()
        assert spark.table(legacy).count() == 1  # untouched, not truncated
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {legacy}")

    # (b) batch 0 writes a row; "replay" under a fresh checkpoint with a
    # reference that now matches everything -> recomputed output is empty
    # -> the old partition must be cleared
    table = "sdat_empty_replay"
    drop_table(table)
    try:
        q1 = stream_dedup_against(
            mk(), "text", "doc_id", checkpoint=str(tmp / "c1"),
            sink_table=table, reference=ref_none)
        q1.awaitTermination(120)
        assert spark.table(table).count() == 1  # novel vs ref_none
        q2 = stream_dedup_against(
            mk(), "text", "doc_id", checkpoint=str(tmp / "c2"),
            sink_table=table, reference=ref_all)
        q2.awaitTermination(120)
        spark.catalog.refreshTable(table)
        assert spark.table(table).count() == 0  # stale batch-0 rows cleared
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_dedup_against_binary_reference(spark, tmp_path_factory):
    """Round 9: streaming 1-bit-signature dedup against a static reference
    frame — an exact sign-duplicate drops at max_hamming=0, a negated
    vector (all 64 sign bits flip... for nonzero components) is kept."""
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdabin")
    ref = spark.createDataFrame(
        [(0, [0.5, -0.25, 0.75, -0.1]), (1, [-1.0, 1.0, -1.0, 1.0])],
        "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(10, [0.5, -0.25, 0.75, -0.1]),   # same signs as ref 0 -> drops
         (11, [0.5, 0.25, -0.75, 0.1])],   # sign pattern matches no ref -> kept
        "vec_id long, embedding array<double>")
    src = str(tmp / "in")
    batch.write.parquet(src)
    sdf = spark.readStream.schema(
        "vec_id long, embedding array<double>").parquet(src)
    q = stream_dedup_against(
        sdf, "embedding", "vec_id", checkpoint=str(tmp / "c"),
        sink_path=str(tmp / "out"), reference=ref, method="binary",
        max_hamming=0)
    q.awaitTermination(120)
    got = {r["vec_id"] for r in spark.read.parquet(str(tmp / "out")).collect()}
    assert got == {11}


def test_stream_dedup_against_binary_index(spark, tmp_path_factory):
    """Round 9: streaming signature dedup against a prebuilt BinaryIndex —
    the per-batch reference read is the 8-byte signatures; fold-in via
    update_binary_index is drift-free (no fitted state)."""
    from rasgoql_spark.functions.similarity import (
        binary_index, update_binary_index)
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdabinidx")
    ref = spark.createDataFrame(
        [(0, [0.5, -0.25, 0.75, -0.1]), (1, [-1.0, 1.0, -1.0, 1.0])],
        "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(10, [0.5, -0.25, 0.75, -0.1]),   # same signs as ref 0 -> drops
         (11, [0.5, 0.25, -0.75, 0.1])],   # sign pattern matches no ref -> kept
        "vec_id long, embedding array<double>")
    src = str(tmp / "in")
    batch.write.parquet(src)
    mk = lambda: spark.readStream.schema(  # noqa: E731
        "vec_id long, embedding array<double>").parquet(src)
    idx = binary_index(ref, "embedding", "vec_id")
    try:
        q = stream_dedup_against(
            mk(), "embedding", "vec_id", checkpoint=str(tmp / "c"),
            sink_path=str(tmp / "out"), index=idx, method="binary",
            max_hamming=0)
        q.awaitTermination(120)
        got = {r["vec_id"] for r in spark.read.parquet(str(tmp / "out")).collect()}
        assert got == {11}
        # fold the accepted doc in; its dup in the next batch drops
        accepted = spark.createDataFrame(
            [(11, [0.5, 0.25, -0.75, 0.1])],
            "vec_id long, embedding array<double>")
        idx2 = update_binary_index(idx, accepted, "embedding", "vec_id")
        batch2 = spark.createDataFrame(
            [(20, [0.9, 0.1, -0.2, 0.3])],  # same signs as folded-in 11 -> drops
            "vec_id long, embedding array<double>")
        src2 = str(tmp / "in2")
        batch2.write.parquet(src2)
        sdf2 = spark.readStream.schema(
            "vec_id long, embedding array<double>").parquet(src2)
        q2 = stream_dedup_against(
            sdf2, "embedding", "vec_id", checkpoint=str(tmp / "c2"),
            sink_path=str(tmp / "out2"), index=idx2, method="binary",
            max_hamming=0)
        q2.awaitTermination(120)
        import os
        got2 = ({r["vec_id"] for r in spark.read.parquet(str(tmp / "out2")).collect()}
                if os.path.exists(str(tmp / "out2")) else set())
        assert got2 == set()
        # wrong-method conflict fires before .start()
        import pytest as _pytest

        from rasgoql_spark.errors import ParameterException
        with _pytest.raises(ParameterException, match="conflicts"):
            stream_dedup_against(
                mk(), "embedding", "vec_id", checkpoint=str(tmp / "cx"),
                sink_path=str(tmp / "ox"), index=idx, method="minhash")
    finally:
        idx.release()


def test_stream_embedding_join_all_index_types(spark, tmp_path_factory):
    """Streaming semantic enrichment (round 10): each micro-batch attaches
    top-k neighbors from a prebuilt index; results equal the batch join
    operator on the same data for ALL THREE index regimes; replayed
    batches stay exactly-once (the shared sink); guards fire before
    .start()."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.pq import (
        embedding_join_ivfpq,
        ivfpq_index,
    )
    from rasgoql_spark.functions.similarity import (
        binary_index,
        embedding_join_binary,
        embedding_join_ivf,
        ivf_index,
    )
    from rasgoql_spark.streaming.ops import stream_embedding_join

    tmp = tmp_path_factory.mktemp("sej")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ref = emb.filter("vec_id < 400").select("vec_id", "embedding")
    batch = emb.filter("vec_id >= 400").select("vec_id", "embedding")
    src = str(tmp / "in")
    batch.coalesce(1).write.parquet(src)

    bidx = binary_index(ref, "embedding", "vec_id")
    pidx = ivfpq_index(ref, "embedding", "vec_id", num_centroids=8,
                       m=8, codebook_size=16, iterations=0)
    vidx = ivf_index(ref, "embedding", "vec_id", num_centroids=8)
    cases = [
        ("bin", bidx, dict(max_hamming=15),
         lambda b: embedding_join_binary(
             b, "embedding", "vec_id", k=2, max_hamming=15, index=bidx)),
        ("pq", pidx, dict(nprobe=3),
         lambda b: embedding_join_ivfpq(
             b, "embedding", "vec_id", k=2, nprobe=3, index=pidx)),
        ("ivf", vidx, dict(nprobe=3),
         lambda b: embedding_join_ivf(
             b, "embedding", "vec_id", k=2, nprobe=3, index=vidx)),
    ]
    try:
        for name, idx, kw, batch_fn in cases:
            sdf = (spark.readStream
                   .schema("vec_id long, embedding array<double>")
                   .parquet(src))
            sink = str(tmp / f"out_{name}")
            q = stream_embedding_join(
                sdf, "embedding", "vec_id", checkpoint=str(tmp / f"c_{name}"),
                sink_path=sink, index=idx, k=2, **kw)
            q.awaitTermination(300)
            got = sorted(map(tuple, spark.read.parquet(sink)
                             .drop("batch").collect()))
            want = sorted(map(tuple, batch_fn(batch).collect()))
            assert got == want and got, name
        # guards fire before .start()
        sdf = (spark.readStream
               .schema("vec_id long, embedding array<double>")
               .parquet(src))
        kw = dict(checkpoint=str(tmp / "cg"), sink_path=str(tmp / "og"))
        with _pytest.raises(ParameterException, match="index must be"):
            stream_embedding_join(sdf, "embedding", "vec_id", index=object(), **kw)
        with _pytest.raises(ParameterException, match="k must be"):
            stream_embedding_join(sdf, "embedding", "vec_id", index=bidx, k=0, **kw)
        with _pytest.raises(ParameterException, match="max_hamming"):
            stream_embedding_join(sdf, "embedding", "vec_id", index=bidx,
                                  max_hamming=-1, **kw)
        with _pytest.raises(ParameterException, match="exactly one"):
            stream_embedding_join(sdf, "embedding", "vec_id", index=bidx,
                                  checkpoint=str(tmp / "cg2"))
        with _pytest.raises(ParameterException, match="streaming DataFrame"):
            stream_embedding_join(batch, "embedding", "vec_id", index=bidx, **kw)
    finally:
        bidx.release()
        pidx.release()
        vidx.release()


def test_stream_psi_drift_monitor(spark, tmp_path_factory):
    """Streaming drift monitor: two micro-batches score PSI against frozen
    baseline proportions; batch 1 matches the baseline (PSI ~ 0), batch 2
    is shifted (PSI > 0.25); per-batch reports land in partitioned sinks
    and match the batch-mode psi_against_stats exactly."""
    from rasgoql_spark.functions.snapshot import (
        psi_against_stats,
        psi_bin_stats,
    )
    from rasgoql_spark.streaming.ops import stream_psi

    tmp = tmp_path_factory.mktemp("spsi")
    baseline = spark.createDataFrame(
        [(float(v),) for v in range(100)], "v double"
    )
    stats = psi_bin_stats(baseline, "v", [25.0, 50.0, 75.0])
    # batch 1: same uniform shape; batch 2: mass pushed into the top bin
    b1 = [(float(v),) for v in range(0, 100, 2)]
    b2 = [(float(80 + (v % 20)),) for v in range(50)]
    src = str(tmp / "in")
    spark.createDataFrame(b1, "v double").coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, "v double").coalesce(1).write.mode("append").parquet(src)
    sdf = (spark.readStream.schema("v double")
           .option("maxFilesPerTrigger", 1).parquet(src))
    sink = str(tmp / "out")
    q = stream_psi(
        sdf, "v", [25.0, 50.0, 75.0], checkpoint=str(tmp / "ckpt"),
        expected=stats, sink_path=sink,
    )
    q.awaitTermination(180)
    out = spark.read.option("basePath", sink).parquet(sink)
    totals = {
        r["batch"]: r["PSI_TOTAL"]
        for r in out.select("batch", "PSI_TOTAL").distinct().collect()
    }
    assert len(totals) == 2
    low, high = sorted(totals.values())
    assert low < 0.01      # uniform batch: no drift
    assert high > 0.25     # shifted batch: actionable drift
    # per-batch report equals the batch-mode computation bit-for-bit
    batch2 = spark.createDataFrame(b2, "v double")
    want = sorted(map(tuple, psi_against_stats(
        batch2, "v", [25.0, 50.0, 75.0], stats).collect()))
    drifted_batch = max(totals, key=totals.get)
    got = sorted(map(tuple, out.filter(F.col("batch") == drifted_batch)
                 .drop("batch").collect()))
    assert got == want


def test_stream_psi_validates_before_start(spark, tmp_path_factory):
    from rasgoql_spark.streaming.ops import stream_psi

    tmp = tmp_path_factory.mktemp("spsi_v")
    src = str(tmp / "in")
    spark.createDataFrame([(1.0,)], "v double").write.parquet(src)
    sdf = spark.readStream.schema("v double").parquet(src)
    baseline = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(rql.ParameterException):   # descending breakpoints
        stream_psi(sdf, "v", [5.0, 1.0], checkpoint=str(tmp / "c1"),
                   baseline=baseline, sink_path=str(tmp / "o1"))
    with pytest.raises(rql.ParameterException):   # both baseline and expected
        stream_psi(sdf, "v", [1.0], checkpoint=str(tmp / "c2"),
                   baseline=baseline, expected={1: 1.0},
                   sink_path=str(tmp / "o2"))
    with pytest.raises(rql.ParameterException):   # no sink
        stream_psi(sdf, "v", [1.0], checkpoint=str(tmp / "c3"),
                   baseline=baseline)
    with pytest.raises(rql.ParameterException):   # batch frame
        stream_psi(baseline, "v", [1.0], checkpoint=str(tmp / "c4"),
                   baseline=baseline, sink_path=str(tmp / "o4"))


def test_stream_anomaly_monitor(spark, tmp_path_factory):
    """Streaming anomaly monitor: batch 1 matches the baseline (MEAN_Z ~ 0,
    no anomalies), batch 2 is shifted + spiked (large MEAN_Z, anomalies
    flagged); per-batch reports land exactly-once and equal the batch-mode
    zscore_against_stats bit-for-bit."""
    from rasgoql_spark.functions.timeseries import (
        zscore_against_stats,
        zscore_stats,
    )
    from rasgoql_spark.streaming.ops import stream_anomaly

    tmp = tmp_path_factory.mktemp("sanom")
    baseline = spark.createDataFrame(
        [("a", float(v % 20)) for v in range(200)], "g string, v double"
    )
    stats = zscore_stats(baseline, "v", ["g"])
    b1 = [("a", float(v % 20)) for v in range(40)]          # in-distribution
    b2 = [("a", 60.0 + float(v % 5)) for v in range(40)]    # shifted far out
    src = str(tmp / "in")
    spark.createDataFrame(b1, "g string, v double").coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(b2, "g string, v double").coalesce(1).write.mode(
        "append").parquet(src)
    sdf = (spark.readStream.schema("g string, v double")
           .option("maxFilesPerTrigger", 1).parquet(src))
    sink = str(tmp / "out")
    q = stream_anomaly(
        sdf, "v", checkpoint=str(tmp / "ckpt"), expected=stats,
        group_by=["g"], threshold=3.0, sink_path=sink,
    )
    q.awaitTermination(180)
    out = spark.read.option("basePath", sink).parquet(sink)
    rows = {r["batch"]: r for r in out.collect()}
    assert len(rows) == 2
    zs = sorted(abs(r["MEAN_Z"]) for r in rows.values())
    assert zs[0] < 1.0 and zs[1] > 10.0
    anoms = sorted(r["N_ANOMALIES"] for r in rows.values())
    assert anoms == [0, 40]
    # per-batch report equals the batch-mode computation bit-for-bit
    batch2 = spark.createDataFrame(b2, "g string, v double")
    want = sorted(map(tuple, zscore_against_stats(
        batch2, "v", stats, ["g"], threshold=3.0).collect()))
    drifted = max(rows, key=lambda b: abs(rows[b]["MEAN_Z"]))
    got = sorted(map(tuple, out.filter(F.col("batch") == drifted)
                 .drop("batch").collect()))
    assert got == want


def test_stream_anomaly_validates_before_start(spark, tmp_path_factory):
    from rasgoql_spark.streaming.ops import stream_anomaly

    tmp = tmp_path_factory.mktemp("sanom_v")
    src = str(tmp / "in")
    spark.createDataFrame([(1.0,)], "v double").write.parquet(src)
    sdf = spark.readStream.schema("v double").parquet(src)
    baseline = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    with pytest.raises(rql.ParameterException):   # bad threshold
        stream_anomaly(sdf, "v", checkpoint=str(tmp / "c1"),
                       baseline=baseline, threshold=0.0,
                       sink_path=str(tmp / "o1"))
    with pytest.raises(rql.ParameterException):   # both baseline and expected
        stream_anomaly(sdf, "v", checkpoint=str(tmp / "c2"),
                       baseline=baseline, expected={(): (1.0, 0.0)},
                       sink_path=str(tmp / "o2"))
    with pytest.raises(rql.ParameterException):   # no sink
        stream_anomaly(sdf, "v", checkpoint=str(tmp / "c3"),
                       baseline=baseline)
    with pytest.raises(rql.ParameterException):   # batch frame
        stream_anomaly(baseline, "v", checkpoint=str(tmp / "c4"),
                       baseline=baseline, sink_path=str(tmp / "o4"))


def test_zscore_against_stats_unknown_group_reports_null(spark):
    from rasgoql_spark.functions.timeseries import zscore_against_stats

    batch = spark.createDataFrame(
        [("known", 5.0), ("mystery", 9.0)], "g string, v double"
    )
    out = {r["g"]: r for r in zscore_against_stats(
        batch, "v", {("known",): (5.0, 1.0)}, ["g"]).collect()}
    assert out["known"]["N_ANOMALIES"] == 0
    assert out["mystery"]["N"] == 1
    assert out["mystery"]["N_ANOMALIES"] is None
    assert out["mystery"]["MEAN_Z"] is None and out["mystery"]["BASELINE_MEAN"] is None


def test_stream_dedup_against_substring_index(spark, tmp_path_factory):
    """Round 12: micro-batches screened for verbatim >=min_tokens-token
    runs against a prebuilt SubstringIndex — a batch doc quoting an
    accepted document at ANY alignment never reaches the sink."""
    from rasgoql_spark.functions.dedup import substring_index
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdasub")
    ref = spark.createDataFrame([
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "accepted reference page with its own distinct body of words"),
    ], "doc_id long, text string")
    idx = substring_index(ref, "text", "doc_id", min_tokens=5)
    try:
        b1 = [(100, "intro alpha beta gamma delta epsilon zeta eta theta "
                     "iota kappa outro"),              # quotes ref 0, shifted
              (101, "a genuinely novel crawl document number one")]
        b2 = [(200, "accepted reference page with its own distinct body "
                    "of words"),                        # exact copy of ref 1
              (201, "another genuinely novel crawl document number two")]
        src = str(tmp / "in")
        spark.createDataFrame(b1, "doc_id long, text string").coalesce(1) \
            .write.mode("append").parquet(src)
        spark.createDataFrame(b2, "doc_id long, text string").coalesce(1) \
            .write.mode("append").parquet(src)
        sdf = (spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", 1).parquet(src))
        sink = str(tmp / "out")
        q = stream_dedup_against(
            sdf, "text", "doc_id", checkpoint=str(tmp / "ckpt"),
            sink_path=sink, index=idx)
        q.awaitTermination(180)
        kept = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
        assert kept == {101, 201}
        # method conflict fails fast, before .start()
        from rasgoql_spark.errors import ParameterException
        import pytest as _pytest
        with _pytest.raises(ParameterException, match="conflicts"):
            stream_dedup_against(
                sdf, "text", "doc_id", checkpoint=str(tmp / "ckpt2"),
                sink_path=str(tmp / "out2"), index=idx, method="minhash")
        # r12 advice: an EXPLICIT min_tokens conflicting with the prebuilt
        # index raises pre-start (omitting it uses the index's, as above)
        with _pytest.raises(ParameterException, match="min_tokens"):
            stream_dedup_against(
                sdf, "text", "doc_id", checkpoint=str(tmp / "ckpt3"),
                sink_path=str(tmp / "out3"), index=idx, min_tokens=9)
    finally:
        idx.release()


def test_stream_dedup_against_substring_reference(spark, tmp_path_factory):
    """The inline reference path of the substring regime (index rebuilt
    per micro-batch — the documented inline trade)."""
    from rasgoql_spark.streaming.ops import stream_dedup_against

    tmp = tmp_path_factory.mktemp("sdasubref")
    ref = spark.createDataFrame([
        (0, "one two three four five six seven eight nine ten"),
    ], "doc_id long, text string")
    batch = [(100, "pre one two three four five six seven eight nine ten post"),
             (101, "completely unrelated fresh content for the sink")]
    src = str(tmp / "in")
    spark.createDataFrame(batch, "doc_id long, text string").write.parquet(src)
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src)
    sink = str(tmp / "out")
    q = stream_dedup_against(
        sdf, "text", "doc_id", checkpoint=str(tmp / "ckpt"),
        sink_path=sink, reference=ref, method="substring", min_tokens=6)
    q.awaitTermination(180)
    kept = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert kept == {101}
