"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q

The pure-Python tests run in seconds; ``test_relational_check_catches_corrupted_sql``
starts a small local Spark session.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402
from perfbench.harness import read_event_log  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    check_curation,
    check_parity,
    check_vector,
    recall_at,
)

SMALL = inputs.Sizes(tpch=inputs.Replica(copies=2, frac=0.02),
                     events=inputs.Replica(copies=1, frac=0.02),
                     documents=inputs.Replica(copies=2, frac=0.05),
                     embeddings=inputs.Replica(copies=2, frac=0.05))


def test_same_seed_same_bytes(tmp_path):
    a = inputs.checksum(inputs.generate(7, SMALL, str(tmp_path / "a")))
    b = inputs.checksum(inputs.generate(7, SMALL, str(tmp_path / "b")))
    c = inputs.checksum(inputs.generate(8, SMALL, str(tmp_path / "c")))
    assert a == b
    assert a != c


def test_replicas_keep_joins_complete_and_copies_distinct(tmp_path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = {k: pq.read_table(p) for k, p in inputs.generate(5, SMALL, str(tmp_path)).items()}
    # every lineitem has its order, every order its customer
    assert pc.all(pc.is_in(t["lineitem"]["l_orderkey"],
                           value_set=t["orders"]["o_orderkey"].combine_chunks())).as_py()
    assert pc.all(pc.is_in(t["orders"]["o_custkey"],
                           value_set=t["customer"]["c_custkey"].combine_chunks())).as_py()
    # ids are unique across copies; the second copy's documents have their own tokens
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id"), ("orders", "o_orderkey")):
        ids = t[table][key].to_numpy()
        assert len(set(ids)) == len(ids)
    docs = t["documents"].to_pylist()
    assert all(("~1" in d["text"]) == (d["doc_id"] >= inputs.KEY_STRIDE) for d in docs)


def test_parity_check_fails_on_corrupted_rows():
    assert check_parity("t", (10, 123), (10, 123)) == []
    assert check_parity("t", (10, 123), (9, 100))      # a row lost
    assert check_parity("t", (10, 123), (10, 124))     # a value changed
    assert check_parity("t", (0, 0), (0, 0))           # empty output


def _curation_outputs(**over):
    got = {"kept": 700, "removed": 500, "hash": 42, "distinct_ids": 700,
           "distinct_urls": 700, "slice_rows": 200, "cluster_rows": 200}
    got.update(over)
    return got


def test_curation_check_fails_on_corrupted_output():
    pinned = {"kept": 700, "removed": 500, "hash": 42}
    assert check_curation(_curation_outputs(), pinned, 1_200) == []
    assert check_curation(_curation_outputs(hash=43), pinned, 1_200)
    assert check_curation(_curation_outputs(distinct_urls=699), pinned, 1_200)
    assert check_curation(_curation_outputs(cluster_rows=199), pinned, 1_200)
    assert check_curation(_curation_outputs(), None, 1_200)     # nothing pinned


def test_every_seed_has_pinned_curation_outputs():
    from perfbench.workloads import PIN_SEEDS, PINNED, CurationPipeline

    with open(PINNED) as f:
        pinned = json.load(f)
    wl = CurationPipeline()
    assert all(str(wl.input_seed(seed)) in pinned for seed in (0, 7, PIN_SEEDS, 12_345))


def test_vector_check_fails_on_corrupted_output():
    truth = {1: {1, 2, 3, 4}, 2: {5, 6, 7, 8}}
    assert recall_at(truth, truth, 4) == 1.0
    assert recall_at(truth, {1: {1, 2, 9, 10}}, 4) == pytest.approx(0.25)
    floor = {"ivfpq": 0.5, "binary": 0.5}
    want = {"updated_rows": 950, "join_left": 100}
    assert check_vector({"ivfpq": 0.6, "binary": 0.7}, floor, dict(want), want) == []
    assert check_vector({"ivfpq": 0.4, "binary": 0.7}, floor, dict(want), want)
    assert check_vector({"ivfpq": 0.6, "binary": 0.7}, floor,
                        {"updated_rows": 900, "join_left": 100}, want)


def test_event_log_groups_jobs_and_tasks(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w|0|a|execute|x|1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                   "Local Bytes Read": 10},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {}},
    ]
    log_dir = tmp_path / "eventlog" / "app"
    log_dir.mkdir(parents=True)
    (log_dir / "events_1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = read_event_log(str(tmp_path / "eventlog"))
    g = groups["w|0|a|execute|x|1"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 1)
    assert g["task_s"] == pytest.approx(1.5)
    assert (g["shuffle_read_bytes"], g["shuffle_write_bytes"], g["spill_bytes"]) == (10, 20, 5)
    assert groups[""]["jobs"] == 1 and groups[""]["failed_tasks"] == 1


def test_relational_check_catches_corrupted_sql(tmp_path):
    """End to end: the parity check passes on the engine's rendered SQL and
    fails once that SQL is corrupted."""
    rql = pytest.importorskip("rasgoql_spark")
    from perfbench.harness import Recorder
    from perfbench.workloads import Ctx, RelationalChains

    spark = rql.default_spark(master="local[2]", shuffle_partitions=2)
    try:
        paths = inputs.generate(3, SMALL, str(tmp_path / "in"))
        for name, path in paths.items():
            spark.read.parquet(path).createOrReplaceTempView(name)
        rec = Recorder("test", trace=False)
        rec.bind(spark)
        ctx = Ctx(spark, rql.connect(spark), rec, str(tmp_path), inputs.rows(paths))
        wl = RelationalChains()
        assert wl.check(ctx, np.random.default_rng(0), seed=3) == []

        ctx.render = lambda call, chain: chain.sql() + "\nLIMIT 1"
        failures = wl.check(ctx, np.random.default_rng(0), seed=3)
        assert failures and all("sql rows" in f for f in failures)
    finally:
        spark.stop()
