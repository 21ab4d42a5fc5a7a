"""Regenerate SCALING.md — wall-clock vs scale factor for representative
queries (100× data range). The point: demonstrate near-linear scaling, i.e.
no operator hides a quadratic candidate explosion, driver collect, or
single-task window at realistic shapes.

Usage: python tools/scaling_check.py
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too: hand them this tree first
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))

import __spark_entry__ as entry  # noqa: E402
import rasgoql_spark as rql  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
QUERIES = [
    "filter_project", "aggregate", "join_agg", "rolling_agg",
    "tumbling_window", "dedup_minhash", "similarity_search",
    "dedup_winnow", "bigram_logprob",
    "dedup_against_bloom", "pagerank", "semantic_dedup", "logreg_score",
    "ngram_containment", "embedding_join_ivf", "dedup_against_embedding",
    "importance_sample",
    # round-10 governance/analysis ops
    "target_encode_oof", "psi_drift", "scd2", "pmi_collocations",
    "k_anonymize",
]


def main() -> int:
    spark = rql.default_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    rows = {}
    for name in QUERIES:
        rows[name] = []
        for sf in SFS:
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()  # warm
            t0 = time.time()
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            rows[name].append(time.time() - t0)
    out = [
        "# SCALING — wall-clock vs scale factor (warm, local[*], regenerate "
        "with `python tools/scaling_check.py`)",
        "",
        "lineitem grows 100× across these columns (6k → 600k rows; docs 500 → "
        "5k, embeddings 500 → 2k). Near-flat ratios = fixed overhead still "
        "dominates; the interesting signal is the absence of super-linear "
        "blow-ups in the LSH/dedup family.",
        "",
        "| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | t(0.1)/t(0.001) |",
        "|---|---|---|---|---|",
    ]
    for name, ts in rows.items():
        ratio = ts[2] / ts[0] if ts[0] > 0 else float("nan")
        out.append(
            f"| {name} | {ts[0]:.2f} | {ts[1]:.2f} | {ts[2]:.2f} | {ratio:.1f}× |"
        )
    # preserve the hand-written stress-check sections below the main table
    tail = ""
    try:
        old = open(os.path.join(ROOT, "SCALING.md")).read()
        idx = old.find("\n## ")
        if idx != -1:
            tail = old[idx:]
    except FileNotFoundError:
        pass
    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write("\n".join(out) + "\n" + tail)
    print("wrote SCALING.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
