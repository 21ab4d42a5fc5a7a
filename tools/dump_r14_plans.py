"""Dump .explain('formatted') for named bench entries into plans/r14/.

Usage:
  python tools/dump_r14_plans.py before llm_pipeline_e2e llm_language_id_model
  python tools/dump_r14_plans.py after  llm_pipeline_e2e

Writes plans/r14/<entry>_<tag>.txt. Runs at sf0.1 (the bench scale) so the
plans match what the bench times; prebuilt entries get their index built
first (one warm-up call), exactly as bench.py's warm-up does.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import rasgoql_spark as rql  # noqa: E402


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if tag not in ("before", "after") or not names:
        print(__doc__)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = rql.default_spark(
        app_name="dump_r14_plans", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs("plans/r14", exist_ok=True)
    for name in names:
        fn = bench.BENCH_QUERIES[name]
        if name in bench._PREBUILT_ENTRIES:
            bench.run_one(fn, spark, sf_dir)  # build the process-cached index
        df = fn(spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = f"plans/r14/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
