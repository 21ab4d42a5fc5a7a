"""Record the curation check's expected outputs for a range of seeds.

    python3 perfbench/pin_curation.py          # input seeds 0 .. PIN_SEEDS - 1

Runs the checked curation pipeline of ``curation_retrieval`` once per seed and
writes kept/removed counts and the kept rows' hash to
``perfbench/pinned_curation.json``; ``run.py`` compares against them.
Re-pin only when a change is meant to alter the pipeline's output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    import numpy as np

    from perfbench.run import Bench, prepare_env
    from perfbench.workloads import PIN_SEEDS, PINNED, CurationPipeline

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("first", type=int, nargs="?", default=0)
    ap.add_argument("last", type=int, nargs="?", default=PIN_SEEDS - 1)
    a = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    prepare_env(work)
    pinned = {}
    bench = None
    try:
        for seed in range(a.first, a.last + 1):
            if bench is not None:
                bench.spark.stop()
            args = argparse.Namespace(workload="curation_retrieval", seed=seed, seconds=0, trace=0)
            bench = Bench(args, work, wl=CurationPipeline())
            bench.setup()
            got = bench.wl.outputs(bench.ctx, np.random.default_rng([seed, 1]))
            pinned[str(seed)] = {k: got[k] for k in ("kept", "removed", "hash")}
            print(seed, pinned[str(seed)], flush=True)
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(PINNED, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
