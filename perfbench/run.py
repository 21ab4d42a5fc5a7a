"""Run one benchmark workload against the ``rasgoql_spark`` package.

    python3 perfbench/run.py --workload relational_chains --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout that holds the package. The run
generates its inputs from ``--seed`` under ``.perfbench_work/`` in that
checkout, sets up several times, runs one untimed iteration whose
outputs are checked, then runs iterations in a closed loop for
``--seconds``. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_CORES = 4
SETUPS = 3          # set-ups per untraced run; setup_s is their median
# Spark driver heap, fixed in size. The inputs are a few MB; the engine's
# default ceiling (8g) lets the heap grow past 4 GiB on a host other
# processes share, and a heap G1 may resize makes peak RSS vary by a third
# between identical runs. The heap is not touched up front, so RSS still
# grows with what the run allocates; jvm.old_gen_peak_bytes (traced) shows
# what it retains.
DRIVER_MEMORY = "2g"

# Per-layer metrics: every layer gets construct_s, execute_s and jobs
# (per measured iteration); layers that no call of a workload touches
# read 0 there.
LAYERS = (
    "operators.apply", "operators.filtering", "operators.projection", "operators.dates",
    "operators.aggregates", "operators.joins", "operators.windows", "operators.reshape",
    "operators.ml", "streaming.ops",
    "functions.curation.url_normalize", "functions.curation.dedup_url",
    "functions.curation.decontaminate", "functions.curation.quality_filter",
    "functions.dedup.dedup_minhash", "functions.dedup.near_dup_clusters",
    "functions.mix.mix_datasets",
    "functions.pq.similarity_search_ivfpq", "functions.pq.embedding_join_ivfpq",
    "functions.similarity.similarity_search_binary", "functions.similarity.update_ivf_index",
)
# Index builds of set-up: each gets build_s.
BUILDS = ("functions.pq.ivfpq_index", "functions.similarity.binary_index",
          "functions.similarity.ivf_index")
# Recall@10 against exact search, from the checked iteration.
RECALLS = {"ivfpq": "functions.pq.similarity_search_ivfpq.recall_at_10",
           "binary": "functions.similarity.similarity_search_binary.recall_at_10"}
UNITS = {"_s": "s", "_bytes": "bytes", "_bytes_peak": "bytes", "_chars": "chars",
         "_ratio": "ratio", "recall_at_10": "ratio", "_mb": "MiB", "_per_s": "rows/s"}


def unit_of(name: str) -> str:
    for suffix in sorted(UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return UNITS[suffix]
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, event_log: bool = False) -> None:
    """Keep every file Spark and Python write inside ``work``; with
    ``event_log``, have Spark write its event log (the traced run's job
    metrics). The Spark driver heap is ``DRIVER_MEMORY``, fixed in size."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_MASTER", None)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} "
                                          f"-Dderby.system.home={work}"),
    }
    if event_log:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + logs,
                      "spark.eventLog.compress": "false"})
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Bench:
    def __init__(self, args, work: str, wl=None):
        import numpy as np

        from perfbench.harness import Recorder
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.wl = wl or WORKLOADS[args.workload]()
        self.rec = Recorder(args.workload, trace=False)
        self.input_seed = self.wl.input_seed(args.seed)
        self.iter_rng = np.random.default_rng([args.seed, 0])
        self.rows: dict[str, int] = {}
        self.spark = None
        self.ctx = None
        self.start_s: list[float] = []
        self.setup_s: list[float] = []
        self.checksums: set[str] = set()
        self.check_s = 0.0
        self.old_gen_peak = 0
        self.attempted = 0
        self.failed = 0
        self.untraced_groups: set[str] = set()

    # ----------------------------------------------------------- session

    def _start(self) -> None:
        import rasgoql_spark as rql

        t0 = time.perf_counter()
        self.spark = rql.default_spark(app_name=f"perfbench-{self.args.workload}",
                                       master=f"local[{N_CORES}]",
                                       shuffle_partitions=N_CORES)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s.append(time.perf_counter() - t0)

    def setup(self) -> None:
        """Start a session, generate the inputs, register them and run the
        workload's own set-up (index builds). A session left by an earlier
        set-up is stopped first, untimed."""
        import rasgoql_spark as rql
        from perfbench import inputs
        from perfbench.workloads import Ctx

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self._start()
        self.rec.bind(self.spark)
        self.rec.begin_iteration(-1)
        paths = inputs.generate(self.input_seed, self.wl.sizes, os.path.join(self.work, "inputs"))
        self.checksums.add(inputs.checksum(paths))
        self.rows = inputs.rows(paths)
        with self.rec.phase("setup", "resolve", "session"):
            for name, path in paths.items():
                self.spark.read.parquet(path).createOrReplaceTempView(name)
            session = rql.connect(self.spark)
        self.ctx = Ctx(self.spark, session, self.rec, self.work, self.rows)
        self.wl.setup(self.ctx)
        self.setup_s.append(time.perf_counter() - t0)

    def stop(self) -> float | None:
        """Stop Spark and its JVM; return the peak RSS (MiB) seen."""
        from pyspark import SparkContext

        from perfbench.harness import peak_rss_mb

        gateway = SparkContext._gateway
        jvm_pid = gateway.proc.pid if gateway is not None else None
        rss = peak_rss_mb(jvm_pid)
        if self.spark is not None:
            pools = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
            self.old_gen_peak = sum(p.getPeakUsage().getUsed() for p in pools
                                    if "Old Gen" in p.getName())
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except Exception:
                gateway.proc.kill()
                gateway.proc.wait()
        return rss

    # ------------------------------------------------------------ phases

    def check(self) -> None:
        """One untimed iteration with output checks; also the warm-up."""
        import numpy as np

        self.rec.begin_iteration(-2)
        rng = np.random.default_rng([self.input_seed, 1])
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            # the checks' own Spark jobs run under this phase's job group
            with self.rec.phase("check", "check", "bench"):
                found = self.wl.check(self.ctx, rng, self.args.seed)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            found = ["check raised"]
        if found:
            self.failed += 1
            for f in found:
                print(f"check failed: {f}", file=sys.stderr)
        gc.collect()
        self.check_s = time.perf_counter() - t0

    def measure(self, seconds: float) -> dict:
        """Closed loop, one client: iterate until ``seconds`` have passed;
        at least one iteration runs, two in a traced run. In a traced run,
        even iterations run untraced (their jobs under one coarse group) so
        the tracing overhead can be read off the run."""
        out = {"iter_s": [], "traced": [], "persisted_after": []}
        traced_run = self.rec.trace
        sc = self.spark.sparkContext
        deadline = time.perf_counter() + seconds
        i = 0
        least = 2 if traced_run else 1
        while len(out["iter_s"]) < least or time.perf_counter() < deadline:
            self.rec.begin_iteration(i)
            self.rec.trace = traced_run and i % 2 == 1
            if traced_run and not self.rec.trace:
                group = f"{self.args.workload}|{i}|iteration|untraced|all|u{i}"
                self.untraced_groups.add(group)
                sc.setJobGroup(group, group)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                result = self.wl.iteration(self.ctx, self.iter_rng)
                dt = time.perf_counter() - t0
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                if time.perf_counter() >= deadline:
                    break
                continue
            finally:
                # cache-lifetime guard: the next build must not reuse
                # this iteration's persisted intermediates
                result = None
                gc.collect()
                if traced_run:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            out["iter_s"].append(dt)
            out["traced"].append(self.rec.trace)
            if traced_run:
                out["persisted_after"].append(self.rec.persisted_now())
            i += 1
        self.rec.trace = traced_run
        if not out["iter_s"]:
            raise SystemExit("error: every iteration failed")
        return out

    # --------------------------------------------------------------- run

    def run(self) -> dict:
        from perfbench.harness import read_event_log

        self.rec.trace = bool(self.args.trace)
        for _ in range(1 if self.args.trace else SETUPS):
            self.setup()
        self.check()    # also the warm-up: it runs every call of an iteration
        m = self.measure(self.args.seconds)
        rss = self.stop()
        self._consistent_inputs()
        iters = m["iter_s"]
        if self.args.trace:
            groups = read_event_log(os.path.join(self.work, "eventlog"))
            metrics = self._layer_metrics(m, groups)
            print(f"# {self.args.workload} seed={self.args.seed} traced: {len(iters)} iterations "
                  f"(odd ones traced), iter_s={[round(x, 3) for x in iters]}, "
                  f"unattributed jobs={metrics['spark.unattributed_jobs']}")
            return self._result(metrics)
        rows = self.wl.rows_per_iteration(self.rows) * len(iters)
        metrics = {
            "setup_s": statistics.median(self.setup_s),
            "iter_p50_s": statistics.median(iters),
            "rows_per_s": rows / sum(iters),
            "peak_rss_mb": rss,
        }
        print(f"# {self.args.workload} seed={self.args.seed}: {len(iters)} iterations, "
              f"iter_s={[round(x, 3) for x in iters]}, setups={[round(x, 3) for x in self.setup_s]}, "
              f"check_s={self.check_s:.3f}, recall@10={getattr(self.wl, 'recall', {})}")
        return self._result(metrics)

    def _consistent_inputs(self) -> None:
        if len(self.checksums) != 1:
            self.failed += 1
            print(f"check failed: inputs differ between set-ups: {sorted(self.checksums)}",
                  file=sys.stderr)

    def _result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
        }

    def _layer_metrics(self, m: dict, groups: dict) -> dict:
        from perfbench.harness import SPARK_FIELDS

        traced = [t for t, on in zip(m["iter_s"], m["traced"]) if on]
        untraced = [t for t, on in zip(m["iter_s"], m["traced"]) if not on]
        n = max(len(traced), 1)
        spans = self.rec.spans
        measured = [s for s in spans if s.iteration >= 0]
        known = {s.group for s in spans} | self.untraced_groups
        per: dict[str, float] = {}

        def add(key, value):
            per[key] = per.get(key, 0.0) + value

        phase_spark = {"construct": dict.fromkeys(SPARK_FIELDS, 0),
                       "execute": dict.fromkeys(SPARK_FIELDS, 0)}
        for s in measured:
            g = groups.get(s.group, dict.fromkeys(SPARK_FIELDS, 0))
            dt = s.end - s.start
            kind = "execute" if s.phase == "execute" else "construct"
            if s.phase not in ("render", "build"):
                for f in SPARK_FIELDS:
                    phase_spark[kind][f] += g[f]
            if s.phase == "resolve":
                add("session.resolve_s", dt)
                add("dataset.construct_jobs", g["jobs"])
            elif s.phase == "construct":
                add("dataset.construct_s", dt)
                add("dataset.construct_jobs", g["jobs"])
                add("dataset.steps", 1)
                add(f"{s.layer}.construct_s", dt)
                add(f"{s.layer}.jobs", g["jobs"])
            elif s.phase == "call":
                add(f"{s.layer}.construct_s", dt)
                add(f"{s.layer}.jobs", g["jobs"])
            elif s.phase == "render":
                if s.layer == "dbt":
                    add("dbt.export_s", dt)
                else:
                    add("render.sql_s", dt)
                add("render.sql_jobs", g["jobs"])
            elif s.phase == "execute":
                add(f"{s.layer}.execute_s", dt)
                add(f"{s.layer}.jobs", g["jobs"])
        metrics = {
            "session.start_s": statistics.median(self.start_s),
            "session.resolve_s": per.get("session.resolve_s", 0.0) / n,
            "dataset.construct_s": per.get("dataset.construct_s", 0.0) / n,
            "dataset.construct_jobs": per.get("dataset.construct_jobs", 0.0) / n,
            "dataset.steps": per.get("dataset.steps", 0.0) / n,
            "render.sql_s": per.get("render.sql_s", 0.0) / n,
            "render.sql_jobs": per.get("render.sql_jobs", 0.0) / n,
            "render.sql_chars": self.rec.rendered_chars / n,
            "dbt.export_s": per.get("dbt.export_s", 0.0) / n,
        }
        for layer in LAYERS:
            for field in ("construct_s", "execute_s", "jobs"):
                metrics[f"{layer}.{field}"] = per.get(f"{layer}.{field}", 0.0) / n
        for layer in BUILDS:
            metrics[f"{layer}.build_s"] = sum(s.end - s.start for s in spans
                                              if s.phase == "build" and s.layer == layer)
        recall = getattr(self.wl, "recall", {})
        for name, key in RECALLS.items():
            metrics[key] = recall.get(name, 0.0)
        samples = self.rec.cache_samples or [(0, 0)]
        metrics["cache.persisted_peak"] = max(c for c, _ in samples)
        metrics["cache.persisted_after"] = max(m["persisted_after"] or [0])
        metrics["cache.mem_bytes_peak"] = max(b for _, b in samples)
        for kind, agg in phase_spark.items():
            for f in SPARK_FIELDS:
                metrics[f"spark.{kind}.{f}"] = agg[f] / n
        task_s = phase_spark["construct"]["task_s"] + phase_spark["execute"]["task_s"]
        metrics["spark.busy_ratio"] = task_s / (sum(traced) * N_CORES) if traced else 0.0
        metrics["spark.unattributed_jobs"] = sum(
            g["jobs"] for name, g in groups.items() if name not in known)
        metrics["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced)
                                       if traced and untraced else 0.0)
        metrics["jvm.old_gen_peak_bytes"] = self.old_gen_peak
        metrics["bench.iterations"] = len(m["iter_s"])
        metrics["bench.check_s"] = self.check_s
        return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rasgoql_spark", "__init__.py")):
        print(f"error: no rasgoql_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS  # noqa: F401  (validates the import path)

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work, event_log=bool(args.trace))
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
