"""Timing, tracing and resource sampling around calls into the engine.

Every call the benchmark makes into ``rasgoql_spark`` is split into
phases: ``resolve`` (``session.dataset``), ``construct`` (transform calls
that build a chain; they may run Spark jobs eagerly), ``render``
(``.sql()`` / ``to_dbt``) and ``execute`` (the noop-sink write). The
phase wall times are always recorded. With tracing on, each phase also
runs under its own Spark job group and is kept as a span in memory; the
Spark event log is joined to the spans after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

SPARK_FIELDS = ("jobs", "stages", "tasks", "task_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "failed_tasks")


@dataclass
class Span:
    group: str        # Spark job group id: unique per phase instance
    iteration: int    # -1 for set-up, -2 for the check iteration
    call: str         # which call of the iteration (template, operator)
    phase: str        # resolve | construct | render | execute | check
    layer: str        # module of the engine the phase calls into
    start: float
    end: float


class Recorder:
    """Times phases of calls; with ``trace`` set, names their Spark jobs."""

    def __init__(self, workload: str, trace: bool):
        self.workload = workload
        self.trace = trace
        self.spark = None
        self.iteration = -1
        self.spans: list[Span] = []
        self.cache_samples: list[tuple[int, int]] = []
        self.rendered_chars = 0   # SQL text rendered in traced iterations
        self._groups: list[str] = []
        self._seq = 0

    def bind(self, spark) -> None:
        self.spark = spark

    def begin_iteration(self, i: int) -> None:
        self.iteration = i

    @contextmanager
    def phase(self, call: str, phase: str, layer: str):
        sc = self.spark.sparkContext if self.trace else None
        group = ""
        if sc is not None:
            self._seq += 1
            group = f"{self.workload}|{self.iteration}|{call}|{phase}|{layer}|{self._seq}"
            self._groups.append(group)
            sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            if sc is not None:
                self._groups.pop()
                # a nested phase hands its jobs' group back to the outer one
                outer = self._groups[-1] if self._groups else None
                sc.setLocalProperty("spark.jobGroup.id", outer)
                sc.setLocalProperty("spark.job.description", outer)
                self.spans.append(Span(group, self.iteration, call, phase, layer, t0, t1))
                self.sample_cache()

    def note_render(self, sql: str) -> None:
        if self.trace and self.iteration >= 0:
            self.rendered_chars += len(sql)

    def sample_cache(self) -> None:
        """Record (persisted RDD count, bytes held in memory) right now."""
        jsc = self.spark.sparkContext._jsc
        mem = sum(info.memSize() for info in jsc.sc().getRDDStorageInfo())
        self.cache_samples.append((jsc.getPersistentRDDs().size(), mem))

    def persisted_now(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


def execute(df) -> None:
    """Run a DataFrame to the noop sink: every column is computed, nothing
    is collected."""
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------- resources

def _tree_pids(root: int) -> list[int]:
    """``root`` and all of its descendants (Linux /proc)."""
    children: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children[int(fields[1])].append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the JVM and its
    child processes (Python workers), in MiB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        kb += sum(_hwm_kb(p) for p in _tree_pids(jvm_pid))
    return kb / 1024.0


# --------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> dict[str, dict]:
    """Aggregate task metrics of every job in the Spark event logs under
    ``log_dir`` by job group. Jobs without a group land under ``""``."""
    by_group: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0))
    stage_group: dict[int, str] = {}
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    by_group[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    by_group[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    agg = by_group[stage_group.get(ev["Stage ID"], "")]
                    agg["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        agg["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    agg["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return dict(by_group)

