"""Measurement plumbing shared by the workloads: spans around calls into
the package's layers, Spark's own counters read per job group, and the
small statistics the report needs.  Nothing here imports the package
under test."""

from __future__ import annotations

import dataclasses
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def pct(values, q: float) -> float:
    """The ``q``-quantile (0..1) of ``values`` by linear interpolation;
    0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


@dataclasses.dataclass
class Outcome:
    """What a workload measured.  ``e2e`` and ``layers`` hold the metric
    values by their ``BENCHMARK.json`` names; ``report`` holds the
    workload's own named metrics as ``(value, unit)``."""

    setup_s: float
    e2e: dict
    layers: dict
    report: dict
    attempted: int
    problems: list


class Tracer:
    """Spans recorded at the benchmark's calls into each layer: name,
    layer, start, end and parent, kept in memory and written out once at
    the end.  Spans of one run share ``run_id``.  When disabled every
    method is a cheap pass-through, so untraced runs pay nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._ids = itertools.count(1)

    def begin(self, layer: str, name: str):
        """Open a span on this thread; pass the result to :meth:`end`.
        For a layer whose call boundary is split across two callbacks."""
        if not self.enabled:
            return None
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        stack.append(sid)
        return (sid, stack[-2] if len(stack) > 1 else 0, layer, name,
                time.perf_counter())

    def end(self, token) -> None:
        if token is None:
            return
        sid, parent, layer, name, start = token
        stack = self._local.stack
        if sid in stack:
            stack.remove(sid)
        self.spans.append((sid, parent, layer, name, start, time.perf_counter()))

    @contextmanager
    def span(self, layer: str, name: str):
        token = self.begin(layer, name)
        try:
            yield
        finally:
            self.end(token)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer spent in that layer's spans and not in their
        child spans."""
        child = defaultdict(float)
        for _, parent, _, _, start, end in self.spans:
            child[parent] += end - start
        out = defaultdict(float)
        for sid, _, layer, _, start, end in self.spans:
            out[layer] += (end - start) - child[sid]
        return dict(out)

    def cost_per_span_s(self, n: int = 20_000) -> float:
        """Measured cost of recording one span, from a calibration loop
        that records into a scratch tracer."""
        probe = Tracer(True, "calibration")
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("calibration", "noop"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({
                "run_id": self.run_id,
                "fields": ["id", "parent", "layer", "name", "start", "end"],
                "spans": self.spans,
            }, fh)


#: stage-level counters summed per job group, with their report names
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "executorRunTime": "executor_run_s",
    "executorCpuTime": "executor_cpu_s",
    "jvmGcTime": "gc_s",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "inputBytes": "input_bytes",
    "diskBytesSpilled": "spill_bytes",
}
_SCALE = {"executor_run_s": 1e-3, "executor_cpu_s": 1e-9, "gc_s": 1e-3}


class SparkCounters:
    """Spark's own job and stage counters, read from the in-process status
    store (it works with the UI disabled) and summed per job group.  The
    benchmark puts every batch, commit, refresh and catalog run in its
    own group."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        )

    def group(self, name: str) -> None:
        """Label the jobs this thread starts from now on."""
        self._sc.setJobGroup(name, name)

    def by_group(self) -> dict[str, dict[str, float]]:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(self._mapper.writeValueAsString(store.stageList(
            None, False, False, getattr(store, "stageList$default$4")(), None
        )))
        ran = {
            (s["stageId"]): s for s in stages
            if s["status"] in ("COMPLETE", "FAILED")
        }
        out: dict[str, dict[str, float]] = {}
        seen: dict[str, set] = defaultdict(set)
        for job in jobs:
            g = job.get("jobGroup")
            if not g:
                continue
            acc = out.setdefault(g, defaultdict(float))
            acc["jobs"] += 1
            for sid in job["stageIds"]:
                if sid in ran and sid not in seen[g]:
                    seen[g].add(sid)
                    acc["stages"] += 1
                    for src, dst in _STAGE_FIELDS.items():
                        acc[dst] += ran[sid][src] * _SCALE.get(dst, 1)
        return out


def spark_totals(groups: dict[str, dict[str, float]], names) -> dict[str, float]:
    """Sum the counters of the job groups in ``names`` under
    ``spark.<counter>`` names."""
    fields = ["jobs", "stages", *_STAGE_FIELDS.values()]
    tot = {f"spark.{n}": 0.0 for n in fields}
    for g in names:
        for n in fields:
            tot[f"spark.{n}"] += groups.get(g, {}).get(n, 0.0)
    return tot
