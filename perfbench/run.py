#!/usr/bin/env python3
"""Benchmark of the streaming-enrichment path, table maintenance and the
operator catalog, run against the package's public functions.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload enrich_stream --seed 1 --seconds 10 --trace 0

Workloads: ``enrich_stream``, ``dim_upsert`` and ``catalog_mix`` (see
``perfbench/README.md``).  A run generates its inputs from ``--seed`` in
a separate generator process, measures for ``--seconds``, checks every
output, and prints a report line followed by one final JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones named in ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer ones, taken in a run that records
spans.  The exit code is non-zero when any output check fails.

Everything the run writes goes under ``.perfbench-work/`` in the
checkout; the span dump of a traced run is kept there, the rest is
removed at exit.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "table_streaming_source_spark"


@dataclasses.dataclass
class Context:
    """What a workload needs besides the Spark session."""

    work: str
    seed: int
    seconds: int
    tiny: bool
    inject_fault: bool
    tracer: object
    counters: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def gen(self, *args: str) -> None:
        """Run one generator command to completion."""
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), *args,
             "--seed", str(self.seed)],
            check=True,
        )


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    from table_streaming_source_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # every job of a run stays in the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["enrich_stream", "dim_upsert", "catalog_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the smoke test")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one output before it is checked, to "
                    "show that the checks catch it")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"perfbench: no {PACKAGE}/ or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    work = os.path.join(ROOT, ".perfbench-work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, Spark's launcher included: no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    sys.path.insert(0, ROOT)

    from harness import SparkCounters, Tracer

    tracer = Tracer(bool(a.trace), f"{a.workload}-{a.seed}-{os.getpid()}")
    ctx = Context(work, a.seed, a.seconds, a.tiny, a.inject_fault, tracer)
    if a.workload == "enrich_stream":
        import enrich_stream as workload
    elif a.workload == "dim_upsert":
        import dim_upsert as workload
    else:
        import catalog_mix as workload

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        ctx.counters = SparkCounters(spark)
        out = workload.run(ctx, spark)
    finally:
        stop_session(spark)

    failed = len(out.problems)
    attempted = max(out.attempted, failed, 1)
    fail_ratio = failed / attempted
    metrics = {"setup_s": session_s + out.setup_s, **out.e2e}
    if a.trace:
        self_s = tracer.self_times()
        # a layer the workload bypasses reads 0
        metrics = {m["name"]: 0.0 for m in wanted}
        metrics.update(out.layers)
        metrics.update({f"{a.workload}.{k}": v for k, (v, _) in out.report.items()})
        for layer in ("snapshot", "enrichment", "sinks", "table_format",
                      "plans.catalog"):
            metrics[f"trace.self_s.{layer}"] = self_s.get(layer, 0.0)
        metrics["trace.spans"] = len(tracer.spans)
        metrics["trace.cost_s"] = len(tracer.spans) * tracer.cost_per_span_s()
        # this traced run's latency; the untraced median subtracted from
        # it is the tracing overhead
        metrics["trace.latency_p50_s"] = out.e2e["latency_p50_s"]
        metrics["fail_ratio"] = fail_ratio
        traces = os.path.join(ROOT, ".perfbench-work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{tracer.run_id}.json"))
    shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cpus": cpus(),
        "session_s": round(session_s, 4),
        "fail_ratio": fail_ratio, "problems": out.problems,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.report.items()},
    }
    print(json.dumps({"report": report}))
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
