"""``catalog_mix``: a closed loop of warm catalog runs, one client, noop
sink.  One entry per module that the roadmap plans to optimise and that
fits the run's time; it bypasses ``SnapshotManager`` and the live stream
entirely, so a change to those should not move it.

The first (cold) run of each entry is collected and compared with the
entry's DuckDB oracle by ``scripts/check_oracle.py``'s ``compare``; the
comparison is untimed and the cold run counts toward set-up.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from harness import Outcome, median, spark_totals

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")

#: entry → the module it exercises
ENTRIES = {
    "flagship_enrichment": "plans.relational",
    "dedup_minhash_lsh": "operators.dedup",
    "text_substring_dedup": "operators.text",
    "source_protobuf": "sources",
}
TABLES = ("region nation customer supplier orders lineitem events "
          "documents embeddings").split()
MIN_PASSES = 3
#: the smallest fixture scale: the warm passes then time per-query
#: planning and operator overhead, and a run's cold pass stays short
SF = "0.001"


def run(ctx, spark) -> Outcome:
    import duckdb

    from table_streaming_source_spark.plans.catalog import ORACLES, QUERIES

    sys.path.insert(0, SCRIPTS)
    from check_oracle import compare

    tr, cnt = ctx.tracer, ctx.counters
    data = ctx.path("tables")
    ctx.gen("tables", data, "--sf", SF)

    # set-up is the cold pass: the entries run side by side, one thread
    # each, and each result is compared with its oracle afterwards,
    # untimed.  Only the first pass is cold, so it is timed once.
    t_setup = time.perf_counter()
    results, cold = {}, {}

    def cold_run(name: str) -> None:
        cnt.group(f"mix:{name}:cold")
        t0 = time.perf_counter()
        with tr.span("plans.catalog", name):
            results[name] = QUERIES[name](spark, data).toPandas()
        cold[name] = time.perf_counter() - t0

    with ThreadPoolExecutor(len(ENTRIES)) as pool:
        for f in [pool.submit(cold_run, n) for n in ENTRIES]:
            f.result()
    setup_s = time.perf_counter() - t_setup

    problems = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name, got in results.items():
        if ctx.inject_fault and name == next(iter(ENTRIES)):
            got = got.iloc[1:]
        for why in compare(name, got, con.execute(ORACLES[name]).fetchdf(),
                           strict_dtypes=True):
            problems.append(f"{name}: {why}")
    con.close()

    warm: dict[str, list[float]] = {n: [] for n in ENTRIES}
    t_end = time.perf_counter() + ctx.seconds
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() < t_end:
        for name in ENTRIES:
            cnt.group(f"mix:{name}:{passes}")
            t0 = time.perf_counter()
            with tr.span("plans.catalog", name):
                QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()
            warm[name].append(time.perf_counter() - t0)
        passes += 1

    groups = cnt.by_group() if tr.enabled else {}
    layers = {"generator.files": len(TABLES)}
    for name in ENTRIES:
        runs = [groups.get(f"mix:{name}:{i}", {}) for i in range(passes)]
        layers[f"mix.{name}.s"] = median(warm[name])
        layers[f"mix.{name}.jobs"] = median([g.get("jobs", 0) for g in runs])
        layers[f"mix.{name}.shuffle_bytes"] = median(
            [g.get("shuffle_write_bytes", 0) for g in runs])
    layers.update(spark_totals(
        groups, [f"mix:{n}:{i}" for n in ENTRIES for i in range(passes)]))
    total = sum(median(v) for v in warm.values())
    report = {
        "mix_total_s": (total, "s"),
        "mix_cold_s": (sum(cold.values()), "s"),
        **{f"{n}_cold_s": (v, "s") for n, v in cold.items()},
        "passes": (passes, "count"),
        **{f"{n}_s": (median(v), "s") for n, v in warm.items()},
    }
    return Outcome(
        setup_s=setup_s,
        e2e={"latency_p50_s": total},
        layers=layers,
        report=report,
        attempted=len(ENTRIES) * (passes + 1),
        problems=problems,
    )
