"""``enrich_stream``: the paper's path, run as an open loop.

The generator appends event files at a fixed rate, each row stamped with
the time its file was due.  ``start_enriched_stream`` joins every
micro-batch against a ``SnapshotManager`` with a short TTL, so the
snapshot refreshes several times per run, and the sink appends parquet.
The trigger is ``"0 seconds"``: with a longer trigger the trigger clock,
not the program, would set the latency.  After the steady phase a fixed
backlog lands at once and is drained.  Refresh cost, per-trigger overhead
and sink cost all sit on the event's blocking path here.
"""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from harness import Outcome, median, pct, spark_totals

EVENT_DDL = "event_id long, c_custkey long, value double, created_ms long"
GEN_LEAD_S = 1.5
WARMUP_S = 1.0
END_MARGIN_S = 1.5
#: a steady-phase file written later than this after it was due fails
#: the run: its lateness would count as the program's latency
LATE_LIMIT_S = 0.1


def _sizes(tiny: bool) -> dict:
    if tiny:
        return dict(base_rows=500, replicas=2, rate=2.0, rows=100,
                    burst_files=4, ttl_ms=2000)
    return dict(base_rows=15_000, replicas=20, rate=4.0, rows=500,
                burst_files=40, ttl_ms=10_000)


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, read from the file source's log in the
    checkpoint (plain and compacted entries alike)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _progress_layers(progress: list[dict], first_batch: int, wall_s: float) -> dict:
    rows = [p for p in progress if p["batchId"] >= first_batch and p["numInputRows"] > 0]

    def phase(key):
        return median([p["durationMs"].get(key, 0) for p in rows])

    busy_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in rows)
    return {
        "stream.latest_offset_ms_p50": phase("latestOffset"),
        "stream.query_planning_ms_p50": phase("queryPlanning"),
        "stream.wal_commit_ms_p50": phase("walCommit"),
        "stream.add_batch_ms_p50": phase("addBatch"),
        "stream.commit_offsets_ms_p50": phase("commitOffsets"),
        "stream.trigger_ms_p50": phase("triggerExecution"),
        "stream.idle_ratio": max(0.0, 1.0 - busy_ms / 1000.0 / wall_s),
    }


def _check(ctx, sink: str, events: str, dim: str) -> tuple[int, list[str]]:
    """Every generated event is in the sink exactly once and carries its
    dimension row's balance.  Returns (checks made, problems)."""
    if ctx.inject_fault:
        victim = sorted(glob.glob(os.path.join(sink, "*.parquet")))[0]
        t = pq.read_table(victim)
        pq.write_table(t.slice(1), victim)
    out = ds.dataset(sink, format="parquet").to_table().to_pandas()
    exp = ds.dataset(events, format="parquet").to_table().to_pandas()
    dim_df = pq.read_table(dim, columns=["c_custkey", "c_acctbal"]).to_pandas()
    exp = exp.merge(dim_df, on="c_custkey", how="left")
    problems = []
    if len(out) != len(exp):
        problems.append(f"sink rows {len(out)} != generated events {len(exp)}")
    if out["event_id"].duplicated().any():
        problems.append(f"{int(out['event_id'].duplicated().sum())} events in the sink twice")
    if set(out["event_id"]) != set(exp["event_id"]):
        problems.append("sink event ids differ from the generated ones")
    got, want = float(out["c_acctbal"].sum()), float(exp["c_acctbal"].sum())
    if abs(got - want) > 1e-6 * max(1.0, abs(want)):
        problems.append(f"sink balance sum {got:.2f} != expected {want:.2f}")
    joined = out.merge(exp, on="event_id", suffixes=("", "_exp"))
    if (joined["c_acctbal"] != joined["c_acctbal_exp"]).any():
        problems.append("an event carries another customer's balance")
    return 5, problems


def run(ctx, spark) -> Outcome:
    from table_streaming_source_spark.snapshot import SnapshotManager, load_snapshot
    from table_streaming_source_spark.streaming.enrichment import start_enriched_stream

    tr, cnt = ctx.tracer, ctx.counters
    z = _sizes(ctx.tiny)
    keys = z["base_rows"] * z["replicas"]
    dim, events, sink = ctx.path("dim.parquet"), ctx.path("events"), ctx.path("sink")
    ckpt = ctx.path("ckpt")
    ev_args = ["--rows", str(z["rows"]), "--keys", str(keys)]

    # inputs made before anything is timed: the dimension, one warm-up
    # file (file 0) and the backlog (files 1..burst_files), staged outside
    # the stream's directory until they land
    ctx.gen("dim", dim, "--base-rows", str(z["base_rows"]),
            "--replicas", str(z["replicas"]))
    staged = ctx.path("staged")
    os.makedirs(staged)
    ctx.gen("events", staged, "--manifest", ctx.path("m-staged.json"),
            "--first-file", "0", "--files", str(1 + z["burst_files"]), *ev_args)
    first_steady = 1 + z["burst_files"]

    calls: list[tuple[bool, float, bool]] = []  # (refreshed, seconds, measured)
    batches: dict[int, dict] = {}
    pending: dict = {}
    measured = {"on": False}
    last_refresh = {"ms": 0.0}

    def loader():
        with tr.span("snapshot", "load"):
            return load_snapshot(spark, dim)

    # set-up: the snapshot manager, the stream start and the warm-up
    # file's batch.  It is timed once: only the first stream in a session
    # starts cold, and a second one would cost about as much again.
    os.makedirs(events)
    os.replace(os.path.join(staged, "ev-000000.parquet"),
               os.path.join(events, "ev-000000.parquet"))
    t_setup = time.perf_counter()
    snap = SnapshotManager(spark, loader=loader, refresh_interval_ms=z["ttl_ms"])
    current = snap.current

    def traced_current():
        pending["token"] = tr.begin("enrichment", "batch")
        cnt.group(f"enrich:snapshot:{len(calls)}")
        before = snap.refresh_count
        t, wall_ms = time.perf_counter(), time.time() * 1000
        with tr.span("snapshot", "current"):
            df = current()
        refreshed = snap.refresh_count > before
        if refreshed:
            last_refresh["ms"] = wall_ms
        calls.append((refreshed, time.perf_counter() - t, measured["on"]))
        pending.update(start=t, refreshed=refreshed)
        return df

    snap.current = traced_current

    def sink_fn(df, batch_id):
        cnt.group(f"enrich:sink:{batch_id}")
        t = time.perf_counter()
        with tr.span("sinks", "append_parquet"):
            df.write.mode("append").parquet(sink)
        end = time.perf_counter()
        batches[batch_id] = {
            "commit_wall": time.time(), "sink_s": end - t,
            "batch_s": end - pending.get("start", t),
            "refreshed": pending.get("refreshed", False),
            "measured": measured["on"],
        }
        tr.end(pending.pop("token", None))

    with tr.span("enrichment", "start_enriched_stream"):
        q = start_enriched_stream(
            spark.readStream.schema(EVENT_DDL).parquet(events), snap,
            "c_custkey", sink_fn, trigger="0 seconds", checkpoint=ckpt,
            query_name="perfbench_enrich",
        )
    q.processAllAvailable()
    setup_s = time.perf_counter() - t_setup

    problems = []
    try:
        # steady phase: files due every 1/rate s from GEN_LEAD_S on, the
        # time the generator needs to start and encode them.  Latency is
        # taken over `seconds` starting at the first TTL boundary at
        # least WARMUP_S after the first file (the snapshot's TTL is
        # epoch-aligned), so every run's window holds the same number of
        # refreshes.  The files stop END_MARGIN_S before the window's
        # closing boundary so the last batch commits before it.
        measured["on"] = True
        t_steady = time.time()
        gen_start = t_steady + GEN_LEAD_S
        ttl_s = z["ttl_ms"] / 1000
        window_start = (int((gen_start + WARMUP_S) / ttl_s) + 1) * ttl_s
        n_steady = int(z["rate"] * (window_start - gen_start + ctx.seconds - END_MARGIN_S))
        ctx.gen("events", events, "--manifest", ctx.path("m-steady.json"),
                "--first-file", str(first_steady), "--files", str(n_steady),
                "--rate", str(z["rate"]), "--start", repr(gen_start), *ev_args)
        q.processAllAvailable()
        steady_wall = time.time() - t_steady
        progress_mark = len(q.recentProgress)

        # burst phase: the backlog lands at once and is drained.  It lands
        # once the snapshot's TTL has run out, so its first batch always
        # pays one refresh, as a backlog after a pause does.
        ttl = z["ttl_ms"]
        due_ms = last_refresh["ms"] + ttl - last_refresh["ms"] % ttl
        time.sleep(max(0.0, (due_ms + 50 - time.time() * 1000) / 1000))
        with open(ctx.path("m-staged.json")) as fh:
            burst = json.load(fh)[1:]
        for r in burst:
            os.replace(os.path.join(staged, r["file"]), os.path.join(events, r["file"]))
        landed = time.time()
        q.processAllAvailable()
        measured["on"] = False
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
        snap.stop()
    if q.exception() is not None:
        problems.append(f"stream failed: {q.exception()}")

    file_batch = _file_batches(ckpt)
    with open(ctx.path("m-steady.json")) as fh:
        steady = json.load(fh)

    def latency(rec):
        return batches[file_batch[rec["file"]]]["commit_wall"] - rec["due_ms"] / 1000.0

    cutoff_ms = window_start * 1000
    lat, lat_refresh = [], []
    for rec in steady:
        if rec["due_ms"] < cutoff_ms or rec["file"] not in file_batch:
            continue
        lat.append(latency(rec))
        if batches[file_batch[rec["file"]]]["refreshed"]:
            lat_refresh.append(latency(rec))
    burst_rows = sum(r["rows"] for r in burst)
    burst_done = max(
        (batches[file_batch[r["file"]]]["commit_wall"] for r in burst if r["file"] in file_batch),
        default=landed,
    )
    burst_rps = burst_rows / max(burst_done - landed, 1e-9)
    late_s_max = max((r["written_ms"] - r["due_ms"]) / 1000.0 for r in steady)
    if late_s_max > LATE_LIMIT_S:
        problems.append(f"generator fell behind: a file was written {late_s_max:.3f} s "
                        f"after it was due (limit {LATE_LIMIT_S} s)")

    n_checks, check_problems = _check(ctx, sink, events, dim)
    problems += check_problems
    steady_batches = [b for b in batches.values() if b["measured"]]
    first_measured = min(
        (i for i, b in batches.items() if b["measured"]), default=0
    )
    groups = cnt.by_group() if tr.enabled else {}
    measured_groups = [
        f"enrich:sink:{i}" for i, b in batches.items() if b["measured"]
    ] + [f"enrich:snapshot:{i}" for i, c in enumerate(calls) if c[2]]
    layers = {
        "snapshot.refreshes": sum(1 for c in calls if c[0] and c[2]),
        "snapshot.load_s_p50": median([c[1] for c in calls if c[0] and c[2]]),
        "snapshot.hit_ms_p50": 1000 * median([c[1] for c in calls if not c[0] and c[2]]),
        "snapshot.rows": keys,
        "enrichment.batches": len(steady_batches),
        "enrichment.batch_s_p50": median([b["batch_s"] for b in steady_batches]),
        "enrichment.batch_s_max": max([b["batch_s"] for b in steady_batches], default=0.0),
        "enrichment.rows_per_batch_p50": median([
            p["numInputRows"] for p in progress
            if p["batchId"] >= first_measured and p["numInputRows"] > 0
        ]),
        **_progress_layers(progress[:progress_mark], first_measured, steady_wall),
        "sink.write_s_p50": median([b["sink_s"] for b in steady_batches]),
        "sink.files": len(glob.glob(os.path.join(sink, "*.parquet"))),
        **spark_totals(groups, measured_groups),
        "spark.stream_shuffle_bytes": sum(
            groups.get(f"enrich:sink:{i}", {}).get("shuffle_write_bytes", 0.0)
            for i, b in batches.items() if b["measured"]
        ),
        "generator.files": len(steady) + len(burst) + 1,
        "generator.late_s_max": late_s_max,
    }
    p50, p95 = pct(lat, 0.5), pct(lat, 0.95)
    report = {
        "latency_p50_s": (p50, "s"),
        "latency_p95_s": (p95, "s"),
        "latency_samples": (sum(r["rows"] for r in steady if r["due_ms"] >= cutoff_ms), "events"),
        "latency_files": (len(lat), "files"),
        "refresh_latency_p50_s": (pct(lat_refresh, 0.5), "s"),
        "refresh_batches": (sum(1 for b in steady_batches if b["refreshed"]), "batches"),
        "burst_rows_per_s": (burst_rps, "rows/s"),
        "generator_late_s_max": (late_s_max, "s"),
    }
    return Outcome(
        setup_s=setup_s,
        e2e={"latency_p50_s": p50},
        layers=layers,
        report=report,
        attempted=len(batches) + n_checks,
        problems=problems,
    )
