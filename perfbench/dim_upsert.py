"""``dim_upsert``: table maintenance beside reads, a closed loop with one
client.  Each round applies a CDC batch (about 1% churn, inserts, updates
and deletes, keys skewed toward a hot range) to a ``table_format``
dimension with ``commit_merge``, refreshes a ``SnapshotManager`` over
``read_table`` (its injected clock makes every round refresh), and
materialises ``read_cdf`` over the new version.  The snapshot is read
back right after each write, so a change that speeds writes at the cost
of reads shows up here.
"""

from __future__ import annotations

import glob
import json
import os
import time

import pandas as pd
import pyarrow.parquet as pq

from harness import Outcome, median, pct, spark_totals

KEY = "c_custkey"
VALUES = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
MIN_ROUNDS = 4
#: table loads per run; set-up time takes their median
SETUPS = 2


def _sizes(tiny: bool) -> dict:
    if tiny:
        return dict(base_rows=1000, replicas=2, files=4)
    return dict(base_rows=15_000, replicas=4, files=8)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _commit_files(table: str, version: int) -> dict[str, int]:
    """Data file → size for the snapshot a commit publishes, read from
    the commit payload on disk."""
    with open(os.path.join(table, "_log", f"{version}.json")) as fh:
        payload = json.load(fh)
    return {
        f["path"]: os.path.getsize(os.path.join(table, f["path"]))
        for f in payload["files"]
    }


def replay(state: pd.DataFrame, batch: pd.DataFrame) -> tuple[pd.DataFrame, dict]:
    """Apply one CDC batch under strict-MERGE rules in pandas; returns the
    new state and the change counts a change feed must report.

    matched & D → removed; matched & U → source values (an update only if
    a value changes); unmatched & I → added; matched & I, unmatched U/D →
    no change."""
    present = batch[KEY].isin(state.index)
    ins = batch[(batch.op == "I") & ~present].set_index(KEY, drop=False)
    upd = batch[(batch.op == "U") & present].set_index(KEY, drop=False)
    dele = batch[(batch.op == "D") & present][KEY]
    changed = (state.loc[upd.index, VALUES] != upd[VALUES]).any(axis=1)
    state = state.copy()
    state.loc[upd.index, VALUES] = upd[VALUES]
    state = pd.concat([state.drop(index=dele), ins[[KEY, *VALUES]]])
    counts = {"insert": len(ins), "update_postimage": int(changed.sum()),
              "delete": len(dele)}
    return state, counts


def run(ctx, spark) -> Outcome:
    from table_streaming_source_spark import table_format as tf
    from table_streaming_source_spark.snapshot import SnapshotManager

    tr, cnt = ctx.tracer, ctx.counters
    z = _sizes(ctx.tiny)
    dim, cdc, table = ctx.path("dim.parquet"), ctx.path("cdc"), ctx.path("table")
    # a round takes well over 2 s at full size
    n_batches = MIN_ROUNDS if ctx.tiny else max(MIN_ROUNDS, ctx.seconds // 2 + 2)

    ctx.gen("dim", dim, "--base-rows", str(z["base_rows"]),
            "--replicas", str(z["replicas"]))
    ctx.gen("cdc", cdc, "--dim", dim, "--batches", str(n_batches + 1))
    cdc_files = sorted(glob.glob(os.path.join(cdc, "cdc-*.parquet")))

    # set-up: the table load, timed SETUPS times into fresh tables (the
    # last one is kept), then one warm-up round on the kept table
    loads = []
    for k in range(SETUPS):
        path = table if k == SETUPS - 1 else ctx.path(f"setup{k}")
        cnt.group(f"upsert:load:{k}")
        t0 = time.perf_counter()
        with tr.span("table_format", "commit_append"):
            tf.create_table(path)
            base = (spark.read.parquet(dim)
                    .repartitionByRange(z["files"], KEY).sortWithinPartitions(KEY))
            tf.commit_append(spark, path, base, stat_cols=[KEY])
        loads.append(time.perf_counter() - t0)

    clock = {"ms": 0}

    def loader():
        with tr.span("table_format", "read_table"):
            return tf.read_table(spark, table)

    snap = SnapshotManager(spark, loader=loader, refresh_interval_ms=1000,
                           clock_ms=lambda: clock["ms"], eager=True)
    rounds: list[dict] = []

    def one_round(i: int, path: str) -> None:
        changes = spark.read.parquet(path)
        cnt.group(f"upsert:merge:{i}")
        t0 = time.perf_counter()
        with tr.span("table_format", "commit_merge"):
            v, _, _ = tf.commit_merge(spark, table, changes, key=KEY, stat_cols=[KEY])
        t1 = time.perf_counter()
        cnt.group(f"upsert:refresh:{i}")
        clock["ms"] += 10_000
        before = snap.refresh_count
        with tr.span("snapshot", "current"):
            snap.current()
        t2 = time.perf_counter()
        cnt.group(f"upsert:cdf:{i}")
        with tr.span("table_format", "read_cdf"):
            cdf = {
                r["_change_type"]: r["count"]
                for r in tf.read_cdf(spark, table, from_version=v - 1, to_version=v)
                .groupBy("_change_type").count().collect()
            }
        t3 = time.perf_counter()
        rounds.append({
            "version": v, "file": path, "cdf": cdf,
            "refreshed": snap.refresh_count > before,
            "merge_s": t1 - t0, "refresh_s": t2 - t1, "cdf_s": t3 - t2,
            "round_s": t3 - t0,
        })

    t0 = time.perf_counter()
    one_round(0, cdc_files[0])
    setup_s = median(loads) + time.perf_counter() - t0
    bytes_before = _tree_bytes(table)

    t_end = time.perf_counter() + ctx.seconds
    for i, path in enumerate(cdc_files[1:], start=1):
        if i > MIN_ROUNDS and time.perf_counter() >= t_end:
            break
        one_round(i, path)
    bytes_added = _tree_bytes(table) - bytes_before
    measured = rounds[1:]
    snap.stop()

    # checks: the final table equals a pandas replay of the same batches,
    # and each commit's change feed reports the replay's counts
    cnt.group("upsert:check")
    state = pq.read_table(dim).to_pandas().set_index(KEY, drop=False)
    problems = []
    for r in rounds:
        state, want = replay(state, pq.read_table(r["file"]).to_pandas())
        got = {k: r["cdf"].get(k, 0) for k in want}
        if got != want:
            problems.append(f"v{r['version']} change feed {got} != replay {want}")
        if r["cdf"].get("update_preimage", 0) != want["update_postimage"]:
            problems.append(f"v{r['version']} update pre/post images unpaired")
        if not r["refreshed"]:
            problems.append(f"v{r['version']} snapshot did not refresh")
    final = tf.read_table(spark, table).toPandas()
    if ctx.inject_fault:
        final = final.iloc[1:]
    cols = [KEY, *VALUES]
    a = final[cols].reset_index(drop=True).sort_values(KEY, ignore_index=True)
    b = state[cols].reset_index(drop=True).sort_values(KEY, ignore_index=True)
    if len(a) != len(b) or not a.astype(str).equals(b.astype(str)):
        problems.append(f"final table ({len(a)} rows) != replay ({len(b)} rows)")

    groups = cnt.by_group() if tr.enabled else {}

    def jobs(kind):
        return median([groups.get(f"upsert:{kind}:{i}", {}).get("jobs", 0)
                       for i in range(1, len(rounds))])

    rewritten, written = [], []
    for r in measured:
        before, after = (_commit_files(table, r["version"] - 1),
                         _commit_files(table, r["version"]))
        rewritten.append(len(before.keys() - after.keys()))
        written.append(sum(s for p, s in after.items() if p not in before))
    cdc_bytes = sum(os.path.getsize(r["file"]) for r in measured)
    round_s = [r["round_s"] for r in measured]
    cdc_rows = sum(pq.ParquetFile(r["file"]).metadata.num_rows for r in measured)
    report = {
        "merge_commit_s": (median([r["merge_s"] for r in measured]), "s"),
        "snapshot_refresh_s": (median([r["refresh_s"] for r in measured]), "s"),
        "cdf_read_s": (median([r["cdf_s"] for r in measured]), "s"),
        "write_amp": (bytes_added / max(cdc_bytes, 1), "ratio"),
        "round_p50_s": (pct(round_s, 0.5), "s"),
        "round_p95_s": (pct(round_s, 0.95), "s"),
        "rounds": (len(measured), "count"),
        "cdc_rows_per_s": (cdc_rows / max(sum(round_s), 1e-9), "rows/s"),
    }
    layers = {
        "snapshot.refreshes": len(measured),
        "snapshot.load_s_p50": report["snapshot_refresh_s"][0],
        "snapshot.rows": len(state),
        "table_format.files_rewritten_p50": median(rewritten),
        "table_format.bytes_written_p50": median(written),
        "table_format.merge_jobs": jobs("merge"),
        "table_format.read_jobs": jobs("refresh"),
        "table_format.cdf_jobs": jobs("cdf"),
        **spark_totals(groups, [f"upsert:{k}:{i}" for i in range(1, len(rounds))
                                for k in ("merge", "refresh", "cdf")]),
        "generator.files": len(cdc_files),
    }
    return Outcome(
        setup_s=setup_s,
        e2e={"latency_p50_s": pct(round_s, 0.5)},
        layers=layers,
        report=report,
        attempted=len(rounds) + 1,
        problems=problems,
    )
