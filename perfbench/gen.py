"""Seeded input generator for the benchmark.

Runs as its own single-threaded process and writes parquet with pyarrow
only, so the program under test sees nothing but the files it produces.
Every command takes ``--seed``; the same seed gives the same rows.  The
``events`` command stamps each row with the time its file was due, which
is the only input that depends on the wall clock.

Commands:

  tables  DIR --sf SF         the fixture tables the catalog entries read
  dim     FILE --replicas N   customer at sf0.1, replicated with key offsets
  cdc     DIR --batches N     CDC batches for the ``dim`` table
  events  DIR --files N ...   event files: at a fixed rate with ``--rate``
                              (open loop), else all at once (a backlog)

Run ``python3 perfbench/gen.py <command> --help`` for the options.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMER = pa.schema([
    ("c_custkey", pa.int64()),
    ("c_name", pa.string()),
    ("c_nationkey", pa.int32()),
    ("c_acctbal", pa.float64()),
    ("c_mktsegment", pa.string()),
])
CDC = CUSTOMER.append(pa.field("op", pa.string()))
EVENT = pa.schema([
    ("event_id", pa.int64()),
    ("c_custkey", pa.int64()),
    ("value", pa.float64()),
    ("created_ms", pa.int64()),
])

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.38, 0.16, 0.16, 0.15, 0.15]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
DAY_US = 86_400_000_000
#: CDC batches: share of the live rows changed per batch, and the share of
#: updates and deletes that land in the hot key range (the lowest
#: HOT_FRAC of the keys)
CHURN = 0.01
HOT_SHARE = 0.8
HOT_FRAC = 0.05


def _write(table: pa.Table, path: str) -> None:
    """Write ``table`` under a hidden name, then rename it into place, so
    a directory scan never sees a half-written file.  Row groups of 50k
    rows let a reader split a large table across tasks."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp, row_group_size=50_000)
    os.replace(tmp, path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, stop: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def customers(rng, n: int, key0: int = 0) -> pa.Table:
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    }, schema=CUSTOMER)


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-shaped star schema plus the documents, embeddings and
    events extension tables, with the repository's fixture column types."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": customers(rng, n_cust),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord,
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-01", "2001-12-31", n_line),
        }),
    }
    n_doc = 500
    lengths = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(500, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500), pa.int32()),
    })
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return out


def replicated_customers(seed: int, base_rows: int, replicas: int) -> pa.Table:
    """``base_rows`` customers repeated ``replicas`` times, each copy's
    keys offset by ``base_rows`` so every key stays unique."""
    base = customers(np.random.default_rng(seed), base_rows)
    parts = []
    for r in range(replicas):
        keys = pa.array(
            base["c_custkey"].to_numpy() + r * base_rows, pa.int64()
        )
        parts.append(base.set_column(0, "c_custkey", keys))
    return pa.concat_tables(parts)


def cdc_batches(seed: int, table: pa.Table, batches: int):
    """CDC batches against ``table``: about ``CHURN`` of the live rows per
    batch, split into inserts (new keys), updates (a new balance) and
    deletes.  Updates and deletes pick from the hot key range with
    probability ``HOT_SHARE``, else uniformly.  One op per key per batch,
    as strict MERGE requires; every batch carries the table's types."""
    rng = np.random.default_rng(seed + 1)
    live = table.to_pandas().set_index("c_custkey", drop=False)
    next_key = int(live.index.max()) + 1
    for _ in range(batches):
        keys = live.index.to_numpy()
        n = max(3, int(len(keys) * CHURN))
        n_ins, n_del = n * 3 // 10, n * 2 // 10
        n_upd = n - n_ins - n_del
        hot = np.sort(keys)[: max(n, int(len(keys) * HOT_FRAC))]
        picks = np.where(
            rng.random(4 * (n_upd + n_del)) < HOT_SHARE,
            rng.choice(hot, 4 * (n_upd + n_del)),
            rng.choice(keys, 4 * (n_upd + n_del)),
        )
        _, first = np.unique(picks, return_index=True)
        chosen = picks[np.sort(first)][: n_upd + n_del]
        upd, dele = chosen[:n_upd], chosen[n_upd:]
        ins = customers(rng, n_ins, next_key).to_pandas()
        next_key += n_ins
        up = live.loc[upd].copy()
        up["c_acctbal"] = np.round(up["c_acctbal"] + rng.uniform(1, 500, len(up)), 2)
        de = live.loc[dele].copy()
        batch = pa.concat_tables([
            pa.Table.from_pandas(ins.assign(op="I"), CDC, preserve_index=False),
            pa.Table.from_pandas(up.assign(op="U"), CDC, preserve_index=False),
            pa.Table.from_pandas(de.assign(op="D"), CDC, preserve_index=False),
        ])
        live.loc[upd, "c_acctbal"] = up["c_acctbal"].to_numpy()
        live = pd.concat([
            live.drop(index=dele), ins.set_index("c_custkey", drop=False)
        ])
        yield batch


def write_events(out: str, manifest: str, *, seed: int, first_file: int,
                 files: int, rows: int, keys: int, rate: float | None,
                 start: float | None) -> None:
    """Write ``files`` event files of ``rows`` rows into ``out``.  With
    ``rate`` the files are due one every ``1/rate`` seconds from ``start``
    (epoch seconds; an open loop: a file is written when due, whether or
    not the consumer kept up), without it they are all due now.  Each row
    carries its file's due time.  Every file is encoded before the first
    is due, so a due file costs one write and one rename.  The manifest
    records each file's due and written times."""
    rng = np.random.default_rng([seed, first_file])
    payload = [
        (first_file + i, rng.integers(0, keys, rows),
         np.round(rng.uniform(0, 100, rows), 2))
        for i in range(files)
    ]
    t0 = start if rate else time.time()
    step = 1 / rate if rate else 0.0
    encoded = []
    for i, (seq, cust, value) in enumerate(payload):
        due_ms = int((t0 + i * step) * 1000)
        buf = io.BytesIO()
        pq.write_table(pa.table({
            "event_id": np.arange(seq * rows, (seq + 1) * rows, dtype=np.int64),
            "c_custkey": cust,
            "value": value,
            "created_ms": np.full(rows, due_ms, dtype=np.int64),
        }, schema=EVENT), buf)
        encoded.append((f"ev-{seq:06d}.parquet", due_ms, buf.getvalue()))
    records = []
    for name, due_ms, data in encoded:
        time.sleep(max(0.0, due_ms / 1000 - time.time()))
        tmp = os.path.join(out, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, os.path.join(out, name))
        records.append({"file": name, "rows": rows, "due_ms": due_ms,
                        "written_ms": int(time.time() * 1000)})
    with open(manifest, "w") as fh:
        json.dump(records, fh)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("tables")
    p.add_argument("out")
    p.add_argument("--sf", type=float, required=True)
    p = sub.add_parser("dim")
    p.add_argument("out")
    p.add_argument("--base-rows", type=int, required=True)
    p.add_argument("--replicas", type=int, required=True)
    p = sub.add_parser("cdc")
    p.add_argument("out")
    p.add_argument("--dim", required=True)
    p.add_argument("--batches", type=int, required=True)
    p = sub.add_parser("events")
    p.add_argument("out")
    p.add_argument("--manifest", required=True)
    p.add_argument("--first-file", type=int, required=True)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--rows", type=int, required=True)
    p.add_argument("--keys", type=int, required=True)
    p.add_argument("--rate", type=float, help="files per second; all at once without it")
    p.add_argument("--start", type=float, help="with --rate: epoch seconds the first file is due")
    for p in sub.choices.values():
        p.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    if a.cmd == "events" and (a.rate is None) != (a.start is None):
        ap.error("--rate and --start go together")

    if a.cmd == "tables":
        os.makedirs(a.out, exist_ok=True)
        for name, table in fixture_tables(a.seed, a.sf).items():
            _write(table, os.path.join(a.out, f"{name}.parquet"))
    elif a.cmd == "dim":
        _write(replicated_customers(a.seed, a.base_rows, a.replicas), a.out)
    elif a.cmd == "cdc":
        os.makedirs(a.out, exist_ok=True)
        dim = pq.read_table(a.dim)
        for i, batch in enumerate(cdc_batches(a.seed, dim, a.batches)):
            _write(batch, os.path.join(a.out, f"cdc-{i:04d}.parquet"))
    else:
        os.makedirs(a.out, exist_ok=True)
        write_events(
            a.out, a.manifest, seed=a.seed, first_file=a.first_file,
            files=a.files, rows=a.rows, keys=a.keys, rate=a.rate,
            start=a.start,
        )


if __name__ == "__main__":
    main()
