"""SnapshotManager + load_snapshot tests.

Fake-clock tests pin the reference's refresh semantics: epoch-aligned
threshold arithmetic (`TableInputDStream.scala:57`), first-batch refresh
(`scala:58`), same-snapshot-within-TTL (`scala:51-54`), forced re-scan on
restart (`scala:42-45`), and our deliberate divergence — unpersisting the
old snapshot (the reference leaks it at `scala:59`).
"""

import json

import pytest

from table_streaming_source_spark.config import SourceConfig
from table_streaming_source_spark.snapshot import (
    SnapshotManager,
    _aligned_threshold,
    load_snapshot,
)


class FakeClock:
    def __init__(self, now_ms=0):
        self.now_ms = now_ms

    def __call__(self):
        return self.now_ms


@pytest.mark.parametrize(
    ("last", "interval", "expected"),
    [
        # threshold = last + interval - last % interval (`scala:57`)
        (0, 5_000, 5_000),
        (1_000, 5_000, 5_000),
        (4_999, 5_000, 5_000),
        (5_000, 5_000, 10_000),
        (7_200, 5_000, 10_000),
        (12_345, 10_000, 20_000),
    ],
)
def test_aligned_threshold(last, interval, expected):
    assert _aligned_threshold(last, interval) == expected


def make_manager(spark, clock, tmp_path=None, interval_ms=5_000):
    calls = {"n": 0}

    def loader():
        calls["n"] += 1
        return spark.range(calls["n"] * 10)

    mgr = SnapshotManager(
        spark, loader, refresh_interval_ms=interval_ms, clock_ms=clock
    )
    return mgr, calls


def test_first_access_refreshes(spark):
    clock = FakeClock(1_234)
    mgr, calls = make_manager(spark, clock)
    df = mgr.current()
    assert calls["n"] == 1
    assert df.count() == 10


def test_same_snapshot_within_ttl(spark):
    clock = FakeClock(1_000)
    mgr, calls = make_manager(spark, clock, interval_ms=5_000)
    first = mgr.current()
    clock.now_ms = 4_000  # before the 5 000 ms aligned boundary
    again = mgr.current()
    assert calls["n"] == 1
    assert again is first  # literally the same cached DataFrame


def test_refresh_after_aligned_boundary(spark):
    clock = FakeClock(1_000)
    mgr, calls = make_manager(spark, clock, interval_ms=5_000)
    first = mgr.current()
    assert first.count() == 10
    clock.now_ms = 5_001  # past the aligned boundary (5 000), not last+ttl (6 000)
    second = mgr.current()
    assert calls["n"] == 2
    assert second.count() == 20
    # old snapshot freed (reference leaks here — `scala:59`)
    assert first.storageLevel.useMemory is False


def test_restart_forces_rescan(spark):
    clock = FakeClock(1_000)
    mgr, calls = make_manager(spark, clock, interval_ms=3_600_000)
    mgr.current()
    clock.now_ms = 2_000  # well within TTL
    mgr.current()
    assert calls["n"] == 1
    mgr.start()  # restart zeroes lastRefreshTime (`scala:42-45`)
    mgr.current()
    assert calls["n"] == 2


def test_snapshot_reflects_table_mutation(spark, tmp_path):
    # the e2e refresh behavior of `PipelineTest.java:129-149`: write row,
    # snapshot, append row, refresh → snapshot reflects the append.
    path = str(tmp_path / "tbl.parquet")
    spark.createDataFrame([(1, "Samuel")], "id long, name string").write.parquet(
        path
    )
    clock = FakeClock(1_000)
    mgr = SnapshotManager(
        spark, lambda: spark.read.parquet(path), 5_000, clock_ms=clock
    )
    assert {r.name for r in mgr.current().collect()} == {"Samuel"}
    spark.createDataFrame([(2, "L")], "id long, name string").write.mode(
        "append"
    ).parquet(path)
    clock.now_ms = 3_000
    assert {r.name for r in mgr.current().collect()} == {"Samuel"}  # cached
    clock.now_ms = 6_000
    assert {r.name for r in mgr.current().collect()} == {"Samuel", "L"}
    mgr.stop()


def test_load_snapshot_row_field_and_schema(spark, sf_dir):
    from table_streaming_source_spark.avro_schema import avro_json_to_struct

    schema = avro_json_to_struct(
        {
            "type": "record",
            "name": "customer",
            "fields": [
                {"name": "c_name", "type": ["null", "string"]},
                {"name": "c_custkey", "type": "long"},
                {"name": "c_acctbal", "type": ["null", "double"]},
            ],
        }
    )
    df = load_snapshot(
        spark,
        f"{sf_dir}/customer.parquet",
        schema=schema,
        row_field="c_custkey",
    )
    # rowField surfaced first (the key column), schema projected
    assert df.columns == ["c_custkey", "c_name", "c_acctbal"]
    assert df.count() > 0


def test_load_snapshot_missing_field(spark, sf_dir):
    from table_streaming_source_spark.avro_schema import avro_json_to_struct

    schema = avro_json_to_struct(
        {
            "type": "record",
            "name": "r",
            "fields": [{"name": "nope", "type": "long"}],
        }
    )
    with pytest.raises(ValueError, match="nope"):
        load_snapshot(spark, f"{sf_dir}/customer.parquet", schema=schema)


def test_manager_from_config(spark, sf_dir):
    config = SourceConfig(
        name=f"{sf_dir}/nation.parquet",
        schema_json=json.dumps(
            {
                "type": "record",
                "name": "nation",
                "fields": [
                    {"name": "n_nationkey", "type": "int"},
                    {"name": "n_name", "type": ["null", "string"]},
                ],
            }
        ),
        row_field="n_nationkey",
        refresh_interval="5s",
    )
    clock = FakeClock(1_000)
    mgr = SnapshotManager.from_config(spark, config, clock_ms=clock)
    df = mgr.current()
    assert df.columns == ["n_nationkey", "n_name"]
    assert df.count() == 25
    mgr.stop()


def test_manager_from_config_invalid(spark):
    from table_streaming_source_spark.config import ValidationException

    config = SourceConfig(name="t", schema_json="test", refresh_interval="t3")
    with pytest.raises(ValidationException):
        SnapshotManager.from_config(spark, config)


def test_snapshot_diff_classifies_changes(spark):
    from table_streaming_source_spark.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 value-updated, 3 deleted, 5 inserted
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, key="k").collect()}
    assert got == {2: "update", 3: "delete", 5: "insert"}


def test_snapshot_diff_compare_cols_subset(spark):
    """Columns outside compare_cols never produce an update row."""
    from table_streaming_source_spark.snapshot import snapshot_diff

    old = spark.createDataFrame([(1, "a", 1.0)], "k int, s string, v double")
    new = spark.createDataFrame([(1, "a", 2.0)], "k int, s string, v double")
    assert snapshot_diff(old, new, key="k", compare_cols=["s"]).count() == 0
    assert (
        snapshot_diff(old, new, key="k", compare_cols=["v"]).head().change
        == "update"
    )


def test_snapshot_apply_roundtrip(spark):
    from table_streaming_source_spark.snapshot import (
        snapshot_apply,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        # 1 updated, 2 deleted, 4 inserted, 3 unchanged
        [(1, "a", 99.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    cs = snapshot_diff(old, new, key="k", include_values=True)
    rows = {r.k: r for r in cs.collect()}
    assert rows[2].change == "delete" and rows[2].s is None
    assert rows[1].change == "update" and rows[1].v == 99.0
    assert rows[4].change == "insert"
    got = sorted(
        map(tuple, snapshot_apply(old, cs, key="k").collect())
    )
    want = sorted(map(tuple, new.collect()))
    assert got == want


def test_merge_into_all_rules(spark):
    """Every MERGE rule, including the corner cases the catalog entry's
    synthetic batch never reaches: unmatched update/delete are no-ops,
    and a matched insert keeps the target row (documented choice)."""
    from table_streaming_source_spark.snapshot import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    source = spark.createDataFrame(
        [
            (2, "U", "bb", 99.0),   # matched update → source wins
            (3, "D", None, None),   # matched delete → removed
            (5, "I", "e", 50.0),    # unmatched insert → added
            (6, "U", "x", 1.0),     # unmatched update → no-op
            (7, "D", None, None),   # unmatched delete → no-op
            (4, "I", "zz", 0.0),    # matched insert → target kept
        ],
        "k int, op string, s string, v double",
    )
    got = sorted(map(tuple, merge_into(target, source, key="k").collect()))
    assert got == [
        (1, "a", 10.0),
        (2, "bb", 99.0),
        (4, "d", 40.0),
        (5, "e", 50.0),
    ]


def test_merge_into_empty_batch_is_identity(spark):
    from table_streaming_source_spark.snapshot import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, s string, v double"
    )
    source = spark.createDataFrame([], "k int, op string, s string, v double")
    got = sorted(map(tuple, merge_into(target, source, key="k").collect()))
    assert got == sorted(map(tuple, target.collect()))


def _write_generation(directory, ids, label):
    """Replace every parquet file in ``directory`` with one file holding
    ``ids`` — an external (pyarrow, not Spark) writer overwriting the
    dimension table in place."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    for name in os.listdir(directory):
        os.remove(os.path.join(directory, name))
    pq.write_table(
        pa.table({"id": list(ids), "label": [label] * len(ids)}),
        os.path.join(directory, f"{label}.parquet"),
    )


def _refreshed_path_manager(spark, tmp_path):
    """A path-loaded, eager manager after its first load and two
    refreshes; each generation's files replace the previous ones.  Two
    scans of one path plan equal, so they share one cache key."""
    path = str(tmp_path / "dim")
    clock = FakeClock(1_000)
    mgr = SnapshotManager(spark, path, 5_000, clock_ms=clock, eager=True)
    for gen, now_ms in enumerate((1_000, 6_000, 11_000), start=1):
        _write_generation(path, range(gen * 10), f"gen{gen}")
        clock.now_ms = now_ms
        mgr.current()
    assert mgr.refresh_count == 3
    return mgr, clock, path


def test_path_snapshot_stays_cached_across_refreshes(spark, tmp_path):
    mgr, _, _ = _refreshed_path_manager(spark, tmp_path)
    df = mgr.current()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    stats = mgr.stats()
    assert stats["cached"] is True
    assert stats["refresh_count"] == 3
    assert stats["last_load_s"] > 0
    assert stats["age_s"] == 0
    mgr.stop()
    assert mgr.stats()["cached"] is False


def test_mid_ttl_overwrite_serves_cached_generation(spark, tmp_path):
    mgr, clock, path = _refreshed_path_manager(spark, tmp_path)
    # an external writer swaps the files inside the TTL window: the
    # batch must be served from the cache, never from the deleted files
    _write_generation(path, range(100), "gen4")
    clock.now_ms = 12_000
    rows = mgr.current().collect()
    assert sorted(r.id for r in rows) == list(range(30))
    assert {r.label for r in rows} == {"gen3"}
    assert mgr.stats()["age_s"] == 1.0
    mgr.stop()


def test_failed_refresh_leaves_no_cache_entry(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    path = str(tmp_path / "dim")
    _write_generation(path, range(10), "gen1")
    loaded = []
    fail = {"on": False}

    def loader():
        df = spark.read.parquet(path)
        if fail["on"]:
            df = df.withColumn(
                "label", F.when(F.col("id") >= 0, F.raise_error(F.lit("boom")))
            )
        loaded.append(df)
        return df

    clock = FakeClock(1_000)
    mgr = SnapshotManager(spark, loader, 5_000, clock_ms=clock, eager=True)
    mgr.current()
    fail["on"] = True
    clock.now_ms = 6_000
    with pytest.raises(Exception, match="boom"):
        mgr.current()
    assert len(loaded) == 2
    assert all(df.storageLevel == StorageLevel.NONE for df in loaded)
    assert mgr.stats()["cached"] is False
    # the next access reloads instead of serving a half-built snapshot
    fail["on"] = False
    assert mgr.current().count() == 10
    assert len(loaded) == 3 and mgr.stats()["cached"] is True
    mgr.stop()
