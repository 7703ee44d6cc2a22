"""Enrichment mode: stream ⋈ TTL-refreshed snapshot (production path).

The reference's documented purpose is to feed a Joiner with a periodically
refreshed lookup table (`TableStreamingSource.java:49-51`,
`docs/Table-streamingsource.md:10-14`).  In Structured Streaming the
static side of a stream–static join is re-resolved every micro-batch, but
a *cached* static DataFrame would pin stale data and an uncached one
re-scans every batch — exactly the cost the reference's TTL cache avoids
(`TableInputDStream.scala:56-62`).  ``foreachBatch`` + ``SnapshotManager``
gives both: per-batch currency at TTL granularity, scan cost amortized
across the TTL window.

Scale: with ``broadcast_snapshot`` (the default) both join sides carry a
broadcast hint and Spark builds the hash table from the *smaller* one by
its size statistics.  An inner join against a file-source micro-batch
builds the few-KB batch and probes the cached snapshot in place, so a
batch costs what the batch holds, not what the snapshot holds; outer,
semi and anti joins, and sources without size statistics (rate, Kafka),
build the snapshot as before.  Either way the stream side never
shuffles — on a 1000-executor cluster each micro-batch stays
embarrassingly parallel — and the broadcast stays bounded by the
dimension, which is bounded by design.
"""

from __future__ import annotations

import logging
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from table_streaming_source_spark.snapshot import SnapshotManager

_log = logging.getLogger(__name__)


def start_enriched_stream(
    stream: DataFrame,
    snapshot: SnapshotManager,
    on: Union[str, Sequence[str]],
    sink: Callable[[DataFrame, int], None],
    *,
    how: str = "inner",
    broadcast_snapshot: bool = True,
    trigger: Optional[str] = "1 second",
    available_now: bool = False,
    checkpoint: Optional[str] = None,
    query_name: Optional[str] = None,
) -> StreamingQuery:
    """Start a streaming query joining each micro-batch against the
    TTL-managed snapshot.

    ``sink(enriched_batch_df, batch_id)`` receives every enriched batch
    (write to a table, publish, collect in tests…).  The snapshot side is
    refreshed by ``snapshot`` at its TTL cadence — the swap happens
    *between* batches, never inside one (micro-batch consistency, like the
    reference's per-``compute`` refresh check).

    The snapshot is **eagerly materialized** at each refresh so mid-TTL
    batches serve from the block manager and never re-touch source files —
    an in-place overwrite of the dimension table (non-atomic: delete +
    rewrite) cannot fail a batch that way.  If a batch still fails (e.g.
    the overwrite raced the refresh scan itself), the failure is logged
    as a warning with the batch id, the manager is reset and the batch
    retried once against a fresh scan; a second failure propagates and
    stops the query.

    Build side: with ``broadcast_snapshot`` both sides are hinted and
    Spark broadcasts the smaller one — the micro-batch when an inner
    join's batch reports a smaller size than the snapshot, else the
    snapshot (always for ``left``/``left_semi``/``left_anti``, which can
    only build the right side, and for sources without size statistics).
    ``broadcast_snapshot=False`` hints neither side and leaves the
    strategy to ``autoBroadcastJoinThreshold`` and AQE, which may shuffle
    the stream side.  The output columns are those of
    ``batch_df.join(snapshot, on, how)`` either way.
    """
    snapshot.start()
    snapshot.eager = True

    def process(batch_df: DataFrame, batch_id: int) -> None:
        for attempt in (1, 2):
            try:
                left, dim = batch_df, snapshot.current()
                if broadcast_snapshot:
                    left, dim = F.broadcast(left), F.broadcast(dim)
                sink(left.join(dim, on, how), batch_id)
                return
            except Exception:
                if attempt == 2:
                    raise
                _log.warning(
                    "enrichment batch %d failed; retrying once against a "
                    "fresh snapshot scan", batch_id, exc_info=True,
                )
                snapshot.start()  # force fresh scan; stale files likely gone

    writer = stream.writeStream.foreachBatch(process)
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        # bounded drain: process everything available, then stop (batch
        # replay of the stream — used by gates and backfills)
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def idempotent_sink(
    sink: Callable[[DataFrame, int], None],
    ledger_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` sink with a batch-id ledger so replays are
    no-ops — the standard exactly-once recipe for sinks without native
    transactional support.

    Structured Streaming guarantees a batch id is *re-delivered with the
    same data* after a failure, but an append-style sink would duplicate
    on the retry.  The wrapper commits a marker file per batch id after
    the sink succeeds (rename-free: the marker is tiny and written last,
    so a crash between sink and marker re-runs the sink — the sink itself
    must therefore be atomic-per-batch, e.g. a parquet job commit, which
    Spark's committer already provides).  At scale the ledger lives on
    the same DFS as the checkpoint; one ``getFileStatus`` per batch is
    noise.
    """
    import os

    os.makedirs(ledger_dir, exist_ok=True)

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        sink(batch_df, batch_id)
        with open(marker, "w") as f:
            f.write("")

    return wrapped


def windowed_stream_agg(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
    slide: Optional[str] = None,
    keys: Sequence[str] = (),
    aggs: Optional[dict] = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over an event-time
    stream — late data beyond ``watermark`` is dropped and state is
    GC-able (the scale requirement for unbounded streams)."""
    w = (
        F.window(ts_col, window, slide)
        if slide
        else F.window(ts_col, window)
    )
    grouped = stream.withWatermark(ts_col, watermark).groupBy(
        w.alias("w"), *[F.col(k) for k in keys]
    )
    aggs = aggs or {"n": F.count(F.lit(1))}
    return grouped.agg(
        *[c.alias(name) for name, c in aggs.items()]
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def stream_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: Optional[str] = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Streaming exact dedup.  With a watermark, uses
    ``dropDuplicatesWithinWatermark`` so the dedup state is bounded (the
    only sane configuration on an unbounded stream)."""
    if watermark and ts_col:
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return stream.dropDuplicates(list(keys))
