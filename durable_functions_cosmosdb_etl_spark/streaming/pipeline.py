"""Incremental transform pipeline — Structured Streaming analog of EP2.

The reference's change-feed consumer (EtlProcess.cs:183-209) maps 1:1
onto a file-source micro-batch stream:

| reference                          | here                               |
|------------------------------------|------------------------------------|
| CosmosDBTrigger on `extracted`     | readStream over the staging dir    |
| MaxItemsPerInvocation=10 (:186)    | maxFilesPerTrigger                 |
| transformsLease container (:184)   | checkpointLocation                 |
| per-invocation batchGuid (:194)    | foreachBatch's batch_id            |
| 100 ms/doc throttle (:204)         | trigger pacing (declarative)       |
| upsert on /id → effectively-once   | LogTable upsert keyed on ``id``    |

Exactly-once end state: foreachBatch may re-deliver a batch after
failure, and the sink is an idempotent upsert into a
:class:`~..sinks.logtable.LogTable` — a replayable source plus an
idempotent, transactional sink (Structured Streaming, SIGMOD 2018).
Re-delivery re-merges identical rows by key, so it converges to the
same table state instead of duplicating — strictly stronger than the
reference's at-least-once upsert.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession

from ..operators.transform import transform_items
from ..schemas import SAMPLE_ITEM_SCHEMA
from ..sinks.logtable import LogTable
from ..sources.containers import Container
from ..sources.stream import read_staging_stream

# The values run_incremental_transform's ``sink=`` accepts.
SINK_MODES = ("logtable", "logtable_deferred")


def run_incremental_transform(
    spark: SparkSession,
    staging_dir: "str | Container",
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    clock: datetime | None = None,
    available_now: bool | None = None,
    processing_time: str | None = None,
    sink: str = "logtable_deferred",
    maintenance_every: int | None = 1,
    compact_min_delta: float = 0.25,
):
    """Consume staged SampleItem files incrementally; transform; upsert
    into a :class:`~..sinks.logtable.LogTable` at ``out_dir`` keyed on
    ``id``.

    Trigger modes (operator O1, the reference's scheduled trigger,
    EtlProcess.cs:23 TimerTrigger ``0 */2 * * * *``):

    - ``available_now=True`` (the default when no ``processing_time`` is
      given): drain the backlog in capped micro-batches, then stop — the
      scheduled-batch analog (each cron firing is one drain).
    - ``processing_time="2 minutes"`` (implies ``available_now=False``;
      passing both explicitly is a contradiction and raises):
      a resident query that fires a micro-batch on the reference's exact
      cadence — ``Trigger.ProcessingTime`` IS the in-engine cron: the
      interval clock replaces the external scheduler, and the streaming
      checkpoint replaces the lease (a single resident query cannot
      overlap itself, which is all the reference's lease exists to
      prevent; see operators/lease.py for the multi-submitter case).
    - neither: run continuously as fast as batches complete.

    Sink modes (operator O11, the upsert-on-/id sink,
    EtlProcess.cs:188-206). Either way the first batch onto an empty
    table writes version 0 as base units, like ``create``:

    - ``sink="logtable_deferred"`` (default): merge-on-READ ingest —
      ``upsert_deferred`` appends each batch as one delta unit (commit
      cost = the batch, regardless of table size; the eager MERGE's
      per-batch bucket rewrite was the measured streaming bottleneck,
      SCALE.md §2b), readers resolve latest-per-key lazily, and
      maintenance folds deltas back.
    - ``sink="logtable"``: eager MERGE — the stored table always holds
      one row per key, so every reader sees a merge-free base table.

    Both give readers snapshot isolation and time travel across
    micro-batches, and a re-delivered batch re-merges identical content:
    idempotent in state.

    ``maintenance_every=N`` (default 1): every N micro-batches the
    processor runs :meth:`~..sinks.logtable.LogTable.maintain` —
    ``compact()`` once the merge-on-read debt reaches
    ``compact_min_delta`` of the live rows, then ``checkpoint_log()``.
    ``None`` or 0 turns it off; a separate maintenance job calling
    ``maintain``/``vacuum`` under the writer lease is the off-hot-path
    equivalent.
    """
    if available_now is None:
        available_now = processing_time is None
    elif available_now and processing_time is not None:
        raise ValueError(
            "available_now=True and processing_time are mutually "
            "exclusive trigger modes"
        )
    if sink not in SINK_MODES:
        raise ValueError(f"unknown sink mode: {sink!r}")
    if isinstance(staging_dir, Container):
        # Connector path: cosmos.oltp.changeFeed (EtlProcess.cs:183-189)
        # — or any Container backend — through the seam's read_stream.
        stream = staging_dir.read_stream(spark, max_files_per_trigger)
    else:
        stream = read_staging_stream(
            spark, staging_dir, SAMPLE_ITEM_SCHEMA, max_files_per_trigger
        )

    table = LogTable(spark, out_dir, key="id")
    n_batches = [0]

    def process(batch_df, batch_id: int) -> None:
        out = transform_items(batch_df, batch_id=str(batch_id), clock=clock)
        if sink == "logtable_deferred":
            table.upsert_deferred(out)
        else:
            table.upsert(out)
        n_batches[0] += 1
        if maintenance_every and n_batches[0] % maintenance_every == 0:
            table.maintain(compact_min_delta)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def streaming_tumbling_counts(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
    watermark: str = "10 minutes",
    window: str = "1 hour",
):
    """Event-time tumbling aggregation with a watermark (late-data drop).

    Append-mode to a parquet sink: a window emits exactly once, when the
    watermark passes its end — the state-eviction contract that bounds
    streaming state at scale (state size = open windows, not history).
    Runs one availableNow drain; call repeatedly with the same
    checkpoint to advance through arriving files.
    """
    from pyspark.sql import functions as F

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_dedup(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    schema,
    watermark: str = "30 minutes",
    query_name: str = "stream_dedup",
):
    """Stateful streaming dedup: dropDuplicatesWithinWatermark on event_id.

    The streaming analog of the reference's upsert-idempotency — state
    for an id is kept only within the watermark horizon, so memory is
    bounded by (arrival rate × watermark), not by history.
    """
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    deduped = src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
