"""Streaming-layer tests (EP2 analog; SURVEY.md §5.4).

Covers: capped micro-batches (maxFilesPerTrigger ↔ MaxItemsPerInvocation),
checkpoint resume without reprocessing, idempotent re-delivery (same end
state — the reference's upsert-on-/id contract, EtlProcess.cs:188),
watermark late-data drop, and stateful streaming dedup.
"""

from __future__ import annotations

import shutil
from datetime import datetime, timedelta

from pyspark.sql import functions as F
from pyspark.sql import types as T

from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
from durable_functions_cosmosdb_etl_spark.sources.generator import (
    generate_sample_items,
)
from durable_functions_cosmosdb_etl_spark.streaming.pipeline import (
    run_incremental_transform,
    streaming_dedup,
    streaming_tumbling_counts,
)

CLOCK = datetime(2026, 1, 15, 10, 30, 0)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ]
)


def _stage_files(
    spark, staging: str, n_files: int = 3, rows_per: int = 10, prefix: str = "f"
) -> None:
    for i in range(n_files):
        generate_sample_items(
            spark, count=rows_per, clock=CLOCK, deterministic_ids=True
        ).withColumn(
            "id", F.concat(F.lit(f"{prefix}{i}-"), F.col("id"))
        ).coalesce(1).write.mode("append").parquet(staging)


def _snapshot(spark, out: str):
    """The ingest's upsert sink: a LogTable keyed on id."""
    return LogTable(spark, out, key="id").snapshot()


def test_incremental_transform_micro_batches(spark, tmp_path):
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_files(spark, staging, n_files=3, rows_per=10)

    run_incremental_transform(spark, staging, out, ckpt, max_files_per_trigger=1,
                              clock=CLOCK)
    result = _snapshot(spark, out)
    assert result.count() == 30
    # one lineage id per micro-batch (EtlProcess.cs:194,256): 3 files ×
    # maxFilesPerTrigger=1 → 3 distinct transform_batch values
    batches = result.select("transform_batch").distinct().count()
    assert batches == 3


def test_batch_metrics_listener_captures_progress(spark, tmp_path):
    """Operator O4's streaming half: a StreamingQueryListener buffers one
    metrics row per micro-batch (no Spark calls on the listener-bus
    thread) and flush() lands them in an append-only parquet audit table
    — the per-batch analog of the OrchestrationRun row
    (EtlProcess.cs:120-130)."""
    import time as _time

    from durable_functions_cosmosdb_etl_spark.streaming.metrics import (
        BatchMetricsListener,
    )

    staging = str(tmp_path / "staging")
    _stage_files(spark, staging, n_files=2, rows_per=5)
    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        run_incremental_transform(
            spark, staging, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            clock=CLOCK,
        )
        # listener-bus delivery is async; give it a moment to drain
        deadline = _time.time() + 30
        while _time.time() < deadline and len(listener.snapshot()) < 2:
            _time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert len(listener.snapshot()) >= 2  # one per micro-batch (2 files)
    n = listener.flush(spark, str(tmp_path / "metrics"))
    assert n >= 2
    m = spark.read.parquet(str(tmp_path / "metrics"))
    got = m.select("batch_id", "num_input_rows").collect()
    assert sorted(r["batch_id"] for r in got) == list(
        range(len(got))
    )  # batch ids 0..n-1
    assert sum(r["num_input_rows"] for r in got) == 10  # 2 files x 5 rows
    # flush drained the buffer; a second flush writes nothing
    assert listener.flush(spark, str(tmp_path / "metrics")) == 0


def test_eager_logtable_sink_reads_each_batch_once(spark, tmp_path):
    """The eager sink evaluates a micro-batch once: the bucket collect,
    the range-bound sample and the write of an upsert all read the same
    evaluation, so the source's progress counts each staged row once
    (two 5-row files read [5, 15] when the upsert re-ran the batch per
    action)."""
    import time as _time

    from durable_functions_cosmosdb_etl_spark.streaming.metrics import (
        BatchMetricsListener,
    )

    staging = str(tmp_path / "staging")
    _stage_files(spark, staging, n_files=2, rows_per=5)
    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        run_incremental_transform(
            spark, staging, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            clock=CLOCK, sink="logtable",
        )
        deadline = _time.time() + 30
        while _time.time() < deadline and len(listener.snapshot()) < 2:
            _time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    listener.flush(spark, str(tmp_path / "metrics"))
    got = spark.read.parquet(str(tmp_path / "metrics")).collect()
    assert sorted(r["num_input_rows"] for r in got) == [5, 5]
    assert _snapshot(spark, str(tmp_path / "out")).count() == 10


def test_incremental_transform_logtable_sink(spark, tmp_path):
    """sink="logtable": the change-feed loop MERGEs into a transactional
    LogTable — stored table holds exactly one row per id, versions
    advance per micro-batch, and redelivery (checkpoint loss) converges
    to the same state."""
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    _stage_files(spark, staging, n_files=2, rows_per=6)
    run_incremental_transform(
        spark, staging, out, str(tmp_path / "ck1"), clock=CLOCK,
        sink="logtable",
    )
    t = LogTable(spark, out, key="id")
    snap = t.snapshot()
    assert snap.count() == 12
    assert snap.groupBy("id").count().filter("count > 1").count() == 0
    assert t.version() == 1  # create + one upsert (2 files, 1 per batch)
    # redelivery: fresh checkpoint reprocesses everything; state converges
    run_incremental_transform(
        spark, staging, out, str(tmp_path / "ck2"), clock=CLOCK,
        sink="logtable",
    )
    assert t.snapshot().count() == 12
    # time travel: the pre-redelivery snapshot is still readable
    assert t.snapshot(1).count() == 12


def test_incremental_transform_deferred_with_maintenance(spark, tmp_path):
    """sink="logtable_deferred" + maintenance_every: the write-heavy
    default — each batch lands as cheap delta units; every N batches the
    in-loop maintenance compacts deltas into base and checkpoints the
    log. End state: correct latest-per-key content, no live delta
    units, a log checkpoint present."""
    import os as _os

    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    _stage_files(spark, staging, n_files=4, rows_per=5)
    run_incremental_transform(
        spark, staging, out, str(tmp_path / "ckpt"), clock=CLOCK,
        sink="logtable_deferred", maintenance_every=2,
    )
    t = LogTable(spark, out, key="id")
    snap = t.snapshot()
    assert snap.count() == 20
    assert snap.groupBy("id").count().filter("count > 1").count() == 0
    # maintenance folded every delta away (4 batches / every 2 → the
    # last cycle ended in a compact)
    live = t._live_units()
    assert not any(e.get("delta") for e in live.values())
    # and a log checkpoint bounds future replay
    cps = [
        n
        for n in _os.listdir(_os.path.join(out, "_log"))
        if n.startswith("_checkpoint.")
    ]
    assert cps


def test_checkpoint_resume_no_reprocessing(spark, tmp_path):
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_files(spark, staging, n_files=2, rows_per=5)
    run_incremental_transform(spark, staging, out, ckpt, clock=CLOCK)
    assert _snapshot(spark, out).count() == 10
    # resume with no new files: nothing reprocessed
    run_incremental_transform(spark, staging, out, ckpt, clock=CLOCK)
    assert _snapshot(spark, out).count() == 10
    # new file arrives: only it is processed
    _stage_files(spark, staging, n_files=1, rows_per=7, prefix="g")
    run_incremental_transform(spark, staging, out, ckpt, clock=CLOCK)
    assert _snapshot(spark, out).count() == 17


def test_redelivery_is_idempotent(spark, tmp_path):
    """Losing the checkpoint re-delivers everything; the LogTable upsert
    by id converges to the same end state (effectively-once)."""
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_files(spark, staging, n_files=2, rows_per=8)
    run_incremental_transform(spark, staging, out, ckpt, clock=CLOCK)
    before = sorted(_snapshot(spark, out).collect())
    assert len(before) == 16
    shutil.rmtree(ckpt)  # simulate lost consumer lease → full re-delivery
    run_incremental_transform(spark, staging, out, ckpt, clock=CLOCK)
    assert sorted(_snapshot(spark, out).collect()) == before


def test_watermark_drops_late_events(spark, tmp_path):
    events_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "ckpt")
    base = datetime(2026, 1, 1, 12, 0, 0)

    # phase 1: on-time events 12:00..12:59 → watermark advances to 12:49;
    # the [12:00,13:00) window stays open (nothing emitted yet).
    on_time = [(i, base + timedelta(minutes=i), "click") for i in range(60)]
    spark.createDataFrame(on_time, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    streaming_tumbling_counts(
        spark, events_dir, out_dir, ckpt, EVENTS_SCHEMA,
        watermark="10 minutes", window="1 hour",
    )

    # phase 2: one event 3h LATE (behind the persisted watermark → must
    # be dropped) plus one at 15:00 (advances watermark past 13:00,
    # closing the 12:00 window).
    phase2 = [
        (100, base - timedelta(hours=3), "click"),
        (101, base + timedelta(hours=3), "click"),
    ]
    spark.createDataFrame(phase2, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    streaming_tumbling_counts(
        spark, events_dir, out_dir, ckpt, EVENTS_SCHEMA,
        watermark="10 minutes", window="1 hour",
    )

    got = {
        r.window_start: r.n_events for r in spark.read.parquet(out_dir).collect()
    }
    # late event dropped: its 9:00 window would have closed and emitted
    # if the watermark hadn't discarded it
    assert base - timedelta(hours=3) not in got
    # on-time window emitted exactly once with all 60 events
    assert got.get(base) == 60


def test_streaming_dedup_within_watermark(spark, tmp_path):
    events_dir = str(tmp_path / "events")
    base = datetime(2026, 1, 1, 12, 0, 0)
    f1 = [(i, base + timedelta(minutes=i), "view") for i in range(10)]
    f2 = [(i, base + timedelta(minutes=i, seconds=30), "view") for i in range(5)]  # dups
    f2 += [(50 + i, base + timedelta(minutes=20 + i), "view") for i in range(3)]
    spark.createDataFrame(f1, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(events_dir)
    spark.createDataFrame(f2, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(events_dir)

    q = streaming_dedup(
        spark, events_dir, str(tmp_path / "ckpt"), EVENTS_SCHEMA,
        watermark="30 minutes", query_name="sdd",
    )
    q.awaitTermination()
    ids = [r.event_id for r in spark.sql("SELECT event_id FROM sdd").collect()]
    assert sorted(ids) == sorted(set(ids))  # no duplicate ids emitted
    assert set(range(10)).issubset(ids) and {50, 51, 52}.issubset(ids)


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState accumulates per-key state across
    micro-batches: totals after draining two separately-written file
    batches equal the totals over their union."""
    from durable_functions_cosmosdb_etl_spark.streaming.stateful import (
        streaming_running_totals,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    events_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "totals")
    ckpt = str(tmp_path / "ckpt")
    base = datetime(2026, 1, 15, 10, 0, 0)
    batch1 = [(i, base, i % 3, 1.5 * (i + 1)) for i in range(9)]
    batch2 = [(100 + i, base, i % 3, 10.0) for i in range(6)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(
        events_dir
    )
    q = streaming_running_totals(spark, events_dir, out_dir, ckpt, schema)
    q.awaitTermination()
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(
        events_dir
    )
    q = streaming_running_totals(spark, events_dir, out_dir, ckpt, schema)
    q.awaitTermination()

    # update-mode log table: latest batch's row per user is cumulative.
    spark.read.parquet(out_dir).createOrReplaceTempView("rt_log")
    rows = spark.sql(
        """
        SELECT user_id, n_events, total_value_cents FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY batch_id DESC, n_events DESC)
                AS rn
            FROM rt_log) WHERE rn = 1
        """
    ).collect()
    got = {r.user_id: (r.n_events, r.total_value_cents) for r in rows}
    expect = {}
    for eid, _ts, uid, val in batch1 + batch2:
        n, c = expect.get(uid, (0, 0))
        expect[uid] = (n + 1, c + round(val * 100))
    assert got == expect


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join emits exactly the pairs a batch
    interval join produces (per-user clicks within 30 min before a
    purchase)."""
    from durable_functions_cosmosdb_etl_spark.streaming.joins import (
        streaming_click_attribution,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    base = datetime(2026, 1, 15, 10, 0, 0)
    clicks = [
        (1, base, 1, "click"),
        (2, base + timedelta(minutes=10), 1, "click"),
        (3, base + timedelta(minutes=50), 1, "click"),
        (4, base + timedelta(minutes=5), 2, "click"),
        (9, base + timedelta(hours=3), 9, "click"),  # advances watermark
    ]
    purchases = [
        (100, base + timedelta(minutes=20), 1, "purchase"),  # joins 1,2
        (101, base + timedelta(minutes=55), 1, "purchase"),  # joins 3
        (102, base + timedelta(minutes=45), 2, "purchase"),  # joins 4
        (103, base + timedelta(minutes=30), 3, "purchase"),  # none
        (109, base + timedelta(hours=3), 9, "purchase"),
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    spark.createDataFrame(clicks, schema).write.parquet(cdir)
    spark.createDataFrame(purchases, schema).write.parquet(pdir)

    q = streaming_click_attribution(spark, cdir, pdir, schema, query_name="attr")
    q.awaitTermination()
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM attr").collect()
    }
    cdf = spark.createDataFrame(clicks, schema)
    pdf = spark.createDataFrame(purchases, schema)
    expect = {
        (p.event_id, c.event_id)
        for p in pdf.collect()
        for c in cdf.collect()
        if p.user_id == c.user_id
        and p.ts - timedelta(minutes=30) <= c.ts <= p.ts
    }
    assert got == expect and (100, 1) in got and (100, 2) in got


def test_streaming_session_window(spark, tmp_path):
    """Event-time session windows in streaming mode: gaps > 15 min split
    sessions; windows emit once the watermark passes."""
    events_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "ckpt")
    base = datetime(2026, 1, 1, 12, 0, 0)
    # user A: two bursts separated by 40 min → 2 sessions (3 + 2 events);
    # closer: a late event far ahead advances the watermark.
    rows = (
        [(i, base + timedelta(minutes=i), "s") for i in range(3)]
        + [(10 + i, base + timedelta(minutes=42 + i), "s") for i in range(2)]
        + [(99, base + timedelta(hours=6), "s")]
    )
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(
        events_dir
    )
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.start, r.n) for r in spark.read.parquet(out_dir).collect()}
    assert (base, 3) in got
    assert (base + timedelta(minutes=42), 2) in got


def test_json_source_schema_on_read(spark, tmp_path):
    """spark.read.schema(...).json — the schema-on-read path the
    reference uses per document (EtlProcess.cs:199), as a source scan."""
    import json as _json

    p = tmp_path / "docs.jsonl"
    docs = [
        {"id": "a", "desc": "x", "done": "true",
         "logical_partition": "Partition_A"},
        {"id": "b", "extra_unknown_field": 1,
         "logical_partition": "Partition_B"},
    ]
    p.write_text("\n".join(_json.dumps(d) for d in docs))
    from durable_functions_cosmosdb_etl_spark.schemas import SAMPLE_ITEM_SCHEMA

    df = spark.read.schema(SAMPLE_ITEM_SCHEMA).json(str(p))
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"].desc == "x"
    assert rows["b"].desc is None  # missing → null (schema-on-read)
    assert "extra_unknown_field" not in df.columns  # pruned by schema


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: same running-totals semantics
    as the applyInPandasWithState variant, on the new typed-state API
    (RocksDB provider). Requires protobuf (the TWS state-server protocol)
    — absent in this container, so the test self-skips there."""
    import pytest

    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState's state-server protocol needs protobuf",
    )
    from durable_functions_cosmosdb_etl_spark.streaming.stateful import (
        streaming_running_totals_tws,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    events_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "totals")
    ckpt = str(tmp_path / "ckpt")
    base = datetime(2026, 1, 15, 10, 0, 0)
    batch1 = [(i, base, i % 2, 2.0 * (i + 1)) for i in range(6)]
    batch2 = [(50 + i, base, i % 2, 5.0) for i in range(4)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    q = streaming_running_totals_tws(spark, events_dir, out_dir, ckpt, schema)
    q.awaitTermination()
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    q = streaming_running_totals_tws(spark, events_dir, out_dir, ckpt, schema)
    q.awaitTermination()

    spark.read.parquet(out_dir).createOrReplaceTempView("tws_log")
    rows = spark.sql(
        """
        SELECT user_id, n_events, total_value_cents FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY batch_id DESC, n_events DESC)
                AS rn
            FROM tws_log) WHERE rn = 1
        """
    ).collect()
    got = {r.user_id: (r.n_events, r.total_value_cents) for r in rows}
    expect = {}
    for eid, _ts, uid, val in batch1 + batch2:
        n, c = expect.get(uid, (0, 0))
        expect[uid] = (n + 1, c + round(val * 100))
    assert got == expect


def test_streaming_complete_mode_aggregation(spark, tmp_path):
    """Complete output mode: the aggregation re-emits the FULL result
    table each micro-batch (vs append's emit-once-on-close), so the sink
    always holds current totals for every key seen so far."""
    events_dir = str(tmp_path / "events")
    base = datetime(2026, 1, 1, 12, 0, 0)
    f1 = [(i, base + timedelta(minutes=i), "view") for i in range(6)]
    f2 = [(10 + i, base + timedelta(minutes=i), "click") for i in range(4)]
    spark.createDataFrame(f1, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    spark.createDataFrame(f2, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("complete_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.event_type: r.n
        for r in spark.sql("SELECT * FROM complete_counts").collect()
    }
    assert got == {"view": 6, "click": 4}


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: matched pairs emit like
    inner; unmatched purchases emit with nulls once the watermark
    guarantees no future click can match them."""
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    base = datetime(2026, 1, 15, 10, 0, 0)
    clicks = [
        (1, base, 1, "click"),
        (9, base + timedelta(hours=6), 9, "click"),  # watermark driver
    ]
    purchases = [
        (100, base + timedelta(minutes=10), 1, "purchase"),  # matches 1
        (103, base + timedelta(minutes=30), 3, "purchase"),  # no click
        (109, base + timedelta(hours=6), 9, "purchase"),
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    spark.createDataFrame(clicks, schema).write.parquet(cdir)
    spark.createDataFrame(purchases, schema).write.parquet(pdir)

    c = (
        spark.readStream.schema(schema).parquet(cdir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    p = (
        spark.readStream.schema(schema).parquet(pdir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = p.join(
        c,
        F.expr(
            "p_user = c_user AND click_ts >= purchase_ts - INTERVAL 30 MINUTES"
            " AND click_ts <= purchase_ts"
        ),
        "left_outer",
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("lo_attr")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM lo_attr").collect()
    }
    assert (100, 1) in got
    assert (103, None) in got  # unmatched emitted with null after watermark


def test_processing_time_trigger_cadence(spark, tmp_path):
    """Operator O1's resident-cron path: Trigger.ProcessingTime fires
    micro-batches on a wall-clock cadence (the reference's 2-minute
    TimerTrigger, EtlProcess.cs:23, compressed to 1s for the test).
    New files staged while the query is live are picked up by a later
    tick without restarting anything — the property availableNow lacks."""
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stage_files(spark, staging, n_files=1, rows_per=6)
    q = run_incremental_transform(
        spark,
        staging,
        out,
        ckpt,
        max_files_per_trigger=10,
        clock=CLOCK,
        available_now=False,
        processing_time="1 seconds",
    )
    try:
        q.processAllAvailable()
        assert _snapshot(spark, out).count() == 6
        # second cadence tick sees a file staged AFTER the query started
        _stage_files(spark, staging, n_files=1, rows_per=4, prefix="late")
        q.processAllAvailable()
        assert _snapshot(spark, out).count() == 10
        assert q.isActive
    finally:
        q.stop()
