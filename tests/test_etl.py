"""Golden/property tests for the ETL pipeline (operators O2/O6/O9/O12).

Mirrors the reference's semantic rules (SURVEY.md §5): generator
invariants (EtlProcess.cs:227-239), transform invariants (:245-260),
blank-coalesce paths (:251-252), audit append (:120-130).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from durable_functions_cosmosdb_etl_spark.etl import run_batch_etl
from durable_functions_cosmosdb_etl_spark.operators.transform import transform_items
from durable_functions_cosmosdb_etl_spark.schemas import SAMPLE_ITEM_SCHEMA
from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
from durable_functions_cosmosdb_etl_spark.sources.generator import (
    generate_sample_items,
)

CLOCK = datetime(2026, 1, 15, 10, 30, 0)


def test_generator_invariants(spark):
    df = generate_sample_items(spark, count=99, clock=CLOCK).cache()
    assert df.count() == 99
    # round-robin partitions, max skew 1 (EtlProcess.cs:236)
    counts = dict(
        df.groupBy("logical_partition").count().rdd.map(tuple).collect()
    )
    assert set(counts) == {"Partition_A", "Partition_B", "Partition_C"}
    assert max(counts.values()) - min(counts.values()) <= 1
    # no null ids; done is the string "true" (:230,:232)
    assert df.filter(F.col("id").isNull()).count() == 0
    assert df.filter(F.col("done") != "true").count() == 0


def test_generator_default_count_range(spark):
    n = generate_sample_items(spark, clock=CLOCK).count()
    assert 10 <= n <= 200  # rnd.Next(10, 200), EtlProcess.cs:224


def test_transform_semantics(spark):
    rows = [
        ("id-1", "01/01/2026", "desc here", "true", "name here", "pr", "Partition_A"),
        ("id-2", "01/01/2026", "", "false", None, "pr", "Partition_B"),
        ("id-3", "01/01/2026", "   ", "true", "  ", "pr", "Partition_C"),
    ]
    src = spark.createDataFrame(rows, SAMPLE_ITEM_SCHEMA)
    out = transform_items(src, batch_id="b-1", clock=CLOCK).collect()
    by_id = {r.id: r for r in out}
    # rename + passthrough (EtlProcess.cs:249-255)
    assert by_id["id-1"].source_date == "01/01/2026"
    assert by_id["id-1"].description == "desc here"
    assert by_id["id-1"].name == "name here"
    # blank/null → defaults (EtlProcess.cs:251-252)
    assert by_id["id-2"].description == "Empty Description in source for item id-2"
    assert by_id["id-2"].name == "Empty Name in source for item id-2"
    assert by_id["id-3"].description == "Empty Description in source for item id-3"
    assert by_id["id-3"].name == "Empty Name in source for item id-3"
    # lineage + provenance (EtlProcess.cs:256-257)
    assert {r.transform_batch for r in out} == {"b-1"}
    assert {r.update_location for r in out} == {"West Europe"}
    # counter is 1..n over id order (EtlProcess.cs:253)
    assert by_id["id-1"].additional_data == "Data added from transform function [1]"
    assert by_id["id-3"].additional_data == "Data added from transform function [3]"


def test_transform_output_count_equals_input(spark):
    src = generate_sample_items(spark, count=57, clock=CLOCK)
    assert transform_items(src, "b", clock=CLOCK).count() == 57


def test_batch_etl_end_to_end(spark, tmp_path):
    work = str(tmp_path / "etl")
    out = run_batch_etl(
        spark, work, count=30, clock=CLOCK, batch_id="b-42", deterministic=True
    )
    assert out.count() == 30
    # staged table partitioned by logical_partition (EtlProcess.cs:165)
    staged = spark.read.option("basePath", f"{work}/extracted").parquet(
        f"{work}/extracted"
    )
    assert staged.count() == 30
    assert set(staged.select("logical_partition").distinct().rdd.map(lambda r: r[0]).collect()) == {
        "Partition_A", "Partition_B", "Partition_C",
    }
    # audit row appended with success message (EtlProcess.cs:71,120-130)
    audit = spark.read.parquet(f"{work}/orchestration_runs").collect()
    assert len(audit) == 1
    assert audit[0].succeeded is True
    assert "extracted and saved" in audit[0].additional_info
    # the upsert sink is a LogTable keyed on id (EtlProcess.cs:188-206)
    sink = LogTable(spark, f"{work}/transformed", key="id")
    assert sink.snapshot().count() == 30
    # a later run over the same deterministic ids (the ids hash the
    # minute-stamped names, so the clock moves within the minute)
    # upserts, not appends: one row per key, and the later run's rows
    # won
    run_batch_etl(
        spark, work, count=30, clock=CLOCK + timedelta(seconds=30),
        batch_id="b-43", deterministic=True,
    )
    snap = sink.snapshot()
    assert snap.count() == 30
    assert snap.select("id").distinct().count() == 30
    assert {r.transform_batch for r in snap.collect()} == {"b-43"}


def test_batch_etl_transforms_only_its_own_run(spark, tmp_path):
    """A run transforms the documents it staged, not the whole staging
    dir: two deterministic 30-doc runs two minutes apart (the ids hash
    the minute-stamped names, so 60 distinct ids) leave 60 rows, and
    the first run's 30 keep its ``transform_batch``. A run that stages
    nothing upserts nothing and audits as one with no documents."""
    work = str(tmp_path / "etl")
    run_batch_etl(
        spark, work, count=30, clock=CLOCK, batch_id="b-1", deterministic=True
    )
    out = run_batch_etl(
        spark, work, count=30, clock=CLOCK + timedelta(minutes=2),
        batch_id="b-2", deterministic=True,
    )
    assert out.count() == 30
    sink = LogTable(spark, f"{work}/transformed", key="id")
    snap = sink.snapshot().collect()
    assert len(snap) == 60 and len({r.id for r in snap}) == 60
    by_batch = {}
    for r in snap:
        by_batch[r.transform_batch] = by_batch.get(r.transform_batch, 0) + 1
    assert by_batch == {"b-1": 30, "b-2": 30}
    version = sink.version()
    none = generate_sample_items(spark, count=5, clock=CLOCK).limit(0)
    assert run_batch_etl(spark, work, source_df=none, clock=CLOCK).count() == 0
    assert sink.version() == version
    audit = spark.read.parquet(f"{work}/orchestration_runs").collect()
    assert len(audit) == 3
    assert any(a.additional_info == "No documents extracted." for a in audit)


def test_batch_etl_failure_audits_and_reraises(spark, tmp_path):
    work = str(tmp_path / "etl_fail")
    bad = generate_sample_items(spark, count=5, clock=CLOCK).select(
        F.col("id"), F.lit(None).cast("string").alias("boom")
    )
    with pytest.raises(Exception):
        run_batch_etl(spark, work, source_df=bad, clock=CLOCK)
    audit = spark.read.parquet(f"{work}/orchestration_runs").collect()
    assert len(audit) == 1 and audit[0].succeeded is False
    assert audit[0].additional_info.startswith("Error:")


def test_lease_acquire_release_timeout(tmp_path):
    """Reference lease semantics (EtlProcess.cs:87-103,280-316): free →
    acquire; held+live → skip; held+timed-out → steal; release only by
    owner."""
    from datetime import datetime, timedelta

    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        acquire_lease,
        release_lease,
    )

    lease = str(tmp_path / "lease.json")
    t0 = datetime(2026, 1, 15, 10, 0, 0)
    assert acquire_lease(lease, "w1", now=t0)
    # live lease: second worker skips (within 5-min timeout)
    assert not acquire_lease(lease, "w2", now=t0 + timedelta(minutes=3))
    # released by non-owner: no-op, still held
    release_lease(lease, "w2", now=t0 + timedelta(minutes=3))
    assert not acquire_lease(lease, "w2", now=t0 + timedelta(minutes=4))
    # owner releases → acquirable
    release_lease(lease, "w1", now=t0 + timedelta(minutes=4))
    assert acquire_lease(lease, "w2", now=t0 + timedelta(minutes=4))
    # timed out (>5 min): stolen by w3
    assert acquire_lease(lease, "w3", now=t0 + timedelta(minutes=10))


def test_http_extract_file_url_and_failure(spark, tmp_path):
    """extract_json parses the reference's JSON shape (C# property
    names, EtlProcess.cs:229-242) and returns None on failure."""
    import json as _json

    from durable_functions_cosmosdb_etl_spark.sources.http_json import (
        extract_json,
        extract_json_to_df,
    )

    docs = [
        {
            "id": "abc",
            "Date": "01/15/2026 10:00:00",
            "Desc": "Sample item #1 of 2",
            "Done": "true",
            "Name": "Item_202601_1",
            "Pr": "Normal",
            "LogicalPartition": "Partition_A",
        },
        # partial doc: id + partition key are required (non-null in
        # SAMPLE_ITEM_SCHEMA), the rest null-pads
        {"id": "def", "Desc": None, "LogicalPartition": "Partition_B"},
    ]
    p = tmp_path / "payload.json"
    p.write_text(_json.dumps(docs))
    url = p.as_uri()
    got = extract_json(url)
    assert got is not None and len(got) == 2
    assert got[0]["logical_partition"] == "Partition_A"  # rename applied
    assert got[1]["name"] is None  # missing fields null-padded
    df = extract_json_to_df(spark, url)
    assert df.count() == 2 and "logical_partition" in df.columns
    # failure paths → None (EtlProcess.cs:153,159)
    assert extract_json((tmp_path / "missing.json").as_uri()) is None
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert extract_json(bad.as_uri()) is None
    notlist = tmp_path / "obj.json"
    notlist.write_text('{"a": 1}')
    assert extract_json(notlist.as_uri()) is None


def test_python_datasource_sharded_generation(spark):
    """Custom Python DataSource: sharded parallel generation with the
    reference generator's row shape, deterministic across reads."""
    from durable_functions_cosmosdb_etl_spark.sources.python_datasource import (
        SampleItemDataSource,
    )

    spark.dataSource.register(SampleItemDataSource)
    df = (
        spark.read.format("sample_items")
        .option("count", 100)
        .option("shards", 8)
        .option("clock", "2026-01-15T10:00:00")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8  # one task per shard
    rows = df.collect()
    assert len(rows) == 100
    parts = {r.logical_partition for r in rows}
    assert parts == {"Partition_A", "Partition_B", "Partition_C"}
    assert all(r.done == "true" for r in rows)
    assert len({r.id for r in rows}) == 100  # unique ids
    # deterministic: second read is identical
    again = (
        spark.read.format("sample_items")
        .option("count", 100)
        .option("shards", 8)
        .option("clock", "2026-01-15T10:00:00")
        .load()
        .collect()
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_container_seam_parquet_roundtrip(spark, tmp_path):
    """Container abstraction (the Cosmos-connector seam): partitioned
    write, read, and change-feed-analog stream over the parquet backend."""
    from durable_functions_cosmosdb_etl_spark.sources.containers import Container

    c = Container.parquet(
        str(tmp_path / "extracted"),
        partition_key="logical_partition",
        schema=SAMPLE_ITEM_SCHEMA,
    )
    items = generate_sample_items(spark, count=30, clock=CLOCK,
                                  deterministic_ids=True)
    c.write(items)
    back = c.read(spark)
    assert back.count() == 30
    assert set(back.columns) == set(items.columns)
    # partitioned layout on the partition key (EtlProcess.cs:165 analog)
    import os

    dirs = os.listdir(c.path)
    assert any(d.startswith("logical_partition=") for d in dirs)
    # streaming read drains the same rows
    stream = c.read_stream(spark)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("cont_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert spark.sql("SELECT count(*) n FROM cont_stream").first().n == 30
    # cosmos backend records connector config without touching any SDK
    cz = Container.cosmos("https://e", "k", "documents", "extracted", "lp")
    assert cz.fmt == "cosmos.oltp"
    assert cz.options["spark.cosmos.container"] == "extracted"


def test_binary_file_source(spark, tmp_path):
    """spark.read.format("binaryFile") — the real-blob ingestion path
    for multimodal payloads (SURVEY.md §2.2 multimodal row)."""
    d = tmp_path / "blobs"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x00\x01payload-a")
    (d / "b.bin").write_bytes(b"payload-b" * 10)
    df = spark.read.format("binaryFile").load(str(d))
    rows = {r.path.split("/")[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\x00\x01payload-a"
    assert rows["b.bin"].length == 90


def test_cron_parity_lease_sla(spark, tmp_path):
    """Cron-parity for operator O1+O3/O4: firings on the reference's
    2-minute cadence under the 5-minute lease SLA
    (/root/reference/EtlProcess.cs:23-24). A firing that overlaps a live
    lease skips; once the holder exceeds the SLA the next firing steals
    (forced) and its audit row records forced_lease — the reference's
    OrchestrationRun.ForcedLease (:128)."""
    from durable_functions_cosmosdb_etl_spark.etl import scheduled_batch_run
    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        acquire_lease,
    )

    wd = str(tmp_path / "sched")
    lease = f"{wd}/orchestration_lease"
    t0 = datetime(2026, 1, 15, 12, 0, 0)

    # 12:00 firing: lease free -> runs and releases
    assert scheduled_batch_run(
        spark, wd, "w1", now=t0, count=5, deterministic=True
    )
    # a worker takes the lease at 12:01 and never releases (crashed run)
    assert acquire_lease(lease, "crashed", now=t0 + timedelta(minutes=1))
    # 12:02 firing (next cron tick): live lease -> skipped
    assert not scheduled_batch_run(
        spark, wd, "w2", now=t0 + timedelta(minutes=2), count=5,
        deterministic=True,
    )
    # 12:04 firing: still inside the 5-min SLA -> skipped
    assert not scheduled_batch_run(
        spark, wd, "w3", now=t0 + timedelta(minutes=4), count=5,
        deterministic=True,
    )
    # 12:08 firing: holder exceeded the SLA -> forced steal, runs
    assert scheduled_batch_run(
        spark, wd, "w4", now=t0 + timedelta(minutes=8), count=5,
        deterministic=True,
    )
    audit = spark.read.parquet(f"{wd}/orchestration_runs")
    rows = audit.orderBy("start_time").collect()
    assert len(rows) == 2  # skipped firings audit nothing, like :98-102
    assert [r.forced_lease for r in rows] == [False, True]
    assert all(r.succeeded for r in rows)
    # released cleanly: the next tick acquires without force
    assert acquire_lease(lease, "w5", now=t0 + timedelta(minutes=10))


def test_lease_steal_verifies_holder(tmp_path):
    """The steal path must not destroy a FRESH lock that a faster
    stealer re-created between our staleness read and our rename: the
    post-rename verify restores it and loses the race."""
    import json

    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        _lock_path,
        acquire_lease,
        release_lease,
    )

    path = str(tmp_path / "lease.json")
    lock = _lock_path(path)
    t0 = datetime(2026, 1, 15, 12, 0, 0)
    # stale holder from 12:00
    assert acquire_lease(path, "old", now=t0)
    # simulate: a faster stealer completed a full steal at 12:07 —
    # the lock file now carries a FRESH holder
    with open(lock, "w") as f:
        json.dump({"worker": "fast", "start_time": (t0 + timedelta(minutes=7)).isoformat()}, f)
    # our contender read "old" as stale and tries to steal at 12:07:
    # the verify sees the holder changed and must back off
    assert not acquire_lease(path, "slow", now=t0 + timedelta(minutes=7))
    with open(lock) as f:
        assert json.load(f)["worker"] == "fast"  # fresh lock intact
    # release by a non-holder is a no-op; by the holder it unlocks
    release_lease(path, "slow", now=t0 + timedelta(minutes=8))
    with open(lock) as f:
        assert json.load(f)["worker"] == "fast"
    release_lease(path, "fast", now=t0 + timedelta(minutes=8))
    assert not __import__("os").path.exists(lock)


def test_lease_release_verifies_start_time(tmp_path):
    """Cron firings share a worker id: a slow firing releasing with its
    OWN handle must not release the lease a later same-named firing
    stole and still holds."""
    import os

    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        _lock_path,
        acquire_lease,
        release_lease,
    )

    path = str(tmp_path / "lease.json")
    lock = _lock_path(path)
    t0 = datetime(2026, 1, 15, 12, 0, 0)
    h1 = acquire_lease(path, "etl", now=t0)
    assert h1 and not h1.forced
    # firing 1 overruns the SLA; firing 2 (same worker name) steals
    h2 = acquire_lease(path, "etl", now=t0 + timedelta(minutes=6))
    assert h2 and h2.forced
    # firing 1 finally finishes and releases with ITS start_time:
    # must be a no-op — firing 2's lock survives
    release_lease(path, "etl", now=t0 + timedelta(minutes=7), start_time=h1.start_time)
    assert os.path.exists(lock)
    # firing 2's own release clears it
    release_lease(path, "etl", now=t0 + timedelta(minutes=8), start_time=h2.start_time)
    assert not os.path.exists(lock)


def test_full_reference_story_e2e(spark, tmp_path):
    """Capstone: the whole reference pipeline in one pass, with the
    round-3 transactional pieces swapped in.

    EP1 (scheduled batch): lease-guarded run — generator extract (O5/
    O12), surrogate-key partitioned load (O6), audit (O4).
    EP2 (incremental): change-feed-style stream over the staged files
    (O7), per-batch transform (O8/O9), MERGE upsert into a LogTable
    (O11, transactional variant), per-micro-batch metrics via the
    StreamingQueryListener (O4's streaming half), and a produced change
    feed between table versions — the full loop the reference runs
    across Functions + Cosmos, here on one engine.
    """
    import time as _time

    from durable_functions_cosmosdb_etl_spark.etl import scheduled_batch_run
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
    from durable_functions_cosmosdb_etl_spark.streaming.metrics import (
        BatchMetricsListener,
    )
    from durable_functions_cosmosdb_etl_spark.streaming.pipeline import (
        run_incremental_transform,
    )

    work = str(tmp_path / "work")
    clock = datetime(2024, 6, 1, 12, 0, 0)

    # --- EP1: lease-guarded scheduled batch (cron firing #1)
    assert scheduled_batch_run(
        spark, work, worker="w1", now=clock, count=20,
        deterministic=True,
    )
    audit = spark.read.parquet(f"{work}/orchestration_runs")
    assert audit.count() == 1
    assert audit.first()["succeeded"] is True

    # --- EP2: incremental transform of the staged docs -> LogTable MERGE
    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        run_incremental_transform(
            spark,
            f"{work}/extracted",
            f"{work}/transformed_lt",
            f"{work}/ckpt",
            clock=clock,
            sink="logtable",
        )
        deadline = _time.time() + 30
        while _time.time() < deadline and not listener.snapshot():
            _time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    t = LogTable(spark, f"{work}/transformed_lt", key="id")
    snap = t.snapshot()
    assert snap.count() == 20
    assert snap.groupBy("id").count().filter("count > 1").count() == 0
    assert {r["transform_batch"] for r in snap.collect()}  # lineage ids set

    # metrics landed for the micro-batches that ran
    assert listener.flush(spark, f"{work}/stream_metrics") >= 1
    assert spark.read.parquet(f"{work}/stream_metrics").count() >= 1

    # --- cron firing #2: more documents arrive, stream catches up
    clock2 = datetime(2024, 6, 1, 12, 2, 0)
    assert scheduled_batch_run(
        spark, work, worker="w1", now=clock2, count=5,
        deterministic=True,
    )
    v_before = t.version()
    run_incremental_transform(
        spark, f"{work}/extracted", f"{work}/transformed_lt",
        f"{work}/ckpt", clock=clock2, sink="logtable",
    )
    assert t.snapshot().count() == 25
    # the produced change feed shows exactly the new docs as inserts
    changed = t.changes(v_before).collect()
    assert {r["change"] for r in changed} <= {"insert", "update"}
    assert sum(1 for r in changed if r["change"] == "insert") == 5


def test_csv_and_orc_source_round_trips(spark, tmp_path, sf_dir):
    """Source-format coverage beyond parquet: the engine reads/writes
    CSV (schema'd, with header) and ORC losslessly for a relational
    table — the interchange formats an ETL edge actually receives.
    Equality is asserted against the parquet-sourced original."""
    from durable_functions_cosmosdb_etl_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    rows = sorted(tuple(r) for r in nation.collect())

    csv_dir = str(tmp_path / "nation_csv")
    nation.write.option("header", True).mode("overwrite").csv(csv_dir)
    csv_back = (
        spark.read.option("header", True)
        .schema(nation.schema)
        .csv(csv_dir)
    )
    assert sorted(tuple(r) for r in csv_back.collect()) == rows

    orc_dir = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(orc_dir)
    orc_back = spark.read.orc(orc_dir)
    assert orc_back.schema == nation.schema
    assert sorted(tuple(r) for r in orc_back.collect()) == rows


def test_lease_renew_extends_tenancy(tmp_path):
    """renew_lease (reworked round 8, ADVICE r7): a heartbeat advances
    liveness via an atomic SIDECAR replace — the lock file is never
    moved, the tenancy identity (worker, acquire start_time) never
    changes — so a contender within timeout-of-LAST-HEARTBEAT misses,
    past it steals; renewal after loss reports falsy and release uses
    the stable identity."""
    from datetime import datetime, timedelta

    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        acquire_lease,
        release_lease,
        renew_lease,
    )

    lease = str(tmp_path / "lease.json")
    t0 = datetime(2026, 1, 15, 10, 0, 0)
    h = acquire_lease(lease, "w1", now=t0)
    assert h
    # heartbeat at +4 min: liveness now runs from the heartbeat, but the
    # tenancy identity is STABLE (the handle stays valid for release)
    h2 = renew_lease(lease, h.worker, h.start_time, now=t0 + timedelta(minutes=4))
    assert h2 and h2.start_time == h.start_time
    # +6 min from acquire is only +2 from the heartbeat: contender misses
    assert not acquire_lease(lease, "w2", now=t0 + timedelta(minutes=6))
    # further heartbeats keep extending from their own time
    assert renew_lease(lease, h.worker, h.start_time, now=t0 + timedelta(minutes=8))
    assert not acquire_lease(lease, "w2", now=t0 + timedelta(minutes=12))
    # past last-heartbeat+timeout: stolen; the holder's next heartbeat
    # reports the loss (its identity no longer matches the lock)
    assert acquire_lease(lease, "w2", now=t0 + timedelta(minutes=14))
    assert not renew_lease(lease, h.worker, h.start_time, now=t0 + timedelta(minutes=14))
    # release with the superseded identity is a no-op on w2's live lease
    release_lease(lease, h.worker, now=t0 + timedelta(minutes=15), start_time=h.start_time)
    assert not acquire_lease(lease, "w3", now=t0 + timedelta(minutes=15))


def test_lease_renewal_never_opens_a_steal_window(tmp_path):
    """The ADVICE r7 finding, directly: with the old rename-aside
    renewal, a contender firing DURING a heartbeat found the lock
    absent and its O_EXCL create succeeded instantly — a spurious steal
    of a live, actively-heartbeated lease at any batch boundary. The
    in-place sidecar renewal never removes the lock, so a contender
    injected at the widest point of the heartbeat (the sidecar write
    itself) must still miss."""
    from datetime import datetime, timedelta

    from durable_functions_cosmosdb_etl_spark.operators import lease as L

    path = str(tmp_path / "lease.json")
    t0 = datetime(2026, 1, 15, 10, 0, 0)
    h = L.acquire_lease(path, "holder", now=t0)
    assert h
    contender_results = []
    orig_write = L._write

    def contender_mid_heartbeat(p, state):
        if p.endswith(".hb") and not contender_results:
            contender_results.append(
                bool(
                    L.acquire_lease(
                        path, "contender", now=t0 + timedelta(minutes=4)
                    )
                )
            )
        orig_write(p, state)

    L._write = contender_mid_heartbeat
    try:
        h2 = L.renew_lease(path, h.worker, h.start_time, now=t0 + timedelta(minutes=4))
    finally:
        L._write = orig_write
    # the lock existed throughout: the contender missed AND the
    # holder's renewal succeeded
    assert contender_results == [False]
    assert h2
    assert not L.acquire_lease(path, "w2", now=t0 + timedelta(minutes=6))


def test_audit_run_normalizes_naive_local_datetimes_to_utc(spark, tmp_path):
    """ADVICE r8: callers pass naive ``datetime.now()`` values, which
    mean HOST-LOCAL time (the pre-round-8 Spark write path's
    behavior), but pyarrow interprets naive datetimes as UTC for a
    tz-aware column — on a non-UTC host every new audit row shifted by
    the UTC offset (verified 4 h under TZ=America/New_York). audit_run
    now normalizes both naive-local and aware inputs to true UTC
    before writing. Asserted against the raw parquet with pyarrow so
    no Spark session-timezone reinterpretation can mask a shift."""
    import os as _os
    import time as _time

    import pyarrow.parquet as pq
    from datetime import timezone as _tz

    from durable_functions_cosmosdb_etl_spark.sinks.writers import audit_run

    audit_dir = str(tmp_path / "runs")
    old_tz = _os.environ.get("TZ")
    _os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        # naive wall-clock noon in New York, January → EST (UTC-5)
        start = datetime(2026, 1, 15, 12, 0, 0)
        end = datetime(2026, 1, 15, 12, 0, 30)
        audit_run(spark, audit_dir, start, end, succeeded=True)
    finally:
        if old_tz is None:
            _os.environ.pop("TZ", None)
        else:
            _os.environ["TZ"] = old_tz
        _time.tzset()
    files = [f for f in _os.listdir(audit_dir) if f.endswith(".parquet")]
    assert len(files) == 1
    row = pq.read_table(_os.path.join(audit_dir, files[0])).to_pylist()[0]
    assert row["start_time"] == datetime(2026, 1, 15, 17, 0, 0, tzinfo=_tz.utc)
    assert row["end_time"] == datetime(
        2026, 1, 15, 17, 0, 30, tzinfo=_tz.utc
    )
    assert row["duration"] == 30.0
    # aware inputs in any zone land at the same instant
    from datetime import timedelta as _td

    aware_dir = str(tmp_path / "runs_aware")
    plus2 = _tz(_td(hours=2))
    audit_run(
        spark, aware_dir,
        datetime(2026, 1, 15, 12, 0, 0, tzinfo=plus2),
        datetime(2026, 1, 15, 12, 1, 0, tzinfo=plus2),
        succeeded=True,
    )
    f2 = [f for f in _os.listdir(aware_dir) if f.endswith(".parquet")][0]
    row2 = pq.read_table(_os.path.join(aware_dir, f2)).to_pylist()[0]
    assert row2["start_time"] == datetime(
        2026, 1, 15, 10, 0, 0, tzinfo=_tz.utc
    )
