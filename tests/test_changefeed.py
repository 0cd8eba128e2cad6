"""LogTable→LogTable change-feed pipelines (streaming/changefeed.py).

The reference's EP2 loop (change feed → transform → upsert,
/root/reference/EtlProcess.cs:183-206) run end-to-end over the engine's
OWN storage tier: LogTable A → changes() → transform → LogTable B, with
a persisted cursor, capped micro-batches, kill/resume, and the
effectively-once (no dup / no loss) contract.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
    read_cursor,
    run_changefeed_transform,
    write_cursor,
)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _mk(spark, tmp_path, name, n_buckets=4):
    return LogTable(spark, str(tmp_path / name), key="id", n_buckets=n_buckets)


def upcase(df):
    return df.withColumn("val", F.upper("val"))


def test_changefeed_replicates_and_transforms(spark, tmp_path):
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    a.create(spark.createDataFrame([(1, "x"), (2, "y")], "id long, val string"))
    a.upsert(spark.createDataFrame([(2, "z"), (3, "w")], "id long, val string"))

    stats = run_changefeed_transform(spark, a, b, cur, transform=upcase)
    assert stats["rows_upserted"] == 3 and stats["rows_deleted"] == 0
    assert _rows(b.snapshot(), "id", "val") == [(1, "X"), (2, "Z"), (3, "W")]
    assert read_cursor(cur) == a.version()

    # incremental: only the delta flows; deletes propagate by key
    a.upsert(spark.createDataFrame([(1, "q")], "id long, val string"))
    a.delete_keys(spark.createDataFrame([(3,)], "id long"))
    stats = run_changefeed_transform(spark, a, b, cur, transform=upcase)
    assert stats["rows_upserted"] == 1 and stats["rows_deleted"] == 1
    assert _rows(b.snapshot(), "id", "val") == [(1, "Q"), (2, "Z")]
    # the source's serve telemetry (tier, interval and its price, VERDICT
    # r9 #5) is mirrored into the drain stats and so the audit row
    info = a.last_feed_info
    assert {k: info[k] for k in ("tier", "from", "to", "fallback_reason")} == {
        "tier": "diff", "from": 1, "to": 3, "fallback_reason": None,
    }
    assert info["interval_units"] >= 1 and info["net_change_ratio"] > 0
    assert stats["last_feed_info"] == info

    # drained: a third run is a no-op (no new target versions)
    bv = b.version()
    stats = run_changefeed_transform(spark, a, b, cur, transform=upcase)
    assert stats["batches"] == 0 and b.version() == bv


def test_changefeed_capped_batches_and_cursor(spark, tmp_path):
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    a.create(spark.createDataFrame([(1, "a1")], "id long, val string"))
    for i in range(2, 6):
        a.upsert(
            spark.createDataFrame([(i, f"a{i}")], "id long, val string")
        )
    # 5 source versions (0..4), cap 2 → 3 micro-batches; bootstrap batch
    # consumes [.., cur+cap-1] = version 1's snapshot
    stats = run_changefeed_transform(
        spark, a, b, cur, max_versions_per_batch=2
    )
    assert stats["batches"] == 3
    assert read_cursor(cur) == 4
    assert _rows(b.snapshot(), "id", "val") == [
        (i, f"a{i}") for i in range(1, 6)
    ]


def test_changefeed_kill_resume_no_dup_no_loss(spark, tmp_path):
    """Crash in the widest replay window (after the target commits,
    before the cursor persists): the resumed run replays the interval,
    and the target converges with no duplicate and no lost keys."""
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    a.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, val string"
        )
    )
    a.upsert(spark.createDataFrame([(3, "u3"), (8, "v8")], "id long, val string"))
    a.delete_keys(spark.createDataFrame([(5,)], "id long"))

    class Kill(RuntimeError):
        pass

    boom = [2]  # crash on the 2nd batch's post-apply window

    def crash(upto, tv):
        boom[0] -= 1
        if boom[0] == 0:
            raise Kill(f"killed after applying through {upto}")

    with pytest.raises(Kill):
        run_changefeed_transform(
            spark, a, b, cur, transform=upcase,
            max_versions_per_batch=1, after_apply=crash,
        )
    # the cursor did NOT advance past the killed batch...
    assert read_cursor(cur) == 0
    # ...and the resumed run replays it + the rest, converging exactly
    run_changefeed_transform(
        spark, a, b, cur, transform=upcase, max_versions_per_batch=1
    )
    expect = [(i, f"V{i}") for i in range(9) if i != 5]
    expect = [(i, "U3") if i == 3 else (i, v) for i, v in expect]
    assert _rows(b.snapshot(), "id", "val") == expect
    # no dup: one row per key is the stored invariant — assert it held
    got = b.snapshot().groupBy("id").count().filter("count > 1").count()
    assert got == 0
    assert read_cursor(cur) == a.version()


def test_changefeed_deferred_sink_with_maintenance(spark, tmp_path):
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    a.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, val string"
        )
    )
    for i in range(4):
        a.upsert(
            spark.createDataFrame(
                [(i, f"u{i}"), (100 + i, f"n{i}")], "id long, val string"
            )
        )
    run_changefeed_transform(
        spark, a, b, cur, sink="deferred",
        max_versions_per_batch=1, maintenance_every=2,
        compact_min_delta=0.0,
    )
    assert _rows(a.snapshot(), "id", "val") == _rows(
        b.snapshot(), "id", "val"
    )
    # maintenance ran: a checkpoint exists in B's log
    assert b._latest_checkpoint() is not None


def test_changefeed_medallion_chain(spark, tmp_path):
    """Three-tier chain bronze → silver → gold, each hop incremental
    through its own cursor — the derived-pipeline shape every real
    deployment builds on a change feed."""
    bronze = _mk(spark, tmp_path, "bronze")
    silver = _mk(spark, tmp_path, "silver")
    gold = _mk(spark, tmp_path, "gold")
    c1 = str(tmp_path / "c1.json")
    c2 = str(tmp_path / "c2.json")
    bronze.create(
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "id long, amt long"
        )
    )

    def enrich(df):
        return df.withColumn("amt2", F.col("amt") * 2)

    def flag(df):
        return df.withColumn("big", F.col("amt2") >= 40)

    run_changefeed_transform(spark, bronze, silver, c1, transform=enrich)
    run_changefeed_transform(spark, silver, gold, c2, transform=flag)
    assert _rows(gold.snapshot(), "id", "big") == [
        (i, i * 20 >= 40) for i in range(6)
    ]
    # a bronze mutation ripples through both hops incrementally
    bronze.upsert(spark.createDataFrame([(1, 500)], "id long, amt long"))
    bronze.delete_keys(spark.createDataFrame([(4,)], "id long"))
    s1 = run_changefeed_transform(spark, bronze, silver, c1, transform=enrich)
    s2 = run_changefeed_transform(spark, silver, gold, c2, transform=flag)
    assert s1["rows_upserted"] == 1 and s1["rows_deleted"] == 1
    assert s2["rows_upserted"] == 1 and s2["rows_deleted"] == 1
    assert _rows(gold.snapshot(), "id", "big") == sorted(
        [(i, i * 20 >= 40) for i in range(6) if i not in (1, 4)] + [(1, True)]
    )


def test_changefeed_validation_and_cursor_io(spark, tmp_path):
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    with pytest.raises(ValueError, match="unknown sink"):
        run_changefeed_transform(spark, a, b, cur, sink="kafka")
    with pytest.raises(ValueError, match="max_versions_per_batch"):
        run_changefeed_transform(spark, a, b, cur, max_versions_per_batch=0)
    assert read_cursor(cur) == -1
    write_cursor(cur, 7, extra={"target_version": 3})
    assert read_cursor(cur) == 7
    # an empty source drains immediately
    stats = run_changefeed_transform(spark, a, b, str(tmp_path / "c2.json"))
    assert stats["batches"] == 0


def test_changefeed_key_mismatch_rejected(spark, tmp_path):
    a = LogTable(spark, str(tmp_path / "a"), key="id")
    b = LogTable(spark, str(tmp_path / "b"), key="doc_id")
    with pytest.raises(ValueError, match="source key"):
        run_changefeed_transform(
            spark, a, b, str(tmp_path / "c.json")
        )


def test_changefeed_across_schema_evolution(spark, tmp_path):
    """A medallion hop must survive the source gaining a column
    mid-stream: changes() unions the two snapshots' schemas across the
    boundary (missing side = NULL), and the consumer propagates the
    widened rows into the target."""
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    a.create(spark.createDataFrame([(1, "x"), (2, "y")], "id long, val string"))
    run_changefeed_transform(spark, a, b, cur)
    # source evolves: new column arrives with an update batch
    a.upsert(
        spark.createDataFrame(
            [(2, "z", 7), (3, "w", 9)], "id long, val string, score long"
        )
    )
    run_changefeed_transform(spark, a, b, cur)
    got = {
        r["id"]: (r["val"], r["score"])
        for r in b.snapshot().collect()
    }
    assert got == {1: ("x", None), 2: ("z", 7), 3: ("w", 9)}


# --------------------------------------------------------------- round 7
# Operational hardening of the consumer (VERDICT r6 #1-#4): typed feed
# truncation + re-bootstrap, transform-contract certification,
# producer-concurrent drains, and lease-guarded exclusivity.


def _lag_then_vacuum(spark, tmp_path):
    """Build the truncation scenario: drain b to a's v0, then rewrite
    every key (killing v0's units once vacuumed), delete one key, and
    vacuum with zero retention — the cursor at v0 now references
    physically deleted units."""
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    a.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, val string"
        )
    )
    run_changefeed_transform(spark, a, b, cur, transform=upcase)
    assert read_cursor(cur) == 0
    # rewrite ALL keys (every bucket's v0 unit goes dead) + delete one
    a.upsert(
        spark.createDataFrame(
            [(i, f"w{i}") for i in range(8)], "id long, val string"
        )
    )
    a.delete_keys(spark.createDataFrame([(3,)], "id long"))
    # retain ONE version back: v1..v2 stay feedable, v0 (the cursor)
    # loses its rewritten units — exactly the lagging-consumer shape
    a.vacuum(retain_versions=1)
    return a, b, cur


def test_changefeed_truncation_typed_error(spark, tmp_path):
    """A cursor lagging behind vacuum's retention window must surface
    as the typed FeedTruncatedError UP FRONT (driver-side, before any
    Spark job) — both from changes() directly and from the drain loop —
    with the target and cursor untouched."""
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        FeedTruncatedError,
    )

    a, b, cur = _lag_then_vacuum(spark, tmp_path)
    # producer half: the feed itself detects the missing units
    assert a.missing_units(as_of=0)
    with pytest.raises(FeedTruncatedError, match="re-bootstrap"):
        a.changes(0, a.version())
    # consumer half: default on_truncated="error" propagates, cursor
    # unmoved, no partial target commits
    bv = b.version()
    with pytest.raises(FeedTruncatedError, match="truncated by vacuum"):
        run_changefeed_transform(spark, a, b, cur, transform=upcase)
    assert read_cursor(cur) == 0 and b.version() == bv
    # an interval fully inside retention still feeds fine
    assert a.changes(a.version() - 1, a.version()).count() >= 1


def test_changefeed_truncation_rebootstrap_converges(spark, tmp_path):
    """on_truncated="rebootstrap" reconciles to the CURRENT snapshot:
    updates land through the transform AND keys deleted during the
    missed interval disappear from the target (plain
    snapshot-as-inserts would strand them forever)."""
    a, b, cur = _lag_then_vacuum(spark, tmp_path)
    stats = run_changefeed_transform(
        spark, a, b, cur, transform=upcase, on_truncated="rebootstrap"
    )
    assert stats["rebootstrapped"] is True
    assert _rows(b.snapshot(), "id", "val") == [
        (i, f"W{i}") for i in range(8) if i != 3
    ]
    assert read_cursor(cur) == a.version()
    # back to normal incremental operation afterwards
    a.upsert(spark.createDataFrame([(9, "nine")], "id long, val string"))
    stats = run_changefeed_transform(
        spark, a, b, cur, transform=upcase, on_truncated="rebootstrap"
    )
    assert stats["rebootstrapped"] is False and stats["rows_upserted"] == 1
    assert (9, "NINE") in _rows(b.snapshot(), "id", "val")


def test_changefeed_transform_contract_certified(spark, tmp_path):
    """A transform violating the deterministic key-preserving 1:1
    contract fails LOUDLY before any target commit (VERDICT r6 #4) —
    previously it converged silently wrong. All three violation shapes:
    dropping rows, duplicating keys, rewriting key values — on the
    bootstrap batch (a create) and on an incremental batch, which the
    default deferred sink would append as a delta unit: the target's
    version and data dirs stay as they were and the cursor unmoved."""
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        TransformContractError,
    )

    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    a.create(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "z")], "id long, val string"
        )
    )
    cases = [
        ("must be 1:1", lambda df: df.filter(F.col("id") != 1)),
        # same row count, key 2 collapsed onto key 1 → duplicate keys
        ("repeats keys", lambda df: df.withColumn(
            "id", F.when(F.col("id") == 2, F.lit(1)).otherwise(F.col("id"))
        )),
        ("rewrote key values", lambda df: df.withColumn(
            "id", F.col("id") + 100
        )),
    ]
    for pat, bad in cases:
        with pytest.raises(TransformContractError, match=pat):
            run_changefeed_transform(spark, a, b, cur, transform=bad)
        # nothing committed, cursor unmoved: the batch failed atomically
        assert b.version() == -1 and read_cursor(cur) == -1
    # a conforming transform passes certification and converges
    stats = run_changefeed_transform(spark, a, b, cur, transform=upcase)
    assert stats["rows_upserted"] == 3
    a.upsert_deferred(
        spark.createDataFrame(
            [(1, "x2"), (2, "y2"), (3, "z2")], "id long, val string"
        )
    )
    bv, cv = b.version(), read_cursor(cur)
    data_dirs = sorted(os.listdir(tmp_path / "b" / "data"))
    for pat, bad in cases:
        with pytest.raises(TransformContractError, match=pat):
            run_changefeed_transform(spark, a, b, cur, transform=bad)
        assert b.version() == bv and read_cursor(cur) == cv
        assert sorted(os.listdir(tmp_path / "b" / "data")) == data_dirs
    run_changefeed_transform(spark, a, b, cur, transform=upcase)
    # the delta rows are half of the table, past the 0.25 compaction
    # gate, so the batch's maintenance folds them into base units
    assert [e["op"] for e in b.history()] == [
        "create", "upsert_delta", "compact"
    ]
    assert _rows(b.snapshot(), "id", "val") == [
        (1, "X2"), (2, "Y2"), (3, "Z2")
    ]
    # opt-out honored (audited transforms on latency-critical feeds)
    a.upsert(spark.createDataFrame([(4, "q")], "id long, val string"))
    c = _mk(spark, tmp_path, "c")
    cur2 = str(tmp_path / "cursor2.json")
    run_changefeed_transform(
        spark, a, c, cur2,
        transform=lambda df: df.filter(F.col("id") <= 2),
        certify_transform=False,
    )
    assert c.snapshot().count() == 2


def test_changefeed_producer_commits_during_drain(spark, tmp_path):
    """A writer committing DURING a drain extends that drain: the loop
    re-reads source.version() at each loop head, so the new interval is
    consumed by the same invocation (VERDICT r6 #3, deterministic
    half — the randomized interleaving lives in test_properties)."""
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    a.create(spark.createDataFrame([(1, "x"), (2, "y")], "id long, val string"))
    a.upsert(spark.createDataFrame([(3, "z")], "id long, val string"))
    fired = []

    def commit_more(upto, tv):
        if not fired:
            fired.append(upto)
            a.upsert(
                spark.createDataFrame([(4, "w")], "id long, val string")
            )
            a.delete_keys(spark.createDataFrame([(1,)], "id long"))

    stats = run_changefeed_transform(
        spark, a, b, cur, transform=upcase, after_apply=commit_more
    )
    # batch 1: bootstrap through v1; mid-drain commits v2+v3; batch 2
    # drains them before the invocation returns
    assert stats["batches"] == 2
    assert _rows(b.snapshot(), "id", "val") == [(2, "Y"), (3, "Z"), (4, "W")]
    assert read_cursor(cur) == a.version()


def test_changefeed_lease_guard_serializes(spark, tmp_path):
    """lease_path guards the drain with the O3 lease (the reference
    serializes its consumer through the lease container the same way,
    EtlProcess.cs:184-185): a held lease turns the invocation into a
    lease_skipped no-op; a released one drains normally."""
    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        acquire_lease,
        release_lease,
    )

    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    lease = str(tmp_path / "lease.json")
    a.create(spark.createDataFrame([(1, "x")], "id long, val string"))
    held = acquire_lease(lease, "other-process")
    assert held
    stats = run_changefeed_transform(spark, a, b, cur, lease_path=lease)
    assert stats["lease_skipped"] is True and stats["batches"] == 0
    assert b.version() == -1 and read_cursor(cur) == -1
    release_lease(lease, held.worker, start_time=held.start_time)
    stats = run_changefeed_transform(spark, a, b, cur, lease_path=lease)
    assert stats["lease_skipped"] is False and stats["batches"] == 1
    # the drain released its own lease on the way out — a third
    # invocation acquires again instead of self-deadlocking
    stats = run_changefeed_transform(spark, a, b, cur, lease_path=lease)
    assert stats["lease_skipped"] is False and stats["batches"] == 0


def test_changefeed_lease_exclusivity_multiprocess(spark, tmp_path):
    """TRUE cross-process exclusivity (VERDICT r6 #2, style of the
    LogTable commit race): two separate driver processes race
    run_changefeed_transform on ONE cursor with ONE lease. The winner
    holds its drain open until the loser has attempted (sync files make
    the overlap deterministic); exactly one drains, the other returns
    lease_skipped, and the target converges."""
    import json as _json
    import os
    import subprocess
    import sys
    import time

    work = str(tmp_path)
    a = LogTable(spark, f"{work}/a", key="id")
    a.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, val string"
        )
    )
    worker = os.path.join(
        os.path.dirname(__file__), "_changefeed_lease_worker.py"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, worker, work, str(w)],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        for w in range(2)
    ]
    deadline = time.time() + 120
    while time.time() < deadline and not all(
        os.path.exists(f"{work}/ready_{w}") for w in range(2)
    ):
        time.sleep(0.1)
    assert all(
        os.path.exists(f"{work}/ready_{w}") for w in range(2)
    ), "workers failed to start"
    open(f"{work}/go", "w").close()
    for p in procs:
        err = p.communicate(timeout=300)[1]
        assert p.returncode == 0, err.decode()[-2000:]
    stats = []
    for w in range(2):
        with open(f"{work}/attempted_{w}") as f:
            stats.append(_json.load(f))
    drained = [s for s in stats if not s["lease_skipped"]]
    skipped = [s for s in stats if s["lease_skipped"]]
    assert len(drained) == 1 and len(skipped) == 1, stats
    assert drained[0]["batches"] >= 1 and drained[0]["rows_upserted"] == 8
    assert skipped[0]["batches"] == 0
    b = LogTable(spark, f"{work}/b", key="id")
    assert b.snapshot().count() == 8


def test_changefeed_lease_heartbeat_and_loss(spark, tmp_path):
    """The lease-guarded drain heartbeats per batch (the lock's
    start_time advances between batches, so the timeout must outlive
    one BATCH, not the whole drain), and a mid-drain steal surfaces as
    LeaseLostError BEFORE the next batch — applied batches stay
    cursor-persisted, and re-invoking after the thief frees the lease
    resumes incrementally."""
    import json as _json
    import os as _os

    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        acquire_lease,
        release_lease,
    )
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        LeaseLostError,
    )

    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    lease = str(tmp_path / "lease.json")
    lock = lease + ".lock"
    hb = lease + ".hb"
    a.create(spark.createDataFrame([(1, "x")], "id long, val string"))
    a.upsert(spark.createDataFrame([(2, "y")], "id long, val string"))
    a.upsert(spark.createDataFrame([(3, "z")], "id long, val string"))

    seen = []

    def watch(upto, tv):
        # the lock itself is immutable during renewal (round 8: the
        # heartbeat is an atomic sidecar replace, so there is no
        # instant a contender could spuriously win the O_EXCL create)
        assert _os.path.exists(lock)
        with open(hb) as f:
            seen.append(_json.load(f)["time"])

    stats = run_changefeed_transform(
        spark, a, b, cur, max_versions_per_batch=1,
        lease_path=lease, after_apply=watch,
    )
    assert stats["batches"] == 3
    # the heartbeat advanced between batches
    assert len(set(seen)) >= 2, seen
    assert _os.path.exists(lock) is False  # released on the way out
    assert _os.path.exists(hb) is False  # sidecar cleaned with it

    # mid-drain steal: after batch 1 of the next drain, a thief takes
    # the lease (simulating a missed heartbeat); the loop-head renewal
    # detects the loss and stops before batch 2
    a.upsert(spark.createDataFrame([(4, "w")], "id long, val string"))
    a.upsert(spark.createDataFrame([(5, "v")], "id long, val string"))

    def steal(upto, tv):
        _os.unlink(lock)
        assert acquire_lease(lease, "thief")

    with pytest.raises(LeaseLostError, match="lease lost"):
        run_changefeed_transform(
            spark, a, b, cur, max_versions_per_batch=1,
            lease_path=lease, after_apply=steal,
        )
    # batch 1 (version 3) applied and persisted; version 4 not
    assert read_cursor(cur) == 3
    got = _rows(b.snapshot(), "id", "val")
    assert (4, "w") in got and (5, "v") not in got
    # thief frees the lease → re-invocation resumes and completes
    release_lease(lease, "thief")
    stats = run_changefeed_transform(
        spark, a, b, cur, lease_path=lease,
    )
    assert stats["lease_skipped"] is False
    assert (5, "v") in _rows(b.snapshot(), "id", "val")


def test_changefeed_audit_rows(spark, tmp_path):
    """Per-drain run audit (VERDICT r7 #2): every drain that ran
    appends one OrchestrationRun row (EtlProcess.cs:120-130,
    OrchestrationRun.cs:7-18) — success rows carry the stats JSON,
    compensation rows carry the failure message PLUS the progress
    durably applied before the stop, and a lease_skipped invocation
    writes no row (the reference's skip path audits nothing)."""
    import json as _json

    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        acquire_lease,
        release_lease,
    )
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        LeaseLostError,
        TransformContractError,
    )

    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    cur = str(tmp_path / "cursor.json")
    audit = str(tmp_path / "runs")
    a.create(spark.createDataFrame([(1, "x"), (2, "y")], "id long, val string"))

    def read_audit():
        return [
            (r["succeeded"], r["orchestration_worker"],
             _json.loads(r["additional_info"]))
            for r in spark.read.parquet(audit).orderBy("start_time").collect()
        ]

    # 1. successful drain → one succeeded row with the stats
    stats = run_changefeed_transform(
        spark, a, b, cur, transform=upcase, audit_dir=audit
    )
    rows = read_audit()
    assert len(rows) == 1
    ok, worker, info = rows[0]
    assert ok is True and worker.startswith("changefeed-")
    assert info["rows_upserted"] == stats["rows_upserted"] == 2
    assert info["error"] is None

    # 2. contract-violating transform → failed row, error message, no
    # progress (the batch failed before any commit)
    a.upsert(spark.createDataFrame([(3, "z")], "id long, val string"))
    with pytest.raises(TransformContractError):
        run_changefeed_transform(
            spark, a, b, cur, audit_dir=audit,
            transform=lambda df: df.filter(F.col("id") < 0),
        )
    rows = read_audit()
    assert len(rows) == 2
    ok, _, info = rows[1]
    assert ok is False and "TransformContractError" in info["error"]
    assert info["batches"] == 0

    # 3. lease-skipped invocation → NO row
    lease = str(tmp_path / "lease.json")
    held = acquire_lease(lease, "other")
    skipped = run_changefeed_transform(
        spark, a, b, cur, lease_path=lease, audit_dir=audit
    )
    assert skipped["lease_skipped"] is True and len(read_audit()) == 2
    release_lease(lease, held.worker, start_time=held.start_time)

    # 4. lease-LOST drain → failed row carrying the worker identity and
    # the batches applied before the loss
    a.upsert(spark.createDataFrame([(4, "w")], "id long, val string"))
    a.upsert(spark.createDataFrame([(5, "v")], "id long, val string"))
    lock = lease + ".lock"

    def steal(upto, tv):
        import os as _os

        _os.unlink(lock)
        assert acquire_lease(lease, "thief")

    with pytest.raises(LeaseLostError):
        run_changefeed_transform(
            spark, a, b, cur, transform=upcase, audit_dir=audit,
            lease_path=lease, max_versions_per_batch=1, after_apply=steal,
        )
    rows = read_audit()
    assert len(rows) == 3
    ok, worker, info = rows[2]
    assert ok is False and "LeaseLostError" in info["error"]
    # the durably-applied batch before the loss is in the audit
    assert info["batches"] == 1 and info["rows_upserted"] == 1


def _kv(spark, rows):
    return spark.createDataFrame(rows, "id long, val string")


def test_deferred_interval_is_served_from_post_images(spark, tmp_path):
    """A drain interval of deferred upserts and a compact is served
    from the delta units those commits logged: the latest row of each
    written key, tier "post_image", every written key counted — a key
    rewritten with its stored value included, which is a no-op on the
    target."""
    src = _mk(spark, tmp_path, "src")
    tgt = _mk(spark, tmp_path, "tgt")
    cur = str(tmp_path / "cursor.json")
    src.create(_kv(spark, [(i, f"v{i}") for i in range(20)]))        # v0
    run_changefeed_transform(spark, src, tgt, cur, transform=upcase)
    src.upsert_deferred(_kv(spark, [(1, "a"), (30, "n")]))           # v1
    src.upsert_deferred(_kv(spark, [(1, "b"), (2, "v2")]))           # v2
    src.compact()                                                    # v3
    deltas = [
        u for e in src.history()[1:3] for u in e["added"]
    ]
    stats = run_changefeed_transform(spark, src, tgt, cur, transform=upcase)
    info = stats["last_feed_info"]
    assert info == {
        "tier": "post_image", "from": 0, "to": 3, "fallback_reason": None,
        "interval_units": len(deltas), "interval_rows": 4,
        "live_units": info["live_units"], "live_rows": 21,
        "net_change_ratio": 4 / 21,
    }
    assert stats["rows_upserted"] == 3 and stats["rows_deleted"] == 0
    want = {i: f"V{i}" for i in range(20)} | {1: "B", 30: "N"}
    assert _rows(tgt.snapshot(), "id", "val") == sorted(want.items())


def test_interval_with_another_commit_kind_takes_the_diff(spark, tmp_path):
    """An eager upsert, delete_keys, merge or append can change keys it
    writes no delta row for, so an interval holding one is served by
    the snapshot diff, with the same result on the target."""
    src = _mk(spark, tmp_path, "src")
    tgt = _mk(spark, tmp_path, "tgt")
    cur = str(tmp_path / "cursor.json")
    src.create(_kv(spark, [(i, f"v{i}") for i in range(10)]))
    run_changefeed_transform(spark, src, tgt, cur, transform=upcase)
    steps = [
        lambda: src.upsert(_kv(spark, [(3, "e")])),
        lambda: src.delete_keys(spark.createDataFrame([(4,)], "id long")),
        lambda: src.merge(_kv(spark, [(5, "m"), (40, "i")])),
        lambda: (src.compact(), src.append(_kv(spark, [(50, "p")]))),
    ]
    for i, step in enumerate(steps):
        lo = src.version()
        src.upsert_deferred(_kv(spark, [(i, f"d{i}")]))
        step()
        assert src.post_images(lo, src.version()) is None
        assert src.post_images(lo, lo + 1) is not None
        stats = run_changefeed_transform(
            spark, src, tgt, cur, transform=upcase
        )
        assert stats["last_feed_info"]["tier"] == "diff", i
        assert _rows(tgt.snapshot(), "id", "val") == _rows(
            upcase(src.snapshot()), "id", "val"
        )


def test_vacuumed_delta_interval_falls_back_like_the_diff(spark, tmp_path):
    """A deferred interval whose delta units were vacuumed is not served
    from post-images; the drain sees exactly what changes() does — here
    the typed FeedTruncatedError, and the snapshot reconcile under
    on_truncated="rebootstrap"."""
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        FeedTruncatedError,
    )

    src = _mk(spark, tmp_path, "src")
    tgt = _mk(spark, tmp_path, "tgt")
    cur = str(tmp_path / "cursor.json")
    src.create(_kv(spark, [(i, f"v{i}") for i in range(10)]))        # v0
    run_changefeed_transform(spark, src, tgt, cur, transform=upcase)
    src.upsert_deferred(_kv(spark, [(1, "a"), (11, "n")]))           # v1
    src.compact()                                                    # v2
    src.vacuum(retain_versions=0)
    assert all(
        not (tmp_path / "src" / u["unit"]).exists()
        for u in src.history()[1]["added"]
    )
    assert src.post_images(0, 2) is None
    with pytest.raises(FeedTruncatedError):
        src.changes(0, 2)
    with pytest.raises(FeedTruncatedError):
        run_changefeed_transform(spark, src, tgt, cur, transform=upcase)
    stats = run_changefeed_transform(
        spark, src, tgt, cur, transform=upcase, on_truncated="rebootstrap"
    )
    assert stats["rebootstrapped"] is True
    assert stats["last_feed_info"]["tier"] == "snapshot_rebootstrap"
    assert _rows(tgt.snapshot(), "id", "val") == _rows(
        upcase(src.snapshot()), "id", "val"
    )


def test_empty_final_interval_stamps_feed_info(spark, tmp_path):
    """ADVICE r10: a drain whose FINAL iteration hits the "both versions
    are empty" no-op path used to leave the previous batch's telemetry
    posing as the final batch's in the stats/audit row. The empty serve
    is now stamped explicitly."""
    src = _mk(spark, tmp_path, "src")
    tgt = _mk(spark, tmp_path, "tgt")
    cur = str(tmp_path / "cursor.json")
    src.create(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, val string")
    )                                                                # v0
    src.delete_keys(spark.createDataFrame([(1,), (2,)], "id long"))  # v1
    src.compact()  # v2: compacting the emptied table — a no-op layout
    stats = run_changefeed_transform(
        spark, src, tgt, cur, transform=upcase, max_versions_per_batch=1,
    )
    info = stats["last_feed_info"]
    assert info["tier"] == "empty"
    assert (info["from"], info["to"]) == (1, 2)
    assert info["net_change_ratio"] == 0.0
    assert read_cursor(cur) == src.version()


def test_empty_final_interval_stamps_real_churn(spark, tmp_path):
    """Code-review r11: the empty-serve stamp carries the estimator's
    price of the interval, not hardcoded values. Staged: churn +
    delete-all + compact past the consumer's cursor, so both interval
    ends are empty and the serve raises "both versions are empty". The
    stamp is exactly what feed_interval_stats returned for that
    interval — zero rows here, since the diff reads nothing at either
    end however much the interval churned."""
    src = _mk(spark, tmp_path, "src", n_buckets=2)
    tgt = _mk(spark, tmp_path, "tgt")
    cur = str(tmp_path / "cursor.json")
    src.create(
        spark.createDataFrame([(1, "x")], "id long, val string")
    )                                                            # v0
    src.delete_keys(spark.createDataFrame([(1,)], "id long"))    # v1
    run_changefeed_transform(spark, src, tgt, cur, transform=upcase)
    assert read_cursor(cur) == 1
    src.upsert(
        spark.createDataFrame([(2, "y"), (3, "z")], "id long, val string")
    )                                                            # v2
    src.delete_keys(spark.createDataFrame([(2,), (3,)], "id long"))  # v3
    src.compact()                                                # v4
    priced = []
    real = src.feed_interval_stats

    def spy(from_version, to_version=None):
        est = real(from_version, to_version)
        priced.append(((from_version, to_version), est))
        return est

    src.feed_interval_stats = spy
    stats = run_changefeed_transform(spark, src, tgt, cur, transform=upcase)
    interval, est = priced[-1]
    assert interval == (1, 4)
    assert stats["last_feed_info"] == {
        "tier": "empty", "from": 1, "to": 4, "fallback_reason": None, **est,
    }
    assert est["interval_rows"] == 0 and est["net_change_ratio"] == 0.0
    assert read_cursor(cur) == src.version()
