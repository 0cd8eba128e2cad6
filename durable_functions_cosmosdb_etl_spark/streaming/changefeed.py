"""LogTable-to-LogTable incremental pipelines: consume the change feed
the engine itself produces.

This closes the reference's EP2 loop (change feed → transform → upsert,
/root/reference/EtlProcess.cs:183-206) over the engine's OWN storage
tier: ``LogTable.changes()`` is the producer half (the Cosmos change
feed analog), and :func:`run_changefeed_transform` is the consumer half
(the CosmosDBTrigger + upsert analog) — so a medallion chain
(raw LogTable → transform → derived LogTable → …) runs end-to-end with
the same effectively-once contract as the file-source pipeline in
``streaming/pipeline.py``.

| reference (EtlProcess.cs)            | here                           |
|--------------------------------------|--------------------------------|
| CosmosDBTrigger change feed (:183)   | LogTable.changes(cur, upto)    |
| lease container continuation (:184)  | cursor file (commit version)   |
| lease container serialization (:185) | lease_path (O3 lease guard)    |
| MaxItemsPerInvocation=10 (:186)      | max_versions_per_batch         |
| per-invocation transform (:194-205)  | caller's transform(df)         |
| upsert on /id (:188-206)             | target.upsert / upsert_deferred|
| continuation-token expiry            | FeedTruncatedError/on_truncated|

Why a driver-side drain loop and not ``readStream``: the source of
truth for "what changed" is the commit LOG, a driver-readable metadata
structure — offsets are commit versions, and each micro-batch's data is
a full DataFrame plan (``changes()`` is a bucket-pruned outer join that
must run as Spark jobs, which a DataSource stream reader's executor-side
``read(partition)`` cannot launch). Structured Streaming's availableNow
file trigger has the same architecture internally: the driver lists
what is new, plans one batch per cap, records the offset after the
batch commits. The loop below is that exact protocol with the commit
version as the offset — Delta's own streaming source does the same
(reservoir version + index as the offset).

Exactly-once (state-level) argument, same shape as the streaming sinks'
"idempotent in state":

1. The cursor is persisted (atomic tmp+rename+fsync, like a streaming
   checkpoint offset file) only AFTER the batch's target commits land.
2. A crash anywhere therefore replays a suffix of version intervals.
3. Replay converges: ``changes(cur, upto)`` over committed versions is
   deterministic, the caller's transform must be deterministic and
   key-preserving (documented contract), and upsert/delete_keys are
   idempotent in STATE — re-applying the same rows yields the same
   stored table (possibly through extra no-op-in-state versions on the
   target, never duplicate or lost rows).

At 100 TB: each batch reads only the buckets its version interval
touched (``changes()``'s log-driven pruning), the upsert rewrites only
the buckets the transformed keys hash into, and the cursor/log
operations are O(commits) driver metadata — nothing scales with table
size except the actually-changed data.
"""

from __future__ import annotations

import json
import logging
import os
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lease import (
    DEFAULT_TIMEOUT_MIN,
    acquire_lease,
    release_lease,
    renew_lease,
)
from ..sinks.logtable import FeedTruncatedError, LogTable
from ..sinks.writers import audit_run

_LOG = logging.getLogger(__name__)


class LeaseLostError(RuntimeError):
    """The drain's lease heartbeat failed mid-drain: another process
    stole the lease after a missed renewal (holder presumed dead) or
    it was released out from under us. The drain stops BEFORE touching
    the next batch — everything applied so far is cursor-persisted and
    consistent; re-invoking resumes incrementally once the lease frees.
    """


class TransformContractError(RuntimeError):
    """The caller's transform violated the contract the drain loop's
    correctness rests on (deterministic, key-preserving 1:1 — see
    :func:`run_changefeed_transform`): it dropped rows, emitted
    duplicate keys, or rewrote key values. Without the per-batch
    certification this corrupts the target SILENTLY (a dropped key
    never updates again; a rewritten key strands the old row forever,
    because deletes propagate by original key); with it, the batch
    fails loudly BEFORE any target commit, so the table is untouched
    and the cursor unmoved."""


def _certify_batch(out: DataFrame, inp: DataFrame, key: str, n_in: int) -> None:
    """Per-batch transform-contract certification (VERDICT r6 #4):
    count-in == count-out, output keys unique, and output keys ⊆ input
    keys (with the first two, that makes the key SETS equal — the feed
    guarantees input keys are already unique per batch). Two small jobs
    over the already-cached batch — O(batch), never O(table). Same
    spirit as ``LogTable.certify_unique``: cheap invariant checks where
    a violation would otherwise surface as silent corruption."""
    row = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(key)).alias("d"),
    ).collect()[0]
    if row["n"] != n_in:
        raise TransformContractError(
            f"transform must be 1:1 per batch: {n_in} row(s) in, "
            f"{row['n']} out — a filtering/exploding transform breaks "
            "crash-replay convergence and delete propagation"
        )
    if row["d"] != row["n"]:
        raise TransformContractError(
            f"transform output repeats keys: {row['n']} row(s) but "
            f"{row['d']} distinct {key!r}"
        )
    remapped = (
        out.select(key)
        .join(inp.select(key), on=key, how="left_anti")
        .limit(1)
        .collect()
    )
    if remapped:
        raise TransformContractError(
            f"transform rewrote key values: output {key}="
            f"{remapped[0][key]!r} was not in the input batch — deletes "
            "propagate by ORIGINAL key, so remapped rows would strand"
        )


def read_cursor(cursor_path: str) -> int:
    """Last fully-applied source version; -1 when never run."""
    try:
        with open(cursor_path) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        return -1


def write_cursor(cursor_path: str, version: int, extra: dict | None = None) -> None:
    """Atomically persist the cursor (tmp + fsync + rename + dir fsync —
    the same durability discipline as the commit protocols: a cursor
    that says "applied through v" must never survive a crash that the
    application of v itself did not)."""
    os.makedirs(os.path.dirname(cursor_path) or ".", exist_ok=True)
    payload = {"version": version, **(extra or {})}
    tmp = f"{cursor_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, cursor_path)
    dfd = os.open(os.path.dirname(cursor_path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def run_changefeed_transform(
    spark: SparkSession,
    source: LogTable,
    target: LogTable,
    cursor_path: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    max_versions_per_batch: int | None = None,
    sink: str = "upsert",
    maintenance_every: int | None = None,
    compact_min_delta: float = 0.25,
    after_apply: Callable[[int, int], None] | None = None,
    on_truncated: str = "error",
    certify_transform: bool = True,
    lease_path: str | None = None,
    lease_timeout_min: int = DEFAULT_TIMEOUT_MIN,
    audit_dir: str | None = None,
    rebootstrap_saturation: float | None = None,
) -> dict:
    """Drain the source table's change feed into the target table
    (availableNow-style: consume up to the source version observed at
    each loop head, in ``max_versions_per_batch``-capped micro-batches,
    then stop). Re-invoke on a cadence — or under the O1 scheduled
    trigger — to keep the derived table current; the persisted cursor
    makes every invocation incremental.

    - ``transform``: DataFrame → DataFrame over the non-delete feed
      rows (``change`` column already dropped). MUST be deterministic
      and key-preserving 1:1 (each input key appears exactly once in
      the output, unchanged) — that is what makes crash-replay
      convergent and lets deletes propagate by key; the key-preserving
      half is CERTIFIED per batch by default (``certify_transform``)
      so a violation fails loudly instead of corrupting silently.
      ``None`` = identity (pure replication).
    - ``sink="upsert"``: eager per-batch MERGE semantics on the target
      (stored table always one-row-per-key, merge-free reads).
      ``sink="deferred"``: ``upsert_deferred`` delta appends — commit
      cost = batch size regardless of target size; pair with
      ``maintenance_every`` exactly as in streaming/pipeline.py (the
      recommended tier for write-heavy feeds, SCALE.md §2b).
    - Deletes in the feed propagate as ``target.delete_keys`` on the
      same batch, after the upsert — within a batch the feed holds at
      most one change row per key, so the two commits never touch the
      same key.
    - ``after_apply(upto, target_version)``: test seam, called after a
      batch's target commits but BEFORE its cursor persist — the widest
      crash-replay window; raising here simulates the kill.
    - ``on_truncated``: what to do when the cursor has fallen behind
      the source's ``vacuum`` retention window (the diff is no longer
      computable — the Cosmos continuation-token-expired analog).
      ``"error"`` (default) propagates the typed
      :class:`~..sinks.logtable.FeedTruncatedError`;
      ``"rebootstrap"`` reconciles automatically: upsert the CURRENT
      snapshot (through the transform) and delete target keys absent
      from it, then jump the cursor to the snapshot's version — the
      same net state a never-truncated drain would have reached.
    - ``certify_transform`` (default on): certify each batch's
      transform output against the 1:1 key-preserving contract before
      any target commit (:func:`_certify_batch`) — a violating
      transform fails loudly instead of converging wrong. Two
      O(batch) jobs per batch; disable only for audited transforms on
      latency-critical feeds.
    - ``lease_path``: when set, the whole drain runs under the O3
      distributed lease (``operators/lease.py``) — the reference
      serializes its change-feed consumer through the lease container
      the same way (EtlProcess.cs:184-185). A second process invoking
      concurrently returns immediately with ``lease_skipped=True``
      instead of interleaving version intervals with the holder.
      The drain HEARTBEATS the lease at each loop head and between
      the stages of a truncation reconcile
      (:func:`~..operators.lease.renew_lease`), so
      ``lease_timeout_min`` need only outlive the worst-case single
      batch (or reconcile stage), not the whole drain; a holder that truly dies stops
      renewing and its lease is stolen after the timeout (the
      reference's recovery rule). A lost heartbeat raises
      :class:`LeaseLostError` BEFORE the next batch — applied batches
      are cursor-persisted, so a later invocation resumes cleanly.

    - ``audit_dir``: when set, every drain that actually RAN appends
      one run-audit row there (the reference appends an
      ``OrchestrationRun`` per run — duration, success, worker, info —
      EtlProcess.cs:120-130, OrchestrationRun.cs:7-18; batch ETL's
      etl.py does the same for EP1). The row's ``additional_info`` is
      the stats dict as JSON plus the failure message on the
      compensation path — a failed or lease-lost drain records
      ``succeeded=false`` WITH the progress it durably applied before
      stopping (stats mutate per batch, so the audit never
      under-reports cursor-persisted work). A ``lease_skipped``
      invocation writes no row, mirroring the reference's skip path
      (:98-102 returns before any audit; the lease state file itself
      records the live holder).

    - ``rebootstrap_saturation``: SCALE.md §2b's operational rule,
      wired in (VERDICT r9 #1). When set, each drain loop head prices
      the WHOLE remaining backlog ``(cursor, latest]`` with the
      source's log-only :meth:`~..sinks.logtable.LogTable.
      feed_interval_stats` estimate of what the snapshot diff reads;
      a ``net_change_ratio`` at or above this threshold means serving
      the feed reads about as much as re-deriving the target from the
      CURRENT snapshot, so the drain takes the snapshot-reconcile path
      (the same final-state-identical routine as truncation recovery,
      jumping ``upto`` to latest past any batch cap) instead.
      Calibration: a full diff reads every bucket at both ends and
      prices at (lo + hi) / hi rows, so ``2.0`` fires only when the
      whole table is read and did not grow over the backlog. The
      ``etl_changefeed`` benchmark's cycles insert rows, so the gate
      would not fire there even if it were turned on. Measured with
      ``tools/stream_probe.py --gate-only`` (``changefeed_gate_vs_diff``:
      a 64-bucket source whose backlog is one ``upsert_deferred`` plus
      a ``compact``, so the diff reads the whole table; eager target;
      local[4] on 4 vCPUs; 5 alternating pairs per round, equal final
      states), the gate does not beat that diff: 5,000 docs with 60
      changed drain in 2.73 s gated vs 2.74 s through the diff
      (medians, gate won 3 of 5), and 50,000 docs with 500 changed in
      3.46 s vs 3.20 s and 3.19 s vs 2.94 s over two rounds (won 0 and
      1 of 5). Both paths rewrite the whole target; the gate trades
      the diff's two-snapshot join for one snapshot read plus an
      anti-join for stale keys. The estimate is one log walk per loop
      head, no Spark job. ``None`` (default) disables the gate. The
      choice is recorded: ``stats["saturation_rebootstraps"]`` counts
      gated batches and ``stats["last_feed_info"]`` records tier
      ``"snapshot_rebootstrap"`` with the triggering estimate. The
      gate composes with ``on_truncated="error"``: a backlog the
      estimate flags as saturated reconciles without the feed ever
      being requested, even if it is also vacuum-truncated — setting
      the threshold is itself an explicit opt-in to snapshot
      reconciliation (the truncation is still reported, see
      ``fallback_reason``). A truncated backlog the estimate does NOT
      flag still surfaces per ``on_truncated``.

    Returns ``{"batches", "rows_upserted", "rows_deleted",
    "from_version", "to_version", "lease_skipped", "rebootstrapped",
    "saturation_rebootstraps", "last_feed_info"}`` —
    ``last_feed_info`` is the drain's telemetry for its final batch
    (tier, interval and the source's ``feed_interval_stats`` price —
    VERDICT r9 #5), so the saturation signal is visible in the drain
    stats and audit row even when the gate is off.
    """
    if sink not in ("upsert", "deferred"):
        raise ValueError(f"unknown sink mode: {sink!r}")
    if on_truncated not in ("error", "rebootstrap"):
        raise ValueError(f"unknown on_truncated mode: {on_truncated!r}")
    if max_versions_per_batch is not None and max_versions_per_batch < 1:
        raise ValueError("max_versions_per_batch must be >= 1")
    if source.key != target.key:
        # Deletes propagate BY KEY COLUMN NAME; a differently-keyed
        # target would bucket them under the wrong mapping. A renaming
        # transform cannot fix this (deletes bypass the transform).
        raise ValueError(
            f"source key {source.key!r} != target key {target.key!r}"
        )
    if rebootstrap_saturation is not None and rebootstrap_saturation <= 0:
        raise ValueError("rebootstrap_saturation must be > 0")
    stats = {
        "batches": 0,
        "rows_upserted": 0,
        "rows_deleted": 0,
        "from_version": read_cursor(cursor_path),
        "to_version": read_cursor(cursor_path),
        "lease_skipped": False,
        "rebootstrapped": False,
        "saturation_rebootstraps": 0,
        "last_feed_info": None,
    }
    start = datetime.now()
    audit_ctx = {"worker": f"changefeed-{os.getpid()}", "forced": False}

    def _audit(succeeded: bool, error: Exception | None = None) -> None:
        if audit_dir is None:
            return
        info = dict(stats)
        info["error"] = (
            None if error is None else f"{type(error).__name__}: {error}"
        )
        audit_run(
            spark, audit_dir, start, datetime.now(), succeeded,
            json.dumps(info), forced_lease=audit_ctx["forced"],
            worker=audit_ctx["worker"],
        )

    def _audited_drain(renew=None) -> dict:
        try:
            result = _drain(
                source, target, cursor_path, transform,
                max_versions_per_batch, sink, maintenance_every,
                compact_min_delta, after_apply, on_truncated,
                certify_transform, stats, renew=renew,
                rebootstrap_saturation=rebootstrap_saturation,
            )
        except Exception as exc:  # compensation path, EtlProcess.cs:79-85
            _audit(False, exc)
            raise
        _audit(True)
        return result

    if lease_path is None:
        return _audited_drain()
    handle = acquire_lease(
        lease_path,
        worker=audit_ctx["worker"],
        timeout_min=lease_timeout_min,
    )
    if not handle:
        stats["lease_skipped"] = True
        return stats
    audit_ctx["forced"] = handle.forced
    # Per-batch heartbeat: renewing at each loop head means the lease
    # timeout must outlive one BATCH, not the whole drain — a large
    # backlog no longer risks a mid-drain steal, while a holder that
    # truly dies still frees the lease after timeout_min of silence.
    state = {"handle": handle}

    def renew() -> bool:
        h = renew_lease(
            lease_path,
            state["handle"].worker,
            state["handle"].start_time,
        )
        if h:
            state["handle"] = h
        return bool(h)

    try:
        return _audited_drain(renew=renew)
    finally:
        release_lease(
            lease_path,
            state["handle"].worker,
            start_time=state["handle"].start_time,
        )


def _drain(
    source: LogTable,
    target: LogTable,
    cursor_path: str,
    transform,
    max_versions_per_batch,
    sink,
    maintenance_every,
    compact_min_delta,
    after_apply,
    on_truncated,
    certify_transform,
    stats,
    renew=None,
    rebootstrap_saturation=None,
) -> dict:
    key = source.key
    n_batches = 0
    while True:
        cur = read_cursor(cursor_path)
        latest = source.version()
        if latest <= cur:
            break
        if renew is not None and not renew():
            raise LeaseLostError(
                "changefeed drain lease lost before the next batch — "
                "another process holds it now; applied batches are "
                "cursor-persisted, re-invoke to resume"
            )
        upto = (
            min(latest, cur + max_versions_per_batch)
            if max_versions_per_batch is not None
            else latest
        )
        # Saturation gate (VERDICT r9 #1 / SCALE.md §2b): price the
        # WHOLE remaining backlog — not just this batch's capped slice,
        # since the decision is "catch up incrementally vs re-derive
        # once" — from the log alone; a backlog whose diff would read
        # ~the whole table at both ends is reconciled from one read of
        # the current snapshot instead. Bootstrap (cur < 0) is already
        # a snapshot read and skips the estimate.
        saturated = None
        if rebootstrap_saturation is not None and cur >= 0:
            est = source.feed_interval_stats(cur, latest)
            if est["net_change_ratio"] >= rebootstrap_saturation:
                saturated = est
        feed = None
        truncated: FeedTruncatedError | None = None
        if saturated is not None:
            pass  # reconcile below; no feed attempt for this interval
        elif cur < 0:
            # Bootstrap batch: the feed "from the beginning" is the
            # whole snapshot as inserts (Delta CDF's startingVersion=0
            # convention). snapshot() raises when nothing is live at
            # that version (e.g. created-then-all-deleted) — an empty
            # feed, not an error, for a consumer. A capped bootstrap at
            # an already-vacuumed OLD version is the same truncation
            # case as a lagging cursor — snapshot()'s own up-front
            # check surfaces it typed before any Spark job.
            try:
                base = source.snapshot(version=upto)
                feed = base.select(
                    F.lit("insert").alias("change"), *base.columns
                )
            except FeedTruncatedError as e:
                truncated = e
            except ValueError as e:
                # Narrow catch (ADVICE r6): ONLY the documented
                # "nothing live at that version" is an empty feed.
                # Any other ValueError must propagate before the
                # cursor advance below silently skips the interval.
                if not str(e).startswith("no data at version"):
                    raise
        else:
            try:
                feed = source.changes(cur, upto)
                # Saturation telemetry passthrough (VERDICT r9 #5): the
                # drain's stats/audit row carry the source's interval
                # price for the final batch, so an operator sees how
                # close the feed runs to the re-bootstrap threshold
                # without querying the source handle.
                info = getattr(source, "last_feed_info", None)
                if info:
                    stats["last_feed_info"] = dict(info)
            except FeedTruncatedError as e:
                truncated = e
            except ValueError as e:
                # Narrow catch (ADVICE r6): only the documented
                # "interval is empty of units on both sides" means an
                # empty feed; anything else propagates unskipped.
                if str(e) != "both versions are empty":
                    raise
                # ADVICE r10: a no-op final iteration must not leave a
                # PREVIOUS batch's telemetry posing as this interval's
                # in the audit row — stamp the empty serve explicitly,
                # with the estimator's price of the interval.
                stats["last_feed_info"] = _feed_info(
                    "empty", cur, upto, None,
                    source.feed_interval_stats(cur, upto),
                )
        if saturated is not None:
            # Same final-state-identical routine as truncation
            # recovery: target := transform(snapshot(latest)) including
            # deletes, cursor jumps past any batch cap (one reconcile
            # beats N snapshot-priced batches).
            #
            # Retention-lag observability (ADVICE r10): the reconcile
            # reads only the CURRENT snapshot, so it silently covers an
            # interval the feed itself could not have served — under
            # on_truncated="error" that would have raised, and the
            # retention-misconfiguration alert the error mode exists
            # for would vanish. Check the feed's own truncation guards
            # (driver stat calls, no Spark job) and keep the lag
            # visible in the log and the audit row's fallback_reason.
            vacuumed = source.feed_truncation_missing(cur, latest)
            sat_reason = None
            if vacuumed:
                sat_reason = (
                    f"saturated interval ({cur}, {latest}] is also "
                    f"truncated ({len(vacuumed)} vacuumed units, e.g. "
                    f"{vacuumed[0]}): reconciled from snapshot — check "
                    "retention vs consumer lag"
                )
                _LOG.warning("changefeed drain at %s: %s", cursor_path,
                             sat_reason)
            upto = latest
            n_ups, n_dels = _reconcile_snapshot(
                source, target, transform, certify_transform, sink,
                key, latest, renew=renew,
            )
            stats["rows_upserted"] += n_ups
            stats["rows_deleted"] += n_dels
            stats["rebootstrapped"] = True
            stats["saturation_rebootstraps"] += 1
            stats["last_feed_info"] = _feed_info(
                "snapshot_rebootstrap", cur, latest, sat_reason, saturated
            )
            n_batches += 1
            stats["batches"] = n_batches
        elif truncated is not None:
            if on_truncated != "rebootstrap":
                raise truncated
            # Reconcile at the CURRENT version: the missed interval is
            # gone, so the only reachable correct state is "target =
            # transform(snapshot(latest))" including removals.
            upto = latest
            n_ups, n_dels = _reconcile_snapshot(
                source, target, transform, certify_transform, sink,
                key, latest, renew=renew,
            )
            stats["rows_upserted"] += n_ups
            stats["rows_deleted"] += n_dels
            stats["rebootstrapped"] = True
            # Same telemetry shape as the saturation branch — including
            # the interval estimate keys every other path carries (the
            # estimate is log-only, so it works on the truncated
            # interval the feed itself could not serve). cur < 0 = a
            # truncated capped BOOTSTRAP: there is no interval to price
            # (version -1 does not exist), so the keys read None.
            est = source.feed_interval_stats(max(cur, 0), latest)
            if cur < 0:
                est = dict.fromkeys(est)
            stats["last_feed_info"] = _feed_info(
                "snapshot_rebootstrap", cur, latest, str(truncated), est
            )
            n_batches += 1
            stats["batches"] = n_batches
        elif feed is not None:
            # One materialization serves the change-count probe and the
            # two target commits (the feed is a bucket-pruned join —
            # cheap, but not free three times). try/finally (ADVICE r7):
            # TransformContractError / a failed target commit must not
            # leak the cached feed for the session — the same discipline
            # as the inner out.cache().
            feed = feed.cache()
            try:
                counts = {
                    r["change"]: r["n"]
                    for r in feed.groupBy("change")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                n_ups = counts.get("insert", 0) + counts.get("update", 0)
                n_dels = counts.get("delete", 0)
                if n_ups:
                    ups = feed.filter(
                        F.col("change") != "delete"
                    ).drop("change")
                    out = transform(ups) if transform is not None else ups
                    certify = certify_transform and transform is not None
                    if certify:
                        # certification + the sink commit both consume
                        # the transformed batch — cache it once
                        out = out.cache()
                    try:
                        if certify:
                            _certify_batch(out, ups, key, n_ups)
                        if target.version() < 0:
                            target.create(out)
                        elif sink == "deferred":
                            target.upsert_deferred(out)
                        else:
                            target.upsert(out)
                    finally:
                        if certify:
                            out.unpersist()
                if n_dels:
                    target.delete_keys(
                        feed.filter(F.col("change") == "delete").select(key)
                    )
            finally:
                feed.unpersist()
            stats["rows_upserted"] += n_ups
            stats["rows_deleted"] += n_dels
            n_batches += 1
            stats["batches"] = n_batches
        # Maintenance covers BOTH batch kinds — a truncation reconcile
        # is the single largest write-amplification event the drain can
        # produce (full-snapshot upsert + bulk deletes), exactly when
        # compaction is most needed.
        if (
            (saturated is not None or truncated is not None or feed is not None)
            and maintenance_every
            and n_batches % maintenance_every == 0
            and target.version() >= 0
            # guard: a drained interval can be all no-ops (e.g. a
            # compact-only window), leaving the target still empty
        ):
            if target.delta_fraction() >= compact_min_delta:
                target.compact()
            target.checkpoint_log()
        if after_apply is not None:
            after_apply(upto, target.version())
        write_cursor(
            cursor_path, upto, extra={"target_version": target.version()}
        )
        stats["to_version"] = upto
    return stats


def _feed_info(tier: str, cur: int, upto: int, reason, est: dict) -> dict:
    """One ``last_feed_info`` schema for every drain path: the same
    keys ``LogTable.changes`` records for a diff serve, with the
    interval's ``feed_interval_stats`` price spread in."""
    return {
        "tier": tier, "from": cur, "to": upto, "fallback_reason": reason,
        **est,
    }


def _renew_or_die(renew) -> None:
    """Heartbeat checkpoint between reconcile stages: the reconcile is
    an unbounded O(table) operation, so relying on the loop-head renew
    alone would let a lease sized for BATCHES expire mid-reconcile and
    admit a concurrent drainer. Raising here is safe — the cursor has
    not advanced, and every applied sub-step is idempotent in state."""
    if renew is not None and not renew():
        raise LeaseLostError(
            "changefeed lease lost during truncation reconcile — "
            "another process holds it now; re-invoke to resume (the "
            "reconcile replays idempotently)"
        )


def _reconcile_snapshot(
    source: LogTable,
    target: LogTable,
    transform,
    certify_transform: bool,
    sink: str,
    key: str,
    version: int,
    renew=None,
) -> tuple[int, int]:
    """Re-bootstrap after feed truncation: make the target equal to
    ``transform(source.snapshot(version))``, INCLUDING deleting target
    keys absent from the snapshot (a key deleted during the missed
    interval would otherwise survive forever — plain
    snapshot-as-inserts is only correct for an empty target). Cost is
    one full-snapshot upsert plus one key anti-join — the price of
    having lagged past retention, paid once; the next drains are
    incremental again. The lease heartbeat fires between stages
    (:func:`_renew_or_die`), and the table-sized scans are cached
    across their double consumption (count + commit), mirroring the
    normal branch's ``feed.cache()``."""
    try:
        base = source.snapshot(version=version)
    except ValueError as e:
        if not str(e).startswith("no data at version"):
            raise
        base = None
    if base is None:
        # Source is empty at the reconcile point: target must end empty.
        if target.version() < 0:
            return 0, 0
        try:
            stale = target.snapshot().select(key)
        except ValueError:
            return 0, 0  # target already empty
        stale = stale.cache()
        try:
            n_stale = stale.count()
            if n_stale:
                target.delete_keys(stale)
        finally:
            stale.unpersist()
        return 0, n_stale
    out = transform(base) if transform is not None else base
    out = out.cache()
    try:
        if certify_transform and transform is not None:
            base = base.cache()
            try:
                n_out = base.count()
                _certify_batch(out, base, key, n_out)
            finally:
                base.unpersist()
        else:
            n_out = out.count()
        _renew_or_die(renew)
        if target.version() < 0:
            target.create(out)
            return n_out, 0
        if sink == "deferred":
            target.upsert_deferred(out)
        else:
            target.upsert(out)
        _renew_or_die(renew)
        stale = (
            target.snapshot()
            .select(key)
            .join(out.select(key), on=key, how="left_anti")
        ).cache()
        try:
            n_stale = stale.count()
            if n_stale:
                target.delete_keys(stale)
        finally:
            stale.unpersist()
        return n_out, n_stale
    finally:
        out.unpersist()
