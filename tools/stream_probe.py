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
run under $TMPDIR/stream_probe (default /tmp) and reused across
configurations; the work dir is removed on exit unless
SPARK_GRAFT_PROBE_KEEP=1.

Usage: python tools/stream_probe.py [--docs N] [--files K] [--gate-only]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
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

WORK = os.path.join(tempfile.gettempdir(), "stream_probe")


def _gate_vs_diff(spark, staging: str, docs: int, pairs: int = 5) -> None:
    """The saturation gate against the forced full diff — the
    measurement behind ``run_changefeed_transform(
    rebootstrap_saturation=)``'s docstring (``changefeed_gate_vs_diff``
    row). Each pair builds a fresh 64-bucket source from the staged
    docs, bootstraps two eager-sink targets at v0, then commits the
    backlog: one ``upsert_deferred`` of ~1% of the docs (at least 60)
    plus a ``compact``, so the diff reads the whole table at both
    ends. It then times one drain with ``rebootstrap_saturation=2.0``
    and one without, in alternating order, on fresh source handles.
    Both drains apply the ``etl_changefeed`` benchmark's silver
    transform (``name_upper``), and the two final states must hash
    equal (xor of row hashes)."""
    from pyspark.sql import functions as F

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        LogTable,
    )
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        run_changefeed_transform,
    )

    def name_upper(df):
        return df.withColumn("name_upper", F.upper(F.col("name")))

    def state(path: str):
        df = LogTable(spark, path, key="id").snapshot()
        return df.select(
            F.bit_xor(F.xxhash64(*sorted(df.columns)))
        ).first()[0]

    changed = max(60, docs // 100)
    base = f"{WORK}/gate"
    src_dir = f"{base}/src"
    secs: dict[str, list[float]] = {"gated": [], "diff": []}
    for pair in range(pairs):
        shutil.rmtree(base, ignore_errors=True)
        src = LogTable(spark, src_dir, key="id")
        src.create(spark.read.parquet(staging))                    # v0
        for mode in secs:
            run_changefeed_transform(
                spark, src, LogTable(spark, f"{base}/{mode}", key="id"),
                f"{base}/{mode}.cursor", transform=name_upper,
            )
        src.upsert_deferred(
            src.snapshot()
            .limit(changed)
            .withColumn("desc", F.concat(F.col("desc"), F.lit(" (edited)")))
        )                                                          # v1
        src.compact()                                              # v2
        order = ("gated", "diff") if pair % 2 == 0 else ("diff", "gated")
        for mode in order:
            t0 = time.perf_counter()
            st = run_changefeed_transform(
                spark,
                LogTable(spark, src_dir, key="id"),
                LogTable(spark, f"{base}/{mode}", key="id"),
                f"{base}/{mode}.cursor",
                transform=name_upper,
                rebootstrap_saturation=2.0 if mode == "gated" else None,
            )
            secs[mode].append(time.perf_counter() - t0)
            assert st["saturation_rebootstraps"] == (mode == "gated")
        assert state(f"{base}/gated") == state(f"{base}/diff")

    def median(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    print(
        json.dumps(
            {
                "config": "changefeed_gate_vs_diff",
                "docs": docs,
                "changed": changed,
                "pairs": pairs,
                "gated_sec": [round(x, 3) for x in secs["gated"]],
                "diff_sec": [round(x, 3) for x in secs["diff"]],
                "gated_median_sec": round(median(secs["gated"]), 3),
                "diff_median_sec": round(median(secs["diff"]), 3),
                "gate_won": sum(
                    g < d for g, d in zip(secs["gated"], secs["diff"])
                ),
            }
        ),
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument(
        "--gate-only",
        action="store_true",
        help="skip the streaming-sink + drain configs and run only the "
        "saturation gate vs forced full diff pairs",
    )
    args = ap.parse_args()

    spark = get_spark("stream-probe")
    spark.sparkContext.setLogLevel("ERROR")

    staging = f"{WORK}/staging_{args.docs}_{args.files}"
    if not os.path.isdir(staging):
        generate_sample_items(
            spark, count=args.docs, deterministic_ids=True
        ).repartition(args.files).write.mode("overwrite").parquet(staging)

    if args.gate_only:
        _gate_vs_diff(spark, staging, args.docs)
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

    _gate_vs_diff(spark, staging, args.docs)


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
