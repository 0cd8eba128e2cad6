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
  - sink tier: eager logtable (transactional MERGE per batch) vs
    logtable_deferred (one delta unit per batch), without and with the
    in-loop maintenance cadence
  - change-feed tier: one deferred 1% mutation drained from its delta
    units (post-image) vs through the snapshot diff (``--feed-only``
    runs only these pairs)
  - the drain's sink: 30 bronze→silver cycles on the old eager default
    vs the deferred default with its gated compaction
    (``medallion_cycles``)

Prints one JSON line per configuration. Staging data is built once per
run under $TMPDIR/stream_probe (default /tmp) and reused across
configurations; the work dir is removed on exit unless
SPARK_GRAFT_PROBE_KEEP=1.

Usage: python tools/stream_probe.py [--docs N] [--files K] [--feed-only]
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


def _post_image_vs_diff(
    spark, staging: str, docs: int, pairs: int = 5
) -> None:
    """The drain's two feed tiers on one deferred interval
    (``changefeed_post_image_vs_diff`` row, SCALE.md §2b). Each pair
    builds a fresh 64-bucket source from the staged docs, bootstraps
    two eager-sink targets at v0, then commits one ``upsert_deferred``
    of 1% of the docs (at least 60), spread uniformly over the keys.
    It times one drain per tier, in alternating order, on fresh source
    handles: the default drain serves the interval from its delta units
    (``post_images``); the other handle's ``post_images`` is stubbed to
    decline, so its drain takes the snapshot diff. Both drains apply the
    ``etl_changefeed`` benchmark's silver transform (``name_upper``),
    and the two final states must hash equal (xor of row hashes)."""
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
    # the targets stay on the eager sink, so the row compares the feed
    # tiers alone and keeps its recorded numbers comparable
    eager = {"sink": "upsert", "maintenance_every": None}
    base = f"{WORK}/feed"
    src_dir = f"{base}/src"
    secs: dict[str, list[float]] = {"post_image": [], "diff": []}
    for pair in range(pairs):
        shutil.rmtree(base, ignore_errors=True)
        src = LogTable(spark, src_dir, key="id")
        src.create(spark.read.parquet(staging))                    # v0
        for mode in secs:
            run_changefeed_transform(
                spark, src, LogTable(spark, f"{base}/{mode}", key="id"),
                f"{base}/{mode}.cursor", transform=name_upper,
                **eager,
            )
        src.upsert_deferred(
            src.snapshot()
            .orderBy(F.xxhash64("id"))
            .limit(changed)
            .withColumn("desc", F.concat(F.col("desc"), F.lit(" (edited)")))
        )                                                          # v1
        order = secs if pair % 2 == 0 else reversed(list(secs))
        for mode in order:
            handle = LogTable(spark, src_dir, key="id")
            if mode == "diff":
                handle.post_images = lambda *a, **k: None
            t0 = time.perf_counter()
            st = run_changefeed_transform(
                spark,
                handle,
                LogTable(spark, f"{base}/{mode}", key="id"),
                f"{base}/{mode}.cursor",
                transform=name_upper,
                **eager,
            )
            secs[mode].append(time.perf_counter() - t0)
            assert st["last_feed_info"]["tier"] == mode
            assert st["rows_upserted"] == changed
        assert state(f"{base}/post_image") == state(f"{base}/diff")

    def median(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    print(
        json.dumps(
            {
                "config": "changefeed_post_image_vs_diff",
                "docs": docs,
                "changed": changed,
                "pairs": pairs,
                "post_image_sec": [round(x, 3) for x in secs["post_image"]],
                "diff_sec": [round(x, 3) for x in secs["diff"]],
                "post_image_median_sec": round(
                    median(secs["post_image"]), 3
                ),
                "diff_median_sec": round(median(secs["diff"]), 3),
                "post_image_won": sum(
                    p < d for p, d in zip(secs["post_image"], secs["diff"])
                ),
            }
        ),
        flush=True,
    )


def _medallion_cycles(spark, docs: int, cycles: int = 30) -> None:
    """Bronze→silver cycles on the drain's old and new sink defaults
    (``medallion_cycles`` row, SCALE.md §2b). Each default gets its own
    chain over one shared staging dir: a ``docs``-row backlog file,
    then one file per cycle updating 1% of the backlog keys and adding
    0.2% new ones (the ``etl_changefeed`` benchmark's cycle, scaled
    with ``docs``). A cycle is the bronze ingest (deferred, delta-gated
    maintenance every batch at 2%, as the benchmark runs it) plus the
    silver drain (``name_upper`` transform): ``sink="upsert"`` with no
    maintenance, the old default, against the defaults
    (``sink="deferred"``, maintenance every batch, compaction at 25%
    delta rows). The two chains alternate which runs first. The
    per-cycle means and maxima include every silver compaction the
    gate fires. ``*_silver_paths_per_cycle`` counts the dirs and files
    (checksum files included) silver gained per cycle: each is one
    create call on the store. The two silvers' content columns must
    hash equal at the end."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        LogTable,
    )
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        run_changefeed_transform,
    )

    def name_upper(df):
        return df.withColumn("name_upper", F.upper(F.col("name")))

    def state(t: LogTable):
        # content columns only: the bronze transform also stamps its
        # run's time and batch, which differ between the two chains
        return t.snapshot().select(
            F.bit_xor(F.xxhash64(
                "id", "source_date", "description", "done", "name", "pr",
                "update_location", "name_upper",
            ))
        ).first()[0]

    base = f"{WORK}/medallion"
    staging = f"{base}/staging"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(staging)
    backlog = generate_sample_items(
        spark, count=docs, deterministic_ids=True
    ).toArrow()
    pq.write_table(backlog, f"{staging}/b.parquet")
    rng = np.random.default_rng(0)
    sinks = {
        "old": {"sink": "upsert", "maintenance_every": None},
        "new": {},
    }
    tables = {
        mode: {
            tier: LogTable(spark, f"{base}/{mode}/{tier}", key="id")
            for tier in ("bronze", "silver")
        }
        for mode in sinks
    }

    def cycle(mode: str) -> float:
        d = f"{base}/{mode}"
        t0 = time.perf_counter()
        run_incremental_transform(
            spark, staging, f"{d}/bronze", f"{d}/ckpt",
            sink="logtable_deferred", maintenance_every=1,
            compact_min_delta=0.02,
        )
        run_changefeed_transform(
            spark,
            tables[mode]["bronze"],
            tables[mode]["silver"],
            f"{d}/cursor.json",
            transform=name_upper,
            **sinks[mode],
        )
        return time.perf_counter() - t0

    def paths(mode: str) -> int:
        return sum(
            len(dirs) + len(files)
            for _d, dirs, files in os.walk(f"{base}/{mode}/silver")
        )

    for mode in sinks:
        cycle(mode)  # bootstrap, untimed
    paths0 = {mode: paths(mode) for mode in sinks}
    secs: dict[str, list[float]] = {mode: [] for mode in sinks}
    for c in range(cycles):
        ups = backlog.take(
            rng.choice(docs, max(1, docs // 100), replace=False)
        )
        ups = ups.set_column(
            ups.schema.get_field_index("desc"),
            "desc",
            pc.binary_join_element_wise(ups["desc"], f" (c{c})", ""),
        )
        new = backlog.take(
            rng.choice(docs, max(1, docs // 500), replace=False)
        )
        new = new.set_column(
            new.schema.get_field_index("id"),
            "id",
            pc.binary_join_element_wise(new["id"], f"-n{c}", ""),
        )
        pq.write_table(
            pa.concat_tables(
                [ups.cast(backlog.schema), new.cast(backlog.schema)]
            ),
            f"{staging}/m{c:04d}.parquet",
        )
        order = list(sinks) if c % 2 == 0 else list(reversed(sinks))
        for mode in order:
            secs[mode].append(cycle(mode))
    assert state(tables["old"]["silver"]) == state(tables["new"]["silver"])
    row = {"config": "medallion_cycles", "docs": docs, "cycles": cycles}
    for mode, xs in secs.items():
        row[f"{mode}_mean_cycle_sec"] = round(sum(xs) / len(xs), 3)
        row[f"{mode}_max_cycle_sec"] = round(max(xs), 3)
        row[f"{mode}_silver_compactions"] = sum(
            e["op"] == "compact" for e in tables[mode]["silver"].history()
        )
        row[f"{mode}_silver_paths_per_cycle"] = round(
            (paths(mode) - paths0[mode]) / cycles, 1
        )
    row["new_won"] = sum(n < o for n, o in zip(secs["new"], secs["old"]))
    print(json.dumps(row), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument(
        "--feed-only",
        action="store_true",
        help="skip the streaming-sink + drain configs and run only the "
        "post-image vs snapshot-diff drain pairs",
    )
    args = ap.parse_args()

    spark = get_spark("stream-probe")
    spark.sparkContext.setLogLevel("ERROR")

    staging = f"{WORK}/staging_{args.docs}_{args.files}"
    if not os.path.isdir(staging):
        generate_sample_items(
            spark, count=args.docs, deterministic_ids=True
        ).repartition(args.files).write.mode("overwrite").parquet(staging)

    if args.feed_only:
        _post_image_vs_diff(spark, staging, args.docs)
        return

    configs = [
        # (label, max_files_per_trigger, sink, maintenance_every)
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

    _medallion_cycles(spark, args.docs)
    _post_image_vs_diff(spark, staging, args.docs)


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
