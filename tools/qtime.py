"""Isolated per-query timing: noop-sink runs + per-run vCPU-steal tag.

Usage: python tools/qtime.py [-n RUNS] <query> [query ...]

The optimization loop's inner tool: time a hand-picked query subset,
change one thing, re-time. Methodology matches bench.py (shared warm
session, warmup pass, noop sink, perf_counter) and so does the
contamination signal: each run is bracketed by bench.py's /proc/stat
reader and counts as clean when its steal share is within
bench.STEAL_SHARE_MAX. On this multi-tenant host co-tenant bursts
inflate runs 1.3-2.5x through quiet loadavg windows (BASELINE.md), so
an A/B comparison is only meaningful over steal-clean runs. Prints one
JSON line per query with all runs, their steal shares, and the clean
median. A query's runs go back to back and no anchor rule applies:
the cross-round artifact stays bench.py.

For example, the IVF/semantic serving family with enough runs per
query to settle a ~0.1 s question:

    python tools/qtime.py -n 9 similarity_ivf_prod similarity_ivf dedup_semantic
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from durable_functions_cosmosdb_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n_runs = 5
    if args and args[0] == "-n":
        n_runs = int(args[1])
        args = args[2:]
    names = args or (bench.HEADLINE + bench.HEADLINE_EXT)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    from durable_functions_cosmosdb_etl_spark.plans import registry

    qs = {**registry.EXTRA_QUERIES, **entrymod.queries()}
    for name in names:
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        ts: list[float] = []
        shares: list[float] = []
        for i in range(n_runs + 1):  # first run = warmup, dropped
            c0 = bench._cpu_counters()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.perf_counter() - t0
            c1 = bench._cpu_counters()
            if i:
                ts.append(round(dt, 3))
                shares.append(bench._steal_share(c0, c1))
        clean = bench._clean_runs(ts, shares)
        print(
            json.dumps(
                {
                    "query": name,
                    "median_clean": (
                        round(statistics.median(clean), 3) if clean else None
                    ),
                    "n_clean": len(clean),
                    "runs": ts,
                    "steal_share": shares,
                    "loadavg": [round(x, 2) for x in os.getloadavg()],
                }
            )
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
