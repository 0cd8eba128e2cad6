"""LogTable log-replay scaling probe.

The commit log grows one JSON entry per mutation forever (the log is
never vacuumed — it IS the table's history). Opening a snapshot replays
the log, so an old, busy table pays O(all commits) of driver-side JSON
parsing per open unless ``checkpoint_log()`` has materialized a live-set
checkpoint — then replay is O(commits since checkpoint), the Delta
``_last_checkpoint`` idea (sinks/logtable.py:checkpoint_log).

This probe measures that directly with REAL commits: it drives ~1k
eager single-bucket upserts into a small table, snapshotting the replay
(`_live_units`) and full snapshot-construction cost at power-of-two
commit counts, then writes one checkpoint and re-measures — plus a
time-travel open to a pre-checkpoint version (which must fall back to
full replay, by design).

Per-commit data is tiny on purpose: the quantity under test is the
driver-side log walk, which depends on COMMIT COUNT only, not on data
volume (each entry is a few hundred bytes of JSON regardless of unit
size). The Spark-side write cost of building the history is reported
but not the subject.

Prints one JSON line per measurement point. Work dir /tmp/logtable_probe
is removed on exit unless SPARK_GRAFT_PROBE_KEEP=1 (bench.py also
cleans leftovers before timing).

Usage: python tools/logtable_probe.py [--commits N] [--buckets B]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from durable_functions_cosmosdb_etl_spark.session import get_spark  # noqa: E402
from durable_functions_cosmosdb_etl_spark.sinks.logtable import (  # noqa: E402
    LogTable,
)

WORK = "/tmp/logtable_probe"


def _measure_open(t: LogTable, version=None, n: int = 5) -> dict:
    """Median driver-side replay time and full snapshot-construction
    time (plan build only) at a version, plus the Spark jobs one
    snapshot construction launched (median over the opens; 0 when the
    read is planned from the log alone)."""
    dag = t.spark.sparkContext._jsc.sc().dagScheduler()
    replay, build, jobs = [], [], []
    for _ in range(n):
        t0 = time.perf_counter()
        t._live_units(as_of=version)
        replay.append(time.perf_counter() - t0)
        j0 = dag.nextJobId()
        t0 = time.perf_counter()
        t.snapshot(version)
        build.append(time.perf_counter() - t0)
        jobs.append(dag.nextJobId() - j0)
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    return {
        "replay_ms": round(med(replay) * 1000, 2),
        "snapshot_build_ms": round(med(build) * 1000, 2),
        "snapshot_jobs": med(jobs),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--commits", type=int, default=1024)
    ap.add_argument("--buckets", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark("logtable-probe")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(WORK, f"t_{args.commits}_{args.buckets}")
    shutil.rmtree(path, ignore_errors=True)
    t = LogTable(spark, path, key="id", n_buckets=args.buckets)

    def batch(i: int):
        # 4 rows per commit, keys cycling over 64 so upserts rewrite a
        # steady set of buckets (live-unit count stays ~n_buckets while
        # the log grows without bound — the shape under test)
        rows = [(int((i * 4 + j) % 64), f"v{i}") for j in range(4)]
        return spark.createDataFrame(rows, "id long, val string")

    marks = {2**k for k in range(4, 11)} | {args.commits}
    t.create(batch(0))
    t_build0 = time.perf_counter()
    for i in range(1, args.commits):
        t.upsert(batch(i))
        if (i + 1) in marks:
            m = _measure_open(t)
            print(
                json.dumps(
                    {
                        "point": "no_checkpoint",
                        "commits": i + 1,
                        **m,
                        "build_wall_sec": round(
                            time.perf_counter() - t_build0, 1
                        ),
                    }
                ),
                flush=True,
            )

    final_v = t.version()
    cp_v = t.checkpoint_log()
    m = _measure_open(t)
    print(
        json.dumps(
            {"point": "after_checkpoint", "commits": final_v + 1, **m}
        ),
        flush=True,
    )
    # time travel BELOW the checkpoint: full replay fallback, priced
    m = _measure_open(t, version=final_v // 2)
    print(
        json.dumps(
            {
                "point": "time_travel_pre_checkpoint",
                "as_of": final_v // 2,
                "checkpoint_at": cp_v,
                **m,
            }
        ),
        flush=True,
    )
    # 64 more commits on top of the checkpoint: replay stays bounded
    for i in range(args.commits, args.commits + 64):
        t.upsert(batch(i))
    m = _measure_open(t)
    print(
        json.dumps(
            {
                "point": "checkpoint_plus_64",
                "commits": t.version() + 1,
                "since_checkpoint": t.version() - cp_v,
                **m,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    # Probe hygiene (VERDICT r6 #6): clean the work dir on every exit
    # path unless explicitly kept — stale probe data pollutes bench runs.
    try:
        main()
    finally:
        if not os.environ.get("SPARK_GRAFT_PROBE_KEEP"):
            shutil.rmtree(WORK, ignore_errors=True)
