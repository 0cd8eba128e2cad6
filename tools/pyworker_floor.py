"""Per-task floor of a Python-worker stage in a warm session.

Usage: python tools/pyworker_floor.py [--cores N] [--runs R]

Runs two 1-row, 1-task stages in a warm ``local[N]`` session, each R
times after a warm-up:

- ``pandas_udf``: ``spark.range(1)`` through a scalar pandas UDF (Arrow
  batch to a pooled Python worker and back);
- ``jvm``: the same projection as a builtin expression.

For each it prints the median executor run time and executor CPU time
(the JVM thread's CPU) of the stage as one JSON line, read from the
status store by ``perfbench/tracing.py``'s ``Tracer.stage_metrics``.
Run time minus CPU time on the ``pandas_udf`` stage is the time the
task waits on the Python worker. The gap between the two stages' run times is the fixed
cost any stage pays for crossing into Python, independent of data size.

On PySpark 4.1 / Python 3.11 about 150 ms of that gap is
``importlib.invalidate_caches()``: the worker's
``worker_util.setup_spark_files`` calls it for every task, and each of
the worker's zipimporters then re-reads the directory of
``pyspark.zip``. Re-run this tool on a new host or PySpark version
before relying on the number.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from durable_functions_cosmosdb_etl_spark.session import get_spark  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)

    spark = get_spark(
        "pyworker_floor", master=f"local[{args.cores}]", shuffle_partitions=1
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark)  # only its stage counters and status-store reads

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    stages = {
        "pandas_udf": lambda: spark.range(1, numPartitions=1).select(
            plus_one("id")
        ),
        "jvm": lambda: spark.range(1, numPartitions=1).select(F.col("id") + 1),
    }
    out: dict = {"master": spark.sparkContext.master, "runs": args.runs}
    for name, build in stages.items():
        for _ in range(3):  # warm-up: worker spawn, imports, JIT
            build().collect()
        runs, cpus = [], []
        for _ in range(args.runs):
            first = tracer.counters()[1]
            build().collect()
            m = tracer.stage_metrics(first, tracer.counters()[1])
            runs.append(m["executor_run_s"])
            cpus.append(m["executor_cpu_s"])
        out[name] = {
            "executor_run_ms": round(statistics.median(runs) * 1e3, 1),
            "executor_cpu_ms": round(statistics.median(cpus) * 1e3, 1),
        }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
