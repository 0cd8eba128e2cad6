"""The benchmark harness's tracer wraps package functions by name
(``perfbench/tracing.py``). A rename or deletion in the package would
break a traced benchmark run while every other test stays green; this
pins the names it looks up."""

from __future__ import annotations

from perfbench import tracing

from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
from durable_functions_cosmosdb_etl_spark.streaming import changefeed


def test_perfbench_tracer_wraps_live_names():
    assert tracing.WRAPPED_LOGTABLE and tracing.WRAPPED_CHANGEFEED
    missing = [n for n in tracing.WRAPPED_LOGTABLE if not hasattr(LogTable, n)]
    assert missing == [], f"LogTable lacks {missing}"
    missing = [
        n for n in tracing.WRAPPED_CHANGEFEED if not hasattr(changefeed, n)
    ]
    assert missing == [], f"streaming.changefeed lacks {missing}"
