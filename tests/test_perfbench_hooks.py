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


def test_perfbench_calls_bind_to_the_streaming_signatures():
    """``perfbench/run.py`` drives the ingest and the drain by keyword. A
    renamed parameter or sink mode would fail only in a benchmark run;
    this binds every call it makes against the live signatures."""
    import ast
    import inspect
    from pathlib import Path

    from durable_functions_cosmosdb_etl_spark.streaming import pipeline

    targets = {
        "run_incremental_transform": (
            pipeline.run_incremental_transform, pipeline.SINK_MODES
        ),
        "run_changefeed_transform": (
            changefeed.run_changefeed_transform, changefeed.SINK_MODES
        ),
    }
    src = Path(tracing.__file__).with_name("run.py").read_text()
    seen = set()
    for node in ast.walk(ast.parse(src)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in targets
        ):
            continue
        fn, modes = targets[node.func.id]
        assert not any(isinstance(a, ast.Starred) for a in node.args)
        assert all(k.arg is not None for k in node.keywords)
        kwargs = {k.arg: k.value for k in node.keywords}
        inspect.signature(fn).bind(*node.args, **kwargs)
        if "sink" in kwargs:
            assert isinstance(kwargs["sink"], ast.Constant)
            assert kwargs["sink"].value in modes, (
                node.func.id, kwargs["sink"].value
            )
        seen.add(node.func.id)
    assert seen == set(targets)
