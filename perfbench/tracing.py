"""Traced-run instrumentation, installed from outside the package.

A :class:`Tracer` keeps spans (name, start, end, parent, operation id)
in memory and writes them out once at the end of the run. Spans come
from two places:

- the benchmark's own calls into each layer (``tracer.span(...)``);
- wrappers that :meth:`Tracer.install` puts around the package's public
  functions: the ``LogTable`` methods and the lease and audit helpers
  where ``streaming/changefeed.py`` looks them up.

Per operation it also reads Spark's status store (stage metrics) and
the DAG scheduler's job and stage counters, so executor-side work can
be attributed to the operation that caused it. Nothing here edits a
package file; the untraced run installs none of it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Span name -> per-layer metric fed by its wall time and call count.
WRAPPED_LOGTABLE = {
    "create": "sinks.commit",
    "upsert": "sinks.commit",
    "upsert_deferred": "sinks.commit",
    "delete_keys": "sinks.commit",
    "compact": "sinks.compact",
    "checkpoint_log": "sinks.checkpoint_log",
    "version": "sinks.version",
    "snapshot": "sinks.snapshot",
    "changes": "sinks.changes",
    "feed_interval_stats": "sinks.feed_stats",
}
WRAPPED_CHANGEFEED = {
    "acquire_lease": "operators.lease",
    "renew_lease": "operators.lease",
    "release_lease": "operators.lease",
    "audit_run": "sinks.audit",
}

MB = 1024 * 1024


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._op: str | None = None
        self._lock = threading.Lock()
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jvm = spark._jvm
        self._empty_quantiles = spark.sparkContext._gateway.new_array(
            self._jvm.double, 0
        )
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            # foreachBatch callbacks run on a py4j thread while the main
            # thread blocks in awaitTermination: parent them under the
            # main thread's open span.
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "op": self._op,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        if threading.current_thread() is threading.main_thread():
            self._main_stack = stack
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    @contextmanager
    def operation(self, op_id: str, name: str):
        """Root span of one timed operation (a query or a cycle)."""
        self._op = op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._op = None

    def _wrap(self, owner, attr: str, span_name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
        from durable_functions_cosmosdb_etl_spark.streaming import changefeed

        for attr, name in WRAPPED_LOGTABLE.items():
            self._wrap(LogTable, attr, name)
        for attr, name in WRAPPED_CHANGEFEED.items():
            self._wrap(changefeed, attr, name)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- Spark counters ----------------------------------------------
    def counters(self) -> tuple[int, int]:
        """(next job id, next stage id) from the DAG scheduler."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def stage_metrics(self, first_stage: int, last_stage: int) -> dict:
        """Sum status-store stage metrics over stage ids [first, last)."""
        self._bus.waitUntilEmpty()
        out = defaultdict(float)
        for sid in range(first_stage, last_stage):
            try:
                seq = self._store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False,
                    self._empty_quantiles,
                )
            except Exception:  # evicted from the store or never submitted
                out["stages_missing"] += 1
                continue
            for i in range(seq.size()):
                s = seq.apply(i)
                if str(s.status()) == "SKIPPED":
                    continue
                run_s = s.executorRunTime() / 1e3
                cpu_s = s.executorCpuTime() / 1e9
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["executor_run_s"] += run_s
                out["executor_cpu_s"] += cpu_s
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
                out["python_gap_s"] += max(0.0, run_s - cpu_s)
                out["result_mb"] += s.resultSize() / MB
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                out["shuffle_read_mb"] += s.shuffleReadBytes() / MB
                out["input_records"] += s.inputRecords()
                if s.inputBytes() > 0:
                    out["input_mb"] += s.inputBytes() / MB
                    out["scan_stage_s"] += run_s
                if s.numTasks() == 1:
                    out["single_task_stage_s"] += run_s
        return dict(out)

    # -- reduction ---------------------------------------------------
    def self_times(self, op_id: str) -> dict[str, float]:
        """Self time per span name within one operation: each span's
        duration minus the time its direct children cover."""
        spans = [s for s in self.spans if s["op"] == op_id and s["end"] is not None]
        children = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = defaultdict(float)
        for s in spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def wall_and_calls(self, op_id: str) -> dict[str, tuple[float, int]]:
        """Total wall time and call count per span name in one operation."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            if s["op"] == op_id and s["end"] is not None:
                out[s["name"]][0] += s["end"] - s["start"]
                out[s["name"]][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
