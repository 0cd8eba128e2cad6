"""Benchmark: LLM-operator queries and the ETL change-feed loop, end to end.

Usage (from the repository root)::

    python3 perfbench/run.py --workload {llm_ops,etl_changefeed} \\
        --seed N --seconds S --trace {0,1}

One process runs one workload as a closed loop with a single client, on
``local[nproc]`` through the package's own ``session.get_spark``.

- ``llm_ops`` generates the ``documents``/``embeddings`` tables, runs an
  untimed pass that collects each query of the mix and compares its
  value hash with ``expected.json``, and two untimed warm-up passes,
  then timed passes (seeded order) through the registry callables and the
  noop sink.
- ``etl_changefeed`` stages a seeded SampleItem backlog, drains it into
  a bronze LogTable (deferred sink) and on into a silver LogTable
  through the change feed (the bootstrap), then runs timed cycles (stage
  one mutation file, ingest, drain), then compares silver's content with
  DuckDB's latest-per-key over the staged files.

Timed rounds (passes or cycles) run in groups of two until
``--seconds`` have passed. The last stdout line is the result object;
the line before it is a report with the run context and every metric
under its long name. ``--trace 1`` adds the per-layer metrics (see
``tracing.py``) and writes the spans to ``.perfbench/traces/``. See
``METRICS.md`` for the metric definitions.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "durable_functions_cosmosdb_etl_spark"
NPROC = len(os.sched_getaffinity(0))  # what ``nproc`` prints

# Four of the eleven llm_ops queries: eager build-time jobs and
# connected components, the gram self-join, the IVF codebook fit and
# serving, and the text path. The full set does not fit the time a run
# may take (see METRICS.md).
LLM_MIX = [
    "dedup_components",
    "dedup_substring",
    "similarity_ivf",
    "text_tfidf",
]

# The benchmark preset, and the smaller one the smoke test runs.
# Timed rounds run in groups of ``passes`` passes or ``cycles`` cycles
# until ``--seconds`` have passed. A pair of cycles holds one that
# compacts (see COMPACT_MIN_DELTA).
PRESETS = {
    "bench": {
        "tables": "sf0.01", "mix": LLM_MIX, "passes": 2, "backlog": 5_000, "cycles": 2,
    },
    "smoke": {
        "tables": "sf0.001",
        "mix": ["similarity_topk", "text_tfidf"],
        "passes": 2,
        "backlog": 1_000,
        "cycles": 2,
    },
}

# Every ETL ingest runs the package's maintenance after each micro-batch:
# ``checkpoint_log`` always, ``compact`` once the delta rows reach
# COMPACT_MIN_DELTA of the live rows. The bootstrap leaves none and a
# cycle adds 1.2%, so every second cycle compacts, and cycles run in
# pairs: each pair holds one cycle with compaction and one without.
COMPACT_MIN_DELTA = 0.02

# Layers that a traced round's self time is attributed to; what falls
# in none of them (the operation's own span, time outside any span)
# lowers ``trace.coverage``.
NAMED_LAYERS = ("inputs", "plans", "streaming", "sinks", "operators")

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s.p50": "s",
    "op_s.tail": "s",
    "throughput_per_s": "1/s",
}

MB = 1024 * 1024


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; with
    fewer than 21 samples no percentile above the median qualifies, so
    the maximum is reported and labelled as such."""
    xs = sorted(values)
    n = len(xs)
    if n >= 21:
        k = n - 11
        return xs[k], f"p{100 * (k + 1) / n:.1f} (n={n})"
    return xs[-1], f"max (n={n}, fewer than 21 samples)"


def du_mb(path: str) -> float:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total / MB


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def stop_jvm() -> None:
    """Stop the Spark JVM and wait for it to exit: it exits when its stdin
    closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"],
        capture_output=True, text=True, timeout=10, check=False,
    )
    return out.stdout.strip() or None


class Run:
    """State of one benchmark process: session, work dir, counters."""

    def __init__(self, args):
        self.args = args
        self.preset = PRESETS[args.preset]
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: dict = {}
        self.rounds: list[dict] = []  # per timed round: wall + layer sums
        self.op_s: list[float] = []
        self.tracer = None  # the active Tracer, only while rounds are traced
        self.traced = None  # the Tracer after the traced rounds, for its spans
        self.spark = None

    # -- lifecycle ----------------------------------------------------
    def start_session(self) -> float:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        from durable_functions_cosmosdb_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{NPROC}]",
            # One shuffle partition per core, as get_spark's default of 32
            # is for the 32-core host it was tuned on.
            shuffle_partitions=NPROC,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return start_s

    def install_tracer(self) -> None:
        from perfbench.tracing import Tracer

        self.tracer = Tracer(self.spark)
        self.tracer.install()

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def context(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {
            "nproc": NPROC,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "git_commit": git_commit(),
            "loadavg": load,
        }

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not found")

    def measure(self, one_round, group: int) -> float:
        """Run timed rounds in groups of ``group`` until ``--seconds``
        have passed; returns set-up time, the span from process start to
        the first timed round.

        ``one_round(label, timed)`` runs one pass or cycle and returns
        its wall time. A traced run runs one more warm-up round, then one
        group of untraced rounds, whose median is the base of the tracing
        overhead, before its traced rounds.
        """
        if self.args.trace:
            one_round("warmup-trace", False)
            self.notes["untraced_round_s"] = statistics.median(
                one_round(f"untraced{i}", False) for i in range(group)
            )
            self.install_tracer()
        setup_s = time.perf_counter() - T_PROCESS
        walls: list[float] = []
        while not walls or len(walls) % group or sum(walls) < self.args.seconds:
            walls.append(one_round(f"r{len(walls)}", True))
        self.notes["timed_rounds"] = len(walls)
        self.notes["round_s"] = walls
        if self.args.trace:
            self.tracer.uninstall()
            self.traced, self.tracer = self.tracer, None
        return setup_s

    # -- tracing helpers -----------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def op(self, op_id: str, name: str):
        return self.tracer.operation(op_id, name) if self.tracer else nullcontext()

    def layer_sums(self, op_id: str, into: dict) -> None:
        """Add one operation's span walls, calls and self times."""
        for name, (wall, calls) in self.tracer.wall_and_calls(op_id).items():
            into[f"{name}_s"] += wall
            into[f"{name}.calls"] += calls
        for name, self_s in self.tracer.self_times(op_id).items():
            layer = name.split(".")[0]
            into[f"self_s.{layer}"] += self_s


# ---------------------------------------------------------------------------
# llm_ops
# ---------------------------------------------------------------------------


def result_hash(spark, fn, sf_dir: str) -> str:
    """Order-insensitive value hash of a query's result, computed the way
    the oracle gate computes it (``tools/check_correctness.value_hash``)."""
    from tools.check_correctness import value_hash

    pdf = fn(spark, sf_dir).toPandas()
    return value_hash(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def all_queries() -> dict:
    import __spark_entry__  # noqa: F401  (registers every plan module)
    from durable_functions_cosmosdb_etl_spark.plans import registry

    return {**registry.QUERIES, **registry.EXTRA_QUERIES}


def run_llm_ops(run: Run) -> dict:
    from perfbench.inputs import write_query_tables

    preset = run.preset
    sf_dir = os.path.join(run.work, preset["tables"])
    write_query_tables(sf_dir, preset["tables"])
    queries = all_queries()
    mix = preset["mix"]
    rng = random.Random(run.args.seed)
    spark = run.spark

    def one_pass(label: str, timed: bool) -> float:
        order = list(mix)
        rng.shuffle(order)
        sums: dict = defaultdict(float)
        traced_ops = []  # (op_id, job and stage counters), reduced after the wall
        t_pass = time.perf_counter()
        for name in order:
            op_id = f"{label}:{name}"
            run.attempted += 1
            try:
                if run.tracer:
                    j0, s0 = run.tracer.counters()
                t0 = time.perf_counter()
                with run.op(op_id, "bench.query"):
                    with run.span("plans.build"):
                        df = queries[name](spark, sf_dir)
                    if run.tracer:
                        j1, _ = run.tracer.counters()
                    with run.span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
                op_s = time.perf_counter() - t0
            except Exception as exc:  # a failed query counts; the run goes on
                run.fail(f"{label}:{name}", exc)
                continue
            if timed:
                run.op_s.append(op_s)
                run.notes.setdefault("query_s", {}).setdefault(name, []).append(op_s)
            if run.tracer:
                j2, s2 = run.tracer.counters()
                traced_ops.append((op_id, j0, j1, j2, s0, s2))
        wall = time.perf_counter() - t_pass
        # The tracer's own bookkeeping runs outside the pass wall.
        for op_id, j0, j1, j2, s0, s2 in traced_ops:
            sums["plans.build_jobs"] += j1 - j0
            sums["plans.exec_jobs"] += j2 - j1
            for k, v in run.tracer.stage_metrics(s0, s2).items():
                sums[f"stage.{k}"] += v
            run.layer_sums(op_id, sums)
        if timed:
            run.rounds.append({"wall": wall, **sums})
        return wall

    # First warm-up pass, untimed, which is also the output check: collect
    # each query once and compare its value hash with the recorded one.
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)[preset["tables"]]
    mismatched = []
    for name in mix:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            got = result_hash(spark, queries[name], sf_dir)
        except Exception as exc:
            run.fail(f"check:{name}", exc)
            continue
        run.notes.setdefault("cold_query_s", {})[name] = time.perf_counter() - t0
        if got != expected.get(name):
            mismatched.append(name)
            run.fail(f"check:{name}: hash {got} != expected {expected.get(name)}")
    run.notes["mismatched_queries"] = mismatched
    # The first noop passes after it still run slower than the rest, at
    # times the second one too.
    for i in range(2):
        one_pass(f"warmup{i}", False)
    setup_s = run.measure(one_pass, preset["passes"])

    pass_s = statistics.median(r["wall"] for r in run.rounds)
    run.notes["pass_s"] = pass_s
    return {"setup_s": setup_s, "throughput_per_s": len(mix) / pass_s}


# ---------------------------------------------------------------------------
# etl_changefeed
# ---------------------------------------------------------------------------


def add_name_upper(df):
    """The silver transform: a deterministic 1:1 column add."""
    from pyspark.sql import functions as F

    return df.withColumn("name_upper", F.upper(F.col("name")))


def run_etl(run: Run) -> dict:
    import duckdb

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        run_changefeed_transform,
    )
    from durable_functions_cosmosdb_etl_spark.streaming.pipeline import (
        run_incremental_transform,
    )
    from perfbench.inputs import SILVER_CONTENT_COLUMNS, EtlFeed
    from tools.check_correctness import value_hash

    spark = run.spark
    w = run.work
    backlog = run.preset["backlog"]
    feed = EtlFeed(os.path.join(w, "staging"), run.args.seed, backlog)
    bronze_dir, silver_dir = os.path.join(w, "bronze"), os.path.join(w, "silver")
    bronze = LogTable(spark, bronze_dir, key="id")
    silver = LogTable(spark, silver_dir, key="id")

    def ingest():
        run_incremental_transform(
            spark, feed.dir, bronze_dir, os.path.join(w, "ingest_ckpt"),
            sink="logtable_deferred", maintenance_every=1,
            compact_min_delta=COMPACT_MIN_DELTA,
        )

    def drain() -> dict:
        return run_changefeed_transform(
            spark, bronze, silver, os.path.join(w, "cursor.json"),
            transform=add_name_upper,
            lease_path=os.path.join(w, "lease.json"),
            audit_dir=os.path.join(w, "audit"),
        )

    def table_mb() -> float:
        return du_mb(bronze_dir) + du_mb(silver_dir)

    # Bootstrap, untimed but measured for the drain throughput. It is the
    # first use of the streaming and LogTable code in the process, so it
    # is also the warm-up for the cycles.
    feed.stage_backlog()
    t0 = time.perf_counter()
    ingest()
    drain()
    bootstrap_s = time.perf_counter() - t0
    run.notes["backlog_docs"] = backlog
    run.notes["bootstrap_s"] = bootstrap_s

    def one_cycle(label: str, timed: bool) -> float:
        op_id = label
        run.attempted += 1
        sums: dict = defaultdict(float)
        if run.tracer:
            size0 = table_mb()
            j0, s0 = run.tracer.counters()
        t0 = time.perf_counter()
        try:
            with run.op(op_id, "bench.cycle"):
                with run.span("inputs.stage"):
                    rows, nbytes = feed.stage_mutation()
                with run.span("streaming.ingest"):
                    ingest()
                if run.tracer:
                    _, s1 = run.tracer.counters()
                with run.span("streaming.drain"):
                    stats = drain()
        except Exception as exc:  # a failed cycle counts; the run goes on
            run.fail(label, exc)
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        if stats["rows_upserted"] != rows:
            run.fail(f"{label}: drained {stats['rows_upserted']} rows, staged {rows}")
        if run.tracer:
            j2, s2 = run.tracer.counters()
            sums["streaming.jobs"] += j2 - j0
            for k, v in run.tracer.stage_metrics(s0, s2).items():
                sums[f"stage.{k}"] += v
            drained = run.tracer.stage_metrics(s1, s2)
            sums["streaming.rows_read_per_row_upserted"] = drained.get(
                "input_records", 0.0
            ) / max(1, stats["rows_upserted"])
            sums["sinks.write_amp"] = (table_mb() - size0) * MB / nbytes
            run.layer_sums(op_id, sums)
        if timed:
            run.op_s.append(wall)
            run.rounds.append({"wall": wall, **sums})
        return wall

    setup_s = run.measure(one_cycle, run.preset["cycles"])

    # Output check, outside the timed region: silver == latest-per-key
    # over every staged file, through both transforms.
    run.attempted += 1
    try:
        got = silver.snapshot().select(*SILVER_CONTENT_COLUMNS).toPandas()
        want = duckdb.connect().execute(feed.expected_silver_sql()).fetchdf()
        ok = len(got) == len(want) and value_hash(
            list(got.columns), list(got.itertuples(index=False, name=None))
        ) == value_hash(list(want.columns), list(want.itertuples(index=False, name=None)))
        run.notes["silver_rows"] = len(got)
        if not ok:
            run.fail(f"check:silver: {len(got)} rows vs expected {len(want)}")
    except Exception as exc:
        run.fail("check:silver", exc)
    run.notes["table_mb"] = table_mb()
    run.notes["cycle_s.p50"] = statistics.median(run.op_s) if run.op_s else None
    return {"setup_s": setup_s, "throughput_per_s": backlog / bootstrap_s}


WORKLOADS = {"llm_ops": run_llm_ops, "etl_changefeed": run_etl}


# ---------------------------------------------------------------------------
# Reporting
# ---------------------------------------------------------------------------

PER_LAYER = {
    # name: (unit, key in the per-round sums)
    "session.start_s": ("s", None),
    "session.jvm_peak_rss_mb": ("MB", None),
    "plans.build_s": ("s", "plans.build_s"),
    "plans.build_jobs": ("count", "plans.build_jobs"),
    "plans.exec_s": ("s", "plans.exec_s"),
    "plans.exec_jobs": ("count", "plans.exec_jobs"),
    "sources.input_mb": ("MB", "stage.input_mb"),
    "sources.scan_stage_s": ("s", "stage.scan_stage_s"),
    "operators.stages": ("count", "stage.stages"),
    "operators.tasks": ("count", "stage.tasks"),
    "operators.executor_run_s": ("s", "stage.executor_run_s"),
    "operators.executor_cpu_s": ("s", "stage.executor_cpu_s"),
    "operators.gc_s": ("s", "stage.gc_s"),
    "operators.spill_mb": ("MB", "stage.spill_mb"),
    "operators.python_gap_s": ("s", "stage.python_gap_s"),
    "operators.single_task_stage_s": ("s", "stage.single_task_stage_s"),
    "operators.result_mb": ("MB", "stage.result_mb"),
    "operators.shuffle_write_mb": ("MB", "stage.shuffle_write_mb"),
    "operators.shuffle_read_mb": ("MB", "stage.shuffle_read_mb"),
    "operators.lease_s": ("s", "operators.lease_s"),
    "sinks.commit_s": ("s", "sinks.commit_s"),
    "sinks.commits": ("count", "sinks.commit.calls"),
    "sinks.compact_s": ("s", "sinks.compact_s"),
    "sinks.compactions": ("count", "sinks.compact.calls"),
    "sinks.checkpoint_log_s": ("s", "sinks.checkpoint_log_s"),
    "sinks.version_s": ("s", "sinks.version_s"),
    "sinks.version_calls": ("count", "sinks.version.calls"),
    "sinks.snapshot_s": ("s", "sinks.snapshot_s"),
    "sinks.changes_s": ("s", "sinks.changes_s"),
    "sinks.feed_stats_s": ("s", "sinks.feed_stats_s"),
    "sinks.write_amp": ("ratio", "sinks.write_amp"),
    "sinks.table_mb": ("MB", None),
    "sinks.audit_s": ("s", "sinks.audit_s"),
    "streaming.ingest_s": ("s", "streaming.ingest_s"),
    "streaming.drain_s": ("s", "streaming.drain_s"),
    "streaming.jobs_per_cycle": ("count", "streaming.jobs"),
    "streaming.rows_read_per_row_upserted": (
        "ratio", "streaming.rows_read_per_row_upserted"
    ),
    "self_s.bench": ("s", "self_s.bench"),
    "self_s.inputs": ("s", "self_s.inputs"),
    "self_s.plans": ("s", "self_s.plans"),
    "self_s.streaming": ("s", "self_s.streaming"),
    "self_s.sinks": ("s", "self_s.sinks"),
    "self_s.operators": ("s", "self_s.operators"),
    "trace.coverage": ("ratio", "trace.coverage"),
    "trace.overhead_s": ("s", None),
}


# Compaction lands in every second cycle, so these are means per round:
# the cost amortised over the cycles, not the median of 0s and spikes.
AMORTIZED = {"sinks.compact_s", "sinks.compactions"}


def per_layer(run: Run, session_start_s: float, jvm_peak_rss_mb: float) -> dict:
    """Median (or, for AMORTIZED, mean) over timed rounds of each
    per-round layer sum."""
    for r in run.rounds:
        named = sum(r.get(f"self_s.{layer}", 0.0) for layer in NAMED_LAYERS)
        r["trace.coverage"] = named / r["wall"]

    out = {}
    for name, (_unit, key) in PER_LAYER.items():
        if key is not None:
            agg = statistics.mean if name in AMORTIZED else statistics.median
            out[name] = agg(r.get(key, 0.0) for r in run.rounds)
    wall = statistics.median(r["wall"] for r in run.rounds)
    out["session.start_s"] = session_start_s
    out["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb
    out["sinks.table_mb"] = run.notes.get("table_mb", 0.0)
    out["trace.overhead_s"] = wall - run.notes["untraced_round_s"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--preset", choices=sorted(PRESETS), default="bench")
    args = ap.parse_args(argv)
    # A terminated run still stops Spark and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run = Run(args)
    os.makedirs(run.work, exist_ok=True)
    try:
        session_start_s = run.start_session()
        cpu0 = cpu_times()
        metrics = WORKLOADS[args.workload](run)
        cpu1 = cpu_times()
        tail_s, tail_label = tail(run.op_s) if run.op_s else (0.0, "none")
        metrics.update({
            "op_s.p50": statistics.median(run.op_s) if run.op_s else 0.0,
            "op_s.tail": tail_s,
        })
        rss_mb = run.jvm_peak_rss_mb()
        context = run.context()
        context["steal_share"] = steal_share(cpu0, cpu1)
        layers = per_layer(run, session_start_s, rss_mb) if args.trace else None
        if run.traced:
            traces = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            run.traced.write(
                os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
            )
    finally:
        if run.spark is not None:
            run.spark.stop()
            stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)

    error_rate = run.failed / max(1, run.attempted)
    print(json.dumps({
        "report": {
            "workload": args.workload,
            "seed": args.seed,
            "preset": args.preset,
            "context": context,
            "end_to_end": {
                **{k: {"value": metrics[k], "unit": u} for k, u in END_TO_END_UNITS.items()},
                "error_rate": {"value": error_rate, "unit": "ratio"},
                "jvm_peak_rss_mb": {"value": rss_mb, "unit": "MB"},
            },
            "op_s.tail_percentile": tail_label,
            "timed_samples": len(run.op_s),
            "notes": run.notes,
            "failures": run.failures,
        }
    }))
    if args.trace:
        result = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layers.items()}
    else:
        result = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": result,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
