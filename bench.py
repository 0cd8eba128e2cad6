"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_headline_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, "qualification": {...}}

Each timed run is tagged with its vCPU-steal share; the qualification
block says which runs were clean and whether the suite may become the
QUALIFIED_BENCH.json anchor (the rule is below and in BASELINE.md).

Execution cost is measured with the noop sink (full computation, no
result materialization on the driver). One shared SparkSession across
all queries (session/codegen startup is the dominant fixed cost at these
scales — see BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from durable_functions_cosmosdb_etl_spark.session import get_spark  # noqa: E402

# Original round-1/2 headline set — kept verbatim for round-over-round
# comparability (BENCH_r03 ⊇ BENCH_r02 set).
HEADLINE = [
    "pricing_summary",
    "join_inner_revenue",
    "join_broadcast_dims",
    "window_running",
    "topk_per_group",
    "join_asof",
    "window_session",
    "json_extract",
    "text_token_stats",
    "dedup_minhash",
    "similarity_topk",
    "pipeline_llm_prep",
    "join_sixway_revenue",
]

# Round-3 additions: the heavier queries that previously had no trend
# line (VERDICT r02 task #8).
HEADLINE_EXT = [
    "text_tfidf",
    "dedup_components",
    "dedup_embedding",
    "pipeline_pack",
    "join_outer_cross",
    "dedup_substring",
    "similarity_ivf",
    "dedup_semantic",  # extras tier — benched for a scale trend line
    "text_ngram_df",  # extras tier (round 3): stop-shingle DF diagnostic
    "mix_rebalance",  # extras tier (round 3): mixture planning agg
    # round 4 (VERDICT r3 item 7): production 16×4 banding beside the
    # completeness banding in dedup_minhash, so the oracle-point vs
    # production-point costs both have trend lines
    "dedup_minhash_prod",
    # round 5: the same oracle-point/production-point split for IVF —
    # kcenter seeding + 3 Lloyd steps beside similarity_ivf's
    # oracle-replicated lowest-id + 1-step fit
    "similarity_ivf_prod",
]

N_RUNS = 3  # median-of-3 so noise blips are distinguishable from regressions

# --- Qualification: one signal, one rule (BASELINE.md) --------------------
# This host is a VM whose co-tenants deschedule its vCPUs in bursts that
# dilate timed runs 1.2-4x while loadavg reads quiet. The guest kernel
# counts that time in the steal field of /proc/stat, so every timed run
# is bracketed by two /proc/stat reads and tagged with its steal share
# d_steal / (d_steal + d_busy):
#   - a run is CLEAN when its share is <= STEAL_SHARE_MAX. The line is
#     empirical: a quiet VM reads < 0.02, while runs at 0.06-0.14 still
#     measured 1.2-2x dilated (a busy co-tenant also costs cache and
#     memory bandwidth, which the counter cannot see);
#   - a query with fewer than CLEAN_TARGET clean runs gets up to
#     MAX_EXTRA_RUNS same-session re-runs (under the measured
#     burst-every-few-minutes pattern, 3 extras left about half the
#     queries short);
#   - a query is UNSTABLE when it still has fewer than CLEAN_TARGET clean
#     runs or their relative spread exceeds RESPREAD_THRESHOLD. The
#     spread clause catches what the counter cannot (bandwidth
#     contention, plan nondeterminism). A run with no unstable query is
#     anchor_eligible: it may replace QUALIFIED_BENCH.json.
# Loadavg and a 2 s ambient steal rate are recorded as context, never
# gated: on the recorded suites, the retired loadavg gates never changed
# a verdict this rule reaches without them (BASELINE.md).
RESPREAD_THRESHOLD = 0.35
STEAL_SHARE_MAX = 0.05
CLEAN_TARGET = N_RUNS
MAX_EXTRA_RUNS = 5


def _parse_cpu_jiffies(line: str) -> tuple[int, int]:
    """(busy, steal) jiffies from a /proc/stat aggregate cpu line.

    busy counts guest-visible work (user+nice+system+irq+softirq);
    idle/iowait are excluded, steal is returned separately — it is
    time a RUNNABLE vCPU spent descheduled by the hypervisor."""
    v = [int(x) for x in line.split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    steal = v[7] if len(v) > 7 else 0
    return busy, steal


def _cpu_counters() -> tuple[int, int]:
    try:
        with open("/proc/stat") as f:
            return _parse_cpu_jiffies(f.readline())
    except (OSError, ValueError, IndexError):  # pragma: no cover
        return (0, 0)


def _steal_share(c0: tuple[int, int], c1: tuple[int, int]) -> float:
    """Steal's share of machine activity across a timed run:
    d_steal / (d_steal + d_busy). Quiet VM: < 0.02. Dilation of a
    CPU-bound stage is ~ 1/(1-share). Returns 0.0 when counters are
    unavailable (both deltas zero)."""
    db = c1[0] - c0[0]
    ds = c1[1] - c0[1]
    if ds <= 0 or ds + db <= 0:
        return 0.0
    return round(ds / (ds + db), 4)


def _clean_runs(runs: list[float], shares: list[float]) -> list[float]:
    """The runs whose steal share is within STEAL_SHARE_MAX."""
    return [dt for dt, s in zip(runs, shares) if s <= STEAL_SHARE_MAX]


def _rel_spread(ts: list[float]) -> float:
    med = statistics.median(ts)
    return (max(ts) - min(ts)) / med if med else 0.0


def _unstable_queries(
    clean: dict[str, list[float]], names: list[str]
) -> list[str]:
    """Queries short of CLEAN_TARGET clean runs, or whose clean runs
    spread wider than RESPREAD_THRESHOLD; none means anchor_eligible."""
    return [
        n
        for n in names
        if len(clean.get(n, [])) < CLEAN_TARGET
        or _rel_spread(clean[n]) > RESPREAD_THRESHOLD
    ]


def _ambient_steal_rate(sample_sec: float = 2.0) -> float:
    """Stolen core-seconds per wall-second while this guest idles —
    pre-run context for the JSON (machine_state.ambient_steal_core_s).
    Jiffies are CLK_TCK=100 on this kernel; /proc/stat absent or
    short (no steal field) degrades to 0.0."""
    t0 = time.time()
    s0 = _cpu_counters()[1]
    time.sleep(sample_sec)
    ds = _cpu_counters()[1] - s0
    dw = time.time() - t0
    return round(ds / 100.0 / dw, 3) if dw > 0 else 0.0


def _scale_factor(sf_dir: str) -> float | None:
    """The scale factor an `sf<number>` data dir names; None for any
    other dir name (the JSON then records `sf: null`)."""
    name = os.path.basename(sf_dir.rstrip("/"))
    m = re.fullmatch(r"sf(\d+(?:\.\d*)?)", name)
    return float(m.group(1)) if m else None


# Scratch dirs whose presence is known to pollute bench numbers
# (page-cache pressure from multi-GB probe builds once flipped an AQE
# join-strategy threshold and measured text_tfidf 4x slower — see the
# round-4 scale-probe notes). The bench refuses to pretend the machine
# is clean: it warns on stderr and self-documents the state in the JSON.
_PROBE_DIRS = ["/tmp/scale_probe", "/tmp/stream_probe", "/tmp/logtable_probe"]


def _machine_state() -> dict:
    import shutil

    # Warn-AND-CLEAN (round 7): stale probe data measurably inflates
    # bench numbers (page-cache pressure once flipped an AQE threshold,
    # 4x on text_tfidf), so recording the contamination isn't enough —
    # remove it before timing anything. The probes themselves also
    # clean up on exit now (tools/*_probe.py try/finally); this is the
    # belt to that suspender, catching killed probes.
    cleaned = {}
    for d in _PROBE_DIRS:
        if os.path.isdir(d):
            size = 0
            for root, _dirs, files in os.walk(d):
                for f in files:
                    try:
                        size += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            shutil.rmtree(d, ignore_errors=True)
            cleaned[d] = size
    present = [d for d in _PROBE_DIRS if os.path.isdir(d)]
    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:  # pragma: no cover
        load1 = load5 = load15 = None
    state = {
        "probe_dirs_present": bool(present),
        "probe_dirs_cleaned": {
            d: round(s / 1e9, 2) for d, s in cleaned.items()
        },
        # Host load BEFORE the run: context only, never gated (a quiet
        # loadavg has sat beside 2-4x steal-dilated runs on this host).
        "loadavg": [
            round(x, 2) if x is not None else None
            for x in (load1, load5, load15)
        ],
        # Ambient co-tenant steal BEFORE the run: stolen core-seconds
        # per wall-second over a 2 s idle sample. Genuinely quiet
        # < 0.01; hot evening windows read 0.15-0.8. Recorded, never
        # gated — the per-run steal_share is the enforcement point.
        "ambient_steal_core_s": _ambient_steal_rate(),
    }
    if cleaned:
        total_gb = sum(cleaned.values()) / 1e9
        print(
            f"bench.py: WARNING — stale probe data found and removed "
            f"({total_gb:.1f} GB in {sorted(cleaned)}) before timing.",
            file=sys.stderr,
        )
    return state

def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _scale_factor(sf_dir)
    machine_state = _machine_state()

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Driver-visible parallelism contract (round 14, VERDICT r13 #2):
    # record the EFFECTIVE master, the context's defaultParallelism and
    # the raw SPARK_GRAFT_CPUS env var in the JSON, so the driver's
    # "suspect_cpus_ignored" heuristic can discriminate
    # honors-but-serial-scan (every sf0.1 test table is a single
    # row-group, so scans are one task at any core count — the measured
    # cause of the ≈1 scaling ratios) from actually-ignoring-the-env.
    # session.py:34-36 honors the env (master=local[$SPARK_GRAFT_CPUS]);
    # this is observability only — no timed behavior changes.
    machine_state["master"] = spark.sparkContext.master
    machine_state["default_parallelism"] = spark.sparkContext.defaultParallelism
    machine_state["cpus_env"] = os.environ.get("SPARK_GRAFT_CPUS")
    from durable_functions_cosmosdb_etl_spark.plans import registry

    qs = {**registry.EXTRA_QUERIES, **entrymod.queries()}
    names = HEADLINE + HEADLINE_EXT

    # Warmup pass (JVM JIT, codegen caches, Python-worker spin-up), then
    # N_RUNS timed passes — steady-state measurement: a long-lived
    # application is the deployment shape (the reference runs resident in
    # a Functions host too); cold-process artifacts at sf0.1 would
    # otherwise dominate the sub-second queries. Per query we report the
    # MEDIAN of the timed runs ("queries"), with min/max in "spread".
    runs: dict[str, list[float]] = {n: [] for n in names}
    # steal_rec[name][i] = the vCPU-steal share of runs[name][i].
    steal_rec: dict[str, list[float]] = {n: [] for n in names}

    def timed_run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return round(time.perf_counter() - t0, 3)

    def sampled_run(name: str) -> None:
        c0 = _cpu_counters()
        dt = timed_run(name)
        c1 = _cpu_counters()
        runs[name].append(dt)
        steal_rec[name].append(_steal_share(c0, c1))

    for measured in [False] + [True] * N_RUNS:
        for name in names:
            if measured:
                sampled_run(name)
            else:
                timed_run(name)

    # Clean top-up: a query short of CLEAN_TARGET steal-clean runs gets
    # bounded same-session re-runs. Every run stays in runs, so the
    # all-runs medians keep their meaning beside the clean view.
    rerun: list[str] = []
    for name in names:
        extra = 0
        while (
            len(_clean_runs(runs[name], steal_rec[name])) < CLEAN_TARGET
            and extra < MAX_EXTRA_RUNS
        ):
            sampled_run(name)
            extra += 1
        if extra:
            rerun.append(name)
    clean = {n: _clean_runs(runs[n], steal_rec[n]) for n in names}
    unstable = _unstable_queries(clean, names)
    # statistics.median (not sorted(ts)[len//2]): re-runs make the
    # per-query lists even-length, and the upper-middle element would
    # bias exactly the re-run queries' medians upward.
    timings_clean = {
        n: (round(statistics.median(ts), 3) if ts else None)
        for n, ts in clean.items()
    }
    value_clean = (
        round(sum(timings_clean[n] for n in HEADLINE), 3)
        if all(timings_clean[n] is not None for n in HEADLINE)
        else None
    )

    timings = {
        n: round(statistics.median(ts), 3) for n, ts in runs.items()
    }
    total = round(sum(timings[n] for n in HEADLINE), 3)
    try:
        loadavg_post = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover
        loadavg_post = [None, None, None]
    tagged = {
        n: [i for i, s in enumerate(steal_rec[n]) if s > STEAL_SHARE_MAX]
        for n in names
    }
    print(
        json.dumps(
            {
                "metric": "total_headline_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_runs": N_RUNS,
                "spread": {
                    n: [min(ts), max(ts)] for n, ts in runs.items()
                },
                "headline_set": HEADLINE,
                "extended_set": HEADLINE_EXT,
                "total_extended_sec": round(sum(timings.values()), 3),
                # Clean view: medians over steal-clean runs only; null
                # when a query has zero clean runs. The all-runs
                # "queries"/"value" keep their historical semantics.
                "queries_clean": timings_clean,
                "value_clean": value_clean,
                "machine_state": machine_state,
                "qualification": {
                    "steal_share_max": STEAL_SHARE_MAX,
                    "clean_target": CLEAN_TARGET,
                    "respread_threshold": RESPREAD_THRESHOLD,
                    "timings_all": runs,
                    "steal_share": steal_rec,
                    "tagged_runs": {n: ix for n, ix in tagged.items() if ix},
                    "rerun_queries": rerun,
                    "unstable_queries": unstable,
                    "anchor_eligible": not unstable,
                    "loadavg_post": loadavg_post,
                },
            }
        )
    )
    # Belt-and-suspenders for the one-line contract (VERDICT r13 #2b):
    # the r12 driver recorded parsed=null for a run whose stdout tail
    # shows a complete JSON line — flush explicitly so no buffering
    # mode can truncate the line if the interpreter dies in JVM
    # shutdown after the print.
    sys.stdout.flush()


if __name__ == "__main__":
    main()
