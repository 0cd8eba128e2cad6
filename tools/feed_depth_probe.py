"""Driver-side depth scaling of the feed cost machinery — no Spark.

Reproduces the SCALE.md §2b depth numbers: synthesizes a full-churn
commit log (every commit rewrites all buckets — the worst case for the
live-map replay, and the case where the interval walk stops after one
entry), with periodic log checkpoints like the drain's maintenance
cadence writes, then times at each requested depth:

- ``estimate_sec``: ``feed_interval_stats`` on a fresh handle for three
  intervals — ``from_0`` (the whole log), ``mid_log`` (a lagging cursor
  to the head) and ``last_50``. The walk stops once every bucket is
  touched, so on this log each is one parsed entry plus the two
  checkpoint-bounded live-set replays.
- ``lo_replay``: ``_live_units`` at a mid-log lagging cursor — the
  lo-side rollup / diff-serve read. Bounded by the newest checkpoint
  AT OR BELOW the cursor (code-review r11: consulting only the
  newest checkpoint overall made this O(full history)).
- ``lo_replay_nocp``: the same replay with checkpoints ignored — the
  full-replay baseline (= the pre-r11 cost of a lagging cursor, and
  the cost on a table whose producer never checkpoints).
- ``listdir_sec`` / ``version_{miss,hit}_sec`` /
  ``latest_cp_{miss,hit}_sec`` (round 12, VERDICT r11 #5; miss/hit
  split ADVICE r12): the log-dir LISTING cost in isolation. The
  listing build is paid once per log change (the ``*_miss_sec``
  numbers — first call on a fresh handle) while subsequent loop-head
  calls hit the memoized parsed listing (``*_hit_sec``). Splitting
  them keeps the once-per-change build priced at depth instead of
  hidden behind a median of memo hits.
- ``loop_head_sec``: one drain loop head's LogTable reads on a fresh
  handle — ``version()``, the gate's estimate, the serve's estimate,
  ``feed_truncation_missing`` and three ``_live_units`` calls (lo, hi,
  latest) — for the last commit (``interval_1``), the last 50
  (``interval_50``) and the mid-log cursor to the head
  (``mid_log``). This is the sequence the listing and live-unit memos
  exist for.

Timings are driver-side wall clock over synthetic JSON; run on a
quiet machine for stable numbers. Usage:

    python tools/feed_depth_probe.py [depth ...]   (default 1000 3000 10000)
    python tools/feed_depth_probe.py --light 100000

``--light`` builds 1-bucket commits and skips the estimate and loop-head
timings — listing and replay costs depend on FILE COUNT and
commits-since-checkpoint, not entry width, so the light build makes a
~100k-commit listing point affordable (a full-churn 32-bucket build at
that depth would write ~1 GB of JSON).

Prints one JSON line per depth. Works under ``$TMPDIR`` (default
/tmp); the work dir is removed on exit unless SPARK_GRAFT_PROBE_KEEP=1
(repo probe hygiene convention, round 7).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from durable_functions_cosmosdb_etl_spark.sinks.logtable import (  # noqa: E402
    LogTable,
)

N_BUCKETS = 32
ROWS_PER_BUCKET = 100
CP_EVERY = 500


def build_log(base: str, depth: int, light: bool = False) -> None:
    log_dir = os.path.join(base, "_log")
    os.makedirs(log_dir)
    os.makedirs(os.path.join(base, "data"))
    n_buckets = 1 if light else N_BUCKETS
    live: dict[int, dict] = {}
    for v in range(depth):
        added = [
            {
                "unit": f"data/c{v}/__bucket={b}",
                "bucket": b,
                "rows": ROWS_PER_BUCKET,
            }
            for b in range(n_buckets)
        ]
        removed = [live[b] for b in sorted(live)]
        for a in added:
            live[a["bucket"]] = a
        entry = {
            "version": v,
            "op": "upsert",
            "added": added,
            "removed": removed,
        }
        with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
            json.dump(entry, f)
        if v and v % CP_EVERY == 0:
            cp = {"version": v, "live": list(live.values())}
            with open(
                os.path.join(log_dir, f"_checkpoint.{v:020d}.json"), "w"
            ) as f:
                json.dump(cp, f)
    with open(os.path.join(log_dir, "_meta.json"), "w") as f:
        json.dump({"key": "id", "n_buckets": N_BUCKETS}, f)


def _median_of(fn, n: int) -> float:
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return sorted(ts)[n // 2]


def handle(base: str) -> LogTable:
    # fresh cold handle per measurement; the real constructor never
    # touches the session (it only stores it), so spark=None keeps
    # every attribute initialized the normal way instead of hand-
    # copying private state that would drift out of sync with
    # __init__ (code-review r11, fourth pass)
    return LogTable(None, base, key="id", n_buckets=N_BUCKETS)


def main() -> None:
    light = "--light" in sys.argv
    depths = [
        int(a) for a in sys.argv[1:] if not a.startswith("-")
    ] or [1000, 3000, 10000]
    if any(d < 2 for d in depths):
        sys.exit("depths must be >= 2")
    base_root = os.path.join(tempfile.gettempdir(), "feed_depth_probe")
    shutil.rmtree(base_root, ignore_errors=True)
    for depth in depths:
        base = os.path.join(base_root, f"d{depth}")
        build_log(base, depth, light=light)
        hi = depth - 1
        # mid-log lagging cursor, just past a checkpoint when the log
        # is deep enough; clamped so shallow depths stay valid
        cursor = min(depth // 2 + CP_EVERY // 2, hi)
        out = {
            "metric": "feed_depth_probe",
            "depth": depth,
            "n_buckets": 1 if light else N_BUCKETS,
            "cp_every": CP_EVERY,
            "cursor": cursor,
            "light": light,
        }

        if not light:
            # median of 3, each on a fresh handle (cold memos)
            out["estimate_sec"] = {
                name: round(
                    _median_of(
                        lambda: handle(base).feed_interval_stats(lo, hi), 3
                    ),
                    4,
                )
                for name, lo in (
                    ("from_0", 0),
                    ("mid_log", cursor),
                    ("last_50", max(hi - 50, 0)),
                )
            }
            out["ratio_from_0"] = round(
                handle(base).feed_interval_stats(0, hi)["net_change_ratio"], 3
            )

        # listing-vs-parse split (VERDICT r11 #5): the raw cost of one
        # log-dir listing (what every _log_entries/version()/
        # _latest_checkpoint call pays regardless of checkpoint
        # bounds), then the two cheapest callers that are ~pure
        # listing. Medians of 5 — single listdir calls are fast enough
        # for the page cache to make one-shot numbers noisy.
        #
        # Miss/hit split (ADVICE r12): since the round-12 listing memo,
        # a median-of-5 on ONE handle reports the ~0 ms hit path and
        # hides the once-per-directory-change listing build this probe
        # exists to price. The *_miss_sec keys time the FIRST call on a
        # fresh handle (the listing build the drain pays once per dir
        # change); *_hit_sec is the median of the next 5 calls on the
        # same handle (the memoized loop-head cost).
        log_dir = os.path.join(base, "_log")
        out["listdir_sec"] = round(
            _median_of(lambda: sorted(os.listdir(log_dir)), 5), 4
        )

        def _miss_and_hit(call) -> tuple[float, float]:
            t = handle(base)
            t0 = time.perf_counter()
            call(t)
            miss = time.perf_counter() - t0
            return miss, _median_of(lambda: call(t), 5)

        miss, hit = _miss_and_hit(lambda t: t.version())
        out["version_miss_sec"] = round(miss, 4)
        out["version_hit_sec"] = round(hit, 4)
        miss, hit = _miss_and_hit(
            lambda t: t._latest_checkpoint(as_of=cursor)
        )
        out["latest_cp_miss_sec"] = round(miss, 4)
        out["latest_cp_hit_sec"] = round(hit, 4)

        if not light:

            def _loop_head(lo: int) -> None:
                t = handle(base)
                t.version()
                t.feed_interval_stats(lo, hi)  # the gate's estimate
                t.feed_interval_stats(lo, hi)  # the serve's estimate
                t.feed_truncation_missing(lo, hi)
                t._live_units(as_of=lo)
                t._live_units(as_of=hi)
                t._live_units()

            out["loop_head_sec"] = {
                name: round(_median_of(lambda: _loop_head(lo), 3), 4)
                for name, lo in (
                    ("interval_1", hi - 1),
                    ("interval_50", max(hi - 50, 0)),
                    ("mid_log", cursor),
                )
            }

        t = handle(base)
        t0 = time.perf_counter()
        t._live_units(as_of=cursor)
        out["lo_replay_sec"] = round(time.perf_counter() - t0, 4)

        t = handle(base)
        t._latest_checkpoint = lambda as_of=None: None  # type: ignore
        t0 = time.perf_counter()
        t._live_units(as_of=cursor)
        out["lo_replay_nocp_sec"] = round(time.perf_counter() - t0, 4)

        print(json.dumps(out, sort_keys=True), flush=True)
    if os.environ.get("SPARK_GRAFT_PROBE_KEEP") != "1":
        shutil.rmtree(base_root, ignore_errors=True)


if __name__ == "__main__":
    main()
