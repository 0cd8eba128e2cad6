"""Anchor-refresh campaign driver.

Runs bench.py attempts in a loop until one comes out `anchor_eligible`
(BASELINE.md: every query has >= 3 steal-clean runs whose relative
spread is within 0.35) or the attempt or time budget runs out. Before
each attempt it samples the ambient vCPU-steal rate while this guest
idles (bench._ambient_steal_rate) and waits while the rate exceeds
STEAL_RATE_MAX: a window that is already stealing would tag most runs,
and skipping it costs ~10 s instead of a whole suite. Loadavg is logged
as context only.

Every attempt's JSON line is kept under OUT_DIR and a one-line summary
is appended to OUT_DIR/campaign.log — the committed campaign record.

    python tools/anchor_campaign.py [max_attempts] [max_hours]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

OUT_DIR = "/tmp/anchor_campaign"
POLL_SEC = 60
# Co-tenant vCPU steal accrues in /proc/stat even while THIS guest idles
# (measured 0.15-0.8 stolen core/s in hot windows vs < 0.01 when
# genuinely quiet).
POLL_STEAL_SEC = 10.0
STEAL_RATE_MAX = 0.05  # stolen core-sec per wall-sec, absolute


def log(msg: str) -> None:
    line = f"{time.strftime('%H:%M:%S')} {msg}"
    print(line, flush=True)
    with open(os.path.join(OUT_DIR, "campaign.log"), "a") as f:
        f.write(line + "\n")


def main() -> None:
    max_attempts = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    max_hours = float(sys.argv[2]) if len(sys.argv) > 2 else 5.0
    os.makedirs(OUT_DIR, exist_ok=True)
    t_end = time.time() + max_hours * 3600
    attempt = 0
    while attempt < max_attempts and time.time() < t_end:
        rate = bench._ambient_steal_rate(POLL_STEAL_SEC)
        if rate > STEAL_RATE_MAX:
            log(f"wait: ambient steal {rate} core/s over {STEAL_RATE_MAX}")
            time.sleep(POLL_SEC - POLL_STEAL_SEC)
            continue
        attempt += 1
        loads = tuple(round(x, 2) for x in os.getloadavg())
        log(f"attempt {attempt}: start at steal {rate} core/s, load {loads}")
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        out_path = os.path.join(OUT_DIR, f"attempt_{attempt:02d}.json")
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        with open(out_path, "w") as f:
            f.write(last + "\n")
        if proc.returncode != 0 or not last:
            log(
                f"attempt {attempt}: FAILED rc={proc.returncode} "
                f"stderr tail: {proc.stderr.strip().splitlines()[-1:]}"
            )
            continue
        d = json.loads(last)
        q = d["qualification"]
        log(
            f"attempt {attempt}: value={d['value']} "
            f"value_clean={d['value_clean']} "
            f"unstable={len(q['unstable_queries'])} "
            f"rerun={len(q['rerun_queries'])} "
            f"tagged_runs={sum(len(v) for v in q['tagged_runs'].values())} "
            f"anchor_eligible={q['anchor_eligible']}"
        )
        if q["anchor_eligible"]:
            log(f"attempt {attempt}: ANCHOR-ELIGIBLE — {out_path}")
            return
    log(f"campaign over: {attempt} attempts, none eligible")
    sys.exit(3)


if __name__ == "__main__":
    main()
