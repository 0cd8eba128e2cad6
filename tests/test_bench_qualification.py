"""bench.py's run qualification: one signal (per-run vCPU-steal share),
one rule (BASELINE.md).

No Spark session: the rule is pure bookkeeping over /proc/stat counters
and run timings, so it is tested on synthetic inputs and replayed on the
recorded sf0.1 suites committed at the repo root.
"""

import json
import os

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rule_constants_are_documented():
    # BASELINE.md documents steal share 0.05 / 3 clean runs / spread
    # 0.35; a silent constant change must fail a test, not just drift
    # the docs
    assert bench.STEAL_SHARE_MAX == 0.05
    assert bench.CLEAN_TARGET == 3
    assert bench.RESPREAD_THRESHOLD == 0.35


def test_parse_cpu_jiffies_busy_and_steal():
    # user nice system idle iowait irq softirq steal guest gnice
    line = "cpu  100 2 30 9000 50 3 5 40 0 0"
    busy, steal = bench._parse_cpu_jiffies(line)
    assert busy == 100 + 2 + 30 + 3 + 5  # idle/iowait excluded
    assert steal == 40


def test_parse_cpu_jiffies_no_steal_field():
    # pre-2.6.11 shape (7 fields): steal defaults to 0, not IndexError
    busy, steal = bench._parse_cpu_jiffies("cpu 100 0 30 9000 50 3 5")
    assert busy == 138 and steal == 0


def test_cpu_counters_reads_this_host():
    busy, steal = bench._cpu_counters()
    assert busy > 0 and steal >= 0


def test_steal_share():
    assert bench._steal_share((1000, 10), (1100, 10)) == 0.0
    # 50 stolen vs 100 busy jiffies across the run -> share 1/3
    assert bench._steal_share((1000, 10), (1100, 60)) == round(
        50 / 150, 4
    )
    # counter unavailable (both zero) or no activity -> 0.0, never NaN
    assert bench._steal_share((0, 0), (0, 0)) == 0.0


def test_ambient_steal_rate_smoke():
    r = bench._ambient_steal_rate(sample_sec=0.1)
    assert isinstance(r, float) and r >= 0.0


def test_clean_runs_excludes_steal_hot():
    runs = [1.0, 5.0, 1.1, 1.2]
    shares = [0.01, 0.6, 0.0, 0.05]  # at the line is clean
    assert bench._clean_runs(runs, shares) == [1.0, 1.1, 1.2]


def test_anchor_eligible_each_clause_load_bearing():
    names = ["a", "b"]
    ok = {"a": [1.0, 1.01, 1.02], "b": [2.0, 2.1, 2.05]}
    assert bench._unstable_queries(ok, names) == []
    # clean-count clause: one query short of CLEAN_TARGET
    assert bench._unstable_queries({**ok, "b": [2.0, 2.1]}, names) == ["b"]
    # clean-spread clause: instability the steal counter did NOT catch
    # (bandwidth contention, plan nondeterminism) must still block
    assert bench._unstable_queries(
        {**ok, "b": [2.0, 2.1, 3.0]}, names
    ) == ["b"]
    # a missing query can never promote
    assert bench._unstable_queries(ok, ["a", "b", "c"]) == ["c"]


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/root/testdata/sf0.1", 0.1),
        ("/root/testdata/sf0.01/", 0.01),
        ("sf10", 10.0),
        ("/data/tpch", None),
        ("/data/sf", None),
        ("/data/sfnan", None),
    ],
)
def test_scale_factor_parse(sf_dir, sf):
    assert bench._scale_factor(sf_dir) == sf


# The recorded sf0.1 suites, all written by the two-detector harness
# (spin sampler + steal share), with the verdict the one-signal rule
# must reach on each: the anchor promotes, the other five do not.
RECORDED_SUITES = {
    "QUALIFIED_BENCH.json": True,
    "BENCH_round14_full.json": False,
    "BENCH_r13.json": False,
    "BENCH_r14.json": False,
    "BENCH_r13_c8.json": False,
    "BENCH_r14_c8.json": False,
}


@pytest.mark.parametrize("fname, eligible", sorted(RECORDED_SUITES.items()))
def test_replay_recorded_suites(fname, eligible):
    with open(os.path.join(REPO, fname)) as f:
        d = json.load(f)
    d = d.get("parsed", d)
    rec = d["qualification"]["burst"]
    names = d["headline_set"] + d["extended_set"]
    clean = {}
    for q in names:
        clean[q] = bench._clean_runs(
            rec["timings_all"][q], rec["steal_share"][q]
        )
        tagged = set(rec["tagged_runs"].get(q, []))
        # the steal share alone classifies exactly the runs the recorded
        # spin-OR-steal rule tagged
        assert clean[q] == [
            t for i, t in enumerate(rec["timings_all"][q]) if i not in tagged
        ], q
    assert (bench._unstable_queries(clean, names) == []) is eligible
