"""Property-based tests (hypothesis) — SURVEY.md §5.3.

Each Spark operator is checked against an independent pure-Python
reference implementation on randomized inputs. Example counts are kept
small (Spark round-trip per example); the properties, not the volume,
carry the weight.
"""

from __future__ import annotations

import os

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

WORD = st.text(alphabet="abcdefg", min_size=1, max_size=4)
SPARK_SETTINGS = dict(max_examples=8, deadline=None)


def _py_shingles(ws: list[str], n: int) -> list[str]:
    if len(ws) < n:
        return []
    seen, out = set(), []
    for i in range(len(ws) - n + 1):
        g = " ".join(ws[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@given(st.lists(WORD, min_size=0, max_size=12), st.integers(2, 4))
@settings(**SPARK_SETTINGS)
def test_shingles_match_python_reference(spark, ws, n):
    from durable_functions_cosmosdb_etl_spark.operators.text import (
        shingles_from_words,
    )

    df = spark.createDataFrame([(ws,)], "w array<string>")
    got = df.select(shingles_from_words(F.col("w"), n).alias("sh")).first().sh
    assert got == _py_shingles(ws, n)


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="ab ", max_size=6),  # desc: may be blank/empty
            st.text(alphabet="xy ", max_size=6),  # name
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SPARK_SETTINGS)
def test_transform_blank_coalesce_invariants(spark, rows):
    """Transform invariants (EtlProcess.cs:251-252 semantics): row count
    preserved; description/name never null/blank in the output; blank
    inputs get the documented default message carrying the row id."""
    from durable_functions_cosmosdb_etl_spark.operators.transform import (
        transform_items,
    )

    items = [
        (f"id{i}", "01/01/2026", d, "true", nm, "Normal", "Partition_A")
        for i, (d, nm) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        items, "id string, date string, desc string, done string, "
        "name string, pr string, logical_partition string"
    )
    out = transform_items(df, batch_id="b1").collect()
    assert len(out) == len(rows)
    for r in out:
        assert r.description and r.description.strip()
        assert r.name and r.name.strip()
        assert r.transform_batch == "b1"
    by_id = {r.id: r for r in out}
    for i, (d, nm) in enumerate(rows):
        r = by_id[f"id{i}"]
        if not d.strip():
            assert r.description == f"Empty Description in source for item id{i}"
        else:
            assert r.description == d
        if not nm.strip():
            assert f"id{i}" in r.name
        else:
            assert r.name == nm


@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), max_size=30),
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), max_size=10),
    st.integers(2, 6),
)
@settings(**SPARK_SETTINGS)
def test_salted_join_equivalence_random(spark, big_rows, small_rows, n_salts):
    from durable_functions_cosmosdb_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        big_rows or [(99, 0)], "k bigint, v bigint"
    )
    small = spark.createDataFrame(
        small_rows or [(98, 0)], "k bigint, d bigint"
    )
    plain = sorted(
        (r.k, r.v, r.d) for r in big.join(small, ["k"]).collect()
    )
    salted = sorted(
        (r.k, r.v, r.d)
        for r in salted_join(big, small, ["k"], n_salts=n_salts).collect()
    )
    assert salted == plain


@given(st.lists(WORD, min_size=0, max_size=10))
@settings(**SPARK_SETTINGS)
def test_fingerprint_matches_documented_formula(spark, ws):
    from durable_functions_cosmosdb_etl_spark.operators.text import fingerprint

    text = " ".join(ws)
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(fingerprint(F.col("t")).alias("fp")).first().fp
    # words() on empty/whitespace text yields [""]: ascii("")=0, len=0
    if text.strip():
        words = text.strip().split()
    else:
        words = [""]
    expect = (
        sum(
            (i + 1) * (100 * len(w) + (ord(w[0]) if w else 0))
            for i, w in enumerate(words)
        )
        % 1_000_000_007
    )
    assert got == expect


@given(
    st.lists(st.integers(0, 5), min_size=2, max_size=14),
    st.integers(0, 1000),
)
@settings(**SPARK_SETTINGS)
def test_jaccard_collapse_equivalence_random(spark, picks, seed):
    """Randomized corpora (drawn from a tiny doc pool so exact copies
    and organic near-dups both occur) keep the collapse paths
    byte-identical: jaccard_pairs(collapse) == jaccard_pairs(plain) and
    jaccard_components == CC(jaccard_pairs). Complements the fixed
    clique-corpus tests with hypothesis-driven shapes (singletons,
    all-same, no-dups, mixed)."""
    import random as _r

    from durable_functions_cosmosdb_etl_spark.operators import dedup as dd

    pool = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "an entirely different text about query planning",
        "short",
        "",
        "one two three four five six seven",
    ]
    rng = _r.Random(seed)
    rows = [(i, pool[p % len(pool)]) for i, p in enumerate(picks)]
    rng.shuffle(rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = dd.jaccard_pairs(
        docs, n=2, threshold=0.4, collapse_identical=False
    )
    coll = dd.jaccard_pairs(docs, n=2, threshold=0.4)
    pa = sorted((r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in plain.collect())
    pb = sorted((r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in coll.collect())
    assert pa == pb
    expanded = dd.connected_components(plain)
    comp = dd.jaccard_components(docs, n=2, threshold=0.4)
    ea = sorted((r.doc, r.component) for r in expanded.collect())
    ca = sorted((r.doc, r.component) for r in comp.collect())
    assert ea == ca


_LT_KVS = st.lists(
    st.tuples(st.integers(0, 6), st.text(alphabet="xy", min_size=1, max_size=2)),
    min_size=1,
    max_size=3,
    unique_by=lambda kv: kv[0],
)
_LT_OP = st.tuples(
    st.sampled_from(["upsert", "deferred", "delete", "compact", "checkpoint"]),
    _LT_KVS,
)


@given(st.lists(_LT_OP, min_size=1, max_size=5), st.integers(0, 3))
@settings(max_examples=6, deadline=None)
def test_logtable_random_op_sequences_match_dict_model(spark, ops, retain):
    """Model-based LogTable check: any interleaving of eager upserts,
    deferred upserts, deletes, compactions, and log checkpoints must
    leave the snapshot equal to a plain dict replay of the same ops —
    merge-on-read, maintenance, and checkpointed replay are invisible
    to readers. (Batches carry unique keys, so eager and deferred
    semantics coincide deterministically; append is excluded because it
    deliberately breaks one-row-per-key and is guarded separately.)

    Then the RETENTION property (VERDICT r5 #7): after
    ``vacuum(retain)`` followed by ``checkpoint_log()``, time travel to
    EVERY version inside the retention window still opens and matches
    the model's state at that version; any version that still opens
    (inside the window or not — vacuum only deletes unreferenced units,
    so older versions whose units survived remain readable) must ALSO
    match its model state — a vacuumed version may fail loudly, never
    answer wrong; and versions whose model state is empty raise the
    documented "no data"."""
    import tempfile

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable

    path = tempfile.mkdtemp(prefix="lt_prop_")
    t = LogTable(spark, path, key="id", n_buckets=2)
    model = {0: "z"}
    t.create(spark.createDataFrame([(0, "z")], "id long, val string"))
    states = {t.version(): dict(model)}  # model state per committed version
    for kind, kvs in ops:
        if kind in ("upsert", "deferred"):
            df = spark.createDataFrame(kvs, "id long, val string")
            (t.upsert if kind == "upsert" else t.upsert_deferred)(df)
            model.update(dict(kvs))
        elif kind == "delete":
            ks = [k for k, _ in kvs]
            t.delete_keys(
                spark.createDataFrame([(k,) for k in ks], "id long")
            )
            for k in ks:
                model.pop(k, None)
        elif kind == "compact":
            t.compact()
        else:
            t.checkpoint_log()
        states[t.version()] = dict(model)
    import pytest as _pytest

    if model:
        got = {r["id"]: r["val"] for r in t.snapshot().collect()}
        assert got == model
    else:
        with _pytest.raises(ValueError, match="no data"):
            t.snapshot()

    # --- vacuum + checkpoint, then audit every version's time travel
    t.vacuum(retain_versions=retain)
    t.checkpoint_log()
    latest = t.version()
    horizon = latest - retain
    for v, st_v in states.items():
        if not st_v:
            with _pytest.raises(ValueError, match="no data"):
                t.snapshot(version=v)
            continue
        try:
            got = {r["id"]: r["val"] for r in t.snapshot(version=v).collect()}
        except ValueError:
            raise  # "version does not exist" would be a log corruption
        except Exception:
            # failed loudly: only legal for versions OUTSIDE the
            # retention window whose units were actually vacuumed
            assert v < horizon, (
                f"version {v} is inside the retention window "
                f"[{horizon}, {latest}] but failed to open"
            )
            continue
        assert got == st_v, f"time travel to v{v} answered wrong after vacuum"


@given(st.lists(_LT_OP, min_size=1, max_size=4), st.integers(1, 3))
@settings(max_examples=4, deadline=None)
def test_changefeed_replication_matches_dict_model(spark, ops, cap):
    """End-to-end change-feed property: replicating a source LogTable
    through run_changefeed_transform (drained mid-sequence after every
    other op AND at the end, with a random micro-batch version cap)
    leaves the target equal to the dict-model replay of the same ops —
    the consumer's bootstrap/incremental/delete paths compose to the
    source's net state regardless of where the drains land."""
    import tempfile

    import pytest as _pytest

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        run_changefeed_transform,
    )

    work = tempfile.mkdtemp(prefix="cf_prop_")
    a = LogTable(spark, f"{work}/a", key="id", n_buckets=2)
    b = LogTable(spark, f"{work}/b", key="id", n_buckets=2)
    cur = f"{work}/cursor.json"
    model = {0: "z"}
    a.create(spark.createDataFrame([(0, "z")], "id long, val string"))
    for i, (kind, kvs) in enumerate(ops):
        if kind in ("upsert", "deferred"):
            df = spark.createDataFrame(kvs, "id long, val string")
            (a.upsert if kind == "upsert" else a.upsert_deferred)(df)
            model.update(dict(kvs))
        elif kind == "delete":
            ks = [k for k, _ in kvs]
            a.delete_keys(spark.createDataFrame([(k,) for k in ks], "id long"))
            for k in ks:
                model.pop(k, None)
        elif kind == "compact":
            a.compact()
        else:
            a.checkpoint_log()
        if i % 2 == 1:
            run_changefeed_transform(
                spark, a, b, cur, max_versions_per_batch=cap
            )
    run_changefeed_transform(spark, a, b, cur, max_versions_per_batch=cap)
    if model:
        got = {r["id"]: r["val"] for r in b.snapshot().collect()}
        assert got == model
    else:
        with _pytest.raises(ValueError, match="no data"):
            b.snapshot()


@given(st.lists(_LT_OP, min_size=2, max_size=5), st.integers(1, 2))
@settings(max_examples=4, deadline=None)
def test_changefeed_producer_concurrent_drain_matches_model(spark, ops, cap):
    """Producer-concurrent drain property (VERDICT r6 #3): commits
    landing DURING a drain — injected from the after_apply seam, i.e.
    between a batch's target commit and its cursor persist, the widest
    interleaving window — just extend the drain (the loop re-reads
    source.version() at each loop head). Whatever interleaving of
    random ops and micro-batches results, the target equals the dict
    model's replay. Extends the round-6 property, which only drained
    BETWEEN ops."""
    import tempfile

    import pytest as _pytest

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        run_changefeed_transform,
    )

    work = tempfile.mkdtemp(prefix="cf_conc_")
    a = LogTable(spark, f"{work}/a", key="id", n_buckets=2)
    b = LogTable(spark, f"{work}/b", key="id", n_buckets=2)
    cur = f"{work}/cursor.json"
    model = {0: "z"}
    a.create(spark.createDataFrame([(0, "z")], "id long, val string"))

    def apply_op(kind, kvs):
        if kind in ("upsert", "deferred"):
            df = spark.createDataFrame(kvs, "id long, val string")
            (a.upsert if kind == "upsert" else a.upsert_deferred)(df)
            model.update(dict(kvs))
        elif kind == "delete":
            ks = [k for k, _ in kvs]
            a.delete_keys(spark.createDataFrame([(k,) for k in ks], "id long"))
            for k in ks:
                model.pop(k, None)
        elif kind == "compact":
            a.compact()
        else:
            a.checkpoint_log()

    pending = list(ops)
    apply_op(*pending.pop(0))

    def feeder(upto, tv):
        # one more producer op lands INSIDE the drain, after this
        # batch's target commit but before its cursor persist
        if pending:
            apply_op(*pending.pop(0))

    # ops that commit no version (checkpoint) can leave the drain with
    # nothing new to pull — re-invoke until the op list is exhausted,
    # then once more to drain the tail
    while True:
        run_changefeed_transform(
            spark, a, b, cur,
            max_versions_per_batch=cap, after_apply=feeder,
        )
        if not pending:
            break
        apply_op(*pending.pop(0))
    run_changefeed_transform(spark, a, b, cur, max_versions_per_batch=cap)
    if model:
        got = {r["id"]: r["val"] for r in b.snapshot().collect()}
        assert got == model
    else:
        with _pytest.raises(ValueError, match="no data"):
            b.snapshot()


@given(st.lists(_LT_OP, min_size=1, max_size=4), st.integers(0, 2))
@settings(max_examples=4, deadline=None)
def test_changefeed_vacuum_truncation_rebootstrap_matches_model(
    spark, ops, retain
):
    """Retention property extended to the FEED (VERDICT r6 #1): after a
    consumer bootstraps, the producer applies a random op sequence,
    compacts (rewriting every live unit), and vacuums — which may or
    may not physically delete the units the lagging cursor needs. A
    drain with on_truncated="rebootstrap" must converge to the dict
    model either way: incrementally when the units survived, via the
    typed-truncation reconcile when they did not — never a raw
    missing-file error, never a wrong answer."""
    import tempfile

    import pytest as _pytest

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
    from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
        run_changefeed_transform,
    )

    work = tempfile.mkdtemp(prefix="cf_vac_")
    a = LogTable(spark, f"{work}/a", key="id", n_buckets=2)
    b = LogTable(spark, f"{work}/b", key="id", n_buckets=2)
    cur = f"{work}/cursor.json"
    model = {0: "z"}
    a.create(spark.createDataFrame([(0, "z")], "id long, val string"))
    run_changefeed_transform(spark, a, b, cur)  # consumer now lags here
    for kind, kvs in ops:
        if kind in ("upsert", "deferred"):
            df = spark.createDataFrame(kvs, "id long, val string")
            (a.upsert if kind == "upsert" else a.upsert_deferred)(df)
            model.update(dict(kvs))
        elif kind == "delete":
            ks = [k for k, _ in kvs]
            a.delete_keys(spark.createDataFrame([(k,) for k in ks], "id long"))
            for k in ks:
                model.pop(k, None)
        elif kind == "compact":
            a.compact()
        else:
            a.checkpoint_log()
    if model:
        a.compact()  # rewrite live units so vacuum can kill old ones
    a.vacuum(retain_versions=retain)
    run_changefeed_transform(spark, a, b, cur, on_truncated="rebootstrap")
    if model:
        got = {r["id"]: r["val"] for r in b.snapshot().collect()}
        assert got == model
    else:
        try:
            got = {r["id"]: r["val"] for r in b.snapshot().collect()}
        except ValueError:
            got = {}
        assert got == {}


@given(
    st.lists(_LT_OP, min_size=1, max_size=5),
    st.integers(0, 100),
    st.integers(0, 100),
)
@settings(max_examples=8, deadline=None)
def test_feed_estimate_matches_full_walk(spark, ops, pick_lo, pick_hi):
    """Exactness of the early-exit interval walk: for ANY op
    interleaving and interval, ``feed_interval_stats`` equals the diff's
    price computed the long way — the lo + hi live units, and their
    rows, whose bucket range meets the buckets any commit in the
    interval touched (a delta unit covers its whole range), from the
    full ``history()`` with no early exit. The walk may stop once every
    bucket is touched only because the touched set, and so the price,
    cannot grow past that point; this pins that it never stops
    sooner."""
    import tempfile

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable

    path = tempfile.mkdtemp(prefix="lt_estimate_")
    t = LogTable(spark, path, key="id", n_buckets=2)
    t.create(spark.createDataFrame([(0, "z")], "id long, val string"))
    for kind, kvs in ops:
        if kind in ("upsert", "deferred"):
            df = spark.createDataFrame(kvs, "id long, val string")
            (t.upsert if kind == "upsert" else t.upsert_deferred)(df)
        elif kind == "delete":
            t.delete_keys(
                spark.createDataFrame([(k,) for k, _ in kvs], "id long")
            )
        elif kind == "compact":
            t.compact()
        else:
            t.checkpoint_log()
    def span(u) -> set[int]:
        if "bucket" in u:
            return {u["bucket"]}
        first, last = u["bucket_range"]
        return set(range(first, last + 1))

    latest = t.version()
    history = t.history()
    lo = pick_lo % (latest + 1)
    hi = lo + pick_hi % (latest - lo + 1)
    for a, b in {(lo, hi), (0, latest), (latest // 2, latest)}:
        touched = set().union(
            *(
                span(u)
                for e in history
                if a < e["version"] <= b
                for u in e["added"] + e["removed"]
            )
        )
        ends = [t._live_units(as_of=a), t._live_units(as_of=b)]
        read = [
            u
            for live in ends
            for u in live.values()
            if span(u) & touched
        ]
        live_rows = sum(u.get("rows") or 0 for u in ends[1].values())
        interval_rows = sum(u.get("rows") or 0 for u in read)
        assert t.feed_interval_stats(a, b) == {
            "interval_units": len(read),
            "interval_rows": interval_rows,
            "live_units": len(ends[1]),
            "live_rows": live_rows,
            "net_change_ratio": interval_rows / max(live_rows, 1),
        }, (a, b)


_DEFERRED_OP = st.tuples(
    st.sampled_from(["deferred", "deferred", "compact", "checkpoint"]),
    _LT_KVS,
)


@given(
    st.lists(_DEFERRED_OP, min_size=1, max_size=5),
    st.integers(0, 100),
    st.integers(0, 100),
)
@settings(max_examples=6, deadline=None)
def test_post_images_match_snapshot_and_cover_the_diff(
    spark, ops, pick_lo, pick_hi
):
    """The post-image tier on random deferred-upsert / compact /
    checkpoint sequences: for an interval holding a deferred upsert,
    ``post_images(lo, hi)`` returns one row per key, its keys are
    exactly the keys the interval's deferred upserts wrote, every row
    equals ``snapshot(hi)``'s row for its key, and the key set holds
    every insert/update key of ``changes(lo, hi)``. An interval with
    no deferred upsert is left to the diff (None)."""
    import tempfile

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable

    path = tempfile.mkdtemp(prefix="lt_post_image_")
    t = LogTable(spark, path, key="id", n_buckets=2)
    t.create(spark.createDataFrame([(0, "z")], "id long, val string"))
    written: dict[int, set[int]] = {}
    for kind, kvs in ops:
        if kind == "deferred":
            t.upsert_deferred(
                spark.createDataFrame(kvs, "id long, val string")
            )
            written[t.version()] = {k for k, _ in kvs}
        elif kind == "compact":
            t.compact()
        else:
            t.checkpoint_log()
    latest = t.version()
    lo = pick_lo % (latest + 1)
    hi = lo + pick_hi % (latest - lo + 1)
    for a, b in {(lo, hi), (0, latest)}:
        keys = set().union(
            *(ks for v, ks in written.items() if a < v <= b)
        )
        feed = t.post_images(a, b)
        if not keys:
            assert feed is None, (a, b)
            continue
        assert t.last_feed_info["tier"] == "post_image"
        snap = t.snapshot(version=b)
        assert feed.columns == ["change", *snap.columns]
        rows = feed.collect()
        assert {r["change"] for r in rows} == {"upsert"}
        got = {r["id"]: r["val"] for r in rows}
        assert len(got) == len(rows), "one row per key"
        assert set(got) == keys, (a, b)
        want = {r["id"]: r["val"] for r in snap.collect()}
        assert got == {k: want[k] for k in keys}, (a, b)
        net = {
            r["id"]
            for r in t.changes(a, b).collect()
            if r["change"] != "delete"
        }
        assert net <= keys, (a, b)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                      # worker index
            st.sampled_from(["acquire", "renew", "release"]),
            st.integers(0, 40),                     # minute offset
        ),
        min_size=5,
        max_size=25,
    )
)
@settings(max_examples=30, deadline=None)
def test_lease_protocol_matches_model(tmp_path_factory, ops):
    """Model-based lease check (round 8 — the renewal protocol was
    reworked to the heartbeat sidecar): any sequence of acquire/renew/
    release by three workers under an injected monotonic clock must
    match a dict model of the reference's lease semantics
    (EtlProcess.cs:87-103): acquire wins iff free or the holder's last
    liveness stamp is older than the 5-minute timeout; renew succeeds
    iff the caller's tenancy still holds, extending liveness WITHOUT
    changing the tenancy identity; release frees iff the exact tenancy
    (worker, acquire start_time) still holds. Invariant throughout: at
    most one live tenancy."""
    from datetime import datetime, timedelta

    from durable_functions_cosmosdb_etl_spark.operators.lease import (
        DEFAULT_TIMEOUT_MIN,
        acquire_lease,
        release_lease,
        renew_lease,
    )

    path = str(tmp_path_factory.mktemp("lease_model") / "lease.json")
    t0 = datetime(2026, 2, 1, 9, 0, 0)
    # model: holder = None | {"worker", "start", "live_until"}; each
    # worker's latest truthy handle mirrors the caller-side LeaseHandle
    holder = None
    handles: dict[str, object] = {}
    for widx, op, minute in sorted(ops, key=lambda o: o[2]):
        w = f"w{widx}"
        now = t0 + timedelta(minutes=minute)

        def live() -> bool:
            return holder is not None and now <= holder["live_until"]

        if op == "acquire":
            got = acquire_lease(path, w, now=now)
            expect = not live()
            assert bool(got) == expect, (w, "acquire", minute, holder)
            if got:
                holder = {
                    "worker": w,
                    "start": got.start_time,
                    "live_until": now + timedelta(
                        minutes=DEFAULT_TIMEOUT_MIN
                    ),
                }
                handles[w] = got
        elif op == "renew":
            h = handles.get(w)
            if h is None:
                continue  # a worker never renews before acquiring
            got = renew_lease(path, h.worker, h.start_time, now=now)
            expect = (
                holder is not None
                and holder["worker"] == w
                and holder["start"] == h.start_time
            )
            assert bool(got) == expect, (w, "renew", minute, holder)
            if got:
                # identity is stable; only liveness advances
                assert got.start_time == h.start_time
                holder["live_until"] = now + timedelta(
                    minutes=DEFAULT_TIMEOUT_MIN
                )
        else:  # release
            h = handles.get(w)
            if h is None:
                continue
            release_lease(path, h.worker, now=now, start_time=h.start_time)
            if (
                holder is not None
                and holder["worker"] == w
                and holder["start"] == h.start_time
            ):
                holder = None


@given(
    ops=st.lists(
        st.sampled_from(["commit", "checkpoint", "foreign", "read"]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=30, deadline=None)
def test_log_listing_memo_matches_fresh_handle(tmp_path_factory, ops):
    """Model-based check of the round-12 log-dir listing memo: under
    any interleaving of commits, checkpoints, foreign files, and reads,
    a long-lived handle (whose memo survives across operations) must
    report exactly what a freshly-constructed handle (no memo) computes
    from disk — version(), the full entry sequence, a bounded entry
    range, and checkpoint selection. Commits and checkpoints are
    written under the names the writers use (the next version, and a
    checkpoint at the latest one), which is what the memo's name rule
    checks for."""
    import json as _json

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        LogTable,
    )

    base = str(tmp_path_factory.mktemp("listing_model") / "t")
    t = LogTable(None, base, key="id", n_buckets=4)
    log_dir = os.path.join(base, "_log")
    v = -1
    n_foreign = 0
    for op in ops:
        if op == "commit":
            v += 1
            with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
                _json.dump(
                    {"version": v, "op": "upsert", "added": [], "removed": []},
                    f,
                )
        elif op == "checkpoint" and v >= 0:
            with open(
                os.path.join(log_dir, f"_checkpoint.{v:020d}.json"), "w"
            ) as f:
                _json.dump({"version": v, "live": []}, f)
        elif op == "foreign":
            n_foreign += 1
            with open(
                os.path.join(log_dir, f"zz-manual-{n_foreign}.json"), "w"
            ) as f:
                f.write("{}")
        # every op (including bare reads) compares the memoized handle
        # against a fresh no-memo handle — the model
        fresh = LogTable(None, base, key="id", n_buckets=4)
        assert t.version() == fresh.version()
        assert [e["version"] for e in t._log_entries()] == [
            e["version"] for e in fresh._log_entries()
        ]
        mid = v // 2
        assert [e["version"] for e in t._log_entries(after=mid, upto=v)] == [
            e["version"] for e in fresh._log_entries(after=mid, upto=v)
        ]
        for as_of in (None, mid):
            cp_t = t._latest_checkpoint(as_of=as_of)
            cp_f = fresh._latest_checkpoint(as_of=as_of)
            assert (cp_t is None) == (cp_f is None)
            if cp_t is not None:
                assert cp_t["version"] == cp_f["version"]
