"""LogTable: log-structured MERGE sink (sinks/logtable.py).

Covers the transactional properties the plain-parquet sinks can't give:
snapshot isolation (readers keep a consistent file set mid-upsert),
time travel, atomic versioning (O_EXCL commit claim), replay
idempotence in table state, delete, compaction, and vacuum.
"""

from __future__ import annotations

import os

import pytest

from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
    ConcurrentCommitError,
    LogTable,
)


def _rows(df):
    return sorted((r["id"], r["val"]) for r in df.collect())


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, val string")


def test_create_and_snapshot_roundtrip(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b"), (3, "c")]
    assert t.version() == 0
    assert set(t.snapshot().columns) == {"id", "val"}  # __b hidden


def test_create_twice_rejected(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id")
    t.create(_mk(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="already exists"):
        t.create(_mk(spark, [(2, "b")]))


def test_upsert_updates_and_inserts(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.upsert(_mk(spark, [(2, "B2"), (4, "d")]))
    assert _rows(t.snapshot()) == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
    # invariant: exactly one row per key
    n = t.snapshot().groupBy("id").count().filter("count > 1").count()
    assert n == 0


def test_time_travel(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    t.upsert(_mk(spark, [(2, "B2")]))
    t.upsert(_mk(spark, [(1, "A3"), (9, "i")]))
    assert _rows(t.snapshot(0)) == [(1, "a"), (2, "b")]
    assert _rows(t.snapshot(1)) == [(1, "a"), (2, "B2")]
    assert _rows(t.snapshot(2)) == [(1, "A3"), (2, "B2"), (9, "i")]
    with pytest.raises(ValueError, match="does not exist"):
        t.snapshot(7)


def test_snapshot_isolation_across_upsert(spark, tmp_path):
    """A reader's DataFrame stays valid and consistent through a
    subsequent upsert — the merge writes NEW files and only logically
    removes old units, so the pinned file set still exists on disk."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(i, f"v{i}") for i in range(20)]))
    pinned = t.snapshot()  # lazy plan over version-0 files
    t.upsert(_mk(spark, [(i, "CHANGED") for i in range(20)]))
    # old snapshot still reads the ORIGINAL content after the upsert
    assert _rows(pinned) == [(i, f"v{i}") for i in range(20)]
    assert _rows(t.snapshot()) == [(i, "CHANGED") for i in range(20)]


def test_upsert_batch_dup_keys_order_col(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(spark.createDataFrame([(1, "a", 0)], "id long, val string, ver long"))
    up = spark.createDataFrame(
        [(1, "low", 1), (1, "high", 9), (2, "x", 5)],
        "id long, val string, ver long",
    )
    t.upsert(up, order_col="ver")
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got == {1: "high", 2: "x"}


def test_upsert_replay_idempotent_state(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    up = _mk(spark, [(2, "B"), (3, "c")])
    t.upsert(up)
    state1 = _rows(t.snapshot())
    t.upsert(up)  # redelivery of the same batch
    assert _rows(t.snapshot()) == state1
    assert t.version() == 2


def test_only_affected_buckets_rewritten(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=64)
    t.create(_mk(spark, [(i, f"v{i}") for i in range(200)]))
    v = t.upsert(_mk(spark, [(7, "CHANGED")]))
    entry = t.history()[v]
    # one key → exactly one bucket added and one replaced
    assert len(entry["added"]) == 1
    assert len(entry["removed"]) == 1
    assert entry["added"][0]["bucket"] == entry["removed"][0]["bucket"]


def test_delete_keys(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.delete_keys(spark.createDataFrame([(2,)], "id long"))
    assert _rows(t.snapshot()) == [(1, "a"), (3, "c")]


def test_delete_all_then_snapshot_raises(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    t.delete_keys(spark.createDataFrame([(1,)], "id long"))
    with pytest.raises(ValueError, match="no data"):
        t.snapshot()
    # but time travel to before the delete still works
    assert _rows(t.snapshot(0)) == [(1, "a")]


def test_append_does_not_dedupe(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    t.append(_mk(spark, [(1, "dup"), (2, "b")]))
    assert len(_rows(t.snapshot())) == 3


def test_compact_preserves_content(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(i, f"v{i}") for i in range(10)]))
    for i in range(5):
        t.upsert(_mk(spark, [(i, f"up{i}")]))
    before = _rows(t.snapshot())
    v = t.compact()
    assert _rows(t.snapshot()) == before
    # live set now points only at the compaction commit's units
    live_dirs = {
        u.split("/__bucket=")[0] for u in t._live_units()
    }
    assert live_dirs == {f"data/c{v}"}


def test_concurrent_commit_detected(spark, tmp_path):
    """The commit claims EXACTLY base+1 with O_EXCL: a racing writer
    landing that version between our base-read and our claim surfaces
    as ConcurrentCommitError, never a silent lost-update on top of a
    snapshot we did not merge against."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    # simulate the race: our writer computed base=0 (so claims v1), and
    # a rival lands v1 first
    rogue = os.path.join(str(tmp_path / "t"), "_log", f"{1:020d}.json")
    with open(rogue, "w") as f:
        f.write('{"version": 1, "op": "append", "added": [], "removed": []}')
    with pytest.raises(ConcurrentCommitError):
        t._commit("upsert", [], [], v=1)
    # table state unaffected by the failed commit
    assert _rows(t.snapshot(0)) == [(1, "a")]


def test_commit_lands_on_current_base(spark, tmp_path):
    """A commit by another writer BEFORE our base-read is not a
    conflict: the next op simply merges on top of it."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    rogue = os.path.join(str(tmp_path / "t"), "_log", f"{1:020d}.json")
    with open(rogue, "w") as f:
        f.write('{"version": 1, "op": "append", "added": [], "removed": []}')
    v = t.upsert(_mk(spark, [(2, "b")]))  # base=1 → claims v2
    assert v == 2
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b")]


def test_vacuum_reclaims_dead_units_and_orphans(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(i, f"v{i}") for i in range(10)]))
    t.upsert(_mk(spark, [(i, "X") for i in range(10)]))  # replaces all buckets
    # orphan: a data dir that never got a log entry (crashed writer)
    orphan = tmp_path / "t" / "data" / "c99"
    orphan.mkdir()
    (orphan / "junk").write_text("x")
    before = _rows(t.snapshot())
    deleted = t.vacuum(retain_versions=0)
    assert any(u.startswith("data/c0") for u in deleted)  # v0 units dead
    assert "data/c99" in deleted
    assert _rows(t.snapshot()) == before  # latest unaffected
    with pytest.raises(Exception):
        t.snapshot(0).collect()  # time travel to vacuumed version fails


def test_changes_classifies_insert_update_delete(spark, tmp_path):
    """changes(v1, v2) is the produced change feed: the diff of two
    snapshots classified per key, with update rows carrying NEW values
    (including explicit NULLs — no coalesce resurrection of old data)."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))          # v0
    t.upsert(_mk(spark, [(2, "B2"), (4, "d")]))                   # v1
    t.upsert(spark.createDataFrame([(3, None)], "id long, val string"))  # v2
    t.delete_keys(spark.createDataFrame([(1,)], "id long"))       # v3
    got = {
        r["id"]: (r["change"], r["val"])
        for r in t.changes(0, 3).collect()
    }
    assert got == {
        1: ("delete", "a"),    # delete carries the deleted values
        2: ("update", "B2"),
        3: ("update", None),   # NULLed column surfaces as NULL
        4: ("insert", "d"),
    }
    # unchanged keys are absent; adjacent-version feeds compose
    assert {r["id"] for r in t.changes(0, 1).collect()} == {2, 4}
    assert {r["id"] for r in t.changes(2, 3).collect()} == {1}
    # the feed is NET: a value updated away and back cancels, a
    # same-value rewrite and a delete of a key that never existed are
    # no change, and an interval spanning a compact nets the same
    t.upsert(_mk(spark, [(2, "x")]))                              # v4
    t.upsert(_mk(spark, [(2, "B2"), (4, "d")]))                   # v5
    t.delete_keys(spark.createDataFrame([(9,)], "id long"))       # v6
    t.compact()                                                   # v7
    assert t.changes(3, 7).count() == 0
    assert {
        r["id"]: (r["change"], r["val"])
        for r in t.changes(0, 7).collect()
    } == got


def test_changes_default_to_latest(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    t.upsert(_mk(spark, [(2, "b")]))
    rows = t.changes(0).collect()
    assert [(r["change"], r["id"]) for r in rows] == [("insert", 2)]


def test_schema_evolution_on_upsert(spark, tmp_path):
    """Upserts may add columns (stored rows read NULL there) or omit
    columns (the replaced row version gets NULL — whole-row-replace
    semantics); reads take the union of the pre/post-evolution units'
    footer schemas (older units read NULL in the new column), and the
    change feed spans the boundary."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))  # schema: id, val
    t.upsert(
        spark.createDataFrame(
            [(2, "B2", "en"), (3, "c", "de")],
            "id long, val string, lang string",
        )
    )  # adds `lang`
    snap = {r["id"]: (r["val"], r["lang"]) for r in t.snapshot().collect()}
    assert snap == {1: ("a", None), 2: ("B2", "en"), 3: ("c", "de")}
    # the change feed crosses the schema boundary: old side lacks lang
    got = {
        r["id"]: (r["change"], r["lang"])
        for r in t.changes(0).collect()
    }
    assert got == {2: ("update", "en"), 3: ("insert", "de")}
    # an upsert OMITTING val NULLs it on the replaced row (documented
    # whole-row-replace semantics)
    t.upsert(spark.createDataFrame([(1, "fr")], "id long, lang string"))
    row1 = t.snapshot().filter("id = 1").first()
    assert row1["val"] is None and row1["lang"] == "fr"


def test_log_checkpoint_equivalent_and_time_travel(spark, tmp_path):
    """checkpoint_log() materializes the live-unit map: replay from the
    checkpoint gives the same snapshots, commits after it apply on top,
    and time travel BEFORE the checkpoint falls back to full replay."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))          # v0
    t.upsert(_mk(spark, [(2, "B1")]))                   # v1
    pre_cp = t._live_units()
    assert t.checkpoint_log() == 1
    assert t._live_units() == pre_cp                    # replay via cp identical
    t.upsert(_mk(spark, [(3, "c")]))                    # v2 (after cp)
    assert _rows(t.snapshot()) == [(1, "a"), (2, "B1"), (3, "c")]
    assert _rows(t.snapshot(0)) == [(1, "a"), (2, "b")]  # pre-cp full replay
    assert _rows(t.snapshot(1)) == [(1, "a"), (2, "B1")]
    # checkpoints are invisible to history/version bookkeeping
    assert [e["version"] for e in t.history()] == [0, 1, 2]
    assert t.version() == 2


def test_checkpointed_replay_never_opens_old_entries(spark, tmp_path):
    """The replay bound is real, not a post-parse skip: after
    checkpoint_log(), snapshot construction must not even OPEN
    pre-checkpoint log files — proven by corrupting one and opening the
    latest snapshot anyway. Time travel BELOW the checkpoint replays
    from scratch and must now fail loudly on the corrupt entry."""
    import json as _json

    p = str(tmp_path / "t")
    t = LogTable(spark, p, key="id", n_buckets=2)
    t.create(_mk(spark, [(1, "a")]))         # v0
    t.upsert(_mk(spark, [(2, "b")]))         # v1
    t.upsert(_mk(spark, [(3, "c")]))         # v2
    cp = t.checkpoint_log()
    assert cp == 2
    t.upsert(_mk(spark, [(4, "d")]))         # v3, after the checkpoint
    v1 = os.path.join(p, "_log", f"{1:020d}.json")
    with open(v1, "w") as f:
        f.write('{"version": 1, "op": "upsert", "ad')  # truncated JSON
    t2 = LogTable(spark, p, key="id", n_buckets=2)
    # latest and post-checkpoint reads replay only entries > checkpoint
    assert _rows(t2.snapshot()) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert _rows(t2.snapshot(2)) == [(1, "a"), (2, "b"), (3, "c")]
    # pre-checkpoint time travel must walk the full log → hits v1
    with pytest.raises(_json.JSONDecodeError):
        t2.snapshot(1)


def test_old_checkpoint_bounds_replay_at_old_versions(spark, tmp_path):
    """A replay AT an old version starts from the newest checkpoint at
    or before that version — not from version 0 just because a NEWER
    checkpoint exists (code-review r11: superseded checkpoints survive
    on disk, and without consulting them a lagging feed cursor's
    lo-side rollup — exactly the deep-backlog case the saturation
    gate prices — silently degraded to an O(full history) replay).
    Proven the same way as the never-opens test above: corrupt a
    pre-checkpoint entry; a read BETWEEN the two checkpoints must not
    open it."""
    import json as _json

    p = str(tmp_path / "t")
    t = LogTable(spark, p, key="id", n_buckets=2)
    t.create(_mk(spark, [(1, "a")]))         # v0
    t.upsert(_mk(spark, [(2, "b")]))         # v1
    assert t.checkpoint_log() == 1           # older checkpoint @1
    t.upsert(_mk(spark, [(3, "c")]))         # v2
    mid = t._live_units(as_of=2)
    t.upsert(_mk(spark, [(4, "d")]))         # v3
    assert t.checkpoint_log() == 3           # newer checkpoint @3
    t.upsert(_mk(spark, [(5, "e")]))         # v4
    v0 = os.path.join(p, "_log", f"{0:020d}.json")
    with open(v0, "w") as f:
        f.write('{"version": 0, "op": "create", "ad')  # truncated JSON
    t2 = LogTable(spark, p, key="id", n_buckets=2)
    # v2 sits between the checkpoints: replay starts from the @1
    # checkpoint (never opening v0) and applies only the v2 entry
    assert t2._live_units(as_of=2) == mid
    assert _rows(t2.snapshot(2)) == [(1, "a"), (2, "b"), (3, "c")]
    # a version predating EVERY checkpoint still full-replays → hits v0
    with pytest.raises(_json.JSONDecodeError):
        t2.snapshot(0)


def test_live_units_memo_returns_copies(spark, tmp_path):
    """Per-version live maps are memoized (a diff serve replays each
    end once, not 2-4 times) — the cached map must be handed out as a
    copy, so a caller mutating its result cannot corrupt what the next
    caller sees."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))   # v0
    t.upsert(_mk(spark, [(3, "c")]))             # v1
    m1 = t._live_units(as_of=0)
    assert m1 == t._live_units(as_of=0)          # memo hit, same content
    m1.clear()                                   # caller-side mutation
    assert t._live_units(as_of=0), "cache corrupted by caller mutation"
    # and the memo never serves a stale map for a different version
    assert set(t._live_units(as_of=1)) != set(t._live_units(as_of=0))
    # Inner unit dicts are SHARED with the memo (only the outer map is
    # copied) — since round 12 they are read-only views, so the
    # u["raw"]/u["delta"] tagging pattern applied to a replayed map by
    # mistake fails loudly instead of silently corrupting every later
    # snapshot/feed/estimate at that version (VERDICT r11 #4).
    m2 = t._live_units(as_of=1)
    some_unit = next(iter(m2.values()))
    with pytest.raises(TypeError):
        some_unit["raw"] = True
    # reads are unaffected, and the frozen units still compare / json
    # round-trip through the paths that coerce them (checkpoint_log,
    # _commit removed lists)
    assert some_unit["unit"]
    t.checkpoint_log()                           # json.dump of dict(u)
    t.compact()                                  # removed = live.values()
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b"), (3, "c")]


def test_log_dir_ignores_foreign_files(spark, tmp_path):
    """A stray non-numeric .json in the log dir (a human's
    _checkpoint.bak.json or notes.json) degrades to 'ignored' in ALL
    THREE filename listers — version(), _log_entries, and
    _latest_checkpoint — instead of raising ValueError inside every
    replay (ADVICE r11)."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))   # v0
    t.checkpoint_log()
    t.upsert(_mk(spark, [(3, "c")]))             # v1
    log_dir = os.path.join(t.path, "_log")
    # "²³.json" / "_checkpoint.².json": superscript digits
    # pass str.isdigit() but raise in int() — the exact hole the guard
    # must close needs isdecimal(), not isdigit() (ADVICE r12)
    for foreign in (
        "_checkpoint.bak.json",
        "notes.json",
        "zz-manual.json",
        "²³.json",
        "_checkpoint.².json",
    ):
        with open(os.path.join(log_dir, foreign), "w") as f:
            f.write("{}")
    assert t.version() == 1
    assert [e["version"] for e in t.history()] == [0, 1]
    assert t._latest_checkpoint()["version"] == 0
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b"), (3, "c")]


def test_log_listing_memo_never_stale(spark, tmp_path, monkeypatch):
    """The parsed log-dir listing is memoized until the log's next file
    name appears (at 100k commits the LISTING, not the replay, dominated
    every drain-loop-head read). The memo must never hide a commit or a
    checkpoint at the latest version, must hit right after a write with
    no waiting, and must ignore foreign files."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))             # v0
    assert t.version() == 0
    # a SECOND handle (its own memo) commits: the first handle sees
    # {latest + 1}.json and relists at once
    t2 = LogTable(spark, str(t.path), key="id", n_buckets=4)
    t2.upsert(_mk(spark, [(2, "b")]))            # v1
    assert t.version() == 1
    assert [e["version"] for e in t.history()] == [0, 1]
    # a checkpoint at latest written by the second handle is selected
    assert t._latest_checkpoint() is None
    assert t2.checkpoint_log() == 1
    assert t._latest_checkpoint()["version"] == 1

    # nothing landed: repeat reads are served without a listdir, right
    # after the write, foreign files included
    log_dir = os.path.join(str(t.path), "_log")
    for foreign in ("zz.json", "_checkpoint.bak.json", "x.json.1.tmp"):
        with open(os.path.join(log_dir, foreign), "w") as f:
            f.write("{}")
    listdirs = []
    real_listdir = os.listdir

    def counting_listdir(path):
        listdirs.append(path)
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", counting_listdir)
    assert t.version() == 1
    assert t.version() == 1
    assert t._latest_checkpoint()["version"] == 1
    assert listdirs == []
    monkeypatch.setattr(os, "listdir", real_listdir)

    # a checkpoint for an OLDER version landing after the listing (a
    # racing checkpoint_log whose version() went stale) is not seen at
    # once, and cannot change a result: checkpoints only shorten replay
    t2.upsert(_mk(spark, [(3, "c")]))            # v2
    assert t.version() == 2
    t3 = LogTable(spark, str(t.path), key="id", n_buckets=4)
    monkeypatch.setattr(t3, "version", lambda: 0)
    assert t3.checkpoint_log() == 0
    fresh = LogTable(spark, str(t.path), key="id", n_buckets=4)
    assert _rows(t.snapshot()) == _rows(fresh.snapshot())
    assert t.history() == fresh.history()
    assert _rows(t.snapshot(version=0)) == _rows(fresh.snapshot(version=0))
    # the next commit picks it up
    t2.upsert(_mk(spark, [(4, "d")]))            # v3
    assert t._list_log().cp_versions == [0, 1]
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_open_leaves_log_dir_untouched(spark, tmp_path):
    """Opening a handle on an existing table reads the log only: no file
    under _log/ is created, touched or deleted."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    log_dir = os.path.join(str(t.path), "_log")
    before = {
        n: os.stat(os.path.join(log_dir, n)).st_mtime_ns
        for n in os.listdir(log_dir)
    }
    dir_mtime = os.stat(log_dir).st_mtime_ns
    t2 = LogTable(spark, str(t.path), key="id", n_buckets=4)
    assert t2.version() == 0
    after = {
        n: os.stat(os.path.join(log_dir, n)).st_mtime_ns
        for n in os.listdir(log_dir)
    }
    assert after == before
    assert os.stat(log_dir).st_mtime_ns == dir_mtime


def test_history_ops(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    t.upsert(_mk(spark, [(2, "b")]))
    t.delete_keys(spark.createDataFrame([(1,)], "id long"))
    t.compact()
    assert [e["op"] for e in t.history()] == [
        "create",
        "upsert",
        "delete",
        "compact",
    ]
    assert [e["version"] for e in t.history()] == [0, 1, 2, 3]


def test_foreachbatch_streaming_upsert(spark, tmp_path):
    """LogTable as the upsert sink of a micro-batch pipeline: the same
    change-feed → transform → upsert loop the reference runs
    (EtlProcess.cs:183-206), with redelivery converging to the same
    state because upsert is idempotent in content."""
    src = tmp_path / "src"
    for i, batch in enumerate([[(1, "a"), (2, "b")], [(2, "B"), (3, "c")]]):
        _mk(spark, batch).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "seed")]))

    stream = (
        spark.readStream.schema("id long, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream.writeStream.foreachBatch(
        lambda df, _bid: t.upsert(df) and None
    ).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)
    assert {r["id"]: r["val"] for r in t.snapshot().collect()} == {
        1: "a",
        2: "B",
        3: "c",
    }


def test_meta_mismatch_rejected(spark, tmp_path):
    """{key, n_buckets} are persisted at first commit; reopening with a
    different bucketing would hash the same keys into other buckets and
    silently break one-row-per-key — it must raise instead."""
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        TableMetaError,
    )

    p = str(tmp_path / "t")
    t = LogTable(spark, p, key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    with pytest.raises(TableMetaError):
        LogTable(spark, p, key="id", n_buckets=8)
    with pytest.raises(TableMetaError):
        LogTable(spark, p, key="val", n_buckets=4)
    # same layout reopens fine and keeps working
    t2 = LogTable(spark, p, key="id", n_buckets=4)
    t2.upsert(_mk(spark, [(1, "b")]))
    assert _rows(t2.snapshot()) == [(1, "b")]


def test_crash_between_data_write_and_commit(spark, tmp_path):
    """Kill point: data directory fully written, log entry never lands.
    Readers never see the orphan (not in the log); vacuum reclaims it;
    the next writer proceeds normally at the same version."""
    p = str(tmp_path / "t")
    t = LogTable(spark, p, key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    # simulate the dying writer: runs the data phase of an upsert, then
    # dies before _commit
    up = t._bucketed(_mk(spark, [(2, "X"), (3, "c")]), dedupe=True, order_col=None)
    t._write_commit_dir(up, v=1)
    # a fresh handle sees version 0 content only
    t2 = LogTable(spark, p, key="id", n_buckets=4)
    assert t2.version() == 0
    assert _rows(t2.snapshot()) == [(1, "a"), (2, "b")]
    deleted = t2.vacuum(retain_versions=0)
    assert "data/c1" in deleted
    # the recovered writer redoes the op; same logical result commits
    v = t2.upsert(_mk(spark, [(2, "X"), (3, "c")]))
    assert v == 1
    assert _rows(t2.snapshot()) == [(1, "a"), (2, "X"), (3, "c")]


def test_crash_mid_commit_never_truncates_log(spark, tmp_path):
    """Kill point: commit tmp written (possibly partially), link never
    happened. The version file either exists complete or not at all —
    a half-written tmp is invisible to version()/replay, does not block
    the version number, and vacuum reclaims it."""
    p = str(tmp_path / "t")
    t = LogTable(spark, p, key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    # dying writer's half-written commit payload for v1
    stale = os.path.join(p, "_log", f"{1:020d}.json.12345.tmp")
    with open(stale, "w") as f:
        f.write('{"version": 1, "op": "upsert", "ad')  # truncated JSON
    t2 = LogTable(spark, p, key="id", n_buckets=4)
    assert t2.version() == 0  # tmp not counted
    assert t2.history()  # replay parses fine
    v = t2.upsert(_mk(spark, [(2, "b")]))  # claims v1 unobstructed
    assert v == 1
    assert _rows(t2.snapshot()) == [(1, "a"), (2, "b")]
    deleted = t2.vacuum(retain_versions=1)
    assert f"_log/{1:020d}.json.12345.tmp" in deleted


def test_commit_protocol_seam(spark, tmp_path):
    """The version claim is pluggable: a protocol that refuses the claim
    surfaces as ConcurrentCommitError with the table untouched — the
    interface an S3 conditional-put implementation plugs into."""
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        CommitProtocol,
        PosixCommitProtocol,
    )

    class Refuse(CommitProtocol):
        def claim(self, tmp, final):
            return False

    p = str(tmp_path / "t")
    t = LogTable(spark, p, key="id", n_buckets=4, protocol=Refuse())
    with pytest.raises(ConcurrentCommitError):
        t.create(_mk(spark, [(1, "a")]))
    assert t.version() == -1
    # swap in the real protocol: table works, content atomic
    t2 = LogTable(spark, p, key="id", n_buckets=4, protocol=PosixCommitProtocol())
    t2.create(_mk(spark, [(1, "a")]))
    assert _rows(t2.snapshot()) == [(1, "a")]


# ---------------------------------------------------------------- merge


def _mk3(spark, rows):
    return spark.createDataFrame(rows, "id long, val string, ver long")


def test_merge_column_patch_keeps_unlisted_columns(spark, tmp_path):
    """MERGE updates only update_cols; other target columns keep their
    stored values — the patch semantics upsert deliberately lacks."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk3(spark, [(1, "a", 10), (2, "b", 20)]))
    src = spark.createDataFrame([(2, "B2"), (5, "e")], "id long, val string")
    t.merge(src, update_cols=["val"])
    got = sorted(
        (r["id"], r["val"], r["ver"]) for r in t.snapshot().collect()
    )
    # id=2 patched val, KEPT ver=20; id=5 inserted with NULL ver
    assert got == [(1, "a", 10), (2, "B2", 20), (5, "e", None)]


def test_merge_matched_condition_gates_update(spark, tmp_path):
    """WHEN MATCHED AND s.ver > t.ver: stale source rows leave the
    target untouched (NULL condition counts as fail, SQL-style)."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk3(spark, [(1, "a", 10), (2, "b", 20)]))
    src = _mk3(spark, [(1, "A-new", 11), (2, "B-stale", 19), (3, "c", 1)])
    t.merge(src, matched_condition="s.ver > t.ver")
    got = sorted(
        (r["id"], r["val"], r["ver"]) for r in t.snapshot().collect()
    )
    assert got == [(1, "A-new", 11), (2, "b", 20), (3, "c", 1)]


def test_merge_delete_matched(spark, tmp_path):
    """WHEN MATCHED THEN DELETE — with a condition and not-matched rows
    still inserted."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src = _mk(spark, [(2, "x"), (3, "x"), (9, "i")])
    t.merge(src, delete_matched=True)
    assert _rows(t.snapshot()) == [(1, "a"), (9, "i")]


def test_merge_update_only_skips_inserts(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a")]))
    t.merge(_mk(spark, [(1, "A1"), (7, "g")]), insert_not_matched=False)
    assert _rows(t.snapshot()) == [(1, "A1")]


def test_merge_into_empty_buckets_inserts(spark, tmp_path):
    """Merge whose keys hash only into buckets with no live units takes
    the insert-only path."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=64)
    t.create(_mk(spark, [(1, "a")]))
    # find a key whose bucket differs from id=1's
    import pyspark.sql.functions as F

    b_of = lambda k: spark.range(1).select(  # noqa: E731
        F.pmod(F.xxhash64(F.lit(k).cast("long")), F.lit(64))
    ).first()[0]
    other = next(k for k in range(2, 200) if b_of(k) != b_of(1))
    t.merge(_mk(spark, [(other, "new")]))
    assert _rows(t.snapshot()) == sorted([(1, "a"), (other, "new")])


def test_merge_only_affected_buckets_rewritten(spark, tmp_path):
    """Same locality guarantee as upsert: untouched buckets' units stay
    live across a merge."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(spark.createDataFrame(
        [(i, "v") for i in range(40)], "id long, val string"
    ))
    before = t._live_units()
    t.merge(_mk(spark, [(0, "V0")]))
    after = t._live_units()
    surviving = set(before) & set(after)
    assert surviving, "buckets not hit by the merge must keep their units"


# ---------------------------------------------------- stats & skipping


def test_commit_log_carries_footer_stats(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk3(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    added = t.history()[-1]["added"]
    assert added, "create must add units"
    total_rows = sum(e["rows"] for e in added)
    assert total_rows == 3
    # every unit logs min/max for the numeric column
    for e in added:
        s = e["stats"]["ver"]
        assert s["min"] is not None and s["min"] <= s["max"]
        assert 10 <= s["min"] and s["max"] <= 30


def test_snapshot_where_prunes_units_and_matches_filter(spark, tmp_path):
    """Data skipping: a selective predicate reads strictly fewer files
    than the full snapshot, and returns exactly snapshot().filter()."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    # two commits with DISJOINT ver ranges → the log can prove one
    # commit's units irrelevant to a range predicate
    t.create(_mk3(spark, [(i, "lo", i) for i in range(1, 50)]))
    t.append(_mk3(spark, [(i, "hi", i) for i in range(1000, 1050)]))
    full_files = set(t.snapshot().inputFiles())
    pruned = t.snapshot(where=[("ver", ">=", 1000)])
    pruned_files = set(pruned.inputFiles())
    assert pruned_files < full_files, "stats must prune the lo units"
    expect = sorted(
        (r["id"], r["ver"])
        for r in t.snapshot().filter("ver >= 1000").collect()
    )
    assert sorted((r["id"], r["ver"]) for r in pruned.collect()) == expect
    # equality probe outside every range reads zero rows
    assert t.snapshot(where=[("ver", "==", 500)]).count() == 0


def test_snapshot_where_all_pruned_keeps_schema(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk3(spark, [(1, "a", 10)]))
    out = t.snapshot(where=[("ver", ">", 99)])
    assert out.count() == 0
    assert set(out.columns) == {"id", "val", "ver"}


def test_snapshot_where_string_and_conjunction(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk3(spark, [(1, "apple", 1), (2, "pear", 2), (3, "zeta", 3)]))
    got = t.snapshot(where=[("val", ">=", "pear"), ("ver", "<=", 2)])
    assert [(r["id"], r["val"]) for r in got.collect()] == [(2, "pear")]


def test_stats_survive_checkpoint_replay(spark, tmp_path):
    """checkpoint_log must carry the unit stats forward — otherwise
    pruning silently degrades after the first checkpoint."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk3(spark, [(i, "x", i) for i in range(10)]))
    t.checkpoint_log()
    t.append(_mk3(spark, [(i, "y", i) for i in range(1000, 1010)]))
    live = t._live_units()
    assert all("stats" in e for e in live.values())
    # pruning still works through the checkpointed entries
    pruned = t.snapshot(where=[("ver", ">=", 1000)])
    assert set(pruned.inputFiles()) < set(t.snapshot().inputFiles())
    assert pruned.count() == 10


def test_changes_reads_only_touched_buckets(spark, tmp_path):
    """The feed's scan set is restricted to buckets the interval's
    commits rewrote — not the two full snapshots."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(spark.createDataFrame(
        [(i, "v") for i in range(80)], "id long, val string"
    ))
    v0 = t.version()
    t.upsert(_mk(spark, [(0, "V0")]))
    ch = t.changes(v0)
    got = [(r["change"], r["id"], r["val"]) for r in ch.collect()]
    assert got == [("update", 0, "V0")]
    full = set(t.snapshot().inputFiles()) | set(t.snapshot(v0).inputFiles())
    assert set(ch.inputFiles()) < full, "must not read untouched buckets"


def test_changes_empty_interval_returns_empty_feed(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a")]))
    v = t.version()
    ch = t.changes(v, v)
    assert ch.count() == 0
    assert ch.columns[0] == "change"
    assert {"id", "val"} <= set(ch.columns)


def test_changes_insert_then_delete_nets_to_empty(spark, tmp_path):
    """A key that appears and disappears inside the interval produces no
    change row (snapshot-diff semantics), even though its bucket was
    touched twice."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=8)
    t.create(_mk(spark, [(1, "a")]))
    v0 = t.version()
    t.upsert(_mk(spark, [(50, "temp")]))
    t.delete_keys(spark.createDataFrame([(50,)], "id long"))
    assert t.changes(v0).count() == 0


def test_upsert_deferred_resolves_latest_per_key(spark, tmp_path):
    """Merge-on-read: deferred batches stack as delta units; snapshot
    resolves to the highest generation per key with one row per key."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.upsert_deferred(_mk(spark, [(2, "b2"), (4, "d")]))
    t.upsert_deferred(_mk(spark, [(2, "b3"), (5, "e")]))
    assert _rows(t.snapshot()) == [
        (1, "a"), (2, "b3"), (3, "c"), (4, "d"), (5, "e")
    ]
    assert "__gen" not in t.snapshot().columns
    # time travel: the intermediate version resolves with its own deltas
    assert _rows(t.snapshot(version=1)) == [
        (1, "a"), (2, "b2"), (3, "c"), (4, "d")
    ]
    # in-batch duplicate keys resolve by order_col before the write
    t2 = LogTable(spark, str(tmp_path / "t2"), key="id", n_buckets=4)
    t2.create(_mk(spark, [(1, "a")]))
    dups = spark.createDataFrame(
        [(1, "low", 1), (1, "high", 9)], "id long, val string, ver long"
    )
    t2.upsert_deferred(dups.select("id", "val", "ver"), order_col="ver")
    got = {(r["id"], r["val"]) for r in t2.snapshot().collect()}
    assert got == {(1, "high")}


def test_upsert_deferred_commit_cost_is_batch_only(spark, tmp_path):
    """A deferred upsert adds units without removing or rewriting any —
    the log proves the commit touched only the batch."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(i, f"v{i}") for i in range(40)]))
    v = t.upsert_deferred(_mk(spark, [(1, "x")]))
    entry = [e for e in t.history() if e["version"] == v][0]
    assert entry["op"] == "upsert_delta"
    assert entry["removed"] == []
    assert all(u.get("delta") for u in entry["added"])
    # the single-key batch wrote exactly one bucket unit
    assert len(entry["added"]) == 1


def test_eager_mutators_read_through_deltas(spark, tmp_path):
    """upsert/merge/delete after deferred batches must not resurrect
    shadowed rows or duplicate keys."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    t.upsert_deferred(_mk(spark, [(1, "a2"), (3, "c")]))
    t.upsert(_mk(spark, [(2, "b2")]))
    assert _rows(t.snapshot()) == [(1, "a2"), (2, "b2"), (3, "c")]
    t.delete_keys(spark.createDataFrame([(1,)], "id long"))
    assert _rows(t.snapshot()) == [(2, "b2"), (3, "c")]
    t.merge(_mk(spark, [(3, "c9"), (6, "f")]))
    assert _rows(t.snapshot()) == [(2, "b2"), (3, "c9"), (6, "f")]


def test_compact_folds_deltas_into_base(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    t.upsert_deferred(_mk(spark, [(1, "a2")]))
    before = _rows(t.snapshot())
    t.compact()
    assert _rows(t.snapshot()) == before
    live = t._live_units()
    assert not any(e.get("delta") for e in live.values())
    assert "__gen" not in t.snapshot().columns


def test_snapshot_where_correct_on_dirty_buckets(spark, tmp_path):
    """Stats skipping must not let a stale shadowed base row win: a
    filtered snapshot over dirty buckets equals filter-after-resolve."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(spark.createDataFrame(
        [(i, i) for i in range(20)], "id long, x long"
    ))
    # shift every key's x up by 100 via deferred upsert
    t.upsert_deferred(spark.createDataFrame(
        [(i, i + 100) for i in range(20)], "id long, x long"
    ))
    got = sorted(r["id"] for r in t.snapshot(where=[("x", "<", 50)]).collect())
    # after resolution no row has x<50 — the stale base rows (x<20) must
    # NOT surface even though their units' stats satisfy the predicate
    assert got == []
    got2 = sorted(
        r["id"] for r in t.snapshot(where=[("x", ">=", 110)]).collect()
    )
    assert got2 == list(range(10, 20))


def test_changes_across_deferred_commits(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    t.upsert_deferred(_mk(spark, [(1, "a2"), (3, "c")]))
    feed = {
        (r["change"], r["id"], r["val"]) for r in t.changes(0, 1).collect()
    }
    assert feed == {("update", 1, "a2"), ("insert", 3, "c")}


def test_upsert_deferred_rejects_append_lineage(spark, tmp_path):
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    t.append(_mk(spark, [(1, "dup")]))
    with pytest.raises(ValueError, match="append"):
        t.upsert_deferred(_mk(spark, [(2, "b")]))


def test_append_taint_survives_eager_rewrite(spark, tmp_path):
    """Laundering regression: an eager upsert rewrites buckets holding
    append-duplicate rows into units re-tagged op='upsert' WHILE
    PRESERVING the duplicates — the raw taint must ride along, or
    upsert_deferred is accepted and merge-on-read resolution silently
    drops previously-visible rows from every snapshot."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=1)
    t.create(_mk(spark, [(1, "a")]))
    t.append(_mk(spark, [(1, "dup")]))          # duplicate key 1
    t.upsert(_mk(spark, [(2, "b")]))            # rewrites the bucket
    # duplicates survived the rewrite...
    assert sorted(r["val"] for r in t.snapshot().collect()) == [
        "a", "b", "dup",
    ]
    # ...so deferred upserts must still refuse
    with pytest.raises(ValueError, match="raw"):
        t.upsert_deferred(_mk(spark, [(3, "c")]))
    before = _rows(t.snapshot())
    # compact doesn't launder either
    t.compact()
    with pytest.raises(ValueError, match="raw"):
        t.upsert_deferred(_mk(spark, [(3, "c")]))
    assert _rows(t.snapshot()) == before


def test_certify_unique_clears_taint_or_raises(spark, tmp_path):
    """certify_unique: raises on a genuine duplicate (drops nothing);
    after the duplicate is repaired it rewrites the tainted buckets
    byte-equivalent and upsert_deferred is accepted again."""
    # n_buckets=1: the surviving keys share the raw unit's bucket, so
    # the taint persists through the repair rewrites until certified
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=1)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    t.append(_mk(spark, [(1, "dup")]))
    with pytest.raises(ValueError, match="certify_unique failed"):
        t.certify_unique()
    # repair: delete the duplicated key entirely, then re-insert one row
    t.delete_keys(spark.createDataFrame([(1,)], "id long"))
    t.upsert(_mk(spark, [(1, "a9")]))
    before = _rows(t.snapshot())
    v = t.certify_unique()
    assert v == t.version()
    assert _rows(t.snapshot()) == before       # content unchanged
    t.upsert_deferred(_mk(spark, [(3, "c")]))  # accepted now
    assert _rows(t.snapshot()) == sorted(before + [(3, "c")])
    assert t.certify_unique() is None          # clean table → no-op


def test_untagged_units_are_untrusted(spark, tmp_path):
    """Units written by older module versions carry no op tag; the
    deferred-upsert guard must treat them as raw, not assume they were
    merged."""
    import json as _json

    p = str(tmp_path / "t")
    t = LogTable(spark, p, key="id", n_buckets=2)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    # simulate the legacy log: strip op tags from every unit entry
    log = os.path.join(p, "_log", f"{0:020d}.json")
    with open(log) as f:
        e = _json.load(f)
    for u in e["added"]:
        u.pop("op", None)
    os.unlink(log)
    with open(log, "w") as f:
        _json.dump(e, f)
    t2 = LogTable(spark, p, key="id", n_buckets=2)
    with pytest.raises(ValueError, match="raw"):
        t2.upsert_deferred(_mk(spark, [(3, "c")]))
    t2.certify_unique()                        # proves the invariant
    t2.upsert_deferred(_mk(spark, [(3, "c")]))
    assert _rows(t2.snapshot()) == [(1, "a"), (2, "b"), (3, "c")]


# ------------------------------------------- conditional-put protocol


def _protocols():
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        ConditionalPutCommitProtocol,
        PosixCommitProtocol,
    )

    return [
        pytest.param(PosixCommitProtocol, id="posix-link"),
        pytest.param(ConditionalPutCommitProtocol, id="conditional-put"),
    ]


@pytest.mark.parametrize("proto", _protocols())
def test_protocol_roundtrip(spark, tmp_path, proto):
    """create/upsert/delete/snapshot/time-travel all behave identically
    over both commit protocols."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4,
                 protocol=proto())
    t.create(_mk(spark, [(1, "a"), (2, "b")]))
    t.upsert(_mk(spark, [(2, "B"), (3, "c")]))
    t.delete_keys(spark.createDataFrame([(1,)], "id long"))
    assert _rows(t.snapshot()) == [(2, "B"), (3, "c")]
    assert _rows(t.snapshot(0)) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("proto", _protocols())
def test_protocol_concurrent_commit_detected(spark, tmp_path, proto):
    """A rival landing base+1 between our base-read and our claim is a
    ConcurrentCommitError under BOTH protocols; the table is untouched."""
    p = str(tmp_path / "t")
    t = LogTable(spark, p, key="id", n_buckets=4, protocol=proto())
    t.create(_mk(spark, [(1, "a")]))
    rogue = os.path.join(p, "_log", f"{1:020d}.json")
    with open(rogue, "w") as f:
        f.write('{"version": 1, "op": "append", "added": [], "removed": []}')
    with pytest.raises(ConcurrentCommitError):
        t._commit("upsert", [], [], v=1)
    assert _rows(t.snapshot(0)) == [(1, "a")]


def test_conditional_put_race_loser_aborts_cleanly(spark, tmp_path):
    """Injected race in the conditional-put window: a rival writer's
    object lands between our upload and the store's atomic section. Our
    put must lose (If-None-Match), the rival's content must survive
    intact, and our staging object is a vacuumable orphan."""
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        ConditionalPutCommitProtocol,
    )

    p = str(tmp_path / "t")
    rogue = os.path.join(p, "_log", f"{1:020d}.json")

    def rival_lands():
        if not os.path.exists(rogue):
            with open(rogue, "w") as f:
                f.write(
                    '{"version": 1, "op": "append", '
                    '"added": [], "removed": []}'
                )

    t = LogTable(
        spark, p, key="id", n_buckets=4,
        protocol=ConditionalPutCommitProtocol(),
    )
    t.create(_mk(spark, [(1, "a")]))
    t.protocol.before_put = rival_lands
    with pytest.raises(ConcurrentCommitError):
        t.upsert(_mk(spark, [(2, "b")]))
    # rival's commit content is intact (not clobbered by the loser)
    with open(rogue) as f:
        assert '"op": "append"' in f.read()
    # loser's data dir is an unreferenced orphan; vacuum reclaims it
    t.protocol.before_put = None
    deleted = t.vacuum(retain_versions=0)
    assert "data/c1" in deleted
    v = t.upsert(_mk(spark, [(2, "b")]))  # recovers on top of the rival
    assert v == 2
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b")]


def test_conditional_put_crash_mid_upload_leaves_no_claim(spark, tmp_path):
    """A writer dying between upload and the store's atomic section
    leaves a staging orphan and NO version claim — a fresh writer
    proceeds at the same version (no wedge; flock dies with the
    process) and vacuum reclaims the staging object."""
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        ConditionalPutCommitProtocol,
    )

    class Die(RuntimeError):
        pass

    def crash():
        raise Die()

    p = str(tmp_path / "t")
    t = LogTable(
        spark, p, key="id", n_buckets=4,
        protocol=ConditionalPutCommitProtocol(),
    )
    t.create(_mk(spark, [(1, "a")]))
    t.protocol.before_put = crash
    with pytest.raises(Die):
        t.upsert(_mk(spark, [(2, "b")]))
    t2 = LogTable(
        spark, p, key="id", n_buckets=4,
        protocol=ConditionalPutCommitProtocol(),
    )
    assert t2.version() == 0               # no claim landed
    assert _rows(t2.snapshot()) == [(1, "a")]
    staged = [
        n for n in os.listdir(os.path.join(p, "_log"))
        if ".put." in n and n.endswith(".tmp")
    ]
    assert staged                          # upload orphan present
    deleted = t2.vacuum(retain_versions=0)
    assert any(".put." in d for d in deleted)
    v = t2.upsert(_mk(spark, [(2, "b")]))  # same version, unobstructed
    assert v == 1
    assert _rows(t2.snapshot()) == [(1, "a"), (2, "b")]


def test_append_rejects_live_deltas(spark, tmp_path):
    """Mirror guard of the append-lineage check: appending onto live
    delta units would let resolution collapse the appended rows."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(1, "a")]))
    t.upsert_deferred(_mk(spark, [(1, "a2")]))
    with pytest.raises(ValueError, match="delta"):
        t.append(_mk(spark, [(1, "dup")]))
    t.compact()
    t.append(_mk(spark, [(1, "dup")]))  # folded: append allowed again
    assert t.snapshot().count() == 2


@pytest.mark.parametrize("protocol_name", ["posix", "condput"])
def test_multiprocess_commit_race(tmp_path, protocol_name):
    """TRUE multi-process writer race (VERDICT r5 #6): three separate
    driver PROCESSES (own interpreters, no shared in-process state —
    the flock/link atomicity is all that serializes them) each push 15
    commits through LogTable._commit with read-retry on conflict.
    Exactly one winner per version, contiguous log, no lost commits,
    and every winner's payload intact under its claimed version."""
    import json as _json
    import subprocess
    import sys

    n_writers, n_commits = 3, 15
    table = str(tmp_path / "t")
    worker = os.path.join(os.path.dirname(__file__), "_logtable_race_worker.py")
    procs, outs = [], []
    for w in range(n_writers):
        out = str(tmp_path / f"wins_{w}.json")
        outs.append(out)
        procs.append(
            subprocess.Popen(
                [sys.executable, worker, table, protocol_name, str(w),
                 str(n_commits), out],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.PIPE,
            )
        )
    for p in procs:
        _err = p.communicate(timeout=300)[1]
        assert p.returncode == 0, _err.decode()[-2000:]

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable

    t = LogTable(None, table, key="id")
    total = n_writers * n_commits
    # contiguous versions, nothing lost, nothing extra
    assert t.version() == total - 1
    entries = {e["version"]: e for e in t.history()}
    assert sorted(entries) == list(range(total))
    # each worker's recorded wins are disjoint and their union is the log
    claimed: dict[int, str] = {}
    for out in outs:
        with open(out) as f:
            rec = _json.load(f)
        for v in rec["wins"]:
            assert v not in claimed, f"version {v} claimed twice"
            claimed[v] = rec["writer"]
    assert sorted(claimed) == list(range(total))
    # content integrity: the entry stored under each version is the
    # WINNER's payload (a losing racer never clobbered it)
    for v, writer in claimed.items():
        assert entries[v]["added"][0]["writer"] == writer


def test_snapshot_time_travel_to_vacuumed_version_typed_error(spark, tmp_path):
    """Time travel to a version vacuum physically truncated fails with
    the typed FeedTruncatedError UP FRONT (round 7 — previously a raw
    Spark missing-file error mid-job); the latest snapshot and
    versions whose units survived stay readable, and the hot path
    (no version argument) never pays the stat check."""
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        FeedTruncatedError,
    )

    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    # rewrite every key so v0's units die once vacuumed
    t.upsert(_mk(spark, [(1, "a2"), (2, "b2"), (3, "c2")]))
    t.vacuum(retain_versions=0)
    with pytest.raises(FeedTruncatedError, match="truncated by vacuum"):
        t.snapshot(version=0)
    assert _rows(t.snapshot()) == [(1, "a2"), (2, "b2"), (3, "c2")]
    assert _rows(t.snapshot(version=1)) == [(1, "a2"), (2, "b2"), (3, "c2")]


# ------------------------------------------------------ change feed (round 7)


def _feed_rows(df):
    return sorted(
        tuple(None if c == "__ignore" else r[c] for c in sorted(df.columns))
        for r in df.collect()
    )


def test_schema_frame_unions_across_commits(spark, tmp_path):
    """Code-review r8 regression: the single-newest-unit schema read
    NARROWED the schema whenever the newest commit rewrote a
    pre-evolution bucket (upsert/delete touch only their buckets, so
    the newest unit can lack an evolved column). The schema frame now
    merges one unit per distinct live commit — exact, because every
    unit of a commit shares that commit's write schema — so an
    all-pruned snapshot keeps the full union schema."""
    from pyspark.sql import functions as F

    by_bucket: dict[int, list[int]] = {}
    for r in (
        spark.range(50)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(2)).alias("b"))
        .collect()
    ):
        by_bucket.setdefault(r["b"], []).append(r["id"])
    a_key = by_bucket[0][0]
    b1, b2 = by_bucket[1][:2]
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(_mk(spark, [(a_key, "a0"), (b1, "b1"), (b2, "b2")]))  # id,val
    t.upsert(  # v1: evolution lands in bucket 0 only
        spark.createDataFrame(
            [(a_key, "a1", 7)], "id long, val string, score long"
        )
    )
    # v2: NEWEST commit rewrites bucket 1 with the PRE-evolution schema
    t.delete_keys(spark.createDataFrame([(b1,)], "id long"))
    newest_unit_cols = {
        c
        for e in t.history()[-1]["added"]
        for c in spark.read.parquet(
            str(tmp_path / "t" / e["unit"].split("/__bucket=")[0])
        ).columns
    }
    assert "score" not in newest_unit_cols  # the trap is real
    # all-pruned snapshot still carries the evolved column
    pruned = t.snapshot(where=[("val", "==", "zzz")])
    assert pruned.count() == 0 and "score" in pruned.columns
    # and so does the union-schema frame itself
    frame = t._schema_frame(t._live_units())
    assert "score" in frame.columns and "val" in frame.columns


def test_vacuum_min_age_grace_protects_inflight_readers(spark, tmp_path):
    """vacuum(min_age_seconds=T) (VERDICT r7 #5, Delta's retention-check
    idiom): the feed's truncation guard is check-then-read, so a vacuum
    landing between a reader's existence check and its Spark job used
    to yield a raw missing-file error. With a grace above the longest
    concurrent read, a unit is reclaimed only once it has been
    horizon-dead that long — an in-flight reader whose plan passed the
    check always finishes. Grace zero keeps immediate reclaim."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=4)
    t.create(_mk(spark, [(i, f"v{i}") for i in range(8)]))
    t.upsert(_mk(spark, [(i, f"w{i}") for i in range(8)]))  # kills v0 units
    # in-flight reader: plan built, truncation check passed
    feed = t.changes(0, 1)
    # graced vacuum: the just-dead v0 units survive
    deleted = t.vacuum(retain_versions=0, min_age_seconds=3600)
    assert not any(d.startswith("data/") for d in deleted), deleted
    # the in-flight read completes — never a raw missing-file error
    assert feed.count() == 8
    # orphan dirs get the same shield (an in-flight commit's data dir)
    import os as _os

    _os.makedirs(str(tmp_path / "t" / "data" / "c99"))
    assert "data/c99" not in t.vacuum(
        retain_versions=0, min_age_seconds=3600
    )
    # grace elapsed (= 0): everything horizon-dead is reclaimed
    deleted = t.vacuum(retain_versions=0)
    assert any(d.startswith("data/c0") for d in deleted), deleted
    assert "data/c99" in deleted


def test_legacy_capture_log_reads_and_vacuums(spark, tmp_path):
    """Tables written while LogTable still had a stored change-capture
    tier carry a ``changes`` key in some log entries and change units
    under ``_changes/``. Nothing reads either any more: such an entry
    is served by the snapshot diff and prices exactly like the same
    entry without the key, and vacuum reclaims the leftover dir as an
    orphan under the same grace clock (the dir's own mtime) as orphan
    commit dirs."""
    import json as _json

    root = tmp_path / "t"
    t = LogTable(spark, str(root), key="id", n_buckets=2)
    t.create(_mk(spark, [(1, "a"), (2, "b")]))                   # v0
    t.upsert(_mk(spark, [(1, "a1"), (3, "c")]))                  # v1
    before = t.feed_interval_stats(0, 1)
    log_file = root / "_log" / f"{1:020d}.json"
    entry = _json.loads(log_file.read_text())
    entry["changes"] = {
        "mode": "unit", "unit": "_changes/c1-deadbeef", "rows": 3,
    }
    log_file.write_text(_json.dumps(entry))
    os.makedirs(root / "_changes" / "c1-deadbeef")
    legacy = LogTable(spark, str(root), key="id", n_buckets=2)
    assert legacy.feed_interval_stats(0, 1) == before
    assert _feed_rows(legacy.changes(0, 1)) == [
        ("insert", 3, "c"), ("update", 1, "a1"),
    ]
    assert legacy.last_feed_info["tier"] == "diff"
    # a fresh leftover is inside the grace, like a fresh orphan dir;
    # retain_versions=1 keeps v0 readable for the feed below
    assert "_changes/c1-deadbeef" not in legacy.vacuum(
        retain_versions=1, min_age_seconds=3600
    )
    assert (root / "_changes" / "c1-deadbeef").is_dir()
    assert legacy.vacuum(retain_versions=1) == ["_changes/c1-deadbeef"]
    assert not (root / "_changes" / "c1-deadbeef").exists()
    assert _feed_rows(legacy.changes(0, 1)) == [
        ("insert", 3, "c"), ("update", 1, "a1"),
    ]


def test_failed_feed_leaves_no_phantom_last_feed_info(spark, tmp_path):
    """ADVICE r8: ``changes()`` used to assign ``last_feed_info =
    {"tier": "diff", ...}`` BEFORE the retention guard, so a call that
    raised FeedTruncatedError left the hook claiming a successful diff
    serve of that interval (a phantom serve). Info is now recorded
    only on the successful exits: after a failed call the hook still shows the LAST successful
    serve."""
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        FeedTruncatedError,
    )

    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))        # v0
    t.upsert(_mk(spark, [(1, "a1"), (2, "b1"), (3, "c1")]))     # v1
    t.upsert(_mk(spark, [(1, "a2")]))                           # v2
    assert _feed_rows(t.changes(1, 2)) == [("update", 1, "a2")]
    before = dict(t.last_feed_info)
    assert before["tier"] == "diff" and (before["from"], before["to"]) == (1, 2)
    # version validation failure: info untouched
    with pytest.raises(ValueError, match="does not exist"):
        t.changes(0, 99)
    assert t.last_feed_info == before
    # v0's units all died at v1 → vacuum truncates the (0, 2] diff
    t.vacuum(retain_versions=0)
    with pytest.raises(FeedTruncatedError):
        t.changes(0, 2)
    assert t.last_feed_info == before, "phantom serve recorded on raise"


def test_feed_interval_stats_estimates_saturation(spark, tmp_path):
    """The log-only estimate prices what the snapshot diff reads: every
    touched bucket at BOTH interval ends, counted once per bucket,
    against the live table at the interval's end. A diff that reads
    the whole table prices at (lo + hi) / hi rows — 2.0 when the table
    did not grow, which is the saturation gate's calibrated
    threshold."""
    from pyspark.sql import functions as F

    rows = [(i, f"v{i}") for i in range(20)]
    bucket = {
        r.id: r.b
        for r in spark.range(20)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(2)).alias("b"))
        .collect()
    }
    in_b7 = sum(1 for b in bucket.values() if b == bucket[7])
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(_mk(spark, rows))                                   # v0
    # empty interval estimate: nothing changed
    est = t.feed_interval_stats(0, 0)
    assert est["interval_rows"] == 0 and est["net_change_ratio"] == 0.0
    assert est["live_rows"] == 20 and est["live_units"] == 2
    # two full-update-churn commits touch both buckets: the diff reads
    # the whole table at both ends, however many commits churned it
    t.upsert(_mk(spark, [(i, f"w{i}") for i in range(20)]))      # v1
    t.upsert(_mk(spark, [(i, f"x{i}") for i in range(20)]))      # v2
    est = t.feed_interval_stats(0, 2)
    assert est == {
        "interval_units": 4, "interval_rows": 40, "live_units": 2,
        "live_rows": 20, "net_change_ratio": 2.0,
    }
    # one key touches one bucket: that bucket's rows at both ends
    t.upsert(_mk(spark, [(7, "y7")]))                            # v3
    est = t.feed_interval_stats(2, 3)
    assert est["interval_units"] == 2
    assert est["interval_rows"] == 2 * in_b7
    assert est["net_change_ratio"] < 2.0
    # a compact rewrites every live unit: a full diff at both ends
    t.compact()                                                  # v4
    est = t.feed_interval_stats(3, 4)
    assert est["interval_rows"] == 40 and est["net_change_ratio"] == 2.0
    # the feed itself surfaces the same signal on its telemetry hook
    t.changes(0, 2).collect()
    assert t.last_feed_info == {
        "tier": "diff", "from": 0, "to": 2, "fallback_reason": None,
        **t.feed_interval_stats(0, 2),
    }
    # committed intervals are immutable: a repeat call prices the same
    assert t.feed_interval_stats(0, 2) == t.feed_interval_stats(0, 2)

    # inverted interval: the (from, to] contract is enforced, not an
    # all-zero estimate that would wave a backlog through the gate
    # (ADVICE r10)
    with pytest.raises(ValueError, match="inverted interval"):
        t.feed_interval_stats(2, 0)

    # touched buckets are counted ONCE however many commits touched
    # them (code review r10 — N small commits into one bucket must not
    # read as N full bucket rewrites)
    t2 = LogTable(spark, str(tmp_path / "t2"), key="id", n_buckets=2)
    t2.create(_mk(spark, rows))                                  # v0
    for gen in ("a", "b", "c"):
        t2.upsert(_mk(spark, [(7, f"{gen}7")]))                  # v1-v3
    est = t2.feed_interval_stats(0, 3)
    assert est["interval_rows"] == 2 * in_b7
    # delete-heavy churn: emptying a bucket still prices the from-side
    # read of everything the diff must scan to discover the deletes
    # (ADVICE r10)
    t3 = LogTable(spark, str(tmp_path / "t3"), key="id", n_buckets=2)
    t3.create(_mk(spark, rows))                                  # v0
    t3.delete_keys(_mk(spark, rows).select("id"))                # v1
    est = t3.feed_interval_stats(0, 1)
    assert est["live_rows"] == 0
    assert est["interval_rows"] == 20, "from-side rows priced, not 0"
    # a table that grew prices a full diff under 2.0: (20 + 40) / 40
    t4 = LogTable(spark, str(tmp_path / "t4"), key="id", n_buckets=2)
    t4.create(_mk(spark, rows))                                  # v0
    t4.upsert(_mk(spark, [(i, f"n{i}") for i in range(20, 40)]))  # v1
    assert t4.feed_interval_stats(0, 1)["net_change_ratio"] == 1.5


def test_feed_interval_stats_prices_certify_on_diff_tier(spark, tmp_path):
    """Code-review r11: the diff's touched set replays added+removed of
    EVERY entry — maintenance included — so an interval containing
    only a certify rewrite prices the rewritten buckets at both
    interval ends, NOT ~0 (the same blind-spot class VERDICT r10 #2
    closed for compact)."""
    rows = [(i, f"v{i}") for i in range(20)]
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(_mk(spark, rows))                                   # v0
    t.append(_mk(spark, [(100, "dup")]))                         # v1 taints
    t.certify_unique()                                           # v2
    est = t.feed_interval_stats(1, 2)
    assert est["interval_rows"] > 0, "certify's diff buckets priced"
    # and the price is the diff's own model: lo+hi rows of exactly the
    # certified (tainted) buckets — here the one bucket key 100 hashes
    # to, read at both ends
    assert est["net_change_ratio"] > 0.0
    assert est["interval_rows"] < 2 * est["live_rows"]  # not a full diff


def test_estimate_walk_stops_once_every_bucket_is_touched(
    spark, tmp_path, monkeypatch
):
    """The interval walk behind feed_interval_stats (and the serve and
    truncation mirror) stops at the commit by which every bucket is
    touched: past it the diff's read set — and so its price — cannot
    grow. A deep full-churn backlog costs one parsed log entry, a
    narrow one walks until its last bucket appears, and the estimate
    stays exact."""
    from pyspark.sql import functions as F

    rows = [(i, f"v{i}") for i in range(20)]
    bucket = {
        r.id: r.b
        for r in spark.range(20)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(2)).alias("b"))
        .collect()
    }
    b0 = [k for k, b in bucket.items() if b == 0]
    b1 = [k for k, b in bucket.items() if b == 1]
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(_mk(spark, rows))                                   # v0
    for gen in "abcdefgh":                                       # v1-v8
        t.upsert(_mk(spark, [(i, f"{gen}{i}") for i in range(20)]))
    t.upsert(_mk(spark, [(b0[0], "n0")]))                        # v9
    t.upsert(_mk(spark, [(b0[1], "n1")]))                        # v10
    t.upsert(_mk(spark, [(b1[0], "n2")]))                        # v11
    t.upsert(_mk(spark, [(b0[0], "n3")]))                        # v12
    for v in (0, 8, 9, 10, 12):
        t._live_units(as_of=v)  # warm the replay memo: count the walk only
    parsed: list[int] = []
    real = t._log_entries

    def counted(after=-1, upto=None):
        for e in real(after, upto):
            parsed.append(e["version"])
            yield e

    monkeypatch.setattr(t, "_log_entries", counted)
    for lo, hi, walked, rows_read in (
        (0, 8, [1], 40),                  # full churn: one entry
        (8, 12, [9, 10, 11], 40),         # narrow: until bucket 1 shows
        (9, 10, [10], 2 * len(b0)),       # never saturates: whole interval
    ):
        parsed.clear()
        est = t.feed_interval_stats(lo, hi)
        assert parsed == walked, (lo, hi, parsed)
        assert est["interval_rows"] == rows_read, (lo, hi, est)
        parsed.clear()
        assert t.feed_truncation_missing(lo, hi) == []
        assert parsed == walked, (lo, hi, parsed)


def test_feed_truncation_missing_rejects_inverted_interval(
    spark, tmp_path
):
    """Code-review r11: the mirror gets the same (from, to] contract
    guard as feed_interval_stats — an inverted interval must raise,
    not silently read "serveable" ([])."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(_mk(spark, [(1, "x")]))                             # v0
    t.upsert(_mk(spark, [(1, "y")]))                             # v1
    t.upsert(_mk(spark, [(1, "z")]))                             # v2
    with pytest.raises(ValueError, match="inverted interval"):
        t.feed_truncation_missing(2, 0)


def test_empty_feed_schema_read_survives_partial_vacuum(spark, tmp_path):
    """The empty feed's schema rep is picked among a commit's SURVIVING
    units (any unit of one commit carries that commit's write schema):
    vacuuming SOME of an interval end's units must not break — or
    un-determinize — the change-free serve."""
    from pyspark.sql import functions as F

    # one key per bucket (xxhash64 is fixed-seed, probe it)
    probed = spark.range(1, 64).select(
        "id", F.pmod(F.xxhash64("id"), F.lit(3)).alias("b")
    ).collect()
    k = {b: next(r.id for r in probed if r.b == b) for b in range(3)}
    root = tmp_path / "t"
    t = LogTable(spark, str(root), key="id", n_buckets=3)
    t.create(_mk(spark, [(k[0], "a"), (k[1], "b")]))             # v0
    t.upsert(_mk(spark, [(k[2], "c")]))                          # v1
    t.delete_keys(spark.createDataFrame([(k[2],)], "id long"))   # v2
    t.upsert(_mk(spark, [(k[0], "A")]))                          # v3
    t.vacuum()  # reclaims v0's bucket-0 unit (rewritten at v3) and v1's
    assert not (root / "data" / "c0" / "__bucket=0").exists()
    assert (root / "data" / "c0" / "__bucket=1").exists()
    # (0, 2]: only k[2]'s bucket is touched and it holds no unit at
    # either end, so the serve is an empty feed whose schema comes from
    # commit c0 — through its surviving bucket-1 unit
    assert t.feed_truncation_missing(0, 2) == []
    fed = t.changes(0, 2)
    assert fed.count() == 0
    assert set(fed.columns) == {"change", "id", "val"}


def test_diff_empty_feed_truncation_is_typed(spark, tmp_path):
    """Diff-tier variant of the schema-read hole: an interval whose
    touched buckets hold no units at either end serves an empty feed,
    and the touched-bucket retention guard never stats the schema
    source — with both ends' only unit vacuumed, the serve must raise
    the typed error and the mirror must agree."""
    from pyspark.sql import functions as F

    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        FeedTruncatedError,
    )

    probed = spark.range(1, 32).select(
        "id", F.pmod(F.xxhash64("id"), F.lit(2)).alias("b")
    ).collect()
    k_a = next(r.id for r in probed if r.b == 0)
    k_b = next(r.id for r in probed if r.b == 1)
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=2)
    t.create(_mk(spark, [(k_a, "a")]))                           # v0
    t.upsert(_mk(spark, [(k_b, "b")]))                           # v1
    t.delete_keys(spark.createDataFrame([(k_b,)], "id long"))    # v2
    t.upsert(_mk(spark, [(k_a, "A")]))                           # v3
    t.vacuum()  # reclaims v0's bucket-a unit (rewritten at v3)
    # (0, 2]: touched = {k_b's bucket} only — and neither live@0 nor
    # live@2 holds a unit there (v1 added it, v2 removed it), so the
    # serve is an empty feed sourced from the vacuumed bucket-a unit
    missing = t.feed_truncation_missing(0, 2)
    assert missing, "mirror must flag the vacuumed schema source"
    with pytest.raises(FeedTruncatedError) as ei:
        t.changes(0, 2)
    assert ei.value.missing == missing


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_reads_are_planned_from_the_log_without_jobs(
    spark, tmp_path, monkeypatch
):
    """Building a read launches no Spark job: the schema comes from one
    parquet footer per live commit (no schema-merge job) and local
    masters list the unit dirs on the driver (no parallel listing job).
    Sized past Spark's 32-path parallel-listing threshold: 64 buckets,
    more than 32 live units, three live commits with a schema
    evolution between them. Covers snapshot (latest, time travel, all
    pruned), the feed (including a compact-only interval), and the
    read side of the eager mutators (upsert, delete_keys, compact)."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=64)
    t.create(
        spark.range(400, numPartitions=4).selectExpr(
            "id", "concat('v', id) as val"
        )
    )  # v0
    t.upsert(
        spark.createDataFrame(
            [(1, "x", "en"), (500, "y", "de")],
            "id long, val string, lang string",
        )
    )  # v1: adds `lang` in two buckets
    t.upsert_deferred(_mk(spark, [(2, "d")]))  # v2: a delta unit
    live = t._live_units()
    assert len(live) > 32
    assert len({u.split("/__bucket=")[0] for u in live}) == 3

    def jobs(build) -> int:
        j0 = _next_job(spark)
        build()
        return _next_job(spark) - j0

    assert jobs(lambda: t.snapshot()) == 0
    assert jobs(lambda: t.snapshot(0)) == 0
    pruned = []
    assert jobs(
        lambda: pruned.append(t.snapshot(where=[("id", "<", -1)]))
    ) == 0
    assert set(pruned[0].columns) == {"id", "val", "lang"}
    assert jobs(lambda: t.changes(0, 1)) == 0

    # the read side of every eager mutator goes through _read_resolved
    counts: list[int] = []
    read = t._read_resolved

    def counted(units, buckets):
        j0 = _next_job(spark)
        df = read(units, buckets)
        counts.append(_next_job(spark) - j0)
        return df

    monkeypatch.setattr(t, "_read_resolved", counted)
    t.upsert(_mk(spark, [(3, "u")]))  # v3
    t.delete_keys(spark.createDataFrame([(4,)], "id long"))  # v4
    t.compact()  # v5: layout only, no net change
    assert counts == [0, 0, 0]
    empty = []
    assert jobs(lambda: empty.append(t.changes(4, 5))) == 0
    assert t.last_feed_info["tier"] == "diff"
    assert empty[0].columns == ["change", "id", "val", "lang"]
    assert empty[0].count() == 0
    snap = {r["id"]: (r["val"], r["lang"]) for r in t.snapshot().collect()}
    assert len(snap) == 400 and 4 not in snap
    assert snap[1] == ("x", "en") and snap[2] == ("d", None)
    assert snap[3] == ("u", None) and snap[500] == ("y", "de")


def test_every_commit_kind_writes_one_file_per_unit(spark, tmp_path):
    """Each logged bucket unit is exactly one parquet file, whatever
    the commit kind, even when the input arrives in several partitions
    whose rows spread over every bucket."""
    from pyspark.sql import functions as F

    root = tmp_path / "t"
    t = LogTable(spark, str(root), key="id", n_buckets=8)

    def src(lo: int, hi: int):
        return spark.range(lo, hi, numPartitions=4).selectExpr(
            "id", "concat('v', id) as val"
        )

    ops = [
        ("create", lambda: t.create(src(0, 200))),
        ("upsert", lambda: t.upsert(src(100, 300))),
        ("upsert_delta", lambda: t.upsert_deferred(src(250, 350))),
        (
            "merge",
            lambda: t.merge(src(0, 60).withColumn("val", F.lit("m"))),
        ),
        ("delete", lambda: t.delete_keys(src(0, 20).select("id"))),
        ("compact", t.compact),
        ("append", lambda: t.append(src(1000, 1100))),
        ("certify", t.certify_unique),
    ]
    for op, run in ops:
        run()
        entry = t.history()[-1]
        assert entry["op"] == op
        assert entry["added"], op
        for u in entry["added"]:
            files = [
                f
                for f in os.listdir(root / u["unit"])
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (op, u["unit"], files)
    assert t.snapshot().count() == 430


def test_type_conflict_between_live_commits_raises(spark, tmp_path):
    """A column whose type differs between two live commits fails the
    read with a ValueError naming it, rather than one commit's type
    silently winning. One bucket, so the feed's read holds both."""
    t = LogTable(spark, str(tmp_path / "t"), key="id", n_buckets=1)
    t.create(_mk(spark, [(1, "a")]))
    t.append(spark.createDataFrame([(2, 5)], "id long, val int"))
    with pytest.raises(ValueError, match="column 'val'"):
        t.snapshot()
    with pytest.raises(ValueError, match="column 'val'"):
        t.changes(0, 1)
