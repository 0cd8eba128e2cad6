"""Log-structured MERGE table: parquet data files + a JSON commit log.

The engine's one upsert-table format: the reference's ``transformed``
container with upsert on ``/id`` (EtlProcess.cs:188-206), written by
the batch ETL (``etl.run_batch_etl``), the streaming ingest
(``streaming/pipeline.py``) and the change-feed drain
(``streaming/changefeed.py``). Plain parquet has no MERGE: rewriting
bucket partitions in place reads the very files it overwrites, offers
no reader isolation during the rewrite, and keeps no history. This
module is the transaction-log answer — the same idea as Delta/Iceberg,
reduced to what a single-writer ETL pipeline needs
(the reference's writer IS single: one orchestration at a time, guarded
by the lease container, /root/reference/EtlProcess.cs:87-103 — here by
operators/lease.py):

- Data files are IMMUTABLE. Every commit writes fresh parquet under its
  own ``data/c{version}/`` directory; nothing is ever modified in
  place. Rows are hash-bucketed by key (the ``__b`` data column, one of
  ``n_buckets``). A base write (create, upsert, merge, delete, certify,
  compact, append) range-partitions its rows on ``__b`` and writes
  one ``__part=i`` subdir of ONE parquet file per write task, logged
  as one unit over the disjoint bucket range its footers span: at most
  ``min(n_buckets, defaultParallelism)`` units per commit, and no more
  than a partial rewrite replaces. A deferred upsert's commit dir is
  ONE delta unit over its batch's bucket range, so its files follow
  the batch, not the buckets. Logs written before ranged base units
  hold one ``__bucket=k`` unit per bucket; they still read, rewrite
  and vacuum.
- ``_log/{version:020d}.json`` records, per commit, the units added
  (dir plus bucket range) and the units logically removed.
  The LIVE file set at version V is replay(log ≤ V) — so a MERGE
  never reads what it is writing, concurrent readers keep a consistent
  snapshot (their pinned file set still exists), and
  ``snapshot(version=...)`` is time travel for free.
- Commit = atomic claim of the next version file through a
  ``CommitProtocol``. The default ``PosixCommitProtocol`` writes the
  full entry to a tmp file, fsyncs it, and ``os.link``s it to the
  version name: the link both claims the version (EEXIST ⇒ a racing
  writer won ⇒ ``ConcurrentCommitError``) and publishes the COMPLETE
  content atomically — a crash at any point leaves either no version
  file or a fully-parseable one, never a truncated JSON that would
  wedge replay. Valid wherever link/open(x) are atomic: local POSIX,
  HDFS-style stores, NFSv4. S3-class object stores have no atomic
  create-if-absent rename; there, plug in a CommitProtocol backed by a
  conditional put (If-None-Match: *) or an external coordinator
  (DynamoDB-lock style, as Delta on S3 does) — the seam is exactly the
  one-method claim. A losing writer's data directory is abandoned as an
  orphan (readers never see it — it is not in the log) and reclaimed by
  ``vacuum``.
- ``_meta.json`` pins ``{key, n_buckets}`` at creation. Reopening with
  different values would silently hash the same keys into different
  buckets (duplicate rows per key, no error), so open validates and
  raises on mismatch — the same reason Delta/Iceberg persist layout
  metadata in the table, not the caller.

Reads are planned from the log alone: the live units come from log
replay, the read schema from one parquet footer per live commit, and
(on local masters, see session.get_spark) the unit dirs are listed on
the driver — building a snapshot or feed launches no Spark job.

Upsert cost model: an eager upsert touches only the units whose
bucket ranges its keys hash into — it reads those units from the live
set, anti-joins stored rows against update keys, and writes
replacement units — O(|affected units|) of the table per commit, not
O(history) and not O(table). Every unit is replaced whole, so a
one-key upsert rewrites its unit's range (about 1/defaultParallelism
of a compacted table), and a live delta unit meeting the keys widens
the rewrite to its whole range until ``compact`` folds it. Reads pay
zero merge cost (exactly one row per key is stored); history costs
only disk until ``vacuum``.

At 100 TB: n_buckets at least the write parallelism (thousands), so a
compacted table holds one unit per write task and an eager point write
rewrites one unit, table/defaultParallelism of it; the log stays tiny
(one small JSON per commit, listing O(parallelism) live units);
``compact()`` bounds live-file fragmentation; ``checkpoint_log()``
(a Delta ``_last_checkpoint`` analog) bounds replay to
O(commits since checkpoint); ``maintain()`` is the one rule the
writers' maintenance cadence runs (delta-gated compact, then
checkpoint).
"""

from __future__ import annotations

import bisect
import datetime
import json
import os
import shutil
import time
from types import MappingProxyType
from typing import Iterator, NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

_LOG_DIR = "_log"
_DATA_DIR = "data"
# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class _LogListing(NamedTuple):
    """One parsed log-dir listing (see LogTable._list_log): commit and
    checkpoint versions in numeric order with their filenames in
    parallel lists (names are kept rather than reconstructed from the
    version, so an unpadded-but-numeric foreign name still opens), plus
    the latest commit version (-1 when the log is empty)."""

    commit_versions: list[int]
    commit_names: list[str]
    cp_versions: list[int]
    cp_names: list[str]
    latest: int


def _json_stat(v):
    """A parquet-footer statistic as a JSON-storable scalar, or None when
    the type has no faithful JSON ordering (raw binary). Timestamps/dates
    go to ISO-8601 strings — lexicographic order equals time order, so
    the pruning comparisons below stay valid on the string form."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


def _footer_schema(unit_dir: str) -> StructType:
    """Spark row schema of one engine-written dir, from the footer of
    one of its parquet files — every file of one write carries the
    same schema. A driver-side metadata read, no Spark job."""
    name = min(n for n in os.listdir(unit_dir) if n.endswith(".parquet"))
    meta = pq.read_metadata(os.path.join(unit_dir, name)).metadata
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def _merge_type(a: DataType, b: DataType, col: str) -> DataType:
    """Parquet schema merging's rule: structs union their fields (also
    inside arrays and maps), any other pair must be the same type."""
    if isinstance(a, StructType) and isinstance(b, StructType):
        return _merge_struct(a, b, f"{col}.")
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(
            _merge_type(a.elementType, b.elementType, col),
            a.containsNull or b.containsNull,
        )
    if isinstance(a, MapType) and isinstance(b, MapType):
        return MapType(
            _merge_type(a.keyType, b.keyType, col),
            _merge_type(a.valueType, b.valueType, col),
            a.valueContainsNull or b.valueContainsNull,
        )
    if a != b:
        raise ValueError(
            f"column {col!r} is {a.simpleString()} in one live commit and "
            f"{b.simpleString()} in another; rewrite one side to a single "
            "type before reading"
        )
    return a


def _merge_struct(
    a: StructType, b: StructType, prefix: str = ""
) -> StructType:
    """``a``'s fields in order, each merged with ``b``'s same-named field,
    then ``b``'s new fields appended."""
    fields = {f.name: f for f in a.fields}
    for f in b.fields:
        old = fields.get(f.name)
        if old is not None:
            f = StructField(
                f.name,
                _merge_type(old.dataType, f.dataType, prefix + f.name),
                old.nullable or f.nullable,
                old.metadata,
            )
        fields[f.name] = f
    return StructType(list(fields.values()))


def _union_schema(dirs: list[str]) -> StructType:
    """Read schema of several engine-written dirs: their footer schemas
    merged in the given (ascending commit) order."""
    out = StructType()
    for d in dirs:
        out = _merge_struct(out, _footer_schema(d))
    return out


def _commit_of(unit: str) -> str:
    """Commit data dir of a relative unit path (``data/c{v}``): a delta
    unit is its commit dir, a base unit one subdir of it (``__part=i``,
    or ``__bucket=k`` in logs written before ranged base units)."""
    return "/".join(unit.split("/", 2)[:2])


def _span(e: dict) -> tuple[int, int]:
    """Bucket range ``(lo, hi)`` a unit covers: the ``bucket_range`` its
    footers' ``__b`` min/max gave (see :meth:`LogTable._write_commit_dir`),
    or the one ``bucket`` of a unit from a log written before ranged
    base units. A unit holds rows of no bucket outside its range; it
    need not hold rows of every bucket inside it."""
    b = e.get("bucket")
    if b is not None:
        return b, b
    lo, hi = e["bucket_range"]
    return lo, hi


def _buckets_of(e: dict) -> range:
    lo, hi = _span(e)
    return range(lo, hi + 1)


def _covers(e: dict, buckets: set[int]) -> bool:
    """True when the unit's range meets ``buckets``: a read of those
    buckets scans the unit, and a rewrite of them must replace it."""
    return not buckets.isdisjoint(_buckets_of(e))


def _scan_price(units: dict[str, dict], buckets: set[int]) -> tuple[int, int]:
    """(units, rows) a read of ``buckets`` scans in a live-unit map:
    every unit whose range meets the set, whole. The diff reads both
    interval ends this way, so one helper keeps the lo/hi pricing from
    drifting apart, and from the read itself (:meth:`LogTable._read_units`
    selects by the same :func:`_covers`)."""
    n = r = 0
    for u in units.values():
        if _covers(u, buckets):
            n += 1
            r += u.get("rows") or 0
    return n, r


def _collect_unit_stats(unit_dir: str, n_buckets: int) -> dict:
    """Per-unit ``{rows, stats: {col: {min, max, nulls}}}`` harvested from
    the parquet FOOTERS of the files just written — a driver-side read of
    O(files-in-this-commit) metadata pages, no Spark job and no second
    scan of the data (the writer already computed these statistics; this
    is Delta's add-file stats idea sourced the cheap way). Only
    top-level primitive leaves are kept; a column whose footer omits
    min/max (e.g. over-long strings) simply records nulls-only and is
    never used to prune.

    The entry also gets ``bucket_range``: the ``__b`` min/max over its
    row groups, or every bucket when a row group omits them — a wider
    range only makes reads scan and rewrites replace the unit more
    often."""
    rows = 0
    stats: dict[str, dict] = {}
    b_lo = b_hi = None
    for name in sorted(os.listdir(unit_dir)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(unit_dir, name)).metadata
        rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                path = col.path_in_schema
                st = col.statistics
                if path == "__b" and g.num_rows:
                    if st is None or not st.has_min_max:
                        b_lo, b_hi = 0, n_buckets - 1
                    else:
                        b_lo = st.min if b_lo is None else min(b_lo, st.min)
                        b_hi = st.max if b_hi is None else max(b_hi, st.max)
                if "." in path or path.startswith("__"):
                    continue  # nested leaf / internal bucketing column
                if st is None:
                    continue
                s = stats.setdefault(
                    path, {"min": None, "max": None, "nulls": 0}
                )
                if st.null_count is not None:
                    s["nulls"] += st.null_count
                if st.has_min_max:
                    mn, mx = _json_stat(st.min), _json_stat(st.max)
                    if mn is None or mx is None:
                        # un-orderable type: poison the column so a
                        # partial (some-row-groups-only) bound is never
                        # trusted for pruning
                        s["min"] = s["max"] = None
                        s["nulls"] = -1
                        continue
                    s["min"] = mn if s["min"] is None else min(s["min"], mn)
                    s["max"] = mx if s["max"] is None else max(s["max"], mx)
    out = {
        "rows": rows,
        "stats": {c: s for c, s in stats.items() if s["nulls"] >= 0},
    }
    if b_lo is not None:
        out["bucket_range"] = [b_lo, b_hi]
    return out


_PRUNE_OPS = {"==", "=", "<", "<=", ">", ">="}


def _stats_refute(entry: dict, where: list[tuple]) -> bool:
    """True when the unit's footer stats PROVE no row satisfies the
    conjunction ``where`` = [(col, op, value), ...] — the data-skipping
    decision. Conservative by construction: missing stats, missing
    columns, or a non-comparable value type all mean 'cannot prune'.
    NULL never satisfies a comparison, so min/max bounds (which exclude
    nulls) are sufficient evidence even for all-null units."""
    stats = entry.get("stats") or {}
    rows = entry.get("rows")
    for col, op, raw in where:
        if op not in _PRUNE_OPS:
            continue
        s = stats.get(col)
        if s is None:
            continue
        val = _json_stat(raw)
        if val is None:
            continue
        mn, mx = s["min"], s["max"]
        if mn is None or mx is None:
            # no min/max recorded: all-null column (nulls==rows) proves
            # emptiness under any comparison; otherwise inconclusive
            if rows is not None and s["nulls"] == rows and rows > 0:
                return True
            continue
        try:
            if op in ("==", "=") and (val < mn or val > mx):
                return True
            if op == "<" and mn >= val:
                return True
            if op == "<=" and mn > val:
                return True
            if op == ">" and mx <= val:
                return True
            if op == ">=" and mx < val:
                return True
        except TypeError:
            continue  # value/stat type mismatch: never prune on a guess
    return False


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic-concurrency
    loser). The caller's data directory is an unreferenced orphan; the
    table itself is untouched and consistent."""


class TableMetaError(ValueError):
    """The table's persisted ``{key, n_buckets}`` disagree with the
    constructor arguments — proceeding would hash keys into different
    buckets than the stored rows and break the one-row-per-key
    invariant silently."""


class FeedTruncatedError(RuntimeError):
    """A read references data units ``vacuum`` has physically deleted.
    Raised UP FRONT (driver-side existence check on the unit set, no
    Spark job launched) by :meth:`LogTable.changes` when a consumer's
    cursor fell behind the retention window — the diff between its
    last-seen version and now can no longer be computed — and by
    time-travel :meth:`LogTable.snapshot` reads of a vacuumed version;
    previously both failed with a raw missing-file error deep inside
    the job. For a feed consumer the recovery is a re-bootstrap —
    reset the cursor and reconcile against the current snapshot, which
    ``run_changefeed_transform(on_truncated="rebootstrap")``
    implements. This is the analog of a Cosmos change-feed
    continuation token expiring past the retention period.

    Deliberately NOT a ValueError: the feed consumer treats specific
    ValueErrors ("no data", "both versions are empty") as an empty
    feed, and truncation must never be mistaken for one.
    """

    def __init__(self, version: int, missing: list[str]):
        self.version = version
        self.missing = missing
        super().__init__(
            f"data at version {version} was truncated by vacuum: "
            f"{len(missing)} referenced unit(s) no longer exist "
            f"(e.g. {missing[0]}) — a change-feed consumer must "
            f"re-bootstrap (reset its cursor and reconcile against "
            f"the current snapshot)"
        )


class CommitProtocol:
    """Atomic claim-and-publish of one commit file.

    Contract: ``claim(tmp, final)`` must make ``final`` exist with the
    COMPLETE content of ``tmp`` atomically, returning False (without
    touching ``final``) if it already exists. Readers listing the log
    directory must never observe a partially-written ``final``.

    Implementations: :class:`PosixCommitProtocol` (below) for
    filesystems with atomic link/create — local POSIX, HDFS, NFSv4.
    S3-class object stores need a conditional put (``If-None-Match: *``,
    atomic on S3 since 2024) or an external claim coordinator
    (DynamoDB-lock style, as Delta Lake on S3 does); such a protocol
    implements this same one-method interface and is passed to
    :class:`LogTable` at construction (``tests/_condput.py`` emulates a
    conditional put on a local directory).
    """

    def claim(self, tmp: str, final: str) -> bool:
        raise NotImplementedError


class PosixCommitProtocol(CommitProtocol):
    """Claim via ``os.link(tmp, final)``.

    The hard link is one atomic metadata operation that both claims the
    name (EEXIST when a racing writer won) and publishes the tmp file's
    full content under it — unlike open('x') + write, there is no
    window where ``final`` exists truncated. The tmp file is fsynced
    first so the linked content is durable, not just visible.
    """

    def claim(self, tmp: str, final: str) -> bool:
        try:
            os.link(tmp, final)
        except FileExistsError:
            return False
        return True


# Ops whose output units are known to have gone through key-merging
# logic. Anything else — raw ``append`` units, units written by older
# versions of this module that stamped no op tag at all — may hold
# duplicate keys and is treated as RAW-tainted until certified.
_MERGED_OPS = {"create", "upsert", "merge", "delete", "compact",
               "upsert_delta", "certify"}


def _raw_tainted(e: dict) -> bool:
    """True when this unit may hold duplicate keys.

    The taint is sticky through eager rewrites: an upsert that rewrites
    a bucket containing append-duplicate rows KEEPS those duplicates in
    its output (only updated keys are replaced), so the new unit must
    inherit the marker — otherwise the re-tag to op='upsert' would
    launder the taint and let ``upsert_deferred``'s merge-on-read
    resolution silently collapse previously-visible rows. Cleared only
    by :meth:`LogTable.certify_unique`, which PROVES one-row-per-key.
    Untagged units (pre-op-tag tables) are untrusted by the same rule.
    """
    return bool(e.get("raw")) or e.get("op") not in _MERGED_OPS


def _propagate_taint(added: list[dict], read_set: list[dict]) -> None:
    """Stamp ``raw`` onto new units whose bucket's read set contained a
    tainted unit (bucket-level precision: buckets never touched by raw
    appends stay clean; a tainted unit taints its whole range)."""
    tainted_buckets = {
        b for e in read_set if _raw_tainted(e) for b in _buckets_of(e)
    }
    for u in added:
        if _covers(u, tainted_buckets):
            u["raw"] = True


def _close_over_units(
    live: dict[str, dict], affected: set[int]
) -> tuple[set[int], list[dict]]:
    """The buckets an eager rewrite of ``affected`` must rewrite, and
    the live units it replaces. A unit meeting the set adds its whole
    range, until the set stops growing, so every replaced unit lies
    inside the rewritten buckets and none is ever replaced in part: its
    rows outside ``affected`` are rewritten into the new base units
    rather than lost."""
    while True:
        replaced = [e for e in live.values() if _covers(e, affected)]
        wider = set(affected).union(*map(_buckets_of, replaced))
        if len(wider) == len(affected):
            return wider, replaced
        affected = wider


class LogTable:
    """Single-writer log-structured table keyed on ``key``.

    All mutating ops (``create``/``append``/``upsert``/``delete_keys``/
    ``compact``) append one commit to the log; ``snapshot`` reads any
    committed version. The stored invariant after every upsert/delete
    is exactly one row per key (given it held before — ``create`` and
    ``upsert`` both enforce it on their own input; ``append`` is a raw
    add that does NOT dedupe).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "id",
        n_buckets: int = 64,
        protocol: CommitProtocol | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        self.protocol = protocol or PosixCommitProtocol()
        # Feed-serving observability: the last successful changes() or
        # post_images() call's interval and price (None until a feed is
        # read).
        # Driver-side per-table state, same single-threaded discipline
        # as the mutating ops.
        self.last_feed_info: dict | None = None
        # Per-version live-unit maps (code-review r11, third pass): a
        # diff-tier serve replays lo/hi for its own read AFTER its
        # telemetry estimate already replayed them — a committed
        # version's live map is IMMUTABLE (the log is append-only and
        # never vacuumed; data-file deletion doesn't change the map),
        # so one replay per version per handle suffices. Measured with
        # the memo off (tools/feed_depth_probe.py loop_head_sec, full
        # churn, 32 buckets, checkpoint every 500, 4 vCPUs): a drain
        # loop head over the last 1 or 50 commits costs 0.16-0.21 s
        # more at 1k-10k commits (0.07-0.13 s → 0.28-0.30 s). Values
        # are returned as shallow copies of the outer map; the shared
        # inner unit dicts are read-only MappingProxyType views (round
        # 12 — callers tag only freshly-written commit lists, never a
        # replayed map, and the proxy makes a violation raise instead
        # of corrupting the memo). as_of=None resolves to the version
        # observed at entry and the replay is PINNED there, so "latest"
        # reads are memoizable too without a racing commit leaking into
        # the keyed map. Bounded FIFO so a long-lived handle can't grow
        # it.
        self._live_units_memo: dict[int, dict[str, dict]] = {}
        # Log-dir listing memo (round 12, VERDICT r11 #5): every
        # _log_entries/version()/_latest_checkpoint call os.listdir's
        # the whole log dir — parsing is checkpoint-bounded, but the
        # LISTING is O(total history files) and a drain loop head pays
        # it 3+ times back-to-back (measured 69-102 ms/call at 100k
        # commits — tools/feed_depth_probe.py --light). Checked against
        # the log's next file names; see _list_log for why a hit is
        # current.
        self._log_listing_memo: _LogListing | None = None
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        self._check_meta()

    # --------------------------------------------------------------- meta

    def _meta_path(self) -> str:
        return os.path.join(self.path, _LOG_DIR, "_meta.json")

    def _check_meta(self) -> None:
        """Validate constructor args against the persisted table layout.

        key/n_buckets determine the key→bucket hash mapping; opening an
        existing table with different values would make upsert/delete
        compute 'affected buckets' under a DIFFERENT mapping and
        silently leave stale rows for the same key in other buckets.
        Raise loudly instead (mirrors Delta/Iceberg persisting layout in
        table metadata rather than trusting the caller).
        """
        mp = self._meta_path()
        if not os.path.exists(mp):
            return
        with open(mp) as f:
            meta = json.load(f)
        if meta["key"] != self.key or meta["n_buckets"] != self.n_buckets:
            raise TableMetaError(
                f"table at {self.path} was created with key="
                f"{meta['key']!r}, n_buckets={meta['n_buckets']}; opened "
                f"with key={self.key!r}, n_buckets={self.n_buckets}"
            )

    def _ensure_meta(self) -> None:
        """Persist {key, n_buckets} alongside the first commit (atomic
        link-publish; a concurrent creator writing the same values is a
        benign race — content is deterministic given _check_meta passed
        on both)."""
        mp = self._meta_path()
        if os.path.exists(mp):
            return
        tmp = f"{mp}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump({"key": self.key, "n_buckets": self.n_buckets}, f)
            f.flush()
            os.fsync(f.fileno())
        self.protocol.claim(tmp, mp)
        os.unlink(tmp)

    # ---------------------------------------------------------------- log

    def _list_log(self) -> "_LogListing":
        """The log-dir listing, PARSED (commit/checkpoint versions in
        numeric order + the latest version) and memoized until the
        log's next commit or a checkpoint at its latest version lands.

        Two costs used to be paid per call, O(total history files)
        each, by every version()/_latest_checkpoint/_log_entries call
        regardless of how tightly checkpoints bound the replay PARSING:
        the raw listdir, and the name filter/int-parse pass over it —
        measured 69-102 ms per call at 100k commits, 3+ calls per drain
        loop head (SCALE.md §2b), i.e. the LISTING dominated deep logs.
        Both are now paid once per log CHANGE, not per call: the parsed
        listing is memoized, the three listers bisect into it, and a
        loop head's calls collapse to two stats apiece on the hit path.

        The memo is checked against the log's own names, not a clock.
        It is served only while ``{latest + 1}.json`` does not exist
        and ``_checkpoint.{latest}.json`` exists exactly when the memo's
        newest checkpoint is ``latest``. That is exact for every writer
        of this format: _commit publishes only base + 1 through the
        protocol's atomic claim (versions are contiguous and a name that
        exists is a complete entry), and checkpoint_log writes only
        ``_checkpoint.{version()}``. The one write not seen at once is a
        checkpoint for an OLDER version landing after the listing (a
        racing checkpoint_log whose version() went stale); the next
        commit picks it up, and results cannot differ meanwhile because
        checkpoints only shorten the replay. A hand-placed unpadded
        numeric name is parsed on every relist but does not itself
        invalidate the memo. The atomic commit claim stays the
        write-side arbiter either way — a writer acting on a stale
        version() loses the claim.

        Foreign non-numeric names degrade to "ignored" in one place, so
        the three listers can never disagree on what a commit file IS
        (ADVICE r11).
        """
        log_dir = os.path.join(self.path, _LOG_DIR)
        memo = self._log_listing_memo
        if memo is not None:
            latest = memo.latest
            cp_at_latest = memo.cp_versions[-1:] == [latest]
            if not os.path.exists(
                os.path.join(log_dir, f"{latest + 1:020d}.json")
            ) and cp_at_latest == os.path.exists(
                os.path.join(log_dir, f"_checkpoint.{latest:020d}.json")
            ):
                return memo
        names = os.listdir(log_dir)
        commits = []
        cps = []
        for n in names:
            if not n.endswith(".json"):
                continue
            if n.startswith("_checkpoint."):
                seg = n[len("_checkpoint."):-len(".json")]
                # skip a manual _checkpoint.bak.json rather than raise
                # inside every replay. isdecimal, not isdigit: isdigit
                # accepts characters int() rejects (superscripts —
                # '²'.isdigit() is True, int('²') raises), so a
                # pathological foreign name could still raise the exact
                # ValueError this guard exists to prevent (ADVICE r12)
                if seg.isdecimal():
                    cps.append((int(seg), n))
            elif not n.startswith("_") and n[:-5].isdecimal():
                commits.append((int(n[:-5]), n))
        # numeric sort (not lexicographic-name sort): our writers
        # zero-pad to 20 digits so the two agree, but a hand-placed
        # unpadded "5.json" must not break range bisection or yield
        # entries out of version order
        commits.sort()
        cps.sort()
        listing = _LogListing(
            commit_versions=[v for v, _n in commits],
            commit_names=[n for _v, n in commits],
            cp_versions=[v for v, _n in cps],
            cp_names=[n for _v, n in cps],
            latest=commits[-1][0] if commits else -1,
        )
        self._log_listing_memo = listing
        return listing

    def _log_entries(
        self, after: int = -1, upto: int | None = None
    ) -> Iterator[dict]:
        """Commit entries with ``after < version <= upto``, oldest first.

        The version range is decided from the FILENAME-parsed version
        index, so out-of-range entries are never opened or parsed —
        this is what makes checkpointed replay genuinely O(commits
        since checkpoint) rather than O(history) with a post-parse skip
        (the logtable probe caught the latter: replay cost was flat
        with vs without a checkpoint until this filter moved before the
        open). Since round 12 the range is BISECTED out of the memoized
        parsed listing, so even the per-name version comparisons are
        O(log history + range), not O(history) (VERDICT r11 #5).
        """
        log_dir = os.path.join(self.path, _LOG_DIR)
        listing = self._list_log()
        lo = bisect.bisect_right(listing.commit_versions, after)
        hi = (
            bisect.bisect_right(listing.commit_versions, upto)
            if upto is not None
            else len(listing.commit_versions)
        )
        for name in listing.commit_names[lo:hi]:
            with open(os.path.join(log_dir, name)) as f:
                yield json.load(f)

    def _latest_checkpoint(self, as_of: int | None = None) -> dict | None:
        """Newest ``_checkpoint.{v}.json`` with ``version <= as_of``
        (newest overall when ``as_of`` is None), or None. The checkpoint
        holds the full live-unit map at version v, so replay only walks
        entries AFTER it — the Delta ``_last_checkpoint`` idea.

        The ``as_of`` filter matters, not just the newest file: old
        checkpoints are superseded but never deleted, so a replay AT an
        old version (a lagging feed cursor's lo-side rollup, time
        travel) can still start from the newest checkpoint at or before
        it. Consulting only the newest checkpoint overall made the
        deep-backlog case — a cursor far behind a producer whose
        maintenance kept checkpointing — degrade to a full O(history)
        replay (code-review r11, third pass). The version is parsed
        from the zero-padded filename, so out-of-range checkpoints are
        never opened. Names whose version segment is not all digits (a
        manual ``_checkpoint.bak.json``) are ignored, not a ValueError
        inside every replay (ADVICE r11)."""
        listing = self._list_log()
        idx = (
            bisect.bisect_right(listing.cp_versions, as_of)
            if as_of is not None
            else len(listing.cp_versions)
        )
        if idx == 0:
            return None
        cp_name = listing.cp_names[idx - 1]
        with open(os.path.join(self.path, _LOG_DIR, cp_name)) as f:
            return json.load(f)

    def checkpoint_log(self) -> int:
        """Materialize the current live-unit map as a log checkpoint.

        Replay cost from then on is O(commits since checkpoint) instead
        of O(all commits). Call periodically (every N commits) from the
        maintenance path that also runs compact/vacuum. Old checkpoints
        are superseded by filename ordering; they are tiny JSON and
        vacuum-exempt (the log itself is never vacuumed).
        """
        v = self.version()
        live = self._live_units(as_of=v if v >= 0 else None)
        # dict() each unit: the memoized units are MappingProxyType
        # (read-only views), which json.dump rejects
        cp = {"version": v, "live": [dict(u) for u in live.values()]}
        final = os.path.join(
            self.path, _LOG_DIR, f"_checkpoint.{v:020d}.json"
        )
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cp, f)
        os.replace(tmp, final)
        return v

    def version(self) -> int:
        """Latest committed version, or -1 for an empty table. Read off
        the filenames — no entry parsing. Foreign non-numeric names are
        ignored by _list_log's single shared rule (the three listers
        must agree on what a commit file IS, or a stray ``zz.json``
        would make version() report a version replay never yields)."""
        return self._list_log().latest

    def history(self) -> list[dict]:
        """All commit records, oldest first (op, version, added/removed)."""
        return list(self._log_entries())

    def _live_units(self, as_of: int | None = None) -> dict[str, dict]:
        """Replay the log: unit path (relative) → its full added entry
        (bucket id or bucket range + rows/stats), at a version.

        Starts from the newest log checkpoint at or before the target
        version when one exists (O(commits since checkpoint)) — an
        OLDER superseded checkpoint still bounds a replay at an old
        version (checkpoints are tiny and never deleted); only a
        version predating every checkpoint falls back to full replay.
        """
        latest = self.version()
        if as_of is not None and (as_of < 0 or as_of > latest):
            raise ValueError(f"version {as_of} does not exist")
        # as_of=None means "latest" — resolve it to the version just
        # observed and pin the replay there, so the result is
        # memoizable too (a commit racing in between version() and the
        # log listing must not leak into a map keyed at `latest`)
        pin = latest if as_of is None else as_of
        if pin < 0:
            return {}  # empty table
        cached = self._live_units_memo.get(pin)
        if cached is not None:
            return dict(cached)
        live: dict[str, dict] = {}
        start_after = -1
        cp = self._latest_checkpoint(as_of=pin)
        if cp is not None:
            live = {u["unit"]: u for u in cp["live"]}
            start_after = cp["version"]
        for e in self._log_entries(after=start_after, upto=pin):
            for u in e.get("removed", []):
                live.pop(u["unit"], None)
            for u in e.get("added", []):
                live[u["unit"]] = u
        if len(self._live_units_memo) >= 8:
            self._live_units_memo.pop(
                next(iter(self._live_units_memo))
            )
        # Freeze the inner unit dicts before memoizing (VERDICT r11 #4 /
        # ADVICE r11): the outer map is copied on every return, but the
        # units themselves are shared between the memo and every caller.
        # All in-module callers are read-only; the tagging patterns that
        # DO mutate units (u["raw"], u["delta"], setdefault("op")) run
        # on fresh commit lists, never on a replayed map — the proxy
        # makes that contract fail loudly (TypeError) instead of
        # silently corrupting every later snapshot/feed/estimate at the
        # memoized version. Zero recurring cost: proxies wrap, not copy,
        # and the underlying dicts are fresh json parses reachable only
        # here.
        frozen = {k: MappingProxyType(u) for k, u in live.items()}
        self._live_units_memo[pin] = frozen
        return dict(frozen)

    def _commit(
        self,
        op: str,
        added: list[dict],
        removed: list[dict],
        v: int,
    ) -> int:
        """Claim EXACTLY version ``v`` (= base snapshot version + 1).

        Recomputing version()+1 here instead would silently commit on
        top of a racing writer's commit while carrying added/removed
        lists computed against the stale base snapshot — the classic
        lost-update. Optimistic concurrency means: validate that the
        version we merged against is still the latest by claiming its
        successor atomically, and surface a conflict otherwise.
        """
        self._ensure_meta()
        for u in added:
            # per-unit op tag: lets delta-path guards distinguish raw
            # append units (no one-row-per-key promise) from merged ones
            # (added lists are always fresh _write_commit_dir dicts —
            # never replayed-map views — so this mutation is safe)
            u.setdefault("op", op)
        # removed lists ARE routinely built from _live_units() values,
        # which are read-only MappingProxyType views since the memo
        # freeze (VERDICT r11 #4); coerce to plain dicts at this single
        # serialization point rather than at every call site
        entry = {
            "version": v,
            "op": op,
            "added": added,
            "removed": [dict(u) for u in removed],
        }
        final = os.path.join(self.path, _LOG_DIR, f"{v:020d}.json")
        # Writer-private tmp (pid-suffixed: two racing writers must not
        # scribble over each other's payload), fsynced so the linked
        # content is durable, then one atomic link that BOTH claims the
        # version number and publishes the complete entry. os.rename
        # would CLOBBER an existing version on POSIX and open('x') +
        # write would expose a truncated file to a crash — the link is
        # the only primitive that gives claim + full content in one
        # atomic step (see PosixCommitProtocol).
        tmp = f"{final}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        claimed = self.protocol.claim(tmp, final)
        os.unlink(tmp)
        if not claimed:
            raise ConcurrentCommitError(
                f"version {v} already committed by another writer; "
                "re-read the table and retry the operation"
            )
        return v

    # --------------------------------------------------------------- data

    def _bucketed(self, df: DataFrame, dedupe: bool, order_col: str | None):
        if dedupe:
            if order_col is not None:
                w = Window.partitionBy(self.key).orderBy(
                    F.col(order_col).desc()
                )
                df = (
                    df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
            else:
                df = df.dropDuplicates([self.key])
        b = F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))
        return df.withColumn("__b", b.cast("long"))

    def _write_commit_dir(
        self,
        bucketed: DataFrame,
        v: int,
        delta: bool = False,
        replaces: int | None = None,
    ) -> list[dict]:
        """Write one commit's data dir; return its ``added`` log entries,
        each carrying the footer-harvested row count, the
        ``bucket_range`` its rows' ``__b`` span and per-column
        min/max/null stats (see _collect_unit_stats) that snapshot's
        data-skipping prunes on. None is logged for an empty write.

        A base write range-partitions its rows on ``__b`` and writes one
        ``__part=i`` subdir per write task, so every unit is ONE parquet
        file over a bucket range no other unit of the commit meets.
        Without Hadoop's native library the local filesystem forks
        ``chmod`` for every dir and file it creates, 5-11 ms each, and
        an object store pays a PUT each, so a 5,000-row, 64-bucket
        ``compact()`` took 1.48-1.58 s as one dir and file per bucket
        against 0.83-0.98 s as four ranges (4 vCPUs, SCALE.md §2b).

        The task count is explicit: ``min(n_buckets,
        defaultParallelism)``, capped for a partial rewrite at the
        ``replaces`` units it replaces (at least one), since every
        unit is later rewritten whole and splitting a point write's
        unit would fragment the table back toward one unit per bucket.
        AQE leaves a numbered repartition alone (an unnumbered one's
        small shuffle coalesced into one task that wrote every file in
        turn); the range bounds cost one sample job over the input.

        A ``delta`` write logs the whole dir as ONE unit: one file per
        write task, no shuffle, so its files follow the batch."""
        rel = f"{_DATA_DIR}/c{v}"
        out = os.path.join(self.path, rel)
        if delta:
            bucketed.write.mode("overwrite").parquet(out)
            entry = {"unit": rel, **_collect_unit_stats(out, self.n_buckets)}
            return [entry] if entry["rows"] else []
        n_tasks = min(self.n_buckets, self.spark.sparkContext.defaultParallelism)
        if replaces is not None:
            n_tasks = min(n_tasks, max(replaces, 1))
        bucketed.repartitionByRange(n_tasks, "__b").withColumn(
            "__part", F.spark_partition_id()
        ).write.mode("overwrite").partitionBy("__part").parquet(out)
        return [
            {
                "unit": f"{rel}/{d}",
                **_collect_unit_stats(os.path.join(out, d), self.n_buckets),
            }
            for d in sorted(os.listdir(out))
            if d.startswith("__part=")
        ]

    def _read_units(
        self,
        units: dict[str, dict],
        buckets: set[int] | None,
        schema: StructType | None = None,
    ):
        """Lazy scan of the live units in ``buckets`` (all when None),
        planned from the log alone: the read schema (unless given) comes
        from the footers of one unit per commit (:meth:`_reps_schema`),
        so building the frame launches no Spark job. Units written
        before a schema evolution lack the newer columns and read NULL
        there. A unit whose range reaches past ``buckets`` (a delta
        unit) is read whole, so the scan then filters ``__b``."""
        sel = {
            u: e
            for u, e in units.items()
            if buckets is None or _covers(e, buckets)
        }
        if not sel:
            return None
        if schema is None:
            schema = self._reps_schema(self._schema_reps(sel)[0])
        df = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, u) for u in sel]
        )
        if buckets is not None and any(
            not buckets.issuperset(_buckets_of(e)) for e in sel.values()
        ):
            df = df.filter(F.col("__b").isin(sorted(buckets)))
        return df

    def _reps_schema(self, reps: dict[str, dict]) -> StructType:
        """Union read schema of a live set from its per-commit
        representatives (:meth:`_schema_reps`), merged in ascending
        commit order so older columns keep their positions. Raises
        ``ValueError`` naming the column when two commits disagree on
        a type."""
        return _union_schema(
            [
                os.path.join(self.path, rel)
                for rel in sorted(
                    reps, key=lambda r: int(_commit_of(r).rsplit("/c", 1)[1])
                )
            ]
        )

    def _resolve(self, df, units: dict[str, dict], buckets: set[int] | None):
        """Merge-on-read resolution: collapse base + delta rows to the
        latest row per key.

        Delta units (written by :meth:`upsert_deferred`) carry their
        commit version in a ``__gen`` data column; base units lack it
        and read NULL under the union schema. The window keeps the
        highest generation — NULLs (base) last — which is exactly
        "latest deferred upsert wins, else the stored base row". No-op
        (and no extra shuffle) when the read set contains no delta
        unit. The shuffle it does
        add on dirty reads is keyed on the table key — the read-time
        half of the merge-on-read trade; ``compact`` folds deltas back
        into base units to reclaim it.
        """
        if df is None:
            return None
        has_delta = any(
            e.get("delta")
            for e in units.values()
            if buckets is None or _covers(e, buckets)
        )
        if not has_delta:
            return df
        w = Window.partitionBy(self.key).orderBy(
            F.col("__gen").desc_nulls_last()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__gen")
        )

    def _read_resolved(self, units: dict[str, dict], buckets: set[int] | None):
        """Read + resolve: what every EAGER mutator must see as "current"
        — merging against the raw union would resurrect rows that a
        deferred upsert already shadowed."""
        return self._resolve(self._read_units(units, buckets), units, buckets)

    # ---------------------------------------------------------------- ops

    def create(self, df: DataFrame, order_col: str | None = None) -> int:
        """Initial load (version 0). Dedupes on key like upsert."""
        if self.version() >= 0:
            raise ValueError(f"table at {self.path} already exists")
        return self._upsert_into({}, df, "create", order_col, base=-1)

    def append(self, df: DataFrame) -> int:
        """Raw append commit — adds rows without touching stored ones.
        Does NOT maintain the one-row-per-key invariant; pair with
        upsert-only writes when that invariant matters. Refuses tables
        with live delta units (the mirror of upsert_deferred's
        append-lineage guard): merge-on-read resolution keeps ONE row
        per key, so appended duplicate keys would silently vanish from
        every read until the deltas were compacted away."""
        base = self.version()
        if base >= 0 and any(
            e.get("delta") for e in self._live_units(as_of=base).values()
        ):
            raise ValueError(
                "append onto a table with live delta units would let "
                "merge-on-read resolution collapse the appended rows; "
                "compact() first"
            )
        v = base + 1
        added = self._write_commit_dir(
            self._bucketed(df, dedupe=False, order_col=None), v
        )
        return self._commit("append", added, [], v)

    def upsert(self, updates: DataFrame, order_col: str | None = None) -> int:
        """MERGE: update-or-insert by key, touching only affected units.

        Duplicate keys within one batch resolve BEFORE the merge
        (highest ``order_col`` wins; without it, an arbitrary row), so
        the one-row-per-key invariant holds regardless of input. The
        merge reads the CURRENT live units and writes NEW files — the
        read set and write set are disjoint by construction, so there is
        no lineage to sever and concurrent readers are undisturbed.
        Replaying the same updates is idempotent in table STATE (a new
        version with identical content).
        """
        base = self.version()
        return self._upsert_into(
            self._live_units(as_of=base if base >= 0 else None),
            updates,
            "upsert",
            order_col,
            base=base,
        )

    def _upsert_into(
        self,
        live: dict[str, int],
        updates: DataFrame,
        op: str,
        order_col: str | None,
        base: int,
    ) -> int:
        # The batch's plan is evaluated once, by the first action below
        # (the bucket collect, else the write's range sample), and every
        # later one reads that: re-running it per action re-read a
        # streaming batch's source, which then counted its rows again.
        up = self._bucketed(
            updates, dedupe=True, order_col=order_col
        ).localCheckpoint(eager=False)
        v = base + 1
        current, replaced = None, []
        if live:
            # Affected buckets: driver-side but bounded by n_buckets (a
            # bucket list, not data).
            affected, replaced = _close_over_units(
                live,
                {r["__b"] for r in up.select("__b").distinct().collect()},
            )
            current = self._read_resolved(live, affected)
        if current is not None:
            keep = current.join(
                up.select(F.col(self.key)), self.key, "left_anti"
            )
            # allowMissingColumns = schema evolution: updates may ADD
            # columns (stored rows get NULL there) or OMIT columns
            # (the replaced row version gets NULL — upsert is whole-row
            # replacement by key, not a partial column patch; callers
            # wanting patch semantics join old values in first).
            merged = keep.unionByName(up, allowMissingColumns=True)
        else:
            merged = up
        added = self._write_commit_dir(
            merged, v, replaces=len(replaced) if live else None
        )
        _propagate_taint(added, replaced)
        return self._commit(op, added, replaced, v)

    def upsert_deferred(
        self, updates: DataFrame, order_col: str | None = None
    ) -> int:
        """Merge-on-READ upsert: append the batch as ONE delta unit
        instead of rewriting the buckets it touches.

        The eager :meth:`upsert` pays O(affected buckets) of the stored
        table per commit — measured 2.9 s per micro-batch on the
        streaming probe when uniformly-spread keys touch every bucket
        (SCALE.md §2b), i.e. high-frequency small batches re-copy the
        table over and over. This path writes ONLY the deduped batch,
        stamped with its commit version in a ``__gen`` data column, as
        one unit of one parquet file per write task (no bucket shuffle,
        no per-bucket dirs — see :meth:`_write_commit_dir`), and logs it
        with a ``delta`` marker and the ``bucket_range`` its footers'
        ``__b`` min/max span. No existing unit is read or removed, so
        the commit costs O(batch) files and rows regardless of table
        size or of how many buckets the batch's keys spread over.

        A delta unit covers its whole range: a read of some buckets
        scans it and filters ``__b``, and an eager mutation that
        touches any bucket of the range rewrites the whole range
        (:func:`_close_over_units`), so the unit is only ever replaced
        whole. Uniformly spread keys give a near-full range, so an
        eager write after deferred ones costs about the table until
        ``compact`` folds the deltas away. Readers resolve
        lazily: :meth:`snapshot`/:meth:`changes` collapse base + delta
        rows to the highest generation per key (one key-partitioned
        window — see ``_resolve``), and every eager mutator reads
        through the same resolution, so the one-row-per-key contract is
        preserved EXTERNALLY while the storage temporarily holds
        shadowed rows. ``compact()`` folds deltas back into plain base
        units, reclaiming the read-time window — the classic
        write-optimized/read-optimized trade (Delta deletion-vector /
        Hudi MOR family), chosen per batch: defer on the hot path,
        eager-merge or compact on the maintenance cadence.

        Stats-based data skipping stays sound: ``snapshot`` prunes a
        unit only when its buckets meet no live delta's range (pruning
        any row of a dirty bucket could change which row the window
        keeps).

        Raises on tables carrying RAW-tainted units (see
        :func:`_raw_tainted`): raw :meth:`append` units make no
        one-row-per-key promise, the taint survives eager rewrites of
        their buckets (an upsert keeps non-updated duplicate rows while
        re-tagging the unit — without the sticky marker that rewrite
        would launder the taint away), and units with no op tag at all
        (older tables) are untrusted by the same rule. Run
        :meth:`certify_unique` to prove the invariant and clear the
        taint.

        On a table with no version yet there is no stored table to
        defer against: the batch is written as version 0 the way
        :meth:`create` writes it (base units, op ``create``), so a
        writer needs no create-or-upsert branch of its own.
        """
        base = self.version()
        if base < 0:
            return self._upsert_into({}, updates, "create", order_col, base)
        live = self._live_units(as_of=base)
        if any(_raw_tainted(e) for e in live.values()):
            raise ValueError(
                "upsert_deferred requires the one-row-per-key discipline; "
                "this table holds raw units (append lineage or untagged) "
                "whose buckets may carry duplicate keys — run "
                "certify_unique() (or rewrite the table) first"
            )
        v = base + 1
        up = self._bucketed(updates, dedupe=True, order_col=order_col)
        up = up.withColumn("__gen", F.lit(v).cast("long"))
        added = self._write_commit_dir(up, v, delta=True)
        for u in added:
            u["delta"] = True
        return self._commit("upsert_delta", added, [], v)

    def merge(
        self,
        source: DataFrame,
        update_cols: list[str] | None = None,
        matched_condition: str | None = None,
        insert_not_matched: bool = True,
        delete_matched: bool = False,
        order_col: str | None = None,
    ) -> int:
        """MERGE INTO with clause semantics — the column-patch upgrade
        over :meth:`upsert`'s whole-row replacement.

        Equivalent SQL::

            MERGE INTO table t USING source s ON t.key = s.key
            WHEN MATCHED [AND <matched_condition>]
                THEN UPDATE SET <update_cols from s>   -- or DELETE
            WHEN NOT MATCHED THEN INSERT *             -- optional

        - ``update_cols``: the target columns a matched row takes from
          the source; every other target column KEEPS its stored value
          (unlike upsert, which nulls columns the update omits). Default
          = every source column except the key.
        - ``matched_condition``: SQL over aliases ``s`` (source) and
          ``t`` (target), e.g. ``"s.ver > t.ver"`` — matched rows that
          fail it stay untouched. NULL counts as fail (SQL semantics).
        - ``delete_matched``: WHEN MATCHED THEN DELETE instead of
          UPDATE (``update_cols`` is then ignored).
        - ``insert_not_matched``: False = update-only merge.

        Same cost model and isolation as upsert: duplicate source keys
        resolve first (highest ``order_col`` wins), only the buckets the
        source keys hash into are read and rewritten, read/write sets
        are disjoint, and one commit claims base+1 or raises
        :class:`ConcurrentCommitError`.
        """
        base = self.version()
        live = self._live_units(as_of=base if base >= 0 else None)
        v = base + 1
        key = self.key
        # evaluated once, as in _upsert_into
        src = self._bucketed(
            source, dedupe=True, order_col=order_col
        ).localCheckpoint(eager=False)
        affected, replaced = _close_over_units(
            live, {r["__b"] for r in src.select("__b").distinct().collect()}
        )
        current = self._read_resolved(live, affected)
        if current is None:
            if not insert_not_matched:
                return self._commit("merge", [], [], v)
            merged = src
        else:
            t = current.alias("t")
            s = src.alias("s")
            t_cols = set(current.columns)
            s_cols = set(src.columns)
            upd_cols = set(
                update_cols
                if update_cols is not None
                else (s_cols - {key, "__b"})
            )
            joined = t.join(
                s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer"
            )
            t_here = F.col(f"t.{key}").isNotNull()
            s_here = F.col(f"s.{key}").isNotNull()
            matched = t_here & s_here
            cond = (
                F.expr(matched_condition).eqNullSafe(F.lit(True))
                if matched_condition
                else F.lit(True)
            )
            hit = matched & cond
            keep = F.lit(True)
            if delete_matched:
                keep = keep & ~hit
            if not insert_not_matched:
                keep = keep & t_here
            data_cols = [
                c
                for c in list(current.columns)
                + [c for c in src.columns if c not in t_cols]
                if c not in (key, "__b")
            ]

            def pick(c):
                tc = F.col(f"t.{c}") if c in t_cols else F.lit(None)
                sc = F.col(f"s.{c}") if c in s_cols else F.lit(None)
                return (
                    F.when(F.lit(not delete_matched and c in upd_cols) & hit, sc)
                    .when(t_here, tc)
                    .otherwise(sc)
                    .alias(c)
                )

            merged = joined.filter(keep).select(
                F.coalesce(F.col(f"t.{key}"), F.col(f"s.{key}")).alias(key),
                F.coalesce(F.col("t.__b"), F.col("s.__b")).alias("__b"),
                *[pick(c) for c in data_cols],
            )
        added = self._write_commit_dir(
            merged, v, replaces=len(replaced) if live else None
        )
        _propagate_taint(added, replaced)
        return self._commit("merge", added, replaced, v)

    def delete_keys(self, keys: DataFrame) -> int:
        """Delete by key: rewrites the affected units without the keys.

        When every row of the replaced units is deleted, they are logged
        as removed with no replacement unit (parquet writes no empty
        partition dir).
        """
        base = self.version()
        live = self._live_units(as_of=base if base >= 0 else None)
        v = base + 1
        k = self._bucketed(
            keys.select(self.key), dedupe=True, order_col=None
        ).localCheckpoint(eager=False)  # evaluated once, as in _upsert_into
        affected, replaced = _close_over_units(
            live, {r["__b"] for r in k.select("__b").distinct().collect()}
        )
        current = self._read_resolved(live, affected)
        added: list[dict] = []
        if current is not None:
            remaining = current.join(
                k.select(F.col(self.key)), self.key, "left_anti"
            )
            added = self._write_commit_dir(
                remaining, v, replaces=len(replaced)
            )
        _propagate_taint(added, replaced)
        return self._commit("delete", added, replaced, v)

    def delta_fraction(self) -> float:
        """Fraction of live rows sitting in DELTA units — the standing
        merge-on-read debt. Computed entirely from the logged footer
        row counts (driver arithmetic over the replayed log; no scan,
        no Spark job). This is the quantity a maintenance cadence
        should trigger compaction on: the 1M-doc stream probe showed
        compact-every-K-batches re-pays the write amplification the
        deferral saved once the table outgrows the batch (SCALE.md
        §2b) — compacting when the debt is a meaningful FRACTION of
        the table scales correctly instead."""
        live = self._live_units()
        total = sum(e.get("rows") or 0 for e in live.values())
        if not total:
            return 0.0
        return (
            sum(
                e.get("rows") or 0
                for e in live.values()
                if e.get("delta")
            )
            / total
        )

    def maintain(self, compact_min_delta: float = 0.25) -> None:
        """One maintenance step, the rule every writer's cadence runs:
        ``compact()`` when the merge-on-read debt
        (:meth:`delta_fraction`) has reached ``compact_min_delta`` of
        the live rows, then ``checkpoint_log()``. A no-op on a table
        with no version (a drained interval can be all no-ops).

        The checkpoint bounds log replay to O(commits since it); an
        unbounded feed otherwise grows open cost linearly with age. The
        delta-mass gate is what makes the cadence scale: compacting on
        a fixed batch count re-pays the whole-table write amplification
        the deferral saved once the table outgrows the batch (measured
        at 1M docs, SCALE.md §2b), while a fraction trigger compacts
        less often exactly as the table grows. ``compact_min_delta=0``
        compacts unconditionally.
        """
        if self.version() < 0:
            return
        if self.delta_fraction() >= compact_min_delta:
            self.compact()
        self.checkpoint_log()

    def certify_unique(self) -> int | None:
        """Prove one-row-per-key on RAW-tainted buckets and clear the
        taint — the sanctioned path from append-lineage to
        :meth:`upsert_deferred`.

        Scans ONLY the tainted buckets; raises when any key there holds
        more than one row (the table genuinely violates the invariant —
        nothing is dropped silently; the caller decides how to repair).
        When the check passes, the tainted buckets are rewritten
        byte-equivalent under ``op='certify'`` in one commit — an
        O(tainted buckets) operation, no-op (returns None) on clean
        tables.
        """
        base = self.version()
        live = self._live_units(as_of=base if base >= 0 else None)
        tainted, replaced = _close_over_units(
            live,
            {
                b for e in live.values() if _raw_tainted(e)
                for b in _buckets_of(e)
            },
        )
        if not tainted:
            return None
        cur = self._read_resolved(live, tainted)
        dup = (
            cur.groupBy(self.key)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"certify_unique failed: key {dup[0][self.key]!r} has "
                f"{dup[0]['n']} rows in raw buckets — repair (delete or "
                "rewrite) before using upsert_deferred"
            )
        v = base + 1
        added = self._write_commit_dir(cur, v, replaces=len(replaced))
        return self._commit("certify", added, replaced, v)

    def compact(self) -> int:
        """Rewrite the whole live set into one commit dir (defragments
        after many small upserts); content is unchanged."""
        base = self.version()
        live = self._live_units(as_of=base if base >= 0 else None)
        v = base + 1
        cur = self._read_resolved(live, None)
        added: list[dict] = []
        if cur is not None:
            added = self._write_commit_dir(cur, v)
        # Compaction changes layout, never content: append-duplicate
        # rows survive it, so the taint does too.
        _propagate_taint(added, list(live.values()))
        return self._commit("compact", added, list(live.values()), v)

    # -------------------------------------------------------------- reads

    def missing_units(
        self,
        units: dict[str, dict] | None = None,
        buckets: set[int] | None = None,
        as_of: int | None = None,
    ) -> list[str]:
        """Relative paths of data units the log says are live (at
        ``as_of``, or in an explicit ``units`` map, optionally
        restricted to ``buckets``) but that no longer exist on disk —
        i.e. vacuumed. Empty for any version inside the retention
        window (vacuum's contract). Driver-side ``stat`` per unit, no
        Spark jobs; consumers use this to detect feed truncation BEFORE
        planning a read (see :class:`FeedTruncatedError`)."""
        if units is None:
            units = self._live_units(as_of=as_of)
        return [
            u
            for u, e in units.items()
            if (buckets is None or _covers(e, buckets))
            and not os.path.exists(os.path.join(self.path, u))
        ]

    def snapshot(
        self,
        version: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """The table at a committed version (default: latest). Raises on
        an uncommitted version or when no data units are live (never
        created, or everything deleted).

        ``where`` = [(col, op, value), ...] (ops ``== < <= > >=``,
        conjunctive) enables FILE-LEVEL DATA SKIPPING: units whose
        logged footer stats prove the conjunction empty are not read at
        all — the plan's scan lists only surviving files, the same
        log-driven pruning Delta does with add-file stats. The filters
        are ALSO applied to the returned DataFrame, so the result is
        identical to ``snapshot().filter(...)`` whether or not any unit
        had usable stats; skipping is purely an I/O optimization. At
        100 TB this is the difference between touching every bucket and
        touching the handful whose [min,max] straddle the predicate —
        O(live units) driver-side arithmetic on the already-replayed
        log, no extra I/O to decide.
        """
        live = self._live_units(as_of=version)
        # Typed failure for time-travel past vacuum (round 7, same
        # contract as the feed's FeedTruncatedError): an OLD version
        # whose units were physically deleted fails up front with the
        # reason, not with a missing-file error mid-job. Gated to
        # explicit time travel — the LATEST snapshot is never vacuumed
        # (vacuum's retention floor), so the hot path pays no stat
        # calls.
        if version is not None and version < self.version():
            gone = self.missing_units(units=live)
            if gone:
                raise FeedTruncatedError(version, gone)
        pruned = live
        if where:
            # Buckets a live delta unit's range covers are DIRTY: pruning
            # any of their units could change which row the merge-on-read
            # window keeps (a pruned stale base row would stop shadowing —
            # or a pruned delta would un-shadow a stale base). Units
            # meeting no dirty bucket prune on stats exactly as before.
            dirty = {
                b for e in live.values() if e.get("delta")
                for b in _buckets_of(e)
            }
            pruned = {
                u: e
                for u, e in live.items()
                if _covers(e, dirty) or not _stats_refute(e, where)
            }
        # With ``where``, the schema is the whole live set's: pruning
        # must not drop a column that only pruned units carry, since
        # the result equals snapshot().filter(...).
        full = self._schema_frame(live) if where else None
        df = self._resolve(
            self._read_units(
                pruned, None, None if full is None else full.schema
            ),
            pruned,
            None,
        )
        if df is None:
            if full is not None:
                # everything was pruned: the correct result is an empty
                # relation WITH the table schema
                df = full
            else:
                raise ValueError(
                    f"no data at version "
                    f"{self.version() if version is None else version}"
                )
        if where:
            for col, op, val in where:
                c = F.col(col)
                df = df.filter(
                    {
                        "==": c == F.lit(val),
                        "=": c == F.lit(val),
                        "<": c < F.lit(val),
                        "<=": c <= F.lit(val),
                        ">": c > F.lit(val),
                        ">=": c >= F.lit(val),
                    }[op]
                )
        return df.drop("__b", "__gen")

    def _schema_frame(self, units: dict[str, dict]) -> DataFrame | None:
        """Empty frame carrying the EXACT union schema of a live set,
        built on the driver from ONE unit's footer per distinct commit
        (:meth:`_reps_schema`) — no file scan, no Spark job. Exactness
        argument: every unit of one commit is written from a single
        DataFrame (``_write_commit_dir`` partitions one frame by
        bucket range), so all units of a commit share that commit's
        write schema, and the union over one representative per commit
        equals the union over all units. A single newest unit would
        NOT be enough: upsert/delete rewrite only touched units, so
        the newest commit can carry a NARROWER schema than an older one
        (e.g. a delete rewriting a pre-evolution unit). Driver I/O is
        O(distinct live commits) footers — bounded by the compact
        cadence (1 after a compact). None when no unit is live."""
        if not units:
            return None
        # rep selection shared with the feed's _empty_feed (one rule,
        # no drift): prefer a SURVIVING unit per commit. Callers here
        # are guarded paths where every unit exists (snapshot's
        # time-travel check ran, or the version is latest — never
        # vacuumed), so `missing` is empty there; if a commit's units
        # are somehow all gone anyway, serving the union of the
        # surviving commits' schemas beats a raw missing-file error.
        reps, _ = self._schema_reps(units)
        if not reps:
            return None
        return self.spark.createDataFrame([], self._reps_schema(reps))

    def _schema_reps(
        self, units: dict[str, dict]
    ) -> tuple[dict[str, dict], list[str]]:
        """One EXISTING representative unit per distinct commit of a
        live set, plus the units of commits whose units are ALL
        vacuumed. The exactness argument is :meth:`_schema_frame`'s —
        every unit of one commit shares that commit's write schema —
        extended with an existence rule: any SURVIVING unit represents
        its commit equally well, so vacuum only breaks the schema union
        when it reclaimed a commit's every unit. Driver ``stat`` calls,
        O(live units) worst case — the same metadata class as
        :meth:`missing_units`."""
        by_commit: dict[str, str | None] = {}
        for rel in units:
            commit = _commit_of(rel)
            if by_commit.get(commit) is not None:
                continue
            by_commit[commit] = (
                rel
                if os.path.exists(os.path.join(self.path, rel))
                else None
            )
        reps = {
            rel: units[rel]
            for rel in by_commit.values()
            if rel is not None
        }
        missing = sorted(
            u
            for u in units
            if by_commit[_commit_of(u)] is None
        )
        return reps, missing

    def _empty_feed(
        self, *sides: tuple[int, dict[str, dict]]
    ) -> DataFrame:
        """Empty change feed with the table schema, sourced from the
        first ``(version, live-unit-map)`` side able to supply it
        (one footer per commit, see :meth:`_schema_frame`; no file scan
        and no Spark job).

        The schema read is NOT covered by the diff's retention guard
        (it checks only touched buckets), and an OLD interval end's
        units may have been vacuumed — so reps are picked among units
        that still EXIST (:meth:`_schema_reps`), a side whose schema is
        unrecoverable falls to the next, and when no side can serve it
        the failure is the typed :class:`FeedTruncatedError`, not a raw
        missing-file planning error (code-review r11, third pass). Raises
        the documented "both versions are empty" ``ValueError`` when
        every side is empty — the one case with no schema to serve,
        which feed consumers treat as an empty feed, never as
        truncation.
        """
        truncated: tuple[int, list[str]] | None = None
        for version, units in sides:
            if not units:
                continue
            reps, missing = self._schema_reps(units)
            if missing:
                if truncated is None:
                    truncated = (version, missing)
                continue
            empty = self.spark.createDataFrame(
                [], self._reps_schema(reps)
            ).drop("__b", "__gen")
            return empty.select(
                F.lit("insert").alias("change"), *empty.columns
            )
        if truncated is not None:
            raise FeedTruncatedError(*truncated)
        raise ValueError("both versions are empty")

    def _interval(self, from_version: int, to_version: int | None) -> int:
        """``to_version`` resolved (None = latest) after checking that
        ``(from, to]`` names committed versions in order. An inverted
        interval would otherwise price as all-zero or read as
        serveable."""
        latest = self.version()
        to_version = latest if to_version is None else to_version
        for v in (from_version, to_version):
            if v < 0 or v > latest:
                raise ValueError(f"version {v} does not exist")
        if from_version > to_version:
            raise ValueError(
                f"inverted interval: from_version {from_version} > "
                f"to_version {to_version}"
            )
        return to_version

    def _touched_buckets(self, from_version: int, to_version: int) -> set[int]:
        """Buckets that commits in ``(from, to]`` added or removed units
        in, each unit counting its whole range — every mutation,
        maintenance included, logs the units it rewrote, so a key
        outside these buckets cannot have changed and this is the
        diff's read set. The walk stops once all ``n_buckets`` are
        touched: the set cannot grow past that point,
        so neither can the diff's read or its price, and a deep backlog
        costs O(commits until every bucket is touched) of log JSON
        instead of O(backlog)."""
        touched: set[int] = set()
        for e in self._log_entries(after=from_version, upto=to_version):
            for u in e.get("added", []) + e.get("removed", []):
                touched.update(_buckets_of(u))
            if len(touched) >= self.n_buckets:
                break
        return touched

    def feed_interval_stats(
        self, from_version: int, to_version: int | None = None
    ) -> dict:
        """Driver-side price of ``changes(from, to)``: what the snapshot
        diff reads, from the commit log's footer-harvested row counts
        alone — no Spark job, no data read.

        Returns ``{interval_units, interval_rows, live_units, live_rows,
        net_change_ratio}``. The diff reads the touched buckets
        (:meth:`_touched_buckets`) at BOTH interval ends, scanning every
        live unit whose range meets them, whole (:func:`_scan_price`).
        So ``interval_units``/``interval_rows`` add those units and
        their rows at ``from_version`` to those at ``to_version``, once
        per unit however many commits touched its buckets; a
        delete-heavy backlog that emptied its buckets still prices its
        from-side read. ``net_change_ratio = interval_rows /
        max(live_rows, 1)`` with ``live_rows`` the table at
        ``to_version``. A diff that
        reads the whole table — an interval holding a ``compact``
        (which rewrites every live unit), or one whose commits touched
        every bucket — prices at (lo + hi) / hi rows, which is 2.0 when
        the table did not grow.

        The estimate is exact: it is the diff's own read set and cost
        model, and the walk stops only where the set stops growing.
        Beside the walk it costs two live-set replays, checkpoint-
        bounded and memoized per version (``_live_units``), so the
        serve that follows reuses them.
        """
        to_version = self._interval(from_version, to_version)
        hi = self._live_units(as_of=to_version)
        touched = self._touched_buckets(from_version, to_version)
        lo_units, lo_rows = _scan_price(
            self._live_units(as_of=from_version), touched
        )
        hi_units, hi_rows = _scan_price(hi, touched)
        live_rows = sum(u.get("rows") or 0 for u in hi.values())
        interval_rows = lo_rows + hi_rows
        return {
            "interval_units": lo_units + hi_units,
            "interval_rows": interval_rows,
            "live_units": len(hi),
            "live_rows": live_rows,
            "net_change_ratio": interval_rows / max(live_rows, 1),
        }

    def post_images(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame | None:
        """Insert/update feed of ``(from, to]`` served from the delta
        units its deferred upserts logged: the latest row of every key
        those commits wrote, as ``(change="upsert", …row…)``. None when
        the interval is not of that kind; the caller then serves it
        with :meth:`changes`.

        The contract is the reference's change feed (EtlProcess.cs:
        183-187, SURVEY.md §1.1): inserted or updated documents, the
        latest version of each, no deletes. It is NOT :meth:`changes`'
        NET diff: inserts and updates are not told apart, and a key
        rewritten with the values it already held is upserted again,
        which is idempotent in a consumer's state.

        Only an interval whose commits are all ``upsert_delta`` or
        ``compact`` is served. A deferred upsert only adds delta units,
        so the keys it wrote are the keys it changed; a compact changes
        layout, never content, and removes delta units from the live
        set but not from disk (``checkpoint_log`` commits no version).
        Any other commit can change or delete keys it does not add
        rows for, so the interval returns None — as does one that names
        no delta unit, or whose delta units or ``to``-side schema were
        vacuumed: the diff then serves it or raises
        :class:`FeedTruncatedError`, exactly as before.

        The read is the delta units alone, O(rows the interval staged)
        rather than O(table), planned from the log with no Spark job.
        Its schema is the table's at ``to`` merged with the deltas', so
        the frame carries the diff's columns, and a column a delta
        lacks reads NULL as on the diff's resolved new side. Each
        commit is deduped on write, so rows collapse to the highest
        ``__gen`` per key only when the interval holds more than one
        deferred upsert.

        Records ``last_feed_info`` with tier ``"post_image"`` and the
        diff's keys: the delta units and rows read as
        ``interval_units``/``interval_rows`` (one unit per deferred
        commit), the table at ``to`` as ``live_units``/``live_rows``.
        """
        to_version = self._interval(from_version, to_version)
        deltas: dict[str, dict] = {}
        n_commits = 0
        for e in self._log_entries(after=from_version, upto=to_version):
            if e.get("op") == "compact":
                continue
            if e.get("op") != "upsert_delta":
                return None
            n_commits += 1
            deltas.update((u["unit"], u) for u in e["added"])
        if not deltas or self.missing_units(deltas):
            return None
        hi = self._live_units(as_of=to_version)
        reps, gone = self._schema_reps(hi)
        if gone:
            return None
        reps.update(self._schema_reps(deltas)[0])
        df = self._read_units(deltas, None, self._reps_schema(reps))
        if n_commits > 1:
            w = Window.partitionBy(self.key).orderBy(F.col("__gen").desc())
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        df = df.drop("__b", "__gen")
        interval_rows = sum(u.get("rows") or 0 for u in deltas.values())
        live_rows = sum(u.get("rows") or 0 for u in hi.values())
        self.last_feed_info = {
            "tier": "post_image",
            "from": from_version,
            "to": to_version,
            "fallback_reason": None,
            "interval_units": len(deltas),
            "interval_rows": interval_rows,
            "live_units": len(hi),
            "live_rows": live_rows,
            "net_change_ratio": interval_rows / max(live_rows, 1),
        }
        return df.select(F.lit("upsert").alias("change"), *df.columns)

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change feed between two committed versions: what happened to
        each key, as ``(change, …row…)`` with change ∈ insert / update /
        delete (update rows carry the NEW values; delete rows the
        from-version values). The NET diff — a key touched and reverted
        within the interval yields nothing.

        This is the producer side of the change-feed contract the
        reference CONSUMES from Cosmos (/root/reference/EtlProcess.cs:
        183-187): a downstream incremental pipeline can read
        ``changes(last_seen, latest)`` instead of rescanning the table —
        the log makes the diff well-defined. It is served as a snapshot
        diff: full outer join of the two snapshots on the key
        RESTRICTED TO THE BUCKETS the intervening commits touched
        (:meth:`_touched_buckets`) — every mutation logs the units it
        adds and replaces, each covering its bucket range, so a key
        whose bucket appears in no commit between the two versions
        cannot have changed. Cost O(touched buckets × 2); both sides
        hash-bucket identically, so the join co-locates. ``compact``
        rewrites every live unit, so an interval containing one reads
        the whole table at both ends — run feeds and compaction on
        separate cadences.

        A consumer that needs only inserted and updated rows can first
        try :meth:`post_images`, which serves a deferred-upsert interval
        from its delta units alone.

        Observability: every successful call records ``{"tier":
        "diff", "from", "to", "fallback_reason": None}`` plus the
        interval's price from :meth:`feed_interval_stats` in
        ``self.last_feed_info``, so an operator can see what the feed
        read without a second estimate call.
        """
        to_version = self._interval(from_version, to_version)
        est = self.feed_interval_stats(from_version, to_version)
        # Recorded only on the SUCCESSFUL exits below (ADVICE r8):
        # assigning before the retention guard / empty-table ValueError
        # would leave last_feed_info claiming a serve of an interval
        # that actually raised — a monitoring hook reading it after a
        # FeedTruncatedError would see a phantom serve.
        diff_info = {
            "tier": "diff",
            "from": from_version,
            "to": to_version,
            "fallback_reason": None,
            **est,
        }
        lo = self._live_units(as_of=from_version)
        hi = self._live_units(as_of=to_version)
        touched = self._touched_buckets(from_version, to_version)
        # Retention guard (VERDICT r6 #1): verify UP FRONT that every
        # unit this feed will read still physically exists — a cursor
        # lagging behind vacuum's retention window must surface as a
        # typed "re-bootstrap" contract, not a missing-file error deep
        # inside the join's Spark job. O(touched units) driver stat
        # calls, the same metadata class as the log replay itself.
        for v, units in ((from_version, lo), (to_version, hi)):
            missing = self.missing_units(units, touched)
            if missing:
                raise FeedTruncatedError(v, missing)
        old = self._resolve(self._read_units(lo, touched), lo, touched)
        new = self._resolve(self._read_units(hi, touched), hi, touched)
        key = self.key
        if old is None and new is None:
            # no touched bucket holds units on either side: the interval's
            # net change is empty (or both versions are empty tables).
            # Return an EMPTY feed with the table schema when any unit
            # exists to supply it (single-unit schema read); raise only
            # when the table never held data at either version.
            served = self._empty_feed(
                (to_version, hi), (from_version, lo)
            )  # may raise ValueError / FeedTruncatedError
            self.last_feed_info = diff_info
            return served
        if old is None:
            self.last_feed_info = diff_info
            return new.drop("__b").withColumn("change", F.lit("insert"))
        if new is None:
            self.last_feed_info = diff_info
            return old.drop("__b").withColumn("change", F.lit("delete"))
        o = old.drop("__b").alias("o")
        n = new.drop("__b").alias("n")
        # Union of both schemas: a column may exist on only one side
        # across a schema-evolution boundary — treat it as NULL on the
        # side that lacks it.
        o_cols, n_cols = set(o.columns), set(n.columns)
        data_cols = [
            c
            for c in list(n.columns) + [c for c in o.columns if c not in n_cols]
            if c != key
        ]
        ocol = lambda c: (  # noqa: E731
            F.col(f"o.{c}") if c in o_cols else F.lit(None)
        )
        ncol = lambda c: (  # noqa: E731
            F.col(f"n.{c}") if c in n_cols else F.lit(None)
        )
        same = F.lit(True)
        for c in data_cols:
            same = same & ocol(c).eqNullSafe(ncol(c))
        joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
        change = (
            F.when(F.col(f"o.{key}").isNull(), "insert")
            .when(F.col(f"n.{key}").isNull(), "delete")
            .when(~same, "update")
        )
        # delete rows carry the deleted (old) values; insert/update rows
        # carry the new ones. NOT coalesce(new, old): an update that
        # sets a column to NULL must surface the NULL, not the old value.
        is_delete = F.col(f"n.{key}").isNull()
        out_cols = [
            F.coalesce(F.col(f"n.{key}"), F.col(f"o.{key}")).alias(key)
        ] + [
            F.when(is_delete, ocol(c)).otherwise(ncol(c)).alias(c)
            for c in data_cols
        ]
        self.last_feed_info = diff_info
        return (
            joined.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select("change", *out_cols)
        )

    # ------------------------------------------------------------- vacuum

    def vacuum(
        self, retain_versions: int = 0, min_age_seconds: float = 0.0
    ) -> list[str]:
        """Physically delete data no snapshot within ``retain_versions``
        of latest can reference: units removed at or before the horizon,
        plus orphan commit dirs (losers of a commit race / crashes
        between data write and log commit), leftover ``_changes/``
        dirs, and stray files in either. Must not run concurrently with
        a writer (an in-flight commit's data dir looks like an orphan
        until its log entry lands) — same single-writer discipline as
        the mutating ops, enforced by the caller's lease;
        a nonzero ``min_age_seconds`` also protects in-flight commits
        mechanically (a freshly-written dir is younger than the grace).

        ``min_age_seconds`` — in-flight READER grace (VERDICT r7 #5,
        Delta's retention-check idiom): the truncation guards in
        ``changes``/``snapshot`` are check-then-read — a vacuum running
        BETWEEN a reader's driver-side existence check and its Spark
        job's file reads still yields a raw missing-file error. With a
        grace, a candidate is deleted only once it has been
        DELETABLE for at least ``min_age_seconds``: a dead data unit's
        clock starts when version ``r + retain_versions`` committed
        (``r`` = the commit that removed it — the moment the retention
        horizon passed it, measured as that log file's mtime); an orphan
        dir's at its own mtime.
        Any reader's plan references only units that were live-or-
        retained when the read STARTED, so setting the grace above the
        longest concurrent read (plus clock skew between hosts) makes
        the residual race unreachable — the operational contract is
        ``min_age_seconds > max drain/read duration + skew``, exactly
        Delta's "retention must exceed the longest-running concurrent
        reader". Default 0 keeps the old immediate-reclaim behavior
        (single-process tests and probes).

        Retention contract (property-tested against the dict model in
        tests/test_properties.py, including with a post-vacuum
        ``checkpoint_log``): every version within ``retain_versions``
        of latest remains openable and answers exactly its historical
        state; an OLDER version either still opens with its exact
        historical state (vacuum deletes only units no retained
        snapshot references, so an old version whose units all survive
        stays readable) or fails loudly at read time — never a silently
        wrong answer. The commit LOG itself is never vacuumed, so
        "version does not exist" can only mean a version that was
        never committed. Checkpoints interact safely: a checkpoint
        taken after vacuum replays retained versions from O(commits
        since checkpoint), and time travel to pre-checkpoint versions
        falls back to full log replay.
        """
        latest = self.version()
        horizon = latest - retain_versions
        now = time.time()
        log_dir = os.path.join(self.path, _LOG_DIR)

        def log_mtime(v: int) -> float:
            try:
                return os.path.getmtime(
                    os.path.join(log_dir, f"{v:020d}.json")
                )
            except OSError:
                return 0.0  # never-committed version: treat as old

        def too_young(eligible_at: float) -> bool:
            return (
                min_age_seconds > 0
                and now - eligible_at < min_age_seconds
            )

        referenced: set[str] = set()
        for v in range(max(0, horizon), latest + 1):
            try:
                referenced |= set(self._live_units(as_of=v))
            except ValueError:
                continue
        entries = list(self._log_entries())
        logged_dirs = {
            _commit_of(u["unit"]) for e in entries for u in e.get("added", [])
        }
        # A unit becomes horizon-dead when version (removed_at + retain)
        # commits — that log file's mtime is the grace clock's zero.
        removed_at = {
            u["unit"]: e["version"]
            for e in entries
            for u in e.get("removed", [])
        }
        deleted: list[str] = []
        # Unit-level deletes for logged-but-dead units.
        for e in entries:
            for u in e.get("added", []):
                unit = u["unit"]
                full = os.path.join(self.path, unit)
                if unit in referenced or not os.path.exists(full):
                    continue
                r = removed_at.get(unit)
                eligible_at = (
                    log_mtime(min(latest, r + retain_versions))
                    if r is not None
                    else os.path.getmtime(full)
                )
                if too_young(eligible_at):
                    continue
                shutil.rmtree(full)
                deleted.append(unit)
        # Orphan dirs: commit dirs written but never logged, and every
        # _changes/ dir — change units of the stored-capture tier older
        # versions of this module wrote, which nothing reads any more.
        # Grace clock = the dir's own mtime (also shields an IN-FLIGHT
        # commit whose log entry hasn't landed yet). A stray plain file
        # there is swept on the same clock.
        for sub in (_DATA_DIR, "_changes"):
            root = os.path.join(self.path, sub)
            if not os.path.isdir(root):
                continue
            for d in sorted(os.listdir(root)):
                rel = f"{sub}/{d}"
                full = os.path.join(root, d)
                if rel in logged_dirs or too_young(os.path.getmtime(full)):
                    continue
                if os.path.isdir(full):
                    shutil.rmtree(full)
                else:
                    os.remove(full)
                deleted.append(rel)
        # Stale commit tmps: a writer that died between writing its tmp
        # and linking it leaves NNN.json.<pid>.tmp — invisible to
        # replay/version (filtered by suffix) but worth reclaiming here.
        # Grace-guarded too: an ALIVE writer's tmp exists briefly
        # between write and link.
        for n in sorted(os.listdir(log_dir)):
            if not n.endswith(".tmp"):
                continue
            try:
                # the stat and the unlink both race a LIVE writer
                # completing its commit (tmp linked then unlinked
                # between our listdir and here) — a vanished tmp is
                # success, not an error
                if too_young(os.path.getmtime(os.path.join(log_dir, n))):
                    continue
                os.unlink(os.path.join(log_dir, n))
            except OSError:
                continue
            deleted.append(f"{_LOG_DIR}/{n}")
        return deleted
