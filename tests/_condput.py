"""Test double for the ``CommitProtocol`` seam of ``sinks/logtable.py``:
an object-store-style conditional put, emulated on a local directory so
the LogTable test matrix exercises a non-POSIX claim."""

from __future__ import annotations

import fcntl
import os
import shutil

from durable_functions_cosmosdb_etl_spark.sinks.logtable import CommitProtocol


class ConditionalPutCommitProtocol(CommitProtocol):
    """Claim via an object-store-style conditional put
    (S3 ``PUT If-None-Match: *``), emulated faithfully on a directory so
    the full LogTable test matrix can exercise the non-POSIX seam
    without a cloud dependency.

    The store model: (1) the client uploads the payload to a
    store-private staging object (the network transfer), then (2) the
    store applies one atomic create-iff-absent — internally serialized,
    and either the complete object appears under ``final`` or nothing
    does. The emulation maps (2) to a critical section under an
    advisory ``flock`` on a per-log lock file (the store's internal
    serialization; auto-released on process death, so a crashed writer
    can never wedge the table) with ``os.replace`` as the atomic
    publish. GET-never-sees-partial holds because the only write to
    ``final`` is the atomic rename of a fully-written staging file.

    ``before_put`` (tests only): callable injected between upload and
    the store's atomic section — the widest race window a real client
    has. A crash there leaves a ``*.tmp`` staging orphan (reclaimed by
    ``vacuum``) and no claim, exactly like an aborted network PUT.
    """

    def __init__(self, before_put=None) -> None:
        self.before_put = before_put

    def claim(self, tmp: str, final: str) -> bool:
        staged = f"{final}.put.{os.getpid()}.tmp"
        # fsync the staged payload BEFORE the atomic publish: without
        # it, a crash after the claim could leave a claimed version
        # whose entry content is not yet durable — the POSIX protocol
        # fsyncs the payload in _commit before os.link, and a real
        # object store's PUT only acknowledges durable content.
        with open(tmp, "rb") as src, open(staged, "wb") as dst:
            shutil.copyfileobj(src, dst)
            dst.flush()
            os.fsync(dst.fileno())
        if self.before_put is not None:
            self.before_put()
        lock_path = os.path.join(os.path.dirname(final), "_store.lock")
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                if os.path.exists(final):
                    os.unlink(staged)
                    return False
                os.replace(staged, final)
                # fsync the log DIRECTORY so the rename itself (the
                # claim) survives a crash — rename durability needs a
                # dir fsync on POSIX, matching the store model's
                # "create-iff-absent is durable when acknowledged".
                dfd = os.open(os.path.dirname(final), os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
                return True
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
