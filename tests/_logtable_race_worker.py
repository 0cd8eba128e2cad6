"""Subprocess worker for the multi-process LogTable commit race test.

Runs in its OWN interpreter (true separate driver process — no shared
in-process state with the other writers or the parent): a busy loop of
read-version → commit(version+1) → on ConcurrentCommitError re-read and
retry, through the real ``LogTable._commit`` machinery (pid-suffixed tmp
payload, fsync, protocol claim). The commit path never touches Spark, so
``spark=None`` — what is under test is exactly the claim protocol's
cross-process atomicity.

argv: table_path protocol(posix|condput) writer_id n_commits out_json
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    path, protocol_name, writer_id, n_commits, out_path = sys.argv[1:6]
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from _condput import ConditionalPutCommitProtocol
    from durable_functions_cosmosdb_etl_spark.sinks.logtable import (
        ConcurrentCommitError,
        LogTable,
        PosixCommitProtocol,
    )

    proto = (
        PosixCommitProtocol()
        if protocol_name == "posix"
        else ConditionalPutCommitProtocol()
    )
    t = LogTable(None, path, key="id", protocol=proto)
    wins: list[int] = []
    while len(wins) < int(n_commits):
        v = t.version() + 1
        unit = {
            "unit": f"data/{v:020d}-w{writer_id}/__bucket=0",
            "bucket": 0,
            "rows": 1,
            "writer": writer_id,
        }
        try:
            t._commit("append", [unit], [], v)
            wins.append(v)
        except ConcurrentCommitError:
            continue
    with open(out_path, "w") as f:
        json.dump({"writer": writer_id, "wins": wins}, f)


if __name__ == "__main__":
    main()
