"""Record the expected query result hashes in ``perfbench/expected.json``.

Usage (from the repository root)::

    python3 perfbench/record_expected.py

For each preset's tables it runs every query of the preset's mix twice
in one session and hashes the result the way the oracle gate does. A
query whose two hashes differ is reported as nondeterministic and its
first hash is kept. Where the registry has a DuckDB oracle for the
query, the hash is also confirmed against the oracle once, with a time
limit (some oracles, e.g. the MinHash one, do not finish at scale).
Run it only on a commit whose outputs are known good.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import PRESETS, Run, all_queries, result_hash  # noqa: E402
from perfbench.inputs import write_query_tables  # noqa: E402

# Time a DuckDB oracle may take before it is counted as not finishing.
ORACLE_LIMIT_S = 120.0


def oracle_hash(sql: str, sf_dir: str, limit_s: float) -> str | None:
    """Oracle value hash, or None when DuckDB does not finish in time."""
    import duckdb

    from tools.check_correctness import value_hash

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    timer = threading.Timer(limit_s, con.interrupt)
    timer.start()
    try:
        pdf = con.execute(sql).fetchdf()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()
    return value_hash(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def main() -> int:
    from durable_functions_cosmosdb_etl_spark.plans import registry

    run = Run(SimpleNamespace(preset="bench", seed=0, seconds=0, trace=0))
    os.makedirs(run.work, exist_ok=True)
    run.start_session()
    queries = all_queries()
    oracles = {**registry.ORACLES, **registry.EXTRA_ORACLES}
    out: dict = {}
    ok = True
    try:
        for preset in PRESETS.values():
            tables = preset["tables"]
            sf_dir = os.path.join(run.work, tables)
            write_query_tables(sf_dir, tables)
            out[tables] = {}
            for name in preset["mix"]:
                t0 = time.perf_counter()
                first = result_hash(run.spark, queries[name], sf_dir)
                second = result_hash(run.spark, queries[name], sf_dir)
                oracle = "no oracle"
                if name in oracles:
                    h = oracle_hash(oracles[name], sf_dir, ORACLE_LIMIT_S)
                    oracle = "oracle timeout" if h is None else (
                        "oracle match" if h == first else "ORACLE MISMATCH"
                    )
                    ok &= h is None or h == first
                det = "deterministic" if first == second else "NONDETERMINISTIC"
                print(f"{tables} {name}: {first} {det}, {oracle} "
                      f"({time.perf_counter() - t0:.1f}s)", flush=True)
                out[tables][name] = first
    finally:
        run.spark.stop()
        import shutil

        shutil.rmtree(run.work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
