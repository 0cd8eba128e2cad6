"""Run-audit sink: one ``OrchestrationRun`` row per run.

Reference operator O4 (append an ``OrchestrationRun`` audit row,
EtlProcess.cs:120-130). The upsert sink (operator O11, the
``transformed`` container with upsert on ``/id``, EtlProcess.cs:
188-206) is ``sinks/logtable.py``'s :class:`LogTable`, the engine's
one upsert-table format.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import SparkSession

# The Spark-side audit schema lives in ..schemas.ORCHESTRATION_RUN_SCHEMA;
# audit_run writes the matching arrow schema directly (see its docstring).


def audit_run(
    spark: SparkSession,
    audit_dir: str,
    start_time: datetime,
    end_time: datetime,
    succeeded: bool,
    additional_info: str = "",
    forced_lease: bool = False,
    worker: str = "spark-driver",
) -> None:
    """Append one OrchestrationRun row (EtlProcess.cs:120-130).

    duration = (end - start).TotalSeconds (EtlProcess.cs:125). Tiny
    single-row append — the one place driver-side data is fine.

    Written DIRECTLY with pyarrow, no Spark job (round 8): a
    ``spark.createDataFrame`` from a Python list is RDD-backed (the
    Arrow fast path only covers pandas input), so the old 1-row append
    launched a pickled-Python job measuring a steady ~4.5-9 s — per
    ORCHESTRATION RUN. A driver-side parquet write of 8 scalars is
    ~ms, needs no session, and lands atomically (dot-prefixed tmp —
    invisible to Spark readers — then rename into place), so
    concurrent audit readers never see a partial file. Timestamps are
    written as UTC-adjusted micros, matching what the session
    (timezone-pinned to UTC) previously produced, so old and new part
    files coexist in one directory. ``spark`` is kept in the signature
    as the audit-reader seam (and for API stability); the write path
    no longer touches it.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Naive datetimes mean HOST-LOCAL time here (the pre-round-8 Spark
    # write path's behavior: Python-side TimestampType.toInternal uses
    # the host zone regardless of spark.sql.session.timeZone), but
    # pyarrow interprets naive values as UTC for a tz-aware column —
    # on a non-UTC host new rows would shift vs reality and vs
    # pre-existing rows in the same directory (ADVICE r8: verified 4 h
    # divergence under TZ=America/New_York). astimezone() on a naive
    # datetime assumes local time, so one call normalizes both naive
    # and aware inputs to true UTC.
    start_utc = start_time.astimezone(timezone.utc)
    end_utc = end_time.astimezone(timezone.utc)
    table = pa.table(
        {
            "id": [str(uuid.uuid4())],
            "start_time": [start_utc],
            "end_time": [end_utc],
            # From the NORMALIZED instants, not the raw inputs: naive
            # wall-clock arithmetic across a DST fall-back reads up to
            # an hour short (even negative), contradicting the UTC
            # timestamps stored beside it.
            "duration": [(end_utc - start_utc).total_seconds()],
            "forced_lease": [forced_lease],
            "succeeded": [succeeded],
            "orchestration_worker": [worker],
            "additional_info": [additional_info],
        },
        schema=pa.schema(
            [
                ("id", pa.string()),
                ("start_time", pa.timestamp("us", tz="UTC")),
                ("end_time", pa.timestamp("us", tz="UTC")),
                ("duration", pa.float64()),
                ("forced_lease", pa.bool_()),
                ("succeeded", pa.bool_()),
                ("orchestration_worker", pa.string()),
                ("additional_info", pa.string()),
            ]
        ),
    )
    os.makedirs(audit_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(audit_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(audit_dir, name))
