"""End-to-end batch ETL runner (reference entry point EP1).

The reference's orchestration (``ExtractAndSaveDocumentsAysnc``,
/root/reference/EtlProcess.cs:48-86) is a linear DAG: lease → extract →
load → release(+audit), with compensation on failure (:79-85). In Spark
the durable-queue hops collapse into one driver-side pipeline function
(SURVEY.md §3): lease becomes unnecessary (single driver; streaming
checkpoints own incremental progress), but we keep the run-audit table
(operator O4) for parity and observability.

``run_batch_etl`` wires: generate/extract (O5/O12) → surrogate keys +
partitioned load (O6) → batch transform (O9) → upsert sink (O11, a
LogTable keyed on ``id`` at ``{work_dir}/transformed``) → audit (O4),
with the reference's error semantics (O14): failure releases with the
exception message and re-raises (:79-85); "no items" records a success
with an explanatory message (:66-69).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.load import assign_surrogate_keys, save_documents
from .operators.transform import transform_items
from .sinks.logtable import LogTable
from .sinks.writers import audit_run
from .sources.generator import generate_sample_items


def _staged_files(staging: str) -> set[str]:
    """Paths of the parquet files under the staging dir (empty when it
    does not exist yet). An append writes uniquely named files, so the
    set difference around a write is exactly what it staged."""
    return {
        os.path.join(d, n)
        for d, _dirs, names in os.walk(staging)
        for n in names
        if n.endswith(".parquet")
    }


def scheduled_batch_run(
    spark: SparkSession,
    work_dir: str,
    worker: str,
    now: datetime | None = None,
    timeout_min: int = 5,
    **kwargs,
) -> bool:
    """One cron firing of the orchestration, lease-guarded (operator O1
    + O3/O4: TimerTrigger ``0 */2 * * * *`` with the 5-minute lease SLA,
    /root/reference/EtlProcess.cs:23-24,32-46).

    Semantics mirror the reference's Run handler: acquire the lease or
    skip (an overlapping previous firing still holds it, :98-102); a
    holder older than ``timeout_min`` is presumed dead and the lease is
    forcibly taken (:286-292), with the audit row carrying
    ``forced_lease`` like OrchestrationRun.ForcedLease (:128). Returns
    True iff this firing actually ran.
    """
    from .operators.lease import acquire_lease, release_lease

    # Container-on-first-use analog (CreateContainerIfNotExistsAsync,
    # EtlProcess.cs:90,111): the lease home must exist before O_EXCL.
    os.makedirs(work_dir, exist_ok=True)
    lease_path = f"{work_dir}/orchestration_lease"
    now = now or datetime.now()
    handle = acquire_lease(lease_path, worker, now=now, timeout_min=timeout_min)
    if not handle:
        return False
    try:
        run_batch_etl(
            spark, work_dir, clock=now, forced_lease=handle.forced, **kwargs
        )
    finally:
        release_lease(
            lease_path, worker, now=now, start_time=handle.start_time
        )
    return True


def run_batch_etl(
    spark: SparkSession,
    work_dir: str,
    source_df: DataFrame | None = None,
    count: int | None = None,
    clock: datetime | None = None,
    batch_id: str | None = None,
    deterministic: bool = False,
    forced_lease: bool = False,
) -> DataFrame:
    """One orchestration run. Returns the transformed DataFrame.

    ``source_df=None`` uses the built-in generator (the reference's local
    loop: ExternalEndpoint pointed at its own sample endpoint,
    sample.settings.json:9).
    """
    start = clock or datetime.now()
    staging = f"{work_dir}/extracted"
    transformed = f"{work_dir}/transformed"
    audit = f"{work_dir}/orchestration_runs"
    batch = batch_id or str(uuid.uuid4())

    try:
        items = source_df
        if items is None:
            items = generate_sample_items(
                spark, count=count, clock=clock, deterministic_ids=deterministic
            )
        # Extract returning null → release + skip (EtlProcess.cs:61-69).
        if items is None:
            audit_run(
                spark, audit, start, clock or datetime.now(), True,
                "No documents extracted.",  # message analog, EtlProcess.cs:67
                forced_lease=forced_lease,
            )
            return spark.createDataFrame([], "id string")

        keyed = assign_surrogate_keys(items, deterministic=deterministic)
        # Row counts ride the write via observe() — the reference logs
        # "{count} documents..." (EtlProcess.cs:170-177) but a .count()
        # here would be a second full scan of the source.
        from pyspark.sql import Observation

        obs = Observation("load_metrics")
        keyed = keyed.observe(obs, F.count(F.lit(1)).alias("n_loaded"))
        before = _staged_files(staging)
        save_documents(keyed, staging)
        n_loaded = obs.get.get("n_loaded", 0)

        # Transform only the files this run staged, as the reference's
        # change-feed Transform sees only new documents: re-reading the
        # whole staging dir made every run cost the whole history and
        # re-stamp older documents' ``transform_batch``. Re-reading them
        # rather than transforming ``keyed`` keeps the staged surrogate
        # keys (``F.uuid()`` would draw new ones on a second evaluation).
        new = sorted(_staged_files(staging) - before)
        if not new:
            audit_run(
                spark, audit, start, clock or datetime.now(), True,
                "No documents extracted.",
                forced_lease=forced_lease,
            )
            return spark.createDataFrame([], "id string")
        out = transform_items(
            spark.read.option("basePath", staging).parquet(*new),
            batch_id=batch,
            clock=clock,
        )
        # The run's upsert is one LogTable commit: last writer wins in
        # commit order, so two runs over the same ids leave one row per
        # key, and the table is change-feedable like the reference's
        # container. Same write and maintenance rule as the streaming
        # ingest's defaults (deferred upsert, maintain every batch).
        sink = LogTable(spark, transformed, key="id")
        sink.upsert_deferred(out)
        sink.maintain()
        audit_run(
            spark, audit, start, clock or datetime.now(), True,
            # message analog of EtlProcess.cs:71 + the :177 count log
            f"{n_loaded} documents extracted and saved for processing.",
            forced_lease=forced_lease,
        )
        return out
    except Exception as exc:  # compensation path, EtlProcess.cs:79-85
        audit_run(
            spark, audit, start, clock or datetime.now(), False,
            f"Error: {exc}",
            forced_lease=forced_lease,
        )
        raise
