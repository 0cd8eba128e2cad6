"""SparkSession factory with scale-appropriate defaults.

The same builder serves local tests (local[32], tiny SFs) and a real
cluster: everything set here is either scale-neutral (timezone, AQE) or
explicitly documented as a local override the cluster submit would tune.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dfce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale notes:
    - AQE is on: at 100 TB it coalesces post-shuffle partitions, switches
      sort-merge→broadcast when runtime stats allow, and splits skewed
      join partitions — all decisions we do not want to hand-schedule.
    - ``spark.sql.shuffle.partitions`` is a *local* default (32 = one per
      core here). On a 1000-executor cluster you'd set it ~2-3× total
      cores (or leave AQE's coalescing to shrink an intentionally high
      number); it is a config, not baked into any operator.
    - Session timezone is pinned to UTC so timestamp semantics are
      identical across engines (parquet ↔ Spark ↔ DuckDB oracle).
    - ``local[...]`` masters list input files on the driver. A read of
      more than ``parallelPartitionDiscovery.threshold`` (32) paths
      otherwise runs the listing as a Spark job, and every LogTable
      read passes one path per live unit (a base unit per write task
      plus a delta unit per deferred commit). In local mode
      that job's tasks are threads of the same JVM statting the same
      disk, so it adds a job and its scheduling to every read and
      lists nothing faster. On a cluster the parallel listing spreads
      real remote-store calls over executors, so other masters (and
      ``cluster_conf``) keep Spark's default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter join pruning: on a selective join, inject
        # a bloom of the small side's keys into the big side's scan —
        # semantics-preserving, and at 100 TB it is the difference
        # between scanning a fact table and scanning the slice that can
        # possibly join (e.g. the contamination check's benchmark side
        # pruning the training corpus). Spark only fires it when stats
        # say it pays; harmless at test scale.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(1 << 30),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(
    total_cores: int = 32_000,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """Recommended spark-submit conf for the 100 TB / ~1000-executor
    deployment shape, as data (pass to ``extra_conf`` or a submit
    wrapper). Every operator in this package is conf-agnostic — these
    settings change WHERE work lands, never what is computed.

    Rationale per key:
    - shuffle.partitions at 3× total cores: oversized on purpose; AQE
      coalescing shrinks small stages, while the big fact shuffles
      (~100 TB / 128 MB ≈ 800k map outputs) need the headroom.
    - maxPartitionBytes = the same 128 MB: one scan task per parquet
      row-group-ish chunk keeps task runtime in the sweet spot
      (~seconds) and bounds executor memory per task.
    - Kryo + speculative execution: serialization overhead and
      straggler amplification both grow with cluster size; speculation
      is safe because every sink in this package is idempotent
      (batch-keyed overwrite / two-phase commit).
    - shuffle.service + dynamicAllocation: executors come and go on a
      shared cluster; shuffle files must outlive them.
    """
    return {
        "spark.sql.shuffle.partitions": str(3 * total_cores),
        "spark.sql.files.maxPartitionBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.speculation": "true",
        "spark.shuffle.service.enabled": "true",
        "spark.dynamicAllocation.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
