"""SparkSession factory tuned for the encode/decode pipeline."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# glibc malloc tuning for the NumPy kernels: without it every >128KB temp is
# a fresh mmap and the kernel's page-zeroing serializes all executor python
# workers (measured: 32-proc encode ran SLOWER than 8-proc; with this it
# scales 4.4x from 8->32). Large allocations stay on the freelist instead.
_MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
}


def _prewarm_workers(spark: SparkSession, cores: int) -> None:
    """One-time executor warm-up: fork every Python worker slot, import the
    package's kernel/orcfile module surface, and grow each worker's heap once.

    Without this, the FIRST heavy task of every worker pays seconds of
    serialized first-touch page zeroing (32 fresh heaps faulting at once —
    the same effect the malloc tuning above addresses for steady state) plus
    the package import chain; measured on the bench box the first 32-task
    encode/ORC-write/read stage ran 3-5x its steady-state time (event-log
    task medians 4.4 s vs 0.85 s). This is provisioning work, equivalent to
    executor spin-up on a cluster: it runs one ``spark.range`` job, touches
    no input data, and computes nothing that any later query reuses. It
    warms the workers alive at session start only: executors added later
    (dynamic allocation) or workers respawned after a crash start cold.

    Opt out with ORC_RS_PREWARM=0 (e.g. single-query scripts where session
    startup dominates)."""
    if os.environ.get("ORC_RS_PREWARM", "1") == "0":
        return
    if getattr(spark, "_orc_rs_prewarmed", False):
        return

    def warm(batches):
        import numpy as np
        import pyarrow as pa

        import orc_rs_spark.chunk  # noqa: F401  (kernels chain)
        import orc_rs_spark.orcfile.spark_source  # noqa: F401 (writer+reader)

        # pyarrow imports pandas lazily on its first array built from a
        # Python list (~0.5 s per worker): pay it here, not in a real task
        pa.array([0])
        a = np.ones(64 << 20, dtype=np.uint8)  # first-touch ~64 MB of heap
        del a
        import time

        time.sleep(0.05)  # hold the slot so every core forks its own worker
        yield from batches

    try:
        spark.range(cores, numPartitions=cores).mapInArrow(warm, "id long").count()
    except Exception:
        return  # warm-up must never break session creation; a later call retries
    spark._orc_rs_prewarmed = True


def get_spark(
    master: str | None = None,
    app_name: str = "orc_rs_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus if cpus.isdigit() else 32)
    os.environ.update(_MALLOC_TUNING)  # driver-side kernels (tests, local ops)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Arrow everywhere: mapInArrow/pandas UDFs move whole columnar batches
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # batch size == chunk size: one Arrow batch becomes one encoded chunk.
        # 4096 rows (~1M tokens) keeps each worker's temp working set small
        # enough that 32 concurrent workers don't thrash the shared L3
        # (measured: 16384-row chunks ran 2.7x slower at local[32])
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # token tables are wide rows (KBs each): smaller splits keep every
        # core busy during the scan/shuffle-write stage
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if os.path.isdir("/dev/shm"):
        # shuffle spill on tmpfs: this box has no fast local disk; a real
        # cluster node would put spark.local.dir on NVMe
        b = b.config("spark.local.dir", "/dev/shm/spark_local")
    for k, v in _MALLOC_TUNING.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _prewarm_workers(spark, max(1, spark.sparkContext.defaultParallelism))
    return spark


def iceberg_conf(catalog: str = "ice", warehouse: str = "/tmp/iceberg_warehouse") -> dict:
    """Spark confs wiring an Iceberg catalog (north-star input is an Iceberg
    table of pre-tokenized sequences).

    This sandbox has no network and no Iceberg runtime jar, so these confs
    are exercised only when the jar is present (cluster deployments add
    ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>``
    to spark-submit); everything else in the engine reads/writes through
    the DataFrame API and is source-format agnostic.
    """
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
