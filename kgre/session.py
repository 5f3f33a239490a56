"""SparkSession factory with the scale-oriented defaults the pipeline assumes.

Settings chosen for the 100 TB design point and exercised at local[*]:
  * AQE on (runtime coalesce, skew-join splitting) — SURVEY.md §4.2
  * Arrow transport for all pandas UDF stages, bounded batch size
  * shuffle partitions sized to cores locally; on a real cluster this is
    superseded by AQE target sizes
  * UTC session timezone so DuckDB oracle comparisons are stable
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def stage_checkpoint(df, eager: bool = True):
    """Cut a plan's lineage at a stage boundary, with the checkpoint
    FLAVOR a session config rather than a hard-coded call (VERDICT r4
    #3): by default ``localCheckpoint`` (executor-local blocks, freed on
    GC — right for single-host local[*] where there is no executor loss),
    and with ``spark.kgre.reliableCheckpoint=true`` the HDFS-backed
    ``.checkpoint()`` (survives executor churn on a real cluster; needs
    ``sc.setCheckpointDir`` or ``spark.kgre.checkpointDir``).

    Both flavors produce identical data — only the storage/recovery
    story differs (tests/test_ops.py pins the equivalence)."""
    spark = df.sparkSession
    flag = spark.conf.get("spark.kgre.reliableCheckpoint", "false")
    if flag.lower() != "true":
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        cpd = spark.conf.get("spark.kgre.checkpointDir", None)
        if not cpd:
            raise ValueError(
                "spark.kgre.reliableCheckpoint=true needs a checkpoint "
                "dir: call sc.setCheckpointDir(...) or set "
                "spark.kgre.checkpointDir")
        sc.setCheckpointDir(cpd)
    return df.checkpoint(eager=eager)


def get_spark(app: str = "kgre", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("KGRE_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("KGRE_SHUFFLE_PARTITIONS", "32"))
    return (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # concurrent job submission (lineage resume buckets run in a
        # thread pool) shares executors fairly instead of FIFO-queueing
        .config("spark.scheduler.mode", "FAIR")
        # Library default stays conservative (8g) so get_spark never
        # over-commits a small host.  In local-mode BENCHMARKS the driver
        # JVM hosts all executor threads and its heap IS the cluster
        # memory — bench.py sets KGRE_DRIVER_MEM=32g where the large heap
        # was measured to matter (an 8g heap degrades a 5M-page run 1.75x
        # through GC pressure; see BENCH/BASELINE.md).
        .config("spark.driver.memory", os.environ.get("KGRE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
