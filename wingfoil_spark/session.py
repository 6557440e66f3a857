"""SparkSession construction and per-session configuration.

Scale posture: these defaults are written for a real cluster (AQE on, skew
join handling, partition-size-targeted shuffles); locally they run the same
code on ``local[N]``.

Python workers: :func:`get_spark` sets ``spark.python.daemon.module`` to
``wingfoil_pyworker``, a daemon that runs PySpark's own after wrapping
``zipimport.zipimporter.invalidate_caches``. Without it every Python task's
``setup_spark_files`` re-parses ``pyspark.zip`` (1,328 entries) once per
zip importer, 0.06-0.15 s per task in a quiet process on a 4-vCPU host;
a ``live_stream`` benchmark micro-batch spent 0.26-0.33 s more in
``addBatch`` without it. With it an archive is
re-read only when its stat changed since it was last read. Spark reads the
conf when it launches the daemon, so :func:`configure_session` on a session
the driver built cannot install it. ``get_spark`` also puts the module's
directory on the local workers' ``PYTHONPATH``. Cluster deployments ship
``wingfoil_pyworker.py`` alongside ``wingfoil_spark``, which workers already
import to unpickle UDF closures.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import wingfoil_pyworker

#: SQL confs we need regardless of who built the session. All of these are
#: runtime-settable, so they can be applied to a driver-provided session.
_RUNTIME_CONFS = {
    # The synthetic events table stores ts as parquet TIMESTAMP(NANOS), which
    # Spark has no timestamp type for. Reading nanos as LongType matches the
    # engine's NanoTime model (int64 ns since epoch,
    # reference crates/wingfoil/src/runtime/time.rs:38-68) exactly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep coalescing from SERIALIZING compute-heavy small shuffles: the
    # default 1 MiB floor merged a 100k-row keyed window stage onto 2 of
    # 32 cores (measured r9: stats_tw 2.41s→0.83s, dynamic_membership
    # 1.57s→0.65s, analysis_scores 1.22s→0.56s at sf0.1 with a 64 KiB
    # floor). Coalescing can only MERGE the shuffle.partitions map
    # outputs — it never splits — so at data scale (partitions ≫ 64 KiB)
    # this floor is inert and the advisory-size/parallelismFirst logic
    # is unchanged; it only stops tiny-but-expensive stages from losing
    # the machine.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Arrow transfer for every pandas-UDF boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned or
    ours). Safe to call repeatedly."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment; proceed with the default.
            pass
    return spark


def get_spark(app_name: str = "wingfoil_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    follow the parallelism (on a real cluster you would size these to
    ~128-256 MiB of shuffle data per partition; AQE coalescing makes the
    exact number forgiving).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.python.daemon.module", "wingfoil_pyworker")
        # Workers start the daemon (and import wingfoil_spark) from here
        # whatever the driver's working directory.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.abspath(wingfoil_pyworker.__file__)),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
