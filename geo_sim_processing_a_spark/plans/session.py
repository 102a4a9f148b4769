"""LOCAL-mode SparkSession factory with the engine's standard
scale-oriented conf.

Settings chosen for 100 TB-scale behavior and verified locally:
 - AQE on (coalesce + skew-join backstop behind our explicit salting)
 - Arrow transport for every pandas UDF (the only Python boundary)
 - shuffle partitions max(cores, 8) by default (JVM stages; the
   Python-kernel stages size themselves in waves of cores, see the
   tuning block in operators/dedup.py)

This factory hardcodes master=local[N] (builder-set properties BEAT
spark-submit flags, so it is NOT the cluster entrypoint): a cluster
deployment builds its own SparkSession via spark-submit/cluster
tooling and only needs the non-default confs below (AQE advisory
size, Arrow batch size) — nothing in the engine's operators imports
this module; they all take the session as an argument.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "geo_sim_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # one BLAS thread per Python worker: the kernels issue millions of
    # tiny numpy ops; N workers x default-all-cores OpenBLAS spin
    # threads thrash catastrophically (measured 2x wall at local[32]).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin the session TZ: date_trunc/unix_timestamp in the
        # timeseries oracles assume the DuckDB twin's TZ-naive epoch
        # semantics — host-TZ-independent only with an explicit UTC
        # session zone (ADVICE r5)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing is byte-advised; geometry-kernel stages are
        # CPU-bound per row, not per byte — a small advisory size keeps
        # applyInPandas stages at full parallelism (measured 3x on the
        # kernel stage) while still merging truly-empty partitions.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
