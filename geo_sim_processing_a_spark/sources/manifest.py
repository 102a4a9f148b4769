"""Checkpoint / lineage manifest — resumable batch runs (SURVEY.md S7).

The manifest is the run's one record: which tiles still run, the
run-parameter fingerprint a resume must match, and the counters
run_pipeline returns are all read from it; nothing else is written
beside the data.  With no Iceberg runtime jar on the classpath, the
manifest is a parquet directory implementing the same semantics, one
row per completed (stage, tile):

  stage       string  pipeline stage (one out_dir may hold several)
  tile        long    cell id
  attempt     int     the attempt that computed the tile (0, 1, ...)
  n_features  long    output rows of the tile
  counters    string  JSON: n_bend_reduced, n_hole_del, n_line_smooth,
                      n_pass, n_pol_del, v_in, v_out
  params      string  JSON run-parameter fingerprint (res, diameter_tol,
                      kernel, smooth, resolved epsilon; sort_keys) — the
                      same on every row of a stage
  ts          double  append time (unix seconds)

 - each attempt APPENDS the rows of the tiles it computed; a recorded
   tile is pruned from every later attempt, so a (stage, tile) pair
   has exactly one row — the manifest is append-only like an Iceberg
   manifest list, not overwrite-in-place;
 - on restart, completed (stage, tile) pairs are read and the work
   DataFrame is pruned with a broadcast left_anti join — only missing
   tiles re-run (north_rule "resume mid-shuffle" at batch granularity:
   the shuffle feeding the kernel stage only materializes the missing
   tiles' partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def manifest_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_manifest")


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence via the Hadoop FileSystem API, so resume works for ANY
    out_dir scheme Spark can write (hdfs://, s3a://, file:, bare local
    paths).  A driver-local os.path.exists would return False for every
    remote URI and silently discard all resume state (ADVICE r3)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def fs_read_text(spark: SparkSession, path: str) -> str:
    """Small-file text read through the Hadoop FS API (works for any
    scheme the cluster can reach, unlike driver-local open())."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        return str(jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"))
    finally:
        stream.close()


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create-exclusive small-file text write through the Hadoop FS API
    (overwrite=False: a concurrent creator loses with a
    FileAlreadyExistsException rather than silently clobbering)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, False)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_completed(spark: SparkSession, base_dir: str, stage: str) -> DataFrame | None:
    """The manifest rows of ``stage``: one per completed tile.  None
    means 'no manifest yet' — ONLY the path-missing case.  A manifest
    that exists but cannot be read (corrupt file, transient FS error)
    RAISES: silently returning None would discard all resume state and
    re-run every tile on top of the masked error."""
    path = manifest_path(base_dir)
    if not fs_exists(spark, path):
        return None
    return spark.read.parquet(path).where(F.col("stage") == stage)


def prune_completed(work: DataFrame, completed: DataFrame | None,
                    tile_col: str = "tile") -> DataFrame:
    """left_anti join away tiles already in the manifest (broadcast —
    the manifest is tiny relative to the data)."""
    if completed is None:
        return work
    return work.join(F.broadcast(completed.select(F.col("tile").alias(tile_col)).distinct()),
                     on=tile_col, how="left_anti")


def append_manifest(df: DataFrame, base_dir: str) -> None:
    df.write.mode("append").parquet(manifest_path(base_dir))
