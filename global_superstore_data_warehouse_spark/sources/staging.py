"""Staging layer: load-id sequencing, audited append, idempotence
guard (S2/S3/S4, /root/reference/Database/BL_CL/bl_cl.sql:12-68).

The reference keeps a single-row ``current_load_id`` table and
read-increment-updates it per run; here the sequencer state is a tiny
JSON file (driver-side metadata — it is one integer, not data),
replaced atomically on each update.
Staged tables are parquet, partitioned by ``load_id`` so incremental
loads append a new partition and every downstream read of one load
prunes to exactly one directory (P3's load_id filter becomes
partition pruning at any scale).

Row counts come from the write itself: ``write_counted`` attaches a
count metric to the written frame (``DataFrame.observe``), so the
rowcount a step returns and audits costs no job beyond the write —
no re-read of what was just written.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, DataFrameWriter, Observation, SparkSession
from pyspark.sql import functions as F

from global_superstore_data_warehouse_spark.functions.cleaning import with_audit_cols


class LoadIdSequencer:
    """Read-increment-update load-id allocation (S4, bl_cl.sql:16-33)."""

    def __init__(self, state_path: str):
        self.state_path = state_path

    def current(self) -> int:
        if not os.path.exists(self.state_path):
            return 0
        with open(self.state_path) as f:
            return json.load(f)["load_id"]

    def next(self) -> int:
        """Allocate the next load id. The new state is written to a
        dot-prefixed temp file and renamed over the old one, so a crash
        mid-write leaves the previous id readable, never a truncated
        file."""
        v = self.current() + 1
        d, name = os.path.split(self.state_path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump({"load_id": v}, f)
        os.replace(tmp, self.state_path)
        return v


class AlreadyLoadedError(RuntimeError):
    """Raised when a load_id is re-staged (C4, bl_cl.sql:53,61)."""


class EmptySourceError(RuntimeError):
    """Raised when the source has no rows (C3, bl_cl.sql:325-326)."""


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence probe through the Hadoop
    FileSystem API: resolves the scheme from the path itself, so the
    guard fires on hdfs:// and s3a:// targets too — a driver-local
    ``os.path`` probe silently never triggers there and the
    idempotence guard would be a no-op exactly where it matters."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def write_counted(df: DataFrame, write: Callable[[DataFrameWriter], None]) -> int:
    """Run ``write`` on ``df``'s writer and return the number of rows
    written, observed on the write itself rather than counted by a
    second job."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")).write)
    return obs.get["rows"]


def stage_append(df: DataFrame, target_path: str, load_id: int) -> int:
    """Audited staged append (S2) with the idempotence (S3) and
    empty-source (C3) guards. Returns the staged rowcount.

    The existence probe reads only the target's ``load_id=N``
    partition directory — an O(1) metadata check, not a scan.

    The empty-source guard reads the count the write observed, so it
    costs no probe job. A zero-row partitioned append writes no
    ``load_id=N`` directory, only the ``_SUCCESS`` marker, so the
    load id stays free after the raise."""
    part_dir = f"{target_path.rstrip('/')}/load_id={load_id}"
    if _fs_exists(df.sparkSession, part_dir):
        raise AlreadyLoadedError(f"This data was already loaded (load_id={load_id}).")
    rows = write_counted(
        with_audit_cols(df, load_id),
        lambda w: w.mode("append").partitionBy("load_id").parquet(target_path),
    )
    if rows == 0:
        raise EmptySourceError("There is no data in the source.")
    return rows


def read_load(spark: SparkSession, path: str, load_id: int) -> DataFrame:
    """Read one staged load (P3's load_id filter → partition pruning)."""
    return spark.read.parquet(path).filter(F.col("load_id") == str(load_id))


TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = TARGET_FILE_BYTES
) -> int:
    """Small-file compaction — the maintenance pass every streaming /
    micro-increment sink needs (foreachBatch appends produce one file
    set per batch; thousands of small files make scans
    metadata-bound at scale). Rewrites the directory into
    ``ceil(total_bytes / target)`` files via coalesce (no shuffle —
    file-level bin packing) through a temp dir so a crash mid-compact
    never destroys the source. Returns the new file count."""
    import math
    import os
    import shutil

    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + ".__compacting"
    spark.read.parquet(path).coalesce(n).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
