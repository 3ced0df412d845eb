"""Audit-log sink (S9/C7): one row per pipeline step — procedure
name, rowcount, message, load_id, timestamp — appended to a parquet
log table (InsertLog, /root/reference/Database/BL_3NF/bl_3nf.sql:23-35
and dm_InsertLog, bl_dm.sql:23-35).

An audit row is driver-side metadata, like the staging layer's
load-id file: the driver writes it as one single-row parquet file
through pyarrow, with no Spark job. Each file is written under a
dot-prefixed temp name and renamed into place; Spark's reader skips
dot-prefixed files, so a crash mid-write never corrupts ``read_log``.
The log stays a plain parquet directory that Spark reads."""

from __future__ import annotations

import datetime
import os
import uuid

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

LOG_SCHEMA = (
    "procedure_name string, rows_affected long, message string, "
    "load_id long, logged_at timestamp"
)

# LOG_SCHEMA as pyarrow writes it. A UTC-adjusted timestamp makes Spark
# read ``logged_at`` as ``timestamp``, not ``timestamp_ntz``.
_ARROW_SCHEMA = pa.schema(
    [
        ("procedure_name", pa.string()),
        ("rows_affected", pa.int64()),
        ("message", pa.string()),
        ("load_id", pa.int64()),
        ("logged_at", pa.timestamp("us", tz="UTC")),
    ]
)


def log_step(
    spark: SparkSession,
    log_path: str,
    procedure_name: str,
    rows_affected: int,
    message: str,
    load_id: int,
) -> None:
    del spark  # kept for callers: the row is written on the driver
    row = pa.Table.from_pylist(
        [
            {
                "procedure_name": procedure_name,
                "rows_affected": rows_affected,
                "message": message,
                "load_id": load_id,
                "logged_at": datetime.datetime.now(datetime.timezone.utc),
            }
        ],
        schema=_ARROW_SCHEMA,
    )
    uri = log_path if "://" in log_path else os.path.abspath(log_path)
    fs, root = pafs.FileSystem.from_uri(uri)
    fs.create_dir(root, recursive=True)
    name = f"part-{uuid.uuid4().hex}"
    tmp = f"{root}/.{name}.tmp"
    pq.write_table(row, tmp, filesystem=fs)
    fs.move(tmp, f"{root}/{name}.parquet")


def read_log(spark: SparkSession, log_path: str) -> DataFrame:
    return spark.read.parquet(log_path)
