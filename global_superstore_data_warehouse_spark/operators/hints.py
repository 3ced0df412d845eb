"""Size-gated join-strategy hints (100 TB design).

``F.broadcast`` is the right call for frames that are provably
node- or dimension-sized — but a bare hint hard-codes the assumption
into the plan, and at a large enough graph (billions of nodes) the
"small" side stops fitting on executors. ``maybe_broadcast`` makes
the assumption a measured, runtime decision: below the row threshold
the frame rides a broadcast hint, above it the hint is simply
dropped and the same plan runs as an ordinary shuffle join (AQE may
still pick broadcast from its own size stats). The SAME code is the
100 TB plan — no edit required when the data outgrows the hint.

Counting is cheap by contract: callers gate frames they have already
``localCheckpoint``ed (the iterative graph ops checkpoint every
level anyway, so the count reads cached narrow rows), or pass
``n_rows`` when the cardinality is already known.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default gate: well under executor-memory scale for the narrow
# (node id, label)-shaped frames this is used on (~16 bytes/row →
# tens of MB), and far above anything the test corpora produce.
BROADCAST_MAX_ROWS = 5_000_000


def maybe_broadcast(df: DataFrame, n_rows: int | None = None) -> DataFrame:
    """Broadcast hint only when the frame is measured small.

    The gate is the module's ``BROADCAST_MAX_ROWS``, read at CALL
    time so tests can lower it globally and prove the shuffle-mode
    plan end-to-end. ``n_rows`` skips the count when the caller
    already knows the cardinality (e.g. it counted the checkpointed
    parent frame).
    """
    n = df.count() if n_rows is None else n_rows
    return F.broadcast(df) if n <= BROADCAST_MAX_ROWS else df


def _session_parallelism(df: DataFrame) -> int:
    """The session's shuffle-partition setting (the deployment's
    scale knob — ``tune_shuffle_for_input`` raises it on real data),
    floored at the executor core count. Spark rejects a non-integer
    value when it is set, so the parse cannot fail on a live session."""
    spark = df.sparkSession
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(spark.sparkContext.defaultParallelism, conf_n)


def spread_scan(
    df: DataFrame, sf_dir: str, table: str, by: str | None = None
) -> DataFrame:
    """INPUT-SKEW GUARD for CPU-dense work over a small scan (guide
    §2.5 "one huge unsplittable file … repartition immediately after
    the read", and §4's python-parallelism corollary): parquet scan
    parallelism is sized by BYTES (maxPartitionBytes / row-group
    layout), so a table that is physically tiny but feeds expensive
    per-row work (md5 folds, Levenshtein DP, pure-python codecs in
    mapInPandas) executes in ONE task while the rest of the cluster
    idles — measured at sf0.1: fuzzy_name_match 6.2 s and
    video_frame_sample_stats 10.8 s in a single task each.

    The repartition is GATED on catalog file size: it fires only when
    the scan cannot yield at least the session's shuffle parallelism
    in splits (bytes < maxPartitionBytes x parallelism). At
    production scale the inequality flips and this is a NO-OP — the
    plan is byte-identical, no extra exchange. ``by`` hash-spreads on
    a stable key (deterministic layout under task retry); without it
    the spread uses round-robin (safe here: parquet input rows are
    deterministic, see SPARK-23207 sort-before-repartition)."""
    from global_superstore_data_warehouse_spark.catalog import table_bytes

    spark = df.sparkSession
    n = _session_parallelism(df)
    # the conf value is a SIZE STRING ('134217728b', '512m', ...):
    # parse it with the JavaUtils routine Spark itself uses, so a
    # deployment-tuned value moves the gate and a malformed one raises
    # here, at plan time, instead of falling back to a default.
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
    )
    try:
        max_split = int(raw)
    except ValueError:
        max_split = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                raw
            )
        )
    if table_bytes(sf_dir, table) >= max_split * n:
        return df
    return df.repartition(n, by) if by else df.repartition(n)


def cpu_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """PINNED parallelism for a CPU-dense post-shuffle stage. AQE
    coalesces shuffle partitions by BYTES
    (advisoryPartitionSizeInBytes / minPartitionSize), which is the
    right model when stage cost is IO-shaped — and exactly wrong when
    each row carries heavy compute (set-intersection verification,
    Arrow→pandas python stages): measured at sf0.1, the near-dup
    verify stage collapsed to 3 tasks holding 32 s of CPU (11 s
    wall) and the grouped-pandas path to 2 tasks (5.6 s wall).
    An EXPLICIT repartition is exempt from AQE coalescing by
    contract (user-specified numPartitions), so the stage runs at
    the session's shuffle parallelism — the same rows would have
    crossed the wire anyway; this only pins HOW MANY reducers own
    them. Scale-adaptive via spark.sql.shuffle.partitions, never a
    hard-coded local core count."""
    n = _session_parallelism(df)
    return df.repartition(n, *[F.col(c) for c in cols]) if cols else df.repartition(n)


def stats_gated(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Cost-based broadcast gate from CATALOG STATISTICS (parquet
    footer rowcounts via ``catalog.table_rows`` — driver-side
    metadata, no Spark job): below the gate the frame rides a
    broadcast hint so the big probe side is never shuffled at all;
    above it the hint is dropped and the join runs as an ordinary
    shuffle join. Round-9 fix for the lineitem ⋈ orders stage in the
    flagship views — AQE also ends up broadcasting orders at test
    SF, but only AFTER lineitem's shuffle map stage has been
    written; planning from statistics skips that wasted map stage,
    exactly how a production optimizer uses metastore rowcounts
    (a runtime count() gate was measured and rejected: the count job
    eats the saving). At 100 TB orders exceeds the gate and the same
    code degrades to the shuffle join. ``table`` names the CATALOG
    table whose rowcount bounds ``df`` — valid whenever ``df`` is a
    non-exploding projection/enrichment of that table."""
    from global_superstore_data_warehouse_spark.catalog import table_rows

    return maybe_broadcast(df, n_rows=table_rows(sf_dir, table))
