"""Copy-on-write versioned parquet table with a transaction log —
the §2.9 "at 100 TB switch to ACID MERGE" swap-in, EXECUTED.

Delta Lake expresses SCD1/SCD2 through ``DeltaTable.merge``. This
module makes the same file-level claim runnable without delta-spark
or any other extra dependency: a minimal lakehouse layout —
immutable parquet data files + an append-only JSON commit log —
where MERGE rewrites ONLY the files whose key-bucket the
source batch touches, readers see atomic snapshots, and any historic
version remains readable (time travel). It is the mechanism Delta's
MERGE uses (file pruning via partition values + footer min/max
stats, copy-on-write rewrite, optimistic-concurrency commits),
reimplemented at demonstration scale so the swap-in claim is
executed code, not prose (reference semantics: bl_cl.sql:439
ON CONFLICT upsert; bl_cl.sql:806-875 two-phase SCD2 MERGE).

Layout under a table root::

    _cowlog/metadata.json      -- key column, bucket fn params (frozen)
    _cowlog/00000001.json      -- commit: {"adds": [...], "removes": [...]}
    _cowlog/00000002.json
    data/v1-b00003-0.parquet   -- immutable data files

Each commit's ``adds`` records per file: bucket, row count, and the
key column's min/max harvested from the parquet FOOTER via pyarrow —
the same zone-map statistics a real lakehouse keeps, audited by
``tests/test_cowtable.py`` against the actual file contents.

Bucketing: files are range-bucketed by an integer-exact function of
the immutable key, ``((key - lo) * nbuckets) // (hi - lo + 1)``
clamped to [0, nbuckets-1], with (lo, hi, nbuckets) frozen at CREATE
in metadata.json. A row can never change bucket (the key is
immutable), so a MERGE touches exactly the buckets the source keys
map to: untouched buckets' files carry over by reference — never
read, never rewritten. At 100 TB this is the difference between a
full-table rewrite and rewriting a few hundred files.

Commit protocol: the commit JSON is staged to a temp name and then
``os.link``-ed to ``<version>.json`` — an atomic create-exclusive on
POSIX, so two concurrent writers racing to the same version get one
winner and one ``ConcurrentWriteError`` (optimistic concurrency,
exactly Delta's protocol). Readers replay the log; a half-staged
commit is invisible until the link lands.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LOG_DIR = "_cowlog"
DATA_DIR = "data"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency conflict) — retry on the new snapshot."""


def _log_path(root: str) -> str:
    return os.path.join(root, LOG_DIR)


def _meta_path(root: str) -> str:
    return os.path.join(_log_path(root), "metadata.json")


def _commit_path(root: str, version: int) -> str:
    return os.path.join(_log_path(root), f"{version:08d}.json")


def _read_meta(root: str) -> dict:
    with open(_meta_path(root)) as f:
        return json.load(f)


def _bucket_col(key: F.Column, meta: dict) -> F.Column:
    """Integer-exact range bucket of the key — identical arithmetic
    in Spark and any SQL oracle. ``(a - a % b) / b`` is exact integer
    division for a >= 0 (the numerator is exactly divisible, and the
    quotient < nbuckets fits a double losslessly) — no float-floor
    boundary exposure; negative a (a key below the frozen lo) clamps
    to bucket 0 either way."""
    lo, hi, n = meta["lo"], meta["hi"], meta["nbuckets"]
    a = (key.cast("long") - F.lit(lo)) * F.lit(n)
    b = F.lit(hi - lo + 1)
    q = ((a - a % b) / b).cast("int")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), q))


def _file_stats(path: str, key: str) -> tuple[int, int, int]:
    """(rows, min_key, max_key) from the parquet footer — the
    zone-map stats the log stores per file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = md.schema.to_arrow_schema().get_field_index(key)
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        mins.append(st.min)
        maxs.append(st.max)
    return md.num_rows, min(mins), max(maxs)


def _commit(root: str, version: int, payload: dict) -> None:
    """Atomic create-exclusive commit via link(2); see module doc."""
    final = _commit_path(root, version)
    fd, tmp = tempfile.mkstemp(dir=_log_path(root), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {version} already committed at {root}"
            ) from None
    finally:
        os.unlink(tmp)


def _write_bucketed(
    root: str, version: int, df: DataFrame, key: str, meta: dict
) -> list[dict]:
    """Write df as one file per non-empty bucket under data/ and
    return the add-entries (file, bucket, rows, min/max key stats).

    Spark writes partitionBy(_bucket) into a staging dir (each
    bucket's rows land in one task via the pre-repartition on the
    bucket column, so exactly one file per bucket); the files are
    then renamed into data/ under deterministic names and their
    footer stats harvested. The staging dir lives UNDER THE TABLE
    ROOT (``<root>/_stage-v{N}-*``), which GUARANTEES rename() stays
    on one filesystem — staging in the system temp dir broke with
    EXDEV whenever /tmp was a different mount (tmpfs) than the table.
    A belt-and-braces shutil.move fallback covers any exotic layout
    (e.g. a bind-mounted data/ subdir).

    File names carry a per-attempt random token (Delta's GUID part
    names, delta-io PROTOCOL.md "Data Files"): two concurrent writers
    racing to the same (version, bucket) must NEVER collide on a data
    file name, because os.rename() REPLACES an existing destination —
    a deterministic name let the commit-race loser silently overwrite
    the winner's committed file, corrupting the snapshot its retry
    then replayed against. The manifest is the only source of truth
    for which files are live; the loser's uniquely-named files become
    unreferenced orphans that vacuum() reclaims past the age floor.
    """
    token = uuid.uuid4().hex[:12]
    staging = tempfile.mkdtemp(dir=root, prefix=f"_stage-v{version}-")
    try:
        (
            df.withColumn("_bucket", _bucket_col(F.col(key), meta))
            .repartition(meta["nbuckets"], "_bucket")
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(staging)
        )
        adds: list[dict] = []
        data_dir = os.path.join(root, DATA_DIR)
        os.makedirs(data_dir, exist_ok=True)
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("_bucket="):
                continue
            bucket = int(entry.split("=", 1)[1])
            parts = sorted(
                p
                for p in os.listdir(os.path.join(staging, entry))
                if p.endswith(".parquet")
            )
            for i, part in enumerate(parts):
                name = f"v{version}-b{bucket:05d}-{i}-{token}.parquet"
                src = os.path.join(staging, entry, part)
                dst = os.path.join(data_dir, name)
                try:
                    os.rename(src, dst)
                except OSError:  # EXDEV: cross-filesystem layout
                    shutil.move(src, dst)
                rows, kmin, kmax = _file_stats(dst, key)
                adds.append(
                    {
                        "file": f"{DATA_DIR}/{name}",
                        "bucket": bucket,
                        "rows": rows,
                        "min_key": kmin,
                        "max_key": kmax,
                    }
                )
        return adds
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def create(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key: str,
    nbuckets: int = 16,
    bounds: tuple[int, int] | None = None,
) -> None:
    """CREATE the table at ``root`` from ``df``, range-bucketed on the
    integer column ``key``. Freezes the bucket function's (lo, hi,
    nbuckets) in metadata.json; commits version 1. ``bounds`` lets a
    caller that already scanned for (min, max) skip the extra job."""
    os.makedirs(_log_path(root), exist_ok=False)
    lo, hi = bounds if bounds is not None else df.agg(F.min(key), F.max(key)).first()
    meta = {"key": key, "lo": int(lo), "hi": int(hi), "nbuckets": nbuckets}
    with open(_meta_path(root), "w") as f:
        json.dump(meta, f)
    adds = _write_bucketed(root, 1, df, key, meta)
    _commit(root, 1, {"op": "create", "adds": adds, "removes": []})


def append(spark: SparkSession, root: str, df: DataFrame) -> None:
    """Blind append (no key matching): adds new bucketed files next
    to the existing ones — the cheap ingest path that over time
    creates the small-files problem ``compact`` repairs."""
    meta = _read_meta(root)
    version = current_version(root)
    adds = _write_bucketed(root, version + 1, df, meta["key"], meta)
    _commit(root, version + 1, {"op": "append", "adds": adds, "removes": []})


def compact(spark: SparkSession, root: str, min_files: int = 2) -> dict:
    """OPTIMIZE: rewrite every bucket holding >= ``min_files`` live
    files into one file (bin-packing at demonstration scale — real
    compaction also targets a size threshold); single-file buckets
    carry over untouched. Pure file-layout change: the snapshot's
    ROWS are identical before and after (pytest-pinned), only the
    file count drops. Returns {buckets_compacted, files_before,
    files_after}."""
    meta = _read_meta(root)
    version = current_version(root)
    files = live_files(root, version)
    by_bucket: dict[int, list[dict]] = {}
    for e in files:
        by_bucket.setdefault(e["bucket"], []).append(e)
    victims = {b: es for b, es in by_bucket.items() if len(es) >= min_files}
    if not victims:
        return {
            "buckets_compacted": 0,
            "files_before": len(files),
            "files_after": len(files),
        }
    paths = [
        os.path.join(root, e["file"]) for es in victims.values() for e in es
    ]
    merged = spark.read.parquet(*paths)
    adds = _write_bucketed(root, version + 1, merged, meta["key"], meta)
    removes = [e["file"] for es in victims.values() for e in es]
    _commit(root, version + 1, {"op": "compact", "adds": adds, "removes": removes})
    return {
        "buckets_compacted": len(victims),
        "files_before": len(files),
        "files_after": len(files) - len(removes) + len(adds),
    }


def current_version(root: str) -> int:
    versions = [
        int(n[:8])
        for n in os.listdir(_log_path(root))
        if n.endswith(".json") and n[:8].isdigit()
    ]
    return max(versions, default=0)


def live_files(root: str, version: int | None = None) -> list[dict]:
    """Replay the log up to ``version`` (default: latest) → the live
    add-entries, in commit order."""
    top = current_version(root) if version is None else version
    live: dict[str, dict] = {}
    for v in range(1, top + 1):
        with open(_commit_path(root, v)) as f:
            commit = json.load(f)
        for rel in commit["removes"]:
            live.pop(rel, None)
        for add in commit["adds"]:
            live[add["file"]] = add
    return list(live.values())


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Snapshot read (time travel when ``version`` is given): one
    parquet scan over exactly the files live at that version.
    ``mergeSchema`` unions the live files' schemas, so a snapshot
    that spans a column-adding append (schema evolution) null-fills
    the old files' missing columns — Delta's additive evolution
    semantics."""
    files = live_files(root, version)
    if not files:
        raise ValueError(f"no live files at {root} version {version}")
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(root, e["file"]) for e in files]
    )


def scan_key_range(
    spark: SparkSession,
    root: str,
    key_lo: int,
    key_hi: int,
    version: int | None = None,
) -> DataFrame:
    """Read-side zone-map pruning: a key-range scan that opens ONLY
    the files whose logged footer [min_key, max_key] envelope
    overlaps [key_lo, key_hi] — the log IS the file index, so the
    planner never lists or footers the skipped files (at 100 TB
    that's the difference between a metadata lookup and an object-
    store LIST + open per file). The residual filter still applies
    inside the surviving files (envelopes admit false positives,
    never false negatives — pruning is lossless by construction,
    pytest-proven against the unpruned scan)."""
    files = live_files(root, version)
    hit = [
        e
        for e in files
        if e["min_key"] <= key_hi and e["max_key"] >= key_lo
    ]
    key = _read_meta(root)["key"]
    if not hit:
        any_file = os.path.join(root, files[0]["file"])
        return spark.read.parquet(any_file).limit(0)
    return (
        spark.read.parquet(*[os.path.join(root, e["file"]) for e in hit])
        .filter((F.col(key) >= key_lo) & (F.col(key) <= key_hi))
    )


def history(root: str) -> list[dict]:
    """The commit log, oldest first (op + files added/removed)."""
    out = []
    for v in range(1, current_version(root) + 1):
        with open(_commit_path(root, v)) as f:
            c = json.load(f)
        out.append(
            {
                "version": v,
                "op": c["op"],
                "n_added": len(c["adds"]),
                "n_removed": len(c["removes"]),
            }
        )
    return out


def _touched_buckets(source: DataFrame, key: str, meta: dict) -> list[int]:
    """Distinct buckets the source batch's keys map to — a
    buckets-sized scalar list (never row-scale) collected to prune
    the file set, exactly like Delta's partition-predicate pruning."""
    rows = (
        source.select(_bucket_col(F.col(key), meta).alias("b"))
        .distinct()
        .collect()
    )
    return sorted(r["b"] for r in rows)


def changes(
    spark: SparkSession, root: str, v_from: int, v_to: int
) -> DataFrame:
    """Change data feed between two versions (inclusive endpoints of
    the diff, exclusive of v_from itself): the row-level delta a
    downstream incremental consumer applies instead of re-reading
    the table. Computed as a key-level snapshot diff over ONLY the
    buckets whose file set changed between the versions (the commit
    log tells us which — unchanged buckets cannot contain changes),
    so the diff cost scales with the touched data, not the table.

    Returns the table's columns plus ``_change_type`` in
    ('insert', 'delete', 'update_pre', 'update_post') — Delta CDF's
    vocabulary. Requires the table's key column (from metadata) to be
    UNIQUE per row (SCD1-style tables; an SCD2 chain identifies rows
    by key + start_dt, which this key-level diff does not model).
    """
    meta = _read_meta(root)
    key = meta["key"]
    old_files = {e["file"]: e for e in live_files(root, v_from)}
    new_files = {e["file"]: e for e in live_files(root, v_to)}
    changed_buckets = {
        e["bucket"]
        for f, e in {**old_files, **new_files}.items()
        if (f in old_files) != (f in new_files)
    }
    olds = [
        os.path.join(root, f)
        for f, e in old_files.items()
        if e["bucket"] in changed_buckets
    ]
    news = [
        os.path.join(root, f)
        for f, e in new_files.items()
        if e["bucket"] in changed_buckets
    ]
    if not olds and not news:
        empty = read_version(spark, root, v_to).limit(0)
        return empty.withColumn("_change_type", F.lit(""))
    # mergeSchema on BOTH sides: a CDF spanning an additive-schema
    # append (which read_version supports) must not throw on the old
    # side's missing column — each side unions its own files' schemas,
    # then the two sides are aligned unionByName-style, null-filling
    # columns the other side doesn't have yet (a column added between
    # v_from and v_to reads as NULL -> non-NULL, i.e. an update).
    rd = spark.read.option("mergeSchema", "true")
    old = rd.parquet(*olds) if olds else None
    new = rd.parquet(*news) if news else None
    if old is None:
        old = new.limit(0)
    if new is None:
        new = old.limit(0)
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
    new = new.select(*old.columns)  # stable shared column order
    attrs = [c for c in new.columns if c != key]
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(
        n, F.col(f"o.{key}").eqNullSafe(F.col(f"n.{key}")), "full_outer"
    )
    in_old = F.col(f"o.{key}").isNotNull()
    in_new = F.col(f"n.{key}").isNotNull()
    same = F.lit(True)
    for a in attrs:
        same = same & F.col(f"o.{a}").eqNullSafe(F.col(f"n.{a}"))
    inserts = joined.filter(in_new & ~in_old).select(
        *[F.col(f"n.{c}").alias(c) for c in new.columns],
        F.lit("insert").alias("_change_type"),
    )
    deletes = joined.filter(in_old & ~in_new).select(
        *[F.col(f"o.{c}").alias(c) for c in new.columns],
        F.lit("delete").alias("_change_type"),
    )
    upd = joined.filter(in_old & in_new & ~same)
    pre = upd.select(
        *[F.col(f"o.{c}").alias(c) for c in new.columns],
        F.lit("update_pre").alias("_change_type"),
    )
    post = upd.select(
        *[F.col(f"n.{c}").alias(c) for c in new.columns],
        F.lit("update_post").alias("_change_type"),
    )
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)


def vacuum(
    root: str, retain_versions: int = 1, min_age_seconds: float = 600.0
) -> dict:
    """Garbage-collect data files no snapshot in the retention window
    can reference: keep every file live in any of the last
    ``retain_versions`` versions, delete the rest (files removed by
    old commits, and orphans staged by crashed writers that never
    committed). Time travel to vacuumed versions stops working —
    exactly Delta's VACUUM contract. Returns {files_deleted,
    files_kept, bytes_deleted}.

    ``min_age_seconds`` is the miniature of Delta's retention-hours
    contract: a writer renames its new files into data/ BEFORE its
    commit is linked, so to a concurrent vacuum an about-to-be-
    committed file is indistinguishable from an orphan. Skipping
    files younger than the age floor keeps vacuum safe against any
    in-flight writer whose stage→commit window is shorter than it
    (10 min dwarfs the window by orders of magnitude). Pass 0 only
    when no concurrent writer can exist (single-process admin op —
    the stance the tests use to exercise deletion determinism)."""
    top = current_version(root)
    keep: set[str] = set()
    for v in range(max(1, top - retain_versions + 1), top + 1):
        keep |= {e["file"] for e in live_files(root, v)}
    return _vacuum_dirs(root, keep, [DATA_DIR], min_age_seconds)


def _vacuum_dirs(
    root: str, keep: set, dirs: list, min_age_seconds: float
) -> dict:
    """Shared reclaim sweep: delete files under the given table
    subdirectories that are not in ``keep`` and are older than the
    age floor, then reap crashed writers' ``_stage-*`` trees (see
    the ``vacuum`` docstrings for the retention/age contract)."""
    import time as _time

    deleted = kept = freed = 0
    now = _time.time()
    for d in dirs:
        full = os.path.join(root, d)
        if not os.path.isdir(full):
            continue
        for name in sorted(os.listdir(full)):
            rel = f"{d}/{name}"
            path = os.path.join(full, name)
            if rel in keep or now - os.stat(path).st_mtime < min_age_seconds:
                kept += 1
                continue
            freed += os.stat(path).st_size
            os.unlink(path)
            deleted += 1
    # Crashed writers leave their whole staging tree behind at the
    # table root (_stage-v*-...); nothing else reclaims it now that
    # staging lives under the root (the old /tmp location at least
    # got OS cleanup). Same age floor as data files: a LIVE writer's
    # staging dir is younger than min_age_seconds by construction.
    for name in sorted(os.listdir(root)):
        if not name.startswith("_stage-"):
            continue
        path = os.path.join(root, name)
        if not os.path.isdir(path) or (
            now - os.stat(path).st_mtime < min_age_seconds
        ):
            kept += 1
            continue
        freed += sum(
            os.stat(os.path.join(dirpath, f)).st_size
            for dirpath, _, files in os.walk(path)
            for f in files
        )
        shutil.rmtree(path)
        deleted += 1
    return {"files_deleted": deleted, "files_kept": kept, "bytes_deleted": freed}


def last_batch_id(root: str) -> int | None:
    """Highest ``batch_id`` recorded in any commit, or None — the
    exactly-once watermark for streaming writers: the commit log IS
    the source of truth, so a foreachBatch replay after a crash sees
    its own batch_id already committed and no-ops."""
    best = None
    for v in range(1, current_version(root) + 1):
        with open(_commit_path(root, v)) as f:
            b = json.load(f).get("batch_id")
        if b is not None and (best is None or b > best):
            best = b
    return best


MERGE_RETRIES = 3


def _merge_files(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    op: str,
    merge_fn,
    extra: dict | None = None,
    retries: int | None = None,
) -> dict:
    """Shared COW merge driver: prune files by the source's touched
    buckets, run ``merge_fn(touched_state) -> new_state`` on ONLY
    that slice, rewrite those buckets, commit (with any ``extra``
    payload fields, e.g. a streaming batch_id). Returns the pruning
    report {touched_buckets, files_rewritten, files_carried}.

    OPTIMISTIC RETRY (Delta's conflict-resolution loop): losing the
    create-exclusive commit race no longer surfaces as a hard error —
    the merge re-reads the NEW current snapshot and re-runs
    ``merge_fn`` against it, up to ``retries`` times (module default
    ``MERGE_RETRIES``). This is semantically safe for the merge family
    because every op here is a key-level upsert/close whose outcome
    depends only on (latest snapshot, source): replaying it on the
    winner's snapshot is exactly serializing the two commits. The
    loser's staged files for the failed attempt are superseded
    orphans (their per-attempt uuid names guarantee they never
    clobber the winner's committed files — see _write_bucketed);
    vacuum() reclaims them past the age floor. Pass retries=0 to
    restore fail-fast (the exactly-once streaming sink does — its
    batch_id dedupe needs the conflict surfaced, not replayed)."""
    if retries is None:
        retries = MERGE_RETRIES
    if retries < 0:
        raise ValueError(f"retries must be >= 0, got {retries}")
    for attempt in range(retries + 1):
        meta = _read_meta(root)
        key = meta["key"]
        version = current_version(root)
        files = live_files(root, version)
        touched = set(_touched_buckets(source, key, meta))
        hit = [e for e in files if e["bucket"] in touched]
        carried = [e for e in files if e["bucket"] not in touched]
        if hit:
            target = spark.read.parquet(
                *[os.path.join(root, e["file"]) for e in hit]
            )
        else:
            # brand-new buckets only: empty target with stored schema
            any_file = os.path.join(root, files[0]["file"])
            target = spark.read.parquet(any_file).limit(0)
        new_state = merge_fn(target)
        adds = _write_bucketed(root, version + 1, new_state, key, meta)
        payload = {"op": op, "adds": adds, "removes": [e["file"] for e in hit]}
        if extra:
            payload.update(extra)
        try:
            _commit(root, version + 1, payload)
        except ConcurrentWriteError:
            if attempt == retries:
                raise
            continue  # re-read the winner's snapshot and replay
        return {
            "touched_buckets": sorted(touched),
            "files_rewritten": len(hit),
            "files_carried": len(carried),
            "commit_attempts": attempt + 1,
        }



def merge_scd1(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    extra: dict | None = None,
    retries: int | None = None,
) -> dict:
    """SCD1 upsert as a file-pruned COW MERGE: semantics are exactly
    ``operators/merge.py::scd1_upsert`` (source wins on key match,
    including explicit NULLs; unmatched source inserts), but only the
    touched buckets' files are read and rewritten. Drops the marker
    column before persisting (table state stays schema-stable)."""
    from global_superstore_data_warehouse_spark.operators.merge import scd1_upsert

    def apply(target: DataFrame) -> DataFrame:
        return scd1_upsert(target, source, keys, attrs).drop("is_updated")

    return _merge_files(spark, root, source, "merge_scd1", apply, extra, retries=retries)


def merge_scd2(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    effective_date: str,
) -> dict:
    """Two-phase SCD2 MERGE (close + insert, §2.9) as a file-pruned
    COW commit — ``operators/merge.py::scd2_merge`` on the touched
    slice only. All versions of a natural key share its bucket (the
    bucket is a function of the key), so close+insert never crosses
    a pruned file."""
    from global_superstore_data_warehouse_spark.operators.merge import scd2_merge

    def apply(target: DataFrame) -> DataFrame:
        return scd2_merge(target, source, keys, attrs, effective_date)

    return _merge_files(spark, root, source, "merge_scd2", apply)


def merge_delete(
    spark: SparkSession,
    root: str,
    keys_df: DataFrame,
    retries: int | None = None,
) -> dict:
    """File-pruned DELETE as a COW merge (Delta's ``DELETE WHERE key
    IN (...)`` shape): only the buckets the key set maps to are read
    and rewritten (anti-join against the key frame); every other
    file is carried by reference. ``keys_df`` must have exactly the
    table's key column. The broadcast is size-GATED, not assumed
    (module broadcast policy — a huge delete set degrades to a
    shuffled anti-join instead of an unguarded broadcast), and the
    gate follows the hints contract: the key frame is
    localCheckpoint'ed FIRST, so the count reads cached narrow rows
    and the anti-join reuses the same materialization instead of
    re-evaluating an arbitrary caller plan twice."""
    from global_superstore_data_warehouse_spark.operators.hints import maybe_broadcast

    meta = _read_meta(root)
    key = meta["key"]
    keys_only = maybe_broadcast(
        keys_df.select(key).localCheckpoint(eager=True)
    )

    def apply(target: DataFrame) -> DataFrame:
        return target.join(keys_only, key, "left_anti")

    # the checkpointed frame also feeds bucket pruning, so the
    # caller's plan is evaluated exactly once end-to-end
    return _merge_files(spark, root, keys_only, "delete", apply, retries=retries)


def change_feed(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED (Delta's ``table_changes`` semantics): every
    row-level change committed in versions (from_version, to_version],
    tagged ``_change_type`` in {'insert', 'delete',
    'update_preimage', 'update_postimage'} and ``_commit_version``.

    Scale shape: the per-commit diff reads ONLY the buckets that
    commit touched — derived from the commit log's adds/removes
    metadata, no data scan decides pruning — and carried buckets
    cannot contain changes by construction (their files moved by
    reference). The loop over versions is driver-side metadata only
    (exactly Delta's CDF planner); each iteration contributes one
    log-pruned scan pair to a single unioned lazy plan. Keys must be
    unique per version (the upsert-table invariant this module
    maintains)."""
    meta = _read_meta(root)
    key = meta["key"]
    top = current_version(root)
    if to_version is None:
        to_version = top
    if not 1 <= from_version <= to_version <= top:
        raise ValueError(
            f"bad change_feed range [{from_version}, {to_version}] "
            f"(table at version {top})"
        )

    # Fold the commit log ONCE and advance the live-file dict
    # incrementally across the version loop — O(V) total log reads.
    # (live_files(root, v) refolds from version 1, so calling it per
    # iteration was O(V^2) driver-side over long ranges.)
    live: dict[str, dict] = {}

    def _advance(commit: dict) -> None:
        for rel in commit["removes"]:
            live.pop(rel, None)
        for add in commit["adds"]:
            live[add["file"]] = add

    for v in range(1, from_version + 1):
        with open(_commit_path(root, v)) as f:
            _advance(json.load(f))

    feed = None
    for v in range(from_version + 1, to_version + 1):
        with open(_commit_path(root, v)) as f:
            commit = json.load(f)
        prev_files = list(live.values())
        touched = {a["bucket"] for a in commit["adds"]} | {
            live[r]["bucket"] for r in commit["removes"] if r in live
        }
        old_hit = [e for e in prev_files if e["bucket"] in touched]
        _advance(commit)
        new_hit = [e for e in live.values() if e["bucket"] in touched]

        def _scan(entries):
            if not entries:
                return None
            return spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(root, e["file"]) for e in entries]
            )

        old_df = _scan(old_hit)
        new_df = _scan(new_hit)
        template = old_df if old_df is not None else new_df
        if template is None:
            continue  # metadata-only commit
        attrs = [c for c in template.columns if c != key]
        empty = template.limit(0)
        o = (old_df if old_df is not None else empty).select(
            key, F.struct(*attrs).alias("_pre")
        )
        n = (new_df if new_df is not None else empty).select(
            key, F.struct(*attrs).alias("_post")
        )
        j = o.join(n, key, "full_outer").where(
            ~F.col("_pre").eqNullSafe(F.col("_post"))
        )
        parts = []
        for side, ctype, cond in (
            ("_post", "insert", F.col("_pre").isNull()),
            ("_pre", "delete", F.col("_post").isNull()),
            ("_pre", "update_preimage",
             F.col("_pre").isNotNull() & F.col("_post").isNotNull()),
            ("_post", "update_postimage",
             F.col("_pre").isNotNull() & F.col("_post").isNotNull()),
        ):
            parts.append(
                j.where(cond).select(
                    key,
                    *[F.col(f"{side}.{a}").alias(a) for a in attrs],
                    F.lit(ctype).alias("_change_type"),
                    F.lit(v).cast("int").alias("_commit_version"),
                )
            )
        step = parts[0]
        for p in parts[1:]:
            step = step.unionByName(p)
        feed = step if feed is None else feed.unionByName(step)
    if feed is None:
        raise ValueError("change_feed range contains no data commits")
    return feed
