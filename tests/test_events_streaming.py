"""Event analytics (batch oracle parity) + Structured Streaming
equivalence tests."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_matches_oracle

EVENT_QUERIES = [
    "events_hourly",
    "events_sliding",
    "events_sessionize",
    "top_events_per_user",
    "cohort_retention",
    "event_funnel",
    "event_transitions",
    "events_session_window",
    "events_value_outliers",
]


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_event_query_matches_oracle(spark, duck, name, sf_dir):
    assert_matches_oracle(spark, duck, name, sf_dir)


def test_event_transitions_pandas_variant_equivalent(spark, sf_dir):
    """The grouped-applyInPandas formulation must produce exactly the
    registered lag-window plan's rows (integer counts — engine-exact)."""
    from global_superstore_data_warehouse_spark.plans.events import (
        event_transitions,
        event_transitions_pandas,
    )

    key = ["user_id", "from_type", "to_type"]
    want = event_transitions(spark, sf_dir).orderBy(*key).collect()
    got = event_transitions_pandas(spark, sf_dir).orderBy(*key).collect()
    assert got == want


def test_stream_hourly_equals_batch(spark, sf_dir, tmp_path):
    """The streaming job (availableNow drain) must produce exactly
    the batch result — same logic, same windows."""
    from global_superstore_data_warehouse_spark.plans.events import events_hourly
    from global_superstore_data_warehouse_spark.streaming.events import (
        hourly_counts_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    stream = hourly_counts_stream(read_events_stream(spark, sf_dir))
    run_stream_to_memory(stream, spark, "hourly_test", str(tmp_path / "ckpt"))
    got = spark.sql("SELECT * FROM hourly_test").orderBy("hour_start", "event_type")
    want = events_hourly(spark, sf_dir)
    assert got.collect() == want.collect()


def test_stream_incremental_staging(spark, sf_dir, tmp_path):
    from global_superstore_data_warehouse_spark.streaming.events import (
        stream_incremental_staging,
    )

    target = str(tmp_path / "staged_events")
    stream_incremental_staging(spark, sf_dir, target, str(tmp_path / "ckpt2"))
    staged = spark.read.parquet(target)
    assert "load_id" in staged.columns and "insert_date" in staged.columns
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert staged.count() == n_events


def test_stateful_sessionize_matches_batch_closed_sessions(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization: with the whole source in
    one availableNow batch, every session except each user's open tail
    must be emitted, identical to the batch twin's non-final sessions."""
    from global_superstore_data_warehouse_spark.plans.events import events_sessionize
    from global_superstore_data_warehouse_spark.streaming.events import read_events_stream
    from global_superstore_data_warehouse_spark.streaming.stateful import sessionize_stream

    stream = sessionize_stream(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.sql("SELECT * FROM sessions_test")
        .select(
            "user_id",
            F.date_format(F.from_unixtime("session_start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.from_unixtime("session_end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round("sum_value", 2).alias("sum_value"),
        )
    )
    batch = events_sessionize(spark, sf_dir)
    last_seq = batch.groupBy("user_id").agg(F.max("session_seq").alias("session_seq"))
    sess_cols = [
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"), "sum_value",
    ]
    non_final = batch.join(last_seq, ["user_id", "session_seq"], "left_anti").select(*sess_cols)
    all_sessions = batch.select(*sess_cols)
    got_rows = set(map(tuple, got.collect()))
    # every closed (non-final) session must be emitted; final sessions
    # may additionally appear when the event-time timeout flushed an
    # idle user's open tail — but nothing outside the true session set.
    assert set(map(tuple, non_final.collect())) <= got_rows
    assert got_rows <= set(map(tuple, all_sessions.collect()))
    # emission is exactly-once per session
    assert len(got_rows) == got.count()


def test_stream_sliding_equals_batch(spark, sf_dir, tmp_path):
    from global_superstore_data_warehouse_spark.plans.events import events_sliding
    from global_superstore_data_warehouse_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        sliding_counts_stream,
    )

    stream = sliding_counts_stream(read_events_stream(spark, sf_dir))
    run_stream_to_memory(stream, spark, "sliding_test", str(tmp_path / "ckpt_sl"))
    got = spark.sql("SELECT * FROM sliding_test").orderBy("window_start", "event_type")
    want = events_sliding(spark, sf_dir)
    assert got.collect() == want.collect()


def test_approx_users_within_rsd_bound(spark, sf_dir):
    """HLL++ estimate per hour stays within 5x the configured 1% rsd
    of the exact distinct count (generous bound, catches wiring bugs)."""
    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.plans.events import (
        events_hourly_approx_users,
    )

    approx = {r.hour_start: r.approx_users for r in events_hourly_approx_users(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    exact = {
        r.hour_start: r.exact
        for r in ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start")
        ).agg(F.countDistinct("user_id").alias("exact")).collect()
    }
    assert set(approx) == set(exact)
    for h, est in approx.items():
        assert abs(est - exact[h]) <= max(2, 0.05 * exact[h]), (h, est, exact[h])


def test_stateful_late_event_does_not_split_session():
    """ADVICE r1: an in-watermark event below the state cursor must be
    absorbed into the open session (clamped), not move the cursor
    backward so a later in-order event reads as a >gap jump."""
    import pandas as pd

    from global_superstore_data_warehouse_spark.streaming.stateful import (
        SESSION_GAP_SECONDS,
        sessionize_fn,
    )

    class FakeState:
        def __init__(self, value):
            self._v = value
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def remove(self):
            self._v = None

        def getCurrentWatermarkMs(self):
            return 0

        def setTimeoutTimestamp(self, ts):
            pass

    # open session [1000, 2000]; batch: late event at 1500 (below the
    # cursor) then an in-order event at 2300 (gap 300 < 600 from the
    # cursor). Without the clamp the fold would see 1500 -> 2300 =
    # +800 > gap and split.
    state = FakeState((1000, 2000, 3, 30.0))
    batch = pd.DataFrame(
        {"sec": [1500, 2300], "event_id": [10, 11], "value": [1.0, 2.0]}
    )
    closed = list(sessionize_fn((7,), iter([batch]), state))
    assert closed == []  # nothing split off
    start, last, n, total = state.get
    assert (start, last) == (1000, 2300)  # span extended, never reopened
    assert n == 5 and total == 33.0
    # sanity: a genuinely out-of-session event still splits
    state2 = FakeState((1000, 2000, 3, 30.0))
    batch2 = pd.DataFrame(
        {"sec": [2000 + SESSION_GAP_SECONDS + 1], "event_id": [12], "value": [5.0]}
    )
    out = list(sessionize_fn((7,), iter([batch2]), state2))
    assert len(out) == 1 and out[0].iloc[0]["session_end"] == 2000


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """A doubled source (at-least-once redelivery) must dedup back to
    the exact original row set, and every surviving row is intact."""
    import shutil

    from global_superstore_data_warehouse_spark.streaming.events import (
        dedup_events_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    src = tmp_path / "dups"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events_a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "events_b.parquet")
    stream = dedup_events_stream(read_events_stream(spark, str(src), "*.parquet"))
    run_stream_to_memory(
        stream, spark, "dedup_stream_test", str(tmp_path / "ckpt_dedup"), "append"
    )
    got = spark.sql(
        "SELECT event_id, user_id, event_type FROM dedup_stream_test"
    ).orderBy("event_id")
    want = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )
    assert got.collect() == want.collect()


def test_range_join_matches_oracle(spark, duck, sf_dir):
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(spark, duck, "events_in_maintenance_windows", sf_dir)


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The bucket blocking must plan as a hash equi-join; a
    BroadcastNestedLoopJoin with a range condition (what the naive
    BETWEEN join produces) is the quadratic scale-killer this
    operator exists to avoid. The only tolerated BNLJ is the 1-row
    bounds crossJoin (type Cross)."""
    from global_superstore_data_warehouse_spark.plans.events import (
        events_in_maintenance_windows,
    )

    plan = events_in_maintenance_windows(spark, sf_dir)._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan
    bad = [
        l
        for l in plan.splitlines()
        if "BroadcastNestedLoopJoin" in l and "Cross" not in l
    ]
    assert not bad, bad


def test_stream_session_window_equals_batch(spark, sf_dir, tmp_path):
    """The native session_window streaming job (availableNow drain)
    must produce exactly the batch events_session_window result —
    state-store session merging and the batch aggregate implement
    the same gap semantics."""
    from global_superstore_data_warehouse_spark.plans.events import (
        events_session_window,
    )
    from global_superstore_data_warehouse_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        session_stats_stream,
    )

    stream = session_stats_stream(read_events_stream(spark, sf_dir))
    run_stream_to_memory(stream, spark, "session_test", str(tmp_path / "ckpt_sw"))
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM session_test").collect())
    )
    want = sorted(map(tuple, events_session_window(spark, sf_dir).collect()))
    assert got == want


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """The stream-stream interval join (availableNow drain) must emit
    exactly the batch interval-join rows: every (click, purchase)
    pair per user with purchase_ts in [click_ts, click_ts + 30 min]."""
    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.streaming.events import (
        click_purchase_join_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    stream = click_purchase_join_stream(read_events_stream(spark, sf_dir))
    run_stream_to_memory(
        stream,
        spark,
        "ssj_out",
        str(tmp_path / "ckpt_ssj"),
        output_mode="append",
    )
    got = spark.table("ssj_out")

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    want = clicks.join(
        purchases,
        F.expr(
            "c_user_id = p_user_id AND purchase_ts >= click_ts"
            " AND purchase_ts <= click_ts + interval 30 minutes"
        ),
    ).select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
        "purchase_value",
    )

    key = ["user_id", "purchase_id", "click_id"]
    assert sorted(got.collect(), key=lambda r: tuple(r[k] for k in key)) == sorted(
        want.collect(), key=lambda r: tuple(r[k] for k in key)
    )
    assert want.count() > 0, "testdata must contain joinable click→purchase pairs"


def test_stream_static_enrichment_equals_batch(spark, sf_dir, tmp_path):
    """The stream-static broadcast join must enrich exactly like the
    batch join over the same dim (stateless per micro-batch)."""
    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.streaming.events import (
        enrich_events_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    ev_batch = load(spark, sf_dir, "events")
    type_dim = (
        ev_batch.select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type").cast("double"))
    )
    stream = enrich_events_stream(read_events_stream(spark, sf_dir), type_dim)
    run_stream_to_memory(
        stream, spark, "enrich_out", str(tmp_path / "ckpt_enrich"), output_mode="append"
    )
    got = spark.table("enrich_out")

    want = ev_batch.join(F.broadcast(type_dim), "event_type", "left").withColumn(
        "weighted_value", F.round(F.col("value") * F.col("type_weight"), 6)
    )
    assert got.count() == want.count()
    k = lambda r: r["event_id"]
    got_rows = sorted(got.select("event_id", "weighted_value").collect(), key=k)
    want_rows = sorted(want.select("event_id", "weighted_value").collect(), key=k)
    assert got_rows == want_rows


def test_stream_type_mix_equals_batch(spark, sf_dir, tmp_path):
    """The pivoted type-mix stream (availableNow drain) must equal
    the same single-aggregation computed in batch: counts, total,
    and rounded shares per 6-hour window."""
    from pyspark.sql import functions as F

    from global_superstore_data_warehouse_spark.catalog import load
    from global_superstore_data_warehouse_spark.streaming.events import (
        EVENT_TYPES,
        read_events_stream,
        run_stream_to_memory,
        type_mix_stream,
    )

    stream = type_mix_stream(read_events_stream(spark, sf_dir))
    run_stream_to_memory(stream, spark, "typemix_test", str(tmp_path / "ckpt_tm"))
    got = spark.sql("SELECT * FROM typemix_test").orderBy("window_start").collect()

    ev = load(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    aggs.append(
        F.sum(F.when(~F.col("event_type").isin(*EVENT_TYPES), 1).otherwise(0)).alias(
            "n_other"
        )
    )
    aggs.append(F.count(F.lit(1)).alias("n_total"))
    batch = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(*aggs)
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *[F.col(f"n_{t}") for t in EVENT_TYPES],
            "n_other",
            "n_total",
            *[
                F.round(F.col(f"n_{t}") / F.col("n_total"), 6).alias(f"share_{t}")
                for t in EVENT_TYPES
            ],
        )
        .orderBy("window_start")
        .collect()
    )
    assert got == batch
    for r in got:
        assert r["n_other"] == 0  # declared dimension covers the feed
        assert (
            sum(r[f"n_{t}"] for t in EVENT_TYPES) + r["n_other"] == r["n_total"]
        )


def test_streaming_mv_refresh_equals_full_recompute(spark, sf_dir, tmp_path):
    """Streaming IVM: orders arriving as single-file micro-batches
    fold into the persisted MV state; after the stream drains, the
    finalized state equals the direct full recompute — merge(partials
    per batch) == recompute, under Structured Streaming's scheduling
    rather than a hand-driven loop."""
    from pyspark.sql import functions as F

    from global_superstore_data_warehouse_spark.plans.pipeline import (
        mv_finalize,
        mv_partial,
    )
    from global_superstore_data_warehouse_spark.streaming.events import (
        mv_refresh_stream,
        read_mv_state,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = str(tmp_path / "orders_batches")
    # three deterministic chunk files = three micro-batches
    orders.withColumn(
        "chunk", (F.col("o_orderkey") % 3).cast("int")
    ).write.partitionBy("chunk").parquet(src)

    state = str(tmp_path / "mv_state")
    mv_refresh_stream(spark, src, state, str(tmp_path / "ckpt_mv"))

    got = {
        (r["order_year"], r["o_orderpriority"]): (r["sum_price"], r["n_orders"], r["avg_price"])
        for r in read_mv_state(spark, state).collect()
    }
    want = {
        (r["order_year"], r["o_orderpriority"]): (r["sum_price"], r["n_orders"], r["avg_price"])
        for r in mv_finalize(mv_partial(orders)).collect()
    }
    assert set(got) == set(want)
    for k, (gs, gn, _ga) in got.items():
        ws, wn, _wa = want[k]
        assert gn == wn
        assert abs(gs - ws) < 1e-6

    # at-least-once replay: redriving every batch (fresh checkpoint,
    # same source, same state) must be a no-op — the state carries the
    # batch id that produced it and skips replays instead of
    # double-counting the deltas
    before = sorted(map(tuple, spark.read.parquet(state).collect()))
    mv_refresh_stream(spark, src, state, str(tmp_path / "ckpt_mv_replay"))
    after = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert after == before


def _scd2_stream_scenario(spark, sf_dir, tmp_path, max_files, tag):
    """Drive the two-load SCD2 lifecycle through the stream engine
    and return {key: sorted version tuples}."""
    from pyspark.sql import functions as F

    from global_superstore_data_warehouse_spark.streaming.scd import scd2_dim_stream

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k, name, attr = "c_custkey", "c_name", "c_mktsegment"
    load1 = cust.filter(F.col(k) % 3 == 0).select(
        F.col(k).alias("k"),
        F.col(name).alias("name"),
        F.col(attr).cast("string").alias("attr"),
        F.lit(1).alias("load_seq"),
        F.lit("2024-01-01").alias("effective_date"),
    )
    load2 = cust.filter(F.col(k) % 2 == 0).select(
        F.col(k).alias("k"),
        F.concat(
            F.col(name),
            F.when(F.col(k) % 12 == 0, F.lit(" v2")).otherwise(F.lit("")),
        ).alias("name"),
        F.col(attr).cast("string").alias("attr"),
        F.lit(2).alias("load_seq"),
        F.lit("2024-06-15").alias("effective_date"),
    )
    # each staged load lands as its OWN file, written in load order —
    # the production contract the operator documents (the file source
    # orders by modification time; a single partitioned write gave
    # both loads near-identical mtimes and a nondeterministic
    # cross-batch order)
    import time as _time

    src = str(tmp_path / f"loads_{tag}")
    load1.coalesce(1).write.parquet(src)
    _time.sleep(1.1)  # distinct mtime on coarse-granularity filesystems
    load2.coalesce(1).write.mode("append").parquet(src)

    dim = str(tmp_path / f"dim_{tag}")
    scd2_dim_stream(
        spark, src, dim, str(tmp_path / f"ckpt_{tag}"),
        keys=["k"], attrs=["name", "attr"], max_files_per_trigger=max_files,
    )
    out = {}
    for r in spark.read.parquet(dim).collect():
        out.setdefault(r["k"], []).append(
            (r["name"], r["attr"], str(r["start_dt"]), str(r["end_dt"]), r["is_active"])
        )
    return {key: sorted(v) for key, v in out.items()}


def test_streaming_scd2_equals_batch_lifecycle(spark, sf_dir, tmp_path):
    """The streamed version chain equals the hand-chained batch
    merges, and is invariant to micro-batch granularity (one file
    per trigger vs everything in one batch — the in-data load_seq
    ordering, not the engine's batching, decides history)."""
    from pyspark.sql import functions as F

    from global_superstore_data_warehouse_spark.operators.merge import scd2_merge

    got_1 = _scd2_stream_scenario(spark, sf_dir, tmp_path, 1, "one")
    got_all = _scd2_stream_scenario(spark, sf_dir, tmp_path, 100, "all")
    assert got_1 == got_all

    # batch reference: the same two loads chained by hand
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k, name, attr = "c_custkey", "c_name", "c_mktsegment"
    empty = cust.select(
        F.col(k).alias("k"), F.col(name).alias("name"),
        F.col(attr).cast("string").alias("attr"),
        F.to_date(F.lit("2024-01-01")).alias("start_dt"),
        F.to_date(F.lit("9999-12-31")).alias("end_dt"),
        F.lit(True).alias("is_active"),
    ).filter(F.lit(False))
    l1 = cust.filter(F.col(k) % 3 == 0).select(
        F.col(k).alias("k"), F.col(name).alias("name"),
        F.col(attr).cast("string").alias("attr"))
    l2 = cust.filter(F.col(k) % 2 == 0).select(
        F.col(k).alias("k"),
        F.concat(F.col(name), F.when(F.col(k) % 12 == 0, F.lit(" v2")).otherwise(F.lit(""))).alias("name"),
        F.col(attr).cast("string").alias("attr"))
    s1 = scd2_merge(empty, l1, keys=["k"], attrs=["name", "attr"], effective_date="2024-01-01")
    s2 = scd2_merge(s1, l2, keys=["k"], attrs=["name", "attr"], effective_date="2024-06-15")
    want = {}
    for r in s2.collect():
        want.setdefault(r["k"], []).append(
            (r["name"], r["attr"], str(r["start_dt"]), str(r["end_dt"]), r["is_active"])
        )
    want = {key: sorted(v) for key, v in want.items()}
    assert got_1 == want


def _scd2_loads_fixture(spark, sf_dir):
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(50)
    return lambda seq, eff: cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").cast("string").alias("attr"),
        F.lit(seq).alias("load_seq"),
        F.lit(eff).alias("effective_date"),
    )


def test_streaming_scd2_rejects_skipped_loads(spark, sf_dir, tmp_path):
    """A GAP in the load sequence must raise, not silently apply past
    the missing load: delivering load 2 onto a fresh dim (the
    sequencer issues 1-based contiguous seqs) skips load 1."""
    from global_superstore_data_warehouse_spark.streaming.scd import (
        OutOfOrderLoadError,
        scd2_dim_stream,
    )

    mk = _scd2_loads_fixture(spark, sf_dir)
    src = str(tmp_path / "loads_gap")
    dim = str(tmp_path / "dim_gap")
    mk(2, "2024-06-15").coalesce(1).write.parquet(src)
    with pytest.raises(Exception) as exc_info:
        scd2_dim_stream(spark, src, dim, str(tmp_path / "ckpt_gap"),
                        keys=["k"], attrs=["name", "attr"])
    assert "load_seq" in str(exc_info.value) or "OutOfOrder" in str(
        type(exc_info.value).__name__
    ) or "skipped" in str(exc_info.value)


def test_streaming_scd2_rejects_gap_within_batch(spark, sf_dir, tmp_path):
    """Non-consecutive seqs inside ONE micro-batch (1 then 3) must
    raise before anything past the gap is applied."""
    from global_superstore_data_warehouse_spark.streaming.scd import scd2_dim_stream

    mk = _scd2_loads_fixture(spark, sf_dir)
    src = str(tmp_path / "loads_inbatch")
    dim = str(tmp_path / "dim_inbatch")
    mk(1, "2024-01-01").coalesce(1).write.parquet(src)
    mk(3, "2024-06-15").coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception) as exc_info:
        # everything in one batch -> within-batch contiguity check
        scd2_dim_stream(spark, src, dim, str(tmp_path / "ckpt_inbatch"),
                        keys=["k"], attrs=["name", "attr"],
                        max_files_per_trigger=100)
    assert "load_seq" in str(exc_info.value) or "OutOfOrder" in str(
        type(exc_info.value).__name__
    ) or "skipped" in str(exc_info.value)


def test_streaming_scd2_replay_is_noop(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: redelivering an already-applied
    load (crash-replay, duplicate staging) must be an idempotent
    no-op — same chain, same watermark — not a wedge and not a
    double-apply."""
    import time as _time

    from global_superstore_data_warehouse_spark.streaming.scd import scd2_dim_stream
    from global_superstore_data_warehouse_spark.streaming.state import read_watermark

    mk = _scd2_loads_fixture(spark, sf_dir)
    src = str(tmp_path / "loads_replay")
    dim = str(tmp_path / "dim_replay")
    mk(1, "2024-01-01").coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    mk(2, "2024-06-15").coalesce(1).write.mode("append").parquet(src)
    scd2_dim_stream(spark, src, dim, str(tmp_path / "ckpt_r1"),
                    keys=["k"], attrs=["name", "attr"])
    before = sorted(
        map(tuple, spark.read.parquet(dim).drop("_applied_seq").collect())
    )
    assert read_watermark(spark, dim) == 2
    # redeliver load 2 through a FRESH checkpoint (simulates replay
    # after a crash that lost the checkpoint commit)
    _time.sleep(1.1)
    mk(2, "2024-06-15").coalesce(1).write.mode("append").parquet(src)
    scd2_dim_stream(spark, src, dim, str(tmp_path / "ckpt_r2"),
                    keys=["k"], attrs=["name", "attr"])
    after = sorted(
        map(tuple, spark.read.parquet(dim).drop("_applied_seq").collect())
    )
    assert after == before
    assert read_watermark(spark, dim) == 2
