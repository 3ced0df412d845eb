"""Event-log profiling: the parser and the concurrency peak on synthetic
records (no Spark), and one region recorded on the live test session."""

import os

import pytest

from global_superstore_data_warehouse_spark.profiling import (
    EventLog,
    max_concurrency,
    parse,
)


def test_max_concurrency_is_the_exact_peak():
    assert max_concurrency([]) == 0
    assert max_concurrency([(0.0, 1.0), (0.5, 2.0), (0.7, 0.9)]) == 3
    # a finish at the same instant as a launch frees the slot first
    assert max_concurrency([(0.0, 1.0), (1.0, 2.0), (2.0, 3.0)]) == 1
    assert max_concurrency([(0.0, 1.0), (1.0, 2.0), (0.5, 1.5)]) == 2


def _task_end(stage_id, launch_ms, metrics=None, finish_ms=None):
    e = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
    }
    if metrics is not None:
        e["Task Metrics"] = metrics
    return e


def test_parse_counts_ran_stages_and_every_task_end():
    metrics = {
        "Executor Deserialize Time": 5,
        "Executor Run Time": 40,
        "Result Serialization Time": 5,
        "Executor CPU Time": 30_000_000,
        "JVM GC Time": 10,
        "Disk Bytes Spilled": 7,
        "Shuffle Read Metrics": {"Remote Bytes Read": 100, "Local Bytes Read": 20},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
    }
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        # stage 0 is a reused exchange: listed by the job, never run
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 3,
            "Submission Time": 1_000,
            "Stage IDs": [0, 1],
            "Properties": {"spark.job.description": "q"},
        },
        _task_end(1, 1_010, metrics, finish_ms=1_080),
        _task_end(1, 1_030, metrics, finish_ms=1_090),
        # a task logged without metrics still counts, over the driver's interval
        _task_end(1, 1_060, None, finish_ms=1_100),
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 1,
                "Stage Name": "save at NativeMethodAccessorImpl.java:0",
                "Number of Tasks": 3,
                "Submission Time": 1_005,
                "Completion Time": 1_105,
            },
        },
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 1_110},
    ]
    region = parse(events)
    assert region.counters() == {
        "jobs": 1,
        "stages": 1,
        "tasks": 3,
        "shuffle_read_bytes": 240,
        "shuffle_write_bytes": 128,
        "executor_cpu_s": 0.06,
        "gc_s": 0.02,
        "spill_bytes": 14,
    }
    assert 0 not in region.stages
    job = region.jobs[3]
    assert (job.description, job.seconds, job.stage_ids) == ("q", 0.11, [0, 1])
    stage = region.stages[1]
    assert stage.seconds == 0.1 and stage.run_ms == [40, 40, 0]
    # executor busy intervals 1.010-1.060 and 1.030-1.080; driver 1.060-1.100
    assert region.intervals == [(1.01, 1.06), (1.03, 1.08), (1.06, 1.1)]
    assert max_concurrency(region.intervals) == 2


# minhash_lsh_candidates submits jobs from operators.par threads: its
# region's jobs must all carry the caller's job group too
@pytest.mark.parametrize("name", ["yearly_sales_profit", "minhash_lsh_candidates"])
def test_region_logs_exactly_its_own_jobs(spark, sf_dir, tmp_path, name):
    from global_superstore_data_warehouse_spark import registry

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def event_loggers():
        return [
            l for l in bus.listeners()
            if l.getClass().getName().endswith("EventLoggingListener")
        ]

    assert event_loggers() == []
    # group names unique per case: the status tracker keeps earlier
    # cases' jobs under their groups
    region_group, after_group = f"{name}-region", f"{name}-after"
    sc.setJobGroup(region_group, region_group)
    try:
        with EventLog(spark, str(tmp_path)) as log:
            registry.queries()[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        sc.setJobGroup(after_group, after_group)
        spark.range(10).count()
    finally:
        sc._jsc.clearJobGroup()
    region = parse(log.events())
    tracker = sc.statusTracker()
    assert set(region.jobs) == set(tracker.getJobIdsForGroup(region_group))
    assert not set(region.jobs) & set(tracker.getJobIdsForGroup(after_group))
    assert region.counters()["tasks"] >= len(region.jobs) > 0
    assert 1 <= max_concurrency(region.intervals) <= int(os.environ["SPARK_GRAFT_CPUS"])
    assert event_loggers() == []
