"""Spark event-log profiling of one region of a live session.

``EventLog`` switches a Spark event log on for the body of a ``with``
block: it adds an ``EventLoggingListener`` to the running SparkContext
on entry and removes it on exit, so the rest of the session logs
nothing. Nothing polls while the region runs; ``parse`` and
``max_concurrency`` do all the arithmetic from the logged records
after the clock has stopped.

Events are attributed by region, not by job group: the region logs
every job the session runs inside it, whichever thread submitted it.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from typing import Any

# per-task counters summed into each stage, then into the region
TASK_COUNTERS = (
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "executor_cpu_s",
    "gc_s",
    "spill_bytes",
)


class EventLog:
    """A Spark event log of one region of a live session, written as
    uncompressed JSON lines into the existing directory ``log_dir``.
    Give each region a directory of its own: ``events`` reads every
    log file in it.

    Read the clock inside the ``with`` body: the exit drains Spark's
    listener bus first, so the last ``TaskEnd`` records of the region
    reach the log, and that wait should not be timed."""

    def __init__(self, spark: Any, log_dir: str) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        conf = (
            sc._jsc.sc().conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self.dir = log_dir
        self._sc = sc._jsc.sc()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf,
            sc._jsc.hadoopConfiguration(),
        )

    def __enter__(self) -> "EventLog":
        self._listener.start()
        self._sc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc: Any) -> None:
        try:
            self._sc.listenerBus().waitUntilEmpty()
        finally:
            self._sc.removeSparkListener(self._listener)
            self._listener.stop()

    def events(self) -> list[dict]:
        out = []
        for path in sorted(glob.glob(os.path.join(self.dir, "*"))):
            if os.path.isfile(path):
                with open(path) as f:
                    out.extend(json.loads(line) for line in f if line.strip())
        return out


@dataclass
class Job:
    description: str
    seconds: float  # submission to completion; 0.0 when the end was not logged
    stage_ids: list[int]  # every stage the job lists, skipped ones included


@dataclass
class Stage:
    name: str = ""
    seconds: float = 0.0  # submission to completion; 0.0 when not logged
    run_ms: list[int] = field(default_factory=list)  # executor run time per task
    counters: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(TASK_COUNTERS, 0)
    )


@dataclass
class Region:
    jobs: dict[int, Job]
    stages: dict[int, Stage]  # stages that ran; a skipped stage never appears
    intervals: list[tuple[float, float]]  # (start, end) seconds of each task

    def counters(self) -> dict[str, float]:
        out = {"jobs": len(self.jobs), "stages": len(self.stages)}
        for k in TASK_COUNTERS:
            out[k] = sum(s.counters[k] for s in self.stages.values())
        return out


def parse(events: list[dict]) -> Region:
    """Jobs, stages and task counters of one region's event records."""
    jobs: dict[int, Job] = {}
    submitted: dict[int, int] = {}
    stages: dict[int, Stage] = {}
    intervals: list[tuple[float, float]] = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            jobs[jid] = Job(desc, 0.0, list(e.get("Stage IDs", [])))
            submitted[jid] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in jobs:
                jobs[jid].seconds = (e["Completion Time"] - submitted[jid]) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stages.setdefault(info["Stage ID"], Stage())
            s.name = info.get("Stage Name", "")
            if info.get("Submission Time") and info.get("Completion Time"):
                s.seconds = (info["Completion Time"] - info["Submission Time"]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            s = stages.setdefault(e["Stage ID"], Stage())
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            c = s.counters
            c["tasks"] += 1
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            s.run_ms.append(m.get("Executor Run Time", 0))
            # The executor's busy interval, not the driver's "Finish Time":
            # the driver stamps that when it hears of the end, after the slot
            # may already run the next task. A task logged without metrics
            # (killed, lost) keeps the driver's interval.
            launch = info["Launch Time"]
            if m:
                busy = (
                    m.get("Executor Deserialize Time", 0)
                    + m.get("Executor Run Time", 0)
                    + m.get("Result Serialization Time", 0)
                )
                end = launch + busy
            else:
                end = info.get("Finish Time") or launch
            intervals.append((launch / 1000.0, end / 1000.0))
    return Region(jobs, stages, intervals)


def max_concurrency(intervals: list[tuple[float, float]]) -> int:
    """Exact peak of tasks running at once (a finish at the same instant
    as a launch frees the slot first)."""
    edges = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals])
    peak = cur = 0
    for _, d in edges:
        cur += d
        peak = max(peak, cur)
    return peak
