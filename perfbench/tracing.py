"""Spans, layer wrappers and Spark event-log counters for traced runs.

A traced pass wraps the package's public functions at the module
attributes callers look them up through (``pipeline.stage_append``,
``textops.build_concurrently`` via ``operators.par`` ...), records one
span per call in memory (name, start, end, parent) and turns on a Spark
event log for the duration of the pass only. After the pass the event
log is parsed and every job is attributed to the innermost span whose
interval holds the job's submission time. Nothing polls while a pass
runs; all of the arithmetic happens after the clock has stopped.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

PACKAGE = "global_superstore_data_warehouse_spark"

# Spark counters that are pure counts of work: the candidates for
# "repeats exactly across runs" (times and GC never do).
COUNT_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "output_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)


class NullTracer:
    """The untraced path: same interface, records nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[None]:
        yield None


class Tracer:
    """In-memory span recorder. Spans opened on one thread nest on that
    thread's stack; a ``build_concurrently`` thunk running on a pool
    thread is parented to the ``par`` span that submitted it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []
        # perf_counter -> epoch seconds, to place event-log timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span]:
        stack = self._stack()
        s = Span(name, time.perf_counter(), parent=stack[-1] if stack else None, attrs=attrs)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def adopted(self, parent: int | None) -> Iterator[None]:
        """Run the body on this thread as if nested under ``parent``."""
        stack = self._stack()
        saved = list(stack)
        stack[:] = [] if parent is None else [parent]
        try:
            yield
        finally:
            stack[:] = saved

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    # --- wrapping -----------------------------------------------------

    def patch(self, original: Callable, wrapper: Callable) -> None:
        """Bind ``wrapper`` wherever a loaded package module binds
        ``original`` (its home module and every ``from x import f``)."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)
                    self._patches.append((mod, attr, original))

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patches):
            setattr(mod, attr, original)
        self._patches.clear()

    def wrap(
        self,
        original: Callable,
        name: str,
        observe: Callable[[Span, tuple, dict, Any], None] | None = None,
    ) -> None:
        @functools.wraps(original)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name) as s:
                result = original(*args, **kwargs)
                if observe is not None:
                    observe(s, args, kwargs, result)
                return result

        self.patch(original, traced)

    def wrap_par(self, original: Callable) -> None:
        """``build_concurrently``: one span for the call, one child span
        per thunk on its pool thread."""

        @functools.wraps(original)
        def traced(*thunks: Callable) -> Any:
            with self.span("par.build_concurrently", thunks=len(thunks)):
                parent = self.current()

                def timed(thunk: Callable) -> Callable:
                    def run() -> Any:
                        with self.adopted(parent), self.span("par.thunk"):
                            return thunk()

                    return run

                return original(*[timed(t) for t in thunks])

        self.patch(original, traced)


def install_layers(tracer: Tracer, spark: Any, sf_dir: str) -> None:
    """Wrap every layer boundary the benchmark reports on."""
    from global_superstore_data_warehouse_spark import catalog
    from global_superstore_data_warehouse_spark.operators import hints, par
    from global_superstore_data_warehouse_spark.plans import fact, views, warehouse
    from global_superstore_data_warehouse_spark.sources import audit, staging

    # the frame each table key returned last; primed before wrapping so
    # the first traced load of a table already memoized is not a miss
    last_frame: dict[tuple, Any] = {
        (sf_dir, t): catalog.load(spark, sf_dir, t) for t in catalog.TABLES
    }

    def on_load(s: Span, args: tuple, kwargs: dict, result: Any) -> None:
        key = (args[1], args[2]) if len(args) >= 3 else tuple(sorted(kwargs.items()))
        s.attrs["miss"] = last_frame.get(key) is not result
        last_frame[key] = result

    def on_stage(s: Span, args: tuple, kwargs: dict, result: Any) -> None:
        s.attrs["rows"] = int(result)

    def on_gate(s: Span, args: tuple, kwargs: dict, result: Any) -> None:
        # both gates return their input frame untouched when they decline
        s.attrs["fired"] = result is not (args[0] if args else kwargs.get("df"))

    tracer.wrap(catalog.load, "catalog.load", on_load)
    tracer.wrap(staging.stage_append, "staging.stage_append", on_stage)
    tracer.wrap(audit.log_step, "audit.log_step")
    tracer.wrap(fact.fact_orders, "fact.fact_orders")
    tracer.wrap(hints.maybe_broadcast, "hints.maybe_broadcast", on_gate)
    tracer.wrap(hints.spread_scan, "hints.spread_scan", on_gate)
    tracer.wrap_par(par.build_concurrently)
    for name, fn in _plan_functions(warehouse):
        if name.startswith("dim_"):
            tracer.wrap(fn, f"warehouse.{name}")
    for name, fn in _plan_functions(views):
        tracer.wrap(fn, f"views.{name}")


def _plan_functions(module: Any) -> list[tuple[str, Callable]]:
    """Public plan builders of a module: functions defined there whose
    first parameter is the SparkSession."""
    out = []
    for name, fn in vars(module).items():
        if name.startswith("_") or not inspect.isfunction(fn):
            continue
        if fn.__module__ != module.__name__:
            continue
        params = list(inspect.signature(fn).parameters)
        if params and params[0] == "spark":
            out.append((name, fn))
    return out


def resolve(fn: Callable) -> Callable:
    """The callable a caller gets when it looks ``fn`` up through its
    home module now (the traced wrapper while layers are installed)."""
    mod = sys.modules.get(getattr(fn, "__module__", "") or "")
    return getattr(mod, getattr(fn, "__name__", ""), fn) if mod else fn


# --- event log --------------------------------------------------------


class EventLog:
    """A Spark event log switched on for one region of a live session:
    an ``EventLoggingListener`` added to the running SparkContext and
    removed again, so untraced passes of the same JVM log nothing."""

    def __init__(self, spark: Any, log_dir: str, tag: str) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        os.makedirs(log_dir, exist_ok=True)
        conf = (
            sc._jsc.sc().conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._sc = sc
        self.dir = log_dir
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"{sc.applicationId}-{tag}",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf,
            sc._jsc.hadoopConfiguration(),
        )

    def __enter__(self) -> "EventLog":
        self._listener.start()
        self._sc._jsc.sc().addSparkListener(self._listener)
        return self

    def __exit__(self, *exc: Any) -> None:
        self._sc._jsc.sc().removeSparkListener(self._listener)
        self._listener.stop()

    def events(self) -> list[dict]:
        out = []
        for path in sorted(glob.glob(os.path.join(self.dir, "*"))):
            if os.path.isfile(path) and not os.path.basename(path).startswith("."):
                with open(path) as f:
                    out.extend(json.loads(line) for line in f if line.strip())
        return out


@dataclass
class Job:
    submitted: float  # epoch seconds
    group: str | None
    counters: dict[str, float]
    tasks: list[tuple[float, float]]  # (launch, finish) epoch seconds


def parse_jobs(events: list[dict]) -> list[Job]:
    """Per-job counters from event-log records (tasks folded into the
    first job that lists their stage)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = Job(
                e["Submission Time"] / 1000.0,
                props.get("spark.jobGroup.id"),
                dict.fromkeys(
                    COUNT_KEYS[1:] + ("executor_cpu_s", "executor_run_s", "gc_s"), 0
                ),
                [],
            )
            jobs[jid].counters["jobs"] = 1
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid in jobs:
                jobs[jid].counters["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid not in jobs:
                continue
            c, info = jobs[jid].counters, e["Task Info"]
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            c["tasks"] += 1
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            # the executor-side busy interval: the Spark driver stamps "Finish
            # Time" when it hears of the end, after the slot was reused
            busy = (
                m.get("Executor Deserialize Time", 0)
                + m.get("Executor Run Time", 0)
                + m.get("Result Serialization Time", 0)
            )
            launch = info["Launch Time"] / 1000.0
            jobs[jid].tasks.append((launch, launch + busy / 1000.0))
    return [jobs[j] for j in sorted(jobs)]


def max_concurrency(intervals: list[tuple[float, float]]) -> int:
    """Exact peak of simultaneously running tasks (a finish at the same
    instant as a launch frees the slot first)."""
    edges = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals])
    peak = cur = 0
    for _, d in edges:
        cur += d
        peak = max(peak, cur)
    return peak


# --- span arithmetic --------------------------------------------------


def depth(spans: list[Span], i: int) -> int:
    d = 0
    while spans[i].parent is not None:
        i = spans[i].parent
        d += 1
    return d


def top_of(spans: list[Span], i: int) -> int:
    while spans[i].parent is not None:
        i = spans[i].parent
    return i


def attribute(spans: list[Span], t: float) -> int | None:
    """Innermost span holding time ``t`` (perf_counter seconds); when
    concurrent siblings tie at the deepest level, their parent."""
    holding = [i for i, s in enumerate(spans) if s.start <= t <= s.end]
    if not holding:
        return None
    deepest = max(depth(spans, i) for i in holding)
    at = [i for i in holding if depth(spans, i) == deepest]
    return at[0] if len(at) == 1 else spans[at[0]].parent


def self_time(spans: list[Span], i: int) -> float:
    """Span duration minus the part of it covered by its children."""
    s = spans[i]
    kids = sorted(
        (max(c.start, s.start), min(c.end, s.end)) for c in spans if c.parent == i
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in kids:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return (s.end - s.start) - covered


def outermost(spans: list[Span], pred: Callable[[str], bool]) -> list[int]:
    """Spans matching ``pred`` with no matching ancestor (so recursion
    or a dim builder calling another is counted once)."""
    out = []
    for i, s in enumerate(spans):
        if not pred(s.name):
            continue
        p = s.parent
        while p is not None and not pred(spans[p].name):
            p = spans[p].parent
        if p is None:
            out.append(i)
    return out


def _sum_dur(spans: list[Span], idx: list[int]) -> float:
    return sum(spans[i].end - spans[i].start for i in idx)


def layer_metrics(
    spans: list[Span], queries: tuple[str, ...], output_bytes: float
) -> dict[str, float]:
    """Per-layer counts and times of one traced pass, from its spans."""

    def named(n: str) -> list[int]:
        return [i for i, s in enumerate(spans) if s.name == n]

    m: dict[str, float] = {}
    loads = named("catalog.load")
    m["catalog.load.calls"] = len(loads)
    m["catalog.load.s"] = _sum_dur(spans, loads)
    m["catalog.load.miss_ratio"] = (
        sum(spans[i].attrs.get("miss", False) for i in loads) / len(loads) if loads else 0.0
    )
    stage = named("staging.stage_append")
    m["staging.stage_append.calls"] = len(stage)
    m["staging.stage_append.rows"] = sum(spans[i].attrs.get("rows", 0) for i in stage)
    m["staging.stage_append.s"] = _sum_dur(spans, stage)
    logs = named("audit.log_step")
    m["audit.log_step.calls"] = len(logs)
    m["audit.log_step.s"] = _sum_dur(spans, logs)
    m["warehouse.dims.build_s"] = _sum_dur(
        spans, outermost(spans, lambda n: n.startswith("warehouse.dim_"))
    )
    m["fact.fact_orders.build_s"] = _sum_dur(spans, outermost(spans, lambda n: n == "fact.fact_orders"))
    m["views.build_s"] = _sum_dur(spans, outermost(spans, lambda n: n.startswith("views.")))
    m["pipeline.full.self_s"] = sum(self_time(spans, i) for i in named("pipeline.full"))
    m["pipeline.incremental.self_s"] = sum(self_time(spans, i) for i in named("pipeline.incremental"))
    m["pipeline.output_bytes"] = output_bytes
    for q in queries:
        m[f"{q}.build_s"] = _sum_dur(spans, named(f"{q}.build"))
        m[f"{q}.exec_s"] = _sum_dur(spans, named(f"{q}.exec"))
    par = named("par.build_concurrently")
    wall = _sum_dur(spans, par)
    thunks = _sum_dur(spans, named("par.thunk"))
    m["par.calls"] = len(par)
    m["par.wall_s"] = wall
    m["par.thunk_sum_s"] = thunks
    m["par.overlap"] = thunks / wall if wall > 0 else 1.0
    for gate, ratio in (("maybe_broadcast", "broadcast_ratio"), ("spread_scan", "spread_ratio")):
        calls = named(f"hints.{gate}")
        m[f"hints.{gate}.calls"] = len(calls)
        m[f"hints.{gate}.{ratio}"] = (
            sum(spans[i].attrs.get("fired", False) for i in calls) / len(calls) if calls else 0.0
        )
    return m


def spark_metrics(
    spans: list[Span],
    jobs: list[Job],
    epoch_offset: float,
    wall: float,
    cores: int,
) -> tuple[dict[str, float], dict[str, dict[str, float]], dict[str, dict[str, float]]]:
    """Engine counters for the traced pass as a whole, per top-level
    span (inclusive) and per span name (jobs attributed to that span
    itself, i.e. exclusive of its children)."""
    total: dict[str, float] = {}
    per_top: dict[str, dict[str, float]] = {}
    per_name: dict[str, dict[str, float]] = {}
    tasks: list[tuple[float, float]] = []

    def add(into: dict[str, float], c: dict[str, float]) -> None:
        for k, v in c.items():
            into[k] = into.get(k, 0) + v

    for job in jobs:
        add(total, job.counters)
        tasks.extend(job.tasks)
        i = attribute(spans, job.submitted - epoch_offset)
        if i is None:
            add(per_name.setdefault("(outside spans)", {}), job.counters)
            continue
        add(per_top.setdefault(spans[top_of(spans, i)].name, {}), job.counters)
        add(per_name.setdefault(spans[i].name, {}), job.counters)
    out = {f"spark.{k}": float(total.get(k, 0)) for k in COUNT_KEYS}
    for k in ("executor_cpu_s", "executor_run_s", "gc_s"):
        out[f"spark.{k}"] = float(total.get(k, 0.0))
    out["spark.max_task_concurrency"] = float(max_concurrency(tasks))
    out["spark.slot_utilization"] = (
        out["spark.executor_run_s"] / (wall * cores) if wall > 0 and cores > 0 else 0.0
    )
    return out, per_top, per_name


def repeat_report(
    previous: dict[str, Any] | None, current: dict[str, Any]
) -> dict[str, Any]:
    """Which count-type counters read exactly the same in this traced
    run as in the previous traced run of the same workload and code."""
    if previous is None or previous.get("fingerprint") != current["fingerprint"]:
        return {"compared_with": None, "repeat": [], "differ": []}
    repeat, differ = [], []
    for scope in sorted(set(previous["counts"]) & set(current["counts"])):
        a, b = previous["counts"][scope], current["counts"][scope]
        for k in COUNT_KEYS:
            if k in a or k in b:
                (repeat if a.get(k) == b.get(k) else differ).append(f"{scope}:{k}")
    return {"compared_with": previous.get("seed"), "repeat": repeat, "differ": differ}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0
