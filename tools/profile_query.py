"""Per-query profiler for the optimization rounds.

Usage:
    python tools/profile_query.py NAME [NAME ...] [--runs N] [--sf DIR]
        [--no-warm] [--stages] [--plans DIR] [--suffix before|after]

For each named registered query (plus the unregistered
``event_transitions_pandas`` bench twin) this:
  - builds the standard session (same get_spark as bench.py),
  - warms the JVM with one sf0.001 pass of the query (skipped with
    --no-warm),
  - times N (--runs, default 3) noop-sink runs at --sf (default
    $SPARK_GRAFT_SF_DIR, else the sf0.1 test data; min reported) with
    the query name as the job description, and counts the codegen
    compiles over those runs (nonzero after the warm pass means a
    thrashing codegen cache, or generated code that changes from call
    to call) and the milliseconds HotSpot's JIT compilers spent in
    them (``jit_ms``),
  - with --stages, records each timed run in a Spark event log
    (``profiling.EventLog``) and prints, after the run, its counters,
    its peak task concurrency and a per-job / per-stage table: wall
    time, tasks, max/median task run time, executor CPU and shuffle
    read/write bytes,
  - with --plans DIR, writes ``DIR/<name>_<suffix>.txt`` (--suffix,
    default ``before``) with the ``explain("formatted")`` output; the
    iterative operators also dump their round-body plans into DIR
    while that plan is built (``operators/debugplan``).
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys
import tempfile
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)


def print_stages(region) -> None:
    """Counters, peak concurrency and the per-job / per-stage table of
    one event-log region. Each stage prints under the first job that
    lists it; skipped stages (reused exchanges) never ran and are left
    out."""
    from global_superstore_data_warehouse_spark.profiling import max_concurrency

    c = region.counters()
    print(
        f"   {c['jobs']} jobs  {c['stages']} stages  {c['tasks']} tasks  "
        f"peak {max_concurrency(region.intervals)} tasks at once  "
        f"cpu={c['executor_cpu_s']:.2f}s gc={c['gc_s']:.2f}s "
        f"sr={c['shuffle_read_bytes']/1024:.0f}KB sw={c['shuffle_write_bytes']/1024:.0f}KB "
        f"spill={c['spill_bytes']/1024:.0f}KB"
    )
    printed: set[int] = set()
    for jid in sorted(region.jobs):
        j = region.jobs[jid]
        print(f"   job {jid} [{j.seconds:.3f}s] desc={j.description[:60]!r}")
        for sid in sorted(set(j.stage_ids) - printed):
            s = region.stages.get(sid)
            if s is None:
                continue
            printed.add(sid)
            runs = sorted(s.run_ms) or [0]
            sc = s.counters
            print(
                f"     stage {sid:4d} [{s.seconds:7.3f}s] {sc['tasks']:3d} tasks  "
                f"taskmax/med={runs[-1]}/{runs[len(runs) // 2]}ms "
                f"cpu={sc['executor_cpu_s']:.2f}s "
                f"sr={sc['shuffle_read_bytes']/1024:.0f}KB "
                f"sw={sc['shuffle_write_bytes']/1024:.0f}KB  {s.name.split(' at ')[0]}"
            )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--stages", action="store_true", help="per-job/stage table per run")
    args = ap.parse_args()

    from global_superstore_data_warehouse_spark import get_spark, registry
    from global_superstore_data_warehouse_spark.plans.events import (
        event_transitions_pandas,
    )
    from global_superstore_data_warehouse_spark.profiling import EventLog, parse
    from global_superstore_data_warehouse_spark.session import (
        codegen_compiles,
        jit_compile_ms,
    )

    spark = get_spark("gsdw-profile")
    qs = dict(registry.queries())
    qs["event_transitions_pandas"] = event_transitions_pandas

    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
    warm_sf = "/root/testdata/sf0.001"
    results = {}
    for name in args.names:
        if name not in qs:
            print(f"!! unknown query: {name}")
            continue
        if not args.no_warm and os.path.isdir(warm_sf):
            try:
                qs[name](spark, warm_sf).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # warm failures are non-fatal
                print(f"   (warm failed for {name}: {exc})")
        times = []
        regions = []
        compiled, jit_ms = codegen_compiles(spark), jit_compile_ms(spark)
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(name)
            with tempfile.TemporaryDirectory() as log_dir:
                log = EventLog(spark, log_dir) if args.stages else contextlib.nullcontext()
                with log:
                    t0 = time.perf_counter()
                    df = qs[name](spark, args.sf)
                    df.write.format("noop").mode("overwrite").save()
                    times.append(time.perf_counter() - t0)
                if args.stages:
                    regions.append(parse(log.events()))
            spark.sparkContext.setJobDescription(None)
        results[name] = min(times)
        print(
            f"{name}: min={min(times):.3f}s  runs={[round(t,3) for t in times]}"
            f"  compiles={codegen_compiles(spark) - compiled}"
            f"  jit_ms={jit_compile_ms(spark) - jit_ms}"
        )
        for i, region in enumerate(regions):
            print(f"  run {i}: {times[i]:.3f}s")
            print_stages(region)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            os.environ["SPARK_GRAFT_PLAN_DIR"] = args.plans
            df = qs[name](spark, args.sf)
            os.environ.pop("SPARK_GRAFT_PLAN_DIR")
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            out = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(out, "w") as fh:
                fh.write(plan)
            print(f"   plan -> {out} ({plan.count('Exchange')} Exchange refs)")
    print("TOTAL(min):", round(sum(results.values()), 3))
    spark.stop()


if __name__ == "__main__":
    main()
