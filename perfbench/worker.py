"""The Spark-side half of one benchmark run (started by ``run.py``).

Argument: one JSON object with ``workload``, ``seed``, ``seconds``,
``trace``, ``scale``, ``work_dir``, ``result`` (the path this process
writes its record to) and ``deadline`` (the ``time.monotonic()`` value
by which the last pass must end).

Order of work: package import, ``session.get_spark`` and one trivial
job (the end of set-up, stamped with ``time.monotonic()``, which is
system-wide on Linux so ``run.py`` can subtract its own spawn stamp);
then warm-up and output checks; then timed passes. An untraced run
repeats passes until ``seconds`` have been measured. A traced run
makes one traced pass, with the layer wrappers and the event log on,
and then, when the deadline leaves room, one untraced pass to set
against it. No pass starts that is expected to end after
``deadline``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
import traceback
from typing import Any

import tracing
import workloads
from checks import load_expected


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by every process of this
    session: the worker, the JVM it starts and their children."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[3]) == sid:  # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """Seconds the hypervisor has kept this VM's vCPUs from running
    (summed over vCPUs; 0 on bare metal)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _measured_pass(wl: Any, ctx: workloads.Ctx, pass_no: int) -> workloads.PassResult:
    cpu, steal = _session_cpu_s(), _steal_s()
    p = wl.run_pass(ctx, pass_no)
    p.extra["cpu_s"] = _session_cpu_s() - cpu
    p.extra["steal_s"] = _steal_s() - steal
    return p


def _pass_record(p: workloads.PassResult) -> dict[str, Any]:
    extra = {k: v for k, v in p.extra.items() if k != "out_dir"}
    return {"wall": p.wall, "calls": p.calls, "failed": p.failed, "errors": p.errors, **extra}


def run(cfg: dict[str, Any], rec: dict[str, Any]) -> None:
    from global_superstore_data_warehouse_spark import registry, session

    registry.queries()  # imports every plan module the workloads reach
    t = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{cfg['workload']}")
    rec["get_spark_s"] = time.perf_counter() - t
    spark.range(1).count()
    rec["ready"] = time.monotonic()
    spark.sparkContext.setLogLevel("ERROR")

    sc = spark.sparkContext
    rec["context"] = {
        "pyspark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "master": sc.master,
        "cores": sc.defaultParallelism,
        "confs": {k: spark.conf.get(k) for k in session.session_confs()},
    }
    scale = workloads.SCALES[cfg["scale"]]
    ctx = workloads.Ctx(
        spark=spark,
        sf_dir=os.path.join(workloads.DATA_DIR, scale),
        work_dir=cfg["work_dir"],
        workload=cfg["workload"],
        expected=load_expected(scale),
        rng=random.Random(cfg["seed"]),
    )
    wl = workloads.make(cfg["workload"])
    if cfg["scale"] == "bench":
        t = time.perf_counter()
        wl.warm_up(ctx)
        rec["warm_up_s"] = time.perf_counter() - t
    elif isinstance(wl, workloads.QueryMix):
        wl.warm_up(ctx, checks_only=True)  # smoke

    def time_for(estimate: float) -> bool:
        return time.monotonic() + 1.15 * estimate < cfg["deadline"]

    passes: list[workloads.PassResult] = []
    if cfg["trace"]:
        first, rec["trace"] = traced_pass(cfg, ctx, wl)
        passes.append(first)
        # the untraced twin of the traced pass, for the tracing overhead
        if time_for(first.wall):
            passes.append(wl.run_pass(ctx, 1))
        rec["trace"]["untraced_pass_s"] = passes[1].wall if len(passes) > 1 else None
    else:
        while True:
            passes.append(_measured_pass(wl, ctx, len(passes)))
            if len(passes) == 1:
                wl.check_pass(ctx, passes[0])
            if cfg["scale"] == "smoke":
                break
            measured = sum(p.wall for p in passes)
            if measured >= cfg["seconds"] and len(passes) >= wl.min_passes:
                break
            if not time_for(max(p.wall for p in passes)):
                break
    rec["passes"] = [_pass_record(p) for p in passes]
    rec["checks"] = wl.checks
    for p in passes:  # measured and checked: the pipeline output can go
        if "out_dir" in p.extra:
            shutil.rmtree(p.extra["out_dir"], ignore_errors=True)
    if isinstance(wl, workloads.EltBuild):
        rec["source_bytes"] = wl.source_bytes(ctx)

    rec["jvm_peak_rss_mb"] = _vm_hwm_mb(sc._gateway.proc.pid)
    spark.stop()


def traced_pass(
    cfg: dict[str, Any], ctx: workloads.Ctx, wl: Any
) -> tuple[workloads.PassResult, dict[str, Any]]:
    """Pass 0 with the layer wrappers and the event log on."""
    tracer = tracing.Tracer()
    tracing.install_layers(tracer, ctx.spark, ctx.sf_dir)
    ctx.tracer = tracer
    log_dir = os.path.join(cfg["work_dir"], "eventlog", f"{cfg['workload']}-s{cfg['seed']}")
    try:
        with tracing.EventLog(ctx.spark, log_dir, f"s{cfg['seed']}") as evlog:
            p = wl.run_pass(ctx, 0)
    finally:
        tracer.unpatch()
        ctx.tracer = tracing.NullTracer()
    wl.check_pass(ctx, p)
    jobs = tracing.parse_jobs(evlog.events())
    layers = tracing.layer_metrics(
        tracer.spans, workloads.BENCHED_QUERIES, float(p.extra.get("output_bytes", 0))
    )
    engine, per_top, per_name = tracing.spark_metrics(
        tracer.spans, jobs, tracer.epoch_offset, p.wall, ctx.spark.sparkContext.defaultParallelism
    )
    counts = {"pass": {k: engine[f"spark.{k}"] for k in tracing.COUNT_KEYS}}
    counts.update({name: {k: c.get(k, 0) for k in tracing.COUNT_KEYS} for name, c in per_top.items()})
    return p, {
        "pass": _pass_record(p),
        "layers": layers,
        "engine": engine,
        "per_top_span": per_top,
        "per_span_name": per_name,
        "counts": counts,
        "job_groups": sorted({j.group for j in jobs if j.group}),
        "spans": [
            [s.name, round(s.start, 6), round(s.end, 6), s.parent, s.attrs] for s in tracer.spans
        ],
    }


def main() -> int:
    cfg = json.loads(sys.argv[1])
    rec: dict[str, Any] = {"error": None}
    try:
        run(cfg, rec)
    except Exception:
        rec["error"] = traceback.format_exc()
    with open(cfg["result"], "w") as f:
        json.dump(rec, f, default=str)
    return 0 if rec["error"] is None else 1


if __name__ == "__main__":
    sys.exit(main())
