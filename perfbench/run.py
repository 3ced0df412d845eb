"""Warehouse benchmark: times the package from outside through its
public functions, end to end and (in a separate traced run) layer by
layer.

    python3 perfbench/run.py --workload elt_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload text_dedup --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload dm_analytics --seed 1 --smoke

Workloads: ``elt_build`` (run_pipeline + run_incremental_pipeline),
``dm_analytics`` (seven star-schema read queries) and ``text_dedup``
(five text-dedup / similarity queries), over the fixed parquet copies
in ``perfbench/data`` (sf0.01; sf0.001 with ``--smoke``, which runs one
pass without warm-up). Spark runs as ``local[nproc]`` with
``SPARK_GRAFT_CPUS=nproc`` in a child process (``worker.py``) whose
environment this script fixes, so both sides of an A/B get the same
settings.

The last stdout line is the result, ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer ones. The line before it carries the
workload's own end-to-end figures (wall and stolen time of a pass,
build and incremental times, write amplification, per-query median and tail with its percentile and
sample count, JVM peak RSS, failed_ops) and the run context. The full record of the
run goes to ``perfbench/_work/results/``. Exit code 0 when a result
was printed; 2 when the package is missing; 1 on any other failure.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "global_superstore_data_warehouse_spark")
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import LISTED, QUERY_WORKLOADS, SCALES, WORKLOADS  # noqa: E402

# seconds from spawn until the worker is killed (the run must end
# within 180 s; smoke runs are for tests and may take longer)
TIMEOUT_S = {"bench": 170.0, "smoke": 600.0}
# the worker starts no new timed pass that could end after this
PASS_DEADLINE_S = {"bench": 155.0, "smoke": 500.0}

# environment the caller may have set that would change the session
SESSION_ENV = (
    "SPARK_MASTER",
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_CONF_DIR",
    "PYSPARK_SUBMIT_ARGS",
    "SPARK_GRAFT_PLAN_DIR",
)

E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s"}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    names = [
        "session.get_spark_s",
        "catalog.load.calls",
        "catalog.load.s",
        "catalog.load.miss_ratio",
        "staging.stage_append.calls",
        "staging.stage_append.rows",
        "staging.stage_append.s",
        "audit.log_step.calls",
        "audit.log_step.s",
        "warehouse.dims.build_s",
        "fact.fact_orders.build_s",
        "views.build_s",
        "pipeline.full.self_s",
        "pipeline.incremental.self_s",
        "pipeline.output_bytes",
    ]
    for w in LISTED:
        for q in QUERY_WORKLOADS.get(w, ()):
            names += [f"{q}.build_s", f"{q}.exec_s"]
    names += ["par.calls", "par.wall_s", "par.thunk_sum_s", "par.overlap"]
    names += [
        "hints.maybe_broadcast.calls",
        "hints.maybe_broadcast.broadcast_ratio",
        "hints.spread_scan.calls",
        "hints.spread_scan.spread_ratio",
    ]
    names += [f"spark.{k}" for k in tracing.COUNT_KEYS]
    names += [
        "spark.executor_cpu_s",
        "spark.executor_run_s",
        "spark.gc_s",
        "spark.max_task_concurrency",
        "spark.slot_utilization",
    ]
    names += ["trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s"]
    return names


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("_ratio", ".overlap", "slot_utilization")):
        return "ratio"
    if name.endswith(".rows"):
        return "rows"
    return "count"


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile with at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    s, n = sorted(xs), len(xs)
    if n <= 10:
        return (s[-1] if s else 0.0), 100.0, n
    k = n - 10
    return s[k - 1], 100.0 * k / n, n


def fingerprint() -> str:
    """sha256 over the package's and the benchmark's source files."""
    h = hashlib.sha256()
    for base in (PACKAGE_DIR, HERE):
        for root, dirs, files in os.walk(base):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    p = os.path.join(root, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return r.stdout.strip() or None


def worker_env(nproc: int) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k not in SESSION_ENV}
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        # the JVM's own temp files stay in the checkout; its perf-counter
        # file would go to /tmp whatever the temp dir, so keep it in memory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    )
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int) -> None:
    """TERM then KILL every process left in the worker's group (the JVM
    and its Python workers), and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while _group_alive(pgid) and time.monotonic() < end:
            time.sleep(0.1)


def run_worker(cfg: dict[str, Any], env: dict[str, str], log_path: str, timeout: float) -> float:
    """Start the worker, wait for it and everything it started; return
    the monotonic spawn time. Raises on timeout or a failed worker."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)]
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            cmd, cwd=WORK, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if code is None:
        raise RuntimeError(f"worker exceeded {timeout:.0f} s; log: {log_path}")
    if code != 0:
        raise RuntimeError(f"worker exited {code}; log: {log_path}")
    return t_spawn


def attempts(rec: dict[str, Any]) -> tuple[int, int]:
    passes = rec["passes"]
    attempted = len(rec["checks"]) + sum(len(p["calls"]) + p["failed"] for p in passes)
    failed = sum(not c["ok"] for c in rec["checks"]) + sum(p["failed"] for p in passes)
    return attempted, failed


def e2e_metrics(workload: str, rec: dict[str, Any], setup_s: float) -> tuple[dict, dict]:
    """(the listed end-to-end metrics, the workload's own figures)."""
    passes = rec["passes"]
    calls = [lat for p in passes for _, lat in p["calls"]]
    listed = {
        "setup_s": setup_s,
        "pass_cpu_s": tracing.median([p["cpu_s"] for p in passes]),
    }
    own: dict[str, dict[str, Any]] = {
        "pass_s": {"value": tracing.median([p["wall"] for p in passes]), "unit": "s"},
        "pass_steal_s": {"value": tracing.median([p["steal_s"] for p in passes]), "unit": "s"},
    }
    if workload == "elt_build":
        by = {"build_s": "run_pipeline", "incremental_s": "run_incremental_pipeline"}
        for metric, call in by.items():
            xs = [lat for p in passes for c, lat in p["calls"] if c == call]
            own[metric] = {"value": tracing.median(xs), "unit": "s", "n": len(xs)}
        amp = tracing.median([p["output_bytes"] for p in passes]) / rec["source_bytes"]
        own["write_amp"] = {"value": amp, "unit": "B/B", "source_bytes": rec["source_bytes"]}
    else:
        value, pct, n = tail(calls)
        own["query_p50_s"] = {"value": tracing.median(calls), "unit": "s", "n": len(calls)}
        own["query_tail_s"] = {"value": value, "unit": "s", "percentile": pct, "n": n}
    own["jvm_peak_rss_mb"] = {"value": rec["jvm_peak_rss_mb"], "unit": "MB"}
    attempted, failed = attempts(rec)
    own["failed_ops"] = {"value": failed / attempted if attempted else 1.0, "unit": "ratio"}
    own["passes"] = {"value": len(passes), "unit": "count"}
    return listed, own


def layer_values(rec: dict[str, Any]) -> dict[str, float]:
    tr = rec["trace"]
    vals = {"session.get_spark_s": rec["get_spark_s"], **tr["layers"], **tr["engine"]}
    vals["trace.pass_s"] = tr["pass"]["wall"]
    # 0 for both when the deadline left no room for the untraced twin
    # (the detail line then says "overhead_measured": false)
    untraced = tr["untraced_pass_s"]
    vals["trace.untraced_pass_s"] = untraced or 0.0
    vals["trace.overhead_s"] = tr["pass"]["wall"] - untraced if untraced else 0.0
    return vals


def repeat_counters(workload: str, scale: str, seed: int, fp: str, counts: dict) -> dict:
    """Compare this traced run's count-type counters with the previous
    traced run of the same workload and code, then remember this one."""
    d = os.path.join(WORK, "trace_counters")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-{scale}.json")
    previous = None
    if os.path.exists(path):
        with open(path) as f:
            previous = json.load(f)
    current = {"fingerprint": fp, "seed": seed, "counts": counts}
    report = tracing.repeat_report(previous, current)
    with open(path, "w") as f:
        json.dump(current, f)
    return report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001, one pass, no warm-up")
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE_DIR):
        print(f"package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    scale = "smoke" if args.smoke else "bench"
    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-{scale}-s{args.seed}-t{args.trace}"
    for sub in ("logs", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "worker.json")
    fp = fingerprint()
    context: dict[str, Any] = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": SCALES[scale],
        "nproc": nproc,
        "loadavg_before": os.getloadavg(),
        "git_commit": git_commit(),
        "fingerprint": fp,
        "python": sys.version.split()[0],
    }
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": scale,
        "work_dir": run_dir,
        "result": result_path,
    }
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    t_start = time.monotonic()
    cfg["deadline"] = t_start + PASS_DEADLINE_S[scale]
    try:
        t_spawn = run_worker(cfg, worker_env(nproc), log_path, TIMEOUT_S[scale])
        with open(result_path) as f:
            rec = json.load(f)
    except (RuntimeError, OSError, ValueError) as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        if os.path.exists(log_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.writelines(f.readlines()[-20:])
        return 1
    context["loadavg_after"] = os.getloadavg()
    context.update(rec.get("context", {}))

    setup_s = rec["ready"] - t_spawn
    attempted, failed = attempts(rec)
    detail: dict[str, Any] = {"context": context}
    if args.trace:
        values = layer_values(rec)
        metrics = {n: {"value": float(values[n]), "unit": unit_of(n)} for n in per_layer_names()}
        detail["overhead_measured"] = rec["trace"]["untraced_pass_s"] is not None
        detail["repeat"] = repeat_counters(
            args.workload, scale, args.seed, fp, rec["trace"]["counts"]
        )
        detail["counts"] = rec["trace"]["counts"]
    else:
        listed, detail["workload_metrics"] = e2e_metrics(args.workload, rec, setup_s)
        metrics = {n: {"value": float(v), "unit": E2E_UNITS[n]} for n, v in listed.items()}
    correct = bool(rec["checks"]) and all(c["ok"] for c in rec["checks"]) and failed == 0
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}

    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump({"result": result, "detail": detail, "worker": rec}, f, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
