"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload episodes_full --seed 1 --seconds 1 --trace 0

One process per run, one Spark session on ``local[<cpus>]``. Set-up
(session start, warm-up, seeded inputs, model training) is timed as
``setup_s``. The timed loop then runs the workload's iteration until
``--seconds`` have elapsed, at least once; each iteration is one unit of
user work and is checked after it, outside the timing.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` labels every
call into a layer during the first iteration (and the workload's traced
extras) with a Spark job group, prints the per-layer metrics and writes
the spans to ``perfbench/.traces/``.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it carries the details (session, inputs, every
iteration, every check, fail ratio).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import layers
import procstat
import spans
from workloads import KNOWN_DEFECTS, WORKLOADS, dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "imitation_learning_data_pipeline_spark"
# The heap is fixed (-Xms = -Xmx): with a growable heap, peak RSS follows
# G1's resizing decisions and spread about 20% between identical runs.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "bytes_written": "B",
}


def pin_environment(work: str) -> dict:
    """Session settings fixed from outside the package, before the JVM
    starts: all cores, a heap well below the machine, workers able to
    import the package, and every scratch file inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(
                p for p in (REPO, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            # no hsperfdata file under /tmp, for the launcher JVM too
            "JAVA_TOOL_OPTIONS": "-XX:+PerfDisableSharedMem",
        }
    )
    return {"cpus": cpus, "driver_memory": DRIVER_MEM}


def start_session(work: str, name: str, timings: dict):
    """get_spark, then the first action and the Python worker fork."""
    from pyspark.sql.functions import pandas_udf

    from imitation_learning_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{name}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # per-group sums read the whole run back from the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)", "max(lower(string(id)))").collect()

    def _warm_fn(s):
        return s * 1.0

    warm = pandas_udf(_warm_fn, "double")
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(2048).repartition(cpus).select(warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    timings["session.start_s"] = t1 - t0
    timings["session.warmup_s"] = time.perf_counter() - t1
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its signal to exit) and
    wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_op(fn, *args):
    """(result, failures): a raising call is a failed operation."""
    try:
        return fn(*args), []
    except Exception:  # noqa: BLE001 — any raise is a failed operation, reported
        traceback.print_exc()
        return None, ["raised"]


def timed_iteration(wl, i: int, tracer) -> dict:
    """One iteration with its wall time and process-tree CPU, then its
    checks and the bytes it left on disk (both untimed)."""
    start, c0, t0 = time.time(), procstat.tree_cpu_s(), time.perf_counter()
    out, failures = run_op(wl.iteration, i, tracer)
    rec = {
        "i": i,
        "traced": tracer.enabled,
        "wall_s": time.perf_counter() - t0,
        "cpu_s": procstat.tree_cpu_s() - c0,
        "start": start,
        "end": time.time(),
    }
    if not failures:
        checked, failures = run_op(wl.check, out)
        if checked is not None:
            failures, rec["facts"] = checked
        rec["bytes_written"] = dir_bytes(out)
    rec["failures"] = failures
    return rec


def untimed_ops(fn, tracer) -> list[dict]:
    """A workload's extra operations, each with its failed checks."""
    done, failures = run_op(fn, tracer)
    if failures:
        return [{"op": fn.__name__, "failures": failures, "facts": {}}]
    return [{"op": name, "failures": f, "facts": facts} for name, f, facts in done]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    proc_start = procstat.start_epoch()
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        session = pin_environment(work)
        detail, result = run(args, WORKLOADS[args.workload](), work, session, proc_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


def run(args, wl, work: str, session: dict, proc_start: float) -> tuple[dict, dict]:
    timings: dict[str, float] = {}
    spark = start_session(work, args.workload, timings)
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        session.update(
            {
                "master": spark.sparkContext.master,
                "spark": spark.version,
                "python": platform.python_version(),
                "java": spark._jvm.java.lang.System.getProperty("java.version"),
            }
        )
        t0 = time.perf_counter()
        inputs_info = wl.prepare(spark, work, args.seed, timings)
        timings["inputs.prepare_s"] = time.perf_counter() - t0
        setup_s = time.time() - proc_start

        tracer = spans.Tracer(spark if args.trace else None)
        untraced = spans.Tracer(None)
        timed = []
        t_loop = time.perf_counter()
        while not timed or time.perf_counter() - t_loop < args.seconds:
            # a traced run traces its first iteration, the one whose
            # untraced twin the end-to-end metrics measure
            timed.append(timed_iteration(wl, len(timed), untraced if timed else tracer))
        ops = untimed_ops(wl.traced_extra, tracer) if args.trace else []
        ops += untimed_ops(wl.after, tracer)
        per_layer = trace_file = None
        if args.trace:
            store = spans.StatusStore(spark)
            jobs, stages = store.jobs(), store.stages()
            span_metrics = spans.attribute(tracer.spans, jobs, stages)
            first = timed[0]
            facts = dict(wl.trace_facts())
            facts["trace.wall_s"] = first["wall_s"]
            facts["trace.overhead_s"] = tracer.overhead_s
            facts["trace.labelled_share"] = spans.labelled_share(
                tracer.spans, jobs, stages, first["start"], first["end"]
            )
            per_layer = layers.values(spans.by_layer(span_metrics), timings, facts)
            trace_file = write_trace(args, session, span_metrics, per_layer)
        peak_rss_mb = procstat.vm_hwm_mb(os.getpid()) + procstat.vm_hwm_mb(jvm_pid)
    finally:
        stop_session(spark)

    outcomes = [it["failures"] for it in timed] + [op["failures"] for op in ops]
    attempted, failed = len(outcomes), sum(1 for f in outcomes if f)
    seen = {f for fs in outcomes for f in fs}
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(it["wall_s"] for it in timed),
        "cpu_s": statistics.median(it["cpu_s"] for it in timed),
        "peak_rss_mb": peak_rss_mb,
        "bytes_written": statistics.median(it.get("bytes_written", 0) for it in timed),
    }
    e2e = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "session": session,
        "inputs": inputs_info,
        "setup": timings,
        "samples": len(timed),
        "end_to_end": e2e,
        "fail_ratio": {"value": failed / attempted, "unit": "1"},
        "iterations": timed,
        "operations": ops,
        "known_defect_failures": sorted(seen & KNOWN_DEFECTS),
        "unexpected_failures": sorted(seen - KNOWN_DEFECTS),
        "trace_file": trace_file,
    }
    if args.trace:
        units = layers.spec()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
    else:
        metrics = e2e
    result = {
        "correct": not (seen - KNOWN_DEFECTS),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def write_trace(args, session: dict, span_metrics: list[dict], per_layer: dict) -> str:
    """Spans and per-layer metrics of a traced run, as JSON."""
    out_dir = os.path.join(HERE, ".traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "session": session,
                "spans": span_metrics,
                "per_layer": per_layer,
            },
            f,
            indent=1,
        )
    return os.path.relpath(path, REPO)


if __name__ == "__main__":
    raise SystemExit(main())
