"""Benchmark of the package's three uses: the paper's Monte-Carlo fan-out,
one large distributed panel fit, and a corpus curation pipeline.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload mc_fanout --seed 1 --seconds 10 --trace 0

``--trace 0`` sets up once, then runs the
workload closed-loop, one run at a time, checking every run's output.
It makes as many measured runs as fill ``--seconds`` at the workload's
nominal run time (at least the workload's minimum), and reports their
median. ``--trace 1`` traces the warm-up run, then
makes an untraced run and a traced run. A traced run records a span
around every call into the package. The traced run gives the per-layer
numbers and the spans file; its time minus the untraced run's is the
tracing overhead, and its job, stage and task counts must repeat those
of the traced warm-up exactly.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
is a report with the workload-specific metrics, quartiles, sample counts
and the run environment. The exit code is 0 only when every output check
passed.

The benchmark never sets a BLAS thread-count variable (OMP, OpenBLAS,
MKL) for the program: how the Monte-Carlo fan-out uses the machine's
cores against a serial loop is one of the things it exists to show, and
the environment it ran under is recorded in the report. (The output
check's reference process for mc_fanout copies the Spark Python workers'
thread variables; see ``McFanout.reference``.)
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mrt_data_integration_spark"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _keep_writes_in_checkout(out_dir: str) -> None:
    """Point every scratch location Spark, the JVM and Python use into
    the checkout."""
    tmp = os.path.join(out_dir, "tmp")
    local = os.path.join(out_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )


def _start_spark():
    from mrt_data_integration_spark.session import get_spark

    return get_spark("perfbench")


def _jvm_pid(spark) -> int | None:
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop_spark() -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _environment(spark) -> dict:
    import numpy
    import pyspark

    from perfbench.workloads import THREAD_VARS, worker_thread_env

    def source_digest() -> str:
        h = hashlib.sha256()
        pkg = os.path.join(ROOT, PACKAGE)
        for dirpath, dirnames, files in sorted(os.walk(pkg)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
        return h.hexdigest()[:16]

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "spark_default_parallelism": spark.sparkContext.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        **{v: os.environ.get(v) for v in THREAD_VARS},
        "python_worker": worker_thread_env(spark),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_commit": commit,
        "source_sha256_16": source_digest(),
    }


def _run_once(wl, spark, tracer):
    """One run: (seconds, problems, out). The clock covers only the
    workload's own calls; the output check runs after it stops."""
    t0 = time.perf_counter()
    out = wl.iterate(spark, tracer)
    dt = time.perf_counter() - t0
    problems = wl.check(spark, out)
    wl.release(tracer)
    return dt, problems, out


def _setup(wl, tracer=None):
    """Session start (JVM launch included) plus one warm-up run: a full,
    unchecked run of the workload, traced by ``tracer`` if one is given.
    Returns the live session, the session-start time, the set-up time and
    the JVM live memory (heap, non-heap) at the end of the warm-up run."""
    t0 = time.perf_counter()
    spark = _start_spark()
    t1 = time.perf_counter()
    if tracer is not None:
        tracer.attach(spark.sparkContext)
    wl.iterate(spark, tracer or _null())
    setup_s = time.perf_counter() - t0
    live = _live_mb(spark)
    wl.release(tracer or _null())
    return spark, t1 - t0, setup_s, live


def measured_runs(wl, seconds: float) -> int:
    """Runs that fill ``seconds`` at the workload's nominal run time, at
    least ``wl.MIN_RUNS``. The count is fixed per (workload, seconds), not
    read off a clock, so a faster program does not also get extra, warmer
    runs."""
    return max(wl.MIN_RUNS, int(seconds / wl.NOMINAL_RUN_S + 0.5))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return _fail(f"no {PACKAGE} package beside perfbench/ in {ROOT}")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    out_dir = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(out_dir, "work", run_id)
    os.makedirs(work_dir, exist_ok=True)
    _keep_writes_in_checkout(work_dir)

    wl = WORKLOADS[args.workload](args.seed, work_dir)
    try:
        wl.prepare()
        if args.trace:
            result, report = _traced(wl, args, run_id, out_dir)
        else:
            result, report = _timed(wl, args)
    finally:
        _stop_spark()
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _live_mb(spark) -> tuple[float, float]:
    """JVM heap and non-heap in use right after a full GC, in MB."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (
        mx.getHeapMemoryUsage().getUsed() / 2**20,
        mx.getNonHeapMemoryUsage().getUsed() / 2**20,
    )


def _memory(spark, jvm_live: tuple[float, float]) -> dict:
    """``mem_mb``: the driver Python process's high-water RSS plus the JVM
    live memory at the end of the warm-up run, while that run's caches are
    still held.

    Later runs are not sampled: a run's caches are unpersisted
    asynchronously, so a sample after the next run sometimes still holds
    them (corpus_curation read 455 or 525 MB at random). The JVM's RSS is
    reported but not used: it follows when G1 grows the heap and read 1.6
    to 2.3 GB over identical runs."""
    pid = _jvm_pid(spark)
    python = _hwm_kb("self") / 1024.0
    return {
        "mem_mb": python + sum(jvm_live),
        "python_rss_hwm_mb": python,
        "jvm_live_heap_mb": jvm_live[0],
        "jvm_live_non_heap_mb": jvm_live[1],
        "jvm_rss_hwm_mb": (_hwm_kb(pid) if pid else 0) / 1024.0,
    }


def _timed(wl, args):
    from perfbench.workloads import median_quartiles

    spark, session_s, setup_s, live = _setup(wl)
    env = _environment(spark)
    items = wl.items_per_run()
    rates, own_rates, problems = [], {}, []
    attempted = failed = 0
    for _ in range(measured_runs(wl, args.seconds)):
        attempted += 1
        try:
            dt, errs, _ = _run_once(wl, spark, _null())
        except Exception:
            traceback.print_exc()
            failed += 1
            problems.append(f"run {attempted} raised")
            continue
        # A run whose output check failed still ran to the end: its time
        # is reported, and the failure is counted.
        rates.append(items / dt)
        for name, value in wl.rates(dt).items():
            own_rates.setdefault(name, []).append(value)
        if errs:
            failed += 1
            problems.extend(f"run {attempted}: {e}" for e in errs)
    memory = _memory(spark, live)
    rate = median_quartiles(rates) if rates else {"median": 0.0}
    metrics = {
        "items_per_s": {"value": rate["median"], "unit": "items/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "mem_mb": {"value": memory["mem_mb"], "unit": "MB"},
    }
    report = {
        "report": "perfbench",
        "workload": wl.name,
        "seed": args.seed,
        "trace": 0,
        "client": "closed loop, 1 client, 1 run in flight",
        "items_per_run": items,
        "item": wl.item_unit,
        "items_per_s": {**rate, "unit": f"{wl.item_unit}/s"},
        **{
            name: {**median_quartiles(vals), "unit": wl.RATE_UNITS[name]}
            for name, vals in own_rates.items()
        },
        "setup_s": setup_s,
        "session_start_s": session_s,
        "memory_mb": memory,
        "failed_ops_ratio": failed / attempted,
        "tail_percentile": (
            f"not reported: {len(rates)} measured runs are too few for a "
            "percentile with ten samples beyond it"
        ),
        "problems": problems,
        "environment": env,
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, report


def _null():
    from perfbench.workloads import NullTracer

    return NullTracer()


def _traced(wl, args, run_id, out_dir):
    from perfbench.tracing import Tracer, write_spans
    from perfbench.workloads import WORKLOADS

    problems = []
    attempted = failed = 0
    # The warm-up run is traced too: its job, stage and task counts are
    # the reference the reported traced run must repeat.
    warm = Tracer(f"{run_id}/warmup")
    spark, session_s, _, _ = _setup(wl, warm)
    env = _environment(spark)

    def attempt(tracer):
        nonlocal attempted, failed
        attempted += 1
        try:
            dt, errs, out = _run_once(wl, spark, tracer)
        except Exception:
            traceback.print_exc()
            failed += 1
            problems.append(f"run {attempted} raised")
            return None, None
        if errs:
            failed += 1
            problems.extend(f"run {attempted}: {e}" for e in errs)
        return dt, out

    untraced_s, _ = attempt(_null())
    tracer = Tracer(f"{run_id}/traced")
    tracer.attach(spark.sparkContext)
    traced_s, out = attempt(tracer)
    metrics = {}
    if out is not None and untraced_s is not None:
        mismatches = _count_mismatches(warm.spans, tracer.spans)
        wl.probe(spark, tracer)
        metrics.update(wl.layer_metrics(spark, tracer, out))
        metrics.update(layer_self_times(tracer))
        # Runs still speed up for a few runs after warm-up (the JVM keeps
        # compiling), which biases this difference down a little.
        metrics["trace.overhead_s"] = traced_s - untraced_s
        metrics["trace.count_mismatches"] = len(mismatches)
        if mismatches:
            problems.append(f"job counts differ between traced runs: {mismatches}")
    metrics["session.start_s"] = session_s
    path = os.path.join(out_dir, "spans", f"{run_id}.json")
    write_spans(path, [warm, tracer])
    # Every per-layer metric is printed on every workload; a layer this
    # workload does not call reads 0.
    units = all_layer_units(WORKLOADS)
    full = {
        name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    report = {
        "report": "perfbench",
        "workload": wl.name,
        "seed": args.seed,
        "trace": 1,
        "run_s": {"untraced": untraced_s, "traced": traced_s},
        "spans_file": os.path.relpath(path, ROOT),
        "span_counts": {
            r["name"]: [r["jobs"], r["stages"], r["tasks"]]
            for r in tracer.spans
            if r["jobs"]
        },
        "failed_ops_ratio": failed / attempted,
        "problems": problems,
        "environment": env,
    }
    result = {
        "correct": failed == 0 and out is not None,
        "attempted": attempted,
        "failed": failed,
        "metrics": full,
    }
    return result, report


# Span-name prefix -> the package module (layer) the span calls into.
LAYERS = {
    "generator": "sources.generator",
    "tables": "sources.tables",
    "sinks": "sources.sinks",
    "cache_registry": "cache_registry",
    "harness": "simulation.harness",
    "local": "estimators.local",
    "estimators": "estimators",
    "text": "operators.text",
    "dedup": "operators.dedup",
    "components": "operators.components",
    "similarity": "operators.similarity",
}

COMMON_LAYER_UNITS = {
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "trace.count_mismatches": "count",
    **{f"self.{layer}_s": "s" for layer in LAYERS.values()},
}


def layer_self_times(tracer) -> dict:
    """Self time per layer: the summed self time of the layer's spans."""
    selfs = tracer.self_times()
    out = {f"self.{layer}_s": 0.0 for layer in LAYERS.values()}
    for rec in tracer.spans:
        layer = LAYERS[rec["name"].split(".")[0]]
        out[f"self.{layer}_s"] += selfs[rec["id"]]
    return out


def all_layer_units(workloads) -> dict:
    units = dict(COMMON_LAYER_UNITS)
    for cls in workloads.values():
        units.update(cls.metric_units())
    return units


def _count_mismatches(a: list[dict], b: list[dict]) -> list[str]:
    """Spans whose job, stage or task counts differ between two traced
    runs of the same calls."""
    ca = [(r["name"], r["jobs"], r["stages"], r["tasks"]) for r in a]
    cb = [(r["name"], r["jobs"], r["stages"], r["tasks"]) for r in b]
    return [f"{x} vs {y}" for x, y in zip(ca, cb) if x != y] + (
        [f"{len(ca)} vs {len(cb)} spans"] if len(ca) != len(cb) else []
    )


if __name__ == "__main__":
    sys.exit(main())
