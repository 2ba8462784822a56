#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload recrawl --seed 1 --seconds 10 --trace 0

One client, closed loop: this process issues one operation at a time
against Spark ``local[nproc]`` and waits for it.  A run is

1. input preparation (cached on disk by workload, seed and size;
   never inside any timed metric);
2. ``get_spark`` in this fresh process (``setup_s``);
3. the first operation (``cold_s``), then the workload's warm
   operations (``warm_ops``), back to back until ``--seconds`` have
   also passed since the first began.  ``docs_per_s`` comes from the
   median warm operation, or from the cold one for a workload with no
   warm operations.

Every operation's output is checked; a failed check counts the
operation as failed.  With ``--trace 1`` the run instead executes one
untraced and one traced operation after the cold one and prints the
per-layer metrics (see README.md).  The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "4g"

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "docs_per_s": "docs/s",
             "output_f1": "ratio"}


def _workloads():
    from perfbench import eval_tac14, recrawl

    return {"recrawl": recrawl, "eval_tac14": eval_tac14}


def pin_environment(run_dir: str) -> int:
    """Identical Spark placement on every run: local[nproc], scratch,
    temp files and Python-worker imports all inside the checkout."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    for var in ("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_MEM",
                "SPARK_GRAFT_NO_WARMUP", "SPARK_NELEVAL_MATERIALIZE",
                "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    return ncpu


def start_spark(run_dir: str, ncpu: int):
    from neleval_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{ncpu}]",
        shuffle_partitions=ncpu,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.neleval.scratchDir": os.path.join(run_dir, "mat"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                "-XX:-UsePerfData",
        })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    """Peak RSS of the Spark JVM (VmHWM) plus this driver process."""
    import resource

    from pyspark import SparkContext

    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return own
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return own + int(line.split()[1]) / 1024.0
    return own


def ensure_inputs(mod, workload: str, seed: int, n_docs: int) -> str:
    """Write the workload's seed-derived input files once per
    (workload, seed, size).  Plain Python: no Spark runs before the
    measured session starts, whether or not the cache was warm."""
    final = os.path.join(WORK, "cache", f"{workload}-seed{seed}-docs{n_docs}")
    if os.path.exists(os.path.join(final, "meta.json")):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    mod.prepare(ROOT, tmp, seed, n_docs)
    print(f"inputs for {workload} seed {seed}: "
          f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def _clear_scratch(run_dir: str) -> None:
    shutil.rmtree(os.path.join(run_dir, "mat"), ignore_errors=True)


def _operation(wl, first: bool):
    """One operation and its output check: (wall s, F1 or None,
    errors).  An operation that raises counts as failed."""
    try:
        wall, out = wl.cold_op() if first else wl.run_op()
        errors, f1 = wl.check(out)
    except Exception:  # noqa: BLE001 - recorded and counted, the run goes on
        return None, None, [traceback.format_exc()]
    return wall, f1, errors


def measure(wl, run_dir: str, seconds: float) -> tuple[dict, int, int]:
    """The cold operation, then the workload's warm operations, issued
    back to back until ``seconds`` have also passed since the first
    began."""
    attempted = failed = 0
    walls, f1s = [], []
    t_end = time.perf_counter() + seconds
    while attempted <= wl.warm_ops or time.perf_counter() < t_end:
        first = attempted == 0
        attempted += 1
        wall, f1, errors = _operation(wl, first)
        _clear_scratch(run_dir)
        if errors:
            failed += 1
            print(f"operation {attempted} failed: {errors}", file=sys.stderr)
            if first:
                return {}, attempted, failed
            continue
        walls.append(wall)
        if f1 is not None:
            f1s.append(f1)
    print(f"operations {walls}", file=sys.stderr)
    warm = walls[1:] or walls
    return {
        "cold_s": walls[0],
        "docs_per_s": wl.docs() / statistics.median(warm),
        "output_f1": statistics.median(f1s),
    }, attempted, failed


def traced(wl, spark, run_dir: str) -> tuple[dict, int, int]:
    """Cold op, one untraced warm op (the overhead baseline), then one
    traced op; per-layer metrics of the traced op."""
    from perfbench.trace import RATIOS, SPARK_LAYERS, STAGE_FIELDS, Tracer

    attempted = 0
    for first in (True, False):
        attempted += 1
        untraced, _, errors = _operation(wl, first)
        _clear_scratch(run_dir)
        if errors:
            raise RuntimeError(f"operation {attempted} failed: {errors}")
    scratch = os.path.join(run_dir, "layers")
    tracer = Tracer(spark.sparkContext, f"op{attempted + 1}")
    attempted += 1
    t0 = time.perf_counter()
    out = wl.run_traced_op(tracer, scratch)
    traced_s = time.perf_counter() - t0
    tracer.collect_stage_metrics()
    layers = tracer.layer_metrics()
    ratios = wl.layer_ratios(out, layers, scratch)
    errors = wl.check(out)[0]
    if errors:
        print(f"traced operation failed: {errors}", file=sys.stderr)
    tracer.dump(os.path.join(WORK, f"trace-{wl.name}.json"))
    metrics = {}
    for layer in SPARK_LAYERS:
        m = layers.get(layer, {})
        for field in ("self_s", "driver_s") + STAGE_FIELDS:
            metrics[f"{layer}.{field}"] = m.get(field, 0.0)
    metrics.update(dict.fromkeys(RATIOS, 0.0))
    metrics.update(ratios)
    metrics["trace.traced_s"] = traced_s
    metrics["trace.untraced_s"] = untraced
    metrics["trace.overhead_s"] = traced_s - untraced
    return metrics, attempted, int(bool(errors))


def per_layer_units() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="input size (default: the workload's N_DOCS)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "neleval_spark", "__init__.py")):
        print(f"neleval_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    mods = _workloads()
    if args.workload not in mods:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(mods)}", file=sys.stderr)
        return 2
    mod = mods[args.workload]
    args.docs = args.docs or mod.N_DOCS

    inputs = ensure_inputs(mod, args.workload, args.seed, args.docs)
    run_dir = os.path.join(WORK, f"run-{uuid.uuid4().hex[:8]}")
    try:
        ncpu = pin_environment(run_dir)
        t0 = time.perf_counter()
        spark = start_spark(run_dir, ncpu)
        setup_s = time.perf_counter() - t0
        try:
            wl = mod.Workload(spark, inputs, run_dir)
            if args.trace:
                metrics, attempted, failed = traced(wl, spark, run_dir)
                metrics["session.setup_s"] = setup_s
                metrics["session.peak_rss_mb"] = jvm_peak_rss_mb()
                units = per_layer_units()
            else:
                metrics, attempted, failed = measure(wl, run_dir,
                                                     args.seconds)
                metrics["setup_s"] = setup_s
                units = E2E_UNITS
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    missing = set(units) - set(metrics)
    if missing:
        print(f"no value for {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
