"""One benchmark run in a fresh process (started by ``perfbench/run.py``).

Order: generate the workload's inputs (untimed), import pyspark and call
``get_spark`` (timed from the launcher's start stamp), run the workload's
set-up, warm-up and measured window, check outputs, and print the report.
``setup_s`` = process start to the first Spark job, minus input generation,
plus the workload's program-side set-up (one sample per run).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import subprocess
import sys
import time

from perfbench.harness import EventLog, Tracer, median, python_call_sites
from perfbench.metrics import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _revision() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.md5()
    for d, dirs, files in os.walk(os.path.join(ROOT, "hnarchive_spark")):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return "src-md5:" + h.hexdigest()


def _fixture_md5s(fixtures: dict) -> dict:
    """md5 of each generated input: a file path, or the bytes themselves."""
    out = {}
    for name, src in sorted(fixtures.items()):
        if isinstance(src, str):
            with open(src, "rb") as fh:
                src = fh.read()
        out[name] = hashlib.md5(src).hexdigest()
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    trace = bool(args.trace)

    wl = importlib.import_module(f"perfbench.{args.workload}")
    tg = time.perf_counter()
    inputs = wl.generate(args.seed, args.work, args.smoke)
    gen_s = time.perf_counter() - tg

    from hnarchive_spark.session import get_spark

    ts = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    get_spark_s = time.time() - ts
    spark_ready_s = time.time() - args.t0 - gen_s

    tracer = Tracer(spark.sparkContext, enabled=trace)
    if trace:
        python_call_sites()
    res = wl.run(spark, inputs, args, tracer)
    metrics = {"setup_s": spark_ready_s + res.setup_s}
    metrics.update(res.ops.metrics())
    metrics.update(res.extra)

    t_stop = time.time()
    spark.stop()  # also closes and flushes the event log
    stop_s = time.time() - t_stop
    layers = {}
    if trace:
        log = EventLog(os.path.join(args.work, "eventlog"))
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(wl.layers(res, tracer, log))
        nops = max(1, len(res.ops.lat))
        tot = log.totals(log.jobs_in(set(tracer.measured())))
        layers["exec.cpu_s_per_op"] = tot["cpu_s"] / nops
        layers["exec.tasks_per_op"] = tot["tasks"] / nops
        layers["exec.shuffle_bytes_per_op"] = tot["shuffle_bytes"] / nops
        layers["exec.spill_bytes_per_op"] = tot["spill_bytes"] / nops
        layers["jvm.gc_s_per_op"] = tot["gc_s"] / nops
        layers["warmup.ops"] = len(res.warmup)
        layers["warmup.last_ops_s"] = median(res.warmup[-3:])
        layers["session.get_spark_s"] = get_spark_s
        layers["trace.op_p50_s"] = metrics["op_p50_s"]
        layers["trace.self_s_per_op"] = tracer.self_s / nops

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": args.cpus, "nproc": os.cpu_count(), "revision": _revision(),
        "fixture_md5": _fixture_md5s(res.fixtures),
        "input_gen_s": round(gen_s, 3), "spark_ready_s": round(spark_ready_s, 3),
        "program_setup_s": round(res.setup_s, 3),
        "warmup_s": [round(x, 3) for x in res.warmup],
        "measured_s": [round(x, 3) for x in res.ops.lat],
        "op_tail_pct": metrics.pop("op_tail_pct"), "op_count": metrics.pop("op_count"),
        "window_s": round(res.ops.wall, 3),
    }
    info.update(res.info)
    info["run_s"] = round(time.time() - args.t0, 3)
    info["stop_s"] = round(stop_s, 3)
    print("perfbench-info " + json.dumps(info, sort_keys=True))
    units = PER_LAYER if trace else END_TO_END
    chosen = layers if trace else {k: metrics[k] for k in END_TO_END}
    out = {
        "correct": res.ops.failed == 0,
        "attempted": res.ops.attempted,
        "failed": res.ops.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(chosen.items())},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
