#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and the tracing overhead.

    python3 perfbench/spread.py --workload archive_sync --seeds 1-10 --seconds 10 [--traced 2]

Runs ``perfbench/run.py`` once per seed (one at a time, each a fresh
process) and prints, per end-to-end metric, the ten values, their median,
quartiles (``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median`` next to the metric's bound from ``BENCHMARK.json``.
``--traced N`` adds N traced runs and reports the tracing overhead as
``median(trace.op_p50_s) / median(op_p50_s) - 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    res = json.loads(out[-1])
    res["wall_s"] = time.perf_counter() - t
    info = [json.loads(ln.split(" ", 1)[1]) for ln in out if ln.startswith("perfbench-info ")]
    res["info"] = {k: info[0].get(k) for k in ("spark_ready_s", "program_setup_s", "warmup_s",
                                               "measured_s", "window_s", "run_s")} if info else {}
    return res


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--traced", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for s in _seeds(args.seeds):
        r = _run(args.workload, s, seconds, 0)
        runs.append(r)
        print(json.dumps({"seed": s, "correct": r["correct"], "attempted": r["attempted"],
                          "failed": r["failed"], "wall_s": round(r["wall_s"], 1),
                          **{k: v["value"] for k, v in r["metrics"].items()},
                          "info": r["info"]}), flush=True)
    report = {"workload": args.workload, "runs": len(runs),
              "median_wall_s": statistics.median(r["wall_s"] for r in runs),
              "all_correct": all(r["correct"] for r in runs), "metrics": {}}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        st = spread(vals) if len(vals) >= 2 else {}
        st["bound"] = bounds.get(name)
        st["values"] = vals
        report["metrics"][name] = st
    if args.traced:
        traced = [_run(args.workload, s, seconds, 1) for s in _seeds(args.seeds)[: args.traced]]
        t50 = statistics.median(r["metrics"]["trace.op_p50_s"]["value"] for r in traced)
        report["tracing_overhead"] = t50 / report["metrics"]["op_p50_s"]["median"] - 1
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
