#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload archive_sync --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The launcher pins the environment and
runs the workload in a fresh worker process (``perfbench/worker.py``), then
prints the worker's report; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.

Environment pinned for the worker: ``SPARK_GRAFT_CPUS`` (at most the cores
this process may use, capped at 2), a private ``SPARK_LOCAL_DIRS`` and
``TMPDIR`` under ``.perfbench_work/`` (so the library's scratch indexes
never meet another process's), a private JVM temp directory, and
``PYTHONHASHSEED=0``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("archive_sync", "query_mix")
# local[2]: on a 4-core box the main Python process, the JVM's own
# threads and the pandas-UDF Python workers share the remaining cores
MAX_CPUS = 2
WORKER_TIMEOUT_S = 170


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and short warm-up (the smoke test)")
    return p.parse_args(argv)


def _wait_group_gone(pgid: int, timeout_s: float = 20.0) -> None:
    """Wait until no process of the worker's group is left (the JVM and
    the Python workers are its grandchildren, so ``wait`` cannot reap
    them)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        alive = False
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    state, _ppid, pgrp = fh.read().rsplit(")", 1)[1].split()[:3]
            except OSError:
                continue
            if int(pgrp) == pgid and state != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "hnarchive_spark", "session.py")):
        print("perfbench: the program sources (hnarchive_spark/) are missing", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "jvm-tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONHASHSEED="0",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    from perfbench.harness import spark_submit_args  # noqa: E402  (after the path check)

    env["PYSPARK_SUBMIT_ARGS"] = spark_submit_args(
        bool(args.trace), os.path.join(work, "eventlog"), os.path.join(work, "jvm-tmp"))
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--cpus", str(cpus),
           "--t0", repr(time.time())]
    if args.smoke:
        cmd.append("--smoke")
    # a terminated launcher still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
    finally:
        # the worker's process group holds the JVM and the Python workers
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
