"""Shared measurement pieces: statistics, process-tree CPU, on-disk size,
the span tracer and the Spark event-log reader.

Nothing here imports pyspark at module load, so the launcher can import it
before the worker process starts Spark.
"""

from __future__ import annotations

import json
import os
import shlex
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10  # a tail percentile needs this many samples above it
TAIL_GRID = (99, 95, 90, 75, 50)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, int, int]:
    """``(value, percentile, n)``: the highest percentile of TAIL_GRID with
    at least TAIL_MIN_BEYOND samples beyond it; the median when the run has
    too few samples for any of them (never the maximum)."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_GRID:
        if n * (100 - p) / 100.0 >= TAIL_MIN_BEYOND:
            k = min(n - 1, int(round(p / 100.0 * (n - 1))))
            return float(xs[k]), p, n
    return median(xs), 50, n


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of a process
    and every live descendant (the Python main process, the JVM, the
    Python workers), read from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / tick


def disk_bytes(*roots: str) -> int:
    """Bytes of every regular file under ``roots``, each hardlinked inode
    counted once."""
    seen, total = set(), 0
    for root in roots:
        for d, _dirs, files in os.walk(root):
            for name in files:
                st = os.lstat(os.path.join(d, name))
                key = (st.st_dev, st.st_ino)
                if key not in seen:
                    seen.add(key)
                    total += st.st_size
    return total


class Ops:
    """Per-op record of the measured window: primary-op latencies, work
    units and the window's wall and CPU."""

    def __init__(self):
        self.lat: list[float] = []
        self.units = 0
        self.attempted = 0
        self.failed = 0
        self._t = self._cpu = 0.0
        self.wall = self.cpu = 0.0

    def start(self) -> None:
        self._t, self._cpu = time.perf_counter(), tree_cpu_s()

    def stop(self) -> None:
        self.wall = time.perf_counter() - self._t
        self.cpu = tree_cpu_s() - self._cpu

    def metrics(self) -> dict:
        t, pct, n = tail(self.lat)
        return {
            "op_p50_s": median(self.lat),
            "op_tail_s": t,
            "op_tail_pct": pct,
            "op_count": n,
            "work_per_s": self.units / self.wall if self.wall else 0.0,
            "cpu_s_per_op": self.cpu / max(1, len(self.lat)),
        }


@dataclass
class Result:
    """What a workload's ``run`` hands back to the worker."""

    ops: Ops
    setup_s: float  # program-side set-up time
    warmup: list  # latency of each warm-up op
    extra: dict  # workload-specific end-to-end metrics
    info: dict  # printed with the report
    fixtures: dict  # name -> generated input path, for the md5s
    trace: dict = field(default_factory=dict)  # what ``layers`` needs


class Tracer:
    """Spans around public calls, kept in memory until the run ends.

    A span is ``[name, start, end, parent, op]``.  While a span is open its
    id is set as the Spark local property ``perfbench.span``, so every job
    it launches carries the tag into the event log.  Disabled, ``span`` is
    a bare ``yield`` and ``wrap`` patches nothing."""

    PROP = "perfbench.span"

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[list] = []
        self.op: int | None = None
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []

    def _tag(self) -> None:
        self.sc.setLocalProperty(self.PROP, str(self._stack[-1]) if self._stack else None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        sid = len(self.spans)
        rec = [name, time.time(), None, self._stack[-1] if self._stack else None, self.op]
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag()
        self.self_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            rec[2] = time.time()
            self._stack.pop()
            self._tag()
            self.self_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def measured(self, name: str | None = None) -> list[int]:
        """Ids of the spans opened inside the measured window (``op`` set),
        optionally only those called ``name``."""
        return [i for i, s in enumerate(self.spans)
                if s[4] is not None and (name is None or s[0] == name)]

    def seconds(self, ids) -> list[float]:
        return [self.spans[i][2] - self.spans[i][1] for i in ids]

    def subtree(self, ids) -> set[int]:
        """The spans ``ids`` and every span nested in them."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                kids.setdefault(s[3], []).append(i)
        out, todo = set(), list(ids)
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(kids.get(i, ()))
        return out


def python_call_sites() -> None:
    """Make ``localCheckpoint`` jobs carry their Python call site.

    PySpark records the calling ``file:line`` for actions such as
    ``count`` and ``collect`` but not for an eager ``localCheckpoint``, so
    its jobs would show a JVM frame.  Traced runs only; the checkpoint
    itself is unchanged."""
    import sys

    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.localCheckpoint

    def local_checkpoint(self, *a, **kw):
        f = sys._getframe(1)
        self._sc._jsc.setCallSite(f"localCheckpoint at {f.f_code.co_filename}:{f.f_lineno}")
        try:
            return orig(self, *a, **kw)
        finally:
            self._sc._jsc.setCallSite(None)

    DataFrame.localCheckpoint = local_checkpoint


class EventLog:
    """Per-job and per-stage totals read from an uncompressed Spark event
    log (it is written with the UI disabled)."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql_start: dict[int, float] = {}  # SQL execution id -> start (epoch s)
        self._owner: dict[int, int] | None = None  # stage -> job that ran it
        for d, _dirs, files in os.walk(log_dir):
            for name in sorted(files):
                if not name.startswith(("events_", "local-", "app-")):
                    continue  # rolling-log status files and checksums
                with open(os.path.join(d, name)) as fh:
                    for line in fh:
                        if line.strip():
                            self._event(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "out_rows": 0, "out_bytes": 0,
            "name": "", "scope": "",
        })

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get(Tracer.PROP)
            root = props.get("spark.sql.execution.root.id")
            self.jobs[e["Job ID"]] = {
                "span": int(span) if span not in (None, "") else None,
                "call_site": props.get("callSite.short", ""),
                "stages": list(e.get("Stage IDs", [])),
                "sql_root": int(root) if root not in (None, "") else None,
            }
        elif kind.endswith("SQLExecutionStart"):
            # posted once the execution's physical plan exists, so its
            # time marks the end of analysis, optimization and planning
            self.sql_start[e["executionId"]] = e["time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e.get("Stage Info", {})
            st = self._stage(info["Stage ID"])
            st["name"] = info.get("Stage Name", "")
            st["scope"] = " ".join(str(r.get("Scope", "")) + " " + str(r.get("Name", ""))
                                   for r in info.get("RDD Info", []))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = self._stage(e["Stage ID"])
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            shuffle = m.get("Shuffle Write Metrics") or {}
            st["shuffle_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            out = m.get("Output Metrics") or {}
            st["out_rows"] += out.get("Records Written", 0)
            st["out_bytes"] += out.get("Bytes Written", 0)

    def totals(self, job_ids) -> dict:
        """Summed stage metrics and the job count over ``job_ids``.  A stage
        listed by several jobs (a reused shuffle) ran in the first of them
        and counts there only."""
        if self._owner is None:
            self._owner = {}
            for j in sorted(self.jobs):
                for sid in self.jobs[j]["stages"]:
                    self._owner.setdefault(sid, j)
        keys = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
                "out_rows", "out_bytes")
        out = dict.fromkeys(keys, 0)
        out["jobs"] = 0
        for j in job_ids:
            out["jobs"] += 1
            for sid in self.jobs[j]["stages"]:
                st = self.stages.get(sid)
                if st is None or self._owner[sid] != j:
                    continue
                for k in keys:
                    out[k] += st[k]
        return out

    def jobs_in(self, spans: set[int]) -> list[int]:
        return [j for j, job in self.jobs.items() if job["span"] in spans]


def spark_submit_args(trace: bool, log_dir: str, tmp_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the worker.  The JVM's temp files go to
    the run's private directory; the event log is on only in traced runs,
    uncompressed so the standard json module reads it."""
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.compress=false"]
    java = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    return (" ".join(f"--conf {c}" for c in confs)
            + f" --driver-java-options {shlex.quote(java)} pyspark-shell")
