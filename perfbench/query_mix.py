"""``query_mix``: a fixed pass over ten registered queries, read-only.

Closed loop, one client.  Each op builds one query through the registry
(``plans.registry``) and executes it to the ``noop`` sink, with the cache
cleared first; the op and the work unit are both one query.  The first
pass is the output check: every query is collected and compared, the way
the library's parity tests compare, with its DuckDB oracle on the same
generated tables.  That pass is the warm-up; the measured window then
runs whole passes until ``--seconds`` have elapsed (at least one).
"""

from __future__ import annotations

import math
import os
import sys
import time
from dataclasses import dataclass

from perfbench import tables_gen
from perfbench.harness import Ops, Result, disk_bytes, median
from perfbench.metrics import MIX

SCALE = {False: 0.01, True: 0.001}  # table scale factor; True = smoke


@dataclass
class Inputs:
    sf_dir: str
    paths: dict


def generate(seed: int, work: str, smoke: bool) -> Inputs:
    d = os.path.join(work, "tables")
    return Inputs(d, tables_gen.write(seed, SCALE[smoke], d))


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def _check(spark, registry, inp: Inputs, tracer) -> dict:
    """One untimed pass: each query against its DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    for name, path in inp.paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    verdicts, times = {}, []
    for q in MIX:
        spark.catalog.clearCache()
        t = time.perf_counter()
        with tracer.span(f"check.{q}"):
            sdf = registry[q].spark(spark, inp.sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
        times.append(time.perf_counter() - t)
        res = con.execute(registry[q].oracle)
        mine = _norm(sdf.columns, srows)
        theirs = _norm([d[0] for d in res.description], res.fetchall())
        verdicts[q] = ("ok" if mine == theirs else "MISMATCH", len(srows))
        if mine != theirs:
            print(f"query_mix check: {q} differs from its oracle "
                  f"({len(mine[1])} vs {len(theirs[1])} rows)", file=sys.stderr)
    con.close()
    return {"verdicts": verdicts, "times": times}


def _one(spark, registry, q, sf_dir, tracer) -> float:
    spark.catalog.clearCache()
    t = time.perf_counter()
    with tracer.span(f"query.{q}"):
        with tracer.span(f"build.{q}"):
            df = registry[q].spark(spark, sf_dir)
        with tracer.span(f"exec.{q}"):
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def run(spark, inp: Inputs, args, tracer) -> Result:
    t = time.perf_counter()
    from hnarchive_spark import tables
    from hnarchive_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    setup_s = time.perf_counter() - t
    if tracer.enabled:  # every binding of tables.load, under any name
        load = tables.load
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("hnarchive_spark"):
                for name, val in list(vars(mod).items()):
                    if val is load:
                        tracer.wrap(mod, name, "tables.load")

    check = _check(spark, REGISTRY, inp, tracer)  # also the warm-up pass
    warmup = list(check["times"])

    ops = Ops()
    ops.start()
    deadline = time.perf_counter() + args.seconds
    passes = 0
    while passes == 0 or time.perf_counter() < deadline:
        passes += 1
        for q in MIX:
            tracer.op = passes
            ops.lat.append(_one(spark, REGISTRY, q, inp.sf_dir, tracer))
            ops.units += 1
    ops.stop()
    tracer.op = None
    bad = [q for q, (v, _n) in check["verdicts"].items() if v != "ok"]
    ops.attempted = len(ops.lat) + len(MIX)
    ops.failed = len(bad) + (len(ops.lat) if bad else 0)

    # every index the library persisted under its scratch root (TMPDIR is
    # private to the run), per input row; the generated tables are input
    stored = disk_bytes(_scratch_root())
    extra = {"stored_bytes_per_item": stored / _input_rows(inp.paths)}
    info = {"passes": passes, "check": check["verdicts"], "stored_bytes": stored}
    return Result(ops, setup_s, warmup, extra, info, dict(inp.paths))


def _scratch_root() -> str:
    """The directory ``hnarchive_spark.scratch`` hands its paths out of."""
    import getpass
    import tempfile

    return os.path.join(tempfile.gettempdir(), f"hnarchive_scratch_{getpass.getuser()}")


def _input_rows(paths: dict) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths.values())


def layers(res: Result, tracer, log) -> dict:
    nq = max(1, len(res.ops.lat))
    loads = tracer.measured("tables.load")
    out = {"tables.load_calls_per_query": len(loads) / nq,
           "tables.load_s_per_query": sum(tracer.seconds(loads)) / nq}
    for q in MIX:
        build, ex = tracer.measured(f"build.{q}"), tracer.measured(f"exec.{q}")
        n = max(1, len(ex))
        et = log.totals(log.jobs_in(tracer.subtree(ex)))
        # the noop write's own planning: from the exec span's start to the
        # start of the first SQL execution its jobs belong to
        plan, run = [], []
        for sid in ex:
            start, end = tracer.spans[sid][1:3]
            roots = {log.jobs[j]["sql_root"] for j in log.jobs_in(tracer.subtree([sid]))}
            starts = [log.sql_start[r] for r in roots if r in log.sql_start]
            p = min(max(0.0, min(starts) - start), end - start) if starts else 0.0
            plan.append(p)
            run.append(end - start - p)
        out[f"plans.{q}.build_s"] = median(tracer.seconds(build))
        out[f"plans.{q}.build_jobs"] = len(log.jobs_in(tracer.subtree(build))) / n
        out[f"catalyst.{q}.plan_s"] = median(plan)
        out[f"exec.{q}.wall_s"] = median(run)
        out[f"exec.{q}.tasks"] = et["tasks"] / n
        out[f"exec.{q}.cpu_s"] = et["cpu_s"] / n
    return out
