#!/usr/bin/env python
"""Split query_mix's CPU per query by process and JVM thread class.

Usage: python tools/cpu_split.py > split.json

Starts perfbench's session shape (``perfbench/run.py:start_session``: one
JVM, ``local[4]``, 8 shuffle partitions), runs one untimed warm-up pass of
``perfbench/querymix.py``'s five queries, then ``PASSES`` passes, each
over a fresh copy of ``perfbench/data``.  Around every query it reads
``/proc`` and prints, as JSON, per query, the median CPU seconds of

- ``tasks``: the JVM's Spark task threads (``Executor task launch ...``);
- ``py4j``: the JVM's threads named ``Thread-N``.  py4j's gateway
  connection threads carry that name, but so does any other thread the
  JVM starts without a name;
- ``driver_jvm``: the rest of the JVM (scheduler, planner, GC), less the
  JIT compiler threads;
- ``python_driver``: this process;
- ``python_workers``: the live Python descendants of the JVM (the worker
  daemon and its forked workers);
- ``jvm_children``: the JVM's reaped children (its ``cutime`` and
  ``cstime``), such as the shell commands Hadoop runs.  They are not
  Python, but the gated CPU counts them;
- ``jit``: the C1/C2 compiler threads, which the gated CPU leaves out.

``gated`` is the sum of the first six, the quantity perfbench's
``op_cpu_s`` takes the geometric mean of.  ``compiles`` is the number of
generated classes Janino compiled during the query
(``CodegenMetrics.METRIC_COMPILATION_TIME``'s count), i.e. the misses of
Spark's codegen cache.  A query compiles the same sources in every pass,
so a compile in a timed pass is almost always a class the cache let go of.

Classes are assigned by thread and command name.  A snapshot sees only
live threads and processes, so CPU of those that exit during a query is
misplaced: a JVM thread's earlier CPU moves into ``driver_jvm``, and a
Python worker's is lost, since pyspark's daemon ignores SIGCHLD and its
exited workers never reach its ``cutime``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from harness import (  # noqa: E402
    _JIT_THREADS, _TICK_S, _stat_fields, _tree_pids, median)

CLASSES = ("tasks", "py4j", "driver_jvm", "python_driver", "python_workers",
           "jvm_children", "jit")
PASSES = 2


def _cpu(fields: list[str]) -> tuple[int, int]:
    """(utime + stime, cutime + cstime) in ticks, from a stat's fields."""
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return utime + stime, cutime + cstime


def snapshot(jvm: int) -> dict[str, float]:
    """Cumulative CPU seconds per class at this instant."""
    ticks = dict.fromkeys(CLASSES, 0)
    jvm_own, ticks["jvm_children"] = _cpu(_stat_fields(f"/proc/{jvm}/stat")[1])
    for tid in os.listdir(f"/proc/{jvm}/task"):
        t = _stat_fields(f"/proc/{jvm}/task/{tid}/stat")
        if t is None:
            continue
        name, cpu = t[0], _cpu(t[1])[0]
        if name.startswith("Executor task"):
            ticks["tasks"] += cpu
        elif re.fullmatch(r"Thread-\d+", name):
            ticks["py4j"] += cpu
        elif name.startswith(_JIT_THREADS):
            ticks["jit"] += cpu
    ticks["driver_jvm"] = (jvm_own - ticks["tasks"] - ticks["py4j"]
                           - ticks["jit"])
    for p in _tree_pids(jvm)[1:]:
        s = _stat_fields(f"/proc/{p}/stat")
        if s is not None and s[0].startswith("python"):
            ticks["python_workers"] += sum(_cpu(s[1]))
    # last, so the /proc scans above are not charged to the query
    ticks["python_driver"] = _cpu(_stat_fields("/proc/self/stat")[1])[0]
    return {k: v * _TICK_S for k, v in ticks.items()}


def compiles(spark) -> int:
    """The generated classes compiled in this JVM so far."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def main() -> int:
    import querymix
    import run
    from pyspark import SparkContext

    from activedata_etl_spark.plans.queries import SPARK_QUERIES

    work = tempfile.mkdtemp(prefix="cpu_split_")
    spark = run.start_session(work, trace=False)
    try:
        jvm = SparkContext._gateway.proc.pid
        # the launcher script may exec the JVM in a child: take the java one
        jvm = next(p for p in _tree_pids(jvm)
                   if _stat_fields(f"/proc/{p}/stat")[0] == "java")
        warm = querymix._pass_dir(querymix.DATA, os.path.join(work, "warm"))
        for name in querymix.QUERIES:
            SPARK_QUERIES[name](spark, warm).toPandas()
        per: dict[str, list[dict]] = {n: [] for n in querymix.QUERIES}
        for i in range(PASSES):
            sf = querymix._pass_dir(querymix.DATA, os.path.join(work, f"p{i}"))
            for name in querymix.QUERIES:
                n0 = compiles(spark)  # py4j calls outside the CPU snapshots
                before = snapshot(jvm)
                SPARK_QUERIES[name](spark, sf).toPandas()
                after = snapshot(jvm)
                per[name].append({k: after[k] - before[k] for k in CLASSES})
                per[name][-1]["compiles"] = compiles(spark) - n0
        out = {}
        for name, runs in per.items():
            row = {k: round(median([r[k] for r in runs]), 3)
                   for k in CLASSES + ("compiles",)}
            row["gated"] = round(sum(row[k] for k in CLASSES if k != "jit"), 3)
            out[name] = row
        out["pass"] = {k: round(sum(out[n][k] for n in querymix.QUERIES), 3)
                       for k in CLASSES + ("compiles", "gated")}
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
