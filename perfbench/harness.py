"""Shared plumbing for the benchmark runner: session shape, host record,
process-tree memory sampling, spans and Spark metrics per span.

Nothing here runs at import time; ``run.py`` creates the session, the
:class:`Tracer` and the :class:`RssSampler` of a run.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

# One fixed session shape for every workload: it fits a 4-CPU, 15 GB host
# with room for the Python workers and the page cache.
MASTER_CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"


def median(xs):
    return statistics.median(xs) if xs else None


def op_count(seconds: float, nominal_s: float) -> int:
    """Operations in a timed region of about ``seconds``: a fixed count for
    a given ``--seconds``, so every run does the same work and the warm-up
    trajectory of the JVM is the same from run to run."""
    return max(1, round(seconds / nominal_s))


def p90(xs):
    """90th percentile, reported only when at least ten samples lie beyond
    it (100 samples); below that the tail is not resolved and the value is
    None."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[-1]


# ---------------------------------------------------------------- host


def _meminfo_kb(key: str) -> int | None:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return None


def host_record(spark) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round((_meminfo_kb("MemTotal") or 0) / 1024),
        "spark_master": conf.get("spark.master"),
        "spark_driver_memory": conf.get("spark.driver.memory"),
        "spark_shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark_version": pyspark.__version__,
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "load_client": "closed loop, one process, one driver thread",
        # ROADMAP: N vs 4N executor processes needs 4x2 = 8 cores
        "scaling_n_to_4n": "not measured: 4x2 executors need 8 cores",
    }


# ------------------------------------------------------- memory sampling


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces: it ends at the last ')'
    end = stat.rindex(")")
    return stat[stat.index("(") + 1:end], stat[end + 2:].split()


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant, read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        proc = _stat_fields(f"/proc/{name}/stat")
        if proc is not None:
            children.setdefault(int(proc[1][1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_kb(root: int) -> int:
    """RSS summed over ``root`` and every descendant."""
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads; ``run.start_session`` keeps them alive
# for the whole run (-XX:-UseDynamicNumberOfCompilerThreads), so the CPU
# they burn can be read back and left out.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _tree_cpu_ticks() -> tuple[int, int]:
    """Clock ticks, user + system, of this process and every live
    descendant (the JVM and its Python workers), each including the
    children it has reaped, so the difference of two readings counts
    processes that exited in between; and the ticks of the JIT compiler
    threads among them."""
    total = jit = 0
    for pid in _tree_pids(os.getpid()):
        proc = _stat_fields(f"/proc/{pid}/stat")
        if proc is None:
            continue
        # utime, stime, cutime, cstime: fields 14-17
        total += sum(map(int, proc[1][11:15]))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            thread = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if thread is not None and thread[0].startswith(_JIT_THREADS):
                jit += int(thread[1][11]) + int(thread[1][12])
    return total, jit


def tree_cpu_s() -> float:
    """CPU seconds of the process tree, less its JIT compiler threads.

    A guest kernel does not charge the time the hypervisor steals to a
    process, so on a shared host this moves about half as much as wall
    time from run to run for the same work.  JIT compilation runs on background threads, off the
    path of any call, and how much of it lands in an interval depends on
    the compile queue: Spark generates code for every plan, and a minute
    into a run the C2 threads still burn as much CPU as the task threads.
    It is reported on its own (:func:`jit_cpu_s`)."""
    total, jit = _tree_cpu_ticks()
    return (total - jit) * _TICK_S


def jit_cpu_s() -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    return _tree_cpu_ticks()[1] * _TICK_S


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``stop()``
    joins the thread and returns the peak in MB."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024


# ------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans.  Each span records name, start, end, parent and
    run id, and tags the Spark jobs it starts with a job group of its own,
    so the Spark metrics of those jobs can be read back per span.  When
    disabled, ``span`` does nothing and ``install`` patches nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{self.run_id}:{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``uninstall``.
        ``on_result(rec, self_arg, result)`` may add counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, out)
                return out

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- derived values

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    @staticmethod
    def duration(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Duration minus the part its children cover.  Spans are opened
        on one thread, so children never overlap one another."""
        kids = [c for c in self.spans if c["parent"] == s["id"]]
        return self.duration(s) - sum(self.duration(c) for c in kids)

    def descendants(self, s: dict) -> list[int]:
        out, todo = [], [s["id"]]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(c["id"] for c in self.spans if c["parent"] == sid)
        return out


# ------------------------------------------------ Spark REST metrics


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_sql_size(value: str) -> float:
    """Total of a Spark SQL size metric as rendered by the status store:
    either "12.3 KiB" or "total (min, med, max ...)\\n12.3 KiB (...)"."""
    line = value.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2), 1)


class SparkMetrics:
    """Reads jobs, stages and SQL executions of this application from the
    UI's REST API and attributes them to spans by job group."""

    def __init__(self, spark, tracer: Tracer):
        sc = spark.sparkContext
        port = re.search(r":(\d+)$", sc.uiWebUrl.rstrip("/")).group(1)
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.tracer = tracer
        self._settle()
        jobs = self._get("/jobs")
        self.job_group = {j["jobId"]: j.get("jobGroup") for j in jobs}
        self.stage_group: dict[int, str | None] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for st in j.get("stageIds", []):
                self.stage_group.setdefault(st, j.get("jobGroup"))
        self.stages = [s for s in self._get("/stages")
                       if s.get("status") == "COMPLETE"]
        self.sql = self._get("/sql?details=true&planDescription=false"
                             "&offset=0&length=100000")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def _settle(self) -> None:
        """The status store is fed by an asynchronous listener bus: wait
        until the job list stops growing."""
        last = -1
        for _ in range(50):
            n = len(self._get("/jobs"))
            if n == last:
                return
            last = n
            time.sleep(0.2)

    def _groups(self, span: dict) -> set[str]:
        """Job groups of the span and its descendants."""
        return {f"{self.tracer.run_id}:{i}" for i in self.tracer.descendants(span)}

    def jobs_of(self, span: dict) -> int:
        g = self._groups(span)
        return sum(1 for grp in self.job_group.values() if grp in g)

    def stage_totals(self, span: dict) -> dict:
        g = self._groups(span)
        tot = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0,
               "spill_bytes": 0.0}
        for s in self.stages:
            if self.stage_group.get(s["stageId"]) not in g:
                continue
            tot["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            tot["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            tot["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
            tot["spill_bytes"] += (s.get("memoryBytesSpilled", 0)
                                   + s.get("diskBytesSpilled", 0))
        return tot

    def task_times(self, span: dict, shuffle_read_only: bool = False
                   ) -> list[list[float]]:
        """Per-stage lists of task run times (s) for the span's stages."""
        g = self._groups(span)
        out = []
        for s in self.stages:
            if self.stage_group.get(s["stageId"]) not in g:
                continue
            if shuffle_read_only and not s.get("shuffleReadBytes"):
                continue
            tasks = self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                              "/taskList?length=100000")
            out.append([t["taskMetrics"]["executorRunTime"] / 1e3
                        for t in tasks if t.get("taskMetrics")])
        return out

    def python_bytes(self, span: dict) -> tuple[float, float]:
        """Bytes sent to and received from Python workers by the Arrow UDF
        operators (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas ...)
        of the SQL executions the span ran."""
        g = self._groups(span)
        sent = recv = 0.0
        for ex in self.sql:
            ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                   + ex.get("runningJobIds", []))
            if not any(self.job_group.get(j) in g for j in ids):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += parse_sql_size(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        recv += parse_sql_size(m["value"])
        return sent, recv
