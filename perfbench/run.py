"""Benchmark runner.  Run from the repository root:

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Each invocation is one fresh process with one Spark session of a fixed
shape (``local[4]``, 2 GB driver heap, 8 shuffle partitions).  It prints a
detail JSON line (host and session shape, the workload's own metrics, gate
results), then, as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on spans
and the Spark UI's REST API and reports the per-layer metrics, also written
with every span to ``perfbench/results/<workload>-s<seed>-trace.json``.
Everything the run writes stays under ``perfbench/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import querymix  # noqa: E402
from harness import tree_cpu_s  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; kept equal to BENCHMARK.json (the smoke test checks it)
E2E = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "work_per_cpu_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "journal.scan_s": "s",
    "normalize.keys_self_s": "s",
    "lww.reduce_self_s": "s",
    "normalize.finalize_self_s": "s",
    "merge.write_commit_self_s": "s",
    "prefix.apply_batch_s": "s",
    "lww.shuffle_bytes": "bytes",
    "lww.spill_bytes": "bytes",
    "lww.skew_max_over_mean": "ratio",
    "lww.winner_ratio": "ratio",
    "lww.cpu_s": "s",
    "lww.gc_s": "s",
    "merge.cpu_s": "s",
    "merge.gc_s": "s",
    "merge.shuffle_bytes": "bytes",
    "merge.rows_read": "count",
    "merge.rows_applied": "count",
    "merge.deletes_applied": "count",
    "merge.conflicts_resolved": "count",
    "merge.touched_buckets": "count",
    "merge.bytes_written": "bytes",
    "merge.apply_batch_p50_s": "s",
    "merge.jobs_per_batch": "count",
    "merge.delta_batch_ratio": "ratio",
    "table.maybe_compact_s": "s",
    "table.compactions": "count",
    "table.compact_bytes_written": "bytes",
    "table.maybe_analyze_s": "s",
    "table.analyzes": "count",
    "table.lookup_many_p50_s": "s",
    "table.lookup_buckets": "count",
    "table.read_p50_s": "s",
    "table.delta_files_live": "count",
    "table.mor_probe_ratio": "ratio",
    "replay.driver_self_s": "s",
    "jvm.jit_cpu_s": "s",
    **{f"query.{n}_s": "s" for n in querymix.QUERIES},
    **{f"query.{n}.{k}": u for n in querymix.HEAVY
       for k, u in (("cpu_s", "s"), ("gc_s", "s"), ("shuffle_bytes", "bytes"))},
    f"query.{querymix.STRAGGLER}.max_task_s": "s",
    **{f"udf.{n}.python_bytes_{d}": "bytes" for n in querymix.UDF
       for d in ("sent", "received")},
}
WORKLOADS = ("cdc_ingest", "query_mix")


class Ctx:
    """What a workload function needs: the session, the tracer, the seed and
    run length, its directories, and the set-up clocks.  Set-up is counted
    both in CPU seconds (``setup_s``, see ``harness.tree_cpu_s``) and in
    wall seconds (``setup_wall_s``, detail line only)."""

    def __init__(self, spark, tracer, seed, seconds, trace, work):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = work
        self.load_gen_s = self.load_gen_cpu_s = 0.0
        self.setup_s = self.setup_wall_s = None
        self.errors: list[str] = []
        self.marks: dict[str, float] = {}

    def mark(self, name: str) -> None:
        self.marks[name] = time.perf_counter() - T_PROCESS

    @contextmanager
    def load_generation(self):
        """Journal generation is the load generator: kept out of set-up."""
        t, c = time.perf_counter(), tree_cpu_s()
        try:
            yield
        finally:
            self.load_gen_s += time.perf_counter() - t
            self.load_gen_cpu_s += tree_cpu_s() - c

    def mark_setup_done(self) -> None:
        """Process start -> first timed op, less load generation."""
        self.setup_s = tree_cpu_s() - self.load_gen_cpu_s
        self.setup_wall_s = time.perf_counter() - T_PROCESS - self.load_gen_s
        self.mark("setup_done")

    @contextmanager
    def more_setup(self):
        """Untimed work after the first timed op (warm-up) is set-up too."""
        t, c = time.perf_counter(), tree_cpu_s()
        try:
            yield
        finally:
            self.setup_wall_s += time.perf_counter() - t
            self.setup_s += tree_cpu_s() - c

    def error(self, e: Exception) -> None:
        self.errors.append(f"{type(e).__name__}: {e}"[:500])
        traceback.print_exc(file=sys.stderr)


def start_session(work: str, trace: bool):
    """The fixed session shape; every temporary file goes under ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    import harness
    from activedata_etl_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = harness.DRIVER_MEM
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            # JIT threads live as long as the JVM (see harness.tree_cpu_s)
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return get_spark("perfbench", parallelism=harness.MASTER_CORES,
                     shuffle_partitions=harness.SHUFFLE_PARTITIONS,
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import activedata_etl_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import cdc
    import harness

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    for d in (work, results):
        os.makedirs(d, exist_ok=True)
    trace = bool(args.trace)
    rss = harness.RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t0
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        tracer = harness.Tracer(spark, run_id, trace)
        ctx = Ctx(spark, tracer, args.seed, args.seconds, trace, work)
        if trace:
            cdc.install_eager_spans(tracer)
        try:
            fn = {"cdc_ingest": cdc.cdc_ingest,
                  "query_mix": querymix.query_mix}[args.workload]
            out = fn(ctx)
        finally:
            tracer.uninstall()
        host = harness.host_record(spark)
        ctx.mark("workload_done")
    finally:
        if spark is not None:
            stop_session(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    ctx.mark("stopped")

    gates = out["gates"]
    failed = out["failed"] + sum(1 for g in gates.values() if not g["ok"])
    attempted = max(out["attempted"], 1)
    e2e = dict(out.get("e2e", {}), setup_s=ctx.setup_s)
    warm = [tracer.duration(s) for s in tracer.named("setup.warmup")]
    layers = {name: 0.0 for name in PER_LAYER}
    layers["session.start_s"] = session_s
    layers["setup.warmup_s"] = warm[0] if warm else 0.0
    layers.update(out.get("layers", {}))
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": host,
        "load_generation_s": ctx.load_gen_s,
        "setup_wall_s": ctx.setup_wall_s,
        # RSS summed over this process, the JVM and the Python workers
        "peak_rss_mb": peak_mb,
        "gates": gates,
        "errors": ctx.errors,
        "phases_s": ctx.marks,
        "failed_ops_ratio": failed / attempted,
        "workload_metrics": out.get("detail", {}),
        "end_to_end": {k: {"value": e2e.get(k), "unit": u}
                       for k, u in E2E.items()},
    }
    stem = os.path.join(results, f"{args.workload}-s{args.seed}")
    if trace:
        untraced = f"{stem}-untraced.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            detail["tracing_overhead"] = {
                k: e2e[k] - base[k]["value"] for k in E2E
                if e2e.get(k) is not None
                and base.get(k, {}).get("value") is not None}
        detail["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]}
                               for k, v in layers.items()}
        with open(f"{stem}-trace.json", "w") as f:
            json.dump(dict(detail, spans=tracer.spans), f, indent=1)
    else:
        with open(f"{stem}-untraced.json", "w") as f:
            json.dump(detail, f, indent=1)
    print(json.dumps(detail))

    correct = failed == 0 and all(v is not None for v in e2e.values())
    chosen = ({k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
              if trace else
              {k: {"value": e2e.get(k), "unit": u} for k, u in E2E.items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": chosen}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
