"""Smoke test of the benchmark itself, at a tiny size.  From the repository
root:

    python3 perfbench/smoke.py

Checks that BENCHMARK.json and the runner name the same metrics; that every
workload runs, untraced and traced, and prints each named metric with its
unit; that the traced run gives every per-layer metric its workload
exercises a non-zero value; that a deliberately corrupted converged table
trips the CDC gate; and that a checkout holding only the benchmark exits
non-zero without a result.
Each run is its own process, as in a real benchmark run.  Takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, ".work", "smoke")

# query_mix at smoke size: three of the queries, over the committed sample
SMOKE_QUERIES = ["dedup_ngram_jaccard", "dedup_embedding", "typed_json_props"]

# Runs the workload in this process with every size shrunk.  The CDC
# thresholds make two timed cycles in which a batch compacts and ANALYZE
# runs; the batches stay under 5 % of the backfilled rows, so they land as
# MOR deltas as in a full-size run.
TINY_RUN = """
import sys
sys.path.insert(0, {here!r})
import cdc, querymix, run
cdc.BASE, cdc.BATCH, cdc.PREFIX_REPS = 1 << 14, 512, 1
cdc.WARMUP_CYCLES, cdc.SCAN_EVERY = 1, 2
cdc.MAX_DELTAS, cdc.ANALYZE_EVERY = 1, 1
cdc.BACKFILL_NOMINAL_S, cdc.CYCLE_NOMINAL_S = 0.0, 0.5
querymix.QUERIES[:] = {queries!r}
querymix.HEAVY[:] = querymix.QUERIES
querymix.UDF[:] = querymix.QUERIES[1:]
sys.exit(run.main({argv!r}))
"""

# Per-layer metrics that may be 0 although their workload ran them: no
# spill at these sizes; conflicts arise only when a CoW batch loses to a
# newer stored row; the read takes the broadcast key probe only when the
# base is 32x the deltas; GC time of a short span may round to 0.
MAY_BE_ZERO = {"lww.spill_bytes", "merge.conflicts_resolved",
               "table.mor_probe_ratio", "lww.gc_s", "merge.gc_s"}


def exercised(workload: str, names) -> list[str]:
    """The per-layer metrics a smoke run of ``workload`` must make
    non-zero."""
    if workload == "query_mix":
        return [k for k in names
                if k.startswith(("session.", "setup.", "jvm."))
                or any(k == f"query.{q}_s" or (k.startswith((f"query.{q}.",
                                                              f"udf.{q}."))
                                               and not k.endswith(".gc_s"))
                       for q in SMOKE_QUERIES)]
    return [k for k in names if not k.startswith(("query.", "udf."))
            and k not in MAY_BE_ZERO]


# Replays a tiny journal, checks the gate passes, deletes one data file the
# snapshot references, and checks the gate then fails.
CORRUPT = """
import glob, os, sys
sys.path.insert(0, {root!r})
sys.path.insert(0, {here!r})
import cdc, run
work = {work!r}
spark = run.start_session(work, trace=False)
try:
    from activedata_etl_spark.journal import write_journal
    from activedata_etl_spark.lake.table import SnapshotTable
    from activedata_etl_spark.streaming.replay import replay_journal

    jd, loc = os.path.join(work, "journal"), os.path.join(work, "table")
    write_journal(spark, 1 << 13, jd, seed=7)
    replay_journal(spark, jd, loc, chunk_events=1 << 12)
    good = cdc.converged_gate(spark, loc, jd, (1 << 13) - 1)
    snap = SnapshotTable(spark, loc).snapshot()
    bucket, rel = sorted(snap["bucket_dirs"].items())[0]
    victim = glob.glob(os.path.join(loc, rel, f"__bucket={{bucket}}", "*.parquet"))[0]
    os.remove(victim)
    bad = cdc.converged_gate(spark, loc, jd, (1 << 13) - 1)
    print("GATE", good["ok"], bad["ok"], bad["missing"])
    ok = good["ok"] and not bad["ok"] and bad["missing"] > 0
finally:
    run.stop_session(spark)
sys.exit(0 if ok else 1)
"""


def _last_json(stdout: str):
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def check_declared() -> list[str]:
    sys.path.insert(0, HERE)
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    if declared != run.E2E:
        errors.append(f"end_to_end differs: {declared} vs {run.E2E}")
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if declared != run.PER_LAYER:
        errors.append("per_layer differs from run.PER_LAYER")
    if [w["name"] for w in bench["workloads"]] != list(run.WORKLOADS):
        errors.append("workloads differ from run.WORKLOADS")
    return errors


def check_workloads() -> list[str]:
    sys.path.insert(0, HERE)
    import run

    errors = []
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            argv = ["--workload", workload, "--seed", "3", "--seconds", "1",
                    "--trace", str(trace)]
            code = TINY_RUN.format(here=HERE, argv=argv,
                                   queries=SMOKE_QUERIES)
            p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                               capture_output=True, text=True, timeout=600)
            res = _last_json(p.stdout)
            want = run.PER_LAYER if trace else run.E2E
            tag = f"{workload} trace={trace}"
            if p.returncode != 0 or res is None:
                errors.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                errors.append(f"{tag}: metrics/units differ from the declared set")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{tag}: not correct: {p.stdout.splitlines()[-2]}")
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                errors.append(f"{tag}: non-numeric values {bad}")
            zero = [k for k in exercised(workload, res["metrics"])
                    if trace and res["metrics"][k]["value"] == 0]
            if zero:
                errors.append(f"{tag}: exercised metrics are 0: {zero}")
            print(f"ok  {tag}: {len(got)} metrics", flush=True)
    return errors


def check_corrupt_gate() -> list[str]:
    work = os.path.join(SCRATCH, "corrupt")
    code = CORRUPT.format(root=ROOT, here=HERE, work=work)
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    gate = [ln for ln in p.stdout.splitlines() if ln.startswith("GATE")]
    if p.returncode != 0:
        return [f"corrupted table did not trip the gate: {gate}\n"
                f"{p.stderr[-2000:]}"]
    print(f"ok  corrupted table trips the gate: {gate[0]}", flush=True)
    return []


def check_bare_checkout() -> list[str]:
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "results",
                                                  "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or _last_json(p.stdout) is not None:
        return [f"bare checkout: exit {p.returncode}, stdout {p.stdout[-300:]}"]
    print(f"ok  bare checkout exits {p.returncode} without a result", flush=True)
    return []


def main() -> int:
    errors = check_declared()
    errors += check_bare_checkout()
    errors += check_corrupt_gate()
    errors += check_workloads()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("smoke:", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
