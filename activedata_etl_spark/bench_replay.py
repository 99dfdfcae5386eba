"""Subprocess entry for one isolated replay measurement.

Usage: python -m activedata_etl_spark.bench_replay <parallelism> <chunk>
           <journal_dir> <lake_dir> [salted]

Fresh JVM per measurement — successive SparkSessions in one process share a
warmed/fragmented heap and skew comparisons.
"""

from __future__ import annotations

import json
import os
import sys


def skew_metrics(spark) -> dict | None:
    """max-task / mean-task time for the heaviest shuffle-read stage (the
    LWW reduce) from the REST API — the measured skew gate: map-side combine
    is claimed to flatten the hot repo, this number proves it per run."""
    import urllib.request

    def get(url):
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())

    base = spark.sparkContext.uiWebUrl
    if not base:
        print("warn: skew probe skipped — Spark UI is disabled", file=sys.stderr)
        return None
    try:
        app = get(f"{base}/api/v1/applications")[0]["id"]
        stages = get(f"{base}/api/v1/applications/{app}/stages?status=complete")
        stages = [s for s in stages if s.get("numCompleteTasks", 0) > 1]
        if not stages:
            print("warn: skew probe found no multi-task stages", file=sys.stderr)
            return None
        s = max(stages, key=lambda x: x.get("shuffleReadBytes", 0))
        q = get(
            f"{base}/api/v1/applications/{app}/stages/{s['stageId']}/"
            f"{s['attemptId']}/taskSummary?quantiles=0.0,0.5,1.0"
        )
        max_ms = q["executorRunTime"][2]
        mean_ms = s["executorRunTime"] / max(s["numCompleteTasks"], 1)
        return {
            "stage_id": s["stageId"],
            "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1048576, 1),
            "num_tasks": s["numCompleteTasks"],
            "max_task_ms": max_ms,
            "mean_task_ms": round(mean_ms, 1),
            "max_task_over_mean": round(max_ms / mean_ms, 2) if mean_ms else None,
        }
    except Exception as e:
        # never silent: the per-run skew gate going missing must be visible
        print(f"warn: skew probe failed: {type(e).__name__}: {e}", file=sys.stderr)
        return None


def main() -> None:
    par, chunk = sys.argv[1], int(sys.argv[2])
    journal_dir, lake_dir = sys.argv[3], sys.argv[4]
    salted = len(sys.argv) > 5 and sys.argv[5] == "salted"

    from activedata_etl_spark.session import get_spark
    from activedata_etl_spark.streaming.replay import replay_journal

    # shuffle partitions are CONSTANT across parallelism levels: the north
    # rule compares the SAME JOB at two cluster sizes, and on a real cluster
    # shuffle partitions are sized to the data, not the executor count (AQE
    # coalesces at the small level).  With partitions scaled to cores, the
    # small level ran 4 partitions x 500MB final aggregates and SPILLED —
    # handicapping the N level and flattering the ratio.
    shuffle = int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "32"))
    spark = get_spark(
        f"bench_replay_{par}", parallelism=par, shuffle_partitions=shuffle,
        # UI on (random port): the REST API supplies the per-stage task-time
        # skew evidence; overhead on the measured path is negligible
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "0"},
    )
    # untimed warmup: the north metric is SUSTAINED events/sec, and on a real
    # cluster long-running executors are JIT/codegen-warm.  A fresh JVM pays
    # warmup once; at the 4N level that cost amortizes over 1/4 the runtime,
    # which would understate the scaling the warm engine actually delivers.
    # The warmup replays a small offset slice of the SAME journal through the
    # SAME code path into a scratch table, compiling the same generated code.
    warm = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", str(1 << 21)))
    if warm > 0:
        import shutil
        scratch = lake_dir + "_warm"
        replay_journal(
            spark, journal_dir, scratch, chunk_events=warm,
            offset_range=(0, warm - 1), salted=salted,
        )
        shutil.rmtree(scratch, ignore_errors=True)
    r = replay_journal(
        spark, journal_dir, lake_dir, chunk_events=chunk, salted=salted
    )
    print(json.dumps({
        "par": par,
        "events": r["events"],
        "elapsed_sec": r["elapsed_sec"],
        "events_per_sec": r["events_per_sec"],
        "reduce_stage": skew_metrics(spark),
    }))


if __name__ == "__main__":
    main()
