"""The ``cdc_ingest`` workload: a bulk backfill, then steady small batches
with reads beside them, into one lake table.

It drives the package only through its public functions (``journal``,
``streaming.replay``, ``lake.table``) in a closed loop: one driver thread
submits the next replay call only after the previous commit returned.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from harness import (
    SparkMetrics,
    jit_cpu_s,
    median,
    op_count,
    p90,
    tree_cpu_s,
)

KEYS = ["repo", "path"]
VERSION = ["commit_seq", "offset"]

# One journal per run.  Its first BASE offsets are backfilled in
# BACKFILL_CHUNKS replay calls: chunk 0 is an upsert into the empty table,
# chunk 1 CoW-merges into the populated buckets and crosses the v1 -> v2
# schema change (v2_fraction = 0.5 starts v2 at mid-journal).
# The tail is replayed in BATCH-event batches.  The key space is wide
# enough that a batch's winners stay under the 5 % auto-mode threshold of
# the backfilled rows (2048 of ~62k), so steady batches land as MOR deltas.
BASE = 1 << 16
BACKFILL_CHUNKS = 2
BATCH = 2048
PATHS_PER_REPO = 65536
N_BUCKETS = 16
V2_FRACTION = 0.5
LOOKUP_KEYS = 4
# untimed steady cycles after the backfill: the first batches against a
# fresh table are still warming up
WARMUP_CYCLES = 4
# a full read().count() after every SCAN_EVERY-th timed cycle and the last
SCAN_EVERY = 5
# In-loop maintenance thresholds, lowered from the defaults (16, 16) so
# that maintenance runs inside the timed cycles of a 20-second run: every
# batch adds a delta to nearly every bucket, so the 1st timed batch (the
# 5th delta, the table's 7th commit) compacts and runs ANALYZE, and the
# 4 deltas of the later batches stay under the threshold.  The first timed
# cycle is also the last to run warm, so it is the one outlier: the median
# cycle is a plain one, and the maintenance cost shows in work_per_cpu_s.
MAX_DELTAS = 4
ANALYZE_EVERY = 7
# nominal costs on a 4-CPU host, used to turn --seconds into a fixed count
# of timed steady cycles (one batch, then one lookup)
BACKFILL_NOMINAL_S = 6.0
CYCLE_NOMINAL_S = 2.8

PREFIX_REPS = 2


# ----------------------------------------------------------- load generator


def generate_journal(ctx, n_events: int, **kwargs) -> str:
    """Write the run's journal with ``journal.write_journal`` from the seed.
    Generation is the load generator: its time is kept out of every metric.
    Every run generates its own, so every run starts from the same JVM
    state whether or not a seed was seen before."""
    from activedata_etl_spark.journal import write_journal

    path = os.path.join(ctx.work, "journal")
    with ctx.load_generation():
        write_journal(ctx.spark, n_events, path, seed=ctx.seed, **kwargs)
    ctx.mark("journal_done")
    return path


# ------------------------------------------------------------- table sizes


def live_bytes(table, deltas: bool = True) -> int:
    """Bytes of the base (and delta) files the current snapshot references."""
    from activedata_etl_spark.lake.table import BUCKET_COL

    snap = table.snapshot()
    pairs = {(rel, b) for b, rel in snap["bucket_dirs"].items()}
    if deltas:
        pairs |= {(rel, b) for b, rels in snap.get("delta_dirs", {}).items()
                  for rel in rels}
    return sum(table.dir_bytes(f"{rel}/{BUCKET_COL}={b}") for rel, b in pairs)


def merge_counts(summaries: list[dict], table) -> dict:
    """Counters of the applied (non-skipped) replay batches."""
    done = [s for s in summaries if not s.get("skipped")]
    return {
        "merge.rows_read": sum(s["rows_read"] for s in done),
        "merge.rows_applied": sum(s["rows_applied"] for s in done),
        "merge.deletes_applied": sum(s["deletes_applied"] for s in done),
        "merge.conflicts_resolved": sum(
            s["merge_conflicts_resolved"] for s in done),
        "merge.touched_buckets": sum(s["touched_buckets"] for s in done),
        "merge.bytes_written": sum(
            table.dir_bytes(s["data_rel"]) for s in done if s.get("data_rel")),
        "merge.delta_batch_ratio": (
            sum(1 for s in done if s.get("merge_mode") == "delta")
            / len(done) if done else 0.0),
    }


# ---------------------------------------------------------------- the gate


def converged_gate(spark, table_location: str, journal_dir: str,
                   max_offset: int) -> dict:
    """The converged (repo, path, content_sha256) set must equal
    ``journal.expected_state_df`` over the applied offsets.  One job: each
    row counts +1 on the expected side and -1 on the table side, and every
    group whose count is not 0 is a row one side lacks."""
    from activedata_etl_spark.journal import expected_state_df, read_journal
    from activedata_etl_spark.lake.table import SnapshotTable

    cols = [*KEYS, "content_sha256"]
    j = read_journal(spark, journal_dir).where(F.col("offset") <= max_offset)
    exp = expected_state_df(j).select(
        *KEYS, F.sha2("content", 256).alias("content_sha256"),
        F.lit(1).alias("side"))
    got = SnapshotTable(spark, table_location).read().select(
        *cols, F.lit(-1).alias("side"))
    row = (exp.unionByName(got).groupBy(*cols).agg(F.sum("side").alias("d"))
           .agg(F.sum(F.when(F.col("d") > 0, F.col("d"))).alias("missing"),
                F.sum(F.when(F.col("d") < 0, -F.col("d"))).alias("extra"))
           .first())
    missing, extra = int(row["missing"] or 0), int(row["extra"] or 0)
    return {"ok": missing == 0 and extra == 0, "missing": missing,
            "extra": extra}


# ----------------------------------------------------- traced run helpers


def install_eager_spans(tracer) -> None:
    """Span wrappers around the eager layer calls.  ``replay_journal``
    binds ``apply_batch`` by name, so it is patched in that module."""
    import activedata_etl_spark.streaming.replay as replay_mod
    from activedata_etl_spark.lake.table import SnapshotTable

    def compacted(rec, args, version):
        rec["compacted"] = version is not None
        if version is not None:
            table = args[0]
            rec["bytes"] = sum(table.dir_bytes(d)
                               for d in table.dirs_of_version(version))

    tracer.wrap(replay_mod, "apply_batch", "merge.apply_batch")
    tracer.wrap(SnapshotTable, "maybe_compact", "table.maybe_compact",
                on_result=compacted)
    tracer.wrap(SnapshotTable, "maybe_analyze", "table.maybe_analyze",
                on_result=lambda rec, a, out: rec.update(analyzed=out is not None))


def prefix_decomposition(ctx, journal_dir: str, lo: int, hi: int, apply):
    """Time the batch layers from outside the lazy plan: a noop-sink write of
    the scan, then + normalize_keys, + lww_reduce_structmax, +
    finalize_records, then the real ``apply`` (a replay call that runs
    apply_batch on the same offsets).  Layer self times are the differences
    between consecutive prefixes, so they sum to the apply_batch wall time."""
    from activedata_etl_spark.functions.normalize import (
        finalize_records,
        normalize_keys,
    )
    from activedata_etl_spark.journal import read_journal
    from activedata_etl_spark.operators.lww import lww_reduce_structmax

    scan = read_journal(ctx.spark, journal_dir).where(
        F.col("offset").between(lo, hi))
    norm = normalize_keys(scan)
    red = lww_reduce_structmax(norm, KEYS, VERSION)
    prefixes = [("journal.scan", scan), ("normalize.keys", norm),
                ("lww.reduce", red), ("normalize.finalize", finalize_records(red))]
    for name, df in prefixes:
        with ctx.tracer.span(f"prefix:{name}"):
            df.write.format("noop").mode("overwrite").save()
    with ctx.tracer.span("prefix:apply"):
        apply()
    return red.count() / max(scan.count(), 1)


# the five layer self times of the prefix decomposition, in plan order
SELF_TIMES = ["journal.scan_s", "normalize.keys_self_s", "lww.reduce_self_s",
              "normalize.finalize_self_s", "merge.write_commit_self_s"]


def prefix_layers(ctx, metrics) -> dict:
    """Per-layer self times and Spark metrics from the prefix spans."""
    tr = ctx.tracer
    names = ["journal.scan", "normalize.keys", "lww.reduce", "normalize.finalize"]
    walls = {n: median([tr.duration(s) for s in tr.named(f"prefix:{n}")])
             for n in names}
    under_apply = {i for p in tr.named("prefix:apply")
                   for i in tr.descendants(p)}
    apply_spans = [s for s in tr.named("merge.apply_batch")
                   if s["id"] in under_apply]
    walls["apply"] = median([tr.duration(s) for s in apply_spans])

    def totals(label):
        spans = (apply_spans if label == "apply"
                 else tr.named(f"prefix:{label}"))
        rows = [metrics.stage_totals(s) for s in spans]
        return {k: median([r[k] for r in rows]) for k in rows[0]}

    t = {n: totals(n) for n in names + ["apply"]}
    skew = []
    for s in tr.named("prefix:lww.reduce"):
        for tasks in metrics.task_times(s, shuffle_read_only=True):
            if tasks and sum(tasks) > 0:
                skew.append(max(tasks) / (sum(tasks) / len(tasks)))
    return {
        "journal.scan_s": walls["journal.scan"],
        "normalize.keys_self_s": walls["normalize.keys"] - walls["journal.scan"],
        "lww.reduce_self_s": walls["lww.reduce"] - walls["normalize.keys"],
        "normalize.finalize_self_s":
            walls["normalize.finalize"] - walls["lww.reduce"],
        "merge.write_commit_self_s": walls["apply"] - walls["normalize.finalize"],
        "lww.shuffle_bytes": t["lww.reduce"]["shuffle_bytes"],
        "lww.spill_bytes": t["lww.reduce"]["spill_bytes"],
        "lww.skew_max_over_mean": max(skew) if skew else 0.0,
        "lww.cpu_s": t["lww.reduce"]["cpu_s"] - t["normalize.keys"]["cpu_s"],
        "lww.gc_s": t["lww.reduce"]["gc_s"] - t["normalize.keys"]["gc_s"],
        "merge.cpu_s": t["apply"]["cpu_s"] - t["normalize.finalize"]["cpu_s"],
        "merge.gc_s": t["apply"]["gc_s"] - t["normalize.finalize"]["gc_s"],
        "merge.shuffle_bytes": (t["apply"]["shuffle_bytes"]
                                - t["normalize.finalize"]["shuffle_bytes"]),
        "prefix.apply_batch_s": walls["apply"],
    }


def loop_layers(ctx, metrics, steady_span) -> dict:
    """Per-layer values of the eager spans inside the timed steady cycles
    (the backfill and the warm-up cycles are outside ``steady_span``)."""
    tr = ctx.tracer
    inside = set(tr.descendants(steady_span))
    spans = [s for s in tr.spans if s["id"] in inside]

    def of(name):
        return [s for s in spans if s["name"] == name]

    applies = of("merge.apply_batch")
    compacts = of("table.maybe_compact")
    analyzes = of("table.maybe_analyze")
    calls = of("replay.call")
    return {
        "merge.apply_batch_p50_s": median([tr.duration(s) for s in applies]),
        "merge.jobs_per_batch": median([metrics.jobs_of(s) for s in applies]),
        "table.maybe_compact_s": sum(tr.duration(s) for s in compacts),
        "table.compactions": sum(1 for s in compacts if s.get("compacted")),
        "table.compact_bytes_written": sum(s.get("bytes", 0) for s in compacts),
        "table.maybe_analyze_s": sum(tr.duration(s) for s in analyzes),
        "table.analyzes": sum(1 for s in analyzes if s.get("analyzed")),
        "replay.driver_self_s": median([tr.self_time(s) for s in calls]),
    }


# ---------------------------------------------------------------- workload


def _batch_keys(journal_dir: str) -> dict[int, list[dict]]:
    """LOOKUP_KEYS keys written by each steady batch, chosen by offset so
    the same seed always looks up the same keys (read from the generated
    journal files, outside Spark)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(journal_dir, format="parquet", partitioning="hive").to_table(
        columns=["offset", *KEYS],
        filter=(ds.field("offset") >= BASE)
        & (pc.bit_wise_and(ds.field("offset"), BATCH // LOOKUP_KEYS - 1) == 0))
    out: dict[int, list[dict]] = {}
    seen = set()
    for r in sorted(t.to_pylist(), key=lambda r: r["offset"]):
        if r["offset"] in seen:
            continue  # a redelivered duplicate
        seen.add(r["offset"])
        out.setdefault(r["offset"] // BATCH, []).append(
            {"repo": r["repo"], "path": r["path"]})
    return out


def cdc_ingest(ctx) -> dict:
    from activedata_etl_spark.lake.table import BUCKET_COL, SnapshotTable
    from activedata_etl_spark.streaming.replay import replay_journal

    spark, tr = ctx.spark, ctx.tracer
    chunk = BASE // BACKFILL_CHUNKS
    cycles = op_count(ctx.seconds - BACKFILL_NOMINAL_S, CYCLE_NOMINAL_S)
    jd = generate_journal(ctx, BASE + BATCH * (WARMUP_CYCLES + cycles),
                          n_paths_per_repo=PATHS_PER_REPO,
                          v2_fraction=V2_FRACTION)
    with ctx.load_generation():
        keys = _batch_keys(jd)
    loc = os.path.join(ctx.work, "table")
    # journal generation has run the JVM's first jobs; the backfill is timed
    # from its first call, like a backfill a user starts in a fresh session
    ctx.mark_setup_done()

    backfill, cycle_s, cycle_cpu, lookups, scans = [], [], [], [], []
    bf_summaries, st_summaries, st_events = [], [], 0
    attempted = failed = 0
    steady_s = steady_cpu = steady_jit = bf_cpu = 0.0
    lo = BASE
    table = None

    def batch():
        nonlocal lo
        with tr.span("replay.call"):
            r = replay_journal(spark, jd, loc, chunk_events=BATCH,
                               offset_range=(lo, lo + BATCH - 1),
                               n_buckets=N_BUCKETS,
                               max_deltas_per_bucket=MAX_DELTAS,
                               analyze_stale_commits=ANALYZE_EVERY)
        lo += BATCH
        return r

    def lookup():
        with tr.span("table.lookup_many"):
            table.lookup_many(keys[lo // BATCH - 1]).collect()

    def scan():
        with tr.span("table.read") as rec:
            df = table.read()
            df.count()
        if rec is not None:
            # the broadcast key probe plans as a left anti join
            rec["mor_probe"] = "LeftAnti" in (
                df._jdf.queryExecution().analyzed().toString())

    steady = None
    try:
        # backfill: one replay call per chunk
        c_bf = tree_cpu_s()
        for _ in range(BACKFILL_CHUNKS):
            attempted += 1
            t0 = time.perf_counter()
            with tr.span("replay.call"):
                r = replay_journal(spark, jd, loc, chunk_events=chunk,
                                   offset_range=(0, BASE - 1), max_batches=1,
                                   n_buckets=N_BUCKETS)
            backfill.append((time.perf_counter() - t0, r["events"]))
            bf_summaries += r["summaries"]
        bf_cpu = tree_cpu_s() - c_bf
        table = SnapshotTable(spark, loc)
        backfill_bytes = live_bytes(table)
        # untimed warm-up cycles, counted as set-up
        with ctx.more_setup(), tr.span("setup.warmup"):
            for _ in range(WARMUP_CYCLES):
                batch()
                lookup()
        data_before = table.dir_bytes("data")
        # the timed steady cycles: batch + lookup, with a full scan after
        # every SCAN_EVERY-th cycle and the last; in-loop compaction and
        # ANALYZE run inside the batches
        t_steady, c_steady, j_steady = (time.perf_counter(), tree_cpu_s(),
                                        jit_cpu_s())
        with tr.span("steady") as steady:
            for i in range(cycles):
                attempted += 2
                t0, c0 = time.perf_counter(), tree_cpu_s()
                r = batch()
                t1 = time.perf_counter()
                lookup()
                t2 = time.perf_counter()
                cycle_cpu.append(tree_cpu_s() - c0)
                cycle_s.append(t2 - t0)
                lookups.append(t2 - t1)
                st_events += r["events"]
                st_summaries += r["summaries"]
                if (i + 1) % SCAN_EVERY == 0 or i + 1 == cycles:
                    attempted += 1
                    scan()
                    scans.append(time.perf_counter() - t2)
        steady_s = time.perf_counter() - t_steady
        steady_cpu = tree_cpu_s() - c_steady
        steady_jit = jit_cpu_s() - j_steady
    except Exception as e:  # noqa: BLE001 - counted, run reports it
        ctx.error(e)
        failed += 1

    out = {"attempted": attempted, "failed": failed, "gates": {}, "layers": {}}
    if failed or not cycle_s:
        return out
    steady_bytes = table.dir_bytes("data") - data_before
    counts = merge_counts(bf_summaries + st_summaries, table)
    steady_counts = merge_counts(st_summaries, table)
    winners = (steady_counts["merge.rows_applied"]
               + steady_counts["merge.deletes_applied"])
    per_row = live_bytes(table, deltas=False) / max(table.base_row_count() or 0, 1)
    rates = [ev / s for s, ev in backfill]
    commits = [c - lk for c, lk in zip(cycle_s, lookups)]
    bf_s, bf_events = sum(s for s, _ in backfill), sum(e for _, e in backfill)
    out["e2e"] = {
        "op_cpu_s": median(cycle_cpu),
        "work_per_cpu_s": (bf_events + st_events) / (bf_cpu + steady_cpu),
    }
    out["detail"] = {
        "op_latency_s": median(cycle_s),
        "work_per_s": (bf_events + st_events) / (bf_s + steady_s),
        "cycle_cpu_s": cycle_cpu,
        "backfill_cpu_s": bf_cpu,
        "steady_cpu_s": steady_cpu,
        "steady_jit_cpu_s": steady_jit,
        "replay_events_per_s": bf_events / bf_s,
        "backfill_s": [s for s, _ in backfill],
        "backfill_events_per_s": rates,
        "backfill_write_amp": (
            sum(table.dir_bytes(s["data_rel"]) for s in bf_summaries
                if s.get("data_rel")) / max(backfill_bytes, 1)),
        "steady_s": steady_s,
        "cycle_p50_s": median(cycle_s),
        "cycle_s": cycle_s,
        "commit_p50_s": median(commits),
        "commit_p90_s": p90(commits),
        "commits": len(commits),
        "ingest_events_per_s": st_events / sum(commits),
        "steady_write_amp": steady_bytes / max(winners * per_row, 1),
        "lookup_p50_s": median(lookups),
        "lookup_p90_s": p90(lookups),
        "lookups": len(lookups),
        "scan_p50_s": median(scans),
        "scans": len(scans),
    }
    layers = out["layers"]
    layers.update(counts)
    layers["merge.delta_batch_ratio"] = steady_counts["merge.delta_batch_ratio"]
    layers["table.delta_files_live"] = table.delta_stats()["total_delta_dirs"]
    layers["jvm.jit_cpu_s"] = steady_jit
    out["attempted"] += 1
    ctx.mark("gate")
    out["gates"]["converged"] = converged_gate(spark, loc, jd, lo - 1)
    ctx.mark("gate_done")
    if ctx.trace:
        # prefix decomposition of backfill chunk 1 (a CoW merge into the
        # buckets chunk 0 populated), each rep in a scratch table
        ratios = []
        for rep in range(PREFIX_REPS):
            ploc = os.path.join(ctx.work, f"prefix{rep}")

            def apply(ploc=ploc):
                replay_journal(spark, jd, ploc, chunk_events=chunk,
                               offset_range=(0, BASE - 1), max_batches=1,
                               n_buckets=N_BUCKETS)

            apply()
            ratios.append(prefix_decomposition(ctx, jd, chunk, 2 * chunk - 1,
                                               apply))
        layers["lww.winner_ratio"] = median(ratios)
        layers["table.lookup_buckets"] = median([
            table.bucket_of(spark.createDataFrame(k)).select(
                BUCKET_COL).distinct().count() for k in list(keys.values())[:3]])
        inside = set(tr.descendants(steady))
        layers["table.lookup_many_p50_s"] = median(
            [tr.duration(s) for s in tr.named("table.lookup_many")
             if s["id"] in inside])
        reads = tr.named("table.read")
        layers["table.read_p50_s"] = median([tr.duration(s) for s in reads])
        layers["table.mor_probe_ratio"] = (
            sum(s["mor_probe"] for s in reads) / len(reads))
        metrics = SparkMetrics(spark, tr)
        layers.update(prefix_layers(ctx, metrics))
        layers.update(loop_layers(ctx, metrics, steady))
        parts = {k: layers[k] for k in SELF_TIMES}
        out["detail"]["apply_batch_self_times_s"] = dict(
            parts, sum=sum(parts.values()),
            apply_batch=layers["prefix.apply_batch_s"],
            dominant=max(parts, key=parts.get))
    return out
