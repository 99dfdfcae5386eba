"""Steady-state incremental CDC benchmark (one mode per fresh JVM).

Real CDC is not one giant replay: it is many SMALL batches against a BIG
table.  Copy-on-write pays a full rewrite of every touched bucket per batch —
a 1%-of-keys batch touches nearly every bucket, so CoW write cost is O(table)
per batch (write amplification ≈ table/batch).  The MOR-lite delta path
(`lake/merge.py apply_batch(merge_mode=...)`) writes O(batch) and defers the
fold to ``compact()``.  This bench measures both, end to end:

  base build (big batch) -> N small batches (~1%% of keys each)
  -> [delta mode only: one compact(), included in time and bytes]

Usage: python -m activedata_etl_spark.bench_incremental <parallelism>
           <journal_dir> <lake_dir> <mode: delta|cow>
           <base_events> <inc_events> <inc_batches>

Prints one JSON line with amortized incremental events/sec and bytes written
(per-batch data dirs + compaction), the write-amplification evidence recorded
in BASELINE.md.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    par, journal_dir, lake_dir, mode = sys.argv[1:5]
    base_events, inc_events, inc_batches = map(int, sys.argv[5:8])

    from pyspark.sql import functions as F

    from activedata_etl_spark.functions.normalize import (
        finalize_records,
        normalize_keys,
    )
    from activedata_etl_spark.journal import journal_metadata, read_journal
    from activedata_etl_spark.lake.merge import apply_batch
    from activedata_etl_spark.session import get_spark
    from activedata_etl_spark.streaming.replay import ensure_table

    spark = get_spark(f"bench_inc_{mode}", parallelism=par, shuffle_partitions=32)
    journal = read_journal(spark, journal_dir)
    meta = journal_metadata(journal_dir, spark)
    need = base_events + inc_events * inc_batches
    if meta["max_offset"] + 1 < need:
        # empty offset ranges would silently measure nothing and report
        # nonsense write amplification — refuse instead ("no silent caps")
        raise SystemExit(
            f"bench_incremental: journal holds {meta['max_offset'] + 1} "
            f"events but the protocol needs {need} "
            f"(base {base_events} + {inc_batches}x{inc_events}); generate a "
            f"bigger journal or shrink SPARK_GRAFT_BENCH_INC_*"
        )

    # table sized for the key space (~n_events/50 keys, journal.py) — the
    # auto-bucket path keeps bucket count scale-appropriate at any size
    table = ensure_table(
        spark, lake_dir, journal.schema,
        n_buckets=None, expected_rows=(base_events + inc_events * inc_batches) // 50,
    )

    def apply_range(lo: int, hi: int, batch_id: int, merge_mode: str) -> dict:
        b = journal.where(F.col("offset").between(lo, hi))
        return apply_batch(
            table, normalize_keys(b), batch_id,
            finalize_fn=finalize_records, merge_mode=merge_mode,
        )

    t0 = time.time()
    s0 = apply_range(0, base_events - 1, 0, "cow")
    base_sec = time.time() - t0
    base_bytes = table.dir_bytes(s0["data_rel"])

    inc_bytes = 0
    modes_seen = []
    t1 = time.time()
    for j in range(inc_batches):
        lo = base_events + j * inc_events
        s = apply_range(lo, lo + inc_events - 1, j + 1, mode if mode != "delta" else "auto")
        modes_seen.append(s["merge_mode"])
        if s.get("data_rel"):
            inc_bytes += table.dir_bytes(s["data_rel"])
    inc_ingest_sec = time.time() - t1  # the batches alone
    compact_sec = 0.0
    compact_bytes = 0
    read_sec_with_deltas = read_sec_compacted = None
    if mode == "delta":
        # reader-side cost of MOR: full-scan count with the delta chains
        # live vs after compaction (the price readers pay between compacts);
        # measurement reads are EXCLUDED from the ingest throughput number
        tr = time.time()
        table.read().count()
        read_sec_with_deltas = round(time.time() - tr, 3)
        tc = time.time()
        v = table.compact()
        compact_sec = time.time() - tc
        compact_bytes = sum(table.dir_bytes(d) for d in table.dirs_of_version(v))
        tr = time.time()
        table.read().count()
        read_sec_compacted = round(time.time() - tr, 3)
    inc_sec = inc_ingest_sec + compact_sec

    inc_total_events = inc_events * inc_batches
    print(json.dumps({
        "mode": mode,
        "modes_seen": sorted(set(modes_seen)),
        "base_events": base_events,
        "base_sec": round(base_sec, 3),
        "base_bytes": base_bytes,
        "inc_batches": inc_batches,
        "inc_events": inc_total_events,
        "inc_sec": round(inc_sec, 3),
        "inc_events_per_sec": round(inc_total_events / inc_sec, 1) if inc_sec else 0.0,
        "inc_bytes_written": inc_bytes + compact_bytes,
        "inc_delta_bytes": inc_bytes if mode == "delta" else None,
        "compact_sec": round(compact_sec, 3),
        "read_sec_with_deltas": read_sec_with_deltas,
        "read_sec_compacted": read_sec_compacted,
    }))


if __name__ == "__main__":
    main()
