"""Subprocess entry: measure zone-map bucket pruning + sorted-compaction
row-group skipping on a replayed lake table.

Usage: python -m activedata_etl_spark.bench_zone <parallelism> <n_base>
           <n_tail> <n_buckets> <workdir>

Quantifies the claim behind ``SnapshotTable.prunable_buckets`` ("a point-ish
query on a non-key column opens a handful of files") with measured numbers:

- **recent-changes predicate** (`commit_seq > base frontier`) — the
  CDC-natural ad-hoc query.  Buckets are hash(repo, path), so a SMALL
  incremental batch touches few buckets; every untouched bucket's zone map
  has max(commit_seq) <= frontier and prunes.  Reported: buckets/bytes
  opened with stats vs without (without stats the reader must open every
  bucket).
- **absent-value predicate** (`commit_seq` beyond any row) — prunes every
  bucket: the "is there anything newer?" poll becomes a pure driver-side
  metadata answer, zero files opened.
- **row-group skipping** — the same selective predicate executed against
  the table compacted UNSORTED vs compacted with ``sort_by=[commit_seq]``:
  parquet row-group min/max stats become selective once rows are sorted
  within each bucket, so the scan's `recordsRead` (reader output before the
  Spark filter) collapses.  This is the complement to bucket pruning —
  bucket-level zone maps cannot help a predicate whose range every bucket
  spans, row-group stats can.

Fresh JVM per run (same protocol as bench_replay); one JSON line on stdout.
"""

from __future__ import annotations

import json
import os
import sys


def _bucket_bytes(loc: str, snap: dict, buckets: list[str]) -> int:
    """Driver-side on-disk bytes of the base+delta files of ``buckets`` —
    exactly the file set ``read`` would open for them."""
    total = 0
    for b in buckets:
        dirs = []
        base = snap["bucket_dirs"].get(b)
        if base:
            dirs.append(base)
        dirs += snap.get("delta_dirs", {}).get(b, [])
        for d in dirs:
            p = os.path.join(loc, d, f"__bucket={b}")
            if not os.path.isdir(p):
                continue
            for root, _, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
    return total


def _records_read(spark, fn) -> tuple[int, int]:
    """(recordsRead by the scan, rows returned) for one action, via the
    REST API stage metrics (delta of inputRecords across the call).
    Stage metrics post asynchronously — poll until the total stabilizes."""
    import time
    import urllib.request

    def stages_input():
        base = spark.sparkContext.uiWebUrl
        app = json.loads(urllib.request.urlopen(
            f"{base}/api/v1/applications", timeout=10).read())[0]["id"]
        st = json.loads(urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete",
            timeout=10).read())
        return sum(s.get("inputRecords", 0) for s in st)

    def settled():
        prev = stages_input()
        for _ in range(20):
            time.sleep(0.25)
            cur = stages_input()
            if cur == prev:
                return cur
            prev = cur
        return prev

    before = settled()
    rows = fn()
    return settled() - before, rows


def main() -> None:
    par, n_base, n_tail, n_buckets, workdir = (
        sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
        sys.argv[5],
    )
    from activedata_etl_spark.journal import write_journal
    from activedata_etl_spark.lake.table import SnapshotTable
    from activedata_etl_spark.session import get_spark
    from activedata_etl_spark.streaming.replay import replay_journal

    spark = get_spark(
        f"bench_zone_{par}", parallelism=par,
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "32")),
        extra_conf={
            "spark.ui.enabled": "true", "spark.ui.port": "0",
            # sandbox-scale buckets are ~1 MB files — one parquet row group
            # each at the 128 MB default, so group skipping could never
            # engage.  Shrink groups so the A/B measures the mechanism that
            # the default engages at real (~256 MB-file) scale.
            "spark.hadoop.parquet.block.size": str(128 * 1024),
        },
    )
    jd = os.path.join(workdir, "zone_journal")
    loc = os.path.join(workdir, "zone_lake")
    # a WIDE keyspace (~1 event per key) so the converged table's row count
    # ~= the journal's: the default keyspace (~50 events/key) converges to
    # a table too small to hold multiple parquet row groups per bucket
    write_journal(
        spark, n_base + n_tail, jd,
        n_paths_per_repo=max(200, (n_base + n_tail) // 20),
    )

    # base ingest -> compact SORTED by the filter column -> the incremental
    # tail (touches ~n_tail keys, i.e. few buckets) -> fresh ANALYZE
    replay_journal(
        spark, jd, loc, chunk_events=n_base, n_buckets=n_buckets,
        offset_range=(0, n_base - 1), analyze_stale_commits=None,
    )
    t = SnapshotTable(spark, loc)
    t.compact(sort_by=["commit_seq"])
    # the base frontier: every base row's commit_seq is below it
    base_max = t.read().agg({"commit_seq": "max"}).first()[0]
    replay_journal(
        spark, jd, loc, chunk_events=n_tail,
        offset_range=(n_base, n_base + n_tail - 1), analyze_stale_commits=None,
    )
    t.analyze()
    snap = t.snapshot()
    all_buckets = sorted(
        set(snap["bucket_dirs"]) | set(snap.get("delta_dirs", {})), key=int
    )
    total_bytes = _bucket_bytes(loc, snap, all_buckets)

    recent = [("commit_seq", ">", int(base_max))]
    kept = t.prunable_buckets(recent)
    kept_bytes = _bucket_bytes(loc, snap, kept)
    rows_recent = t.read(filters=recent).count()
    # correctness: pruning must not lose rows vs the unpruned filter
    rows_full = t.read().where(f"commit_seq > {int(base_max)}").count()
    assert rows_recent == rows_full, (rows_recent, rows_full)

    absent = [("commit_seq", ">", 10 ** 15)]
    kept_absent = t.prunable_buckets(absent)
    assert t.read(filters=absent).count() == 0

    # row-group skipping: same selective predicate on the uniform `commit`
    # hash column (~3% of rows), DECLUSTERED vs sorted compaction.
    # recordsRead = rows the parquet reader surfaced (after row-group/page
    # min/max skipping, before the Spark filter).  The baseline sorts by an
    # uncorrelated column (path) — LWW winners arrive roughly commit-ordered,
    # so a plain unsorted rewrite would accidentally stay clustered on
    # commit_seq-ish columns and understate the sorted win.
    sel = "commit >= 'f8'"
    t.compact(sort_by=["path"])  # declustered rewrite (folds tail deltas)
    rr_unsorted, rows_sel = _records_read(
        spark, lambda: t.read().where(sel).count()
    )
    t.compact(sort_by=["commit"])
    rr_sorted, rows_sel2 = _records_read(
        spark, lambda: t.read().where(sel).count()
    )
    assert rows_sel == rows_sel2, (rows_sel, rows_sel2)

    print(json.dumps({
        "n_base": n_base, "n_tail": n_tail, "n_buckets": n_buckets,
        "total_buckets": len(all_buckets),
        "total_mb": round(total_bytes / 1048576, 2),
        "no_stats": {"buckets": len(all_buckets),
                     "mb": round(total_bytes / 1048576, 2)},
        "recent_filter": {
            "buckets": len(kept), "mb": round(kept_bytes / 1048576, 2),
            "rows": rows_recent,
            "bucket_ratio": round(len(kept) / max(len(all_buckets), 1), 4),
            "byte_ratio": round(kept_bytes / max(total_bytes, 1), 4),
        },
        "absent_filter": {"buckets": len(kept_absent)},
        "rowgroup_skip": {
            "predicate_rows": rows_sel,
            "records_read_unsorted": rr_unsorted,
            "records_read_sorted": rr_sorted,
            "skip_ratio": round(
                1 - rr_sorted / rr_unsorted, 4) if rr_unsorted else None,
        },
    }))


if __name__ == "__main__":
    main()
