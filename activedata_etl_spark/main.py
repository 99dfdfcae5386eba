"""spark-submit entry point for the CDC engine.

Deploy (north rule: `spark-submit --py-files` on a multi-executor cluster):

    cd <repo> && zip -r /tmp/engine.zip activedata_etl_spark
    spark-submit --master <cluster> --py-files /tmp/engine.zip \
        --num-executors N --executor-cores C --executor-memory 8g \
        activedata_etl_spark/main.py \
        replay --journal s3://.../journal --table s3://.../lake

Subcommands mirror the reference's process entry points
(`activedata_etl/etl.py:438-512` main/etl_one; maintenance scripts):

  replay    chunked batch replay (availableNow analog; resumable, fenced)
  stream    Structured Streaming tail with checkpoint
  backfill  bounded offset-range replay (`--id a..b` analog)
  compact   rewrite buckets at the current schema (folds MOR deltas;
            --buckets limits to a subset, --if-deltas-over N compacts only
            buckets whose delta chain crossed the threshold)
  expire    drop unreachable snapshots + data dirs
  analyze   commit per-column count/cardinality/min/max stats
  verify    distributed equality audit: converged table vs the journal's
            expected LWW state (row counts + per-row anti-join diffs)
  lineage   print the per-batch/per-partition lineage table
"""

from __future__ import annotations

import argparse
import json
import sys


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="activedata_etl_spark")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("replay")
    r.add_argument("--journal", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--chunk-events", type=int, default=50_000_000)
    r.add_argument("--salted", action="store_true")
    r.add_argument("--n-buckets", type=int, default=None,
                   help="default: auto-size from --expected-rows")
    r.add_argument("--expected-rows", type=int, default=None)
    r.add_argument("--merge-mode", choices=["auto", "cow", "delta"],
                   default="auto")
    r.add_argument("--max-deltas-per-bucket", type=int, default=16)

    s = sub.add_parser("stream")
    s.add_argument("--journal", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--available-now", action="store_true")
    s.add_argument("--n-buckets", type=int, default=64)
    s.add_argument("--export-es", default=None, metavar="DIR",
                   help="after each committed micro-batch, render the "
                        "change feed as _bulk files under DIR "
                        "(at-least-once; external_gte dedups)")

    v = sub.add_parser("verify")
    v.add_argument("--journal", required=True)
    v.add_argument("--table", required=True)

    b = sub.add_parser("backfill")
    b.add_argument("--journal", required=True)
    b.add_argument("--table", required=True)
    b.add_argument("--offsets", required=True, help="lo..hi inclusive range")
    b.add_argument("--chunk-events", type=int, default=50_000_000)

    rp = sub.add_parser("repair",
                        help="re-apply committed chunks; fence unchanged")
    rp.add_argument("--journal", required=True)
    rp.add_argument("--table", required=True)
    rp.add_argument("--offsets", required=True, help="lo..hi inclusive range")
    rp.add_argument("--chunk-events", type=int, default=50_000_000)

    for name in ("compact", "expire", "analyze", "lineage", "history"):
        c = sub.add_parser(name)
        c.add_argument("--table", required=True)
        if name == "expire":
            c.add_argument("--keep-last", type=int, default=2)
            c.add_argument("--orphan-grace-s", type=float, default=3600.0,
                           help="age before never-referenced dirs (conflict "
                                "losers / in-flight writes) are collected")
        if name == "compact":
            c.add_argument("--drop-tombstones", action="store_true")
            c.add_argument("--buckets", default=None,
                           help="comma-separated bucket ids (subset compact)")
            c.add_argument("--if-deltas-over", type=int, default=None,
                           help="only compact buckets whose delta chain "
                                "exceeds N files (maybe_compact)")
            c.add_argument("--sort-by", default=None,
                           help="comma-separated columns to order within "
                                "each bucket (row-group skipping)")

    rb = sub.add_parser("rebucket", help="rewrite the table under a new "
                                         "bucket count (layout evolution "
                                         "for grown tables)")
    rb.add_argument("--table", required=True)
    rb.add_argument("--n-buckets", type=int, default=None,
                    help="explicit new count; omit to auto-size from "
                         "measured table bytes")
    rb.add_argument("--target-bucket-mb", type=int, default=250,
                    help="auto-size target per bucket (MB)")
    rb.add_argument("--if-grown", action="store_true",
                    help="only rewrite when the layout drifted >=4x from "
                         "the per-bucket target (maybe_rebucket hysteresis "
                         "band); cheap no-op otherwise")

    q = sub.add_parser("query", help="run a jx query (the reference's "
                                     "query-service surface)")
    q.add_argument("--jx", default=None,
                   help="inline jx query JSON; 'from' may be a registered "
                        "frame name or lake:<path>[@version]")
    q.add_argument("--file", default=None, help="path to a jx query JSON file")
    q.add_argument("--frame", action="append", default=[],
                   help="name=parquet_path, registers a named frame "
                        "(repeatable)")
    q.add_argument("--format", default=None,
                   choices=["list", "table", "cube"],
                   help="overrides the query's own format (run_formatted)")

    g = sub.add_parser("get", help="bucket-pruned point lookup by key")
    g.add_argument("--table", required=True)
    g.add_argument("--key", action="append", required=True,
                   help="col=value, once per key column")

    ch = sub.add_parser("changes", help="change data feed: row-level diff "
                                        "between two retained snapshots "
                                        "(insert/update/delete + image)")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from", dest="from_version", type=int, required=True)
    ch.add_argument("--to", dest="to_version", type=int, default=None,
                    help="default: current version")
    ch.add_argument("--limit", type=int, default=10_000,
                    help="max rows printed (the feed itself is unbounded; "
                         "pipe to a parquet write for full exports)")
    ch.add_argument("--out", default=None,
                    help="write the FULL feed to this parquet path instead "
                         "of printing (distributed write, no driver "
                         "collect; --limit ignored)")

    ex = sub.add_parser("export-es", help="incremental ES export: render "
                                          "the change feed since the last "
                                          "export as POST-able _bulk files "
                                          "(index + versioned delete "
                                          "actions); cursor in snapshot "
                                          "properties")
    ex.add_argument("--table", required=True)
    ex.add_argument("--out", required=True)
    ex.add_argument("--cursor", default="es",
                    help="cursor name — one per destination index")
    ex.add_argument("--from", dest="from_version", type=int, default=None,
                    help="override the cursor (explicit range re-export)")
    ex.add_argument("--to", dest="to_version", type=int, default=None)
    ex.add_argument("--batch-size", type=int, default=5000)

    ej = sub.add_parser("export-jsonl", help="deterministic sharded "
                                             "JSON-lines export of a lake "
                                             "table or parquet path — the "
                                             "training-data handoff (manifest "
                                             "with per-shard rows/bytes)")
    ej.add_argument("--table", required=True,
                    help="lake table location or plain parquet dir")
    ej.add_argument("--out", required=True)
    ej.add_argument("--id-col", required=True)
    ej.add_argument("--shards", type=int, required=True)
    ej.add_argument("--no-compress", action="store_true")
    ej.add_argument("--id-hash", default="auto",
                    choices=["auto", "numeric", "xxhash64", "sha"])
    ej.add_argument("--incremental", action="store_true",
                    help="publish over the change feed: rewrite only the "
                         "shards holding changed keys (lake tables only; "
                         "cursor in snapshot properties)")
    ej.add_argument("--cursor", default="jsonl",
                    help="incremental cursor name — one per destination")

    rq = sub.add_parser("reingest-quarantine",
                        help="second-look ingestion of quarantined events: "
                             "late rows re-apply (fence/watermarks "
                             "unchanged), null-key rows stay quarantined, "
                             "consumed dirs are archived")
    rq.add_argument("--table", required=True)
    rq.add_argument("--batch-ids", default=None,
                    help="comma-separated quarantine batch ids (default all)")
    return p


def main(argv: list[str] | None = None) -> None:
    args = _parser().parse_args(argv)
    from activedata_etl_spark.session import get_spark_submit

    spark = get_spark_submit(f"adetl_{args.cmd}", args.shuffle_partitions)

    if args.cmd == "replay":
        from activedata_etl_spark.streaming.replay import replay_journal

        r = replay_journal(
            spark, args.journal, args.table, chunk_events=args.chunk_events,
            salted=args.salted, n_buckets=args.n_buckets, verbose=True,
            merge_mode=args.merge_mode,
            expected_rows=args.expected_rows,
            max_deltas_per_bucket=args.max_deltas_per_bucket,
        )
        r.pop("summaries", None)
        print(json.dumps(r))
    elif args.cmd == "stream":
        from activedata_etl_spark.streaming.replay import stream_journal

        q = stream_journal(
            spark, args.journal, args.table, args.checkpoint,
            available_now=args.available_now, n_buckets=args.n_buckets,
            export_es_dir=args.export_es,
        )
        if not args.available_now:
            q.awaitTermination()
    elif args.cmd == "backfill":
        from activedata_etl_spark.streaming.replay import replay_journal

        lo, hi = (int(x) for x in args.offsets.split(".."))
        r = replay_journal(
            spark, args.journal, args.table, chunk_events=args.chunk_events,
            offset_range=(lo, hi), verbose=True,
        )
        r.pop("summaries", None)
        print(json.dumps(r))
    elif args.cmd == "repair":
        from activedata_etl_spark.streaming.replay import repair_range

        lo, hi = (int(x) for x in args.offsets.split(".."))
        print(json.dumps(repair_range(
            spark, args.journal, args.table, (lo, hi),
            chunk_events=args.chunk_events, verbose=True,
        )))
    elif args.cmd == "compact":
        from activedata_etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        if args.if_deltas_over is not None:
            v = t.maybe_compact(max_deltas_per_bucket=args.if_deltas_over,
                                drop_tombstones=args.drop_tombstones)
        else:
            buckets = ([int(b) for b in args.buckets.split(",")]
                       if args.buckets else None)
            sort_by = args.sort_by.split(",") if args.sort_by else None
            v = t.compact(drop_tombstones=args.drop_tombstones,
                          buckets=buckets, sort_by=sort_by)
        print(json.dumps({"compacted_to_version": v}))
    elif args.cmd == "query":
        from activedata_etl_spark.plans.jx import run_formatted

        if (args.jx is None) == (args.file is None):
            raise SystemExit("query needs exactly one of --jx / --file")
        qdoc = json.loads(
            args.jx if args.jx is not None else open(args.file).read()
        )
        if args.format:
            qdoc["format"] = args.format
        frames = {}
        for spec in args.frame:
            name, _, path = spec.partition("=")
            if not path:
                raise SystemExit(f"--frame wants name=path, got {spec!r}")
            frames[name] = spark.read.parquet(path)
        print(json.dumps(run_formatted(qdoc, frames), default=str))
    elif args.cmd == "get":
        from activedata_etl_spark.lake.table import SnapshotTable

        keys = dict(kv.split("=", 1) for kv in args.key)
        rows = [r.asDict() for r in
                SnapshotTable(spark, args.table).lookup(keys).collect()]
        print(json.dumps(rows, default=str))
    elif args.cmd == "history":
        from activedata_etl_spark.lake.table import SnapshotTable

        print(json.dumps(SnapshotTable(spark, args.table).history()))
    elif args.cmd == "changes":
        from activedata_etl_spark.lake.table import SnapshotTable

        feed = SnapshotTable(spark, args.table).changes(
            args.from_version, args.to_version)
        if args.out:
            feed.write.mode("error").parquet(args.out)
            print(json.dumps({"written": args.out}))
        else:
            rows = [r.asDict() for r in feed.limit(args.limit).collect()]
            print(json.dumps(rows, default=str))
    elif args.cmd == "export-es":
        from activedata_etl_spark.lake.table import SnapshotTable
        from activedata_etl_spark.sinks.es_bulk import export_changes

        print(json.dumps(export_changes(
            SnapshotTable(spark, args.table), args.out,
            cursor_name=args.cursor, from_version=args.from_version,
            to_version=args.to_version, batch_size=args.batch_size)))
    elif args.cmd == "export-jsonl":
        import os as _os

        from activedata_etl_spark.sinks.jsonl_export import (
            export_jsonl_changes,
            export_jsonl_shards,
        )

        is_lake = _os.path.isdir(_os.path.join(args.table, "metadata"))
        if args.incremental:
            if not is_lake:
                raise SystemExit("--incremental needs a lake table "
                                 "(change feed + cursor properties)")
            from activedata_etl_spark.lake.table import SnapshotTable

            print(json.dumps(export_jsonl_changes(
                SnapshotTable(spark, args.table), args.out,
                id_col=args.id_col, n_shards=args.shards,
                cursor_name=args.cursor, compress=not args.no_compress,
                id_hash=args.id_hash)))
        else:
            if is_lake:
                from activedata_etl_spark.lake.table import SnapshotTable

                df = SnapshotTable(spark, args.table).read()
            else:
                df = spark.read.parquet(args.table)
            man = export_jsonl_shards(
                df, args.out, id_col=args.id_col, n_shards=args.shards,
                compress=not args.no_compress, id_hash=args.id_hash)
            print(json.dumps({"out": args.out, "shards": len(man),
                              "total_rows": sum(m["n_rows"] for m in man)}))
    elif args.cmd == "reingest-quarantine":
        from activedata_etl_spark.streaming.replay import reingest_quarantine

        ids = ([int(x) for x in args.batch_ids.split(",")]
               if args.batch_ids else None)
        print(json.dumps(reingest_quarantine(
            spark, args.table, batch_ids=ids, verbose=True)))
    elif args.cmd == "analyze":
        from activedata_etl_spark.lake.table import SnapshotTable

        print(json.dumps(SnapshotTable(spark, args.table).analyze()))
    elif args.cmd == "rebucket":
        from activedata_etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        if args.if_grown:
            v = t.maybe_rebucket(
                target_bucket_bytes=args.target_bucket_mb << 20)
        else:
            v = t.rebucket(args.n_buckets,
                           target_bucket_bytes=args.target_bucket_mb << 20)
        print(json.dumps({"version": v,
                          "rebucketed": v is not None,
                          "n_buckets": t.snapshot()["n_buckets"]}))
    elif args.cmd == "verify":
        from activedata_etl_spark.journal import expected_state_df, read_journal
        from activedata_etl_spark.lake.table import SnapshotTable

        # distributed audit, no driver-side materialization: anti-joins on
        # the invariant columns (per-row content equality, the north-rule
        # check) — non-empty diffs mean divergence
        journal = read_journal(spark, args.journal)
        cols = ["repo", "path", "commit", "content"]
        exp = expected_state_df(journal).select(*cols)
        got = SnapshotTable(spark, args.table).read().select(*cols)
        missing = exp.exceptAll(got).count()
        extra = got.exceptAll(exp).count()
        out = {"table_rows": got.count(), "expected_rows": exp.count(),
               "missing": missing, "extra": extra,
               "converged": missing == 0 and extra == 0}
        print(json.dumps(out))
        if not out["converged"]:
            sys.exit(1)
    elif args.cmd == "expire":
        from activedata_etl_spark.lake.table import SnapshotTable

        removed = SnapshotTable(spark, args.table).expire_snapshots(
            args.keep_last, orphan_grace_s=args.orphan_grace_s)
        print(json.dumps({"removed": removed}))
    elif args.cmd == "lineage":
        from activedata_etl_spark.lake.table import SnapshotTable

        SnapshotTable(spark, args.table).read_lineage().orderBy(
            "batch_id", "partition"
        ).show(200, truncate=False)


if __name__ == "__main__":
    main(sys.argv[1:])
