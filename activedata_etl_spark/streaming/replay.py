"""Replay drivers: chunked batch replay and Structured Streaming tail.

Both feed the same exactly-once sink (``lake.merge.apply_batch``) — the
replayed analog of the reference's ETL tick
(`activedata_etl/etl.py:269-350`: dequeue -> transform -> sink -> ack), with
the SQS commit/rollback boundary replaced by the epoch-fenced snapshot
commit.

- ``replay_journal``: deterministic offset-range chunks; batch_id = chunk
  index, so a killed-and-restarted replay (or a redelivered chunk) is fenced
  to a no-op — the backfill-by-key-range path of the reference
  (`activedata_etl/etl.py:457-512` ``etl_one``/``parse_id_argument``).
- ``stream_journal``: ``readStream`` file source + ``foreachBatch`` with a
  checkpoint; Spark's epochId is the fence token.  ``availableNow`` replays
  to the end of the journal; kill + resume from checkpoint converges because
  the sink is idempotent.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from activedata_etl_spark.functions.normalize import (
    finalize_records,
    normalize_keys,
)
from activedata_etl_spark.lake.merge import ENVELOPE_DROP, apply_batch
from activedata_etl_spark.lake.table import CommitConflictError, SnapshotTable


def _stored_schema(journal_schema: T.StructType) -> T.StructType:
    """Table schema for a journal: payload + version cols + content hash +
    tombstone marker."""
    from activedata_etl_spark.lake.table import DELETED_COL

    fields = [f for f in journal_schema.fields if f.name not in ENVELOPE_DROP]
    # offset participates in the LWW version guard, so it IS stored
    names = {f.name for f in fields}
    out = list(fields)
    if "offset" not in names:
        out.append(T.StructField("offset", T.LongType(), True))
    out.append(T.StructField("content_sha256", T.StringType(), True))
    out.append(T.StructField(DELETED_COL, T.BooleanType(), True))
    return T.StructType(out)


def ensure_table(
    spark: SparkSession,
    table_location: str,
    journal_schema: T.StructType,
    *,
    n_buckets: int | None = 64,
    expected_rows: int | None = None,
) -> SnapshotTable:
    """Open or create the converged table.  ``n_buckets=None`` auto-sizes
    the bucket count from ``expected_rows`` (~250MB of parquet per bucket,
    `lake.table.suggest_n_buckets`) so the layout survives a 100x scale-up
    without giant-bucket rewrites or small-file sprawl."""
    if SnapshotTable.exists(spark, table_location):
        return SnapshotTable(spark, table_location)
    if n_buckets is None:
        from activedata_etl_spark.lake.table import suggest_n_buckets

        n_buckets = suggest_n_buckets(expected_rows or 0)
    return SnapshotTable.create(
        spark,
        table_location,
        _stored_schema(journal_schema),
        key_cols=["repo", "path"],
        n_buckets=n_buckets,
        version_cols=["commit_seq", "offset"],
    )


def replay_journal(
    spark: SparkSession,
    journal_dir: str,
    table_location: str,
    *,
    chunk_events: int = 250_000,
    max_batches: int | None = None,
    salted: bool = False,
    n_buckets: int = 64,
    late_threshold_sec: int | None = None,
    offset_range: tuple[int, int] | None = None,
    verbose: bool = False,
    merge_mode: str = "auto",
    expected_rows: int | None = None,
    max_deltas_per_bucket: int | None = 16,
    analyze_stale_commits: int | None = 16,
    expire_max_snapshots: int | None = None,
) -> dict:
    """Chunked batch replay of the whole journal (availableNow analog).

    Chunks are global offset ranges — offsets are monotone within each
    journal partition, so per-partition delivery order is preserved while
    commit_seq stays out-of-order (bounded-delay permutation), exercising the
    external_gte guard.

    Each chunk is one ``apply_batch`` call (batch_id = chunk index): one
    pre-pass job records per-partition lineage and the offset watermarks of
    the events actually read, then the LWW winners are written as an
    upsert, a MOR delta or a CoW rewrite (``merge_mode``, default auto) in
    the same snapshot commit.  ``salted`` switches the reduce to the
    two-phase skew path; ``late_threshold_sec`` quarantines events that far
    behind the table's event-time watermark.  Returns ``batches``,
    ``events`` (rows read), ``rows_applied`` and the per-batch
    ``summaries``.

    ``max_deltas_per_bucket`` is the steady-state maintenance knob: after a
    batch lands as a MOR-lite delta, buckets whose delta chain exceeds the
    threshold are subset-compacted (``SnapshotTable.maybe_compact``), so
    read-time merge work per bucket stays bounded without any external
    scheduler.  ``None`` disables in-loop compaction.

    ``analyze_stale_commits`` schedules column-stats/zone-map refresh the
    same way (``SnapshotTable.maybe_analyze``): after each batch, if that
    many commits landed since the last ANALYZE, stats are re-measured —
    the reference's background column-metadata daemon
    (`vendor/jx_elasticsearch/meta.py:546`) folded into the ingest loop.
    The per-batch check is O(1) driver-side; ``None`` disables it.

    ``expire_max_snapshots`` (OPT-IN, default None) bounds metadata growth
    on long replays: once the metadata dir exceeds that many snapshot
    files, ``SnapshotTable.maybe_expire`` drops history beyond its
    ``keep_last``.  Off by default because expiry deletes time-travel
    state a concurrent pinned reader could still want.

    ``offset_range=(lo, hi)`` replays a bounded slice — the reference's
    backfill-by-key-range (`etl_one`/`parse_id_argument`,
    `activedata_etl/etl.py:457-512`).  Note this is bounded CATCH-UP, not
    repair: chunks at or below the committed frontier are skipped by the
    resume fence (and apply_batch's epoch fence), so only the uncommitted
    tail inside the range is ever applied — a range over already-applied
    offsets is a deliberate no-op.  To re-apply committed data use
    ``repair_range`` (same merge path, fence and watermarks unchanged).
    """
    from activedata_etl_spark.journal import journal_metadata, read_journal

    journal = read_journal(spark, journal_dir)
    if offset_range is not None:
        journal = journal.where(
            F.col("offset").between(offset_range[0], offset_range[1])
        )
    table = ensure_table(
        spark, table_location, journal.schema,
        n_buckets=n_buckets, expected_rows=expected_rows,
    )

    # max offset: footer stats driver-side for small journals, one
    # distributed column-pruned agg past ~2k files
    meta = journal_metadata(journal_dir, spark)
    max_offset = journal_max = meta["max_offset"]
    if offset_range is not None and max_offset is not None:
        max_offset = min(max_offset, offset_range[1])
    if max_offset is None:
        return {"batches": 0, "events": 0, "elapsed_sec": 0.0, "events_per_sec": 0.0}

    n_chunks = int(max_offset // chunk_events) + 1
    # chunks entirely below the backfill range are NOT iterated: committing
    # them (even metadata-only) would advance the batch fence / watermarks
    # past events that were never applied, fencing them out of later replays
    first_chunk = 0 if offset_range is None else offset_range[0] // chunk_events
    frontier = (
        max(table.watermarks().values(), default=-1)
        if offset_range is not None else -1
    )
    if offset_range is not None and offset_range[0] > frontier + 1:
        # the batch fence and per-partition watermarks are CONTIGUOUS
        # frontiers: applying a range that leaves a gap below it would mark
        # the skipped offsets as done and silently drop them from every
        # later replay.  A bounded catch-up must start at or below the
        # frontier; reject forward gaps loudly.
        raise ValueError(
            f"offset_range starts at {offset_range[0]} but the table's "
            f"applied frontier is {frontier}: a forward gap would fence "
            "out the skipped events; start the backfill at or below "
            f"{frontier + 1}"
        )
    if offset_range is not None and frontier < offset_range[1] < journal_max \
            and (offset_range[1] + 1) % chunk_events != 0:
        # a mid-chunk UPPER bound would commit the boundary chunk's batch_id
        # with only its head applied — the fence then skips that chunk in
        # every later replay and its tail is silently lost forever
        lo_ok = (offset_range[1] + 1) // chunk_events * chunk_events - 1
        raise ValueError(
            f"offset_range ends at {offset_range[1]}, inside chunk "
            f"{offset_range[1] // chunk_events} (chunk_events="
            f"{chunk_events}): committing a partially-applied chunk would "
            f"fence out its tail; end the range at {lo_ok} or at the "
            "journal end"
        )
    done_through = table.last_batch_id()
    t0 = time.time()
    total_read = total_applied = ran = 0
    summaries = []
    for i in range(first_chunk, n_chunks):
        if i <= done_through:
            continue  # resume: already committed
        if max_batches is not None and ran >= max_batches:
            break
        lo, hi = i * chunk_events, (i + 1) * chunk_events - 1
        chunk = journal.where(F.col("offset").between(lo, hi))
        # key normalization pre-reduce; lang/sha256 only on LWW winners.
        # A CommitConflictError means a concurrent MAINTENANCE commit
        # (compactor/analyze) won the version CAS: nothing was applied, so
        # re-running the batch rebases it onto the winner's snapshot
        # (apply_batch re-reads the snapshot; its batch fence also makes a
        # race against a SECOND ingest writer of the same journal a clean
        # skip).  Data/lineage dirs from lost attempts are orphans swept by
        # expire_snapshots after the grace period.
        for attempt in range(8):
            try:
                s = apply_batch(
                    table, normalize_keys(chunk), i, salted=salted,
                    late_threshold_sec=late_threshold_sec,
                    finalize_fn=finalize_records, merge_mode=merge_mode,
                )
                break
            except CommitConflictError:
                if attempt == 7:
                    raise
                # jittered backoff so a periodic maintenance committer and
                # the batch recompute don't phase-lock
                time.sleep(0.05 + 0.1 * attempt)
        summaries.append(s)
        if s.get("merge_mode") == "delta" and max_deltas_per_bucket is not None:
            table.maybe_compact(max_deltas_per_bucket=max_deltas_per_bucket)
        if analyze_stale_commits is not None and not s.get("skipped"):
            # background-stats analog: O(1) staleness check per batch, a
            # real ANALYZE only every analyze_stale_commits commits
            table.maybe_analyze(max_commits_stale=analyze_stale_commits)
        if expire_max_snapshots is not None:
            # OPT-IN (deletes time-travel history): bound metadata growth
            # on long replays without an external scheduler
            table.maybe_expire(max_snapshots=expire_max_snapshots)
        if not s.get("skipped"):
            total_read += s["rows_read"]
            total_applied += s["rows_applied"]
            if verbose:
                # progress metric: events/sec per batch (push_to_es.py:88-97)
                dur = max(s.get("duration_ms", 0), 1) / 1000
                print(
                    f"[replay] batch {i}: {s['rows_read']} events in {dur:.1f}s "
                    f"({s['rows_read'] / dur:,.0f} events/sec), "
                    f"applied={s['rows_applied']} deletes={s['deletes_applied']} "
                    f"conflicts={s['merge_conflicts_resolved']}"
                )
        ran += 1
    elapsed = time.time() - t0
    return {
        "batches": ran,
        "events": total_read,
        "rows_applied": total_applied,
        "elapsed_sec": round(elapsed, 3),
        "events_per_sec": round(total_read / elapsed, 1) if elapsed > 0 else 0.0,
        "summaries": summaries,
    }


def repair_range(
    spark: SparkSession,
    journal_dir: str,
    table_location: str,
    offset_range: tuple[int, int],
    *,
    chunk_events: int = 50_000_000,
    salted: bool = False,
    verbose: bool = False,
) -> dict:
    """REPAIR: re-apply committed journal chunks without moving the fence.

    ``replay_journal(offset_range=...)`` is bounded CATCH-UP — chunks at or
    below the committed frontier are skipped by design.  This is the other
    half: re-merge an offset range through the same versioned LWW path while
    the commit keeps ``batch_id`` and the per-partition watermarks EXACTLY
    as they were.  The external_gte version guard makes it idempotent and
    safe at any point: stale events lose to newer table rows, missing rows
    (lost files, partial restores) are reinserted, and later replays see an
    unchanged frontier — nothing is fenced in or out.  The re-ETL analog of
    the reference's idempotent block re-processing
    (`activedata_etl/sinks/s3_bucket.py:92-118` UniqueIndex merge).
    """
    from activedata_etl_spark.journal import read_journal

    t0 = time.time()
    lo, hi = offset_range
    journal = read_journal(spark, journal_dir).where(
        F.col("offset").between(lo, hi)
    )
    table = SnapshotTable(spark, table_location)
    fence_before = table.last_batch_id()
    wm_before = table.watermarks()
    first, last = lo // chunk_events, hi // chunk_events
    total = 0
    for i in range(first, last + 1):
        clo, chi = i * chunk_events, (i + 1) * chunk_events - 1
        chunk = journal.where(F.col("offset").between(clo, chi))
        s = apply_batch(
            table, normalize_keys(chunk), i, salted=salted,
            finalize_fn=finalize_records, enforce_watermark=False,
            advance_fence=False,
        )
        if not s.get("skipped"):
            total += s["rows_read"]
            if verbose:
                print(f"[repair] chunk {i}: {s['rows_read']} events "
                      f"re-applied, conflicts={s['merge_conflicts_resolved']}")
    # repair itself never advances the fence; a CONCURRENT ingest writer
    # legally can (its commits carry advance_fence=True), so report rather
    # than assert — fence_moved=False is the single-writer invariant
    fence_after = table.last_batch_id()
    wm_after = table.watermarks()
    elapsed = time.time() - t0
    return {
        "chunks": last - first + 1,
        "events_reapplied": total,
        "elapsed_sec": round(elapsed, 3),
        "fence_batch_id": fence_after,
        "fence_moved": fence_after != fence_before or wm_after != wm_before,
    }


def reingest_quarantine(
    spark: SparkSession,
    table_location: str,
    *,
    batch_ids: list[int] | None = None,
    salted: bool = False,
    verbose: bool = False,
) -> dict:
    """Second-look ingestion of quarantined events — the operator's
    "admit the late data after review" lever (the reference's analog is
    re-pushing a fixed block through the same idempotent sink,
    `activedata_etl/sinks/s3_bucket.py:92-118`).

    Per quarantine batch dir (``quarantine/b<N>``):

    - LATE events re-apply with NO late threshold: calling this IS the
      decision to admit them; the external_gte version guard still makes
      genuinely stale updates lose to newer table rows.
    - INVALID events (null key after normalization) are unrecoverable by
      construction — they stay quarantined (the dir is rewritten to hold
      only them, preserving the audit trail).
    - The batch fence and per-partition watermarks NEVER move (repair
      semantics, ``advance_fence=False``): these offsets are already
      below the fence, so replay behavior is unchanged.
    - A fully-consumed dir is archived to ``.reingested_b<N>`` after the
      commit — reingest is idempotent; a second call is a no-op.
    """
    import os
    import re as _re

    table = SnapshotTable(spark, table_location)
    snap = table.snapshot()
    key_cols = list(snap["key_cols"])
    qroot = os.path.join(table_location, "quarantine")
    if not os.path.isdir(qroot):
        return {"dirs": 0, "events_reapplied": 0, "unrecoverable": 0,
                "archived": []}
    dirs = sorted(
        (d for d in os.listdir(qroot) if _re.fullmatch(r"b\d+", d)),
        key=lambda d: int(d[1:]),
    )
    if batch_ids is not None:
        want = {int(b) for b in batch_ids}
        dirs = [d for d in dirs if int(d[1:]) in want]
    fence_before = table.last_batch_id()
    wm_before = table.watermarks()
    reapplied = unrecoverable = 0
    archived: list[str] = []
    for d in dirs:
        bid = int(d[1:])
        src = os.path.join(qroot, d)
        raw = spark.read.parquet(src).drop("__invalid", "__late")
        # REVALIDATE after normalization ('' -> null can only widen the
        # invalid set): rows passing here can never be re-quarantined by
        # apply_batch, so the dir being read is never overwritten mid-job
        norm = normalize_keys(raw)
        ok_pred = F.lit(True)
        for c in key_cols:
            if c in norm.columns:
                ok_pred = ok_pred & F.col(c).isNotNull()
        ok, bad = norm.where(ok_pred), norm.where(~ok_pred)
        n_ok, n_bad = ok.count(), bad.count()
        unrecoverable += n_bad
        if n_ok == 0:
            if verbose:
                print(f"[reingest] {d}: 0 recoverable, {n_bad} stay")
            continue
        s = apply_batch(
            table, ok, bid, salted=salted, finalize_fn=finalize_records,
            enforce_watermark=False, advance_fence=False,
            late_threshold_sec=None,
        )
        reapplied += s["rows_read"]
        if verbose:
            print(f"[reingest] {d}: {s['rows_read']} re-applied, "
                  f"{n_bad} unrecoverable")
        if n_bad:
            # keep the unrecoverables visible under the ORIGINAL name:
            # stage the remainder, then swap (source stays intact until
            # the staged write is durable)
            tmp = os.path.join(qroot, f".tmp_{d}")
            bad.write.mode("overwrite").parquet(tmp)
            os.rename(src, os.path.join(qroot, f".reingested_{d}"))
            os.rename(tmp, src)
        else:
            os.rename(src, os.path.join(qroot, f".reingested_{d}"))
        archived.append(d)
    # repair invariant: single-writer reingest never moves the fence
    fence_moved = (table.last_batch_id() != fence_before
                   or table.watermarks() != wm_before)
    return {
        "dirs": len(dirs),
        "events_reapplied": reapplied,
        "unrecoverable": unrecoverable,
        "archived": archived,
        "fence_moved": fence_moved,
    }


def stream_journal(
    spark: SparkSession,
    journal_dir: str,
    table_location: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 2,
    available_now: bool = True,
    salted: bool = False,
    n_buckets: int = 64,
    timeout_sec: float | None = None,
    merge_mode: str = "auto",
    max_deltas_per_bucket: int | None = 16,
    analyze_stale_commits: int | None = 16,
    export_es_dir: str | None = None,
):
    """Structured Streaming tail over the journal directory.

    foreachBatch gives the transactional boundary; epochId is the fence.
    Returns the (terminated, when available_now) StreamingQuery.

    ``export_es_dir`` closes the CDC-out loop continuously: after each
    committed micro-batch, `sinks.es_bulk.export_changes` renders the
    just-committed range as `_bulk` files under the dir.  Export failures
    do not fail the batch (the data commit already landed; the
    snapshot-properties cursor means the next batch's export drains the
    missed range), so the stream degrades to at-least-once export while
    `external_gte` keeps the index idempotent.
    """
    from activedata_etl_spark.journal import read_journal as _rj

    static_schema = _rj(spark, journal_dir).schema
    table = ensure_table(spark, table_location, static_schema, n_buckets=n_buckets)

    stream = (
        spark.readStream.schema(static_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(journal_dir + "/*")
    )

    def sink(df: DataFrame, epoch_id: int) -> None:
        # file-stream epochs are mtime-ordered, NOT offset-ordered: the
        # offset watermark must not filter here (tombstones + version guard
        # keep replay order-independent; the epoch fence keeps it idempotent)
        s = apply_batch(
            table, normalize_keys(df), epoch_id, salted=salted,
            finalize_fn=finalize_records, enforce_watermark=False,
            merge_mode=merge_mode,
        )
        # same steady-state maintenance as chunked replay: bound each
        # bucket's delta chain + keep zone maps fresh, no external scheduler
        if s.get("merge_mode") == "delta" and max_deltas_per_bucket is not None:
            table.maybe_compact(max_deltas_per_bucket=max_deltas_per_bucket)
        if analyze_stale_commits is not None and not s.get("skipped"):
            table.maybe_analyze(max_commits_stale=analyze_stale_commits)
        if export_es_dir is not None:
            from activedata_etl_spark.sinks.es_bulk import export_changes

            try:
                export_changes(table, export_es_dir)
            except Exception as e:  # noqa: BLE001 - stream must outlive export
                import sys as _sys

                print(f"warn: es export failed for epoch {epoch_id}: "
                      f"{type(e).__name__}: {e}", file=_sys.stderr)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination(timeout=timeout_sec)
    return q


def split_sink(tables: list[SnapshotTable], **apply_kwargs):
    """Tee one micro-batch stream into several tables, each with its own
    epoch fence (`activedata_etl/sinks/split.py:12-31` analog).

    Use as ``stream.writeStream.foreachBatch(split_sink([t1, t2]))``.
    """
    def sink(df: DataFrame, epoch_id: int) -> None:
        prepared = normalize_keys(df)
        for t in tables:
            apply_batch(
                t, prepared, epoch_id,
                finalize_fn=finalize_records, enforce_watermark=False,
                **apply_kwargs,
            )

    return sink
