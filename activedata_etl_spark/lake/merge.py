"""Versioned MERGE INTO with exactly-once fencing — the CDC sink.

Semantics (reference parity):
- LWW upsert with version guard: ``WHEN MATCHED AND s.version >= t.version
  THEN UPDATE/DELETE`` — the ES ``version_type=external_gte`` policy where
  stale writes 409 and are swallowed
  (`vendor/pyLibrary/env/elasticsearch.py:328-331,374-380`);
- idempotent re-apply: replaying a whole batch is a no-op, both via the
  ``batch_id`` epoch fence and via the >= guard
  (`activedata_etl/sinks/s3_bucket.py:92-118` re-extend merge);
- delete events remove the key (`vendor/mo_hg/apply.py:101-114` dev/null);
- watermark-in-commit: per-partition high-watermark offsets are committed in
  the SAME snapshot as the data (`activedata_etl/pulse_logger.py:126-138`
  SYNCHRONIZATION_KEY; ack-after-write at `activedata_etl/push_to_es.py:86`);
- lineage per batch/partition (`EtlHeadGenerator`,
  `activedata_etl/transforms/__init__.py:210-239`).

Physical plan: one per-partition pre-pass (lineage counters, watermarks,
touched buckets) over the cached batch -> within-batch LWW reduce
(map-side combining hash agg) -> bucket id on the winners (Iceberg-style
hash bucket transform) -> upsert, MOR delta append, or FULL OUTER join
against ONLY the touched buckets with a copy-on-write rewrite -> atomic
snapshot swap.  Merge metrics ride the write job via ``DataFrame.observe``
(zero extra passes).
"""

from __future__ import annotations

import os
import time
import uuid as _uuid
from itertools import chain

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from activedata_etl_spark import ENGINE_REVISION
from activedata_etl_spark.lake.schema_evolution import align_to_schema, merge_schemas
from activedata_etl_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    CommitConflictError,
    SnapshotTable,
    _bucket_expr,
)
from activedata_etl_spark.operators.lww import (
    lww_reduce_salted,
    lww_reduce_structmax,
)

# journal envelope columns a batch carries
OP_COL, PARTITION_COL, OFFSET_COL, TS_COL = "op", "partition", "offset", "ts"
ENVELOPE_DROP = [OP_COL, PARTITION_COL]  # journal envelope not stored in the table

# merge_mode="auto" writes a MOR delta when the batch's live rows are under
# this fraction of the table's base rows, else a CoW rewrite
DELTA_FRACTION = 0.05

# consolidate per-commit lineage dirs into one file past this many entries
# (keeps snapshot JSON + read_lineage O(1) instead of O(batches ever applied))
LINEAGE_CONSOLIDATE_AT = 256

LINEAGE_SCHEMA = (
    "batch_id long, partition int, min_offset long, max_offset long, "
    "rows_read long, below_watermark long, invalid_events long, "
    "late_events long, rows_applied long, "
    "deletes_applied long, merge_conflicts_resolved long, "
    "duration_ms long, engine_revision string"
)


def apply_batch(
    table: SnapshotTable,
    batch: DataFrame,
    batch_id: int,
    *,
    version_cols: tuple[str, ...] = ("commit_seq", "offset"),
    salted: bool = False,
    late_threshold_sec: int | None = None,
    finalize_fn=None,
    enforce_watermark: bool = True,
    merge_mode: str = "auto",
    advance_fence: bool = True,
) -> dict:
    """Apply one micro-batch of change events; returns a lineage summary.

    ``batch`` carries the journal envelope (``partition``, ``offset``,
    ``op``) plus the record payload; everything except ``ENVELOPE_DROP`` is
    stored (version columns stay in the table for the cross-batch >= guard).
    An event with a null key column is quarantined, as is (with
    ``late_threshold_sec``) one whose ``ts`` is that far behind the table's
    event-time watermark; quarantined events land under
    ``quarantine/b<batch_id>``.

    Phases, each with a fixed Spark job count:

    1. flag + pre-pass: ONE job over the cached batch yields, per journal
       partition, the lineage counters, the offset high-watermark, the
       event-time watermark and the set of touched buckets.  The commit
       records one lineage row per journal partition plus a
       ``partition = -1`` batch total.  A batch without a ``partition``
       column (``sync_changes``' change feed) carries no journal position:
       it moves no watermark and its lineage is the batch total only.
    2. within-batch LWW reduce on the live events (``salted`` picks the
       two-phase skew path); the bucket id is computed on the winners only,
       then ``finalize_fn`` runs on the winners.
    3. schema evolution, then the write, with the applied/delete/conflict
       counters observed on the write job, then the snapshot commit.

    ``merge_mode`` picks the physical write strategy:

    - ``"cow"``: copy-on-write — full-outer merge + rewrite of every touched
      bucket.  O(touched buckets) per batch: right for large batches, wrong
      for steady-state small ones (a 1%-of-keys batch touches nearly every
      bucket, so CoW rewrites the whole table — write amplification ≈
      table/batch).
    - ``"delta"``: MOR-lite — write ONLY the batch's LWW winners as delta
      files per bucket; ``SnapshotTable.read`` LWW-merges base ∪ deltas on
      the version columns, and ``compact()`` folds them back.  Write cost is
      O(batch); read pays one extra hash-agg on delta-carrying buckets until
      compaction.  Reference analog: incremental block re-extend that appends
      and merges-on-read (`activedata_etl/sinks/s3_bucket.py:92-118`).
      ``merge_conflicts_resolved`` is 0 here — conflicts resolve lazily at
      read/compaction time.
    - ``"auto"`` (default): delta when the batch's live rows are under
      ``DELTA_FRACTION`` of the table's base rows (from snapshot metadata,
      no scan), else CoW.  Falls back to CoW when the table is empty, row
      accounting is unavailable, or ``version_cols`` mismatch the table's.

    Whatever the mode, a batch whose touched buckets hold no data yet is a
    pure upsert: the winners are written with no join.

    ``advance_fence=False`` is REPAIR mode: the batch is merged through the
    same versioned LWW path, but the commit keeps the table's batch fence
    and per-partition watermarks unchanged — committed chunks can be
    re-applied idempotently (the external_gte version guard makes stale
    rows lose, lost rows reinsert) without fencing anything in or out of
    later replays.  Callers must also disable ``enforce_watermark`` or the
    re-applied events are dropped at the watermark filter.

    Deletes become TOMBSTONES (rows with ``__deleted = true``): a stale
    update arriving after the delete — in the same batch or a later one —
    loses to the tombstone's version instead of resurrecting the key.
    ``read()`` hides tombstones; compaction can drop those older than the
    out-of-order horizon.

    ``enforce_watermark`` drops events at-or-below the per-partition offset
    high-watermark — correct when delivery is offset-ordered per partition
    (chunked replay).  File-stream delivery is mtime-ordered, not
    offset-ordered, so the streaming driver disables it and relies on the
    epoch fence + version guard + tombstones, which are order-independent.
    """
    t0 = time.time()
    snap = table.snapshot()
    key_cols = snap["key_cols"]
    if merge_mode not in ("auto", "cow", "delta"):
        raise ValueError(f"merge_mode must be auto|cow|delta, got {merge_mode!r}")

    # ---- pin key dtypes to the table's stored types --------------------
    # bucket = pmod(hash(keys), N) and F.hash(int) != F.hash(long) for equal
    # values, so a batch whose key column arrives wider (or narrower) than
    # the table's would file the same key under a DIFFERENT bucket than its
    # existing row — two live rows per key that no merge ever reconciles.
    # try_cast: an unrepresentable key becomes null and is quarantined below
    # (ANSI cast would abort the whole batch instead).
    tbl_types = {f.name: f.dataType
                 for f in T.StructType.fromJson(snap["schema"]).fields}
    for k in key_cols:
        if k in batch.columns and k in tbl_types \
                and batch.schema[k].dataType != tbl_types[k]:
            batch = batch.withColumn(k, F.col(k).try_cast(tbl_types[k]))

    # ---- epoch fence: a replayed batch is a no-op ----------------------
    # (repair mode bypasses it — re-applying committed chunks is the point)
    if advance_fence and batch_id <= int(snap["batch_id"]):
        return {"batch_id": batch_id, "skipped": True, "reason": "epoch_fenced"}

    # ---- watermark filter: already-applied offsets drop ----------------
    wm = table.watermarks()
    if wm and enforce_watermark:
        wm_map = F.create_map(
            *chain.from_iterable((F.lit(p), F.lit(o)) for p, o in wm.items())
        )
        below = F.col(OFFSET_COL) <= F.coalesce(
            wm_map[F.col(PARTITION_COL)], F.lit(-1)
        )
    else:
        below = F.lit(False)

    # ---- dead-letter + late-data flags (DATA_TOO_OLD analog,
    #      rollover_index.py:74-77; poison-pill rejection, etl.py:309-350) --
    # a CDC event without a full key is malformed: it cannot be bucketed or
    # merged (and would otherwise emit a ghost all-null row through the
    # full-outer join's key_cols[0].isNotNull() presence test)
    invalid = F.lit(False)
    for c in key_cols:
        if c in batch.columns:
            invalid = invalid | F.col(c).isNull()
    max_event_ts = snap.get("max_event_ts")  # epoch seconds, event-time WM
    has_ts = TS_COL in batch.columns
    if late_threshold_sec is not None and max_event_ts is not None and has_ts:
        late = F.unix_timestamp(F.col(TS_COL)) < F.lit(
            int(max_event_ts) - late_threshold_sec
        )
        late = F.coalesce(late, F.lit(False))
    else:
        late = F.lit(False)

    key_bucket = _bucket_expr(key_cols, snap["n_buckets"])
    # the pre-pass fills this cache; the reduce and quarantine read it
    flagged = (
        batch.withColumn("__below", below)
        .withColumn("__invalid", invalid)
        .withColumn("__late", late & ~invalid)
        .persist()
    )
    drop_row = F.col("__below") | F.col("__invalid") | F.col("__late")
    try:
        # ---- ONE pre-pass job: per-partition lineage + touched buckets ---
        # counters are counts, never sums: without a partition column this
        # is a global aggregate, which yields one row (all counts 0) even
        # for an empty batch
        by_partition = [PARTITION_COL] if PARTITION_COL in batch.columns else []
        part_rows = [
            r.asDict() for r in flagged.groupBy(*by_partition).agg(
                F.min(OFFSET_COL).alias("min_offset"),
                F.max(OFFSET_COL).alias("max_offset"),
                F.count(F.lit(1)).alias("rows_read"),
                F.count(F.when(F.col("__below"), 1)).alias("below_watermark"),
                F.count(F.when(F.col("__invalid"), 1)).alias("invalid_events"),
                F.count(F.when(F.col("__late"), 1)).alias("late_events"),
                # the flags overlap (a null-key event can also sit below
                # the watermark), so live rows are counted, not derived
                F.count(F.when(~drop_row, 1)).alias("live_rows"),
                # valid rows only: one corrupt future-dated event must
                # NOT advance the event-time watermark (it would make
                # every later real event "late" forever)
                (F.max(F.when(~drop_row, F.unix_timestamp(TS_COL)))
                 if has_ts else F.lit(None).cast("long")).alias("max_ts"),
                # the bucket id lives only inside this set: the reduce
                # computes it on the winners, since it is constant within a
                # key group (carried per event it widens the reduce shuffle,
                # measured ~6% of the reduce stage)
                F.collect_set(F.when(~drop_row, key_bucket)).alias("buckets"),
            ).collect()
        ]
        t_pre = time.time()
        touched = sorted({b for r in part_rows for b in r["buckets"]})
        new_wm = dict(wm)
        for r in part_rows:
            if PARTITION_COL in r:
                p = int(r[PARTITION_COL])
                new_wm[p] = max(new_wm.get(p, -1), int(r["max_offset"]))
        new_max_event_ts = max(
            (int(x) for x in [max_event_ts] + [r["max_ts"] for r in part_rows]
             if x is not None),
            default=None,
        )
        n_quarantined = sum(
            r["invalid_events"] + r["late_events"] for r in part_rows
        )
        n_live = sum(r["live_rows"] for r in part_rows)

        if n_quarantined:
            # quarantine table: malformed + too-late events, kept for audit
            (
                flagged.where(F.col("__invalid") | F.col("__late"))
                .drop("__below")
                .write.mode("overwrite")
                .parquet(os.path.join(table.location, f"quarantine/b{batch_id}"))
            )

        if not n_live:
            # nothing live: metadata-only commit (fence + watermark advance)
            s = _commit(
                table, snap, batch_id, new_wm, part_rows, None, None,
                schema_json=snap["schema"], changes=[],
                applied=0, deletes=0, conflicts=0, t0=t0,
                max_event_ts=new_max_event_ts, advance_fence=advance_fence,
            )
            s["pre_pass_ms"] = int((t_pre - t0) * 1000)
            return s

        # ---- within-batch LWW reduce (map-side combine handles skew) -----
        # partition id is lineage-only (consumed by the pre-pass); dropping
        # it keeps the envelope column out of the reduce shuffle
        live = flagged.where(~drop_row).drop(
            "__below", "__invalid", "__late", PARTITION_COL
        )
        reduce = lww_reduce_salted if salted else lww_reduce_structmax
        reduced = reduce(live, key_cols, list(version_cols)).withColumn(
            BUCKET_COL, key_bucket
        )
        stored_cols = [c for c in batch.columns if c not in ENVELOPE_DROP]

        # ---- finalize transforms on WINNERS only (not on every event) ----
        if finalize_fn is not None:
            reduced = finalize_fn(reduced)
            stored_cols = [c for c in reduced.columns if c not in ENVELOPE_DROP
                           and c != BUCKET_COL]

        # ---- schema evolution (transactional with this commit) ------------
        merged_schema, changes, src = _evolve(snap, reduced, stored_cols)

        # ---- pick the write strategy --------------------------------------
        mode = merge_mode
        stored_version_cols = snap.get("version_cols")
        if mode != "cow" and stored_version_cols \
                and list(version_cols) != list(stored_version_cols):
            # read-time LWW merges on the TABLE's version columns; a delta
            # written under different ones would merge wrong — CoW instead
            mode = "cow"
        if mode == "auto":
            base_rows = table.base_row_count()
            # live rows ≥ winners: an upper bound on what the batch writes
            mode = ("delta" if base_rows and n_live < DELTA_FRACTION * base_rows
                    else "cow")
        if not table.existing_bucket_paths(touched):
            # no target data in any touched bucket: pure upsert, no join.
            # Deletes still land as tombstones so later stale arrivals lose.
            mode = "upsert"

        # ---- observe -> write -> recount -> commit -------------------------
        if mode == "cow":
            frame, metrics, out_cols = _cow_merge(
                table, src, merged_schema, key_cols, version_cols, touched
            )
        else:
            # upsert / MOR delta: the winners are the rows written.  For a
            # delta, the >= version guard is deferred to the read-time LWW
            # reduce, which resolves base-vs-delta and delta-vs-delta exactly
            # like the CoW merge expressions.
            frame = src.select(*merged_schema.fieldNames(), BUCKET_COL)
            deleted = F.coalesce(F.col(DELETED_COL), F.lit(False))
            metrics = [
                F.sum((~deleted).cast("long")).alias("applied"),
                F.sum(deleted.cast("long")).alias("deletes"),
            ]
            out_cols = frame.columns
        obs = Observation(f"{mode}_b{batch_id}")
        rel = table.write_buckets(
            frame.observe(obs, *metrics).select(*out_cols), snap["version"] + 1
        )
        try:
            m = obs.get
        except Exception:
            # CollectMetrics can be optimized away (plan folded to a local
            # relation) — recount in one small pass over the same frame
            m = frame.agg(*metrics).first().asDict()
        s = _commit(
            table, snap, batch_id, new_wm, part_rows, touched, rel,
            schema_json=merged_schema.jsonValue(), changes=changes,
            applied=int(m["applied"] or 0), deletes=int(m["deletes"] or 0),
            conflicts=int(m.get("conflicts") or 0), t0=t0,
            max_event_ts=new_max_event_ts, version_cols=version_cols,
            mode=mode, advance_fence=advance_fence,
        )
        s["pre_pass_ms"] = int((t_pre - t0) * 1000)
        return s
    finally:
        flagged.unpersist()


def _evolve(snap, reduced, stored_cols):
    """Merge the winners' stored columns into the table schema: the merged
    schema, its change descriptions, and the winners aligned to it with
    the tombstone marker and bucket id."""
    table_schema = T.StructType.fromJson(snap["schema"])
    batch_stored_schema = T.StructType(
        [f for f in reduced.schema.fields if f.name in stored_cols]
    )
    merged_schema, changes = merge_schemas(table_schema, batch_stored_schema)

    have = {f.name: f for f in reduced.schema.fields}
    src_cols = []
    for f in merged_schema.fields:
        if f.name == DELETED_COL:
            # tombstone marker derives from the op, not from alignment
            src_cols.append((F.col(OP_COL) == "delete").alias(DELETED_COL))
        elif f.name in have:
            c = F.col(f.name)
            src_cols.append(
                c.cast(f.dataType).alias(f.name)
                if have[f.name].dataType != f.dataType else c
            )
        else:
            src_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    # bucket id rides along (constant per key)
    return merged_schema, changes, reduced.select(*src_cols, F.col(BUCKET_COL))


def _cow_merge(table, src, merged_schema, key_cols, version_cols, touched):
    """Copy-on-write merge of the winners ``src`` against the touched
    buckets: the full-outer joined frame, its counter expressions, and the
    output columns (the >= version guard picks each row's side)."""
    tgt = align_to_schema(table.read(buckets=touched, include_tombstones=True),
                          merged_schema)
    tgt = table.bucket_of(tgt).withColumn("__present", F.lit(True))

    s = src.select([F.col(c).alias(f"s_{c}") for c in src.columns])
    t = tgt.select([F.col(c).alias(f"t_{c}") for c in tgt.columns])
    cond = [s[f"s_{k}"].eqNullSafe(t[f"t_{k}"]) for k in key_cols]
    joined = s.join(t, cond, "full_outer")

    s_ver = F.struct(*[F.col(f"s_{c}") for c in version_cols])
    t_ver = F.struct(*[F.col(f"t_{c}") for c in version_cols])
    s_present = F.col(f"s_{key_cols[0]}").isNotNull()
    t_present = F.col("t___present").isNotNull()
    src_wins = s_present & (~t_present | (s_ver >= t_ver))
    s_deleted = F.coalesce(F.col(f"s_{DELETED_COL}"), F.lit(False))
    t_deleted = F.coalesce(F.col(f"t_{DELETED_COL}"), F.lit(False))
    metrics = [
        F.sum((t_present & s_present & ~src_wins).cast("long")).alias("conflicts"),
        F.sum((src_wins & s_deleted & t_present & ~t_deleted).cast("long")).alias("deletes"),
        F.sum((src_wins & ~s_deleted).cast("long")).alias("applied"),
    ]

    def pick(name):
        return F.when(src_wins, F.col(f"s_{name}")).otherwise(F.col(f"t_{name}"))

    out_cols = [
        (F.coalesce(pick(f.name), F.lit(False)) if f.name == DELETED_COL
         else pick(f.name)).alias(f.name)
        for f in merged_schema.fields
    ] + [pick(BUCKET_COL).alias(BUCKET_COL)]
    return joined, metrics, out_cols


def _commit(
    table: SnapshotTable,
    snap: dict,
    batch_id: int,
    new_wm: dict,
    part_rows,
    touched,
    data_rel,
    *,
    schema_json,
    changes,
    applied: int,
    deletes: int,
    conflicts: int,
    t0: float,
    max_event_ts: int | None = None,
    version_cols: tuple[str, ...] | None = None,
    mode: str = "cow",
    advance_fence: bool = True,
) -> dict:
    new_version = snap["version"] + 1
    duration_ms = int((time.time() - t0) * 1000)

    def total(k):
        return sum(int(r[k]) for r in part_rows)

    lineage_rows = [
        (
            batch_id, int(r[PARTITION_COL]), int(r["min_offset"]),
            int(r["max_offset"]), int(r["rows_read"]), int(r["below_watermark"]),
            int(r["invalid_events"]), int(r["late_events"]),
            None, None, None, duration_ms, ENGINE_REVISION,
        )
        for r in part_rows if PARTITION_COL in r
    ] + [
        (batch_id, -1, None, None, total("rows_read"),
         total("below_watermark"), total("invalid_events"),
         total("late_events"),
         applied, deletes, conflicts, duration_ms, ENGINE_REVISION)
    ]
    # lineage is tiny (one row per journal partition) — write it driver-side
    # with pyarrow, no Spark job
    import pyarrow as pa
    import pyarrow.parquet as pq

    # nonce keeps racing writers' lineage dirs disjoint (referenced by
    # path in the snapshot, never parsed by name)
    lineage_rel = f"lineage/v{new_version}-{_uuid.uuid4().hex[:8]}"
    names = [
        "batch_id", "partition", "min_offset", "max_offset", "rows_read",
        "below_watermark", "invalid_events", "late_events", "rows_applied",
        "deletes_applied", "merge_conflicts_resolved", "duration_ms",
        "engine_revision",
    ]
    arrays = {
        n: [r[i] for r in lineage_rows] for i, n in enumerate(names)
    }
    pa_schema = pa.schema(
        [(n, pa.string() if n == "engine_revision" else
          pa.int32() if n == "partition" else pa.int64()) for n in names]
    )
    tbl = pa.table(
        {n: pa.array(arrays[n], type=pa_schema.field(n).type) for n in names},
        schema=pa_schema,
    )
    out_dir = os.path.join(table.location, lineage_rel)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tbl, os.path.join(out_dir, "lineage.parquet"))

    # ---- build + CAS-commit, with commit-time rebase where it is safe ----
    # A DELTA batch's files are independent of the base (read-time LWW
    # resolves order), and a metadata-only commit carries no files at all —
    # for those, losing the version CAS to a concurrent maintenance commit
    # only requires re-pointing the SAME data at the fresh parent (schema
    # re-merged, watermarks/fence taken as per-key max).  CoW/upsert
    # rewrites DO depend on the base they merged against, so they re-raise
    # and the caller recomputes the batch (replay_journal's retry).
    written = (
        table.written_bucket_rows(data_rel)
        if touched is not None and data_rel is not None else None
    )
    parent = snap
    eff_schema = schema_json
    for attempt in range(8):
        new_version = parent["version"] + 1
        new = dict(parent)
        new["version"] = new_version
        new["parent"] = parent["version"]
        new["ts_ms"] = int(time.time() * 1000)
        new["schema"] = eff_schema
        if advance_fence:
            wm = {str(k): int(v) for k, v in new_wm.items()}
            if parent is not snap:
                for k, v in parent.get("watermarks", {}).items():
                    wm[str(k)] = max(int(v), int(wm.get(str(k), -1)))
                new["batch_id"] = max(int(parent.get("batch_id", -1)), batch_id)
            else:
                new["batch_id"] = batch_id
            new["watermarks"] = wm
        # repair mode: fence + watermarks stay EXACTLY the parent's — the
        # data change commits, but nothing is newly marked applied
        lineage_dirs = parent.get("lineage_dirs", []) + [lineage_rel]
        if len(lineage_dirs) > LINEAGE_CONSOLIDATE_AT:
            # one dir per commit makes the snapshot JSON and read_lineage
            # cost O(total batches ever applied) — at 10^10-event scale
            # (~40k batches) that is unbounded hot-path metadata growth.
            # Fold the older dirs into ONE consolidated parquet
            # (driver-side pyarrow; the inputs are one tiny file each).
            # Old dirs stay on disk for older snapshots until
            # expire_snapshots prunes them.
            keep = LINEAGE_CONSOLIDATE_AT // 4
            old_dirs, tail = lineage_dirs[:-keep], lineage_dirs[-keep:]
            consolidated = pa.concat_tables([
                pq.read_table(os.path.join(table.location, d))
                for d in old_dirs
            ])
            crel = f"lineage/c{new_version}-{_uuid.uuid4().hex[:8]}"
            cdir = os.path.join(table.location, crel)
            os.makedirs(cdir, exist_ok=True)
            pq.write_table(consolidated, os.path.join(cdir, "lineage.parquet"))
            lineage_dirs = [crel] + tail
        new["lineage_dirs"] = lineage_dirs
        if max_event_ts is not None:
            new["max_event_ts"] = max(
                int(max_event_ts), int(parent.get("max_event_ts", -1))
            )
        bucket_dirs = dict(parent["bucket_dirs"])
        dir_versions = dict(parent["dir_versions"])
        delta_dirs = {b: list(r) for b, r in parent.get("delta_dirs", {}).items()}
        bucket_rows = dict(parent.get("bucket_rows", {}))
        if written is not None:
            dir_versions[data_rel] = new_version
            if mode == "delta":
                for b in written:
                    delta_dirs.setdefault(b, []).append(data_rel)
            else:
                for b in touched:
                    bucket_dirs[str(b)] = data_rel
                    bucket_rows[str(b)] = written.get(str(b), 0)
                    if mode == "cow":
                        # the CoW merge read base ∪ deltas for these
                        # buckets, so the rewrite folded the deltas in; the
                        # pure-upsert path (mode="upsert") never read them
                        # — they stay live
                        delta_dirs.pop(str(b), None)
        new["bucket_dirs"] = bucket_dirs
        # prune dir_versions to dirs still referenced (bucket pointers +
        # delta chains): keeps the snapshot JSON O(buckets), not O(commits
        # ever made)
        live_dirs = set(bucket_dirs.values()) | {
            r for rels in delta_dirs.values() for r in rels
        }
        if data_rel is not None:
            live_dirs.add(data_rel)
        new["dir_versions"] = {
            d: v for d, v in dir_versions.items() if d in live_dirs
        }
        new["delta_dirs"] = delta_dirs
        new["bucket_rows"] = bucket_rows
        if version_cols is not None and not parent.get("version_cols"):
            # tables created before version_cols were recorded: pin them at
            # the first commit so read-time delta merging knows the LWW order
            new["version_cols"] = list(version_cols)
        if changes:
            new.setdefault("properties", {})
            new["properties"] = dict(
                new["properties"], **{f"schema_changes_v{new_version}": changes}
            )
        try:
            table._commit_snapshot(new)
            break
        except CommitConflictError:
            if attempt == 7:
                raise
            fresh = table.snapshot()
            if (mode == "delta" and data_rel is not None
                    and fresh.get("n_buckets") != snap.get("n_buckets")):
                # a concurrent rebucket() changed the layout: this batch's
                # delta files are bucketed under the OLD n_buckets, so
                # appending them to delta_dirs keyed by stale bucket ids
                # would misroute keys (a key's rebucketed base row and its
                # delta winner would live in different buckets, and
                # lookup() would prune to the wrong one).  The CoW path
                # catches this implicitly via its bucket-pointer
                # comparison; delta must refuse explicitly and let the
                # caller recompute against the new layout.
                raise
            if not (data_rel is None or mode == "delta"):
                # CoW/upsert rewrites merged against snap's base: they can
                # only rebase if every touched bucket is EXACTLY as the
                # merge saw it (same base pointer, same delta chain) — true
                # when racing metadata-only commits (analyze, schema), false
                # when a compactor folded those buckets (its fold holds rows
                # our rewrite lacks); then the caller must recompute.
                sd, fd = snap.get("delta_dirs", {}), fresh.get("delta_dirs", {})
                unchanged = all(
                    fresh["bucket_dirs"].get(str(b)) == snap["bucket_dirs"].get(str(b))
                    and fd.get(str(b), []) == sd.get(str(b), [])
                    for b in (touched or [])
                )
                if not unchanged:
                    raise
            parent = fresh
            if parent["schema"] != snap["schema"]:
                # a concurrent writer evolved the schema: our files are
                # still readable (read-time align/cast), but the committed
                # schema must be the UNION or their columns would vanish
                merged2, _ = merge_schemas(
                    T.StructType.fromJson(parent["schema"]),
                    T.StructType.fromJson(schema_json),
                )
                eff_schema = merged2.jsonValue()

    return {
        "batch_id": batch_id,
        "version": new_version,
        "skipped": False,
        "pre_pass_ms": None,  # filled by apply_batch
        "rows_read": total("rows_read"),
        "below_watermark": total("below_watermark"),
        "rows_applied": applied,
        "deletes_applied": deletes,
        "merge_conflicts_resolved": conflicts,
        "schema_changes": changes,
        "touched_buckets": len(touched or []),
        "merge_mode": mode if data_rel is not None else "metadata_only",
        "data_rel": data_rel,
        "duration_ms": duration_ms,
    }


def sync_changes(
    source: SnapshotTable,
    replica: SnapshotTable | str,
    from_version: int | None = None,
    to_version: int | None = None,
    **apply_kwargs,
) -> dict:
    """Lake→lake incremental sync: consume ``source``'s change data feed
    and apply it to ``replica`` through the same versioned LWW merge the
    ingest path uses — the CDC-out half of the engine (ingest CDC in,
    emit CDC out, chain engines without re-reading whole tables).

    The feed (``source.changes(..., deletes='tombstone')``) is mapped to
    batch events: insert/update images upsert, delete tombstones delete —
    each carrying the SOURCE's version columns, so applying a feed is
    idempotent and replay-safe (stale rows lose the LWW reduce exactly as
    they do on the ingest path).  The replica's consumed-through cursor is
    recorded in its snapshot properties (``sync_source`` /
    ``synced_version``); calling with ``from_version=None`` resumes from
    the cursor, so ``sync_changes(src, dst)`` in a loop is exactly-once
    per range.  Each applied sync is one replica batch, so the replica's
    batch fence advances once per sync; its per-partition watermarks do
    not move: feed rows mix offsets from many commits and carry no journal
    partition (``ENVELOPE_DROP``), and the replica's convergence guarantee
    is the version columns, not the fence — hence
    ``enforce_watermark=False``.

    Cost: O(changed buckets) on the source (see ``changes``) plus one
    normal incremental merge on the replica.  Reference analog: the
    pipeline's re-extend of destination blocks
    (`activedata_etl/sinks/s3_bucket.py:92-118`), minus the re-read.
    """
    snap = source.snapshot()
    if isinstance(replica, str):
        spark = source.spark
        if SnapshotTable.exists(spark, replica):
            replica = SnapshotTable(spark, replica)
        else:
            replica = SnapshotTable.create(
                spark, replica,
                T.StructType.fromJson(snap["schema"]),
                list(snap["key_cols"]),
                n_buckets=int(snap["n_buckets"]),
                version_cols=list(snap["version_cols"]),
            )
    start = from_version
    props = replica.snapshot().get("properties", {})
    if start is None:
        if props.get("sync_source") not in (None, source.location):
            raise ValueError(
                f"replica {replica.location} tracks {props['sync_source']!r}, "
                f"not {source.location!r} — pass from_version explicitly"
            )
        start = int(props.get("synced_version", 0))
    v_to = source.current_version() if to_version is None else to_version
    if start >= v_to:
        return {"applied": 0, "deletes": 0, "batches": 0,
                "synced_version": start}
    cb = source.changed_buckets(start, v_to)
    if cb is not None and not cb:
        # pure-metadata source range (property commits — e.g. the source's
        # own es-export cursor): a free driver-side check.  Applying the
        # empty feed would mint a replica commit (and grow its snapshot
        # chain) on EVERY poll; skip the apply but do advance the replica's
        # cursor so the metadata commits are not re-diffed next poll — the
        # cursor write is one replica metadata commit per *source* version
        # observed, not per poll.
        replica.set_properties(sync_source=source.location,
                               synced_version=v_to)
        return {"applied": 0, "deletes": 0, "batches": 0,
                "synced_version": v_to}
    feed = source.changes(start, v_to, deletes="tombstone")
    events = feed.withColumn(
        "op",
        F.when(F.col(SnapshotTable.CHANGE_TYPE_COL) == "delete",
               F.lit("delete")).otherwise(F.lit("update")),
    ).drop(SnapshotTable.CHANGE_TYPE_COL, "_from_version", "_to_version")
    kwargs = dict(
        version_cols=tuple(snap["version_cols"]),
        enforce_watermark=False,
    )
    kwargs.update(apply_kwargs)
    s = apply_batch(replica, events, replica.last_batch_id() + 1, **kwargs)
    replica.set_properties(sync_source=source.location, synced_version=v_to)
    return {"applied": s["rows_applied"], "deletes": s["deletes_applied"],
            "batches": 1, "synced_version": v_to}
