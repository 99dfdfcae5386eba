"""SnapshotTable — an ACID, snapshot-isolated lake table over parquet.

This sandbox ships no Iceberg/Delta runtime jars and has no network, so the
engine implements the same contract itself, Iceberg-style:

- a table is a directory; its state is an immutable **snapshot** JSON under
  ``metadata/v{N}.json`` listing the data files, the schema, the exactly-once
  state (last applied ``batch_id`` + per-journal-partition watermarks), and a
  pointer to its parent snapshot;
- a commit is an **optimistic-concurrency CAS**: the new ``v{N}.json`` is
  linked into place with ``os.link`` (atomic create-if-absent on POSIX), so
  exactly ONE of two racing writers owns version N — the loser gets
  ``CommitConflictError`` and rebases onto the winner's snapshot (compaction
  and the rewrite ops retry automatically; the ingest loop re-applies the
  batch).  The ``metadata/_current`` pointer is a monotonic cache swapped
  with ``os.replace``; the v-files are authoritative.  Readers always see a
  complete snapshot, never a partial write.  A real deployment routes the
  same CAS through a catalog (Iceberg's commit protocol) — the rest of the
  engine is unchanged;
- data is hash-bucketed by the key columns into ``n_buckets`` buckets
  (Iceberg ``bucket(N, key)`` partition transform).  A MERGE is
  **copy-on-write at bucket granularity**: only buckets containing changed
  keys are rewritten; untouched buckets keep their old files.  At 10^10 rows
  the per-batch write cost is O(touched buckets), not O(table);
- watermark-in-commit: the per-partition high-watermark offsets live INSIDE
  the snapshot, so data and watermark commit atomically together — the analog
  of the reference persisting ``SYNCHRONIZATION_KEY`` next to the data
  (`activedata_etl/pulse_logger.py:126-138`) and acking SQS only after the
  sink write (`activedata_etl/push_to_es.py:86`).

Reference parity: LWW upsert semantics from ``_id + version_type=
external_gte`` (`vendor/pyLibrary/env/elasticsearch.py:328-331,374-380`),
idempotent block merge (`activedata_etl/sinks/s3_bucket.py:92-118`), rollover
partitioning/expiry (`vendor/pyLibrary/env/rollover_index.py:69-263`).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from activedata_etl_spark.lake.schema_evolution import (
    align_to_schema,
    read_parquet,
)


class CommitConflictError(RuntimeError):
    """Another writer committed the snapshot version this commit targeted.

    The table is untouched by the losing commit (its data dirs are orphans
    until ``expire_snapshots`` collects them).  Recovery is Iceberg's:
    re-read the current snapshot, rebuild the change against it, commit
    again — ``compact``/``update_where``/``delete_where``/``analyze`` do
    this automatically; ``replay_journal`` re-applies the batch."""


BUCKET_COL = "__bucket"
DELETED_COL = "__deleted"  # tombstone marker: delete events upsert a
                           # versioned tombstone so stale out-of-order
                           # arrivals cannot resurrect the key

# MOR-lite target: ~250MB of parquet per bucket keeps a bucket rewrite an
# executor-sized task at any table size (10^10 rows x ~200B -> ~8k buckets)
TARGET_BUCKET_BYTES = 250 * 1024 * 1024


def suggest_n_buckets(
    expected_rows: int,
    avg_row_bytes: int = 200,
    target_bucket_bytes: int = TARGET_BUCKET_BYTES,
    min_buckets: int = 8,
    max_buckets: int = 1 << 16,
) -> int:
    """Size the bucket count from expected table rows so each bucket holds
    ~``target_bucket_bytes`` of parquet.  Too few buckets makes every CoW
    rewrite giant; too many makes small files and metadata bloat.  The analog
    of the reference sizing rollover indexes by expected volume
    (`vendor/pyLibrary/env/rollover_index.py:69-104`)."""
    est_bytes = max(0, int(expected_rows)) * max(1, avg_row_bytes)
    n = max(min_buckets, -(-est_bytes // target_bucket_bytes))
    return int(min(n, max_buckets))


def _bucket_expr(key_cols: list[str], n_buckets: int):
    """Murmur3 (F.hash) on purpose: it is the SAME hash Spark's shuffle
    hash-partitioning uses, so rows hash-partitioned by the key columns land
    with whole buckets per partition — the bucketed write then needs NO
    repartition (zero-shuffle write)."""
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


class SnapshotTable:
    """Single-writer ACID table: snapshot metadata + bucketed parquet data."""

    # read-time MOR strategy cutoff: delta chains at or below this many
    # bytes merge via a BROADCAST key probe (no base shuffle); above it —
    # or when sizing would cost too many stat() calls — the read falls back
    # to the full structmax shuffle of the touched buckets.  Env override
    # (SPARK_GRAFT_MOR_BROADCAST_MAX_BYTES) is an ops/bench knob; 0
    # disables the probe entirely.
    MOR_BROADCAST_MAX_DELTA_BYTES = int(os.environ.get(
        "SPARK_GRAFT_MOR_BROADCAST_MAX_BYTES", str(64 << 20)))
    MOR_BROADCAST_MAX_DELTA_FILES = 4096
    # ...and only when the base dwarfs the deltas: the probe trades one
    # base shuffle for two base scans plus broadcast fixed costs, which
    # only pays once the shuffled volume is much larger than the probe
    # overhead.  Measured crossover (BASELINE.md): 9x base/delta ratio
    # still favors the shuffle, 137x favors the probe 1.9x — gate at 32x.
    MOR_BROADCAST_MIN_BASE_RATIO = 32

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location.rstrip("/")
        self.meta_dir = os.path.join(self.location, "metadata")
        # (rel, bucket) -> bytes; data dirs are immutable once committed,
        # so sizes cache for the table handle's lifetime
        self._delta_bytes_cache: dict[tuple[str, str], int] = {}

    def _delta_bytes(self, pairs: list[tuple[str, str]]) -> float:
        """Total bytes of the given (data-dir relpath, bucket) parquet sets
        — driver-side stat() calls, cached per immutable dir.  Returns +inf
        (forcing the shuffle path) when the file count makes driver-side
        sizing itself a cost, or on any listing error (a racing
        expire/compact may have removed a dir this snapshot no longer
        needs; the scan path re-resolves, the sizer must not crash)."""
        import glob as _glob

        if len(pairs) > self.MOR_BROADCAST_MAX_DELTA_FILES:
            return float("inf")
        total = 0
        for rel, b in pairs:
            key = (rel, b)
            n = self._delta_bytes_cache.get(key)
            if n is None:
                try:
                    n = sum(
                        os.path.getsize(f)
                        for f in _glob.glob(os.path.join(
                            self.location, rel, f"{BUCKET_COL}={b}",
                            "*.parquet",
                        ))
                    )
                except OSError:
                    return float("inf")
                self._delta_bytes_cache[key] = n
            total += n
        return total

    # ------------------------------------------------------------------ DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        schema: T.StructType,
        key_cols: list[str],
        *,
        n_buckets: int = 64,
        version_cols: list[str] | None = None,
        properties: dict | None = None,
    ) -> "SnapshotTable":
        t = cls(spark, location)
        os.makedirs(t.meta_dir, exist_ok=True)
        if t.current_version() is not None:
            raise FileExistsError(f"table already exists at {location}")
        if DELETED_COL not in {f.name for f in schema.fields}:
            # every table carries the tombstone marker: apply_batch's merge
            # expressions reference it unconditionally, and a table created
            # without it would fail analysis mid-batch
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(DELETED_COL, T.BooleanType(), True)]
            )
        snap = {
            "version": 0,
            "parent": None,
            "ts_ms": int(time.time() * 1000),
            "schema": schema.jsonValue(),
            "key_cols": key_cols,
            "version_cols": list(version_cols or ["commit_seq", "offset"]),
            "n_buckets": n_buckets,
            "batch_id": -1,
            "watermarks": {},
            "bucket_dirs": {},      # bucket id (str) -> data dir relpath
            "dir_versions": {},     # data dir relpath -> writer snapshot version
            "delta_dirs": {},       # bucket id (str) -> [data dir relpaths]
                                    # (MOR-lite: LWW-merged with base on read)
            "bucket_rows": {},      # bucket id (str) -> base row count
            "lineage_dirs": [],
            "properties": properties or {},
        }
        t._commit_snapshot(snap)
        return t

    @classmethod
    def exists(cls, spark: SparkSession, location: str) -> bool:
        return os.path.exists(os.path.join(location, "metadata", "_current"))

    # ------------------------------------------------------------- metadata

    def current_version(self) -> int | None:
        """Newest committed version.  The ``_current`` pointer is a cache
        that can lag one swap behind a racing writer; the ``v{N}.json``
        files are authoritative (a version exists exactly when its file was
        CAS-linked into place), so take the max of both."""
        cur = None
        p = os.path.join(self.meta_dir, "_current")
        if os.path.exists(p):
            with open(p) as f:
                cur = int(f.read().strip())
        newest = self._newest_snapshot_file()
        if newest is None:
            return cur
        return newest if cur is None else max(cur, newest)

    def _newest_snapshot_file(self) -> int | None:
        if not os.path.isdir(self.meta_dir):
            return None
        vs = [
            int(m.group(1))
            for fn in os.listdir(self.meta_dir)
            if (m := re.fullmatch(r"v(\d+)\.json", fn))
        ]
        return max(vs) if vs else None

    def snapshot(self, version: int | str | None = None) -> dict:
        """Snapshot metadata; ``version`` may be an int, None (current),
        or a TAG NAME (resolved through the current snapshot's tag map) —
        so every version-pinnable surface (read / changes / rollback /
        lookup) accepts tags for free."""
        if isinstance(version, str):
            version = self.resolve_tag(version)
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no snapshot at {self.location}")
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
            return json.load(f)

    def tags(self) -> dict[str, int]:
        """Named refs -> snapshot version (Iceberg tag analog)."""
        props = self.snapshot().get("properties", {})
        return {k: int(v) for k, v in props.get("tags", {}).items()}

    def resolve_tag(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise KeyError(
                f"no tag {name!r} on {self.location} (tags: {sorted(t)})")
        return t[name]

    def tag(self, name: str, version: int | None = None,
            max_retries: int = 5) -> int:
        """Pin ``name`` to a snapshot version (default: current).  Tagged
        versions survive :meth:`expire_snapshots` regardless of age — the
        audit/repro ref pattern (Iceberg ``createTag``).  Metadata-only
        CAS commit; the tag map is re-merged from the fresh snapshot on
        every retry so concurrent taggers never clobber each other."""
        for _ in range(max_retries):
            snap = self.snapshot()
            v = snap["version"] if version is None else int(version)
            # fail loudly on a dangling ref: the target must still exist
            if not os.path.exists(os.path.join(self.meta_dir, f"v{v}.json")):
                raise FileNotFoundError(
                    f"cannot tag {name!r}: no snapshot v{v} at {self.location}")
            new = dict(snap)
            new["version"] = snap["version"] + 1
            new["parent"] = snap["version"]
            new["ts_ms"] = int(time.time() * 1000)
            tags = dict(snap.get("properties", {}).get("tags", {}))
            tags[name] = v
            new["properties"] = dict(snap.get("properties", {}), tags=tags)
            try:
                self._commit_snapshot(new)
                return v
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"tag({name!r}) at {self.location} lost {max_retries} commit races")

    def drop_tag(self, name: str, max_retries: int = 5) -> None:
        for _ in range(max_retries):
            snap = self.snapshot()
            tags = dict(snap.get("properties", {}).get("tags", {}))
            if name not in tags:
                return
            del tags[name]
            new = dict(snap)
            new["version"] = snap["version"] + 1
            new["parent"] = snap["version"]
            new["ts_ms"] = int(time.time() * 1000)
            new["properties"] = dict(snap.get("properties", {}), tags=tags)
            try:
                self._commit_snapshot(new)
                return
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"drop_tag({name!r}) at {self.location} lost {max_retries} commit races")

    def rollback(self, to_version: int | str, max_retries: int = 5) -> int:
        """Restore the table to an older snapshot's state by committing a
        NEW version whose content (schema, bucket pointers, delta chains,
        row accounting, WATERMARKS, batch fence) is the target's — history
        stays linear and auditable (Iceberg ``rollback_to_snapshot``).

        Watermarks and batch_id roll back WITH the data on purpose: the
        exactly-once fence must describe the restored state, so the next
        :func:`replay_journal` re-applies exactly the events the rollback
        discarded — state and fence can never disagree.  Export/sync
        cursors (``es_export_*`` / ``jsonl_export_*`` / ``synced_version``)
        are STRIPPED, not reverted: external artifacts do not roll back
        with the table, so a merely-reverted cursor would make the next
        incremental export diff old-cursor-version against the restored
        head and skip content-matching buckets — leaving on-disk JSONL
        shards permanently stale vs the documented full-export equality.
        Dropping the cursor forces the next incremental call to perform a
        full re-export.  NOTE for versioned ES indexes: ``external_gte``
        REJECTS the re-sent older versions, so the index stays at the
        rolled-back-away state — reindex (or delete-by-query) after a
        rollback.  Tags are re-merged from the current snapshot so refs
        never vanish.

        The target snapshot file must still exist (``expire_snapshots``
        prunes old untagged versions — tag a version to make it a durable
        rollback point).  Data dirs are never touched; the new head simply
        re-references the old dirs, which re-pins them against expiry.
        """
        for _ in range(max_retries):
            cur = self.snapshot()
            tv = (self.resolve_tag(to_version)
                  if isinstance(to_version, str) else int(to_version))
            if tv > cur["version"]:
                raise ValueError(
                    f"rollback target v{tv} is newer than "
                    f"current v{cur['version']}")
            tgt = self.snapshot(tv)
            new = dict(tgt)
            new["version"] = cur["version"] + 1
            new["parent"] = cur["version"]
            new["ts_ms"] = int(time.time() * 1000)
            props = dict(tgt.get("properties", {}))
            # strip export/sync cursors (see docstring: external artifacts
            # don't revert, so the next incremental export must start from
            # scratch rather than diff against a version it never shipped)
            for k in list(props):
                if k.startswith(("es_export_", "jsonl_export_")) \
                        or k in ("synced_version", "sync_source"):
                    del props[k]
            tags = dict(props.get("tags", {}),
                        **cur.get("properties", {}).get("tags", {}))
            if tags:
                props["tags"] = tags
            props["rolled_back_to"] = tgt["version"]
            new["properties"] = props
            try:
                self._commit_snapshot(new)
                return new["version"]
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"rollback at {self.location} lost {max_retries} commit races")

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.snapshot()["schema"])

    def watermarks(self) -> dict[int, int]:
        return {int(k): int(v) for k, v in self.snapshot()["watermarks"].items()}

    def last_batch_id(self) -> int:
        return int(self.snapshot()["batch_id"])

    def _commit_snapshot(self, snap: dict) -> None:
        """Optimistic-concurrency commit: CAS v{N}.json into place, then
        advance the _current pointer cache.

        ``os.link(tmp, path)`` is an atomic create-if-absent on POSIX —
        exactly one of two racing writers targeting version N succeeds; the
        loser raises :class:`CommitConflictError` with the table unchanged.
        The _current swap after the link is last-write-wins and may briefly
        lag (loser of THAT race wrote a smaller version); readers are
        unaffected because :meth:`current_version` takes the max of the
        pointer and the authoritative v-files."""
        v = snap["version"]
        path = os.path.join(self.meta_dir, f"v{v}.json")
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflictError(
                f"snapshot v{v} at {self.location} was committed by a "
                f"concurrent writer; rebase onto the current snapshot and "
                f"retry"
            ) from None
        finally:
            os.unlink(tmp)
        cur = None
        p = os.path.join(self.meta_dir, "_current")
        if os.path.exists(p):
            with open(p) as f:
                cur = int(f.read().strip())
        if cur is None or cur < v:
            cur_tmp = os.path.join(self.meta_dir, f"_current.tmp.{uuid.uuid4().hex}")
            with open(cur_tmp, "w") as f:
                f.write(str(v))
            os.replace(cur_tmp, p)

    # ----------------------------------------------------------------- read

    def _aligned_scan(
        self, snap: dict, schema: T.StructType, pairs: list[tuple[str, str]]
    ) -> DataFrame | None:
        """Scan (dir relpath, bucket id) pairs aligned to ``schema``.

        Data dirs written by older snapshots may have narrower physical
        schemas (pre-widening); each same-version group is read in one
        parquet scan and upcast on the fly — column pruning and predicate
        pushdown still reach the parquet reader because alignment is a plain
        projection on top of the scan.  A group is the output of one write,
        so its physical schema comes from one footer read driver-side
        (``read_parquet``): a read plans with no schema-inference job per
        group, and its job count stays flat as delta chains grow.
        """
        by_version: dict[int, list[str]] = {}
        for d, b in pairs:
            ver = snap["dir_versions"][d]
            by_version.setdefault(ver, []).append(
                os.path.join(self.location, d, f"{BUCKET_COL}={b}")
            )
        parts: list[DataFrame] = []
        for _, paths in sorted(by_version.items()):
            existing = [p for p in paths if os.path.exists(p)]
            if not existing:
                continue
            parts.append(align_to_schema(
                read_parquet(self.spark, *existing), schema))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    _ZONE_OPS = ("==", "<", "<=", ">", ">=")

    def prunable_buckets(
        self,
        filters: list[tuple],
        version: int | None = None,
    ) -> list[str] | None:
        """Zone-map bucket pruning: the subset of bucket ids that MAY hold a
        row matching ALL of ``filters`` (conjunctive ``(col, op, value)``
        triples, op in ``==  <  <=  >  >=``), per the per-bucket min/max
        recorded by the most recent :meth:`analyze` of the pinned snapshot.

        Sound by construction — a bucket is only skipped when
        (a) its fingerprint (base dir + delta chain) is UNCHANGED since the
        stats were measured, and (b) its zone map provably excludes the
        predicate.  Buckets written/appended after the ANALYZE, columns
        without stats, and value/stat type mismatches all fall back to
        "must scan".  Returns None when the snapshot carries no bucket
        stats at all (no pruning possible — scan everything).

        Iceberg analog: manifest-file column bounds driving file skipping;
        at 10^10 rows this turns a point-ish query on a non-key column into
        an O(matching buckets) scan decided entirely driver-side.
        """
        snap = self.snapshot(version)
        rel = (snap.get("properties", {})
               .get("column_stats", {}).get("bucket_stats_dir"))
        if not rel:
            return None
        path = os.path.join(self.location, rel, "bucket_stats.json")
        try:
            with open(path) as f:
                zone = json.load(f)
        except OSError:
            return None
        for c, op, _ in filters:
            if op not in self._ZONE_OPS:
                raise ValueError(
                    f"unsupported zone filter op {op!r} on {c!r} "
                    f"(supported: {self._ZONE_OPS})")
        keep: list[str] = []
        # base dirs AND delta chains: a bucket whose only rows live in its
        # delta chain (delta-mode insert into a previously-empty bucket) has
        # no base dir — omitting it here would let read(filters=...) silently
        # drop those rows once stats exist.  Its own stamped fingerprint
        # (which covers the chain) still makes it prunable when unchanged.
        for b in sorted(
            set(snap["bucket_dirs"]) | set(snap.get("delta_dirs", {})),
            key=int,
        ):
            st = zone["buckets"].get(b)
            if (st is None
                    or st["fingerprint"] != self._bucket_fingerprint(snap, b)):
                keep.append(b)      # changed since ANALYZE: must scan
                continue
            if not any(self._zone_excludes(st["cols"].get(c), op, v)
                       for c, op, v in filters):
                keep.append(b)
        return keep

    @staticmethod
    def _zone_excludes(cs: dict | None, op: str, value) -> bool:
        """True iff a bucket's column stats PROVE no row matches
        ``col <op> value``.  Conservative: unknown column, all-unknown
        bounds, or cross-type comparison -> False (cannot exclude)."""
        if cs is None:
            return False
        if cs["count"] == 0:
            return True        # no non-null values: no comparison matches
        lo, hi = cs["min"], cs["max"]
        num = isinstance(value, (int, float)) and not isinstance(value, bool)
        ok = ((num and isinstance(lo, (int, float))
               and not isinstance(lo, bool))
              or (isinstance(value, str) and isinstance(lo, str)))
        if not ok:
            return False       # type mismatch (e.g. timestamp str vs number)
        if op == "==":
            return value < lo or value > hi
        if op == "<":
            return lo >= value
        if op == "<=":
            return lo > value
        if op == ">":
            return hi <= value
        return hi < value      # ">="

    def read(
        self,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
        version: int | None = None,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """Scan the table (optionally bucket-pruned), aligned to the
        snapshot's schema.

        ``version`` pins the read to an older snapshot (Iceberg time travel:
        every snapshot is self-contained, immutable file lists + schema), as
        long as ``expire_snapshots`` has not pruned it — readers holding a
        version are never affected by concurrent commits.

        Buckets that carry MOR-lite delta files (small incremental batches,
        see ``merge.apply_batch(merge_mode=...)``) are merged at read time:
        base ∪ deltas reduced last-writer-wins on the table's version columns
        — the same structmax HashAggregate the write path uses, confined to
        exactly the buckets that have deltas.  Buckets without deltas take
        the plain scan path with zero overhead.

        ``filters`` — conjunctive ``(col, op, value)`` triples — are BOTH
        applied to the rows (exact result) and used for zone-map bucket
        pruning against the latest :meth:`analyze` stats (see
        :meth:`prunable_buckets`): buckets the stats provably exclude are
        never opened.
        """
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(snap["schema"])
        wanted = None if buckets is None else {str(b) for b in buckets}
        if filters:
            pruned = self.prunable_buckets(filters, version)
            if pruned is not None:
                wanted = (set(pruned) if wanted is None
                          else wanted & set(pruned))
        delta_dirs = {
            b: rels for b, rels in snap.get("delta_dirs", {}).items()
            if rels and (wanted is None or b in wanted)
        }
        bucket_dirs = {
            b: d for b, d in snap["bucket_dirs"].items()
            if wanted is None or b in wanted
        }

        out = self._aligned_scan(
            snap, schema,
            [(d, b) for b, d in bucket_dirs.items() if b not in delta_dirs],
        )
        if delta_dirs:
            vcols = snap.get("version_cols")
            if not vcols:
                raise ValueError(
                    f"table {self.location} has delta files but no "
                    "version_cols recorded — cannot LWW-merge on read"
                )
            from activedata_etl_spark.operators.lww import (
                lww_reduce_structmax,
            )

            base_pairs = [
                (bucket_dirs[b], b) for b in delta_dirs if b in bucket_dirs
            ]
            delta_pairs = [
                (rel, b) for b, rels in delta_dirs.items() for rel in rels
            ]
            keys = snap["key_cols"]
            base = self._aligned_scan(snap, schema, base_pairs)
            delta = self._aligned_scan(snap, schema, delta_pairs)
            d_bytes = (
                self._delta_bytes(delta_pairs)
                if base is not None and delta is not None else float("inf")
            )
            # both sizes must be FINITE to take the probe: an unsizable
            # base (+inf) trivially satisfies the ratio gate but means we
            # could not establish the base dwarfs the deltas — fall back to
            # the always-correct shuffle instead of probing blind
            b_bytes = self._delta_bytes(base_pairs)
            if (
                d_bytes <= self.MOR_BROADCAST_MAX_DELTA_BYTES
                and b_bytes != float("inf")
                and b_bytes
                >= self.MOR_BROADCAST_MIN_BASE_RATIO * max(d_bytes, 1)
            ):
                # small deltas (the steady state between compactions): a
                # full shuffle of every touched bucket's BASE rows just to
                # re-pick winners for the handful of delta'd keys is the
                # wrong cost class at 10^10 rows.  Probe instead: broadcast
                # the delta key set, pass untouched base rows through
                # shuffle-free, and run the structmax LWW reduce over ONLY
                # delta ∪ matching-base — O(delta) shuffled, O(base)
                # scanned once per side of the probe.  Null key columns
                # cannot occur (ingest quarantines them), so the anti/semi
                # split is exactly the groupBy's partition of the keys.
                dk = F.broadcast(delta.select(*keys).dropDuplicates(keys))
                # a USING join hoists the key columns to the front of the
                # output even for semi/anti — restore the scan's order
                cols = base.columns
                untouched = base.join(dk, on=keys, how="left_anti") \
                    .select(*cols)
                touched = base.join(dk, on=keys, how="left_semi") \
                    .select(*cols)
                merged = untouched.unionByName(
                    lww_reduce_structmax(
                        touched.unionByName(delta), keys, vcols
                    )
                )
                out = merged if out is None else out.unionByName(merged)
            else:
                raw = (
                    base.unionByName(delta) if base is not None
                    and delta is not None else (base or delta)
                )
                if raw is not None:
                    merged = lww_reduce_structmax(raw, keys, vcols)
                    out = merged if out is None else out.unionByName(merged)
        if out is None:
            out = self.spark.createDataFrame([], schema)
        if not include_tombstones and DELETED_COL in out.columns:
            out = out.where(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            ).drop(DELETED_COL)
        for c, op, v in filters or []:
            cond = {"==": F.col(c) == v, "<": F.col(c) < v,
                    "<=": F.col(c) <= v, ">": F.col(c) > v,
                    ">=": F.col(c) >= v}[op]
            out = out.where(cond)
        return out

    def lookup(
        self,
        keys: dict,
        *,
        version: int | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Point lookup with bucket pruning — the O(table/n_buckets) access
        path for "give me this key's current row".

        Hash bucketing defeats file-level min/max skipping on the key
        columns, but it gives something better: the key's murmur3 names the
        ONE bucket that can hold it, so a point query scans a single
        bucket's files (base + its delta chain) instead of the table.  At
        10^10 rows / 8k buckets that is ~250 MB instead of ~2 TB.  ``keys``
        must bind EVERY key column — the hash needs all of them.  Result ==
        ``read().where(<key equality>)``, including read-time LWW delta
        merge and tombstone filtering; see :meth:`lookup_many`.
        """
        return self.lookup_many(
            [keys], version=version, include_tombstones=include_tombstones)

    def lookup_many(
        self,
        keys: list[dict],
        *,
        version: int | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Batched point lookup: N full keys -> their rows, equal to
        ``read().where(<OR of the keys' equalities>)`` (table column order,
        duplicate keys matched once), scanning only the UNION of the keys'
        buckets.

        Bucket ids come from the engine's own hash expression projected
        over a local frame of the keys, so they can never drift from the
        write path's murmur3, type coercions included.  The frame is built
        from Arrow, which plans as a LocalRelation: Catalyst folds the
        projection into it and the collect runs no Spark job.

        The keys then filter the bucket-pruned read as an OR of per-key
        equality conjunctions.  The predicate refers only to the LWW
        grouping keys, so Catalyst pushes it through the read-time MOR merge
        (the structmax aggregate, the broadcast probe's anti/semi joins and
        the union) into the parquet scans: the merge shuffles only the
        looked-up keys' rows, not whole buckets.  The predicate grows with
        the key list — this is the O(|keys|) access path for
        dashboards/debugging; for a key list approaching the table, join
        ``read()`` against the keys instead.
        """
        import pyarrow as pa

        if not keys:
            raise ValueError("lookup_many needs at least one key dict")
        snap = self.snapshot(version)
        key_cols = snap["key_cols"]
        for k in keys:
            missing = [c for c in key_cols if c not in k]
            if missing:
                raise ValueError(
                    f"every key must bind all of {key_cols}; one is missing "
                    f"{missing} (hash pruning cannot bind a partial key)"
                )
        schema = T.StructType.fromJson(snap["schema"])
        dtypes = {f.name: f.dataType for f in schema.fields}
        rows = list(dict.fromkeys(tuple(k[c] for c in key_cols) for k in keys))
        kdf = self.spark.createDataFrame(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(key_cols)}),
            T.StructType([T.StructField(c, dtypes[c], True) for c in key_cols]),
        )
        buckets = sorted({
            r["b"] for r in kdf.select(
                _bucket_expr(key_cols, snap["n_buckets"]).alias("b")
            ).collect()
        })
        cond = None
        for r in rows:
            term = None
            for c, v in zip(key_cols, r):
                eq = F.col(c) == F.lit(v).cast(dtypes[c])
                term = eq if term is None else term & eq
            cond = term if cond is None else cond | term
        return self.read(
            buckets=buckets, include_tombstones=include_tombstones,
            version=snap["version"],
        ).where(cond)

    def existing_bucket_paths(self, buckets: list[int]) -> list[str]:
        """Physical data paths among ``buckets`` (a delete can empty a bucket,
        leaving a dangling metadata pointer — those are skipped)."""
        snap = self.snapshot()
        out = []
        for b in buckets:
            d = snap["bucket_dirs"].get(str(b))
            if d is None:
                continue
            p = os.path.join(self.location, d, f"{BUCKET_COL}={b}")
            if os.path.exists(p):
                out.append(p)
        return out

    def bucket_of(self, df: DataFrame) -> DataFrame:
        snap = self.snapshot()
        return df.withColumn(
            BUCKET_COL, _bucket_expr(snap["key_cols"], snap["n_buckets"])
        )

    # ------------------------------------------------------------ data write

    def write_buckets(
        self, df: DataFrame, version: int, sort_by: list[str] | None = None
    ) -> str:
        """Write ``df`` (must carry BUCKET_COL) under a unique
        data/v{version}-{nonce} dir.

        ``sort_by`` additionally orders rows by those columns WITHIN each
        bucket (after the bucket grouping): parquet row-group min/max stats
        then become selective for filters on them, so readers skip row
        groups inside a bucket — the complement to bucket pruning, which
        hash distribution denies to the key columns themselves.

        The nonce makes concurrent writers (and commit-conflict retries)
        physically disjoint: two writers racing toward the same version can
        never overwrite each other's files — the CAS in
        ``_commit_snapshot`` decides whose METADATA wins, and the loser's
        dir is an unreferenced orphan that ``expire_snapshots`` collects
        after its grace period.  Nothing parses the dir name: snapshots
        reference dirs through ``bucket_dirs``/``dir_versions``.

        NO repartition: the caller's plan is already hash-partitioned by the
        key columns (LWW window / merge join), and bucket = murmur3(keys) %
        n_buckets is aligned with that partitioning, so every task holds
        whole buckets — ``partitionBy`` emits at most one file per bucket per
        task with zero extra shuffle.  ``sortWithinPartitions`` groups each
        task's rows by bucket so the dynamic-partition writer keeps a single
        open file at a time.
        """
        rel = f"data/v{version}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.location, rel)
        sort_cols = [BUCKET_COL] + [F.col(c) for c in (sort_by or [])]
        (
            df.sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(out)
        )
        return rel

    def written_buckets(self, rel: str) -> list[str]:
        """Bucket ids actually present under a written data dir (from the
        dynamic-partition directory names; no Spark job)."""
        root = os.path.join(self.location, rel)
        prefix = f"{BUCKET_COL}="
        if not os.path.isdir(root):
            return []
        return sorted(
            (d[len(prefix):] for d in os.listdir(root) if d.startswith(prefix)),
            key=int,
        )

    def written_bucket_rows(self, rel: str) -> dict[str, int]:
        """Exact per-bucket row counts of a just-written data dir from the
        parquet footers — driver-side, one footer per file, no Spark job.
        Commit records these so ``base_row_count`` (the CoW-vs-delta mode
        pick) never needs a table scan."""
        import glob as _glob

        import pyarrow.parquet as pq

        out: dict[str, int] = {}
        for b in self.written_buckets(rel):
            n = 0
            d = os.path.join(self.location, rel, f"{BUCKET_COL}={b}")
            for f in _glob.glob(os.path.join(d, "*.parquet")):
                n += pq.ParquetFile(f).metadata.num_rows
            out[b] = n
        return out

    def base_row_count(self) -> int | None:
        """Total base rows (incl. tombstones) from snapshot metadata; None
        when unknown (table predates per-commit accounting).  Delta rows are
        deliberately excluded: they mostly shadow existing keys, and
        undercounting only biases mode selection toward CoW (safe)."""
        snap = self.snapshot()
        counts = snap.get("bucket_rows") or {}
        live = [b for b in snap["bucket_dirs"]]
        if not live:
            return 0
        if any(b not in counts for b in live):
            return None
        return sum(int(counts[b]) for b in live)

    def history(self) -> list[dict]:
        """Commit history from the retained snapshot files, newest first —
        the Iceberg snapshots-metadata-table analog.  One dict per
        retained version: ids, timestamps, fence/watermark state, file
        accounting; cheap (reads only metadata JSON)."""
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for fn in os.listdir(self.meta_dir):
            m = re.fullmatch(r"v(\d+)\.json", fn)
            if not m:
                continue
            with open(os.path.join(self.meta_dir, fn)) as f:
                sn = json.load(f)
            out.append({
                "version": sn["version"],
                "parent": sn.get("parent"),
                "ts_ms": sn.get("ts_ms"),
                "batch_id": sn.get("batch_id"),
                "n_buckets_live": len(sn.get("bucket_dirs", {})),
                "n_delta_chains": sum(
                    1 for r in sn.get("delta_dirs", {}).values() if r
                ),
                "n_data_dirs": len(sn.get("dir_versions", {})),
                # None only when the snapshot predates per-commit row
                # accounting (no map at all); a tracked map summing to 0
                # (all rows deleted then compacted away) reports 0
                "base_rows": (
                    sum(int(v) for v in sn["bucket_rows"].values())
                    if sn.get("bucket_rows") is not None else None
                ),
                "max_watermark": max(
                    (int(v) for v in sn.get("watermarks", {}).values()),
                    default=None,
                ),
            })
        return sorted(out, key=lambda d: -d["version"])

    def changed_buckets(
        self, from_version: int, to_version: int
    ) -> list[str] | None:
        """Driver-side physical diff of two retained snapshots: bucket ids
        whose file set (base dir + delta chain) differs between them.

        Returns ``None`` when bucket ids are not comparable across the two
        versions (a :meth:`rebucket` happened in between — same key can live
        in different bucket ids), meaning every bucket must be treated as
        potentially changed.  A compaction between the versions changes
        fingerprints without changing logical content; those buckets are
        reported (and will diff to nothing) — stale layout can cost work,
        never correctness.
        """
        snap_a = self.snapshot(from_version)
        snap_b = self.snapshot(to_version)
        if snap_a.get("n_buckets") != snap_b.get("n_buckets"):
            return None
        # union base dirs AND delta-chain keys: a bucket whose rows exist
        # only as a delta chain (no base dir yet) must still diff — the
        # fingerprint covers the chain, so base-less buckets compare fine
        all_b = (set(snap_a["bucket_dirs"]) | set(snap_b["bucket_dirs"])
                 | set(snap_a.get("delta_dirs", {}))
                 | set(snap_b.get("delta_dirs", {})))
        return sorted(
            (b for b in all_b
             if self._bucket_fingerprint(snap_a, b)
             != self._bucket_fingerprint(snap_b, b)),
            key=int,
        )

    CHANGE_TYPE_COL = "_change_type"

    def changes(
        self, from_version: int, to_version: int | None = None,
        *, deletes: str = "preimage",
    ) -> DataFrame:
        """Change data feed: the row-level difference between two retained
        snapshots (Delta-CDF / Iceberg-changelog analog) — what a downstream
        consumer must apply to move from ``from_version`` to ``to_version``
        (default: current).

        One row per changed key, with every table column plus:

        - ``_change_type``: ``'insert'`` (key absent-or-deleted at from,
          live at to; post-image), ``'update'`` (live at both, any column
          differs; post-image), ``'delete'`` (live at from, absent-or-
          tombstoned at to; pre-image by default).

        ``deletes='tombstone'`` emits the TO-side tombstone row (when it
        still physically exists) as the delete image instead of the
        pre-image: the tombstone carries the DELETE's own version columns,
        which is what a downstream LWW replica needs so the delete WINS
        against the key's last live version (see
        :func:`~activedata_etl_spark.lake.merge.sync_changes`).  Keys whose
        tombstone was compacted away fall back to the pre-image.
        - ``_from_version`` / ``_to_version``: the diffed range.  This is a
          RANGE diff, not a per-commit log: a key updated five times between
          the versions emits one net 'update'; insert-then-delete nets to
          nothing.

        Scale: :meth:`changed_buckets` confines BOTH snapshot reads to the
        buckets whose physical file set differs — a steady-state incremental
        commit touches O(batch) buckets, so the feed costs O(changed data),
        not O(table).  The two sides then full-outer join on the key
        columns; only touched-bucket rows enter that shuffle.  After a
        :meth:`rebucket` the bucket ids are incomparable and one full-table
        diff is paid (loudly documented there as a rare layout event).

        Reference analog: consumers of the reference pipeline re-read whole
        rolled-over destinations to discover what changed
        (`activedata_etl/sinks/s3_bucket.py:92-118` block re-extend); a
        snapshot-diff feed answers the same question from metadata + touched
        buckets only.
        """
        v_to = self.current_version() if to_version is None else to_version
        if v_to is None or from_version > v_to:
            raise ValueError(
                f"changes({from_version}, {to_version}): empty or reversed "
                f"range (current={self.current_version()})"
            )
        snap_to = self.snapshot(v_to)
        schema = T.StructType.fromJson(snap_to["schema"])
        key_cols = list(snap_to["key_cols"])
        data_cols = [f.name for f in schema.fields if f.name != DELETED_COL]
        out_schema = T.StructType(
            [f for f in schema.fields if f.name != DELETED_COL]
            + [T.StructField(self.CHANGE_TYPE_COL, T.StringType(), False),
               T.StructField("_from_version", T.LongType(), False),
               T.StructField("_to_version", T.LongType(), False)]
        )
        if from_version == v_to:
            return self.spark.createDataFrame([], out_schema)
        snap_from = self.snapshot(from_version)
        if list(snap_from["key_cols"]) != key_cols:
            raise ValueError(
                f"changes: key_cols differ between v{from_version} and "
                f"v{v_to} — snapshots are not diffable"
            )
        buckets = self.changed_buckets(from_version, v_to)
        # old side aligned to the NEW schema: a column added between the
        # versions reads as null at from_version, so widening alone never
        # reports an update (null <=> null) unless a value actually landed
        if deletes not in ("preimage", "tombstone"):
            raise ValueError(
                f"deletes must be 'preimage' or 'tombstone', got {deletes!r}"
            )
        old = align_to_schema(
            self.read(buckets=buckets, version=from_version), schema
        ).select(
            *[F.col(k).alias(f"__k_{k}") for k in key_cols],
            F.struct(*[F.col(c) for c in data_cols]).alias("__old"),
        )
        # to-side keeps its tombstones visible: a key tombstoned in the
        # range is a 'delete', and in tombstone mode the tombstone row
        # itself (fresh version columns) is the emitted image
        new = self.read(
            buckets=buckets, version=v_to, include_tombstones=True
        ).select(
            *key_cols,
            F.struct(*[F.col(c) for c in data_cols]).alias("__new"),
            F.coalesce(F.col(DELETED_COL), F.lit(False)).alias("__dead"),
        )
        cond = None
        for k in key_cols:
            c = new[k].eqNullSafe(old[f"__k_{k}"])
            cond = c if cond is None else cond & c
        joined = new.join(old, cond, "full_outer")
        dead = F.coalesce(F.col("__dead"), F.lit(False))
        ctype = (
            F.when(F.col("__old").isNull() & ~dead
                   & F.col("__new").isNotNull(), F.lit("insert"))
            .when(F.col("__old").isNotNull()
                  & (F.col("__new").isNull() | dead), F.lit("delete"))
            .when(F.col("__old").isNotNull() & F.col("__new").isNotNull()
                  & ~F.col("__new").eqNullSafe(F.col("__old")),
                  F.lit("update"))
        )  # equal structs / tombstone-of-never-seen -> null -> dropped below
        del_img = (F.col("__new") if deletes == "tombstone"
                   else F.col("__old"))
        img = (
            F.when(F.col("__new").isNull(), F.col("__old"))
            .when(dead, F.coalesce(del_img, F.col("__old")))
            .otherwise(F.col("__new"))
        )
        return (
            joined
            .select(img.alias("__img"), ctype.alias(self.CHANGE_TYPE_COL))
            .where(F.col(self.CHANGE_TYPE_COL).isNotNull())
            .select(
                *[F.col(f"__img.{c}").alias(c) for c in data_cols],
                self.CHANGE_TYPE_COL,
                F.lit(from_version).cast("long").alias("_from_version"),
                F.lit(v_to).cast("long").alias("_to_version"),
            )
        )

    def dirs_of_version(self, version: int) -> list[str]:
        """Live data dirs written by snapshot ``version`` (from the current
        snapshot's ``dir_versions`` map — dir names carry a nonce and are
        never parsed)."""
        snap = self.snapshot()
        return sorted(
            d for d, v in snap.get("dir_versions", {}).items()
            if int(v) == version
        )

    def dir_bytes(self, rel: str) -> int:
        """Physical bytes under a data dir (write-amplification accounting)."""
        total = 0
        for root, _, files in os.walk(os.path.join(self.location, rel)):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    # -------------------------------------------------------- maintenance

    def compact(
        self,
        drop_tombstones: bool = False,
        buckets: list[int] | None = None,
        max_retries: int = 5,
        sort_by: list[str] | None = None,
    ) -> int:
        """Rewrite buckets at the current schema in one new snapshot (analog
        of re-ETL block consolidation; removes read-time union/cast).
        MOR-lite delta files are folded into the base and cleared — ``read``
        already LWW-merges them, so compaction is read + rewrite.

        ``buckets`` limits the rewrite to a subset — at 10^10 rows the
        steady-state maintenance loop compacts ONLY the delta-carrying
        buckets (see ``maybe_compact``), never the whole table: cost is
        O(buckets compacted), untouched buckets keep their files.

        ``drop_tombstones=True`` garbage-collects delete markers — safe once
        the out-of-order horizon has passed (no stale event older than the
        tombstone can still arrive).

        Concurrency: the fold is computed against a pinned snapshot S, and
        the commit rebases onto whatever snapshot is current at commit time
        (Iceberg-style optimistic concurrency).  Per compacted bucket:
        delta dirs appended AFTER S survive in the read-time merge chain
        (LWW is order-independent, so folding S's files while keeping newer
        deltas is exact); a bucket whose BASE changed since S (concurrent
        CoW/upsert/rewrite) is skipped — its fresh pointers win and only
        the compaction of that bucket is forgone.  Compaction therefore
        never loses concurrent writes; worst case it is a partial no-op.

        ``sort_by`` orders rows within each rewritten bucket (see
        ``write_buckets``) — row-group skipping for non-key filter columns;
        the applied order is recorded in snapshot properties."""
        snap = self.snapshot()
        pinned = snap["version"]
        df = self.read(buckets=buckets, include_tombstones=not drop_tombstones,
                       version=pinned)
        if DELETED_COL not in df.columns:
            df = df.withColumn(DELETED_COL, F.lit(False))
        df = self.bucket_of(df)
        rel = self.write_buckets(df, pinned + 1, sort_by=sort_by)
        written = self.written_bucket_rows(rel)
        # buckets this fold covers: the requested subset, else every bucket
        # S referenced (base or delta) — a bucket in scope but absent from
        # `written` compacted away to zero rows
        if buckets is None:
            scope = set(snap["bucket_dirs"]) | set(snap.get("delta_dirs", {}))
        else:
            scope = {str(b) for b in buckets}
        s_base = snap["bucket_dirs"]
        s_deltas = snap.get("delta_dirs", {})
        for _ in range(max_retries):
            fresh = self.snapshot()
            new = dict(fresh)
            new["version"] = fresh["version"] + 1
            new["parent"] = fresh["version"]
            new["ts_ms"] = int(time.time() * 1000)
            bucket_dirs = dict(fresh["bucket_dirs"])
            bucket_rows = dict(fresh.get("bucket_rows", {}))
            delta_dirs = {b: list(r) for b, r in
                          fresh.get("delta_dirs", {}).items()}
            repointed = 0
            for b in scope:
                if fresh["bucket_dirs"].get(b) != s_base.get(b):
                    continue  # base rewritten since S: their fold wins
                repointed += 1
                folded = set(s_deltas.get(b, []))
                newer = [d for d in delta_dirs.get(b, []) if d not in folded]
                if b in written:
                    bucket_dirs[b] = rel
                    bucket_rows[b] = written[b]
                else:
                    bucket_dirs.pop(b, None)
                    bucket_rows.pop(b, None)
                if newer:
                    delta_dirs[b] = newer
                else:
                    delta_dirs.pop(b, None)
            if repointed == 0 and fresh["version"] != pinned:
                # every bucket was superseded concurrently: clean no-op
                return fresh["version"]
            new["bucket_dirs"] = bucket_dirs
            new["bucket_rows"] = bucket_rows
            new["delta_dirs"] = delta_dirs
            if sort_by:
                new.setdefault("properties", {})
                new["properties"] = dict(
                    new["properties"], sort_order=list(sort_by)
                )
            # prune dir_versions to dirs this snapshot still references —
            # snapshot JSON stays O(buckets), not O(commits ever made)
            live = set(bucket_dirs.values()) | {
                r for rels in delta_dirs.values() for r in rels
            }
            new["dir_versions"] = {
                d: v for d, v in
                dict(fresh["dir_versions"], **{rel: new["version"]}).items()
                if d in live
            }
            try:
                self._commit_snapshot(new)
                return new["version"]
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"compact at {self.location} lost {max_retries} consecutive "
            f"commit races; retry when the writer burst subsides"
        )

    def delta_stats(self) -> dict:
        """Per-bucket delta file/dir pressure from snapshot metadata only —
        the input to the compaction policy; no filesystem walk, no job."""
        snap = self.snapshot()
        deltas = {b: len(r) for b, r in snap.get("delta_dirs", {}).items() if r}
        return {
            "buckets_with_deltas": len(deltas),
            "max_deltas_per_bucket": max(deltas.values(), default=0),
            "total_delta_dirs": sum(deltas.values()),
            "per_bucket": deltas,
        }

    def maybe_compact(
        self,
        max_deltas_per_bucket: int = 8,
        drop_tombstones: bool = False,
    ) -> int | None:
        """Steady-state maintenance hook: compact ONLY the buckets whose
        delta chain exceeds ``max_deltas_per_bucket``, bounding read-time
        merge work to a constant number of delta files per bucket while
        keeping compaction cost O(hot buckets), not O(table).  Returns the
        new snapshot version, or None when nothing crossed the threshold."""
        hot = [
            int(b) for b, n in self.delta_stats()["per_bucket"].items()
            if n > max_deltas_per_bucket
        ]
        if not hot:
            return None
        return self.compact(drop_tombstones=drop_tombstones, buckets=hot)

    def rebucket(
        self,
        n_buckets: int | None = None,
        *,
        target_bucket_bytes: int = TARGET_BUCKET_BYTES,
        max_retries: int = 3,
    ) -> int:
        """Layout evolution: rewrite the whole table under a NEW bucket
        count (Iceberg partition-spec-evolution analog, resolved by full
        rewrite).  A table created at 10^7 rows with 64 buckets that grows
        to 10^10 rows has ~150M-row buckets — every CoW rewrite giant,
        every point lookup a huge scan; ``rebucket`` restores the
        ~``target_bucket_bytes``-per-bucket invariant the creation-time
        ``suggest_n_buckets`` established.

        ``n_buckets=None`` auto-sizes from the CURRENT table: row count
        from snapshot metadata (no job), average row bytes measured from
        the live data dirs (driver-side walk), fed through
        ``suggest_n_buckets``.  Returns the current version unchanged when
        the suggestion equals the existing layout.

        The rewrite is one shuffle: ``repartition(n_new, *key_cols)`` uses
        Spark's HashPartitioning — ``pmod(murmur3(keys), n_new)``, the SAME
        formula as the bucket id — so every output partition holds exactly
        one new bucket and the partitioned write emits one file per bucket
        with no second shuffle.  MOR-lite deltas are folded (``read`` LWW-
        merges them); tombstones are PRESERVED (the out-of-order horizon
        may not have passed — drop them later via ``compact``).

        Concurrency: a rebucket invalidates every bucket pointer at once,
        so unlike ``compact`` there is no per-bucket rebase — if any DATA
        commit (ingest, compact, rewrite) lands between the pinned read and
        the commit, the whole rewrite recomputes against the winner.
        Metadata-only commits (analyze, schema) rebase for free.  Old zone
        maps self-invalidate: their fingerprints reference the replaced
        dirs, so ``prunable_buckets`` scans everything until the next
        ``analyze``.
        """
        snap0 = self.snapshot()
        if n_buckets is None:
            rows = self.base_row_count() or 0
            live = set(snap0["bucket_dirs"].values())
            for rels in snap0.get("delta_dirs", {}).values():
                live.update(rels)
            total_bytes = sum(self.dir_bytes(d) for d in live)
            n_buckets = suggest_n_buckets(
                rows,
                avg_row_bytes=max(1, total_bytes // max(1, rows)),
                target_bucket_bytes=target_bucket_bytes,
            )
        if n_buckets == snap0["n_buckets"]:
            return snap0["version"]
        keys = snap0["key_cols"]
        for _ in range(max_retries):
            snap = self.snapshot()
            pinned = snap["version"]
            df = self.read(include_tombstones=True, version=pinned)
            if DELETED_COL not in df.columns:
                df = df.withColumn(DELETED_COL, F.lit(False))
            df = df.repartition(n_buckets, *[F.col(c) for c in keys]) \
                   .withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
            rel = self.write_buckets(df, pinned + 1)
            written = self.written_bucket_rows(rel)
            fresh = self.snapshot()
            if (fresh["bucket_dirs"] != snap["bucket_dirs"]
                    or fresh.get("delta_dirs", {})
                    != snap.get("delta_dirs", {})):
                continue  # concurrent data commit: recompute from winner
            new = dict(fresh)
            new["version"] = fresh["version"] + 1
            new["parent"] = fresh["version"]
            new["ts_ms"] = int(time.time() * 1000)
            new["n_buckets"] = int(n_buckets)
            new["bucket_dirs"] = {b: rel for b in written}
            new["bucket_rows"] = dict(written)
            new["delta_dirs"] = {}
            new["dir_versions"] = {rel: new["version"]}
            try:
                self._commit_snapshot(new)
                return new["version"]
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"rebucket at {self.location} lost {max_retries} consecutive "
            f"races against concurrent writers; retry when the burst "
            f"subsides"
        )

    def maybe_rebucket(
        self,
        *,
        growth_factor: float = 4.0,
        target_bucket_bytes: int = TARGET_BUCKET_BYTES,
    ) -> int | None:
        """Steady-state layout hook, the `maybe_compact` complement: rebucket
        ONLY when the layout has drifted at least ``growth_factor`` from the
        per-bucket target — the auto-sized suggestion is >= current x factor
        (table grew ~2 doublings past its layout) or <= current / factor
        (mass deletes + compaction shrank it).  The hysteresis band makes the
        check free to call after every ingest burst: a full-table rewrite
        happens at most once per ~log_factor(growth) epochs, never per batch.
        Decision inputs are all driver-side (snapshot row counts + a
        filesystem walk for bytes) — no Spark job unless a rewrite fires.
        Returns the new version, or None when the layout is within band.
        """
        snap = self.snapshot()
        rows = self.base_row_count() or 0
        live = set(snap["bucket_dirs"].values())
        for rels in snap.get("delta_dirs", {}).values():
            live.update(rels)
        if not live or rows == 0:
            return None
        total_bytes = sum(self.dir_bytes(d) for d in live)
        suggested = suggest_n_buckets(
            rows,
            avg_row_bytes=max(1, total_bytes // max(1, rows)),
            target_bucket_bytes=target_bucket_bytes,
        )
        cur = snap["n_buckets"]
        if cur / growth_factor < suggested < cur * growth_factor:
            return None
        return self.rebucket(
            suggested, target_bucket_bytes=target_bucket_bytes
        )

    def set_properties(self, max_retries: int = 5, **props) -> int:
        """Metadata-only commit updating snapshot ``properties`` (no data
        files touched; ``changed_buckets`` across it is empty).  Used for
        small durable cursors — e.g. :func:`~activedata_etl_spark.lake.
        merge.sync_changes` records how far a replica has consumed its
        source's change feed.  CAS-retried like every other commit."""
        for _ in range(max_retries):
            snap = self.snapshot()
            new = dict(snap)
            new["version"] = snap["version"] + 1
            new["parent"] = snap["version"]
            new["ts_ms"] = int(time.time() * 1000)
            new["properties"] = dict(snap.get("properties", {}), **props)
            try:
                self._commit_snapshot(new)
                return new["version"]
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"set_properties at {self.location} lost {max_retries} commit races"
        )

    def update_where(self, condition, set_exprs: dict, max_retries: int = 5) -> int:
        """UPDATE ... SET ... WHERE — the reference's in-place update
        (`ListContainer.update({"set","clear","where"})`,
        `vendor/jx_python/containers/list_usingPythonList.py:122-139`).
        Copy-on-write: rewrites the table at a new snapshot version.  On a
        commit conflict the whole op re-runs against the winner's snapshot
        (a full rewrite has no narrower rebase)."""
        for _ in range(max_retries):
            snap = self.snapshot()
            df = self.read(include_tombstones=True, version=snap["version"])
            cond = F.expr(condition) if isinstance(condition, str) else condition
            for name, expr in set_exprs.items():
                value = F.expr(expr) if isinstance(expr, str) else expr
                df = df.withColumn(name, F.when(cond, value).otherwise(F.col(name)))
            try:
                return self._rewrite(snap, df)
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"update_where at {self.location} lost {max_retries} commit races"
        )

    def delete_where(self, condition, max_retries: int = 5) -> int:
        """DELETE FROM ... WHERE (`Index.delete_record`,
        `vendor/pyLibrary/env/elasticsearch.py:241`).  Rows are physically
        removed (maintenance op, not a CDC tombstone).  Re-runs on commit
        conflict, like ``update_where``."""
        for _ in range(max_retries):
            snap = self.snapshot()
            cond = F.expr(condition) if isinstance(condition, str) else condition
            df = self.read(
                include_tombstones=True, version=snap["version"]
            ).where(~F.coalesce(cond, F.lit(False)))
            try:
                return self._rewrite(snap, df)
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"delete_where at {self.location} lost {max_retries} commit races"
        )

    def _rewrite(self, snap: dict, df: DataFrame) -> int:
        new_version = snap["version"] + 1
        df = self.bucket_of(df)
        rel = self.write_buckets(df, new_version)
        bucket_rows = self.written_bucket_rows(rel)
        new = dict(snap)
        new["version"] = new_version
        new["parent"] = snap["version"]
        new["ts_ms"] = int(time.time() * 1000)
        # repoint from what was WRITTEN, not from the old snapshot's bucket
        # set: a SET on a key column moves rows to new buckets (which must
        # become visible) and can empty old ones (which must be dropped).
        # ``read`` folded any deltas into the rewritten rows, so clear them.
        new["bucket_dirs"] = {b: rel for b in bucket_rows}
        new["dir_versions"] = {rel: new_version}
        new["delta_dirs"] = {}
        new["bucket_rows"] = bucket_rows
        self._commit_snapshot(new)
        return new_version

    def expire_snapshots(
        self, keep_last: int = 2, orphan_grace_s: float = 3600.0
    ) -> list[str]:
        """Drop snapshot files and data dirs unreachable from the newest
        ``keep_last`` snapshots (Iceberg ``expireSnapshots`` analog).

        Dirs referenced by SOME snapshot file are removed as soon as that
        snapshot expires.  A dir referenced by NO snapshot at all is either
        a commit-conflict loser or an in-flight writer's work-in-progress —
        indistinguishable from the filesystem alone — so true orphans are
        only collected once older than ``orphan_grace_s`` (Iceberg's
        orphan-file grace period; any real commit follows its data write
        within seconds)."""
        cur = self.current_version()
        if cur is None:
            return []
        keep_versions = set(range(max(0, cur - keep_last + 1), cur + 1))
        # tagged versions are durable refs: immune to age-based expiry
        keep_versions.update(self.tags().values())
        live_dirs: set[str] = set()
        referenced: set[str] = set()  # by ANY snapshot file, kept or not
        for fn in os.listdir(self.meta_dir):
            m = re.fullmatch(r"v(\d+)\.json", fn)
            if not m:
                continue
            with open(os.path.join(self.meta_dir, fn)) as f:
                s = json.load(f)
            refs = set(s["bucket_dirs"].values())
            for rels in s.get("delta_dirs", {}).values():
                refs.update(rels)
            refs.update(s.get("lineage_dirs", []))
            stats_rel = (s.get("properties", {})
                         .get("column_stats", {}).get("bucket_stats_dir"))
            if stats_rel:
                refs.add(stats_rel)
            referenced.update(refs)
            if int(m.group(1)) in keep_versions:
                live_dirs.update(refs)
        removed = []
        now = time.time()

        def _sweep(root_name: str) -> None:
            root = os.path.join(self.location, root_name)
            if not os.path.isdir(root):
                return
            for d in os.listdir(root):
                rel = f"{root_name}/{d}"
                if rel in live_dirs:
                    continue
                if rel not in referenced:  # never committed: grace-gated
                    try:
                        age = now - os.path.getmtime(os.path.join(root, d))
                    except OSError:
                        continue
                    if age < orphan_grace_s:
                        continue
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                removed.append(rel)

        _sweep("data")
        # lineage dirs orphaned by consolidation (merge.py folds old
        # per-commit dirs into one) or by snapshot expiry
        _sweep("lineage")
        _sweep("stats")  # zone-map side files of expired ANALYZE commits
        for fn in os.listdir(self.meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                v = int(fn[1:-5])
                if v not in keep_versions:
                    os.remove(os.path.join(self.meta_dir, fn))
                    removed.append(f"metadata/{fn}")
        return removed

    def _bucket_fingerprint(self, snap: dict, b: str) -> str:
        """Identity of a bucket's physical contents in ``snap``: its base dir
        + delta chain.  Zone-map pruning is only sound against the exact file
        set the stats were measured over; any rewrite/append changes this."""
        fp = [snap["bucket_dirs"].get(b),
              sorted(snap.get("delta_dirs", {}).get(b, []))]
        return json.dumps(fp, sort_keys=True)

    def analyze(self, columns: list[str] | None = None) -> dict:
        """Column statistics maintenance op: per-column non-null count,
        approximate cardinality (HLL), min and max — table-wide AND per
        bucket — computed in ONE distributed ``rollup`` pass.  The analog of
        the reference's background column-metadata daemon
        (`vendor/jx_elasticsearch/meta.py:338,546` cardinality sampling),
        re-expressed as an explicit Iceberg-style ANALYZE.

        Table-level stats land in snapshot ``properties["column_stats"]``.
        Per-bucket zone maps (min/max/count per column, one row per bucket)
        go to a side file under ``stats/`` — the Iceberg-manifest pattern:
        snapshot JSON stays O(columns), the O(buckets × columns) payload is
        a separate driver-readable file referenced by relpath.  Each bucket's
        zone map is stamped with a fingerprint of its physical file set, so
        ``prunable_buckets``/``read(filters=...)`` can skip buckets the
        filter provably excludes while always scanning buckets that changed
        since the ANALYZE (stale stats can never drop rows).
        """
        snap = self.snapshot()
        schema = T.StructType.fromJson(snap["schema"])
        atomic = (T.NumericType, T.StringType, T.TimestampType, T.DateType,
                  T.BooleanType)
        names = [
            f.name for f in schema.fields
            if (columns is None or f.name in columns)
            and isinstance(f.dataType, atomic) and f.name != DELETED_COL
        ]
        df = self.bucket_of(self.read())
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in names:
            aggs += [
                F.count(c).alias(f"n__{c}"),
                F.approx_count_distinct(c).alias(f"card__{c}"),
                F.min(c).alias(f"min__{c}"),
                F.max(c).alias(f"max__{c}"),
            ]
        # rollup = per-bucket groups + one grand-total group, single pass
        # (unlike groupBy().agg, rollup on an EMPTY table emits no rows at
        # all — not even the grand total — so an empty table yields zeros)
        rows = df.rollup(BUCKET_COL).agg(*aggs).collect()

        def _j(v):  # JSON-safe rendering for snapshot storage
            return v if v is None or isinstance(v, (int, float, bool, str)) \
                else str(v)

        total = next(
            (r.asDict() for r in rows if r[BUCKET_COL] is None),
            {"__rows": 0, **{f"{p}__{c}": 0 if p in ("n", "card") else None
                             for c in names for p in ("n", "card", "min",
                                                      "max")}},
        )
        stats = {
            "rows": int(total["__rows"]),
            "snapshot_version": snap["version"],
            "ts_ms": int(time.time() * 1000),
            "columns": {
                c: {
                    "count": int(total[f"n__{c}"]),
                    "null_count": int(total["__rows"]) - int(total[f"n__{c}"]),
                    "cardinality": int(total[f"card__{c}"]),
                    "min": _j(total[f"min__{c}"]),
                    "max": _j(total[f"max__{c}"]),
                }
                for c in names
            },
        }
        buckets = {
            str(r[BUCKET_COL]): {
                "fingerprint": self._bucket_fingerprint(
                    snap, str(r[BUCKET_COL])),
                "rows": int(r[f"__rows"]),
                "cols": {
                    c: {
                        "count": int(r[f"n__{c}"]),
                        "min": _j(r[f"min__{c}"]),
                        "max": _j(r[f"max__{c}"]),
                    }
                    for c in names
                },
            }
            for r in (r.asDict() for r in rows) if r[BUCKET_COL] is not None
        }
        stats_rel = f"stats/v{snap['version'] + 1}-{uuid.uuid4().hex[:8]}"
        os.makedirs(os.path.join(self.location, stats_rel), exist_ok=True)
        with open(os.path.join(self.location, stats_rel,
                               "bucket_stats.json"), "w") as f:
            json.dump({"snapshot_version": snap["version"],
                       "columns": names, "buckets": buckets}, f)
        stats["bucket_stats_dir"] = stats_rel
        # metadata-only commit: trivially rebased onto whatever snapshot is
        # current if a writer races us (stats stay stamped with the version
        # they were measured against)
        for _ in range(5):
            base = self.snapshot()
            new = dict(base)
            new["version"] = base["version"] + 1
            new["parent"] = base["version"]
            new["ts_ms"] = stats["ts_ms"]
            new.setdefault("properties", {})
            new["properties"] = dict(new["properties"], column_stats=stats)
            try:
                self._commit_snapshot(new)
                return stats
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"analyze at {self.location} lost 5 commit races"
        )

    def maybe_analyze(
        self,
        max_commits_stale: int = 16,
        columns: list[str] | None = None,
    ) -> dict | None:
        """Steady-state maintenance hook: refresh column stats + zone maps
        when ``max_commits_stale`` commits have landed since the last
        ANALYZE — the scheduled analog of the reference's background
        column-metadata daemon (`vendor/jx_elasticsearch/meta.py:546`),
        shaped like ``maybe_compact``/``maybe_rebucket`` so ingest loops
        invoke all three uniformly.

        The staleness check is driver-side O(1) (two snapshot-version
        ints); a never-analyzed table counts staleness from version 0, so
        a fresh table doesn't pay the O(table) ANALYZE scan on its first
        batches.  Stale zone maps only cost pruning efficiency, never
        correctness (``prunable_buckets`` rescans any bucket whose
        fingerprint drifted from its stamp), so the threshold trades scan
        cost against pruning freshness — size it to batch cadence at the
        deployment scale.  Returns the stats dict, or None when fresh.
        """
        snap = self.snapshot()
        stats = snap.get("properties", {}).get("column_stats")
        last = int(stats["snapshot_version"]) if stats else 0
        if int(snap["version"]) - last < max_commits_stale:
            return None
        return self.analyze(columns=columns)

    def maybe_expire(
        self,
        max_snapshots: int = 64,
        keep_last: int = 8,
        orphan_grace_s: float = 3600.0,
    ) -> list[str] | None:
        """Maintenance hook: run :meth:`expire_snapshots` once the metadata
        dir holds more than ``max_snapshots`` snapshot files — bounds
        metadata growth (one JSON per commit, O(commits ever) otherwise)
        without an external scheduler; the check is a driver-side listdir.
        Returns the removed dirs, or None while under threshold.

        Expiry deletes time-travel history, so ingest loops leave this
        OPT-IN (``replay_journal(expire_max_snapshots=...)``) — unlike
        ``maybe_compact``/``maybe_analyze``, which never drop state a
        pinned reader could need beyond the already-documented snapshot
        retention contract.
        """
        n = sum(1 for fn in os.listdir(self.meta_dir)
                if re.fullmatch(r"v(\d+)\.json", fn))
        if n <= max_snapshots:
            return None
        return self.expire_snapshots(
            keep_last=keep_last, orphan_grace_s=orphan_grace_s
        )

    # ---------------------------------------------------------------- misc

    def read_lineage(self) -> DataFrame:
        snap = self.snapshot()
        dirs = [os.path.join(self.location, d) for d in snap.get("lineage_dirs", [])]
        dirs = [d for d in dirs if os.path.exists(d)]
        if not dirs:
            raise FileNotFoundError("no lineage recorded yet")
        from activedata_etl_spark.lake.merge import LINEAGE_SCHEMA

        # merge._commit writes this fixed schema driver-side: no inference
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(*dirs)
