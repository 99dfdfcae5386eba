"""SnapshotTable unit tests: schema evolution, compaction, expiry, streaming."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from activedata_etl_spark.lake.merge import apply_batch
from activedata_etl_spark.lake.schema_evolution import (
    SchemaMergeError,
    merge_schemas,
)
from activedata_etl_spark.lake.table import SnapshotTable
from activedata_etl_spark.streaming.replay import ensure_table

COLS_V1 = (
    "partition int, offset long, commit_seq long, op string, repo string, "
    "path string, commit string, lang string, content string, ts timestamp"
)
COLS_V2 = COLS_V1 + ", mode string"


def _norm(df):
    from activedata_etl_spark.functions.normalize import normalize_batch

    return normalize_batch(df)


def test_merge_schemas_widening():
    a = T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())])
    b = T.StructType([T.StructField("x", T.DoubleType()), T.StructField("z", T.BooleanType())])
    merged, changes = merge_schemas(a, b)
    assert [f.dataType.simpleString() for f in merged.fields] == ["double", "string", "boolean"]
    assert any(c.startswith("widen x") for c in changes)
    assert any(c.startswith("add z") for c in changes)

    c = T.StructType([T.StructField("x", T.StructType([]))])
    with pytest.raises(SchemaMergeError):
        merge_schemas(a, c)


def test_align_arrow_matches_align_to_schema(spark, tmp_path):
    """align_arrow (a lookup's driver-side widening) == align_to_schema
    (the Spark read's) on every lattice step from a Spark-written dir:
    boolean -> int, int -> string, long -> double, float and double ->
    string (Spark's text, e.g. ``1.0E20`` and JDK 17's
    ``1.9999999999999998E23``), array<int> -> array<double>,
    array<double> -> array<string>, and a missing column."""
    import pyarrow.parquet as pq

    from activedata_etl_spark.lake.schema_evolution import (
        align_arrow,
        align_to_schema,
        footer_schema,
    )

    nan = float("nan")
    rows = [
        (True, 5, 2 ** 62 + 1, 1.0, 1e20, [1, None], [0.5, nan, None]),
        (False, -7, -3, 5.2192488e7, 2e23, [], [1e-5, -0.0]),
        (None, None, None, nan, -0.0, None, None),
        (True, 0, 0, -1e-3, 4.9e-324, [2 ** 30], [123456789.0]),
    ]
    path = str(tmp_path / "phys")
    spark.createDataFrame(
        rows, "b boolean, i int, l long, f float, d double, ai array<int>, "
        "ad array<double>").write.parquet(path)
    target = T.StructType.fromDDL(
        "b int, i string, l double, f string, d string, ai array<double>, "
        "ad array<string>, new string")
    want = align_to_schema(spark.read.parquet(path), target).collect()
    got = spark.createDataFrame(
        align_arrow(pq.read_table(path), footer_schema(path), target,
                    spark._jvm),
        target).collect()
    assert sorted(map(repr, got)) == sorted(map(repr, want))


def test_add_column_mid_stream(spark, tmp_path):
    loc = str(tmp_path / "lake_evo")
    b1 = spark.createDataFrame(
        [(0, 0, 0, "insert", "r", "a.py", "c" * 12, None, "X", None)], COLS_V1
    )
    table = ensure_table(spark, loc, b1.schema)
    apply_batch(table, _norm(b1), 0)
    assert "mode" not in [f.name for f in table.schema().fields]

    b2 = spark.createDataFrame(
        [(0, 1, 1, "insert", "r", "b.py", "d" * 12, None, "Y", None, "100644")],
        COLS_V2,
    )
    s = apply_batch(table, _norm(b2), 1)
    assert any(c.startswith("add mode") for c in s["schema_changes"])
    got = {r["path"]: r["mode"] for r in table.read().collect()}
    assert got == {"a.py": None, "b.py": "100644"}  # old rows read as null


def test_widen_column_mid_stream(spark, tmp_path):
    loc = str(tmp_path / "lake_widen")
    s1 = COLS_V1 + ", size int"
    s2 = COLS_V1 + ", size double"
    b1 = spark.createDataFrame(
        [(0, 0, 0, "insert", "r", "a.py", "c" * 12, None, "X", None, 7)], s1
    )
    table = ensure_table(spark, loc, b1.schema)
    apply_batch(table, _norm(b1), 0)
    b2 = spark.createDataFrame(
        [(0, 1, 1, "insert", "r", "b.py", "d" * 12, None, "Y", None, 2.5)], s2
    )
    s = apply_batch(table, _norm(b2), 1)
    assert any("widen size: int -> double" in c for c in s["schema_changes"])
    got = dict((r["path"], r["size"]) for r in table.read().collect())
    assert got == {"a.py": 7.0, "b.py": 2.5}


def test_compact_and_expire(spark, tmp_path):
    import os

    loc = str(tmp_path / "lake_compact")
    b1 = spark.createDataFrame(
        [(0, 0, 0, "insert", "r", "a.py", "c" * 12, None, "X", None)], COLS_V1
    )
    table = ensure_table(spark, loc, b1.schema)
    apply_batch(table, _norm(b1), 0)
    b2 = spark.createDataFrame(
        [(0, 1, 1, "insert", "r", "b.js", "d" * 12, None, "Y", None)], COLS_V1
    )
    apply_batch(table, _norm(b2), 1)
    before = table.read().orderBy("path").toPandas()

    v = table.compact()
    after = table.read().orderBy("path").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)
    assert len(set(table.snapshot()["dir_versions"].values())) == 1

    removed = table.expire_snapshots(keep_last=1)
    assert removed
    still = table.read().orderBy("path").toPandas()
    pd.testing.assert_frame_equal(before, still)
    assert table.current_version() == v


def test_streaming_replay_and_resume(spark, tmp_path):
    from activedata_etl_spark.journal import read_journal, write_journal
    from activedata_etl_spark.streaming.replay import stream_journal
    from tests.oracle import assert_table_matches_oracle

    jd = str(tmp_path / "journal")
    write_journal(spark, 2048, jd)
    pdf = read_journal(spark, jd).toPandas()

    loc = str(tmp_path / "lake_stream")
    ckpt = str(tmp_path / "ckpt")
    stream_journal(spark, jd, loc, ckpt, max_files_per_trigger=1, timeout_sec=120)
    table = SnapshotTable(spark, loc)
    assert_table_matches_oracle(table.read(), pdf)
    v = table.current_version()

    # resume from checkpoint: no new files -> no state change
    stream_journal(spark, jd, loc, ckpt, max_files_per_trigger=1, timeout_sec=120)
    assert_table_matches_oracle(table.read(), pdf)

    # fresh checkpoint, same data: every epoch is fenced/watermarked to no-op
    ckpt2 = str(tmp_path / "ckpt2")
    stream_journal(spark, jd, loc, ckpt2, timeout_sec=120)
    assert_table_matches_oracle(table.read(), pdf)


def test_update_where_moving_key_stays_visible(spark, tmp_path):
    """UPDATE that changes a KEY column moves rows to new hash buckets; the
    new snapshot must point at the buckets actually written (a row moving
    into a previously-empty bucket used to become invisible)."""
    loc = str(tmp_path / "lake_keymove")
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, f"X{i}", None)
        for i in range(6)
    ]
    b = spark.createDataFrame(rows, COLS_V1)
    table = ensure_table(spark, loc, b.schema, n_buckets=16)
    apply_batch(table, _norm(b), 0)
    assert table.read().count() == 6

    table.update_where("path = 'f3.py'", {"path": "'moved/deep/f3.py'"})
    got = {r["path"] for r in table.read().collect()}
    assert got == {"f0.py", "f1.py", "f2.py", "moved/deep/f3.py", "f4.py", "f5.py"}

    # and a delete that empties buckets must drop their pointers
    table.delete_where("path like 'f%'")
    assert {r["path"] for r in table.read().collect()} == {"moved/deep/f3.py"}


def test_incremental_merge_touches_few_buckets(spark, tmp_path):
    """An incremental batch must NOT rewrite the whole table: the pre-pass
    reports only the buckets of the batch's live events as touched."""
    loc = str(tmp_path / "lake_sumtouch")
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, f"X{i}", None)
        for i in range(40)
    ]
    b0 = spark.createDataFrame(rows, COLS_V1)
    table = ensure_table(spark, loc, b0.schema, n_buckets=32)
    s0 = apply_batch(table, _norm(b0), 0)
    assert s0["rows_applied"] == 40

    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f7.py", "d" * 12, None, "NEW", None)],
        COLS_V1,
    )
    s1 = apply_batch(table, _norm(b1), 1)
    assert s1["touched_buckets"] == 1
    got = {r["path"]: r["content"] for r in table.read().collect()}
    assert got["f7.py"] == "NEW" and len(got) == 40


def test_invalid_event_cannot_poison_event_time_watermark(spark, tmp_path):
    """A quarantined (invalid) event carrying a far-future timestamp must NOT
    advance max_event_ts — it would make every later real event 'late' and
    quarantine the whole stream forever."""
    import datetime as dt

    loc = str(tmp_path / "lake_wm_poison")
    b1 = spark.createDataFrame(
        [
            (0, 0, 0, "insert", "r", "a.py", "c" * 12, None, "X",
             dt.datetime(2024, 1, 1)),
            # null repo -> invalid -> quarantined; ts year 2100
            (0, 1, 1, "insert", None, "evil.py", "d" * 12, None, "Y",
             dt.datetime(2100, 1, 1)),
        ],
        COLS_V1,
    )
    table = ensure_table(spark, loc, b1.schema)
    apply_batch(table, _norm(b1), 0, late_threshold_sec=3600)
    lin = table.read_lineage().where("partition = -1").collect()
    assert lin[-1]["invalid_events"] == 1
    snap = table.snapshot()
    assert snap.get("max_event_ts") == int(dt.datetime(
        2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    # the stream keeps ingesting: a normal next-day event is NOT late
    b2 = spark.createDataFrame(
        [(0, 2, 2, "insert", "r", "b.py", "e" * 12, None, "Z",
          dt.datetime(2024, 1, 2))],
        COLS_V1,
    )
    s2 = apply_batch(table, _norm(b2), 1, late_threshold_sec=3600)
    assert s2["rows_applied"] == 1
    lin2 = table.read_lineage().where("partition = -1").orderBy("batch_id").collect()
    assert lin2[-1]["late_events"] == 0
    # and no ghost all-null row leaked from the invalid event
    assert {r["path"] for r in table.read().collect()} == {"a.py", "b.py"}


def test_null_key_below_watermark_does_not_hide_live_event(spark, tmp_path):
    """An event that is both below the watermark and missing its key is
    counted under both flags in the lineage, yet the live row next to it is
    still applied (live rows are counted directly, not derived from the
    overlapping drop counters)."""
    table = _mk_base(spark, str(tmp_path / "lake_overlap"), n=8, n_buckets=4)
    b1 = spark.createDataFrame(
        [(0, 3, 3, "update", None, "f3.py", "d" * 12, None, "OLD", None),
         (0, 50, 50, "update", "r", "f5.py", "d" * 12, None, "NEW", None)],
        COLS_V1,
    )
    s = apply_batch(table, _norm(b1), 1)
    assert s["merge_mode"] != "metadata_only" and s["rows_applied"] == 1
    lin = table.read_lineage().where("batch_id = 1 AND partition = -1").first()
    assert (lin["rows_read"], lin["below_watermark"],
            lin["invalid_events"]) == (2, 1, 1)
    got = {r["path"]: r["content"] for r in table.read().collect()}
    assert got["f5.py"] == "NEW" and len(got) == 8


def test_key_dtype_pinned_to_table_schema(spark, tmp_path):
    """A batch whose key column arrives with a different physical type must
    bucket identically to the table's existing rows — otherwise the same key
    lives twice (F.hash(int) != F.hash(long) for equal values)."""
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("commit_seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    loc = str(tmp_path / "lake_keypin")
    table = SnapshotTable.create(spark, loc, schema, key_cols=["id"])
    b1 = spark.createDataFrame(
        [(0, "insert", 7, 0, 0, "old")],
        "partition int, op string, id int, offset long, commit_seq long, v string")
    apply_batch(table, b1, 0, version_cols=("commit_seq", "offset"))
    b2 = spark.createDataFrame(
        [(0, "insert", 7, 1, 1, "new")],
        "partition int, op string, id long, offset long, commit_seq long, v string")
    apply_batch(table, b2, 1, version_cols=("commit_seq", "offset"))
    rows = table.read().collect()
    assert [(r["id"], r["v"]) for r in rows] == [(7, "new")]


def test_create_without_deleted_col_still_merges(spark, tmp_path):
    """SnapshotTable.create adds the tombstone column when the caller's
    schema lacks it — apply_batch references it unconditionally."""
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("commit_seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    loc = str(tmp_path / "lake_nodel")
    table = SnapshotTable.create(spark, loc, schema, key_cols=["id"])
    b = spark.createDataFrame(
        [(0, "insert", 1, 0, 0, "x")],
        "partition int, op string, id long, offset long, commit_seq long, v string")
    s = apply_batch(table, b, 0, version_cols=("commit_seq", "offset"))
    assert s["rows_applied"] == 1
    assert table.read().count() == 1


def _mk_base(spark, loc, n=40, n_buckets=32, **kw):
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, "X" * 50, None)
        for i in range(n)
    ]
    b0 = spark.createDataFrame(rows, COLS_V1)
    table = ensure_table(spark, loc, b0.schema, n_buckets=n_buckets)
    apply_batch(table, _norm(b0), 0, **kw)
    return table


def test_delta_mode_bounds_write_amplification(spark, tmp_path):
    """A small incremental batch (auto -> delta) must write O(batch) bytes,
    not rewrite every touched bucket — and converge to the same table state
    as the CoW twin."""
    loc_d = str(tmp_path / "lake_delta")
    loc_c = str(tmp_path / "lake_cow")
    t_delta = _mk_base(spark, loc_d)
    t_cow = _mk_base(spark, loc_c)
    # batch 0 wrote snapshot v1 (dir names carry a nonce; resolve via metadata)
    base_bytes = sum(t_delta.dir_bytes(d) for d in t_delta.dirs_of_version(1))

    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f7.py", "d" * 12, None, "NEW", None)],
        COLS_V1,
    )
    s_d = apply_batch(t_delta, _norm(b1), 1)
    s_c = apply_batch(t_cow, _norm(b1), 1, merge_mode="cow")
    assert s_d["merge_mode"] == "delta" and s_c["merge_mode"] == "cow"
    assert t_delta.snapshot()["delta_dirs"]  # delta recorded in metadata

    delta_bytes = t_delta.dir_bytes(s_d["data_rel"])
    cow_bytes = t_cow.dir_bytes(s_c["data_rel"])
    # the delta write is batch-sized; the CoW write rewrote whole buckets
    assert delta_bytes < base_bytes * 0.2
    assert delta_bytes < cow_bytes

    a = sorted(map(tuple, t_delta.read().collect()))
    b = sorted(map(tuple, t_cow.read().collect()))
    assert a == b and len(a) == 40


def test_delta_versions_tombstones_and_compact(spark, tmp_path):
    """Read-time LWW over base ∪ deltas: stale deltas lose, fresh ones win,
    delta tombstones hide keys and block resurrection; compact() folds all
    deltas and preserves the converged state."""
    loc = str(tmp_path / "lake_dv")
    # 100-row base so a 3-event batch is under the 5% auto-delta threshold
    table = _mk_base(spark, loc, n=100)  # commit_seq 0..99, offsets 0..99
    b1 = spark.createDataFrame(
        [
            # stale by commit_seq (f5 base has seq 5) but newly delivered
            (0, 200, 3, "update", "r", "f5.py", "d" * 12, None, "STALE", None),
            (0, 201, 201, "update", "r", "f6.py", "d" * 12, None, "FRESH", None),
            (0, 202, 202, "delete", "r", "f8.py", "d" * 12, None, None, None),
        ],
        COLS_V1,
    )
    s1 = apply_batch(table, _norm(b1), 1)
    assert s1["merge_mode"] == "delta"
    got = {r["path"]: r["content"] for r in table.read().collect()}
    assert got["f5.py"] == "X" * 50        # stale delta lost to base
    assert got["f6.py"] == "FRESH"         # fresh delta won
    assert "f8.py" not in got              # delta tombstone hides the key
    assert len(got) == 99

    # a later stale update cannot resurrect the tombstoned key
    b2 = spark.createDataFrame(
        [(0, 203, 8, "update", "r", "f8.py", "d" * 12, None, "ZOMBIE", None)],
        COLS_V1,
    )
    s2 = apply_batch(table, _norm(b2), 2)
    assert s2["merge_mode"] == "delta"
    before = sorted(map(tuple, table.read().collect()))
    assert "f8.py" not in {r["path"] for r in table.read().collect()}

    table.compact()
    snap = table.snapshot()
    assert snap["delta_dirs"] == {}
    assert sorted(map(tuple, table.read().collect())) == before
    # row accounting survives the fold (99 live + 1 tombstone)
    assert table.base_row_count() == 100


def test_delta_schema_evolution_and_epoch_fence(spark, tmp_path):
    loc = str(tmp_path / "lake_devo")
    table = _mk_base(spark, loc)
    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f7.py", "d" * 12, None, "NEW", None,
          "100755")],
        COLS_V2,
    )
    s1 = apply_batch(table, _norm(b1), 1)
    assert s1["merge_mode"] == "delta"
    assert any(c.startswith("add mode") for c in s1["schema_changes"])
    got = {r["path"]: r["mode"] for r in table.read().collect()}
    assert got["f7.py"] == "100755" and got["f0.py"] is None

    # replaying the same batch id is fenced to a no-op (no second delta dir)
    n_deltas = sum(len(v) for v in table.snapshot()["delta_dirs"].values())
    s_again = apply_batch(table, _norm(b1), 1)
    assert s_again["skipped"]
    assert sum(len(v) for v in table.snapshot()["delta_dirs"].values()) == n_deltas


def test_cow_merge_folds_touched_deltas(spark, tmp_path):
    """A CoW merge reads base ∪ deltas for its touched buckets, so those
    buckets' delta files must be cleared from the new snapshot (their content
    is folded into the rewrite) — and the delta's winner must survive."""
    loc = str(tmp_path / "lake_fold")
    table = _mk_base(spark, loc)
    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f7.py", "d" * 12, None, "VIA_DELTA", None)],
        COLS_V1,
    )
    assert apply_batch(table, _norm(b1), 1)["merge_mode"] == "delta"
    # big batch -> auto picks CoW (41 updates > 5% of 40 base rows)
    rows = [
        (0, 200 + i, 200 + i, "update", "r", f"f{i}.py", "e" * 12, None, "V2", None)
        for i in range(40) if i != 7
    ]
    s2 = apply_batch(table, _norm(spark.createDataFrame(rows, COLS_V1)), 2)
    assert s2["merge_mode"] == "cow"
    assert table.snapshot()["delta_dirs"] == {}  # folded
    got = {r["path"]: r["content"] for r in table.read().collect()}
    assert got["f7.py"] == "VIA_DELTA" and got["f0.py"] == "V2"
    assert len(got) == 40


def test_subset_compaction_and_maybe_compact(spark, tmp_path):
    """Steady-state maintenance: maybe_compact folds ONLY the buckets whose
    delta chain crossed the threshold — O(hot buckets), not O(table) — and
    untouched buckets keep their original files; dir_versions stays pruned
    to live dirs (snapshot metadata must not grow with commit count)."""
    loc = str(tmp_path / "lake_subc")
    table = _mk_base(spark, loc, n=200)

    # pile 3 delta batches onto the same key -> one hot bucket with 3 deltas
    for j in range(3):
        b = spark.createDataFrame(
            [(0, 300 + j, 300 + j, "update", "r", "f7.py", "d" * 12, None,
              f"V{j}", None)],
            COLS_V1,
        )
        assert apply_batch(table, _norm(b), j + 1)["merge_mode"] == "delta"
    stats = table.delta_stats()
    assert stats["max_deltas_per_bucket"] == 3

    # below threshold: no-op
    assert table.maybe_compact(max_deltas_per_bucket=3) is None
    before_dirs = dict(table.snapshot()["bucket_dirs"])

    v = table.maybe_compact(max_deltas_per_bucket=2)
    assert v is not None
    snap = table.snapshot()
    assert table.delta_stats()["buckets_with_deltas"] == 0
    # only the hot bucket's pointer moved; every other bucket kept its files
    moved = [b for b, d in snap["bucket_dirs"].items() if before_dirs.get(b) != d]
    assert len(moved) == 1
    got = {r["path"]: r["content"] for r in table.read().collect()}
    assert got["f7.py"] == "V2" and len(got) == 200

    # dir_versions references exactly the live dirs
    live = set(snap["bucket_dirs"].values())
    assert set(snap["dir_versions"]) == live


def test_replay_loop_auto_compacts_delta_chains(spark, tmp_path):
    """replay_journal's in-loop maintenance: once a bucket's delta chain
    crosses max_deltas_per_bucket, it is subset-compacted mid-replay, so
    chains stay bounded without an external scheduler."""
    loc = str(tmp_path / "lake_loopc")
    table = _mk_base(spark, loc, n=400)
    # hand-roll the loop shape: replay_journal needs a journal dir, so drive
    # apply_batch + maybe_compact exactly as the loop does
    for j in range(5):
        b = spark.createDataFrame(
            [(0, 500 + j, 500 + j, "update", "r", "f7.py", "d" * 12, None,
              f"W{j}", None)],
            COLS_V1,
        )
        s = apply_batch(table, _norm(b), j + 1)
        assert s["merge_mode"] == "delta"
        if s["merge_mode"] == "delta":
            table.maybe_compact(max_deltas_per_bucket=2)
    # the chain never exceeded the threshold + 1 batch
    assert table.delta_stats()["max_deltas_per_bucket"] <= 2
    got = {r["path"]: r["content"] for r in table.read().collect()}
    assert got["f7.py"] == "W4" and len(got) == 400


def test_delta_free_buckets_read_plain(spark, tmp_path):
    """The read-time LWW merge must be confined to delta-carrying buckets:
    a table (or bucket subset) without deltas keeps the plain parquet scan —
    no Aggregate node, so pushdown/pruning still reach the reader."""
    loc = str(tmp_path / "lake_plain")
    table = _mk_base(spark, loc, n=100)
    table.MOR_BROADCAST_MIN_BASE_RATIO = 0  # tiny fixture: force the probe

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "Aggregate" not in plan(table.read())  # no deltas yet

    b1 = spark.createDataFrame(
        [(0, 200, 200, "update", "r", "f7.py", "d" * 12, None, "NEW", None)],
        COLS_V1,
    )
    assert apply_batch(table, _norm(b1), 1)["merge_mode"] == "delta"
    delta_buckets = [int(b) for b in table.snapshot()["delta_dirs"]]
    clean = [b for b in range(32) if b not in delta_buckets][:4]
    assert "Aggregate" not in plan(table.read(buckets=clean))
    assert "Aggregate" in plan(table.read(buckets=delta_buckets))
    # full read: the broadcast key probe confines the merge to the delta'd
    # keys of the delta buckets (semi/anti split + structmax + key dedup);
    # the delta-free buckets stay a plain scan — their union branch carries
    # no Join and no Aggregate
    full = plan(table.read())
    assert "LeftSemi" in full and "LeftAnti" in full
    plain_branch = full.split("Union")[1].split("Join")[0]
    assert "Aggregate" not in plain_branch


def test_analyze_column_stats(spark, tmp_path):
    """ANALYZE commits per-column count/cardinality/min/max into snapshot
    properties (the column-metadata namespace,
    vendor/jx_elasticsearch/meta.py:338 analog) in one pass."""
    loc = str(tmp_path / "lake_stats")
    table = _mk_base(spark, loc, n=30)
    stats = table.analyze()
    assert stats["rows"] == 30
    c = stats["columns"]
    assert 24 <= c["path"]["cardinality"] <= 36    # HLL approx of 30
    assert c["repo"]["cardinality"] == 1 and c["repo"]["min"] == "r"
    assert c["commit_seq"]["min"] == 0 and c["commit_seq"]["max"] == 29
    assert c["lang"]["null_count"] == 0            # finalize fills lang
    assert "__deleted" not in c and "ts" in c      # marker excluded
    # persisted in the (new) snapshot; data pointers untouched
    snap = table.snapshot()
    assert snap["properties"]["column_stats"]["rows"] == 30
    assert snap["parent"] == snap["version"] - 1
    assert table.read().count() == 30


def test_zone_map_bucket_pruning(spark, tmp_path):
    """ANALYZE records per-bucket min/max zone maps in a stats side file;
    read(filters=...) opens only buckets the zone maps cannot exclude and
    returns EXACTLY the filtered rows (Iceberg manifest-bounds analog)."""
    import json
    import os

    loc = str(tmp_path / "lake_zone")
    table = _mk_base(spark, loc, n=64, n_buckets=16)
    stats = table.analyze()
    rel = stats["bucket_stats_dir"]
    with open(os.path.join(loc, rel, "bucket_stats.json")) as f:
        zone = json.load(f)
    snap = table.snapshot()
    assert set(zone["buckets"]) == set(snap["bucket_dirs"])
    assert all("commit_seq" in b["cols"] for b in zone["buckets"].values())
    # a point-ish predicate on a non-key column: most buckets are excluded
    filt = [("commit_seq", "==", 7)]
    keep = table.prunable_buckets(filt)
    assert 1 <= len(keep) < len(snap["bucket_dirs"])
    got = table.read(filters=filt).collect()
    want = table.read().where(F.col("commit_seq") == 7).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # range predicates compose conjunctively
    filt2 = [("commit_seq", ">=", 60), ("repo", "==", "r")]
    assert (table.read(filters=filt2).count()
            == table.read().where("commit_seq >= 60 and repo = 'r'").count()
            == 4)
    # an impossible predicate prunes everything driver-side
    assert table.prunable_buckets([("commit_seq", ">", 10_000)]) == []
    assert table.read(filters=[("commit_seq", ">", 10_000)]).count() == 0
    # unknown column / cross-type value: cannot exclude, full scan
    assert len(table.prunable_buckets([("nope", "==", 1)])) \
        == len(snap["bucket_dirs"])
    assert len(table.prunable_buckets([("repo", "==", 5)])) \
        == len(snap["bucket_dirs"])


def test_zone_map_stale_stats_never_drop_rows(spark, tmp_path):
    """Buckets written AFTER the ANALYZE carry a changed fingerprint and are
    always scanned — stale zone maps can only cost pruning opportunity,
    never rows."""
    loc = str(tmp_path / "lake_zone_stale")
    table = _mk_base(spark, loc, n=64, n_buckets=16)
    table.analyze()
    # new batch: one key gets commit_seq far outside every analyzed zone
    up = spark.createDataFrame(
        [(0, 64, 9_999, "update", "r", "f3.py", "c" * 12, None, "NEW", None)],
        COLS_V1,
    )
    apply_batch(table, _norm(up), 1)
    filt = [("commit_seq", ">=", 9_000)]
    got = table.read(filters=filt).collect()
    assert len(got) == 1 and got[0]["content"] == "NEW"
    # the touched bucket is kept via fingerprint mismatch; the others are
    # still pruned by the (valid) old stats
    keep = table.prunable_buckets(filt)
    assert len(keep) >= 1
    assert len(keep) < len(table.snapshot()["bucket_dirs"])
    # re-analyze restores full pruning precision
    table.analyze()
    keep2 = table.prunable_buckets(filt)
    assert len(keep2) <= len(keep)
    assert table.read(filters=filt).count() == 1


def test_rebucket_layout_evolution(spark, tmp_path):
    """rebucket() rewrites the table under a new bucket count: deltas
    folded, tombstones preserved, lookup and ingest work under the new
    layout, stale zone maps self-invalidate (Iceberg partition-spec
    evolution analog, resolved by full rewrite)."""
    loc = str(tmp_path / "lake_rebucket")
    table = _mk_base(spark, loc, n=40, n_buckets=4)
    table.analyze()                       # zone maps against the OLD layout
    dele = spark.createDataFrame(
        [(0, 40, 100, "delete", "r", "f1.py", "c" * 12, None, None, None)],
        COLS_V1,
    )
    apply_batch(table, _norm(dele), 1, merge_mode="delta")
    before = sorted((r["path"], r["content"])
                    for r in table.read().collect())
    assert len(before) == 39

    v = table.rebucket(16)
    snap = table.snapshot()
    assert snap["version"] == v and snap["n_buckets"] == 16
    assert snap["delta_dirs"] == {} and len(snap["bucket_dirs"]) <= 16
    after = sorted((r["path"], r["content"]) for r in table.read().collect())
    assert after == before
    # the tombstone survived the rewrite (horizon may not have passed)
    assert table.read(include_tombstones=True).count() == 40
    # stale zone maps (old dirs in fingerprints) must not prune anything
    keep = table.prunable_buckets([("commit_seq", ">", 10_000)])
    assert keep is None or len(keep) == len(snap["bucket_dirs"])
    # point lookup under the new layout
    assert table.lookup({"repo": "r", "path": "f3.py"}).count() == 1
    # ingest continues against the new layout
    up = spark.createDataFrame(
        [(0, 41, 101, "update", "r", "f2.py", "c" * 12, None, "REB", None)],
        COLS_V1,
    )
    apply_batch(table, _norm(up), 2)
    got = table.lookup({"repo": "r", "path": "f2.py"}).collect()
    assert len(got) == 1 and got[0]["content"] == "REB"
    # same count -> clean no-op
    v2 = table.snapshot()["version"]
    assert table.rebucket(table.snapshot()["n_buckets"]) == v2
    # fresh ANALYZE restores pruning precision on the new layout
    table.analyze()
    assert table.prunable_buckets([("commit_seq", ">", 10_000)]) == []


def test_rebucket_autosize_and_conflict_recompute(spark, tmp_path):
    """n_buckets=None sizes from measured table bytes; a data commit racing
    the rewrite forces a recompute that still converges byte-exactly."""
    loc = str(tmp_path / "lake_rebucket_auto")
    table = _mk_base(spark, loc, n=32, n_buckets=8)
    # tiny target forces growth beyond min_buckets=8
    v = table.rebucket(target_bucket_bytes=64)
    snap = table.snapshot()
    assert snap["n_buckets"] > 8 and snap["version"] == v
    assert table.read().count() == 32
    # race: another writer lands a batch between the pinned read and the
    # commit — simulate by committing through a second handle mid-flight
    import activedata_etl_spark.lake.table as tbl

    other = SnapshotTable(table.spark, loc)
    orig = tbl.SnapshotTable.write_buckets
    hit = {"n": 0}

    def racing_write(self, df, version, sort_by=None):
        rel = orig(self, df, version, sort_by=sort_by)
        if self is table and hit["n"] == 0:
            hit["n"] = 1
            up = table.spark.createDataFrame(
                [(0, 32, 500, "update", "r", "f0.py", "c" * 12, None,
                  "RACE", None)], COLS_V1)
            apply_batch(other, _norm(up), 1)
        return rel

    import unittest.mock as mock
    with mock.patch.object(tbl.SnapshotTable, "write_buckets", racing_write):
        table.rebucket(4)
    snap = table.snapshot()
    assert snap["n_buckets"] == 4 and hit["n"] == 1
    got = table.lookup({"repo": "r", "path": "f0.py"}).collect()
    assert len(got) == 1 and got[0]["content"] == "RACE"


def test_maybe_rebucket_hysteresis(spark, tmp_path):
    """maybe_rebucket fires only outside the 4x drift band: a layout within
    band is a driver-side no-op (None, version unchanged); a drifted one
    rewrites to the auto-sized suggestion."""
    loc = str(tmp_path / "lake_maybe_rebucket")
    table = _mk_base(spark, loc, n=32, n_buckets=8)
    v0 = table.snapshot()["version"]
    # default 250MB target on a KB-scale table suggests min_buckets=8 ==
    # current -> within band, no-op
    assert table.maybe_rebucket() is None
    assert table.snapshot()["version"] == v0
    # a tiny per-bucket target makes the suggestion >> 8*4 -> fires
    v = table.maybe_rebucket(target_bucket_bytes=64)
    snap = table.snapshot()
    assert v == snap["version"] and snap["n_buckets"] >= 32
    assert table.read().count() == 32
    # and the new layout is now within band for that target? not necessarily
    # (suggestion is deterministic) — but repeating with the SAME target must
    # no-op: suggestion equals the just-applied layout
    assert table.maybe_rebucket(target_bucket_bytes=64) is None


def test_analyze_empty_table(spark, tmp_path):
    """ANALYZE on a created-but-empty table: rollup emits no grand-total
    row on empty input, so the stats must synthesize zeros (regression:
    StopIteration when an analyzer raced table creation)."""
    loc = str(tmp_path / "lake_empty_stats")
    b0 = spark.createDataFrame([], COLS_V1)
    table = ensure_table(spark, loc, b0.schema, n_buckets=4)
    stats = table.analyze()
    assert stats["rows"] == 0
    assert stats["columns"]["repo"]["cardinality"] == 0
    assert table.prunable_buckets([("commit_seq", "==", 1)]) == []


def test_zone_map_stats_dir_lifecycle(spark, tmp_path):
    """A superseded ANALYZE's stats dir expires with the snapshots that
    reference it; the current one survives expire_snapshots."""
    import os

    loc = str(tmp_path / "lake_zone_gc")
    table = _mk_base(spark, loc, n=16, n_buckets=4)
    rel_old = table.analyze()["bucket_stats_dir"]
    up = spark.createDataFrame(
        [(0, 16, 100, "update", "r", "f1.py", "c" * 12, None, "Z", None)],
        COLS_V1,
    )
    apply_batch(table, _norm(up), 1)
    rel_new = table.analyze()["bucket_stats_dir"]
    assert rel_old != rel_new
    removed = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert rel_old in removed
    assert os.path.exists(os.path.join(loc, rel_new, "bucket_stats.json"))
    # pruning still works off the surviving stats
    assert table.read(filters=[("commit_seq", ">=", 100)]).count() == 1


def test_time_travel_read(spark, tmp_path):
    """Snapshot isolation as an API: read(version=v) reproduces snapshot v
    exactly — file lists and SCHEMA — regardless of later commits (until
    expire_snapshots prunes it)."""
    loc = str(tmp_path / "lake_tt")
    table = _mk_base(spark, loc, n=10)
    v1 = table.current_version()

    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f3.py", "d" * 12, None, "NEW", None,
          "100644"),
         (0, 101, 101, "delete", "r", "f4.py", "d" * 12, None, None, None,
          None)],
        COLS_V2,
    )
    apply_batch(table, _norm(b1), 1)

    now = {r["path"]: r["content"] for r in table.read().collect()}
    assert now["f3.py"] == "NEW" and "f4.py" not in now
    old = table.read(version=v1)
    got = {r["path"]: r["content"] for r in old.collect()}
    assert got["f3.py"] == "X" * 50 and "f4.py" in got and len(got) == 10
    assert "mode" not in old.columns  # pre-evolution schema, not current
    # expiry prunes the old snapshot -> pinned read now fails loudly
    table.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        table.read(version=v1)


def test_mixed_mode_replay_converges_to_oracle(spark, tmp_path):
    """Split invariance across PHYSICAL WRITE STRATEGIES: the same journal
    applied as one big CoW batch vs many small batches with forced
    alternating cow/delta modes (plus a mid-stream subset compaction) must
    converge to the identical table state — the pandas oracle referees."""
    from activedata_etl_spark.functions.normalize import (
        finalize_records,
        normalize_keys,
    )
    from activedata_etl_spark.journal import journal_df
    from tests.oracle import assert_table_matches_oracle

    j = journal_df(spark, 2048).persist()
    pdf = j.toPandas()

    loc = str(tmp_path / "lake_mixed")
    table = ensure_table(spark, loc, j.schema, n_buckets=16)
    n_chunks, per = 8, 256
    for i in range(n_chunks):
        chunk = j.where(F.col("offset").between(i * per, (i + 1) * per - 1))
        mode = ["cow", "delta"][i % 2]
        apply_batch(
            table, normalize_keys(chunk), i, merge_mode=mode,
            finalize_fn=finalize_records,
        )
        if i == 5:
            table.maybe_compact(max_deltas_per_bucket=0)  # force a mid-fold
    assert_table_matches_oracle(table.read(), pdf)

    # the one-big-batch CoW twin agrees row-for-row
    loc2 = str(tmp_path / "lake_onebatch")
    t2 = ensure_table(spark, loc2, j.schema, n_buckets=16)
    apply_batch(t2, normalize_keys(j), 0, merge_mode="cow",
                finalize_fn=finalize_records)
    a = sorted(map(tuple, table.read().collect()))
    b = sorted(map(tuple, t2.read().collect()))
    assert a == b
    j.unpersist()


def test_delta_widens_column_type(spark, tmp_path):
    """Type widening THROUGH the delta path: a delta batch carrying a wider
    column type updates the snapshot schema; read-time alignment upcasts the
    narrow base files before the LWW merge."""
    loc = str(tmp_path / "lake_dwiden")
    s1 = COLS_V1 + ", size int"
    s2 = COLS_V1 + ", size double"
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, "X" * 50, None, i)
        for i in range(100)
    ]
    b0 = spark.createDataFrame(rows, s1)
    table = ensure_table(spark, loc, b0.schema, n_buckets=32)
    apply_batch(table, _norm(b0), 0)

    b1 = spark.createDataFrame(
        [(0, 200, 200, "update", "r", "f7.py", "d" * 12, None, "Y", None, 2.5)],
        s2,
    )
    s = apply_batch(table, _norm(b1), 1)
    assert s["merge_mode"] == "delta"
    assert any("widen size: int -> double" in c for c in s["schema_changes"])
    got = {r["path"]: r["size"] for r in table.read().collect()}
    assert got["f7.py"] == 2.5 and got["f0.py"] == 0.0 and len(got) == 100


def test_suggest_n_buckets():
    from activedata_etl_spark.lake.table import suggest_n_buckets

    assert suggest_n_buckets(0) == 8                      # floor
    assert suggest_n_buckets(10**10, avg_row_bytes=200) == 7630  # ~250MB each
    assert suggest_n_buckets(10**12) == 1 << 16           # ceiling


def test_lineage_dirs_consolidate(spark, tmp_path, monkeypatch):
    """Per-commit lineage dirs fold into one consolidated parquet past the
    threshold; history is preserved and expire_snapshots prunes orphans."""
    import activedata_etl_spark.lake.merge as M

    monkeypatch.setattr(M, "LINEAGE_CONSOLIDATE_AT", 4)
    loc = str(tmp_path / "lake_lin")
    table = None
    for i in range(7):
        b = spark.createDataFrame(
            [(0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, "X", None)],
            COLS_V1,
        )
        if table is None:
            table = ensure_table(spark, loc, b.schema)
        apply_batch(table, _norm(b), i)
    snap = table.snapshot()
    assert len(snap["lineage_dirs"]) <= 4 + 1
    lin = table.read_lineage()
    # the full per-batch history survives consolidation (summary row per batch)
    assert lin.where("partition = -1").count() == 7
    removed = table.expire_snapshots(keep_last=1)
    assert any(r.startswith("lineage/") for r in removed)
    assert table.read_lineage().where("partition = -1").count() == 7


# ---------------------------------------------------------------- changes

def _brute_diff(table, v_from, v_to):
    """Referee: full-scan diff of two snapshot reads, computed in pandas."""
    key = lambda r: (r["repo"], r["path"])
    old = {key(r): r.asDict() for r in table.read(version=v_from).collect()}
    new = {key(r): r.asDict() for r in table.read(version=v_to).collect()}
    out = {}
    for k, row in new.items():
        if k not in old:
            out[k] = ("insert", row)
        elif row != old[k]:
            out[k] = ("update", row)
    for k, row in old.items():
        if k not in new:
            out[k] = ("delete", row)
    return out


def _feed_dict(feed):
    return {
        (r["repo"], r["path"]): (r["_change_type"], r)
        for r in feed.collect()
    }


def test_changes_feed_net_range_diff(spark, tmp_path):
    """insert/update/delete each show once; unchanged keys don't appear;
    intermediate churn nets out (range diff, not per-commit log)."""
    loc = str(tmp_path / "lake_cdf")
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, f"X{i}", None)
        for i in range(4)
    ]
    b0 = spark.createDataFrame(rows, COLS_V1)
    table = ensure_table(spark, loc, b0.schema, n_buckets=8)
    apply_batch(table, _norm(b0), 0)
    v1 = table.current_version()

    b1 = spark.createDataFrame(
        [(0, 10, 10, "update", "r", "f1.py", "d" * 12, None, "NEW", None),
         (0, 11, 11, "delete", "r", "f2.py", "c" * 12, None, None, None),
         (0, 12, 12, "insert", "r", "f9.py", "e" * 12, None, "X9", None)],
        COLS_V1,
    )
    apply_batch(table, _norm(b1), 1)
    # churn that nets out: insert f77 then delete it again
    b2 = spark.createDataFrame(
        [(0, 13, 13, "insert", "r", "f77.py", "a" * 12, None, "T", None)],
        COLS_V1,
    )
    apply_batch(table, _norm(b2), 2)
    b3 = spark.createDataFrame(
        [(0, 14, 14, "delete", "r", "f77.py", "a" * 12, None, None, None)],
        COLS_V1,
    )
    apply_batch(table, _norm(b3), 3)
    v2 = table.current_version()

    got = _feed_dict(table.changes(v1, v2))
    assert {k: t for k, (t, _) in got.items()} == {
        ("r", "f1.py"): "update",
        ("r", "f2.py"): "delete",
        ("r", "f9.py"): "insert",
    }
    # post-image for update/insert, pre-image for delete
    assert got[("r", "f1.py")][1]["content"] == "NEW"
    assert got[("r", "f9.py")][1]["content"] == "X9"
    assert got[("r", "f2.py")][1]["content"] == "X2"
    assert all(r["_from_version"] == v1 and r["_to_version"] == v2
               for _, r in got.values())
    # matches the brute-force referee exactly (types AND images)
    brute = _brute_diff(table, v1, v2)
    assert {k: t for k, (t, _) in got.items()} == \
           {k: t for k, (t, _) in brute.items()}
    for k, (_, row) in brute.items():
        mine = got[k][1].asDict()
        assert all(mine[c] == row[c] for c in row)


def test_changes_feed_bounds_and_identity(spark, tmp_path):
    loc = str(tmp_path / "lake_cdf2")
    b0 = spark.createDataFrame(
        [(0, 0, 0, "insert", "r", "a.py", "c" * 12, None, "X", None)], COLS_V1
    )
    table = ensure_table(spark, loc, b0.schema)
    apply_batch(table, _norm(b0), 0)
    v = table.current_version()
    assert table.changes(v, v).count() == 0  # empty range
    import pytest as _pytest
    with _pytest.raises(ValueError, match="reversed"):
        table.changes(v, 0)
    # from the creation snapshot: everything is an insert
    feed = _feed_dict(table.changes(0, v))
    assert feed == {("r", "a.py"): ("insert", feed[("r", "a.py")][1])}


def test_changes_feed_touched_buckets_and_rebucket(spark, tmp_path):
    """A 1-key batch leaves changed_buckets at O(batch), and a rebucket in
    the range degrades loudly to a full diff (None) without wrong rows."""
    loc = str(tmp_path / "lake_cdf3")
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, f"X{i}", None)
        for i in range(30)
    ]
    b0 = spark.createDataFrame(rows, COLS_V1)
    table = ensure_table(spark, loc, b0.schema, n_buckets=16)
    apply_batch(table, _norm(b0), 0)
    v1 = table.current_version()
    b1 = spark.createDataFrame(
        [(0, 50, 50, "update", "r", "f3.py", "d" * 12, None, "NEW", None)],
        COLS_V1,
    )
    apply_batch(table, _norm(b1), 1)
    v2 = table.current_version()
    touched = table.changed_buckets(v1, v2)
    assert touched is not None and 1 <= len(touched) <= 2
    assert _feed_dict(table.changes(v1, v2)) == {
        ("r", "f3.py"): ("update",
                         _feed_dict(table.changes(v1, v2))[("r", "f3.py")][1]),
    }

    table.rebucket(4)
    v3 = table.current_version()
    assert table.changed_buckets(v1, v3) is None  # ids incomparable
    got = {k: t for k, (t, _) in _feed_dict(table.changes(v1, v3)).items()}
    assert got == {("r", "f3.py"): "update"}  # full diff, still exact


def test_changes_feed_schema_widening(spark, tmp_path):
    """A column added between the versions must not turn every old row into
    an 'update' (old side reads as null in the new schema)."""
    loc = str(tmp_path / "lake_cdf4")
    b0 = spark.createDataFrame(
        [(0, 0, 0, "insert", "r", "a.py", "c" * 12, None, "X", None),
         (0, 1, 1, "insert", "r", "b.py", "c" * 12, None, "Y", None)],
        COLS_V1,
    )
    table = ensure_table(spark, loc, b0.schema)
    apply_batch(table, _norm(b0), 0)
    v1 = table.current_version()
    b1 = spark.createDataFrame(
        [(0, 2, 2, "update", "r", "b.py", "d" * 12, None, "Y2", None,
          "100644")],
        COLS_V2,
    )
    apply_batch(table, _norm(b1), 1)
    v2 = table.current_version()
    got = _feed_dict(table.changes(v1, v2))
    assert {k: t for k, (t, _) in got.items()} == {("r", "b.py"): "update"}
    assert got[("r", "b.py")][1]["mode"] == "100644"
    assert "mode" in table.changes(v1, v2).columns


def _rowset(table):
    cols = [c for c in table.read().columns]
    return {tuple(r[c] for c in sorted(cols)) for r in table.read().collect()}


def test_sync_changes_replica_converges(spark, tmp_path):
    """CDC-out: a replica fed only by sync_changes converges to the source
    byte-for-byte, survives re-runs (cursor), and applies deletes.  Each
    applied sync advances the replica's batch fence by one and leaves its
    per-partition watermarks where they were."""
    from activedata_etl_spark.lake.merge import sync_changes

    src_loc = str(tmp_path / "cdf_src")
    rep_loc = str(tmp_path / "cdf_rep")
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, f"X{i}", None)
        for i in range(12)
    ]
    b0 = spark.createDataFrame(rows, COLS_V1)
    src = ensure_table(spark, src_loc, b0.schema, n_buckets=8)
    apply_batch(src, _norm(b0), 0)

    s1 = sync_changes(src, rep_loc)  # creates the replica
    rep = SnapshotTable(spark, rep_loc)
    assert s1["applied"] == 12 and _rowset(rep) == _rowset(src)
    assert rep.last_batch_id() == 0 and rep.watermarks() == {}
    # the feed carries no journal partition: lineage is the batch total
    assert [r["partition"] for r in rep.read_lineage().collect()] == [-1]

    # churn: update, delete, insert — sync resumes from the cursor
    b1 = spark.createDataFrame(
        [(0, 20, 20, "update", "r", "f1.py", "d" * 12, None, "NEW", None),
         (0, 21, 21, "delete", "r", "f2.py", "c" * 12, None, None, None),
         (0, 22, 22, "insert", "r", "f99.py", "e" * 12, None, "X99", None)],
        COLS_V1,
    )
    apply_batch(src, _norm(b1), 1)
    s2 = sync_changes(src, rep)
    assert s2["deletes"] == 1
    assert rep.last_batch_id() == 1 and rep.watermarks() == {}
    assert _rowset(rep) == _rowset(src)
    assert "f2.py" not in {r["path"] for r in rep.read().collect()}

    # idempotent: nothing new -> no-op, cursor unchanged
    s3 = sync_changes(src, rep)
    assert s3 == {"applied": 0, "deletes": 0, "batches": 0,
                  "synced_version": s2["synced_version"]}
    assert rep.last_batch_id() == 1

    # replaying an ALREADY-CONSUMED range is harmless (LWW idempotence)
    s4 = sync_changes(src, rep, from_version=0)
    assert _rowset(rep) == _rowset(src)
    assert s4["batches"] == 1
    assert rep.last_batch_id() == 2 and rep.watermarks() == {}
    # wrong-source guard
    other = ensure_table(spark, str(tmp_path / "cdf_other"), b0.schema)
    apply_batch(other, _norm(b0), 0)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="tracks"):
        sync_changes(other, rep)


def test_sync_changes_one_shot_full_range(spark, tmp_path):
    """A cold replica syncing the whole history in one call lands on the
    same state as batch-by-batch consumption."""
    from activedata_etl_spark.lake.merge import sync_changes

    src_loc = str(tmp_path / "cdf_src2")
    b0 = spark.createDataFrame(
        [(0, i, i, "insert", "r", f"g{i}.py", "c" * 12, None, f"A{i}", None)
         for i in range(6)], COLS_V1)
    src = ensure_table(spark, src_loc, b0.schema, n_buckets=4)
    apply_batch(src, _norm(b0), 0)
    b1 = spark.createDataFrame(
        [(0, 10, 10, "delete", "r", "g0.py", "c" * 12, None, None, None),
         (0, 11, 11, "update", "r", "g1.py", "d" * 12, None, "A1v2", None)],
        COLS_V1)
    apply_batch(src, _norm(b1), 1)

    rep_loc = str(tmp_path / "cdf_rep2")
    sync_changes(src, rep_loc)
    rep = SnapshotTable(spark, rep_loc)
    assert _rowset(rep) == _rowset(src)
    # tombstone version columns came from the DELETE, not the pre-image:
    # a later replay of the INSERT range alone must not resurrect g0.py
    sync_changes(src, rep, from_version=0, to_version=src.current_version())
    assert "g0.py" not in {r["path"] for r in rep.read().collect()}


def test_sync_changes_empty_feed_leaves_replica_unchanged(spark, tmp_path):
    """A source range whose changed buckets diff to no rows — a compaction,
    or an insert then a delete of the same key — syncs as an empty batch:
    no error, the replica's rows and watermarks stay, its fence advances
    once and the cursor moves to the range's end."""
    from activedata_etl_spark.lake.merge import sync_changes

    src = _mk_base(spark, str(tmp_path / "cdfe_src"), n=8, n_buckets=4)
    b1 = spark.createDataFrame(
        [(0, 20, 20, "update", "r", "f1.py", "d" * 12, None, "NEW", None)],
        COLS_V1,
    )
    apply_batch(src, _norm(b1), 1, merge_mode="delta")
    rep_loc = str(tmp_path / "cdfe_rep")
    sync_changes(src, rep_loc)
    rep = SnapshotTable(spark, rep_loc)
    before = _rowset(rep)
    assert before == _rowset(src)

    def range_step(step):
        v0 = src.current_version()
        step()
        v1 = src.current_version()
        assert src.changed_buckets(v0, v1)
        assert src.changes(v0, v1, deletes="tombstone").count() == 0
        fence = rep.last_batch_id()
        s = sync_changes(src, rep)
        assert s == {"applied": 0, "deletes": 0, "batches": 1,
                     "synced_version": v1}
        assert rep.last_batch_id() == fence + 1 and rep.watermarks() == {}
        assert _rowset(rep) == before

    range_step(src.compact)

    def insert_then_delete():
        for i, op in ((2, "insert"), (3, "delete")):
            b = spark.createDataFrame(
                [(0, 30 + i, 30 + i, op, "r", "tmp.py", "e" * 12, None,
                  "T", None)],
                COLS_V1,
            )
            apply_batch(src, _norm(b), i)

    range_step(insert_then_delete)


def test_mor_broadcast_probe_matches_shuffle_merge(spark, tmp_path):
    """Small delta chains merge via a broadcast key probe (no base
    shuffle); the result is identical to the full structmax shuffle path,
    and the plan shows broadcast anti/semi joins instead of a base-wide
    exchange."""
    loc = str(tmp_path / "lake_morb")
    table = _mk_base(spark, loc, n=100)
    table.MOR_BROADCAST_MIN_BASE_RATIO = 0  # tiny fixture: force the probe
    b1 = spark.createDataFrame(
        [
            (0, 200, 3, "update", "r", "f5.py", "d" * 12, None, "STALE", None),
            (0, 201, 201, "update", "r", "f6.py", "d" * 12, None, "FRESH", None),
            (0, 202, 202, "delete", "r", "f8.py", "d" * 12, None, None, None),
        ],
        COLS_V1,
    )
    assert apply_batch(table, _norm(b1), 1)["merge_mode"] == "delta"
    b2 = spark.createDataFrame(
        [(0, 203, 203, "insert", "r", "fNEW.py", "e" * 12, None, "N", None)],
        COLS_V1,
    )
    assert apply_batch(table, _norm(b2), 2)["merge_mode"] == "delta"

    fast = table.read()
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan \
        and "LeftAnti" in plan

    slow_t = type(table)(spark, loc)
    slow_t.MOR_BROADCAST_MAX_DELTA_BYTES = -1  # force the shuffle path
    slow = slow_t.read()
    assert "LeftSemi" not in \
        slow._jdf.queryExecution().executedPlan().toString()
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b
    got = {r["path"]: r["content"] for r in fast.collect()}
    assert got["f5.py"] == "X" * 50 and got["f6.py"] == "FRESH"
    assert "f8.py" not in got and got["fNEW.py"] == "N"
    # tombstone visibility and point lookups ride the same path
    assert sorted(
        r["path"] for r in table.read(include_tombstones=True).collect()
        if r["path"] in ("f8.py",)
    ) == ["f8.py"]
    assert [r["content"] for r in
            table.lookup({"repo": "r", "path": "f6.py"}).collect()] == ["FRESH"]


def _key_filter(keys):
    cond = None
    for k in keys:
        term = (F.col("repo") == k["repo"]) & (F.col("path") == k["path"])
        cond = term if cond is None else cond | term
    return cond


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_lookup_equals_filtered_read_on_both_mor_paths(spark, tmp_path):
    """lookup / lookup_many == read().where(<key equality>) through a live
    delta chain, with the read on the broadcast-probe and on the shuffle
    MOR path: stale and fresh deltas, a tombstoned key (include_tombstones
    both ways), a column widened after the base dir was written, duplicate
    and nonexistent keys.  The result keeps the table's column order."""
    loc = str(tmp_path / "lake_lookup_eq")
    s1 = COLS_V1 + ", size int"
    s2 = COLS_V1 + ", size double"
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, "X" * 50, None, i)
        for i in range(100)
    ]
    b0 = spark.createDataFrame(rows, s1)
    table = ensure_table(spark, loc, b0.schema, n_buckets=8)
    apply_batch(table, _norm(b0), 0)
    b1 = spark.createDataFrame(
        [
            (0, 200, 3, "update", "r", "f5.py", "d" * 12, None, "STALE", None,
             0.5),
            (0, 201, 201, "update", "r", "f6.py", "d" * 12, None, "FRESH",
             None, 1.5),
            (0, 202, 202, "delete", "r", "f8.py", "d" * 12, None, None, None,
             None),
            (0, 203, 203, "insert", "r", "fNEW.py", "e" * 12, None, "N", None,
             2.5),
        ],
        s2,
    )
    assert apply_batch(table, _norm(b1), 1, merge_mode="delta")[
        "merge_mode"] == "delta"
    b2 = spark.createDataFrame(
        [(0, 204, 204, "update", "r", "f6.py", "d" * 12, None, "FRESHER",
          None, 3.5)],
        s2,
    )
    apply_batch(table, _norm(b2), 2, merge_mode="delta")
    assert len(table.snapshot()["delta_dirs"]) >= 3  # live delta chains

    keys = [{"repo": "r", "path": p} for p in (
        "f0.py", "f5.py", "f6.py", "f8.py", "fNEW.py", "nope.py", "f6.py")]
    for path in ("probe", "shuffle"):
        t = SnapshotTable(spark, loc)
        if path == "probe":
            t.MOR_BROADCAST_MIN_BASE_RATIO = 0
        else:
            t.MOR_BROADCAST_MAX_DELTA_BYTES = -1
        for tomb in (False, True):
            full = t.read(include_tombstones=tomb)
            # the MOR strategy shows in the read the lookup is compared
            # with; the lookup itself plans no read (a LocalRelation)
            plan = full._jdf.queryExecution().analyzed().toString()
            assert ("LeftAnti" in plan) == (path == "probe")
            if path == "shuffle":
                # the key predicate reaches every parquet scan, below the
                # LWW aggregate
                scans = re.findall(
                    r"PushedFilters: \[([^\]]*)\]",
                    full.where(_key_filter(keys))._jdf.queryExecution()
                    .executedPlan().toString())
                assert scans and all("EqualTo(path" in f for f in scans)
            got = t.lookup_many(keys, include_tombstones=tomb)
            assert "LocalRelation" in \
                got._jdf.queryExecution().analyzed().toString()
            assert got.columns == full.columns
            assert _rows(got) == _rows(full.where(_key_filter(keys)))
            for k in keys:
                one = t.lookup(k, include_tombstones=tomb)
                assert one.columns == full.columns
                assert _rows(one) == _rows(full.where(_key_filter([k])))
            by_path = {r["path"]: r for r in got.collect()}
            assert sorted(by_path) == sorted(
                ["f0.py", "f5.py", "f6.py", "fNEW.py"] + (["f8.py"] if tomb
                                                          else []))
            # base dir written as int, read widened to double
            assert isinstance(by_path["f0.py"]["size"], float)
            assert by_path["f5.py"]["content"] == "X" * 50
            assert by_path["f6.py"]["content"] == "FRESHER"
            if tomb:
                assert by_path["f8.py"]["__deleted"] is True


# Physical schemas a dir of the equivalence test's tables is written with:
# ``n`` widens int -> long -> double and ``s`` float -> double -> string
# across dirs, and ``extra`` is added after the base dir.
_EQ_PHYS = [
    "n int, s float",
    "n long, s double, extra string",
    "n double, s string, extra string",
]
_EQ_TEXT = st.sampled_from([None, "", "a", "b", "é", "Z😀"])
_EQ_FLOAT = st.one_of(
    st.none(), st.sampled_from([0.0, -0.0, 1.0, 1e20, 2e23, 0.1, -7.25,
                                float("nan"), float("inf")]),
    st.floats(width=32, allow_nan=False, allow_infinity=False))
_EQ_ROW = st.tuples(
    st.integers(0, 11),                                  # key
    st.integers(0, 3), st.one_of(st.none(), st.integers(0, 1)),  # version
    _EQ_TEXT,                                            # content
    st.one_of(st.none(), st.integers(-3, 3)),            # n
    _EQ_FLOAT,                                           # s
    st.integers(-2 ** 55, 2 ** 57),                      # ts, microseconds
    st.one_of(st.none(), st.lists(st.integers(0, 2), max_size=3)),  # arr
    _EQ_TEXT,                                            # extra
    st.booleans(),                                       # tombstone
)
_EQ_DIR = st.tuples(st.integers(0, len(_EQ_PHYS) - 1),
                    st.lists(_EQ_ROW, min_size=1, max_size=12))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(dirs=st.lists(_EQ_DIR, min_size=2, max_size=5),
       with_map=st.booleans(),
       keys=st.lists(st.integers(0, 13), min_size=1, max_size=8))
def test_lookup_many_equals_filtered_read(spark, tmp_path_factory, dirs,
                                          with_map, keys):
    """lookup_many == read().where(<key equality>) on random tables: one
    base dir and up to four delta dirs per bucket, written with narrower
    physical schemas than the table's (int -> double, float/double ->
    string, a column added later), tombstones with include_tombstones both
    ways, duplicate and missing keys, version ties with differing payloads
    (NaN, -0.0, non-ASCII text, arrays in the tie-break) and null version
    fields, a TimestampType column read under a non-UTC session time zone,
    and a MapType payload, the case where structmax falls back to
    lww_reduce.  Its tie pick is arbitrary, so map tables get no version
    ties.  Rows compare by repr, so NaN equals NaN."""
    import datetime
    import json

    schema = T.StructType.fromDDL(
        "repo string, path string, commit_seq long, offset long, "
        "content string, n double, s string, ts timestamp, arr array<int>, "
        "extra string" + (", m map<string,int>" if with_map else "")
        + ", __deleted boolean")
    loc = str(tmp_path_factory.mktemp("lake_lookup_prop"))
    t = SnapshotTable.create(spark, loc, schema, ["repo", "path"],
                             n_buckets=4)
    snap = t.snapshot()
    seen_versions: set = set()
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    for i, (phys_i, rows) in enumerate(dirs):
        phys = T.StructType.fromDDL(
            "repo string, path string, commit_seq long, offset long, "
            "content string, " + _EQ_PHYS[0 if i == 0 else phys_i]
            + ", ts timestamp, arr array<int>"
            + (", m map<string,int>" if with_map else "")
            + ", __deleted boolean")
        by_key = {}
        for (k, cs, off, content, n, sv, ts, arr, extra, dead) in rows:
            if with_map:
                if (cs, off) in seen_versions:
                    continue
                seen_versions.add((cs, off))
            vals = {
                "repo": "r", "path": f"f{k}.py", "commit_seq": cs,
                "offset": off, "content": content,
                "n": None if n is None else (
                    n if phys["n"].dataType != T.DoubleType()
                    else float("nan") if n == -3 else n / 2),
                "s": None if sv is None else (
                    json.dumps(sv) if phys["s"].dataType == T.StringType()
                    else sv),
                "ts": (epoch + datetime.timedelta(microseconds=ts)
                       ).astimezone(),
                "arr": arr, "extra": extra, "m": {"k": k, "cs": cs},
                "__deleted": dead,
            }
            by_key[k] = tuple(vals[c] for c in phys.names)
        if not by_key:
            continue
        df = t.bucket_of(spark.createDataFrame(list(by_key.values()), phys))
        rel = t.write_buckets(df, i + 1)
        snap["dir_versions"][rel] = i + 1
        for b in t.written_buckets(rel):
            if i == 0:
                snap["bucket_dirs"][b] = rel
            else:
                snap["delta_dirs"].setdefault(b, []).append(rel)
    snap.update(version=1, parent=0)
    t._commit_snapshot(snap)

    want = [{"repo": "r", "path": f"f{k}.py"} for k in keys]
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        for tomb in (False, True):
            got = t.lookup_many(want, include_tombstones=tomb)
            full = t.read(include_tombstones=tomb)
            assert got.columns == full.columns
            assert sorted(map(repr, got.collect())) == sorted(
                map(repr, full.where(_key_filter(want)).collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_read_job_count_flat_as_delta_chain_grows(spark, tmp_path,
                                                  spark_jobs):
    """Table reads plan with no schema-inference job per data dir, and a
    lookup hashes its keys with no job: a lookup and a full count run the
    same number of jobs with 1 and with 4 live delta versions."""
    table = _mk_base(spark, str(tmp_path / "lake_jobs"), n=100, n_buckets=8)
    key = {"repo": "r", "path": "f7.py"}
    counts = {}
    for n in range(1, 5):
        b = spark.createDataFrame(
            [(0, 100 + n, 100 + n, "update", "r", "f7.py", "d" * 12, None,
              f"N{n}", None)],
            COLS_V1,
        )
        apply_batch(table, _norm(b), n, merge_mode="delta")
        if n not in (1, 4):
            continue
        for path, attr, v in (("probe", "MOR_BROADCAST_MIN_BASE_RATIO", 0),
                              ("shuffle", "MOR_BROADCAST_MAX_DELTA_BYTES", -1)):
            t = SnapshotTable(spark, table.location)
            setattr(t, attr, v)
            counts[(n, path)] = (
                spark_jobs(lambda: t.lookup(key).collect()),
                spark_jobs(lambda: t.read().count()),
            )
    assert max(len(r) for r in table.snapshot()["delta_dirs"].values()) == 4
    for path in ("probe", "shuffle"):
        assert counts[(1, path)] == counts[(4, path)], counts
    assert [r["content"] for r in table.lookup(key).collect()] == ["N4"]


def test_apply_batch_job_count(spark, tmp_path, spark_jobs):
    """A batch runs a fixed number of Spark jobs per write path: the
    per-partition pre-pass, the write, and for CoW the touched-bucket read
    of the merge target.  The batch is not cached, so no job fills a cache,
    and the CoW join is partitioned like the buckets, so its write needs no
    extra exchange."""
    table = _mk_base(spark, str(tmp_path / "lake_apply_jobs"), n=100, n_buckets=8)

    def batch(i):
        return _norm(spark.createDataFrame(
            [(0, 100 + i, 100 + i, "update", "r", "f7.py", "d" * 12, None,
              f"N{i}", None)],
            COLS_V1,
        ))

    out = {}
    n_delta = spark_jobs(lambda: out.update(
        delta=apply_batch(table, batch(1), 1)))
    n_cow = spark_jobs(lambda: out.update(
        cow=apply_batch(table, batch(2), 2, merge_mode="cow")))
    assert out["delta"]["merge_mode"] == "delta"
    assert out["cow"]["merge_mode"] == "cow"
    assert (n_delta, n_cow) == (4, 5)


def test_apply_batch_py4j_round_trips(
        spark, tmp_path, py4j_round_trips, catalyst_rule_runs, spark_jobs):
    """The driver-side cost of planning a batch: ``apply_batch(table,
    _norm(batch), i)`` builds each projection as one SQL ``selectExpr``
    and creates few intermediate frames, so a delta batch makes at most
    350 py4j round trips (proxy deletes left out) and a CoW batch at most
    382, with at most 3,960 and 6,000 Catalyst rule runs.  The bounds are
    the measured counts (204 and 332 round trips, 3,443 and 5,216 rule
    runs) plus 15 %, or the delta target of 350; the per-column
    ``F.col``/``cast``/``alias`` chains made 886 and 1,460 round trips.
    The job counts stay 4 and 5."""
    table = _mk_base(spark, str(tmp_path / "lake_apply_trips"), n=100,
                     n_buckets=8)

    def raw(i):
        return spark.createDataFrame(
            [(0, 100 + i, 100 + i, "update", "r", "f7.py", "d" * 12, None,
              f"N{i}", None)],
            COLS_V1,
        )

    out, trips, runs, jobs = {}, {}, {}, {}
    for i, mode in enumerate(("delta", "cow", "delta", "cow", "delta", "cow"),
                             start=1):
        b = raw(i)
        kw = {"merge_mode": "cow"} if mode == "cow" else {}

        def run(b=b, i=i, kw=kw):
            out[i] = apply_batch(table, _norm(b), i, **kw)

        if i <= 2:
            trips[mode] = py4j_round_trips(run)
        elif i <= 4:
            runs[mode] = catalyst_rule_runs(run)
        else:
            jobs[mode] = spark_jobs(run)
        assert out[i]["merge_mode"] == mode
    assert trips["delta"] <= 350, trips
    assert trips["cow"] <= 382, trips
    assert runs["delta"] <= 3960 and runs["cow"] <= 6000, runs
    assert (jobs["delta"], jobs["cow"]) == (4, 5)


def test_later_chunk_compiles_no_class(spark, tmp_path, codegen_compiles):
    """A journal chunk's offset bounds reach generated code as referenced
    struct literals, not inlined primitives: after one chunk has run,
    reading a second chunk of the same journal with other bounds through
    ``read_journal_range`` and applying it compiles no new class."""
    from activedata_etl_spark.functions.normalize import (
        finalize_records,
        normalize_keys,
    )
    from activedata_etl_spark.journal import (
        journal_metadata,
        read_journal,
        read_journal_range,
        write_journal,
    )

    jd = str(tmp_path / "journal_codegen")
    write_journal(spark, 4096, jd, seed=3)
    schema = read_journal(spark, jd).schema
    files = journal_metadata(jd)["files"]
    table = ensure_table(spark, str(tmp_path / "lake_codegen"), schema,
                         n_buckets=8)

    def chunk(i, lo, hi):
        return apply_batch(
            table,
            normalize_keys(read_journal_range(spark, jd, lo, hi, files,
                                              schema)),
            i, finalize_fn=finalize_records, merge_mode="delta")

    chunk(0, 0, 2047)  # upsert into the empty table
    assert chunk(1, 2048, 2559)["merge_mode"] == "delta"
    out = {}
    assert codegen_compiles(
        lambda: out.update(s=chunk(2, 2560, 3071))) == 0
    assert out["s"]["merge_mode"] == "delta" and out["s"]["rows_read"] > 0


def test_lookup_runs_no_job_and_few_py4j_round_trips(
        spark, tmp_path, py4j_round_trips, spark_jobs):
    """A lookup plans no Spark read: one 4-key ``lookup_many(...).collect()``
    through a 4-deep delta chain runs 0 Spark jobs and at most 120 py4j
    round trips (proxy deletes left out)."""
    table = _mk_base(spark, str(tmp_path / "lake_lookup_cost"), n=100,
                     n_buckets=8)
    for n in range(1, 5):
        b = spark.createDataFrame(
            [(0, 100 + 4 * n + j, 100 + 4 * n + j, "update", "r", f"f{j}.py",
              "d" * 12, None, f"N{n}", None) for j in range(4)],
            COLS_V1,
        )
        apply_batch(table, _norm(b), n, merge_mode="delta")
    assert max(len(r) for r in table.snapshot()["delta_dirs"].values()) == 4
    keys = [{"repo": "r", "path": f"f{j}.py"} for j in range(4)]
    t = SnapshotTable(spark, table.location)
    rows = []
    t.lookup_many(keys).collect()  # warm: imports, first Arrow frame
    assert spark_jobs(lambda: rows.extend(t.lookup_many(keys).collect())) \
        == 0
    assert sorted((r["path"], r["content"]) for r in rows) == [
        (f"f{j}.py", "N4") for j in range(4)]
    trips = py4j_round_trips(lambda: t.lookup_many(keys).collect())
    assert trips <= 120, trips


def test_cow_merge_writes_one_file_per_touched_bucket(spark, tmp_path):
    """With shuffle partitions dividing n_buckets, the CoW merge join is
    hash-partitioned like the buckets, so each touched bucket gets one
    file.  The rows equal the read-time LWW merge of the same batches (the
    delta twin) on a batch with a delete, a stale update and a stale update
    of a tombstoned key."""
    import glob as _glob
    import os

    n_buckets = 16
    assert n_buckets % int(spark.conf.get("spark.sql.shuffle.partitions")) == 0

    def ev(offset, seq, op, path, content):
        return (0, offset, seq, op, "r", path, "d" * 12, None, content, None)

    b1 = [ev(150, 150, "delete", "f3.py", None)]
    b2 = ([ev(160, 160, "delete", "f5.py", None),
           ev(161, 1, "update", "f7.py", "STALE"),   # base f7 has seq 7
           ev(162, 2, "update", "f3.py", "UNDEAD"),  # loses to the tombstone
           ev(170, 170, "insert", "fNEW.py", "N")]
          + [ev(200 + i, 200 + i, "update", f"f{i}.py", f"U{i}")
             for i in range(10, 60)])
    tables, summaries = {}, {}
    # keep every shuffle partition: AQE would coalesce this tiny fixture
    # into one task, which writes one file per bucket whatever the join keys
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        for mode in ("cow", "delta"):
            t = _mk_base(spark, str(tmp_path / f"lake_{mode}_files"), n=100,
                         n_buckets=n_buckets)
            for bid, rows in ((1, b1), (2, b2)):
                summaries[mode] = apply_batch(
                    t, _norm(spark.createDataFrame(rows, COLS_V1)), bid,
                    merge_mode=mode)
            tables[mode] = t
    finally:
        spark.conf.set(coalesce, was)
    s = summaries["cow"]
    assert s["merge_mode"] == "cow" and s["touched_buckets"] > 8
    assert (s["rows_applied"], s["deletes_applied"],
            s["merge_conflicts_resolved"]) == (51, 1, 2)
    root = os.path.join(tables["cow"].location, s["data_rel"])
    per_bucket = [len(_glob.glob(os.path.join(d, "*.parquet")))
                  for d in _glob.glob(os.path.join(root, "__bucket=*"))]
    assert len(per_bucket) == s["touched_buckets"]
    assert max(per_bucket) == 1

    cow = tables["cow"].read(include_tombstones=True)
    assert _rows(cow) == _rows(tables["delta"].read(include_tombstones=True))
    live = {r["path"]: r["content"] for r in tables["cow"].read().collect()}
    assert "f3.py" not in live and "f5.py" not in live
    assert live["f7.py"] == "X" * 50 and live["fNEW.py"] == "N"
    assert live["f10.py"] == "U10" and len(live) == 100 - 2 + 1


def test_read_plans_one_scan_per_physical_schema(spark, tmp_path):
    """A read across a delta chain that crosses a column widening plans one
    FileScan per distinct physical schema of the dirs it reads (not one per
    writer version), with the same rows."""
    from activedata_etl_spark.lake.schema_evolution import footer_schema

    loc = str(tmp_path / "lake_scan_groups")
    s1 = COLS_V1 + ", size int"
    s2 = COLS_V1 + ", size double"
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, "X", None, i)
        for i in range(40)
    ]
    table = ensure_table(spark, loc, spark.createDataFrame(rows, s1).schema,
                         n_buckets=1)
    apply_batch(table, _norm(spark.createDataFrame(rows, s1)), 0)
    deltas = [(s1, 1, 1), (s2, 2, 2.5), (s2, 3, 3.5)]  # widens at the 2nd
    for bid, (schema, i, size) in enumerate(deltas, start=1):
        b = spark.createDataFrame(
            [(0, 100 + bid, 100 + bid, "update", "r", f"f{i}.py", "d" * 12,
              None, f"N{bid}", None, size)], schema)
        assert apply_batch(table, _norm(b), bid, merge_mode="delta")[
            "merge_mode"] == "delta"

    snap = table.snapshot()
    base_dirs = sorted(set(snap["bucket_dirs"].values()))
    delta_dirs = sorted({r for rels in snap["delta_dirs"].values()
                         for r in rels})
    assert len(delta_dirs) == 3

    def n_schemas(rels):
        return len({footer_schema(f"{loc}/{r}/__bucket=0").json()
                    for r in rels})

    want_scans = n_schemas(base_dirs) + n_schemas(delta_dirs)
    assert want_scans < len(base_dirs) + len(delta_dirs)

    t = SnapshotTable(spark, loc)
    t.MOR_BROADCAST_MAX_DELTA_BYTES = -1  # the shuffle MOR path: one base scan
    df = t.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"FileScan parquet", plan)) == want_scans
    got = {r["path"]: (r["content"], r["size"]) for r in df.collect()}
    assert len(got) == 40
    assert got["f0.py"] == ("X", 0.0)
    assert got["f1.py"] == ("N1", 1.0)
    assert got["f2.py"] == ("N2", 2.5) and got["f3.py"] == ("N3", 3.5)
    key = {"repo": "r", "path": "f2.py"}
    assert _rows(t.lookup(key)) == _rows(df.where(_key_filter([key])))


def test_footer_schema_and_inference_fallback(spark, tmp_path):
    """read_parquet takes the schema inference would give from one footer,
    and falls back to inference where no ``*.parquet`` footer exists."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from activedata_etl_spark.lake.schema_evolution import (
        footer_schema,
        read_parquet,
    )

    written = str(tmp_path / "spark_written")
    spark.createDataFrame(
        [(1, "a", None, [1.5])], "i int, s string, ts timestamp, xs array<double>"
    ).write.parquet(written)
    assert read_parquet(spark, written).schema == spark.read.parquet(
        written).schema
    assert footer_schema(written) is not None

    empty = tmp_path / "empty"
    empty.mkdir()
    assert footer_schema(str(empty)) is None
    # a parquet file without the extension: no footer to read, Spark infers
    odd = tmp_path / "no_ext"
    odd.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(odd / "part-0"))
    assert footer_schema(str(odd)) is None
    assert sorted(r["k"] for r in read_parquet(spark, str(odd)).collect()) == [
        1, 2]


def test_streaming_tail_exports_es_continuously(spark, tmp_path):
    """stream --export-es: each committed micro-batch's change-feed range
    renders as _bulk files; the union of exported actions covers the
    converged table exactly once per live key (plus versioned deletes)."""
    import glob as _glob
    import json as _json

    from activedata_etl_spark.journal import write_journal
    from activedata_etl_spark.streaming.replay import stream_journal

    jd = str(tmp_path / "journal_esx")
    write_journal(spark, 2048, jd)
    loc = str(tmp_path / "lake_esx_stream")
    ckpt = str(tmp_path / "ckpt_esx")
    out = str(tmp_path / "esx_stream_out")
    stream_journal(spark, jd, loc, ckpt, max_files_per_trigger=1,
                   timeout_sec=120, export_es_dir=out)

    table = SnapshotTable(spark, loc)
    assert int(table.snapshot()["properties"]["es_export_es"]) >= 1
    # several micro-batches -> several exported ranges, contiguous
    dirs = sorted(
        _glob.glob(f"{out}/v*_to_*"),
        key=lambda d: int(d.rsplit("/v", 1)[1].split("_")[0]),
    )
    assert len(dirs) >= 2
    spans = [tuple(map(int, d.rsplit("/v", 1)[1].split("_to_"))) for d in dirs]
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert a1 == b0, spans

    # LWW across all exported actions == the converged table's live keys
    best = {}
    deleted = set()
    for d in dirs:
        for f in _glob.glob(f"{d}/part-*"):
            with open(f) as fh:
                lines = [ln for ln in fh.read().splitlines() if ln]
            i = 0
            while i < len(lines):
                a = _json.loads(lines[i])
                (op, meta), = a.items()
                key, ver = meta["_id"], meta["version"]
                if ver >= best.get(key, (-1,))[0]:
                    if op == "delete":
                        best[key] = (ver, None)
                    else:
                        best[key] = (ver, _json.loads(lines[i + 1]))
                i += 2 if op == "index" else 1
    live_export = {k: v[1]["content_sha256"]
                   for k, v in best.items() if v[1] is not None}
    live_table = {
        _json.dumps({"repo": r["repo"], "path": r["path"]},
                    separators=(",", ":")): r["content_sha256"]
        for r in table.read().select("repo", "path", "content_sha256").collect()
    }
    assert live_export == live_table


def test_sync_changes_skips_pure_metadata_source_ranges(spark, tmp_path):
    """A source range containing only property commits (e.g. the source's
    own export cursor) must not push an empty batch through the replica's
    merge on every poll: the free changed_buckets check advances the sync
    cursor with one metadata commit, and the follow-up poll is a pure
    no-op."""
    from activedata_etl_spark.lake.merge import sync_changes

    src_loc = str(tmp_path / "cdfm_src")
    rep_loc = str(tmp_path / "cdfm_rep")
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, f"X{i}", None)
        for i in range(4)
    ]
    b0 = spark.createDataFrame(rows, COLS_V1)
    src = ensure_table(spark, src_loc, b0.schema, n_buckets=4)
    apply_batch(src, _norm(b0), 0)
    sync_changes(src, rep_loc)
    rep = SnapshotTable(spark, rep_loc)
    rep_batches_before = rep.last_batch_id()

    src.set_properties(some_cursor=7)  # metadata-only source commit
    s = sync_changes(src, rep)
    assert s["applied"] == 0 and s["batches"] == 0
    assert s["synced_version"] == src.current_version()
    # no empty batch went through the replica's merge
    assert rep.last_batch_id() == rep_batches_before
    rep_v = rep.current_version()
    # fully caught up: the next poll is a no-op with NO replica commit
    s2 = sync_changes(src, rep)
    assert s2["batches"] == 0 and rep.current_version() == rep_v
    # and real changes still flow
    b1 = spark.createDataFrame(
        [(0, 10, 10, "update", "r", "f1.py", "d" * 12, None, "NEW", None)],
        COLS_V1,
    )
    apply_batch(src, _norm(b1), 1)
    s3 = sync_changes(src, rep)
    assert s3["applied"] == 1
    assert {r["content"] for r in rep.read().collect()} >= {"NEW"}


def _empty_bucket_path(spark, table, repo="r", prefix="newdoc"):
    """A path whose (repo, path) key hashes to a bucket with neither base
    dir nor delta chain in the current snapshot."""
    snap = table.snapshot()
    nb = int(snap["n_buckets"])
    occupied = set(snap["bucket_dirs"]) | set(snap.get("delta_dirs", {}))
    cand = spark.createDataFrame(
        [(f"{prefix}{i}.py",) for i in range(256)], "path string"
    )
    rows = cand.select(
        "path",
        F.pmod(F.hash(F.lit(repo), F.col("path")), F.lit(nb))
        .cast("int").alias("b"),
    ).collect()
    for r in rows:
        if str(r["b"]) not in occupied:
            return r["path"], str(r["b"])
    raise AssertionError("no empty bucket found — raise n_buckets")


def test_delta_only_bucket_changes_sync_and_pruning(spark, tmp_path):
    """A delta-mode batch inserting a key into a previously-EMPTY bucket
    leaves a bucket with a delta chain but no base dir.  That bucket must
    (a) appear in changed_buckets / changes / sync_changes — the feed must
    not lose the insert and the pure-metadata fast path must not advance
    the cursor past it — and (b) never be zone-map-pruned away once an
    ANALYZE has stamped stats (both enumerations previously iterated only
    bucket_dirs)."""
    from activedata_etl_spark.lake.merge import sync_changes

    loc = str(tmp_path / "dob_src")
    rep_loc = str(tmp_path / "dob_rep")
    table = _mk_base(spark, loc, n=4, n_buckets=32)
    sync_changes(table, rep_loc)  # replica caught up to v0 state
    v0 = table.current_version()

    path, b = _empty_bucket_path(spark, table)
    b1 = spark.createDataFrame(
        [
            (0, 100, 100, "update", "r", "f1.py", "d" * 12, None, "NEW", None),
            (0, 101, 101, "insert", "r", path, "e" * 12, None, "FRESH", None),
        ],
        COLS_V1,
    )
    s = apply_batch(table, _norm(b1), 1, merge_mode="delta")
    assert s["merge_mode"] == "delta"
    snap = table.snapshot()
    # precondition: the new key's bucket is delta-only (no base dir)
    assert b in snap.get("delta_dirs", {}) and b not in snap["bucket_dirs"]

    v1 = table.current_version()
    assert b in (table.changed_buckets(v0, v1) or [])
    feed = {r["path"]: r[table.CHANGE_TYPE_COL]
            for r in table.changes(v0, v1).collect()}
    assert feed[path] == "insert"

    sync_changes(table, rep_loc)
    rep = SnapshotTable(spark, rep_loc)
    got = {r["path"]: r["content"] for r in rep.read().collect()}
    assert got[path] == "FRESH"

    # zone maps measured AFTER the delta batch: the base-less bucket is
    # kept via its own stamped fingerprint, and the filtered read sees it
    table.analyze()
    pruned = table.prunable_buckets([("content", "==", "FRESH")])
    assert pruned is not None and b in pruned
    rows = table.read(filters=[("content", "==", "FRESH")]).collect()
    assert [r["path"] for r in rows] == [path]
    # and pruning still prunes: a provably-absent value drops the bucket
    none = table.read(filters=[("content", "==", "zzzz")]).count()
    assert none == 0


def test_maybe_analyze_keeps_zone_maps_fresh_during_replay(spark, tmp_path):
    """replay_journal's in-loop maintenance refreshes column stats/zone
    maps via maybe_analyze (staleness = commits since last stats) — no CLI
    or manual analyze() call — and pruned reads stay correct throughout."""
    from activedata_etl_spark.journal import write_journal
    from activedata_etl_spark.streaming.replay import replay_journal

    jd, loc = str(tmp_path / "ma_j"), str(tmp_path / "ma_lake")
    write_journal(spark, 4096, jd)
    r = replay_journal(spark, jd, loc, chunk_events=512,
                       analyze_stale_commits=3)
    assert r["batches"] == 8
    t = SnapshotTable(spark, loc)
    stats = t.snapshot().get("properties", {}).get("column_stats")
    assert stats is not None, "in-loop maintenance never analyzed"
    # fresh: within the staleness budget of the final commit
    assert t.current_version() - int(stats["snapshot_version"]) <= 4
    # pruning works off the auto-refreshed zone maps and stays correct
    pruned = t.prunable_buckets([("commit_seq", ">", 10 ** 12)])
    assert pruned is not None
    assert t.read(filters=[("commit_seq", ">", 10 ** 12)]).count() == 0
    full = t.read().count()
    assert t.read(filters=[("commit_seq", ">", -1)]).count() == full
    # staleness hook is a no-op when fresh (no commit minted)
    v = t.current_version()
    assert t.maybe_analyze(max_commits_stale=16) is None
    assert t.current_version() == v
    # ...and fires once the budget is crossed
    assert t.maybe_analyze(max_commits_stale=0) is not None
    assert t.current_version() == v + 1


def test_maybe_expire_bounds_metadata_growth(spark, tmp_path):
    """Opt-in in-loop expiry: a many-batch replay with
    expire_max_snapshots keeps the metadata dir bounded (one JSON per
    commit otherwise) and the converged table identical to an
    expiry-free replay."""
    import os as _os

    from activedata_etl_spark.journal import write_journal
    from activedata_etl_spark.streaming.replay import replay_journal

    jd = str(tmp_path / "me_j")
    write_journal(spark, 4096, jd)
    loc_a, loc_b = str(tmp_path / "me_a"), str(tmp_path / "me_b")
    replay_journal(spark, jd, loc_a, chunk_events=256,
                   analyze_stale_commits=None)
    replay_journal(spark, jd, loc_b, chunk_events=256,
                   analyze_stale_commits=None, expire_max_snapshots=6)
    a, b = SnapshotTable(spark, loc_a), SnapshotTable(spark, loc_b)
    n_meta = lambda t: sum(  # noqa: E731
        1 for f in _os.listdir(t.meta_dir) if f.endswith(".json"))
    assert n_meta(a) >= 16        # one per batch, unbounded
    assert n_meta(b) <= 12        # bounded by the hook (threshold + slack)
    ka = {(r["repo"], r["path"], r["content_sha256"])
          for r in a.read().collect()}
    kb = {(r["repo"], r["path"], r["content_sha256"])
          for r in b.read().collect()}
    assert ka == kb
    # under threshold: no-op
    assert b.maybe_expire(max_snapshots=64) is None


def test_delta_commit_refuses_rebase_across_rebucket(spark, tmp_path):
    """A delta-mode batch racing a rebucket() must NOT rebase: its delta
    files are bucketed under the old n_buckets, so appending them to
    delta_dirs keyed by stale bucket ids would misroute keys.  _commit
    re-raises CommitConflictError; the caller's recompute (replay's retry
    loop) then rebuilds the batch against the new layout and converges."""
    import unittest.mock as mock

    import activedata_etl_spark.lake.table as tbl
    from activedata_etl_spark.lake.table import CommitConflictError

    loc = str(tmp_path / "delta_rebucket_race")
    table = _mk_base(spark, loc, n=32, n_buckets=8)
    other = SnapshotTable(spark, loc)
    orig = tbl.SnapshotTable.write_buckets
    hit = {"n": 0}

    def racing_write(self, df, version, sort_by=None):
        rel = orig(self, df, version, sort_by=sort_by)
        if self is table and hit["n"] == 0:
            hit["n"] = 1
            other.rebucket(4)  # layout change lands before our commit
        return rel

    up = spark.createDataFrame(
        [(0, 32, 500, "update", "r", "f0.py", "c" * 12, None, "DELTA", None)],
        COLS_V1,
    )
    with mock.patch.object(tbl.SnapshotTable, "write_buckets", racing_write):
        with pytest.raises(CommitConflictError):
            apply_batch(table, _norm(up), 1, merge_mode="delta")
    assert hit["n"] == 1
    # caller-style recompute against the fresh snapshot converges
    s = apply_batch(table, _norm(up), 1, merge_mode="delta")
    assert not s.get("skipped")
    got = table.lookup({"repo": "r", "path": "f0.py"}).collect()
    assert len(got) == 1 and got[0]["content"] == "DELTA"
    assert table.read().count() == 32


def test_history_base_rows_zero_vs_unknown(spark, tmp_path):
    """history() distinguishes 'row accounting present, sums to 0' (an
    empty-but-tracked table: all rows deleted then compacted away) from
    'no accounting' (None) instead of collapsing falsy sums."""
    loc = str(tmp_path / "hist0")
    table = _mk_base(spark, loc, n=3, n_buckets=4)
    b1 = spark.createDataFrame(
        [(0, 100 + i, 100 + i, "delete", "r", f"f{i}.py", "c" * 12, None,
          None, None) for i in range(3)],
        COLS_V1,
    )
    apply_batch(table, _norm(b1), 1)
    table.compact(drop_tombstones=True)
    assert table.read().count() == 0
    newest = table.history()[0]
    assert newest["base_rows"] == 0          # tracked-and-empty, not None


def test_rollback_restores_state_and_fence(spark, tmp_path):
    """rollback commits a NEW version equal to the target snapshot:
    data, schema, AND the exactly-once fence (watermarks/batch_id) — so
    a post-rollback replay re-applies exactly the discarded events."""
    loc = str(tmp_path / "lake_rb")
    table = _mk_base(spark, loc, n=10)
    v1 = table.current_version()
    wm1 = table.watermarks()

    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f3.py", "d" * 12, None, "NEW", None,
          "100644"),
         (0, 101, 101, "insert", "r", "g.py", "d" * 12, None, "G", None,
          "100644")],
        COLS_V2,
    )
    apply_batch(table, _norm(b1), 1)
    assert {r["path"]: r["content"] for r in table.read().collect()}["f3.py"] == "NEW"

    v_rb = table.rollback(v1)
    assert v_rb == table.current_version() and v_rb > v1  # history is linear
    got = {r["path"]: r["content"] for r in table.read().collect()}
    assert got["f3.py"] == "X" * 50 and "g.py" not in got and len(got) == 10
    assert "mode" not in table.schema().fieldNames()   # schema rolled back
    assert table.watermarks() == wm1                   # fence rolled back
    assert table.last_batch_id() == 0
    # fence consistency: re-applying the discarded batch lands it again
    apply_batch(table, _norm(b1), 1)
    assert {r["path"] for r in table.read().collect()} >= {"f3.py", "g.py"}
    # rolling back to a FUTURE version is a loud error
    with pytest.raises(ValueError, match="newer"):
        table.rollback(table.current_version() + 5)


def test_rollback_strips_export_cursors_and_full_reexport(spark, tmp_path):
    """rollback STRIPS export/sync cursors instead of reverting them:
    external artifacts (published JSONL shards) do not roll back with the
    table, so a reverted cursor would diff old-cursor vs restored-head and
    skip content-matching shards — the next incremental export must be a
    FULL re-export, byte-identical to a fresh full export of the restored
    state."""
    import glob
    import gzip

    from activedata_etl_spark.sinks.jsonl_export import (
        export_jsonl_changes,
        export_jsonl_shards,
    )

    loc = str(tmp_path / "lake_rbx")
    table = _mk_base(spark, loc, n=12)
    v1 = table.current_version()
    out = str(tmp_path / "pub_rbx")
    s0 = export_jsonl_changes(table, out, id_col="path", n_shards=4)
    assert s0["full"] is True

    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f3.py", "d" * 12, None, "ROLLME",
          None, "100644")],
        COLS_V2,
    )
    apply_batch(table, _norm(b1), 1)
    export_jsonl_changes(table, out, id_col="path", n_shards=4)

    table.rollback(v1)
    props = table.snapshot().get("properties", {})
    assert not any(k.startswith(("jsonl_export_", "es_export_"))
                   for k in props), props

    # next incremental call performs a full re-export of the restored state
    s2 = export_jsonl_changes(table, out, id_col="path", n_shards=4)
    assert s2["full"] is True

    ref = str(tmp_path / "pub_ref")
    export_jsonl_shards(table.read(), ref, id_col="path", n_shards=4)

    def lines(base):
        d = {}
        for fn in glob.glob(f"{base}/data/shard=*/part-*"):
            with gzip.open(fn, "rt") as f:
                d.setdefault(fn.split("shard=")[1].split("/")[0], []).extend(
                    f.read().splitlines())
        return d

    assert lines(out) == lines(ref)


def test_tags_pin_versions_through_expiry(spark, tmp_path):
    """A tagged snapshot survives expire_snapshots; reads and rollback
    resolve the tag name; drop_tag releases it for expiry."""
    loc = str(tmp_path / "lake_tag")
    table = _mk_base(spark, loc, n=6)
    v1 = table.current_version()
    table.tag("golden")                       # pins v1
    assert table.tags() == {"golden": v1}

    b1 = spark.createDataFrame(
        [(0, 100, 100, "delete", "r", "f0.py", "d" * 12, None, None, None)],
        COLS_V1,
    )
    apply_batch(table, _norm(b1), 1)
    apply_batch(table, _norm(b1.withColumn("offset", F.col("offset") + 50)
                             .withColumn("commit_seq", F.col("commit_seq") + 50)), 2)

    removed = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert f"metadata/v{v1}.json" not in removed       # tag pinned it
    by_tag = {r["path"] for r in table.read(version="golden").collect()}
    assert "f0.py" in by_tag and len(by_tag) == 6      # tag read = old state

    v_rb = table.rollback("golden")                    # rollback via tag
    assert {r["path"] for r in table.read().collect()} == by_tag
    assert table.tags()["golden"] == v1                # ref survives rollback
    assert table.snapshot()["properties"]["rolled_back_to"] == v1

    table.drop_tag("golden")
    assert table.tags() == {}
    with pytest.raises(KeyError, match="golden"):
        table.read(version="golden")
    removed = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert f"metadata/v{v1}.json" in removed           # now expirable
    # dangling-ref guard: tagging a pruned version fails loudly
    with pytest.raises(FileNotFoundError):
        table.tag("bad", v1)
    assert v_rb < table.current_version() + 1


def test_export_jsonl_changes_incremental_equals_full(spark, tmp_path):
    """Incremental shard publishing over the change feed: only shards
    holding changed keys are rewritten (others byte-untouched, checked
    via mtime AND content), deletes empty their shard's rows, and the
    incremental result is line-identical to a fresh full export of the
    same version; cursor discipline makes the next call a no-op; config
    drift fails loudly."""
    import glob
    import gzip
    import json as _json

    from activedata_etl_spark.sinks.jsonl_export import (
        export_jsonl_changes,
        export_jsonl_shards,
    )

    loc = str(tmp_path / "lake_ej")
    table = _mk_base(spark, loc, n=30)
    out = str(tmp_path / "pub")
    N = 8

    s0 = export_jsonl_changes(table, out, id_col="path", n_shards=N)
    assert s0["full"] is True and s0["rows"] == 30

    def snap_files(base):
        d = {}
        for fn in glob.glob(f"{base}/data/shard=*/part-*"):
            with gzip.open(fn, "rt") as f:
                d.setdefault(fn.split("shard=")[1].split("/")[0], []).extend(
                    f.read().splitlines())
        return d

    import os as _os
    mtimes_before = {
        fn: _os.stat(fn).st_mtime_ns
        for fn in glob.glob(f"{out}/data/shard=*/part-*")
    }

    # mutate: update f1.py, insert g.py, delete f2.py
    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f1.py", "d" * 12, None, "NEW", None),
         (0, 101, 101, "insert", "r", "g.py", "d" * 12, None, "G", None),
         (0, 102, 102, "delete", "r", "f2.py", "d" * 12, None, None, None)],
        COLS_V1)
    apply_batch(table, _norm(b1), 1)

    s1 = export_jsonl_changes(table, out, id_col="path", n_shards=N)
    assert s1["full"] is False and 1 <= s1["shards_rewritten"] <= 3

    # line-identical to a fresh full export of the current version
    ref = str(tmp_path / "ref")
    export_jsonl_shards(table.read(), ref, id_col="path", n_shards=N)
    got, want = snap_files(out), snap_files(ref)
    for s in range(N):
        assert sorted(got.get(str(s), [])) == sorted(want.get(str(s), []))
    # manifests agree on totals
    m_out = _json.load(open(f"{out}/manifest.json"))
    m_ref = _json.load(open(f"{ref}/manifest.json"))
    assert m_out["total_rows"] == m_ref["total_rows"] == 30  # -1 del +1 ins
    assert m_out["shards"] == m_ref["shards"]

    # untouched shards were not rewritten (same inode mtimes)
    untouched = [
        fn for fn in mtimes_before
        if _os.path.exists(fn)
        and _os.stat(fn).st_mtime_ns == mtimes_before[fn]
    ]
    assert len(untouched) >= N - 3 - 1

    # cursor: immediate re-call is a no-op
    s2 = export_jsonl_changes(table, out, id_col="path", n_shards=N)
    assert s2["shards_rewritten"] == 0 and s2["rows"] == 0

    # config drift is loud
    with pytest.raises(ValueError, match="config drift"):
        export_jsonl_changes(table, out, id_col="path", n_shards=N + 1)
