"""End-to-end CDC correctness: replay -> converged table == pandas oracle.

Covers the north-star invariants: byte-identical final state (per-row
sha256), batch-split invariance, kill-and-resume, duplicate redelivery,
epoch fencing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from activedata_etl_spark.journal import (
    expected_state_df,
    journal_df,
    read_journal,
    write_journal,
)
from activedata_etl_spark.lake.merge import apply_batch
from activedata_etl_spark.lake.table import SnapshotTable
from activedata_etl_spark.streaming.replay import ensure_table, replay_journal
from tests.oracle import assert_table_matches_oracle

N = 10_240  # multiple of 16 (full permutation blocks)


@pytest.fixture(scope="module")
def journal_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("journal"))
    write_journal(spark, N, d, v2_fraction=0.25)
    return d


@pytest.fixture(scope="module")
def journal_pdf(spark, journal_dir):
    return read_journal(spark, journal_dir).toPandas()


def test_journal_deterministic(spark):
    a = journal_df(spark, 512).toPandas().sort_values(["offset"]).reset_index(drop=True)
    b = journal_df(spark, 512, num_spark_partitions=7).toPandas().sort_values(
        ["offset"]
    ).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_journal_commit_seq_is_permutation(spark):
    df = journal_df(spark, 512, dup_pct=0)
    seqs = sorted(r[0] for r in df.select("commit_seq").collect())
    assert seqs == list(range(512))


def test_journal_has_skew_and_dups(spark, journal_dir):
    j = read_journal(spark, journal_dir)
    hot = j.where(F.col("repo") == "repo_hot").count()
    assert hot > 0.4 * N
    assert j.count() > N  # duplicates present


def test_replay_matches_oracle(spark, journal_dir, journal_pdf, tmp_path):
    loc = str(tmp_path / "lake")
    res = replay_journal(spark, journal_dir, loc, chunk_events=2048)
    assert res["batches"] == 5
    table = SnapshotTable(spark, loc)
    assert_table_matches_oracle(table.read(), journal_pdf)


def test_batch_split_invariance(spark, journal_dir, journal_pdf, tmp_path):
    loc = str(tmp_path / "lake_one_batch")
    replay_journal(spark, journal_dir, loc, chunk_events=N * 2)
    assert_table_matches_oracle(SnapshotTable(spark, loc).read(), journal_pdf)

    loc2 = str(tmp_path / "lake_tiny_batches")
    replay_journal(spark, journal_dir, loc2, chunk_events=640)
    assert_table_matches_oracle(SnapshotTable(spark, loc2).read(), journal_pdf)


def test_salted_path_same_result(spark, journal_dir, journal_pdf, tmp_path):
    loc = str(tmp_path / "lake_salted")
    replay_journal(spark, journal_dir, loc, chunk_events=2048, salted=True)
    assert_table_matches_oracle(SnapshotTable(spark, loc).read(), journal_pdf)


def test_kill_and_resume(spark, journal_dir, journal_pdf, tmp_path):
    loc = str(tmp_path / "lake_resume")
    partial = replay_journal(spark, journal_dir, loc, chunk_events=2048, max_batches=2)
    assert partial["batches"] == 2
    table = SnapshotTable(spark, loc)
    v_mid = table.current_version()

    full = replay_journal(spark, journal_dir, loc, chunk_events=2048)
    assert full["batches"] == 3  # resumed, not restarted
    assert_table_matches_oracle(table.read(), journal_pdf)

    again = replay_journal(spark, journal_dir, loc, chunk_events=2048)
    assert again["batches"] == 0  # fully fenced
    assert table.current_version() > v_mid


def test_epoch_fence_and_watermark_idempotency(spark, journal_dir, tmp_path):
    from activedata_etl_spark.functions.normalize import normalize_batch

    loc = str(tmp_path / "lake_fence")
    j = read_journal(spark, journal_dir)
    table = ensure_table(spark, loc, j.schema)
    batch = normalize_batch(j.where(F.col("offset") < 2048))

    s1 = apply_batch(table, batch, 0)
    assert not s1["skipped"] and s1["rows_applied"] > 0
    v1 = table.current_version()

    # same epoch again -> fenced, no commit
    s2 = apply_batch(table, batch, 0)
    assert s2["skipped"] and table.current_version() == v1

    # same data under a NEW epoch -> all below watermark, metadata-only commit
    s3 = apply_batch(table, batch, 1)
    assert not s3["skipped"]
    assert s3["rows_applied"] == 0 and s3["below_watermark"] == s3["rows_read"]
    assert table.snapshot()["bucket_dirs"] == table.snapshot(v1)["bucket_dirs"]


def test_out_of_order_stale_update_loses(spark, tmp_path):
    """external_gte: a stale (lower commit_seq) event arriving in a LATER
    batch must not overwrite the newer row (elasticsearch.py:374-380)."""
    cols = "partition int, offset long, commit_seq long, op string, repo string, path string, commit string, lang string, content string, ts timestamp"
    new = spark.createDataFrame(
        [(0, 10, 100, "update", "r", "a.py", "c" * 12, None, "NEW", None)], cols
    )
    stale = spark.createDataFrame(
        [(1, 11, 50, "update", "r", "a.py", "d" * 12, None, "OLD", None)], cols
    )
    from activedata_etl_spark.functions.normalize import normalize_batch

    loc = str(tmp_path / "lake_ooo")
    table = ensure_table(spark, loc, new.schema)
    apply_batch(table, normalize_batch(new), 0)
    s = apply_batch(table, normalize_batch(stale), 1)
    assert s["merge_conflicts_resolved"] == 1
    rows = table.read().select("content").collect()
    assert [r[0] for r in rows] == ["NEW"]


def test_delete_then_reinsert(spark, tmp_path):
    cols = "partition int, offset long, commit_seq long, op string, repo string, path string, commit string, lang string, content string, ts timestamp"
    from activedata_etl_spark.functions.normalize import normalize_batch

    loc = str(tmp_path / "lake_del")
    ins = spark.createDataFrame(
        [(0, 0, 0, "insert", "r", "a.py", "c" * 12, None, "V1", None)], cols
    )
    table = ensure_table(spark, loc, ins.schema)
    apply_batch(table, normalize_batch(ins), 0)
    dele = spark.createDataFrame(
        [(0, 1, 1, "delete", "r", "a.py", "e" * 12, None, None, None)], cols
    )
    s = apply_batch(table, normalize_batch(dele), 1)
    assert s["deletes_applied"] == 1
    assert table.read().count() == 0
    re_ins = spark.createDataFrame(
        [(0, 2, 2, "insert", "r", "a.py", "f" * 12, None, "V2", None)], cols
    )
    apply_batch(table, normalize_batch(re_ins), 2)
    assert [r[0] for r in table.read().select("content").collect()] == ["V2"]


def test_tombstone_blocks_stale_resurrection(spark, tmp_path):
    """delete(seq=100) applied in batch N; stale update(seq=90) arriving in
    batch N+1 must NOT resurrect the key (tombstone version guard)."""
    cols = "partition int, offset long, commit_seq long, op string, repo string, path string, commit string, lang string, content string, ts timestamp"
    from activedata_etl_spark.functions.normalize import normalize_batch

    loc = str(tmp_path / "lake_tomb")
    b0 = spark.createDataFrame(
        [(0, 0, 50, "insert", "r", "a.py", "c" * 12, None, "V1", None),
         (0, 1, 100, "delete", "r", "a.py", "d" * 12, None, None, None)], cols
    )
    table = ensure_table(spark, loc, b0.schema)
    apply_batch(table, normalize_batch(b0), 0)
    assert table.read().count() == 0
    # tombstone is physically present with the delete's version
    assert table.read(include_tombstones=True).count() == 1

    stale = spark.createDataFrame(
        [(1, 2, 90, "update", "r", "a.py", "e" * 12, None, "STALE", None)], cols
    )
    s = apply_batch(table, normalize_batch(stale), 1)
    assert s["merge_conflicts_resolved"] == 1
    assert table.read().count() == 0  # still deleted

    # a genuinely newer insert does resurrect
    fresh = spark.createDataFrame(
        [(1, 3, 110, "insert", "r", "a.py", "f" * 12, None, "NEW", None)], cols
    )
    apply_batch(table, normalize_batch(fresh), 2)
    assert [r["content"] for r in table.read().collect()] == ["NEW"]

    # compaction GC: tombstones drop once the horizon passed
    dele2 = spark.createDataFrame(
        [(1, 4, 120, "delete", "r", "a.py", "g" * 12, None, None, None)], cols
    )
    apply_batch(table, normalize_batch(dele2), 3)
    table.compact(drop_tombstones=True)
    assert table.read(include_tombstones=True).count() == 0


def test_spark_oracle_agrees_with_pandas(spark, journal_dir, journal_pdf):
    """The distributed Spark-side oracle equals the pandas oracle."""
    j = read_journal(spark, journal_dir)
    exp = expected_state_df(j).count()
    from tests.oracle import oracle_state

    assert exp == len(oracle_state(journal_pdf))


def test_lineage_recorded(spark, journal_dir, tmp_path):
    loc = str(tmp_path / "lake_lineage")
    replay_journal(spark, journal_dir, loc, chunk_events=4096)
    table = SnapshotTable(spark, loc)
    lin = table.read_lineage().toPandas()
    assert set(lin["batch_id"]) == {0, 1, 2}
    per_part = lin[lin["partition"] >= 0]
    # journal has 8 partitions; every batch reports each partition it touched
    assert per_part["rows_read"].sum() == read_journal(spark, journal_dir).count()
    summary = lin[lin["partition"] == -1]
    assert (summary["rows_applied"] >= 0).all()


def test_journal_schema_matches_read_journal(
    spark, journal_dir, tmp_path, catalyst_rule_runs
):
    """``journal_schema`` equals ``read_journal(...).schema`` in names,
    types and nullability: merged from the footers of the two-segment
    fixture (seg=2 adds ``mode``) without analyzing a plan, and inferred
    for a segment-less journal whose partition dirs add a column."""
    from activedata_etl_spark.journal import journal_schema

    flat_dir = str(tmp_path / "flat_journal")
    read_journal(spark, journal_dir).write.partitionBy("partition") \
        .parquet(flat_dir)
    for jd in (journal_dir, flat_dir):
        got = [(f.name, f.dataType, f.nullable)
               for f in journal_schema(spark, jd)]
        assert got == [(f.name, f.dataType, f.nullable)
                       for f in read_journal(spark, jd).schema]
        assert "mode" in [name for name, _, _ in got]
    assert catalyst_rule_runs(lambda: journal_schema(spark, journal_dir)) == 0


def test_chunk_scans_only_overlapping_journal_files(
    spark, journal_dir, journal_pdf, tmp_path
):
    """A replay chunk reads only the journal files whose offsets overlap it,
    with the full journal schema and the rows of a whole-journal filter —
    for a segmented journal and for a flat (segment-less) copy of it; a
    replay whose chunks straddle the seg=1/seg=2 boundary and end inside
    files converges to the oracle."""
    import os

    import pyarrow.parquet as pq

    from activedata_etl_spark.journal import journal_metadata, read_journal_range

    full = read_journal(spark, journal_dir)
    flat_dir = str(tmp_path / "flat_journal")
    (full.repartitionByRange(6, "offset").sortWithinPartitions("offset")
        .write.parquet(flat_dir))
    meta = journal_metadata(journal_dir, spark)
    seg2_lo = min(lo for f, lo, _ in meta["files"] if "seg=2" in f)
    chunk = 1500
    # the fixture: chunk boundaries fall inside journal files, and one
    # chunk holds rows of both segments
    assert any(lo < b <= hi for b in range(chunk, N, chunk)
               for _, lo, hi in meta["files"])
    assert seg2_lo % chunk != 0
    ranges = ((0, chunk - 1),
              (seg2_lo // chunk * chunk, (seg2_lo // chunk + 1) * chunk - 1))
    for jd in (journal_dir, flat_dir):
        files = journal_metadata(jd, spark)["files"]
        offsets = {f: pq.read_table(f, columns=["offset"]).column(0)
                   .to_pylist() for f, _, _ in files}
        for lo, hi in ranges:
            df = read_journal_range(spark, jd, lo, hi, files, full.schema)
            want = {f for f, offs in offsets.items()
                    if any(lo <= o <= hi for o in offs)}
            got = {os.path.realpath(p.removeprefix("file:"))
                   for p in df.inputFiles()}
            assert got == {os.path.realpath(f) for f in want}
            assert len(want) < len(offsets)
            assert df.columns == full.columns  # seg=1-only chunk has `mode`
            where = full.where(F.col("offset").between(lo, hi))
            assert sorted(map(tuple, df.collect()), key=repr) == sorted(
                map(tuple, where.collect()), key=repr)

    loc = str(tmp_path / "lake_pruned_chunks")
    res = replay_journal(spark, journal_dir, loc, chunk_events=chunk)
    assert res["batches"] == -(-N // chunk)
    assert_table_matches_oracle(SnapshotTable(spark, loc).read(), journal_pdf)
