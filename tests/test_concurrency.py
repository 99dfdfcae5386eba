"""Optimistic-concurrency commits: CAS, rebase, orphan hygiene.

The reference assumes single-writer indexes guarded by ES versioning
(`vendor/pyLibrary/env/elasticsearch.py:328-331` external_gte); a lake table
needs the Iceberg-style equivalent — version-file CAS with rebase-and-retry —
so an ingest loop and a background compactor can run concurrently without
lost updates.
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from activedata_etl_spark.lake.merge import apply_batch
from activedata_etl_spark.lake.table import CommitConflictError, SnapshotTable
from activedata_etl_spark.streaming.replay import ensure_table

COLS_V1 = (
    "partition int, offset long, commit_seq long, op string, repo string, "
    "path string, commit string, lang string, content string, ts timestamp"
)


def _norm(df):
    from activedata_etl_spark.functions.normalize import normalize_batch

    return normalize_batch(df)


def _mk(spark, loc, rows=None, n_buckets=4):
    rows = rows if rows is not None else [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, f"V{i}", None)
        for i in range(8)
    ]
    b0 = spark.createDataFrame(rows, COLS_V1)
    t = ensure_table(spark, loc, b0.schema, n_buckets=n_buckets)
    apply_batch(t, _norm(b0), 0)
    return t


def test_cas_second_writer_conflicts(spark, tmp_path):
    """Two commits targeting the same version: exactly one wins; the loser
    raises and the table state is the winner's."""
    t = _mk(spark, str(tmp_path / "lake"))
    snap = t.snapshot()
    a = dict(snap, version=snap["version"] + 1, parent=snap["version"])
    a["properties"] = dict(snap.get("properties", {}), writer="A")
    b = dict(snap, version=snap["version"] + 1, parent=snap["version"])
    b["properties"] = dict(snap.get("properties", {}), writer="B")
    t._commit_snapshot(a)
    with pytest.raises(CommitConflictError):
        t._commit_snapshot(b)
    assert t.snapshot()["properties"]["writer"] == "A"
    # no tmp leftovers from the losing CAS
    assert not [f for f in os.listdir(t.meta_dir) if ".tmp." in f]


def test_current_version_survives_stale_pointer(spark, tmp_path):
    """The _current pointer is a cache: a lagging value must not hide a
    CAS-committed newer snapshot."""
    t = _mk(spark, str(tmp_path / "lake"))
    v = t.current_version()
    with open(os.path.join(t.meta_dir, "_current"), "w") as f:
        f.write("0")  # simulate losing the pointer-swap race
    assert t.current_version() == v
    assert t.snapshot()["version"] == v


def test_compact_rebases_over_concurrent_delta(spark, tmp_path):
    """A delta appended between compaction's read and its commit must
    survive: the compactor folds its pinned snapshot and keeps the newer
    delta in the chain (LWW merge is order-independent)."""
    loc = str(tmp_path / "lake")
    t = _mk(spark, loc)
    # delta mode: tiny batch against the existing base
    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f1.py", "d" * 12, None, "NEW1", None)],
        COLS_V1,
    )
    s = apply_batch(t, _norm(b1), 1, merge_mode="delta")
    assert s["merge_mode"] == "delta"

    orig = SnapshotTable._commit_snapshot
    fired = {"n": 0}

    def racing_commit(self, snap):
        # before compaction's FIRST commit attempt, land a concurrent
        # delta batch through a second handle (same table directory)
        if fired["n"] == 0:
            fired["n"] = 1
            other = SnapshotTable(spark, loc)
            b2 = spark.createDataFrame(
                [(0, 200, 200, "update", "r", "f2.py", "e" * 12, None,
                  "NEW2", None)],
                COLS_V1,
            )
            apply_batch(other, _norm(b2), 2, merge_mode="delta")
        return orig(self, snap)

    try:
        SnapshotTable._commit_snapshot = racing_commit
        v = t.compact()
    finally:
        SnapshotTable._commit_snapshot = orig
    assert fired["n"] == 1
    snap = t.snapshot()
    assert snap["version"] == v
    # the concurrent batch's delta survived the compaction commit
    assert any(snap.get("delta_dirs", {}).values())
    got = {r["path"]: r["content"] for r in t.read().collect()}
    assert got["f1.py"] == "NEW1"   # folded by the compactor
    assert got["f2.py"] == "NEW2"   # concurrent write not lost
    assert got["f0.py"] == "V0"


def test_compact_skips_bucket_rebased_by_cow(spark, tmp_path):
    """If a concurrent writer REWROTE a bucket's base (CoW) between the
    compactor's read and commit, the compactor must not clobber it — that
    bucket keeps the winner's pointers."""
    loc = str(tmp_path / "lake")
    t = _mk(spark, loc)
    orig = SnapshotTable._commit_snapshot
    fired = {"n": 0}

    def racing_commit(self, snap):
        if fired["n"] == 0:
            fired["n"] = 1
            other = SnapshotTable(spark, loc)
            b2 = spark.createDataFrame(
                [(0, 300, 300, "update", "r", "f3.py", "f" * 12, None,
                  "COW3", None)],
                COLS_V1,
            )
            apply_batch(other, _norm(b2), 3, merge_mode="cow")
        return orig(self, snap)

    try:
        SnapshotTable._commit_snapshot = racing_commit
        t.compact()
    finally:
        SnapshotTable._commit_snapshot = orig
    got = {r["path"]: r["content"] for r in t.read().collect()}
    assert got["f3.py"] == "COW3"  # the CoW rewrite won its bucket
    assert len(got) == 8


def test_threaded_metadata_commits_all_land(spark, tmp_path):
    """N racing metadata committers (analyze-style) all eventually land
    through retry; versions are distinct and data is intact."""
    t = _mk(spark, str(tmp_path / "lake"))
    start = t.current_version()
    barrier = threading.Barrier(4)
    errs: list[Exception] = []

    def worker(tag):
        try:
            barrier.wait(timeout=30)
            for _ in range(50):
                snap = t.snapshot()
                new = dict(snap, version=snap["version"] + 1,
                           parent=snap["version"])
                new["properties"] = dict(
                    snap.get("properties", {}), **{f"w{tag}": True}
                )
                try:
                    t._commit_snapshot(new)
                    return
                except CommitConflictError:
                    time.sleep(0.01)
            raise RuntimeError("never landed")
        except Exception as e:  # surfaced below
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for th in ts:
        th.start()
    for th in ts:
        th.join(60)
    assert not errs
    assert t.current_version() == start + 4
    props = t.snapshot()["properties"]
    assert all(props.get(f"w{i}") for i in range(4))
    assert t.read().count() == 8


def _contents(t):
    return {r["path"]: r["content"] for r in t.read().collect()}


# op -> (setup, op, check): each op commits once through the CAS loop
RACED_OPS = {
    "update_where": (
        None,
        lambda t: t.update_where("path = 'f0.py'", {"content": "'PATCHED'"}),
        lambda t, out: _contents(t)["f0.py"] == "PATCHED"
        and _contents(t)["f1.py"] == "V1",
    ),
    "delete_where": (
        None,
        lambda t: t.delete_where("path = 'f0.py'"),
        lambda t, out: set(_contents(t)) == {f"f{i}.py" for i in range(1, 8)},
    ),
    "tag": (
        None,
        lambda t: t.tag("golden"),
        lambda t, out: t.tags() == {"golden": out},
    ),
    "drop_tag": (
        lambda t: t.tag("golden"),
        lambda t: t.drop_tag("golden"),
        lambda t, out: t.tags() == {},
    ),
    "rollback": (
        None,
        lambda t: t.rollback(0),
        lambda t, out: t.read().count() == 0
        and t.snapshot()["properties"]["rolled_back_to"] == 0,
    ),
    "set_properties": (
        None,
        lambda t: t.set_properties(cursor=7),
        lambda t, out: t.snapshot()["properties"]["cursor"] == 7,
    ),
    "analyze": (
        None,
        lambda t: t.analyze(columns=["repo"]),
        lambda t, out: t.snapshot()["properties"]["column_stats"]["rows"] == 8,
    ),
}


@pytest.mark.parametrize("op", list(RACED_OPS))
def test_update_where_retries_through_conflict(spark, tmp_path, op):
    """Each op loses its first CAS to a commit that steals its version
    target, then lands on top of it: its effect is present and the stolen
    commit stays in the history as its parent."""
    setup, run, check = RACED_OPS[op]
    loc = str(tmp_path / "lake")
    t = _mk(spark, loc)
    if setup is not None:
        setup(t)
    orig = SnapshotTable._commit_snapshot
    fired = {"n": 0}

    def racing_commit(self, snap):
        if fired["n"] == 0:
            fired["n"] = 1
            other = SnapshotTable(spark, loc)
            sn = other.snapshot()
            bump = dict(sn, version=sn["version"] + 1, parent=sn["version"])
            bump["properties"] = dict(sn["properties"], stolen=True)
            orig(other, bump)  # steal the version target
            fired["v"] = bump["version"]
        return orig(self, snap)

    try:
        SnapshotTable._commit_snapshot = racing_commit
        out = run(t)
    finally:
        SnapshotTable._commit_snapshot = orig
    assert fired["n"] == 1
    assert check(t, out)
    assert t.snapshot()["parent"] == fired["v"]
    assert t.snapshot(fired["v"])["properties"]["stolen"] is True


def test_commits_have_one_cas_loop():
    """Every snapshot commit in the package goes through
    ``SnapshotTable._cas_commit`` (``create`` writes the first snapshot
    directly), and no function takes a ``max_retries`` knob: the attempt
    limit is the one ``COMMIT_ATTEMPTS`` constant."""
    import ast
    import pathlib

    import activedata_etl_spark

    users: set[str] = set()
    knobs: list[str] = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                if "max_retries" in [x.arg for x in
                                     a.posonlyargs + a.args + a.kwonlyargs]:
                    knobs.append(f"{path.name}:{child.name}")
                inner = scope + [child.name]
            elif isinstance(child, ast.ClassDef):
                inner = scope + [child.name]
            elif (isinstance(child, ast.Attribute)
                  and child.attr == "_commit_snapshot"):
                users.add(".".join(scope))
            visit(child, inner)

    root = pathlib.Path(activedata_etl_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text(), str(path)), [])
    assert users == {"SnapshotTable._cas_commit", "SnapshotTable.create"}
    assert knobs == []


def test_expire_grace_protects_inflight_dirs(spark, tmp_path):
    """A data dir no snapshot references is either a conflict loser or an
    in-flight write: expire_snapshots must leave it alone until it ages
    past the grace period."""
    t = _mk(spark, str(tmp_path / "lake"))
    fresh = os.path.join(t.location, "data", "vX-inflight")
    os.makedirs(fresh)
    removed = t.expire_snapshots(keep_last=1, orphan_grace_s=3600)
    assert "data/vX-inflight" not in removed
    assert os.path.isdir(fresh)
    old = time.time() - 7200
    os.utime(fresh, (old, old))
    removed = t.expire_snapshots(keep_last=1, orphan_grace_s=3600)
    assert "data/vX-inflight" in removed
    assert not os.path.isdir(fresh)


def test_replay_batch_retries_on_maintenance_conflict(spark, tmp_path):
    """replay_journal re-applies a batch whose commit lost the CAS to a
    concurrent maintenance commit — no lost events, fence intact."""
    from activedata_etl_spark.journal import write_journal
    from activedata_etl_spark.streaming.replay import replay_journal

    jd = str(tmp_path / "journal")
    loc = str(tmp_path / "lake")
    write_journal(spark, 1024, jd)
    r1 = replay_journal(spark, jd, loc, chunk_events=512, max_batches=1)
    assert r1["batches"] == 1
    t = SnapshotTable(spark, loc)

    orig = SnapshotTable._commit_snapshot
    fired = {"n": 0}

    def racing_commit(self, snap):
        # first ingest commit attempt of the SECOND replay call loses to a
        # maintenance (analyze-style) commit
        if fired["n"] == 0 and snap.get("batch_id", -1) >= 1:
            fired["n"] = 1
            other = SnapshotTable(spark, loc)
            sn = other.snapshot()
            orig(other, dict(sn, version=sn["version"] + 1,
                             parent=sn["version"]))
        return orig(self, snap)

    try:
        SnapshotTable._commit_snapshot = racing_commit
        r2 = replay_journal(spark, jd, loc, chunk_events=512)
    finally:
        SnapshotTable._commit_snapshot = orig
    assert fired["n"] == 1
    assert r2["batches"] == r1["batches"] == 1 or r2["batches"] >= 1
    # converged: full re-replay applies nothing further
    r3 = replay_journal(spark, jd, loc, chunk_events=512)
    assert r3["batches"] == 0
    assert t.read().where(F.col("content").isNotNull()).count() > 0


def _opened_buckets(monkeypatch, t) -> set[str]:
    """Record the bucket ids whose files ``t``'s lookups open (through
    ``SnapshotTable.bucket_files``, the lookup's file listing), and check
    that each listed (dir, bucket) pair has files of that bucket only."""
    opened: set[str] = set()
    orig = SnapshotTable.bucket_files

    def spy(self, snap, buckets):
        out = orig(self, snap, buckets)
        for (rel, b), files in out.items():
            assert files and all(
                f"/{rel}/__bucket={b}/" in f for f in files)
            opened.add(b)
        return out

    monkeypatch.setattr(SnapshotTable, "bucket_files", spy)
    return opened


def _buckets_of(spark, t, keys) -> set[str]:
    df = spark.createDataFrame([(k["repo"], k["path"]) for k in keys],
                               "repo string, path string")
    return {str(r[0]) for r in t.bucket_of(df).select("__bucket").collect()}


def test_lookup_prunes_to_one_bucket(spark, tmp_path, monkeypatch):
    """Point lookup reads only the key's bucket and equals the full-scan
    filter — including through a live delta chain."""
    loc = str(tmp_path / "lake")
    t = _mk(spark, loc, n_buckets=8)
    upd = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f5.py", "d" * 12, None, "NEWER", None)],
        COLS_V1,
    )
    apply_batch(t, _norm(upd), 1, merge_mode="delta")
    got = t.lookup({"repo": "r", "path": "f5.py"}).collect()
    assert len(got) == 1 and got[0]["content"] == "NEWER"
    # pruning: the lookup opens files of one bucket id, the key's
    key = {"repo": "r", "path": "f0.py"}
    opened = _opened_buckets(monkeypatch, t)
    df = t.lookup(key)
    assert opened == _buckets_of(spark, t, [key])
    assert len(opened) == 1
    full = t.read().where((F.col("repo") == "r") & (F.col("path") == "f0.py"))
    assert [r.asDict() for r in df.collect()] == [
        r.asDict() for r in full.collect()
    ]
    with pytest.raises(ValueError):
        t.lookup({"repo": "r"})  # partial key cannot hash-prune


def test_compact_sort_by_orders_within_buckets(spark, tmp_path):
    """compact(sort_by) writes rows ordered within each bucket file and
    records the order in snapshot properties."""
    import pyarrow.parquet as pq

    loc = str(tmp_path / "lake")
    t = _mk(spark, loc, n_buckets=2)
    v = t.compact(sort_by=["path"])
    snap = t.snapshot()
    assert snap["version"] == v
    assert snap["properties"]["sort_order"] == ["path"]
    for rel in t.dirs_of_version(v):
        root = os.path.join(t.location, rel)
        for bdir in os.listdir(root):
            if not bdir.startswith("__bucket="):
                continue
            bpath = os.path.join(root, bdir)
            for fn in os.listdir(bpath):
                if not fn.endswith(".parquet"):
                    continue
                paths = pq.read_table(
                    os.path.join(bpath, fn), columns=["path"]
                )["path"].to_pylist()
                assert paths == sorted(paths)


def test_jx_queries_lake_table(spark, tmp_path):
    """jx-lite reads the CDC lake directly: {"from": "lake:<path>"} runs
    the query over the converged table (with @version time travel)."""
    from activedata_etl_spark.plans.jx import run

    loc = str(tmp_path / "lake")
    t = _mk(spark, loc)
    v1 = t.snapshot()["version"]
    upd = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f0.py", "d" * 12, None, "NEW", None)],
        COLS_V1,
    )
    apply_batch(t, _norm(upd), 1)
    out = run(
        {"from": f"lake:{loc}", "select": ["path", "content"],
         "where": {"eq": {"path": "f0.py"}}, "limit": None},
        {},
    ).collect()
    assert [(r["path"], r["content"]) for r in out] == [("f0.py", "NEW")]
    old = run(
        {"from": f"lake:{loc}@{v1}", "select": ["content"],
         "where": {"eq": {"path": "f0.py"}}, "limit": None},
        {},
    ).collect()
    assert [r["content"] for r in old] == ["V0"]
    agg = run(
        {"from": f"lake:{loc}",
         "select": [{"name": "n", "aggregate": "count"}]},
        {},
    ).collect()
    assert agg[0]["n"] == 8
    with pytest.raises(KeyError):
        run({"from": "nope", "select": ["x"]}, {})


def test_jx_lake_query_uses_zone_map_pruning(spark, tmp_path):
    """A jx where over a lake: source is mined for conjunctive scalar
    predicates and pushed into read(filters=...): after ANALYZE, the scan
    opens only buckets the zone maps cannot exclude — same rows, fewer
    buckets (asserted via prunable_buckets)."""
    from activedata_etl_spark.plans.jx import _zone_filters, run

    # extraction: AND-reachable eq/range/cmp/between on plain columns only
    assert _zone_filters({"and": [
        {"eq": {"repo": "r", "deep.path": "x"}},
        {"gt": {"commit_seq": 3}},
        {"range": {"offset": {"gte": 1, "lt": 9}}},
        {"between": {"offset": [2, 5]}},
        {"or": [{"eq": {"repo": "q"}}]},   # disjunction: not extractable
        {"eq": {"flag": True}},            # bool literal: skipped
    ]}) == [("repo", "==", "r"), ("commit_seq", ">", 3),
            ("offset", ">=", 1), ("offset", "<", 9),
            ("offset", ">=", 2), ("offset", "<=", 5)]

    loc = str(tmp_path / "lake_jx_zone")
    rows = [
        (0, i, i, "insert", "r", f"f{i}.py", "c" * 12, None, f"V{i}", None)
        for i in range(32)
    ]
    t = _mk(spark, loc, rows=rows, n_buckets=8)
    t.analyze()
    # commit_seq=31 is the global max: every bucket except the one holding
    # it has max < 31, so the zone maps exclude exactly 7 of 8 buckets
    q = {"from": f"lake:{loc}", "select": ["path", "content"],
         "where": {"gte": {"commit_seq": 31}}, "limit": None}
    assert [(r["path"], r["content"]) for r in run(q, {}).collect()] \
        == [("f31.py", "V31")]
    assert len(t.prunable_buckets(_zone_filters(q["where"]))) == 1


def test_repair_range_restores_lost_rows_without_moving_fence(spark, tmp_path):
    """repair_range re-applies committed chunks through the versioned merge:
    physically lost rows come back, the batch fence and watermarks stay
    untouched, and a follow-up replay still applies nothing."""
    from activedata_etl_spark.journal import expected_state_df, read_journal
    from activedata_etl_spark.streaming.replay import repair_range, replay_journal

    jd = str(tmp_path / "journal")
    loc = str(tmp_path / "lake")
    from activedata_etl_spark.journal import write_journal

    write_journal(spark, 1024, jd)
    replay_journal(spark, jd, loc, chunk_events=512)
    t = SnapshotTable(spark, loc)
    fence = t.last_batch_id()
    wm = t.watermarks()
    cols = ["repo", "path", "commit", "content"]
    expected = expected_state_df(read_journal(spark, jd)).select(*cols)

    # simulate data loss: physically remove some rows bypassing the journal
    lost = t.delete_where("pmod(offset, 3) = 0")
    assert lost > 0
    assert t.read().select(*cols).exceptAll(expected).count() == 0
    assert expected.exceptAll(t.read().select(*cols)).count() > 0  # holes

    r = repair_range(spark, jd, loc, (0, 1023), chunk_events=512)
    assert r["events_reapplied"] > 0
    assert r["fence_moved"] is False
    assert t.last_batch_id() == fence
    assert t.watermarks() == wm
    got = t.read().select(*cols)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0  # converged again

    # the fence still holds: catch-up replay has nothing to do
    r2 = replay_journal(spark, jd, loc, chunk_events=512)
    assert r2["batches"] == 0


def test_chaos_ingest_with_concurrent_maintenance(spark, tmp_path):
    """The realistic concurrent deployment: one ingest loop replaying the
    journal while a compactor and an analyzer hammer the same table from
    other threads.  Everything must land (retries absorb the CAS races) and
    the final table must byte-converge to the journal's expected state."""
    from activedata_etl_spark.journal import expected_state_df, read_journal, write_journal
    from activedata_etl_spark.streaming.replay import replay_journal

    jd = str(tmp_path / "journal")
    loc = str(tmp_path / "lake")
    write_journal(spark, 4096, jd)

    stop = threading.Event()
    errs: list[Exception] = []

    def ingest():
        try:
            # small chunks + delta mode maximize commit frequency (more
            # chances to race the maintenance threads)
            replay_journal(spark, jd, loc, chunk_events=256,
                           merge_mode="delta", max_deltas_per_bucket=4)
        except Exception as e:
            errs.append(e)
        finally:
            stop.set()

    def compactor():
        try:
            while not stop.wait(0.4):
                if SnapshotTable.exists(spark, loc):
                    SnapshotTable(spark, loc).compact()
        except Exception as e:
            errs.append(e)

    def analyzer():
        try:
            while not stop.wait(0.3):
                if SnapshotTable.exists(spark, loc):
                    SnapshotTable(spark, loc).analyze(columns=["repo"])
        except Exception as e:
            errs.append(e)

    ts = [threading.Thread(target=f) for f in (ingest, compactor, analyzer)]
    for th in ts:
        th.start()
    for th in ts:
        th.join(600)
    assert not errs, errs
    t = SnapshotTable(spark, loc)
    cols = ["repo", "path", "commit", "content"]
    exp = expected_state_df(read_journal(spark, jd)).select(*cols)
    got = t.read().select(*cols)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # fence completed the whole journal; a re-replay is a no-op
    r = replay_journal(spark, jd, loc, chunk_events=256)
    assert r["batches"] == 0


def test_lookup_many_prunes_to_key_buckets(spark, tmp_path, monkeypatch):
    """Batched point lookup reads only the union of the keys' buckets and
    equals the full-scan semi-join."""
    t = _mk(spark, str(tmp_path / "lake"), n_buckets=8)
    want = [{"repo": "r", "path": "f1.py"}, {"repo": "r", "path": "f6.py"},
            {"repo": "r", "path": "nope.py"}]
    opened = _opened_buckets(monkeypatch, t)
    got = t.lookup_many(want)
    rows = {r["path"]: r["content"] for r in got.collect()}
    assert rows == {"f1.py": "V1", "f6.py": "V6"}
    # three keys (one nonexistent — it still names a bucket) -> at most 3
    # of the table's 8 buckets are opened, all of them the keys' buckets
    assert opened and opened <= _buckets_of(spark, t, want)
    assert len(opened) <= 3
    with pytest.raises(ValueError):
        t.lookup_many([{"repo": "r"}])
    with pytest.raises(ValueError):
        t.lookup_many([])


def test_history_lists_retained_snapshots(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "lake"))
    t.analyze(columns=["repo"])
    h = t.history()
    assert [x["version"] for x in h] == sorted(
        (x["version"] for x in h), reverse=True
    )
    assert h[0]["version"] == t.current_version()
    assert h[0]["base_rows"] == 8
    assert h[-1]["batch_id"] == -1  # the create() snapshot
    # expiry shrinks history to the retained tail
    t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert [x["version"] for x in t.history()] == [t.current_version()]


def test_query_cli_runs_jx_over_lake(spark, tmp_path, capsys):
    """The `query` CLI subcommand: a jx query over a lake: source and over
    a registered parquet frame, through run_formatted."""
    import json as _json

    from activedata_etl_spark.main import main

    loc = str(tmp_path / "lake")
    _mk(spark, loc)
    main(["query", "--jx", _json.dumps({
        "from": f"lake:{loc}",
        "where": {"eq": {"path": "f3.py"}},
        "select": ["path", "content"],
        "limit": 10,
    })])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["data"] == [{"path": "f3.py", "content": "V3"}]

    pq = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, v string"
    ).write.parquet(pq)
    main(["query", "--frame", f"docs={pq}", "--format", "table",
          "--jx", _json.dumps({"from": "docs",
                               "select": [{"name": "n", "aggregate": "count"}]})])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["header"] == ["n"] and out["data"] == [[2]]


def test_jx_queries_change_feed(spark, tmp_path):
    """{"from": "lake:<path>@v1..v2"} resolves to the change data feed, so
    jx aggregates compose over _change_type like any other column."""
    from activedata_etl_spark.plans.jx import run

    loc = str(tmp_path / "lake_cdfjx")
    t = _mk(spark, loc)
    v1 = t.current_version()
    b1 = spark.createDataFrame(
        [(0, 100, 100, "update", "r", "f0.py", "d" * 12, None, "NEW", None),
         (0, 101, 101, "delete", "r", "f1.py", "c" * 12, None, None, None)],
        COLS_V1,
    )
    apply_batch(t, _norm(b1), 1)
    v2 = t.current_version()

    out = run(
        {"from": f"lake:{loc}@{v1}..{v2}",
         "groupby": "_change_type",
         "select": [{"name": "n", "aggregate": "count"}],
         "sort": "_change_type", "limit": None},
        {},
    ).collect()
    assert [(r["_change_type"], r["n"]) for r in out] == [
        ("delete", 1), ("update", 1)]
    # open-ended ..: to current version
    paths = run(
        {"from": f"lake:{loc}@{v1}..", "select": ["path", "_change_type"],
         "where": {"eq": {"_change_type": "delete"}}, "limit": None},
        {},
    ).collect()
    assert [r["path"] for r in paths] == ["f1.py"]


def test_export_changes_concurrent_with_ingest(spark, tmp_path):
    """Exports read PINNED snapshot versions, so a racing ingest commit can
    never tear an export's range; the cursor's CAS commit survives racing
    writers, and the union of all exported ranges covers every data commit
    exactly once."""
    import glob as _glob
    import json as _json

    from activedata_etl_spark.sinks.es_bulk import export_changes

    loc = str(tmp_path / "lake_esrace")
    t = _mk(spark, loc)
    out = str(tmp_path / "esrace_out")

    stop = threading.Event()
    applied = []
    errs = []

    def ingest():
        bid = 1
        while not stop.is_set() and bid <= 6:
            b = spark.createDataFrame(
                [(0, 100 + bid, 100 + bid, "update", "r",
                  f"f{bid % 8}.py", "d" * 12, None, f"W{bid}", None)],
                COLS_V1,
            )
            try:
                apply_batch(t, _norm(b), bid)
                applied.append(bid)
            except Exception as e:  # pragma: no cover - fail loud below
                errs.append(e)
                return
            bid += 1

    th = threading.Thread(target=ingest)
    th.start()
    stats = []
    try:
        for _ in range(12):
            stats.append(export_changes(t, out))
    finally:
        stop.set()
        th.join()
    assert not errs, errs
    # one final export drains whatever landed after the loop
    stats.append(export_changes(t, out))

    ranges = [(s["from_version"], s["to_version"]) for s in stats
              if s["out"] is not None]
    # ranges are contiguous, non-overlapping, and cover all data commits
    for (a0, a1), (b0, b1) in zip(ranges, ranges[1:]):
        assert a1 == b0, ranges
    assert ranges and ranges[0][0] == 0
    # every ingested update appears in exactly one exported range
    seen = []
    for d in sorted(_glob.glob(f"{out}/v*_to_*/part-*")):
        with open(d) as fh:
            for ln in fh.read().splitlines():
                if ln.startswith('{"index"') or '"content"' in ln:
                    if '"content"' in ln:
                        seen.append(_json.loads(ln).get("content"))
    for bid in applied:
        assert seen.count(f"W{bid}") == 1, (bid, seen)
