"""Physical-plan guardrails (SURVEY §7: enforce no-per-row-Python + pushdown
+ broadcast with plan checks, the Spark analog of the reference's codegen
assertions)."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushes_filter_and_prunes_columns(spark):
    from activedata_etl_spark.plans.queries import q01_summary_agg

    df = q01_summary_agg(spark, SF)
    explained = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in explained
    # projection pruned to the referenced columns only
    assert "l_partkey" not in explained.split("ReadSchema")[-1]


def test_q03_uses_broadcast_joins(spark):
    from activedata_etl_spark.plans.queries import q03_join_enrich

    plan = _plan(q03_join_enrich(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cdc_merge_plan_has_no_python_udf(spark, tmp_path):
    """The CDC hot path must stay JVM-side: no row-at-a-time Python
    (BatchEvalPython) and no Arrow UDF (ArrowEvalPython) in the merge plan."""
    from activedata_etl_spark.functions.normalize import (
        finalize_records,
        normalize_keys,
    )
    from activedata_etl_spark.journal import journal_df
    from activedata_etl_spark.operators.lww import lww_reduce

    j = normalize_keys(journal_df(spark, 512))
    reduced = finalize_records(lww_reduce(j))
    plan = _plan(reduced)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_lww_reduce_aggregates_narrow_version_only(spark):
    """agg+join-back variant: the winner agg must be over the NARROW version
    struct (HashAggregate, map-side combined), never over the wide payload.
    The join-back broadcasts at THIS scale; at 10^8 keys the winner set
    exceeds any broadcast threshold and AQE correctly falls back to a
    shuffled join — so accept either physical join."""
    from activedata_etl_spark.journal import journal_df
    from activedata_etl_spark.operators.lww import lww_reduce

    plan = _plan(lww_reduce(journal_df(spark, 512)))
    assert "partial_max(struct(commit_seq" in plan  # map-side combine
    assert "max(struct" in plan and "content" not in plan.split("functions=[max")[1][:120]
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    # winner-set dedup is pushed down to a pre-shuffle group limit
    assert "WindowGroupLimit" in plan


def test_lww_structmax_single_shuffle(spark):
    """structmax (the CDC default): ONE aggregate over max(struct(version,
    payload)) with map-side partial aggregation and exactly one exchange —
    no join-back, no second scan."""
    from activedata_etl_spark.journal import journal_df
    from activedata_etl_spark.operators.lww import lww_reduce_structmax

    plan = _plan(lww_reduce_structmax(journal_df(spark, 512)))
    assert "partial_max(struct(commit_seq" in plan   # map-side combine
    assert plan.count("Exchange") - plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan


def test_streaming_tail_processing_time(spark, tmp_path):
    """processingTime tail: new journal files appended while the stream runs
    are picked up and merged (the SQS-tail analog)."""
    import time

    from pyspark.sql import functions as F2

    from activedata_etl_spark.journal import journal_df, write_journal
    from activedata_etl_spark.lake.table import SnapshotTable
    from activedata_etl_spark.streaming.replay import stream_journal

    jd = str(tmp_path / "j")
    write_journal(spark, 512, jd, v2_fraction=0.0)

    loc = str(tmp_path / "lake_tail")
    q = stream_journal(
        spark, jd, loc, str(tmp_path / "ckpt"),
        max_files_per_trigger=4, available_now=False,
    )
    try:
        table = SnapshotTable(spark, loc)
        deadline = time.time() + 90
        while time.time() < deadline and table.last_batch_id() < 0:
            time.sleep(1)
        assert table.last_batch_id() >= 0
        n1 = table.read().count()
        assert n1 > 0

        # append a new journal segment while tailing
        more = journal_df(spark, 1024, seed=99).where(F2.col("offset") >= 512)
        more.write.mode("overwrite").parquet(jd + "/seg=3")
        v_before = table.current_version()
        deadline = time.time() + 90
        while time.time() < deadline and table.current_version() == v_before:
            time.sleep(1)
        assert table.current_version() > v_before
    finally:
        q.stop()


def _stages_writing(spark, fn, records: int) -> int:
    """Completed stages of the jobs ``fn`` runs (counted through a job
    group) whose shuffle write holds exactly ``records`` rows."""
    sc = spark.sparkContext
    sc.setJobGroup("stages_writing", "stages_writing")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed async
    stages = {s for j in sc.statusTracker().getJobIdsForGroup("stages_writing")
              for s in sc.statusTracker().getJobInfo(j).stageIds}
    # past spark.ui.retainedStages the status store evicts SKIPPED stages
    # first, so a skipped stage of an early job in ``fn`` may be gone by
    # now; a skipped stage wrote nothing, so it counts as not writing
    done = []
    for s in stages:
        try:
            done.append(jsc.statusStore().lastStageAttempt(s))
        except Py4JJavaError as e:
            if "NoSuchElementException" not in str(e.java_exception):
                raise
    return sum(1 for d in done if d.status().toString() == "COMPLETE"
               and d.shuffleWriteRecords() == records)


def test_jaccard_and_minhash_reuse_exchanges(spark):
    """The exploded-shingle exchange runs ONCE per query: every later step
    reads it.  A ReusedExchange node somewhere in the plan does not show
    this: column pruning gives differently-pruned consumers exchanges of
    their own (the all-postings count filter ran the explode 3-4 times), so
    count the completed stages whose shuffle write is the exploded
    (doc, shingle) rows.  The minhash band exchange is planned once and
    reused by both self-join sides."""
    from activedata_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        shingled,
    )

    df = spark.read.parquet(f"{SF}/documents.parquet")
    exploded = shingled(df, "doc_id", "text").select(F.sum(F.size("sh"))).first()[0]
    out = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5,
                              max_shingle_freq=100)
    assert _stages_writing(spark, out.collect, exploded) == 1

    # AQE inserts ReusedExchange at runtime, and only into the plan that is
    # actually executed — collect() THIS frame (count() builds its own plan)
    out2 = minhash_lsh_pairs(df, "doc_id", "text", k=16, bands=4,
                             threshold=0.5, verify_exact=False)
    out2.collect()
    assert "ReusedExchange" in _plan(out2)


def test_stateful_running_counts(spark, tmp_path):
    """applyInPandasWithState: per-key counters accumulate ACROSS
    micro-batches (state survives the batch boundary) and the final totals
    match a plain batch aggregation."""
    from pyspark.sql import functions as F2

    from activedata_etl_spark.journal import read_journal, write_journal
    from activedata_etl_spark.streaming.stateful import keyed_running_counts

    jd = str(tmp_path / "j")
    write_journal(spark, 1024, jd, v2_fraction=0.0)
    static = read_journal(spark, jd)

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 2)   # force several micro-batches
        .parquet(jd + "/*")
    )
    q = (
        keyed_running_counts(stream)
        .writeStream.format("memory").queryName("running")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)

    # update mode emits a row per key per batch; the LAST (max) value per
    # key is the cumulative total
    got = {
        r["repo"]: (r["n_events"], r["n_deletes"], r["max_commit_seq"])
        for r in spark.sql(
            "SELECT repo, max(n_events) n_events, max(n_deletes) n_deletes, "
            "max(max_commit_seq) max_commit_seq FROM running GROUP BY repo"
        ).collect()
    }
    expect = {
        r["repo"]: (r["n"], r["d"], r["m"])
        for r in static.groupBy("repo").agg(
            F2.count(F2.lit(1)).alias("n"),
            F2.sum((F2.col("op") == "delete").cast("long")).alias("d"),
            F2.max("commit_seq").alias("m"),
        ).collect()
    }
    assert got == expect


def test_stateful_counts_all_null_seq_emits_null(spark, tmp_path):
    """A key that has never carried a sequence number must emit
    max_commit_seq = NULL, not a fabricated 0 indistinguishable from a real
    seq 0 downstream."""
    from activedata_etl_spark.streaming.stateful import keyed_running_counts

    src = str(tmp_path / "nullseq")
    spark.createDataFrame(
        [("r_null", "insert", None), ("r_null", "delete", None),
         ("r_real", "insert", 0)],
        "repo string, op string, commit_seq long",
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "repo string, op string, commit_seq long"
    ).parquet(src)
    q = (
        keyed_running_counts(stream)
        .writeStream.format("memory").queryName("nullseq")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_nullseq"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = {r["repo"]: (r["n_events"], r["max_commit_seq"])
           for r in spark.sql("SELECT * FROM nullseq").collect()}
    assert got["r_null"] == (2, None)   # no seq seen -> null, not 0
    assert got["r_real"] == (1, 0)      # a REAL seq 0 still shows as 0


def test_windowed_event_counts_watermark(spark, tmp_path):
    """Watermarked tumbling windows over the journal stream: append-mode
    finalized windows match the batch groupBy, and the plan carries the
    watermark + stateful aggregate."""
    from activedata_etl_spark.journal import write_journal
    from activedata_etl_spark.streaming.stateful import windowed_event_counts
    from pyspark.sql import functions as F

    jd = str(tmp_path / "journal")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_journal(spark, 1024, jd)
    static = spark.read.parquet(jd)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 4).parquet(jd + "/*")
    )
    q = (
        windowed_event_counts(stream, window_duration="1 hour",
                              watermark_delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(timeout=300)
    got = spark.read.parquet(out)
    # append mode only emits windows the watermark has CLOSED — every
    # emitted row must exactly match its batch-computed twin
    want = (
        static.groupBy(F.window("ts", "1 hour").alias("win"), "repo")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum((F.col("op") == "delete").cast("long")).alias("n_deletes"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "repo", "n_events", "n_deletes")
    )
    assert got.count() > 0
    # the file stream delivers mtime-ordered micro-batches, so events can
    # arrive after their window was finalized — the watermark DROPS those
    # (monitoring semantics; the lake path quarantines instead).  Every
    # emitted window therefore counts at most its batch-computed twin, and
    # at least one event.
    j = got.alias("g").join(
        want.alias("w"), ["window_start", "window_end", "repo"], "left"
    )
    bad = j.where(
        F.col("w.n_events").isNull()
        | (F.col("g.n_events") > F.col("w.n_events"))
        | (F.col("g.n_events") < 1)
    )
    assert bad.count() == 0


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Native session windows (gap-merged, watermark-finalized): every
    append-mode emitted session must match its batch-computed twin
    (same expression run as a plain aggregate), modulo watermark drops."""
    from activedata_etl_spark.journal import write_journal
    from activedata_etl_spark.streaming.stateful import session_event_stats
    from pyspark.sql import functions as F

    jd = str(tmp_path / "journal_sw")
    out = str(tmp_path / "out_sw")
    ck = str(tmp_path / "ck_sw")
    write_journal(spark, 1024, jd)
    static = spark.read.parquet(jd)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 4).parquet(jd + "/*")
    )
    q = (
        session_event_stats(stream, gap="5 minutes",
                            watermark_delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(timeout=300)
    got = spark.read.parquet(out)
    assert got.count() > 0
    # batch twin: the SAME operator body on the static frame
    want = session_event_stats(static, gap="5 minutes")
    # file-stream arrival order can split/finalize sessions early (late
    # events dropped by the watermark): an emitted session must be equal
    # to, or a sub-range of, exactly one batch session of its key
    j = got.alias("g").join(
        want.alias("w"),
        (F.col("g.repo") == F.col("w.repo"))
        & (F.col("g.session_start") >= F.col("w.session_start"))
        & (F.col("g.session_end") <= F.col("w.session_end")),
        "left",
    )
    bad = j.where(
        F.col("w.n_events").isNull()
        | (F.col("g.n_events") > F.col("w.n_events"))
        | (F.col("g.n_events") < 1)
    ).count()
    assert bad == 0
    # at least one emitted session must EQUAL its batch twin exactly
    # (availableNow stops the watermark at end-of-stream, so trailing
    # sessions legitimately stay open in state and never emit — emitted
    # count is a strict subset, not half the batch total)
    exact = got.join(
        want, ["session_start", "session_end", "repo",
               "n_events", "max_commit_seq"]
    ).count()
    assert exact >= 1


def test_query_mix_second_round_compiles_nothing(spark, tmp_path,
                                                 codegen_compiles):
    """The five query_mix queries (``perfbench/querymix.py``'s ``QUERIES``)
    run twice over fresh copies of its data sample compile no generated
    class the second time: the session's codegen cache
    (``spark.sql.codegen.cache.maxEntries``, ``session.tuning_conf``) holds
    the mix's classes.  It runs the whole mix because one query would pass
    under Spark's default too: that cache holds 100 entries split over 4
    LRU segments of 25, which one query's classes fit, while the mix's ~80
    overfill a segment, and a repeated cycle through an overfull LRU
    segment misses on every entry (57 recompiles in the second round).
    The bound is not 0 because ``dedup_embedding`` now and then plans
    differently over identical data and compiles 2 new classes, as it does
    under an unbounded cache too."""
    import os
    import shutil

    from activedata_etl_spark.plans.queries import SPARK_QUERIES

    data = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "data")
    mix = ["dedup_ngram_jaccard", "dedup_embedding_lsh", "dedup_embedding",
           "typed_json_props", "q34_sessionize"]

    def run_mix(copy: str) -> None:
        # a fresh directory: the registry memoizes pair frames per data dir
        shutil.copytree(data, copy)
        for name in mix:
            SPARK_QUERIES[name](spark, copy).toPandas()

    codegen_compiles(lambda: run_mix(str(tmp_path / "first")))
    assert codegen_compiles(lambda: run_mix(str(tmp_path / "second"))) <= 4
