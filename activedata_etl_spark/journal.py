"""Deterministic synthetic CDC change-event journal.

The reference's ingest stream is a Pulse message queue batched into S3 block
files with per-block offsets (`activedata_etl/pulse_logger.py:31-90`, offsets
from `_meta.count` at :47-49,79) and replayed at-least-once from SQS
(`activedata_etl/etl.py:309-350`).  Change shapes (insert/update/delete of a
repo file record) mirror unified-diff parsing (`vendor/mo_hg/parse.py:85-174`:
'+'/'-' lines, rename, `dev/null` delete).

This module synthesizes that journal *distributively*: every column is a pure
Catalyst expression over ``spark.range(n)`` — seeded, reproducible, no driver
loop, no Python UDF — so the generator itself scales to 10^10 rows.

Event identity & ordering model
-------------------------------
- ``arrival`` a ∈ [0, N) is the delivery position (spark.range id).
- ``commit_seq`` is a *bounded-delay permutation* of arrival (bit-reversal
  within blocks of 16), so older commits can arrive after newer ones —
  the `version_type=external_gte` tolerance of the reference
  (`vendor/pyLibrary/env/elasticsearch.py:374-380`).
- ``partition`` scatters events of one key across journal partitions;
  ``offset`` (= arrival) is unique and monotone within each partition.
- The LWW key is ``(commit_seq, offset)``; commit_seq is globally unique so
  the order is total per (repo, path).
- Skew: ~half of all events hit one hot repo, with a few hot paths inside it.
- At-least-once: a seeded fraction of events is emitted twice (exact
  duplicates, same partition/offset — the re-read-block analog of
  `activedata_etl/sinks/s3_bucket.py:92-118`).
- Schema evolution: events with commit_seq >= v2 threshold carry an extra
  ``mode`` column (written as a second parquet segment with the wider schema),
  exercising the widening/add-column lattice
  (`vendor/pyLibrary/env/elasticsearch.py:1710-1760`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from activedata_etl_spark.lake.schema_evolution import (
    align_to_schema,
    footer_schema,
    read_parquet,
)

# bit-reversal of 4-bit block positions -> bounded-delay (<16) permutation
_BITREV16 = [0, 8, 4, 12, 2, 10, 6, 14, 1, 9, 5, 13, 3, 11, 7, 15]

# extension -> lang map lives in functions.normalize; journal only fixes the
# extension per path id so the same path always keeps the same extension.
_EXTS = [".py", ".js", ".cpp", ".h", ".rs", ".java", ".md", ".json", ".yml", ""]

JOURNAL_COLUMNS = [
    "partition", "offset", "commit_seq", "op",
    "repo", "path", "commit", "lang", "content", "ts",
]


def _h(col, salt: int):
    """Seeded 64-bit hash of a column — the only randomness source."""
    return F.xxhash64(col, F.lit(salt))


def _pmod(col, n: int):
    return F.pmod(col, F.lit(n))


def journal_df(
    spark: SparkSession,
    n_events: int,
    *,
    seed: int = 42,
    n_partitions: int = 8,
    n_repos: int = 20,
    n_paths_per_repo: int | None = None,
    hot_repo_pct: int = 50,
    delete_pct: int = 10,
    dup_pct: int = 3,
    content_max_repeat: int = 20,
    num_spark_partitions: int | None = None,
) -> DataFrame:
    """Return the journal as a DataFrame in *arrival order* (column ``offset``).

    Every value is a deterministic function of (seed, arrival index), so two
    invocations — at any parallelism — produce identical rows.
    """
    if n_paths_per_repo is None:
        # key space scales with journal size (~50 events per key on average),
        # matching the 10^10-events-over-10^8-files shape of the real corpus
        n_paths_per_repo = max(200, n_events // (n_repos * 50))

    rng = spark.range(n_events, numPartitions=num_spark_partitions)
    a = F.col("id")

    # bounded-delay permutation: bit-reverse the low 4 bits within each block
    block = (a / 16).cast("long") * 16
    pos = _pmod(a, 16).cast("int")
    bitrev = F.element_at(F.array(*[F.lit(x) for x in _BITREV16]), pos + 1)
    # full 16-blocks get bit-reversed; a trailing partial block keeps identity
    # order, so commit_seq is always a true permutation of [0, N)
    commit_seq = F.when(block + 16 <= n_events, block + bitrev).otherwise(a)

    e = commit_seq  # logical event id: all attributes derive from it

    hot = _pmod(_h(e, seed + 1), 100) < hot_repo_pct
    repo = F.when(hot, F.lit("repo_hot")).otherwise(
        F.concat(F.lit("repo_"), _pmod(_h(e, seed + 2), n_repos).cast("string"))
    )

    # path id: hot repo concentrates 30% of its traffic on 5 hot paths
    hot_path = hot & (_pmod(_h(e, seed + 3), 10) < 3)
    pid = (
        F.when(hot_path, _pmod(_h(e, seed + 4), 5))
        .otherwise(_pmod(_h(e, seed + 5), n_paths_per_repo))
        .cast("int")
    )
    ext = F.element_at(
        F.array(*[F.lit(x) for x in _EXTS]), _pmod(pid, len(_EXTS)).cast("int") + 1
    )
    path = F.concat(
        F.lit("dir"), _pmod(pid, 13).cast("string"),
        F.lit("/sub"), _pmod(pid, 7).cast("string"),
        F.lit("/file_"), pid.cast("string"), ext,
    )

    commit = F.lower(F.substring(F.lpad(F.hex(_h(e, seed + 6)), 16, "0"), 1, 12))

    op_r = _pmod(_h(e, seed + 7), 100)
    op = (
        F.when(op_r < delete_pct, F.lit("delete"))
        .when(op_r < delete_pct + 45, F.lit("insert"))
        .otherwise(F.lit("update"))
    )

    token = F.lower(F.lpad(F.hex(_h(e, seed + 8)), 16, "0"))
    n_rep = (_pmod(_h(e, seed + 9), content_max_repeat) + 1).cast("int")
    content = F.when(
        op != "delete",
        F.concat(
            repo, F.lit(":"), path, F.lit("@"), commit, F.lit("\n"),
            F.repeat(F.concat(token, F.lit(" ")), n_rep),
        ),
    )

    partition = _pmod(_h(a, seed + 10), n_partitions).cast("int")

    # event time: base + commit_seq seconds; ~0.2% of events are very late
    late = _pmod(_h(e, seed + 11), 1000) < 2
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=(commit_seq - F.when(late, F.lit(90 * 24 * 3600)).otherwise(F.lit(0)))
    )

    df = rng.select(
        partition.alias("partition"),
        a.alias("offset"),
        commit_seq.alias("commit_seq"),
        op.alias("op"),
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        content.alias("content"),
        ts.alias("ts"),
    )

    if dup_pct > 0:
        dups = df.where(_pmod(_h(F.col("offset"), seed + 12), 100) < dup_pct)
        df = df.unionAll(dups)
    return df


def write_journal(
    spark: SparkSession,
    n_events: int,
    out_dir: str,
    *,
    seed: int = 42,
    v2_fraction: float = 0.25,
    **kwargs,
) -> str:
    """Materialize the journal as two parquet segments.

    seg=1: original 10-column schema; seg=2 (last ``v2_fraction`` of commit
    sequence) adds ``mode:string`` — the add-column schema-evolution fixture.
    Files are written sorted by arrival (offset) so chunked replay by offset
    range approximates the delivery order.
    """
    df = journal_df(spark, n_events, seed=seed, **kwargs)
    v2_start = int(n_events * (1.0 - v2_fraction))
    v1 = df.where(F.col("commit_seq") < v2_start)
    v2 = df.where(F.col("commit_seq") >= v2_start).withColumn(
        "mode",
        F.when(F.pmod(F.xxhash64("commit_seq", F.lit(seed + 13)), 10) < 1,
               F.lit("100755")).otherwise(F.lit("100644")),
    )
    # enough files that a chunk scan parallelizes across all cores
    # (file count is the effective split granularity for smallish files)
    n_files = max(8, n_events // 65_536)
    (v1.repartitionByRange(n_files, "offset")
        .sortWithinPartitions("offset")
        .write.mode("overwrite").parquet(f"{out_dir}/seg=1"))
    (v2.repartitionByRange(max(2, n_files // 3), "offset")
        .sortWithinPartitions("offset")
        .write.mode("overwrite").parquet(f"{out_dir}/seg=2"))
    return out_dir


def _journal_roots(journal_dir: str) -> list[str]:
    """The dirs ``read_journal`` reads one scan each from: the ``seg=*``
    segments, or the journal dir itself when it has none."""
    import glob as _glob

    return sorted(_glob.glob(f"{journal_dir.rstrip('/')}/seg=*")) or [journal_dir]


def _read_root(spark: SparkSession, root: str, paths: list[str]) -> DataFrame:
    """Read ``paths`` (the root itself, or files under it) as one scan of a
    journal root.  A segment is the output of one write, so its schema
    comes from one footer (``read_parquet``, no inference job); a journal
    without segments is read as a plain parquet dataset (schema and
    partition columns inferred), with ``basePath`` keeping partition
    discovery relative to the root when only some of its files are read."""
    if os.path.basename(root.rstrip("/")).startswith("seg="):
        return read_parquet(spark, *paths)
    return spark.read.option("basePath", root).parquet(*paths)


def read_journal(spark: SparkSession, journal_dir: str) -> DataFrame:
    """Read all segments, aligning schemas (missing ``mode`` -> null).

    Per-segment reads + unionByName instead of ``mergeSchema`` — the latter
    distributes a footer-merging job over every file on each invocation;
    segment schemas come from one driver-side footer read each (no Spark
    job at all on the happy path; see ``read_parquet``).
    """
    out = None
    for root in _journal_roots(journal_dir):
        df = _read_root(spark, root, [root])
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def journal_schema(spark: SparkSession, journal_dir: str) -> T.StructType:
    """``read_journal(spark, journal_dir).schema`` without building that
    frame.  For ``seg=*`` segments it merges one footer schema per segment
    as ``unionByName(allowMissingColumns=True)`` does: the first segment's
    columns in order, each later segment's new columns appended, every
    field nullable (a file scan reads all fields as nullable).  A journal
    without segments (its schema inference adds partition columns), an
    unreadable footer, or a column whose type differs between segments
    falls back to ``read_journal``."""
    fields: dict[str, T.StructField] = {}
    for root in _journal_roots(journal_dir):
        schema = (footer_schema(root)
                  if os.path.basename(root.rstrip("/")).startswith("seg=")
                  else None)
        if schema is None:
            return read_journal(spark, journal_dir).schema
        for f in schema.fields:
            seen = fields.setdefault(
                f.name, T.StructField(f.name, f.dataType, True, f.metadata))
            if seen.dataType != f.dataType:
                return read_journal(spark, journal_dir).schema
    return T.StructType(list(fields.values()))


def read_journal_range(
    spark: SparkSession, journal_dir: str, lo: int, hi: int, files: list,
    schema: T.StructType,
) -> DataFrame:
    """Journal rows with ``lo <= offset <= hi``, scanning only the files
    whose footer offset range overlaps ``[lo, hi]`` — file skipping by the
    min/max stats kept beside the data.  ``files`` is
    ``journal_metadata``'s ``(path, min_offset, max_offset)`` list (bounds
    None when a row group has no stats: always scanned); ``schema`` is the
    full journal schema (``journal_schema``), which the result is
    aligned to, so a chunk holding only old-segment rows still carries the
    newer segments' columns as nulls.

    The bounds are compared as one-field structs,
    ``struct(offset) >= struct(CAST(lo AS BIGINT) AS offset)``, not with
    ``between``.  Whole-stage codegen inlines a primitive literal into the
    generated Java source, so every chunk's bounds would make new source and
    a fresh Janino compile of each stage; a struct literal is passed to the
    generated class by reference, so the next chunk's plan reuses the
    compiled classes.  The price is Parquet row-group pushdown, which a
    struct comparison does not get; here the file skipping above already
    did that work.  Reads that rely on the pushdown (a journal without
    per-file ranges, ``repair_range``) keep ``between``."""
    hit = [f for f, fmin, fmax in files
           if fmin is None or (fmin <= hi and fmax >= lo)]
    out = None
    for root in _journal_roots(journal_dir):
        mine = [f for f in hit if f.startswith(root.rstrip("/") + os.sep)]
        if mine:
            df = align_to_schema(_read_root(spark, root, mine), schema)
            out = df if out is None else out.unionByName(df)
    if out is None:
        return spark.createDataFrame([], schema)
    return out.where(
        f"struct(`offset`) >= struct(CAST({int(lo)} AS BIGINT) AS `offset`) "
        f"AND struct(`offset`) <= struct(CAST({int(hi)} AS BIGINT) AS `offset`)"
    )


def journal_metadata(
    journal_dir: str, spark: SparkSession | None = None, file_threshold: int = 2000
) -> dict:
    """max offset, and per file its offset range.  Small journals: parquet
    footer stats read driver-side (no Spark job); ``files`` lists
    ``(path, min_offset, max_offset)`` for ``read_journal_range``, with
    None bounds for a file that has a row group without offset stats.
    Past ``file_threshold`` files the serial footer walk stops scaling
    (100k files at 10^10 events), so the max comes from one column-pruned
    distributed agg instead — parquet min/max row-group stats make it a
    metadata-ish scan — and ``files`` is None (chunks scan the whole
    journal)."""
    import glob as _glob

    import pyarrow.parquet as pq

    paths = _glob.glob(f"{journal_dir.rstrip('/')}/**/*.parquet", recursive=True)
    if spark is not None and len(paths) > file_threshold:
        row = read_journal(spark, journal_dir).agg(F.max("offset")).first()
        return {"max_offset": row[0], "files": None}

    max_offset = None
    files = []
    for f in paths:
        md = pq.ParquetFile(f).metadata
        schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
        off_i = schema_names.index("offset")
        fmin = fmax = None
        stats_ok = True
        for rg in range(md.num_row_groups):
            if md.row_group(rg).num_rows == 0:
                continue
            so = md.row_group(rg).column(off_i).statistics
            if so is None or not so.has_min_max:
                stats_ok = False
                continue
            fmin = so.min if fmin is None else min(fmin, so.min)
            fmax = so.max if fmax is None else max(fmax, so.max)
        if fmax is not None:
            max_offset = fmax if max_offset is None else max(max_offset, fmax)
        if not stats_ok:
            files.append((f, None, None))
        elif fmax is not None:
            files.append((f, fmin, fmax))
    return {"max_offset": max_offset, "files": files}


def expected_state_df(journal: DataFrame) -> DataFrame:
    """Spark-side oracle: the converged table a perfectly ordered replay
    produces.  Last writer per (repo, path) by (commit_seq, offset); deletes
    drop the key.  Used for large-scale verification; the *pandas* oracle in
    tests/oracle.py is the independent small-scale referee.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("repo", "path").orderBy(
        F.desc("commit_seq"), F.desc("offset")
    )
    cols = [c for c in journal.columns]
    return (
        journal.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .where(F.col("op") != "delete")
        .drop("__rn", "partition", "offset", "op", "ts")
    )
