"""Last-writer-wins dedup — the CDC reduce at the heart of the engine.

Semantics come from the reference's external-version upsert: documents carry
``_id`` + ``version`` and ES keeps the highest version
(`vendor/pyLibrary/env/elasticsearch.py:328-331,374-380`); idempotent block
re-writes merge by key keeping the newest (`activedata_etl/sinks/
s3_bucket.py:92-118`).  Here: per (repo, path) keep the event with the
largest (commit_seq, offset).

Three physical strategies, same semantics:

- ``lww_reduce_structmax`` ONE scan, ONE shuffle: ``max(struct(version...,
                           payload...))`` — plain Max over an orderable
                           struct is a DeclarativeAggregate, so Spark runs a
                           true HashAggregate with map-side partial
                           aggregation (a hot key collapses to ONE row per
                           map task before the shuffle).  The version columns
                           lead the struct so ordering is by version first;
                           payload columns follow, giving a DETERMINISTIC
                           tiebreak for distinct events that share a version.
                           The CDC path's default (measured faster and
                           better-scaling than the agg+join-back).
- ``lww_reduce``           groupBy max(struct(version)) + winner join-back —
                           two passes over the batch; the fallback
                           structmax takes when a payload column is not
                           orderable (MapType).
- ``lww_reduce_salted``    explicit two-phase structmax over a salt column
                           (per (key, salt), then per key — associative, so
                           result == structmax); useful where partial agg is
                           unavailable, and the skew-evidence path for the
                           bench's with/without-salting comparison.

The independent pandas oracle (``tests/oracle.py``) pins the semantics all
three must match.

Property (tested): the result is independent of input partitioning and of
batch split, because (commit_seq, offset) is a total order per key.  For
``lww_reduce`` (and ``lww_reduce_salted``'s unorderable-payload fallback)
the join-back tiebreak orders only by version — callers must guarantee the
version is a total order per key (true for the journal: commit_seq is
globally unique); ``lww_reduce_structmax`` and the salted two-phase
structmax are deterministic even without that guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

DEFAULT_KEYS = ["repo", "path"]
DEFAULT_VERSION = ["commit_seq", "offset"]


def _version_struct(version_cols: list[str]):
    return F.struct(*[F.col(c) for c in version_cols])


def _join_back_winners(df: DataFrame, win: DataFrame, keys: list[str]) -> DataFrame:
    """Null-safe winner join-back: groupBy keeps null-key groups, so the
    payload join must match them too — a plain column-name equi-join drops
    every null-key event (null != null), silently diverging from the
    single-pass strategies that never leave the groupBy."""
    ren = win.select(
        *[F.col(k).alias(f"__wk_{i}") for i, k in enumerate(keys)],
        F.col("__v").alias("__wv"),
    )
    cond = F.col("__v").eqNullSafe(F.col("__wv"))
    for i, k in enumerate(keys):
        cond = cond & F.col(k).eqNullSafe(F.col(f"__wk_{i}"))
    return df.join(ren, cond, "inner").drop(
        *[f"__wk_{i}" for i in range(len(keys))], "__wv"
    )


def lww_reduce(
    df: DataFrame,
    keys: list[str] | None = None,
    version_cols: list[str] | None = None,
) -> DataFrame:
    """One row per key: the one with max (version_cols...), all columns kept.

    Physical shape: (1) scalar ``max(struct(version))`` per key — a true
    HashAggregate with map-side combine (a wide-payload ``max_by`` falls back
    to SortAggregate and measured ~20x slower per row); (2) join the winning
    version back to fetch the payload; (3) a row_number over the winner set
    (≈ one row per key, tiny) collapses exact-duplicate redeliveries, which
    share the same (version, payload) bytes.
    """
    keys = keys or DEFAULT_KEYS
    version_cols = version_cols or DEFAULT_VERSION
    v = _version_struct(version_cols)
    win = df.groupBy(*keys).agg(F.max(v).alias("__v"))
    cand = _join_back_winners(df.withColumn("__v", v), win, keys)
    w = W.partitionBy(*keys).orderBy(F.desc("__v"))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__v", "__rn")
    )


def _orderable(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def lww_reduce_structmax(
    df: DataFrame,
    keys: list[str] | None = None,
    version_cols: list[str] | None = None,
) -> DataFrame:
    """Single-pass LWW: ``max(struct(version..., payload...))`` per key.

    Max over a struct compares fields lexicographically, so leading with the
    version columns makes this exactly "row with the largest version, ties
    broken deterministically by payload bytes".  Unlike ``max_by`` (which
    plans as a SortAggregate) plain ``max`` is a DeclarativeAggregate →
    HashAggregate with map-side combine: one scan, one shuffle of one row
    per key per map task, no join-back.  Falls back to ``lww_reduce`` when a
    payload column is not orderable (MapType).
    """
    keys = keys or DEFAULT_KEYS
    version_cols = version_cols or DEFAULT_VERSION
    payload = [c for c in df.columns if c not in keys]
    if not all(_orderable(f.dataType) for f in df.schema.fields):
        return lww_reduce(df, keys, version_cols)
    ordered = list(version_cols) + [c for c in payload if c not in version_cols]
    # note: a numeric xxhash64(keys) grouping prefix was measured and
    # REJECTED — cheaper sort compares, but the extra column grew the
    # shuffle ~20% and randomizing row order hurt both the final sort and
    # parquet compression (output +15%); net throughput loss
    out = df.groupBy(*keys).agg(
        F.max(F.struct(*[F.col(c) for c in ordered])).alias("__w")
    )
    return out.select(
        *[F.col(c) if c in keys else F.col(f"__w.{c}").alias(c)
          for c in df.columns]
    )


def lww_reduce_salted(
    df: DataFrame,
    keys: list[str] | None = None,
    version_cols: list[str] | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Explicit two-phase skew-spreading LWW: structmax per (key, salt),
    then per key.

    salt = pmod(xxhash64(version cols), B) spreads one hot key over B
    reducers in phase 1; phase 2 sees at most B rows per key.  max(struct)
    is ASSOCIATIVE, so folding the per-salt winners into the per-key winner
    yields exactly ``lww_reduce_structmax``'s result (largest version,
    ties broken deterministically by payload bytes) — with no join-back
    and no window: two hash aggregates, both map-side combinable.  (The
    previous formulation carried only the version through phase 1 and
    joined the payload back — one extra shuffle plus a full re-scan, 29%
    slower in the 4x2 replay bench.)  Spark's partial aggregation already
    gives the spreading effect implicitly for combiner-friendly aggregates;
    the explicit salt stage is the documented pattern for aggregations
    without a combiner and the measured skew path in the bench.  Falls
    back to the version-only + join-back form when a payload column is
    unorderable (MapType).
    """
    keys = keys or DEFAULT_KEYS
    version_cols = version_cols or DEFAULT_VERSION
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in version_cols]), F.lit(salt_buckets)
    )
    if not all(_orderable(f.dataType) for f in df.schema.fields):
        v = _version_struct(version_cols)
        phase1 = (
            df.withColumn("__salt", salt)
            .groupBy(*keys, "__salt").agg(F.max(v).alias("__v"))
        )
        win = phase1.groupBy(*keys).agg(F.max("__v").alias("__v"))
        cand = _join_back_winners(df.withColumn("__v", v), win, keys)
        w = W.partitionBy(*keys).orderBy(F.desc("__v"))
        return (
            cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__v", "__rn")
        )
    payload = [c for c in df.columns if c not in keys]
    ordered = list(version_cols) + [c for c in payload if c not in version_cols]
    ws = F.struct(*[F.col(c) for c in ordered])
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt").agg(F.max(ws).alias("__w"))
    )
    out = phase1.groupBy(*keys).agg(F.max("__w").alias("__w"))
    return out.select(
        *[F.col(c) if c in keys else F.col(f"__w.{c}").alias(c)
          for c in df.columns]
    )
