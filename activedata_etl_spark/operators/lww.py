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
                           struct is a DeclarativeAggregate, so Spark runs
                           it with map-side partial aggregation (a hot key
                           collapses to ONE row per map task before the
                           shuffle).  A struct buffer is not a fixed-width
                           hash-aggregate buffer, so on Spark 4.1 the
                           partial and the final aggregate each plan as a
                           SortAggregate behind a Sort.  The version columns
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

``lww_reduce_arrow`` is the same reduce over a driver-side Arrow table, for
the handful of rows a point lookup reads (``SnapshotTable.lookup_many``).

The independent pandas oracle (``tests/oracle.py``) pins the semantics all
three Spark strategies must match.

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

from activedata_etl_spark.lake.schema_evolution import sql_ident

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

    Physical shape: (1) ``max(struct(version))`` per key with map-side
    partial aggregation (a SortAggregate on Spark 4.1, like every struct
    max; a wide-payload ``max_by`` measured ~20x slower per row); (2) join
    the winning version back to fetch the payload; (3) a row_number over
    the winner set
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
    broken deterministically by payload bytes".  Plain ``max`` is a
    DeclarativeAggregate with map-side partial aggregation: one scan, one
    shuffle of one row per key per map task, no join-back.  Its struct
    buffer is not fixed-width, so on Spark 4.1 it plans as SortAggregate,
    the partial and the final aggregate each behind a Sort (``explain()``
    of ``SnapshotTable.read`` on a delta-carrying table shows it).  Falls
    back to ``lww_reduce`` when a payload column is not orderable
    (MapType).
    """
    keys = keys or DEFAULT_KEYS
    version_cols = version_cols or DEFAULT_VERSION
    fields = df.schema.fields
    if not all(_orderable(f.dataType) for f in fields):
        return lww_reduce(df, keys, version_cols)
    names = [f.name for f in fields]
    # note: a numeric xxhash64(keys) grouping prefix was measured and
    # REJECTED — cheaper sort compares, but the extra column grew the
    # shuffle ~20% and randomizing row order hurt both the final sort and
    # parquet compression (output +15%); net throughput loss
    out = df.groupBy(*map(sql_ident, keys)).agg(
        F.expr(f"max({_winner_struct(names, keys, version_cols)}) AS __w"))
    return _unpack_winner(out, names, keys)


def _winner_struct(names, keys, version_cols) -> str:
    """SQL of the struct ``max`` picks the winner by: the version columns
    first, then the rest of the payload in column order."""
    payload = [c for c in names if c not in keys and c not in version_cols]
    return "struct(" + ", ".join(
        map(sql_ident, list(version_cols) + payload)) + ")"


def _unpack_winner(out: DataFrame, names, keys) -> DataFrame:
    """The winner struct ``__w`` of ``out`` back to the input columns
    ``names``, in their order, as one projection."""
    return out.selectExpr(*[
        sql_ident(c) if c in keys else f"__w.{sql_ident(c)} AS {sql_ident(c)}"
        for c in names
    ])


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
    and no window: two aggregates, both map-side combinable.  (The
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
    names = df.columns
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*map(sql_ident, keys), "__salt")
        .agg(F.expr(f"max({_winner_struct(names, keys, version_cols)}) AS __w"))
    )
    out = phase1.groupBy(*map(sql_ident, keys)).agg(F.max("__w").alias("__w"))
    return _unpack_winner(out, names, keys)


def _order_key(value, dt):
    """Python sort key that orders ``value`` of Spark type ``dt`` as
    Spark's interpreted ordering does, i.e. as ``max(struct(...))`` does:
    None lowest, NaN above every double, ``-0.0 == 0.0``, strings by
    UTF-8 bytes, arrays element-wise then by length, structs field-wise.
    Values are as Arrow's ``to_pylist`` gives them (a struct is a dict)."""
    from pyspark.sql import types as T

    if value is None:
        return (0,)
    if isinstance(dt, (T.FloatType, T.DoubleType)) and value != value:
        return (2,)
    if isinstance(dt, T.StringType):
        return (1, value.encode("utf-8"))
    if isinstance(dt, T.ArrayType):
        return (1, tuple(_order_key(v, dt.elementType) for v in value))
    if isinstance(dt, T.StructType):
        return (1, tuple(_order_key(value[f.name], f.dataType)
                         for f in dt.fields))
    return (1, value)


def lww_reduce_arrow(table, schema, keys: list[str], version_cols: list[str]):
    """``lww_reduce_structmax`` over a pyarrow ``table`` of Spark schema
    ``schema``: per key the row with the largest version tuple wins.  Only
    rows that tie on the full version need structmax's payload tie-break;
    that runs over just those rows with :func:`_order_key`, version
    columns first, then the payload in column order.  A table with an
    unorderable (MapType) column keeps any one tied row, as ``lww_reduce``
    does.  Row-at-a-time Python: meant for the few rows a point lookup
    reads, not for a table."""
    import pyarrow as pa

    types = {f.name: f.dataType for f in schema.fields}

    def ordered(cols):
        vals = [table.column(c).to_pylist() for c in cols]
        return [tuple(_order_key(v, types[c]) for c, v in zip(cols, row))
                for row in zip(*vals)]

    best: dict[tuple, tuple[tuple, list[int]]] = {}
    for i, (k, v) in enumerate(zip(ordered(keys), ordered(version_cols))):
        cur = best.get(k)
        if cur is None or v > cur[0]:
            best[k] = (v, [i])
        elif v == cur[0]:
            cur[1].append(i)
    tiebreak = all(_orderable(t) for t in types.values())
    payload = list(version_cols) + [
        c for c in table.column_names
        if c not in keys and c not in version_cols]
    winners = []
    for _, rows in best.values():
        if len(rows) > 1 and tiebreak:
            tied = table.take(rows).select(payload).to_pylist()
            rows = [max(zip(rows, tied), key=lambda p: tuple(
                _order_key(p[1][c], types[c]) for c in payload))[0]]
        winners.append(rows[0])
    return table.take(pa.array(sorted(winners), pa.int64()))
